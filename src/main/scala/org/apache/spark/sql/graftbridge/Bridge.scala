package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Bridge to `Dataset.ofRows` (private[sql]): the sanctioned escape hatch
  * for a library that builds its own LogicalPlan nodes (here: graft's
  * TopKPerKeyNode) and needs them back as a DataFrame. Lives under the
  * spark.sql namespace solely for access to such private helpers; contains
  * no Spark patches. */
object GraftBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column ⇄ catalyst Expression (private[sql] in 4.x behind the
    * ColumnNode indirection) — needed to splice graft's native
    * expressions (e.g. [[graft.functions.DotProduct]]) into Column
    * pipelines. */
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)

  /** `SparkHadoopUtil.newConfiguration` (private[spark]): the Hadoop
    * configuration a SparkContext over `conf` would carry, with no context
    * started. */
  def hadoopConf(conf: org.apache.spark.SparkConf): org.apache.hadoop.conf.Configuration =
    org.apache.spark.deploy.SparkHadoopUtil.newConfiguration(conf)
}

/** Serializable Hadoop Configuration carrier (Configuration itself is not
  * Serializable; Spark's own wrapper is private[spark]) — lets executor-side
  * code (e.g. graft's per-row LOB sink) resolve the DRIVER's FileSystem
  * configuration instead of a default-constructed one that would lose
  * fs.defaultFS / credentials on hdfs:// or object-store paths. */
class SerializableHadoopConf(@transient conf: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  private val inner = new org.apache.spark.util.SerializableConfiguration(conf)
  def value: org.apache.hadoop.conf.Configuration = inner.value
}
