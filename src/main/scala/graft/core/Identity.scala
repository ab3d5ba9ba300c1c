package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.LongType

/** Identity/autoincrement surrogate (SURVEY §1.2): the reference detects
  * `SYSCOLUMN."default" IN ('Identity/Autoincrement','autoincrement')`
  * (`/root/reference/Migration/migration.py:1501-1507`) and wraps loads in
  * `identity_insert`. Spark has no identity columns; the engine assigns
  * gap-free ids with `zipWithIndex` — unlike `monotonically_increasing_id`,
  * the ids are dense and start at a known base, at the cost of one extra
  * job to count partition sizes (the documented §7.4 deviation for rowid
  * stability too).
  */
object Identity {

  /** Append a dense identity column. Deterministic given the input's
    * partition order (sort first for full determinism). */
  def assign(df: DataFrame, colName: String, startAt: Long = 1L): DataFrame = {
    val schema = df.schema.add(colName, LongType, nullable = false)
    val rdd = df.rdd.zipWithIndex().map { case (row, idx) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (idx + startAt))
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }
}
