package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * These play the role of the IQ user tables being migrated (reference:
  * `/root/reference/Migration/migration.py:1691` inventories user tables from
  * the server catalog; our "server" is Spark over parquet).
  *
  * Scale notes: `spark.read.parquet` is splittable — at 100 TB each table
  * arrives as many row-group-aligned partitions, filters/projections are
  * pushed to the scan, so nothing here caps parallelism.
  */
object Tables {

  /** Every table the driver generates, in dependency-ish order.
    * Note: `documents` and `embeddings` are driver-generated for the
    * pipeline operators (dedup/similarity/text analysis) but absent from
    * TESTDATA.md's table list — they do exist in every sf directory. */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** Table `name` of `sfDir`, with the schema its parquet footers declare
    * (no schema-inference job). */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    read(spark, sfDir, name, Footers.read(spark, path(sfDir, name)).map(_.schema))

  /** Table `name` of `sfDir` read with `schema`; `None` lets Spark infer it
    * (a layout [[Footers.read]] leaves to Spark's listing). */
  def read(spark: SparkSession, sfDir: String, name: String,
      schema: Option[StructType]): DataFrame = {
    // events.parquet has shipped with two encodings of `ts` across driver
    // testdata generations: TIMESTAMP(NANOS) (which Spark 4 rejects unless
    // read as raw longs — `Engine.session` enables that escape hatch) and
    // plain TIMESTAMP_MICROS. Handle both: only rescale if the column
    // actually arrived as a long (integer div — exact, and the same
    // truncation DuckDB's ns→us cast applies). A TIMESTAMP_NTZ column is
    // normalized to TimestampType so downstream comparisons are stable.
    val df = schema.fold(spark.read)(s => spark.read.schema(s)).parquet(path(sfDir, name))
    if (name == "events") {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    } else df
  }

  /** Register all tables as temp views so spark.sql can see them. */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
