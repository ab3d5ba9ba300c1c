package graft.premigration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, StructType}

import graft.core.{Catalog, Tables}

/** Pre-migration audit (SURVEY §3.1): a sequence of feature checks, each
  * producing a scalar finding count, unioned into one findings relation —
  * mirroring `/root/reference/Pre_Migration/pre_migration.py:856-905`'s
  * dispatch over ~21 checks appending `(feature, comment)` tuples.
  *
  * Each check is a single aggregate job; the union is a tiny DataFrame.
  */
object Checks {

  /** The data directory under audit. `schemas` resolves the schema of every
    * table the catalog lists for the directory — the canonical tables and
    * any extra `<name>.parquet` — once per audit, for every check that
    * needs it. */
  final class Source(val spark: SparkSession, val dir: String) {
    def load(name: String): DataFrame = Tables.load(spark, dir, name)
    lazy val schemas: Seq[StructType] =
      Catalog.tableMetas(dir).map(t => load(t.tableName).schema)
  }

  final case class Check(name: String, description: String,
      count: Source => DataFrame)

  private def scalar(src: Source, n: Long): DataFrame = {
    import src.spark.implicits._
    Seq(n).toDF("n")
  }

  /** Data-quality / compatibility checks over the migrated tables. */
  val all: Seq[Check] = Seq(
    Check("orders_without_lines", "orders having no lineitems (dangling FK)",
      src => src.load("orders")
        .join(src.load("lineitem"),
          col("o_orderkey") === col("l_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n"))),
    Check("customers_without_orders", "customers with no orders",
      src => src.load("customer")
        .join(src.load("orders"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n"))),
    Check("negative_balances", "customer accounts in the red",
      src => src.load("customer")
        .filter(col("c_acctbal") < 0).agg(count(lit(1)).as("n"))),
    Check("empty_documents", "documents with no text",
      src => src.load("documents")
        .filter(length(col("text")) === 0).agg(count(lit(1)).as("n"))),
    Check("empty_tables", "tables with zero rows (extraction short-circuit)",
      src => Catalog.tableInventory(src.spark, src.dir)
        .filter(col("row_count") === 0).agg(count(lit(1)).as("n"))),
    Check("wide_row_tables", "tables whose declared row width exceeds 128 bytes",
      src => scalar(src, src.schemas.count(Catalog.rowWidth(_) > 128).toLong)),
    Check("lob_like_columns", "columns needing the LOB extract path (binary/array)",
      src => scalar(src, src.schemas.map(_.fields.count(f => f.dataType match {
        case _: ArrayType | BinaryType => true
        case _ => false
      })).sum.toLong)),
    Check("duplicate_orderkeys", "orders with duplicated primary key",
      src => src.load("orders")
        .groupBy("o_orderkey").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).agg(count(lit(1)).as("n"))),
    Check("future_dates", "events timestamped beyond the extraction window",
      src => src.load("events")
        .filter(col("ts") > lit("2030-01-01").cast("timestamp"))
        .agg(count(lit(1)).as("n"))))

  /** The findings relation: (check_name, finding_count, action_required). */
  def findings(spark: SparkSession, sfDir: String): DataFrame = {
    val src = new Source(spark, sfDir)
    all.map { c =>
      c.count(src)
        .select(
          lit(c.name).as("check_name"),
          col("n").cast("long").as("finding_count"),
          (col("n") > 0).as("action_required"))
    }.reduce(_.unionByName(_)).orderBy("check_name")
  }
}
