package graft.premigration

import org.apache.spark.sql.types.{ArrayType, BinaryType}

import graft.core.{Catalog, Workers}
import graft.sources.Source

/** Pre-migration audit (SURVEY §3.1): feature checks, each a scalar
  * finding count — the reference sends each check to the source server as
  * one SQL query (`Pre_Migration/pre_migration.py:96-757`,
  * dispatched at `:856-905`). Each check is stated once: a data check is one
  * portable `SELECT COUNT(*)` text that either [[Source]] executor runs
  * unchanged; the catalog checks read the resolved schemas and row counts.
  */
object Checks {

  final case class Check(name: String, description: String, count: Source => Long)

  /** A data check: one `SELECT COUNT(*)` text over the source's quote. Table
    * names stay bare (each server resolves them by its own case rules);
    * columns are quoted, as Spark's JDBC writer creates them case-preserved. */
  private def sql(name: String, description: String)(text: (String => String) => String) =
    Check(name, description, src => src.count(text(src.quote)))

  /** Data-quality / compatibility checks over the migrated tables. */
  val all: Seq[Check] = Seq(
    sql("orders_without_lines", "orders having no lineitems (dangling FK)")(q =>
      "SELECT COUNT(*) FROM orders o WHERE NOT EXISTS (SELECT 1 FROM lineitem l " +
        s"WHERE l.${q("l_orderkey")} = o.${q("o_orderkey")})"),
    sql("customers_without_orders", "customers with no orders")(q =>
      "SELECT COUNT(*) FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o " +
        s"WHERE o.${q("o_custkey")} = c.${q("c_custkey")})"),
    sql("negative_balances", "customer accounts in the red")(q =>
      s"SELECT COUNT(*) FROM customer WHERE ${q("c_acctbal")} < 0"),
    sql("empty_documents", "documents with no text")(q =>
      s"SELECT COUNT(*) FROM documents WHERE LENGTH(${q("text")}) = 0"),
    Check("empty_tables", "tables with zero rows (extraction short-circuit)",
      src => src.tables.count(src.rows(_) == 0).toLong),
    Check("wide_row_tables", "tables whose declared row width exceeds 128 bytes",
      src => src.schemas.count(Catalog.rowWidth(_) > 128).toLong),
    Check("lob_like_columns", "columns needing the LOB extract path (binary/array)",
      src => src.schemas.flatMap(_.fields)
        .count(f => f.dataType.isInstanceOf[ArrayType] || f.dataType == BinaryType).toLong),
    sql("duplicate_orderkeys", "orders with duplicated primary key")(q =>
      s"SELECT COUNT(*) FROM (SELECT ${q("o_orderkey")} FROM orders " +
        s"GROUP BY ${q("o_orderkey")} HAVING COUNT(*) > 1) d"),
    sql("future_dates", "events timestamped beyond the extraction window")(q =>
      s"SELECT COUNT(*) FROM events WHERE ${q("ts")} > CAST('2030-01-01 00:00:00' AS TIMESTAMP)"))

  final case class Finding(checkName: String, findingCount: Long, actionRequired: Boolean)

  /** Every check's finding on `src`, sorted by check name. The checks run
    * concurrently, each on its own thread, so their Spark jobs overlap; a
    * source that can answer one question at a time serializes them itself.
    * The first check that failed is rethrown as itself. */
  def findings(src: Source): Seq[Finding] = {
    val outcomes = Workers.run(all, all.size)(_.count(src))
    Workers.firstFailure(outcomes).foreach(e => throw e)
    all.zip(outcomes).map { case (c, n) => Finding(c.name, n.get, n.get > 0) }
      .sortBy(_.checkName)
  }
}
