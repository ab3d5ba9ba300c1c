package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator: a Spark implementation plus (when SQL-expressible)
  * an ANSI-SQL oracle that DuckDB runs over the same parquet tables.
  *
  * Contract (driver's correctness gate): result columns are compared by NAME
  * (sorted), so the Spark plan and the oracle SQL must alias every computed
  * column identically; rows are made deterministic by a trailing ORDER BY in
  * both. Operators whose semantics aren't SQL-expressible (driver-side
  * planners, file-format round-trips with side effects) carry `oracle = None`
  * and get a rows-only check plus a dedicated ScalaTest spec.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(oracle))
}
