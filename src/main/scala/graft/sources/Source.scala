package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.core.{Catalog, Footers, Tables}

/** The server under migration, as premigration and extraction see it: its
  * tables, their schemas, row counts and data, one-number queries and its
  * identifier quote. The reference asks its IQ server all of these through
  * one connection (`SYSTABLE`/`SYSCOLUMN` at `migration.py:1691,1704-1706`,
  * the audit at `pre_migration.py:856-905`); here either executor answers
  * them ([[Source.parquet]] or [[Source.live]]).
  */
abstract class Source(quoteString: String) {
  def tables: Seq[String]
  def schema(table: String): StructType
  def rows(table: String): Long
  def read(table: String): DataFrame
  def count(sql: String): Long
  def quote(id: String): String = quoteString + id.replace(quoteString, quoteString * 2) + quoteString
  lazy val schemas: Seq[StructType] = tables.map(schema)
}

object Source {

  /** Parquet executor: every catalog table of `dir` (the canonical tables
    * and any extra `<name>.parquet`) as a temp view of a forked session, so
    * no view leaks into the caller's session. Each table's footers are read
    * once, here: they give the view its schema and `rows` its count, so
    * listing, counting and sizing start no Spark job. */
  def parquet(spark: SparkSession, dir: String): Source = {
    val session = spark.newSession()
    val names = Catalog.tableMetas(dir).map(_.tableName)
    val footers = names.map(n => n -> Footers.read(session, Tables.path(dir, n))).toMap
    new Source("`") {
      // quoted: an extra file's name need not be a bare identifier
      names.foreach(n => Tables.read(session, dir, n, footers(n).map(_.schema))
        .createOrReplaceTempView(quote(n)))
      def tables = names
      def read(table: String) = session.table(quote(table))
      def schema(table: String) = read(table).schema
      def rows(table: String) = footers(table).fold(read(table).count())(_.rows)
      def count(sql: String) = session.sql(sql).head().getLong(0)
    }
  }

  /** Live executor: `f` sees the server at `url` over one connection. Its
    * tables are the listed names, lower-cased and sorted, and each is
    * referred to bare, so the server folds the case. Schemas come from the
    * JDBC relation and counts from the connection, so listing, counting and
    * sizing start no Spark job; [[Jdbc.readAuto]] reads the data. A JDBC
    * connection is not safe for concurrent statements, so counts from
    * several threads take turns on it. */
  def live[A](spark: SparkSession, url: String)(f: Source => A): A =
    Jdbc.withConnection(url) { conn =>
      // JDBC reports " " when the server does not quote identifiers
      f(new Source(conn.getMetaData.getIdentifierQuoteString.trim) {
        val tables = Jdbc.listTables(conn).map(_.toLowerCase).sorted
        // range-partitioned connections where a key allows: one connection
        // is a funnel a large table does not leave a server through
        def read(table: String) = Jdbc.readAuto(spark, url, table,
          numPartitions = spark.sparkContext.defaultParallelism.min(32))
        def schema(table: String) = Jdbc.read(spark, url, table).schema
        def rows(table: String) = count(s"SELECT COUNT(*) FROM $table")
        def count(sql: String) = conn.synchronized {
          Jdbc.query(conn, sql) { rs => rs.next(); rs.getLong(1) }
        }
      })
    }
}
