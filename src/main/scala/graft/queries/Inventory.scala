package graft.queries

import org.apache.spark.sql.functions._

import graft.core.{Catalog, QueryDef, Tables}
import graft.extract.Extract
import graft.sources.Source

/** The reference's inventory/audit surface (SURVEY §2.1 S1-S3, §2.4 A1-A3,
  * §7.3 minimum slice) over the driver's tables.
  *
  * `STATIC_WIDTHS` mirrors [[Catalog.widthOf]] applied to the (fixed) parquet
  * schemas so oracle SQL can be built without a SparkSession; a ScalaTest
  * spec asserts the two stay in sync.
  */
object Inventory {

  /** Declared row width per table == Catalog.rowWidth(schema). */
  val STATIC_WIDTHS: Map[String, Int] = Map(
    "region" -> 36, "nation" -> 40, "customer" -> 84, "supplier" -> 52,
    "part" -> 116, "orders" -> 96, "lineitem" -> 132, "events" -> 96,
    "documents" -> 112, "embeddings" -> 268)

  private val tableIds: Map[String, Int] =
    Tables.names.zipWithIndex.map { case (n, i) => n -> (1000 + i) }.toMap

  val defs: Seq[QueryDef] = Seq(

    // A2: per-table rowcounts — the work-list census the reference writes to
    // iq_tables.list (migration.py:1699,1714-1722).
    QueryDef(
      "a2_table_rowcounts",
      Tables.names.sorted.map(n => s"SELECT '$n' AS table_name, count(*) AS row_count FROM $n")
        .mkString("", " UNION ALL ", " ORDER BY table_name")) { (s, dir) =>
      Tables.names.sorted.map { n =>
        Tables.load(s, dir, n)
          .agg(count(lit(1)).as("row_count"))
          .select(lit(n).as("table_name"), col("row_count"))
      }.reduce(_.unionByName(_)).orderBy("table_name")
    },

    // §7.3 minimum slice: the central table inventory
    // (migration.py:1682-1728) — qualified name, rowcount, declared-width
    // size estimate, stable table_id.
    QueryDef(
      "inv_table_inventory",
      Tables.names.sorted.map { n =>
        val w = STATIC_WIDTHS(n)
        s"""SELECT 'graft.$n' AS qualified_name, count(*) AS row_count,
           | count(*) * $w AS size_bytes, ${tableIds(n)} AS table_id FROM $n""".stripMargin
      }.mkString("", " UNION ALL ", " ORDER BY qualified_name")) { (s, dir) =>
      import s.implicits._
      Extract.workList(Source.parquet(s, dir))
        .map(w => (s"graft.${w.name}", w.rowCount, w.sizeBytes, w.tableId))
        .toDF("qualified_name", "row_count", "size_bytes", "table_id")
        .orderBy("qualified_name")
    },

    // S3 TVF-style row source: sp_iqdbspace() analog — a computed DataFrame
    // of per-table "dbspace usage" (migration.py:322,558; pre_migration.py:105).
    QueryDef(
      "s3_tvf_dbspace",
      Tables.names.sorted.map { n =>
        val w = STATIC_WIDTHS(n)
        s"""SELECT '$n' AS object_name, 'IQ_MAIN' AS dbspace_name,
           | CAST(ceil(count(*) * $w / 1048576.0) AS BIGINT) AS mb_used FROM $n""".stripMargin
      }.mkString("", " UNION ALL ", " ORDER BY object_name")) { (s, dir) =>
      Tables.names.sorted.map { n =>
        val w = STATIC_WIDTHS(n)
        Tables.load(s, dir, n)
          .agg(count(lit(1)).as("rc"))
          .select(
            lit(n).as("object_name"),
            lit("IQ_MAIN").as("dbspace_name"),
            ceil(col("rc") * w / 1048576.0).cast("long").as("mb_used"))
      }.reduce(_.unionByName(_)).orderBy("object_name")
    },

    // Catalog scan (S1 analog): SYSCOLUMN-shaped relation with widths —
    // ids/widths are schema-derived constants, so the oracle is a VALUES list
    // built from the same STATIC_WIDTHS source of truth.
    QueryDef(
      "s1_catalog_columns",
      "SELECT * FROM (VALUES " +
        Tables.names.sorted.map { n =>
          s"('$n', ${STATIC_WIDTHS(n)}, ${tableIds(n)})"
        }.mkString(", ") +
        ") AS t(table_name, row_width, table_id) ORDER BY table_name") { (s, dir) =>
      import s.implicits._
      Tables.names.sorted.map { n =>
        val w = Catalog.rowWidth(Tables.load(s, dir, n).schema)
        (n, w, tableIds(n))
      }.toDF("table_name", "row_width", "table_id").orderBy("table_name")
    }
  )
}
