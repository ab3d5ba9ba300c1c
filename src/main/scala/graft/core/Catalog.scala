package graft.core

import org.apache.spark.sql.types._

/** System-catalog mirror: SYSTABLE-shaped table metadata and SYSCOLUMN
  * widths derived deterministically from the data tables' parquet schemas.
  *
  * The reference drives every phase off SAP IQ's catalog (SYS.SYSTABLE ⋈
  * SYSUSER ⋈ SYSIQTAB at `/root/reference/Migration/migration.py:1691`,
  * SYSCOLUMN width sizing at `migration.py:1704-1706`). Our "server" is Spark
  * over parquet, so the catalog is synthesized from schema metadata: stable
  * table_ids from a fixed ordering, per-column byte widths from the Spark
  * type. Footer-only reads — no data scan.
  */
object Catalog {

  /** Deterministic declared byte-width per Spark type (SYSCOLUMN.width
    * analog; strings/binaries get a declared width like IQ's varchar(n)). */
  def widthOf(dt: DataType): Int = dt match {
    case LongType | DoubleType | TimestampType | TimestampNTZType => 8
    case IntegerType | FloatType | DateType => 4
    case StringType => 32
    case BinaryType => 64
    case ArrayType(el, _) => 64 * widthOf(el)
    case _ => 16
  }

  final case class TableMeta(tableId: Int, tableName: String, owner: String)

  def tableMetas: Seq[TableMeta] =
    Tables.names.zipWithIndex.map { case (n, i) => TableMeta(1000 + i, n, "graft") }

  /** Catalog over a concrete data directory: the canonical tables plus any
    * extra `<name>.parquet` present in `sfDir` (alphabetical, ids continuing
    * after the canonical block — deterministic for a given directory). This
    * is what lets a migration run carry user tables beyond the fixed fixture
    * set, e.g. a LOB-columned table, without touching the canonical ids the
    * oracle fixtures pin. Local-path listing: the fixture dirs are local. */
  def tableMetas(sfDir: String): Seq[TableMeta] = {
    val extras = Option(new java.io.File(sfDir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .map(_.getName).filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet"))
      .filterNot(Tables.names.contains).sorted.toSeq
    (Tables.names ++ extras).zipWithIndex
      .map { case (n, i) => TableMeta(1000 + i, n, "graft") }
  }

  /** Declared row width (sum of column widths) per table — computable without
    * Spark for oracle-SQL construction, given a schema lookup. */
  def rowWidth(schema: StructType): Int = schema.fields.map(f => widthOf(f.dataType)).sum
}
