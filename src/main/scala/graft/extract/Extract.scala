package graft.extract

import com.fasterxml.jackson.annotation.{JsonInclude, JsonProperty}
import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.ChecksumException
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Catalog, Ctl, Json, Workers}
import graft.sources.Source

/** Extraction phase: planner + executors (SURVEY §2.1 S6-S11, §2.6 O3-O4,
  * §4 physical policy).
  *
  * The reference plans extraction driver-side — LPT-balances tables across
  * MPX nodes with a min-heap (`/root/reference/Migration/migration.py:
  * 1661-1677`), packs size-capped batches (`migration.py:1758-1784`),
  * short-circuits empty tables (`migration.py:1921-1931`), picks the file
  * format per table (`migration.py:2136-2208`) — then lets the server write
  * files in parallel. Our executors are Spark writers; the planner stays
  * driver-side on the collected (catalog-sized) work list, which is correct
  * at any scale: the work list is one row per TABLE, not per data row.
  */
object Extract {

  final case class WorkItem(name: String, rowCount: Long, sizeBytes: Long, tableId: Int)

  /** The reference's central inventory (`migration.py:1682-1728`), one item
    * per table of `src`, sorted by name: row count, declared-width size
    * (rows × [[Catalog.rowWidth]], the `SYSCOLUMN` `sum(width)` sizing) and
    * a table id stable for a given table list (1000 + its listing index). */
  def workList(src: Source): Seq[WorkItem] =
    src.tables.zipWithIndex.map { case (t, i) =>
      val rows = src.rows(t)
      WorkItem(t, rows, rows * Catalog.rowWidth(src.schema(t)), 1000 + i)
    }.sortBy(_.name)

  sealed trait Format
  case object GzipText extends Format
  case object Binary extends Format

  /** Longest processing time first: size descending, ties by name. */
  def lptOrder(items: Seq[WorkItem]): Seq[WorkItem] = items.sortBy(i => (-i.sizeBytes, i.name))

  /** LPT (longest-processing-time) greedy assignment over `n` nodes:
    * take tables in [[lptOrder]], repeatedly give the next one to the
    * least-loaded node (migration.py:1656-1677's heapq). Deterministic: ties
    * broken by node index. */
  def lptAssign(items: Seq[WorkItem], n: Int): Map[String, Int] = {
    require(n > 0)
    // dequeue must yield the LEAST-loaded node: PriorityQueue pops the max
    // of its ordering, so reverse the natural (load, nodeIdx) order.
    val heap = scala.collection.mutable.PriorityQueue
      .empty[(Long, Int)](Ordering.by[(Long, Int), (Long, Int)](identity).reverse)
    (0 until n).foreach(i => heap.enqueue((0L, i)))
    lptOrder(items).map { it =>
      val (load, node) = heap.dequeue()
      heap.enqueue((load + it.sizeBytes, node))
      it.name -> node
    }.toMap
  }

  /** Size-capped batch packing (migration.py:1758-1784): ascending by size,
    * greedy fill to `capBytes`; items individually over the cap spill to the
    * no-extraction list (the reference's no_extraction.list behavior).
    * Returns (batches, spilled). Partition property: batches ⊎ spilled ==
    * input, each batch ≤ cap. */
  def batch(items: Seq[WorkItem], capBytes: Long): (Seq[Seq[WorkItem]], Seq[WorkItem]) = {
    val (fit, spill) = items.partition(_.sizeBytes <= capBytes)
    val sorted = fit.sortBy(i => (i.sizeBytes, i.name))
    val batches = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.ArrayBuffer[WorkItem]]
    var cur = scala.collection.mutable.ArrayBuffer.empty[WorkItem]
    var curBytes = 0L
    sorted.foreach { it =>
      if (curBytes + it.sizeBytes > capBytes && cur.nonEmpty) {
        batches += cur; cur = scala.collection.mutable.ArrayBuffer.empty; curBytes = 0L
      }
      cur += it; curBytes += it.sizeBytes
    }
    if (cur.nonEmpty) batches += cur
    (batches.map(_.toSeq).toSeq, spill)
  }

  /** Format choice (migration.py:2136-2208): gzip text, with parquet as
    * the binary interchange for columns CSV can't carry (arrays, maps,
    * structs, binaries) — the analog of the reference's LOB branch. */
  def formatFor(schema: org.apache.spark.sql.types.StructType): Format = {
    import org.apache.spark.sql.types._
    val complex = schema.fields.exists(f => f.dataType match {
      case _: ArrayType | _: MapType | _: StructType | BinaryType => true
      case _ => false
    })
    if (complex) Binary else GzipText
  }

  /** Row count observed DURING the write (single input scan). The old
    * `df.count()` + write pair read every input row twice — at 100 TB that
    * doubles extraction cost. `Observation` rides the write job itself
    * (exact under task retries, unlike a bare accumulator tap) and blocks
    * only until that job finishes. At most 8 files per table, like the
    * reference's Temp_Extract_Name1..8 (migration.py:2382-2396): the scan's
    * partitions are coalesced, never shuffled. */
  private def writeCounted(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = org.apache.spark.sql.Observation()
    write(df.observe(obs, count(lit(1)).as("rows")).coalesce(8))
    obs.get("rows").asInstanceOf[Long]
  }

  /** Binary-format extract (parquet) for tables with non-text-able columns. */
  def extractParquet(df: DataFrame, outDir: String, table: String = ""): Long = {
    val cnt = writeCounted(df)(
      _.write.mode(SaveMode.Overwrite).parquet(outDir))
    writeManifest(outDir, cnt, "parquet",
      df.sparkSession.sparkContext.hadoopConfiguration, df.schema.toDDL,
      table = table)
    cnt
  }

  /** S6: gzip CSV extract of one table directory, with a JSON manifest
    * (our replacement for the reference's `extractinfo`,
    * migration.py:1445-1458). */
  def extractGzipCsv(df: DataFrame, outDir: String, table: String = ""): Long = {
    val cnt = writeCounted(df)(
      _.write.mode(SaveMode.Overwrite).options(GzipCsvWriteOptions).csv(outDir))
    writeManifest(outDir, cnt, "gzip_csv",
      df.sparkSession.sparkContext.hadoopConfiguration, df.schema.toDDL,
      table = table)
    cnt
  }

  /** One extract file as the manifest lists it. */
  final case class ManifestFile(name: String, bytes: Long)

  /** S11 + O5: per-extract manifest with a completeness sentinel — replaces
    * the reference's `extractinfo` token scraping (migration.py:1445-1458)
    * and its last-line sentinel check (migration.py:1301-1310).
    *
    * `table` pins the manifest to ITS table: resume keys extract dirs by
    * positional table id, so an id remap (table set changed between runs
    * against one out dir) must not silently attribute this extract — and
    * its recorded row count — to a different table. `lobFiles` records the
    * per-LOB-column file census so the load verify covers the LOB plane,
    * not just the scalar row count. Both are omitted from the file when
    * unset, so the on-disk form is
    * `{"table":…,"lob_files":{…},"rows":…,"format":…,"schema":…,"files":[…],"complete":true}`. */
  final case class ExtractManifest(
      table: Option[String],
      @JsonProperty("lob_files") @JsonInclude(JsonInclude.Include.NON_EMPTY)
      @JsonDeserialize(keyAs = classOf[Integer], contentAs = classOf[java.lang.Long])
      lobFiles: Map[Int, Long] = Map.empty,
      rows: Long,
      format: String,
      schema: String,
      files: Seq[ManifestFile],
      complete: Boolean)

  private def manifestPath(outDir: String): String = outDir + ".manifest.json"

  /** The sibling dir holding LOB column `colId`'s cells, one file each. */
  private def lobDir(outDir: String, colId: Int): String = s"$outDir.lob$colId"

  /** An entry of an extract root and the table id it belongs to: the
    * table's dir `<id>`, its [[manifestPath]], its [[lobDir]]s, and the
    * Hadoop checksum sibling (`.<name>.crc`) of each. */
  private val RootEntry = """\.?(\d+)(?:\.manifest\.json|\.lob\d+)?(?:\.crc)?""".r

  /** Delete every entry of the extract root `root` that belongs to a table
    * id not in `ids`. A changed table list or id rule leaves such extracts
    * behind, and a transfer of the root would upload them with the rest.
    * Entries that follow no part of the extract layout are kept. */
  def dropStale(conf: Configuration, root: String, ids: Set[Int]): Unit = {
    val dir = new org.apache.hadoop.fs.Path(root)
    val fs = dir.getFileSystem(conf)
    if (fs.exists(dir)) fs.listStatus(dir).map(_.getPath).foreach { p =>
      p.getName match {
        case RootEntry(id) if !ids.contains(id.toInt) => fs.delete(p, true)
        case _ =>
      }
    }
  }

  /** Write `outDir`'s manifest. Listing and write go through the path's
    * Hadoop FileSystem so the manifest lands beside extracts on
    * hdfs:///object-store dirs, not just file://. The manifest is a sibling
    * file, not inside the dir: underscore-prefixed files are invisible to
    * Spark readers, and a non-underscore file inside the directory would
    * pollute the data scan. */
  def writeManifest(outDir: String, rows: Long, format: String,
      conf: Configuration = new Configuration(),
      schemaDdl: String = "", table: String = "",
      lobFiles: Map[Int, Long] = Map.empty): Unit = {
    val dirPath = new org.apache.hadoop.fs.Path(outDir)
    val files = dirPath.getFileSystem(conf).listStatus(dirPath)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
      .map(s => ManifestFile(s.getPath.getName, s.getLen)).toSeq
    val m = ExtractManifest(Option(table).filter(_.nonEmpty),
      scala.collection.immutable.TreeMap(lobFiles.toSeq: _*), rows, format,
      schemaDdl, files, complete = true)
    Ctl.write(conf, manifestPath(outDir), Json.write(m))
  }

  /** Read `outDir`'s manifest through the path's Hadoop FileSystem — no
    * Spark job. A missing, truncated or unparseable manifest, or one whose
    * checksum no longer matches, is `None`: for resume that means
    * "re-extract", never a crash. */
  def readManifest(conf: Configuration, outDir: String): Option[ExtractManifest] = {
    val path = manifestPath(outDir)
    if (!Ctl.exists(conf, path)) None
    else try Option(Json.read[ExtractManifest](Ctl.readLines(conf, path).mkString("\n")))
    catch { case _: JsonProcessingException | _: ChecksumException => None }
  }

  /** LOB-table extract (the reference's forced per-row-file path for
    * LOB-bearing tables, migration.py:2115-2118, 2261-2296): scalar columns
    * go through the quoted-text plane (gzip CSV + manifest, format
    * `lob_csv`), and each BinaryType column becomes one file per non-null
    * cell under the sibling dir `<outDir>.lob<colId>` via [[LobSink]]. The
    * row-id analog is the table's LEAD column (SURVEY §7.4's documented
    * rowid deviation) and must cast to long. The manifest's schema DDL keeps
    * the FULL schema including the LOB columns, which is what lets
    * [[readExtractedAuto]] reassemble the table without the source.
    *
    * The lead-column check, the scalar plane and each LOB plane are
    * independent jobs over `df`, so they run concurrently. The manifest is
    * the commit marker: it is written only once the ids passed and every
    * plane succeeded, so a failed extract leaves none and resume redoes it. */
  def extractLob(df: DataFrame, outDir: String, tableId: Int, table: String = ""): Long = {
    import org.apache.spark.sql.types.BinaryType
    val fields = df.schema.fields
    val idCol = fields.head.name
    // the lead column IS the per-row file name, so it must identify rows:
    // a null id would alias to row 0, a duplicate would overwrite its twin
    // (overwrite=true), and the count-only load verify would stay green over
    // the corrupted read-back — fail the extract instead. One column-pruned
    // aggregate over the cast the sink itself applies (covers null AND
    // non-castable values in one check). Negative ids are legal: the
    // read-back regexp accepts them.
    val idL = col(idCol).cast("long")
    val scalar = df.select(fields.filter(_.dataType != BinaryType).map(f => col(f.name)).toSeq: _*)
    val lobCols = fields.zipWithIndex.collect {
      case (f, i) if f.dataType == BinaryType => (f.name, i + 1)
    }.toSeq
    val planes: Seq[() => Seq[Long]] = Seq(
      () => {
        val r = df.agg(count(lit(1)), count(idL), countDistinct(idL)).head()
        Seq(r.getLong(0), r.getLong(1), r.getLong(2))
      },
      () => Seq(writeCounted(scalar)(
        _.write.mode(SaveMode.Overwrite).options(GzipCsvWriteOptions).csv(outDir)))) ++
      lobCols.map { case (name, colId) => () =>
        Seq(LobSink.writePerRow(df, idCol, name, lobDir(outDir, colId), tableId, colId))
      }
    val outcomes = Workers.run(planes, planes.size)(_())
    // bad ids come first: they explain a failed plane (a null id names no file)
    outcomes.head.foreach { case Seq(n, nId, nUniq) =>
      require(nId == n && nUniq == n,
        s"LOB extract needs a non-null, unique, long-castable lead column: " +
          s"'$idCol' has $n rows, $nId usable ids, $nUniq distinct")
    }
    Workers.firstFailure(outcomes).foreach(e => throw e)
    val Seq(_, Seq(cnt), lobFiles @ _*) = outcomes.map(_.get)
    writeManifest(outDir, cnt, "lob_csv",
      df.sparkSession.sparkContext.hadoopConfiguration, df.schema.toDDL,
      table = table, lobFiles = lobCols.map(_._2).zip(lobFiles.map(_.head)).toMap)
    cnt
  }

  /** Reconstruct an extracted table purely from its on-disk artifacts: the
    * manifest declares the format and the schema DDL, so the LOAD phase
    * needs neither the source tables nor the catalog — the reference loads
    * `FROM Extracted_Data/<tid>/<file>` the same way
    * (`/root/reference/Migration/migration.py:1538-1556`, `load_table.sh:
    * 36-87`). A truncated or corrupted extract therefore reaches the load
    * verify as-is and fails it, instead of being papered over by a re-read
    * of the intact source. */
  def readExtractedAuto(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{BinaryType, StructType}
    val conf = spark.sparkContext.hadoopConfiguration
    val m = readManifest(conf, dir).getOrElse(throw new IllegalArgumentException(
      s"no readable extract manifest for $dir"))
    val schema = StructType.fromDDL(m.schema)
    m.format match {
      case "parquet" => spark.read.schema(schema).parquet(dir)
      case "gzip_csv" => readExtracted(spark, dir, schema)
      case "lob_csv" =>
        // scalar plane from the CSV, LOB columns re-joined from their
        // per-row files (file name carries the row id; a row with no file
        // had a NULL cell — left join restores it)
        val idName = schema.fields.head.name
        val scalar = readExtracted(spark, dir,
          StructType(schema.fields.filter(_.dataType != BinaryType)))
        val full = schema.fields.zipWithIndex
          .collect { case (f, i) if f.dataType == BinaryType => (f, i + 1) }
          .foldLeft(scalar) { case (acc, (f, colId)) =>
            val lobPath = lobDir(dir, colId)
            // LOB-plane completeness: the manifest's per-column file census
            // must match what's on disk — a lost LOB file would otherwise
            // read back as a silent NULL cell under a still-green scalar row
            // count. Pure FS-metadata listing, no job.
            m.lobFiles.get(colId).foreach { expected =>
              val actual = LobSink.fileCount(lobPath, conf)
              require(actual == expected,
                s"LOB plane incomplete for $lobPath: $actual files on disk, " +
                  s"manifest recorded $expected")
            }
            val lob = LobSink.readBack(spark, lobPath)
              .select(
                regexp_extract(col("file_name"), "_row(-?\\d+)\\.", 1)
                  .cast("long").as("__lob_id"),
                col("content").as(f.name))
            acc.join(lob, acc(idName).cast("long") === col("__lob_id"), "left_outer")
              .drop("__lob_id")
          }
        full.select(schema.fields.map(f => col(f.name)).toSeq: _*)
      case other => throw new IllegalArgumentException(s"unknown extract format: $other")
    }
  }

  /** Micro-precision timestamp format for the CSV interchange: the writer's
    * default keeps only milliseconds, which silently truncates micro-stamped
    * event data — an extract->load round-trip must be bit-faithful. */
  val CsvTimestampFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** Writer options of the gzip-CSV plane (`gzip_csv` extracts and the
    * scalar plane of `lob_csv`). Spark's CSV writer trims leading and
    * trailing spaces by default; an extract must not, or `" leading"` loads
    * back as `"leading"`. */
  val GzipCsvWriteOptions: Map[String, String] = Map(
    "compression" -> "gzip",
    "header" -> "true",
    "timestampFormat" -> CsvTimestampFormat,
    "ignoreLeadingWhiteSpace" -> "false",
    "ignoreTrailingWhiteSpace" -> "false")

  /** Read an extracted directory back with an explicit schema (no inference
    * in the engine proper — SURVEY §1.3). */
  def readExtracted(spark: SparkSession, dir: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("header", "true")
      .option("timestampFormat", CsvTimestampFormat).csv(dir)
}
