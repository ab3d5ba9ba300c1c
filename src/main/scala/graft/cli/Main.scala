package graft.cli

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession

import graft.core.{Ctl, Engine, Workers}
import graft.extract.Extract
import graft.load.Loader
import graft.premigration.Checks
import graft.rewrite.{ReloadFixture, Rewriter}
import graft.sources.{Jdbc, Source}

/** CLI entry points with the reference's flag semantics (SURVEY §7.1 step 9):
  * the five phase flags are mutually exclusive with exactly one required —
  * `--onlyschema`/`--onlydata`/`--fullextraction` mirror the reference's
  * unload mode matrix (`/root/reference/Migration/migration.py:39-107`:
  * schema-only, data-only, or both), `--premigration`/`--fullload` the
  * other utilities. Resume prompts become idempotent non-interactive
  * reconciliation, and every phase leaves the same control files the
  * reference does (iq_tables.list, ExtractedTables.out,
  * HDL_LoadedTables.out).
  *
  * Usage: graft.cli.Main --premigration|--onlyschema|--onlydata|
  *                       --fullextraction|--fullload
  *                       [--sfdir DIR] [--out DIR] [--batchsize GB]
  *                       [--jdbc URL]
  */
object Main {

  private val PhaseFlags =
    Set("--premigration", "--onlyschema", "--onlydata", "--fullextraction", "--fullload")
  private val ValueFlags = Set("--sfdir", "--out", "--batchsize", "--jdbc")

  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("--")).toSet
    val unknown = flags -- PhaseFlags -- ValueFlags
    require(unknown.isEmpty, s"unknown flag: ${unknown.toSeq.sorted.mkString(", ")}")
    // the reference's mutual-exclusion matrix (migration.py:103-107):
    // --onlyschema / --onlydata / --fullextraction are exclusive unload
    // modes; premigration and load are the other phases of the unified CLI
    val phases = flags.intersect(PhaseFlags)
    require(phases.size == 1,
      "exactly one of --premigration | --onlyschema | --onlydata | " +
        "--fullextraction | --fullload is required (they are mutually exclusive)")
    def opt(name: String, default: => String): String = args.indexOf(name) match {
      case -1 => default
      case i if i + 1 < args.length && !args(i + 1).startsWith("--") => args(i + 1)
      case _ => throw new IllegalArgumentException(s"$name needs a value")
    }
    val sfDir = opt("--sfdir", "/root/testdata/sf0.001")
    val out = opt("--out", Files.createTempDirectory("graft_run").toString)

    // --jdbc <url> switches the data plane to the live server: premigration
    // and extraction list, count, size and read through the connection, the
    // load phase writes back through it (the "Spark SQL + JDBC" approach
    // end-to-end)
    val jdbc = opt("--jdbc", "")
    // batch size arrives in GB like the reference's Batch_Size_GB and goes
    // through the same config validation (0 = batching off, else >= 100)
    val batchGb = opt("--batchsize", "0").toInt
    val cfg = graft.core.Config.MigrationConfig("/", batchSizeGb = batchGb)
    val capBytes = cfg.batchSizeGb.toLong << 30
    // the schema unload reads and writes scripts only, so it builds no
    // session; its Hadoop configuration carries the same spark.hadoop.*
    // settings a session's would (object-store credentials and the like)
    if (phases.head == "--onlyschema") {
      val conf = Engine.hadoopConf()
      Ctl.mkdirs(conf, out)
      onlySchema(conf, out)
    } else {
      // shuffle width, codec and staging policy follow the parquet tier read
      val spark = Engine.session("graft-cli", dataDir = if (jdbc.isEmpty) Some(sfDir) else None)
      spark.sparkContext.setLogLevel("WARN")
      try {
        // the out dir is created through the SESSION's Hadoop configuration
        // so spark.hadoop.* settings apply to this mkdirs the same as to
        // every later control-file write — a bare new Configuration() would
        // fail on an s3a:// out dir at the first step
        Ctl.mkdirs(spark.sparkContext.hadoopConfiguration, out)
        phases.head match {
          case "--premigration" => premigration(spark, sfDir, out, jdbc)
          case "--onlydata" => withSource(spark, sfDir, jdbc)(onlyData(spark, _, out, capBytes))
          case "--fullextraction" =>
            onlySchema(spark, out)
            withSource(spark, sfDir, jdbc)(onlyData(spark, _, out, capBytes))
          case "--fullload" =>
            if (jdbc.nonEmpty) fullLoadJdbc(spark, out, jdbc) else fullLoad(spark, out)
        }
      } finally spark.stop()
    }
  }

  /** The server a phase reads: the live one at `jdbc` when it is set, else
    * the parquet tables of `sfDir`. */
  private def withSource[A](spark: SparkSession, sfDir: String, jdbc: String)(
      f: Source => A): A =
    if (jdbc.nonEmpty) Source.live(spark, jdbc)(f) else f(Source.parquet(spark, sfDir))

  def premigration(spark: SparkSession,
      sfDir: String, out: String, jdbc: String = ""): Unit = {
    // environment gates first (migration.py:316-414 runs them before any
    // phase): simplex local engine, forced write mode like the reference's
    // `--mode w` since sandbox fixtures are not a readonly server. The
    // write probe matches the mode: live --jdbc probes by CREATE/DROP of a
    // real test table through the connection (migration.py:385-414); the
    // fixture mode checks source-dir writability (no side effects).
    val gates = graft.premigration.Gates.evaluate(
      props = Map("version" -> s"graft/spark ${spark.version}",
        "readonly" -> "Off"),
      nodes = Seq.empty, connectedServer = "local",
      probeWriteSucceeds =
        if (jdbc.nonEmpty) () => Jdbc.probeWrite(jdbc)
        else () => Files.isWritable(Paths.get(sfDir)),
      forceWriteMode = true)
    require(gates.forall(_.pass), "environment gates failed")
    val gateReport = gates.map(g => f"gate:${g.gate}%-22s pass=${g.pass}  ${g.detail}")
    // the audit runs where the data lives (live mode reads nothing under sfDir)
    val findings = withSource(spark, sfDir, jdbc)(Checks.findings)
    val report = (gateReport ++ findings.map(f =>
      f"${f.checkName}%-28s ${f.findingCount}%8d  actionRequired=${f.actionRequired}"))
      .mkString("# graft pre-migration report\n", "\n", "\n")
    Ctl.write(spark.sparkContext.hadoopConfiguration,
      s"$out/pre_migration.out", report)
  }

  /** Schema unload only (`--onlyschema y`, migration.py:237-238) through
    * the session's Hadoop configuration. */
  def onlySchema(spark: SparkSession, out: String): Unit =
    onlySchema(spark.sparkContext.hadoopConfiguration, out)

  /** Rewrite the reload script into `out`, splitting FK DDL out. */
  def onlySchema(conf: Configuration, out: String): Unit = {
    val (main, fk) = Rewriter.serialize(Rewriter.rewrite(ReloadFixture.lines))
    Ctl.write(conf, s"$out/AutoUpdated_Reload.sql", main)
    Ctl.write(conf, s"$out/Foreign_Key_Constraint.sql", fk)
  }

  /** Both unloads (`--fullextraction y`, migration.py:241) of the parquet
    * tables of `sfDir`. */
  def fullExtraction(spark: SparkSession,
      sfDir: String, out: String, batchCapBytes: Long = 0L): Unit = {
    onlySchema(spark, out)
    onlyData(spark, Source.parquet(spark, sfDir), out, batchCapBytes)
  }

  /** Data unload against a LIVE server (`--onlydata --jdbc <url>`). */
  def onlyDataJdbc(spark: SparkSession,
      url: String, out: String, batchCapBytes: Long = 0L): Unit =
    Source.live(spark, url)(onlyData(spark, _, out, batchCapBytes))

  /** Data unload only (`--onlydata y`, migration.py:239-240):
    * inventory → work list → resume-aware extract, all through `src`. */
  def onlyData(spark: SparkSession, src: Source, out: String,
      batchCapBytes: Long = 0L): Unit =
    onlyDataFrom(spark, out, batchCapBytes, Extract.workList(src), src.read)

  private[graft] def onlyDataFrom(spark: SparkSession,
      out: String, batchCapBytes: Long,
      workList: Seq[Extract.WorkItem],
      loadTable: String => org.apache.spark.sql.DataFrame): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    def ctlLine(w: Extract.WorkItem) =
      s"graft.${w.name},${w.rowCount},${w.sizeBytes},${w.tableId},N"
    Ctl.write(conf, s"$out/iq_tables.list",
      workList.map(ctlLine).mkString("", "\n", "\n"))
    // batch mode (migration.py:1758-1784): size-capped batches written as
    // iq_tables_Batch_<n>.list (1-based, the reference's naming); tables
    // individually over the cap spill to no_extraction.list and are NOT
    // extracted. Invariant (verify_batches_generated_iq_file,
    // migration.py:1817-1846): batch lines + spill lines == iq_tables lines.
    // stale batch artifacts from a previous run into the same out dir would
    // break the batches+spill==iq_tables invariant below (a re-run with a
    // different cap writes fewer files and leaves the old tail behind) —
    // clear them unconditionally, batching on or off
    Ctl.listFileNames(conf, out)
      .filter(n => n.matches("iq_tables_Batch_\\d+\\.list") ||
        n == "no_extraction.list")
      .foreach(n => Ctl.delete(conf, s"$out/$n"))
    val toExtract: Seq[Extract.WorkItem] =
      if (batchCapBytes > 0) {
        val (batches, spilled) = Extract.batch(workList, batchCapBytes)
        batches.zipWithIndex.foreach { case (b, i) =>
          Ctl.write(conf, s"$out/iq_tables_Batch_${i + 1}.list",
            b.map(ctlLine).mkString("", "\n", "\n"))
        }
        if (spilled.nonEmpty)
          Ctl.write(conf, s"$out/no_extraction.list",
            spilled.map(ctlLine).mkString("", "\n", "\n"))
        require(batches.map(_.size).sum + spilled.size == workList.length,
          "batch partition lost tables (batches + no_extraction != iq_tables)")
        batches.flatten
      } else workList
    // keyed on the whole work list: batch-mode spills keep their extracts
    Extract.dropStale(conf, s"$out/Extracted_Data", workList.map(_.tableId).toSet)
    def dirOf(w: Extract.WorkItem) = s"$out/Extracted_Data/${w.tableId}"
    val live = toExtract.filter(_.rowCount > 0)
    // resume (migration.py:1940-2002): a complete manifest means this
    // table's extract already finished — skip it, idempotently, without
    // resolving the table at all. The rows carried into
    // ExtractedTables.out come from the MANIFEST (what was
    // actually written), never from the current inventory count: a resumed
    // run re-recording the source count would let the load verify compare
    // source-to-source and mask an extract-phase loss. The manifest must
    // also NAME this table: extract dirs are keyed by positional table id,
    // so a changed table set between runs remaps ids — a name mismatch
    // (or a legacy manifest with no name) re-extracts instead of silently
    // attributing another table's artifacts and count to this one.
    // A missing, truncated or unparseable manifest re-extracts too.
    val recorded: Map[String, Long] = live.flatMap(w => Extract.readManifest(conf, dirOf(w))
      .filter(m => m.complete && m.table.contains(w.name)).map(w.name -> _.rows)).toMap
    // the rest extract concurrently, largest first (the reference's LPT
    // plan, migration.py:1656-1677), so a large table does not start last
    val pending = Extract.lptOrder(live.filterNot(w => recorded.contains(w.name)))
    val outcomes = Workers.forTables(spark.sparkContext, pending,
        (w: Extract.WorkItem) => s"extract graft.${w.name}") { w =>
      extractTable(loadTable(w.name), w, dirOf(w))
    }
    val extracted = pending.map(_.name).zip(outcomes).toMap
    // a table that failed leaves the others' manifests behind for a resume;
    // the error reported is the first in work-list order, as a serial run's
    Workers.firstFailure(live.flatMap(w => extracted.get(w.name))).foreach(e => throw e)
    val done = live.map { w =>
      s"graft.${w.name},${w.tableId},${recorded.getOrElse(w.name, extracted(w.name).get)}"
    }
    val empties = toExtract.filter(_.rowCount == 0)
      .map(w => s"graft.${w.name},${w.tableId},0")
    Ctl.write(conf, s"$out/ExtractedTables.out",
      (done ++ empties).mkString("", "\n", "\n"))
  }

  /** Extract one table into `dir`, returning the rows written. Format
    * planner (migration.py:2115-2208): LOB-bearing tables are FORCED onto
    * the per-row-file path (scalar CSV + one file per LOB cell); other
    * CSV-incompatible columns (arrays/structs) → parquet; plain scalar
    * tables → gzip text. */
  private def extractTable(df: org.apache.spark.sql.DataFrame, w: Extract.WorkItem,
      dir: String): Long =
    if (df.schema.fields.exists(_.dataType == org.apache.spark.sql.types.BinaryType))
      Extract.extractLob(df, dir, w.tableId, table = w.name)
    else Extract.formatFor(df.schema) match {
      case Extract.Binary => Extract.extractParquet(df, dir, table = w.name)
      case _ => Extract.extractGzipCsv(df, dir, table = w.name)
    }

  def fullLoad(spark: SparkSession, out: String): Unit =
    fullLoadWith(spark, out,
      w => Loader.loadVerified(w.df(), w.expected(), s"$out/warehouse/${w.name}"))

  /** Load back into a LIVE server (`--fullload --jdbc <url>`): same control
    * files and retry ordering, per-table loads through the JDBC
    * stage→verify→promote. */
  def fullLoadJdbc(spark: SparkSession, out: String, url: String): Unit =
    fullLoadWith(spark, out,
      w => Loader.loadVerifiedJdbc(w.df(), w.expected(), url, w.name))

  private def fullLoadWith(spark: SparkSession, out: String,
      loadOne: Loader.LoadWork => Loader.LoadResult): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    // resume reconciliation (load_schema_and_data.py:776-874): previously
    // ok-loaded tables are skipped, previously FAILED tables retry FIRST
    val loadedPath = s"$out/HDL_LoadedTables.out"
    val loadedOk: Set[String] =
      if (Ctl.exists(conf, loadedPath)) Loader.loadedOk(Ctl.readLines(conf, loadedPath))
      else Set.empty
    // expected counts come from the extract phase's control file, NOT a
    // source recount (load_schema_and_data.py:709-735), and the DATA comes
    // from the extract artifacts themselves: the load phase never touches
    // the source tables, exactly like the reference's `LOAD TABLE … FROM
    // Extracted_Data/<tid>/<file>` (migration.py:1538-1556,
    // load_table.sh:36-87). Verifying extract-written bytes against the
    // extract-recorded count means a truncated extract FILE fails here.
    val ctl = s"$out/ExtractedTables.out"
    require(Ctl.exists(conf, ctl),
      "--fullload requires ExtractedTables.out from a prior --fullextraction")
    val counts = Loader.extractedCounts(Ctl.readLines(conf, ctl))
    // empty tables were short-circuited by the extract (migration.py:
    // 1921-1931) — no files exist, so there is nothing to load; record Y
    val (loadable, empties) = counts.partition { case (_, tid, rows) =>
      rows > 0 || Ctl.exists(conf, s"$out/Extracted_Data/$tid.manifest.json")
    }
    val work = loadable.map { case (n, tid, cnt) =>
      Loader.LoadWork(n,
        () => Extract.readExtractedAuto(spark, s"$out/Extracted_Data/$tid"),
        () => cnt)
    }
    val results = Loader.loadAllWith(spark.sparkContext, work, s"$out/HDL_FailedTables.out",
      loadedOk, loadOne, conf)
    val doneNames = results.map(_.tableName).toSet ++ empties.map(_._1)
    val keptOk = loadedOk.filterNot(doneNames).map(n => s"graft.$n,-,Y")
    Ctl.write(conf, loadedPath,
      (results.map(r => s"graft.${r.tableName},${r.loaded},${if (r.ok) "Y" else "N"}")
        ++ empties.map(e => s"graft.${e._1},0,Y")
        ++ keptOk).mkString("", "\n", "\n"))
    require(results.forall(_.ok), "load verification failed for some tables")
    // final reconciliation (load_schema_and_data.py:776-820): every table
    // extracted has a Y line in the record just written
    val unloaded = Loader.unloadedTables(counts.map(_._1), Ctl.readLines(conf, loadedPath))
    require(unloaded.isEmpty,
      s"load reconciliation failed: no Y record for ${unloaded.mkString(", ")}")
  }
}
