package graft.load

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.core.{Footers, Workers}

/** Load phase with verify-and-rollback semantics (SURVEY §2.9 C5).
  *
  * The reference generates per-table `LOAD TABLE … ; IF cnt != expected THEN
  * ROLLBACK` blocks (`/root/reference/Migration/migration.py:1461-1566`) and
  * re-counts after load (`load_table.sh:36-87`). Spark writes aren't
  * transactional, so the equivalent is staged-write + count-verify + atomic
  * promote: write to a staging dir, count it, and only on match move it to
  * the final location. Failure leaves the previous committed data intact —
  * the same table-level atomicity the server transaction gave the reference.
  */
object Loader {

  final case class LoadResult(tableName: String, expected: Long, loaded: Long, ok: Boolean,
      detail: String = "")

  /** One table's load work; `df` is evaluated only when the load runs. */
  final case class LoadWork(name: String, df: () => DataFrame, expected: () => Long)

  /** Stage → verify → promote one table.
    *
    * Promote is rename-aside, never delete-then-rename: `final → final.old`,
    * `staging → final`, drop `final.old`. A crash between the two renames
    * leaves the previous data intact under `final.old` (recovered by the
    * next [[loadVerified]] on the same dir); the old delete-then-rename
    * order had a window where NEITHER version existed. */
  def loadVerified(df: DataFrame, expected: Long, finalDir: String,
      fsOverride: Option[org.apache.hadoop.fs.FileSystem] = None): LoadResult = {
    val staging = finalDir + ".staging"
    val spark = df.sparkSession
    val stagingPath = new org.apache.hadoop.fs.Path(staging)
    val finalPath = new org.apache.hadoop.fs.Path(finalDir)
    // resolve the filesystem FROM the target path, not the default scheme:
    // a scheme-qualified finalDir (hdfs://, s3a://) must rename/delete
    // against its own filesystem, the same way Extract/LobSink resolve theirs
    val fs = fsOverride.getOrElse(
      finalPath.getFileSystem(spark.sparkContext.hadoopConfiguration))
    val oldPath = new org.apache.hadoop.fs.Path(finalDir + ".old")
    val name = finalDir.split('/').last
    // crash recovery: a previous promote that died between its two renames
    // left the committed data under .old — restore it before proceeding. A
    // FAILED restore aborts the load: proceeding would let the later "drop
    // stale .old" step delete the only committed copy.
    if (!fs.exists(finalPath) && fs.exists(oldPath) && !fs.rename(oldPath, finalPath))
      return LoadResult(name, expected, 0L, ok = false,
        detail = "crash-recovery restore of .old failed; load aborted")
    df.write.mode(SaveMode.Overwrite).parquet(staging)
    // an exact count of what is on disk after the write, from the staged
    // files' footers: no read-back job
    val loaded = Footers.read(spark, staging).fold(0L)(_.rows)
    val countOk = loaded == expected
    // Hadoop FileSystem signals most rename/delete failures by returning
    // false, not throwing — every step must be checked or a failed
    // `staging → final` rename followed by the .old cleanup would delete
    // the only committed copy while still reporting ok=true.
    var detail = ""
    val ok = countOk && {
      if (fs.exists(oldPath) && !fs.delete(oldPath, true)) {
        detail = "stale .old delete failed"; false
      } else if (fs.exists(finalPath) && !fs.rename(finalPath, oldPath)) {
        detail = "park rename final -> .old failed"; false
      } else if (!fs.rename(stagingPath, finalPath)) {
        // promote failed with the committed copy parked at .old — put it
        // back so the table is never left missing; a restore that ALSO
        // fails is surfaced (the copy stays at .old until the next run's
        // crash recovery)
        val restored = !fs.exists(oldPath) || fs.rename(oldPath, finalPath)
        detail = if (restored) "promote rename failed; previous data restored"
          else "promote rename failed AND .old restore failed; previous data parked at .old"
        false
      } else {
        if (fs.exists(oldPath)) fs.delete(oldPath, true) // best-effort cleanup
        true
      }
    }
    if (!countOk) detail = s"count mismatch: loaded $loaded, expected $expected"
    // rollback analog: staging must not linger on ANY failure path — a
    // leftover would be silently double-counted by directory listings
    if (!ok && fs.exists(stagingPath)) fs.delete(stagingPath, true)
    LoadResult(name, expected, loaded, ok, detail)
  }

  /** Expected row counts from the extract-phase control file
    * (`ExtractedTables.out`, lines `owner.table,tableId,rows` — written by
    * the extract phase, parsed by the reference's load at
    * load_schema_and_data.py:709-735). Loads verify against the EXTRACT
    * record, not a fresh source count: that detects an extract-phase loss
    * (a doctored/incomplete extract fails the verify) and removes one full
    * source scan per table. Takes the control file's LINES (the caller reads
    * them through its path's filesystem); returns (table, tableId,
    * expectedRows) in file order — the tableId locates the table's
    * `Extracted_Data/<tid>` artifacts. */
  def extractedCounts(lines: Seq[String]): Seq[(String, Int, Long)] =
    lines.map(_.trim).filter(_.nonEmpty).map { line =>
      val f = line.split(',')
      (f(0).split('.').last, f(1).toInt, f(2).toLong)
    }

  /** Stage → verify → promote against a LIVE JDBC sink (S16's write half,
    * the reference's `LOAD TABLE` + count-verify + rollback transaction,
    * load_schema_and_data.py:295-299): write to `<table>_staging`, count it
    * with one server-side COUNT(*) (`load_table.sh:36-87` re-counts the same
    * way after `LOAD TABLE`), and only on match swap it in (drop the previous
    * committed table, `RENAME TABLE` the staging copy over it). A failed
    * verify drops the staging table and leaves the committed data untouched
    * — the same table-level atomicity as the parquet path's rename-aside. */
  def loadVerifiedJdbc(df: DataFrame, expected: Long,
      url: String, table: String): LoadResult = {
    import graft.sources.Jdbc
    val staging = s"${table}_staging"
    // crash recovery (the JDBC mirror of loadVerified's .old restore): the
    // DROP+RENAME promote below is not atomic, so a crash between the two
    // leaves the only committed copy in the staging table. Finish the rename
    // before reloading — otherwise a verify failure in THIS run would drop
    // the staging copy and leave the table missing entirely. The existence
    // check is scoped to the connection's CURRENT schema (the one the
    // unqualified names below resolve in) — a same-named table elsewhere
    // must neither trigger nor suppress the recovery rename.
    val existing = Jdbc.listTables(url).map(_.toUpperCase).toSet
    if (!existing.contains(table.toUpperCase) && existing.contains(staging.toUpperCase))
      Jdbc.renameTable(url, staging, table)
    Jdbc.write(df, url, staging, SaveMode.Overwrite)
    val loaded = Jdbc.count(url, staging)
    if (loaded != expected) {
      Jdbc.execute(url, s"DROP TABLE $staging", ignoreMissingTable = true)
      LoadResult(table, expected, loaded, ok = false,
        detail = s"count mismatch: loaded $loaded, expected $expected")
    } else {
      Jdbc.execute(url, s"DROP TABLE $table", ignoreMissingTable = true)
      Jdbc.renameTable(url, staging, table)
      LoadResult(table, expected, loaded, ok = true)
    }
  }

  /** Failed-first load ordering (load_schema_and_data.py:854-874): the
    * reference drains its failed-retry queue before fresh work. Reads the
    * persisted failed set, partitions the work list into (retry, fresh),
    * submits retries first, skips tables already loaded ok, and rewrites the
    * failed set from this run's outcomes. The tables load concurrently on
    * [[Workers.forTables]]' pool over `sc`; results come back in
    * submission order (retries, then fresh work, each in work-list order),
    * so the ordering contract is testable and the control files equal a
    * serial run's. `loadOne` loads one table — the parquet warehouse
    * ([[loadVerified]]) and the live JDBC sink ([[loadVerifiedJdbc]]) share
    * the contract. The failed-list control file rides its path's Hadoop
    * FileSystem like every other control file. */
  def loadAllWith(sc: SparkContext, work: Seq[LoadWork], failedListPath: String,
      loadedOk: Set[String], loadOne: LoadWork => LoadResult,
      conf: org.apache.hadoop.conf.Configuration =
        new org.apache.hadoop.conf.Configuration()): Seq[LoadResult] = {
    import graft.core.Ctl
    val prevFailed: Set[String] =
      if (Ctl.exists(conf, failedListPath))
        Ctl.readLines(conf, failedListPath).map(_.trim).filter(_.nonEmpty).toSet
      else Set.empty
    val pending = work.filter(w => prevFailed.contains(w.name) || !loadedOk.contains(w.name))
    val (retry, fresh) = pending.partition(w => prevFailed.contains(w.name))
    // a table whose load THROWS (unreadable artifacts, an incomplete LOB
    // plane failing readExtractedAuto's census check) is a failed table,
    // not a crashed run: record it like a failed verify so it lands on the
    // failed list and retries first next run — the reference's per-table
    // failure containment (load_schema_and_data.py:854-874)
    val results = Workers.forTables(sc, retry ++ fresh,
        (w: LoadWork) => s"load graft.${w.name}") { w =>
      try loadOne(w)
      catch {
        case e: Exception =>
          LoadResult(w.name, -1L, 0L, ok = false, detail = s"load threw: ${e.getMessage}")
      }
    }.map(_.get)
    Ctl.write(conf, failedListPath,
      results.filterNot(_.ok).map(_.tableName).mkString("", "\n", "\n"))
    results
  }

  /** Tables with a `Y` line in `HDL_LoadedTables.out` (lines
    * `owner.table,rows,Y|N`). */
  def loadedOk(lines: Seq[String]): Set[String] =
    lines.filter(_.endsWith(",Y")).map(_.split(',')(0).stripPrefix("graft.")).toSet

  /** Final reconciliation (load_schema_and_data.py:776-820): the extracted
    * tables with no `Y` line among `loadedLines`, in extraction order. Empty
    * is the all-clear. */
  def unloadedTables(extracted: Seq[String], loadedLines: Seq[String]): Seq[String] = {
    val ok = loadedOk(loadedLines)
    extracted.filterNot(ok).distinct
  }
}
