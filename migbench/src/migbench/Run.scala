package migbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.core.{Engine, Tables}
import graft.sources.Jdbc

/** JVM side of the migration benchmark; `migbench/run.py` launches it.
  *
  *   --mode run       generate the workload's inputs, run timed iterations
  *                    (migration, then resume of a damaged half), verify
  *                    each, print `RESULT <json>` as the last line
  *   --mode selftest  check the generator: seed determinism and schemas
  *
  * Options: --work DIR --seed N --sf X --extras N --lob-cells N --jdbc 0|1
  *          --seconds S --iterations N (fixed count, overrides --seconds)
  *          --trace 0|1 --resume 0|1 (0: migration only)
  *
  * There is no warm-up: a run times the first iterations of a fresh JVM
  * (README.md, "Warm-up"). */
object Run {

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String, d: String) = opts.getOrElse(k, d)
    val spark = Engine.session("migbench")
    println("READY")
    System.out.flush()
    spark.sparkContext.setLogLevel("ERROR")
    val spec = Gen.Spec(opt("sf", "0.001").toDouble, opt("extras", "0").toInt,
      opt("lob-cells", "0").toInt)
    val code =
      try opt("mode", "run") match {
        case "run" => run(spark, opt("work", "."), opt("seed", "1").toLong, spec,
          opt("jdbc", "0") == "1", opt("seconds", "10").toDouble,
          opts.get("iterations").map(_.toInt), opt("trace", "0") == "1",
          opt("resume", "1") == "1")
        case "selftest" => selftest(spark, opt("work", "."), opt("seed", "1").toLong, spec)
      } catch { case e: Throwable => e.printStackTrace(); 1 }
    // the work dir, Spark's scratch included, is deleted by the caller, so
    // the JVM ends at once instead of stopping the session
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }

  private def emit(result: Map[String, Any]): Unit = {
    println("RESULT " + json.writeValueAsString(result))
    System.out.flush()
  }

  private def describe(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}"

  def run(spark: SparkSession, work: String, seed: Long, spec: Gen.Spec, jdbc: Boolean,
      seconds: Double, iterations: Option[Int], traced: Boolean, resume: Boolean): Int = {
    val sc = spark.sparkContext
    val srcDir = s"$work/source"
    val t0 = System.nanoTime()
    def log(msg: String) = System.err.println(f"[migbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $msg")
    val tables = Gen.generate(spark, seed, spec, srcDir)
    log(s"generated ${tables.size} tables")
    // Derby has no array type: the live source carries the scalar tables
    val migrating = if (jdbc) tables.filterNot(_.name == "embeddings") else tables
    val srcUrl = if (!jdbc) None else {
      val url = Jdbc.derbyUrl(s"$work/sourcedb")
      Par.map(migrating)(t => Jdbc.write(Tables.load(spark, srcDir, t.name), url, t.name))
      log("loaded the source database")
      Some(url)
    }
    val expected: Map[String, (StructType, Digest)] = migrating.map(t =>
      t.name -> (Tables.load(spark, srcDir, t.name).schema, t.digest)).toMap
    val sourceBytes = migrating.map(_.bytes).sum
    // the half a resume redoes: the largest table and the LOB table always,
    // then one table of each pair of neighbours in size, picked by the seed,
    // so every seed loses about the same bytes and files
    val bySize = migrating.sortBy(t => (-t.bytes, t.name)).map(_.name)
    val always = (bySize.take(1) ++ migrating.map(_.name).filter(_ == Gen.LobTable)).distinct
    val pick = new scala.util.Random(seed)
    val damaged = (always ++ bySize.filterNot(always.contains).grouped(2)
      .collect { case Seq(a, b) => if (pick.nextBoolean()) a else b }).sorted
    val pipeline = new Pipeline(spark, srcDir, srcUrl)
    val listener = new Trace.Listener
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime).sum

    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    /** One verified operation: `f` returns the problems it found; a throw
      * is a problem too. */
    def attempt(what: String)(f: => Seq[String]): Boolean = {
      attempted += 1
      val problems = try f catch { case e: Exception => Seq(describe(e)) }
      if (problems.nonEmpty) failed += 1
      errors ++= problems.map(p => s"$what: $p")
      problems.isEmpty
    }
    var prev: Option[Pipeline.Dirs] = None

    /** One iteration: clean + GC (untimed), migration (timed), verify,
      * damage (untimed), resume (timed), verify. */
    def iteration(i: Int, traceIt: Boolean): Map[String, Any] = {
      prev.foreach(pipeline.clean)
      System.gc()
      val d = Pipeline.Dirs(s"$work/iter$i")
      prev = Some(d)
      if (traceIt) { listener.reset(); sc.addSparkListener(listener) }
      val tr = new Trace(sc, if (traceIt) Some(listener) else None)
      val rec = mutable.LinkedHashMap[String, Any]("iteration" -> i, "traced" -> traceIt)
      val cpu0 = os.getProcessCpuTime; val gc0 = gcMs
      val t1 = System.nanoTime()
      val migrated = attempt(s"iteration $i migration") {
        val ts = pipeline.migrate(d, tr)
        rec("migration_s") = (System.nanoTime() - t1) / 1e9
        rec("engine.cpu_s") = (os.getProcessCpuTime - cpu0) / 1e9
        rec("engine.gc_s") = (gcMs - gc0) / 1e3
        val extracted = Files.visibleFiles(s"${d.extract}/Extracted_Data")
        rec("extract_bytes") = extracted.map(_.length).sum
        rec("extract.files") = extracted.size
        rec("extract.lob_files") = extracted.count(_.getParentFile.getName.contains(".lob"))
        rec("transfer.files") = ts.copyMs.size
        rec("transfer.mb") = ts.bytes / Trace.MB
        rec("transfer.ms_per_file.median") = median(ts.copyMs)
        rec("transfer.ms_per_file.max") = ts.copyMs.max
        rec("transfer.validate_s") = ts.validateS
        pipeline.verify(d, expected, ts)
      }
      if (migrated && resume) attempt(s"iteration $i resume") {
        pipeline.damage(d, damaged)
        val t2 = System.nanoTime()
        val ts = pipeline.resume(d, tr)
        rec("resume_s") = (System.nanoTime() - t2) / 1e9
        rec("resume.tables_redone") = damaged.size
        pipeline.verify(d, expected, ts)
      }
      if (traceIt) {
        rec ++= tr.layers()
        sc.removeSparkListener(listener)
      }
      log(rec.toString)
      rec.toMap
    }

    val timed = mutable.ArrayBuffer.empty[Map[String, Any]]
    val start = System.nanoTime()
    // another iteration starts only while it is expected to end within the
    // measuring window
    def more = iterations match {
      case Some(n) => timed.size < n
      case None => timed.isEmpty || {
        val elapsed = (System.nanoTime() - start) / 1e9
        elapsed + elapsed / timed.size <= seconds
      }
    }
    while (more) timed += iteration(timed.size, traceIt = traced)
    prev.foreach(pipeline.clean)
    srcUrl.foreach(_ => Pipeline.shutdownDerby(s"$work/sourcedb"))
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong / 1024.0 }
    emit(Map(
      "attempted" -> attempted, "failed" -> failed,
      "errors" -> errors.toSeq, "source_bytes" -> sourceBytes,
      "tables" -> tables.map(t => Map("name" -> t.name, "rows" -> t.rows, "bytes" -> t.bytes)),
      "migrating" -> migrating.map(_.name), "damaged" -> damaged,
      "timed" -> timed.toSeq, "peak_rss_mb" -> hwm.getOrElse(0.0)))
    if (errors.isEmpty) 0 else 1
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Generator self-test: the same seed gives identical digests for every
    * table, the digest taken while writing equals the one read back from
    * the files, another seed changes every seed-drawn table (region and nation
    * are the fixed TPC-H dimension rows), canonical tables keep the testdata
    * schemas, and premigration's checks run over a generated tier. */
  def selftest(spark: SparkSession, work: String, seed: Long, spec: Gen.Spec): Int = {
    def digests(s: Long, dir: String) =
      Gen.generate(spark, s, spec, dir).map(t => t.name -> t.digest).toMap
    val a = digests(seed, s"$work/a"); val b = digests(seed, s"$work/b")
    val c = digests(seed + 1, s"$work/c")
    val readBack = a.keys.toSeq.sorted.filterNot { n =>
      val df = Tables.load(spark, s"$work/a", n)
      Digest.of(df, df.schema) == a(n)
    }
    val fixed = Set("region", "nation")
    val schemaDiffs = Gen.CanonicalDdl.toSeq.sortBy(_._1).flatMap { case (n, ddl) =>
      val got = Tables.load(spark, s"$work/a", n).schema.fields.map(f => (f.name, f.dataType)).toSeq
      val want = StructType.fromDDL(ddl).fields.map(f => (f.name, f.dataType)).toSeq
      if (got == want) Nil else Seq(s"$n: $got != $want")
    }
    val premigration =
      try { graft.cli.Main.premigration(spark, s"$work/a", s"$work/pre"); None }
      catch { case e: Exception => Some(describe(e)) }
    val report = if (premigration.nonEmpty) 0
      else scala.io.Source.fromFile(s"$work/pre/pre_migration.out").getLines().size
    val checks = Map(
      "same_seed_same_digests" -> (a == b),
      "written_digests_match_read_back" -> readBack.isEmpty,
      "other_seed_other_digests" -> a.keys.filterNot(fixed).forall(n => a(n) != c(n)),
      "canonical_schemas_match" -> schemaDiffs.isEmpty,
      "premigration_runs" -> (premigration.isEmpty && report > graft.premigration.Checks.all.size))
    emit(Map("checks" -> checks, "schema_diffs" -> schemaDiffs, "premigration_error" -> premigration,
      "tables" -> a.toSeq.sortBy(_._1).map { case (n, dg) => Map("name" -> n, "rows" -> dg.rows) }))
    if (checks.values.forall(identity)) 0 else 1
  }
}
