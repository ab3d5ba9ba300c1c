package graft

import org.apache.spark.sql.functions._

import graft.core.{Catalog, Tables}
import graft.load.Loader
import graft.queries.Inventory

class EngineSpec extends SparkTestBase {

  test("STATIC_WIDTHS stays in sync with Catalog.widthOf over live schemas") {
    Tables.names.foreach { n =>
      val w = Catalog.rowWidth(Tables.load(spark, sfDir, n).schema)
      assert(Inventory.STATIC_WIDTHS(n) == w, s"width drift for $n")
    }
  }

  test("table inventory lists every table with positive size") {
    val inv = graft.extract.Extract.workList(graft.sources.Source.parquet(spark, sfDir))
    assert(inv.length == Tables.names.length)
    assert(inv.forall(_.rowCount > 0))
    assert(inv.forall(w => w.sizeBytes > w.rowCount)) // bytes > rows
  }

  test("load verify promotes on match and rolls back on mismatch") {
    val base = java.nio.file.Files.createTempDirectory("graft_load_spec").toString
    val nation = Tables.load(spark, sfDir, "nation")
    val ok = Loader.loadVerified(nation, nation.count(), s"$base/good")
    assert(ok.ok && ok.loaded == ok.expected)
    assert(new java.io.File(s"$base/good").exists)
    // mismatch: wrong expected count → staged data discarded, no final dir
    val bad = Loader.loadVerified(nation, nation.count() + 1, s"$base/bad")
    assert(!bad.ok)
    assert(!new java.io.File(s"$base/bad").exists)
    assert(!new java.io.File(s"$base/bad.staging").exists)
  }

  test("ragged rule-list source parses 4/3/2-field lines (S5)") {
    val (rules, replaces) = graft.rewrite.RuleSource.parse(Seq(
      "# comment line",
      "ALTER TABLE,COMMENT,FOREIGN KEY,REFERENCES",
      "CREATE INDEX,COMMENT,HNG",
      "EXTERNAL NAME,COMMENT",
      "CREATE EXISTING TABLE,COMMENT,NULL,NULL",
      "DBA,HDLADMIN",
      ""))
    assert(rules.size == 4)
    assert(rules.head == graft.rewrite.Rewriter.Rule(
      "ALTER TABLE", Some("FOREIGN KEY"), Some("REFERENCES"), "alter table"))
    assert(rules(3).pat1.isEmpty && rules(3).pat2.isEmpty) // NULL placeholders
    assert(replaces == Seq(graft.rewrite.Rewriter.Replace("DBA", "HDLADMIN")))
  }

  test("extract manifest carries the completeness sentinel (S11/O5)") {
    val out = java.nio.file.Files.createTempDirectory("graft_manifest").toString
    val n = graft.extract.Extract.extractGzipCsv(
      Tables.load(spark, sfDir, "nation"), out)
    val m = graft.extract.Extract.readManifest(spark.sparkContext.hadoopConfiguration, out).get
    assert(m.complete)
    assert(m.rows == n)
    assert(m.files.nonEmpty)
    // manifest is invisible to the data reader (underscore-prefixed)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() == n)
  }

  test("extract writes a one-partition table as one file, without a shuffle") {
    val out = java.nio.file.Files.createTempDirectory("graft_one_file").toString + "/nation"
    graft.extract.Extract.extractGzipCsv(Tables.load(spark, sfDir, "nation"), out)
    val parts = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("part-"))
    assert(parts.length == 1, parts.mkString(", "))
  }

  test("extract manifest round-trips a table name with a quote, a backslash and a tab") {
    import graft.extract.Extract
    val conf = spark.sparkContext.hadoopConfiguration
    val out = java.nio.file.Files.createTempDirectory("graft_manifest_esc").resolve("t")
    java.nio.file.Files.createDirectories(out)
    java.nio.file.Files.write(out.resolve("part-00000.csv.gz"), Array[Byte](1, 2, 3))
    val name = "we\"ird\\na\tme"
    Extract.writeManifest(out.toString, 7L, "lob_csv", conf, "id BIGINT, b BINARY",
      table = name, lobFiles = Map(2 -> 5L, 10 -> 1L))
    val m = Extract.readManifest(conf, out.toString).get
    assert(m == Extract.ExtractManifest(Some(name), Map(2 -> 5L, 10 -> 1L), 7L, "lob_csv",
      "id BIGINT, b BINARY", Seq(Extract.ManifestFile("part-00000.csv.gz", 3L)), complete = true))
  }

  test("Engine.session installs rolling_hash and dot_product without a register call") {
    import spark.implicits._
    val r = Seq((Array[Byte](1, 2), Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("b", "x", "y")
      .select(expr("rolling_hash(b)"), expr("dot_product(x, y)")).head()
    assert(r.getLong(0) == 31L * 1 + 2)
    assert(r.getDouble(1) == 11.0)
  }

  test("Engine.session is the only SparkSession builder in the program sources") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root))
    def sitesOf(text: String): Seq[String] = scala.jdk.CollectionConverters.IteratorHasAsScala(
      java.nio.file.Files.walk(root).iterator()).asScala
      .filter(p => p.toString.endsWith(".scala") &&
        java.nio.file.Files.readString(p).contains(text))
      .map(p => root.relativize(p).toString).toSeq
    assert(sitesOf("SparkSession.builder") == Seq("graft/core/Engine.scala"))
    // session policy lives in the builder, not in per-call conf writes
    assert(sitesOf("spark.sql.legacy.parquet.nanosAsLong") == Seq("graft/core/Engine.scala"))
  }

  test("Engine.hadoopConf resolves file: paths as a session does, with no session") {
    val conf = graft.core.Engine.hadoopConf()
    assert(conf.get("fs.file.impl") == classOf[graft.core.LocalFs].getName)
    assert(conf.get("fs.file.impl") == spark.sparkContext.hadoopConfiguration.get("fs.file.impl"))
  }

  /** Classes the codegen cache compiled while `f` ran. */
  private def compiles(f: => Unit): Long = {
    val before = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second Source.parquet session reuses the first one's compiled classes") {
    val check = graft.premigration.Checks.all.find(_.name == "orders_without_lines").get
    val first = compiles(check.count(graft.sources.Source.parquet(spark, sfDir)))
    val second = compiles(check.count(graft.sources.Source.parquet(spark, sfDir)))
    assert(second == 0, s"second session compiled $second classes (first: $first)")
  }

  test("a second migration of the same tables compiles no class") {
    def migrate(): Long = compiles {
      val out = java.nio.file.Files.createTempDirectory("graft_codegen").toString
      graft.cli.Main.premigration(spark, sfDir, out)
      graft.cli.Main.fullExtraction(spark, sfDir, out)
      graft.cli.Main.fullLoad(spark, out)
    }
    val first = migrate()
    val second = migrate()
    assert(second == 0, s"second run compiled $second classes (first: $first)")
  }

  test("the reload-script rewriter and the gates import nothing from Spark") {
    // script-sized text, catalog rows and control logic run as plain Scala:
    // a session, plan compiles and jobs cost seconds on a cold JVM for a
    // MB-sized script or a catalog-sized rule list
    Seq("graft/rewrite/Rewriter.scala", "graft/premigration/Gates.scala",
        "graft/rewrite/RuleAssembly.scala", "graft/rewrite/RuleSource.scala").foreach { f =>
      val text = java.nio.file.Files.readString(java.nio.file.Paths.get("src/main/scala", f))
      assert(!text.contains("org.apache.spark"), s"$f uses Spark")
    }
  }

  test("control-file writes replace the file whole and leave no temp sibling") {
    import scala.jdk.CollectionConverters._
    import graft.core.Ctl
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = java.nio.file.Files.createTempDirectory("graft_ctl")
    val f = dir.resolve("ExtractedTables.out").toString
    Ctl.write(conf, f, "old line\nsecond\n")
    Ctl.write(conf, f, "new\n")
    assert(Ctl.readLines(conf, f) == Seq("new"))
    def visible = java.nio.file.Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.endsWith(".crc")).toSet
    assert(visible == Set("ExtractedTables.out"), visible)
    // a temp sibling left by a killed write is neither read nor in the way
    java.nio.file.Files.writeString(dir.resolve(".ExtractedTables.out.tmp"), "trunc")
    assert(Ctl.readLines(conf, f) == Seq("new"))
    Ctl.write(conf, f, "newer\n")
    assert(Ctl.readLines(conf, f) == Seq("newer"))
    assert(visible == Set("ExtractedTables.out"), visible)
  }

  test("identity assignment is dense, unique, and order-stable") {
    val df = Tables.load(spark, sfDir, "customer").orderBy("c_custkey")
    val withId = graft.core.Identity.assign(df, "rid", startAt = 100L)
    val ids = withId.select("rid").collect().map(_.getLong(0)).sorted
    assert(ids.head == 100L && ids.last == 100L + df.count() - 1)
    assert(ids.distinct.length == ids.length)
  }

  test("salted join equals the plain join (skew mitigation is lossless)") {
    val li = Tables.load(spark, sfDir, "lineitem").select("l_orderkey", "l_partkey")
    val part = Tables.load(spark, sfDir, "part").select("p_partkey", "p_brand")
    val plain = li.join(part, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = graft.core.Salting.saltedJoin(li, part, "l_partkey", "p_partkey", salt = 8)
      .groupBy("p_brand").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("approximate distinct stays within 5% of exact (sketch surface)") {
    val li = Tables.load(spark, sfDir, "lineitem")
    val exact = li.select("l_orderkey").distinct().count().toDouble
    val approx = li.agg(
      org.apache.spark.sql.functions.approx_count_distinct(col("l_orderkey"), 0.01))
      .collect()(0).getLong(0).toDouble
    assert(math.abs(approx - exact) / exact < 0.03)
  }

  test("stream feed chunking is gated on the state-store regime") {
    import graft.core.Engine
    // in-memory regime (state fits a quarter heap): single-batch replay —
    // chunking there only multiplies per-batch commit cost (measured:
    // sf10 st6 40.8 s chunked vs 27.1 s single-batch)
    assert(Engine.streamFeedChunks(sfDir, joinBuffered = true,
      maxHeapBytes = Long.MaxValue) == 1)
    // RocksDB regime (projected state over a quarter heap): join-buffered
    // state chunks (≥2 so the watermark advances at all, capped at 16)…
    val chunked = Engine.streamFeedChunks(sfDir, joinBuffered = true,
      maxHeapBytes = 1L)
    assert(chunked >= 2 && chunked <= 16)
    // …but keyed-merge state (sessions, aggs) never does: every batch
    // rewrites the keys it touches (measured: sf100 st5 368 s chunked vs
    // 140 s single-batch, rows_updated 185.9M vs 98.5M)
    assert(Engine.streamFeedChunks(sfDir, joinBuffered = false,
      maxHeapBytes = 1L) == 1)
    // the two policies key on the SAME projection: whenever the provider
    // says in-memory, the feed must be single-batch
    assert(Engine.stateStoreProvider(sfDir, Long.MaxValue) == Engine.HdfsStateStore)
    assert(Engine.stateStoreProvider(sfDir, 1L) == Engine.RocksDbStateStore)
  }

  test("flagship entry returns rows on the smoke tier") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("durable-stage policy projects staged footprint with a multiplier") {
    assume(sys.env.get("SPARK_GRAFT_STAGE").isEmpty)
    val bytes = graft.core.Engine.dataBytes(sfDir)
    assert(bytes > 0)
    // staged footprint = bytes × 4; durable exactly when that crosses
    // heap/2 — so a heap of 7× tier bytes is over the line (4 > 3.5)...
    assert(graft.core.Engine.durableStagePolicy(sfDir, maxHeapBytes = bytes * 7))
    // ...and 9× is under it (4 < 4.5). The multiplier is the fix for the
    // sf100 postmortem: tier bytes alone sat below heap/2 while the staged
    // intermediates still evicted.
    assert(!graft.core.Engine.durableStagePolicy(sfDir, maxHeapBytes = bytes * 9))
  }

  test("session reuse does not flip the durable-stage policy mid-run") {
    val before = spark.conf.getOption("spark.graft.durableStage")
    try {
      // simulate a live session running under the durable policy...
      spark.conf.set("spark.graft.durableStage", "true")
      // ...then a second caller asks for a session keyed on a tiny tier
      // (whose policy would be "local"): getOrCreate reuses, and the
      // staging policy must stay what the session was created with
      val s2 = graft.core.Engine.session("graft-reuse-test", dataDir = Some(sfDir))
      assert(s2.conf.get("spark.graft.durableStage") == "true")
    } finally before match {
      case Some(v) => spark.conf.set("spark.graft.durableStage", v)
      case None => spark.conf.unset("spark.graft.durableStage")
    }
  }

  test("gatedBroadcast hints under the budget and passes through over it") {
    val df = spark.range(10).toDF("id")
    val hinted = graft.core.Engine.gatedBroadcast(df, estimatedBytes = 1L << 20)
    assert(hinted.queryExecution.logical.collectFirst {
      case h: org.apache.spark.sql.catalyst.plans.logical.UnresolvedHint => h
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }.nonEmpty, "under-budget side must carry a broadcast hint")
    // over budget: the SAME frame comes back unhinted (q5's supplier path —
    // the join degrades to shuffled/AQE-chosen instead of a driver-built
    // multi-GB relation at a big tier)
    val big = graft.core.Engine.gatedBroadcast(df, estimatedBytes = 1L << 20,
      budget = 0L)
    assert(big.queryExecution.logical eq df.queryExecution.logical,
      "over-budget side must pass through unhinted")
  }

  test("every oracle name is a declared query and every query runs") {
    val qs = SparkEntry.queries
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet))
    assert(qs.size == SparkEntry.allDefs.size) // no name collisions
  }
}
