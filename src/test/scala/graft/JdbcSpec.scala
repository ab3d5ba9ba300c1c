package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.extract.Extract
import graft.sources.{Jdbc, Source}

/** S1/S16 live mode against embedded Derby (no server in the sandbox). */
class JdbcSpec extends SparkTestBase {

  private lazy val url =
    Jdbc.derbyUrl(java.nio.file.Files.createTempDirectory("graft_jdbc_spec").toString)

  test("JDBC write + read round-trips a table") {
    val supplier = Tables.load(spark, sfDir, "supplier")
      .select("s_suppkey", "s_name", "s_nationkey")
    Jdbc.write(supplier, url, "supplier_live")
    val back = Jdbc.read(spark, url, "supplier_live")
    assert(back.count() == supplier.count())
    assert(back.columns.map(_.toLowerCase).sorted.toSeq ==
      Seq("s_name", "s_nationkey", "s_suppkey"))
    val a = supplier.orderBy("s_suppkey").collect().map(_.toSeq)
    val b = back.select("s_suppkey", "s_name", "s_nationkey")
      .orderBy("s_suppkey").collect().map(_.toSeq)
    assert(a.sameElements(b))
  }

  test("partitioned JDBC read opens range partitions and matches the plain read") {
    val region = Tables.load(spark, sfDir, "region")
    Jdbc.write(region.select("r_regionkey", "r_name"), url, "region_live")
    val part = Jdbc.readPartitioned(spark, url, "region_live",
      "r_regionkey", lower = 0L, upper = 4L, numPartitions = 3)
    assert(part.rdd.getNumPartitions == 3, "bounds did not split the read")
    val plain = Jdbc.read(spark, url, "region_live")
    assert(part.orderBy("r_regionkey").collect().map(_.toSeq).toSeq ==
      plain.orderBy("r_regionkey").collect().map(_.toSeq).toSeq)
  }

  test("append mode accumulates; overwrite replaces (load semantics)") {
    val nation = Tables.load(spark, sfDir, "nation").select("n_nationkey", "n_name")
    Jdbc.write(nation, url, "nation_modes")
    Jdbc.write(nation, url, "nation_modes", SaveMode.Append)
    assert(Jdbc.read(spark, url, "nation_modes").count() == 2 * nation.count())
    Jdbc.write(nation, url, "nation_modes")
    assert(Jdbc.read(spark, url, "nation_modes").count() == nation.count())
  }

  test("readAuto opens range partitions on the first integral key, falls back when none") {
    import spark.implicits._
    val nation = Tables.load(spark, sfDir, "nation")
    Jdbc.write(nation, url, "nation_auto")
    val auto = Jdbc.readAuto(spark, url, "nation_auto", numPartitions = 6)
    assert(auto.rdd.getNumPartitions == 6, "integral key not range-partitioned")
    assert(auto.orderBy("n_nationkey").collect()
        .map(_.getAs[Number]("n_nationkey").longValue()).toSeq ==
      nation.orderBy("n_nationkey").collect()
        .map(_.getAs[Number]("n_nationkey").longValue()).toSeq)
    // no integral column -> the STRING path takes over (round 7): range
    // predicates over the first string column, still every row exactly once
    Jdbc.write(nation.select(col("n_name")), url, "nation_noint")
    val fb = Jdbc.readAuto(spark, url, "nation_noint", numPartitions = 6)
    assert(fb.rdd.getNumPartitions > 1, "string-keyed table not parallelized")
    assert(fb.count() == nation.count())
    assert(fb.select("n_name").exceptAll(nation.select("n_name")).count() == 0)
    // empty table -> bounds are null -> fallback, not a crash
    Jdbc.write(nation.filter(lit(false)), url, "nation_empty")
    assert(Jdbc.readAuto(spark, url, "nation_empty", numPartitions = 4).count() == 0)
  }

  test("readAuto splits a string-keyed table into range-predicate partitions") {
    import spark.implicits._
    // no integral column anywhere: the old fallback funneled this through
    // ONE connection; the reference extracts every table at parallel degree
    // 64 regardless of key shape (migration.py:2145,2183)
    val rows = (('a' to 'z').map(c => s"${c}name") :+ null)
      .map(k => (k, s"payload-$k")).toDF("s_key", "s_val")
    Jdbc.write(rows, url, "str_keyed")
    val auto = Jdbc.readAuto(spark, url, "str_keyed", numPartitions = 4)
    assert(auto.rdd.getNumPartitions > 1, "string key not range-partitioned")
    // partition-union exactness: every row exactly once, NULL key included
    val plain = Jdbc.read(spark, url, "str_keyed")
    assert(auto.count() == 27)
    assert(auto.exceptAll(plain).count() == 0 && plain.exceptAll(auto).count() == 0)
    // constant key -> no usable split -> plain read, not a crash
    Jdbc.write(Seq.fill(5)(("same", 1)).toDF("k", "v").select(col("k")), url, "str_const")
    assert(Jdbc.readAuto(spark, url, "str_const", 4).count() == 5)
    // keys containing quotes: boundary literals must escape cleanly
    // (predicates are injected as raw SQL text into the remote WHERE)
    val quoted = Seq("o'brien", "o'connor", "d'arcy", "smith", "zo'e")
      .map(k => (k, 1)).toDF("q_key", "q_val")
    Jdbc.write(quoted, url, "str_quoted")
    val qAuto = Jdbc.readAuto(spark, url, "str_quoted", numPartitions = 3)
    assert(qAuto.count() == 5)
    assert(qAuto.exceptAll(Jdbc.read(spark, url, "str_quoted")).count() == 0)
  }

  test("stringRangePredicates cover the space once, quote-escape, and degrade to empty") {
    val preds = Jdbc.stringRangePredicates("k", "alpha", "zulu", 4)
    assert(preds.size >= 2 && preds.size <= 4)
    assert(preds.head.contains("IS NULL"), "NULL keys must ride the first partition")
    assert(preds.count(_.contains(">=")) == preds.size - 1)
    assert(Jdbc.stringRangePredicates("k", "same", "same", 4).isEmpty)
    assert(Jdbc.stringRangePredicates("k", "b", "a", 4).isEmpty)
    assert(Jdbc.stringRangePredicates("k", "a", "z", 1).isEmpty)
  }

  test("readAuto range-partitions a DECIMAL(p,0) key like an integral one") {
    // NUMERIC(n,0) primary keys are the common shape on the engines the
    // reference migrates from — they must hit the integral branch, not
    // fall through to the string path
    val nation = Tables.load(spark, sfDir, "nation")
      .select(col("n_nationkey").cast("decimal(12,0)").as("nk"), col("n_name"))
    Jdbc.write(nation, url, "nation_deckey")
    val auto = Jdbc.readAuto(spark, url, "nation_deckey", numPartitions = 5)
    assert(auto.rdd.getNumPartitions == 5, "decimal key not range-partitioned")
    val plain = Jdbc.read(spark, url, "nation_deckey")
    assert(auto.count() == 25)
    assert(auto.exceptAll(plain).count() == 0 && plain.exceptAll(auto).count() == 0)
  }

  test("readAuto splits a DECIMAL(20,0) key into reconciled range predicates") {
    import spark.implicits._
    // precision > 18 overflows the long-bounds form — the old cap funneled
    // such tables through ONE connection; keys this wide are exactly the
    // surrogate-id shape big IQ tables carry
    val rows = (1 to 40)
      .map(i => (BigDecimal(s"98765432109876543${210 + i}"), s"payload-$i"))
      .toDF("big_id", "val")
      .select(col("big_id").cast("decimal(20,0)").as("big_id"), col("val"))
    Jdbc.write(rows, url, "dec20_keyed")
    val auto = Jdbc.readAuto(spark, url, "dec20_keyed", numPartitions = 4)
    assert(auto.rdd.getNumPartitions > 1, "DECIMAL(20,0) key not range-partitioned")
    val plain = Jdbc.read(spark, url, "dec20_keyed")
    assert(auto.count() == 40)
    assert(auto.exceptAll(plain).count() == 0 && plain.exceptAll(auto).count() == 0)
  }

  test("predicate count reconciliation rejects overlapping splits, accepts exact ones") {
    import spark.implicits._
    val rows = ('a' to 'j').map(c => (s"$c-key", 1)).toDF("rk", "rv")
    Jdbc.write(rows, url, "recon_t")
    // an exact partition of the key space sums to the table count (the
    // key rides the same LOB-safe cast as strKeySql (Derby stores
    // StringType as CLOB, which rejects bare comparisons))
    val exact = Seq("""CAST("rk" AS VARCHAR(128)) < 'f' OR "rk" IS NULL""", """CAST("rk" AS VARCHAR(128)) >= 'f'""")
    assert(Jdbc.predicatesCoverExactly(url, "recon_t", exact))
    // overlapping ranges (the collation-mismatch failure shape: a boundary
    // row matching two predicates) over-count and must be rejected
    val overlap = Seq("""CAST("rk" AS VARCHAR(128)) < 'f' OR "rk" IS NULL""", """CAST("rk" AS VARCHAR(128)) >= 'e'""")
    assert(!Jdbc.predicatesCoverExactly(url, "recon_t", overlap))
    // a gap (zero-counted rows) under-counts and must be rejected too
    val gap = Seq("""CAST("rk" AS VARCHAR(128)) < 'c' OR "rk" IS NULL""", """CAST("rk" AS VARCHAR(128)) >= 'f'""")
    assert(!Jdbc.predicatesCoverExactly(url, "recon_t", gap))
  }

  test("renameTable routes dialect syntax and swaps the table") {
    import spark.implicits._
    Jdbc.write(Seq((1, "x")).toDF("a", "b"), url, "ren_src")
    Jdbc.execute(url, "DROP TABLE ren_dst", ignoreMissingTable = true)
    Jdbc.renameTable(url, "ren_src", "ren_dst")
    assert(Jdbc.read(spark, url, "ren_dst").count() == 1)
    assert(!Jdbc.listTables(url).exists(_.equalsIgnoreCase("ren_src")))
  }

  test("readAuto partitions a timestamp-keyed table via temporal bounds") {
    // no integral column, but a timestamp one: the temporal branch must
    // take it (preferred over the string path — real time-series tables
    // split naturally on their clock)
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("ts"), col("event_type")).limit(500)
    Jdbc.write(ev, url, "events_ts")
    val auto = Jdbc.readAuto(spark, url, "events_ts", numPartitions = 4)
    assert(auto.rdd.getNumPartitions == 4, "timestamp key not range-partitioned")
    val plain = Jdbc.read(spark, url, "events_ts")
    assert(auto.count() == plain.count())
    assert(auto.exceptAll(plain).count() == 0 && plain.exceptAll(auto).count() == 0)
    // constant timestamp -> falls through (string branch picks event_type)
    Jdbc.write(ev.withColumn("ts", lit("2020-01-01 00:00:00").cast("timestamp")),
      url, "events_ts_const")
    assert(Jdbc.readAuto(spark, url, "events_ts_const", 4).count() == plain.count())
  }

  test("write probe creates and drops a real table through the connection") {
    assert(Jdbc.probeWrite(url), "probe failed on a writable live engine")
    assert(!Jdbc.listTables(url).exists(_.toUpperCase.contains("GRAFT_WRITE_PROBE")),
      "probe table leaked")
    // unreachable engine -> probe is false, not a crash
    assert(!Jdbc.probeWrite("jdbc:derby:/nonexistent/nope"))
  }

  test("JDBC load recovers an interrupted promote before reloading") {
    import spark.implicits._
    val nation = Tables.load(spark, sfDir, "nation").select("n_nationkey", "n_name")
    // committed state, then simulate a crash that happened between the
    // promote's DROP and RENAME: committed table gone, data only in staging
    assert(graft.load.Loader.loadVerifiedJdbc(nation, nation.count(),
      url, "crash_nation").ok)
    Jdbc.write(Jdbc.read(spark, url, "crash_nation"), url, "crash_nation_staging")
    Jdbc.execute(url, "DROP TABLE crash_nation")
    // next load FAILS its verify (wrong expected): recovery must first
    // finish the interrupted rename so the committed copy survives
    val r = graft.load.Loader.loadVerifiedJdbc(nation.limit(3), 999L,
      url, "crash_nation")
    assert(!r.ok)
    assert(Jdbc.read(spark, url, "crash_nation").count() == nation.count(),
      "interrupted promote not recovered — committed table lost")
    assert(!Jdbc.listTables(url).exists(_.toUpperCase.contains("CRASH_NATION_STAGING")))
  }

  test("live-JDBC CLI mode: catalog-driven extract and load back end-to-end") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // a dedicated live "server" seeded with three user tables
    val liveUrl = Jdbc.derbyUrl(Files.createTempDirectory("graft_jdbc_cli").toString)
    val seed = Seq("nation", "region", "supplier")
    seed.foreach { n =>
      // drop columns JDBC sinks can't carry losslessly in this fixture: none
      Jdbc.write(Tables.load(spark, sfDir, n), liveUrl, n)
    }
    val out = Files.createTempDirectory("graft_jdbc_out").toString
    // extraction: the table LIST must come from the connection's metadata,
    // not from any parquet fixture
    graft.cli.Main.onlyDataJdbc(spark, liveUrl, out)
    val listed = Files.readAllLines(Paths.get(s"$out/iq_tables.list")).asScala
    assert(listed.map(_.split(',')(0)).sorted == seed.map(n => s"graft.$n").sorted,
      s"live inventory mismatch: $listed")
    val extracted = Files.readAllLines(Paths.get(s"$out/ExtractedTables.out")).asScala
    assert(extracted.size == seed.size)
    // mutate the live tables so a source-reading load would be detectable,
    // then load back: data must come from Extracted_Data, and land via the
    // staging-table promote
    Jdbc.execute(liveUrl, "DELETE FROM nation")
    graft.cli.Main.fullLoadJdbc(spark, out, liveUrl)
    val loaded = Files.readAllLines(Paths.get(s"$out/HDL_LoadedTables.out")).asScala
    assert(loaded.size == seed.size && loaded.forall(_.endsWith(",Y")), s"$loaded")
    val nation = Tables.load(spark, sfDir, "nation")
    val back = Jdbc.read(spark, liveUrl, "nation")
    assert(back.count() == nation.count(), "emptied live table not restored from extracts")
    assert(back.exceptAll(nation).count() == 0 && nation.exceptAll(back).count() == 0)
    // no staging residue after promote
    assert(!Jdbc.listTables(liveUrl).exists(_.toLowerCase.contains("_staging")))
    // a doctored extract record fails the JDBC load verify and leaves the
    // committed table intact (staging dropped, not promoted)
    val ctl = Paths.get(s"$out/ExtractedTables.out")
    val doctored = Files.readAllLines(ctl).asScala.map { l =>
      if (l.startsWith("graft.region,")) {
        val f = l.split(','); s"${f(0)},${f(1)},${f(2).toLong + 3}"
      } else l
    }
    graft.core.Ctl.write(spark.sparkContext.hadoopConfiguration, ctl.toString,
      doctored.mkString("", "\n", "\n"))
    Files.delete(Paths.get(s"$out/HDL_LoadedTables.out"))
    val err = intercept[IllegalArgumentException](
      graft.cli.Main.fullLoadJdbc(spark, out, liveUrl))
    assert(err.getMessage.contains("load verification failed"))
    assert(Jdbc.read(spark, liveUrl, "region").count() ==
      Tables.load(spark, sfDir, "region").count())
    assert(!Jdbc.listTables(liveUrl).exists(_.toLowerCase.contains("_staging")))
  }

  test("live inventory counts each table with one plain server query") {
    val region = Tables.load(spark, sfDir, "region")
    Jdbc.write(region, url, "region_inv")
    assert(Jdbc.count(url, "region_inv") == region.count())
    // the full inventory path: current-schema listing + server count +
    // width from the JDBC relation's schema
    val items = Source.live(spark, url)(Extract.workList)
    val inv = items.find(_.name == "region_inv").get
    assert(inv.rowCount == region.count())
    assert(inv.sizeBytes == inv.rowCount *
      graft.core.Catalog.rowWidth(Jdbc.read(spark, url, "region_inv").schema))
    assert(inv.sizeBytes > 0)
  }

  /** Spark jobs `f` starts on this thread, counted through a job group. */
  test("catalog-sized server questions run no Spark job") {
    import spark.implicits._
    val liveUrl = Jdbc.derbyUrl(
      java.nio.file.Files.createTempDirectory("graft_jdbc_nojobs").toString)
    Jdbc.write(Tables.load(spark, sfDir, "nation"), liveUrl, "nation")
    Jdbc.write(Seq("alpha", "bravo", "charlie", "delta", "echo").toDF("s_key"),
      liveUrl, "str_keyed")
    Jdbc.execute(liveUrl,
      """CREATE TABLE graft_syscol ("table_name" VARCHAR(128), "width" INT)""")
    Jdbc.write(Seq(("nation", 40)).toDF("table_name", "width"), liveUrl,
      "graft_syscol", SaveMode.Append)
    // the live inventory (listing, counts, schemas) and readAuto's bounds,
    // string bounds and predicate-coverage counts: all on the connection
    var intRead, strRead: org.apache.spark.sql.DataFrame = null
    assert(jobsOf {
      Source.live(spark, liveUrl)(Extract.workList)
      intRead = Jdbc.readAuto(spark, liveUrl, "nation", numPartitions = 4)
      strRead = Jdbc.readAuto(spark, liveUrl, "str_keyed", numPartitions = 3)
    } == 0)
    assert(intRead.rdd.getNumPartitions == 4, "integral key not range-partitioned")
    assert(strRead.rdd.getNumPartitions > 1, "string key not range-partitioned")
    // the load's verify is one server-side COUNT(*): the load runs exactly
    // the jobs of its data write
    val rows = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    val writeJobs = jobsOf(Jdbc.write(rows, liveUrl, "loaded_probe"))
    assert(writeJobs > 0)
    var result: graft.load.Loader.LoadResult = null
    assert(jobsOf {
      result = graft.load.Loader.loadVerifiedJdbc(rows, 3L, liveUrl, "loaded")
    } == writeJobs)
    assert(result.ok && result.loaded == 3L)
  }

  /** A fresh Derby database holding the sf0.001 tables Derby can carry
    * (Derby has no array type, so `embeddings` stays out). */
  private def scalarServer(prefix: String): String = {
    val liveUrl = Jdbc.derbyUrl(java.nio.file.Files.createTempDirectory(prefix).toString)
    Tables.names.filterNot(_ == "embeddings")
      .foreach(n => Jdbc.write(Tables.load(spark, sfDir, n), liveUrl, n))
    liveUrl
  }

  test("premigration --jdbc audits the live server and starts no Spark job") {
    import java.nio.file.{Files, Paths}
    import graft.premigration.Checks
    val liveUrl = scalarServer("graft_jdbc_audit")
    // a defect only the server has: one order key stored twice
    Jdbc.execute(liveUrl, """INSERT INTO orders SELECT * FROM orders
      WHERE "o_orderkey" = (SELECT MIN("o_orderkey") FROM orders)""")
    val out = Files.createTempDirectory("graft_jdbc_audit_out").toString
    // no parquet directory at all: every finding must come from the server
    graft.cli.Main.premigration(spark, "/nonexistent", out, liveUrl)
    val report = Files.readString(Paths.get(s"$out/pre_migration.out"))
    assert(report.linesIterator.contains(
      f"${"duplicate_orderkeys"}%-28s ${1}%8d  actionRequired=true"), report)
    var live: Seq[Checks.Finding] = Nil
    assert(jobsOf { live = Source.live(spark, liveUrl)(Checks.findings) } == 0)
    assert(live.find(_.checkName == "duplicate_orderkeys").get.findingCount == 1)
  }

  test("live and parquet audits agree on the same tables") {
    import graft.premigration.Checks
    val liveUrl = scalarServer("graft_jdbc_parity")
    val live = Source.live(spark, liveUrl)(Checks.findings)
    val parquet = Checks.findings(Source.parquet(spark, sfDir))
    // wide_row_tables and lob_like_columns read the schemas, and Derby's
    // differ: it holds no `embeddings` (no array type), so the server has
    // one table and one array column fewer than the parquet directory
    val schemaChecks = Set("wide_row_tables", "lob_like_columns")
    assert(live.filterNot(f => schemaChecks(f.checkName)) ==
      parquet.filterNot(f => schemaChecks(f.checkName)))
    assert(live.size == Checks.all.size && parquet.size == Checks.all.size)
  }

  test("live and parquet sources give the same work list, and the live listing starts no Spark job") {
    val liveUrl = scalarServer("graft_jdbc_worklist")
    var live: Seq[Extract.WorkItem] = Nil
    assert(jobsOf { live = Source.live(spark, liveUrl)(Extract.workList) } == 0)
    val parquet = Extract.workList(Source.parquet(spark, sfDir)).filterNot(_.name == "embeddings")
    assert(live.map(w => (w.name, w.rowCount)) == parquet.map(w => (w.name, w.rowCount)))
    assert(live.map(_.tableId) == (1000 until 1000 + live.size))
  }
}
