package graft

import java.nio.file.{Files, Paths}

import graft.core.{Config, Ctl}
import graft.transfer.Transfer

class TransferCliSpec extends SparkTestBase {

  test("chunked copy splits at the byte cap and merge restores the file") {
    val dir = Files.createTempDirectory("graft_xfer")
    val src = dir.resolve("big.bin")
    val rnd = new scala.util.Random(42)
    val data = new Array[Byte](10 * 1024 * 1024)
    rnd.nextBytes(data)
    Files.write(src, data)
    val parts = Transfer.copyChunked(src, dir.resolve("up"), 3L * 1024 * 1024)
    assert(parts.size == 4) // 10 MB at 3 MB chunks
    assert(parts.map(p => Files.size(p)).sum == data.length)
    assert(parts.dropRight(1).forall(p => Files.size(p) == 3L * 1024 * 1024))
    val merged = dir.resolve("merged.bin")
    Transfer.merge(parts, merged)
    assert(java.util.Arrays.equals(Files.readAllBytes(merged), data))
    assert(parts.forall(p => !Files.exists(p))) // DELETE_BATCH analog
  }

  test("small files copy unsplit") {
    val dir = Files.createTempDirectory("graft_xfer2")
    val src = dir.resolve("small.bin")
    Files.write(src, Array[Byte](1, 2, 3))
    val parts = Transfer.copyChunked(src, dir.resolve("up"), 1024)
    assert(parts.size == 1 && Files.size(parts.head) == 3)
  }

  test("upload validation matches names and sizes") {
    val a = Files.createTempDirectory("graft_va")
    val b = Files.createTempDirectory("graft_vb")
    Files.write(a.resolve("f1"), Array[Byte](1, 2))
    Files.write(a.resolve("f2"), Array[Byte](3))
    Files.write(b.resolve("f1"), Array[Byte](1, 2))
    Files.write(b.resolve("f2"), Array[Byte](3, 4)) // size mismatch
    val (n, m, ok) = Transfer.validate(
      Transfer.listing(spark, a.toString), Transfer.listing(spark, b.toString))
    assert(n == 2 && m == 1 && !ok)
    // a file missing remotely matches nothing; a remote-only file is no
    // stand-in for it
    Files.write(b.resolve("f2"), Array[Byte](3))
    Files.write(a.resolve("f3"), Array[Byte](5, 6, 7))
    Files.write(b.resolve("f4"), Array[Byte](5, 6, 7))
    assert(Transfer.validate(Transfer.listing(spark, a.toString),
      Transfer.listing(spark, b.toString)) == ((3L, 2L, false)))
    Files.delete(a.resolve("f3"))
    assert(Transfer.validate(Transfer.listing(spark, a.toString),
      Transfer.listing(spark, b.toString)) == ((2L, 2L, true)))
    // the listing itself: name-sorted (file_name, size_bytes), no Spark job
    import org.apache.spark.sql.types.{LongType, StringType}
    val listed = Transfer.listing(spark, b.toString)
    assert(listed.schema.map(f => (f.name, f.dataType, f.nullable)) ==
      Seq(("file_name", StringType, true), ("size_bytes", LongType, false)))
    var rows = Seq.empty[(String, Long)]
    assert(jobsOf { rows = listed.collect().map(r => (r.getString(0), r.getLong(1))).toSeq } == 0)
    assert(rows == Seq(("f1", 2L), ("f2", 1L), ("f4", 3L)))
  }

  test("config validation mirrors the reference's gates") {
    assertThrows[IllegalArgumentException](Config.MigrationConfig("/x", clientNumConn = 1))
    assertThrows[IllegalArgumentException](Config.MigrationConfig("/x", batchSizeGb = 50))
    assertThrows[IllegalArgumentException](Config.MigrationConfig("y" * 95))
    assert(Config.MigrationConfig("/data", 2, 0).batchSizeGb == 0)
    assert(Config.MigrationConfig("/data", 4, 200).batchSizeGb == 200)
  }

  test("cli phases run end-to-end and leave the reference's control files") {
    val out = Files.createTempDirectory("graft_cli").toString
    graft.cli.Main.premigration(spark, sfDir, out)
    // every finding line of the sf0.001 audit, pinned value for value
    val findingLines = Seq(
      "customers_without_orders" -> 0, "duplicate_orderkeys" -> 0,
      "empty_documents" -> 0, "empty_tables" -> 0, "future_dates" -> 0,
      "lob_like_columns" -> 1, "negative_balances" -> 11,
      "orders_without_lines" -> 27, "wide_row_tables" -> 2).map { case (c, n) =>
      f"$c%-28s $n%8d  actionRequired=${n > 0}"
    }
    assert(Files.readString(Paths.get(s"$out/pre_migration.out")).linesIterator
      .filterNot(l => l.startsWith("#") || l.startsWith("gate:")).toSeq == findingLines)
    graft.cli.Main.fullExtraction(spark, sfDir, out)
    assert(Files.exists(Paths.get(s"$out/AutoUpdated_Reload.sql")))
    assert(Files.exists(Paths.get(s"$out/Foreign_Key_Constraint.sql")))
    val listed = Files.readAllLines(Paths.get(s"$out/iq_tables.list"))
    val extracted = Files.readAllLines(Paths.get(s"$out/ExtractedTables.out"))
    assert(listed.size == graft.core.Tables.names.size)
    assert(extracted.size == listed.size) // extraction invariant: ⊇ listed
    graft.cli.Main.fullLoad(spark, out)
    val loaded = Files.readAllLines(Paths.get(s"$out/HDL_LoadedTables.out"))
    assert(loaded.size == listed.size)
    assert(loaded.stream().allMatch(_.endsWith(",Y")))
    // byte fidelity through the extract formats: the warehouse copy was
    // built from Extracted_Data (CSV for scalar tables, parquet for
    // array-bearing ones), so values — timestamps, doubles, quoted JSON
    // strings, float arrays — must round-trip exactly
    for (t <- Seq("orders", "events", "embeddings")) {
      val src = graft.core.Tables.load(spark, sfDir, t)
      val wh = spark.read.parquet(s"$out/warehouse/$t")
      assert(wh.schema.map(f => (f.name, f.dataType)) ==
        src.schema.map(f => (f.name, f.dataType)), s"$t schema drifted")
      assert(wh.exceptAll(src).count() == 0 && src.exceptAll(wh).count() == 0,
        s"$t warehouse content != source after extract->load round-trip")
    }
  }

  test("load reads ONLY Extracted_Data: zero source scans, doctored count fails") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val out = Files.createTempDirectory("graft_ctl").toString
    graft.cli.Main.fullExtraction(spark, sfDir, out)
    // census of executions by scanned root path: the extract->load contract
    // means the LOAD phase reads extract artifacts exclusively — the source
    // tables must appear in NO load-phase plan (the old wiring re-read the
    // source, which would mask a corrupted extract file)
    val plans = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
        val scanned = qe.analyzed.collect {
          case lr: LogicalRelation => lr.relation match {
            case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty
          }
        }.flatten.mkString(";")
        plans.add(scanned)
      }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      graft.cli.Main.fullLoad(spark, out)
      def scansOf(frag: String): Int = {
        import scala.jdk.CollectionConverters._
        plans.asScala.toSeq.count(_.contains(frag))
      }
      // listener delivery is async — wait until the artifact reads (which
      // MUST appear: staging writes + verify counts ride them) settle
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def settled(): Boolean = scansOf(s"$out/Extracted_Data/") >= graft.core.Tables.names.size
      while (!settled() && System.nanoTime() < deadline) Thread.sleep(100)
      assert(settled(), "extract-artifact reads never showed up in the scan census")
      graft.core.Tables.names.foreach { t =>
        assert(scansOf(s"$sfDir/$t.parquet") == 0,
          s"load phase scanned SOURCE table $t — data plane not extract-driven")
      }
    } finally spark.listenerManager.unregister(listener)
    // doctor the extract record: the load must FAIL verification against it
    val ctl = Paths.get(s"$out/ExtractedTables.out")
    val doctored = Files.readAllLines(ctl).toArray(Array.empty[String]).map { l =>
      if (l.startsWith("graft.nation,")) {
        val f = l.split(','); s"${f(0)},${f(1)},${f(2).toLong + 7}"
      } else l
    }
    // rewrite through the control-file layer so its checksum stays valid —
    // the scenario is "plausible control file, wrong count", not bit rot
    graft.core.Ctl.write(spark.sparkContext.hadoopConfiguration, ctl.toString,
      doctored.mkString("", "\n", "\n"))
    Files.delete(Paths.get(s"$out/HDL_LoadedTables.out")) // force full reload
    val err = intercept[IllegalArgumentException](graft.cli.Main.fullLoad(spark, out))
    assert(err.getMessage.contains("load verification failed"))
    val loaded = Files.readAllLines(Paths.get(s"$out/HDL_LoadedTables.out"))
    assert(loaded.stream().anyMatch(l => l.startsWith("graft.nation,") && l.endsWith(",N")))
    // load without a prior extraction is refused outright
    val bare = Files.createTempDirectory("graft_noctl").toString
    assertThrows[IllegalArgumentException](graft.cli.Main.fullLoad(spark, bare))
  }

  test("a corrupted extract FILE with an intact manifest count fails the load") {
    import scala.jdk.CollectionConverters._
    val out = Files.createTempDirectory("graft_corrupt").toString
    graft.cli.Main.fullExtraction(spark, sfDir, out)
    // the source tables are now IRRELEVANT to the load — prove it by
    // corrupting extract bytes while every control count stays intact:
    // delete one data file from nation's extract dir (manifest untouched)
    val nationId = Files.readAllLines(Paths.get(s"$out/iq_tables.list")).asScala
      .find(_.startsWith("graft.nation,")).get.split(',')(3)
    val dir = Paths.get(s"$out/Extracted_Data/$nationId")
    val part = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .maxBy(p => Files.size(p)) // drop the biggest shard: guaranteed rows lost
    Files.delete(part)
    val err = intercept[IllegalArgumentException](graft.cli.Main.fullLoad(spark, out))
    assert(err.getMessage.contains("load verification failed"))
    val loaded = Files.readAllLines(Paths.get(s"$out/HDL_LoadedTables.out")).asScala
    assert(loaded.exists(l => l.startsWith("graft.nation,") && l.endsWith(",N")),
      s"nation should have failed verify after losing an extract shard: $loaded")
    // and no half-loaded nation was promoted to the warehouse
    assert(!Files.exists(Paths.get(s"$out/warehouse/nation")))
  }

  /** Fixture data dir: the canonical tables plus one LOB-bearing extra,
    * `attachments.parquet` — the dynamic catalog picks it up with the next
    * table id. Returns the dir and the extra table's rows. */
  private def lobDataDir(): (java.nio.file.Path, org.apache.spark.sql.DataFrame) = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val dataDir = Files.createTempDirectory("graft_lobsf")
    graft.core.Tables.names.foreach { n =>
      Files.copy(Paths.get(s"$sfDir/$n.parquet"), dataDir.resolve(s"$n.parquet"))
    }
    val att = Seq(
      (1L, "a.bin", Array[Byte](1, 2, 3)),
      (2L, "b.bin", Array[Byte](-1, 0, 42, 9)),
      (3L, "no-payload", null.asInstanceOf[Array[Byte]]),
      (4L, "c.bin", Array[Byte](7))
    ).toDF("att_id", "att_name", "payload")
    att.coalesce(1).write.parquet(dataDir.resolve("tmp_att").toString)
    val part = Files.list(dataDir.resolve("tmp_att")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, dataDir.resolve("attachments.parquet"))
    (dataDir, att)
  }

  test("LOB-columned table routes through the per-row file plane and reloads byte-identical") {
    import scala.jdk.CollectionConverters._
    val (dataDir, att) = lobDataDir()
    val out = Files.createTempDirectory("graft_lobcli").toString
    graft.cli.Main.fullExtraction(spark, dataDir.toString, out)
    val listed = Files.readAllLines(Paths.get(s"$out/iq_tables.list")).asScala
    assert(listed.size == graft.core.Tables.names.size + 1)
    val attId = listed.find(_.startsWith("graft.attachments,")).get.split(',')(3)
    // the planner FORCED the per-row path: one file per non-null LOB cell,
    // named <tid>_row<id>.<colId> (payload is column 3)
    val lobFiles = Files.list(Paths.get(s"$out/Extracted_Data/$attId.lob3"))
      .iterator().asScala.map(_.getFileName.toString).filterNot(_.endsWith(".crc")).toSet
    assert(lobFiles == Set(s"${attId}_row1.3", s"${attId}_row2.3", s"${attId}_row4.3"),
      s"unexpected LOB file set: $lobFiles")
    assert(Files.readString(Paths.get(s"$out/Extracted_Data/$attId.manifest.json"))
      .contains("\"format\":\"lob_csv\""))

    graft.cli.Main.fullLoad(spark, out)
    val back = spark.read.parquet(s"$out/warehouse/attachments")
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      att.schema.map(f => (f.name, f.dataType)))
    val rows = back.orderBy("att_id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(java.util.Arrays.equals(rows(0).getAs[Array[Byte]]("payload"), Array[Byte](1, 2, 3)))
    assert(java.util.Arrays.equals(rows(1).getAs[Array[Byte]]("payload"), Array[Byte](-1, 0, 42, 9)))
    assert(rows(2).isNullAt(2), "null LOB cell must reload as null")
    assert(java.util.Arrays.equals(rows(3).getAs[Array[Byte]]("payload"), Array[Byte](7)))
  }

  test("batch mode writes per-batch lists and spills oversize tables to no_extraction.list") {
    import scala.jdk.CollectionConverters._
    val out = Files.createTempDirectory("graft_batch").toString
    val sizes = graft.extract.Extract.workList(graft.sources.Source.parquet(spark, sfDir))
      .map(w => s"graft.${w.name}" -> w.sizeBytes).toMap
    val (bigName, bigSize) = sizes.maxBy(_._2)
    graft.cli.Main.fullExtraction(spark, sfDir, out, batchCapBytes = bigSize - 1)
    val listed = Files.readAllLines(Paths.get(s"$out/iq_tables.list")).asScala
    val batchFiles = new java.io.File(out).listFiles()
      .filter(_.getName.matches("iq_tables_Batch_\\d+\\.list")).sortBy(_.getName)
    assert(batchFiles.nonEmpty, "no batch lists written")
    val batchLines = batchFiles.toSeq.flatMap(f => Files.readAllLines(f.toPath).asScala)
    val spillLines = Files.readAllLines(Paths.get(s"$out/no_extraction.list")).asScala
    // the reference's completeness invariant (migration.py:1817-1846):
    // batch lines + no_extraction lines == iq_tables lines
    assert(batchLines.size + spillLines.size == listed.size,
      s"${batchLines.size} batched + ${spillLines.size} spilled != ${listed.size} listed")
    // every batch respects the byte cap
    batchFiles.foreach { f =>
      val total = Files.readAllLines(f.toPath).asScala.map(_.split(',')(2).toLong).sum
      assert(total <= bigSize - 1, s"${f.getName} over cap: $total")
    }
    // the oversize table spilled (its size exceeds the cap) and was NOT
    // extracted: absent from ExtractedTables.out and from Extracted_Data
    assert(spillLines.exists(_.startsWith(s"$bigName,")), s"$bigName not spilled")
    spillLines.foreach(l => assert(l.split(',')(2).toLong > bigSize - 1))
    val extracted = Files.readAllLines(Paths.get(s"$out/ExtractedTables.out")).asScala
    assert(!extracted.exists(_.startsWith(s"$bigName,")), s"$bigName extracted despite spill")
    val bigId = listed.find(_.startsWith(s"$bigName,")).get.split(',')(3)
    assert(!Files.exists(Paths.get(s"$out/Extracted_Data/$bigId")))
    // without --batchsize nothing batch-related is written (back-compat)
    val plain = Files.createTempDirectory("graft_nobatch").toString
    graft.cli.Main.fullExtraction(spark, sfDir, plain)
    assert(!Files.exists(Paths.get(s"$plain/no_extraction.list")))
    assert(!new java.io.File(plain).listFiles().exists(_.getName.startsWith("iq_tables_Batch_")))
    // re-running into the SAME dir (batching off) clears the stale batch
    // artifacts — otherwise leftover Batch_N/no_extraction files violate
    // the batches+spill==listed invariant on disk
    graft.cli.Main.fullExtraction(spark, sfDir, out)
    assert(!Files.exists(Paths.get(s"$out/no_extraction.list")))
    assert(!new java.io.File(out).listFiles().exists(_.getName.startsWith("iq_tables_Batch_")))
  }

  test("extraction resume skips tables with complete manifests") {
    val out = Files.createTempDirectory("graft_resume").toString
    graft.cli.Main.fullExtraction(spark, sfDir, out)
    // tamper: delete one table's manifest → only that table re-extracts
    val victim = Paths.get(s"$out/Extracted_Data/1001.manifest.json")
    Files.delete(victim)
    val beforeStamp = Files.getLastModifiedTime(
      Paths.get(s"$out/Extracted_Data/1000.manifest.json"))
    graft.cli.Main.fullExtraction(spark, sfDir, out)
    assert(Files.exists(victim)) // re-extracted
    // untouched table's manifest unmodified (it was skipped)
    assert(Files.getLastModifiedTime(
      Paths.get(s"$out/Extracted_Data/1000.manifest.json")) == beforeStamp)
  }

  test("extraction resume resolves only the tables it re-extracts") {
    import scala.jdk.CollectionConverters._
    val out = Files.createTempDirectory("graft_resume_lazy").toString
    graft.cli.Main.fullExtraction(spark, sfDir, out)
    Files.delete(Paths.get(s"$out/Extracted_Data/1001.manifest.json"))
    val work = Files.readAllLines(Paths.get(s"$out/iq_tables.list")).asScala.toSeq
      .map(_.split(','))
      .map(f => graft.extract.Extract.WorkItem(f(0).stripPrefix("graft."),
        f(1).toLong, f(2).toLong, f(3).toInt))
    val victim = work.find(_.tableId == 1001).get.name
    graft.cli.Main.onlyDataFrom(spark, out, 0L, work, n =>
      if (n == victim) graft.core.Tables.load(spark, sfDir, n)
      else throw new IllegalStateException(s"resolved $n, whose extract is complete"))
    assert(Files.exists(Paths.get(s"$out/Extracted_Data/1001.manifest.json")))
  }

  test("premigration audits the extra catalog tables too") {
    def lobLike(dir: String): Long =
      graft.premigration.Checks.findings(graft.sources.Source.parquet(spark, dir))
        .find(_.checkName == "lob_like_columns").get.findingCount
    // attachments.parquet carries one binary column the canonical tables lack
    assert(lobLike(lobDataDir()._1.toString) == lobLike(sfDir) + 1)
  }

  test("premigration audits an extra table whose file name is not a bare identifier") {
    import graft.premigration.Checks
    val dir = lobDataDir()._1.toString
    Files.move(Paths.get(s"$dir/attachments.parquet"), Paths.get(s"$dir/user-files.parquet"))
    def lobLike(d: String): Long = Checks.findings(graft.sources.Source.parquet(spark, d))
      .find(_.checkName == "lob_like_columns").get.findingCount
    assert(lobLike(dir) == lobLike(sfDir) + 1)
  }

  test("resume re-extracts when the manifest names a DIFFERENT table (id remap)") {
    import scala.jdk.CollectionConverters._
    val out = Files.createTempDirectory("graft_remap").toString
    graft.cli.Main.fullExtraction(spark, sfDir, out)
    val listed = Files.readAllLines(Paths.get(s"$out/iq_tables.list")).asScala
    val nationId = listed.find(_.startsWith("graft.nation,")).get.split(',')(3)
    val manifest = Paths.get(s"$out/Extracted_Data/$nationId.manifest.json")
    assert(Files.readString(manifest).contains("\"table\":\"nation\""),
      "manifest must record its table name")
    // simulate an id remap: the dir keyed by nation's id claims to hold a
    // different table's extract — a positional-id resume would silently
    // attribute region's (wrong) artifacts and count to nation
    graft.core.Ctl.write(spark.sparkContext.hadoopConfiguration, manifest.toString,
      Files.readString(manifest).replace("\"table\":\"nation\"", "\"table\":\"region\""))
    val stampOther = Files.getLastModifiedTime(
      Paths.get(s"$out/Extracted_Data/1000.manifest.json"))
    graft.cli.Main.fullExtraction(spark, sfDir, out)
    // the mismatched dir was re-extracted (manifest rewritten with the right
    // name); a matching table was still skipped
    assert(Files.readString(manifest).contains("\"table\":\"nation\""))
    assert(Files.getLastModifiedTime(
      Paths.get(s"$out/Extracted_Data/1000.manifest.json")) == stampOther)
  }

  test("resume re-extracts a legacy manifest with no table name and a truncated one") {
    import scala.jdk.CollectionConverters._
    val out = Files.createTempDirectory("graft_badmanifest").toString
    graft.cli.Main.fullExtraction(spark, sfDir, out)
    val listed = Files.readAllLines(Paths.get(s"$out/iq_tables.list")).asScala
    def manifestOf(table: String) = {
      val id = listed.find(_.startsWith(s"graft.$table,")).get.split(',')(3)
      Paths.get(s"$out/Extracted_Data/$id.manifest.json")
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val extracted = Files.readAllLines(Paths.get(s"$out/ExtractedTables.out"))
    // legacy: a well-formed manifest without the table field
    val legacy = manifestOf("nation")
    graft.core.Ctl.write(conf, legacy.toString,
      Files.readString(legacy).replace("\"table\":\"nation\",", ""))
    // truncated: cut mid-object, once with a matching checksum sidecar and
    // once behind the file system's back (a stale .crc, as a killed write
    // can leave it)
    val truncated = manifestOf("region")
    graft.core.Ctl.write(conf, truncated.toString,
      Files.readString(truncated).take(Files.readString(truncated).length / 2))
    val stale = manifestOf("customer")
    Files.writeString(stale, Files.readString(stale).take(Files.readString(stale).length / 2))
    val kept = manifestOf("supplier")
    val stampKept = Files.getLastModifiedTime(kept)
    graft.cli.Main.fullExtraction(spark, sfDir, out)
    // all three were re-extracted (rewritten whole, with their names); the
    // intact manifest was skipped, and the recorded counts are unchanged
    Seq(legacy -> "nation", truncated -> "region", stale -> "customer").foreach {
      case (m, name) =>
        assert(Files.readString(m).contains(s"\"table\":\"$name\""))
        assert(Files.readString(m).endsWith("\"complete\":true}"))
    }
    assert(Files.getLastModifiedTime(kept) == stampKept)
    assert(Files.readAllLines(Paths.get(s"$out/ExtractedTables.out")) == extracted)
  }

  test("strings with leading and trailing spaces survive extraction and load unchanged") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val dataDir = Files.createTempDirectory("graft_spaces")
    graft.core.Tables.names.foreach { n =>
      Files.copy(Paths.get(s"$sfDir/$n.parquet"), dataDir.resolve(s"$n.parquet"))
    }
    val texts = Seq(" leading", "trailing ", "  both  ")
    // one gzip_csv table and one lob_csv table (whose scalar plane is CSV too)
    val tables = Map(
      "spaced" -> texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "txt"),
      "spaced_lob" -> texts.zipWithIndex.map { case (t, i) => (i.toLong, t, Array[Byte](i.toByte)) }
        .toDF("id", "txt", "payload"))
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.parquet(dataDir.resolve(s"tmp_$name").toString)
      val part = Files.list(dataDir.resolve(s"tmp_$name")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, dataDir.resolve(s"$name.parquet"))
    }
    val out = Files.createTempDirectory("graft_spaces_out").toString
    graft.cli.Main.fullExtraction(spark, dataDir.toString, out)
    graft.cli.Main.fullLoad(spark, out)
    tables.keys.foreach { name =>
      val back = spark.read.parquet(s"$out/warehouse/$name").orderBy("id")
        .select("txt").as[String].collect().toSeq
      assert(back == texts, s"$name lost edge spaces")
    }
  }

  test("LOB extract fails fast on null or duplicate lead-column ids") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lobids").toString
    val dup = Seq((1L, Array[Byte](1)), (1L, Array[Byte](2)), (2L, Array[Byte](3)))
      .toDF("id", "payload")
    val e1 = intercept[IllegalArgumentException](
      graft.extract.Extract.extractLob(dup, s"$dir/dup", 9001))
    assert(e1.getMessage.contains("unique"))
    // the planes ran beside the id check, but no manifest commits them
    assert(!Files.exists(Paths.get(s"$dir/dup.manifest.json")))
    val withNull = Seq((java.lang.Long.valueOf(1L), Array[Byte](1)),
      (null.asInstanceOf[java.lang.Long], Array[Byte](2))).toDF("id", "payload")
    assertThrows[IllegalArgumentException](
      graft.extract.Extract.extractLob(withNull, s"$dir/nul", 9002))
    // negative ids are LEGAL and round-trip (the read-back regexp accepts
    // the sign; a lost sign would read the cell back as NULL silently)
    val neg = Seq((-5L, Array[Byte](7, 8)), (3L, Array[Byte](9))).toDF("id", "payload")
    assert(graft.extract.Extract.extractLob(neg, s"$dir/neg", 9003) == 2)
    val back = graft.extract.Extract.readExtractedAuto(spark, s"$dir/neg")
      .orderBy("id").collect()
    assert(back.map(_.getLong(0)).toSeq == Seq(-5L, 3L))
    assert(java.util.Arrays.equals(back(0).getAs[Array[Byte]]("payload"), Array[Byte](7, 8)))
  }

  test("a re-extract of a LOB table removes stale per-row files and counts what is on disk") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lobstale").toString
    val df = Seq((1L, Array[Byte](1)), (2L, null.asInstanceOf[Array[Byte]]), (3L, Array[Byte](3)))
      .toDF("id", "payload")
    val lob = Paths.get(s"$dir/t.lob2")
    Files.createDirectories(lob)
    Files.write(lob.resolve("9004_row999.2"), Array[Byte](9))
    assert(graft.extract.Extract.extractLob(df, s"$dir/t", 9004) == 3)
    val onDisk = Files.list(lob).iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.endsWith(".crc")).toSet
    assert(onDisk == Set("9004_row1.2", "9004_row3.2"), onDisk)
    val m = graft.extract.Extract.readManifest(spark.sparkContext.hadoopConfiguration, s"$dir/t").get
    assert(m.lobFiles == Map(2 -> onDisk.size.toLong))
  }

  test("a lost LOB file fails the load via the manifest's per-column census") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val dataDir = Files.createTempDirectory("graft_lobloss")
    graft.core.Tables.names.foreach { n =>
      Files.copy(Paths.get(s"$sfDir/$n.parquet"), dataDir.resolve(s"$n.parquet"))
    }
    val att = Seq((1L, Array[Byte](1, 2)), (2L, Array[Byte](3)), (3L, Array[Byte](4)))
      .toDF("att_id", "payload")
    att.coalesce(1).write.parquet(dataDir.resolve("tmp_att").toString)
    val part = Files.list(dataDir.resolve("tmp_att")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, dataDir.resolve("attachments.parquet"))
    val out = Files.createTempDirectory("graft_lobloss_out").toString
    graft.cli.Main.fullExtraction(spark, dataDir.toString, out)
    val attId = Files.readAllLines(Paths.get(s"$out/iq_tables.list")).asScala
      .find(_.startsWith("graft.attachments,")).get.split(',')(3)
    assert(Files.readString(Paths.get(s"$out/Extracted_Data/$attId.manifest.json"))
      .contains("\"lob_files\":{\"2\":3}"))
    // lose one LOB file: scalar row count stays intact, so only the LOB
    // census catches it — the cell would otherwise reload as a silent NULL
    Files.delete(Paths.get(s"$out/Extracted_Data/$attId.lob2/${attId}_row2.2"))
    val err = intercept[IllegalArgumentException](graft.cli.Main.fullLoad(spark, out))
    assert(err.getMessage.contains("load verification failed"))
    val loaded = Files.readAllLines(Paths.get(s"$out/HDL_LoadedTables.out")).asScala
    assert(loaded.exists(l => l.startsWith("graft.attachments,") && l.endsWith(",N")),
      s"attachments should have failed the LOB census: $loaded")
  }

  test("cli rejects phase flag combinations (five-flag mutual exclusion)") {
    // the reference's matrix (migration.py:103-107): pairwise exclusive,
    // one required
    for (combo <- Seq(
        Array("--premigration", "--fullload"),
        Array("--onlyschema", "--onlydata"),
        Array("--onlyschema", "--fullextraction"),
        Array("--onlydata", "--fullextraction"),
        Array("--onlyschema", "--fullload"),
        Array.empty[String]))
      assertThrows[IllegalArgumentException](graft.cli.Main.main(combo))
  }

  test("cli names an unknown flag or a flag missing its value instead of ignoring it") {
    val out = Files.createTempDirectory("graft_badflag").toString
    for ((args, named) <- Seq(
        Array("--onlyschema", "--sfdri", sfDir, "--out", out) -> "--sfdri",
        Array("--onlyschema", "--sfdir", "--out", out) -> "--sfdir",
        Array("--onlyschema", "--out") -> "--out")) {
      val err = intercept[IllegalArgumentException](graft.cli.Main.main(args))
      assert(err.getMessage.contains(named), err.getMessage)
    }
    assert(!Files.exists(Paths.get(s"$out/AutoUpdated_Reload.sql")))
  }

  test("cli --onlyschema with --out makes no temp run dir") {
    import scala.jdk.CollectionConverters._
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def runDirs = Files.list(tmp).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("graft_run")).toSet
    val before = runDirs
    val out = Files.createTempDirectory("graft_cli_schema").resolve("out").toString
    // in-process: this phase builds no session, so it leaves the suite's alone
    graft.cli.Main.main(Array("--onlyschema", "--out", out))
    assert(Files.exists(Paths.get(s"$out/AutoUpdated_Reload.sql")))
    assert(Files.exists(Paths.get(s"$out/Foreign_Key_Constraint.sql")))
    assert(runDirs == before, s"new run dirs: ${runDirs -- before}")
    assert(!spark.sparkContext.isStopped)
  }

  test("--onlyschema in a fresh JVM starts no SparkContext") {
    import scala.jdk.CollectionConverters._
    // a listener class that does not exist: creating a SparkContext throws
    def fork(phase: String, out: String): (Int, String) = {
      val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
      val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx512m") ++ opens ++
        Seq("-Dspark.extraListeners=graft.NoSuchListener",
          "-cp", System.getProperty("java.class.path"),
          "graft.cli.Main", phase, "--sfdir", sfDir, "--out", out)
      val log = Files.createTempFile("graft_fork", ".log")
      val p = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
        .redirectOutput(log.toFile).start()
      if (!p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)) {
        p.destroyForcibly()
        fail(s"$phase did not finish: ${Files.readString(log)}")
      }
      (p.exitValue(), Files.readString(log))
    }
    val root = Files.createTempDirectory("graft_fork_schema")
    val (rc, log) = fork("--onlyschema", root.resolve("schema").toString)
    assert(rc == 0, log)
    // the scripts equal the session route's, byte for byte, rw-r--r--
    graft.cli.Main.onlySchema(spark, root.resolve("session").toString)
    Seq("AutoUpdated_Reload.sql", "Foreign_Key_Constraint.sql").foreach { f =>
      val forked = root.resolve("schema").resolve(f)
      assert(java.util.Arrays.equals(Files.readAllBytes(forked),
        Files.readAllBytes(root.resolve("session").resolve(f))), f)
      assert(mode(forked) == "644", f)
    }
    // the trap works: a phase over table data builds a session and fails
    val (preRc, preLog) = fork("--premigration", root.resolve("pre").toString)
    assert(preRc != 0 && preLog.contains("graft.NoSuchListener"), preLog)
  }

  test("re-running --fullload keeps the Y record of an empty table") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val dataDir = Files.createTempDirectory("graft_emptysf")
    graft.core.Tables.names.foreach { n =>
      Files.copy(Paths.get(s"$sfDir/$n.parquet"), dataDir.resolve(s"$n.parquet"))
    }
    Seq.empty[(Long, String)].toDF("id", "name").coalesce(1)
      .write.parquet(dataDir.resolve("tmp_empty").toString)
    val part = Files.list(dataDir.resolve("tmp_empty")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, dataDir.resolve("zz_empty.parquet"))
    val out = Files.createTempDirectory("graft_emptyload").toString
    graft.cli.Main.fullExtraction(spark, dataDir.toString, out)
    assert(Files.readAllLines(Paths.get(s"$out/ExtractedTables.out")).asScala
      .exists(l => l.startsWith("graft.zz_empty,") && l.endsWith(",0")))
    for (run <- 1 to 3) {
      graft.cli.Main.fullLoad(spark, out)
      val loaded = Files.readAllLines(Paths.get(s"$out/HDL_LoadedTables.out")).asScala
      assert(loaded.contains("graft.zz_empty,0,Y"), s"run $run: $loaded")
      assert(loaded.size == graft.core.Tables.names.size + 1, s"run $run: $loaded")
    }
  }

  test("--onlyschema and --onlydata run their phase subsets only") {
    import scala.jdk.CollectionConverters._
    val so = Files.createTempDirectory("graft_onlyschema").toString
    graft.cli.Main.onlySchema(spark, so)
    assert(Files.exists(Paths.get(s"$so/AutoUpdated_Reload.sql")))
    assert(Files.exists(Paths.get(s"$so/Foreign_Key_Constraint.sql")))
    assert(!Files.exists(Paths.get(s"$so/iq_tables.list")),
      "--onlyschema must not run the data unload")
    assert(!Files.exists(Paths.get(s"$so/ExtractedTables.out")))

    val dd = Files.createTempDirectory("graft_onlydata").toString
    graft.cli.Main.onlyData(spark, graft.sources.Source.parquet(spark, sfDir), dd)
    assert(!Files.exists(Paths.get(s"$dd/AutoUpdated_Reload.sql")),
      "--onlydata must not run the schema unload")
    assert(Files.exists(Paths.get(s"$dd/iq_tables.list")))
    val extracted = Files.readAllLines(Paths.get(s"$dd/ExtractedTables.out")).asScala
    assert(extracted.size == graft.core.Tables.names.size)
    // a data-only unload still feeds the load phase completely
    graft.cli.Main.fullLoad(spark, dd)
    assert(Files.readAllLines(Paths.get(s"$dd/HDL_LoadedTables.out")).asScala
      .forall(_.endsWith(",Y")))
  }

  test("load retries failed tables FIRST on resume (load_schema_and_data.py:854-874)") {
    import graft.load.Loader
    val base = Files.createTempDirectory("graft_retry").toString
    val failedList = s"$base/HDL_FailedTables.out"
    def work(badExpected: Boolean) = Seq("nation", "region", "supplier").map { n =>
      Loader.LoadWork(n,
        () => graft.core.Tables.load(spark, sfDir, n),
        () => {
          val c = graft.core.Tables.load(spark, sfDir, n).count()
          if (badExpected && n == "region") c + 1 else c // inject one failure
        })
    }
    // run 1: region fails verification → recorded in the failed set
    def load(w: Loader.LoadWork) = Loader.loadVerified(w.df(), w.expected(), s"$base/wh/${w.name}")
    val r1 = Loader.loadAllWith(spark.sparkContext, work(badExpected = true), failedList,
      Set.empty, load)
    assert(r1.count(_.ok) == 2 && !r1.find(_.tableName == "region").get.ok)
    assert(Files.readString(Paths.get(failedList)).trim == "region")
    // run 2: region must be retried BEFORE fresh work, then succeed
    val okNames = r1.filter(_.ok).map(_.tableName).toSet
    val r2 = Loader.loadAllWith(spark.sparkContext, work(badExpected = false), failedList,
      okNames, load)
    assert(r2.head.tableName == "region", s"failed table not retried first: $r2")
    assert(r2.forall(_.ok) && r2.map(_.tableName) == Seq("region"))
    assert(Files.readString(Paths.get(failedList)).trim.isEmpty)
    // final reconciliation invariant: everything loaded
    assert(okNames ++ r2.map(_.tableName) == Set("nation", "region", "supplier"))
  }

  /** A path's permission bits, sticky bit included, in octal. */
  private def mode(p: java.nio.file.Path): String =
    Integer.toOctalString(Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)

  test("the session's file: FileSystem is LocalFs and sets the stock local FileSystem's modes") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
    import org.apache.hadoop.fs.permission.FsPermission
    def modesOf(fs: FileSystem): Seq[String] = {
      val dir = Files.createTempDirectory("graft_fsmode")
      def path(name: String) = new Path(dir.resolve(name).toUri)
      val out = fs.create(path("f"), true)
      out.write(1); out.close()
      fs.mkdirs(path("d"))
      fs.create(path("g"), true).close()
      fs.setPermission(path("g"), new FsPermission(Integer.parseInt("600", 8).toShort))
      fs.mkdirs(path("t"))
      fs.setPermission(path("t"), new FsPermission(Integer.parseInt("1777", 8).toShort))
      Seq("f", ".f.crc", "d", "g", "t").map(n => mode(dir.resolve(n)))
    }
    val stockConf = new Configuration()
    stockConf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    val uri = new java.net.URI("file:///")
    // newInstance: the FS cache ignores the conf, so a cached instance could
    // come from whichever code opened a local path first
    val fs = FileSystem.newInstance(uri, spark.sparkContext.hadoopConfiguration)
    val stock = FileSystem.newInstance(uri, stockConf)
    try {
      assert(fs.getClass == classOf[graft.core.LocalFs] && fs.isInstanceOf[LocalFileSystem])
      assert(stock.getClass == classOf[LocalFileSystem])
      val expected = Seq("644", "644", "755", "600", "1777")
      assert(modesOf(stock) == expected)
      assert(modesOf(fs) == expected)
    } finally { fs.close(); stock.close() }
  }

  test("LocalFs refuses a rename onto an existing file and keeps both files") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val fs = FileSystem.newInstance(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    try {
      val dir = Files.createTempDirectory("graft_fsrename")
      Files.writeString(dir.resolve("a"), "a")
      Files.writeString(dir.resolve("b"), "b")
      def path(name: String) = new Path(dir.resolve(name).toUri)
      assert(!fs.rename(path("a"), path("b")))
      assert(Files.readString(dir.resolve("a")) == "a")
      assert(Files.readString(dir.resolve("b")) == "b")
      assert(fs.rename(path("a"), path("c")))
      assert(Files.readString(dir.resolve("c")) == "a" && !Files.exists(dir.resolve("a")))
    } finally fs.close()
  }

  test("extraction and load leave every file rw-r--r-- and every dir rwxr-xr-x") {
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft_modes")
    val out = root.resolve("out")
    Ctl.mkdirs(spark.sparkContext.hadoopConfiguration, out.toString)
    graft.cli.Main.fullExtraction(spark, sfDir, out.toString)
    graft.cli.Main.fullLoad(spark, out.toString)
    val entries = Files.walk(out).iterator().asScala.toSeq
    assert(entries.exists(_.getFileName.toString.endsWith(".crc")))
    val odd = entries.filterNot(p => mode(p) == (if (Files.isDirectory(p)) "755" else "644"))
      .map(p => s"${mode(p)} ${root.relativize(p)}")
    assert(odd.isEmpty, odd.mkString("\n"))
  }

  test("transfer leaves the process-wide FileSystem's checksums enabled") {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft_crc")
    val src = dir.resolve("payload.bin")
    Files.write(src, Array[Byte](1, 2, 3, 4))
    Transfer.copyChunked(src, dir.resolve("up"), 2) // through the cached FS's raw plane
    // the CACHED local FS (what Spark and everyone else shares) must still
    // write .crc siblings — the old code mutated it process-wide
    val cached = new Path(dir.toUri).getFileSystem(new Configuration())
    val probe = new Path(dir.resolve("probe.txt").toUri)
    val out = cached.create(probe, true)
    out.write(42); out.close()
    assert(Files.exists(dir.resolve(".probe.txt.crc")),
      "cached FileSystem stopped writing checksums — transfer mutated the shared instance")
    // and the copy itself wrote raw bytes: no checksum sibling uploaded
    assert(Files.list(dir.resolve("up")).iterator().asScala.map(_.getFileName.toString).toSet ==
      Set("payload.bin.part0", "payload.bin.part1"))
  }

  test("failed promote rename reports !ok, restores previous data, and clears staging") {
    import graft.load.Loader
    import org.apache.hadoop.fs.{FilterFileSystem, Path => HPath}
    val base = Files.createTempDirectory("graft_pfail").toString
    val nation = graft.core.Tables.load(spark, sfDir, "nation")
    assert(Loader.loadVerified(nation, nation.count(), s"$base/nation").ok)
    val raw = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    // promote (staging → final) returns FALSE: the Hadoop failure mode that
    // doesn't throw
    val noPromote = new FilterFileSystem(raw) {
      override def rename(s: HPath, d: HPath): Boolean =
        !s.toString.endsWith(".staging") && super.rename(s, d)
    }
    val r = Loader.loadVerified(nation.limit(5), 5L, s"$base/nation", Some(noPromote))
    assert(!r.ok && r.detail.contains("previous data restored"), r.toString)
    // previous committed copy is back in place, staging did not linger
    assert(spark.read.parquet(s"$base/nation").count() == nation.count())
    assert(!Files.exists(Paths.get(s"$base/nation.staging")))
    assert(!Files.exists(Paths.get(s"$base/nation.old")))
  }

  test("failed promote AND failed restore is surfaced, data parked at .old") {
    import graft.load.Loader
    import org.apache.hadoop.fs.{FilterFileSystem, Path => HPath}
    val base = Files.createTempDirectory("graft_pfail2").toString
    val nation = graft.core.Tables.load(spark, sfDir, "nation")
    assert(Loader.loadVerified(nation, nation.count(), s"$base/nation").ok)
    val raw = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    // both the promote and the .old put-back rename fail (src-based: the
    // promote src is .staging, the restore src is .old)
    val noRenames = new FilterFileSystem(raw) {
      override def rename(s: HPath, d: HPath): Boolean =
        !(s.toString.endsWith(".staging") || s.toString.endsWith(".old")) &&
          super.rename(s, d)
    }
    val r = Loader.loadVerified(nation.limit(5), 5L, s"$base/nation", Some(noRenames))
    assert(!r.ok && r.detail.contains("parked at .old"), r.toString)
    assert(!Files.exists(Paths.get(s"$base/nation.staging"))) // still cleaned
    // committed copy survives at .old; the next (healthy) run recovers it
    assert(Files.exists(Paths.get(s"$base/nation.old")))
    val r2 = Loader.loadVerified(nation, nation.count(), s"$base/nation")
    assert(r2.ok && spark.read.parquet(s"$base/nation").count() == nation.count())
  }

  test("failed crash-recovery restore aborts the load instead of proceeding") {
    import graft.load.Loader
    import org.apache.hadoop.fs.{FilterFileSystem, Path => HPath}
    val base = Files.createTempDirectory("graft_pfail3").toString
    val nation = graft.core.Tables.load(spark, sfDir, "nation")
    assert(Loader.loadVerified(nation, nation.count(), s"$base/nation").ok)
    // crash state: final parked aside, nothing promoted
    Files.move(Paths.get(s"$base/nation"), Paths.get(s"$base/nation.old"))
    val raw = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val noRestore = new FilterFileSystem(raw) {
      override def rename(s: HPath, d: HPath): Boolean =
        !s.toString.endsWith(".old") && super.rename(s, d)
    }
    val r = Loader.loadVerified(nation, nation.count(), s"$base/nation", Some(noRestore))
    assert(!r.ok && r.detail.contains("crash-recovery"), r.toString)
    // the only committed copy is untouched at .old — NOT deleted by a
    // blindly-proceeding load
    assert(Files.exists(Paths.get(s"$base/nation.old")))
  }

  test("promote keeps previous data recoverable at every step (rename-aside)") {
    import graft.load.Loader
    val base = Files.createTempDirectory("graft_promote").toString
    val nation = graft.core.Tables.load(spark, sfDir, "nation")
    val r1 = Loader.loadVerified(nation, nation.count(), s"$base/nation")
    assert(r1.ok)
    // simulate a crash that happened between the two renames: final moved
    // aside, staging never promoted — the next load must recover .old
    Files.move(Paths.get(s"$base/nation"), Paths.get(s"$base/nation.old"))
    val r2 = Loader.loadVerified(nation.limit(5), 99L, s"$base/nation") // fails verify
    assert(!r2.ok)
    // previous committed data was restored from .old despite the failed load
    assert(spark.read.parquet(s"$base/nation").count() == 25)
  }

  /** sf0.001's control files, as a serial run of the extract and load
    * phases writes them (work-list order, ids 1000 + catalog index). */
  private val Sf0001IqTables = Seq(
    "graft.customer,150,12600,1002,N", "graft.documents,500,56000,1008,N",
    "graft.embeddings,500,134000,1009,N", "graft.events,1000,96000,1007,N",
    "graft.lineitem,6000,792000,1006,N", "graft.nation,25,1000,1001,N",
    "graft.orders,1500,144000,1005,N", "graft.part,200,23200,1004,N",
    "graft.region,5,180,1000,N", "graft.supplier,10,520,1003,N")
  private val Sf0001Extracted = Seq(
    "graft.customer,1002,150", "graft.documents,1008,500", "graft.embeddings,1009,500",
    "graft.events,1007,1000", "graft.lineitem,1006,6000", "graft.nation,1001,25",
    "graft.orders,1005,1500", "graft.part,1004,200", "graft.region,1000,5",
    "graft.supplier,1003,10")
  private val Sf0001Loaded = Seq(
    "graft.customer,150,Y", "graft.documents,500,Y", "graft.embeddings,500,Y",
    "graft.events,1000,Y", "graft.lineitem,6000,Y", "graft.nation,25,Y",
    "graft.orders,1500,Y", "graft.part,200,Y", "graft.region,5,Y", "graft.supplier,10,Y")

  private def lines(path: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get(path)).asScala.toSeq
  }

  test("concurrent extraction and load write the serial run's control files") {
    val out = Files.createTempDirectory("graft_ctl_lines").toString
    graft.cli.Main.fullExtraction(spark, sfDir, out)
    assert(lines(s"$out/iq_tables.list") == Sf0001IqTables)
    assert(lines(s"$out/ExtractedTables.out") == Sf0001Extracted)
    graft.cli.Main.fullLoad(spark, out)
    assert(lines(s"$out/HDL_LoadedTables.out") == Sf0001Loaded)
  }

  test("a table whose extract throws: the others finish, its error is rethrown, resume completes") {
    import scala.jdk.CollectionConverters._
    import graft.extract.Extract
    val conf = spark.sparkContext.hadoopConfiguration
    val out = Files.createTempDirectory("graft_extract_fail").toString
    val src = graft.sources.Source.parquet(spark, sfDir)
    val work = Extract.workList(src)
    // the smallest table is submitted last, after every other one started
    val victim = Extract.lptOrder(work).last
    val err = intercept[IllegalStateException](graft.cli.Main.onlyDataFrom(spark, out, 0L, work,
      n => if (n == victim.name) throw new IllegalStateException(s"cannot read $n") else src.read(n)))
    assert(err.getMessage == s"cannot read ${victim.name}")
    work.filterNot(_ == victim).foreach { w =>
      assert(Extract.readManifest(conf, s"$out/Extracted_Data/${w.tableId}").exists(_.complete),
        s"${w.name} did not finish")
    }
    assert(!Files.exists(Paths.get(s"$out/ExtractedTables.out")))
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.getName.startsWith(graft.core.Workers.ThreadPrefix) && t.isAlive),
      "a pool thread outlived the phase")
    // the resume extracts only the failed table
    graft.cli.Main.onlyDataFrom(spark, out, 0L, work, n =>
      if (n == victim.name) src.read(n)
      else throw new IllegalStateException(s"resolved $n, whose extract is complete"))
    assert(lines(s"$out/ExtractedTables.out") == Sf0001Extracted)
  }

  test("extraction deletes the extracts of table ids in no work-list item") {
    import scala.jdk.CollectionConverters._
    val out = Files.createTempDirectory("graft_stale_ids").toString
    graft.cli.Main.fullExtraction(spark, sfDir, out)
    val root = Paths.get(s"$out/Extracted_Data")
    def entries = Files.list(root).iterator().asScala.map(_.getFileName.toString).toSet
    val current = entries
    val stamps = current.map(n => n -> Files.getLastModifiedTime(root.resolve(n))).toMap
    // a previous run's table 2000: its dir, manifest, LOB dir and checksum
    Files.createDirectories(root.resolve("2000"))
    Files.writeString(root.resolve("2000/part-00000.csv.gz"), "x")
    Files.createDirectories(root.resolve("2000.lob3"))
    Files.writeString(root.resolve("2000.manifest.json"), "{}")
    Files.writeString(root.resolve(".2000.manifest.json.crc"), "x")
    graft.cli.Main.onlyData(spark, graft.sources.Source.parquet(spark, sfDir), out)
    assert(entries == current)
    current.foreach(n => assert(Files.getLastModifiedTime(root.resolve(n)) == stamps(n), n))
    assert(lines(s"$out/ExtractedTables.out") == Sf0001Extracted)
  }
}
