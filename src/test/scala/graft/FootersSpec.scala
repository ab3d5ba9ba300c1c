package graft

import java.nio.file.Files

import scala.util.{Failure, Success}

import graft.core.{Footers, Tables, Workers}
import graft.extract.Extract
import graft.load.Loader
import graft.sources.Source

/** Catalog-sized questions about parquet answered from footers, and the
  * per-call worker pool the extract and load phases run tables on. */
class FootersSpec extends SparkTestBase {

  /** Spark reads every column as nullable, whatever the footer declares. */
  private def readWith(path: String, f: Footers.Summary) =
    spark.read.schema(f.schema).parquet(path).schema

  test("footers give every sf0.001 table's inferred schema and exact row count") {
    Tables.names.foreach { n =>
      val path = Tables.path(sfDir, n)
      val f = Footers.read(spark, path).get
      val inferred = spark.read.parquet(path)
      assert(readWith(path, f) == inferred.schema, n)
      assert(f.rows == inferred.count(), n)
    }
  }

  test("footers count a 0-row table and sum a 3-file directory") {
    val base = Files.createTempDirectory("graft_footers").toString
    spark.range(0).selectExpr("id", "CAST(id AS STRING) AS s").write.parquet(s"$base/empty")
    val empty = Footers.read(spark, s"$base/empty").get
    assert(empty.rows == 0)
    assert(readWith(s"$base/empty", empty) == spark.read.parquet(s"$base/empty").schema)
    spark.range(0, 1000, 1, 3).write.parquet(s"$base/three")
    assert(new java.io.File(s"$base/three").listFiles()
      .count(_.getName.startsWith("part-")) == 3)
    assert(Footers.read(spark, s"$base/three").get.rows == 1000)
  }

  test("a partitioned or missing path is left to Spark's own listing") {
    val base = Files.createTempDirectory("graft_footers_parted").toString
    spark.range(10).selectExpr("id", "id % 2 AS k").write.partitionBy("k")
      .parquet(s"$base/parted.parquet")
    assert(Footers.read(spark, s"$base/parted.parquet").isEmpty)
    assert(Footers.read(spark, s"$base/missing.parquet").isEmpty)
    // Tables.load falls back to inference, which discovers the partition column
    val parted = Tables.load(spark, base, "parted")
    assert(parted.columns.toSet == Set("id", "k") && parted.count() == 10)
  }

  test("the parquet source's inventory starts no Spark job") {
    var work: Seq[Extract.WorkItem] = Nil
    assert(jobsOf { work = Extract.workList(Source.parquet(spark, sfDir)) } == 0)
    Tables.names.foreach { n =>
      assert(work.find(_.name == n).get.rowCount == Tables.load(spark, sfDir, n).count(), n)
    }
  }

  test("load verify counts the staged footers: the write is its only job") {
    val base = Files.createTempDirectory("graft_verify_jobs").toString
    val nation = Tables.load(spark, sfDir, "nation")
    val n = nation.count()
    val writeJobs = jobsOf(nation.write.parquet(s"$base/probe"))
    var ok: Loader.LoadResult = null
    assert(jobsOf { ok = Loader.loadVerified(nation, n, s"$base/good") } == writeJobs)
    assert(ok.ok && ok.loaded == n)
    // a doctored expected count still fails, and staging does not linger
    val bad = Loader.loadVerified(nation, n + 1, s"$base/bad")
    assert(!bad.ok && bad.loaded == n && bad.detail.contains("count mismatch"))
    assert(!new java.io.File(s"$base/bad").exists)
    assert(!new java.io.File(s"$base/bad.staging").exists)
  }

  private def poolThreadsAlive: Boolean = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.getName.startsWith(Workers.ThreadPrefix) && t.isAlive)
  }

  test("workers start no new item after a failure and return outcomes in item order") {
    val secondStarted = new java.util.concurrent.CountDownLatch(1)
    val outcomes = Workers.run(1 to 10, threads = 2) { i =>
      if (i == 1) {
        secondStarted.await()
        throw new IllegalStateException("boom")
      }
      if (i == 2) {
        secondStarted.countDown()
        Thread.sleep(300) // still running when item 1 fails
      }
      i
    }
    assert(outcomes(1) == Success(2), "a running item must finish")
    assert(outcomes.drop(2).forall {
      case Failure(_: Workers.NotStarted) => true
      case _ => false
    }, outcomes)
    assert(Workers.firstFailure(outcomes).map(_.getMessage).contains("boom"))
    assert(!poolThreadsAlive)
    assert(Workers.run(Seq("a", "b", "c"), threads = 3)(_.toUpperCase).map(_.get) ==
      Seq("A", "B", "C"))
  }

  test("a fatal throwable stops the pool and is rethrown as itself") {
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val fatal = new LinkageError("fatal")
    val thrown = intercept[LinkageError](Workers.run(1 to 10, threads = 2) { i =>
      started.incrementAndGet()
      if (i == 1) throw fatal
      Thread.sleep(50)
      i
    })
    assert(thrown eq fatal)
    assert(started.get < 10, "items kept starting after a fatal throwable")
    assert(!poolThreadsAlive)
  }

  test("pool threads inherit the caller's job group and name their table") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val descriptions = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(descriptions.add)
    }
    sc.addSparkListener(listener)
    var counted: Seq[Long] = Nil
    try {
      // every job of every pool thread lands in jobsOf's job group
      assert(jobsOf {
        counted = Workers.forTables(sc, Seq(3L, 5L, 7L), (n: Long) => s"extract graft.t$n") {
          n => spark.range(n).count()
        }.map(_.get)
      } >= 3)
      org.apache.spark.graftbridge.Bus.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(counted == Seq(3L, 5L, 7L))
    assert(Set("extract graft.t3", "extract graft.t5", "extract graft.t7")
      .subsetOf(descriptions.toArray.map(_.toString).toSet), descriptions)
    assert(!poolThreadsAlive)
  }
}
