package graft

import org.scalacheck.rng.Seed
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.extract.Extract
import graft.extract.Extract.WorkItem

/** Property tests for the driver-side extract planners (SURVEY §5 test
  * plan: partition property — union == input, per-batch size ≤ cap unless
  * spilled; LPT balance bound). Uses scalacheck's engine directly (no
  * scalatestplus bridge in the offline cache). */
class PlannerSpec extends SparkTestBase {

  private val itemsGen: Gen[List[WorkItem]] =
    Gen.listOfN(30, for {
      n <- Gen.identifier.map(_.take(8))
      sz <- Gen.chooseNum(0L, 5000L)
    } yield WorkItem(n, sz / 10, sz, 0)).map(_.distinctBy(_.name))

  private def check(name: String)(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  test("lptAssign covers every item and respects the greedy balance bound") {
    check("lpt")(Prop.forAll(itemsGen, Gen.chooseNum(1, 8)) { (items, n) =>
      val assign = Extract.lptAssign(items, n)
      val covered = assign.keySet == items.map(_.name).toSet
      val inRange = assign.values.forall(v => v >= 0 && v < n)
      val balanced = items.isEmpty || {
        val loads = items.groupBy(i => assign(i.name))
          .view.mapValues(_.map(_.sizeBytes).sum).toMap
        val total = items.map(_.sizeBytes).sum
        val maxItem = items.map(_.sizeBytes).max
        loads.values.max <= total / n + maxItem // LPT makespan bound
      }
      covered && inRange && balanced
    })
  }

  test("batch packing partitions the input; batches within cap; spill only oversize") {
    check("batch")(Prop.forAll(itemsGen, Gen.chooseNum(100L, 10000L)) { (items, cap) =>
      val (batches, spilled) = Extract.batch(items, cap)
      val together = batches.flatten ++ spilled
      (together.map(_.name).sorted == items.map(_.name).sorted) &&
        batches.forall(b => b.map(_.sizeBytes).sum <= cap) &&
        spilled.forall(i => i.sizeBytes > cap) &&
        batches.forall(_.nonEmpty)
    })
  }

  test("planners are deterministic for a fixed input") {
    val items = Gen.listOfN(20, itemsGen).pureApply(Gen.Parameters.default, Seed(42L)).flatten
    assert(Extract.lptAssign(items, 4) == Extract.lptAssign(items, 4))
    assert(Extract.batch(items, 5000) == Extract.batch(items, 5000))
  }

  test("empty-table short-circuit: zero-row items pack but carry no bytes") {
    val items = Seq(WorkItem("empty1", 0, 0, 1), WorkItem("t", 10, 100, 2))
    val (batches, spilled) = Extract.batch(items, 1000)
    assert(spilled.isEmpty)
    assert(batches.flatten.map(_.name).toSet == Set("empty1", "t"))
  }

  test("extract reads its input once (count observed during the write)") {
    import org.apache.spark.scheduler.SparkListener
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val execs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case _: SparkListenerSQLExecutionStart => execs.incrementAndGet()
          case _ =>
        }
    }
    val df = graft.core.Tables.load(spark, sfDir, "nation")
    df.count() // materialize the session/read path before listening
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = java.nio.file.Files.createTempDirectory("graft_onescan").toString + "/x"
      val n = Extract.extractGzipCsv(df, out)
      assert(n == 25)
      // listener bus is async — wait for it to drain
      val deadline = System.nanoTime() + 10e9.toLong
      while (execs.get() < 1 && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(500)
      assert(execs.get() == 1,
        s"extract ran ${execs.get()} SQL executions; the count()+write pair would be 2")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
