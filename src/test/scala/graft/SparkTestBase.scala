package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session + smoke-tier data dir for all suites. */
trait SparkTestBase extends AnyFunSuite {
  val sfDir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = graft.core.Engine.session("graft-test", Some("4"))

  /** Spark jobs started while `f` runs, counted through a job group (which
    * threads created inside `f` inherit), after the listener bus drained. */
  protected def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    try f finally sc.clearJobGroup()
    org.apache.spark.graftbridge.Bus.drain(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}
