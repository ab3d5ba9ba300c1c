package migbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into the pipeline, and the Spark work
  * attributed to each.
  *
  * A span names itself in the `migbench.span` local property for as long as
  * it runs; Spark copies local properties into every job submitted from the
  * thread, so [[Listener]] attributes each job, and through the job's stage
  * ids each task, to the span that caused it. Without a listener (untraced
  * runs) a span only measures its wall time. */
final class Trace(sc: SparkContext, val listener: Option[Trace.Listener]) {
  import Trace._

  private val walls = mutable.LinkedHashMap.empty[String, Double]

  def span[A](name: String)(f: => A): A = {
    listener.foreach(_ => sc.setLocalProperty(Prop, name))
    val t0 = System.nanoTime()
    try f
    finally {
      walls(name) = walls.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
      listener.foreach(_ => sc.setLocalProperty(Prop, null))
    }
  }

  /** Per-layer figures of every span so far, read after the listener bus
    * has delivered every event posted up to now. */
  def layers(): Map[String, Double] = listener.map { l =>
    org.apache.spark.migbench.Bus.drain(sc)
    walls.keys.toSeq.flatMap { name =>
      val a = l.acc(name)
      val busy = math.min(walls(name), a.busySeconds)
      Seq(
        "wall_s" -> walls(name), "spark_busy_s" -> busy, "driver_s" -> (walls(name) - busy),
        "jobs" -> a.jobs.toDouble, "tasks" -> a.tasks.toDouble, "task_s" -> a.taskMs / 1e3,
        "cpu_s" -> a.cpuNs / 1e9, "gc_s" -> a.gcMs / 1e3,
        "shuffle_write_mb" -> a.shuffleWriteBytes / MB, "output_mb" -> a.outputBytes / MB)
        .map { case (k, v) => s"$name.$k" -> v }
    }.toMap
  }.getOrElse(Map.empty)
}

object Trace {
  val Prop = "migbench.span"
  val MB = 1024.0 * 1024.0

  final class Acc {
    var jobs = 0L; var tasks = 0L; var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWriteBytes = 0L; var outputBytes = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

    /** Wall time during which at least one of the span's jobs ran. */
    def busySeconds: Double = {
      var total = 0L; var end = Long.MinValue
      intervals.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { total += e - math.max(s, end); end = e }
      }
      total / 1e3
    }
  }

  final class Listener extends SparkListener {
    private val accs = mutable.HashMap.empty[String, Acc]
    private val stageSpan = mutable.HashMap.empty[Int, String]
    private val jobStart = mutable.HashMap.empty[Int, (String, Long)]

    def acc(span: String): Acc = synchronized(accs.getOrElseUpdate(span, new Acc))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).getOrElse("other")
      e.stageIds.foreach(stageSpan(_) = span)
      jobStart(e.jobId) = (span, e.time)
      acc(span).jobs += 1
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (span, t0) => acc(span).intervals += ((t0, e.time)) }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = acc(stageSpan.getOrElse(e.stageId, "other"))
        a.tasks += 1
        a.taskMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.outputBytes += m.outputMetrics.bytesWritten
      }
    }

    def reset(): Unit = synchronized { accs.clear(); stageSpan.clear(); jobStart.clear() }
  }
}
