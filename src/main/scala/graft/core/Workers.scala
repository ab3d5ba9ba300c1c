package graft.core

import java.util.concurrent.{CancellationException, ExecutionException, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

import org.apache.spark.SparkContext

/** A fixed pool of threads that lives for one call, for work items that are
  * each a few small Spark jobs (one table's extract or load, one audit
  * check, one plane of a LOB table's extract). The reference unloads and
  * loads tables on a worker pool the same way (`migration.py:2085-2241`); a
  * single small table is one Spark task, so without a pool the cores idle
  * while tables run one after another.
  *
  * The threads are created by the calling thread, so they inherit its Spark
  * local properties (job group, job description, scheduler pool and any
  * caller-set property): the jobs a pool thread submits are attributed
  * exactly as the caller's own would be. A pool kept across calls would
  * carry the properties of whichever call created it. */
object Workers {

  /** Thread-name prefix of every pool thread. */
  val ThreadPrefix = "graft-worker-"

  private val poolIds = new AtomicInteger()

  /** Marks an item that did not start because an earlier one failed. */
  final class NotStarted extends CancellationException("not started: an earlier item failed")

  /** `f` over `items` on `threads` threads (at most one per item), started
    * in item order. Once a call throws, no further item starts; the calls
    * already running finish. Returns every item's outcome in item order: a
    * failure, or [[NotStarted]] for an item skipped after one. A fatal
    * throwable (a VM error, an interrupt) is not an outcome: it, or an
    * interrupt of the waiting caller, drops the queued items, interrupts the
    * running ones and is rethrown as itself. The threads are shut down and
    * awaited before this returns or throws. */
  def run[A, B](items: Seq[A], threads: Int)(f: A => B): Seq[Try[B]] = {
    val failed = new AtomicBoolean(false)
    def attempt(a: A): Try[B] =
      if (failed.get) Failure(new NotStarted)
      else try Success(f(a)) catch {
        case e: Throwable =>
          failed.set(true)
          if (NonFatal(e)) Failure(e) else throw e
      }
    val n = threads.min(items.size)
    if (n <= 1) items.map(attempt)
    else {
      val pool = Executors.newFixedThreadPool(n, namedThreads)
      try {
        val outcomes = items.map(a => pool.submit(() => attempt(a))).map(_.get)
        pool.shutdown()
        outcomes
      } catch {
        case e: Throwable =>
          pool.shutdownNow()
          throw (e match {
            case x: ExecutionException if x.getCause != null => x.getCause
            case other => other
          })
      } finally pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }

  /** [[run]] over tables, on `min(defaultParallelism, items)` threads. Each
    * item's jobs carry `describe(item)` as their description, so event logs
    * and the UI name the table. */
  def forTables[A, B](sc: SparkContext, items: Seq[A], describe: A => String)(
      f: A => B): Seq[Try[B]] =
    run(items, sc.defaultParallelism) { a =>
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(describe(a))
      try f(a) finally sc.setJobDescription(prev)
    }

  /** The first real failure among `outcomes` (skipped items ignored). */
  def firstFailure(outcomes: Seq[Try[_]]): Option[Throwable] =
    outcomes.collectFirst { case Failure(e) if !e.isInstanceOf[NotStarted] => e }

  private def namedThreads: ThreadFactory = {
    val pool = poolIds.incrementAndGet()
    val thread = new AtomicInteger()
    r => new Thread(r, s"$ThreadPrefix$pool-${thread.incrementAndGet()}")
  }
}
