package migbench

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Runs the benchmark's own untimed work (input generation, source loading,
  * digests) on a few threads, so the many small Spark jobs it submits
  * overlap. Never used inside a timed window. */
object Par {
  val Threads = 4

  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = Executors.newFixedThreadPool(Threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.traverse(xs)(x => Future(f(x))), Duration.Inf)
    finally pool.shutdown()
  }
}
