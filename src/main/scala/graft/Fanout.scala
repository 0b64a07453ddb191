package graft

import java.util.concurrent.{CompletableFuture, CompletionException, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.jdk.FutureConverters._
import scala.util.{Failure, Try}

import org.apache.spark.sql.graftshim.Captured

/** Run independent driver-side actions (typically Spark jobs) as concurrent
  * threads and join them. Every action is awaited, even after another one
  * failed: abandoning an in-flight action would let a same-JVM retry race
  * it (for a table write, its unsynchronized read-manifest → flip against
  * the orphan). Once all have settled, the first failure in argument order
  * is rethrown.
  *
  * Each action runs with the caller's Spark local properties (job group,
  * description, call site) and active session, so its jobs are cancelled,
  * counted and named with the caller's; the pool thread's own properties
  * come back afterwards. The pool's threads are daemons, made on demand
  * (nested fan-outs block a thread each, so a fixed pool could starve), and
  * see process-wide settings such as [[SizeGate.forceDistributed]]. */
object Fanout {

  private val pool = Executors.newCachedThreadPool(new ThreadFactory {
    private val seq = new AtomicInteger(0)
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"graft-fanout-${seq.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  /** Run `actions` concurrently and return their results in order. */
  def all[T](actions: (() => T)*): Seq[T] =
    actions.map(a => Captured.submit(pool)(a())).map(settle).map(_.get)

  /** Evaluate `a` and `b` concurrently and return both results. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val (fa, fb) = (Captured.submit(pool)(a), Captured.submit(pool)(b))
    val (ra, rb) = (settle(fa), settle(fb))
    (ra.get, rb.get)
  }

  // a failed action reaches the Scala future wrapped in a CompletionException
  private def settle[T](f: CompletableFuture[T]): Try[T] =
    Try(Await.result(f.asScala, Duration.Inf)).recoverWith {
      case e: CompletionException if e.getCause != null => Failure(e.getCause)
    }
}
