package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.util.Try

/** Run independent driver-side actions (typically Spark jobs) as concurrent
  * threads and join them. Every action is awaited, even after another one
  * failed: abandoning an in-flight action would let a same-JVM retry race
  * it (for a table write, its unsynchronized read-manifest → flip against
  * the orphan). Once all have settled, the first failure in argument order
  * is rethrown. The actions run on the global execution context, whose
  * threads see process-wide settings such as [[SizeGate.forceDistributed]]. */
object Fanout {

  /** Run `actions` concurrently and return their results in order. */
  def all[T](actions: (() => T)*): Seq[T] =
    actions.map(a => Future(a())).map(settle).map(_.get)

  /** Evaluate `a` and `b` concurrently and return both results. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val (fa, fb) = (Future(a), Future(b))
    val (ra, rb) = (settle(fa), settle(fb))
    (ra.get, rb.get)
  }

  private def settle[T](f: Future[T]): Try[T] = Try(Await.result(f, Duration.Inf))
}
