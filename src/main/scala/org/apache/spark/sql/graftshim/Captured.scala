package org.apache.spark.sql.graftshim

import java.util.concurrent.{CompletableFuture, ExecutorService}

import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Bridge into Spark's `private[sql]` `SQLExecution.withThreadLocalCaptured`
  * (the hand-off AQE uses for its stage submissions): `body` runs on `exec`
  * with the calling thread's active session and SparkContext local
  * properties (job group, description, call site, scheduler pool), and the
  * pool thread's own are restored afterwards. With no session, `body` runs
  * as is. */
object Captured {
  def submit[T](exec: ExecutorService)(body: => T): CompletableFuture[T] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case Some(s) => SQLExecution.withThreadLocalCaptured(s, exec)(body)
      case None => CompletableFuture.supplyAsync(() => body, exec)
    }
}
