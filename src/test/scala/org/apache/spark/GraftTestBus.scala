package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private: a
  * test reads its listener's counts only after every event posted so far
  * has been delivered. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
