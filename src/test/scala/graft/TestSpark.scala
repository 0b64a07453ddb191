package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession shared across all suites (ScalaTest runs them in one
  * forked JVM — build.sbt `Test / fork := true`). */
object TestSpark {
  lazy val spark: SparkSession =
    Sessions.local(4, appName = Some("graft-test")).spark

  /** `body` with AQE's post-shuffle coalescing off, set and restored here:
    * a small fixture's range sort then keeps `spark.sql.shuffle.partitions`
    * (4) partitions instead of being folded into one, so an op's per-
    * partition offsets are exercised. */
  def uncoalesced[T](body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
