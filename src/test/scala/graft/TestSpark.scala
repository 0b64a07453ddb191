package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession shared across all suites (ScalaTest runs them in one
  * forked JVM — build.sbt `Test / fork := true`). */
object TestSpark {
  lazy val spark: SparkSession =
    Sessions.local(4, appName = Some("graft-test")).spark
}
