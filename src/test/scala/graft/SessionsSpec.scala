package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every non-frozen entry point builds its session through [[Sessions]];
  * the frozen driver-contract mains (Bench, Verify) keep their own. */
class SessionsSpec extends AnyFunSuite {

  test("SparkSession.builder appears under src/main/scala only in Sessions, Bench and Verify") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val walk = Files.walk(root)
    val builders =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map(p => root.relativize(p).toString).toSet
      finally walk.close()
    assert(builders == Set("graft/Sessions.scala", "graft/Bench.scala",
      "graft/Verify.scala"))
  }

  test("Sessions joins the live session as is and does not report it as created") {
    val live = TestSpark.spark
    val joined = Sessions.local(8, appName = Some("other"), partitions = Some(99),
      multiGbInputs = true)
    assert(joined.spark eq live)
    assert(!joined.created)
    joined.stopIfCreated()
    assert(!live.sparkContext.isStopped)
    assert(live.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(live.conf.get("spark.sql.session.timeZone") == "UTC")
    // Sessions leaves AQE and its skew-join rule to the Spark defaults
    assert(live.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(live.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
  }
}
