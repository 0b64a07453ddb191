package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

class FanoutSpec extends AnyFunSuite {

  test("all settles the second action even when the first fails (no orphan writer)") {
    val bDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val ex = intercept[RuntimeException] {
      Fanout.all(
        () => throw new RuntimeException("boom"),
        () => { Thread.sleep(300); bDone.set(true) })
    }
    assert(ex.getMessage == "boom")
    // the in-flight second write finished BEFORE the failure propagated —
    // a same-JVM retry can never race an orphan manifest flip
    assert(bDone.get)
  }

  test("every action's jobs carry the caller's job group, not a pool thread's stale one") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    def fanOut(group: String): Seq[String] = {
      GraftTestBus.drain(sc)
      groups.clear()
      sc.setJobGroup(group, null)
      try {
        Fanout.all(Seq.fill(8)(() => spark.range(10).count()): _*)
        Fanout.both(spark.range(10).count(), spark.range(10).count())
      } finally sc.clearJobGroup()
      GraftTestBus.drain(sc)
      groups.asScala.toSeq
    }
    sc.addSparkListener(listener)
    try {
      val first = fanOut("first")
      assert(first.size >= 10 && first.forall(_ == "first"), first)
      val second = fanOut("second")
      assert(second.size >= 10 && second.forall(_ == "second"), second)
    } finally sc.removeSparkListener(listener)
  }
}
