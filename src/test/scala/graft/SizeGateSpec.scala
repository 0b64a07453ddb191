package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.CapMetrics

/** Every driver-lane and broadcast decision goes through [[SizeGate]]: no
  * site carries its own threshold or reads the heap size itself. */
class SizeGateSpec extends AnyFunSuite {

  private def mainSources: Map[String, String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toMap
    finally walk.close()
  }

  test("no per-call gate thresholds under src/main/scala; only SizeGate reads the heap size") {
    val src = mainSources
    val thresholds = Seq("maxBroadcastRows", "maxDriverQueries", "maxDriverVecFloats",
      "maxDriverVocab", "driverThreshold", "maxDriverStringBytes", "maxBroadcastProbe")
    val found = for ((f, text) <- src.toSeq; t <- thresholds if text.contains(t)) yield s"$f: $t"
    assert(found.isEmpty)
    assert(src.filter(_._2.contains("Runtime.getRuntime.maxMemory")).keySet ==
      Set("graft/SizeGate.scala"))
  }

  test("each decision lands in CapMetrics under gate.<site>") {
    val over = SizeGate.budget + 1L
    assert(!SizeGate.fits("spec.record", 3L, over))
    assert(CapMetrics.latest("gate.spec.record") ==
      Map("rows" -> 3L, "heap_bytes" -> over, "taken" -> 0L))
    assert(SizeGate.fits("spec.record", 3L, SizeGate.budget))
    assert(CapMetrics.latest("gate.spec.record")("taken") == 1L)
  }

  test("forceDistributed nests and is restored after an exception") {
    def fits = SizeGate.fits("spec.nest", 1L, 1L)
    assert(fits)
    SizeGate.forceDistributed {
      SizeGate.forceDistributed(assert(!fits))
      assert(!fits)
    }
    assert(fits)
    intercept[IllegalStateException](
      SizeGate.forceDistributed[Unit](throw new IllegalStateException("boom")))
    assert(fits)
  }

  test("forceDistributed is seen by gates on Fanout threads") {
    var (a, b) = (true, true)
    SizeGate.forceDistributed(Fanout.all(
      () => a = SizeGate.fits("spec.pool.a", 1L, 1L),
      () => b = SizeGate.fits("spec.pool.b", 1L, 1L)))
    assert(!a && !b)
    assert(CapMetrics.latest("gate.spec.pool.a")("taken") == 0L)
  }
}
