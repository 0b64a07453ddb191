package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.{SizeGate, TestSpark}

/** [[DupSpans]] vs an in-memory brute force (window strings, no hashing) —
  * also proves the fingerprint path collision-free on these fixtures. */
class DupSpansSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val boiler = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
  private val runA = "a1 a2 a3 a4 a5 a6 a7 a8"
  private val runB = "c1 c2 c3 c4 c5 c6 c7 c8"

  private lazy val docs = Seq(
    // docs 1-3 share a 10-token boilerplate block at different offsets
    1L -> ("alpha beta " + boiler + " tail one two"),
    2L -> (boiler + " something else entirely here now"),
    3L -> ("x y z w " + boiler),
    // doc 4: all-unique text, no cross-doc windows
    4L -> "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12",
    // doc 5: empty; doc 6: shorter than the window
    5L -> "",
    6L -> "tiny doc here",
    // docs 7/8 share TWO separated 8-token runs -> two spans each
    7L -> (runA + " mid1 mid2 mid3 mid4 mid5 mid6 mid7 mid8 mid9 " + runB),
    8L -> (runA + " unrelated filler words go here right now ok " + runB),
    // doc 9: internal repetition only (same window twice in ONE doc) must
    // NOT count at minDocs=2 (countDistinct docs == 1)
    9L -> ("r1 r2 r3 r4 r5 r6 r7 r8 pad1 pad2 r1 r2 r3 r4 r5 r6 r7 r8"))
    .toDF("doc_id", "text")

  /** window-string brute force mirroring the operator's definition. */
  private def brute(rows: Seq[(Long, String)], w: Int, minDocs: Int)
      : Map[Long, (Long, Long, Long, Double)] = {
    def toks(t: String) = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val wins = rows.flatMap { case (id, t) =>
      toks(t).sliding(w).filter(_.length == w).zipWithIndex
        .map { case (win, pos) => (id, pos, win.mkString(" ")) }
    }
    val dup = wins.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= minDocs)
      .keySet
    rows.map { case (id, t) =>
      val n = toks(t).length
      val pos = wins.collect { case (`id`, p, s) if dup(s) => p }.sorted
      val islands = pos.foldLeft(List.empty[(Int, Int)]) {
        case ((mn, mx) :: rest, p) if p - mx <= w => (mn, p) :: rest
        case (acc, p) => (p, p) :: acc
      }
      val cov = islands.map { case (mn, mx) => mx - mn + w }.sum
      id -> ((n.toLong, pos.size.toLong, islands.size.toLong,
        cov.toDouble / math.max(n, 1)))
    }.toMap
  }

  private def run(w: Int, frame: org.apache.spark.sql.DataFrame = null)
      : Map[Long, (Long, Long, Long, Double)] =
    DupSpans.dupSpanStats(Option(frame).getOrElse(docs), windowW = w).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap

  test("dupSpanStats == window-string brute force (w=8, minDocs=2)") {
    val rows = docs.as[(Long, String)].collect().toSeq
    val expect = brute(rows, w = 8, minDocs = 2)
    val got = run(w = 8)
    assert(got == expect)
    // sanity on the planted structure: boilerplate -> 1 span in docs 1-3,
    // two separated runs -> 2 spans in docs 7/8, internal-only repeat -> 0
    assert(got(1L)._3 == 1 && got(2L)._3 == 1 && got(3L)._3 == 1)
    assert(got(7L)._3 == 2 && got(8L)._3 == 2)
    assert(got(4L) == ((12L, 0L, 0L, 0.0)))
    assert(got(5L) == ((0L, 0L, 0L, 0.0)))
    assert(got(9L)._2 == 0)
  }

  test("w=4 matches brute force; result invariant to input partitioning") {
    val rows = docs.as[(Long, String)].collect().toSeq
    assert(run(w = 4) == brute(rows, w = 4, minDocs = 2))
    assert(run(w = 4, frame = docs.repartition(7)) == run(w = 4))
  }

  test("keyed-join path (broadcast gate forced off) matches the default") {
    val a = run(w = 8)
    val b = SizeGate.forceDistributed(run(w = 8))
    assert(a == b && a.nonEmpty)
  }

  /** brute-force removal: drop original-case tokens covered by islands. */
  private def bruteRemove(rows: Seq[(Long, String)], w: Int, minDocs: Int)
      : Map[Long, (String, Long)] = {
    def ltoks(t: String) = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
    def otoks(t: String) = t.split("\\s+").filter(_.nonEmpty)
    val wins = rows.flatMap { case (id, t) =>
      ltoks(t).sliding(w).filter(_.length == w).zipWithIndex
        .map { case (win, pos) => (id, pos, win.mkString(" ")) }
    }
    val dup = wins.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= minDocs)
      .keySet
    rows.map { case (id, t) =>
      val covered = wins.collect {
        case (`id`, p, s) if dup(s) => p until (p + w)
      }.flatten.toSet
      val kept = otoks(t).zipWithIndex.collect {
        case (tok, i) if !covered(i) => tok
      }
      id -> ((kept.mkString(" "), kept.length.toLong))
    }.toMap
  }

  private def runRemove(w: Int): Map[Long, (String, Long)] =
    DupSpans.removeDupSpans(docs, windowW = w).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap

  test("removeDupSpans == brute-force token removal (w=8 and w=4)") {
    val rows = docs.as[(Long, String)].collect().toSeq
    val got8 = runRemove(w = 8)
    assert(got8 == bruteRemove(rows, w = 8, minDocs = 2))
    assert(runRemove(w = 4) == bruteRemove(rows, w = 4, minDocs = 2))
    // planted structure: boilerplate excised from docs 1-3, doc 4 untouched
    // (whitespace-normalized), doc 5 empty, internal-repeat doc 9 untouched
    assert(got8(1L)._1 == "alpha beta tail one two")
    assert(got8(2L)._1 == "something else entirely here now")
    assert(got8(4L)._1 == "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12")
    assert(got8(5L) == (("", 0L)))
    assert(got8(9L)._2 == 18L)
  }

  test("removal stats reconcile with dupSpanStats coverage") {
    val stats = run(w = 8)
    val rem = runRemove(w = 8)
    stats.foreach { case (id, (nTok, _, _, frac)) =>
      val covered = nTok - rem(id)._2
      assert(math.abs(frac - covered.toDouble / math.max(nTok, 1)) < 1e-12,
        s"doc $id: frac=$frac covered=$covered nTok=$nTok")
    }
  }

  test("removal keyed-join path (broadcast gate off) matches the default") {
    assert(SizeGate.forceDistributed(runRemove(w = 8)) == runRemove(w = 8))
  }

  test("config guards throw") {
    intercept[IllegalArgumentException](DupSpans.dupSpanStats(docs, windowW = 0))
    intercept[IllegalArgumentException](
      DupSpans.dupSpanStats(docs, windowW = 8, minDocs = 1))
  }
}
