package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.{SizeGate, TestSpark}

/** [[Perplexity]] vs an in-memory brute force over raw token strings (also
  * proves the fingerprinted join path collision-free on the fixture). */
class PerplexitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val target = Seq(
    100L -> "the cat sat on the mat and the cat slept",
    101L -> "a dog sat on a rug and a dog ran",
    102L -> "the dog and the cat play on the mat")
    .toDF("doc_id", "text")

  private lazy val docs = Seq(
    1L -> "the cat sat on the mat",          // in-domain: low perplexity
    2L -> "zx qv wk jj pf zz yy xx",         // fully OOV: high perplexity
    3L -> "the cat zx qv sat on",            // mixed
    4L -> "single",                          // no bigrams
    5L -> "")                                // empty
    .toDF("doc_id", "text")

  private def brute(rows: Seq[(Long, String)], tgt: Seq[String], k: Double)
      : Map[Long, (Long, Float, Option[Float])] = {
    def toks(t: String) = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val histories = tgt.flatMap(t => toks(t).dropRight(1))
    val c1 = histories.groupBy(identity).map { case (w, l) => w -> l.size }
    val c2 = tgt.flatMap(t => toks(t).sliding(2).filter(_.size == 2)
      .map(_.mkString(" "))).groupBy(identity).map { case (g, l) => g -> l.size }
    val v = tgt.flatMap(toks).distinct.size
    rows.map { case (id, t) =>
      val ts = toks(t)
      val lps = ts.sliding(2).filter(_.size == 2).map { bg =>
        math.log((c2.getOrElse(bg.mkString(" "), 0) + k) /
          (c1.getOrElse(bg.head, 0) + k * v))
      }.toSeq
      val n = lps.size.toLong
      val lp = lps.sum.toFloat
      val ppl = if (n > 0) Some(math.exp(-lp.toDouble / n).toFloat) else None
      id -> ((n, lp, ppl))
    }.toMap
  }

  private def run(k: Double = 1.0): Map[Long, (Long, Float, Option[Float])] =
    Perplexity.lmScore(docs, target, k).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getFloat(2),
        if (r.isNullAt(3)) None else Some(r.getFloat(3))))).toMap

  test("lmScore == string brute force (add-1 and add-0.5)") {
    val rows = docs.as[(Long, String)].collect().toSeq
    val tgt = target.as[(Long, String)].collect().toSeq.map(_._2)
    assert(run() == brute(rows, tgt, 1.0))
    assert(run(k = 0.5) == brute(rows, tgt, 0.5))
  }

  test("directional sanity: in-domain < mixed < fully-OOV perplexity") {
    val got = run()
    assert(got(1L)._3.get < got(3L)._3.get)
    assert(got(3L)._3.get < got(2L)._3.get)
    assert(got(4L) == ((0L, 0.0f, None)) && got(5L) == ((0L, 0.0f, None)))
  }

  test("keyed-join path (broadcast gate off) matches the default") {
    assert(SizeGate.forceDistributed(run()) == run())
  }

  test("config guard throws") {
    intercept[IllegalArgumentException](Perplexity.lmScore(docs, target, 0.0))
  }
}
