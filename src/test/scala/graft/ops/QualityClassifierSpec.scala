package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.{SizeGate, TestSpark}

/** [[QualityClassifier]] vs an in-memory brute force over raw token strings
  * (also proves the fingerprinted count-table joins collision-free on the
  * fixture). */
class QualityClassifierSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val positive = Seq(
    100L -> "the theorem follows from the lemma and the proof",
    101L -> "we prove the bound by induction on the tree depth",
    102L -> "the lemma implies the bound stated in the theorem")
    .toDF("doc_id", "text")

  private lazy val negative = Seq(
    200L -> "click here to win a free prize now click now",
    201L -> "buy now free shipping best prize deals click here")
    .toDF("doc_id", "text")

  private lazy val docs = Seq(
    1L -> "the proof of the theorem uses the lemma", // positive-looking
    2L -> "click here now to win a free prize",      // negative-looking
    3L -> "the theorem about free prize deals",      // mixed
    4L -> "zx qv wk",                                // fully OOV of both
    5L -> "")                                        // empty: bare prior
    .toDF("doc_id", "text")

  private def brute(rows: Seq[(Long, String)], pos: Seq[String],
      neg: Seq[String], k: Double): Map[Long, (Long, Float, Boolean)] = {
    def toks(t: String) = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val cPos = pos.flatMap(toks).groupBy(identity)
      .map { case (w, l) => w -> l.size }
    val cNeg = neg.flatMap(toks).groupBy(identity)
      .map { case (w, l) => w -> l.size }
    val nPos = pos.map(toks(_).size).sum
    val nNeg = neg.map(toks(_).size).sum
    val v = (pos ++ neg).flatMap(toks).distinct.size
    val prior = math.log(pos.size.toDouble) - math.log(neg.size.toDouble)
    rows.map { case (id, t) =>
      val ts = toks(t)
      val sw = ts.map { w =>
        math.log((cPos.getOrElse(w, 0) + k) / (nPos + k * v)) -
          math.log((cNeg.getOrElse(w, 0) + k) / (nNeg + k * v))
      }.sum
      val lo = (sw + prior).toFloat
      id -> ((ts.size.toLong, lo, lo > 0.0f))
    }.toMap
  }

  private def run(k: Double = 1.0): Map[Long, (Long, Float, Boolean)] =
    QualityClassifier.nbScore(docs, positive, negative, k)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getFloat(2),
        r.getBoolean(3)))).toMap

  test("nbScore == string brute force (add-1 and add-0.5)") {
    val rows = docs.as[(Long, String)].collect().toSeq
    val pos = positive.as[(Long, String)].collect().toSeq.map(_._2)
    val neg = negative.as[(Long, String)].collect().toSeq.map(_._2)
    assert(run() == brute(rows, pos, neg, 1.0))
    assert(run(k = 0.5) == brute(rows, pos, neg, 0.5))
  }

  test("directional sanity: in-domain kept, spam dropped, empty = prior") {
    val got = run()
    assert(got(1L)._3 && got(1L)._2 > 0.0f)
    assert(!got(2L)._3 && got(2L)._2 < 0.0f)
    assert(got(1L)._2 > got(3L)._2 && got(3L)._2 > got(2L)._2)
    // fully-OOV tokens carry the constant smoothed weight, never dropped
    assert(got(4L)._1 == 3L)
    val prior = (math.log(3.0) - math.log(2.0)).toFloat
    assert(got(5L) == ((0L, prior, prior > 0.0f)))
  }

  test("keyed-join path (broadcast gate off) matches the default") {
    assert(SizeGate.forceDistributed(run()) == run())
  }

  test("config guard throws") {
    intercept[IllegalArgumentException](
      QualityClassifier.nbScore(docs, positive, negative, 0.0))
  }
}
