package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.{SizeGate, TestSpark}

class BpeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs(rows: (Long, String)*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // ---- driver-side reference BPE (Sennrich et al. 2016 pseudocode) ----
  private def refSymbols(w: String): Vector[String] =
    w.map(_.toString).toVector :+ "</w>"

  private def refMerge(s: Vector[String], a: String, b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < s.length) {
      if (i < s.length - 1 && s(i) == a && s(i + 1) == b) { out += (a + b); i += 2 }
      else { out += s(i); i += 1 }
    }
    out.result()
  }

  private def refLearn(texts: Seq[String], n: Int): Seq[(String, String)] = {
    var vocab = texts.flatMap(_.toLowerCase.split("\\s+").filter(_.nonEmpty))
      .groupBy(identity).map { case (w, ws) => refSymbols(w) -> ws.size.toLong }
      .toVector
    var merges = Vector.empty[(String, String)]
    var done = false
    while (merges.length < n && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (s, c) =>
        s.sliding(2).filter(_.length == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + c
        }
      }
      if (counts.isEmpty) done = true
      else {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        if (best._2 < 2) done = true
        else {
          merges :+= best._1
          vocab = vocab.map { case (s, c) => refMerge(s, best._1._1, best._1._2) -> c }
        }
      }
    }
    merges
  }

  private val corpus = Seq(
    1L -> "low low low low low",
    2L -> "lower lower newest newest newest",
    3L -> "newest newest newest widest widest",
    4L -> "the the the end")

  test("learnMerges == reference BPE merge sequence (ties broken (cnt desc, pair asc))") {
    val got = Bpe.learnMerges(docs(corpus: _*), 8).map { case (_, a, b) => (a, b) }
    assert(got == refLearn(corpus.map(_._2), 8))
    // the classic fixture: 'newest' x6 dominates, so early merges build it
    assert(got.nonEmpty && got.length == 8)
  }

  test("learnMerges stops early when no pair repeats; invariant to partitioning") {
    val tiny = docs(1L -> "ab cd") // every pair occurs once
    assert(Bpe.learnMerges(tiny, 5).isEmpty)
    val a = Bpe.learnMerges(docs(corpus: _*).repartition(1), 5)
    val b = Bpe.learnMerges(docs(corpus: _*).repartition(7), 5)
    assert(a == b)
  }

  test("pairCounts == reference iteration-0 counts") {
    val got = Bpe.pairCounts(docs(corpus: _*)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    corpus.flatMap(_._2.toLowerCase.split("\\s+").filter(_.nonEmpty))
      .groupBy(identity).foreach { case (w, ws) =>
        refSymbols(w).sliding(2).filter(_.length == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + ws.size
        }
      }
    assert(got == counts.toMap)
  }

  test("driver merge loop == forced distributed loop on the classic corpus") {
    // forceDistributed forces the per-merge distributed recount; the
    // default takes the incremental driver loop — integer counts and the
    // identical argmax total order make the tables exactly equal
    val drv = Bpe.learnMerges(docs(corpus: _*), 8)
    val dist = SizeGate.forceDistributed(Bpe.learnMerges(docs(corpus: _*), 8))
    assert(drv == dist)
  }

  test("driver merge loop == reference BPE at realistic merge count (5000)") {
    // deterministic synthetic vocabulary wide enough to sustain 5000
    // merges: 2500 distinct 10-char words with skewed frequencies
    val rnd = new scala.util.Random(7L)
    val wordsPool = (0 until 2500).map { _ =>
      (0 until 10).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }.distinct
    val texts = wordsPool.zipWithIndex.map { case (w, i) =>
      // frequency 1..8, deterministic
      (i.toLong, Seq.fill(1 + i % 8)(w).mkString(" "))
    }
    val n = 5000
    val t0 = System.nanoTime()
    val got = Bpe.learnMerges(docs(texts: _*), n).map { case (_, a, b) => (a, b) }
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"learnMerges nMerges=$n over ${wordsPool.size} words: $secs%.1f s")
    val want = refLearn(texts.map(_._2), n)
    assert(got == want)
    assert(got.length == n, s"expected $n merges, got ${got.length}")
  }

  test("applyMerges encodes with the learned table; empty text yields zero tokens") {
    val merges = Bpe.learnMerges(docs(corpus: _*), 6)
    val enc = Bpe.applyMerges(docs((corpus :+ (9L -> "")): _*), merges)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
    // reference encode: apply merges in rank order per word
    def refEncode(text: String): Seq[String] =
      text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq.flatMap { w =>
        var s = refSymbols(w)
        merges.sortBy(_._1).foreach { case (_, a, b) => s = refMerge(s, a, b) }
        s
      }
    corpus.foreach { case (id, text) =>
      val expect = refEncode(text)
      assert(enc(id) == ((expect.length, expect.mkString(" "))), s"doc $id")
    }
    assert(enc(9L) == ((0, "")))
    // merges actually compress: fewer symbols than characters
    assert(enc(1L)._1 < corpus.head._2.replace(" ", "").length + 5)
  }
}
