package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SizeGate, TestSpark}

class DeltaDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** Family f's base text: 14 distinct family-private words (word 3-gram
    * shingles of unrelated families share nothing → jaccard 0); the variant
    * swaps the last word (10 of 12 shingles shared on each side → jaccard
    * 10/14 ≈ 0.71, above the 0.5 test threshold). */
  private def baseText(f: Int): String =
    (0 until 14).map(j => s"f${f}w$j").mkString(" ")
  private def variantText(f: Int): String =
    ((0 until 13).map(j => s"f${f}w$j") :+ s"f${f}swapped").mkString(" ")

  test("exactClassify: corpus beats batch beats unique; first-in-batch wins") {
    val corpus = docs(1L -> "alpha beta gamma", 2L -> "delta epsilon zeta")
    val batch = docs(
      10L -> "alpha beta gamma", // in corpus
      11L -> "eta theta iota", // first of an in-batch pair
      13L -> "eta theta iota", // second of the pair
      12L -> "kappa lambda mu", // unique
      14L -> "alpha beta gamma") // in corpus AND dupes 10 — corpus wins
    val got = DeltaDedup.exactClassify(batch, corpus).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("dup_kind")).toMap
    assert(got == Map(10L -> "corpus", 11L -> "unique", 13L -> "batch",
      12L -> "unique", 14L -> "corpus"))
  }

  /** The delta contract: minhashPairsDelta(batch, corpus) equals the FULL
    * pair op over corpus ∪ batch restricted to pairs with a batch side. */
  test("minhashPairsDelta == full minhashPairs filtered to new-involved pairs") {
    val corpus = docs((0 until 12).map(f => f.toLong -> baseText(f)): _*)
    // batch: variants of corpus families 0..7 (cross pairs), a fresh family
    // base + ITS variant (a new×new pair), and an isolated doc
    val batch = docs(
      (0 until 8).map(f => (100L + f) -> variantText(f)) ++ Seq(
        200L -> baseText(50), 201L -> variantText(50),
        300L -> "nothing like anything else at all here") : _*)
    val cfg = Dedup.MinHashConfig(jaccardThreshold = 0.5)
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet

    def pairSet(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        math.round(r.getAs[Double]("jaccard") * 1e9))).toSet

    val full = pairSet(Dedup.minhashPairs(corpus.unionByName(batch), cfg))
      .filter(p => batchIds.contains(p._1) || batchIds.contains(p._2))
    val delta = pairSet(DeltaDedup.minhashPairsDelta(batch, corpus, cfg))
    assert(full.nonEmpty) // fixture sanity: cross AND new×new pairs exist
    assert(full.exists(p => p._1 == 200L && p._2 == 201L))
    assert(delta == full)

    // a 60-doc clone cluster, half old and half new, over a cap of 50: its
    // buckets are dropped on both sides of the contract, and the drop is
    // observed
    val clone = "the same exact duplicated text appears many many times here"
    val cappedCfg = cfg.copy(maxBandBucket = 50)
    val corpusC = corpus.unionByName(docs((0 until 30).map(i => (1000L + i) -> clone): _*))
    val batchC = batch.unionByName(docs((0 until 30).map(i => (2000L + i) -> clone): _*))
    val fullC = pairSet(Dedup.minhashPairs(corpusC.unionByName(batchC), cappedCfg))
      .filter(p => batchIds.contains(p._1) || batchIds.contains(p._2) ||
        p._1 >= 2000L || p._2 >= 2000L)
    val deltaC = pairSet(DeltaDedup.minhashPairsDelta(batchC, corpusC, cappedCfg))
    assert(CapMetrics.await("dedup.delta")(m =>
      m.getOrElse("dropped_rows", 0L) > 0L && m.getOrElse("max_bucket", 0L) == 60L),
      s"cap metrics never fired: ${CapMetrics.latest("dedup.delta")}")
    assert(deltaC == full)
    assert(fullC == full)
  }

  test("ingest over sequential batches == stateless ops vs the accumulated union") {
    val dir = java.nio.file.Files.createTempDirectory("graft-deltadedup").toString
    val cfg = Dedup.MinHashConfig(jaccardThreshold = 0.5)
    // the same batches under a bucket cap that fires (batch 2's doc 210
    // joins docs 3 and 103 in one bucket), once per lane of the cap
    // anti-join: broadcast by default, keyed with every gate forced off
    val capCfg = cfg.copy(maxBandBucket = 2)
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val (dirCapped, dirForced) = (tmp("graft-deltadedup-c"), tmp("graft-deltadedup-f"))

    val batch0 = docs((0 until 7).map(f => f.toLong -> baseText(f)): _*)
    val batch1 = docs(
      (7 until 12).map(f => f.toLong -> baseText(f)) ++ // new families
        (0 until 4).map(f => (100L + f) -> variantText(f)) : _*) // near-dups of b0
    val batch2 = docs(
      Seq(210L -> baseText(3), // exact text from batch0 → 'corpus'
        211L -> "solo words here", 212L -> "solo words here", // in-batch pair
        213L -> variantText(9)) : _*) // near-dup of batch1

    var accumulated: DataFrame = null
    Seq(batch0, batch1, batch2).zipWithIndex.foreach { case (batch, k) =>
      val res = DeltaDedup.ingest(spark, dir, batch, cfg,
        partnerTexts = Option(accumulated))
      val capped = DeltaDedup.ingest(spark, dirCapped, batch, capCfg,
        partnerTexts = Option(accumulated))
      if (k == 2) assert(CapMetrics.latest("dedup.delta.ingest")("dropped_rows") > 0L)
      val forced = SizeGate.forceDistributed(DeltaDedup.ingest(spark, dirForced, batch,
        capCfg, partnerTexts = Option(accumulated)))
      def rows(df: DataFrame) = df.collect().map(_.toString).toSet
      assert(rows(forced.classified) == rows(capped.classified) &&
        rows(forced.candidates) == rows(capped.candidates) &&
        forced.verified.map(rows) == capped.verified.map(rows), s"batch $k forced lane")

      // O(delta) evidence: only this batch was shingled+minhashed
      assert(res.bandedDocs == batch.count(), s"batch $k banded too much")

      val expClassified = (if (accumulated == null)
        DeltaDedup.exactClassify(batch, batch.limit(0))
      else DeltaDedup.exactClassify(batch, accumulated)).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val gotClassified = res.classified.collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(gotClassified == expClassified, s"batch $k classify mismatch")

      if (accumulated != null) {
        def pairSet(df: DataFrame) = df.collect()
          .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
            math.round(r.getAs[Double]("jaccard") * 1e9))).toSet
        val exp = pairSet(DeltaDedup.minhashPairsDelta(batch, accumulated, cfg))
        assert(pairSet(res.verified.get) == exp, s"batch $k pair mismatch")
        if (k == 2) { // sanity: the planted cross-batch near-dup was found
          assert(exp.exists(p => p._1 == 9L && p._2 == 213L))
          // and the exact-dup classification crossed the batch boundary
          assert(gotClassified.contains(210L -> "corpus"))
          assert(gotClassified.contains(212L -> "batch"))
        }
      }
      accumulated =
        if (accumulated == null) batch else accumulated.unionByName(batch)
      accumulated = accumulated.localCheckpoint(true)
    }

    // a config change must refuse the state dir rather than mix signatures
    val other = Dedup.MinHashConfig(numHashes = 16, bands = 4)
    val ex = intercept[IllegalArgumentException] {
      DeltaDedup.ingest(spark, dir, batch0, other)
    }
    assert(ex.getMessage.contains("fresh state dir"))
  }
}
