package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SizeGate
import graft.functions.TextHashKernels

/** Model-based quality filtering — the "quality classifier" stage of the
  * GPT-3-lineage curation stacks (Brown et al. 2020 Appendix A trains a
  * classifier on WebText-vs-CommonCrawl and keeps high-scoring documents;
  * RefinedWeb/CCNet run fastText-style linear classifiers the same way).
  * Complements the heuristic gates in [[TextStats]] (those need no
  * training data) and the sequence-likelihood filter in [[Perplexity]]
  * (this is a discriminative two-corpus score, not a single-LM score).
  *
  * Model: multinomial Naive Bayes over lowercased whitespace tokens
  * (McCallum & Nigam 1998) — the deterministic, shuffle-light stand-in for
  * a trained linear classifier; its decision function IS a linear
  * bag-of-words score, which is the fastText shape with log-count weights.
  * With add-k smoothing and V = distinct tokens across BOTH classes:
  *
  *   w(t)       = ln((cPos(t)+k)/(nPos+k·V)) − ln((cNeg(t)+k)/(nNeg+k·V))
  *   prior      = ln(docsPos) − ln(docsNeg)
  *   nb_logodds = prior + Σ_positions w(token)   (> 0 ⇒ looks positive)
  *
  * A token unseen in BOTH classes still gets the (constant, nonzero)
  * smoothed weight via the same formula with c=0 — scoring never drops
  * positions, so `n_tokens` is the document's full token count.
  *
  * Determinism contract (the [[Perplexity.lmScore]] precedent): every
  * probability is a ratio of exact-integer-valued doubles, `ln` agrees
  * across engines to ~1 ulp, and the published per-doc sum is cast to
  * float32 to absorb both the ulp and the engines' float-sum ordering;
  * `nb_keep` is derived from the PUBLISHED float32 (so the boolean
  * reproduces exactly). Tokens ride the count-table joins as 8-byte FNV
  * fingerprints — the DuckDB oracle joins the raw strings, so the compare
  * doubles as a collision-freedom proof (the [[Contamination]] posture).
  *
  * Scale posture (100 TB raw corpus): the two count tables collapse
  * map-side to O(vocabulary) rows — independent of the raw corpus — are
  * measured, and broadcast under a row gate, so the corpus pays ONE token
  * scan + one doc-keyed aggregation shuffle; nothing corpus-sized is
  * checkpointed. Training reads only the (small) labeled corpora.
  *
  * Reference framing: megamind keeps payloads opaque and has no scoring
  * surface; this operator is part of the training-data layer (SURVEY
  * "beyond the reference" mandate), not a reference port.
  */
object QualityClassifier {

  /** `(hash, token-position)` stream: FNV fingerprint per lowercased
    * whitespace token, in document order. One pass, no HOFs. */
  private[ops] def tokenHashKernel(text: String): Seq[Long] = {
    val toks = graft.ops.TextStats.wsTokensKernel(
      (if (text == null) "" else text).toLowerCase)
    toks.toSeq.map(t => TextHashKernels.fingerprint64(UTF8String.fromString(t)))
  }

  /** Sealing variant of [[nbScoreManaged]]: eagerly checkpoints the
    * (docs-sized) result and frees the internal count-table checkpoints. */
  def nbScore(docs: DataFrame, positive: DataFrame, negative: DataFrame,
      addK: Double = 1.0): DataFrame =
    nbScoreManaged(docs, positive, negative, addK).seal()

  /** Lazy variant: the returned frame references the internal eager
    * checkpoints of the measured count tables — call `free()` only after
    * materializing (the [[Dedup.ManagedPairs]] contract). Output:
    * `(doc_id, n_tokens, nb_logodds float32, nb_keep)` — one row per input
    * doc, empty docs score the bare prior. */
  def nbScoreManaged(docs: DataFrame, positive: DataFrame,
      negative: DataFrame, addK: Double = 1.0): Dedup.ManagedPairs = {
    require(addK > 0.0, s"addK must be > 0: $addK")
    val tk = udf(tokenHashKernel _)

    // per-class count tables: collapse map-side to O(vocab) rows each;
    // 8-byte-keyed (the oracle's raw-string join proves collision freedom).
    // Each class lane (checkpoint measuring totals/rows + doc count) is
    // independent — two concurrent lanes instead of serial driver
    // barriers; only the shared-vocabulary count needs both tables.
    // each lane: the count table (consumed by V-union + join) measured by
    // its checkpoint (rows, token total), and the class's doc count
    def lane(cls: DataFrame, c: String): (SizeGate.Sized, Long) =
      (SizeGate.checkpoint(cls.select(explode(tk(col("text"))).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as(c)), col(c)), cls.count())
    val ((SizeGate.Sized(pos, posRows, Seq(nPos)), nPosDocs),
      (SizeGate.Sized(neg, negRows, Seq(nNeg)), nNegDocs)) =
      graft.Fanout.both(lane(positive, "c_pos"), lane(negative, "c_neg"))
    val v = pos.select(col("h")).union(neg.select(col("h")))
      .distinct().count()
    val prior = math.log(math.max(nPosDocs, 1L).toDouble) -
      math.log(math.max(nNegDocs, 1L).toDouble)
    val posP = SizeGate.broadcastIfFits("nb_quality.pos", pos, posRows)
    val negP = SizeGate.broadcastIfFits("nb_quality.neg", neg, negRows)

    // raw corpus: one token scan, count-table lookups, doc-keyed agg
    val w = log((coalesce(col("c_pos"), lit(0L)).cast("double") + addK) /
        (lit(nPos).cast("double") + addK * v)) -
      log((coalesce(col("c_neg"), lit(0L)).cast("double") + addK) /
        (lit(nNeg).cast("double") + addK * v))
    val scored = docs.select(col("doc_id"), explode(tk(col("text"))).as("h"))
      .join(posP, Seq("h"), "left")
      .join(negP, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(w).as("sw"))

    val out = docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_tokens"))
      // float32 publish absorbs ln-ulp and sum-order differences; the keep
      // boolean is derived from the PUBLISHED float so it reproduces too
      .withColumn("nb_logodds",
        (coalesce(col("sw"), lit(0.0)) + prior).cast("float"))
      .withColumn("nb_keep", col("nb_logodds") > lit(0.0f))
      .select(col("doc_id"), col("n_tokens"), col("nb_logodds"), col("nb_keep"))
    Dedup.ManagedPairs(out, () => { pos.unpersist(); neg.unpersist(); () })
  }
}
