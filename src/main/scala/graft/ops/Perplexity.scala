package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SizeGate
import graft.functions.TextHashKernels

/** Bigram language-model scoring of a raw corpus against a (small) target
  * corpus — the CCNet-style "perplexity filter" (Wenzek et al., LREC 2020:
  * score web text under an LM trained on quality text; keep the
  * low-perplexity head). Complements [[Importance]] (DSIR): DSIR weights by
  * hashed-unigram importance ratios, this scores sequence likelihood with
  * bigram context.
  *
  * Model: add-k smoothed bigram LM over lowercased whitespace tokens of
  * `target` — `P(w2|w1) = (c2(w1 w2) + k) / (c1(w1) + k·V)` with `V` =
  * distinct target unigrams (an OOV history scores the uniform `1/V`).
  * Per document: `n_bigrams`, `lm_logprob` = Σ ln P over its bigram
  * positions, `lm_ppl` = exp(-lm_logprob / n_bigrams).
  *
  * Determinism contract (the [[Importance.dsirWeights]] precedent): every
  * probability is a ratio of exact-integer-valued doubles, `ln` agrees
  * across engines to ~1 ulp, and the published sum is cast to float32 to
  * absorb both the ulp and the engines' float-sum ordering difference;
  * `lm_ppl` is derived FROM the published float32 and itself published as
  * float32. Bigrams ride the join as 8-byte FNV fingerprints — the DuckDB
  * oracle joins the raw strings, so the compare doubles as a
  * collision-freedom proof (the [[Contamination]] posture).
  *
  * Scale posture (100 TB raw corpus): the count tables collapse map-side to
  * O(target tokens) rows — independent of the raw corpus — are measured,
  * and broadcast under a row gate, so the corpus is ONE bigram scan + one
  * doc-keyed aggregation shuffle; nothing corpus-sized is checkpointed.
  */
object Perplexity {

  /** `(h1, h12)` per bigram position: FNV fingerprints of the history token
    * and of the joined bigram, in document order. One pass, no HOFs. */
  private[ops] def bigramHashKernel(text: String): Seq[(Long, Long)] = {
    val toks = graft.ops.TextStats.wsTokensKernel(
      (if (text == null) "" else text).toLowerCase)
    if (toks.length < 2) Seq.empty
    else (0 until toks.length - 1).map { i =>
      (TextHashKernels.fingerprint64(UTF8String.fromString(toks(i))),
        TextHashKernels.fingerprint64(
          UTF8String.fromString(toks(i) + " " + toks(i + 1))))
    }
  }

  /** Sealing variant of [[lmScoreManaged]]: eagerly checkpoints the
    * (docs-sized) result and frees the internal count-table checkpoints. */
  def lmScore(docs: DataFrame, target: DataFrame, addK: Double = 1.0): DataFrame =
    lmScoreManaged(docs, target, addK).seal()

  /** Lazy variant: the returned frame references the internal eager
    * checkpoints of the measured count tables — call `free()` only after
    * materializing (the [[Dedup.ManagedPairs]] contract). */
  def lmScoreManaged(docs: DataFrame, target: DataFrame, addK: Double = 1.0): Dedup.ManagedPairs = {
    require(addK > 0.0, s"addK must be > 0: $addK")
    val bk = udf(bigramHashKernel _)

    // target count tables: collapse map-side to O(target tokens) rows;
    // measured once each (8-byte-keyed rows: the count IS the estimate)
    val tb = target.select(explode(bk(col("text"))).as("b"))
      .select(col("b._1").as("h1"), col("b._2").as("h12"))
      .localCheckpoint(eager = true) // two consumers: unigram + bigram counts
    // V = distinct target unigrams. uni counts HISTORY tokens only (the
    // last token of the corpus never opens a bigram) — count the real
    // vocabulary from a dedicated distinct pass so P is the textbook model.
    val tokK = udf((text: String) => graft.ops.TextStats.wsTokensKernel(
      (if (text == null) "" else text).toLowerCase).toSeq
      .map(t => TextHashKernels.fingerprint64(UTF8String.fromString(t))))
    // the three count lanes (unigram table, bigram table, vocabulary size)
    // are independent sub-DAGs off the shared tb checkpoint / target scan:
    // build them as concurrent jobs instead of five serial driver barriers
    def counts(h: String, c: String): SizeGate.Sized =
      SizeGate.checkpoint(tb.groupBy(col(h)).agg(count(lit(1)).as(c)))
    val (SizeGate.Sized(uni, nUni, _), (SizeGate.Sized(big, nBig, _), v)) = graft.Fanout.both(
      counts("h1", "c1"),
      graft.Fanout.both(counts("h12", "c2"), target.select(explode(tokK(col("text"))).as("h"))
        .agg(countDistinct(col("h"))).head().getLong(0)))
    tb.unpersist()
    val uniP = SizeGate.broadcastIfFits("lm.unigram", uni, nUni)
    val bigP = SizeGate.broadcastIfFits("lm.bigram", big, nBig)

    // raw corpus: one bigram scan, count-table lookups, doc-keyed agg
    val logp = log((coalesce(col("c2"), lit(0L)).cast("double") + addK) /
      (coalesce(col("c1"), lit(0L)).cast("double") + addK * v))
    val scored = docs.select(col("doc_id"), explode(bk(col("text"))).as("b"))
      .select(col("doc_id"), col("b._1").as("h1"), col("b._2").as("h12"))
      .join(uniP, Seq("h1"), "left")
      .join(bigP, Seq("h12"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(logp).as("lp"))

    val out = docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_bigrams"))
      // float32 publish absorbs ln-ulp and sum-order differences; ppl is
      // derived from the PUBLISHED float and published as float32 itself
      .withColumn("lm_logprob", coalesce(col("lp"), lit(0.0)).cast("float"))
      .withColumn("lm_ppl", when(col("n_bigrams") > 0L,
        exp(-(col("lm_logprob").cast("double")) / col("n_bigrams"))
          .cast("float")))
      .select(col("doc_id"), col("n_bigrams"), col("lm_logprob"), col("lm_ppl"))
    Dedup.ManagedPairs(out, () => { uni.unpersist(); big.unpersist(); () })
  }
}
