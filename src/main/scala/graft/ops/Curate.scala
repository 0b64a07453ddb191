package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One-call corpus curation: composes the individually-oracle-checked
  * training-data filters into a single per-document DECISION TABLE —
  * the judgment a pipeline needs before packing shards, with every stage's
  * verdict kept as its own column so a drop is always attributable:
  *
  *   - `keep_exact`      min-doc_id representative per identical text
  *                       ([[Dedup.exact]] semantics, computed as a window
  *                       over the content-hash shuffle — no join back)
  *   - `keep_neardup`    not a non-representative member of a near-dup
  *                       group ([[Dedup.ngramJaccardPairs]] →
  *                       [[Dedup.dedupGroups]] connected components)
  *   - `clean_contam`    zero shingles shared with the benchmark set
  *                       ([[Contamination.flagContaminated]])
  *   - `pass_quality`    length / punctuation / token-diversity gates over
  *                       [[TextStats.quality]] signals
  *   - `pass_repetition` Gopher-style repetition gates over
  *                       [[TextStats.repetitionStats]] signals
  *   - `kept`            the conjunction
  *
  * Input contract matches the text ops: `docs(doc_id, text)` (plus a
  * benchmark frame of the same shape). Output: one row per doc —
  * `(doc_id, n_tokens, keep_exact, keep_neardup, clean_contam,
  * pass_quality, pass_repetition, kept)`.
  *
  * Every gate compares exact-rational doubles (integer-over-integer IEEE
  * divisions, proven bit-identical across engines by the component
  * oracles), so the boolean columns are engine-reproducible and the whole
  * table has an exact DuckDB oracle (`q_curate`).
  *
  * Scale posture (100 TB): the corpus is scanned once per signal family
  * (quality, repetition, shingles, hash) — scan-bound map work that is
  * NEVER worth checkpointing at corpus scale — while everything that
  * aggregates is the component ops' audited shapes (capped banded
  * similarity join, size-gated benchmark broadcast, content-hash window);
  * the final assembly is doc-keyed equi-joins that AQE plans off the same
  * doc_id hash partitioning. The near-dup and contamination internals are
  * the SEALED variants, so no corpus-scale checkpoint outlives the call.
  */
object Curate {

  /** Gate thresholds. Defaults give a mixed keep/drop verdict on ordinary
    * web-ish text (and on the repo fixtures — every flag exercises both
    * outcomes in the specs). */
  final case class Config(
      neardupShingleN: Int = 3,
      minJaccard: Double = 0.5,
      contamShingleN: Int = 4,
      minTokens: Long = 15L,
      maxPunctRatio: Double = 0.2,
      minDistinctRatio: Double = 0.35,
      maxDupWordFrac: Double = 0.65,
      maxTopBigramFrac: Double = 0.08,
      maxDupTrigramFrac: Double = 0.01)

  def curate(docs: DataFrame, benchmark: DataFrame,
      cfg: Config = Config()): DataFrame = {
    // ONE corpus scan assembles every map-side signal (the r5 shape joined
    // five separately-scanned per-doc frames — qual ⋈ rep ⋈ exact ⋈ groups
    // ⋈ contam, four corpus-sized doc_id shuffles): quality expressions,
    // the repetition kernel and the content hash are all per-row functions
    // of `text`, so they ride a single projection; the exact-dup keep is
    // the one window over that frame's md5 shuffle. Only the two SPARSE
    // side frames remain joins — near-dup group membership and benchmark
    // hit counts — both orders of magnitude below corpus size (pair-graph
    // members / contaminated docs only), so AQE broadcasts them and no
    // second corpus-scale exchange exists in the assembled plan.
    val toks = TextStats.tokens(col("text"))
    val nChars = length(col("text")).cast("double")
    val nToks = size(toks).cast("double")
    val punct = TextStats.punctCount(col("text")).cast("double")
    val repK = udf((text: String) => {
      val ts = TextStats.wsTokensKernel(
        (if (text == null) "" else text).toLowerCase)
      val n = ts.length
      val dupW = if (n == 0) 0.0 else (n - ts.distinct.length).toDouble / n
      var topBg = 0.0
      if (n >= 2) {
        val m = scala.collection.mutable.HashMap.empty[String, Int]
        var best = 0
        var i = 0
        while (i < n - 1) {
          val g = ts(i) + " " + ts(i + 1)
          val c = m.getOrElse(g, 0) + 1
          m(g) = c
          if (c > best) best = c
          i += 1
        }
        topBg = best.toDouble / (n - 1)
      }
      var dupTg = 0.0
      if (n >= 3) {
        val seen = scala.collection.mutable.HashSet.empty[String]
        var dup = 0
        var i = 0
        while (i < n - 2) {
          if (!seen.add(ts(i) + " " + ts(i + 1) + " " + ts(i + 2))) dup += 1
          i += 1
        }
        dupTg = dup.toDouble / (n - 2)
      }
      (dupW, topBg, dupTg)
    })
    val exW = Window.partitionBy(col("__md5"))
    val sig = docs
      .select(col("doc_id"), md5(col("text")).as("__md5"),
        nToks.cast("long").as("n_tokens"),
        (punct / greatest(nChars, lit(1.0))).as("punct_ratio"),
        (size(array_distinct(toks)).cast("double") / greatest(nToks, lit(1.0)))
          .as("distinct_ratio"),
        repK(col("text")).as("__rep"))
      .withColumn("keep_exact", col("doc_id") === min(col("doc_id")).over(exW))

    // the two SPARSE side frames are independent sub-DAGs, each ending in
    // an eager materialization (the PPJoin seal / the hit-count
    // checkpoint): build them as CONCURRENT driver-submitted jobs so one
    // pipeline's straggler tail back-fills with the other's tasks instead
    // of serializing ~6 small jobs end to end (the Incremental bucket
    // overlap pattern; both futures are awaited even on failure)
    val (groups, hits) = graft.Fanout.both(
      // near-dup groups (docs absent from any pair are their own reps)
      Dedup.dedupGroups(Dedup.ngramJaccardPairs(docs, cfg.neardupShingleN, cfg.minJaccard)),
      // sparse benchmark hit counts (only docs with hits carry a row)
      Contamination.hitCountsManaged(docs, benchmark, cfg.contamShingleN).seal())

    val keepNeardup = col("group_rep").isNull || col("group_rep") === col("doc_id")
    val cleanContam = coalesce(col("n_hits"), lit(0L)) === 0L
    val passQuality = col("n_tokens") >= cfg.minTokens &&
      col("punct_ratio") <= cfg.maxPunctRatio &&
      col("distinct_ratio") >= cfg.minDistinctRatio
    val passRepetition = col("__rep._1") <= cfg.maxDupWordFrac &&
      col("__rep._2") <= cfg.maxTopBigramFrac &&
      col("__rep._3") <= cfg.maxDupTrigramFrac

    sig
      .join(groups, Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("keep_exact"),
        keepNeardup.as("keep_neardup"),
        cleanContam.as("clean_contam"),
        passQuality.as("pass_quality"),
        passRepetition.as("pass_repetition"),
        (col("keep_exact") && keepNeardup && cleanContam && passQuality &&
          passRepetition).as("kept"))
  }
}
