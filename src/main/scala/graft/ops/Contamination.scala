package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SizeGate
import graft.functions.TextHash

/** Benchmark decontamination — the training-data gate that keeps evaluation
  * material out of a training corpus: a training document is CONTAMINATED
  * when it shares at least one word `n`-gram (shingle) with any document of
  * the benchmark/eval set (the standard n-gram-overlap decontamination rule
  * used by public LLM data pipelines; shingle semantics are exactly
  * [[Dedup.wordShinglesKernel]] — lowercased, whitespace-tokenized,
  * whole-token n-grams, per-document DISTINCT).
  *
  * Scale posture: both sides reduce to per-document distinct shingle
  * FINGERPRINTS (the codegen'd FNV-1a [[TextHash.fingerprint64]] — 8-byte
  * join keys; the shingle strings never enter the shuffle), the benchmark
  * side collapses to a global DISTINCT hash set (benchmarks are small —
  * thousands of docs — against a 100 TB corpus), and the join broadcast is
  * size-gated on the measured row count of that set. The train side streams:
  * one shuffle for the hash join (or zero with the broadcast), one partial
  * aggregation for the per-doc hit count. A 64-bit fingerprint collision
  * would flag a clean doc; at 2^32 distinct shingles the birthday bound puts
  * that at ~0.5 — use the exact string join (the sbt spec's brute force) if
  * that matters; the DuckDB oracle joins the raw shingle STRINGS, so a
  * collision in the fixture would surface as an oracle mismatch.
  */
object Contamination {

  /** Per-doc distinct shingle fingerprints: (idCol, shingle_h). */
  private[ops] def shingleHashes(docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int): DataFrame = {
    val shingleUdf = udf((text: String) =>
      Dedup.wordShinglesKernel(if (text == null) "" else text, shingleN).toSeq)
    docs.select(col(idCol), explode(shingleUdf(col(textCol))).as("__sh"))
      .select(col(idCol), TextHash.fingerprint64(col("__sh")).as("shingle_h"))
  }

  /** Flags every `train` document against the `benchmark` set — sealing
    * variant: returns an eagerly checkpointed result and frees the internal
    * benchmark-set checkpoint (the managed pattern from [[Dedup]]; callers
    * that want to keep composing lazily use [[flagContaminatedManaged]] and
    * free after materializing). Output: one row per train document —
    * (idCol, n_hits, contaminated) where `n_hits` counts the train doc's
    * DISTINCT shingles that occur anywhere in the benchmark set and
    * `contaminated = n_hits > 0`. Both frames need (idCol, textCol); `idCol`
    * is assumed unique per row (duplicate train ids would each carry their
    * own row, with hit counts attributed to all of them).
    */
  def flagContaminated(train: DataFrame, benchmark: DataFrame,
      shingleN: Int = 6, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    flagContaminatedManaged(train, benchmark, shingleN, idCol, textCol).seal()

  /** Lazy variant of [[flagContaminated]]: the returned frame references an
    * internal eager checkpoint (the measured benchmark hash set) — call
    * `free()` only after materializing. */
  def flagContaminatedManaged(train: DataFrame, benchmark: DataFrame,
      shingleN: Int = 6, idCol: String = "doc_id", textCol: String = "text"): Dedup.ManagedPairs = {
    val m = hitCountsManaged(train, benchmark, shingleN, idCol, textCol)
    val out = train.select(col(idCol))
      .join(m.pairs, Seq(idCol), "left")
      .na.fill(0L, Seq("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
    Dedup.ManagedPairs(out, m.free)
  }

  /** The SPARSE form of [[flagContaminatedManaged]]: one row per train doc
    * with `n_hits > 0` — no join back to the full train id set, so a caller
    * already holding a per-doc frame ([[Curate.curate]]'s single-scan signal
    * assembly) left-joins this small frame instead of paying a second
    * corpus scan + corpus-sized join. */
  def hitCountsManaged(train: DataFrame, benchmark: DataFrame,
      shingleN: Int = 6, idCol: String = "doc_id", textCol: String = "text"): Dedup.ManagedPairs = {
    // global distinct benchmark hash set, counted by its checkpoint (8-byte
    // rows: the row count IS the size estimate, no bytes sum needed)
    val SizeGate.Sized(benchSet, benchRows, _) = SizeGate.checkpoint(
      shingleHashes(benchmark, idCol, textCol, shingleN).select(col("shingle_h")).distinct())
    val probe = SizeGate.broadcastIfFits("contamination", benchSet, benchRows)

    val trainSh = shingleHashes(train, idCol, textCol, shingleN)
    // per-doc shingles are DISTINCT by construction (Set in the kernel), so
    // the post-join count per doc is the distinct-hit-shingle count
    val hits = trainSh.join(probe, Seq("shingle_h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
    Dedup.ManagedPairs(hits, () => { benchSet.unpersist(); () })
  }
}
