package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic percentile bucketing by global rank — the CCNet
  * "head / middle / tail" split (Wenzek et al., LREC 2020 §4.3: order
  * documents by perplexity and cut the corpus into equal-size buckets;
  * training keeps the head/middle). Generic over any score column, so it
  * composes with [[Perplexity.lmScore]], [[QualityClassifier.nbScore]],
  * [[Importance.dsirWeights]] or any per-doc signal: thresholds in real
  * curation stacks are PERCENTILES of the observed score distribution,
  * not absolute cutoffs — this operator turns a score into that decision.
  *
  *   rank   = 1-based position in the (score, id) total order
  *   bucket = floor((rank − 1) · k / n)   ∈ [0, k)     (n = corpus rows)
  *
  * Ties break by id, so the order is total and the output is a pure
  * function of the dataset — byte-identical across re-runs, retries and
  * cluster sizes, and exactly reproducible by a SQL
  * `row_number() OVER (ORDER BY score, id)` (the `q_ppl_buckets` oracle).
  * Bucket sizes differ by at most 1 (floor of an arithmetic progression).
  *
  * Scale posture (100 TB): the NAIVE formulation — `row_number() OVER
  * (ORDER BY score)` as a Spark window — plans a SinglePartition exchange
  * and serializes the corpus through one task. Here rank is the exclusive
  * prefix count of [[Sharding.prefixScan]] (weight 1) plus one, and the
  * only exchanges are that scan's range sort and offsets broadcast.
  *
  * Reference framing: megamind has no scoring or ranking surface; this
  * operator is part of the training-data layer (SURVEY "beyond the
  * reference" mandate), not a reference port.
  */
object Percentile {

  /** Adds global `rank` (1-based, (score, id) order) and `bucket`
    * (0..k−1) to (idCol, scoreCol). Null scores are rejected per row
    * (order would be engine-dependent); filter or impute first. Sealing
    * variant — lazy plan + free thunk is [[rankBucketsManaged]]. */
  def rankBuckets(df: DataFrame, k: Int, scoreCol: String = "score",
      idCol: String = "doc_id"): DataFrame =
    rankBucketsManaged(df, k, scoreCol, idCol).seal()

  /** Lazy variant: the returned frame references the sorted-input eager
    * checkpoint — call `free()` only after materializing. */
  def rankBucketsManaged(df: DataFrame, k: Int, scoreCol: String = "score",
      idCol: String = "doc_id"): Dedup.ManagedPairs = {
    require(k > 0, s"rankBuckets needs k > 0: $k")
    val scan = Sharding.prefixScan(df, Seq(col(idCol), col(scoreCol)), Nil,
      Seq(scoreCol, idCol), Sharding.guarded(lit(1L), col(scoreCol).isNotNull,
        s"rankBuckets: null $scoreCol"))
    scan.copy(pairs = buckets(scan.pairs, k, Seq(idCol, scoreCol)))
  }

  /** Per-group [[rankBuckets]] — CCNet's actual recipe splits by
    * perplexity percentile PER LANGUAGE (Wenzek et al. §4.3), so rank and
    * bucket here are computed within each `byCol` group independently:
    * rank restarts at 1 per group and bucket divides by the GROUP size.
    * Output: (byCol, idCol, scoreCol, rank, bucket).
    *
    * The same [[Sharding.prefixScan]], grouped by `byCol` (its offsets
    * come from windows, with no driver collect). Null group keys are
    * rejected per row (they would silently drop in the scan's equi-join). */
  def rankBucketsBy(df: DataFrame, k: Int, scoreCol: String = "score",
      idCol: String = "doc_id", byCol: String = "lang"): DataFrame =
    rankBucketsByManaged(df, k, scoreCol, idCol, byCol).seal()

  /** Lazy variant of [[rankBucketsBy]] (the [[Dedup.ManagedPairs]]
    * contract). */
  def rankBucketsByManaged(df: DataFrame, k: Int, scoreCol: String = "score",
      idCol: String = "doc_id", byCol: String = "lang"): Dedup.ManagedPairs = {
    require(k > 0, s"rankBucketsBy needs k > 0: $k")
    val scan = Sharding.prefixScan(df, Seq(col(byCol), col(idCol), col(scoreCol)),
      Seq(byCol), Seq(scoreCol, idCol), Sharding.guarded(lit(1L),
        col(scoreCol).isNotNull && col(byCol).isNotNull,
        s"rankBucketsBy: null $scoreCol or $byCol"))
    scan.copy(pairs = buckets(scan.pairs, k, Seq(byCol, idCol, scoreCol)))
  }

  /** `cols`, then rank = exclusive prefix count + 1 and
    * bucket = (rank − 1)·k div n. (rank − 1)·k ≤ n·k: no overflow for any
    * real corpus/k; div == floor because both operands are non-negative. */
  private def buckets(scanned: DataFrame, k: Int, cols: Seq[String]): DataFrame =
    scanned.select(cols.map(col) ++ Seq((col("__before") + 1L).as("rank"),
      expr(s"(__before * ${k}L) div __n").as("bucket")): _*)
}
