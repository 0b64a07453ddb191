package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
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
  * and serializes the corpus through one task; this operator is the
  * scale-correct rewrite. Global rank is the [[Sharding]] two-pass scan
  * with count weights: range-sort once (checkpointed, so both passes read
  * ONE materialization and the sampled range boundaries cannot drift
  * between them), pass 1 collects per-partition ROW COUNTS (O(partitions)
  * driver rows — never data), pass 2 adds each partition's exclusive
  * offset to a per-partition `row_number`. The only exchanges are the one
  * range sort and the offsets broadcast.
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
    // the null guard rides a materialized column through the checkpoint
    // (the Sharding weight-guard trick: assert_true is null on pass, and
    // the checkpoint forces its evaluation on every row)
    val guarded = assert_true(col(scoreCol).isNotNull,
      lit(s"rankBuckets: null $scoreCol"))
    val sorted = df
      .select(col(idCol), col(scoreCol),
        coalesce(guarded.cast("long"), lit(0L)).as("__z"))
      .sort(col(scoreCol), col(idCol))
      .select(col("*"), spark_partition_id().as("__pid"))
      .localCheckpoint(eager = true)
    // pass 1: per-partition row counts — O(partitions) rows on the driver
    val counts = sorted.groupBy(col("__pid"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val n = counts.map(_._2).sum
    if (n == 0L) {
      val out = sorted.select(col(idCol), col(scoreCol),
        lit(0L).as("rank"), lit(0L).as("bucket")).limit(0)
      return Dedup.ManagedPairs(out, () => { sorted.unpersist(); () })
    }
    val offsets = counts.scanLeft((0, 0L)) { case ((_, acc), (_, c)) =>
      (0, acc + c)
    }.init.zip(counts).map { case ((_, off), (pid, _)) => (pid, off) }
    val offDf = sorted.sparkSession
      .createDataFrame(offsets.toSeq).toDF("__pid", "__off")
    // pass 2: per-partition row_number + the partition offset; the window
    // re-keys by __pid (same row distribution, keyed exchange — NEVER the
    // SinglePartition a bare row_number-over-order-by would plan)
    val w = Window.partitionBy(col("__pid"))
      .orderBy(col(scoreCol), col(idCol))
    val out = sorted
      .join(broadcast(offDf), Seq("__pid"))
      .withColumn("rank",
        row_number().over(w).cast("long") + col("__off"))
      // (rank−1)·k ≤ n·k: no overflow for any real corpus/k; div == floor
      // because both operands are non-negative
      .withColumn("bucket", expr(s"((rank - 1L) * ${k}L) div ${n}L"))
      .select(col(idCol), col(scoreCol), col("rank"), col("bucket"))
    Dedup.ManagedPairs(out, () => { sorted.unpersist(); () })
  }

  /** Per-group [[rankBuckets]] — CCNet's actual recipe splits by
    * perplexity percentile PER LANGUAGE (Wenzek et al. §4.3), so rank and
    * bucket here are computed within each `byCol` group independently:
    * rank restarts at 1 per group and bucket divides by the GROUP size.
    * Output: (byCol, idCol, scoreCol, rank, bucket).
    *
    * Same two-pass scan, with one structural upgrade: because the offsets
    * frame is keyed by (partition, group), the exclusive offsets and group
    * totals derive from a window over the TINY per-(pid, group) counts
    * aggregate — O(partitions + groups) rows, no driver collect at all,
    * generic over the group column's type. Sorting by (group, score, id)
    * keeps each group contiguous, so that counts frame stays
    * partitions+groups-bounded, never partitions×groups. Null group keys
    * are rejected per row (they would silently drop in the equi-join). */
  def rankBucketsBy(df: DataFrame, k: Int, scoreCol: String = "score",
      idCol: String = "doc_id", byCol: String = "lang"): DataFrame =
    rankBucketsByManaged(df, k, scoreCol, idCol, byCol).seal()

  /** Lazy variant of [[rankBucketsBy]] (the [[Dedup.ManagedPairs]]
    * contract). */
  def rankBucketsByManaged(df: DataFrame, k: Int, scoreCol: String = "score",
      idCol: String = "doc_id", byCol: String = "lang"): Dedup.ManagedPairs = {
    require(k > 0, s"rankBucketsBy needs k > 0: $k")
    val guarded = assert_true(
      col(scoreCol).isNotNull && col(byCol).isNotNull,
      lit(s"rankBucketsBy: null $scoreCol or $byCol"))
    val sorted = df
      .select(col(byCol), col(idCol), col(scoreCol),
        coalesce(guarded.cast("long"), lit(0L)).as("__z"))
      .sort(col(byCol), col(scoreCol), col(idCol))
      .select(col("*"), spark_partition_id().as("__pid"))
      .localCheckpoint(eager = true)
    // pass 1 stays distributed: per-(pid, group) counts, then the
    // exclusive within-group offset and the group total as windows over
    // that O(partitions + groups)-row frame
    val gw = Window.partitionBy(col(byCol))
    val cumW = gw.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = sorted.groupBy(col("__pid"), col(byCol))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__off", sum(col("__c")).over(cumW) - col("__c"))
      .withColumn("__n", sum(col("__c")).over(gw))
      .select(col("__pid"), col(byCol), col("__off"), col("__n"))
    // pass 2: per-(pid, group) row_number + the group-wise offset
    val w = Window.partitionBy(col("__pid"), col(byCol))
      .orderBy(col(scoreCol), col(idCol))
    val out = sorted
      .join(broadcast(offsets), Seq("__pid", byCol))
      .withColumn("rank",
        row_number().over(w).cast("long") + col("__off"))
      .withColumn("bucket", expr(s"((rank - 1L) * ${k}L) div __n"))
      .select(col(byCol), col(idCol), col(scoreCol), col("rank"),
        col("bucket"))
    Dedup.ManagedPairs(out, () => { sorted.unpersist(); () })
  }
}
