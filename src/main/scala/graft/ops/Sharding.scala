package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic training-shard packing — the export stage of a data
  * pipeline: assign every document to a shard so that consecutive documents
  * (in a stable key order) fill each shard up to a weight budget (tokens,
  * chars, bytes). The assignment is a pure function of the dataset:
  *
  *   shard_id = floor( exclusive_prefix_sum(weight, ordered by id) / budget )
  *
  * so re-runs, retries and different cluster sizes produce byte-identical
  * shard maps (unlike greedy per-task packing, which depends on partition
  * boundaries).
  *
  * The global prefix sum is the classic two-pass distributed scan:
  * pass 1 computes per-range-partition weight totals (one tiny row per
  * partition — the only driver-side data, bounded by the partition count,
  * never by rows); pass 2 adds each partition's exclusive offset to a
  * per-partition running-sum window. Both passes read ONE materialization
  * of the sorted input, so the range boundaries are computed once (range
  * partitioning samples its input; deriving the two passes from the same
  * checkpoint removes any dependence on resample stability).
  *
  * Weights must be non-negative (enforced per row). A single document
  * heavier than `budget` still lands in exactly one shard — that shard
  * simply exceeds the budget (the standard convention; splitting documents
  * is a tokenizer-level concern, not a shard-map concern).
  */
object Sharding {

  /** Adds `shard_id` to (idCol, weightCol): consecutive-by-id documents
    * packed into `budget`-weight shards. Output: (idCol, weight, shard_id),
    * one row per input row. Sealing variant — the lazy pass-2 plan plus the
    * free thunk for its internal checkpoint is [[packByBudgetManaged]]. */
  def packByBudget(df: DataFrame, budget: Long, idCol: String = "doc_id",
      weightCol: String = "n_chars"): DataFrame =
    packByBudgetManaged(df, budget, idCol, weightCol).seal()

  /** Lazy variant: the returned frame references the sorted-input eager
    * checkpoint — call `free()` only after materializing. */
  def packByBudgetManaged(df: DataFrame, budget: Long,
      idCol: String = "doc_id",
      weightCol: String = "n_chars"): Dedup.ManagedPairs = {
    require(budget > 0, "packByBudget needs a positive budget")
    val guarded = assert_true(col(weightCol) >= 0,
      lit(s"packByBudget: negative $weightCol"))
    val sorted = df
      .select(col(idCol),
        (col(weightCol).cast("long") + coalesce(guarded.cast("long"), lit(0L)))
          .as("weight"))
      .sort(col(idCol))
      .select(col("*"), spark_partition_id().as("__pid"))
      .localCheckpoint(eager = true)
    // pass 1: per-partition totals — O(partitions) rows on the driver
    val totals = sorted.groupBy(col("__pid"))
      .agg(sum(col("weight")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = totals.scanLeft((0, 0L)) { case ((_, acc), (_, t)) =>
      (0, acc + t)
    }.init.zip(totals).map { case ((_, off), (pid, _)) => (pid, off) }
    val offDf = sorted.sparkSession
      .createDataFrame(offsets.toSeq).toDF("__pid", "__off")
    // pass 2: running sum inside each partition + the partition offset;
    // the window re-keys by __pid (same row distribution, keyed exchange)
    val w = Window.partitionBy(col("__pid")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = sorted
      .join(broadcast(offDf), Seq("__pid"))
      .withColumn("__cum_excl",
        sum(col("weight")).over(w) + col("__off") - col("weight"))
      // integral division: non-negative cum/budget, so div == floor
      .withColumn("shard_id", expr(s"__cum_excl div ${budget}L"))
      .select(col(idCol), col("weight"), col("shard_id"))
    Dedup.ManagedPairs(out, () => { sorted.unpersist(); () })
  }
}
