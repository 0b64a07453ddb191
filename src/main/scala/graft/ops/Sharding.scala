package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
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
  * boundaries). The global prefix sum is [[prefixScan]], the one two-pass
  * distributed scan shared with [[Percentile]] and [[Mixing]].
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
    val scan = prefixScan(df, Seq(col(idCol)), Nil, Seq(idCol),
      guarded(col(weightCol), col(weightCol) >= 0,
        s"packByBudget: negative $weightCol"))
    // integral division: non-negative prefix/budget, so div == floor
    scan.copy(pairs = scan.pairs.select(col(idCol), col("__w").as("weight"),
      expr(s"__before div ${budget}L").as("shard_id")))
  }

  /** `weight` as a long with a per-row guard folded in: `assert_true` is
    * null when `ok` holds, and the [[prefixScan]] checkpoint materializes
    * the column, so the guard runs on every row. */
  private[ops] def guarded(weight: Column, ok: Column, msg: String): Column =
    weight.cast("long") + coalesce(assert_true(ok, lit(msg)).cast("long"), lit(0L))

  /** The two-pass distributed prefix scan behind [[packByBudget]],
    * [[Percentile.rankBuckets]], [[Percentile.rankBucketsBy]] and
    * [[Mixing.mixByBudget]]. Projects `df` to `keep` plus `weight` (as
    * `__w`) and adds, per row, the sum of `__w` over the rows before it in
    * `order` within its `groups` key (`__before`, the exclusive prefix) and
    * that key's total (`__n`). `keep` must carry the `groups` and `order`
    * columns by name.
    *
    * The input is range-sorted once by `groups ++ order` and that frame is
    * checkpointed, so both passes read ONE materialization and the sampled
    * range boundaries cannot drift between them. Pass 1 sums `__w` per
    * (partition, group) cell — O(partitions + groups) rows, never
    * partitions × groups, because the sort keeps each group contiguous —
    * and derives each cell's exclusive offset and group total. Pass 2
    * broadcasts the cells back into a per-(partition, group) running-sum
    * window, which re-keys by partition id: the same row distribution,
    * never the SinglePartition exchange a bare window over `order` plans.
    *
    * With no `groups` the cell offsets are summed on the driver
    * (O(partitions) rows, never data): a window with no partition key
    * would itself plan a SinglePartition exchange. With `groups` they are
    * windows over the cell frame — no driver collect, generic over the
    * group types. `free()` unpersists the checkpoint. */
  private[ops] def prefixScan(df: DataFrame, keep: Seq[Column],
      groups: Seq[String], order: Seq[String],
      weight: Column): Dedup.ManagedPairs = {
    val sorted = df.select(keep :+ weight.as("__w"): _*)
      .sort((groups ++ order).map(col): _*)
      .select(col("*"), spark_partition_id().as("__pid"))
      .localCheckpoint(eager = true)
    val cellKey = "__pid" +: groups
    val cells = sorted.groupBy(cellKey.map(col): _*).agg(sum(col("__w")).as("__c"))
    val offsets =
      if (groups.isEmpty) {
        val sums = cells.collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
        val starts = sums.scanLeft(0L)(_ + _._2)
        sorted.sparkSession.createDataFrame(sums.toSeq.zip(starts).map {
          case ((pid, _), off) => (pid, off, starts.last)
        }).toDF("__pid", "__off", "__n")
      } else {
        val byGroup = Window.partitionBy(groups.map(col): _*).orderBy(col("__pid"))
        cells
          .withColumn("__off", sum(col("__c")).over(byGroup
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - col("__c"))
          .withColumn("__n", sum(col("__c")).over(byGroup
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .drop("__c")
      }
    val running = Window.partitionBy(cellKey.map(col): _*)
      .orderBy(order.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = sorted.join(broadcast(offsets), cellKey)
      .withColumn("__before", sum(col("__w")).over(running) + col("__off") - col("__w"))
    Dedup.ManagedPairs(out, () => { sorted.unpersist(); () })
  }
}
