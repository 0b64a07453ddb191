package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextHash

/** Deterministic source mixing — the "data mixture" stage of a training
  * pipeline (per-set weights as in The Pile, Gao et al. 2020 §2; learned
  * reweighting as in DoReMi, Xie et al. 2023, applied here as hard weight
  * budgets): given a per-source weight budget (tokens, chars, bytes),
  * select documents from each source until that source's budget is
  * filled, as a PURE FUNCTION of the dataset.
  *
  * Selection order within a source is the salted FNV-1a fingerprint of the
  * document key (ties broken by key) — a deterministic shuffle, so the
  * kept set is an unbiased sample of the source, identical across re-runs,
  * cluster sizes, and engines (the DuckDB oracle re-derives the same hash
  * with HUGEINT arithmetic). A document is kept iff the sum of the weights
  * of documents ordered BEFORE it (its exclusive within-source prefix sum)
  * is `< budget` — the last kept document may overshoot, mirroring
  * [[Sharding.packByBudget]]'s convention (splitting documents is a
  * tokenizer concern). `budget <= 0` keeps nothing from that source;
  * sources absent from the budget map are dropped entirely (the filter is
  * pushed into the scan).
  *
  * Scale shape (the same grouped two-pass distributed scan as
  * [[Percentile.rankBucketsBy]]): ONE range-sort of the budgeted subset by
  * (source, hash, key), then the exclusive per-source offsets derive from
  * windows over the O(partitions + sources)-row per-(partition, source)
  * weight-sum aggregate — zero driver collects — and broadcast back into a
  * per-partition running-sum window. Never a per-source SinglePartition
  * sort.
  */
object Mixing {

  /** Adds nothing, removes rows: keeps the budgeted deterministic sample.
    * Output: (sourceCol, idCol, weight, cum_before) — `cum_before` is the
    * exclusive within-source prefix sum in selection order, kept for
    * auditability (every kept row satisfies `cum_before < budget`). */
  def mixByBudget(df: DataFrame, budgets: Map[String, Long],
      sourceCol: String = "source", idCol: String = "doc_id",
      weightCol: String = "n_chars", salt: String = "mix"): DataFrame =
    mixByBudgetManaged(df, budgets, sourceCol, idCol, weightCol, salt).seal()

  /** Lazy variant of [[mixByBudget]] (the [[Dedup.ManagedPairs]]
    * contract: materialize, then `free()`). */
  def mixByBudgetManaged(df: DataFrame, budgets: Map[String, Long],
      sourceCol: String = "source", idCol: String = "doc_id",
      weightCol: String = "n_chars",
      salt: String = "mix"): Dedup.ManagedPairs = {
    require(budgets.nonEmpty, "mixByBudget needs at least one source budget")
    val spark = df.sparkSession
    val guarded = assert_true(
      col(weightCol) >= 0 && col(idCol).isNotNull,
      lit(s"mixByBudget: negative $weightCol or null $idCol"))
    // deterministic selection order: salted FNV-1a of (source, key); the
    // raw SIGNED value orders (the oracle reproduces the same int64)
    val hash = TextHash.fingerprint64(concat(
      lit(salt), lit("|"), col(sourceCol), lit("|"),
      col(idCol).cast("string")))
    val sorted = df
      // budget-source filter FIRST — it prunes at the scan, before the sort
      .filter(col(sourceCol).isin(budgets.keys.toSeq: _*))
      .select(col(sourceCol), col(idCol),
        (col(weightCol).cast("long") + coalesce(guarded.cast("long"), lit(0L)))
          .as("weight"),
        hash.as("__h"))
      .sort(col(sourceCol), col("__h"), col(idCol))
      .select(col("*"), spark_partition_id().as("__pid"))
      .localCheckpoint(eager = true)
    // pass 1 (distributed): per-(pid, source) weight sums, then each
    // (pid, source) cell's exclusive within-source offset as a running
    // window over that O(partitions + sources)-row frame
    val cumW = Window.partitionBy(col(sourceCol)).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = sorted.groupBy(col("__pid"), col(sourceCol))
      .agg(sum(col("weight")).as("__t"))
      .withColumn("__off", sum(col("__t")).over(cumW) - col("__t"))
      .select(col("__pid"), col(sourceCol), col("__off"))
    val budgetDf = spark.createDataFrame(budgets.toSeq)
      .toDF(sourceCol, "__budget")
    // pass 2: partition-local running sum + the source-wise offset; keep
    // iff the exclusive prefix is under the source's budget
    val w = Window.partitionBy(col("__pid"), col(sourceCol))
      .orderBy(col("__h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = sorted
      .join(broadcast(offsets), Seq("__pid", sourceCol))
      .join(broadcast(budgetDf), Seq(sourceCol))
      .withColumn("cum_before",
        sum(col("weight")).over(w) + col("__off") - col("weight"))
      .filter(col("cum_before") < col("__budget"))
      .select(col(sourceCol), col(idCol), col("weight"), col("cum_before"))
    Dedup.ManagedPairs(out, () => { sorted.unpersist(); () })
  }
}
