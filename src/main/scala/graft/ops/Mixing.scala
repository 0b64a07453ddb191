package graft.ops

import org.apache.spark.sql.DataFrame
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
  * Scale shape: the exclusive prefix is [[Sharding.prefixScan]] grouped by
  * source over the budgeted subset (one range sort by (source, hash, key),
  * zero driver collects), and the budget table rides a broadcast. Never a
  * per-source SinglePartition sort.
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
    // deterministic selection order: salted FNV-1a of (source, key); the
    // raw SIGNED value orders (the oracle reproduces the same int64)
    val hash = TextHash.fingerprint64(concat(
      lit(salt), lit("|"), col(sourceCol), lit("|"),
      col(idCol).cast("string")))
    val scan = Sharding.prefixScan(
      // budget-source filter FIRST — it prunes at the scan, before the sort
      df.filter(col(sourceCol).isin(budgets.keys.toSeq: _*)),
      Seq(col(sourceCol), col(idCol), hash.as("__h")), Seq(sourceCol),
      Seq("__h", idCol), Sharding.guarded(col(weightCol),
        col(weightCol) >= 0 && col(idCol).isNotNull,
        s"mixByBudget: negative $weightCol or null $idCol"))
    val budgetDf = df.sparkSession.createDataFrame(budgets.toSeq)
      .toDF(sourceCol, "__budget")
    // keep iff the exclusive prefix is under the source's budget
    scan.copy(pairs = scan.pairs
      .join(broadcast(budgetDf), Seq(sourceCol))
      .filter(col("__before") < col("__budget"))
      .select(col(sourceCol), col(idCol), col("__w").as("weight"),
        col("__before").as("cum_before")))
  }
}
