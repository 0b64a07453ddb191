package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SizeGate
import graft.functions.TextHashKernels

/** Exact duplicate-SPAN detection (Lee et al., ACL 2022, "Deduplicating
  * Training Data Makes Language Models Better"): find every `windowW`-token
  * window whose exact text occurs in at least `minDocs` DISTINCT documents,
  * then merge overlapping/adjacent duplicated windows per document into
  * spans. Doc-level dedup ([[Dedup]]) misses boilerplate shared across
  * otherwise-distinct pages — license headers, navigation chrome, quoted
  * passages — which this operator surfaces span-by-span.
  *
  * Output, one row per input document:
  * `(idCol, n_tokens, n_dup_windows, n_dup_spans, dup_token_frac)` where
  * `dup_token_frac` = tokens covered by the union of duplicated windows /
  * `n_tokens` (an exact integer-over-integer IEEE division, bit-identical
  * across engines).
  *
  * Scale posture (100 TB): the reference method builds a suffix array over
  * the whole corpus — infeasible distributed; the standard Spark-shaped
  * equivalent is fingerprinted windows + one global frequency pass. Windows
  * are 8-byte FNV-1a fingerprints ([[TextHashKernels.fingerprint64]]) of
  * the lowercased token window — the window STRINGS never leave the kernel,
  * so the shuffle moves (id, pos, 8-byte hash) rows. The duplicated-window
  * set collapses via partial aggregation and is measured + size-gated for
  * broadcast (boilerplate sets are small relative to a corpus); the window
  * stream itself is NEVER checkpointed — it is recomputed on each of its
  * two consumptions (count pass + join pass), trading one extra scan-bound
  * kernel pass for not materializing a tokens-sized frame. Span merging is
  * one window function + two aggregations that all reuse the same doc-id
  * hash partitioning (one exchange total after the join).
  *
  * A 64-bit fingerprint collision would mark a clean window duplicated; the
  * DuckDB oracle joins the raw window STRINGS, so any collision in the
  * fixture surfaces as an oracle mismatch (the [[Contamination]] posture).
  */
object DupSpans {

  /** FNV-1a fingerprints of every `w`-token window (stride 1) of the
    * lowercased whitespace tokens of `text`; index in the returned array ==
    * 0-based token position of the window start. One pass, no HOFs. */
  private[ops] def windowFpsKernel(text: String, w: Int): Array[Long] = {
    val toks = graft.ops.TextStats.wsTokensKernel(
      (if (text == null) "" else text).toLowerCase)
    val n = toks.length
    if (n < w) Array.empty[Long]
    else Array.tabulate(n - w + 1) { i =>
      val sb = new java.lang.StringBuilder
      var j = i
      while (j < i + w) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      TextHashKernels.fingerprint64(UTF8String.fromString(sb.toString))
    }
  }

  /** `(idCol, pos, win_h)` window-fingerprint stream. Docs shorter than the
    * window emit nothing (they re-enter via the final left join). */
  private def windows(docs: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame = {
    val k = udf((text: String) => windowFpsKernel(text, w).toSeq)
    docs.select(col(idCol), posexplode(k(col(textCol))).as(Seq("pos", "win_h")))
  }

  /** Sealing variant of [[dupSpanStatsManaged]]: eagerly checkpoints the
    * (docs-sized) result and frees the internal duplicated-set checkpoint. */
  def dupSpanStats(docs: DataFrame, windowW: Int = 8, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    dupSpanStatsManaged(docs, windowW, minDocs, idCol, textCol).seal()

  /** Merged duplicated spans per doc (`idCol, __isl, __mn, __mx, __nw`):
    * the gaps-and-islands core shared by the stats and removal ops.
    * Islands are DISJOINT in token coverage (a new island opens only when
    * the gap exceeds `w`, i.e. the next window starts past the previous
    * coverage end), so downstream coverage sums never double-count. */
  private def spans(docs: DataFrame, windowW: Int, minDocs: Int,
      idCol: String, textCol: String): Dedup.ManagedPairs = {
    require(windowW >= 1, s"windowW must be >= 1: $windowW")
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val wins = windows(docs, idCol, textCol, windowW)

    // global duplicated-window set: partial-aggregated to distinct hashes,
    // counted by its checkpoint (8-byte rows: the count IS the size estimate)
    val SizeGate.Sized(dupSet, dupRows, _) = SizeGate.checkpoint(
      wins.groupBy(col("win_h"))
        .agg(countDistinct(col(idCol)).as("__nd"))
        .filter(col("__nd") >= minDocs)
        .select(col("win_h")))
    val probe = SizeGate.broadcastIfFits("dup_spans", dupSet, dupRows)

    // duplicated window positions -> gaps-and-islands span merge; the window
    // and BOTH aggregations reuse the post-join doc-id partitioning
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val prev = lag(col("pos"), 1).over(byDoc)
    val isl = wins.join(probe, Seq("win_h"))
      .withColumn("__isl", sum(
        when(prev.isNull || col("pos") - prev > windowW, 1).otherwise(0))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val sp = isl.groupBy(col(idCol), col("__isl"))
      .agg(min(col("pos")).as("__mn"), max(col("pos")).as("__mx"),
        count(lit(1)).as("__nw"))
    Dedup.ManagedPairs(sp, () => { dupSet.unpersist(); () })
  }

  /** Lazy variant: the returned frame references the internal eager
    * checkpoint of the measured duplicated-window set — call `free()` only
    * after materializing (the [[Dedup.ManagedPairs]] contract). */
  def dupSpanStatsManaged(docs: DataFrame, windowW: Int = 8, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): Dedup.ManagedPairs = {
    val m = spans(docs, windowW, minDocs, idCol, textCol)
    val spansDf = m.pairs
    val perDoc = spansDf.groupBy(col(idCol))
      .agg(sum(col("__nw")).as("n_dup_windows"),
        count(lit(1)).as("n_dup_spans"),
        sum(col("__mx") - col("__mn") + windowW).cast("long").as("__cov"))

    val nTok = size(TextStats.tokens(col(textCol))).cast("long")
    val out = docs.select(col(idCol), nTok.as("n_tokens"))
      .join(perDoc, Seq(idCol), "left")
      .na.fill(0L, Seq("n_dup_windows", "n_dup_spans", "__cov"))
      .withColumn("dup_token_frac", col("__cov").cast("double")
        / greatest(col("n_tokens").cast("double"), lit(1.0)))
      .drop("__cov")
    Dedup.ManagedPairs(out, m.free)
  }

  /** One-pass removal kernel: drops every token whose position falls inside
    * a merged span `[mn, mn+len)`; spans arrive sorted and disjoint. Output
    * is the surviving ORIGINAL-case tokens joined by single spaces (i.e.
    * whitespace is normalized for untouched docs too — documented below). */
  private[ops] def removeKernel(text: String, mns: Array[Int],
      lens: Array[Int]): (String, Long) = {
    val toks = graft.ops.TextStats.wsTokensKernel(if (text == null) "" else text)
    if (mns == null || mns.isEmpty) return (toks.mkString(" "), toks.length.toLong)
    val sb = new java.lang.StringBuilder
    var kept = 0L
    var si = 0
    var i = 0
    while (i < toks.length) {
      while (si < mns.length && i >= mns(si) + lens(si)) si += 1
      val covered = si < mns.length && i >= mns(si)
      if (!covered) {
        if (kept > 0L) sb.append(' ')
        sb.append(toks(i))
        kept += 1L
      }
      i += 1
    }
    (sb.toString, kept)
  }

  /** The removal half of Lee et al. 2022 ("ExactSubstr" dedup): delete every
    * token covered by a cross-doc duplicated span (same spans as
    * [[dupSpanStats]]) and return the cleaned corpus —
    * `(idCol, clean_text, n_kept)`, one row per input doc.
    *
    * `clean_text` is the surviving original-case tokens joined by single
    * spaces: tokenization is whitespace-normalizing, so an untouched doc
    * round-trips to `split("\\s+").mkString(" ")` of itself (exact-string
    * oracle-able; original inter-token whitespace is not preserved).
    *
    * Scale posture: spans per doc are disjoint and each covers >= `windowW`
    * tokens, so the collected span list is <= n_tokens/windowW entries —
    * strictly smaller than the text already on the row; the collect +
    * removal join reuses the doc-id partitioning from the span merge. */
  def removeDupSpans(docs: DataFrame, windowW: Int = 8, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    removeDupSpansManaged(docs, windowW, minDocs, idCol, textCol).seal()

  /** [[removeDupSpans]] as a [[Dedup.ManagedPairs]] (lazy plan + explicit
    * free of the duplicated-window-set checkpoint). */
  def removeDupSpansManaged(docs: DataFrame, windowW: Int = 8,
      minDocs: Int = 2, idCol: String = "doc_id", textCol: String = "text"): Dedup.ManagedPairs = {
    val m = spans(docs, windowW, minDocs, idCol, textCol)
    // sorted disjoint (start, len) arrays; len = mx - mn + windowW
    val perDoc = m.pairs.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("__mn").as("mn"),
        (col("__mx") - col("__mn") + windowW).as("ln")))).as("__sp"))
    val k = udf((text: String, sp: Seq[org.apache.spark.sql.Row]) => {
      val (mns, lens) =
        if (sp == null) (Array.empty[Int], Array.empty[Int])
        else (sp.map(_.getInt(0)).toArray, sp.map(_.getInt(1)).toArray)
      removeKernel(text, mns, lens)
    })
    val out = docs.join(perDoc, Seq(idCol), "left")
      .withColumn("__r", k(col(textCol), col("__sp")))
      .select(col(idCol), col("__r._1").as("clean_text"),
        col("__r._2").as("n_kept"))
    Dedup.ManagedPairs(out, m.free)
  }
}
