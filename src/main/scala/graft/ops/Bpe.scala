package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary induction over a document corpus
  * (Sennrich et al. 2016 §3.2) — the tokenizer-training stage of a data
  * pipeline: start from characters (plus a `</w>` end-of-word marker),
  * repeatedly merge the most frequent adjacent symbol pair, and emit the
  * ordered merge table a tokenizer applies at encode time.
  *
  * Scale shape — the part that matters at 100 TB: ONE corpus scan reduces
  * the text to the DISTINCT-WORD frequency table (a hash-agg shuffle,
  * map-side combined), and every one of the `nMerges` iterations runs on
  * that O(vocabulary) table only — pair counting is a flatMap + hash-agg
  * over words-with-counts, never a rescan of the corpus. The per-iteration
  * driver transfer is exactly ONE row (the argmax pair under the total
  * order count desc, pair asc — deterministic across partitionings). The
  * evolving symbol table is localCheckpoint'ed each iteration and the
  * previous checkpoint freed (the Canonicalize/CC iteration discipline).
  *
  * Tokenization matches the rest of the text ops (`\S+` runs, lowercased
  * like the repetition/DSIR kernels), so the pair-count stage has an exact
  * DuckDB oracle (`q_bpe_pairs`); the iterative learner and the encoder
  * are sbt-verified against a driver-side reference implementation.
  */
object Bpe {

  // explode + relational filter (NOT the `filter(arr, lambda)` HOF — that
  // is interpreted CodegenFallback and this is the one corpus-scale scan)
  private[ops] def toWords(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(lower(col(textCol)), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  private def toSymbols(w: String): Array[String] =
    w.toCharArray.map(_.toString) :+ "</w>"

  /** Adjacent-symbol pair counts over the corpus vocabulary, weighted by
    * word frequency — iteration 0 of the BPE loop (characters + `</w>`),
    * exposed for the oracle. Output: (a, b, cnt). */
  def pairCounts(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    toWords(docs, textCol).as[(String, Long)]
      .flatMap { case (w, c) =>
        val s = toSymbols(w)
        Iterator.range(0, s.length - 1).map(i => (s(i), s(i + 1), c))
      }
      .toDF("a", "b", "c")
      .groupBy(col("a"), col("b")).agg(sum(col("c")).as("cnt"))
  }

  /** Merge one pair left-to-right, non-overlapping — the reference greedy
    * rule ("aaa" under merge (a,a) gives ["aa","a"]). */
  private[ops] def mergePair(s: Array[String], a: String,
      b: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      if (i < s.length - 1 && s(i) == a && s(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += s(i); i += 1 }
    }
    out.toArray
  }

  /** Learn `nMerges` merges. Returns the ordered merge table
    * (rank, a, b) — rank 0 first. Stops early (short table) if no pair
    * occurs twice or the symbol table runs out of adjacent pairs.
    *
    * Execution (the r5 "one Spark job per merge" fix): the corpus reduces
    * to the distinct-word frequency table in ONE distributed scan as
    * before, and then — when the measured vocabulary fits
    * [[graft.SizeGate]] — the merge loop runs ON THE DRIVER with
    * incremental pair counts: a TreeSet argmax under the identical total
    * order (cnt desc, a asc, b asc) and O(words-containing-pair) count
    * updates per merge, instead of a full distributed recount + driver
    * round-trip + localCheckpoint per merge (a realistic 30k-merge
    * vocabulary was 30k sequential Spark jobs of pure scheduling — hours;
    * the driver loop does the same arithmetic in seconds-to-minutes and
    * integer pair counts make the two loops EXACTLY equal, asserted in
    * BpeSpec at nMerges=5000). Above the gate the distributed loop below
    * is authoritative, optionally over a `heavyHitterTopK`-truncated
    * vocabulary (top-K words by (cnt desc, word asc) — the standard
    * practice for web-scale corpora, where the frequency tail beyond the
    * top few million words carries <0.1% of token mass; 0 = exact).
    * Symbols are UTF-16 code units and the tie-break order is
    * String.compareTo — identical to the distributed path on the repo's
    * ASCII corpora convention. */
  def learnMerges(docs: DataFrame, nMerges: Int,
      textCol: String = "text",
      heavyHitterTopK: Int = 0): Seq[(Int, String, String)] = {
    require(nMerges > 0, s"learnMerges needs nMerges > 0: $nMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    val wordsBase = {
      val all = toWords(docs, textCol)
      if (heavyHitterTopK > 0)
        all.orderBy(col("cnt").desc, col("word")).limit(heavyHitterTopK)
      else all
    }
    val graft.SizeGate.Sized(wordsCp, nVocab, Seq(nChars)) =
      graft.SizeGate.checkpoint(wordsBase, length(col("word")))
    // per char: a symbol ref and its pair's count and occurrence entries
    if (graft.SizeGate.fits("bpe.vocab", nVocab, nVocab * 128L + nChars * 64L)) {
      val vocab = wordsCp.as[(String, Long)].collect()
      wordsCp.unpersist()
      return learnMergesDriver(vocab, nMerges)
    }

    var words = wordsCp.as[(String, Long)]
      .map { case (w, c) => (toSymbols(w).toSeq, c) }
      .toDF("syms", "cnt")
      .localCheckpoint(true)
    wordsCp.unpersist()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
    var rank = 0
    var exhausted = false
    while (rank < nMerges && !exhausted) {
      // argmax pair under (cnt desc, a asc, b asc) — ONE driver row
      val best = words.as[(Seq[String], Long)]
        .flatMap { case (s, c) =>
          Iterator.range(0, s.length - 1).map(i => (s(i), s(i + 1), c))
        }
        .toDF("a", "b", "c")
        .groupBy(col("a"), col("b")).agg(sum(col("c")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty || best.head.getLong(2) < 2) exhausted = true
      else {
        val (a, b) = (best.head.getString(0), best.head.getString(1))
        merges += ((rank, a, b))
        val prev = words
        words = words.as[(Seq[String], Long)]
          .map { case (s, c) => (mergePair(s.toArray, a, b).toSeq, c) }
          .toDF("syms", "cnt")
          .localCheckpoint(true)
        prev.unpersist()
        rank += 1
      }
    }
    words.unpersist()
    merges.toList
  }

  /** Driver merge loop with incremental pair bookkeeping. Integer counts,
    * same greedy rule, same argmax total order and same `< 2` stop as the
    * distributed loop — the outputs are exactly equal; only the cost per
    * merge changes: O(words containing the merged pair) instead of a full
    * vocabulary recount as a Spark job. */
  private def learnMergesDriver(vocab: Array[(String, Long)],
      nMerges: Int): Seq[(Int, String, String)] = {
    import scala.collection.mutable
    // intern the 1-char symbol strings so the driver vocabulary costs
    // O(words × refs), not O(words × len) distinct string objects
    val intern = mutable.HashMap.empty[String, String]
    def in(s: String): String = intern.getOrElseUpdate(s, s)
    val words: Array[Array[String]] = vocab.map(v => toSymbols(v._1).map(in))
    val cnts: Array[Long] = vocab.map(_._2)

    val pairCnt = mutable.HashMap.empty[(String, String), Long]
    val occur = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    val cmp = new java.util.Comparator[(Long, String, String)] {
      def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(y._1, x._1) // cnt desc
        if (c != 0) c
        else {
          val a = x._2.compareTo(y._2)
          if (a != 0) a else x._3.compareTo(y._3)
        }
      }
    }
    val ord = new java.util.TreeSet[(Long, String, String)](cmp)
    def setCount(p: (String, String), delta: Long): Unit = {
      val old = pairCnt.getOrElse(p, 0L)
      if (old != 0L) ord.remove((old, p._1, p._2))
      val nw = old + delta
      if (nw != 0L) { pairCnt(p) = nw; ord.add((nw, p._1, p._2)) }
      else pairCnt.remove(p)
      ()
    }
    def pairsOf(s: Array[String]): mutable.HashMap[(String, String), Long] = {
      val m = mutable.HashMap.empty[(String, String), Long]
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        m(p) = m.getOrElse(p, 0L) + 1L
        i += 1
      }
      m
    }
    var wi = 0
    while (wi < words.length) {
      pairsOf(words(wi)).foreach { case (p, k) =>
        setCount(p, k * cnts(wi))
        occur.getOrElseUpdate(p, mutable.Set.empty) += wi
      }
      wi += 1
    }

    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
    var rank = 0
    var exhausted = false
    while (rank < nMerges && !exhausted) {
      if (ord.isEmpty || ord.first()._1 < 2L) exhausted = true
      else {
        val (_, a, b) = ord.first()
        merges += ((rank, a, b))
        val ab = in(a + b)
        val touched = occur.getOrElse((a, b), mutable.Set.empty).toArray
        touched.foreach { w =>
          val before = pairsOf(words(w))
          val s2 = mergePair(words(w), a, b).map {
            case x if x == ab => ab
            case x => x
          }
          val after = pairsOf(s2)
          // apply deltas; keep occur in sync (a pair leaving this word
          // drops the index; a pair entering it adds the index)
          (before.keySet ++ after.keySet).foreach { p =>
            val d = after.getOrElse(p, 0L) - before.getOrElse(p, 0L)
            if (d != 0L) setCount(p, d * cnts(w))
            if (after.getOrElse(p, 0L) == 0L)
              occur.get(p).foreach(_ -= w)
            else occur.getOrElseUpdate(p, mutable.Set.empty) += w
          }
          words(w) = s2
        }
        rank += 1
      }
    }
    merges.toList
  }

  /** Apply a learned merge table to the corpus: every document becomes its
    * BPE symbol sequence (each word encoded independently, merges applied
    * in rank order — the standard encode). Map-only typed kernel with the
    * O(merges) table in the closure. Output: (idCol, n_bpe_tokens,
    * bpe_text — symbols joined by one space, `</w>` markers kept). */
  def applyMerges(docs: DataFrame, merges: Seq[(Int, String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ordered = merges.sortBy(_._1).map { case (_, a, b) => (a, b) }
    val bc = spark.sparkContext.broadcast(ordered)
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .map { case (id, text) =>
        val ms = bc.value
        val words = graft.ops.TextStats.wsTokensKernel(
          (if (text == null) "" else text).toLowerCase)
        val out = words.flatMap { w =>
          var s = toSymbols(w)
          ms.foreach { case (a, b) => s = mergePair(s, a, b) }
          s
        }
        (id, out.length, out.mkString(" "))
      }.toDF(idCol, "n_bpe_tokens", "bpe_text")
  }
}
