package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SizeGate

/** Incremental (delta) deduplication: dedup a NEW batch of documents against
  * an accumulated corpus without ever pairing old against old — the shape a
  * continuously-ingesting training-data pipeline runs at 100 TB, where
  * re-running [[Dedup.minhashPairs]] over corpus ∪ batch per ingest would
  * redo O(corpus²-blocked) work for an O(batch)-sized question.
  *
  * Reference anchor: megamind's ingestion path processes one conversation
  * batch at a time against the accumulated graph (docs/diagrams/
  * megamind.drawio:80-113 — the Watcher reacts to deltas, not snapshots);
  * these operators are the same delta discipline applied to corpus dedup,
  * mirroring [[graft.kg.Link.fuzzySameAsDelta]]'s (new⋈all) split, plus
  * persisted band signatures (the resolver dropped its own signature index
  * after it measured slower end to end — BENCH/RESOLVER.md; here the
  * signatures double as the dedup state, so they stay).
  *
  * Two layers, same contracts as the full-corpus operators:
  *
  *  - EXACT: classify each batch doc as `corpus` (text already in the
  *    corpus), `batch` (first seen earlier in this batch), or `unique`.
  *    One distinct-agg over the corpus hashes + two batch-keyed joins.
  *  - NEAR-DUP: MinHash/LSH candidate pairs restricted to (batch ⋈ all) —
  *    old×old is never enumerated — verified with exact shingle Jaccard.
  *    Output equals [[Dedup.minhashPairs]] over corpus ∪ batch filtered to
  *    pairs with at least one batch side (bucket caps run over the combined
  *    frame, so cap semantics are identical too).
  *
  * The stateless forms read the corpus once per call (unavoidable without
  * state). [[DeltaDedup.ingest]] is the persisted-state form: content
  * hashes and band signatures live in [[graft.kg.Materialize]] tables, so
  * ingesting batch k costs O(batch) signature compute + one merge-on-read
  * scan of the (hash/signature, not text) state — the corpus TEXT is never
  * re-read except to verify the candidate pairs the caller asks about.
  */
object DeltaDedup {

  // ---- stateless exact layer -------------------------------------------------

  /** Classify each batch doc by content hash against the corpus:
    * `dup_kind` ∈ {'corpus', 'batch', 'unique'}. The corpus side collapses
    * to DISTINCT hashes before the join (map-side partial agg — the shuffle
    * carries one row per distinct text, never per doc); batch-side joins
    * are keyed on the hash. Doc ids must be disjoint across the two inputs. */
  def exactClassify(batch: DataFrame, corpus: DataFrame): DataFrame = {
    val b = batch.select(col("doc_id"), md5(col("text")).as("h"))
    val corpusH = corpus.select(md5(col("text")).as("h")).distinct()
      .withColumn("in_corpus", lit(1))
    val firsts = b.groupBy(col("h")).agg(min(col("doc_id")).as("first_id"))
    b.join(corpusH, Seq("h"), "left")
      .join(firsts, Seq("h"))
      .select(col("doc_id"),
        when(col("in_corpus").isNotNull, "corpus")
          .when(col("doc_id") > col("first_id"), "batch")
          .otherwise("unique").as("dup_kind"))
  }

  // ---- stateless near-dup layer ----------------------------------------------

  /** Near-dup pairs with AT LEAST ONE batch side: (doc_a, doc_b, jaccard),
    * doc_a < doc_b, exact-Jaccard-verified at `cfg.jaccardThreshold`.
    * Equals [[Dedup.minhashPairs]] over corpus ∪ batch restricted to pairs
    * touching the batch: signatures and bucket caps are computed over the
    * COMBINED frame (identical cap semantics, observed under site
    * `dedup.delta`), but the probe side of the candidate join is batch-only
    * — old×old buckets contribute no pairs and no join work. */
  def minhashPairsDelta(batch: DataFrame, corpus: DataFrame,
      cfg: Dedup.MinHashConfig = Dedup.MinHashConfig()): DataFrame =
    minhashPairsDeltaManaged(batch, corpus, cfg).seal()

  /** [[minhashPairsDelta]] as a [[Dedup.ManagedPairs]] (lazy plan +
    * explicit free of the corpus-scale signature checkpoint). */
  def minhashPairsDeltaManaged(batch: DataFrame, corpus: DataFrame,
      cfg: Dedup.MinHashConfig = Dedup.MinHashConfig()): Dedup.ManagedPairs = {
    val spark = batch.sparkSession
    import spark.implicits._
    val all = batch.select(col("doc_id"), col("text"), lit(true).as("is_new"))
      .unionByName(corpus.select(col("doc_id"), col("text"), lit(false).as("is_new")))

    val sigs = all.select(col("doc_id"), col("text"), col("is_new"))
      .as[(Long, String, Boolean)]
      .flatMap { case (id, text, isNew) =>
        Dedup.bandHashKernel(
          Dedup.wordShinglesKernel(if (text == null) "" else text, cfg.shingleN),
          cfg.numHashes, cfg.bands).map { case (b, h) => (id, isNew, b, h) }
      }.toDF("doc_id", "is_new", "band", "band_hash")

    // bucket cap over the COMBINED frame (same key space as the full op)
    val capped = CapMetrics.capBuckets(sigs, "dedup.delta", cfg.maxBandBucket,
      col("band"), col("band_hash"))

    // probe side: batch only — old×old never meets
    val a = capped.filter(col("is_new"))
      .select(col("doc_id").as("doc_a"), col("band"), col("band_hash"))
    val b = capped.select(col("doc_id").as("doc_b"), col("band"), col("band_hash"))
    val candidates = a.join(b, Seq("band", "band_hash"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .distinct()

    val sealedCand = candidates.localCheckpoint(eager = true)
    val (verified, freeShingled) = Dedup.verifyJaccard(all.drop("is_new"),
      sealedCand, cfg.shingleN, cfg.jaccardThreshold)
    Dedup.ManagedPairs(verified,
      () => { capped.unpersist(); sealedCand.unpersist(); freeShingled(); () })
  }

  // ---- persisted-state incremental ingest --------------------------------------

  /** What one [[ingest]] pass produced.
    *
    *  - `classified` — the exact layer: (doc_id, dup_kind) for every batch
    *    doc, `dup_kind` ∈ {'corpus','batch','unique'} (against everything
    *    ingested BEFORE this batch).
    *  - `candidates` — LSH near-dup candidate pairs (doc_a, doc_b),
    *    doc_a < doc_b, at least one side in this batch; band-agreement
    *    only, NOT yet verified.
    *  - `verified` — exact-Jaccard-verified pairs (doc_a, doc_b, jaccard),
    *    present when `partnerTexts` was supplied.
    *  - `bandedDocs` — how many docs were shingled+minhashed this pass:
    *    the O(delta) evidence (== batch size, never the accumulated total). */
  final case class IngestResult(classified: DataFrame, candidates: DataFrame,
      verified: Option[DataFrame], bandedDocs: Long)

  private def hashesTable(dir: String) = s"$dir/hashes"
  private def sigsTable(dir: String) = s"$dir/sigs"
  private def cfgPath(dir: String) = java.nio.file.Paths.get(dir, "_CONFIG")
  private def cfgSig(cfg: Dedup.MinHashConfig): String =
    s"${cfg.numHashes}|${cfg.bands}|${cfg.shingleN}"

  /** Ingest one batch against the persisted dedup state under `dir`
    * ([[graft.kg.Materialize]] tables `hashes(text_md5, keep_doc_id)` and
    * `sigs(doc_id, band, band_hash)`), then fold the batch in.
    *
    * Per-pass cost: O(batch) signature compute (only batch docs are
    * shingled/hashed — [[IngestResult.bandedDocs]] proves it), one
    * merge-on-read scan of the hash/signature state (linear read any design
    * pays), O(batch) state appends. Corpus TEXT is never touched; exact
    * verification of the candidate pairs needs partner text, so pass the
    * corpus-doc lookup (`partnerTexts`: doc_id, text — e.g. the corpus
    * table the pipeline materializes anyway; batch docs are supplied
    * automatically) to get `verified`, or verify downstream.
    *
    * A `_CONFIG` signature pins the shape of stored rows: calling with a
    * different (numHashes, bands, shingleN) throws rather than silently
    * mixing incompatible signatures — new config, new state dir (the
    * existing corpus must be re-signed either way).
    *
    * Batch doc ids must be new (never ingested) — ids key both state
    * tables and the pair outputs. The one exception is REPLAYING the same
    * batch (a crashed streaming micro-batch, a retried job): that is
    * idempotent by construction — novel-hash appends no-op, signature
    * appends key-dedup on read, and classification treats a stored hash
    * whose `keep_doc_id` is inside the batch as this batch's own fold, not
    * corpus ([[graft.streaming.DedupStream]] leans on this). */
  def ingest(spark: SparkSession, dir: String, batch: DataFrame,
      cfg: Dedup.MinHashConfig = Dedup.MinHashConfig(),
      partnerTexts: Option[DataFrame] = None): IngestResult = {
    import spark.implicits._
    import graft.kg.Materialize

    val sig = cfgSig(cfg)
    if (java.nio.file.Files.exists(cfgPath(dir))) {
      val stored = java.nio.file.Files.readString(cfgPath(dir)).trim
      require(stored == sig,
        s"dedup state at $dir was built with config $stored, called with $sig — " +
          "signatures are not comparable across configs; use a fresh state dir")
    } else {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.writeString(cfgPath(dir), sig)
    }

    // ---- exact layer: classify, then append this batch's NOVEL hashes
    val b = batch.select(col("doc_id"), md5(col("text")).as("text_md5"))
      .localCheckpoint(eager = true)
    val stored = Materialize.readTable(spark, hashesTable(dir))
    val firsts = b.groupBy(col("text_md5"))
      .agg(min(col("doc_id")).as("first_id"))
    val classified = {
      // a stored hash counts as 'corpus' only if it was INTRODUCED by a
      // doc outside this batch (keep_doc_id not among the batch ids) —
      // this makes re-ingesting the SAME batch idempotent: a crash between
      // the hash fold and the output write replays to identical
      // classifications instead of downgrading the batch's own docs to
      // 'corpus' dups of themselves (which would silently DROP first
      // occurrences downstream)
      val withCorpus = stored match {
        case Some(h) => b.join(
          h.select(col("text_md5"), col("keep_doc_id")), Seq("text_md5"), "left")
          .join(b.select(col("doc_id").as("keep_doc_id"))
            .withColumn("keep_in_batch", lit(1)).distinct(),
            Seq("keep_doc_id"), "left")
          .withColumn("in_corpus",
            when(col("keep_doc_id").isNotNull && col("keep_in_batch").isNull, 1))
        case None => b.withColumn("in_corpus", lit(null).cast("int"))
      }
      withCorpus.join(firsts, Seq("text_md5"))
        .select(col("doc_id"),
          when(col("in_corpus").isNotNull, "corpus")
            .when(col("doc_id") > col("first_id"), "batch")
            .otherwise("unique").as("dup_kind"))
        .localCheckpoint(eager = true)
    }
    // append only NOVEL hashes: a hash first seen in an older batch keeps
    // its original keep_doc_id (the anti-join guarantees one row per key,
    // so the merge-on-read winner is never ambiguous)
    val novel = stored match {
      case Some(h) => firsts.join(h.select(col("text_md5")),
        Seq("text_md5"), "left_anti")
      case None => firsts
    }
    Materialize.appendDelta(spark, hashesTable(dir),
      novel.select(col("text_md5"), col("first_id").as("keep_doc_id")),
      Seq("text_md5"))

    // ---- near-dup layer: band ONLY the batch (O(delta) compute)
    val SizeGate.Sized(fresh, freshRows, _) = SizeGate.checkpoint(
      batch.select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          Dedup.bandHashKernel(
            Dedup.wordShinglesKernel(if (text == null) "" else text, cfg.shingleN),
            cfg.numHashes, cfg.bands).map { case (bd, h) => (id, bd, h) }
        }.toDF("doc_id", "band", "band_hash"))
    val bandedDocs = freshRows / cfg.bands

    val allSigs = (Materialize.readTable(spark, sigsTable(dir)) match {
      case Some(s) => s.unionByName(fresh)
      case None => fresh
    }).localCheckpoint(eager = true)

    // bucket caps by partial agg over the persisted frame (the shuffle
    // carries distinct buckets, not rows) — identical cap semantics to the
    // full op's count window; drops observed
    val bucketCounts = allSigs.groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("bucket_n"))
    val observed = CapMetrics.observed(bucketCounts, "dedup.delta.ingest",
      sum(when(col("bucket_n") > cfg.maxBandBucket, col("bucket_n"))
        .otherwise(0L)).as("dropped_rows"),
      max(col("bucket_n")).as("max_bucket"))
    val SizeGate.Sized(over, overRows, _) = SizeGate.checkpoint(
      observed.filter(col("bucket_n") > cfg.maxBandBucket)
        .select(col("band"), col("band_hash")))
    // structurally ≤ rows/maxBandBucket entries; broadcast only when
    // measured small (explicit hints are never demoted by AQE)
    val overP = SizeGate.broadcastIfFits("dedup.delta.cap", over, overRows)
    def capped(df: DataFrame): DataFrame =
      df.join(overP, Seq("band", "band_hash"), "left_anti")

    val candidates = capped(fresh).select(col("doc_id").as("doc_a"),
        col("band"), col("band_hash"))
      .join(capped(allSigs).select(col("doc_id").as("doc_b"),
        col("band"), col("band_hash")), Seq("band", "band_hash"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .distinct()
      .localCheckpoint(eager = true)

    val verified = partnerTexts.map { corpusTexts =>
      val texts = corpusTexts.select(col("doc_id"), col("text"))
        .unionByName(batch.select(col("doc_id"), col("text")))
      val (v, freeShingled) =
        Dedup.verifyJaccard(texts, candidates, cfg.shingleN, cfg.jaccardThreshold)
      try v.localCheckpoint(eager = true) finally freeShingled()
    }

    Materialize.appendDelta(spark, sigsTable(dir), fresh,
      Seq("doc_id", "band"), dedupStaged = false)

    allSigs.unpersist(); fresh.unpersist(); over.unpersist(); b.unpersist()
    IngestResult(classified, candidates, verified, bandedDocs)
  }
}
