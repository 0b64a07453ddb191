package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.kg.{Incremental, Materialize}
import graft.ops.{Dedup, DeltaDedup}

/** Streaming corpus dedup — [[graft.ops.DeltaDedup.ingest]] as a
  * Structured-Streaming stage: each arriving micro-batch of documents is
  * classified against (and folded into) the persisted dedup state, and its
  * classifications/candidate pairs MERGE into [[graft.kg.Materialize]]
  * tables. The training-data counterpart of [[StreamingIngest]]: the same
  * at-least-once file source + idempotent-MERGE posture, applied to the
  * dedup operator suite instead of the KG pipeline.
  *
  * Exactly-once output despite at-least-once delivery, by two layers:
  *  - a ledger row (`_checkpoints`, the [[Incremental]] JSONL format) is
  *    appended after a batch's state fold + output writes land; a replayed
  *    batchId is SKIPPED outright;
  *  - if the crash hit between the fold and the ledger append, the replay
  *    re-runs ingest — which is replay-idempotent by construction (novel
  *    hashes no-op, signature appends key-dedup on read, and
  *    classification treats a stored hash introduced by this batch's own
  *    ids as in-batch, not corpus), so the re-written outputs are
  *    identical and the MERGE converges.
  *
  * Per-trigger cost is O(batch) signature compute plus one merge-on-read
  * scan of the state tables (see the ingest scaladoc) — the state's TEXT
  * is never re-read, which is what makes this viable as a long-lived
  * stream over an unbounded corpus.
  */
object DedupStream {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Start a file-source stream over `inputDir` (parquet document rows:
    * doc_id, text, …), ingesting against the dedup state under `stateDir`
    * and merging outputs into `outDir/{classified,pairs}`.
    * `Trigger.AvailableNow` drains currently-available input then stops —
    * batch-job semantics with streaming bookkeeping (source offsets in
    * `ckDir`), so repeated invocations pick up only NEW files. */
  def start(spark: SparkSession, inputDir: String, stateDir: String,
      outDir: String, ckDir: String,
      cfg: Dedup.MinHashConfig = Dedup.MinHashConfig(),
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    // file-stream sources need an explicit schema; the input dir's own
    // files carry it (they exist before start — AvailableNow semantics)
    val schema = spark.read.parquet(inputDir).schema
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(inputDir)
      .writeStream
      .option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val replayed = Incremental.readCheckpoints(s, outDir)
          .filter(col("stage") === "dedup-ingest" && col("status") === "done" &&
            col("partition_key") === batchId)
          .limit(1).count() > 0
        if (replayed) {
          log.info(s"[graft] dedup stream batch $batchId already ledgered - skip")
        } else {
          val t0 = System.currentTimeMillis()
          // a file-source micro-batch inherits the file count as its
          // partition count — spread narrow batches before the kernel-heavy
          // shingle/minhash stage (same move as StreamingIngest)
          val parallelism = s.sparkContext.defaultParallelism
          val spread =
            if (batch.rdd.getNumPartitions * 2 < parallelism)
              batch.repartition(parallelism)
            else batch
          val r = DeltaDedup.ingest(s, stateDir, spread, cfg)
          // independent stores: concurrent write jobs, both awaited even on
          // failure (no orphan writer); both frames are key-distinct
          graft.Fanout.all(
            () => Materialize.appendDelta(s, s"$outDir/classified",
              r.classified, Seq("doc_id"), dedupStaged = false),
            () => Materialize.appendDelta(s, s"$outDir/pairs",
              r.candidates, Seq("doc_a", "doc_b"), dedupStaged = false))
          Incremental.appendCheckpoint(s, outDir, Incremental.Checkpoint(
            "dedup-stream", "dedup-ingest", batchId.toInt, "done",
            rows_in = r.bandedDocs, rows_out = -1L,
            started_ms = t0, finished_ms = System.currentTimeMillis()))
          log.info(s"[graft] dedup stream batch $batchId: ${r.bandedDocs} docs " +
            f"in ${(System.currentTimeMillis() - t0) / 1e3}%.2f s")
        }
      }
      .start()
  }
}
