package graft.kg

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.{Fanout, SizeGate}
import graft.model.Model._

/** Incremental/resumable execution with per-partition checkpoints, lineage
  * and metrics (north rule: "checkpoint per-partition progress with
  * lineage + metrics so any stage is resumable").
  *
  * The input is split into `nBuckets` deterministic conv_id hash buckets;
  * each bucket runs the full pipeline and MERGEs into the output tables,
  * then appends a `_checkpoints` row. A restarted run consults the table and
  * skips completed buckets — safe because the sink is an idempotent MERGE
  * and GUIDs are content-derived (re-processing a bucket is a no-op).
  *
  * Linking across batches mirrors megamind's architecture: per-bucket
  * linking is exact/dictionary (synchronous, like the Entity Registry
  * lookup), while FUZZY canonicalization runs as a separate global
  * compaction pass [[Incremental.resolveDisjoint]] over the accumulated
  * node table — the batch analog of megamind's asynchronous Disjoint
  * Watcher → Disjoint Resolver loop (`docs/diagrams/megamind.drawio:80-113`):
  * the graph is eventually consistent, converging when the resolver runs.
  */
object Incremental {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  final case class Checkpoint(run_id: String, stage: String, partition_key: Int,
      status: String, rows_in: Long, rows_out: Long, started_ms: Long, finished_ms: Long)

  private def cpPath(outDir: String) = s"$outDir/_checkpoints"
  private def metricsPath(outDir: String) = s"$outDir/_metrics"

  // Checkpoint/metrics rows are appended from the DRIVER as one small JSON
  // file per append (tmp + ATOMIC_MOVE — a crash never leaves a partial
  // line visible): durability per bucket without paying a Spark job for a
  // 1-row parquet write. Measured: the four 1-row writes per bucket were
  // ~2-4 s of pure scheduling overhead per 2-bucket run — the dominant
  // fixed cost of kg_incremental after the r3 optimizations.
  private val appendSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  // per-process tag: millis + a JVM-local counter alone collide when two
  // PROCESSES append to the same dir in the same millisecond, and POSIX
  // rename silently REPLACES the target — a dropped checkpoint row would be
  // undetectable (resume would just re-run a bucket, but a dropped metrics
  // row is simply lost)
  private val procTag =
    java.lang.Long.toHexString(java.util.UUID.randomUUID().getLeastSignificantBits)
  private def appendJsonFile(dir: String, json: String): Unit = {
    val d = Paths.get(dir)
    Files.createDirectories(d)
    val name = s"r-${System.currentTimeMillis()}-$procTag-${appendSeq.incrementAndGet()}"
    val tmp = d.resolve(s".$name.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, d.resolve(s"$name.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private val cpSchema = org.apache.spark.sql.Encoders.product[Checkpoint].schema
  private val metricsSchema = StructType(Seq(
    StructField("run_id", StringType), StructField("stage", StringType),
    StructField("partition_key", IntegerType), StructField("metric", StringType),
    StructField("value", LongType)))

  /** Read an append dir that may hold JSONL rows (current format) AND
    * parquet part files (the pre-r4 format): a dir written by an older
    * build must not read as EMPTY — that would silently void
    * completedBuckets and re-process every done bucket on resume. The JSONL
    * rows are parsed on the driver ([[jsonRows]]) into a local relation;
    * only parquet files cost a Spark read. */
  private def readAppendDir(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val local = spark.createDataFrame(jsonRows(dir, schema).asJava,
      StructType(schema.map(_.copy(nullable = true))))
    if (!appendFiles(dir).exists(_.endsWith(".parquet"))) local
    else local.unionByName(spark.read.schema(schema)
      .option("pathGlobFilter", "*.parquet").parquet(dir))
  }

  // visible files of an append dir (Spark's readers skip "." and "_" names:
  // in-flight tmp files, _SUCCESS)
  private def appendFiles(dir: String): Seq[String] = {
    val d = Paths.get(dir)
    if (!Files.exists(d)) Seq.empty
    else {
      val st = Files.list(d)
      try st.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
        .filterNot(n => n.startsWith(".") || n.startsWith("_")).toSeq
      finally st.close()
    }
  }

  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The rows of the `*.json` files in `dir`, read on the driver — these
    * files are the driver's own appends, so reading them back needs no
    * Spark job. Like the JSON reader's DROPMALFORMED mode, a line that is
    * not a JSON object, or holds a value that does not fit its field's type,
    * is dropped; an absent field reads as null. */
  private def jsonRows(dir: String, schema: StructType): Seq[Row] =
    appendFiles(dir).filter(_.endsWith(".json")).flatMap { n =>
      new String(Files.readAllBytes(Paths.get(dir, n)), java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").filter(_.trim.nonEmpty)
    }.flatMap { line =>
      scala.util.Try(jsonMapper.readTree(line)).toOption.filter(_.isObject).flatMap { o =>
        val vals = schema.fields.toSeq.map { f =>
          val v = o.get(f.name)
          if (v == null || v.isNull) Some(null)
          else f.dataType match {
            case StringType => Some(if (v.isTextual) v.textValue else v.toString)
            case IntegerType => Option.when(v.isIntegralNumber && v.canConvertToInt)(v.intValue)
            case LongType => Option.when(v.isIntegralNumber && v.canConvertToLong)(v.longValue)
            case t => throw new IllegalArgumentException(s"append-dir field type $t")
          }
        }
        Option.when(vals.forall(_.isDefined))(Row.fromSeq(vals.map(_.get)))
      }
    }

  def readCheckpoints(spark: SparkSession, outDir: String): DataFrame =
    readAppendDir(spark, cpPath(outDir), cpSchema)

  /** The per-bucket/per-resolve metrics table
    * `(run_id, stage, partition_key, metric, value)`. */
  def readMetrics(spark: SparkSession, outDir: String): DataFrame =
    readAppendDir(spark, metricsPath(outDir), metricsSchema)

  // the checkpoints are a local relation (no job) unless pre-r4 parquet
  // files are present
  def completedBuckets(spark: SparkSession, outDir: String, runId: String): Set[Int] =
    readCheckpoints(spark, outDir)
      .filter(col("run_id") === runId && col("status") === "done" &&
        col("stage") === "pipeline" && col("partition_key").isNotNull)
      .select("partition_key").collect().map(_.getInt(0)).toSet

  private[graft] def appendCheckpoint(spark: SparkSession, outDir: String, cp: Checkpoint): Unit =
    appendRows(cpPath(outDir), cpSchema, Seq(cp))

  private def appendMetrics(spark: SparkSession, outDir: String,
      rows: Seq[(String, String, Int, String, Long)]): Unit =
    appendRows(metricsPath(outDir), metricsSchema, rows)

  /** Append `rows` (their fields in `schema`'s order, as [[jsonRows]]
    * reads them back) as one JSONL file. */
  private def appendRows(dir: String, schema: StructType, rows: Seq[Product]): Unit =
    if (rows.nonEmpty) appendJsonFile(dir, rows.map { r =>
      val o = jsonMapper.createObjectNode()
      schema.fieldNames.zip(r.productIterator).foreach { case (n, v) => o.putPOJO(n, v) }
      jsonMapper.writeValueAsString(o) + "\n"
    }.mkString)

  // Ingest gate. Heap per input turn while a bucket runs on the driver
  // (layout estimate): the collected Turn with its four Strings and
  // Timestamp (~260 B) and its sort slot, about one extracted triple (~150 B
  // with its Options and boxed value), its normalized key, mention, registry
  // and dedup-set entries (~300 B), and about one edge written back as a
  // local relation: the KgEdge (~150 B), its UnsafeRow held in the plan, in
  // the parallelized partition and in that partition's serialized task
  // (~3 x 300 B) — about 2 KB a turn, plus per character the String (up to
  // 2 B) and the UTF-8 copies of the collect and of the written rows (up to
  // 6 B).
  private val IngestBytesPerTurn = 2048L
  private val IngestBytesPerChar = 8L

  /** Run (or resume) `runId` over the transcript table. Returns the number
    * of buckets actually processed this invocation.
    *
    * The input is checkpointed once ([[graft.SizeGate.checkpoint]], which
    * counts its turns and characters in the same job) and each bucket is
    * the slice `pmod(hash(conv_id), nBuckets) == b` of it. A bucket runs in
    * one of two lanes, chosen once per run. When the whole input fits the
    * `ingest` gate (and the linking is not fuzzy exact same-as), a bucket's
    * turns are collected and S2-S7 run on the driver
    * ([[Pipeline.runOnDriver]]); its edge and node rows are written as
    * one-part-file local relations, so a bucket costs one collect and two
    * one-task writes. Otherwise, or when the driver's fuzzy candidate bound
    * does not fit, the bucket runs [[Pipeline.run]]. Both lanes write the
    * same rows. `_metrics` gets a per-bucket `driver_lane` row, and the
    * driver lane's `rows_in` (turns) and `edges_bucket_out` counts (-1 on
    * the distributed lane, where counting is an extra job).
    *
    * Buckets are independent partitions of the input writing through an
    * idempotent MERGE (batch-order independence is property-tested), so up
    * to `maxConcurrentBuckets` of them run as CONCURRENT driver-submitted
    * jobs (guide-standard overlap: the next bucket's tasks back-fill
    * executors idled by the current bucket's straggler tail — 2-3 in
    * flight is the sweet spot; the delta-append manifest flips are
    * lock-serialized and create-exclusive, built for exactly this shape).
    * `failAtBucket` (the resume-test injection hook) forces sequential
    * execution so the completed-bucket set at the failure point stays
    * deterministic; per-bucket `link.lsh` cap attribution is also recorded
    * only in sequential mode (concurrent buckets would interleave the
    * process-wide metric sequence — the caps still reach driver logs). */
  def run(turns: Dataset[Turn], dict: DataFrame, outDir: String, runId: String,
      nBuckets: Int = 16,
      linkCfg: Link.Config = Link.Config(fuzzy = false),
      failAtBucket: Option[Int] = None,
      maxConcurrentBuckets: Int = 2): Int = {
    val spark = turns.sparkSession
    import spark.implicits._
    Files.createDirectories(Paths.get(outDir))
    val done = completedBuckets(spark, outDir, runId)
    val todo = (0 until nBuckets).filterNot(done.contains)
    if (todo.isEmpty) return 0
    // materialize the input once — each bucket filters the checkpoint
    // instead of re-running the upstream derivation per bucket. (At cluster
    // scale the input IS a table; this matters when `turns` is computed.)
    val SizeGate.Sized(checkpointed, nTurns, Seq(chars)) = SizeGate.checkpoint(turns.toDF(),
      Seq("conv_id", "role", "text", "tool").map(c => coalesce(length(col(c)), lit(0))).reduce(_ + _))
    val input = checkpointed.as[Turn]
    val driverDict = Option.when(!(linkCfg.fuzzy && linkCfg.exactSameAs) &&
        SizeGate.fits("ingest", nTurns, nTurns * IngestBytesPerTurn + chars * IngestBytesPerChar))(
      Link.dictOnDriver(dict))
    val sequential = failAtBucket.isDefined || maxConcurrentBuckets <= 1
    val processed = new java.util.concurrent.atomic.AtomicInteger(0)

    def runBucket(b: Int): Unit = {
      failAtBucket.foreach(f => if (f == b)
        throw new RuntimeException(s"injected failure at bucket $b"))
      val t0 = System.currentTimeMillis()
      val slice = input.filter(pmod(hash(col("conv_id")), lit(nBuckets)) === b)
      val lshSeqBefore = graft.ops.CapMetrics.seqOf("link.lsh")
      // per-bucket DELTA append: O(bucket) bytes written per bucket instead
      // of a full-table rewrite (the old rewrite-per-bucket was O(B^2) write
      // amplification across B buckets); merge-on-read keeps the table
      // consistent between compactions, compact() below bounds read cost.
      // The two tables are independent stores: submit their write jobs
      // CONCURRENTLY (the bucket checkpoint lands only after both, so a
      // crash between them just re-runs the bucket — idempotent MERGE).
      val local = driverDict.flatMap { d =>
        val bucket = slice.collect().toSeq
        Pipeline.runOnDriver(bucket, d, linkCfg, maxPairs = SizeGate.budget / DriverBytesPerPair)
          .map { case (edges, nodes) => (bucket.size.toLong, edges, nodes) }
      }
      val (rowsIn, rowsOut) = local match {
        case Some((n, edges, nodes)) =>
          Materialize.appendGraph(spark, outDir, edges.toDF().coalesce(1), nodes.toDF().coalesce(1))
          (n, edges.size.toLong)
        case None =>
          val r = Pipeline.run(slice, dict, linkCfg)
          Materialize.appendGraph(spark, outDir, r.edges, r.nodes)
          // free this bucket's pipeline caches (raw-triple persist + registry
          // checkpoint) — without this, blocks accumulate once per bucket for
          // the whole session (merged tables are parquet-backed, independent)
          r.close()
          // not counted: a count per bucket is an extra Spark job each,
          // O(B * bucket-read) across B buckets
          (-1L, -1L)
      }
      appendCheckpoint(spark, outDir,
        Checkpoint(runId, "pipeline", b, "done", rowsIn, rowsOut,
          t0, System.currentTimeMillis()))
      // cap observability into the run's _metrics table ("no silent caps"):
      // fuzzy LSH bucket drops for THIS bucket's linking pass — recorded
      // only if the site fired during this bucket (seq advanced), never
      // another query's stale values (sequential mode only; see scaladoc)
      val lshCaps =
        if (sequential && graft.ops.CapMetrics.seqOf("link.lsh") > lshSeqBefore)
          graft.ops.CapMetrics.latest("link.lsh").toSeq.map {
            case (k, v) => (runId, "link.lsh", b, k, v)
          }
        else Seq.empty
      appendMetrics(spark, outDir, Seq(
        (runId, "pipeline", b, "rows_in", rowsIn),
        (runId, "pipeline", b, "edges_bucket_out", rowsOut),
        (runId, "pipeline", b, "driver_lane", if (local.isDefined) 1L else 0L)) ++ lshCaps)
      processed.incrementAndGet()
      ()
    }

    try {
      if (sequential) todo.foreach(runBucket)
      else {
        // bounded concurrency on a dedicated pool (the global EC would cap
        // at CPU count and is shared); FIFO job scheduling gives the
        // back-fill behaviour — earlier buckets get resources first, later
        // buckets use what is left
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(maxConcurrentBuckets, todo.size))
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        try {
          val fs = todo.map(b => scala.concurrent.Future(runBucket(b)))
          // await ALL (even on failure — an abandoned in-flight bucket would
          // race the cleanup below), then rethrow the first failure
          val rs = fs.map(f => scala.util.Try(scala.concurrent.Await.result(
            f, scala.concurrent.duration.Duration.Inf)))
          rs.foreach(_.get)
        } finally pool.shutdown()
      }
      // end-of-run compaction: fold trailing deltas into a fresh base so
      // steady-state reads pay zero merge-on-read cost
      Materialize.compactGraph(spark, outDir)
      processed.get()
    } finally input.unpersist() // also on a mid-bucket failure (resume re-checkpoints)
  }

  // -- Disjoint Resolver (delta-aware) ---------------------------------------

  private def resolveDir(outDir: String) = s"$outDir/_resolve"
  private def resolvedKeysTable(outDir: String) = s"${resolveDir(outDir)}/resolved_keys"
  private def resolveCfgPath(outDir: String) = Paths.get(resolveDir(outDir), "_CONFIG")

  /** The Config fields that determine the same-as pair set — a change in any
    * invalidates the converged-old-keys invariant and forces a full
    * rediscovery on the next resolve. */
  private def cfgSignature(cfg: Link.Config): String =
    Seq(cfg.exactSameAs, cfg.numHashes, cfg.bands, cfg.jaccardThreshold,
      cfg.fuzzyTypes.sorted.mkString(","), cfg.maxBandBucket).mkString("|")

  // Driver-lane gate. Measured heap per examined key while the lane runs
  // (collected row, band buckets, packed shingles): the smallest -Xmx that
  // completes the lane grew by 208 MB from 100k to 200k keys, at both 20-
  // and 62-char keys (JDK 17, G1) — about 2.1 KB a key, which
  // DriverBytesPerKey + DriverBytesPerChar per character bounds. A checked
  // candidate pair (a tuple in the dedup set) costs about DriverBytesPerPair.
  // The SizeGate budget admits about 100k 20-char keys at a 2g driver,
  // scaling with the heap.
  private val DriverBytesPerKey = 2048L
  private val DriverBytesPerChar = 16L
  private val DriverBytesPerPair = 160L

  // Rewrite gate. Heap per affected edge row the driver lane collects and
  // writes back: the collected Row and its boxed values (~110 B), its seven
  // Strings (~40 B each), the upsert copy and its dedup-set entry (~160 B),
  // and the tombstone and upsert local relations as UnsafeRows, held once in
  // the plan and once in the write's task partitions (~4 x 120 B): about
  // 1 KB a row, plus per character the String (2 B, UTF-16 worst case) and
  // the four UTF-8 copies (up to 6 B).
  private val RewriteBytesPerRow = 1024L
  private val RewriteBytesPerChar = 8L

  private val WmKey = Seq("entity_type", "dict_key")

  /** A schema of string columns `cols`. */
  private def strings(cols: String*): StructType = StructType(cols.map(StructField(_, StringType)))

  /** What one resolver pass examined and changed. */
  final case class ResolveStats(touched: Long, total: Long, rewritten: Long)

  /** Global fuzzy-canonicalization compaction — megamind's Disjoint Resolver
    * as a batch job, DELTA-AWARE like the reference's watch-triggered design
    * (the Disjoint Watcher reacts to new (TUID, GUID) pairs, so only
    * entities touched since the last resolution are re-examined —
    * `docs/diagrams/megamind.drawio:80-88`).
    *
    * Each resolve records a watermark of eligible keys under
    * `_resolve/resolved_keys`; the next invocation full-joins the node
    * table's eligible keys with it and runs same-as discovery ONLY over pairs
    * involving a new key ([[Link.fuzzySameAsDelta]] — old×old pairs are
    * never enumerated).
    * Correct because a converged resolve leaves no old×old pair at or above
    * the threshold: any such pair would have been an edge of the previous
    * pass and hence one component. A [[Link.Config]] change (recorded as a
    * signature) voids that invariant, so it triggers full rediscovery
    * automatically; `fullRediscovery = true` forces it.
    *
    * The pass runs in one of two lanes, chosen by size. The checkpoint that
    * materializes the flagged key set measures its rows and key bytes
    * ([[graft.SizeGate.checkpoint]]); when they fit [[graft.SizeGate]] at a
    * measured per-key driver cost, the keys are collected ONCE and the pass
    * finishes on the driver: banding, the bucket cap, the delta split and
    * the Jaccard check ([[Link.fuzzySameAsOnDriver]]), the component map
    * ([[Canonicalize.componentMap]]), the rewrite map, the tombstones, the
    * upserts and the new watermark, written as local relations. Its only
    * row-fetching Spark jobs are two scans filtered on driver-held key sets
    * (an InSet predicate, never a broadcast join): the node rows of the
    * renamed names, and the affected edges, whose checkpoint sizes them for
    * the `resolve.rewrite` gate (over it, the join-based edge rewrite runs
    * from that checkpoint). Above the `resolve` gate, on the exact PPJoin
    * path, or when the driver's candidate-pair bound does not fit, the
    * distributed lane runs: Spark discovery and components, and join-based
    * rewrites. Both lanes write the same rows. Each decision goes to
    * `_metrics` as `driver_lane`, `flagged_rows` and `flagged_bytes`.
    *
    * Rewrites are entity-granular too: only rows touching a rewritten GUID
    * are deleted+re-inserted ([[Materialize.appendRewrite]] — one tombstone
    * + one delta under a single manifest flip), O(affected) instead of the
    * O(corpus) full-snapshot replace. The edge and node rewrites run
    * concurrently; the watermark flips after both. Touched/total entity
    * counts and the per-phase times (`scan_ms`, `discover_ms`, `rewrite_ms`,
    * `watermark_ms`) are appended to `_metrics` (stage `resolve`).
    *
    * The new watermark is the key set this pass EXAMINED minus the names its
    * rewrite merged away — never a re-read of the node table, which would
    * also mark as resolved any key another writer appended after the scan.
    *
    * Idempotent: a second invocation sees zero new keys and returns after
    * one node-table scan. First invocation (no state) = full resolve.
    */
  def resolveDisjoint(spark: SparkSession, outDir: String,
      cfg: Link.Config = Link.Config(),
      fullRediscovery: Boolean = false): ResolveStats = {
    val nodesOpt = Materialize.readTable(spark, s"$outDir/nodes")
    val edgesOpt = Materialize.readTable(spark, s"$outDir/edges")
    if (nodesOpt.isEmpty || edgesOpt.isEmpty) return ResolveStats(0L, 0L, 0L)
    val nodes = nodesOpt.get
    val edges = edgesOpt.get
    val t0 = System.currentTimeMillis()

    // delta watermark: the key set covered by the previous resolve, valid
    // only under an unchanged discovery config
    val sig = cfgSignature(cfg)
    val sigMatches = Files.exists(resolveCfgPath(outDir)) &&
      Files.readString(resolveCfgPath(outDir)).trim == sig
    val oldKeys =
      if (fullRediscovery || !sigMatches) None
      else Materialize.readTable(spark, resolvedKeysTable(outDir))

    val eligibleAll = nodes.filter(col("entity_type").isin(cfg.fuzzyTypes: _*))
      .select(col("entity_type"), col("name").as("dict_key")).distinct()
    // one checkpoint job materializes the flagged set and measures it: rows,
    // live keys, new keys and key bytes. Against a watermark it is a full
    // join, so the watermark keys that left the node table ride along as
    // `old_only` rows, sized by the same gate: the watermark update reads
    // nothing else
    val SizeGate.Sized(flagged, flaggedRows, Seq(total, touched, flaggedBytes)) =
      SizeGate.checkpoint(oldKeys match {
        case Some(old) =>
          eligibleAll.withColumn("_live", lit(true))
            .join(old.select(col("entity_type"), col("dict_key"), lit(true).as("_seen")),
              WmKey, "full")
            .select(col("entity_type"), col("dict_key"), col("_seen").isNull.as("is_new"),
              col("_live").isNull.as("old_only"))
        case None =>
          eligibleAll.select(col("entity_type"), col("dict_key"), lit(true).as("is_new"),
            lit(false).as("old_only"))
      }, when(col("old_only"), 0L).otherwise(1L), when(col("is_new"), 1L).otherwise(0L),
        length(col("entity_type")) + length(col("dict_key")))
    // phase boundary timestamps → per-phase _metrics rows: the flat-vs-
    // growing decomposition (O(delta) discovery vs O(total) merge-on-read
    // scan) must be readable from the artifact, not re-derived by hand
    val tScan = System.currentTimeMillis()
    log.info(s"[graft] resolver: $touched of $total entities touched since " +
      s"last resolve (${if (oldKeys.isEmpty) "full rediscovery" else "delta"})")

    if (touched == 0L) { // converged: nothing new since the last resolve
      appendMetrics(spark, outDir, Seq(
        ("resolve", "resolve", -1, "touched_entities", 0L),
        ("resolve", "resolve", -1, "total_entities", total)))
      flagged.unpersist()
      return ResolveStats(0L, total, 0L)
    }

    val wantDriver = !cfg.exactSameAs && SizeGate.fits("resolve", flaggedRows,
      flaggedRows * DriverBytesPerKey + flaggedBytes * DriverBytesPerChar)
    val keys = Option.when(wantDriver)(flagged.collect().toSeq.map(r =>
      FlaggedKey(r.getString(0), r.getString(1), r.getBoolean(2), r.getBoolean(3))))
    val live = flagged.filter(!col("old_only")).select("entity_type", "dict_key", "is_new")
    val rewrite = sameAsComponents(live, cfg,
        keys.map(_.filterNot(_.oldOnly).map(k => (k.entityType, k.key, k.isNew)))) match {
      case Left(components) =>
        new DriverRewrite(spark, outDir, nodes, edges, cfg, components, keys.get)
      case Right((cc, freeDiscovery)) =>
        new SparkRewrite(spark, outDir, nodes, edges, cfg, flagged, live, cc, freeDiscovery)
    }
    val nRewrites = rewrite.rows
    val tDiscover = System.currentTimeMillis()
    if (nRewrites > 0L) rewrite.write()
    val tRewrite = System.currentTimeMillis()

    // record the new watermark: the keys this pass examined minus the names
    // its rewrite merged away (component reps are examined keys, so they
    // stay). Removing merged-away names is LOAD-BEARING: a name resolved
    // away in pass k can reappear in pass k+2 — it must count as NEW again
    // so its merge is rediscovered; a stale "seen" row would silently skip
    // it. Keys another writer appended after the scan stay NEW for the next
    // pass, which is why the node table is not re-read here.
    //
    // The UPDATE is delta-shaped (added keys as a delta, removed keys as an
    // equality-delete tombstone): the replace-snapshot form rewrote the
    // ENTIRE key set every pass — measured 1.8M key rows written per
    // trigger at the 10M-turn rehearsal, an O(total) write that would
    // dominate per-trigger cost at corpus scale. Full snapshot only on the
    // first resolve or a config change (watermark rebuilt from scratch),
    // when every kept key is new.
    Files.createDirectories(Paths.get(resolveDir(outDir)))
    val (added, removed) = rewrite.watermark()
    if (oldKeys.isDefined)
      Materialize.appendRewrite(spark, resolvedKeysTable(outDir), added, removed, WmKey)
    else Materialize.mergeSnapshot(spark, resolvedKeysTable(outDir), added, WmKey, replace = true)
    Files.writeString(resolveCfgPath(outDir), sig)

    appendMetrics(spark, outDir, Seq(
      ("resolve", "resolve", -1, "touched_entities", touched),
      ("resolve", "resolve", -1, "total_entities", total),
      ("resolve", "resolve", -1, "rewritten_entities", nRewrites),
      ("resolve", "resolve", -1, "driver_lane", if (rewrite.onDriver) 1L else 0L),
      ("resolve", "resolve", -1, "flagged_rows", flaggedRows),
      ("resolve", "resolve", -1, "flagged_bytes", flaggedBytes),
      ("resolve", "resolve", -1, "scan_ms", tScan - t0),
      ("resolve", "resolve", -1, "discover_ms", tDiscover - tScan),
      ("resolve", "resolve", -1, "rewrite_ms", tRewrite - tDiscover),
      ("resolve", "resolve", -1, "watermark_ms", System.currentTimeMillis() - tRewrite),
      ("resolve", "resolve", -1, "elapsed_ms", System.currentTimeMillis() - t0)))
    rewrite.free()
    flagged.unpersist()
    ResolveStats(touched, total, nRewrites)
  }

  /** Same-as discovery + components over the live flagged keys `flagged`
    * `(entity_type, dict_key, is_new)`. Given `keys` (those rows, collected
    * for the driver lane), discovery runs on the driver when its
    * candidate-pair bound fits the budget, and returns the component map
    * (`Left`: `(entity_type, key, component)` for every key in a verified
    * pair). Otherwise it runs distributed and returns the `cc` frame of the
    * same rows with a cleanup for the discovery's internal checkpoints
    * (`Right`; call it once `cc` is consumed). */
  private[kg] def sameAsComponents(flagged: DataFrame, cfg: Link.Config,
      keys: Option[Seq[(String, String, Boolean)]])
      : Either[Seq[(String, String, String)], (DataFrame, () => Unit)] =
    keys.flatMap(Link.fuzzySameAsOnDriver(_, cfg,
        maxPairs = SizeGate.budget / DriverBytesPerPair)) match {
      case Some(pairs) => Left(Canonicalize.componentMap(pairs))
      case None =>
        val (sameAs, free) = Link.fuzzySameAsManaged(flagged, cfg, delta = true)
        Right((Canonicalize.connectedComponents(
          sameAs.select(col("entity_type"), col("key_a"), col("key_b"))), free))
    }

  /** A flagged row collected for the driver lane. */
  private final case class FlaggedKey(entityType: String, key: String, isNew: Boolean,
      oldOnly: Boolean)

  /** One resolve pass's rewrite, built from its discovery: the node rows it
    * renames, the deletes and re-inserts of the rows touching their GUIDs
    * in both graph tables (written concurrently), and the keys it adds to
    * and removes from the watermark. */
  private sealed trait Rewrite {
    def rows: Long
    def onDriver: Boolean
    def write(): Unit
    def watermark(): (DataFrame, DataFrame)
    def free(): Unit
  }

  /** `rows` as a local relation, written as one part file. */
  private def localRows(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)

  /** `c` is one of `keys` — an InSet over the driver-held set (no join). */
  private def inKeys(c: Column, keys: Set[String]): Column =
    ColumnShim.column(InSet(ColumnShim.expression(c), keys.map(UTF8String.fromString)))

  /** The join-based edge rewrite: the rows of `edges` whose subject or
    * object GUID `rewrite` `(old_guid, new_guid)` renames are tombstoned and
    * re-inserted renamed (deduplicated). */
  private def rewriteEdgesByJoin(spark: SparkSession, outDir: String, edges: DataFrame,
      rewrite: DataFrame, hintBroadcast: Boolean): Unit = {
    def bc(df: DataFrame): DataFrame = if (hintBroadcast) broadcast(df) else df
    val affected = edges
      .join(bc(rewrite.select(col("old_guid").as("s_old"), col("new_guid").as("s_new"))),
        col("subj_guid") === col("s_old"), "left")
      .join(bc(rewrite.select(col("old_guid").as("o_old"), col("new_guid").as("o_new"))),
        col("obj_guid") === col("o_old"), "left")
      .filter(col("s_new").isNotNull || col("o_new").isNotNull)
      .localCheckpoint(eager = true) // feeds the upsert AND the tombstone
    val upserts = affected.select(
      col("subj_type"),
      coalesce(col("s_new"), col("subj_guid")).as("subj_guid"),
      col("pred"), col("obj_kind"), col("obj_type"),
      coalesce(col("o_new"), col("obj_guid")).as("obj_guid"),
      col("obj_string"), col("obj_int64"), col("obj_float64"))
    Materialize.appendRewrite(spark, s"$outDir/edges", upserts.dropDuplicates(Materialize.edgeKey),
      affected.select(Materialize.edgeKey.map(col): _*), Materialize.edgeKey)
    affected.unpersist()
  }

  /** A node row the driver lane renames. */
  private final case class Renamed(oldGuid: String, entityType: String, oldName: String,
      newName: String, newGuid: String)

  /** The driver lane's rewrite, from the component map and the collected
    * flagged keys. One scan, filtered on the renamed names, fetches their
    * node rows (the rewrite map); one filtered on the renamed GUIDs fetches
    * the affected edges. Everything else is computed here and written as
    * local relations. */
  private final class DriverRewrite(spark: SparkSession, outDir: String, nodes: DataFrame,
      edges: DataFrame, cfg: Link.Config, components: Seq[(String, String, String)],
      keys: Seq[FlaggedKey]) extends Rewrite {
    private val newName = components.collect { case (et, k, c) if k != c => (et, k) -> c }.toMap
    private val renamed: Seq[Renamed] =
      if (newName.isEmpty) Nil
      else nodes.filter(inKeys(col("name"), newName.keySet.map(_._2)))
        .select("guid", "entity_type", "name").collect().toSeq.flatMap { r =>
          val (guid, et, name) = (r.getString(0), r.getString(1), r.getString(2))
          newName.get((et, name)).map(c => Renamed(guid, et, name, c, Link.guidForScala(et, c)))
        }

    def rows: Long = renamed.size.toLong
    def onDriver: Boolean = true

    def write(): Unit = { Fanout.both(rewriteEdges(), rewriteNodes()); () }

    private def rewriteEdges(): Unit = {
      val guids = renamed.map(r => r.oldGuid -> r.newGuid).toMap
      val schema = edges.schema
      val SizeGate.Sized(affected, n, Seq(chars)) = SizeGate.checkpoint(
        edges.filter(inKeys(col("subj_guid"), guids.keySet) ||
          inKeys(col("obj_guid"), guids.keySet)),
        schema.fields.collect { case f if f.dataType == StringType =>
          coalesce(length(col(f.name)), lit(0)) }.reduce(_ + _))
      try {
        if (SizeGate.fits("resolve.rewrite", n,
            n * RewriteBytesPerRow + chars * RewriteBytesPerChar)) {
          val (si, oi) = (schema.fieldIndex("subj_guid"), schema.fieldIndex("obj_guid"))
          val tombs = affected.collect().toSeq
          val upserts = tombs.map { r =>
            def renamedGuid(i: Int) =
              Option(r.getString(i)).flatMap(guids.get).getOrElse(r.getString(i))
            Row.fromSeq(r.toSeq.updated(si, renamedGuid(si)).updated(oi, renamedGuid(oi)))
          }.distinct
          Materialize.appendRewrite(spark, s"$outDir/edges", localRows(spark, schema, upserts),
            localRows(spark, schema, tombs), Materialize.edgeKey)
        } else rewriteEdgesByJoin(spark, outDir, affected,
          localRows(spark, strings("old_guid", "new_guid"), guids.toSeq.map(Row.fromTuple)),
          hintBroadcast = rows <= cfg.maxBroadcastRegistryRows)
      } finally affected.unpersist()
    }

    private def rewriteNodes(): Unit =
      Materialize.appendRewrite(spark, s"$outDir/nodes",
        localRows(spark, strings("guid", "entity_type", "name"),
          renamed.map(r => Row(r.newGuid, r.entityType, r.newName)).distinct),
        localRows(spark, strings(Materialize.nodeKey: _*),
          renamed.map(r => Row(r.oldGuid, r.entityType))), Materialize.nodeKey)

    def watermark(): (DataFrame, DataFrame) = {
      val gone = renamed.map(r => (r.entityType, r.oldName)).toSet
      def rowsOf(ks: Seq[FlaggedKey]) =
        localRows(spark, strings(WmKey: _*), ks.map(k => Row(k.entityType, k.key)))
      (rowsOf(keys.filter(k => k.isNew && !gone((k.entityType, k.key)))),
        rowsOf(keys.filter(k => !k.isNew && (k.oldOnly || gone((k.entityType, k.key))))))
    }

    def free(): Unit = ()
  }

  /** The distributed lane's rewrite: the rewrite map is a checkpoint of the
    * node rows joined with the `cc` frame, and every rewrite is a join. */
  private final class SparkRewrite(spark: SparkSession, outDir: String, nodes: DataFrame,
      edges: DataFrame, cfg: Link.Config, flagged: DataFrame, live: DataFrame, cc0: DataFrame,
      freeDiscovery: () => Unit) extends Rewrite {
    private val cc = cc0.select(col("entity_type").as("cc_et"), col("key").as("cc_key"),
      col("component"))
    // guid rewrite map: old guid -> canonical guid (only where it changes)
    private val SizeGate.Sized(rewrite, n, _) = SizeGate.checkpoint(nodes.join(cc,
        nodes("entity_type") === cc("cc_et") && nodes("name") === cc("cc_key"))
      .filter(col("name") =!= col("component"))
      .select(col("guid").as("old_guid"),
        Link.guidFor(col("entity_type"), col("component")).as("new_guid"),
        col("entity_type").as("rw_et"), col("name").as("old_name"),
        col("component").as("new_name")))
    // rewrite is materialized — free the discovery's internal checkpoints
    // so a resolver LOOP (per-micro-batch resolveEvery) stays O(1) in
    // block-manager state instead of one candidate frame per pass
    freeDiscovery()

    def rows: Long = n
    def onDriver: Boolean = false

    def write(): Unit = {
      // an explicit hint is never demoted by AQE, so only hint when the
      // rewrite's checkpoint counted it small; above that the planner/AQE
      // pick the join side
      val hint = n <= cfg.maxBroadcastRegistryRows
      Fanout.both(rewriteEdgesByJoin(spark, outDir, edges, rewrite, hint), {
        val rw = rewrite.select(col("old_guid"), col("new_guid"), col("new_name"))
        val affected = nodes.join(if (hint) broadcast(rw) else rw, col("guid") === col("old_guid"))
          .localCheckpoint(eager = true)
        Materialize.appendRewrite(spark, s"$outDir/nodes",
          affected.select(col("new_guid").as("guid"), col("entity_type"),
            col("new_name").as("name")).dropDuplicates(Materialize.nodeKey),
          affected.select(Materialize.nodeKey.map(col): _*), Materialize.nodeKey)
        affected.unpersist()
      })
      ()
    }

    def watermark(): (DataFrame, DataFrame) = {
      val kept = live.join(rewrite.select(col("rw_et").as("entity_type"),
        col("old_name").as("dict_key")), WmKey, "left_anti")
      (kept.filter(col("is_new")).select(WmKey.map(col): _*),
        flagged.filter(!col("is_new")).select(WmKey.map(col): _*).join(kept, WmKey, "left_anti"))
    }

    def free(): Unit = rewrite.unpersist()
  }
}
