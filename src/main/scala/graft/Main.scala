package graft

import org.apache.spark.sql.functions._

import graft.kg.{Incremental, Link, Materialize, Pipeline}

/** Unified spark-submit entry point (SURVEY §7.1) — "run the pipeline on MY
  * table into MY output dir" without writing Scala; the operational analog
  * of the reference's CLI (`tools/megamind/cmd/root.go:38-59`,
  * `services/ingest/cmd/serve.go:24-36`).
  *
  * Usage (local: `scripts/run.sh Main --in DIR --out DIR [...]`; on a
  * cluster, `spark-submit --class graft.Main` and the submitted master is
  * honored):
  *
  * {{{
  *   --in PATH         input (required)
  *   --out PATH        output table root (required; edges/nodes under it)
  *   --format F        transcript | ndjson | proto      [transcript]
  *                     transcript: parquet (conv_id, turn_idx, role, text,
  *                       tool, ts) — bucketed, RESUMABLE (checkpoint table)
  *                     ndjson/proto: bulk Subgraph files — one-shot
  *                       idempotent MERGE (re-runs converge)
  *   --dict PATH       alias dictionary parquet
  *                     (entity_type, variant_norm, canonical_norm)
  *   --buckets N       transcript bucket count           [16]
  *   --fuzzy           enable per-batch MinHash/LSH fuzzy linking
  *   --stream          transcript format only: ingest via Structured
  *                     Streaming (AvailableNow — drains available input,
  *                     checkpointed offsets under OUT/_stream_ck, so
  *                     re-invocations pick up only NEW files)
  *   --resolve         run the Disjoint-Resolver compaction (global
  *                     fuzzy canonicalization) after ingest
  *   --resolve-every N with --stream: run the DELTA resolver every N
  *                     micro-batches (megamind's watch-triggered loop;
  *                     O(delta) per trigger)
  *   --exact-resolve   resolver uses the exact (recall-1.0) prefix-filter
  *                     same-as join instead of MinHash/LSH
  *   --threshold T     fuzzy Jaccard threshold           [0.7]
  *   --run-id ID       resumable run id                  [main]
  *   --stage-dir PATH  parquet staging boundary (constant-memory mode)
  *   --cores N         local master width                [8 / SPARK_GRAFT_CPUS]
  * }}}
  */
object Main {

  private def die(msg: String): Nothing = {
    System.err.println(s"graft: $msg (see graft.Main scaladoc for usage)")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    var in: String = null
    var out: String = null
    var format = "transcript"
    var dictPath: Option[String] = None
    var buckets = 16
    var fuzzy = false
    var stream = false
    var resolve = false
    var resolveEvery = 0
    var exactResolve = false
    var threshold = 0.7
    var runId = "main"
    var stageDir: Option[String] = None
    var cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")

    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--in" => in = args(i + 1); i += 2
        case "--out" => out = args(i + 1); i += 2
        case "--format" => format = args(i + 1); i += 2
        case "--dict" => dictPath = Some(args(i + 1)); i += 2
        case "--buckets" => buckets = args(i + 1).toInt; i += 2
        case "--fuzzy" => fuzzy = true; i += 1
        case "--stream" => stream = true; i += 1
        case "--resolve" => resolve = true; i += 1
        case "--resolve-every" => resolveEvery = args(i + 1).toInt; i += 2
        case "--exact-resolve" => exactResolve = true; i += 1
        case "--threshold" => threshold = args(i + 1).toDouble; i += 2
        case "--run-id" => runId = args(i + 1); i += 2
        case "--stage-dir" => stageDir = Some(args(i + 1)); i += 2
        case "--cores" => cores = args(i + 1); i += 2
        case other => die(s"unknown flag $other")
      }
    }
    if (in == null || out == null) die("--in and --out are required")
    if (!Set("transcript", "ndjson", "proto").contains(format))
      die(s"unknown --format $format")
    if (stream && format != "transcript")
      die("--stream applies to --format transcript only")
    if (resolveEvery > 0 && !stream)
      die("--resolve-every requires --stream (use --resolve for batch)")
    stageDir.foreach(d => sys.props("graft.stage.dir") = d)

    // embedded use (tests, notebooks) joins a live session, which is then
    // left running on the way out
    val session = Sessions.local(cores.toInt, appName = Some("megamindspark"),
      ui = true)
    val spark = session.spark

    val dict = dictPath.map(spark.read.parquet(_)).getOrElse(Pipeline.emptyDict(spark))
    val linkCfg = Link.Config(fuzzy = fuzzy, jaccardThreshold = threshold)

    val resolverCfg = Link.Config(fuzzy = true, exactSameAs = exactResolve,
      jaccardThreshold = threshold)

    format match {
      case "transcript" if stream =>
        val q = graft.streaming.StreamingIngest.start(spark, in, out,
          s"$out/_stream_ck", dict, linkCfg,
          resolveEvery = resolveEvery, resolveCfg = resolverCfg)
        q.awaitTermination()
        println(s"[graft] stream drained (AvailableNow; offsets under " +
          s"$out/_stream_ck — re-run to pick up new files)")
      case "transcript" =>
        import spark.implicits._
        val turns = spark.read.parquet(in).as[graft.model.Model.Turn]
        val n = Incremental.run(turns, dict, out, runId, nBuckets = buckets,
          linkCfg = linkCfg)
        println(s"[graft] processed $n/$buckets buckets (run-id=$runId; " +
          "already-done buckets skipped)")
      case enc =>
        val triples0 =
          if (enc == "ndjson") graft.io.TripleJson.read(spark, in)
          else graft.io.TripleProto.read(spark, in)
        // subgraph lineage stands in for conversation lineage in bulk mode
        val triples = triples0
          .withColumn("conv_id", col("subgraph_id"))
          .withColumn("turn_idx", lit(0))
          .drop("subgraph_id")
        val r = Pipeline.runFromTriples(triples, dict, linkCfg)
        Materialize.mergeGraph(spark, out, r.edges, r.nodes)
        r.close()
    }

    if (resolve)
      Incremental.resolveDisjoint(spark, out, resolverCfg)

    val edges = Materialize.readTable(spark, s"$out/edges").map(_.count()).getOrElse(0L)
    val nodes = Materialize.readTable(spark, s"$out/nodes").map(_.count()).getOrElse(0L)
    println(s"[graft] table $out: $edges edges, $nodes nodes")
    session.stopIfCreated()
  }
}
