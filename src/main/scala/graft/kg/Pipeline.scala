package graft.kg

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.SizeGate
import graft.model.Model._

/** End-to-end KG construction: S1 scan → S2 reconstruct → S3 extract →
  * S4/S5 link+label → S6 canonicalize → S7 materialize.
  *
  * The reference's event-driven microservice chain
  * (Ingester → Entity Registry → Graph Mutator → Disjoint Resolver,
  * `docs/diagrams/megamind.drawio`) re-expressed as one declarative Spark
  * job; each Knative hop becomes a shuffle boundary Catalyst can optimize
  * across. The reference ingests one small subgraph at a time with a
  * synchronous registry lookup: for a bucket that fits the driver,
  * [[runOnDriver]] runs the same chain there in plain collections
  * ([[Incremental.run]]'s driver lane) and gives the same rows.
  */
object Pipeline {

  /** Pipeline output plus a `close()` that frees the internal stage-boundary
    * cache (the raw-triple frame) and the registry checkpoint blocks. Loop
    * callers ([[Incremental.run]] per bucket, streaming foreachBatch per
    * micro-batch) MUST call it after materializing edges/nodes, or cached
    * blocks accumulate for the session lifetime. `close()` truncates reuse:
    * do not consume `edges`/`nodes` afterwards (registry stays valid only if
    * `keepRegistry = true`). */
  final case class Result(edges: DataFrame, nodes: DataFrame, registry: DataFrame,
      private val cleanup: Boolean => Unit = _ => (),
      /** The internal raw-triple frame (the extract-stage boundary), for
        * callers that need mention-level projections without a second
        * extraction pass. Valid only until `close()` (its backing cache /
        * staging dir is freed there). */
      raw: Option[DataFrame] = None) {
    def close(keepRegistry: Boolean = false): Unit = cleanup(keepRegistry)
  }

  /** Directory for parquet staging tables at the raw-triple stage boundary
    * (system property `graft.stage.dir`). Unset (default): the boundary is a
    * MEMORY_AND_DISK_SER persist — fastest while the corpus fits the block
    * manager. Set: the raw-triple frame is written to parquet and re-read —
    * constant memory footprint at any corpus size (the cluster answer, where
    * this boundary IS a staging table); measured to remove the per-core
    * throughput degradation past ~20M turns (BENCH/BASELINE.md). */
  def stageDir: Option[String] = sys.props.get("graft.stage.dir").filter(_.nonEmpty)

  def emptyDict(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("entity_type", StringType),
        StructField("variant_norm", StringType),
        StructField("canonical_norm", StringType))))
  }

  /** The alias dictionary for the synthetic corpus: full-name variants of the
    * hot first-name aliases (the curated hot-entity table the pipeline gets
    * as input — megamind's Entity Registry seed). */
  def syntheticDict(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val lastNames = Seq("Smith", "Jones", "Lee", "Garcia", "Chen", "Patel",
      "Kim", "Nguyen", "Brown", "Davis", "Miller", "Wilson")
    Transcripts.aliasPairs.flatMap { case (variant, canonical) =>
      lastNames.map { ln =>
        ("Person", s"$variant $ln".toLowerCase, s"$canonical $ln".toLowerCase)
      }
    }.toDF("entity_type", "variant_norm", "canonical_norm")
  }

  /** Materialize the raw-triple stage boundary (see [[stageDir]]): a
    * SERIALIZED cache by default (deserialized checkpoint blocks hit a
    * memory cliff ~4x earlier: 10.7M turns fine, 21M turns 5x slowdown), or
    * a parquet staging table when `graft.stage.dir` is set — constant
    * block-manager footprint. Returns the readable frame plus its
    * deallocator. */
  private def boundary(triples: DataFrame): (DataFrame, () => Unit) = stageDir match {
    case Some(base) =>
      val dir = s"$base/raw-${java.util.UUID.randomUUID()}"
      triples.write.parquet(dir)
      // close() must delete the staging dir: loop callers (per-bucket /
      // per-micro-batch) would otherwise leak O(corpus) disk per iteration
      (triples.sparkSession.read.parquet(dir),
        () => Materialize.deleteDirRecursive(java.nio.file.Paths.get(dir)))
    case None =>
      val cached = triples
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      (cached, () => { cached.unpersist(); () })
  }

  def run(turns: Dataset[Turn], dict: DataFrame,
      linkCfg: Link.Config = Link.Config()): Result = {
    // fused S2+S3 (dedup + order + extract, one shuffle). Materialized once:
    // raw triples feed four downstream subtrees (subject mentions, object
    // mentions, fuzzy linking, labeling) and Spark does not share common
    // subplans across join sides — without the cut the extraction re-runs
    // per consumer.
    val (raw, freeRaw) = boundary(Extract.extract(turns))
    runLinked(raw, freeRaw, dict, linkCfg)
  }

  /** S4..S7 over an externally-produced raw-triple frame (e.g. bulk NDJSON /
    * binary-proto subgraph files via [[graft.io.TripleJson]] /
    * [[graft.io.TripleProto]]) — the bulk-ingest entry the reference CLI
    * exposes (`tools/megamind/cmd/dgraph_ingest_subgraph.go:100-116`).
    * `triples` needs the RawTriple columns (conv_id/turn_idx may be
    * synthetic lineage, e.g. subgraph_id/0). */
  def runFromTriples(triples: DataFrame, dict: DataFrame,
      linkCfg: Link.Config = Link.Config()): Result = {
    val (raw, freeRaw) = boundary(triples)
    runLinked(raw, freeRaw, dict, linkCfg)
  }

  private def runLinked(raw: DataFrame, freeRaw: () => Unit, dict: DataFrame,
      linkCfg: Link.Config): Result = {
    val (regRaw, freeRegInternals) = Link.registryManaged(raw, dict, linkCfg)
    // size-gated broadcast hint: the checkpoint that materializes the
    // registry also counts its rows AND sums its raw bytes. Above either
    // gate the labeling joins shuffle (AQE may still promote) instead of
    // forcing an unbounded broadcast — the OOM-class failure mode at
    // billions of distinct entities.
    val SizeGate.Sized(reg, regRows, Seq(regBytes)) = SizeGate.checkpoint(regRaw,
      length(col("entity_type")) + length(col("norm_key"))
        + length(col("canonical_key")) + length(col("guid")))
    // the registry is materialized: free the linking stage's internal
    // checkpoints NOW (mention set + same-as candidate/band frames) — a
    // per-bucket/per-micro-batch loop would otherwise retain one set per
    // pass for the process lifetime
    freeRegInternals()
    val labeled = Link.label(raw, reg,
      hintBroadcast = regRows <= linkCfg.maxBroadcastRegistryRows &&
        regBytes <= linkCfg.maxBroadcastRegistryBytes)
    Result(Materialize.edges(labeled), Materialize.nodes(reg), reg,
      cleanup = { keepRegistry =>
        freeRaw()
        if (!keepRegistry) reg.unpersist()
        ()
      },
      raw = Some(raw))
  }

  /** [[run]] on the driver, for a bucket of turns small enough to hold
    * there: the same S2-S7 chain in plain collections, giving the rows
    * [[run]] gives as a set. Turns are sorted in Spark's order
    * ([[Extract.sparkOrder]]) and run through the same conversation loop
    * ([[Extract.extractSorted]]); the registry is [[Link.registryOnDriver]]
    * over the mentions' [[Link.normKeyScala]] keys; labelling and the edge
    * dedup key on `(type, canonical key)` like [[Link.label]] and
    * [[Materialize.edges]], with `obj_float64` as Spark's grouping leaves
    * it (see [[groupingDouble]]), and the GUIDs are minted by
    * [[Link.guidForScala]]. `dict` is [[Link.dictOnDriver]]'s form. None
    * when the fuzzy same-as candidates do not fit `maxPairs`; the caller
    * then runs [[run]]. `cfg` must not ask for fuzzy exact same-as (the
    * driver mirrors the MinHash/LSH path only). */
  private[kg] def runOnDriver(turns: Seq[Turn], dict: Map[(String, String), Seq[String]],
      cfg: Link.Config, maxPairs: Long): Option[(Seq[KgEdge], Seq[KgNode])] = {
    val raw = Extract.extractSorted(turns.sorted(Extract.sparkOrder).iterator).toVector
    val norm = mutable.HashMap.empty[String, String]
    def nk(s: String) = norm.getOrElseUpdate(s, Link.normKeyScala(s))
    def subj(t: RawTriple) = (t.subj_type, nk(t.subj_tuid))
    // Extract fills obj_type and obj_tuid on every entity-object triple
    def obj(t: RawTriple) =
      Option.when(t.obj_kind == ObjKind.Subject)((t.obj_type.get, nk(t.obj_tuid.get)))
    val mentions = raw.iterator.flatMap(t => subj(t) +: obj(t).toSeq).toSet
    Link.registryOnDriver(mentions, dict, cfg, maxPairs).map { reg =>
      val guids = mutable.HashMap.empty[(String, String), String]
      def guid(et: String, k: String) = guids.getOrElseUpdate((et, k), Link.guidForScala(et, k))
      val seen = mutable.HashSet.empty[Any]
      val edges = for {
        t <- raw
        sk <- reg(subj(t))
        ok <- obj(t).fold(Seq(Option.empty[String]))(m => reg(m).map(Some(_)))
        od = t.obj_float64.map(groupingDouble)
        if seen.add((t.subj_type, sk, t.pred, t.obj_kind, t.obj_type, ok, t.obj_string,
          t.obj_int64, od.map(java.lang.Double.doubleToRawLongBits)))
      } yield KgEdge(t.subj_type, guid(t.subj_type, sk), t.pred, t.obj_kind, t.obj_type,
        ok.map(guid(t.obj_type.get, _)), t.obj_string, t.obj_int64, od)
      val nodes = reg.toSeq.flatMap { case ((et, _), ks) => ks.map(k => (et, k)) }.distinct
        .map { case (et, k) => KgNode(guid(et, k), et, k) }
      (edges, nodes)
    }
  }

  /** What Spark's grouping does to a double key (`dropDuplicates` in
    * [[Materialize.edges]]): -0.0 becomes 0.0 and every NaN the canonical
    * NaN. Extract emits both, from text such as "total -0." or "total
    * NaN.". */
  private def groupingDouble(d: Double): Double =
    if (d == 0.0) 0.0 else if (d.isNaN) Double.NaN else d

  /** Run + persist with idempotent MERGE into `outDir/{edges,nodes}`. The
    * merged frames read back from the written snapshots, so the pipeline's
    * internal cache is freed before returning (registry kept: it is part of
    * the returned Result). */
  def runAndMerge(turns: Dataset[Turn], dict: DataFrame, outDir: String,
      linkCfg: Link.Config = Link.Config()): Result = {
    val spark = turns.sparkSession
    val r = run(turns, dict, linkCfg)
    val (mergedEdges, mergedNodes) = Materialize.mergeGraph(spark, outDir, r.edges, r.nodes)
    r.close(keepRegistry = true)
    Result(mergedEdges, mergedNodes, r.registry,
      cleanup = { keep => if (!keep) r.registry.unpersist(); () })
  }
}
