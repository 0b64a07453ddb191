package graft.perfbench

/** The per-layer metric set of the traced run. Every traced run reports all
  * of them; a layer its workload does not run reads 0. Keep in step with
  * `per_layer` in BENCHMARK.json. */
object Layers {

  /** Spans, named after the modules whose public calls they wrap. */
  val Spans: Seq[String] = Seq(
    "kg.Extract", "kg.Link.registry", "kg.Link.label", "kg.Link.sameas",
    "kg.Canonicalize", "kg.Materialize.append", "kg.Materialize.compact",
    "kg.Materialize.rewrite", "kg.Incremental",
    "ops.Curate", "ops.Percentile", "ops.Mixing", "ops.Sharding")

  val SpanMetrics: Seq[(String, String)] = Seq("self_s" -> "s", "task_s" -> "s",
    "skew" -> "ratio", "shuffle_mb" -> "MB", "spill_mb" -> "MB", "jobs" -> "count")

  /** Each layer's own counts, with units. */
  val Counts: Seq[(String, String)] = Seq(
    "kg.Extract.triples_per_turn" -> "ratio",
    "kg.Link.registry_rows" -> "count",
    "kg.Link.label_broadcast" -> "bool",
    "kg.Link.sameas_candidates" -> "count",
    "kg.Link.sameas_yield" -> "ratio",
    "kg.Link.lsh_dropped_rows" -> "count",
    "kg.Canonicalize.components" -> "count",
    "kg.Materialize.written_mb" -> "MB",
    "kg.Materialize.read_fanin" -> "dirs",
    "kg.Incremental.driver_idle_s" -> "s",
    "kg.Incremental.resolve_scan_s" -> "s",
    "kg.Incremental.resolve_discover_s" -> "s",
    "kg.Incremental.resolve_rewrite_s" -> "s",
    "kg.Incremental.resolve_watermark_s" -> "s",
    "ops.Curate.simjoin_candidates" -> "count",
    "ops.Curate.kept_frac" -> "ratio",
    "trace.overhead_s" -> "s")

  val All: Seq[(String, String)] =
    Spans.flatMap(s => SpanMetrics.map { case (m, u) => s"$s.$m" -> u }) ++ Counts

  private val units = All.toMap

  def unit(name: String): String = units(name)

  /** Exactly the declared metric set: missing ones read 0, others dropped. */
  def complete(m: Map[String, Double]): Map[String, Double] =
    All.map { case (k, _) => k -> m.getOrElse(k, 0.0) }.toMap
}
