package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over an edge list — the "query the graph you built"
  * surface (composes with the constructed KG's (subj_guid, obj_guid) edges,
  * or any (src, dst) frame).
  *
  * [[Graph.pageRank]] is the power method:
  * `rank_{t+1}(v) = (1-d)/N + d * (sum_{u->v} rank_t(u) / outdeg(u) [+ S_t/N])`
  * where `S_t` is the dangling (sink) rank mass, redistributed uniformly
  * when `danglingRedistribution = true` — textbook PageRank, total mass
  * conserved at 1. The DEFAULT leaves it off: a sink's mass leaks, but the
  * result stays a pure deterministic function of the edge list alone, which
  * is what makes the driver oracle (`q_pagerank`, an unrolled recursive
  * CTE) recomputable in DuckDB — a user who wants textbook ranks passes
  * `danglingRedistribution = true` and mirrors the `S_t/N` term in any
  * external check. `tol > 0` adds an L1-convergence early exit (one extra
  * aggregate per iteration); the default 0 keeps the fixed-iteration count
  * exact for the oracle. Each iteration is one keyed join + one
  * aggregation; lineage is truncated per iteration (localCheckpoint) so 10
  * iterations do not build a 10-deep plan. Per-iteration driver traffic is
  * O(1) scalars (dangling mass, L1 delta) — node/edge data never collects.
  */
object Graph {

  /** Driver-side power method over a collected edge list — the identical
    * update rule in IEEE double arithmetic; contribution sums run in sorted
    * (src, dst) edge order (deterministic across runs; the distributed
    * groupBy's partial-agg order is partition-dependent, and every consumer
    * of ranks publishes/compares at f32 where the ~1e-15 summation-order
    * difference is far below one ulp). */
  private def pageRankDriver(spark: org.apache.spark.sql.SparkSession,
      edgeRows: Array[(String, String)], iters: Int, damping: Double,
      danglingRedistribution: Boolean, tol: Double): DataFrame = {
    val edgesSorted = edgeRows.sortBy(identity)
    val nodes = edgesSorted.iterator.flatMap(p => Iterator(p._1, p._2))
      .toArray.distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.length
    val outdeg = new Array[Long](n)
    val es = edgesSorted.map { case (s, d) => (idx(s), idx(d)) }
    es.foreach { case (s, _) => outdeg(s) += 1 }
    var ranks = Array.fill(n)(1.0 / n)
    var iter = 0
    var converged = false
    while (iter < iters && !converged) {
      val dangling =
        if (!danglingRedistribution) 0.0
        else {
          var s = 0.0; var i = 0
          while (i < n) { if (outdeg(i) == 0L) s += ranks(i); i += 1 }
          s
        }
      val next = Array.fill(n)((1.0 - damping) / n + damping * dangling / n)
      es.foreach { case (s, d) => next(d) += damping * (ranks(s) / outdeg(s)) }
      if (tol > 0.0) {
        var delta = 0.0; var i = 0
        while (i < n) { delta += math.abs(next(i) - ranks(i)); i += 1 }
        converged = delta < tol
      }
      ranks = next
      iter += 1
    }
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    var i = 0
    while (i < n) { rows.add(org.apache.spark.sql.Row(nodes(i), ranks(i))); i += 1 }
    spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.DoubleType, nullable = false))))
  }

  /** Distinct-edge PageRank. `edges` needs (src, dst) columns; multi-edges
    * collapse. Returns (node, rank). */
  def pageRank(edges: DataFrame, iters: Int = 10, damping: Double = 0.85,
      danglingRedistribution: Boolean = false, tol: Double = 0.0): DataFrame = {
    val (e, fits) = Canonicalize.checkpointEdges("graph.pagerank",
      edges.select(col("src"), col("dst")).distinct(), "src", "dst")
    // driver loop when the edges fit: per-iteration DataFrame-loop scheduling
    // (10 join + agg + checkpoint jobs ≈ 2-3 s) dwarfs small-graph work
    if (fits) {
      val spark = edges.sparkSession
      val rows = e.collect().map(r => (r.getString(0), r.getString(1)))
      e.unpersist()
      return pageRankDriver(spark, rows, iters, damping,
        danglingRedistribution, tol)
    }
    val graft.SizeGate.Sized(nodes, n, _) = graft.SizeGate.checkpoint(
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node")))
        .distinct())
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = true)

    var ranks = nodes.withColumn("rank", lit(1.0 / n)).localCheckpoint(eager = true)
    var iter = 0
    var converged = false
    while (iter < iters && !converged) {
      // dangling mass: rank held by nodes with no out-edges this iteration
      // (one scalar agg — the left anti join is a broadcast of outdeg keys)
      val dangling =
        if (!danglingRedistribution) 0.0
        else {
          val row = ranks.join(outdeg, ranks("node") === outdeg("src"), "left_anti")
            .agg(sum(col("rank"))).head()
          if (row.isNullAt(0)) 0.0 else row.getDouble(0)
        }
      val contribs = e.join(ranks, e("src") === ranks("node"))
        .join(outdeg, Seq("src"))
        .select(col("dst").as("node"), (col("rank") / col("deg")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("c"))
      val next = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit((1.0 - damping) / n + damping * dangling / n) +
            lit(damping) * coalesce(col("c"), lit(0.0)))
            .as("rank"))
        .localCheckpoint(eager = true)
      if (tol > 0.0) {
        val row = next.as("nx").join(ranks.as("pv"), col("nx.node") === col("pv.node"))
          .agg(sum(abs(col("nx.rank") - col("pv.rank")))).head()
        val delta = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
        converged = delta < tol
      }
      ranks.unpersist()
      ranks = next
      iter += 1
    }
    ranks
  }

  /** Bounded-depth BFS from `seeds` over a DIRECTED edge list: every node
    * reachable within `k` hops, with its hop distance (`min_hops`, seeds
    * at 0). One keyed join + anti-join per hop — the frontier and visited
    * sets stay distributed (no driver collect); lineage is truncated per
    * hop (localCheckpoint) so depth never builds a k-deep plan; the loop
    * exits early when a frontier empties (one O(1) isEmpty probe per hop).
    * This is the general traversal the 2-hop query specializes: ego
    * networks, reachability cones, provenance closures over the KG's
    * (subj_guid, obj_guid) edges. */
  def kHop(edges: DataFrame, seeds: DataFrame, k: Int): DataFrame = {
    val (e, fits) = Canonicalize.checkpointEdges("graph.khop",
      edges.select(col("src"), col("dst")).distinct(), "src", "dst")
    if (fits) {
      // driver BFS over the collected adjacency — pure integer hop counts,
      // bit-identical to the distributed loop by construction; per-hop the
      // distributed form costs join + anti-join + two checkpoints of pure
      // scheduling at small frontier sizes
      val spark = edges.sparkSession
      val adj = e.collect().map(r => (r.getString(0), r.getString(1)))
        .groupBy(_._1).map { case (s, ps) => (s, ps.map(_._2)) }
      e.unpersist()
      val seedNodes = seeds.select(col("node")).distinct().collect()
        .map(_.getString(0))
      val dist = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      seedNodes.foreach(s => dist(s) = 0)
      var frontier: Seq[String] = seedNodes.toSeq
      var hop = 0
      while (hop < k && frontier.nonEmpty) {
        hop += 1
        frontier = frontier.flatMap(s => adj.getOrElse(s, Array.empty[String]))
          .distinct.filterNot(dist.contains)
        frontier.foreach(v => dist(v) = hop)
      }
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      dist.foreach { case (node, h) =>
        rows.add(org.apache.spark.sql.Row(node, h))
      }
      return spark.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("min_hops",
            org.apache.spark.sql.types.IntegerType, nullable = false))))
    }
    var visited = seeds.select(col("node")).distinct()
      .withColumn("min_hops", lit(0)).localCheckpoint(eager = true)
    var frontier = visited.select(col("node"))
    var hop = 0
    var drained = false
    while (hop < k && !drained) {
      hop += 1
      val next = frontier.join(e, frontier("node") === e("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti")
        .withColumn("min_hops", lit(hop))
        .localCheckpoint(eager = true)
      drained = next.isEmpty
      val grown = visited.unionByName(next).localCheckpoint(eager = true)
      visited.unpersist()
      visited = grown
      frontier = next.select(col("node"))
    }
    e.unpersist()
    visited
  }

  /** Triangle enumeration over an UNDIRECTED canonical edge list (`a` <
    * `b`, one row per edge — the shape the dedup pair ops emit). Returns
    * every (a, b, c) with a < b < c and all three edges present.
    *
    * Plan shape: two hash/sort-merge EQUI-joins — wedges (a<b, b<c) closed
    * by probing the edge set for (a, c). The canonical ordering is the
    * classic enumeration guard: each triangle is emitted exactly once, and
    * each wedge is generated only at its middle-ranked vertex, so a
    * degree-d node generates O(d_lo × d_hi) wedges rather than O(d²) —
    * for skew-heavy graphs re-rank ids by degree first (cheapest id =
    * lowest degree) to tighten that bound; the id order used here keeps
    * the output a pure function of the input for the DuckDB oracle. No
    * cartesian, no driver-side state; candidates never exceed the wedge
    * count (Σ d_lo·d_hi), the same budget any distributed triangle count
    * (e.g. Cohen's MapReduce construction) pays. */
  def triangles(pairs: DataFrame): DataFrame = {
    // the edge set feeds THREE subtrees (both wedge sides + the closure
    // probe) and Spark has no CSE — materialize once or an expensive
    // upstream (a PPJoin pipeline, say) runs three times
    val e = pairs.select(col("a"), col("b")).distinct()
      .localCheckpoint(/* eager = */ true)
    // wedges a<b<c sharing middle vertex b… join on (a,c) closes them
    e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("a"), col("e1.b").as("b"), col("e2.b").as("c"))
      .join(e.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_semi")
      .select(col("a"), col("b"), col("c"))
  }
}
