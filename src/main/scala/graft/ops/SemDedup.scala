package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup — cluster-scoped semantic deduplication over an embedding
  * column (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
  * web-scale through semantic deduplication").
  *
  * The published recipe: k-means the corpus embeddings into many clusters,
  * then search for near-duplicate pairs (cosine >= threshold) ONLY inside
  * each cluster, and keep one representative per duplicate group. The
  * cluster pass turns the O(N^2) global search into sum_c O(k_c^2) with
  * k_c ~ N/nLists — the clustering IS the blocking, which is why this is
  * the published scale path for 100-TB-class corpora (the paper runs it on
  * LAION at 50k clusters). Contrast with [[Similarity.cosineNearDupPairs]]
  * (sign-LSH blocking): LSH blocks are seed-random and recall is tuned by
  * tables x bits; SemDeDup blocks follow the corpus's own density, so
  * near-dup pairs — which are by definition semantically close — land in
  * the same block with probability approaching 1 as assignments increase.
  *
  * Deviations from the paper, both deterministic-by-design:
  *  - representative choice is the numeric min id of the duplicate group
  *    (the paper keeps a random/low-centroid-similarity member; the choice
  *    is orthogonal to the plan shape and min-id is oracle-derivable);
  *  - each vector is assigned to its `assign` nearest centroids (the paper
  *    uses 1). Multi-assignment is the recall knob for pairs that straddle
  *    a cluster boundary; a pair sharing several clusters is emitted once,
  *    in the lowest-indexed common cluster (the first-common-block rule,
  *    same trick as the LSH first-collision check — no distinct shuffle).
  *
  * Scale posture: k-means is the existing deterministic Lloyd kernel
  * (centroids driver-side, nLists x dim doubles — tiny, broadcast);
  * assignment is one map over the corpus, checkpointed once; the
  * per-cluster pair kernel is one (cluster)-keyed shuffle whose quadratic
  * work is bounded by the OBSERVED `maxCluster` cap (site
  * `similarity.semdedup`, `dropped_rows` / `max_cluster` — over-cap
  * clusters are dropped loudly via a broadcast anti-join, never silently).
  * The cap is enforced from the O(nLists) per-cluster counts frame, not a
  * corpus-wide Window, so the embedding arrays ride EXACTLY one exchange
  * (the kernel's groupByKey — unlike the LSH path they must: the cosine is
  * computed inside the kernel); shuffle volume is assign x corpus — linear,
  * with no pair frame ever carrying vectors.
  *
  * Reference framing: megamind's design keeps entity payloads opaque and
  * dedups on identity; this operator is part of the training-data layer
  * (SURVEY "beyond the reference" mandate), not a reference port.
  */
object SemDedup {

  /** `assign` = centroids per vector (recall knob; 2 covers boundary pairs
    * on corpora whose duplicate pairs sit at >= ~0.9 cosine). `maxCluster`
    * bounds the per-cluster O(k^2) kernel — capped rows are observed under
    * `similarity.semdedup`. */
  final case class Config(
      nLists: Int = 16,
      kmeansIters: Int = 3,
      assign: Int = 2,
      threshold: Double = 0.9,
      maxCluster: Int = 20000)

  /** Cluster-scoped near-duplicate pairs: `(vec_a, vec_b, cos)` with
    * `vec_a < vec_b`, cosine computed exactly inside the cluster kernel.
    * Pairs are unique (first-common-cluster rule) even under
    * multi-assignment. SEALED result (eager checkpoint of the small pair
    * set; the corpus-scale assignment checkpoint is freed before
    * returning — the [[Dedup.ManagedPairs]] posture). */
  def pairs(corpus: DataFrame, cfg: Config = Config()): DataFrame =
    pairsManaged(corpus, cfg).seal()

  /** [[pairs]] as a [[Dedup.ManagedPairs]] (lazy plan + explicit free of
    * the corpus-scale assignment checkpoint backing it). */
  def pairsManaged(corpus: DataFrame, cfg: Config = Config()): Dedup.ManagedPairs = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = Similarity.kmeansCentroids(corpus,
      Similarity.IvfConfig(nLists = cfg.nLists, kmeansIters = cfg.kmeansIters))
    val bc = spark.sparkContext.broadcast(centroids)
    val nAssign = cfg.assign
    // one row per (cluster, vector) assignment; each row carries the
    // vector's full assignment list for the first-common-cluster check
    // checkpointed ONCE: the assignment feeds two subtrees (the per-cluster
    // size probe and the pair kernel — no CSE in Spark) and the embedding
    // arrays must ride exactly one corpus-scale exchange (the kernel's
    // groupByKey). The cluster-size cap is enforced from the O(nLists)
    // counts frame, NOT a corpus-wide Window — a Window.partitionBy(cluster)
    // would shuffle the full embedding-carrying corpus a second time just to
    // count rows per cluster.
    val assigned = corpus.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (id, vSeq) =>
          // primitive-array view first: the typed-encoder Seq is not
          // guaranteed indexed and the centroid scoring touches every
          // element nLists times
          val cls = Similarity.nearestCentroidsArr(vSeq.toArray, cs, nAssign).sorted
          cls.map(cl => (cl, id, vSeq, cls))
        }
      }
      .toDF("cluster", "vec_id", "embedding", "clusters")
      .localCheckpoint(eager = true)
    // cap metrics observe the TINY counts frame (one row per cluster);
    // checkpointHarvest keeps the drop counts synchronous + prune-proof
    // (same contract as the corpus-frame observes elsewhere, at nLists cost)
    val counts = CapMetrics.checkpointHarvest(CapMetrics.observed(
      assigned.groupBy(col("cluster")).agg(count(lit(1)).as("cluster_n")),
      "similarity.semdedup",
      sum(when(col("cluster_n") > cfg.maxCluster, col("cluster_n"))
        .otherwise(0L)).as("dropped_rows"),
      max(col("cluster_n")).as("max_cluster")))
    val over = counts.filter(col("cluster_n") > cfg.maxCluster)
      .select(col("cluster")).collect().map(_.getInt(0))
    counts.unpersist()
    // over-cap clusters are the rare exception: drop their rows via a
    // broadcast anti-join only when any exist (never an isin expression —
    // nLists can be 50k at corpus scale)
    val capped =
      if (over.isEmpty) assigned
      else assigned.join(
        broadcast(over.toSeq.toDF("cluster")), Seq("cluster"), "left_anti")
    val threshold = cfg.threshold
    val out = capped
      .as[(Int, Long, Seq[Float], Seq[Int])]
      .groupByKey(_._1)
      .flatMapGroups { (cl: Int, it: Iterator[(Int, Long, Seq[Float], Seq[Int])]) =>
        // hoist per-row work out of the O(k^2) loop: unbox the embedding to
        // a primitive array ONCE and cache its norm — the cosine inside the
        // pair loop is then a single primitive-array dot. Arithmetic is
        // Similarity.cosineKernel's (the same dotArr, norms just cached), so
        // results are bit-equal; the boxed 3-pass formulation measured
        // ~40 s at 2k vectors x dim 64.
        val m = it.map { case (_, id, v, cls) =>
          val arr = v.toArray
          (id, arr, math.sqrt(Similarity.dotArr(arr, arr)), cls)
        }.toArray
        val buf = Vector.newBuilder[(Long, Long, Double)]
        var i = 0
        while (i < m.length) {
          var j = i + 1
          while (j < m.length) {
            val (idA, vA, nA, clsA) = m(i)
            val (idB, vB, nB, clsB) = m(j)
            if (idA != idB && firstCommon(clsA, clsB) == cl) {
              val cos = Similarity.dotArr(vA, vB) / (nA * nB)
              if (cos >= threshold)
                buf += (if (idA < idB) (idA, idB, cos) else (idB, idA, cos))
            }
            j += 1
          }
          i += 1
        }
        buf.result()
      }
      .toDF("vec_a", "vec_b", "cos")
    Dedup.ManagedPairs(out, () => { assigned.unpersist(); () })
  }

  /** Lowest common element of two SORTED ascending cluster lists (merge
    * walk); Int.MinValue when disjoint (never a valid cluster id). */
  private def firstCommon(a: Seq[Int], b: Seq[Int]): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) return a(i)
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    Int.MinValue
  }

  /** The dedup decision table: one row per corpus vector,
    * `(vec_id, group_rep, kept)` — `group_rep` is the numeric-min member of
    * the vector's semantic duplicate group (itself for singletons), `kept`
    * marks the one retained member. Downstream: `filter(kept)` is the
    * deduplicated corpus; the full table is the audit trail. */
  def decisions(corpus: DataFrame, cfg: Config = Config()): DataFrame = {
    val p = pairs(corpus, cfg)
    val groups = Dedup.dedupGroups(
        p.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("group_rep"))
    // grouped ids are a small fraction of the corpus: the left join is a
    // broadcast under AQE when it fits, and the corpus side is an id-only
    // pruned scan either way
    corpus.select(col("vec_id"))
      .join(groups, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("group_rep"), col("vec_id")).as("group_rep"))
      .withColumn("kept", col("vec_id") === col("group_rep"))
  }
}
