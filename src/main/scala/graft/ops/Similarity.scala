package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SizeGate

/** Approximate-nearest-neighbor search over an embedding column
  * (`embeddings(vec_id, embedding: array<float>, label)`).
  *
  * Two paths:
  *  - [[Similarity.bruteForceTopK]]: exact cosine top-k — the correctness
  *    baseline. Queries are broadcast against the corpus (one scan, no
  *    all-pairs shuffle); per-query top-k via window.
  *  - [[Similarity.lshTopK]]: random-hyperplane (sign) LSH — the scale path.
  *    Deterministic pseudo-random hyperplanes derived from a seed (splitmix64
  *    of the (seed, table, bit, dim) index), multi-table banding, candidates
  *    meet on (table, bucket) equi-join keys; exact cosine re-rank inside
  *    candidates. Recall is tunable by tables × bits; precision is exact.
  *
  * Vector math runs in tight JVM kernels (UDF over primitive loops), NOT
  * Spark's higher-order array functions: `transform`/`aggregate`/`zip_with`
  * are interpreted (CodegenFallback), measured ~1000x slower per element —
  * a 64-dim cosine cost ≈1.3 ms interpreted vs ≈0.1 µs in the kernel.
  */
object Similarity {

  // ---- kernels ---------------------------------------------------------------

  /** dot(a,b), double accumulation, index order (matches DuckDB's
    * list_cosine_similarity numerics — verified exact in the q_knn oracle).
    * Primitive arrays: UDFs declared over `Array[Float]` receive the row's
    * ArrayData via one `toFloatArray()` copy and then run this loop; a
    * `Seq[Float]` loop pays a boxed `apply` per ELEMENT per call instead —
    * measured the dominant verify cost at the near-exhaustive
    * q_embed_neardup config. */
  def dotArr(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  def cosineKernel(a: Seq[Float], b: Seq[Float]): Double = {
    val (x, y) = (a.toArray, b.toArray)
    dotArr(x, y) / (math.sqrt(dotArr(x, x)) * math.sqrt(dotArr(y, y)))
  }

  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Sign-LSH bucket for one table: `bits` sign bits of projections onto
    * deterministic ±1 hyperplanes. */
  private def bucketKernelArr(vec: Array[Float], seed: Int, table: Int, bits: Int): Long = {
    var out = 0L
    var b = 0
    while (b < bits) {
      var acc = 0.0
      var d = 0
      val n = vec.length
      while (d < n) {
        val h = splitmix64((seed.toLong << 40) ^ (table.toLong << 24) ^ (b.toLong << 12) ^ d.toLong)
        acc += (if ((h & 1L) == 0L) vec(d).toDouble else -vec(d).toDouble)
        d += 1
      }
      if (acc >= 0) out |= (1L << b)
      b += 1
    }
    out
  }

  // ---- column API ------------------------------------------------------------

  val cosine: (Column, Column) => Column = {
    val u = udf(cosineKernel _)
    (a, b) => u(a, b)
  }

  /** sqrt(dot(v,v)) — the norm half of [[cosineKernel]], computed once per
    * VECTOR so scoring stages pay one dot per scored pair instead of
    * three. `cos = dot(a,b)/(na*nb)` is the identical IEEE expression tree
    * as [[cosineKernel]] (same loop, same sqrt, same multiply/divide
    * order), so every cosine is bit-identical. */
  private val vecNorm = udf((v: Array[Float]) => math.sqrt(dotArr(v, v)))
  private val cosineWithNorms =
    udf((a: Array[Float], b: Array[Float], na: Double, nb: Double) =>
      dotArr(a, b) / (na * nb))

  /** Spread a frame to the session's parallelism when its partition count
    * is far below it: a small parquet scan yields 1-4 partitions and any
    * kernel-heavy stage pipelined on top of it (scoring joins over a
    * broadcast probe side, per-partition heaps) serializes onto that many
    * cores no matter the cluster size — the
    * [[graft.streaming.StreamingIngest]] narrow-batch rule applied to the
    * ANN scoring scans. No-ops on already-wide frames. */
  private def spreadNarrow(df: DataFrame): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 < parallelism) df.repartition(parallelism)
    else df
  }

  /** One query's bounded top-k under the strict total order (cos desc,
    * vec_id asc): the first k pushes fill the slots, every later push
    * replaces the worst slot when it is better. A local top-k under a strict
    * total order always contains every global top-k member, so the per-
    * partition heaps feeding one global rank window change no rank, value
    * or tie-break. */
  private final class TopK(k: Int) {
    private val cs = new Array[Double](k)
    private val ids = new Array[Long](k)
    private var n = 0
    private var worst = 0

    private def worseThan(c1: Double, i1: Long, c2: Double, i2: Long): Boolean =
      c1 < c2 || (c1 == c2 && i1 > i2)

    private def rescanWorst(): Unit = {
      var w = 0; var j = 1
      while (j < k) {
        if (worseThan(cs(j), ids(j), cs(w), ids(w))) w = j
        j += 1
      }
      worst = w
    }

    def push(c: Double, id: Long): Unit =
      if (n < k) {
        cs(n) = c; ids(n) = id; n += 1
        if (n == k) rescanWorst()
      } else if (worseThan(cs(worst), ids(worst), c, id)) {
        cs(worst) = c; ids(worst) = id; rescanWorst()
      }

    /** The kept entries as `(qid, vec_id, cos)` rows. */
    def rows(qid: Long): Iterator[(Long, Long, Double)] =
      Iterator.range(0, n).map(j => (qid, ids(j), cs(j)))
  }

  /** Exact top-k neighbors for each query row.
    * `queries` must have (query_id, q_embedding).
    *
    * Plan (r5 rewrite): the query matrix is measured (rows and embedding
    * floats, one agg pass) and — when it fits [[SizeGate]] at the driver's
    * collect cost — shipped to executors once; each corpus
    * partition keeps a bounded per-query heap of its LOCAL top-k, so only
    * Q×partitions×k candidate rows ever shuffle, never the Q×N scored
    * cross product (the previous windowed plan shuffled+sorted 8M scored
    * rows at the 10× bench point to rank 4k survivors; at 100 TB the Q×N
    * shuffle is unrunnable while Q×P×k is trivially mergeable). A local
    * top-k under the strict total order (cos desc, vec_id asc) always
    * contains every global top-k member, and the tiny candidate union then
    * takes the exact global window rank — output (values, ranks AND
    * tie-breaks) is identical to the naive plan, which remains as the
    * over-gate fallback for query sets too large to ship whole. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (qcnt, qFloats) = SizeGate.measure(queries, size(col("q_embedding")))
    // per float: the collected boxed element, its primitive copy, its broadcast
    val scored = if (SizeGate.fits("knn.queries", qcnt, qcnt * 64L + qFloats * 32L)) {
      val qs = queries
        .select(col("query_id").cast("long"), col("q_embedding"))
        .as[(Long, Seq[Float])].collect()
        .map { case (id, v) => (id, v.toArray[Float]) }
      val bc = spark.sparkContext.broadcast(qs)
      // spread first: the per-partition heap kernel runs on the scan's
      // partitioning, which a small parquet file caps at 1-4 tasks
      spreadNarrow(corpus).select(col("vec_id").cast("long"), col("embedding"))
        .as[(Long, Seq[Float])]
        .mapPartitions { it =>
          val q = bc.value
          val nq = q.length
          // norms PRECOMPUTED (once per query, once per corpus row): the
          // cosine is the identical IEEE expression
          // dot/(sqrt(aa)*sqrt(bb)) at a third of the multiplies
          val qn = q.map(p => math.sqrt(dotArr(p._2, p._2)))
          val heaps = Array.fill(nq)(new TopK(k))
          it.foreach { case (vid, vecSeq) =>
            val vec = vecSeq.toArray[Float]
            val vn = math.sqrt(dotArr(vec, vec))
            var qi = 0
            while (qi < nq) {
              if (q(qi)._1 != vid) heaps(qi).push(dotArr(q(qi)._2, vec) / (qn(qi) * vn), vid)
              qi += 1
            }
          }
          Iterator.range(0, nq).flatMap(qi => heaps(qi).rows(q(qi)._1))
        }.toDF("query_id", "vec_id", "cos")
    } else {
      corpus.crossJoin(queries)
        .filter(col("query_id") =!= col("vec_id"))
        .withColumn("cos", cosine(col("q_embedding"), col("embedding")))
        .select(col("query_id"), col("vec_id"), col("cos"))
    }
    rankTopK(scored, k)
  }

  /** Per-partition bounded-heap reduction of a scored candidate frame
    * `(query_id, vec_id, cos)` before the global rank window: each
    * partition keeps its local top-k per query under the strict total
    * order (cos desc, vec_id asc), so the window's exchange carries at
    * most queries × partitions × k rows instead of every scored candidate.
    * A local top-k under a strict total order always contains every global
    * top-k member, so downstream ranks/values/tie-breaks are IDENTICAL —
    * the [[bruteForceTopK]] r5 argument, now shared by the LSH/IVF rank
    * stages whose scored frames grow as queries × probed-fraction × corpus
    * (measured 38× instead of 10× cost from 10× to 100× corpus on the IVF
    * path: the Q×N-ish shuffle was the whole regression). */
  private def localTopK(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.select(col("query_id").cast("long"), col("vec_id").cast("long"),
        col("cos"))
      .as[(Long, Long, Double)]
      .mapPartitions { it =>
        val heaps = scala.collection.mutable.LongMap.empty[TopK]
        it.foreach { case (qid, vid, c) => heaps.getOrElseUpdate(qid, new TopK(k)).push(c, vid) }
        heaps.iterator.flatMap { case (qid, h) => h.rows(qid) }
      }.toDF("query_id", "vec_id", "cos")
  }

  /** Exact global top-k rank over a scored candidate frame: local
    * per-partition heaps ([[localTopK]]) then ONE window over the tiny
    * candidate union. Output matches the naive
    * `row_number().over(query window)` plan exactly. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    rankWindow(localTopK(scored, k), k)

  /** The global rank window over per-partition top-k candidates. */
  private def rankWindow(candidates: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    candidates
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"),
        col("cos"))
  }

  final case class LshConfig(tables: Int = 8, bits: Int = 10, seed: Int = 42)

  /** (id, vec) → (id, bkts: array of one bucket per table). */
  private def bucketArrays(df: DataFrame, vecCol: String, idCol: String,
      cfg: LshConfig): DataFrame = {
    val bucketsUdf = udf((v: Array[Float]) => {
      val out = new Array[Long](cfg.tables)
      var t = 0
      while (t < cfg.tables) { out(t) = bucketKernelArr(v, cfg.seed, t, cfg.bits); t += 1 }
      out
    })
    df.select(col(idCol), bucketsUdf(col(vecCol)).as("bkts"))
  }

  /** First table index where the two bucket arrays collide (tables.length if
    * none) — a pair colliding in k tables is emitted ONLY at its first
    * common table, so the multi-table join yields each candidate exactly
    * once and needs NO distinct afterwards (the r2 plan shuffled up to
    * `tables` duplicate id-rows per pair into a global distinct — the
    * dominant cost of the near-dup query at the exhaustive fixture config).
    * Cost: the bucket array (one long per table) rides the keyed shuffle —
    * ~8*tables bytes/row vs an id-only row, bounded by the (small) table
    * count, in exchange for deleting the distinct exchange entirely. */
  private val firstCollision = udf((a: Seq[Long], b: Seq[Long]) => {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n && a(i) != b(i)) i += 1
    i
  })

  /** ANN top-k: candidates from any shared (table, bucket), exact cosine
    * re-rank. Output schema matches bruteForceTopK. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      cfg: LshConfig = LshConfig()): DataFrame = {
    // candidate IDs only through the join (first-collision dedup — see
    // firstCollision — makes a distinct unnecessary); vectors re-join after
    val cb = bucketArrays(corpus, "embedding", "vec_id", cfg)
      .select(col("vec_id"), col("bkts"),
        posexplode(col("bkts")).as(Seq("tbl", "bkt")))
      .localCheckpoint(eager = true)
    val qb = bucketArrays(queries, "q_embedding", "query_id", cfg)
      .select(col("query_id"), col("bkts").as("q_bkts"),
        posexplode(col("bkts")).as(Seq("tbl", "bkt")))
    val candidateIds = cb.join(qb, Seq("tbl", "bkt"))
      .filter(col("query_id") =!= col("vec_id"))
      .filter(firstCollision(col("bkts"), col("q_bkts")) === col("tbl"))
      .select(col("query_id"), col("vec_id"))
    // re-spread the id-only candidates before the cosine re-rank: AQE
    // coalesces the small distinct output to ~1 partition, serializing the
    // kernel-heavy verify (see Dedup.spreadForVerify)
    val candidates = candidateIds
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism * 2,
        col("query_id"), col("vec_id"))
      .join(broadcast(queries.withColumn("n_q", vecNorm(col("q_embedding")))),
        Seq("query_id"))
      .join(corpus.select(col("vec_id"), col("embedding"),
        vecNorm(col("embedding")).as("n_v")), Seq("vec_id"))
    rankTopK(candidates
      .withColumn("cos", cosineWithNorms(col("q_embedding"), col("embedding"),
        col("n_q"), col("n_v")))
      .select(col("query_id"), col("vec_id"), col("cos")), k)
  }

  // ---- IVF (inverted-file) ANN ----------------------------------------------

  final case class IvfConfig(nLists: Int = 64, kmeansIters: Int = 5, nProbe: Int = 8)

  /** Training-run counter — observability that [[ivfTopKIndexed]] really
    * skips the quantizer (asserted in tests; cheap, process-wide). */
  private[ops] val kmeansRuns = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Deterministic Lloyd k-means coarse quantizer: centroids initialized
    * from the `nLists` smallest ids (pure function of the corpus — no RNG),
    * `iters` assignment/update rounds. Centroids are nLists x dim floats —
    * the ONE thing small enough to legitimately live on the driver (mllib's
    * KMeans does the same); assignments stay distributed. Empty clusters
    * keep their previous centroid. */
  def kmeansCentroids(corpus: DataFrame, cfg: IvfConfig): Array[Array[Double]] = {
    kmeansRuns.incrementAndGet()
    val spark = corpus.sparkSession
    import spark.implicits._
    // checkpoint once: the iterations re-scan these vectors kmeansIters
    // times; freed before returning
    val vecs = corpus.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])]
      .localCheckpoint(eager = true)

    // Driver fast path: Lloyd's per-iteration cost distributed is one tiny
    // mapPartitions job + a collect — at small corpus sizes that is
    // kmeansIters jobs of pure scheduling. The driver loop is
    // SINGLE-THREADED, so besides the SizeGate memory bound the gate is a
    // flops budget (rows × dim × nLists × iters ≤ ~2e9, well under a second
    // of distance arithmetic) — a 20k×64 corpus at nLists=64 is in, a corpus
    // whose assignment compute would out-cost the saved job overhead is
    // out. The driver loop REPLICATES the distributed arithmetic
    // bit-for-bit (per-PARTITION accumulation in row order, partials
    // combined per cluster in partition order — the identical IEEE sum
    // tree), so centroids — and therefore every assignment, SemDeDup
    // blocking decision and persisted index — are byte-identical to the
    // distributed path on the same corpus.
    val (nRows, nFloats) =
      SizeGate.measure(vecs.toDF("vec_id", "embedding"), size(col("embedding")))
    val driverFlops = nFloats * cfg.nLists.toLong * cfg.kmeansIters.toLong
    // per float: the collected primitive array and its serialized result
    if (driverFlops <= 2000000000L &&
        SizeGate.fits("kmeans", nRows, nRows * 128L + nFloats * 8L)) {
      // materialize rows as primitive float arrays ONCE at collect time:
      // the deserialized Seq[Float] is not guaranteed indexed, and the
      // driver loop touches every element nLists times per iteration
      val byPart = vecs.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        it.map { case (id, v) => (pid, id, v.toArray) }
      }.collect()
      vecs.unpersist()
      return kmeansCentroidsDriver(byPart, cfg)
    }
    var centroids: Array[Array[Double]] = vecs
      .orderBy(col("vec_id")).limit(cfg.nLists)
      .collect().map(_._2.map(_.toDouble).toArray)
    for (_ <- 1 to cfg.kmeansIters) {
      val bc = spark.sparkContext.broadcast(centroids)
      // classic distributed Lloyd update: per-partition (sum, count)
      // accumulators in a tight kernel (one pass, primitive arrays — the
      // per-dim explode+UDF formulation cost ~18 s/iteration at 20k x 64;
      // this runs in ~0.2 s), combined on the driver (nLists x partitions
      // rows — tiny). The typed-encoder Seq is not guaranteed indexed, so
      // each row is viewed as a primitive array first.
      val partials = vecs.mapPartitions(it =>
        lloydPartials(it.map(_._2.toArray), bc.value)).collect()
      centroids = lloydCombine(centroids, partials)
      bc.destroy()
    }
    vecs.unpersist()
    centroids
  }

  /** Driver-side Lloyd over partition-tagged rows, mirroring the
    * distributed update EXACTLY: initial centroids are the `nLists`
    * smallest ids; each iteration runs [[lloydPartials]] over each
    * partition's rows in row order and [[lloydCombine]] over the partials
    * in partition order — the same functions, so the same IEEE addition
    * tree as the mapPartitions + collect path, and bit-identical centroids
    * (asserted in OpsSpec). */
  private def kmeansCentroidsDriver(byPart: Array[(Int, Long, Array[Float])],
      cfg: IvfConfig): Array[Array[Double]] = {
    var centroids: Array[Array[Double]] = byPart.sortBy(_._2).take(cfg.nLists)
      .map(_._3.map(_.toDouble))
    // stable partition slices in partition order (collect() already yields
    // partition order; groupBy would scramble it)
    val pids = byPart.map(_._1).distinct.sorted
    val slices = pids.map(pid => byPart.filter(_._1 == pid))
    for (_ <- 1 to cfg.kmeansIters) {
      val cs = centroids
      centroids = lloydCombine(cs,
        slices.flatMap(slice => lloydPartials(slice.iterator.map(_._3), cs)))
    }
    centroids
  }

  /** One partition's Lloyd partials: `(cluster, count, sums)` for every
    * centroid, accumulated over `rows` in row order. */
  private def lloydPartials(rows: Iterator[Array[Float]],
      cs: Array[Array[Double]]): Iterator[(Int, Long, Array[Double])] = {
    val dim = if (cs.nonEmpty) cs(0).length else 0
    val sums = Array.ofDim[Double](cs.length, dim)
    val counts = new Array[Long](cs.length)
    rows.foreach { v =>
      val cl = nearestCentroidArr(v, cs)
      counts(cl) += 1
      var d = 0
      val n = math.min(dim, v.length)
      while (d < n) { sums(cl)(d) += v(d); d += 1 }
    }
    Iterator.tabulate(cs.length)(c => (c, counts(c), sums(c)))
  }

  /** The next centroids from partials in (partition, cluster) order: each
    * cluster's sums add in that order and divide by its count; an empty
    * cluster keeps its previous centroid. */
  private def lloydCombine(centroids: Array[Array[Double]],
      partials: Array[(Int, Long, Array[Double])]): Array[Array[Double]] = {
    val next = centroids.map(_.clone())
    partials.groupBy(_._1).foreach { case (cl, rows) =>
      val cnt = rows.map(_._2).sum
      if (cnt > 0) {
        val dim = centroids(cl).length
        val s = new Array[Double](dim)
        rows.foreach { case (_, _, ps) =>
          var d = 0
          while (d < dim) { s(d) += ps(d); d += 1 }
        }
        next(cl) = s.map(_ / cnt)
      }
    }
    next
  }

  /** Cosine of `v` to centroid `c`; -2 (below every real cosine) when
    * either norm is zero. */
  private def centroidCos(v: Array[Float], c: Array[Double]): Double = {
    var dot = 0.0; var nc = 0.0; var nv = 0.0
    var d = 0
    val n = math.min(v.length, c.length)
    while (d < n) {
      dot += v(d).toDouble * c(d); nc += c(d) * c(d)
      nv += v(d).toDouble * v(d); d += 1
    }
    if (nc == 0 || nv == 0) -2.0 else dot / math.sqrt(nc * nv)
  }

  /** Index of the max-cosine centroid (ties to the lower index). */
  private def nearestCentroidArr(v: Array[Float], cs: Array[Array[Double]]): Int = {
    var best = 0
    var bestCos = Double.MinValue
    var i = 0
    while (i < cs.length) {
      val cos = centroidCos(v, cs(i))
      if (cos > bestCos) { bestCos = cos; best = i }
      i += 1
    }
    best
  }

  /** The `nProbe` max-cosine centroids, best first (ties to the lower
    * index). */
  private[ops] def nearestCentroidsArr(v: Array[Float], cs: Array[Array[Double]],
      nProbe: Int): Seq[Int] =
    cs.indices.map(i => (i, centroidCos(v, cs(i))))
      .sortBy { case (i, cos) => (-cos, i) }.take(nProbe).map(_._1)

  /** The probed-scoring stage shared by [[ivfTopK]] and
    * [[ivfTopKIndexed]]: per-LIST query packs (query id, primitive vector,
    * precomputed norm) are shipped once, and one mapPartitions pass over
    * the listed corpus scores each row against its list's queries in a
    * tight primitive-array loop with a bounded per-query heap — the
    * [[bruteForceTopK]] kernel restricted by list membership. The r5 plan
    * materialized corpus × probed-fraction JOIN rows through a ScalaUDF:
    * measured at the 100× fixture (200k vecs, nLists=64, nProbe=8 → 100M
    * scored rows), the join itself cost 5 s and the per-row UDF argument
    * conversion (two boxed Seq[Float] per row) 60 s — the kernel converts
    * each embedding ONCE per corpus row instead of once per scored row.
    * cos = dot(q,v)/(nq·nv) with the identical operand order and
    * accumulation as [[cosineWithNorms]], and the local heaps are
    * [[localTopK]]'s [[TopK]] — output (values, ranks,
    * tie-breaks) is byte-identical to the join plan, which remains as the
    * over-gate fallback for query sets too large to ship. `listed` needs
    * (vec_id, embedding, lst). */
  private def ivfScoreTopK(listed: DataFrame, queries: DataFrame, k: Int,
      cfg: IvfConfig, centroids: Array[Array[Double]]): DataFrame = {
    val spark = listed.sparkSession
    import spark.implicits._
    // same ship-volume gate as the r5 probed-broadcast (rows = queries ×
    // nProbe; bytes = embedding floats + per-row overhead), measured with
    // one agg pass over the query frame
    val (qRows, qFloats) = SizeGate.measure(queries, size(col("q_embedding")))
    val probeRows = qRows * cfg.nProbe
    val probeBytes = qFloats * 4L * cfg.nProbe + probeRows * 24L
    if (SizeGate.fits("ivf.probe", probeRows, probeBytes)) {
      val qs = queries.select(col("query_id").cast("long"), col("q_embedding"))
        .as[(Long, Seq[Float])].collect()
      // per-list packs: (qid, qvec, qnorm) for every query probing the list
      val packs = Array.fill(centroids.length)(
        Vector.newBuilder[(Long, Array[Float], Double)])
      qs.foreach { case (qid, qv) =>
        val q = qv.toArray
        val nq = math.sqrt(dotArr(q, q))
        nearestCentroidsArr(q, centroids, cfg.nProbe).foreach { lst =>
          packs(lst) += ((qid, q, nq))
        }
      }
      val bcPacks = spark.sparkContext.broadcast(
        packs.map(_.result().toArray))
      val scored = spreadNarrow(listed)
        .select(col("vec_id").cast("long"), col("embedding"),
          col("lst").cast("int"))
        .as[(Long, Seq[Float], Int)]
        .mapPartitions { it =>
          val pk = bcPacks.value
          val heaps = scala.collection.mutable.LongMap.empty[TopK]
          it.foreach { case (vid, vSeq, lst) =>
            val qsOfList = pk(lst)
            if (qsOfList.nonEmpty) {
              val v = vSeq.toArray
              val nv = math.sqrt(dotArr(v, v))
              var i = 0
              while (i < qsOfList.length) {
                val (qid, q, nq) = qsOfList(i)
                if (qid != vid)
                  heaps.getOrElseUpdate(qid, new TopK(k)).push(dotArr(q, v) / (nq * nv), vid)
                i += 1
              }
            }
          }
          heaps.iterator.flatMap { case (qid, h) => h.rows(qid) }
        }.toDF("query_id", "vec_id", "cos")
      rankWindow(scored, k)
    } else {
      // over-gate fallback: the keyed scoring join (queries too large to
      // ship whole) — norms precomputed per side, local-heap pre-reduction
      val bc = spark.sparkContext.broadcast(centroids)
      val probesUdf = udf((v: Array[Float]) => nearestCentroidsArr(v, bc.value, cfg.nProbe))
      val probed = queries.select(col("query_id"), col("q_embedding"),
        explode(probesUdf(col("q_embedding"))).as("lst"),
        vecNorm(col("q_embedding")).as("n_q"))
      rankTopK(listed.withColumn("n_v", vecNorm(col("embedding")))
        .join(probed, Seq("lst"))
        .filter(col("query_id") =!= col("vec_id"))
        .withColumn("cos", cosineWithNorms(col("q_embedding"), col("embedding"),
          col("n_q"), col("n_v")))
        .select(col("query_id"), col("vec_id"), col("cos")), k)
    }
  }

  /** IVF ANN top-k: corpus vectors live in ONE coarse-quantizer list each;
    * every query probes its `nProbe` nearest lists; exact cosine re-rank
    * inside the probed lists. `nProbe = nLists` makes the search exhaustive
    * (== brute force, which is how the driver oracle pins it down); partial
    * probes trade recall for a 1/nProbe-ish scan fraction — the scale path
    * when the corpus no longer fits a full scan per query. Output schema
    * matches [[bruteForceTopK]]. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      cfg: IvfConfig = IvfConfig()): DataFrame = {
    val spark = corpus.sparkSession
    val centroids = kmeansCentroids(corpus, cfg)
    val bc = spark.sparkContext.broadcast(centroids)
    val listUdf = udf((v: Array[Float]) => nearestCentroidArr(v, bc.value))
    val listed = corpus.select(col("vec_id"), col("embedding"),
      listUdf(col("embedding")).as("lst"))
    ivfScoreTopK(listed, queries, k, cfg, centroids)
  }

  // ---- persisted IVF index --------------------------------------------------

  /** Deterministic corpus fingerprint (order-independent: xor of per-row
    * hashes + row count) — one linear agg pass, used to validate that a
    * persisted index (IVF here, int8 in [[Quantize]]) still matches the
    * corpus. */
  private[ops] def corpusFingerprint(corpus: DataFrame, idCol: String = "vec_id",
      embCol: String = "embedding"): (Long, Long) = {
    val row = corpus.agg(
      bit_xor(xxhash64(col(idCol), col(embCol))), count(lit(1))).head()
    (if (row.isNullAt(0)) 0L else row.getLong(0), row.getLong(1))
  }

  private def ivfMetaPath(dir: String) =
    java.nio.file.Paths.get(dir, "_META.json")

  /** Train the IVF coarse quantizer ONCE and persist it under `dir`:
    * `centroids.parquet` (nLists × dim — tiny), `assignments.parquet`
    * (vec_id → list, one row per corpus vector) and a `_META.json` carrying
    * the corpus fingerprint + config. Repeated query batches then use
    * [[ivfTopKIndexed]], which skips every k-means/assignment scan. */
  def buildIvfIndex(corpus: DataFrame, cfg: IvfConfig, dir: String): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (fp, n) = corpusFingerprint(corpus)
    val centroids = kmeansCentroids(corpus, cfg)
    val bc = spark.sparkContext.broadcast(centroids)
    val listUdf = udf((v: Array[Float]) => nearestCentroidArr(v, bc.value))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("lst", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids.parquet")
    corpus.select(col("vec_id"), listUdf(col("embedding")).as("lst"))
      .write.mode("overwrite").parquet(s"$dir/assignments.parquet")
    java.nio.file.Files.writeString(ivfMetaPath(dir), ivfMeta(fp, n, n, cfg))
  }

  // one canonical rendering, written by build/append and compared WHOLE by
  // the indexed reader — a substring check would prefix-match numbers
  // (nLists=6 "validates" against 64) and skip fields entirely. `trained`
  // is the size of the corpus the quantizer was TRAINED on (fixed across
  // appends); `count` advances with every append.
  private def ivfMeta(fp: Long, n: Long, trained: Long, cfg: IvfConfig): String =
    s"""{"fingerprint":$fp,"count":$n,"trained":$trained,""" +
    s""""nLists":${cfg.nLists},"kmeansIters":${cfg.kmeansIters}}""" + "\n"

  // strict full-string parse of the canonical rendering (anchored — a
  // meta with extra/missing fields parses to None and fails validation)
  private val IvfMetaRe =
    ("""\{"fingerprint":(-?\d+),"count":(\d+),"trained":(\d+),""" +
      """"nLists":(\d+),"kmeansIters":(\d+)\}\n?""").r
  private def parseIvfMeta(meta: String): Option[(Long, Long, Long, Int, Int)] =
    meta match {
      case IvfMetaRe(fp, n, t, l, k) =>
        Some((fp.toLong, n.toLong, t.toLong, l.toInt, k.toInt))
      case _ => None
    }

  /** O(delta) index maintenance: assign ONLY `newVecs` to the FROZEN
    * trained centroids (FAISS `IndexIVF.add` semantics — the quantizer is
    * NOT retrained) and append their assignment rows; `_META.json` advances
    * by the batch's xor/count (the fingerprint is an order-independent xor,
    * so fpNew = fpOld ^ fpBatch — no rescan of the old corpus). Costs: one
    * id-only semi-join against the stored assignments (the duplicate-id
    * guard — duplicate vec_ids would fan out the read join) plus O(batch)
    * assignment compute and write.
    *
    * Recall degrades as the appended distribution drifts from the trained
    * one, so `maxAppendFrac` bounds total appended rows at
    * `maxAppendFrac × trained` and throws past it — rebuild with
    * [[buildIvfIndex]]. With `nProbe = nLists` the search is exhaustive and
    * exact regardless of drift (the q_knn_ivf_append oracle path).
    *
    * Crash posture: assignment rows are appended BEFORE the meta rewrite,
    * so a failure in between leaves a meta whose fingerprint no longer
    * matches the corpus — [[ivfTopKIndexed]] throws and the index is
    * rebuilt, never silently wrong. Single-writer, like [[buildIvfIndex]]. */
  def appendIvfIndex(newVecs: DataFrame, cfg: IvfConfig, dir: String,
      maxAppendFrac: Double = 1.0): Unit = {
    val spark = newVecs.sparkSession
    import spark.implicits._
    val meta = java.nio.file.Files.readString(ivfMetaPath(dir))
    val (fpOld, nOld, trained) = parseIvfMeta(meta) match {
      case Some((fp, n, t, l, k)) =>
        require(l == cfg.nLists && k == cfg.kmeansIters,
          s"IVF index at $dir was built under nLists=$l/kmeansIters=$k, " +
            s"append requested ${cfg.nLists}/${cfg.kmeansIters} — rebuild")
        (fp, n, t)
      case None =>
        throw new IllegalArgumentException(
          s"unparseable IVF meta at $dir: ${meta.trim} — rebuild with buildIvfIndex")
    }
    val batchStats = newVecs.agg(
      bit_xor(xxhash64(col("vec_id"), col("embedding"))),
      count(lit(1)), count_distinct(col("vec_id"))).head()
    val (fpB, nB) = (if (batchStats.isNullAt(0)) 0L else batchStats.getLong(0),
      batchStats.getLong(1))
    if (nB == 0L) return
    require(nB == batchStats.getLong(2),
      s"append batch has duplicate vec_ids (${nB} rows, " +
        s"${batchStats.getLong(2)} distinct) — assignments are keyed by " +
        "vec_id and duplicates would fan out the read-side join")
    require(nOld + nB - trained <= (maxAppendFrac * trained).toLong,
      s"IVF index at $dir would hold ${nOld + nB - trained} appended rows " +
        s"over a quantizer trained on $trained (cap ${maxAppendFrac} x " +
        "trained) — centroid drift; rebuild with buildIvfIndex")
    val dup = spark.read.parquet(s"$dir/assignments.parquet")
      .join(newVecs.select(col("vec_id")), Seq("vec_id"), "left_semi").count()
    require(dup == 0L,
      s"$dup vec_ids in the append batch already exist in the IVF index at " +
        s"$dir — appends must be id-disjoint (duplicates would fan out the " +
        "read-side assignment join)")
    val centroids = spark.read.parquet(s"$dir/centroids.parquet")
      .as[(Int, Seq[Double])].collect().sortBy(_._1).map(_._2.toArray)
    val bc = spark.sparkContext.broadcast(centroids)
    val listUdf = udf((v: Array[Float]) => nearestCentroidArr(v, bc.value))
    newVecs.select(col("vec_id"), listUdf(col("embedding")).as("lst"))
      .write.mode("append").parquet(s"$dir/assignments.parquet")
    // atomic meta replace: a crash mid-write must leave the OLD meta (the
    // reader then throws on fingerprint mismatch and the index is rebuilt),
    // never a torn half-line that parses as something else
    val tmp = java.nio.file.Paths.get(dir, "._META.json.tmp")
    java.nio.file.Files.writeString(tmp,
      ivfMeta(fpOld ^ fpB, nOld + nB, trained, cfg))
    java.nio.file.Files.move(tmp, ivfMetaPath(dir),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** IVF top-k against a prebuilt [[buildIvfIndex]] index: ZERO training
    * scans — centroids load to the driver (nLists × dim), assignments join
    * the corpus on vec_id (one linear hash join). The corpus fingerprint is
    * re-derived (one agg pass) and must match `_META.json`; a stale index
    * throws rather than silently serving wrong lists. Output is identical
    * to [[ivfTopK]] with the same config (the quantizer is deterministic). */
  def ivfTopKIndexed(corpus: DataFrame, queries: DataFrame, k: Int,
      cfg: IvfConfig, dir: String): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val meta = java.nio.file.Files.readString(ivfMetaPath(dir))
    val (fp, n) = corpusFingerprint(corpus)
    // whole-string compare against the canonical rendering: every field
    // (fingerprint, count, nLists, kmeansIters) must match exactly —
    // kmeansIters changes the centroids, so a mismatched config would
    // silently serve different neighbors than ivfTopK with the same cfg.
    // `trained` is the one field the reader cannot re-derive (it is index
    // history, not corpus state), so it is taken from the stored meta —
    // and the compare still pins every byte around it.
    val trained = parseIvfMeta(meta).map(_._3).getOrElse(-1L)
    require(meta == ivfMeta(fp, n, trained, cfg),
      s"IVF index at $dir does not match this corpus/config " +
        s"(stored ${meta.trim}, expected ${ivfMeta(fp, n, trained, cfg).trim}) — " +
        "rebuild with buildIvfIndex")
    val centroids = spark.read.parquet(s"$dir/centroids.parquet")
      .as[(Int, Seq[Double])].collect().sortBy(_._1).map(_._2.toArray)
    val assignments = spark.read.parquet(s"$dir/assignments.parquet")
    val listed = corpus.join(assignments, Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("lst"))
    ivfScoreTopK(listed, queries, k, cfg, centroids)
  }

  /** Embedding-cosine near-duplicate pairs (cos ≥ threshold) via LSH
    * blocking — the embedding flavor of Dedup.
    *
    * `maxBucket` bounds the per-(table,bucket) O(k^2) pair kernel: a
    * degenerate corpus (many identical embeddings — run [[Dedup.exact]] on
    * content first) would otherwise concentrate quadratic work and memory
    * in single tasks. Rows in over-cap buckets are dropped and OBSERVED
    * under CapMetrics site `similarity.neardup` (`dropped_rows`,
    * `max_bucket`) — never silent, same contract as dedup.minhash/simhash. */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double,
      cfg: LshConfig = LshConfig(), maxBucket: Int = 10000): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // candidate IDs via a PER-BUCKET pair kernel: one (table, bucket)-keyed
    // shuffle of (id, signature) rows, then pairs are generated inside
    // flatMapGroups with the first-collision check INLINE — a pair that
    // already collided in an earlier table is skipped before it ever
    // becomes a row. (The join+filter formulation materialized every
    // per-table duplicate — ~8x the surviving pairs, each carrying two
    // signature arrays — and cost 30+ s at the exhaustive fixture config;
    // the kernel's array compare stops at the first mismatch, ~2 elements
    // average.) Embedding arrays never ride the pair shuffle; quadratic
    // work stays bounded per bucket by the bits/tables choice AND the
    // observed maxBucket cap.
    val keyed = bucketArrays(corpus, "embedding", "vec_id", cfg)
      .select(posexplode(col("bkts")).as(Seq("tbl", "bkt")), col("vec_id"), col("bkts"))
    val pairs = CapMetrics.capBuckets(keyed, "similarity.neardup", maxBucket,
        col("tbl"), col("bkt"))
      .as[(Int, Long, Long, Seq[Long])]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (Int, Long), it: Iterator[(Int, Long, Long, Seq[Long])]) =>
        val tbl = key._1
        val rows = it.toArray
        // unpack ONCE per row (ids + primitive signature arrays) — the
        // quadratic scan below then reads plain fields, not per-(i,j) tuple
        // destructuring and boxed Seq apply
        val n = rows.length
        val ids = new Array[Long](n)
        val sigs = new Array[Array[Long]](n)
        var p = 0
        while (p < n) {
          ids(p) = rows(p)._3
          sigs(p) = rows(p)._4.toArray
          p += 1
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var i = 0
        while (i < n) {
          val idA = ids(i); val bkA = sigs(i)
          var j = i + 1
          while (j < n) {
            val idB = ids(j); val bkB = sigs(j)
            // first common table must be THIS one
            var t = 0
            while (t < tbl && bkA(t) != bkB(t)) t += 1
            if (t == tbl && idA != idB)
              out += (if (idA < idB) (idA, idB) else (idB, idA))
            j += 1
          }
          i += 1
        }
        out
      }
      .toDF("vec_a", "vec_b")
      // spread the id-only pairs before the kernel-heavy exact verify
      // (AQE coalesces the small output; see Dedup.spreadForVerify)
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism * 2,
        col("vec_a"), col("vec_b"))
    // per-vector norms computed ONCE per side (2 rows per vector) instead
    // of per pair: cos = dot(a,b)/(na*nb) with na = sqrt(dot(a,a)) is the
    // IDENTICAL IEEE expression tree as cosineKernel (same dot loop, same
    // sqrt, same multiply/divide order), at a third of the verify flops —
    // the verify kernel runs once per CANDIDATE (near-exhaustive fixture
    // config: ~N^2/2 pairs), the norm once per vector
    val ea = corpus.select(col("vec_id").as("vec_a"), col("embedding").as("e_a"),
      vecNorm(col("embedding")).as("n_a"))
    val eb = corpus.select(col("vec_id").as("vec_b"), col("embedding").as("e_b"),
      vecNorm(col("embedding")).as("n_b"))
    pairs.join(ea, Seq("vec_a")).join(eb, Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        cosineWithNorms(col("e_a"), col("e_b"), col("n_a"), col("n_b")).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
