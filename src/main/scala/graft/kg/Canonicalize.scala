package graft.kg

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** S6 — connected-components entity resolution.
  *
  * The reference's Disjoint Watcher / Disjoint Resolver
  * (`docs/diagrams/megamind.drawio:88,113`) partition entities into
  * same-entity classes and collapse each class to one canonical id. Here:
  * min-key labels over the same-as edge set, computed by one of two
  * strategies chosen by measured edge count (the same adaptive posture as
  * Spark's own broadcast-join threshold):
  *
  *  - '''Small edge set''' (fits [[graft.SizeGate]]): union-find on the
  *    driver. Same-as edges are a similarity-join OUTPUT — pairs of distinct
  *    entity keys judged equal — which is orders of magnitude smaller than
  *    the corpus; below the threshold the DataFrame loop's per-iteration job
  *    overhead dwarfs the work (measured: 12-34 s vs <1 s at bench scale).
  *  - '''Large edge set''': min-label propagation expressed as DataFrame
  *    iterations (join + groupBy-min per round, `localCheckpoint` to
  *    truncate lineage, convergence detected by an aggregate — no data ever
  *    collected to the driver). Label propagation converges in
  *    O(component diameter) rounds; entity-resolution components are
  *    shallow (surface variants of one real entity). For adversarially deep
  *    chains the large-star/small-star algorithm (Kiveris et al. 2014) is
  *    the drop-in replacement.
  *
  * Both strategies produce identical output (property-tested): one row per
  * distinct key, labeled with the min key of its component in Spark's
  * string order. The Disjoint Resolver's driver lane
  * ([[Incremental.resolveDisjoint]]) skips the DataFrame round trip: it
  * verifies its same-as pairs on the driver, hands them straight to the
  * union-find ([[componentMap]]) and rewrites from the map it returns.
  */
object Canonicalize {

  val outputSchema: StructType = StructType(Seq(
    StructField("entity_type", StringType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("component", StringType, nullable = false)))

  /** Input: edge list (entity_type, key_a, key_b); undirected semantics.
    * Output: (entity_type, key, component).
    *
    * Driver strategy is gated on BOTH row count and string length: the
    * checkpoint that materializes the edge set counts it and sums its string
    * lengths, and `collect()` happens only when their driver heap cost fits
    * [[graft.SizeGate]] (same-as edges are a similarity-join OUTPUT, orders of
    * magnitude smaller than the corpus, and the distributed star path's
    * per-iteration driver scheduling overhead is a measured
    * scaling-efficiency tax, so the driver path is preferred while it
    * safely fits). */
  def connectedComponents(sameAs: DataFrame): DataFrame = {
    val spark = sameAs.sparkSession
    val fwd = sameAs.select(col("entity_type"), col("key_a").as("src"), col("key_b").as("dst"))
    val edges = fwd.unionByName(
      fwd.select(col("entity_type"), col("dst").as("src"), col("src").as("dst")))
      .distinct()
    // Materialize the (small) same-as edge set once, then decide strategy
    // from the size its checkpoint measured. (A limit+collect probe would
    // re-run the whole upstream similarity join once per CollectLimit
    // scale-up round — measured 8x slower than checkpoint+count.)
    val (cp, fits) = checkpointEdges("canonicalize", edges, "entity_type", "src", "dst")
    if (fits)
      componentsOnDriver(spark,
        cp.collect().iterator.map(r => (r.getString(0), r.getString(1), r.getString(2))))
    else labelsByStar(cp)
  }

  /** The string edge rows `edges`, checkpointed, and whether they fit the
    * driver — priced per row (the Row, its Strings, the (type, key) tuples
    * and their union-find and vertex-set entries) and per character of
    * `cols`, both measured by the checkpoint job. */
  private[kg] def checkpointEdges(site: String, edges: DataFrame,
      cols: String*): (DataFrame, Boolean) = {
    val graft.SizeGate.Sized(cp, rows, Seq(chars)) =
      graft.SizeGate.checkpoint(edges, cols.map(c => length(col(c))).reduce(_ + _))
    (cp, graft.SizeGate.fits(site, rows, rows * 384L + chars * 2L))
  }

  /** Spark's string order (unsigned UTF-8 bytes — what `<` and `min` compare
    * on a StringType column). Java's `compareTo` orders UTF-16 code units,
    * which disagrees for supplementary vs U+E000..U+FFFF characters; the
    * driver lanes use this so they pick the same min key as the
    * distributed ones. */
  private[kg] def utf8Less(a: String, b: String): Boolean = utf8Compare(a, b) < 0

  /** The three-way form of [[utf8Less]]. */
  private[kg] def utf8Compare(a: String, b: String): Int =
    if (a == b) 0 else UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))

  /** Union-find on the driver over same-as pairs `(entity_type, key_a,
    * key_b)` (undirected; duplicates and either orientation allowed): one
    * `(entity_type, key, component)` per key in a pair, labeled with its
    * component's min key, in key order. The resolver's driver lane
    * ([[Incremental.resolveDisjoint]]) rewrites from this map directly. */
  private[kg] def componentMap(
      pairs: IterableOnce[(String, String, String)]): Seq[(String, String, String)] = {
    val parent = mutable.Map.empty[(String, String), (String, String)]
    // iterative find (walk to root, then compress): the recursive form
    // overflows the driver stack on an adversarially ordered long chain
    // (O(n)-deep parent links before compression kicks in)
    def find(x: (String, String)): (String, String) = {
      var root = x
      var p = parent.getOrElse(root, root)
      while (p != root) { root = p; p = parent.getOrElse(root, root) }
      var cur = x
      while (cur != root) { val next = parent(cur); parent(cur) = root; cur = next }
      root
    }
    val verts = mutable.Set.empty[(String, String)]
    pairs.iterator.foreach { case (et, ka, kb) =>
      val a = (et, ka)
      val b = (et, kb)
      verts += a += b
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (utf8Less(ra._2, rb._2)) parent(rb) = ra else parent(ra) = rb }
    }
    verts.toSeq.sorted.map(k => (k._1, k._2, find(k)._2))
  }

  /** [[componentMap]] as an [[outputSchema]] frame (the small-edge-set lane
    * above). */
  private[kg] def componentsOnDriver(spark: SparkSession,
      pairs: IterableOnce[(String, String, String)]): DataFrame =
    spark.createDataFrame(componentMap(pairs).map(Row.fromTuple).asJava, outputSchema)

  // star rounds before labelsByStar stops: the rounds are O(log n), so 25
  // cover any edge set a cluster holds
  private val MaxStarRounds = 25

  /** Alternating large-star / small-star (Kiveris et al. 2014, "Connected
    * Components in MapReduce and Beyond") — converges in O(log n) rounds
    * even on path graphs (vs O(diameter) for naive label propagation), each
    * round two groupBy-min + join shuffles. The edge set contracts toward a
    * star per component rooted at its minimum key; labels fall out of the
    * final stars.
    */
  private def labelsByStar(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    val vertices = edges.select($"entity_type", $"src".as("key")).distinct()
      .localCheckpoint(eager = true)

    // canonical undirected form: u < v
    var e = edges
      .select($"entity_type", least($"src", $"dst").as("u"), greatest($"src", $"dst").as("v"))
      .filter($"u" =!= $"v")
      .distinct()
      .localCheckpoint(eager = true)

    def checksum(df: DataFrame): (Long, Long) = {
      // bit_xor: order-independent and overflow-free (ANSI mode forbids a
      // plain sum of 64-bit hashes)
      val r = df.agg(count(lit(1)), bit_xor(xxhash64($"entity_type", $"u", $"v"))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // large-star: every neighbor larger than `node` links to the group min
    def largeStar(cur: DataFrame): DataFrame = {
      val d = cur.select($"entity_type", $"u".as("node"), $"v".as("nbr"))
        .unionByName(cur.select($"entity_type", $"v".as("node"), $"u".as("nbr")))
      val m = d.groupBy($"entity_type", $"node")
        .agg(least(min($"nbr"), $"node").as("m"))
      d.filter($"nbr" > $"node")
        .join(m, Seq("entity_type", "node"))
        .select($"entity_type", $"m".as("u"), $"nbr".as("v"))
        .filter($"u" =!= $"v")
        .distinct()
    }

    // small-star: every smaller neighbor (and the node) links to the min
    def smallStar(cur: DataFrame): DataFrame = {
      val m = cur.groupBy($"entity_type", $"v")
        .agg(min($"u").as("m"))
      val withM = cur.join(m, Seq("entity_type", "v"))
      val a = withM.select($"entity_type", $"m".as("u"), $"u".as("v"))
      val b = withM.select($"entity_type", $"m".as("u"), $"v")
      a.unionByName(b)
        .filter($"u" =!= $"v")
        .select($"entity_type", least($"u", $"v").as("u"), greatest($"u", $"v").as("v"))
        .distinct()
    }

    var cs = checksum(e)
    var iter = 0
    var converged = false
    while (iter < MaxStarRounds && !converged) {
      val next = smallStar(largeStar(e)).localCheckpoint(eager = true)
      val ncs = checksum(next)
      e.unpersist()
      e = next
      converged = ncs == cs
      cs = ncs
      iter += 1
    }

    // converged stars are (root=u, member=v); isolated originals label self
    val memberLabels = e.select($"entity_type", $"v".as("key"), $"u".as("component"))
    val rootLabels = e.select($"entity_type", $"u".as("key"), $"u".as("component"))
    val selfLabels = vertices.select($"entity_type", $"key", $"key".as("component"))
    val out = memberLabels.unionByName(rootLabels).unionByName(selfLabels)
      .groupBy($"entity_type", $"key")
      .agg(min($"component").as("component"))
    vertices.unpersist()
    out
  }
}
