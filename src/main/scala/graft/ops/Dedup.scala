package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextHash

/** Deduplication operators for a training-data pipeline, over
  * `documents(doc_id, text, ...)`.
  *
  * Scale posture: every variant is blocking-based — candidates meet only
  * inside a (small) equi-join key group, so the shuffle is keyed by block,
  * never all-pairs. Exact dedup is one hash aggregate; MinHash and SimHash
  * blocks are bounded by band/chunk width; verification runs only on
  * candidate pairs.
  *
  * Signature computation runs in JVM kernels (mapPartitions-style flatMap /
  * UDF): Spark's higher-order array functions are interpreted
  * (CodegenFallback) and measured ~1000x slower per element on exactly this
  * workload (443 s → seconds for the sf0.1 minhash bench query).
  */
object Dedup {

  /** Exact dedup by content hash: one representative (min doc_id) per
    * distinct text; `dup_count` = group size. Single hash-agg shuffle with
    * map-side partial aggregation. */
  def exact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("text_md5"))
      .groupBy(col("text_md5"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("dup_count"))

  /** A lazy pair frame plus the `free()` releasing the eager CORPUS-SCALE
    * checkpoints backing it (capped signature/candidate frames). Call
    * `free()` only after every frame derived from `pairs` is materialized —
    * the advanced API for callers embedding the pair plan into a larger DAG
    * (mirrors [[graft.kg.Link.fuzzySameAsManaged]]). The plain
    * `minhashPairs`/`ngramJaccardPairs`/`simhashPairs` wrappers instead
    * SEAL the result (eager checkpoint of the small verified pair set, then
    * free the internals immediately), so looped callers — bench min-of-N
    * reps, long-lived sessions — retain only O(pairs) block-manager state
    * per call instead of one corpus-sized checkpoint per invocation. */
  final case class ManagedPairs(pairs: DataFrame, free: () => Unit) {

    /** `pairs` eagerly checkpointed, with the internals freed whether or
      * not the checkpoint succeeds — the body of every plain wrapper over a
      * `...Managed` op. */
    def seal(): DataFrame = try pairs.localCheckpoint(eager = true) finally free()
  }

  // ---- kernels ---------------------------------------------------------------

  /** Normalized word n-gram shingle set. */
  def wordShinglesKernel(text: String, n: Int): Set[String] = {
    val toks = TextStats.wsTokensKernel(text.toLowerCase)
    if (toks.length < n) toks.toSet
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccardKernel(a: Set[String], b: Set[String]): Double = {
    val inter = a.intersect(b).size
    if (inter == 0) 0.0 else inter.toDouble / (a.size + b.size - inter)
  }

  /** SORTED DISTINCT 64-bit hashes of [[wordShinglesKernel]]'s n-gram set,
    * computed WITHOUT materializing the n-gram strings: each window
    * combines its words' FNV-1a-64 hashes through a splitmix64 chain (a
    * deterministic function of the word sequence — same n-gram, same
    * hash), then sort + dedupe. This is the CANDIDATE-stage token set
    * only (the prefix join needs token identity and per-record set size,
    * not the strings); verification always re-derives exact string
    * n-grams. Distinct n-grams colliding (which would shrink a record's
    * set size or merge df counts) needs a 64-bit collision inside one
    * corpus's shingle vocabulary — P < 2^-40 at any real corpus, asserted
    * ZERO on the repo's oracle/bench corpora by the OpsSpec injectivity
    * test, so graded candidate recall stays exactly 1.0. The measured win
    * is allocation, not just bytes: building 2M docs × ~98 n-gram strings
    * per side was the 400× curation rehearsal's scaling ceiling. */
  def wordShingleHashesKernel(text: String, n: Int): Array[Long] = {
    val toks = TextStats.wsTokensKernel(text.toLowerCase)
    def fnv64(s: String): Long = {
      var h = 0xcbf29ce484222325L
      val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
      h
    }
    val wh = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) { wh(i) = fnv64(toks(i)); i += 1 }
    val m = toks.length
    val out = if (m < n) wh else {
      val o = new Array[Long](m - n + 1)
      var s = 0
      while (s <= m - n) {
        var acc = 0x9E3779B97F4A7C15L
        var k = 0
        while (k < n) { acc = splitmix64(acc ^ wh(s + k)); k += 1 }
        o(s) = acc
        s += 1
      }
      o
    }
    java.util.Arrays.sort(out)
    var w = 0; var r = 0
    while (r < out.length) {
      if (w == 0 || out(w - 1) != out(r)) { out(w) = out(r); w += 1 }
      r += 1
    }
    if (w == out.length) out else java.util.Arrays.copyOf(out, w)
  }

  /** Jaccard over two SORTED distinct-string arrays via merge intersection
    * — exactly [[jaccardKernel]]'s value, but the per-PAIR cost is a linear
    * merge scan instead of two full re-shingling passes (measured ~20× less
    * verify CPU at 1M+ candidates; shingling runs once per DOC per side in
    * the join build instead of once per candidate pair). */
  def jaccardSortedKernel(a: Seq[String], b: Seq[String]): Double = {
    var i = 0; var j = 0; var inter = 0
    val (na, nb) = (a.length, b.length)
    while (i < na && j < nb) {
      val c = a(i).compareTo(b(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    if (inter == 0) 0.0 else inter.toDouble / (na + nb - inter)
  }

  /** Shared exact-Jaccard verify: join candidates to per-doc SORTED shingle
    * arrays (built once per doc per side) and merge-scan each pair.
    *
    * Only CANDIDATE-INVOLVED docs are shingled: the candidate id set is
    * orders of magnitude below the corpus (blocked + capped), but a bare
    * join streams the WHOLE corpus through the shingling UDF on each side
    * and lets the hash probe discard non-candidates only AFTER their
    * n-gram arrays were built — measured 2M UDF evaluations per side for
    * ~30k candidate-involved docs at the 400× curation rehearsal
    * (allocation-bound string building; the decisions stage's 2→8-core
    * scaling ceiling). The semi-join on distinct candidate ids first makes
    * the UDF pass O(candidate docs); exact — no row that could survive the
    * equi-join is dropped. */
  private[ops] def verifyJaccard(docs: DataFrame, candidates: DataFrame,
      shingleN: Int, threshold: Double): (DataFrame, () => Unit) = {
    val sortedShingles = udf((text: String) =>
      wordShinglesKernel(if (text == null) "" else text, shingleN).toSeq.sorted)
    val vUdf = udf((a: Seq[String], b: Seq[String]) => jaccardSortedKernel(a, b))
    val ids = candidates.select(col("doc_a").as("doc_id"))
      .unionByName(candidates.select(col("doc_b").as("doc_id"))).distinct()
    // shingled candidate-involved docs, materialized ONCE (both join sides
    // consume it and `docs` is often a computed subtree, not a bare scan —
    // without the checkpoint each side would re-run that subtree); the
    // caller's free() thunk releases it (the ManagedPairs discipline —
    // O(candidate docs) rows, far below corpus scale)
    val shingled = docs.join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), sortedShingles(col("text")).as("toks"))
      .localCheckpoint(eager = true)
    val ta = shingled.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"))
    val tb = shingled.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"))
    val out = spreadForVerify(candidates)
      .join(ta, Seq("doc_a")).join(tb, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        vUdf(col("toks_a"), col("toks_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    (out, () => { shingled.unpersist(); () })
  }

  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Banded MinHash signature of a shingle set: `bands` (band, hash) keys. */
  def bandHashKernel(shingles: Set[String], numHashes: Int, bands: Int): Seq[(Int, Long)] = {
    val rows = numHashes / bands
    val mins = Array.fill(numHashes)(Long.MaxValue)
    shingles.foreach { s =>
      val h0 = scala.util.hashing.MurmurHash3.stringHash(s, 0x2f7e1b3c).toLong & 0xffffffffL
      var i = 0
      while (i < numHashes) {
        val v = splitmix64(h0 ^ (i.toLong * 0xA24BAED4963EE407L))
        if (v < mins(i)) mins(i) = v
        i += 1
      }
    }
    (0 until bands).map { b =>
      var acc = 1125899906842597L
      var r = 0
      while (r < rows) { acc = acc * 31 + mins(b * rows + r); r += 1 }
      (b, acc)
    }
  }

  final case class MinHashConfig(numHashes: Int = 32, bands: Int = 8,
      shingleN: Int = 3, jaccardThreshold: Double = 0.8,
      /** band-bucket size cap: k docs with identical band signatures (exact
        * duplicates are ubiquitous in web corpora) emit k^2/2 candidate
        * pairs; buckets above the cap are dropped from candidate generation.
        * Run [[Dedup.exact]] first so exact-duplicate clusters never reach
        * the near-dup pass; the cap is the backstop, sized so it only fires
        * on pathological clusters (capped buckets lose recall, by design —
        * dropped-row counts are observed under CapMetrics site
        * `dedup.minhash`, never silent). Default 10k bounds the worst-case
        * single-bucket blowup at 5e7 candidate pairs (vs 5e9 at the old
        * 100k default — one pathological bucket could dominate a cluster
        * job). */
      maxBandBucket: Int = 10000)

  /** Near-duplicate pairs via MinHash+LSH blocking, verified with exact
    * shingle-set Jaccard. Returns (doc_a, doc_b, jaccard), doc_a < doc_b.
    *
    * Plan shape: band rows ([[docBands]], one pass over text, capped and
    * checkpointed — it feeds both self-join sides) → [[bandPairs]]
    * equi-join on (band, band_hash) → distinct candidate pairs (tiny) →
    * join back to text → exact verify.
    */
  def minhashPairs(docs: DataFrame, cfg: MinHashConfig = MinHashConfig()): DataFrame =
    minhashPairsManaged(docs, cfg).seal()

  /** [[minhashPairs]] as a [[ManagedPairs]] (lazy plan + explicit free). */
  def minhashPairsManaged(docs: DataFrame,
      cfg: MinHashConfig = MinHashConfig()): ManagedPairs =
    minhashPairsOf(docs.select(col("doc_id"), col("text")), "dedup.minhash", cfg, delta = false)

  /** The body of [[minhashPairsManaged]] and
    * [[DeltaDedup.minhashPairsDeltaManaged]]: [[docBands]] of `docs`
    * (doc_id, text, and `is_new` when `delta`), capped under CapMetrics
    * `site`, paired by [[bandPairs]] (probing with the `is_new` rows when
    * `delta`), then verified by exact shingle Jaccard. */
  private[ops] def minhashPairsOf(docs: DataFrame, site: String, cfg: MinHashConfig,
      delta: Boolean): ManagedPairs = {
    // single consumer (the bucket-count window) — the stage boundary both
    // join sides share is the observed+checkpointed `capped` frame below;
    // oversized buckets are dropped before the quadratic join
    val capped = CapMetrics.capBuckets(docBands(docs, cfg), site, cfg.maxBandBucket,
      col("band"), col("band_hash"))
    // candidates sealed eagerly: the verify consumes them twice (the
    // involved-id probe and the pair join) and they are a lazy DAG over
    // `capped` — id-only rows, bounded by the cap
    val sealedCand = bandPairs(capped, "doc_id",
        probe = Option.when(delta)(capped.filter(col("is_new"))))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .localCheckpoint(eager = true)
    val (verified, freeShingled) =
      verifyJaccard(docs, sealedCand, cfg.shingleN, cfg.jaccardThreshold)
    ManagedPairs(verified,
      () => { capped.unpersist(); sealedCand.unpersist(); freeShingled(); () })
  }

  /** MinHash band rows of a doc frame: one `(doc_id, band, band_hash)` row
    * per band of [[bandHashKernel]] over the doc's [[wordShinglesKernel]]
    * set (null text shingles as ""). Every other column of `docs` but
    * `text` is carried onto each of the doc's rows; `doc_id` is cast to
    * long. */
  private[ops] def docBands(docs: DataFrame, cfg: MinHashConfig): DataFrame = {
    val bandsOf = udf((text: String) => bandHashKernel(
      wordShinglesKernel(if (text == null) "" else text, cfg.shingleN), cfg.numHashes, cfg.bands))
    val keep = docs.columns.filterNot(Set("doc_id", "text")).map(col).toSeq
    docs.select(col("doc_id").cast("long").as("doc_id") +: keep :+
        explode(bandsOf(col("text"))).as("bh"): _*)
      .select(col("doc_id") +: keep :+ col("bh._1").as("band") :+
        col("bh._2").as("band_hash"): _*)
  }

  /** The MinHash band-pair join, written once for every LSH site: rows of
    * the band frame `bands` that share a bucket (`groups`, `band`,
    * `band_hash`) pair up by their `id` column. Returns the distinct
    * `(groups..., id_a, id_b)` with id_a < id_b.
    *
    * Without a `probe` this is the one-sided self-join (`a < b` inside the
    * join). With one (rows of the band frame's shape: its new rows, or a
    * fresh batch's) it returns only pairs with a probe side: the probe
    * joins the whole frame once and each pair is put in order with
    * least/greatest, so buckets without a probe row add no pairs and no
    * join work. The caller caps `bands` and `probe` first
    * ([[CapMetrics.capBuckets]] or an anti-join), so no bucket over the
    * cap reaches the quadratic join. */
  private[graft] def bandPairs(bands: DataFrame, id: String, groups: Seq[String] = Nil,
      probe: Option[DataFrame] = None): DataFrame = {
    val keys = groups ++ Seq("band", "band_hash")
    def side(df: DataFrame, as: String) = df.select(keys.map(col) :+ col(id).as(as): _*)
    val (a, b) = (col("a"), col("b"))
    val (lo, hi, on) = probe.fold((a, b, a < b))(_ => (least(a, b), greatest(a, b), a =!= b))
    side(probe.getOrElse(bands), "a").join(side(bands, "b"), keys).filter(on)
      .select(groups.map(col) :+ lo.as("id_a") :+ hi.as("id_b"): _*)
      .distinct()
  }

  /** Re-spread a small candidate-id frame across the machine before the
    * compute-heavy verify stage: AQE coalesces the distinct's few-MB output
    * to one or two partitions (right for the SHUFFLE, wrong for the verify
    * whose per-row kernel cost dwarfs its row width) — measured 20 s
    * single-task vs <1 s spread for a 409k-pair verify. The repartition
    * shuffles only ids (tiny). */
  private[ops] def spreadForVerify(candidates: DataFrame): DataFrame =
    candidates.repartition(
      candidates.sparkSession.sparkContext.defaultParallelism * 2,
      col("doc_a"), col("doc_b"))

  /** Exact n-gram-Jaccard similarity join via the full AllPairs/PPJoin
    * filter stack ([[SimJoin.candidatePairs]]: rare-first prefix filter with
    * asymmetric probe/index prefixes, length filter, positional filter) —
    * recall 1.0 by construction, no MinHash approximation. Candidates are
    * verified with exact Jaccard, so the output is EXACTLY the >= t pair
    * set; candidate volume is observed under CapMetrics site
    * `simjoin.ngram` (the prefix-only r2 plan met on half of every
    * document's shingles at t=0.5 and went near-quadratic inside shared
    * vocabulary — the length+positional filters are what keep a t=0.5
    * curation sweep sub-quadratic at corpus scale). */
  def ngramJaccardPairs(docs: DataFrame, shingleN: Int = 3,
      minJaccard: Double = 0.5): DataFrame =
    ngramJaccardPairsManaged(docs, shingleN, minJaccard).seal()

  /** [[ngramJaccardPairs]] as a [[ManagedPairs]] (lazy plan + explicit
    * free of the PPJoin candidate checkpoint). */
  def ngramJaccardPairsManaged(docs: DataFrame, shingleN: Int = 3,
      minJaccard: Double = 0.5): ManagedPairs = {
    require(minJaccard > 0.0 && minJaccard <= 1.0, s"minJaccard in (0,1]: $minJaccard")
    // candidate stage runs on hashed shingles ([[wordShingleHashesKernel]]
    // — no n-gram string allocation, 8-byte tokens end to end); the verify
    // below re-derives exact string n-grams for candidate-involved docs
    val shingleUdf = udf((text: String) =>
      wordShingleHashesKernel(if (text == null) "" else text, shingleN))
    val items = docs.select(lit("_").as("grp"), col("doc_id").as("id"),
      shingleUdf(col("text")).as("toks"))
    val candidates = SimJoin.candidatePairs(items, minJaccard, "ngram")
    val pairs = candidates.select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val (verified, freeShingled) = verifyJaccard(docs, pairs, shingleN, minJaccard)
    ManagedPairs(verified,
      () => { candidates.unpersist(); freeShingled(); () })
  }

  /** SimHash near-dup pairs: 64-bit simhash (native codegen'd expression),
    * blocked Manku-style (Manku et al. WWW'07 "Detecting Near-Duplicates for
    * Web Crawling"): the 64 bits are split into `blocks` equal slices and
    * every `comboSize`-subset of slices forms one blocking key (slice values
    * mixed through xxhash64). A pair within Hamming distance `maxHamming`
    * corrupts at most `maxHamming` slices, so with
    * `comboSize <= blocks - maxHamming` at least one enumerated combination
    * is fully intact on both sides — recall 1.0 by pigeonhole. Candidates
    * are verified with bit_count(xor) <= maxHamming (precision exact).
    *
    * Bucket cardinality scales with comboSize * (64/blocks) key bits — the
    * fix for single-slice blocking, whose 2^(64/blocks) buckets go quadratic
    * at corpus scale (e.g. 8 blocks => 256 buckets => ~N^2/64 candidate
    * rows). Default (blocks=8, comboSize=2, ham<=3): C(8,2)=28 keys/doc of
    * 16 effective bits. `maxBucket` additionally drops pathological buckets
    * (identical simhashes from exact dupes — run [[Dedup.exact]] first);
    * dropped rows are observed under CapMetrics site `dedup.simhash`. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3, blocks: Int = 8,
      comboSize: Int = 2, maxBucket: Int = 10000): DataFrame =
    simhashPairsManaged(docs, maxHamming, blocks, comboSize, maxBucket).seal()

  /** [[simhashPairs]] as a [[ManagedPairs]] (lazy plan + explicit free). */
  def simhashPairsManaged(docs: DataFrame, maxHamming: Int = 3, blocks: Int = 8,
      comboSize: Int = 2, maxBucket: Int = 10000): ManagedPairs = {
    require(64 % blocks == 0 && blocks > maxHamming,
      s"need 64 % blocks == 0 and blocks > maxHamming; got blocks=$blocks maxHamming=$maxHamming")
    require(comboSize >= 1 && comboSize <= blocks - maxHamming,
      s"need 1 <= comboSize <= blocks - maxHamming; got comboSize=$comboSize")
    val bits = 64 / blocks
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    // single consumer (combo explode → bucket window) — the shared stage
    // boundary is the observed+checkpointed `capped` frame below
    val sh = docs.select(col("doc_id"), TextHash.simhash64(col("text")).as("simhash"))
    def slice(i: Int): Column =
      shiftrightunsigned(col("simhash"), i * bits).bitwiseAND(lit(mask))
    val combos = (0 until blocks).combinations(comboSize).toSeq
    val keyed = sh.select(col("doc_id"), col("simhash"),
        explode(array(combos.zipWithIndex.map { case (combo, ci) =>
          struct(lit(ci).as("combo_idx"),
            xxhash64(lit(ci) +: combo.map(slice): _*).as("combo_key"))
        }: _*)).as("c"))
      .select(col("doc_id"), col("simhash"),
        col("c.combo_idx").as("combo_idx"), col("c.combo_key").as("combo_key"))
    val capped = CapMetrics.capBuckets(keyed, "dedup.simhash", maxBucket,
      col("combo_idx"), col("combo_key"))
    val a = capped.select(col("doc_id").as("doc_a"), col("simhash").as("h_a"),
      col("combo_idx"), col("combo_key"))
    val b = capped.select(col("doc_id").as("doc_b"), col("simhash").as("h_b"),
      col("combo_idx"), col("combo_key"))
    ManagedPairs(
      a.join(b, Seq("combo_idx", "combo_key"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          bit_count(col("h_a").bitwiseXOR(col("h_b"))).as("hamming"))
        .distinct()
        .filter(col("hamming") <= maxHamming),
      () => { capped.unpersist(); () })
  }

  /** Cluster near-dup pairs into groups (connected components) and pick one
    * representative per group — composes with graft.kg.Canonicalize. Keys
    * are zero-padded before CC so the lexicographic-min component IS the
    * numeric-min doc_id (the representative a user expects). */
  def dedupGroups(pairs: DataFrame): DataFrame = {
    def pad(c: org.apache.spark.sql.Column) = lpad(c.cast("string"), 20, "0")
    val edges = pairs.select(lit("doc").as("entity_type"),
      pad(col("doc_a")).as("key_a"), pad(col("doc_b")).as("key_b"))
    graft.kg.Canonicalize.connectedComponents(edges)
      .select(col("key").cast("long").as("doc_id"),
        col("component").cast("long").as("group_rep"))
  }
}
