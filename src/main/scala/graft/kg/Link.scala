package graft.kg

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Model._

/** S4/S5 — entity linking: surface-form mentions → canonical keys → GUIDs.
  *
  * Spark realization of the reference's Entity Registry ("Lookup by TUID",
  * `docs/diagrams/megamind.drawio:55-58`) + the north rule's "blocked
  * similarity joins (MinHash/LSH blocking + broadcast dictionary join for hot
  * entities)". Three tiers, cheapest first:
  *
  *  1. '''Normalization''' (free, per-row expression): lowercase, trim,
  *     collapse whitespace — removes case/spacing jitter with zero shuffle.
  *  2. '''Broadcast dictionary join''': a curated (hot-entity) alias table
  *     `(entity_type, variant_norm, canonical_norm)` broadcast to every task —
  *     the high-frequency path never shuffles (megamind's Cacher/etcd analog).
  *  3. '''MinHash-LSH fuzzy matching''' over character-3-gram shingles:
  *     band signatures are exploded into `(type, band_idx, band_hash)` keys
  *     and candidate pairs found by an equi-join on those keys — a blocked
  *     similarity join Catalyst executes as a plain shuffle join (AQE-visible,
  *     skew-splittable). Candidates are verified with exact Jaccard ≥ τ, so
  *     blocking only affects recall, never precision. Fuzzy pairs become
  *     same-as edges for connected-components canonicalization.
  *
  * GUIDs are minted content-derived — `sha2(type|canonical_key, 256)` —
  * so linking is idempotent across reruns and batches (no sequence, no
  * random state): the Spark analog of megamind's deterministic convergence.
  */
object Link {

  final case class Config(
      fuzzy: Boolean = true,
      /** same-as discovery strategy: MinHash/LSH blocking (false, default —
        * cheapest, recall governed by numHashes/bands) or the exact
        * AllPairs/PPJoin prefix-filter join (true — recall 1.0 by
        * construction, so the fuzzy merge set is DETERMINISTIC: exactly the
        * pairs with shingle-Jaccard >= threshold; the right choice when
        * convergence must be provable, e.g. the Disjoint-Resolver compaction
        * [[Incremental.resolveDisjoint]]). */
      exactSameAs: Boolean = false,
      numHashes: Int = 24,
      bands: Int = 8, // rows-per-band = numHashes / bands
      jaccardThreshold: Double = 0.7,
      /** entity types eligible for fuzzy matching (id-like types such as
        * Order must never fuzzy-merge: "1" vs "2" are distinct entities). */
      fuzzyTypes: Seq[String] = Seq("Person", "Org", "City", "Nation"),
      /** LSH band-bucket size cap: a bucket of k identical signatures (exact-
        * duplicate surface forms are ubiquitous in web data) would emit k^2/2
        * candidate pairs; buckets larger than this are dropped from candidate
        * generation (keys are identical-normalized anyway only when truly
        * equal, and equal keys never need a fuzzy edge). */
      maxBandBucket: Int = 10000,
      /** Registry-size gates for the labeling broadcast hint: Pipeline hints
        * broadcast only when the measured registry is at or below BOTH
        * limits (rows, and raw string bytes estimated in the same agg pass —
        * the broadcast hash relation costs ~3-4x the raw bytes). Above them
        * the join is left to the planner/AQE, which picks a shuffle join —
        * an explicit hint would OVERRIDE autoBroadcastJoinThreshold and is
        * never demoted, so a billion-entity registry would OOM. Defaults
        * allow a few-hundred-MB broadcast (executors at this tier run
        * multi-GB heaps; measured: a 1.7M-row / ~180 MB registry broadcast
        * beats the 50M-triple shuffle join it replaces). */
      maxBroadcastRegistryRows: Long = 4000000L,
      maxBroadcastRegistryBytes: Long = 256L * 1024 * 1024)

  /** lowercase + trim + collapse internal whitespace. */
  def normKey(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** GUID mint — deterministic, content-derived (SURVEY §2.2-S5). */
  def guidFor(entityType: Column, canonicalKey: Column): Column =
    sha2(concat(entityType, lit("|"), canonicalKey), 256)

  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  /** [[normKey]] in plain Scala, equal to it on every string: `\s+` (Java's
    * six ASCII whitespace characters) collapses to one space, only U+0020
    * is trimmed (Spark's `trim`; Java's also strips U+0000-U+001F), and
    * the result is lower-cased by ICU in the default locale, as Spark's
    * `lower` does under its default `spark.sql.icu.caseMappings.enabled`
    * (the JDK's `toLowerCase` lags ICU's Unicode version). */
  def normKeyScala(s: String): String = {
    val c = Whitespace.matcher(s).replaceAll(" ")
    var (b, e) = (0, c.length)
    while (b < e && c.charAt(b) == ' ') b += 1
    while (e > b && c.charAt(e - 1) == ' ') e -= 1
    com.ibm.icu.lang.UCharacter.toLowerCase(c.substring(b, e))
  }
  def guidForScala(entityType: String, canonicalKey: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$entityType|$canonicalKey".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** All distinct mentions `(entity_type, norm_key)` in a raw-triple frame —
    * both subject side and entity-object side. */
  def mentions(raw: DataFrame): DataFrame = {
    val subj = raw.select(col("subj_type").as("entity_type"),
      normKey(col("subj_tuid")).as("norm_key"))
    val obj = raw.filter(col("obj_kind") === ObjKind.Subject)
      .select(col("obj_type").as("entity_type"), normKey(col("obj_tuid")).as("norm_key"))
    // partial-agg dedupe on each side before the union keeps the shuffle small
    subj.unionByName(obj).distinct()
  }

  /** Tier-2: apply the broadcast alias dictionary.
    * dict columns: entity_type, variant_norm, canonical_norm. */
  def applyDict(ments: DataFrame, dict: DataFrame): DataFrame =
    ments.join(broadcast(dict),
        ments("entity_type") === dict("entity_type") &&
          ments("norm_key") === dict("variant_norm"), "left")
      .select(ments("entity_type"), ments("norm_key"),
        coalesce(dict("canonical_norm"), ments("norm_key")).as("dict_key"))

  /** A dict frame (the [[applyDict]] columns) collected for the driver
    * lane: `(entity_type, variant_norm)` to the distinct `canonical_norm`
    * values of its rows (null kept: [[applyDict]] coalesces it to the
    * mention's own key). Rows with a null join key never match and are
    * left out. */
  private[kg] def dictOnDriver(dict: DataFrame): Map[(String, String), Seq[String]] =
    dict.select("entity_type", "variant_norm", "canonical_norm").collect().toSeq
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .groupMap(r => (r.getString(0), r.getString(1)))(_.getString(2))
      .map { case (k, cs) => k -> cs.distinct }

  // -- Tier-3: MinHash-LSH ----------------------------------------------------

  /** Character 3-gram shingle set of a normalized key (deterministic). */
  def shingles(s: String): Set[String] =
    if (s.length < 3) Set(s) else s.sliding(3).toSet

  private val TrigramTag = 1L << 48

  /** [[shingles]] packed injectively into longs, SORTED DISTINCT, for
    * EVERY input string: a trigram's 3 UTF-16 code units occupy the low 48
    * bits (c0<<32 | c1<<16 | c2) under a length-tag bit 2^48; a key shorter
    * than 3 chars packs whole as (length<<32 | its code units), below 2^34
    * and so disjoint from every tagged trigram. Without the tag the trigram
    * (NUL, 'a', 'b') packed equal to the short key "ab".
    * Injective ⇒ the distinct COUNT equals `shingles(s).size` and set
    * intersections map 1:1 — jaccard over packed arrays is the identical
    * integer ratio (and so the identical IEEE double) as over the string
    * sets. Longs keep the exploded PPJoin token shuffle narrow (8 bytes vs
    * a 3-char UTF8 string row) and make the per-pair verify a primitive
    * merge scan (no string compares, no per-element boxing). */
  def shinglesPacked(s: String): Array[Long] = {
    val n = s.length - 2
    if (n <= 0) {
      var v = 0L; var i = 0
      while (i < s.length) { v = (v << 16) | s.charAt(i).toLong; i += 1 }
      Array((s.length.toLong << 32) | v)
    } else {
      val out = new Array[Long](n)
      var i = 0
      while (i < n) {
        out(i) = TrigramTag | (s.charAt(i).toLong << 32) |
          (s.charAt(i + 1).toLong << 16) | s.charAt(i + 2).toLong
        i += 1
      }
      java.util.Arrays.sort(out)
      var w = 0; var r = 0
      while (r < n) { if (w == 0 || out(w - 1) != out(r)) { out(w) = out(r); w += 1 }; r += 1 }
      if (w == n) out else java.util.Arrays.copyOf(out, w)
    }
  }

  /** Jaccard over two SORTED distinct packed-shingle arrays — the primitive
    * mirror of [[graft.ops.Dedup.jaccardSortedKernel]]: same integer
    * intersection/union counts, same division. */
  def jaccardPackedKernel(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    val (na, nb) = (a.length, b.length)
    while (i < na && j < nb) {
      val x = a(i); val y = b(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    if (inter == 0) 0.0 else inter.toDouble / (na + nb - inter)
  }

  def jaccard(a: String, b: String): Double = {
    val (sa, sb) = (shingles(a), shingles(b))
    val inter = sa.intersect(sb).size
    if (inter == 0) 0.0 else inter.toDouble / (sa.size + sb.size - inter)
  }

  /** Stateless MinHash band signature. Hand-rolled rather than
    * `spark.ml.feature.MinHashLSH`: plain long arithmetic over string hash
    * codes avoids mllib's Vector boxing and keeps this a codegen-friendly
    * column pipeline after the flatMap.
    */
  def bandSignature(key: String, numHashes: Int, bands: Int): Seq[(Int, Long)] = {
    val sh = shingles(key)
    val rowsPerBand = numHashes / bands
    val mins = Array.fill(numHashes)(Long.MaxValue)
    sh.foreach { g =>
      val h0 = scala.util.hashing.MurmurHash3.stringHash(g, 0x9747b28c).toLong & 0xffffffffL
      var i = 0
      while (i < numHashes) {
        // universal hashing: h_i(x) = a_i * x + b_i mod p (p = 2^61 - 1)
        val a = 0x5DEECE66DL * (i + 1) + 11L
        val b = 0x2545F4914F6CDD1DL ^ (i * 0x9E3779B97F4A7C15L)
        val v = (a * h0 + b) & 0x1fffffffffffffffL
        if (v < mins(i)) mins(i) = v
        i += 1
      }
    }
    (0 until bands).map { bi =>
      var acc = 1125899906842597L
      var r = 0
      while (r < rowsPerBand) {
        acc = acc * 31 + mins(bi * rowsPerBand + r)
        r += 1
      }
      (bi, acc)
    }
  }

  /** Fuzzy same-as discovery: blocked candidate pairs + exact-Jaccard
    * verification. Returns (entity_type, key_a, key_b) with key_a < key_b.
    * Blocking is MinHash/LSH by default, or the exact prefix-filter join
    * when [[Config.exactSameAs]] is set (recall 1.0 — output is exactly the
    * >= threshold pair set). */
  def fuzzySameAs(keys: DataFrame, cfg: Config): DataFrame =
    sameAsImpl(keys.withColumn("is_new", lit(true)), cfg, delta = false)._1

  /** Delta same-as discovery for the incremental Disjoint Resolver: `keys`
    * carries an `is_new` boolean and ONLY pairs involving a new key are
    * discovered/verified. Old×old pairs are never enumerated — the blocked
    * joins split into (new ⋈ all) ∪ (old ⋈ new), each with one
    * O(delta)-sized side (see [[graft.ops.SimJoin.candidatePairs]] for the
    * exact-path argument). Equivalence with the full discovery requires the
    * old key set to be CONVERGED (no old×old pair at or above the
    * threshold) — which is the resolver's post-resolve invariant. */
  def fuzzySameAsDelta(keys: DataFrame, cfg: Config): DataFrame =
    sameAsImpl(keys, cfg, delta = true)._1

  /** [[fuzzySameAs]]/[[fuzzySameAsDelta]] plus a cleanup that frees the
    * discovery's INTERNAL eager checkpoints (the PPJoin candidate frame or
    * the capped band frame). Call it only after every frame derived from
    * the returned DataFrame is materialized — looped callers (the
    * per-micro-batch stream resolver, per-bucket linking) otherwise
    * accumulate one checkpoint per pass in the block manager for the
    * process lifetime (the exact un-freed-stage-cache failure class of the
    * r1 throughput ceiling). `keys` must carry `is_new` when `delta`. */
  def fuzzySameAsManaged(keys: DataFrame, cfg: Config,
      delta: Boolean): (DataFrame, () => Unit) =
    sameAsImpl(if (delta) keys else keys.withColumn("is_new", lit(true)), cfg, delta)

  /** Exact-Jaccard verification of a candidate pair frame
    * `(entity_type, key_a, key_b)`: per-KEY sorted PACKED shingle arrays
    * ([[shinglesPacked]]) joined to both sides, primitive merge-scan
    * intersection per pair ([[jaccardPackedKernel]] — the identical integer
    * counts and IEEE division as [[jaccard]], so the kept pair set is
    * byte-identical). The r5 form re-shingled both strings per PAIR
    * (2 set builds + 2 murmur passes each); at kg_resolve's measured 776k
    * candidates for 3.7k keys that was ~8 s of verify CPU — shingling now
    * runs once per key per side and each pair costs a long merge scan.
    * Candidates are also re-spread before the kernel join (the
    * [[graft.ops.Dedup.spreadForVerify]] rationale: AQE coalesces the
    * id-only candidate checkpoint to ~1 task, serializing the verify). */
  private def verifySameAs(eligible: DataFrame, candidates: DataFrame,
      threshold: Double): DataFrame = {
    val sortedSh = udf((s: String) => shinglesPacked(s))
    val vUdf = udf((a: Array[Long], b: Array[Long]) => jaccardPackedKernel(a, b))
    val ta = eligible.select(col("entity_type"), col("dict_key").as("key_a"),
      sortedSh(col("dict_key")).as("toks_a"))
    val tb = eligible.select(col("entity_type"), col("dict_key").as("key_b"),
      sortedSh(col("dict_key")).as("toks_b"))
    candidates
      .repartition(candidates.sparkSession.sparkContext.defaultParallelism * 2,
        col("key_a"), col("key_b"))
      .join(ta, Seq("entity_type", "key_a"))
      .join(tb, Seq("entity_type", "key_b"))
      .filter(vUdf(col("toks_a"), col("toks_b")) >= threshold)
      .select(col("entity_type"), col("key_a"), col("key_b"))
  }

  private def sameAsImpl(keys: DataFrame, cfg: Config,
      delta: Boolean): (DataFrame, () => Unit) = {
    val spark = keys.sparkSession
    import spark.implicits._
    // a key mentioned as both new and old collapses to old (max of booleans
    // with false < true would pick new — use min/bool_and semantics): it was
    // already resolved, so it only needs to be discoverable as a partner
    val eligible = keys.filter($"entity_type".isin(cfg.fuzzyTypes: _*))
      .groupBy($"entity_type", $"dict_key")
      .agg(min($"is_new").as("is_new"))

    if (cfg.exactSameAs) {
      // packed-long tokens: 8-byte rows through the exploded (grp, tok)
      // shuffle instead of 3-char strings, integer hash/compare in the
      // prefix self-join. Injective packing ⇒ identical token-set sizes and
      // overlaps; the rank tie-break order (df asc, tok asc) differs from
      // the string order, so the recall-1.0 CANDIDATE superset may differ —
      // the verified >= threshold pair set cannot (exact verify).
      val shUdf = udf((s: String) => shinglesPacked(s))
      val items = eligible.select($"entity_type".as("grp"), $"dict_key".as("id"),
        shUdf($"dict_key").as("toks"), $"is_new")
      val cand = graft.ops.SimJoin.candidatePairs(items, cfg.jaccardThreshold,
        if (delta) "link.exact.delta" else "link.exact", delta = delta)
      return (verifySameAs(eligible,
        cand.select($"grp".as("entity_type"), $"id_a".as("key_a"),
          $"id_b".as("key_b")), cfg.jaccardThreshold),
        () => { cand.unpersist(); () })
    }

    // single consumer (the bucket-count window) — the stage boundary both
    // self-join sides share is the observed+checkpointed `capped` frame
    val banded = eligible.as[(String, String, Boolean)].flatMap { case (et, key, isNew) =>
      bandSignature(key, cfg.numHashes, cfg.bands).map { case (b, h) => (et, key, isNew, b, h) }
    }.toDF("entity_type", "key", "is_new", "band", "band_hash")

    // Bucket-size cap: oversized buckets (k^2/2 pair blowup) are excluded
    // from candidate generation entirely; dropped rows observed under
    // CapMetrics site `link.lsh` (no silent caps).
    val capped = graft.ops.CapMetrics.capBuckets(banded, "link.lsh", cfg.maxBandBucket,
      $"entity_type", $"band", $"band_hash")

    val cond = $"a.entity_type" === $"b.entity_type" && $"a.band" === $"b.band" &&
      $"a.band_hash" === $"b.band_hash" && $"a.key" < $"b.key"
    def bandJoin(l: DataFrame, r: DataFrame): DataFrame =
      l.as("a").join(r.as("b"), cond)
        .select($"a.entity_type".as("entity_type"),
          $"a.key".as("key_a"), $"b.key".as("key_b"))
    // delta split, branch by the LEFT (smaller-key) side's newness — same
    // partition argument as the exact path: new-involved pairs only, each
    // exactly once per band before the distinct
    val candidates =
      (if (!delta) bandJoin(capped, capped)
       else bandJoin(capped.filter($"is_new"), capped)
         .unionByName(bandJoin(capped.filter(!$"is_new"), capped.filter($"is_new"))))
      .distinct()

    (verifySameAs(eligible, candidates, cfg.jaccardThreshold),
      () => { capped.unpersist(); () })
  }

  /** Driver mirror of the LSH delta discovery ([[fuzzySameAsManaged]] with
    * `delta = true`) for a key set small enough to hold on the driver:
    * `keys` are `(entity_type, dict_key, is_new)` rows. Every step is the
    * distributed lane's, in plain collections: the fuzzy-type filter and the
    * min(is_new) collapse, the `(entity_type, band, band_hash)` buckets of
    * [[bandSignature]], the [[Config.maxBandBucket]] cap (its
    * `dropped_rows`/`max_bucket` recorded under CapMetrics site `link.lsh`,
    * the values the window lane observes), the new-involved pair split and
    * the [[shinglesPacked]]/[[jaccardPackedKernel]] check. Returns the
    * verified pairs `(entity_type, key_a, key_b)`, key_a < key_b in Spark's
    * UTF-8 order — or None, recording nothing, when the capped buckets could
    * emit more than `maxPairs` candidates (the caller then runs the
    * distributed lane, so a few huge buckets cannot exhaust the heap). */
  private[kg] def fuzzySameAsOnDriver(keys: Iterable[(String, String, Boolean)],
      cfg: Config, maxPairs: Long): Option[Seq[(String, String, String)]] = {
    require(!cfg.exactSameAs, "the driver lane mirrors the MinHash/LSH path only")
    val types = cfg.fuzzyTypes.toSet
    val isNew = mutable.HashMap.empty[(String, String), Boolean]
    keys.foreach { case (et, k, n) =>
      if (types.contains(et)) isNew((et, k)) = isNew.getOrElse((et, k), true) && n
    }
    val buckets = mutable.HashMap.empty[(String, Int, Long), mutable.ArrayBuffer[String]]
    isNew.keysIterator.foreach { case (et, k) =>
      bandSignature(k, cfg.numHashes, cfg.bands).foreach { case (b, h) =>
        buckets.getOrElseUpdate((et, b, h), mutable.ArrayBuffer.empty) += k
      }
    }
    val sizes = buckets.valuesIterator.map(_.size.toLong).toSeq
    val pairBound = sizes.filter(_ <= cfg.maxBandBucket).map(n => n * (n - 1) / 2).sum
    if (pairBound > maxPairs) return None
    graft.ops.CapMetrics.record("link.lsh", Map(
      "dropped_rows" -> sizes.filter(_ > cfg.maxBandBucket).sum,
      "max_bucket" -> sizes.maxOption.getOrElse(0L)))

    val candidates = mutable.HashSet.empty[(String, String, String)]
    for (((et, _, _), ks) <- buckets if ks.size <= cfg.maxBandBucket;
         i <- ks.indices; j <- i + 1 until ks.size) {
      val (a, b) = if (Canonicalize.utf8Less(ks(i), ks(j))) (ks(i), ks(j)) else (ks(j), ks(i))
      if (isNew((et, a)) || isNew((et, b))) candidates += ((et, a, b))
    }
    val packed = mutable.HashMap.empty[String, Array[Long]]
    def sh(k: String) = packed.getOrElseUpdate(k, shinglesPacked(k))
    Some(candidates.toSeq.filter { case (_, a, b) =>
      jaccardPackedKernel(sh(a), sh(b)) >= cfg.jaccardThreshold })
  }

  /** [[registryManaged]] on the driver over the distinct `mentions`
    * `(entity_type, norm_key)` of a bucket: each mention to its canonical
    * keys. Those are its dict keys ([[dictOnDriver]] matches, else its own
    * key; several only when several dict rows match it, as the left join
    * gives), and under `cfg.fuzzy` their components: [[fuzzySameAsOnDriver]]
    * with every key new, then [[Canonicalize.componentMap]]. None when the
    * same-as candidate bound does not fit `maxPairs` (the caller then runs
    * the distributed registry). */
  private[kg] def registryOnDriver(mentions: Iterable[(String, String)],
      dict: Map[(String, String), Seq[String]], cfg: Config,
      maxPairs: Long): Option[Map[(String, String), Seq[String]]] = {
    val keyed = mentions.iterator.map { case m @ (_, nk) =>
      m -> dict.get(m).fold(Seq(nk))(cs => cs.map(c => if (c == null) nk else c).distinct)
    }.toMap
    val components =
      if (!cfg.fuzzy) Some(Map.empty[(String, String), String])
      else fuzzySameAsOnDriver(keyed.iterator.flatMap { case ((et, _), ks) =>
          ks.map((et, _, true)) }.toSeq, cfg, maxPairs)
        .map(pairs => Canonicalize.componentMap(pairs).map { case (et, k, c) => (et, k) -> c }.toMap)
    components.map(cc => keyed.map { case (m @ (et, _), ks) =>
      m -> ks.map(k => cc.getOrElse((et, k), k)) })
  }

  /** Full linking: mentions → dict keys → fuzzy same-as edges → CC canonical
    * map. Returns `(entity_type, norm_key, canonical_key, guid)` — the
    * TUID→GUID registry, ready to join against raw triples.
    */
  def registry(raw: DataFrame, dict: DataFrame, cfg: Config = Config()): DataFrame =
    registryManaged(raw, dict, cfg)._1

  /** [[registry]] plus a cleanup freeing its internal eager checkpoints
    * (the mention set, and the same-as discovery's candidate/band frames)
    * — call only after the returned frame is materialized (Pipeline
    * checkpoints it, then cleans; per-bucket/per-micro-batch loops would
    * otherwise retain one mention checkpoint per pass). */
  def registryManaged(raw: DataFrame, dict: DataFrame,
      cfg: Config = Config()): (DataFrame, () => Unit) = {
    val spark = raw.sparkSession
    import spark.implicits._
    val keyed = applyDict(mentions(raw), dict)

    val (canonical, freeSameAs: (() => Unit)) =
      if (cfg.fuzzy) {
        // distinct mention set: small (entities ≪ mentions); materialized
        // once, consumed by both the fuzzy chain and the canonical-map join
        val ments = keyed.localCheckpoint(eager = true)
        val (sameAs, free) = fuzzySameAsManaged(ments, cfg, delta = false)
        // rename before joining: cc derives from ments, so unrenamed columns
        // would make this an ambiguous self-join
        val cc = Canonicalize.connectedComponents(
            sameAs.select($"entity_type", $"key_a", $"key_b"))
          .select($"entity_type".as("cc_et"), $"key".as("cc_key"),
            $"component".as("component"))
        (ments.join(cc,
            ments("entity_type") === cc("cc_et") && ments("dict_key") === cc("cc_key"),
            "left")
          .select(ments("entity_type"), ments("norm_key"),
            coalesce(cc("component"), ments("dict_key")).as("canonical_key")),
          () => { free(); ments.unpersist(); () })
      } else {
        // one consumer (the registry projection, which the caller
        // checkpoints): no mention checkpoint of its own
        (keyed.select($"entity_type", $"norm_key", $"dict_key".as("canonical_key")),
          () => ())
      }

    (canonical.withColumn("guid", guidFor($"entity_type", $"canonical_key")), freeSameAs)
  }

  /** Rewrite raw triples to canonical GUIDs using the registry (S5 labeling:
    * "raw" subgraph → "labeled" subgraph, `megamind.drawio:19,40`). Two left
    * joins — subject side and entity-object side.
    *
    * `hintBroadcast` — whether to add an explicit broadcast hint on the
    * registry sides. An explicit hint OVERRIDES autoBroadcastJoinThreshold
    * and is never demoted (AQE only promotes shuffle→broadcast, it does not
    * demote a hinted broadcast), so the hint must be size-gated by the
    * caller: [[Pipeline.run]] counts the (checkpointed) registry and hints
    * only under [[Config.maxBroadcastRegistryRows]]. With the hint off, the
    * planner picks a shuffle join and AQE still promotes it to broadcast at
    * runtime when the registry turns out small — the safe default at a
    * billion distinct entities.
    */
  def label(raw: DataFrame, registry: DataFrame,
      hintBroadcast: Boolean = false): DataFrame = {
    val reg = registry.select(col("entity_type"), col("norm_key"),
      col("canonical_key"), col("guid"))

    // Keys only — NO guid columns here. The GUID is a pure function of
    // (type, canonical_key), so it is minted AFTER the edge dedup
    // ([[Materialize.edges]]) on the collapsed output instead of being
    // carried through the big shuffle: two 64-char hex strings per triple
    // (~40% of the row) stay out of the dedup exchange, and sha-256 runs
    // once per DISTINCT edge, not once per raw triple.
    def side(df: DataFrame): DataFrame = if (hintBroadcast) broadcast(df) else df
    val rs = side(reg.select(col("entity_type").as("s_et"), col("norm_key").as("s_nk"),
      col("canonical_key").as("s_ck")))
    val ro = side(reg.select(col("entity_type").as("o_et"), col("norm_key").as("o_nk"),
      col("canonical_key").as("o_ck")))

    raw
      .withColumn("subj_nk", normKey(col("subj_tuid")))
      .withColumn("obj_nk", normKey(col("obj_tuid")))
      .join(rs,
        col("subj_type") === col("s_et") && col("subj_nk") === col("s_nk"), "left")
      .join(ro,
        col("obj_kind") === ObjKind.Subject &&
          col("obj_type") === col("o_et") && col("obj_nk") === col("o_nk"), "left")
      .select(
        col("conv_id"), col("turn_idx"),
        col("subj_type"),
        coalesce(col("s_ck"), col("subj_nk")).as("subj_key"),
        col("pred"), col("obj_kind"),
        col("obj_type"),
        when(col("obj_kind") === ObjKind.Subject,
          coalesce(col("o_ck"), col("obj_nk"))).as("obj_key"),
        col("obj_string"), col("obj_int64"), col("obj_float64"))
  }
}
