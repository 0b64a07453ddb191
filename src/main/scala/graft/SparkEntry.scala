package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kg.{Link, Pipeline, Transcripts}
import graft.kg.Materialize

/** Driver contract — one entry per implemented operator (SURVEY.md §2), plus
  * DuckDB oracle SQL for the driver's correctness gate.
  *
  * The KG queries run the WHOLE pipeline (reconstruct → extract → link →
  * canonicalize → materialize) over a transcript corpus derived
  * deterministically from the driver's parquet tables
  * ([[graft.kg.Transcripts.fromTestdata]]); because the embedded facts are
  * column-derived, the DuckDB oracle recomputes the expected triples straight
  * from the source columns — an end-to-end semantic check, not a rows-only
  * smoke.
  */
object SparkEntry {

  /** Common derivation CTE for the KG oracles — mirrors
    * [[graft.kg.Transcripts.fromTestdata]] column-for-column. */
  private val kgBaseCte: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_totalprice, o_orderpriority,
      |         o_custkey % 60 + 18 AS age, o_orderkey % 5 + 1 AS items,
      |         CASE WHEN o_orderkey % 7 = 0 THEN upper(c_name) ELSE c_name END AS name_sf,
      |         n_name, lower(c_name) AS person_key, lower(n_name) AS nation_key
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |)""".stripMargin

  // One pipeline execution shared by all kg_* queries of a Verify/Bench run
  // (checkpointed results; the queries are different projections of one DAG).
  private final case class Kg(edges: DataFrame, nodes: DataFrame,
      registry: DataFrame, personMentions: DataFrame)
  private val kgCache =
    scala.collection.mutable.Map.empty[(SparkSession, String), Kg]
  // staged stream-input parquet per (session, sf dir) — see kg_streaming
  private val streamInputCache =
    scala.collection.mutable.Map.empty[(SparkSession, String), String]

  /** Query names that are projections of the memoized `kg` pipeline run.
    * Bench must NOT rerun-and-take-MIN these: the first run pays the shared
    * pipeline build, reruns hit the cache, and the MIN would silently drop
    * the pipeline cost from the reported total. */
  val memoizedQueries: Set[String] = Set(
    "kg_edges", "kg_nodes", "kg_registry", "kg_mentions",
    "kg_degrees", "kg_two_hop")

  private def kg(spark: SparkSession, dir: String): Kg =
    kgCache.synchronized {
      kgCache.getOrElseUpdate((spark, dir), {
        val turns = Transcripts.fromTestdata(spark, dir)
        // Fuzzy matching is corpus-dependent config: id-like customer names
        // ("Customer#000000001") must never fuzzy-merge, so the testdata
        // corpus links via normalization only. The fuzzy path is exercised
        // by the synthetic corpus in sbt tests and by kg_resolve.
        val r = Pipeline.run(turns, Pipeline.emptyDict(spark), Link.Config(fuzzy = false))
        // The three result materializations are independent consumers of the
        // pipeline's shared internal caches (raw persist + registry
        // checkpoint, both already materialized by Pipeline.run): submit
        // them as CONCURRENT jobs — serial they cost edges(label+dedup) +
        // nodes + mentions end-to-end; overlapped, the edges job's tail
        // back-fills with the other two (guide §2.6 shape).
        val Seq(edgesCp, nodesCp, mentionsCp) = Fanout.all(
          () => r.edges.localCheckpoint(eager = true),
          () => r.nodes.localCheckpoint(eager = true),
          () =>
            // mention projection off the pipeline's OWN raw frame — derived
            // here, before close(), so kg_mentions costs a projection, not a
            // second full extraction pass over the corpus
            r.raw.get.filter(col("subj_type") === "Person")
              .groupBy(col("conv_id"))
              .agg(countDistinct(Link.normKey(col("subj_tuid"))).as("n_persons"))
              .localCheckpoint(eager = true))
        val out = Kg(edgesCp, nodesCp, r.registry, mentionsCp)
        r.close(keepRegistry = true) // edges/nodes/mentions re-checkpointed above
        out
      })
    }

  /** Flagship: full KG pipeline on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    kg(spark, "/root/testdata/sf0.001").edges

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- KG pipeline (SURVEY §2.2 S1-S7) ----
    "kg_edges" -> ((s, dir) => {
      kg(s, dir).edges.orderBy(Materialize.edgeKey.map(col): _*)
    }),
    "kg_nodes" -> ((s, dir) => {
      kg(s, dir).nodes.select(col("guid"), col("entity_type"), col("name"))
        .orderBy(col("entity_type"), col("guid"))
    }),
    "kg_registry" -> ((s, dir) => {
      kg(s, dir).registry
        .select(col("entity_type"), col("norm_key"), col("canonical_key"), col("guid"))
        .orderBy(col("entity_type"), col("norm_key"))
    }),
    // conversation reconstruction: replay-deduped, stably ordered turns
    // turn 2 embeds Spark's double→string rendering of o_totalprice, which
    // is engine-specific formatting (the VALUE round-trips exactly — kg_edges
    // checks that); the text-equality oracle covers the other five turns.
    "kg_reconstruct" -> ((s, dir) => {
      import s.implicits._
      graft.kg.Reconstruct(Transcripts.fromTestdata(s, dir))
        .filter($"turn_idx" =!= 2)
        .select($"conv_id", $"turn_idx", $"role", $"text", $"tool")
        .orderBy($"conv_id", $"turn_idx")
    }),
    // resumable bucketed execution: MERGE of 4 per-partition runs must equal
    // the one-shot pipeline — checked against the SAME oracle as kg_edges
    "kg_incremental" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft-inc-q").toString
      graft.kg.Incremental.run(Transcripts.fromTestdata(s, dir),
        Pipeline.emptyDict(s), out, "verify-run", nBuckets = 2,
        linkCfg = Link.Config(fuzzy = false))
      Materialize.readTable(s, s"$out/edges").get
        .orderBy(Materialize.edgeKey.map(col): _*)
    }),
    // Structured Streaming ingest (AvailableNow) must converge to the same
    // graph as the batch pipeline — same oracle as kg_edges. The staged
    // INPUT corpus (testdata → transcript parquet) is memoized per
    // (session, dir): it is fixture preparation — a real stream's input
    // files already exist — so bench reps re-run the whole stream (fresh
    // out/checkpoint dirs every call) without re-synthesizing its input;
    // the min-of-N then measures streaming ingest, not corpus derivation.
    "kg_streaming" -> ((s, dir) => {
      val in = streamInputCache.synchronized {
        streamInputCache.getOrElseUpdate((s, dir), {
          val d = java.nio.file.Files.createTempDirectory("graft-stream-in").toString
          Transcripts.fromTestdata(s, dir).write.mode("overwrite").parquet(d)
          d
        })
      }
      val base = java.nio.file.Files.createTempDirectory("graft-stream-q").toString
      val q = graft.streaming.StreamingIngest.start(s, in, s"$base/out",
        s"$base/ck", Pipeline.emptyDict(s), Link.Config(fuzzy = false))
      q.awaitTermination(600000)
      Materialize.readTable(s, s"$base/out/edges").get
        .orderBy(Materialize.edgeKey.map(col): _*)
    }),
    // the §7.3 minimum slice: entities mentioned per conversation —
    // a projection of the memoized pipeline's raw frame (no re-extraction)
    "kg_mentions" -> ((s, dir) => {
      kg(s, dir).personMentions.orderBy(col("conv_id"))
    }),
    // Disjoint-Resolver convergence (megamind's headline eventual-consistency
    // claim): bucketed runs link EXACTLY (fuzzy off — " jr" aliases stay
    // split), then the global resolveDisjoint compaction with the exact
    // (recall-1.0) same-as join converges the graph; the oracle recomputes
    // the CONVERGED graph from source columns, so a resolver that failed to
    // merge (or over-merged) hash-mismatches.
    "kg_resolve" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft-resolve-q").toString
      graft.kg.Incremental.run(Transcripts.fromTestdataResolve(s, dir),
        Pipeline.emptyDict(s), out, "resolve-run", nBuckets = 2,
        linkCfg = Link.Config(fuzzy = false))
      graft.kg.Incremental.resolveDisjoint(s, out,
        Link.Config(fuzzy = true, exactSameAs = true, jaccardThreshold = 0.8,
          fuzzyTypes = Seq("Person")))
      Materialize.readTable(s, s"$out/edges").get
        .orderBy(Materialize.edgeKey.map(col): _*)
    }),

    // graph analytics over the CONSTRUCTED KG (the "query the graph you
    // built" surface a megamind/dgraph user expects): per-node degrees
    "kg_degrees" -> ((s, dir) => {
      val e = kg(s, dir).edges
      val out = e.groupBy(col("subj_guid").as("guid"))
        .agg(count(lit(1)).as("out_deg"))
      val in = e.filter(col("obj_guid").isNotNull)
        .groupBy(col("obj_guid").as("guid"))
        .agg(count(lit(1)).as("in_deg"))
      val nodes = kg(s, dir).nodes.select(col("guid"), col("entity_type"))
      nodes.join(out, Seq("guid"), "left").join(in, Seq("guid"), "left")
        .select(col("guid"), col("entity_type"),
          coalesce(col("out_deg"), lit(0L)).as("out_deg"),
          coalesce(col("in_deg"), lit(0L)).as("in_deg"))
        .orderBy(col("entity_type"), col("guid"))
    }),
    // fixed-iteration PageRank over the customer/supplier -> nation ->
    // region entity graph (the graph-analytics operator; composes with the
    // KG's (subj_guid, obj_guid) edges the same way)
    "q_pagerank" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .select(concat(lit("C"), col("c_custkey")).as("src"),
          concat(lit("N"), col("c_nationkey")).as("dst"))
      val su = s.read.parquet(s"$dir/supplier.parquet")
        .select(concat(lit("S"), col("s_suppkey")).as("src"),
          concat(lit("N"), col("s_nationkey")).as("dst"))
      val nr = s.read.parquet(s"$dir/nation.parquet")
        .select(concat(lit("N"), col("n_nationkey")).as("src"),
          concat(lit("R"), col("n_regionkey")).as("dst"))
      graft.kg.Graph.pageRank(c.unionByName(su).unionByName(nr), iters = 10)
        // f32 absorbs the engines' float-sum ordering difference (~1e-15
        // relative vs f32's 6e-8 ulp) — same device as q_media_features
        .select(col("node"), col("rank").cast("float").as("rank"))
        .orderBy(col("node"))
    }),
    // bounded BFS (general traversal; kg_two_hop is its k=2 special case):
    // everything within 2 hops of region R0 over the reversed entity graph
    // — hop 1 = its nations, hop 2 = their customers+suppliers. The oracle
    // unrolls the same two frontier joins.
    "q_khop" -> ((s, dir) => {
      import s.implicits._
      val rn = s.read.parquet(s"$dir/nation.parquet")
        .select(concat(lit("R"), col("n_regionkey")).as("src"),
          concat(lit("N"), col("n_nationkey")).as("dst"))
      val nc = s.read.parquet(s"$dir/customer.parquet")
        .select(concat(lit("N"), col("c_nationkey")).as("src"),
          concat(lit("C"), col("c_custkey")).as("dst"))
      val ns = s.read.parquet(s"$dir/supplier.parquet")
        .select(concat(lit("N"), col("s_nationkey")).as("src"),
          concat(lit("S"), col("s_suppkey")).as("dst"))
      graft.kg.Graph.kHop(rn.unionByName(nc).unionByName(ns),
          Seq("R0").toDF("node"), k = 2)
        .orderBy(col("min_hops"), col("node"))
    }),
    // skew-safe two-phase aggregation (S9): (key, salt) partials then final
    // combine — must equal the plain GROUP BY the oracle runs
    "q_salted_agg" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/events.parquet")
      graft.kg.Skew.saltedAgg(e, Seq(col("user_id")), Seq(col("event_id")), 16)(
        partial = Seq((count(lit(1)), "n"),
          (sum(col("value").cast("decimal(18,2)")), "sv")),
        combine = Seq((sum(col("n")).cast("long"), "n_events"),
          (sum(col("sv")).cast("double"), "sum_value")))
        .orderBy(col("user_id"))
    }),
    // 2-hop traversal: persons co-resident via Person->lives_in->Nation
    "kg_two_hop" -> ((s, dir) => {
      val e = kg(s, dir).edges.filter(col("pred") === "lives_in")
        .select(col("subj_guid").as("person"), col("obj_guid").as("nation"))
      e.groupBy(col("nation"))
        .agg(countDistinct(col("person")).as("n_persons"))
        .orderBy(col("nation"))
    }),

    // ---- classical operator demonstrators over the driver tables ----
    "q1_agg" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/lineitem.parquet")
        .filter($"l_shipdate" <= lit("1998-09-01").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("sum_base"),
          count(lit(1)).as("n_rows"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),
    "q_window_events" -> ((s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("rn", row_number().over(w))
        .withColumn("dv", $"value" - lag($"value", 1).over(w))
        .select($"event_id", $"user_id", $"event_type", $"rn", $"dv")
        .orderBy($"user_id", $"rn")
    }),
    "q_semi_join" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),
    "q_anti_join" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),
    "q_topk_parts" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.groupBy(col("l_partkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")
            * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("revenue").desc, col("l_partkey").asc)
        .limit(10)
    }),
    "q_setops" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_nationkey").as("nationkey")).distinct()
      val su = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_nationkey").as("nationkey")).distinct()
      c.intersect(su).withColumn("which", lit("both"))
        .unionByName(c.except(su).withColumn("which", lit("customer_only")))
        .unionByName(su.except(c).withColumn("which", lit("supplier_only")))
        .orderBy(col("which"), col("nationkey"))
    }),
    "q_scalar_funcs" -> ((s, dir) => {
      s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey"),
          lower(col("p_name")).as("name_lower"),
          substring(col("p_type"), 1, 5).as("type_prefix"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
          length(col("p_name")).as("name_len"),
          (col("p_size") * 2 + 1).as("size_calc"),
          when(col("p_retailprice") > 1500, "premium").otherwise("standard").as("tier"))
        .orderBy(col("p_partkey"))
    }),
    "q_date_funcs" -> ((s, dir) => {
      s.read.parquet(s"$dir/orders.parquet")
        .select(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"),
          col("o_totalprice"))
        .groupBy(col("yr"), col("mo"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy(col("yr"), col("mo"))
    }),

    // ---- training-data ops over documents/embeddings ----
    "q_dedup_exact" -> ((s, dir) => {
      graft.ops.Dedup.exact(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy(col("text_md5"))
    }),
    "q_token_stats" -> ((s, dir) => {
      graft.ops.TextStats.tokenStats(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy(col("doc_id"))
    }),
    "q_quality" -> ((s, dir) => {
      graft.ops.TextStats.quality(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy(col("doc_id"))
    }),
    "q_lang_id" -> ((s, dir) => {
      graft.ops.TextStats.langId(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy(col("doc_id"))
    }),
    "q_scrub" -> ((s, dir) => {
      graft.ops.TextStats.scrub(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy(col("doc_id"))
    }),
    "q_top_terms" -> ((s, dir) => {
      graft.ops.TextStats.topTerms(s.read.parquet(s"$dir/documents.parquet"), 3)
        .orderBy(col("doc_id"), col("term_rank"))
    }),
    // LSH recall on this fixture is exactly 1.0 (verified vs brute force:
    // every true pair has jaccard > 0.65, and banding at 32/8 finds all of
    // them deterministically), and verification is exact-jaccard — so the
    // output IS the >= 0.5 pair set and DuckDB recomputes it from text
    "q_minhash_pairs" -> ((s, dir) => {
      graft.ops.Dedup.minhashPairs(s.read.parquet(s"$dir/documents.parquet"),
          graft.ops.Dedup.MinHashConfig(jaccardThreshold = 0.5))
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    // incremental-ingest dedup: batch (doc_id % 10 = 0) classified against
    // the accumulated corpus (the rest) by content hash — the exact layer
    // of the delta-dedup pipeline; old docs are never re-paired
    "q_dedup_delta" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.ops.DeltaDedup.exactClassify(
          docs.filter(pmod(col("doc_id"), lit(10)) === 0),
          docs.filter(pmod(col("doc_id"), lit(10)) =!= 0))
        .orderBy(col("doc_id"))
    }),
    // near-dup layer of the same split: LSH recall on this fixture is 1.0
    // (same argument as q_minhash_pairs — every true pair sits above 0.65)
    // and verification is exact, so the output IS the >= 0.5 pair set
    // restricted to pairs with at least one batch side
    "q_neardup_delta" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.ops.DeltaDedup.minhashPairsDelta(
          docs.filter(pmod(col("doc_id"), lit(10)) === 0),
          docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
          graft.ops.Dedup.MinHashConfig(jaccardThreshold = 0.5))
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    // prefix-filter exact similarity join: recall 1.0 by construction, so
    // the same brute-force oracle applies with no probabilistic caveat
    "q_ngram_pairs" -> ((s, dir) => {
      graft.ops.Dedup.ngramJaccardPairs(s.read.parquet(s"$dir/documents.parquet"),
          shingleN = 3, minJaccard = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    // triangle enumeration over the near-dup pair graph (graph analytics
    // composing with the dedup output): the pair set is the EXACT >= 0.5
    // jaccard set, so the oracle re-derives it in SQL and closes wedges
    // with the same two equi-joins
    "q_triangles" -> ((s, dir) => {
      val pairs = graft.ops.Dedup.ngramJaccardPairs(
          s.read.parquet(s"$dir/documents.parquet"), shingleN = 3, minJaccard = 0.5)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      graft.kg.Graph.triangles(pairs)
        .select(col("a").as("doc_a"), col("b").as("doc_b"), col("c").as("doc_c"))
        .orderBy(col("doc_a"), col("doc_b"), col("doc_c"))
    }),
    // blocks=8/comboSize=1 (the ham<=7 bound forces single-slice keys here);
    // recall 1.0 by pigeonhole + exact hamming verify => output is EXACTLY
    // the hamming<=7 pair set, which the DuckDB oracle recomputes from text
    "q_simhash_pairs" -> ((s, dir) => {
      graft.ops.Dedup.simhashPairs(s.read.parquet(s"$dir/documents.parquet"),
          maxHamming = 7, blocks = 8, comboSize = 1)
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    "q_fingerprint" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          graft.functions.TextHash.fingerprint64(col("text")).as("fp"),
          graft.functions.TextHash.simhash64(col("text")).as("sh"))
        .orderBy(col("doc_id"))
    }),
    "q_knn" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      graft.ops.Similarity.bruteForceTopK(emb, queries, 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // int8 scalar quantization of the embedding corpus (per-dim min/max
    // fit + clamped floor codes), published EXPLODED (vec_id, pos, code)
    // so the compare is pure scalar ints; the oracle refits the identical
    // stats and formula in SQL
    "q_quantize" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val p = graft.ops.Quantize.fit(emb)
      graft.ops.Quantize.encode(emb, p)
        .select(col("vec_id"), posexplode(col("codes")))
        .toDF("vec_id", "pos", "code")
        .orderBy(col("vec_id"), col("pos"))
    }),
    // asymmetric quantized ANN: full-precision queries scored against the
    // int8-dequantized corpus — same top-k contract as q_knn; the oracle
    // replays the whole quantize -> dequantize -> cosine-rank chain
    "q_knn_q8" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      graft.ops.Quantize.knnTopK(emb, queries, 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // fixture config tables=32/bits=2: the driver embeddings are near-random
    // (cosine mass right at the 0.30 threshold), so the blocking is made
    // near-exhaustive at this corpus size (per-pair miss ~7e-7,
    // deterministic hyperplanes) and the exact re-rank then reproduces the
    // brute-force top-k EXACTLY — giving this the same oracle as q_knn. At
    // corpus scale users raise `bits` so buckets stay small.
    "q_knn_lsh" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      graft.ops.Similarity.lshTopK(emb, queries, 10,
          graft.ops.Similarity.LshConfig(tables = 32, bits = 2))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // IVF ANN at nProbe = nLists: probing every list makes the search
    // exhaustive, so the exact re-rank reproduces brute force and q_knn's
    // oracle pins it down (the k-means quantizer itself is exercised — list
    // assignment + probe ordering — while partial-probe recall is the
    // SimilaritySpec sbt gate, the same split as q_knn_lsh)
    "q_knn_ivf" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      graft.ops.Similarity.ivfTopK(emb, queries, 10,
          graft.ops.Similarity.IvfConfig(nLists = 16, kmeansIters = 3, nProbe = 16))
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // persisted-index read path + O(delta) APPEND path under the same
    // brute-force oracle: the quantizer trains on 2/3 of the vectors, the
    // remaining 1/3 is appendIvfIndex'ed against the FROZEN centroids, and
    // nProbe = nLists makes the search exhaustive — so the output is the
    // exact top-k REGARDLESS of which subset trained the centroids (what
    // the oracle pins is the index bookkeeping: assignment append, xor
    // fingerprint advance, meta guard). Partial-probe append recall is the
    // SimilaritySpec sbt gate.
    "q_knn_ivf_append" -> ((s, dir) => {
      val cfg = graft.ops.Similarity.IvfConfig(nLists = 16, kmeansIters = 3,
        nProbe = 16)
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val idx = java.nio.file.Files.createTempDirectory("graft-ivf-idx").toString
      graft.ops.Similarity.buildIvfIndex(
        emb.filter(pmod(col("vec_id"), lit(3)) =!= 0), cfg, idx)
      graft.ops.Similarity.appendIvfIndex(
        emb.filter(pmod(col("vec_id"), lit(3)) === 0), cfg, idx)
      val queries = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      graft.ops.Similarity.ivfTopKIndexed(emb, queries, 10, cfg, idx)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // same near-exhaustive fixture blocking (see q_knn_lsh): candidates
    // cover every >= 0.30 pair, exact-cosine verify makes the output the
    // EXACT pair set, recomputable by DuckDB list_cosine_similarity
    "q_embed_neardup" -> ((s, dir) => {
      graft.ops.Similarity.cosineNearDupPairs(
          s.read.parquet(s"$dir/embeddings.parquet"), 0.30,
          graft.ops.Similarity.LshConfig(tables = 32, bits = 2))
        .select(col("vec_a"), col("vec_b"))
        .orderBy(col("vec_a"), col("vec_b"))
    }),
    // SemDeDup (Abbas et al. 2023): k-means-cluster-scoped semantic dedup —
    // the clustering is the blocking. The fixture config (nLists=4,
    // assign=2) is near-exhaustive the way q_embed_neardup's tables=32/
    // bits=2 LSH is: every >= 0.5 pair shares a cluster, so the decision
    // table is the EXACT brute-force one and the oracle recomputes it via
    // list_cosine_similarity + recursive-CTE connected components (min-id
    // representative, q_doc_groups posture). Corpus-scale config lives in
    // scaleQueries.
    "q_semdedup" -> ((s, dir) => {
      graft.ops.SemDedup.decisions(
          s.read.parquet(s"$dir/embeddings.parquet"),
          graft.ops.SemDedup.Config(nLists = 4, kmeansIters = 3, assign = 2,
            threshold = 0.5))
        .orderBy(col("vec_id"))
    }),
    "q_media_meta" -> ((s, dir) => {
      graft.ops.Multimodal.mediaFromDocuments(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("media_id"), col("media_type"), length(col("payload")).as("n_bytes"),
          col("width"), col("height"), col("duration_ms"))
        .orderBy(col("media_id"))
    }),
    // deterministic video frame sampling (flat rows; frame_key = codegen'd
    // fingerprint64 over "media_id:frame_idx", re-derived by the oracle)
    "q_frame_sample" -> ((s, dir) => {
      graft.ops.Multimodal.frameSampleRows(
          graft.ops.Multimodal.mediaFromDocuments(
            s.read.parquet(s"$dir/documents.parquet")), 10000L)
        .orderBy(col("media_id"), col("frame_idx"))
    }),
    // hierarchical aggregates (ROLLUP grouping sets)
    "q_rollup" -> ((s, dir) => {
      s.read.parquet(s"$dir/orders.parquet")
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy(col("o_orderpriority").asc_nulls_first,
          col("o_orderstatus").asc_nulls_first)
    }),
    // gap-based sessionization (30-min gap) over the event stream
    "q_sessionize" -> ((s, dir) => {
      graft.ops.Sessionize.sessions(
          s.read.parquet(s"$dir/events.parquet"), 30L * 60 * 1000)
        .orderBy(col("user_id"), col("session_idx"))
    }),
    // pivot (wide aggregation) over the event stream
    "q_pivot" -> ((s, dir) => {
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_id"))
    }),
    // deterministic train/val/test split: pure function of the record key
    // (FNV-1a fingerprint mod 100), re-derivable by any engine — never
    // rand(), which changes across runs/retries
    "q_sample_split" -> ((s, dir) => {
      graft.ops.Sampling.assignSplit(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), col("split_cell"), col("split"))
        .orderBy(col("doc_id"))
    }),
    // deterministic STRATIFIED sampling: per-source keep rates as a pure
    // function of (source, doc_id) — the oracle re-derives the salted FNV
    // cell and thresholds in HUGEINT arithmetic, so the kept SET (not just
    // its size) is engine-exact
    "q_stratified" -> ((s, dir) => {
      graft.ops.Sampling.stratifiedSample(
          s.read.parquet(s"$dir/documents.parquet"), "source", "doc_id",
          Map("src0" -> 0.9, "src1" -> 0.5), defaultFraction = 0.2)
        .select(col("doc_id"), col("source"), col("sample_cell"))
        .orderBy(col("doc_id"))
    }),
    // near-dup GROUPING: connected components over the exact >= 0.5 pair
    // set, numeric-min representative (oracle: recursive-CTE closure)
    "q_doc_groups" -> ((s, dir) => {
      graft.ops.Dedup.dedupGroups(
          graft.ops.Dedup.ngramJaccardPairs(
            s.read.parquet(s"$dir/documents.parquet"), shingleN = 3, minJaccard = 0.5))
        .orderBy(col("doc_id"))
    }),
    // bulk NDJSON ingest + the reference's per-subgraph stats, end-to-end:
    // triples derived from orders -> protojson render -> text file ->
    // TripleJson.read -> subgraphStats (ref-bug-faithful AND fixed counts);
    // int64/string objects only (a float64 would put Spark's double
    // rendering inside the line, which the oracle cannot re-derive)
    "q_subgraph_stats" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      val base = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"),
          col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
        .localCheckpoint(eager = true) // five projection consumers below
      val sgId = col("o_orderkey").cast("string").as("subgraph_id")
      def nulls = Seq(lit(null).cast("string").as("obj_type"),
        lit(null).cast("string").as("obj_tuid"))
      val t1 = base.select(Seq(sgId, lit("Order").as("subj_type"),
        col("o_orderkey").cast("string").as("subj_tuid"), lit("priority").as("pred"),
        lit("string").as("obj_kind")) ++ nulls ++ Seq(
        col("o_orderpriority").as("obj_string"), lit(null).cast("long").as("obj_int64"),
        lit(null).cast("double").as("obj_float64")): _*)
      val t2 = base.select(Seq(sgId, lit("Order").as("subj_type"),
        col("o_orderkey").cast("string").as("subj_tuid"), lit("items").as("pred"),
        lit("int64").as("obj_kind")) ++ nulls ++ Seq(
        lit(null).cast("string").as("obj_string"),
        (col("o_orderkey") % 5 + 1).cast("long").as("obj_int64"),
        lit(null).cast("double").as("obj_float64")): _*)
      val t3 = base.select(sgId, lit("Customer").as("subj_type"),
        col("c_custkey").cast("string").as("subj_tuid"), lit("located_in").as("pred"),
        lit("subject").as("obj_kind"), lit("Nation").as("obj_type"),
        col("c_nationkey").cast("string").as("obj_tuid"),
        lit(null).cast("string").as("obj_string"), lit(null).cast("long").as("obj_int64"),
        lit(null).cast("double").as("obj_float64"))
      val t4 = base.filter(col("o_orderkey") % 2 === 0)
        .select(Seq(sgId, lit("Order").as("subj_type"),
          col("o_orderkey").cast("string").as("subj_tuid"), lit("status").as("pred"),
          lit("string").as("obj_kind")) ++ nulls ++ Seq(
          col("o_orderstatus").as("obj_string"), lit(null).cast("long").as("obj_int64"),
          lit(null).cast("double").as("obj_float64")): _*)
      val t5 = base.filter(col("o_orderkey") % 5 === 0)
        .select(Seq(sgId, lit("Customer").as("subj_type"),
          col("c_custkey").cast("string").as("subj_tuid"), lit("segment").as("pred"),
          lit("string").as("obj_kind")) ++ nulls ++ Seq(
          col("c_mktsegment").as("obj_string"), lit(null).cast("long").as("obj_int64"),
          lit(null).cast("double").as("obj_float64")): _*)
      val triples = t1.unionByName(t2).unionByName(t3).unionByName(t4).unionByName(t5)
      val tmp = java.nio.file.Files.createTempDirectory("graft-sgstats").toString
      graft.io.TripleJson.toJsonLines(triples).select(col("line"))
        .write.mode("overwrite").text(s"$tmp/lines")
      graft.io.TripleJson.subgraphStats(graft.io.TripleJson.read(s, s"$tmp/lines"))
        .groupBy(col("num_of_triples"), col("distinct_subjects_ref"),
          col("distinct_subjects_fixed"))
        .agg(count(lit(1)).as("n_subgraphs"))
        .orderBy(col("num_of_triples"))
    }),
    // byte_entropy is cast to float32: Spark's kernel sums p*log2(p) in byte
    // order while DuckDB's entropy() aggregate sums in its own order — the
    // doubles agree to ~1 ulp, and float32 rounding absorbs the difference
    "q_media_features" -> ((s, dir) => {
      graft.ops.Multimodal.extractFeatures(
          graft.ops.Multimodal.mediaFromDocuments(
            s.read.parquet(s"$dir/documents.parquet")))
        .toDF()
        .select(col("media_id"), col("media_type"), col("n_bytes"),
          col("byte_entropy").cast("float").as("byte_entropy"))
        .orderBy(col("media_id"))
    }),
    // backward AS-OF join: every probe event picks the latest state event
    // (same user, ts <= probe ts, max event_id tiebreak) — union + ONE
    // window, no join node (oracle: correlated LIMIT-1 subqueries, an
    // independent formulation of the same semantics)
    "q_asof_join" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val probes = ev.filter(col("event_id") % 3 =!= 0)
        .select(col("event_id"), col("user_id"), col("ts"))
      val states = ev.filter(col("event_id") % 3 === 0)
        .select(col("user_id"), col("ts"),
          col("value").as("state_value"), col("event_id").as("state_event"))
      graft.ops.Temporal.asofJoin(probes, states, Seq("user_id"), "ts",
          "state_event", Seq("state_value", "state_event"))
        .orderBy(col("event_id"))
    }),
    // point-in-interval RANGE join via time bucketization (equi-join on
    // (user, bucket) + residual — never a BroadcastNestedLoopJoin): every
    // 97th event opens a 24 h per-user interval; match all events inside
    "q_range_join" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val intervals = ev.filter(col("event_id") % 97 === 0)
        .select(col("event_id").as("interval_id"), col("user_id"),
          col("ts").as("lo"),
          (col("ts") + expr("INTERVAL 24 HOURS")).as("hi"))
      graft.ops.Temporal.rangeJoin(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          intervals, Seq("user_id"), "ts", "lo", "hi",
          bucketMs = 24L * 3600 * 1000)
        .select(col("interval_id"), col("event_id"), col("ts"))
        .orderBy(col("interval_id"), col("event_id"))
    }),
    // deterministic shard packing: shard_id = exclusive-prefix-sum(weight)
    // div budget — a two-pass distributed scan (per-partition totals +
    // offset broadcast); byte-identical shard maps at any parallelism
    "q_pack_shards" -> ((s, dir) => {
      graft.ops.Sharding.packByBudget(
          s.read.parquet(s"$dir/documents.parquet"), budget = 8000L)
        .orderBy(col("doc_id"))
    }),
    // Gopher-style repetition quality signals: duplicate-word /
    // top-bigram / duplicate-trigram fractions — map-only typed kernel,
    // exact integer-ratio doubles (bit-identical across engines)
    "q_repetition" -> ((s, dir) => {
      graft.ops.TextStats.repetitionStats(
          s.read.parquet(s"$dir/documents.parquet"))
        .orderBy(col("doc_id"))
    }),
    // benchmark decontamination: train docs sharing any 4-token shingle
    // with the benchmark set (doc_id % 25) — Spark joins 64-bit shingle
    // fingerprints (the scale path), the oracle joins the raw shingle
    // strings, so the compare also proves the fixture is collision-free
    "q_contamination" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.ops.Contamination.flagContaminated(
          docs.filter(col("doc_id") % 25 =!= 0),
          docs.filter(col("doc_id") % 25 === 0), shingleN = 4)
        .orderBy(col("doc_id"))
    }),
    // DSIR importance weights: target = the src0 slice, raw = the rest; the
    // oracle re-derives the hashed-unigram log-ratios from text in HUGEINT
    // FNV arithmetic (float32 publish absorbs summation order, the
    // byte-entropy pattern)
    "q_dsir_weights" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.ops.Importance.dsirWeights(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          graft.ops.Importance.DsirConfig(buckets = 256))
        .orderBy(col("doc_id"))
    }),
    // deterministic Gumbel-top-k resampling over the same weights (noise is
    // a pure function of doc_id, so the draw is engine-reproducible)
    "q_dsir_resample" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.ops.Importance.resampleTopK(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), 50, temperature = 0.5,
          graft.ops.Importance.DsirConfig(buckets = 256))
        .orderBy(col("doc_id"))
    }),
    // duplicate-SPAN detection (Lee et al. 2022): 8-token windows duplicated
    // across >=2 distinct docs, merged per doc into contiguous spans; the
    // oracle joins the raw window STRINGS, so it also proves the 64-bit
    // fingerprint path collision-free on the fixture (the q_contamination
    // posture)
    "q_dup_spans" -> ((s, dir) => {
      graft.ops.DupSpans.dupSpanStats(
          s.read.parquet(s"$dir/documents.parquet"), windowW = 8)
        .orderBy(col("doc_id"))
    }),
    // the removal half of Lee et al. 2022: cleaned corpus with every
    // duplicated span excised; the oracle rebuilds clean_text token-by-token
    // in DuckDB, so the compare is an exact STRING match per document
    "q_dup_spans_clean" -> ((s, dir) => {
      graft.ops.DupSpans.removeDupSpans(
          s.read.parquet(s"$dir/documents.parquet"), windowW = 8)
        .orderBy(col("doc_id"))
    }),
    // CCNet-style perplexity filter: add-1 bigram LM trained on the %25
    // target slice, scoring the train slice; the oracle recomputes counts
    // from raw bigram STRINGS (collision proof) and both engines publish
    // the log-prob sum as float32 (the DSIR determinism contract)
    "q_lm_ppl" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.ops.Perplexity.lmScore(
          docs.filter(col("doc_id") % 25 =!= 0),
          docs.filter(col("doc_id") % 25 === 0))
        .orderBy(col("doc_id"))
    }),
    // CCNet head/middle/tail split: tercile buckets of the lm_ppl score by
    // deterministic global rank (two-pass scan — never a SinglePartition
    // window); the oracle recomputes the rank with row_number() over the
    // identical (score, id) total order on the proven float32 scores
    "q_ppl_buckets" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val scored = graft.ops.Perplexity.lmScore(
          docs.filter(col("doc_id") % 25 =!= 0),
          docs.filter(col("doc_id") % 25 === 0))
        .filter(col("lm_ppl").isNotNull)
        .select(col("doc_id"), col("lm_ppl"))
      graft.ops.Percentile.rankBuckets(scored, 3, scoreCol = "lm_ppl")
        .orderBy(col("doc_id"))
    }),
    // per-LANGUAGE percentile split (CCNet computes its cuts per language):
    // quartiles of the n_chars signal within each lang group — grouped
    // two-pass rank, offsets derived with zero driver collects
    "q_lang_buckets" -> ((s, dir) => {
      graft.ops.Percentile.rankBucketsBy(
          s.read.parquet(s"$dir/documents.parquet")
            .select(col("lang"), col("doc_id"), col("n_chars")),
          4, scoreCol = "n_chars", byCol = "lang")
        .orderBy(col("doc_id"))
    }),
    // BPE vocabulary induction, iteration 0 (the oracle-able stage of the
    // tokenizer-training loop): adjacent character-pair counts over the
    // distinct-word frequency table, top 50 under the total order
    // (cnt desc, a, b) — the same argmax rule the iterative learner uses
    "q_bpe_pairs" -> ((s, dir) => {
      graft.ops.Bpe.pairCounts(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(50)
    }),
    // deterministic token-window chunking (embedding-prep / RAG): 40-token
    // windows every 30 tokens — overlap, partial tails, and empty-doc
    // elision all exercised; the oracle re-derives identical chunks via
    // regexp_extract_all + 1-based list slicing
    "q_chunk" -> ((s, dir) => {
      graft.ops.TextStats.chunk(
          s.read.parquet(s"$dir/documents.parquet"), 40, 30)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),
    // deterministic source mixing (Pile-style per-set budgets): fill each
    // budgeted source with docs in salted-FNV order until its char budget
    // is spent — partial fill (src0/src1), single-doc overshoot (src2,
    // budget 1), keep-everything (src3), drop-the-rest all exercised; the
    // oracle re-derives the hash in HUGEINT and replays the prefix fill
    "q_mix" -> ((s, dir) => {
      graft.ops.Mixing.mixByBudget(
          s.read.parquet(s"$dir/documents.parquet"),
          Map("src0" -> 4000L, "src1" -> 2500L, "src2" -> 1L,
            "src3" -> 999999L))
        .orderBy(col("doc_id"))
    }),
    // GPT-3-style model-based quality filter: NB classifier trained on the
    // %25==0 slice (positive) vs the %25==1 slice (negative), scoring the
    // rest; the oracle recomputes counts from raw token STRINGS (collision
    // proof) and both engines publish the log-odds sum as float32, with the
    // keep boolean derived from the published float
    "q_nb_quality" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.ops.QualityClassifier.nbScore(
          docs.filter(col("doc_id") % 25 =!= 0 && col("doc_id") % 25 =!= 1),
          docs.filter(col("doc_id") % 25 === 0),
          docs.filter(col("doc_id") % 25 === 1))
        .orderBy(col("doc_id"))
    }),
    // one-call curation decision table: every filter stage's verdict as a
    // column (exact/near-dup reps, decontamination vs the %25 benchmark
    // slice, quality + repetition gates) — the oracle recomputes ALL of it
    // relationally, including the recursive-CTE connected components
    "q_curate" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.ops.Curate.curate(
          docs.filter(col("doc_id") % 25 =!= 0),
          docs.filter(col("doc_id") % 25 === 0))
        .orderBy(col("doc_id"))
    }),
    // the end-to-end curation path a real pipeline runs: the decision
    // table's kept survivors, then the deterministic per-source budget
    // fill over ONLY those survivors (filter-then-mix sequencing matters:
    // the budgets must not be spent on docs a gate would drop) — two
    // independently-proven ops composed, with the oracle replaying both
    "q_curate_mix" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val decisions = graft.ops.Curate.curate(
        docs.filter(col("doc_id") % 25 =!= 0),
        docs.filter(col("doc_id") % 25 === 0))
      val kept = docs.join(
        decisions.filter(col("kept")).select(col("doc_id")), Seq("doc_id"))
      graft.ops.Mixing.mixByBudget(kept,
          Map("src0" -> 1500L, "src1" -> 999999L, "src2" -> 1L))
        .orderBy(col("doc_id"))
    })
  )

  /** Headline queries for Bench's SECOND scale point (the deterministic 10×
    * fixture from [[ScaleFixture]]). Most reuse the `queries` entry verbatim
    * at the bigger dir; the near-exhaustive FIXTURE blocking configs
    * (bits=2 / tables=32 / nProbe=nLists, chosen so the sf0.1 oracle is
    * exact) are replaced here by the documented corpus-scale configs — at
    * 10× the exhaustive settings would concentrate the corpus into 4
    * buckets per table, measuring the fixture pathology, not the operator.
    * These runs are TIMED ONLY (the sf0.1 pass carries the oracle). */
  def scaleQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact" -> queries("q_dedup_exact"),
    "q_token_stats" -> queries("q_token_stats"),
    "q_minhash_pairs" -> queries("q_minhash_pairs"),
    "q_ngram_pairs" -> queries("q_ngram_pairs"),
    // corpus-scale Manku blocking (blocks=8/combo=2 -> 16-bit keys): the 1×
    // fixture's single-slice keys (forced there by the ham<=7 oracle bound)
    // degenerate at 50k docs — measured max_bucket 49k, 205k rows capped
    "q_simhash_pairs" -> ((s, dir) => {
      graft.ops.Dedup.simhashPairs(s.read.parquet(s"$dir/documents.parquet"),
        maxHamming = 3, blocks = 8, comboSize = 2)
    }),
    "q_doc_groups" -> queries("q_doc_groups"),
    "q_sessionize" -> queries("q_sessionize"),
    // scale-free configs — the same query text runs at 10× (1M events /
    // 50k docs); the sf0.1 pass carries their oracles
    "q_asof_join" -> queries("q_asof_join"),
    "q_range_join" -> queries("q_range_join"),
    "q_contamination" -> queries("q_contamination"),
    "q_dsir_weights" -> queries("q_dsir_weights"),
    "q_dsir_resample" -> queries("q_dsir_resample"),
    "q_lm_ppl" -> queries("q_lm_ppl"),
    "q_nb_quality" -> queries("q_nb_quality"),
    "q_ppl_buckets" -> queries("q_ppl_buckets"),
    "q_lang_buckets" -> queries("q_lang_buckets"),
    "q_mix" -> queries("q_mix"),
    "q_chunk" -> queries("q_chunk"),
    "q_bpe_pairs" -> queries("q_bpe_pairs"),
    "q_dup_spans" -> queries("q_dup_spans"),
    "q_dup_spans_clean" -> queries("q_dup_spans_clean"),
    "q_repetition" -> queries("q_repetition"),
    "q_pack_shards" -> queries("q_pack_shards"),
    "q_knn" -> queries("q_knn"),
    "q_quantize" -> queries("q_quantize"),
    "q_knn_q8" -> queries("q_knn_q8"),
    // corpus-scale ANN: 8 tables × 10 bits (buckets stay ~Vecs/1024/table)
    "q_knn_lsh" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      graft.ops.Similarity.lshTopK(emb, queries, 10,
        graft.ops.Similarity.LshConfig(tables = 8, bits = 10))
    }),
    // partial-probe IVF — the documented 1/nProbe scan-fraction scale path
    "q_knn_ivf" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      graft.ops.Similarity.ivfTopK(emb, queries, 10,
        graft.ops.Similarity.IvfConfig(nLists = 64, kmeansIters = 3, nProbe = 8))
    }),
    // near-orthogonal synthetic vectors: planted near-dups sit at ~0.99
    // cosine, so 0.9 is the selective threshold here (0.30 on this corpus
    // would admit ~1% of ALL pairs — an output-volume test, not a dedup)
    "q_embed_neardup" -> ((s, dir) => {
      graft.ops.Similarity.cosineNearDupPairs(
        s.read.parquet(s"$dir/embeddings.parquet"), 0.90,
        graft.ops.Similarity.LshConfig(tables = 8, bits = 10))
    }),
    // corpus-scale SemDeDup: 64 clusters over 20k vectors (~300/cluster —
    // the per-cluster kernel stays ~1e5 cosines), planted ~0.99-cosine
    // near-dups at the 0.9 selective threshold (the q_embed_neardup note)
    "q_semdedup" -> ((s, dir) => {
      graft.ops.SemDedup.decisions(
        s.read.parquet(s"$dir/embeddings.parquet"),
        graft.ops.SemDedup.Config(nLists = 64, kmeansIters = 3, assign = 2,
          threshold = 0.9))
    })
  )

  // ---- 10× correctness queries (VERDICT r4 #3) -----------------------------
  // The 10× fixture was TIMED ONLY through r4: a wrong answer that only
  // manifests at scale (cap interactions, overflow, bucket-size effects) was
  // invisible. These five queries have engine-portable deterministic
  // semantics (no LSH-config caveats), so they carry full DuckDB oracles at
  // the 10× point: Verify materializes the fixture at a per-sf path and the
  // oracle SQL reads the SAME parquet files via read_parquet(), making the
  // check self-consistent whatever sf dir the driver runs Verify at.

  /** Per-sf fixture dir for the VERIFY-side 10× oracle queries (separate
    * from Bench's SPARK_GRAFT_10X_DIR so a bench run can't swap the fixture
    * out from under a pending correctness compare, and keyed by sf basename
    * because the fixture vocabulary derives from the base corpus). */
  def verifyScaleDir(sfDir: String): String =
    "/tmp/graft-10x-verify-" + new java.io.File(sfDir).getName

  private def at10x(name: String): (SparkSession, String) => DataFrame =
    (s, dir) => queries(name)(s, ScaleFixture.ensure(s, dir, verifyScaleDir(dir)))

  /** Oracle-checked queries over the 10× fixture — run by Verify alongside
    * [[queries]]; the driver's DuckDB compare picks them up from
    * oracle_sql.json like any other entry. */
  def queries10x: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact_10x" -> at10x("q_dedup_exact"),
    "q_token_stats_10x" -> at10x("q_token_stats"),
    "q_sessionize_10x" -> at10x("q_sessionize"),
    "q_sample_split_10x" -> at10x("q_sample_split"),
    "q_stratified_10x" -> at10x("q_stratified"),
    "q_repetition_10x" -> at10x("q_repetition"),
    "q_asof_join_10x" -> at10x("q_asof_join"),
    "q_range_join_10x" -> at10x("q_range_join"),
    "q_contamination_10x" -> at10x("q_contamination"),
    "q_dsir_weights_10x" -> at10x("q_dsir_weights"),
    "q_dsir_resample_10x" -> at10x("q_dsir_resample"),
    "q_lm_ppl_10x" -> at10x("q_lm_ppl"),
    "q_nb_quality_10x" -> at10x("q_nb_quality"),
    "q_ppl_buckets_10x" -> at10x("q_ppl_buckets"),
    "q_lang_buckets_10x" -> at10x("q_lang_buckets"),
    "q_mix_10x" -> at10x("q_mix"),
    "q_chunk_10x" -> at10x("q_chunk"),
    "q_bpe_pairs_10x" -> at10x("q_bpe_pairs"),
    "q_quantize_10x" -> at10x("q_quantize"),
    "q_dup_spans_10x" -> at10x("q_dup_spans"),
    "q_dup_spans_clean_10x" -> at10x("q_dup_spans_clean"),
    "q_pack_shards_10x" -> at10x("q_pack_shards"))

  /** Rewrites a base-table oracle to read the 10× fixture parquet directly:
    * prepends CTEs named after the tables (a CTE shadows any same-named
    * view in DuckDB), so the SQL needs no re-registration driver-side. */
  private def retargetSql(sql: String, fixtureDir: String,
      tables: Seq[String]): String = {
    val ctes = tables.map(t =>
      s"$t AS (SELECT * FROM read_parquet('$fixtureDir/$t.parquet/*.parquet'))")
      .mkString(", ")
    if (sql.startsWith("WITH ")) "WITH " + ctes + ", " + sql.stripPrefix("WITH ")
    else "WITH " + ctes + " " + sql
  }

  /** 10× oracle SQL — a function of the sf dir (the fixture path is per-sf);
    * Verify dumps `oracleSql ++ oracleSql10x(sfDir)`. */
  def oracleSql10x(sfDir: String): Map[String, String] = {
    val d = verifyScaleDir(sfDir)
    Map(
      "q_dedup_exact_10x" -> retargetSql(oracleSqlBase("q_dedup_exact"), d, Seq("documents")),
      "q_token_stats_10x" -> retargetSql(oracleSqlBase("q_token_stats"), d, Seq("documents")),
      "q_sessionize_10x" -> retargetSql(oracleSqlBase("q_sessionize"), d, Seq("events")),
      "q_sample_split_10x" -> retargetSql(oracleSqlBase("q_sample_split"), d, Seq("documents")),
      "q_stratified_10x" -> retargetSql(oracleSqlBase("q_stratified"), d, Seq("documents")),
      "q_repetition_10x" -> retargetSql(oracleSqlBase("q_repetition"), d, Seq("documents")),
      "q_asof_join_10x" -> retargetSql(oracleSqlBase("q_asof_join"), d, Seq("events")),
      "q_range_join_10x" -> retargetSql(oracleSqlBase("q_range_join"), d, Seq("events")),
      "q_contamination_10x" -> retargetSql(oracleSqlBase("q_contamination"), d, Seq("documents")),
      "q_dsir_weights_10x" -> retargetSql(oracleSqlBase("q_dsir_weights"), d, Seq("documents")),
      "q_dsir_resample_10x" -> retargetSql(oracleSqlBase("q_dsir_resample"), d, Seq("documents")),
      "q_lm_ppl_10x" -> retargetSql(oracleSqlBase("q_lm_ppl"), d, Seq("documents")),
      "q_nb_quality_10x" -> retargetSql(oracleSqlBase("q_nb_quality"), d, Seq("documents")),
      "q_ppl_buckets_10x" -> retargetSql(pplBucketsSql, d, Seq("documents")),
      "q_lang_buckets_10x" -> retargetSql(oracleSqlBase("q_lang_buckets"), d, Seq("documents")),
      "q_mix_10x" -> retargetSql(oracleSqlBase("q_mix"), d, Seq("documents")),
      "q_chunk_10x" -> retargetSql(oracleSqlBase("q_chunk"), d, Seq("documents")),
      "q_bpe_pairs_10x" -> retargetSql(oracleSqlBase("q_bpe_pairs"), d, Seq("documents")),
      "q_quantize_10x" -> retargetSql(oracleSqlBase("q_quantize"), d, Seq("embeddings")),
      "q_dup_spans_10x" -> retargetSql(oracleSqlBase("q_dup_spans"), d, Seq("documents")),
      "q_dup_spans_clean_10x" -> retargetSql(oracleSqlBase("q_dup_spans_clean"), d, Seq("documents")),
      "q_pack_shards_10x" -> retargetSql(oracleSqlBase("q_pack_shards"), d, Seq("documents")))
  }

  /** Tercile split of the proven q_lm_ppl float32 scores: the rank is a
    * plain `row_number()` over the identical (score, id) total order, and
    * the bucket formula is the same non-negative integer floor-division on
    * both sides. Composed from the component oracle (the q_curate
    * pattern), so float reproduction is already established. */
  /** Curate→mix composition: the full q_curate decision table as a CTE
    * (DuckDB accepts the nested WITH RECURSIVE), its kept survivors joined
    * back to documents, then the q_mix HUGEINT hash + prefix fill replayed
    * over only those survivors. Composed from the two component oracles,
    * so every leaf computation is already proven engine-exact. */
  private def curateMixSql: String = {
    val curate = oracleSqlBase("q_curate")
    require(curate.endsWith("\nORDER BY tr.doc_id"), "q_curate SQL tail moved")
    s"""WITH curated AS (
       |${curate.stripSuffix("\nORDER BY tr.doc_id")}
       |), kd AS (
       |  SELECT d.source, d.doc_id, CAST(d.n_chars AS BIGINT) AS weight,
       |    ${fnvHuSql("('mix|' || d.source || '|' || CAST(d.doc_id AS VARCHAR))")} AS hu
       |  FROM documents d JOIN curated c ON c.doc_id = d.doc_id
       |  WHERE c.kept AND d.source IN ('src0', 'src1', 'src2')
       |), sg AS (
       |  SELECT source, doc_id, weight,
       |    CAST(CASE WHEN hu >= CAST(9223372036854775808 AS HUGEINT)
       |         THEN hu - CAST(18446744073709551616 AS HUGEINT) ELSE hu END
       |      AS BIGINT) AS hs
       |  FROM kd
       |), cm AS (
       |  SELECT source, doc_id, weight,
       |    CAST(sum(weight) OVER (PARTITION BY source ORDER BY hs, doc_id
       |      ROWS UNBOUNDED PRECEDING) - weight AS BIGINT) AS cum_before
       |  FROM sg
       |)
       |SELECT source, doc_id, weight, cum_before FROM cm
       |WHERE cum_before < CASE source WHEN 'src0' THEN 1500
       |                               WHEN 'src1' THEN 999999
       |                               ELSE 1 END
       |ORDER BY doc_id""".stripMargin
  }

  private def pplBucketsSql: String =
    "WITH scores AS (" + oracleSqlBase("q_lm_ppl") + """
      |), nn AS (
      |  SELECT doc_id, lm_ppl FROM scores WHERE lm_ppl IS NOT NULL
      |), r AS (
      |  SELECT doc_id, lm_ppl,
      |         row_number() OVER (ORDER BY lm_ppl, doc_id) AS rank,
      |         count(*) OVER () AS n
      |  FROM nn
      |)
      |SELECT doc_id, lm_ppl, rank, ((rank - 1) * 3) // n AS bucket
      |FROM r ORDER BY doc_id""".stripMargin

  def oracleSql: Map[String, String] = oracleSqlBase +
    ("q_ppl_buckets" -> pplBucketsSql) +
    ("q_curate_mix" -> curateMixSql) +
    ("kg_incremental" -> oracleSqlBase("kg_edges")) +
    ("kg_streaming" -> oracleSqlBase("kg_edges")) +
    ("q_knn_lsh" -> oracleSqlBase("q_knn")) + // fixture blocking is exhaustive
    ("q_knn_ivf" -> oracleSqlBase("q_knn")) + // nProbe = nLists => exhaustive
    ("q_knn_ivf_append" -> oracleSqlBase("q_knn")) + // exhaustive probe again
    ("q_ngram_pairs" -> oracleSqlBase("q_minhash_pairs")) // both = exact >= 0.5 set

  /** FNV-1a 64 over ASCII chars in DuckDB HUGEINT arithmetic — mirrors
    * graft.functions.TextHashKernels.fingerprint64 bit-for-bit (the driver
    * documents fixture is pure ASCII, so ord(char) == utf8 byte). */
  private val fnvCte: String =
    """fnv AS (
      |  SELECT doc_id, text, list_reduce(
      |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
      |      list_transform(range(1, length(text)+1), i -> CAST(ord(text[i]) AS HUGEINT))),
      |    (h, b) -> (xor(h, b) * 1099511628211) % CAST(18446744073709551616 AS HUGEINT)) AS h
      |  FROM documents
      |)""".stripMargin

  /** FNV-1a 64 HUGEINT fold of an arbitrary string expression (the fnvCte
    * body parameterized by use site). */
  private def fnvHuSql(e: String): String =
    s"""list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |      list_transform(range(1, length($e)+1), i -> CAST(ord($e[i]) AS HUGEINT))),
       |    (h, x) -> (xor(h, x) * 1099511628211) % CAST(18446744073709551616 AS HUGEINT))""".stripMargin

  /** Signed reinterpretation + pmod of a HUGEINT hash column — the
    * q_sample_split cell mapping, parameterized by modulus. */
  private def signedPmodSql(hu: String, m: Long): String =
    s"""((((CASE WHEN $hu >= CAST(9223372036854775808 AS HUGEINT)
       |    THEN $hu - CAST(18446744073709551616 AS HUGEINT) ELSE $hu END) % $m) + $m) % $m)""".stripMargin

  /** DSIR weights in SQL: hashed-unigram bucket counts of the src0 target
    * vs the raw rest, smoothed log-ratio summed per raw document (shared by
    * the weight and resample oracles). */
  private lazy val dsirCtes: String =
    s"""dtt AS (
       |  SELECT unnest(regexp_extract_all(lower(text), '\\S+')) AS t
       |  FROM documents WHERE source = 'src0'
       |), drt AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS t
       |  FROM documents WHERE source <> 'src0'
       |), tb AS (
       |  SELECT CAST(${signedPmodSql("hu", 256)} AS BIGINT) AS b
       |  FROM (SELECT ${fnvHuSql("t")} AS hu FROM dtt)
       |), rb AS (
       |  SELECT doc_id, CAST(${signedPmodSql("hu", 256)} AS BIGINT) AS b
       |  FROM (SELECT doc_id, ${fnvHuSql("t")} AS hu FROM drt)
       |), dct AS (SELECT b, count(*) AS n FROM tb GROUP BY 1
       |), dcr AS (SELECT b, count(*) AS n FROM rb GROUP BY 1
       |), dtot AS (SELECT (SELECT count(*) FROM tb) AS ttot,
       |                   (SELECT count(*) FROM rb) AS rtot
       |), dsc AS (
       |  SELECT rb.doc_id, count(*) AS n_tokens,
       |         sum(ln(coalesce(dct.n, 0) + 1.0) - ln(ttot + 256.0)
       |           - ln(dcr.n + 1.0) + ln(rtot + 256.0)) AS w
       |  FROM rb JOIN dcr USING (b) LEFT JOIN dct USING (b) CROSS JOIN dtot
       |  GROUP BY 1
       |), dw AS (
       |  SELECT d.doc_id, coalesce(s.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
       |         CAST(coalesce(s.w, 0.0) AS REAL) AS dsir_logweight
       |  FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
       |  LEFT JOIN dsc s USING (doc_id)
       |)""".stripMargin

  /** simhash64 in SQL: per-token FNV-1a hashes vote +-1 per bit; sign of the
    * vote is the output bit. Mirrors TextHashKernels.simhash64 exactly. */
  private val simhashCte: String =
    """tok AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS t FROM documents
      |), th AS (
      |  SELECT doc_id, CAST(list_reduce(
      |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
      |      list_transform(range(1, length(t)+1), i -> CAST(ord(t[i]) AS HUGEINT))),
      |    (h, b) -> (xor(h, b) * 1099511628211) % CAST(18446744073709551616 AS HUGEINT)) AS UBIGINT) AS hu
      |  FROM tok
      |), votes AS (
      |  SELECT doc_id, bp, sum(CASE WHEN ((hu >> CAST(bp AS UBIGINT)) & 1) = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS bp) GROUP BY 1, 2
      |), shacc AS (
      |  SELECT doc_id, sum(CASE WHEN v > 0 THEN (CAST(1 AS HUGEINT) << CAST(bp AS INT)) ELSE CAST(0 AS HUGEINT) END) AS shu
      |  FROM votes GROUP BY 1
      |), simh AS (
      |  SELECT doc_id, CAST(CASE WHEN shu >= CAST(9223372036854775808 AS HUGEINT)
      |    THEN shu - CAST(18446744073709551616 AS HUGEINT) ELSE shu END AS BIGINT) AS sh
      |  FROM shacc
      |)""".stripMargin

  /** word-3-gram shingle sets + exact pairwise jaccard, brute force (CTE
    * list, reused by the pair and grouping oracles). */
  private val jaccardCtes: String =
    """toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ts FROM documents
      |), shing AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(ts) < 3 THEN ts
      |    ELSE list_transform(range(1, len(ts) - 1), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) END) AS s
      |  FROM toks
      |), pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         len(list_intersect(a.s, b.s)) AS inter,
      |         len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS uni
      |  FROM shing a, shing b WHERE a.doc_id < b.doc_id
      |)""".stripMargin

  /** Exact >= 0.5 pair set — the ground truth both q_minhash_pairs (recall
    * 1.0 on this fixture) and q_ngram_pairs (recall 1.0 by construction)
    * must equal. */
  private val jaccardPairsSql: String =
    s"""WITH $jaccardCtes
       |SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / uni AS jaccard
       |FROM pairs WHERE inter > 0 AND CAST(inter AS DOUBLE) / uni >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q_triangles: close wedges over the exact >= 0.5 pair set with the
    * same two equi-joins the Spark op runs (canonical a < b < c). */
  private val trianglesSql: String =
    s"""WITH $jaccardCtes, e AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  WHERE inter > 0 AND CAST(inter AS DOUBLE) / uni >= 0.5
       |)
       |SELECT e1.a AS doc_a, e1.b AS doc_b, e2.b AS doc_c
       |FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
       |ORDER BY doc_a, doc_b, doc_c""".stripMargin

  /** q_khop: the same two frontier expansions, unrolled (hop 2 excludes
    * hop-1 nodes and the seed — min_hops semantics). */
  private val kHopSql: String =
    """WITH e AS (
      |  SELECT 'R' || n_regionkey AS src, 'N' || n_nationkey AS dst FROM nation
      |  UNION ALL SELECT 'N' || c_nationkey, 'C' || c_custkey FROM customer
      |  UNION ALL SELECT 'N' || s_nationkey, 'S' || s_suppkey FROM supplier
      |), h1 AS (
      |  SELECT DISTINCT dst AS node FROM e WHERE src = 'R0'
      |), h2 AS (
      |  SELECT DISTINCT e.dst AS node FROM e JOIN h1 ON e.src = h1.node
      |  WHERE e.dst <> 'R0' AND e.dst NOT IN (SELECT node FROM h1)
      |)
      |SELECT node, min_hops FROM (
      |  SELECT 'R0' AS node, 0 AS min_hops
      |  UNION ALL SELECT node, 1 FROM h1
      |  UNION ALL SELECT node, 2 FROM h2
      |)
      |ORDER BY min_hops, node""".stripMargin

  /** q_doc_groups: connected components over the exact pair set via a
    * recursive-CTE transitive closure; representative = numeric min. */
  private val docGroupsSql: String =
    s"""WITH RECURSIVE $jaccardCtes, jp AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  WHERE inter > 0 AND CAST(inter AS DOUBLE) / uni >= 0.5
       |), e AS (
       |  SELECT doc_a AS a, doc_b AS b FROM jp
       |  UNION SELECT doc_b, doc_a FROM jp
       |), reach AS (
       |  SELECT a, b FROM e
       |  UNION
       |  SELECT reach.a, e.b FROM reach JOIN e ON reach.b = e.a
       |), allr AS (
       |  SELECT a, b FROM reach UNION SELECT a, a FROM e
       |)
       |SELECT a AS doc_id, min(b) AS group_rep FROM allr
       |GROUP BY a ORDER BY doc_id""".stripMargin

  /** Digit-word person-name encoding of the resolve corpus, in DuckDB SQL —
    * mirrors [[graft.kg.Transcripts.fromTestdataResolve]] char-for-char. */
  private def resolveWordSql(p: Int): String = {
    val x = ('a' + p).toChar
    val div = math.pow(10, p).toLong
    val y = s"chr(102 + CAST((c_custkey // $div) % 10 AS INT))"
    s"concat($y, '$x$x', $y, $y, '$x', $y)"
  }

  /** kg_resolve oracle: the CONVERGED graph — every customer's " jr" surface
    * forms collapse onto the base name iff the base form appears anywhere in
    * the corpus (connected-components representative = lexicographic min =
    * the base, a strict prefix of the jr form). */
  private lazy val kgResolveSql: String = {
    val nameSql = (4 to 0 by -1).map(resolveWordSql)
      .mkString("concat_ws(' ', ", ", ", ")")
    s"""WITH rb AS (
       |  SELECT o_orderkey, c_custkey, lower(n_name) AS nation_key,
       |         CAST(o_custkey % 60 + 18 AS BIGINT) AS age,
       |         (o_orderkey % 3 = 0) AS jr,
       |         $nameSql AS name_base
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  WHERE c_custkey % 8 = 0
       |), canon AS (
       |  SELECT c_custkey,
       |         CASE WHEN bool_or(NOT jr) THEN any_value(name_base)
       |              ELSE any_value(name_base) || ' jr' END AS ck
       |  FROM rb GROUP BY c_custkey
       |), tr AS (
       |  SELECT 'Person' AS subj_type, 'Person|' || c.ck AS subj_id,
       |         'name' AS pred, 'string' AS obj_kind,
       |         CAST(NULL AS VARCHAR) AS obj_type, CAST(NULL AS VARCHAR) AS obj_id,
       |         b.name_base || CASE WHEN b.jr THEN ' jr' ELSE '' END AS obj_string,
       |         CAST(NULL AS BIGINT) AS obj_int64, CAST(NULL AS DOUBLE) AS obj_float64
       |  FROM rb b JOIN canon c ON b.c_custkey = c.c_custkey
       |  UNION ALL
       |  SELECT 'Person', 'Person|' || c.ck, 'lives_in', 'subject', 'Nation',
       |         'Nation|' || b.nation_key, NULL, NULL, NULL
       |  FROM rb b JOIN canon c ON b.c_custkey = c.c_custkey
       |  UNION ALL
       |  SELECT 'Person', 'Person|' || c.ck, 'age', 'int64',
       |         NULL, NULL, NULL, b.age, NULL
       |  FROM rb b JOIN canon c ON b.c_custkey = c.c_custkey
       |), e AS (
       |  SELECT DISTINCT subj_type, sha256(subj_id) AS subj_guid, pred, obj_kind,
       |         obj_type, sha256(obj_id) AS obj_guid, obj_string, obj_int64, obj_float64
       |  FROM tr
       |)
       |SELECT * FROM e
       |ORDER BY subj_type, subj_guid, pred, obj_kind,
       |         obj_type NULLS FIRST, obj_guid NULLS FIRST, obj_string NULLS FIRST,
       |         obj_int64 NULLS FIRST, obj_float64 NULLS FIRST""".stripMargin
  }

  /** Triple derivation CTE shared by kg_edges / kg_degrees (mirrors the
    * extraction grammar over the synthetic transcripts). */
  private val kgTrCte: String =
    """tr AS (
      |  SELECT 'Person' AS subj_type, 'Person|' || person_key AS subj_id,
      |         'name' AS pred, 'string' AS obj_kind,
      |         CAST(NULL AS VARCHAR) AS obj_type, CAST(NULL AS VARCHAR) AS obj_id,
      |         name_sf AS obj_string, CAST(NULL AS BIGINT) AS obj_int64,
      |         CAST(NULL AS DOUBLE) AS obj_float64
      |  FROM base
      |  UNION ALL
      |  SELECT 'Person', 'Person|' || person_key, 'lives_in', 'subject',
      |         'Nation', 'Nation|' || nation_key, NULL, NULL, NULL FROM base
      |  UNION ALL
      |  SELECT 'Order', 'Order|' || o_orderkey, 'total', 'float64',
      |         NULL, NULL, NULL, NULL, o_totalprice FROM base
      |  UNION ALL
      |  SELECT 'Order', 'Order|' || o_orderkey, 'priority', 'string',
      |         NULL, NULL, o_orderpriority, NULL, NULL FROM base
      |  UNION ALL
      |  SELECT 'Person', 'Person|' || person_key, 'age', 'int64',
      |         NULL, NULL, NULL, age, NULL FROM base
      |  UNION ALL
      |  SELECT 'Person', 'Person|' || person_key, 'ordered_items', 'int64',
      |         NULL, NULL, NULL, items, NULL FROM base
      |), e AS (
      |  SELECT DISTINCT subj_type, sha256(subj_id) AS subj_guid, pred, obj_kind,
      |         obj_type, sha256(obj_id) AS obj_guid, obj_string, obj_int64, obj_float64
      |  FROM tr
      |)""".stripMargin

  /** q_pagerank oracle: the power iteration unrolled into one chained-CTE
    * query (fixed iterations, no dangling redistribution — mirrors
    * [[graft.kg.Graph.pageRank]] op-for-op in IEEE double arithmetic; the
    * final f32 cast absorbs summation-order differences). */
  private lazy val pagerankSql: String = {
    val iters = 10
    val head =
      """WITH eg AS (
        |  SELECT DISTINCT 'C' || c_custkey AS src, 'N' || c_nationkey AS dst FROM customer
        |  UNION SELECT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
        |  UNION SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
        |), nd AS (
        |  SELECT src AS node FROM eg UNION SELECT dst FROM eg
        |), par AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nd),
        |od AS (SELECT src, count(*) AS deg FROM eg GROUP BY src),
        |pr0 AS (SELECT node, 1.0/(SELECT n FROM par) AS rank FROM nd)""".stripMargin
    val steps = (0 until iters).map { i =>
      s"""pr${i + 1} AS (
         |  SELECT nd.node,
         |         (1 - 0.85)/(SELECT n FROM par) + 0.85 * coalesce(s.c, CAST(0 AS DOUBLE)) AS rank
         |  FROM nd LEFT JOIN (
         |    SELECT eg.dst AS node, sum(p.rank / od.deg) AS c
         |    FROM eg JOIN pr$i p ON eg.src = p.node JOIN od ON eg.src = od.src
         |    GROUP BY eg.dst) s ON nd.node = s.node
         |)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT node, CAST(rank AS REAL) AS rank FROM pr$iters ORDER BY node"
  }

  private lazy val oracleSqlBase: Map[String, String] = Map(
    "kg_resolve" -> kgResolveSql,
    "q_pagerank" -> pagerankSql,
    "q_salted_agg" ->
      """SELECT user_id, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "kg_edges" ->
      s"""$kgBaseCte, $kgTrCte
         |SELECT * FROM e
         |ORDER BY subj_type, subj_guid, pred, obj_kind,
         |         obj_type NULLS FIRST, obj_guid NULLS FIRST, obj_string NULLS FIRST,
         |         obj_int64 NULLS FIRST, obj_float64 NULLS FIRST""".stripMargin,
    "kg_degrees" ->
      s"""$kgBaseCte, $kgTrCte, n AS (
         |  SELECT DISTINCT sha256(id) AS guid, entity_type FROM (
         |    SELECT 'Person|' || person_key AS id, 'Person' AS entity_type FROM base
         |    UNION
         |    SELECT 'Nation|' || nation_key, 'Nation' FROM base
         |    UNION
         |    SELECT 'Order|' || o_orderkey, 'Order' FROM base
         |  )
         |), outd AS (SELECT subj_guid AS guid, count(*) AS od FROM e GROUP BY 1),
         |ind AS (SELECT obj_guid AS guid, count(*) AS idg FROM e
         |        WHERE obj_guid IS NOT NULL GROUP BY 1)
         |SELECT n.guid, n.entity_type,
         |       coalesce(od, 0) AS out_deg, coalesce(idg, 0) AS in_deg
         |FROM n LEFT JOIN outd USING (guid) LEFT JOIN ind USING (guid)
         |ORDER BY entity_type, guid""".stripMargin,
    "kg_two_hop" ->
      s"""$kgBaseCte
         |SELECT sha256('Nation|' || nation_key) AS nation,
         |       count(DISTINCT person_key) AS n_persons
         |FROM base GROUP BY 1 ORDER BY nation""".stripMargin,
    "q_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), y AS (
        |  SELECT user_id, ts,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM x
        |)
        |SELECT user_id, CAST(sess AS INT) AS session_idx, count(*) AS n_events,
        |       min(ts) AS start_ts, max(ts) AS end_ts
        |FROM y GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin,
    // independent formulation of the as-of semantics: two correlated LIMIT-1
    // subqueries with the same (ts DESC, event DESC) pick — state_value rides
    // through unchanged from parquet (no arithmetic), so the doubles are
    // bit-identical across engines
    "q_asof_join" ->
      """WITH r AS (SELECT user_id, ts, event_id AS state_event, value AS state_value
        |           FROM events WHERE event_id % 3 = 0),
        |l AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 3 <> 0)
        |SELECT l.event_id, l.user_id, l.ts,
        |  (SELECT r.state_value FROM r WHERE r.user_id = l.user_id AND r.ts <= l.ts
        |   ORDER BY r.ts DESC, r.state_event DESC LIMIT 1) AS asof_state_value,
        |  (SELECT r.state_event FROM r WHERE r.user_id = l.user_id AND r.ts <= l.ts
        |   ORDER BY r.ts DESC, r.state_event DESC LIMIT 1) AS asof_state_event
        |FROM l ORDER BY l.event_id""".stripMargin,
    "q_range_join" ->
      """WITH i AS (SELECT event_id AS interval_id, user_id, ts AS lo,
        |                  ts + INTERVAL 24 HOUR AS hi
        |           FROM events WHERE event_id % 97 = 0)
        |SELECT i.interval_id, e.event_id, e.ts
        |FROM i JOIN events e
        |  ON i.user_id = e.user_id AND e.ts >= i.lo AND e.ts <= i.hi
        |ORDER BY i.interval_id, e.event_id""".stripMargin,
    // global-window recomputation of the two-pass prefix-sum pack (DuckDB
    // runs it single-node, Spark distributes it — same integer arithmetic)
    "q_pack_shards" ->
      """WITH w AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS weight FROM documents)
        |SELECT doc_id, weight,
        |  CAST((sum(weight) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - weight)
        |    // 8000 AS BIGINT) AS shard_id
        |FROM w ORDER BY doc_id""".stripMargin,
    // per-language quartiles: rank recomputed with row_number over the
    // identical (score, id) total order within each lang; same non-negative
    // integer floor-division for the bucket on both sides
    "q_lang_buckets" ->
      """WITH r AS (
        |  SELECT lang, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY n_chars, doc_id) AS rank,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents
        |)
        |SELECT lang, doc_id, n_chars, rank, ((rank - 1) * 4) // n AS bucket
        |FROM r ORDER BY doc_id""".stripMargin,
    // BPE iteration-0 pair counts: distinct lowercased words + counts,
    // chars via list_transform over a 1-based range + the '</w>' marker,
    // adjacent pairs weighted by word count, identical total order
    "q_bpe_pairs" ->
      """WITH w AS (
        |  SELECT t.w AS word, count(*) AS wc FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS w
        |    FROM documents) t
        |  GROUP BY 1
        |), sy AS (
        |  SELECT word, wc, list_append(
        |    list_transform(range(1, len(word)+1), i -> word[i]), '</w>') AS s
        |  FROM w
        |), pe AS (
        |  SELECT wc, s, unnest(range(1, len(s))) AS i FROM sy
        |)
        |SELECT s[i] AS a, s[i+1] AS b, CAST(sum(wc) AS BIGINT) AS cnt
        |FROM pe GROUP BY 1, 2
        |ORDER BY cnt DESC, a, b LIMIT 50""".stripMargin,
    // token-window chunking: identical \S+ tokenization, start positions
    // from a stepped range (exclusive end, so an empty doc yields zero
    // chunks), chunks via 1-based INCLUSIVE list slicing
    "q_chunk" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS ts FROM documents
        |), st AS (
        |  SELECT doc_id, ts, unnest(range(0, len(ts), 30)) AS s
        |  FROM tk WHERE len(ts) > 0
        |)
        |SELECT doc_id, CAST(s // 30 AS INT) AS chunk_id,
        |  CAST(least(s + 40, len(ts)) - s AS INT) AS n_tokens,
        |  array_to_string(ts[s+1 : least(s+40, len(ts))], ' ') AS chunk_text
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin,
    // source mixing: the hash is re-derived in HUGEINT, reinterpreted
    // signed (the engine orders by the SIGNED int64), and the per-source
    // exclusive prefix fill is replayed with a window; budgets mirror the
    // Spark map literally
    "q_mix" ->
      s"""WITH h AS (
         |  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS weight,
         |    ${fnvHuSql("('mix|' || source || '|' || CAST(doc_id AS VARCHAR))")} AS hu
         |  FROM documents
         |  WHERE source IN ('src0', 'src1', 'src2', 'src3')
         |), s AS (
         |  SELECT source, doc_id, weight,
         |    CAST(CASE WHEN hu >= CAST(9223372036854775808 AS HUGEINT)
         |         THEN hu - CAST(18446744073709551616 AS HUGEINT) ELSE hu END
         |      AS BIGINT) AS hs
         |  FROM h
         |), c AS (
         |  SELECT source, doc_id, weight,
         |    CAST(sum(weight) OVER (PARTITION BY source ORDER BY hs, doc_id
         |      ROWS UNBOUNDED PRECEDING) - weight AS BIGINT) AS cum_before
         |  FROM s
         |)
         |SELECT source, doc_id, weight, cum_before FROM c
         |WHERE cum_before < CASE source WHEN 'src0' THEN 4000
         |                               WHEN 'src1' THEN 2500
         |                               WHEN 'src2' THEN 1
         |                               ELSE 999999 END
         |ORDER BY doc_id""".stripMargin,
    // relational recomputation of the repetition kernel: each fraction is
    // one IEEE division of exact integer counts, so equality is bitwise
    "q_repetition" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
        |  FROM documents
        |), base AS (
        |  SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd FROM tk
        |), bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS g
        |  FROM tk WHERE len(toks) >= 2
        |), bgc AS (
        |  SELECT doc_id, max(c) AS topc
        |  FROM (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2) GROUP BY 1
        |), tg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)-1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
        |  FROM tk WHERE len(toks) >= 3
        |), tgc AS (
        |  SELECT doc_id, count(*) AS cnt, count(DISTINCT g) AS dist FROM tg GROUP BY 1
        |)
        |SELECT b.doc_id, CAST(b.n AS INT) AS n_words,
        |  CASE WHEN b.n = 0 THEN 0.0
        |       ELSE CAST(b.n - b.nd AS DOUBLE) / b.n END AS dup_word_frac,
        |  CASE WHEN bgc.topc IS NULL THEN 0.0
        |       ELSE CAST(bgc.topc AS DOUBLE) / (b.n - 1) END AS top_bigram_frac,
        |  CASE WHEN tgc.cnt IS NULL THEN 0.0
        |       ELSE CAST(tgc.cnt - tgc.dist AS DOUBLE) / tgc.cnt END AS dup_trigram_frac
        |FROM base b LEFT JOIN bgc USING (doc_id) LEFT JOIN tgc USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,
    // raw shingle-STRING join (the Spark side joins fingerprint64 hashes —
    // agreement additionally proves the fixture has no 64-bit collisions);
    // shingle semantics mirror Dedup.wordShinglesKernel: lowercase,
    // whitespace tokens, whole-token 4-grams, per-doc DISTINCT, docs
    // shorter than n fall back to single tokens
    "q_contamination" ->
      """WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
        |train AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 <> 0),
        |tt AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks FROM train),
        |bt AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks FROM bench),
        |tsh AS (SELECT DISTINCT doc_id, sh FROM (
        |  SELECT doc_id, unnest(CASE WHEN len(toks) < 4 THEN toks
        |    ELSE list_transform(range(1, len(toks)-4+2),
        |                        i -> array_to_string(toks[i:i+3], ' ')) END) AS sh
        |  FROM tt)),
        |bsh AS (SELECT DISTINCT sh FROM (
        |  SELECT unnest(CASE WHEN len(toks) < 4 THEN toks
        |    ELSE list_transform(range(1, len(toks)-4+2),
        |                        i -> array_to_string(toks[i:i+3], ' ')) END) AS sh
        |  FROM bt)),
        |hits AS (SELECT t.doc_id, count(*) AS n_hits
        |         FROM tsh t JOIN bsh b USING (sh) GROUP BY 1)
        |SELECT tr.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |       coalesce(h.n_hits, 0) > 0 AS contaminated
        |FROM train tr LEFT JOIN hits h USING (doc_id)
        |ORDER BY tr.doc_id""".stripMargin,
    "q_dsir_weights" ->
      s"""WITH $dsirCtes
         |SELECT doc_id, n_tokens, dsir_logweight FROM dw
         |ORDER BY doc_id""".stripMargin,
    "q_dsir_resample" ->
      s"""WITH $dsirCtes, dg AS (
         |  SELECT doc_id, n_tokens, dsir_logweight,
         |    CAST(CAST(dsir_logweight AS DOUBLE) / 0.5
         |      + (-ln(-ln((${signedPmodSql("ghu", 9007199254740992L)} + 1)
         |                 / 9007199254740994.0))) AS REAL) AS gumbel_key
         |  FROM (SELECT doc_id, n_tokens, dsir_logweight,
         |          ${fnvHuSql("('dsir|' || CAST(doc_id AS VARCHAR))")} AS ghu
         |        FROM dw)
         |)
         |SELECT * FROM (
         |  SELECT doc_id, n_tokens, dsir_logweight, gumbel_key FROM dg
         |  ORDER BY gumbel_key DESC, doc_id LIMIT 50
         |) ORDER BY doc_id""".stripMargin,
    // dup spans: DuckDB joins raw window STRINGS (Spark joins 8-byte FNV
    // fingerprints), so equality also proves the fixture collision-free;
    // islands merge when the position gap <= 8 (contiguous coverage), and
    // every ratio is an exact integer-over-integer IEEE division
    "q_dup_spans" ->
      """WITH dtk AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ts
        |  FROM documents
        |), dws AS (
        |  SELECT doc_id, CAST(pos AS INT) AS pos,
        |         array_to_string(list_slice(ts, pos + 1, pos + 8), ' ') AS wstr
        |  FROM (SELECT doc_id, ts, unnest(range(0, len(ts) - 7)) AS pos FROM dtk)
        |), ddup AS (
        |  SELECT wstr FROM dws GROUP BY wstr HAVING count(DISTINCT doc_id) >= 2
        |), disl AS (
        |  SELECT doc_id, pos,
        |         sum(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |  FROM (SELECT dws.doc_id, dws.pos,
        |          lag(dws.pos) OVER (PARTITION BY dws.doc_id ORDER BY dws.pos) AS prev
        |        FROM dws JOIN ddup USING (wstr))
        |), dspan AS (
        |  SELECT doc_id, isl, min(pos) AS mn, max(pos) AS mx, count(*) AS nw
        |  FROM disl GROUP BY 1, 2
        |), dagg AS (
        |  SELECT doc_id, sum(nw) AS n_dup_windows, count(*) AS n_dup_spans,
        |         sum(mx - mn + 8) AS cov
        |  FROM dspan GROUP BY 1
        |)
        |SELECT d.doc_id,
        |       CAST(len(regexp_extract_all(lower(d.text), '\S+')) AS BIGINT)
        |         AS n_tokens,
        |       CAST(coalesce(a.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
        |       CAST(coalesce(a.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
        |       CAST(coalesce(a.cov, 0) AS DOUBLE)
        |         / greatest(CAST(len(regexp_extract_all(lower(d.text), '\S+'))
        |                         AS DOUBLE), 1.0) AS dup_token_frac
        |FROM documents d LEFT JOIN dagg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // span REMOVAL: clean_text is rebuilt token-by-token (original case,
    // single-space joined — the op's documented whitespace normalization);
    // within-island window coverages are overlapping-or-adjacent, so the
    // DISTINCT union of per-window coverage equals the merged-span coverage
    "q_dup_spans_clean" ->
      """WITH dtk AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS ot,
        |         regexp_extract_all(lower(text), '\S+') AS ts
        |  FROM documents
        |), dws AS (
        |  SELECT doc_id, pos,
        |         array_to_string(list_slice(ts, CAST(pos AS INT) + 1,
        |                                    CAST(pos AS INT) + 8), ' ') AS wstr
        |  FROM (SELECT doc_id, ts, unnest(range(0, len(ts) - 7)) AS pos FROM dtk)
        |), ddup AS (
        |  SELECT wstr FROM dws GROUP BY wstr HAVING count(DISTINCT doc_id) >= 2
        |), dcov AS (
        |  SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS cp
        |  FROM dws JOIN ddup USING (wstr)
        |), tok AS (
        |  SELECT doc_id, pos, ot[CAST(pos AS INT) + 1] AS tok
        |  FROM (SELECT doc_id, ot, unnest(range(0, len(ot))) AS pos FROM dtk)
        |), kept AS (
        |  SELECT t.doc_id, t.pos, t.tok
        |  FROM tok t LEFT JOIN dcov c ON t.doc_id = c.doc_id AND t.pos = c.cp
        |  WHERE c.cp IS NULL
        |), cagg AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
        |         count(*) AS n_kept
        |  FROM kept GROUP BY 1
        |)
        |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
        |       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept
        |FROM documents d LEFT JOIN cagg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // bigram-LM perplexity: counts re-derived from raw token STRINGS; the
    // history count c1 counts tokens in bigram-opening positions (exactly
    // what the engine's bigram-stream aggregation counts); ln of exact
    // rationals summed then published as float32 on BOTH sides, and
    // lm_ppl recomputed FROM the published float (ulp + sum-order absorbed)
    "q_lm_ppl" ->
      """WITH tgt AS (
        |  SELECT regexp_extract_all(lower(text), '\S+') AS ts
        |  FROM documents WHERE doc_id % 25 = 0
        |), tr AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ts
        |  FROM documents WHERE doc_id % 25 <> 0
        |), uni AS (
        |  SELECT w, count(*) AS c1 FROM (
        |    SELECT ts[CAST(i AS INT)] AS w
        |    FROM (SELECT ts, unnest(range(1, len(ts))) AS i FROM tgt))
        |  GROUP BY 1
        |), vv AS (
        |  SELECT count(DISTINCT w) AS v FROM (SELECT unnest(ts) AS w FROM tgt)
        |), big AS (
        |  SELECT g, count(*) AS c2 FROM (
        |    SELECT ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1] AS g
        |    FROM (SELECT ts, unnest(range(1, len(ts))) AS i FROM tgt))
        |  GROUP BY 1
        |), db AS (
        |  SELECT doc_id, ts[CAST(i AS INT)] AS w,
        |         ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1] AS g
        |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM tr)
        |), sc AS (
        |  SELECT db.doc_id, count(*) AS n,
        |         sum(ln((coalesce(big.c2, 0) + 1.0)
        |                / (coalesce(uni.c1, 0) + 1.0 * vv.v))) AS lp
        |  FROM db CROSS JOIN vv
        |  LEFT JOIN uni ON db.w = uni.w
        |  LEFT JOIN big ON db.g = big.g
        |  GROUP BY 1
        |), pub AS (
        |  SELECT t.doc_id,
        |         CAST(coalesce(sc.n, 0) AS BIGINT) AS n_bigrams,
        |         CAST(coalesce(sc.lp, 0.0) AS REAL) AS lm_logprob
        |  FROM tr t LEFT JOIN sc ON t.doc_id = sc.doc_id
        |)
        |SELECT doc_id, n_bigrams, lm_logprob,
        |       CASE WHEN n_bigrams > 0 THEN
        |         CAST(exp(-CAST(lm_logprob AS DOUBLE) / n_bigrams) AS REAL)
        |       END AS lm_ppl
        |FROM pub ORDER BY doc_id""".stripMargin,
    // NB quality classifier: per-class counts re-derived from raw token
    // STRINGS; every weight is ln of exact-integer rationals, summed then
    // published as float32 on BOTH sides, and nb_keep derived FROM the
    // published float (ulp + sum-order absorbed — the q_lm_ppl contract)
    "q_nb_quality" ->
      """WITH pos AS (
        |  SELECT regexp_extract_all(lower(text), '\S+') AS ts
        |  FROM documents WHERE doc_id % 25 = 0
        |), neg AS (
        |  SELECT regexp_extract_all(lower(text), '\S+') AS ts
        |  FROM documents WHERE doc_id % 25 = 1
        |), tr AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ts
        |  FROM documents WHERE doc_id % 25 <> 0 AND doc_id % 25 <> 1
        |), cp AS (
        |  SELECT w, count(*) AS c FROM (SELECT unnest(ts) AS w FROM pos)
        |  GROUP BY 1
        |), cn AS (
        |  SELECT w, count(*) AS c FROM (SELECT unnest(ts) AS w FROM neg)
        |  GROUP BY 1
        |), tot AS (
        |  SELECT (SELECT coalesce(sum(c), 0) FROM cp) AS npos,
        |         (SELECT coalesce(sum(c), 0) FROM cn) AS nneg,
        |         (SELECT count(DISTINCT w) FROM (
        |            SELECT unnest(ts) AS w FROM pos
        |            UNION ALL SELECT unnest(ts) AS w FROM neg)) AS v,
        |         (SELECT ln(count(*)) FROM documents WHERE doc_id % 25 = 0)
        |           - (SELECT ln(count(*)) FROM documents WHERE doc_id % 25 = 1)
        |           AS prior
        |), db AS (
        |  SELECT doc_id, unnest(ts) AS w FROM tr
        |), sc AS (
        |  SELECT db.doc_id, count(*) AS n,
        |         sum(ln((coalesce(cp.c, 0) + 1.0) / (tot.npos + 1.0 * tot.v))
        |           - ln((coalesce(cn.c, 0) + 1.0) / (tot.nneg + 1.0 * tot.v)))
        |           AS sw
        |  FROM db CROSS JOIN tot
        |  LEFT JOIN cp ON db.w = cp.w
        |  LEFT JOIN cn ON db.w = cn.w
        |  GROUP BY 1
        |), pub AS (
        |  SELECT t.doc_id,
        |         CAST(coalesce(sc.n, 0) AS BIGINT) AS n_tokens,
        |         CAST(coalesce(sc.sw, 0.0) + tot.prior AS REAL) AS nb_logodds
        |  FROM tr t CROSS JOIN tot LEFT JOIN sc ON t.doc_id = sc.doc_id
        |)
        |SELECT doc_id, n_tokens, nb_logodds,
        |       nb_logodds > CAST(0.0 AS REAL) AS nb_keep
        |FROM pub ORDER BY doc_id""".stripMargin,
    // composed curation oracle: each stage's CTEs are copied from the
    // already-proven component oracles (q_dedup_exact's md5 keep rule,
    // q_doc_groups' recursive CC, q_contamination's 4-shingle hits,
    // q_quality's original-case ratios, q_repetition's lowercased n-gram
    // fractions); gate thresholds are decimal literals that parse to the
    // identical doubles in Scala and DuckDB, and every compared ratio is an
    // exact integer-over-integer division — so the booleans reproduce
    "q_curate" ->
      """WITH RECURSIVE tr AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 25 <> 0
        |), cbench AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0
        |), ex AS (
        |  SELECT doc_id,
        |         doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS keep_exact
        |  FROM tr
        |), ltk AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ts FROM tr
        |), shing AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(ts) < 3 THEN ts
        |    ELSE list_transform(range(1, len(ts) - 1),
        |                        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) END) AS s
        |  FROM ltk
        |), prs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         len(list_intersect(a.s, b.s)) AS inter,
        |         len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS uni
        |  FROM shing a, shing b WHERE a.doc_id < b.doc_id
        |), jp AS (
        |  SELECT doc_a, doc_b FROM prs
        |  WHERE inter > 0 AND CAST(inter AS DOUBLE) / uni >= 0.5
        |), e AS (
        |  SELECT doc_a AS a, doc_b AS b FROM jp
        |  UNION SELECT doc_b, doc_a FROM jp
        |), reach AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT reach.a, e.b FROM reach JOIN e ON reach.b = e.a
        |), allr AS (
        |  SELECT a, b FROM reach UNION SELECT a, a FROM e
        |), grp AS (
        |  SELECT a AS doc_id, min(b) AS group_rep FROM allr GROUP BY a
        |), tsh AS (
        |  SELECT DISTINCT doc_id, sh FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(ts) < 4 THEN ts
        |      ELSE list_transform(range(1, len(ts)-4+2),
        |                          i -> array_to_string(ts[i:i+3], ' ')) END) AS sh
        |    FROM ltk)
        |), bsh AS (
        |  SELECT DISTINCT sh FROM (
        |    SELECT unnest(CASE WHEN len(toks) < 4 THEN toks
        |      ELSE list_transform(range(1, len(toks)-4+2),
        |                          i -> array_to_string(toks[i:i+3], ' ')) END) AS sh
        |    FROM (SELECT regexp_extract_all(lower(text), '\S+') AS toks FROM cbench))
        |), hits AS (
        |  SELECT t.doc_id, count(*) AS n_hits FROM tsh t JOIN bsh b USING (sh)
        |  GROUP BY 1
        |), qt AS (
        |  SELECT doc_id,
        |         CAST(length(text) AS DOUBLE) AS n_chars,
        |         regexp_split_to_array(trim(text), '\s+') AS toks,
        |         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) AS punct
        |  FROM tr
        |), qu AS (
        |  SELECT doc_id,
        |         CAST(len(toks) AS BIGINT) AS n_tokens,
        |         punct / greatest(CAST(n_chars AS DOUBLE), 1.0) AS punct_ratio,
        |         CAST(len(list_distinct(toks)) AS DOUBLE)
        |           / greatest(CAST(len(toks) AS DOUBLE), 1.0) AS distinct_ratio
        |  FROM qt
        |), rbase AS (
        |  SELECT doc_id, len(ts) AS n, len(list_distinct(ts)) AS nd FROM ltk
        |), bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ts)),
        |    i -> ts[i] || ' ' || ts[i+1])) AS g
        |  FROM ltk WHERE len(ts) >= 2
        |), bgc AS (
        |  SELECT doc_id, max(c) AS topc
        |  FROM (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2) GROUP BY 1
        |), tg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ts)-1),
        |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS g
        |  FROM ltk WHERE len(ts) >= 3
        |), tgc AS (
        |  SELECT doc_id, count(*) AS cnt, count(DISTINCT g) AS dist FROM tg GROUP BY 1
        |), rep AS (
        |  SELECT b.doc_id,
        |    CASE WHEN b.n = 0 THEN 0.0
        |         ELSE CAST(b.n - b.nd AS DOUBLE) / b.n END AS dup_word_frac,
        |    CASE WHEN bgc.topc IS NULL THEN 0.0
        |         ELSE CAST(bgc.topc AS DOUBLE) / (b.n - 1) END AS top_bigram_frac,
        |    CASE WHEN tgc.cnt IS NULL THEN 0.0
        |         ELSE CAST(tgc.cnt - tgc.dist AS DOUBLE) / tgc.cnt END AS dup_trigram_frac
        |  FROM rbase b LEFT JOIN bgc USING (doc_id) LEFT JOIN tgc USING (doc_id)
        |)
        |SELECT tr.doc_id, qu.n_tokens, ex.keep_exact,
        |       (grp.group_rep IS NULL OR grp.group_rep = tr.doc_id) AS keep_neardup,
        |       coalesce(hits.n_hits, 0) = 0 AS clean_contam,
        |       (qu.n_tokens >= 15 AND qu.punct_ratio <= 0.2
        |        AND qu.distinct_ratio >= 0.35) AS pass_quality,
        |       (rep.dup_word_frac <= 0.65 AND rep.top_bigram_frac <= 0.08
        |        AND rep.dup_trigram_frac <= 0.01) AS pass_repetition,
        |       (ex.keep_exact
        |        AND (grp.group_rep IS NULL OR grp.group_rep = tr.doc_id)
        |        AND coalesce(hits.n_hits, 0) = 0
        |        AND qu.n_tokens >= 15 AND qu.punct_ratio <= 0.2
        |        AND qu.distinct_ratio >= 0.35
        |        AND rep.dup_word_frac <= 0.65 AND rep.top_bigram_frac <= 0.08
        |        AND rep.dup_trigram_frac <= 0.01) AS kept
        |FROM tr
        |JOIN ex USING (doc_id)
        |LEFT JOIN grp ON grp.doc_id = tr.doc_id
        |LEFT JOIN hits ON hits.doc_id = tr.doc_id
        |JOIN qu USING (doc_id)
        |JOIN rep USING (doc_id)
        |ORDER BY tr.doc_id""".stripMargin,
    "kg_nodes" ->
      s"""$kgBaseCte, n AS (
         |  SELECT 'Person|' || person_key AS id, 'Person' AS entity_type,
         |         person_key AS name FROM base
         |  UNION
         |  SELECT 'Nation|' || nation_key, 'Nation', nation_key FROM base
         |  UNION
         |  SELECT 'Order|' || o_orderkey, 'Order', CAST(o_orderkey AS VARCHAR) FROM base
         |)
         |SELECT DISTINCT sha256(id) AS guid, entity_type, name FROM n
         |ORDER BY entity_type, guid""".stripMargin,
    "kg_registry" ->
      s"""$kgBaseCte, m AS (
         |  SELECT 'Person' AS entity_type, person_key AS norm_key FROM base
         |  UNION
         |  SELECT 'Nation', nation_key FROM base
         |  UNION
         |  SELECT 'Order', CAST(o_orderkey AS VARCHAR) FROM base
         |)
         |SELECT DISTINCT entity_type, norm_key, norm_key AS canonical_key,
         |       sha256(entity_type || '|' || norm_key) AS guid
         |FROM m ORDER BY entity_type, norm_key""".stripMargin,
    "kg_reconstruct" ->
      s"""$kgBaseCte, t AS (
         |  SELECT 'conv-' || o_orderkey AS conv_id, 0 AS turn_idx, 'user' AS role,
         |         'My name is ' || name_sf || '.' AS text, '' AS tool FROM base
         |  UNION ALL
         |  SELECT 'conv-' || o_orderkey, 1, 'user',
         |         name_sf || ' lives in ' || n_name || '.', '' FROM base
         |  UNION ALL
         |  SELECT 'conv-' || o_orderkey, 3, 'tool',
         |         'lookup returned ' || o_orderpriority || ' for order ' || o_orderkey,
         |         'lookup' FROM base
         |  UNION ALL
         |  SELECT 'conv-' || o_orderkey, 4, 'user',
         |         name_sf || ' is ' || age || ' years old.', '' FROM base
         |  UNION ALL
         |  SELECT 'conv-' || o_orderkey, 5, 'assistant',
         |         'They ordered ' || items || ' items.', '' FROM base
         |)
         |SELECT conv_id, turn_idx, role, text, tool FROM t
         |ORDER BY conv_id, turn_idx""".stripMargin,
    "kg_mentions" ->
      s"""$kgBaseCte
         |SELECT 'conv-' || o_orderkey AS conv_id, CAST(1 AS BIGINT) AS n_persons
         |FROM base ORDER BY conv_id""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        |       count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_window_events" ->
      """SELECT event_id, user_id, event_type,
        |       CAST(row_number() OVER w AS INT) AS rn,
        |       value - lag(value, 1) OVER w AS dv
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, rn""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_topk_parts" ->
      """SELECT l_partkey,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                 * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem GROUP BY l_partkey
        |ORDER BY revenue DESC, l_partkey ASC LIMIT 10""".stripMargin,
    "q_setops" ->
      """WITH c AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
        |     s AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
        |SELECT nationkey, 'both' AS which FROM (SELECT * FROM c INTERSECT SELECT * FROM s)
        |UNION ALL
        |SELECT nationkey, 'customer_only' FROM (SELECT * FROM c EXCEPT SELECT * FROM s)
        |UNION ALL
        |SELECT nationkey, 'supplier_only' FROM (SELECT * FROM s EXCEPT SELECT * FROM c)
        |ORDER BY which, nationkey""".stripMargin,
    "q_scalar_funcs" ->
      """SELECT p_partkey,
        |       lower(p_name) AS name_lower,
        |       substring(p_type, 1, 5) AS type_prefix,
        |       concat_ws('|', p_brand, p_type) AS brand_type,
        |       CAST(length(p_name) AS INT) AS name_len,
        |       p_size * 2 + 1 AS size_calc,
        |       CASE WHEN p_retailprice > 1500 THEN 'premium' ELSE 'standard' END AS tier
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_date_funcs" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mo,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keep_doc_id, count(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY text_md5""".stripMargin,
    "q_token_stats" ->
      """SELECT doc_id,
        |       CAST(length(text) AS INT) AS n_chars_m,
        |       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
        |       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n_subwords,
        |       CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS INT) AS n_distinct_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_quality" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(length(text) AS DOUBLE) AS n_chars,
        |         regexp_split_to_array(trim(text), '\s+') AS toks,
        |         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) AS punct
        |  FROM documents
        |), u AS (
        |  SELECT doc_id, n_chars, punct,
        |         CAST(len(toks) AS DOUBLE) AS n_toks,
        |         CAST(len(list_filter(toks, x -> lower(x) IN
        |           ('the','a','an','and','or','of','to','in','is','for','on','with','at','by')))
        |           AS DOUBLE) AS stop,
        |         CAST(len(list_distinct(toks)) AS DOUBLE) AS dtoks
        |  FROM t
        |)
        |SELECT doc_id,
        |       CAST(n_toks AS BIGINT) AS n_tokens,
        |       punct / greatest(n_chars, 1.0) AS punct_ratio,
        |       stop / greatest(n_toks, 1.0) AS stopword_ratio,
        |       dtoks / greatest(n_toks, 1.0) AS distinct_ratio,
        |       least(n_toks / 64.0, 1.0) * 0.4
        |         + (1.0 - least(punct / greatest(n_chars, 1.0), 1.0)) * 0.2
        |         + least(stop / greatest(n_toks, 1.0) * 4.0, 1.0) * 0.2
        |         + (dtoks / greatest(n_toks, 1.0)) * 0.2 AS quality_score
        |FROM u ORDER BY doc_id""".stripMargin,
    "q_lang_id" ->
      """WITH s AS (
        |  SELECT doc_id, lang AS lang_tag,
        |         regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents
        |), sc AS (
        |  SELECT doc_id, lang_tag,
        |    CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to','is','in','that','it','for'))) AS INT) AS score_en,
        |    CAST(len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','por','con','los'))) AS INT) AS score_es,
        |    CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist','von','mit','den','nicht','ein'))) AS INT) AS score_de,
        |    CAST(len(list_filter(toks, x -> x IN ('le','la','les','de','et','est','un','une','dans','pour'))) AS INT) AS score_fr,
        |    CAST(len(list_filter(toks, x -> x IN ('de','shi','le','bu','wo','zai','you','he','ren','ta'))) AS INT) AS score_zh
        |  FROM s
        |)
        |SELECT doc_id, lang_tag,
        |  CASE
        |    WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr AND score_de >= score_zh THEN 'de'
        |    WHEN score_en >= score_es AND score_en >= score_fr AND score_en >= score_zh THEN 'en'
        |    WHEN score_es >= score_fr AND score_es >= score_zh THEN 'es'
        |    WHEN score_fr >= score_zh THEN 'fr'
        |    ELSE 'zh' END AS pred_lang,
        |  score_en, score_es, score_de, score_fr, score_zh
        |FROM sc ORDER BY doc_id""".stripMargin,
    "q_scrub" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      'https?://[^\s]+', '<URL>', 'g'),
        |      '[0-9]{9,}', '<NUM>', 'g') AS cleaned,
        |    text
        |  FROM documents
        |)
        |SELECT doc_id,
        |       regexp_replace(trim(cleaned), '\s+', ' ', 'g') AS clean_text,
        |       CAST(length(text) - length(regexp_replace(cleaned, '<(EMAIL|URL|NUM)>', '', 'g')) AS INT) AS masked_chars
        |FROM c ORDER BY doc_id""".stripMargin,
    "q_top_terms" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
        |), dft AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), scored AS (
        |  SELECT doc_id, term, tf, df,
        |         CAST(tf AS DOUBLE) * ((SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) FROM documents) / CAST(df AS DOUBLE)) AS score
        |  FROM tf JOIN dft USING (term)
        |), ranked AS (
        |  SELECT doc_id, term, tf, df, score,
        |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS term_rank
        |  FROM scored
        |)
        |SELECT doc_id, term, tf, df, score, term_rank FROM ranked
        |WHERE term_rank <= 3 ORDER BY doc_id, term_rank""".stripMargin,
    "q_knn" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0
        |), scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |         list_cosine_similarity(q.qe, e.embedding) AS cos
        |  FROM q, embeddings e WHERE e.vec_id <> q.query_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id,
        |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // int8 quantization codes: the per-dim min/max refit via DuckDB's
    // zipped unnest + generate_subscripts, then the identical fixed-order
    // double expression (flat dims guarded against the inf that a raw
    // divide-by-zero floor would clamp to 255)
    "q_quantize" ->
      """WITH el AS (
        |  SELECT vec_id, unnest(embedding) AS v,
        |         generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings
        |), mm AS (
        |  SELECT pos, min(v) AS mn, max(v) AS mx FROM el GROUP BY pos
        |)
        |SELECT el.vec_id, CAST(el.pos - 1 AS INT) AS pos,
        |  CAST(CASE WHEN mm.mx = mm.mn THEN 0
        |       ELSE least(greatest(floor((CAST(el.v AS DOUBLE) - CAST(mm.mn AS DOUBLE)) * 255.0
        |            / (CAST(mm.mx AS DOUBLE) - CAST(mm.mn AS DOUBLE))), 0), 255) END AS INT) AS code
        |FROM el JOIN mm USING (pos)
        |ORDER BY vec_id, pos""".stripMargin,
    // quantized ANN: rebuild the dequantized corpus in SQL (same double
    // expression rounded once to float32) and rank with the q_knn chain
    "q_knn_q8" ->
      """WITH el AS (
        |  SELECT vec_id, unnest(embedding) AS v,
        |         generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings
        |), mm AS (
        |  SELECT pos, min(v) AS mn, max(v) AS mx FROM el GROUP BY pos
        |), mml AS (
        |  SELECT list(mn ORDER BY pos) AS mnl, list(mx ORDER BY pos) AS mxl FROM mm
        |), dq AS (
        |  SELECT vec_id, list_transform(range(1, len(embedding)+1),
        |    i -> CAST(CAST(mnl[i] AS DOUBLE) +
        |         (CASE WHEN mxl[i] = mnl[i] THEN 0
        |          ELSE least(greatest(floor((CAST(embedding[i] AS DOUBLE) - CAST(mnl[i] AS DOUBLE)) * 255.0
        |               / (CAST(mxl[i] AS DOUBLE) - CAST(mnl[i] AS DOUBLE))), 0), 255) END)
        |         * (CAST(mxl[i] AS DOUBLE) - CAST(mnl[i] AS DOUBLE)) / 255.0 AS FLOAT)) AS de
        |  FROM embeddings, mml
        |), q AS (
        |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0
        |), scored AS (
        |  SELECT q.query_id, d.vec_id AS neighbor_id,
        |         list_cosine_similarity(q.qe, d.de) AS cos
        |  FROM q, dq d WHERE d.vec_id <> q.query_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id,
        |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    "q_fingerprint" ->
      s"""WITH $fnvCte, $simhashCte
         |SELECT f.doc_id,
         |  CAST(CASE WHEN f.h >= CAST(9223372036854775808 AS HUGEINT)
         |    THEN f.h - CAST(18446744073709551616 AS HUGEINT) ELSE f.h END AS BIGINT) AS fp,
         |  simh.sh AS sh
         |FROM fnv f JOIN simh ON f.doc_id = simh.doc_id
         |ORDER BY f.doc_id""".stripMargin,
    "q_simhash_pairs" ->
      s"""WITH $simhashCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
         |FROM simh a, simh b
         |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sh, b.sh)) <= 7
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_minhash_pairs" -> jaccardPairsSql,
    "q_triangles" -> trianglesSql,
    "q_khop" -> kHopSql,
    // delta dedup: batch = doc_id % 10 = 0, corpus = the rest
    "q_dedup_delta" ->
      """WITH batch AS (
        |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 = 0
        |), corp AS (
        |  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 <> 0
        |), firsts AS (
        |  SELECT h, min(doc_id) AS first_id FROM batch GROUP BY h
        |)
        |SELECT b.doc_id,
        |  CASE WHEN c.h IS NOT NULL THEN 'corpus'
        |       WHEN b.doc_id > f.first_id THEN 'batch'
        |       ELSE 'unique' END AS dup_kind
        |FROM batch b LEFT JOIN corp c ON b.h = c.h JOIN firsts f ON b.h = f.h
        |ORDER BY b.doc_id""".stripMargin,
    // the >= 0.5 pair set restricted to pairs touching the batch slice —
    // the stateless delta op must equal the full op filtered to new-involved
    "q_neardup_delta" ->
      s"""WITH $jaccardCtes
         |SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / uni AS jaccard
         |FROM pairs
         |WHERE inter > 0 AND CAST(inter AS DOUBLE) / uni >= 0.5
         |  AND (doc_a % 10 = 0 OR doc_b % 10 = 0)
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_doc_groups" -> docGroupsSql,
    // split_cell = pmod(SIGNED fnv-1a of the decimal id string, 100),
    // mirrored in HUGEINT arithmetic (signed fold, then pmod)
    "q_sample_split" ->
      """WITH f AS (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |      list_transform(range(1, length(CAST(doc_id AS VARCHAR))+1),
        |        i -> CAST(ord(CAST(doc_id AS VARCHAR)[i]) AS HUGEINT))),
        |    (h, b) -> (xor(h, b) * 1099511628211) % CAST(18446744073709551616 AS HUGEINT)) AS hu
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    CASE WHEN hu >= CAST(9223372036854775808 AS HUGEINT)
        |         THEN hu - CAST(18446744073709551616 AS HUGEINT) ELSE hu END AS hs
        |  FROM f
        |), cellt AS (
        |  SELECT doc_id, CAST(((hs % 100) + 100) % 100 AS INT) AS split_cell FROM g
        |)
        |SELECT doc_id, split_cell,
        |  CASE WHEN split_cell < 80 THEN 'train'
        |       WHEN split_cell < 90 THEN 'val' ELSE 'test' END AS split
        |FROM cellt ORDER BY doc_id""".stripMargin,
    "q_subgraph_stats" ->
      """SELECT CAST(3 + CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END
        |            + CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END AS BIGINT) AS num_of_triples,
        |       CAST(2 AS BIGINT) AS distinct_subjects_ref,
        |       CAST(3 AS INT) AS distinct_subjects_fixed,
        |       count(*) AS n_subgraphs
        |FROM orders GROUP BY 1, 2, 3 ORDER BY num_of_triples""".stripMargin,
    "q_embed_neardup" ->
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.30
        |ORDER BY vec_a, vec_b""".stripMargin,
    // brute-force >= 0.5 cosine pairs -> recursive-CTE connected components
    // (min-id rep, the q_doc_groups pattern) -> left join back onto the
    // full corpus so singletons carry themselves as rep and kept=true
    "q_semdedup" ->
      """WITH RECURSIVE p AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb
        |  FROM embeddings a, embeddings b
        |  WHERE a.vec_id < b.vec_id
        |    AND list_cosine_similarity(a.embedding, b.embedding) >= 0.5
        |), e AS (
        |  SELECT va AS a, vb AS b FROM p UNION SELECT vb, va FROM p
        |), reach AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT reach.a, e.b FROM reach JOIN e ON reach.b = e.a
        |), allr AS (
        |  SELECT a, b FROM reach UNION SELECT a, a FROM e
        |), reps AS (
        |  SELECT a AS vid, min(b) AS group_rep FROM allr GROUP BY a
        |)
        |SELECT v.vec_id,
        |       COALESCE(r.group_rep, v.vec_id) AS group_rep,
        |       v.vec_id = COALESCE(r.group_rep, v.vec_id) AS kept
        |FROM embeddings v LEFT JOIN reps r ON v.vec_id = r.vid
        |ORDER BY vec_id""".stripMargin,
    "q_media_features" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(list_transform(range(1, length(text)+1), i -> ord(text[i]))) AS byte
        |  FROM documents
        |)
        |SELECT d.doc_id AS media_id,
        |       CASE CAST(d.doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |       CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
        |       CAST(e.ent AS REAL) AS byte_entropy
        |FROM documents d
        |JOIN (SELECT doc_id, entropy(byte) AS ent FROM ch GROUP BY 1) e ON d.doc_id = e.doc_id
        |ORDER BY media_id""".stripMargin,
    // salted-FNV stratified sampling: same HUGEINT mod-2^64 fold as
    // q_sample_split over "source|doc_id", pmod 10^6, per-source threshold
    "q_stratified" ->
      """WITH k AS (
        |  SELECT doc_id, source, source || '|' || CAST(doc_id AS VARCHAR) AS ks
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, source, list_reduce(
        |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |      list_transform(range(1, length(ks)+1),
        |        i -> CAST(ord(ks[i]) AS HUGEINT))),
        |    (h, b) -> (xor(h, b) * 1099511628211) % CAST(18446744073709551616 AS HUGEINT)) AS hu
        |  FROM k
        |), g AS (
        |  SELECT doc_id, source,
        |    CASE WHEN hu >= CAST(9223372036854775808 AS HUGEINT)
        |         THEN hu - CAST(18446744073709551616 AS HUGEINT) ELSE hu END AS hs
        |  FROM f
        |), cellt AS (
        |  SELECT doc_id, source,
        |    CAST(((hs % 1000000) + 1000000) % 1000000 AS BIGINT) AS sample_cell
        |  FROM g
        |)
        |SELECT doc_id, source, sample_cell FROM cellt
        |WHERE sample_cell < CASE source WHEN 'src0' THEN 900000
        |                                WHEN 'src1' THEN 500000
        |                                ELSE 200000 END
        |ORDER BY doc_id""".stripMargin,
    "q_frame_sample" ->
      """WITH media AS (
        |  SELECT doc_id AS media_id, doc_id % 90000 + 1000 AS duration_ms
        |  FROM documents WHERE CAST(doc_id % 3 AS INT) = 2
        |), frames AS (
        |  SELECT media_id, unnest(generate_series(0, CAST(duration_ms // 10000 AS BIGINT))) AS frame_idx
        |  FROM media
        |), keyed AS (
        |  SELECT media_id, frame_idx, frame_idx * 10000 AS frame_ts_ms,
        |         media_id || ':' || frame_idx AS ks
        |  FROM frames
        |), hashed AS (
        |  SELECT media_id, frame_idx, frame_ts_ms, list_reduce(
        |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |      list_transform(range(1, length(ks)+1), i -> CAST(ord(ks[i]) AS HUGEINT))),
        |    (h, b) -> (xor(h, b) * 1099511628211) % CAST(18446744073709551616 AS HUGEINT)) AS h
        |  FROM keyed
        |)
        |SELECT media_id, CAST(frame_idx AS INT) AS frame_idx, frame_ts_ms,
        |  CAST(CASE WHEN h >= CAST(9223372036854775808 AS HUGEINT)
        |    THEN h - CAST(18446744073709551616 AS HUGEINT) ELSE h END AS BIGINT) AS frame_key
        |FROM hashed ORDER BY media_id, frame_idx""".stripMargin,
    "q_rollup" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_media_meta" ->
      """SELECT doc_id AS media_id,
        |       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |       CAST(doc_id % 640 + 16 AS INT) AS width,
        |       CAST(doc_id % 480 + 16 AS INT) AS height,
        |       doc_id % 90000 + 1000 AS duration_ms
        |FROM documents ORDER BY media_id""".stripMargin
  )
}
