package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.kg._
import graft.model.Model.Turn
import graft.perfbench.Bench.{Args, Attempt, Outcome}

/** `kg_converge`: batches arrive one after another into one graph. Each
  * batch is ingested by `Incremental.run` (fresh run id, exact linking, two
  * buckets in flight) and then converged by `Incremental.resolveDisjoint`
  * with `graft.Main --resolve`'s defaults (MinHash/LSH, threshold 0.7).
  *
  * Input (the ResolverBench shape, names hashed from the seed): 3-turn
  * conversations; each batch introduces about half its conversation count
  * of new 3-word person names, and every third conversation speaks as a
  * `" jr"` alias of a person of the previous batch (batch 0: its own).
  *
  * Check: the converged graph must equal the plain-Scala
  * [[graft.kg.Oracle]] (exact linking) run with a dictionary that maps each
  * planted alias the resolver merged onto its base name. Any lost or extra
  * edge or node, any false merge, and any edge whose GUID has no node fails
  * the unit. Planted merges the resolver missed are allowed (LSH is
  * approximate) and show in `merge_recall`. */
object KgConverge {

  val ConvsPerBatch = 1500
  val Batches = 2
  val Buckets = 2
  val InFlight = 2
  val WarmConvs = 200
  val SetupReps = 2
  val ResolveCfg: Link.Config = Link.Config(fuzzy = true, exactSameAs = false,
    jaccardThreshold = 0.7)
  val IngestCfg: Link.Config = Link.Config(fuzzy = false)
  private val Nations = Array("france", "japan", "brazil", "kenya", "canada")

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Three hash-random 6-letter words per person id, salted by the seed. */
  def nameOf(seed: Long, pid: Long): String = {
    val salt = mix(seed)
    (1 to 3).map { n =>
      val h = mix(salt ^ (pid * 4 + n))
      (0 until 6).map(k => ('a' + ((h >>> (k * 5)) & 31) % 26).toChar).mkString
    }.mkString(" ")
  }

  /** Turns of batch `b`, and its planted aliases (alias key -> base key). */
  def batch(seed: Long, b: Int, convs: Int, tag: String): (Seq[Turn], Map[String, String]) = {
    // half the conversations' worth of persons, not a multiple of 3, so every
    // person's base name is spoken by some non-alias conversation
    val ppb = { val p = convs / 2; if (p % 3 == 0) p - 1 else p }
    val t0 = 1704067200000L
    val aliases = Map.newBuilder[String, String]
    val turns = (0L until convs.toLong).flatMap { id =>
      val isAlias = id % 3 == 0
      val pid =
        if (isAlias) math.max(b - 1, 0).toLong * ppb + (id / 3) % ppb
        else b.toLong * ppb + id % ppb
      val name = nameOf(seed, pid)
      val surface = if (isAlias) name + " jr" else name
      if (isAlias) aliases += (surface -> name)
      val conv = s"$tag-$b-$id"
      Seq(
        Turn(conv, 0, "user", s"My name is $surface.", "", new java.sql.Timestamp(t0)),
        Turn(conv, 1, "user", s"$surface lives in ${Nations((pid % 5).toInt)}.", "",
          new java.sql.Timestamp(t0 + 1000)),
        Turn(conv, 2, "user", s"$surface is ${pid % 60 + 18} years old.", "",
          new java.sql.Timestamp(t0 + 2000)))
    }
    (turns, aliases.result())
  }

  final case class Fixture(batches: Seq[String], warm: String, turns: Seq[Turn],
      aliases: Map[String, String], rows: Long)

  def fixture(spark: SparkSession, seed: Long, dir: Path): Fixture = {
    import spark.implicits._
    val gen = (0 until Batches).map(b => batch(seed, b, ConvsPerBatch, "c"))
    val paths = gen.zipWithIndex.map { case ((ts, _), b) =>
      val p = dir.resolve(s"batch-$b").toString
      ts.toDS().write.mode("overwrite").parquet(p)
      p
    }
    val warm = dir.resolve("warm").toString
    batch(seed ^ 0x77L, 0, WarmConvs, "w")._1.toDS().write.mode("overwrite").parquet(warm)
    val turns = gen.flatMap(_._1)
    Fixture(paths, warm, turns, gen.map(_._2).reduce(_ ++ _), turns.size.toLong)
  }

  private def read(spark: SparkSession, p: String): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(p).as[Turn]
  }

  /** The untraced unit: every batch ingested and resolved, in order. */
  def converge(spark: SparkSession, batches: Seq[String], out: Path): Seq[Double] =
    batches.zipWithIndex.map { case (p, b) =>
      val t0 = System.nanoTime()
      Incremental.run(read(spark, p), Pipeline.emptyDict(spark), out.toString,
        s"batch-$b", nBuckets = Buckets, linkCfg = IngestCfg,
        maxConcurrentBuckets = InFlight)
      Incremental.resolveDisjoint(spark, out.toString, ResolveCfg)
      Bench.secondsSince(t0)
    }

  // ---- check -----------------------------------------------------------

  def edgeRows(df: DataFrame): Set[Oracle.EdgeRow] =
    df.collect().map { r =>
      Oracle.EdgeRow(
        r.getAs[String]("subj_type"), r.getAs[String]("subj_guid"),
        r.getAs[String]("pred"), r.getAs[String]("obj_kind"),
        Option(r.getAs[String]("obj_type")), Option(r.getAs[String]("obj_guid")),
        Option(r.getAs[String]("obj_string")),
        Option(r.getAs[java.lang.Long]("obj_int64")).map(_.longValue),
        Option(r.getAs[java.lang.Double]("obj_float64")).map(_.doubleValue))
    }.toSet

  def nodeRows(df: DataFrame): Set[Oracle.NodeRow] =
    df.collect().map(r => Oracle.NodeRow(r.getAs[String]("guid"),
      r.getAs[String]("entity_type"), r.getAs[String]("name"))).toSet

  /** (ok, merge recall, detail) of the converged graph under `out`. */
  def check(spark: SparkSession, fx: Fixture, out: Path): (Boolean, Double, String) = {
    val edges = edgeRows(Materialize.readTable(spark, s"$out/edges").get)
    val nodes = nodeRows(Materialize.readTable(spark, s"$out/nodes").get)
    val persons = nodes.filter(_.entity_type == "Person").map(_.name)
    val found = fx.aliases.filter { case (alias, base) =>
      !persons.contains(alias) && persons.contains(base) }
    val dict = found.map { case (alias, base) => ("Person", alias) -> base }
    val (refE, refN) = Oracle.run(fx.turns, dict, fuzzy = false)
    val guids = nodes.map(_.guid)
    val dangling = edges.count(e => !guids.contains(e.subj_guid) ||
      e.obj_guid.exists(g => !guids.contains(g)))
    val missE = (refE -- edges).size
    val extraE = (edges -- refE).size
    val missN = (refN -- nodes).size
    val extraN = (nodes -- refN).size
    val ok = missE == 0 && extraE == 0 && missN == 0 && extraN == 0 && dangling == 0
    (ok, found.size.toDouble / fx.aliases.size,
      s"edges=${edges.size}/${refE.size} missing=$missE extra=$extraE " +
        s"nodes=${nodes.size}/${refN.size} missing=$missN extra=$extraN " +
        s"dangling=$dangling merged=${found.size}/${fx.aliases.size}")
  }

  // ---- traced composition ----------------------------------------------

  /** Run `a` on a new thread (which inherits this thread's job group) and
    * `b` here; wait for both, then rethrow the first failure. */
  private def both(a: () => Unit, b: () => Unit): Unit = {
    var err: Throwable = null
    val t = new Thread(() => try a() catch { case e: Throwable => err = e })
    t.start()
    val rb = scala.util.Try(b())
    t.join()
    if (err != null) throw err
    rb.get
  }

  private val nodeKey = Seq("guid", "entity_type")

  private def compactDue(table: String): Boolean =
    Materialize.currentManifest(table).exists(m => m.deltas.size + m.tombs.size >= 8)

  /** `Incremental.run` rebuilt from its public parts, one span per layer
    * call, each layer's output forced at its boundary. */
  def tracedIngest(tr: Tracer, spark: SparkSession, turns: Dataset[Turn],
      out: Path, runId: String): Unit = tr.span("kg.Incremental") {
    import spark.implicits._
    val parent = tr.current
    Files.createDirectories(out)
    val (edgesT, nodesT) = (s"$out/edges", s"$out/nodes")
    val input = turns.localCheckpoint(eager = true)
    tr.add("trace.turns", input.count().toDouble)
    val dict = Pipeline.emptyDict(spark)

    def bucket(b: Int): Unit = {
      val t0 = System.currentTimeMillis()
      val slice = input.filter(pmod(hash(col("conv_id")), lit(Buckets)) === b).as[Turn]
      val raw = tr.span("kg.Extract") {
        val r = Extract.extract(slice).persist(StorageLevel.MEMORY_AND_DISK_SER)
        tr.add("trace.triples", r.count().toDouble)
        r
      }
      val (reg, hint) = tr.span("kg.Link.registry") {
        val (regRaw, free) = Link.registryManaged(raw, dict, IngestCfg)
        val reg = regRaw.localCheckpoint(eager = true)
        free()
        val sized = reg.agg(count(lit(1)),
          sum(length(col("entity_type")) + length(col("norm_key"))
            + length(col("canonical_key")) + length(col("guid")))).head()
        val rows = sized.getLong(0)
        val bytes = if (sized.isNullAt(1)) 0L else sized.getLong(1)
        tr.add("kg.Link.registry_rows", rows.toDouble)
        (reg, rows <= IngestCfg.maxBroadcastRegistryRows &&
          bytes <= IngestCfg.maxBroadcastRegistryBytes)
      }
      if (hint) tr.add("trace.label_broadcast", 1.0)
      val labeled = tr.span("kg.Link.label") {
        Link.label(raw, reg, hintBroadcast = hint).localCheckpoint(eager = true)
      }
      raw.unpersist()
      tr.span("kg.Materialize.append") {
        both(
          () => Materialize.appendDelta(spark, edgesT, Materialize.edges(labeled),
            Materialize.edgeKey, compactEvery = 0, dedupStaged = false),
          () => Materialize.appendDelta(spark, nodesT, Materialize.nodes(reg),
            nodeKey, compactEvery = 0, dedupStaged = false))
      }
      labeled.unpersist()
      reg.unpersist()
      Incremental.appendCheckpoint(spark, out.toString,
        Incremental.Checkpoint(runId, "pipeline", b, "done", -1L, -1L, t0,
          System.currentTimeMillis()))
      // appendDelta's own policy: fold once 8 deltas are live
      if (compactDue(edgesT) || compactDue(nodesT)) tr.span("kg.Materialize.compact") {
        both(() => if (compactDue(edgesT)) Materialize.compact(spark, edgesT),
          () => if (compactDue(nodesT)) Materialize.compact(spark, nodesT))
      }
    }

    val pool = java.util.concurrent.Executors.newFixedThreadPool(InFlight)
    try {
      val fs = (0 until Buckets).map(b =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = tr.span("kg.bucket", parent)(bucket(b))
        }))
      val rs = fs.map(f => scala.util.Try(f.get()))
      rs.foreach(_.get)
    } finally pool.shutdown()
    tr.span("kg.Materialize.compact") {
      both(() => Materialize.compact(spark, edgesT), () => Materialize.compact(spark, nodesT))
    }
    input.unpersist()
    ()
  }

  /** `Incremental.resolveDisjoint` (LSH path, delta watermark) rebuilt from
    * public parts; the watermark lives in its own table under `out`. */
  def tracedResolve(tr: Tracer, spark: SparkSession, out: Path): Unit =
    tr.span("kg.Incremental") {
      import spark.implicits._
      val cfg = ResolveCfg
      val (edgesT, nodesT) = (s"$out/edges", s"$out/nodes")
      val wm = s"$out/_trace_resolve/resolved_keys"
      Seq(edgesT, nodesT).foreach { t =>
        tr.add("trace.fanin_dirs",
          Materialize.currentManifest(t).map(_.allDirs.size).getOrElse(0).toDouble)
        tr.add("trace.fanin_reads", 1.0)
      }
      val nodes = Materialize.readTable(spark, nodesT).get
      val edges = Materialize.readTable(spark, edgesT).get
      val oldKeys = Materialize.readTable(spark, wm)
      val eligibleAll = nodes.filter(col("entity_type").isin(cfg.fuzzyTypes: _*))
        .select(col("entity_type"), col("name").as("dict_key")).distinct()
      val flagged = (oldKeys match {
        case Some(old) =>
          eligibleAll.join(old.select(col("entity_type"), col("dict_key"), lit(1).as("_seen")),
            Seq("entity_type", "dict_key"), "left")
            .select(col("entity_type"), col("dict_key"), col("_seen").isNull.as("is_new"))
        case None =>
          eligibleAll.select(col("entity_type"), col("dict_key"), lit(true).as("is_new"))
      }).localCheckpoint(eager = true)

      tr.span("perfbench.aux") {
        // candidate count of the LSH blocking (Link.bandSignature, the band
        // cap, the delta split), for the sameas yield; not a layer's time
        val banded = flagged.as[(String, String, Boolean)].flatMap { case (et, k, isNew) =>
          Link.bandSignature(k, cfg.numHashes, cfg.bands).map { case (b, h) => (et, k, isNew, b, h) }
        }.toDF("et", "k", "n", "b", "h")
        val w = org.apache.spark.sql.expressions.Window.partitionBy("et", "b", "h")
        val capped = banded.withColumn("c", count(lit(1)).over(w))
          .filter(col("c") <= cfg.maxBandBucket).drop("c").localCheckpoint(eager = true)
        def j(l: DataFrame, r: DataFrame) = l.as("x").join(r.as("y"),
          $"x.et" === $"y.et" && $"x.b" === $"y.b" && $"x.h" === $"y.h" && $"x.k" < $"y.k")
          .select($"x.et", $"x.k".as("ka"), $"y.k".as("kb"))
        val cand = j(capped.filter($"n"), capped)
          .unionByName(j(capped.filter(!$"n"), capped.filter($"n"))).distinct().count()
        tr.add("kg.Link.sameas_candidates", cand.toDouble)
        capped.unpersist()
      }

      val lshSeq = graft.ops.CapMetrics.seqOf("link.lsh")
      val (sameAs, freeDiscovery) = tr.span("kg.Link.sameas") {
        val (sa, free) = Link.fuzzySameAsManaged(flagged, cfg, delta = true)
        val forced = sa.localCheckpoint(eager = true)
        tr.add("trace.sameas_verified", forced.count().toDouble)
        (forced, free)
      }
      if (graft.ops.CapMetrics.seqOf("link.lsh") > lshSeq)
        tr.add("kg.Link.lsh_dropped_rows",
          graft.ops.CapMetrics.latest("link.lsh").getOrElse("dropped_rows", 0L).toDouble)
      val cc = tr.span("kg.Canonicalize") {
        val c = Canonicalize.connectedComponents(
            sameAs.select(col("entity_type"), col("key_a"), col("key_b")))
          .select(col("entity_type").as("cc_et"), col("key").as("cc_key"), col("component"))
          .localCheckpoint(eager = true)
        tr.add("kg.Canonicalize.components",
          c.select("cc_et", "component").distinct().count().toDouble)
        c
      }
      tr.span("kg.Materialize.rewrite") {
        val rewrite = nodes.join(cc,
            nodes("entity_type") === cc("cc_et") && nodes("name") === cc("cc_key"))
          .filter(col("name") =!= col("component"))
          .select(col("guid").as("old_guid"),
            Link.guidFor(col("entity_type"), col("component")).as("new_guid"),
            col("name").as("old_name"), col("component").as("new_name"))
          .localCheckpoint(eager = true)
        val n = rewrite.count()
        if (n > 0L) {
          def bc(df: DataFrame) = if (n <= cfg.maxBroadcastRegistryRows) broadcast(df) else df
          val rwS = bc(rewrite.select(col("old_guid").as("s_old"), col("new_guid").as("s_new")))
          val rwO = bc(rewrite.select(col("old_guid").as("o_old"), col("new_guid").as("o_new")))
          both(
            () => {
              val affected = edges.join(rwS, col("subj_guid") === col("s_old"), "left")
                .join(rwO, col("obj_guid") === col("o_old"), "left")
                .filter(col("s_new").isNotNull || col("o_new").isNotNull)
                .localCheckpoint(eager = true)
              val upserts = affected.select(col("subj_type"),
                coalesce(col("s_new"), col("subj_guid")).as("subj_guid"),
                col("pred"), col("obj_kind"), col("obj_type"),
                coalesce(col("o_new"), col("obj_guid")).as("obj_guid"),
                col("obj_string"), col("obj_int64"), col("obj_float64"))
              Materialize.appendRewrite(spark, edgesT, upserts,
                affected.select(Materialize.edgeKey.map(col): _*), Materialize.edgeKey)
              affected.unpersist()
            },
            () => {
              val affected = nodes.join(bc(rewrite.select(col("old_guid"), col("new_guid"),
                  col("new_name"))), col("guid") === col("old_guid"))
                .localCheckpoint(eager = true)
              Materialize.appendRewrite(spark, nodesT,
                affected.select(col("new_guid").as("guid"), col("entity_type"),
                  col("new_name").as("name")),
                affected.select(col("guid"), col("entity_type")), nodeKey)
              affected.unpersist()
            })
        }
        rewrite.unpersist()
      }
      freeDiscovery()
      sameAs.unpersist()
      cc.unpersist()

      val wmKey = Seq("entity_type", "dict_key")
      val after = Materialize.readTable(spark, nodesT).get
        .filter(col("entity_type").isin(cfg.fuzzyTypes: _*))
        .select(col("entity_type"), col("name").as("dict_key")).distinct()
      oldKeys match {
        case Some(old) =>
          Materialize.appendRewrite(spark, wm,
            after.join(old.select(wmKey.map(col): _*), wmKey, "left_anti"),
            old.select(wmKey.map(col): _*).join(after, wmKey, "left_anti"), wmKey)
        case None =>
          Materialize.mergeSnapshot(spark, wm, after, wmKey, replace = true)
      }
      flagged.unpersist()
      ()
    }

  def run(a: Args): Outcome = {
    val dir = a.work.resolve("kg_converge")
    var fx: Fixture = null
    var warmN = 0
    val (spark, setupS) = Bench.timedSetup(a, SetupReps) { s =>
      val f0 = System.nanoTime()
      fx = fixture(s, a.seed, dir)
      println(f"[perfbench] fixture ${Bench.secondsSince(f0)}%.2f s")
      warmN += 1
      converge(s, Seq(fx.warm), dir.resolve(s"warm-$warmN"))
      ()
    }

    def unit(i: Int): Attempt = {
      val out = dir.resolve(s"unit-$i")
      val t0 = System.nanoTime()
      val lags = converge(spark, fx.batches, out)
      val wall = Bench.secondsSince(t0)
      val c0 = System.nanoTime()
      val (ok, recall, detail) = check(spark, fx, out)
      Attempt(ok, wall, lags, recall,
        f"$detail lags=${lags.map(x => f"$x%.2f").mkString(",")} check=${Bench.secondsSince(c0)}%.2fs")
    }

    if (!a.trace) {
      val atts = Bench.closedLoop(a.seconds, min = 1)(unit)
      val ok = atts.filter(_.ok)
      def med(f: Attempt => Seq[Double]) =
        if (ok.isEmpty) Double.NaN else Bench.median(ok.flatMap(f))
      val wall = med(x => Seq(x.wallS))
      Outcome(atts, Map(
        "setup_s" -> (setupS, "s"),
        "wall_s" -> (wall, "s"),
        "rows_per_s" -> (fx.rows / wall, "1/s"),
        "batch_lag_s" -> (med(_.batchLagsS), "s"),
        "merge_recall" -> (med(x => Seq(x.recall)), "ratio")))
    } else {
      val plain = unit(0)
      val scan = Incremental.readMetrics(spark, dir.resolve("unit-0").toString)
        .filter(col("stage") === "resolve")
        .groupBy("metric").agg(sum("value")).collect()
        .map(r => r.getString(0) -> r.getLong(1) / 1e3).toMap
      val tr = new Tracer(spark)
      val out = dir.resolve("unit-traced")
      val t0 = System.nanoTime()
      val lags = fx.batches.zipWithIndex.map { case (p, b) =>
        val b0 = System.nanoTime()
        tracedIngest(tr, spark, read(spark, p), out, s"batch-$b")
        tracedResolve(tr, spark, out)
        Bench.secondsSince(b0)
      }
      val tracedWall = Bench.secondsSince(t0)
      val (ok, recall, detail) = check(spark, fx, out)
      val traced = Attempt(ok, tracedWall, lags, recall, s"traced $detail")
      println(f"[perfbench] traced unit: $tracedWall%.2f s ok=$ok $detail")
      val m = tr.metrics(Layers.Spans)
      tr.close()
      // untraced units before and after the traced one, so JIT warming
      // does not bias the tracing overhead either way
      val plain2 = unit(1)
      val writtenMb = Seq("kg.Materialize.append", "kg.Materialize.compact",
        "kg.Materialize.rewrite").map(tr.writtenMb).sum
      val cand = tr.counter("kg.Link.sameas_candidates")
      tr.writeJsonl(a.work.resolve("trace.jsonl"))
      val perLayer = Layers.complete(m ++ Map(
        "kg.Extract.triples_per_turn" -> tr.counter("trace.triples") / tr.counter("trace.turns"),
        "kg.Link.label_broadcast" ->
          (if (tr.counter("trace.label_broadcast") > 0) 1.0 else 0.0),
        "kg.Link.sameas_yield" ->
          (if (cand > 0) tr.counter("trace.sameas_verified") / cand else 0.0),
        "kg.Materialize.written_mb" -> writtenMb,
        "kg.Materialize.read_fanin" ->
          tr.counter("trace.fanin_dirs") / math.max(1.0, tr.counter("trace.fanin_reads")),
        "kg.Incremental.driver_idle_s" -> tr.idleSeconds("kg.Incremental"),
        "kg.Incremental.resolve_scan_s" -> scan.getOrElse("scan_ms", 0.0),
        "kg.Incremental.resolve_discover_s" -> scan.getOrElse("discover_ms", 0.0),
        "kg.Incremental.resolve_rewrite_s" -> scan.getOrElse("rewrite_ms", 0.0),
        "kg.Incremental.resolve_watermark_s" -> scan.getOrElse("watermark_ms", 0.0),
        "trace.overhead_s" -> (tracedWall - (plain.wallS + plain2.wallS) / 2)))
      Outcome(Seq(plain, traced, plain2),
        perLayer.map { case (k, v) => k -> (v, Layers.unit(k)) })
    }
  }
}
