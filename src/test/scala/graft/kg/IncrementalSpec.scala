package graft.kg

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{SizeGate, TestSpark}

class IncrementalSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val cfg = Transcripts.GenConfig(seed = 11L, nConvs = 80, turnsPerConv = 8)

  private def edgeSet(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.selectExpr("concat_ws('|', subj_type, subj_guid, pred, obj_kind, " +
        "coalesce(obj_type,''), coalesce(obj_guid,''), coalesce(obj_string,''), " +
        "coalesce(cast(obj_int64 as string),''), coalesce(cast(obj_float64 as string),''))")
      .collect().map(_.getString(0)).toSet

  test("kill-and-resume: failed run resumes from checkpoints; output equals one-shot run") {
    import spark.implicits._
    val turns = Transcripts.synthetic(spark, cfg, partitions = 4)
    val dict = Pipeline.emptyDict(spark)

    // one-shot reference
    val ref = Pipeline.run(turns, dict, Link.Config(fuzzy = false))
    val refEdges = edgeSet(ref.edges)

    for (driver <- Seq(true, false)) {
      def lane[T](body: => T): T = if (driver) body else SizeGate.forceDistributed(body)
      // incremental run killed at bucket 3
      val out = Files.createTempDirectory("graft-inc").toString
      val runId = "run-1"
      intercept[RuntimeException] {
        lane(Incremental.run(turns, dict, out, runId, nBuckets = 6,
          failAtBucket = Some(3)))
      }
      val doneBefore = Incremental.completedBuckets(spark, out, runId)
      assert(doneBefore == Set(0, 1, 2), s"got $doneBefore")

      // resume: only the remaining buckets run
      val processed = lane(Incremental.run(turns, dict, out, runId, nBuckets = 6))
      assert(processed == 3)
      val finalEdges = edgeSet(Materialize.readTable(spark, s"$out/edges").get)
      assert(finalEdges == refEdges, s"driver=$driver")

      // second resume is a no-op
      assert(lane(Incremental.run(turns, dict, out, runId, nBuckets = 6)) == 0)

      // lineage/metrics recorded per partition: the driver lane counts its
      // turns and edges, the distributed lane does not count
      val cps = Incremental.readCheckpoints(spark, out)
      assert(cps.filter("status = 'done'").count() == 6)
      def metric(m: String) = Incremental.readMetrics(spark, out)
        .filter($"metric" === m).collect().map(r =>
          r.getAs[Int]("partition_key") -> r.getAs[Long]("value")).toMap
      assert(Incremental.readMetrics(spark, out)
        .filter("metric = 'rows_in'").count() == 6)
      assert(metric("rows_in").keySet == (0 until 6).toSet)
      assert(metric("driver_lane").values.toSet == Set(if (driver) 1L else 0L))
      if (driver) {
        assert(metric("rows_in").values.sum == turns.count())
        assert(metric("edges_bucket_out").values.sum >= refEdges.size.toLong)
      } else {
        assert(metric("rows_in").values.toSet == Set(-1L))
        assert(metric("edges_bucket_out").values.toSet == Set(-1L))
      }
    }
  }

  test("ingest lanes: the driver lane writes the distributed lane's tables, doubles bit for bit") {
    import spark.implicits._
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    def cp(c: Int) = new String(Character.toChars(c))
    def turn(c: String, i: Int, text: String, t: Long = 0L, role: String = "user") =
      graft.model.Model.Turn(c, i, role, text, if (role == "tool") "lookup" else "", ts(t))
    val deseret = cp(0x10400) // a non-BMP capital with a lower-case form
    val special = Seq(
      // replays of one turn that differ in ts, role or text; pronoun turns
      turn("r1", 0, "My name is Zed Quill.", t = 5), turn("r1", 0, "My name is Ann Quill.", t = 4),
      turn("r1", 1, "They ordered 3 items."),
      turn("r1", 2, "lookup returned HIGH for order 90007", role = "tool"),
      turn("r1", 2, "lookup returned LOW for order 90007"),
      // same ts and role: the text decides, by UTF-8 bytes (U+FF21 first;
      // UTF-16 order puts the surrogate pair first)
      turn("r2", 0, "My name is \uff21li."), turn("r2", 0, s"My name is ${deseret}li."),
      turn("r2", 1, "They ordered 4 items."),
      turn("r3", 0, "They ordered 5 items."), // no antecedent: dropped
      // control characters and non-BMP forms in surface forms and conv ids
      turn("c\u0001", 0, "My name is Bo\u0001b  Ray."),
      turn("c\u0001", 1, s"Bo\u0001b Ray lives in ${deseret}slo\u3000."),
      turn(s"c$deseret", 0, s"My name is ${cp(0x10570)}ra \u00a0Lee."),
      // -0.0, -0, 0.0 and NaN values
      turn("d1", 0, "Order 90007 has total -0.0."), turn("d2", 0, "Order 90007 has total 0.0."),
      turn("d3", 0, "Order 90008 has total -0."), turn("d4", 0, "Order 90009 has total NaN."),
      turn("d5", 0, "Order 90009 has total NaN."), turn("d6", 0, "Oslo is -0 degrees."),
      // dict aliases (two canonical forms for one variant, a null one) and
      // fuzzy variants
      turn("a1", 0, "My name is Bob Smith."), turn("a2", 0, "My name is Robert Smith."),
      turn("a3", 0, "My name is Robert Smithh."), turn("a4", 0, "My name is Zed Quill."))
    val turns = Transcripts.synthetic(spark, Transcripts.GenConfig(seed = 5L, nConvs = 60,
        turnsPerConv = 8, replayFraction = 0.2), partitions = 4)
      .union(special.toDS())
    val dict = Pipeline.syntheticDict(spark).unionByName(Seq(
        ("Person", "bob smith", Some("bobby smith")), ("Person", "zed quill", None))
      .toDF("entity_type", "variant_norm", "canonical_norm"))
    // each row with its doubles as raw bits
    def bits(table: String): Set[Seq[Any]] =
      Materialize.readTable(spark, table).get.collect().map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
        case v => v
      }).toSet
    for (fuzzy <- Seq(false, true)) {
      val linkCfg = Link.Config(fuzzy = fuzzy)
      // one bucket: its delta becomes the table as written (a read of
      // several dirs deduplicates, and would normalize doubles itself)
      def ingest(driver: Boolean) = {
        val out = Files.createTempDirectory(s"graft-ingest-$driver").toString
        def run() = Incremental.run(turns, dict, out, "r", nBuckets = 1, linkCfg = linkCfg)
        if (driver) run() else SizeGate.forceDistributed(run())
        val lanes = Incremental.readMetrics(spark, out).filter($"metric" === "driver_lane")
          .collect().map(_.getAs[Long]("value")).toSeq
        assert(lanes == Seq(if (driver) 1L else 0L), s"fuzzy=$fuzzy driver=$driver")
        (bits(s"$out/edges"), bits(s"$out/nodes"))
      }
      val (edgesD, nodesD) = ingest(driver = true)
      val (edgesS, nodesS) = ingest(driver = false)
      assert(edgesD == edgesS, s"fuzzy=$fuzzy")
      assert(nodesD == nodesS, s"fuzzy=$fuzzy")

      // the fixture's corner cases are in the tables
      def g(et: String, k: String) = Link.guidForScala(et, k)
      val total = edgesD.filter(_(2) == "total").map(e => e(1) -> e(8)).toSet
      val (zero, nan) = (java.lang.Double.doubleToRawLongBits(0.0),
        java.lang.Double.doubleToRawLongBits(Double.NaN))
      assert(Seq("90007" -> zero, "90008" -> zero, "90009" -> nan)
        .map { case (o, b) => g("Order", o) -> b }.forall(total.contains), total)
      assert(total.count(_._1 == g("Order", "90007")) == 1)
      val names = nodesD.map(_(2))
      assert(Set[Any]("ann quill", "bo\u0001b ray", s"${cp(0x10428)}slo\u3000",
        s"${cp(0x10597)}ra \u00a0lee", "\uff41li", "bobby smith").subsetOf(names), names)
      assert(!names.contains(s"${cp(0x10428)}li"))
      val ordered = edgesD.filter(_(2) == "ordered_items").map(e => e(1) -> e(7))
      assert(Set[(Any, Any)](g("Person", "ann quill") -> 3L, g("Person", "\uff41li") -> 4L)
        .subsetOf(ordered))
    }
  }

  test("disjoint-resolver compaction merges fuzzy aliases across batches, idempotently") {
    import spark.implicits._
    // two batches that each mention the same person with a typo variant —
    // per-batch exact linking keeps them distinct; the resolver merges them
    val ts0 = new java.sql.Timestamp(0L)
    val b1 = Seq(graft.model.Model.Turn("c1", 0, "user", "My name is Alice Smith.", "", ts0),
      graft.model.Model.Turn("c1", 1, "user", "Alice Smith is 30 years old.", "", ts0)).toDS()
    val b2 = Seq(graft.model.Model.Turn("c2", 0, "user", "My name is Alice Smit.", "", ts0)).toDS()

    val out = Files.createTempDirectory("graft-dr").toString
    val dict = Pipeline.emptyDict(spark)
    Incremental.run(b1, dict, out, "r1", nBuckets = 1)
    Incremental.run(b2, dict, out, "r2", nBuckets = 1)

    val before = Materialize.readTable(spark, s"$out/nodes").get
      .filter($"entity_type" === "Person").count()
    assert(before == 2) // not yet resolved: eventual consistency in flight

    Incremental.resolveDisjoint(spark, out)
    val nodes = Materialize.readTable(spark, s"$out/nodes").get
      .filter($"entity_type" === "Person").collect()
    assert(nodes.length == 1)
    assert(nodes.head.getAs[String]("name") == "alice smit") // min canonical key
    val canonGuid = Link.guidForScala("Person", "alice smit")
    assert(nodes.head.getAs[String]("guid") == canonGuid)

    // every edge rewritten to the canonical guid
    val edges = Materialize.readTable(spark, s"$out/edges").get.collect()
    assert(edges.forall(_.getAs[String]("subj_guid") == canonGuid))

    // resolver idempotence: second run changes nothing
    val snapBefore = Materialize.currentManifest(s"$out/nodes").flatMap(_.base)
    Incremental.resolveDisjoint(spark, out)
    val nodes2 = Materialize.readTable(spark, s"$out/nodes").get
      .filter($"entity_type" === "Person").count()
    assert(nodes2 == 1)
  }

  test("delta resolver: resolve(b1) then delta-resolve(b2) == one-shot resolve(b1 ∪ b2)") {
    import spark.implicits._
    val ts0 = new java.sql.Timestamp(0L)
    def turn(c: String, i: Int, text: String) =
      graft.model.Model.Turn(c, i, "user", text, "", ts0)
    // chain-free fuzzy corpus: typo variants split across the batches (the
    // delta==full equivalence is exactly the per-batch-resolve semantics the
    // architecture already has; transitive chains through merged-away names
    // resolve at the batch boundary in both paths for this corpus)
    val b1 = Seq(
      turn("c1", 0, "My name is Bob Johnson."),
      turn("c1", 1, "Bob Johnson is 30 years old."),
      turn("c2", 0, "My name is Carol White."),
      turn("c3", 0, "My name is Erin Carter."))
    val b2 = Seq(
      turn("c4", 0, "My name is Bob Johnso."),   // fuzzy-merges with b1
      turn("c5", 0, "My name is Erin Carte."),   // fuzzy-merges with b1
      turn("c6", 0, "My name is Dave Black."),   // genuinely new singleton
      turn("c7", 0, "Carol White is 41 years old.")) // exact re-mention: not new
    // exact PPJoin discovery: recall 1.0 by construction, so the expected
    // merge set is deterministic (the LSH delta split is covered by
    // LinkSpec's delta-vs-full comparison)
    val cfg = Link.Config(exactSameAs = true)

    // delta path: per-batch ingest + resolve
    val outD = Files.createTempDirectory("graft-delta-r").toString
    val dict = Pipeline.emptyDict(spark)
    Incremental.run(b1.toDS(), dict, outD, "rb1", nBuckets = 1)
    val s1 = Incremental.resolveDisjoint(spark, outD, cfg)
    assert(s1.touched == s1.total && s1.total > 0) // first pass: full
    Incremental.run(b2.toDS(), dict, outD, "rb2", nBuckets = 1)
    val s2 = Incremental.resolveDisjoint(spark, outD, cfg)
    // entity-granular: only b2's genuinely-new names are touched —
    // bob johnso, erin carte, dave black (carol white was already resolved)
    assert(s2.touched == 3, s"touched ${s2.touched}")
    assert(s2.touched < s2.total, s"no reduction: $s2")
    // two merges; the shorter variant is the lexicographic-min component
    // rep, so each b1 original is the entity whose guid gets rewritten
    assert(s2.rewritten == 2)

    // one-shot reference: everything in one batch, one full resolve
    val outF = Files.createTempDirectory("graft-full-r").toString
    Incremental.run((b1 ++ b2).toDS(), dict, outF, "rf", nBuckets = 1)
    Incremental.resolveDisjoint(spark, outF, cfg)

    assert(edgeSet(Materialize.readTable(spark, s"$outD/edges").get) ==
      edgeSet(Materialize.readTable(spark, s"$outF/edges").get))
    def nodeSet(t: String) = Materialize.readTable(spark, t).get
      .select("guid", "entity_type", "name").collect()
      .map(_.toSeq.mkString("|")).toSet
    assert(nodeSet(s"$outD/nodes") == nodeSet(s"$outF/nodes"))

    // third resolve: zero touched, O(scan) no-op
    val s3 = Incremental.resolveDisjoint(spark, outD, cfg)
    assert(s3.touched == 0)

    // config change voids the converged-keys invariant -> full rediscovery
    val s4 = Incremental.resolveDisjoint(spark, outD,
      cfg.copy(jaccardThreshold = 0.65))
    assert(s4.touched == s4.total && s4.total > 0)
  }

  test("resolve corpus: bucketed exact-link + exact resolveDisjoint equals the one-shot fuzzy pipeline") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
    val turns = Transcripts.fromTestdataResolve(spark, dir)
    val resolveCfg = Link.Config(fuzzy = true, exactSameAs = true,
      jaccardThreshold = 0.8, fuzzyTypes = Seq("Person"))

    // one-shot fuzzy reference (same exact same-as join, single batch)
    val ref = Pipeline.run(turns, Pipeline.emptyDict(spark), resolveCfg)
    val refEdges = edgeSet(ref.edges)
    val refPersons = ref.nodes.filter($"entity_type" === "Person").count()
    ref.close()

    // bucketed runs link exactly (fuzzy off): " jr" variants stay split...
    val out = java.nio.file.Files.createTempDirectory("graft-resolve").toString
    Incremental.run(turns, Pipeline.emptyDict(spark), out, "r", nBuckets = 3,
      linkCfg = Link.Config(fuzzy = false))
    val personsBefore = Materialize.readTable(spark, s"$out/nodes").get
      .filter($"entity_type" === "Person").count()
    assert(personsBefore > refPersons) // divergence is real pre-resolve

    // ...until the Disjoint-Resolver compaction converges the graph
    Incremental.resolveDisjoint(spark, out, resolveCfg)
    val gotEdges = edgeSet(Materialize.readTable(spark, s"$out/edges").get)
    val personsAfter = Materialize.readTable(spark, s"$out/nodes").get
      .filter($"entity_type" === "Person").count()
    assert(gotEdges == refEdges)
    assert(personsAfter == refPersons)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toSeq.mkString("|")).toSet

  test("resolver discovery lanes: driver == distributed on randomized key sets") {
    import spark.implicits._
    for (seed <- 1 to 4) {
      val r = new scala.util.Random(seed)
      val stems = Seq.fill(5)(Seq.fill(5 + r.nextInt(6))(('a' + r.nextInt(6)).toChar).mkString)
      def variant(st: String) = r.nextInt(5) match {
        case 0 => st
        case 1 => st.dropRight(1)
        case 2 => st + "x"
        case 3 => st.take(2) // shorter than one trigram
        case _ => st.take(3) + "q" + st.drop(3)
      }
      // Order is not fuzzy-eligible; repeated keys mix new and old flags;
      // "aaa"/"aaaa"/"aaaaa" share one shingle set, so one bucket per band
      // holds at least three keys and maxBandBucket = 2 fires
      val keys = Seq.fill(60)((Seq("Person", "City", "Order")(r.nextInt(3)),
          variant(stems(r.nextInt(5))), r.nextBoolean())) ++
        Seq("aaa", "aaaa", "aaaaa").map(k => ("Person", k, true))
      val cfg = Link.Config(maxBandBucket = if (seed % 2 == 0) 2 else 10000)
      val flagged = keys.toDF("entity_type", "dict_key", "is_new")
      def lane(driver: Boolean) = {
        val got = Incremental.sameAsComponents(flagged, cfg, Option.when(driver)(keys)) match {
          case Left(components) =>
            assert(driver)
            components.map { case (et, k, c) => s"$et|$k|$c" }.toSet
          case Right((cc, free)) =>
            assert(!driver)
            try rows(cc) finally free()
        }
        (got, graft.ops.CapMetrics.latest("link.lsh"))
      }
      val (driverCc, driverCaps) = lane(driver = true)
      val (sparkCc, sparkCaps) = lane(driver = false)
      assert(driverCc == sparkCc, s"seed=$seed")
      assert(driverCaps == sparkCaps, s"seed=$seed")
      assert(driverCc.exists(_.startsWith("City|")) && !driverCc.exists(_.startsWith("Order|")))
      if (cfg.maxBandBucket == 2) assert(driverCaps("dropped_rows") > 0L)
    }
  }

  test("resolver lanes: two-batch resolve gives identical tables, watermarks and metrics") {
    import spark.implicits._
    val Seq(b1, b2) = IncrementalSpec.laneBatches(spark)
    val cfg = Link.Config()
    def converge(driver: Boolean) = {
      val out = Files.createTempDirectory(s"graft-lane-$driver").toString
      val dict = Pipeline.emptyDict(spark)
      val passes = Seq(b1, b2).zipWithIndex.map { case (b, i) =>
        Incremental.run(b, dict, out, s"r$i", nBuckets = 1)
        // another writer drops a resolved key's node: the watermark has a
        // key the node table no longer holds
        if (i == 1) Materialize.mergeSnapshot(spark, s"$out/nodes",
          Materialize.readTable(spark, s"$out/nodes").get.filter($"name" =!= "al"),
          Materialize.nodeKey, replace = true)
        val before = rows(Materialize.readTable(spark, s"$out/edges").get)
        def resolve() = Incremental.resolveDisjoint(spark, out, cfg)
        val st = if (driver) resolve() else SizeGate.forceDistributed(resolve())
        val watermark = rows(Materialize.readTable(spark, s"$out/_resolve/resolved_keys").get)
        (st, graft.ops.CapMetrics.latest("link.lsh"), before, watermark)
      }
      (out, passes)
    }
    val (outD, passesD) = converge(driver = true)
    val (outS, passesS) = converge(driver = false)
    assert(passesD == passesS)
    assert(passesD.forall(_._1.rewritten >= 1L), passesD.map(_._1))
    for (t <- Seq("nodes", "edges", "_resolve/resolved_keys"))
      assert(rows(Materialize.readTable(spark, s"$outD/$t").get) ==
        rows(Materialize.readTable(spark, s"$outS/$t").get), t)
    // single writer: the watermark built from the examined keys equals the
    // converged table's eligible key set (merged-away names left it)
    assert(rows(Materialize.readTable(spark, s"$outD/_resolve/resolved_keys").get) ==
      rows(Materialize.readTable(spark, s"$outD/nodes").get
        .filter($"entity_type".isin(cfg.fuzzyTypes: _*)).select("entity_type", "name")))

    // the second pass covers the rewrite's corner cases: an edge whose
    // subject and object are both renamed, two edges that collapse into one
    // upsert, and watermark keys it tombstones (renamed, or gone from the
    // node table)
    def g(et: String, k: String) = Link.guidForScala(et, k)
    def livesIn(p: String, n: String) =
      s"Person|${g("Person", p)}|lives_in|subject|Nation|${g("Nation", n)}|null|null|null"
    val (both, twin, merged) = (livesIn("alice smith", "francee"), livesIn("alice smitt", "france"),
      livesIn("alice smit", "france"))
    val edgesD = rows(Materialize.readTable(spark, s"$outD/edges").get)
    assert(Set(both, twin).subsetOf(passesD(1)._3), passesD(1)._3)
    assert(edgesD.contains(merged) && !edgesD.contains(both) && !edgesD.contains(twin))
    assert(edgesD.count(_.startsWith(s"Person|${g("Person", "alice smit")}|lives_in|")) == 1)
    val wm1 = Set("Person|alice smith", "Nation|francee", "Person|al")
    assert(wm1.subsetOf(passesD(0)._4) && wm1.intersect(passesD(1)._4).isEmpty)
    assert(Materialize.currentManifest(s"$outD/_resolve/resolved_keys").get.tombs.nonEmpty)

    // each gate decision is in _metrics, next to the phase times
    def gate(out: String) = Incremental.readMetrics(spark, out)
      .filter($"stage" === "resolve" &&
        $"metric".isin("driver_lane", "flagged_rows", "flagged_bytes", "scan_ms"))
      .collect().groupBy(_.getAs[String]("metric")).map { case (m, rs) =>
        m -> rs.map(_.getAs[Long]("value")).sorted.toSeq }
    val (gd, gs) = (gate(outD), gate(outS))
    assert(gd("driver_lane") == Seq(1L, 1L) && gs("driver_lane") == Seq(0L, 0L))
    assert(gd("flagged_rows") == gs("flagged_rows") && gd("flagged_rows").forall(_ > 0L))
    assert(gd("flagged_bytes") == gs("flagged_bytes") && gd("scan_ms").size == 2)

    // the public entry point lets the size gate pick the driver lane here
    val outG = Files.createTempDirectory("graft-lane-gate").toString
    Incremental.run(b1, Pipeline.emptyDict(spark), outG, "g", nBuckets = 1)
    Incremental.resolveDisjoint(spark, outG, cfg)
    assert(gate(outG)("driver_lane") == Seq(1L))
  }
}

object IncrementalSpec {

  /** The resolver-lane fixture: two batches of one-turn conversations; each
    * resolve renames some keys, the second old and new keys of both fuzzy
    * types in play. */
  def laneBatches(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Dataset[graft.model.Model.Turn]] = {
    import spark.implicits._
    val ts0 = new java.sql.Timestamp(0L)
    def turns(lines: String*) = lines.zipWithIndex.map { case (text, i) =>
      graft.model.Model.Turn(s"c${text.hashCode}", i, "user", text, "", ts0) }.toDS()
    Seq(
      turns("My name is Alice Smith.", "Alice Smith lives in Francee.",
        "My name is Bob Jones.", "Bob Jones lives in Japan.", "Bob Joness lives in Japan.",
        "My name is Al.", "Order 7 total 12.5."),
      turns("My name is Alice Smit.", "Alice Smit lives in France.",
        "Alice Smitt lives in France.", "My name is Bob Jones Jr.",
        "My name is Dave Black.", "My name is Alx."))
  }
}
