package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.kg.{Link, Materialize, Pipeline, Transcripts}

/** graft.Main is the user-facing promise ("run the pipeline on MY table
  * into MY output dir") — drive it end-to-end in-process (Main joins the
  * live test session and must not stop it). */
class MainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("transcript run builds the KG, resumes idempotently, and resolver flag works") {
    val base = Files.createTempDirectory("graft-main").toString
    val turns = Transcripts.fromTestdataResolve(spark, "/root/testdata/sf0.001")
    turns.write.mode("overwrite").parquet(s"$base/in")

    Main.main(Array("--in", s"$base/in", "--out", s"$base/kg", "--buckets", "2"))
    assert(spark.sparkContext.isStopped == false) // session survived
    val edges1 = Materialize.readTable(spark, s"$base/kg/edges").get.count()
    val nodes1 = Materialize.readTable(spark, s"$base/kg/nodes").get.count()
    assert(edges1 > 0 && nodes1 > 0)

    // re-run: completed buckets skipped, table unchanged (idempotent MERGE)
    Main.main(Array("--in", s"$base/in", "--out", s"$base/kg", "--buckets", "2"))
    assert(Materialize.readTable(spark, s"$base/kg/edges").get.count() == edges1)

    // resolver compaction merges the " jr" aliases the exact per-bucket
    // linking kept apart
    Main.main(Array("--in", s"$base/in", "--out", s"$base/kg", "--buckets", "2",
      "--resolve", "--exact-resolve", "--threshold", "0.8"))
    val nodes2 = Materialize.readTable(spark, s"$base/kg/nodes").get.count()
    assert(nodes2 < nodes1, s"resolver merged nothing: $nodes2 vs $nodes1")
  }

  private def edgeSet(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.selectExpr("concat_ws('|', subj_type, subj_guid, pred, obj_kind, " +
        "coalesce(obj_type,''), coalesce(obj_guid,''), coalesce(obj_string,''), " +
        "coalesce(cast(obj_int64 as string),''), coalesce(cast(obj_float64 as string),''))")
      .collect().map(_.getString(0)).toSet

  test("--format proto equals the library call (runFromTriples + MERGE)") {
    import graft.io.TripleProto
    import graft.io.TripleProto.FlatTriple
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft-main-pb").toString
    val golden: Seq[Seq[FlatTriple]] = Seq(
      Seq(FlatTriple(Some("Person"), Some("ada"), Some("name"),
        Some("string"), None, None, Some("Ada"), None, None)),
      Seq(FlatTriple(Some("Person"), Some("ada"), Some("works_at"),
        Some("subject"), Some("Org"), Some("initech"), None, None, None),
        FlatTriple(Some("Org"), Some("initech"), Some("name"),
          Some("string"), None, None, Some("Initech"), None, None)),
      Seq(FlatTriple(Some("Person"), Some("ADA"), Some("age"),
        Some("int64"), None, None, None, Some(36L), None)))
    TripleProto.writeDelimitedFile(s"$base/part-0.pb",
      golden.map(TripleProto.encodeSubgraph))

    Main.main(Array("--in", s"$base/part-0.pb", "--format", "proto",
      "--out", s"$base/kg"))
    val got = edgeSet(Materialize.readTable(spark, s"$base/kg/edges").get)

    // the corresponding library call, mirroring Main's bulk path exactly
    val triples = TripleProto.read(spark, s"$base/part-0.pb")
      .withColumn("conv_id", col("subgraph_id"))
      .withColumn("turn_idx", lit(0))
      .drop("subgraph_id")
    val r = Pipeline.runFromTriples(triples, Pipeline.emptyDict(spark),
      Link.Config(fuzzy = false, jaccardThreshold = 0.7))
    val want = edgeSet(r.edges)
    r.close()
    assert(got == want && got.nonEmpty)
    // normalization folds ada/ADA into one person
    assert(Materialize.readTable(spark, s"$base/kg/nodes").get
      .filter("entity_type = 'Person'").count() == 1)
  }

  test("--resolve (LSH mode) equals the library run + resolveDisjoint sequence") {
    val base = Files.createTempDirectory("graft-main-lsh").toString
    val turns = Transcripts.fromTestdataResolve(spark, "/root/testdata/sf0.001")
    turns.write.mode("overwrite").parquet(s"$base/in")

    Main.main(Array("--in", s"$base/in", "--out", s"$base/kgA", "--buckets", "2",
      "--resolve", "--threshold", "0.8"))
    val got = edgeSet(Materialize.readTable(spark, s"$base/kgA/edges").get)

    // library mirror of Main's transcript + LSH-resolve path
    graft.kg.Incremental.run(turns, Pipeline.emptyDict(spark), s"$base/kgB",
      "main", nBuckets = 2,
      linkCfg = Link.Config(fuzzy = false, jaccardThreshold = 0.8))
    graft.kg.Incremental.resolveDisjoint(spark, s"$base/kgB",
      Link.Config(fuzzy = true, exactSameAs = false, jaccardThreshold = 0.8))
    val want = edgeSet(Materialize.readTable(spark, s"$base/kgB/edges").get)
    assert(got == want && got.nonEmpty)
  }

  test("--stage-dir + --fuzzy: staged run equals the in-memory run, staging cleaned up") {
    val base = Files.createTempDirectory("graft-main-stage").toString
    val turns = Transcripts.fromTestdataResolve(spark, "/root/testdata/sf0.001")
    turns.write.mode("overwrite").parquet(s"$base/in")
    // staging is the distributed lane's raw-triple boundary: a bucket this
    // small would otherwise run on the driver and stage nothing
    try SizeGate.forceDistributed {
      Main.main(Array("--in", s"$base/in", "--out", s"$base/kgS", "--buckets", "2",
        "--fuzzy", "--threshold", "0.8", "--stage-dir", s"$base/stage"))
      assert(sys.props.get("graft.stage.dir").contains(s"$base/stage"))
    } finally sys.props.remove("graft.stage.dir")
    val got = edgeSet(Materialize.readTable(spark, s"$base/kgS/edges").get)

    graft.kg.Incremental.run(turns, Pipeline.emptyDict(spark), s"$base/kgM",
      "main", nBuckets = 2,
      linkCfg = Link.Config(fuzzy = true, jaccardThreshold = 0.8))
    val want = edgeSet(Materialize.readTable(spark, s"$base/kgM/edges").get)
    assert(got == want && got.nonEmpty)
    // the staged run wrote its raw triples under the staging dir, and
    // Result.close deleted each bucket's — no disk leak
    val stage = new java.io.File(s"$base/stage")
    assert(stage.isDirectory, "nothing was staged")
    assert(stage.list().isEmpty, s"staging leak: ${stage.list().toSeq}")
  }

  test("--stream with --resolve-every equals the batch run + resolver") {
    val base = Files.createTempDirectory("graft-main-stream").toString
    val turns = Transcripts.fromTestdataResolve(spark, "/root/testdata/sf0.001")
    turns.write.mode("overwrite").parquet(s"$base/in")

    Main.main(Array("--in", s"$base/in", "--out", s"$base/kgS", "--stream",
      "--resolve-every", "1", "--exact-resolve", "--threshold", "0.8"))
    val got = edgeSet(Materialize.readTable(spark, s"$base/kgS/edges").get)

    graft.kg.Incremental.run(turns, Pipeline.emptyDict(spark), s"$base/kgB",
      "main", nBuckets = 2,
      linkCfg = Link.Config(fuzzy = false, jaccardThreshold = 0.8))
    graft.kg.Incremental.resolveDisjoint(spark, s"$base/kgB",
      Link.Config(fuzzy = true, exactSameAs = true, jaccardThreshold = 0.8))
    val want = edgeSet(Materialize.readTable(spark, s"$base/kgB/edges").get)
    assert(got == want && got.nonEmpty)
  }

  test("ndjson bulk ingest builds a graph from subgraph files") {
    val base = Files.createTempDirectory("graft-main-nd").toString
    Files.writeString(java.nio.file.Paths.get(base, "sg.ndjson"), Seq(
      """{"triples":[{"subject":{"type":"Person","tuid":"p1"},"predicate":{"name":"name"},"object":{"string":"Ada"}}]}""",
      """{"triples":[{"subject":{"type":"Person","tuid":"p1"},"predicate":{"name":"works_at"},"object":{"subject":{"type":"Org","tuid":"acme"}}}]}""",
      """{"triples":[{"subject":{"type":"Person","tuid":"P1"},"predicate":{"name":"name"},"object":{"string":"Ada"}}]}""")
      .mkString("\n"))
    Main.main(Array("--in", s"$base/sg.ndjson", "--format", "ndjson",
      "--out", s"$base/kg"))
    val edges = Materialize.readTable(spark, s"$base/kg/edges").get.collect()
    // normalization links p1/P1; duplicate name edges collapse in the MERGE
    assert(edges.length == 2)
    val persons = Materialize.readTable(spark, s"$base/kg/nodes").get
      .filter("entity_type = 'Person'").count()
    assert(persons == 1)
  }
}
