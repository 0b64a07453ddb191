package graft.kg

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.Model._

class ExtractSpec extends AnyFunSuite {

  private def one(text: String, role: String = "user", tool: String = "") =
    Extract.extractTurn("c1", 0, role, tool, text)._1

  test("name rule — the reference's canonical example triple (Person name \"Bob\")") {
    // mirrors /root/reference/services/ingest/grpc/service_test.go:90-107
    val ts = one("My name is Bob.")
    assert(ts.size == 1)
    val t = ts.head
    assert(t.subj_type == "Person" && t.subj_tuid == "Bob")
    assert(t.pred == "name" && t.obj_kind == ObjKind.String && t.obj_string.contains("Bob"))
  }

  test("lives_in rule emits an entity-object triple (Object oneof subject branch)") {
    val t = one("Alice Smith lives in France.").head
    assert(t.obj_kind == ObjKind.Subject)
    assert(t.obj_type.contains("Nation") && t.obj_tuid.contains("France"))
    assert(t.obj_string.isEmpty && t.obj_int64.isEmpty && t.obj_float64.isEmpty)
  }

  test("int64 / float64 rules parse literals") {
    val age = one("Alice Smith is 42 years old.").head
    assert(age.pred == "age" && age.obj_int64.contains(42L))
    val tot = one("Order 7 has total 173665.47.").head
    assert(tot.subj_type == "Order" && tot.subj_tuid == "7")
    assert(tot.obj_kind == ObjKind.Float64 && tot.obj_float64.contains(173665.47))
    val temp = one("Paris is -3.5 degrees.", role = "assistant").head
    assert(temp.subj_type == "City" && temp.obj_float64.contains(-3.5))
  }

  test("tool rules are role-gated") {
    assert(one("lookup returned 5-LOW for order 9", role = "tool").nonEmpty)
    assert(one("lookup returned 5-LOW for order 9", role = "user").isEmpty)
    val t = one("search returned value 17 for Alice Smith", role = "tool", tool = "search").head
    assert(t.pred == "tool_search" && t.obj_string.contains("17"))
  }

  test("non-matching text extracts nothing (empty subgraph => 0 triples)") {
    // mirrors the reference's only pure-logic unit test: empty => 0
    // (/root/reference/services/ingest/ingest/ingest_test.go:11-20)
    assert(one("").isEmpty)
    assert(one("The weather is nice today").isEmpty)
  }

  test("every extracted triple satisfies the oneof exactly-one-non-null invariant") {
    val texts = Seq("My name is Bob.", "Bob works at Acme Corp.",
      "Bob is 30 years old.", "Oslo is 1.5 degrees.", "They ordered 3 items.",
      "Order 12 has total 5.5.", "x lives in y.")
    for (tx <- texts; t <- one(tx, role = "assistant")) assert(t.invariantHolds, tx)
  }

  test("fused secondary-sort path == windowed path on a noisy replayed corpus") {
    val spark = TestSpark.spark
    val turns = Transcripts.synthetic(spark,
      Transcripts.GenConfig(seed = 7L, nConvs = 60, turnsPerConv = 8,
        replayFraction = 0.2), partitions = 4)
    val fused = Extract.extract(turns).collect().toSet
    val windowed = Extract.extractWindowed(Reconstruct(turns)).collect().toSet
    assert(fused == windowed)
    assert(fused.nonEmpty)
  }

  test("a 16-bucket slice extracts into more than one of the session's 4 partitions") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val turns = Transcripts.synthetic(spark,
      Transcripts.GenConfig(seed = 7L, nConvs = 400, turnsPerConv = 4), partitions = 4)
    // Incremental.run's bucket filter
    val slice = turns.filter(pmod(hash(col("conv_id")), lit(16)) === 5)
    val sizes = Extract.extract(slice).rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4" && sizes.length == 4)
    assert(sizes.count(_ > 0) > 1, sizes.toSeq)
  }

  test("pronoun triples resolve to the last named Person in conversation order") {
    val spark = TestSpark.spark
    import spark.implicits._
    val ts0 = new java.sql.Timestamp(0L)
    val turns = Seq(
      Turn("c1", 0, "user", "My name is Bob.", "", ts0),
      Turn("c1", 1, "assistant", "They ordered 3 items.", "", ts0),
      Turn("c1", 2, "user", "My name is Carol Lee.", "", ts0),
      Turn("c1", 3, "assistant", "They ordered 5 items.", "", ts0),
      // pronoun with no antecedent must be dropped
      Turn("c2", 0, "assistant", "They ordered 9 items.", "", ts0)
    ).toDS()
    val out = Extract.extract(turns)
      .filter(org.apache.spark.sql.functions.col("pred") === "ordered_items")
      .collect()
      .map(r => (r.getAs[String]("subj_tuid"), r.getAs[Long]("obj_int64")))
      .toSet
    assert(out == Set(("Bob", 3L), ("Carol Lee", 5L)))
  }
}
