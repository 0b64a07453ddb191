package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark

class ShardingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs(rows: (Long, Long)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "n_chars")
  }

  private def brute(rows: Seq[(Long, Long)], budget: Long): Map[Long, Long] = {
    var cum = 0L
    rows.sortBy(_._1).map { case (id, w) =>
      val shard = cum / budget
      cum += w
      id -> shard
    }.toMap
  }

  private val mixed: Seq[(Long, Long)] =
    (0 until 200).map(i => (i.toLong, ((i * 37) % 90 + 1).toLong))

  private def pack(rows: Seq[(Long, Long)], budget: Long): Map[Long, Long] =
    Sharding.packByBudget(docs(rows: _*), budget)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("shard_id")).toMap

  test("packByBudget == exclusive-prefix-sum div budget (brute force)") {
    val got = pack(mixed, budget = 500L)
    assert(got == brute(mixed, 500L))
    assert(TestSpark.uncoalesced(pack(mixed, budget = 500L)) == got)
    assert(got.values.toSet.size > 3, "fixture should span several shards")
    val empty = Sharding.packByBudget(docs(mixed: _*).filter("doc_id < 0"), 500L)
    assert(empty.count() == 0L &&
      empty.columns.toSeq == Seq("doc_id", "weight", "shard_id"))
  }

  test("shard map is invariant to parallelism (different range-partition counts)") {
    val base = docs(mixed: _*)
    val a = Sharding.packByBudget(base.repartition(1), 500L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // a different shuffle width changes the sort's range-partition count,
    // exercising a different per-partition offset decomposition
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    val b = try Sharding.packByBudget(base.repartition(7, col("n_chars")), 500L)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert(a == b)
  }

  test("a single over-budget document occupies exactly one shard; packing continues after it") {
    val rows = Seq((1L, 10L), (2L, 5000L), (3L, 10L), (4L, 10L))
    val got = pack(rows, budget = 100L)
    assert(got == brute(rows, 100L))
    assert(TestSpark.uncoalesced(pack(rows, budget = 100L)) == got)
    assert(got(2L) == 0L)   // starts inside shard 0 (cum 10 < 100)
    assert(got(3L) == 50L)  // next doc starts at cum 5010 -> shard 50
    assert(got(4L) == 50L)
  }

  test("negative weights fail loudly") {
    val e = intercept[Exception] {
      Sharding.packByBudget(docs((1L, 10L), (2L, -3L)), 100L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("packByBudget")), e.toString)
  }
}
