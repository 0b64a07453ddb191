package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[Percentile]] vs a driver-side brute-force rank over the same
  * (score, id) total order. */
class PercentileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ties on score (2.5 × 3) exercise the id tiebreak; ids deliberately
  // unsorted relative to scores
  private lazy val rows = Seq(
    (7L, 2.5), (1L, 9.0), (4L, 2.5), (2L, 0.5), (9L, 7.25),
    (3L, 2.5), (8L, 4.0), (5L, 11.0), (6L, 1.0), (10L, 6.5))

  private def brute(k: Int): Map[Long, (Long, Long)] = {
    val n = rows.size
    rows.sortBy { case (id, s) => (s, id) }.zipWithIndex.map {
      case ((id, _), i) => id -> ((i + 1L, (i.toLong * k) / n))
    }.toMap
  }

  private def run(k: Int): Map[Long, (Long, Long)] =
    Percentile.rankBuckets(rows.toDF("doc_id", "score"), k)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3))))
      .toMap

  test("rankBuckets == brute-force (k = 3, 4, 1, and k > n)") {
    for (k <- Seq(3, 4, 1, 25)) {
      assert(run(k) == brute(k), s"k=$k")
      assert(TestSpark.uncoalesced(run(k)) == brute(k), s"k=$k, uncoalesced")
    }
  }

  test("bucket sizes differ by at most 1 and cover 0..k-1") {
    val sizes = run(3).values.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes.keySet == Set(0L, 1L, 2L))
    assert(sizes.values.max - sizes.values.min <= 1)
  }

  test("rank is invariant to input partitioning") {
    val df1 = rows.toDF("doc_id", "score").repartition(1)
    val df7 = rows.toDF("doc_id", "score").repartition(7)
    val a = Percentile.rankBuckets(df1, 3).collect().map(_.toSeq).toSet
    val b = Percentile.rankBuckets(df7, 3).collect().map(_.toSeq).toSet
    assert(a == b)
  }

  // grouped variant: unbalanced groups (7 a's, 3 b's) + score ties
  private lazy val grouped = Seq(
    ("a", 7L, 2.5), ("a", 1L, 9.0), ("a", 4L, 2.5), ("a", 2L, 0.5),
    ("a", 9L, 7.25), ("a", 3L, 2.5), ("a", 8L, 4.0),
    ("b", 5L, 11.0), ("b", 6L, 1.0), ("b", 10L, 6.5))

  private def bruteBy(k: Int): Map[(String, Long), (Long, Long)] =
    grouped.groupBy(_._1).flatMap { case (g, rs) =>
      val n = rs.size
      rs.sortBy { case (_, id, s) => (s, id) }.zipWithIndex.map {
        case ((_, id, _), i) => (g, id) -> ((i + 1L, (i.toLong * k) / n))
      }
    }

  private def runBy(k: Int, parts: Int = 5): Map[(String, Long), (Long, Long)] =
    Percentile.rankBucketsBy(
        grouped.toDF("lang", "doc_id", "score").repartition(parts), k)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(3), r.getLong(4))))
      .toMap

  test("rankBucketsBy == per-group brute force; rank restarts per group") {
    for (k <- Seq(3, 2)) {
      assert(runBy(k) == bruteBy(k), s"k=$k")
      assert(TestSpark.uncoalesced(runBy(k)) == bruteBy(k), s"k=$k, uncoalesced")
    }
    assert(runBy(3).count { case (_, (rank, _)) => rank == 1L } == 2)
    val empty = Percentile.rankBucketsBy(
      grouped.toDF("lang", "doc_id", "score").filter("doc_id < 0"), 3)
    assert(empty.count() == 0L &&
      empty.columns.toSeq == Seq("lang", "doc_id", "score", "rank", "bucket"))
  }

  test("rankBucketsBy invariant to input partitioning; null group rejected") {
    assert(runBy(3, parts = 1) == runBy(3, parts = 7))
    val bad = Seq((Some("a"), 1L, 1.0), (None, 2L, 2.0))
      .toDF("lang", "doc_id", "score")
    val e = intercept[Exception](Percentile.rankBucketsBy(bad, 3).collect())
    assert(e.getMessage.contains("null") ||
      Option(e.getCause).exists(_.getMessage.contains("null")))
  }

  test("null score rejected per row; empty input yields empty output") {
    val bad = Seq((1L, Some(1.0)), (2L, None)).toDF("doc_id", "score")
    val e = intercept[Exception](Percentile.rankBuckets(bad, 3).collect())
    assert(e.getMessage.contains("null score") ||
      Option(e.getCause).exists(_.getMessage.contains("null score")))
    val empty = Percentile.rankBuckets(
      rows.toDF("doc_id", "score").filter("doc_id < 0"), 3)
    assert(empty.count() == 0L &&
      empty.columns.toSeq == Seq("doc_id", "score", "rank", "bucket"))
    intercept[IllegalArgumentException](
      Percentile.rankBuckets(rows.toDF("doc_id", "score"), 0))
  }
}
