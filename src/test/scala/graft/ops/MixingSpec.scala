package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String

import graft.TestSpark
import graft.functions.TextHashKernels

class MixingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // (source, doc_id, n_chars) — two budgeted sources with uneven weights
  // plus one unbudgeted source that must vanish entirely
  private val corpus: Seq[(String, Long, Long)] =
    (0 until 60).map(i => ("a", i.toLong, ((i * 31) % 40 + 5).toLong)) ++
    (60 until 90).map(i => ("b", i.toLong, ((i * 17) % 25 + 1).toLong)) ++
    (90 until 100).map(i => ("z", i.toLong, 10L))

  private def fnv(source: String, id: Long, salt: String = "mix"): Long =
    TextHashKernels.fingerprint64(UTF8String.fromString(s"$salt|$source|$id"))

  /** Driver-side replay of the contract: within each budgeted source, order
    * by (hash, id), keep while the exclusive prefix sum < budget. */
  private def brute(budgets: Map[String, Long]): Map[Long, Long] =
    corpus.filter(r => budgets.contains(r._1)).groupBy(_._1)
      .flatMap { case (src, rs) =>
        var cum = 0L
        rs.sortBy { case (s, id, _) => (fnv(s, id), id) }.flatMap {
          case (_, id, w) =>
            val keep = cum < budgets(src)
            cum += w
            if (keep) Some(id -> (cum - w)) else None
        }
      }

  private def run(budgets: Map[String, Long], parts: Int = 5): Map[Long, Long] = {
    import spark.implicits._
    Mixing.mixByBudget(
        corpus.toDF("source", "doc_id", "n_chars").repartition(parts),
        budgets)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
  }

  test("mixByBudget == per-source hash-ordered prefix fill (brute force)") {
    val budgets = Map("a" -> 300L, "b" -> 150L)
    val got = run(budgets)
    assert(got == brute(budgets))
    assert(TestSpark.uncoalesced(run(budgets)) == got)
    // partial fill on both sources: some docs kept, some dropped
    val keptA = got.keySet.count(_ < 60)
    assert(keptA > 0 && keptA < 60, s"source a should partially fill: $keptA")
    assert(got.keySet.forall(_ < 90), "unbudgeted source z must be dropped")
  }

  test("overshoot convention: last kept doc may exceed; huge budget keeps all") {
    val gotAll = run(Map("a" -> 1000000L, "b" -> 1000000L))
    assert(gotAll.size == 90, "everything under a huge budget is kept")
    // a tiny positive budget keeps exactly the first doc in hash order
    // (cum_before = 0 < budget), even though its weight exceeds the budget
    val one = run(Map("a" -> 1L))
    assert(one.size == 1 && one.values.head == 0L)
  }

  test("zero/absent budgets keep nothing; invariant to input partitioning") {
    assert(run(Map("a" -> 0L)).isEmpty)
    val budgets = Map("a" -> 300L, "b" -> 150L)
    assert(run(budgets, parts = 1) == run(budgets, parts = 13))
    import spark.implicits._
    val empty = Mixing.mixByBudget(
      corpus.toDF("source", "doc_id", "n_chars").filter("doc_id < 0"), budgets)
    assert(empty.count() == 0L &&
      empty.columns.toSeq == Seq("source", "doc_id", "weight", "cum_before"))
  }

  test("negative weight rejected per row") {
    import spark.implicits._
    val bad = Seq(("a", 1L, -5L)).toDF("source", "doc_id", "n_chars")
    val e = intercept[Exception](
      Mixing.mixByBudget(bad, Map("a" -> 10L)).collect())
    assert(e.getMessage.contains("negative") ||
      Option(e.getCause).exists(_.getMessage.contains("negative")))
  }
}
