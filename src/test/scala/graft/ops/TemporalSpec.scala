package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.{SizeGate, TestSpark}

class TemporalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // deterministic mixed corpus: user 5 appears only on the left (null path),
  // and several right rows share an exact (user, ts) pair (tie path)
  private def rights: Seq[(Long, Long, Long, Double)] = // (user, tsm, id, value)
    (0 until 40).map { i =>
      // ts period 10 with user period 5 => every (user, ts) pair recurs
      // (i and i+10 collide), exercising the max-tie pick
      (i % 5L, ((i * 3) % 10).toLong * 1000L, 1000L + i, i * 1.5)
    }
  private def lefts: Seq[(Long, Long, Long)] = // (user, tsm, id)
    (0 until 60).map { i =>
      (i % 6L, ((i * 13) % 60).toLong * 1000L, 2000L + i)
    }

  test("asofJoin == brute force (incl. inclusive bound, ties, no-match nulls)") {
    import spark.implicits._
    val l = lefts.toDF("user_id", "tsm", "event_id")
      .select(col("event_id"), col("user_id"), timestamp_millis(col("tsm")).as("ts"))
    val r = rights.toDF("user_id", "tsm", "state_event", "state_value")
      .select(col("user_id"), timestamp_millis(col("tsm")).as("ts"),
        col("state_value"), col("state_event"))

    val got = Temporal.asofJoin(l, r, Seq("user_id"), "ts", "state_event",
        Seq("state_value", "state_event"))
      .select(col("event_id"), col("asof_state_value"), col("asof_state_event"))
      .collect()
      .map(x => (x.getLong(0),
        if (x.isNullAt(1)) None else Some(x.getDouble(1)),
        if (x.isNullAt(2)) None else Some(x.getLong(2))))
      .toSet

    val expected = lefts.map { case (u, lts, id) =>
      val cands = rights.filter { case (ru, rts, _, _) => ru == u && rts <= lts }
      if (cands.isEmpty) (id, None, None)
      else {
        val best = cands.maxBy { case (_, rts, rid, _) => (rts, rid) }
        (id, Some(best._4), Some(best._3))
      }
    }.toSet
    assert(got == expected)
    // the fixture really exercises both edge paths
    assert(expected.exists(_._2.isEmpty), "fixture lost its no-match rows")
    assert(rights.groupBy(t => (t._1, t._2)).exists(_._2.size > 1),
      "fixture lost its (user, ts) ties")
  }

  test("asofJoin payload columns tear-free: all from the SAME right row even with nulls") {
    import spark.implicits._
    // at t=10 the winning row (id 11) has a NULL value; a per-column
    // last(ignoreNulls) would tear and take id 11's id with id 10's value
    val r = Seq(
      (1L, 10L, 10L, Option(5.0)),
      (1L, 10L, 11L, Option.empty[Double])
    ).toDF("user_id", "tsm", "state_event", "state_value")
      .select(col("user_id"), timestamp_millis(col("tsm")).as("ts"),
        col("state_value"), col("state_event"))
    val l = Seq((1L, 20L, 99L)).toDF("user_id", "tsm", "event_id")
      .select(col("event_id"), col("user_id"), timestamp_millis(col("tsm")).as("ts"))
    val row = Temporal.asofJoin(l, r, Seq("user_id"), "ts", "state_event",
      Seq("state_value", "state_event")).collect().head
    assert(row.getAs[Long]("asof_state_event") == 11L)
    assert(row.isNullAt(row.fieldIndex("asof_state_value")))
  }

  test("asofJoin plan: one exchange, one window, zero join nodes") {
    import spark.implicits._
    val l = lefts.toDF("user_id", "tsm", "event_id")
      .select(col("event_id"), col("user_id"), timestamp_millis(col("tsm")).as("ts"))
    val r = rights.toDF("user_id", "tsm", "state_event", "state_value")
      .select(col("user_id"), timestamp_millis(col("tsm")).as("ts"),
        col("state_value"), col("state_event"))
    val plan = Temporal.asofJoin(l, r, Seq("user_id"), "ts", "state_event",
      Seq("state_value")).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert("Window".r.findAllIn(plan).size >= 1, plan)
  }

  private def points: Seq[(Long, Long, Long)] = // (id, user, tsm)
    (0 until 80).map(i => (i.toLong, i % 4L, ((i * 11) % 100).toLong * 1000L))
  private def intervals: Seq[(Long, Long, Long, Long)] = // (iid, user, lo, hi)
    Seq(
      (0L, 0L, 5000L, 30000L),   // spans multiple 10 s buckets
      (1L, 1L, 0L, 99000L),      // whole range
      (2L, 2L, 42000L, 42000L),  // degenerate single instant
      (3L, 3L, 200000L, 220000L) // empty (past the data)
    )

  private def rjFrames = {
    import spark.implicits._
    val p = points.toDF("event_id", "user_id", "tsm")
      .select(col("event_id"), col("user_id"), timestamp_millis(col("tsm")).as("ts"))
    val i = intervals.toDF("interval_id", "user_id", "lom", "him")
      .select(col("interval_id"), col("user_id"),
        timestamp_millis(col("lom")).as("lo"), timestamp_millis(col("him")).as("hi"))
    (p, i)
  }

  test("rangeJoin == brute force, inclusive bounds, no duplicate pairs") {
    val (p, i) = rjFrames
    val rows = Temporal.rangeJoin(p, i, Seq("user_id"), "ts", "lo", "hi",
        bucketMs = 10000L)
      .select(col("interval_id"), col("event_id")).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    val got = rows.toSet
    assert(rows.length == got.size, "duplicate (interval, point) pairs")
    val expected = (for {
      (pid, pu, pts) <- points
      (iid, iu, lo, hi) <- intervals
      if pu == iu && pts >= lo && pts <= hi
    } yield (iid, pid)).toSet
    assert(got == expected)
    assert(expected.nonEmpty && !expected.exists(_._1 == 3L))
    // boundary inclusivity is really exercised: some point sits exactly on a bound
    assert(points.exists { case (_, u, t) =>
      intervals.exists { case (_, iu, lo, hi) => u == iu && (t == lo || t == hi) } })
  }

  test("rangeJoin plan: equi-join only (no BNLJ / cartesian)") {
    val (p, i) = rjFrames
    val plan = Temporal.rangeJoin(p, i, Seq("user_id"), "ts", "lo", "hi",
      bucketMs = 10000L).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("Cartesian"), plan)
  }

  test("rangeJoin throws on an interval wider than maxBucketsPerInterval") {
    val (p, i) = rjFrames
    val e = intercept[Exception] {
      Temporal.rangeJoin(p, i, Seq("user_id"), "ts", "lo", "hi",
        bucketMs = 10000L, maxBucketsPerInterval = 5).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("rangeJoin")), e.toString)
  }
}

class ContaminationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val trainDocs = Seq(
    0L -> "the quick brown fox jumps over the lazy dog near the river bank",
    1L -> "spark streaming jobs shuffle data between executors during wide stages",
    2L -> "short text", // shorter than n: falls back to single tokens
    3L -> "cooking pasta with tomato sauce tonight is a completely different plan",
    4L -> "the lazy dog near the river shore sleeps all afternoon long")
  private val benchDocs = Seq(
    100L -> "benchmark asks about the quick brown fox jumps over everything",
    101L -> "evaluation of short text handling in tiny documents",
    102L -> "tiny short text") // < n tokens: contributes single-token shingles

  private def brute(n: Int): Map[Long, Long] = {
    val bench = benchDocs.flatMap(d => Dedup.wordShinglesKernel(d._2, n)).toSet
    trainDocs.map { case (id, t) =>
      id -> Dedup.wordShinglesKernel(t, n).count(bench.contains).toLong
    }.toMap
  }

  private def run(n: Int): Map[Long, (Long, Boolean)] = {
    import spark.implicits._
    val t = trainDocs.toDF("doc_id", "text")
    val b = benchDocs.toDF("doc_id", "text")
    Contamination.flagContaminated(t, b, shingleN = n)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_hits"), r.getAs[Boolean]("contaminated")))
      .toMap
  }

  test("flagContaminated == brute-force shingle-set intersection (n=4)") {
    val expected = brute(4)
    val got = run(4)
    assert(got.keySet == trainDocs.map(_._1).toSet) // zero-hit docs present
    expected.foreach { case (id, hits) =>
      assert(got(id) == ((hits, hits > 0)), s"doc $id")
    }
    assert(expected.values.exists(_ > 0) && expected.values.exists(_ == 0))
  }

  test("short docs fall back to token overlap (kernel parity)") {
    // doc 2 ("short text") has < n tokens, so its shingles are its tokens;
    // they hit bench doc 102's token-level shingles (also < n tokens)
    val got = run(4)
    assert(brute(4)(2L) == 2L) // kernel agrees the overlap is token-level
    assert(got(2L)._1 == 2L && got(2L)._2)
  }

  test("non-broadcast path (gate forced off) gives identical output") {
    assert(SizeGate.forceDistributed(run(4)) == run(4))
  }

  test("empty benchmark: every doc clean") {
    import spark.implicits._
    val t = trainDocs.toDF("doc_id", "text")
    val b = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val got = Contamination.flagContaminated(t, b, shingleN = 4).collect()
    assert(got.length == trainDocs.size)
    assert(got.forall(r => r.getAs[Long]("n_hits") == 0L &&
      !r.getAs[Boolean]("contaminated")))
  }
}
