package graft.kg

import org.scalatest.funsuite.AnyFunSuite

import graft.{SizeGate, TestSpark}

class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def mirror(edges: Seq[(String, String)], iters: Int, d: Double,
      dangling: Boolean = false): Map[String, Double] = {
    val e = edges.distinct
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val n = nodes.size
    val out = e.groupBy(_._1).view.mapValues(_.size).toMap
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val s = if (dangling) nodes.filterNot(out.contains).map(r).sum else 0.0
      val contrib = e.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => r(u) / out(u) }.sum).toMap
      r = nodes.map(v =>
        v -> ((1.0 - d) / n + d * s / n + d * contrib.getOrElse(v, 0.0))).toMap
    }
    r
  }

  test("pageRank matches an in-memory power iteration on a small graph") {
    import spark.implicits._
    val edges = Seq("a" -> "b", "b" -> "a", "c" -> "a", "c" -> "b", "d" -> "c")
    val got = Graph.pageRank(edges.toDF("src", "dst"), iters = 10, damping = 0.85)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = mirror(edges, 10, 0.85)
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-12, s"$k: $v vs ${want(k)}") }
    // the sink-free cycle holds most mass; sanity on ordering
    assert(got("a") > got("c") && got("b") > got("c") && got("c") > got("d"))
  }

  test("dangling redistribution: textbook PageRank on a graph WITH sinks, mass conserved") {
    import spark.implicits._
    // b and e are sinks: without redistribution their mass leaks each
    // iteration; with it the total stays 1 and matches the in-memory mirror
    val edges = Seq("a" -> "b", "c" -> "a", "c" -> "b", "d" -> "c", "d" -> "e")
    val got = Graph.pageRank(edges.toDF("src", "dst"), iters = 12,
        damping = 0.85, danglingRedistribution = true)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = mirror(edges, 12, 0.85, dangling = true)
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 1e-12, s"$k: $v vs ${want(k)}") }
    assert(math.abs(got.values.sum - 1.0) < 1e-9) // mass conserved
    // and the default (no redistribution) on the same graph leaks mass
    val leaky = Graph.pageRank(edges.toDF("src", "dst"), iters = 12)
      .collect().map(_.getDouble(1)).sum
    assert(leaky < 0.999)
  }

  test("tol early exit converges to the fixed-iteration result on a cycle") {
    import spark.implicits._
    val cyc = Seq("x" -> "y", "y" -> "z", "z" -> "x")
    // symmetric cycle: exact answer is uniform from iteration 1; a tiny tol
    // must stop early and still equal the long fixed run
    val fixed = Graph.pageRank(cyc.toDF("src", "dst"), iters = 50)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val early = Graph.pageRank(cyc.toDF("src", "dst"), iters = 50, tol = 1e-12)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    early.foreach { case (k, v) => assert(math.abs(v - fixed(k)) < 1e-9) }
  }

  test("rank mass stays within (0, 1] and leaks only via sinks") {
    import spark.implicits._
    // pure cycle: no sinks => total mass conserved at 1.0
    val cyc = Seq("x" -> "y", "y" -> "z", "z" -> "x")
    val ranks = Graph.pageRank(cyc.toDF("src", "dst"), iters = 5)
      .collect().map(_.getDouble(1))
    assert(math.abs(ranks.sum - 1.0) < 1e-9)
    assert(ranks.forall(r => r > 0.0 && r < 1.0))
  }

  test("pageRank driver fast path == forced distributed loop (both mirror-exact)") {
    import spark.implicits._
    // mixed shape: cycle + sinks + a chain, with dangling redistribution on
    // one run and off on the other — forceDistributed forces the
    // distributed iteration, the default takes the driver loop; both must
    // agree with each other and the in-memory mirror
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d",
      "d" -> "e", "f" -> "a")
    for (dangling <- Seq(false, true)) {
      val drv = Graph.pageRank(edges.toDF("src", "dst"), iters = 8,
          danglingRedistribution = dangling)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val dist = SizeGate.forceDistributed(Graph.pageRank(edges.toDF("src", "dst"),
          iters = 8, danglingRedistribution = dangling).collect())
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val want = mirror(edges, 8, 0.85, dangling = dangling)
      assert(drv.keySet == dist.keySet && drv.keySet == want.keySet)
      drv.foreach { case (k, v) =>
        assert(math.abs(v - dist(k)) < 1e-12, s"driver vs distributed $k")
        assert(math.abs(v - want(k)) < 1e-12, s"driver vs mirror $k")
      }
    }
  }

  test("kHop driver fast path == forced distributed BFS, exactly") {
    import spark.implicits._
    val edges = Seq("a" -> "b", "a" -> "c", "b" -> "d", "c" -> "d",
      "d" -> "e", "b" -> "a", "x" -> "y").toDF("src", "dst")
    for (k <- Seq(1, 2, 3, 9)) {
      val drv = Graph.kHop(edges, Seq("a").toDF("node"), k).collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
      val dist = SizeGate.forceDistributed(
          Graph.kHop(edges, Seq("a").toDF("node"), k).collect())
        .map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(drv == dist, s"k=$k")
    }
  }

  test("kHop: min-hop distances, unreachable excluded, early frontier drain") {
    import spark.implicits._
    // diamond a->b, a->c, b->d, c->d (d at 2 via both paths), chain d->e,
    // back-edge b->a (revisit must not inflate hops), island x->y
    val edges = Seq("a" -> "b", "a" -> "c", "b" -> "d", "c" -> "d",
      "d" -> "e", "b" -> "a", "x" -> "y").toDF("src", "dst")
    val got3 = Graph.kHop(edges, Seq("a").toDF("node"), k = 3).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got3 == Map("a" -> 0, "b" -> 1, "c" -> 1, "d" -> 2, "e" -> 3))
    // k larger than the graph's reach: early drain, same answer
    val got9 = Graph.kHop(edges, Seq("a").toDF("node"), k = 9).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got9 == got3)
    // k = 1 truncates
    val got1 = Graph.kHop(edges, Seq("a").toDF("node"), k = 1).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got1 == Map("a" -> 0, "b" -> 1, "c" -> 1))
  }

  test("triangles: each emitted once in canonical order; wedges without closure stay out") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles), a pendant wedge 4-5, 4-6 (open), and
    // a duplicate edge row that must not double-count
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (1L, 2L)).toDF("a", "b")
    val got = Graph.triangles(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L), (2L, 3L, 4L)))
  }
}
