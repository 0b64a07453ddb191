package graft.kg

import org.scalatest.funsuite.AnyFunSuite

import graft.{SizeGate, TestSpark}

class CanonicalizeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def cc(edges: Seq[(String, String)]): Map[String, String] = {
    import spark.implicits._
    Canonicalize.connectedComponents(
        edges.map { case (a, b) => ("T", a, b) }.toDF("entity_type", "key_a", "key_b"))
      .collect()
      .map(r => r.getString(1) -> r.getString(2))
      .toMap
  }

  private def ufOracle(edges: Seq[(String, String)]): Map[String, String] = {
    val uf = new Oracle.UnionFind
    edges.foreach { case (a, b) => uf.union(a, b) }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(k => k -> uf.find(k)).toMap
  }

  private def check(edges: Seq[(String, String)]): Unit =
    assert(cc(edges) == ufOracle(edges))

  test("path graph collapses to min key") {
    check(Seq("b" -> "c", "c" -> "d", "d" -> "e", "a" -> "b"))
  }

  test("star graph") { check(Seq("m" -> "a", "m" -> "b", "m" -> "c", "m" -> "z")) }

  test("cycle graph") { check(Seq("a" -> "b", "b" -> "c", "c" -> "a")) }

  test("two clusters merged by one bridge edge") {
    check(Seq("a" -> "b", "b" -> "c", "x" -> "y", "y" -> "z", "c" -> "x"))
  }

  test("disjoint clusters stay disjoint") {
    val labels = cc(Seq("a" -> "b", "x" -> "y"))
    assert(labels("a") == "a" && labels("b") == "a")
    assert(labels("x") == "x" && labels("y") == "x")
  }

  test("entity_type partitions the graph — same keys in different types never merge") {
    import spark.implicits._
    val df = Seq(("A", "k1", "k2"), ("B", "k2", "k3"))
      .toDF("entity_type", "key_a", "key_b")
    val labels = Canonicalize.connectedComponents(df).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(labels(("A", "k2")) == "k1")
    assert(labels(("B", "k2")) == "k2") // type B's k2 is its own component min
  }

  test("randomized graphs match union-find (property)") {
    for (seed <- 0 until 6) {
      val r = new scala.util.Random(seed)
      val n = 4 + r.nextInt(20)
      val edges = List.fill(n)((s"k${r.nextInt(15)}", s"k${r.nextInt(15)}"))
        .filter(e => e._1 != e._2)
      if (edges.nonEmpty) check(edges)
    }
  }

  // --- distributed large-star/small-star path (SizeGate.forceDistributed) ---

  private def ccStar(edges: Seq[(String, String)]): Map[String, String] = {
    import spark.implicits._
    SizeGate.forceDistributed(Canonicalize.connectedComponents(
        edges.map { case (a, b) => ("T", a, b) }.toDF("entity_type", "key_a", "key_b"))
      .collect()).map(r => r.getString(1) -> r.getString(2)).toMap
  }

  test("driver union-find survives an adversarially ordered 150k-deep chain") {
    // descending-order edges build the deepest possible parent chain before
    // compression: the old recursive find overflowed the driver stack here
    val n = 150000
    val edges = (n to 1 by -1).map(i => (f"k$i%07d", f"k${i - 1}%07d"))
    val labels = cc(edges)
    assert(labels.size == n + 1)
    assert(labels.values.forall(_ == "k0000000"))
  }

  test("large-star/small-star equals union-find on random graphs") {
    for (seed <- 10 until 14) {
      val r = new scala.util.Random(seed)
      val edges = List.fill(6 + r.nextInt(25))(
        (f"k${r.nextInt(18)}%03d", f"k${r.nextInt(18)}%03d")).filter(e => e._1 != e._2)
      if (edges.nonEmpty) assert(ccStar(edges) == ufOracle(edges), s"seed=$seed")
    }
  }

  test("large-star/small-star collapses a long path in O(log n) rounds") {
    // a 256-node chain: naive min-propagation needs 255 rounds; the
    // alternating algorithm must finish well inside maxIter=25
    val chain = (0 until 255).map(i => (f"n$i%04d", f"n${i + 1}%04d"))
    val labels = ccStar(chain)
    assert(labels.values.toSet == Set("n0000"))
    assert(labels.size == 256)
  }

  test("large-star/small-star keeps entity types disjoint") {
    import spark.implicits._
    val df = Seq(("A", "x", "y"), ("B", "y", "z")).toDF("entity_type", "key_a", "key_b")
    val labels = SizeGate.forceDistributed(Canonicalize.connectedComponents(df).collect())
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(labels(("A", "y")) == "x" && labels(("B", "y")) == "y")
  }
}
