package graft.kg

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class LinkSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("normKey collapses case and whitespace") {
    assert(Link.normKeyScala("  Alice   SMITH ") == "alice smith")
    // Spark expression agrees with the Scala mirror
    import spark.implicits._
    val got = Seq("  Alice   SMITH ", "BOB", "a\tb").toDF("s")
      .select(Link.normKey(org.apache.spark.sql.functions.col("s"))).as[String].collect()
    assert(got.toSeq == Seq("alice smith", "bob", "a b"))
  }

  test("normKeyScala equals normKey on control, space, case-mapping and non-BMP characters") {
    import spark.implicits._
    def cp(c: Int) = new String(Character.toChars(c))
    val inputs = Seq(
      "\u0001bob", "bob\u0000", "\u001fz", "\u0000 a \u0001", " \t\n x \r\f\u000b",
      "\u00a0Bob\u00a0", " \u2003X\u2003 ", "\u0085Y\u0085",
      "\u039f\u0394\u039f\u03a3 \u03a3\u039f\u03a3", "\u0130stanbul", "I\u0307",
      "\u1e9e", cp(0x10400) + "li " + cp(0x10570), "  ", "", "A  B\t\tC")
    val got = inputs.toDF("s").select(Link.normKey(org.apache.spark.sql.functions.col("s")))
      .as[String].collect().toSeq
    assert(got == inputs.map(Link.normKeyScala))
    // the cases Java's trim and toLowerCase got wrong
    assert(Link.normKeyScala("\u0001bob") == "\u0001bob")
    assert(Link.normKeyScala(cp(0x10570)) == cp(0x10597))
    assert(Link.normKeyScala("\u03a3\u039f\u03a3") == "\u03c3\u03bf\u03c2")
  }

  test("guid mint: Spark sha2 agrees with the Scala mirror (determinism across engines)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val got = Seq(("Person", "alice smith")).toDF("t", "k")
      .select(Link.guidFor(col("t"), col("k"))).as[String].head()
    assert(got == Link.guidForScala("Person", "alice smith"))
    assert(got.length == 64)
  }

  test("jaccard on 3-gram shingles behaves") {
    assert(Link.jaccard("alice smith", "alice smith") == 1.0)
    assert(Link.jaccard("alice smith", "alice smit") > 0.8)
    assert(Link.jaccard("robert smith", "rupert smith") < 0.7)
    assert(Link.jaccard("alice smith", "bob jones") < 0.1)
  }

  test("shinglesPacked is injective on every string, NUL-led trigrams included") {
    // the trigram (NUL, 'a', 'b') used to pack equal to the short key "ab"
    assert(!(Link.shinglesPacked("\u0000ab") sameElements Link.shinglesPacked("ab")))
    val alphabet = Seq("\u0000", "a", "b", "\uffff")
    val strs = (0 to 4).flatMap(n => Seq.fill(n)(alphabet).foldLeft(Seq(""))(
      (acc, cs) => for (p <- acc; c <- cs) yield p + c))
    val packed = strs.map(s => s -> Link.shinglesPacked(s)).toMap
    for (a <- strs) assert(packed(a).length == Link.shingles(a).size, a)
    for (a <- strs; b <- strs) {
      assert((packed(a) sameElements packed(b)) == (Link.shingles(a) == Link.shingles(b)))
      assert(Link.jaccardPackedKernel(packed(a), packed(b)) == Link.jaccard(a, b))
    }
  }

  test("bandSignature is deterministic and has `bands` entries") {
    val a = Link.bandSignature("alice smith", 24, 8)
    val b = Link.bandSignature("alice smith", 24, 8)
    assert(a == b && a.size == 8)
    assert(a.map(_._1) == (0 until 8))
  }

  test("fuzzySameAs finds typo pairs and rejects distinct names") {
    import spark.implicits._
    val keys = Seq(
      ("Person", "alice smith"), ("Person", "alice smit"),
      ("Person", "robert smith"), ("Person", "rupert smith"),
      ("Order", "1"), ("Order", "2") // non-fuzzy type must produce nothing
    ).toDF("entity_type", "dict_key")
    val pairs = Link.fuzzySameAs(keys, Link.Config())
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(pairs == Set(("Person", "alice smit", "alice smith")))
  }

  test("exactSameAs equals the brute-force >= t pair set (recall AND precision 1.0)") {
    import spark.implicits._
    // a spread of near/far keys across two fuzzy types + a non-fuzzy type
    val keys = Seq(
      ("Person", "alice smith"), ("Person", "alice smit"), ("Person", "alice smith jr"),
      ("Person", "robert smith"), ("Person", "rupert smith"),
      ("Person", "wholly unrelated"),
      ("City", "san francisco"), ("City", "san francisc"), ("City", "los angeles"),
      ("Order", "1"), ("Order", "2")
    ).toDF("entity_type", "dict_key")
    val t = 0.7
    val got = Link.fuzzySameAs(keys, Link.Config(exactSameAs = true, jaccardThreshold = t,
        fuzzyTypes = Seq("Person", "City")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val in = keys.collect().map(r => (r.getString(0), r.getString(1)))
    val expect = (for {
      (ta, ka) <- in; (tb, kb) <- in
      if ta == tb && Seq("Person", "City").contains(ta) && ka < kb
      if Link.jaccard(ka, kb) >= t
    } yield (ta, ka, kb)).toSet
    assert(got == expect)
    assert(expect.nonEmpty)
  }

  test("fuzzySameAsDelta equals full discovery restricted to new-involved pairs (both engines)") {
    import spark.implicits._
    // old set is CONVERGED (no old×old pair >= t) — the resolver invariant
    // under which delta == full; new keys match old, new, and nothing
    val keys = Seq(
      ("Person", "alice smith", false), ("Person", "robert smith", false),
      ("Person", "wholly unrelated", false),
      ("Person", "alice smit", true),      // new×old pair
      ("Person", "robert smyth", true),    // new×old maybe-pair
      ("Person", "zanzibar qux", true),    // new singleton
      ("Person", "zanzibar quxx", true),   // new×new pair
      ("Order", "1", true), ("Order", "2", true)
    ).toDF("entity_type", "dict_key", "is_new")
    val newSet = Set("alice smit", "robert smyth", "zanzibar qux", "zanzibar quxx")
    for (exact <- Seq(true, false)) {
      val cfg = Link.Config(exactSameAs = exact)
      val delta = Link.fuzzySameAsDelta(keys, cfg)
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      val fullAll: Set[(String, String, String)] = Link.fuzzySameAs(keys.drop("is_new"), cfg)
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      val full = fullAll.filter { case (_, a, b) =>
        newSet.contains(a) || newSet.contains(b) }
      assert(delta == full, s"exact=$exact: $delta vs $full")
      assert(delta.exists { case (_, a, b) => // at least one new×old pair found
        newSet.contains(a) ^ newSet.contains(b) })
      assert(delta.exists { case (_, a, b) => // and one new×new pair
        newSet.contains(a) && newSet.contains(b) })
    }
  }

  test("broadcast dictionary maps variants; unknown keys pass through") {
    import spark.implicits._
    val ments = Seq(("Person", "bob smith"), ("Person", "zed qux"))
      .toDF("entity_type", "norm_key")
    val dict = Seq(("Person", "bob smith", "robert smith"))
      .toDF("entity_type", "variant_norm", "canonical_norm")
    val out = Link.applyDict(ments, dict).collect()
      .map(r => r.getString(1) -> r.getString(2)).toMap
    assert(out == Map("bob smith" -> "robert smith", "zed qux" -> "zed qux"))
  }
}
