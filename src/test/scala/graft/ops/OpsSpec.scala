package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.{SizeGate, TestSpark}
import graft.functions.{TextHash, TextHashKernels}
import org.apache.spark.unsafe.types.UTF8String

class TextHashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("fingerprint64 kernel is FNV-1a (known vector) and expression agrees") {
    import spark.implicits._
    // FNV-1a 64 of "abc"
    assert(TextHashKernels.fingerprint64(UTF8String.fromString("abc")) ==
      0xe71fa2190541574bL)
    val got = Seq("abc").toDF("t")
      .select(TextHash.fingerprint64(org.apache.spark.sql.functions.col("t")))
      .as[Long].head()
    assert(got == 0xe71fa2190541574bL)
  }

  test("simhash64: identical texts equal; near texts close; distinct texts far") {
    def h(s: String) = TextHashKernels.simhash64(UTF8String.fromString(s))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    assert(h(base) == h(base))
    assert(ham(h(base), h(base.replace("dog", "cat"))) <= 16)
    assert(ham(h(base), h("completely unrelated words xylophone quartz vibrant majestic")) > 16)
  }

  test("simhash64 expression is codegen'd (no fallback) and registered in SQL") {
    import spark.implicits._
    TextHash.register(spark)
    // range scan (not a local relation) so the optimizer cannot pre-evaluate
    // and the expression must run inside generated code
    val out = spark.range(2).selectExpr(
      "simhash64(concat('a b c ', cast(id AS string))) AS h",
      "fingerprint64(cast(id AS string)) AS f")
    val exec = out.queryExecution.executedPlan
    val inCodegen = exec.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(inCodegen, exec.toString)
    val got = out.as[(Long, Long)].collect().toSet
    assert(got.contains((
      TextHashKernels.simhash64(UTF8String.fromString("a b c 0")),
      TextHashKernels.fingerprint64(UTF8String.fromString("0")))))
  }
}

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val d = docs(
    0L -> "the quick brown fox jumps over the lazy dog near the river bank",
    1L -> "the quick brown fox jumps over the lazy dog near the river bank", // exact dup of 0
    2L -> "the quick brown fox jumps over the lazy dog near the river shore", // near dup of 0
    3L -> "spark streaming jobs shuffle data between executors during wide stages",
    4L -> "completely different content about cooking pasta with tomato sauce tonight")

  test("exact dedup groups identical texts, keeps min doc_id") {
    val out = Dedup.exact(d).collect()
      .map(r => r.getAs[Long]("keep_doc_id") -> r.getAs[Long]("dup_count")).toMap
    assert(out(0L) == 2L) // docs 0+1 collapsed
    assert(out.values.sum == 5L)
    assert(!out.contains(1L))
  }

  test("minhash LSH finds the near-dup pair and not the distinct ones") {
    val pairs = Dedup.minhashPairs(d, Dedup.MinHashConfig(jaccardThreshold = 0.5))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 4L || p._2 == 4L))
  }

  test("minhash jaccard matches exact shingle jaccard (verification is exact)") {
    val got = Dedup.minhashPairs(d, Dedup.MinHashConfig(jaccardThreshold = 0.1))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // brute force word-3-gram jaccard for (0,2)
    def sh(s: String) = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val t0 = "the quick brown fox jumps over the lazy dog near the river bank"
    val t2 = "the quick brown fox jumps over the lazy dog near the river shore"
    val expect = sh(t0).intersect(sh(t2)).size.toDouble / sh(t0).union(sh(t2)).size
    assert(math.abs(got((0L, 2L)) - expect) < 1e-12)
  }

  test("simhash blocking finds exact + near duplicates within hamming bound") {
    val pairs = Dedup.simhashPairs(d, maxHamming = 12, blocks = 16, comboSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // identical => hamming 0
    assert(pairs.contains((0L, 2L))) // one word changed
    assert(!pairs.contains((0L, 4L)))
  }

  test("ngram jaccard prefix-filter join equals brute force (recall 1.0)") {
    import spark.implicits._
    // 40 docs: 8 clusters of near-identical sentences + noise docs
    val base = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      "one two three four five six seven eight nine ten eleven",
      "spark shuffles data between executors during wide stage boundaries",
      "the rain in spain falls mainly on the plain every year")
    val docs = (0 until 40).map { i =>
      val b = base(i % base.length)
      val t = if (i < 16) b // exact dup clusters
        else if (i < 28) b + s" extra${i}" // near dups
        else s"unique content number $i with nothing shared at all ${i * 7}"
      (i.toLong, t)
    }.toDF("doc_id", "text")
    val t = 0.5
    val got = Dedup.ngramJaccardPairs(docs, shingleN = 3, minJaccard = t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over all pairs
    val arr = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val expect = (for {
      (ia, ta) <- arr; (ib, tb) <- arr if ia < ib
      j = Dedup.jaccardKernel(Dedup.wordShinglesKernel(ta, 3), Dedup.wordShinglesKernel(tb, 3))
      if j >= t
    } yield (ia, ib)).toSet
    assert(got == expect)
    assert(expect.nonEmpty)
  }

  test("hashed shingle tokens are injective on the oracle corpora") {
    // the candidate stage runs on wordShingleHashesKernel's 64-bit tokens;
    // the prefix-filter recall argument is fully constructive whenever the
    // corpus's shingle-string -> hash mapping is injective (same doc ->
    // same windows, and the hash is a pure function of the word sequence,
    // so GLOBAL distinct-count equality proves injectivity). Assert it on
    // every oracle-graded corpus size and each shingleN in use, plus the
    // per-doc set-size agreement the size filters rely on.
    import spark.implicits._
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val texts = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
        .select($"text").as[String].collect()
      for (n <- Seq(3, 4)) {
        val allGrams = scala.collection.mutable.HashSet.empty[String]
        val allHashes = scala.collection.mutable.HashSet.empty[Long]
        texts.foreach { t =>
          val grams = Dedup.wordShinglesKernel(t, n)
          val hashes = Dedup.wordShingleHashesKernel(t, n)
          assert(hashes.length == grams.size,
            s"per-doc hashed set size diverged at $sf n=$n")
          allGrams ++= grams
          allHashes ++= hashes
        }
        assert(allGrams.size == allHashes.size,
          s"shingle hash collision inside $sf n=$n vocabulary")
      }
    }
  }

  test("simhash combination blocking keeps recall 1.0 and the cap drops hot buckets") {
    import spark.implicits._
    // 600 docs: 500 exact copies of one text (a pathological hot bucket)
    // + 100 distinct ones
    val docs = (0 until 600).map { i =>
      val t = if (i < 500) "identical web boilerplate page content here"
        else s"distinct document $i talking about topic ${i * 13} only"
      (i.toLong, t)
    }.toDF("doc_id", "text")
    // uncapped: the 500-clone cluster yields 500*499/2 pairs at hamming 0
    val uncapped = Dedup.simhashPairs(docs, maxHamming = 3, blocks = 8,
      comboSize = 2, maxBucket = 1000000).count()
    assert(uncapped >= 500L * 499 / 2)
    // capped at 100: every bucket holding the clone cluster is dropped, so
    // the quadratic blowup never reaches the join (exact dupes belong in
    // Dedup.exact, which is the documented pre-pass)
    val capped = Dedup.simhashPairs(docs, maxHamming = 3, blocks = 8,
      comboSize = 2, maxBucket = 100).count()
    assert(capped < 1000)
    // the drop is observed, not silent: the clone cluster fills one bucket
    // per combination
    assert(CapMetrics.await("dedup.simhash")(m =>
      m.getOrElse("dropped_rows", 0L) > 0L && m.getOrElse("max_bucket", 0L) == 500L),
      s"cap metrics never fired: ${CapMetrics.latest("dedup.simhash")}")
  }

  test("minhash band-bucket cap drops oversized buckets — and the drop is observed, not silent") {
    import spark.implicits._
    val docs = (0 until 300).map { i =>
      (i.toLong, "the same exact duplicated text appears many many times here")
    }.toDF("doc_id", "text")
    val capped = Dedup.minhashPairs(docs,
      Dedup.MinHashConfig(jaccardThreshold = 0.5, maxBandBucket = 50)).count()
    assert(capped == 0L)
    // "no silent caps": the dropped-row count must surface via CapMetrics
    assert(CapMetrics.await("dedup.minhash")(m =>
      m.getOrElse("dropped_rows", 0L) > 0L && m.getOrElse("max_bucket", 0L) == 300L),
      s"cap metrics never fired: ${CapMetrics.latest("dedup.minhash")}")
  }

  test("candidate volume stays bounded on a 1000-doc exact-dup cluster when capped") {
    import spark.implicits._
    // the worst case the default cap must be judged against: a 10^3 clone
    // cluster emits k^2/2 = ~500k pairs if blocking lets it through
    val docs = (0 until 1100).map { i =>
      val t = if (i < 1000) "cloned boilerplate web page content repeated everywhere"
        else s"unique document number $i about subject ${i * 31}"
      (i.toLong, t)
    }.toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs,
      Dedup.MinHashConfig(jaccardThreshold = 0.5, maxBandBucket = 500)).count()
    assert(pairs == 0L) // the cluster never reaches the quadratic join
    assert(CapMetrics.await("dedup.minhash")(m =>
      m.getOrElse("dropped_rows", 0L) >= 1000L))
    // the documented pre-pass catches what the cap dropped
    val exact = Dedup.exact(docs).filter($"dup_count" > 1).collect()
    assert(exact.length == 1 && exact.head.getAs[Long]("dup_count") == 1000L)
  }

  test("dedupGroups clusters transitively with min representative") {
    val groups = Dedup.dedupGroups(
        Dedup.minhashPairs(d, Dedup.MinHashConfig(jaccardThreshold = 0.5)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups == Map(0L -> 0L, 1L -> 0L, 2L -> 0L))
  }

  test("dedupGroups representative is the NUMERIC min (multi-digit ids)") {
    import spark.implicits._
    // lexicographic string-min would pick 10 over 2 — the zero-pad must not
    val pairs = Seq((2L, 10L), (10L, 100L)).toDF("doc_a", "doc_b")
    val groups = Dedup.dedupGroups(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups == Map(2L -> 2L, 10L -> 2L, 100L -> 2L))
  }
}

class SamplingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("assignSplit is a deterministic pure function of the key with sane proportions") {
    import spark.implicits._
    val df = (0L until 2000L).toDF("doc_id")
    val a = Sampling.assignSplit(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Int]("split_cell"), r.getAs[String]("split")))
      .toMap
    val b = Sampling.assignSplit(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Int]("split_cell"), r.getAs[String]("split")))
      .toMap
    assert(a == b) // rerun-stable
    // matches the kernel exactly (engine-independent assignment)
    a.foreach { case (id, (cell, split)) =>
      val h = graft.functions.TextHashKernels.fingerprint64(
        org.apache.spark.unsafe.types.UTF8String.fromString(id.toString))
      val expect = ((h % 100) + 100) % 100
      assert(cell.toLong == expect)
      assert(split == (if (cell < 80) "train" else if (cell < 90) "val" else "test"))
    }
    val bydist = a.values.groupBy(_._2).view.mapValues(_.size).toMap
    assert(bydist("train") > 1400 && bydist("train") < 1800)
    assert(bydist("val") > 100 && bydist("test") > 100)
  }

  test("incremental append keeps prior assignments (stability under growth)") {
    import spark.implicits._
    val first = Sampling.assignSplit((0L until 500L).toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    val grown = Sampling.assignSplit((0L until 1000L).toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    first.foreach { case (id, s) => assert(grown(id) == s) }
  }

  test("stratifiedSample: deterministic per-stratum rates, stratum-salted, append-stable") {
    import spark.implicits._
    val df = (0L until 3000L).map(i => (i, s"s${i % 3}")).toDF("doc_id", "src")
    val fr = Map("s0" -> 0.8, "s1" -> 0.2)
    def run() = Sampling.stratifiedSample(df, "src", "doc_id", fr, defaultFraction = 0.05)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val a = run()
    assert(a == run()) // rerun-stable
    // per-stratum keep rates near the requested fractions (1000 rows each)
    val rates = a.groupBy(_._2).view.mapValues(_.size / 1000.0).toMap
    assert(math.abs(rates("s0") - 0.8) < 0.05, rates.toString)
    assert(math.abs(rates("s1") - 0.2) < 0.05, rates.toString)
    assert(rates.getOrElse("s2", 0.0) < 0.1) // default 0.05
    // matches the kernel exactly (engine-independent)
    a.foreach { case (id, s) =>
      val h = graft.functions.TextHashKernels.fingerprint64(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"$s|$id"))
      val cell = ((h % 1000000) + 1000000) % 1000000
      val thresh = math.round(fr.getOrElse(s, 0.05) * 1000000.0)
      assert(cell < thresh, s"($id,$s) kept with cell $cell >= $thresh")
    }
    // stratum salts the hash: the same key is an independent draw per
    // stratum, so the kept sets of two equal-rate strata must differ
    val dfEq = (0L until 1000L).flatMap(i => Seq((i, "x"), (i, "y")))
      .toDF("doc_id", "src")
    val kept = Sampling.stratifiedSample(dfEq, "src", "doc_id",
        Map("x" -> 0.5, "y" -> 0.5)).collect()
      .map(r => (r.getString(1), r.getLong(0))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(kept("x") != kept("y"))
    // append stability: a grown corpus keeps every prior decision
    val firstKept = Sampling.stratifiedSample(df.limit(900), "src", "doc_id", fr, 0.05)
      .collect().map(_.getLong(0)).toSet
    assert(firstKept.subsetOf(a.map(_._1)))
    // null stratum is sampled at defaultFraction, not silently dropped
    val withNull = (0L until 1000L).map(i => (i, null: String)).toDF("doc_id", "src")
    val keptNull = Sampling.stratifiedSample(withNull, "src", "doc_id",
      fr, defaultFraction = 0.3).count()
    assert(math.abs(keptNull / 1000.0 - 0.3) < 0.06, s"null-stratum kept $keptNull")
  }
}

class SimJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // 50 token sets with a spread of sizes and overlaps (sliding windows over
  // a shared vocabulary), plus exact duplicates and singletons
  private def corpus: Seq[(Long, Set[String])] = {
    val words = (0 until 80).map(i => s"w$i")
    val windows = (0 until 46).map { i =>
      val start = (i * 3) % 40
      val len = 8 + (i % 7)
      (i.toLong, (start until start + len).map(k => words(k % 80)).toSet)
    }
    windows ++ Seq(
      46L -> windows(5)._2, // exact duplicate of doc 5
      47L -> Set("w0"), 48L -> Set("w0"), // identical singletons
      49L -> Set("lonely"))
  }

  test("candidatePairs recall is 1.0 vs brute force across thresholds") {
    import spark.implicits._
    val df = corpus.map { case (id, s) => (id, s.toSeq) }.toDF("id", "toks")
      .withColumn("grp", org.apache.spark.sql.functions.lit("_"))
    val truthAll = for {
      (ia, sa) <- corpus; (ib, sb) <- corpus if ia < ib
    } yield ((ia, ib), Dedup.jaccardKernel(sa, sb))
    val allPairs = corpus.size.toLong * (corpus.size - 1) / 2
    for (t <- Seq(0.3, 0.5, 0.7, 0.9)) {
      val cand = SimJoin.candidatePairs(df, t, "spec")
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      val truth = truthAll.collect { case (p, j) if j >= t => p }.toSet
      assert(truth.subsetOf(cand), s"t=$t missed ${truth -- cand}")
      // the filter stack must prune hard at high thresholds, not all-pairs
      if (t >= 0.7) assert(cand.size < allPairs / 4, s"t=$t cand=${cand.size}")
    }
    assert(CapMetrics.await("simjoin.spec")(_.getOrElse("candidates", -1L) >= 0L))
  }

  test("length filter prunes size-incompatible pairs sharing rare tokens") {
    import spark.implicits._
    // two sets sharing their rarest token but with |small| < t*|large|:
    // prefix filter alone would emit the pair; the length filter must not
    val rows = Seq(
      (1L, Seq("shared", "a1", "a2")), // size 3
      (2L, Seq("shared", "b1", "b2", "b3", "b4", "b5", "b6", "b7", "b8", "b9")), // size 10
      (3L, Seq("shared", "a1", "a2", "x"))) // size 4: within length bound of doc 1
    val df = rows.toDF("id", "toks")
      .withColumn("grp", org.apache.spark.sql.functions.lit("_"))
    val cand = SimJoin.candidatePairs(df, 0.5, "spec-len")
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(!cand.contains((1L, 2L)) && !cand.contains((2L, 3L))) // 3 < 0.5*10
    assert(cand.contains((1L, 3L))) // J = 3/4 >= 0.5 must survive
  }
}

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** deterministic corpus: 3 clusters of 20 vectors in 16-dim */
  private def corpus = {
    import spark.implicits._
    (0 until 60).map { i =>
      val cluster = i % 3
      val base = Array.tabulate(16)(d => if (d % 3 == cluster) 1.0f else 0.05f)
      val jitter = Array.tabulate(16)(d =>
        ((i * 31 + d * 7) % 13 - 6) / 100.0f)
      (i.toLong, base.zip(jitter).map { case (a, b) => a + b }, cluster)
    }.toDF("vec_id", "embedding", "label")
  }

  private def queries = {
    import org.apache.spark.sql.functions._
    corpus.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
  }

  test("brute-force top-k: neighbors share the query's cluster") {
    import org.apache.spark.sql.functions._
    val out = Similarity.bruteForceTopK(corpus, queries, 5).collect()
    assert(out.length == 15)
    out.foreach { r =>
      val q = r.getAs[Long]("query_id")
      val n = r.getAs[Long]("neighbor_id")
      assert(n % 3 == q % 3, s"query $q got neighbor $n from another cluster")
    }
  }

  test("brute-force partial-top-k kernel == windowed cross-join fallback") {
    // forceDistributed forces the over-gate naive plan; the default
    // takes the per-partition heap path — outputs must be IDENTICAL
    // (values, ranks, tie-breaks), including under a different input split
    val a = Similarity.bruteForceTopK(corpus, queries, 5)
      .orderBy("query_id", "rank").collect().toSeq
    val b = SizeGate.forceDistributed(Similarity.bruteForceTopK(corpus, queries, 5)
      .orderBy("query_id", "rank").collect().toSeq)
    val c = Similarity.bruteForceTopK(corpus.repartition(7), queries, 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(a == b)
    assert(a == c)
  }

  test("cosine column expression matches scala computation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].head()
    val exp = {
      val dot = 1.0 * 4 + 2.0 * 5 + 3.0 * 6
      dot / (math.sqrt(1.0 + 4 + 9) * math.sqrt(16.0 + 25 + 36))
    }
    assert(math.abs(got - exp) < 1e-12)
  }

  test("LSH top-k recall >= 0.8 vs brute force; precision exact on returned set") {
    val k = 5
    val bf = Similarity.bruteForceTopK(corpus, queries, k).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ann = Similarity.lshTopK(corpus, queries, k,
      Similarity.LshConfig(tables = 8, bits = 6)).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = bf.intersect(ann).size.toDouble / bf.size
    info(f"ANN recall vs brute force: $recall%.3f")
    assert(recall >= 0.8)
  }

  test("kmeansCentroids driver fast path is BIT-identical to the distributed loop") {
    // forceDistributed forces the distributed Lloyd iteration; the
    // default takes the driver loop, which replicates the per-partition
    // accumulation order — centroids must match to the last bit (SemDeDup
    // blocking and persisted-index assignments both hang off them)
    val cfg = Similarity.IvfConfig(nLists = 5, kmeansIters = 4, nProbe = 5)
    val drv = Similarity.kmeansCentroids(corpus, cfg)
    val dist = SizeGate.forceDistributed(Similarity.kmeansCentroids(corpus, cfg))
    assert(drv.length == dist.length)
    drv.zip(dist).foreach { case (a, b) =>
      assert(a.sameElements(b), "centroid mismatch between driver and distributed Lloyd")
    }
  }

  test("IVF: exhaustive probe equals brute force; partial probe keeps high recall") {
    val k = 5
    val bf = Similarity.bruteForceTopK(corpus, queries, k).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank")))
      .toSet
    // nProbe == nLists: identical to brute force, ranks included — on the
    // shipped-probe kernel and on the keyed-join fallback alike
    def exhaustive = Similarity.ivfTopK(corpus, queries, k,
      Similarity.IvfConfig(nLists = 6, kmeansIters = 3, nProbe = 6)).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank")))
      .toSet
    assert(exhaustive == bf)
    assert(SizeGate.forceDistributed(exhaustive) == bf)
    // partial probe: the quantizer should route each query to its own
    // cluster's lists — high recall at a third of the scan
    val partial = Similarity.ivfTopK(corpus, queries, k,
      Similarity.IvfConfig(nLists = 6, kmeansIters = 3, nProbe = 2)).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val bfPairs = bf.map(t => (t._1, t._2))
    val recall = bfPairs.intersect(partial).size.toDouble / bfPairs.size
    info(f"IVF partial-probe recall: $recall%.3f")
    assert(recall >= 0.8)
  }

  test("persisted IVF index: indexed search == self-contained search, zero re-training") {
    val k = 5
    val cfg = Similarity.IvfConfig(nLists = 6, kmeansIters = 3, nProbe = 6)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-idx").toString
    Similarity.buildIvfIndex(corpus, cfg, dir)

    // the indexed path must not invoke the quantizer at all — zero k-means
    // training runs (and hence zero training scans), identical results
    val runsBefore = Similarity.kmeansRuns.get()
    val got = Similarity.ivfTopKIndexed(corpus, queries, k, cfg, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(Similarity.kmeansRuns.get() == runsBefore,
      "ivfTopKIndexed re-trained the quantizer")
    val want = Similarity.ivfTopK(corpus, queries, k, cfg).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(Similarity.kmeansRuns.get() == runsBefore + 1) // fresh path trains
    assert(got == want && got.nonEmpty) // identical results

    // a stale index (different corpus) must throw, not serve wrong lists
    val mutated = corpus.limit(40)
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKIndexed(mutated, queries, k, cfg, dir)
    }
    // and so must a config mismatch — kmeansIters changes the centroids,
    // nLists=6 must not prefix-match a stored 64
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKIndexed(corpus, queries, k, cfg.copy(kmeansIters = 5), dir)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKIndexed(corpus, queries, k, cfg.copy(nLists = 64), dir)
    }
  }

  test("IVF index append: frozen-quantizer add, batch-composition invariant, guards") {
    import org.apache.spark.sql.functions._
    val k = 5
    val cfg = Similarity.IvfConfig(nLists = 6, kmeansIters = 3, nProbe = 6)
    // range split: the trained 40 vectors cover all three clusters (train
    // on id%3 instead and the quantizer never SEES cluster 2 — appended
    // unseen-mode vectors scatter and partial-probe recall craters to
    // ~0.73, the drift failure maxAppendFrac exists to bound)
    val trainSet = corpus.filter(col("vec_id") < 40) // 40 vecs
    val batch1 = corpus.filter(col("vec_id") >= 40 && col("vec_id") < 50)
    val batch2 = corpus.filter(col("vec_id") >= 50)

    val dir1 = java.nio.file.Files.createTempDirectory("graft-ivf-app1").toString
    Similarity.buildIvfIndex(trainSet, cfg, dir1)
    Similarity.appendIvfIndex(batch1, cfg, dir1)
    Similarity.appendIvfIndex(batch2, cfg, dir1)
    val dir2 = java.nio.file.Files.createTempDirectory("graft-ivf-app2").toString
    Similarity.buildIvfIndex(trainSet, cfg, dir2)
    Similarity.appendIvfIndex(batch1.union(batch2), cfg, dir2)

    // appends and indexed reads never retrain the quantizer
    val runsBefore = Similarity.kmeansRuns.get()
    val got1 = Similarity.ivfTopKIndexed(corpus, queries, k, cfg, dir1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got2 = Similarity.ivfTopKIndexed(corpus, queries, k, cfg, dir2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(Similarity.kmeansRuns.get() == runsBefore)
    // one append of two batches == two appends of one batch each
    assert(got1 == got2 && got1.nonEmpty)
    // nProbe = nLists probes every list: exact top-k REGARDLESS of the
    // quantizer having trained on only 2/3 of the corpus
    val bf = Similarity.bruteForceTopK(corpus, queries, k).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank"))).toSet
    assert(got1 == bf)
    // partial probe over the appended index still routes well when the
    // appended vectors come from the trained distribution
    val partial = Similarity.ivfTopKIndexed(corpus, queries, k,
      cfg.copy(nProbe = 2), dir1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bfPairs = bf.map(t => (t._1, t._2))
    val recall = bfPairs.intersect(partial).size.toDouble / bfPairs.size
    info(f"appended-index partial-probe recall: $recall%.3f")
    assert(recall >= 0.8)

    // guards: the PRE-append corpus no longer matches the advanced meta
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKIndexed(trainSet, queries, k, cfg, dir1)
    }
    // re-appending already-indexed ids must throw (id-disjoint contract)
    intercept[IllegalArgumentException] {
      Similarity.appendIvfIndex(batch1, cfg, dir1)
    }
    // config mismatch on append must throw, not assign with wrong centroids
    intercept[IllegalArgumentException] {
      Similarity.appendIvfIndex(batch1, cfg.copy(kmeansIters = 5), dir2)
    }
    // drift cap: 10 appended rows over a 40-row quantizer at frac 0.1 (=4)
    val dir3 = java.nio.file.Files.createTempDirectory("graft-ivf-app3").toString
    Similarity.buildIvfIndex(trainSet, cfg, dir3)
    intercept[IllegalArgumentException] {
      Similarity.appendIvfIndex(batch1, cfg, dir3, maxAppendFrac = 0.1)
    }
    // empty append is a no-op: the unmodified index still serves trainSet
    Similarity.appendIvfIndex(batch1.limit(0), cfg, dir3)
    val trainQ = Similarity.ivfTopKIndexed(trainSet, queries, k, cfg, dir3)
    assert(trainQ.count() > 0)
    // batch-internal duplicate ids must throw before touching the index
    intercept[IllegalArgumentException] {
      Similarity.appendIvfIndex(batch2.union(batch2), cfg, dir3)
    }
  }

  test("embedding near-dup pairs stay within clusters") {
    val lsh = Similarity.LshConfig(tables = 8, bits = 4)
    val pairs = Similarity.cosineNearDupPairs(corpus, 0.95, lsh).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getLong(0) % 3 == r.getLong(1) % 3)
    }
    val uncapped = CapMetrics.latest("similarity.neardup")
    assert(uncapped.get("dropped_rows").contains(0L))
    val maxBucket = uncapped("max_bucket")
    assert(maxBucket > 1L)
    // capped one below the largest bucket: that bucket's rows are dropped
    // and observed, and no pair appears that the uncapped run lacks
    val capped = Similarity.cosineNearDupPairs(corpus, 0.95, lsh,
      maxBucket = (maxBucket - 1).toInt).collect()
    assert(CapMetrics.await("similarity.neardup")(m =>
      m.getOrElse("dropped_rows", 0L) > 0L && m.get("max_bucket").contains(maxBucket)),
      s"cap metrics never fired: ${CapMetrics.latest("similarity.neardup")}")
    assert(capped.toSet.subsetOf(pairs.toSet))
  }
}

class TextStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("token stats") {
    import spark.implicits._
    val out = TextStats.tokenStats(Seq((1L, "the the quick fox")).toDF("doc_id", "text"))
      .collect().head
    assert(out.getAs[Int]("n_tokens") == 4)
    assert(out.getAs[Int]("n_distinct_tokens") == 3)
    assert(out.getAs[Int]("n_subwords") == 4)
  }

  test("subword count splits alpha/digit/punct runs") {
    import spark.implicits._
    val n = Seq((1L, "abc123, def!")).toDF("doc_id", "text")
      .select(TextStats.subwordCount(org.apache.spark.sql.functions.col("text")))
      .as[Int].head()
    assert(n == 5) // abc | 123 | , | def | !
  }

  test("quality score is in [0,1] and penalizes repetition") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the analysis shows a clear improvement in throughput for all tested configurations of the system"),
      (2L, "spam spam spam spam spam spam spam spam")).toDF("doc_id", "text")
    val out = TextStats.quality(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality_score")).toMap
    assert(out.values.forall(s => s >= 0.0 && s <= 1.0))
    assert(out(1L) > out(2L))
  }

  test("chunk: overlap/disjoint/partial/empty edges + brute parity + invariance") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks
      (2L, "a b c"),                                  // shorter than one window
      (3L, ""),                                       // empty -> zero chunks
      (4L, "  x   y  "))                              // ragged whitespace
      .toDF("doc_id", "text")
    def run(w: Int, s: Int, parts: Int = 3) =
      TextStats.chunk(docs.repartition(parts), w, s).collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getInt(2), r.getString(3))))
        .toMap
    def brute(w: Int, s: Int) = Seq(
      1L -> (1 to 10).map(i => s"t$i"), 2L -> Seq("a", "b", "c"),
      3L -> Seq.empty[String], 4L -> Seq("x", "y")).flatMap { case (id, ts) =>
      Range(0, ts.length, s).map { st =>
        val chunk = ts.slice(st, math.min(st + w, ts.length))
        (id, st / s) -> ((chunk.length, chunk.mkString(" ")))
      }
    }.toMap
    for ((w, s) <- Seq((4, 3), (4, 4), (3, 1), (40, 30)))
      assert(run(w, s) == brute(w, s), s"window=$w stride=$s")
    assert(run(4, 3, parts = 1) == run(4, 3, parts = 7))
    assert(run(4, 3).keySet.count(_._1 == 1L) == 4, "10 toks, stride 3 -> 4 chunks")
    assert(!run(4, 3).keySet.exists(_._1 == 3L), "empty doc yields zero chunks")
    intercept[IllegalArgumentException](TextStats.chunk(docs, 3, 4))
  }

  test("repetitionStats: exact fractions, brute-force parity, edge lengths") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b c a b c"),        // 9 toks, 3 distinct; "a b" x3 of 8; all 7 trigrams seen {abc,bca,cab} => 4 dups
      (2L, "unique words only here"),   // no repetition at all
      (3L, "solo"),                     // n=1: no bigrams/trigrams
      (4L, "two words"),                // n=2: one bigram, no trigrams
      (5L, ""))                         // empty
      .toDF("doc_id", "text")
    val out = TextStats.repetitionStats(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> (
        r.getAs[Int]("n_words"), r.getAs[Double]("dup_word_frac"),
        r.getAs[Double]("top_bigram_frac"), r.getAs[Double]("dup_trigram_frac")))
      .toMap
    assert(out(1L) == ((9, 6.0 / 9, 3.0 / 8, 4.0 / 7)))
    assert(out(2L) == ((4, 0.0, 1.0 / 3, 0.0))) // every bigram unique: top count 1
    assert(out(3L) == ((1, 0.0, 0.0, 0.0)))
    assert(out(4L) == ((2, 0.0, 1.0, 0.0))) // the single bigram IS the top one
    assert(out(5L) == ((0, 0.0, 0.0, 0.0)))

    // brute-force parity on a mixed doc (tokenization incl. case folding)
    val text = "The the THE quick Quick brown fox fox jumps over the lazy dog the end"
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val n = toks.length
    val bigrams = toks.sliding(2).map(_.mkString(" ")).toSeq
    val trigrams = toks.sliding(3).map(_.mkString(" ")).toSeq
    val got = TextStats.repetitionStats(Seq((9L, text)).toDF("doc_id", "text"))
      .collect().head
    assert(got.getAs[Int]("n_words") == n)
    assert(got.getAs[Double]("dup_word_frac") == (n - toks.distinct.size).toDouble / n)
    assert(got.getAs[Double]("top_bigram_frac") ==
      bigrams.groupBy(identity).values.map(_.size).max.toDouble / bigrams.size)
    assert(got.getAs[Double]("dup_trigram_frac") ==
      (trigrams.size - trigrams.distinct.size).toDouble / trigrams.size)
  }

  test("langId picks the language with most marker hits, deterministic ties") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x", "the cat is on the mat and it is happy"),
      (2L, "x", "el gato que esta en la casa y por los perros"),
      (3L, "x", "der hund ist von den nicht und das haus"),
      (4L, "x", "zzz qqq www")) // no markers anywhere -> tie -> first lang (de? en?) by name asc
      .toDF("doc_id", "lang", "text")
    val out = TextStats.langId(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "es")
    assert(out(3L) == "de")
    assert(out(4L) == "de") // alphabetically first among all-zero scores
  }
}

class ScrubTermsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("scrub masks emails, urls and long digit runs; collapses whitespace") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact bob@example.com or  visit https://x.io/a?b=1 id 1234567890 ok"),
      (2L, "nothing to mask here")).toDF("doc_id", "text")
    val out = TextStats.scrub(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean_text"), r.getAs[Int]("masked_chars"))).toMap
    assert(out(1L)._1 == "contact <EMAIL> or visit <URL> id <NUM> ok")
    assert(out(1L)._2 > 0)
    assert(out(2L) == ("nothing to mask here", 0))
  }

  test("topTerms ranks rarer terms higher at equal tf; deterministic ties") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple rare common"),
      (2L, "banana common banana banana"),
      (3L, "common cherry")).toDF("doc_id", "text")
    val out = TextStats.topTerms(docs, 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("term_rank")) -> r.getAs[String]("term"))
      .toMap
    // doc1: apple tf=2 df=1 -> 6.0 ; rare tf=1 df=1 -> 3.0 ; common 1/3 -> 1.0
    assert(out((1L, 1)) == "apple" && out((1L, 2)) == "rare")
    assert(out((2L, 1)) == "banana")
    assert(out((3L, 1)) == "cherry")
  }
}

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("media table derivation + batched feature extraction round-trips") {
    import spark.implicits._
    val docs = Seq((0L, "hello world"), (1L, "abc"), (2L, "xyz xyz"))
      .toDF("doc_id", "text")
    val media = Multimodal.mediaFromDocuments(docs)
    val types = media.collect().map(r =>
      r.getAs[Long]("media_id") -> r.getAs[String]("media_type")).toMap
    assert(types == Map(0L -> "image", 1L -> "audio", 2L -> "video"))

    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 3)
    val f0 = feats.find(_.media_id == 0L).get
    assert(f0.n_bytes == "hello world".getBytes("UTF-8").length)
    assert(f0.feature.length == 16)
    // deterministic: same input -> same features
    val again = Multimodal.extractFeatures(media).collect().find(_.media_id == 0L).get
    assert(again.byte_entropy == f0.byte_entropy)
    assert(java.util.Arrays.equals(again.feature, f0.feature))
  }

  test("frame sampling plan emits one frame per interval") {
    import spark.implicits._
    val docs = Seq((2L, "v")).toDF("doc_id", "text") // doc 2 -> video
    val media = Multimodal.mediaFromDocuments(docs)
    val row = Multimodal.frameSamplePlan(media, everyMs = 500L).collect().head
    val frames = row.getSeq[org.apache.spark.sql.Row](row.fieldIndex("frames"))
    val duration = media.collect().head.getAs[Long]("duration_ms")
    assert(frames.size == duration / 500 + 1)
  }
}
