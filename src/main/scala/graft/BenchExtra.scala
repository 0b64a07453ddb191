package graft

import org.apache.spark.sql.functions._

/** Supplementary benchmarks OUTSIDE the frozen driver-contract Bench
  * (guide §1.4 posture: same noop-sink methodology, separate main so the
  * measurement harness the driver hashes stays untouched):
  *
  *  1. `bpe_learn_5000` — BPE tokenizer training at a realistic merge
  *     count over the sf-dir documents corpus (VERDICT r5 item 1: the r5
  *     loop scheduled one Spark job per merge and was benched only at
  *     nMerges=50).
  *  2. `queries_100x` — a third scale point (deterministic 100× fixture
  *     via [[ScaleFixture.ensureScaled]], cached at
  *     SPARK_GRAFT_100X_DIR, default /tmp/graft-100x) for the map-only /
  *     linear-claim ops and the capped similarity joins (VERDICT r5 item
  *     6). Corpus-scale blocking configs (the scaleQueries choices) are
  *     reused where they exist.
  *
  * Prints ONE JSON line: {"metric":"extra", "bpe_learn_5000":s,
  * "queries_100x":{...}, "caps_100x":{...}, "gen_100x_sec":s}.
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (the Bench contract).
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus.toInt, multiGbInputs = true).spark

    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    // warm-up (same role as Bench's)
    try materialize(SparkEntry.entry(spark)) catch { case _: Throwable => () }

    def timed[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }
    def jNum(d: Double): String = f"$d%.3f"

    // ---- 1. BPE at realistic merge count --------------------------------
    spark.sparkContext.setJobDescription("bpe: learnMerges nMerges=5000")
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
    val (bpeSecs, merges) = timed {
      graft.ops.Bpe.learnMerges(docsDf, 5000)
    }
    System.err.println(s"[extra] bpe_learn_5000: $bpeSecs s, " +
      s"${merges.length} merges learned")

    // ---- 2. 100x scale point -------------------------------------------
    val f = 100
    val dir100 = sys.env.getOrElse("SPARK_GRAFT_100X_DIR", "/tmp/graft-100x")
    spark.sparkContext.setJobDescription("fixture: generate 100x")
    val (genSecs, d100) = timed {
      ScaleFixture.ensureScaled(spark, sfDir, dir100, factor = f,
        docs = 5000L * f, vecs = 2000L * f, events = 100000L * f,
        users = 1500 * f)
    }

    // linear-claim ops reuse the base query fns verbatim at the bigger
    // dir; blocked ops use the documented corpus-scale configs from
    // scaleQueries (the 10x convention)
    val linear = Seq("q_dedup_exact", "q_token_stats", "q_chunk",
      "q_repetition", "q_pack_shards", "q_sample_split", "q_stratified",
      "q_sessionize", "q_quantize", "q_lang_buckets", "q_mix")
      .map(n => n -> SparkEntry.queries(n))
    val blocked = Seq("q_ngram_pairs", "q_minhash_pairs", "q_simhash_pairs",
      "q_contamination", "q_lm_ppl", "q_nb_quality", "q_dup_spans",
      "q_knn", "q_knn_lsh", "q_knn_ivf", "q_semdedup")
      .map(n => n -> SparkEntry.scaleQueries(n))

    // SPARK_GRAFT_EXTRA_ONLY=q1,q2 — iterate on a subset (the Bench
    // SPARK_GRAFT_ONLY convention); SPARK_GRAFT_EXTRA_REPS=n min-of-n
    val only = sys.env.get("SPARK_GRAFT_EXTRA_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val reps = sys.env.get("SPARK_GRAFT_EXTRA_REPS").map(_.toInt).getOrElse(1)
    val results = (linear ++ blocked)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"100x: $name")
      val snap = graft.ops.CapMetrics.snapshot()
      val secs = (1 to reps).map { _ =>
        timed { materialize(fn(spark, d100)) }._1
      }.min
      System.err.println(f"[extra] $name%-18s @100x: $secs%8.2f s")
      (name, secs, graft.ops.CapMetrics.changedSince(snap))
    }

    val qs = results.map { case (n, s, _) => s""""$n":${jNum(s)}""" }
      .mkString("{", ",", "}")
    val caps = results.filter(_._3.nonEmpty).map { case (n, _, c) =>
      s""""$n":""" + c.toSeq.sortBy(_._1).map { case (site, m) =>
        s""""$site":""" + m.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    println(s"""{"metric":"extra","bpe_learn_5000":${jNum(bpeSecs)},""" +
      s""""bpe_merges":${merges.length},"queries_100x":$qs,""" +
      s""""caps_100x":$caps,"total_100x":${jNum(total)},""" +
      s""""gen_100x_sec":${jNum(genSecs)},"fixture_100x":"$d100"}""")
    spark.stop()
  }
}
