package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Curation-layer scale rehearsal (BENCH/CURATE.md) — the ResolverBench of
  * the curation path: the composed pipeline a curation user actually runs
  * end-to-end (curate decision table → keep-filter → rank-buckets → mix →
  * pack-shards) over a deterministic [[ScaleFixture]] corpus orders of
  * magnitude above the 5k-doc bench fixture, at two parallelism levels on
  * the SAME input (the BASELINE.md N-vs-4N protocol; 2 vs 8 cores because
  * 8 → 32 threads saturates this BOX — pure-CPU control 2.48x — not the
  * operator). Evidence target: the decision-table assembly stays
  * scan-bound and the capped sim-join candidate volume stays ~linear at
  * 100-2000x the bench corpus, with composed-run scaling efficiency
  * `(docs/sec_hi / docs/sec_lo) / (hi/lo)` >= 0.8.
  *
  * Stage boundaries are parquet staging tables (the DataMain chaining
  * convention — constant memory at any corpus size); each stage's wall
  * time INCLUDES its staging write, and per-stage CapMetrics deltas ride
  * the JSON line (no silent caps). Per-stage row counts must be identical
  * across parallelism levels (asserted) — the parallelism-invariance the
  * ops individually property-test, re-proven on the composition.
  *
  * Usage: scripts/run.sh CurateBench [factor] [loCores] [hiCores] [reps]
  * (defaults 2000 → 10M docs, 2, 8, 2). Fixture cached at
  * SPARK_GRAFT_CURATE_DIR (default /tmp/graft-curate-<factor>x).
  */
object CurateBench {

  private def session(cores: Int): SparkSession =
    Sessions.local(cores, appName = Some(s"graft-curatebench-$cores"),
      partitions = Some(math.max(cores * 4, 32)), multiGbInputs = true).spark

  private final case class Stage(name: String, secs: Double, rows: Long,
      caps: Map[String, Map[String, Long]])

  /** One composed run; returns per-stage timings (rows are the
    * parallelism-invariance checksum). `sample` restricts to ~2% of docs
    * for the per-session codegen warm-up. */
  private def runOnce(spark: SparkSession, docsDir: String, stageDir: String,
      sample: Boolean): Seq[Stage] = {
    val all0 = spark.read.parquet(docsDir)
    // warm-up stride 53 (prime, coprime to the 25-way corpus/benchmark
    // split below — a multiple-of-25 stride would empty one side)
    val all = if (sample) all0.filter(col("doc_id") % 53 === 0) else all0
    val corpus = all.filter(col("doc_id") % 25 =!= 0)
    val benchmark = all.filter(col("doc_id") % 25 === 0)

    val out = scala.collection.mutable.ArrayBuffer.empty[Stage]
    def stage(name: String)(f: => DataFrame): DataFrame = {
      spark.sparkContext.setJobDescription(s"curatebench: $name")
      val snap = graft.ops.CapMetrics.snapshot()
      val t0 = System.nanoTime()
      val df = f
      df.write.mode("overwrite").parquet(s"$stageDir/$name")
      val read = spark.read.parquet(s"$stageDir/$name")
      val n = read.count()
      out += Stage(name, (System.nanoTime() - t0) / 1e9, n,
        graft.ops.CapMetrics.changedSince(snap))
      read
    }

    val decisions = stage("decisions") {
      graft.ops.Curate.curate(corpus, benchmark)
    }
    val kept = corpus.join(
      decisions.filter(col("kept")).select(col("doc_id")), Seq("doc_id"))
    val _ = stage("buckets") {
      graft.ops.Percentile.rankBuckets(
        kept.select(col("doc_id"), col("n_chars").cast("double").as("score")),
        k = 10)
    }
    // per-source budgets = half of each source's kept mass — a pure
    // deterministic function of the kept frame (one O(sources) agg), so the
    // selection does real work at ANY factor
    // (null sources are excluded: they would key the map with null and the
    // mix drops them anyway)
    val budgets = kept.filter(col("source").isNotNull).groupBy(col("source"))
      .agg(sum(col("n_chars").cast("long")).as("w"))
      .collect().map(r => r.getString(0) -> math.max(1L, r.getLong(1) / 2)).toMap
    val mixed = stage("mixed") {
      graft.ops.Mixing.mixByBudget(kept, budgets)
    }
    stage("shards") {
      // ~64 MB-of-chars shards over the mixed sample (weight = n_chars)
      graft.ops.Sharding.packByBudget(mixed.select(col("doc_id"), col("weight")),
        budget = 64L * 1024 * 1024, weightCol = "weight")
    }
    out.toSeq
  }

  def main(args: Array[String]): Unit = {
    val factor = args.lift(0).map(_.toInt).getOrElse(2000)
    val loCores = args.lift(1).map(_.toInt).getOrElse(2)
    val hiCores = args.lift(2).map(_.toInt).getOrElse(8)
    val reps = args.lift(3).map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val fixDir = sys.env.getOrElse("SPARK_GRAFT_CURATE_DIR",
      s"/tmp/graft-curate-${factor}x")

    // fixture generation at full width (deterministic per-id streams — the
    // fixture bytes do not depend on the generating parallelism)
    val gen = session(32)
    ScaleFixture.ensureScaled(gen, sfDir, fixDir, factor,
      docs = 5000L * factor, vecs = 2000L, events = 100000L, users = 1500)
    val nDocs = gen.read.parquet(s"$fixDir/documents.parquet").count()
    gen.stop()

    def jCaps(caps: Map[String, Map[String, Long]]): String =
      caps.toSeq.sortBy(_._1).map { case (site, m) =>
        "\"" + site + "\":" + m.toSeq.sortBy(_._1)
          .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      }.mkString("{", ",", "}")

    // private to this run: concurrent runs (or runs at other factors) never
    // wipe each other's staging tables
    val stageDir = Files.createTempDirectory(
      s"graft-curate-stage-${factor}x-${ProcessHandle.current.pid}-")
    val stageBase = stageDir.toString
    def deleteStage(): Unit = kg.Materialize.deleteDirRecursive(stageDir)
    def wipeStage(): Unit = { deleteStage(); Files.createDirectories(stageDir); () }

    // min-of-reps per level (the noisy-host protocol); caps from the best rep
    def timedLevel(cores: Int): (Double, Seq[Stage]) = {
      val s = session(cores)
      wipeStage()
      runOnce(s, s"$fixDir/documents.parquet", stageBase, sample = true)
      var best = Double.MaxValue
      var stages: Seq[Stage] = Nil
      for (_ <- 1 to reps) {
        s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        wipeStage()
        val st = runOnce(s, s"$fixDir/documents.parquet", stageBase, sample = false)
        val total = st.map(_.secs).sum
        if (total < best) { best = total; stages = st }
      }
      s.stop()
      (best, stages)
    }

    val ((loSecs, loStages), (hiSecs, hiStages)) =
      try (timedLevel(loCores), timedLevel(hiCores)) finally deleteStage()
    loStages.zip(hiStages).foreach { case (a, b) =>
      require(a.rows == b.rows,
        s"parallelism changed ${a.name}: ${a.rows} vs ${b.rows}")
    }
    val eff = (nDocs / hiSecs) / (nDocs / loSecs) / (hiCores.toDouble / loCores)

    def jStages(st: Seq[Stage]): String = st.map { s =>
      "\"" + s.name + "\":{\"secs\":" + f"${s.secs}%.2f" +
        ",\"rows\":" + s.rows +
        (if (s.caps.nonEmpty) ",\"caps\":" + jCaps(s.caps) else "") + "}"
    }.mkString("{", ",", "}")

    println(s"""{"metric":"curate_pipeline","docs":$nDocs,"factor":$factor,""" +
      f""""secs_local$loCores":$loSecs%.2f,"secs_local$hiCores":$hiSecs%.2f,""" +
      f""""scaling_efficiency":$eff%.3f,""" +
      s""""stages_local$loCores":${jStages(loStages)},""" +
      s""""stages_local$hiCores":${jStages(hiStages)}}""")
  }
}
