package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.perfbench.Bench.{Args, Attempt, Outcome}

/** `curate`: the composed curation path of `graft.CurateBench` over a
  * seeded [[graft.ScaleFixture]] corpus: `Curate.curate` -> kept filter ->
  * `Percentile.rankBuckets` -> `Mixing.mixByBudget` ->
  * `Sharding.packByBudget`, each stage written to a parquet staging dir.
  *
  * `ScaleFixture` has no seed of its own; the seed picks the 31-word base
  * vocabulary it grows its corpus from, so every document differs by seed.
  *
  * The decision tables are checked by run.py against the `q_curate` DuckDB
  * oracle SQL (dumped here from `graft.SparkEntry.oracleSql`), the bucket
  * table exactly and the mix/shard tables by their invariants. */
object CurateRun {

  val Docs = 4000L
  val Factor = 1 // ScaleFixture vocabulary growth (x factor^(1/3)); CurateBench's docs/5000
  val SetupReps = 2
  val Buckets = 10
  val ShardBudget = 64L * 1024 * 1024

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** 31 distinct lowercase words of 2-8 letters drawn from the seed. */
  def baseVocab(seed: Long): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    var i = 0L
    while (out.size < 31) {
      val h = mix(mix(seed) ^ i)
      val len = 2 + ((h >>> 40) % 7).toInt
      out += (0 until len).map(k => ('a' + ((h >>> (k * 5)) & 31) % 26).toChar).mkString
      i += 1
    }
    out.toSeq
  }

  /** Write the base corpus whose vocabulary ScaleFixture grows, then the
    * fixture itself (regenerated every call). */
  def fixture(spark: SparkSession, seed: Long, dir: Path): String = {
    import spark.implicits._
    val base = dir.resolve("base")
    val out = dir.resolve("fixture")
    Bench.deleteRecursive(out)
    Seq((0L, baseVocab(seed).mkString(" "), "en", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(base.resolve("documents.parquet").toString)
    graft.ScaleFixture.ensureScaled(spark, base.toString, out.toString, Factor,
      docs = Docs, vecs = 1L, events = 1L, users = 1)
    out.resolve("documents.parquet").toString
  }

  final case class Stages(decisions: String, caps: Map[String, Map[String, Long]])

  /** One composed run. `stage` wraps each stage (the traced run opens a span
    * there); each stage's output is written and re-read, so its work runs
    * inside its own stage. */
  def composed(spark: SparkSession, docsPath: String, outDir: Path,
      sample: Boolean, stage: (String, () => Unit) => Unit = (_, f) => f()): Stages = {
    val all0 = spark.read.parquet(docsPath)
    // warm-up stride 53: prime, coprime to the 25-way corpus/benchmark split
    val all = if (sample) all0.filter(col("doc_id") % 53 === 0) else all0
    val corpus = all.filter(col("doc_id") % 25 =!= 0)
    val benchmark = all.filter(col("doc_id") % 25 === 0)
    val snap = graft.ops.CapMetrics.snapshot()
    def written(name: String, df: => DataFrame, span: String): DataFrame = {
      val p = outDir.resolve(name).toString
      stage(span, () => df.write.mode("overwrite").parquet(p))
      spark.read.parquet(p)
    }
    val decisions = written("decisions", graft.ops.Curate.curate(corpus, benchmark),
      "ops.Curate")
    val kept = corpus.join(decisions.filter(col("kept")).select(col("doc_id")),
      Seq("doc_id"))
    written("buckets", graft.ops.Percentile.rankBuckets(
      kept.select(col("doc_id"), col("n_chars").cast("double").as("score")),
      k = Buckets), "ops.Percentile")
    // per-source budgets: half of each source's kept mass (CurateBench's rule)
    var budgets: Map[String, Long] = Map.empty
    val mixed = written("mixed", {
      budgets = kept.groupBy(col("source"))
        .agg(sum(col("n_chars").cast("long")).as("w"))
        .collect().map(r => r.getString(0) -> math.max(1L, r.getLong(1) / 2)).toMap
      graft.ops.Mixing.mixByBudget(kept, budgets)
    }, "ops.Mixing")
    written("shards", graft.ops.Sharding.packByBudget(
      mixed.select(col("doc_id"), col("weight")), budget = ShardBudget,
      weightCol = "weight"), "ops.Sharding")
    Files.writeString(outDir.resolve("budgets.json"), budgets.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
    Stages(outDir.resolve("decisions").toString, graft.ops.CapMetrics.changedSince(snap))
  }

  def run(a: Args): Outcome = {
    val dir = a.work.resolve("curate")
    var docsPath: String = null
    val (spark, setupS) = Bench.timedSetup(a, SetupReps) { s =>
      docsPath = fixture(s, a.seed, dir)
      composed(s, docsPath, dir.resolve("warmup"), sample = true)
      ()
    }
    Files.writeString(dir.resolve("q_curate.sql"), graft.SparkEntry.oracleSql("q_curate"))
    val nDocs = spark.read.parquet(docsPath).count()
    val unitsDir = dir.resolve("units")

    def unit(i: Int): Attempt = {
      val t0 = System.nanoTime()
      composed(spark, docsPath, unitsDir.resolve(s"u$i"), sample = false)
      val wall = Bench.secondsSince(t0)
      // the tables are checked by run.py; a unit is ok here if it returned
      Attempt(ok = true, wall, Seq(wall), Double.NaN,
        s"dir=${unitsDir.resolve(s"u$i")}")
    }

    val info = Map("docs" -> nDocs.toString, "docs_path" -> docsPath,
      "sql" -> dir.resolve("q_curate.sql").toString)
    if (!a.trace) {
      val atts = Bench.closedLoop(a.seconds, min = 1)(unit)
      val ok = atts.filter(_.ok)
      val wall = if (ok.isEmpty) Double.NaN else Bench.median(ok.map(_.wallS))
      Outcome(atts, Map(
        "setup_s" -> (setupS, "s"),
        "wall_s" -> (wall, "s"),
        "rows_per_s" -> (nDocs / wall, "1/s"),
        "batch_lag_s" -> (wall, "s")),
        info + ("units" -> atts.indices.map(i => unitsDir.resolve(s"u$i")).mkString(",")))
    } else {
      // untraced units before and after the traced one, so JIT warming
      // does not bias the tracing overhead either way
      val plain = unit(0)
      val tr = new Tracer(spark)
      val t0 = System.nanoTime()
      val st = composed(spark, docsPath, unitsDir.resolve("u1"), sample = false,
        stage = (name, f) => tr.span(name)(f()))
      val tracedWall = Bench.secondsSince(t0)
      val traced = Attempt(ok = true, tracedWall, Seq(tracedWall), Double.NaN, "traced")
      tr.close()
      val plain2 = unit(2)
      val m = tr.metrics(Layers.Spans)
      val decisions = spark.read.parquet(st.decisions)
      val nDec = decisions.count().toDouble
      val kept = decisions.filter(col("kept")).count().toDouble
      val cand = st.caps.collect { case (k, v) if k.startsWith("simjoin.") =>
        v.getOrElse("candidates", 0L) }.sum.toDouble
      tr.writeJsonl(a.work.resolve("trace.jsonl"))
      val perLayer = Layers.complete(m ++ Map(
        "ops.Curate.simjoin_candidates" -> cand,
        "ops.Curate.kept_frac" -> (if (nDec > 0) kept / nDec else 0.0),
        "trace.overhead_s" -> (tracedWall - (plain.wallS + plain2.wallS) / 2)))
      Outcome(Seq(plain, traced, plain2),
        perLayer.map { case (k, v) => k -> (v, Layers.unit(k)) },
        info + ("units" -> Seq(0, 1, 2).map(i => unitsDir.resolve(s"u$i")).mkString(",")))
    }
  }
}
