package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Bpe, Contamination, Curate, Dedup, DeltaDedup, DupSpans, Importance, Mixing, Multimodal, Percentile, Perplexity, QualityClassifier, Quantize, Sampling, SemDedup, Sessionize, Sharding, Similarity, Temporal, TextStats}

/** CLI for the training-data operator suite (the companion of [[Main]],
  * which covers the KG pipeline): run any dedup / sampling / ANN /
  * text-analysis / multimodal operator over a parquet table without writing
  * Scala. Local: `scripts/run.sh DataMain --op OP --in DIR --out DIR [...]`;
  * cluster: `spark-submit --class graft.DataMain` (submitted master wins).
  *
  * {{{
  *   --op OP           dedup-exact | minhash-pairs | ngram-pairs |
  *                     simhash-pairs | doc-groups | dedup-delta |
  *                     neardup-delta | dedup-ingest | split | stratified |
  *                     mix | chunk | bpe-pairs | bpe-learn | bpe-apply |
  *                     sessionize | token-stats | quality |
  *                     repetition |
  *                     pack-shards | lang-id |
  *                     scrub | top-terms | fingerprint | knn | knn-q8 |
  *                     quantize | q8-build | knn-q8-indexed | knn-lsh |
  *                     knn-ivf | ivf-build | ivf-append | knn-ivf-indexed |
  *                     embed-neardup | semdedup | media-meta |
  *                     media-features | frame-sample |
  *                     asof-join | range-join | contamination |
  *                     dsir-weights | dsir-sample | dup-spans |
  *                     dup-spans-clean | curate | lm-score |
  *                     nb-quality | rank-buckets               (required)
  *   --in PATH         input parquet (documents / events / embeddings
  *                     shape per op)                          (required)
  *   --out PATH        output parquet dir                     (required)
  *   --threshold T     jaccard (pair ops) / cosine (embed-neardup,
  *                     semdedup)                               [0.5 / 0.9]
  *   --assign N / --max-cluster M   semdedup centroids per vector
  *                     (recall knob) / per-cluster kernel cap  [2 / 20000]
  *   --corpus PATH     accumulated-corpus parquet (delta ops; --in is
  *                     the NEW batch)                         (required)
  *   --state DIR       persisted dedup state dir (dedup-ingest: --in is
  *                     the new batch, folded into the state)  (required)
  *   --partner-texts PATH   corpus (doc_id, text) lookup for exact pair
  *                     verification (dedup-ingest)
  *   --emit WHAT       dedup-ingest output: classified | candidates |
  *                     verified                               [classified]
  *   --shingle-n N     word n-gram width                      [3]
  *   --num-hashes N / --bands B / --max-bucket M   minhash    [32/8/10000]
  *   --max-hamming H / --blocks B / --combo-size C simhash    [3/8/2]
  *   --id-col C        split/stratified key column            [doc_id]
  *   --train-pct / --val-pct                       split      [80/10]
  *   --strata-col C    stratified strata column               [source]
  *   --fractions a=0.9,b=0.5   per-stratum keep fractions
  *   --default-fraction F                                     [0.2]
  *   --budgets a=4000,b=2500   mix per-source weight budgets
  *                     (--strata-col groups, --weight-col fills) (required)
  *   --gap-ms MS       sessionize gap                         [1800000]
  *   --k N             top-k / top-terms size                 [10 / 3]
  *   --tables / --bits           sign-LSH config              [8/10]
  *   --n-lists / --n-probe / --kmeans-iters  IVF config       [64/8/5]
  *   --index PATH      persisted IVF index dir (ivf-build writes it,
  *                     ivf-append adds NEW vectors O(delta) against the
  *                     frozen quantizer, knn-ivf-indexed queries it)
  *   --max-append-frac F   appended/trained cap before a rebuild is
  *                     required (centroid drift guard)         [1.0]
  *   --queries PATH    ANN query parquet (query_id, q_embedding);
  *                     default: every --query-every-th corpus vector
  *   --query-every N                                          [50]
  *   --every-ms MS     frame-sample cadence                   [10000]
  *   --right PATH      asof-join state/quote parquet           (required)
  *   --intervals PATH  range-join interval parquet             (required)
  *   --benchmark PATH  contamination benchmark parquet         (required)
  *   --keys a,b        temporal-join key columns              [user_id]
  *   --ts-col C        probe/point timestamp column           [ts]
  *   --tie-col C       asof-join right-side tiebreak column    (required)
  *   --payload a,b     asof-join right columns to attach       (required)
  *   --prefix P        asof-join output column prefix         [asof_]
  *   --lo-col / --hi-col   range-join interval bounds         [lo / hi]
  *   --bucket-ms MS    range-join bucket width                [3600000]
  *   --max-interval-buckets N   hard fan-out guard            [4096]
  *   --text-col C      contamination / dsir text column       [text]
  *   --target PATH     DSIR / lm-score target corpus parquet   (required)
  *   --positive PATH / --negative PATH   nb-quality labeled
  *                     corpora (quality vs background)         (required)
  *   --score-col C     rank-buckets score column (--k buckets,
  *                     --id-col tiebreak; --by-col G ranks and
  *                     buckets within each group)             [score]
  *   --buckets B / --alpha A    DSIR hashed-unigram config  [1024 / 1.0]
  *   --temperature T   dsir-sample Gumbel temperature          [1.0]
  *   --window-w W / --stride S     chunk token windows       [40 / 30]
  *   --merges N        bpe-learn merge count                  [50]
  *   --merges-table P  bpe-apply learned merge parquet  (required)
  *   --window-w W / --min-docs D   dup-spans / dup-spans-clean
  *                     window tokens / distinct-doc
  *                     threshold                            [8 / 2]
  *   --budget W        pack-shards weight budget per shard    [100000000]
  *   --weight-col C    pack-shards weight column              [n_chars]
  *   --cores N         local master width     [8 / SPARK_GRAFT_CPUS]
  * }}}
  */
object DataMain {

  private def die(msg: String): Nothing = {
    System.err.println(s"graft-data: $msg (see graft.DataMain scaladoc for usage)")
    sys.exit(2)
  }

  /** Op dispatch, shared by main and the CLI==library spec. */
  private[graft] def run(spark: SparkSession, op: String, in: String,
      args: Map[String, String]): DataFrame = {
    def f(k: String, d: Double): Double = args.get(k).map(_.toDouble).getOrElse(d)
    def n(k: String, d: Int): Int = args.get(k).map(_.toInt).getOrElse(d)
    def l(k: String, d: Long): Long = args.get(k).map(_.toLong).getOrElse(d)
    def s(k: String, d: String): String = args.getOrElse(k, d)
    lazy val df = spark.read.parquet(in)
    lazy val annQueries = args.get("queries") match {
      case Some(p) => spark.read.parquet(p)
      case None => df.filter(pmod(col("vec_id"), lit(n("query-every", 50))) === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    }
    op match {
      case "dedup-exact" => Dedup.exact(df)
      case "minhash-pairs" => Dedup.minhashPairs(df, Dedup.MinHashConfig(
        numHashes = n("num-hashes", 32), bands = n("bands", 8),
        shingleN = n("shingle-n", 3), jaccardThreshold = f("threshold", 0.5),
        maxBandBucket = n("max-bucket", 10000)))
      case "ngram-pairs" =>
        Dedup.ngramJaccardPairs(df, n("shingle-n", 3), f("threshold", 0.5))
      case "dedup-delta" => DeltaDedup.exactClassify(df,
        spark.read.parquet(args.getOrElse("corpus",
          throw new IllegalArgumentException("--corpus is required for dedup-delta"))))
      case "neardup-delta" => DeltaDedup.minhashPairsDelta(df,
        spark.read.parquet(args.getOrElse("corpus",
          throw new IllegalArgumentException("--corpus is required for neardup-delta"))),
        Dedup.MinHashConfig(
          numHashes = n("num-hashes", 32), bands = n("bands", 8),
          shingleN = n("shingle-n", 3), jaccardThreshold = f("threshold", 0.5),
          maxBandBucket = n("max-bucket", 10000)))
      case "dedup-ingest" =>
        val state = args.getOrElse("state", throw new IllegalArgumentException(
          "--state is required for dedup-ingest"))
        val r = DeltaDedup.ingest(spark, state, df,
          Dedup.MinHashConfig(
            numHashes = n("num-hashes", 32), bands = n("bands", 8),
            shingleN = n("shingle-n", 3), jaccardThreshold = f("threshold", 0.5),
            maxBandBucket = n("max-bucket", 10000)),
          partnerTexts = args.get("partner-texts").map(spark.read.parquet(_)))
        s("emit", "classified") match {
          case "classified" => r.classified
          case "candidates" => r.candidates
          case "verified" => r.verified.getOrElse(throw new IllegalArgumentException(
            "--emit verified needs --partner-texts (corpus doc_id,text lookup)"))
          case other => throw new IllegalArgumentException(
            s"--emit must be classified|candidates|verified, got $other")
        }
      case "simhash-pairs" => Dedup.simhashPairs(df, n("max-hamming", 3),
        n("blocks", 8), n("combo-size", 2), n("max-bucket", 10000))
      case "doc-groups" => Dedup.dedupGroups(
        Dedup.ngramJaccardPairs(df, n("shingle-n", 3), f("threshold", 0.5)))
      case "split" => Sampling.assignSplit(df, s("id-col", "doc_id"),
        n("train-pct", 80), n("val-pct", 10))
      case "stratified" =>
        val fractions = args.get("fractions").map(_.split(",").map { kv =>
          kv.split("=") match {
            case Array(k, v) => k -> v.toDouble
            case _ => throw new IllegalArgumentException(
              s"bad --fractions entry '$kv' (want name=frac)")
          }
        }.toMap).getOrElse(Map.empty[String, Double])
        Sampling.stratifiedSample(df, s("strata-col", "source"),
          s("id-col", "doc_id"), fractions, f("default-fraction", 0.2))
      case "mix" =>
        val budgets = args.getOrElse("budgets",
            throw new IllegalArgumentException(
              "--budgets is required for mix (src=chars,src=chars)"))
          .split(",").map { kv =>
            kv.split("=") match {
              case Array(k, v) => k -> v.toLong
              case _ => throw new IllegalArgumentException(
                s"bad --budgets entry '$kv' (want source=weight)")
            }
          }.toMap
        Mixing.mixByBudget(df, budgets, s("strata-col", "source"),
          s("id-col", "doc_id"), s("weight-col", "n_chars"))
      case "sessionize" => Sessionize.sessions(df, l("gap-ms", 1800000L))
      case "token-stats" => TextStats.tokenStats(df)
      case "quality" => TextStats.quality(df)
      case "repetition" => TextStats.repetitionStats(df)
      case "pack-shards" => Sharding.packByBudget(df, l("budget", 100000000L),
        s("id-col", "doc_id"), s("weight-col", "n_chars"))
      case "lang-id" => TextStats.langId(df)
      case "scrub" => TextStats.scrub(df)
      case "top-terms" => TextStats.topTerms(df, n("k", 3))
      case "fingerprint" => df.select(col("doc_id"),
        graft.functions.TextHash.fingerprint64(col("text")).as("fp"),
        graft.functions.TextHash.simhash64(col("text")).as("sh"))
      case "knn" => Similarity.bruteForceTopK(df, annQueries, n("k", 10))
      case "quantize" =>
        Quantize.encode(df, Quantize.fit(df))
      case "knn-q8" => Quantize.knnTopK(df, annQueries, n("k", 10))
      case "q8-build" | "knn-q8-indexed" =>
        val idx = args.getOrElse("index", throw new IllegalArgumentException(
          s"--index is required for $op"))
        if (op == "q8-build") {
          Quantize.buildQ8Index(df, idx)
          spark.read.parquet(s"$idx/codes.parquet") // the built artifact
        } else Quantize.knnQ8Indexed(df, annQueries, n("k", 10), idx)
      case "knn-lsh" => Similarity.lshTopK(df, annQueries, n("k", 10),
        Similarity.LshConfig(tables = n("tables", 8), bits = n("bits", 10)))
      case "knn-ivf" => Similarity.ivfTopK(df, annQueries, n("k", 10),
        Similarity.IvfConfig(nLists = n("n-lists", 64),
          kmeansIters = n("kmeans-iters", 5), nProbe = n("n-probe", 8)))
      case "ivf-build" | "ivf-append" | "knn-ivf-indexed" =>
        val idx = args.getOrElse("index", throw new IllegalArgumentException(
          s"--index is required for $op"))
        val cfg = Similarity.IvfConfig(nLists = n("n-lists", 64),
          kmeansIters = n("kmeans-iters", 5), nProbe = n("n-probe", 8))
        op match {
          case "ivf-build" => Similarity.buildIvfIndex(df, cfg, idx)
          case "ivf-append" =>
            Similarity.appendIvfIndex(df, cfg, idx, f("max-append-frac", 1.0))
          case _ => // read-only
        }
        if (op == "knn-ivf-indexed")
          Similarity.ivfTopKIndexed(df, annQueries, n("k", 10), cfg, idx)
        else // list occupancy summary — the useful artifact of a build/append
          spark.read.parquet(s"$idx/assignments.parquet")
            .groupBy(col("lst")).agg(count(lit(1)).as("n_vectors"))
      case "embed-neardup" => Similarity.cosineNearDupPairs(df,
        f("threshold", 0.9),
        Similarity.LshConfig(tables = n("tables", 8), bits = n("bits", 10)))
      case "semdedup" => SemDedup.decisions(df, SemDedup.Config(
        nLists = n("n-lists", 16), kmeansIters = n("kmeans-iters", 3),
        assign = n("assign", 2), threshold = f("threshold", 0.9),
        maxCluster = n("max-cluster", 20000)))
      case "media-meta" => Multimodal.mediaFromDocuments(df)
        .select(col("media_id"), col("media_type"),
          length(col("payload")).as("n_bytes"),
          col("width"), col("height"), col("duration_ms"))
      case "media-features" =>
        Multimodal.extractFeatures(Multimodal.mediaFromDocuments(df)).toDF()
      case "frame-sample" =>
        Multimodal.frameSampleRows(Multimodal.mediaFromDocuments(df),
          l("every-ms", 10000L))
      case "asof-join" =>
        val right = spark.read.parquet(args.getOrElse("right",
          throw new IllegalArgumentException("--right is required for asof-join")))
        Temporal.asofJoin(df, right,
          s("keys", "user_id").split(",").toSeq, s("ts-col", "ts"),
          args.getOrElse("tie-col", throw new IllegalArgumentException(
            "--tie-col is required for asof-join")),
          args.getOrElse("payload", throw new IllegalArgumentException(
            "--payload is required for asof-join")).split(",").toSeq,
          s("prefix", "asof_"))
      case "range-join" =>
        val intervals = spark.read.parquet(args.getOrElse("intervals",
          throw new IllegalArgumentException("--intervals is required for range-join")))
        Temporal.rangeJoin(df, intervals,
          s("keys", "user_id").split(",").toSeq, s("ts-col", "ts"),
          s("lo-col", "lo"), s("hi-col", "hi"), l("bucket-ms", 3600000L),
          n("max-interval-buckets", 4096))
      case "contamination" =>
        val bench = spark.read.parquet(args.getOrElse("benchmark",
          throw new IllegalArgumentException("--benchmark is required for contamination")))
        Contamination.flagContaminated(df, bench, n("shingle-n", 6),
          s("id-col", "doc_id"), s("text-col", "text"))
      case "bpe-pairs" => Bpe.pairCounts(df, s("text-col", "text"))
      case "bpe-learn" =>
        spark.createDataFrame(
            Bpe.learnMerges(df, n("merges", 50), s("text-col", "text")))
          .toDF("rank", "a", "b")
      case "bpe-apply" =>
        val mt = spark.read.parquet(args.getOrElse("merges-table",
            throw new IllegalArgumentException(
              "--merges-table is required for bpe-apply")))
          .select(col("rank"), col("a"), col("b")).collect()
          .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
        Bpe.applyMerges(df, mt, s("id-col", "doc_id"), s("text-col", "text"))
      case "chunk" =>
        TextStats.chunk(df, n("window-w", 40), n("stride", 30),
          s("id-col", "doc_id"), s("text-col", "text"))
      case "dup-spans" =>
        DupSpans.dupSpanStats(df, n("window-w", 8), n("min-docs", 2),
          s("id-col", "doc_id"), s("text-col", "text"))
      case "curate" =>
        val bench = spark.read.parquet(args.getOrElse("benchmark",
          throw new IllegalArgumentException("--benchmark is required for curate")))
        Curate.curate(df, bench)
      case "dup-spans-clean" =>
        DupSpans.removeDupSpans(df, n("window-w", 8), n("min-docs", 2),
          s("id-col", "doc_id"), s("text-col", "text"))
      case "lm-score" =>
        val target = spark.read.parquet(args.getOrElse("target",
          throw new IllegalArgumentException("--target is required for lm-score")))
        Perplexity.lmScore(df, target, f("add-k", 1.0))
      case "rank-buckets" =>
        args.get("by-col") match {
          case Some(by) => Percentile.rankBucketsBy(df, n("k", 3),
            s("score-col", "score"), s("id-col", "doc_id"), by)
          case None => Percentile.rankBuckets(df, n("k", 3),
            s("score-col", "score"), s("id-col", "doc_id"))
        }
      case "nb-quality" =>
        val pos = spark.read.parquet(args.getOrElse("positive",
          throw new IllegalArgumentException("--positive is required for nb-quality")))
        val neg = spark.read.parquet(args.getOrElse("negative",
          throw new IllegalArgumentException("--negative is required for nb-quality")))
        QualityClassifier.nbScore(df, pos, neg, f("add-k", 1.0))
      case "dsir-weights" | "dsir-sample" =>
        val target = spark.read.parquet(args.getOrElse("target",
          throw new IllegalArgumentException(s"--target is required for $op")))
        val cfg = Importance.DsirConfig(n("buckets", 1024), f("alpha", 1.0))
        if (op == "dsir-weights")
          Importance.dsirWeights(df, target, cfg,
            s("text-col", "text"), s("id-col", "doc_id"))
        else
          Importance.resampleTopK(df, target, n("k", 1000),
            f("temperature", 1.0), cfg, s("text-col", "text"), s("id-col", "doc_id"))
      // throws (not sys.exit): run() is also the embedded/test entry point —
      // main translates the failure into exit code 2
      case other => throw new IllegalArgumentException(s"unknown --op $other")
    }
  }

  private[graft] val knownFlags = Set("op", "in", "out", "corpus", "threshold",
    "shingle-n", "num-hashes", "bands", "max-bucket", "max-hamming", "blocks",
    "combo-size", "id-col", "train-pct", "val-pct", "strata-col", "fractions",
    "default-fraction", "gap-ms", "k", "tables", "bits", "n-lists", "n-probe",
    "kmeans-iters", "queries", "query-every", "every-ms", "cores",
    "index", "max-append-frac", "state", "partner-texts", "emit",
    "right", "intervals", "benchmark", "keys", "ts-col", "tie-col",
    "payload", "prefix", "lo-col", "hi-col", "bucket-ms",
    "max-interval-buckets", "text-col", "budget", "weight-col",
    "target", "buckets", "alpha", "temperature", "window-w", "min-docs",
    "stride", "merges", "merges-table",
    "add-k", "assign", "max-cluster", "positive", "negative", "score-col",
    "by-col", "budgets")

  def main(argv: Array[String]): Unit = {
    // uniform --key value parsing (every DataMain flag takes a value)
    if (argv.length % 2 != 0) die("flags come in --key value pairs")
    val args = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case Array(k, _) => die(s"expected a --flag, got $k")
    }.toMap
    args.keys.find(!knownFlags.contains(_)).foreach(k => die(s"unknown flag --$k"))
    val op = args.getOrElse("op", die("--op is required"))
    val in = args.getOrElse("in", die("--in is required"))
    val out = args.getOrElse("out", die("--out is required"))
    val cores = args.getOrElse("cores", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))

    val session = Sessions.local(cores.toInt,
      appName = Some("megamindspark-data"), ui = true)
    val spark = session.spark

    val result = try run(spark, op, in, args) catch {
      case e: IllegalArgumentException => die(e.getMessage)
    }
    result.write.mode("overwrite").parquet(out)
    val rows = spark.read.parquet(out).count()
    println(s"[graft] $op: wrote $rows rows to $out")
    session.stopIfCreated()
  }
}
