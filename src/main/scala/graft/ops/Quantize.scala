package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Int8 scalar quantization for embedding columns — the memory lever that
  * makes corpus-scale ANN fit: per-DIMENSION min/max over the corpus, then
  *
  *   code_i = clamp(floor((x_i - mn_i) * 255 / (mx_i - mn_i)), 0, 255)
  *
  * i.e. 4x smaller vectors (float32 -> one byte per dimension), with the
  * dequantized value `mn_i + code_i * (mx_i - mn_i) / 255` used for
  * asymmetric scoring (the query side stays full-precision — the scalar
  * baseline of Jegou et al. 2011's product-quantization family).
  *
  * Everything is a pure deterministic function of the corpus: min/max are
  * exact over floats (no summation-order dependence), and the code /
  * dequantize formulas are fixed-order IEEE double expressions over exact
  * float widenings, so the DuckDB oracle reproduces codes and dequantized
  * values bitwise. A flat dimension (mx == mn) codes to 0 and dequantizes
  * to mn exactly (never a divide-by-zero inf).
  *
  * Scale shape (100 TB): the fit is ONE scan — posexplode + per-dimension
  * partial min/max aggregation, so the shuffle carries only
  * partitions x dim rows — and the fitted params are O(dim) driver rows
  * broadcast into map-only encode/dequantize kernels (typed mapPartitions,
  * no lambda higher-order functions, zero exchanges). Quantized kNN
  * composes with [[Similarity.bruteForceTopK]]'s partial-top-k kernel, so
  * the scoring pass shuffles QxPxk candidate rows, never QxN.
  */
object Quantize {

  /** Per-dimension (min, max) fitted over a corpus — O(dim) values. */
  final case class Params(mins: Array[Float], maxes: Array[Float]) {
    def dim: Int = mins.length
    require(mins.length == maxes.length, "mins/maxes length mismatch")
  }

  /** One corpus scan -> per-dimension min/max. The collect is O(dim) rows
    * (64 for the fixture corpus), never O(rows). Rejects ragged vectors
    * (every row must carry the same dimensionality — a shorter vector
    * would silently skew the high dimensions' stats). */
  def fit(emb: DataFrame, embCol: String = "embedding"): Params = {
    val stats = emb
      .select(posexplode(col(embCol)))
      .toDF("pos", "v")
      .groupBy(col("pos"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"),
        count(lit(1)).as("c"))
      .orderBy(col("pos"))
      .collect()
    require(stats.nonEmpty, "Quantize.fit: empty corpus or empty vectors")
    val counts = stats.map(_.getLong(3)).distinct
    require(counts.length == 1,
      s"Quantize.fit: ragged vector dims (per-dim counts ${counts.mkString(",")})")
    Params(stats.map(_.getFloat(1)), stats.map(_.getFloat(2)))
  }

  /** Map-only encode: (idCol, codes array<int> in [0, 255]). Rows with a
    * null or wrong-dimension vector fail loudly (a silent drop would
    * corrupt downstream joins). */
  def encode(emb: DataFrame, params: Params, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(params)
    emb.select(col(idCol).cast("long"), col(embCol))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val p = bc.value
        it.map { case (id, vSeq) =>
          require(vSeq != null && vSeq.length == p.dim,
            s"Quantize.encode: vec $id null or dim != ${p.dim}")
          val v = vSeq.toArray // typed-encoder Seq is not guaranteed indexed
          val codes = new Array[Int](p.dim)
          var i = 0
          while (i < p.dim) {
            val mn = p.mins(i).toDouble
            val mx = p.maxes(i).toDouble
            val c = if (mx == mn) 0.0
              else math.floor((v(i).toDouble - mn) * 255.0 / (mx - mn))
            codes(i) = math.max(0.0, math.min(255.0, c)).toInt
            i += 1
          }
          (id, codes)
        }
      }.toDF(idCol, "codes")
  }

  /** Map-only decode back to a float vector (named like the input so ANN
    * ops compose directly): value_i = mn_i + code_i * (mx_i - mn_i) / 255,
    * computed in double and rounded once to float32. */
  def dequantize(codes: DataFrame, params: Params, idCol: String = "vec_id",
      codesCol: String = "codes"): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(params)
    codes.select(col(idCol).cast("long"), col(codesCol))
      .as[(Long, Seq[Int])]
      .mapPartitions { it =>
        val p = bc.value
        it.map { case (id, csSeq) =>
          require(csSeq != null && csSeq.length == p.dim,
            s"Quantize.dequantize: vec $id null or dim != ${p.dim}")
          val cs = csSeq.toArray // typed-encoder Seq is not guaranteed indexed
          val vs = new Array[Float](p.dim)
          var i = 0
          while (i < p.dim) {
            val mn = p.mins(i).toDouble
            val mx = p.maxes(i).toDouble
            vs(i) = (mn + cs(i).toDouble * (mx - mn) / 255.0).toFloat
            i += 1
          }
          (id, vs)
        }
      }.toDF(idCol, "embedding")
  }

  /** Asymmetric quantized kNN: fit + encode the corpus, score queries
    * (full-precision) against the DEQUANTIZED corpus with the partial-top-k
    * kernel. Same output shape as [[Similarity.bruteForceTopK]]. The
    * fit/encode/decode here stand in for a stored int8 index — a real
    * deployment persists `encode`'s output (4x smaller than the floats)
    * and dequantizes on the fly at scoring time. */
  def knnTopK(emb: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val params = fit(emb, embCol)
    Similarity.bruteForceTopK(
      dequantize(encode(emb, params, idCol, embCol), params, idCol),
      queries, k)
  }

  // ---- persisted int8 index ------------------------------------------------

  private def q8MetaPath(dir: String) =
    java.nio.file.Paths.get(dir, "_META.json")

  // one canonical rendering, compared WHOLE by the indexed reader (the
  // Similarity IVF-index convention: substring/prefix checks would
  // false-match numbers or skip fields)
  private def q8Meta(fp: Long, n: Long, dim: Int): String =
    s"""{"fingerprint":$fp,"count":$n,"dim":$dim}""" + "\n"

  private val Q8MetaRe =
    """\{"fingerprint":(-?\d+),"count":(\d+),"dim":(\d+)\}\n?""".r

  /** Fit + encode ONCE and persist under `dir`: `params.parquet`
    * (pos, mn, mx — O(dim) rows), `codes.parquet` (4x smaller than the
    * float corpus) and `_META.json` with the corpus fingerprint. Repeated
    * query batches then use [[knnQ8Indexed]], whose scoring pass reads the
    * int8 codes instead of the floats. Single-writer, like the IVF index. */
  def buildQ8Index(corpus: DataFrame, dir: String, idCol: String = "vec_id",
      embCol: String = "embedding"): Params = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (fp, n) = Similarity.corpusFingerprint(corpus, idCol, embCol)
    val p = fit(corpus, embCol)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    p.mins.indices.map(i => (i, p.mins(i), p.maxes(i))).toDF("pos", "mn", "mx")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/params.parquet")
    encode(corpus, p, idCol, embCol)
      .write.mode("overwrite").parquet(s"$dir/codes.parquet")
    java.nio.file.Files.writeString(q8MetaPath(dir), q8Meta(fp, n, p.dim))
    p
  }

  /** Load the persisted per-dimension params (O(dim) rows). */
  def loadParams(spark: org.apache.spark.sql.SparkSession,
      dir: String): Params = {
    val rows = spark.read.parquet(s"$dir/params.parquet")
      .orderBy(col("pos")).collect()
    require(rows.nonEmpty && rows.head.getInt(0) == 0 &&
      rows.last.getInt(0) == rows.length - 1,
      s"Quantize.loadParams: corrupt params at $dir")
    Params(rows.map(_.getFloat(1)), rows.map(_.getFloat(2)))
  }

  /** Quantized kNN against a PERSISTED index: validates the stored meta
    * against the live corpus fingerprint (stale index throws, never
    * silently serves the wrong neighbors — the one field the reader cannot
    * re-derive, `dim`, is pinned by the whole-string compare around it),
    * then scores the full-precision queries against the stored codes —
    * the corpus floats are read only by the one-pass fingerprint agg, the
    * scoring scan is the 4x-smaller code table. Output identical to
    * [[knnTopK]] on the same corpus (same params, same codes). */
  def knnQ8Indexed(corpus: DataFrame, queries: DataFrame, k: Int,
      dir: String, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val meta = java.nio.file.Files.readString(q8MetaPath(dir))
    val (fp, n) = Similarity.corpusFingerprint(corpus, idCol, embCol)
    val dim = meta match {
      case Q8MetaRe(_, _, d) => d.toInt
      case _ => throw new IllegalArgumentException(
        s"unparseable q8 meta at $dir: ${meta.trim} — rebuild with buildQ8Index")
    }
    require(meta == q8Meta(fp, n, dim),
      s"q8 index at $dir does not match this corpus " +
        s"(stored ${meta.trim}, expected ${q8Meta(fp, n, dim).trim}) — " +
        "rebuild with buildQ8Index")
    val p = loadParams(spark, dir)
    require(p.dim == dim, s"params dim ${p.dim} != meta dim $dim at $dir")
    Similarity.bruteForceTopK(
      dequantize(spark.read.parquet(s"$dir/codes.parquet"), p, idCol),
      queries, k)
  }
}
