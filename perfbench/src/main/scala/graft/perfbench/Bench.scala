package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: runs one workload in a closed loop (one caller;
  * the next unit starts only after the previous one returned),
  * checks every output against an independent reference, and prints one
  * result line for `perfbench/run.py`:
  *
  * {{{
  *   PERFBENCH_RESULT {"correct":..,"attempted":..,"failed":..,"metrics":{..},"info":{..}}
  * }}}
  *
  * Usage (normally through run.py, which builds and launches the JVM):
  * `graft.perfbench.Bench --workload kg_converge|curate --seed N
  * --seconds S --trace 0|1 --work DIR`.
  *
  * `--trace 0` measures the end-to-end metrics with tracing off.
  * `--trace 1` runs an untraced unit, a traced unit and another untraced
  * unit, and reports the per-layer metrics of the traced one (see
  * [[Tracer]]).
  */
object Bench {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path)

  /** Spark task threads: at most four, and no more than the host has. */
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  /** One attempted unit of work (a batch sequence, a composed curation
    * run): its timings, and whether it threw or failed its check. A unit that
    * threw returned no output; one that returned a wrong output is what makes
    * a run incorrect. Both count as failed. */
  final case class Attempt(ok: Boolean, wallS: Double, batchLagsS: Seq[Double],
      recall: Double, detail: String, threw: Boolean = false)

  /** What a workload returns to the harness. `metrics` holds the values the
    * workload measures itself (name -> (value, unit)). */
  final case class Outcome(attempts: Seq[Attempt],
      metrics: Map[String, (Double, String)],
      info: Map[String, String] = Map.empty)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath)
  }

  /** The session every workload runs in: `local[Cores]`, the `graft.Main`
    * settings, and scratch space inside the work directory. */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { Files.delete(f); () })
      finally st.close()
    }

  /** Set up `reps` times (each from a fresh session, the first in a cold JVM)
    * and return the median set-up time. The session of the last set-up stays
    * open for the measurement. */
  def timedSetup(a: Args, reps: Int)(setup: SparkSession => Unit): (SparkSession, Double) = {
    var spark: SparkSession = null
    val times = (1 to reps).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(a.work)
      val sessionS = secondsSince(t0)
      setup(spark)
      val s = secondsSince(t0)
      println(f"[perfbench] set-up $i/$reps: $s%.2f s (session $sessionS%.2f s)")
      s
    }
    (spark, median(times))
  }

  /** Closed loop: run `unit` until `seconds` have passed and `min` units
    * have completed with a correct output, or `maxUnits` were attempted. A
    * unit that throws or fails its check stays in the result as failed; the
    * loop only keeps going until there is completed work to time. */
  def closedLoop(seconds: Double, min: Int, maxUnits: Int = 3)(
      unit: Int => Attempt): Seq[Attempt] = {
    val t0 = System.nanoTime()
    val out = scala.collection.mutable.ArrayBuffer.empty[Attempt]
    while ((out.count(_.ok) < min || secondsSince(t0) < seconds) && out.size < maxUnits) {
      val i = out.size
      val u0 = System.nanoTime()
      val att = try unit(i) catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          Attempt(ok = false, secondsSince(u0), Nil, 0.0,
            s"threw ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}",
            threw = true)
      }
      println(f"[perfbench] unit $i: ${att.wallS}%.2f s ok=${att.ok} ${att.detail}")
      out += att
    }
    out.toSeq
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def resultLine(o: Outcome): String = {
    val failed = o.attempts.count(!_.ok)
    val wrong = o.attempts.count(x => !x.ok && !x.threw)
    val metrics = o.metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s"${jsonStr(k)}:{\"value\":${jsonNum(v)},\"unit\":${jsonStr(u)}}"
    }.mkString("{", ",", "}")
    val info = o.info.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }.mkString("{", ",", "}")
    s"""{"correct":${wrong == 0},"attempted":${o.attempts.size},""" +
      s""""failed":$failed,"metrics":$metrics,"info":$info}"""
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val wl: Args => Outcome = a.workload match {
      case "kg_converge" => KgConverge.run
      case "curate" => CurateRun.run
      case other => sys.error(s"unknown workload $other")
    }
    val o = wl(a)
    println("PERFBENCH_RESULT " + resultLine(o))
    SparkSession.getDefaultSession.foreach(_.stop())
  }
}
