package graft.ops

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, count, lit, max, sum, when}
import org.apache.spark.sql.util.QueryExecutionListener

/** "No silent caps": always-on observability for every recall-trading cap
  * (LSH bucket caps, candidate caps) and for candidate-volume counters.
  *
  * Implementation: `Dataset.observe` — a `CollectMetrics` node computes the
  * aggregates inline with the query (no extra job, codegen-compatible) and a
  * session-registered [[QueryExecutionListener]] harvests them after each
  * action. Values land in a process-wide map keyed by SITE (a stable
  * call-site label), latest execution wins; drops are additionally logged so
  * a cap firing at corpus scale is visible in driver logs, not just to
  * callers who think to ask.
  *
  * Each `observed` call mints a unique metric name (Spark requires observed
  * metric names to be unique within one query), so the same site can be
  * instrumented in many queries/repetitions; [[latest]]/[[sum]] aggregate by
  * site prefix.
  */
object CapMetrics {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val seq = new AtomicLong(0L)
  // site -> (monotonic seq of last write, latest metrics row as name->value)
  private val bySite = new ConcurrentHashMap[String, (Long, Map[String, Long])]()
  private val writes = new AtomicLong(0L)
  private val sessions = ConcurrentHashMap.newKeySet[SparkSession]()

  private object Listener extends QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) => harvest(name, row) }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
  }

  private def harvest(name: String, row: Row): Unit =
    if (name.startsWith("graft.cap.")) {
      // graft.cap.<site>#<seq>
      record(name.stripPrefix("graft.cap.").takeWhile(_ != '#'),
        row.schema.fieldNames.zipWithIndex.map { case (f, i) =>
          f -> (if (row.isNullAt(i)) 0L else row.getLong(i))
        }.toMap)
    }

  /** Record `site`'s metrics computed without a Spark query — a driver-side
    * mirror of an [[observed]] site reports here, so its cap stays just as
    * visible: same map, same write sequence, same WARN on `dropped_rows`. */
  def record(site: String, vals: Map[String, Long]): Unit = {
    bySite.put(site, (writes.incrementAndGet(), vals))
    val dropped = vals.getOrElse("dropped_rows", 0L)
    if (dropped > 0L)
      log.warn(s"[graft] cap '$site' dropped $dropped rows " +
        vals.removed("dropped_rows").map { case (k, v) => s"$k=$v" }.mkString("(", ", ", ")"))
    else if (vals.nonEmpty)
      log.info(s"[graft] metrics '$site': " +
        vals.map { case (k, v) => s"$k=$v" }.mkString(", "))
  }

  private def ensureListener(spark: SparkSession): Unit =
    if (sessions.add(spark)) spark.listenerManager.register(Listener)

  /** Attach observed metrics to `df` under `site`. Columns must be
    * non-distinct aggregates producing LONG values; a column named
    * `dropped_rows` is treated as a cap-drop count and WARN-logged when
    * positive. Metrics are recorded when the consuming action runs — BUT a
    * lazy observe can be lost when AQE empty-relation propagation cancels
    * the subtree's stage (e.g. every row capped away empties a join side);
    * cap sites that must never be silent use [[checkpointHarvest]] (bucket
    * caps: [[capBuckets]]). */
  def observed(df: DataFrame, site: String, cols: Column*): DataFrame = {
    ensureListener(df.sparkSession)
    df.observe(s"graft.cap.$site#${seq.incrementAndGet()}", cols.head, cols.tail: _*)
  }

  /** Eagerly localCheckpoint a frame containing [[observed]] nodes and
    * harvest their metrics from that execution: the metrics job runs NOW
    * (cannot be pruned by a downstream empty-relation rewrite) and the
    * returned frame is materialized — callers reuse it across self-join
    * sides, deleting the duplicate upstream pass the two sides would
    * otherwise each pay. (Direct harvest because QueryExecutionListener
    * does not fire for checkpoint jobs.) The job is named after the
    * first caller outside this object and [[graft.SizeGate]], so event
    * logs and the UI show the gate or cap site that checkpointed. */
  def checkpointHarvest(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    // local properties are per thread: concurrent jobs keep their own names
    val prev = sc.getLocalProperty(ShortCallSite)
    sc.setCallSite(callerSite())
    val cp = try df.localCheckpoint(eager = true)
      finally sc.setLocalProperty(ShortCallSite, prev)
    df.queryExecution.observedMetrics.foreach { case (n, row) => harvest(n, row) }
    cp
  }

  // the local property behind SparkContext.setCallSite(String)
  private val ShortCallSite = "callSite.short"
  private val Helpers = Set("graft.SizeGate", "graft.ops.CapMetrics")
  private val walker = StackWalker.getInstance()

  /** `localCheckpoint at File.scala:line` of the first stack frame outside
    * the checkpoint helpers — Spark's short call-site format. The walk
    * stops at that frame. */
  private def callerSite(): String =
    walker.walk(frames => frames
      .filter(f => !Helpers(f.getClassName.takeWhile(_ != '$')))
      .findFirst()
      .map(f => s"localCheckpoint at ${f.getFileName}:${f.getLineNumber}")
      .orElse("localCheckpoint"))

  /** Block purging: drops every row of a bucket (rows sharing `keys`)
    * holding more than `maxBucket` rows, so no over-cap bucket reaches the
    * quadratic self-join behind it. The count is a window over the keys the
    * join shuffles on (no extra exchange). Drops are observed under `site`
    * (`dropped_rows`, `max_bucket`) and the capped frame is checkpointed
    * through [[checkpointHarvest]], so the counts cannot be pruned away and
    * both join sides share one window pass. */
  def capBuckets(df: DataFrame, site: String, maxBucket: Int, keys: Column*): DataFrame = {
    val withN = observed(
      df.withColumn("bucket_n", count(lit(1)).over(Window.partitionBy(keys: _*))),
      site,
      sum(when(col("bucket_n") > maxBucket, 1L).otherwise(0L)).as("dropped_rows"),
      max(col("bucket_n")).as("max_bucket"))
    checkpointHarvest(withN.filter(col("bucket_n") <= maxBucket).drop("bucket_n"))
  }

  /** Latest harvested metrics for a site ("" map if never fired). Listener
    * delivery is async (listener-bus thread): poll with [[await]] in tests. */
  def latest(site: String): Map[String, Long] =
    Option(bySite.get(site)).map(_._2).getOrElse(Map.empty)

  /** Monotonic write sequence of a site's last harvest (0 = never) — lets a
    * caller attribute metrics to ITS OWN execution window: snapshot before,
    * read after, record only if the sequence advanced (a site that did not
    * fire during the window would otherwise yield another query's stale
    * values). */
  def seqOf(site: String): Long =
    Option(bySite.get(site)).map(_._1).getOrElse(0L)

  /** Snapshot of every site's write sequence — pair with [[changedSince]]
    * to attribute metrics to one execution window. */
  def snapshot(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    bySite.asScala.map { case (k, (s, _)) => k -> s }.toMap
  }

  /** Sites whose metrics advanced since `snap` (new sites included), with
    * their latest values — e.g. the caps/candidate counters one bench query
    * fired, excluding stale values from earlier queries. */
  def changedSince(snap: Map[String, Long]): Map[String, Map[String, Long]] = {
    import scala.jdk.CollectionConverters._
    bySite.asScala.collect {
      case (site, (s, vals)) if s > snap.getOrElse(site, 0L) => site -> vals
    }.toMap
  }

  /** Poll until `site` has metrics satisfying `p` or `timeoutMs` elapses. */
  def await(site: String, timeoutMs: Long = 10000L)(
      p: Map[String, Long] => Boolean): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (System.nanoTime() < deadline) {
      if (p(latest(site))) return true
      Thread.sleep(25L)
    }
    p(latest(site))
  }
}
