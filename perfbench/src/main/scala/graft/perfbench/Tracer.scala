package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Span recorder for the traced run.
  *
  * A span is opened around each call into a layer (`span("kg.Extract") {..}`).
  * While it is open its thread carries a Spark job group naming the span
  * instance, so a [[SparkListener]] can charge every job, stage and task to
  * it. Jobs submitted from threads the library owns (its own futures) carry
  * no or a stale group; they are charged to the innermost span open when the
  * job was submitted. Spans and job records stay in memory and are written
  * as JSONL by [[writeJsonl]] at the end.
  *
  * Per span name: `self_s` (own time, children's intervals removed), `task_s`
  * (summed task time), `skew` (worst stage max/median task time), `shuffle_mb`
  * (shuffle write), `spill_mb` (memory + disk spill) and `jobs`.
  */
final class Tracer(spark: SparkSession) {

  final case class Span(id: Long, name: String, parent: Long, startMs: Long,
      endMs: Long, thread: String)
  private final case class Job(id: Int, group: String, timeMs: Long, stages: Seq[Int])
  private final case class Task(stage: Int, launchMs: Long, finishMs: Long,
      runMs: Long, shuffleWrite: Long, spill: Long, written: Long)

  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs.add(Job(e.jobId, g, e.time, e.stageIds))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.stageId, e.taskInfo.launchTime,
        e.taskInfo.finishTime, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten))
    }
  }
  spark.sparkContext.addSparkListener(listener)

  private val GroupKey = "spark.jobGroup.id"
  private val DescKey = "spark.job.description"

  /** Run `f` as a span named `name`, child of the span open on this thread
    * (or of `parent`, for work handed to another thread). */
  def span[A](name: String, parent: Long = -1L)(f: => A): A = {
    val sc = spark.sparkContext
    val prevGroup = sc.getLocalProperty(GroupKey)
    val prevDesc = sc.getLocalProperty(DescKey)
    val id = ids.incrementAndGet()
    val par = if (parent >= 0) parent else stack.get.headOption.getOrElse(0L)
    val prevStack = stack.get
    stack.set(id :: (if (parent >= 0) List(parent) else prevStack))
    sc.setJobGroup(s"span-$id", name)
    val t0 = System.currentTimeMillis()
    try f
    finally {
      spans.add(Span(id, name, par, t0, System.currentTimeMillis(),
        Thread.currentThread().getName))
      stack.set(prevStack)
      sc.setLocalProperty(GroupKey, prevGroup)
      sc.setLocalProperty(DescKey, prevDesc)
    }
  }

  /** Id of the span open on this thread (0 = none). */
  def current: Long = stack.get.headOption.getOrElse(0L)

  /** Add to a named counter (a layer's own count). */
  def add(counter: String, v: Double): Unit = { counters.merge(counter, v, _ + _); () }
  def counter(name: String): Double = counters.getOrDefault(name, 0.0)

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Span name per job: its group if that names a span open at submission,
    * else the innermost span open at that time. */
  private def jobSpan(all: Seq[Span]): Map[Int, Span] = {
    val byGroup = all.map(s => s"span-${s.id}" -> s).toMap
    jobs.asScala.toSeq.flatMap { j =>
      val open = all.filter(s => s.startMs <= j.timeMs && j.timeMs <= s.endMs)
      Option(j.group).flatMap(byGroup.get)
        .filter(s => s.startMs <= j.timeMs && j.timeMs <= s.endMs)
        .orElse(open.maxByOption(_.startMs))
        .map(j.id -> _)
    }.toMap
  }

  /** Total length of the union of `[a, b)` intervals clipped to `[lo, hi)`. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Per-layer metrics for `names`, plus every counter. Spans not run read 0. */
  def metrics(names: Seq[String]): Map[String, Double] = {
    drain()
    val all = spans.asScala.toSeq
    val js = jobSpan(all)
    val stageName = jobs.asScala.toSeq.flatMap(j =>
      js.get(j.id).toSeq.flatMap(s => j.stages.map(_ -> s.name))).toMap
    val ts = tasks.asScala.toSeq
    val byName = ts.groupBy(t => stageName.getOrElse(t.stage, ""))
    val children = all.groupBy(_.parent)
    names.flatMap { n =>
      val mine = all.filter(_.name == n)
      val self = mine.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
        (s.endMs - s.startMs) - covered(kids, s.startMs, s.endMs)
      }.sum / 1e3
      val t = byName.getOrElse(n, Nil)
      val skew = t.groupBy(_.stage).values.filter(_.size >= 2).map { st =>
        val d = st.map(_.runMs.toDouble).sorted
        val med = Bench.median(d)
        if (med > 0) d.last / med else 1.0
      }.maxOption.getOrElse(if (t.isEmpty) 0.0 else 1.0)
      Seq(
        s"$n.self_s" -> self,
        s"$n.task_s" -> t.map(_.runMs).sum / 1e3,
        s"$n.skew" -> skew,
        s"$n.shuffle_mb" -> t.map(_.shuffleWrite).sum / 1e6,
        s"$n.spill_mb" -> t.map(_.spill).sum / 1e6,
        s"$n.jobs" -> js.values.count(_.name == n).toDouble)
    }.toMap ++ counters.asScala.map { case (k, v) => k -> v.doubleValue }
  }

  /** Bytes written by output tasks charged to spans named `name`. */
  def writtenMb(name: String): Double = {
    drain()
    val all = spans.asScala.toSeq
    val js = jobSpan(all)
    val stages = jobs.asScala.toSeq.filter(j => js.get(j.id).exists(_.name == name))
      .flatMap(_.stages).toSet
    tasks.asScala.filter(t => stages.contains(t.stage)).map(_.written).sum / 1e6
  }

  /** Seconds within spans named `name` during which no task ran. */
  def idleSeconds(name: String): Double = {
    drain()
    val iv = tasks.asScala.toSeq.map(t => (t.launchMs, t.finishMs))
    spans.asScala.toSeq.filter(_.name == name).map { s =>
      (s.endMs - s.startMs) - covered(iv, s.startMs, s.endMs)
    }.sum / 1e3
  }

  /** One JSON object per span, then one per job. */
  def writeJsonl(path: Path): Unit = {
    drain()
    val all = spans.asScala.toSeq.sortBy(_.startMs)
    val js = jobSpan(all)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = all.map { s =>
      s"""{"type":"span","id":${s.id},"name":${q(s.name)},"parent":${s.parent},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"thread":${q(s.thread)}}"""
    } ++ jobs.asScala.toSeq.sortBy(_.id).map { j =>
      s"""{"type":"job","id":${j.id},"span":${js.get(j.id).map(_.id).getOrElse(0L)},""" +
        s""""time_ms":${j.timeMs},"stages":${j.stages.mkString("[", ",", "]")}}"""
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, lines.mkString("", "\n", "\n"))
    ()
  }

  /** Stop recording, after every event posted so far was delivered. */
  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
  }
}
