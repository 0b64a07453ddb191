package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{broadcast, count, lit, sum}

import graft.ops.CapMetrics

/** The one policy behind every driver-lane and broadcast-hint decision (an
  * explicit hint is never demoted by AQE): a frame is collected to, or
  * broadcast from, the driver only when its estimated heap cost fits an
  * eighth of the driver heap. Each site measures its frame and prices its
  * rows; every decision is recorded as CapMetrics `gate.<site>`. */
object SizeGate {

  // driver heap per row of a broadcast hash relation keyed by at most 16
  // bytes: the collected row, its relation slot and the serialized copy
  private val BroadcastRowBytes = 128L

  // process-wide, not thread-local: gates also run on Fanout pool threads
  private val forced = new AtomicInteger(0)

  /** The heap bytes one gated frame may use on the driver. */
  def budget: Long = Runtime.getRuntime.maxMemory / 8

  /** Rows of `df` and the sum of `units` over them, in one agg pass — for
    * frames that are never checkpointed; a checkpointed frame is sized by
    * [[checkpoint]]. */
  def measure(df: DataFrame, units: Column): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(units)).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** A frame materialized by [[checkpoint]], with its row count and the sum
    * of each `units` column over its rows. */
  final case class Sized(df: DataFrame, rows: Long, sums: IndexedSeq[Long])

  private val observeSeq = new AtomicLong(0L)

  /** Eagerly localCheckpoint `df` and size it in the same job: the count and
    * the `units` sums ride the checkpoint as `Dataset.observe` metrics, so
    * no second pass reads the materialized blocks. Observed [[CapMetrics]]
    * sites inside `df` are harvested from the same job. Should the observed
    * row be missing, the sizes come from one agg over the checkpoint. */
  def checkpoint(df: DataFrame, units: Column*): Sized = {
    val name = s"graft.size#${observeSeq.incrementAndGet()}"
    val aggs = sizeAggs(units)
    val observed = df.observe(name, aggs.head, aggs.tail: _*)
    val cp = CapMetrics.checkpointHarvest(observed)
    sized(cp, observed.queryExecution.observedMetrics.get(name), units)
  }

  /** `cp` with the sizes in its `observed` row, or, when that row is
    * missing, in one agg over `cp`. `units` name columns of `cp`. */
  private[graft] def sized(cp: DataFrame, observed: Option[Row], units: Seq[Column]): Sized = {
    val aggs = sizeAggs(units)
    val r = observed.getOrElse(cp.agg(aggs.head, aggs.tail: _*).head())
    Sized(cp, r.getLong(0),
      units.indices.map(i => if (r.isNullAt(i + 1)) 0L else r.getLong(i + 1)))
  }

  private def sizeAggs(units: Seq[Column]): Seq[Column] =
    count(lit(1)) +: units.map(u => sum(u.cast("long")))

  /** Whether `rows` rows costing `heapBytes` of driver heap fit [[budget]]. */
  def fits(site: String, rows: Long, heapBytes: Long): Boolean = {
    val taken = forced.get == 0 && heapBytes <= budget
    CapMetrics.record(s"gate.$site",
      Map("rows" -> rows, "heap_bytes" -> heapBytes, "taken" -> (if (taken) 1L else 0L)))
    taken
  }

  /** `df` hinted for broadcast when its `rows` fit as a hash relation. */
  def broadcastIfFits(site: String, df: DataFrame, rows: Long): DataFrame =
    if (fits(site, rows, rows * BroadcastRowBytes)) broadcast(df) else df

  /** Runs `body` with every gate answering "does not fit" (tests only). */
  private[graft] def forceDistributed[T](body: => T): T = {
    forced.incrementAndGet()
    try body finally forced.decrementAndGet()
  }
}
