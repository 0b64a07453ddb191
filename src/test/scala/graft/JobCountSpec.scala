package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions.{col, length, lit, sum}
import org.scalatest.funsuite.AnyFunSuite

import graft.kg.{Incremental, IncrementalSpec, Link, Materialize, Pipeline}

/** Facts the driver already holds cost no Spark job: a table's schema, the
  * bucket checkpoints it wrote, and the size of a frame it just
  * checkpointed. */
class JobCountSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** `body`'s result and the Spark jobs it submitted (counted under a job
    * group of its own, after the listener bus has delivered them). */
  private def jobsOf[T](body: => T): (T, Int) = {
    val (r, ledger) = ledgerOf(body)
    (r, ledger.jobs.size)
  }

  /** `body`'s result and the names of the Spark jobs it submitted. */
  private def jobNamesOf[T](body: => T): (T, Seq[String]) = {
    val (r, ledger) = ledgerOf(body)
    (r, ledger.jobs)
  }

  /** The jobs a body submitted, each named by its SQL execution's
    * description (`parquet at Materialize.scala:NNN`, the short call site),
    * or by its result stage when it ran outside one, and the physical plans
    * of those executions: the first and every adaptive re-plan. */
  private final case class Ledger(jobs: Seq[String], plans: Seq[String])

  private def ledgerOf[T](body: => T): (T, Ledger) = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val jobs = new ConcurrentLinkedQueue[(Option[Long], String)]()
    val descriptions = new ConcurrentHashMap[Long, String]()
    val plans = new ConcurrentLinkedQueue[(Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.add((Option(e.properties.getProperty("spark.sql.execution.id")).map(_.toLong),
            e.stageInfos.maxBy(_.stageId).name)) // the result stage
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          descriptions.put(s.executionId, s.description)
          plans.add((s.executionId, s.physicalPlanDescription))
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          plans.add((u.executionId, u.physicalPlanDescription))
        case _ => ()
      }
    }
    sc.addSparkListener(listener)
    // no job description: a SQL execution is then described by its call site
    sc.setJobGroup(group, null)
    try {
      val r = body
      GraftTestBus.drain(sc)
      val js = jobs.asScala.toSeq
      val executions = js.flatMap(_._1).toSet
      (r, Ledger(
        js.map { case (id, stage) =>
          id.flatMap(i => Option(descriptions.get(i))).getOrElse(stage) },
        plans.asScala.toSeq.collect { case (id, plan) if executions(id) => plan }))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("Materialize.readTable on a base + delta + tombstone table submits no job") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft-jobs").toString + "/t"
    Materialize.mergeSnapshot(spark, table, Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), Seq("k"))
    Materialize.appendRewrite(spark, table, upserts = Seq(("c", 3L)).toDF("k", "v"),
      deleteKeys = Seq(("a", 1L)).toDF("k", "v"), key = Seq("k"), compactEvery = 0)
    val m = Materialize.currentManifest(table).get
    assert(m.base.nonEmpty && m.deltas.nonEmpty && m.tombs.nonEmpty)
    val (df, jobs) = jobsOf(Materialize.readTable(spark, table).get)
    assert(jobs == 0)
    assert(df.as[(String, Long)].collect().toSet == Set(("b", 2L), ("c", 3L)))
  }

  test("Incremental.completedBuckets reads its checkpoint rows without a job") {
    val out = Files.createTempDirectory("graft-jobs").toString
    Seq((0, "done", "pipeline", "r1"), (2, "done", "pipeline", "r1"),
        (1, "started", "pipeline", "r1"), (3, "done", "pipeline", "r0"),
        (4, "done", "resolve", "r1"))
      .foreach { case (b, status, stage, run) => Incremental.appendCheckpoint(spark, out,
        Incremental.Checkpoint(run, stage, b, status, -1L, -1L, 0L, 1L)) }
    // lines the JSON reader's DROPMALFORMED mode drops: not JSON, not an
    // object, a bucket that is not an int
    Files.writeString(Paths.get(out, "_checkpoints", "bad.json"),
      "{\"run_id\":\"r1\",\"stage\":\"pipeline\",\"partition_key\":7,\n" +
      "[1, 2]\n" +
      "{\"run_id\":\"r1\",\"stage\":\"pipeline\",\"partition_key\":\"8\",\"status\":\"done\"}\n" +
      "{\"run_id\":\"r1\",\"stage\":\"pipeline\",\"partition_key\":9,\"status\":\"done\"}\n")
    val (done, jobs) = jobsOf(Incremental.completedBuckets(spark, out, "r1"))
    assert(jobs == 0)
    assert(done == Set(0, 2, 9))
    // the same rows as Spark's JSON reader in DROPMALFORMED mode
    def doneOf(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("run_id") === "r1" && col("status") === "done" &&
        col("stage") === "pipeline").select("partition_key").collect().map(_.getInt(0)).toSet
    assert(doneOf(spark.read.schema(
        org.apache.spark.sql.Encoders.product[Incremental.Checkpoint].schema)
      .option("mode", "DROPMALFORMED").json(s"$out/_checkpoints")) == done)
    assert(doneOf(Incremental.readCheckpoints(spark, out)) == done)
    // a run id holding a quote, a backslash, a newline, a tab and a
    // non-ASCII letter reads back equal through both readers
    val odd = "r\"\\\n\t\u00e9"
    assert(odd.length == 6)
    Incremental.appendCheckpoint(spark, out,
      Incremental.Checkpoint(odd, "pipeline", 5, "done", -1L, -1L, 0L, 1L))
    assert(Incremental.completedBuckets(spark, out, odd) == Set(5))
    def runIds(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("partition_key") === 5).select("run_id").collect().map(_.getString(0)).toSeq
    assert(runIds(Incremental.readCheckpoints(spark, out)) == Seq(odd))
    assert(runIds(spark.read.schema(
        org.apache.spark.sql.Encoders.product[Incremental.Checkpoint].schema)
      .option("mode", "DROPMALFORMED").json(s"$out/_checkpoints")) == Seq(odd))
  }

  test("SizeGate.checkpoint sizes a frame from its own checkpoint job") {
    import spark.implicits._
    val units = Seq(length(col("s")), col("n"))
    def agg(df: org.apache.spark.sql.DataFrame) = {
      val r = df.agg(org.apache.spark.sql.functions.count(lit(1)),
        sum(length(col("s"))), sum(col("n"))).head()
      (r.getLong(0), Seq(1, 2).map(i => if (r.isNullAt(i)) 0L else r.getLong(i)))
    }
    val full = spark.range(0, 1000).select(col("id").cast("string").as("s"),
      (col("id") % 7).as("n")).repartition(4)
    for (df <- Seq(full, full.filter(col("n") > 100))) {
      val expected = agg(df)
      val (sized, jobs) = jobsOf(SizeGate.checkpoint(df, units: _*))
      val (_, plainJobs) = jobsOf(df.localCheckpoint(eager = true))
      assert((sized.rows, sized.sums) == expected)
      assert(jobs == plainJobs) // the sizes cost no job of their own
      assert(agg(sized.df) == expected)
      // no observed row: the sizes fall back to one agg over the checkpoint
      val fallback = SizeGate.sized(sized.df, None, units)
      assert((fallback.rows, fallback.sums) == expected)
    }
    assert(agg(full.filter(col("n") > 100))._1 == 0L)
    // the checkpoint job is named after the gate's caller, not the helper
    // that runs it, and the caller's own call site comes back afterwards
    val (_, names) = jobNamesOf(SizeGate.checkpoint(full, units: _*))
    assert(names.nonEmpty)
    names.foreach(n => assert(n.startsWith("localCheckpoint at JobCountSpec.scala:"), n))
    assert(spark.sparkContext.getLocalProperty("callSite.short") == null)
  }

  test("a driver-lane ingest collects each bucket once, writes it as local rows and plans no exchange") {
    val out = Files.createTempDirectory("graft-jobs").toString
    val batch = IncrementalSpec.laneBatches(spark).head
    val (processed, ledger) = ledgerOf(
      Incremental.run(batch, Pipeline.emptyDict(spark), out, "r", nBuckets = 2))
    assert(processed == 2)
    // measured: 11 — the input checkpoint, per bucket one collect and the
    // edge and node writes, and two jobs per table for the end-of-run
    // compaction (the distributed lane ran about ten jobs per bucket)
    assert(ledger.jobs.size <= 11, ledger.jobs)
    assert(ledger.jobs.count(_.startsWith("collect at Incremental.scala:")) == 2, ledger.jobs)
    // the compaction reads the two deltas back; every other execution is
    // ingest, and none of those plans an exchange
    val (compaction, ingest) = ledger.plans.partition(_.toLowerCase.contains("scan parquet"))
    assert(compaction.nonEmpty && ingest.nonEmpty)
    assert(!ingest.exists(_.contains("Exchange")), ingest)
    val driverLane = Incremental.readMetrics(spark, out)
      .filter(col("stage") === "pipeline" && col("metric") === "driver_lane")
      .collect().map(_.getAs[Long]("value")).toSeq
    assert(driverLane == Seq(1L, 1L))
  }

  test("a driver-lane resolve pass plans no broadcast exchange and runs a bounded job count") {
    val out = Files.createTempDirectory("graft-jobs").toString
    val passes = IncrementalSpec.laneBatches(spark).zipWithIndex.map { case (b, i) =>
      Incremental.run(b, Pipeline.emptyDict(spark), out, s"r$i", nBuckets = 1)
      ledgerOf(Incremental.resolveDisjoint(spark, out, Link.Config()))
    }
    // each pass rewrites; pass 0 replaces the watermark, pass 1 appends to
    // it. Measured: 11 and 13 jobs (20 and 25 with the join-based rewrite,
    // whose SQL executions planned a BroadcastExchange in 4 and 6 of them)
    passes.zip(Seq(11, 13)).foreach { case ((_, ledger), bound) =>
      assert(ledger.jobs.size <= bound, ledger.jobs)
      assert(!ledger.plans.exists(_.contains("BroadcastExchange")), ledger.plans)
    }
    assert(passes.forall(_._1.rewritten > 0L))
    val driverLane = Incremental.readMetrics(spark, out)
      .filter(col("stage") === "resolve" && col("metric") === "driver_lane")
      .collect().map(_.getAs[Long]("value")).toSeq
    assert(driverLane == Seq(1L, 1L))
  }
}
