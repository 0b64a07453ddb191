package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one place a non-frozen entry point builds its SparkSession.
  *
  * Every session gets: `local[cores]` unless `spark.master` is already set
  * (spark-submit's `--master` wins), one shuffle partition per core unless
  * the caller asks for more, UTC session time and the WARN log level. AQE
  * and its skew-join rule are Spark 4 defaults, so they are not set here.
  * If a usable session already exists (a test suite's, a notebook's) it is
  * returned as is: its conf is not touched and it is reported as not
  * created, so the caller must not stop it. */
object Sessions {

  /** `created` is true only when this call built `spark`; a main stops
    * the session at exit only in that case ([[stopIfCreated]]). */
  final case class Local(spark: SparkSession, created: Boolean) {
    def stopIfCreated(): Unit = if (created) spark.stop()
  }

  /** @param partitions    `spark.sql.shuffle.partitions` [cores]
    * @param multiGbInputs split file scans at 16 MB: the 128 MB default
    *   `spark.sql.files.maxPartitionBytes` bin-packs a sub-GB compressed
    *   bench corpus into ~7 scan tasks, capping the scan + shuffle-write
    *   stage at 7-wide whatever the core count (the single biggest
    *   scaling-efficiency killer measured on KgBench). 16 MB keeps the scan
    *   at least as wide as the machine. On a cluster the corpus is TBs and
    *   the default split is already thousands wide; this matters only when
    *   benching multi-GB inputs on one box.
    * @param ui            keep the Spark UI (default: disabled)
    * @param logLevel      SparkContext log level */
  def local(cores: Int, appName: Option[String] = None,
      partitions: Option[Int] = None, multiGbInputs: Boolean = false,
      ui: Boolean = false, logLevel: String = "WARN"): Local =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped) match {
      case Some(live) => Local(live, created = false)
      case None =>
        val b = SparkSession.builder()
          .config("spark.sql.shuffle.partitions", partitions.getOrElse(cores))
          .config("spark.sql.session.timeZone", "UTC")
        if (!new SparkConf().contains("spark.master")) b.master(s"local[$cores]")
        appName.foreach(b.appName)
        if (multiGbInputs)
          b.config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
        if (!ui) b.config("spark.ui.enabled", "false")
        val s = b.getOrCreate()
        s.sparkContext.setLogLevel(logLevel)
        Local(s, created = true)
    }
}
