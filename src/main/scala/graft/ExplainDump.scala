package graft

/** Dump `.explain("formatted")` for named SparkEntry queries to files —
  * the per-round plan evidence (`plans/rNN/<query>_{before,after}.txt`).
  * Usage: scripts/run.sh ExplainDump <outDir> <suffix> q1,q2,...
  * (suffix = "before" | "after"; env SPARK_GRAFT_SF_DIR/CPUS as Bench).
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus.toInt).spark
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      println(s"[explain] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
