package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Each similarity primitive has one implementation under src/main/scala:
  * the bucket cap, the top-k heap order, the pair-sealing checkpoint, the
  * primitive-array vector kernels and the two-pass prefix scan. */
class PrimitivesSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** Relative path -> source text of every Scala file under src/main/scala. */
  private lazy val sources: Map[String, String] = {
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p)).toMap
    finally walk.close()
  }

  /** The file of each occurrence of `needle`. */
  private def hits(needle: String): Seq[String] = sources.toSeq.flatMap { case (f, s) =>
    Seq.fill(java.util.regex.Pattern.quote(needle).r.findAllMatchIn(s).size)(f)
  }

  test("one copy of each similarity primitive under src/main/scala") {
    // block purging: the bucket_n window cap is written only in CapMetrics
    val windowCap = """"bucket_n"[^\n]*\.over\(""".r
    assert(sources.collect { case (f, s) if windowCap.findFirstIn(s).isDefined => f }.toSet ==
      Set("graft/ops/CapMetrics.scala"))
    // the top-k heap order is defined once
    assert(hits("def worseThan") == Seq("graft/ops/Similarity.scala"))
    // pair frames are sealed only by ManagedPairs.seal
    assert(hits(".pairs.localCheckpoint(").isEmpty)
    assert(hits("pairs.localCheckpoint(") == Seq("graft/ops/Dedup.scala"))
    // no Similarity kernel but cosineKernel takes a Seq[Float] (a def's
    // first parameter list, default-argument calls included)
    val params = """def\s+(\w+)\s*\((?:[^()]|\([^()]*\))*\)""".r
    val seqDefs = params.findAllMatchIn(sources("graft/ops/Similarity.scala"))
      .collect { case m if m.matched.contains("Seq[Float]") => m.group(1) }.toSet
    assert(seqDefs == Set("cosineKernel"))
    // the two-pass prefix scan (partition-id tagging, driver offsets) is
    // written once, in Sharding.prefixScan
    assert(hits("spark_partition_id(").toSet == Set("graft/ops/Sharding.scala"))
    assert(hits("scanLeft(").toSet == Set("graft/ops/Sharding.scala"))
  }
}
