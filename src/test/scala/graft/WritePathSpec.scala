package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Table writes commit through one step of Materialize and concurrent
  * driver-side actions are joined by one helper, [[Fanout]]. */
class WritePathSpec extends AnyFunSuite {

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

  /** The file of each match of `regex`. */
  private def hits(regex: String): Seq[String] = sources.toSeq.sortBy(_._1).flatMap {
    case (f, s) => Seq.fill(regex.r.findAllMatchIn(s).size)(f)
  }

  test("one commit step for table writes, one fan-out helper, no retainSnapshots") {
    // each commit primitive has one call site (its definition aside)
    for (name <- Seq("writeReserved", "reserveDir", "flip"))
      assert(hits(s"""(?<!def )\\b$name\\(""") == Seq("graft/kg/Materialize.scala"), name)
    // threads are joined by Fanout only
    assert(hits("""Await\.result""") == Seq("graft/Fanout.scala"))
    assert(hits("retainSnapshots").isEmpty)
  }
}
