package graft.kg

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class MaterializeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def freshDir(): String =
    Files.createTempDirectory("graft-merge").toString

  test("mergeSnapshot is idempotent: f(f(x)) == f(x)") {
    import spark.implicits._
    val table = freshDir() + "/edges"
    val batch = Seq(("a", 1L), ("b", 2L), ("a", 1L)).toDF("k", "v")
    Materialize.mergeSnapshot(spark, table, batch, Seq("k", "v"))
    val after1 = Materialize.readTable(spark, table).get.collect().toSet
    Materialize.mergeSnapshot(spark, table, batch, Seq("k", "v"))
    val after2 = Materialize.readTable(spark, table).get.collect().toSet
    assert(after1 == after2)
    assert(after1.size == 2) // in-batch duplicate collapsed
  }

  test("final table independent of batch order (eventual-consistency analog)") {
    import spark.implicits._
    val b1 = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    val b2 = Seq(("b", 2L), ("c", 3L)).toDF("k", "v")

    val tAB = freshDir() + "/t"
    Materialize.mergeSnapshot(spark, tAB, b1, Seq("k", "v"))
    Materialize.mergeSnapshot(spark, tAB, b2, Seq("k", "v"))

    val tBA = freshDir() + "/t"
    Materialize.mergeSnapshot(spark, tBA, b2, Seq("k", "v"))
    Materialize.mergeSnapshot(spark, tBA, b1, Seq("k", "v"))

    val a = Materialize.readTable(spark, tAB).get.collect().toSet
    val b = Materialize.readTable(spark, tBA).get.collect().toSet
    assert(a == b && a.size == 3)
  }

  test("snapshot pointer flips atomically; old snapshot remains until flip") {
    import spark.implicits._
    val table = freshDir() + "/t"
    Materialize.mergeSnapshot(spark, table, Seq(("a", 1L)).toDF("k", "v"), Seq("k"))
    val s0 = Materialize.currentManifest(table).flatMap(_.base).get
    Materialize.mergeSnapshot(spark, table, Seq(("b", 2L)).toDF("k", "v"), Seq("k"))
    val s1 = Materialize.currentManifest(table).flatMap(_.base).get
    assert(s0 != s1)
    // previous snapshot data still on disk (reader holding s0 is unaffected)
    assert(spark.read.parquet(s"$table/$s0").count() == 1)
    assert(spark.read.parquet(s"$table/$s1").count() == 2)
  }

  test("appendDelta writes O(batch) and merge-on-read equals full merge") {
    import spark.implicits._
    val table = freshDir() + "/t"
    Materialize.appendDelta(spark, table, Seq(("a", 1L), ("b", 2L)).toDF("k", "v"),
      Seq("k"), compactEvery = 0)
    Materialize.appendDelta(spark, table, Seq(("b", 2L), ("c", 3L)).toDF("k", "v"),
      Seq("k"), compactEvery = 0)
    val m = Materialize.currentManifest(table).get
    assert(m.base.isEmpty && m.deltas.size == 2) // no rewrite happened
    val read = Materialize.readTable(spark, table).get.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(read == Set(("a", 1L), ("b", 2L), ("c", 3L))) // dedup on read
  }

  test("auto-compaction folds deltas into a base and GC reclaims them") {
    import spark.implicits._
    val table = freshDir() + "/t"
    (1 to 4).foreach { i =>
      Materialize.appendDelta(spark, table,
        Seq((s"k$i", i.toLong), ("shared", 0L)).toDF("k", "v"),
        Seq("k"), compactEvery = 4)
    }
    val m = Materialize.currentManifest(table).get
    assert(m.base.nonEmpty && m.deltas.isEmpty) // compacted on the 4th append
    val read = Materialize.readTable(spark, table).get.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(read == Set(("k1", 1L), ("k2", 2L), ("k3", 3L), ("k4", 4L), ("shared", 0L)))
    // GC: referenced base + at most retain(2) snapshot dirs; deltas gone
    val names = new java.io.File(table).list().toSeq
    assert(!names.exists(_.startsWith("delta-")))
  }

  test("gc retains deltas newer than the oldest kept base (lazy readers survive compaction)") {
    import spark.implicits._
    val table = freshDir() + "/t"
    // base snapshot, then a delta
    Materialize.mergeSnapshot(spark, table, Seq(("a", 1L)).toDF("k", "v"), Seq("k"))
    Materialize.appendDelta(spark, table, Seq(("b", 2L)).toDF("k", "v"),
      Seq("k"), compactEvery = 0)
    // lazy reader planned against (base, delta) — NOT executed yet
    val lazyReader = Materialize.readTable(spark, table).get
    // a later append triggers compaction; the delta the lazy reader
    // references must survive gc (it is newer than the oldest retained base)
    Materialize.appendDelta(spark, table, Seq(("c", 3L)).toDF("k", "v"),
      Seq("k"), compactEvery = 2)
    assert(Materialize.currentManifest(table).get.deltas.isEmpty) // compacted
    val got = lazyReader.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("a", 1L), ("b", 2L))) // no FileNotFoundException
  }

  test("snapshot GC retains only the newest N bases") {
    import spark.implicits._
    val table = freshDir() + "/t"
    (1 to 5).foreach { i =>
      Materialize.mergeSnapshot(spark, table,
        Seq((s"k$i", i.toLong)).toDF("k", "v"), Seq("k"))
    }
    val snaps = new java.io.File(table).list().filter(_.startsWith("snap-")).toSeq
    assert(snaps.size == 2) // retain-2, older bases reclaimed
    assert(Materialize.readTable(spark, table).get.count() == 5)
  }

  test("appendRewrite: equality deletes + inserts under one flip, ordered semantics") {
    import spark.implicits._
    val table = freshDir() + "/t"
    Materialize.appendDelta(spark, table,
      Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v"),
      Seq("k", "v"), compactEvery = 0)
    // rewrite: delete (a,1) and (b,2), insert (a,10) and (d,4)
    Materialize.appendRewrite(spark, table,
      upserts = Seq(("a", 10L), ("d", 4L)).toDF("k", "v"),
      deleteKeys = Seq(("a", 1L), ("b", 2L)).toDF("k", "v"),
      key = Seq("k", "v"), compactEvery = 0)
    def read() = Materialize.readTable(spark, table).get.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(read() == Set(("a", 10L), ("c", 3L), ("d", 4L)))
    val m = Materialize.currentManifest(table).get
    assert(m.tombs.size == 1 && m.deltas.size == 2)

    // the pinned _SCHEMA (every field nullable: the non-nullable Long `v`
    // above was accepted): a write whose columns differ in name or type
    // throws before it reserves a dir or flips the manifest — read with the
    // pinned schema, a missing column would come back as silent nulls
    def entries(t: String = table) = {
      val st = Files.list(Paths.get(t))
      try st.iterator().asScala.map(_.getFileName.toString).toSet finally st.close()
    }
    val before = entries()
    val bad = Seq(
      () => Materialize.appendDelta(spark, table, Seq(("e", "5")).toDF("k", "v"),
        Seq("k", "v"), compactEvery = 0),
      () => Materialize.appendDelta(spark, table, Seq(("e", 5L, 1)).toDF("k", "v", "w"),
        Seq("k", "v"), compactEvery = 0),
      () => Materialize.appendDelta(spark, table, Seq("e").toDF("k"),
        Seq("k"), compactEvery = 0),
      () => Materialize.mergeSnapshot(spark, table, Seq(("e", 5)).toDF("k", "v"),
        Seq("k", "v")),
      () => Materialize.appendRewrite(spark, table,
        upserts = Seq(("e", 5L)).toDF("k", "v"),
        deleteKeys = Seq(("a", "10")).toDF("k", "v"), key = Seq("k", "v"),
        compactEvery = 0))
    bad.foreach(w => intercept[IllegalArgumentException](w()))
    assert(Materialize.currentManifest(table).get == m)
    assert(entries() == before)
    assert(read() == Set(("a", 10L), ("c", 3L), ("d", 4L)))

    // a first write that fails after the pin (here its upserts; the
    // tombstone write succeeds) flips nothing and leaves no live
    // reservation, so the next write pins its own, different columns
    val t2 = freshDir() + "/t"
    val boom = org.apache.spark.sql.functions.udf { (k: String) =>
      if (k == "x") throw new IllegalStateException("boom"); k }.asNondeterministic()
    intercept[org.apache.spark.SparkException](Materialize.appendRewrite(spark, t2,
      upserts = Seq(("x", 1L)).toDF("k", "v").select(boom($"k").as("k"), $"v"),
      deleteKeys = Seq(("y", 2L)).toDF("k", "v"), key = Seq("k", "v"), compactEvery = 0))
    assert(Files.exists(Paths.get(t2, "_SCHEMA")) && Materialize.currentManifest(t2).isEmpty)
    assert(!entries(t2).exists(_.startsWith(".pending-")))
    Materialize.appendRewrite(spark, t2, upserts = Seq(("x", "1")).toDF("k", "v"),
      deleteKeys = Seq(("y", "2")).toDF("k", "v"), key = Seq("k", "v"), compactEvery = 0)
    assert(Materialize.readTable(spark, t2).get.collect()
      .map(r => (r.getString(0), r.getString(1))).toSet == Set(("x", "1")))
    intercept[IllegalArgumentException](Materialize.appendDelta(spark, t2,
      Seq(("z", 3L)).toDF("k", "v"), Seq("k", "v"), compactEvery = 0))

    // every writer shares that failure path: a write that throws inside its
    // Spark job leaves _CURRENT as it was and no pending marker, and the
    // next write succeeds
    val t3 = freshDir() + "/t"
    Materialize.mergeSnapshot(spark, t3, Seq(("a", 1L)).toDF("k", "v"), Seq("k", "v"))
    Materialize.appendDelta(spark, t3, Seq(("b", 2L)).toDF("k", "v"),
      Seq("k", "v"), compactEvery = 0)
    val failing = Seq(("x", 9L)).toDF("k", "v").select(boom($"k").as("k"), $"v")
    def failsCleanly(write: => Unit): Unit = {
      val current = Files.readString(Paths.get(t3, "_CURRENT"))
      intercept[org.apache.spark.SparkException](write)
      assert(Files.readString(Paths.get(t3, "_CURRENT")) == current)
      assert(!entries(t3).exists(_.startsWith(".pending-")))
    }
    failsCleanly(Materialize.mergeSnapshot(spark, t3, failing, Seq("k", "v")))
    Materialize.mergeSnapshot(spark, t3, Seq(("c", 3L)).toDF("k", "v"), Seq("k", "v"))
    failsCleanly(Materialize.appendDelta(spark, t3, failing, Seq("k", "v"), compactEvery = 0))
    Materialize.appendDelta(spark, t3, Seq(("d", 4L)).toDF("k", "v"),
      Seq("k", "v"), compactEvery = 0)
    failsCleanly(Materialize.appendRewrite(spark, t3, upserts = failing,
      deleteKeys = Seq(("a", 1L)).toDF("k", "v"), key = Seq("k", "v"), compactEvery = 0))
    Materialize.appendRewrite(spark, t3, upserts = Seq(("e", 5L)).toDF("k", "v"),
      deleteKeys = Seq(("a", 1L)).toDF("k", "v"), key = Seq("k", "v"), compactEvery = 0)
    // compaction reads the live dirs: an unreadable delta part file fails its
    // job; once the file is restored the next compaction succeeds
    val delta = Materialize.currentManifest(t3).get.deltas.head
    val parts = entries(s"$t3/$delta").filter(_.endsWith(".parquet"))
      .map(n => Paths.get(t3, delta, n)).toSeq
    val saved = parts.map(Files.readAllBytes)
    parts.foreach(Files.write(_, "not parquet".getBytes))
    failsCleanly(Materialize.compact(spark, t3))
    parts.zip(saved).foreach { case (p, b) => Files.write(p, b) }
    Materialize.compact(spark, t3)
    val compacted = Materialize.currentManifest(t3).get
    assert(compacted.base.nonEmpty && compacted.deltas.isEmpty && compacted.tombs.isEmpty)
    assert(Materialize.readTable(spark, t3).get.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("b", 2L), ("c", 3L), ("d", 4L), ("e", 5L)))

    // Iceberg sequence-number rule: a LATER re-insert of a deleted key
    // resurrects it (re-delivered pre-rewrite rows are not lost — the next
    // resolver pass re-merges them)
    Materialize.appendDelta(spark, table, Seq(("b", 2L)).toDF("k", "v"),
      Seq("k", "v"), compactEvery = 0)
    assert(read() == Set(("a", 10L), ("b", 2L), ("c", 3L), ("d", 4L)))

    // a table written before schemas were pinned (no _SCHEMA) reads through
    // parquet inference, tombstones included, and later writes do not pin
    Files.delete(Paths.get(table, "_SCHEMA"))
    assert(read() == Set(("a", 10L), ("b", 2L), ("c", 3L), ("d", 4L)))

    // compaction folds tombstones away; the visible rows are unchanged
    Materialize.compact(spark, table)
    assert(!Files.exists(Paths.get(table, "_SCHEMA")))
    val mc = Materialize.currentManifest(table).get
    assert(mc.base.nonEmpty && mc.deltas.isEmpty && mc.tombs.isEmpty)
    assert(read() == Set(("a", 10L), ("b", 2L), ("c", 3L), ("d", 4L)))
  }

  test("concurrent appendDelta writers lose no delta (exclusive ids + manifest lock)") {
    import spark.implicits._
    val table = freshDir() + "/t"
    // 24 appends to ONE table, 12 in flight: before the r5 guard, the
    // list-and-increment id mint could clobber a data dir and the unlocked
    // manifest read-modify-write could drop a sibling's delta from _CURRENT;
    // while writes used SaveMode.Overwrite, deleting the reserved dir let a
    // concurrent reservation re-mint its id (two writers, one dir). That
    // window is too short to hit reliably, so the test also watches for it:
    // no reserved dir may be deleted while the appends run.
    Files.createDirectories(Paths.get(table))
    val watch = java.nio.file.FileSystems.getDefault.newWatchService()
    Paths.get(table).register(watch, java.nio.file.StandardWatchEventKinds.ENTRY_DELETE)
    val n = 24
    val pool = java.util.concurrent.Executors.newFixedThreadPool(12)
    try {
      val fs = (0 until n).map(i => pool.submit(new Runnable {
        def run(): Unit = Materialize.appendDelta(spark, table,
          Seq((s"k$i", i.toLong)).toDF("k", "v"), Seq("k"), compactEvery = 0)
      }))
      fs.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val deleted = Iterator.continually(watch.poll(1, java.util.concurrent.TimeUnit.SECONDS))
      .takeWhile(_ != null).flatMap { k =>
        val names = k.pollEvents().asScala.map(_.context.toString).toList
        k.reset()
        names
      }.filter(_.startsWith("delta-")).toList
    watch.close()
    assert(deleted.isEmpty, deleted)
    val got = Materialize.readTable(spark, table).get.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == (0 until n).map(i => (s"k$i", i.toLong)).toSet)
    val m = Materialize.currentManifest(table).get
    assert(m.deltas.size == n && m.deltas.distinct.size == n)
    // every delta dir holds exactly its own writer's row
    assert(m.deltas.map(d => spark.read.parquet(s"$table/$d").count()).forall(_ == 1L))
    // lock file released
    assert(!Files.exists(Paths.get(table, "_LOCK")))
  }

  test("concurrent appendDelta with auto-compaction converges to the full row set") {
    import spark.implicits._
    val table = freshDir() + "/t"
    val threads = (0 until 6).map { i =>
      new Thread(() => Materialize.appendDelta(spark, table,
        Seq((s"c$i", i.toLong)).toDF("k", "v"), Seq("k"), compactEvery = 2))
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    Materialize.compact(spark, table)
    val got = Materialize.readTable(spark, table).get.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == (0 until 6).map(i => (s"c$i", i.toLong)).toSet)
  }

  test("mixed appendDelta + mergeSnapshot keeps one consistent table") {
    import spark.implicits._
    val table = freshDir() + "/t"
    Materialize.appendDelta(spark, table, Seq(("a", 1L)).toDF("k", "v"),
      Seq("k"), compactEvery = 0)
    Materialize.mergeSnapshot(spark, table, Seq(("b", 2L)).toDF("k", "v"), Seq("k"))
    val m = Materialize.currentManifest(table).get
    assert(m.deltas.isEmpty) // rewrite folded the delta in
    assert(Materialize.readTable(spark, table).get.count() == 2)
  }
}
