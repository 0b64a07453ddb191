package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Large-scale rehearsal of the in-stream delta resolver (megamind's
  * watch-triggered Disjoint Resolver loop): stream a multi-batch corpus with
  * PLANTED CROSS-BATCH merges through `StreamingIngest(resolveEvery = 1)`
  * and report the per-trigger resolver cost from `_metrics` as the
  * accumulated table grows — the evidence for the O(delta) claim is the
  * per-trigger `touched` staying ~constant (one batch's new entities) and
  * `elapsed_ms` staying ~flat while `total` grows linearly; a full
  * rediscovery pass over the final table is timed last for contrast.
  *
  * Corpus: each batch b introduces `P` fresh persons (hash-random 3-word
  * names — diverse trigrams, so discovery blocks cleanly; intended " jr"
  * alias jaccard ≈ 0.857 vs ~0 unintended) plus " jr" aliases of batch
  * b-1's persons — so EVERY trigger discovers merges that span the batch
  * boundary and must rewrite previously-materialized rows.
  *
  * Usage: scripts/run.sh ResolverBench [nBatches] [convsPerBatch] [cores]
  * (defaults 10 × 340000 × 16 ≈ 10.2M turns).
  */
object ResolverBench {

  def main(args: Array[String]): Unit = {
    val nBatches = args.lift(0).map(_.toInt).getOrElse(10)
    val convsPerBatch = args.lift(1).map(_.toInt).getOrElse(340000)
    val cores = args.lift(2).map(_.toInt).getOrElse(16)
    // half the convs' worth of distinct persons per batch, and NOT a
    // multiple of 3: residue r is hit by conv ids r and r+P, which then
    // differ mod 3, so at least one is a non-alias conv — every person's
    // BASE name is guaranteed introduced (an alias with no base partner
    // would make the planted merge undiscoverable by construction)
    val personsPerBatch = {
      val p = convsPerBatch / 2
      if (p % 3 == 0) p - 1 else p
    }

    val spark = Sessions.local(cores).spark

    val base = Files.createTempDirectory("graft-resolver-bench").toString
    val inDir = s"$base/in"
    Files.createDirectories(Paths.get(inDir))

    // Person names are 3 hash-random 6-letter words (splitmix64 streams):
    // diverse trigrams like real names, so alias discovery blocks cleanly.
    // Two designs were REJECTED after measurement: digit-word encodings
    // (kg_resolve's) put 500k keys over a ~500-trigram vocabulary — the
    // uniform-df corpus that degenerates prefix filtering (candidate join
    // ~1e9 rows at 100k keys; see BENCH/BASELINE.md r3 notes) — and the
    // exact PPJoin resolver config for the same reason; the rehearsal uses
    // the MinHash/LSH resolver path, which is the documented corpus-scale
    // default. Intended " jr" alias jaccard = 18 shared of 21 trigrams
    // ≈ 0.857 > 0.8 threshold; unintended overlap ~0 (random words).
    def nameOf(pid: Long): String = {
      def mix(x0: Long): Long = {
        var x = x0 + 0x9E3779B97F4A7C15L
        x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
        x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
        x ^ (x >>> 31)
      }
      (1 to 3).map { n =>
        val h = mix(pid * 4 + n)
        (0 until 6).map(k => ('a' + ((h >>> (k * 5)) & 31) % 26).toChar).mkString
      }.mkString(" ")
    }
    val nations = Array("france", "japan", "brazil", "kenya", "canada")

    println(s"[resolver-bench] generating $nBatches batches x $convsPerBatch convs " +
      s"(3 turns each, $personsPerBatch new persons/batch) under $inDir")
    val genT0 = System.nanoTime()
    import spark.implicits._
    (0 until nBatches).foreach { b =>
      val ppb = personsPerBatch
      spark.range(convsPerBatch.toLong).mapPartitions { it =>
        val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
        it.flatMap { id =>
          // 1/3 of convs alias a PREVIOUS batch's person with " jr" (batch 0
          // aliases itself); the rest introduce/repeat this batch's persons.
          // Alias ids map via id/3 so the aliased residues are NOT the
          // id%3==0 slice of residues (which would never get a base form)
          val isAlias = id % 3 == 0
          val pid =
            if (isAlias) math.max(b - 1, 0).toLong * ppb + (id / 3) % ppb
            else b.toLong * ppb + id % ppb
          val name = nameOf(pid)
          val surface = if (isAlias) name + " jr" else name
          val conv = s"rb-$b-$id"
          Seq(
            (conv, 0, "user", s"My name is $surface.", "",
              new java.sql.Timestamp(t0)),
            (conv, 1, "user", s"$surface lives in ${nations((pid % 5).toInt)}.", "",
              new java.sql.Timestamp(t0 + 1000)),
            (conv, 2, "user", s"$surface is ${pid % 60 + 18} years old.", "",
              new java.sql.Timestamp(t0 + 2000)))
        }
      }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
        // ONE file per batch: maxFilesPerTrigger=1 then replays exactly this
        // batch structure as the stream's micro-batch sequence. The part
        // file is MOVED up into inDir (the file stream source lists files
        // directly under its path — it does not recurse into write dirs).
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$base/stage-$b")
      val part = {
        val st = Files.list(Paths.get(s"$base/stage-$b"))
        try st.toArray.map(_.asInstanceOf[java.nio.file.Path])
          .find(_.getFileName.toString.endsWith(".parquet")).get
        finally st.close()
      }
      Files.move(part, Paths.get(inDir, f"batch-$b%03d.parquet"))
      // drop the emptied stage dir (just marker files remain)
      kg.Materialize.deleteDirRecursive(Paths.get(s"$base/stage-$b"))
    }
    println(f"[resolver-bench] generated in ${(System.nanoTime() - genT0) / 1e9}%.1f s")

    // MinHash/LSH discovery (the corpus-scale default path) + exact jaccard
    // verify at 0.8: intended alias pairs sit at ≈0.857 (LSH collision
    // probability ≥ 0.998 at 32/8 banding), unintended pairs near 0
    val resolveCfg = graft.kg.Link.Config(fuzzy = true,
      jaccardThreshold = 0.8, fuzzyTypes = Seq("Person"))
    val outDir = s"$base/out"
    val t0 = System.nanoTime()
    val q = graft.streaming.StreamingIngest.start(spark, inDir, outDir,
      s"$base/ck", graft.kg.Pipeline.emptyDict(spark),
      graft.kg.Link.Config(fuzzy = false),
      resolveEvery = 1, resolveCfg = resolveCfg, maxFilesPerTrigger = Some(1))
    q.awaitTermination(3600000)
    q.exception.foreach { e =>
      System.err.println(s"[resolver-bench] STREAM FAILED: ${e.getMessage}")
      throw e
    }
    val streamSecs = (System.nanoTime() - t0) / 1e9
    println(f"[resolver-bench] stream drained in $streamSecs%.1f s")

    // per-trigger resolver metrics, in append order (file names embed millis)
    val metricFiles = {
      val st = Files.list(Paths.get(s"$outDir/_metrics"))
      try st.toArray.map(_.toString).filter(_.endsWith(".json")).sorted.toSeq
      finally st.close()
    }
    println("trigger | touched | total | rewritten | scan_ms | discover_ms | rewrite_ms | watermark_ms | elapsed_ms")
    var trigger = 0
    metricFiles.foreach { f =>
      val lines = Files.readAllLines(Paths.get(f))
      val kv = new scala.collection.mutable.HashMap[String, Long]()
      lines.forEach { l =>
        if (l.contains("\"stage\":\"resolve\"")) {
          val m = """"metric":"([a-z_]+)","value":(-?\d+)""".r
          m.findAllMatchIn(l).foreach(x => kv(x.group(1)) = x.group(2).toLong)
        }
      }
      if (kv.nonEmpty) {
        trigger += 1
        println(s"$trigger | ${kv.getOrElse("touched_entities", -1L)} | " +
          s"${kv.getOrElse("total_entities", -1L)} | " +
          s"${kv.getOrElse("rewritten_entities", 0L)} | " +
          s"${kv.getOrElse("scan_ms", -1L)} | " +
          s"${kv.getOrElse("discover_ms", -1L)} | " +
          s"${kv.getOrElse("rewrite_ms", -1L)} | " +
          s"${kv.getOrElse("watermark_ms", -1L)} | " +
          s"${kv.getOrElse("elapsed_ms", -1L)}")
      }
    }

    // contrast: one FULL rediscovery over the final accumulated table
    val tf = System.nanoTime()
    val full = graft.kg.Incremental.resolveDisjoint(spark, outDir, resolveCfg,
      fullRediscovery = true)
    println(f"[resolver-bench] full rediscovery over total=${full.total}: " +
      f"${(System.nanoTime() - tf) / 1e9}%.1f s (touched=${full.touched})")

    val nodes = graft.kg.Materialize.readTable(spark, s"$outDir/nodes").get
    val persons = nodes.filter(col("entity_type") === "Person").count()
    val jr = nodes.filter(col("entity_type") === "Person" &&
      col("name").endsWith(" jr")).count()
    println(s"[resolver-bench] final Person nodes=$persons (jr remnants=$jr — " +
      "0 means every alias merged)")
    spark.stop()
  }
}
