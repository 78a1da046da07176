package graft.tools

import org.apache.spark.sql.functions._

/** The 10× scale rehearsal as a REPEATABLE gate (r13 next-round #6):
  * builds the factor-N ladder slice if absent (via [[ScaleLadder]],
  * copying the non-scaled tables from the source sf dir so warm-ups
  * find them), runs the ceiling set best-of-three each, and emits one
  * JSON artifact a future round can diff against this one's.
  *
  *   runMain graft.tools.ScaleGate /root/testdata/sf0.1 /tmp/sf1x10 10 SCALE_r14.json
  *   runMain graft.tools.ScaleGate /root/testdata/sf0.1 /tmp/sf1x100 100 SCALE_100x.json s32_chunk_retrieval_lsh,d33_substring_cut_keep1
  *
  * The default key list is the r13 rehearsal's ceiling set plus the
  * rungs added since (s35/s38/t47/m12) — d16's full pair-quadratic
  * audit is deliberately NOT in it (d16s is the sampled scale path;
  * VERDICT r13 says keep the audit out of any scale gate). Timing
  * convention matches Bench: noop sink (count() lets Catalyst prune
  * the query away), first-run failure is terminal for that key,
  * best-of-three on success, cpu calib probes bracket the run so a
  * hot box reads as environment, not regression.
  */
object ScaleGate {

  /** r13 NOTES table keys (minus d16) + the executed rungs added since.
    * The bitext EXECUTED rungs gate too — embeddings scale in the
    * ladder; s39's exact cross stays out, the d16 audit rule; the
    * saturating 8-bit rungs gate through their SAMPLED forms
    * (s40s/s41s — see [[FullCostSet]] for the once-per-round full
    * rows). g01/g03 joined in r15 once the ladder grew an events slice
    * (their corpus-sized input — the edge/digest aggregate — now
    * genuinely scales; the node set is fixture-capped, which the
    * graph-growth measurement covers: NOTES.md, round 15, "Graph growth measured"). The incremental-ingest dedup family
    * (d17/d18/d20/d24) joined in r16 — the operators a 100 TB ingest
    * runs continuously were the last LLM-pipeline family with no scale
    * rows (r15 VERDICT #2). */
  val CeilingSet: Seq[String] = Seq(
    "t44_bpe_train_deep", "t37_fourgram_xent", "m09_visual_clusters",
    "m11_audio_clusters", "m12_audio_dup_histogram",
    "s31_chunk_multiprobe2", "s32_chunk_retrieval_lsh",
    "s33_chunk_multiprobe_topk", "s34_chunk_band_recall",
    "s35_chunk_band_topk", "s38_chunk_band_topk_wide",
    "s40s_bitext_banded_sampled", "s41s_bitext_forward_sampled",
    "s42_bitext_banded_wide", "s43_bitext_forward_wide",
    "g01_host_rank", "g03_mirror_sources",
    "d17_incremental_dedup", "d18_incremental_neardup",
    "d20_ingest_triage", "d24_bloom_dedup",
    "d32_winnow_match_slices", "d33_substring_cut_keep1",
    "t45_bpe_apply_heldout", "t46_bpe_apply_blocked",
    "t47_decontaminate_cut")

  /** The saturating-dial audit rungs at FULL cost — 110–166 s each at
    * 100× BY DESIGN (their candidate mass is the dial cost being
    * audited). Out of [[CeilingSet]] so the per-session gate stays
    * affordable (the s40s/s41s sampled forms carry the daily signal);
    * run these explicitly ONCE per round for the record:
    *   runMain graft.tools.ScaleGate <src> <ladder> 100 SCALE_100x_full.json s40_bitext_banded,s41_bitext_forward
    */
  val FullCostSet: Seq[String] =
    Seq("s40_bitext_banded", "s41_bitext_forward")

  /** The 100× default: [[CeilingSet]] MINUS the narrow-dial chunk rungs
    * (s31 multiprobe, s34 4-bit recall, s35 4-bit topk). Those are
    * quarantined to the 10× gate BY DESIGN — their candidate mass at a
    * dup-dense 100× corpus is the saturation the wide rungs
    * (s38/s42/s43) exist to avoid, and an r17 run of the full default
    * at 100× measured it the hard way: s31 at 485–631 s and s34
    * OOM-ing the heap mid-gate (the executor died, every later key
    * failed on the stopped SparkContext). Used automatically when
    * factor ≥ 100 and no explicit key list is given.
    */
  val Ceiling100xSet: Seq[String] =
    CeilingSet.filterNot(Set("s31_chunk_multiprobe2",
      "s34_chunk_band_recall", "s35_chunk_band_topk"))

  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: ScaleGate <srcSfDir> <ladderDir> <factor> <outJson> [key,key,...]")
    val Array(srcDir, ladderDir, factorS, outJson) = args.take(4)
    val factor = factorS.toInt
    val keys =
      if (args.length > 4) args(4).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else if (factor >= 100) {
        println("[scale-gate] factor >= 100 with no key list: using " +
          "Ceiling100xSet (narrow-dial chunk rungs are 10x-quarantined)")
        Ceiling100xSet
      } else CeilingSet
    val unknown = keys.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.jobs.JobSession.local("graft-scale-gate", s"local[$cpus]")
    spark.sparkContext.setLogLevel("ERROR")

    // build-if-absent: documents+embeddings scaled, everything else
    // copied verbatim (not under test at N×, but warm-ups read them)
    val ladder = java.nio.file.Paths.get(ladderDir)
    if (!java.nio.file.Files.exists(ladder.resolve("documents.parquet"))) {
      println(s"[scale-gate] building ${factor}x slice at $ladderDir ...")
      ScaleLadder.build(spark, srcDir, ladderDir, factor, cpus.toInt)
      val src = java.nio.file.Paths.get(srcDir)
      val scaledTables =
        Set("documents.parquet", "embeddings.parquet", "events.parquet")
      // driver testdata tables are single parquet FILES, not dirs —
      // copy both forms (the isDirectory-only guard silently skipped
      // every table, found when g01's events read failed at 10×)
      java.nio.file.Files.list(src).forEach { p =>
        val name = p.getFileName.toString
        if (!scaledTables(name)) {
          val dst = ladder.resolve(name)
          if (!java.nio.file.Files.exists(dst)) {
            if (java.nio.file.Files.isDirectory(p)) {
              java.nio.file.Files.walk(p).forEach { q =>
                val t = dst.resolve(p.relativize(q))
                if (java.nio.file.Files.isDirectory(q))
                  java.nio.file.Files.createDirectories(t)
                else java.nio.file.Files.copy(q, t)
              }
            } else java.nio.file.Files.copy(p, dst)
          }
        }
      }
    }

    def timed(f: () => Unit): Double = {
      val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
    }
    def calibCpu(): Double = timed(() =>
      spark.range(0, 200L << 20, 1, cpus.toInt)
        .select(sum(pmod(xxhash64(col("id")), lit(65536L))))
        .write.format("noop").mode("overwrite").save())
    def r3(d: Double): String = f"$d%.3f"

    // Deterministic release of leftover pinned blocks between runs: the
    // decode-once/lineage pins (localCheckpoint) inside queries become
    // garbage the moment a run's noop sink completes, but they are
    // freed only when driver GC collects the DataFrame refs AND the
    // async ContextCleaner drains — under repeated big runs the lag
    // OOM'd the r16 full-set 100× gate on m12's SECOND run (the first
    // passed; two runs' worth of 4M-row pins + execution memory did
    // not fit). Between runs nothing persisted can be live — the gate
    // materializes everything through the sink — so unpersisting all
    // registered RDDs is exact, not heuristic.
    def releasePins(): Unit = {
      spark.sparkContext.getPersistentRDDs.valuesIterator
        .foreach(_.unpersist(blocking = true))
    }
    val calibStart = Seq.fill(3)(calibCpu())
    val results = keys.map { name =>
      val fn = graft.SparkEntry.queries(name)
      def once(): Double =
        try {
          timed(() =>
            fn(spark, ladderDir).write.format("noop").mode("overwrite").save())
        } catch { case e: Throwable =>
          System.err.println(s"[scale-gate] $name failed: ${e.getMessage}")
          e.printStackTrace()
          -1.0
        } finally {
          // outside the timing, comparable with r14/r15 rows. In a
          // finally so a FAILED run's already-materialized pins drop
          // too — on the success-only path they leaked into the next
          // runs/keys, the exact accumulated-pins OOM mode of the r16
          // aborted full-set gate (r16 ADVICE).
          releasePins()
        }
      val first = once()
      val runs = if (first < 0) Seq(first) else first +: Seq.fill(2)(once())
      val ok = runs.filter(_ >= 0)
      val best = if (ok.isEmpty) -1.0 else ok.min
      println(s"[scale-gate] $name best=${r3(best)} runs=${runs.map(r3).mkString(",")}")
      (name, best, runs)
    }
    val calibEnd = calibCpu()
    val json = {
      val qs = results.map { case (n, best, runs) =>
        s""""$n":{"best":${r3(best)},"runs":[${runs.map(r3).mkString(",")}]}"""
      }.mkString(",")
      s"""{"src":"$srcDir","ladder":"$ladderDir","factor":$factor,""" +
        s""""calib_cpu":[${calibStart.map(r3).mkString(",")}],""" +
        s""""calib_cpu_end":${r3(calibEnd)},""" +
        s""""failed":[${results.filter(_._2 < 0).map(r => "\"" + r._1 + "\"").mkString(",")}],""" +
        s""""queries":{$qs}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json + "\n")
    println(s"[scale-gate] wrote $outJson")
    spark.stop()
  }
}
