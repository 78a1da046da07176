package graft

/** Benchmark main: runs every registered query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line with per-query wall seconds.
  *
  * Session/table warmup happens before any timing so the first measured
  * query doesn't absorb JVM/codegen/file-cache startup; queries run in
  * sorted name order for run-to-run comparability.
  *
  * Output protocol (round-critical, spec-pinned in BenchLineSpec): the
  * driver captures only the last ~2.9 KB of combined output and
  * line-parses it for bare JSON, so the line must (a) be the LAST line
  * printed — Spark is stopped and quieted first, sbt's logger prefix and
  * success banner are disabled in build.sbt — and (b) stay well under the
  * capture window: per-query keys are abbreviated (id prefix + word
  * initials, collisions fall back to the full name) at 3 dp. The
  * full-name line is written to BENCH_FULL.json for the permanent record.
  */
object Bench {

  /** 3-dp rendering; failures are the sentinel -1. */
  private[graft] def r3(v: Double): String =
    if (v < 0) "-1"
    else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** RELATIVE-precision per-query rendering: 3dp below 0.1 s, 2dp from
    * 0.1 to 10 s, whole seconds at and above — the line-budget ladder
    * (the keys are already at their floor: registry prefixes are
    * unique). Run-to-run noise grows with the value (calib evidence:
    * tens of ms on sub-second queries, seconds on ten-second ones), so
    * each dropped digit carries no comparison signal at its tier;
    * totals/medians keep full r3, and BENCH_FULL.json records every
    * query at full r3. r18 (VERDICT item 2, the r16 truncated-line
    * lesson): the sub-second tier moved from 3dp to 2dp because the
    * sub-second BULK of the registry is what actually bounds the line
    * ("0.868" × ~160 queries — one byte per query, ~1/16 of the whole
    * ~2.9 KB capture window — where ten-millisecond digits are pure
    * noise), with 3dp kept below 0.1 s so short queries retain two
    * significant digits. */
  private[graft] def rq(v: Double): String =
    if (v < 0) "-1"
    else {
      // branch on the ROUNDED value: v in [9.9995, 10) would otherwise
      // render "10.000" — a 10-second value with 3dp, flapping against
      // "10" across runs at the boundary. Same hazard one tier down:
      // v in [0.0995, 0.1) passes the 3dp tier check (r < 0.1 fails —
      // 3dp rounds it to 0.100, INTO the 2dp tier) and v in
      // [9.995, 9.9995) passes the 2dp tier check (r < 10) but its 2dp
      // rendering is "10.00" — so RE-CHECK the tier after each round
      // and fall through when it crossed. Display digits always round
      // the RAW value (no double-rounding: 1.23456 must stay "1.23",
      // not 3dp→1.235→2dp→"1.24").
      val r = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
      if (r >= 10)
        BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toString
      else if (r >= 0.1) {
        val r2 = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        if (r2 >= 10)
          BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toString
        else r2.toString
      } else r.toString
    }

  /** Abbreviated key per query name: id prefix + word initials
    * (`a04_counter_map` → `a04cm`); names whose abbreviation collides
    * keep their full name so keys stay unique.
    */
  private[graft] def shortKeys(names: Seq[String]): Map[String, String] = {
    // shortest-first ladder: the registry prefix token alone (q01, d16s —
    // unique for almost every query), then prefix+word-initials for the
    // few prefix collisions (a04cm), then the full name. The line budget
    // is real: the driver tail-captures ~2.9 KB, and at 150+ queries
    // every byte per key is ~0.15 KB of margin.
    def dedup(cands: Map[String, String], fallback: Map[String, String] => Map[String, String])
        : Map[String, String] = {
      val counts = cands.values.groupBy(identity).view.mapValues(_.size)
      val collided = cands.filter { case (_, s) => counts(s) > 1 }
      if (collided.isEmpty) cands
      else cands ++ fallback(collided)
    }
    val prefix = names.map(k => k -> k.split('_').head).toMap
    dedup(prefix, collided => {
      val initials = collided.keys.map { k =>
        val parts = k.split('_')
        k -> (parts.head + parts.tail.map(_.head).mkString)
      }.toMap
      dedup(initials, c2 => c2.keys.map(k => k -> k).toMap)
    })
  }

  /** Per-query measurement policy: a FIRST-run failure is terminal
    * ((-1, -1, not-flaky) — never retried into a success, so the bench
    * can't mask a broken query as a fast one); a successful first run
    * takes best-of-three against ambient scheduler/page-cache noise, and
    * a retry failure AFTER a successful first run reports (best success,
    * flaky). The MEDIAN of the successful runs rides along (upper-median
    * when only two succeeded): round-over-round comparison should read
    * medians — best-of hides uniform environmental inflation, the r5
    * adjudication lesson.
    */
  private[graft] def measure(once: () => Double): (Double, Double, Boolean) = {
    val first = once()
    if (first < 0) (-1.0, -1.0, false)
    else {
      val retries = Seq(once(), once())
      val ok = (first +: retries.filter(_ >= 0)).sorted
      (ok.min, ok(ok.size / 2), retries.exists(_ < 0))
    }
  }

  /** The one-line JSON protocol record. `results` in report order;
    * failed queries carry a negative time and are excluded from the
    * total. `key` maps a query name to its printed key. `extras` are
    * pre-rendered JSON fields appended verbatim (environment audit block,
    * calibration times, median totals) so the artifact explains its own
    * run-to-run variance.
    */
  private[graft] def renderLine(results: Seq[(String, Double)],
      flaky: Seq[String], sfDir: String,
      key: String => String,
      extras: Seq[(String, String)] = Nil): String = {
    val qs = results
      .map { case (k, v) => "\"" + key(k) + "\":" + rq(v) }
      .mkString("{", ",", "}")
    val failed = results.filter(_._2 < 0).map("\"" + _._1 + "\"")
      .mkString("[", ",", "]")
    val flakyJson = flaky.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    val extraJson = extras.map { case (k, v) => s""","$k":$v""" }.mkString
    s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"failed":$failed,"flaky":$flakyJson,"sf":"$sfDir"$extraJson}"""
  }

  /** Environment snapshot for the audit block: MemAvailable/Cached (MB)
    * from /proc/meminfo + system uptime (s) — the page-cache state that
    * drove the r5 bench variance — plus the EFFECTIVE-CPU telemetry the
    * r17 adjudication lacked (a ~15-query cluster read 2–15× slower at
    * local[32] than local[8] in one environment and nothing in the
    * artifact could say whether 32 usable cores actually existed):
    * `procs` = what the JVM (and so `local[$SPARK_GRAFT_CPUS]`'s task
    * threads) can actually use after cgroup/cpuset limits, `quota_pct` =
    * the cgroup CPU bandwidth cap in percent (v2 cpu.max or v1
    * cfs_quota/cfs_period; -1 = unlimited/unreadable), `load1_x100` =
    * 1-minute loadavg ×100 — competing load at snapshot time. Readable
    * from the artifact instead of re-measured out-of-band. Best-effort:
    * -1 when unreadable.
    */
  private[graft] def envSnapshot(): Seq[(String, Long)] = {
    def readAll(path: String): Seq[String] =
      try {
        val src = scala.io.Source.fromFile(path)
        try src.getLines().toList finally src.close()
      } catch { case _: Throwable => Nil }
    val meminfo = readAll("/proc/meminfo")
    def mb(k: String): Long = meminfo.find(_.startsWith(k + ":"))
      .map(_.split("\\s+")(1).toLong / 1024).getOrElse(-1L)
    val uptime =
      try readAll("/proc/uptime").headOption
        .map(_.split("\\s+")(0).toDouble.toLong).getOrElse(-1L)
      catch { case _: Throwable => -1L }
    val quotaPct = {
      // cgroup v2 ("max 100000" | "<quota_us> <period_us>") first, then v1
      val v2 = readAll("/sys/fs/cgroup/cpu.max").headOption.flatMap { l =>
        l.split("\\s+") match {
          case Array("max", _) => Some(-1L)
          case Array(q, p) => try Some(q.toLong * 100 / p.toLong)
            catch { case _: Throwable => None }
          case _ => None
        }
      }
      def v1Num(p: String) = readAll(p).headOption.flatMap(s =>
        try Some(s.trim.toLong) catch { case _: Throwable => None })
      v2.orElse(for {
        q <- v1Num("/sys/fs/cgroup/cpu/cpu.cfs_quota_us")
        p <- v1Num("/sys/fs/cgroup/cpu/cpu.cfs_period_us")
      } yield if (q < 0) -1L else q * 100 / p).getOrElse(-1L)
    }
    val load1 =
      try readAll("/proc/loadavg").headOption
        .map(l => (l.split("\\s+")(0).toDouble * 100).toLong).getOrElse(-1L)
      catch { case _: Throwable => -1L }
    Seq("mem_avail_mb" -> mb("MemAvailable"),
      "cached_mb" -> mb("Cached"),
      "uptime_s" -> uptime,
      "procs" -> Runtime.getRuntime.availableProcessors().toLong,
      "quota_pct" -> quotaPct,
      "load1_x100" -> load1)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.jobs.JobSession.local("graft-bench", s"local[$cpus]")

    // Environment audit, part 1: memory/page-cache state BEFORE warmup —
    // the r5 variance adjudication needed exactly this, out-of-band.
    val envStart = envSnapshot()

    // Warmup: touch every table (file-footer + page cache), force one
    // codegen'd aggregate through the whole stack.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      Tables.table(spark, sfDir, t).count()
    }
    Tables.events(spark, sfDir).count()

    // Codec JIT warm-up: the m-family's hot loops (BMP/WAV/Y4M parse +
    // per-clip folds) are plain-JVM byte loops that need more
    // invocations than best-of-three to reach C2 on a cold JVM — the
    // r10 driver-vs-local gap (m05 1.92 s driver vs 0.28 s local on
    // identical code) was exactly this. Three passes of each decode
    // family over a small fixed clip slice (all three containers via
    // id % 3) compile the loops BEFORE any timed query.
    {
      import org.apache.spark.sql.functions.col
      // maxDocId pre-filters BEFORE the typed map (a media_id filter
      // can't push through .map — at a 100× rehearsal scale the warm-up
      // was decoding the whole corpus to keep 150 rows)
      val clips = graft.operators.Multimodal
        .mediaFromDocuments(spark, sfDir, maxDocId = Some(150L))
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      (1 to 3).foreach { _ =>
        val meta = graft.operators.Multimodal.extractMeta(clips).toDF()
        noop(meta)
        noop(graft.operators.Multimodal.audioProfile(clips, 100).toDF())
        noop(graft.operators.Multimodal.motionProfile(clips, 7).toDF())
        noop(graft.operators.Multimodal.imageHash(clips).toDF())
        noop(graft.operators.Multimodal.audioFullBits(clips, 5).toDF())
        // m02/m03's post-decode consumers (sequence explode, resize
        // projection): the r11 driver bench read m01–m03 5× over their
        // solo numbers while every warmed m-query stayed flat — these
        // two were the only m-family entry points the loop skipped, so
        // their first timed execution still paid generator/projection
        // JIT. Warm them like the decode loops.
        noop(graft.operators.Multimodal.sampleFrames(meta, 5))
        noop(graft.operators.Multimodal.resizePlan(
          meta.filter(col("kind") === "image"), 224))
      }
    }

    // Environment audit, part 2: two fixed calibration probes, independent
    // of the registry, so any round-over-round inflation can be classified
    // from the artifact alone — a CPU/scheduler probe (fixed-size hash
    // aggregate over range()) and an IO probe (re-scan of the corpus's
    // widest string column). Three runs each before the query loop, one
    // each after: near-uniform probe inflation ⇒ environment, flat probes
    // with slow queries ⇒ plan regression.
    import org.apache.spark.sql.functions.{col, length, lit, pmod, sum, xxhash64}
    def timed(run: () => Unit): Double = {
      val t0 = System.nanoTime()
      run()
      (System.nanoTime() - t0) / 1e9
    }
    // pmod bounds each addend (5e7 × 2^16 ≪ Long.Max): a raw xxhash64 sum
    // overflows under ANSI arithmetic
    def calibCpu(): Double = timed(() =>
      spark.range(0L, 50000000L, 1L, cpus.toInt)
        .select(sum(pmod(xxhash64(col("id")), lit(65536L))))
        .write.format("noop").mode("overwrite").save())
    def calibScan(): Double = timed(() =>
      Tables.table(spark, sfDir, "documents")
        .select(sum(length(col("text"))), sum(col("n_chars")))
        .write.format("noop").mode("overwrite").save())
    def arr(vs: Seq[Double]): String = vs.map(r3).mkString("[", ",", "]")
    val calibCpuStart = Seq.fill(3)(calibCpu())
    val calibScanStart = Seq.fill(3)(calibScan())

    // A failed query must not masquerade as a fast one: a FIRST-run failure
    // is terminal — recorded -1.0 (excluded from the total) and listed
    // under "failed", never retried into a success. Only queries whose
    // first run succeeds take best-of-three — ambient scheduler/page-cache
    // contention otherwise dominates sub-second queries (observed
    // run-to-run swings of 3× on an otherwise idle box). A retry that
    // fails after a successful first run marks the query "flaky" (its
    // successful time still counts).
    val flaky = scala.collection.mutable.ArrayBuffer.empty[String]
    // Dev aid: SPARK_GRAFT_ONLY=q16_percentiles,q17_asof_join restricts the
    // run to named queries (unset in driver runs — full registry).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { ns =>
      val unknown = ns -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    val selected = only.fold(SparkEntry.queries)(ns =>
      SparkEntry.queries.filter { case (k, _) => ns(k) })
    val results3 = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // noop sink, NOT count(): under count() Catalyst prunes every column
      // the row count doesn't need — a projection query times as a bare
      // scan and a trailing window vanishes entirely (confirmed via task
      // metrics: the composed as-of join shuffled 59 B under count()).
      // The noop write computes the full output schema and discards it.
      def once(): Double = {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0 }
      }
      val (best, median, isFlaky) = measure(() => once())
      if (isFlaky) flaky += name
      (name, best, median)
    }
    val results = results3.map { case (n, best, _) => (n, best) }
    val medians = results3.map { case (n, _, med) => (n, med) }
    val medianTotal = medians.map(_._2).filter(_ >= 0).sum

    // Environment audit, part 3: probes + memory again AFTER the loop —
    // late-run degradation (the r5 pattern) shows as end >> start.
    val calibCpuEnd = calibCpu()
    val calibScanEnd = calibScan()
    val envEnd = envSnapshot()
    val extras: Seq[(String, String)] = Seq(
      "value_median" -> r3(medianTotal),
      "runs_per_query" -> "3",
      "calib" -> (s"""{"cpu":${arr(calibCpuStart)}""" +
        s""","scan":${arr(calibScanStart)}""" +
        s""","cpu_end":${r3(calibCpuEnd)},"scan_end":${r3(calibScanEnd)}}"""),
      "env" -> (envStart.map { case (k, v) => s""""$k":$v""" } ++
        envEnd.map { case (k, v) => s""""${k}_end":$v""" })
        .mkString("{", ",", "}"))

    val short = shortKeys(results.map(_._1))
    // Only a full-registry run may refresh the committed artifact — a
    // SPARK_GRAFT_ONLY profiling run would silently truncate it. The full
    // file additionally carries per-query MEDIANS (full names, no size
    // budget); the printed line carries only their total.
    if (only.isEmpty) {
      val mediansJson = medians
        .map { case (k, v) => "\"" + k + "\":" + r3(v) }
        .mkString("{", ",", "}")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_FULL.json"),
        renderLine(results, flaky.toSeq, sfDir, identity,
          extras :+ ("queries_median" -> mediansJson)) + "\n")
    }
    // The driver line-parses the tail of combined output for bare JSON —
    // stop Spark (and silence shutdown-path logging) BEFORE printing so
    // the JSON line is the final line of the run.
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(renderLine(results, flaky.toSeq, sfDir, short, extras))
    System.out.flush()
  }
}
