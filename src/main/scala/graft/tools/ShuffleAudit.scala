package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Shuffle-volume audit: runs each registered query and reports measured
  * (not guessed) execution-movement numbers from the task metrics —
  * shuffle bytes/records written, spill, and stage count. This is the
  * quantitative companion to `ExplainAudit`'s plan shapes: a query whose
  * shuffle volume scales with the DATA it aggregates (not with the raw
  * input) is the one that survives a 100× scale-up.
  *
  * Usage: runMain graft.tools.ShuffleAudit [sfDir] [outFile] [query...]
  * Writes a markdown table (default SHUFFLE_AUDIT.md) sorted by shuffle
  * bytes descending.
  */
object ShuffleAudit {

  private class Collector extends SparkListener {
    @volatile var shuffleBytes = 0L
    @volatile var shuffleRecords = 0L
    @volatile var spillBytes = 0L
    @volatile var stages = 0
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      synchronized {
        stages += 1
        val m = sc.stageInfo.taskMetrics
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      }
    def reset(): Unit = synchronized {
      shuffleBytes = 0L; shuffleRecords = 0L; spillBytes = 0L; stages = 0
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val outFile = if (args.length > 1) args(1) else "SHUFFLE_AUDIT.md"
    val names = if (args.length > 2) args.drop(2).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.jobs.JobSession.local("graft-shuffle-audit", "local[16]")
    spark.sparkContext.setLogLevel("ERROR")
    val collector = new Collector
    spark.sparkContext.addSparkListener(collector)

    def fmtBytes(b: Long): String =
      if (b >= (1L << 20)) f"${b / 1048576.0}%.1f MiB"
      else if (b >= 1024) f"${b / 1024.0}%.1f KiB"
      else s"$b B"

    // listener events post asynchronously (no public drain API): wait for
    // the stage counter to go quiet before reading
    def quiesce(): Unit = {
      var last = -1
      while (last != collector.stages) {
        last = collector.stages
        Thread.sleep(200)
      }
    }
    val rows = names.map { name =>
      quiesce()
      collector.reset()
      // metrics span query BUILD + a noop-sink run: iterative operators
      // execute their loop jobs eagerly at build time, and count() would
      // let Catalyst prune computed columns and trailing windows, auditing
      // a hollow plan
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      quiesce()
      val (st, bytes, recs, spill) = (collector.stages,
        collector.shuffleBytes, collector.shuffleRecords, collector.spillBytes)
      val n = df.count()
      (name, n, st, bytes, recs, spill)
    }.sortBy(-_._4)

    val sb = new StringBuilder
    sb.append("# Shuffle audit — measured task metrics per query\n\n")
    sb.append(s"Scale dir: `$sfDir`. Columns are sums over all stages of the ")
    sb.append("query's jobs: shuffle write volume (what actually crossed the ")
    sb.append("exchange), records shuffled, spill, stage count, result rows.\n\n")
    sb.append("| query | shuffle | records | spill | stages | rows |\n")
    sb.append("|---|---|---|---|---|---|\n")
    rows.foreach { case (name, n, st, bytes, recs, spill) =>
      sb.append(s"| $name | ${fmtBytes(bytes)} | $recs | ${fmtBytes(spill)} " +
        s"| $st | $n |\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      sb.toString)
    println(s"wrote $outFile (${rows.size} queries)")
    spark.stop()
  }
}
