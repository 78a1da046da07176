package graft.jobs

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.schema.CrawlSchemas
import graft.streaming.{AnalysisStream, CrawlStreams}

/** `analyse` CLI (reference analysis.py:200-236, SURVEY.md §3.2): continuous
  * per-host stats with periodic atomic JSON snapshots.
  *
  * Reads a JSONL directory as a file stream (drop-in: swap
  * `CrawlStreams.kafkaStream` + `parseCrawlEvents` for the Kafka topic at
  * deployment — the topology from the first transform on is identical).
  *
  * Usage: AnalysisMain <inputDir> <snapshotPath> <checkpointDir>
  *        [intervalMs=10000] [topHosts=500] [--available-now]
  *
  * `--available-now` = S4 drain-and-stop: process everything present, emit
  * one final snapshot, exit (the reference's consumer_timeout_ms idle-stop,
  * made deterministic).
  *
  * The per-host state lives in `spark.sql.shuffle.partitions` state-store
  * partitions. A checkpoint takes the session's count at its first start
  * (the core count: see `JobSession.local`) and keeps it from then on;
  * override it with `-Dspark.sql.shuffle.partitions=N` or
  * `spark-submit --conf spark.sql.shuffle.partitions=N` before that first
  * start. A checkpoint created before the core-count default keeps
  * Spark's 200.
  *
  * A `file:` checkpoint, input or snapshot directory goes through the
  * fork-free local filesystem ([[graft.sources.LocalFs]]): Hadoop's own
  * minus the `chmod`/`readlink` process it starts per checkpoint file
  * without `libhadoop`. `spark.hadoop.fs.file.impl` and
  * `spark.hadoop.fs.AbstractFileSystem.file.impl` in the Spark conf
  * override it. On-disk formats, `.crc` sidecars and Spark's checkpoint
  * checksums are unchanged, so existing checkpoints resume as they are.
  */
object AnalysisMain {
  private val usage = "usage: AnalysisMain <inputDir> <snapshotPath> " +
    "<checkpointDir> [intervalMs] [topN] [--available-now]"

  def main(args: Array[String]): Unit = {
    if (args.length < 3) JobSession.usageExit(usage)
    val Array(inputDir, snapshotPath, checkpointDir, rest @ _*) = args
    // positional optionals are numeric in declared order; anything else
    // must be a known flag
    // nonEmpty: "" passes forall(isDigit) vacuously, then toLong throws a
    // stack trace instead of the usage contract; overflow is caught below
    def numeric(a: String) = a.nonEmpty && a.forall(_.isDigit)
    val unknown = rest.filterNot(a => numeric(a) || a == "--available-now")
    if (unknown.nonEmpty)
      JobSession.usageExit(usage, s"unrecognized arguments: ${unknown.mkString(" ")}")
    def parsed[T](a: Option[String], f: String => T, default: T): T =
      try a.map(f).getOrElse(default)
      catch { case _: NumberFormatException =>
        JobSession.usageExit(usage, s"numeric argument out of range: ${a.get}")
      }
    val intervalMs = parsed(rest.find(numeric), _.toLong, 10000L)
    val topHosts = parsed(rest.filter(numeric).drop(1).headOption, _.toInt, 500)
    val availableNow = rest.contains("--available-now")

    implicit val spark = JobSession.local("graft-analysis")
    import spark.implicits._

    val events = spark.readStream
      .schema(CrawlSchemas.crawlEventSchema)
      .json(inputDir)
      // try_: one malformed timestamp under default ANSI would crash
      // the stream into a checkpoint-replay loop (null degrades)
      .withColumn("event_ts", try_to_timestamp(col("timestamp")))
      .select(
        graft.functions.CrawlCols.hostOf(col("url")).as("host"),
        col("event_ts"),
        col("status_code"),
        col("mimetype"),
        col("content_type"),
        col("via"))
      .as[AnalysisStream.StatEvent]

    val writer = AnalysisStream.snapshotQuery(
      AnalysisStream.hostStats(events), snapshotPath, topHosts, intervalMs,
      checkpointDir)
    val q =
      if (availableNow) writer.trigger(Trigger.AvailableNow()).start()
      else writer.start()
    q.awaitTermination()
  }
}
