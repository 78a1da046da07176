package graft.jobs

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.CrawlCols
import graft.schema.CrawlSchemas
import graft.sources.LocalFs

/** CLI-equivalent drivers mirroring the reference's entry points
  * (SURVEY.md §3, setup.py:23-27). Each main is arg-parsing + sink choice
  * only — all logic lives in the operator modules.
  */
private[jobs] object JobSession {
  /** Uniform CLI contract: malformed invocations print usage and exit 2
    * (never a bare MatchError). */
  def usageExit(usage: String, detail: String = ""): Nothing = {
    if (detail.nonEmpty) System.err.println(detail)
    System.err.println(usage)
    sys.exit(2)
    throw new IllegalStateException("unreachable")
  }

  private[jobs] val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** The shuffle (and so state-store) partition count a session must be
    * given: the core count, unless the SparkConf already names one
    * (`-Dspark.sql.shuffle.partitions=N`, `spark-submit --conf`), which
    * then stands — `None` means "leave the session as configured". Spark's
    * own default of 200 makes every micro-batch of a stateful query run
    * 200 state-store tasks, whose fixed load/commit cost swamps a small
    * batch. A streaming checkpoint records the count at its first start
    * and a restart reuses it, so this only sizes new checkpoints.
    */
  private[jobs] def coreSizedPartitions(conf: SparkConf,
      cores: Int): Option[Int] =
    if (conf.contains(ShufflePartitions)) None else Some(cores)

  /** Apply [[coreSizedPartitions]] of `conf` to the session `s`. */
  private[jobs] def sized(s: SparkSession, conf: SparkConf): SparkSession = {
    coreSizedPartitions(conf, s.sparkContext.defaultParallelism)
      .foreach(s.conf.set(ShufflePartitions, _))
    s
  }

  /** The production mains' session. Two rules apply to every main:
    *  - shuffle and state partitions are sized to the cores
    *    ([[coreSizedPartitions]]);
    *  - `file:` paths use the fork-free local filesystem
    *    ([[graft.sources.LocalFs]]) unless the SparkConf names
    *    `spark.hadoop.fs.file.impl` or
    *    `spark.hadoop.fs.AbstractFileSystem.file.impl`, which then stand.
    *    On-disk formats, `.crc` sidecars and Spark's checkpoint checksums
    *    are Hadoop's own, so existing checkpoints resume as they are.
    */
  def local(app: String): SparkSession = {
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName(app)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config(LocalFs.confs(new SparkConf()).toMap)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    sized(s, s.sparkContext.getConf)
  }
}

/** `crawlstreams` report CLI (reference report.py:228-281): read a
  * crawl-log JSONL file (or swap in the Kafka source at deployment), render
  * one of the four formats.
  *
  * Usage: ReportMain <input.jsonl> <raw|crawl-log|summary|solr> [outDir]
  */
object ReportMain {
  private val usage =
    "usage: ReportMain <input.jsonl> <raw|crawl-log|summary|solr> [outDir]"

  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) JobSession.usageExit(usage)
    val Array(input, format, rest @ _*) = args
    // validate BEFORE the session: a typo'd format should cost the usage
    // line and exit 2 (the JobSession contract), not a Spark startup and
    // a stack trace
    val formats = Set("raw", "crawl-log", "summary", "solr")
    if (!formats(format))
      JobSession.usageExit(usage,
        s"unknown format: $format (expected ${formats.mkString("|")})")
    val spark = JobSession.local(s"graft-report-$format")
    val events = spark.read.schema(CrawlSchemas.crawlEventSchema).json(input)
    val out = format match {
      case "raw" => ReportJob.rawStream(events)
      case "crawl-log" => ReportJob.crawlLogStream(events)
      case "summary" => ReportJob.hostSummary(events)
      case _ => ReportJob.solrDocs(events)
    }
    rest.headOption match {
      // an http(s) target with the solr format drives the real sink
      // (reference report.py:222-224); anything else is a JSON file dump
      case Some(url) if format == "solr" && url.startsWith("http") =>
        val n = graft.sources.SolrSink.write(out, url)
        println(s"""{"indexed":$n}""")
      case Some(dir) => out.write.mode("overwrite").json(dir)
      case None => out.show(50, truncate = false)
    }
    spark.stop()
  }
}

/** `launcher` CLI (reference launcher.py:214-237): evaluate a crawl-spec
  * JSONL feed at an injected instant, write due launch messages.
  *
  * Usage: LauncherMain <specs.jsonl> <now: yyyy-MM-dd HH:mm:ss|now> <outDir>
  */
object LauncherMain {
  private val usage =
    "usage: LauncherMain <specs.jsonl> <now: yyyy-MM-dd HH:mm:ss|now> <outDir>"

  def main(args: Array[String]): Unit = {
    if (args.length != 3) JobSession.usageExit(usage)
    val Array(specsPath, nowArg, outDir) = args
    val now = if (nowArg == "now") new java.sql.Timestamp(System.currentTimeMillis())
      else try java.sql.Timestamp.valueOf(nowArg) catch {
        case _: IllegalArgumentException => JobSession.usageExit(usage,
          s"bad instant '$nowArg' (expected yyyy-MM-dd HH:mm:ss or 'now')")
      }
    val spark = JobSession.local("graft-launcher")
    val specs = spark.read.schema(CrawlSchemas.crawlSpecSchema).json(specsPath)
    val due = graft.operators.Launcher.dueLaunches(specs, now)
    due.select(col("key"), col("value")).write.mode("overwrite").json(outDir)
    val rejected = graft.operators.Launcher.malformedTargets(specs).count()
    val launched = due.count()
    // A6 counters (reference launcher.py:207-208), minus the dead gauge path
    println(s"""{"launches":$launched,"target_errors":$rejected}""")
    spark.stop()
  }
}

/** `submit` CLI (reference submit.py): enqueue one URI or a file of URIs as
  * keyed launch messages (S7 text scan, P18 scheme defaulting, P19 key).
  *
  * Usage: SubmitMain <uriOrFile> <source> <outDir>
  */
object SubmitMain {
  private val usage = "usage: SubmitMain <uriOrFile> <source> <outDir>"

  def main(args: Array[String]): Unit = {
    if (args.length != 3) JobSession.usageExit(usage)
    val Array(uriOrFile, source, outDir) = args
    val spark = JobSession.local("graft-submit")
    import spark.implicits._
    val uris =
      if (new java.io.File(uriOrFile).exists())
        spark.read.text(uriOrFile).select(trim(col("value")).as("uri"))
          .filter(length(col("uri")) > 0)
      else Seq(uriOrFile).toDF("uri")
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val launchTs = date_format(lit(now), "yyyyMMddHHmmss")
    val msgs = uris
      .withColumn("uri", CrawlCols.withScheme(col("uri"))) // P18
      .withColumn("key",
        CrawlCols.authorityKey(CrawlCols.netlocOf(col("uri")))) // P19
      .withColumn("value", to_json(graft.operators.Launcher.launchMessage(
        col("uri"), lit(source), array().cast("array<string>"),
        launchTs, lit(1), date_format(lit(now), "yyyy-MM-dd'T'HH:mm:ss"))))
    msgs.select(col("key"), col("value")).write.mode("overwrite").json(outDir)
    spark.stop()
  }
}

/** `streamer` CLI (reference streamer.py:169-206): bounded time-range
  * replay of RAW crawl-log records — `[start, end)` on the record's own
  * timestamp, optional row limit, raw JSON lines out (the reference prints
  * `msg.value` untouched). The batch analogue of the Kafka
  * offsets-for-times seek (swap in `CrawlStreams.kafkaBatchTimeRange` at
  * deployment — S3); on files, the timestamp predicate prunes before any
  * JSON decode beyond the one extracted field.
  *
  * Usage: StreamerMain <input.jsonl> <startIso> <endIso>
  *                     [--limit N] [outDir]
  */
object StreamerMain {

  private val usage =
    "usage: StreamerMain <input.jsonl> <startIso> <endIso> [--limit N] [outDir]"

  /** `[startIso, endIso)` filter on the raw line's own `timestamp` field. */
  private[graft] def timeRange(raw: org.apache.spark.sql.DataFrame,
      startIso: String, endIso: String): org.apache.spark.sql.DataFrame = {
    // try_: a raw-passthrough replay must skip a poison timestamp,
    // not abort the bounded range under ANSI
    val ts = try_to_timestamp(get_json_object(col("value"), "$.timestamp"))
    raw.filter(ts >= lit(startIso).cast("timestamp") &&
      ts < lit(endIso).cast("timestamp"))
  }

  /** Parsed CLI invocation: positional input/range, optional limit/outDir. */
  private[graft] final case class StreamerArgs(input: String, startIso: String,
      endIso: String, limit: Option[Int], outDir: Option[String])

  /** Pure arg parsing (unit-testable; main only adds exit/stderr plumbing).
    * `--limit` is an explicit flag — never inferred from a digits-only
    * positional — and a trailing positional is the output directory.
    */
  private[graft] def parseArgs(args: Seq[String]): Either[String, StreamerArgs] =
    args match {
      case Seq(input, startIso, endIso, rest @ _*) =>
        rest match {
          case Seq() => Right(StreamerArgs(input, startIso, endIso, None, None))
          case Seq("--limit", n, tail @ _*) if tail.length <= 1 =>
            n.toIntOption.filter(_ >= 0)
              .toRight(s"--limit requires a non-negative integer, got '$n'")
              .map(l => StreamerArgs(input, startIso, endIso, Some(l), tail.headOption))
          case Seq(dir) if !dir.startsWith("--") =>
            Right(StreamerArgs(input, startIso, endIso, None, Some(dir)))
          case other => Left(s"unrecognized arguments: ${other.mkString(" ")}")
        }
      case _ => Left("expected at least <input.jsonl> <startIso> <endIso>")
    }

  def main(args: Array[String]): Unit = {
    val StreamerArgs(input, startIso, endIso, limit, outDir) =
      parseArgs(args.toSeq) match {
        case Right(parsed) => parsed
        case Left(err) => JobSession.usageExit(usage, err)
      }
    val spark = JobSession.local("graft-streamer")
    val ranged = timeRange(spark.read.text(input), startIso, endIso)
    val bounded = limit.fold(ranged)(ranged.limit)
    // single materialization: count what was emitted, never re-run the scan
    val returned = outDir match {
      case Some(dir) =>
        bounded.write.mode("overwrite").text(dir)
        spark.read.text(dir).count() // re-reads the (bounded) OUTPUT only
      case None =>
        // stream partitions to the driver instead of buffering them all
        import scala.jdk.CollectionConverters._
        var n = 0L
        bounded.toLocalIterator().asScala.foreach { r =>
          println(r.getString(0)); n += 1
        }
        n
    }
    println(s"""{"returned":$returned}""")
    spark.stop()
  }
}
