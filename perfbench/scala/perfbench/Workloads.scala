package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.Instant
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQuery,
  StreamingQueryProgress}

import graft.functions.CrawlCols
import graft.jobs.{BenchAccess, ReportJob}
import graft.operators.Launcher
import graft.schema.CrawlSchemas
import graft.sources.SolrSink
import graft.streaming.{AnalysisStream, CrawlStreams}

object Workloads {
  def apply(name: String, kv: Map[String, String]): Workload = name match {
    case "analyse-drain" => new AnalyseDrain(kv)
    case "report-etl" => new ReportEtl(kv)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Traced-only layer probes over a crawl log: the union-schema parse and
    * the crawl column functions over a persisted parsed frame. */
  def crawlLogProbes(spark: SparkSession, logFile: String, tr: Tracer,
      counters: mutable.Map[String, Double]): Unit = {
    val raw = spark.read.text(logFile)
      .select(lit(null).cast("binary").as("key"), col("value").cast("binary").as("value"))
      .persist()
    val n = raw.count()
    val malformed = tr("schema.parse") {
      CrawlStreams.parseCrawlEvents(raw).filter(col("malformed")).count()
    }
    counters("schema.records") = n.toDouble
    counters("schema.malformed") = malformed.toDouble
    val parsed = spark.read.schema(CrawlSchemas.crawlEventSchema)
      .json(spark.read.text(logFile).as[String](org.apache.spark.sql.Encoders.STRING))
      .persist()
    parsed.count()
    tr("functions.crawlcols") {
      parsed.select(CrawlCols.hostOf(col("url")), CrawlCols.docId(col("timestamp"), col("url")),
        CrawlCols.logLine(col("timestamp"), col("status_code"), col("size"), col("url"),
          col("hop_path"), col("via"), col("mimetype"), col("thread"),
          col("start_time_plus_duration"), col("content_digest"), col("seed"),
          col("annotations")),
        CrawlCols.splitStartTime(col("start_time_plus_duration")),
        CrawlCols.waybackTs(col("timestamp")))
        .write.format("noop").mode("overwrite").save()
    }
    tr("functions.authority_key") {
      parsed.select(CrawlCols.authorityKey(CrawlCols.netlocOf(col("url"))))
        .write.format("noop").mode("overwrite").save()
    }
    parsed.unpersist()
    raw.unpersist()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Per-trigger medians of the progress Spark reports for each batch. */
  def streamingCounters(ps: Seq[StreamingQueryProgress],
      counters: mutable.Map[String, Double]): Unit = {
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    for ((k, m) <- Seq("latestOffset" -> "latest_offset_ms", "getBatch" -> "get_batch_ms",
        "queryPlanning" -> "planning_ms", "addBatch" -> "add_batch_ms",
        "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms"))
      counters(s"streaming.$m") = median(dur(k))
    val trig = dur("triggerExecution")
    counters("streaming.coordination_share") = median(trig.zip(dur("addBatch")).map {
      case (t, a) => if (t > 0) (t - a) / t else 0.0 })
    counters("streaming.rows_per_trigger") = median(ps.map(_.numInputRows.toDouble))
    def st(f: StateOperatorProgress => Double) =
      median(ps.map(_.stateOperators.map(f).sum))
    counters("streaming.state_rows") = st(_.numRowsTotal.toDouble)
    counters("streaming.state_rows_updated") = st(_.numRowsUpdated.toDouble)
    counters("streaming.state_memory_bytes") = st(_.memoryUsedBytes.toDouble)
    counters("streaming.state_update_ms") = st(_.allUpdatesTimeMs.toDouble)
    counters("streaming.state_commit_ms") = st(_.commitTimeMs.toDouble)
  }
}

/** `analyse`: the analyse service's long-running query, `hostStats` ->
  * `snapshotQuery`, over a directory the harness feeds. One step links the
  * next `files_per_trigger` log files into the directory and waits for the
  * micro-batch that reads them; one pass is one cycle through the whole
  * log. Set-up starts the query and runs one warm-up pass, so after `k`
  * passes every host's counts are `k` times the log's. */
final class AnalyseDrain(kv: Map[String, String]) extends Workload {
  private val logFiles = Files.list(Paths.get(kv("data"), "log")).iterator.asScala
    .toSeq.sortBy(_.toString)
  private val perTrigger = kv("files_per_trigger").toInt
  private val tmp = Paths.get(kv("tmp"))
  private val out = Paths.get(kv("out"))
  private val records = kv("records").toLong
  private val topN = kv("top_n").toInt
  private var spark: SparkSession = _
  private var query: StreamingQuery = _
  private var in: Path = _
  private var snapPath: Path = _
  private var linked = 0
  private var queries = 0
  private var cycles = 0
  private val progress = new ProgressLog
  private val traced = mutable.ArrayBuffer[StreamingQueryProgress]()
  // the published snapshot's size after each traced trigger
  private val snapBytes = mutable.ArrayBuffer[Double]()
  // the number of passes behind each checked snapshot copy
  private val snapshots = mutable.ArrayBuffer[Int]()

  def setup(s: SparkSession): Unit = {
    spark = s
    implicit val sp: SparkSession = spark
    import sp.implicits._
    spark.streams.addListener(progress)
    queries += 1
    cycles = 0
    val base = Files.createDirectories(tmp.resolve(s"query-$queries"))
    in = Files.createDirectories(base.resolve("in"))
    snapPath = base.resolve("snapshot.json")
    val events = spark.readStream
      .schema(CrawlSchemas.crawlEventSchema)
      .option("maxFilesPerTrigger", perTrigger.toString)
      .json(in.toString)
      .withColumn("event_ts", try_to_timestamp(col("timestamp")))
      .select(CrawlCols.hostOf(col("url")).as("host"), col("event_ts"),
        col("status_code"), col("mimetype"), col("content_type"), col("via"))
      .as[AnalysisStream.StatEvent]
    query = AnalysisStream.snapshotQuery(AnalysisStream.hostStats(events),
        snapPath.toString, topN, 0L, base.resolve("checkpoint").toString)
      .start()
    pass(-1, Tracer.off)
  }

  private def step(files: Seq[Path], tr: Tracer): Unit = {
    for (f <- files) {
      Files.createLink(in.resolve(f"$linked%06d-${f.getFileName}"), f)
      linked += 1
    }
    tr("streaming.trigger")(query.processAllAvailable())
    if (tr.enabled) snapBytes += Files.size(snapPath).toDouble
  }

  def pass(i: Int, tr: Tracer): Pass = {
    val t0 = System.nanoTime()
    logFiles.grouped(perTrigger).foreach(step(_, tr))
    val wall = Harness.secs(t0)
    cycles += 1
    val ps = progress.take(spark)
    if (tr.enabled) traced ++= ps
    // every pass's snapshot is checked; keep a copy of each
    Files.copy(snapPath, out.resolve(s"snapshot-${snapshots.size}.json"),
      StandardCopyOption.REPLACE_EXISTING)
    snapshots += cycles
    outputs("snapshots") = snapshots.toSeq
    Pass(wall, records, ps.map(_.durationMs.get("triggerExecution").doubleValue))
  }

  override def close(): Unit = query.stop()

  override def probes(tr: Tracer): Unit = {
    Workloads.streamingCounters(traced.toSeq, counters)
    counters("streaming.snapshot_bytes") = Workloads.median(snapBytes.toSeq)
    Workloads.crawlLogProbes(spark, s"${kv("data")}/log.jsonl", tr, counters)
  }
}

/** Counting in-process Solr transport: records batches, body bytes and the
  * posted document ids; never touches the network. */
object SolrCounter {
  private val batches = new AtomicLong
  private val bodyBytes = new AtomicLong
  private val ids = new AtomicLong
  private val Id = "\"id\":\"([^\"]*)\"".r

  val transport: SolrSink.Transport = (url: String, body: String) => {
    if (url.endsWith("/update/json/docs")) {
      batches.incrementAndGet()
      bodyBytes.addAndGet(body.length)
      ids.addAndGet(Id.findAllMatchIn(body).map(m => Digest.h64(m.group(1))).sum)
    }
    200
  }

  /** (batches, body bytes, id digest) since the last call. */
  def take(): (Long, Long, String) = (batches.getAndSet(0L),
    bodyBytes.getAndSet(0L), java.lang.Long.toUnsignedString(ids.getAndSet(0L)))
}

/** Hourly report cycle: one step is one simulated crawl hour -- launcher
  * due-evaluation, streamer replay of the hour, the report job's four
  * formats and a Solr index of the hour's documents. */
final class ReportEtl(kv: Map[String, String]) extends Workload {
  private val data = kv("data")
  private val tmp = kv("tmp")
  private val hours = kv("hours").toInt
  private val perPass = kv("hours_per_pass").toInt
  private val epoch = Instant.parse(kv("epoch"))
  private var spark: SparkSession = _
  private val checked = mutable.ArrayBuffer[Map[String, Any]]()
  private val perStep = mutable.Map[String, mutable.ArrayBuffer[Double]]()

  def setup(s: SparkSession): Unit = {
    spark = s
    step(0, Tracer.off)
  }

  /** Runs the hour `h`; returns the number of events it replayed. */
  private def step(h: Int, tr: Tracer): Long = {
    val start = epoch.plusSeconds(3600L * h)
    val now = java.sql.Timestamp.from(start)
    val specs = spark.read.schema(CrawlSchemas.crawlSpecSchema).json(s"$data/specs.jsonl")
    val due = tr("operators.launcher_due") {
      Launcher.dueLaunches(specs, now).select(col("seed")).collect().map(_.getString(0))
    }
    // the streamer writes the hour and counts what it wrote, as StreamerMain does
    val dir = s"$tmp/hour-$h"
    val replayed = tr("jobs.streamer_range") {
      BenchAccess.timeRange(spark.read.text(s"$data/log.jsonl"), start.toString,
        start.plusSeconds(3600).toString).write.mode("overwrite").text(dir)
      spark.read.text(dir).count()
    }
    val events = spark.read.schema(CrawlSchemas.crawlEventSchema).json(dir)
    val raw = ReportJob.rawStream(events)
    val log = ReportJob.crawlLogStream(events)
    val summary = ReportJob.hostSummary(events)
    val docs = ReportJob.solrDocs(events).persist()
    tr("plans.report_formats.plan") {
      Seq(raw, log, summary, docs).foreach(_.queryExecution.executedPlan)
    }
    val nRaw = tr("jobs.report_raw")(raw.collect().length)
    val nLog = tr("jobs.report_crawl_log")(log.collect().length)
    val hosts = tr("jobs.report_summary") {
      summary.collect()
        .map(r => s"${r.getAs[String]("host")}|${r.getAs[Long]("tot")}|${r.getAs[String]("via")}")
    }
    tr("jobs.report_solr_docs")(docs.count())
    val posted = tr("sources.solr_write") {
      SolrSink.write(docs, "http://solr.invalid/crawl-log", 100, SolrCounter.transport)
    }
    docs.unpersist()
    val (batches, bytes, ids) = SolrCounter.take()
    if (tr.enabled)
      for ((k, v) <- Seq("operators.launcher_due_rows" -> due.length.toLong,
          "sources.solr_batches" -> batches, "sources.solr_body_bytes" -> bytes))
        perStep.getOrElseUpdate(k, mutable.ArrayBuffer()) += v.toDouble
    checked += Map("hour" -> h, "due" -> due.length, "due_seeds" -> Digest.of(due),
      "replayed" -> replayed, "raw" -> nRaw, "crawl_log" -> nLog,
      "summary_rows" -> hosts.length, "summary" -> Digest.of(hosts),
      "solr_docs" -> posted, "solr_ids" -> ids)
    outputs("hours") = checked.toSeq
    replayed
  }

  def pass(i: Int, tr: Tracer): Pass = {
    var replayed = 0L
    val steps = (0 until perPass).map { k =>
      val h = (i * perPass + k) % hours
      val t0 = System.nanoTime()
      replayed += tr("bench.step")(step(h, tr))
      Harness.secs(t0) * 1000
    }
    Pass(steps.sum / 1000, replayed, steps)
  }

  override def probes(tr: Tracer): Unit = {
    perStep.foreach { case (k, xs) => counters(k) = Workloads.median(xs.toSeq) }
    // the counting transport accepts every batch
    counters("sources.solr_failed_batches") = 0.0
    Workloads.crawlLogProbes(spark, s"$data/log.jsonl", tr, counters)
  }
}
