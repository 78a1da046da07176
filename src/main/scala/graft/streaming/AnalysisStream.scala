package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}

/** The continuous stats service (reference analysis.py, SURVEY.md §3.2) as
  * one Structured Streaming topology: per-host rolling stats with bounded
  * state (A4/ST6), event-time windowed histograms (A2 re-specified
  * deterministically, ST7), periodic atomic snapshots (S9/ST5).
  *
  * The reference's consumer-thread/lock architecture disappears: micro-batch
  * execution owns all state, keyed state lives in the checkpointed state
  * store (per host, per partition), and the groupByKey shuffle is the only
  * executor boundary.
  */
object AnalysisStream {

  /** Minimal event projection the stats service consumes. */
  final case class StatEvent(
      host: String,
      event_ts: java.sql.Timestamp,
      status_code: Option[Int],
      mimetype: Option[String],
      content_type: Option[String],
      via: Option[String])

  /** Per-host rolling state (reference analysis.py:102-138): first/last
    * seen, total, and the three counter maps (content types with the
    * mimetype→content_type→unknown fallback, status codes with null→"-",
    * via-hosts excluding self-references).
    */
  final case class HostState(
      first_ts: Long,
      last_ts: Long,
      total: Long,
      contentTypes: Map[String, Long],
      statusCodes: Map[String, Long],
      viaHosts: Map[String, Long])

  final case class HostStatsRow(
      host: String,
      first_ts: java.sql.Timestamp,
      last_ts: java.sql.Timestamp,
      total: Long,
      contentTypes: Map[String, Long],
      statusCodes: Map[String, Long],
      viaHosts: Map[String, Long])

  private def bump(m: mutable.HashMap[String, Long], k: String): Unit =
    m(k) = m.getOrElse(k, 0L) + 1L

  private def hostOfUrl(u: String): String =
    try {
      val h = new java.net.URI(u).getHost
      if (h == null) "" else h.toLowerCase
    } catch { case _: Exception => "" }

  /** State transition for one host and a batch of its events. Event-time
    * min/max (not arrival order — ST7): late data folds in correctly.
    */
  private[streaming] def updateHost(host: String, events: Iterator[StatEvent],
      state: GroupState[HostState]): Iterator[HostStatsRow] =
    updateHostTtl(None)(host, events, state)

  /** As [[updateHost]], with optional idle-TTL eviction: a host silent for
    * `ttlMs` gets its state dropped on timeout (SURVEY §7.3 — the
    * deterministic per-key replacement for the reference's cross-key
    * 500-host insertion-order cap; combine with [[topHostsSnapshot]] for
    * the output-side bound).
    */
  private[streaming] def updateHostTtl(ttlMs: Option[Long])(
      host: String, events: Iterator[StatEvent],
      state: GroupState[HostState]): Iterator[HostStatsRow] = {
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    if (!events.hasNext) return Iterator.empty
    // fold the batch into local counters, then build ONE HostState
    val prev = state.getOption.getOrElse(
      HostState(Long.MaxValue, Long.MinValue, 0L, Map.empty, Map.empty, Map.empty))
    var first = prev.first_ts
    var last = prev.last_ts
    var total = prev.total
    val contentTypes = mutable.HashMap.from(prev.contentTypes)
    val statusCodes = mutable.HashMap.from(prev.statusCodes)
    val viaHosts = mutable.HashMap.from(prev.viaHosts)
    events.foreach { e =>
      total += 1
      bump(contentTypes,
        e.mimetype.orElse(e.content_type).getOrElse("unknown-content-type"))
      bump(statusCodes, e.status_code.map(_.toString).getOrElse("-"))
      val viaH = e.via.map(hostOfUrl).getOrElse("")
      if (viaH.nonEmpty && viaH != host) bump(viaHosts, viaH)
      // null event time: count the record but don't fold a bogus epoch-0
      // into the first/last-seen bounds
      if (e.event_ts != null) {
        val ts = e.event_ts.getTime
        first = math.min(first, ts)
        last = math.max(last, ts)
      }
    }
    val s = HostState(first, last, total, contentTypes.toMap,
      statusCodes.toMap, viaHosts.toMap)
    state.update(s)
    ttlMs.foreach(state.setTimeoutDuration)
    // sentinels mean "no timestamped event seen yet" — emit null bounds
    // (Timestamp(Long.MaxValue) overflows Catalyst's µs conversion)
    val firstTs = if (first == Long.MaxValue) null else new java.sql.Timestamp(first)
    val lastTs = if (last == Long.MinValue) null else new java.sql.Timestamp(last)
    Iterator.single(HostStatsRow(host, firstTs, lastTs,
      s.total, s.contentTypes, s.statusCodes, s.viaHosts))
  }

  /** A4 streaming form: per-host rolling stats via flatMapGroupsWithState,
    * Update mode — one refreshed row per host per micro-batch. The
    * reference's global 500-host insertion-order cap (LimitedSizeDict)
    * is cross-key and nondeterministic; the deterministic replacement is
    * snapshot-time top-N by last_ts ([[topHostsSnapshot]]), which dominates
    * it (SURVEY.md §7.3).
    */
  def hostStats(events: Dataset[StatEvent],
      idleTtlMs: Option[Long] = None): Dataset[HostStatsRow] = {
    import events.sparkSession.implicits._
    val timeout = if (idleTtlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .filter(col("host").isNotNull && col("host") =!= "")
      .as[StatEvent]
      .groupByKey(_.host)
      .flatMapGroupsWithState[HostState, HostStatsRow](
        OutputMode.Update, timeout)(updateHostTtl(idleTtlMs))
  }

  /** Snapshot-time bound: keep the N most recently active hosts. */
  def topHostsSnapshot(stats: DataFrame, n: Int): DataFrame =
    stats.orderBy(desc("last_ts"), col("host")).limit(n)

  /** An idle-host alert: `host` went silent after `n_events` events, last
    * seen at `last_ts` (event time).
    */
  final case class IdleAlert(host: String, n_events: Long,
      last_ts: java.sql.Timestamp)

  /** Idle-host detector on the transformWithState API (the arbitrary-
    * stateful-processing successor to flatMapGroupsWithState): per host,
    * keep (last event-time, event count) and an EVENT-TIME timer at
    * last + idleMs; every new batch re-arms the timer, and when the
    * watermark passes it — the host really has been silent for idleMs of
    * stream time — one alert emits and the state clears. The "this host
    * dropped out of the crawl" monitor, with per-key state + timers
    * managed by the state store (RocksDB provider required by the API).
    *
    * Event-time (not processing-time) timers make the semantics replay-
    * deterministic: a backfill at 10× speed fires the same alerts.
    */
  final class IdleHostDetector(idleMs: Long)
      extends StatefulProcessor[String, StatEvent, IdleAlert] {
    @transient private var lastSeen: ValueState[Long] = _
    @transient private var nEvents: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      lastSeen = getHandle.getValueState[Long]("lastSeen",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      nEvents = getHandle.getValueState[Long]("nEvents",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    // The armed timer is always lastSeen + idleMs — derived, not stored:
    // one fewer state column, and the two can never drift.
    override def handleInputRows(host: String, rows: Iterator[StatEvent],
        timers: TimerValues): Iterator[IdleAlert] = {
      val prev = if (lastSeen.exists()) lastSeen.get() else 0L
      var last = prev
      var n = if (nEvents.exists()) nEvents.get() else 0L
      rows.foreach { e =>
        // null event time: count the record but don't fold a bogus
        // epoch-0 (the updateHostTtl contract; the watermark predicate
        // does NOT drop null-ts rows, so they do reach here)
        n += 1
        if (e.event_ts != null) last = math.max(last, e.event_ts.getTime)
      }
      // invariant: state exists ⟺ lastSeen > 0 ⟺ one timer armed at
      // lastSeen + idleMs. A host whose events ALL carry null event_ts
      // (last == prev == 0) gets NO state: with TTLConfig.NONE and the
      // timer expiry as the only cleanup path, a stored epoch-0 row
      // would leak forever — its null-ts records stay uncounted until
      // the host produces a real event time (documented trade: bounded
      // state over exact counts for timeline-less hosts)
      if (last > 0L) {
        lastSeen.update(last)
        nEvents.update(n)
        if (last > prev) {
          if (prev > 0L) getHandle.deleteTimer(prev + idleMs)
          getHandle.registerTimer(last + idleMs)
        }
      }
      Iterator.empty
    }

    override def handleExpiredTimer(host: String, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[IdleAlert] = {
      val out = IdleAlert(host, nEvents.get(),
        new java.sql.Timestamp(lastSeen.get()))
      lastSeen.clear(); nEvents.clear()
      Iterator.single(out)
    }
  }

  /** [[IdleHostDetector]] wired onto a StatEvent stream: watermark bounds
    * both late data and timer firing; output is append-mode alerts.
    */
  def idleHosts(events: Dataset[StatEvent], idleMs: Long,
      watermark: String): Dataset[IdleAlert] = {
    import events.sparkSession.implicits._
    events
      .filter(col("host").isNotNull && col("host") =!= "")
      .withWatermark("event_ts", watermark)
      .as[StatEvent]
      .groupByKey(_.host)
      .transformWithState(new IdleHostDetector(idleMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming sessionization via NATIVE session windows: per-host crawl
    * bursts separated by ≥`gap` of silence become one row each, emitted
    * when the watermark closes the session. Unlike the batch q24 form
    * (lag + running sum over a sorted window), session_window state MERGES
    * as events arrive out of order inside the watermark — the
    * streaming-only capability; state per key is one [start, end) interval
    * per open session, watermark-expired.
    */
  def hostSessions(events: DataFrame, gap: String,
      watermark: String): DataFrame =
    events
      .filter(col("host").isNotNull && col("host") =!= "")
      .withWatermark("event_ts", watermark)
      .groupBy(session_window(col("event_ts"), gap), col("host"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("host"), col("n_events"))

  /** A2 re-specified: status histogram over sliding event-time windows with
    * a watermark (replacing the processing-order "last 10k events" deque).
    */
  def windowedStatusHistogram(events: DataFrame, window_ : String,
      slide: String, watermark: String): DataFrame =
    events
      .withWatermark("event_ts", watermark)
      .groupBy(window(col("event_ts"), window_, slide),
        col("status_code"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("status_code"), col("n"))

  /** A3 re-specified: most recent N screenshots by event time (batch form
    * over any bounded frame; in streaming this runs per snapshot).
    */
  def recentScreenshots(events: DataFrame, n: Int): DataFrame =
    events
      .withColumn("orig", graft.functions.CrawlCols.screenshotOrig(col("url")))
      .filter(graft.functions.CrawlCols.nonEmptyStr(col("orig")))
      .select(col("orig"), col("event_ts"))
      .orderBy(desc("event_ts"), col("orig"))
      .limit(n)

  /** F8 streaming form: exactly-once-per-(url, launch_ts) event stream via
    * watermark-bounded streaming dedup — state is evicted once the
    * watermark passes, so memory is bounded by the dedup window, not the
    * stream length (the launch-idempotency guarantee the reference
    * delegates to the crawler, provided in-stream).
    */
  def dedupWithinWatermark(events: DataFrame, eventTsCol: String,
      keyCols: Seq[String], watermark: String): DataFrame =
    events
      .withWatermark(eventTsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** ST8 restart completion: read the keyed host state back from a
    * checkpoint's state store (Spark's `statestore` batch source) and
    * render it as the rows [[hostStats]] emits. A restarted snapshot query
    * seeds its accumulator from this instead of waiting for every host to
    * receive fresh traffic (update mode only re-emits touched hosts).
    * Timestamp sentinels (no timestamped event yet) map back to nulls the
    * same way the live emit path does. Returns an empty Dataset when the
    * checkpoint has no committed state.
    */
  def rehydrateHostStats(spark: SparkSession,
      checkpoint: String): Dataset[HostStatsRow] = {
    import spark.implicits._
    // Probe through the Hadoop filesystem of the checkpoint URI — a
    // java.nio probe would silently report "no state" for file:/// URIs or
    // any non-local checkpoint and disable rehydration exactly where it
    // matters.
    val commitsPath = new org.apache.hadoop.fs.Path(checkpoint, "commits")
    val fs = commitsPath.getFileSystem(spark.sessionState.newHadoopConf())
    val committed = fs.exists(commitsPath) &&
      fs.listStatus(commitsPath).exists(f =>
        !f.getPath.getName.startsWith(".")) &&
      fs.exists(new org.apache.hadoop.fs.Path(checkpoint, "state/0"))
    if (!committed) return spark.emptyDataset[HostStatsRow]
    val g = "value.groupState"
    spark.read.format("statestore").load(checkpoint)
      .select(
        col("key.value").as("host"),
        when(col(s"$g.first_ts") === Long.MaxValue, lit(null))
          .otherwise(timestamp_millis(col(s"$g.first_ts"))).as("first_ts"),
        when(col(s"$g.last_ts") === Long.MinValue, lit(null))
          .otherwise(timestamp_millis(col(s"$g.last_ts"))).as("last_ts"),
        col(s"$g.total").as("total"),
        col(s"$g.contentTypes").as("contentTypes"),
        col(s"$g.statusCodes").as("statusCodes"),
        col(s"$g.viaHosts").as("viaHosts"))
      .as[HostStatsRow]
  }

  /** S9/ST5: atomic JSON snapshot publication — write to tmp then rename
    * (rename is atomic on POSIX). The snapshot is bounded (top-N hosts), so
    * a driver-side collect is by design, not a scalability leak.
    */
  /** Snapshot ranking: recency DESC with host tiebreak, null last_ts
    * LAST — via an explicit Ordering, NOT sortBy(-recency): negating the
    * null sentinel Long.MinValue overflows back to Long.MinValue, which
    * would rank never-timestamped hosts FIRST (the inverse of the seed
    * read's nulls-last orderBy). Spec-pinned. */
  private[streaming] val byRecencyDesc: Ordering[HostStatsRow] = {
    def recency(r: HostStatsRow): Long =
      if (r.last_ts == null) Long.MinValue else r.last_ts.getTime
    Ordering.by[HostStatsRow, (Long, String)](r => (recency(r), r.host))(
      Ordering.Tuple2(Ordering.Long.reverse, Ordering.String))
  }

  def writeSnapshotAtomic(snapshot: DataFrame, outPath: String): Unit =
    publishAtomic(outPath, snapshot.toJSON.collect().mkString("[", ",", "]"))

  /** THE tmp-write + ATOMIC_MOVE publish sequence, shared by both
    * snapshot writers so a future hardening (e.g. cleaning the orphaned
    * .tmp on a failed move) lands once. */
  private def publishAtomic(outPath: String, body: String): Unit = {
    val target = Paths.get(outPath)
    val dir = target.toAbsolutePath.getParent
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, ".snapshot", ".tmp")
    Files.write(tmp, body.getBytes("UTF-8"))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Wire the stats stream to a periodic snapshot file: every trigger,
    * merge the batch's refreshed hosts into an accumulated view (update
    * mode only emits hosts touched this trigger — publishing the batch
    * alone would silently drop every other tracked host from the file),
    * bound to the top `topN` by recency, and publish atomically. The
    * accumulator is pruned to `topN` each trigger, so driver memory is
    * bounded regardless of total host cardinality.
    *
    * On restart (`rehydrate=true`, the default) the accumulator is seeded
    * from the checkpoint's state store ([[rehydrateHostStats]]) and the
    * seeded snapshot published immediately, so the file is restart-complete
    * instead of re-filling as hosts receive traffic. The seed read is
    * bounded to the top `topN` by recency before it reaches the driver.
    */
  def snapshotQuery(stats: Dataset[HostStatsRow], outPath: String,
      topN: Int, intervalMs: Long, checkpoint: String,
      rehydrate: Boolean = true)
      (implicit spark: SparkSession) = {
    import org.apache.spark.sql.streaming.Trigger
    val accumulated = mutable.Map[String, HostStatsRow]()
    if (rehydrate) {
      val seeded = rehydrateHostStats(spark, checkpoint)
        .orderBy(desc("last_ts"), col("host")).limit(topN).collect()
      if (seeded.nonEmpty) accumulated.synchronized {
        seeded.foreach(r => accumulated(r.host) = r)
        val ordered = accumulated.values.toSeq.sorted(byRecencyDesc)
        writeSnapshotRowsAtomic(ordered, outPath)
      }
    }
    stats.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(intervalMs))
      .foreachBatch { (batch: Dataset[HostStatsRow], _: Long) =>
        // the batch is one refreshed row per touched host (bounded by state
        // size) — merge ALL of it; truncating before the merge would leave
        // stale rows in the accumulator for refreshed-but-unranked hosts
        val rows = batch.collect()
        accumulated.synchronized {
          rows.foreach(r => accumulated(r.host) = r)
          // one sort per trigger: its top `topN` both prune the
          // accumulator and are the published snapshot
          val ordered = accumulated.values.toSeq.sorted(byRecencyDesc).take(topN)
          if (accumulated.size > topN) {
            val keep = ordered.iterator.map(_.host).toSet
            accumulated.filterInPlace { case (h, _) => keep(h) }
          }
          // snapshot is driver-local and already bounded — serialize
          // directly, no Spark job on the publish hot path
          writeSnapshotRowsAtomic(ordered, outPath)
        }
      }
  }

  /** `s` as a JSON string: quote and backslash escaped, control
    * characters as four-hex-digit unicode escapes, all else as is. */
  private def appendJsonStr(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '"') sb.append("\\\"")
      else if (c == '\\') sb.append("\\\\")
      else if (c < ' ') sb.append("\\u00").append(hexDigits(c >> 4))
        .append(hexDigits(c & 0xf))
      else sb.append(c)
      i += 1
    }
    sb.append('"')
  }

  private val hexDigits = "0123456789abcdef"

  /** `"name":{...}` with the keys in sorted order. */
  private def appendJsonMap(sb: java.lang.StringBuilder, name: String,
      m: Map[String, Long]): Unit = {
    sb.append(",\"").append(name).append("\":{")
    val keys = m.keys.toArray.sorted
    var i = 0
    while (i < keys.length) {
      if (i > 0) sb.append(',')
      appendJsonStr(sb, keys(i))
      sb.append(':').append(m(keys(i)))
      i += 1
    }
    sb.append('}')
  }

  private def appendJsonTs(sb: java.lang.StringBuilder, name: String,
      t: java.sql.Timestamp): Unit =
    if (t != null) {
      sb.append(",\"").append(name).append("\":")
      appendJsonStr(sb, snapshotTsFmt.format(t.toInstant))
    }

  /** ISO-8601 UTC, millisecond precision — the same rendering `to_json`
    * gives a TimestampType under a UTC session timezone, and stable across
    * hosts regardless of the JVM default zone (Timestamp.toString is not).
    */
  private val snapshotTsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
    .withZone(java.time.ZoneOffset.UTC)

  /** Driver-local snapshot serialization (same field names as the
    * DataFrame JSON form; null timestamps omitted like to_json would),
    * built in one buffer: it runs on the stream thread every trigger.
    */
  private[streaming] def writeSnapshotRowsAtomic(rows: Seq[HostStatsRow],
      outPath: String): Unit = {
    val sb = new java.lang.StringBuilder()
    sb.append('[')
    rows.foreach { r =>
      if (sb.length > 1) sb.append(',')
      sb.append("{\"host\":")
      appendJsonStr(sb, r.host)
      appendJsonTs(sb, "first_ts", r.first_ts)
      appendJsonTs(sb, "last_ts", r.last_ts)
      sb.append(",\"total\":").append(r.total)
      appendJsonMap(sb, "contentTypes", r.contentTypes)
      appendJsonMap(sb, "statusCodes", r.statusCodes)
      appendJsonMap(sb, "viaHosts", r.viaHosts)
      sb.append('}')
    }
    sb.append(']')
    publishAtomic(outPath, sb.toString)
  }
}
