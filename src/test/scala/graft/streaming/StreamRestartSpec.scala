package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint-restart coverage for the round-5 streaming operators
  * (VERDICT r5 #7, the ST8 treatment hostStats already has): join state
  * and transformWithState value-state + timers must survive a stop/start
  * from the same checkpoint — an operator that silently loses state on
  * restart mis-reports instead of failing. Plus the ADVICE r5 pin that
  * `lateness` (watermark delay) and `horizon` (join time range) are
  * genuinely independent knobs on [[CrawlStreams.launchOutcomes]].
  */
class StreamRestartSpec extends AnyFunSuite with SparkSpec {
  import AnalysisStream._
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def ev(host: String, t: String): StatEvent =
    StatEvent(host, ts(t), Some(200), Some("text/html"), None, None)

  /** foreachBatch sink collecting into a buffer: the memory sink refuses
    * checkpoint recovery, and restart-survival is exactly what these tests
    * exercise.
    */
  private def collectingSink(df: org.apache.spark.sql.DataFrame,
      ckpt: String, buf: scala.collection.concurrent.TrieMap[Long, Array[org.apache.spark.sql.Row]]) =
    df.writeStream
      .foreachBatch((batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          id: Long) => { buf.put(id, batch.collect()); () })
      .option("checkpointLocation", ckpt)
      .outputMode("append")

  test("launchOutcomes: a launch buffered before restart matches a result after it") {
    implicit val sqlCtx = spark.sqlContext
    val lIn = MemoryStream[(String, java.sql.Timestamp)]
    val rIn = MemoryStream[(String, java.sql.Timestamp)]
    val joined = CrawlStreams.launchOutcomes(
      lIn.toDF().toDF("url", "launch_ts"),
      rIn.toDF().toDF("crawl_url", "crawl_ts"), "10 minutes")
    val ckpt = java.nio.file.Files.createTempDirectory("lo-ckpt").toString
    val buf = new scala.collection.concurrent.TrieMap[Long, Array[org.apache.spark.sql.Row]]

    val q1 = collectingSink(joined, ckpt, buf).start()
    try {
      lIn.addData(("http://a/1", ts("2021-01-16 17:00:00")))
      q1.processAllAvailable()
      assert(buf.values.flatten.isEmpty) // no outcome yet
    } finally q1.stop()

    // restart from the checkpoint: the buffered launch must still be in
    // join state, so a result INSIDE its horizon matches post-restart
    val q2 = collectingSink(joined, ckpt, buf).start()
    try {
      rIn.addData(("http://a/1", ts("2021-01-16 17:03:00")))
      q2.processAllAvailable()
      val rows = buf.values.flatten.toArray
      assert(rows.length === 1, "join state lost across restart")
      assert(rows.head.getAs[String]("url") === "http://a/1")
      assert(rows.head.getAs[Long]("latency_s") === 180L)
    } finally q2.stop()
  }

  test("idleHosts: value state and event-time timers survive a restart") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[StatEvent]
    val idle = AnalysisStream.idleHosts(in.toDS(),
      idleMs = 30 * 60 * 1000L, watermark = "10 minutes")
    val ckpt = java.nio.file.Files.createTempDirectory("idle-ckpt").toString
    val buf = new scala.collection.concurrent.TrieMap[Long, Array[org.apache.spark.sql.Row]]

    val q1 = collectingSink(idle.toDF(), ckpt, buf).start()
    try {
      in.addData(ev("a.org", "2021-01-16 17:00:00"),
        ev("a.org", "2021-01-16 17:05:00"),
        ev("b.org", "2021-01-16 17:06:00"))
      q1.processAllAvailable()
      assert(buf.values.flatten.isEmpty) // nothing idle yet
    } finally q1.stop()

    // restart: a.org goes silent, only b.org traffic advances the
    // watermark past a.org's deadline — the alert must carry the
    // PRE-restart state (2 events, last_ts 17:05)
    val q2 = collectingSink(idle.toDF(), ckpt, buf).start()
    try {
      in.addData(ev("b.org", "2021-01-16 18:00:00"))
      q2.processAllAvailable()
      in.addData(ev("b.org", "2021-01-16 18:30:00"))
      q2.processAllAvailable()
      val alerts = buf.values.flatten.toArray
      assert(alerts.map(_.getAs[String]("host")).toSeq === Seq("a.org"),
        "timer or value state lost across restart")
      assert(alerts.head.getAs[Long]("n_events") === 2L)
      assert(alerts.head.getAs[java.sql.Timestamp]("last_ts").toString
        === "2021-01-16 17:05:00.0")
    } finally {
      q2.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  /** The analyse service's topology (`hostStats` -> `snapshotQuery`) over
    * a file source in a temp dir, each run in a scoped child session so
    * the shared session's confs stay untouched. */
  private class HostStatsRun(prefix: String) {
    import java.nio.file.{Files, StandardCopyOption}
    private val dir = Files.createTempDirectory(prefix)
    private val inDir = Files.createDirectories(dir.resolve("in"))
    private val out = dir.resolve("stats.json").toString
    val ckpt = dir.resolve("ckpt").toString
    private val enc = org.apache.spark.sql.Encoders.product[StatEvent]

    /** One JSON-lines file per batch, moved in whole so the file source
      * never lists a half-written file. */
    def feed(name: String, events: (String, String, Int)*): Unit = {
      val body = events.map { case (host, t, status) =>
        s"""{"host":"$host","event_ts":"${t}Z","status_code":$status,""" +
          """"mimetype":"text/html"}"""
      }.mkString("", "\n", "\n")
      val tmp = Files.writeString(dir.resolve(name), body)
      Files.move(tmp, inDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }

    /** Drain the fed files in a child session with `confs` set; returns
      * the state partition count the data batch ran with. */
    def runOnce(confs: (String, String)*): Long = {
      val s = spark.newSession()
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val events = s.readStream.schema(enc.schema).json(inDir.toString).as(enc)
      val q = snapshotQuery(hostStats(events), out, topN = 500,
        intervalMs = 100L, checkpoint = ckpt)(s).start()
      try {
        q.processAllAvailable()
        q.recentProgress.filter(_.numInputRows > 0).last
          .stateOperators.head.numShufflePartitions
      } finally q.stop()
    }

    /** The published snapshot and the checkpoint's state both hold
      * exactly `expected` events per host; returns both, by host. */
    def assertCounts(expected: Map[String, Long])
        : (Map[String, org.apache.spark.sql.Row], Map[String, HostStatsRow]) = {
      val snap = spark.read.option("multiLine", "true").json(out).collect()
        .map(r => r.getAs[String]("host") -> r).toMap
      assert(snap.view.mapValues(_.getAs[Long]("total")).toMap === expected)
      val state = rehydrateHostStats(spark, ckpt).collect()
        .map(r => r.host -> r).toMap
      assert(state.view.mapValues(_.total).toMap === expected)
      (snap, state)
    }
  }

  test("hostStats snapshot: a checkpoint first started at 200 state " +
      "partitions resumes with exact counts under a 4-partition session") {
    val run = new HostStatsRun("parts-ckpt")
    val partitions = "spark.sql.shuffle.partitions"
    run.feed("b1.json", ("a.org", "2021-01-16T17:00:00", 200),
      ("a.org", "2021-01-16T17:05:00", 404),
      ("b.org", "2021-01-16T17:01:00", 200),
      ("c.org", "2021-01-16T17:02:00", 301))
    assert(run.runOnce(partitions -> "200") === 200L)
    run.feed("b2.json", ("a.org", "2021-01-16T18:00:00", 200),
      ("b.org", "2021-01-16T18:01:00", 200),
      ("b.org", "2021-01-16T18:02:00", 404),
      ("d.org", "2021-01-16T18:03:00", 200))
    // the offset log pins the checkpoint's count over the session's 4
    assert(run.runOnce(partitions -> "4") === 200L,
      "state partition count not pinned")

    val (snap, state) = run.assertCounts(
      Map("a.org" -> 3L, "b.org" -> 3L, "c.org" -> 1L, "d.org" -> 1L))
    val aCodes = snap("a.org").getAs[org.apache.spark.sql.Row]("statusCodes")
    assert(aCodes.getAs[Long]("200") === 2L && aCodes.getAs[Long]("404") === 1L)
    assert(state("b.org").statusCodes === Map("200" -> 2L, "404" -> 1L))
  }

  test("hostStats snapshot: a checkpoint written by Hadoop's stock file: " +
      "filesystem resumes with exact counts on the fork-free one, and back") {
    import org.apache.hadoop.fs.{FileContext, FileSystem}
    // Hadoop's own classes for the child session (the FileSystem cache is
    // keyed by scheme, not conf, so the stock run bypasses it)
    val stock = Seq(
      "fs.file.impl" -> "org.apache.hadoop.fs.LocalFileSystem",
      "fs.file.impl.disable.cache" -> "true",
      "fs.AbstractFileSystem.file.impl" -> "org.apache.hadoop.fs.local.LocalFs")
    val stockConf = spark.newSession()
    stock.foreach { case (k, v) => stockConf.conf.set(k, v) }
    val hconf = stockConf.sessionState.newHadoopConf()
    val root = java.net.URI.create("file:///")
    assert(FileContext.getFileContext(root, hconf).getDefaultFileSystem
      .getClass.getName === "org.apache.hadoop.fs.local.LocalFs")
    assert(FileSystem.get(root, hconf).getClass.getName ===
      "org.apache.hadoop.fs.LocalFileSystem")

    val run = new HostStatsRun("stockfs-ckpt")
    run.feed("b1.json", ("a.org", "2021-01-16T17:00:00", 200),
      ("a.org", "2021-01-16T17:05:00", 404),
      ("b.org", "2021-01-16T17:01:00", 200))
    run.runOnce(stock: _*)
    run.feed("b2.json", ("a.org", "2021-01-16T18:00:00", 200),
      ("c.org", "2021-01-16T18:01:00", 200))
    run.runOnce() // the shared session's fork-free filesystem
    run.assertCounts(Map("a.org" -> 3L, "b.org" -> 1L, "c.org" -> 1L))
    run.feed("b3.json", ("b.org", "2021-01-16T19:00:00", 301),
      ("c.org", "2021-01-16T19:01:00", 200))
    run.runOnce(stock: _*)
    run.assertCounts(Map("a.org" -> 3L, "b.org" -> 2L, "c.org" -> 2L))
  }

  test("hostStats snapshot: a restart from a checkpoint whose last offsets " +
      "file has a flipped byte fails with a ChecksumException") {
    import java.nio.file.{Files, Paths}
    val run = new HostStatsRun("crc-ckpt")
    run.feed("b1.json", ("a.org", "2021-01-16T17:00:00", 200),
      ("b.org", "2021-01-16T17:01:00", 404))
    run.runOnce()
    run.feed("b2.json", ("a.org", "2021-01-16T18:00:00", 200))
    run.runOnce()
    run.assertCounts(Map("a.org" -> 2L, "b.org" -> 1L))

    val offsets = Paths.get(run.ckpt, "offsets")
    val last = Files.list(offsets).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    assert(Files.exists(offsets.resolve(s".${last.getFileName}.crc")))
    val bytes = Files.readAllBytes(last)
    val i = bytes.length / 2
    bytes(i) = (bytes(i) ^ 0x01).toByte
    Files.write(last, bytes)

    run.feed("b3.json", ("c.org", "2021-01-16T19:00:00", 200))
    val e = intercept[Exception](run.runOnce())
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(chain.exists(_.isInstanceOf[org.apache.hadoop.fs.ChecksumException]),
      chain.map(_.toString).mkString("\n"))
  }

  test("lateness below the horizon is rejected up front") {
    implicit val sqlCtx = spark.sqlContext
    val lIn = MemoryStream[(String, java.sql.Timestamp)]
    val rIn = MemoryStream[(String, java.sql.Timestamp)]
    // a tighter watermark than the join window would drop in-horizon
    // stragglers pre-join — the conflation the knob exists to fix
    val e = intercept[IllegalArgumentException] {
      CrawlStreams.launchOutcomes(
        lIn.toDF().toDF("url", "launch_ts"),
        rIn.toDF().toDF("crawl_url", "crawl_ts"), "10 minutes",
        lateness = Some("1 minute"))
    }
    assert(e.getMessage.contains("must be >= horizon"))
  }

  test("lateness == horizon: a result straggling past the watermark is dropped") {
    implicit val sqlCtx = spark.sqlContext
    val lIn = MemoryStream[(String, java.sql.Timestamp)]
    val rIn = MemoryStream[(String, java.sql.Timestamp)]
    val joined = CrawlStreams.launchOutcomes(
      lIn.toDF().toDF("url", "launch_ts"),
      rIn.toDF().toDF("crawl_url", "crawl_ts"), "10 minutes")
    val q = joined.writeStream.format("memory").queryName("lo_tight")
      .outputMode("append").start()
    try {
      lIn.addData(("http://a/1", ts("2021-01-16 17:00:00")),
        ("http://a/keepopen", ts("2021-01-16 18:10:00")))
      // result-stream watermark advances to 18:00 - 10min = 17:50 ...
      rIn.addData(("http://other/x", ts("2021-01-16 18:00:00")))
      q.processAllAvailable()
      // ... so a matching result at 17:03 (inside the horizon, but 57 min
      // behind the result watermark) is discarded as late
      rIn.addData(("http://a/1", ts("2021-01-16 17:03:00")))
      q.processAllAvailable()
      assert(spark.table("lo_tight").collect()
        .count(_.getAs[String]("url") === "http://a/1") === 0)
    } finally q.stop()
  }

  test("lateness > horizon: the same straggler matches without widening the join") {
    implicit val sqlCtx = spark.sqlContext
    val lIn = MemoryStream[(String, java.sql.Timestamp)]
    val rIn = MemoryStream[(String, java.sql.Timestamp)]
    val joined = CrawlStreams.launchOutcomes(
      lIn.toDF().toDF("url", "launch_ts"),
      rIn.toDF().toDF("crawl_url", "crawl_ts"), "10 minutes",
      lateness = Some("2 hours"))
    val q = joined.writeStream.format("memory").queryName("lo_slack")
      .outputMode("append").start()
    try {
      lIn.addData(("http://a/1", ts("2021-01-16 17:00:00")),
        ("http://a/keepopen", ts("2021-01-16 18:10:00")))
      rIn.addData(("http://other/x", ts("2021-01-16 18:00:00")))
      q.processAllAvailable()
      // watermark is now 16:00 (2h delay): the 17:03 straggler is accepted
      rIn.addData(("http://a/1", ts("2021-01-16 17:03:00")))
      q.processAllAvailable()
      val hit = spark.table("lo_slack").collect()
        .filter(_.getAs[String]("url") === "http://a/1")
      assert(hit.length === 1, "in-horizon straggler should match under wider lateness")
      assert(hit.head.getAs[Long]("latency_s") === 180L)
      // the join window itself did NOT widen: an outcome past the horizon
      // still never matches
      rIn.addData(("http://a/keepopen", ts("2021-01-16 18:40:00"))) // 30 min later
      q.processAllAvailable()
      assert(spark.table("lo_slack").collect()
        .count(_.getAs[String]("url") === "http://a/keepopen") === 0)
    } finally q.stop()
  }

  test("leakageByWindow: both stacked aggregation states survive a restart") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.DedupOps
    val bench = Seq((0L, "a b c d")).toDF("doc_id", "text")
    val benchSet = DedupOps.benchShingleSet(bench, "text", 3)
    val in = MemoryStream[(Long, java.sql.Timestamp, String, String)]
    val mon = PipelineStreams.leakageByWindow(
      in.toDF().toDF("doc_id", "ts", "source", "text"), benchSet,
      "ts", "source", "doc_id", "text", "10 minutes", "5 minutes")
    val ckpt = java.nio.file.Files.createTempDirectory("lw-ckpt").toString
    val buf = new scala.collection.concurrent.TrieMap[Long, Array[org.apache.spark.sql.Row]]

    val q1 = collectingSink(mon, ckpt, buf).start()
    try {
      // a contaminated doc lands in the open window, no emission yet
      in.addData((10L, ts("2021-01-16 17:00:00"), "web", "x a b c y"))
      q1.processAllAvailable()
      assert(buf.values.flatten.isEmpty)
    } finally q1.stop()

    // restart: the (window, source, doc) flag AND the (window, source)
    // rollup state must both rehydrate — a clean doc joins the same
    // window, then the watermark closes it with the COMBINED counts
    val q2 = collectingSink(mon, ckpt, buf).start()
    try {
      in.addData((11L, ts("2021-01-16 17:01:00"), "web", "novel clean words"))
      q2.processAllAvailable()
      in.addData((99L, ts("2021-01-16 17:40:00"), "late", "x"))
      q2.processAllAvailable()
      val web = buf.values.flatten.toArray
        .filter(_.getAs[String]("source") === "web")
      assert(web.length === 1, "window state lost across restart")
      assert(web.head.getAs[Long]("n_docs") === 2L)
      assert(web.head.getAs[Long]("n_contaminated") === 1L)
      assert(web.head.getAs[Long]("contam_milli") === 500L)
    } finally q2.stop()
  }
}
