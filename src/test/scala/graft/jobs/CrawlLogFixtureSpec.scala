package graft.jobs

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.SparkSpec
import graft.functions.CrawlCols
import graft.schema.CrawlSchemas
import graft.streaming.CrawlStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The parse and report paths against the committed seeded crawl log
  * (`tools/crawl_log_fixture.py`): both variants, negative status codes,
  * `dns:`/`screenshot:` URLs, empty hop paths, the open `extra_info` map,
  * non-JSON lines, non-event objects and malformed timestamps. Every
  * expected figure comes from the generator's own JSON, derived in Python
  * from the records it wrote.
  */
class CrawlLogFixtureSpec extends AnyFunSuite with SparkSpec {

  private def resource(name: String) =
    Paths.get(getClass.getResource(s"/$name").toURI).toString

  private val logPath = resource("crawl_log_fixture.jsonl")
  private val exp: JsonNode = new ObjectMapper()
    .readTree(Files.readString(Paths.get(resource("crawl_log_fixture.expected.json"))))

  private def long(path: String*): Long = path.foldLeft(exp)(_.get(_)).asLong
  private def text(path: String*): String = path.foldLeft(exp)(_.get(_)).asText
  private def counts(path: String*): Map[String, Long] =
    path.foldLeft(exp)(_.get(_)).fields.asScala
      .map(e => e.getKey -> e.getValue.asLong).toMap

  private def histogram(df: DataFrame, c: org.apache.spark.sql.Column) =
    df.groupBy(c.cast("string").as("k")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private def sha1(lines: Seq[String]): String =
    MessageDigest.getInstance("SHA-1")
      .digest(lines.sorted.mkString("\n").getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  private lazy val events = {
    val d = spark.read.schema(CrawlSchemas.crawlEventSchema).json(logPath)
    d.cache()
    d
  }
  private lazy val heritrix = events.filter(col("thread").isNotNull)

  test("parseCrawlEvents flags non-JSON lines and non-events, nulls bad timestamps") {
    val raw = spark.read.text(logPath).withColumn("key", lit(null).cast("binary"))
    val parsed = CrawlStreams.parseCrawlEvents(raw)
    assert(parsed.count() === long("parse", "rows"))
    assert(parsed.filter(col("malformed")).count() === long("parse", "malformed"))
    assert(parsed.filter(col("event_ts").isNull).count() ===
      long("parse", "event_ts_null"))
    // the raw line rides along unchanged
    assert(parsed.filter(col("json").isNull).count() === 0)
  }

  test("union schema: variants, status codes, last hops and the extra_info map") {
    assert(events.count() === long("lines"))
    assert(heritrix.count() === long("variants", "heritrix"))
    assert(events.filter(col("warc_type").isNotNull).count() ===
      long("variants", "webrender"))
    assert(histogram(events.filter(col("status_code").isNotNull),
      col("status_code")) === counts("status"))
    assert(histogram(heritrix, CrawlCols.lastHop(col("hop_path"))) ===
      counts("last_hop"))
    assert(histogram(heritrix.select(explode(map_keys(col("extra_info"))).as("k")),
      col("k")) === counts("extra_info_keys"))
  }

  test("url shapes: dns:, screenshot: and http(s), hosts matched case-blind") {
    assert(events.filter(col("url").startsWith("dns:")).count() === long("urls", "dns"))
    assert(events.filter(col("url").startsWith("screenshot:")).count() ===
      long("urls", "screenshot"))
    val http = events.filter(col("url").startsWith("http"))
    assert(http.count() === long("urls", "http"))
    assert(http.filter(CrawlCols.hostOf(col("url")) =!= lower(col("host")))
      .count() === 0)
  }

  test("start_time_plus_duration splits, with and without its duration") {
    val st = events.select(
      CrawlCols.splitStartTime(col("start_time_plus_duration")).as("st"))
    assert(st.filter(col("st.start_time").isNotNull).count() ===
      long("start_time", "present"))
    assert(st.filter(col("st.duration_ms").isNotNull).count() ===
      long("start_time", "with_duration"))
  }

  test("StreamerMain.timeRange keeps [start, end) lines byte for byte") {
    val got = StreamerMain.timeRange(spark.read.text(logPath),
      text("time_range", "start"), text("time_range", "end"))
      .collect().map(_.getString(0)).toSeq
    assert(got.size === long("time_range", "count"))
    assert(sha1(got) === text("time_range", "sha1"))
  }

  test("ReportJob raw and crawl-log formats") {
    assert(ReportJob.rawStream(events).count() === long("report", "raw"))
    val lines = ReportJob.crawlLogStream(events).collect().map(_.getString(0)).toSeq
    assert(lines.size === long("report", "crawl_log", "count"))
    assert(sha1(lines) === text("report", "crawl_log", "sha1"))
  }

  test("ReportJob summary: per-host totals and first external via") {
    val got = ReportJob.hostSummary(events).collect()
      .map(r => r.getAs[String]("host") ->
        (r.getAs[Long]("tot"), r.getAs[String]("via"))).toMap
    val want = exp.get("report").get("summary").fields.asScala
      .map(e => e.getKey -> (e.getValue.get("tot").asLong, e.getValue.get("via").asText))
      .toMap
    assert(got === want)
  }

  test("ReportJob solr documents: routed annotations and derived fields") {
    val docs = ReportJob.solrDocs(events).cache()
    assert(docs.count() === long("report", "solr", "count"))
    assert(histogram(docs, col("crawler")) === counts("report", "solr", "crawler"))
    for (c <- Seq("ip", "dol", "launch_timestamp", "start_time", "duration"))
      assert(docs.filter(col(c).isNotNull).count() === long("report", "solr", c), c)
    assert(docs.select(sum(size(col("annotations")))).head().getLong(0) ===
      long("report", "solr", "tags_kept"))
    assert(sha1(docs.select("id").collect().map(_.getString(0)).toSeq) ===
      text("report", "solr", "id_sha1"))
    assert(!docs.columns.contains("extra_info"))
    docs.unpersist()
  }
}
