package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

/** Byte-exact golden of the driver-local snapshot file the analyse
  * service publishes every trigger: field order, escaping of quote,
  * backslash and control characters (four lower-case hex digits), DEL and
  * non-BMP characters as is, omitted null timestamps, map keys sorted by
  * UTF-16 code unit, UTF-8 bytes. No Spark session.
  */
class SnapshotJsonSpec extends AnyFunSuite {
  import AnalysisStream.{HostStatsRow, writeSnapshotRowsAtomic}

  private def ts(iso: String) = Timestamp.from(Instant.parse(iso))

  private def published(rows: Seq[HostStatsRow]): Array[Byte] = {
    val dir = Files.createTempDirectory("snapshot-golden")
    val out = dir.resolve("snap.json")
    writeSnapshotRowsAtomic(rows, out.toString)
    Files.readAllBytes(out)
  }

  // a literal backslash, so the golden spells out the escapes it expects
  private val bs = "\\"

  test("golden: escaping, null timestamps and unsorted map keys") {
    val rows = Seq(
      HostStatsRow("a\"b\\c\nd\u0001",
        ts("2021-01-16T17:00:00.123Z"), ts("2021-01-16T18:05:09.007Z"), 7L,
        Map("text/html" -> 3L, "image/png" -> 1L, "a\"q" -> 2L),
        Map("404" -> 1L, "200" -> 5L, "\t" -> 1L),
        Map("z.org" -> 1L, "b.org" -> 2L)),
      HostStatsRow("plain.org", null, null, 0L, Map(), Map(), Map()),
      HostStatsRow("é☃\u007f😀", ts("1970-01-01T00:00:00Z"),
        null, -1L, Map("k\u001fv" -> Long.MaxValue, "K" -> 0L), Map(),
        Map("\\" -> Long.MinValue)))
    val expected =
      "[" +
      s"""{"host":"a$bs"b$bs${bs}c${bs}u000ad${bs}u0001",""" +
      """"first_ts":"2021-01-16T17:00:00.123Z",""" +
      """"last_ts":"2021-01-16T18:05:09.007Z","total":7,""" +
      s""""contentTypes":{"a$bs"q":2,"image/png":1,"text/html":3},""" +
      s""""statusCodes":{"${bs}u0009":1,"200":5,"404":1},""" +
      """"viaHosts":{"b.org":2,"z.org":1}},""" +
      """{"host":"plain.org","total":0,"contentTypes":{},""" +
      """"statusCodes":{},"viaHosts":{}},""" +
      "{\"host\":\"é☃\u007f😀\"," +
      """"first_ts":"1970-01-01T00:00:00.000Z","total":-1,""" +
      s""""contentTypes":{"K":0,"k${bs}u001fv":9223372036854775807},""" +
      s""""statusCodes":{},"viaHosts":{"$bs$bs":-9223372036854775808}}""" +
      "]"
    assert(new String(published(rows), "UTF-8") === expected)
    assert(published(rows).sameElements(expected.getBytes("UTF-8")))
  }

  test("golden: an empty snapshot is an empty JSON array") {
    assert(new String(published(Nil), "UTF-8") === "[]")
  }
}
