package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The rule must (a) land the range predicate in PushedFilters at the scan
  * and (b) never change results — boundary cases included (the floor-division
  * equivalences are easy to get off by one).
  */
class TimestampFilterPushdownSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Legacy ns-long encoded copy of the sf0.001 events table (the pre-r9
    * testdata generation): the rule's target shape, synthesized from the
    * current table so rule coverage survives testdata regeneration.
    */
  private lazy val nsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("nsevents").toString
    graft.Tables.events(spark, sf)
      .withColumn("ts", expr("unix_micros(ts) * 1000"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def rangeQuery = {
    val ev = graft.Tables.events(spark, nsDir) // filter AFTER ns→µs conversion
    ev.filter(col("ts") >= lit("2024-01-02 00:00:00").cast("timestamp") &&
      col("ts") < lit("2024-01-03 00:00:00").cast("timestamp"))
  }

  test("rule pushes the range predicate into the parquet scan") {
    TimestampFilterPushdown.enable(spark)
    val plan = rangeQuery.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(ts,"),
      s"expected pushed ns lower bound in:\n$plan")
    assert(plan.contains("LessThan(ts,"),
      s"expected pushed ns upper bound in:\n$plan")
  }

  test("native µs events table pushes timestamp predicates without the rule") {
    // the current testdata generation stores timestamp[us]; a plain
    // timestamp range predicate must reach the scan natively. The shared
    // session has the rule installed, so a bare child checks without it.
    val bare = spark.newSession()
    assert(!bare.experimental.extraOptimizations.contains(TimestampFilterPushdown))
    val plan = graft.Tables.eventsRange(bare, sf,
        java.time.Instant.parse("2024-01-02T00:00:00Z"),
        java.time.Instant.parse("2024-01-03T00:00:00Z"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(ts,") && plan.contains("LessThan(ts,"),
      s"expected pushed timestamp bounds in:\n$plan")
  }

  test("NTZ-cast unwrap: filters above Tables.events(µs table) reach the scan") {
    // Tables.events casts the native NTZ column to TimestampType; a later
    // timestamp filter sits above that cast — the rule unwraps it back to
    // the raw NTZ column so it pushes, and results match eventsRange
    TimestampFilterPushdown.enable(spark)
    val filtered = graft.Tables.events(spark, sf)
      .filter(col("ts") >= lit("2024-01-02 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-03 00:00:00").cast("timestamp"))
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(ts,") && plan.contains("LessThan(ts,"),
      s"expected unwrapped NTZ bounds pushed to the scan in:\n$plan")
    val viaRange = graft.Tables.eventsRange(spark, sf,
      java.time.Instant.parse("2024-01-02T00:00:00Z"),
      java.time.Instant.parse("2024-01-03T00:00:00Z")).count()
    assert(filtered.count() === viaRange)
  }

  test("rewritten filters return identical rows, boundaries included") {
    // baseline rows computed WITHOUT the rule on a fresh condition set
    val ev = graft.Tables.events(spark, nsDir)
    val conds = Seq(
      col("ts") >= lit("2024-01-02 00:00:00").cast("timestamp"),
      col("ts") > lit("2024-01-02 00:00:00").cast("timestamp"),
      col("ts") <= lit("2024-01-02 12:34:56").cast("timestamp"),
      col("ts") < lit("2024-01-02 12:34:56").cast("timestamp"),
      col("ts") === lit("2024-01-01 00:09:58").cast("timestamp"))
    // compute expected counts from the raw long column directly
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$nsDir/events.parquet")
    def nsOf(s: String): Long =
      java.time.LocalDateTime.parse(s.replace(" ", "T"))
        .toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000000L
    val expected = Seq(
      raw.filter(col("ts") >= nsOf("2024-01-02 00:00:00")).count(),
      raw.filter(col("ts") >= nsOf("2024-01-02 00:00:00") + 1000L).count(),
      raw.filter(col("ts") < nsOf("2024-01-02 12:34:56") + 1000L).count(),
      raw.filter(col("ts") < nsOf("2024-01-02 12:34:56")).count(),
      raw.filter(col("ts") >= nsOf("2024-01-01 00:09:58") &&
        col("ts") < nsOf("2024-01-01 00:09:58") + 1000L).count())

    TimestampFilterPushdown.enable(spark)
    val got = conds.map(c => ev.filter(c).count())
    assert(got === expected)
  }

  test("pre-epoch (negative ns) rows are not mispruned — DIV truncates toward zero") {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = java.nio.file.Files.createTempDirectory("negns").toString + "/t"
    // ns values straddling zero; trunc(-500/1000)=0 — a floor-based rewrite
    // would wrongly prune it from ts >= epoch
    Seq(-1500L, -1000L, -500L, 0L, 500L, 1500L).toDF("ts").write.parquet(dir)
    val ev = spark.read.parquet(dir)
      .withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
    TimestampFilterPushdown.enable(spark)
    val epoch = lit("1970-01-01 00:00:00").cast("timestamp")
    // t(ns) >= 0 ⟺ ns ∈ {-500, 0, 500, 1500} (trunc toward zero)
    assert(ev.filter(col("ts") >= epoch).count() === 4)
    // t(ns) <= -1ms... t(ns) < 0 ⟺ ns ∈ {-1500, -1000}
    assert(ev.filter(col("ts") < epoch).count() === 2)
    // equality at epoch: t(ns) = 0 ⟺ ns ∈ {-500, 0, 500}
    assert(ev.filter(col("ts") === epoch).count() === 3)
  }

  test("a microsecond-boundary equality matches rows within that microsecond") {
    // synthetic check of the equivalences themselves on exact boundaries
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = java.nio.file.Files.createTempDirectory("nsbound").toString + "/t"
    // rows straddling the microsecond boundary around 1_000_000_000 ns
    Seq(999999999L, 1000000000L, 1000000999L, 1000001000L).toDF("ts")
      .write.parquet(dir)
    val ev = spark.read.parquet(dir)
      .withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
    TimestampFilterPushdown.enable(spark)
    val eq = ev.filter(col("ts") === lit("1970-01-01 00:00:01").cast("timestamp"))
    assert(eq.count() === 2) // 1000000000 and 1000000999 ns are in second 1... µs 1_000_000
  }

  test("GraftExtensions registers the pushdown rules and the asof strategy") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val rules = ColumnBridge.builtOptimizerRules(ext, spark)
    assert(rules.contains(TimestampFilterPushdown))
    assert(rules.contains(AsofJoinOptimizations))
    val strategies = ColumnBridge.builtPlannerStrategies(ext, spark)
    assert(strategies.contains(AsofJoinPlan.AsofJoinStrategy))
  }
}
