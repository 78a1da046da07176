package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The package-private entry points the benchmark harness calls, opened
  * unchanged: the production mains' session (`JobSession.local`:
  * `local[*]` or `$SPARK_MASTER`, UTC, AQE on), so a change to a program
  * default shows up in the benchmark's numbers, and the streamer's replay
  * filter. */
object BenchAccess {
  def session(app: String): SparkSession = JobSession.local(app)

  def timeRange(raw: DataFrame, startIso: String, endIso: String): DataFrame =
    StreamerMain.timeRange(raw, startIso, endIso)
}
