package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for test suites (one JVM-wide), built by the
  * production factory ([[graft.jobs.JobSession.local]]) at `local[4]`, so
  * 4 shuffle partitions. */
trait SparkSpec {
  lazy val spark: SparkSession = graft.jobs.JobSession.local("graft-test", "local[4]")
}
