package graft

import graft.sources.LocalFs
import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for test suites (one JVM-wide via getOrCreate),
  * on the production mains' `file:` filesystem ([[LocalFs.confs]]). */
trait SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(LocalFs.confs(new SparkConf()).toMap)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
