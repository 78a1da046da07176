package graft.tools

/** Dev utility: run one registered query by name against an sf dir, write
  * its parquet result, and report cold + warm wall time. Keeps per-query
  * iteration off the full Verify/Bench cycle.
  *
  * Usage: runMain graft.tools.RunQuery <name> [sfDir] [outDir]
  */
object RunQuery {
  def main(a: Array[String]): Unit = {
    if (a.isEmpty) {
      System.err.println("usage: RunQuery <queryName> [sfDir] [outDir]")
      System.err.println(graft.SparkEntry.queries.keys.toSeq.sorted.mkString("\n"))
      sys.exit(2)
    }
    val name = a(0)
    val d = if (a.length > 1) a(1) else "/root/testdata/sf0.01"
    val out = if (a.length > 2) a(2) else s"/tmp/runquery/$name"
    val spark = graft.jobs.JobSession.local("graft-run-query", "local[16]")
    spark.sparkContext.setLogLevel("ERROR")
    val fn = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'"))
    var t0 = System.nanoTime()
    fn(spark, d).coalesce(1).write.mode("overwrite").parquet(out)
    println(s"$name cold secs=${(System.nanoTime() - t0) / 1e9} -> $out")
    t0 = System.nanoTime()
    fn(spark, d).count()
    println(s"$name warm secs=${(System.nanoTime() - t0) / 1e9}")
    spark.stop()
  }
}
