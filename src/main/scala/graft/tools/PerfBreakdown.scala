package graft.tools

/** Dev probe (r17 optimization round): per-query PLANNING vs EXECUTION
  * split, bench-identical session (local[$SPARK_GRAFT_CPUS], shuffle
  * partitions = cpus, AQE on, UTC, noop sink). For each named query it
  * reports, in seconds:
  *
  *   build  — registry lambda → DataFrame (driver loops like the BPE
  *            trainer and CC iterations execute HERE, so this includes
  *            their jobs)
  *   plan   — queryExecution.executedPlan force (analysis + optimization
  *            + physical planning of the final frame, NOT of the noop
  *            write wrapper)
  *   exec1  — first noop write (includes the write's own re-planning +
  *            codegen compile)
  *   exec2  — second noop write on a REBUILT frame (the bench's steady
  *            state: best-of-3 re-runs the registry lambda each time)
  *
  * Usage: SPARK_GRAFT_CPUS=32 runMain graft.tools.PerfBreakdown
  *          /root/testdata/sf0.1 q1 q2 ...
  */
object PerfBreakdown {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PerfBreakdown <sfDir> <query...>")
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.jobs.JobSession.local("graft-perf-breakdown", s"local[$cpus]")
    spark.sparkContext.setLogLevel("ERROR")
    // bench-identical warmup: table footers + one aggregate
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      graft.Tables.table(spark, sfDir, t).count()
    }
    graft.Tables.events(spark, sfDir).count()
    def t[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    println(f"${"query"}%-28s ${"build"}%8s ${"plan"}%8s ${"exec1"}%8s ${"exec2"}%8s ${"exec3"}%8s")
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      val (tb, df) = t(fn(spark, sfDir))
      val (tp, _) = t(df.queryExecution.executedPlan)
      val (te1, _) = t(noop(df))
      val (tb2, df2) = t(fn(spark, sfDir))
      val (te2, _) = t(noop(df2))
      val (tb3, df3) = t(fn(spark, sfDir))
      val (te3, _) = t(noop(df3))
      println(f"$n%-28s $tb%8.3f $tp%8.3f $te1%8.3f ${tb2 + te2}%8.3f ${tb3 + te3}%8.3f")
    }
    spark.stop()
  }
}
