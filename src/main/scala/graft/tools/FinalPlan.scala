package graft.tools

/** Dev utility: run one registered query to completion and print the FINAL
  * adaptive plan (`isFinalPlan=true`), not the initial one. AQE re-plans
  * joins at runtime (shuffle→broadcast conversion, stage-level broadcast
  * reuse — see the r9 broadcast-reuse trap in NOTES), so any plan-shape
  * judgement based on `.explain()` before execution can be wrong twice:
  * exchanges appear at preparation, and join strategies flip at stage
  * boundaries. This prints the executed plan AFTER a full collect, with
  * the join/exchange lines extracted for quick reading.
  *
  * Usage: runMain graft.tools.FinalPlan <name> [sfDir]
  */
object FinalPlan {
  def main(a: Array[String]): Unit = {
    if (a.isEmpty) {
      System.err.println("usage: FinalPlan <queryName> [sfDir]")
      sys.exit(2)
    }
    val name = a(0)
    val d = if (a.length > 1) a(1) else "/root/testdata/sf0.01"
    val spark = graft.jobs.JobSession.local("graft-final-plan", "local[16]")
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'"))(spark, d)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    println(s"=== $name final plan (sfDir=$d) ===")
    println("isFinalPlan=true: " + plan.contains("isFinalPlan=true"))
    plan.linesIterator
      .filter(l => l.contains("Join") || l.contains("Exchange") ||
        l.contains("isFinalPlan") || l.contains("AQEShuffleRead"))
      .foreach(println)
    println("=== full plan ===")
    println(plan)
    spark.stop()
  }
}
