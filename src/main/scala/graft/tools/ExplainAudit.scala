// Plan audit harness: prints formatted plans for representative queries.
// Run: sbt -batch "runMain graft.tools.ExplainAudit <sfDir> [query...]"
package graft.tools

object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_pricing_summary", "q05_revenue_by_nation", "q03_order_revenue",
        "a08_time_range_count", "s05_limited_scan", "d01_exact_dedup",
        "s01_knn_brute", "q07_semi_join",
        "q17_asof_join", "q21_range_join", "s04_lsh_neardup", "t04_lang_id",
        "s07_ivf_probe_topk", "m02_frame_sample", "t06_hash_split",
        "d07_decontaminate", "t08_repetition")
    val spark = graft.jobs.JobSession.local("graft-explain-audit", "local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n=============== $n ===============")
      graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
