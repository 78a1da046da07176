package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev probe (r17): per-JOB wall timeline of one registered query —
  * build + one noop execution — so iterative operators' driver-loop
  * costs (pins, argmax collects, isEmpty checks) are attributable
  * job-by-job instead of guessed.
  *
  * Usage: SPARK_GRAFT_CPUS=32 runMain graft.tools.JobTimeline
  *          /root/testdata/sf0.1 m11_audio_clusters
  */
object JobTimeline {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: JobTimeline <sfDir> <query>")
    val sfDir = args(0)
    val name = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.jobs.JobSession.local("graft-job-timeline", s"local[$cpus]")
    spark.sparkContext.setLogLevel("ERROR")
    sys.env.get("GRAFT_TL_AQE").foreach(spark.conf.set("spark.sql.adaptive.enabled", _))
    sys.env.get("GRAFT_TL_PARTS").foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse(js.stageInfos.lastOption.map(si =>
            si.name + " nTasks=" + si.numTasks).getOrElse("?"))
        starts.put(js.jobId, (js.time, desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.get(je.jobId)).foreach { case (t0, desc) =>
          done.add((je.jobId, t0, je.time, desc))
        }
      }
    })
    // warm tables like the bench
    graft.Tables.documents(spark, sfDir).count()
    graft.Tables.embeddings(spark, sfDir).count()
    Thread.sleep(200)
    done.clear()
    val t0 = System.nanoTime()
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    val tBuild = (System.nanoTime() - t0) / 1e9
    df.write.format("noop").mode("overwrite").save()
    val tTotal = (System.nanoTime() - t0) / 1e9
    Thread.sleep(300)
    import scala.jdk.CollectionConverters._
    val jobs = done.asScala.toSeq.sortBy(_._1)
    val base = jobs.headOption.map(_._2).getOrElse(0L)
    jobs.foreach { case (id, s, e, desc) =>
      println(f"[jobtl] job=$id%3d start=${(s - base) / 1000.0}%7.2f dur=${(e - s) / 1000.0}%6.2f s  ${desc.take(90)}")
    }
    println(f"[jobtl] $name build=${tBuild}%.2f total=${tTotal}%.2f jobs=${jobs.size}")
    spark.stop()
  }
}
