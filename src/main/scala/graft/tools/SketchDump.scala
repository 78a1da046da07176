// Exports the s04 hyperplane-LSH sketch column as (vec_id, sketch) CSV for
// tools/gen_signature_vectors.py. The sketch is arbitrary by construction
// (seeded pseudo-random planes), so the oracle takes these ints as given
// and independently recomputes everything downstream of them in DuckDB —
// integer export sidesteps any float-literal formatting at sign boundaries.
// Run: sbt -batch "runMain graft.tools.SketchDump <sfDir> [outCsv]"
package graft.tools

import org.apache.spark.sql.functions.col
import graft.Tables
import graft.operators.SimilarityOps

object SketchDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "/tmp/sketches.csv"
    val spark = graft.jobs.JobSession.local("graft-sketch-dump", "local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    // Must mirror lshNearDupPairs exactly: double-cast vector, dim=64,
    // nBits=32, default seed.
    val rows = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        SimilarityOps.hyperplaneSketch(
          col("embedding").cast("array<double>"), dim = 64, nBits = 32)
          .as("sketch"))
      .orderBy(col("vec_id"))
      .collect()
    val sb = new StringBuilder("vec_id,sketch\n")
    rows.foreach(r => sb.append(r.getLong(0)).append(',')
      .append(r.getLong(1)).append('\n'))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"wrote $out: ${rows.length} sketches")
    spark.stop()
  }
}
