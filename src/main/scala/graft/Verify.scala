package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Verify <sfDir> <outDir> [queryName...] — names filter the registry
    // (used for fixture-subset gates, e.g. the empty-document parity check
    // against a documents-only fixture dir); no names = full registry (the
    // driver's contract).
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [queryName...]")
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet
    def selected(name: String): Boolean = only.isEmpty || only(name)
    only.foreach(n => require(SparkEntry.queries.contains(n),
      s"unknown query: $n"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.jobs.JobSession.local("graft-verify", s"local[$cpus]")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name)) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // full registry manifest: lets the checker flag ANY query (rows-only
    // included) whose output is missing because it crashed above
    Files.writeString(Paths.get(s"$outDir/queries.txt"),
      SparkEntry.queries.keys.toSeq.filter(selected).sorted.mkString("\n"))
    spark.stop()
  }
}
