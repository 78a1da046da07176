package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-off scale-ladder corpus builder (dev tool, like ShuffleAudit):
  * writes a ~`factor`× documents/embeddings slice so the bench ceiling
  * set can be rehearsed above sf0.1 — confirming the plan pins hold
  * under AQE at 10× (no new skew split, no spill, no broadcast flip)
  * before the same shapes are trusted at 100 TB.
  *
  *   runMain graft.tools.ScaleLadder /root/testdata/sf0.1 /tmp/sf1x10 10
  *
  * Copy 0 is the source verbatim. Copy i > 0 shifts ids by i·(max+1)
  * and suffixes every 17th token with a copy tag — deterministic, so
  * the run is reproducible; the tag grows the vocabulary and breaks
  * ~half the L-token windows per copy, keeping the duplicate density of
  * the scaled corpus realistic instead of every doc having factor−1
  * exact clones (which would stress-test dedup quadratically while
  * underselling vocab-bound operators like the BPE trainer, whose
  * per-round work is vocab-sized). The remaining tables are NOT
  * written — copy them from the source sf dir so Bench's warmup finds
  * them (they're not under test at 10×).
  */
object ScaleLadder {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ScaleLadder <sfDir> <outDir> <factor>")
    val Array(sfDir, outDir, factorS) = args.take(3)
    val factor = factorS.toInt
    require(factor >= 1, s"factor=$factor")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.jobs.JobSession.local("graft-scale-ladder", s"local[$cpus]")
    build(spark, sfDir, outDir, factor, cpus.toInt)
    println(s"[scale-ladder] wrote ${factor}x documents+embeddings to $outDir")
    spark.stop()
  }

  /** The ladder body, callable by [[ScaleGate]] (build-if-absent). */
  def build(spark: SparkSession, sfDir: String, outDir: String,
      factor: Int, cpus: Int): Unit = {

    def scaled(df: DataFrame, idCol: String,
        perturb: (DataFrame, Int) => DataFrame): DataFrame = {
      // max over an empty table is a NULL row and the id column may
      // arrive as int in a regenerated testdata set — read defensively
      // (r13 ADVICE): cast to long first, surface the empty case as a
      // clear message instead of an NPE
      val maxRow = df.agg(max(col(idCol).cast("long"))).head()
      require(!maxRow.isNullAt(0),
        s"cannot scale an empty source table (no rows to take max($idCol) over)")
      val step = maxRow.getLong(0) + 1L
      (0 until factor).map { i =>
        perturb(df, i).withColumn(idCol,
          col(idCol).cast("long") + lit(i * step))
      }.reduce(_ unionByName _)
    }

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bigDocs = scaled(docs, "doc_id", (d, i) =>
      if (i == 0) d
      else d.withColumn("text",
        array_join(transform(graft.functions.TextFns.tokens(col("text")),
          (t, j) => when(pmod(j, lit(17)) === 0, concat(t, lit(s"c$i")))
            .otherwise(t)), " ")))
      .withColumn("n_chars", length(col("text")).cast("long"))
    bigDocs.repartition(cpus)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    scaled(emb, "vec_id", (d, _) => d)
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // events: replica i shifts BOTH id columns by their own stride so
    // ids stay unique and the replica's host residues (event_id % 20,
    // user_id % 20 in g01/g02's link derivation) are re-phased rather
    // than cloned — the edge/weight distribution of the grown stream
    // stays realistic instead of every edge getting exactly factor×
    // its weight. The 20-host node cap is the fixture's, not the
    // ladder's: what genuinely scales here is the corpus-sized edge
    // aggregate (the dominant cost at 100 TB); graph-size growth is
    // measured separately (NOTES.md, round 15, "Graph growth
    // measured"). ts is left alone — a denser crawl of the same window,
    // so the a-family time-range predicates stay meaningful.
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val evMax = ev.agg(max(col("event_id").cast("long")),
      max(col("user_id").cast("long"))).head()
    require(!evMax.isNullAt(0) && !evMax.isNullAt(1),
      "cannot scale an empty events table")
    val (eStep, uStep) = (evMax.getLong(0) + 1L, evMax.getLong(1) + 1L)
    (0 until factor).map { i =>
      ev.withColumn("event_id",
          col("event_id").cast("long") + lit(i * eStep))
        .withColumn("user_id",
          col("user_id").cast("long") + lit(i * uStep))
    }.reduce(_ unionByName _)
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
  }
}
