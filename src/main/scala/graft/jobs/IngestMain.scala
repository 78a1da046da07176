package graft.jobs

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{DedupOps, RelevanceOps}
import graft.streaming.PipelineStreams

/** At-ingest corpus curation CLI: stream JSONL documents
  * (`{"ts": ..., "doc_id": ..., "text": ...}`) through the full composed
  * chain ([[PipelineStreams.ingestChain]] — redact → quality → gopher →
  * horizon dedup → history dedup → one windowed near-dup + perplexity
  * stage) against an existing corpus, writing kept docs to parquet.
  *
  * The corpus artifacts (digest index, LSH band/shingle indexes, LM count
  * tables) are derived here from the corpus parquet via the SHARED
  * builders; a production deployment materializes each as its own parquet
  * artifact per ingest cycle and reads them instead — the chain takes
  * DataFrames, so the swap is the read, not the topology.
  *
  * Usage: IngestMain <docs.jsonl> <corpus.parquet> <outDir> <checkpointDir>
  *                   [maxXent] [--available-now]
  *
  * The chain's dedup and window state lives in
  * `spark.sql.shuffle.partitions` state-store partitions. A checkpoint
  * takes the session's count at its first start (the core count: see
  * `JobSession.local`) and keeps it from then on; override it with
  * `-Dspark.sql.shuffle.partitions=N` or `spark-submit --conf
  * spark.sql.shuffle.partitions=N` before that first start. A checkpoint
  * created before the core-count default keeps Spark's 200.
  *
  * `file:` paths go through the fork-free local filesystem
  * ([[graft.sources.LocalFs]]; `spark.hadoop.fs.file.impl` and
  * `spark.hadoop.fs.AbstractFileSystem.file.impl` in the Spark conf
  * override it). On-disk formats, `.crc` sidecars and Spark's checkpoint
  * checksums are unchanged, so existing checkpoints resume as they are.
  */
object IngestMain {
  private val usage = "usage: IngestMain <docs.jsonl> <corpus.parquet> " +
    "<outDir> <checkpointDir> [maxXent] [--available-now]"

  def main(args: Array[String]): Unit = {
    if (args.length < 4) JobSession.usageExit(usage)
    val Array(docsPath, corpusPath, outDir, checkpointDir, rest @ _*) = args
    val unknown = rest.filterNot(a =>
      a.toDoubleOption.isDefined || a == "--available-now")
    if (unknown.nonEmpty)
      JobSession.usageExit(usage,
        s"unrecognized arguments: ${unknown.mkString(" ")}")
    val maxXent = rest.flatMap(_.toDoubleOption).headOption.getOrElse(8.0)
    val availableNow = rest.contains("--available-now")

    val spark = JobSession.local("graft-ingest")

    val corpus = spark.read.parquet(corpusPath)
    val digests = corpus
      .select(DedupOps.contentDigest(col("text")).as("digest"))
    val bands = DedupOps.bandIndex(corpus, "doc_id", "text",
      k = 16, bands = 4, shingleWords = 3)
    val shingles = DedupOps.shingleIndex(corpus, "doc_id", "text",
      shingleWords = 3)
    val lm = RelevanceOps.bigramLm(corpus, "text")

    val docs = spark.readStream
      .schema("ts TIMESTAMP, doc_id BIGINT, text STRING")
      .json(docsPath)

    val kept = PipelineStreams.ingestChain(docs, digests, bands, shingles,
      lm, "ts", "doc_id", "text", nearDupThreshold = 0.9, maxXent = maxXent,
      window_ = "10 minutes", delay = "10 minutes")

    val writer = kept.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
    val q =
      if (availableNow) writer.trigger(Trigger.AvailableNow()).start()
      else writer.start()
    q.awaitTermination()
  }
}
