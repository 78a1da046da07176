package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The at-ingest path through the 100× gate (r14 Next #5): every
  * streaming leg is batch-identity pinned at fixture scale, but the
  * scale gates only ever ran the BATCH rungs. This probe drives the
  * serving-probe legs — `chunkRetrieveTopKBanded` (s38's at-ingest
  * twin), `bitextMineProbe` (s43's), and the composed `ingestChain`
  * (the d17-family's streaming twin, r15 VERDICT #2) — against
  * artifacts built from a ladder slice, with a bounded arrival stream,
  * and records per-microbatch latency (p50/p95 of triggerExecution)
  * plus the artifact build cost and parquet footprint.
  *
  * r16 adds the ARRIVAL AXIS (r15 VERDICT #3): production arrival
  * rates are orders beyond the original fixed 12/batch, so each probe
  * runs at every batch size in the list (default 12,120,1200 —
  * replicated from the 240 base arrivals with distinct re-keyed ids),
  * separating fixed per-batch overhead from per-arrival marginal cost:
  * flat p50 across sizes ⇒ overhead-bound; p50 growing ∝ size ⇒
  * per-arrival-bound, and arrivals/s = size/p50 is the ceiling.
  *
  * The artifacts are written to and read back from parquet, as a
  * release would serve them — the stream-static joins see a file scan,
  * not an in-memory fixture.
  *
  *   runMain graft.tools.IngestScaleProbe /tmp/sf1x100 INGEST_100x_r16.json
  *   runMain graft.tools.IngestScaleProbe /tmp/sf1x100 OUT.json 12,120,1200
  *   runMain graft.tools.IngestScaleProbe /tmp/sf1x100 OUT.json 12,120 chain
  */
object IngestScaleProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: IngestScaleProbe <sfDir|ladderDir> <outJson> [batchSizes] " +
        "[sections: chunk,bitext,chain]")
    val Array(sfDir, outJson) = args.take(2)
    val batchSizes =
      if (args.length > 2) args(2).split(",").map(_.trim.toInt).toSeq
      else Seq(12, 120, 1200)
    // iteration dial (r17): one section's fix shouldn't pay the other
    // two sections' artifact builds + drives every measurement
    val sections: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet
      else Set("chunk", "bitext", "chain")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // the objectHashAggregate fallback raise is NOT session-wide here:
    // the r16 ingestChain leg runs UNCAPPED object aggregates
    // (collect_list/sort_array in the near-dup verify and bigramLm
    // builders) — the hazard class HeapScope scopes away. The raise is
    // toggled on only around the capped-heap chunk/bitext sections
    // below (r16 ADVICE).
    val spark = graft.jobs.JobSession.local("graft-ingest-scale", s"local[$cpus]")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.SimilarityOps
    import graft.operators.PipelineQueries.{ChunkTokens, ChunkStride,
      BowDimWide, ChunkBandsWide, ChunkTopK}

    def timed(f: () => Unit): Double = {
      val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
    }
    def r3(d: Double): String = f"$d%.3f"
    val artJsons = scala.collection.mutable.ArrayBuffer.empty[String]
    def sized(name: String, df: DataFrame): (String, Double, Long) = {
      val out = s"/tmp/ingest_probe/$name"
      val sec = timed(() => df.write.mode("overwrite").parquet(out))
      val bytes = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
        .filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      println(f"[ingest-probe] $name built ${r3(sec)}s, ${bytes >> 20} MiB")
      artJsons += s""""$name":{"build_sec":${r3(sec)},"bytes":$bytes}"""
      (out, sec, bytes)
    }
    def ts(i: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2021-01-16 ${17 + i / 60}%02d:${i % 60}%02d:00")

    /** `total` arrivals cycled from `base`, each occurrence re-keyed to
      * a distinct id (base ids are already corpus-disjoint; the stride
      * keeps replicas disjoint too). */
    def replicate[V](base: Array[(Long, V)], total: Int): Seq[(Long, V)] =
      (0 until total).map { j =>
        val (id, v) = base(j % base.length)
        (id + (j / base.length).toLong * 7919L, v)
      }

    /** Feed `batches` microbatches through `mk`, one
      * processAllAvailable per batch, and report per-batch
      * triggerExecution p50/p95 (the final flush arrival excluded). */
    def drive[A](tag: String, batches: Seq[Seq[A]], flush: A,
        mk: MemoryStream[A] => DataFrame)(
        implicit ev: org.apache.spark.sql.Encoder[A]): String = {
      val in = MemoryStream[A]
      val qn = s"ingest_$tag"
      val q = mk(in).writeStream.format("memory")
        .queryName(qn).outputMode("append").start()
      val perBatch = try {
        val secs = batches.map { b =>
          in.addData(b); timed(() => q.processAllAvailable())
        }
        in.addData(Seq(flush)); q.processAllAvailable()
        secs
      } finally q.stop()
      val sorted = perBatch.sorted
      def pct(p: Double): Double =
        sorted(math.min(sorted.length - 1, (p * sorted.length).toInt))
      val outRows = spark.table(qn).count()
      println(s"[ingest-probe] $tag batches=${perBatch.length} " +
        s"size=${batches.head.length} p50=${r3(pct(0.50))}s " +
        s"p95=${r3(pct(0.95))}s max=${r3(sorted.last)}s outRows=$outRows")
      s""""$tag":{"batches":${perBatch.length},""" +
        s""""batch_size":${batches.head.length},""" +
        s""""p50_sec":${r3(pct(0.50))},"p95_sec":${r3(pct(0.95))},""" +
        s""""max_sec":${r3(sorted.last)},"out_rows":$outRows,""" +
        s""""per_batch_sec":[${perBatch.map(r3).mkString(",")}]}"""
    }
    /** Batches-per-size: the flush timestamps cap the batch count at
      * 20; bigger sizes run fewer batches (the marginal-cost read needs
      * arrivals, not batch count). */
    def nBatches(size: Int): Int =
      if (size <= 12) 20 else if (size <= 120) 10 else 5

    // ---- 1. chunk retrieval at the wide dial over ladder docs -------
    // Sections 1–2 drive ONLY capped-heap paths (the serving tails and
    // their artifact builders): buffers hold <= k entries per group, so
    // the raised fallback is the s38 spill fix, not an OOM hazard
    // (measured: s38@100x 22.8 GB spill -> 0 raised). The conf is a
    // runtime SQLConf — restored to default before section 3's chain
    // leg, whose collect_list aggregates are the uncapped class.
    val docs = graft.Tables.documents(spark, sfDir)
    val chunkJsons = if (!sections("chunk")) Seq.empty[String] else {
    spark.conf.set(graft.HeapScope.Conf, graft.HeapScope.Raised)
    val (bandPath, bandSec, bandBytes) = sized("chunk_band_idx",
      SimilarityOps.chunkBandIndex(docs, "doc_id", "text",
        ChunkTokens, ChunkStride, BowDimWide, ChunkBandsWide))
    val (vecPath, vecSec, vecBytes) = sized("chunk_vec_idx",
      SimilarityOps.chunkVecIndex(docs, "doc_id", "text",
        ChunkTokens, ChunkStride, BowDimWide))
    val bandIdx = spark.read.parquet(bandPath)
    val vecIdx = spark.read.parquet(vecPath)
    // arrivals: 240 real ladder docs, re-keyed so self-exclusion never
    // hides a hit
    val arrivalDocs = docs.filter(pmod(col("doc_id"), lit(401L)) === 0)
      .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
      .limit(240).collect().map(r => (r.getLong(0), r.getString(1)))
    val wideJsons = batchSizes.map { size =>
      val n = nBatches(size)
      val batches = replicate(arrivalDocs, size * n).grouped(size)
        .toSeq.zipWithIndex.map { case (g, i) =>
          g.map { case (id, t) => (ts(i), id, t) } }
      drive[(java.sql.Timestamp, Long, String)](s"chunk_retrieve_wide_b$size",
        batches, (ts(119), -1L, "flush"),
        in => graft.streaming.PipelineStreams.chunkRetrieveTopKBanded(
          in.toDF().toDF("ts", "doc_id", "text"), bandIdx, vecIdx, "ts",
          "doc_id", "text", BowDimWide, ChunkBandsWide, ChunkTopK,
          "10 minutes", "5 minutes"))
    }
    // DEDUP-SERVED index (r17, after CHUNKDIAL_100x_r17): the wider
    // band geometries were priced FIRST and do NOT cut the 53k-candidate
    // /arrival mass (24-bit bands read 59.9k, 3×16 207k — the mass is
    // STRUCTURAL near-dup replicas agreeing on whole bands at any
    // width, not random collisions). The lever that removes structural
    // mass is the pipeline's own dedup: a release serves retrieval from
    // the CANONICAL corpus (minhash-verified clusters → canonical
    // member), so the index simply does not contain the 100 near-copies
    // an arriving query would otherwise score. Same operator, same
    // dial — only the served artifact changes; built from the shared
    // d-family definitions so batch dedup and the served index can
    // never disagree.
    val canon = {
      import graft.operators.DedupOps
      val edges = DedupOps.minhashVerified(docs, "doc_id", "text",
          threshold = 0.6)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      val ids = DedupOps.connectedComponents(
          docs.select(col("doc_id").as("id")), edges)
        .filter(col("id") === col("cluster_id"))
        .select(col("id").as("doc_id"))
      docs.join(ids, Seq("doc_id"), "left_semi")
    }
    val (dBandPath, dBandSec, dBandBytes) = sized("chunk_band_idx_dedup",
      SimilarityOps.chunkBandIndex(canon, "doc_id", "text",
        ChunkTokens, ChunkStride, BowDimWide, ChunkBandsWide))
    val (dVecPath, dVecSec, dVecBytes) = sized("chunk_vec_idx_dedup",
      SimilarityOps.chunkVecIndex(canon, "doc_id", "text",
        ChunkTokens, ChunkStride, BowDimWide))
    val dBandIdx = spark.read.parquet(dBandPath)
    val dVecIdx = spark.read.parquet(dVecPath)
    val dedupJsons = batchSizes.filter(_ == batchSizes.max).map { size =>
      val n = nBatches(size)
      val batches = replicate(arrivalDocs, size * n).grouped(size)
        .toSeq.zipWithIndex.map { case (g, i) =>
          g.map { case (id, t) => (ts(i), id, t) } }
      drive[(java.sql.Timestamp, Long, String)](s"chunk_retrieve_dedup_b$size",
        batches, (ts(119), -1L, "flush"),
        in => graft.streaming.PipelineStreams.chunkRetrieveTopKBanded(
          in.toDF().toDF("ts", "doc_id", "text"), dBandIdx, dVecIdx, "ts",
          "doc_id", "text", BowDimWide, ChunkBandsWide, ChunkTopK,
          "10 minutes", "5 minutes"))
    }
    wideJsons ++ dedupJsons
    }

    // ---- 2. bitext forward mining at the wide dial ------------------
    val bitextJsons = if (!sections("bitext")) Seq.empty[String] else {
    spark.conf.set(graft.HeapScope.Conf, graft.HeapScope.Raised)
    val emb = graft.Tables.embeddings(spark, sfDir)
    val left = emb.filter(abs(col("vec_id") % 2) === 0L)
    val right = emb.filter(abs(col("vec_id") % 2) === 1L)
    val (bBandPath, bBandSec, bBandBytes) = sized("bitext_band_idx",
      SimilarityOps.bitextBandIndex(right, 32, 2))
    val (bVecPath, bVecSec, bVecBytes) = sized("bitext_vec_idx",
      SimilarityOps.bitextVecIndex(right))
    val (bNbrPath, bNbrSec, bNbrBytes) = sized("bitext_nbr_idx",
      SimilarityOps.bitextNeighborhoodIndex(left, right, 4, 32, 2))
    val bBandIdx = spark.read.parquet(bBandPath)
    val bVecIdx = spark.read.parquet(bVecPath)
    val bNbrIdx = spark.read.parquet(bNbrPath)
    val arrivalVecs = left.filter(pmod(col("vec_id"), lit(401L)) === 0)
      .select((col("vec_id") + 1000000000L).as("vec_id"), col("embedding"))
      .limit(240).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    batchSizes.map { size =>
      val n = nBatches(size)
      val batches = replicate(arrivalVecs, size * n).grouped(size)
        .toSeq.zipWithIndex.map { case (g, i) =>
          g.map { case (id, v) => (ts(i), id, v) } }
      drive[(java.sql.Timestamp, Long, Seq[Float])](s"bitext_mine_wide_b$size",
        batches, (ts(119), -1L, arrivalVecs.head._2),
        in => graft.streaming.PipelineStreams.bitextMineProbe(
          in.toDF().toDF("ts", "vec_id", "embedding"), bBandIdx, bVecIdx,
          bNbrIdx, "ts", "vec_id", "embedding", sigDim = 32, bands = 2,
          k = 4, "10 minutes", "5 minutes"))
    }
    }

    // ---- 3. the composed ingest chain (d17-family streaming twin) ---
    val chainJsons = if (!sections("chain")) Seq.empty[String] else {
    // Corpus artifacts a release materializes once: exact-dedup digest
    // set, near-dup band + shingle indexes, bigram LM count tables —
    // all corpus-sized, all served back from parquet.
    // Back to Spark's default 128-key fallback: the chain's
    // collect_list-class aggregates are UNCAPPED (see builder note).
    spark.conf.unset(graft.HeapScope.Conf)
    import graft.operators.{DedupOps, RelevanceOps}
    val (digPath, digSec, digBytes) = sized("chain_digests",
      docs.select(DedupOps.contentDigest(col("text")).as("digest"))
        .distinct())
    val (cbPath, cbSec, cbBytes) = sized("chain_band_idx",
      DedupOps.bandIndex(docs, "doc_id", "text",
        k = 16, bands = 4, shingleWords = 3))
    // sharded layout (DedupOps.shingleShard): the chain's candidate-keyed
    // join prunes to candidate shards via DPP instead of decoding the
    // whole ~corpus-sized artifact every micro-batch (r16 VERDICT #2)
    val (csPath, csSec, csBytes) = {
      val out = "/tmp/ingest_probe/chain_shingle_idx"
      val df = DedupOps.shingleIndex(docs, "doc_id", "text", shingleWords = 3)
        .withColumn("shard", DedupOps.shingleShard(col("cid")))
      val sec = timed(() =>
        df.write.mode("overwrite").partitionBy("shard").parquet(out))
      val bytes = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
        .filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      println(f"[ingest-probe] chain_shingle_idx built ${r3(sec)}s, " +
        s"${bytes >> 20} MiB (sharded x${DedupOps.ShingleShards})")
      artJsons +=
        s""""chain_shingle_idx":{"build_sec":${r3(sec)},"bytes":$bytes}"""
      (out, sec, bytes)
    }
    val lm0 = RelevanceOps.bigramLm(docs, "text")
    val (c12Path, c12Sec, c12Bytes) = sized("chain_lm_c12", lm0.c12)
    val (c1Path, c1Sec, c1Bytes) = sized("chain_lm_c1", lm0.c1)
    val (c2Path, c2Sec, c2Bytes) = sized("chain_lm_c2", lm0.c2)
    val (totPath, totSec, totBytes) = sized("chain_lm_tot", lm0.tot)
    val lm = RelevanceOps.BigramLm(
      spark.read.parquet(c12Path), spark.read.parquet(c1Path),
      spark.read.parquet(c2Path), spark.read.parquet(totPath))
    val chainDigests = spark.read.parquet(digPath)
    val chainBands = spark.read.parquet(cbPath)
    val chainShingles = spark.read.parquet(csPath)
    // serving-tier pin (r17): a stream-static join re-executes its
    // static subtree EVERY trigger (including the no-data watermark
    // trigger), so an unpinned corpus artifact is re-decoded from
    // parquet twice per arrival batch. Pinning turns that into a
    // columnar-cache read — the standard production discipline for
    // served indexes (at cluster scale the executors hold the
    // release's artifacts in memory for the release's lifetime).
    Seq(chainDigests, chainBands, chainShingles,
      lm.c12, lm.c1, lm.c2, lm.tot).foreach { df => df.persist(); df.count() }
    // state-partition sizing (r17): shuffle.partitions is captured into
    // a streaming query's checkpoint at START and sizes every state
    // store — at 32, each trigger committed 64 state-partition files
    // for ~100-key state, and the executed-plan metrics dump read the
    // commit time as the single largest per-trigger term (NOTES.md,
    // round 17, "ingestChain fixed cost"). A streaming
    // job sizes state partitions to its arrival rate at deploy time;
    // 8 fits this probe's 12–120-doc batches (and the dial is recorded
    // in the output JSON).
    val chainStatePartitions = "8"
    spark.conf.set("spark.sql.shuffle.partitions", chainStatePartitions)
    try {
    // arrivals: real ladder docs, re-keyed AND content-perturbed (a
    // fresh per-id suffix token) so the exact-dedup stages pass them
    // through to the expensive near-dup + LM legs — the realistic
    // mostly-novel arrival mix; some still drop as verified near-dups
    // of their source doc, which is the gate doing its job
    val chainBase = docs.filter(pmod(col("doc_id"), lit(401L)) === 0)
      .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
      .limit(240).collect().map(r => (r.getLong(0), r.getString(1)))
    // full arrival axis since r17: the pre-restructure chain's ~6 s
    // fixed cost made 1200/batch uninformative; with the candidate-only
    // broadcast legs it prices the same axis as the other probes
    val chainSizes = batchSizes
    chainSizes.map { size =>
      val n = nBatches(size)
      val batches = replicate(chainBase, size * n).grouped(size)
        .toSeq.zipWithIndex.map { case (g, i) =>
          g.map { case (id, t) => (ts(i), id, t + s" zq$id") } }
      // the flush doc must SURVIVE the stateless quality/gopher gates
      // (the chain's watermark node sits downstream of them, so a
      // filtered flush would never advance event time and nothing
      // would emit): >=50 words with stopwords, unique content
      val flushDoc = ("the and" +
        (1 to 58).map(i => s" zzflush$i").mkString)
      drive[(java.sql.Timestamp, Long, String)](s"ingest_chain_b$size",
        batches, (ts(119), -2L, flushDoc),
        in => graft.streaming.PipelineStreams.ingestChain(
          in.toDF().toDF("ts", "doc_id", "text"), chainDigests,
          chainBands, chainShingles, lm, "ts", "doc_id", "text",
          nearDupThreshold = 0.9, maxXent = 20.0,
          "10 minutes", "5 minutes", k = 16, bands = 4,
          shingleWords = 3))
    }
    } finally spark.conf.set("spark.sql.shuffle.partitions", cpus)
    }

    val json =
      s"""{"src":"$sfDir","batch_sizes":[${batchSizes.mkString(",")}],""" +
        s""""sections":[${sections.toSeq.sorted.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""chain_state_partitions":8,""" +
        s""""artifacts":{""" + artJsons.mkString(",") + s"""},""" +
        (chunkJsons ++ bitextJsons ++ chainJsons).mkString(",") + "}"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outJson), json + "\n")
    println(s"[ingest-probe] wrote $outJson")
    spark.stop()
  }
}
