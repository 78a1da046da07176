package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scoped home of the `objectHashAggregate.sortBased.fallbackThreshold`
  * raise (r15 VERDICT #1 + ADVICE): the capped-buffer typed aggregates
  * ([[graft.functions.RetrievalTopKAgg]] / BitextTopKAgg /
  * [[graft.functions.TopKAgg]]) hold ≤ k entries per group, so their
  * ObjectHashAggregate map is bounded by groups/partition × k and the
  * default 128-key sort fallback external-sorts the whole scored input
  * for nothing (measured: s38@100× 22.8 GB spill → 0 with the raise).
  * That argument covers ONLY capped buffers — session-wide, the same
  * raise let every UNCAPPED object aggregate (collect_list rollups,
  * percentile buffers) hold up to 131072 unbounded buffers per
  * partition in hash mode, an executor OOM hazard at group
  * cardinalities beyond the measured dials. So the raise now travels
  * WITH the queries whose plans are all-capped, through a child
  * session, instead of living in every entrypoint's builder.
  *
  * The r16 adjudication (THRESH_AB_r16.json) also EXONERATED the raise
  * for d20_ingest_triage's r15 bench residual — interleaved ×5 same-
  * session A/B read ratio 0.980 on d20 with controls at 0.75–1.07 — so
  * this scoping is blast-radius hygiene, not a perf fix.
  *
  * Mechanics: `newSession()` shares the SparkContext, cache and the
  * builder's initial options (shuffle.partitions / AQE / timezone ride
  * along — verified against the Spark 4.1 constructor, which passes
  * `initialSessionOptions` through) but gets a fresh SQLConf, so the
  * raise set here is invisible to every other query in the run. The
  * child also takes the parent's runtime shuffle partition count and
  * [[graft.jobs.JobSession.install]]'s pushdown rule and SQL functions,
  * so the fresh SessionState changes nothing else about the scoped plans.
  */
object HeapScope {

  val Conf = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
  val Raised = "131072"

  /** Registry entries whose aggregates are all capped-buffer: the chunk
    * retrieval family (s28–s38 all pass through the rankTopK /
    * chunkTopK heap), the bitext miners (s39–s43 through
    * bitextSideTopK), and d21's groupCap (TopKAgg capped at the group
    * cap). Everything else runs at Spark's default threshold. */
  val Keys: Set[String] = Set(
    "s28_chunk_retrieval", "s29_chunk_lsh_recall", "s30_chunk_multiprobe",
    "s31_chunk_multiprobe2", "s32_chunk_retrieval_lsh",
    "s33_chunk_multiprobe_topk", "s34_chunk_band_recall",
    "s35_chunk_band_topk", "s36_chunk_band_sweep",
    "s37_chunk_lsh_recall_wide", "s38_chunk_band_topk_wide",
    "s39_bitext_margin", "s40_bitext_banded", "s41_bitext_forward",
    "s40s_bitext_banded_sampled", "s41s_bitext_forward_sampled",
    "s42_bitext_banded_wide", "s43_bitext_forward_wide",
    "s44_chunk_band_topk_dedup", "d21_source_cap")

  /** A child session carrying the raise; share everything else. ONE
    * child per parent (identity-keyed, weakly held): `newSession()` is
    * ~2 ms, but each fresh session also starts with an empty relation
    * cache, so per-call children would re-list/re-footer the parquet
    * tables every invocation (~+0.1 s/query; NOTES.md, round 16, "The
    * raise is SCOPED anyway") — the memoized child amortizes that like
    * any long-lived session. */
  private val children =
    new java.util.WeakHashMap[SparkSession, SparkSession]()

  def session(s: SparkSession): SparkSession = children.synchronized {
    val cached = children.get(s)
    if (cached != null) cached
    else {
      val c = s.newSession()
      val partitions = "spark.sql.shuffle.partitions"
      c.conf.set(partitions, s.conf.get(partitions))
      c.conf.set(Conf, Raised)
      graft.jobs.JobSession.install(c)
      children.put(s, c)
      c
    }
  }

  /** Rebind the listed entries to build (and therefore execute) under
    * the raised-threshold child session. */
  def scope(defs: Map[String, (SparkSession, String) => DataFrame])
      : Map[String, (SparkSession, String) => DataFrame] =
    defs.map { case (k, f) =>
      if (Keys(k)) k -> ((s: SparkSession, d: String) => f(session(s), d))
      else k -> f
    }
}
