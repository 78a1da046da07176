package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Deduplication operators for the training-data pipeline: exact, MinHash+LSH
  * near-dup, SimHash near-dup — each built as per-row signature computation
  * (no shuffle) followed by a single signature-keyed shuffle, which is the
  * scale-correct shape: at 100 TB the only data movement is (id, signature)
  * pairs, never document text.
  */
object DedupOps {

  /** THE content-digest definition, shared by every exact-dedup surface
    * (batch d01/t07 and streaming [[graft.streaming.PipelineStreams]]) —
    * one definition so at-ingest dedup and the batch backstop can never
    * silently diverge. md5 as a 32-char hex string (~32 bytes of state
    * per key; use `unhex` for the 16-byte binary form if state size ever
    * dominates — changing it is a corpus-wide migration, not a local
    * edit).
    */
  def contentDigest(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(text.cast("binary"))

  /** Exact dedup by content hash: one canonical (min-id) row per digest.
    * Shuffle is on the digest only, partial-aggregated map-side.
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(contentDigest(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Line-level dedup accounting — the CCNet/RefinedWeb line pass, one
    * granularity below d01: explode documents into trimmed non-blank
    * lines, digest each line with THE content digest (same
    * canonicalization as doc-level [[contentDigest]], so line- and
    * doc-level dedup can never silently diverge), and keep only the
    * corpus-wide FIRST occurrence (min (doc_id, line_no)) of every
    * distinct line. Returns per-doc accounting (n_lines / n_kept /
    * n_removed); docs with no non-blank line report zeros via the left
    * join back.
    *
    * Scale shape: the instance stream NEVER shuffles. Per-doc line counts
    * are a per-row scalar; the keep decision lives entirely in the
    * per-digest min table, which the partial aggregate collapses to one
    * ~48-byte row per DISTINCT line before its single exchange (see
    * [[firstOccurrence]] for why not a window, and [[lineDedupStats]]
    * for why not an instance-side join back either). Reconstructing the
    * deduped text rides the same aggregate with the line inside the min
    * struct ([[lineCollapse]]); the keep DECISION and the accounting
    * never move text.
    */
  /** Explode `textCol` on the LITERAL `sep` (regex-quoted — Spark's split
    * is regex-based, the DuckDB oracles' string_split is literal; quoting
    * keeps a metacharacter separator like "|" from silently diverging),
    * trim, drop blanks, digest. THE one line-canonicalization definition:
    * the batch family ([[lineDedupStats]]/[[lineCollapse]]/
    * [[boilerplateLines]]) and the streaming at-ingest leg
    * ([[graft.streaming.PipelineStreams.dedupLinesByDigest]]) all read
    * lines through here, so they can never canonicalize differently.
    * sep "\n" = the line pass; "\n\n" = the paragraph pass (d13). trim is
    * ASCII-space-only on both engines, so a paragraph retaining interior
    * newlines digests them — deterministic and cross-engine identical.
    * Trim projects BEFORE the blank filter so each line is trimmed once
    * (subexpression elimination does not span the filter/project
    * boundary, and this is the hot path under every corpus line).
    */
  private[graft] def digestedLines(docs: DataFrame, passthrough: Seq[String],
      textCol: String, sep: String): DataFrame =
    docs
      .select(passthrough.map(col) :+
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("line_no", "line")): _*)
      .withColumn("line", trim(col("line")))
      .filter(length(col("line")) > 0)
      .withColumn("ldigest", contentDigest(col("line")))

  /** d25: WITHIN-document line self-dedup — the per-page cleanup pass
    * (repeated nav blocks, templated footers stamped between sections,
    * transcripts re-quoting themselves) that precedes d11's corpus-wide
    * line pass: keep the FIRST occurrence of each trimmed non-blank line
    * within its own document and rebuild the text, reporting the counts.
    *
    * Scale shape — the best one there is: a document's own lines need no
    * other document, so the whole operator is per-row higher-order
    * functions inside the scan's stage (the t29 c4LineGate rule:
    * genuinely data-dependent arrays are what HOFs are FOR) — zero
    * exchanges, zero state, embarrassingly parallel at any corpus size.
    * `array_distinct` preserves first-occurrence order by contract,
    * which IS the keep rule; line canonicalization (trim, drop blanks)
    * matches [[digestedLines]] so the d11 family and this pass agree on
    * what a "line" is. Idempotent by construction (distinct ∘ distinct).
    */
  def selfDedupLines(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs
      .select(col(idCol),
        filter(transform(split(col(textCol), "\n"), l => trim(l)),
          l => length(l) > 0).as("ls"))
      .select(col(idCol), size(col("ls")).cast("long").as("n_lines"),
        array_distinct(col("ls")).as("kept"))
      .select(col(idCol), col("n_lines"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), "\n").as("clean_text"))

  /** Per-digest first-occurrence table: ONE row per distinct line with the
    * corpus-wide minimal (doc_id, line_no) instance — as a partial-aggregated
    * `groupBy(ldigest).agg(min(struct(...)))`, deliberately NOT
    * `min(...).over(Window.partitionBy(ldigest))`. The window form sends
    * every instance of a digest to ONE task, and the hottest trimmed line
    * of a web corpus ("Home" in a shared footer) can appear in a
    * double-digit percent of documents — an un-splittable hot task that
    * AQE cannot break up (AQE splits skewed JOINS, not windows). The
    * aggregate collapses each digest to one row per map partition before
    * its single exchange, so the hot key costs O(partitions), not O(rows).
    * Measured on a hot-boilerplate fixture in NOTES.md (round 8).
    *
    * `keepText` rides the trimmed line INSIDE the min struct for
    * [[lineCollapse]]: (doc_id, line_no) is unique per instance, so the
    * text field never affects the ordering, and only one line of text per
    * digest per map partition ever moves — strictly less than the window
    * form, where every instance's text crossed the exchange.
    */
  private def firstOccurrence(docs: DataFrame, idCol: String,
      textCol: String, sep: String, keepText: Boolean): DataFrame = {
    val fields =
      if (keepText) struct(col(idCol), col("line_no"), col("line"))
      else struct(col(idCol), col("line_no"))
    digestedLines(docs, Seq(idCol), textCol, sep)
      .groupBy(col("ldigest"))
      .agg(min(fields).as("first_occ"))
  }

  def lineDedupStats(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    // NOTHING instance-sized ever shuffles here. n_lines is a per-row
    // scalar (count of non-blank trimmed segments — the same split/trim/
    // filter pipeline as [[digestedLines]], expressed over the array), and
    // n_kept per doc is a rollup of the per-DIGEST min table, which the
    // partial aggregate already collapsed to one row per distinct line.
    // The round-8 de-skew measurement (NOTES.md, "De-skew of the digest
    // first-occurrence passes") is why this is not the
    // instance⋈min-table join VERDICT r7 sketched: on a 2M-doc corpus
    // with a 50%-hot nav line the join-back ran ~1.6× SLOWER than even
    // the window form and still funneled the hot digest into one join
    // task (AQE skew-split only fires above the 256 MB partition
    // threshold; a hot KEY below it never splits). With the rollup shape
    // the only moving rows are one per distinct digest and one per doc —
    // there is no skewable exchange left at any corpus size.
    val qsep = java.util.regex.Pattern.quote(sep)
    val nLines = size(filter(
      transform(split(col(textCol), qsep), x => trim(x)),
      x => length(x) > 0))
    val keptPerDoc = firstOccurrence(docs, idCol, textCol, sep,
        keepText = false)
      .groupBy(col("first_occ").getField(idCol).as(idCol))
      .agg(count(lit(1)).as("n_kept"))
    docs.select(col(idCol),
        coalesce(nLines.cast("long"), lit(0L)).as("n_lines"))
      .join(keptPerDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Line-dedup RECONSTRUCTION — the output corpus the d11 decision
    * produces: each doc rebuilt from its kept lines in original order
    * (blank lines and later duplicates gone, lines in canonical trimmed
    * form), plus the kept count. Docs with nothing kept emit "". The kept
    * lines ARE the [[firstOccurrence]] rows (one per distinct digest,
    * text riding inside the min struct), so no instance-stream join-back
    * exists here at all: text moves once per distinct line — map-side
    * collapsed — through the digest aggregate, then once through the
    * doc-keyed rebuild. That is the irreducible cost of materializing a
    * deduped corpus (the accounting path stays text-free; see
    * [[lineDedupStats]]). Idempotent by construction: re-running on its
    * output removes nothing (pinned in LineDedupPropertySpec).
    */
  /** THE kept-lines → document rebuild aggregate: collect (line_no, line)
    * structs, sort by original position, join on `sep`. One definition
    * shared by batch [[lineCollapse]] (d14) and the streaming reassembly
    * ([[graft.streaming.PipelineStreams.rebuildDocs]]) so the two paths
    * can never order or join kept lines differently.
    */
  private[graft] def lineRebuild(sep: String): org.apache.spark.sql.Column =
    lineRebuildWhen(lit(true), sep)

  /** [[lineRebuild]] restricted to lines passing `keep`, in the SAME
    * aggregate (collect_list skips the null the failed `when` yields) —
    * so a filtered rebuild (t29's C4 line gate) needs no second
    * aggregation pass or per-doc join-back.
    */
  private[graft] def lineRebuildWhen(keep: org.apache.spark.sql.Column,
      sep: String): org.apache.spark.sql.Column =
    array_join(
      transform(
        array_sort(collect_list(
          when(keep, struct(col("line_no"), col("line"))))),
        x => x.getField("line")),
      sep)

  /** [[lineRebuild]] for CHUNKED arrival: line_no restarts at 0 in every
    * stream row, so a document ingested as several chunks (the session-
    * window reassembly case) must order chunks by event time BEFORE the
    * intra-chunk line_no — struct(ts, line_no, line) sort. When a document
    * is one row (the batch case and the tumbling-window contract), ts is
    * constant inside the group and the sort reduces EXACTLY to
    * [[lineRebuild]]'s (line_no, line) order — pinned in
    * PipelineStreamsSpec, so the two rebuilds cannot drift where both are
    * defined. Chunks sharing one timestamp fall back to (line_no, line) —
    * give concurrent chunks distinct event times if their order matters.
    */
  private[graft] def chunkRebuild(sep: String,
      tsCol: String): org.apache.spark.sql.Column =
    array_join(
      transform(
        array_sort(collect_list(
          struct(col(tsCol), col("line_no"), col("line")))),
        x => x.getField("line")),
      sep)

  def lineCollapse(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    val kept = firstOccurrence(docs, idCol, textCol, sep, keepText = true)
      .select(col("first_occ").getField(idCol).as(idCol),
        col("first_occ").getField("line_no").as("line_no"),
        col("first_occ").getField("line").as("line"))
      .groupBy(col(idCol))
      .agg(lineRebuild(sep).as("clean_text"),
        count(lit(1)).as("n_kept"))
    docs.select(col(idCol))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Corpus-wide boilerplate LINES — the line-frequency twin of the d08
    * n-gram pass: trimmed non-blank lines appearing in >= minDocs distinct
    * documents, with document and occurrence counts. One line of text per
    * digest DOES move here (the report needs the human-readable line), but
    * only through its own per-digest aggregate, where the map-side partial
    * `min` collapses it to one copy per digest per partition — the COUNT
    * path is entirely text-free.
    *
    * Two-level counting instead of a direct `countDistinct(idCol)`:
    * distinct-count expansion keys the partial rows by (ldigest, idCol),
    * so a hot boilerplate line would deliver one row PER CONTAINING DOC
    * to a single final-agg task — the same un-splittable hot key as the
    * window form this family removed (r8). Level 1 keys by the UNIFORM
    * (ldigest, doc) pair — and carries NO text, which would otherwise
    * cross the exchange once per containing doc of the hot line; level 2
    * counts one row per containing doc with map-side partials, so the
    * hot digest costs O(partitions). The text joins back from the
    * per-digest representative table (all lines under one digest are the
    * same trimmed string — md5 keys it — so `min` is just the
    * deterministic way to pick the one copy); the join keys are
    * digest-collapsed and uniform.
    */
  def boilerplateLines(docs: DataFrame, idCol: String, textCol: String,
      minDocs: Int, sep: String = "\n"): DataFrame = {
    val lines = digestedLines(docs, Seq(idCol), textCol, sep)
    val lineOfDigest = lines.groupBy(col("ldigest"))
      .agg(min(col("line")).as("line"))
    lines
      .select(col("ldigest"), col(idCol))
      .groupBy(col("ldigest"), col(idCol))
      .agg(count(lit(1)).as("n_in_doc"))
      .groupBy(col("ldigest"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_in_doc")).as("n_total"))
      .filter(col("n_docs") >= minDocs)
      .join(lineOfDigest, Seq("ldigest"))
      .select(col("ldigest"), col("line"), col("n_docs"), col("n_total"))
  }

  /** IDs to drop under exact dedup (all but the canonical row per digest). */
  def exactDedupDrops(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val d = docs.withColumn("digest", contentDigest(col(textCol)))
    val keep = exactDedup(docs, idCol, textCol)
    // deliberately un-hinted: a broadcast only helps when the digest
    // table fits; at full scale Catalyst/AQE picks SMJ — advisory, not
    // load-bearing (a former broadcastIfSmall identity wrapper said the
    // same thing while implying a hint it never applied)
    d.join(keep, Seq("digest"))
      .filter(col(idCol) =!= col("keep_id"))
      .select(col(idCol), col("digest"), col("keep_id"))
  }

  /** d17: incremental-ingestion dedup — classify every BATCH document
    * against an already-ingested CORPUS plus the batch itself, by content
    * digest ([[contentDigest]], THE digest shared with d01/t07/streaming).
    * status ∈ {dup_in_corpus, new_unique, dup_in_batch}: a batch doc whose
    * digest already exists in the corpus is `dup_in_corpus` (the corpus
    * instance wins regardless of ids — it is already ingested); otherwise
    * the minimal-id batch instance of each digest is `new_unique` and any
    * further batch copies are `dup_in_batch`.
    *
    * Scale shape — the steady-state 100 TB ingestion pattern (daily
    * increment ≪ accumulated corpus): corpus TEXT never moves. The corpus
    * side is projected to its digest at the scan and partial-aggregated
    * (`groupBy(digest)`) before the join, so each map partition
    * contributes at most one 16-byte digest per distinct document body,
    * and the probe is a digest-keyed join AQE can skew-split. The batch
    * side shuffles (id, digest) once; the within-batch min table and the
    * corpus probe hash on the same key, so the batch exchange is planned
    * once and reused across both joins. In production the corpus side
    * would read a pre-materialized digest index (the d01 output) instead
    * of re-digesting — same plan from the join up.
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String): DataFrame =
    incrementalDedupFromDigests(
      corpus.select(contentDigest(col(textCol)).as("digest")),
      batch, idCol, textCol)

  /** The d17/d24 classification tail from an already-derived corpus
    * digest column (one `digest` column, pre-distinct or not) — ONE
    * definition for the re-derive registry forms AND the
    * artifact-served production shape, where the corpus side is the
    * pre-materialized d01 digest index read from parquet (the steady
    * state a 100 TB ingest actually runs: the corpus text is digested
    * once at release, never per batch). `bloomExpectedBatchDocs`
    * plants the d24 batch-side bloom at the corpus scan. */
  def incrementalDedupFromDigests(corpusDigestCol: DataFrame,
      batch: DataFrame, idCol: String, textCol: String,
      bloomExpectedBatchDocs: Option[Long] = None): DataFrame = {
    val batchDigested = batch
      .select(col(idCol), contentDigest(col(textCol)).as("digest"))
    val pruned = bloomExpectedBatchDocs match {
      case Some(n) =>
        require(n > 0, s"expectedBatchDocs=$n")
        val bloom = batchDigested
          .agg(graft.functions.BloomFns.bloomAgg(xxhash64(col("digest")),
            n, n * 16).as("bf"))
        corpusDigestCol.filter(graft.functions.BloomFns.mightContain(bloom,
          xxhash64(col("digest"))))
      case None => corpusDigestCol
    }
    val corpusDigests = pruned
      .groupBy(col("digest")).agg(lit(true).as("in_corpus"))
    val firstInBatch = batchDigested
      .groupBy(col("digest")).agg(min(col(idCol)).as("first_id"))
    batchDigested
      .join(firstInBatch, Seq("digest"))
      .join(corpusDigests, Seq("digest"), "left")
      .select(col(idCol), col("digest"),
        when(col("in_corpus").isNotNull, lit("dup_in_corpus"))
          .when(col(idCol) === col("first_id"), lit("new_unique"))
          .otherwise(lit("dup_in_batch")).as("status"))
  }

  /** d24: bloom-pruned incremental dedup — [[incrementalDedup]]'s exact
    * classification with Spark's own runtime-filter machinery planted by
    * hand at the ingest boundary: a bloom filter built over the (small)
    * batch's digests probes the (huge) corpus digest scan, so corpus rows
    * that PROVABLY don't match any batch digest drop at the scan — before
    * the partial aggregate, before the exchange. `InjectRuntimeFilter`
    * can't plant this itself here (it only fires under joins it can cost
    * inside one query tree with creation-side thresholds); the ingest
    * pipeline knows statically that batch ≪ corpus, so we build what the
    * optimizer would have wanted.
    *
    * Semantics are EXACTLY [[incrementalDedup]]'s, always: a bloom has no
    * false negatives, so every corpus digest equal to a batch digest
    * survives the probe, and false positives are non-matching digests the
    * exact digest-equality join rejects anyway — the approximate structure
    * prunes the plan, never the answer (spec-pinned equality on generated
    * corpora; the registry oracle is the same exact SQL as d17's).
    *
    * Scale shape vs d17: d17's corpus-side exchange carries one row per
    * DISTINCT corpus digest — at 100 TB that is still corpus-sized. Here
    * the corpus side shrinks to ~|batch| + fpp·|corpus| rows BEFORE its
    * exchange (bits/item ≈ 16 ⇒ fpp ≈ 4e-4), so every d17 join downstream
    * runs at batch scale. The bloom itself is one subquery stage over the
    * batch (nBits/8 bytes, ~2 MB for a million-doc batch) broadcast into
    * the corpus scan's tasks — the classic build-small/probe-big runtime
    * filter, with the probe's `xxhash64(digest)` the SAME hashed
    * expression on both sides.
    */
  def bloomIncrementalDedup(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, expectedBatchDocs: Long): DataFrame =
    incrementalDedupFromDigests(
      corpus.select(contentDigest(col(textCol)).as("digest")),
      batch, idCol, textCol, Some(expectedBatchDocs))

  /** d19: exact-substring duplication accounting — the Lee et al.
    * ("Deduplicating Training Data Makes Language Models Better")
    * repeated-span signal, Spark-shaped: per document, how many token
    * positions are covered by some ≥L-token span that occurs at least
    * twice in the corpus. The suffix-array construction is not a Spark
    * shape; the EXACT equivalent is L-token window anchoring: a span of
    * ≥ L tokens repeats iff every one of its L-token windows repeats, so
    * the positions covered by repeated ≥L spans are precisely the union
    * of [p, p+L) over repeated-window start positions p — computed as an
    * exact interval union (first window contributes L, each next
    * min(L, gap)), all in integer arithmetic.
    *
    * Scale shape: window instances are (id, pos, hash64) rows — text
    * never shuffles. The occurrence count partial-aggregates on the hash
    * map-side (the d08 rule: corpus-wide gram counts are aggregate +
    * join-back, never a gram-keyed window — a boilerplate window is BY
    * DEFINITION the hottest key); the join back is instance-sized keyed
    * by the hash, AQE-skew territory; the interval merge windows per
    * DOCUMENT (bounded by doc length, no corpus-scale key). The 64-bit
    * window hash stands in for window equality (the d09/d16 slice-hash
    * caveat: a 2⁻⁶⁴ collision can only over-mark a position; the oracle
    * compares raw window strings).
    */
  /** The shared d19/d29 kernel: 0-based start positions (per doc) of every
    * L-token window whose content occurs at least twice corpus-wide —
    * (idCol, pos) rows. Window instances are (id, pos, hash64) rows (text
    * never shuffles); the occurrence count partial-aggregates on the hash
    * map-side; the join back is instance-sized keyed by the hash. One
    * definition so the accounting (d19) and the cut (d29) can never
    * disagree on what "repeated" means.
    */
  /** (id, pos, h) rows — every L-token window instance, 0-based start,
    * xxhash64 of the token SLICE (r17 — element-wise into the running
    * seed, no space-joined string build). ONE definition shared by the
    * d19/d29 accounting, the d33 canonical aggregate, and the
    * [[windowHashIndex]] artifact, so no consumer can window-hash
    * differently. */
  private[graft] def windowInstances(docs: DataFrame, idCol: String,
      textCol: String, windowTokens: Int): DataFrame = {
    val L = windowTokens
    docs.select(col(idCol), TextFns.tokens(col(textCol)).as("ts"))
      .filter(size(col("ts")) >= L)
      // hash the token SLICE directly (r17, guide step 4 "expressions in
      // the hot path"): xxhash64 over array<string> hashes each element
      // into the running seed — injective on token sequences exactly
      // like the old concat_ws(' ') string (tokens never contain
      // whitespace; both collide only at the 2^-64 ideal-hash rate), but
      // skips building an O(window chars) string per position. The
      // repeated-window SET is unchanged modulo that collision rate, so
      // every consumer's output is identical (oracle compares raw window
      // strings). The at-ingest leg (PipelineStreams.substringCut
      // AgainstCorpus) changes in lockstep — one hash definition.
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(1, size(ts) - ${L - 1}), " +
          s"i -> xxhash64(slice(ts, i, $L)))"))
        .as(Seq("pos", "h")))
  }

  /** The corpus window-hash index artifact — the DISTINCT window hashes
    * of an already-released corpus, (h) rows only: what the at-ingest
    * keep-first substring cut
    * ([[graft.streaming.PipelineStreams.substringCutAgainstCorpus]])
    * probes stream-static, the d01-digest-index pattern one granularity
    * below whole documents. Built from [[windowInstances]] (the shared
    * d19/d29/d33 definition); ALL corpus hashes, not just repeated ones
    * — a single corpus occurrence already canonicalizes over any later
    * arrival. At 100 TB this is written once per corpus release and is
    * (long)-rows-only.
    *
    * HASH-VERSION caveat (r17): the window-hash definition changed from
    * xxhash64(concat_ws(' ', slice(ts, i, L))) to xxhash64(slice(ts, i,
    * L)) — the two produce DIFFERENT hash values over the same windows,
    * so any index artifact persisted before the change matches nothing
    * probed by the new cut (a silent no-op, not an error). In-repo every
    * index rebuilds at runtime; an operator persisting this artifact
    * across releases must rebuild pre-r17 indexes (or tag files with a
    * hash-version suffix) when upgrading.
    */
  def windowHashIndex(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int): DataFrame =
    windowInstances(docs, idCol, textCol, windowTokens)
      .select(col("h")).distinct()

  private[graft] def repeatedWindowStarts(docs: DataFrame, idCol: String,
      textCol: String, windowTokens: Int): DataFrame = {
    // ONE h-keyed exchange shared by the occurrence count and the join
    // back (r17, guide §2.4 "two operations keyed the same way share one
    // exchange"): the explicit repartition is the common shuffle, the
    // count aggregate and the join both read it (ReusedExchange), so the
    // corpus scan+tokenize+window-hash explode runs ONCE instead of once
    // per consumer. Same rows out; the count stays a hash aggregate
    // (never a per-hash window — the d08 hot-key rule is unchanged; the
    // join back on h is the same skew surface as before).
    val inst = windowInstances(docs, idCol, textCol, windowTokens)
      .repartition(col("h"))
    val rep = inst.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
    inst.join(rep, Seq("h")).select(col(idCol), col("pos"))
  }

  def substringDupStats(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int): DataFrame = {
    val L = windowTokens
    val toks = docs.select(col(idCol), TextFns.tokens(col(textCol)).as("ts"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val covered = repeatedWindowStarts(docs, idCol, textCol, L)
      .withColumn("prev", lag(col("pos"), 1).over(w))
      .withColumn("contrib", when(col("prev").isNull, lit(L))
        .otherwise(least(lit(L), col("pos") - col("prev"))))
      .groupBy(col(idCol)).agg(sum(col("contrib")).as("n_covered"))
    toks.select(col(idCol), size(col("ts")).cast("long").as("n_tokens"))
      .join(covered, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        round(coalesce(col("n_covered"), lit(0L)).cast("double") /
          greatest(col("n_tokens"), lit(1L)), 6).as("covered_frac"))
  }

  /** d29: the CUT half of the Lee-et-al exact-substring pass — d19
    * accounts, this one removes: every token position covered by some
    * ≥L-token span occurring at least twice corpus-wide is cut, and the
    * survivors are reassembled into the kept text (the d14-style
    * keep/cut artifact a release pipeline actually ships). Same
    * [[repeatedWindowStarts]] kernel as d19, so what gets cut is by
    * construction exactly what d19 counts: n_kept = n_tokens − d19's
    * n_covered, row for row (SubstringCutSpec pins the round-trip).
    *
    * The cut itself is two linear per-row folds over the doc-bounded
    * start list — no token explosion, no per-doc window: sorted starts
    * fold into disjoint covered intervals ([p, p+L) merged while
    * overlapping), then the intervals fold over the token array cutting
    * each covered slice (`slice` + running cursor), so per-row work is
    * O(tokens + starts), not O(tokens × starts).
    *
    * Scale shape: the starts aggregate moves (id, int) rows only; the
    * one place text moves is the id-keyed join of the token arrays onto
    * the per-doc start lists (the d14/d17 single-text-shuffle
    * precedent). Null text stays null (no windows, no cut); a fully
    * covered doc keeps the empty string, not null — `kept_text` is
    * always non-null where the input text was.
    *
    * Not idempotent by construction: cutting can butt two previously
    * distant regions against each other, and the seam can form NEW
    * repeated windows (Lee et al. accept the same artifact); a second
    * pass only ever finds seam-made repeats, so coverage is
    * non-increasing in practice but not provably zero — the spec pins
    * the monotonicity, not a fixed point.
    */
  def substringCut(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int): DataFrame =
    cutByStarts(docs, idCol, textCol,
      repeatedWindowStarts(docs, idCol, textCol, windowTokens),
      windowTokens)

  /** d33: the keep-ONE-copy refinement of [[substringCut]] — Lee et
    * al.'s actual release semantics: of a span repeated corpus-wide,
    * the globally FIRST occurrence (min (doc id, position), a total
    * order) survives and every other occurrence is cut; d29 cuts them
    * all (the "no repeated span ships at all" reading). Window-anchored
    * like d19/d29: an occurrence is cut iff one of the L-windows
    * covering it is a non-canonical instance of a repeated window hash.
    *
    * Scale shape: [[substringCut]]'s, plus the canonical choice — a
    * hash-keyed min(struct(id, pos)) AGGREGATE (map-side partials, the
    * d08 aggregate-not-window rule; never a per-hash window over
    * instance rows), joined back to instances on the hash; everything
    * that moves before the one id-keyed text join is (id, int, hash)
    * rows. The cut kernel is the SHARED [[cutByStarts]] fold, so
    * keep-one and cut-all can never disagree on interval algebra.
    */
  def substringCutKeepFirst(docs: DataFrame, idCol: String,
      textCol: String, windowTokens: Int): DataFrame = {
    val L = windowTokens
    // the repeatedWindowStarts single-exchange shape (r17, guide §2.4):
    // one h-keyed repartition feeds both the canonical-pick aggregate
    // and the join back, so the window explode runs once
    val inst = windowInstances(docs, idCol, textCol, windowTokens)
      .repartition(col("h"))
    val perHash = inst.groupBy(col("h"))
      .agg(count(lit(1)).as("cnt"),
        min(struct(col(idCol), col("pos"))).as("c"))
      .filter(col("cnt") >= 2)
    val cutStarts = inst.join(perHash, Seq("h"))
      .filter(!(col(idCol) === col("c").getField(idCol) &&
        col("pos") === col("c").getField("pos")))
      .select(col(idCol), col("pos"))
    cutByStarts(docs, idCol, textCol, cutStarts, L)
  }

  /** t47: benchmark DECONTAMINATION cut — the GPT-3/PaLM-style n-gram
    * decontamination pass, done at span granularity: every token
    * position of a CORPUS doc covered by an L-token window whose
    * content appears anywhere in the BENCHMARK set is cut and the
    * survivors reassemble (t33 flags which eval items leaked; this
    * removes the leak from the training text instead of dropping whole
    * documents — the surgical form public pipelines converged on).
    * Same [[windowInstances]] hashing and [[cutByStarts]] interval
    * kernel as d19/d29/d33, so "contaminated span" can never mean
    * something different from "repeated span".
    *
    * Scale shape: the benchmark window index ([[windowHashIndex]] over
    * the bench set) is benchmark-sized and broadcast at the probe (the
    * t33 rule); corpus windows die against it in a left-semi join as
    * (id, int, hash) rows; text moves only in [[cutByStarts]]'s one
    * id-keyed join. The AT-INGEST form needs no new code:
    * [[graft.streaming.PipelineStreams.substringCutAgainstCorpus]] fed
    * the benchmark's windowHashIndex IS streaming decontamination —
    * with the one semantic note that the streaming leg also cuts
    * within-doc repeats (d33's other half), a superset cut.
    */
  def decontaminateCut(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, windowTokens: Int): DataFrame =
    cutByStarts(corpus, idCol, textCol,
      windowInstances(corpus, idCol, textCol, windowTokens)
        .join(broadcast(
          windowHashIndex(benchmark, idCol, textCol, windowTokens)),
          Seq("h"), "left_semi")
        .select(col(idCol), col("pos")),
      windowTokens)

  /** The shared cut kernel: given per-doc 0-based window-start rows to
    * cut, fold them into disjoint intervals and rebuild each doc's kept
    * text — the d29 interval algebra, callable with any start policy
    * (all repeats → d29; non-canonical repeats → d33). */
  /** The interval half of the cut kernel: sorted 1-based window starts
    * folded into disjoint covered intervals — starts ascend, so an
    * overlapping/adjacent window (p ≤ last b) always extends the last
    * interval's end to p + L. Shared by [[cutByStarts]] (d29/d33) and
    * the at-ingest leg ([[graft.streaming.PipelineStreams
    * .substringCutAgainstCorpus]]), so batch and stream can never
    * disagree on interval algebra. */
  private[graft] def coveredIntervalsExpr(ss: Column, L: Int): Column =
    aggregate(
      coalesce(ss, expr("CAST(array() AS ARRAY<INT>)")),
      expr("CAST(array() AS ARRAY<STRUCT<a: INT, b: INT>>)"),
      (acc, p) => when(
        size(acc) > 0 && element_at(acc, -1)("b") >= p,
        concat(slice(acc, lit(1), size(acc) - 1),
          array(struct(element_at(acc, -1)("a").as("a"),
            (p + lit(L)).as("b")))))
        .otherwise(concat(acc,
          array(struct(p.as("a"), (p + lit(L)).as("b"))))))

  /** The rebuild half of the cut kernel: the token array with every
    * covered interval sliced out (running cursor, O(tokens +
    * intervals)). Shared with the at-ingest leg like
    * [[coveredIntervalsExpr]]. */
  private[graft] def keptTokensExpr(ts: Column, iv: Column): Column =
    aggregate(
      iv,
      struct(expr("CAST(array() AS ARRAY<STRING>)").as("ks"),
        lit(1).as("cur")),
      (st, v) => struct(
        concat(st("ks"),
          slice(ts, st("cur"), v("a") - st("cur"))).as("ks"),
        v("b").as("cur")),
      st => concat(st("ks"),
        slice(ts, st("cur"), size(ts) + lit(1) - st("cur"))))

  private def cutByStarts(docs: DataFrame, idCol: String, textCol: String,
      startRows: DataFrame, windowTokens: Int): DataFrame = {
    val L = windowTokens
    val starts = startRows
      .groupBy(col(idCol))
      // 1-based starts: slice() below is 1-based, and posexplode's pos
      // is the 0-based array index of the window start
      .agg(sort_array(collect_list(col("pos") + 1)).as("ss"))
    val toks = docs.select(col(idCol), TextFns.tokens(col(textCol)).as("ts"))
    toks.join(starts, Seq(idCol), "left")
      .withColumn("iv", coveredIntervalsExpr(col("ss"), L))
      .withColumn("kept", keptTokensExpr(col("ts"), col("iv")))
      .select(col(idCol),
        size(col("ts")).cast("long").as("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        (size(col("ts")) - size(col("kept"))).cast("long").as("n_covered"),
        array_join(col("kept"), " ").as("kept_text"))
  }

  /** d18: incremental NEAR-dup at ingest — the MinHash/LSH twin of
    * [[incrementalDedup]]: flag every BATCH document whose banded
    * signature collides with an already-ingested CORPUS document and
    * whose exact shingle Jaccard then verifies ≥ threshold. Per batch
    * doc: the minimal matching corpus id (deterministic attribution) and
    * the verified-match count; unmatched docs report (null, 0).
    *
    * Scale shape: the ONLY place batch and corpus meet is the band-keyed
    * join — each side shuffles (id, band, band_key) rows hashed on the
    * band key (the d10 blocker), never text or shingles. At steady state
    * the daily batch is tiny against the corpus, so AQE broadcasts the
    * batch band table and the corpus side is probed in place; in
    * production the corpus band table is a pre-materialized artifact of
    * past ingests (like d01's digest index), not recomputed per batch.
    * Shingle arrays join back id-keyed onto the candidate pairs only
    * (few by LSH design), and the final rollup is keyed by batch id.
    *
    * `batchIds` (optional) restricts the probe to a subset of batch docs
    * — the [[ingestTriage]] composition uses it to near-dup only the
    * exact-stage survivors. The restriction semi-joins the TEXT-FREE band
    * rows (so pruned docs never generate candidates) and the accounting
    * side (so the output row set is exactly the restriction); the shingle
    * projection stays full-batch per-row work — it is scan-side,
    * shuffle-free, and the candidate join already prunes what it carries.
    */
  /** The banded-signature index of a document set: (id, band, band_key)
    * rows — THE band table both [[incrementalNearDup]]'s sides and the
    * streaming at-ingest leg ([[graft.streaming.PipelineStreams]]) build
    * from, so batch and stream banding can never drift. In production
    * the corpus-side instance is a pre-materialized ingest artifact
    * (written once per ingest cycle, like d01's digest index), not
    * recomputed per batch.
    */
  def bandIndex(docs: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int, shingleWords: Int,
      outId: String = "cid"): DataFrame =
    // token-count pre-filter, NOT `sig.isNotNull` (same rows): the
    // signature filter pushes below the projection with the minhash
    // substituted in, evaluating the k-lane signature twice per row
    // (r17, guide §4.4 — see TextFns.hasMinTokens)
    docs.filter(TextFns.hasMinTokens(col(textCol), shingleWords))
      .select(col(idCol).as(outId),
        TextFns.shingleMinhash(
          TextFns.tokens(col(textCol)), shingleWords, k).as("sig"))
      .select(col(outId),
        posexplode(TextFns.lshBandKeys(col("sig"), k, bands))
          .as(Seq("band", "band_key")))

  /** The shingle-set sibling of [[bandIndex]] — (id, shingle HASHES)
    * rows for the exact-Jaccard verification step; same
    * shared-definition rule. r18: the set ships as xxhash64 values
    * (`array<bigint>`, see [[TextFns.wordShingleHashes]]) — Jaccard
    * over the hashed sets equals Jaccard over the strings modulo the
    * 2⁻⁶⁴ ideal collision rate, and every consumer (batch d18/d20, the
    * streaming near-dup legs) verifies through the same long kernel.
    * HASH-VERSION caveat as [[windowHashIndex]]: a shingleIndex
    * artifact persisted before r18 carries strings and matches nothing
    * — rebuild (or version-tag) persisted indexes when upgrading.
    */
  def shingleIndex(docs: DataFrame, idCol: String, textCol: String,
      shingleWords: Int, outId: String = "cid",
      outSh: String = "shs"): DataFrame =
    docs.select(col(idCol).as(outId),
      TextFns.wordShingleHashes(col(textCol), shingleWords).as(outSh))

  /** Shard key for a RELEASE-SERVED [[shingleIndex]] artifact: the
    * shingle table is ~corpus-sized (the corpus text re-materialized),
    * and any per-batch consumer that joins it by `cid` otherwise decodes
    * the WHOLE artifact per micro-batch. Writing the artifact
    * `.withColumn("shard", shingleShard(col("cid"))).write
    * .partitionBy("shard")` lets a candidate-keyed join prune to the
    * candidate shards via dynamic partition pruning — scan cost ∝
    * candidates, not corpus (measured on the 100× ingest probe; see
    * [[graft.streaming.PipelineStreams.ingestChain]]). ONE shared
    * definition for writer and reader, so the join key can never drift
    * from the layout.
    */
  val ShingleShards = 64
  def shingleShard(cid: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(cid, lit(ShingleShards)).cast("int")

  def incrementalNearDup(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      k: Int = 16, bands: Int = 4, shingleWords: Int = 3,
      batchIds: Option[DataFrame] = None): DataFrame = {
    def restrict(df: DataFrame, idName: String) = batchIds match {
      case Some(ids) =>
        df.join(ids.select(col(idCol).as(idName)), Seq(idName), "left_semi")
      case None => df
    }
    val cands = restrict(
        bandIndex(batch, idCol, textCol, k, bands, shingleWords, "bid"),
        "bid")
      .join(bandIndex(corpus, idCol, textCol, k, bands, shingleWords, "cid"),
        Seq("band", "band_key"))
      .select(col("bid"), col("cid")).distinct()
    def sh(df: DataFrame, idName: String, shName: String) =
      shingleIndex(df, idCol, textCol, shingleWords, idName, shName)
    val verified = cands
      .join(sh(batch, "bid", "sh_b"), Seq("bid"))
      .join(sh(corpus, "cid", "sh_c"), Seq("cid"))
      .filter(TextFns.jaccard(col("sh_b"), col("sh_c")) >= threshold)
      .groupBy(col("bid"))
      .agg(min(col("cid")).as("dup_of"), count(lit(1)).as("n_matches"))
    restrict(batch.select(col(idCol)), idCol)
      .join(verified.withColumnRenamed("bid", idCol), Seq(idCol), "left")
      .select(col(idCol), col("dup_of"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"))
  }

  /** d20: the actual ingest decision pipeline — [[incrementalDedup]]'s
    * exact classification, then [[incrementalNearDup]] over ONLY the
    * `new_unique` survivors, composed as one plan. Per batch doc:
    * the exact status, the near-dup attribution (minimal verified corpus
    * match among survivors; null otherwise), and the final `decision` —
    * `ingest` (genuinely new), `near_dup_corpus` (exact-new but
    * near-duplicates an ingested doc), or the exact status verbatim for
    * `dup_in_corpus` / `dup_in_batch` (those never reach the LSH stage,
    * exactly as a production ingest gate orders its cheap-to-expensive
    * checks).
    *
    * Scale shape: the survivor restriction flows into the near-dup stage
    * as a semi-join on TEXT-FREE band rows, so exact dups generate no
    * candidates; the exact stage's digest subtree feeds both the output
    * and the survivor filter — identical shuffle subtrees that AQE
    * materializes once and replays (stage-level reuse; verified
    * ReusedExchange in the final plan). In production the exact stage's
    * output is the ingest ledger — written once, read by the near-dup
    * leg — so the replay disappears entirely.
    */
  def ingestTriage(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      k: Int = 16, bands: Int = 4, shingleWords: Int = 3): DataFrame = {
    val exact = incrementalDedup(corpus, batch, idCol, textCol)
    val survivorIds = exact.filter(col("status") === "new_unique")
      .select(col(idCol))
    val near = incrementalNearDup(corpus, batch, idCol, textCol, threshold,
      k, bands, shingleWords, batchIds = Some(survivorIds))
    exact
      .join(near.select(col(idCol), col("dup_of").as("near_dup_of"),
        col("n_matches").as("n_near_matches")), Seq(idCol), "left")
      .select(col(idCol), col("digest"), col("status"), col("near_dup_of"),
        coalesce(col("n_near_matches"), lit(0L)).as("n_near_matches"),
        when(col("status") =!= "new_unique", col("status"))
          .when(col("near_dup_of").isNotNull, lit("near_dup_corpus"))
          .otherwise(lit("ingest")).as("decision"))
  }

  /** THE URL-canonicalization recipe, shared by [[urlDedup]] and its oracle
    * (one rule list so engine and oracle cannot drift): strip the fragment,
    * strip `utm_*` tracking params (the synthetic URLs carry at most one
    * query param; a multi-param canonicalizer would re-apply the replace to
    * a fixpoint), lowercase scheme+authority ONLY (paths are
    * case-significant per RFC 3986 §6.2.2.1), drop http's default `:80`
    * port, and drop one trailing slash. Every regex is anchored so it
    * matches at most once — the one shape where Spark's replace-all and
    * DuckDB's replace-first `regexp_replace` semantics provably agree.
    * Pure per-row string work: runs inside the scan's codegen stage,
    * nothing shuffles before the canonical-key aggregate.
    */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val noUtm = regexp_replace(noFrag, "\\?utm_[^&#]*$", "")
    // scheme matching is case-insensitive (RFC 3986 §3.1) — the (?i:)
    // group keeps the insensitivity away from the host capture, though
    // lower() makes that moot here
    val auth = regexp_extract(noUtm, "^((?i:https?)://[^/]*)", 1)
    val lowered = concat(lower(auth), noUtm.substr(length(auth) + 1, length(noUtm)))
    val noPort = regexp_replace(lowered, "^(http://[^/:]+):80(/|$)", "$1$2")
    regexp_replace(noPort, "/$", "")
  }

  /** d23: URL dedup — the first pass every web-corpus pipeline runs
    * (FineWeb, CCNet, RefinedWeb dedup by canonicalized URL before any
    * content hash exists): canonicalize each capture's URL and keep the
    * EARLIEST capture per canonical URL ((ts, id) total order).
    *
    * Scale shape: canonicalization is per-row scan-side; the only shuffle
    * is the canonical-key aggregate, with map-side partial `min(struct)` /
    * `count` — the t07 min-struct survivor pattern, no window, no
    * join-back, one output row per canonical URL. At 100 TB the canonical
    * key is the natural partition key and skew (a crawler loop hammering
    * one URL) collapses in the partials before it can concentrate.
    */
  def urlDedup(captures: DataFrame, urlCol: String, tsCol: String,
      idCol: String): DataFrame =
    captures
      .withColumn("canon_url", canonicalUrl(col(urlCol)))
      .groupBy(col("canon_url"))
      .agg(count(lit(1)).as("n_captures"),
        min(struct(col(tsCol), col(idCol))).as("first"))
      .select(col("canon_url"), col("n_captures"),
        col("first").getField(idCol).as("kept_event_id"))

  /** Train/eval decontamination: per corpus doc, how many of its distinct
    * word n-grams appear anywhere in the benchmark set (docs sharing any
    * n-gram are contamination suspects). The benchmark shingle set is tiny
    * relative to the corpus → broadcast join, so corpus shingles never
    * shuffle; for very large eval suites drop the hint and the same plan
    * becomes a shingle-keyed shuffle join. `wordShingles` is per-doc
    * distinct, so count(*) == countDistinct(sh) in one aggregate phase.
    */
  def decontaminationCounts(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val benchShingles = benchmark
      .select(explode(graft.functions.TextFns.wordShingles(col(textCol), n)).as("sh"))
      .distinct()
    corpus
      .select(col(idCol),
        explode(graft.functions.TextFns.wordShingles(col(textCol), n)).as("sh"))
      .join(org.apache.spark.sql.functions.broadcast(benchShingles), Seq("sh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** d28: duplicate-cluster size histogram — the dedup datasheet figure
    * every dedup paper leads with (Lee et al. "Deduplicating Training
    * Data", the C4/RefinedWeb analyses): how many exact-dup clusters
    * exist at each size scale, how many documents they hold, and what
    * share of the corpus that is. Complements t27's per-source dup
    * fraction with the corpus-wide SHAPE of duplication — a corpus where
    * 10% of docs sit in two-copy clusters needs different handling than
    * one where 10% sit in a single million-copy cluster.
    *
    * Buckets are power-of-two floors (1, 2, 4, …, capped at `maxBucket`)
    * decided by a STATIC when-chain on the cluster size — all-integer
    * (no float log2, whose boundary rounding could misbucket an exact
    * power), and codegen-friendly per the t20 rule. Scale shape: the
    * only corpus-sized exchange is [[exactDedup]]'s digest aggregate
    * (map-side partials, text never shuffles); the cluster table rolls
    * up to ≤ log2(maxBucket)+1 rows, and the corpus total for the share
    * column is a 1-row aggregate OF THAT rollup (no second corpus pass),
    * broadcast back the d08 way.
    */
  /** The bucket/rollup/share TAIL of the histogram, shared by [[d28
    * dupClusterHistogram]] (exact-dup digest clusters) and m12 (audio
    * near-dup clusters) so the two datasheet figures can never bucket
    * differently: input is one `n_copies` row per cluster; output the
    * power-of-two-floor rollup with the corpus-share column. The total
    * is a 1-row aggregate OF THE ROLLUP (no second pass), broadcast back
    * the d08 way. */
  private[graft] def sizeHistogram(clusterSizes: DataFrame,
      maxBucket: Int): DataFrame = {
    require(maxBucket >= 1 && Integer.bitCount(maxBucket) == 1,
      s"maxBucket=$maxBucket must be a power of two")
    val lows = Iterator.iterate(maxBucket)(_ / 2).takeWhile(_ > 1).toSeq
    val bucketLo = lows.foldLeft(null: Column) { (acc, lo) =>
      if (acc == null) when(col("n_copies") >= lo, lit(lo))
      else acc.when(col("n_copies") >= lo, lit(lo))
    } match {
      case null => lit(1)
      case c => c.otherwise(lit(1))
    }
    val buckets = clusterSizes
      .select(bucketLo.as("bucket_lo"), col("n_copies"))
      .groupBy(col("bucket_lo"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("n_copies")).as("n_docs"))
    val total = buckets.agg(sum(col("n_docs")).as("total_docs"))
    buckets.crossJoin(broadcast(total))
      .select(col("bucket_lo"), col("n_clusters"), col("n_docs"),
        expr("(1000 * n_docs) div total_docs").as("doc_share_milli"))
  }

  def dupClusterHistogram(docs: DataFrame, idCol: String, textCol: String,
      maxBucket: Int = 128): DataFrame =
    sizeHistogram(exactDedup(docs, idCol, textCol).select(col("n_copies")),
      maxBucket)

  /** t33: eval-leakage report — [[decontaminationCounts]]'s dual, aggregated
    * per BENCHMARK item instead of per corpus doc: for each eval-set
    * document, what fraction of its distinct word n-grams appears ANYWHERE
    * in the training corpus. d07 answers "which training docs must I drop";
    * this answers "which eval items are already compromised" — the
    * benchmark-integrity datasheet (the GPT-3/PaLM appendix-style
    * contamination analysis) a lab publishes alongside a model, and the
    * signal that decides whether an eval stays in the suite at all.
    *
    * Scale shape: corpus shingles NEVER shuffle — the tiny benchmark
    * shingle set broadcasts onto the corpus scan as a semi-join filter,
    * and the surviving matched-shingle `distinct` is key-bounded by that
    * same benchmark set (map-side partials collapse each matched gram
    * before the one exchange), so a 100 TB corpus contributes at most
    * |bench shingles| aggregate rows. Everything after — the leaked-flag
    * join and the per-item rollup — is benchmark-sized. leak_milli is
    * integer floor-division (NULL for a shingle-less item: shorter than n
    * words, nothing to leak through).
    */
  /** THE benchmark shingle set — the pre-materialized contamination
    * artifact (one `sh` row per distinct bench n-gram) shared by batch
    * t33/t36 and the streaming
    * [[graft.streaming.PipelineStreams.leakageByWindow]] monitor, so the
    * three surfaces can never gram differently. Benchmark-sized; always
    * broadcast at the probe. */
  def benchShingleSet(benchmark: DataFrame, textCol: String,
      n: Int): DataFrame =
    benchmark.select(explode(TextFns.wordShingles(col(textCol), n)).as("sh"))
      .distinct()

  def evalLeakage(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val benchSh = benchmark.select(col(idCol).as("bench_id"),
      explode(TextFns.wordShingles(col(textCol), n)).as("sh"))
    val leaked = corpus
      .select(explode(TextFns.wordShingles(col(textCol), n)).as("sh"))
      .join(broadcast(benchShingleSet(benchmark, textCol, n)),
        Seq("sh"), "left_semi")
      .distinct()
      .select(col("sh"), lit(true).as("leaked"))
    val perItem = benchSh.join(broadcast(leaked), Seq("sh"), "left")
      .groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("leaked")).as("n_leaked"))
    benchmark.select(col(idCol).as("bench_id"))
      .join(perItem, Seq("bench_id"), "left")
      .select(col("bench_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"))
      .withColumn("leak_milli",
        when(col("n_grams") > 0, expr("(1000 * n_leaked) div n_grams")))
  }

  /** t36: [[evalLeakage]] attributed to the INGEST SOURCE — for each
    * corpus source, how many distinct benchmark n-grams it contains and
    * how many eval items it compromises. t33 answers "which eval items
    * are contaminated"; this answers "which acquisition pipeline did the
    * contaminating" — the actionable axis (you can't fix an eval item,
    * but you CAN drop or re-filter a feed), and the per-source column of
    * the same datasheet t27/t32 put source rows in. Sources with zero
    * leaks still report (a clean feed is a finding, not a missing row).
    *
    * Scale shape: the t33 discipline per source — corpus text never
    * shuffles (shingles explode scan-side and die against the broadcast
    * bench-shingle semi-join before the one distinct exchange), and the
    * surviving (source, sh) table is bounded by |bench shingles| ×
    * |sources that leak them|, with `srcCol` low-cardinality by schema.
    * Everything after — the gram join back, the per-source rollup, the
    * 1-row total — is benchmark-sized; the only forced broadcasts are
    * the bench shingle set and that 1-row total (the t11 rule).
    */
  def evalLeakageBySource(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, srcCol: String, n: Int): DataFrame = {
    val benchSh = benchmark.select(col(idCol).as("bench_id"),
      explode(TextFns.wordShingles(col(textCol), n)).as("sh"))
    val srcLeak = corpus
      .select(col(srcCol).as("source"),
        explode(TextFns.wordShingles(col(textCol), n)).as("sh"))
      .join(broadcast(benchShingleSet(benchmark, textCol, n)),
        Seq("sh"), "left_semi")
      .distinct()
    val rolled = benchSh.join(broadcast(srcLeak), Seq("sh"))
      .groupBy(col("source"))
      .agg(countDistinct(col("sh")).as("n_leaked_grams"),
        countDistinct(col("bench_id")).as("n_items_hit"))
    val total = benchmark.agg(count(lit(1)).as("n_items_total"))
    corpus.select(col(srcCol).as("source")).distinct()
      .join(rolled, Seq("source"), "left")
      .crossJoin(broadcast(total))
      .select(col("source"),
        coalesce(col("n_leaked_grams"), lit(0L)).as("n_leaked_grams"),
        coalesce(col("n_items_hit"), lit(0L)).as("n_items_hit"),
        col("n_items_total"),
        when(col("n_items_total") > 0,
          expr("(1000 * coalesce(n_items_hit, 0)) div n_items_total"))
          .as("item_share_milli"))
  }

  /** d27: recrawl snapshot delta — the change-classification pass between
    * two captures of the same id space (two crawls of the same seed list,
    * two corpus releases): full-outer align the snapshots on id and label
    * every id `added` / `removed` / `changed` / `unchanged` by comparing
    * [[contentDigest]]s. This is the freshness ledger an incremental
    * recrawl pipeline feeds back into scheduling (hosts whose pages churn
    * get recrawled sooner — the reference's crawl-frequency loop one level
    * up) and the provenance diff published between corpus releases.
    *
    * Scale shape: digests are per-row scan-side, so the full-outer join
    * moves (id, digest) pairs only — text never shuffles. The
    * join key is the snapshot's natural sort/bucket key; against bucketed
    * snapshot artifacts both exchanges elide entirely, and either way the
    * shuffle volume is two digest tables, not two corpora.
    */
  /** THE delta-status rule — shared by batch [[snapshotDelta]] and the
    * streaming at-ingest classifier
    * ([[graft.streaming.PipelineStreams.revisitClassifier]]), so the two
    * surfaces label a capture identically by construction. Presence rides
    * explicit flags (not digest nullness — a null-text row IS present,
    * its digest is null) and the digest comparison is null-safe, so two
    * null-text captures compare `unchanged`.
    */
  private[graft] def deltaStatus(inOld: Column, inNew: Column,
      oldDigest: Column, newDigest: Column): Column =
    when(inOld.isNull, lit("added"))
      .when(inNew.isNull, lit("removed"))
      .when(oldDigest <=> newDigest, lit("unchanged"))
      .otherwise(lit("changed"))

  /** The (id, old_digest) table [[snapshotDelta]]'s old side reduces to —
    * and the pre-materialized artifact the streaming
    * [[graft.streaming.PipelineStreams.revisitClassifier]] probes (the
    * d01-digest-index pattern: the previous crawl contributes digests,
    * never text). One builder so batch and stream index the snapshot
    * identically.
    */
  def snapshotDigestIndex(snap: DataFrame, idCol: String,
      textCol: String): DataFrame =
    snap.select(col(idCol), contentDigest(col(textCol)).as("old_digest"))

  def snapshotDelta(oldSnap: DataFrame, newSnap: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val o = snapshotDigestIndex(oldSnap, idCol, textCol)
      .withColumn("in_old", lit(true))
    val n = newSnap.select(col(idCol),
      contentDigest(col(textCol)).as("new_digest"), lit(true).as("in_new"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol), col("old_digest"), col("new_digest"),
        deltaStatus(col("in_old"), col("in_new"),
          col("old_digest"), col("new_digest")).as("status"))
  }

  /** Corpus-internal boilerplate accounting (the MassiveText/CCNet-style
    * repeated-span signal, adapted to span-free docs): per document, how
    * many of its distinct word n-grams occur in at least `minDf` documents
    * corpus-wide. High fractions mark template/boilerplate-heavy docs.
    *
    * Scale shape: the only thing that ever shuffles is (id, gram) pairs —
    * once into the gram-keyed document-frequency aggregate (partial
    * map-side), once into the gram-keyed join back (the two exchanges
    * share a key, so the df side's exchange is reused), then a final
    * id-keyed rollup. Document text never moves, and unlike
    * [[decontaminationCounts]] there is no broadcastable side: the df
    * table is corpus-sized, so the join stays shuffle-keyed by design.
    * `wordShingles` is per-doc distinct, so df = count(*) per gram and
    * n_grams = count(*) per doc, each in one aggregate phase.
    */
  def boilerplateNgramCounts(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minDf: Int): DataFrame = {
    val grams = docs.select(col(idCol),
      explode(TextFns.wordShingles(col(textCol), n)).as("sh"))
    // df deliberately as aggregate + join back, NOT as
    // `count over Window.partitionBy(sh)`: the window variant measured
    // faster solo at sf0.1 (0.82 vs 1.16 s — it saves the second explode
    // pass) but buffers each gram's whole occurrence list in one window
    // group, and a boilerplate gram is BY DEFINITION the hottest key in
    // the corpus — unbounded per-key state at scale. The aggregate
    // collapses hot grams map-side before its shuffle, and the join's
    // residual skew is exactly what AQE skew-split handles.
    val df = grams.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    grams.join(df, Seq("sh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("df") >= minDf, 1)).as("n_boiler"))
      .withColumn("boiler_frac",
        round(col("n_boiler").cast("double") / col("n_grams"), 6))
  }

  /** MinHash+LSH near-duplicate candidate pairs over word shingles.
    *
    * Stages (classic shingle→minhash→band→bucket-join):
    *  1. per row: shingles → k-wide signature → `bands` band keys (no shuffle)
    *  2. explode band keys (×bands row growth of tiny rows)
    *  3. self-join on (band_index, band_key) — the ONLY shuffle, keyed on
    *     the band hash, so each bucket is colocated; skew from giant
    *     buckets is bounded by the band hash's 64-bit range
    *  4. distinct candidate pairs (a < b)
    */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, shingleWords: Int = 3): DataFrame = {
    // token-count pre-filter, NOT `sig.isNotNull` (same rows — see
    // TextFns.hasMinTokens): the signature filter pushed below the
    // projection evaluated the minhash twice per row (r17, guide §4.4);
    // the explicit band-keyed exchange feeds BOTH self-join sides, so
    // the corpus scan + signature pass runs ONCE, not once per side
    // (r17, guide §2.4 — the broadcast plan rebuilt the whole subtree
    // for the build side)
    val sigs = docs
      .filter(TextFns.hasMinTokens(col(textCol), shingleWords))
      .select(
        col(idCol).as("id"),
        TextFns.shingleMinhash(
          TextFns.tokens(col(textCol)), shingleWords, k).as("sig"))
      .select(col("id"),
        posexplode(TextFns.lshBandKeys(col("sig"), k, bands))
          .as(Seq("band", "band_key")))
      .repartition(col("band"), col("band_key"))
    val a = sigs.as("a")
    val b = sigs.as("b")
    a.join(b,
        col("a.band") === col("b.band") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Verify candidate pairs with exact n-gram Jaccard ≥ threshold (the
    * second stage of the standard LSH pipeline). Joins text back to the
    * candidate pairs — candidates are few, so the joins broadcast the pair
    * list at realistic scales.
    */
  def minhashVerified(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 16, bands: Int = 4,
      shingleWords: Int = 3): DataFrame = {
    val cands = minhashCandidates(docs, idCol, textCol, k, bands, shingleWords)
    // one id-keyed exchange feeds both pair-side joins (r17, guide §2.4):
    // the shingle pass over the corpus runs once, not once per branch.
    // r18: HASHED shingles through the joins (8 B/shingle shipped, long
    // set kernel per pair — see TextFns.wordShingleHashes; jaccard and
    // the size guard are identical modulo the 2⁻⁶⁴ collision rate)
    val sh = docs.select(col(idCol).as("jid"),
      TextFns.wordShingleHashes(col(textCol), shingleWords).as("sh"))
      .repartition(col("jid"))
    // size-ratio short-circuit before the set verify (r17, exact — see
    // lshTuningCurve): distinct shingle arrays give jaccard ≤ min/max
    // sizes, so ratio < threshold pairs drop on two ints. NULLIF-style
    // greatest(…, 1) guards the ANSI division: a doc with < shingleWords
    // tokens has an EMPTY (not null) shingle array here because this
    // side is unfiltered, and such a pair's jaccard is 0 < threshold —
    // the guard keeps it short-circuited, never divided by zero.
    val la = size(col("sh_a")).cast("double")
    val lb = size(col("sh_b")).cast("double")
    val sizeGuard =
      least(la, lb) / greatest(greatest(la, lb), lit(1.0)) >= threshold
    cands
      .join(sh.withColumnRenamed("jid", "id_a").withColumnRenamed("sh", "sh_a"), Seq("id_a"))
      .join(sh.withColumnRenamed("jid", "id_b").withColumnRenamed("sh", "sh_b"), Seq("id_b"))
      .filter(sizeGuard &&
        TextFns.jaccard(col("sh_a"), col("sh_b")) >= threshold)
      .withColumn("jaccard", TextFns.jaccard(col("sh_a"), col("sh_b")))
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** End-to-end MinHash LSH audit: every banded candidate pair with BOTH
    * the signature-estimated Jaccard (fraction of agreeing minhash
    * components — the unbiased MinHash estimator) and the exact shingle
    * Jaccard, so estimator quality is measurable per pair.
    *
    * Scale shape: candidates come from [[minhashCandidates]] (the band-key
    * join is the only corpus-sized shuffle); signatures and shingle arrays
    * then join back id-keyed, but only onto the candidate pairs — at
    * realistic near-dup rates that side is tiny and broadcasts. Signature
    * computation runs once per join branch (three times total) rather than
    * being cached: it is per-row, shuffle-free work, and recomputing it is
    * cheaper at scale than persisting a corpus-sized intermediate.
    *
    * Pairing caveat (shared with [[minhashCandidates]]): the band key is a
    * 64-bit hash of the signature slice, so two UNEQUAL slices could in
    * principle co-bucket on a hash collision and emit a pair an
    * equality-on-slices oracle lacks; deterministic per dataset, and at
    * 2⁻⁶⁴ per bucket it never bounds recall (collisions only ADD
    * candidates).
    */
  def minhashEstimates(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, shingleWords: Int = 3): DataFrame = {
    val cands = minhashCandidates(docs, idCol, textCol, k, bands, shingleWords)
    // token-count pre-filter (same rows as `sig.isNotNull`, one minhash
    // eval per row instead of two — guide §4.4) and ONE id-keyed exchange
    // feeding both pair-side joins (guide §2.4): the signature+shingle
    // pass over the corpus runs once, not once per join branch
    val side = docs
      .filter(TextFns.hasMinTokens(col(textCol), shingleWords))
      .select(col(idCol).as("jid"),
        TextFns.shingleMinhash(
          TextFns.tokens(col(textCol)), shingleWords, k).as("sig"),
        // r18: hashed shingles through the pair joins (see minhashVerified)
        TextFns.wordShingleHashes(col(textCol), shingleWords).as("sh"))
      .repartition(col("jid"))
    def renamed(suffix: String) = side.select(col("jid").as(s"id_$suffix"),
      col("sig").as(s"sig_$suffix"), col("sh").as(s"sh_$suffix"))
    cands
      .join(renamed("a"), Seq("id_a"))
      .join(renamed("b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        // agreeing components / k: an integer ratio over a power-of-two k,
        // exact in binary, so round(6) is a no-op normalization.
        round(size(filter(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => x === y), b => b)).cast("double") / k, 6)
          .as("est_jaccard"),
        round(TextFns.jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
  }

  /** d26: shingle CONTAINMENT audit over the banded candidate pairs —
    * the asymmetric complement of [[minhashEstimates]]'s Jaccard:
    * C(A⊆B) = |A∩B|/|A| and its mirror, with the set sizes riding along.
    * Near-total containment at modest Jaccard is the doc-IN-doc
    * signature (a quoted article inside an aggregator page, a README
    * pasted into a monorepo dump) that symmetric Jaccard structurally
    * under-scores — the Broder resemblance-vs-containment distinction.
    *
    * Scope caveat, documented deliberately: candidates here come from
    * JACCARD banding, which under-samples tiny-doc-in-huge-doc pairs
    * (their Jaccard is low, so few bands agree); this operator AUDITS
    * containment on the pairs the d10 pipeline already surfaces. True
    * subset SEARCH at scale is d19's repeated-window family, whose
    * anchoring is length-free.
    *
    * Scale shape: identical to [[minhashEstimates]] — the band join is
    * the only corpus-sized shuffle; shingle arrays join back onto
    * candidate pairs only. Every output is an integer set size or a
    * ratio of two of them (round(6) exact-in-binary normalization).
    */
  def containmentEstimates(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, shingleWords: Int = 3): DataFrame = {
    val cands = minhashCandidates(docs, idCol, textCol, k, bands, shingleWords)
    // one id-keyed exchange feeds both pair-side joins (r17, guide §2.4):
    // the shingle pass over the corpus runs once, not once per branch.
    // r18: hashed shingles (see minhashVerified) — array_intersect and
    // the set sizes below count the same values modulo 2⁻⁶⁴ collisions
    val side = docs.select(col(idCol).as("jid"),
      TextFns.wordShingleHashes(col(textCol), shingleWords).as("sh"))
      .repartition(col("jid"))
    cands
      .join(side.select(col("jid").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(side.select(col("jid").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("n_common",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .select(col("id_a"), col("id_b"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"),
        col("n_common"),
        round(col("n_common").cast("double") / size(col("sh_a")), 6)
          .as("containment_a"),
        round(col("n_common").cast("double") / size(col("sh_b")), 6)
          .as("containment_b"))
  }

  /** LSH banding S-curve sweep: candidate volume and true-dup yield for
    * every aligned (bands, rowsPerBand) cut of the k-wide signature, in
    * ONE pass — the band-choice tuning table for [[minhashCandidates]]
    * (the d10 twin of s14's probe-budget frontier: both answer "what does
    * the next notch of recall cost?").
    *
    * One-pass shape (the s14 lesson — never one scan per config): the
    * candidate universe is the FINEST banding (bands = k, one component
    * per band — a superset of every coarser config's candidates, since
    * agreeing on an r-wide aligned slice implies agreeing on each
    * component in it); signatures join back id-keyed onto the candidate
    * pairs only, the per-component agreement mask is computed once, and
    * each config's verdict ("some aligned slice fully agrees") is derived
    * from the mask — a bounded ×configs explode of tiny rows, then a
    * low-cardinality rollup. The configs nest (candidates(2,8) ⊆ (4,4) ⊆
    * (8,2) ⊆ (16,1)), so n_candidates is monotone in bands — spec-pinned.
    *
    * Scale: rows=1 banding is deliberately the audit's cost — its
    * candidate set is far larger than production banding's, which is why
    * this runs on a sampled slice at 100 TB (it is a tuning query, like
    * s14 — the production pass stays [[minhashCandidates]] at the chosen
    * config). The slice is the `sampleFrac` knob: a DETERMINISTIC 24-bit
    * md5 draw on the doc id (the t06 split recipe — not `rand()`), so
    * repeated runs, retried tasks, and any oracle recomputation all see
    * the exact same slice; frac ≥ 1 bypasses the filter entirely (the
    * registry default, full-corpus audit at test scale). Same 2⁻⁶⁴
    * slice-hash caveat as [[minhashCandidates]]:
    * a hash collision can only ADD a candidate pair (whose mask then
    * decides every config verdict by true equality, both engines alike).
    */
  def lshTuningCurve(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16, shingleWords: Int = 3,
      threshold: Double = 0.5, sampleFrac: Double = 1.0): DataFrame = {
    require(sampleFrac > 0.0 && sampleFrac <= 1.0,
      s"sampleFrac=$sampleFrac out of (0, 1]")
    val bandConfigs = Seq(2, 4, 8, 16).filter(b => k % b == 0)
    // threshold precomputed as ONE engine-side integer (t21 lesson: never
    // re-derive a float cut row-side where the other engine might round
    // differently); 2^24 is the full md5-draw scale, per the t21 trap.
    val sampled =
      if (sampleFrac >= 1.0) docs
      else docs.filter(
        conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 6),
          16, 10).cast("long") <
          lit(math.floor(sampleFrac * (1L << 24)).toLong))
    val cands = minhashCandidates(sampled, idCol, textCol, k, bands = k,
      shingleWords)
    // token-count pre-filter (same rows as `sig.isNotNull`, one minhash
    // eval per row instead of two — guide §4.4) and ONE id-keyed exchange
    // feeding both pair-side joins (guide §2.4), as in minhashEstimates
    val side = sampled
      .filter(TextFns.hasMinTokens(col(textCol), shingleWords))
      .select(col(idCol).as("jid"),
        TextFns.shingleMinhash(
          TextFns.tokens(col(textCol)), shingleWords, k).as("sig"),
        // r18: hashed shingles through the pair joins (see minhashVerified)
        TextFns.wordShingleHashes(col(textCol), shingleWords).as("sh"))
      .repartition(col("jid"))
    def renamed(suffix: String) = side.select(col("jid").as(s"id_$suffix"),
      col("sig").as(s"sig_$suffix"), col("sh").as(s"sh_$suffix"))
    // size-ratio short-circuit on the thresholded verify (r17, exact):
    // wordShingles arrays are distinct sets, so jaccard ≤ min(|A|,|B|) /
    // max(|A|,|B|); when that ratio is already below the threshold the
    // pair is a proven non-dup and the per-pair set build never runs
    // (Spark's And codegen short-circuits). Sizes ≥ 1 — the side filter
    // keeps only docs with ≥ shingleWords tokens — so the ANSI division
    // is safe. ~42% of the 157k sf0.1 candidates die on the size check.
    val la = size(col("sh_a")).cast("double")
    val lb = size(col("sh_b")).cast("double")
    val scored = cands
      .join(renamed("a"), Seq("id_a"))
      .join(renamed("b"), Seq("id_b"))
      .select(
        zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y).as("mask"),
        // exact integer-ratio double, identical cross-engine (d10 recipe)
        ((least(la, lb) / greatest(la, lb) >= threshold) &&
          (TextFns.jaccard(col("sh_a"), col("sh_b")) >= threshold)).as("is_dup"))
    scored
      .select(col("is_dup"), explode(array(bandConfigs.map { b =>
        val r = k / b
        struct(lit(b).as("bands"), lit(r).as("rows_per_band"),
          exists(sequence(lit(0), lit(b - 1)),
            g => forall(slice(col("mask"), g * lit(r) + lit(1), lit(r)),
              x => x)).as("caught"))
      }: _*)).as("c"))
      .filter(col("c.caught"))
      .groupBy(col("c.bands").as("bands"),
        col("c.rows_per_band").as("rows_per_band"))
      .agg(count(lit(1)).as("n_candidates"),
        count(when(col("is_dup"), 1)).as("n_true_dups"))
      .orderBy(col("bands"))
  }

  /** SimHash near-dup pairs via block-permutation bucketing: the signature
    * is cut into `maxHamming + 1` bit slices, so by pigeonhole any pair
    * within Hamming distance ≤ maxHamming agrees on at least one whole
    * slice and is co-bucketed — candidate recall is complete for the
    * requested radius (more slices = shorter keys = more candidates, the
    * standard recall/cost trade).
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32,
      s"maxHamming=$maxHamming out of range: slices need ≥2 bits each")
    val nSlices = maxHamming + 1
    val bounds = (0 to nSlices).map(i => i * 64 / nSlices) // slice bit edges
    // token-count pre-filter, NOT `sig.isNotNull` (same rows: simhash is
    // null iff zero tokens): the signature filter pushed below the
    // projection evaluated the simhash twice per row (guide §4.4); the
    // explicit slice-keyed exchange feeds BOTH self-join sides so the
    // corpus signature pass runs once (guide §2.4)
    val sigs = docs.filter(TextFns.hasMinTokens(col(textCol), 1))
      .select(col(idCol).as("id"),
        TextFns.simhash64Fast(TextFns.tokens(col(textCol))).as("sig"))
    val sliced = sigs.select(col("id"), col("sig"),
      posexplode(array((0 until nSlices).map { b =>
        val width = bounds(b + 1) - bounds(b)
        val mask = if (width == 64) -1L else (1L << width) - 1L
        shiftrightunsigned(col("sig"), bounds(b)).bitwiseAND(mask)
      }: _*))
        .as(Seq("slice", "slice_key")))
      .repartition(col("slice"), col("slice_key"))
    val a = sliced.as("a")
    val b = sliced.as("b")
    a.join(b,
        col("a.slice") === col("b.slice") &&
        col("a.slice_key") === col("b.slice_key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        TextFns.hamming64(col("a.sig"), col("b.sig")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact-Jaccard near-dup edges within equality blocks: self-join on the
    * blocking columns (the only shuffle — keyed on the block), verify with
    * exact token-set Jaccard ≥ threshold. Equality blocking keeps the
    * pairing SQL-expressible (the d06 oracle recomputes it verbatim in
    * DuckDB); at 100 TB swap the blocking key for LSH bands
    * ([[minhashCandidates]]) — the clustering downstream is identical.
    */
  def jaccardEdges(docs: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], threshold: Double): DataFrame = {
    val t = docs.select(
      (col(idCol).as("jid") +: blockCols.map(col)) :+
        array_distinct(TextFns.tokens(col(textCol))).as("toks"): _*)
    val a = t.as("a")
    val b = t.as("b")
    val blockEq = blockCols.map(k => col(s"a.$k") === col(s"b.$k"))
    a.join(b, (blockEq :+ (col("a.jid") < col("b.jid"))).reduce(_ && _))
      .filter(TextFns.jaccard(col("a.toks"), col("b.toks")) >= threshold)
      .select(col("a.jid").as("src"), col("b.jid").as("dst"))
  }

  /** Lineage pin for the iterative loops (connectedComponents, g01's
    * hostRank): `localCheckpoint()` by default — fast, executor-resident,
    * the right local/bench mode — or a reliable `checkpoint()` when
    * `reliable`, because localCheckpoint blocks are NOT fault-tolerant:
    * on a real cluster one executor loss mid-iteration kills the whole
    * multi-hop job. A 100 TB run opts in after
    * `SparkContext.setCheckpointDir` and pays one checkpoint-dir write
    * per pinned state instead of the restart. Both calls are eager, so
    * loop-side semantics (one materializing job per hop) are identical.
    *
    * Storage cost of `reliable = true`: Spark never deletes checkpoint
    * RDD directories on its own (only with
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, default
    * false, and even then only once the RDD is GC'd), so a long run
    * accumulates one full state snapshot per pinned hop — TWO per
    * non-converged connectedComponents round (the propagation step and
    * the pointer-halving `ccJump` pin), i.e. up to ~2·log(diameter)+2
    * per call now that convergence is log-bounded, one per hostRank
    * iteration plus its setup pins, one per BPE training round — for
    * the life of the app.
    * A 100 TB deployment should set that conf, or clean superseded
    * `ReliableRDDCheckpointData` dirs after each hop materializes; the
    * dir itself must be sized for at least two live snapshots (the hop
    * being written still reads the previous one).
    */
  private[graft] def pin(df: DataFrame, reliable: Boolean): DataFrame = {
    val pinned =
      if (reliable) {
        require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
          "reliable=true requires SparkContext.setCheckpointDir(...) first")
        df.checkpoint()
      } else df.localCheckpoint()
    // Catalyst's size-only estimator MULTIPLIES child sizes at every
    // inner join, and the checkpoint stats rewrite copies the product
    // into the new leaf — so an iterative SELF-join (ccJump's
    // label(label) step) doubles the estimate's BIT LENGTH every
    // pinned round, geometric in rounds, until BigInteger's 2^31-bit
    // ceiling kills the checkpoint itself (m09@100×, r16: driver-side
    // ArithmeticException "BigInteger would overflow supported range"
    // from SizeInBytesOnlyStatsPlanVisitor.default — the fixture-scale
    // rounds never get deep enough to see it). Linear accretion (the
    // BPE pc join adds ~tens of bits/round) is harmless; past 2^20
    // bits the estimate is garbage with 2000× headroom left, so reset
    // the leaf to default stats by rebuilding from the checkpointed
    // RDD — one Row deser/ser layer, paid only on frames whose
    // estimate is already meaningless (with doubling, ~1 round in 14).
    if (pinned.queryExecution.analyzed.stats.sizeInBytes.bitLength
        <= (1 << 20)) pinned
    else df.sparkSession.createDataFrame(pinned.rdd, pinned.schema)
  }

  /** Deterministic release of a [[pin]]'d DataFrame's storage: unpersist
    * the checkpointed RDD behind the pin's LogicalRDD. Dropping the
    * driver reference and waiting for GC + ContextCleaner also works,
    * but NON-deterministically — peak executor storage can overshoot a
    * drain bound until a driver GC happens (r15 ADVICE). No-op for
    * reliable pins (files, not blocks) and non-pinned frames. */
  private[graft] def unpin(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach { root =>
      // On [[pin]]'s stats-guard path the LogicalRDD wraps a DERIVED
      // (non-persisted) row RDD over the checkpointed one — unpersisting
      // the root alone would silently release nothing and revert the
      // drain bound to GC-timed cleanup (r16 ADVICE). Walk the narrow
      // dependency chain to the first actually-persisted ancestor; on
      // the normal path that is the root itself.
      var cur: Seq[org.apache.spark.rdd.RDD[_]] = Seq(root)
      var found = false
      var depth = 0
      while (!found && cur.nonEmpty && depth < 8) {
        cur.find(_.getStorageLevel !=
            org.apache.spark.storage.StorageLevel.NONE) match {
          case Some(p) => p.unpersist(blocking = false); found = true
          case None =>
            cur = cur.flatMap(_.dependencies.map(_.rdd))
            depth += 1
        }
      }
    }

  /** Connected components over an undirected edge set by iterative min-label
    * propagation: every node's label converges to the smallest node id in
    * its component — the canonical representative for near-dup cluster
    * collapse (keep `id == cluster_id`, drop the rest).
    *
    * Scale shape: each iteration is one shuffle join (edges ⋈ labels on
    * src) + one partial-aggregated min per dst + one label join — all keyed
    * shuffles, no driver-side row data. The driver sees a single scalar per
    * iteration (Σ labels, monotonically non-increasing; equal sums ⇒ fixed
    * point since labels only ever decrease element-wise). Iterations are
    * bounded by the component diameter — near-dup clusters are shallow
    * (single-digit), unlike web graphs. The lineage pin cuts the lineage
    * each round so plan size stays O(1) across iterations.
    *
    * `reliable = true` swaps the per-hop lineage pin for a reliable
    * `checkpoint()` (requires `SparkContext.setCheckpointDir`) — the
    * cluster fault-tolerance mode; see [[pin]]. Output is identical in
    * both modes (ReliableCheckpointSpec).
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 50, reliable: Boolean = false): DataFrame =
    ccWithRounds(nodes, edges, maxIter, reliable)._1

  /** [[connectedComponents]] plus the OBSERVED convergence round count —
    * package-private for PipelineOpsSpec, which pins the pointer-halving
    * contract (rounds grow ~log2(diameter), not diameter) on path graphs
    * of growing diameter; the graph-growth measurement is in NOTES.md,
    * round 15, "Graph growth measured" (GRAPHGROWTH_r15.json). */
  private[graft] def ccWithRounds(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 50, reliable: Boolean = false): (DataFrame, Int) = {
    // maxIter bounds rounds ~ log2(diameter) + slack (pointer halving,
    // measured exactly log2(d) on path graphs — GRAPHGROWTH_r15.json); 25
    // was too tight for the 100x image-dup graph's ~2M-node near-dup
    // chains (m09@100x reached the cap still converging, r16). 50
    // covers any diameter to ~2^48 — rounds above convergence never
    // run, so the raise costs nothing on real corpora.
    // No `distinct` on the symmetrized edges: min-label propagation is
    // idempotent under duplicate edges (the min-fold absorbs them), so a
    // dedup shuffle buys nothing — duplicates only re-deliver an identical
    // label. (Callers with pathologically duplicate-heavy edge sets can
    // pre-distinct; the near-dup pair generators here emit each pair once.)
    val both = pin(edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"))),
      reliable)
    // Only edge endpoints can ever change label — iterate over them alone;
    // singletons (the vast majority after blocking, at corpus scale) skip
    // the loop entirely and rejoin as their own cluster at the end.
    // Initialization IS the first hop, fused: from identity labels, hop 1
    // yields min({id} ∪ neighbors) — computable directly from the edge list
    // with one groupBy, replacing both the endpoint-distinct shuffle and a
    // full join+agg hop.
    var labels = pin(both.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("__mn"))
      .select(col("id"), least(col("id"), col("__mn")).as("label")),
      reliable)
    // The convergence check rides inside the hop output (`old` column on the
    // checkpointed rows) so each hop is ONE materializing job plus an
    // isEmpty scan of in-memory rows — no re-join against the previous
    // state. Measured against chaining k hops lazily between checks: one
    // hop per job wins (deeper chained plans cost more in optimization and
    // lost exchange reuse than the saved driver round-trips, at toy and at
    // shuffle-bound scale alike).
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // Fused round (r17): the hop and TWO path-halving jumps
      // materialize in ONE pin — one checkpoint + one driver job chain
      // per round instead of three (the m11 timeline read 8 rounds ×
      // {hop pin, jump pin, isEmpty} ≈ 64 tiny AQE stage-jobs ≈ 2 s of
      // driver round-trips at sf0.1).
      //
      // Pointer-halving (the r13 10× lesson): one propagation hop moves
      // a label ONE edge, so plain min-label propagation needs diameter
      // hops. Following the label's own label (label ← label(label),
      // the classic path-halving step of pointer-jumping CC — see also
      // large-star/small-star) halves label depth per application; two
      // applications per round quarter it — convergence in
      // ~log₄(diameter) rounds for one extra equi-join inside the same
      // materialization. Safe by monotonicity: label(x) ≤ x always, so
      // jumped labels still only decrease and never leave the
      // component.
      //
      // Convergence tested on the FUSED output is equivalent to testing
      // the bare hop: labels only decrease through hop and jumps, so
      // any change survives below `old`; and a hop fixed point is
      // component-constant (label(u) ≤ label(v) across every
      // symmetrized edge ⇒ equal), on which a jump is the identity —
      // so "fused output unchanged" ⇔ "hop unchanged" ⇔ fixed point.
      // Final labels are the component minima either way, so the output
      // is identical to the unfused loop's.
      // Round 1 is hop-only: the fused init already delivered hop 1's
      // labels, so shallow graphs (exact-dup pairs/cliques — the common
      // near-dup shape) converge HERE and never pay a jump join; deep
      // chains start halving from round 2.
      val hopped = ccHop(both, labels)
      val step = pin(
        if (iter == 0) hopped else ccJumpKeepOld(ccJumpKeepOld(hopped)),
        reliable)
      converged = step.filter(col("label") =!= col("old")).isEmpty
      // Deterministic release of the SUPERSEDED round state (r18, guide
      // §5 "unpersist when done"): once `step` is materialized (and the
      // convergence flag read), nothing ever reads the previous labels
      // pin again — the loop reads `step`, the post-loop singleton join
      // and the output read the FINAL labels only. Relying on driver GC
      // + ContextCleaner instead keeps up to ~log₄(diameter) node-sized
      // checkpoint snapshots alive at once (the r16 m12@100× two-run
      // OOM class, in-query); the explicit unpin bounds live storage to
      // current + in-flight. No-op for reliable pins (files).
      unpin(labels)
      labels = step.select(col("id"), col("label"))
      iter += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter hops")
    val singletons = nodes.select(col("id"))
      .join(labels, Seq("id"), "left_anti")
      .withColumn("label", col("id"))
    (labels.unionByName(singletons).withColumnRenamed("label", "cluster_id"),
      iter)
  }

  /** One label-propagation hop of [[connectedComponents]] — one join + one
    * aggregation: the min over {self} ∪ neighbors is a single groupBy over
    * the union of propagated neighbor labels and the node's own row; the
    * previous label rides along on the self row (null on neighbor rows,
    * min-folded back out) so the convergence flag needs no extra join.
    * Package-private so PlanShapeSpec can pin the per-hop exchange count —
    * at 100× scale an extra exchange per hop is the difference between
    * hours and days.
    */
  /** d21: per-group document cap — keep at most `cap` docs per group
    * (domain/source), the C4/RefinedWeb "limit any one domain's share"
    * curation pass. Which docs survive is decided by the deterministic
    * `priority` (ascending; ties broken by `idCol` — a hash draw makes the
    * cap a uniform sample, a quality score makes it best-of), so the kept
    * set is stable across runs, partitionings, and corpus growth within
    * the group.
    *
    * Scale shape: the obvious window
    * (`row_number over (partition by group order by priority)`) puts a
    * giant domain's ENTIRE row set in one sort task — the skewed-window
    * class measured in NOTES.md, round 8, "De-skew of the digest
    * first-occurrence passes". This form aggregates with
    * [[graft.functions.TopKAgg]] — map-side partials bounded at `cap`
    * entries each, so the hottest domain costs O(partitions·cap) at the
    * merge — then joins the (group, id, rank) survivors back to the
    * (id, group) projection. Text never moves; the survivor table is
    * Σ min(cap, |group|) rows, AQE-broadcastable when groups are few and
    * a plain id-keyed shuffle join (no skew: ids unique) when not — no
    * hint, the t22 rule.
    *
    * Output: one row per doc — (idCol, groupCol, cap_rank NULL for
    * dropped, kept).
    */
  def groupCap(docs: DataFrame, groupCol: String, idCol: String,
      cap: Int, priority: Column): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    import graft.functions.TopKAgg
    val kept = docs
      .select(col(groupCol).as("_1"),
        struct(priority.cast("long").as("p"), col(idCol).cast("long").as("id"))
          .as("_2"))
      .as[(String, TopKAgg.Entry)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(TopKAgg.topK(cap).toColumn.name("kept_ids"))
      .select(col("key").as(groupCol),
        posexplode(col("kept_ids")).as(Seq("pos", idCol)))
      .select(col(groupCol), col(idCol),
        (col("pos") + 1).cast("int").as("cap_rank"))
    docs.select(col(idCol), col(groupCol))
      .join(kept, Seq(groupCol, idCol), "left")
      .select(col(idCol), col(groupCol), col("cap_rank"),
        col("cap_rank").isNotNull.as("kept"))
  }

  /** d30: MOSS-style copy-pair detection over winnowing fingerprints
    * ([[graft.functions.TextFns.winnowing]]): per-doc DISTINCT selected
    * fingerprints (per-row array algebra — the dedup happens before
    * anything becomes a row), fingerprints carried by more than
    * `maxDocsPerFp` docs dropped (template/boilerplate runs — and the cap
    * that bounds the fp-keyed self-join at C(maxDocsPerFp,2) pairs per
    * fingerprint, the same structural bound as g03's maxSources), then
    * pairs counted on shared fingerprints and thresholded at `minShared`.
    * By the winnowing guarantee every shared token run of length
    * ≥ w + k − 1 contributes a shared fingerprint, so long copies cannot
    * be missed; unlike MinHash-LSH (d09/d10) the evidence is
    * position-anchored substrings, not whole-doc similarity.
    *
    * Scale shape: text never shuffles — the fold runs where each row
    * lives and only (doc, fp) pairs at ~2/(w+1) gram density move; the
    * hot-fp cap and pair generator reuse ONE hash(fp) partitioning
    * (ReusedExchange bridges the two consumers, the s14/probeTopK
    * lesson); output is pair-cardinality, bounded per fp by the cap.
    */
  /** Winnowing fingerprints per doc: (doc_id, sel) with `sel` =
    * `array<struct<pos:int,fp:bigint>>`, via the fused native expression
    * ([[graft.functions.WinnowFpsExpr]] — one byte loop per row,
    * property-pinned bit-identical to the composed
    * gramHashes→winnowSelect chain). Shared by t42, d30, d31 and the
    * streaming copy detector.
    */
  private[graft] def winnowFps(docs: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      TextFns.winnowingFast(col(textCol), k, w).as("sel"))

  /** The winnowing sibling of [[bandIndex]]: distinct (cid, fp) rows over
    * [[winnowFps]] — the pre-materialized corpus artifact the at-ingest
    * copy detector ([[graft.streaming.PipelineStreams.winnowCopyDetect]])
    * probes. `maxDocsPerFp` drops template fingerprints at build time —
    * the same cap DEFINITION and value as [[winnowPairs]], but counted
    * over the corpus population only: a fingerprint at exactly the cap
    * in the corpus that also recurs in arrivals survives here while a
    * batch winnowPairs over corpus+arrivals would drop it (its count
    * includes both sides). A bounded borderline-template divergence
    * window, documented at the probe site too.
    */
  private[graft] def winnowFpIndex(docs: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int, maxDocsPerFp: Int,
      outId: String = "cid"): DataFrame = {
    val fp = winnowFps(docs, idCol, textCol, k, w)
      .select(col("doc_id").as(outId), array_distinct(
        transform(col("sel"), s => s.getField("fp"))).as("fps"))
      .select(col(outId), explode_outer(col("fps")).as("fp"))
      .filter(col("fp").isNotNull)
      // one fp-keyed exchange shared by the cap count and the join back
      // (r17, guide §2.4) — the winnow fingerprint pass runs once
      .repartition(col("fp"))
    fp.join(
      fp.groupBy(col("fp")).agg(count(lit(1)).as("n_doc"))
        .filter(col("n_doc") <= maxDocsPerFp)
        .select(col("fp")),
      Seq("fp"))
      .select(col(outId), col("fp"))
  }

  private[graft] def winnowPairs(docs: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int, minShared: Long,
      maxDocsPerFp: Int): DataFrame = {
    require(minShared >= 1 && maxDocsPerFp >= 2,
      s"minShared=$minShared maxDocsPerFp=$maxDocsPerFp")
    // explode_outer + null filter (not explode): InferFiltersFromGenerate
    // would otherwise push a `size(fps) > 0` filter below the staged
    // projections with the whole winnow expression inlined — the O(m²·w)
    // re-evaluation winnowFps stages against. fps elements are never
    // null, so the filter is exactly the empty-array drop.
    val perDoc = winnowFps(docs, idCol, textCol, k, w)
      .select(col("doc_id"), array_distinct(
        transform(col("sel"), s => s.getField("fp"))).as("fps"))
      .select(col("doc_id"), size(col("fps")).as("n_fp"),
        explode_outer(col("fps")).as("fp"))
      .filter(col("fp").isNotNull)
      // one fp-keyed exchange shared by the cap count, the probe side
      // and BOTH pair-join sides (r17, guide §2.4): the winnow
      // fingerprint expression — the family's per-row hot loop — runs
      // once instead of once per consumer subtree
      .repartition(col("fp"))
    val bounded = perDoc.join(
      perDoc.groupBy(col("fp")).agg(count(lit(1)).as("n_doc"))
        .filter(col("n_doc") <= maxDocsPerFp)
        .select(col("fp")),
      Seq("fp"))
    bounded
      .join(bounded.select(col("fp"), col("doc_id").as("id_b"),
        col("n_fp").as("nb")), Seq("fp"))
      .filter(col("doc_id") < col("id_b"))
      .groupBy(col("doc_id").as("id_a"), col("id_b"))
      .agg(max(col("n_fp")).as("n_fp_a"), max(col("nb")).as("n_fp_b"),
        count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= minShared)
      .select(col("id_a"), col("id_b"), col("n_fp_a"), col("n_fp_b"),
        col("shared_fp"))
  }

  /** d31: the matched-REGION report completing [[winnowPairs]] the way
    * d29 completes d19 — for every surviving copy pair, each side's
    * union of k-token gram intervals anchored at shared fingerprints:
    * how many tokens of each doc the evidence covers and in how many
    * contiguous spans (the MOSS match display, as data). A shared
    * fingerprint selected at gram position p witnesses a verbatim
    * k-token match covering tokens [p, p+k); overlapping/adjacent
    * witness intervals merge into one span (the d29 interval-fold,
    * applied per pair side instead of per doc).
    *
    * Scale shape: everything [[winnowPairs]] promises, plus — anchor
    * positions ride the same fp-keyed rows (ints, not text), the pair
    * rollup collects each side's DISTINCT positions (winnow-few by the
    * ~2/(w+1) density and the maxDocsPerFp cap), and the interval
    * union is a per-row O(anchors) fold over that sorted list. Text is
    * never touched at all — the spans are reported in token
    * coordinates; a viewer that wants the actual text slices them from
    * the source doc by position.
    */
  private[graft] def winnowMatchSpans(docs: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int, minShared: Long,
      maxDocsPerFp: Int): DataFrame = {
    require(minShared >= 1 && maxDocsPerFp >= 2,
      s"minShared=$minShared maxDocsPerFp=$maxDocsPerFp")
    val posRows = winnowFps(docs, idCol, textCol, k, w)
      .select(col("doc_id"), explode_outer(col("sel")).as("s"))
      .filter(col("s").isNotNull)
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.fp").as("fp"))
      // one fp-keyed exchange shared by the cap subtree and both pair
      // sides (r17, guide §2.4): hash(fp) co-locates equal (doc, fp)
      // too, so the distinct and the cap aggregate run on it without
      // further exchanges and the winnow pass runs once
      .repartition(col("fp"))
    // the SAME docs-per-fp cap as winnowPairs (counted on distinct
    // (doc, fp), so a fingerprint recurring inside one doc doesn't
    // inflate its doc count)
    val capped = posRows.join(
      posRows.select(col("doc_id"), col("fp")).distinct()
        .groupBy(col("fp")).agg(count(lit(1)).as("n_doc"))
        .filter(col("n_doc") <= maxDocsPerFp)
        .select(col("fp")),
      Seq("fp"))
    val anchors = capped
      .join(capped.select(col("fp"), col("doc_id").as("id_b"),
        col("pos").as("pos_b")), Seq("fp"))
      .filter(col("doc_id") < col("id_b"))
      .select(col("doc_id").as("id_a"), col("id_b"), col("fp"),
        col("pos").as("pos_a"), col("pos_b"))
    // fold state: (covered tokens, span count, exclusive end of the open
    // span); a position p < end overlaps, p == end abuts — both merge,
    // adding p + k − end new tokens; p > end opens a new span
    def spanStats(ps: Column): Column = aggregate(ps,
      struct(lit(0L).as("tok"), lit(0L).as("ns"), lit(0).as("end")),
      (st, p) => when(p <= st("end"),
        struct((st("tok") + (p + lit(k) - st("end")).cast("long")).as("tok"),
          st("ns").as("ns"), (p + lit(k)).as("end")))
        .otherwise(struct((st("tok") + lit(k.toLong)).as("tok"),
          (st("ns") + lit(1L)).as("ns"), (p + lit(k)).as("end"))))
    anchors
      .groupBy(col("id_a"), col("id_b"))
      .agg(size(collect_set(col("fp"))).cast("long").as("shared_fp"),
        sort_array(collect_set(col("pos_a"))).as("ps_a"),
        sort_array(collect_set(col("pos_b"))).as("ps_b"))
      .filter(col("shared_fp") >= minShared)
      .withColumn("st_a", spanStats(col("ps_a")))
      .withColumn("st_b", spanStats(col("ps_b")))
      .select(col("id_a"), col("id_b"), col("shared_fp"),
        col("st_a")("tok").as("matched_tokens_a"),
        col("st_a")("ns").as("n_spans_a"),
        col("st_b")("tok").as("matched_tokens_b"),
        col("st_b")("ns").as("n_spans_b"))
  }

  /** d32: the matched slices themselves — [[winnowMatchSpans]] joined
    * back to source text, the MOSS match display WITH strings (what a
    * human adjudicating a copy pair actually reads). One row per
    * (pair, side, contiguous span): its token coordinates and the
    * actual text slice, in token space (the slice is the doc's tokens
    * [start, end) joined by single spaces — the same canonical view the
    * fingerprints were computed over, so slice token counts equal d31's
    * matched_tokens per pair side row-for-row, spec-pinned).
    *
    * Scale shape: identical to [[winnowMatchSpans]] until spans exist as
    * int rows; text enters ONLY through the final id-keyed join of span
    * rows onto per-doc token arrays (the d14/d17 rebuild precedent) —
    * the join output is evidence-sized (spans × ≤ doc tokens), each doc's
    * text moves at most once per pair side it witnesses, and the corpus
    * docs that witness no pair are filtered by the join itself.
    */
  private[graft] def winnowMatchSlices(docs: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int, minShared: Long,
      maxDocsPerFp: Int): DataFrame = {
    require(minShared >= 1 && maxDocsPerFp >= 2,
      s"minShared=$minShared maxDocsPerFp=$maxDocsPerFp")
    val posRows = winnowFps(docs, idCol, textCol, k, w)
      .select(col("doc_id"), explode_outer(col("sel")).as("s"))
      .filter(col("s").isNotNull)
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.fp").as("fp"))
      // one fp-keyed exchange shared by the cap subtree and both pair
      // sides (r17, guide §2.4): hash(fp) co-locates equal (doc, fp)
      // too, so the distinct and the cap aggregate run on it without
      // further exchanges and the winnow pass runs once
      .repartition(col("fp"))
    val capped = posRows.join(
      posRows.select(col("doc_id"), col("fp")).distinct()
        .groupBy(col("fp")).agg(count(lit(1)).as("n_doc"))
        .filter(col("n_doc") <= maxDocsPerFp)
        .select(col("fp")),
      Seq("fp"))
    val anchors = capped
      .join(capped.select(col("fp"), col("doc_id").as("id_b"),
        col("pos").as("pos_b")), Seq("fp"))
      .filter(col("doc_id") < col("id_b"))
      .select(col("doc_id").as("id_a"), col("id_b"), col("fp"),
        col("pos").as("pos_a"), col("pos_b"))
    // the d29/d31 interval fold, but KEEPING the merged spans: a sorted
    // anchor p < end of the open span overlaps, p == end abuts — both
    // extend it to p + k; p > end opens a new span
    def spans(ps: Column): Column = aggregate(ps,
      expr("CAST(array() AS ARRAY<STRUCT<s: INT, e: INT>>)"),
      (acc, p) => when(
        size(acc) > 0 && p <= element_at(acc, -1)("e"),
        concat(slice(acc, lit(1), size(acc) - 1),
          array(struct(element_at(acc, -1)("s").as("s"),
            (p + lit(k)).cast("int").as("e")))))
        .otherwise(concat(acc, array(struct(p.cast("int").as("s"),
          (p + lit(k)).cast("int").as("e"))))))
    val paired = anchors
      .groupBy(col("id_a"), col("id_b"))
      .agg(countDistinct(col("fp")).as("shared_fp"),
        sort_array(collect_set(col("pos_a"))).as("ps_a"),
        sort_array(collect_set(col("pos_b"))).as("ps_b"))
      .filter(col("shared_fp") >= minShared)
      .select(col("id_a"), col("id_b"),
        spans(col("ps_a")).as("sp_a"), spans(col("ps_b")).as("sp_b"))
    // ONE explode chain over both sides (r17): the old per-side
    // projection + unionByName consumed `paired` twice, re-running the
    // anchor join + pair rollup once per side; exploding a 2-element
    // side array first and the spans second yields the identical row
    // set (every pair has ≥ 1 anchor per side, so both arrays are
    // non-empty) from ONE pass over the pair rollup.
    val spanRows = paired
      .select(col("id_a"), col("id_b"), explode(array(
          struct(lit("a").as("side"), col("id_a").as("doc_key"),
            col("sp_a").as("sp")),
          struct(lit("b").as("side"), col("id_b").as("doc_key"),
            col("sp_b").as("sp")))).as("x"))
      .select(col("id_a"), col("id_b"), col("x.side").as("side"),
        col("x.doc_key").as("doc_key"),
        posexplode(col("x.sp")).as(Seq("i", "sp")))
      .select(col("id_a"), col("id_b"), col("side"), col("doc_key"),
        (col("i") + 1).cast("int").as("span_idx"),
        col("sp.s").as("s"), col("sp.e").as("e"))
    val toks = docs.select(col(idCol).as("doc_key"),
      graft.functions.TextFns.tokens(col(textCol)).as("toks"))
    spanRows.join(toks, Seq("doc_key"))
      .select(col("id_a"), col("id_b"), col("side"), col("span_idx"),
        col("s").as("start_pos"),
        (col("e") - col("s")).cast("long").as("n_tokens"),
        array_join(slice(col("toks"), col("s"), col("e") - col("s")), " ")
          .as("slice_text"))
  }

  private[operators] def ccHop(both: DataFrame, cur: DataFrame): DataFrame = {
    val nbr = both.join(cur, both("src") === cur("id"))
      .select(both("dst").as("id"), col("label"),
        when(lit(false), col("label")).as("old"))
    val self = cur.select(col("id"), col("label"), col("label").as("old"))
    nbr.unionByName(self)
      .groupBy(col("id"))
      .agg(min(col("label")).as("label"), min(col("old")).as("old"))
      .select(col("id"), col("old"), col("label"))
  }

  /** The path-halving step of [[connectedComponents]]: label ←
    * label(label), one self-equi-join of the label table (every label
    * value IS an endpoint id — the min over endpoint ids — so the left
    * join's miss arm is vestigial safety). Package-private so
    * PlanShapeSpec can pin its exchange count like [[ccHop]]'s. */
  private[operators] def ccJump(cur: DataFrame): DataFrame =
    cur.join(
        cur.select(col("id").as("label"), col("label").as("__gl")),
        Seq("label"), "left")
      .select(col("id"),
        coalesce(col("__gl"), col("label")).as("label"))

  /** [[ccJump]] carrying the convergence column `old` through, so the
    * fused hop+jump+jump round (r17) can test the fixed point on its
    * one pinned output. Same join, same label arithmetic. */
  private[operators] def ccJumpKeepOld(cur: DataFrame): DataFrame =
    cur.join(
        cur.select(col("id").as("label"), col("label").as("__gl")),
        Seq("label"), "left")
      .select(col("id"), col("old"),
        coalesce(col("__gl"), col("label")).as("label"))
}
