package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Keyword relevance scoring over the document corpus: Okapi BM25 top-k.
  *
  * The training-pipeline use case is targeted corpus slicing ("pull the k
  * documents most about X") without building a serving index: corpus-level
  * statistics (N, avgdl, per-term document frequency) are one tiny
  * aggregate row, broadcast back onto the corpus, and every document
  * scores itself where it lives.
  *
  * Scale shape (the whole point of the design):
  *  - the stats aggregate reduces to ONE row — partial aggregation
  *    map-side, a single-row shuffle, then a broadcast nested-loop join
  *    back onto the corpus (document text never moves);
  *  - per-document term frequencies are per-row array algebra over the
  *    token array (no explode — a query of q terms would otherwise
  *    multiply the corpus by its token count in the exploded join);
  *  - the final top-k is `orderBy(...).limit(k)` which Spark plans as
  *    TakeOrderedAndProject: per-partition heaps of size k, no global
  *    sort shuffle. At 100 TB the only data movement is one scalar row
  *    and k result rows.
  *
  * Determinism: each term's contribution is rounded to an INTEGER count
  * of micro-units (×1e6, cast long) and the per-document score is the
  * exact 64-bit integer sum — the t11 recipe. `ln`'s ≤1-ulp libm spread
  * would need to straddle a .5 micro-unit boundary to flip a contribution
  * (~1e-9 per term), the sum and the ranking are then bit-stable
  * cross-engine (ranks on the integer with a doc-id tiebreak), and the
  * emitted score derives from the identical integers on both engines.
  */
object RelevanceOps {

  /** BM25 top-k documents for a bag of query terms.
    *
    * score(d) = Σ_t ln(1 + (N − df_t + 0.5)/(df_t + 0.5))
    *            · tf · (k1+1) / (tf + k1·(1 − b + (b·dl)/avgdl))
    *
    * (the Lucene-style `ln(1 + …)` idf, never negative). Ties rank by
    * ascending id for a total order.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], topK: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    val toks = docs.select(col(idCol),
        TextFns.tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))

    // Corpus stats: N, Σdl (exact — integral doubles), df per term.
    val statAggs: Seq[Column] =
      Seq(count(lit(1)).cast("double").as("n_docs"),
        sum(col("dl")).as("sum_dl")) ++
        terms.zipWithIndex.map { case (t, i) =>
          sum(when(array_contains(col("toks"), t), 1).otherwise(0))
            .cast("double").as(s"df_$i")
        }
    val stats = toks.agg(statAggs.head, statAggs.tail: _*)

    val scored = toks.crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl") / col("n_docs"))
    // per-term contribution → integer micro-units BEFORE the sum: the sum
    // and the rank are then exact integer arithmetic (see object doc)
    val scoreMicro = terms.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(col("toks"), x => x === t)).cast("double")
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df_$i") + 0.5) / (col(s"df_$i") + 0.5))
      val contrib = idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + (lit(b) * col("dl")) / col("avgdl")))
      round(contrib * 1e6, 0).cast("long")
    }.reduce(_ + _)

    scored.withColumn("score_micro", scoreMicro)
      .orderBy(col("score_micro").desc, col(idCol))
      .limit(topK)
      .select(col(idCol), (col("score_micro") / 1e6).as("score"))
  }

  /** CCNet-style unigram language-model quality score: per document, the
    * cross-entropy of its tokens under the corpus's own unigram
    * distribution, xent(d) = (1/|d|) Σ_t tf_t · ln(total/count_t), plus a
    * head/middle/tail perplexity bucket — the standard shape for
    * LM-quality corpus filtering (low xent = common-word prose, high
    * xent = rare-token outliers).
    *
    * Scale shape: tokens explode to (doc, term) pairs but partial-aggregate
    * map-side before the (doc, term)-keyed tf shuffle; the corpus term
    * table is vocab-sized (broadcast back, with the grand total folded in
    * as one scalar row like t09's stats); the final rollup is doc-keyed.
    * Document text itself never shuffles.
    *
    * Determinism across engines: each (doc, term) contribution is rounded
    * to an INTEGER count of micro-nats (×1e6) before the per-doc sum, so
    * the sum is exact 64-bit integer arithmetic with zero order dependence
    * — a float sum of rounded doubles still loses a round-half lottery
    * when the decimal sum lands exactly on the rounding boundary (measured:
    * 2 of 500 docs at 4 dp). `ln`'s ≤1-ulp libm spread would need to
    * straddle a .5 micro-nat boundary to flip a contribution (~1e-9/term).
    * xent then derives from the already-identical integers.
    *
    * Docs that tokenize to zero tokens have no defined cross-entropy and
    * drop out (inner-join semantics), mirroring the SQL recomputation.
    */
  def unigramCrossEntropy(docs: DataFrame, idCol: String, textCol: String,
      headBelow: Double, tailFrom: Double): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(TextFns.tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    // grand total from the token stream directly (a partial-aggregated
    // scalar count), NOT sum(vocab.cnt): the vocab subplan feeds the
    // broadcast join, and reusing it here would evaluate the term
    // aggregate twice (one extra exchange, measured in PlanShapeSpec).
    // r17 re-measured the alternatives (derived rollup, pinned vocab):
    // both SLOWER at bench scale (pin ≈ +0.3 s/invocation; multi-
    // consumer aggregates re-execute — see OPTIMIZATION_r17.md); the
    // three parallel passes stand, with the 100 TB story being the
    // materialized count-table artifact (the t25 note pattern).
    val total = toks.agg(count(lit(1)).cast("double").as("total"))
    tf.join(broadcast(vocab), Seq("term"))
      .crossJoin(broadcast(total))
      .withColumn("contrib_micro", round(col("tf").cast("double") *
        log(col("total") / col("cnt").cast("double")) * 1e6, 0).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("contrib_micro")).as("nll_micro"))
      .withColumn("xent",
        round(col("nll_micro") / 1e6 / col("n_tokens"), 4))
      .withColumn("ppl_bucket",
        when(col("xent") < headBelow, "head")
          .when(col("xent") < tailFrom, "middle")
          .otherwise("tail"))
  }

  /** Corpus-trained BIGRAM cross-entropy per document — the CCNet-style
    * LM-perplexity filter proxy one order above [[unigramCrossEntropy]]:
    * an add-one-smoothed bigram model P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁·)+V)
    * trained on the corpus itself, scored as the mean negative log
    * probability over each document's bigram positions. Low xent = text
    * whose word TRANSITIONS look like the corpus (prose); high = rare
    * or shuffled transitions — the signal unigram stats cannot see.
    *
    * Scale shape: bigram instances explode to (doc, w₁, bigram) rows but
    * partial-aggregate map-side before the tf shuffle. The bigram count
    * table is bigram-vocab-sized — unlike t11's unigram vocab it is NOT
    * assumed broadcastable (the d08 rule): the tf⋈c₁₂ join stays keyed
    * on the bigram. The unigram context table c₁ is vocab-sized, and a
    * web-scale corpus's vocabulary is Heaps-law unbounded, so it carries
    * NO broadcast hint either: AQE broadcasts it at small scale (where it
    * fits) and degrades to a shuffle join on w₁ at web-scale vocab
    * instead of dying at the broadcast build. Only the single-row scalar
    * V is force-broadcast. Text never shuffles.
    *
    * Determinism: the t11 micro-nat discipline — each (doc, bigram)
    * contribution rounds to integer micro-nats BEFORE the per-doc sum
    * (exact 64-bit arithmetic, no order dependence); the smoothed ratio
    * (c₁+V)/(c₁₂+1) ≥ 1 always, so ln ≥ 0 and Spark HALF_UP equals
    * DuckDB round-half-away-from-zero. Docs with fewer than two tokens
    * have no bigram positions and drop out (inner-join semantics),
    * mirroring the SQL recomputation.
    */
  def bigramCrossEntropy(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = docs.select(col(idCol), TextFns.tokens(col(textCol)).as("ts"))
    val bigr = toks
      .filter(size(col("ts")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(1, size(ts) - 1), " +
          "i -> struct(ts[i-1] AS w1, concat(ts[i-1], ' ', ts[i]) AS bg))"))
        .as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.bg").as("bg"))
    val tf = bigr.groupBy(col(idCol), col("w1"), col("bg"))
      .agg(count(lit(1)).as("tf"))
    // r17 re-measured the single-pass alternatives (derived rollups,
    // pinned count table): both SLOWER at bench scale (pin ≈ +0.3 s,
    // multi-consumer aggregates re-execute; OPTIMIZATION_r17.md). The
    // independent parallel aggregates stand; at 100 TB the count tables
    // are materialized artifacts (the t25 note pattern).
    val c12 = bigr.groupBy(col("bg")).agg(count(lit(1)).as("c12"))
    val c1 = bigr.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = docs
      .select(explode(TextFns.tokens(col(textCol))).as("t"))
      .agg(countDistinct(col("t")).cast("double").as("v"))
    // r17: the per-instance cost is a function of the BIGRAM alone — run
    // the count attach once per distinct corpus bigram and give the
    // doc-grain tf rows a single join (the t37 move; identical IEEE
    // chain on identical values, inner-join semantics unchanged).
    // w1 recovered from bg exactly: bg = concat(w1, ' ', w2) and tokens
    // are whitespace-split (never contain a space), so bg's prefix
    // before the first space IS w1 — no extra corpus pass
    val costTable = c12
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("bg"),
        log((col("c1").cast("double") + col("v")) /
          (col("c12").cast("double") + 1.0)).as("cost"))
    tf.join(costTable, Seq("bg"))
      .withColumn("contrib_micro", round(col("tf").cast("double") *
        col("cost") * 1e6, 0).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("contrib_micro")).as("nll_micro"))
      .withColumn("xent",
        round(col("nll_micro") / 1e6 / col("n_bigrams"), 4))
      .drop(col("nll_micro"))
  }

  /** t23: interpolated (Jelinek–Mercer) bigram/unigram LM cross-entropy —
    * one step closer to the production CCNet filter than
    * [[bigramCrossEntropy]]'s add-one proxy: the KenLM-family models it
    * stands in for interpolate orders, P(w₂|w₁) = λ·c₁₂/c₁ +
    * (1−λ)·(c₂+1)/(T+V), so an unseen transition backs off to the
    * (add-one-smoothed) unigram frequency of w₂ instead of a flat
    * vocabulary floor. All counts are over the corpus's bigram-instance
    * table: c₁₂ per (w₁,w₂), c₁ per context, c₂ per successor, T total
    * instances, V distinct successors — one explode feeds every table.
    *
    * Determinism (the t21/t22 discipline): λ MUST be an exact binary
    * rational (den a power of two) so both engines evaluate the identical
    * float chain — enforced, not documented; per-(doc,bigram)
    * contributions round to integer micro-nats BEFORE the per-doc sum.
    * P ≤ λ·1 + (1−λ)·1 = 1 (c₁₂ ≤ c₁ termwise; c₂+1 ≤ T+V since V ≥ 1),
    * so −ln P ≥ 0 and Spark HALF_UP equals DuckDB half-away-from-zero.
    *
    * Scale shape: the t22 rule throughout — the bigram count table joins
    * shuffled on (w₁,w₂); the unigram context/successor tables join
    * un-hinted (vocab is Heaps-law unbounded; AQE broadcasts them while
    * they fit and degrades to shuffle joins at web scale); only the
    * single-row (T, V) scalar is force-broadcast. Text never shuffles.
    */
  /** The adjacent-pair explode every bigram consumer shares — ONE
    * definition (parametric in the token-array column name) so the t23
    * scorer, the [[bigramLm]] artifact builder, and the streaming
    * at-ingest gate can never pair tokens differently. */
  private[graft] def bigramPairsExpr(arr: String): String =
    s"transform(sequence(1, size($arr) - 1), " +
      s"i -> struct($arr[i-1] AS w1, $arr[i] AS w2))"

  /** The pre-materialized corpus LM artifact the at-ingest perplexity
    * gate scores against: the t23 count tables (bigram c₁₂, context c₁,
    * successor c₂, and the single-row (T, V) totals), built from the
    * SHARED [[bigramPairsExpr]] explode. In production these are parquet
    * tables written once per training cycle — a stream joins them as
    * static sides, and this builder is also how a batch job materializes
    * them. */
  /** The corpus unigram reference a drift monitor scores against — word
    * counts plus the (T, V) scalar row; in production a pre-materialized
    * parquet artifact like [[BigramLm]]'s tables. */
  case class UnigramLm(cw: DataFrame, tot: DataFrame)

  def unigramLm(corpus: DataFrame, textCol: String): UnigramLm = {
    val toks = corpus
      .select(explode(graft.functions.TextFns.tokens(col(textCol))).as("w"))
    // r17: count table PINNED from one corpus pass; T = Σ cw and
    // V = |rows(cw)| are exact rollups of the pin (multi-consumer
    // subtrees re-execute otherwise — re-measured this round).
    val cw = graft.operators.DedupOps.pin(
      toks.groupBy(col("w")).agg(count(lit(1)).as("cw")),
      reliable = false)
    UnigramLm(cw,
      cw.agg(coalesce(sum(col("cw")), lit(0L)).cast("double").as("t"),
        count(lit(1)).cast("double").as("v")))
  }

  /** OOV-complete per-token cost against a [[UnigramLm]]:
    * −ln((c_w + 1)/(T + V)) in integer micro-nats — the add-one floor
    * catches words the reference never saw (c_w null → 1/(T+V)), the
    * [[interpInstanceCostMicro]] discipline one order down. */
  def unigramInstanceCostMicro(cw: Column, t: Column, v: Column): Column =
    round(-log((coalesce(cw.cast("double"), lit(0.0)) + 1.0) / (t + v))
      * 1e6, 0).cast("long")

  case class BigramLm(c12: DataFrame, c1: DataFrame, c2: DataFrame,
      tot: DataFrame)

  def bigramLm(corpus: DataFrame, textCol: String): BigramLm = {
    val bigr = corpus
      .select(TextFns.tokens(col(textCol)).as("toks__"))
      .filter(size(col("toks__")) >= 2)
      .select(explode(expr(bigramPairsExpr("toks__"))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    // r17: count table PINNED from one corpus pass; c1 = Σ_w2 c12,
    // c2 = Σ_w1 c12, T = Σ c2, V = |rows(c2)| are exact rollups of the
    // pin — one corpus pass instead of four (multi-consumer subtrees
    // re-execute otherwise; re-measured this round). Identical integers.
    val c12 = graft.operators.DedupOps.pin(
      bigr.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")),
      reliable = false)
    val c2 = c12.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
    BigramLm(
      c12,
      c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1")),
      c2,
      c2.agg(coalesce(sum(col("c2")), lit(0L)).cast("double").as("t"),
        count(lit(1)).cast("double").as("v")))
  }

  /** Per-INSTANCE interpolated micro-nat cost, null-count-tolerant — the
    * OOV-complete form of t23's per-(doc,bigram) contribution: scoring
    * text the LM was NOT trained on (the at-ingest case) meets unseen
    * contexts (c₁ null → the λ term vanishes, pure backoff) and unseen
    * successors (c₂ null → add-one floor), paths the batch query never
    * exercises because it trains on the corpus it scores. On in-corpus
    * instances (c₁ > 0) this reduces exactly to t23's p. Granularity
    * note: this rounds each INSTANCE to micro-nats (tf·round(x) rather
    * than t23's round(tf·x) — within tf/2 micro-nats per distinct
    * bigram, ≤ 5e-7 nat on any mean) because a streaming gate scores
    * instances as they arrive; grouping to tf first would cost a second
    * stateful stage for no decision-relevant gain. */
  def interpInstanceCostMicro(c12: Column, c1: Column, c2: Column,
      t: Column, v: Column, lambdaNum: Int = 3,
      lambdaDen: Int = 4): Column = {
    require(lambdaDen > 0 && (lambdaDen & (lambdaDen - 1)) == 0,
      s"lambdaDen=$lambdaDen must be a power of two (exact binary rational)")
    require(lambdaNum > 0 && lambdaNum < lambdaDen,
      s"lambda=$lambdaNum/$lambdaDen out of (0, 1)")
    val lam = lambdaNum.toDouble / lambdaDen
    val pHi = when(coalesce(c1, lit(0L)) > 0,
      lit(lam) * (coalesce(c12, lit(0L)).cast("double") / c1.cast("double")))
      .otherwise(lit(0.0))
    val pLo = lit(1.0 - lam) *
      ((coalesce(c2, lit(0L)).cast("double") + 1.0) / (t + v))
    round(-log(pHi + pLo) * 1e6, 0).cast("long")
  }

  def interpolatedBigramXent(docs: DataFrame, idCol: String,
      textCol: String, lambdaNum: Int = 3, lambdaDen: Int = 4): DataFrame = {
    require(lambdaDen > 0 && (lambdaDen & (lambdaDen - 1)) == 0,
      s"lambdaDen=$lambdaDen must be a power of two (exact binary rational)")
    require(lambdaNum > 0 && lambdaNum < lambdaDen,
      s"lambda=$lambdaNum/$lambdaDen out of (0, 1)")
    val lam = lambdaNum.toDouble / lambdaDen // exact: power-of-two divisor
    val toks = docs.select(col(idCol), TextFns.tokens(col(textCol)).as("ts"))
    val bigr = toks
      .filter(size(col("ts")) >= 2)
      .select(col(idCol), explode(expr(bigramPairsExpr("ts"))).as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val tf = bigr.groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("tf"))
    // r17 re-measured the single-pass alternatives (derived rollup
    // cascade, pinned count table): both SLOWER at bench scale (pin ≈
    // +0.3 s/invocation; multi-consumer aggregates re-execute — see
    // OPTIMIZATION_r17.md). The independent parallel aggregates stand;
    // at 100 TB the count tables are materialized artifacts (the t25
    // note pattern). The ≥7-consumer rungs (t24/t37) DID convert — to
    // one GROUPING SETS pass — where the pass count dwarfs the pin.
    val c12 = bigr.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = bigr.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val c2 = bigr.groupBy(col("w2")).agg(count(lit(1)).as("c2"))
    val tot = bigr.agg(count(lit(1)).cast("double").as("t"),
      countDistinct(col("w2")).cast("double").as("v"))
    // r17: P is a function of the BIGRAM alone — count attach once per
    // distinct corpus bigram, ONE doc-grain join (the t37 move)
    val pTable = c12
      .join(c1, Seq("w1"))
      .join(c2, Seq("w2"))
      .crossJoin(broadcast(tot))
      .withColumn("p",
        lit(lam) * (col("c12").cast("double") / col("c1").cast("double")) +
          lit(1.0 - lam) *
            ((col("c2").cast("double") + 1.0) / (col("t") + col("v"))))
      .select(col("w1"), col("w2"), col("p"))
    tf.join(pTable, Seq("w1", "w2"))
      .withColumn("contrib_micro",
        round(col("tf").cast("double") * -log(col("p")) * 1e6, 0).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("contrib_micro")).as("nll_micro"))
      .withColumn("xent",
        round(col("nll_micro") / 1e6 / col("n_bigrams"), 4))
      .drop(col("nll_micro"))
  }

  /** t24: interpolated TRIGRAM LM cross-entropy — the next order of
    * [[interpolatedBigramXent]]'s ladder and the closest proxy of the
    * CCNet/KenLM filter family expressible in pure count algebra:
    * P(w₃|w₁w₂) = λ₁·c₁₂₃/c₁₂ + λ₂·c₂₃/c₂ + λ₃·(c₃+1)/(T+V), each order
    * backing off to the next when its context is unseen. All counts are
    * over the corpus's TRIGRAM-instance table (c₁₂ = context pairs,
    * c₂₃/c₂ = successor-conditional within instances, c₃/T/V = successor
    * unigram) — one explode feeds every table, and the ≤-termwise bounds
    * (c₁₂₃ ≤ c₁₂, c₂₃ ≤ c₂, c₃+1 ≤ T+V) give P ≤ λ₁+λ₂+λ₃ = 1, so
    * −ln P ≥ 0 and the engines' rounding modes agree (the t22/t23 proof).
    *
    * Determinism: λ₁, λ₂ must be exact binary rationals (power-of-two
    * denominators, enforced) and λ₃ = 1−λ₁−λ₂ is then exact too — the
    * whole per-row float chain is IEEE-identical engine↔oracle; micro-nat
    * integer contributions before the per-doc sum, as the whole family.
    * Docs with fewer than three tokens have no trigram positions and
    * drop out, mirroring t22/t23's sub-bigram rule one order up.
    *
    * Scale shape: the t22 rule — every count table joins UN-hinted (the
    * trigram table is even more Heaps-unbounded than the bigram one);
    * only the single-row (T,V) scalar broadcasts. Text never shuffles.
    */
  def interpolatedTrigramXent(docs: DataFrame, idCol: String,
      textCol: String, l1Num: Int = 1, l1Den: Int = 2,
      l2Num: Int = 1, l2Den: Int = 4): DataFrame = {
    def exactBinary(num: Int, den: Int, name: String): Double = {
      require(den > 0 && (den & (den - 1)) == 0,
        s"$name denominator $den must be a power of two")
      require(num > 0 && num < den, s"$name=$num/$den out of (0, 1)")
      num.toDouble / den
    }
    val l1 = exactBinary(l1Num, l1Den, "lambda1")
    val l2 = exactBinary(l2Num, l2Den, "lambda2")
    require(l1 + l2 < 1.0, s"lambda1 + lambda2 = ${l1 + l2} must be < 1")
    val l3 = 1.0 - l1 - l2 // exact: difference of exact binary rationals
    val toks = docs.select(col(idCol), TextFns.tokens(col(textCol)).as("ts"))
    val tri = toks
      .filter(size(col("ts")) >= 3)
      .select(col(idCol), explode(expr(
        "transform(sequence(2, size(ts) - 1), " +
          "i -> struct(ts[i-2] AS w1, ts[i-1] AS w2, ts[i] AS w3))"))
        .as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"),
        col("p.w3").as("w3"))
    val tf = tri.groupBy(col(idCol), col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("tf"))
    // r17: every count table from ONE corpus pass — a GROUPING SETS
    // aggregate computes all five groupings in one Expand + one
    // exchange; the (count-table-sized) result is lineage-PINNED once
    // and each table is a filtered slice keyed by grouping_id. Was
    // seven independent consumers of the trigram explode = seven
    // corpus tokenize passes (exchange reuse does not bridge
    // differently-keyed aggregates — re-measured this round). T and V
    // both come from the w3 slice. Identical 64-bit integers.
    val w1c = col("w1"); val w2c = col("w2"); val w3c = col("w3")
    // grouping_id bit b set when grouping col b is aggregated away
    // (w1 = bit 2, w2 = bit 1, w3 = bit 0)
    val sets = tri.groupingSets(
      Seq(Seq(w1c, w2c, w3c), Seq(w1c, w2c), Seq(w2c, w3c),
        Seq(w2c), Seq(w3c)),
      w1c, w2c, w3c)
      .agg(count(lit(1)).as("c"), grouping_id().as("gid"))
    val counts = graft.operators.DedupOps.pin(sets, reliable = false)
    def slice(gid: Int, name: String, keep: Column*): DataFrame =
      counts.filter(col("gid") === gid)
        .select(keep :+ col("c").as(name): _*)
    val c123 = slice(0, "c123", w1c, w2c, w3c)
    val c12 = slice(1, "c12", w1c, w2c)
    val c23 = slice(4, "c23", w2c, w3c)
    val c2 = slice(5, "c2", w2c)
    val c3 = slice(6, "c3", w3c)
    val tot = c3.agg(coalesce(sum(col("c3")), lit(0L)).cast("double").as("t"),
      count(lit(1)).cast("double").as("v"))
    // r17: P is a function of the TRIGRAM alone — run the 5-way count
    // attach once per distinct corpus trigram and give the doc-grain tf
    // rows a single join (see interpolatedFourgramXent; same
    // equivalence argument one order down).
    val pTable = c123
      .join(c12, Seq("w1", "w2"))
      .join(c23, Seq("w2", "w3"))
      .join(c2, Seq("w2"))
      .join(c3, Seq("w3"))
      .crossJoin(broadcast(tot))
      .withColumn("p",
        lit(l1) * (col("c123").cast("double") / col("c12").cast("double")) +
          lit(l2) * (col("c23").cast("double") / col("c2").cast("double")) +
          lit(l3) *
            ((col("c3").cast("double") + 1.0) / (col("t") + col("v"))))
      .select(col("w1"), col("w2"), col("w3"), col("p"))
    tf.join(pTable, Seq("w1", "w2", "w3"))
      .withColumn("contrib_micro",
        round(col("tf").cast("double") * -log(col("p")) * 1e6, 0).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_trigrams"),
        sum(col("contrib_micro")).as("nll_micro"))
      .withColumn("xent",
        round(col("nll_micro") / 1e6 / col("n_trigrams"), 4))
      .drop(col("nll_micro"))
  }

  /** t37: interpolated 4-GRAM LM cross-entropy — the top rung of the
    * t22→t23→t24 ladder and the order KenLM actually defaults to (CCNet
    * ships 5-gram models; 4 is the largest order whose count tables stay
    * meaningfully shared at corpus scale): P(w₄|w₁w₂w₃) =
    * λ₁·c₁₂₃₄/c₁₂₃ + λ₂·c₂₃₄/c₂₃ + λ₃·c₃₄/c₃ + λ₄·(c₄+1)/(T+V), each
    * order backing off to the next-shorter context. All counts are over
    * the corpus's 4-GRAM-instance table — one explode feeds every table
    * — and the ≤-termwise bounds (c₁₂₃₄ ≤ c₁₂₃, c₂₃₄ ≤ c₂₃, c₃₄ ≤ c₃,
    * c₄+1 ≤ T+V) give P ≤ λ₁+λ₂+λ₃+λ₄ = 1, so −ln P ≥ 0 and the
    * engines' rounding modes agree (the t22/t23/t24 proof one order up).
    *
    * Determinism: λ₁, λ₂, λ₃ must be exact binary rationals
    * (power-of-two denominators, enforced); λ₄ = 1−λ₁−λ₂−λ₃ is then
    * exact too, and the per-row float chain is IEEE-identical
    * engine↔oracle; micro-nat integer contributions before the per-doc
    * sum, as the whole family. Docs with fewer than four tokens have no
    * 4-gram positions and drop out.
    *
    * Scale shape: the t22 rule — every count table joins UN-hinted (the
    * 4-gram table is the most Heaps-unbounded of the family); only the
    * single-row (T,V) scalar broadcasts. Text never shuffles.
    */
  def interpolatedFourgramXent(docs: DataFrame, idCol: String,
      textCol: String, l1Num: Int = 1, l1Den: Int = 2,
      l2Num: Int = 1, l2Den: Int = 4,
      l3Num: Int = 1, l3Den: Int = 8): DataFrame = {
    def exactBinary(num: Int, den: Int, name: String): Double = {
      require(den > 0 && (den & (den - 1)) == 0,
        s"$name denominator $den must be a power of two")
      require(num > 0 && num < den, s"$name=$num/$den out of (0, 1)")
      num.toDouble / den
    }
    val l1 = exactBinary(l1Num, l1Den, "lambda1")
    val l2 = exactBinary(l2Num, l2Den, "lambda2")
    val l3 = exactBinary(l3Num, l3Den, "lambda3")
    require(l1 + l2 + l3 < 1.0,
      s"lambda1 + lambda2 + lambda3 = ${l1 + l2 + l3} must be < 1")
    val l4 = 1.0 - l1 - l2 - l3 // exact: differences of binary rationals
    val toks = docs.select(col(idCol), TextFns.tokens(col(textCol)).as("ts"))
    val quad = toks
      .filter(size(col("ts")) >= 4)
      .select(col(idCol), explode(expr(
        "transform(sequence(3, size(ts) - 1), " +
          "i -> struct(ts[i-3] AS w1, ts[i-2] AS w2, " +
          "ts[i-1] AS w3, ts[i] AS w4))"))
        .as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"),
        col("p.w3").as("w3"), col("p.w4").as("w4"))
    val tf = quad.groupBy(col(idCol), col("w1"), col("w2"), col("w3"),
      col("w4")).agg(count(lit(1)).as("tf"))
    // r17: every count table from ONE corpus pass — a GROUPING SETS
    // aggregate over the 4-gram instances computes all seven groupings
    // in one Expand + one exchange; the (small, count-table-sized)
    // result is lineage-PINNED once and each table is a filtered slice
    // of the pin keyed by grouping_id. Was NINE independent consumers
    // of the 4-gram explode = nine corpus tokenize passes (exchange
    // reuse does not bridge differently-keyed aggregates — re-measured
    // this round, as was a per-marginal rollup cascade, which planned
    // 70+ exchanges). T and V both come from the w4 slice (T = Σ c4,
    // V = its row count). Identical 64-bit integers throughout.
    val w1c = col("w1"); val w2c = col("w2"); val w3c = col("w3")
    val w4c = col("w4")
    // grouping_id bit b is SET when grouping column b is aggregated
    // away (w1 = bit 3 … w4 = bit 0)
    val sets = quad.groupingSets(
      Seq(Seq(w1c, w2c, w3c, w4c), Seq(w1c, w2c, w3c),
        Seq(w2c, w3c, w4c), Seq(w2c, w3c), Seq(w3c, w4c),
        Seq(w3c), Seq(w4c)),
      w1c, w2c, w3c, w4c)
      .agg(count(lit(1)).as("c"), grouping_id().as("gid"))
    val counts = graft.operators.DedupOps.pin(sets, reliable = false)
    def slice(gid: Int, name: String, keep: Column*): DataFrame =
      counts.filter(col("gid") === gid)
        .select(keep :+ col("c").as(name): _*)
    val c1234 = slice(0, "c1234", w1c, w2c, w3c, w4c)
    val c123 = slice(1, "c123", w1c, w2c, w3c)
    val c234 = slice(8, "c234", w2c, w3c, w4c)
    val c23 = slice(9, "c23", w2c, w3c)
    val c34 = slice(12, "c34", w3c, w4c)
    val c3 = slice(13, "c3", w3c)
    val c4 = slice(14, "c4", w4c)
    val tot = c4.agg(coalesce(sum(col("c4")), lit(0L)).cast("double").as("t"),
      count(lit(1)).cast("double").as("v"))
    // r17: P(w₄|w₁w₂w₃) is a function of the 4-GRAM alone, so the 7-way
    // count attach runs ONCE per distinct corpus 4-gram (the count-table
    // grain) and the doc-grain tf rows pass through a SINGLE join —
    // previously all seven joins ran at the (doc, 4-gram) grain, hashing
    // every instance row's keys seven times (guide §2.3: move the
    // decision to the small table, attach once). Inner-join semantics
    // are unchanged: every tf key exists in c1234 (same instance pass),
    // and every c1234 key has its context rows in every slice.
    // Arithmetic is the identical IEEE chain on identical values.
    val pTable = c1234
      .join(c123, Seq("w1", "w2", "w3"))
      .join(c234, Seq("w2", "w3", "w4"))
      .join(c23, Seq("w2", "w3"))
      .join(c34, Seq("w3", "w4"))
      .join(c3, Seq("w3"))
      .join(c4, Seq("w4"))
      .crossJoin(broadcast(tot))
      .withColumn("p",
        lit(l1) * (col("c1234").cast("double") / col("c123").cast("double")) +
          lit(l2) * (col("c234").cast("double") / col("c23").cast("double")) +
          lit(l3) * (col("c34").cast("double") / col("c3").cast("double")) +
          lit(l4) *
            ((col("c4").cast("double") + 1.0) / (col("t") + col("v"))))
      .select(col("w1"), col("w2"), col("w3"), col("w4"), col("p"))
    tf.join(pTable, Seq("w1", "w2", "w3", "w4"))
      .withColumn("contrib_micro",
        round(col("tf").cast("double") * -log(col("p")) * 1e6, 0).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_fourgrams"),
        sum(col("contrib_micro")).as("nll_micro"))
      .withColumn("xent",
        round(col("nll_micro") / 1e6 / col("n_fourgrams"), 4))
      .drop(col("nll_micro"))
  }

  /** t26: DSIR-style importance log-weight (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every RAW doc by how much more likely its hashed-feature bag is
    * under the TARGET distribution than under the raw distribution —
    * logw = Σ_f tf·ln(p̂_t(f)/p̂_r(f)) with add-one-smoothed multinomials
    * over a FIXED feature space of `buckets` md5-hashed unigram buckets
    * (DSIR hashes n-grams precisely so the model is fixed-size; the t06
    * md5 recipe keeps the hash oracle-recomputable, unlike xxhash).
    * logw > 0 ⇒ the doc looks more target-like than raw-like — the
    * resampling key.
    *
    * Scale shape: the count tables are provably ≤ `buckets` rows — THE
    * legitimate force-broadcast case (a bounded-by-construction table,
    * like a centroid table; contrast the t22 rule for unbounded vocab
    * tables), so the per-doc feature table never shuffles for the joins;
    * the only corpus-sized exchange is the (id, feat, tf) partial
    * aggregate. Text never shuffles.
    *
    * Determinism: the t11 micro-nat discipline; contributions can be
    * NEGATIVE here (ratio < 1), which stays exact because Spark's
    * HALF_UP and DuckDB's round both round half AWAY FROM ZERO — sign-
    * symmetric. All integer products ((c+1)·(T+V)) stay far below 2^53,
    * so the doubles entering ln are identical on both engines.
    *
    * Note the SIGN of logw is not the selection signal: a small target's
    * add-one mass makes every smoothed target probability tiny, so raw
    * docs all score negative (measured: 490/490 at sf0.01) while the
    * RANKING still discriminates — which is why DSIR selects the top
    * fraction by weight (resampling), not by sign. Selection composes
    * downstream (see the t26 registry query's quantile gate).
    */
  def dsirLogWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int = 8192): DataFrame = {
    def feat(term: org.apache.spark.sql.Column) =
      conv(substring(md5(term.cast("binary")), 1, 6), 16, 10)
        .cast("long") % buckets
    val featR = raw
      .select(col(idCol), explode(TextFns.tokens(col(textCol))).as("term"))
      .select(col(idCol), feat(col("term")).as("f"))
    val featT = target
      .select(explode(TextFns.tokens(col(textCol))).as("term"))
      .select(feat(col("term")).as("f"))
    val tf = featR.groupBy(col(idCol), col("f")).agg(count(lit(1)).as("tf"))
    // r17 re-measured the pinned-count-table alternative: SLOWER at
    // bench scale (two pins ≈ +0.6 s/invocation vs the parallel
    // independent aggregates — OPTIMIZATION_r17.md). Stands as is; the
    // tables are provably ≤ `buckets` rows either way.
    val cr = featR.groupBy(col("f")).agg(count(lit(1)).as("cr"))
    val ct = featT.groupBy(col("f")).agg(count(lit(1)).as("ct"))
    val totals = featR.agg(count(lit(1)).cast("double").as("tr"))
      .crossJoin(broadcast(featT.agg(count(lit(1)).cast("double").as("tt"))))
    val v = buckets.toDouble
    tf.join(broadcast(cr), Seq("f"))
      .join(broadcast(ct), Seq("f"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("contrib_micro", round(col("tf").cast("double") *
        log(((coalesce(col("ct"), lit(0L)).cast("double") + 1.0)
            * (col("tr") + v)) /
          ((col("cr").cast("double") + 1.0) * (col("tt") + v))) * 1e6, 0)
        .cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("contrib_micro")).as("lw_micro"))
      .select(col(idCol), col("n_tokens"),
        round(col("lw_micro") / 1e6, 4).as("logw"))
  }

  /** Tokenizer-training vocabulary statistics: the top-N terms by corpus
    * frequency with cumulative token-coverage fraction ("the 30 most
    * frequent terms cover X% of all tokens") — the first artifact of any
    * BPE/vocab build.
    *
    * Scale shape: the term-count aggregate partial-aggregates map-side, so
    * the shuffle carries one (term, count) row per partition per term —
    * vocab-sized, not corpus-sized. The top-N cut is
    * `orderBy(...).limit(n)` (TakeOrderedAndProject: per-partition heaps),
    * and the unpartitioned ranking/cumsum window then runs over AT MOST
    * topN rows by construction — bounded, unlike a corpus-sized
    * single-partition window. Cutting top-N before the window is exact
    * because cumulative coverage over a prefix of the (count desc, term)
    * order equals the full cumsum restricted to that prefix.
    */
  def vocabCoverage(docs: DataFrame, textCol: String, topN: Int): DataFrame = {
    val terms = docs
      .select(explode(TextFns.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
    val total = terms.agg(sum(col("n")).as("total"))
    val order = Seq(col("n").desc, col("term"))
    val w = Window.orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    terms.orderBy(order: _*).limit(topN)
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(Window.orderBy(order: _*)))
      .withColumn("cum_frac",
        round(sum(col("n")).over(w).cast("double") / col("total"), 6))
      .select(col("rank"), col("term"), col("n"), col("cum_frac"))
  }

  /** t28: one BPE merge round's candidate statistic (Sennrich et al. 2016
    * — the tokenizer-training loop's inner step): count adjacent SYMBOL
    * pairs inside words, weighted by word frequency, and report the top
    * pairs — the argmax of this table IS the next merge. Symbols here are
    * the pre-merge alphabet (single characters), i.e. round one of the
    * training loop; later rounds would re-run the same statistic over the
    * merged symbol sequences.
    *
    * Scale shape — the two-level rollup is the whole point: text explodes
    * to WORDS once and immediately collapses to the (word, tf) vocab
    * table (map-side partials; Heaps-law-sized, aggregated not broadcast),
    * so the per-character explode runs over DISTINCT words — at 100 TB
    * the pair pass costs O(vocab · word_len), not O(corpus tokens). Pair
    * counts then collapse again to an alphabet²-bounded table, so the
    * final top-K sort is trivially small (TakeOrderedAndProject — a
    * per-partition heap, no global sort shuffle).
    *
    * Determinism: counts are exact integers; the top-K order
    * (count desc, c1, c2) is strict, so the K boundary cannot tie-split
    * across engines. 1-character words contribute no pairs (guarded —
    * Spark's `sequence(1, 0)` would otherwise DESCEND, not empty out).
    */
  /** t32: per-source unigram KL divergence from the corpus distribution —
    * the domain-shift datasheet line (is `source` X lexically typical of
    * the mix, or an outlier the sampler should know about?): KL(pₛ ‖ p_c)
    * over the words PRESENT in the source (the standard plug-in
    * estimate), pₛ = cₛ𝑤/nₛ and p_c = c𝑤/N, both MLE — every count ≥ 1 on
    * the summation support, so no smoothing is needed and the estimate is
    * provably ≥ 0 (log-sum inequality: p_c sums to ≤ 1 over pₛ's
    * support).
    *
    * Determinism (the t11/t22 discipline): each term's
    * cₛ𝑤·((ln cₛ𝑤 + ln N) − ln nₛ) − ln c𝑤 chain is the fixed-
    * parenthesization ln-SUM (the t31 overflow argument), rounded to
    * integer micro-nats per term BEFORE the per-source sum; individual
    * terms go negative, so the t26 sign-symmetric half-away rounding
    * carries the boundary. The final kl = sum/1e6/nₛ divides exact
    * integers, rounded at 6 dp.
    *
    * Scale shape: ONE token explode feeds everything — the corpus word
    * table c𝑤 is the per-source table's own rollup (sum of cₛ𝑤 by w), so
    * the corpus never tokenizes twice; the c𝑤 join is w-keyed and
    * un-hinted (Heaps-law vocab, the t22 rule); only the single-row N
    * broadcasts; per-source output is |sources| rows.
    */
  def sourceKl(docs: DataFrame, sourceCol: String,
      textCol: String): DataFrame = {
    val toks = docs.select(col(sourceCol).as("source"),
      explode(TextFns.tokens(col(textCol))).as("w"))
    val sw = toks.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("csw"))
    val cw = sw.groupBy(col("w")).agg(sum(col("csw")).as("cw"))
    val ns = sw.groupBy(col("source")).agg(sum(col("csw")).as("ns"))
    val tot = cw.agg(sum(col("cw")).cast("double").as("n"))
    sw.join(cw, Seq("w"))
      .join(ns, Seq("source"))
      .crossJoin(broadcast(tot))
      .withColumn("term_micro",
        round(col("csw").cast("double") *
          (((log(col("csw").cast("double")) + log(col("n")))
            - log(col("ns").cast("double")))
            - log(col("cw").cast("double"))) * 1e6, 0).cast("long"))
      .groupBy(col("source"))
      .agg(max(col("ns")).as("n_tokens"),
        count(lit(1)).as("n_terms"),
        sum(col("term_micro")).as("kl_sum_micro"))
      .withColumn("kl",
        round(col("kl_sum_micro") / 1e6 / col("n_tokens"), 6))
      .drop("kl_sum_micro")
  }

  /** t31: top-K PMI collocations — the phrase-mining statistic (Church &
    * Hanks 1990) a tokenizer/phrase vocabulary is grown from: for each
    * bigram seen ≥ `minCount` times, ln(P(w₁w₂)/(P(w₁)P(w₂))) over the
    * corpus transition table, reported in integer micro-nats.
    *
    * Counts come from THE shared [[bigramPairsExpr]] explode (one pairing
    * definition with t22/t23/t24 and the streaming gate); c₁ is the
    * context marginal and c₂ the successor marginal of the same table, so
    * PMI = ((ln c₁₂ + ln T) − ln c₁) − ln c₂ — written as the ln-SUM, not
    * ln of a product ratio, because c₁₂·T overflows int64 at web scale
    * while each ln argument stays a plain count. The parenthesization is
    * fixed and mirrored verbatim in the oracle so both engines evaluate
    * the identical float chain; the result rounds to micro-nats (the t26
    * sign-symmetric precedent — PMI goes negative for anti-collocations).
    *
    * Scale shape: the minCount filter lands on the c₁₂ aggregate BEFORE
    * any join — at web scale it prunes the Heaps-law bigram tail to the
    * collocation head, which is the entire cost story; the marginal joins
    * stay un-hinted (the t22 rule), only the single-row T broadcasts, and
    * the top-K is TakeOrderedAndProject. Integer pmi_micro with (w₁, w₂)
    * tiebreak makes rank and the K boundary engine-stable.
    */
  def pmiCollocations(docs: DataFrame, textCol: String, minCount: Long,
      topK: Int): DataFrame = {
    require(minCount >= 1 && topK > 0, s"minCount=$minCount topK=$topK")
    val bigr = docs.select(TextFns.tokens(col(textCol)).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(explode(expr(bigramPairsExpr("ts"))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    // r17: ONE corpus pass builds the bigram count table, PINNED;
    // c1 = Σ_w2 c12, c2 = Σ_w1 c12, T = Σ c1 are exact rollups of the
    // pin (was four independent consumers of the explode = four corpus
    // tokenize passes; exchange reuse does not bridge differently-keyed
    // aggregates, re-measured). Identical integers.
    val c12 = graft.operators.DedupOps.pin(
      bigr.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")),
      reliable = false)
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val c2 = c12.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
    val tot = c1.agg(coalesce(sum(col("c1")), lit(0L)).cast("double").as("t"))
    c12.filter(col("c12") >= minCount)
      .join(c1, Seq("w1"))
      .join(c2, Seq("w2"))
      .crossJoin(broadcast(tot))
      .withColumn("pmi_micro",
        round(((log(col("c12").cast("double")) + log(col("t")))
          - log(col("c1").cast("double"))
          - log(col("c2").cast("double"))) * 1e6, 0).cast("long"))
      .select(col("w1"), col("w2"), col("c12"), col("pmi_micro"))
      .orderBy(desc("pmi_micro"), col("w1"), col("w2"))
      .limit(topK)
  }

  def bpePairStats(docs: DataFrame, textCol: String, topK: Int): DataFrame = {
    require(topK > 0, s"topK=$topK")
    val vocab = docs
      .select(explode(TextFns.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("tf"))
    vocab
      .filter(length(col("w")) >= 2)
      .select(col("w"), col("tf"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(col("w").substr(col("i"), lit(1)).as("c1"),
        col("w").substr(col("i") + 1, lit(1)).as("c2"), col("tf"))
      .groupBy(col("c1"), col("c2"))
      .agg(sum(col("tf")).as("pair_count"))
      .orderBy(desc("pair_count"), col("c1"), col("c2"))
      .limit(topK)
  }

  /** t30: the OTHER half of the BPE training step — [[bpePairStats]]
    * chooses candidate merges, this APPLIES each of the top `topK`
    * independently and prices it: corpus token count before/after, i.e.
    * the compression each merge would actually buy (the argmax applies;
    * the runners-up quantify how peaked the gain curve is — flat curves
    * mean merge order barely matters, peaked curves mean it does).
    *
    * Applying one merge to a word is `replace(w, c1·c2, '•')`: built-in
    * string replace is non-overlapping left-to-right in BOTH engines,
    * which IS BPE's scan semantics ("aaa" under merge (a,a) → [aa, a] —
    * 2 tokens, and `length(replace("aaa","aa","•")) = 2`). Token counts
    * come out of lengths, so no token array ever materializes.
    *
    * Scale shape: the vocab aggregate is computed ONCE and consumed by
    * both the pair table and the apply pass — same groupBy(w) exchange,
    * AQE stage-level reuse bridges the two consumers (the r9
    * broadcast-reuse lesson: identical-subtree reuse works at runtime;
    * check FinalPlan, not .explain). The pair side collapses to
    * alphabet², the top-K is a heap, and the apply pass is a
    * topK-row broadcast cross join over DISTINCT words —
    * O(vocab · topK) per-row string work, never O(corpus tokens).
    * All counts are exact integers; (count desc, c1, c2) is a strict
    * total order, so rank and the K boundary are engine-stable.
    */
  def bpeApplyRound(docs: DataFrame, textCol: String, topK: Int): DataFrame = {
    require(topK > 0, s"topK=$topK")
    val vocab = docs
      .select(explode(TextFns.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("tf"))
    val order = Seq(desc("pair_count"), col("c1"), col("c2"))
    val pairs = vocab
      .filter(length(col("w")) >= 2)
      .select(col("w"), col("tf"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(col("w").substr(col("i"), lit(1)).as("c1"),
        col("w").substr(col("i") + 1, lit(1)).as("c2"), col("tf"))
      .groupBy(col("c1"), col("c2"))
      .agg(sum(col("tf")).as("pair_count"))
      .orderBy(order: _*)
      .limit(topK)
      .withColumn("rank", row_number().over(Window.orderBy(order: _*)))
    vocab
      .crossJoin(broadcast(pairs))
      .select(col("rank"), col("c1"), col("c2"), col("pair_count"),
        (col("tf") * length(col("w"))).as("chars"),
        (col("tf") * length(org.apache.spark.sql.functions.replace(
          col("w"), concat(col("c1"), col("c2")), lit("•")))).as("chars_after"))
      .groupBy(col("rank"), col("c1"), col("c2"), col("pair_count"))
      .agg(sum(col("chars")).as("tokens_before"),
        sum(col("chars_after")).as("tokens_after"))
      .withColumn("n_merges", col("tokens_before") - col("tokens_after"))
  }

  /** t40: the FULL BPE training loop — t28 chooses one round's candidate
    * merges and t30 prices them independently; this runs the actual
    * algorithm (Sennrich et al. 2016, the public merge rules t28/t30
    * already pin): `rounds` SEQUENTIAL merges, each round recounting
    * adjacent symbol pairs over the CURRENT vocab representation
    * (overlapping, tf-weighted — the t28 counting convention), taking
    * the argmax under the engine-stable (count desc, c1, c2) total
    * order, and applying it greedily left-to-right non-overlapping (the
    * t30 application convention). Output: the merge TABLE — one row per
    * round (rank, c1, c2, pair_count, tokens_after) — the artifact a
    * tokenizer-apply stage (and t39's token budgeter) prices against.
    *
    * The greedy application is a linear fold over the symbol array: the
    * merged symbol c1·c2 can never re-match as c1 (c2 is nonempty), so
    * "last element = c1 ∧ next = c2 ⇒ replace last" IS the
    * non-overlapping scan — "a a a" under (a,a) → [aa, a], never
    * [a, aa]. Initial symbols are CODEPOINTS via substr (NOT split on
    * "", which halves surrogate pairs — the t01 astral lesson), so both
    * engines segment identically.
    *
    * Loop discipline (the d06/g01 recipe): state is the vocab table
    * (word, tf, spaced symbol rep) PLUS the maintained pair-count
    * table, both lineage-pinned per round; the driver sees ONE argmax
    * row and ONE merged-count scalar per round, never vocab rows; the
    * oracle is one chained CTE block per round (fixed round count, the
    * g01 trade).
    *
    * Scale shape: the corpus is touched exactly once (the
    * word-frequency aggregate) and the vocab pair explode once (the
    * setup count) — after that each round recounts only the words
    * CONTAINING the merged adjacency and deltas the maintained pair
    * table (the standard incremental BPE-trainer recount): per-round
    * data volume is affected-words-sized, which shrinks as merges
    * specialize — what makes a 32k-merge tokenizer plannable, not just
    * rounds=8. The argmax is a heap over the maintained table, the
    * fold is per-affected-row string work.
    *
    * A corpus that exhausts its adjacent pairs before `rounds` returns
    * the TRUNCATED merge table (BpeTrainSpec), matching the
    * chained-CTE oracle's degradation. `reliable = true` swaps the
    * per-round lineage pin for a fault-tolerant `checkpoint()` — the
    * same cluster mode as connectedComponents/hostRank (see
    * [[graft.operators.DedupOps.pin]]); identical output both modes
    * (ReliableCheckpointSpec).
    */
  def bpeTrain(docs: DataFrame, textCol: String, rounds: Int,
      reliable: Boolean = false): DataFrame =
    bpeTrainState(docs, textCol, rounds, reliable)._1

  /** The training loop's internals: returns BOTH the merge table (the
    * t40 surface) and the final vocab state `(w, tf, n)` — per-word
    * symbol count under all `rounds` merges — which is what corpus
    * tokenization (t41) consumes. One loop, two surfaces, so the token
    * counts a budgeter prices with can never drift from the merge table
    * that produced them.
    */
  /** ONE greedy non-overlapping application of merge (c1, c2) over a
    * symbol array — the linear left-to-right fold shared by the trainer
    * and the held-out apply path (t45), so training and application can
    * never scan differently: the merged symbol c1·c2 can never re-match
    * as c1 (c2 is nonempty), so "last element = c1 ∧ next = c2 ⇒
    * replace last" IS BPE's non-overlapping scan. */
  private def greedyMerge(sy: Column, c1: String, c2: String): Column =
    aggregate(sy,
      expr("CAST(array() AS ARRAY<STRING>)"),
      (acc, x) => when(
        size(acc) > 0 && element_at(acc, -1) === lit(c1) &&
          (x === lit(c2)),
        concat(slice(acc, lit(1), size(acc) - 1),
          array(lit(c1 + c2))))
        .otherwise(concat(acc, array(x))))

  private[graft] def bpeTrainState(docs: DataFrame, textCol: String,
      rounds: Int, reliable: Boolean = false): (DataFrame, DataFrame) = {
    require(rounds >= 1, s"rounds=$rounds")
    val sp = docs.sparkSession
    // leading/trailing non-space whitespace yields an EMPTY token (trim
    // strips 0x20 only — the structured-fixture lesson); it carries zero
    // symbols by definition and is excluded on BOTH sides, because
    // sequence(1, 0) is the DESCENDING [1, 0] in Spark (two phantom
    // empty symbols) while generate_series(1, 0) is empty in DuckDB
    var st = DedupOps.pin(docs
      .select(explode(TextFns.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("tf"))
      .select(col("w"), col("tf"), length(col("w")).as("n"), expr(
        "array_join(transform(sequence(1, length(w)), " +
          "i -> substr(w, i, 1)), ' ')").as("rep")),
      reliable)
    // Incremental pair-count maintenance (the public BPE-trainer trick,
    // VERDICT r11 #7): a merge only changes pair counts inside words
    // that CONTAIN the merged adjacency, so the full vocab pair explode
    // runs ONCE — every later round recounts only the affected words
    // and applies the (old − new) delta to a maintained (c1, c2, pc)
    // table. Per-round data volume is then affected-words-sized (shrinks
    // as merges specialize) + one pair-table merge, instead of a full
    // vocab explode + shuffle per round — the difference between 8
    // rounds and a 32k-merge tokenizer. Identity with the full recount
    // is exact: unaffected words' reps don't change, so neither do
    // their pairs (BpeTrainSpec differentials at rounds 8 AND 32).
    def pairRows(df: DataFrame): DataFrame = df
      .select(col("tf"), split(col("rep"), " ").as("sy"))
      .filter(size(col("sy")) >= 2)
      .select(col("tf"), explode(expr(
        "transform(sequence(1, size(sy) - 1), " +
          "i -> struct(sy[i-1] AS c1, sy[i] AS c2))")).as("p"))
      .select(col("p.c1").as("c1"), col("p.c2").as("c2"), col("tf"))
    var pc = DedupOps.pin(pairRows(st)
      .groupBy(col("c1"), col("c2")).agg(sum(col("tf")).as("pc")),
      reliable)
    // filter preserves partitioning and union CONCATENATES it, so the
    // per-round `unaffected ∪ rewritten` would double st's partition
    // count every round (2^32 scheduler death by round 32, measured as
    // a wedged spec) — coalesce back to the setup aggregate's count
    // before each pin; coalesce is a partition-list merge, no shuffle
    val nPart = st.rdd.getNumPartitions
    // Σ tf·|symbols| before any merge — ONE full-vocab aggregate; the
    // per-round running value is reconstructed post-loop (below) from the
    // pinned rewrites, so the loop body never pays a collect for it.
    // sum() over ZERO rows is null (an all-empty/whitespace/null-text
    // corpus has no vocab at all) — that corpus owes the same truncated
    // merge table as the ran-out-of-pairs case below, not an NPE
    val total = Option(st.agg(sum(col("tf") * col("n"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    // Round critical path = rew pin → pc pin → next argmax. The st pin is
    // off it: round k+1's argmax reads only pc, and st is next touched by
    // round k+1's rewrite — so the st pin runs on a second job thread
    // (Spark's documented multi-thread job submission) overlapped with
    // the pc pin and the argmax, awaited only where the rewrite needs it.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // Loop-scoped codegen OFF (r18, guide §1.2 "per-task work" inverted:
    // here the per-ROUND driver work is the wall): every round's frames
    // embed fresh merge literals, so each of the ~3 plans per round pays
    // whole-stage-codegen setup over KB-scale pinned state — measured
    // 7.00 → 5.00 s best on t44 (32 rounds, sf0.1/c32, best-of-3:
    // default 7.00 / no-wscg 5.31 / interpreted 5.00, control re-run
    // 6.84; OPTIMIZATION_r18.md, "[opt] BPE trainer loop"). Interpreted eval costs more per ROW, so this is
    // gated on the pinned vocab's own AQE-coalesced partition count —
    // a SIZE signal (~64 MB advisory target per partition), not a
    // core-count tune: a corpus whose vocab spans > 2 partitions keeps
    // codegen, because row-eval over a large vocab costs more per round
    // than plan compilation saves. The setup aggregates above (corpus-
    // sized) always run WITH codegen — only the loop body and the
    // post-loop drains (affected-words-sized) run interpreted. Conf is
    // session-level, so restore is in `finally`; the returned frames
    // execute after restore and plan with codegen as before.
    // Loop-scoped AQE-off (static shuffle width = nPart) was ALSO tried
    // here under the same gate (r18): despite the loop being joinless —
    // so the CC-loop compact-mode failure mode (lost runtime join
    // re-planning) cannot fire — it measured FAR worse (same-subset
    // bench: t44 5.35→9.97, t46 5.65→10.0, t40 2.16→2.76). AQE's
    // per-stage jobs are cheaper than whatever static planning costs on
    // these per-round frames; reverted, AQE stays ON in the loop.
    val sess = docs.sparkSession
    val loopInterpreted = nPart <= 2
    val codegenConfs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val savedConfs: Seq[(String, Option[String])] =
      if (!loopInterpreted) Nil
      else codegenConfs.map { case (k, v) =>
        val old = util.Try(sess.conf.get(k)).toOption
        sess.conf.set(k, v)
        (k, old)
      }
    try {
    val picks = Seq.newBuilder[(Int, String, String, Long)]
    // Deferred Σ tf·(n0−n) per round, drained in CHUNKS of `DrainRounds`
    // (one union-aggregate job per chunk): keeps the driver round-trip
    // win of full deferral (~rounds/64 collects instead of rounds) while
    // bounding peak executor storage to DrainRounds pinned rewrites —
    // the fully-deferred form retained EVERY round's localCheckpoint
    // blocks until the post-loop aggregate (r14 ADVICE). Dropping a
    // drained chunk's DataFrame references is the release mechanism:
    // ContextCleaner unpersists checkpoint blocks whose driver-side
    // references are GC'd. Drains run only after the stF that consumed
    // the chunk's last rew has been awaited, so no in-flight union
    // still reads a dropped rew.
    val DrainRounds = 64
    var rewPend = List.empty[(Int, DataFrame)]
    val mergedAcc = scala.collection.mutable.Map.empty[Int, Long]
    def drainRews(): Unit = if (rewPend.nonEmpty) {
      mergedAcc ++= rewPend.map { case (rank, rew) =>
        rew.agg(coalesce(sum(col("tf") * (col("n0") - col("n"))), lit(0L))
          .as("m")).select(lit(rank).as("rank"), col("m"))
      }.reduce(_ unionByName _).collect()
        .map(r => r.getInt(0) -> r.getLong(1))
      // deterministic release of the drained chunk's checkpoint blocks:
      // GC + ContextCleaner would get there eventually, but the storage
      // bound should not depend on driver GC timing (r15 ADVICE). Every
      // pin's st consumer has been awaited before drainRews is called,
      // so nothing still reads these blocks.
      rewPend.foreach { case (_, rew) => DedupOps.unpin(rew) }
      rewPend = Nil
    }
    var stF: Future[DataFrame] = Future.successful(st)
    // dev trace (GRAFT_BPE_TRACE=1): per-round phase timings on stderr —
    // zero work when unset
    val trace = sys.env.get("GRAFT_BPE_TRACE").contains("1")
    def tr[A](tag: String, k: Int)(f: => A): A =
      if (!trace) f else {
        val t0 = System.nanoTime(); val a = f
        System.err.println(
          f"[bpe-trace] round=$k%3d $tag%-8s ${(System.nanoTime() - t0) / 1e6}%8.1f ms")
        a
      }
    var k = 1
    while (k <= rounds) {
      val best = tr("argmax", k) { pc.orderBy(desc("pc"), col("c1"), col("c2"))
        .limit(1).collect() }
      // A corpus can run out of adjacent pairs before `rounds` (every
      // word fully merged to one symbol — e.g. all single-codepoint
      // words). Return the TRUNCATED merge table rather than throw:
      // the chained-CTE oracle degrades the same way (an empty argmax
      // CTE cascades, later rounds emit zero rows), so the two engines
      // agree on the short table; pinned by BpeTrainSpec
      // ("degenerate corpus").
      if (best.isEmpty) k = rounds + 1
      else {
      val c1 = best(0).getString(0)
      val c2 = best(0).getString(1)
      val pcnt = best(0).getLong(2)
      st = Await.result(stF, Duration.Inf)
      // every pending rew (rounds < k) has now been consumed by an
      // awaited st pin — safe to drain once the chunk fills
      if (rewPend.length >= DrainRounds) drainRews()
      // symbols never contain whitespace (words are whitespace-split),
      // so " c1 c2 " against the space-padded rep is EXACTLY the
      // whole-symbol adjacency test
      val adj = concat(lit(" "), col("rep"), lit(" "))
        .contains(" " + c1 + " " + c2 + " ")
      val affected = st.filter(adj)
      val rew = tr("rewpin", k) { DedupOps.pin(affected
        .select(col("w"), col("tf"), col("n").as("n0"),
          greedyMerge(split(col("rep"), " "), c1, c2).as("sy"))
        .select(col("w"), col("tf"), col("n0"), size(col("sy")).as("n"),
          array_join(col("sy"), " ").as("rep")),
        reliable) }
      // pc ∪ ±delta → ONE aggregate, not a full_outer join (r17): the
      // join shape shuffled BOTH sides and ran two stages per round —
      // the round's critical-path job (85 ms/round traced at sf0.1, vs
      // 20/25 ms for argmax/rew). sum(pc, −old pairs, +new pairs) per
      // (c1, c2) is the identical 64-bit arithmetic (full_outer +
      // coalesce-sum ≡ union + sum over the same addends), one shuffle.
      val pcNext = pc
      val pcF = Future { DedupOps.pin(
        pcNext.select(col("c1"), col("c2"), col("pc").as("d"))
          .unionByName(pairRows(affected)
            .select(col("c1"), col("c2"), (-col("tf")).as("d")))
          .unionByName(pairRows(rew)
            .select(col("c1"), col("c2"), col("tf").as("d")))
          .groupBy(col("c1"), col("c2")).agg(sum(col("d")).as("pc"))
          .filter(col("pc") > 0),
        reliable) }
      val stPrev = st
      stF = Future { DedupOps.pin(stPrev.filter(not(adj))
        .unionByName(rew.select(col("w"), col("tf"), col("n"),
          col("rep")))
        .coalesce(nPart),
        reliable) }
      pc = tr("pcawait", k) { Await.result(pcF, Duration.Inf) }
      if (trace) System.err.println(s"[bpe-trace] round=$k nPart=$nPart " +
        s"pcParts=${pc.rdd.getNumPartitions} stParts=${st.rdd.getNumPartitions} " +
        s"rewParts=${rew.rdd.getNumPartitions}")
      picks += ((k, c1, c2, pcnt))
      rewPend ::= ((k, rew))
      k += 1
      }
    }
    st = Await.result(stF, Duration.Inf)
    // The old per-round `merged` collect, deferred: each chunk's
    // Σ tf·(n0−n) over its (pinned) rewrites in ONE job, then a prefix
    // subtraction from `total` rebuilds tokens_after — identical 64-bit
    // arithmetic, rounds/DrainRounds driver round-trips instead of
    // rounds.
    drainRews()
    var after = total
    val out = picks.result().map { case (rank, c1, c2, pcnt) =>
      after -= mergedAcc(rank)
      (rank, c1, c2, pcnt, after)
    }
    import sp.implicits._
    val table = out
      .toDF("rank", "c1", "c2", "pair_count", "tokens_after")
      .orderBy(col("rank"))
    (table, st.select(col("w"), col("tf"), col("n")))
    } finally savedConfs.foreach {
      case (k, Some(v)) => sess.conf.set(k, v)
      case (k, None) => sess.conf.unset(k)
    }
  }

  /** t41: corpus tokenization under the TRAINED merge table — the
    * tokenizer-apply rung a token-budget pipeline (t39) prices against:
    * per document, the word count, the codepoint count, and the BPE
    * token count after all `rounds` trained merges. Pricing happens at
    * the VOCAB level (each distinct word's symbol count is computed once
    * by the training loop) and reaches documents through one word-keyed
    * join of token instances onto the (word, n) table — the classic
    * count-table shape: un-hinted (the t22 rule — the vocab side is
    * Heaps-law small and AQE broadcasts it at any realistic scale),
    * never a per-document re-segmentation.
    *
    * Empty/whitespace docs report zeros (no instances survive the
    * empty-token filter); docs whose every token is empty ditto. Null
    * text reports zeros too — the doc HAS no payable tokens, which is a
    * statement the budgeter can act on (unlike d19/d29, where null text
    * means "nothing to measure" and stays null).
    */
  def bpeTokenCounts(docs: DataFrame, idCol: String, textCol: String,
      rounds: Int, reliable: Boolean = false): DataFrame = {
    val perWord = bpeTrainState(docs, textCol, rounds, reliable)._2
      .select(col("w"), col("n"))
    val agg = docs
      .select(col(idCol), explode(TextFns.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .join(perWord, Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("n_chars"),
        sum(col("n").cast("long")).as("n_bpe_tokens"))
    docs.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }

  /** t45: the train/apply SPLIT — what a production tokenizer actually
    * does, which t41 (trained and applied on the same corpus, priced
    * from the trainer's own state) cannot show: merges train on the
    * `id % trainMod == 0` slice, then tokenize the HELD-OUT slice —
    * unseen words, unseen pair contexts, merges applied in RANK order
    * by the SAME [[greedyMerge]] fold the trainer used (one shared
    * scan definition, so training and application can never disagree).
    * Output: per held-out doc, word/char/BPE-token counts under the
    * foreign merge table.
    *
    * Scale shape: the merge table is `rounds` rows — collected to the
    * driver (the bounded-collect class of the trainer's own argmax) and
    * unrolled into ONE projection of chained folds over the held-out
    * DISTINCT vocab (no per-merge jobs, no joins between merges); docs
    * price through the same un-hinted word-keyed join as t41. The
    * held-out corpus is touched twice (vocab aggregate + instance
    * explode), the train corpus by the trainer's one pass.
    */
  def bpeTokenCountsHeldOut(docs: DataFrame, idCol: String,
      textCol: String, rounds: Int, trainMod: Int,
      reliable: Boolean = false): DataFrame = {
    require(trainMod >= 2, s"trainMod=$trainMod")
    val isTrain = pmod(col(idCol), lit(trainMod.toLong)) === 0
    val merges = bpeTrain(docs.filter(isTrain), textCol, rounds, reliable)
      .orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val held = docs.filter(!isTrain)
    val sy0 = expr(
      "transform(sequence(1, length(w)), i -> substr(w, i, 1))")
    val syN = merges.foldLeft(sy0) { case (c, (c1, c2)) =>
      greedyMerge(c, c1, c2)
    }
    val perWord = held
      .select(explode(TextFns.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .distinct()
      .select(col("w"), size(syN).as("n"))
    heldOutCounts(held, idCol, textCol, perWord)
  }

  /** The shared held-out pricing tail: token instances join the
    * (word, symbol count) table and roll up per doc — one definition so
    * the unrolled (t45) and blocked (t46) apply paths can only ever
    * differ in how `perWord` was produced. */
  private def heldOutCounts(held: DataFrame, idCol: String,
      textCol: String, perWord: DataFrame): DataFrame = {
    val agg = held
      .select(col(idCol), explode(TextFns.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .join(perWord, Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("n_chars"),
        sum(col("n").cast("long")).as("n_bpe_tokens"))
    held.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }

  /** t46: [[bpeTokenCountsHeldOut]] past the unrolled fold — the apply
    * path that survives a production merge table. t45 chains `rounds`
    * [[greedyMerge]] folds into ONE projection, whose expression tree
    * grows linearly in merges (fine at 8, a codegen/analyzer killer at
    * a real tokenizer's 32k). This variant applies merges in BLOCKS of
    * `blockSize`: fold `blockSize` merges into one projection over the
    * held-out vocab state (w, sy), pin/materialize, repeat — the
    * trainer's own loop discipline, now on the apply side. Expression
    * depth is bounded by the block, per-block cost is flat (each block
    * is one vocab-sized projection, no joins between blocks, no unions
    * — so no partition-doubling trap), and total cost is linear in
    * `rounds / blockSize` pinned stages.
    *
    * Identity with the unrolled form is exact — the SAME greedyMerge
    * fold in the SAME rank order over the same initial state, merely
    * materialized every `blockSize` merges (BpeTrainSpec differentials
    * at 8 and 32 rounds, and across block sizes).
    */
  def bpeTokenCountsHeldOutBlocked(docs: DataFrame, idCol: String,
      textCol: String, rounds: Int, trainMod: Int, blockSize: Int,
      reliable: Boolean = false): DataFrame = {
    require(trainMod >= 2 && blockSize >= 1,
      s"trainMod=$trainMod blockSize=$blockSize")
    val isTrain = pmod(col(idCol), lit(trainMod.toLong)) === 0
    val merges = bpeTrain(docs.filter(isTrain), textCol, rounds, reliable)
      .orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val held = docs.filter(!isTrain)
    var vocab = DedupOps.pin(held
      .select(explode(TextFns.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .distinct()
      .select(col("w"), expr(
        "transform(sequence(1, length(w)), i -> substr(w, i, 1))")
        .as("sy")),
      reliable)
    merges.grouped(blockSize).foreach { blk =>
      vocab = DedupOps.pin(vocab.select(col("w"),
        blk.foldLeft(col("sy")) { case (c, (c1, c2)) =>
          greedyMerge(c, c1, c2)
        }.as("sy")),
        reliable)
    }
    heldOutCounts(held, idCol, textCol,
      vocab.select(col("w"), size(col("sy")).as("n")))
  }
}
