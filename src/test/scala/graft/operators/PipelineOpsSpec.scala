package graft.operators

import graft.SparkSpec
import graft.functions.TextFns
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral tests for the training-data pipeline operators on planted
  * fixtures: dedup recall/precision, simhash locality, similarity search
  * exactness, multimodal plumbing.
  */
class PipelineOpsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far " +
    "away into the deep green forest to hide from every hunter nearby"

  private lazy val docs = Seq(
    (0L, base),
    (1L, base),                                        // exact dup of 0
    (2L, base.replace("lazy", "sleepy")),              // near dup of 0
    (3L, base.replace("quick brown", "slow red")),     // near dup of 0
    (4L, "completely different text about spark catalyst optimizer rules " +
      "and tungsten codegen stages with partitions shuffles and joins"),
    (5L, "yet another unrelated document mentioning kafka topics offsets " +
      "consumers producers brokers partitions replication and logs")
  ).toDF("doc_id", "text")

  test("exact dedup: one canonical id per digest, dup dropped") {
    val kept = DedupOps.exactDedup(docs, "doc_id", "text")
    assert(kept.count() === 5) // 6 docs, one exact pair
    val drops = DedupOps.exactDedupDrops(docs, "doc_id", "text").collect()
    assert(drops.length === 1)
    assert(drops.head.getAs[Long]("doc_id") === 1L)
    assert(drops.head.getAs[Long]("keep_id") === 0L)
  }

  test("incremental dedup: corpus dup, batch-internal dup, fresh doc classified") {
    val corpus = Seq((1L, "alpha"), (3L, "beta")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha"), // already ingested → dup_in_corpus
      (20L, "gamma"), // first fresh instance → new_unique
      (30L, "gamma"), // later batch copy of 20 → dup_in_batch
      (40L, "delta")  // fresh singleton → new_unique
    ).toDF("doc_id", "text")
    val got = DedupOps.incrementalDedup(corpus, batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got === Map(10L -> "dup_in_corpus", 20L -> "new_unique",
      30L -> "dup_in_batch", 40L -> "new_unique"))
    // idempotence: re-ingesting the batch against corpus+kept drops everything
    val kept = batch.filter(col("doc_id").isin(20L, 40L))
    val again = DedupOps.incrementalDedup(corpus.union(kept), batch,
        "doc_id", "text")
      .collect().map(r => r.getString(2)).toSet
    assert(again === Set("dup_in_corpus"))
  }

  test("incremental near-dup: exact and near copies flagged against corpus, fresh kept") {
    val corpus = Seq(
      (1L, base),
      (3L, "completely different text about spark catalyst optimizer rules " +
        "and tungsten codegen stages with partitions shuffles and joins")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base),                           // exact copy → always banded
      (20L, base.replace("lazy", "sleepy")), // near copy
      (30L, "yet another unrelated document mentioning kafka topics " +
        "offsets consumers producers brokers partitions replication")
    ).toDF("doc_id", "text")
    val got = DedupOps.incrementalNearDup(corpus, batch, "doc_id", "text",
        threshold = 0.5, k = 32, bands = 8)
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2)))
      .toMap
    assert(got.keySet === Set(10L, 20L, 30L), "every batch doc reports")
    assert(got(10L) === (Some(1L), 1L), "exact copy attributed to corpus 1")
    assert(got(20L)._1 === Some(1L), "near copy attributed to corpus 1")
    assert(got(30L) === (None, 0L), "fresh doc kept")
  }

  test("substring dup stats: interval union exact on planted repeated spans") {
    val tiny = Seq(
      (0L, "a b c d e f g h i j"),             // 10 toks, exact copy of 1
      (1L, "a b c d e f g h i j"),
      (2L, "z y x w v u t s r q p o"),         // unrelated, nothing repeats
      (3L, "q r a b c d e f g h x")            // carries the shared 8-run a..h
    ).toDF("doc_id", "text")
    val got = DedupOps.substringDupStats(tiny, "doc_id", "text", 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // docs 0/1: all three 8-windows repeat → union of [1,9),[2,10),[3,11)
    // = 10 positions (8 + min(8,1) + min(8,1)) — full coverage
    assert(got(0L) === ((10L, 10L, 1.0)))
    assert(got(1L) === ((10L, 10L, 1.0)))
    assert(got(2L) === ((12L, 0L, 0.0)))
    // doc 3: exactly one window (a..h, start 3 of 4) matches doc 0/1's
    // first window → 8 covered of 11
    assert(got(3L) === ((11L, 8L,
      BigDecimal(8.0 / 11).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)))
    // sub-window docs report zero coverage, not absence
    val short = Seq((0L, "only five tokens right here"),
      (1L, "only five tokens right here")).toDF("doc_id", "text")
    val sg = DedupOps.substringDupStats(short, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(sg === Map(0L -> 0L, 1L -> 0L))
  }

  test("prototypicality prune: per-cell ranks dense, prune count == ceil(n/5)") {
    val rnd = new scala.util.Random(7)
    val c0 = Array.fill(8)(rnd.nextGaussian().toFloat)
    val c1 = Array.fill(8)(rnd.nextGaussian().toFloat)
    def jitter(b: Array[Float]) = b.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
    val corpus = (0L until 12L).map(i =>
      (i, jitter(if (i % 2 == 0) c0 else c1))).toDF("vec_id", "embedding")
    val cents = Seq((0L, c0), (1L, c1)).toDF("vec_id", "embedding")
    val got = SimilarityOps.prototypicalityPrune(corpus, cents, 1, 5).collect()
    assert(got.length === 12)
    for ((cell, rs) <- got.groupBy(_.getLong(1))) {
      val n = rs.length
      assert(rs.map(_.getInt(3)).sorted.toSeq === (1 to n),
        s"cell $cell ranks not dense")
      assert(rs.count(_.getBoolean(4)) === (n + 4) / 5,
        s"cell $cell pruned != ceil(n/5)")
      val r1 = rs.find(_.getInt(3) == 1).get
      assert(rs.forall(_.getDouble(2) <= r1.getDouble(2)),
        s"cell $cell rank-1 not the most prototypical")
      assert(r1.getBoolean(4), s"cell $cell most prototypical row not pruned")
    }
  }

  test("prototypicality prune approx: agrees with exact form on integral cells") {
    val rnd = new scala.util.Random(11)
    val c0 = Array.fill(8)(rnd.nextGaussian().toFloat)
    val c1 = Array.fill(8)(rnd.nextGaussian().toFloat)
    def jitter(b: Array[Float]) = b.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
    // 10 vectors per cell: num·n/den = 10/5 = 2 integral, jittered sims
    // distinct at 6 dp ⇒ the agreement contract's exact-equality regime
    val corpus = (0L until 20L).map(i =>
      (i, jitter(if (i % 2 == 0) c0 else c1))).toDF("vec_id", "embedding")
    val cents = Seq((0L, c0), (1L, c1)).toDF("vec_id", "embedding")
    val exact = SimilarityOps.prototypicalityPrune(corpus, cents, 1, 5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    val approx = SimilarityOps.prototypicalityPruneApprox(corpus, cents, 1, 5)
      .collect()
    assert(approx.length === 20)
    // distinct-sims precondition of the contract actually holds
    for ((_, rs) <- approx.groupBy(_.getLong(1)))
      assert(rs.map(r => math.rint(r.getDouble(2) * 1e6)).distinct.length
        === rs.length, "fixture sims collide at 6 dp; pick another seed")
    assert(approx.map(r => r.getLong(0) -> r.getBoolean(4)).toMap === exact)
    // the gate is a pure threshold: every pruned sim above every kept sim
    for ((cell, rs) <- approx.groupBy(_.getLong(1))) {
      val (pruned, kept) = rs.partition(_.getBoolean(4))
      assert(pruned.nonEmpty && kept.nonEmpty)
      assert(pruned.map(_.getDouble(2)).min > kept.map(_.getDouble(2)).max,
        s"cell $cell threshold gate violated")
    }
    // non-integral cell: approx prunes floor(n·num/den), exact ceil —
    // within one rank, the documented quantile-boundary slack
    val corpus11 = (0L until 11L).map(i => (i, jitter(c0)))
      .toDF("vec_id", "embedding")
    val cents1 = Seq((0L, c0)).toDF("vec_id", "embedding")
    val ex11 = SimilarityOps.prototypicalityPrune(corpus11, cents1, 1, 5)
      .collect().count(_.getBoolean(4))
    val ap11 = SimilarityOps.prototypicalityPruneApprox(corpus11, cents1, 1, 5)
      .collect().count(_.getBoolean(4))
    assert(ex11 === 3, "exact prunes ceil(11/5)")
    assert(ap11 === 2 || ap11 === 3, s"approx pruned $ap11, expected within one rank")
  }

  test("percentile_approx rank convention: element at ceil(p·n), p=3/4") {
    // The load-bearing fact under the s17 oracle: at full accuracy Spark's
    // percentile_approx returns the element at rank ceil(p·n) FROM THE
    // BOTTOM. p = 3/4 is an exact binary double, so ceil(0.75·n) carries
    // no float hazard; the oracle recomputes the same rank as the integer
    // (3n+3)//4. If a Spark upgrade ever changes the convention, this
    // fails before the driver's gate does.
    for (n <- Seq(4, 5, 7, 11, 20, 31, 100, 313)) {
      val got = spark.range(1, n + 1).selectExpr(
        "percentile_approx(CAST(id AS DOUBLE), 0.75, 10000) AS q")
        .head.getDouble(0)
      val want = math.ceil(0.75 * n)
      assert(got === want, s"n=$n: percentile_approx=$got, ceil-rank elem=$want")
      assert((3 * n + 3) / 4 === want.toInt, s"n=$n integer-rank form drifted")
    }
    // t25's terciles: 1/3 and 2/3 are NOT exact binary, but both round
    // DOWN in double (0.333…3 < 1/3, 0.666…3 < 2/3), so p·n approaches
    // integer boundaries from BELOW and ceil(p·n) == ceil(n/3) /
    // ceil(2n/3) for every n — including multiples of 3, the only place
    // a float-above p would jump a rank. Pin it, with the integer ranks
    // the t25 oracle uses.
    for (n <- Seq(3, 5, 6, 9, 25, 27, 100, 250, 313)) {
      val r = spark.range(1, n + 1).selectExpr(
        "percentile_approx(CAST(id AS DOUBLE), CAST(1 AS DOUBLE)/3, 10000) AS q1",
        "percentile_approx(CAST(id AS DOUBLE), CAST(2 AS DOUBLE)/3, 10000) AS q2")
        .head
      assert(r.getDouble(0) === ((n + 2) / 3).toDouble, s"n=$n tercile 1")
      assert(r.getDouble(1) === ((2 * n + 2) / 3).toDouble, s"n=$n tercile 2")
    }
  }

  test("domain blocklist: subdomains inherit the parent block, others keep") {
    val got = graft.SparkEntry.queries("t20_domain_blocklist")(
      spark, "/root/testdata/sf0.001").collect()
    val blocked = got.filter(!_.isNullAt(1))
      .map(r => (r.getString(0), r.getString(1)))
    assert(blocked.nonEmpty)
    for ((h, by) <- blocked) {
      assert(h.matches("sub[0-2]\\.host(3|17)\\.example\\.org"), h)
      // attribution is the parent entry itself, not the full host
      assert(by === h.substring(h.indexOf('.') + 1), s"$h -> $by")
    }
    val kept = got.filter(_.isNullAt(1)).map(_.getString(0))
    assert(kept.nonEmpty)
    assert(kept.forall(h =>
      !h.matches("sub[0-2]\\.host(3|17)\\.example\\.org")), kept.mkString(","))
  }

  test("minhash-LSH: finds planted near-dups, not the unrelated pair") {
    val verified = DedupOps.minhashVerified(docs, "doc_id", "text",
      threshold = 0.5, k = 32, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.contains((0L, 1L)), "exact pair must survive")
    assert(verified.contains((0L, 2L)) || verified.contains((0L, 3L)),
      "at least one planted near-dup pair found")
    assert(!verified.exists { case (a, b) => Set(a, b) == Set(4L, 5L) },
      "unrelated docs must not pair")
  }

  test("lsh tuning curve: configs nest, bands=4 row matches production pairing") {
    val curve = DedupOps.lshTuningCurve(docs, "doc_id", "text")
      .orderBy(col("bands")).collect()
    assert(curve.map(_.getAs[Int]("bands")).toSeq === Seq(2, 4, 8, 16),
      "every config present: the exact planted pair agrees on all slices")
    val cands = curve.map(_.getAs[Long]("n_candidates")).toSeq
    val trues = curve.map(_.getAs[Long]("n_true_dups")).toSeq
    // aligned-slice nesting: coarser banding is a subset of finer
    assert(cands === cands.sorted, s"candidates not monotone: $cands")
    assert(trues === trues.sorted, s"true dups not monotone: $trues")
    curve.foreach(r => assert(r.getAs[Long]("n_true_dups")
      <= r.getAs[Long]("n_candidates")))
    // the bands=4 row IS production banding: same count as the d09 blocker
    val prod = DedupOps.minhashCandidates(docs, "doc_id", "text",
      k = 16, bands = 4).count()
    assert(curve.find(_.getAs[Int]("bands") == 4).get
      .getAs[Long]("n_candidates") === prod)
  }

  test("lsh tuning curve: sampleFrac slice is deterministic and layout-independent") {
    // corpus big enough that a half sample is a real subset: 24 docs,
    // near-dup pairs planted inside and across the sample boundary
    val corpus = (0L until 24L).map { i =>
      val t = if (i % 3 == 0) base
        else if (i % 3 == 1) base.replace("lazy", s"sleepy$i")
        else s"unrelated filler document number $i about catalyst and " +
          s"tungsten with tokens ${i * 7} ${i * 11} ${i * 13} and more"
      (i, t)
    }.toDF("doc_id", "text")
    val frac = 0.5
    // the knob IS the documented t06-recipe draw: sampling inside the
    // operator equals pre-filtering by the same draw and running full
    val draw = conv(substring(md5(col("doc_id").cast("string")
      .cast("binary")), 1, 6), 16, 10).cast("long")
    val thresh = math.floor(frac * (1L << 24)).toLong
    val manual = DedupOps.lshTuningCurve(
      corpus.filter(draw < lit(thresh)), "doc_id", "text")
      .orderBy(col("bands")).collect().toSeq
    val knob = DedupOps.lshTuningCurve(corpus, "doc_id", "text",
      sampleFrac = frac).orderBy(col("bands")).collect().toSeq
    assert(knob === manual, "sampleFrac must equal the explicit md5-draw slice")
    // partition layout must not change the slice (rand()-style sampling
    // would fail this): same result from a reshuffled input
    val reshuffled = DedupOps.lshTuningCurve(corpus.repartition(7),
      "doc_id", "text", sampleFrac = frac)
      .orderBy(col("bands")).collect().toSeq
    assert(reshuffled === knob, "sample must be layout-independent")
    // the sample is a genuine subset (neither empty nor everything)
    val full = DedupOps.lshTuningCurve(corpus, "doc_id", "text")
      .orderBy(col("bands")).collect().toSeq
    val kept = corpus.filter(draw < lit(thresh)).count()
    assert(kept > 0 && kept < 24, s"draw degenerate: kept=$kept")
    assert(knob !== full, "half sample must differ from the full audit")
    // frac >= 1 bypasses: identical plan-and-result to the default
    assert(DedupOps.lshTuningCurve(corpus, "doc_id", "text",
      sampleFrac = 1.0).orderBy(col("bands")).collect().toSeq === full)
  }

  test("jaccard edges: planted near-dups edge within block, blocks separate") {
    val d = docs.withColumn("blk", lit(1))
    val edges = DedupOps.jaccardEdges(d, "doc_id", "text", Seq("blk"), 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges.contains((0L, 1L)), "exact pair edges")
    assert(edges.contains((0L, 2L)), "one-word-change near-dup edges")
    assert(!edges.exists { case (a, b) => Set(a, b) == Set(4L, 5L) },
      "unrelated docs must not edge")
    // blocking is a hard wall: same texts in different blocks never pair
    val split = docs.withColumn("blk", (col("doc_id") % 2).cast("int"))
    val none = DedupOps.jaccardEdges(split, "doc_id", "text", Seq("blk"), 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!none.contains((0L, 1L)), "cross-block pair must be invisible")
  }

  test("connected components: chain collapses transitively, singletons kept") {
    // chain 10-11-12 (no direct 10-12 edge), pair 20-21, singletons 30,31
    val nodes = Seq(10L, 11L, 12L, 20L, 21L, 30L, 31L).toDF("id")
    val edges = Seq((11L, 10L), (11L, 12L), (20L, 21L)).toDF("src", "dst")
    val got = DedupOps.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 31L))
    // long path: min label must walk the full diameter
    val path = (0L to 6L).toDF("id")
    val pathEdges = (0L until 6L).map(i => (i, i + 1)).toDF("src", "dst")
    val labels = DedupOps.connectedComponents(path, pathEdges)
      .collect().map(r => r.getLong(1)).toSet
    assert(labels === Set(0L))
  }

  test("connected components: diameter far beyond maxIter converges (pointer-halving)") {
    // a 4000-edge path — plain one-edge-per-hop propagation would need
    // 4000 hops and die on the 25-round guard (the r13 10× rehearsal
    // failure, in miniature); path-halving closes it in O(log d) rounds
    val n = 4001L
    val path = (0L until n).toDF("id")
    val pathEdges = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    val labels = DedupOps.connectedComponents(path, pathEdges)
      .collect().map(r => r.getLong(1)).toSet
    assert(labels === Set(0L))
  }

  test("connected components: observed round count is logarithmic in path diameter") {
    // the ccWithRounds counter the graph-growth measurement read (NOTES.md,
    // round 15, "Graph growth measured"): doubling the
    // diameter 4 times (64 → 1024) may add at most ~1 round per
    // doubling if halving holds; plain propagation would add 960
    def rounds(d: Long): Int = {
      val nodes = (0L to d).toDF("id")
      val edges = (0L until d).map(i => (i, i + 1)).toDF("src", "dst")
      DedupOps.ccWithRounds(nodes, edges)._2
    }
    val r64 = rounds(64L)
    val r1024 = rounds(1024L)
    assert(r1024 <= r64 + 6,
      s"rounds grew super-logarithmically: d=64 -> $r64, d=1024 -> $r1024")
  }

  test("pin bounds the checkpoint stats cascade under iterative self-joins") {
    // Catalyst's size-only estimator multiplies child sizes at every
    // inner join, and the checkpoint stats rewrite copies the product
    // into each pinned leaf — so an iterative pinned SELF-join doubles
    // the estimate's bit length per round (geometric), which killed
    // m09@100× at BigInteger's 2^31-bit ceiling (r16). 35 rounds of a
    // pinned 1-row cross self-join reach ~2^35 bits WITHOUT the guard
    // (the pre-fix pin threw ArithmeticException "BigInteger would
    // overflow supported range" around round 28); with it, every leaf
    // estimate stays under 2^20 bits and the data survives untouched.
    import spark.implicits._
    var df = Seq((1L, "x")).toDF("id", "v")
    for (_ <- 1 to 35) {
      val b = df.select(col("id").as("id2"), col("v").as("v2"))
      df = DedupOps.pin(df.crossJoin(b)
        .select(col("id"), col("v")), reliable = false)
      assert(df.queryExecution.analyzed.stats.sizeInBytes.bitLength
        <= (1 << 20), "leaf estimate escaped the guard")
    }
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "x")))
  }

  test("unpin releases pinned storage on both pin paths (r16 ADVICE)") {
    import spark.implicits._
    def persisted = spark.sparkContext.getPersistentRDDs.size
    // direct path: the LogicalRDD wraps the persisted checkpoint RDD
    val before = persisted
    val direct = DedupOps.pin(Seq((1L, "x")).toDF("id", "v"),
      reliable = false)
    assert(persisted === before + 1)
    DedupOps.unpin(direct)
    assert(persisted === before,
      "unpin missed the direct-path checkpoint RDD")
    // guard path: pin rebuilds the frame as createDataFrame(pinned.rdd,
    // schema) — a DERIVED non-persisted row RDD over the checkpointed
    // one. unpin must walk the dependency chain to the persisted
    // ancestor; unpersisting the root alone was a silent no-op.
    val pinned = Seq((2L, "y")).toDF("id", "v").localCheckpoint()
    val rebuilt = spark.createDataFrame(pinned.rdd, pinned.schema)
    assert(persisted === before + 1)
    DedupOps.unpin(rebuilt)
    assert(persisted === before,
      "unpin missed the persisted ancestor behind the guard-path rebuild")
  }

  test("property: connected components == driver union-find on random graphs") {
    val rnd = new scala.util.Random(0xC0FFEE)
    for (_ <- 1 to 6) {
      val n = 2 + rnd.nextInt(50)
      val edges = Seq.fill(rnd.nextInt(2 * n))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // reference: plain union-find with path compression
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val nodes = (0L until n.toLong).toDF("id")
      val edgeDf = if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("src", "dst")
        else edges.toDF("src", "dst")
      val got = DedupOps.connectedComponents(nodes, edgeDf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"n=$n edges=$edges")
    }
  }

  test("simhash: identical texts share signature; near-dups are close") {
    val sigs = docs.select(col("doc_id"),
      TextFns.simhash64(TextFns.tokens(col("text"))).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) === sigs(1L))
    val near = java.lang.Long.bitCount(sigs(0L) ^ sigs(2L))
    val far = java.lang.Long.bitCount(sigs(0L) ^ sigs(4L))
    assert(near < far, s"near=$near far=$far")
    val pairs = DedupOps.simhashPairs(docs, "doc_id", "text", maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("minhash signature agreement estimates Jaccard within tolerance") {
    // controlled overlap: doc pairs sharing a known fraction of shingles
    val vocab = (0 until 300).map(i => s"w$i")
    def text(idxs: Seq[Int]) = idxs.map(vocab).mkString(" ")
    val pairs = Seq(0.9, 0.5, 0.2).zipWithIndex.map { case (overlap, i) =>
      val shared = (0 until (100 * overlap).toInt)
      val a = shared ++ (100 until 100 + (100 - shared.size))
      val b = shared ++ (150 until 150 + (100 - shared.size))
      (i.toLong * 2, text(a), i.toLong * 2 + 1, text(b))
    }
    val docs = pairs.flatMap { case (ia, ta, ib, tb) =>
      Seq((ia, ta), (ib, tb)) }.toDF("doc_id", "text")
    val k = 128
    val sigs = docs.select(col("doc_id"),
      TextFns.minhashSignature(TextFns.wordShingles(col("text"), 1), k).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val sh = docs.select(col("doc_id"),
      TextFns.wordShingles(col("text"), 1).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    pairs.foreach { case (ia, _, ib, _) =>
      val trueJ = sh(ia).intersect(sh(ib)).size.toDouble / sh(ia).union(sh(ib)).size
      val est = sigs(ia).zip(sigs(ib)).count { case (x, y) => x == y }.toDouble / k
      assert(math.abs(est - trueJ) < 0.15,
        s"pair ($ia,$ib): est=$est true=$trueJ")
    }
  }

  test("minhash estimates: exact dup pair at est=1.0, est tracks exact jaccard") {
    val rows = DedupOps.minhashEstimates(docs, "doc_id", "text", k = 32, bands = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    val (estDup, exactDup) = rows((0L, 1L))
    assert(estDup === 1.0, "identical docs must agree on every component")
    assert(exactDup === 1.0)
    rows.foreach { case (pair, (est, exact)) =>
      assert(est >= 0.0 && est <= 1.0, s"$pair est out of range")
      assert(math.abs(est - exact) < 0.5,
        s"$pair estimator wildly off: est=$est exact=$exact")
    }
  }

  test("unigram cross-entropy: hand-computed micro-nats on a tiny corpus") {
    // corpus "a a b" / "b c": total=5; counts a=2, b=2, c=1
    val tiny = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = RelevanceOps.unigramCrossEntropy(tiny, "doc_id", "text",
        headBelow = 0.95, tailFrom = 1.2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4))).toMap
    def micro(tf: Int, cnt: Int) =
      math.round(tf * math.log(5.0 / cnt) * 1e6)
    val nll1 = micro(2, 2) + micro(1, 2) // a×2, b×1
    val nll2 = micro(1, 2) + micro(1, 1) // b×1, c×1
    assert(got(1L)._1 === 3L)
    assert(got(1L)._2 === nll1)
    assert(got(1L)._3 ===
      BigDecimal(nll1 / 1e6 / 3).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    assert(got(1L)._4 === "head")   // 3·ln(2.5)/3 ≈ 0.9163 < 0.95
    assert(got(2L)._1 === 2L)
    assert(got(2L)._2 === nll2)
    assert(got(2L)._4 === "tail")   // (ln 2.5 + ln 5)/2 ≈ 1.263 ≥ 1.2
  }

  test("simhash fast expression is bit-identical to the composed form") {
    val both = docs.select(
      TextFns.simhash64(TextFns.tokens(col("text"))).as("slow"),
      TextFns.simhash64Fast(TextFns.tokens(col("text"))).as("fast"))
      .collect()
    both.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // SQL registration + null/empty handling
    graft.functions.CrawlCols.register(spark)
    val r = spark.sql(
      "SELECT simhash64(array('a','b')) AS s, simhash64(array()) AS e").collect().head
    assert(!r.isNullAt(0) && r.isNullAt(1))
    // null elements: both paths vote the null token as xxhash64(NULL)=42,
    // neither NPEs nor degrades to null (user-callable via SQL)
    import spark.implicits._
    val nulls = Seq(Tuple1(Seq[String]("a", null, "b"))).toDF("toks").select(
      TextFns.simhash64(col("toks")).as("slow"),
      TextFns.simhash64Fast(col("toks")).as("fast")).collect().head
    assert(!nulls.isNullAt(0) && nulls.getLong(0) === nulls.getLong(1))
  }

  test("native lang_id matches the composed regexp_count form") {
    import spark.implicits._
    val pool = graft.functions.LangIdImpl.langMarkers.flatMap(_._2) ++
      Seq("xyzzy", "qqq", "não", "l'est", "d'os", "foo_os", "os,", "(um)",
        "the-le", "42os", "éos", "")
    val rnd = new scala.util.Random(13)
    val texts = Seq.fill(200)(
      Seq.fill(1 + rnd.nextInt(20))(pool(rnd.nextInt(pool.length)))
        .mkString(" ")) ++
      Seq("", "   ", "l'est une belle journée", "não os vi com um só olho",
        "the quick brown fox", "de het een van niet")
    val both = texts.toDF("text").select(
      TextFns.langId(col("text")).as("fast"),
      TextFns.langIdComposed(col("text")).as("slow"), col("text")).collect()
    both.foreach(r => assert(r.getString(0) === r.getString(1),
      s"text=<${r.getString(2)}>"))
    // null text → "und" on BOTH paths (composed's when/otherwise falls
    // through on null; the native expression is declared never-null)
    val nullText = Seq(Tuple1(null: String)).toDF("text").select(
      TextFns.langId(col("text")).as("fast"),
      TextFns.langIdComposed(col("text")).as("slow")).collect().head
    assert(nullText.getString(0) === "und" && nullText.getString(1) === "und")
  }

  test("native minhash_sig is bit-identical to the composed form") {
    import spark.implicits._
    val both = docs.select(
      TextFns.minhashSignature(TextFns.wordShingles(col("text"), 3), 16).as("slow"),
      TextFns.minhashSignatureFast(TextFns.wordShingles(col("text"), 3), 16).as("fast"))
      .collect()
    both.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1))
      if (!r.isNullAt(0))
        assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
    // empty + null-element inputs
    val edge = Seq(Tuple1(Seq.empty[String]), Tuple1(Seq[String]("a b c", null)))
      .toDF("sh").select(
        TextFns.minhashSignature(col("sh"), 8).as("slow"),
        TextFns.minhashSignatureFast(col("sh"), 8).as("fast")).collect()
    assert(edge(0).isNullAt(0) && edge(0).isNullAt(1))
    assert(edge(1).getSeq[Long](0) === edge(1).getSeq[Long](1))
    // SQL registration with a literal k
    graft.functions.CrawlCols.register(spark)
    val viaSql = spark.sql(
      "SELECT minhash_sig(array('x y z'), 4) AS s").collect().head.getSeq[Long](0)
    assert(viaSql.length === 4)
  }

  test("native dot_f64 is bit-identical to the composed zip_with/aggregate form") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(50)((Seq.fill(64)(rnd.nextGaussian()), Seq.fill(64)(rnd.nextGaussian()))) ++
      Seq((Seq.empty[Double], Seq.empty[Double])) // empty → 0.0 both paths
    val both = rows.toDF("a", "b").select(
      SimilarityOps.dot(col("a"), col("b")).as("fast"),
      SimilarityOps.dotComposed(col("a"), col("b")).as("slow")).collect()
    both.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1))
      if (!r.isNullAt(0)) // bit-identical, not approximately equal
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ===
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
    // length mismatch and null elements → null, matching the poisoned fold
    graft.functions.CrawlCols.register(spark)
    val edge = spark.sql(
      "SELECT dot_f64(array(1.0d, 2.0d), array(1.0d)) AS mismatch, " +
        "dot_f64(array(1.0d, CAST(NULL AS DOUBLE)), array(1.0d, 2.0d)) AS withnull")
      .collect().head
    assert(edge.isNullAt(0) && edge.isNullAt(1))
  }

  test("jaccard: exact on known sets") {
    val j = Seq(("a b c d", "c d e f")).toDF("x", "y")
      .select(TextFns.jaccard(
        array_distinct(TextFns.tokens(col("x"))),
        array_distinct(TextFns.tokens(col("y")))).as("j"))
      .collect().head.getDouble(0)
    assert(math.abs(j - 2.0 / 6.0) < 1e-12)
  }

  test("lang id: real-language fixtures classify correctly") {
    val got = Seq(
      ("the cat and the dog went to the park", "en"),
      ("le chat et la souris est une histoire", "fr"),
      ("der hund und die katze ist nicht da", "de"),
      ("el perro y los gatos es una historia para todos", "es"),
      ("il cane che non sono per gli altri di qui", "it"),
      ("het huis van een man die niet voor zijn werk komt", "nl"),
      ("zzz qqq xxx", "und"))
      .toDF("text", "want")
      .select(TextFns.langId(col("text")).as("got"), col("want"))
      .collect()
    got.foreach(r => assert(r.getString(0) === r.getString(1),
      s"want ${r.getString(1)}"))
  }

  test("brute-force knn: self excluded, nearest is the duplicate vector") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.001f, 0.0f)),   // near-dup of 0
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = SimilarityOps.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), 2)
      .orderBy("rank").collect()
    assert(top.map(_.getAs[Long]("corpus_id")).toSeq === Seq(1L, 2L))
    assert(top.head.getAs[Double]("sim") > 0.999)
  }

  test("ivf: assignment picks nearest centroid; probe finds same top-1 as brute force") {
    val rnd = new scala.util.Random(3)
    val vecs = (0L until 100L).map { i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val centroids = vecs.filter(col("vec_id") < 4)
    val assigned = SimilarityOps.ivfAssign(vecs, centroids)
    assert(assigned.count() === 100)
    assert(assigned.groupBy("vec_id").count().filter(col("count") > 1).count() === 0)
    // a centroid must be assigned to itself
    val self = assigned.filter(col("vec_id") === col("centroid_id")).count()
    assert(self === 4)
  }

  test("ivf multi-probe: recall >= single-probe, == brute force at full probes") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 80L).map { i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val centroids = vecs.filter(col("vec_id") < 4)
    val queries = vecs.filter(col("vec_id") < 6)
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = hits(SimilarityOps.bruteForceTopK(vecs, queries, 3))
    val p1 = hits(SimilarityOps.probeTopK(vecs, centroids, queries, 3))
    val p2 = hits(SimilarityOps.multiProbeTopK(vecs, centroids, queries, 3, 2))
    val p4 = hits(SimilarityOps.multiProbeTopK(vecs, centroids, queries, 3, 4))
    def recall(s: Set[(Long, Long)]) = (s & brute).size.toDouble / brute.size
    assert(recall(p2) >= recall(p1), "more probes must not lose recall")
    // all 4 cells probed == scanning everything == brute force exactly
    assert(p4 === brute)
  }

  test("hyperplane LSH: planted near-dup vector pair found; recall vs brute force sane") {
    val rnd = new scala.util.Random(5)
    val base = Array.fill(16)(rnd.nextGaussian().toFloat)
    val near = base.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    val vecs = ((0L until 60L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat))) :+
      (100L, base) :+ (101L, near)).toDF("vec_id", "embedding")
    val pairs = SimilarityOps.lshNearDupPairs(vecs, 0.9, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 101L)), s"planted pair missing from $pairs")
    // unrelated random 16-dim vectors at cos >= 0.9 are essentially impossible
    assert(pairs.size <= 3)
  }

  test("semantic dedup: planted near-identical pair drops the later id only") {
    val rnd = new scala.util.Random(5)
    val base = Array.fill(16)(rnd.nextGaussian().toFloat)
    val near = base.map(x => x + 0.005f * rnd.nextGaussian().toFloat)
    val vecs = ((0L until 20L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat))) :+
      (100L, base) :+ (101L, near)).toDF("vec_id", "embedding")
    val fates = SimilarityOps.semanticDedup(vecs,
        vecs.filter(col("vec_id") < 4), 0.95)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toMap
    assert(fates.size === 22, "every row reports a fate")
    assert(fates(100L)._1, "earlier member of the planted pair survives")
    assert(!fates(101L)._1, "later member is dropped")
    assert(fates(101L)._2.exists(_ >= 0.95), s"max_sim ${fates(101L)._2}")
    // unrelated random 16-dim vectors at cos >= 0.95 are essentially
    // impossible — nothing else may be dropped, and every kept row
    // reports no qualifying earlier neighbor
    assert(fates.count(f => !f._2._1) === 1)
    assert(fates.filter(_._2._1).forall(_._2._2.isEmpty))
  }

  test("multimodal: real container decode, ids, byte length, frame sampling") {
    import graft.functions.MediaCodecs
    val media = Seq(
      Multimodal.MediaRow(1L, "image", MediaCodecs.buildBmp(20, 10, 1L)),
      Multimodal.MediaRow(2L, "video", MediaCodecs.buildY4m(16, 12, 23, 2L)),
      Multimodal.MediaRow(3L, "audio", Array.emptyByteArray), // poison row
      Multimodal.MediaRow(4L, "audio", MediaCodecs.buildWav(8000, 120, 4L))
    ).toDS()
    val meta = Multimodal.extractMeta(media).collect().map(m => m.media_id -> m).toMap
    assert(meta(1L).ok && meta(1L).width === 20 && meta(1L).height === 10 &&
      meta(1L).n_bytes === (54 + 60 * 10).toLong)
    assert(meta(2L).ok && meta(2L).n_frames === 23 && meta(2L).sample_rate === 25)
    assert(!meta(3L).ok)
    assert(meta(4L).ok && meta(4L).n_frames === 120 && meta(4L).sample_rate === 8000)
    val frames = Multimodal.sampleFrames(
      Multimodal.extractMeta(media).toDF(), stride = 5)
    assert(frames.filter(col("media_id") === 2L).count() ===
      (meta(2L).n_frames + 4) / 5)
    // resize plan: longest edge lands exactly on target, aspect preserved,
    // padding centers the short edge (image/video rows only — audio and
    // poison rows decode with zero dims, exactly as m03 filters them)
    val rp = Multimodal.resizePlan(Multimodal.extractMeta(media).toDF()
        .filter(col("width") > 0), 224)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rp.keySet === Set(1L, 2L))
    rp.values.foreach { r =>
      val (w, h, ow, oh, px, py) = (r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getInt(6))
      assert(math.max(ow, oh) === 224)
      assert(ow <= 224 && oh <= 224 && px >= 0 && py >= 0)
      assert(px === (224 - ow) / 2 && py === (224 - oh) / 2)
      assert(math.abs(ow.toDouble / oh - w.toDouble / h) < 0.02)
    }
  }

  test("c4 line filters: first-match attribution order, in-aggregate " +
    "filtered rebuild, blank lines invisible") {
    val fix = Seq(
      // "{ x }" is short AND braced AND unpunctuated → attributes 'short'
      // the js line is 5 words AND js AND no punct → 'javascript'
      (0L, "{ x }\nEnable JavaScript to continue here\nA good long sentence stays here.\n\n   \nshort one."),
      (1L, "")
    ).toDF("doc_id", "text")
    val out = PipelineQueries.c4LineStats(fix, "doc_id", "text")
      .orderBy("doc_id").collect()
    val r0 = out(0)
    assert(r0.getAs[Long]("n_lines") === 4) // blank + ws-only lines invisible
    assert(r0.getAs[Long]("n_kept") === 1)
    assert(r0.getAs[Long]("n_short") === 2) // "{ x }" and "short one."
    assert(r0.getAs[Long]("n_brace") === 0) // lost to first-match 'short'
    assert(r0.getAs[Long]("n_javascript") === 1)
    assert(r0.getAs[Long]("n_no_punct") === 0) // js line attributed upstream
    assert(r0.getAs[String]("clean_text") === "A good long sentence stays here.")
    val r1 = out(1)
    assert(r1.getAs[Long]("n_lines") === 0 && r1.getAs[String]("clean_text") === "")
  }

  test("motion profile: closed-form SAD on built frames, stride honored, " +
    "non-video and single-frame rows contribute nothing") {
    import graft.functions.MediaCodecs
    val media = Seq(
      Multimodal.MediaRow(2L, "video", MediaCodecs.buildY4m(8, 6, 3, 2L)),
      Multimodal.MediaRow(5L, "video", MediaCodecs.buildY4m(8, 6, 1, 5L)), // 1 frame
      Multimodal.MediaRow(7L, "audio", MediaCodecs.buildWav(8000, 10, 7L))
    ).toDS()
    val out = Multimodal.motionProfile(media, stride = 7).collect()
      .map(m => (m.media_id, m.frame_idx) -> m).toMap
    assert(out.keySet === Set((2L, 1), (2L, 2))) // only the 3-frame video pairs
    // exact per-pixel closed form: |((s+131f+i) - (s+131(f-1)+i)) mod-256 diff|
    for (f <- 1 to 2) {
      val idx = 0 until (8 * 6) by 7
      val diffs = idx.map { i =>
        val a = ((2L + 131L * (f - 1) + i) % 256).toInt
        val b = ((2L + 131L * f + i) % 256).toInt
        math.abs(b - a).toLong
      }
      val m = out((2L, f))
      assert(m.n_pixels === idx.length.toLong)
      assert(m.sad_milli === 1000L * diffs.sum / idx.length)
    }
    // stride 1 touches every pixel
    val full = Multimodal.motionProfile(media, stride = 1).collect()
      .filter(_.media_id == 2L)
    assert(full.forall(_.n_pixels === (8 * 6).toLong))
  }

  test("salted aggregation equals unsalted on skewed data") {
    val rnd = new scala.util.Random(11)
    val skewed = (0 until 5000).map { i =>
      (if (i % 10 < 9) "hot" else s"cold${rnd.nextInt(50)}", rnd.nextInt(1000).toDouble)
    }.toDF("k", "v")
    val salted = Skew.saltedCountSum(skewed, col("k"), col("v"), 16)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val plain = skewed.groupBy("k").agg(count(lit(1)), sum(col("v")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(salted.keySet === plain.keySet)
    plain.foreach { case (k, (n, s)) =>
      assert(salted(k)._1 === n, s"count for $k")
      assert(math.abs(salted(k)._2 - s) < 1e-6, s"sum for $k")
    }
    val dc = Skew.saltedDistinctCount(skewed, col("k"), col("v"), 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dcPlain = skewed.groupBy("k").agg(countDistinct(col("v")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dc === dcPlain)
  }

  test("word_shingles and repetition_stats are SQL-callable") {
    graft.functions.CrawlCols.register(spark)
    val sh = spark.sql(
      "SELECT word_shingles(array('a','b','c','a','b','c'), 3) AS s")
      .collect().head.getSeq[String](0)
    assert(sh === Seq("a b c", "b c a", "c a b")) // distinct, first-occurrence
    val r = spark.sql(
      "SELECT r.s.* FROM (SELECT repetition_stats(array('a','a','b')) AS s) r")
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((3L, 2L, 2L, 2L))) // 3 tokens, 2 distinct, top 'a'x2, 2-grams {a a, a b}
  }

  test("repetition signals: hand-computed fractions on a planted doc") {
    // "a a a b c": 5 tokens, 3 distinct -> dup_token 0.4; top run "a a a"
    // -> 3/5 = 0.6; 2-grams [a a, a a, a b, b c] -> 3 distinct of 4 -> 0.25
    val r = Seq(Tuple1("a a a b c")).toDF("text")
      .select(TextFns.repetitionSignals(col("text")).as("r"))
      .select("r.dup_token_frac", "r.top_token_frac", "r.dup_2gram_frac")
      .collect().head
    assert(r.getDouble(0) === 0.4)
    assert(r.getDouble(1) === 0.6)
    assert(r.getDouble(2) === 0.25)
    // no repetition: all-distinct tokens score 0 / 1-per-token / 0
    val clean = Seq(Tuple1("w x y z")).toDF("text")
      .select(TextFns.repetitionSignals(col("text")).as("r"))
      .select("r.dup_token_frac", "r.top_token_frac", "r.dup_2gram_frac")
      .collect().head
    assert(clean.getDouble(0) === 0.0)
    assert(clean.getDouble(1) === 0.25)
    assert(clean.getDouble(2) === 0.0)
  }

  test("decontamination: planted benchmark overlap counted, clean doc absent") {
    // bench doc = doc 0's text; doc 1 (exact dup) shares ALL its 3-grams,
    // docs 4/5 (unrelated) share none and must not appear.
    val bench = docs.filter(col("doc_id") === 0)
    val corpus = docs.filter(col("doc_id") > 0)
    val out = DedupOps.decontaminationCounts(corpus, bench, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nShingles = docs.filter(col("doc_id") === 1)
      .select(size(TextFns.wordShingles(col("text"), 3))).collect().head.getInt(0)
    assert(out(1L) === nShingles.toLong, "exact dup shares every 3-gram")
    assert(out.contains(2L) && out(2L) < nShingles, "near dup shares some")
    assert(!out.contains(4L) && !out.contains(5L), "unrelated docs are clean")
  }

  test("approx_count_distinct within 5% of exact at rsd=0.02") {
    val df = graft.Tables.events(spark, "/root/testdata/sf0.01")
    val rows = df.agg(
      approx_count_distinct(col("user_id"), 0.02).as("a"),
      countDistinct(col("user_id")).as("e")).collect().head
    val (a, e) = (rows.getLong(0).toDouble, rows.getLong(1).toDouble)
    assert(math.abs(a - e) / e < 0.05, s"approx=$a exact=$e")
  }

  test("rolling fingerprint: whitespace-invariant, order-sensitive") {
    val fp = Seq(
      ("a b c", 1), ("a  b   c", 2), ("c b a", 3))
      .toDF("t", "i")
      .select(col("i"), TextFns.rollingFingerprint(col("t")).as("fp"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(fp(1) === fp(2)) // whitespace normalization
    assert(fp(1) !== fp(3)) // order matters
  }

  test("boilerplate ngrams: shared gram counted at threshold, unique doc flags none") {
    // "x y z" appears in docs 0..2 (df=3); everything else is unique.
    val d = Seq(
      (0L, "x y z a b c"),
      (1L, "p q x y z r"),
      (2L, "x y z"),
      (3L, "u v w t s m")
    ).toDF("doc_id", "text")
    val out = DedupOps.boilerplateNgramCounts(d, "doc_id", "text", 3, 3)
      .orderBy("doc_id").collect()
    // doc 0: grams {x y z, y z a, z a b, a b c} -> 4 grams, 1 boiler
    assert(out(0).getAs[Long]("n_grams") === 4L)
    assert(out(0).getAs[Long]("n_boiler") === 1L)
    // doc 2 is exactly the boilerplate gram
    assert(out(2).getAs[Long]("n_grams") === 1L)
    assert(out(2).getAs[Long]("n_boiler") === 1L)
    assert(out(2).getAs[Double]("boiler_frac") === 1.0)
    // doc 3 shares nothing
    assert(out(3).getAs[Long]("n_boiler") === 0L)
  }

  test("bm25: hand-computed score on a two-doc corpus; more hits rank higher") {
    val d = Seq(
      (0L, "spark spark shuffle"),
      (1L, "kafka topics offsets")
    ).toDF("doc_id", "text")
    val out = RelevanceOps.bm25TopK(d, "doc_id", "text", Seq("spark"), 2)
      .collect()
    // independent recomputation of the same formula:
    // N=2, df=1, avgdl=3, dl=3, tf=2
    val idf = math.log(1.0 + (2.0 - 1.0 + 0.5) / 1.5)
    val expected = idf * (2.0 * 2.2) / (2.0 + 1.2 * (0.25 + (0.75 * 3.0) / 3.0))
    assert(out.head.getAs[Long]("doc_id") === 0L)
    assert(math.abs(out.head.getAs[Double]("score") - expected) < 1e-6)
    // the no-hit doc scores exactly 0
    assert(out(1).getAs[Double]("score") === 0.0)
  }

  test("int8 quantization: exact codes on a known vector, zeros on a constant one") {
    val d = Seq(
      (0L, Array(0.0f, 1.0f, 2.0f)),
      (1L, Array(5.0f, 5.0f, 5.0f))
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.quantizeInt8(d).orderBy("vec_id").collect()
    // scale = 2/255; q = floor(x*127.5 + 0.5) -> 0, 128, 255
    assert(out(0).getAs[String]("q_csv") === "0,128,255")
    assert(out(0).getAs[Long]("q_sum") === 383L)
    // dequant error bounded by scale/2 (+5e-7: the output rounds to 6dp)
    assert(out(0).getAs[Double]("max_abs_err") <= (2.0 / 255.0) / 2 + 5e-7)
    // constant vector: scale 0 -> all-zero codes, zero error
    assert(out(1).getAs[String]("q_csv") === "0,0,0")
    assert(out(1).getAs[Double]("max_abs_err") === 0.0)
    assert(out(1).getAs[Double]("vmin") === 5.0)
  }

  test("vocab coverage: ranks, counts, and cumulative fractions on a tiny corpus") {
    val d = Seq((0L, "a a a b b c"), (1L, "a b d")).toDF("doc_id", "text")
    // counts: a=4, b=3, c=1, d=1 (total 9); ties break by term asc
    val out = RelevanceOps.vocabCoverage(d, "text", 3)
      .orderBy("rank").collect()
    assert(out.map(r => (r.getAs[Int]("rank"), r.getAs[String]("term"),
      r.getAs[Long]("n"))).toSeq ===
      Seq((1, "a", 4L), (2, "b", 3L), (3, "c", 1L)))
    assert(math.abs(out(0).getAs[Double]("cum_frac") - 4.0 / 9) < 1e-6)
    assert(math.abs(out(2).getAs[Double]("cum_frac") - 8.0 / 9) < 1e-6)
  }

  test("quantized knn: planted duplicate still top-1; top-5 overlaps exact search") {
    val rnd = new scala.util.Random(11)
    val base = (0L until 60L).map { i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat))
    }
    // vector 59 := near-exact copy of vector 0
    val vecs = (base.dropRight(1) :+
      (59L, base.head._2.map(_ + 1e-4f))).toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 0)
    val quant = SimilarityOps.quantizedTopK(vecs, q, 5).orderBy("rank").collect()
    assert(quant.head.getAs[Long]("corpus_id") === 59L)
    // recall@5 vs the exact baseline: int8 on 16 dims stays close
    val exact = SimilarityOps.bruteForceTopK(vecs, q, 5)
      .collect().map(_.getAs[Long]("corpus_id")).toSet
    val overlap = quant.map(_.getAs[Long]("corpus_id")).count(exact.contains)
    assert(overlap >= 3, s"recall@5 too low: $overlap/5")
  }

  test("centroid refine: one Lloyd step lands on the per-cluster dim means") {
    val d = Seq(
      (0L, Array(1.0f, 0.0f)),   // centroid A
      (1L, Array(0.0f, 1.0f)),   // centroid B
      (2L, Array(1.0f, 0.2f)),   // near A
      (3L, Array(0.9f, 0.0f)),   // near A
      (4L, Array(0.1f, 1.0f))    // near B
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.centroidRefine(d, d.filter(col("vec_id") < 2))
      .orderBy("centroid_id", "dim").collect()
      .map(r => (r.getAs[Long]("centroid_id"), r.getAs[Int]("dim")) ->
        (r.getAs[Long]("n"), r.getAs[Double]("mean_val"))).toMap
    // cluster A = {0, 2, 3}: dim0 mean (1 + 1 + 0.9)/3, dim1 (0 + 0.2 + 0)/3
    assert(out((0L, 0))._1 === 3L)
    assert(math.abs(out((0L, 0))._2 - 0.9667) < 1e-9)
    assert(math.abs(out((0L, 1))._2 - 0.0667) < 1e-9)
    // cluster B = {1, 4}: dim0 mean 0.05, dim1 mean 1.0
    assert(out((1L, 0))._1 === 2L)
    assert(math.abs(out((1L, 0))._2 - 0.05) < 1e-9)
    assert(math.abs(out((1L, 1))._2 - 1.0) < 1e-9)
  }

  test("kmeans train: a centroid that attracts nothing drops out") {
    // two identical init centroids: cosine ties break to the smaller
    // centroid_id (max_by tie struct), so centroid 1 gets zero vectors and
    // must vanish from the refined table — standard Lloyd drop semantics
    val d = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)), (3L, Array(0.8f, 0.2f))
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.kmeansTrain(d, d.filter(col("vec_id") < 2), 2)
    assert(out.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSet === Set(0L))
    // all four vectors still accounted for in the surviving cluster
    assert(out.filter(col("dim") === 0)
      .select("n").collect().map(_.getLong(0)).sum === 4L)
  }

  test("kmeans train: one round == centroidRefine; rounds converge on blobs") {
    val d = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 0.2f)), (3L, Array(0.9f, 0.0f)),
      (4L, Array(0.1f, 1.0f)), (5L, Array(0.0f, 0.9f))
    ).toDF("vec_id", "embedding")
    val init = d.filter(col("vec_id") < 2)
    def table(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("centroid_id", "dim").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    assert(table(SimilarityOps.kmeansTrain(d, init, iters = 1)) ===
      table(SimilarityOps.centroidRefine(d, init)))
    // well-separated blobs: assignment is stable, so round 2 reproduces
    // round 1's means (the converged fixed point)
    assert(table(SimilarityOps.kmeansTrain(d, init, iters = 2)) ===
      table(SimilarityOps.kmeansTrain(d, init, iters = 1)))
  }

  test("ivf recall harness: a single-cell index is exact, recall@5 == 1") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 5)
    val exact = SimilarityOps.bruteForceTopK(emb, queries, 5)
      .select(col("query_id"), col("corpus_id"))
    // one centroid → every vector lands in the same cell → probe == brute
    val approx = SimilarityOps.probeTopK(emb, emb.filter(col("vec_id") < 1),
        queries, 5)
      .select(col("query_id"), col("corpus_id"))
    val hits = exact.join(approx, Seq("query_id", "corpus_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.size === 5)
    assert(hits.values.forall(_ === 5L), s"single-cell probe not exact: $hits")
  }

  test("source mix: rate-1.0 sources keep everything; kept counts are stable") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("t12_source_mix")(spark, sfDir)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    // sources with idx % 4 == 3 have threshold 4·2^22 = 2^24: every 24-bit
    // draw clears it — the rate-1.0 stratum keeps its whole source
    for ((src, r) <- rows if src.drop(3).toInt % 4 == 3)
      assert(r.getAs[Long]("n_kept") === r.getAs[Long]("n_docs"), src)
    // sampling is deterministic: a second run reproduces counts exactly
    val again = graft.SparkEntry.queries("t12_source_mix")(spark, sfDir)
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("n_kept"))
      .toMap
    for ((src, r) <- rows) assert(again(src) === r.getAs[Long]("n_kept"))
  }

  test("bigram xent: hand-computed smoothed transitions; sub-bigram docs drop") {
    // vocab {a,b,c} → V=3; bigram counts: "a b"×3, "b a"×1;
    // context counts: a→3, b→1
    val tiny = Seq((0L, "a b a b"), (1L, "a b"), (2L, "c"))
      .toDF("doc_id", "text")
    val got = RelevanceOps.bigramCrossEntropy(tiny, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet === Set(0L, 1L), "the bigram-less doc drops")
    def micro(x: Double): Long = math.round(x * 1e6)
    // doc0: 2·ln((3+3)/(3+1)) for "a b", 1·ln((1+3)/(1+1)) for "b a"
    val d0 = (micro(2 * math.log(6.0 / 4)) + micro(math.log(4.0 / 2))) / 1e6 / 3
    assert(got(0L) === ((3L,
      BigDecimal(d0).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    val d1 = micro(math.log(6.0 / 4)) / 1e6 / 1
    assert(got(1L) === ((1L,
      BigDecimal(d1).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // shuffled transitions score strictly worse than corpus-typical ones
    val shuffled = Seq((0L, "the cat sat on the mat"),
      (1L, "the cat sat on the mat"), (2L, "the cat sat on the mat"),
      (3L, "mat the on sat cat the")).toDF("doc_id", "text")
    val sc = RelevanceOps.bigramCrossEntropy(shuffled, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(sc(3L) > sc(0L), s"shuffled ${sc(3L)} !> typical ${sc(0L)}")
  }

  test("interp xent: hand-computed backoff mix; unseen-transition backoff beats flat") {
    // instances: doc0 (a,b)(b,a)(a,b), doc1 (a,b) → c12 (a,b)=3 (b,a)=1;
    // c1 a=3 b=1; c2 b=3 a=1; T=4, V=|{a,b}|=2; λ=3/4
    val tiny = Seq((0L, "a b a b"), (1L, "a b"), (2L, "c"))
      .toDF("doc_id", "text")
    val got = RelevanceOps.interpolatedBigramXent(tiny, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet === Set(0L, 1L), "the bigram-less doc drops")
    def micro(x: Double): Long = math.round(x * 1e6)
    val pAB = 0.75 * (3.0 / 3.0) + 0.25 * ((3.0 + 1.0) / (4.0 + 2.0))
    val pBA = 0.75 * (1.0 / 1.0) + 0.25 * ((1.0 + 1.0) / (4.0 + 2.0))
    val d0 = (micro(2 * -math.log(pAB)) + micro(-math.log(pBA))) / 1e6 / 3
    assert(got(0L) === ((3L,
      BigDecimal(d0).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    val d1 = micro(-math.log(pAB)) / 1e6 / 1
    assert(got(1L) === ((1L,
      BigDecimal(d1).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // shuffled transitions still score strictly worse than typical prose
    val shuffled = Seq((0L, "the cat sat on the mat"),
      (1L, "the cat sat on the mat"), (2L, "the cat sat on the mat"),
      (3L, "mat the on sat cat the")).toDF("doc_id", "text")
    val sc = RelevanceOps.interpolatedBigramXent(shuffled, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(sc(3L) > sc(0L), s"shuffled ${sc(3L)} !> typical ${sc(0L)}")
    // the backoff does its job: docs 1 and 2 have IDENTICAL transition
    // statistics (one once-seen bigram from a once-seen context), so
    // t22's add-one model ties them exactly — but doc1's successor is
    // corpus-frequent and doc2's is rare, which only the interpolated
    // unigram backoff can see
    val corpus = Seq((0L, "w w w w w"), (1L, "p w"), (2L, "q z"))
      .toDF("doc_id", "text")
    val flat = RelevanceOps.bigramCrossEntropy(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(flat(1L) === flat(2L), "t22 must tie these by construction")
    val bc = RelevanceOps.interpolatedBigramXent(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(bc(1L) < bc(2L),
      s"frequent-successor backoff ${bc(1L)} !< rare ${bc(2L)}")
    // λ must be an exact binary rational — enforced, not documented
    intercept[IllegalArgumentException] {
      RelevanceOps.interpolatedBigramXent(tiny, "doc_id", "text", 1, 3)
    }
  }

  test("trigram xent: hand-computed three-order mix; sub-trigram docs drop") {
    // instances: doc0 (a,b,c)(b,c,a)(c,a,b)(a,b,c), doc1 (a,b,c) → T=5,
    // V=3; c123 abc=3 bca=1 cab=1; c12 ab=3 bc=1 ca=1; c23 bc=3 ca=1
    // ab=1; c2 b=3 c=1 a=1; c3 c=3 a=1 b=1; λ = (1/2, 1/4, 1/4)
    val tiny = Seq((0L, "a b c a b c"), (1L, "a b c"), (2L, "a b"))
      .toDF("doc_id", "text")
    val got = RelevanceOps.interpolatedTrigramXent(tiny, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet === Set(0L, 1L), "the trigram-less doc drops")
    def micro(x: Double): Long = math.round(x * 1e6)
    def p(r1: Double, r2: Double, c3: Double): Double =
      0.5 * r1 + 0.25 * r2 + (1.0 - 0.5 - 0.25) * ((c3 + 1.0) / (5.0 + 3.0))
    val pABC = p(3.0 / 3.0, 3.0 / 3.0, 3.0)
    val pBCA = p(1.0 / 1.0, 1.0 / 1.0, 1.0)
    val pCAB = p(1.0 / 1.0, 1.0 / 1.0, 1.0)
    val d0 = (micro(2 * -math.log(pABC)) + micro(-math.log(pBCA)) +
      micro(-math.log(pCAB))) / 1e6 / 4
    assert(got(0L) === ((4L,
      BigDecimal(d0).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    val d1 = micro(-math.log(pABC)) / 1e6 / 1
    assert(got(1L) === ((1L,
      BigDecimal(d1).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // shuffled word order still scores strictly worse than typical prose
    val shuffled = Seq((0L, "the cat sat on the soft mat"),
      (1L, "the cat sat on the soft mat"), (2L, "the cat sat on the soft mat"),
      (3L, "mat the soft on sat cat the")).toDF("doc_id", "text")
    val sc = RelevanceOps.interpolatedTrigramXent(shuffled, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(sc(3L) > sc(0L), s"shuffled ${sc(3L)} !> typical ${sc(0L)}")
    // exact-binary-rational guards
    intercept[IllegalArgumentException] {
      RelevanceOps.interpolatedTrigramXent(tiny, "doc_id", "text",
        l1Num = 1, l1Den = 3)
    }
    intercept[IllegalArgumentException] {
      RelevanceOps.interpolatedTrigramXent(tiny, "doc_id", "text",
        l1Num = 1, l1Den = 2, l2Num = 1, l2Den = 2) // λ1+λ2 = 1
    }
  }

  test("4-gram xent: hand-computed four-order mix; sub-4-token docs drop") {
    // instances: doc0 (a,b,c,d)(b,c,d,a)(c,d,a,b)(d,a,b,c)(a,b,c,d),
    // doc1 (a,b,c,d) → T=6, V=4; c1234 abcd=3 others=1; every backoff
    // ratio for the singleton instances is 1/1; λ = (1/2, 1/4, 1/8, 1/8)
    val tiny = Seq((0L, "a b c d a b c d"), (1L, "a b c d"), (2L, "a b c"))
      .toDF("doc_id", "text")
    val got = RelevanceOps.interpolatedFourgramXent(tiny, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet === Set(0L, 1L), "the 4-gram-less doc drops")
    def micro(x: Double): Long = math.round(x * 1e6)
    val pABCD = 0.5 + 0.25 + 0.125 + 0.125 * ((3.0 + 1.0) / (6.0 + 4.0))
    val pOther = 0.5 + 0.25 + 0.125 + 0.125 * ((1.0 + 1.0) / (6.0 + 4.0))
    val d0 = (micro(2 * -math.log(pABCD)) + 3 * micro(-math.log(pOther))) /
      1e6 / 5
    assert(got(0L) === ((5L,
      BigDecimal(d0).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    val d1 = micro(-math.log(pABCD)) / 1e6 / 1
    assert(got(1L) === ((1L,
      BigDecimal(d1).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // shuffled word order still scores strictly worse than typical prose
    val shuffled = Seq((0L, "the cat sat on the soft mat"),
      (1L, "the cat sat on the soft mat"), (2L, "the cat sat on the soft mat"),
      (3L, "mat the soft on sat cat the")).toDF("doc_id", "text")
    val sc = RelevanceOps.interpolatedFourgramXent(shuffled, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(sc(3L) > sc(0L), s"shuffled ${sc(3L)} !> typical ${sc(0L)}")
    // exact-binary-rational guards
    intercept[IllegalArgumentException] {
      RelevanceOps.interpolatedFourgramXent(tiny, "doc_id", "text",
        l1Num = 1, l1Den = 3)
    }
    intercept[IllegalArgumentException] {
      RelevanceOps.interpolatedFourgramXent(tiny, "doc_id", "text",
        l1Num = 1, l1Den = 2, l2Num = 1, l2Den = 4,
        l3Num = 1, l3Den = 4) // λ1+λ2+λ3 = 1
    }
  }

  test("temperature mix: hot source downsampled by sqrt law, tiny source kept whole") {
    // planted skew: one 640-doc hot source, one 10-doc tiny source.
    // N = 650: hot rate = min(1, sqrt(650/640)/8) ≈ 0.126 → thresh
    // floor(·2^24); tiny rate = min(1, sqrt(65)/8) = 1.0 → thresh 2^24
    val docs = ((0L until 640L).map(i => (i, "alpha beta gamma", "hot")) ++
      (1000L until 1010L).map(i => (i, "delta epsilon", "tiny")))
      .toDF("doc_id", "text", "source")
    // registry entries read from a dir; recompute the same expression
    // chain over the planted frame (sqrt-law + threshold discipline)
    val byName = {
      import org.apache.spark.sql.functions.{col => c}
      val v = docs.withColumn("v",
        conv(substring(md5(c("doc_id").cast("string").cast("binary")), 1, 6),
          16, 10).cast("long"))
      val counts = v.groupBy(c("source")).agg(count(lit(1)).as("n_docs"))
      val rates = counts
        .crossJoin(broadcast(counts.agg(sum(c("n_docs")).as("n_total"))))
        .withColumn("thresh",
          floor(least(lit(1.0),
            sqrt(c("n_total").cast("double") / c("n_docs").cast("double")) / 8)
            * 16777216.0).cast("long"))
      v.join(broadcast(rates.select(c("source"), c("thresh"))), Seq("source"))
        .withColumn("keep", c("v") < c("thresh"))
        .groupBy(c("source"))
        .agg(first(c("thresh")).as("thresh"),
          count(when(c("keep"), 1)).as("n_kept"),
          count(lit(1)).as("n_docs"))
        .collect().map(r => r.getString(0) -> r).toMap
    }
    assert(byName("tiny").getAs[Long]("thresh") === 16777216L,
      "rate-1 source thresh = 2^24")
    assert(byName("tiny").getAs[Long]("n_kept") === 10L, "tiny kept whole")
    val hotThresh = byName("hot").getAs[Long]("thresh")
    assert(hotThresh ===
      math.floor(math.min(1.0, math.sqrt(650.0 / 640.0) / 8) * 16777216.0).toLong,
      "hot thresh follows the sqrt law exactly")
    val hotKept = byName("hot").getAs[Long]("n_kept")
    // binomial(640, ~0.126): expectation ~81; the md5 buckets are fixed,
    // so the count is deterministic — bound it loosely against gross skew
    assert(hotKept > 40 && hotKept < 140, s"hot kept $hotKept")
  }

  test("d26 containment: set bounds hold and Jaccard is recoverable " +
    "from the same intersections") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    val cont = DedupOps.containmentEstimates(docs, "doc_id", "text")
      .collect()
    assert(cont.nonEmpty, "sf0.01 must surface candidate pairs")
    val jac = DedupOps.minhashEstimates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3))
      .toMap
    for (r <- cont) {
      val (na, nb, nc) = (r.getLong(2), r.getLong(3), r.getLong(4))
      val (ca, cb) = (r.getDouble(5), r.getDouble(6))
      assert(nc >= 0 && nc <= math.min(na, nb))
      assert(ca > 0 && ca <= 1.0 && cb > 0 && cb <= 1.0)
      // same intersection feeds both operators: J = c/(n_a + n_b - c)
      val j = jac((r.getLong(0), r.getLong(1)))
      val expectJ = BigDecimal(nc.toDouble / (na + nb - nc))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(j - expectJ) < 1e-9,
        s"pair ${(r.getLong(0), r.getLong(1))}")
      assert(j <= ca + 1e-9 && j <= cb + 1e-9,
        "Jaccard never exceeds either containment")
    }
  }

  test("d25 self-dedup: first occurrence kept in order, idempotent, " +
    "blank-only docs report (0, 0, '')") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a\nb\na\n\n b \nc"),   // "a" and trimmed " b " repeat
      (1L, "   \n\n"),             // blank-only
      (2L, "solo")).toDF("doc_id", "text")
    val got = DedupOps.selfDedupLines(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got === Map(
      0L -> ((5L, 3L, "a\nb\nc")),
      1L -> ((0L, 0L, "")),
      2L -> ((1L, 1L, "solo"))))
    // idempotence: re-running over the cleaned text changes nothing
    val cleaned = docs.select(col("doc_id"))
      .join(DedupOps.selfDedupLines(docs, "doc_id", "text")
        .select(col("doc_id"), col("clean_text").as("text")), Seq("doc_id"))
    val again = DedupOps.selfDedupLines(cleaned, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(again === got.map { case (k, v) => k -> v._3 })
  }

  test("pack bins: offsets bounded by the budget, prefix-exact per shard") {
    val rows = graft.SparkEntry.queries("t13_pack_bins")(
        spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val bySource = rows.groupBy(_.getAs[String]("source"))
    for ((_, docs) <- bySource) {
      val sorted = docs.sortBy(_.getAs[Long]("doc_id"))
      var cum = 0L
      for (r <- sorted) {
        val bin = r.getAs[Long]("bin_id")
        val off = r.getAs[Long]("bin_offset")
        assert(off >= 0 && off < 256)
        // (bin, offset) is exactly the exclusive prefix sum decomposition
        assert(bin * 256 + off === cum, s"doc ${r.getAs[Long]("doc_id")}")
        cum += r.getAs[Long]("n_tokens")
      }
      // shard packing starts at (0, 0)
      assert(sorted.head.getAs[Long]("bin_id") === 0L)
      assert(sorted.head.getAs[Long]("bin_offset") === 0L)
    }
  }
}
