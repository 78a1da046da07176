package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.MediaCodecs

/** Multimodal-column plumbing: image/audio/video payloads are opaque
  * `binary` columns travelling next to typed metadata, with decode /
  * feature-extraction as partition-local transforms.
  *
  * As of round 8 the decode step is REAL: [[decode]] sniffs the container
  * magic and parses genuine BMP / RIFF-WAVE / YUV4MPEG2 bytes with the
  * pure-JVM parsers in [[graft.functions.MediaCodecs]] (no native codec
  * needed for uncompressed containers — the former `fakeDecode` stub is
  * gone). Compressed codecs (JPEG/FLAC/H.264) would slot into the same
  * partition-local shape but need libraries this sandbox doesn't ship.
  *
  * Scale design: the binary column never shuffles. Metadata extraction is a
  * map (`mapPartitions`, one codec init per partition, mirroring a Pandas
  * UDF's per-batch shape); downstream joins/filters operate on the small
  * metadata frame and re-join by id only when payload access is needed.
  */
object Multimodal {

  /** One media row: payload + envelope. */
  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])

  /** Decoded metadata. `rate` is the per-second unit of the container:
    * audio sample rate, video fps numerator, 0 for stills. For audio,
    * `n_frames` counts PCM frames (samples per channel).
    */
  case class MediaMeta(media_id: Long, kind: String, n_bytes: Long,
      width: Int, height: Int, n_frames: Int, sample_rate: Int, ok: Boolean)

  /** Container-sniffing decode: the format comes from the BYTES (magic
    * number), not the envelope's `kind` string — a real ingest pipeline
    * cannot trust upstream labels. Malformed/truncated/unknown payloads
    * yield ok=false with zeroed metadata, never an exception (a poison row
    * must not kill a 100 TB decode stage).
    */
  /** Container sniff by MAGIC alone — THE branch [[decode]] dispatches
    * on, exposed so the decode-health monitor attributes a
    * truncated-but-magic-intact payload to its container instead of
    * "unknown" (one sniff definition, no drift). */
  def sniffKind(b: Array[Byte]): String =
    if (b == null || b.length < 12) "unknown"
    else if (b(0) == 'B' && b(1) == 'M') "image"
    else if (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F') "audio"
    else if (b(0) == 'Y' && b(1) == 'U' && b(2) == 'V') "video"
    else "unknown"

  def decode(row: MediaRow): MediaMeta = decodeSniffed(row)._2

  /** [[decode]] plus the sniffed container label from the SAME single
    * magic probe — for consumers (the decode-health monitor) that need
    * both without re-scanning the magic bytes. */
  def decodeSniffed(row: MediaRow): (String, MediaMeta) = {
    val b = row.payload
    val nb = if (b == null) 0L else b.length.toLong
    def bad = MediaMeta(row.media_id, row.kind, nb, 0, 0, 0, 0, ok = false)
    val sniffed = sniffKind(b)
    val meta = sniffed match {
      case "image" =>
        MediaCodecs.parseBmp(b) match {
          case Some(m) =>
            MediaMeta(row.media_id, row.kind, nb, m.width, m.height, 1, 0,
              ok = true)
          case None => bad
        }
      case "audio" =>
        MediaCodecs.parseWav(b) match {
          case Some(m) =>
            MediaMeta(row.media_id, row.kind, nb, 0, 0, m.nFrames,
              m.sampleRate, ok = true)
          case None => bad
        }
      case "video" =>
        MediaCodecs.parseY4m(b) match {
          case Some(m) =>
            MediaMeta(row.media_id, row.kind, nb, m.width, m.height,
              m.nFrames, m.fpsNum, ok = true)
          case None => bad
        }
      case _ => bad
    }
    (sniffed, meta)
  }

  /** One decoded-signature row per payload — everything the composed
    * at-ingest media chain needs from ONE pass over the bytes: the decode
    * verdict (+ sniffed container) plus whichever dup signature the
    * container supports (aHash words for images, full delta-sign series
    * for audio). `is_image`/`is_audio` gate the band legs; both false
    * with ok=true means "decodes fine, no dup signal" (video, palette
    * BMPs, sub-2-window clips) — those rows pass the decode gate and
    * ingest unbanded. */
  case class MediaSigRow(media_id: Long, kind_detected: String, ok: Boolean,
      is_image: Boolean, ha: Long, hb: Long,
      is_audio: Boolean, n_windows: Int, n_bits: Int, fa: Long, fb: Long)

  /** The composed chain's single decode dispatch: sniff + decode once,
    * then compute the container's dup signature via the SAME per-payload
    * folds the batch operators use ([[aHashOf]], [[audioBitsOf]]) — one
    * bit definition, so chain decisions and batch ledgers cannot drift. */
  def signatureOf(row: MediaRow, windowFrames: Int): MediaSigRow = {
    val (sniffed, meta) = decodeSniffed(row)
    def plain(ok: Boolean) = MediaSigRow(row.media_id, sniffed, ok,
      is_image = false, 0L, 0L, is_audio = false, 0, 0, 0L, 0L)
    if (!meta.ok) plain(ok = false)
    else sniffed match {
      case "image" =>
        aHashOf(row.payload) match {
          case Some((_, _, ha, hb, _)) =>
            MediaSigRow(row.media_id, sniffed, ok = true,
              is_image = true, ha, hb, is_audio = false, 0, 0, 0L, 0L)
          // decodable container the hash doesn't cover (palette BMP):
          // passes the decode gate, carries no dup signal — mirrors
          // batch imageHash, which emits nothing for it
          case None => plain(ok = true)
        }
      case "audio" =>
        audioBitsOf(row.media_id, row.payload, windowFrames) match {
          case Some(b) =>
            MediaSigRow(row.media_id, sniffed, ok = true,
              is_image = false, 0L, 0L,
              is_audio = true, b.n_windows, b.n_bits, b.fa, b.fb)
          case None => plain(ok = true) // zero windows: too short to print
        }
      case _ => plain(ok = true) // video: decode gate only (no m-dup op)
    }
  }

  /** The corpus plus a re-keyed exact copy of every clip — the
    * m09/m11/m12 dup-dense corpus recipe, synthesized in ONE pass (r17
    * optimization): `media.union(media.map(rekey))` executes the payload
    * build twice (the union's two legs are independent subtrees); this
    * flatMap emits both rows from one pass, sharing the payload bytes.
    * Row multiset identical to the union form (order is irrelevant to
    * every consumer — all are aggregates/joins).
    */
  def withRekeyedCopies(media: Dataset[MediaRow],
      offset: Long): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.flatMap(r => Seq(r, r.copy(media_id = r.media_id + offset)))
  }

  /** Partition-local decode: one initialization per partition (the shape a
    * real codec needs), rows streamed through — the Scala analogue of
    * `mapInPandas` batch processing.
    */
  def extractMeta(media: Dataset[MediaRow]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // real compressed codecs would initialize their context here,
      // once per partition; the uncompressed parsers are stateless
      rows.map(decode)
    }
  }

  /** Synthesize a media table from the documents table: REAL container
    * bytes (BMP / WAV / Y4M via MediaCodecs builders) with dimensions,
    * sample counts and frame counts that are deterministic functions of
    * (doc_id, text) — each recomputable in ANSI SQL, so the m01–m03
    * oracles verify the build→decode round trip end-to-end. Codepoint
    * arithmetic (not chars) so astral text derives identically in DuckDB.
    */
  /** `maxDocId` (when set) filters BEFORE the typed map — a `.filter`
    * on the Dataset[MediaRow] side can't push through `.map`, so a
    * caller wanting a small slice (Bench's codec warm-up) would
    * otherwise decode the whole corpus to keep 150 rows (measured as a
    * wedged warm-up on a 100× rehearsal slice). Registry queries pass
    * nothing — full corpus, unchanged behavior. */
  /** `spread = true` (the dup-dense cluster recipes m09/m11/m12, which
    * build+decode the corpus TWICE over) adds a scale-adaptive pre-map
    * repartition of the (doc_id, text) rows: the testdata scan is one
    * single-row-group parquet file, so the payload build would run on
    * ONE task locally; spreading to defaultParallelism happens only
    * when the scan cannot feed that many tasks — a no-op branch at
    * production scale (guide §2, scale-adaptive partitioning), so
    * "text/payload never shuffles at scale" still holds. The default
    * stays false: for the single-pass m-queries the extra exchange
    * costs more than the build (~+0.1 s each, measured r17). */
  def mediaFromDocuments(spark: SparkSession, sfDir: String,
      maxDocId: Option[Long] = None,
      spread: Boolean = false): Dataset[MediaRow] = {
    import spark.implicits._
    val docs0 = graft.Tables.documents(spark, sfDir)
    val narrowed0 = maxDocId.fold(docs0)(m => docs0.filter(col("doc_id") < m))
      .select(col("doc_id"), col("text"))
    val par = spark.sparkContext.defaultParallelism
    val narrowed =
      if (spread && narrowed0.rdd.getNumPartitions < par)
        narrowed0.repartition(par)
      else narrowed0
    narrowed.as[(Long, String)]
      .map { case (id, rawText) =>
        val text = if (rawText == null) "" else rawText
        val nCp = text.codePointCount(0, text.length)
        val h0 = if (nCp >= 1) text.codePointAt(0) else 0
        val h1 = if (nCp >= 2) text.codePointAt(text.offsetByCodePoints(0, 1)) else 0
        (id % 3) match {
          case 0 => MediaRow(id, "image",
            MediaCodecs.buildBmp(4 + h0 % 60, 4 + h1 % 60, id))
          case 1 => MediaRow(id, "audio",
            MediaCodecs.buildWav(8000 + (id % 5).toInt * 2000, 50 + nCp % 200, id))
          case _ => MediaRow(id, "video",
            MediaCodecs.buildY4m(2 * (4 + h0 % 12), 2 * (4 + h1 % 12),
              1 + (id % 30).toInt, id))
        }
      }
  }

  /** One per-window loudness summary row. mean_abs_milli is the integer
    * (1000·Σ|x|) div n — floor division on non-negative longs, the same
    * arithmetic DuckDB's `//` performs, so the oracle is exact. */
  case class AudioWindow(media_id: Long, window_idx: Int, n_samples: Long,
      peak: Int, mean_abs_milli: Long)

  /** m04: per-window audio loudness profile — the silence-detection /
    * level-normalization precursor every speech-data pipeline runs
    * before segmenting: decode the PCM, cut it into `windowFrames`-frame
    * windows, and report each window's sample count, peak |amplitude|,
    * and milli-scaled mean |amplitude|.
    *
    * Scale shape: decode AND windowed reduction happen inside one
    * partition-local pass ([[graft.functions.MediaCodecs.parseWavData]]
    * — samples never become rows, never shuffle, never leave the
    * executor); only the per-window summaries (≤ nFrames/windowFrames
    * rows per file) flow out. Non-audio and malformed payloads
    * contribute nothing (the decode-stage poison-row rule).
    */
  /** Per-payload window summaries — THE one audio windowing definition,
    * shared by [[audioProfile]] and [[silenceTrim]] so the profile and
    * the trim plan built on it cannot drift. */
  private def audioWindowsOf(mediaId: Long, payload: Array[Byte],
      windowFrames: Int): Seq[AudioWindow] =
    MediaCodecs.parseWavData(payload) match {
      case Some((_, samples)) if samples.nonEmpty =>
        // one allocation-free pass (the frameSadsOf discipline): this is
        // THE per-sample loop of every audio operator — a groupBy/sortBy
        // form boxed an Integer per sample on the decode hot path
        val n = samples.length
        val nw = (n + windowFrames - 1) / windowFrames
        val out = new Array[AudioWindow](nw)
        var w = 0
        while (w < nw) {
          val start = w * windowFrames
          val end = math.min(start + windowFrames, n)
          var i = start
          var peak = 0L
          var sum = 0L
          while (i < end) {
            val a = math.abs(samples(i).toLong)
            if (a > peak) peak = a
            sum += a
            i += 1
          }
          val cnt = end - start
          out(w) = AudioWindow(mediaId, w, cnt.toLong, peak.toInt,
            1000L * sum / cnt)
          w += 1
        }
        scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
      case _ => Nil
    }

  def audioProfile(media: Dataset[MediaRow],
      windowFrames: Int): Dataset[AudioWindow] = {
    require(windowFrames > 0, s"windowFrames=$windowFrames")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap(row =>
        audioWindowsOf(row.media_id, row.payload, windowFrames))
    }
  }

  /** One per-clip fingerprint row: up to 32 delta-sign bits packed LSB
    * first (bit i = window i+1 louder than window i). */
  case class AudioFpRow(media_id: Long, n_windows: Int, n_bits: Int,
      fp: Long)

  /** m10: audio fingerprint — the audio analog of m06's aHash and the
    * shape of every production audio-dedup signature (Chromaprint/
    * Shazam-family fingerprints are sign bits of energy DELTAS across
    * time-frequency cells; without an FFT in this sandbox the cells are
    * [[audioWindowsOf]]'s time windows, which is the degenerate
    * one-band case of the same construction): bit i is 1 iff window
    * i+1's mean |amplitude| exceeds window i's, packed LSB-first and
    * CAPPED at 32 bits (a fingerprint is fixed-width by design — a
    * production system fingerprints a sliding clip prefix; the cap is
    * that prefix). Re-encoded or re-keyed copies of the same audio
    * produce identical bits; loudness normalization preserves them
    * (deltas compare, not threshold), which is exactly why delta-sign
    * beats m08's absolute-threshold windows as a dedup signature.
    *
    * Scale shape: decode, windowing, and the delta fold are ONE
    * partition-local pass over the shared [[audioWindowsOf]] (the
    * m07/m08 rule: per-clip reductions live inside the decode stage) —
    * zero exchanges, one ≤ 32-byte row per clip out of the scan.
    */
  def audioFingerprint(media: Dataset[MediaRow],
      windowFrames: Int): Dataset[AudioFpRow] = {
    import media.sparkSession.implicits._
    // the 32-bit print IS the full-series row's first word: ONE delta-fold
    // definition ([[audioFullBits]]), projected — the two signatures
    // cannot drift (the fa ≡ fp invariant by construction, not by test)
    audioFullBits(media, windowFrames).map(b =>
      AudioFpRow(b.media_id, b.n_windows, math.min(b.n_bits, 32), b.fa))
  }

  /** The pre-materialized audio-print index an ingest stream probes (the
    * imageBandIndex pattern for audio): one (n_bits, fp, cid) row per
    * corpus clip. Matching on n_bits as well as the print keeps a short
    * clip's few-bit print from colliding with a long clip's truncated
    * prefix. */
  def audioPrintIndex(media: Dataset[MediaRow],
      windowFrames: Int): DataFrame =
    audioFingerprint(media, windowFrames).toDF()
      .select(col("n_bits"), col("fp"), col("media_id").as("cid"))

  /** One per-clip FULL-series fingerprint row: every delta-sign bit up to
    * the 64-bit cap, packed LSB-first into two 32-bit words (the s20/m06
    * two-word rule — bit 63 of one long needs a shift a checked-arithmetic
    * oracle rejects). `fa` holds bits 0–31 (== [[audioFingerprint]]'s
    * 32-bit print at the same windowing), `fb` bits 32–63. */
  case class AudioBitsRow(media_id: Long, n_windows: Int, n_bits: Int,
      fa: Long, fb: Long)

  /** The full-series extension of [[audioFingerprint]]: ALL delta-sign
    * bits (not just the 32-bit print), capped at 64 — the verify payload
    * of the m11 dedup chain. The cap is the same fixed-width argument as
    * m10's 32 (a production variant widens `fb` to a word array); clips
    * longer than 65 windows compare on their 64-delta prefix, a
    * documented truncation rather than a thrown error (the decode-stage
    * poison-row rule: one monster clip must not kill a 100 TB stage).
    *
    * Scale shape: decode, windowing, and the delta fold are ONE
    * partition-local pass over the shared [[audioWindowsOf]] — zero
    * exchanges, one ≤ 40-byte row per clip out of the scan. */
  def audioFullBits(media: Dataset[MediaRow],
      windowFrames: Int): Dataset[AudioBitsRow] = {
    require(windowFrames > 0, s"windowFrames=$windowFrames")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap(row => audioBitsOf(row.media_id, row.payload, windowFrames))
    }
  }

  /** THE per-payload full-series delta-sign fold — factored out of
    * [[audioFullBits]] so the composed ingest chain's single decode pass
    * ([[signatureOf]]) and the batch fingerprint use one bit definition.
    * None when the payload yields no audio windows. */
  private[graft] def audioBitsOf(mediaId: Long, payload: Array[Byte],
      windowFrames: Int): Option[AudioBitsRow] = {
    val ws = audioWindowsOf(mediaId, payload, windowFrames)
    if (ws.isEmpty) None
    else {
      val bits = (1 until ws.length)
        .map(i => if (ws(i).mean_abs_milli > ws(i - 1).mean_abs_milli)
          1L else 0L)
        .take(64)
      var fa = 0L; var fb = 0L
      bits.zipWithIndex.foreach { case (b, i) =>
        if (i < 32) fa |= b << i else fb |= b << (i - 32)
      }
      Some(AudioBitsRow(mediaId, ws.length, bits.length, fa, fb))
    }
  }

  /** 4-band decomposition of the FULL delta-sign series — the m06
    * pigeonhole carried to audio, over fair-split quarter-bands of the
    * LIVE bits: band b covers bit range
    * [⌊b·n_bits/4⌋, ⌊(b+1)·n_bits/4⌋), so every band is nonempty for
    * n_bits ≥ 4 and two clips within full-series Hamming distance 3
    * agree on at least one band (3 dirty bits cannot cover 4 bands) —
    * the banded join finds EVERY pair at radius ≤ 3 with no
    * probabilistic miss. Fair-split (not fixed 8-bit bands of `fa`)
    * because a short print would leave fixed high bands structurally
    * ZERO: an always-matching band degenerates candidate generation
    * into same-length all-pairs blocking at corpus scale — exactly the
    * blow-up the d09 rule exists to prevent. (A short print's bands
    * still carry only n_bits/4 bits of entropy each — the fingerprint's
    * information limit; `minBits` is the knob that bounds it.)
    * `n_windows` rides in the key so clips of different length never
    * pair (the audioPrintIndex prefix-collision rule), and it also
    * fixes the band boundaries within every join group. Straddle
    * extraction masks `fb` BEFORE shifting so no intermediate exceeds
    * 2^48 (both engines' checked-shift envelopes). */
  private[graft] def audioBitBands(bits: DataFrame): DataFrame = {
    def bandKey(b: Int): String = {
      val lo = s"CAST(($b * n_bits) div 4 AS INT)"
      val hi = s"CAST((${b + 1} * n_bits) div 4 AS INT)"
      val len = s"($hi - $lo)"
      s"""CASE
         |  WHEN $lo >= 32 THEN
         |    shiftright(fb, $lo - 32) & (shiftleft(CAST(1 AS BIGINT), $len) - 1)
         |  WHEN $lo + $len <= 32 THEN
         |    shiftright(fa, $lo) & (shiftleft(CAST(1 AS BIGINT), $len) - 1)
         |  ELSE
         |    (shiftright(fa, $lo)
         |       & (shiftleft(CAST(1 AS BIGINT), 32 - $lo) - 1))
         |    | shiftleft(
         |        fb & (shiftleft(CAST(1 AS BIGINT), $lo + $len - 32) - 1),
         |        32 - $lo)
         |END""".stripMargin
    }
    // col("*"): extra input columns (an event-time ts in the streaming
    // chain) ride through unchanged — consumers select what they need
    bits.select(col("*"),
      posexplode(array((0 to 3).map(b => expr(bandKey(b))): _*))
        .as(Seq("band", "band_key")))
  }

  /** Probe-side rename of [[audioBitBands]] rows — ONE definition shared
    * by the [[audioBandIndex]] builder and [[audioClusters]]' join side,
    * so the batch ledger and the streaming detector probe byte-identical
    * index rows. */
  private[graft] def asAudioIndexRows(bands: DataFrame): DataFrame =
    bands.select(col("n_windows"), col("band"), col("band_key"),
      col("media_id").as("cid"), col("fa").as("cfa"), col("fb").as("cfb"))

  /** The pre-materialized audio near-dup index an ingest stream probes
    * (the imageBandIndex pattern over [[audioFullBits]]): 4 rows per
    * fingerprintable corpus clip with ≥ `minBits` deltas, full verify
    * words riding along. In production this is a parquet artifact
    * appended as clips ingest. */
  def audioBandIndex(media: Dataset[MediaRow], windowFrames: Int,
      minBits: Int = 8): DataFrame = {
    require(minBits >= 4,
      s"minBits=$minBits — fair-split bands need n_bits >= 4 (see audioClusters)")
    asAudioIndexRows(audioBitBands(audioFullBits(media, windowFrames)
      .toDF().filter(col("n_bits") >= minBits)))
  }

  /** m11: audio duplicate CLUSTERS — the audio d06/m09: fingerprint every
    * clip ([[audioFullBits]]), generate candidate pairs through the
    * fair-split banded full series ([[audioBitBands]] — exact at
    * full-series Hamming ≤ 3 by pigeonhole), then VERIFY on the full
    * window-delta series (`fa` AND `fb` — a band is a coarse slice, so
    * two clips that happen to agree on one band but diverge elsewhere
    * are rejected here), and
    * resolve the dup graph with the shared
    * [[graft.operators.DedupOps.connectedComponents]] min-label
    * propagation. One row per fingerprintable clip:
    * (media_id, cluster_id, is_canonical) — the ledger a curation pass
    * keeps one recording per cluster from, completing the audio-dedup
    * story: signature (m10) → at-ingest detector (audioDupDetector) →
    * batch clusters (this).
    *
    * Clips with fewer than `minBits` deltas stay singletons by
    * definition (too little signal to assert duplication — a one-window
    * clip has NO deltas and would otherwise glue every short clip into
    * one spurious cluster); they still appear in the ledger.
    *
    * Scale shape: decode + fingerprint are scan-side (samples never
    * become rows); the ONLY pair generator is the band-keyed self-join
    * (never all-pairs — the d09 rule; each clip contributes 4 ≤ 40-byte
    * band rows), duplicate multi-band hits collapse in the pair
    * `distinct`, and the component loop is the d06 plan-pinned
    * 3-exchange hop over edge endpoints only (singleton clips — the
    * vast majority — skip the loop entirely).
    */
  def audioClusters(media: Dataset[MediaRow], windowFrames: Int,
      maxHamming: Int = 3, minBits: Int = 8): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming=$maxHamming — the 4-band pigeonhole only covers radius 3")
    require(minBits >= 4,
      s"minBits=$minBits — fair-split bands are nonempty only for " +
        "n_bits >= 4; below that an empty band matches everything and " +
        "candidate generation degenerates to same-length all-pairs")
    // Decode ONCE: without the pin, the ≤ 40-byte-per-clip fingerprint
    // table is a live subtree under the representative groupBy, the
    // label-expansion join AND the singleton tail — three full corpus
    // DECODES per action (the r14 m12 adjudication measured the
    // recomputation at ~2× the query's whole runtime). The eager
    // lineage pin materializes the int rows once; every downstream leg
    // reads them. At 100 TB this table is the audioBandIndex artifact
    // written once per release — the pin is the in-one-query
    // equivalent.
    val bits = audioFullBits(media, windowFrames).toDF().localCheckpoint()
    // Scale design (r17; NOTES.md, round 17, "m-family 100× wall closed
    // by DISTINCT-PRINT COLLAPSE"): collapse print-identical
    // clips to one representative per distinct (n_windows, n_bits, fa,
    // fb) print before the band self-join — the visualClusters move
    // (measured there: 99.8%+ of band-bucket pair mass is C(group, 2)
    // of identical prints; audio read raw/distinct ratio 216× at 10×,
    // 16,165× at 100×). EXACT: identical prints are Hamming-0 cliques,
    // and the representative is the group's min media_id, so component
    // min-labels are unchanged. ONLY the ≥ minBits prints collapse —
    // short-print clips stay singletons BY DEFINITION even when their
    // prints coincide (too little signal to assert duplication), so
    // they bypass the collapse and the loop entirely.
    val eligible = bits.filter(col("n_bits") >= minBits)
    val reps = eligible
      .groupBy(col("n_windows"), col("n_bits"), col("fa"), col("fb"))
      .agg(min(col("media_id")).as("media_id"))
      .localCheckpoint()
    val bands = audioBitBands(reps)
    val edges = bands.join(asAudioIndexRows(bands),
        Seq("n_windows", "band", "band_key"))
      .filter(col("media_id") < col("cid"))
      .filter(bit_count(col("fa").bitwiseXOR(col("cfa"))) +
        bit_count(col("fb").bitwiseXOR(col("cfb"))) <= maxHamming)
      .select(col("media_id").as("src"), col("cid").as("dst"))
      .distinct()
    val repLabels = graft.operators.DedupOps.connectedComponents(
        reps.select(col("media_id").as("id")), edges)
      .join(reps.select(col("media_id").as("id"), col("n_windows"),
        col("n_bits"), col("fa"), col("fb")), Seq("id"))
      .select(col("n_windows"), col("n_bits"), col("fa"), col("fb"),
        col("cluster_id"))
    eligible.join(repLabels, Seq("n_windows", "n_bits", "fa", "fb"))
      .select(col("media_id"), col("cluster_id"))
      .unionByName(bits.filter(col("n_bits") < minBits)
        .select(col("media_id"), col("media_id").as("cluster_id")))
      .select(col("media_id"), col("cluster_id"),
        (col("media_id") === col("cluster_id")).as("is_canonical"))
  }

  /** One per-clip trim plan. Option fields are None for an all-silent
    * clip (nothing to keep). */
  case class TrimRow(media_id: Long, n_windows: Int, n_active: Int,
      first_active: Option[Int], last_active: Option[Int],
      start_frame: Option[Long], kept_frames: Option[Long])

  /** m08: leading/trailing silence trim — the VAD-lite pass every
    * speech-data pipeline runs before transcription or segmentation
    * (ffmpeg's silenceremove / pydub's detect_leading_silence, expressed
    * over m04's windows): a window is ACTIVE when its mean |amplitude|
    * reaches `silMilli`; the plan keeps the span from the first active
    * window to the last (interior quiet windows stay — trimming is
    * edge-only by definition), reported as window indices plus the frame
    * offset and kept-frame count a cutter needs. An all-silent clip
    * reports NULLs (drop it entirely — the "dead air" filter).
    *
    * Scale shape: decode and the per-clip reduction are ONE
    * partition-local pass over the shared [[audioWindowsOf]] windows —
    * samples never become rows, and unlike a windows-then-aggregate
    * plan there is no second decode and no shuffle at all: each clip
    * emits exactly one summary row from the scan stage. All outputs are
    * integers (the m04 floor-division milli discipline decides ACTIVE;
    * the plan itself is index arithmetic).
    */
  def silenceTrim(media: Dataset[MediaRow], windowFrames: Int,
      silMilli: Long): Dataset[TrimRow] = {
    require(windowFrames > 0, s"windowFrames=$windowFrames")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { row =>
        val ws = audioWindowsOf(row.media_id, row.payload, windowFrames)
        if (ws.isEmpty) None
        else {
          val active = ws.filter(_.mean_abs_milli >= silMilli)
          if (active.isEmpty)
            Some(TrimRow(row.media_id, ws.length, 0, None, None, None, None))
          else {
            val first = active.head.window_idx
            val last = active.last.window_idx
            val kept = ws
              .filter(w => w.window_idx >= first && w.window_idx <= last)
              .map(_.n_samples).sum
            Some(TrimRow(row.media_id, ws.length, active.length,
              Some(first), Some(last), Some(first.toLong * windowFrames),
              Some(kept)))
          }
        }
      }
    }
  }

  /** One per-image perceptual-hash row: 64 aHash bits packed into two
    * 32-bit words (the s20 two-word rule — bit 63 of a single long needs
    * a shift a checked-arithmetic oracle rejects). */
  case class ImageHashRow(media_id: Long, width: Int, height: Int,
      ha: Long, hb: Long, n_ones: Int)

  /** m06: perceptual image hash (aHash — average hash, the classic
    * visual-dedup signature) over REAL decoded pixels: nearest-neighbor
    * sample an 8×8 grid of the channel-0 plane, threshold each sample
    * STRICTLY above the 64-sample mean (integer cross-multiplied,
    * v·64 > Σ — the t17 no-float-gate discipline), pack bits row-major.
    * Visually-near-duplicate images land within a few Hamming bits; the
    * m-family's dedup step, as d04/d05 are text's.
    *
    * Scale shape: decode ([[graft.functions.MediaCodecs.parseBmpChannel0]])
    * and the grid reduction are ONE partition-local pass — pixels never
    * become rows or shuffle; each image emits one 30-byte summary row
    * (the m04/m05 shape). Non-image and malformed payloads contribute
    * nothing. Grid coordinates are the floor anchors x=(i·w) div 8,
    * y=(j·h) div 8 — all-integer, so the sample set is engine-exact.
    */
  def imageHash(media: Dataset[MediaRow]): Dataset[ImageHashRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { row =>
        aHashOf(row.payload).map { case (w, h, ha, hb, nOnes) =>
          ImageHashRow(row.media_id, w, h, ha, hb, nOnes)
        }
      }
    }
  }

  /** THE per-payload aHash: (width, height, ha, hb, n_ones), None when
    * the payload is not a decodable truecolor BMP. Factored out of
    * [[imageHash]] so the composed ingest chain's single decode pass
    * ([[signatureOf]]) and the batch hash use one bit definition. */
  private[graft] def aHashOf(payload: Array[Byte]): Option[(Int, Int, Long, Long, Int)] =
    MediaCodecs.parseBmpChannel0(payload).map { case (w, h, px) =>
      val vals = new Array[Int](64)
      var s = 0L
      var idx = 0
      while (idx < 64) {
        val x = (idx % 8) * w / 8
        val y = (idx / 8) * h / 8
        val v = px(y * w + x) & 0xFF
        vals(idx) = v; s += v; idx += 1
      }
      var ha = 0L; var hb = 0L
      idx = 0
      while (idx < 64) {
        if (vals(idx) * 64L > s) {
          if (idx < 32) ha |= 1L << idx else hb |= 1L << (idx - 32)
        }
        idx += 1
      }
      (w, h, ha, hb,
        java.lang.Long.bitCount(ha) + java.lang.Long.bitCount(hb))
    }

  /** 16-bit band decomposition of the 64-bit aHash — the d18 banding idea
    * carried to images, with an EXACT guarantee LSH lacks: by pigeonhole,
    * two hashes within Hamming distance 3 agree on at least one of the
    * four bands (3 differing bits can dirty at most 3 bands), so a
    * band-keyed join followed by a full-Hamming verify finds EVERY pair
    * at radius ≤ 3 — no probabilistic miss. Shared by the batch index
    * builder and the streaming detector so banding cannot drift.
    */
  private[graft] def imageHashBands(hashes: DataFrame): DataFrame =
    // col("*"): extra input columns (an event-time ts in the streaming
    // chain) ride through unchanged — consumers select what they need
    hashes.select(col("*"),
      posexplode(array(
        col("ha").bitwiseAND(lit(0xFFFFL)),
        shiftright(col("ha"), 16).bitwiseAND(lit(0xFFFFL)),
        col("hb").bitwiseAND(lit(0xFFFFL)),
        shiftright(col("hb"), 16).bitwiseAND(lit(0xFFFFL))))
        .as(Seq("band", "band_key")))

  /** The pre-materialized visual-dup index an ingest stream probes (the
    * d01-digest-index / d18-band-index pattern for images): one row per
    * (band, band_key) of each corpus image's aHash, hash words riding
    * along for the verify. In production this is a parquet artifact
    * appended as images ingest.
    */
  def imageBandIndex(media: Dataset[MediaRow]): DataFrame =
    imageHashBands(imageHash(media).toDF())
      .select(col("band"), col("band_key"), col("media_id").as("cid"),
        col("ha").as("cha"), col("hb").as("chb"))

  /** m09: visual duplicate CLUSTERS — the m-family's d06/d10: aHash every
    * image ([[imageHash]]), generate candidate pairs through THE shared
    * 16-bit band decomposition ([[imageHashBands]] — exact at Hamming
    * radius ≤ 3 by pigeonhole, the same guarantee the streaming detector
    * rides), verify full Hamming per pair, and resolve the dup graph
    * with the shared [[graft.operators.DedupOps.connectedComponents]]
    * min-label propagation. One row per image: (media_id, cluster_id,
    * is_canonical) — the ledger a curation pass keeps one image per
    * cluster from, completing the visual-dedup story signature (m06) →
    * at-ingest detector (imageDupDetector) → batch clusters (this).
    *
    * Scale shape: decode + hash are scan-side (pixels never become
    * rows); the ONLY pair generator is the band-keyed self-join (never
    * all-pairs — the d09 rule; each image contributes 4 ≤ 30-byte band
    * rows), duplicate multi-band hits collapse in the pair `distinct`,
    * and the component loop is the d06 plan-pinned 3-exchange hop over
    * edge endpoints only (singleton images — the vast majority — skip
    * the loop entirely).
    */
  def visualClusters(media: Dataset[MediaRow],
      maxHamming: Int = 3): DataFrame = {
    // Scale design (r17, measured at 10×/100×; NOTES.md, round 17,
    // "m-family 100× wall closed by DISTINCT-PRINT COLLAPSE"): the band
    // self-join emits C(bucket, 2) pairs per (band, key) bucket, and
    // the measured mass is ~99.8% PRINT-IDENTICAL duplicate groups
    // (raw/distinct pair ratio 626× at 10× — dup-dense corpora pile
    // identical aHashes into every band bucket, and C(group, 2) of a
    // re-ingested image's copies grows quadratically with corpus
    // scale). Identical prints are Hamming-0 cliques BY CONSTRUCTION,
    // so connectivity needs only one representative per distinct print
    // in the band join: collapse to (ha, hb) groups keyed by their min
    // media_id, cluster the representatives, and expand labels back
    // through the print key. EXACT — the min-label of a component over
    // representatives is the min media_id over all member groups, the
    // same cluster_id the uncollapsed join produced (spec-pinned
    // against the m09 oracle; the r16 100× wall read 571 s on the raw
    // join). Genuinely-near prints (0 < Hamming ≤ 3) still pair
    // through their shared bands — the pigeonhole guarantee is
    // untouched because every distinct print keeps all 4 band rows.
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming=$maxHamming — the 4-band pigeonhole only covers radius 3")
    // Decode ONCE (the audioClusters rule): pin the per-image hash rows
    // so the representative groupBy and the label-expansion join read
    // materialized ints instead of re-decoding the corpus.
    val hashes = imageHash(media).toDF().localCheckpoint()
    // one representative per distinct print; pinned — read by the band
    // self-join's two legs and the component seed
    val reps = hashes.groupBy(col("ha"), col("hb"))
      .agg(min(col("media_id")).as("media_id"))
      .localCheckpoint()
    val bands = imageHashBands(reps)
    val rhs = bands.select(col("band"), col("band_key"),
      col("media_id").as("dst"), col("ha").as("dha"), col("hb").as("dhb"))
    val edges = bands.join(rhs, Seq("band", "band_key"))
      .filter(col("media_id") < col("dst"))
      .filter(bit_count(col("ha").bitwiseXOR(col("dha"))) +
        bit_count(col("hb").bitwiseXOR(col("dhb"))) <= maxHamming)
      .select(col("media_id").as("src"), col("dst"))
      .distinct()
    val repLabels = graft.operators.DedupOps.connectedComponents(
        reps.select(col("media_id").as("id")), edges)
      .join(reps.select(col("media_id").as("id"), col("ha"), col("hb")),
        Seq("id"))
      .select(col("ha"), col("hb"), col("cluster_id"))
    hashes.join(repLabels, Seq("ha", "hb"))
      .select(col("media_id"), col("cluster_id"),
        (col("media_id") === col("cluster_id")).as("is_canonical"))
  }

  /** One per-frame-pair temporal-activity row. sad_milli is the integer
    * (1000·Σ|Δluma|) div n — the m04 floor-division discipline. */
  case class MotionRow(media_id: Long, frame_idx: Int, n_pixels: Long,
      sad_milli: Long)

  /** m05: per-frame-pair motion profile over REAL decoded video — the
    * scene-cut / static-clip detector every video-data pipeline runs
    * before sampling frames (a stride-subsampled luma SAD is exactly
    * what ffmpeg's scene-score computes on a downscaled plane): for each
    * consecutive frame pair, the mean absolute luma difference over every
    * `stride`-th pixel, milli-scaled.
    *
    * Scale shape: decode ([[graft.functions.MediaCodecs.parseY4mLuma]])
    * and the pair reduction are ONE partition-local pass — frames never
    * become rows, pixels never shuffle; only the ≤ nFrames−1 summary
    * rows per video flow out (the m04 shape). Subsampling cuts the pixel
    * work `stride`× with the same engine↔oracle integer arithmetic.
    * Non-video and malformed payloads contribute nothing (magic-sniffed,
    * the decode-stage poison-row rule); single-frame videos have no
    * pairs.
    */
  def motionProfile(media: Dataset[MediaRow], stride: Int): Dataset[MotionRow] = {
    import media.sparkSession.implicits._
    frameSadRows(media, stride).flatMap { r =>
      r.sad_milli.map(s => MotionRow(r.media_id, r.frame_idx, r.n_pixels, s))
    }
  }

  /** One per-frame row for shot segmentation: frame 0 anchors every decoded
    * video (sad_milli = None — there is no previous frame), frames ≥ 1
    * carry the m05 motion metric. */
  case class FrameSadRow(media_id: Long, frame_idx: Int, n_pixels: Long,
      sad_milli: Option[Long])

  /** Per-frame SAD rows INCLUDING the frame-0 anchor (n_pixels = 0,
    * sad_milli = None — no previous frame), from ONE decode pass
    * (decoding twice — once for metadata, once for motion — would double
    * the dominant cost of the stage at scale). THE one SAD definition:
    * [[motionProfile]] and [[shotSegments]] both read frames through
    * here, so the metric cannot drift between the profile and the
    * segmentation built on it.
    */
  /** The per-payload form of [[frameSadRows]] — decode one container and
    * return its frame rows; every consumer of the SAD metric reduces to
    * this one function. */
  private def frameSadsOf(mediaId: Long, payload: Array[Byte],
      stride: Int): Seq[FrameSadRow] =
    MediaCodecs.parseY4mLuma(payload) match {
      case Some((_, lumas)) if lumas.nonEmpty =>
        FrameSadRow(mediaId, 0, 0L, None) +:
          (1 until lumas.length).map { f =>
            val prev = lumas(f - 1); val cur = lumas(f)
            var i = 0; var sum = 0L; var n = 0L
            while (i < cur.length) {
              sum += math.abs((cur(i) & 0xFF) - (prev(i) & 0xFF)); n += 1
              i += stride
            }
            FrameSadRow(mediaId, f, n, Some(1000L * sum / n))
          }
      case _ => Nil
    }

  private[graft] def frameSadRows(media: Dataset[MediaRow],
      stride: Int): Dataset[FrameSadRow] = {
    require(stride > 0, s"stride=$stride")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap(row => frameSadsOf(row.media_id, row.payload, stride))
    }
  }

  /** One per-shot summary row. mean_sad_milli is None for a shot that is
    * only the frame-0 anchor of a single-frame video. */
  case class ShotRow(media_id: Long, shot_id: Int, start_frame: Int,
      end_frame: Int, n_frames: Int, mean_sad_milli: Option[Long])

  /** m07: shot segmentation — the scene-cut pass every video-curation
    * pipeline runs before keyframe sampling (sample one frame per SHOT,
    * not per fixed stride, so slideshows don't drown out action clips):
    * a frame whose stride-subsampled luma SAD vs the previous frame
    * (m05's metric, THE shared [[frameSadsOf]] arithmetic) reaches
    * `cutMilli` opens a new shot; frame 0 always opens shot 0. Emits one
    * row per (video, shot): boundary frames, length, and the integer
    * mean SAD of the shot's interior motion rows.
    *
    * Scale shape: decode, SAD, and the segmentation fold are ONE
    * partition-local pass — a video's frames are already local to its
    * payload row, so pushing the cut scan into the decode stage (the m08
    * lesson) removes the per-video window AND its shuffle entirely: the
    * operator plans ZERO exchanges, each video emits only its ≤ n_shots
    * summary rows from the scan stage. Being stateless per row, the
    * SAME operator runs unchanged over a readStream of media rows — the
    * at-ingest scene-cut pass needs no separate streaming twin
    * (spec-pinned in PipelineStreamsSpec).
    */
  def shotSegments(media: Dataset[MediaRow], stride: Int,
      cutMilli: Long): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap(row =>
        shotsOf(row.media_id, row.payload, stride, cutMilli))
    }.toDF()
  }

  /** Per-payload segmentation fold over [[frameSadsOf]] — THE one shot
    * definition behind [[shotSegments]] (batch and streaming alike). */
  private def shotsOf(mediaId: Long, payload: Array[Byte], stride: Int,
      cutMilli: Long): Seq[ShotRow] = {
    val frames = frameSadsOf(mediaId, payload, stride)
    if (frames.isEmpty) Nil
    else {
      val shots = scala.collection.mutable.ArrayBuffer[ShotRow]()
      var shotId = -1
      var start = 0; var end = 0; var n = 0
      var sumSad = 0L; var nSad = 0L
      def flush(): Unit = if (shotId >= 0) {
        shots += ShotRow(mediaId, shotId, start, end, n,
          if (nSad > 0) Some(sumSad / nSad) else None)
      }
      frames.foreach { f =>
        val isCut = f.frame_idx == 0 || f.sad_milli.exists(_ >= cutMilli)
        if (isCut) {
          flush()
          shotId += 1; start = f.frame_idx; n = 0; sumSad = 0L; nSad = 0L
        }
        end = f.frame_idx; n += 1
        f.sad_milli.foreach { s => sumSad += s; nSad += 1 }
      }
      flush()
      shots.toSeq
    }
  }

  /** Frame sampling for video rows: one output row per sampled frame index
    * (every `stride`-th frame) — generator-shaped, so `explode` over a
    * per-row `sequence`, no UDTF needed.
    */
  def sampleFrames(meta: DataFrame, stride: Int): DataFrame =
    // n_frames > 0: sequence(0, -1, stride) THROWS (illegal boundaries),
    // so a zero-frame stream (valid Y4M) or a malformed payload would
    // kill the stage — the poison-row rule. width > 0 excludes a
    // mislabeled AUDIO payload (decode sniffs bytes, so its meta carries
    // PCM frame counts with no dimensions — exploding one row per
    // sample, millions per clip, is not "frame sampling").
    meta.filter(col("kind") === "video" && col("n_frames") > 0 &&
        col("width") > 0)
      .select(col("media_id"),
        explode(sequence(lit(0), col("n_frames") - 1,
          lit(stride))).as("frame_idx"))

  /** Resize plan: fit (width, height) into a `target`×`target` box
    * preserving aspect ratio, plus letterbox padding — the metadata half of
    * an image-resize stage (the pixel op itself belongs in the decoder
    * layer). All-integer arithmetic (scale via `w*target DIV max(w,h)`)
    * so the plan is engine-portable with no float-rounding hazards, and a
    * pure projection — no shuffle, runs inside the scan's codegen stage.
    */
  def resizePlan(meta: DataFrame, target: Int): DataFrame = {
    // undecodable rows carry zeroed dimensions; 0/0 would be NaN and
    // floor(NaN).cast(int) throws under ANSI — exclude them (a resize
    // plan for an image that didn't decode is meaningless anyway)
    val sized = meta.filter(col("width") > 0 && col("height") > 0)
    val longest = greatest(col("width"), col("height"))
    // floor() on exact small doubles == integer DIV on both engines; avoid
    // bare double→int casts (Spark truncates, DuckDB rounds)
    val outW = floor(col("width") * target / longest).cast("int")
    val outH = floor(col("height") * target / longest).cast("int")
    sized.select(col("media_id"), col("width"), col("height"),
      outW.as("out_w"), outH.as("out_h"),
      floor((lit(target) - outW) / 2).cast("int").as("pad_x"),
      floor((lit(target) - outH) / 2).cast("int").as("pad_y"))
  }
}
