package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Multimodal-column operators (charter: treat image/audio/video as
  * opaque `binary` columns with typed metadata; decode / feature-extract
  * / frame-sample as batch-shaped pipelines).
  *
  * The container has no image/audio codecs, so the DECODE STEP IS A
  * DETERMINISTIC STUB (md5-derived fake features, clearly marked below);
  * everything around it — the binary column, the typed metadata struct,
  * the typed-Dataset `mapPartitions` batch shape, the frame-sampling
  * plumbing, partitioning — is real and oracle-tested. Swapping the stub
  * for a JNI/codec call changes one function.
  *
  * The media "table" is synthesized deterministically from `documents`
  * (content = UTF-8 bytes of the text, metadata derived from doc_id), so
  * the DuckDB oracle can construct the identical inputs.
  */
object MultimodalQueries {

  /** Typed rows for the Dataset API leg of the pipeline. */
  final case class MediaIn(media_id: Long, format: String, content: Array[Byte],
                           width: Int, height: Int, n_frames: Int)
  final case class MediaFeatures(media_id: Long, format: String,
                                 size_bytes: Long, f0: Double, f1: Double,
                                 f2: Double, f3: Double)

  /** The synthesized media table: binary content + typed metadata. */
  def mediaTable(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id").as("media_id"),
      element_at(array(lit("png"), lit("jpeg"), lit("wav")),
        (col("doc_id") % 3 + 1).cast("int")).as("format"),
      col("text").cast("binary").as("content"),
      (lit(64) + (col("doc_id") % 8) * 16).cast("int").as("width"),
      (lit(48) + (col("doc_id") % 5) * 16).cast("int").as("height"),
      (lit(1) + col("doc_id") % 30).cast("int").as("n_frames"))

  private val mediaSql: String =
    """SELECT doc_id AS media_id,
      |  (['png','jpeg','wav'])[(doc_id % 3 + 1)] AS format,
      |  text AS content_text,
      |  CAST(64 + (doc_id % 8) * 16 AS INT) AS width,
      |  CAST(48 + (doc_id % 5) * 16 AS INT) AS height,
      |  CAST(1 + doc_id % 30 AS INT) AS n_frames
      |FROM documents""".stripMargin

  // -------------------------------------------------------------------
  // M1: metadata projection over binary content — size, checksum, and
  // typed metadata, grouped per format. The scan reads only the needed
  // columns; binary payloads stay opaque.
  // -------------------------------------------------------------------
  def mediaMetadata(s: SparkSession, d: String): DataFrame =
    mediaTable(s, d)
      .groupBy("format")
      .agg(count(lit(1)).as("n_assets"),
        sum(length(col("content")).cast("long")).as("total_bytes"),
        max(col("width")).as("max_width"),
        max(col("height")).as("max_height"),
        countDistinct(md5(col("content"))).as("n_distinct_contents"))
      .orderBy("format")

  val mediaMetadataSql: String =
    s"""WITH media AS ($mediaSql)
       |SELECT format, count(*) AS n_assets,
       |  CAST(sum(CAST(octet_length(encode(content_text)) AS BIGINT)) AS BIGINT) AS total_bytes,
       |  max(width) AS max_width, max(height) AS max_height,
       |  count(DISTINCT md5(content_text)) AS n_distinct_contents
       |FROM media GROUP BY format ORDER BY format""".stripMargin

  // -------------------------------------------------------------------
  // M2: batch-shaped feature extraction via typed Dataset mapPartitions
  // — the real plumbing an image/audio decoder plugs into: one partition
  // = one decode batch, typed in/out schemas, no driver round-trip.
  //
  // >>> STUB DECODE <<< : features are md5-derived pseudo-activations
  // (hex nibbles normalized to [0,1)); a real build replaces
  // `decodeStub` with the codec call, signature unchanged.
  // -------------------------------------------------------------------
  private[graft] def decodeStub(m: MediaIn): MediaFeatures = {
    val dig = java.security.MessageDigest.getInstance("MD5")
      .digest(m.content).map("%02x".format(_)).mkString
    def feat(i: Int): Double =
      java.lang.Long.parseLong(dig.substring(8 * i, 8 * i + 8), 16)
        .toDouble / 4294967296.0
    MediaFeatures(m.media_id, m.format, m.content.length.toLong,
      feat(0), feat(1), feat(2), feat(3))
  }

  def mediaFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d).as[MediaIn]
      .mapPartitions(_.map(decodeStub))
      .toDF()
      .orderBy("media_id")
  }

  val mediaFeaturesSql: String = {
    def feat(i: Int) =
      s"CAST(('0x' || substr(md5(content_text), ${8 * i + 1}, 8)) AS BIGINT) / 4294967296.0"
    s"""WITH media AS ($mediaSql)
       |SELECT media_id, format,
       |  CAST(octet_length(encode(content_text)) AS BIGINT) AS size_bytes,
       |  ${feat(0)} AS f0, ${feat(1)} AS f1, ${feat(2)} AS f2, ${feat(3)} AS f3
       |FROM media ORDER BY media_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // M3: frame sampling — every 5th frame index per video-like asset,
  // exploded into (asset, frame_no) rows with a synthetic frame
  // timestamp. The explode is the fan-out a frame decoder consumes;
  // at scale it is repartitioned by media_id so one asset's frames
  // stay together.
  // -------------------------------------------------------------------
  def frameSample(s: SparkSession, d: String): DataFrame =
    mediaTable(s, d)
      .filter(col("format") === "wav")
      .select(col("media_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(5))).as("frame_no"))
      .withColumn("frame_ms", col("frame_no") * 40)
      .orderBy("media_id", "frame_no")

  val frameSampleSql: String =
    s"""WITH media AS ($mediaSql)
       |SELECT media_id, n_frames, CAST(frame_no AS INT) AS frame_no,
       |  CAST(frame_no * 40 AS INT) AS frame_ms
       |FROM media, unnest(range(0, CAST(n_frames AS BIGINT), 5)) AS t(frame_no)
       |WHERE format = 'wav'
       |ORDER BY media_id, frame_no""".stripMargin

  // -------------------------------------------------------------------
  // M4: resize — the geometry/metadata half is real (fit-within-target
  // box preserving aspect ratio, integer arithmetic identical in the
  // oracle); the pixel resampling itself is the >>> STUB DECODE <<<
  // (md5-derived checksum standing in for resampled bytes).
  // -------------------------------------------------------------------
  private val TargetBox = 128

  def mediaResize(s: SparkSession, d: String): DataFrame = {
    val w = col("width").cast("long")
    val h = col("height").cast("long")
    // scale = TargetBox / max(w, h), applied in exact integer math:
    // new_dim = dim * TargetBox / max_dim (floor), min 1
    val maxDim = greatest(w, h)
    val newW = greatest(floor(w * TargetBox / maxDim), lit(1)).cast("int")
    val newH = greatest(floor(h * TargetBox / maxDim), lit(1)).cast("int")
    mediaTable(s, d)
      .filter(col("format") =!= "wav")
      .select(col("media_id"), col("format"),
        col("width"), col("height"),
        newW.as("new_width"), newH.as("new_height"),
        md5(concat(md5(col("content")), lit(":"),
          newW.cast("string"), lit("x"), newH.cast("string"))).as("resized_checksum"))
      .orderBy("media_id")
  }

  val mediaResizeSql: String =
    s"""WITH media AS ($mediaSql)
       |SELECT media_id, format, width, height,
       |  CAST(greatest((width * $TargetBox) // greatest(width, height), 1) AS INT) AS new_width,
       |  CAST(greatest((height * $TargetBox) // greatest(width, height), 1) AS INT) AS new_height,
       |  md5(md5(content_text) || ':'
       |    || CAST(CAST(greatest((width * $TargetBox) // greatest(width, height), 1) AS INT) AS VARCHAR)
       |    || 'x'
       |    || CAST(CAST(greatest((height * $TargetBox) // greatest(width, height), 1) AS INT) AS VARCHAR)) AS resized_checksum
       |FROM media WHERE format <> 'wav'
       |ORDER BY media_id""".stripMargin

  // -------------------------------------------------------------------
  // M5: asset dedup — exact duplicate detection over opaque binary
  // content by content hash, the image/audio dedup every multimodal
  // training pipeline runs before decode. Duplicate assets are
  // synthesized by re-ingesting each document's bytes under
  // `media_id % 400` (CDNs and crawls re-serve the same asset under
  // many ids), then: shuffle on the 128-bit hash — never the payload —
  // group, keep the min-id canonical, report copy counts. At 100 TB the
  // payload column is pruned away before the exchange; only (id, hash)
  // rows move.
  // -------------------------------------------------------------------
  def mediaDedup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val assets = docs.select(col("doc_id").as("media_id"),
        (col("doc_id") % 400).as("src"))
      .join(docs.select(col("doc_id").as("src_id"),
        col("text").cast("binary").as("content")), col("src") === col("src_id"))
    assets
      .select(col("media_id"), md5(col("content")).as("content_md5"))
      .groupBy("content_md5")
      .agg(count(lit(1)).as("n_copies"), min(col("media_id")).as("canonical_id"))
      .filter(col("n_copies") > 1)
      .select(col("canonical_id"), col("n_copies"), col("content_md5"))
      .orderBy("canonical_id")
  }

  val mediaDedupSql: String =
    """SELECT canonical_id, n_copies, content_md5 FROM (
      |  SELECT md5(d2.text) AS content_md5, count(*) AS n_copies,
      |    min(d1.doc_id) AS canonical_id
      |  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id % 400
      |  GROUP BY md5(d2.text))
      |WHERE n_copies > 1 ORDER BY canonical_id""".stripMargin

  // -------------------------------------------------------------------
  // M6: frame-level dedup across assets — the multimodal analog of
  // passage dedup: hash every SAMPLED frame (the M3 sampling grid over
  // the M5 re-ingested asset set), find frames shared by >1 asset, and
  // report each asset's shared-frame ratio — the "mostly stock footage /
  // re-cut of another video" curation signal. Frame hashes are derived
  // from the content checksum + frame index (>>> STUB DECODE <<< — a
  // real build hashes decoded frame pixels; the hash-shuffle plumbing is
  // identical). The exploded frame relation fans out to the shared-set
  // aggregate and the per-asset rollup, so it is staged once; only
  // (media_id, frame-hash) rows ever shuffle, never content.
  // -------------------------------------------------------------------
  def frameDedup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val assets = docs.select(col("doc_id").as("media_id"),
        (col("doc_id") % 400).as("src"))
      .join(docs.select(col("doc_id").as("src_id"),
        col("text").cast("binary").as("content")), col("src") === col("src_id"))
      .select(col("media_id"), md5(col("content")).as("cmd5"),
        (lit(1) + col("src_id") % 30).cast("int").as("n_frames"))
    val frames = assets
      .select(col("media_id"), col("cmd5"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(5))).as("frame_no"))
      .select(col("media_id"),
        md5(concat(col("cmd5"), lit(":"), col("frame_no").cast("string")))
          .as("fh"))
    graft.Stage.fanout(frames) { f =>
      val shared = f.groupBy("fh")
        .agg(countDistinct(col("media_id")).as("nd"))
        .filter(col("nd") > 1)
        .select(col("fh").as("fh_s"))
      f.join(shared, col("fh") === col("fh_s"), "left")
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_sampled"), count(col("fh_s")).as("n_shared"))
    }.select(col("media_id"), col("n_sampled"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_sampled")).as("share_ratio"))
      .orderBy("media_id")
  }

  val frameDedupSql: String =
    """WITH assets AS (
      |  SELECT d1.doc_id AS media_id, md5(d2.text) AS cmd5,
      |    CAST(1 + d2.doc_id % 30 AS INT) AS n_frames
      |  FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id % 400),
      |f AS (
      |  SELECT media_id, md5(cmd5 || ':' || CAST(frame_no AS VARCHAR)) AS fh
      |  FROM assets,
      |    unnest(range(0, CAST(n_frames AS BIGINT), 5)) AS t(frame_no)),
      |shared AS (
      |  SELECT fh AS fh_s FROM f GROUP BY fh
      |  HAVING count(DISTINCT media_id) > 1)
      |SELECT media_id, n_sampled, n_shared,
      |  CAST(n_shared AS DOUBLE) / n_sampled AS share_ratio
      |FROM (
      |  SELECT media_id, count(*) AS n_sampled, count(fh_s) AS n_shared
      |  FROM f LEFT JOIN shared ON f.fh = shared.fh_s
      |  GROUP BY media_id)
      |ORDER BY media_id""".stripMargin

  // -------------------------------------------------------------------
  // M7: resolution bucketing — the vision-batcher analog of
  // train_length_buckets: group assets by exact (width, height), report
  // count, pixel mass, the padding cost of batching every asset at the
  // global max resolution, and each shape's share of the corpus. The
  // shape grid is metadata-only (binary payloads never read — the scan
  // prunes to width/height), the aggregate is map-side combined into
  // ≤ |shapes| rows, and the global max rides a broadcast 1-row
  // aggregate. Exact-integer pixel math throughout.
  // -------------------------------------------------------------------
  def shapeBuckets(s: SparkSession, d: String): DataFrame = {
    val agg = mediaTable(s, d).groupBy("width", "height").agg(
      count(lit(1)).as("n_assets"),
      sum((col("width").cast("bigint") * col("height"))).as("sum_px"))
    val tot = agg.agg(max(col("width")).as("mw"), max(col("height")).as("mh"),
      sum(col("n_assets")).as("na"))
    agg.crossJoin(broadcast(tot))
      .select(col("width"), col("height"), col("n_assets"), col("sum_px"),
        (col("mw").cast("bigint") * col("mh") * col("n_assets") -
          col("sum_px")).as("pad_px_to_max"),
        round(col("n_assets").cast("double") / col("na"), 6).as("share"))
      .orderBy("width", "height")
  }

  val shapeBucketsSql: String =
    s"""WITH media AS ($mediaSql),
       |agg AS (SELECT width, height, count(*) AS n_assets,
       |  CAST(sum(CAST(width AS BIGINT) * height) AS BIGINT) AS sum_px
       |  FROM media GROUP BY width, height),
       |tot AS (SELECT max(width) AS mw, max(height) AS mh,
       |        sum(n_assets) AS na FROM agg)
       |SELECT width, height, n_assets, sum_px,
       |  CAST(CAST(mw AS BIGINT) * mh * n_assets - sum_px AS BIGINT)
       |    AS pad_px_to_max,
       |  CASE WHEN round(CAST(n_assets AS DOUBLE) / na, 6) = 0 THEN 0.0 ELSE round(CAST(n_assets AS DOUBLE) / na, 6) END AS share
       |FROM agg, tot ORDER BY width, height""".stripMargin

  // -------------------------------------------------------------------
  // M8: perceptual-hash NEAR-dup — the missing half of M5's exact asset
  // dedup: re-encoded/resized copies of an image hash to a *nearby*
  // 60-bit fingerprint, not an equal one, so duplicate detection is a
  // Hamming-ball query, done at scale the Manku-et-al way (WWW'07,
  // simhash dedup at Google): split the fingerprint into bands such
  // that any pair within the Hamming radius must agree exactly on at
  // least one band (pigeonhole: radius 2 needs ≥3 bands), bucket-join
  // on (band, band-bits), and verify candidates with a popcount. Only
  // (media_id, phash) pairs ever shuffle — payloads are pruned at the
  // scan. Degenerate bands (all-black frames at production scale) want
  // the same cappedBlocks guard the text dedup family logs; the
  // synthetic corpus has none, so none is wired here.
  //
  // The decode is still the deterministic stub (iterated-MD5 pixel
  // stream — no codec I/O in this build), but the FINGERPRINT is now a
  // real 16×16 DCT-II low-frequency hash (plans/DctPhash60: fixed-point
  // cosine basis, 60 AC coefficients, lower-median threshold), and the
  // re-encode noise is ±2 per-PIXEL jitter on the two non-canonical
  // members of each 3-asset group (ids 3k, 3k+1, 3k+2 share source
  // bytes; 3k is the canonical encode) — so variant copies land at
  // small-but-variable Hamming distance because coefficients near the
  // median flip, not because a script flipped one scripted bit.
  // Banding, verify, and output shape are unchanged; a real build swaps
  // only the pixel source.
  // -------------------------------------------------------------------
  private val PhashBands = 3      // min bands for guaranteed radius-2 recall
  private val PhashBandBits = 20  // 60-bit fingerprint / 3 bands
  private val PhashRadius = 2

  def phashNearDup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val anchors = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").as("src_id"), col("text").as("src_text"))
    val members = docs.select(col("doc_id").as("media_id"),
      (col("doc_id") - col("doc_id") % 3).as("src"))
    val assets = members.join(anchors, col("src") === col("src_id"))
      .select(col("media_id"),
        expr("dct_phash60(src_text, media_id % 3)").as("phash"))
    val bands = assets.select(col("media_id"), col("phash"),
        explode(expr(s"sequence(0, ${PhashBands - 1})")).as("band"))
      .withColumn("bv",
        expr(s"shiftright(phash, $PhashBandBits * band) & ${(1 << PhashBandBits) - 1}"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("a_id"), col("b.media_id").as("b_id"),
        col("a.phash").as("pa"), col("b.phash").as("pb"))
      .distinct()
    cand
      .select(col("a_id"), col("b_id"),
        expr("CAST(bit_count(pa ^ pb) AS INT)").as("hamming"))
      .filter(col("hamming") <= PhashRadius)
      .orderBy("a_id", "b_id")
  }

  /** The oracle's DCT is GENERATED from [[graft.plans.DctHashUtil]]'s
    * own fixed-point cosine table (interpolated as a 128-literal list),
    * so there is no runtime cosine in either engine and the integer
    * pipelines are term-for-term identical. MATERIALIZED throughout —
    * each stage references the previous twice via lambdas and DuckDB
    * would otherwise inline the chain multiplicatively.
    */
  val phashNearDupSql: String = {
    val cFlat = graft.plans.DctHashUtil.C.flatten.mkString("[", ", ", "]")
    def raw(salt: String) =
      s"CAST(('0x' || substr(md5(src_text || $salt || ':' || " +
        "CAST(i // 16 AS VARCHAR)), CAST(1 + (i % 16) * 2 AS INT), 2)) AS INT)"
    val rawPx = raw("''")
    val noise = s"((${raw("'#' || CAST(v AS VARCHAR)")} % 5) - 2)"
    s"""WITH assets0 AS (
       |  SELECT d.doc_id AS media_id, d.doc_id % 3 AS v, s.text AS src_text
       |  FROM documents d
       |  JOIN documents s ON s.doc_id = d.doc_id - d.doc_id % 3),
       |ctab AS (SELECT $cFlat AS cc),
       |px AS MATERIALIZED (
       |  SELECT media_id, list_transform(range(0, 256), i ->
       |    CASE WHEN v = 0 THEN $rawPx
       |         ELSE greatest(0, least(255, $rawPx + $noise)) END) AS p
       |  FROM assets0),
       |tt AS MATERIALIZED (
       |  SELECT media_id, list_transform(range(0, 128), j ->
       |    list_sum(list_transform(range(0, 16), r ->
       |      p[CAST(r * 16 + (j % 16) + 1 AS INT)]
       |        * cc[CAST((j // 16) * 16 + r + 1 AS INT)]))) AS t
       |  FROM px, ctab),
       |cf AS MATERIALIZED (
       |  SELECT media_id, list_transform(range(1, 61), k ->
       |    list_sum(list_transform(range(0, 16), c ->
       |      t[CAST((k // 8) * 16 + c + 1 AS INT)]
       |        * cc[CAST((k % 8) * 16 + c + 1 AS INT)]))) AS coefs
       |  FROM tt, ctab),
       |assets AS MATERIALIZED (
       |  SELECT media_id, CAST(list_sum(list_transform(range(1, 61), k ->
       |      CASE WHEN coefs[CAST(k AS INT)] > list_sort(coefs)[30]
       |           THEN (CAST(1 AS BIGINT) << CAST(k - 1 AS INT))
       |           ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS phash
       |  FROM cf),
       |bands AS (
       |  SELECT media_id, phash, band,
       |    (phash >> ($PhashBandBits * band)) & ${(1 << PhashBandBits) - 1} AS bv
       |  FROM assets, unnest(range(0, $PhashBands)) AS t(band)),
       |cand AS (
       |  SELECT DISTINCT a.media_id AS a_id, b.media_id AS b_id,
       |    a.phash AS pa, b.phash AS pb
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bv = b.bv AND a.media_id < b.media_id)
       |SELECT a_id, b_id, CAST(bit_count(xor(pa, pb)) AS INT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(pa, pb)) <= $PhashRadius
       |ORDER BY a_id, b_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // M9: audio energy / voice-activity profile — the audio-modality
  // curation gate: window the waveform, compute per-window amplitude,
  // flag silence, and report per-asset speech ratio, peak, mean
  // amplitude/energy, and the first voiced window (the leading-silence
  // trim point every ASR pipeline applies before transcription). One
  // explode fan-out (bounded: n_frames ≤ 30 windows/asset), per-asset
  // re-aggregation on media_id — payloads never shuffle, and at 100 TB
  // the window relation is (media_id, int) rows only.
  //
  // >>> STUB DECODE <<< : the per-window amplitude is an md5-derived
  // integer k ∈ [0, 2^32) from (content checksum, window index); a real
  // build computes RMS over decoded PCM samples. All downstream sums
  // stay exact-integer (Σk as BIGINT, Σk² as DECIMAL(38,0) /
  // HUGEINT) so the floating-point conversion happens once, on the
  // final aggregate — deterministic across partitionings and engines.
  // -------------------------------------------------------------------
  private val SilenceK = 644245094L // floor(0.15 * 2^32): amp < 0.15

  def audioEnergy(s: SparkSession, d: String): DataFrame = {
    val assets = mediaTable(s, d)
      // n_frames > 0 guard: sequence(0, -1) yields a DESCENDING
      // [0, -1] for a zero-frame asset while the oracle's range(0, 0)
      // is empty — filter the degenerate assets out on both engines
      .filter(col("format") === "wav" && col("n_frames") > 0)
      .select(col("media_id"), md5(col("content")).as("cmd5"),
        col("n_frames"))
    val wins = assets
      .select(col("media_id"),
        explode(sequence(lit(0), col("n_frames") - 1)).as("w"),
        col("cmd5"))
      .select(col("media_id"), col("w"),
        conv(substring(md5(concat(col("cmd5"), lit(":"),
          col("w").cast("string"))), 1, 8), 16, 10).cast("long").as("k"))
    wins
      .groupBy("media_id")
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("k") < SilenceK, 1L).otherwise(0L)).as("n_silent"),
        min(when(col("k") >= SilenceK, col("w"))).as("first_voice_w"),
        max(col("k")).as("peak_k"),
        sum(col("k")).as("sum_k"),
        sum(col("k").cast("decimal(19,0)") * col("k").cast("decimal(19,0)"))
          .as("sum_k2"))
      .select(col("media_id"), col("n_windows"), col("n_silent"),
        round(lit(1.0) - col("n_silent").cast("double") / col("n_windows"), 6)
          .as("speech_ratio"),
        col("first_voice_w").cast("int").as("first_voice_w"),
        round(col("peak_k").cast("double") / 4294967296.0, 6).as("peak_amp"),
        round(col("sum_k").cast("double") / col("n_windows") / 4294967296.0, 6)
          .as("mean_amp"),
        round(col("sum_k2").cast("double") / col("n_windows")
          / 1.8446744073709552e19, 6).as("mean_energy"))
      .orderBy("media_id")
  }

  val audioEnergySql: String =
    s"""WITH media AS ($mediaSql),
       |assets AS (
       |  SELECT media_id, md5(content_text) AS cmd5, n_frames
       |  FROM media WHERE format = 'wav'),
       |wins AS (
       |  SELECT media_id, CAST(w AS INT) AS w,
       |    CAST(('0x' || substr(md5(cmd5 || ':' || CAST(CAST(w AS INT) AS VARCHAR)), 1, 8)) AS BIGINT) AS k
       |  FROM assets, unnest(range(0, CAST(n_frames AS BIGINT))) AS t(w))
       |SELECT media_id, count(*) AS n_windows,
       |  CAST(sum(CASE WHEN k < $SilenceK THEN 1 ELSE 0 END) AS BIGINT) AS n_silent,
       |  CASE WHEN round(1.0 - CAST(sum(CASE WHEN k < $SilenceK THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) = 0 THEN 0.0 ELSE round(1.0 - CAST(sum(CASE WHEN k < $SilenceK THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) END AS speech_ratio,
       |  CAST(min(CASE WHEN k >= $SilenceK THEN w END) AS INT) AS first_voice_w,
       |  CASE WHEN round(CAST(max(k) AS DOUBLE) / 4294967296.0, 6) = 0 THEN 0.0 ELSE round(CAST(max(k) AS DOUBLE) / 4294967296.0, 6) END AS peak_amp,
       |  CASE WHEN round(CAST(sum(k) AS DOUBLE) / count(*) / 4294967296.0, 6) = 0 THEN 0.0 ELSE round(CAST(sum(k) AS DOUBLE) / count(*) / 4294967296.0, 6) END AS mean_amp,
       |  CASE WHEN round(CAST(sum(CAST(k AS HUGEINT) * k) AS DOUBLE) / count(*)
       |    / 1.8446744073709552e19, 6) = 0 THEN 0.0 ELSE round(CAST(sum(CAST(k AS HUGEINT) * k) AS DOUBLE) / count(*)
       |    / 1.8446744073709552e19, 6) END AS mean_energy
       |FROM wins GROUP BY media_id ORDER BY media_id""".stripMargin

  // -------------------------------------------------------------------
  // M10: video scene-cut detection — the temporal segmentation every
  // video curation pipeline runs before sampling training frames (cut
  // detection → shot boundaries → one keyframe per shot instead of a
  // blind every-Nth grid). Consecutive frame features compare under a
  // lag window per asset (shuffle keys are media_id only — the
  // ordered-frame contract at 100 TB is the same per-key window), a
  // cut fires when the feature jump exceeds half the feature range,
  // and the per-asset report gives shot count, mean shot length in
  // exact milli-frames, and the first cut point. All integer math.
  //
  // >>> STUB DECODE <<< : the per-frame "feature" is the md5-derived
  // integer of (content checksum, frame index) — a real build uses a
  // frame-difference metric over decoded pixels; the window/threshold
  // plumbing is unchanged.
  // -------------------------------------------------------------------
  private val SceneCutJump = 2147483648L // 2^31: half the feature range

  def sceneCut(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val frames = mediaTable(s, d)
      // same zero-frame guard as audioEnergy: Spark's sequence(0, -1)
      // is a descending two-element array, not empty
      .filter(col("format") === "jpeg" && col("n_frames") > 0)
      .select(col("media_id"), md5(col("content")).as("cmd5"),
        explode(sequence(lit(0), col("n_frames") - 1)).as("w"))
      .select(col("media_id"), col("w"),
        conv(substring(md5(concat(col("cmd5"), lit(":"),
          col("w").cast("string"))), 1, 8), 16, 10).cast("long").as("k"))
    val wl = Window.partitionBy("media_id").orderBy("w")
    frames
      .withColumn("pk", lag(col("k"), 1).over(wl))
      .withColumn("cut",
        when(col("pk").isNotNull &&
          abs(col("k") - col("pk")) > SceneCutJump, 1L).otherwise(0L))
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(col("cut")).as("n_cuts"),
        min(when(col("cut") === 1L, col("w"))).as("first_cut_w"))
      .select(col("media_id"), col("n_frames"), col("n_cuts"),
        (col("n_cuts") + 1).as("n_shots"),
        expr("(n_frames * 1000) div (n_cuts + 1)").as("mean_shot_milliframes"),
        col("first_cut_w").cast("int").as("first_cut_w"))
      .orderBy("media_id")
  }

  val sceneCutSql: String =
    s"""WITH frames AS (
       |  SELECT media_id, CAST(w AS INT) AS w,
       |    CAST(('0x' || substr(md5(md5(content_text) || ':' ||
       |      CAST(CAST(w AS INT) AS VARCHAR)), 1, 8)) AS BIGINT) AS k
       |  FROM (SELECT media_id, content_text, n_frames
       |        FROM (${mediaSql.replace("\n", "\n       |")})
       |        WHERE format = 'jpeg'),
       |    unnest(range(0, CAST(n_frames AS BIGINT))) AS t(w)),
       |lagged AS (
       |  SELECT media_id, w, k,
       |    lag(k) OVER (PARTITION BY media_id ORDER BY w) AS pk
       |  FROM frames),
       |flags AS (
       |  SELECT media_id, w,
       |    CASE WHEN pk IS NOT NULL AND abs(k - pk) > $SceneCutJump
       |         THEN 1 ELSE 0 END AS cut
       |  FROM lagged)
       |SELECT media_id, count(*) AS n_frames,
       |  CAST(sum(cut) AS BIGINT) AS n_cuts,
       |  CAST(sum(cut) + 1 AS BIGINT) AS n_shots,
       |  CAST((count(*) * 1000) // (sum(cut) + 1) AS BIGINT)
       |    AS mean_shot_milliframes,
       |  CAST(min(CASE WHEN cut = 1 THEN w END) AS INT) AS first_cut_w
       |FROM flags GROUP BY media_id ORDER BY media_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "media_scene_cut" -> (sceneCut _),
    "media_audio_energy" -> (audioEnergy _),
    "media_phash_neardup" -> (phashNearDup _),
    "media_shape_buckets" -> (shapeBuckets _),
    "media_frame_dedup" -> (frameDedup _),
    "media_dedup" -> (mediaDedup _),
    "media_resize" -> (mediaResize _),
    "media_metadata" -> (mediaMetadata _),
    "media_features" -> (mediaFeatures _),
    "media_frame_sample" -> (frameSample _)
  )

  val oracles: Map[String, String] = Map(
    "media_scene_cut" -> sceneCutSql,
    "media_audio_energy" -> audioEnergySql,
    "media_phash_neardup" -> phashNearDupSql,
    "media_shape_buckets" -> shapeBucketsSql,
    "media_frame_dedup" -> frameDedupSql,
    "media_dedup" -> mediaDedupSql,
    "media_resize" -> mediaResizeSql,
    "media_metadata" -> mediaMetadataSql,
    "media_features" -> mediaFeaturesSql,
    "media_frame_sample" -> frameSampleSql
  )
}
