package graft.queries

import graft.Tables
import graft.operators.{Multimodal => M}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column queries: documents' text bytes stand in for media
  * payloads (fixtures carry no binary table), exercising the
  * binary-column + metadata pipeline end-to-end.
  */
object MultimodalQ {

  type Q = (SparkSession, String) => DataFrame

  private def media(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents").select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("payload"),
      concat(lit("text/"), col("lang")).as("format"))

  /** Binary metadata extraction + per-format stats (codegen path). */
  def m1MediaMetadata(spark: SparkSession, dir: String): DataFrame =
    M.metadata(media(spark, dir))
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        countDistinct(col("content_hash")).as("n_distinct"))
      .orderBy(col("format"))

  val m1Sql: String =
    """SELECT 'text/' || lang AS format, COUNT(*) AS n_media,
      |  CAST(SUM(octet_length(CAST(text AS BLOB))) AS BIGINT) AS total_bytes,
      |  COUNT(DISTINCT md5(text)) AS n_distinct
      |FROM documents GROUP BY 1 ORDER BY format""".stripMargin

  /** The planted-media synthesis seam shared by m2's constant PNGs,
    * m6's PCM WAVs and m7's gradient PNGs: every Nth doc contributes one
    * artifact, synthesized in the same mapPartitions codec seam the
    * decodes run in (distributed, ImageIO's file cache off once per
    * batch), planted at doc_id + offset. One definition — a seam fix
    * (this init, the encoder, the planting convention) lands once.
    */
  private def plantedMedia(
      spark: SparkSession, dir: String, every: Int, offset: Long,
      fmt: String)(synth: Long => Array[Byte]): DataFrame = {
    import org.apache.spark.sql.Row
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(M.mediaSchema)
    Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % every === 0)
      .select(col("doc_id"))
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { r =>
          val id = r.getLong(0)
          Row(id + offset, synth(id), fmt)
        }
      }(enc)
  }

  /** Planted real-codec artifacts: every 25th doc contributes one tiny
    * constant-value RGB PNG encoded by the JDK's ImageIO, with
    * dimensions and pixel value pure functions of doc_id — so an
    * arithmetic oracle can value-check a REAL encode→decode round-trip.
    * Synthesis runs in the same mapPartitions codec seam as the decode
    * (distributed; no driver-side image loop).
    */
  private def pngMedia(spark: SparkSession, dir: String): DataFrame =
    plantedMedia(spark, dir, every = 25, offset = 2000000L, fmt = "image/png")(
      id => M.syntheticPng(
        w = 1 + (id % 7).toInt, h = 1 + (id % 5).toInt, v = (id % 256).toInt))

  /** mapPartitions decode over text stand-ins PLUS planted real PNGs:
    * the per-partition batch plumbing runs distributed; the PNG rows
    * exercise the REAL JDK decoder (width/height/pixel sum read from
    * the raster), while the text rows take the deterministic stub whose
    * wraparound arithmetic the ORACLE replays in SQL (list_reduce over
    * ascii codes with the d11 wrap-mul recipe) — so both decode paths
    * are value-checked, not rows-counted. The PNG oracle side is pure
    * arithmetic on doc_id (dimensions and pixel value are planted
    * functions of it), which only matches if ImageIO's round-trip
    * decodes exactly what was encoded.
    * Averages are written as sum/count explicitly so both engines
    * perform one IEEE division over exact integer sums.
    * Same encoding coupling as m3: Spark folds over UTF-8 payload BYTES
    * while the oracle folds over per-character code points — equal only
    * because the fixture text is pure ASCII.
    */
  def m2DecodeFeatures(spark: SparkSession, dir: String): DataFrame =
    M.decodeFeatures(media(spark, dir).unionByName(pngMedia(spark, dir)))
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("width")).as("sw"), sum(col("height")).as("sh"),
        sum(col("px_sum")).as("px_sum"))
      .select(col("format"), col("n_media"),
        (col("sw") / col("n_media")).as("avg_width"),
        (col("sh") / col("n_media")).as("avg_height"),
        col("px_sum"))
      .orderBy(col("format"))

  val m2Sql: String = {
    // graft.operators.Multimodal.fakeDecode twin: h := h*31 + byte on the
    // wrapping signed-64 ring (HUGEINT detour, two's-complement mapping),
    // then w/ht from floorMod(h, 512) and floorMod(floorDiv(h, 512), 512)
    def wrapU(e: String) =
      s"(CAST($e AS HUGEINT) + CASE WHEN $e < 0 THEN 18446744073709551616 ELSE 0 END)"
    val step = s"(${wrapU("h")} * 31 + c) % 18446744073709551616"
    val wrap31plus =
      s"""CAST($step - CASE WHEN $step >= 9223372036854775808
         |  THEN 18446744073709551616 ELSE 0 END AS BIGINT)""".stripMargin
    s"""WITH b AS (
      |  SELECT 'text/' || lang AS format,
      |    list_reduce(
      |      list_prepend(CAST(1125899906842597 AS BIGINT),
      |        list_transform(generate_series(1, length(text)),
      |          j -> CAST(ascii(substring(text, j, 1)) AS BIGINT))),
      |      (h, c) -> $wrap31plus) AS h
      |  FROM documents),
      |d AS (
      |  SELECT format,
      |    64 + ((h % 512) + 512) % 512 AS w,
      |    64 + ((((h - (((h % 512) + 512) % 512)) // 512) % 512) + 512) % 512 AS ht
      |  FROM b)
      |SELECT format, COUNT(*) AS n_media,
      |  CAST(SUM(w) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS avg_width,
      |  CAST(SUM(ht) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS avg_height,
      |  CAST(NULL AS BIGINT) AS px_sum
      |FROM d GROUP BY format
      |UNION ALL
      |SELECT 'image/png' AS format, COUNT(*) AS n_media,
      |  CAST(SUM(w) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS avg_width,
      |  CAST(SUM(h) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS avg_height,
      |  CAST(SUM(w * h * 3 * v) AS BIGINT) AS px_sum
      |FROM (SELECT 1 + doc_id % 7 AS w, 1 + doc_id % 5 AS h,
      |             doc_id % 256 AS v
      |      FROM documents WHERE doc_id % 25 = 0)
      |GROUP BY 1
      |ORDER BY format""".stripMargin
  }

  /** Frame sampling: 16-byte windows every 8 bytes over the payload —
    * the shape of video frame extraction (one row per sampled frame),
    * verified value-exact against blob slicing in the oracle.
    */
  def m3FrameSample(spark: SparkSession, dir: String): DataFrame = {
    // string payload: the fixture text is pure ASCII so char windows ==
    // byte windows, and DuckDB can replay the slicing (its substring is
    // VARCHAR-only); sampleFrames itself is type-generic (substr works
    // on binary payloads identically)
    // spread: same single-row-group rationale as m4
    val m = Tables.loadSpread(spark, dir, "documents", "doc_id")
      .select(col("doc_id").as("media_id"), col("text").as("payload"))
    M.sampleFrames(m, frameSize = 16, stride = 8)
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames"),
        countDistinct(md5(col("frame").cast("binary"))).as("n_distinct_frames"))
      .orderBy(col("media_id"))
  }

  val m3Sql: String =
    """WITH f AS (SELECT doc_id AS media_id,
      |        substring(text, (i - 1) * 8 + 1, 16) AS frame
      |      FROM documents, LATERAL (SELECT unnest(generate_series(1,
      |        CASE WHEN length(text) >= 16
      |             THEN (length(text) - 16) // 8 + 1 ELSE 0 END)) AS i))
      |SELECT media_id, COUNT(*) AS n_frames,
      |  COUNT(DISTINCT md5(frame)) AS n_distinct_frames
      |FROM f GROUP BY media_id ORDER BY media_id""".stripMargin

  /** Frame-fingerprint near-dup — the content-ID shape for video/audio
    * dedup: two media near-duplicate when their FRAME SETS overlap, so
    * MinHash runs over m3's sampled frames instead of text shingles
    * (one md5 per frame, d6's 16 lanes via [[Documents.minhashBands]],
    * LSH band buckets, chunk-blocked pair expansion, matching-lane
    * estimate >= 0.5). A one-byte corruption of a long payload changes
    * only the frames covering that byte, so the planted mutants (+1M,
    * first byte flipped) keep ~95% frame overlap and provably flag —
    * the robustness exact content_hash dedup (m1) cannot give.
    */
  def m4FrameNeardup(spark: SparkSession, dir: String): DataFrame = {
    // spread: frame sampling + per-frame md5 is scan-side compute and the
    // single-row-group fixture serializes it (Spread scaladoc; both the
    // base and mutant branches reuse ONE materialized spread exchange)
    val d = Tables.loadSpread(spark, dir, "documents", "doc_id")
      .select(col("doc_id").as("media_id"), col("text").as("payload"))
    val mut = d.select((col("media_id") + 1000000).as("media_id"),
      concat(lit("z"), col("payload").substr(lit(2), length(col("payload"))))
        .as("payload"))
    val frames = M.sampleFrames(d.unionByName(mut), frameSize = 16, stride = 8)
      .select(col("media_id").as("doc_id"),
        graft.functions.HashFunctions.md5NumberBigEndian(col("frame")).as("h"))
    val pairs = graft.operators.BlockedSelfJoin.pairs(
      Documents.minhashBands(frames), Seq("band", "sig"), "doc_id",
      chunkSize = 256)
    Documents.scoreMinhashPairs(pairs)
  }

  val m4Sql: String =
    s"""WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, 'z' || substring(text, 2) FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, substring(text, (i - 1) * 8 + 1, 16) AS s
      |  FROM corpus, LATERAL (SELECT unnest(generate_series(1,
      |    CASE WHEN length(text) >= 16
      |         THEN (length(text) - 16) // 8 + 1 ELSE 0 END)) AS i)),
      |${Documents.minhashSigChainSql},
      |${Documents.minhashPairEstSql}
      |SELECT da, db, est_jaccard FROM est WHERE est_jaccard >= 0.5 ORDER BY da, db""".stripMargin

  /** m5: media STORAGE-DEDUP manifest — the petabyte version of d1's
    * exact dedup: media dedupe by content hash (how blob stores dedupe
    * images/video at rest), reported per format as the numbers a
    * storage owner acts on: media count, unique payloads, duplicate
    * copies, total bytes, and the bytes dedup would reclaim (duplicate
    * copies × payload size — exact, because identical hash ⇒ identical
    * length). The fixture has no exact dups, so a deterministically
    * shifted copy of every 10th payload is planted (d1's convention)
    * and the reclaim numbers are provably non-zero.
    *
    * Two hash aggs: (format, content_hash) groups, then the per-format
    * rollup — the second rides the first's partitioning (subset key).
    */
  def m5StorageDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = media(spark, dir)
    val planted = base.filter(col("media_id") % 10 === 0)
      .select((col("media_id") + 1000000).as("media_id"), col("payload"),
        col("format"))
    val groups = base.unionByName(planted)
      .select(col("format"), md5(col("payload")).as("h"),
        length(col("payload")).cast("long").as("nb"))
      .groupBy(col("format"), col("h"))
      .agg(count(lit(1)).as("copies"), max(col("nb")).as("nb"))
    groups.groupBy(col("format"))
      .agg(sum(col("copies")).as("n_media"),
        count(lit(1)).as("n_unique"),
        sum(col("copies") - 1).as("n_dup_copies"),
        sum(col("copies") * col("nb")).as("bytes_total"),
        sum((col("copies") - 1) * col("nb")).as("bytes_reclaimable"))
      .orderBy(col("format"))
  }

  val m5Sql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id, text AS payload, 'text/' || lang AS format
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text, 'text/' || lang
      |  FROM documents WHERE doc_id % 10 = 0),
      |g AS (SELECT format, md5(payload) h, COUNT(*) copies,
      |        MAX(octet_length(CAST(payload AS BLOB))) nb
      |      FROM m GROUP BY 1, 2)
      |SELECT format, CAST(SUM(copies) AS BIGINT) n_media,
      |  COUNT(*) AS n_unique,
      |  CAST(SUM(copies - 1) AS BIGINT) n_dup_copies,
      |  CAST(SUM(copies * nb) AS BIGINT) bytes_total,
      |  CAST(SUM((copies - 1) * nb) AS BIGINT) bytes_reclaimable
      |FROM g GROUP BY format ORDER BY format""".stripMargin

  /** m6: REAL AUDIO DECODE — the audio column joins PNG (m2) in having
    * an actual codec in this environment: `javax.sound.sampled` ships
    * in the JDK, so WAV payloads are parsed by a real RIFF/PCM decoder
    * (sample rate, channel count, frame length from the header; the
    * sample sum streamed out of the signed-16-bit PCM body). Planted
    * artifacts: every 20th doc contributes a WAV whose rate/channels/
    * frames/amplitude are pure functions of doc_id — amplitude includes
    * NEGATIVE values, so two's-complement sample decoding is under
    * test, not just header parsing. The oracle is doc_id arithmetic: it
    * matches only if the synth→parse→decode round trip is exact.
    *
    * Scale shape: synthesis and decode both live in the mapPartitions
    * codec seam (distributed, init amortized per batch); the report is
    * one tiny hash agg on sample_rate.
    */
  def m6AudioFeatures(spark: SparkSession, dir: String): DataFrame = {
    val wavs = plantedMedia(spark, dir, every = 20, offset = 3000000L,
        fmt = "audio/wav")(id => M.syntheticWav(
      sampleRate = 8000 * (1 + (id % 3).toInt),
      channels = 1 + (id % 2).toInt,
      nFrames = 40 + (id % 60).toInt,
      amp = (id % 200).toInt - 100))
    M.audioFeatures(wavs)
      .groupBy(col("sample_rate").cast("long").as("sample_rate"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("channels").cast("long")).as("total_channels"),
        sum(col("n_frames")).as("total_frames"),
        sum(col("sample_sum")).as("total_sample_sum"))
      .orderBy(col("sample_rate"))
  }

  val m6Sql: String =
    """SELECT CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS sample_rate,
      |  COUNT(*) AS n_media,
      |  CAST(SUM(1 + doc_id % 2) AS BIGINT) AS total_channels,
      |  CAST(SUM(40 + doc_id % 60) AS BIGINT) AS total_frames,
      |  CAST(SUM((40 + doc_id % 60) * (1 + doc_id % 2) * (doc_id % 200 - 100))
      |    AS BIGINT) AS total_sample_sum
      |FROM documents WHERE doc_id % 20 = 0
      |GROUP BY 1 ORDER BY sample_rate""".stripMargin

  /** m7: REAL THUMBNAIL PIPELINE — decode → nearest-neighbor resize →
    * re-encode → re-decode, all through the JDK PNG codec in the
    * mapPartitions seam. The planted artifacts are GRADIENT images
    * (pixel = (id + 7x + 13y) % 256), so the oracle's arithmetic sum
    * only matches if the resize sampled exactly the right source pixels
    * AND the re-encoded thumbnail round-trips losslessly — a constant
    * image (m2's plant) could hide a wrong-pixel bug; a gradient
    * cannot. The emitted sum is computed from the RE-DECODED thumbnail
    * bytes, so the produced artifact itself is what's checked.
    *
    * Scale shape: pure per-row codec work in one mapPartitions pass —
    * scan-speed, no shuffle but the output sort; thumbnails never
    * materialize beyond their task.
    */
  def m7ThumbnailAudit(spark: SparkSession, dir: String): DataFrame = {
    val gradients = plantedMedia(spark, dir, every = 25, offset = 4000000L,
        fmt = "image/png")(id => M.syntheticGradientPng(
      w = 4 + (id % 9).toInt, h = 4 + (id % 7).toInt, seed = id))
    M.thumbnailFeatures(gradients, tw = 3, th = 3)
      .orderBy(col("media_id"))
  }

  val m7Sql: String =
    """WITH src AS (
      |  SELECT doc_id AS id, 4 + doc_id % 9 AS w, 4 + doc_id % 7 AS h
      |  FROM documents WHERE doc_id % 25 = 0),
      |px AS (
      |  SELECT id, w, h,
      |    SUM(3 * ((id + 7 * ((x * w) // 3) + 13 * ((y * h) // 3)) % 256)) AS s
      |  FROM src,
      |       (SELECT unnest(generate_series(0, 2)) x),
      |       (SELECT unnest(generate_series(0, 2)) y)
      |  GROUP BY id, w, h)
      |SELECT id + 4000000 AS media_id, CAST(w AS BIGINT) AS src_w,
      |  CAST(h AS BIGINT) AS src_h, CAST(3 AS BIGINT) AS thumb_w,
      |  CAST(3 AS BIGINT) AS thumb_h, CAST(s AS BIGINT) AS thumb_px_sum
      |FROM px ORDER BY media_id""".stripMargin

  /** m8: SHOT-BOUNDARY DETECTION — the scene segmentation every video
    * curation pipeline runs before clip extraction: sample frames
    * (m3's window/stride), reduce each frame to a brightness proxy
    * (here the exact byte-code sum over the ASCII stand-in payload —
    * the codec seam slots a real luma histogram in its place), then
    * cut wherever the proxy moves more than 10% frame-over-frame and
    * sessionize frames into scenes with a running cut count. Per
    * media: frame count, scene count, the longest scene, and the mean
    * scene length in ppm — the table a clip sampler budgets from.
    *
    * Scale shape: frames explode MAP-SIDE (no shuffle); ONE
    * media-keyed exchange serves the lag window, the running-sum
    * window (same spec), and BOTH rollups — (media, scene) then
    * media are subset-key aggs riding the window's partitioning —
    * plus the output sort. A media's frames co-locate by construction,
    * exactly how a 100 TB video corpus shards by asset.
    */
  def m8SceneCuts(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("media_id"), col("text").as("payload"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("media_id")).orderBy(col("frame_no"))
    M.sampleFrames(m, frameSize = 16, stride = 8)
      // one codegen'd byte loop per frame; == the oracle's per-char
      // ascii fold because the fixture payload is pure ASCII (the
      // m2/m3 coupling)
      .withColumn("s", graft.functions.ByteSum(col("frame")))
      .withColumn("prev", lag(col("s"), 1).over(wOrd))
      .withColumn("cut", when(col("prev").isNotNull &&
        abs(col("s") - col("prev")) * 10 > col("prev"), 1L).otherwise(0L))
      .withColumn("scene_id", sum(col("cut")).over(wOrd))
      .groupBy(col("media_id"), col("scene_id"))
      .agg(count(lit(1)).as("scene_len"))
      .groupBy(col("media_id"))
      .agg(sum(col("scene_len")).as("n_frames"),
        count(lit(1)).as("n_scenes"),
        max(col("scene_len")).as("longest_scene"))
      .select(col("media_id"), col("n_frames"), col("n_scenes"),
        col("longest_scene"),
        expr("n_frames * 1000000L DIV n_scenes").as("mean_scene_len_ppm"))
      .orderBy(col("media_id"))
  }

  val m8Sql: String =
    """WITH f AS (
      |  SELECT doc_id AS media_id, i - 1 AS frame_no,
      |    substring(text, (i - 1) * 8 + 1, 16) AS frame
      |  FROM documents, LATERAL (SELECT unnest(generate_series(1,
      |    CASE WHEN length(text) >= 16
      |         THEN (length(text) - 16) // 8 + 1 ELSE 0 END)) AS i)),
      |l AS (
      |  SELECT media_id, frame_no,
      |    list_reduce(list_transform(generate_series(1, 16),
      |      i -> ascii(substring(frame, i, 1))), (a, x) -> a + x) AS s
      |  FROM f),
      |c AS (
      |  SELECT media_id, frame_no, s,
      |    lag(s) OVER (PARTITION BY media_id ORDER BY frame_no) AS prev
      |  FROM l),
      |sc AS (
      |  SELECT media_id,
      |    SUM(CASE WHEN prev IS NOT NULL AND abs(s - prev) * 10 > prev
      |        THEN 1 ELSE 0 END) OVER (PARTITION BY media_id
      |      ORDER BY frame_no) AS scene_id
      |  FROM c),
      |g AS (SELECT media_id, scene_id, COUNT(*) AS scene_len
      |      FROM sc GROUP BY 1, 2)
      |SELECT media_id, CAST(SUM(scene_len) AS BIGINT) AS n_frames,
      |  COUNT(*) AS n_scenes, CAST(MAX(scene_len) AS BIGINT) AS longest_scene,
      |  CAST(SUM(scene_len) * 1000000 // COUNT(*) AS BIGINT)
      |    AS mean_scene_len_ppm
      |FROM g GROUP BY media_id ORDER BY media_id""".stripMargin

  val defs: Map[String, Q] = Map(
    "m8_scene_cuts" -> (m8SceneCuts _),
    "m7_thumbnail_audit" -> (m7ThumbnailAudit _),
    "m6_audio_features" -> (m6AudioFeatures _),
    "m5_storage_dedup" -> (m5StorageDedup _),
    "m4_frame_neardup" -> (m4FrameNeardup _),
    "m1_media_metadata" -> (m1MediaMetadata _),
    "m2_decode_features" -> (m2DecodeFeatures _),
    "m3_frame_sample" -> (m3FrameSample _))

  val oracles: Map[String, String] = Map(
    "m8_scene_cuts" -> m8Sql,
    "m7_thumbnail_audit" -> m7Sql,
    "m6_audio_features" -> m6Sql,
    "m5_storage_dedup" -> m5Sql,
    "m4_frame_neardup" -> m4Sql,
    "m1_media_metadata" -> m1Sql,
    "m2_decode_features" -> m2Sql,
    "m3_frame_sample" -> m3Sql)
}
