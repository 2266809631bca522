package graft

import graft.operators.Multimodal
import org.apache.spark.sql.functions._

/** Multimodal plumbing: schema contracts, mapPartitions batch shape,
  * frame sampling boundaries. PNG/GIF/BMP decode, WAV decode, and the
  * PNG thumbnail pipeline run REAL JDK codecs; the remaining stubs
  * (non-decodable formats, resizeStub's byte sampling) test everything
  * a real codec would rely on.
  */
class MultimodalSpec extends SparkSpec {

  private def media() = {
    import spark.implicits._
    Seq(
      (1L, "0123456789abcdef0123456789abcdef".getBytes, "image/png"),
      (2L, "tiny".getBytes, "image/jpg"),
      (3L, Array.empty[Byte], "image/gif"))
      .toDF("media_id", "payload", "format")
  }

  test("m5: the storage-dedup manifest replays and reclaims exactly the planted copies") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), "text/" + r.getString(1), r.getString(2)))
    val all = docs ++ docs.filter(_._1 % 10 == 0)
      .map { case (id, f, t) => (id + 1000000, f, t) }
    val expected = all.groupBy(_._2).map { case (f, g) =>
      val groups = g.groupBy(_._3).values.map(v => (v.size.toLong, v.head._3.length.toLong))
      (f, g.size.toLong, groups.size.toLong,
        groups.map(_._1 - 1).sum, groups.map { case (c, n) => c * n }.sum,
        groups.map { case (c, n) => (c - 1) * n }.sum)
    }.toSeq.sortBy(_._1)
    val got = graft.queries.MultimodalQ.m5StorageDedup(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq === expected, "m5 diverges from the replay")
    // the planted copies are the only duplicates, and they reclaim bytes
    assert(got.map(_._4).sum === docs.count(_._1 % 10 == 0).toLong)
    assert(got.map(_._6).sum > 0L)
  }

  test("decodeFeatures keeps one row per input with the feature schema") {
    val out = Multimodal.decodeFeatures(media())
    assert(out.schema.fieldNames.toSeq ===
      Seq("media_id", "format", "n_bytes", "width", "height", "channels",
        "px_sum"))
    assert(out.count() === 3)
    val r = out.filter(col("media_id") === 1).collect().head
    assert(r.getLong(2) === 32L)
    assert(r.getInt(3) >= 64 && r.getInt(4) >= 64) // stub dims in range
    // a format LABEL of image/png without PNG bytes stays on the stub
    // path (detection is by magic bytes) — no pixel sum
    assert(r.isNullAt(6))
  }

  test("a real PNG payload decodes through ImageIO, not the stub") {
    import spark.implicits._
    // 3x2 constant-value (v=7) RGB PNG: raster component sum is 3*2*3*7
    val png = Multimodal.syntheticPng(w = 3, h = 2, v = 7)
    assert(Multimodal.isPng(png))
    val out = Multimodal.decodeFeatures(
      Seq((9L, png, "image/png")).toDF("media_id", "payload", "format"))
      .collect().head
    assert(out.getInt(3) === 3 && out.getInt(4) === 2, "real decoded dims")
    assert(out.getInt(5) === 3, "RGB channel count from the color model")
    assert(out.getLong(6) === 3L * 2 * 3 * 7, "raster pixel sum")
  }

  test("GIF and BMP payloads also decode through ImageIO with exact rasters") {
    import spark.implicits._
    for (fmt <- Seq("gif", "bmp")) {
      // 4x3 constant-value (v=9) image: component sum = 4*3*3*9 for any
      // lossless format; constant color survives GIF's palette exactly
      val img = Multimodal.syntheticImage(fmt, w = 4, h = 3, v = 9)
      assert(Multimodal.isDecodableImage(img), s"$fmt magic not detected")
      val out = Multimodal.decodeFeatures(
        Seq((1L, img, s"image/$fmt")).toDF("media_id", "payload", "format"))
        .collect().head
      assert(out.getInt(3) === 4 && out.getInt(4) === 3, s"$fmt dims")
      assert(out.getLong(6) === 4L * 3 * 3 * 9, s"$fmt raster pixel sum")
    }
    // fixture-path payloads (lowercase text) can never match the image
    // magics, so the catalog's m2 output is provably untouched
    assert(!Multimodal.isDecodableImage("big merge slow part".getBytes))
  }

  test("a synthesized WAV decodes through javax.sound with exact header and PCM sum") {
    import spark.implicits._
    // 2 channels, 5 frames, amplitude -12: sample sum = 5 * 2 * -12
    // (negative amplitude makes sign-extension part of the contract)
    val wav = Multimodal.syntheticWav(
      sampleRate = 16000, channels = 2, nFrames = 5, amp = -12)
    assert(Multimodal.isWav(wav))
    val rows = Multimodal.audioFeatures(
      Seq((7L, wav, "audio/wav"), (8L, "notaudio".getBytes, "audio/wav"))
        .toDF("media_id", "payload", "format")).collect()
    // the non-WAV payload is dropped, not decoded
    assert(rows.length === 1 && rows.head.getLong(0) === 7L)
    val r = rows.head
    assert(r.getInt(2) === 16000 && r.getInt(3) === 2)
    assert(r.getLong(4) === 5L)
    assert(r.getLong(5) === 5L * 2 * -12, "PCM sample sum")
  }

  test("corrupt magic-valid payloads degrade, never kill the task") {
    import spark.implicits._
    // PNG magic + garbage: ImageIO.read returns null or throws — the
    // row must take the stub path (null px_sum), not NPE the job; one
    // bad blob in a 100 TB corpus must never abort the query
    val fakePng = (Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte) ++ Array.fill[Byte](24)(0x41))
    val feat = Multimodal.decodeFeatures(
      Seq((1L, fakePng, "image/png")).toDF("media_id", "payload", "format"))
      .collect().head
    assert(feat.isNullAt(6), "corrupt PNG must fall back to the stub path")
    // thumbnails: the corrupt payload is dropped like a non-PNG
    assert(Multimodal.thumbnailFeatures(
      Seq((1L, fakePng)).toDF("media_id", "payload"), 2, 2).count() === 0)
    // WAV magic + corrupt fmt chunk: parser throws — dropped, not fatal
    val fakeWav = ("RIFF####WAVE".getBytes("ISO-8859-1") ++
      Array.fill[Byte](16)(0x41))
    assert(Multimodal.isWav(fakeWav), "fixture must pass the magic check")
    assert(Multimodal.audioFeatures(
      Seq((2L, fakeWav, "audio/wav")).toDF("media_id", "payload", "format"))
      .count() === 0)
  }

  test("resizeStub emits target dims and a smaller-or-equal payload") {
    val out = Multimodal.resizeStub(media(), targetW = 8, targetH = 8).collect()
    assert(out.forall(r => r.getInt(2) == 8 && r.getInt(3) == 8))
    val in = media().collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    out.foreach { r =>
      assert(r.getAs[Array[Byte]](4).length <= in(r.getLong(0)).length ||
        in(r.getLong(0)).isEmpty)
    }
  }

  test("thumbnailFeatures: the NN resize replays arithmetically; non-PNG drops") {
    import spark.implicits._
    val png = Multimodal.syntheticGradientPng(w = 8, h = 6, seed = 42L)
    val in = Seq((1L, png, "image/png"), (2L, "notpng".getBytes, "image/jpg"))
      .toDF("media_id", "payload", "format")
    val out = Multimodal.thumbnailFeatures(in, tw = 3, th = 3).collect()
    assert(out.length === 1, "the non-PNG payload must drop out")
    val expected = (for (x <- 0 until 3; y <- 0 until 3)
      yield 3L * ((42L + 7L * (x * 8 / 3) + 13L * (y * 6 / 3)) % 256)).sum
    val r = out.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) === (1L, 8L, 6L, 3L, 3L, expected),
      "the re-decoded thumbnail sum diverges from the raster arithmetic")
  }

  test("m8: scene cuts segment hand-built payloads exactly; short payloads drop") {
    import spark.implicits._
    // frameSize 16 / stride 8; byte sums: 16 a's = 1552, 8a+8z = 1752,
    // 16 z's = 1952; the 10% rule cuts on both the 1552->1752 and
    // 1752->1952 transitions (delta 200, x10 = 2000 > prev)
    val dir = tempDir("m8_fixture").toString
    Seq(
      (1L, "a" * 40), // 4 flat frames -> one scene
      (2L, "a" * 16 + "z" * 16), // 3 frames, every transition cuts
      (3L, "a" * 24 + "z" * 24), // 5 frames -> scenes of 2, 1, 2
      (4L, "short")) // < one frame -> absent from the report
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("test"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.MultimodalQ.m8SceneCuts(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq === Seq(
      (1L, 4L, 1L, 4L, 4000000L),
      (2L, 3L, 3L, 1L, 1000000L),
      (3L, 5L, 3L, 2L, 1666666L)),
      "scene segmentation diverges from the hand-computed cut structure")
  }

  test("sampleFrames: boundaries, count, and content") {
    import spark.implicits._
    val one = Seq((1L, "abcdefghij")).toDF("media_id", "payload")
    // frameSize=4, stride=3 over 10 chars -> frames at 1,4,7: abcd defg ghij
    val frames = Multimodal.sampleFrames(one, frameSize = 4, stride = 3)
      .orderBy("frame_no").collect()
      .map(r => (r.getLong(1), r.getString(2)))
    assert(frames.toSeq === Seq((0L, "abcd"), (1L, "defg"), (2L, "ghij")))
    // payload shorter than one frame -> zero rows (no descending-sequence trap)
    val short = Seq((2L, "ab")).toDF("media_id", "payload")
    assert(Multimodal.sampleFrames(short, 4, 3).count() === 0)
  }
}
