package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  private lazy val media = {
    val rows = Seq(
      Row(1L, "image", "fake-image-bytes-aaaa".getBytes("UTF-8"),
        Row("image/png", 640, 480, null)),
      Row(2L, "video", "fake-video-bytes-bbbbbb".getBytes("UTF-8"),
        Row("video/mp4", 1920, 1080, 4000L)),
      Row(3L, "audio", "fake-audio".getBytes("UTF-8"),
        Row("audio/wav", null, null, 2500L))
    )
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.mediaSchema)
  }

  test("metadata projection never decodes: sizes and digests only") {
    val m = Multimodal.metadataOnly(media).collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[Long]("n_bytes")).toMap
    assert(m(1L) === "fake-image-bytes-aaaa".length.toLong)
    assert(m(3L) === "fake-audio".length.toLong)
  }

  test("decodeAndFeaturize: one feature vector per row, deterministic") {
    val a = Multimodal.decodeAndFeaturize(media, Multimodal.FakeCodec, featureDim = 8).collect()
    val b = Multimodal.decodeAndFeaturize(media.repartition(3), Multimodal.FakeCodec, featureDim = 8)
      .collect()
    assert(a.length === 3)
    val fa = a.map(r => r.getLong(0) -> r.getSeq[Float](3)).toMap
    val fb = b.map(r => r.getLong(0) -> r.getSeq[Float](3)).toMap
    assert(fa === fb) // partitioning-independent
    assert(fa(1L).length === 8)
    a.foreach { r => assert(r.getInt(1) > 0 && r.getInt(2) > 0) }
  }

  private def pngBytes(w: Int, h: Int)(color: (Int, Int) => Int): Array[Byte] = {
    val im = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) im.setRGB(x, y, color(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    bos.toByteArray
  }

  test("ImageIoCodec decodes REAL png bytes end-to-end through the batched path") {
    val rows = Seq(
      Row(10L, "image", pngBytes(64, 48)((_, _) => 0xFFFFFF), Row("image/png", 64, 48, null)),
      Row(11L, "image", pngBytes(8, 8)((_, _) => 0x000000), Row("image/png", 8, 8, null)),
      Row(12L, "image", "not an image at all".getBytes("UTF-8"), Row("image/png", 0, 0, null)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), Multimodal.mediaSchema)
    val out = Multimodal.decodeAndFeaturize(df, Multimodal.ImageIoCodec, featureDim = 4)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)), r.getSeq[Float](3))).toMap
    assert(out(10L)._1 === ((64, 48)))
    assert(out(11L)._1 === ((8, 8)))
    // luminance features: white image ~1.0 everywhere, black ~0.0
    assert(out(10L)._2.forall(f => f > 0.95f))
    assert(out(11L)._2.forall(f => f < 0.05f))
    // corrupt payload follows error->null discipline, not task failure
    assert(out(12L)._1 === ((-1, -1)) && out(12L)._2.isEmpty)
  }

  test("syntheticPngs are real decodable images, deterministic and partitioning-independent") {
    import spark.implicits._
    val ids = (0L until 12L).toDF("media_id")
    def run(parts: Int) = Multimodal
      .decodeAndFeaturize(
        Multimodal.syntheticPngs(ids.repartition(parts), "media_id", 32, 24),
        Multimodal.ImageIoCodec, featureDim = 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)), r.getSeq[Float](3)))
      .sortBy(_._1).toSeq
    val a = run(1)
    // every payload decoded at the synthesized size via the REAL codec
    assert(a.size === 12 && a.forall(_._2._1 === ((32, 24))))
    // pixels vary per id, so the luminance features distinguish images
    assert(a.map(_._2._2).distinct.size > 1)
    assert(a === run(7))
  }

  test("dHash banded near-dup pairs ≡ brute-force hamming (full recall); exact groups collapse") {
    import spark.implicits._
    // 8 clone groups × 4 variants; variant 3 renders pristine (= variant 0)
    val ids = (0L until 32L).map(id =>
      (id, id / 4, if (id % 4 == 3) 0L else id % 4)).toDF("media_id", "seed", "variant")
    val media = Multimodal.syntheticPngVariants(ids, "media_id", "seed", "variant", 32, 24)
    val hashes = Multimodal.dHash(media, Multimodal.ImageIoCodec)
    val hs = hashes.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs.size === 32)
    val brute = (for {
      a <- hs.keys; b <- hs.keys if a < b
      d = java.lang.Long.bitCount(hs(a) ^ hs(b)) if d <= 6
    } yield (a, b, d.toLong)).toSet
    val got = Multimodal.dHashNearDupPairs(hashes, maxDist = 6)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === brute)
    // the pristine twin in every group is an exact (dist 0) pair
    assert((0L until 8L).forall(s => got.contains((s * 4, s * 4 + 3, 0L))))
    // exact-hash collapse: every group's two pristine renders share a hash
    val groups = Multimodal.imageDupGroups(hashes)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert((0L until 8L).forall(s => groups(s * 4) >= 2L))
  }

  test("syntheticBmps: real imageio decode, dims exact, dHash ≡ the PNG twin") {
    import spark.implicits._
    val ids = (0L until 8L).toDF("id")
    val bmps = Multimodal.syntheticBmps(ids, "id", w = 9, h = 9)
    // payloads decode through the REAL javax.imageio path with exact dims
    val dims = Multimodal.decodeAndFeaturize(bmps, Multimodal.ImageIoCodec, 1)
      .select("media_id", "width", "height").collect()
    assert(dims.length === 8)
    assert(dims.forall(r => r.getInt(1) == 9 && r.getInt(2) == 9))
    // same pixel function as the PNG generator ⇒ identical perceptual hash
    val pngs = Multimodal.syntheticPngs(ids, "id", w = 9, h = 9)
    def hashes(m: org.apache.spark.sql.DataFrame) =
      Multimodal.dHash(m, Multimodal.ImageIoCodec).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hb = hashes(bmps)
    assert(hb === hashes(pngs))
    // partitioning independence of the generator
    assert(hashes(Multimodal.syntheticBmps(ids.repartition(5), "id", 9, 9)) === hb)
  }

  test("PpmCodec: P6 parse (dims, comments), error→null") {
    import spark.implicits._
    val ids = (0L until 6L).toDF("id")
    val ppms = Multimodal.syntheticPpms(ids, "id", w = 9, h = 9)
    val dims = Multimodal.decodeAndFeaturize(ppms, Multimodal.PpmCodec, 1)
      .select("media_id", "width", "height").collect()
    assert(dims.length === 6)
    assert(dims.forall(r => r.getInt(1) == 9 && r.getInt(2) == 9))
    // header robustness: comments + extra whitespace before dims parse
    val wild = ("P6\n# a comment line\n  12\t5\n# more\n255\n" +
      new String(Array.fill(12 * 5 * 3)('x'))).getBytes("US-ASCII")
    assert(Multimodal.PpmCodec.decodeDims(wild) === ((12, 5)))
    // error→null discipline: truncated pixels, bad magic, maxval > 255
    assert(Multimodal.PpmCodec.decodeDims("P6\n9 9\n255\nab".getBytes) === ((-1, -1)))
    assert(Multimodal.PpmCodec.decodeDims("P5\n9 9\n255\n".getBytes) === ((-1, -1)))
    assert(Multimodal.PpmCodec.extractFeatures(
      "P6\n2 2\n65535\n".getBytes ++ Array.fill[Byte](12)(1), 4).isEmpty)
  }

  test("SniffCodec dispatch: mixed BMP+PPM corpus, dHash identical across codecs") {
    import spark.implicits._
    val ids = (0L until 8L).toDF("id")
    val bmps = Multimodal.syntheticBmps(ids, "id", w = 9, h = 9)
    val ppms = Multimodal.syntheticPpms(ids, "id", w = 9, h = 9)
    def hashes(m: org.apache.spark.sql.DataFrame) =
      Multimodal.dHash(m, Multimodal.SniffCodec).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // same pixel function ⇒ the P6 decode must land on the BMP twin's
    // exact 64 bits — a one-pixel divergence in EITHER codec or a wrong
    // dispatch flips a comparison
    assert(hashes(ppms) === hashes(bmps))
    // the sniffer routes each format to the right decoder in one pass
    val mixed = bmps.filter(col("media_id") % 2 === 0)
      .unionByName(ppms.filter(col("media_id") % 2 =!= 0))
    val dims = Multimodal.decodeAndFeaturize(mixed, Multimodal.SniffCodec, 1)
      .select("media_id", "width", "height").collect()
    assert(dims.length === 8)
    assert(dims.forall(r => r.getInt(1) == 9 && r.getInt(2) == 9))
    // PPM payloads are NOT imageio-decodable (no PNM reader in the JDK):
    // the dispatch is load-bearing, not cosmetic
    val onePpm = ppms.filter(col("media_id") === 1L)
      .select("payload").collect().head.getAs[Array[Byte]](0)
    assert(Multimodal.ImageIoCodec.decodeDims(onePpm) === ((-1, -1)))
  }

  test("wavFingerprint: real javax.sound decode, header exact, error→null") {
    import spark.implicits._
    val ids = (0L until 6L).toDF("id")
    val wavs = Multimodal.syntheticWavs(ids, "id", nSamples = 520,
      sampleRate = 8000)
    val got = Multimodal.wavFingerprint(wavs, windows = 64).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.size === 6)
    got.values.foreach { r =>
      assert(r.getInt(1) === 8000 && r.getLong(2) === 520L)
      assert(!r.isNullAt(3))
    }
    // deterministic under repartitioning
    val again = Multimodal.wavFingerprint(
      Multimodal.syntheticWavs(ids.repartition(4), "id", 520, 8000))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(again === got.view.mapValues(_.getLong(3)).toMap)
    // different seeds give different fingerprints (noise-like samples)
    assert(got(0L).getLong(3) !== got(1L).getLong(3))
    // error→null: junk payload and a truncated header
    val junk = Seq((9L, "audio", "not a wav".getBytes))
      .toDF("media_id", "kind", "payload")
    assert(Multimodal.wavFingerprint(junk).collect().head.isNullAt(3))
  }

  test("syntheticGifs decode through imageio with exact header dims") {
    import spark.implicits._
    val ids = (0L until 4L).toDF("id")
    val gifs = Multimodal.syntheticGifs(ids, "id", w = 11, h = 7)
    val dims = Multimodal.decodeAndFeaturize(gifs, Multimodal.ImageIoCodec, 1)
      .select("media_id", "width", "height").collect()
    assert(dims.length === 4)
    assert(dims.forall(r => r.getInt(1) == 11 && r.getInt(2) == 7))
    // the header bytes the oracle slices really are LE16 dims at 6/8
    val payload = gifs.select("payload").collect().head.getAs[Array[Byte]](0)
    assert(new String(payload.take(6), "US-ASCII").startsWith("GIF8"))
    assert(((payload(6) & 0xFF) | ((payload(7) & 0xFF) << 8)) === 11)
    assert(((payload(8) & 0xFF) | ((payload(9) & 0xFF) << 8)) === 7)
  }

  test("syntheticJpegs decode through SniffCodec dispatch; SOF walk finds the dims") {
    import spark.implicits._
    val ids = (0L until 4L).toDF("id")
    val jpgs = Multimodal.syntheticJpegs(ids, "id", w = 13, h = 6)
    val dims = Multimodal.decodeAndFeaturize(jpgs, Multimodal.SniffCodec, 1)
      .select("media_id", "width", "height").collect()
    assert(dims.length === 4)
    assert(dims.forall(r => r.getInt(1) == 13 && r.getInt(2) == 6))
    // replay the oracle's marker-segment walk on the raw bytes: skip
    // segments by big-endian length from offset 2 until SOF0..SOF3,
    // then dims are BE16 at SOF payload +5 (height) / +7 (width)
    val p = jpgs.select("payload").collect().head.getAs[Array[Byte]](0)
    assert((p(0) & 0xFF) === 0xFF && (p(1) & 0xFF) === 0xD8) // SOI magic
    var pos = 2
    def b(i: Int): Int = p(i) & 0xFF
    while (!(b(pos + 1) >= 0xC0 && b(pos + 1) <= 0xC3) && b(pos + 1) != 0xDA)
      pos += 2 + 256 * b(pos + 2) + b(pos + 3)
    assert(b(pos + 1) >= 0xC0 && b(pos + 1) <= 0xC3, "no SOF before SOS")
    assert(256 * b(pos + 5) + b(pos + 6) === 6)  // height
    assert(256 * b(pos + 7) + b(pos + 8) === 13) // width
  }

  test("seeded variants: equal seeds render byte-identical payloads under fresh ids") {
    import spark.implicits._
    val ids = Seq((0L, 0L), (1L, 1L), (48L, 0L)).toDF("id", "seed")
    def payloads(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](2)).toMap
    val wavs = payloads(Multimodal.syntheticWavVariants(ids, "id", "seed", 520, 8000))
    assert(java.util.Arrays.equals(wavs(0L), wavs(48L)))
    assert(!java.util.Arrays.equals(wavs(0L), wavs(1L)))
    val bmps = payloads(Multimodal.syntheticBmpVariants(ids, "id", "seed", 9, 9))
    assert(java.util.Arrays.equals(bmps(0L), bmps(48L)))
    assert(!java.util.Arrays.equals(bmps(0L), bmps(1L)))
    // the dup pair lands at hamming 0 through the real decode paths
    val fp = Multimodal.wavFingerprint(
      Multimodal.syntheticWavVariants(ids, "id", "seed", 520, 8000))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(fp(0L) === fp(48L))
  }

  test("frame sampling: evenly spaced schedule for video rows only") {
    val frames = Multimodal.sampleFrames(media, frames = 4).collect()
    assert(frames.length === 4)
    assert(frames.forall(_.getAs[Long]("media_id") == 2L))
    val ts = frames.sortBy(_.getAs[Long]("frame_idx")).map(_.getAs[Long]("ts_ms"))
    assert(ts.toSeq === Seq(0L, 1000L, 2000L, 3000L))
  }
}
