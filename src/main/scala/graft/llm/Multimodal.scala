package graft.llm

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: image/audio/video as opaque `binary` payloads with
  * typed metadata, plus batch decode / feature-extract / frame-sample
  * operators.
  *
  * The Spark-side plumbing is real and tested — schema, partitioning,
  * iterator-batched `mapPartitions` (the Scala analog of `mapInPandas`:
  * one decoder instantiation per partition, streaming batches, never
  * collecting a partition into memory). Two codecs ship: [[ImageIoCodec]]
  * decodes real images end-to-end on the JDK's own `javax.imageio`
  * (PNG/JPEG/GIF/BMP, zero extra dependencies); [[FakeCodec]] is the
  * deterministic stand-in for payload kinds the JDK can't decode (audio,
  * video) — swap in JavaCV/ffmpeg implementations of the same `Codec`
  * trait without touching the plumbing.
  *
  * Scale notes: payloads stay columnar-compressed in parquet; metadata-only
  * queries never read the binary column (columnar pruning); decode runs
  * narrow (no shuffle) and should be partitioned by size —
  * `spark.sql.files.maxPartitionBytes` bounds executor memory per task
  * since each task holds at most a batch of decoded frames.
  */
object Multimodal {

  /** media row: payload + metadata struct (FIXTURES-style). */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType),         // image | audio | video
    StructField("payload", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("duration_ms", LongType)
    )))
  ))

  /** Decoder contract. Real implementations decode `payload`; the fake is
    * deterministic on the payload bytes so tests are stable.
    */
  trait Codec extends Serializable {
    def decodeDims(payload: Array[Byte]): (Int, Int)
    def extractFeatures(payload: Array[Byte], n: Int): Array[Float]
  }

  /** Deterministic stand-in: "dimensions" and "features" derived from byte
    * content. Replace with a real codec in production.
    */
  object FakeCodec extends Codec {
    def decodeDims(payload: Array[Byte]): (Int, Int) = {
      val h = java.util.Arrays.hashCode(payload)
      (math.abs(h % 1920) + 1, math.abs((h / 1920) % 1080) + 1)
    }
    def extractFeatures(payload: Array[Byte], n: Int): Array[Float] = {
      val out = new Array[Float](n)
      var i = 0
      while (i < n) {
        out(i) = (if (payload.isEmpty) 0 else payload(i % payload.length).toInt) / 128.0f
        i += 1
      }
      out
    }
  }

  /** The n-cell mean-luminance grid shared by every image codec (the
    * classic thumbnail-embedding baseline): deterministic, resolution-
    * independent, and the fixed arithmetic both [[dHash]] and the
    * byte-slicing oracles replay (299R + 587G + 114B, order-preserving
    * divisions by positive constants).
    */
  private def lumaGrid(im: java.awt.image.BufferedImage, n: Int): Array[Float] = {
    val side = math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      val (cx, cy) = (i % side, i / side)
      val x0 = cx * im.getWidth / side
      val x1 = math.max(x0 + 1, (cx + 1) * im.getWidth / side)
      val y0 = cy * im.getHeight / side
      val y1 = math.max(y0 + 1, (cy + 1) * im.getHeight / side)
      var sum = 0.0; var cnt = 0
      var y = y0
      while (y < y1 && y < im.getHeight) {
        var x = x0
        while (x < x1 && x < im.getWidth) {
          val rgb = im.getRGB(x, y)
          sum += (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 + (rgb & 0xFF) * 114) / 1000.0
          cnt += 1; x += 1
        }
        y += 1
      }
      out(i) = if (cnt == 0) 0f else (sum / cnt / 255.0).toFloat
      i += 1
    }
    out
  }

  /** Real image codec on the JDK's own `javax.imageio` (PNG/JPEG/GIF/BMP —
    * zero extra dependencies). Decode failures follow the HTTP source's
    * error→null discipline in-band: undecodable payloads yield (-1, -1)
    * dims / empty features rather than failing the task — at 100 TB a
    * fraction of corrupt blobs is a certainty, and one bad byte string
    * must not kill a 10-hour decode pass. Features are the [[lumaGrid]].
    */
  object ImageIoCodec extends Codec {
    private def read(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
      catch { case _: Exception => None }

    def decodeDims(payload: Array[Byte]): (Int, Int) =
      read(payload).map(im => (im.getWidth, im.getHeight)).getOrElse((-1, -1))

    def extractFeatures(payload: Array[Byte], n: Int): Array[Float] =
      read(payload) match {
        case None => Array.empty[Float]
        case Some(im) => lumaGrid(im, n)
      }
  }

  /** Minimal binary-PPM (P6) codec — `javax.imageio` ships no PNM
    * reader, so the parse is hand-rolled against the Netpbm spec
    * (magic "P6", then whitespace/`#`-comment-separated width, height,
    * maxval ≤ 255, ONE whitespace byte, then w·h RGB byte triplets in
    * top-down row order). Same error→null discipline as
    * [[ImageIoCodec]]: malformed payloads yield (-1,-1) dims / empty
    * features rather than failing the task. This is the decode rung for
    * the uncompressed interchange format a media pipeline meets next to
    * BMP; its fixed byte layout is what lets the DuckDB oracle replay
    * the decode by slicing payload bytes.
    */
  object PpmCodec extends Codec {
    private def parse(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
      try {
        if (payload == null || payload.length < 11 ||
            payload(0) != 'P'.toByte || payload(1) != '6'.toByte) None
        else {
          var pos = 2
          def skipWs(): Unit = {
            var in = true
            while (in && pos < payload.length) {
              val c = payload(pos).toChar
              if (c == '#') {
                while (pos < payload.length && payload(pos) != '\n'.toByte) pos += 1
              } else if (c.isWhitespace) pos += 1
              else in = false
            }
          }
          def int(): Int = {
            skipWs(); var v = 0; var any = false
            while (pos < payload.length && payload(pos) >= '0'.toByte &&
                payload(pos) <= '9'.toByte) {
              v = v * 10 + (payload(pos) - '0'.toByte); pos += 1; any = true
            }
            if (any) v else -1
          }
          val w = int(); val h = int(); val mx = int()
          pos += 1 // the single whitespace byte after maxval
          // pixel-size check in Long: unbounded ASCII dims can make
          // w*h*3 wrap Int, letting an adversarial header pass the
          // length guard and then blow the BufferedImage allocation
          if (w <= 0 || h <= 0 || w > 65536 || h > 65536 ||
              mx <= 0 || mx > 255 ||
              payload.length.toLong < pos.toLong + 3L * w * h) None
          else {
            val im = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val o = pos + (y * w + x) * 3
                im.setRGB(x, y,
                  ((payload(o) & 0xFF) << 16) | ((payload(o + 1) & 0xFF) << 8) |
                    (payload(o + 2) & 0xFF))
                x += 1
              }
              y += 1
            }
            Some(im)
          }
        }
      } catch { case _: Exception => None }

    def decodeDims(payload: Array[Byte]): (Int, Int) =
      parse(payload).map(im => (im.getWidth, im.getHeight)).getOrElse((-1, -1))

    def extractFeatures(payload: Array[Byte], n: Int): Array[Float] =
      parse(payload) match {
        case None => Array.empty[Float]
        case Some(im) => lumaGrid(im, n)
      }
  }

  /** Magic-byte codec dispatch — the multi-format corpus entry point a
    * real media crawl needs (one pass over a mixed BMP/PNG/PPM/JPEG
    * blob column, no per-format partitioning): "P6" → [[PpmCodec]];
    * everything else (PNG/BMP/GIF/JPEG magics, all `javax.imageio`
    * territory) → [[ImageIoCodec]]. Unknown/short payloads fall through
    * to ImageIO, whose error→null discipline absorbs them.
    */
  object SniffCodec extends Codec {
    private def pick(payload: Array[Byte]): Codec =
      if (payload != null && payload.length >= 2 &&
          payload(0) == 'P'.toByte && payload(1) == '6'.toByte) PpmCodec
      else ImageIoCodec
    def decodeDims(payload: Array[Byte]): (Int, Int) =
      pick(payload).decodeDims(payload)
    def extractFeatures(payload: Array[Byte], n: Int): Array[Float] =
      pick(payload).extractFeatures(payload, n)
  }

  private val syntheticSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType),
    StructField("payload", BinaryType)))

  private def renderPng(seed: Long, variant: Long, w: Int, h: Int): Array[Byte] = {
    val im = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = ((seed * 2654435761L + x * 97L + y * 193L) & 0xFFFFFFL).toInt
        im.setRGB(x, y, v)
        x += 1
      }
      y += 1
    }
    // variant > 0: a small black patch — the "same image, tiny overlay"
    // shape (watermark, timestamp) perceptual hashing exists to catch
    if (variant > 0) {
      var py = 0
      while (py < 2 && py < h) {
        var px = (2 * variant).toInt % math.max(1, w - 2)
        val pxEnd = px + 2
        while (px < pxEnd && px < w) { im.setRGB(px, py, 0); px += 1 }
        py += 1
      }
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    bos.toByteArray
  }

  /** Hand-encoded 24-bit BI_RGB BMP (54-byte header, bottom-up rows,
    * 4-byte row padding) with the SAME pixel function as [[renderPng]] —
    * setRGB(x, y, v) there stores r = v»16, g = v»8, b = v, and BMP
    * stores those three bytes as B, G, R at a fixed arithmetic offset.
    */
  private def renderBmp(seed: Long, w: Int, h: Int): Array[Byte] = {
    val stride = ((w * 3 + 3) / 4) * 4
    val size = 54 + stride * h
    val b = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte)
    b.putInt(size)        // file size
    b.putInt(0)           // reserved
    b.putInt(54)          // pixel-data offset
    b.putInt(40)          // BITMAPINFOHEADER
    b.putInt(w)
    b.putInt(h)           // positive height = bottom-up row order
    b.putShort(1)         // planes
    b.putShort(24)        // bpp
    b.putInt(0)           // BI_RGB (uncompressed)
    b.putInt(stride * h)  // image size
    b.putInt(2835)        // x pixels/metre (72 dpi)
    b.putInt(2835)
    b.putInt(0)           // colors used
    b.putInt(0)           // colors important
    var fy = 0            // file row 0 = image row h-1 (bottom-up)
    while (fy < h) {
      val y = h - 1 - fy
      var x = 0
      while (x < w) {
        val v = ((seed * 2654435761L + x * 97L + y * 193L) & 0xFFFFFFL).toInt
        b.put((v & 0xFF).toByte)          // B
        b.put(((v >> 8) & 0xFF).toByte)   // G
        b.put(((v >> 16) & 0xFF).toByte)  // R
        x += 1
      }
      var p = w * 3
      while (p < stride) { b.put(0.toByte); p += 1 }
      fy += 1
    }
    b.array()
  }

  /** Deterministic synthetic 24-bit BMP payloads — the UNCOMPRESSED twin
    * of [[syntheticPngs]] with identical per-id pixels. PNG's inflate
    * step is what keeps a PNG decode outside SQL's reach; BMP has no
    * such step — every pixel sits at a fixed arithmetic byte offset
    * (54 + (h−1−y)·stride + 3x, bytes B,G,R), so a SQL engine can
    * re-derive dims AND the full dHash by slicing payload bytes while
    * the Spark side still runs the REAL `javax.imageio` decode path.
    * Per-row generation: independent of partitioning and run order.
    */
  def syntheticBmps(ids: DataFrame, idCol: String, w: Int, h: Int): DataFrame = {
    val spark = ids.sparkSession
    val rdd = ids.select(col(idCol).cast("long")).rdd.mapPartitions { rows =>
      rows.map(r => Row(r.getLong(0), "image", renderBmp(r.getLong(0), w, h)))
    }
    spark.createDataFrame(rdd, syntheticSchema)
  }

  /** Hand-encoded binary PPM (P6) with the SAME pixel function as
    * [[renderPng]]/[[renderBmp]]: header `P6\n<w> <h>\n255\n`, then RGB
    * byte triplets top-down — pixel (x,y)'s R byte sits at
    * headerLen + 3·(y·w + x). Identical pixels to the BMP twin mean the
    * two formats dHash to the SAME 64 bits for equal seeds — the
    * cross-codec identity [[SniffCodec]]'s dispatch is tested against.
    */
  private def renderPpm(seed: Long, w: Int, h: Int): Array[Byte] = {
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + w * h * 3)
    System.arraycopy(header, 0, out, 0, header.length)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = ((seed * 2654435761L + x * 97L + y * 193L) & 0xFFFFFFL).toInt
        val o = header.length + (y * w + x) * 3
        out(o) = ((v >> 16) & 0xFF).toByte     // R
        out(o + 1) = ((v >> 8) & 0xFF).toByte  // G
        out(o + 2) = (v & 0xFF).toByte         // B
        x += 1
      }
      y += 1
    }
    out
  }

  /** [[syntheticBmps]] with an explicit seed per id — equal seeds render
    * byte-identical images under fresh ids (the exact-dup corpus shape;
    * the PNG twin [[syntheticPngVariants]] adds overlay variants on top).
    */
  def syntheticBmpVariants(df: DataFrame, idCol: String, seedCol: String,
      w: Int, h: Int): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select(col(idCol).cast("long"), col(seedCol).cast("long"))
      .rdd.mapPartitions { rows =>
        rows.map(r => Row(r.getLong(0), "image", renderBmp(r.getLong(1), w, h)))
      }
    spark.createDataFrame(rdd, syntheticSchema)
  }

  /** Deterministic synthetic P6 payloads — the second uncompressed twin
    * of [[syntheticPngs]] (see [[syntheticBmps]]): every pixel at a
    * fixed arithmetic byte offset, so a SQL engine re-derives dims AND
    * the full dHash by slicing payload bytes while the Spark side runs
    * the real [[PpmCodec]] parse. Per-row generation: independent of
    * partitioning and run order.
    */
  def syntheticPpms(ids: DataFrame, idCol: String, w: Int, h: Int): DataFrame = {
    val spark = ids.sparkSession
    val rdd = ids.select(col(idCol).cast("long")).rdd.mapPartitions { rows =>
      rows.map(r => Row(r.getLong(0), "image", renderPpm(r.getLong(0), w, h)))
    }
    spark.createDataFrame(rdd, syntheticSchema)
  }

  /** Deterministic synthetic PNG payloads, one per input id — REAL encoded
    * images (`javax.imageio`) whose pixels derive arithmetically from the
    * id, so a decode pass exercises the full codec path (encode → bytes →
    * decode → pixels) without external media in the sandbox. Per-row
    * generation: output is independent of partitioning and run order.
    */
  def syntheticPngs(ids: DataFrame, idCol: String, w: Int, h: Int): DataFrame = {
    val spark = ids.sparkSession
    val rdd = ids.select(col(idCol).cast("long")).rdd.mapPartitions { rows =>
      rows.map(r => Row(r.getLong(0), "image", renderPng(r.getLong(0), 0L, w, h)))
    }
    spark.createDataFrame(rdd, syntheticSchema)
  }

  /** Deterministic synthetic GIF payloads — the third real
    * `javax.imageio` format on the decode surface (after PNG and BMP).
    * GIF's LZW pixel stream is outside SQL's reach (like PNG's
    * inflate), but its logical-screen header is plain bytes: width and
    * height are little-endian u16 at offsets 6 and 8 — so the DIMS leg
    * of the decode is fully oracle-checkable while the pixel leg rides
    * the same ImageIO machinery the BMP twin already hash-verifies.
    */
  def syntheticGifs(ids: DataFrame, idCol: String, w: Int, h: Int): DataFrame = {
    val spark = ids.sparkSession
    val rdd = ids.select(col(idCol).cast("long")).rdd.mapPartitions { rows =>
      rows.map { r =>
        val im = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = ((r.getLong(0) * 2654435761L + x * 97L + y * 193L) & 0xFFFFFFL).toInt
            im.setRGB(x, y, v)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(im, "gif", bos)
        Row(r.getLong(0), "image", bos.toByteArray)
      }
    }
    spark.createDataFrame(rdd, syntheticSchema)
  }

  /** Deterministic synthetic JPEG payloads — the fourth real
    * `javax.imageio` format on the decode surface. JPEG's entropy-coded
    * pixel stream is lossy and implementation-defined (unlike BMP/PPM,
    * even the decoded pixels aren't a stable oracle surface), but the
    * frame header is plain bytes: a marker-segment walk from SOI to the
    * SOF0/SOF2 frame marker reads height/width as big-endian u16 at
    * fixed offsets inside the SOF payload — so the DIMS leg of the
    * decode is fully oracle-checkable (the q_gif_dims discipline) while
    * the pixel leg stays explicitly out of scope.
    */
  def syntheticJpegs(ids: DataFrame, idCol: String, w: Int, h: Int): DataFrame = {
    val spark = ids.sparkSession
    val rdd = ids.select(col(idCol).cast("long")).rdd.mapPartitions { rows =>
      rows.map { r =>
        val im = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = ((r.getLong(0) * 2654435761L + x * 97L + y * 193L) & 0xFFFFFFL).toInt
            im.setRGB(x, y, v)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(im, "jpg", bos)
        Row(r.getLong(0), "image", bos.toByteArray)
      }
    }
    spark.createDataFrame(rdd, syntheticSchema)
  }

  /** [[syntheticPngs]] with an explicit (seed, variant) per id: equal seeds
    * render the same base image; variant > 0 adds a tiny overlay patch —
    * the near-duplicate-image corpus shape (re-posts with watermarks) the
    * perceptual-hash rung is built to catch.
    */
  def syntheticPngVariants(df: DataFrame, idCol: String, seedCol: String,
      variantCol: String, w: Int, h: Int): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select(col(idCol).cast("long"), col(seedCol).cast("long"),
      col(variantCol).cast("long")).rdd.mapPartitions { rows =>
      rows.map(r => Row(r.getLong(0), "image",
        renderPng(r.getLong(1), r.getLong(2), w, h)))
    }
    spark.createDataFrame(rdd, syntheticSchema)
  }

  private val decodedSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("features", ArrayType(FloatType))))

  /** Batch decode + feature extraction. `mapPartitions` so the codec is
    * initialized once per partition, and rows are pulled in bounded
    * `batchSize` groups (the Arrow-batch shape of a scalar-iterator Pandas
    * UDF): a real decoder amortizes setup per batch, and memory per task is
    * bounded by one decoded batch, never a whole partition.
    */
  def decodeAndFeaturize(media: DataFrame, codec: Codec, featureDim: Int = 16,
      batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select(col("media_id"), col("payload")).rdd.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        // one codec invocation context per batch
        batch.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          val (w, h) = codec.decodeDims(payload)
          Row(id, w, h, codec.extractFeatures(payload, featureDim).toSeq)
        }
      }
    }
    spark.createDataFrame(rdd, decodedSchema)
  }

  private val hashedSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("dhash", LongType)))

  /** Perceptual difference-hash (dHash) per image: decode, sample a 9×9
    * mean-luminance grid (the codec's feature extractor), and emit 64 bits
    * of horizontal gradient signs — bit(r,c) = lum(r,c) < lum(r,c+1) over
    * the 8×8 upper-left comparisons. Visually-identical images (re-encodes,
    * slight crops, small overlays) land on equal or near-equal hashes;
    * hamming distance is the image-similarity metric. Undecodable payloads
    * hash to null (the error→null discipline).
    */
  def dHash(media: DataFrame, codec: Codec, batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select(col("media_id"), col("payload")).rdd.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap(_.map { r =>
        val lum = codec.extractFeatures(r.getAs[Array[Byte]](1), 81) // 9×9 grid
        val h: java.lang.Long =
          if (lum.length < 81) null
          else {
            var bits = 0L
            var i = 0
            while (i < 64) {
              val (row9, col9) = (i / 8, i % 8)
              if (lum(row9 * 9 + col9) < lum(row9 * 9 + col9 + 1))
                bits |= (1L << i)
              i += 1
            }
            java.lang.Long.valueOf(bits)
          }
        Row(r.getLong(0), h)
      })
    }
    spark.createDataFrame(rdd, hashedSchema)
  }

  /** Near-duplicate image pairs by banded hamming over [[dHash]] output —
    * the image rung of the dedup ladder, same pigeonhole discipline as
    * `SimHashDedup`: split the 64-bit hash into `maxDist`+1 bands, so any
    * pair within `maxDist` bits shares at least one exact band (full
    * recall); candidates meet in a band-key bucket join and verify with
    * one `bit_count(xor)` — never an all-pairs comparison. Returns
    * (id_a < id_b, dist ≤ maxDist).
    *
    * Scale: band buckets are the only fan-out; a degenerate corpus (many
    * identical hashes) collapses via the exact-hash group-by FIRST —
    * callers dedup exact matches with [[imageDupGroups]] and feed one
    * representative per hash here, the same exact-set collapse the text
    * near-dup pipelines pin.
    */
  def dHashNearDupPairs(hashes: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 8, "maxDist in [0, 8)")
    val bands = maxDist + 1
    val bandCols = (0 until bands).map { i =>
      val lo = i * 64 / bands
      val width = (i + 1) * 64 / bands - lo
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      struct(lit(i).as("band"),
        shiftrightunsigned(col("dhash"), lo).bitwiseAND(lit(mask)).as("key"))
    }
    val e = hashes.filter(col("dhash").isNotNull)
      .select(col("media_id"), col("dhash"), explode(array(bandCols: _*)).as("bk"))
      .select(col("media_id"), col("dhash"), col("bk.band").as("band"), col("bk.key").as("key"))
    val a = e.select(col("band"), col("key"), col("media_id").as("id_a"), col("dhash").as("ha"))
    val b = e.select(col("band"), col("key"), col("media_id").as("id_b"), col("dhash").as("hb"))
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(ha ^ hb)").cast("long").as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** Exact perceptual-dup groups: images sharing a dHash collapse to the
    * min-id representative — rung 0 of the image dedup ladder (and the
    * exact-collapse feeding [[dHashNearDupPairs]] at scale).
    */
  def imageDupGroups(hashes: DataFrame): DataFrame =
    hashes.filter(col("dhash").isNotNull)
      .groupBy(col("dhash"))
      .agg(min(col("media_id")).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Frame sampling for video-kind rows: emit `frames` evenly spaced
    * (media_id, frame_idx, ts_ms) rows — pure expression, generator-based,
    * no decode needed for the schedule itself.
    */
  def sampleFrames(media: DataFrame, frames: Int): DataFrame =
    media.filter(col("kind") === "video")
      .select(col("media_id"), col("meta.duration_ms").as("duration_ms"),
        posexplode(sequence(lit(0), lit(frames - 1))))
      .select(col("media_id"), col("pos").cast("long").as("frame_idx"),
        (col("col") * col("duration_ms") / frames).cast("long").as("ts_ms"))

  /** Metadata projection: never touches `payload` (columnar pruning keeps
    * the scan tiny even when payloads are GB-scale).
    */
  def metadataOnly(media: DataFrame): DataFrame =
    media.select(col("media_id"), col("kind"), col("meta.mime").as("mime"),
      octet_length(col("payload")).cast("long").as("n_bytes"), md5(col("payload")).as("digest"))

  // ---- audio (PCM WAV) ---------------------------------------------

  /** Canonical 44-byte RIFF/WAVE header + 16-bit LE mono PCM with a
    * deterministic integer sample function of (seed, index) — the audio
    * twin of [[renderBmp]]: every sample sits at byte 44 + 2i, so a SQL
    * engine re-derives the sample rate, frame count AND the full
    * loudness fingerprint by slicing payload bytes while the Spark side
    * runs the REAL `javax.sound.sampled` decode.
    */
  private def renderWav(seed: Long, nSamples: Int, sampleRate: Int): Array[Byte] = {
    val dataLen = nSamples * 2
    val b = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")); b.putInt(36 + dataLen)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")); b.putInt(16)
    b.putShort(1)                   // PCM
    b.putShort(1)                   // mono
    b.putInt(sampleRate)
    b.putInt(sampleRate * 2)        // byte rate
    b.putShort(2)                   // block align
    b.putShort(16)                  // bits per sample
    b.put("data".getBytes("US-ASCII")); b.putInt(dataLen)
    var i = 0
    while (i < nSamples) {
      val s = (((seed * 2654435761L + i * 9973L) & 0xFFFFL) - 32768L).toShort
      b.putShort(s)
      i += 1
    }
    b.array()
  }

  /** Deterministic synthetic PCM WAV payloads, one per id (kind =
    * "audio"). Per-row generation: independent of partitioning and run
    * order.
    */
  def syntheticWavs(ids: DataFrame, idCol: String, nSamples: Int,
      sampleRate: Int): DataFrame = {
    val spark = ids.sparkSession
    val rdd = ids.select(col(idCol).cast("long")).rdd.mapPartitions { rows =>
      rows.map(r => Row(r.getLong(0), "audio",
        renderWav(r.getLong(0), nSamples, sampleRate)))
    }
    spark.createDataFrame(rdd, syntheticSchema)
  }

  /** [[syntheticWavs]] with an explicit seed per id — equal seeds render
    * byte-identical clips under fresh ids: the duplicate-bearing corpus
    * shape the audio dedup rung is tested against.
    */
  def syntheticWavVariants(df: DataFrame, idCol: String, seedCol: String,
      nSamples: Int, sampleRate: Int): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select(col(idCol).cast("long"), col(seedCol).cast("long"))
      .rdd.mapPartitions { rows =>
        rows.map(r => Row(r.getLong(0), "audio",
          renderWav(r.getLong(1), nSamples, sampleRate)))
      }
    spark.createDataFrame(rdd, syntheticSchema)
  }

  private val wavFpSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("sample_rate", IntegerType),
    StructField("n_frames", LongType),
    StructField("fp", LongType)))

  /** Audio loudness fingerprint over the REAL JDK decode path
    * (`javax.sound.sampled.AudioSystem` — no external codec): decode the
    * PCM stream, split it into `windows`+1 equal windows, take each
    * window's mean |amplitude| (normalized /2¹⁵ — the float surface a
    * real feature extractor would emit), and hash the 64 consecutive
    * loudness gradients exactly like [[dHash]] hashes luminance
    * gradients: bit i = loud(i) < loud(i+1). Equal or near-equal
    * fingerprints = same clip (re-encodes, level-preserved copies) —
    * the audio rung of the dedup ladder. Undecodable / non-16-bit-mono
    * payloads yield NULL (error→null discipline).
    *
    * Deterministic: window boundaries are integer arithmetic
    * (w·n/(windows+1)); comparing mean |s|/2¹⁵ floats over equal-width
    * windows ≡ comparing the exact integer |s| sums (division by a
    * shared positive constant is order-preserving and injective on
    * these sums), which is exactly what the byte-slicing oracle does.
    */
  def wavFingerprint(media: DataFrame, windows: Int = 64,
      batchSize: Int = 64): DataFrame = {
    require(windows >= 1 && windows <= 512, s"windows in [1,512], got $windows")
    val spark = media.sparkSession
    val nw = windows + 1
    val rdd = media.select(col("media_id"), col("payload")).rdd.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap(_.map { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        val decoded =
          try {
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(payload))
            val fmt = ais.getFormat
            if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1 ||
                fmt.isBigEndian) None
            else {
              val bytes = ais.readAllBytes()
              val n = bytes.length / 2
              val samples = new Array[Int](n)
              var i = 0
              while (i < n) {
                samples(i) = (bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xFF)
                i += 1
              }
              Some((fmt.getSampleRate.toInt, samples))
            }
          } catch { case _: Exception => None }
        decoded match {
          case None => Row(id, null, null, null)
          case Some((rate, samples)) =>
            val n = samples.length
            if (n < nw) Row(id, Integer.valueOf(rate), java.lang.Long.valueOf(n.toLong), null)
            else {
              val loud = new Array[Double](nw)
              var w = 0
              while (w < nw) {
                val x0 = w * n / nw; val x1 = (w + 1) * n / nw
                var s = 0L; var i = x0
                while (i < x1) { s += math.abs(samples(i).toLong); i += 1 }
                loud(w) = s.toDouble / (x1 - x0) / 32768.0
                w += 1
              }
              var bits = 0L
              var i = 0
              while (i < windows && i < 64) {
                if (loud(i) < loud(i + 1)) bits |= (1L << i)
                i += 1
              }
              Row(id, Integer.valueOf(rate), java.lang.Long.valueOf(n.toLong),
                java.lang.Long.valueOf(bits))
            }
        }
      })
    }
    spark.createDataFrame(rdd, wavFpSchema)
  }
}
