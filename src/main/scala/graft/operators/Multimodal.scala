package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video as opaque `binary`
  * payloads with typed metadata, plus the Spark-side plumbing for batch
  * decode / feature-extraction.
  *
  * The actual codec step is STUBBED (no image/audio libraries in this
  * environment): `decodeStub` produces deterministic fake features with
  * the exact schema, batching and partitioning a real decoder would use —
  * swap `fakeDecode` for a JNI/FFI call and nothing else changes.
  *
  * Scale design: payloads never shuffle (all derivations are map-side);
  * metadata extraction is pure column work; the decode path is
  * `mapPartitions` so a real implementation amortizes codec/model init
  * per partition, the same batching contract as a pandas/Arrow UDF.
  */
object Multimodal {

  /** Media metadata carried alongside every payload. */
  val metaSchema: StructType = StructType(Seq(
    StructField("media_type", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType)))

  /** Feature schema emitted by the (stub) decoder. */
  val featureSchema: StructType = StructType(Seq(
    StructField("n_bytes", LongType),
    StructField("first_byte", IntegerType),
    StructField("content_digest", StringType),
    StructField("feat", ArrayType(DoubleType))))

  /** Wrap a text column as a fake media payload (testdata has no real
    * blobs): payload = utf-8 bytes, metadata derived deterministically. */
  def asPayload(text: Column, mediaType: Column): Column = text.cast("binary")

  def syntheticMeta(nChars: Column, mediaType: Column): Column = struct(
    mediaType.as("media_type"),
    (pmod(nChars, lit(640)) + 1).cast("int").as("width"),
    (pmod(nChars, lit(480)) + 1).cast("int").as("height"),
    (pmod(nChars, lit(25)) + 1).cast("int").as("n_frames"))

  /** Column-level payload inspection (no decode): byte length, digest,
    * leading byte. Works on any binary column, stays in codegen. */
  def payloadStats(payload: Column): Column = struct(
    length(payload).cast("long").as("n_bytes"),
    md5(payload).as("content_digest"))

  /** Deterministic fake decode for one payload: stands in for the real
    * codec (`???` marks the remaining seam — PNG is REAL now, see
    * [[decodePngBatch]]/[[PngDecode]]; JPEG/WebP/MP4 pixel decode still
    * routes here). Features are reproducible functions of the bytes so
    * downstream tests are stable. */
  def fakeDecode(bytes: Array[Byte]): (Long, Int, Array[Double]) = {
    // real implementation: ??? (JNI decode → pixels → feature extractor;
    // the PNG arm is implemented JVM-side in PngDecode)
    val n = bytes.length.toLong
    val first = if (bytes.isEmpty) -1 else bytes(0) & 0xff
    val feat = Array.tabulate(4) { i =>
      var acc = 1125899906842597L // deterministic FNV-ish fold
      var j = i
      while (j < bytes.length) { acc = acc * 31 + (bytes(j) & 0xff); j += 4 }
      (acc & 0xffffL).toDouble / 65535.0
    }
    (n, first, feat)
  }

  /** Batch decode over partitions: the production contract. Input needs
    * columns (id: long, payload: binary); output adds the feature struct.
    * A real decoder initializes its codec once per partition here. */
  def decodeBatch(df: DataFrame, id: String = "doc_id",
                  payload: String = "payload"): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(id, LongType),
      StructField("n_bytes", LongType),
      StructField("first_byte", IntegerType),
      StructField("feat", ArrayType(DoubleType))))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val idIdx = df.schema.fieldIndex(id)
    val pIdx = df.schema.fieldIndex(payload)
    df.mapPartitions { rows =>
      // per-partition init happens here (codec/model load) — stubbed
      rows.map { r =>
        val (n, first, feat) = fakeDecode(r.getAs[Array[Byte]](pIdx))
        Row(r.getLong(idIdx), n, first, feat.toSeq)
      }
    }(enc)
  }

  /** REAL pixel decode through the same partition contract as
    * [[decodeBatch]] — the PNG arm of the codec seam, filled by
    * [[PngDecode]] (JDK Inflater + scanline unfilter; no native libs).
    * Output per payload: dimensions, channel count, and per-channel mean
    * pixel value (the canonical cheap feature); non-PNG or unsupported
    * payloads (16-bit, interlaced, truncated, other formats) emit null
    * stats with `decoded = false` — the cue that they remain on the
    * stub/JNI seam. Decode is map-side only: payload bytes never shuffle,
    * codec state is per-partition, and the decompression-bomb guard
    * (`maxPixels`) bounds per-row memory before inflation. */
  def decodePngBatch(df: DataFrame, id: String = "doc_id",
                     payload: String = "payload",
                     maxPixels: Long = 64L * 1024 * 1024): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(id, LongType),
      StructField("decoded", BooleanType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("channels", IntegerType),
      StructField("mean_channel", ArrayType(DoubleType))))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val idIdx = df.schema.fieldIndex(id)
    val pIdx = df.schema.fieldIndex(payload)
    df.mapPartitions { rows =>
      rows.map { r =>
        PngDecode.decode(r.getAs[Array[Byte]](pIdx), maxPixels) match {
          case Some(img) =>
            val sums = new Array[Long](img.channels)
            var i = 0
            while (i < img.pixels.length) {
              sums(i % img.channels) += img.pixels(i) & 0xff
              i += 1
            }
            val nPix = (img.width.toLong * img.height).toDouble
            Row(r.getLong(idIdx), true, img.width, img.height, img.channels,
              sums.map(_ / nPix).toSeq)
          case None =>
            Row(r.getLong(idIdx), false, null, null, null, null)
        }
      }
    }(enc)
  }

  /** Perceptual average-hash (aHash) over REAL decoded pixels — the
    * standard near-duplicate-IMAGE signature (resize-robust where a byte
    * digest is not): an 8×8 block grid over the first channel, bit = the
    * block's mean exceeds the image mean, packed MSB-first row-major
    * into one signed long. Near-dup images then reduce to small Hamming
    * distance — the [[Dedup.signaturePairs]] banding applies unchanged, so
    * image dedup rides the existing text-dedup machinery.
    *
    * Exactness contract (what the oracle mirrors): block boundaries are
    * integer floors (`bx·W/8`), and the bit compares
    * `blockSum · totalPixels > totalSum · blockPixels` — an exact
    * integer cross-multiplication, no division, no doubles — so the hash
    * is bit-identical on any engine for images ≤ 2²⁶ pixels (the
    * products stay under 2⁶³). Bit 63 (block 0,0) lands in the sign bit;
    * both engines wrap identically (two's complement).
    *
    * Map-side only: decode + 64 integer sums per image above the scan.
    * PNG arm (pure JVM); non-PNG/undecodable rows return
    * `decoded = false`. */
  def imageAHashBatch(df: DataFrame, id: String = "doc_id",
                      payload: String = "payload",
                      maxPixels: Long = 64L * 1024 * 1024): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(id, LongType),
      StructField("decoded", BooleanType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("ahash", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val idIdx = df.schema.fieldIndex(id)
    val pIdx = df.schema.fieldIndex(payload)
    df.mapPartitions { rows =>
      rows.map { r =>
        PngDecode.decode(r.getAs[Array[Byte]](pIdx), maxPixels) match {
          case Some(img) =>
            val (w, h, c) = (img.width, img.height, img.channels)
            var totalSum = 0L
            var p = 0
            val nPix = w.toLong * h
            while (p < nPix) { totalSum += img.pixels(p.toInt * c) & 0xff; p += 1 }
            var hash = 0L
            var by = 0
            while (by < 8) {
              var bx = 0
              while (bx < 8) {
                val (x0, x1) = (bx * w / 8, (bx + 1) * w / 8)
                val (y0, y1) = (by * h / 8, (by + 1) * h / 8)
                var (bs, bp) = (0L, 0L)
                var y = y0
                while (y < y1) {
                  var x = x0
                  while (x < x1) {
                    bs += img.pixels((y * w + x) * c) & 0xff; bp += 1; x += 1
                  }
                  y += 1
                }
                if (bp > 0 && bs * nPix > totalSum * bp)
                  hash |= 1L << (63 - (by * 8 + bx))
                bx += 1
              }
              by += 1
            }
            Row(r.getLong(idIdx), true, w, h, hash)
          case None => Row(r.getLong(idIdx), false, null, null, null)
        }
      }
    }(enc)
  }

  /** REAL pixel decode across formats through the same partition
    * contract: PNG routes to the pure-JVM [[PngDecode]] arm (native
    * channel view — 1-channel gray stays 1-channel); lossless WebP to
    * the pure-JVM [[WebpDecode]] VP8L arm (ARGB view — 3 or 4 channels);
    * JPEG/GIF/BMP route to the JDK-ImageIO arm ([[ImageIoDecode]], sRGB
    * view — 3 or 4 channels). Together they convert the codec seam into
    * working decode for every common raster format reachable without
    * native libraries; lossy-VP8 WebP and video frames stay on the
    * declared seam (format-classified by [[parseMediaDims]],
    * `decoded = false` here). All arms share the never-throw null-cue
    * contract and the header-first `maxPixels` bomb guard; decode is
    * map-side only. */
  def decodeImageBatch(df: DataFrame, id: String = "doc_id",
                       payload: String = "payload",
                       maxPixels: Long = 64L * 1024 * 1024): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(id, LongType),
      StructField("decoded", BooleanType),
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("channels", IntegerType),
      StructField("mean_channel", ArrayType(DoubleType))))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val idIdx = df.schema.fieldIndex(id)
    val pIdx = df.schema.fieldIndex(payload)
    val pngSig = Array(0x89, 0x50, 0x4e, 0x47).map(_.toByte)
    df.mapPartitions { rows =>
      rows.map { r =>
        val b = r.getAs[Array[Byte]](pIdx)
        val rid = r.getLong(idIdx)
        val isPng = b != null && b.length >= 4 && b.take(4).sameElements(pngSig)
        val isWebp = b != null && b.length >= 12 &&
          b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
          b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P'
        if (isWebp) WebpDecode.decode(b, maxPixels) match {
          case Some(img) =>
            val ch = img.channels // 4 iff any alpha < 255
            val sums = new Array[Long](ch)
            var i = 0
            while (i < img.pixels.length) {
              val p = img.pixels(i)
              sums(0) += (p >>> 16) & 0xff
              sums(1) += (p >>> 8) & 0xff
              sums(2) += p & 0xff
              if (ch == 4) sums(3) += (p >>> 24) & 0xff
              i += 1
            }
            val nPix = (img.width.toLong * img.height).toDouble
            Row(rid, true, "webp", img.width, img.height, ch,
              sums.map(_ / nPix).toSeq)
          // lossy VP8 / corrupt: the remaining codec-seam cue
          case None => Row(rid, false, "webp", null, null, null, null)
        } else if (isPng) PngDecode.decode(b, maxPixels) match {
          case Some(img) =>
            val sums = new Array[Long](img.channels)
            var i = 0
            while (i < img.pixels.length) {
              sums(i % img.channels) += img.pixels(i) & 0xff
              i += 1
            }
            val nPix = (img.width.toLong * img.height).toDouble
            Row(rid, true, "png", img.width, img.height, img.channels,
              sums.map(_ / nPix).toSeq)
          case None => Row(rid, false, "png", null, null, null, null)
        } else ImageIoDecode.decode(if (b == null) Array.emptyByteArray else b,
          maxPixels) match {
          case Some(img) =>
            Row(rid, true, img.format, img.width, img.height, img.channels,
              img.meanChannel.toSeq)
          case None => Row(rid, false, null, null, null, null, null)
        }
      }
    }(enc)
  }

  /** Image RESIZE through the partition contract: decode (any
    * ImageIO-readable format — PNG/JPEG/GIF/BMP), downsample to
    * (targetW, targetH), re-encode as PNG (lossless, so the output
    * payload round-trips bit-exactly through [[decodeImageBatch]]).
    *
    * Resampling is deterministic integer arithmetic, not Graphics2D:
    * exact BOX averaging (per-channel block mean, half-up rounding) when
    * the source dims are integer multiples of the target — the thumbnail
    * path a training pipeline runs — and nearest-neighbor (floor source
    * index) for every other ratio. Same null-cue contract: undecodable
    * or oversized payloads emit `decoded = false` with a null payload.
    *
    * Scale: map-side only — a 100 TB thumbnail job is a scan; payloads
    * never shuffle, per-row memory is bounded by `maxPixels` before any
    * pixel work. */
  def resizeImageBatch(df: DataFrame, targetW: Int, targetH: Int,
                       id: String = "doc_id", payload: String = "payload",
                       maxPixels: Long = 64L * 1024 * 1024): DataFrame = {
    require(targetW > 0 && targetH > 0, "target dims must be positive")
    val outSchema = StructType(Seq(
      StructField(id, LongType),
      StructField("decoded", BooleanType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val idIdx = df.schema.fieldIndex(id)
    val pIdx = df.schema.fieldIndex(payload)
    df.mapPartitions { rows =>
      rows.map { r =>
        val rid = r.getLong(idIdx)
        val b = r.getAs[Array[Byte]](pIdx)
        ImageIoDecode.readArgb(if (b == null) Array.emptyByteArray else b,
          maxPixels) match {
          case Some((w, h, px)) =>
            val out = new Array[Int](targetW * targetH)
            val boxable = w % targetW == 0 && h % targetH == 0 && w >= targetW && h >= targetH
            if (boxable) {
              val (bw, bh) = (w / targetW, h / targetH)
              val n = bw * bh
              var ty = 0
              while (ty < targetH) {
                var tx = 0
                while (tx < targetW) {
                  var sa, sr, sg, sb = 0L
                  var dy = 0
                  while (dy < bh) {
                    var dx = 0
                    val base = (ty * bh + dy) * w + tx * bw
                    while (dx < bw) {
                      val p = px(base + dx)
                      sa += (p >>> 24) & 0xff; sr += (p >>> 16) & 0xff
                      sg += (p >>> 8) & 0xff; sb += p & 0xff
                      dx += 1
                    }
                    dy += 1
                  }
                  def m(s: Long) = ((s + n / 2) / n).toInt // half-up block mean
                  out(ty * targetW + tx) =
                    (m(sa) << 24) | (m(sr) << 16) | (m(sg) << 8) | m(sb)
                  tx += 1
                }
                ty += 1
              }
            } else {
              var ty = 0
              while (ty < targetH) {
                val sy = (ty.toLong * h / targetH).toInt
                var tx = 0
                while (tx < targetW) {
                  out(ty * targetW + tx) = px(sy * w + (tx.toLong * w / targetW).toInt)
                  tx += 1
                }
                ty += 1
              }
            }
            val img = new java.awt.image.BufferedImage(
              targetW, targetH, java.awt.image.BufferedImage.TYPE_INT_ARGB)
            img.setRGB(0, 0, targetW, targetH, out, 0, targetW)
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            Row(rid, true, targetW, targetH, bos.toByteArray)
          case None => Row(rid, false, null, null, null)
        }
      }
    }(enc)
  }

  /** REAL audio decode through the same partition contract — the WAV/PCM
    * arm of the codec seam, filled by [[WavDecode]] (RIFF chunk walk, 8/16
    * bit integer PCM; no native libs). Output per payload: stream
    * parameters plus the canonical cheap per-channel features — peak
    * amplitude, RMS, and zero-crossing count. All integer arithmetic is
    * exact (sum-of-squares in longs: 16-bit samples square to < 2³¹, so
    * even `maxFrames` clips stay far from 2⁶³); the only doubles are the
    * final duration and RMS divisions. Non-WAV / float-PCM / truncated
    * payloads emit `decoded = false` with null stats — the null-cue
    * contract shared with [[decodePngBatch]]. Map-side only: payload
    * bytes never shuffle. */
  def decodeWavBatch(df: DataFrame, id: String = "doc_id",
                     payload: String = "payload",
                     maxFrames: Long = 16L * 1024 * 1024): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(id, LongType),
      StructField("decoded", BooleanType),
      StructField("sample_rate", IntegerType),
      StructField("channels", IntegerType),
      StructField("bits", IntegerType),
      StructField("n_frames", IntegerType),
      StructField("duration_s", DoubleType),
      StructField("peak", ArrayType(IntegerType)),
      StructField("rms", ArrayType(DoubleType)),
      StructField("zero_crossings", ArrayType(LongType))))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val idIdx = df.schema.fieldIndex(id)
    val pIdx = df.schema.fieldIndex(payload)
    df.mapPartitions { rows =>
      rows.map { r =>
        WavDecode.decode(r.getAs[Array[Byte]](pIdx), maxFrames) match {
          case Some(w) =>
            val ch = w.channels
            val peak = new Array[Int](ch)
            val sumSq = new Array[Long](ch)
            val zc = new Array[Long](ch)
            val neg = new Array[Boolean](ch) // previous sample's sign state
            var i = 0
            while (i < w.samples.length) {
              val c = i % ch
              val v = w.samples(i)
              val a = math.abs(v)
              if (a > peak(c)) peak(c) = a
              sumSq(c) += v.toLong * v
              val isNeg = v < 0
              if (i >= ch && isNeg != neg(c)) zc(c) += 1
              neg(c) = isNeg
              i += 1
            }
            Row(r.getLong(idIdx), true, w.sampleRate, ch, w.bitsPerSample,
              w.nFrames, w.nFrames.toDouble / w.sampleRate,
              peak.toSeq, sumSq.map(s => math.sqrt(s.toDouble / w.nFrames)).toSeq,
              zc.toSeq)
          case None =>
            Row(r.getLong(idIdx), false, null, null, null, null, null, null, null, null)
        }
      }
    }(enc)
  }

  /** Big-endian uint32 read from payload bytes [off, off+3] (1-based). */
  private def be32(payload: Column, off: Int): Column =
    conv(hex(substring(payload, off, 4)), 16, 10).cast("long")

  /** Little-endian uint16 read from payload bytes [off, off+1] (1-based). */
  private def le16(payload: Column, off: Int): Column =
    (conv(hex(substring(payload, off, 1)), 16, 10).cast("long")
      + conv(hex(substring(payload, off + 1, 1)), 16, 10).cast("long") * 256)

  /** REAL header decode (not the stub): container format + dimensions
    * from the magic bytes — PNG (IHDR big-endian dims at offset 17), GIF
    * (logical-screen little-endian dims at offset 7), JPEG (SOFn frame
    * header behind the variable-length segment chain, walked by the
    * native [[graft.functions.BinaryKernels.jpegDimsPacked]] kernel —
    * baseline SOF0 and progressive SOF2 included), and WebP (RIFF
    * container, VP8/VP8L/VP8X first-chunk variants via
    * [[graft.functions.BinaryKernels.webpDimsPacked]]). Everything stays
    * in whole-stage codegen, so a 100 TB media scan classifies and
    * measures without a UDF or a codec. Unknown containers yield
    * format='unknown' with null dims; a recognized container whose
    * dimensions can't be reached (truncated header) keeps its format
    * with null dims — either way the cue to route the payload to the
    * [[decodeBatch]] seam. Video containers: [[parseMediaDims]]. */
  def parseImageDims(payload: Column): Column = {
    val pngMagic = hex(substring(payload, 1, 8)) === "89504E470D0A1A0A"
    val gifMagic = substring(payload, 1, 6).cast("string").isin("GIF87a", "GIF89a")
    val jpegMagic = hex(substring(payload, 1, 2)) === "FFD8"
    // let-bind the packed width<<16|height through a 1-element transform
    // lambda: the lambda variable is evaluated ONCE, so the header
    // byte-walk kernel appears exactly once in the plan instead of
    // relying on subexpression elimination to merge a width and a height
    // instantiation
    val webpMagic = substring(payload, 1, 4).cast("string") === "RIFF" &&
      substring(payload, 9, 4).cast("string") === "WEBP"
    val packed = graft.functions.BinaryKernels.jpegDimsPackedCol(payload)
    val jpegStruct = element_at(
      transform(array(packed), p => struct(lit("jpeg").as("format"),
        shiftright(p, 16).as("width"),
        p.bitwiseAND(lit(0xFFFFL)).as("height"))), 1)
    val webpStruct = element_at(
      transform(array(graft.functions.BinaryKernels.webpDimsPackedCol(payload)),
        p => packedWideStruct("webp", p)), 1)
    val nullDim = lit(null).cast("long")
    when(pngMagic, struct(lit("png").as("format"),
        be32(payload, 17).as("width"), be32(payload, 21).as("height")))
      .when(gifMagic, struct(lit("gif").as("format"),
        le16(payload, 7).as("width"), le16(payload, 9).as("height")))
      .when(jpegMagic, jpegStruct)
      .when(webpMagic, webpStruct)
      .otherwise(struct(lit("unknown").as("format"),
        nullDim.as("width"), nullDim.as("height")))
  }

  /** (format, width, height) from a 32-bit-field packed dims value — the
    * WebP/MP4 kernels pack `(w << 32) | h` because their dims exceed 16
    * bits (24-bit VP8X canvases, 32-bit tkhd fields). */
  private def packedWideStruct(format: String, p: Column): Column =
    struct(lit(format).as("format"),
      shiftright(p, 32).as("width"),
      p.bitwiseAND(lit(0xFFFFFFFFL)).as("height"))

  /** [[parseImageDims]] widened to video containers: ISO-BMFF (MP4/MOV,
    * `ftyp` magic at offset 5) resolves the first visual track's tkhd
    * dimensions via the native box-walk kernel
    * [[graft.functions.BinaryKernels.mp4DimsPacked]]; everything else
    * falls through to the image chain. An MP4 whose `moov` is out of
    * reach (no-faststart file with only a header prefix stored) is
    * format='mp4' with null dims — the decode-seam cue, same contract as
    * a truncated JPEG. */
  def parseMediaDims(payload: Column): Column = {
    val mp4Magic = substring(payload, 5, 4).cast("string") === "ftyp"
    val mp4Struct = element_at(
      transform(array(graft.functions.BinaryKernels.mp4DimsPackedCol(payload)),
        p => packedWideStruct("mp4", p)), 1)
    when(mp4Magic, mp4Struct).otherwise(parseImageDims(payload))
  }

  /** REAL multi-frame sampling through the partition decode contract —
    * the video-style frame-extraction path for the container the JDK
    * decodes natively (animated GIF; see [[ImageIoDecode.frames]]).
    * Emits one row per sampled frame (up to `maxFrames`, evenly spaced
    * across the animation) with dimensions and mean RGB; an
    * undecodable/single-reader-rejected payload emits ONE row with
    * `decoded = false` and null stats — the shared poison-row cue.
    * Map-side only: payload bytes never shuffle, reader state is
    * per-task, and the per-frame bomb guard (`maxPixels`) runs on header
    * dimensions before any pixel read. Swapping in an MP4/H.264 frame
    * extractor (JNI/FFI) changes only the kernel call — the schema,
    * sampling policy, batching, and null-cue contract are this. */
  def sampleGifFramesBatch(df: DataFrame, id: String = "doc_id",
                           payload: String = "payload", maxFrames: Int = 8,
                           maxPixels: Long = 64L * 1024 * 1024): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(id, LongType),
      StructField("decoded", BooleanType),
      StructField("n_frames", IntegerType),
      StructField("frame_idx", IntegerType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("mean_r", DoubleType),
      StructField("mean_g", DoubleType),
      StructField("mean_b", DoubleType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val idIdx = df.schema.fieldIndex(id)
    val pIdx = df.schema.fieldIndex(payload)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val docId = r.getLong(idIdx)
        ImageIoDecode.frames(r.getAs[Array[Byte]](pIdx), maxFrames, maxPixels) match {
          case Some((n, fs)) => fs.map(f =>
            Row(docId, true, n, f.index, f.width, f.height,
              f.meanChannel(0), f.meanChannel(1), f.meanChannel(2)))
          case None =>
            Seq(Row(docId, false, null, null, null, null, null, null, null))
        }
      }
    }(enc)
  }

  /** REAL video frame sampling — the MP4 arm. No H.264 codec exists in
    * this environment, but frame SAMPLING at 100 TB is container work,
    * not codec work: [[Mp4SampleTable]] resolves the `stbl` tables into
    * per-frame (byte offset, byte size, decode time, keyframe) tuples,
    * so each sampled frame is a RANGE READ plus the declared pixel seam
    * — the distribution contract (map-side only, payloads never shuffle,
    * per-task parser state, poison-row null cue) is identical to
    * [[sampleGifFramesBatch]] and survives a JNI decoder swap unchanged.
    * Sampling policy: up to `maxFrames` evenly spaced keyframes (sync
    * samples; `syncOnly = false` samples the full frame list — the
    * every-frame featurization path). `nal_type` is parsed from the
    * sample's ACTUAL bytes (5 = IDR, 1 = non-IDR), proving the resolved
    * offsets land on real NAL boundaries; it is null when the byte range
    * lies outside the stored payload (no-faststart prefix ingest) or the
    * track is not length-prefixed AVC. */
  def sampleMp4FramesBatch(df: DataFrame, id: String = "doc_id",
                           payload: String = "payload", maxFrames: Int = 8,
                           syncOnly: Boolean = true): DataFrame = {
    require(maxFrames > 0, "maxFrames must be positive")
    val outSchema = StructType(Seq(
      StructField(id, LongType),
      StructField("decoded", BooleanType),
      StructField("codec", StringType),
      StructField("n_samples", IntegerType),
      StructField("n_sync", IntegerType),
      StructField("duration_s", DoubleType),
      StructField("sample_idx", IntegerType),
      StructField("time_s", DoubleType),
      StructField("keyframe", BooleanType),
      StructField("byte_offset", LongType),
      StructField("byte_size", LongType),
      StructField("nal_type", IntegerType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val idIdx = df.schema.fieldIndex(id)
    val pIdx = df.schema.fieldIndex(payload)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val docId = r.getLong(idIdx)
        val bytes = r.getAs[Array[Byte]](pIdx)
        Mp4SampleTable.parse(bytes) match {
          case Some(t) if t.timescale > 0 =>
            val pool = if (syncOnly) t.samples.filter(_.sync) else t.samples
            val m = pool.length
            val picked =
              if (m <= maxFrames) pool
              else (0 until maxFrames).map(k => pool((k.toLong * m / maxFrames).toInt))
            val durS = t.durationTs.toDouble / t.timescale
            if (picked.isEmpty)
              Seq(Row(docId, true, t.codec, t.nSamples, t.nSync, durS,
                null, null, null, null, null, null))
            else picked.map { s =>
              val nal = Mp4SampleTable.firstNalType(bytes, s.offset, s.size,
                t.nalLengthSize)
              Row(docId, true, t.codec, t.nSamples, t.nSync, durS,
                s.index, s.timeTs.toDouble / t.timescale, s.sync,
                s.offset, s.size, if (nal < 0) null else nal)
            }
          case _ =>
            Seq(Row(docId, false, null, null, null, null, null, null, null,
              null, null, null))
        }
      }
    }(enc)
  }

  /** Frame sampling over RAW BYTES: slice every k-th byte window —
    * ragged binary→array plumbing for containers with no JVM decoder
    * (the byte-window stand-in; [[sampleGifFramesBatch]] is the real
    * pixel path for GIF). */
  def sampleFrames(payload: Column, frameSize: Int, stride: Int): Column =
    filter(
      transform(sequence(lit(0), floor(length(payload) / stride).cast("int")),
        i => payload.substr((i * stride + 1).cast("int"), lit(frameSize))),
      f => length(f) === frameSize)
}
