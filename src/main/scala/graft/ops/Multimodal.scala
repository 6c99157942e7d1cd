package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video payloads as opaque
  * `BinaryType` columns with typed metadata.
  *
  * IMAGE decode and feature extraction are REAL: `javax.imageio`
  * (PNG/JPEG/BMP/GIF) ships with the JDK, so [[decodeImageFeatures]] runs
  * actual codecs inside typed `Dataset.mapPartitions` — one iterator per
  * partition, no driver involvement, the Scala analogue of `mapInPandas`.
  * VIDEO pixel decode is REAL too: [[videoFrameFeatures]] decodes every
  * sampled frame of animated-GIF and MJPEG containers through the same JDK
  * codecs — the two motion formats expressible pure-JVM; an H.264-class
  * codec would slot into the same sniff-and-decode seam. [[sampleFrames]]
  * models the reshape without decoding.
  */
object Multimodal {

  /** Wrap a string column as a binary payload with metadata — stands in for
    * reading real media bytes; pure expressions, codegen'd.
    */
  def attachPayload(df: DataFrame, srcCol: String, mime: String): DataFrame =
    df.withColumn("payload", col(srcCol).cast("binary"))
      .withColumn("meta", struct(
        lit(mime).as("mime"),
        octet_length(col(srcCol).cast("binary")).as("n_bytes"),
        md5(col(srcCol)).as("checksum")))

  /** One decoded image's features: dimensions, per-channel means, and a
    * 4-bucket luminance histogram (L1-normalized). `ok = false` rows carry
    * zero dims/features (payload did not decode as an image).
    */
  final case class ImageFeatures(id: Long, ok: Boolean, width: Int, height: Int,
                                 mean_r: Double, mean_g: Double, mean_b: Double,
                                 luma_hist: Seq[Double])

  /** REAL image decode + feature extraction via the JDK's `javax.imageio`
    * (PNG/JPEG/BMP/GIF), partition-parallel through typed `mapPartitions`.
    * Features are computed in a fixed pixel order with integer channel
    * extraction, so results are deterministic. Undecodable payloads come
    * back with `ok = false` rather than failing the task — at 100 TB a
    * corrupt image must never kill a stage.
    */
  def decodeImageFeatures(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          // NonFatal only (see decodeOrNull): an OutOfMemoryError /
          // InterruptedException here is an executor resource problem that
          // must FAIL the task, not be silently reported as "undecodable
          // payload" data
          val img = decodeOrNull(bytes)
          if (img == null) ImageFeatures(id, ok = false, 0, 0, 0.0, 0.0, 0.0, Seq(0.0, 0.0, 0.0, 0.0))
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            var (sr, sg, sb) = (0L, 0L, 0L)
            val hist = new Array[Long](4)
            // row-at-a-time getRGB (the cellLuma8x8 discipline): the
            // per-pixel form pays a ColorModel conversion + virtual
            // dispatch PER PIXEL — several times slower, bit-identical
            val rowBuf = new Array[Int](w)
            var y = 0
            while (y < h) {
              img.getRGB(0, y, w, 1, rowBuf, 0, w)
              var x = 0
              while (x < w) {
                val rgb = rowBuf(x)
                val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
                sr += r; sg += g; sb += b
                // integer Rec.601-ish luma; bucket by top 2 bits
                hist(((r * 299 + g * 587 + b * 114) / 1000) >> 6) += 1
                x += 1
              }
              y += 1
            }
            val n = (w.toLong * h).toDouble
            ImageFeatures(id, ok = true, w, h, sr / n, sg / n, sb / n,
              hist.map(_ / n).toSeq)
          }
        }
      }
      .toDF()
  }

  final case class ImageAHash(id: Long, ok: Boolean, ahash_hex: String)

  /** 64-bit perceptual average-hash (aHash) — the image analog of
    * simhash for near-duplicate detection: decode, box-average luma onto
    * an 8×8 grid, threshold each cell against the global mean. Two
    * images are perceptual near-dups when their hashes sit at small
    * Hamming distance; corpus-scale pair generation then reuses the
    * simhash machinery verbatim (chunk-banded equi-join over the 64-bit
    * key — never all-pairs).
    *
    * Arithmetic is ALL integer: integer Rec.601 luma, cell boundaries
    * `x·8 div w`, and the threshold via cross-multiplication
    * (cellSum·totalArea ≥ totalSum·cellArea) — no double rounding
    * anywhere, so constructed images have analytic hashes and the driver
    * oracle can replay them (exact up to ~190 MPx before the cross
    * product would overflow a long). Bit layout: MSB = cell (0,0),
    * row-major; hex output avoids the signed-long pitfall in SQL
    * mirrors. Degenerate cells (image narrower than 8px) have zero area
    * and read 1 (0 ≥ 0). Undecodable payloads flag ok=false, hash "".
    */
  /** ImageIO decode with the module's quarantine semantics: null on a
    * NULL payload or any decode failure — one definition for every image
    * kernel instead of four copies of the try/catch-null idiom.
    */
  private def decodeOrNull(bytes: Array[Byte]): java.awt.image.BufferedImage =
    if (bytes == null) null
    else
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case scala.util.control.NonFatal(_) => null }

  /** Shared 8×8 box-cell integer-luma accumulation (Rec.601 milli-weights)
    * both perceptual hashes read — ONE definition so aHash and wHash can
    * never diverge on the luma/cell mapping. Pixels fetch a ROW at a time:
    * per-pixel `getRGB(x, y)` pays a ColorModel conversion + virtual
    * dispatch per pixel, several times slower on large frames with
    * identical ARGB results. Returns (cellSum, cellArea, totalSum).
    */
  private def cellLuma8x8(img: java.awt.image.BufferedImage): (Array[Long], Array[Long], Long) = {
    val w = img.getWidth; val h = img.getHeight
    val cellSum = new Array[Long](64)
    val cellArea = new Array[Long](64)
    var totalSum = 0L
    val row = new Array[Int](w)
    var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, row, 0, w)
      val cy = y * 8 / h
      var x = 0
      while (x < w) {
        val rgb = row(x)
        val luma = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000
        val c = cy * 8 + x * 8 / w
        cellSum(c) += luma
        cellArea(c) += 1
        totalSum += luma
        x += 1
      }
      y += 1
    }
    (cellSum, cellArea, totalSum)
  }

  def imageAHash(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val img = decodeOrNull(bytes)
          if (img == null) ImageAHash(id, ok = false, "")
          else {
            val (cellSum, cellArea, totalSum) = cellLuma8x8(img)
            val totalArea = img.getWidth.toLong * img.getHeight
            var hash = 0L
            var c = 0
            while (c < 64) {
              if (cellSum(c) * totalArea >= totalSum * cellArea(c))
                hash |= (1L << (63 - c))
              c += 1
            }
            ImageAHash(id, ok = true, f"$hash%016x")
          }
        }
      }
      .toDF()
  }

  /** One decoded audio payload's features. `ok = false` (with zeroed
    * fields) marks payloads that did not parse as WAV/PCM.
    */
  final case class AudioFeatures(id: Long, ok: Boolean, sample_rate: Int, channels: Int,
                                 n_frames: Long, peak: Int, mean_abs: Double)

  /** REAL audio decode via the JDK's `javax.sound.sampled` (WAV/PCM,
    * AIFF, AU), partition-parallel through typed `mapPartitions`. Emits
    * format metadata plus signal stats over 16-bit little-endian samples
    * (peak |amplitude| and mean |amplitude| across all channels) —
    * integer accumulation in stream order, so deterministic. Undecodable
    * or non-16-bit payloads flag `ok = false` rather than failing the
    * task.
    */
  def decodeAudioFeatures(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val none = AudioFeatures(id, ok = false, 0, 0, 0L, 0, 0.0)
          try {
            val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
            val fmt = in.getFormat
            if (fmt.getSampleSizeInBits != 16 || fmt.isBigEndian ||
                fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) none
            else {
              val data = in.readAllBytes()
              var i = 0; var peak = 0; var sumAbs = 0L; var nSamples = 0L
              while (i + 1 < data.length) {
                val v = ((data(i) & 0xff) | (data(i + 1) << 8)).toShort.toInt
                val a = math.abs(v)
                if (a > peak) peak = a
                sumAbs += a; nSamples += 1; i += 2
              }
              AudioFeatures(id, ok = true, fmt.getSampleRate.toInt, fmt.getChannels,
                in.getFrameLength, peak,
                if (nSamples == 0) 0.0 else sumAbs.toDouble / nSamples.toDouble)
            }
          } catch { case scala.util.control.NonFatal(_) => none }
        }
      }
      .toDF()
  }

  /** One audio fingerprint row. `ok = false` marks undecodable payloads. */
  final case class AudioFp(id: Long, ok: Boolean, fp: Long)

  /** 63-bit ENERGY-CONTOUR audio fingerprint — the audio member of the
    * perceptual-hash family (aHash/wHash for images): decode 16-bit PCM,
    * split the sample stream into `windows` equal windows, per-window
    * integer energy Σ|amplitude| (exact, stream-ordered), then one bit
    * per adjacent-window delta (`bit_k = energy_{k+1} > energy_k` — the
    * sign-of-derivative contour, robust to uniform gain). Bits 0..w−2 of
    * a long, so ≤ 64 windows keeps the value positive. Trailing samples
    * beyond `windows·⌊n/windows⌋` are ignored; multi-channel samples fold
    * into the same contour (channel-agnostic by construction). Feeds
    * [[graft.ops.Dedup.hammingNearDupPairs]] for corpus-scale audio
    * near-dup via the 4×16-bit pigeonhole band join — bucketed equi-join,
    * never all-pairs. Undecodable / non-16-bit / too-short payloads flag
    * `ok = false` rather than failing the stage.
    */
  def audioFingerprint(df: DataFrame, idCol: String, windows: Int = 64): DataFrame = {
    require(windows >= 2 && windows <= 64)
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val none = AudioFp(id, ok = false, 0L)
          try {
            val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
            val fmt = in.getFormat
            if (fmt.getSampleSizeInBits != 16 || fmt.isBigEndian ||
                fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) none
            else {
              val data = in.readAllBytes()
              val nSamples = data.length / 2
              val per = nSamples / windows
              if (per == 0) none
              else {
                val e = new Array[Long](windows)
                var w = 0
                while (w < windows) {
                  var i = w * per; val end = i + per; var s = 0L
                  while (i < end) {
                    val v = ((data(2 * i) & 0xff) | (data(2 * i + 1) << 8)).toShort.toInt
                    s += math.abs(v); i += 1
                  }
                  e(w) = s; w += 1
                }
                var fp = 0L; var k = 0
                while (k < windows - 1) {
                  if (e(k + 1) > e(k)) fp |= (1L << k)
                  k += 1
                }
                AudioFp(id, ok = true, fp)
              }
            }
          } catch { case scala.util.control.NonFatal(_) => none }
        }
      }
      .toDF()
  }

  /** Big-endian 4-byte encoding of the LOW 32 bits of a value — the byte
    * order PNG/network formats use. The mask matters: `lpad` TRUNCATES to
    * the leftmost 8 hex chars, so an unmasked value ≥ 2³² (or negative)
    * would silently encode its HIGH bytes instead.
    */
  private def be4(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    unhex(lpad(hex(v.cast("long").bitwiseAND(lit(0xFFFFFFFFL))), 8, "0"))

  /** A minimal syntactically-valid PNG header (8-byte signature + IHDR
    * length/type + 13-byte IHDR data) carrying the given dimensions —
    * the test-vector builder for [[imageDims]]. Trailing IHDR fields: bit
    * depth 8, color type 6 (RGBA), deflate, no filter, no interlace.
    */
  def pngHeader(width: org.apache.spark.sql.Column, height: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      unhex(lit("89504E470D0A1A0A" + "0000000D" + "49484452")),
      be4(width), be4(height),
      unhex(lit("0806000000")))

  /** Image-dimension extraction from an opaque binary payload WITHOUT any
    * codec: a PNG's width and height live at fixed big-endian offsets in
    * the IHDR chunk (bytes 17-24, 1-based), so the parse is pure
    * `substring`/`hex`/`conv` expressions — codegen'd, linear, no UDF.
    * Non-PNG payloads (signature mismatch) yield null dims. This is the
    * header-metadata half of multimodal ingest that genuinely does not
    * need a decoder; pixel work goes through [[decodeImageFeatures]].
    */
  def imageDims(df: DataFrame, payloadCol: String): DataFrame = {
    // length gate BEFORE the header parse: a payload truncated inside the
    // IHDR would hand substring a SHORT byte run and conv would parse the
    // partial hex into a bogus positive dimension — NULL, not a plausible
    // number, is the truncated-header answer (24 = signature 8 + IHDR
    // length/type 8 + width 4 + height 4)
    val isPng = octet_length(col(payloadCol)) >= 24 &&
      hex(substring(col(payloadCol), 1, 8)) === lit("89504E470D0A1A0A")
    def beInt(off: Int) =
      conv(hex(substring(col(payloadCol), off, 4)), 16, 10).cast("int")
    df.withColumn("width", when(isPng, beInt(17)))
      .withColumn("height", when(isPng, beInt(21)))
  }

  /** One parsed MP4 container's metadata ([[mp4Meta]]'s row type). */
  final case class Mp4Meta(id: Long, ok: Boolean, major_brand: String, n_boxes: Int,
                           box_types: String, timescale: Long, duration: Long)

  /** REAL MP4/ISO-BMFF container-metadata parse WITHOUT a codec: an MP4
    * file is a sequence of length-prefixed boxes (4-byte big-endian size +
    * 4-char type; size 1 → 64-bit largesize follows; size 0 → to EOF — the
    * public ISO/IEC 14496-12 layout), so the major brand (`ftyp`), the
    * movie timescale/duration (`moov`→`mvhd`, version 0 and 1 layouts),
    * and the box inventory parse with pure byte arithmetic. This extends
    * the multimodal surface beyond image/audio to video CONTAINERS while
    * staying honest: H.264-class pixels still need a codec the JDK lacks;
    * header metadata does not. Partition-parallel `mapPartitions` like
    * every decoder here; malformed payloads flag `ok = false` (with whatever fields parsed)
    * rather than failing the task.
    */
  def mp4Meta(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          try mp4MetaOne(id, bytes)
          catch { case scala.util.control.NonFatal(_) => Mp4Meta(id, ok = false, "", 0, "", 0L, 0L) }
        }
      }
      .toDF()
  }

  /** Parse one payload; NULL or malformed input flags ok=false (same
    * quarantine contract as every decoder here).
    */
  private def mp4MetaOne(id: Long, bytes: Array[Byte]): Mp4Meta = {
    if (bytes == null) Mp4Meta(id, ok = false, "", 0, "", 0L, 0L)
    else {
      val len = bytes.length.toLong
          def be32(o: Long): Long =
            ((bytes(o.toInt) & 0xffL) << 24) | ((bytes(o.toInt + 1) & 0xffL) << 16) |
              ((bytes(o.toInt + 2) & 0xffL) << 8) | (bytes(o.toInt + 3) & 0xffL)
          def be64(o: Long): Long =
            (0 until 8).foldLeft(0L)((a, i) => (a << 8) | (bytes(o.toInt + i) & 0xffL))
          def typ4(o: Long): String =
            new String(bytes, o.toInt, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
          var ok = len >= 8
          var brand: String = ""
          var ts = 0L; var dur = 0L
          // BOUNDED box inventory: an adversarial payload of millions of
          // 8-byte boxes would otherwise grow this buffer to executor-OOM
          // scale (an Error NonFatal can't quarantine). The census keeps
          // the first MaxBoxTypes types plus the total count; n_boxes
          // stays exact.
          val boxes = scala.collection.mutable.ArrayBuffer.empty[String]
          var nBoxes = 0
          // returns (payloadStart, boxEnd) or null on malformed header
          def boxBounds(off: Long, end: Long): (Long, Long) = {
            if (off + 8 > end) return null
            val size0 = be32(off)
            var hdr = 8L; var size = size0
            if (size0 == 1L) {
              if (off + 16 > end) return null
              size = be64(off + 8); hdr = 16L
            } else if (size0 == 0L) size = end - off
            if (size < hdr || off + size > end) null else (off + hdr, off + size)
          }
          def parseMvhd(p: Long, end: Long): Unit = {
            if (p + 4 > end) { ok = false; return }
            (bytes(p.toInt) & 0xff) match {
              case 0 if p + 20 <= end => ts = be32(p + 12); dur = be32(p + 16)
              case 1 if p + 32 <= end => ts = be32(p + 20); dur = be64(p + 24)
              case _ => ok = false
            }
          }
          var off = 0L
          while (ok && off < len) {
            boxBounds(off, len) match {
              case null => ok = false
              case (pStart, boxEnd) =>
                val t = typ4(off + 4)
                nBoxes += 1
                if (boxes.length < MaxBoxTypes) boxes += t
                if (t == "ftyp" && pStart + 4 <= boxEnd) brand = typ4(pStart)
                if (t == "moov") {
                  var c = pStart
                  while (ok && c < boxEnd) {
                    boxBounds(c, boxEnd) match {
                      case null => ok = false
                      case (cStart, cEnd) =>
                        if (typ4(c + 4) == "mvhd") parseMvhd(cStart, cEnd)
                        c = cEnd
                    }
                  }
                }
                off = boxEnd
            }
          }
      Mp4Meta(id, ok && nBoxes > 0, brand, nBoxes,
        boxes.mkString(",") + (if (nBoxes > MaxBoxTypes) ",…" else ""), ts, dur)
    }
  }

  /** Cap on the top-level box-type census in [[mp4MetaOne]] — the count
    * stays exact past it, the type list truncates with an ellipsis.
    */
  private val MaxBoxTypes = 64

  /** A minimal syntactically-valid MP4 (ftyp[isom] + moov[mvhd v0] + empty
    * mdat) carrying the given timescale/duration — the construct-and-check
    * test-vector builder for [[mp4Meta]], pure expressions like
    * [[pngHeader]]. mvhd's rate/volume/matrix fields hold their spec
    * defaults (0x00010000, 0x0100, unity matrix).
    */
  def mp4Sample(timescale: org.apache.spark.sql.Column,
                duration: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      // ftyp (16): size + 'ftyp' + major 'isom' + minor_version 0x200
      unhex(lit("00000010" + "66747970" + "69736F6D" + "00000200")),
      // moov (116 = 0x74) wrapping mvhd (108 = 0x6C), v0: size+type,
      // version/flags, creation, modification
      unhex(lit("00000074" + "6D6F6F76" +
        "0000006C" + "6D766864" + "00000000" + "00000000" + "00000000")),
      be4(timescale), be4(duration),
      // rate 1.0, volume 1.0, 10 reserved bytes, unity matrix, 24 bytes
      // pre_defined, next_track_ID 1
      unhex(lit("00010000" + "0100" + "0000" + "00" * 8 +
        "00010000" + "00" * 12 + "00010000" + "00" * 12 + "40000000" +
        "00" * 24 + "00000001")),
      // empty mdat (8)
      unhex(lit("00000008" + "6D646174")))

  /** Frame-sampling plumbing: split a payload into fixed-size "frames"
    * (byte chunks) and explode one row per sampled frame — the partitioning
    * shape a video pipeline needs (payload → n frame rows), all expressions.
    * Empty payloads produce zero frames. Note frames are BYTE slices: for
    * non-ASCII text payloads a frame boundary can split a multi-byte
    * character (real media payloads are opaque bytes, where this is the
    * correct unit).
    */
  def sampleFrames(df: DataFrame, idCol: String, frameBytes: Int, everyNth: Int): DataFrame = {
    // fail fast like the sibling reshapers: frameBytes/everyNth = 0 would
    // NULL the division/modulo under ANSI-off and silently emit ZERO rows
    require(frameBytes >= 1 && everyNth >= 1,
      s"frameBytes ($frameBytes) and everyNth ($everyNth) must be >= 1")
    val nFrames = ceil(octet_length(col("payload")).cast("double") / frameBytes).cast("int")
    val frameIdx = when(nFrames >= 1, sequence(lit(0), nFrames - 1))
      .otherwise(array().cast("array<int>"))
    df.select(col(idCol), col("payload"), posexplode(frameIdx).as(Seq("frame_no", "f")))
      .where(col("frame_no") % everyNth === 0)
      .select(col(idCol), col("frame_no"),
        col("payload").substr(col("frame_no") * frameBytes + 1, lit(frameBytes)).as("frame"))
  }

  /** One Walsh–Hadamard perceptual hash row ([[imageWHash]]'s type). */
  final case class ImageWHash(id: Long, ok: Boolean, whash_hex: String)

  /** Frequency-domain perceptual hash with INTEGER-EXACT arithmetic: the
    * pHash idea (hash the transform's low-frequency structure, not raw
    * pixels) but with the Walsh–Hadamard transform instead of the DCT —
    * H's entries are ±1, so every coefficient is an exact integer sum
    * and the hash is bit-reproducible on any engine (a float DCT's
    * rounding is library-dependent). Pipeline: real codec decode →
    * 8×8 box-luma cells scaled to a common denominator
    * (cellSum·totalArea/cellArea — exact for 8-divisible dims) → 2D
    * Sylvester WHT (sign = (−1)^popcount(u&r)) → each of the 63 AC
    * coefficients bits 1 iff strictly above their exact median (sorted
    * index 31); the DC bit is always 0. Contract: images ≲ 4096² keep
    * the scaled sums inside Long.
    */
  def imageWHash(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val img = decodeOrNull(bytes)
          if (img == null) ImageWHash(id, ok = false, "")
          else {
            val (cellSum, cellArea, _) = cellLuma8x8(img)
            val totalArea = img.getWidth.toLong * img.getHeight
            val v = Array.tabulate(64)(c =>
              if (cellArea(c) == 0) 0L else cellSum(c) * totalArea / cellArea(c))
            // 2D Sylvester WHT: W[u][t] = Σ (−1)^popcount(u&r) (−1)^popcount(t&c) V[r][c]
            val coeff = new Array[Long](64)
            var u = 0
            while (u < 8) {
              var t = 0
              while (t < 8) {
                var acc = 0L
                var r = 0
                while (r < 8) {
                  var c = 0
                  while (c < 8) {
                    val s = java.lang.Integer.bitCount(u & r) +
                      java.lang.Integer.bitCount(t & c)
                    val x = v(r * 8 + c)
                    acc += (if ((s & 1) == 0) x else -x)
                    c += 1
                  }
                  r += 1
                }
                coeff(u * 8 + t) = acc
                t += 1
              }
              u += 1
            }
            val ac = java.util.Arrays.copyOfRange(coeff, 1, 64)
            val sortedAc = ac.clone(); java.util.Arrays.sort(sortedAc)
            val median = sortedAc(31)
            var hash = 0L
            var p = 1
            while (p < 64) {
              if (coeff(p) > median) hash |= (1L << (63 - p))
              p += 1
            }
            ImageWHash(id, ok = true, f"$hash%016x")
          }
        }
      }
      .toDF()
  }

  /** One parsed JPEG/EXIF payload's metadata ([[exifMeta]]'s row type). */
  final case class ExifMeta(id: Long, ok: Boolean, endian: String,
                            n_entries: Int, make: String, orientation: Int,
                            width: Long, height: Long)

  /** REAL EXIF/TIFF metadata parse (public JEITA CP-3451 / TIFF 6.0
    * layout, like [[mp4Meta]]'s ISO-BMFF walk): scan JPEG APP1 segments
    * for the Exif header, honor the TIFF byte-order mark (II and MM both
    * — real camera files use both), and walk IFD0's 12-byte entries for
    * Make (0x010F, ASCII via offset or inline), Orientation (0x0112,
    * SHORT), ImageWidth/Length (0x0100/0x0101, SHORT or LONG). Malformed
    * payloads flag ok=false with whatever parsed (the decoder quarantine
    * contract); partition-parallel typed mapPartitions.
    */
  def exifMeta(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          try exifMetaOne(id, bytes)
          catch { case scala.util.control.NonFatal(_) =>
            ExifMeta(id, ok = false, "", 0, "", 0, 0L, 0L) }
        }
      }
      .toDF()
  }

  private def exifMetaOne(id: Long, bytes: Array[Byte]): ExifMeta = {
    val bad = ExifMeta(id, ok = false, "", 0, "", 0, 0L, 0L)
    if (bytes == null || bytes.length < 4 ||
        (bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8) return bad
    def u8(o: Int) = bytes(o) & 0xff
    // JPEG segment walk to APP1/Exif
    var off = 2
    var tiff = -1
    var tiffEnd = -1
    while (tiff < 0 && off + 4 <= bytes.length && u8(off) == 0xff) {
      val marker = u8(off + 1)
      if (marker == 0xff) {
        // JPEG B.1.1.2: any number of 0xFF FILL bytes may pad before a
        // marker. Treating the padding 0xFF as the segment start reads
        // the REAL marker byte as the length's high byte — quarantining
        // a well-formed camera file (bounds check fails) or walking past
        // its APP1. Fill bytes skip one at a time instead.
        off += 1
      } else {
        if (marker == 0xd9 || marker == 0xda) return bad // EOI/SOS before APP1
        val segLen = (u8(off + 2) << 8) | u8(off + 3)
        if (segLen < 2 || off + 2 + segLen > bytes.length) return bad
        if (marker == 0xe1 && segLen >= 8 &&
            new String(bytes, off + 4, 6, java.nio.charset.StandardCharsets.ISO_8859_1) == "Exif\u0000\u0000") {
          tiff = off + 10
          tiffEnd = off + 2 + segLen
        }
        off += 2 + segLen
      }
    }
    if (tiff < 0 || tiff + 8 > tiffEnd) return bad
    val endian = new String(bytes, tiff, 2, java.nio.charset.StandardCharsets.ISO_8859_1)
    val little = endian match {
      case "II" => true
      case "MM" => false
      case _ => return bad
    }
    def u16(o: Int): Int =
      if (little) u8(o) | (u8(o + 1) << 8) else (u8(o) << 8) | u8(o + 1)
    def u32(o: Int): Long =
      if (little) u8(o).toLong | (u8(o + 1).toLong << 8) | (u8(o + 2).toLong << 16) | (u8(o + 3).toLong << 24)
      else (u8(o).toLong << 24) | (u8(o + 1).toLong << 16) | (u8(o + 2).toLong << 8) | u8(o + 3).toLong
    if (u16(tiff + 2) != 42) return bad
    val ifd0 = tiff + u32(tiff + 4).toInt
    if (ifd0 + 2 > tiffEnd) return bad
    val n = u16(ifd0)
    if (ifd0 + 2 + 12 * n > tiffEnd) return bad
    var make = ""; var orientation = 0; var width = 0L; var height = 0L
    for (i <- 0 until n) {
      val e = ifd0 + 2 + 12 * i
      val tag = u16(e); val typ = u16(e + 2); val cnt = u32(e + 4)
      def shortOrLong: Long =
        if (typ == 3) u16(e + 8).toLong else if (typ == 4) u32(e + 8) else -1L
      tag match {
        case 0x010F if typ == 2 && cnt >= 1 =>
          // ASCII: inline when it fits the 4 value bytes, else via offset
          val start = if (cnt <= 4) e + 8 else tiff + u32(e + 8).toInt
          if (start + cnt.toInt <= tiffEnd) {
            val raw = new String(bytes, start, cnt.toInt,
              java.nio.charset.StandardCharsets.ISO_8859_1)
            make = raw.takeWhile(_ != '\u0000')
          }
        case 0x0112 if typ == 3 => orientation = u16(e + 8)
        // only SHORT/LONG dimension entries update the field: an
        // unexpected TIFF type (some writers emit RATIONAL) must leave
        // the 0 default, not leak shortOrLong's −1 sentinel into a
        // "successfully parsed" row as a negative dimension
        case 0x0100 if shortOrLong >= 0 => width = shortOrLong
        case 0x0101 if shortOrLong >= 0 => height = shortOrLong
        case _ =>
      }
    }
    ExifMeta(id, ok = true, endian, n, make, orientation, width, height)
  }

  /** Deterministic EXIF test-vector builder (the [[mp4Sample]] pattern,
    * driver/test side): a minimal JPEG with one APP1/Exif segment whose
    * IFD0 carries Make (via offset), Orientation, ImageWidth (SHORT) and
    * ImageLength (LONG), in either byte order.
    */
  def exifSampleBytes(make: String, orientation: Int, width: Int,
                      height: Long, little: Boolean): Array[Byte] = {
    val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def w8(v: Int): Unit = bb += (v & 0xff).toByte
    def w16(v: Int): Unit =
      if (little) { w8(v); w8(v >> 8) } else { w8(v >> 8); w8(v) }
    def w32(v: Long): Unit =
      if (little) { w8(v.toInt); w8((v >> 8).toInt); w8((v >> 16).toInt); w8((v >> 24).toInt) }
      else { w8((v >> 24).toInt); w8((v >> 16).toInt); w8((v >> 8).toInt); w8(v.toInt) }
    val makeBytes = (make + "\u0000").getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val nEntries = 4
    // TIFF body: header(8) + count(2) + entries(12 each) + nextIFD(4) +
    // the make value — which per TIFF 6.0 goes INLINE in the 4 value
    // bytes when it fits, via offset only when longer
    val inlineMake = makeBytes.length <= 4
    val makeOff = 8 + 2 + 12 * nEntries + 4
    val tiffLen = makeOff + (if (inlineMake) 0 else makeBytes.length)
    // JPEG SOI + APP1 header
    w8(0xff); w8(0xd8)
    w8(0xff); w8(0xe1)
    val segLen = 2 + 6 + tiffLen
    w8(segLen >> 8); w8(segLen)
    bb ++= "Exif\u0000\u0000".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    // TIFF header
    bb ++= (if (little) "II" else "MM").getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    w16(42); w32(8L)
    // IFD0 — entries must be ascending by tag per spec
    w16(nEntries)
    w16(0x0100); w16(3); w32(1L); w16(width); w16(0)        // ImageWidth SHORT
    w16(0x0101); w16(4); w32(1L); w32(height)               // ImageLength LONG
    w16(0x010F); w16(2); w32(makeBytes.length.toLong)      // Make ASCII
    if (inlineMake) { bb ++= makeBytes; makeBytes.length.until(4).foreach(_ => w8(0)) }
    else w32(makeOff.toLong)
    w16(0x0112); w16(3); w32(1L); w16(orientation); w16(0)  // Orientation
    w32(0L) // next IFD
    if (!inlineMake) bb ++= makeBytes
    w8(0xff); w8(0xd9) // EOI
    bb.toArray
  }

  final case class GifMeta(id: Long, ok: Boolean, version: String, width: Int,
                           height: Int, gct_entries: Int, n_frames: Int)

  /** REAL GIF container-metadata parse (the fourth real container format
    * after PNG/WAV/MP4/EXIF): signature + version, logical-screen width/
    * height (little-endian u16), global-color-table size from the packed
    * byte (2^(n+1) entries when the flag bit is set), and the FRAME COUNT
    * by walking the public GIF89a block grammar — extensions (0x21:
    * label + length-prefixed sub-blocks to a 0 terminator), image
    * descriptors (0x2C: 9-byte header, optional local color table, LZW
    * min-code byte, sub-blocks), trailer (0x3B). Pure byte arithmetic,
    * partition-parallel, quarantine contract: malformed/truncated
    * payloads flag ok=false with whatever parsed.
    */
  def gifMeta(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          try gifMetaOne(id, bytes)
          catch { case scala.util.control.NonFatal(_) => GifMeta(id, ok = false, "", 0, 0, 0, 0) }
        }
      }
      .toDF()
  }

  private def gifMetaOne(id: Long, bytes: Array[Byte]): GifMeta = {
    if (bytes == null || bytes.length < 13) return GifMeta(id, ok = false, "", 0, 0, 0, 0)
    def u8(o: Int): Int = bytes(o) & 0xff
    def le16(o: Int): Int = u8(o) | (u8(o + 1) << 8)
    val sig = new String(bytes, 0, 6, java.nio.charset.StandardCharsets.ISO_8859_1)
    if (!sig.startsWith("GIF") || (sig != "GIF87a" && sig != "GIF89a"))
      return GifMeta(id, ok = false, "", 0, 0, 0, 0)
    val version = sig.substring(3)
    val w = le16(6); val h = le16(8)
    val packed = u8(10)
    val gct = if ((packed & 0x80) != 0) 1 << ((packed & 0x07) + 1) else 0
    var off = 13 + gct * 3
    var frames = 0
    var ok = true
    var done = false
    // skip a length-prefixed sub-block chain; returns offset past the 0
    def skipSubBlocks(start: Int): Int = {
      var o = start
      while (o < bytes.length && u8(o) != 0) o += 1 + u8(o)
      if (o >= bytes.length) -1 else o + 1
    }
    while (ok && !done && off < bytes.length) {
      u8(off) match {
        case 0x3b => done = true
        case 0x21 => // extension: introducer + label, then sub-blocks
          val next = skipSubBlocks(off + 2)
          if (next < 0) ok = false else off = next
        case 0x2c => // image descriptor
          if (off + 10 > bytes.length) ok = false
          else {
            val ipacked = u8(off + 9)
            val lct = if ((ipacked & 0x80) != 0) 1 << ((ipacked & 0x07) + 1) else 0
            val dataStart = off + 10 + lct * 3 + 1 // + LZW min-code byte
            if (dataStart > bytes.length) ok = false
            else {
              val next = skipSubBlocks(dataStart)
              if (next < 0) ok = false else { frames += 1; off = next }
            }
          }
        case _ => ok = false
      }
    }
    GifMeta(id, ok = ok && done, version, w, h, gct, frames)
  }

  /** One sampled video frame's decoded-pixel features. `frame_no` is the
    * index within the CONTAINER (pre-sampling); `ok = false` rows carry
    * frame_no -1 and zero stats (payload did not parse as a video).
    */
  final case class VideoFrameFeatures(id: Long, frame_no: Int, ok: Boolean,
                                      width: Int, height: Int,
                                      mean_r: Double, mean_g: Double, mean_b: Double)

  /** REAL video-frame pixel decode, partition-parallel: every `everyNth`-th
    * frame of each payload is decoded to pixels and reduced to per-frame
    * dims + channel means (integer sums ÷ n — deterministic). Two pure-JVM
    * container formats, sniffed per row:
    *
    *  - **animated GIF** (`GIF87a`/`GIF89a`): the JDK's multi-image GIF
    *    reader — `getNumImages(true)` then per-index reads. By default
    *    frames are decoded AS STORED (each image descriptor's own rect),
    *    matching MJPEG's independent-frame semantics. With
    *    `composite = true` frames are RENDERED: each stored rect is drawn
    *    at its (left, top) offset onto the logical screen with GIF89a
    *    disposal applied between frames (doNotDispose keeps the canvas,
    *    restoreToBackgroundColor fills the frame's rect with the logical
    *    screen's background color — global table entry at
    *    backgroundColorIndex; transparent only when no global table
    *    exists — restoreToPrevious reverts the draw), so partial-rect
    *    animations
    *    report what a viewer shows — dims become the LOGICAL SCREEN's and
    *    means are over the canvas (undrawn pixels count as transparent
    *    black). Full-rect frames are byte-identical either way. Every
    *    frame composites (state is cumulative); `everyNth` still bounds
    *    which canvases pay the stats pass.
    *  - **MJPEG** (leading SOI `FFD8`): frame boundaries come from a
    *    marker-segment walk ([[jpegFrameEnd]]) — length-prefixed segments
    *    (APPn/DQT/DHT/SOF/COM/…) skip wholesale, so a camera frame whose
    *    APPn embeds a thumbnail JPEG (with its own `FFD9`) splits at its
    *    REAL end-of-image, and only entropy data is byte-scanned. Each
    *    frame runs the same ImageIO JPEG decoder the image path uses; a
    *    malformed or truncated tail — or trailing non-padding bytes after
    *    the last complete frame (0x00/0xFF fill runs are legitimate
    *    padding) — quarantines as one `ok = false` row.
    *
    * Anything else — or a frame that fails its codec — quarantines as one
    * `ok = false` row, never a task failure. At 100 TB this is the same
    * shape as [[decodeImageFeatures]]: typed `mapPartitions`, one decoder
    * pass per executor, sampled frames only (a 1/everyNth read-amplification
    * cut — the reason sampling lives INSIDE the decode loop, not as a
    * filter after exploding all frames).
    */
  def videoFrameFeatures(df: DataFrame, idCol: String, everyNth: Int = 1,
                         composite: Boolean = false): DataFrame = {
    require(everyNth >= 1, s"everyNth ($everyNth) must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        try videoFramesOne(id, bytes, everyNth, composite)
        catch { case scala.util.control.NonFatal(_) => Seq(badVideoRow(id)) }
      })
      .toDF()
  }

  private def badVideoRow(id: Long) =
    VideoFrameFeatures(id, -1, ok = false, 0, 0, 0.0, 0.0, 0.0)

  private def videoFramesOne(id: Long, bytes: Array[Byte],
                             everyNth: Int, composite: Boolean): Seq[VideoFrameFeatures] = {
    if (bytes == null || bytes.length < 4) return Seq(badVideoRow(id))
    val isGif = bytes.length >= 6 && bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F'
    val isMjpeg = (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8
    if (isGif) {
      val in = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (!readers.hasNext) { in.close(); return Seq(badVideoRow(id)) }
      val reader = readers.next()
      try {
        reader.setInput(in)
        val n = reader.getNumImages(/* allowSearch = */ true)
        if (n <= 0) return Seq(badVideoRow(id))
        if (!composite) (0 until n by everyNth).map(f => frameStats(id, f, reader.read(f)))
        else gifComposited(id, reader, n, everyNth)
      } finally { reader.dispose(); in.close() }
    } else if (isMjpeg) {
      // frame boundaries come from a MARKER-SEGMENT WALK, not a raw FFD9
      // scan: length-prefixed segments (APPn/DQT/DHT/SOF/COM/…) are
      // skipped by their length field, so a thumbnail JPEG embedded in an
      // APPn segment — whose own FFD9 a raw scan split on — stays inside
      // its frame; only ENTROPY data (where every FF is stuffed FF00, a
      // fill FF, or a restart FFD0-D7) is byte-scanned for the next
      // marker. Frames chain SOI to SOI; inter-frame padding skips.
      val bounds = Seq.newBuilder[(Int, Int)]
      var pos = 0
      var truncated = false
      while (!truncated && pos + 1 < bytes.length) {
        // skip padding to the next SOI
        while (pos + 1 < bytes.length &&
          !((bytes(pos) & 0xff) == 0xff && (bytes(pos + 1) & 0xff) == 0xd8)) pos += 1
        if (pos + 1 < bytes.length) {
          val end = jpegFrameEnd(bytes, pos)
          if (end < 0) truncated = true
          else { bounds += ((pos, end)); pos = end }
        }
      }
      val parts = bounds.result()
      if (parts.isEmpty) return Seq(badVideoRow(id))
      val decoded = parts.zipWithIndex.collect { case ((s, e), f) if f % everyNth == 0 =>
        val img = decodeOrNull(java.util.Arrays.copyOfRange(bytes, s, e))
        if (img == null) VideoFrameFeatures(id, f, ok = false, 0, 0, 0.0, 0.0, 0.0)
        else frameStats(id, f, img)
      }
      // degrade LOUDLY at both tail shapes (the raw-FFD9 form silently
      // dropped these bytes): a frame whose marker walk ran off the buffer
      // mid-frame (truncated), OR trailing NON-PADDING bytes after the last
      // complete EOI — 0x00/0xFF runs are legitimate inter/post-frame fill,
      // anything else is content the split did not account for. Either way
      // one quarantined row with the next frame number.
      val trailingGarbage = !truncated && {
        val tail = parts.last._2
        (tail until bytes.length).exists(i => bytes(i) != 0 && (bytes(i) & 0xff) != 0xff)
      }
      if (truncated || trailingGarbage)
        decoded :+ VideoFrameFeatures(id, parts.length, ok = false, 0, 0, 0.0, 0.0, 0.0)
      else decoded
    } else Seq(badVideoRow(id))
  }

  /** End offset (exclusive) of the JPEG frame starting at `off` (which must
    * point at SOI), found by walking marker segments: every marker except
    * TEM/RST/SOI/EOI carries a 2-byte big-endian length that skips its
    * payload wholesale — including APPn segments embedding thumbnail JPEGs
    * with their own EOI. After an SOS header, entropy-coded data is scanned
    * byte-wise (FF00 stuffing, FF fill, FFD0-D7 restarts stay inside) until
    * the next true marker, which re-enters the segment walk (progressive
    * JPEGs interleave DHT/SOS/DNL between scans). Returns -1 on a
    * truncated or malformed stream.
    */
  private def jpegFrameEnd(bytes: Array[Byte], off: Int): Int = {
    def u8(i: Int): Int = bytes(i) & 0xff
    val n = bytes.length
    var i = off + 2
    while (i + 1 < n) {
      if (u8(i) != 0xff) return -1
      var j = i // fill bytes: any run of FFs before the marker id
      while (j + 1 < n && u8(j + 1) == 0xff) j += 1
      if (j + 1 >= n) return -1
      val m = u8(j + 1)
      i = j + 2
      if (m == 0xd9) return i // EOI
      else if (m == 0x01 || m == 0xd8 || (m >= 0xd0 && m <= 0xd7)) {
        // TEM / stray SOI / bare RST: standalone, no length
      } else {
        if (i + 1 >= n) return -1
        val len = (u8(i) << 8) | u8(i + 1)
        if (len < 2 || i + len > n) return -1
        i += len
        if (m == 0xda) {
          // SOS: entropy data follows the header
          var done = false
          while (!done) {
            if (i + 1 >= n) return -1
            if (u8(i) == 0xff) {
              val x = u8(i + 1)
              if (x == 0x00 || (x >= 0xd0 && x <= 0xd7)) i += 2
              else if (x == 0xff) i += 1
              else done = true // a true marker: re-enter the segment walk
            } else i += 1
          }
        }
      }
    }
    -1
  }

  /** GIF89a disposal compositing: render every frame onto the logical
    * screen in order (state is cumulative — unsampled frames still
    * composite), emitting stats for each sampled CANVAS. Frame offsets and
    * disposal methods come from the per-image ImageIO metadata tree;
    * logical-screen dims AND the background color from the stream
    * metadata, falling back to the first frame's extent when absent.
    *
    * ENGINE CONTRACT for `restoreToBackgroundColor` (pinned by the
    * `mm_video_composited` oracle key): the disposed rect is filled with
    * the logical screen descriptor's background color — the global color
    * table entry at `backgroundColorIndex` — whenever the stream HAS a
    * global color table (the JDK writer always emits one). Real viewers
    * disagree here (most render the rect transparent); an analytics
    * engine needs ONE arithmetic answer, and the spec'd LSD semantics is
    * the defensible one. A stream with no global table (exotic: the JDK
    * writer cannot produce one) falls back to a transparent clear, which
    * `frameStats` counts as black.
    */
  private def gifComposited(id: Long, reader: javax.imageio.ImageReader,
                            n: Int, everyNth: Int): Seq[VideoFrameFeatures] = {
    import java.awt.image.BufferedImage
    def attr(node: org.w3c.dom.Node, name: String): Option[String] = {
      val a = node.getAttributes
      Option(if (a == null) null else a.getNamedItem(name)).map(_.getNodeValue)
    }
    def child(node: org.w3c.dom.Node, name: String): Option[org.w3c.dom.Node] = {
      var c = node.getFirstChild
      while (c != null && c.getNodeName != name) c = c.getNextSibling
      Option(c)
    }
    // the fallback decodes frame 0 for its extent — keep it so the loop's
    // first iteration does not pay the same LZW decode twice
    var frame0: BufferedImage = null
    val streamTree = Option(reader.getStreamMetadata)
      .map(_.getAsTree("javax_imageio_gif_stream_1.0"))
    val (lw, lh) = {
      val dims = for {
        tree <- streamTree
        lsd <- child(tree, "LogicalScreenDescriptor")
        w <- attr(lsd, "logicalScreenWidth").map(_.toInt) if w > 0
        h <- attr(lsd, "logicalScreenHeight").map(_.toInt) if h > 0
      } yield (w, h)
      dims.getOrElse { frame0 = reader.read(0); (frame0.getWidth, frame0.getHeight) }
    }
    // background color = GlobalColorTable[backgroundColorIndex] (see the
    // contract above); absent table or out-of-range index => None
    val bgColor: Option[java.awt.Color] = for {
      tree <- streamTree
      gct <- child(tree, "GlobalColorTable")
      idx <- attr(gct, "backgroundColorIndex").flatMap(_.toIntOption)
      entry <- {
        var c = gct.getFirstChild
        var found: Option[org.w3c.dom.Node] = None
        while (c != null && found.isEmpty) {
          if (c.getNodeName == "ColorTableEntry" &&
            attr(c, "index").flatMap(_.toIntOption).contains(idx)) found = Some(c)
          c = c.getNextSibling
        }
        found
      }
      r <- attr(entry, "red").flatMap(_.toIntOption)
      g <- attr(entry, "green").flatMap(_.toIntOption)
      b <- attr(entry, "blue").flatMap(_.toIntOption)
    } yield new java.awt.Color(r, g, b)
    var canvas = new BufferedImage(lw, lh, BufferedImage.TYPE_INT_ARGB)
    val out = Seq.newBuilder[VideoFrameFeatures]
    for (f <- 0 until n) {
      val img = if (f == 0 && frame0 != null) frame0 else reader.read(f)
      val tree = reader.getImageMetadata(f).getAsTree("javax_imageio_gif_image_1.0")
      val desc = child(tree, "ImageDescriptor")
      val left = desc.flatMap(attr(_, "imageLeftPosition")).map(_.toInt).getOrElse(0)
      val top = desc.flatMap(attr(_, "imageTopPosition")).map(_.toInt).getOrElse(0)
      val disposal = child(tree, "GraphicControlExtension")
        .flatMap(attr(_, "disposalMethod")).getOrElse("none")
      val before =
        if (disposal == "restoreToPrevious") {
          val c = new BufferedImage(lw, lh, BufferedImage.TYPE_INT_ARGB)
          val g = c.createGraphics(); g.drawImage(canvas, 0, 0, null); g.dispose()
          c
        } else null
      val g = canvas.createGraphics()
      g.drawImage(img, left, top, null) // SRC_OVER: transparent pixels keep the canvas
      g.dispose()
      if (f % everyNth == 0) out += frameStats(id, f, canvas)
      disposal match {
        case "restoreToBackgroundColor" =>
          // LSD semantics (the class-doc contract): fill with the global
          // table's background entry; transparent-clear only when the
          // stream genuinely has no global color table
          val g2 = canvas.createGraphics()
          bgColor match {
            case Some(c) =>
              g2.setComposite(java.awt.AlphaComposite.Src)
              g2.setColor(c)
            case None =>
              g2.setComposite(java.awt.AlphaComposite.Clear)
          }
          g2.fillRect(left, top, img.getWidth, img.getHeight)
          g2.dispose()
        case "restoreToPrevious" => canvas = before
        case _ => () // none / doNotDispose: the canvas carries forward
      }
    }
    out.result()
  }

  /** Per-frame dims + channel means via integer channel sums (the
    * [[decodeImageFeatures]] arithmetic, scoped to one frame).
    */
  private def frameStats(id: Long, frameNo: Int,
                         img: java.awt.image.BufferedImage): VideoFrameFeatures = {
    val w = img.getWidth; val h = img.getHeight
    var sr = 0L; var sg = 0L; var sb = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
        x += 1
      }
      y += 1
    }
    val n = math.max(w * h, 1).toDouble
    VideoFrameFeatures(id, frameNo, ok = true, w, h, sr / n, sg / n, sb / n)
  }

  /** Quarantine OBSERVABILITY for a multimodal corpus: `ok = false` rows
    * are the designed per-row failure path of every decoder here, but at
    * 100 TB nobody re-scans a decode OUTPUT to learn the quarantine
    * rate. This is the aggregate surface: ONE partition-parallel pass
    * over `(idCol, payload)` that sniffs each row's container from its
    * magic bytes and attempts the family's canonical validity check
    * (ImageIO decode for JPEG/PNG/GIF/BMP, the top-level box walk for
    * ISO-BMFF, the RIFF/WAVE form check for audio), aggregated to a
    * per-codec summary:
    *
    *   codec | n_ok | n_quarantined | sample_err_id | sample_err
    *
    * The error sample is DETERMINISTIC — the failing row with the
    * smallest id (min over a (id, err) struct) — so the summary
    * hash-checks run to run. Unrecognized magic and NULL/short payloads
    * count as quarantined under the `unknown` / `none` codecs. Scale:
    * the shuffle carries one row per (partition × codec); output is
    * ≤ #codecs rows. Monitoring loops alert on `n_quarantined` growth
    * the same way they watch [[graft.ops.Dedup.lshOversizedBuckets]].
    */
  def decodeStats(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => decodeAttempt(id, bytes) })
      .toDF("codec", "id", "ok", "err")
      .groupBy("codec")
      .agg(
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_ok"),
        sum(when(col("ok"), 0L).otherwise(1L)).as("n_quarantined"),
        min(when(!col("ok"), struct(col("id"), col("err")))).as("_sample"))
      .select(col("codec"), col("n_ok"), col("n_quarantined"),
        col("_sample.id").as("sample_err_id"), col("_sample.err").as("sample_err"))
      .orderBy(col("codec"))
  }

  private def decodeAttempt(id: Long, bytes: Array[Byte]): (String, Long, Boolean, String) = {
    if (bytes == null) return ("none", id, false, "null payload")
    if (bytes.length < 4) return ("none", id, false, s"payload too short (${bytes.length} bytes)")
    def u8(i: Int): Int = bytes(i) & 0xff
    val codec =
      if (u8(0) == 0xff && u8(1) == 0xd8) "jpeg"
      else if (u8(0) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G') "png"
      else if (bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F') "gif"
      else if (bytes(0) == 'B' && bytes(1) == 'M') "bmp"
      else if (bytes.length >= 12 && bytes(4) == 'f' && bytes(5) == 't' &&
        bytes(6) == 'y' && bytes(7) == 'p') "mp4"
      else if (bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F') "wav"
      else return ("unknown", id, false, "unrecognized magic bytes")
    codec match {
      case "jpeg" | "png" | "gif" | "bmp" =>
        try {
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          if (img == null) (codec, id, false, "no decodable image (corrupt or unsupported variant)")
          else (codec, id, true, null)
        } catch {
          case scala.util.control.NonFatal(e) =>
            (codec, id, false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      case "mp4" =>
        // top-level box walk (the mp4Meta discipline): each size >= 8,
        // boxes tile the payload exactly
        var pos = 0L
        var err: String = null
        while (err == null && pos < bytes.length) {
          if (pos + 8 > bytes.length) err = s"truncated box header at offset $pos"
          else {
            val p = pos.toInt
            val size = (u8(p).toLong << 24) | (u8(p + 1) << 16) | (u8(p + 2) << 8) | u8(p + 3)
            if (size < 8) err = s"box size $size < 8 at offset $pos"
            else if (pos + size > bytes.length) err = s"box at offset $pos overruns the payload"
            else pos += size
          }
        }
        ("mp4", id, err == null, err)
      case "wav" =>
        if (bytes.length >= 12 && bytes(8) == 'W' && bytes(9) == 'A' &&
          bytes(10) == 'V' && bytes(11) == 'E') ("wav", id, true, null)
        else ("wav", id, false, "RIFF container without a WAVE form")
    }
  }

  /** Encode frames as one animated GIF with the JDK's sequence writer —
    * the construct side of [[videoFrameFeatures]]'s oracle keys. GIF
    * palettes are lossless for low-color frames (≤256 distinct colors per
    * frame), so solid-color frames round-trip their channel values
    * EXACTLY; pass TYPE_BYTE_INDEXED images to pin the palette bytes.
    */
  def gifAnimatedBytes(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
    require(frames.nonEmpty)
    val bos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach(img =>
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null))
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** [[gifAnimatedBytes]] with explicit per-frame placement and GIF89a
    * disposal — the construct side of [[videoFrameFeatures]]'s
    * `composite = true` path. Each element is (image, left, top,
    * disposalMethod) with disposalMethod one of the ImageIO metadata
    * names: "none", "doNotDispose", "restoreToBackgroundColor",
    * "restoreToPrevious".
    */
  def gifAnimatedBytesPlaced(
      frames: Seq[(java.awt.image.BufferedImage, Int, Int, String)]): Array[Byte] = {
    require(frames.nonEmpty)
    import javax.imageio.metadata.IIOMetadataNode
    val bos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { case (img, left, top, disposal) =>
        val spec = javax.imageio.ImageTypeSpecifier.createFromRenderedImage(img)
        val md = writer.getDefaultImageMetadata(spec, null)
        val fmt = "javax_imageio_gif_image_1.0"
        val tree = md.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
        def node(name: String): IIOMetadataNode = {
          var c = tree.getFirstChild
          while (c != null && c.getNodeName != name) c = c.getNextSibling
          if (c != null) c.asInstanceOf[IIOMetadataNode]
          else { val fresh = new IIOMetadataNode(name); tree.appendChild(fresh); fresh }
        }
        val d = node("ImageDescriptor")
        d.setAttribute("imageLeftPosition", left.toString)
        d.setAttribute("imageTopPosition", top.toString)
        // the JDK writer DEFAULTS to interlaced output, and its interlace
        // for small frames is lossy (observed: the last row of a 4×4
        // frame reads back as index 0 — invisible on all-zero rasters,
        // corrupting as soon as a raster carries nonzero indices)
        d.setAttribute("interlaceFlag", "FALSE")
        val g = node("GraphicControlExtension")
        g.setAttribute("disposalMethod", disposal)
        g.setAttribute("userInputFlag", "FALSE")
        g.setAttribute("transparentColorFlag", "FALSE")
        g.setAttribute("delayTime", "0")
        g.setAttribute("transparentColorIndex", "0")
        // the DEFAULT metadata ships a generic 216-color web-palette
        // LocalColorTable — the writer then keeps the raster's indices
        // but serves them from THAT table (index 0 = black), silently
        // discarding the image's own palette. Indexed sources get their
        // real palette written; non-indexed sources drop the node so the
        // writer derives one from the pixels (the null-metadata path's
        // behavior, which also only round-trips web-safe colors exactly).
        img.getColorModel match {
          case icm: java.awt.image.IndexColorModel =>
            val lct = node("LocalColorTable")
            while (lct.getFirstChild != null) lct.removeChild(lct.getFirstChild)
            lct.setAttribute("sizeOfLocalColorTable", icm.getMapSize.toString)
            lct.setAttribute("sortFlag", "FALSE")
            for (i <- 0 until icm.getMapSize) {
              val e = new IIOMetadataNode("ColorTableEntry")
              e.setAttribute("index", i.toString)
              e.setAttribute("red", icm.getRed(i).toString)
              e.setAttribute("green", icm.getGreen(i).toString)
              e.setAttribute("blue", icm.getBlue(i).toString)
              lct.appendChild(e)
            }
          case _ =>
            var c = tree.getFirstChild
            while (c != null) {
              val nxt = c.getNextSibling
              if (c.getNodeName == "LocalColorTable") tree.removeChild(c)
              c = nxt
            }
        }
        md.setFromTree(fmt, tree)
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, md), null)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** Minimal VALID GIF builder for construct-and-check oracles (the
    * [[exifSampleBytes]] pattern): logical screen + optional global
    * color table + `frames` image descriptors (each one pixel of LZW-ish
    * filler in a single sub-block — enough for the block WALK; decoding
    * pixels is out of scope — [[videoFrameFeatures]] +
    * [[gifAnimatedBytes]] cover real multi-frame pixel decode) + trailer.
    */
  def gifSampleBytes(width: Int, height: Int, frames: Int, gctBits: Int,
                     v89: Boolean = true): Array[Byte] = {
    require(width >= 1 && height >= 1 && frames >= 0 && gctBits >= 0 && gctBits <= 7)
    val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def w8(v: Int): Unit = bb += v.toByte
    def w16(v: Int): Unit = { w8(v & 0xff); w8((v >> 8) & 0xff) }
    (if (v89) "GIF89a" else "GIF87a").foreach(c => w8(c.toInt))
    w16(width); w16(height)
    val hasGct = gctBits > 0
    w8((if (hasGct) 0x80 else 0) | (if (hasGct) gctBits - 1 else 0))
    w8(0); w8(0) // background color index, pixel aspect
    if (hasGct) (0 until (1 << gctBits) * 3).foreach(i => w8(i & 0xff))
    for (f <- 0 until frames) {
      w8(0x2c); w16(0); w16(0); w16(width); w16(height); w8(0) // no LCT
      w8(2)          // LZW min code size
      w8(2); w8(f & 0xff); w8(0x44) // one 2-byte data sub-block
      w8(0)          // sub-block terminator
    }
    w8(0x3b)
    bb.toArray
  }
}
