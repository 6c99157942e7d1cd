package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ops.{Sources, Sinks}

class SourcesSinksSpec extends SparkSpec {
  import spark.implicits._

  test("Tables.all names every driver table and each loads (warmup-list contract)") {
    // the bench warmup iterates Tables.all so first-touch listing jobs
    // never land on timed queries — a table missing from the list would
    // silently regress whichever query touches it first
    assert(graft.Tables.all.size == 10)
    graft.Tables.all.foreach { t =>
      assert(graft.Tables.load(spark, sf0001, t).columns.nonEmpty, s"table $t failed to load")
    }
  }

  test("op2: JSON catalog -> resource selection (explode, format filter, limit)") {
    val dir = tempDir("graft-json")
    Files.writeString(dir.resolve("catalog.json"),
      """{"title": "deces", "resources": [
        |{"format": "csv", "latest": "http://x/a.csv", "title": "a"},
        |{"format": "txt", "latest": "http://x/b.txt", "title": "b"},
        |{"format": "csv", "latest": "http://x/c.csv", "title": "c"},
        |{"format": "csv", "latest": "http://x/d.csv", "title": "d"}]}""".stripMargin.replace("\n", " "))
    val catalog = spark.read.json(dir.toString)
    val picked = Sources.selectResources(catalog, "csv", maxResources = 2)
      .select("url").as[String].collect()
    assert(picked.length == 2 && picked.forall(_.endsWith(".csv")))
  }

  test("op2: (_src, _pos)-tied records break deterministically by (url, title)") {
    // a non-file-backed catalog has input_file_name() = '' and per-record
    // _pos restarting at 0, so every first resource ties on (_src, _pos);
    // the limit cutoff must still be a total order, not partition luck
    val catalog = Seq(("recA", "http://x/z.csv", "z"), ("recB", "http://x/a.csv", "a"))
      .toDF("title", "u", "t")
      .select(col("title"), array(struct(lit("csv").as("format"),
        col("u").as("latest"), col("t").as("title"))).as("resources"))
      .repartition(2)
    (1 to 3).foreach { _ =>
      val got = Sources.selectResources(catalog, "csv", maxResources = 1)
        .select("url").as[String].collect().toSeq
      assert(got == Seq("http://x/a.csv"),
        "tied (_src,_pos) must fall through to the url tiebreak")
    }
  }

  test("op4: permissive ;-CSV scan drops malformed lines (pandas error_bad_lines=False)") {
    val dir = tempDir("graft-csv")
    Files.writeString(dir.resolve("x.csv"),
      "a;b;c\n1;2;3\nbroken;line;with;extra;fields\n4;5;6\n")
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("a", IntegerType), StructField("b", IntegerType), StructField("c", IntegerType)))
    val df = Sources.csvPermissive(spark, dir.toString + "/x.csv", schema = Some(schema))
    // note: a bare count() parses no columns (CSV column pruning), so
    // malformed rows are only dropped when fields are actually read
    assert(df.select("a", "b", "c").as[(Int, Int, Int)].collect().toSeq == Seq((1, 2, 3), (4, 5, 6)))
  }

  test("op6: glob discovery with provenance keeps only matching files") {
    val dir = tempDir("graft-glob")
    Files.writeString(dir.resolve("death_1.txt"), "row1\nrow2")
    Files.writeString(dir.resolve("other.txt"), "nope")
    val df = Sources.globText(spark, s"$dir/death_*")
    assert(df.count() == 2)
    assert(df.select("src_file").distinct().as[String].collect().forall(_.contains("death_1")))
  }

  test("op21+24+25: idempotent parquet append with partitioning; re-run is a no-op") {
    val path = tempDir("graft-sink").toString + "/table"
    val batch1 = Seq((1, "2022", "a"), (2, "2022", "b"), (2, "2022", "b")).toDF("id", "yr", "v")
    assert(Sinks.idempotentParquetAppend(spark, batch1, path, Seq("id"), Seq("yr")) == 2)
    // overlapping re-run: only the genuinely new row lands
    val batch2 = Seq((2, "2022", "b"), (3, "2023", "c")).toDF("id", "yr", "v")
    assert(Sinks.idempotentParquetAppend(spark, batch2, path, Seq("id"), Seq("yr")) == 1)
    assert(Sinks.idempotentParquetAppend(spark, batch2, path, Seq("id"), Seq("yr")) == 0)
    val stored = spark.read.parquet(path)
    assert(stored.count() == 3)
    // partition pruning is available on the year column
    assert(stored.where($"yr" === "2023").count() == 1)
  }

  test("idempotentParquetAppend returns the rows it added, in one job, AQE on and off") {
    def files(path: String): Set[String] = {
      val root = java.nio.file.Paths.get(path)
      val s = Files.walk(root)
      try s.filter(p => Files.isRegularFile(p)).map(p => root.relativize(p).toString)
        .toArray.map(_.toString).toSet
      finally s.close()
    }
    def stored(path: String): Long = spark.read.parquet(path).count()
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    try Seq("true", "false").foreach { aqe =>
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      val root = tempDir("graft-sink-obs")
      val batch1 = Seq((1, "2022", "a"), (2, "2022", "b"), (2, "2022", "c")).toDF("id", "yr", "v")
      val batch2 = Seq((2, "2022", "b"), (3, "2023", "d")).toDF("id", "yr", "v")
      Seq(Seq("yr"), Nil).foreach { part =>
        val path = root.resolve(s"t${part.size}").toString
        def append(b: org.apache.spark.sql.DataFrame): Long =
          Sinks.idempotentParquetAppend(spark, b, path, Seq("id"), part)
        val where = s"AQE $aqe, partitionBy $part"
        assert(append(batch1) == 2 && stored(path) == 2, where) // fresh path
        assert(append(batch2) == 1 && stored(path) == 3, where) // existing path
        val before = files(path)
        assert(append(batch2) == 0 && stored(path) == 3, where) // no-op re-run
        // partitioned: no file at all; flat: Spark's writer may leave one
        // empty part file (documented on the sink), never a row
        if (part.nonEmpty) assert(files(path) == before, where)
        assert(append(batch2.where(lit(false))) == 0 && stored(path) == 3, where)
        val fresh = root.resolve(s"empty${part.size}").toString
        assert(Sinks.idempotentParquetAppend(
          spark, batch1.where(lit(false)), fresh, Seq("id"), part) == 0, where)
        assert(Sinks.idempotentParquetAppend(spark, batch1, fresh, Seq("id"), part) == 2, where)
        assert(stored(fresh) == 2, where)
      }
      if (aqe == "false") {
        // the count rides the write: no persist + count job before it
        val path = root.resolve("onejob").toString
        var n = -1L
        val jobs = jobsRunBy { n = Sinks.idempotentParquetAppend(spark, batch1, path, Seq("id"), Seq("yr")) }
        assert(n == 2 && jobs == 1, s"a fresh-path append ran $jobs jobs")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("op21: writeIfNonEmpty skips the write for empty frames") {
    var written = 0
    assert(!Sinks.writeIfNonEmpty(Seq.empty[Int].toDF("x"), _ => written += 1))
    assert(Sinks.writeIfNonEmpty(Seq(1).toDF("x"), _ => written += 1))
    assert(written == 1)
  }

  test("op23: csv sink roundtrip") {
    val path = tempDir("graft-csvsink").toString + "/out"
    Sinks.csvSink(Seq((1, "x"), (2, "y")).toDF("id", "v"), path)
    val back = spark.read.option("header", "true").csv(path)
    assert(back.count() == 2 && back.columns.toSeq == Seq("id", "v"))
  }

  test("imageDims parses real PNG IHDR bytes; non-PNG payloads yield null dims") {
    // a genuine byte-literal PNG header (1-pixel-wide examples from the PNG
    // spec layout), NOT built by pngHeader — so the test catches a builder
    // and parser that are wrong in the same way
    val pngBytes = Array[Int](
      0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A, // signature
      0x00, 0x00, 0x00, 0x0D, 0x49, 0x48, 0x44, 0x52, // len 13 + "IHDR"
      0x00, 0x00, 0x01, 0x00, // width 256
      0x00, 0x00, 0x02, 0x01, // height 513
      0x08, 0x06, 0x00, 0x00, 0x00).map(_.toByte)
    val df = Seq((1L, pngBytes), (2L, "not a png".getBytes("UTF-8")))
      .toDF("id", "payload")
    val rows = graft.ops.Multimodal.imageDims(df, "payload")
      .select("id", "width", "height").collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getInt(1) == 256 && rows(1L).getInt(2) == 513)
    assert(rows(2L).isNullAt(1) && rows(2L).isNullAt(2))
    // and the builder round-trips through the parser
    val built = Seq((7L, 640, 480)).toDF("id", "w", "h")
      .select($"id", graft.ops.Multimodal.pngHeader($"w", $"h").as("payload"))
    val back = graft.ops.Multimodal.imageDims(built, "payload")
      .select("width", "height").as[(Int, Int)].head()
    assert(back == ((640, 480)))
  }

  test("decodeImageFeatures runs a REAL JDK decoder: exact dims and colors for PNG, JPEG decodes, junk flagged") {
    def solidPng(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    def jpeg(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, ((x * 9) % 256) << 16)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos); bos.toByteArray
    }
    val df = Seq(
      (1L, solidPng(16, 9, 0xCC8844)),
      (2L, jpeg(20, 10)),
      (3L, "definitely not an image".getBytes("UTF-8"))
    ).toDF("id", "payload").repartition(3)
    val rows = graft.ops.Multimodal.decodeImageFeatures(df, "id")
      .collect().map(r => r.getLong(0) -> r).toMap
    // PNG is lossless: solid 0xCC8844 decodes to exact channel means
    val p = rows(1L)
    assert(p.getBoolean(1) && p.getInt(2) == 16 && p.getInt(3) == 9)
    assert(p.getDouble(4) == 0xCC.toDouble && p.getDouble(5) == 0x88.toDouble && p.getDouble(6) == 0x44.toDouble)
    assert(math.abs(p.getSeq[Double](7).sum - 1.0) < 1e-12)
    val j = rows(2L)
    assert(j.getBoolean(1) && j.getInt(2) == 20 && j.getInt(3) == 10)
    assert(!rows(3L).getBoolean(1), "junk bytes must flag ok=false, not throw")
  }

  test("mp4Meta walks ISO-BMFF boxes: v0 builder roundtrip, v1 mvhd + largesize, junk flagged") {
    // v0 via the expression builder (the mm_video_meta construct-and-check path)
    val built = spark.range(1).select(lit(7L).as("id"),
      graft.ops.Multimodal.mp4Sample(lit(600L), lit(123456L)).as("payload"))
    val m = graft.ops.Multimodal.mp4Meta(built, "id").collect()(0)
    assert(m.getBoolean(1) && m.getString(2) == "isom" && m.getInt(3) == 3)
    assert(m.getString(4) == "ftyp,moov,mdat" && m.getLong(5) == 600L && m.getLong(6) == 123456L)
    // hand-built v1 mvhd (64-bit duration) + 64-bit-largesize mdat
    def be4(v: Long) = Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be8(v: Long) = be4(v >>> 32) ++ be4(v & 0xFFFFFFFFL)
    def box(typ: String, payload: Array[Byte]) =
      be4(payload.length + 8L) ++ typ.getBytes("ISO-8859-1") ++ payload
    val bigDur = (1L << 33) + 5L
    val mvhd1 = box("mvhd",
      Array[Byte](1, 0, 0, 0) ++ be8(0) ++ be8(0) ++ be4(90000) ++ be8(bigDur) ++
        Array.fill[Byte](80)(0))
    val mdatLarge = be4(1) ++ "mdat".getBytes("ISO-8859-1") ++ be8(16L + 5) ++
      Array.fill[Byte](5)(9)
    val bytes = box("ftyp", "mp42".getBytes("ISO-8859-1") ++ be4(0)) ++
      box("moov", mvhd1) ++ mdatLarge
    val v1 = graft.ops.Multimodal.mp4Meta(
      Seq((1L, bytes)).toDF("id", "payload"), "id").collect()(0)
    assert(v1.getBoolean(1) && v1.getString(2) == "mp42")
    assert(v1.getString(4) == "ftyp,moov,mdat" && v1.getLong(5) == 90000L && v1.getLong(6) == bigDur)
    // junk, truncated, and NULL payloads flag ok=false, never throw
    val junk = Seq((2L, "definitely not an mp4".getBytes("UTF-8")),
      (3L, bytes.take(20)), (4L, null: Array[Byte])).toDF("id", "payload")
    val bad = graft.ops.Multimodal.mp4Meta(junk, "id").collect()
    assert(bad.length == 3 && bad.forall(!_.getBoolean(1)))
  }

  test("decodeAudioFeatures parses real WAV/PCM; junk flags ok=false") {
    def wav(nFrames: Int, amp: Short, rate: Float = 8000f): Array[Byte] = {
      val pcm = new Array[Byte](nFrames * 2)
      for (i <- 0 until nFrames) {
        val v: Short = if (i % 2 == 0) amp else (-amp).toShort
        pcm(2 * i) = (v & 0xff).toByte; pcm(2 * i + 1) = (v >> 8).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val df = Seq((1L, wav(200, 1234)), (2L, "not audio".getBytes("UTF-8")))
      .toDF("id", "payload")
    val rows = graft.ops.Multimodal.decodeAudioFeatures(df, "id")
      .collect().map(r => r.getLong(0) -> r).toMap
    val a = rows(1L)
    assert(a.getBoolean(1) && a.getInt(2) == 8000 && a.getInt(3) == 1 && a.getLong(4) == 200L)
    assert(a.getInt(5) == 1234 && a.getDouble(6) == 1234.0) // |±amp| square wave: peak == mean|amp|
    assert(!rows(2L).getBoolean(1), "junk bytes must flag ok=false")
  }

  test("audioFingerprint: analytic contour bits; gain invariance; a window boost flips only boundary bits") {
    // 4 windows × 4 frames of constant amplitudes — energies 4·a_w, so
    // bit_k = (a_{k+1} > a_k) exactly
    def wav(amps: Seq[Short]): Array[Byte] = {
      val per = 4
      val pcm = new Array[Byte](amps.length * per * 2)
      for ((a, w) <- amps.zipWithIndex; f <- 0 until per) {
        val i = w * per + f
        pcm(2 * i) = (a & 0xff).toByte; pcm(2 * i + 1) = (a >> 8).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, (amps.length * per).toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val base = Seq[Short](100, 300, 200, 400)        // deltas: up, down, up → 0b101
    val gain = base.map(a => (a * 2).toShort)        // uniform gain: same contour
    val boost = Seq[Short](100, 300, 900, 400)       // window 2 boosted: flips both boundary bits
    val df = Seq((1L, wav(base)), (2L, wav(gain)), (3L, wav(boost)),
      (4L, "junk".getBytes("UTF-8"))).toDF("id", "payload")
    val got = graft.ops.Multimodal.audioFingerprint(df, "id", windows = 4)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    assert(got(1L) === ((true, 5L)), s"contour bits wrong: ${got(1L)}")
    assert(got(2L) === ((true, 5L)), "uniform gain must not change the contour")
    assert(got(3L) === ((true, 3L)), "boost flips exactly the two boundary delta bits")  // up, up, down
    assert(java.lang.Long.bitCount(got(1L)._2 ^ got(3L)._2) === 2)
    assert(!got(4L)._1, "junk bytes must flag ok=false")
  }

  test("videoFrameFeatures: GIF sampling hits the right indices, MJPEG pixels decode close, junk quarantines") {
    import java.awt.image.BufferedImage
    // 5-frame animated GIF, everyNth=2 -> container frames 0,2,4 exactly
    def gray(v: Int, w: Int, h: Int): BufferedImage = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(v, v, v)); g.fillRect(0, 0, w, h); g.dispose()
      img
    }
    val gif = graft.ops.Multimodal.gifAnimatedBytes((0 until 5).map(f => gray(f * 50, 6, 4)))
    val jpegs = {
      val bos = new java.io.ByteArrayOutputStream()
      for (f <- 0 until 3) javax.imageio.ImageIO.write(gray(100 + f * 40, 8 + f, 5), "jpg", bos)
      bos.toByteArray
    }
    val df = Seq((1L, gif), (2L, jpegs), (3L, "not a video".getBytes("UTF-8")))
      .toDF("id", "payload")
    val got = graft.ops.Multimodal.videoFrameFeatures(df, "id", everyNth = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getBoolean(2), r.getInt(3), r.getInt(4), r.getDouble(5))).toMap
    assert(got.keySet == Set(1L -> 0, 1L -> 2, 1L -> 4, 2L -> 0, 2L -> 2, 3L -> -1),
      s"wrong frame inventory: ${got.keySet}")
    assert(!got(3L -> -1)._1, "junk payload must quarantine as ok=false")
    for (f <- Seq(0, 2, 4)) {
      val (ok, w, h, mr) = got(1L -> f)
      assert(ok && w == 6 && h == 4, s"GIF frame $f geometry wrong: ($w,$h)")
      assert(mr == f * 50.0, s"GIF is lossless: frame $f mean_r $mr != ${f * 50}")
    }
    // MJPEG: geometry exact per frame, pixels lossy-close (solid gray
    // quantizes within a few levels)
    val (ok0, w0, h0, mr0) = got(2L -> 0)
    assert(ok0 && w0 == 8 && h0 == 5 && math.abs(mr0 - 100.0) < 4.0,
      s"MJPEG frame 0 wrong: ($w0,$h0,$mr0)")
    val (ok2, w2, h2, mr2) = got(2L -> 2)
    assert(ok2 && w2 == 10 && h2 == 5 && math.abs(mr2 - 180.0) < 4.0,
      s"MJPEG frame 2 wrong: ($w2,$h2,$mr2)")
  }

  test("videoFrameFeatures: an APPn-embedded thumbnail JPEG no longer splits its MJPEG frame early") {
    import java.awt.image.BufferedImage
    def solid(r: Int, g: Int, b: Int, w: Int, h: Int): BufferedImage = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val gr = img.createGraphics()
      gr.setColor(new java.awt.Color(r, g, b)); gr.fillRect(0, 0, w, h); gr.dispose()
      img
    }
    def jpeg(img: BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    // camera-style frame: an APP1 segment right after SOI embedding a
    // COMPLETE thumbnail JPEG — its inner FFD9 made the raw-scan splitter
    // end the frame early and quarantine it
    def withThumbnail(outer: Array[Byte], thumb: Array[Byte]): Array[Byte] = {
      val payload = "GRFT0".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++ thumb
      val len = payload.length + 2
      require(len <= 0xffff, "thumbnail too large for one APP1 segment")
      outer.take(2) ++
        Array(0xff.toByte, 0xe1.toByte, ((len >> 8) & 0xff).toByte, (len & 0xff).toByte) ++
        payload ++ outer.drop(2)
    }
    val frame0 = withThumbnail(jpeg(solid(120, 120, 120, 8, 6)), jpeg(solid(10, 10, 10, 2, 2)))
    val frame1 = jpeg(solid(200, 200, 200, 9, 5))
    val df = Seq((1L, frame0 ++ frame1)).toDF("id", "payload")
    val got = graft.ops.Multimodal.videoFrameFeatures(df, "id")
      .collect().map(r => r.getInt(1) ->
        (r.getBoolean(2), r.getInt(3), r.getInt(4), r.getDouble(5))).toMap
    assert(got.keySet == Set(0, 1), s"wrong frame inventory: ${got.keySet}")
    val (ok0, w0, h0, mr0) = got(0)
    assert(ok0 && w0 == 8 && h0 == 6, s"thumbnail-bearing frame must keep OUTER dims: ($w0,$h0)")
    assert(math.abs(mr0 - 120.0) < 4.0, s"outer pixels, not the thumbnail's: $mr0")
    val (ok1, w1, h1, _) = got(1)
    assert(ok1 && w1 == 9 && h1 == 5, "the frame after the thumbnail-bearer must still split")
    // a truncated tail degrades loudly as one quarantined row
    val cut = (frame0 ++ frame1).dropRight(4)
    val gotCut = graft.ops.Multimodal.videoFrameFeatures(
        Seq((2L, cut)).toDF("id", "payload"), "id")
      .collect().map(r => r.getInt(1) -> r.getBoolean(2)).toMap
    assert(gotCut == Map(0 -> true, 1 -> false),
      s"truncated tail must quarantine as its own row, got $gotCut")
    // trailing NON-PADDING garbage after the last complete EOI also
    // quarantines (it is content the split did not account for), while
    // 0x00/0xFF fill runs are legitimate padding and stay silent
    def inventory(bytes: Array[Byte]) = graft.ops.Multimodal.videoFrameFeatures(
        Seq((3L, bytes)).toDF("id", "payload"), "id")
      .collect().map(r => r.getInt(1) -> r.getBoolean(2)).toMap
    val garbage = frame0 ++ frame1 ++ "leftover".getBytes("UTF-8")
    assert(inventory(garbage) == Map(0 -> true, 1 -> true, 2 -> false),
      "trailing non-padding bytes must quarantine as one row")
    val padded = frame0 ++ frame1 ++ Array.fill(6)(0.toByte) ++ Array.fill(3)(0xff.toByte)
    assert(inventory(padded) == Map(0 -> true, 1 -> true),
      "trailing 0x00/0xFF fill is padding, not garbage")
  }

  test("videoFrameFeatures: composite=true applies GIF89a disposal; full-rect frames identical either way") {
    import java.awt.image.{BufferedImage, IndexColorModel}
    // indexed frames pin the palettes (and therefore the GLOBAL color
    // table the writer derives from frame 0): index 0 = the background
    // green, index 1 = the frame's own red — so the engine contract's
    // background fill (GCT[backgroundColorIndex=0]) is exactly green
    def solidIdx(p0: (Int, Int, Int), p1: (Int, Int, Int), fill: (Int, Int, Int),
                 w: Int, h: Int): BufferedImage = {
      val cm = new IndexColorModel(8, 2,
        Array(p0._1.toByte, p1._1.toByte), Array(p0._2.toByte, p1._2.toByte),
        Array(p0._3.toByte, p1._3.toByte))
      val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, cm)
      val gr = img.createGraphics()
      gr.setColor(new java.awt.Color(fill._1, fill._2, fill._3))
      gr.fillRect(0, 0, w, h); gr.dispose()
      img
    }
    val red = (255, 0, 0); val green = (0, 255, 0)
    val blue = (0, 0, 255); val white = (255, 255, 255); val black = (0, 0, 0)
    // logical screen 4×4: f0 full red (then restores to the BACKGROUND
    // green), f1 2×2 blue at (1,1) kept, f2 1×1 white at (0,0) reverting
    val gif = graft.ops.Multimodal.gifAnimatedBytesPlaced(Seq(
      (solidIdx(green, red, fill = red, 4, 4), 0, 0, "restoreToBackgroundColor"),
      (solidIdx(blue, black, fill = blue, 2, 2), 1, 1, "doNotDispose"),
      (solidIdx(white, black, fill = white, 1, 1), 0, 0, "restoreToPrevious")))
    val df = Seq((1L, gif)).toDF("id", "payload")
    val got = graft.ops.Multimodal.videoFrameFeatures(df, "id", composite = true)
      .collect().map(r => r.getInt(1) ->
        (r.getBoolean(2), r.getInt(3), r.getInt(4),
          r.getDouble(5), r.getDouble(6), r.getDouble(7))).toMap
    assert(got.keySet == Set(0, 1, 2))
    // hand-computed composited means over the 16-pixel logical screen
    assert(got(0) === ((true, 4, 4, 255.0, 0.0, 0.0)), s"f0: ${got(0)}")
    assert(got(1) === ((true, 4, 4, 0.0, 12 * 255.0 / 16, 4 * 255.0 / 16)),
      s"f1 (blue rect on the BACKGROUND-green restored canvas): ${got(1)}")
    assert(got(2) === ((true, 4, 4, 255.0 / 16, 12 * 255.0 / 16, 5 * 255.0 / 16)),
      s"f2 (white pixel over green canvas + kept blue rect): ${got(2)}")
    // full-rect animation: composite and as-stored agree byte-for-byte
    def solidRgb(r: Int, g: Int, b: Int, w: Int, h: Int): BufferedImage = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val gr = img.createGraphics()
      gr.setColor(new java.awt.Color(r, g, b)); gr.fillRect(0, 0, w, h); gr.dispose()
      img
    }
    val full = graft.ops.Multimodal.gifAnimatedBytes(
      (0 until 3).map(f => solidRgb(f * 80, 10, 10, 6, 4)))
    val fdf = Seq((1L, full)).toDF("id", "payload")
    def rows(composite: Boolean) =
      graft.ops.Multimodal.videoFrameFeatures(fdf, "id", composite = composite)
        .collect().map(_.toSeq).toSeq
    assert(rows(composite = true) == rows(composite = false),
      "full-rect frames must be identical under both modes")
  }

  test("decodeStats: per-codec ok/quarantine counts with a deterministic error sample") {
    import java.awt.image.BufferedImage
    def jpeg(v: Int): Array[Byte] = {
      val img = new BufferedImage(6, 4, BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(v, v, v)); g.fillRect(0, 0, 6, 4); g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val goodJpeg = jpeg(100)
    val cutJpeg = jpeg(50).dropRight(jpeg(50).length / 2) // truncated mid-stream
    val gif = graft.ops.Multimodal.gifAnimatedBytes(Seq(
      new BufferedImage(3, 3, BufferedImage.TYPE_INT_RGB)))
    // a minimal valid ISO-BMFF: one ftyp box tiling the payload exactly,
    // and a corrupt sibling whose box size overruns
    val ftyp = Array[Byte](0, 0, 0, 16, 'f', 't', 'y', 'p',
      'i', 's', 'o', 'm', 0, 0, 0, 1)
    val badMp4 = Array[Byte](0, 0, 0, 99, 'f', 't', 'y', 'p', 'i', 's', 'o', 'm')
    val rows = Seq(
      (1L, goodJpeg), (2L, cutJpeg), (3L, gif), (4L, ftyp), (5L, badMp4),
      (6L, "not media at all".getBytes("UTF-8")), (7L, null.asInstanceOf[Array[Byte]]),
      (8L, cutJpeg) // second jpeg failure: the SAMPLE must pick id 2 (min)
    ).toDF("doc_id", "payload")
    val got = graft.ops.Multimodal.decodeStats(rows, "doc_id")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    assert(got.keySet == Set("jpeg", "gif", "mp4", "unknown", "none"), s"codecs: ${got.keySet}")
    assert(got("jpeg") == ((1L, 2L, Some(2L))),
      s"jpeg: 1 ok, 2 quarantined, sample = min failing id, got ${got("jpeg")}")
    assert(got("gif") == ((1L, 0L, None)), s"gif: ${got("gif")}")
    assert(got("mp4") == ((1L, 1L, Some(5L))), s"mp4: ${got("mp4")}")
    assert(got("unknown") == ((0L, 1L, Some(6L))), s"unknown: ${got("unknown")}")
    assert(got("none") == ((0L, 1L, Some(7L))), s"none (null payload): ${got("none")}")
    // the sample carries a human-readable error string
    val errs = graft.ops.Multimodal.decodeStats(rows, "doc_id")
      .where(col("codec") === "mp4").select("sample_err").as[String].collect()
    assert(errs.length == 1 && errs.head.contains("overruns"), errs.mkString)
  }

  test("bucketedTable: database-qualified names drop the real table (stale-path guard)") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_bt_db")
    val p1 = tempDir("graft-bt1").toString
    val p2 = tempDir("graft-bt2").toString
    try {
      Sinks.bucketedTable(Seq((1L, "a")).toDF("k", "s"), "graft_bt_db.t", 2, Seq("k"), Some(p1))
      // re-run against a DIFFERENT path: the whole-name-backticked DROP
      // used to no-op (looking up a table literally named "graft_bt_db.t"
      // in the current database), voiding the stale-location guarantee
      Sinks.bucketedTable(Seq((2L, "b")).toDF("k", "s"), "graft_bt_db.t", 2, Seq("k"), Some(p2))
      val got = spark.table("graft_bt_db.t").as[(Long, String)].collect().toSeq
      assert(got == Seq((2L, "b")), s"stale location read back: $got")
    } finally spark.sql("DROP DATABASE IF EXISTS graft_bt_db CASCADE")
  }

  test("jdbc existence probe does not treat '_' in table names as a LIKE wildcard") {
    val db = tempDir("graft-derby2").toString + "/db"
    val url = s"jdbc:derby:$db;create=true"
    val props = new java.util.Properties()
    Seq((1L, "a")).toDF("id", "v").write.jdbc(url, "my1table", props)
    // before escaping, the metadata LIKE pattern 'my_table' matched 'my1table'
    assert(!org.apache.spark.sql.GraftBridge.jdbcTableExists(url, "my_table", props))
    assert(org.apache.spark.sql.GraftBridge.jdbcTableExists(url, "my1table", props))
    // and the idempotent append therefore CREATES my_table instead of failing
    assert(Sinks.idempotentJdbcAppend(spark, Seq((7L, "x")).toDF("id", "v"), url, "my_table", Seq("id")) == 1)
  }

  test("parquet zstd compression roundtrips and actually produces zstd files") {
    // codec choice is a real 100-TB knob (zstd ≈ snappy speed at gzip-class
    // ratios); assert the option takes effect rather than silently falling
    // back to the default codec
    val path = tempDir("graft-zstd").toString + "/t"
    val src = Tables.load(spark, sf0001, "orders")
    src.write.option("compression", "zstd").parquet(path)
    val files = new java.io.File(path).listFiles.map(_.getName).filter(_.endsWith(".parquet"))
    assert(files.nonEmpty && files.forall(_.contains(".zstd.")),
      s"expected zstd-suffixed parquet parts, got ${files.toSeq}")
    assert(spark.read.parquet(path).count() == src.count())
  }

  test("orc source/sink roundtrip with predicate pushdown") {
    val path = tempDir("graft-orc").toString + "/t"
    Tables.load(spark, sf0001, "nation").write.orc(path)
    val back = spark.read.orc(path).where($"n_nationkey" > 20)
    assert(back.count() == 4)
    assert(back.queryExecution.executedPlan.toString.contains("PushedFilters: [IsNotNull(n_nationkey), GreaterThan(n_nationkey,20)]"))
  }

  test("op24: idempotent JDBC append against embedded Derby — re-run is a no-op") {
    val db = tempDir("graft-derby").toString + "/db"
    val url = s"jdbc:derby:$db;create=true"
    val batch = Seq((1L, "a"), (2L, "b"), (2L, "b")).toDF("id", "v")
    assert(Sinks.idempotentJdbcAppend(spark, batch, url, "t1", Seq("id")) == 2) // in-batch dup dropped
    assert(Sinks.idempotentJdbcAppend(spark, batch, url, "t1", Seq("id")) == 0) // re-run no-op
    val more = Seq((2L, "b"), (3L, "c")).toDF("id", "v")
    assert(Sinks.idempotentJdbcAppend(spark, more, url, "t1", Seq("id")) == 1) // only the new key
    val back = spark.read.jdbc(url, "t1", new java.util.Properties())
    assert(back.count() == 3)
    assert(back.select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("bucketed co-located join: no shuffle exchange on either side") {
    val o = Tables.load(spark, sf0001, "orders")
    val l = Tables.load(spark, sf0001, "lineitem")
    Sinks.bucketedTable(o.select($"o_orderkey", $"o_totalprice"), "orders_b", 4, Seq("o_orderkey"))
    Sinks.bucketedTable(l.select($"l_orderkey", $"l_quantity"), "lineitem_b", 4, Seq("l_orderkey"))
    // force the shuffled-join path (at real scale neither fact side
    // broadcasts); co-bucketing must then avoid the exchange entirely
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("orders_b")
        .join(spark.table("lineitem_b"), $"o_orderkey" === $"l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == l.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("imageAHash: identical images collide, a small edit moves few bits, junk flags not-ok") {
    import spark.implicits._
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(32, 32,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 32; y <- 0 until 32) img.setRGB(x, y, f(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val checker = (x: Int, y: Int) => if (((x / 8) + (y / 8)) % 2 == 0) 0 else 0xffffff
    val oneEdit = (x: Int, y: Int) => if (x == 0 && y == 0) 0x808080 else checker(x, y)
    val inverse = (x: Int, y: Int) => if (((x / 8) + (y / 8)) % 2 == 0) 0xffffff else 0
    val df = Seq(
      (1L, png(checker)), (2L, png(checker)), (3L, png(oneEdit)),
      (4L, png(inverse)), (5L, Array[Byte](1, 2, 3))).toDF("id", "payload")
    val got = graft.ops.Multimodal.imageAHash(df, "id")
      .as[(Long, Boolean, String)].collect().map(r => r._1 -> r).toMap
    def ham(a: String, b: String): Int =
      java.lang.Long.bitCount(java.lang.Long.parseUnsignedLong(a, 16) ^
        java.lang.Long.parseUnsignedLong(b, 16))
    assert(got(1L)._3 == got(2L)._3, "same pixels → same hash")
    assert(ham(got(1L)._3, got(3L)._3) <= 2, "one-pixel edit is a perceptual near-dup")
    assert(ham(got(1L)._3, got(4L)._3) == 64, "checkerboard inverse flips every cell")
    assert(!got(5L)._2 && got(5L)._3 == "", "junk payload flags ok=false")
  }
  test("hammingNearDupPairs over aHash: planted bit-pattern groups recover exactly, no cross-group pairs") {
    import spark.implicits._
    // 2x2-block pattern PNGs — aHash equals the drawn 64-bit pattern
    def patPng(pat: Long): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (cell <- 0 until 64) {
        val c = if (((pat >>> (63 - cell)) & 1L) == 1L) 0xffffff else 0
        val bx = (cell % 8) * 2; val by = (cell / 8) * 2
        for (dx <- 0 to 1; dy <- 0 to 1) img.setRGB(bx + dx, by + dy, c)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val baseA = 0x0123456789abcdL; val baseB = 0x0fedcba987654321L
    val df = Seq(
      (0L, patPng(baseA)), (1L, patPng(baseA ^ 1L)), (2L, patPng(baseA ^ 3L)),
      (3L, patPng(baseA ^ 7L)), (10L, patPng(baseB))).toDF("id", "payload")
    val sig = graft.ops.Multimodal.imageAHash(df, "id")
      .select(col("id"), conv(col("ahash_hex"), 16, 10).cast("long").as("h"))
    val got = graft.ops.Dedup.hammingNearDupPairs(sig, "id", "h")
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // nested masks {0,1,3,7}: all 6 in-group pairs at hamming 1..3
    assert(got === Map((0L, 1L) -> 1, (0L, 2L) -> 2, (0L, 3L) -> 3,
      (1L, 2L) -> 1, (1L, 3L) -> 2, (2L, 3L) -> 1),
      "exact in-group pair set with exact hammings; baseB never pairs")
  }

  test("exifMeta: builder roundtrip in BOTH byte orders; inline short ASCII; junk and truncation flag ok=false") {
    import spark.implicits._
    import graft.ops.Multimodal
    val pay = Seq(
      (1L, Multimodal.exifSampleBytes("NIKON", 6, 640, 480L, little = true)),
      (2L, Multimodal.exifSampleBytes("CANON", 1, 31999, 4000000000L, little = false)),
      // make "abc" + NUL = 4 bytes -> stored INLINE in the value field
      (3L, Multimodal.exifSampleBytes("abc", 8, 1, 1L, little = true)),
      (4L, "not a jpeg at all".getBytes),
      (5L, Multimodal.exifSampleBytes("TRUNC", 2, 10, 10L, little = true).take(20)),
      (6L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload")
    val got = Multimodal.exifMeta(pay, "id").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2), r.getInt(3),
        r.getString(4), r.getInt(5), r.getLong(6), r.getLong(7)))).toMap
    assert(got(1L) === ((true, "II", 4, "NIKON", 6, 640L, 480L)))
    // MM path + a LONG height past the u32 sign bit
    assert(got(2L) === ((true, "MM", 4, "CANON", 1, 31999L, 4000000000L)))
    assert(got(3L) === ((true, "II", 4, "abc", 8, 1L, 1L)))
    assert(!got(4L)._1 && !got(5L)._1 && !got(6L)._1)
  }

  test("exifMeta: 0xFF fill bytes before a marker (JPEG B.1.1.2) are skipped, not misparsed as a segment") {
    import spark.implicits._
    import graft.ops.Multimodal
    // inject two legal fill bytes between SOI and APP1: the old walk read
    // the real marker byte (0xE1) as the length's high byte and
    // quarantined the well-formed file
    val base = Multimodal.exifSampleBytes("NIKON", 6, 640, 480L, little = true)
    val padded = base.take(2) ++ Array(0xff.toByte, 0xff.toByte) ++ base.drop(2)
    val got = Multimodal.exifMeta(Seq((1L, padded)).toDF("id", "payload"), "id").head()
    assert(got.getBoolean(1), "fill-padded JPEG must parse")
    assert(got.getString(4) == "NIKON" && got.getLong(6) == 640L)
  }

  test("exifMeta: a JPEG with no APP1 before image data is ok=false, not a scan past SOS") {
    import spark.implicits._
    // SOI + SOS marker immediately
    val noExif = Seq((1L, Array(0xff, 0xd8, 0xff, 0xda, 0x00, 0x04, 0x01, 0x02)
      .map(_.toByte))).toDF("id", "payload")
    val r = graft.ops.Multimodal.exifMeta(noExif, "id").head()
    assert(!r.getBoolean(1))
  }
  test("imageWHash: constant image hashes to zero; quadrant image sets the analytic low-frequency bits; junk flags") {
    import spark.implicits._
    import graft.ops.Multimodal
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 16; y <- 0 until 16) { val g = f(x, y); img.setRGB(x, y, (g << 16) | (g << 8) | g) }
      val bos = new java.io.ByteArrayOutputStream(); javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    val pay = Seq(
      (1L, png((_, _) => 100)),                                   // constant
      (2L, png((x, y) => if (x < 8 == y < 8) 200 else 40)),       // checkerboard quadrants
      (3L, png((x, _) => if (x < 8) 200 else 40)),                // vertical step
      (4L, "junk".getBytes)).toDF("id", "payload")
    val got = Multimodal.imageWHash(pay, "id").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    assert(got(1L) === ((true, "0000000000000000")))
    // quadrants: V = s·sᵀ pattern → single coefficient at (u,t)=(4,4),
    // positive → bit 63-(4*8+4) = bit 27
    assert(got(2L) === ((true, f"${1L << 27}%016x")))
    // vertical step, bright-left → (0,4) → bit 59 (the oracle construct)
    assert(got(3L) === ((true, f"${1L << 59}%016x")))
    assert(!got(4L)._1)
  }

  test("imageWHash: a small local edit is a perceptual near-dup (low hamming), unlike the exact fingerprint") {
    import spark.implicits._
    import graft.ops.Multimodal
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 16; y <- 0 until 16) { val g = f(x, y); img.setRGB(x, y, (g << 16) | (g << 8) | g) }
      val bos = new java.io.ByteArrayOutputStream(); javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    val base: (Int, Int) => Int = (x, y) => (x * 13 + y * 7) % 200
    val edited: (Int, Int) => Int = (x, y) => if (x == 3 && y == 3) 255 else base(x, y)
    val pay = Seq((1L, png(base)), (2L, png(edited))).toDF("id", "payload")
    val got = Multimodal.imageWHash(pay, "id").collect()
      .map(r => r.getLong(0) -> java.lang.Long.parseUnsignedLong(r.getString(2), 16)).toMap
    val ham = java.lang.Long.bitCount(got(1L) ^ got(2L))
    assert(ham <= 8, s"one-pixel edit moved $ham wHash bits")
  }

  test("gifMeta: builder roundtrip, REAL ImageIO-encoded GIF (extension blocks), junk/truncation flag not-ok") {
    import spark.implicits._
    import graft.ops.Multimodal
    // a real encoder output exercises the 0x21 extension path the builder omits
    val img = new java.awt.image.BufferedImage(17, 9, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "gif", bos)
    val pay = Seq(
      (1L, Multimodal.gifSampleBytes(320, 200, 3, 4, v89 = true)),
      (2L, Multimodal.gifSampleBytes(1, 1, 0, 0, v89 = false)),
      (3L, bos.toByteArray),
      (4L, "definitely not a gif".getBytes),
      (5L, Multimodal.gifSampleBytes(320, 200, 3, 4).dropRight(5)),
      (6L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload")
    val got = Multimodal.gifMeta(pay, "id").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getInt(6)))).toMap
    assert(got(1L) === ((true, "89a", 320, 200, 16, 3)))
    assert(got(2L) === ((true, "87a", 1, 1, 0, 0)), "no GCT, zero frames")
    assert(got(3L)._1 && got(3L)._3 === 17 && got(3L)._4 === 9 && got(3L)._6 === 1,
      s"real encoder output parses: ${got(3L)}")
    assert(!got(4L)._1 && !got(5L)._1 && !got(6L)._1)
  }
}
