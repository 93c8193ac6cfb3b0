package graft

import java.nio.charset.StandardCharsets.ISO_8859_1

import graft.operators.{MediaOps, Mp3Ops, Mp4Ops, WebpOps}

/** The unified media inventory (SURVEY §2-C): one pass naming every
  * response's bytes and reading the walked formats' metadata. */
class MediaInventorySpec extends SparkSpec {

  private def warcRecord(uri: String, payload: Array[Byte]): Array[Byte] = {
    val hdr = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Date: 2026-08-14T00:00:00Z\r\n" +
      s"WARC-Target-URI: $uri\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n").getBytes(ISO_8859_1)
    hdr ++ payload ++ "\r\n\r\n".getBytes(ISO_8859_1)
  }
  private def http(ctype: String, body: Array[Byte]): Array[Byte] =
    (s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\n\r\n")
      .getBytes(ISO_8859_1) ++ body

  test("mediaInventoryOf: names, measures, and flags one mixed segment in one pass") {
    val dir = SparkSpec.tempDir("graft_warc_media")
    val recs =
      warcRecord("http://m.example/clip.mp4",
        http("video/mp4", Mp4Ops.mp4Synth(1L))) ++
      warcRecord("http://m.example/song.mp3",
        http("audio/mpeg", Mp3Ops.mp3Synth(6L))) ++
      // the lie: WebP behind text/html — mojibake risk AND measured
      warcRecord("http://m.example/hero.img",
        http("text/html", WebpOps.webpSynth(4L))) ++
      // a declared mp4 whose bytes are junk: sniffs octet-stream, so
      // the mismatch audit flags it; no walk runs (the sniff routes)
      warcRecord("http://m.example/broken.mp4",
        http("video/mp4", "junk bytes here".getBytes(ISO_8859_1))) ++
      // honest html: no media columns
      warcRecord("http://m.example/page.html",
        http("text/html",
          "<html><body>a page body</body></html>".getBytes(ISO_8859_1)))
    java.nio.file.Files.write(dir.resolve("seg.warc"), recs)
    val got = MediaOps.mediaInventoryOf(
      graft.sources.WarcSource.read(spark, dir.toString))
      .collect().map(r => r.getString(0) -> r).toMap
    val clip = got("http://m.example/clip.mp4")
    assert(clip.getAs[String]("sniffed_mime") == "video/mp4")
    assert(!clip.getAs[Boolean]("mismatch"))
    assert(clip.getAs[Int]("width") == 20 &&
      clip.getAs[Long]("duration_ms") == 40L * 26)
    assert(clip.getAs[String]("media_format") == "mp42")
    val song = got("http://m.example/song.mp3")
    assert(song.getAs[String]("sniffed_mime") == "audio/mpeg")
    assert(song.getAs[Long]("duration_ms") == 36L * 7)
    assert(song.getAs[String]("media_format") == "mpeg1-l3-64k")
    val hero = got("http://m.example/hero.img")
    assert(hero.getAs[String]("sniffed_mime") == "image/webp")
    assert(hero.getAs[Boolean]("mismatch") &&
      hero.getAs[Boolean]("mojibake_risk"))
    assert(hero.getAs[Int]("width") == 32)
    val broken = got("http://m.example/broken.mp4")
    assert(broken.getAs[String]("sniffed_mime") == "text/plain" ||
      broken.getAs[String]("sniffed_mime") == "application/octet-stream")
    assert(broken.getAs[Boolean]("mismatch"))
    assert(broken.isNullAt(broken.fieldIndex("width")))
    val page = got("http://m.example/page.html")
    assert(page.getAs[String]("sniffed_mime") == "text/html")
    assert(!page.getAs[Boolean]("mismatch") &&
      !page.getAs[Boolean]("mojibake_risk"))
    assert(page.isNullAt(page.fieldIndex("duration_ms")) &&
      page.isNullAt(page.fieldIndex("media_reason")))
    // the plan: zero exchanges — the whole inventory is one record pass
    val p = MediaOps.mediaInventoryOf(
      graft.sources.WarcSource.read(spark, dir.toString))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("mediaInventoryStream: per-trigger inventory equals the batch face") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val fixture =
      warcRecord("http://m.example/clip.mp4",
        http("video/mp4", Mp4Ops.mp4Synth(0L))) ++
      warcRecord("http://m.example/song.ogg",
        http("application/ogg", graft.operators.OggOps.oggSynth(2L))) ++
      warcRecord("http://m.example/page.html",
        http("text/html",
          "<html><body>a page body</body></html>".getBytes(ISO_8859_1)))
    val recs = graft.sources.WarcSource.parseFile("mem", fixture).toSeq
    val sunk = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.sources.WarcSource.WarcRecord]
    val q = graft.streaming.EventStream.mediaInventoryStream(input.toDF()) {
      (inv, _) => sunk.synchronized { sunk ++= inv.collect() }
    }
    try {
      input.addData(recs.take(1))
      q.processAllAvailable()
      input.addData(recs.drop(1): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = sunk.synchronized {
      sunk.map(r => r.getString(0) -> r.getAs[String]("sniffed_mime")).toMap
    }
    assert(got == Map(
      "http://m.example/clip.mp4" -> "video/mp4",
      "http://m.example/song.ogg" -> "application/ogg",
      "http://m.example/page.html" -> "text/html"), got.toString)
    // batch ≡ stream (union of triggers)
    val batch = MediaOps.mediaInventoryOf(spark.createDataset(recs).toDF())
      .collect().map(r => r.getString(0) -> r.getAs[String]("sniffed_mime")).toMap
    assert(batch == got)
    val ogg = sunk.synchronized {
      sunk.find(_.getString(0) == "http://m.example/song.ogg").get
    }
    assert(ogg.getAs[String]("media_format") == "opus" &&
      ogg.getAs[Long]("duration_ms") == 30L, ogg.toString)
  }

  test("image geometry from headers alone: png/gif/bmp/jpeg measured in the inventory") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    def jdk(fmt: String, w: Int, h: Int,
            kind: Int = BufferedImage.TYPE_INT_RGB): Array[Byte] = {
      val img = new BufferedImage(w, h, kind)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { img.setRGB(x, y, (x * 31 + y * 17) & 0xffffff); x += 1 }
        y += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      assert(ImageIO.write(img, fmt, out), s"JDK must encode $fmt")
      out.toByteArray
    }
    val dir = SparkSpec.tempDir("graft_warc_imgeo")
    val recs =
      warcRecord("http://i.example/a.png", http("image/png", jdk("png", 33, 21))) ++
      warcRecord("http://i.example/b.gif",
        http("image/gif", jdk("gif", 17, 9, BufferedImage.TYPE_BYTE_INDEXED))) ++
      warcRecord("http://i.example/c.bmp", http("image/bmp", jdk("bmp", 24, 11))) ++
      warcRecord("http://i.example/d.jpg", http("image/jpeg", jdk("jpg", 40, 25))) ++
      // a torn JPEG: SOI+APP0 only, no SOF — named, not measured
      warcRecord("http://i.example/torn.jpg",
        http("image/jpeg", jdk("jpg", 8, 8).take(18).toArray))
    java.nio.file.Files.write(dir.resolve("seg.warc"), recs)
    val got = MediaOps.mediaInventoryOf(
      graft.sources.WarcSource.read(spark, dir.toString))
      .collect().map(r => r.getString(0) -> r).toMap
    def geo(u: String): (Int, Int, String) = {
      val r = got(u)
      (r.getAs[Int]("width"), r.getAs[Int]("height"), r.getAs[String]("media_format"))
    }
    assert(geo("http://i.example/a.png") == ((33, 21, "png")))
    assert(geo("http://i.example/b.gif") == ((17, 9, "gif89a")))
    assert(geo("http://i.example/c.bmp") == ((24, 11, "bmp")))
    assert(geo("http://i.example/d.jpg") == ((40, 25, "jpeg-baseline")))
    val torn = got("http://i.example/torn.jpg")
    assert(torn.getAs[String]("sniffed_mime") == "image/jpeg")
    assert(torn.isNullAt(torn.fieldIndex("width")))
    assert(torn.getAs[String]("media_reason") != null, torn.toString)
  }

  test("header geometry ≡ full-decode geometry on every payload the decoders accept") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    import graft.operators.{ImageHeaders, MultimodalOps}
    def jdk(fmt: String, w: Int, h: Int, kind: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, kind)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { img.setRGB(x, y, (x * 7 + y * 13) & 0xffffff); x += 1 }
        y += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      assert(ImageIO.write(img, fmt, out), s"JDK must encode $fmt")
      out.toByteArray
    }
    class Counter extends MultimodalOps.PixelSink {
      override def start(w: Int, h: Int): Unit = ()
      override def px(r: Int, g: Int, b: Int): Unit = ()
    }
    val cases: Seq[(String, Array[Byte], Option[(Int, Int)])] = Seq(
      "png" -> jdk("png", 19, 27, BufferedImage.TYPE_INT_RGB),
      "bmp" -> jdk("bmp", 31, 13, BufferedImage.TYPE_INT_RGB),
      "gif" -> jdk("gif", 23, 15, BufferedImage.TYPE_BYTE_INDEXED),
      "jpg" -> jdk("jpg", 44, 18, BufferedImage.TYPE_INT_RGB)
    ).map { case (fmt, bytes) =>
      val full = fmt match {
        case "png" => MultimodalOps.pngWalk(bytes, new Counter)
        case "bmp" => MultimodalOps.bmpWalk(bytes, new Counter)
        case "gif" => graft.operators.GifDecode.walk(bytes, new Counter)
        case "jpg" => graft.operators.JpegDecode.walk(bytes, new Counter)
      }
      (fmt, bytes, full)
    }
    cases.foreach { case (fmt, bytes, full) =>
      assert(full.nonEmpty, s"$fmt: full decoder must accept the JDK fixture")
      val probe = ImageHeaders.probe(bytes)
      assert(probe.isRight, s"$fmt: $probe")
      val Right((w, h, _)) = probe: @unchecked
      assert((w, h) == full.get, s"$fmt: header $probe vs decode ${full.get}")
    }
    // junk never throws, names the reason
    assert(ImageHeaders.probe("not an image at all".getBytes("US-ASCII")) ==
      Left("not_image"))
    assert(ImageHeaders.probe(Array[Byte](0x89.toByte, 'P', 'N', 'G',
      0x0d, 0x0a, 0x1a, 0x0a, 0, 0, 0, 9)) == Left("bad_image_header"))
  }

  test("RIFF/QOI headers measure in the inventory; probe ≡ full decoder arithmetic") {
    import graft.operators.{AviOps, MediaHeaders, MultimodalOps}
    def u16le(v: Int): Seq[Byte] = Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def u32le(v: Int): Seq[Byte] = Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def wavOf(bits: Int, nch: Int, rate: Int, nFrames: Int,
              fmtCode: Int = 1): Array[Byte] = {
      val data = Seq.fill(nFrames * nch * bits / 8)(0x40.toByte)
      val fmt = u16le(fmtCode) ++ u16le(nch) ++ u32le(rate) ++
        u32le(rate * nch * bits / 8) ++ u16le(nch * bits / 8) ++ u16le(bits)
      ("RIFF".getBytes(ISO_8859_1).toSeq ++ u32le(4 + 24 + 8 + data.length) ++
        "WAVE".getBytes(ISO_8859_1).toSeq ++
        "fmt ".getBytes(ISO_8859_1).toSeq ++ u32le(16) ++ fmt ++
        "data".getBytes(ISO_8859_1).toSeq ++ u32le(data.length) ++ data).toArray
    }
    // PCM16 stereo, 441 frames at 44100 Hz = 10 ms — the exact frame
    // arithmetic decodeWav uses
    val pcm = wavOf(16, 2, 44100, 441)
    assert(MultimodalOps.decodeWav(pcm, 16).nonEmpty)
    assert(MediaHeaders.wav(pcm) == Right((10L, "pcm16")), MediaHeaders.wav(pcm))
    // A-law mono
    val alaw = wavOf(8, 1, 8000, 1600, fmtCode = 6)
    assert(MediaHeaders.wav(alaw) == Right((200L, "alaw")))
    // MP3-in-WAV (fmt 85): the decoder rejects, the probe still measures
    // from the declared byte rate (duration = data / byte_rate)
    val mp3wav = wavOf(16, 2, 44100, 441, fmtCode = 85)
    assert(MultimodalOps.decodeWav(mp3wav, 16).isEmpty)
    val Right((mp3Dur, mp3Fmt)) = MediaHeaders.wav(mp3wav): @unchecked
    assert(mp3Fmt == "wav-fmt85" && mp3Dur == 441L * 4 * 1000 / (44100 * 4),
      (mp3Dur, mp3Fmt))
    // AVI: probe fields ≡ aviWalk's on the estate's own builder; the
    // movi payload is skipped, never copied
    val frame = Array.fill[Byte](64)(0x11)
    val avi = AviOps.buildAvi(Seq(frame, frame, frame), 20, 10,
      usPerFrame = 40000L, handler = "MJPG")
    val full = AviOps.aviWalk(avi).get
    val probe = MediaHeaders.avi(avi)
    assert(probe == Right((full.width, full.height,
      full.usPerFrame * full.declaredFrames / 1000L, full.handler)), probe)
    assert(probe == Right((20, 10, 120L, "MJPG")))
    // QOI: geometry parity against the full chunk walk on a real
    // QOI_OP_RGB stream
    def qoiOf(w: Int, h: Int): Array[Byte] = {
      def be32(v: Int): Seq[Byte] = Seq(((v >> 24) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      ("qoif".getBytes(ISO_8859_1).toSeq ++ be32(w) ++ be32(h) ++
        Seq(3.toByte, 0.toByte) ++
        Seq.fill(w * h)(Seq(0xfe.toByte, 10.toByte, 20.toByte, 30.toByte))
          .flatten ++
        Seq[Byte](0, 0, 0, 0, 0, 0, 0, 1)).toArray
    }
    val q = qoiOf(5, 3)
    class Nop extends MultimodalOps.PixelSink {
      override def start(w: Int, h: Int): Unit = ()
      override def px(r: Int, g: Int, b: Int): Unit = ()
    }
    assert(MultimodalOps.qoiWalk(q, new Nop).contains((5, 3)))
    assert(MediaHeaders.qoi(q) == Right((5, 3)))
    // junk names a reason, never throws
    assert(MediaHeaders.wav("RIFFxxxxJUNK".getBytes(ISO_8859_1)).isLeft)
    assert(MediaHeaders.avi("RIFFxxxxAVI but torn".getBytes(ISO_8859_1)).isLeft)
    assert(MediaHeaders.qoi("qoif".getBytes(ISO_8859_1)).isLeft)
    // and the inventory routes all three in one pass
    val dir = SparkSpec.tempDir("graft_warc_riff")
    val recs =
      warcRecord("http://r.example/a.wav", http("audio/wav", pcm)) ++
      warcRecord("http://r.example/b.avi", http("video/avi", avi)) ++
      warcRecord("http://r.example/c.qoi", http("image/qoi", q))
    java.nio.file.Files.write(dir.resolve("seg.warc"), recs)
    val got = MediaOps.mediaInventoryOf(
      graft.sources.WarcSource.read(spark, dir.toString))
      .collect().map(r => r.getString(0) -> r).toMap
    val wv = got("http://r.example/a.wav")
    assert(wv.getAs[Long]("duration_ms") == 10L &&
      wv.getAs[String]("media_format") == "pcm16", wv.toString)
    val av = got("http://r.example/b.avi")
    assert(av.getAs[Int]("width") == 20 && av.getAs[Long]("duration_ms") == 120L &&
      av.getAs[String]("media_format") == "MJPG", av.toString)
    val qi = got("http://r.example/c.qoi")
    assert(qi.getAs[Int]("width") == 5 && qi.getAs[Int]("height") == 3 &&
      qi.getAs[String]("media_format") == "qoi", qi.toString)
    // and a PDF names its version (header-only; no measurement here —
    // pdfDocumentsOf is the measurement route)
    val dir2 = SparkSpec.tempDir("graft_warc_pdfname")
    java.nio.file.Files.write(dir2.resolve("seg.warc"),
      warcRecord("http://r.example/d.pdf", http("application/pdf",
        graft.operators.PdfOps.pdfSynth("inventory names the version", 1))))
    val pd = MediaOps.mediaInventoryOf(
      graft.sources.WarcSource.read(spark, dir2.toString)).collect().head
    assert(pd.getAs[String]("sniffed_mime") == "application/pdf")
    assert(pd.getAs[String]("media_format") == "pdf-1.4", pd.toString)
    assert(pd.isNullAt(pd.fieldIndex("width")))
  }

  test("animated GIF and WebP measure their run time from the block walk") {
    import graft.operators.{ImageHeaders, WebpOps}
    // --- hand-built 2-frame GIF: delays 5 and 7 centiseconds = 120 ms
    def le16(v: Int): Seq[Byte] = Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def gce(delayCs: Int): Seq[Byte] =
      Seq(0x21.toByte, 0xf9.toByte, 4.toByte, 0.toByte) ++ le16(delayCs) ++
        Seq(0.toByte, 0.toByte)
    def frame(w: Int, h: Int): Seq[Byte] =
      Seq(0x2c.toByte) ++ le16(0) ++ le16(0) ++ le16(w) ++ le16(h) ++
        Seq(0.toByte) ++ // no LCT
        Seq(2.toByte) ++ // LZW min code size
        Seq(3.toByte, 1.toByte, 2.toByte, 3.toByte, 0.toByte) // one sub-block
    val gif = ("GIF89a".getBytes(ISO_8859_1).toSeq ++
      le16(11) ++ le16(9) ++ Seq(0.toByte, 0.toByte, 0.toByte) ++ // LSD, no GCT
      gce(5) ++ frame(11, 9) ++ gce(7) ++ frame(11, 9) ++
      Seq(0x3b.toByte)).toArray
    assert(ImageHeaders.gifAnimation(gif).contains((2, 120L)),
      ImageHeaders.gifAnimation(gif))
    assert(ImageHeaders.probe(gif) == Right((11, 9, "gif89a")))
    // a STILL JDK gif reports one frame, zero duration
    val still = {
      val img = new java.awt.image.BufferedImage(4, 4,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "gif", out)
      out.toByteArray
    }
    assert(ImageHeaders.gifAnimation(still).exists(_._1 == 1))
    // --- animated WebP: VP8X anim flag + ANIM + two ANMF (40 + 60 ms)
    def le32(v: Long): Seq[Byte] = Seq((v & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 24) & 0xff).toByte)
    def le24(v: Int): Seq[Byte] = Seq((v & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte)
    def chunk(id: String, body: Seq[Byte]): Seq[Byte] =
      id.getBytes(ISO_8859_1).toSeq ++ le32(body.length.toLong) ++ body ++
        (if (body.length % 2 == 1) Seq(0.toByte) else Seq.empty)
    def anmf(durMs: Int): Seq[Byte] =
      chunk("ANMF", le24(0) ++ le24(0) ++ le24(19) ++ le24(13) ++
        le24(durMs) ++ Seq(0.toByte) ++ Seq(1.toByte, 2.toByte)) // stub frame data
    val vp8x = chunk("VP8X",
      Seq[Byte](0x02, 0, 0, 0) ++ le24(19) ++ le24(13))
    val animChunk = chunk("ANIM", le32(0) ++ Seq(0.toByte, 0.toByte))
    val payload = vp8x ++ animChunk ++ anmf(40) ++ anmf(60)
    val webp = ("RIFF".getBytes(ISO_8859_1).toSeq ++
      le32(4L + payload.length) ++ "WEBP".getBytes(ISO_8859_1).toSeq ++
      payload).toArray
    val got = WebpOps.webpWalk(webp)
    assert(got == Right(WebpOps.WebpInfo("extended", 20, 14,
      hasAlpha = false, hasAnim = true, nFrames = 2, durationMs = 100L)), got)
    // the synth's VP8X declares the anim FLAG but ships no ANMF frames:
    // flagged animated, zero frames, duration unknown (-1 → NULL)
    val stillX = WebpOps.webpWalk(WebpOps.webpSynth(2L))
    assert(stillX.exists(m => m.hasAnim && m.nFrames == 0 &&
      m.durationMs == -1L), stillX)
    // and the inventory rows carry both durations
    val dir = SparkSpec.tempDir("graft_warc_anim")
    java.nio.file.Files.write(dir.resolve("seg.warc"),
      warcRecord("http://a.example/loop.gif", http("image/gif", gif)) ++
      warcRecord("http://a.example/loop.webp", http("image/webp", webp)))
    val inv = MediaOps.mediaInventoryOf(
      graft.sources.WarcSource.read(spark, dir.toString))
      .collect().map(r => r.getString(0) -> r).toMap
    val g = inv("http://a.example/loop.gif")
    assert(g.getAs[Long]("duration_ms") == 120L &&
      g.getAs[String]("media_format") == "gif89a-anim", g.toString)
    val w = inv("http://a.example/loop.webp")
    assert(w.getAs[Long]("duration_ms") == 100L &&
      w.getAs[String]("media_format") == "extended", w.toString)
    // --- APNG: a JDK still PNG with spliced acTL + two fcTL chunks
    // (3/100 s + 7/100 s = 100 ms); chunk CRCs are skipped by the walk
    def be32s(v: Long): Seq[Byte] = Seq(((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def pngChunk(typ: String, body: Seq[Byte]): Seq[Byte] =
      be32s(body.length.toLong) ++ typ.getBytes(ISO_8859_1).toSeq ++ body ++
        be32s(0L) // CRC unchecked by the metadata walk
    def fctl(num: Int, den: Int): Seq[Byte] =
      pngChunk("fcTL", be32s(0) ++ be32s(4) ++ be32s(4) ++ be32s(0) ++
        be32s(0) ++ Seq(((num >> 8) & 0xff).toByte, (num & 0xff).toByte,
          ((den >> 8) & 0xff).toByte, (den & 0xff).toByte) ++
        Seq(0.toByte, 0.toByte))
    val stillPng = {
      val img = new java.awt.image.BufferedImage(4, 4,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    // splice acTL + fcTLs right after IHDR (sig 8 + IHDR 25 bytes)
    val apng = stillPng.take(33) ++
      (pngChunk("acTL", be32s(2) ++ be32s(0)) ++ fctl(3, 100) ++
        fctl(7, 100)).toArray ++ stillPng.drop(33)
    assert(ImageHeaders.pngAnimation(apng).contains((2, 100L)),
      ImageHeaders.pngAnimation(apng))
    assert(ImageHeaders.pngAnimation(stillPng).isEmpty, "still PNG = None")
    val dir3 = SparkSpec.tempDir("graft_warc_apng")
    java.nio.file.Files.write(dir3.resolve("seg.warc"),
      warcRecord("http://a.example/loop.png", http("image/png", apng)))
    val ap = MediaOps.mediaInventoryOf(
      graft.sources.WarcSource.read(spark, dir3.toString)).collect().head
    assert(ap.getAs[Long]("duration_ms") == 100L &&
      ap.getAs[String]("media_format") == "png-anim", ap.toString)
  }

  test("SVG names and measures from the root tag; dimensionless stays NULL") {
    val dir = SparkSpec.tempDir("graft_warc_svg")
    def svg(body: String): Array[Byte] = body.getBytes("UTF-8")
    val recs =
      warcRecord("http://s.example/sized.svg", http("image/svg+xml",
        svg("<?xml version=\"1.0\"?><svg width=\"48px\" height=\"32\" " +
          "xmlns=\"http://www.w3.org/2000/svg\"><rect/></svg>"))) ++
      warcRecord("http://s.example/viewbox.svg", http("text/plain", // lying
        svg("<svg viewBox=\"0 0 120.5 64\"><circle/></svg>"))) ++
      warcRecord("http://s.example/fluid.svg", http("image/svg+xml",
        svg("<svg xmlns=\"http://www.w3.org/2000/svg\"><path/></svg>")))
    java.nio.file.Files.write(dir.resolve("seg.warc"), recs)
    val got = MediaOps.mediaInventoryOf(
      graft.sources.WarcSource.read(spark, dir.toString))
      .collect().map(r => r.getString(0) -> r).toMap
    val sized = got("http://s.example/sized.svg")
    assert(sized.getAs[String]("sniffed_mime") == "image/svg+xml")
    assert(sized.getAs[Int]("width") == 48 && sized.getAs[Int]("height") == 32)
    assert(sized.getAs[String]("media_format") == "svg")
    val vb = got("http://s.example/viewbox.svg")
    assert(vb.getAs[Int]("width") == 121 && vb.getAs[Int]("height") == 64,
      vb.toString) // viewBox extent, rounded
    assert(vb.getAs[Boolean]("mismatch"), "text/plain declaration lies")
    val fluid = got("http://s.example/fluid.svg")
    assert(fluid.isNullAt(fluid.fieldIndex("width")) &&
      fluid.getAs[String]("media_format") == "svg" &&
      fluid.isNullAt(fluid.fieldIndex("media_reason")), fluid.toString)
  }

  test("ICO favicons name and measure from the directory alone") {
    import graft.operators.ImageHeaders
    def le16(v: Int): Seq[Byte] = Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Long): Seq[Byte] = Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def entry(w: Int, h: Int, bpp: Int, off: Long): Seq[Byte] =
      Seq(w.toByte, h.toByte, 0.toByte, 0.toByte) ++ le16(1) ++ le16(bpp) ++
        le32(64L) ++ le32(off)
    // two entries: 16x16@32bpp and 48x48@8bpp — geometry = the largest
    val ico = (Seq[Byte](0, 0, 1, 0) ++ le16(2) ++
      entry(16, 16, 32, 38L) ++ entry(48, 48, 8, 102L) ++
      Seq.fill(128)(0x11.toByte)).toArray
    assert(graft.plans.MagicMime.sniff(ico) == "image/x-icon")
    assert(ImageHeaders.ico(ico) == Right((48, 48, 2)), ImageHeaders.ico(ico))
    // the 0-size byte means 256
    val big = (Seq[Byte](0, 0, 1, 0) ++ le16(1) ++ entry(0, 0, 32, 22L) ++
      Seq.fill(32)(0x22.toByte)).toArray
    assert(ImageHeaders.ico(big) == Right((256, 256, 1)))
    // shape negatives: count 0 / bad bpp / offset inside the directory
    assert(graft.plans.MagicMime.sniff((Seq[Byte](0, 0, 1, 0) ++ le16(0) ++
      entry(16, 16, 32, 38L)).toArray) != "image/x-icon")
    assert(graft.plans.MagicMime.sniff((Seq[Byte](0, 0, 1, 0) ++ le16(1) ++
      entry(16, 16, 13, 22L)).toArray) != "image/x-icon")
    assert(graft.plans.MagicMime.sniff((Seq[Byte](0, 0, 1, 0) ++ le16(1) ++
      entry(16, 16, 32, 4L)).toArray) != "image/x-icon")
    // and the inventory routes it (behind the typical lying text header)
    val dir = SparkSpec.tempDir("graft_warc_ico")
    java.nio.file.Files.write(dir.resolve("seg.warc"),
      warcRecord("http://f.example/favicon.ico", http("text/plain", ico)))
    val r = MediaOps.mediaInventoryOf(
      graft.sources.WarcSource.read(spark, dir.toString)).collect().head
    assert(r.getAs[String]("sniffed_mime") == "image/x-icon")
    assert(r.getAs[Int]("width") == 48 && r.getAs[Int]("height") == 48)
    assert(r.getAs[String]("media_format") == "ico-2", r.toString)
    assert(r.getAs[Boolean]("mismatch") && r.getAs[Boolean]("mojibake_risk"))
  }

  test("FLAC STREAMINFO probe: exact duration, unknown-length, hostile shapes") {
    import graft.operators.MediaHeaders
    // the synth is the fixture: 8 kHz mono 16-bit, 80×k samples = 10×k ms
    val f = MediaOps.flacSynth(7L) // k = 8 → 640 samples → 80 ms
    assert(graft.plans.MagicMime.sniff(f) == "audio/flac")
    assert(MediaHeaders.flac(f) == Right((80L, 1, 8000L)), MediaHeaders.flac(f))
    // a 44.1 kHz stereo stream with a non-divisible sample count floors
    // (the standard ms convention): 44100 samples + 441 → 1010 ms
    val ts = 44541L
    val custom = "fLaC".getBytes("ISO-8859-1") ++
      Array[Byte](0x80.toByte, 0, 0, 34) ++
      Array[Byte](0x10, 0, 0x10, 0) ++ new Array[Byte](6) ++
      // 44100 = 0x0AC44 (20 bits): b18 = 0x0A, b19 = 0xC4, b20 high = 0x4
      Array[Byte](0x0a, 0xc4.toByte, (0x40 | (1 << 1)).toByte, // ch-1 = 1
        (0xf0 | ((ts >> 32) & 0xf).toInt).toByte) ++
      Array((ts >> 24).toByte, (ts >> 16).toByte, (ts >> 8).toByte, ts.toByte) ++
      new Array[Byte](16)
    assert(MediaHeaders.flac(custom) == Right((1010L, 2, 44100L)))
    // total_samples 0 = unknown BY DECLARATION: duration −1, no quarantine
    val unknown = MediaOps.flacSynth(0L).clone()
    for (i <- 22 to 25) unknown(i) = 0 // ts field zeroed (k=1 → ts=80 < 2^32)
    unknown(21) = 0xf0.toByte
    assert(MediaHeaders.flac(unknown).map(_._1) == Right(-1L))
    // hostile: wrong first-block type (a VORBIS_COMMENT leading = not a
    // spec-conformant stream), truncation, zero sample rate
    assert(MediaHeaders.flac("fLaC".getBytes("ISO-8859-1") ++
      Array[Byte](0x84.toByte, 0, 0, 34) ++ new Array[Byte](34)).isLeft)
    assert(MediaHeaders.flac(f.take(20)).isLeft)
    val zeroRate = f.clone(); zeroRate(18) = 0; zeroRate(19) = 0; zeroRate(20) = 0
    assert(MediaHeaders.flac(zeroRate).isLeft)
    // and the inventory routes it
    val dir = SparkSpec.tempDir("graft_warc_flac")
    java.nio.file.Files.write(dir.resolve("seg.warc"),
      warcRecord("http://f.example/a.flac", http("audio/flac", f)))
    val r = MediaOps.mediaInventoryOf(
      graft.sources.WarcSource.read(spark, dir.toString)).collect().head
    assert(r.getAs[String]("media_format") == "flac")
    assert(r.getAs[Long]("duration_ms") == 80L)
  }

  test("TIFF IFD probe: geometry in both byte orders, LONG values, hostile shapes") {
    import graft.operators.ImageHeaders
    val le = MediaOps.tiffSynth(4L) // even → II, w 32, h 32
    val be = MediaOps.tiffSynth(5L) // odd → MM, w 36, h 36
    assert(graft.plans.MagicMime.sniff(le) == "image/tiff")
    assert(ImageHeaders.tiff(le) == Right((32, 32, "tiff-le")), ImageHeaders.tiff(le))
    assert(ImageHeaders.tiff(be) == Right((36, 36, "tiff-be")), ImageHeaders.tiff(be))
    // LONG-typed (type 4) geometry entries decode too — scanners emit them
    def be16(v: Int) = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be32(v: Long) = Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val long = Array[Byte]('M', 'M', 0, 0x2a) ++ be32(8L) ++ be16(2) ++
      (be16(256) ++ be16(4) ++ be32(1L) ++ be32(70000L)) ++
      (be16(257) ++ be16(4) ++ be32(1L) ++ be32(50000L)) ++ be32(0L)
    assert(ImageHeaders.tiff(long) == Right((70000, 50000, "tiff-be")))
    // hostile: IFD offset past EOF, missing geometry tags, truncation
    assert(ImageHeaders.tiff(Array[Byte]('I', 'I', 0x2a, 0) ++
      Array[Byte](0x40, 0, 0, 0)).isLeft)
    val noGeom = Array[Byte]('I', 'I', 0x2a, 0, 8, 0, 0, 0, 1, 0) ++
      Array[Byte](1, 1, 3, 0, 1, 0, 0, 0, 8, 0, 0, 0) ++ new Array[Byte](4)
    assert(ImageHeaders.tiff(noGeom).isLeft)
    assert(ImageHeaders.tiff(le.take(9)).isLeft)
    // and the inventory routes it
    val dir = SparkSpec.tempDir("graft_warc_tiff")
    java.nio.file.Files.write(dir.resolve("seg.warc"),
      warcRecord("http://f.example/scan.tif", http("image/tiff", be)))
    val r = MediaOps.mediaInventoryOf(
      graft.sources.WarcSource.read(spark, dir.toString)).collect().head
    assert(r.getAs[Int]("width") == 36 && r.getAs[Int]("height") == 36)
    assert(r.getAs[String]("media_format") == "tiff-be", r.toString)
  }

  test("q_media_inventory face reproduces the oracle arithmetic per class") {
    import spark.implicits._
    // two full doc_id % 17 cycles, so every class appears with two
    // different variant residues (the prime class key's whole point)
    val docs = (0L until 34L).toDF("doc_id")
    val got = MediaOps.mediaInventory(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got.size == 34)
    // class 0 (doc 0: isom video; doc 17: %3=2 → M4A audio-only, 64-bit
    // mvhd v1, no geometry, sniffs audio/mp4)
    assert(got(0L).getAs[String]("media_format") == "isom")
    assert(got(0L).getAs[Long]("width") == 16)
    assert(got(17L).getAs[String]("sniffed_mime") == "audio/mp4")
    assert(got(17L).getAs[String]("media_format") == "M4A ")
    assert(got(17L).isNullAt(got(17L).fieldIndex("width")))
    assert(got(17L).getAs[Long]("duration_ms") == 40L * (17 % 977 + 25))
    assert(!got(17L).getAs[Boolean]("mismatch"))
    // class 2: the LIE — webp behind text/html; variant by doc_id % 3
    assert(got(2L).getAs[String]("declared_mime") == "text/html")
    assert(got(2L).getAs[String]("sniffed_mime") == "image/webp")
    assert(got(2L).getAs[Boolean]("mismatch") &&
      got(2L).getAs[Boolean]("mojibake_risk"))
    assert(got(2L).getAs[String]("media_format") == "extended") // 2 % 3 = 2
    assert(got(19L).getAs[String]("media_format") == "lossless") // 19 % 3 = 1
    // class 4: wav probe duration
    assert(got(4L).getAs[Long]("duration_ms") == 10L * (4 % 29 + 1))
    assert(got(4L).getAs[String]("media_format") == "pcm16")
    // class 5: avi probe geometry + one-frame duration
    assert(got(5L).getAs[Long]("width") == 16 + (5 % 8) * 2)
    assert(got(5L).getAs[Long]("height") == 10 + (5 % 9) * 2)
    assert(got(5L).getAs[Long]("duration_ms") == 40L)
    assert(got(5L).getAs[String]("media_format") == "MJPG")
    // class 6: JPEG header probe, SOF0/SOF2 by parity
    assert(got(6L).getAs[String]("media_format") == "jpeg-baseline")
    assert(got(6L).getAs[Long]("width") == 16 + (6 % 16) * 4)
    assert(got(23L).getAs[String]("media_format") == "jpeg-progressive")
    // class 7: still PNG — geometry, no run time
    assert(got(7L).getAs[String]("media_format") == "png")
    assert(got(7L).isNullAt(got(7L).fieldIndex("duration_ms")))
    // class 8: animated GIF — GCE delay sums
    assert(got(8L).getAs[String]("media_format") == "gif89a-anim")
    assert(got(8L).getAs[Long]("duration_ms") ==
      (8 % 5 + 2) * 10L * (8 % 7 + 1))
    // class 9: BMP info header
    assert(got(9L).getAs[String]("media_format") == "bmp")
    assert(got(9L).getAs[Long]("height") == 16 + (9 % 9) * 4)
    // class 10: ICO largest-entry geometry + count naming
    assert(got(10L).getAs[String]("media_format") == s"ico-${10 % 4 + 1}")
    assert(got(10L).getAs[Long]("width") == 16 + 8 * (10 % 4))
    // class 11: SVG — doc 11 is odd = the viewBox fallback axis
    assert(got(11L).getAs[String]("media_format") == "svg")
    assert(got(11L).getAs[Long]("width") == 16 + (11 % 16) * 4)
    assert(got(28L).getAs[Long]("height") == 16 + (28 % 9) * 4) // attrs axis
    // class 12: APNG — fcTL delay sums
    assert(got(12L).getAs[String]("media_format") == "png-anim")
    assert(got(12L).getAs[Long]("duration_ms") ==
      (12 % 5 + 2) * 10L * (12 % 7 + 1))
    // class 13: PDF version naming
    assert(got(13L).getAs[String]("media_format") == s"pdf-1.${13 % 8}")
    // class 14: FLAC STREAMINFO exact duration
    assert(got(14L).getAs[String]("media_format") == "flac")
    assert(got(14L).getAs[Long]("duration_ms") == 10L * (14 % 29 + 1))
    // class 15: TIFF in both byte orders
    assert(got(15L).getAs[String]("media_format") == "tiff-be")
    assert(got(32L).getAs[String]("media_format") == "tiff-le")
    assert(got(15L).getAs[Long]("width") == 16 + (15 % 16) * 4)
    // class 16: the planted quarantine — ftyp with no moov
    assert(got(16L).getAs[String]("sniffed_mime") == "video/mp4")
    assert(got(16L).getAs[String]("media_reason") == "no_moov")
    assert(got(16L).isNullAt(got(16L).fieldIndex("media_format")))
  }

  test("mediaInventoryOf: a sniffed-media payload that fails its walk carries the reason") {
    val dir = SparkSpec.tempDir("graft_warc_media2")
    // real ftyp magic so the sniff routes to the MP4 walk, but no moov
    val bare = Mp4Ops.mp4Synth(0L).take(20).toArray
    java.nio.file.Files.write(dir.resolve("seg.warc"),
      warcRecord("http://m.example/frag.mp4",
        http("video/mp4", bare)))
    val r = MediaOps.mediaInventoryOf(
      graft.sources.WarcSource.read(spark, dir.toString)).collect().head
    assert(r.getAs[String]("sniffed_mime") == "video/mp4")
    assert(r.getAs[String]("media_reason") == "no_moov", r.toString)
    assert(r.isNullAt(r.fieldIndex("width")))
  }
}
