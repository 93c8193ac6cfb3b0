package graft

import java.nio.charset.StandardCharsets.ISO_8859_1

import graft.operators.Mp3Ops

/** MP3 metadata (SURVEY §2 `q_mp3_meta`): ID3v2.2/v2.3/v2.4 frame
  * grammars, unsynchronisation, the full MPEG version × layer header
  * tables, the exact frame-walk duration, quarantine routing, and the
  * WARC adapter. */
class Mp3Spec extends SparkSpec {

  test("mp3Walk: both synth tag versions round-trip the construction truth") {
    val even = Mp3Ops.mp3Walk(Mp3Ops.mp3Synth(6L))
    assert(even == Right(Mp3Ops.Mp3Info(3, "title 6", "artist 6", "",
      "1", 3, 64, 32000, 36L * 7, durationExact = true)), even)
    val odd = Mp3Ops.mp3Walk(Mp3Ops.mp3Synth(7L))
    assert(odd == Right(Mp3Ops.Mp3Info(4, "title 7", "artist 7", "",
      "1", 3, 64, 32000, 36L * 8, durationExact = true)), odd)
  }

  test("mp3Walk: tagless frame-sync files parse; hostile shapes quarantine") {
    // a bare stream with one real header then zeros: still an mp3; the
    // frame walk cannot finish (the hop lands past the end), so the
    // duration is the NAMED estimate
    val bare = new Array[Byte](320)
    bare(0) = 0xff.toByte; bare(1) = 0xfb.toByte; bare(2) = 0x90.toByte
    val got = Mp3Ops.mp3Walk(bare)
    assert(got == Right(Mp3Ops.Mp3Info(-1, "", "", "", "1", 3,
      128, 44100, 20L, durationExact = false)), got)
    assert(Mp3Ops.mp3Walk("plain text file".getBytes(ISO_8859_1)) ==
      Left("not_mp3"))
    assert(Mp3Ops.mp3Walk(Array.empty[Byte]) == Left("not_mp3"))
    // a valid tag followed by no audio frame: no_frames
    val tagOnly = Mp3Ops.mp3Synth(6L).takeWhile(_ != 0xff.toByte)
    assert(Mp3Ops.mp3Walk(tagOnly.toArray) == Left("no_frames"))
    // a UTF-8 encoded title (encoding byte 3) decodes
    val payload = Array[Byte](3) ++ "café dot".getBytes("UTF-8")
    val frame = "TIT2".getBytes(ISO_8859_1) ++
      Array[Byte](0, 0, 0, payload.length.toByte, 0, 0) ++ payload
    val utf8Title = "ID3".getBytes(ISO_8859_1) ++
      Array[Byte](3, 0, 0) ++ Array[Byte](0, 0, 0, frame.length.toByte) ++
      frame ++
      { val a = new Array[Byte](160)
        a(0) = 0xff.toByte; a(1) = 0xfb.toByte; a(2) = 0x90.toByte; a }
    val u = Mp3Ops.mp3Walk(utf8Title)
    assert(u.exists(_.title == "café dot"), u)
    // torn prefixes never throw (walk contract)
    val full = Mp3Ops.mp3Synth(3L)
    (0 until full.length).foreach(n => Mp3Ops.mp3Walk(full.take(n)))
  }

  test("mp3Walk: ID3v2.2's 3-byte grammar parses title/artist/album") {
    def frame22(id: String, text: String): Array[Byte] = {
      val payload = Array[Byte](0) ++ text.getBytes(ISO_8859_1)
      id.getBytes(ISO_8859_1) ++
        Array[Byte](((payload.length >> 16) & 0xff).toByte,
          ((payload.length >> 8) & 0xff).toByte,
          (payload.length & 0xff).toByte) ++ payload
    }
    val frames = frame22("TT2", "Old Title") ++ frame22("TP1", "Old Artist") ++
      frame22("TAL", "Old Album")
    val tag = "ID3".getBytes(ISO_8859_1) ++ Array[Byte](2, 0, 0) ++
      Array[Byte](0, 0, ((frames.length >> 7) & 0x7f).toByte,
        (frames.length & 0x7f).toByte) ++ frames
    val audio = Mp3Ops.mp3Synth(0L).drop(
      Mp3Ops.mp3Synth(0L).indexOfSlice(Seq(0xff.toByte, 0xfb.toByte)))
    val got = Mp3Ops.mp3Walk(tag ++ audio)
    assert(got.exists(m => m.tagVersion == 2 && m.title == "Old Title" &&
      m.artist == "Old Artist" && m.album == "Old Album"), got)
    // the v2.2 whole-tag compression flag = unreadable fields, audio parsed
    val compressed = (tag ++ audio).clone()
    compressed(5) = 0x40
    val c = Mp3Ops.mp3Walk(compressed)
    assert(c.exists(m => m.tagVersion == 2 && m.title == "" &&
      m.sampleRate == 32000), c)
  }

  test("mp3Walk: the global unsynchronisation flag de-stuffs before the frame walk") {
    def stuff(b: Array[Byte]): Array[Byte] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      b.foreach { x => out += x; if (x == 0xff.toByte) out += 0 }
      out.toArray
    }
    val audio = {
      val a = new Array[Byte](288)
      a(0) = 0xff.toByte; a(1) = 0xfb.toByte; a(2) = 0x58.toByte; a
    }
    // v2.3: a UTF-16 title (BOM FF FE → stuffed on disk), whole-tag
    // unsync; the frame size counts the UN-stuffed payload per spec
    val full = Array[Byte](1, 0xff.toByte, 0xfe.toByte) ++
      "Unsync Title".getBytes("UTF-16LE")
    val frame = "TIT2".getBytes(ISO_8859_1) ++
      Array[Byte](0, 0, 0, full.length.toByte, 0, 0) ++ full
    val stuffed = stuff(frame)
    val tag23 = "ID3".getBytes(ISO_8859_1) ++
      Array[Byte](3, 0, 0x80.toByte, 0, 0,
        ((stuffed.length >> 7) & 0x7f).toByte, (stuffed.length & 0x7f).toByte) ++
      stuffed
    val got = Mp3Ops.mp3Walk(tag23 ++ audio)
    assert(got.exists(_.title == "Unsync Title"), got)
    // v2.4: per-frame stuffing, the frame size counts the STUFFED bytes
    val stuffedPayload = stuff(full)
    val frame24 = "TIT2".getBytes(ISO_8859_1) ++
      Array[Byte](0, 0, 0, stuffedPayload.length.toByte, 0, 0x02) ++
      stuffedPayload
    val tag24 = "ID3".getBytes(ISO_8859_1) ++
      Array[Byte](4, 0, 0, 0, 0,
        ((frame24.length >> 7) & 0x7f).toByte, (frame24.length & 0x7f).toByte) ++
      frame24
    val got24 = Mp3Ops.mp3Walk(tag24 ++ audio)
    assert(got24.exists(_.title == "Unsync Title"), got24)
  }

  test("mp3Walk: the ID3v2.4 footer is not audio — the frame scan starts past it") {
    // a v2.4 tag with the footer flag (0x10): 10 header + body + 10
    // footer bytes precede the audio
    val payload = Array[Byte](0) ++ "Footed".getBytes(ISO_8859_1)
    val frame = "TIT2".getBytes(ISO_8859_1) ++
      Array[Byte](0, 0, 0, payload.length.toByte, 0, 0) ++ payload
    val footer = "3DI".getBytes(ISO_8859_1) ++ Array[Byte](4, 0, 0x10) ++
      Array[Byte](0, 0, 0, frame.length.toByte)
    val tag = "ID3".getBytes(ISO_8859_1) ++ Array[Byte](4, 0, 0x10) ++
      Array[Byte](0, 0, 0, frame.length.toByte) ++ frame ++ footer
    val audio = {
      val a = new Array[Byte](288)
      a(0) = 0xff.toByte; a(1) = 0xfb.toByte; a(2) = 0x58.toByte; a
    }
    val got = Mp3Ops.mp3Walk(tag ++ audio)
    assert(got.exists(m => m.title == "Footed" && m.durationMs == 36L &&
      m.durationExact), got)
  }

  test("mp3Walk: MPEG2 / MPEG2.5 / Layer II headers parse with their own tables") {
    def frames(b1: Int, b2: Int, flen: Int, n: Int): Array[Byte] = {
      val a = new Array[Byte](flen * n)
      (0 until n).foreach { f =>
        a(flen * f) = 0xff.toByte
        a(flen * f + 1) = b1.toByte
        a(flen * f + 2) = b2.toByte
      }
      a
    }
    // MPEG2 Layer III, 64 kbps @ 16 kHz: 72*64000/16000 = 288 B, 36 ms/frame
    val m2 = Mp3Ops.mp3Walk(frames(0xf3, 0x88, 288, 3))
    assert(m2 == Right(Mp3Ops.Mp3Info(-1, "", "", "", "2", 3,
      64, 16000, 108L, durationExact = true)), m2)
    // MPEG1 Layer II, 64 kbps @ 32 kHz: 144*64000/32000 = 288 B, 36 ms/frame
    val l2 = Mp3Ops.mp3Walk(frames(0xfd, 0x48, 288, 2))
    assert(l2 == Right(Mp3Ops.Mp3Info(-1, "", "", "", "1", 2,
      64, 32000, 72L, durationExact = true)), l2)
    // MPEG2.5 Layer III, 32 kbps @ 8 kHz: 72*32000/8000 = 288 B, 72 ms/frame
    val m25 = Mp3Ops.mp3Walk(frames(0xe3, 0x48, 288, 2))
    assert(m25 == Right(Mp3Ops.Mp3Info(-1, "", "", "", "2.5", 3,
      32, 8000, 144L, durationExact = true)), m25)
  }

  test("mp3Walk: a Xing-less VBR stream measures EXACTLY via the frame walk") {
    // two frames at DIFFERENT bitrates, no Xing header: 64 kbps (288 B)
    // then 128 kbps (576 B) at 32 kHz — true duration 2 × 36 ms
    val a = new Array[Byte](288 + 576)
    a(0) = 0xff.toByte; a(1) = 0xfb.toByte; a(2) = 0x58.toByte
    a(288) = 0xff.toByte; a(289) = 0xfb.toByte; a(290) = 0x98.toByte
    val got = Mp3Ops.mp3Walk(a)
    assert(got.exists(m => m.durationMs == 72L && m.durationExact), got)
    // the naive CBR estimate at the first frame's bitrate would be
    // 864 × 8 / 64 = 108 ms — the walk must NOT report that
    assert(!got.exists(_.durationMs == 108L))
    // a truncated tail downgrades to the NAMED estimate
    val torn = Mp3Ops.mp3Walk(a.dropRight(100))
    assert(torn.exists(m => !m.durationExact), torn)
  }

  test("mp3Walk: the ID3v1 trailer fills fields v2 left empty, and bounds the estimate") {
    // a v1-only file: frame sync at 0, "TAG" trailer with padded fields
    val audio = new Array[Byte](1600 + 128)
    audio(0) = 0xff.toByte; audio(1) = 0xfb.toByte; audio(2) = 0x90.toByte
    val t = audio.length - 128
    System.arraycopy("TAG".getBytes(ISO_8859_1), 0, audio, t, 3)
    System.arraycopy("Legacy Song".getBytes(ISO_8859_1), 0, audio, t + 3, 11)
    System.arraycopy("Old Artist".getBytes(ISO_8859_1), 0, audio, t + 33, 10)
    val got = Mp3Ops.mp3Walk(audio)
    // the 128 trailer bytes are NOT audio: 1600 bytes at 128 kbps = 100 ms
    assert(got == Right(Mp3Ops.Mp3Info(1, "Legacy Song", "Old Artist", "",
      "1", 3, 128, 44100, 100L, durationExact = false)), got)
    // v2 wins where it speaks; v1 fills the rest (album here)
    val both = Mp3Ops.mp3Synth(6L) ++ {
      val tr = new Array[Byte](128)
      System.arraycopy("TAG".getBytes(ISO_8859_1), 0, tr, 0, 3)
      System.arraycopy("v1 title ignored".getBytes(ISO_8859_1), 0, tr, 3, 16)
      System.arraycopy("The Album".getBytes(ISO_8859_1), 0, tr, 63, 9)
      tr
    }
    val merged = Mp3Ops.mp3Walk(both)
    assert(merged.exists(m => m.tagVersion == 3 && m.title == "title 6" &&
      m.album == "The Album"), merged)
  }

  test("mp3Walk: a Xing VBR header's exact frame count beats the CBR estimate") {
    // stereo MPEG1 L3 frame: Xing lives at header + 4 + 32
    val audio = new Array[Byte](2000)
    audio(0) = 0xff.toByte; audio(1) = 0xfb.toByte; audio(2) = 0x90.toByte
    val xing = 4 + 32
    System.arraycopy("Xing".getBytes(ISO_8859_1), 0, audio, xing, 4)
    audio(xing + 7) = 1 // flags: frames present
    // 441 frames × 1152 samples at 44100 Hz = exactly 11520 ms
    audio(xing + 10) = 1; audio(xing + 11) = (441 - 256).toByte
    val got = Mp3Ops.mp3Walk(audio)
    assert(got.exists(m => m.durationMs == 11520L && m.durationExact), got)
    // without the header the same bytes read the NAMED CBR estimate
    val cbr = audio.clone(); cbr(xing) = 0
    assert(Mp3Ops.mp3Walk(cbr).exists(m =>
      m.durationMs == 2000L * 8000 / 128000 && !m.durationExact),
      Mp3Ops.mp3Walk(cbr))
  }

  test("mp3MetaOf routes every payload to exactly one of clean/quarantine") {
    import spark.implicits._
    val rows = Seq(
      ("u1", Mp3Ops.mp3Synth(1L)),
      ("u2", "GIF89a junk".getBytes(ISO_8859_1)))
      .toDF("url", "payload")
    val (clean, quarantine) = Mp3Ops.mp3MetaOf(rows)
    val c = clean.collect()
    assert(c.length == 1 && c.head.getString(0) == "u1")
    assert(c.head.getAs[String]("title") == "title 1")
    assert(c.head.getAs[Int]("tag_version") == 4)
    assert(c.head.getAs[Boolean]("duration_exact"))
    val q = quarantine.collect().map(r => (r.getString(0), r.getString(1)))
    assert(q.toSeq == Seq(("u2", "not_mp3")), q.toSeq)
  }

  test("mp3MetaOfRecords: declaration OR content routes; the lying header sniffs in") {
    val dir = SparkSpec.tempDir("graft_warc_mp3")
    def warcRecord(uri: String, payload: Array[Byte]): Array[Byte] = {
      val hdr = ("WARC/1.0\r\nWARC-Type: response\r\n" +
        "WARC-Date: 2026-08-14T00:00:00Z\r\n" +
        s"WARC-Target-URI: $uri\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes(ISO_8859_1)
      hdr ++ payload ++ "\r\n\r\n".getBytes(ISO_8859_1)
    }
    def http(ctype: String, body: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\n\r\n")
        .getBytes(ISO_8859_1) ++ body
    val recs =
      warcRecord("http://a.example/song.mp3",
        http("audio/mpeg", Mp3Ops.mp3Synth(2L))) ++
      warcRecord("http://a.example/lying.bin",
        http("application/octet-stream", Mp3Ops.mp3Synth(3L))) ++
      warcRecord("http://a.example/broken.mp3",
        http("audio/mpeg", "junk body".getBytes(ISO_8859_1))) ++
      warcRecord("http://a.example/page.html",
        http("text/html", "<html><body>nope</body></html>".getBytes(ISO_8859_1)))
    java.nio.file.Files.write(dir.resolve("seg.warc"), recs)
    val records = graft.sources.WarcSource.read(spark, dir.toString)
    val (clean, quarantine) = Mp3Ops.mp3MetaOfRecords(records)
    val c = clean.collect().map(r =>
      r.getString(0) -> r.getAs[String]("title")).toMap
    assert(c == Map("http://a.example/song.mp3" -> "title 2",
      "http://a.example/lying.bin" -> "title 3"), c.toString)
    val q = quarantine.collect().map(r => (r.getString(0), r.getString(1)))
    assert(q.toSeq == Seq(("http://a.example/broken.mp3", "not_mp3")), q.toSeq)
  }
}
