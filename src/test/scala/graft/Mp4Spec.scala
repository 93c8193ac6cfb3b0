package graft

import java.nio.charset.StandardCharsets.ISO_8859_1

import graft.operators.Mp4Ops

/** ISO-BMFF (MP4) container metadata (SURVEY §2 `q_mp4_meta`): the box
  * walk's grammar paths, quarantine routing, and the WARC adapter. */
class Mp4Spec extends SparkSpec {

  test("mp4Walk: all three synth variants round-trip the construction truth") {
    // variant 0: isom video-only
    val v0 = Mp4Ops.mp4Walk(Mp4Ops.mp4Synth(0L))
    assert(v0 == Right(Mp4Ops.Mp4Info("isom", 40L * 25, 1, 16, 16,
      "avc1", "")), v0)
    // variant 1: mp42 video + audio — two tracks, both codecs named
    val v1 = Mp4Ops.mp4Walk(Mp4Ops.mp4Synth(1L))
    assert(v1 == Right(Mp4Ops.Mp4Info("mp42", 40L * 26, 2, 20, 20,
      "avc1", "mp4a")), v1)
    // variant 2: M4A audio-only, 64-bit mvhd v1 duration
    val v2 = Mp4Ops.mp4Walk(Mp4Ops.mp4Synth(2L))
    assert(v2 == Right(Mp4Ops.Mp4Info("M4A ", 40L * 27, 1, -1, -1,
      "", "mp4a")), v2)
  }

  test("mp4Walk: quarantine reasons and hostile shapes never throw") {
    assert(Mp4Ops.mp4Walk("not an mp4 at all".getBytes(ISO_8859_1)) ==
      Left("not_mp4"))
    assert(Mp4Ops.mp4Walk(Array.empty[Byte]) == Left("not_mp4"))
    // a bare ftyp with no moov: structurally mp4, no movie header
    val bare = Mp4Ops.mp4Synth(0L).take(24) // just the ftyp box
    assert(Mp4Ops.mp4Walk(bare.toArray) == Left("no_moov"))
    // an fMP4 live-stream segment (moof, no moov) is NAMED, not lumped
    // with truncation — a different ingest decision
    val frag = Mp4Ops.mp4Synth(0L).take(20) ++
      Array[Byte](0, 0, 0, 16) ++ "moof".getBytes(ISO_8859_1) ++
      Array[Byte](0, 0, 0, 8) ++ "mfhd".getBytes(ISO_8859_1)
    assert(Mp4Ops.mp4Walk(frag.toArray) == Left("fragmented"))
    // the ISO "unknown duration" sentinel (all-ones mvhd duration —
    // live captures): parsed, duration UNKNOWN (-1), never a 49-day
    // phantom clip
    val live = Mp4Ops.mp4Synth(0L)
    val durOff = 20 + 8 + 8 + 4 + 8 + 4 // ftyp + moov hdr + mvhd hdr + fullbox + cre/mod + ts
    (0 until 4).foreach(i => live(durOff + i) = 0xff.toByte)
    val got = Mp4Ops.mp4Walk(live)
    assert(got.exists(m => m.durationMs == -1L && m.majorBrand == "isom"), got)
    // truncated mid-moov: the walk stops at the malformed box, keeps
    // nothing half-read, and quarantines
    val full = Mp4Ops.mp4Synth(0L)
    val torn = full.take(full.length / 2).toArray
    assert(Mp4Ops.mp4Walk(torn).isLeft)
    // a size-0 (to-EOF) final box and a 64-bit largesize box both parse:
    // synth variant 2 already exercises the 64-bit mvhd duration; here a
    // crafted largesize mdat after a valid moov must not break the walk
    val mdatLarge =
      Array[Byte](0, 0, 0, 1) ++ "mdat".getBytes(ISO_8859_1) ++
        Array[Byte](0, 0, 0, 0, 0, 0, 0, 17) ++ "x".getBytes(ISO_8859_1)
    val withLarge = full.dropRight(9) ++ mdatLarge // replace the 9-byte mdat
    assert(Mp4Ops.mp4Walk(withLarge).isRight, "largesize mdat must parse")
  }

  test("mp4Walk: a DASH segment's sidx measures the duration (v0 and v1)") {
    // independent byte-writer (not mp4Synth): styp + sidx + moof + mdat
    def be32(v: Long): Array[Byte] = Array(((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be64(v: Long): Array[Byte] = be32(v >>> 32) ++ be32(v & 0xffffffffL)
    def bx(t: String, body: Array[Byte]): Array[Byte] =
      be32(8L + body.length) ++ t.getBytes(ISO_8859_1) ++ body
    val styp = bx("styp",
      "msdh".getBytes(ISO_8859_1) ++ be32(0) ++ "msdh".getBytes(ISO_8859_1))
    def ref(dur: Long): Array[Byte] =
      be32(0x100L) ++ be32(dur) ++ be32(0x90000000L)
    // v0: fullbox, refID, timescale 1000, EPT u32, first_offset u32,
    // reserved+count, then (type+size, subsegment_duration, SAP) × 3
    val sidx0 = bx("sidx", Array[Byte](0, 0, 0, 0) ++ be32(1) ++ be32(1000) ++
      be32(0) ++ be32(0) ++ Array[Byte](0, 0, 0, 3) ++
      ref(2000) ++ ref(3000) ++ ref(1000))
    val moof = bx("moof", bx("mfhd", Array[Byte](0, 0, 0, 0) ++ be32(1)))
    val mdat = bx("mdat", "xx".getBytes(ISO_8859_1))
    val got0 = Mp4Ops.mp4Walk(styp ++ sidx0 ++ moof ++ mdat)
    assert(got0 == Right(Mp4Ops.Mp4Info("msdh", 6000L, 0, -1, -1, "", "",
      fragmented = true)), got0)
    // v1: 64-bit earliest_presentation_time / first_offset
    val sidx1 = bx("sidx", Array[Byte](1, 0, 0, 0) ++ be32(1) ++ be32(600) ++
      be64(0) ++ be64(0) ++ Array[Byte](0, 0, 0, 2) ++ ref(300) ++ ref(600))
    val got1 = Mp4Ops.mp4Walk(styp ++ sidx1 ++ moof ++ mdat)
    assert(got1 == Right(Mp4Ops.Mp4Info("msdh", 1500L, 0, -1, -1, "", "",
      fragmented = true)), got1)
    // ftyp-led self-initializing streams with a sidx measure too, but a
    // real mvhd duration stays authoritative (synth variants unchanged)
    val ftypFrag = Mp4Ops.mp4Synth(0L).take(20) ++ sidx0 ++ moof
    val gotF = Mp4Ops.mp4Walk(ftypFrag.toArray)
    assert(gotF.exists(m => m.durationMs == 6000L && m.fragmented), gotF)
    // a torn sidx (reference table cut) falls back to the named
    // quarantine, never a half sum
    val torn = styp ++ sidx0.dropRight(8) // still a valid box? no: size lies
    assert(Mp4Ops.mp4Walk(torn).isLeft)
    // the segment sniffs as video/mp4 so the inventory routes it
    assert(graft.plans.MagicMime.sniff(styp ++ sidx0) == "video/mp4")
  }

  test("mp4Walk: a self-initializing fMP4 (mvhd duration 0) measures via trun") {
    // independent byte-writer: ftyp + moov(mvhd dur 0 + trak with the
    // mdhd MEDIA timescale) + two moofs — one tfhd-default-duration
    // trun, one per-sample-duration trun
    def be32(v: Long): Array[Byte] = Array(((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def bx(t: String, body: Array[Byte]): Array[Byte] =
      be32(8L + body.length) ++ t.getBytes(ISO_8859_1) ++ body
    def fb(flags: Int, body: Array[Byte]): Array[Byte] =
      be32(flags.toLong) ++ body // version 0 + 24-bit flags
    val ftyp = bx("ftyp", "isom".getBytes(ISO_8859_1) ++ be32(0) ++
      "isom".getBytes(ISO_8859_1))
    val mvhd = bx("mvhd", fb(0, new Array[Byte](8) ++ be32(1000) ++ be32(0) ++
      new Array[Byte](80)))
    val mdhd = bx("mdhd", fb(0, new Array[Byte](8) ++ be32(1000) ++ be32(0) ++
      new Array[Byte](4)))
    val hdlr = bx("hdlr", fb(0, be32(0) ++ "vide".getBytes(ISO_8859_1) ++
      new Array[Byte](13)))
    val stsd = bx("stbl", bx("stsd", fb(0, be32(1) ++ be32(16) ++
      "avc1".getBytes(ISO_8859_1) ++ new Array[Byte](8))))
    val tkhd = bx("tkhd", fb(0, new Array[Byte](72) ++
      be32(320L << 16) ++ be32(240L << 16)))
    val trak = bx("trak", tkhd ++ bx("mdia", mdhd ++ hdlr ++ bx("minf", stsd)))
    val moov = bx("moov", mvhd ++ trak)
    // moof 1: tfhd default_sample_duration 500 (flag 0x08), trun 4
    // samples with data_offset only (flag 0x01) → 2000 ticks
    val moof1 = bx("moof", bx("mfhd", fb(0, be32(1))) ++
      bx("traf",
        bx("tfhd", fb(0x08, be32(1) ++ be32(500))) ++
        bx("trun", fb(0x01, be32(4) ++ be32(0)))))
    // moof 2: per-sample durations 700 + 300 (flags 0x101) → 1000 ticks
    val moof2 = bx("moof", bx("mfhd", fb(0, be32(2))) ++
      bx("traf",
        bx("tfhd", fb(0x08, be32(1) ++ be32(500))) ++
        bx("trun", fb(0x101, be32(2) ++ be32(0) ++ be32(700) ++ be32(300)))))
    val seg = ftyp ++ moov ++ moof1 ++ moof2 ++
      bx("mdat", "xx".getBytes(ISO_8859_1))
    val got = Mp4Ops.mp4Walk(seg)
    // 3000 ticks at the mdhd 1000 Hz clock = 3000 ms, fragmented
    assert(got == Right(Mp4Ops.Mp4Info("isom", 3000L, 1, 320, 240,
      "avc1", "", fragmented = true)), got)
    // the same stream with a REAL mvhd duration keeps mvhd authoritative
    val real = ftyp ++ bx("moov",
      bx("mvhd", fb(0, new Array[Byte](8) ++ be32(1000) ++ be32(7000) ++
        new Array[Byte](80))) ++ trak) ++ moof1
    val gotReal = Mp4Ops.mp4Walk(real)
    assert(gotReal.exists(m => m.durationMs == 7000L && !m.fragmented), gotReal)
    // a moof-only stream with neither sidx nor an own moov still
    // quarantines by name (the media timescale is in the init segment)
    val bare = ftyp ++ moof1
    assert(Mp4Ops.mp4Walk(bare) == Left("fragmented"))
  }

  test("mp4MetaOf routes every payload to exactly one of clean/quarantine") {
    import spark.implicits._
    val rows = Seq(
      ("u1", Mp4Ops.mp4Synth(1L)),
      ("u2", "GIF89a junk".getBytes(ISO_8859_1)))
      .toDF("url", "payload")
    val (clean, quarantine) = Mp4Ops.mp4MetaOf(rows)
    val c = clean.collect()
    assert(c.length == 1 && c.head.getString(0) == "u1")
    assert(c.head.getAs[String]("major_brand") == "mp42")
    assert(c.head.getAs[Int]("width") == 20)
    val q = quarantine.collect().map(r => (r.getString(0), r.getString(1)))
    assert(q.toSeq == Seq(("u2", "not_mp4")), q.toSeq)
  }

  test("mp4MetaOfWithInit: a DASH media segment measures against ITS init's timescale") {
    import spark.implicits._
    // the round-19 self-initializing fixture split into the real DASH
    // layout: init = ftyp + moov (mvhd dur 0, mdhd timescale 1000);
    // media segments = styp + moof(s) + mdat, NO moov of their own
    def be32(v: Long): Array[Byte] = Array(((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def bx(t: String, body: Array[Byte]): Array[Byte] =
      be32(8L + body.length) ++ t.getBytes(ISO_8859_1) ++ body
    def fb(flags: Int, body: Array[Byte]): Array[Byte] =
      be32(flags.toLong) ++ body
    val ftyp = bx("ftyp", "isom".getBytes(ISO_8859_1) ++ be32(0) ++
      "isom".getBytes(ISO_8859_1))
    val mvhd = bx("mvhd", fb(0, new Array[Byte](8) ++ be32(1000) ++ be32(0) ++
      new Array[Byte](80)))
    val mdhd = bx("mdhd", fb(0, new Array[Byte](8) ++ be32(1000) ++ be32(0) ++
      new Array[Byte](4)))
    val hdlr = bx("hdlr", fb(0, be32(0) ++ "vide".getBytes(ISO_8859_1) ++
      new Array[Byte](13)))
    val stsd = bx("stbl", bx("stsd", fb(0, be32(1) ++ be32(16) ++
      "avc1".getBytes(ISO_8859_1) ++ new Array[Byte](8))))
    val tkhd = bx("tkhd", fb(0, new Array[Byte](72) ++
      be32(320L << 16) ++ be32(240L << 16)))
    val init = ftyp ++ bx("moov", mvhd ++
      bx("trak", tkhd ++ bx("mdia", mdhd ++ hdlr ++ bx("minf", stsd))))
    val styp = bx("styp", "msdh".getBytes(ISO_8859_1) ++ be32(0) ++
      "msdh".getBytes(ISO_8859_1))
    def moof(seq: Long, trun: Array[Byte]): Array[Byte] =
      bx("moof", bx("mfhd", fb(0, be32(seq))) ++
        bx("traf", bx("tfhd", fb(0x08, be32(1) ++ be32(500))) ++ trun))
    val segA = styp ++ moof(1, bx("trun", fb(0x01, be32(4) ++ be32(0)))) ++
      bx("mdat", "xx".getBytes(ISO_8859_1)) // 4 × 500 = 2000 ticks
    val segB = styp ++
      moof(2, bx("trun", fb(0x101, be32(2) ++ be32(0) ++
        be32(700) ++ be32(300)))) ++
      bx("mdat", "yy".getBytes(ISO_8859_1)) // 700 + 300 = 1000 ticks
    // standalone, the segments keep the NAMED quarantine
    assert(Mp4Ops.mp4Walk(segA) == Left("fragmented"))
    val segments = Seq(
      ("http://d.example/a/seg1.m4s", "http://d.example/a/init.mp4", segA),
      ("http://d.example/a/seg2.m4s", "http://d.example/a/init.mp4", segB),
      // a segment whose init is missing keeps the quarantine
      ("http://d.example/b/seg1.m4s", "http://d.example/b/init.mp4", segA))
      .toDF("url", "init_url", "payload")
    val inits = Seq(("http://d.example/a/init.mp4", init))
      .toDF("init_url", "payload")
    val (clean, quarantine) = Mp4Ops.mp4MetaOfWithInit(segments, inits)
    val c = clean.collect().map(r => r.getString(0) -> r).toMap
    assert(c.keySet == Set("http://d.example/a/seg1.m4s",
      "http://d.example/a/seg2.m4s"), c.keySet)
    // each segment's trun sums resolve against the INIT's 1000 Hz clock,
    // and the init's geometry/brand carry over
    assert(c("http://d.example/a/seg1.m4s").getAs[Long]("duration_ms") == 2000L)
    assert(c("http://d.example/a/seg2.m4s").getAs[Long]("duration_ms") == 1000L)
    assert(c.values.forall(_.getAs[Boolean]("fragmented")))
    assert(c.values.forall(_.getAs[Int]("width") == 320))
    val q = quarantine.collect().map(r => (r.getString(0), r.getString(1)))
    assert(q.toSeq == Seq(("http://d.example/b/seg1.m4s", "fragmented")), q.toSeq)
  }

  private def warcRecord(uri: String, payload: Array[Byte]): Array[Byte] = {
    val hdr = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Date: 2026-08-14T00:00:00Z\r\n" +
      s"WARC-Target-URI: $uri\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n").getBytes(ISO_8859_1)
    hdr ++ payload ++ "\r\n\r\n".getBytes(ISO_8859_1)
  }

  test("mp4MetaOfRecords: declaration OR content routes; the lying header sniffs in") {
    val dir = SparkSpec.tempDir("graft_warc_mp4")
    def http(ctype: String, body: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\n\r\n")
        .getBytes(ISO_8859_1) ++ body
    val recs =
      warcRecord("http://v.example/clip.mp4",
        http("video/mp4", Mp4Ops.mp4Synth(0L))) ++
      // the common lie: MP4 bytes behind octet-stream — content routes it
      warcRecord("http://v.example/lying.bin",
        http("application/octet-stream", Mp4Ops.mp4Synth(1L))) ++
      warcRecord("http://v.example/broken.mp4",
        http("video/mp4", "junk body".getBytes(ISO_8859_1))) ++
      warcRecord("http://v.example/page.html",
        http("text/html", "<html><body>nope</body></html>".getBytes(ISO_8859_1)))
    java.nio.file.Files.write(dir.resolve("seg.warc"), recs)
    val records = graft.sources.WarcSource.read(spark, dir.toString)
    val (clean, quarantine) = Mp4Ops.mp4MetaOfRecords(records)
    val c = clean.collect().map(r =>
      r.getString(0) -> r.getAs[String]("major_brand")).toMap
    assert(c == Map("http://v.example/clip.mp4" -> "isom",
      "http://v.example/lying.bin" -> "mp42"), c.toString)
    val q = quarantine.collect().map(r => (r.getString(0), r.getString(1)))
    assert(q.toSeq == Seq(("http://v.example/broken.mp4", "not_mp4")), q.toSeq)
  }

  test("q_mp4_meta face reproduces the oracle arithmetic per doc") {
    val docs = graft.sources.Tables.documents(spark, sfDir).limit(30)
    val got = Mp4Ops.mp4Meta(docs).collect()
    assert(got.length == 30)
    got.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(2) == 40L * (id % 977 + 25), s"duration doc $id")
      if (id % 3 == 2) assert(r.isNullAt(r.fieldIndex("width")))
      else assert(r.getLong(r.fieldIndex("width")) == 16 + (id % 16) * 4)
    }
  }
}
