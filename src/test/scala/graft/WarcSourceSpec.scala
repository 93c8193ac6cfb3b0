package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import graft.sources.WarcSource

/** WARC ingestion: record walk, gzip members, malformed-tail tolerance,
  * HTTP response projection (SURVEY §2-C). */
class WarcSourceSpec extends SparkSpec {

  private def record(typ: String, uri: String, payload: Array[Byte],
                     id: String): Array[Byte] = {
    val hdr = ("WARC/1.0\r\n" +
      s"WARC-Type: $typ\r\n" +
      s"WARC-Record-ID: <urn:test:$id>\r\n" +
      "WARC-Date: 2026-08-14T00:00:00Z\r\n" +
      (if (uri.nonEmpty) s"WARC-Target-URI: $uri\r\n" else "") +
      "Content-Type: application/http\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n").getBytes(US_ASCII)
    hdr ++ payload ++ "\r\n\r\n".getBytes(US_ASCII)
  }

  private val httpPayload =
    ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
      "<html>hello corpus</html>").getBytes(US_ASCII)

  private def warcBytes: Array[Byte] =
    record("warcinfo", "", "software: graft-test\r\n".getBytes(US_ASCII), "info") ++
      record("response", "http://example.com/a", httpPayload, "resp") ++
      record("request", "http://example.com/a",
        "GET /a HTTP/1.1\r\n".getBytes(US_ASCII), "req")

  test("parses plain and member-gzipped WARC files with per-file parallelism") {
    val dir = SparkSpec.tempDir("graft_warc")
    Files.write(dir.resolve("seg-0.warc"), warcBytes)
    // the Common Crawl layout: one gzip MEMBER per record, concatenated
    val gz = new ByteArrayOutputStream()
    Seq(
      record("warcinfo", "", "software: graft-test\r\n".getBytes(US_ASCII), "info"),
      record("response", "http://example.com/b", httpPayload, "resp2"),
      record("request", "http://example.com/b",
        "GET /b HTTP/1.1\r\n".getBytes(US_ASCII), "req2")
    ).foreach { r =>
      val g = new GZIPOutputStream(gz); g.write(r); g.finish()
    }
    Files.write(dir.resolve("seg-1.warc.gz"), gz.toByteArray)

    val df = WarcSource.read(spark, dir.toString)
    val rows = df.collect()
    assert(rows.length == 6, s"expected 6 records, got ${rows.length}")
    assert(df.rdd.getNumPartitions >= 2, "per-file parallelism")
    val byType = rows.groupBy(_.getAs[String]("warc_type"))
    assert(byType("response").length == 2 && byType("request").length == 2)
    val resp = byType("response").map(_.getAs[String]("target_uri")).toSet
    assert(resp == Set("http://example.com/a", "http://example.com/b"))
    assert(rows.forall(r =>
      r.getAs[Long]("content_length") == r.getAs[Array[Byte]]("payload").length))
  }

  test("cdxIndex records exact offsets; readAtMember(0, offset) re-reads each record") {
    import org.apache.spark.sql.functions.col
    val dir = SparkSpec.tempDir("graft_warc_cdx")
    val plain = dir.resolve("seg-0.warc")
    Files.write(plain, warcBytes)
    // gz twin: one gzip member per record (the CC layout)
    val gz = new ByteArrayOutputStream()
    Seq(record("warcinfo", "", "software: graft-test\r\n".getBytes(US_ASCII), "info"),
      record("response", "http://example.com/a", httpPayload, "resp"),
      record("request", "http://example.com/a",
        "GET /a HTTP/1.1\r\n".getBytes(US_ASCII), "req")).foreach { r =>
      val o = new GZIPOutputStream(gz); o.write(r); o.finish()
    }
    val gzPath = dir.resolve("seg-1.warc.gz")
    Files.write(gzPath, gz.toByteArray)

    val records = WarcSource.read(spark, dir.toString)
    // offsets in a PLAIN file are true byte offsets: recompute from the
    // fixture construction (records are back-to-back; length excludes
    // the CRLFCRLF padding, the next offset includes it)
    val r0 = record("warcinfo", "", "software: graft-test\r\n".getBytes(US_ASCII), "info")
    val r1 = record("response", "http://example.com/a", httpPayload, "resp")
    val plainRows = records.filter(col("file").contains("seg-0"))
      .orderBy("offset").collect()
    assert(plainRows.map(_.getAs[Long]("offset")).toSeq ==
      Seq(0L, r0.length.toLong, (r0.length + r1.length).toLong))
    plainRows.foreach { r =>
      assert(r.getAs[Long]("length") > 0)
      // length = record bytes minus the 4-byte inter-record padding
      val expectLen = record(r.getAs[String]("warc_type"),
        r.getAs[String]("target_uri"), r.getAs[Array[Byte]]("payload"),
        "x").length - 4 +
        (r.getAs[String]("record_id").length - "<urn:test:x>".length)
      assert(r.getAs[Long]("length") == expectLen.toLong, r.toString)
    }
    // the index carries no payload and keys on the canonical URL
    val idx = WarcSource.cdxIndex(records).collect()
    assert(!WarcSource.cdxIndex(records).columns.contains("payload"))
    assert(idx.forall(_.getAs[String]("canon_url") != ""))
    // a skip of `offset` from the file head must return EXACTLY the
    // indexed record, on the plain file (buffered skip) and through the
    // gzip route alike
    records.collect().foreach { r =>
      val got = WarcSource.readAtMember(spark, r.getAs[String]("file"), 0L,
        r.getAs[Long]("offset"))
      assert(got.nonEmpty, s"no record at ${r.getAs[Long]("offset")}")
      assert(got.get.record_id == r.getAs[String]("record_id"))
      assert(got.get.target_uri == r.getAs[String]("target_uri"))
      assert(got.get.payload.toSeq == r.getAs[Array[Byte]]("payload").toSeq,
        "payload bytes round-trip")
      assert(got.get.length == r.getAs[Long]("length"))
    }
  }

  test("cdxIndex member_length: offsets + lengths tile each file exactly") {
    import org.apache.spark.sql.functions.col
    val dir = SparkSpec.tempDir("graft_warc_cdxlen")
    // CC layout gz: one member per record; plus a plain twin (members
    // degrade to records) — BOTH must tile to their file's size
    val recs = Seq(
      record("warcinfo", "", "software: graft-test\r\n".getBytes(US_ASCII), "info"),
      record("response", "http://example.com/a", httpPayload, "resp"),
      record("request", "http://example.com/a",
        "GET /a HTTP/1.1\r\n".getBytes(US_ASCII), "req"))
    val gz = new ByteArrayOutputStream()
    recs.foreach { r =>
      val o = new GZIPOutputStream(gz); o.write(r); o.finish()
    }
    Files.write(dir.resolve("seg.warc.gz"), gz.toByteArray)
    Files.write(dir.resolve("seg2.warc"), recs.reduce(_ ++ _))
    val idx = WarcSource.cdxIndex(WarcSource.read(spark, dir.toString))
      .select(col("file"), col("member_offset"), col("member_length"))
      .distinct().collect()
      .groupBy(_.getString(0)).map { case (f, rows) =>
        f -> rows.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      }
    assert(idx.size == 2)
    idx.foreach { case (f, members) =>
      val fileSize = java.nio.file.Files.size(
        java.nio.file.Paths.get(new java.net.URI(f).getPath))
      // each member ends where the next begins; the tail ends at EOF
      members.sliding(2).foreach {
        case Array((o1, l1), (o2, _)) => assert(o1 + l1 == o2, s"$f gap at $o1")
        case _ => ()
      }
      val (lastOff, lastLen) = members.last
      // the warcinfo record (empty target_uri) is not a capture, so the
      // index starts at the SECOND member — the tiling contract covers
      // the captured span through EOF
      assert(members.head._1 > 0L)
      assert(lastOff + lastLen == fileSize, s"$f tail")
      // and every (offset, length) range-fetches its own record: the
      // member_length is a valid HTTP range for readAtMember
      assert(members.forall(_._2 > 0))
    }
    // a range fetch at (member_offset, member_length) is self-contained:
    // re-read the gz file's middle record from EXACTLY its slice
    val gzFile = idx.keys.find(_.endsWith(".warc.gz")).get
    val mid = idx(gzFile)(0) // the response capture (warcinfo precedes)
    val slice = java.util.Arrays.copyOfRange(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(new java.net.URI(gzFile).getPath)),
      mid._1.toInt, (mid._1 + mid._2).toInt)
    val reread = WarcSource.parseFile("slice", slice).toSeq
    assert(reread.length == 1 &&
      reread.head.target_uri == "http://example.com/a" &&
      reread.head.warc_type == "response")
    // a records frame whose file labels are NOT resolvable paths (e.g.
    // parsed from in-memory bytes under a synthetic label) must not
    // fail the build: the tail member's length is NULL, every
    // non-tail length still computes from the next member's offset
    val ghost = WarcSource.read(spark, dir.toString)
      .withColumn("file", org.apache.spark.sql.functions
        .concat(col("file"), org.apache.spark.sql.functions.lit(".gone")))
    val gidx = WarcSource.cdxIndex(ghost)
      .select(col("file"), col("member_offset"), col("member_length"))
      .distinct().collect()
      .groupBy(_.getString(0)).map { case (f, rows) =>
        f -> rows.sortBy(_.getLong(1))
      }
    gidx.values.foreach { members =>
      members.dropRight(1).foreach(r => assert(!r.isNullAt(2), r.toString))
      assert(members.last.isNullAt(2), members.last.toString)
    }
  }

  test("member_offset is the true compressed offset; readAtMember round-trips " +
    "every record on a multi-member .warc.gz") {
    import org.apache.spark.sql.functions.col
    val dir = SparkSpec.tempDir("graft_warc_member")
    // the CC layout: one gzip member per record; capture each member's
    // true compressed start while building the file
    val recs = Seq(
      record("warcinfo", "", "software: graft-test\r\n".getBytes(US_ASCII), "info"),
      record("response", "http://example.com/a", httpPayload, "resp"),
      record("request", "http://example.com/a",
        "GET /a HTTP/1.1\r\n".getBytes(US_ASCII), "req"))
    val gz = new ByteArrayOutputStream()
    val memberStarts = recs.map { r =>
      val start = gz.size().toLong
      val o = new GZIPOutputStream(gz); o.write(r); o.finish()
      start
    }
    val gzPath = dir.resolve("seg.warc.gz")
    Files.write(gzPath, gz.toByteArray)

    val rows = WarcSource.read(spark, dir.toString).orderBy("offset").collect()
    assert(rows.length == 3)
    // compressed member offsets match the byte-exact construction; the
    // CC layout puts every record at its member's start
    assert(rows.map(_.getAs[Long]("member_offset")).toSeq == memberStarts)
    assert(rows.forall(_.getAs[Long]("member_skip") == 0L))
    // the index carries both axes
    val idxCols = WarcSource.cdxIndex(
      WarcSource.read(spark, dir.toString)).columns.toSet
    assert(idxCols.contains("member_offset") && idxCols.contains("member_skip"))
    assert(idxCols.contains("surt")) // the public CDX sort key (round 20)
    // random access at the recorded COMPRESSED offset: byte-for-byte
    rows.foreach { r =>
      val got = WarcSource.readAtMember(spark, r.getAs[String]("file"),
        r.getAs[Long]("member_offset"), r.getAs[Long]("member_skip"))
      assert(got.nonEmpty, s"no record at member ${r.getAs[Long]("member_offset")}")
      assert(got.get.record_id == r.getAs[String]("record_id"))
      assert(got.get.payload.toSeq == r.getAs[Array[Byte]]("payload").toSeq,
        "payload bytes round-trip through the member seek")
      assert(got.get.length == r.getAs[Long]("length"))
      // member coordinates come back ABSOLUTE: the re-fetched record
      // round-trips through its own index row
      assert(got.get.member_offset == r.getAs[Long]("member_offset"),
        s"rebased ${got.get.member_offset}")
    }
    // plain files: member coordinates degrade to (offset, 0) and
    // readAtMember is a pure seek to the record
    Files.write(dir.resolve("seg-plain.warc"), warcBytes)
    val plainRows = WarcSource.read(spark, dir.toString)
      .filter(col("file").contains("seg-plain")).collect()
    plainRows.foreach { r =>
      assert(r.getAs[Long]("member_offset") == r.getAs[Long]("offset"))
      assert(r.getAs[Long]("member_skip") == 0L)
      val got = WarcSource.readAtMember(spark, r.getAs[String]("file"),
        r.getAs[Long]("member_offset"))
      assert(got.map(_.record_id).contains(r.getAs[String]("record_id")))
    }
  }

  test("readAtMember and readMembers agree row for row; a past-EOF row drops") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft_warc_faces")
    Files.write(dir.resolve("seg-0.warc"), warcBytes)
    val gz = new ByteArrayOutputStream()
    Seq(record("warcinfo", "", "software: graft-test\r\n".getBytes(US_ASCII), "info"),
      record("response", "http://example.com/b", httpPayload, "resp2"),
      record("request", "http://example.com/b",
        "GET /b HTTP/1.1\r\n".getBytes(US_ASCII), "req2")).foreach { r =>
      val o = new GZIPOutputStream(gz); o.write(r); o.finish()
    }
    Files.write(dir.resolve("seg-1.warc.gz"), gz.toByteArray)
    val rows = WarcSource.read(spark, dir.toString)
      .select("file", "member_offset", "member_skip").as[(String, Long, Long)]
      .collect().toSeq
    assert(rows.map(_._1).distinct.length == 2 && rows.length == 6)
    val pastEof = rows.map(_._1).distinct.map(f => (f, 999999999L, 0L))
    def key(r: WarcSource.WarcRecord) = (r.file, r.record_id, r.offset,
      r.length, r.member_offset, r.member_skip, r.payload.toSeq)
    val one = (rows ++ pastEof).flatMap { case (f, off, skip) =>
      WarcSource.readAtMember(spark, f, off, skip) }.map(key)
    val batch = WarcSource.readMembers(spark,
        (rows ++ pastEof).toDF("file", "member_offset", "member_skip"))
      .as[WarcSource.WarcRecord].collect().toSeq.map(key)
    assert(one.length == 6, one.map(_._2))
    assert(batch.sortBy(k => (k._1, k._5)) == one.sortBy(k => (k._1, k._5)))
  }

  test("a gzip member holding several records: shared member_offset, " +
    "member_skip positions each record within it") {
    val dir = SparkSpec.tempDir("graft_warc_multirec")
    val r0 = record("response", "http://m/0", httpPayload, "m0")
    val r1 = record("response", "http://m/1", httpPayload, "m1")
    val r2 = record("response", "http://m/2", httpPayload, "m2")
    val gz = new ByteArrayOutputStream()
    val g1 = new GZIPOutputStream(gz); g1.write(r0 ++ r1); g1.finish()
    val secondStart = gz.size().toLong
    val g2 = new GZIPOutputStream(gz); g2.write(r2); g2.finish()
    Files.write(dir.resolve("multi.warc.gz"), gz.toByteArray)

    val rows = WarcSource.read(spark, dir.toString).orderBy("offset").collect()
    assert(rows.length == 3)
    assert(rows(0).getAs[Long]("member_offset") == 0L)
    assert(rows(0).getAs[Long]("member_skip") == 0L)
    assert(rows(1).getAs[Long]("member_offset") == 0L, "same member as record 0")
    assert(rows(1).getAs[Long]("member_skip") == r0.length.toLong,
      "decompressed skip within the shared member")
    assert(rows(2).getAs[Long]("member_offset") == secondStart)
    assert(rows(2).getAs[Long]("member_skip") == 0L)
    rows.foreach { r =>
      val got = WarcSource.readAtMember(spark, r.getAs[String]("file"),
        r.getAs[Long]("member_offset"), r.getAs[Long]("member_skip"))
      assert(got.map(_.record_id).contains(r.getAs[String]("record_id")), r.toString)
    }
  }

  test("gzip members with FNAME/FCOMMENT header fields parse with exact offsets") {
    // wget and friends set FNAME; the member walk must skip the optional
    // header fields and still count their bytes into member_offset
    def withFname(member: Array[Byte], name: String): Array[Byte] = {
      val out = member.clone()
      out(3) = (out(3) | 8).toByte // FLG |= FNAME
      out.take(10) ++ name.getBytes(US_ASCII) ++ Array[Byte](0) ++ out.drop(10)
    }
    def member(r: Array[Byte]): Array[Byte] = {
      val o = new ByteArrayOutputStream()
      val g = new GZIPOutputStream(o); g.write(r); g.finish()
      o.toByteArray
    }
    val m0 = withFname(member(record("response", "http://f/0", httpPayload, "f0")),
      "seg-0.warc")
    val m1 = member(record("response", "http://f/1", httpPayload, "f1"))
    val dir = SparkSpec.tempDir("graft_warc_fname")
    Files.write(dir.resolve("named.warc.gz"), m0 ++ m1)
    val rows = WarcSource.read(spark, dir.toString).orderBy("offset").collect()
    assert(rows.map(_.getAs[String]("target_uri")).toSeq ==
      Seq("http://f/0", "http://f/1"))
    assert(rows(1).getAs[Long]("member_offset") == m0.length.toLong)
    val got = WarcSource.readAtMember(spark, rows(1).getAs[String]("file"),
      rows(1).getAs[Long]("member_offset"))
    assert(got.map(_.record_id).contains("<urn:test:f1>"))
  }

  test("a CRC-corrupt gzip member ends the walk; prior records survive") {
    def member(r: Array[Byte]): Array[Byte] = {
      val o = new ByteArrayOutputStream()
      val g = new GZIPOutputStream(o); g.write(r); g.finish()
      o.toByteArray
    }
    val good = member(record("response", "http://c/ok", httpPayload, "ok"))
    val bad = member(record("response", "http://c/bad", httpPayload, "bad"))
    bad(bad.length / 2) = (bad(bad.length / 2) ^ 0x55).toByte // flip deflate bits
    val recs = WarcSource.parseFile("mem.warc.gz", good ++ bad).toVector
    assert(recs.map(_.target_uri) == Vector("http://c/ok"),
      "corrupt member dropped, prior kept, nothing thrown")
  }

  test("MemberGzipStream ≡ GZIPInputStream byte-for-byte (differential fuzz)") {
    // the round-19 inflater must be indistinguishable from the JDK's on
    // every well-formed stream: random member splits, payload sizes
    // crossing the 64 KiB feed buffer, optional header fields
    // (FEXTRA/FNAME/FCOMMENT/FHCRC), empty members, trailing garbage
    val rnd = new scala.util.Random(19)
    def member(payload: Array[Byte]): Array[Byte] = {
      val o = new ByteArrayOutputStream()
      val g = new GZIPOutputStream(o); g.write(payload); g.finish()
      o.toByteArray
    }
    def withHeaderFields(m: Array[Byte], extra: Boolean, name: Boolean,
                         comment: Boolean, hcrc: Boolean): Array[Byte] = {
      var flg = m(3).toInt
      val mid = new ByteArrayOutputStream()
      if (extra) {
        flg |= 4
        val x = Array[Byte](7, 3, 1, 4, 1, 5, 9)
        mid.write(Array[Byte](x.length.toByte, 0)); mid.write(x)
      }
      if (name) {
        flg |= 8
        mid.write("a-file.warc".getBytes(US_ASCII)); mid.write(0)
      }
      if (comment) {
        flg |= 16
        mid.write("written by graft".getBytes(US_ASCII)); mid.write(0)
      }
      val head = m.take(10).clone()
      // FHCRC covers the header WITH the flag bit set (RFC 1952)
      head(3) = (if (hcrc) flg | 2 else flg).toByte
      val tail =
        if (hcrc) {
          val c = new java.util.zip.CRC32
          c.update(head ++ mid.toByteArray)
          Array((c.getValue & 0xff).toByte, ((c.getValue >> 8) & 0xff).toByte)
        } else Array.emptyByteArray
      head ++ mid.toByteArray ++ tail ++ m.drop(10)
    }
    def inflateAll(mk: java.io.InputStream => java.io.InputStream,
                   bytes: Array[Byte]): (Seq[Byte], Boolean) = {
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](1 + rnd.nextInt(8192)) // odd read sizes
      try {
        val in = mk(new java.io.ByteArrayInputStream(bytes))
        try {
          var n = in.read(buf)
          while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        } finally in.close()
        (out.toByteArray.toSeq, false)
      } catch {
        case _: java.io.IOException => (out.toByteArray.toSeq, true)
      }
    }
    (0 until 40).foreach { trial =>
      val nMembers = 1 + rnd.nextInt(5)
      val stream = new ByteArrayOutputStream()
      val payloads = (0 until nMembers).map { _ =>
        val size = rnd.nextInt(4) match {
          case 0 => 0 // empty member
          case 1 => rnd.nextInt(64)
          case 2 => rnd.nextInt(4096)
          case _ => (64 << 10) + rnd.nextInt(64 << 10) // crosses the buffer
        }
        val p = new Array[Byte](size)
        rnd.nextBytes(p)
        p
      }
      payloads.foreach { p =>
        val m = member(p)
        stream.write(
          if (rnd.nextBoolean()) m
          else withHeaderFields(m, rnd.nextBoolean(), rnd.nextBoolean(),
            rnd.nextBoolean(), rnd.nextBoolean()))
      }
      if (trial % 5 == 0) stream.write("trailing garbage".getBytes(US_ASCII))
      val bytes = stream.toByteArray
      val expected = payloads.flatten.toSeq
      val (jdk, jdkThrew) =
        inflateAll(s => new java.util.zip.GZIPInputStream(s, 64 << 10), bytes)
      val (ours, oursThrew) = inflateAll(
        s => new graft.sources.WarcSource.MemberGzipStream(s), bytes)
      assert(!jdkThrew && !oursThrew, s"trial $trial threw")
      assert(jdk == expected && ours == expected,
        s"trial $trial: jdk ${jdk.length} ours ${ours.length} expected ${expected.length}")
      // and TRUNCATIONS never diverge: whatever bytes each yields before
      // EOF/throw, ours produces the same decompressed prefix
      if (trial < 10) {
        val cut = rnd.nextInt(bytes.length)
        val (j, _) = inflateAll(
          s => new java.util.zip.GZIPInputStream(s, 64 << 10), bytes.take(cut))
        val (o, _) = inflateAll(
          s => new graft.sources.WarcSource.MemberGzipStream(s), bytes.take(cut))
        // both are prefixes of the truth; ours must never yield bytes the
        // JDK's would not (modulo buffering, compare against the truth)
        assert(o == expected.take(o.length), s"trial $trial cut $cut: bad bytes")
        assert(j == expected.take(j.length), s"trial $trial cut $cut: jdk bad")
      }
    }
  }

  test("WARC bodies flow into the text estate: langId + exact dedup end-to-end") {
    import org.apache.spark.sql.functions._
    val dir = SparkSpec.tempDir("graft_warc3")
    def resp(uri: String, body: String, id: String): Array[Byte] = {
      val payload = ("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" + body)
        .getBytes(US_ASCII)
      record("response", uri, payload, id)
    }
    val dup = "the a the a common crawl body repeated verbatim"
    Files.write(dir.resolve("seg.warc"),
      resp("http://x/1", dup, "r1") ++
        resp("http://x/2", dup, "r2") ++ // exact duplicate page
        resp("http://x/3", "table part window batch table part", "r3"))
    // WARC → (uri, body) → the documents shape the whole estate consumes
    val docs = graft.sources.WarcSource.httpResponses(
        graft.sources.WarcSource.read(spark, dir.toString))
      .select(monotonically_increasing_id().as("doc_id"),
        col("body").as("text"), col("target_uri"))
    val lang = graft.operators.TextOps.langId(docs).collect()
    assert(lang.length == 3)
    val deduped = graft.operators.DedupOps.dedupExact(docs).collect()
    assert(deduped.length == 2, "the two identical pages must collapse")
    assert(deduped.map(_.getAs[Long]("n_copies")).sorted.toSeq == Seq(1L, 2L))
  }

  test("record walk is streaming: first record consumes a sliver of the stream") {
    // 200 records of 32 KiB each; an InputStream that counts consumed bytes.
    // If parseFile materialized the decompressed whole (the round-9 weak),
    // pulling record 1 would consume ~all bytes; a streaming walk consumes
    // about one record + read-ahead buffer.
    val payload = Array.fill[Byte](32 << 10)('x'.toByte)
    val all = (0 until 200).map(i =>
      record("response", s"http://x/$i", payload, s"r$i")).reduce(_ ++ _)
    var consumed = 0L
    val counting = new java.io.InputStream {
      private val in = new java.io.ByteArrayInputStream(all)
      override def read(): Int = { val b = in.read(); if (b >= 0) consumed += 1; b }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val n = in.read(b, off, len); if (n > 0) consumed += n; n
      }
    }
    val it = WarcSource.parseStream("mem", counting)
    val first = it.next()
    assert(first.target_uri == "http://x/0")
    // one 32 KiB record + the 64 KiB BufferedInputStream read-ahead, far
    // under the 6.5 MB total
    assert(consumed < (256 << 10),
      s"streaming walk must not slurp the stream: consumed $consumed of ${all.length}")
    assert(it.size == 199, "rest of the stream still parses")
  }

  test("path route is streaming: open → sniff → parse consumes a sliver of the FILE") {
    // the exact composition a read() task runs: FileSystem open, gzip
    // sniff, streaming walk. A whole-file materialization (binaryFile's
    // row, the pre-round-12 shape) would consume ~all 6.5 MB on disk
    // before the first record; the path route must not.
    val payload = Array.fill[Byte](32 << 10)('x'.toByte)
    val all = (0 until 200).map(i =>
      record("response", s"http://x/$i", payload, s"r$i")).reduce(_ ++ _)
    val f = SparkSpec.tempDir("graft_warc_path").resolve("big.warc")
    Files.write(f, all)
    var consumed = 0L
    val counting = new java.io.InputStream {
      private val in = new java.io.FileInputStream(f.toFile)
      override def read(): Int = { val b = in.read(); if (b >= 0) consumed += 1; b }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val n = in.read(b, off, len); if (n > 0) consumed += n; n
      }
      override def close(): Unit = in.close()
    }
    val it = WarcSource.parseStream("file", WarcSource.sniffGzip(counting))
    assert(it.next().target_uri == "http://x/0")
    assert(consumed < (256 << 10),
      s"path route must stream, not slurp: consumed $consumed of ${all.length}")
    assert(it.size == 199, "rest of the file still parses")
  }

  test("read() lists paths only, streams off the filesystem, keeps the gz shape") {
    // functional regression for the path-streaming read(): same dir layout
    // as the first test but asserting plan-level independence from
    // binaryFile (no 2 GiB content row anywhere: the scan's input is the
    // driver-listed path strings)
    val dir = SparkSpec.tempDir("graft_warc_pathroute")
    Files.write(dir.resolve("seg-0.warc"), warcBytes)
    Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray) // must be skipped
    Files.write(dir.resolve(".hidden.warc"), warcBytes) // must be skipped
    val df = WarcSource.read(spark, dir.toString)
    assert(df.collect().length == 3, "marker + hidden files skipped")
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!plan.contains("binaryFile") && !plan.contains("BinaryFile"), plan)
  }

  test("large multi-member gzip streams record-by-record with exact payload sum") {
    // 1000 gzip members × 64 KiB decompressed (~64 MB total decompressed,
    // tiny compressed) — the CC shape. The fold touches one record at a
    // time; sum and count prove every member inflated intact.
    val payload = Array.fill[Byte](64 << 10)('z'.toByte)
    val gz = new ByteArrayOutputStream()
    (0 until 1000).foreach { i =>
      val g = new GZIPOutputStream(gz)
      g.write(record("response", s"http://big/$i", payload, s"b$i")); g.finish()
    }
    val raw = gz.toByteArray
    val it = WarcSource.parseFile("mem.warc.gz", raw)
    var n = 0; var bytes = 0L
    it.foreach { r => n += 1; bytes += r.payload.length }
    assert(n == 1000)
    assert(bytes == 1000L * (64 << 10), s"payload bytes: $bytes")
  }

  test("torn gzip member mid-stream keeps prior records, never throws") {
    def member(r: Array[Byte]): Array[Byte] = {
      val o = new ByteArrayOutputStream()
      val g = new GZIPOutputStream(o); g.write(r); g.finish()
      o.toByteArray
    }
    val good1 = member(record("response", "http://x/ok1", httpPayload, "ok1"))
    val good2 = member(record("response", "http://x/ok2", httpPayload, "ok2"))
    val torn = member(record("response", "http://x/torn", httpPayload, "torn"))
      .dropRight(12) // rip the member's tail: CRC + length trailer gone
    val recs = WarcSource.parseFile("mem.warc.gz", good1 ++ good2 ++ torn).toVector
    assert(recs.map(_.target_uri) == Vector("http://x/ok1", "http://x/ok2"))
  }

  test("WarcSink round-trips: WET conversion records read back by WarcSource") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft_wet").resolve("out").toString
    val docs = Seq(
      ("http://a.net/1", "plain ascii text", "2026-08-14T00:00:00Z"),
      ("http://a.net/2", "café naïve — utf-8 survives", "2026-08-14T01:00:00Z"),
      ("http://b.org/3", "", "2026-08-14T02:00:00Z")) // empty text legal
      .toDF("url", "text", "fetch_date").repartition(2)
    graft.sources.WarcSink.writeWet(docs, dir)
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .toArray.map(_.toString)
    assert(files.count(_.endsWith(".warc.gz")) >= 1, files.toSeq)
    assert(!files.exists(_.contains("inprogress")), "no half-written segments")
    val back = WarcSource.read(spark, dir).collect()
    assert(back.length == 3)
    assert(back.forall(_.getAs[String]("warc_type") == "conversion"))
    val byUri = back.map(r => r.getAs[String]("target_uri") ->
      new String(r.getAs[Array[Byte]]("payload"), "UTF-8")).toMap
    assert(byUri == Map(
      "http://a.net/1" -> "plain ascii text",
      "http://a.net/2" -> "café naïve — utf-8 survives",
      "http://b.org/3" -> ""))
    assert(back.forall(r => r.getAs[Long]("content_length") ==
      r.getAs[Array[Byte]]("payload").length))
    assert(back.map(_.getAs[String]("record_id")).distinct.length == 3,
      "deterministic per-url record ids")
    // determinism: a re-run overwrites with byte-identical segments
    val before = files.filter(_.endsWith(".warc.gz")).sorted
      .map(f => java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)).toSeq)
    graft.sources.WarcSink.writeWet(docs, dir)
    val after = files.filter(_.endsWith(".warc.gz")).sorted
      .map(f => java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)).toSeq)
    assert(before.toSeq == after.toSeq, "re-run must write byte-identical members")
  }

  test("WarcSink writes a CDX sidecar; readAtMember fetches every record by it") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft_wet_cdx").resolve("out").toString
    val docs = Seq(
      ("http://s.net/1", "first record body", "2026-08-14T00:00:00Z"),
      ("http://s.net/2", "second record body", "2026-08-14T01:00:00Z"),
      ("http://s.net/3", "third record body", "2026-08-14T02:00:00Z"))
      .toDF("url", "text", "fetch_date").repartition(2)
    graft.sources.WarcSink.writeWet(docs, dir)
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .toArray.map(_.toString)
    assert(files.count(_.endsWith(".cdx")) ==
      files.count(_.endsWith(".warc.gz")), files.toSeq)
    val idx = graft.sources.WarcSink.readCdxSidecars(spark, dir).collect()
    assert(idx.length == 3, idx.toSeq)
    // the sidecar frame carries the same sort key cdxIndex derives
    assert(idx.forall(r => r.getAs[String]("surt") ==
      "net,s)/" + r.getAs[String]("url").last), idx.toSeq)
    // each sidecar row range-addresses its record: a seek to the
    // recorded COMPRESSED offset re-reads exactly that record
    idx.foreach { r =>
      val got = WarcSource.readAtMember(spark, r.getAs[String]("file"),
        r.getAs[Long]("member_offset"))
      assert(got.nonEmpty, r.toString)
      assert(got.get.target_uri == r.getAs[String]("url"))
      assert(got.get.record_id == r.getAs[String]("record_id"))
      // the recorded member length is the true compressed extent: the
      // reader's own walk derives the same member_offset
      assert(got.get.member_skip == 0L)
    }
    // sidecar offsets agree with the reader-side walk's member accounting
    val walked = WarcSource.read(spark, dir).collect()
      .map(r => (r.getAs[String]("target_uri"), r.getAs[Long]("member_offset")))
      .toMap
    idx.foreach { r =>
      assert(walked(r.getAs[String]("url")) == r.getAs[Long]("member_offset"),
        r.toString)
    }
    // member_length closes the range: offsets + lengths tile each file
    idx.groupBy(_.getAs[String]("file")).foreach { case (f, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("member_offset"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("member_offset") + a.getAs[Long]("member_length")
            == b.getAs[Long]("member_offset"), s"$f not tiled")
        case _ => ()
      }
      val last = sorted.last
      assert(last.getAs[Long]("member_offset") + last.getAs[Long]("member_length")
        == java.nio.file.Files.size(java.nio.file.Paths.get(
          f.stripPrefix("file:"))), s"$f tail")
    }
    // determinism: the re-run writes byte-identical sidecars
    val before = files.filter(_.endsWith(".cdx")).sorted
      .map(f => java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)).toSeq)
    graft.sources.WarcSink.writeWet(docs, dir)
    val after = files.filter(_.endsWith(".cdx")).sorted
      .map(f => java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)).toSeq)
    assert(before.toSeq == after.toSeq)
  }

  test("WarcSink.writeWat: metadata records round-trip; hostile urls sanitize") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft_wat").resolve("out").toString
    // the WAT face: the caller composes its extraction frames into one
    // JSON column; a url carrying raw \t / \r\n (header-forgery + CDX
    // field-separator bytes) must reach both artifacts STRIPPED so the
    // sidecar line stays 5 fields and the WARC header stays unforgeable
    val meta = Seq(
      ("http://w.net/1", """{"links":["http://w.net/2"],"title":"one"}""",
        "2026-08-15T00:00:00Z"),
      ("http://w.net/evil\tpath\r\nX-Forged: 1", """{"links":[]}""",
        // a tab in fetch_date must strip too — it would add a 6th CDX
        // field and readCdxSidecars would silently drop the record
        "2026-08-15\t01:00:00Z"))
      .toDF("url", "metadata_json", "fetch_date").repartition(1)
    graft.sources.WarcSink.writeWat(meta, dir)
    val back = WarcSource.read(spark, dir).collect()
    assert(back.length == 2)
    assert(back.forall(_.getAs[String]("warc_type") == "metadata"))
    assert(back.forall(_.getAs[String]("content_type") == "application/json"))
    val byUri = back.map(r => r.getAs[String]("target_uri") ->
      new String(r.getAs[Array[Byte]]("payload"), "UTF-8")).toMap
    assert(byUri == Map(
      "http://w.net/1" -> """{"links":["http://w.net/2"],"title":"one"}""",
      "http://w.net/evilpathX-Forged: 1" -> """{"links":[]}"""))
    // the sidecar addresses BOTH records — the sanitized url keeps its
    // line at exactly 5 tab-separated fields
    val idx = graft.sources.WarcSink.readCdxSidecars(spark, dir).collect()
    assert(idx.length == 2, idx.toSeq)
    idx.foreach { r =>
      val got = WarcSource.readAtMember(spark, r.getAs[String]("file"),
        r.getAs[Long]("member_offset"))
      assert(got.nonEmpty && got.get.target_uri == r.getAs[String]("url"))
    }
  }

  test("a persisted CDX sorted by surt serves one domain as a pushed prefix range") {
    import spark.implicits._
    // three domains' captures interleaved in url order — exactly the
    // layout where a plain url sort scatters a domain across files but
    // the surt sort makes it contiguous
    val dir = SparkSpec.tempDir("graft_surt_cdx").resolve("wet").toString
    val docs = (0 until 4).flatMap(i => Seq(
      (s"http://a$i.com/p", s"a $i", "2026-08-15T00:00:00Z"),
      (s"http://b.net/p$i", s"b $i", "2026-08-15T00:00:00Z"),
      (s"http://c$i.org/p", s"c $i", "2026-08-15T00:00:00Z")))
      .toDF("url", "text", "fetch_date").repartition(2)
    graft.sources.WarcSink.writeWet(docs, dir)
    val idx = WarcSource.cdxIndex(WarcSource.read(spark, dir))
    val out = SparkSpec.tempDir("graft_surt_cdx").resolve("idx").toString
    graft.sources.Sinks.writeOrdered(idx, out, "surt", nFiles = 3)
    // the domain query is a PREFIX predicate on the sort key: it pushes
    // to the parquet reader as StringStartsWith, so file/row-group
    // min-max stats prune everything outside the domain's range
    val dom = spark.read.parquet(out)
      .filter(org.apache.spark.sql.functions.col("surt").startsWith("net,b)"))
    val p = dom.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).get
    assert(pushed.contains("StringStartsWith(surt,net,b)"), pushed)
    val urls = dom.collect().map(_.getAs[String]("canon_url")).toSet
    assert(urls == (0 until 4).map(i => s"http://b.net/p$i").toSet, urls)
  }

  test("readMembers: a CDX frame fetches exactly its records, distributed") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = SparkSpec.tempDir("graft_wet_members").resolve("out").toString
    val docs = (0 until 12).map(i =>
      (s"http://m.net/$i", s"body of record $i", "2026-08-14T00:00:00Z"))
      .toDF("url", "text", "fetch_date").repartition(3) // several segments
    graft.sources.WarcSink.writeWet(docs, dir)
    val idx = graft.sources.WarcSink.readCdxSidecars(spark, dir)
    // the full index re-fetches the full corpus, record for record
    val fetched = WarcSource.readMembers(spark, idx).collect()
      .map(r => r.getAs[String]("target_uri") ->
        new String(r.getAs[Array[Byte]]("payload"), "UTF-8")).toMap
    val scanned = WarcSource.read(spark, dir).collect()
      .map(r => r.getAs[String]("target_uri") ->
        new String(r.getAs[Array[Byte]]("payload"), "UTF-8")).toMap
    assert(fetched == scanned && fetched.size == 12, fetched.keySet)
    // member coordinates come back absolute (the readAtMember contract)
    val coords = WarcSource.readMembers(spark, idx).collect()
      .map(r => r.getAs[String]("target_uri") -> r.getAs[Long]("member_offset"))
      .toMap
    val declared = idx.collect()
      .map(r => r.getAs[String]("url") -> r.getAs[Long]("member_offset")).toMap
    assert(coords == declared, coords)
    // a SELECTION fetches only its rows — the targeted-re-parse shape
    val some = WarcSource.readMembers(spark,
      idx.filter(col("url").endsWith("/3") || col("url").endsWith("/7")))
      .collect().map(_.getAs[String]("target_uri")).toSet
    assert(some == Set("http://m.net/3", "http://m.net/7"), some)
    // a torn row (offset past EOF) drops; the rest of the frame survives
    val withBogus = idx.select(col("file"), col("member_offset"),
      org.apache.spark.sql.functions.lit(0L).as("member_skip"))
      .union(idx.limit(1).select(col("file"),
        org.apache.spark.sql.functions.lit(999999999L).as("member_offset"),
        org.apache.spark.sql.functions.lit(0L).as("member_skip")))
    val robust = WarcSource.readMembers(spark, withBogus).collect()
    assert(robust.length == 12, s"${robust.length}")
  }

  test("the re-fetch ledger: cdxIndex → latest capture per URL → readMembers") {
    import org.apache.spark.sql.functions._
    // two crawls of the same two URLs land in one directory; the ledger
    // picks each URL's LATEST capture and re-fetches exactly those two
    // records by compressed member coordinates — no segment rescanned
    val dir = SparkSpec.tempDir("graft_warc_ledger")
    def seg(name: String, date: String, marker: String): Unit = {
      val gz = new ByteArrayOutputStream()
      Seq("http://l.site/a", "http://l.site/b").foreach { u =>
        val payload = ("HTTP/1.1 200 OK\r\n\r\nbody " + marker + " " + u)
          .getBytes(US_ASCII)
        val hdr = ("WARC/1.0\r\nWARC-Type: response\r\n" +
          s"WARC-Record-ID: <urn:test:$marker-$u>\r\n" +
          s"WARC-Date: $date\r\n" +
          s"WARC-Target-URI: $u\r\n" +
          s"Content-Length: ${payload.length}\r\n\r\n").getBytes(US_ASCII)
        val o = new GZIPOutputStream(gz)
        o.write(hdr ++ payload ++ "\r\n\r\n".getBytes(US_ASCII)); o.finish()
      }
      Files.write(dir.resolve(name), gz.toByteArray)
    }
    seg("crawl-1.warc.gz", "2026-08-01T00:00:00Z", "old")
    seg("crawl-2.warc.gz", "2026-08-14T00:00:00Z", "new")
    val idx = WarcSource.cdxIndex(WarcSource.read(spark, dir.toString))
    val latest = idx
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("canon_url").orderBy(col("warc_date").desc)))
      .filter(col("rk") === 1)
      .select(col("file"), col("member_offset"), col("member_skip"))
    val fetched = WarcSource.readMembers(spark, latest).collect()
    assert(fetched.length == 2, fetched.toSeq)
    fetched.foreach { r =>
      val body = new String(r.getAs[Array[Byte]]("payload"), "UTF-8")
      assert(body.contains("body new"), body)
      assert(r.getAs[String]("warc_date") == "2026-08-14T00:00:00Z")
    }
  }

  test("the full loop: WARC in → warcToDocuments → WET out → WARC in again") {
    val dir = SparkSpec.tempDir("graft_loop")
    Files.write(dir.resolve("seg.warc"),
      record("response", "http://en.site/x",
        ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n" +
          "<html><p>the loop page body</p></html>").getBytes(US_ASCII), "x"))
    val (clean, _) = graft.operators.HtmlOps.warcToDocuments(
      WarcSource.read(spark, dir.toString))
    val wetDir = dir.resolve("wet").toString
    graft.sources.WarcSink.writeWet(clean, wetDir)
    val again = WarcSource.read(spark, wetDir).collect()
    assert(again.length == 1)
    assert(again.head.getAs[String]("warc_type") == "conversion")
    assert(new String(again.head.getAs[Array[Byte]]("payload"), "UTF-8") ==
      "the loop page body")
    assert(again.head.getAs[String]("target_uri") == "http://en.site/x")
  }

  test("httpResponses splits status and body; malformed tail drops cleanly") {
    val dir = SparkSpec.tempDir("graft_warc2")
    // valid records followed by a record whose declared length overruns
    // the buffer (truncated upload) — prior records must survive
    val truncated = record("response", "http://x/y", httpPayload, "trunc")
      .dropRight(40)
    Files.write(dir.resolve("seg.warc"), warcBytes ++ truncated)

    val recs = WarcSource.read(spark, dir.toString)
    assert(recs.count() == 3, "valid prefix kept, malformed tail dropped")
    val http = WarcSource.httpResponses(recs).collect()
    assert(http.length == 1)
    assert(http.head.getAs[Int]("http_status") == 200)
    assert(http.head.getAs[String]("body") == "<html>hello corpus</html>")
    assert(http.head.getAs[String]("target_uri") == "http://example.com/a")
  }

  test("httpResponses: an invalid-UTF-8 body yields NULL, never a job crash") {
    val dir = SparkSpec.tempDir("graft_warc_utf8")
    // 0xC3 0x28 is an invalid UTF-8 sequence — Spark 4's strict decode
    // would throw MALFORMED_CHARACTER_CODING and kill the job; the
    // is_valid_utf8 gate must route it to a null body instead
    val badBody = Array[Byte](0xc3.toByte, 0x28, 'x', 'y')
    val bad = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n")
      .getBytes(US_ASCII) ++ badBody
    Files.write(dir.resolve("seg.warc"),
      record("response", "http://example.com/good", httpPayload, "g") ++
        record("response", "http://example.com/bad", bad, "b"))
    val http = WarcSource.httpResponses(WarcSource.read(spark, dir.toString))
      .collect().map(r => r.getAs[String]("target_uri") ->
        Option(r.getAs[String]("body"))).toMap
    assert(http("http://example.com/good").contains("<html>hello corpus</html>"))
    assert(http("http://example.com/bad").isEmpty,
      "invalid bytes must become a null body, not a decode error")
  }
}
