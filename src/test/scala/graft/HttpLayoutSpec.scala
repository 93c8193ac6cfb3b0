package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.Paths

import org.apache.spark.sql.functions.col

import graft.operators.{CrawlOps, MediaOps, Mp4Ops}
import graft.plans.HttpCodec
import graft.sources.WarcSource

/** The HTTP/1.x message layout, read in one place ([[HttpCodec]]): the
  * Column split and its byte twin agree with the leftmost
  * `\r?\n\r?\n` rule on every payload, header fields are read from the
  * header block only, and no other file in `src/main` keeps a private
  * copy of the rule or of a field read. */
class HttpLayoutSpec extends SparkSpec {

  private def l1(b: Array[Byte]): String = new String(b, ISO_8859_1)
  private def bytes(s: String): Array[Byte] = s.getBytes(ISO_8859_1)

  private def warcRecord(uri: String, payload: Array[Byte]): Array[Byte] = {
    val hdr = bytes("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Date: 2026-08-14T00:00:00Z\r\n" +
      s"WARC-Target-URI: $uri\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n")
    hdr ++ payload ++ bytes("\r\n\r\n")
  }

  private def records(payloads: (String, Array[Byte])*) = {
    val dir = SparkSpec.tempDir("graft_http_layout")
    java.nio.file.Files.write(dir.resolve("seg.warc"),
      payloads.map { case (u, p) => warcRecord(u, p) }.reduce(_ ++ _))
    WarcSource.read(spark, dir.toString)
  }

  test("Column split, byte twin and the leftmost \\r?\\n\\r?\\n regex agree on every payload") {
    val rnd = new scala.util.Random(20261019L)
    // weighted toward the bytes the rule reads, plus high bytes
    val alphabet = Array[Byte]('\r', '\r', '\r', '\n', '\n', '\n', '\n',
      ':', ':', 'a', 'Z', ' ', 0x85.toByte, 0xff.toByte, 0xc3.toByte, 0)
    val random = Seq.fill(1200) {
      Array.fill(rnd.nextInt(24))(alphabet(rnd.nextInt(alphabet.length)))
    }
    val fixed = Seq("HTTP/1.1 200 OK\n\nB", "HTTP/1.1 200 OK\r\n\r\nB",
      "HTTP/1.1 200 OK\n\r\nBODY", "HTTP/1.1 200 OK\r\n\nB", "\r\n\r\nB",
      "\n\nB", "HTTP/1.1 200 OK\r\nA: b", "", "x\r\r\n\nB", "x\n\r\r\nB",
      "x\r\n\r\r\n\nB", "H\r\n\r\n\r\n\r\nB").map(bytes)
    val payloads = fixed ++ random
    val reference = "(?s)^(.*?)\\r?\\n\\r?\\n".r
    import spark.implicits._
    val got = payloads.zipWithIndex.toDF("payload", "i")
      .select(col("i"), HttpCodec.header(col("payload")),
        HttpCodec.body(col("payload")))
      .collect().map(r => r.getInt(0) -> (r.getString(1), r.getAs[Array[Byte]](2)))
      .toMap
    payloads.zipWithIndex.foreach { case (p, i) =>
      val text = l1(p)
      val (refHeader, refBody) = reference.findPrefixMatchOf(text) match {
        case Some(m) => (m.group(1), text.substring(m.end))
        case None => (text, "")
      }
      val (start, end) = HttpCodec.blankLine(p)
      val twinHeader = if (start < 0) text else text.substring(0, start)
      val twinBody = l1(HttpCodec.body(p))
      val (colHeader, colBody) = got(i)
      val shown = text.flatMap {
        case '\r' => "\\r"; case '\n' => "\\n"; case c => c.toString
      }
      assert(colHeader == refHeader && twinHeader == refHeader, shown)
      assert(l1(colBody) == refBody && twinBody == refBody, shown)
      assert((start < 0) == (end < 0), shown)
    }
  }

  test("header fields: first and every value, declared MIME and charset, status") {
    import spark.implicits._
    val payload = bytes("HTTP/1.1 301 Moved\r\n" +
      "Content-Type:\ttext/HTML; Charset=\"ISO-8859-1\"\r\n" +
      "X-Robots-Tag: noindex\r\nx-robots-tag: nofollow\r\n" +
      "Location: /next\r\n\r\n" +
      "Content-Type: video/mp4\r\nLocation: /body")
    val hdr = HttpCodec.header(col("payload"))
    val r = Seq(Tuple1(payload)).toDF("payload").select(
      HttpCodec.status(hdr), HttpCodec.declaredMime(hdr),
      HttpCodec.declaredCharset(hdr), HttpCodec.field(hdr, "location"),
      HttpCodec.fields(hdr, "x-robots-tag"), HttpCodec.field(hdr, "etag"))
      .head()
    assert(r.getInt(0) == 301)
    assert(r.getString(1) == "text/html" && r.getString(2) == "iso-8859-1")
    assert(r.getString(3) == "/next")
    assert(r.getSeq[String](4) == Seq("noindex", "nofollow"))
    assert(r.getString(5) == "")
  }

  test("a Content-Type line in the body is not a declaration") {
    val body = "note\r\nContent-Type: video/mp4\r\nplain text"
    val recs = records("http://h.example/a.txt" ->
      bytes(s"HTTP/1.1 200 OK\r\nServer: x\r\n\r\n$body"))
    val sniffed = CrawlOps.sniffedTypesOf(recs).head()
    assert(sniffed.isNullAt(sniffed.fieldIndex("declared_mime")))
    val inventory = MediaOps.mediaInventoryOf(recs).head()
    assert(inventory.isNullAt(inventory.fieldIndex("declared_mime")))
    val (clean, quarantine) = Mp4Ops.mp4MetaOfRecords(recs)
    assert(clean.count() == 0 && quarantine.count() == 0)
  }

  test("a body after a \\n\\r\\n blank line is walked by the media inventory") {
    val recs = records("http://m.example/clip.mp4" ->
      (bytes("HTTP/1.1 200 OK\nContent-Type: video/mp4\n\r\n") ++
        Mp4Ops.mp4Synth(1L)))
    val clip = MediaOps.mediaInventoryOf(recs).head()
    assert(clip.getAs[String]("sniffed_mime") == "video/mp4")
    assert(clip.getAs[String]("media_format") != null)
    assert(clip.getAs[Int]("width") == 20 && clip.getAs[Int]("height") == 20)
    val (clean, _) = Mp4Ops.mp4MetaOfRecords(recs)
    assert(clean.count() == 1)
  }

  test("the message layout is read in src/main only by HttpCodec, and <base href> once") {
    val codec = Paths.get("src/main/scala/graft/plans/HttpExpressions.scala")
    val sources = SourceScan.files("src/main")
    assert(sources.size > 50, s"scan found only ${sources.size} files")
    val elsewhere = sources.filterNot(_.endsWith(codec))
    val rules = Seq(
      // the blank-line split regex, as written in a Scala string
      """\\\\r\?\\\\n\\\\r\?\\\\n""",
      // a blank line located with instr
      """instr\(.*"(\\r)?\\n""",
      "\\(\\?im\\)\\^content-type:",
      """\^HTTP/\[0-9\.\]""",
      """def httpBody""")
    assert(SourceScan.sites(Seq(codec), rules(0)).nonEmpty)
    assert(SourceScan.sites(Seq(codec), rules(3)).nonEmpty)
    rules.foreach { rule =>
      val sites = SourceScan.sites(elsewhere, rule)
      assert(sites.isEmpty, s"$rule:\n" + sites.mkString("\n"))
    }
    val base = SourceScan.sites(sources, """<base\[\^>\]\*href""")
    assert(base.size == 1, base.mkString("\n"))
  }
}
