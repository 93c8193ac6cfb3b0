package graft

import java.nio.charset.StandardCharsets.ISO_8859_1

import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.{call_function, col, element_at, typedLit}

import graft.plans.MagicMime

/** Magic-byte MIME sniffing (SURVEY §2 row 166): the first-match walk,
  * its SQL face `magic_mime`, and the declared-vs-sniffed WARC audit
  * face. */
class MagicMimeSpec extends SparkSpec {
  import MagicMimeSpec._

  private def sniffs(fixtures: Seq[(Array[Byte], String)]): Unit =
    fixtures.foreach { case (bytes, mime) =>
      assert(MagicMime.sniff(bytes) == mime, bytes.map(_.toChar).mkString)
    }

  test("sniff: every magic in the table, precedence, and the text fallback") {
    sniffs(Table)
  }

  test("sniff: the common web media magics (round 18)") {
    sniffs(Media)
    // RIFF with an unknown fourcc stays octet-stream (no false WEBP)
    assert(MagicMime.sniff(b("RIFF....ACONanih")) == "text/plain" ||
      MagicMime.sniff(b("RIFF....ACONanih")) == "application/octet-stream")
  }

  test("sniff round 20: zip edge magics, FLAC, TIFF") {
    sniffs(Round20)
  }

  test("magic_mime by its SQL name equals MagicMime.sniff, codegen on and off") {
    val fixtures = Table ++ Media ++ Round20
    val inputs: Seq[Array[Byte]] = null +: Array.empty[Byte] +: fixtures.map(_._1)
    val want = null +: "application/octet-stream" +: fixtures.map(_._2)
    assert(want.drop(2) == fixtures.map(f => MagicMime.sniff(f._1)))
    for (wholeStage <- Seq(true, false)) {
      val got = SparkSpec.withConf(
          "spark.sql.codegen.wholeStage" -> wholeStage.toString,
          "spark.sql.codegen.factoryMode" -> (if (wholeStage) "FALLBACK" else "NO_CODEGEN")) {
        // a range indexing an array literal: the call runs in tasks, not
        // folded while planning
        val df = spark.range(inputs.size)
          .select(call_function("magic_mime",
            element_at(typedLit(inputs), col("id").cast("int") + 1)))
        assert(df.queryExecution.executedPlan
          .exists(_.isInstanceOf[WholeStageCodegenExec]) == wholeStage)
        df.collect().map(_.getString(0)).toSeq
      }
      assert(got == want, s"wholeStage=$wholeStage")
    }
  }

  test("warcToDocuments sniff gate: binary-behind-text quarantines, exotic charsets do not") {
    val dir = SparkSpec.tempDir("graft_warc_sniffgate")
    def rec(uri: String, payload: Array[Byte]): Array[Byte] = {
      val hdr = ("WARC/1.0\r\nWARC-Type: response\r\n" +
        "WARC-Date: 2026-08-14T00:00:00Z\r\n" +
        s"WARC-Target-URI: $uri\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes(ISO_8859_1)
      hdr ++ payload ++ "\r\n\r\n".getBytes(ISO_8859_1)
    }
    val jpegAsHtml =
      ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n").getBytes(ISO_8859_1) ++
        Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte, 1, 2, 3)
    // a windows-1251 page: HIGH bytes fail a printable-ASCII test but
    // carry no known magic — the conservative gate must NOT fire
    val cyr = ("HTTP/1.1 200 OK\r\n" +
      "Content-Type: text/html; charset=windows-1251\r\n\r\n" +
      "<html><body>").getBytes(ISO_8859_1) ++
      Array[Byte](0xcf.toByte, 0xf0.toByte, 0xe8.toByte) ++
      "</body></html>".getBytes(ISO_8859_1)
    val honest = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
      "<html><body>plain honest page body</body></html>").getBytes(ISO_8859_1)
    val recs = rec("http://g.example/lie", jpegAsHtml) ++
      rec("http://g.example/cyr", cyr) ++
      rec("http://g.example/ok", honest)
    java.nio.file.Files.write(dir.resolve("seg.warc"), recs)
    val (clean, quarantine) = graft.operators.HtmlOps.warcToDocuments(
      graft.sources.WarcSource.read(spark, dir.toString))
    val q = quarantine.collect()
      .map(r => r.getAs[String]("target_uri") -> r.getAs[String]("reason")).toMap
    assert(q == Map("http://g.example/lie" -> "sniff"), q.toString)
    assert(clean.select("url").collect().map(_.getString(0)).toSet ==
      Set("http://g.example/cyr", "http://g.example/ok"))
  }

  test("sniffedTypesOf: the lying Content-Type is flagged as mojibake risk") {
    val dir = SparkSpec.tempDir("graft_warc_sniff")
    def rec(uri: String, payload: Array[Byte]): Array[Byte] = {
      val hdr = ("WARC/1.0\r\nWARC-Type: response\r\n" +
        "WARC-Date: 2026-08-14T00:00:00Z\r\n" +
        s"WARC-Target-URI: $uri\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes(ISO_8859_1)
      hdr ++ payload ++ "\r\n\r\n".getBytes(ISO_8859_1)
    }
    def http(ctype: String, body: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\n\r\n").getBytes(ISO_8859_1) ++ body
    val jpeg = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte, 9, 9)
    // the real web's most common lie: MP4 bytes behind octet-stream —
    // round 18's sniff extension lets the audit NAME the bytes
    val mp4 = Array[Byte](0, 0, 0, 0x18) ++ "ftypisom....".getBytes(ISO_8859_1)
    val recs =
      rec("http://m.example/lie", http("text/html", jpeg)) ++
      rec("http://m.example/honest.html",
        http("text/html", "<html><body>fine</body></html>".getBytes(ISO_8859_1))) ++
      rec("http://m.example/honest.pdf",
        http("application/pdf", "%PDF-1.4 x".getBytes(ISO_8859_1))) ++
      rec("http://m.example/clip", http("application/octet-stream", mp4))
    java.nio.file.Files.write(dir.resolve("seg.warc"), recs)
    val got = graft.operators.CrawlOps.sniffedTypesOf(
      graft.sources.WarcSource.read(spark, dir.toString))
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getString(2), r.getBoolean(3), r.getBoolean(4))))
      .toMap
    assert(got("http://m.example/lie") ==
      (("text/html", "image/jpeg", true, true)), got)
    assert(got("http://m.example/honest.html") ==
      (("text/html", "text/html", false, false)), got)
    assert(got("http://m.example/honest.pdf") ==
      (("application/pdf", "application/pdf", false, false)), got)
    val clip = got("http://m.example/clip")
    assert(clip._1 == "application/octet-stream" && clip._2 == "video/mp4" &&
      clip._3, clip)
  }
}

object MagicMimeSpec {
  def b(s: String): Array[Byte] = s.getBytes(ISO_8859_1)

  /** One input per magic of the table, precedence and the fallbacks. */
  val Table: Seq[(Array[Byte], String)] = Seq(
    b("%PDF-1.4 junk") -> "application/pdf",
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a, 1, 2) -> "image/png",
    b("GIF89a....") -> "image/gif",
    Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte) -> "image/jpeg",
    b("RIFF\u0001\u0002\u0003\u0004WAVEfmt ") -> "audio/wav",
    b("RIFF\u0001\u0002\u0003\u0004AVI LIST") -> "video/avi",
    Array[Byte](0x1f, 0x8b.toByte, 8) -> "application/gzip",
    b("PK\u0003\u0004zip") -> "application/zip",
    b("qoifxxxx") -> "image/qoi",
    b("  \n<!DOCTYPE html><html>") -> "text/html",
    b("<HtMl lang=en>") -> "text/html",
    b("BM....dib") -> "image/bmp",
    b("plain words, nothing else") -> "text/plain",
    Array[Byte](0, 1, 2, 3) -> "application/octet-stream",
    Array.empty[Byte] -> "application/octet-stream",
    // a text page merely MENTIONING html is not html
    b("the <html> tag explained") -> "text/plain")

  private val zipHdr = "PK\u0003\u0004" + "\u0000" * 22 +
    "\u0008\u0000" + "\u0000\u0000" // name len 8, extra len 0 -> name at 30

  /** The common web media magics (round 18) and their shape checks. */
  val Media: Seq[(Array[Byte], String)] = Seq(
    // ISO-BMFF: 4-byte box size + ftyp + major brand
    (Array[Byte](0, 0, 0, 0x18) ++ b("ftypisom....")) -> "video/mp4",
    (Array[Byte](0, 0, 0, 0x18) ++ b("ftypmp42....")) -> "video/mp4",
    (Array[Byte](0, 0, 0, 0x18) ++ b("ftypM4A ....")) -> "audio/mp4",
    // ftyp is SHAPE-validated (round 19): the size prefix must be a
    // plausible box size. A text page with "ftyp" at offset 4 has four
    // printable size bytes (>= 0x20202020) and must NOT sniff as mp4
    b("the ftyp box explained in depth") -> "text/plain",
    // size 8 cannot hold a brand
    (Array[Byte](0, 0, 0, 8) ++ b("ftypisom")) -> "application/octet-stream",
    // to-EOF (0) and largesize (1) prefixes are legal box shapes
    (Array[Byte](0, 0, 0, 0) ++ b("ftypisom....")) -> "video/mp4",
    (Array[Byte](0, 0, 0, 1) ++ b("ftypisom....")) -> "video/mp4",
    b("RIFF....WEBPVP8 ") -> "image/webp",
    b("OggS\u0000\u0002page") -> "application/ogg",
    b("wOFF\u0000\u0001\u0000\u0000font") -> "font/woff",
    b("wOF2\u0000\u0001\u0000\u0000font") -> "font/woff2",
    // a real ID3v2.3.0 header: version 03 00, flags 00, sync-safe size
    (b("ID3") ++ Array[Byte](3, 0, 0, 0x01, 0x7f, 0x12, 0x34) ++ b("framedata")) ->
      "audio/mpeg",
    // a TEXT page starting "ID3 ..." must NOT sniff as mp3 — the
    // version byte 0x20 (' ') fails the shape check
    b("ID3 tags explained in depth here") -> "text/plain",
    // SVG (round 19): the FIRST real tag decides — xml decl / doctype /
    // comment prologs skip; an inline-svg FRAGMENT does not match
    b("<svg xmlns=\"http://www.w3.org/2000/svg\">") -> "image/svg+xml",
    b("<?xml version=\"1.0\"?>\n<!-- hero icon -->\n" +
      "<svg viewBox=\"0 0 24 24\"/>") -> "image/svg+xml",
    b("<!DOCTYPE html><html><body><svg/></body>") -> "text/html", // html wins
    b("<div><svg width=\"2\"/></div>") -> "text/plain", // first tag is div
    b("<svgfoo>not an svg</svgfoo>") -> "text/plain",
    // EPUB dispatch off the zip magic (round 19): the OCF mimetype
    // entry at its fixed offset; any other zip stays application/zip
    b(zipHdr + "mimetypeapplication/epub+zip") -> "application/epub+zip",
    b(zipHdr + "word/doc.xmlPK") -> "application/zip",
    // gzip now requires the deflate CM byte: 1F 8B 08 yes, 1F 8B 99 no
    Array[Byte](0x1f, 0x8b.toByte, 8, 0) -> "application/gzip",
    Array[Byte](0x1f, 0x8b.toByte, 0x99.toByte, 0) -> "application/octet-stream")

  /** Zip edge magics, FLAC and TIFF (round 20). */
  val Round20: Seq[(Array[Byte], String)] = Seq(
    // the EPUB narrowing to PK\x03\x04 must not drop the other zip
    // opening records: an EMPTY archive is just the end-of-central-
    // directory record, a spanned archive opens with PK\x07\x08
    (Array[Byte]('P', 'K', 5, 6) ++ new Array[Byte](18)) -> "application/zip",
    (Array[Byte]('P', 'K', 7, 8) ++ b("split")) -> "application/zip",
    // a text page that merely starts "PK" stays text
    b("PK is a common abbreviation") -> "text/plain",
    (b("fLaC") ++ new Array[Byte](38)) -> "audio/flac",
    (Array[Byte]('I', 'I', 0x2a, 0) ++ b("....")) -> "image/tiff",
    (Array[Byte]('M', 'M', 0, 0x2a) ++ b("....")) -> "image/tiff",
    // the NUL in the magic keeps text out: "II* " is not a TIFF
    b("II* and MM* are TIFF magics") -> "text/plain",
    b("fLaCxophone") -> "audio/flac") // magic wins: 4 bytes exact
}
