package graft

import java.nio.charset.StandardCharsets.ISO_8859_1

import graft.plans.MagicMime

/** Magic-byte MIME sniffing (SURVEY §2 row 166): the first-match walk,
  * and the declared-vs-sniffed WARC audit face. */
class MagicMimeSpec extends SparkSpec {

  test("sniff: every magic in the table, precedence, and the text fallback") {
    def b(s: String): Array[Byte] = s.getBytes(ISO_8859_1)
    assert(MagicMime.sniff(b("%PDF-1.4 junk")) == "application/pdf")
    assert(MagicMime.sniff(Array[Byte](0x89.toByte, 'P', 'N', 'G',
      0x0d, 0x0a, 0x1a, 0x0a, 1, 2)) == "image/png")
    assert(MagicMime.sniff(b("GIF89a....")) == "image/gif")
    assert(MagicMime.sniff(Array[Byte](0xff.toByte, 0xd8.toByte,
      0xff.toByte, 0xe0.toByte)) == "image/jpeg")
    assert(MagicMime.sniff(b("RIFF\u0001\u0002\u0003\u0004WAVEfmt ")) == "audio/wav")
    assert(MagicMime.sniff(b("RIFF\u0001\u0002\u0003\u0004AVI LIST")) == "video/avi")
    assert(MagicMime.sniff(Array[Byte](0x1f, 0x8b.toByte, 8)) == "application/gzip")
    assert(MagicMime.sniff(b("PK\u0003\u0004zip")) == "application/zip")
    assert(MagicMime.sniff(b("qoifxxxx")) == "image/qoi")
    assert(MagicMime.sniff(b("  \n<!DOCTYPE html><html>")) == "text/html")
    assert(MagicMime.sniff(b("<HtMl lang=en>")) == "text/html")
    assert(MagicMime.sniff(b("BM....dib")) == "image/bmp")
    assert(MagicMime.sniff(b("plain words, nothing else")) == "text/plain")
    assert(MagicMime.sniff(Array[Byte](0, 1, 2, 3)) == "application/octet-stream")
    assert(MagicMime.sniff(Array.empty[Byte]) == "application/octet-stream")
    // a text page merely MENTIONING html is not html
    assert(MagicMime.sniff(b("the <html> tag explained")) == "text/plain")
  }

  test("sniff: the common web media magics (round 18)") {
    def b(s: String): Array[Byte] = s.getBytes(ISO_8859_1)
    // ISO-BMFF: 4-byte box size + ftyp + major brand
    assert(MagicMime.sniff(Array[Byte](0, 0, 0, 0x18) ++ b("ftypisom....")) ==
      "video/mp4")
    assert(MagicMime.sniff(Array[Byte](0, 0, 0, 0x18) ++ b("ftypmp42....")) ==
      "video/mp4")
    assert(MagicMime.sniff(Array[Byte](0, 0, 0, 0x18) ++ b("ftypM4A ....")) ==
      "audio/mp4")
    // ftyp is SHAPE-validated (round 19): the size prefix must be a
    // plausible box size. A text page with "ftyp" at offset 4 has four
    // printable size bytes (>= 0x20202020) and must NOT sniff as mp4
    assert(MagicMime.sniff(b("the ftyp box explained in depth")) ==
      "text/plain")
    assert(MagicMime.sniff(Array[Byte](0, 0, 0, 8) ++ b("ftypisom")) ==
      "application/octet-stream", "size 8 cannot hold a brand")
    // to-EOF (0) and largesize (1) prefixes are legal box shapes
    assert(MagicMime.sniff(Array[Byte](0, 0, 0, 0) ++ b("ftypisom....")) ==
      "video/mp4")
    assert(MagicMime.sniff(Array[Byte](0, 0, 0, 1) ++ b("ftypisom....")) ==
      "video/mp4")
    assert(MagicMime.sniff(b("RIFF....WEBPVP8 ")) == "image/webp")
    assert(MagicMime.sniff(b("OggS\u0000\u0002page")) == "application/ogg")
    assert(MagicMime.sniff(b("wOFF\u0000\u0001\u0000\u0000font")) == "font/woff")
    assert(MagicMime.sniff(b("wOF2\u0000\u0001\u0000\u0000font")) == "font/woff2")
    // a real ID3v2.3.0 header: version 03 00, flags 00, sync-safe size
    assert(MagicMime.sniff(b("ID3") ++
      Array[Byte](3, 0, 0, 0x01, 0x7f, 0x12, 0x34) ++ b("framedata")) ==
      "audio/mpeg")
    // a TEXT page starting "ID3 ..." must NOT sniff as mp3 — the
    // version byte 0x20 (' ') fails the shape check
    assert(MagicMime.sniff(b("ID3 tags explained in depth here")) ==
      "text/plain")
    // SVG (round 19): the FIRST real tag decides — xml decl / doctype /
    // comment prologs skip; an inline-svg FRAGMENT does not match
    assert(MagicMime.sniff(b("<svg xmlns=\"http://www.w3.org/2000/svg\">")) ==
      "image/svg+xml")
    assert(MagicMime.sniff(b("<?xml version=\"1.0\"?>\n<!-- hero icon -->\n" +
      "<svg viewBox=\"0 0 24 24\"/>")) == "image/svg+xml")
    assert(MagicMime.sniff(b("<!DOCTYPE html><html><body><svg/></body>")) ==
      "text/html", "html wins")
    assert(MagicMime.sniff(b("<div><svg width=\"2\"/></div>")) ==
      "text/plain", "fragment: first tag is div")
    assert(MagicMime.sniff(b("<svgfoo>not an svg</svgfoo>")) == "text/plain")
    // EPUB dispatch off the zip magic (round 19): the OCF mimetype
    // entry at its fixed offset; any other zip stays application/zip
    val zipHdr = "PK\u0003\u0004" + "\u0000" * 22 +
      "\u0008\u0000" + "\u0000\u0000" // name len 8, extra len 0 -> name at 30
    assert(MagicMime.sniff(b(zipHdr + "mimetypeapplication/epub+zip")) ==
      "application/epub+zip")
    assert(MagicMime.sniff(b(zipHdr + "word/doc.xmlPK")) == "application/zip")
    // gzip now requires the deflate CM byte: 1F 8B 08 yes, 1F 8B 99 no
    assert(MagicMime.sniff(Array[Byte](0x1f, 0x8b.toByte, 8, 0)) ==
      "application/gzip")
    assert(MagicMime.sniff(Array[Byte](0x1f, 0x8b.toByte, 0x99.toByte, 0)) ==
      "application/octet-stream")
    // RIFF with an unknown fourcc stays octet-stream (no false WEBP)
    assert(MagicMime.sniff(b("RIFF....ACONanih")) == "text/plain" ||
      MagicMime.sniff(b("RIFF....ACONanih")) == "application/octet-stream")
  }

  test("sniff round 20: zip edge magics, FLAC, TIFF") {
    def b(s: String): Array[Byte] =
      s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    // the EPUB narrowing to PK\x03\x04 must not drop the other zip
    // opening records: an EMPTY archive is just the end-of-central-
    // directory record, a spanned archive opens with PK\x07\x08
    assert(MagicMime.sniff(Array[Byte]('P', 'K', 5, 6) ++ new Array[Byte](18)) ==
      "application/zip")
    assert(MagicMime.sniff(Array[Byte]('P', 'K', 7, 8) ++ b("split")) ==
      "application/zip")
    // a text page that merely starts "PK" stays text
    assert(MagicMime.sniff(b("PK is a common abbreviation")) == "text/plain")
    assert(MagicMime.sniff(b("fLaC") ++ new Array[Byte](38)) == "audio/flac")
    assert(MagicMime.sniff(Array[Byte]('I', 'I', 0x2a, 0) ++ b("....")) ==
      "image/tiff")
    assert(MagicMime.sniff(Array[Byte]('M', 'M', 0, 0x2a) ++ b("....")) ==
      "image/tiff")
    // the NUL in the magic keeps text out: "II* " is not a TIFF
    assert(MagicMime.sniff(b("II* and MM* are TIFF magics")) == "text/plain")
    assert(MagicMime.sniff(b("fLaCxophone")) == "audio/flac") // magic wins: 4 bytes exact
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
