package graft

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import graft.operators.EpubOps

/** EPUB extraction (SURVEY §2 row 176): the OCF container walk, the
  * spine contract, the quarantine ledger, and the corpus lift. */
class EpubSpec extends SparkSpec {

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

  test("epubTextWalk: both container layouts round-trip; spine beats manifest order") {
    // even = stored entries, OPF nested in OEBPS/ with chapters a
    // directory further down; odd = deflated entries, OPF at the root
    for (id <- Seq(0L, 1L)) {
      val e = EpubOps.epubSynth("Plain words, no  double  spaces?", id)
      assert(graft.plans.MagicMime.sniff(e) == "application/epub+zip")
      val got = EpubOps.epubTextWalk(e)
      // the manifest declares c2 BEFORE c1 — a manifest-order walk
      // would put the trailer first; the spine orders c1 then c2
      assert(got == Right((
        s"Plain words, no double spaces?\nend of doc $id", 2)), got)
    }
    // escaping round-trips markup-looking text exactly
    val tricky = "a < b & c > d &amp; &#65; <script>x</script>"
    val got = EpubOps.epubTextWalk(EpubOps.epubSynth(tricky, 2L))
    assert(got == Right((tricky + "\nend of doc 2", 2)), got)
  }

  test("epubTextWalk quarantines: not_zip, not_epub, no_opf, method, bomb, torn spine") {
    assert(EpubOps.epubTextWalk("plain text".getBytes(UTF_8)) ==
      Left("not_zip"))
    // a zip that is not an EPUB (no mimetype entry)
    val plainZip = EpubOps.buildZip(Seq(
      ("readme.txt", "hello".getBytes(UTF_8), false)))
    assert(EpubOps.epubTextWalk(plainZip) == Left("not_epub"))
    // wrong mimetype content
    val wrongMime = EpubOps.buildZip(Seq(
      ("mimetype", "application/zip".getBytes(UTF_8), false)))
    assert(EpubOps.epubTextWalk(wrongMime) == Left("not_epub"))
    // mimetype ok but no container.xml
    val noContainer = EpubOps.buildZip(Seq(
      ("mimetype", "application/epub+zip".getBytes(UTF_8), false)))
    assert(EpubOps.epubTextWalk(noContainer) == Left("no_opf"))
    // container names an OPF the archive does not hold
    val danglingOpf = EpubOps.buildZip(Seq(
      ("mimetype", "application/epub+zip".getBytes(UTF_8), false),
      ("META-INF/container.xml",
        ("<container><rootfiles><rootfile full-path=\"gone.opf\"/>" +
          "</rootfiles></container>").getBytes(UTF_8), false)))
    assert(EpubOps.epubTextWalk(danglingOpf) == Left("no_opf"))
    // a spine item missing from the archive: the book is torn — keep
    // nothing rather than emit a silently truncated text
    val torn = {
      val ok = EpubOps.epubSynth("text", 1L) // root OPF, deflated
      // rebuild without ch2.xhtml
      val opf = ("<package><manifest>" +
        "<item id=\"c1\" href=\"ch1.xhtml\"/>" +
        "<item id=\"c2\" href=\"ch2.xhtml\"/></manifest>" +
        "<spine><itemref idref=\"c1\"/><itemref idref=\"c2\"/></spine>" +
        "</package>").getBytes(UTF_8)
      val container = ("<container><rootfiles>" +
        "<rootfile full-path=\"content.opf\"/></rootfiles></container>")
        .getBytes(UTF_8)
      assert(EpubOps.epubTextWalk(ok).isRight)
      EpubOps.buildZip(Seq(
        ("mimetype", "application/epub+zip".getBytes(UTF_8), false),
        ("META-INF/container.xml", container, false),
        ("content.opf", opf, false),
        ("ch1.xhtml", "<p>only chapter</p>".getBytes(UTF_8), true)))
    }
    assert(EpubOps.epubTextWalk(torn) == Left("corrupt_zip"))
    // an unsupported compression method quarantines as `method`: flip
    // the central-directory + local method fields of a 1-entry zip
    val z = EpubOps.buildZip(Seq(
      ("mimetype", "application/epub+zip".getBytes(UTF_8), false)))
    val bad = z.clone()
    // local header method at offset 8; the single CD entry's method is
    // at cdOff+10 — find the CD by its signature
    bad(8) = 9
    var cd = -1
    for (i <- bad.indices.dropRight(3)
         if cd < 0 && bad(i) == 'P' && bad(i + 1) == 'K' &&
           bad(i + 2) == 1 && bad(i + 3) == 2) cd = i
    bad(cd + 10) = 9
    assert(EpubOps.epubTextWalk(bad) == Left("method"))
    // a hostile u32 local-header offset in [2^31, 2^32): Int narrowing
    // would index the array backwards — must quarantine, never throw
    val wild = z.clone()
    var cd2 = -1
    for (i <- wild.indices.dropRight(3)
         if cd2 < 0 && wild(i) == 'P' && wild(i + 1) == 'K' &&
           wild(i + 2) == 1 && wild(i + 3) == 2) cd2 = i
    wild(cd2 + 42) = 0; wild(cd2 + 43) = 0
    wild(cd2 + 44) = 0; wild(cd2 + 45) = 0x80.toByte // localOff = 2^31
    assert(EpubOps.epubTextWalk(wild) == Left("corrupt_zip"))
    // a spine idref with NO manifest item is the same torn book —
    // quarantine, never a silently shorter text
    val ghostRef = {
      val opf = ("<package><manifest>" +
        "<item id=\"c1\" href=\"ch1.xhtml\"/></manifest>" +
        "<spine><itemref idref=\"c1\"/><itemref idref=\"c3\"/></spine>" +
        "</package>").getBytes(UTF_8)
      val container = ("<container><rootfiles>" +
        "<rootfile full-path=\"content.opf\"/></rootfiles></container>")
        .getBytes(UTF_8)
      EpubOps.buildZip(Seq(
        ("mimetype", "application/epub+zip".getBytes(UTF_8), false),
        ("META-INF/container.xml", container, false),
        ("content.opf", opf, false),
        ("ch1.xhtml", "<p>only chapter</p>".getBytes(UTF_8), false)))
    }
    assert(EpubOps.epubTextWalk(ghostRef) == Left("corrupt_zip"))
  }

  test("resolveHref: OPF-relative, root-absolute, and parent segments") {
    assert(EpubOps.resolveHref("OEBPS/content.opf", "text/ch1.xhtml") ==
      "OEBPS/text/ch1.xhtml")
    assert(EpubOps.resolveHref("content.opf", "ch1.xhtml") == "ch1.xhtml")
    assert(EpubOps.resolveHref("OEBPS/content.opf", "../images/x.png") ==
      "images/x.png")
    assert(EpubOps.resolveHref("OEBPS/content.opf", "/root.xhtml") ==
      "root.xhtml")
    assert(EpubOps.resolveHref("OEBPS/content.opf", "./ch.xhtml") ==
      "OEBPS/ch.xhtml")
  }

  test("epubDocumentsOf: declaration OR content routing into the clean corpus schema") {
    val dir = SparkSpec.tempDir("graft_warc_epub")
    val honest = EpubOps.epubSynth("an honest book body", 0L)
    val lying = EpubOps.epubSynth("a mislabeled book body", 1L)
    val recs =
      warcRecord("http://b.example/a.epub",
        http("application/epub+zip", honest)) ++
      // the real web's shape: an EPUB behind a generic binary header —
      // the OCF mimetype rule still sniffs it in
      warcRecord("http://b.example/b.epub",
        http("application/octet-stream", lying)) ++
      // a declared EPUB whose bytes are junk: quarantines with a reason
      warcRecord("http://b.example/broken.epub",
        http("application/epub+zip", "not a zip at all".getBytes(UTF_8))) ++
      // an EPUB behind a LYING text/html header (round-20 self-review):
      // the HTML route's magic gate must quarantine it as `sniff` so the
      // corpus holds exactly ONE row for it — the extracted book, never
      // a second mojibake twin under the same doc_id
      warcRecord("http://b.example/lying.epub",
        http("text/html", EpubOps.epubSynth("gated book body", 2L))) ++
      // honest html must NOT route here
      warcRecord("http://b.example/page.html",
        http("text/html", "<html><body>page</body></html>".getBytes(UTF_8)))
    java.nio.file.Files.write(dir.resolve("seg.warc"), recs)
    val records = graft.sources.WarcSource.read(spark, dir.toString)
    val (clean, quarantine) = EpubOps.epubDocumentsOf(records)
    val rows = clean.collect().map(r => r.getAs[String]("url") -> r).toMap
    assert(rows.keySet == Set("http://b.example/a.epub",
      "http://b.example/b.epub", "http://b.example/lying.epub"), rows.keySet)
    assert(rows("http://b.example/a.epub").getAs[String]("text") ==
      "an honest book body\nend of doc 0")
    assert(rows("http://b.example/b.epub").getAs[String]("text") ==
      "a mislabeled book body\nend of doc 1")
    assert(rows("http://b.example/a.epub").getAs[String]("source") ==
      "b.example")
    val q = quarantine.collect().map(r => (r.getString(0), r.getString(1)))
    assert(q.toSeq == Seq(("http://b.example/broken.epub", "not_zip")), q.toSeq)
    // and warcToCorpus lands the EPUB rows beside the HTML route
    val corpus = graft.operators.PdfOps.warcToCorpus(records)
    val urls = corpus.select("url").collect().map(_.getString(0)).toSeq
    assert(urls.contains("http://b.example/a.epub") &&
      urls.contains("http://b.example/page.html"), urls)
    // route exclusivity: the lying EPUB appears ONCE, as extracted text
    assert(urls.count(_ == "http://b.example/lying.epub") == 1, urls)
    assert(urls.distinct.length == urls.length, "duplicate corpus rows")
    val lyingText = corpus
      .filter(org.apache.spark.sql.functions.col("url") ===
        "http://b.example/lying.epub")
      .collect().head.getAs[String]("text")
    assert(lyingText == "gated book body\nend of doc 2", lyingText)
  }

  test("q_epub_text face reproduces the oracle construction") {
    import spark.implicits._
    val docs = Seq(
      (0L, "  leading and   trailing  "),
      (1L, "tabs\tand\nnewlines collapse"),
      (2L, "ampersands & angles < > survive")).toDF("doc_id", "text")
    val got = EpubOps.epubText(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text_extracted"), r.getAs[Long]("n_chapters"))).toMap
    assert(got(0L) == (("leading and trailing\nend of doc 0", 2L)))
    assert(got(1L) == (("tabs and newlines collapse\nend of doc 1", 2L)))
    assert(got(2L) == (("ampersands & angles < > survive\nend of doc 2", 2L)))
  }
}
