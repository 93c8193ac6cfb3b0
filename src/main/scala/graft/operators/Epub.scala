package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.Bytes.{le16, le32, u16le, u32le}

/** EPUB text extraction (round 20, SURVEY §2 row 182) — the round-17
  * PDF adjudication's precedent applied to the OTHER high-quality token
  * source the sniff names but nothing consumed: an EPUB is book-grade
  * text behind a zip (`application/epub+zip`, the OCF mimetype rule the
  * round-19 sniff already dispatches on), and a format a crawl can
  * harvest deserves an extractor, not a permanent mime label.
  *
  * SCOPE (the quarantine discipline — decode what a pure-JVM walk can
  * decode EXACTLY, quarantine the rest with a reason):
  *  - the OCF container: END-of-central-directory → central directory →
  *    per-entry local headers; STORED (0) and DEFLATE (8) entries (raw
  *    `Inflater(nowrap)`, output BOMB-GUARDED by the
  *    [[PdfOps.inflateCap]] discipline — overflow quarantines as
  *    `bomb`); any other compression method quarantines as `method`.
  *  - the OCF rule: the `mimetype` entry must read
  *    `application/epub+zip` (else `not_epub`); `META-INF/container.xml`
  *    names the OPF (else `no_opf`); the OPF's SPINE (not manifest
  *    order) orders the chapters, hrefs resolving relative to the OPF's
  *    own directory.
  *  - chapter XHTML runs the SAME native extraction chain as the HTML
  *    route ([[graft.plans.HtmlExtract]] — strip, entity-decode,
  *    whitespace-collapse, space-trim), chapters joined with `\n`.
  *
  * Scale shape: the codec convention — one mapPartitions walk per
  * payload, the payload dies inside the task, zero shuffles; extraction
  * fuses into the ingest pass beside the PDF walk. */
object EpubOps {

  private val UTF8 = java.nio.charset.StandardCharsets.UTF_8

  private def sig(b: Array[Byte], o: Int, c: Int, d: Int): Boolean =
    o + 4 <= b.length && b(o) == 'P' && b(o + 1) == 'K' &&
      b(o + 2) == c && b(o + 3) == d

  /** Raw-deflate decode (zip method 8 carries NO zlib wrapper), output
    * bomb-guarded by the [[PdfOps.inflateCap]] discipline. */
  private def inflateRaw(b: Array[Byte], off: Int,
                         len: Int): Either[String, Array[Byte]] = {
    val cap = PdfOps.inflateCap(len)
    val inf = new java.util.zip.Inflater(true)
    try {
      inf.setInput(b, off, len)
      val out = new java.io.ByteArrayOutputStream(
        math.max(64, math.min(len * 4, 1 << 20)))
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0) {
          if (inf.needsInput() || inf.needsDictionary())
            return Left("corrupt_zip")
        } else {
          if (out.size + n > cap) return Left("bomb")
          out.write(buf, 0, n)
        }
      }
      Right(out.toByteArray)
    } catch {
      case _: java.util.zip.DataFormatException => Left("corrupt_zip")
    } finally inf.end()
  }

  private final case class ZipEntry(method: Int, localOff: Long, csize: Long)

  /** Central-directory read of one archive: name → entry. The EOCD is
    * scanned backwards over the spec's maximum tail (22-byte record +
    * 64 KiB comment); entry count capped so a hostile directory cannot
    * turn the walk into a scan. */
  private def centralDirectory(
      b: Array[Byte]): Either[String, Map[String, ZipEntry]] = {
    val from = math.max(0, b.length - 22 - 65536)
    var eocd = -1
    var i = b.length - 22
    while (i >= from && eocd < 0) {
      if (sig(b, i, 5, 6)) eocd = i
      i -= 1
    }
    if (eocd < 0) return Left("corrupt_zip")
    val n = math.min(u16le(b, eocd + 10), 10000)
    val cdOff = u32le(b, eocd + 16)
    if (cdOff < 0 || cdOff >= b.length) return Left("corrupt_zip")
    var p = cdOff.toInt
    var k = 0
    val m = Map.newBuilder[String, ZipEntry]
    while (k < n) {
      if (!sig(b, p, 1, 2) || p + 46 > b.length) return Left("corrupt_zip")
      val method = u16le(b, p + 10)
      val csize = u32le(b, p + 20)
      val nameLen = u16le(b, p + 28)
      val extraLen = u16le(b, p + 30)
      val commentLen = u16le(b, p + 32)
      val localOff = u32le(b, p + 42)
      if (p + 46 + nameLen > b.length) return Left("corrupt_zip")
      m += new String(b, p + 46, nameLen, UTF8) ->
        ZipEntry(method, localOff, csize)
      p += 46 + nameLen + extraLen + commentLen
      k += 1
    }
    Right(m.result())
  }

  /** One entry's decompressed bytes, via its local header (the
    * central directory's csize is authoritative — a streamed writer's
    * local header may defer sizes to a data descriptor). */
  private def readEntry(b: Array[Byte],
                        e: ZipEntry): Either[String, Array[Byte]] = {
    // bounds-check on the LONG before narrowing: a hostile u32 offset in
    // [2^31, 2^32) would wrap negative as an Int and index the array
    // backwards — quarantine, never throw out of the walk
    if (e.localOff < 0 || e.localOff + 30 > b.length) return Left("corrupt_zip")
    val off = e.localOff.toInt
    if (!sig(b, off, 3, 4)) return Left("corrupt_zip")
    val nameLen = u16le(b, off + 26)
    val extraLen = u16le(b, off + 28)
    val data = off + 30 + nameLen + extraLen
    if (e.csize < 0 || data + e.csize > b.length) return Left("corrupt_zip")
    e.method match {
      case 0 =>
        if (e.csize > graft.plans.HttpCodec.MaxInflate) Left("bomb")
        else Right(java.util.Arrays.copyOfRange(b, data, data + e.csize.toInt))
      case 8 => inflateRaw(b, data, e.csize.toInt)
      case _ => Left("method")
    }
  }

  private def attr(tag: String, name: String): Option[String] =
    ("(?i)\\b" + name + "\\s*=\\s*[\"']([^\"']*)[\"']").r
      .findFirstMatchIn(tag).map(_.group(1))

  /** Resolve `href` against the OPF's directory — leading `/` is
    * container-root-absolute per OCF; `.`/`..` segments normalize. */
  private[graft] def resolveHref(opfPath: String, href: String): String = {
    val base =
      if (href.startsWith("/")) Nil
      else {
        val cut = opfPath.lastIndexOf('/')
        if (cut < 0) Nil else opfPath.substring(0, cut).split('/').toList
      }
    val segs = href.dropWhile(_ == '/').split('/').toList
    val out = segs.foldLeft(base.reverse) {
      case (acc, "." | "") => acc
      case (acc, "..") => if (acc.isEmpty) acc else acc.tail
      case (acc, s) => s :: acc
    }
    out.reverse.mkString("/")
  }

  /** The whole walk: Right((text, n_chapters)) or Left(reason) —
    * `not_zip` / `not_epub` / `no_opf` / `corrupt_zip` / `bomb` /
    * `method`. Chapters follow the SPINE order; a spine item whose
    * file is missing from the archive OR whose idref has no manifest
    * item quarantines (`no_opf` would lie; a torn book must not
    * silently shrink) as `corrupt_zip`; a >10000-itemref spine
    * quarantines as `bomb` (the entry-count cap discipline — never a
    * silent truncation). */
  private[graft] def epubTextWalk(
      bytes: Array[Byte]): Either[String, (String, Int)] = {
    if (bytes == null || !sig(bytes, 0, 3, 4)) return Left("not_zip")
    centralDirectory(bytes).flatMap { dir =>
      dir.get("mimetype") match {
        case None => Left("not_epub")
        case Some(e) => readEntry(bytes, e).flatMap { mt =>
          if (!new String(mt, UTF8).trim.equals("application/epub+zip"))
            Left("not_epub")
          else dir.get("META-INF/container.xml") match {
            case None => Left("no_opf")
            case Some(c) => readEntry(bytes, c).flatMap { cx =>
              val container = new String(cx, UTF8)
              val opfPath = "(?is)<rootfile\\b[^>]*>".r
                .findFirstIn(container).flatMap(attr(_, "full-path"))
              opfPath match {
                case None => Left("no_opf")
                case Some(op) => dir.get(op) match {
                  case None => Left("no_opf")
                  case Some(oe) => readEntry(bytes, oe).flatMap { ob =>
                    val opf = new String(ob, UTF8)
                    val items = "(?is)<item\\b[^>]*>".r.findAllIn(opf)
                      .flatMap(t => for {
                        id <- attr(t, "id"); href <- attr(t, "href")
                      } yield id -> href).toMap
                    val spine = "(?is)<itemref\\b[^>]*>".r.findAllIn(opf)
                      .flatMap(attr(_, "idref")).toList
                    // the torn-book contract cuts BOTH ways: a spine
                    // idref with no manifest item must quarantine, not
                    // silently drop its chapter — and a >10k-itemref
                    // spine is hostile-shaped (the entry-count cap
                    // discipline), not a book to truncate quietly
                    if (spine.length > 10000) Left("bomb")
                    else if (spine.exists(id => !items.contains(id)))
                      Left("corrupt_zip")
                    else {
                      val paths = spine.flatMap(items.get)
                        .map(resolveHref(op, _))
                      // fold chapters left-to-right; the FIRST failure
                      // quarantines the doc (keep-nothing beats emitting
                      // a silently truncated book)
                      val texts = paths.foldLeft(
                        Right(Vector.empty[String]):
                          Either[String, Vector[String]]) {
                        case (Left(r), _) => Left(r)
                        case (Right(acc), path) => dir.get(path) match {
                          case None => Left("corrupt_zip")
                          case Some(ce) => readEntry(bytes, ce).map(cb =>
                            acc :+ graft.plans.HtmlExtract.extract(
                              new String(cb, UTF8)))
                        }
                      }
                      texts.map(ts => (ts.mkString("\n"), ts.length))
                    }
                  }
                }
              }
            }
          }
        }
      }
    }
  }

  private val cleanSchema = StructType(Seq(
    StructField("url", StringType),
    StructField("text", StringType),
    StructField("n_chars", LongType),
    StructField("n_chapters", IntegerType)))

  /** (clean, quarantine) frames over (url, payload) — the
    * [[PdfOps.pdfTextOf]] shape. */
  def epubTextOf(payloads: DataFrame): (DataFrame, DataFrame) = {
    val spark = payloads.sparkSession
    val walked = payloads
      .select(col("url").cast("string"), col("payload"))
      .rdd.mapPartitions { it =>
        it.map { r =>
          val url = r.getString(0)
          epubTextWalk(r.getAs[Array[Byte]](1)) match {
            case Right((t, nc)) => Row(url, t, t.length.toLong, nc, null)
            case Left(reason)   => Row(url, null, null, null, reason)
          }
        }
      }
    val both = spark.createDataFrame(walked, StructType(
      cleanSchema.fields :+ StructField("reason", StringType)))
    (both.filter(col("reason").isNull)
      .select(col("url"), col("text"), col("n_chars"), col("n_chapters")),
      both.filter(col("reason").isNotNull).select(col("url"), col("reason")))
  }

  /** The EPUB estate lifted into [[HtmlOps.warcToDocuments]]'s CLEAN
    * document schema — the [[PdfOps.pdfDocumentsOf]] convention exactly:
    * same doc identity (xxhash64 of the canonical fetch URL), same
    * header evidence, `canonical_url` NULL by construction (an EPUB
    * carries no HTML meta). Routing is by DECLARATION OR CONTENT: an
    * EPUB behind a lying octet-stream header still sniffs through the
    * OCF mimetype rule at its fixed offsets; the walk re-validates the
    * whole container, so a sniff false positive is impossible. */
  def epubDocumentsOf(records: DataFrame): (DataFrame, DataFrame) =
    PdfOps.binaryDocumentsOf(records, "application/epub+zip", 64,
      b => epubTextWalk(b))

  // ---------- oracle instantiation (q_epub_text) ----------

  /** Minimal deterministic zip writer for the synth — STORED or DEFLATE
    * per entry, zeroed DOS timestamps (determinism), real CRC32s (the
    * reader contract other tools hold the file to). */
  private[graft] def buildZip(
      entries: Seq[(String, Array[Byte], Boolean)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val cd = new java.io.ByteArrayOutputStream()
    entries.foreach { case (name, data, defl) =>
      val crc = new java.util.zip.CRC32()
      crc.update(data)
      val comp = if (defl) {
        val d = new java.util.zip.Deflater(
          java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
        d.setInput(data); d.finish()
        val buf = new Array[Byte](data.length + (data.length >> 1) + 64)
        var n = 0
        while (!d.finished()) n += d.deflate(buf, n, buf.length - n)
        d.end()
        java.util.Arrays.copyOf(buf, n)
      } else data
      val nameB = name.getBytes(UTF8)
      val off = out.size
      val method = le16(if (defl) 8 else 0)
      val sizes = le32(crc.getValue) ++ le32(comp.length) ++ le32(data.length)
      out.write(Array[Byte]('P', 'K', 3, 4) ++ le16(20) ++ le16(0) ++
        method ++ le16(0) ++ le16(0) ++ sizes ++ le16(nameB.length) ++
        le16(0) ++ nameB ++ comp)
      cd.write(Array[Byte]('P', 'K', 1, 2) ++ le16(20) ++ le16(20) ++
        le16(0) ++ method ++ le16(0) ++ le16(0) ++ sizes ++
        le16(nameB.length) ++ le16(0) ++ le16(0) ++ le16(0) ++ le16(0) ++
        le32(0) ++ le32(off) ++ nameB)
    }
    val cdBytes = cd.toByteArray
    val cdOff = out.size
    out.write(cdBytes)
    out.write(Array[Byte]('P', 'K', 5, 6) ++ le16(0) ++ le16(0) ++
      le16(entries.size) ++ le16(entries.size) ++ le32(cdBytes.length) ++
      le32(cdOff) ++ le16(0))
    out.toByteArray
  }

  private def escXml(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Deterministic synthetic EPUB carrying the doc's text: chapter 1 is
    * the WHOLE text (XML-escaped, so entity decode round-trips it
    * exactly modulo the extraction chain's whitespace collapse),
    * chapter 2 a fixed `end of doc N` trailer (the spine-order /
    * chapter-count truth). Variant by doc_id % 2: even = STORED entries
    * with the OPF in `OEBPS/` and chapters another directory down
    * (relative-href resolution grades), odd = DEFLATE entries with the
    * OPF at the container root. The manifest deliberately declares the
    * chapters in REVERSED order — the walk must follow the SPINE. */
  private[graft] def epubSynth(text: String, docId: Long): Array[Byte] = {
    val deflated = docId % 2 == 1
    val (opfPath, hrefDir) =
      if (deflated) ("content.opf", "") else ("OEBPS/content.opf", "text/")
    val fileDir = if (deflated) "" else "OEBPS/text/"
    val ch1 = ("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
      "<html xmlns=\"http://www.w3.org/1999/xhtml\"><body><p>" +
      escXml(text) + "</p></body></html>").getBytes(UTF8)
    val ch2 = ("<html><body><p>end of doc " + docId +
      "</p></body></html>").getBytes(UTF8)
    val container = ("<?xml version=\"1.0\"?>\n" +
      "<container version=\"1.0\" " +
      "xmlns=\"urn:oasis:names:tc:opendocument:xmlns:container\">" +
      "<rootfiles><rootfile full-path=\"" + opfPath + "\" " +
      "media-type=\"application/oebps-package+xml\"/></rootfiles>" +
      "</container>").getBytes(UTF8)
    val opf = ("<?xml version=\"1.0\"?>\n" +
      "<package xmlns=\"http://www.idpf.org/2007/opf\" version=\"3.0\">" +
      "<manifest>" +
      "<item id=\"c2\" href=\"" + hrefDir + "ch2.xhtml\" " +
      "media-type=\"application/xhtml+xml\"/>" +
      "<item id=\"c1\" href=\"" + hrefDir + "ch1.xhtml\" " +
      "media-type=\"application/xhtml+xml\"/>" +
      "</manifest>" +
      "<spine><itemref idref=\"c1\"/><itemref idref=\"c2\"/></spine>" +
      "</package>").getBytes(UTF8)
    buildZip(Seq(
      // the OCF rule: mimetype FIRST and STORED (the sniff's anchor)
      ("mimetype", "application/epub+zip".getBytes(UTF8), false),
      ("META-INF/container.xml", container, deflated),
      (opfPath, opf, deflated),
      (fileDir + "ch1.xhtml", ch1, deflated),
      (fileDir + "ch2.xhtml", ch2, deflated)))
  }

  /** §2 `q_epub_text`: EPUB extraction under the ORACLE — the
    * planted-truth pattern ([[PdfOps.pdfText]]): each doc's text rides
    * a deterministic synthetic EPUB ([[epubSynth]], stored + deflated
    * containers, nested + root OPF layouts, reversed manifest); Spark
    * must reproduce the text through the REAL container walk
    * (EOCD → central directory → OCF rule → container.xml → OPF spine →
    * XHTML extraction) while DuckDB states the construction truth —
    * the extraction chain's whitespace collapse + space trim over the
    * planted text, the fixed trailer chapter, chapter count 2. Any
    * drift in the zip arithmetic, inflate, href resolution, spine
    * order, escaping, or the extract chain breaks the hash. */
  def epubText(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("payload", BinaryType)))
    val payloads = spark.createDataFrame(
      documents.select(col("doc_id").cast("long"), col("text")).rdd.map { r =>
        val id = r.getLong(0)
        Row(id, epubSynth(r.getString(1), id))
      }, schema)
    val (clean, _) = epubTextOf(payloads.select(
      col("doc_id").cast("string").as("url"), col("payload")))
    clean
      .select(col("url").cast("long").as("doc_id"),
        col("text").as("text_extracted"),
        col("n_chapters").cast("long").as("n_chapters"))
      .orderBy("doc_id")
  }

  val oracles: Map[String, String] = Map(
    // chapter 1 = trim(ws-collapse(text)) — the extraction chain's only
    // net effect on the escaped plant; the char class is EXACTLY Java's
    // \s (RE2's \s lacks \x0B, so the class is spelled out)
    "q_epub_text" ->
      """SELECT doc_id,
        |  trim(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g'))
        |    || chr(10) || 'end of doc ' || doc_id AS text_extracted,
        |  2 AS n_chapters
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
