package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.HttpCodec

/** Minimal PDF text extraction (round 17, SURVEY §2 row 163) — the one
  * high-volume token source the ingest media-type gate quarantined
  * wholesale (`application/pdf` at [[HtmlOps.warcToDocuments]]): a real
  * crawl's PDF estate is a large high-quality corpus slice, so the gate
  * gets a consumer instead of a permanent-policy entry.
  *
  * SCOPE (the quarantine discipline — decode what a pure-JVM walk can
  * decode EXACTLY, quarantine the rest with a reason, never emit
  * mojibake):
  *  - classic cross-reference PDFs; content streams stored IDENTITY or
  *    `FlateDecode` (zlib — `java.util.zip.Inflater`, the offline-JVM
  *    twin of the compressRatio Deflater, output BOMB-GUARDED at
  *    max(64 × input, 1 MiB) ∧ 64 MiB — the `http_inflate` discipline;
  *    overflow quarantines the doc as `bomb`). Any other `/Filter`
  *    (DCT/LZW/ASCII85/...) skips that stream; a doc with ONLY such
  *    streams quarantines as `filter`.
  *  - text = the show operators (`Tj`, `'`, `"`, `[...] TJ`) of the
  *    decoded streams, literal strings unescaped per the PDF grammar
  *    (balanced parens, `\`-escapes incl. octal and line continuation)
  *    and hex strings decoded; bytes map through latin-1 — NO font
  *    CMap/encoding resolution (simple-encoding ASCII text extracts
  *    exactly; a ToUnicode-dependent doc extracts garbled and is
  *    priced as such — the same accepted trade as the G.711 families).
  *  - `/Encrypt` in the trailer quarantines as `encrypted` (RC4/AES
  *    decryption is out of scope by policy).
  *
  * Scale shape: the codec convention — one mapPartitions walk per
  * payload, the payload dies inside the task, zero shuffles; extraction
  * fuses into the ingest pass exactly like the image/audio walks. */
object PdfOps {

  // ---------- byte walk ----------

  private def indexOf(hay: Array[Byte], needle: String, from: Int): Int = {
    val n = needle.length
    var i = math.max(from, 0)
    val limit = hay.length - n
    while (i <= limit) {
      var j = 0
      while (j < n && hay(i + j) == needle.charAt(j).toByte) j += 1
      if (j == n) return i
      i += 1
    }
    -1
  }

  private def latin1(bytes: Array[Byte], from: Int, until: Int): String =
    new String(bytes, from, until - from, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** Output cap for [[inflate]] — the [[graft.plans.HttpCodec]] bomb
    * discipline scaled to PDF content streams: a legitimate text stream
    * deflates well under 64:1, so the cap is max(64 × input, 1 MiB)
    * with the estate-wide 64 MiB hard ceiling
    * ([[graft.plans.HttpCodec.MaxInflate]]). A crafted high-ratio
    * stream (zip bomb) hits the cap and quarantines instead of
    * ballooning a task's heap. */
  private[graft] def inflateCap(inputLen: Int): Int =
    math.max(
      math.min(64L * math.max(inputLen, 1),
        graft.plans.HttpCodec.MaxInflate.toLong),
      1L << 20).toInt

  /** zlib-decode one FlateDecode stream: Right(bytes), Left("corrupt")
    * on a malformed/truncated stream (the stream is skipped, matching
    * the unsupported-filter route), Left("bomb") when output exceeds
    * [[inflateCap]] (the whole doc quarantines — a hostile payload gets
    * no further walk). */
  private[graft] def inflate(data: Array[Byte]): Either[String, Array[Byte]] = {
    val cap = inflateCap(data.length)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream(
        math.max(64, math.min(data.length * 4, 1 << 20)))
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0) {
          if (inf.needsInput() || inf.needsDictionary()) return Left("corrupt")
        } else {
          if (out.size + n > cap) return Left("bomb")
          out.write(buf, 0, n)
        }
      }
      Right(out.toByteArray)
    } catch {
      case _: java.util.zip.DataFormatException => Left("corrupt")
    } finally inf.end()
  }

  /** Show-operator text of ONE decoded content stream, plus whether any
    * show operator appeared AT ALL (the structural signal — a `() Tj`
    * empty show still marks the stream as a text stream, so stream
    * accounting does not depend on the text's length). Sequential
    * tokenizer: string literals and hex strings buffer as PENDING;
    * a show operator (`Tj`, `TJ`, `'`, `"`) emits the buffer, any other
    * alphabetic operator clears it (numbers and names between strings —
    * the `[...] TJ` kerning shape — do not). */
  private[graft] def streamText(content: Array[Byte]): (String, Boolean) = {
    var sawShow = false
    val out = new java.lang.StringBuilder
    val pending = new java.lang.StringBuilder
    var i = 0
    val n = content.length
    def c(k: Int): Char = (content(k) & 0xff).toChar
    while (i < n) {
      val ch = c(i)
      if (ch == '(') {
        // literal string: balanced parens, backslash escapes
        i += 1
        var depth = 1
        while (i < n && depth > 0) {
          val x = c(i)
          if (x == '\\' && i + 1 < n) {
            val e = c(i + 1)
            e match {
              case 'n' => pending.append('\n'); i += 2
              case 'r' => pending.append('\r'); i += 2
              case 't' => pending.append('\t'); i += 2
              case 'b' => pending.append('\b'); i += 2
              case 'f' => pending.append('\f'); i += 2
              case '(' => pending.append('('); i += 2
              case ')' => pending.append(')'); i += 2
              case '\\' => pending.append('\\'); i += 2
              case '\r' => // line continuation: swallow CR(+LF)
                i += 2; if (i < n && c(i) == '\n') i += 1
              case '\n' => i += 2
              case d if d >= '0' && d <= '7' =>
                var v = 0; var k = 0; i += 1
                while (k < 3 && i < n && c(i) >= '0' && c(i) <= '7') {
                  v = v * 8 + (c(i) - '0'); i += 1; k += 1
                }
                pending.append((v & 0xff).toChar)
              case other => pending.append(other); i += 2
            }
          } else if (x == '(') { depth += 1; pending.append('('); i += 1 }
          else if (x == ')') {
            depth -= 1
            if (depth > 0) pending.append(')')
            i += 1
          } else if (x == '\r') { // raw EOL in a literal reads as \n
            pending.append('\n'); i += 1
            if (i < n && c(i) == '\n') i += 1
          } else { pending.append(x); i += 1 }
        }
      } else if (ch == '<' && i + 1 < n && c(i + 1) != '<') {
        // hex string
        i += 1
        var hi = -1
        while (i < n && c(i) != '>') {
          val x = c(i)
          val d = Character.digit(x, 16)
          if (d >= 0) {
            if (hi < 0) hi = d
            else { pending.append(((hi << 4) | d).toChar); hi = -1 }
          }
          i += 1
        }
        if (hi >= 0) pending.append((hi << 4).toChar) // odd digit: pad 0
        i += 1
      } else if (ch == '<' && i + 1 < n) {
        i += 2 // '<<' dict open — tokens inside are names/numbers, harmless
      } else if (Character.isLetter(ch) || ch == '\'' || ch == '"') {
        var j = i
        while (j < n && (Character.isLetterOrDigit(c(j)) || c(j) == '*' ||
          c(j) == '\'' || c(j) == '"')) j += 1
        val op = latin1(content, i, j)
        if (op == "Tj" || op == "TJ" || op == "'" || op == "\"") {
          sawShow = true
          out.append(pending)
          pending.setLength(0)
        } else pending.setLength(0) // a non-show operator consumed them
        i = j
      } else i += 1
    }
    (out.toString, sawShow)
  }

  /** Walk one PDF payload: Left(reason) or Right(text, nStreams) where
    * nStreams counts the DECODED content streams carrying at least one
    * show operator. Reasons: `not_pdf`, `encrypted`, `filter` (only
    * unsupported filters present), `no_text` (no show-operator
    * streams), `bomb` (a FlateDecode stream exceeded [[inflateCap]] —
    * the walk stops immediately on a hostile payload). */
  private[graft] def pdfTextWalk(bytes: Array[Byte]): Either[String, (String, Int)] = {
    if (bytes.length < 8 || indexOf(bytes, "%PDF-", 0) != 0) return Left("not_pdf")
    // the trailer lives at the tail; scanning the whole file would read
    // raw deflate bytes that can spell anything
    if (indexOf(bytes, "/Encrypt", math.max(0, bytes.length - 2048)) >= 0)
      return Left("encrypted")
    val out = new java.lang.StringBuilder
    var nStreams = 0
    var sawUnsupported = false
    var pos = 0
    var continue = true
    while (continue) {
      val s = indexOf(bytes, "stream", pos)
      if (s < 0) continue = false
      else {
        // must be the keyword (preceded by a dict close somewhere near,
        // followed by EOL) — "endstream" also contains "stream", so
        // require the char before not to be a letter
        val kw = s == 0 || !Character.isLetter((bytes(s - 1) & 0xff).toChar)
        var dataStart = s + "stream".length
        if (dataStart < bytes.length && bytes(dataStart) == '\r') dataStart += 1
        if (dataStart < bytes.length && bytes(dataStart) == '\n') dataStart += 1
        // window bounded below by the previous stream's end (`pos`): a
        // prior stream's binary data must never read as this dict
        val dict = latin1(bytes, math.max(pos, math.max(0, s - 600)), s)
        // the dict's /Length delimits BINARY data exactly — a deflate
        // stream can legally contain the byte sequence "endstream", so
        // the marker scan is only the fallback for a missing/bogus
        // Length (the marker must then really follow the claimed end,
        // modulo an EOL)
        val byLen = "/Length\\s+(\\d+)".r.findFirstMatchIn(dict)
          .map(m => dataStart + m.group(1).toInt)
          .filter { de =>
            de <= bytes.length - "endstream".length && {
              val m = indexOf(bytes, "endstream", de)
              m >= de && m <= de + 2
            }
          }
        val e = byLen.map(de => indexOf(bytes, "endstream", de))
          .getOrElse(indexOf(bytes, "endstream", dataStart))
        if (!kw || e < 0) pos = s + 6
        else {
          var dataEnd = byLen.getOrElse(e)
          if (byLen.isEmpty) {
            if (dataEnd > dataStart && bytes(dataEnd - 1) == '\n') dataEnd -= 1
            if (dataEnd > dataStart && bytes(dataEnd - 1) == '\r') dataEnd -= 1
          }
          val raw = java.util.Arrays.copyOfRange(bytes, dataStart, dataEnd)
          val decoded: Option[Array[Byte]] =
            if (dict.contains("/FlateDecode")) inflate(raw) match {
              case Right(d)     => Some(d)
              case Left("bomb") => return Left("bomb") // hostile: stop the walk
              case Left(_)      => None // corrupt stream: skip, like /Filter
            }
            else if (dict.contains("/Filter")) { sawUnsupported = true; None }
            else Some(raw)
          decoded.foreach { d =>
            val (t, sawShow) = streamText(d)
            // structural count: a stream with a show operator is a text
            // stream even when the shown text is empty — oracle parity
            // (q_pdf_text's constant n_streams) must not depend on the
            // corpus text's length
            if (sawShow) { out.append(t); nStreams += 1 }
          }
          pos = e + "endstream".length
        }
      }
    }
    if (nStreams == 0) {
      if (sawUnsupported) Left("filter") else Left("no_text")
    } else Right((out.toString, nStreams))
  }

  // ---------- operator faces ----------

  private val cleanSchema = StructType(Seq(
    StructField("url", StringType),
    StructField("text", StringType),
    StructField("n_chars", LongType),
    StructField("n_streams", IntegerType)))

  /** Extract text from a (url, payload) frame of PDF bytes —
    * (clean, quarantine) pair, the [[HtmlOps.warcToDocuments]]
    * discipline: every payload lands in exactly one of the two. */
  def pdfTextOf(payloads: DataFrame): (DataFrame, DataFrame) = {
    val spark = payloads.sparkSession
    val walked = payloads
      .select(col("url").cast("string"), col("payload"))
      .rdd.mapPartitions { it =>
        it.map { r =>
          val url = r.getString(0)
          pdfTextWalk(r.getAs[Array[Byte]](1)) match {
            case Right((t, ns)) => Row(url, t, t.length.toLong, ns, null)
            case Left(reason)   => Row(url, null, null, null, reason)
          }
        }
      }
    val both = spark.createDataFrame(walked, StructType(
      cleanSchema.fields :+ StructField("reason", StringType)))
    (both.filter(col("reason").isNull)
      .select(col("url"), col("text"), col("n_chars"), col("n_streams")),
      both.filter(col("reason").isNotNull).select(col("url"), col("reason")))
  }

  /** The PDF estate lifted into [[HtmlOps.warcToDocuments]]'s CLEAN
    * document schema — the route that gate quarantines as
    * `content-type` becomes corpus rows instead: same doc identity
    * (xxhash64 of the canonical fetch URL), same header evidence
    * (fetch_date, Last-Modified + parsed date, ETag, payload digest,
    * X-Robots-Tag flags — a PDF has no HTML meta, so the header route
    * is the only robots route, and `canonical_url` is NULL by
    * construction). Quarantine twin carries (url, reason) for the
    * walk's failures. One codec pass; header fields stay codegen'd
    * Columns, only the body split + walk ride the task. */
  def pdfDocumentsOf(records: DataFrame): (DataFrame, DataFrame) =
    binaryDocumentsOf(records, "application/pdf", 8, b => pdfTextWalk(b))

  /** Shared scaffolding for every DECLARATION-OR-CONTENT binary corpus
    * route (round-20 self-review: this lived copy-pasted in the PDF and
    * EPUB routes — one header-evidence or schema fix would have had to
    * land twice or the two corpus faces silently diverge): a response
    * routes here ([[HttpCodec.routeByMime]]) when its declared
    * Content-Type IS `mime` or its body SNIFFS as `mime` (a binary behind a lying text header still lands —
    * and the HTML route's magic gate quarantines it there as `sniff`,
    * so the routes stay exclusive); header evidence (Last-Modified +
    * parsed date, ETag, payload digest, X-Robots-Tag flags) stays
    * codegen'd Columns; only the body split + `walk` ride the task.
    * `walk` re-validates the content, so a sniff false positive is
    * impossible. Output: warcToDocuments' clean schema (canonical_url
    * NULL by construction — no HTML meta) + the (url, reason)
    * quarantine twin. */
  private[operators] def binaryDocumentsOf(records: DataFrame, mime: String,
      sniffLen: Int, walk: Array[Byte] => Either[String, (String, Int)])
      : (DataFrame, DataFrame) = {
    val spark = records.sparkSession
    val hdr = HttpCodec.header(col("payload"))
    val lm = nullif(trim(HttpCodec.field(hdr, "last-modified")), lit(""))
    val xr = HtmlOps.robotsTokenFlagsAll(HttpCodec.fields(hdr, "x-robots-tag"))
    val base = HttpCodec.routeByMime(records, Seq(mime), sniffLen,
      UrlOps.canonIdn(col("target_uri")),
      col("warc_date").as("fetch_date"),
      lm.as("last_modified"),
      to_date(HttpCodec.date(lm)).as("last_modified_date"),
      nullif(trim(HttpCodec.field(hdr, "etag")), lit("")).as("etag"),
      nullif(col("payload_digest"), lit("")).as("payload_digest"),
      xr._1.as("noindex"),
      xr._2.as("nofollow"))
    // `body` is the router's last column
    val outSchema = StructType(base.schema.init ++ Seq(
      StructField("text", StringType),
      StructField("n_chars", LongType),
      StructField("reason", StringType)))
    val walked = spark.createDataFrame(base.rdd.mapPartitions { it =>
      it.map { r =>
        val keep = r.toSeq.init
        walk(r.getAs[Array[Byte]](r.length - 1)) match {
          case Right((t, _)) => Row.fromSeq(keep ++ Seq(t, t.length.toLong, null))
          case Left(reason)  => Row.fromSeq(keep ++ Seq(null, null, reason))
        }
      }
    }, outSchema)
    val clean = walked.filter(col("reason").isNull)
      .select(
        xxhash64(col("url")).as("doc_id"),
        col("url"),
        regexp_extract(col("url"), "^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1)
          .as("source"),
        col("text"), col("n_chars"), col("fetch_date"),
        col("last_modified"), col("last_modified_date"), col("etag"),
        col("payload_digest"),
        lit(null).cast(StringType).as("canonical_url"),
        col("noindex"), col("nofollow"))
    (clean, walked.filter(col("reason").isNotNull)
      .select(col("url"), col("reason")))
  }

  /** The WHOLE-corpus ingest: [[HtmlOps.warcToDocuments]]'s clean HTML
    * route ∪ the PDF route ∪ the EPUB route (round 20), one schema —
    * what a corpus builder actually materializes now that the
    * media-type gate has consumers. The HTML-side quarantine still
    * counts the PDFs/EPUBs under `content-type` (its accounting
    * contract is every-record-lands-somewhere); each route's own
    * quarantine refines the undecodable remainder. */
  def warcToCorpus(records: DataFrame): DataFrame =
    HtmlOps.warcToDocuments(records)._1
      .unionByName(pdfDocumentsOf(records)._1)
      .unionByName(EpubOps.epubDocumentsOf(records)._1)

  // ---------- oracle instantiation (q_pdf_text) ----------

  /** Escape a PDF literal-string payload. */
  private def escapeLiteral(s: String): String =
    s.flatMap {
      case '(' => "\\("
      case ')' => "\\)"
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case c => c.toString
    }

  private def hexString(s: String): String =
    s.map(c => f"${c.toInt & 0xff}%02x").mkString

  /** Deterministic synthetic PDF carrying `text` EXACTLY, variant by
    * doc_id % 3: 0 = two identity streams (text split in half), 1 = two
    * FlateDecode streams, 2 = ONE stream showing the first half as an
    * octal-escaped literal and the second as a hex string — every walk
    * path (keyword scan, inflate, unescape, hex decode, multi-stream
    * assembly) must round-trip byte-exactly for the oracle hash to
    * agree. */
  private[graft] def pdfSynth(text: String, variant: Int): Array[Byte] = {
    val half = text.length / 2
    val (a, b) = (text.substring(0, half), text.substring(half))
    def contentOf(s: String): Array[Byte] =
      s"BT /F1 12 Tf 72 720 Td (${escapeLiteral(s)}) Tj ET"
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    def octalLiteral(s: String): String =
      s.map(c => f"\\${c.toInt & 0xff}%03o").mkString
    val streams: Seq[Array[Byte]] = variant match {
      case 1 =>
        Seq(a, b).map { s =>
          val d = new java.util.zip.Deflater()
          d.setInput(contentOf(s)); d.finish()
          val buf = new Array[Byte](contentOf(s).length * 2 + 64)
          var n = 0
          while (!d.finished()) n += d.deflate(buf, n, buf.length - n)
          d.end()
          java.util.Arrays.copyOf(buf, n)
        }
      case 2 =>
        Seq((s"BT /F1 12 Tf (${octalLiteral(a)}) Tj <${hexString(b)}> Tj ET")
          .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      case _ => Seq(contentOf(a), contentOf(b))
    }
    val filter = if (variant == 1) " /Filter /FlateDecode" else ""
    val sb = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit =
      sb.write(s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R >> endobj\n")
    streams.zipWithIndex.foreach { case (s, i) =>
      w(s"${4 + i} 0 obj << /Length ${s.length}$filter >> stream\n")
      sb.write(s)
      w("\nendstream endobj\n")
    }
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    sb.toByteArray
  }

  /** §2-163 `q_pdf_text`: PDF extraction under the ORACLE — the
    * planted-truth pattern (the image/audio/video dataset rows): each
    * doc's text rides a deterministic synthetic PDF ([[pdfSynth]],
    * variant = doc_id % 3 covering identity, FlateDecode, and
    * octal+hex-string streams); Spark must reproduce the text through
    * the REAL byte walk while DuckDB states the construction truth
    * (`text`, and the variant's stream count). Any walk drift —
    * keyword scan, inflate, escape handling, hex pairing, stream
    * order — breaks byte equality and the hash. */
  def pdfText(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("payload", BinaryType)))
    val payloads = spark.createDataFrame(
      documents.select(col("doc_id").cast("long"), col("text")).rdd.map { r =>
        val id = r.getLong(0)
        Row(id, pdfSynth(r.getString(1), (id % 3).toInt))
      }, schema)
    val (clean, _) = pdfTextOf(payloads.select(
      col("doc_id").cast("string").as("url"), col("payload")))
    clean
      .select(col("url").cast("long").as("doc_id"),
        col("text").as("text_extracted"),
        col("n_streams").cast("long").as("n_streams"))
      .orderBy("doc_id")
  }

  val oracles: Map[String, String] = Map(
    "q_pdf_text" ->
      """SELECT doc_id, text AS text_extracted,
        |  CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 2 END AS n_streams
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
