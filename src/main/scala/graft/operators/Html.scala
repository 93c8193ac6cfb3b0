package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.functions.TextFuns
import graft.plans.HttpCodec

/** HTML text extraction — the WARC → documents bridge (the trafilatura
  * slot of a from-the-web pipeline): strip script/style/comment blocks,
  * drop tags, decode the common entities, collapse whitespace. Pure
  * row-level codegen'd string work, so extraction costs exactly one
  * read at 100 TB and fuses into the ingest scan (`q_redact`'s shape).
  *
  * Cross-engine discipline (the [[TextOps.RedactPatterns]] precedent):
  * every pattern sits in the regex subset where Java and RE2 agree —
  * lazy dot-all block matches (`.*?` is leftmost-first in BOTH engines,
  * verified), character classes, inline `(?is)` flags — so the same
  * chain replayed by DuckDB produces byte-identical text and
  * `q_html_extract` is hash-checked, not eyeballed.
  *
  * Re-expresses no reference capability (the reference ingests StatsBomb
  * JSON only) — this is the pipeline estate's ingest step between
  * [[graft.sources.WarcSource]] and every documents-table operator.
  */
object HtmlOps {

  /** Tag/block strip chain, applied IN ORDER — single source of truth
    * in [[graft.plans.HtmlExtract.StripPatterns]] (the native chain and
    * the SQL twin both derive from it). */
  val StripPatterns: Seq[(String, String)] = graft.plans.HtmlExtract.StripPatterns

  /** The pure string-transform core: html → visible text — ONE native
    * call ([[graft.plans.HtmlExtract]], round 14): the same
    * java.util.regex strip patterns in the same order as the previous
    * Column chain (so the DuckDB replay stays byte-identical), the
    * full character-reference grammar ([[graft.plans.HtmlEntities]] —
    * decimal/hex/named, single-pass, `&amp;lt;` stays the literal
    * `&lt;`), whitespace collapse, space-only trim; fused so the row
    * crosses the UTF8String boundary once instead of six times.
    * Callers must have run [[graft.plans.GraftFunctions.register]]
    * (every public face here does). */
  def extractText(html: Column): Column =
    call_function("html_text_extract", html)

  /** The synthetic page wrapper for `q_html_extract`: both engines build
    * the SAME messy-but-deterministic HTML around each document's text
    * (head/title, style + script blocks, a comment, nav links, entity
    * soup in the footer; `&`/`<` in the body text entity-escaped), so the
    * extraction chain is exercised on every rule and the output is
    * oracle-hashable. Left = literal chunk, Right = per-row expression
    * key ([[synthKey]]). */
  private val HtmlParts: Seq[Either[String, String]] = Seq(
    Left("<html><head><title>"), Right("source"),
    Left(" page</title><style type=\"text/css\">body { margin: 0; }</style>" +
      "<script type=\"text/javascript\">var doc = "), Right("id"),
    Left("; track(doc);</script></head><body><!-- build "), Right("id"),
    Left(" --><nav><a href=\"/\">home</a> | <a href=\"/about\">about</a></nav><h1>"),
    Right("source"),
    Left("</h1><p>"), Right("escaped"),
    Left("</p><footer>contact &lt;admin&gt; &amp; &quot;staff&quot;&nbsp;now" +
      " &mdash; caf&eacute; men&uuml; &#233;clair &#xE9;clair&rsquo;s" +
      " &hellip; &copy; 2026 &trade; 5&deg; 3&frac12;&euro;" +
      " &unknown; &amp;#38; &#0; done</footer></body></html>"))

  /** The per-row keys of the synthetic page templates (`HtmlParts`,
    * `MainParts`, `MetaParts`, `MediaParts`, `ImgParts`), each as its
    * Column face and its DuckDB-SQL face over a documents row. Both
    * faces of a key give the same string, so both engines build the same
    * page bytes. */
  private def synthKey(key: String): (Column, String) = {
    def mod(n: Int) =
      ((col("doc_id") % n).cast("string"), s"CAST(doc_id % $n AS VARCHAR)")
    key match {
      case "source" => (col("source"), "source")
      case "id" => (col("doc_id").cast("string"), "CAST(doc_id AS VARCHAR)")
      case "host" => (concat(col("source"), lit(".example.com")),
        "(source || '.example.com')")
      case "escaped" => (replace(replace(col("text"), lit("&"), lit("&amp;")),
        lit("<"), lit("&lt;")),
        "replace(replace(text, '&', '&amp;'), '<', '&lt;')")
      case "m3" => mod(3)
      case "m5" => mod(5)
      case "m7" => mod(7)
      case "m7b" => (((col("doc_id") + 3) % 7).cast("string"),
        "CAST((doc_id + 3) % 7 AS VARCHAR)")
      case "m9" => mod(9)
      case "m11" => mod(11)
      case other => throw new IllegalArgumentException(other)
    }
  }

  /** A synthetic page template rendered as a Column. */
  private def synthPage(parts: Seq[Either[String, String]]): Column =
    concat(parts.map {
      case Left(s) => lit(s)
      case Right(k) => synthKey(k)._1
    }: _*)

  /** A synthetic page template rendered as a DuckDB-SQL expression. */
  private def synthPageSql(parts: Seq[Either[String, String]]): String =
    parts.map {
      case Left(s) => TextFuns.sqlLit(s)
      case Right(k) => synthKey(k)._2
    }.mkString(" || ")

  /** §2-119 `q_html_extract`: the extraction core under the oracle —
    * deterministic synthetic HTML per document (the corpus has no raw
    * HTML; both engines wrap the text identically), then the full strip/
    * decode/collapse chain, emitting the extracted text and its length.
    * Pure map: no shuffle, one scan, WholeStageCodegen end to end. */
  def htmlExtract(documents: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(documents.sparkSession)
    // spread a small scan before the fused extraction pass (guide §2.5)
    graft.sources.Tables.spread(
      documents.select(col("doc_id"), col("source"), col("text")))
      .select(col("doc_id"),
        extractText(synthPage(HtmlParts)).as("text_extracted"))
      .withColumn("n_chars_extracted", length(col("text_extracted")).cast("long"))
      .orderBy("doc_id")
  }

  /** §2 `q_extract_clean`: the extraction → boilerplate-removal
    * COMPOSITION — what a real WARC pipeline runs as one pass: extract
    * visible text ([[htmlExtract]]'s chain), segment it (the fixed
    * 10-token windows `q_dedup_lines`/`q_boilerplate` use), mine the
    * top-k cross-document boilerplate segments (nav bars, footers — the
    * synthetic wrapper plants both on every page), drop them from every
    * document, and re-join the surviving segments in order.
    *
    * Scale shape: segmentation is row-level; the blocklist is ONE
    * md5(seg)-keyed shuffle ending in a k-row frame → BROADCAST
    * anti-join (no second corpus shuffle for the filter); the re-join is
    * one doc_id-keyed agg whose payload is the kept text (the output
    * itself). Order inside a doc rides an array_sort over (seg_pos, seg)
    * structs — deterministic, no window. */
  def extractClean(documents: DataFrame, segTokens: Int = 10,
                   minDocs: Long = 2L, k: Int = 50): DataFrame = {
    graft.plans.GraftFunctions.register(documents.sparkSession)
    val toks = TextFuns.tokens(col("text_extracted"))
    val nSeg = greatest(ceil(size(toks) / lit(segTokens.toDouble)).cast("int"), lit(1))
    val segArr = transform(sequence(lit(0), nSeg - 1),
      i => array_join(slice(toks, i * segTokens + 1, lit(segTokens)), " "))
    // the segment frame feeds BOTH the blocklist mine and the keep-side
    // anti-join — without a checkpoint the extraction chain (the
    // expensive fused native pass) runs once per branch
    val segs = graft.sources.Tables.spread(
      documents.select(col("doc_id"), col("source"), col("text")))
      .select(col("doc_id"),
        extractText(synthPage(HtmlParts)).as("text_extracted"))
      .select(col("doc_id"), posexplode(segArr).as(Seq("seg_pos", "seg")))
      .transform(Materialize(_, eager = false))
    val blocklist = segs
      .select(md5(col("seg").cast("binary")).as("seg_hash"), col("doc_id"))
      .groupBy(col("seg_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("seg_hash").asc)
      .limit(k)
      .select(col("seg_hash"))
    val kept = segs
      .withColumn("seg_hash", md5(col("seg").cast("binary")))
      .join(broadcast(blocklist), Seq("seg_hash"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_seg_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("seg_pos"), col("seg")))),
          s => s.getField("seg")), " ").as("text_clean"))
    documents.select(col("doc_id"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_seg_kept"), lit(0L)).as("n_seg_kept"))
      .withColumn("n_chars_clean", length(col("text_clean")).cast("long"))
      .orderBy("doc_id")
  }

  /** windows-1252 ↔ latin-1 delta: the 27 defined code points in
    * 0x80–0x9F (cp1252 maps them to punctuation/letters; latin-1 to C1
    * controls). Decoding cp1252 = bijective latin-1 decode + this 1:1
    * `translate` — exact, single-byte, no lossy fallback. The five
    * UNDEFINED cp1252 bytes (81 8D 8F 90 9D) stay as C1 controls,
    * matching the JDK windows-1252 charset's own behavior. */
  private[graft] val Cp1252From: String =
    "\u0080\u0082\u0083\u0084\u0085\u0086\u0087\u0088\u0089\u008a\u008b" +
      "\u008c\u008e\u0091\u0092\u0093\u0094\u0095\u0096\u0097\u0098\u0099" +
      "\u009a\u009b\u009c\u009e\u009f"
  private[graft] val Cp1252To: String =
    "\u20ac\u201a\u0192\u201e\u2026\u2020\u2021\u02c6\u2030\u0160\u2039" +
      "\u0152\u017d\u2018\u2019\u201c\u201d\u2022\u2013\u2014\u02dc\u2122" +
      "\u0161\u203a\u0153\u017e\u0178"

  /** The WARC → documents bridge: [[graft.sources.WarcSource.read]]
    * response records into the documents shape every downstream operator
    * consumes, with the real-ingest concerns handled row-level:
    *
    *  - charset RESOLUTION from the HTTP `Content-Type` header, falling
    *    back to an HTML META SNIFF (`<meta charset=…>` /
    *    `http-equiv=Content-Type`, first KB of the decoded body — the
    *    real web's most common layout is a header with no charset and a
    *    meta that has one) — the header/body split is [[HttpCodec]]'s
    *    (the body stays its true bytes), and the resolved charset picks the
    *    decode branch: utf-8 default; iso-8859-1/latin-1; us-ascii;
    *    windows-1252 (the most common non-UTF-8 web charset — decoded
    *    EXACTLY via the latin-1 bijection + the 27-char 0x80–0x9F
    *    [[Cp1252From]] translate);
    *  - `Transfer-Encoding: chunked` bodies (which CC records preserve
    *    verbatim) are DE-CHUNKED before charset decode via the native
    *    `http_dechunk` expression ([[graft.plans.HttpCodec]]) — hex size
    *    lines never reach the corpus; chunked is matched anywhere in the
    *    RFC 9112 transfer-coding LIST; malformed chunked framing routes
    *    to quarantine with reason `chunked`, and any OTHER non-identity
    *    transfer-coding (`gzip, chunked`) quarantines as
    *    `transfer-encoding` (undecodable row-level today);
    *  - `Content-Encoding: gzip / x-gzip / deflate` bodies are INFLATED
    *    before the charset chain via the bomb-guarded native
    *    `http_inflate` expression ([[graft.plans.HttpCodec.inflate]] —
    *    format sniffed from the bytes, zlib vs raw deflate
    *    disambiguated, output capped); `Content-Encoding: zstd` decodes
    *    via the bomb-guarded native `zstd_inflate` (round 14 — the
    *    zstd-jni library Spark itself ships); a corrupt/bomb stream
    *    routes to quarantine as `content-encoding`, and any other
    *    coding (`br`/unknown) still quarantines — compressed bytes must
    *    never "decode" as charset text into the clean route (brotli is
    *    a PERMANENT quarantine policy: no pure-JVM decoder exists on
    *    the offline classpath, and a crawler that omits `br` from its
    *    own Accept-Encoding never receives it, so the quarantine prices
    *    only third-party WARCs);
    *  - an UNDECODABLE page (charset outside the whitelist, invalid bytes
    *    under the declared charset — validated BEFORE Spark 4's strict
    *    `decode`, so a bad page quarantines as `encoding` instead of
    *    crashing the job — non-2xx status, or extraction yielding no
    *    text) routes to QUARANTINE
    *    with the reason + re-fetch ledger (the [[graft.sources.DocsJsonlSource]]
    *    pattern) instead of poisoning the corpus or vanishing;
    *  - a NON-TEXT media type (image/pdf/octet-stream — anything not
    *    `text/`-prefixed, XHTML/XML, or a missing Content-Type)
    *    quarantines as `content-type`: a latin-1-declared binary would
    *    "decode" successfully into pure mojibake, the one failure the
    *    byte validators cannot catch;
    *  - doc identity = hash of the CANONICAL URL ([[UrlOps.canon]]), so
    *    refetches of one page under cosmetic URL variants collide.
    *
    * Clean schema: (doc_id, url, source=host, text, n_chars, fetch_date)
    * — `lang` is deliberately absent: upstream metadata lies, downstream
    * `TextOps.langId` / `ClassifierOps` derive it. All row-level (one
    * scan, zero shuffles); parallelism stays per-WARC-file. */
  def warcToDocuments(records: DataFrame): (DataFrame, DataFrame) = {
    graft.plans.GraftFunctions.register(records.sparkSession)
    val resp = records.filter(col("warc_type") === "response")
      .withColumn("_hdr", HttpCodec.header(col("payload")))
      .withColumn("http_status", HttpCodec.status(col("_hdr")))
      .withColumn("_cs", HttpCodec.declaredCharset(col("_hdr")))
      // media-type gate: a non-text body (image/pdf/octet-stream) must
      // never charset-decode into the corpus — a latin-1-declared JPEG
      // "decodes" successfully into pure mojibake. text/*, the XHTML/XML
      // application types, and a MISSING Content-Type (old servers; the
      // charset sniff handles those) stay on the text route.
      .withColumn("_mime", HttpCodec.declaredMime(col("_hdr")))
      .withColumn("_ct_bad",
        col("_mime") =!= "" &&
          !col("_mime").startsWith("text/") &&
          !col("_mime").isin("application/xhtml+xml", "application/xml"))
      // RFC 9112 allows a transfer-coding LIST (`gzip, chunked` — chunked
      // must be final), so match chunked ANYWHERE in the value; any OTHER
      // non-identity coding in the list is undecodable row-level today →
      // its own quarantine reason below, never mojibake in the clean route
      .withColumn("_te",
        lower(HttpCodec.field(col("_hdr"), "transfer-encoding")))
      .withColumn("_chunked", col("_te").rlike("\\bchunked\\b"))
      .withColumn("_te_other",
        regexp_replace(col("_te"), "\\bchunked\\b|\\bidentity\\b|[\\s,]", "") =!= "")
      // `Content-Encoding`: gzip/x-gzip/deflate inflate below; zstd
      // decodes via the zstd-jni route Spark already ships (round 14);
      // any other non-identity coding (br/unknown) is undecodable
      // row-level today → quarantine, never mojibake in the clean route
      .withColumn("_ce",
        lower(trim(HttpCodec.field(col("_hdr"), "content-encoding"))))
      .withColumn("_ce_gz", col("_ce").isin("gzip", "x-gzip", "deflate"))
      .withColumn("_ce_zstd", col("_ce") === "zstd")
      .withColumn("_ce_bad",
        !col("_ce").isin("", "identity") && !col("_ce_gz") && !col("_ce_zstd"))
      .withColumn("_raw0", HttpCodec.body(col("payload")))
      // wire-format order: TE framing wraps the CE-compressed entity, so
      // de-chunk FIRST (byte-level, charset-independent; null = malformed
      // framing → quarantine), THEN inflate the entity body
      .withColumn("_raw1",
        when(col("_chunked"), call_function("http_dechunk", col("_raw0")))
          .otherwise(col("_raw0")))
      .withColumn("_raw",
        when(col("_ce_gz"), call_function("http_inflate", col("_raw1")))
          .when(col("_ce_zstd"), call_function("zstd_inflate", col("_raw1")))
          .otherwise(col("_raw1")))
      // charset resolution chain (WHATWG precedence): a BOM byte
      // signature outranks everything (documents start with it
      // deliberately; headers lie), then the Content-Type header, then
      // the XML declaration's encoding= (XHTML/feeds declare there, not
      // in a meta), then the first-KB <meta> sniff, then the utf-8
      // default — all sniffed over the bijective latin-1 view of the
      // (de-chunked, inflated) body: declarations are ASCII, so the
      // latin-1 view is exact regardless of the page's true charset
      .withColumn("_sniff", substring(
        coalesce(decode(col("_raw"), "ISO-8859-1"), lit("")), 1, 1024))
      .withColumn("_bom",
        when(col("_sniff").startsWith("\u00ef\u00bb\u00bf"), lit("utf-8"))
          .when(col("_sniff").startsWith("\u00fe\u00ff") ||
            col("_sniff").startsWith("\u00ff\u00fe"), lit("utf-16"))
          .otherwise(lit("")))
      .withColumn("_xml_cs", lower(regexp_extract(col("_sniff"),
        "(?i)^(?:\u00ef\u00bb\u00bf)?<\\?xml[^>]*encoding\\s*=\\s*[\"']([a-zA-Z0-9_.:-]+)", 1)))
      .withColumn("_meta_cs", lower(regexp_extract(col("_sniff"),
        "(?i)<meta[^>]*charset\\s*=\\s*[\"']?([a-zA-Z0-9_.:-]+)", 1)))
      .withColumn("_csx",
        when(col("_bom") =!= "", col("_bom"))
          .when(col("_cs") =!= "", col("_cs"))
          .when(col("_xml_cs") =!= "", col("_xml_cs"))
          .otherwise(col("_meta_cs")))
      .withColumn("_charset",
        when(col("_csx").isin("", "utf-8", "utf8"), lit("utf-8"))
          .when(col("_csx").isin("iso-8859-1", "iso8859-1", "latin-1", "latin1"),
            lit("iso-8859-1"))
          .when(col("_csx").isin("us-ascii", "ascii"), lit("us-ascii"))
          .when(col("_csx").isin("windows-1252", "cp1252", "x-cp1252",
            "windows1252"), lit("windows-1252"))
          // the legacy multibyte/regional estate (shift_jis / GBK /
          // Big5 / EUC-KR / windows-1251, …) plus — round 14 — the
          // UTF-16 family (BOM-detected or header-declared) decode
          // through the native strict charset_decode; malformed bytes
          // (incl. an unpaired UTF-16 surrogate, the case Spark's own
          // strict decode would crash on) → null → `encoding`
          .when(col("_csx").isin(
            graft.plans.CharsetCodec.Supported.keys.toSeq: _*),
            col("_csx"))
          .otherwise(lit("unsupported")))
      // Spark 4's `decode` is STRICT (MALFORMED_CHARACTER_CODING throws) —
      // a single invalid byte in a declared-utf-8 page would crash the
      // whole ingest job. Validate first: invalid bytes → null text →
      // quarantine reason `encoding`, never a job failure. ISO-8859-1 is
      // bijective (cannot fail) and windows-1252 rides it + the 1:1
      // translate; us-ascii rides the utf-8 branch (ASCII is a strict
      // UTF-8 subset, and a lying ascii declaration with valid UTF-8
      // multibyte text is better decoded than dropped). A leading
      // U+FEFF (a decoded utf-8 BOM, or the BOM a fixed-endian UTF-16
      // decoder keeps as content) is stripped ONCE after the chain —
      // it is not \s, so the whitespace collapse would otherwise leak
      // it into the corpus.
      .withColumn("_text", extractText(regexp_replace(
        when(col("_charset") === "iso-8859-1", decode(col("_raw"), "ISO-8859-1"))
          .when(col("_charset") === "windows-1252",
            translate(decode(col("_raw"), "ISO-8859-1"), Cp1252From, Cp1252To))
          .when(col("_charset").isin("utf-8", "us-ascii"),
            when(expr("is_valid_utf8(_raw)"), decode(col("_raw"), "UTF-8")))
          // the legacy + utf-16 estate: strict JDK decode, null on
          // malformed
          .otherwise(call_function("charset_decode",
            col("_raw"), col("_charset"))),
        "^\uFEFF", "")))
      .withColumn("_reason",
        // 304 is the conditional-GET twin of a WARC revisit record —
        // "content unchanged since the validator you sent", a churn
        // signal, not a failure: it gets its own ledger reason so
        // refetch accounting can read it (round 15; it was lumped into
        // the generic non-2xx bucket before)
        when(col("http_status") === 304, lit("not-modified"))
          .when(col("http_status").isNull ||
            !col("http_status").between(200, 299), lit("status"))
          .when(col("_ct_bad"), lit("content-type"))
          // magic-byte gate (round 17): a KNOWN binary signature behind
          // a text-ish declaration is the lie the header gate cannot
          // see — it would charset-decode into mojibake. Deliberately
          // CONSERVATIVE: only unambiguous magics gate — ≥4 bytes, or
          // shape-validated shorter ones (gzip's 1F 8B checks its CM
          // byte 08 too; MP3's ID3 validates the full 10-byte ID3v2
          // header shape) — no BM/PK two-byte prefixes, no octet-stream
          // fallback: UTF-16 and legacy-multibyte pages legitimately
          // fail a printable-ASCII test and must stay on the
          // charset-decode route. Sniffs the de-chunked, inflated
          // entity (_raw); null _raw skips to the framing reasons below
          // round 20 (self-review): the zip family, FLAC, TIFF and the
          // shape-validated ICO joined the sniff's named estate but not
          // this gate — an EPUB behind text/html would land in the
          // corpus TWICE (mojibake here AND extracted text via
          // epubDocumentsOf's declaration-OR-content routing, same
          // doc_id), and FLAC/TIFF/zip behind text/* decoded to
          // mojibake. All meet the gate's stated bar: 4-byte magics
          // (PK\x03\x04 / PK\x05\x06 / PK\x07\x08, fLaC, II*\0 / MM\0*)
          // or whole-directory shape validation (ICO). SVG stays OFF
          // the gate — it IS text.
          .when(call_function("magic_mime",
            substring(col("_raw"), 1, 512)).isin(
              "image/png", "image/gif", "image/jpeg", "application/pdf",
              "audio/wav", "video/avi", "application/gzip", "image/qoi",
              "image/webp", "video/mp4", "audio/mp4", "application/ogg",
              "audio/mpeg", "font/woff", "font/woff2",
              "application/epub+zip", "application/zip", "audio/flac",
              "image/tiff", "image/x-icon"),
            lit("sniff"))
          .when(col("_te_other"), lit("transfer-encoding"))
          .when(col("_chunked") && col("_raw1").isNull, lit("chunked"))
          .when(col("_ce_bad"), lit("content-encoding"))
          .when((col("_ce_gz") || col("_ce_zstd")) && col("_raw").isNull,
            lit("content-encoding"))
          .when(col("_charset") === "unsupported", lit("charset"))
          .when(col("_text").isNull, lit("encoding"))
          .when(col("_text") === "", lit("empty")))
      .cache() // both routes are consumed (the DocsJsonlSource precedent)
    // freshness/validator headers (round 14): most hosts publish no
    // sitemap, but nearly every response carries Last-Modified and/or
    // ETag — carried as columns so the recrawl scheduler can union them
    // with sitemap lastmods (CrawlOps.headerSignalsFrom's real face). The
    // RFC 9110 IMF-fixdate also lands as a DATE (weekday/zone dropped —
    // Spark's parser takes neither; fixdate is always GMT).
    val lmDate = to_date(HttpCodec.date(col("_lm")))
    // <link rel="canonical"> (round 16): the SITE-DECLARED identity,
    // honored BEFORE any content dedup runs (real pipelines do — a
    // ?ref= variant and its /print twin both point at one canonical).
    // Parsed from the first-KB head slot (the meta-charset sniff
    // window — rel=canonical lives in <head> by spec), attribute order
    // NOT assumed, quotes optional; the target resolves like any href
    // and canonicalizes under the fetch-log identity. A SAME-HOST
    // canonical OVERRIDES the fetch URL as doc identity (so two fetch
    // URLs with one declared canonical land on ONE doc_id by
    // construction); a CROSS-HOST canonical only rides the
    // `canonical_url` evidence column — whether to trust a host that
    // points at another host is a dedup-policy call, not an ingest
    // default (a hijacked page could otherwise steal a foreign
    // identity).
    val linkA = regexp_extract(col("_sniff"),
      "(?i)<link[^>]*rel\\s*=\\s*[\"']?canonical[\"']?[^>]*" +
        "href\\s*=\\s*[\"']?([^\"'>\\s]+)", 1)
    val linkB = regexp_extract(col("_sniff"),
      "(?i)<link[^>]*href\\s*=\\s*[\"']?([^\"'>\\s]+)[\"']?[^>]*" +
        "rel\\s*=\\s*[\"']?canonical", 1)
    val declRaw = when(linkA =!= "", linkA).otherwise(linkB)
    val hostOf: Column => Column =
      c => regexp_extract(c, "^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1)
    val clean = resp.filter(col("_reason").isNull)
      .withColumn("_fetch_url", UrlOps.canonIdn(col("target_uri")))
      .withColumn("_decl0",
        when(declRaw =!= "",
          UrlOps.canonIdn(UrlOps.resolve(col("target_uri"), declRaw))))
      .withColumn("canonical_url",
        when(col("_decl0").rlike("^https?://"), col("_decl0")))
      .withColumn("url",
        when(col("canonical_url").isNotNull &&
          hostOf(col("canonical_url")) === hostOf(col("_fetch_url")),
          col("canonical_url"))
          .otherwise(col("_fetch_url")))
      .withColumn("_lm",
        nullif(trim(HttpCodec.field(col("_hdr"), "last-modified")), lit("")))
      // page-level robots directives (round 16 continuation): meta
      // robots from the head sniff window (it lives in <head> by spec,
      // the rel=canonical slot) ∪ X-Robots-Tag from the header block —
      // a corpus builder drops noindex rows BEFORE any content
      // operator, a frontier builder skips nofollow pages' outlinks
      .withColumn("_rb_meta", metaField(col("_sniff"), "name", "robots"))
      // ALL X-Robots-Tag occurrences: one header per directive is the
      // common server shape, so flags must OR across them
      .withColumn("_rb_hdr", HttpCodec.fields(col("_hdr"), "x-robots-tag"))
      .select(
        xxhash64(col("url")).as("doc_id"),
        col("url"),
        regexp_extract(col("url"), "^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1).as("source"),
        col("_text").as("text"),
        length(col("_text")).cast("long").as("n_chars"),
        col("warc_date").as("fetch_date"),
        col("_lm").as("last_modified"),
        lmDate.as("last_modified_date"),
        nullif(trim(HttpCodec.field(col("_hdr"), "etag")), lit("")).as("etag"),
        // the WARC-layer payload digest (round 15) — the prior-capture
        // side `revisit` records compare against (revisitChurn)
        nullif(col("payload_digest"), lit("")).as("payload_digest"),
        col("canonical_url"),
        (robotsTokenFlags(col("_rb_meta"))._1 ||
          robotsTokenFlagsAll(col("_rb_hdr"))._1).as("noindex"),
        (robotsTokenFlags(col("_rb_meta"))._2 ||
          robotsTokenFlagsAll(col("_rb_hdr"))._2).as("nofollow"))
    // the ledger holds every record the clean route did NOT take:
    // failed responses with their reason, and `revisit` records with
    // reason 'revisit' — not failures (the writer stored no body by
    // design; their evidence face is [[revisitsOf]]), but they must be
    // COUNTED here or a dedup-aware crawl's refetch churn silently
    // vanishes from ingest accounting.
    val quarantine = resp.filter(col("_reason").isNotNull)
      .select(col("file"), col("target_uri"), col("http_status"),
        col("_reason").as("reason"))
      .unionByName(records.filter(col("warc_type") === "revisit")
        .select(col("file"), col("target_uri"),
          lit(null).cast("int").as("http_status"),
          lit("revisit").as("reason")))
    (clean, quarantine)
  }

  /** WARC `revisit` records as evidence rows (round 15 — previously
    * silently dropped): Common Crawl and heritrix write one when a
    * re-fetch produced content IDENTICAL to a prior capture (ISO 28500
    * §6.7.2 identical-payload-digest) — the digest of the unchanged
    * content rides `WARC-Payload-Digest`, the prior capture's identity
    * rides `WARC-Refers-To-*`. Free exact-dedup evidence: the page did
    * NOT change, with no body to re-extract. Identity = the canonical
    * URL hash, the same as [[warcToDocuments]], so a revisit lands on
    * its prior response's doc_id by construction. Pure row-level — one
    * scan, zero shuffles. */
  def revisitsOf(records: DataFrame): DataFrame =
    records.filter(col("warc_type") === "revisit")
      .withColumn("url", UrlOps.canonIdn(col("target_uri")))
      .select(
        xxhash64(col("url")).as("doc_id"),
        col("url"),
        regexp_extract(col("url"), "^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1)
          .as("source"),
        col("warc_date").as("revisit_date"),
        nullif(col("payload_digest"), lit("")).as("payload_digest"),
        nullif(col("refers_to_uri"), lit("")).as("refers_to_uri"),
        nullif(col("refers_to_date"), lit("")).as("refers_to_date"))

  /** Refetch-churn accounting per canonical page: each clean capture
    * joined with its revisits on the canonical identity —
    * `n_unchanged` counts revisits whose payload digest EQUALS the
    * capture's (exact-dedup evidence for free: the fetcher confirmed
    * byte-identity, no extraction ran), `n_changed` counts
    * digest-bearing revisits that differ (the writer recorded a
    * revisit against an OLDER capture than this one — content churned
    * in between). A recrawl scheduler reads n_unchanged as "stop
    * refetching so often" and n_changed as churn. One hash shuffle on
    * doc_id (both sides already carry it); the clean frame is the only
    * corpus-scale side. */
  def revisitChurn(clean: DataFrame, revisits: DataFrame): DataFrame =
    clean.select(col("doc_id"), col("url"), col("payload_digest"))
      .join(revisits.select(col("doc_id"),
        col("payload_digest").as("_rv_digest")), Seq("doc_id"), "left")
      .groupBy(col("doc_id"), col("url"))
      .agg(
        sum(when(col("_rv_digest").isNotNull &&
          col("_rv_digest") === col("payload_digest"), 1L)
          .otherwise(0L)).as("n_unchanged"),
        sum(when(col("_rv_digest").isNotNull &&
          col("_rv_digest") =!= col("payload_digest"), 1L)
          .otherwise(0L)).as("n_changed"))

  /** The synthetic page for `q_main_content` — every flavor of
    * page-unique chrome the cross-document route cannot catch, plus two
    * genuine content blocks: a nav header (pure links, word-poor), the
    * document's text as the body paragraph, a too-short fragment, a
    * PAGE-UNIQUE related-links sidebar (its targets are keyed by doc_id
    * — ≥5 words so only the link-density rule can drop it), and a
    * closing paragraph. Left = literal, Right = per-row key. */
  private val MainParts: Seq[Either[String, String]] = Seq(
    Left("<html><body><header><a href=\"/\">Home</a> " +
      "<a href=\"/about\">About</a> <a href=\"/login\">Login</a></header><p>"),
    Right("escaped"),
    Left("</p><p>Too short.</p><div class=\"sidebar\">Related: " +
      "<a href=\"/r/"), Right("m7"),
    Left("\">topic "), Right("m7"),
    Left("</a> <a href=\"/r/"), Right("m7b"),
    Left("\">topic "), Right("m7b"),
    Left("</a></div><p>Deterministic closing paragraph with plenty of " +
      "ordinary words here.</p></body></html>"))

  /** §2 `q_main_content`: per-page MAIN-CONTENT extraction — the
    * link-density / text-density segment scorer
    * ([[graft.plans.MainContent]], the boilerpipe core) under the
    * oracle: the synthetic page plants a nav header, a too-short
    * fragment, and a PAGE-UNIQUE link-dominated sidebar around the
    * document's body text; only the body and the closing paragraph
    * survive. This is the step [[extractClean]]'s cross-document
    * blocklist cannot perform (a page-unique sidebar repeats nowhere),
    * and together they are the real pipeline: main_content per page,
    * THEN repeated-chrome removal across pages. Pure map — one scan,
    * no shuffle, one native expression per row. */
  def mainContent(documents: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(documents.sparkSession)
    graft.sources.Tables.spread(
      documents.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        call_function("main_content", synthPage(MainParts)).as("main_text"))
      .withColumn("n_chars_main", length(col("main_text")).cast("long"))
      .orderBy("doc_id")
  }

  /** The redirect edges a WARC crawl actually contains: 3xx `response`
    * records' `Location:` headers, canonicalized under the fetch-log
    * identity ([[UrlOps.canon]]). Relative Locations (RFC 9110 allows
    * ANY reference form) resolve against the request URL via the full
    * [[UrlOps.resolve]] merge — root-relative, dot-segmented, and
    * protocol-relative targets all land; a 3xx with no Location (or a
    * non-http target, e.g. an ftp: bounce) is dropped. Feeds
    * [[CrawlOps.redirectResolve]] / [[CrawlOps.frontierCore]] — the
    * enqueue path `q_redirects` grades on the synthetic twin. Pure
    * row-level header extraction — one scan, zero shuffles, the same
    * [[HttpCodec]] header read as [[warcToDocuments]]. */
  def redirectsOf(records: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(records.sparkSession)
    records.filter(col("warc_type") === "response")
      .withColumn("_hdr", HttpCodec.header(col("payload")))
      .withColumn("http_status", HttpCodec.status(col("_hdr")))
      .filter(col("http_status").between(300, 399))
      .withColumn("_loc", HttpCodec.field(col("_hdr"), "location"))
      .filter(col("_loc") =!= "")
      .withColumn("dst_url",
        UrlOps.canonIdn(UrlOps.resolve(col("target_uri"), col("_loc"))))
      .filter(col("dst_url").rlike("^https?://"))
      .select(UrlOps.canonIdn(col("target_uri")).as("src_url"),
        col("dst_url"), col("http_status"))
  }

  /** §2-123 `q_link_extract`: outlink extraction — the crawl-frontier /
    * link-graph builder: pull `<a href="...">` targets out of the HTML,
    * canonicalize each ([[UrlOps.canon]] — frontier URLs must dedupe
    * under the same identity the fetch log uses), emit one row per
    * (doc_id, distinct canonical outlink). Synthetic pages carry three
    * deterministic messy links (one with tracking params, one with a
    * fragment, one duplicated under a different surface form — so the
    * distinct actually bites). Pure row-level extract + explode; ONE
    * distinct shuffle on (doc_id, url) — at 100 TB this is the frontier
    * builder's whole cost. */
  def linkExtract(documents: DataFrame): DataFrame =
    linkExtractSet(documents).orderBy("doc_id", "dst_url")

  /** [[linkExtract]] without the presentation sort — the face composing
    * consumers ([[CrawlOps]]' frontier/schedule, `frontierStream`) use:
    * they re-aggregate immediately, so the sorted frame would only buy
    * a wasted range exchange. */
  private[graft] def linkExtractSet(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        explode(regexp_extract_all(linkSynthHtml,
          lit("<a href=\"([^\"]*)\""), lit(1))).as("href"))
      .select(col("doc_id"), UrlOps.canon(col("href")).as("dst_url"))
      .distinct()

  /** The synthetic link page as a Column — single Spark-side source of
    * truth for the link universe ([[linkExtractSet]], [[anchorText]]);
    * [[linkPagesSql]] is its DuckDB twin. Three deterministic messy
    * links with anchor TEXTS (`one` / `two` / `one again`): one with
    * tracking params, one uppercased+default-port+fragment, one
    * duplicated under a trailing-slash surface form. */
  private def linkSynthHtml: Column = {
    val host = concat(col("source"), lit(".example.com"))
    val p1 = (col("doc_id") * 7 + 13) % 100
    val p2 = (col("doc_id") * 11 + 5) % 100
    concat(
      lit("<html><body><p>see <a href=\"http://"), host,
      lit("/docs/"), p1.cast("string"),
      lit("?utm_source=page&utm_medium=m\">one</a> and <a href=\"HTTP://"),
      upper(host), lit(":80/docs/"), p2.cast("string"),
      lit("#frag\">two</a>; also <a href=\"http://"), host,
      lit("/docs/"), p1.cast("string"),
      lit("/\">one again</a></p></body></html>"))
  }

  /** The URL a page's relative references resolve against, over
    * (page_url, html): the first `<base href>` resolved against the page
    * URL, else the page URL itself. */
  private def effBase: Column = {
    val baseHref = regexp_extract(col("html"),
      "(?i)<base[^>]*href\\s*=\\s*[\"']([^\"'>]+)", 1)
    coalesce(
      when(baseHref =!= "", UrlOps.resolve(col("page_url"), baseHref)),
      col("page_url"))
  }

  /** Outlinks of REAL crawled pages — the general (page_url, html) face
    * of the link-extraction stage: pull `<base href>` (first one wins;
    * resolved against the page like any href), pull every `<a href>`
    * (case-insensitive, optional attribute whitespace), resolve each
    * against the effective base ([[UrlOps.resolve]] — relative forms,
    * dot segments, protocol-relative; non-fetchable schemes and bare
    * fragments drop), and canonicalize under the fetch-log identity.
    * `q_link_resolve` hash-checks the resolve→canon pipeline on the
    * synthetic twin; this face feeds [[CrawlOps.frontierCore]] from raw
    * HTML. Row-level extract + ONE distinct shuffle on (page, url). */
  def linksOf(pages: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(pages.sparkSession)
    pages
      .select(col("page_url"), effBase.as("_base"),
        explode(regexp_extract_all(col("html"),
          lit("(?i)<a\\s[^>]*href\\s*=\\s*[\"']([^\"']*)[\"']"),
          lit(1))).as("href"))
      .select(col("page_url"),
        UrlOps.canonIdn(UrlOps.resolve(col("_base"), col("href"))).as("dst_url"))
      // a junk page_url (no scheme://host) resolves relatives to junk —
      // only fetchable http(s) URLs may reach the frontier
      .filter(col("dst_url").rlike("^https?://"))
      .distinct()
  }

  /** Feed AUTODISCOVERY over real crawled pages — the standard
    * `<link rel="alternate" type="application/rss+xml|atom+xml" href>`
    * head declaration (attributes in ANY order: the tag is pulled
    * whole, then filtered per attribute), href resolved against the
    * effective base and canonicalized under the fetch-log identity.
    * One row per (page, feed URL), distinct; feeds are the crawl's
    * third discovery channel ([[graft.operators.CrawlOps.feedSeedsOf]]
    * consumes this). Row-level extract + one distinct shuffle. */
  def feedLinksOf(pages: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(pages.sparkSession)
    val ws = "[ \\t\\n\\f\\r]*"
    pages
      .select(col("page_url"), effBase.as("_base"),
        explode(regexp_extract_all(col("html"),
          lit("(?is)<link[ \\t\\n\\f\\r][^>]*>"), lit(0))).as("tag"))
      .filter(col("tag").rlike(s"(?i)rel$ws=$ws[\"']?alternate") &&
        col("tag").rlike(
          s"(?i)type$ws=$ws[\"']application/(rss|atom)\\+xml"))
      .select(col("page_url"),
        UrlOps.canonIdn(UrlOps.resolve(col("_base"),
          regexp_extract(col("tag"),
            s"(?i)href$ws=$ws[\"']([^\"']*)", 1))).as("feed_url"))
      .filter(col("feed_url").rlike("^https?://"))
      .distinct()
  }

  // ---------- anchor-text aggregation (round 16 continuation — the
  // inbound-link description of a page, the classic web-corpus
  // signal: search engines and quality scorers alike read a URL's
  // identity from what OTHER pages call it) ----------

  /** (src page, dst canonical URL, anchor text) triples of REAL crawled
    * pages — the extraction face under [[anchorTextOf]]: every
    * `<a href>text</a>` resolves against the page's effective base
    * (`<base href>` honored, the [[linksOf]] rule), canonicalizes under
    * the fetch-log identity ([[UrlOps.canonIdn]]), and carries its
    * inner text with tags stripped and whitespace collapsed
    * ([[cleanInline]]). Text-BEARING inlinks only: an anchor whose
    * inner text is empty after the strip (image links, spacer links)
    * drops — pure link counting is [[linksOf]] → frontier's job; this
    * face exists for the text. Row-level extract, zero shuffles. */
  def anchorsOf(pages: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(pages.sparkSession)
    pages
      .select(col("page_url"), effBase.as("_base"),
        explode(regexp_extract_all(col("html"),
          lit("(?is)<a\\s[^>]*href\\s*=\\s*[\"'][^\"']*[\"'][^>]*>.*?</a>"),
          lit(0))).as("a"))
      .select(col("page_url"),
        UrlOps.canonIdn(UrlOps.resolve(col("_base"),
          regexp_extract(col("a"),
            "(?is)href\\s*=\\s*[\"']([^\"']*)[\"']", 1))).as("dst_url"),
        cleanInline(regexp_extract(col("a"), "(?is)^<a[^>]*>(.*)</a>$", 1))
          .as("anchor"))
      .filter(col("dst_url").rlike("^https?://") && col("anchor") =!= "")
  }

  /** The shared anchor aggregation: (src, dst_url, anchor) triples →
    * one row per dst_url with `top_anchor` (the most-frequent anchor
    * text; ties break to the struct-max larger text, identical
    * field-order comparison in both engines — the q_image_dataset rep
    * idiom), `top_cnt`, `n_inlinks` (text-bearing inlinks), `n_texts`
    * (distinct anchor spellings), `n_docs` (distinct source pages).
    * TWO aggregations + one join, ALL keyed on dst_url — at 100 TB
    * this is the canonical two-pass MR anchor job: no collect, no
    * window over the corpus, and AQE reuses the dst_url exchange
    * across the branches. */
  private[graft] def anchorCore(pairs: DataFrame, srcCol: String): DataFrame =
    anchorCoreWeighted(pairs
      .groupBy(col("dst_url"), col("anchor"), col(srcCol).as("src"))
      .agg(count(lit(1)).as("cnt")))

  /** [[anchorCore]] over the additive STATE shape (dst_url, anchor,
    * src, cnt) — the single aggregation both the batch faces and the
    * incremental merge route reduce through, so they cannot drift. */
  private[graft] def anchorCoreWeighted(state: DataFrame): DataFrame = {
    val perText = state.groupBy("dst_url", "anchor")
      .agg(sum("cnt").cast("long").as("cnt"))
    val tops = perText.groupBy("dst_url").agg(
      max(struct(col("cnt"), col("anchor"))).as("_top"),
      sum("cnt").cast("long").as("n_inlinks"),
      count(lit(1)).as("n_texts"))
    val docs = state.select(col("dst_url"), col("src")).distinct()
      .groupBy("dst_url").agg(count(lit(1)).as("n_docs"))
    tops.join(docs, Seq("dst_url"))
      .select(col("dst_url"), col("_top.anchor").as("top_anchor"),
        col("_top.cnt").as("top_cnt"), col("n_inlinks"),
        col("n_texts"), col("n_docs"))
  }

  /** The persisted anchor STATE of a page batch — one row per
    * (dst_url, anchor, src page) with its occurrence count. ADDITIVE
    * under [[anchorStateMerge]]: at 100 TB the anchor table is
    * link-graph-scale and recomputing it from scratch per crawl batch
    * would re-shuffle the whole history, so the state (not the
    * summary) is THE persisted artifact — the
    * [[graft.operators.Sinks]] upsert shape, keyed on the triple. */
  def anchorState(pages: DataFrame): DataFrame =
    anchorsOf(pages)
      .groupBy(col("dst_url"), col("anchor"), col("page_url").as("src"))
      .agg(count(lit(1)).as("cnt"))

  /** Merge a delta batch's anchor state into the prior table — one
    * union + one triple-keyed re-agg (counts are additive; a re-crawled
    * page's rows simply add, matching the batch face run over the
    * concatenated page sets). */
  def anchorStateMerge(prior: DataFrame, delta: DataFrame): DataFrame =
    prior.unionByName(delta)
      .groupBy(col("dst_url"), col("anchor"), col("src"))
      .agg(sum("cnt").cast("long").as("cnt"))

  /** The anchor summary off a persisted state table — what a consumer
    * reads after any number of incremental merges. */
  def anchorTextFromState(state: DataFrame): DataFrame =
    anchorCoreWeighted(state)

  /** Anchor-text aggregation of REAL crawled pages — what the web
    * calls each URL: [[anchorsOf]] triples rolled up per canonical
    * target by [[anchorCore]]. The result is corpus metadata a
    * training-data pipeline joins back on the canonical URL — an
    * alt-text-like caption source for pages, a quality prior (how the
    * web describes a document), and a retrieval label. */
  def anchorTextOf(pages: DataFrame): DataFrame =
    anchorTextFromState(anchorState(pages))

  /** §2 `q_anchor_text`: anchor aggregation under the oracle — the
    * synthetic link page ([[linkSynthHtml]], the q_link_extract
    * universe) carries three deterministic anchor texts; both engines
    * extract (href, text), canonicalize under [[UrlOps.canon]] (the
    * oracle-shared identity — `one` and `one again` collapse onto ONE
    * canonical target, so top-anchor selection genuinely bites), and
    * aggregate through the same two-pass core. */
  def anchorText(documents: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(documents.sparkSession)
    val pairs = graft.sources.Tables.spread(
      documents.select(col("doc_id"), col("source")))
      .select(col("doc_id"),
        explode(regexp_extract_all(linkSynthHtml,
          lit("<a href=\"[^\"]*\">[^<]*</a>"), lit(0))).as("a"))
      .select(col("doc_id"),
        UrlOps.canon(regexp_extract(col("a"), "<a href=\"([^\"]*)\"", 1))
          .as("dst_url"),
        regexp_extract(col("a"), ">([^<]*)</a>", 1).as("anchor"))
    anchorCore(pairs, "doc_id").orderBy("dst_url")
  }

  // ---------- page-metadata extraction (round 16 continuation — the
  // OpenGraph/head fields every real corpus pipeline harvests:
  // og:title/og:description are the publisher's OWN summary of the
  // page, og:image its declared PRIMARY image — a caption source
  // beside row 142's alt text — and <title>/<meta description> feed
  // document metadata and quality scoring) ----------

  // both attribute orders (property→content and content→property, the
  // metaRedirectsOf precedent), both quote styles; explicit
  // [ \t\n\f\r] whitespace class — identical pattern TEXT in the SQL
  // twin (the ADVICE-r15 cross-engine discipline: no \s, whose
  // \x0B membership differs between Java and RE2)
  private def metaPatterns(attr: String, key: String): (String, String) = (
    s"(?is)<meta[^>]*$attr[ \\t\\n\\f\\r]*=[ \\t\\n\\f\\r]*[\"']$key[\"']" +
      s"[^>]*content[ \\t\\n\\f\\r]*=[ \\t\\n\\f\\r]*[\"']([^\"'>]*)",
    s"(?is)<meta[^>]*content[ \\t\\n\\f\\r]*=[ \\t\\n\\f\\r]*[\"']([^\"'>]*)" +
      s"[\"'][^>]*$attr[ \\t\\n\\f\\r]*=[ \\t\\n\\f\\r]*[\"']$key[\"']")

  private def metaField(html: Column, attr: String, key: String): Column = {
    val (a, b) = metaPatterns(attr, key)
    val va = regexp_extract(html, a, 1)
    val vb = regexp_extract(html, b, 1)
    when(va =!= "", va).otherwise(when(vb =!= "", vb))
  }

  private def titleOf(html: Column): Column = {
    val t = trim(regexp_replace(
      regexp_extract(html, "(?is)<title[^>]*>([^<]*)</title>", 1),
      "[ \\t\\n\\f\\r]+", " "))
    when(t =!= "", t)
  }

  /** Head metadata of REAL crawled pages — the general (page_url, html)
    * face: `<title>` (whitespace-collapsed), `<meta name=description>`,
    * and the OpenGraph trio `og:title` / `og:description` / `og:image`
    * — the og image resolved against the effective base (`<base href>`
    * honored) and canonicalized under the fetch-log identity, so it
    * joins the binary payload corpus exactly like row 142's mined
    * pairs (og:image IS a mined image-text pair: the page's declared
    * primary image, captioned by the page's own og:title). Absent or
    * empty fields are NULL. Pure row-level extraction, zero shuffles —
    * fuses into the ingest scan. */
  def metaOf(pages: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(pages.sparkSession)
    val ogImg = UrlOps.canonIdn(UrlOps.resolve(effBase,
      metaField(col("html"), "property", "og:image")))
    pages.select(col("page_url"),
      titleOf(col("html")).as("title"),
      metaField(col("html"), "name", "description").as("meta_description"),
      metaField(col("html"), "property", "og:title").as("og_title"),
      metaField(col("html"), "property", "og:description")
        .as("og_description"),
      when(ogImg.rlike("^https?://"), ogImg).as("og_image_url"))
  }

  /** WAT metadata composer (round 20) — builds the `(url,
    * metadata_json[, fetch_date])` frame
    * [[graft.sources.WarcSink.writeWat]] consumes, from raw crawled
    * pages, in ONE row-level pass. The load-bearing scale fact: every
    * WAT field — outlinks, document meta, JSON-LD blocks — is a
    * PAGE-LOCAL fact, so unlike the frontier-feeding [[linksOf]]
    * (whose global `distinct` exists for cross-page dedup) the
    * composer needs NO exchange at all: each row's html yields its own
    * JSON and the whole stage fuses into the ingest scan
    * (plan-asserted exchange-free in the spec). Fields: `title` /
    * `meta_description` / `og_title` / `og_description` (NULL when
    * absent — `to_json` drops them), `og_image` resolved + canonical
    * (the [[metaOf]] identity), `links` resolved + canonicalized and
    * deduped WITHIN the page (`array_distinct` — row-local, not the
    * frontier's global distinct) keeping only fetchable http(s)
    * targets, and `json_ld` — every block parsed by the REAL JSON
    * parser under the [[jsonLdOf]] contract (malformed block = null
    * fields, never a crash). `fetch_date` passes through when present
    * so the sink's WARC-Date contract keeps working. */
  def watOf(pages: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(pages.sparkSession)
    val ogImg = UrlOps.canonIdn(UrlOps.resolve(col("_base"),
      metaField(col("html"), "property", "og:image")))
    val links = filter(
      array_distinct(transform(
        regexp_extract_all(col("html"),
          lit("(?i)<a\\s[^>]*href\\s*=\\s*[\"']([^\"']*)[\"']"), lit(1)),
        h => UrlOps.canonIdn(UrlOps.resolve(col("_base"), h)))),
      u => u.rlike("^https?://"))
    val ld = transform(
      regexp_extract_all(col("html"), lit(LdBlockRE), lit(1)),
      b => from_json(b, LdSchema))
    val dateCols =
      if (pages.columns.contains("fetch_date")) Seq(col("fetch_date"))
      else Seq.empty
    pages
      .withColumn("_base", effBase)
      .select(Seq(col("page_url").as("url"),
        to_json(struct(
          titleOf(col("html")).as("title"),
          metaField(col("html"), "name", "description")
            .as("meta_description"),
          metaField(col("html"), "property", "og:title").as("og_title"),
          metaField(col("html"), "property", "og:description")
            .as("og_description"),
          when(ogImg.rlike("^https?://"), ogImg).as("og_image"),
          links.as("links"),
          ld.as("json_ld"))).as("metadata_json")) ++ dateCols: _*)
  }

  /** The synthetic head universe — single source of truth for
    * `q_meta_og` in BOTH engines (the ImgParts discipline): every page
    * carries a whitespace-messy `<title>`, a property-first og:title,
    * a CONTENT-FIRST single-quoted og:description (the reversed
    * attribute order), a plain meta description, and a ROOT-RELATIVE
    * og:image (resolution bites on every row). */
  private val MetaParts: Seq[Either[String, String]] = Seq(
    Left("<html><head><title> Doc "), Right("m9"),
    Left(" \t issue "), Right("m7"), Left(" </title>"),
    Left("<meta property=\"og:title\" content=\"OG "), Right("m9"),
    Left(" stories\">"),
    Left("<meta content='About topic "), Right("m7"),
    Left("' property='og:description'>"),
    Left("<meta name=\"description\" content=\"Meta about "), Right("m11"),
    Left("\">"),
    Left("<meta property=\"og:image\" content=\"/img/"), Right("m5"),
    Left("7.jpg\">"),
    Left("</head><body><p>body</p></body></html>"))

  /** §2 `q_meta_og`: head-metadata extraction under the oracle — the
    * synthetic head universe through the SAME field extractors as
    * [[metaOf]] (attribute-order pair, quote styles, whitespace
    * collapse, empty→NULL), with og:image resolved against the page
    * and canonicalized under [[UrlOps.canon]] (the oracle-shared
    * identity; the real face swaps in canonIdn + `<base href>`). */
  def metaOg(documents: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(documents.sparkSession)
    val host = concat(col("source"), lit(".example.com"))
    val pageUrl = concat(lit("http://"), host, lit("/m/"),
      (col("doc_id") % 50).cast("string"), lit("/page.html"))
    graft.sources.Tables.spread(
      documents.select(col("doc_id"), col("source")))
      .select(col("doc_id"), pageUrl.as("page_url"),
        synthPage(MetaParts).as("html"))
      .select(col("doc_id"),
        titleOf(col("html")).as("title"),
        metaField(col("html"), "name", "description")
          .as("meta_description"),
        metaField(col("html"), "property", "og:title").as("og_title"),
        metaField(col("html"), "property", "og:description")
          .as("og_description"),
        UrlOps.canon(UrlOps.resolve(col("page_url"),
          metaField(col("html"), "property", "og:image")))
          .as("og_image_url"))
      .orderBy("doc_id")
  }

  // ---------- robots meta directives (round 16 continuation — the
  // page-level politeness layer robots.txt cannot express: noindex
  // excludes a page from the INDEXABLE corpus, nofollow keeps its
  // outlinks out of the frontier; every real pipeline honors both
  // before any content operator runs) ----------

  /** Directive names of the de-facto robots grammar — needed to tell a
    * user-agent scope prefix (`googlebot: noindex`) from a directive
    * that itself carries a colon (`max-snippet:50`,
    * `unavailable_after: 25 Jun 2010`). */
  private val RobotsDirectiveNames: Seq[String] = Seq(
    "all", "none", "noindex", "nofollow", "noarchive", "nosnippet",
    "notranslate", "noimageindex", "indexifembedded",
    "nositelinkssearchbox", "max-snippet", "max-image-preview",
    "max-video-preview", "unavailable_after")

  /** Directive-token flags over a robots content value (meta robots or
    * `X-Robots-Tag`): comma/space/tab-separated, case-insensitive,
    * `none` = noindex + nofollow (the de-facto grammar). NULL content →
    * both false (absence permits). A value scoped to a user agent
    * (`googlebot: noindex`) applies only when `agent` names that agent
    * — for the default generic pipeline it applies to nobody, so a
    * directive addressed to someone else never over-drops our rows; a
    * leading token that is itself a known directive (`max-snippet:50`)
    * is NOT a scope. */
  private[graft] def robotsTokenFlags(content: Column,
                                      agent: String = "*"): (Column, Column) = {
    val c = lower(content)
    val rawPrefix = regexp_extract(c, "^[ \\t]*([a-z0-9_.*-]+)[ \\t]*:", 1)
    val prefix = when(rawPrefix.isin(RobotsDirectiveNames: _*), lit(""))
      .otherwise(rawPrefix)
    val effective = when(prefix === "", c)
      .when(prefix === lit(agent.toLowerCase),
        regexp_replace(c, "^[ \\t]*[a-z0-9_.*-]+[ \\t]*:[ \\t]*", ""))
      .otherwise(lit(""))
    def has(tok: String): Column =
      coalesce(effective.rlike(s"(^|[ ,\\t])$tok([ ,\\t]|$$)"), lit(false))
    (has("noindex") || has("none"), has("nofollow") || has("none"))
  }

  /** [[robotsTokenFlags]] over an ARRAY of header values — servers
    * commonly emit one `X-Robots-Tag` header per directive, so a
    * single-extract reader silently misses a noindex in the second
    * header; flags OR across all occurrences (empty array → both
    * false). */
  private[graft] def robotsTokenFlagsAll(contents: Column,
                                         agent: String = "*"): (Column, Column) = {
    def anyOf(pick: Column => Column): Column =
      coalesce(exists(contents, pick), lit(false))
    (anyOf(v => robotsTokenFlags(v, agent)._1),
      anyOf(v => robotsTokenFlags(v, agent)._2))
  }

  /** Page-level robots directives of REAL crawled pages —
    * `<meta name="robots" content="...">` through the shared
    * [[metaField]] attribute-order/quote machinery and
    * [[robotsTokenFlags]]. Output (page_url, noindex, nofollow); a page
    * with no meta robots is (false, false). Pure row-level map. */
  def robotsDirectivesOf(pages: DataFrame): DataFrame = {
    val (noidx, nofollow) =
      robotsTokenFlags(metaField(col("html"), "name", "robots"))
    pages.select(col("page_url"), noidx.as("noindex"),
      nofollow.as("nofollow"))
  }

  /** FOLLOWABLE outlinks of real crawled pages — [[linksOf]] minus what
    * the page forbids: pages declaring meta-robots `nofollow` (or
    * `none`) contribute NO outlinks, and an `<a rel=nofollow>` link
    * drops individually (the de-facto link-level grammar; `rel` value
    * lists split on spaces). This is the frame a polite frontier
    * builder must consume instead of [[linksOf]]. Row-level extract +
    * ONE distinct shuffle, same as linksOf. */
  def followableLinksOf(pages: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(pages.sparkSession)
    val ws = "[ \\t\\n\\f\\r]*"
    val pageNofollow =
      robotsTokenFlags(metaField(col("html"), "name", "robots"))._2
    pages
      .filter(!pageNofollow)
      .select(col("page_url"), effBase.as("_base"),
        explode(regexp_extract_all(col("html"),
          lit("(?is)<a\\s[^>]*>"), lit(0))).as("tag"))
      // quotes OPTIONAL (the nextEdgesOf/feedLinksOf leniency): an
      // unquoted <a rel=nofollow href=...> must drop too. The trailing
      // class is the hard boundary a bare "nofollow" needs so
      // rel="nofollower" does NOT match — every tag ends in '>', so a
      // real directive is always followed by one of these. The LEADING
      // class anchors `rel` to an attribute boundary (whitespace or a
      // closing quote) so `rel=nofollow` TEXT inside another
      // attribute's value — <a href="/out?rel=nofollow"> — does not
      // drop a followable link (round 18)
      .filter(!col("tag").rlike(
        s"(?i)[ \"'\\t\\n\\f\\r]rel$ws=$ws[\"']?([^\"'>]*[ ,])?nofollow[ ,\"'>\\t\\n\\f\\r]"))
      .select(col("page_url"),
        UrlOps.canonIdn(UrlOps.resolve(col("_base"),
          regexp_extract(col("tag"),
            s"(?i)href$ws=$ws[\"']([^\"']*)", 1))).as("dst_url"))
      .filter(col("dst_url").rlike("^https?://"))
      .distinct()
  }

  /** §2 `q_noindex`: page-level robots directives under the oracle —
    * the planted-truth construction: each synthetic page carries a
    * `<meta name=robots>` whose content cycles messy spellings by
    * doc_id%4 (`noindex, follow` / `index, NOFOLLOW` / a spaced `none`
    * / `index, follow`), so the oracle states the moduli truth while
    * Spark must parse the attribute pair and tokenize the value
    * (case-insensitive, `none` expands to both flags). */
  def noindexFlags(documents: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(documents.sparkSession)
    val m = col("doc_id") % 4
    val content = when(m === 0, "noindex, follow")
      .when(m === 1, "index, NOFOLLOW")
      .when(m === 2, " none ")
      .otherwise("index, follow")
    val html = concat(
      lit("<html><head><meta name=\"robots\" content=\""), content,
      lit("\"><title>t</title></head><body><p>text</p></body></html>"))
    val (noidx, nofollow) = robotsTokenFlags(
      metaField(html, "name", "robots"))
    documents
      .select(col("doc_id"), noidx.as("noindex"), nofollow.as("nofollow"))
      .orderBy("doc_id")
  }

  // ---------- pagination chains (round 16 continuation — multi-page
  // articles: a real news/docs corpus splits one document across
  // /art/1 → /art/2 → /art/3 behind <link rel=next>; an ingest that
  // treats parts as unrelated pages dedups/scores/packs them wrongly,
  // so the chain must be assembled BEFORE the content operators) ----

  /** `rel=next` edges of real crawled pages — (page canon, next canon),
    * attributes in any order, base-href honored, fetch-log identity.
    * The prev direction is redundant on well-formed sites and ignored
    * (next edges alone define the order). */
  private[graft] def nextEdgesOf(pages: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(pages.sparkSession)
    val ws = "[ \\t\\n\\f\\r]*"
    pages
      .select(col("page_url"), effBase.as("_base"),
        explode(regexp_extract_all(col("html"),
          lit("(?is)<link[ \\t\\n\\f\\r][^>]*>"), lit(0))).as("tag"))
      .filter(col("tag").rlike(s"(?i)rel$ws=$ws[\"']?next[\"' >]"))
      .select(UrlOps.canonIdn(col("page_url")).as("src"),
        UrlOps.canonIdn(UrlOps.resolve(col("_base"),
          regexp_extract(col("tag"),
            s"(?i)href$ws=$ws[\"']([^\"']*)", 1))).as("dst"))
      .filter(col("dst").rlike("^https?://") && col("src") =!= col("dst"))
      .distinct()
  }

  /** Pagination CHAINS over real crawled pages: heads (pages no next
    * edge points AT) walk their rel=next successors a bounded number
    * of hops — one url-keyed equi-join per hop, the `q_redirects`
    * bounded-unrolling shape (real articles paginate shallowly; the
    * cap also defuses planted cycles, which have no head and drop
    * entirely). Output one row per chain member: (chain_key = the head
    * URL, page_url, pos 1-based) — the frame a consumer ORDERS BY to
    * reassemble the article text before dedup/scoring/packing. */
  def paginationChainsOf(pages: DataFrame, maxParts: Int = 8): DataFrame = {
    val edges = nextEdgesOf(pages)
      // head detection AND every hop read it
      .transform(Materialize(_, eager = false))
    val heads = edges.join(
      edges.select(col("dst").as("src")), Seq("src"), "left_anti")
      .select(col("src")).distinct()
    val first = heads.select(col("src").as("chain_key"),
      col("src").as("page_url"), lit(1).as("pos"))
    val hops = (2 to maxParts).scanLeft(first) { (cur, k) =>
      // fresh column names per hop — the repeated edge frame would
      // otherwise trip the ambiguous-self-join check
      val e = edges.select(col("src").as("_hop_src"),
        col("dst").as("_hop_dst"))
      cur.join(e, col("page_url") === col("_hop_src"))
        .select(col("chain_key"), col("_hop_dst").as("page_url"),
          lit(k).as("pos"))
    }
    hops.reduce(_.unionByName(_)).orderBy("chain_key", "pos")
  }

  /** rel=next CYCLES (round 17) — [[paginationChainsOf]] detects heads
    * by anti-join, so a cycle (`a → b → a`, the shape a session-id trap
    * mints) has no head and its members silently vanish from the chain
    * output. This face SURFACES them: follow every next pointer up to
    * `maxParts` hops; returning to the start marks the orbit, and the
    * orbit itself is the MUTUALLY-reachable set (round 18) — a page
    * with several rel=next edges cannot drag off-orbit pages into the
    * key or the length. Output (chain_key = the orbit's
    * lexicographic-min member, page_url, cycle_len) — a consumer drops these from the
    * reassembly frame, or feeds the URLs to the trap ledger beside
    * [[graft.operators.CrawlOps.crawlTrapsBy]]. Orbits longer than
    * `maxParts` stay invisible, the same bound the chain walk already
    * accepts. Scale shape: the same bounded url-keyed equi-join per hop
    * over the link-scale edge frame; never a driver loop. */
  def paginationCyclesOf(pages: DataFrame, maxParts: Int = 8): DataFrame = {
    val edges = nextEdgesOf(pages)
      // every hop reads it
      .transform(Materialize(_, eager = false))
    val init = edges.select(col("src").as("start"), col("dst").as("cur"))
    val walks = (2 to maxParts).scanLeft(init) { (cur, _) =>
      val e = edges.select(col("src").as("_hop_src"),
        col("dst").as("_hop_dst"))
      cur.join(e, col("cur") === col("_hop_src"))
        .select(col("start"), col("_hop_dst").as("cur"))
    }
    val visited = Materialize(walks.reduce(_.unionByName(_)), eager = false)
    val onCycle = visited.filter(col("cur") === col("start"))
      .select(col("start")).distinct()
    // the ORBIT is the mutually-reachable set, not everything the walk
    // touched: a page minting MULTIPLE rel=next edges (round 18 — the
    // trap shape allows it) lets the walk stray off-orbit, which would
    // skew min(cur) and overstate countDistinct. Keep (start, cur)
    // only when start is also reachable FROM cur — the strongly-
    // connected component within the hop bound
    val orbit = visited.join(
      visited.select(col("start").as("cur"), col("cur").as("_back")),
      Seq("cur"))
      .filter(col("_back") === col("start"))
      .select(col("start"), col("cur"))
    orbit.join(onCycle, Seq("start"))
      .groupBy(col("start"))
      .agg(min(col("cur")).as("chain_key"),
        countDistinct(col("cur")).as("cycle_len"))
      .select(col("chain_key"), col("start").as("page_url"), col("cycle_len"))
      .orderBy("chain_key", "page_url")
  }

  /** §2 `q_pagination`: chain assembly under the oracle — each doc's
    * article (g = doc_id % 50) splits across three parts wired
    * `/art/g/1 → 2 → 3` by rel=next (part 2's link rides REVERSED
    * attribute order; prev links present and correctly ignored), so
    * the oracle states the construction truth (3 rows per distinct
    * (host, g), chain_key = part 1) while Spark must parse the link
    * grammar, detect heads, and walk the real joins. */
  def pagination(documents: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(documents.sparkSession)
    val host = concat(col("source"), lit(".example.com"))
    val g = (col("doc_id") % 50).cast("string")
    def part(p: Column): Column = concat(lit("http://"), col("_h"),
      lit("/art/"), col("_g"), lit("/"), p.cast("string"))
    val withP = graft.sources.Tables.spread(
      documents.select(col("doc_id"), col("source")))
      .select(col("doc_id"), host.as("_h"), g.as("_g"),
        explode(sequence(lit(1), lit(3))).as("p"))
    val nextLink = when(col("p") === 1,
      concat(lit("<link rel=\"next\" href=\"http://"), col("_h"),
        lit("/art/"), col("_g"), lit("/2\">")))
      .when(col("p") === 2,
        concat(lit("<link href='http://"), col("_h"), lit("/art/"),
          col("_g"), lit("/3' rel='next'>")))
      .otherwise(lit(""))
    val prevLink = when(col("p") > 1,
      concat(lit("<link rel=\"prev\" href=\"http://"), col("_h"),
        lit("/art/"), col("_g"), lit("/"), (col("p") - 1).cast("string"),
        lit("\">"))).otherwise(lit(""))
    val pages = withP.select(
      part(col("p")).as("page_url"),
      concat(lit("<html><head>"), nextLink, prevLink,
        lit("</head><body>part</body></html>")).as("html"))
    paginationChainsOf(pages)
  }

  // ---------- JSON-LD structured data (round 16 continuation — the
  // schema.org route: modern pipelines read an article's OWN declared
  // metadata (headline, datePublished, image) from
  // <script type="application/ld+json"> before falling back to
  // heuristics; datePublished feeds freshness, headline/image are a
  // caption source beside rows 142/150) ----------

  private val LdBlockRE =
    "(?is)<script[^>]*type[ \\t\\n\\f\\r]*=[ \\t\\n\\f\\r]*" +
      "[\"']application/ld\\+json[\"'][^>]*>(.*?)</script>"

  private val LdSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("@type",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("headline",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("datePublished",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("image",
      org.apache.spark.sql.types.StringType)))

  /** JSON-LD article metadata of REAL crawled pages — one row per
    * `<script type="application/ld+json">` block, parsed by a REAL
    * JSON parser (`from_json`, permissive: a malformed block yields
    * NULL fields, never a crash — and the DuckDB twin is a real JSON
    * parser too, so the grammar is not regex-approximated in either
    * engine); `image` resolves against the effective base under the
    * fetch-log identity. Output (page_url, ld_type, headline,
    * date_published, image_url). Row-level extract + parse, zero
    * shuffles. */
  def jsonLdOf(pages: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(pages.sparkSession)
    val img = UrlOps.canonIdn(UrlOps.resolve(col("_base"),
      col("_j.image")))
    pages
      .select(col("page_url"), effBase.as("_base"),
        explode(regexp_extract_all(col("html"), lit(LdBlockRE), lit(1)))
          .as("block"))
      .withColumn("_j", from_json(col("block"), LdSchema))
      .select(col("page_url"),
        col("_j.@type").as("ld_type"),
        col("_j.headline").as("headline"),
        col("_j.datePublished").as("date_published"),
        when(img.rlike("^https?://"), img).as("image_url"))
  }

  /** §2 `q_jsonld`: JSON-LD extraction under the oracle — each
    * synthetic page embeds a NewsArticle block with moduli-derived
    * values, REAL JSON obstacles in place (multiline pretty-printing,
    * an escaped quote inside the headline, field order varied by
    * parity, a root-relative image needing resolution) plus a plain
    * `<script>` block that must not match; both engines parse with
    * their REAL JSON parsers, so this grades parser-level agreement,
    * not regex mimicry. */
  def jsonLd(documents: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(documents.sparkSession)
    val host = concat(col("source"), lit(".example.com"))
    val pageUrl = concat(lit("http://"), host, lit("/news/"),
      (col("doc_id") % 50).cast("string"), lit(".html"))
    val m9 = (col("doc_id") % 9).cast("string")
    val day = lpad(((col("doc_id") % 28) + 1).cast("string"), 2, "0")
    val core = concat(
      lit("\"headline\": \"Story \\\""), m9,
      lit("\\\" of the day\",\n  \"datePublished\": \"2026-07-"), day,
      lit("\",\n  \"image\": \"/img/"), m9, lit("3.jpg\""))
    val json = when(col("doc_id") % 2 === 0,
      concat(lit("{\n  \"@type\": \"NewsArticle\",\n  "), core, lit("\n}")))
      .otherwise(
        concat(lit("{\n  "), core, lit(",\n  \"@type\": \"NewsArticle\"\n}")))
    val html = concat(
      lit("<html><head><script>var x = 1;</script>" +
        "<script type=\"application/ld+json\">"), json,
      lit("</script></head><body>b</body></html>"))
    documents
      .select(col("doc_id"), pageUrl.as("page_url"), html.as("html"))
      .select(col("doc_id"),
        explode(regexp_extract_all(col("html"), lit(LdBlockRE), lit(1)))
          .as("block"), col("page_url"))
      .withColumn("_j", from_json(col("block"), LdSchema))
      .select(col("doc_id"),
        col("_j.@type").as("ld_type"),
        col("_j.headline").as("headline"),
        col("_j.datePublished").as("date_published"),
        UrlOps.canon(UrlOps.resolve(col("page_url"), col("_j.image")))
          .as("image_url"))
      .orderBy("doc_id")
  }

  // ---------- hreflang translation clusters (round 16 continuation —
  // a multilingual corpus carries the SAME article in N languages;
  // pages declare their translation set via <link rel=alternate
  // hreflang>, and a corpus builder groups them so language variants
  // sample/dedupe/mix as ONE article, not N unrelated pages) ----------

  /** (page_url, lang, dst_url) triples from `<link rel="alternate"
    * hreflang="…" href="…">` declarations — attributes in ANY order
    * (whole-tag pull + per-attribute filters, the [[feedLinksOf]]
    * pattern), lang lowercased (BCP 47 tags are case-insensitive),
    * href resolved against the effective base under the fetch-log
    * identity. Row-level extract + one distinct shuffle. */
  def hreflangOf(pages: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(pages.sparkSession)
    val ws = "[ \\t\\n\\f\\r]*"
    pages
      .select(col("page_url"), effBase.as("_base"),
        explode(regexp_extract_all(col("html"),
          lit("(?is)<link[ \\t\\n\\f\\r][^>]*>"), lit(0))).as("tag"))
      .filter(col("tag").rlike(s"(?i)rel$ws=$ws[\"']?alternate") &&
        col("tag").rlike(s"(?i)hreflang$ws="))
      .select(col("page_url"),
        lower(regexp_extract(col("tag"),
          s"(?i)hreflang$ws=$ws[\"']([^\"']*)", 1)).as("lang"),
        UrlOps.canonIdn(UrlOps.resolve(col("_base"),
          regexp_extract(col("tag"),
            s"(?i)href$ws=$ws[\"']([^\"']*)", 1))).as("dst_url"))
      .filter(col("dst_url").rlike("^https?://") && col("lang") =!= "")
      .distinct()
  }

  /** Translation CLUSTERS over real crawled pages — [[hreflangOf]]
    * declarations as an undirected graph (a page and every alternate it
    * names are one article), resolved by the shared
    * [[DedupOps.connectedComponents]] core (URL vertices ride xxhash64
    * ids; the cluster key is the lexicographic min member URL, so the
    * output is hash-free and engine-comparable). One row per cluster:
    * (cluster_key, n_members, langs = the sorted distinct declared
    * language tags). Scale: declarations are page-bounded; edges =
    * one distinct shuffle; CC runs rounds-not-rows with per-round
    * checkpoints — the q_dedup_clusters shape over URL identity. */
  def hreflangClusters(pages: DataFrame): DataFrame = {
    val decls = hreflangOf(pages)
      .select(UrlOps.canonIdn(col("page_url")).as("src_url"),
        col("lang"), col("dst_url"))
      // vertices, edges, and lang agg read it
      .transform(Materialize(_, eager = false))
    val urls = decls.select(col("src_url").as("url"))
      .unionByName(decls.select(col("dst_url").as("url"))).distinct()
      .select(col("url"), xxhash64(col("url")).as("doc_id"))
      // CC vertices AND the member join
      .transform(Materialize(_, eager = false))
    val edges = decls
      .select(xxhash64(col("src_url")).as("doc_a"),
        xxhash64(col("dst_url")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b")).distinct()
    val urlLang = decls.select(col("dst_url").as("url"), col("lang"))
      .distinct()
    DedupOps.connectedComponents(urls.select(col("doc_id")), edges)
      .join(urls, Seq("doc_id"))
      .join(urlLang, Seq("url"), "left")
      .groupBy(col("cluster_id"))
      .agg(min(col("url")).as("cluster_key"),
        countDistinct(col("url")).as("n_members"),
        concat_ws(" ", array_sort(collect_set(col("lang")))).as("langs"))
      .select(col("cluster_key"), col("n_members"), col("langs"))
      .orderBy("cluster_key")
  }

  /** §2 `q_hreflang`: translation clusters under the oracle — each doc
    * publishes its article (g = doc_id % 50) in its own language
    * (doc_id % 3 → en/de/fr) and declares the full three-language
    * alternate set (one link in REVERSED single-quoted attribute order
    * so the any-order pull is graded; the set includes self, per the
    * published convention), so every (host, g) article clusters its
    * three language URLs regardless of which variants were crawled —
    * the oracle states the construction truth (min-URL key, 3 members,
    * `de en fr`) while Spark must parse, resolve, canonicalize, and
    * run the real CC. */
  def hreflang(documents: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(documents.sparkSession)
    val host = concat(col("source"), lit(".example.com"))
    val g = (col("doc_id") % 50).cast("string")
    val ownLang = when(col("doc_id") % 3 === 0, "en")
      .when(col("doc_id") % 3 === 1, "de").otherwise("fr")
    val pageUrl = concat(lit("http://"), host, lit("/"), ownLang,
      lit("/art/"), g)
    def alt(l: String): Column = concat(
      lit(s"""<link rel="alternate" hreflang="$l" href="http://"""), host,
      lit(s"/$l/art/"), g, lit("\">"))
    val deMessy = concat(lit("<link hreflang='de' href='http://"), host,
      lit("/de/art/"), g, lit("' rel='alternate'>"))
    val html = concat(lit("<html><head>"), alt("en"), deMessy, alt("fr"),
      lit("</head><body>a</body></html>"))
    hreflangClusters(graft.sources.Tables.spread(
      documents.select(col("doc_id"), col("source")))
      .select(pageUrl.as("page_url"), html.as("html")))
  }

  // ---------- image-text pair mining (round 16 — the LAION-shape
  // bridge from a web crawl to a multimodal training set) ----------

  /** Figure blocks delimit caption SCOPE: every `<img>` inside a
    * `<figure>…</figure>` inherits that figure's `<figcaption>` text
    * as its fallback caption; imgs outside any figure have none. */
  private val FigRE = "(?is)<figure[^>]*>.*?</figure>"
  private val ImgRE = "(?is)<img[^>]*>"
  // anchored ^ so only a figure-block scope (never the figure-stripped
  // remainder) can yield a caption
  private val CapRE = "(?is)^<figure[^>]*>.*?<figcaption[^>]*>(.*?)</figcaption>"
  // explicit whitespace class — Java \s includes \x0B, RE2's does not
  // (the MainContent rule); the pattern TEXT is shared with the twin
  private val WsCls = "[ \\t\\n\\f\\r]"

  /** HTML attribute value with quote-style precedence double > single >
    * unquoted; an EMPTY value counts as absent (`alt=""` is decorative-
    * image markup, not a caption — WAI-ARIA's own convention). The
    * leading whitespace requirement keeps `data-alt=` from matching
    * `alt`. */
  private def attrOf(tag: Column, name: String): Column = {
    def nn(re: String): Column = {
      val v = regexp_extract(tag, re, 1)
      when(v =!= "", v)
    }
    coalesce(
      nn(s"(?is)$WsCls$name$WsCls*=$WsCls*\"([^\"]*)\""),
      nn(s"(?is)$WsCls$name$WsCls*=$WsCls*'([^']*)'"),
      nn(s"(?is)$WsCls$name$WsCls*=$WsCls*([^ \\t\\n\\f\\r>\"']+)"))
  }

  /** Inline-markup cleanup for caption text: tags → space, whitespace
    * collapsed, space-trimmed (the [[graft.plans.MainContent]] text
    * rule, shared verbatim with the SQL twin). */
  private def cleanInline(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, "(?s)<[^>]*>", " "),
      "[ \\t\\n\\f\\r]+", " "))

  /** The shared extraction core: one page row → one row per `<img>` tag
    * carrying `src` (attr precedence above) and `alt_text` = first of
    * alt, title, enclosing-figure figcaption; imgs with no src drop.
    * ONE evaluation of the page subtree: the figure blocks and the
    * figure-stripped remainder explode together as caption SCOPES
    * (`concat(blocks, array(remainder))`), so the html column is never
    * consumed by two branches (the recompute-per-branch rule). */
  private def imgTagsOf(pages: DataFrame, keep: Seq[String]): DataFrame = {
    val scopes = concat(
      regexp_extract_all(col("html"), lit(FigRE), lit(0)),
      array(regexp_replace(col("html"), FigRE, "")))
    val capRaw = cleanInline(regexp_extract(col("scope"), CapRE, 1))
    pages
      .select(keep.map(col) :+ explode(scopes).as("scope"): _*)
      .select(keep.map(col) ++ Seq(
        when(capRaw =!= "", capRaw).as("figcap"),
        explode(regexp_extract_all(col("scope"), lit(ImgRE), lit(0)))
          .as("tag")): _*)
      .select(keep.map(col) ++ Seq(
        // lazy-load rule (the lazysizes pattern, everywhere on the real
        // web): when `src` is absent or a `data:` placeholder, the real
        // image rides `data-src` — otherwise `src` wins; `srcset`'s
        // FIRST candidate URL is the last resort (any candidate is a
        // valid rendition of the same image; first = deterministic)
        attrOf(col("tag"), "src").as("_src0"),
        attrOf(col("tag"), "data-src").as("_dsrc"),
        attrOf(col("tag"), "srcset").as("_srcset"),
        coalesce(attrOf(col("tag"), "alt"), attrOf(col("tag"), "title"),
          col("figcap")).as("alt_text")): _*)
      .withColumn("_sset", {
        val first = regexp_extract(col("_srcset"),
          "^[ \\t\\n\\f\\r]*([^ \\t\\n\\f\\r,]+)", 1)
        when(first =!= "", first)
      })
      .withColumn("src",
        when(col("_src0").isNull || col("_src0").startsWith("data:"),
          coalesce(col("_dsrc"), col("_sset"))).otherwise(col("_src0")))
      .filter(col("src").isNotNull)
  }

  /** Image-text pairs of REAL crawled pages — the general
    * (page_url, html) face: every `<img src>` resolves against the
    * page's effective base (`<base href>` honored, the [[linksOf]]
    * rule) and canonicalizes under the FETCH-LOG identity
    * ([[UrlOps.canonIdn]]), so the emitted `img_url` joins the binary
    * payload corpus keyed by the same canonical URL — crawl HTML on one
    * side, [[MultimodalOps.imageDhash]]'s decode estate on the other,
    * and this operator is the bridge between them (the LAION
    * construction). `alt_text` = alt > title > figcaption, NULL when a
    * page offers none (downstream curation decides whether captionless
    * pairs survive). Row-level extract + ONE distinct shuffle on
    * (page, img, text) — at 100 TB this is a pure map over the page
    * corpus followed by the join against the (much smaller) image
    * corpus, which shuffles on the canonical URL exactly like the
    * fetch-log joins. */
  def imagePairsOf(pages: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(pages.sparkSession)
    imgTagsOf(pages.withColumn("_base", effBase), Seq("page_url", "_base"))
      .select(col("page_url"),
        UrlOps.canonIdn(UrlOps.resolve(col("_base"), col("src")))
          .as("img_url"),
        col("alt_text"))
      .filter(col("img_url").rlike("^https?://"))
      .distinct()
  }

  /** Media-source mining for `<video>` / `<audio>` — the audio/video
    * twin of [[imagePairsOf]], completing the multimodal bridge for the
    * other two decode estates (WAV/G.711 audio, the AVI container):
    * each media ELEMENT yields one row per source — the element's own
    * `src`, every nested `<source src>`, and (video) the `poster`
    * frame as kind `poster` (a poster is an IMAGE harvest: it joins
    * the image corpus, not the video one). `caption_text` = the
    * element's `title` > `aria-label` (media captioning is attribute-
    * based on the real web; `<track>` subtitle files are a fetch
    * target, not inline text). URLs resolve/canonicalize under the
    * fetch-log identity exactly like image pairs; `data:` and
    * non-http(s) sources drop. Output (page_url, media_url, kind ∈
    * video|audio|poster, caption_text), distinct. Spec-graded (the
    * block regexes need no DuckDB twin — this face has no oracle
    * surface); row-level extract + ONE distinct shuffle. */
  def mediaPairsOf(pages: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(pages.sparkSession)
    mediaSrcOf(pages.withColumn("_base", effBase), Seq("page_url", "_base"))
      .select(col("page_url"),
        UrlOps.canonIdn(UrlOps.resolve(col("_base"), col("src")))
          .as("media_url"),
        col("kind"), col("caption_text"))
      .filter(col("media_url").rlike("^https?://"))
      .distinct()
  }

  /** The shared media-extraction core (the [[imgTagsOf]] shape): one
    * page row → one row per media SOURCE with its kind and caption. */
  private def mediaSrcOf(pages: DataFrame, keep: Seq[String]): DataFrame = {
    val blocks = concat(
      regexp_extract_all(col("html"),
        lit("(?is)<video[^>]*>.*?</video>"), lit(0)),
      regexp_extract_all(col("html"),
        lit("(?is)<audio[^>]*>.*?</audio>"), lit(0)))
    pages
      .select(keep.map(col) :+ explode(blocks).as("block"): _*)
      .withColumn("kind",
        when(lower(col("block")).startsWith("<video"), "video")
          .otherwise("audio"))
      .withColumn("_head",
        regexp_extract(col("block"), "(?is)^<[a-z]+[^>]*>", 0))
      .withColumn("caption_text",
        coalesce(attrOf(col("_head"), "title"),
          attrOf(col("_head"), "aria-label")))
      .select(keep.map(col) ++ Seq(col("kind"), col("caption_text"),
        col("_head"),
        explode(concat(array(col("_head")),
          regexp_extract_all(col("block"),
            lit("(?is)<source[^>]*>"), lit(0)))).as("tag")): _*)
      .withColumn("_src", attrOf(col("tag"), "src"))
      // the poster attr lives on the element head only
      .withColumn("_poster",
        when(col("tag") === col("_head"), attrOf(col("tag"), "poster")))
      .select(keep.map(col) ++ Seq(col("caption_text"),
        explode(filter(array(
          struct(col("_src").as("u"), col("kind").as("k")),
          struct(col("_poster").as("u"), lit("poster").as("k"))),
          c => c.getField("u").isNotNull)).as("c")): _*)
      .select(keep.map(col) ++ Seq(col("c.u").as("src"),
        col("c.k").as("kind"), col("caption_text")): _*)
  }

  /** The synthetic media page for `q_media_pairs` — a titled video
    * with poster + two `<source>` children (one single-quoted, one
    * double-quoted), an aria-labelled audio with an UNQUOTED source
    * src, a caption-less bare video (NULL caption_text survives), and
    * a `data:`-src audio (dropped). Left = literal, Right = key. */
  private val MediaParts: Seq[Either[String, String]] = Seq(
    Left("<html><body><p>media page</p><video title=\"clip "), Right("m7"),
    Left("\" poster=\"th/p"), Right("m7"), Left(".png\" src=\"v/a"),
    Right("m7"), Left(".avi\"><source src=\"v/a"), Right("m7"),
    Left(".webm\"><source src='v/a"), Right("m7"),
    Left(".mp4'></video><audio aria-label=\"pod "), Right("m9"),
    Left("\"><source src=snd/b"), Right("m9"),
    Left(".wav></audio><video src=\"/solo/c"), Right("m5"),
    Left(".ogv\"></video>" +
      "<audio src=\"data:audio/wav;base64,AAAA\" title=\"x\"></audio>" +
      "</body></html>"))

  /** The synthetic media universe as (doc_id, page_url, html) — shared
    * by `q_media_pairs` and `q_media_dataset`. */
  private def mediaSynthPages(documents: DataFrame): DataFrame = {
    val host = concat(col("source"), lit(".example.com"))
    val pageUrl = concat(lit("http://"), host, lit("/media/"),
      (col("doc_id") % 50).cast("string"), lit("/page.html"))
    // spread a small scan before the per-page regex mining downstream
    // (guide §2.5 input skew; the shuffle carries only doc_id + source)
    graft.sources.Tables.spread(
      documents.select(col("doc_id"), col("source")))
      .select(col("doc_id"), pageUrl.as("page_url"),
        synthPage(MediaParts).as("html"))
  }

  /** §2 `q_media_pairs`: media-source mining under the oracle — the
    * synthetic media page rides the SAME [[mediaSrcOf]] core as the
    * real face ([[mediaPairsOf]] — which swaps in base-href handling
    * and canonIdn), then resolve → [[UrlOps.canon]]. Expected yield:
    * six rows per document — three video sources sharing the element
    * caption, the poster frame, the unquoted-src audio, and one
    * caption-less bare video; the `data:` audio drops. */
  def mediaPairs(documents: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(documents.sparkSession)
    val pages = mediaSynthPages(documents)
    mediaSrcOf(pages.withColumn("_base", col("page_url")),
      Seq("doc_id", "page_url", "_base"))
      .select(col("doc_id"),
        UrlOps.canon(UrlOps.resolve(col("_base"), col("src")))
          .as("media_url"),
        col("kind"), col("caption_text"))
      .filter(col("media_url").isNotNull)
      .distinct()
      .orderBy("doc_id", "media_url")
  }

  /** The AUDIO dataset builder over mined media pairs — the audio twin
    * of [[imageDatasetFromPairs]]: payloads keyed by the canonical
    * media URL decode through the real WAV walk
    * ([[MultimodalOps.audioAhash]] — a payload that is NOT valid WAV
    * drops out, the decode gate), aHash clusters keep the
    * best-captioned representative with (n_pairs, n_pages, n_urls)
    * accounting. */
  private def mediaDatasetFromPairs(pairs: DataFrame,
                                    payloads: DataFrame): DataFrame = {
    val snd = payloads.select(col("media_url"), col("payload"))
    val hashes = MultimodalOps.audioAhash(
      snd.select(xxhash64(col("media_url")).as("doc_id"), col("payload")))
    mediaClusterAgg(pairs, snd
      .select(col("media_url"), xxhash64(col("media_url")).as("doc_id"))
      .join(hashes, "doc_id")
      .select(col("media_url"), col("dhash")))
  }

  /** The shared cluster aggregation of the media dataset builders over
    * any (media_url, dhash) identity frame — the [[imageDatasetFromPairs]]
    * rule set (best caption wins, coalesced compare fields). */
  private def mediaClusterAgg(pairs: DataFrame,
                              urlHash: DataFrame): DataFrame =
    pairs
      .join(urlHash, "media_url")
      .groupBy(col("dhash"))
      .agg(
        max(struct(
          coalesce(length(col("caption_text")), lit(-1)).as("l"),
          coalesce(col("caption_text"), lit("")).as("a"),
          col("media_url").as("u"),
          col("caption_text").as("alt"))).as("_rep"),
        count(lit(1)).as("n_pairs"),
        countDistinct(col("page_url")).as("n_pages"),
        countDistinct(col("media_url")).as("n_urls"))
      .select(col("dhash"), col("_rep.u").as("media_url"),
        col("_rep.alt").as("caption_text"),
        col("n_pairs"), col("n_pages"), col("n_urls"))

  /** §2 `q_video_dataset`: the VIDEO dataset builder under the oracle —
    * the modality triptych's third face, adding the CONTAINER dimension
    * the image/audio builders (rows 146-147) don't exercise: only the
    * `.avi` URLs carry real containers (two [[MultimodalOps.plantedImage]]
    * frames per video under per-URL brightness offsets — every frame
    * hashes to g · 0x0101010101010101, so the per-video identity
    * min-frame-hash is the planted value); `.webm`/`.mp4`/`.ogv` URLs
    * carry junk the AVI walk REJECTS (a container the estate cannot
    * decode must yield NO identity, never a wrong one — the gate is
    * graded). Spark: mine → join → container walk → frame dHash →
    * min-hash identity → cluster → caption-argmax; DuckDB: the shared
    * media-pair CTEs restricted to `.avi` + the generative model. */
  def videoDataset(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    graft.plans.GraftFunctions.register(spark)
    val pages = mediaSynthPages(documents)
    val pairs = Materialize(mediaPairsOf(pages), eager = false)
    val urls = pairs.select(col("media_url"), col("kind")).distinct()
      .withColumn("_g", regexp_extract(col("media_url"),
        "([0-9]+)\\.[a-z0-9]+$", 1).cast("long"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_url",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.BinaryType)))
    val rdd = urls.rdd.mapPartitions(_.map { r =>
      val u = r.getString(0)
      val payload =
        if (r.getString(1) == "video" && u.endsWith(".avi"))
          AviOps.buildAvi(Seq(
            MultimodalOps.plantedImage(r.getLong(2) + 12L * (u.length % 30), 12),
            MultimodalOps.plantedImage(
              r.getLong(2) + 12L * ((u.length + 7) % 30), 12)), 9, 8)
        else ("JUNK" + u).getBytes("UTF-8")
      org.apache.spark.sql.Row(u, payload)
    })
    val vids = spark.createDataFrame(rdd, schema)
    val hashes = AviOps.videoDhashes(
      vids.select(xxhash64(col("media_url")).as("doc_id"), col("payload")),
      everyNth = 1)
      .groupBy(col("doc_id")).agg(min(col("dhash")).as("dhash"))
    mediaClusterAgg(pairs, vids
      .select(col("media_url"), xxhash64(col("media_url")).as("doc_id"))
      .join(hashes, "doc_id")
      .select(col("media_url"), col("dhash")))
      .orderBy("dhash")
  }

  /** §2 `q_media_dataset`: the AUDIO dataset builder under the oracle —
    * the [[imageDataset]] discipline on the audio estate: every mined
    * media URL gets a payload, but ONLY the audio-kind ones get REAL
    * WAV bytes (the [[MultimodalOps.plantedAudio]] construction, aHash
    * = g · 0x0101010101010101 with g = the URL's trailing number and a
    * per-URL brightness offset the window-mean decode must normalize
    * away); video/poster URLs get deterministic JUNK bytes the WAV
    * walk REJECTS — so the decode gate itself is part of what the hash
    * check grades. DuckDB computes the expected clusters from the
    * shared pair CTEs restricted to the audio kind; Spark must arrive
    * there through mine → payload join → real WAV decode → aHash →
    * cluster → caption-argmax. */
  def mediaDataset(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    graft.plans.GraftFunctions.register(spark)
    val pages = mediaSynthPages(documents)
    val pairs = Materialize(mediaPairsOf(pages), eager = false)
    val urls = pairs.select(col("media_url"), col("kind")).distinct()
      .withColumn("_g", regexp_extract(col("media_url"),
        "([0-9]+)\\.[a-z0-9]+$", 1).cast("long"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_url",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.BinaryType)))
    val rdd = urls.rdd.mapPartitions(_.map { r =>
      val u = r.getString(0)
      val payload =
        if (r.getString(1) == "audio")
          MultimodalOps.plantedAudio(r.getLong(2) + 40L * (u.length % 30), 40)
        else ("JUNK" + u).getBytes("UTF-8")
      org.apache.spark.sql.Row(u, payload)
    })
    mediaDatasetFromPairs(pairs, spark.createDataFrame(rdd, schema))
      .orderBy("dhash")
  }

  /** §2-C `imagePairsStream`: LIVE image-pair mining — [[imagePairsOf]]
    * per micro-batch of freshly-crawled (page_url, html) rows. The
    * extract is a pure per-page map, so the stream is STATELESS per
    * trigger (the unified convention: cross-batch continuity — pair
    * dedup against the standing corpus — is the persisted store's job,
    * via `imageDhashIncremental` on the payload side). Batch twin:
    * `q_image_pairs`' shared [[imgTagsOf]] core, so batch and stream
    * cannot drift on the extraction rules. */
  def imagePairsStream(pages: DataFrame)
                      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    pages.writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         id: Long) => sink(imagePairsOf(batch.toDF()), id)
      }
      .start()

  /** The multimodal DATASET BUILDER (round 16) — the img2dataset +
    * dedup endgame in one face: [[imagePairsOf]]'s mined (page, img,
    * text) pairs join the binary payload corpus on the canonical URL,
    * every payload perceptual-hashes through the real decode estate
    * ([[MultimodalOps.imageDhash]] — PPM/BMP/PNG/QOI/JPEG/GIF), and
    * each dHash cluster keeps ONE representative pair: the
    * BEST-CAPTIONED one (longest caption wins — the signal a
    * caption-trained model actually wants; remaining ties break
    * lexicographically, captionless pairs lose to any caption), with
    * (n_pairs, n_pages, n_urls) accounting per cluster. `payloads` is
    * (img_url, payload) — one payload per canonical URL (the fetch
    * log's own invariant). Scale: the pair mine is a pure map + one
    * distinct; the payload join keys on the canonical URL; payloads
    * die inside [[MultimodalOps.imageDhash]]'s tasks (binary never
    * rides a shuffle); the cluster agg keys on the 64-bit dhash. */
  def imageDatasetOf(pages: DataFrame, payloads: DataFrame): DataFrame =
    imageDatasetFromPairs(imagePairsOf(pages), payloads)

  /** [[imageDatasetOf]] over an already-mined pair frame (the q-face
    * reuses its pairs for the payload universe too — mining once). The
    * representative struct COALESCES its compare fields (caption
    * length −1 / empty string for a NULL caption) so the "longest
    * caption wins, captionless loses" rule is engine-independent —
    * struct comparison with a NULL field would otherwise hinge on
    * null-ordering conventions the two engines disagree on. */
  private def imageDatasetFromPairs(pairs: DataFrame,
                                    payloads: DataFrame): DataFrame = {
    val imgs = payloads.select(col("img_url"), col("payload"))
    val hashes = MultimodalOps.imageDhash(
      imgs.select(xxhash64(col("img_url")).as("doc_id"), col("payload")))
    val urlHash = imgs
      .select(col("img_url"), xxhash64(col("img_url")).as("doc_id"))
      .join(hashes, "doc_id")
      .select(col("img_url"), col("dhash"))
    pairs
      .join(urlHash, "img_url")
      .groupBy(col("dhash"))
      .agg(
        max(struct(
          coalesce(length(col("alt_text")), lit(-1)).as("l"),
          coalesce(col("alt_text"), lit("")).as("a"),
          col("img_url").as("u"),
          col("alt_text").as("alt"))).as("_rep"),
        count(lit(1)).as("n_pairs"),
        countDistinct(col("page_url")).as("n_pages"),
        countDistinct(col("img_url")).as("n_urls"))
      .select(col("dhash"), col("_rep.u").as("img_url"),
        col("_rep.alt").as("alt_text"),
        col("n_pairs"), col("n_pages"), col("n_urls"))
  }

  /** The synthetic gallery page for `q_image_pairs` — every messy
    * `<img>` form the extractor must survive: a relative double-quoted
    * src with alt, an UPPER-CASE single-quoted SRC with TITLE fallback,
    * an unquoted src inside a `<figure>` whose `<figcaption>` carries
    * inline markup and stray spaces, a `data:` URI (dropped — not
    * fetchable), a src-less img (dropped), a LAZY-LOAD img whose src
    * is a `data:` placeholder and whose real image rides `data-src`
    * (the lazysizes pattern), a src-LESS responsive img whose only
    * source is a `srcset` candidate list, an exact duplicate (distinct
    * bites), and a protocol-relative src with `alt=""` (empty = absent
    * → NULL alt_text). Left = literal, Right = per-row key. */
  private val ImgParts: Seq[Either[String, String]] = Seq(
    Left("<html><body><p>gallery intro text</p><img src=\"img/a"),
    Right("m7"), Left(".png\" alt=\"red fox "), Right("m7"),
    Left("\"><IMG SRC='/media/b"), Right("m9"),
    Left(".jpg' TITLE='portrait "), Right("m9"),
    Left("'><figure data-k=\"1\"><img src=c"), Right("m5"),
    Left(".gif><figcaption> Caption <b>for</b> item "), Right("m5"),
    Left(" </figcaption></figure>" +
      "<img src=\"data:image/png;base64,AAAA\" alt=\"inline\">" +
      "<img alt=\"no source here\">" +
      "<img src=\"data:image/gif;base64,R0lA\" data-src=\"lazy/e"),
    Right("m3"), Left(".png\" alt=\"lazy loaded "), Right("m3"),
    Left("\"><img srcset=\"sm/g"), Right("m9"),
    Left(".png 1x, lg/g"), Right("m9"),
    Left(".png 2x\" alt=\"responsive "), Right("m9"),
    Left("\"><img src=\"img/a"), Right("m7"), Left(".png\" alt=\"red fox "),
    Right("m7"),
    Left("\"><img src=\"//cdn."), Right("host"), Left("/shared/d"),
    Right("m11"), Left(".png\" alt=\"\"></body></html>"))

  /** §2 `q_image_pairs`: image-text pair mining under the oracle — the
    * synthetic gallery page rides the SAME [[imgTagsOf]] core as the
    * real face, then resolve → [[UrlOps.canon]] (the oracle-shared
    * identity; the real face swaps in canonIdn). Expected yield: six
    * pairs per document — alt-captioned, title-captioned,
    * figcaption-captioned, lazy-loaded, srcset-only (first candidate),
    * and one NULL-text pair. */
  /** The synthetic gallery universe as (doc_id, page_url, html) — the
    * shared input of `q_image_pairs` and `q_image_dataset`. */
  private def imgSynthPages(documents: DataFrame): DataFrame = {
    val host = concat(col("source"), lit(".example.com"))
    val pageUrl = concat(lit("http://"), host, lit("/gal/"),
      (col("doc_id") % 50).cast("string"), lit("/page.html"))
    // spread a small scan before the per-page regex mining downstream
    graft.sources.Tables.spread(
      documents.select(col("doc_id"), col("source")))
      .select(col("doc_id"), pageUrl.as("page_url"),
        synthPage(ImgParts).as("html"))
  }

  def imagePairs(documents: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(documents.sparkSession)
    val pages = imgSynthPages(documents)
    imgTagsOf(pages.withColumn("_base", col("page_url")),
      Seq("doc_id", "page_url", "_base"))
      .select(col("doc_id"), col("page_url"),
        UrlOps.canon(UrlOps.resolve(col("_base"), col("src")))
          .as("img_url"),
        col("alt_text"))
      .filter(col("img_url").isNotNull)
      .distinct()
      .orderBy("doc_id", "img_url")
  }

  /** §2 `q_image_dataset`: the multimodal dataset BUILDER under the
    * oracle — the WHOLE LAION pipeline (mine pairs → join binary
    * payloads on the canonical URL → decode → perceptual-hash →
    * cluster → keep the best-captioned representative) hash-checked by
    * the planted-truth construction (the q_image_dedup_representative
    * discipline): each mined img_url gets a REAL PPM payload whose
    * pixel gradients encode group `g` = the URL's trailing number
    * ([[MultimodalOps.plantedImage]] — dHash = g · 0x0101010101010101
    * by construction, brightness varied per URL so the decode must
    * genuinely normalize it away), so the expected clusters, captions,
    * and counts are SQL-computable from the pair universe alone while
    * Spark reproduces them through the real decode → dhash → cluster →
    * caption-argmax pipeline. Pairs are mined ONCE (materialized —
    * the payload universe derives from the same frame). */
  def imageDataset(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    graft.plans.GraftFunctions.register(spark)
    val pages = imgSynthPages(documents)
    val pairs = Materialize(imagePairsOf(pages), eager = false)
    val urls = pairs.select(col("img_url")).distinct()
      .withColumn("_g", regexp_extract(col("img_url"),
        "([0-9]+)\\.[a-z]+$", 1).cast("long"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("img_url",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.BinaryType)))
    val rdd = urls.rdd.mapPartitions(_.map { r =>
      val u = r.getString(0)
      org.apache.spark.sql.Row(u,
        MultimodalOps.plantedImage(r.getLong(1) + 12L * (u.length % 30), 12))
    })
    imageDatasetFromPairs(pairs, spark.createDataFrame(rdd, schema))
      .orderBy("dhash")
  }

  /** The q_media_pairs extraction as a shared WITH body (through the
    * `rs2 (doc_id, page_url, r, kind, caption_text)` CTE) — shared by
    * the pair oracle and the audio-dataset oracle built on it. */
  private def mediaPairsCtes: String = {
    val vid = TextFuns.sqlLit("(?is)<video[^>]*>.*?</video>")
    val aud = TextFuns.sqlLit("(?is)<audio[^>]*>.*?</audio>")
    val headRe = TextFuns.sqlLit("(?is)^<[a-z]+[^>]*>")
    val srcTag = TextFuns.sqlLit("(?is)<source[^>]*>")
    s"""p AS (
       |  SELECT doc_id,
       |    'http://' || source || '.example.com/media/' || CAST(doc_id % 50 AS VARCHAR) || '/page.html' AS page_url,
       |    ${synthPageSql(MediaParts)} AS html
       |  FROM documents
       |), bl AS (
       |  SELECT doc_id, page_url,
       |    unnest(list_concat(regexp_extract_all(html, $vid, 0),
       |      regexp_extract_all(html, $aud, 0))) AS block
       |  FROM p
       |), hd AS (
       |  SELECT doc_id, page_url, block,
       |    CASE WHEN lower(block) LIKE '<video%' THEN 'video'
       |         ELSE 'audio' END AS kind,
       |    regexp_extract(block, $headRe, 0) AS head
       |  FROM bl
       |), cp AS (
       |  SELECT doc_id, page_url, block, kind, head,
       |    COALESCE(${attrSql("title", "head")},
       |      ${attrSql("aria-label", "head")}) AS caption_text
       |  FROM hd
       |), tg2 AS (
       |  SELECT doc_id, page_url, kind, head, caption_text,
       |    unnest(list_concat([head],
       |      regexp_extract_all(block, $srcTag, 0))) AS tag
       |  FROM cp
       |), at3 AS (
       |  SELECT doc_id, page_url, caption_text,
       |    unnest(list_filter([
       |      struct_pack(u := ${attrSql("src")}, k := kind),
       |      struct_pack(u := CASE WHEN tag = head
       |        THEN ${attrSql("poster")} END, k := 'poster')],
       |      c -> c.u IS NOT NULL)) AS c
       |  FROM tg2
       |), rs2 AS (
       |  SELECT doc_id, page_url,
       |    ${UrlOps.resolveSql("page_url", "c.u")} AS r,
       |    c.k AS kind, caption_text
       |  FROM at3
       |)""".stripMargin
  }

  /** The q_image_pairs extraction as a shared WITH body (through the
    * `rs (doc_id, page_url, r, alt_text)` CTE) — the single source of
    * truth for the pair oracle and the dataset oracle built on it. */
  private def imagePairsCtes: String = {
    val fig = TextFuns.sqlLit(FigRE)
    val img = TextFuns.sqlLit(ImgRE)
    val cap = TextFuns.sqlLit(CapRE)
    val capClean = s"trim(regexp_replace(regexp_replace(" +
      s"regexp_extract(scope, $cap, 1), '<[^>]*>', ' ', 'g'), " +
      "'[ \\t\\n\\f\\r]+', ' ', 'g'))"
    s"""p AS (
       |  SELECT doc_id,
       |    'http://' || source || '.example.com/gal/' || CAST(doc_id % 50 AS VARCHAR) || '/page.html' AS page_url,
       |    ${synthPageSql(ImgParts)} AS html
       |  FROM documents
       |), sc AS (
       |  SELECT doc_id, page_url,
       |    unnest(list_append(regexp_extract_all(html, $fig, 0),
       |      regexp_replace(html, $fig, '', 'g'))) AS scope
       |  FROM p
       |), tg AS (
       |  SELECT doc_id, page_url, NULLIF($capClean, '') AS figcap,
       |    unnest(regexp_extract_all(scope, $img, 0)) AS tag
       |  FROM sc
       |), at1 AS (
       |  SELECT doc_id, page_url, ${attrSql("src")} AS src0,
       |    ${attrSql("data-src")} AS dsrc,
       |    NULLIF(regexp_extract(COALESCE(${attrSql("srcset")}, ''),
       |      '^[ \\t\\n\\f\\r]*([^ \\t\\n\\f\\r,]+)', 1), '') AS sset,
       |    COALESCE(${attrSql("alt")}, ${attrSql("title")}, figcap) AS alt_text
       |  FROM tg
       |), at2 AS (
       |  SELECT doc_id, page_url,
       |    CASE WHEN src0 IS NULL OR src0 LIKE 'data:%'
       |         THEN COALESCE(dsrc, sset)
       |         ELSE src0 END AS src,
       |    alt_text
       |  FROM at1
       |), rs AS (
       |  SELECT doc_id, page_url,
       |    ${UrlOps.resolveSql("page_url", "src")} AS r, alt_text
       |  FROM at2 WHERE src IS NOT NULL
       |)""".stripMargin
  }

  /** The DuckDB attribute chain of [[attrOf]] over the `over` column —
    * same pattern text, same precedence, same empty-is-absent rule. */
  private def attrSql(name: String, over: String = "tag"): String = {
    def nn(re: String): String =
      s"NULLIF(regexp_extract($over, ${TextFuns.sqlLit(re)}, 1), '')"
    s"COALESCE(${nn(s"(?is)$WsCls$name$WsCls*=$WsCls*\"([^\"]*)\"")}, " +
      s"${nn(s"(?is)$WsCls$name$WsCls*=$WsCls*'([^']*)'")}, " +
      s"${nn(s"(?is)$WsCls$name$WsCls*=$WsCls*([^ \\t\\n\\f\\r>\"']+)")})"
  }

  /** Meta-refresh redirects — the in-PAGE redirect mechanism sites use
    * when they cannot send a 3xx (`<meta http-equiv="refresh"
    * content="0;url=/new">`): extracted from (page_url, html), the
    * target resolved like any href ([[UrlOps.resolve]] — relative
    * forms land) and canonicalized. Attribute ORDER is not assumed
    * (content may precede http-equiv). Emits (src_url, dst_url) edges
    * — union with [[redirectsOf]]'s 3xx edges before
    * [[CrawlOps.redirectResolve]] and the chain walker follows both
    * mechanisms. Row-level, one scan, zero shuffles. */
  def metaRedirectsOf(pages: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(pages.sparkSession)
    // the content attribute's quotes are OPTIONAL (legal-but-sloppy
    // `content=0;url=/x` is real, round-14 fix) — the value walk is
    // then `>`-bounded so an unquoted attribute cannot cross the tag
    val orderA = regexp_extract(col("html"),
      "(?i)<meta[^>]*http-equiv\\s*=\\s*[\"']?refresh[^>]*" +
        "content\\s*=\\s*[\"']?[^\"'>]*?url\\s*=\\s*([^\"'\\s;>]+)", 1)
    val orderB = regexp_extract(col("html"),
      "(?i)<meta[^>]*content\\s*=\\s*[\"']?[^\"'>]*?url\\s*=\\s*([^\"'\\s;>]+)" +
        "[\"']?[^>]*http-equiv\\s*=\\s*[\"']?refresh", 1)
    pages
      .withColumn("_t", when(orderA =!= "", orderA).otherwise(orderB))
      .filter(col("_t") =!= "")
      .select(UrlOps.canonIdn(col("page_url")).as("src_url"),
        UrlOps.canonIdn(UrlOps.resolve(col("page_url"), col("_t"))).as("dst_url"))
      .filter(col("dst_url").rlike("^https?://"))
  }

  /** SQL twin of [[linkExtract]]'s synthetic page + href pull: the
    * `h` + `raw_links (doc_id, href)` CTEs — shared with the crawl
    * oracles ([[CrawlOps]]) so no oracle carries a private copy of the
    * link universe. */
  private[graft] val linkPagesSql: String =
    """h AS (
      |  SELECT doc_id,
      |    '<html><body><p>see <a href="http://' || source || '.example.com/docs/' ||
      |      CAST((doc_id * 7 + 13) % 100 AS VARCHAR) ||
      |      '?utm_source=page&utm_medium=m">one</a> and <a href="HTTP://' ||
      |      upper(source || '.example.com') || ':80/docs/' ||
      |      CAST((doc_id * 11 + 5) % 100 AS VARCHAR) ||
      |      '#frag">two</a>; also <a href="http://' || source || '.example.com/docs/' ||
      |      CAST((doc_id * 7 + 13) % 100 AS VARCHAR) ||
      |      '/">one again</a></p></body></html>' AS html
      |  FROM documents
      |)""".stripMargin

  private[graft] val linkUniverseSql: String =
    s"""$linkPagesSql, raw_links AS (
      |  SELECT doc_id, unnest(regexp_extract_all(html, '<a href="([^"]*)"', 1)) AS href
      |  FROM h
      |)""".stripMargin

  /** The DuckDB twin of [[metaField]] — same pattern TEXT (explicit
    * whitespace class, both attribute orders, both quote styles),
    * empty→NULL via NULLIF. */
  private def metaFieldSql(attr: String, key: String): String = {
    val ws = "[ \\t\\n\\f\\r]*"
    val q = "[\"'']"
    val a = s"(?is)<meta[^>]*$attr$ws=$ws$q$key$q[^>]*content$ws=$ws$q([^\"''>]*)"
    val b = s"(?is)<meta[^>]*content$ws=$ws$q([^\"''>]*)$q[^>]*$attr$ws=$ws$q$key$q"
    s"COALESCE(NULLIF(regexp_extract(html, '$a', 1), '')," +
      s" NULLIF(regexp_extract(html, '$b', 1), ''))"
  }

  private def titleSql: String =
    "NULLIF(trim(regexp_replace(regexp_extract(html, " +
      "'(?is)<title[^>]*>([^<]*)</title>', 1), " +
      "'[ \\t\\n\\f\\r]+', ' ', 'g')), '')"

  val oracles: Map[String, String] = Map(
    // the construction truth of q_pagination's three-part articles:
    // chain_key = part 1, one row per part in rel=next walk order
    "q_pagination" ->
      """WITH arts AS (
        |  SELECT DISTINCT source, doc_id % 50 AS g FROM documents
        |), parts AS (
        |  SELECT source, g, unnest([1, 2, 3]) AS p FROM arts
        |)
        |SELECT 'http://' || source || '.example.com/art/' ||
        |    CAST(g AS VARCHAR) || '/1' AS chain_key,
        |  'http://' || source || '.example.com/art/' ||
        |    CAST(g AS VARCHAR) || '/' || CAST(p AS VARCHAR) AS page_url,
        |  CAST(p AS INT) AS pos
        |FROM parts
        |ORDER BY chain_key, pos""".stripMargin,
    // the generative truth of q_jsonld's planted NewsArticle blocks:
    // Spark must extract the ld+json block (skipping the plain script),
    // parse REAL JSON (the headline carries an escaped quote), and
    // resolve/canon the root-relative image
    "q_jsonld" ->
      """SELECT doc_id,
        |  'NewsArticle' AS ld_type,
        |  'Story "' || CAST(doc_id % 9 AS VARCHAR) || '" of the day'
        |    AS headline,
        |  '2026-07-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |    AS date_published,
        |  'http://' || source || '.example.com/img/' ||
        |    CAST(doc_id % 9 AS VARCHAR) || '3.jpg' AS image_url
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the construction truth of q_hreflang's three-language articles:
    // cluster key = the lexicographic-min member (de < en < fr)
    "q_hreflang" ->
      """WITH arts AS (
        |  SELECT DISTINCT source, doc_id % 50 AS g FROM documents
        |)
        |SELECT 'http://' || source || '.example.com/de/art/' ||
        |    CAST(g AS VARCHAR) AS cluster_key,
        |  CAST(3 AS BIGINT) AS n_members,
        |  'de en fr' AS langs
        |FROM arts
        |ORDER BY cluster_key""".stripMargin,
    // the moduli truth of noindexFlags' planted meta-robots values:
    // %4==0 noindex, %4==1 NOFOLLOW, %4==2 none (= both), %4==3 neither
    "q_noindex" ->
      """SELECT doc_id,
        |  (doc_id % 4 = 0 OR doc_id % 4 = 2) AS noindex,
        |  (doc_id % 4 = 1 OR doc_id % 4 = 2) AS nofollow
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_meta_og" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    'http://' || source || '.example.com/m/' ||
         |      CAST(doc_id % 50 AS VARCHAR) || '/page.html' AS page_url,
         |    ${synthPageSql(MetaParts)} AS html
         |  FROM documents
         |)
         |SELECT doc_id, $titleSql AS title,
         |  ${metaFieldSql("name", "description")} AS meta_description,
         |  ${metaFieldSql("property", "og:title")} AS og_title,
         |  ${metaFieldSql("property", "og:description")} AS og_description,
         |  ${UrlOps.canonSql(UrlOps.resolveSql("page_url",
              metaFieldSql("property", "og:image")))} AS og_image_url
         |FROM h ORDER BY doc_id""".stripMargin,
    "q_main_content" ->
      s"""WITH h AS (
         |  SELECT doc_id, ${synthPageSql(MainParts)} AS html FROM documents
         |)
         |SELECT doc_id,
         |  ${graft.plans.MainContent.extractSql("html")} AS main_text,
         |  length(${graft.plans.MainContent.extractSql("html")})
         |    AS n_chars_main
         |FROM h
         |ORDER BY doc_id""".stripMargin,
    "q_link_extract" ->
      s"""WITH $linkUniverseSql
        |SELECT DISTINCT doc_id, ${UrlOps.canonSql("href")} AS dst_url
        |FROM raw_links
        |ORDER BY doc_id, dst_url""".stripMargin,
    "q_anchor_text" ->
      s"""WITH $linkPagesSql, a0 AS (
         |  SELECT doc_id,
         |    unnest(regexp_extract_all(html, '<a href="[^"]*">[^<]*</a>', 0)) AS a
         |  FROM h
         |), pairs AS (
         |  SELECT doc_id,
         |    ${UrlOps.canonSql("regexp_extract(a, '<a href=\"([^\"]*)\"', 1)")}
         |      AS dst_url,
         |    regexp_extract(a, '>([^<]*)</a>', 1) AS anchor
         |  FROM a0
         |), per_text AS (
         |  SELECT dst_url, anchor, COUNT(*) AS cnt FROM pairs GROUP BY 1, 2
         |), tops AS (
         |  SELECT dst_url,
         |    max(struct_pack(cnt := cnt, anchor := anchor)) AS top,
         |    CAST(SUM(cnt) AS BIGINT) AS n_inlinks,
         |    CAST(COUNT(*) AS BIGINT) AS n_texts
         |  FROM per_text GROUP BY 1
         |), docs AS (
         |  SELECT dst_url, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
         |  FROM pairs GROUP BY 1
         |)
         |SELECT t.dst_url, t.top.anchor AS top_anchor,
         |  CAST(t.top.cnt AS BIGINT) AS top_cnt,
         |  t.n_inlinks, t.n_texts, d.n_docs
         |FROM tops t JOIN docs d USING (dst_url)
         |ORDER BY dst_url""".stripMargin,
    "q_image_pairs" ->
      s"""WITH $imagePairsCtes
         |SELECT DISTINCT doc_id, page_url,
         |  ${UrlOps.canonSql("r")} AS img_url, alt_text
         |FROM rs WHERE r IS NOT NULL
         |ORDER BY doc_id, img_url""".stripMargin,
    "q_image_dataset" ->
      s"""WITH $imagePairsCtes, prs AS (
         |  SELECT DISTINCT page_url, ${UrlOps.canonSql("r")} AS img_url,
         |    alt_text
         |  FROM rs WHERE r IS NOT NULL
         |), wg AS (
         |  SELECT page_url, img_url, alt_text,
         |    CAST(regexp_extract(img_url, '([0-9]+)\\.[a-z]+$$', 1) AS BIGINT) AS g
         |  FROM prs
         |), agg AS (
         |  SELECT g,
         |    max(struct_pack(l := COALESCE(length(alt_text), -1),
         |      a := COALESCE(alt_text, ''), u := img_url,
         |      alt := alt_text)) AS rep,
         |    COUNT(*) AS n_pairs,
         |    COUNT(DISTINCT page_url) AS n_pages,
         |    COUNT(DISTINCT img_url) AS n_urls
         |  FROM wg GROUP BY g
         |)
         |SELECT CAST(g * 72340172838076673 AS BIGINT) AS dhash,
         |  rep.u AS img_url, rep.alt AS alt_text,
         |  CAST(n_pairs AS BIGINT) AS n_pairs,
         |  CAST(n_pages AS BIGINT) AS n_pages,
         |  CAST(n_urls AS BIGINT) AS n_urls
         |FROM agg ORDER BY dhash""".stripMargin,
    "q_media_pairs" ->
      s"""WITH $mediaPairsCtes
         |SELECT DISTINCT doc_id, ${UrlOps.canonSql("r")} AS media_url,
         |  kind, caption_text
         |FROM rs2 WHERE r IS NOT NULL
         |ORDER BY doc_id, media_url""".stripMargin,
    "q_video_dataset" ->
      s"""WITH $mediaPairsCtes, prs AS (
         |  SELECT DISTINCT page_url, ${UrlOps.canonSql("r")} AS media_url,
         |    kind, caption_text
         |  FROM rs2 WHERE r IS NOT NULL
         |), avi AS (
         |  SELECT page_url, media_url, caption_text,
         |    CAST(regexp_extract(media_url, '([0-9]+)\\.[a-z0-9]+$$', 1) AS BIGINT) AS g
         |  FROM prs WHERE kind = 'video' AND media_url LIKE '%.avi'
         |), agg AS (
         |  SELECT g,
         |    max(struct_pack(l := COALESCE(length(caption_text), -1),
         |      a := COALESCE(caption_text, ''), u := media_url,
         |      alt := caption_text)) AS rep,
         |    COUNT(*) AS n_pairs,
         |    COUNT(DISTINCT page_url) AS n_pages,
         |    COUNT(DISTINCT media_url) AS n_urls
         |  FROM avi GROUP BY g
         |)
         |SELECT CAST(g * 72340172838076673 AS BIGINT) AS dhash,
         |  rep.u AS media_url, rep.alt AS caption_text,
         |  CAST(n_pairs AS BIGINT) AS n_pairs,
         |  CAST(n_pages AS BIGINT) AS n_pages,
         |  CAST(n_urls AS BIGINT) AS n_urls
         |FROM agg ORDER BY dhash""".stripMargin,
    "q_media_dataset" ->
      s"""WITH $mediaPairsCtes, prs AS (
         |  SELECT DISTINCT page_url, ${UrlOps.canonSql("r")} AS media_url,
         |    kind, caption_text
         |  FROM rs2 WHERE r IS NOT NULL
         |), wav AS (
         |  SELECT page_url, media_url, caption_text,
         |    CAST(regexp_extract(media_url, '([0-9]+)\\.[a-z0-9]+$$', 1) AS BIGINT) AS g
         |  FROM prs WHERE kind = 'audio'
         |), agg AS (
         |  SELECT g,
         |    max(struct_pack(l := COALESCE(length(caption_text), -1),
         |      a := COALESCE(caption_text, ''), u := media_url,
         |      alt := caption_text)) AS rep,
         |    COUNT(*) AS n_pairs,
         |    COUNT(DISTINCT page_url) AS n_pages,
         |    COUNT(DISTINCT media_url) AS n_urls
         |  FROM wav GROUP BY g
         |)
         |SELECT CAST(g * 72340172838076673 AS BIGINT) AS dhash,
         |  rep.u AS media_url, rep.alt AS caption_text,
         |  CAST(n_pairs AS BIGINT) AS n_pairs,
         |  CAST(n_pages AS BIGINT) AS n_pages,
         |  CAST(n_urls AS BIGINT) AS n_urls
         |FROM agg ORDER BY dhash""".stripMargin,
    "q_html_extract" ->
      s"""WITH h AS (
         |  SELECT doc_id, ${synthPageSql(HtmlParts)} AS html FROM documents
         |), $extractCtes
         |SELECT doc_id,
         |  text_extracted,
         |  length(text_extracted) AS n_chars_extracted
         |FROM ext
         |ORDER BY doc_id""".stripMargin,
    "q_extract_clean" ->
      s"""WITH h AS (
         |  SELECT doc_id, ${synthPageSql(HtmlParts)} AS html FROM documents
         |), $extractCtes, toks AS (
         |  SELECT doc_id, string_split(lower(trim(text_extracted)), ' ') AS tk
         |  FROM ext
         |), segn AS (
         |  SELECT doc_id, tk,
         |    unnest(generate_series(0,
         |      CAST(greatest(ceil(len(tk) / 10.0), 1) AS BIGINT) - 1)) AS i
         |  FROM toks
         |), segs AS (
         |  SELECT doc_id, i AS seg_pos,
         |    array_to_string(tk[(CAST(i AS INTEGER) * 10 + 1):(CAST(i AS INTEGER) * 10 + 10)], ' ') AS seg
         |  FROM segn
         |), block AS (
         |  SELECT seg
         |  FROM segs
         |  GROUP BY seg
         |  HAVING COUNT(DISTINCT doc_id) >= 2
         |  ORDER BY COUNT(DISTINCT doc_id) DESC, md5(seg) ASC
         |  LIMIT 50
         |), kept AS (
         |  SELECT doc_id, seg_pos, seg FROM segs
         |  WHERE seg NOT IN (SELECT seg FROM block)
         |), agg AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_seg_kept,
         |    array_to_string(list(seg ORDER BY seg_pos, seg), ' ') AS text_clean
         |  FROM kept
         |  GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  COALESCE(a.text_clean, '') AS text_clean,
         |  CAST(COALESCE(a.n_seg_kept, 0) AS BIGINT) AS n_seg_kept,
         |  CAST(length(COALESCE(a.text_clean, '')) AS BIGINT) AS n_chars_clean
         |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin
  )

  /** The full strip/decode/collapse chain, SQL face — byte-identical to
    * [[extractText]] (shared regex subset; the entity decode is the
    * generated [[graft.plans.HtmlEntities.decodeSql]] twin of the native
    * expression — same tokenizer regex, same name table, same codepoint
    * guards). Emits CTEs `_st/_sp/ext` assuming a prior CTE
    * `h (doc_id, html)`; `ext` ends as (doc_id, text_extracted). */
  private def extractCtes: String = {
    val stripped = StripPatterns.foldLeft("html") { case (acc, (p, r)) =>
      s"regexp_replace($acc, ${TextFuns.sqlLit(p)}, ${TextFuns.sqlLit(r)}, 'g')"
    }
    val re = graft.plans.HtmlEntities.tokenReSql
    val decoded = graft.plans.HtmlEntities.decodeSql("_parts", "_ents")
    s"""_st AS (
       |  SELECT doc_id, $stripped AS _s FROM h
       |), _sp AS (
       |  SELECT doc_id,
       |    regexp_split_to_array(_s, $re) AS _parts,
       |    regexp_extract_all(_s, $re, 1) AS _ents
       |  FROM _st
       |), ext AS (
       |  SELECT doc_id,
       |    trim(regexp_replace($decoded, '\\s+', ' ', 'g')) AS text_extracted
       |  FROM _sp
       |)""".stripMargin
  }
}
