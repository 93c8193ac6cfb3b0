package graft.plans

import java.io.IOException

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType, StructField, StructType}

/** HTTP payload codecs for the WARC ingest path.
  *
  * This is the one place that knows the HTTP/1.x message layout: where
  * a response's header block ends, how its fields read, and which
  * responses a binary route takes. Every WARC operator reads a
  * `payload` through it.
  *
  * Common Crawl `response` records preserve the HTTP message verbatim —
  * including `Transfer-Encoding: chunked` framing, whose hex size lines
  * would otherwise leak into extracted text. De-chunking is a per-byte
  * stateful walk (variable chunk count, hex size parsing), beyond any
  * composition of built-in functions — exactly the custom-`Expression`
  * slot: one codegen-compatible row-level call, no UDF, no shuffle.
  */
object HttpCodec {

  // ---------- message layout ----------

  /** The blank line that ends the header block: the leftmost
    * `\r?\n\r?\n`. RFC 9112 §2.2 lets a recipient take a bare LF as a
    * line terminator and ignore a CR before it, so `\n\n`, `\r\n\r\n`,
    * `\n\r\n` and `\r\n\n` all end it. The Column faces below run
    * the rule on the latin-1 view of the payload (one char per byte, so
    * re-encoding restores the bytes); [[blankLine]] is its byte twin. */
  private val BlankLine = "\\r?\\n\\r?\\n"

  /** The header block of a binary `payload` as latin-1 text: everything
    * before the first blank line, the whole payload when there is none. */
  def header(payload: Column): Column =
    regexp_replace(decode(payload, "ISO-8859-1"), s"(?s)$BlankLine.*", "")

  /** The body bytes of a binary `payload`: everything after the first
    * blank line, empty when there is none. */
  def body(payload: Column): Column =
    encode(regexp_extract(decode(payload, "ISO-8859-1"),
      s"(?s)$BlankLine(.*)", 1), "ISO-8859-1")

  /** [[body]] over bytes, for per-row walks that must see the body as
    * binary. */
  def body(payload: Array[Byte]): Array[Byte] = {
    val end = blankLine(payload)._2
    if (end < 0) Array.emptyByteArray
    else java.util.Arrays.copyOfRange(payload, end, payload.length)
  }

  /** `[start, end)` of the first blank line in `b`, `(-1, -1)` when
    * there is none. A CR is taken only when a LF follows it, which is
    * where the regex's `\r?` lands too. */
  def blankLine(b: Array[Byte]): (Int, Int) = {
    var i = 0
    while (i < b.length) {
      var j = if (b(i) == '\r') i + 1 else i
      if (j < b.length && b(j) == '\n') {
        j += 1
        if (j < b.length && b(j) == '\r') j += 1
        if (j < b.length && b(j) == '\n') return (i, j + 1)
      }
      i += 1
    }
    (-1, -1)
  }

  /** The first value of header field `name` (case-insensitive) in a
    * [[header]] block, blanks after the colon dropped; "" when the field
    * is absent. */
  def field(hdr: Column, name: String): Column =
    regexp_extract(hdr, fieldPattern(name), 1)

  /** Every value of header field `name`, in order: a field may repeat
    * (one `X-Robots-Tag` per directive is the common server shape). */
  def fields(hdr: Column, name: String): Column =
    regexp_extract_all(hdr, lit(fieldPattern(name)), lit(1))

  private def fieldPattern(name: String): String =
    s"(?im)^$name:[ \\t]*([^\\r\\n]*)"

  private def contentType(hdr: Column): Column = field(hdr, "content-type")

  /** The declared media type, `type/subtype` of Content-Type in lower
    * case; "" when the header declares none. */
  def declaredMime(hdr: Column): Column =
    lower(regexp_extract(contentType(hdr), "^([A-Za-z0-9.+/-]+)", 1))

  /** Content-Type's `charset` parameter in lower case; "" when absent. */
  def declaredCharset(hdr: Column): Column =
    lower(regexp_extract(contentType(hdr),
      "(?i)charset=\"?([a-zA-Z0-9_.:-]+)", 1))

  /** The status code of the status line; null when the block does not
    * start with one. */
  def status(hdr: Column): Column =
    regexp_extract(hdr, "^HTTP/[0-9.]+ ([0-9]{3})", 1).cast("int")

  /** The RFC 9110 IMF-fixdate in a field value as a timestamp (weekday
    * and zone dropped: Spark's parser takes neither, and a fixdate is
    * always GMT); null when none parses. */
  def date(value: Column): Column = try_to_timestamp(
    regexp_extract(value,
      "([0-9]{1,2} [A-Za-z]{3} [0-9]{4} [0-9]{2}:[0-9]{2}:[0-9]{2})", 1),
    lit("d MMM yyyy HH:mm:ss"))

  /** The `response` records of a WARC record frame whose declared
    * ([[declaredMime]]) or sniffed (`magic_mime` of the first `sniffLen`
    * body bytes) media type is in `mimes`, as `(url, keep…, body)`.
    * Routing by content as well as declaration lands a binary behind a
    * lying header; the caller's walk re-validates the bytes, so a sniff
    * false positive costs nothing. The body is split per row by the
    * byte twin, so it reaches the walk as binary. */
  def routeByMime(records: DataFrame, mimes: Seq[String], sniffLen: Int,
                  url: Column, keep: Column*): DataFrame = {
    val spark = records.sparkSession
    GraftFunctions.register(spark)
    val payload = col("payload")
    val sniffed = call_function("magic_mime",
      substring(body(payload), 1, sniffLen))
    val picked = records
      .filter(col("warc_type") === "response" &&
        (declaredMime(header(payload)).isin(mimes: _*) ||
          sniffed.isin(mimes: _*)))
      .select((url.as("url") +: keep) :+ payload: _*)
    val last = picked.schema.length - 1
    spark.createDataFrame(
      picked.rdd.mapPartitions(_.map { r =>
        Row.fromSeq(r.toSeq.init :+ body(r.getAs[Array[Byte]](last)))
      }),
      StructType(picked.schema.init :+ StructField("body", BinaryType)))
  }

  // ---------- body codings ----------

  /** RFC 9112 §7.1 chunked-body decode: `hex-size[;ext]\r\n data \r\n`
    * repeated, terminated by a `0` chunk (trailers ignored). Returns the
    * concatenated chunk data, or NULL for malformed framing (no valid
    * size line, declared size past the end, missing terminator) — the
    * caller routes null to quarantine rather than keeping a body whose
    * framing lies. Bare-LF line endings are tolerated (robustness
    * priority of a crawl pipeline, matching the WARC header walk). */
  def dechunk(body: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(body.length)
    var i = 0
    while (true) {
      // parse the hex size line
      var size = 0L
      var seen = 0 // any hex digit (a size line must carry at least one)
      var sig = 0 // significant digits — RFC 9112 permits leading zeros
      while (i < body.length && isHex(body(i))) {
        size = size * 16 + hexVal(body(i))
        seen += 1
        if (size != 0) sig += 1
        if (sig > 8) return null // > 4 GiB declared: framing lies
        i += 1
      }
      if (seen == 0) return null // no size where one is required
      // skip chunk extensions to end of line
      while (i < body.length && body(i) != '\n') i += 1
      if (i >= body.length) return null // size line never terminated
      i += 1
      if (size == 0) return out.toByteArray // terminal chunk; ignore trailers
      if (i + size > body.length) return null // declared past the end
      out.write(body, i, size.toInt)
      i += size.toInt
      // consume the CRLF (or LF) after the chunk data
      if (i < body.length && body(i) == '\r') i += 1
      if (i >= body.length || body(i) != '\n') return null
      i += 1
    }
    null // unreachable
  }

  private def isHex(b: Byte): Boolean =
    (b >= '0' && b <= '9') || (b >= 'a' && b <= 'f') || (b >= 'A' && b <= 'F')

  private def hexVal(b: Byte): Int =
    if (b <= '9') b - '0'
    else (b | 0x20) - 'a' + 10

  /** `Content-Encoding: zstd` body decode (RFC 8878), bomb-guarded like
    * [[inflate]] — via the zstd-jni library Spark itself ships (and
    * loads) for shuffle/parquet compression, so the route costs no new
    * dependency. Streaming frame decode; null (→ quarantine at the
    * caller) on a corrupt/truncated frame or output past `maxOut`.
    * Brotli remains the one quarantined coding: no pure-JVM decoder
    * exists on the offline classpath, and a polite crawler that omits
    * `br` from Accept-Encoding never receives it — the quarantine only
    * prices third-party WARCs. */
  def zstd(body: Array[Byte], maxOut: Int = MaxInflate): Array[Byte] = {
    if (body.length == 0) return body // legal empty entity — identity
    var in: java.io.InputStream = null
    try {
      in = new com.github.luben.zstd.ZstdInputStream(
        new java.io.ByteArrayInputStream(body))
      val out = new java.io.ByteArrayOutputStream(
        math.min(math.max(body.length * 4, 1 << 10), 1 << 20))
      val buf = new Array[Byte](64 << 10)
      var n = in.read(buf)
      while (n >= 0) {
        if (out.size + n > maxOut) return null // bomb guard
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      out.toByteArray
    } catch {
      // zstd-jni's documented failure surface is IOException
      // (ZstdIOException extends it), but the library also has
      // RuntimeException paths on native-binding failure — NonFatal
      // keeps the quarantine contract ("arbitrary bytes never throw")
      // robust to library-version drift while still propagating
      // Errors (OOM, linkage) that must kill the task.
      case scala.util.control.NonFatal(_) => null
    } finally {
      // ZstdInputStream frees its native context on close
      if (in != null) { try in.close() catch { case _: IOException => () } }
    }
  }

  /** RFC 1952 gzip of a byte body — [[inflate]]'s inverse (see
    * [[GzipCompress]]). */
  def gzip(body: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(body.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(bos, 64 << 10)
    // GZIPOutputStream owns its Deflater (usesDefaultDeflater) — close()
    // frees the native buffers, unlike the custom-Deflater streams
    try gz.write(body) finally gz.close()
    bos.toByteArray
  }

  /** Output-size cap for [[inflate]] — matches [[graft.sources.WarcSource]]'s
    * default `maxRecord`: a body that inflates past it is a bomb or
    * corruption, not a web page. */
  val MaxInflate: Int = 64 << 20

  /** `Content-Encoding: gzip / x-gzip / deflate` body decode, bomb-guarded.
    *
    * Format is SNIFFED from the bytes, not trusted from the header
    * (headers lie on the real web): the gzip magic (1f 8b) selects the
    * RFC 1952 route; otherwise the zlib CMF/FLG checksum (RFC 1950 §2.2:
    * low nibble 8, 16-bit header divisible by 31) decides between a zlib
    * wrapper and RAW deflate — many servers send raw RFC 1951 streams
    * despite `deflate` formally naming zlib, and the checksum heuristic
    * is the standard browser-grade disambiguation.
    *
    * Returns NULL (→ quarantine at the caller) for: a corrupt or
    * truncated stream, or output exceeding `maxOut` (decompression
    * bomb). Trailing garbage after a complete gzip member is tolerated
    * (Java's multi-member walk ends at the first non-member bytes). */
  def inflate(body: Array[Byte], maxOut: Int = MaxInflate): Array[Byte] = {
    // a zero-length entity with a Content-Encoding header is a legal
    // empty body (204-adjacent server behavior) — identity, not corrupt
    if (body.length == 0) return body
    if (body.length < 2) return null
    val gzip = (body(0) & 0xff) == 0x1f && (body(1) & 0xff) == 0x8b
    val b0 = body(0) & 0xff
    val zlib = !gzip && (b0 & 0x0f) == 8 &&
      ((b0 << 8 | (body(1) & 0xff)) % 31 == 0)
    // the raw-deflate route owns its Inflater (InflaterInputStream only
    // end()s a DEFAULT inflater on close — ours must be freed by hand or
    // its native buffers leak until a GC Cleaner runs)
    var owned: java.util.zip.Inflater = null
    var in: java.io.InputStream = null
    try {
      val bis = new java.io.ByteArrayInputStream(body)
      in =
        if (gzip) new java.util.zip.GZIPInputStream(bis, 64 << 10)
        else {
          owned = new java.util.zip.Inflater(!zlib) // nowrap = raw deflate
          new java.util.zip.InflaterInputStream(bis, owned, 64 << 10)
        }
      val out = new java.io.ByteArrayOutputStream(
        math.min(math.max(body.length * 4, 1 << 10), 1 << 20))
      val buf = new Array[Byte](64 << 10)
      var n = in.read(buf)
      while (n >= 0) {
        if (out.size + n > maxOut) return null // bomb guard
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      out.toByteArray
    } catch {
      case _: IOException => null // bad header, corrupt or truncated stream
    } finally {
      if (in != null) { try in.close() catch { case _: IOException => () } }
      if (owned != null) owned.end()
    }
  }
}

/** `http_dechunk(binary)` → de-chunked binary, null on malformed framing
  * (see [[HttpCodec.dechunk]]). */
case class HttpDechunk(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires binary, got ${other.sql}")
    }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true // malformed framing → null
  override def prettyName: String = "http_dechunk"

  override protected def nullSafeEval(input: Any): Any =
    HttpCodec.dechunk(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.plans.HttpCodec.dechunk($c);
         |${ev.isNull} = ${ev.value} == null;
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HttpDechunk =
    copy(child = newChild)
}

/** `http_inflate(binary[, max_out])` → gzip/zlib/raw-deflate-decoded
  * binary, null on a corrupt stream or a decompression bomb (see
  * [[HttpCodec.inflate]]). `max_out` parameterizes codegen and must be
  * an integer literal (default [[HttpCodec.MaxInflate]]). */
case class HttpInflate(child: Expression, maxOut: Int = HttpCodec.MaxInflate)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires binary, got ${other.sql}")
    }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true // corrupt stream / bomb → null
  override def prettyName: String = "http_inflate"

  override protected def nullSafeEval(input: Any): Any =
    HttpCodec.inflate(input.asInstanceOf[Array[Byte]], maxOut)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.plans.HttpCodec.inflate($c, $maxOut);
         |${ev.isNull} = ${ev.value} == null;
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HttpInflate =
    copy(child = newChild)
}

/** `gzip_compress(binary)` → RFC 1952 gzip member — [[HttpCodec.inflate]]'s
  * inverse, for sinks and synthetic universes that must PLANT compressed
  * bytes (e.g. the `.xml.gz` sitemap child). Java's GZIPOutputStream
  * writes MTIME=0 and owns (and frees) its internal Deflater, so output
  * is deterministic and native buffers never leak. */
case class GzipCompress(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires binary, got ${other.sql}")
    }
  override def dataType: DataType = BinaryType
  override def prettyName: String = "gzip_compress"

  override protected def nullSafeEval(input: Any): Any =
    HttpCodec.gzip(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.plans.HttpCodec.gzip($c);
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): GzipCompress =
    copy(child = newChild)
}

/** `zstd_inflate(binary[, max_out])` → RFC 8878 zstd-decoded binary,
  * null on a corrupt frame or a decompression bomb (see
  * [[HttpCodec.zstd]]). `max_out` must be an integer literal. */
case class ZstdInflate(child: Expression, maxOut: Int = HttpCodec.MaxInflate)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires binary, got ${other.sql}")
    }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true // corrupt frame / bomb → null
  override def prettyName: String = "zstd_inflate"

  override protected def nullSafeEval(input: Any): Any =
    HttpCodec.zstd(input.asInstanceOf[Array[Byte]], maxOut)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.plans.HttpCodec.zstd($c, $maxOut);
         |${ev.isNull} = ${ev.value} == null;
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ZstdInflate =
    copy(child = newChild)
}
