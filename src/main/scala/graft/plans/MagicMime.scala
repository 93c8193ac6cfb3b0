package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.Bytes.{matches, u16le, u32be, u32le}

/** Magic-byte MIME sniffing (round 17; extended round 18) — the ingest
  * routing signal for when the Content-Type header LIES (the exact
  * failure the media-type gate documents: a latin-1-declared JPEG
  * "decodes" into mojibake). Deterministic, content-only, first-match
  * over the estate's own decodable formats plus the common web media
  * containers the real web actually serves behind lying headers —
  * MP4/M4A (`ftyp` box), WebP (RIFF fourcc), Ogg (`OggS`), MP3 (ID3v2
  * header, SHAPE-validated: version byte < 0x20, flags low nibble 0,
  * sync-safe size bytes — a text page starting "ID3 ..." never
  * matches), WOFF/WOFF2, SVG (first-real-tag validated, round 19) — so the declared-vs-sniffed audit can NAME
  * what the bytes are instead of octet-stream. A printable-ASCII head
  * (first 64 bytes ∈ {TAB, LF, CR, 0x20..0x7E}) reads text/plain,
  * anything else application/octet-stream. gzip checks its 3rd byte
  * too (08 = deflate, the only defined CM), so the short prefix is as
  * unambiguous as the 4-byte magics. Pure JVM so the expression
  * codegen calls it directly. */
object MagicMime {

  def sniff(b: Array[Byte]): String = {
    if (b == null || b.length == 0) return "application/octet-stream"
    if (b.length >= 8 && (b(0) & 0xff) == 0x89 && matches(b, 1, "PNG"))
      return "image/png"
    if (matches(b, 0, "GIF87a") || matches(b, 0, "GIF89a")) return "image/gif"
    if (b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 &&
      (b(2) & 0xff) == 0xff) return "image/jpeg"
    if (matches(b, 0, "%PDF-")) return "application/pdf"
    if (matches(b, 0, "RIFF") && b.length >= 12) {
      if (matches(b, 8, "WAVE")) return "audio/wav"
      if (matches(b, 8, "AVI ")) return "video/avi"
      if (matches(b, 8, "WEBP")) return "image/webp"
    }
    // ISO-BMFF: a 4-byte box size then `ftyp` — SHAPE-validated like the
    // ID3 check: the size prefix must be a plausible box size (0 =
    // to-EOF, 1 = 64-bit largesize follows, or 16..4096 — brand +
    // version + compatible brands). Four printable text bytes decode to
    // ≥ 0x20202020, so a page containing "ftyp" at offset 4 never
    // matches.
    if (b.length >= 8 && (matches(b, 4, "ftyp") || matches(b, 4, "styp")) && {
      val sz = u32be(b, 0)
      sz == 0L || sz == 1L || (sz >= 16L && sz <= 4096L)
    })
      return if (b.length >= 11 && matches(b, 8, "M4A")) "audio/mp4"
      else "video/mp4" // `styp` = a DASH/HLS media segment (round 19)
    if (matches(b, 0, "OggS")) return "application/ogg"
    if (matches(b, 0, "wOFF")) return "font/woff"
    if (matches(b, 0, "wOF2")) return "font/woff2"
    // ID3v2: "ID3", version (major < 0x20, minor < 0x20 — any printable
    // text byte is >= 0x20), flags low nibble zero, 4 sync-safe size
    // bytes — the shape check keeps a text page starting "ID3 ..." out
    if (b.length >= 10 && matches(b, 0, "ID3") && (b(3) & 0xff) < 0x20 &&
      (b(4) & 0xff) < 0x20 && (b(5) & 0x0f) == 0 && (b(6) & 0x80) == 0 &&
      (b(7) & 0x80) == 0 && (b(8) & 0x80) == 0 && (b(9) & 0x80) == 0)
      return "audio/mpeg"
    // ICO (round 19): the 00 00 01 00 magic is weak alone, so the
    // whole directory shape validates — entry count 1..64, and the
    // first entry's reserved byte 0, planes ≤ 1, a defined bpp, and a
    // data offset past the directory. Favicons are on every site root;
    // random binary passing ALL of that is essentially impossible.
    if (b.length >= 22 && b(0) == 0 && b(1) == 0 && b(2) == 1 && b(3) == 0 && {
      val count = u16le(b, 4)
      val planes = u16le(b, 10)
      val bpp = u16le(b, 12)
      val off = u32le(b, 18)
      count >= 1 && count <= 64 && b(9) == 0 && planes <= 1 &&
        (bpp == 0 || bpp == 1 || bpp == 2 || bpp == 4 || bpp == 8 ||
          bpp == 16 || bpp == 24 || bpp == 32) &&
        off >= 6L + 16L * count
    }) return "image/x-icon"
    // gzip: 1F 8B + CM byte 08 (deflate, RFC 1952's only defined
    // method) — 3 bytes, as unambiguous as the 4-byte magics
    if (b.length >= 3 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b &&
      b(2) == 8)
      return "application/gzip"
    // EPUB self-identifies inside the zip (the OCF rule): the FIRST
    // entry must be an UNCOMPRESSED file named "mimetype" whose content
    // is the epub mime - name and content land at fixed offsets (30-
    // byte local header + the 8-char name), so the dispatch is
    // deterministic (round 19)
    if (matches(b, 0, "PK\u0003\u0004"))
      return if (matches(b, 30, "mimetype") &&
        matches(b, 38, "application/epub+zip")) "application/epub+zip"
      else "application/zip"
    // empty archives open with the end-of-central-directory record
    // (PK\x05\x06) and spanned archives with the data-descriptor split
    // magic (PK\x07\x08) -- both are still zip, not text (round 20: the
    // EPUB narrowing to PK\x03\x04 must not shrink zip coverage)
    if (matches(b, 0, "PK\u0005\u0006") || matches(b, 0, "PK\u0007\u0008"))
      return "application/zip"
    // FLAC (round 20): the fLaC stream marker -- STREAMINFO follows at a
    // fixed offset, so the probe reads exact duration in O(header)
    if (matches(b, 0, "fLaC")) return "audio/flac"
    // TIFF (round 20): II*\0 (little-endian) / MM\0* (big-endian) -- the
    // embedded NUL keeps any text page out of the 4-byte magic
    if (b.length >= 4 && ((b(0) == 'I' && b(1) == 'I' && b(2) == 0x2a &&
      b(3) == 0) || (b(0) == 'M' && b(1) == 'M' && b(2) == 0 &&
      b(3) == 0x2a))) return "image/tiff"
    if (matches(b, 0, "qoif")) return "image/qoi"
    // HTML: optional ASCII whitespace, then <!doctype or <html (any case)
    var w = 0
    while (w < b.length && w < 32 &&
      (b(w) == ' ' || b(w) == '\t' || b(w) == '\n' || b(w) == '\r')) w += 1
    def asciiLower(off: Int, s: String): Boolean =
      b.length >= off + s.length && {
        var i = 0
        while (i < s.length &&
          java.lang.Character.toLowerCase((b(off + i) & 0xff).toChar) ==
            s.charAt(i)) i += 1
        i == s.length
      }
    if (asciiLower(w, "<!doctype") || asciiLower(w, "<html"))
      return "text/html"
    // SVG (round 19): the FIRST real tag must be <svg — XML decls,
    // doctypes, and comments skip first, so a page merely CONTAINING an
    // inline <svg> fragment (no html/doctype head = not html above)
    // never matches; "<svg" must close with whitespace/'>'/'/' so
    // "<svgfoo>" stays text
    if (w < b.length && b(w) == '<') {
      var i = w
      var scanning = true
      while (scanning && i < b.length && b(i) == '<') {
        if (asciiLower(i, "<?") || asciiLower(i, "<!")) {
          // prolog: skip to the closing '>' (comments end "-->" but a
          // '>' inside a comment body is illegal in practice; the scan
          // is a sniff, not a parser)
          while (i < b.length && b(i) != '>') i += 1
          i += 1
          while (i < b.length &&
            (b(i) == ' ' || b(i) == '\t' || b(i) == '\n' || b(i) == '\r'))
            i += 1
        } else {
          if (asciiLower(i, "<svg") && i + 4 < b.length &&
            (b(i + 4) == ' ' || b(i + 4) == '>' || b(i + 4) == '/' ||
              b(i + 4) == '\t' || b(i + 4) == '\n' || b(i + 4) == '\r'))
            return "image/svg+xml"
          scanning = false
        }
      }
    }
    if (matches(b, 0, "BM")) return "image/bmp"
    var i = 0
    val n = math.min(64, b.length)
    while (i < n) {
      val c = b(i) & 0xff
      if (c != 9 && c != 10 && c != 13 && (c < 0x20 || c > 0x7e))
        return "application/octet-stream"
      i += 1
    }
    "text/plain"
  }

  def sniffUtf8(b: Array[Byte]): UTF8String = UTF8String.fromString(sniff(b))
}

/** `magic_mime(payload)` → the sniffed MIME string ([[MagicMime]]) —
  * row-level, codegen'd; NULL payload reads octet-stream via the
  * null-safe wrapper's null, handled by callers with coalesce. */
case class MagicMimeOf(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires binary, got ${other.sql}")
    }
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "magic_mime"

  override protected def nullSafeEval(input: Any): Any =
    MagicMime.sniffUtf8(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = graft.plans.MagicMime.sniffUtf8($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): MagicMimeOf =
    copy(child = newChild)
}
