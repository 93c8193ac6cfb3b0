package graft.operators

import graft.plans.Bytes.{fourcc, u16be, u16le, u32be, u32le}

/** Header-only image geometry (round 19) — the cheap arm of the media
  * inventory for the web's dominant media type. The full pixel decoders
  * ([[MultimodalOps.pngWalk]], [[JpegDecode]], [[GifDecode]],
  * [[MultimodalOps.bmpWalk]]) exist for feature extraction and dHash;
  * running them just to MEASURE an image would make the first-pass
  * inventory cost O(pixels) per payload. Every one of these formats
  * states its geometry in a fixed-layout header (PNG IHDR, GIF logical
  * screen descriptor, BMP info header, JPEG SOFn segment), so the probe
  * reads dimensions in O(header) bytes — for JPEG a marker-segment skip
  * scan, for the rest a handful of fixed offsets — and the inventory
  * stays one cheap pass that measures everything.
  *
  * Spec contract: on every payload the full decoders accept, the probe's
  * geometry is IDENTICAL to the decoder's (parity-tested against
  * JDK-encoded fixtures); on junk it returns a named reason, never
  * throws. Scope mirrors the sniffer's magics: png/gif/bmp/jpeg. */
private[graft] object ImageHeaders {

  /** (width, height, format) from the header alone, or Left(reason).
    * `format` names the flavor the header declares — `png`, `gif87a`/
    * `gif89a`, `bmp`, `jpeg-baseline`/`jpeg-progressive`/`jpeg-lossless`
    * etc. per the SOF marker actually present. */
  def probe(b: Array[Byte]): Either[String, (Int, Int, String)] = {
    if (b == null || b.length < 2) return Left("bad_image_header")
    graft.plans.MagicMime.sniff(
      java.util.Arrays.copyOf(b, math.min(b.length, 64))) match {
      case "image/png" => png(b)
      case "image/gif" => gif(b)
      case "image/bmp" => bmp(b)
      case "image/jpeg" => jpeg(b)
      case _ => Left("not_image")
    }
  }

  /** PNG: the IHDR chunk is REQUIRED to be first (spec §11.2.2), so
    * geometry sits at fixed offsets 16/20 past the 8-byte signature and
    * the 8-byte chunk preamble. */
  private def png(b: Array[Byte]): Either[String, (Int, Int, String)] = {
    if (b.length < 24 || u32be(b, 8) != 13L ||
      b(12) != 'I' || b(13) != 'H' || b(14) != 'D' || b(15) != 'R')
      return Left("bad_image_header")
    val w = u32be(b, 16)
    val h = u32be(b, 20)
    if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue)
      Left("bad_image_header")
    else Right((w.toInt, h.toInt, "png"))
  }

  /** GIF: logical screen descriptor immediately after the 6-byte
    * version magic — width/height as little-endian u16. */
  private def gif(b: Array[Byte]): Either[String, (Int, Int, String)] = {
    if (b.length < 10) return Left("bad_image_header")
    val w = u16le(b, 6)
    val h = u16le(b, 8)
    if (w <= 0 || h <= 0) Left("bad_image_header")
    else Right((w, h, if (b(4) == '7') "gif87a" else "gif89a"))
  }

  /** BMP: BITMAPINFOHEADER (size ≥ 40: signed little-endian geometry, a
    * negative height = top-down storage) or the legacy 12-byte
    * BITMAPCOREHEADER (u16 geometry). */
  private def bmp(b: Array[Byte]): Either[String, (Int, Int, String)] = {
    if (b.length < 26) return Left("bad_image_header")
    val hdrSize = u32le(b, 14).toInt
    if (hdrSize >= 40 && b.length >= 26) {
      val w = u32le(b, 18).toInt
      val h = math.abs(u32le(b, 22).toInt.toLong)
      if (w <= 0 || h <= 0 || h > Int.MaxValue) Left("bad_image_header")
      else Right((w, h.toInt, "bmp"))
    } else if (hdrSize == 12 && b.length >= 22) {
      val w = u16le(b, 18)
      val h = u16le(b, 20)
      if (w <= 0 || h <= 0) Left("bad_image_header")
      else Right((w, h, "bmp-core"))
    } else Left("bad_image_header")
  }

  /** ICO directory probe (round 19): (width, height, icon count) with
    * geometry from the LARGEST entry (the one a dataset builder keeps;
    * a 0 size byte means 256 per the format). Directory-only — pixel
    * data (BMP or embedded PNG) never read. */
  def ico(b: Array[Byte]): Either[String, (Int, Int, Int)] = {
    if (b.length < 22 || b(0) != 0 || b(1) != 0 || b(2) != 1 || b(3) != 0)
      return Left("bad_ico_header")
    val count = u16le(b, 4)
    if (count < 1 || count > 64) return Left("bad_ico_header")
    var best = -1
    var bw = 0
    var bh = 0
    var i = 0
    while (i < count && 6 + 16 * i + 16 <= b.length) {
      val e = 6 + 16 * i
      val w = if ((b(e) & 0xff) == 0) 256 else b(e) & 0xff
      val h = if ((b(e + 1) & 0xff) == 0) 256 else b(e + 1) & 0xff
      if (w * h > best) { best = w * h; bw = w; bh = h }
      i += 1
    }
    if (best < 0) Left("bad_ico_header") else Right((bw, bh, count))
  }

  /** TIFF geometry (round 20): an IFD walk for ImageWidth (tag 256) and
    * ImageLength (tag 257) in EITHER byte order — `II*\0` little-endian
    * or `MM\0*` big-endian, the one legacy image format the web still
    * serves that the header estate couldn't name. Only the FIRST IFD is
    * read (the primary image; thumbnails live in later IFDs), entry
    * values decode per the declared SHORT/LONG type with the ≤4-byte
    * inline-value rule (left-justified in the file's byte order), and
    * the entry count is capped so a hostile header can't turn the probe
    * into a scan. Pixel strips are never touched — O(header) bytes. */
  def tiff(b: Array[Byte]): Either[String, (Int, Int, String)] = {
    if (b.length < 8) return Left("bad_tiff_header")
    val le =
      if (b(0) == 'I' && b(1) == 'I' && b(2) == 0x2a && b(3) == 0) true
      else if (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == 0x2a) false
      else return Left("bad_tiff_header")
    def u16(off: Int): Int = if (le) u16le(b, off) else u16be(b, off)
    def u32(off: Int): Long = if (le) u32le(b, off) else u32be(b, off)
    val ifd = u32(4)
    if (ifd < 8 || ifd + 2 > b.length) return Left("bad_tiff_header")
    val n = math.min(u16(ifd.toInt), 512) // cap: a real IFD has dozens
    var w = -1L
    var h = -1L
    var i = 0
    while (i < n && ifd + 2 + 12L * i + 12 <= b.length) {
      val e = (ifd + 2 + 12 * i).toInt
      val tag = u16(e)
      val typ = u16(e + 2)
      val count = u32(e + 4)
      if ((tag == 256 || tag == 257) && count == 1) {
        // SHORT (3) and LONG (4) values fit the 4-byte value field,
        // stored left-justified in the file's byte order
        val v = typ match {
          case 3 => u16(e + 8).toLong
          case 4 => u32(e + 8)
          case _ => -1L
        }
        if (tag == 256) w = v else h = v
      }
      i += 1
    }
    if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue)
      Left("bad_tiff_header")
    else Right((w.toInt, h.toInt, if (le) "tiff-le" else "tiff-be"))
  }

  /** APNG animation accounting (round 19): frame count from the `acTL`
    * chunk and total duration from the `fcTL` frame-control delays
    * (delay_num / delay_den seconds; den 0 reads as 100 per spec) — a
    * pure chunk-skip walk, IDAT/fdAT never inflated. None = not a PNG
    * or no `acTL` (a still PNG); a malformed tail keeps the frames
    * summed so far. */
  def pngAnimation(b: Array[Byte]): Option[(Int, Long)] = {
    if (b.length < 16 || (b(0) & 0xff) != 0x89 || b(1) != 'P') return None
    var p = 8
    var frames = -1
    var durMs = 0L
    var sawActl = false
    var done = false
    while (!done && p + 8 <= b.length) {
      val len = u32be(b, p)
      if (len < 0 || p + 12 + len > b.length) done = true // torn tail
      else {
        val typ = fourcc(b, p + 4)
        typ match {
          case "acTL" if len >= 8 =>
            sawActl = true
            frames = u32be(b, p + 8).toInt
          case "fcTL" if len >= 26 =>
            val num = u16be(b, p + 8 + 20)
            val den0 = u16be(b, p + 8 + 22)
            val den = if (den0 == 0) 100 else den0
            durMs += num.toLong * 1000L / den
          case "IEND" => done = true
          case _ => ()
        }
        p += (12 + len).toInt
      }
    }
    if (sawActl) Some((frames, durMs)) else None
  }

  /** GIF animation accounting (round 19): frame count and total
    * duration from the block walk ALONE — Graphic Control Extension
    * delays (1/100 s → ms) summed per image descriptor; LZW pixel data
    * skips by its sub-block length bytes, never decoded. None = not a
    * GIF; a malformed tail returns the frames counted so far. A still
    * image reports (1, 0). */
  def gifAnimation(b: Array[Byte]): Option[(Int, Long)] = {
    if (b.length < 13 || !(b(0) == 'G' && b(1) == 'I' && b(2) == 'F'))
      return None
    var p = 6 + 7 // header + logical screen descriptor
    val lsdFlags = b(10) & 0xff
    if ((lsdFlags & 0x80) != 0) p += 3 * (1 << ((lsdFlags & 7) + 1)) // GCT
    var frames = 0
    var durMs = 0L
    var pendingDelayMs = 0L
    def skipSubBlocks(start: Int): Int = {
      var q = start
      while (q < b.length && b(q) != 0) q += 1 + (b(q) & 0xff)
      if (q < b.length) q + 1 else b.length // past the 0 terminator
    }
    var done = false
    while (!done && p < b.length) {
      (b(p) & 0xff) match {
        case 0x21 => // extension: label + sub-blocks
          if (p + 2 >= b.length) done = true
          else {
            val label = b(p + 1) & 0xff
            if (label == 0xf9 && p + 5 < b.length && (b(p + 2) & 0xff) >= 4)
              pendingDelayMs = u16le(b, p + 4) * 10L
            p = skipSubBlocks(p + 2)
          }
        case 0x2c => // image descriptor
          if (p + 10 > b.length) done = true
          else {
            frames += 1
            durMs += pendingDelayMs
            pendingDelayMs = 0L
            val flags = b(p + 9) & 0xff
            var q = p + 10
            if ((flags & 0x80) != 0) q += 3 * (1 << ((flags & 7) + 1)) // LCT
            q += 1 // LZW minimum code size
            p = skipSubBlocks(q)
          }
        case 0x3b => done = true // trailer
        case _ => done = true // malformed: keep what's counted
      }
    }
    Some((frames, durMs))
  }

  /** JPEG: skip marker segments by their declared lengths until a SOFn
    * frame header (C0–CF minus DHT C4 / JPGn C8 / DAC CC), whose payload
    * opens precision(1) height(2 BE) width(2 BE). Standalone markers
    * (TEM, RSTn) have no length field; hitting SOS or EOI before any SOF
    * means a torn stream. The scan touches only marker bytes — entropy-
    * coded data never starts before SOF, so cost is O(metadata). */
  private def jpeg(b: Array[Byte]): Either[String, (Int, Int, String)] = {
    var i = 2 // past FFD8
    while (i + 3 < b.length) {
      if ((b(i) & 0xff) != 0xff) return Left("bad_image_header")
      var m = b(i + 1) & 0xff
      while (m == 0xff && i + 2 < b.length) { i += 1; m = b(i + 1) & 0xff } // fill bytes
      m match {
        case 0x01 | 0xd8 => i += 2 // TEM / spurious SOI: standalone
        case r if r >= 0xd0 && r <= 0xd7 => i += 2 // RSTn: standalone
        case 0xd9 | 0xda => return Left("no_sof") // EOI / SOS before SOF
        case sof if sof >= 0xc0 && sof <= 0xcf &&
          sof != 0xc4 && sof != 0xc8 && sof != 0xcc =>
          if (i + 8 >= b.length) return Left("bad_image_header")
          val h = u16be(b, i + 5)
          val w = u16be(b, i + 7)
          if (w <= 0 || h <= 0) return Left("bad_image_header")
          val flavor = sof match {
            case 0xc0 | 0xc1 => "jpeg-baseline"
            case 0xc2 => "jpeg-progressive"
            case 0xc3 => "jpeg-lossless"
            case x => f"jpeg-sof$x%02x"
          }
          return Right((w, h, flavor))
        case _ =>
          if (i + 3 >= b.length) return Left("bad_image_header")
          val len = u16be(b, i + 2)
          if (len < 2) return Left("bad_image_header")
          i += 2 + len
      }
    }
    Left("bad_image_header")
  }
}
