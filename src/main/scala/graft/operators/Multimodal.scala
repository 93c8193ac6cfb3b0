package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Materialize
import graft.plans.Bytes.{fourcc, u16le, u32be, u32le}

/** Multimodal-column plumbing (SURVEY.md §2-B row 35 + §2-C).
  *
  * The contract for image/audio/video at 100 TB: payloads are opaque
  * `binary` columns that the PLAN never decodes — metadata lives in typed
  * sibling columns so Catalyst prunes the (huge) payload column whenever a
  * query only touches metadata. Decode runs batched per-partition at the
  * very edge. The codecs are REAL for the image family (PPM/BMP/PNG/
  * QOI/JPEG/GIF), WAV/G.711 audio, and — round 14 — MJPEG-in-AVI video
  * ([[AviOps]]); only formats with no pure-JVM decoder on the offline
  * classpath (Opus, inter-frame video codecs) fall back to the
  * deterministic stub slot.
  */
object MultimodalOps {

  /** §2-35 `q_multimodal_meta`: binary payload + typed metadata derivation.
    * The payload is the utf-8 bytes of `text` (deterministic stand-in for
    * image bytes); metadata (byte count, sha256, mime, dimensions) is
    * computed WITHOUT shipping the payload through a shuffle — row-level
    * expressions only. */
  def multimodalMeta(documents: DataFrame): DataFrame =
    documents
      .withColumn("payload", col("text").cast("binary"))
      .select(
        col("doc_id"),
        octet_length(col("payload")).as("n_bytes"),
        sha2(col("payload"), 256).as("sha256"),
        when(col("doc_id") % 3 === 0, "image/png")
          .when(col("doc_id") % 3 === 1, "audio/wav")
          .otherwise("video/mp4").as("mime"),
        (lit(16) + (col("doc_id") % 16) * 4).cast("int").as("width"),
        (lit(16) + (col("doc_id") % 9) * 4).cast("int").as("height"))
      .orderBy("doc_id")

  /** §2-166 `q_mime_sniff`: magic-byte MIME sniffing under the ORACLE —
    * the ingest routing signal for when the Content-Type header LIES
    * (the exact failure the media-type gate prices: a latin-1-declared
    * JPEG "decodes" into mojibake; a real crawl routes by CONTENT).
    * Planted-truth construction: each doc's text bytes ride behind a
    * doc_id%10-selected magic prefix (none / PDF / PNG / GIF / JPEG /
    * BMP / RIFF-WAVE / RIFF-AVI / gzip / whitespace-led DOCTYPE), Spark
    * sniffs through the REAL first-match walk
    * ([[graft.plans.MagicMime]], the codegen'd `magic_mime`
    * expression), DuckDB states the construction truth. Row-level,
    * zero shuffles; the deployment audit face is
    * [[graft.operators.CrawlOps.sniffedTypesOf]]. */
  def mimeSniff(documents: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(documents.sparkSession)
    val m = col("doc_id") % 10
    val t = col("text").cast("binary")
    def s(x: String) = lit(x).cast("binary")
    val payload = when(m === 1, concat(s("%PDF-1.4\n"), t))
      .when(m === 2, concat(unhex(lit("89504E470D0A1A0A")), t))
      .when(m === 3, concat(s("GIF89a"), t))
      .when(m === 4, concat(unhex(lit("FFD8FFE0")), t))
      .when(m === 5, concat(s("BM"), t))
      .when(m === 6, concat(s("RIFF"), unhex(lit("04030201")), s("WAVE"), t))
      .when(m === 7, concat(s("RIFF"), unhex(lit("04030201")), s("AVI "), t))
      .when(m === 8, concat(unhex(lit("1F8B08")), t))
      .when(m === 9, concat(s("  <!DOCTYPE html><html>"), t))
      .otherwise(t)
    documents
      .select(col("doc_id"),
        call_function("magic_mime", payload).as("sniffed_mime"))
      .orderBy("doc_id")
  }

  /** Decoded-feature schema produced by [[decodeBatches]]. */
  val decodedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("mime", StringType),
    StructField("n_bytes", IntegerType),
    StructField("feature", ArrayType(FloatType))))

  /** §2-C `Multimodal.decodeBatches`: batched per-partition decode of the
    * binary column into fixed-size feature vectors.
    *
    * Spark-side plumbing is real: `mapPartitions` over an iterator (bounded
    * memory — never materializes a partition), typed output schema, payload
    * column pruned everywhere else. The codec is real too for PPM P6
    * payloads (the dependency-free portable-pixmap format): header +
    * RGB24 pixel plane parse into per-channel image statistics
    * ([[decodePpm]]) — proving the batched binary path decodes actual
    * image bytes end-to-end without image libraries — AND for WAV/PCM
    * payloads (RIFF chunk walk + 8/16-bit sample parse into per-channel
    * audio statistics, [[decodeWav]]), for BMP ([[decodeBmp]]), and for
    * PNG — a REAL compressed format: zlib-inflated IDAT stream with the
    * full five-filter scanline reconstruction ([[decodePng]]) — so
    * compressed images, uncompressed images, and audio all decode for
    * real. Payloads in any other format fall back to
    * the deterministic byte-feature stub; on a cluster with codec libs,
    * that branch is where a JPEG/Opus decoder (JNI or `mapInPandas` +
    * PIL/soundfile) slots in without touching the plumbing. Formats are
    * sniffed from magic bytes, not the mime column — an at-scale ingest
    * cannot trust upstream labels. */
  def decodeBatches(withPayload: DataFrame, dim: Int = 16): DataFrame = {
    val spark = withPayload.sparkSession
    val rdd = withPayload
      .select(col("doc_id").cast("long"), col("mime"), col("payload"))
      .rdd.mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val mime = r.getString(1)
          val bytes = r.getAs[Array[Byte]](2)
          val feats = decodePpm(bytes, dim)
            .orElse(decodeWav(bytes, dim))
            .orElse(decodeBmp(bytes, dim))
            .orElse(decodePng(bytes, dim))
            .orElse(decodeQoi(bytes, dim))
            .orElse(decodeJpeg(bytes, dim))
            .orElse(decodeGif(bytes, dim))
            .getOrElse(decodeStub(bytes, dim))
          Row(id, mime, bytes.length, feats)
        }
      }
    spark.createDataFrame(rdd, decodedSchema)
  }

  /** Dependency-free PPM P6 decoder: magic "P6", ASCII header (width,
    * height, maxval ≤ 255, `#` comments allowed), one whitespace byte,
    * then width×height RGB24 pixels. Features (padded/truncated to
    * `dim`): [w, h, mean R, mean G, mean B, min R..B, max R..B], with
    * pixel stats normalized by maxval to [0, 1]. None = not a P6
    * payload or malformed/truncated — the caller falls back to the
    * stub rather than poisoning the batch. */
  /** Row-major per-pixel consumer — the ONE walk each image format
    * implements ([[ppmWalk]]/[[bmpWalk]]/[[pngWalk]]/[[qoiWalk]]), so the
    * stats features and the dHash gray grid share the same parse code
    * instead of duplicating four decoders. `start` fires once with the
    * geometry; `px` fires w×h times in row-major display order (top row
    * first — the BMP walk un-reverses bottom-up storage). A walk that
    * returns None may have fed a PARTIAL pixel stream; callers use a
    * fresh sink per attempt. */
  private[graft] trait PixelSink {
    def start(w: Int, h: Int): Unit
    def px(r: Int, g: Int, b: Int): Unit
  }

  /** The per-channel stats accumulation every decode* feature vector is
    * built from — byte-identical to the pre-refactor inline loops (same
    * update order, same integer accumulators). */
  private final class StatsSink extends PixelSink {
    val sum = new Array[Long](3)
    val min = Array.fill(3)(255)
    val max = new Array[Int](3)
    var w = 0L; var h = 0L
    def start(w: Int, h: Int): Unit = { this.w = w; this.h = h }
    def px(r: Int, g: Int, b: Int): Unit = {
      sum(0) += r; sum(1) += g; sum(2) += b
      if (r < min(0)) min(0) = r; if (r > max(0)) max(0) = r
      if (g < min(1)) min(1) = g; if (g > max(1)) max(1) = g
      if (b < min(2)) min(2) = b; if (b > max(2)) max(2) = b
    }
    def feats(dim: Int, maxv: Int): Array[Float] = {
      val n = w * h
      val out = new Array[Float](dim)
      val raw = Array[Float](w.toFloat, h.toFloat,
        (sum(0).toDouble / n / maxv).toFloat,
        (sum(1).toDouble / n / maxv).toFloat,
        (sum(2).toDouble / n / maxv).toFloat,
        min(0).toFloat / maxv, min(1).toFloat / maxv, min(2).toFloat / maxv,
        max(0).toFloat / maxv, max(1).toFloat / maxv, max(2).toFloat / maxv)
      System.arraycopy(raw, 0, out, 0, math.min(raw.length, dim))
      out
    }
  }

  private[graft] def decodePpm(bytes: Array[Byte], dim: Int): Option[Array[Float]] = {
    val s = new StatsSink
    ppmWalk(bytes, s).map { case (_, _, maxv) => s.feats(dim, maxv) }
  }

  /** PPM P6 walk: magic, ASCII header, one whitespace byte, RGB24 plane.
    * Some((w, h, maxval)) after feeding every pixel; None = not P6 or
    * malformed/truncated. */
  private[graft] def ppmWalk(bytes: Array[Byte],
                             sink: PixelSink): Option[(Int, Int, Int)] = {
    if (bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6') return None
    var i = 2
    def ws(b: Byte): Boolean =
      b == ' ' || b == '\n' || b == '\r' || b == '\t'
    def skipWsAndComments(): Unit = {
      var more = true
      while (more) {
        while (i < bytes.length && ws(bytes(i))) i += 1
        if (i < bytes.length && bytes(i) == '#') {
          while (i < bytes.length && bytes(i) != '\n') i += 1
        } else more = false
      }
    }
    def int(): Int = {
      skipWsAndComments()
      var v = 0
      var digits = 0
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
        v = v * 10 + (bytes(i) - '0'); i += 1; digits += 1
      }
      // >9 digits would wrap Int (a wrapped-positive value slips past
      // the w/h/maxv range checks) — malformed, not an image
      if (digits == 0 || digits > 9) -1 else v
    }
    val w = int(); val h = int(); val maxv = int()
    // maxval > 255 would mean 2-byte samples; out of scope for RGB24
    if (w <= 0 || h <= 0 || maxv <= 0 || maxv > 255) return None
    if (i >= bytes.length || !ws(bytes(i))) return None
    i += 1 // exactly ONE whitespace byte separates header and pixels
    val n = w.toLong * h
    // compare by division: n*3 can overflow Long for absurd declared
    // dims (w = h = MaxInt → n·3 wraps NEGATIVE and the guard would
    // pass, fabricating stats from a 30-byte payload)
    if ((bytes.length - i) / 3L < n) return None // truncated pixel plane
    sink.start(w, h)
    var p = 0L
    while (p < n) {
      val o = i + (p * 3).toInt
      sink.px(bytes(o) & 0xff, bytes(o + 1) & 0xff, bytes(o + 2) & 0xff)
      p += 1
    }
    Some((w, h, maxv))
  }

  /** Dependency-free WAV/PCM decoder: RIFF container walk ("RIFF" +
    * size + "WAVE", then word-aligned chunks), `fmt ` parse (PCM only —
    * audioFormat 1, 8- or 16-bit samples), `data` chunk sample scan.
    * Features (padded/truncated to `dim`):
    * [nch, sampleRate, nFrames, mean ch0, mean ch1, min ch0, min ch1,
    * max ch0, max ch1, rms ch0, rms ch1] — channels beyond the first
    * two fold into none (stats are per-channel for ch0/ch1 only; mono
    * leaves the ch1 slots 0). Samples normalize to [-1, 1]: 16-bit
    * signed LE / 32768, 8-bit unsigned (s − 128) / 128 (the WAV spec's
    * two PCM layouts); since round 10, G.711 μ-law (format 7) and
    * A-law (format 6) 8-bit streams ALSO decode — expanded to 16-bit
    * linear by the ITU segment/mantissa formulas and normalized like
    * PCM-16. None = not RIFF/WAVE, any other encoding (MP3-in-WAV,
    * float PCM, a 16-bit G.711 header — malformed by definition),
    * absent fmt/data chunks, or a data chunk longer than the payload
    * (truncated upload) — the caller falls back to the stub rather
    * than poisoning the batch. */
  private[graft] def decodeWav(bytes: Array[Byte], dim: Int): Option[Array[Float]] = {
    // PCM (1) at 8/16 bits; G.711 A-law (6) / μ-law (7) at 8 bits —
    // round 10: the telephony codecs real call-center/voice crawls ship
    // (one table-free expansion per sample, normalized like 16-bit PCM)
    val f = Wav.walk(bytes) match {
      case Some(f) if f.dataOff + f.dataLen <= bytes.length && f.decodable &&
        f.channels >= 1 && f.rate > 0 => f
      case _ => return None // not WAV, truncated upload, or not decodable
    }
    val bits = f.bits
    val nFrames = f.dataLen / f.blockAlign
    if (nFrames <= 0) return None
    val chs = math.min(f.channels, 2)
    val sum = new Array[Double](chs)
    val sumSq = new Array[Double](chs)
    val min = Array.fill(chs)(Float.MaxValue)
    val max = Array.fill(chs)(Float.MinValue)
    var frame = 0L
    while (frame < nFrames) {
      var c = 0
      while (c < chs) {
        val off = (f.dataOff + frame * f.blockAlign).toInt + c * bits / 8
        val v =
          if (f.audioFormat == 7) muLaw(bytes(off)) / 32768f
          else if (f.g711) aLaw(bytes(off)) / 32768f
          else if (bits == 16) u16le(bytes, off).toShort.toFloat / 32768f
          else ((bytes(off) & 0xff) - 128).toFloat / 128f
        sum(c) += v
        sumSq(c) += v.toDouble * v
        if (v < min(c)) min(c) = v
        if (v > max(c)) max(c) = v
        c += 1
      }
      frame += 1
    }
    def ch1(a: Array[Float]): Float = if (chs > 1) a(1) else 0f
    val feats = new Array[Float](dim)
    val raw = Array[Float](f.channels.toFloat, f.rate.toFloat, nFrames.toFloat,
      (sum(0) / nFrames).toFloat,
      if (chs > 1) (sum(1) / nFrames).toFloat else 0f,
      min(0), ch1(min), max(0), ch1(max),
      math.sqrt(sumSq(0) / nFrames).toFloat,
      if (chs > 1) math.sqrt(sumSq(1) / nFrames).toFloat else 0f)
    System.arraycopy(raw, 0, feats, 0, math.min(raw.length, dim))
    Some(feats)
  }

  /** G.711 μ-law expansion (ITU-T G.711 / Sun au convention): byte →
    * 16-bit linear sample. */
  private def muLaw(b: Byte): Float = {
    val u = ~b & 0xff
    val exp = (u >> 4) & 7
    val mant = u & 0xf
    val mag = ((mant << 3) + 0x84 << exp) - 0x84
    (if ((u & 0x80) != 0) -mag else mag).toFloat
  }

  /** G.711 A-law expansion: byte → 16-bit linear sample. */
  private def aLaw(b: Byte): Float = {
    val a = (b ^ 0x55) & 0xff
    val exp = (a >> 4) & 7
    val mant = a & 0xf
    val mag =
      if (exp == 0) (mant << 4) + 8
      else ((mant << 4) + 0x108) << (exp - 1)
    (if ((a & 0x80) != 0) mag else -mag).toFloat
  }

  /** Dependency-free BMP decoder: 'BM' file header (pixel-data offset at
    * byte 10), BITMAPINFOHEADER (size ≥ 40: width s32, height s32 —
    * positive = bottom-up rows, negative = top-down — planes, bpp,
    * compression), 24-bpp uncompressed (BI_RGB) only, rows padded to
    * 4-byte boundaries, pixels stored BGR. Features mirror [[decodePpm]]
    * exactly — [w, h, mean R..B, min R..B, max R..B] normalized to
    * [0, 1] — so an image's stats are comparable across container
    * formats. None = not 'BM', compressed, non-24-bpp, or a pixel plane
    * shorter than the declared geometry (truncated upload) — the caller
    * falls back to the stub rather than poisoning the batch. */
  private[graft] def decodeBmp(bytes: Array[Byte], dim: Int): Option[Array[Float]] = {
    val s = new StatsSink
    bmpWalk(bytes, s).map(_ => s.feats(dim, 255))
  }

  /** BMP 24-bpp BI_RGB walk (bottom-up and top-down, 4-byte row padding,
    * BGR→RGB). Pixels feed in DISPLAY row order regardless of storage. */
  private[graft] def bmpWalk(bytes: Array[Byte],
                             sink: PixelSink): Option[(Int, Int)] = {
    if (bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M') return None
    val dataOff = u32le(bytes, 10)
    val hdrSize = u32le(bytes, 14)
    if (hdrSize < 40) return None // core/OS2 headers out of scope
    val w = u32le(bytes, 18).toInt
    val hRaw = u32le(bytes, 22).toInt
    val topDown = hRaw < 0
    val h = math.abs(hRaw.toLong).toInt
    val bpp = u16le(bytes, 28)
    val compression = u32le(bytes, 30)
    if (w <= 0 || h <= 0 || bpp != 24 || compression != 0L) return None
    // rows pad to 4-byte words; compare by division (w near MaxInt would
    // overflow the row-size product and slip past a multiplied guard)
    val rowBytes = ((w.toLong * 3 + 3) / 4) * 4
    if (dataOff < 54 || dataOff > bytes.length) return None
    if ((bytes.length - dataOff) / rowBytes < h.toLong) return None
    sink.start(w, h)
    var row = 0
    while (row < h) {
      // bottom-up storage: pixel row y sits at (h-1-y) from the top
      val srcRow = if (topDown) row else h - 1 - row
      val base = dataOff + srcRow * rowBytes
      var x = 0
      while (x < w) {
        val o = (base + x * 3L).toInt
        // BGR on disk → RGB channel order in the stats
        sink.px(bytes(o + 2) & 0xff, bytes(o + 1) & 0xff, bytes(o) & 0xff)
        x += 1
      }
      row += 1
    }
    Some((w, h))
  }

  /** Dependency-free PNG decoder (`java.util.zip.Inflater` is in the
    * JDK): 8-byte signature, big-endian chunk walk (IHDR geometry, all
    * IDAT chunks concatenated into one zlib stream, stop at IEND),
    * 8-bit-depth non-interlaced gray / gray+alpha / RGB / RGBA, per-
    * scanline filter bytes un-applied (None/Sub/Up/Average/Paeth —
    * the full filter set, since real encoders pick per row). Features
    * mirror [[decodePpm]] exactly — [w, h, mean R..B, min R..B,
    * max R..B] normalized to [0, 1], gray replicated across the three
    * channels, alpha excluded from stats — so an image's stats are
    * comparable across ALL the container formats (PPM/BMP/PNG). None =
    * bad signature, 16-bit/palette/interlaced (out of scope), broken
    * zlib stream, or fewer decompressed bytes than the declared
    * geometry (truncated upload) — the caller falls back to the stub
    * rather than poisoning the batch. */
  private[graft] def decodePng(bytes: Array[Byte], dim: Int): Option[Array[Float]] = {
    val s = new StatsSink
    pngWalk(bytes, s).map(_ => s.feats(dim, 255))
  }

  /** Adam7 pass geometry (x0, y0, dx, dy) — PNG spec §8.2. */
  private val Adam7: Array[(Int, Int, Int, Int)] = Array(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** PNG walk: chunk scan, IDAT inflate, five-filter reconstruction,
    * then the row-major pixel feed (gray replicated, alpha skipped).
    * Round 13: PALETTED images (color type 3 + PLTE, 8-bit indices —
    * the common real-web palette form; tRNS alpha is skipped like every
    * other alpha channel) and ADAM7 interlacing (each pass is an
    * independently filtered sub-image; reconstruction scatters into the
    * full RGB plane, so the feed order is identical to sequential and
    * every downstream stat/dHash is interlace-invariant by
    * construction). */
  private[graft] def pngWalk(bytes: Array[Byte],
                             sink: PixelSink): Option[(Int, Int)] = {
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    if (bytes.length < 8 + 25 ||
      !sig.indices.forall(j => (bytes(j) & 0xff) == sig(j))) return None
    // ---- chunk walk: IHDR first (per spec), gather IDAT, stop at IEND
    var i = 8
    if (u32be(bytes, i) != 13L || fourcc(bytes, i + 4) != "IHDR") return None
    val w = u32be(bytes, i + 8)
    val h = u32be(bytes, i + 12)
    val bitDepth = bytes(i + 16) & 0xff
    val colorType = bytes(i + 17) & 0xff
    val interlace = bytes(i + 20) & 0xff
    // stream channels: bytes per pixel inside IDAT (palette = 1 index)
    val sch = colorType match {
      case 0 => 1 // gray
      case 2 => 3 // RGB
      case 3 => 1 // palette index — PLTE required below
      case 4 => 2 // gray + alpha
      case 6 => 4 // RGBA
      case _ => return None
    }
    if (w <= 0 || h <= 0 || bitDepth != 8 || interlace > 1) return None
    val wi = w.toInt
    val hi = h.toInt
    val passes: Array[(Int, Int, Int, Int)] =
      if (interlace == 1) Adam7 else Array((0, 0, 1, 1))
    def passW(p: (Int, Int, Int, Int)): Int =
      math.max((wi - p._1 + p._3 - 1) / p._3, 0)
    def passH(p: (Int, Int, Int, Int)): Int =
      math.max((hi - p._2 + p._4 - 1) / p._4, 0)
    // geometry sanity BEFORE allocating: a lying 4 GB-pixel header must
    // not OOM the executor (this is a feature extractor, not a viewer)
    val expected = passes.map { p =>
      val wp = passW(p); val hp = passH(p)
      if (wp > 0 && hp > 0) hp * (1L + wp.toLong * sch) else 0L
    }.sum
    if (expected > 256L * 1024 * 1024) return None
    if (3L * w * h > 256L * 1024 * 1024) return None
    i += 8 + 13 + 4
    val idat = new java.io.ByteArrayOutputStream()
    var plte: Array[Byte] = null
    var sawEnd = false
    while (!sawEnd && i + 8 <= bytes.length) {
      val len = u32be(bytes, i)
      val typ = fourcc(bytes, i + 4)
      if (i + 8 + len + 4 > bytes.length) return None // truncated chunk
      if (typ == "IDAT") idat.write(bytes, i + 8, len.toInt)
      if (typ == "PLTE") {
        if (len == 0 || len % 3 != 0 || len > 768) return None
        plte = java.util.Arrays.copyOfRange(bytes, i + 8, (i + 8 + len).toInt)
      }
      // tRNS (palette alpha) deliberately ignored: every format's feed
      // skips alpha
      if (typ == "IEND") sawEnd = true
      i += 8 + len.toInt + 4
    }
    if (!sawEnd || idat.size == 0) return None
    if (colorType == 3 && plte == null) return None
    // ---- inflate the concatenated IDAT payload
    val raw = new Array[Byte](expected.toInt)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var got = 0
      var stalled = false
      while (got < raw.length && !inf.finished() && !stalled) {
        val n = inf.inflate(raw, got, raw.length - got)
        got += n
        // needsInput while we've already given it everything = truncated
        stalled = n == 0 && (inf.needsInput() || inf.needsDictionary())
      }
      if (got < raw.length) return None // truncated pixel stream
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally inf.end()
    // ---- per-pass un-filter, then scatter into the full RGB plane
    // (sequential = one full-frame pass; filters reference the previous
    // scanline OF THE SAME PASS, per spec)
    val plane = new Array[Byte](3 * wi * hi)
    var off = 0
    var pi = 0
    while (pi < passes.length) {
      val (x0, y0, dx, dy) = passes(pi)
      val wp = passW(passes(pi))
      val hp = passH(passes(pi))
      if (wp > 0 && hp > 0) {
        val rowB = 1 + wp * sch
        var y = 0
        while (y < hp) {
          val base = off + y * rowB
          val filter = raw(base) & 0xff
          if (filter > 4) return None
          var x = 0
          val n = wp * sch
          while (x < n) {
            val o = base + 1 + x
            val a = if (x >= sch) raw(o - sch) & 0xff else 0 // left
            val b = if (y > 0) raw(o - rowB) & 0xff else 0 // up
            val c = if (x >= sch && y > 0) raw(o - rowB - sch) & 0xff else 0
            val cur = raw(o) & 0xff
            val recon = filter match {
              case 0 => cur
              case 1 => cur + a
              case 2 => cur + b
              case 3 => cur + (a + b) / 2
              case 4 => // Paeth predictor
                val p = a + b - c
                val pa = math.abs(p - a); val pb = math.abs(p - b)
                val pc = math.abs(p - c)
                cur + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
            }
            raw(o) = (recon & 0xff).toByte
            x += 1
          }
          var px = 0
          while (px < wp) {
            val o = base + 1 + px * sch
            var r = 0; var g = 0; var bl = 0
            if (colorType == 3) {
              val idx = raw(o) & 0xff
              if (3 * idx + 2 >= plte.length) return None // index past PLTE
              r = plte(3 * idx) & 0xff
              g = plte(3 * idx + 1) & 0xff
              bl = plte(3 * idx + 2) & 0xff
            } else {
              r = raw(o) & 0xff
              g = if (sch >= 3) raw(o + 1) & 0xff else r
              bl = if (sch >= 3) raw(o + 2) & 0xff else r
            }
            val po = 3 * ((y0 + y * dy) * wi + (x0 + px * dx))
            plane(po) = r.toByte
            plane(po + 1) = g.toByte
            plane(po + 2) = bl.toByte
            px += 1
          }
          y += 1
        }
        off += hp * rowB
      }
      pi += 1
    }
    // ---- row-major pixel feed off the reconstructed plane
    sink.start(wi, hi)
    var k = 0
    val total = wi * hi
    while (k < total) {
      sink.px(plane(3 * k) & 0xff, plane(3 * k + 1) & 0xff,
        plane(3 * k + 2) & 0xff)
      k += 1
    }
    Some((wi, hi))
  }

  /** Dependency-free QOI decoder (qoiformat.org — the one-page public
    * spec): 14-byte header (magic "qoif", u32be w/h, channels 3|4),
    * then a chunk stream of RGB/RGBA literals, 64-slot hash-index
    * refs, DIFF/LUMA deltas, and runs. Same feature contract as the
    * PPM/BMP/PNG paths: [w, h, mean RGB, min RGB, max RGB] over /255.
    *
    * Decoded STREAMING: QOI needs only the previous pixel + the 64-entry
    * index table, and this is a feature extractor — stats fold per pixel,
    * so memory is O(1) regardless of geometry (the PNG path must
    * materialize rows for its filters; QOI never does). A pixel budget
    * still bounds CPU against a lying header. None = wrong magic,
    * malformed chunk stream, or fewer pixels than the header promised. */
  private[graft] def decodeQoi(bytes: Array[Byte], dim: Int): Option[Array[Float]] = {
    val s = new StatsSink
    qoiWalk(bytes, s).map(_ => s.feats(dim, 255))
  }

  /** Baseline JPEG — round 10: the real-world-dominant format decodes
    * for real through [[JpegDecode]] (same feature contract; lossy
    * format, so cross-format spec assertions are tolerance-based). */
  private[graft] def decodeJpeg(bytes: Array[Byte], dim: Int): Option[Array[Float]] = {
    val s = new StatsSink
    JpegDecode.walk(bytes, s).map(_ => s.feats(dim, 255))
  }

  /** GIF (87a/89a, first frame) — round 10, via [[GifDecode]]'s LZW. */
  private[graft] def decodeGif(bytes: Array[Byte], dim: Int): Option[Array[Float]] = {
    val s = new StatsSink
    GifDecode.walk(bytes, s).map(_ => s.feats(dim, 255))
  }

  /** QOI walk — still streaming: state is the previous pixel + the
    * 64-slot index; runs feed the sink per pixel (run length ≤ 62, so
    * the fan-out is bounded and sums land identical to the batched
    * pre-refactor accumulation). */
  private[graft] def qoiWalk(bytes: Array[Byte],
                             sink: PixelSink): Option[(Int, Int)] = {
    if (bytes.length < 14 + 8 || bytes(0) != 'q' || bytes(1) != 'o' ||
      bytes(2) != 'i' || bytes(3) != 'f') return None
    val w = u32be(bytes, 4)
    val h = u32be(bytes, 8)
    val channels = bytes(12) & 0xff
    if (w <= 0 || h <= 0 || (channels != 3 && channels != 4)) return None
    val nPix = w * h
    if (nPix > 256L * 1024 * 1024) return None // CPU bomb guard
    // running pixel state + the 64-slot index (r,g,b,a packed per slot)
    var r = 0; var g = 0; var b = 0; var a = 255
    val idx = new Array[Int](64 * 4)
    var seen = 0L
    var i = 14
    sink.start(w.toInt, h.toInt)
    def emit(run: Int): Unit = {
      // feed the sink at most the declared pixel count — a malformed
      // stream whose runs overshoot w*h must still be rejected (seen
      // tracks the TRUE count for the != nPix check below), but the
      // sink's geometry contract is exactly w*h pixels, never more
      var k = math.min(run.toLong, nPix - seen).toInt
      while (k > 0) { sink.px(r, g, b); k -= 1 }
      seen += run
    }
    while (seen < nPix && i < bytes.length) {
      val b0 = bytes(i) & 0xff
      i += 1
      if (b0 == 0xfe) { // QOI_OP_RGB
        if (i + 3 > bytes.length) return None
        r = bytes(i) & 0xff; g = bytes(i + 1) & 0xff; b = bytes(i + 2) & 0xff
        i += 3; emit(1)
      } else if (b0 == 0xff) { // QOI_OP_RGBA
        if (i + 4 > bytes.length) return None
        r = bytes(i) & 0xff; g = bytes(i + 1) & 0xff; b = bytes(i + 2) & 0xff
        a = bytes(i + 3) & 0xff
        i += 4; emit(1)
      } else (b0 >> 6) match {
        case 0 => // QOI_OP_INDEX
          val s = (b0 & 0x3f) * 4
          r = idx(s); g = idx(s + 1); b = idx(s + 2); a = idx(s + 3)
          emit(1)
        case 1 => // QOI_OP_DIFF (wrapping, per spec)
          r = (r + ((b0 >> 4) & 3) - 2) & 0xff
          g = (g + ((b0 >> 2) & 3) - 2) & 0xff
          b = (b + (b0 & 3) - 2) & 0xff
          emit(1)
        case 2 => // QOI_OP_LUMA
          if (i >= bytes.length) return None
          val b1 = bytes(i) & 0xff; i += 1
          val dg = (b0 & 0x3f) - 32
          r = (r + dg + ((b1 >> 4) & 0xf) - 8) & 0xff
          g = (g + dg) & 0xff
          b = (b + dg + (b1 & 0xf) - 8) & 0xff
          emit(1)
        case _ => // QOI_OP_RUN (1..62; 63/64 are the RGB/RGBA tags)
          emit((b0 & 0x3f) + 1)
      }
      val s = ((r * 3 + g * 5 + b * 7 + a * 11) % 64) * 4
      idx(s) = r; idx(s + 1) = g; idx(s + 2) = b; idx(s + 3) = a
    }
    if (seen != nPix) return None // truncated, or run overshot the count
    Some((w.toInt, h.toInt))
  }

  /** Deterministic fallback for non-PPM payloads: byte i (cyclic) scaled
    * to [0, 1). */
  private def decodeStub(bytes: Array[Byte], dim: Int): Array[Float] =
    Array.tabulate(dim)(i =>
      if (bytes.isEmpty) 0f else (bytes(i % bytes.length) & 0xff) / 256f)

  /** Box-downsampled luminance grid (gw × gh) fed off any pixel walk —
    * the dHash front end. Cell value = integer mean of 299r+587g+114b
    * (milli-weight BT.601 luma; integer-exact, so the hash can never
    * float-drift between formats or runs). Empty cells (image narrower
    * than the grid) read 0. */
  private[graft] final class GraySink(gw: Int, gh: Int) extends PixelSink {
    private val sums = new Array[Long](gw * gh)
    private val counts = new Array[Long](gw * gh)
    private var w = 0L
    private var h = 0L
    private var n = 0L
    def start(w: Int, h: Int): Unit = { this.w = w; this.h = h }
    def px(r: Int, g: Int, b: Int): Unit = {
      if (n >= w * h) return // defensive: never index past the grid
      val x = n % w
      val y = n / w
      val cell = ((y * gh / h) * gw + x * gw / w).toInt
      sums(cell) += 299L * r + 587L * g + 114L * b
      counts(cell) += 1
      n += 1
    }
    def gray(cell: Int): Long =
      if (counts(cell) == 0) 0L else sums(cell) / counts(cell)
  }

  /** 64-bit difference hash (dHash) of an image payload: downsample to a
    * 9×8 luminance grid through the format's own pixel walk, then bit
    * (y·8+x) = [cell(x+1, y) brighter than cell(x, y)] — the classic
    * gradient-sign fingerprint: invariant to the CONTAINER (the same
    * pixels as PPM, BMP, PNG, or QOI hash identically, spec-asserted),
    * to uniform brightness scaling, and robust to small edits. None =
    * payload is not a decodable image (audio/junk stays out of the
    * image-dedup universe). */
  private[graft] def dhashOf(bytes: Array[Byte]): Option[Long] = {
    def tryWalk(walk: PixelSink => Option[_]): Option[GraySink] = {
      val s = new GraySink(9, 8) // fresh per attempt: a failed walk may
      walk(s).map(_ => s)        // have fed a partial stream
    }
    tryWalk(ppmWalk(bytes, _))
      .orElse(tryWalk(bmpWalk(bytes, _)))
      .orElse(tryWalk(pngWalk(bytes, _)))
      .orElse(tryWalk(qoiWalk(bytes, _)))
      .orElse(tryWalk(JpegDecode.walk(bytes, _)))
      .orElse(tryWalk(GifDecode.walk(bytes, _)))
      .map { s =>
        var bits = 0L
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            if (s.gray(y * 9 + x + 1) > s.gray(y * 9 + x))
              bits |= 1L << (y * 8 + x)
            x += 1
          }
          y += 1
        }
        bits
      }
  }

  /** §2-C `imageDhash`: the multimodal column estate's first real
    * cross-format DEDUP key — (doc_id, dhash) for every payload that
    * decodes as an image (non-images drop out; they have content hashes
    * of their own). Same mapPartitions batch shape as [[decodeBatches]];
    * the payload never survives past the hash. */
  def imageDhash(withPayload: DataFrame): DataFrame = {
    val spark = withPayload.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("dhash", LongType)))
    val rdd = withPayload
      .select(col("doc_id").cast("long"), col("payload"))
      .rdd.mapPartitions { it =>
        it.flatMap { r =>
          dhashOf(r.getAs[Array[Byte]](1)).map(hsh => Row(r.getLong(0), hsh))
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** §2-C `imageDhashPairs`: near-identical image pairs at Hamming ≤
    * `maxHamming` of the 64-bit dHash — EXACTLY the SimHash pigeonhole
    * machinery ([[DedupOps.dedupSimhashPairs]]'s 4×16-bit blocking: any
    * pair within Hamming 3 agrees on ≥1 piece), so candidates are block
    * collisions, never n². Hamming ≤3 of 64 is the near-IDENTICAL tier
    * (re-encodes, small overlays, single-region edits); a looser
    * perceptual sweep would need more pieces, same machinery. */
  def imageDhashPairs(withPayload: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < DedupOps.SimhashPieces,
      s"pigeonhole blocking over ${DedupOps.SimhashPieces} pieces only " +
        s"finds pairs with Hamming < ${DedupOps.SimhashPieces}; got $maxHamming")
    DedupOps.simhashBlockCandidates(
      imageDhash(withPayload).withColumnRenamed("dhash", "simhash"),
      pieceBits = 16)
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** §2-C `imageDhashIncremental`: delta-vs-corpus image dedup — the
    * ingestion shape (a new crawl batch probes the STANDING corpus's
    * persisted dHash table; corpus×corpus pairs never form — the
    * `dedupIncremental` contract for the image family). `corpusDhash`
    * is a prior [[imageDhash]] output off disk; only the delta decodes.
    * Output: (delta_id, corpus_id, hamming ≤ maxHamming). */
  def imageDhashIncremental(deltaPayloads: DataFrame, corpusDhash: DataFrame,
                            maxHamming: Int = 3): DataFrame = {
    require(maxHamming < DedupOps.SimhashPieces,
      s"pigeonhole pieces only find Hamming < ${DedupOps.SimhashPieces}")
    DedupOps.simhashCrossCandidates(
      imageDhash(deltaPayloads).withColumnRenamed("dhash", "simhash"),
      corpusDhash.withColumnRenamed("dhash", "simhash"),
      pieceBits = 16)
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("delta_id", "corpus_id")
  }

  /** Planted near-dup image: a 9×8 grayscale PPM whose dHash is KNOWN by
    * construction. Pixel (0,y) = 100 + c; each step right moves ±6 by
    * bit x of the group byte B = doc_id % groups, so dHash bit (8y+x) =
    * bit x of B exactly (every pixel is its own GraySink cell at 9×8) and
    * the full hash is B replicated into all 8 bytes: B·0x0101010101010101.
    * The brightness offset c = (doc_id div groups) % 30 shifts every cell
    * mean by exactly 1000c (integer-exact), so every GRADIENT SIGN — and
    * therefore the dHash — is untouched: group members are planted
    * Hamming-0 near-dups, distinct groups differ by ≥ 8 bits (8 rows ×
    * ≥1 bit of B). */
  private[graft] def plantedImage(docId: Long, groups: Int): Array[Byte] = {
    val g = (docId % groups).toInt
    val c = ((docId / groups) % 30).toInt
    val hdr = "P6\n9 8\n255\n".getBytes("US-ASCII")
    val px = new Array[Byte](9 * 8 * 3)
    var i = 0
    var y = 0
    while (y < 8) {
      var v = 100 + c
      var x = 0
      while (x < 9) {
        px(i) = v.toByte; px(i + 1) = v.toByte; px(i + 2) = v.toByte
        i += 3
        if (x < 8) v += (if (((g >> x) & 1) == 1) 6 else -6)
        x += 1
      }
      y += 1
    }
    hdr ++ px
  }

  /** §2 `q_image_dedup_representative`: the IMAGE dedup endgame — the
    * rows-44/75 pattern over the dHash universe: decode every payload to
    * its 64-bit dHash, block near-identical candidates with the SimHash
    * pigeonhole machinery (Hamming ≤ 3 of 64), run the shared
    * connected-components core, and reduce each cluster to one
    * representative manifest row (cluster id = min member, the cluster's
    * shared hash as the content key).
    *
    * The corpus is [[plantedImage]]'s deterministic construction, so the
    * DuckDB oracle states the planted truth — group membership, sizes,
    * and the EXACT 64-bit hash — while Spark must reproduce it through
    * the real decode → dHash → block-join → CC pipeline: a full-stack
    * correctness check of the image family, not a replay.
    *
    * Scale: one decode pass (payload dies at the hash), pair candidates
    * via 4×16-bit piece collisions (never n²), CC rounds over the pair
    * graph, one final cluster-keyed agg. */
  def imageDedupRepresentative(documents: DataFrame,
                               groups: Int = 50): DataFrame =
    hashClusterRepresentative(
      imageDhash(syntheticPayloads(documents, plantedImage(_, groups))),
      identity)

  /** The planted EVAL-image manifest for `q_contamination_image`: six
    * images over five groups — group 3 TWICE under different
    * brightnesses (the hit-count axis), each id's brightness c =
    * (id div 50) % 30 distinct so the decode must genuinely normalize
    * it away before any hash can match. */
  private[graft] val ImageEvalIds: Seq[Long] =
    Seq(3L + 50 * 13, 3L + 50 * 22, 7L + 50 * 9, 21L + 50 * 5,
      34L + 50 * 17, 48L + 50 * 2)

  /** §2 `q_contamination_image`: IMAGE eval-set decontamination — the
    * multimodal twin of `q_contamination`'s text probes: a benchmark's
    * images must not appear in the training corpus, and byte equality
    * misses every re-encode/brightness variant, so the screen is
    * PERCEPTUAL — corpus dHashes probed by the eval set's dHashes at
    * Hamming ≤ 3 (the [[imageDhashIncremental]] cross-frame machinery:
    * eval is the tiny delta, the corpus table is the standing side, so
    * corpus×corpus never forms). The corpus is [[plantedImage]]'s
    * construction and the eval manifest [[ImageEvalIds]] plants groups
    * {3,7,21,34,48} (3 twice, distinct brightnesses), so the oracle
    * states the generative truth — contaminated = doc_id%50 ∈ the eval
    * groups, n_eval_hits = 2 for group 3 else 1, dhash = the group's
    * replicated byte — while Spark must reproduce it through the real
    * decode → dHash → piece-block cross-join → count pipeline. Output
    * (doc_id, dhash, n_eval_hits) for contaminated docs only. Scale:
    * the eval side is benchmark-sized (broadcastable); one decode pass
    * over the corpus whose payloads die at the hash; candidates via
    * piece collisions — the exact shape a 100 TB decontamination
    * sweep needs. */
  def contaminationImage(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val corpusHash = imageDhash(
      syntheticPayloads(documents, plantedImage(_, 50)))
      // the probe AND the final hash join read it
      .transform(Materialize(_, eager = false))
    val evalPayloads = syntheticPayloads(
      ImageEvalIds.toDF("doc_id"), plantedImage(_, 50))
    evalContamination(corpusHash,
      imageDhashIncremental(evalPayloads, corpusHash))
  }

  /** The shared decontamination ENDGAME over any corpus hash table and
    * its eval-probe hit frame (delta_id, corpus_id, …) — one count per
    * contaminated corpus doc, joined back for the content hash. Shared
    * by the image/audio/video screens so the three modalities cannot
    * drift on what "contaminated" reports. */
  private[graft] def evalContamination(corpusHash: DataFrame,
                                       hits: DataFrame): DataFrame =
    hits.groupBy(col("corpus_id"))
      .agg(count(lit(1)).as("n_eval_hits"))
      .select(col("corpus_id").as("doc_id"), col("n_eval_hits"))
      .join(corpusHash, Seq("doc_id"))
      .select(col("doc_id"), col("dhash"), col("n_eval_hits"))
      .orderBy("doc_id")

  /** The planted eval-AUDIO manifest for `q_contamination_audio`:
    * groups {5,11,26,33} over [[plantedAudio]]'s 40-group universe —
    * group 5 TWICE under different gain offsets. */
  private[graft] val AudioEvalIds: Seq[Long] =
    Seq(5L + 40 * 7, 5L + 40 * 19, 11L + 40 * 3, 26L + 40 * 12,
      33L + 40 * 9)

  /** §2 `q_contamination_audio`: AUDIO eval-set decontamination — the
    * [[contaminationImage]] screen over the WAV estate: corpus aHashes
    * probed by the eval manifest's aHashes at Hamming ≤ 3 through
    * [[audioAhashIncremental]] (eval = the tiny delta; corpus×corpus
    * never forms); gain variants match because [[ahashOf]] is
    * gain/DC-invariant by construction — exactly why a byte-equality
    * screen misses re-encodes and this one cannot. Oracle states the
    * generative truth (doc_id%40 ∈ {5,11,26,33}, n_eval_hits 2 for
    * group 5 else 1); Spark reproduces it through the real WAV decode
    * → window-mean → gradient-sign → cross-probe → count. */
  def contaminationAudio(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val corpusHash = audioAhash(
      syntheticPayloads(documents, plantedAudio(_, 40)))
      .transform(Materialize(_, eager = false))
    val evalPayloads = syntheticPayloads(
      AudioEvalIds.toDF("doc_id"), plantedAudio(_, 40))
    evalContamination(corpusHash,
      audioAhashIncremental(evalPayloads, corpusHash))
  }

  /** The shared dedup ENDGAME over any (doc_id, dhash) frame, used by
    * the image, audio and video representatives so the modalities
    * cannot drift on the cluster semantics: pigeonhole block candidates
    * (Hamming ≤ 3) over the hashes `pairGuard` keeps, CC, one manifest
    * row per cluster (cluster_id = min member, n_members, rep_dhash =
    * the cluster's min hash). A doc may carry several hashes (a video's
    * frames), so members count distinct docs; a hash the guard drops
    * still counts for membership and the representative. With one hash
    * per doc and `identity` as the guard, this is the plain
    * one-row-per-doc cluster count. */
  private[graft] def hashClusterRepresentative(
      hashFrame: DataFrame,
      pairGuard: DataFrame => DataFrame): DataFrame = {
    // hash ONCE; the frame feeds blocking, vertices, and the final join
    // (materialized — the CC-family lineage discipline)
    val hashes = hashFrame.select(col("doc_id"), col("dhash")).distinct()
      .transform(Materialize(_, eager = false))
    val pairs = DedupOps.simhashBlockCandidates(
      pairGuard(hashes).withColumnRenamed("dhash", "simhash"), pieceBits = 16)
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b")).distinct()
    DedupOps.connectedComponents(
      hashes.select(col("doc_id")).distinct(), pairs)
      .join(hashes, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(countDistinct(col("doc_id")).as("n_members"),
        min(col("dhash")).as("rep_dhash"))
      .orderBy("cluster_id")
  }

  /** (doc_id, payload) frame synthesized row-level from a deterministic
    * generator — the planted-corpus front of the dedup representatives,
    * the contamination screens and the container-metadata oracles. */
  private[graft] def syntheticPayloads(documents: DataFrame,
                                       gen: Long => Array[Byte]): DataFrame = {
    val spark = documents.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    spark.createDataFrame(
      documents.select(col("doc_id").cast("long")).rdd.map(r =>
        Row(r.getLong(0), gen(r.getLong(0)))), schema)
  }

  /** 64-bit AUDIO fingerprint — the dHash idea over a 72-window integer
    * energy strip: decode ch0 sample values as INTEGERS (16-bit signed,
    * 8-bit raw 0..255, G.711 expanded — each a monotone map, so
    * comparisons are representation-free), split the frames into 72
    * equal windows laid out as 8 rows × 9 columns, integer window mean,
    * bit (8y+x) = [mean(9y+x+1) > mean(9y+x)] — gradient signs within a
    * row only (the 9×8 dHash geometry exactly). Invariant to uniform
    * gain/DC offset (every window mean shifts equally) and to container
    * re-encodes that preserve the waveform. None = not decodable WAV or
    * fewer than 72 frames. */
  private[graft] def ahashOf(bytes: Array[Byte]): Option[Long] = {
    val f = Wav.walk(bytes) match {
      case Some(f) if f.dataOff + f.dataLen <= bytes.length && f.decodable &&
        f.channels >= 1 => f
      case _ => return None
    }
    val nFrames = (f.dataLen / f.blockAlign).toInt
    if (nFrames < 72) return None
    val sums = new Array[Long](72)
    val counts = new Array[Long](72)
    var frame = 0
    while (frame < nFrames) {
      val wdw = (frame.toLong * 72 / nFrames).toInt
      val off = (f.dataOff + frame.toLong * f.blockAlign).toInt
      val v: Int =
        if (f.audioFormat == 7) muLaw(bytes(off)).toInt
        else if (f.g711) aLaw(bytes(off)).toInt
        else if (f.bits == 16) u16le(bytes, off).toShort.toInt
        else bytes(off) & 0xff
      sums(wdw) += v
      counts(wdw) += 1
      frame += 1
    }
    def mean(c: Int): Long = if (counts(c) == 0) 0L else sums(c) / counts(c)
    var bitsOut = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (mean(y * 9 + x + 1) > mean(y * 9 + x))
          bitsOut |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    Some(bitsOut)
  }

  /** Planted near-dup AUDIO: a mono 8-bit PCM WAV whose [[ahashOf]] is
    * known by construction — [[plantedImage]]'s gradient-sign scheme on
    * the 72-window strip: each 9-window row starts at 100 + c and steps
    * ±6 by bit x of the group byte B = doc_id % groups (4 frames per
    * window, so window means are the exact planted values), giving hash
    * B·0x0101010101010101; the gain offset c = (doc_id div groups) % 30
    * shifts every window mean equally — planted Hamming-0 variants. */
  private[graft] def plantedAudio(docId: Long, groups: Int): Array[Byte] = {
    val g = (docId % groups).toInt
    val c = ((docId / groups) % 30).toInt
    val nFrames = 72 * 4
    val data = new Array[Byte](nFrames)
    var w = 0
    var v = 0
    while (w < 72) {
      if (w % 9 == 0) v = 100 + c
      var j = 0
      while (j < 4) { data(w * 4 + j) = v.toByte; j += 1 }
      if (w % 9 != 8) v += (if (((g >> (w % 9)) & 1) == 1) 6 else -6)
      w += 1
    }
    Wav.write(8000, 8, data)
  }

  /** §2-C `audioAhash`: (doc_id, dhash) for every payload that decodes
    * as WAV audio — the audio face of [[imageDhash]], same mapPartitions
    * batch shape, payload dies at the hash. */
  def audioAhash(withPayload: DataFrame): DataFrame = {
    val spark = withPayload.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("dhash", LongType)))
    val rdd = withPayload
      .select(col("doc_id").cast("long"), col("payload"))
      .rdd.mapPartitions { it =>
        it.flatMap { r =>
          ahashOf(r.getAs[Array[Byte]](1)).map(hsh => Row(r.getLong(0), hsh))
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** §2-C `audioAhashIncremental`: delta-vs-corpus AUDIO dedup — the
    * ingestion shape ([[imageDhashIncremental]]'s exact contract for the
    * audio family): a new batch's fingerprints probe the STANDING
    * corpus's persisted aHash table; corpus×corpus pairs never form,
    * only the delta decodes. Output (delta_id, corpus_id, hamming). */
  def audioAhashIncremental(deltaPayloads: DataFrame, corpusAhash: DataFrame,
                            maxHamming: Int = 3): DataFrame = {
    require(maxHamming < DedupOps.SimhashPieces,
      s"pigeonhole pieces only find Hamming < ${DedupOps.SimhashPieces}")
    DedupOps.simhashCrossCandidates(
      audioAhash(deltaPayloads).withColumnRenamed("dhash", "simhash"),
      corpusAhash.withColumnRenamed("dhash", "simhash"),
      pieceBits = 16)
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("delta_id", "corpus_id")
  }

  /** §2-C `audioDedupStream`: scrub-on-ingest for AUDIO — the streaming
    * face of [[audioAhashIncremental]] ([[imageDedupStream]]'s shape):
    * each micro-batch probes the thunk-refreshed persisted corpus hash
    * table per trigger. */
  def audioDedupStream(docs: DataFrame, corpusAhash: () => DataFrame,
                       maxHamming: Int = 3)
                      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          sink(audioAhashIncremental(batch, corpusAhash(), maxHamming), id)
      }
      .start()

  /** §2 `q_audio_dedup_representative`: the AUDIO dedup endgame —
    * [[imageDedupRepresentative]]'s exact pipeline (planted corpus →
    * 64-bit fingerprint → pigeonhole blocking → shared CC →
    * representative manifest) over [[plantedAudio]] WAVs and
    * [[ahashOf]], completing the text/image/audio dedup matrix. The
    * oracle states the generative truth (doc_id % 40 groups and the
    * exact replicated-byte hash); Spark must reproduce it through the
    * real WAV decode → window-mean → gradient-sign → block-join → CC
    * pipeline. */
  def audioDedupRepresentative(documents: DataFrame,
                               groups: Int = 40): DataFrame =
    hashClusterRepresentative(
      audioAhash(syntheticPayloads(documents, plantedAudio(_, groups))),
      identity)

  /** §2-C `imageDedupStream`: scrub-on-ingest for IMAGES — each
    * micro-batch of (doc_id, payload) decodes to dHashes and probes the
    * persisted corpus hash table ([[imageDhashIncremental]] per
    * trigger, the `foreachBatch` deployment). The corpus table is a
    * THUNK (the unified static-side convention) so a nightly rebuild is
    * live next trigger. */
  def imageDedupStream(docs: DataFrame, corpusDhash: () => DataFrame,
                       maxHamming: Int = 3)
                      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          sink(imageDhashIncremental(batch, corpusDhash(), maxHamming), id)
      }
      .start()

  /** §2-C frame sampling as a DECLARATIVE plan: split the binary payload
    * into fixed-size frames and keep every `everyNth` — `substring` works
    * on BinaryType, so the whole thing is a codegen'd row-level
    * transform + explode, no UDF and no decode. This is the video
    * pattern: frame boundaries are byte-offset arithmetic (real codecs
    * index frames the same way via a keyframe table), decode happens
    * AFTER sampling, on 1/everyNth of the bytes. */
  def frameSample(withPayload: DataFrame, frameBytes: Int = 32,
                  everyNth: Int = 4): DataFrame =
    withPayload
      .select(col("doc_id"), col("payload"),
        floor(octet_length(col("payload")) / frameBytes).as("n_frames"))
      .select(col("doc_id"),
        // n_frames = 0 must emit NO rows: sequence(0, -1) is the DESCENDING
        // sequence [0, -1] in Spark, so the upper bound is clamped and the
        // lambda re-checks i < n_frames — otherwise a truncated partial
        // frame leaks through the i % N filter for short payloads.
        explode(expr(
          s"transform(filter(sequence(0, greatest(int(n_frames), 1) - 1), " +
            s"i -> i < n_frames AND i % $everyNth = 0), " +
            s"i -> struct(i as frame_idx, " +
            s"substring(payload, i * $frameBytes + 1, $frameBytes) as frame))"))
          .as("f"))
      .select(col("doc_id"), col("f.frame_idx").as("frame_idx"),
        col("f.frame").as("frame"))

  val oracles: Map[String, String] = Map(
    "q_mime_sniff" ->
      """SELECT doc_id,
        |  CASE doc_id % 10
        |    WHEN 1 THEN 'application/pdf' WHEN 2 THEN 'image/png'
        |    WHEN 3 THEN 'image/gif' WHEN 4 THEN 'image/jpeg'
        |    WHEN 5 THEN 'image/bmp' WHEN 6 THEN 'audio/wav'
        |    WHEN 7 THEN 'video/avi' WHEN 8 THEN 'application/gzip'
        |    WHEN 9 THEN 'text/html' ELSE 'text/plain' END AS sniffed_mime
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  strlen(text) AS n_bytes,
        |  sha256(text) AS sha256,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
        |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
        |       ELSE 'video/mp4' END AS mime,
        |  CAST(16 + (doc_id % 16) * 4 AS INTEGER) AS width,
        |  CAST(16 + (doc_id % 9) * 4 AS INTEGER) AS height
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    // the planted truth of [[plantedImage]]'s construction: clusters are
    // the doc_id % 50 groups, the representative hash is the group byte
    // replicated into all 8 bytes — Spark must REPRODUCE this through the
    // real decode → dHash → block-join → CC pipeline
    // the eval groups are AudioEvalIds' ids mod 40 — group 5 planted
    // twice, so its corpus members count two eval hits
    "q_contamination_audio" ->
      """SELECT doc_id,
        |  CAST((doc_id % 40) * 72340172838076673 AS BIGINT) AS dhash,
        |  CAST(CASE WHEN doc_id % 40 = 5 THEN 2 ELSE 1 END AS BIGINT)
        |    AS n_eval_hits
        |FROM documents
        |WHERE doc_id % 40 IN (5, 11, 26, 33)
        |ORDER BY doc_id""".stripMargin,
    // the eval groups are ImageEvalIds' ids mod 50 — group 3 planted
    // twice, so its corpus members count two eval hits
    "q_contamination_image" ->
      """SELECT doc_id,
        |  CAST((doc_id % 50) * 72340172838076673 AS BIGINT) AS dhash,
        |  CAST(CASE WHEN doc_id % 50 = 3 THEN 2 ELSE 1 END AS BIGINT)
        |    AS n_eval_hits
        |FROM documents
        |WHERE doc_id % 50 IN (3, 7, 21, 34, 48)
        |ORDER BY doc_id""".stripMargin,
    "q_image_dedup_representative" ->
      """SELECT CAST(MIN(doc_id) AS BIGINT) AS cluster_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_members,
        |  CAST((doc_id % 50) * 72340172838076673 AS BIGINT) AS rep_dhash
        |FROM documents
        |GROUP BY doc_id % 50
        |ORDER BY cluster_id""".stripMargin,
    // the audio twin (plantedAudio / ahashOf): doc_id % 40 groups, same
    // replicated-byte generative hash — Spark reproduces it through the
    // real WAV decode → window-mean → gradient-sign → block-join → CC
    "q_audio_dedup_representative" ->
      """SELECT CAST(MIN(doc_id) AS BIGINT) AS cluster_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_members,
        |  CAST((doc_id % 40) * 72340172838076673 AS BIGINT) AS rep_dhash
        |FROM documents
        |GROUP BY doc_id % 40
        |ORDER BY cluster_id""".stripMargin
  )
}
