package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.Bytes._
import graft.plans.HttpCodec

/** The MEDIA INVENTORY — round 18's deployment glue: one pass over a
  * WARC record frame that names every response's bytes
  * ([[graft.plans.MagicMime]], the declared-vs-sniffed audit) AND
  * reads the metadata of every format the estate has a walk for —
  * MP4/M4A ([[Mp4Ops]]), MP3 ([[Mp3Ops]]), WebP ([[WebpOps]]) — in one
  * frame a crawl operator actually consumes: "what media did this
  * segment fetch, what are its dimensions/durations, and which
  * declarations lie". Images (PNG/GIF/BMP/JPEG) measure from their
  * HEADERS alone ([[ImageHeaders]], round 19) — O(header) bytes, no
  * pixel decode, geometry parity-specced against the full decoders;
  * the full routes (decodeBatches, the dataset builders,
  * pdfDocumentsOf) remain the feature/dHash path. Fonts (WOFF/WOFF2)
  * are named but
  * deliberately not measured — a font file carries no training-data
  * signal beyond its mime, so naming is the whole triage (policy, not
  * a gap).
  *
  * Scale shape: header fields stay codegen'd Columns; ONE mapPartitions
  * carries the body split + sniff + the per-format walk, payload dies
  * in-task, zero shuffles — the whole inventory fuses into the record
  * scan. */
object MediaOps {

  private val outSchema = StructType(Seq(
    StructField("canon_url", StringType),
    StructField("declared_mime", StringType),
    StructField("sniffed_mime", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType),
    StructField("media_format", StringType),
    StructField("media_reason", StringType)))

  /** Per-response inventory: (canon_url, declared_mime, sniffed_mime,
    * mismatch, mojibake_risk, width, height, duration_ms, media_format,
    * media_reason). Geometry/duration populate for the walked formats;
    * `media_reason` carries a walk's quarantine verdict (a declared-
    * or-sniffed media payload whose bytes do not parse); both stay NULL
    * for non-media formats (fonts, archives, text). */
  def mediaInventoryOf(records: DataFrame): DataFrame = {
    val spark = records.sparkSession
    graft.plans.GraftFunctions.register(spark)
    val declared = HttpCodec.declaredMime(HttpCodec.header(col("payload")))
    val base = records.filter(col("warc_type") === "response")
      .select(UrlOps.canonIdn(col("target_uri")).as("canon_url"),
        nullif(declared, lit("")).as("declared_mime"),
        col("payload"))
    val walked = spark.createDataFrame(base.rdd.mapPartitions { it =>
      it.map { r =>
        val url = r.getString(0)
        val decl = if (r.isNullAt(1)) null else r.getString(1)
        val body = HttpCodec.body(r.getAs[Array[Byte]](2))
        val sniffed = graft.plans.MagicMime.sniff(
          java.util.Arrays.copyOf(body, math.min(body.length, 512)))
        def row(w: Any, h: Any, d: Any, f: Any, reason: Any): Row =
          Row(url, decl, sniffed, w, h, d, f, reason)
        sniffed match {
          case "video/mp4" | "audio/mp4" => Mp4Ops.mp4Walk(body) match {
            case Right(m) => row(
              if (m.width >= 0) m.width else null,
              if (m.height >= 0) m.height else null,
              if (m.durationMs >= 0) m.durationMs else null,
              m.majorBrand, null)
            case Left(reason) => row(null, null, null, null, reason)
          }
          case "audio/mpeg" => Mp3Ops.mp3Walk(body) match {
            case Right(m) => row(null, null, m.durationMs,
              s"mpeg${m.mpegVersion}-l${m.layer}-${m.bitrateKbps}k", null)
            case Left(reason) => row(null, null, null, null, reason)
          }
          case "image/webp" => WebpOps.webpWalk(body) match {
            case Right(m) => row(m.width, m.height,
              if (m.durationMs >= 0) m.durationMs else null, m.format, null)
            case Left(reason) => row(null, null, null, null, reason)
          }
          case "application/ogg" => OggOps.oggWalk(body) match {
            case Right(m) => row(null, null, m.durationMs, m.codec, null)
            case Left(reason) => row(null, null, null, null, reason)
          }
          // the web's dominant media type measures from its header alone
          // (round 19): PNG IHDR / GIF LSD / BMP info header / JPEG SOFn
          // — O(header) bytes, no pixel decode, geometry parity-specced
          // against the full decoders
          case "image/png" | "image/gif" | "image/bmp" | "image/jpeg" =>
            ImageHeaders.probe(body) match {
              case Right((w, h, fmt)) =>
                // ANIMATED images measure their run time too (round 19):
                // GIF via GCE delays, APNG via fcTL delays — block/chunk
                // walks, no pixel decode
                val anim =
                  if (fmt.startsWith("gif")) ImageHeaders.gifAnimation(body)
                  else if (fmt == "png") ImageHeaders.pngAnimation(body)
                  else None
                anim match {
                  case Some((frames, dur)) if frames > 1 =>
                    row(w, h, dur, s"$fmt-anim", null)
                  case _ => row(w, h, null, fmt, null)
                }
              case Left(reason) => row(null, null, null, null, reason)
            }
          // RIFF/QOI headers likewise (round 19): the movi/data payload
          // bytes are skipped by declared size, never copied
          case "audio/wav" => MediaHeaders.wav(body) match {
            case Right((d, fmt)) => row(null, null, d, fmt, null)
            case Left(reason) => row(null, null, null, null, reason)
          }
          case "video/avi" => MediaHeaders.avi(body) match {
            case Right((w, h, d, handler)) => row(w, h, d, handler, null)
            case Left(reason) => row(null, null, null, null, reason)
          }
          case "image/qoi" => MediaHeaders.qoi(body) match {
            case Right((w, h)) => row(w, h, null, "qoi", null)
            case Left(reason) => row(null, null, null, null, reason)
          }
          // FLAC (round 20): STREAMINFO gives EXACT duration in
          // O(header) bytes; total_samples 0 = unknown by declaration
          // (duration NULL, no quarantine — the header is honest)
          case "audio/flac" => MediaHeaders.flac(body) match {
            case Right((d, _, _)) =>
              row(null, null, if (d >= 0) d else null, "flac", null)
            case Left(reason) => row(null, null, null, null, reason)
          }
          // TIFF (round 20): first-IFD geometry in either byte order —
          // the last legacy web image the sniff couldn't name
          case "image/tiff" => ImageHeaders.tiff(body) match {
            case Right((w, h, fmt)) => row(w, h, null, fmt, null)
            case Left(reason) => row(null, null, null, null, reason)
          }
          // ICO (round 19): largest-entry geometry off the directory,
          // icon count in the format name — favicons are on every root
          case "image/x-icon" => ImageHeaders.ico(body) match {
            case Right((w, h, n)) => row(w, h, null, s"ico-$n", null)
            case Left(reason) => row(null, null, null, null, reason)
          }
          // SVG (round 19): geometry off the root tag's width/height
          // attributes (px), falling back to the viewBox extent — a
          // dimensionless SVG (scales to its container) keeps NULL
          // geometry with no quarantine
          case "image/svg+xml" =>
            val head = new String(body, 0, math.min(body.length, 4096),
              java.nio.charset.StandardCharsets.ISO_8859_1)
            val tag = "(?is)<svg[^>]*>".r.findFirstIn(head).getOrElse("")
            def dim(name: String): Option[Int] =
              ("(?i)\\b" + name +
                "\\s*=\\s*[\"']\\s*([0-9]+(?:\\.[0-9]+)?)\\s*(?:px)?\\s*[\"']").r
                .findFirstMatchIn(tag)
                .map(m => math.round(m.group(1).toDouble).toInt)
            val wh = (dim("width"), dim("height")) match {
              case (Some(w), Some(h)) => Some((w, h))
              case _ =>
                ("(?i)viewBox\\s*=\\s*[\"']\\s*[-0-9.]+[\\s,]+[-0-9.]+" +
                  "[\\s,]+([0-9.]+)[\\s,]+([0-9.]+)").r
                  .findFirstMatchIn(tag)
                  .map(m => (math.round(m.group(1).toDouble).toInt,
                    math.round(m.group(2).toDouble).toInt))
            }
            row(wh.map(x => Int.box(x._1)).orNull,
              wh.map(x => Int.box(x._2)).orNull, null, "svg", null)
          // PDFs NAME their version in the header; measurement (text,
          // pages) stays with the richer pdfDocumentsOf route
          case "application/pdf" =>
            val head = new String(body, 0,
              math.min(16, body.length),
              java.nio.charset.StandardCharsets.ISO_8859_1)
            val v = "%PDF-(\\d\\.\\d)".r.findFirstMatchIn(head).map(_.group(1))
            row(null, null, null, v.map("pdf-" + _).orNull, null)
          case _ => row(null, null, null, null, null)
        }
      }
    }, outSchema)
    walked
      .withColumn("mismatch",
        col("declared_mime").isNotNull &&
          col("declared_mime") =!= col("sniffed_mime"))
      .withColumn("mojibake_risk",
        !col("sniffed_mime").isin("text/plain", "text/html") &&
          (col("declared_mime").isNull ||
            col("declared_mime").startsWith("text/")))
      .select(col("canon_url"), col("declared_mime"), col("sniffed_mime"),
        col("mismatch"), col("mojibake_risk"), col("width"), col("height"),
        col("duration_ms"), col("media_format"), col("media_reason"))
  }

  // ---------- oracle instantiation (q_media_inventory) ----------

  /** Deterministic synthetic WAV — PCM16 mono at 8 kHz,
    * `80 × (doc_id % 29 + 1)` frames = `10 × (doc_id % 29 + 1)` ms
    * (integer-exact in both engines), all samples silent. */
  private[graft] def wavSynth(docId: Long): Array[Byte] =
    Wav.write(8000, 16, new Array[Byte](2 * 80 * (docId % 29 + 1).toInt))

  // chunk CRCs are zeroed: neither the header probe nor the animation
  // walk validates them (the full decoder route does)
  private def pngChunk(typ: String, data: Array[Byte]): Array[Byte] =
    be32(data.length.toLong) ++ latin1(typ) ++ data ++ be32(0)

  /** Deterministic minimal JPEG — SOI + SOF0 (even doc_id, baseline) or
    * SOF2 (odd, progressive) carrying the shared W/H arithmetic + EOI.
    * Header-only by construction: the probe is the only consumer. */
  private[graft] def jpegSynth(docId: Long): Array[Byte] = {
    val w = 16 + (docId % 16).toInt * 4
    val h = 16 + (docId % 9).toInt * 4
    val sof: Byte = if (docId % 2 == 0) 0xc0.toByte else 0xc2.toByte
    Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, sof) ++
      be16(11) ++ Array[Byte](8) ++ be16(h) ++ be16(w) ++
      Array[Byte](1, 1, 0x11, 0) ++ Array[Byte](0xff.toByte, 0xd9.toByte)
  }

  /** Deterministic still PNG — signature + IHDR(W, H) + IEND. */
  private[graft] def pngSynth(docId: Long): Array[Byte] = {
    val w = 16 + (docId % 16) * 4
    val h = 16 + (docId % 9) * 4
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      pngChunk("IHDR", be32(w) ++ be32(h) ++ Array[Byte](8, 2, 0, 0, 0)) ++
      pngChunk("IEND", Array.empty[Byte])
  }

  /** Deterministic APNG — acTL declares `doc_id % 5 + 2` frames, each
    * fcTL a `(doc_id % 7 + 1)/100` s delay, so the planted run time is
    * `frames × 10 × (doc_id % 7 + 1)` ms, integer-exact. */
  private[graft] def apngSynth(docId: Long): Array[Byte] = {
    val w = 16 + (docId % 16) * 4
    val h = 16 + (docId % 9) * 4
    val frames = (docId % 5 + 2).toInt
    val num = (docId % 7 + 1).toInt
    val fctls = (0 until frames).map { i =>
      pngChunk("fcTL", be32(i.toLong) ++ be32(w) ++ be32(h) ++
        be32(0) ++ be32(0) ++ be16(num) ++ be16(100) ++ Array[Byte](0, 0))
    }.reduce(_ ++ _)
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      pngChunk("IHDR", be32(w) ++ be32(h) ++ Array[Byte](8, 2, 0, 0, 0)) ++
      pngChunk("acTL", be32(frames.toLong) ++ be32(0)) ++ fctls ++
      pngChunk("IEND", Array.empty[Byte])
  }

  /** Deterministic animated GIF89a — `doc_id % 5 + 2` frames, each
    * behind a Graphic Control Extension declaring `doc_id % 7 + 1`
    * hundredths (= `10 × (doc_id % 7 + 1)` ms); LZW data is one dummy
    * sub-block (the animation walk skips it by length, never decodes). */
  private[graft] def gifAnimSynth(docId: Long): Array[Byte] = {
    val w = 16 + (docId % 16).toInt * 4
    val h = 16 + (docId % 9).toInt * 4
    val frames = (docId % 5 + 2).toInt
    val delayCs = (docId % 7 + 1).toInt
    val frame =
      Array[Byte](0x21, 0xf9.toByte, 4, 0) ++ le16(delayCs) ++
        Array[Byte](0, 0) ++ // transparent idx + GCE terminator
        Array[Byte](0x2c) ++ le16(0) ++ le16(0) ++ le16(w) ++ le16(h) ++
        Array[Byte](0, 8, 1, 0, 0) // flags, LZW min code, 1-byte sub-block, end
    latin1("GIF89a") ++ le16(w) ++ le16(h) ++ Array[Byte](0, 0, 0) ++
      (0 until frames).map(_ => frame).reduce(_ ++ _) ++ Array[Byte](0x3b)
  }

  /** Deterministic BMP — BITMAPFILEHEADER + BITMAPINFOHEADER(W, H). */
  private[graft] def bmpSynth(docId: Long): Array[Byte] = {
    val w = 16 + (docId % 16) * 4
    val h = 16 + (docId % 9) * 4
    latin1("BM") ++ le32(54L) ++ le32(0L) ++ le32(54L) ++
      le32(40L) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++
      le32(0L) ++ le32(0L) ++ le32(0L) ++ le32(0L) ++ le32(0L) ++ le32(0L)
  }

  /** Deterministic ICO — `doc_id % 4 + 1` directory entries with
    * ascending square sizes, so the probe's largest-entry pick is
    * `16 + 8 × (doc_id % 4)`; offsets point past the directory (pixel
    * data never read). */
  private[graft] def icoSynth(docId: Long): Array[Byte] = {
    val n = (docId % 4 + 1).toInt
    val entries = (0 until n).map { i =>
      val s = 16 + 8 * i
      Array[Byte](s.toByte, s.toByte, 0, 0) ++ le16(1) ++ le16(32) ++
        le32(16L) ++ le32(6L + 16L * n)
    }.reduce(_ ++ _)
    Array[Byte](0, 0, 1, 0) ++ le16(n) ++ entries
  }

  /** Deterministic SVG — even doc_id carries width/height attributes,
    * odd only a viewBox (grades the probe's fallback axis). */
  private[graft] def svgSynth(docId: Long): Array[Byte] = {
    val w = 16 + (docId % 16) * 4
    val h = 16 + (docId % 9) * 4
    val root =
      if (docId % 2 == 0)
        s"""<?xml version="1.0" encoding="UTF-8"?>
           |<svg xmlns="http://www.w3.org/2000/svg" width="$w" height="$h">""".stripMargin
      else
        s"""<svg xmlns="http://www.w3.org/2000/svg" viewBox="0 0 $w $h">"""
    (root + s"<rect width=\"$w\" height=\"$h\"/></svg>")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Deterministic FLAC — `fLaC` + a last-block STREAMINFO: 8 kHz mono
    * 16-bit, `80 × (doc_id % 29 + 1)` total samples =
    * `10 × (doc_id % 29 + 1)` ms, integer-exact (the wavSynth clock). */
  private[graft] def flacSynth(docId: Long): Array[Byte] = {
    val ts = 80L * (docId % 29 + 1)
    latin1("fLaC") ++
      Array[Byte](0x80.toByte, 0, 0, 34) ++ // last block, STREAMINFO, len 34
      be16(4096) ++ be16(4096) ++ new Array[Byte](6) ++ // block/frame sizes
      // 8000 Hz (20 bits) | channels-1 = 0 (3) | bps-1 = 15 (5) | ts (36)
      Array[Byte](0x01, 0xf4.toByte, 0x00,
        (0xf0 | ((ts >> 32) & 0xf).toInt).toByte) ++ be32(ts & 0xffffffffL) ++
      new Array[Byte](16) // MD5
  }

  /** Deterministic TIFF — first IFD with ImageWidth/ImageLength SHORT
    * entries; even doc_id little-endian (`II*\0`), odd big-endian
    * (`MM\0*`), so both byte-order paths grade. */
  private[graft] def tiffSynth(docId: Long): Array[Byte] = {
    val w = 16 + (docId % 16).toInt * 4
    val h = 16 + (docId % 9).toInt * 4
    val le = docId % 2 == 0
    def u16(v: Int): Array[Byte] = if (le) le16(v) else be16(v)
    def u32(v: Long): Array[Byte] = if (le) le32(v) else be32(v)
    def entry(tag: Int, v: Int): Array[Byte] =
      u16(tag) ++ u16(3) ++ u32(1L) ++ u16(v) ++ Array[Byte](0, 0)
    (if (le) Array[Byte]('I', 'I', 0x2a, 0) else Array[Byte]('M', 'M', 0, 0x2a)) ++
      u32(8L) ++ u16(2) ++ entry(256, w) ++ entry(257, h) ++ u32(0L)
  }

  /** The synthetic mixed-media WARC record frame behind
    * `q_media_inventory`: one HTTP response per doc, format by
    * doc_id % 17 (prime, so every class sees every residue of the
    * per-format variant moduli 2/3/4/5/7/8/9/16/29 — the class key
    * can't freeze a variant the way the round-19 doc_id % 6 universe
    * froze mp4Synth to `isom`). Classes 0-5 ride the round-18 walked
    * formats (each format's EXISTING planted-truth synth, arithmetic
    * shared with its per-format oracle); classes 6-15 are the round-19/
    * 20 probe arms — JPEG/PNG/GIF/BMP header geometry, ICO, SVG,
    * animated GIF/APNG run times, PDF version naming, FLAC STREAMINFO,
    * TIFF IFD; class 16 is a sniffable ftyp with NO moov, so the
    * quarantine routing (`media_reason`) grades under the hash too.
    * The WebP class declares `text/html` — the real web's most common
    * media lie — so the mismatch AND mojibake flags both genuinely
    * exercise; every other class declares honestly. */
  private[graft] def mediaRecordsSynth(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val schema = StructType(Seq(
      StructField("warc_type", StringType),
      StructField("target_uri", StringType),
      StructField("payload", BinaryType)))
    spark.createDataFrame(
      documents.select(col("doc_id").cast("long")).rdd.map { r =>
        val id = r.getLong(0)
        val (ctype, body) = (id % 17).toInt match {
          case 0 => (if (id % 3 == 2) "audio/mp4" else "video/mp4",
            Mp4Ops.mp4Synth(id))
          case 1 => ("audio/mpeg", Mp3Ops.mp3Synth(id))
          case 2 => ("text/html", WebpOps.webpSynth(id)) // the lie
          case 3 => ("application/ogg", OggOps.oggSynth(id))
          case 4 => ("audio/wav", wavSynth(id))
          case 5 => ("video/avi", AviOps.buildAvi(
            Seq(Array.tabulate[Byte](64)(i => ((id + i) & 0x7f).toByte)),
            16 + (id % 8).toInt * 2, 10 + (id % 9).toInt * 2,
            usPerFrame = 40000L, handler = "MJPG")) // 1 frame = 40 ms
          case 6 => ("image/jpeg", jpegSynth(id))
          case 7 => ("image/png", pngSynth(id))
          case 8 => ("image/gif", gifAnimSynth(id))
          case 9 => ("image/bmp", bmpSynth(id))
          case 10 => ("image/x-icon", icoSynth(id))
          case 11 => ("image/svg+xml", svgSynth(id))
          case 12 => ("image/png", apngSynth(id))
          case 13 => ("application/pdf",
            latin1(s"%PDF-1.${id % 8}\n1 0 obj\n<<>>\nendobj\n%%EOF\n"))
          case 14 => ("audio/flac", flacSynth(id))
          case 15 => ("image/tiff", tiffSynth(id))
          // a well-formed ftyp with no moov: sniffs video/mp4, walk
          // quarantines — the media_reason column's planted truth
          case _ => ("video/mp4",
            be32(16) ++ latin1("ftyp") ++ latin1("isom") ++ be32(0))
        }
        val payload =
          (s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\n\r\n")
            .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++ body
        Row("response", s"http://synth.example/$id", payload)
      }, schema)
  }

  /** §2 `q_media_inventory`: the UNIFIED inventory under the ORACLE —
    * the capstone of the planted-truth media estate: a mixed corpus
    * (all six walked/probed families plus one lying declaration) runs
    * the REAL one-pass inventory — sniff, declared-vs-sniffed audit,
    * per-format walk/probe — while DuckDB states every class's
    * construction arithmetic. Any drift in the sniff routing, the flag
    * logic, or any single format's measurement breaks the hash. */
  def mediaInventory(documents: DataFrame): DataFrame =
    mediaInventoryOf(mediaRecordsSynth(documents))
      .select(
        regexp_extract(col("canon_url"), "([0-9]+)$", 1)
          .cast("long").as("doc_id"),
        col("declared_mime"), col("sniffed_mime"),
        col("mismatch"), col("mojibake_risk"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("duration_ms"), col("media_format"), col("media_reason"))
      .orderBy("doc_id")

  val oracles: Map[String, String] = Map(
    "q_media_inventory" ->
      """SELECT doc_id,
        |  CASE doc_id % 17
        |       WHEN 0 THEN CASE WHEN doc_id % 3 = 2 THEN 'audio/mp4'
        |                        ELSE 'video/mp4' END
        |       WHEN 1 THEN 'audio/mpeg' WHEN 2 THEN 'text/html'
        |       WHEN 3 THEN 'application/ogg' WHEN 4 THEN 'audio/wav'
        |       WHEN 5 THEN 'video/avi' WHEN 6 THEN 'image/jpeg'
        |       WHEN 7 THEN 'image/png' WHEN 8 THEN 'image/gif'
        |       WHEN 9 THEN 'image/bmp' WHEN 10 THEN 'image/x-icon'
        |       WHEN 11 THEN 'image/svg+xml' WHEN 12 THEN 'image/png'
        |       WHEN 13 THEN 'application/pdf' WHEN 14 THEN 'audio/flac'
        |       WHEN 15 THEN 'image/tiff'
        |       ELSE 'video/mp4' END AS declared_mime,
        |  CASE doc_id % 17
        |       WHEN 0 THEN CASE WHEN doc_id % 3 = 2 THEN 'audio/mp4'
        |                        ELSE 'video/mp4' END
        |       WHEN 1 THEN 'audio/mpeg' WHEN 2 THEN 'image/webp'
        |       WHEN 3 THEN 'application/ogg' WHEN 4 THEN 'audio/wav'
        |       WHEN 5 THEN 'video/avi' WHEN 6 THEN 'image/jpeg'
        |       WHEN 7 THEN 'image/png' WHEN 8 THEN 'image/gif'
        |       WHEN 9 THEN 'image/bmp' WHEN 10 THEN 'image/x-icon'
        |       WHEN 11 THEN 'image/svg+xml' WHEN 12 THEN 'image/png'
        |       WHEN 13 THEN 'application/pdf' WHEN 14 THEN 'audio/flac'
        |       WHEN 15 THEN 'image/tiff'
        |       ELSE 'video/mp4' END AS sniffed_mime,
        |  (doc_id % 17 = 2) AS mismatch,
        |  (doc_id % 17 = 2) AS mojibake_risk,
        |  CASE doc_id % 17
        |       WHEN 0 THEN CASE WHEN doc_id % 3 = 2 THEN NULL
        |                        ELSE 16 + (doc_id % 16) * 4 END
        |       WHEN 2 THEN 16 + (doc_id % 16) * 4
        |       WHEN 5 THEN 16 + (doc_id % 8) * 2
        |       WHEN 6 THEN 16 + (doc_id % 16) * 4
        |       WHEN 7 THEN 16 + (doc_id % 16) * 4
        |       WHEN 8 THEN 16 + (doc_id % 16) * 4
        |       WHEN 9 THEN 16 + (doc_id % 16) * 4
        |       WHEN 10 THEN 16 + 8 * (doc_id % 4)
        |       WHEN 11 THEN 16 + (doc_id % 16) * 4
        |       WHEN 12 THEN 16 + (doc_id % 16) * 4
        |       WHEN 15 THEN 16 + (doc_id % 16) * 4
        |       ELSE NULL END AS width,
        |  CASE doc_id % 17
        |       WHEN 0 THEN CASE WHEN doc_id % 3 = 2 THEN NULL
        |                        ELSE 16 + (doc_id % 9) * 4 END
        |       WHEN 2 THEN 16 + (doc_id % 9) * 4
        |       WHEN 5 THEN 10 + (doc_id % 9) * 2
        |       WHEN 6 THEN 16 + (doc_id % 9) * 4
        |       WHEN 7 THEN 16 + (doc_id % 9) * 4
        |       WHEN 8 THEN 16 + (doc_id % 9) * 4
        |       WHEN 9 THEN 16 + (doc_id % 9) * 4
        |       WHEN 10 THEN 16 + 8 * (doc_id % 4)
        |       WHEN 11 THEN 16 + (doc_id % 9) * 4
        |       WHEN 12 THEN 16 + (doc_id % 9) * 4
        |       WHEN 15 THEN 16 + (doc_id % 9) * 4
        |       ELSE NULL END AS height,
        |  CASE doc_id % 17
        |       WHEN 0 THEN 40 * (doc_id % 977 + 25)
        |       WHEN 1 THEN 36 * (doc_id % 29 + 1)
        |       WHEN 3 THEN CASE WHEN doc_id % 2 = 0
        |                        THEN 10 * (doc_id % 29 + 1)
        |                        ELSE 100 * (doc_id % 29 + 1) END
        |       WHEN 4 THEN 10 * (doc_id % 29 + 1)
        |       WHEN 5 THEN 40
        |       WHEN 8 THEN (doc_id % 5 + 2) * 10 * (doc_id % 7 + 1)
        |       WHEN 12 THEN (doc_id % 5 + 2) * 10 * (doc_id % 7 + 1)
        |       WHEN 14 THEN 10 * (doc_id % 29 + 1)
        |       ELSE NULL END AS duration_ms,
        |  CASE doc_id % 17
        |       WHEN 0 THEN CASE doc_id % 3 WHEN 1 THEN 'mp42'
        |                        WHEN 2 THEN 'M4A ' ELSE 'isom' END
        |       WHEN 1 THEN 'mpeg1-l3-64k'
        |       WHEN 2 THEN CASE doc_id % 3 WHEN 1 THEN 'lossless'
        |                        WHEN 2 THEN 'extended' ELSE 'lossy' END
        |       WHEN 3 THEN CASE WHEN doc_id % 2 = 0 THEN 'opus'
        |                        ELSE 'vorbis' END
        |       WHEN 4 THEN 'pcm16'
        |       WHEN 5 THEN 'MJPG'
        |       WHEN 6 THEN CASE WHEN doc_id % 2 = 0 THEN 'jpeg-baseline'
        |                        ELSE 'jpeg-progressive' END
        |       WHEN 7 THEN 'png'
        |       WHEN 8 THEN 'gif89a-anim'
        |       WHEN 9 THEN 'bmp'
        |       WHEN 10 THEN 'ico-' || (doc_id % 4 + 1)
        |       WHEN 11 THEN 'svg'
        |       WHEN 12 THEN 'png-anim'
        |       WHEN 13 THEN 'pdf-1.' || (doc_id % 8)
        |       WHEN 14 THEN 'flac'
        |       WHEN 15 THEN CASE WHEN doc_id % 2 = 0 THEN 'tiff-le'
        |                         ELSE 'tiff-be' END
        |       ELSE NULL END AS media_format,
        |  CASE WHEN doc_id % 17 = 16 THEN 'no_moov'
        |       ELSE NULL END AS media_reason
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
