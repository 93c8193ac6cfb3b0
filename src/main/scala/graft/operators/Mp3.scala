package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.Bytes.{be32, latin1, matches, u32be}
import graft.plans.HttpCodec

/** MP3 METADATA — round 18, the audio twin of [[Mp4Ops]]: the round-18
  * `magic_mime` extension can NAME `audio/mpeg` bytes (the
  * shape-validated ID3v2 magic); this walk READS them — the ID3v2 text
  * frames a corpus builder actually filters on (title / artist /
  * album) plus the MPEG audio frame stream (version, layer, bitrate,
  * sample rate) and the duration. No sample decode (MP3's hybrid
  * filterbank has no pure-JVM decoder on the offline classpath — the
  * brotli precedent; G.711/WAV remain the decodable audio routes).
  *
  * Duration (round 19, three tiers): a Xing/Info VBR header's exact
  * frame count when present; else an exact HEADER WALK — every frame
  * header hopped by its declared length (O(frames) 4-byte reads, no
  * decode), which measures Xing-less VBR exactly too; else (the walk
  * hit junk or a truncated tail) the CBR byte estimate, NAMED by
  * `durationExact = false` so a consumer knows it holds an estimate.
  *
  * Full MPEG frame grammar (round 19): MPEG1 / MPEG2 / MPEG2.5 ×
  * Layer I/II/III bitrate and sample-rate tables — the real web's
  * 22.05/16/8 kHz long-tail parses instead of quarantining as
  * `no_frames`.
  *
  * ID3v2 grammar honored: v2.2 (3-char ids, 3-byte sizes — the legacy
  * grammar old crawls still carry), v2.3 (plain 32-bit frame sizes)
  * AND v2.4 (sync-safe frame sizes); the global unsynchronisation flag
  * de-stuffs 0xFF 0x00 before the frame walk (v2.3/v2.2 tag-wide per
  * spec; v2.4 per frame, where sizes count the stuffed bytes).
  * Extended headers skipped per the flag bit. Text frames decode
  * latin-1 / UTF-16(BOM) / UTF-8 by their encoding byte.
  *
  * Scale shape: the codec convention — one mapPartitions walk per
  * payload, payload dies in-task, zero shuffles. */
object Mp3Ops {

  /** Parsed metadata. `tagVersion` = 2/3/4 (ID3v2), 1 (only the legacy
    * v1 trailer), or -1 when the file opens straight at a frame sync
    * with no tag at all. Strings are null-empty "" when the field is
    * absent in every tag present. `mpegVersion` ∈ {"1", "2", "2.5"};
    * `layer` ∈ {1, 2, 3}. `durationExact` = false only when
    * `durationMs` is the CBR byte ESTIMATE (no Xing header and the
    * frame walk could not reach the end of the audio cleanly). */
  final case class Mp3Info(tagVersion: Int, title: String, artist: String,
                           album: String, mpegVersion: String, layer: Int,
                           bitrateKbps: Int, sampleRate: Int,
                           durationMs: Long, durationExact: Boolean)

  // Bitrate tables (kbps; index 0 = free, 15 = bad → -1 sentinel kept
  // at 15) — ISO 11172-3 table B.2 and the 13818-3 LSF column.
  private val BitrateV1L1 = Array(0, 32, 64, 96, 128, 160, 192, 224, 256,
    288, 320, 352, 384, 416, 448, -1)
  private val BitrateV1L2 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128,
    160, 192, 224, 256, 320, 384, -1)
  private val BitrateV1L3 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
    160, 192, 224, 256, 320, -1)
  private val BitrateV2L1 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128,
    144, 160, 176, 192, 224, 256, -1)
  private val BitrateV2L23 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80,
    96, 112, 128, 144, 160, -1)
  private val SampleRateMpeg1 = Array(44100, 48000, 32000, -1)
  private val SampleRateMpeg2 = Array(22050, 24000, 16000, -1)
  private val SampleRateMpeg25 = Array(11025, 12000, 8000, -1)

  private def syncSafe(b: Array[Byte], off: Int): Int =
    ((b(off) & 0x7f) << 21) | ((b(off + 1) & 0x7f) << 14) |
      ((b(off + 2) & 0x7f) << 7) | (b(off + 3) & 0x7f)

  /** Decode one ID3v2 text-frame payload by its encoding byte. */
  private def textOf(b: Array[Byte], off: Int, len: Int): String = {
    if (len <= 1) return ""
    val enc = b(off) & 0xff
    val cs = enc match {
      case 1 => java.nio.charset.StandardCharsets.UTF_16 // with BOM
      case 2 => java.nio.charset.StandardCharsets.UTF_16BE
      case 3 => java.nio.charset.StandardCharsets.UTF_8
      case _ => java.nio.charset.StandardCharsets.ISO_8859_1
    }
    val s = new String(b, off + 1, len - 1, cs)
    // text frames are NUL-terminated lists; the first value is the field
    val cut = s.indexOf('\u0000')
    if (cut >= 0) s.substring(0, cut) else s
  }

  /** Remove ID3v2 unsynchronisation stuffing (0xFF 0x00 → 0xFF) from a
    * slice; returns (buffer, length). */
  private def deUnsync(b: Array[Byte], off: Int, len: Int): (Array[Byte], Int) = {
    val out = new Array[Byte](math.max(len, 0))
    var i = off
    var j = 0
    val end = off + len
    while (i < end) {
      out(j) = b(i)
      j += 1
      if (b(i) == 0xff.toByte && i + 1 < end && b(i + 1) == 0) i += 2 else i += 1
    }
    (out, j)
  }

  /** Walk one payload: Left(reason) or Right(info). Reasons: `not_mp3`
    * (neither a shape-valid ID3v2 header nor an immediate MPEG frame
    * sync), `no_frames` (tag parsed but no valid audio frame follows
    * within the scan bound). Never throws on hostile bytes. */
  def mp3Walk(bytes: Array[Byte]): Either[String, Mp3Info] = {
    val hasId3 = bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' &&
      bytes(2) == '3' && (bytes(3) & 0xff) < 0x20 && (bytes(4) & 0xff) < 0x20 &&
      (bytes(5) & 0x0f) == 0 && (bytes(6) & 0x80) == 0 && (bytes(7) & 0x80) == 0 &&
      (bytes(8) & 0x80) == 0 && (bytes(9) & 0x80) == 0
    var tagVersion = -1
    var title = ""; var artist = ""; var album = ""
    var audioStart = 0
    if (hasId3) {
      tagVersion = bytes(3) & 0xff
      val tagSize = syncSafe(bytes, 6)
      val tagEnd = math.min(10L + tagSize, bytes.length.toLong).toInt
      // v2.4 footer flag (0x10): a 10-byte "3DI" mirror AFTER the tag
      // body — not audio, so the frame scan starts past it
      val footer = if (tagVersion == 4 && (bytes(5) & 0x10) != 0) 10 else 0
      audioStart = math.min(tagEnd + footer, bytes.length)
      val unsync = (bytes(5) & 0x80) != 0
      // v2.2/v2.3 apply unsynchronisation to the WHOLE tag as the last
      // encoding step, so frame sizes line up only AFTER de-stuffing;
      // v2.4 stuffs per frame and sizes count the stuffed bytes — the
      // frame loop de-stuffs payloads there instead.
      val (tb, tbStart, tbEnd) =
        if (unsync && tagVersion != 4) {
          val (out, n) = deUnsync(bytes, 10, tagEnd - 10)
          (out, 0, n)
        } else (bytes, 10, tagEnd)
      if (tagVersion == 3 || tagVersion == 4) {
        var off = tbStart
        // extended header: skip by its declared size (v2.3: plain u32
        // EXCLUDING its own 4 size bytes; v2.4: sync-safe INCLUDING)
        if ((bytes(5) & 0x40) != 0 && off + 4 <= tbEnd) {
          val es =
            if (tagVersion == 4) syncSafe(tb, off)
            else u32be(tb, off).toInt + 4
          off += math.max(es, 4)
        }
        var ok = true
        while (ok && off + 10 <= tbEnd) {
          val id = new String(tb, off, 4,
            java.nio.charset.StandardCharsets.ISO_8859_1)
          if (id(0) == 0) ok = false // padding reached
          else {
            val fs =
              if (tagVersion == 4) syncSafe(tb, off + 4)
              else u32be(tb, off + 4)
            if (fs < 0 || off + 10 + fs > tbEnd) ok = false
            else {
              // v2.4 per-frame unsync: the format flag bit 0x02, or the
              // tag-global flag (= every frame stuffed)
              val frameUnsync = tagVersion == 4 &&
                (unsync || (tb(off + 9) & 0x02) != 0)
              def text(): String =
                if (frameUnsync) {
                  val (fb, fl) = deUnsync(tb, off + 10, fs.toInt)
                  textOf(fb, 0, fl)
                } else textOf(tb, off + 10, fs.toInt)
              id match {
                case "TIT2" => title = text()
                case "TPE1" => artist = text()
                case "TALB" => album = text()
                case _ => ()
              }
              off += 10 + fs.toInt
            }
          }
        }
      } else if (tagVersion == 2 && (bytes(5) & 0x40) == 0) {
        // ID3v2.2 (round 19): 3-char frame ids, 3-byte big-endian
        // sizes, no frame flags. The 0x40 tag flag means whole-tag
        // compression there — unreadable by design, fields stay empty.
        var off = tbStart
        var ok = true
        while (ok && off + 6 <= tbEnd) {
          if (tb(off) == 0) ok = false // padding reached
          else {
            val id = new String(tb, off, 3,
              java.nio.charset.StandardCharsets.ISO_8859_1)
            val fs = ((tb(off + 3) & 0xff) << 16) |
              ((tb(off + 4) & 0xff) << 8) | (tb(off + 5) & 0xff)
            if (off + 6 + fs > tbEnd) ok = false
            else {
              id match {
                case "TT2" => title = textOf(tb, off + 6, fs)
                case "TP1" => artist = textOf(tb, off + 6, fs)
                case "TAL" => album = textOf(tb, off + 6, fs)
                case _ => ()
              }
              off += 6 + fs
            }
          }
        }
      }
    }
    // ID3v1 fallback (the 128-byte "TAG" trailer — the legacy tag many
    // files still carry): fills fields v2 left empty; a v1-only file
    // reports tagVersion 1. The trailer is NOT audio, so it also bounds
    // the CBR byte estimate.
    var audioEnd = bytes.length
    if (bytes.length >= 128) {
      val t = bytes.length - 128
      if (bytes(t) == 'T' && bytes(t + 1) == 'A' && bytes(t + 2) == 'G') {
        def field(off: Int, len: Int): String = {
          var e = off + len
          while (e > off && (bytes(e - 1) == 0 || bytes(e - 1) == ' ')) e -= 1
          new String(bytes, off, e - off,
            java.nio.charset.StandardCharsets.ISO_8859_1)
        }
        if (tagVersion < 0) tagVersion = 1
        if (title.isEmpty) title = field(t + 3, 30)
        if (artist.isEmpty) artist = field(t + 33, 30)
        if (album.isEmpty) album = field(t + 63, 30)
        audioEnd = t
      }
    }
    // decode one frame header at `off`; null if invalid. Fields:
    // (verBits, layer, kbps, sampleRate, pad, frameLenBytes, spf)
    def header(off: Int): Array[Int] = {
      if (off + 4 > audioEnd) return null
      if ((bytes(off) & 0xff) != 0xff ||
        (bytes(off + 1) & 0xe0) != 0xe0) return null
      val b1 = bytes(off + 1) & 0xff
      val b2 = bytes(off + 2) & 0xff
      val verBits = (b1 >> 3) & 3 // 0 = MPEG2.5, 2 = MPEG2, 3 = MPEG1
      val layerBits = (b1 >> 1) & 3 // 1 = III, 2 = II, 3 = I
      val brIdx = (b2 >> 4) & 0x0f
      val srIdx = (b2 >> 2) & 0x03
      if (verBits == 1 || layerBits == 0 || brIdx == 0 || brIdx == 15 ||
        srIdx == 3) return null
      val layer = 4 - layerBits // 1/2/3
      val v1 = verBits == 3
      val kbps = (layer match {
        case 1 => if (v1) BitrateV1L1 else BitrateV2L1
        case 2 => if (v1) BitrateV1L2 else BitrateV2L23
        case _ => if (v1) BitrateV1L3 else BitrateV2L23
      })(brIdx)
      val sr = (verBits match {
        case 3 => SampleRateMpeg1
        case 2 => SampleRateMpeg2
        case _ => SampleRateMpeg25
      })(srIdx)
      // samples per frame: L1 384, L2 1152, L3 1152 (MPEG1) / 576 (LSF)
      val spf = layer match {
        case 1 => 384
        case 2 => 1152
        case _ => if (v1) 1152 else 576
      }
      val pad = (b2 >> 1) & 1
      val flen =
        if (layer == 1) (12 * kbps * 1000 / sr + pad) * 4
        else spf / 8 * kbps * 1000 / sr + pad
      Array(verBits, layer, kbps, sr, pad, flen, spf)
    }
    // first MPEG frame header at/after audioStart (bounded scan — real
    // files open the frame immediately; 4 KiB absorbs padding/junk;
    // the v1 trailer is excluded — its latin-1 text is not frame space)
    var p = audioStart
    val bound = math.min(audioEnd - 4, audioStart + 4096)
    var hdr = -1
    while (hdr < 0 && p <= bound) {
      if (header(p) != null) hdr = p else p += 1
    }
    if (hdr < 0) return if (hasId3) Left("no_frames") else Left("not_mp3")
    val h0 = header(hdr)
    val verBits = h0(0); val layer = h0(1); val kbps = h0(2); val sr = h0(3)
    val spf = h0(6)
    val mpegVersion = verBits match {
      case 3 => "1"
      case 2 => "2"
      case _ => "2.5"
    }
    // VBR tier 1: a Xing/Info header in the first frame's side-info
    // region (Layer III only) carries the exact frame count. Side-info
    // size: MPEG1 17 bytes mono / 32 otherwise; LSF 9 / 17.
    val chMode = (bytes(hdr + 3) & 0xff) >> 6
    val side =
      if (verBits == 3) { if (chMode == 3) 17 else 32 }
      else { if (chMode == 3) 9 else 17 }
    val xing = hdr + 4 + side
    val vbrFrames =
      if (layer == 3 &&
        (matches(bytes, xing, "Xing") || matches(bytes, xing, "Info")) &&
        xing + 12 <= bytes.length && (u32be(bytes, xing + 4) & 1L) == 1L)
        u32be(bytes, xing + 8)
      else -1L
    // VBR tier 2 (round 19): hop every frame header by its declared
    // length — O(frames) 4-byte reads, no decode — summing samples, so
    // a Xing-less VBR stream still measures EXACTLY. The walk is clean
    // only if consecutive headers agree on version/layer/rate and the
    // hops land within 3 bytes of the audio end (stray padding);
    // anything else (junk mid-stream, truncated tail) falls to tier 3,
    // the CBR byte estimate, NAMED inexact.
    var wp = hdr
    var samples = 0L
    var cleanWalk = true
    while (cleanWalk && wp + 4 <= audioEnd) {
      val h = header(wp)
      if (h == null || h(0) != verBits || h(1) != layer || h(3) != sr ||
        h(5) <= 4) cleanWalk = false
      else {
        samples += h(6)
        wp += h(5)
      }
    }
    val walkExact = cleanWalk && wp <= audioEnd && wp >= audioEnd - 3
    val (durationMs, durationExact) =
      if (vbrFrames >= 0) (vbrFrames * spf * 1000L / sr, true)
      else if (walkExact) (samples * 1000L / sr, true)
      else (math.max(audioEnd - hdr, 0).toLong * 8000L / (kbps * 1000L), false)
    Right(Mp3Info(tagVersion, title, artist, album, mpegVersion, layer,
      kbps, sr, durationMs, durationExact))
  }

  // ---------- operator faces ----------

  private val cleanSchema = StructType(Seq(
    StructField("url", StringType),
    StructField("tag_version", IntegerType),
    StructField("title", StringType),
    StructField("artist", StringType),
    StructField("album", StringType),
    StructField("mpeg_version", StringType),
    StructField("layer", IntegerType),
    StructField("bitrate_kbps", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("duration_ms", LongType),
    StructField("duration_exact", BooleanType)))

  /** Metadata of a (url, payload) frame — (clean, quarantine) pair, the
    * [[Mp4Ops.mp4MetaOf]] discipline. Absent tag fields are NULL;
    * `duration_exact = false` names the CBR byte estimate (see
    * [[Mp3Info]]). */
  def mp3MetaOf(payloads: DataFrame): (DataFrame, DataFrame) = {
    val spark = payloads.sparkSession
    val walked = spark.createDataFrame(
      payloads.select(col("url").cast("string"), col("payload"))
        .rdd.mapPartitions { it =>
          it.map { r =>
            val url = r.getString(0)
            mp3Walk(r.getAs[Array[Byte]](1)) match {
              case Right(m) => Row(url,
                if (m.tagVersion >= 0) m.tagVersion else null,
                if (m.title.nonEmpty) m.title else null,
                if (m.artist.nonEmpty) m.artist else null,
                if (m.album.nonEmpty) m.album else null,
                m.mpegVersion, m.layer,
                m.bitrateKbps, m.sampleRate, m.durationMs, m.durationExact,
                null)
              case Left(reason) =>
                Row(url, null, null, null, null, null, null, null, null,
                  null, null, reason)
            }
          }
        }, StructType(cleanSchema.fields :+ StructField("reason", StringType)))
    (walked.filter(col("reason").isNull).drop("reason"),
      walked.filter(col("reason").isNotNull).select(col("url"), col("reason")))
  }

  /** The WARC adapter ([[Mp4Ops.mp4MetaOfRecords]]'s shape): responses
    * routed by DECLARATION OR CONTENT (`audio/mpeg` header, or a body
    * whose shape-valid ID3v2 magic sniffs `audio/mpeg` behind a lying
    * header — the walk re-validates). */
  def mp3MetaOfRecords(records: DataFrame): (DataFrame, DataFrame) =
    mp3MetaOf(HttpCodec.routeByMime(records, Seq("audio/mpeg"), 16,
      col("target_uri").cast("string")).withColumnRenamed("body", "payload"))

  // ---------- oracle instantiation (q_mp3_meta) ----------

  private def ss(v: Int): Array[Byte] = Array(
    ((v >> 21) & 0x7f).toByte, ((v >> 14) & 0x7f).toByte,
    ((v >> 7) & 0x7f).toByte, (v & 0x7f).toByte)

  private def textFrame(id: String, text: String, v4: Boolean): Array[Byte] = {
    val payload = Array[Byte](0) ++ latin1(text) // encoding 0 = latin-1
    latin1(id) ++ (if (v4) ss(payload.length) else be32(payload.length)) ++
      Array[Byte](0, 0) ++ payload
  }

  /** Deterministic synthetic MP3 — ID3v2.3 (even doc_id, plain frame
    * sizes) or v2.4 (odd, sync-safe frame sizes) tag carrying
    * TIT2/TPE1, then `doc_id % 29 + 1` REAL 64 kbps MPEG1 Layer III
    * CBR frames at 32 kHz (round 19): each frame is exactly
    * `144 × 64000 / 32000 = 288` bytes and `1152 / 32000 = 36` ms —
    * integer-exact in both engines — and every frame HEADER is real,
    * so the oracle grades the round-19 frame-walk duration tier
    * (`duration_exact = true` via the walk, no Xing header present). */
  private[graft] def mp3Synth(docId: Long): Array[Byte] = {
    val v4 = docId % 2 == 1
    val frames = textFrame("TIT2", s"title $docId", v4) ++
      textFrame("TPE1", s"artist ${docId % 50}", v4)
    val tag = latin1("ID3") ++
      Array[Byte](if (v4) 4 else 3, 0, 0) ++ ss(frames.length) ++ frames
    // 0xFF 0xFB = MPEG1 Layer III no-CRC; 0x58 = bitrate idx 5
    // (64 kbps) + sample-rate idx 2 (32000), no padding; stereo
    val nFrames = (docId % 29 + 1).toInt
    val audio = new Array[Byte](288 * nFrames)
    var f = 0
    while (f < nFrames) {
      val o = 288 * f
      audio(o) = 0xff.toByte; audio(o + 1) = 0xfb.toByte
      audio(o + 2) = 0x58.toByte; audio(o + 3) = 0x00
      f += 1
    }
    tag ++ audio
  }

  /** §2 `q_mp3_meta`: MP3 metadata under the ORACLE — the planted-truth
    * pattern: each doc rides a deterministic synthetic MP3
    * ([[mp3Synth]], v2.3/v2.4 alternating so BOTH frame-size grammars
    * grade), Spark re-reads tag fields and the frame header through the
    * REAL walk while DuckDB states the construction arithmetic. */
  def mp3Meta(documents: DataFrame): DataFrame = {
    val payloads = MultimodalOps.syntheticPayloads(documents, mp3Synth)
    val (clean, _) = mp3MetaOf(payloads.select(
      col("doc_id").cast("string").as("url"), col("payload")))
    clean
      .select(col("url").cast("long").as("doc_id"),
        col("tag_version").cast("long").as("tag_version"),
        col("title"), col("artist"),
        col("bitrate_kbps").cast("long").as("bitrate_kbps"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("duration_ms"), col("duration_exact"))
      .orderBy("doc_id")
  }

  val oracles: Map[String, String] = Map(
    "q_mp3_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 1 THEN 4 ELSE 3 END AS tag_version,
        |  'title ' || doc_id AS title,
        |  'artist ' || (doc_id % 50) AS artist,
        |  64 AS bitrate_kbps, 32000 AS sample_rate,
        |  36 * (doc_id % 29 + 1) AS duration_ms,
        |  TRUE AS duration_exact
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
