package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.Bytes._

/** Ogg container METADATA — round 18, closing the named-formats sweep
  * (MP4 row 170, MP3 row 171, WebP row 172): the sniffer names `OggS`
  * as `application/ogg`; this walk reads what the container says about
  * itself — the codec (OpusHead / Vorbis ID header on the first, BOS,
  * page), channel count, sample rate, and the duration the LAST page's
  * granule position encodes (Opus: granules are 48 kHz samples minus
  * the pre-skip; Vorbis: granules are PCM samples at the declared
  * rate). SAMPLE decode stays out (no pure-JVM Opus/Vorbis decoder
  * offline — the brotli precedent; decodeBatches' stub slot is where a
  * real decoder plugs in).
  *
  * Page CRCs are deliberately NOT verified — the walk is a metadata
  * triage, and a torn tail simply means the duration reads from the
  * last INTACT page (the WarcSource keep-prior-records discipline).
  *
  * Scale shape: the codec convention — one mapPartitions walk per
  * payload, payload dies in-task, zero shuffles. */
object OggOps {

  /** Parsed metadata. `sampleRate` is the granule clock (48000 for
    * Opus by spec, the declared rate for Vorbis). `title`/`artist`/
    * `album` come from the VorbisComment header (round 19 — the audio
    * twin of ID3 text frames, shared verbatim by Opus `OpusTags` and
    * Vorbis packet-type-3 headers); "" when absent. */
  final case class OggInfo(codec: String, channels: Int, sampleRate: Int,
                           durationMs: Long, title: String = "",
                           artist: String = "", album: String = "")

  /** Walk one payload: Left(reason) or Right(info). Reasons: `not_ogg`
    * (no OggS capture pattern), `bad_codec` (first page carries neither
    * an OpusHead nor a Vorbis ID header). Never throws. */
  def oggWalk(bytes: Array[Byte]): Either[String, OggInfo] = {
    if (!matches(bytes, 0, "OggS")) return Left("not_ogg")
    var codec = ""
    var channels = 0
    var rate = 0
    var preskip = 0L
    var lastGranule = -1L
    var off = 0
    var first = true
    var ok = true
    var title = ""; var artist = ""; var album = ""
    var commentsDone = false
    // VorbisComment list: vendor_length + vendor, then count ×
    // (length + "KEY=value" UTF-8). Length-guarded throughout — a torn
    // comment header keeps the fields read so far, never throws.
    def parseComments(start: Int, end: Int): Unit = {
      commentsDone = true
      if (start + 4 > end) return
      val vlen = u32le(bytes, start)
      if (vlen < 0 || start + 4 + vlen + 4 > end) return
      var p = (start + 4 + vlen).toInt
      val n = u32le(bytes, p)
      p += 4
      var i = 0L
      while (i < n && p + 4 <= end) {
        val clen = u32le(bytes, p)
        p += 4
        if (clen < 0 || p + clen > end) i = n // torn list: stop
        else {
          val s = new String(bytes, p, clen.toInt,
            java.nio.charset.StandardCharsets.UTF_8)
          val eq = s.indexOf('=')
          if (eq > 0) {
            s.substring(0, eq).toUpperCase(java.util.Locale.ROOT) match {
              case "TITLE" => if (title.isEmpty) title = s.substring(eq + 1)
              case "ARTIST" => if (artist.isEmpty) artist = s.substring(eq + 1)
              case "ALBUM" => if (album.isEmpty) album = s.substring(eq + 1)
              case _ => ()
            }
          }
          p += clen.toInt
          i += 1
        }
      }
    }
    while (ok && off + 27 <= bytes.length && matches(bytes, off, "OggS")) {
      val granule = s64le(bytes, off + 6)
      val nSegs = bytes(off + 26) & 0xff
      if (off + 27 + nSegs > bytes.length) ok = false
      else {
        var payLen = 0
        var i = 0
        while (i < nSegs) { payLen += bytes(off + 27 + i) & 0xff; i += 1 }
        val payOff = off + 27 + nSegs
        if (payOff + payLen > bytes.length) ok = false // torn page: stop
        else {
          if (first) {
            first = false
            if (matches(bytes, payOff, "OpusHead") && payLen >= 19) {
              codec = "opus"
              channels = bytes(payOff + 9) & 0xff
              preskip = u16le(bytes, payOff + 10).toLong
              rate = 48000 // the Opus granule clock, by spec
            } else if (payLen >= 16 && (bytes(payOff) & 0xff) == 1 &&
              matches(bytes, payOff + 1, "vorbis")) {
              codec = "vorbis"
              channels = bytes(payOff + 11) & 0xff
              rate = u32le(bytes, payOff + 12).toInt
            } else return Left("bad_codec")
          } else if (!commentsDone) {
            // the comment header is the stream's SECOND packet; real
            // comment headers fit one page, so the page payload bounds
            // the parse
            if (codec == "opus" && matches(bytes, payOff, "OpusTags"))
              parseComments(payOff + 8, payOff + payLen)
            else if (codec == "vorbis" && payLen >= 7 &&
              (bytes(payOff) & 0xff) == 3 &&
              matches(bytes, payOff + 1, "vorbis"))
              parseComments(payOff + 7, payOff + payLen)
          }
          if (granule >= 0) lastGranule = math.max(lastGranule, granule)
          off = payOff + payLen
        }
      }
    }
    if (codec.isEmpty) Left("bad_codec")
    else {
      val durationMs =
        if (rate <= 0 || lastGranule < 0) 0L
        else codec match {
          case "opus" => math.max(lastGranule - preskip, 0L) * 1000L / 48000L
          case _      => lastGranule * 1000L / rate
        }
      Right(OggInfo(codec, channels, rate, durationMs, title, artist, album))
    }
  }

  // ---------- operator faces ----------

  private val cleanSchema = StructType(Seq(
    StructField("url", StringType),
    StructField("codec", StringType),
    StructField("channels", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("duration_ms", LongType),
    StructField("title", StringType),
    StructField("artist", StringType),
    StructField("album", StringType)))

  /** Metadata of a (url, payload) frame — (clean, quarantine) pair,
    * the [[Mp4Ops.mp4MetaOf]] discipline. Absent comment fields are
    * NULL. */
  def oggMetaOf(payloads: DataFrame): (DataFrame, DataFrame) = {
    val spark = payloads.sparkSession
    val walked = spark.createDataFrame(
      payloads.select(col("url").cast("string"), col("payload"))
        .rdd.mapPartitions { it =>
          it.map { r =>
            val url = r.getString(0)
            oggWalk(r.getAs[Array[Byte]](1)) match {
              case Right(m) =>
                Row(url, m.codec, m.channels, m.sampleRate, m.durationMs,
                  if (m.title.nonEmpty) m.title else null,
                  if (m.artist.nonEmpty) m.artist else null,
                  if (m.album.nonEmpty) m.album else null, null)
              case Left(reason) =>
                Row(url, null, null, null, null, null, null, null, reason)
            }
          }
        }, StructType(cleanSchema.fields :+ StructField("reason", StringType)))
    (walked.filter(col("reason").isNull).drop("reason"),
      walked.filter(col("reason").isNotNull).select(col("url"), col("reason")))
  }

  // ---------- oracle instantiation (q_ogg_meta) ----------

  private def page(headerType: Int, granule: Long, seq: Int,
                   payload: Array[Byte]): Array[Byte] = {
    require(payload.length < 255 * 255)
    val full = payload.length / 255
    val segs = Array.fill[Byte](full)(0xff.toByte) :+
      (payload.length % 255).toByte
    latin1("OggS") ++ Array[Byte](0, headerType.toByte) ++ le64(granule) ++
      le32(7) ++ le32(seq.toLong) ++ le32(0) ++
      Array(segs.length.toByte) ++ segs ++ payload
  }

  private val OpusPreskip = 312

  /** One VorbisComment block: vendor + the planted TITLE/ARTIST list. */
  private def comments(docId: Long): Array[Byte] = {
    val vendor = latin1("graft")
    val list = Seq(s"TITLE=title $docId", s"ARTIST=artist ${docId % 50}")
    le32(vendor.length.toLong) ++ vendor ++ le32(list.length.toLong) ++
      list.flatMap(s => le32(s.length.toLong) ++ latin1(s)).toArray
  }

  /** Deterministic synthetic Ogg — variant doc_id%2: 0 = Opus
    * (duration 10 × (doc_id%29 + 1) ms on the 48 kHz granule clock,
    * pre-skip honored), 1 = Vorbis at 44100 (duration
    * 100 × (doc_id%29 + 1) ms — 4410-sample granules, integer-exact in
    * both engines). A VorbisComment header page (round 19) plants
    * TITLE/ARTIST on both codecs. */
  private[graft] def oggSynth(docId: Long): Array[Byte] = {
    val k = (docId % 29 + 1).toInt
    if (docId % 2 == 0) {
      val id = latin1("OpusHead") ++ Array[Byte](1, 2) ++ le16(OpusPreskip) ++
        le32(48000L) ++ le16(0) ++ Array[Byte](0)
      page(0x02, 0L, 0, id) ++
        page(0x00, 0L, 1, latin1("OpusTags") ++ comments(docId)) ++
        page(0x04, 48L * (10 * k) + OpusPreskip, 2, Array[Byte](1, 2, 3))
    } else {
      val id = Array[Byte](1) ++ latin1("vorbis") ++ le32(0) ++ Array[Byte](2) ++
        le32(44100L) ++ new Array[Byte](12) ++ Array[Byte](0x66, 1)
      page(0x02, 0L, 0, id) ++
        page(0x00, 0L, 1,
          Array[Byte](3) ++ latin1("vorbis") ++ comments(docId) ++
            Array[Byte](1)) ++
        page(0x04, 4410L * k, 2, Array[Byte](1, 2, 3))
    }
  }

  /** §2 `q_ogg_meta`: Ogg metadata under the ORACLE — the planted-truth
    * pattern over both codec ID headers and the granule-position
    * duration arithmetic (pre-skip subtraction on the Opus side). */
  def oggMeta(documents: DataFrame): DataFrame = {
    val payloads = MultimodalOps.syntheticPayloads(documents, oggSynth)
    val (clean, _) = oggMetaOf(payloads.select(
      col("doc_id").cast("string").as("url"), col("payload")))
    clean
      .select(col("url").cast("long").as("doc_id"),
        col("codec"),
        col("channels").cast("long").as("channels"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("duration_ms"), col("title"), col("artist"))
      .orderBy("doc_id")
  }

  val oracles: Map[String, String] = Map(
    "q_ogg_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'opus' ELSE 'vorbis' END AS codec,
        |  2 AS channels,
        |  CASE WHEN doc_id % 2 = 0 THEN 48000 ELSE 44100 END AS sample_rate,
        |  CASE WHEN doc_id % 2 = 0 THEN 10 * (doc_id % 29 + 1)
        |       ELSE 100 * (doc_id % 29 + 1) END AS duration_ms,
        |  'title ' || doc_id AS title,
        |  'artist ' || (doc_id % 50) AS artist
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
