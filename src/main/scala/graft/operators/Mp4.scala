package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.Bytes._
import graft.plans.HttpCodec

/** ISO-BMFF (MP4) container METADATA — round 18, the consumer of the
  * round-18 `magic_mime` extension: the real web's video estate is MP4
  * (`ftyp` box), and until now the estate could only NAME those bytes
  * (`video/mp4` in the sniff audit) without reading them. This walk
  * lifts the container's self-description — brand, duration, track
  * count, video geometry, codec fourccs — into columns a corpus
  * builder can filter/profile on (drop sub-second clips, split by
  * codec, detect geometry anomalies) WITHOUT any codec decode.
  *
  * The honest scope (the AVI/brotli discipline): ISO-BMFF is a pure
  * container — big-endian (size, fourcc) boxes, 64-bit largesize and
  * size-0-to-EOF forms, `moov` recursion. Reading `mvhd` (v0 + v1),
  * `tkhd` (v0 + v1, 16.16 fixed geometry), `hdlr` (vide/soun), and the
  * first `stsd` sample-entry fourcc per track is deterministic byte
  * arithmetic. SAMPLE DECODE stays out of scope — H.264/AAC have no
  * pure-JVM decoder on the offline classpath (the brotli precedent);
  * the metadata is the part a 100 TB pipeline needs at ingest anyway.
  *
  * Scale shape: the codec convention — one mapPartitions walk per
  * payload, the payload dies inside the task, zero shuffles; box
  * recursion depth-capped (a crafted deep-nest cannot blow the task
  * stack — the AviOps guard).
  *
  * Re-expresses no reference capability (the reference ingests football
  * JSON only); pipeline-estate work like AVI and the image codecs. */
object Mp4Ops {

  /** Parsed container metadata. `width`/`height`/`videoCodec` are -1/""
    * for audio-only files; `durationMs` derives from mvhd
    * duration/timescale (integer milliseconds, floor), or -1 when the
    * writer declared the ISO "unknown" sentinel (all-ones duration —
    * common on live-captured files; the faces emit NULL).
    * `fragmented` = true when the duration was measured from a `sidx`
    * segment index instead of a movie header (round 19) — a DASH/HLS
    * media segment, where track metadata lives in the separate init
    * segment (nTracks 0, no geometry). */
  final case class Mp4Info(majorBrand: String, durationMs: Long,
                           nTracks: Int, width: Int, height: Int,
                           videoCodec: String, audioCodec: String,
                           fragmented: Boolean = false)

  private val MaxDepth = 64

  /** Walk one payload: Left(reason) or Right(info). Reasons: `not_mp4`
    * (no leading `ftyp` box), `no_moov` (no movie header found —
    * truncated or fragmented-only file). Never throws on hostile
    * bytes. */
  def mp4Walk(bytes: Array[Byte]): Either[String, Mp4Info] = {
    // `styp` is the segment twin of `ftyp` (ISO 14496-12 §8.16.2) — the
    // leading box of a real DASH/HLS media segment (round 19)
    val lead = fourcc(bytes, 4)
    if (bytes.length < 16 || (lead != "ftyp" && lead != "styp"))
      return Left("not_mp4")
    val majorBrand = fourcc(bytes, 8)
    var timescale = 0L
    var duration = -1L
    var sawMoof = false
    var sidxTimescale = -1L
    var sidxDuration = 0L
    // self-initializing fMP4 accounting (round 19): mdhd gives the
    // MEDIA timescale the fragment durations are expressed in; trun/
    // tfhd sum one track's sample durations across moofs (tracks run
    // in parallel — summing every traf would double count)
    var mdhdTimescale = -1L
    var tMdhd = -1L
    var fragTrack = -1L
    var fragTicks = 0L
    var trafTrack = -1L
    var trafDefDur = -1L
    var nTracks = 0
    var width = -1
    var height = -1
    var videoCodec = ""
    var audioCodec = ""
    // per-trak accumulation: geometry comes from tkhd, the handler from
    // mdia/hdlr, the codec from stbl/stsd — gathered while inside one
    // trak subtree, committed when the subtree closes
    var tW = -1; var tH = -1; var tHandler = ""; var tCodec = ""
    def commitTrak(): Unit = {
      nTracks += 1
      if (tHandler == "vide") {
        if (width < 0) { width = tW; height = tH }
        if (videoCodec.isEmpty) videoCodec = tCodec
      } else if (tHandler == "soun") {
        if (audioCodec.isEmpty) audioCodec = tCodec
      }
      if (mdhdTimescale < 0 && tMdhd > 0) mdhdTimescale = tMdhd
      tW = -1; tH = -1; tHandler = ""; tCodec = ""; tMdhd = -1L
    }
    def walk(start: Long, end: Long, depth: Int): Unit = {
      if (depth > MaxDepth) return
      var off = start
      while (off + 8 <= end) {
        val size0 = u32be(bytes, off)
        val typ = fourcc(bytes, off + 4)
        var dataOff = off + 8
        val size =
          if (size0 == 1L) { dataOff = off + 16; s64be(bytes, off + 8) }
          else if (size0 == 0L) end - off // box runs to the end
          else size0
        if (size < dataOff - off || off + size > end) return // malformed: stop
        val dataEnd = off + size
        typ match {
          case "moov" | "mdia" | "minf" | "stbl" =>
            walk(dataOff, dataEnd, depth + 1)
          case "trak" =>
            walk(dataOff, dataEnd, depth + 1)
            commitTrak()
          case "mvhd" =>
            val v = if (dataOff < bytes.length) bytes(dataOff.toInt) & 0xff else -1
            if (v == 1) {
              timescale = u32be(bytes, dataOff + 20)
              duration = s64be(bytes, dataOff + 24)
            } else if (v == 0) {
              timescale = u32be(bytes, dataOff + 12)
              duration = u32be(bytes, dataOff + 16)
            }
            // ISO 14496-12: an all-ones duration means UNKNOWN (a live
            // capture) — mark it, never compute a 49-day phantom
            if ((v == 0 && duration == 0xffffffffL) ||
              (v == 1 && duration == -1L)) duration = -2L
          case "tkhd" =>
            val v = if (dataOff < bytes.length) bytes(dataOff.toInt) & 0xff else -1
            val base = if (v == 1) dataOff + 88 else dataOff + 76
            val fw = u32be(bytes, base); val fh = u32be(bytes, base + 4)
            if (fw >= 0 && fh >= 0) { tW = (fw >> 16).toInt; tH = (fh >> 16).toInt }
          case "hdlr" =>
            tHandler = fourcc(bytes, dataOff + 8)
          case "mdhd" =>
            // media timescale — the clock trun/tfhd durations tick in
            val v = if (dataOff < bytes.length) bytes(dataOff.toInt) & 0xff else -1
            tMdhd = u32be(bytes, if (v == 1) dataOff + 20 else dataOff + 12)
          case "stsd" =>
            // fullbox(4) + entry_count(4), first entry: size(4) + format
            if (u32be(bytes, dataOff + 4) >= 1)
              tCodec = fourcc(bytes, dataOff + 12)
          case "moof" =>
            sawMoof = true // fragmented stream: no movie-level duration
            walk(dataOff, dataEnd, depth + 1)
          case "traf" =>
            trafTrack = -1L
            trafDefDur = -1L
            walk(dataOff, dataEnd, depth + 1)
          case "tfhd" =>
            // fullbox flags pick the optional-field layout
            val flags = (u32be(bytes, dataOff) & 0xffffffL).toInt
            trafTrack = u32be(bytes, dataOff + 4)
            var p = dataOff + 8
            if ((flags & 0x01) != 0) p += 8 // base_data_offset
            if ((flags & 0x02) != 0) p += 4 // sample_description_index
            trafDefDur = if ((flags & 0x08) != 0) u32be(bytes, p) else -1L
          case "trun" =>
            // one track's timeline only — the first track fragments name
            if (fragTrack < 0 && trafTrack >= 0) fragTrack = trafTrack
            if (trafTrack == fragTrack && fragTicks >= 0) {
              val flags = (u32be(bytes, dataOff) & 0xffffffL).toInt
              val n = u32be(bytes, dataOff + 4)
              var p = dataOff + 8
              if ((flags & 0x01) != 0) p += 4 // data_offset
              if ((flags & 0x04) != 0) p += 4 // first_sample_flags
              if ((flags & 0x100) != 0) {
                // per-sample durations present: sum them
                val stride = 4 + (if ((flags & 0x200) != 0) 4 else 0) +
                  (if ((flags & 0x400) != 0) 4 else 0) +
                  (if ((flags & 0x800) != 0) 4 else 0)
                // the sample table must fit inside THIS trun box — a
                // hostile/torn sample_count that overruns dataEnd would
                // otherwise read the neighboring boxes' bytes as
                // durations and report a confidently wrong total; the
                // named quarantine is the honest answer (matches the
                // out-of-file torn handling below)
                if (p + n * stride > dataEnd) fragTicks = -1L
                else {
                  var i = 0L
                  var ok = true
                  while (ok && i < n) {
                    val d = u32be(bytes, p + i * stride)
                    if (d < 0) { fragTicks = -1L; ok = false } // torn
                    else { fragTicks += d; i += 1 }
                  }
                }
              } else if (trafDefDur > 0 && n >= 0) {
                fragTicks += n * trafDefDur
              } else if (n > 0) {
                fragTicks = -1L // durations live in trex (init-only) — unmeasurable
              }
            }
          case "sidx" =>
            // segment index (round 19): the self-describing duration of
            // a DASH/HLS segment — its OWN timescale plus the sum of
            // subsegment_durations. First (top-level) sidx only: a
            // hierarchical index's top box already spans the whole
            // segment, and summing per-track sibling boxes would double
            // count parallel timelines.
            if (sidxTimescale < 0 && dataOff + 4 <= dataEnd) {
              val v = bytes(dataOff.toInt) & 0xff
              val ts = u32be(bytes, dataOff + 8)
              val cntOff = if (v == 1) dataOff + 28 else dataOff + 20
              if (ts > 0 && cntOff + 4 <= dataEnd) {
                val n = u32be(bytes, cntOff) & 0xffffL
                var sum = 0L
                var i = 0L
                var ok = true
                while (ok && i < n) {
                  val ro = cntOff + 4 + i * 12
                  if (ro + 12 > dataEnd) ok = false
                  else { sum += u32be(bytes, ro + 4); i += 1 }
                }
                if (ok) { sidxTimescale = ts; sidxDuration = sum }
              }
            }
          case _ => () // mdat, free, skip everything else
        }
        off = dataEnd
      }
    }
    walk(0, bytes.length.toLong, 0)
    // fMP4 measurement ladder (round 19): a real mvhd duration is
    // authoritative; else a sidx (self-describing timescale); else the
    // trun/tfhd sample-duration sum on one track's fragments — valid
    // only when the stream SELF-INITIALIZES (its own moov carries the
    // mdhd media timescale those ticks are expressed in). A standalone
    // media segment with neither stays the NAMED quarantine — a
    // live-stream fragment is a different ingest decision than a
    // truncated file.
    val sidxMs =
      if (sidxTimescale > 0) sidxDuration * 1000L / sidxTimescale else -1L
    val trunMs =
      if (fragTicks > 0 && mdhdTimescale > 0) fragTicks * 1000L / mdhdTimescale
      else -1L
    if (timescale <= 0 || duration == -1L) {
      if (sidxMs >= 0)
        Right(Mp4Info(majorBrand, sidxMs,
          nTracks, width, height, videoCodec, audioCodec, fragmented = true))
      else if (trunMs >= 0)
        Right(Mp4Info(majorBrand, trunMs,
          nTracks, width, height, videoCodec, audioCodec, fragmented = true))
      else Left(if (sawMoof) "fragmented" else "no_moov")
    } else {
      val mvhdMs = if (duration == -2L) -1L else duration * 1000L / timescale
      if (sawMoof && mvhdMs <= 0 && (sidxMs >= 0 || trunMs >= 0))
        // self-initializing fMP4: the movie header declares nothing
        // (duration 0 / unknown) — the fragments carry the truth
        Right(Mp4Info(majorBrand, if (sidxMs >= 0) sidxMs else trunMs,
          nTracks, width, height, videoCodec, audioCodec, fragmented = true))
      else Right(Mp4Info(majorBrand, mvhdMs,
        nTracks, width, height, videoCodec, audioCodec))
    }
  }

  // ---------- operator faces ----------

  private val cleanSchema = StructType(Seq(
    StructField("url", StringType),
    StructField("major_brand", StringType),
    StructField("duration_ms", LongType),
    StructField("n_tracks", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("video_codec", StringType),
    StructField("audio_codec", StringType),
    StructField("fragmented", BooleanType)))

  /** Container metadata of a (url, payload) frame — (clean, quarantine)
    * pair, the [[PdfOps.pdfTextOf]] discipline: every payload lands in
    * exactly one of the two. Audio-only files carry NULL
    * width/height/video_codec; a file with no audio track carries NULL
    * audio_codec. */
  private def metaRow(url: String, bytes: Array[Byte]): Row =
    mp4Walk(bytes) match {
      case Right(m) => Row(url, m.majorBrand,
        if (m.durationMs >= 0) m.durationMs else null,
        m.nTracks,
        if (m.width >= 0) m.width else null,
        if (m.height >= 0) m.height else null,
        if (m.videoCodec.nonEmpty) m.videoCodec else null,
        if (m.audioCodec.nonEmpty) m.audioCodec else null,
        m.fragmented, null)
      case Left(reason) =>
        Row(url, null, null, null, null, null, null, null, null, reason)
    }

  def mp4MetaOf(payloads: DataFrame): (DataFrame, DataFrame) = {
    val spark = payloads.sparkSession
    val walked = spark.createDataFrame(
      payloads.select(col("url").cast("string"), col("payload"))
        .rdd.mapPartitions { it =>
          it.map(r => metaRow(r.getString(0), r.getAs[Array[Byte]](1)))
        }, StructType(cleanSchema.fields :+ StructField("reason", StringType)))
    (walked.filter(col("reason").isNull).drop("reason"),
      walked.filter(col("reason").isNotNull).select(col("url"), col("reason")))
  }

  /** DASH init + media-segment pairing (round 20) — the common DASH
    * layout splits a stream into ONE init segment (ftyp + moov, mvhd
    * duration 0, the media timescale in its mdhd) and many media
    * segments (styp + moof + mdat) whose timescale lives only in that
    * init; a standalone media segment therefore keeps [[mp4Walk]]'s
    * named `fragmented` quarantine. This face resolves the pair: the
    * `segments` frame carries an explicit `init_url` column, `inits` is
    * the (init_url, payload) frame, and each joined pair walks as the
    * CONCATENATED stream init ++ segment — exactly the byte sequence a
    * DASH player feeds its demuxer, so the EXISTING self-initializing
    * walk (tfhd/trun sums against the init's mdhd timescale, mvhd-0
    * non-authoritative) measures it with no second parser. A segment
    * whose init_url matches no init keeps the named quarantine.
    *
    * Scale shape: one hash join keyed on init_url (init payloads are
    * KB-scale moov headers — the small side; AQE broadcasts it when it
    * fits), then the codec convention — both payloads die inside the
    * task, zero further shuffles. */
  def mp4MetaOfWithInit(segments: DataFrame,
                        inits: DataFrame): (DataFrame, DataFrame) = {
    val spark = segments.sparkSession
    val joined = segments
      .select(col("url").cast("string"), col("init_url").cast("string"),
        col("payload"))
      .join(inits.select(col("init_url").cast("string"),
        col("payload").as("init_payload")), Seq("init_url"), "left")
      .select(col("url"), col("payload"), col("init_payload"))
    val walked = spark.createDataFrame(
      joined.rdd.mapPartitions { it =>
        it.map { r =>
          val seg = r.getAs[Array[Byte]](1)
          val bytes =
            if (r.isNullAt(2)) seg else r.getAs[Array[Byte]](2) ++ seg
          metaRow(r.getString(0), bytes)
        }
      }, StructType(cleanSchema.fields :+ StructField("reason", StringType)))
    (walked.filter(col("reason").isNull).drop("reason"),
      walked.filter(col("reason").isNotNull).select(col("url"), col("reason")))
  }

  /** The WARC adapter ([[HttpCodec.routeByMime]]): responses
    * routed by DECLARATION OR CONTENT — a `video/mp4` header, or body
    * bytes whose `ftyp` box sniffs `video/mp4`/`audio/mp4` behind a
    * lying octet-stream header (the most common media lie on the real
    * web; the walk re-validates, so a sniff false positive is
    * impossible). */
  def mp4MetaOfRecords(records: DataFrame): (DataFrame, DataFrame) =
    mp4MetaOf(HttpCodec.routeByMime(records, Seq("video/mp4", "audio/mp4"),
      16, col("target_uri").cast("string"))
      .withColumnRenamed("body", "payload"))

  // ---------- oracle instantiation (q_mp4_meta) ----------

  private def box(typ: String, body: Array[Byte]): Array[Byte] =
    be32(8L + body.length) ++ latin1(typ) ++ body

  private def fullbox0(body: Array[Byte]): Array[Byte] =
    Array[Byte](0, 0, 0, 0) ++ body

  private def tkhdV0(w: Int, h: Int): Array[Byte] =
    box("tkhd", fullbox0(
      new Array[Byte](20) ++   // creation/modification/track_ID/reserved/duration
        new Array[Byte](8) ++  // reserved
        new Array[Byte](8) ++  // layer/alternate/volume/reserved
        new Array[Byte](36) ++ // matrix
        be32(w.toLong << 16) ++ be32(h.toLong << 16)))

  private def hdlr(handler: String): Array[Byte] =
    box("hdlr", fullbox0(be32(0) ++ latin1(handler) ++
      new Array[Byte](12) ++ Array[Byte](0)))

  private def stsdWith(format: String): Array[Byte] = {
    val entry = be32(16) ++ latin1(format) ++ new Array[Byte](8)
    box("stbl", box("stsd", fullbox0(be32(1) ++ entry)))
  }

  private def trak(w: Int, h: Int, handler: String,
                   format: String): Array[Byte] =
    box("trak", tkhdV0(w, h) ++
      box("mdia", hdlr(handler) ++ box("minf", stsdWith(format))))

  /** Deterministic synthetic MP4 carrying the doc's construction truth
    * EXACTLY — the [[PdfOps.pdfSynth]] pattern. Variant by doc_id % 3:
    * 0 = `isom` video-only (mvhd v0), 1 = `mp42` video + audio (mvhd
    * v0), 2 = `M4A ` audio-only with a 64-BIT mvhd v1 duration (the
    * large-file path must parse for the oracle hash to agree).
    * timescale 1000, duration = 40 × (doc_id % 977 + 25) ticks. */
  private[graft] def mp4Synth(docId: Long): Array[Byte] = {
    val variant = (docId % 3).toInt
    val w = 16 + (docId % 16).toInt * 4
    val h = 16 + (docId % 9).toInt * 4
    val dur = 40L * (docId % 977 + 25)
    val brand = variant match {
      case 1 => "mp42"
      case 2 => "M4A "
      case _ => "isom"
    }
    val ftyp = box("ftyp", latin1(brand) ++ be32(0) ++ latin1(brand))
    val mvhd =
      if (variant == 2)
        box("mvhd", Array[Byte](1, 0, 0, 0) ++ // version 1
          new Array[Byte](16) ++               // creation/modification (8+8)
          be32(1000) ++ be64(dur) ++
          new Array[Byte](80))                 // rate..next_track_ID
      else
        box("mvhd", fullbox0(
          new Array[Byte](8) ++                // creation/modification
            be32(1000) ++ be32(dur) ++
            new Array[Byte](80)))
    val traks = variant match {
      case 1 => trak(w, h, "vide", "avc1") ++ trak(0, 0, "soun", "mp4a")
      case 2 => trak(0, 0, "soun", "mp4a")
      case _ => trak(w, h, "vide", "avc1")
    }
    ftyp ++ box("moov", mvhd ++ traks) ++ box("mdat", latin1("x"))
  }

  /** §2 `q_mp4_meta`: container metadata under the ORACLE — the
    * planted-truth pattern: each doc rides a deterministic synthetic
    * MP4 ([[mp4Synth]]) covering video-only / video+audio / audio-only
    * (with the 64-bit mvhd v1 path), Spark re-reads every field through
    * the REAL box walk while DuckDB states the construction arithmetic.
    * Any walk drift — big-endian reads, version offsets, 16.16
    * geometry, stsd entry framing — breaks the hash. */
  def mp4Meta(documents: DataFrame): DataFrame = {
    val payloads = MultimodalOps.syntheticPayloads(documents, mp4Synth)
    val (clean, _) = mp4MetaOf(payloads.select(
      col("doc_id").cast("string").as("url"), col("payload")))
    clean
      .select(col("url").cast("long").as("doc_id"),
        col("major_brand"), col("duration_ms"),
        col("n_tracks").cast("long").as("n_tracks"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("video_codec"), col("audio_codec"))
      .orderBy("doc_id")
  }

  val oracles: Map[String, String] = Map(
    "q_mp4_meta" ->
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 1 THEN 'mp42' WHEN 2 THEN 'M4A '
        |                  ELSE 'isom' END AS major_brand,
        |  40 * (doc_id % 977 + 25) AS duration_ms,
        |  CASE WHEN doc_id % 3 = 1 THEN 2 ELSE 1 END AS n_tracks,
        |  CASE WHEN doc_id % 3 = 2 THEN NULL
        |       ELSE 16 + (doc_id % 16) * 4 END AS width,
        |  CASE WHEN doc_id % 3 = 2 THEN NULL
        |       ELSE 16 + (doc_id % 9) * 4 END AS height,
        |  CASE WHEN doc_id % 3 = 2 THEN NULL ELSE 'avc1' END AS video_codec,
        |  CASE WHEN doc_id % 3 = 0 THEN NULL ELSE 'mp4a' END AS audio_codec
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
