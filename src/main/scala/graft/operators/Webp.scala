package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.Bytes._

/** WebP GEOMETRY — round 18, the image member of the named-formats
  * trio (MP4 row 170, MP3 row 171): the round-18 sniffer names
  * `image/webp` (RIFF fourcc dispatch); this walk reads the header
  * geometry a dataset builder filters on — pixel dimensions, lossy vs
  * lossless, alpha, animation — from all three bitstream containers
  * the format ships: `VP8 ` (lossy: 3-byte frame tag, the 9D 01 2A
  * start code, 14-bit LE dimensions), `VP8L` (lossless: 0x2F
  * signature, 14-bit packed dimensions-minus-one, the alpha bit), and
  * `VP8X` (extended: feature flags + 24-bit LE canvas-minus-one).
  * PIXEL decode stays out of scope — VP8's arithmetic decoder has no
  * pure-JVM implementation on the offline classpath (the brotli
  * precedent); geometry/feature metadata is what the ingest gate and
  * the image-dataset builder consume anyway (the q_image_dataset
  * family keys on bytes + dHash of DECODABLE formats; WebP rows carry
  * their geometry through this walk instead).
  *
  * Scale shape: the codec convention — one mapPartitions walk per
  * payload, payload dies in-task, zero shuffles. */
object WebpOps {

  /** Parsed header. `format` ∈ lossy | lossless | extended. For an
    * ANIMATED extended file (round 19), `nFrames`/`durationMs` sum the
    * ANMF frame chunks — the metadata walk's answer to "how long does
    * this animation run" without touching a pixel; 0/-1 for stills. */
  final case class WebpInfo(format: String, width: Int, height: Int,
                            hasAlpha: Boolean, hasAnim: Boolean,
                            nFrames: Int = 0, durationMs: Long = -1L)

  /** Walk one payload: Left(reason) or Right(info). Reasons:
    * `not_webp` (no RIFF/WEBP wrap), `bad_bitstream` (no parseable
    * VP8 /VP8L/VP8X chunk). Never throws on hostile bytes. */
  def webpWalk(bytes: Array[Byte]): Either[String, WebpInfo] = {
    if (bytes.length < 20 || fourcc(bytes, 0) != "RIFF" ||
      fourcc(bytes, 8) != "WEBP") return Left("not_webp")
    val end = math.min(bytes.length.toLong, 8L + u32le(bytes, 4))
    var off = 12L
    while (off + 8 <= end) {
      val id = fourcc(bytes, off)
      val size = u32le(bytes, off + 4)
      if (size < 0 || off + 8 + size > end) return Left("bad_bitstream")
      val p = (off + 8).toInt
      id match {
        case "VP8 " if size >= 10 =>
          // 3-byte frame tag, then the keyframe start code
          if ((bytes(p + 3) & 0xff) == 0x9d && (bytes(p + 4) & 0xff) == 0x01 &&
            (bytes(p + 5) & 0xff) == 0x2a) {
            val w = u16le(bytes, p + 6) & 0x3fff
            val h = u16le(bytes, p + 8) & 0x3fff
            return Right(WebpInfo("lossy", w, h, hasAlpha = false,
              hasAnim = false))
          }
          return Left("bad_bitstream")
        case "VP8L" if size >= 5 =>
          if ((bytes(p) & 0xff) == 0x2f) {
            val b = u32le(bytes, p + 1)
            val w = (b & 0x3fff).toInt + 1
            val h = ((b >> 14) & 0x3fff).toInt + 1
            val alpha = ((b >> 28) & 1) == 1
            return Right(WebpInfo("lossless", w, h, alpha, hasAnim = false))
          }
          return Left("bad_bitstream")
        case "VP8X" if size >= 10 =>
          val flags = bytes(p) & 0xff
          val w = u24le(bytes, p + 4) + 1
          val h = u24le(bytes, p + 7) + 1
          val anim = (flags & 0x02) != 0
          if (!anim)
            return Right(WebpInfo("extended", w, h,
              hasAlpha = (flags & 0x10) != 0, hasAnim = false))
          // animated: keep walking the sibling chunks, summing ANMF
          // frame durations (u24 LE ms at payload offset 12) — still a
          // chunk-skip walk, no pixel touched; a torn tail keeps the
          // frames counted so far
          var frames = 0
          var dur = 0L
          var o2 = off + 8 + size + (size & 1)
          var torn = false
          while (!torn && o2 + 8 <= end) {
            val id2 = fourcc(bytes, o2)
            val sz2 = u32le(bytes, o2 + 4)
            if (sz2 < 0 || o2 + 8 + sz2 > end) torn = true
            else {
              if (id2 == "ANMF" && sz2 >= 16) {
                frames += 1
                dur += u24le(bytes, o2 + 8 + 12)
              }
              o2 += 8 + sz2 + (sz2 & 1)
            }
          }
          return Right(WebpInfo("extended", w, h,
            hasAlpha = (flags & 0x10) != 0, hasAnim = true,
            nFrames = frames, durationMs = if (frames > 0) dur else -1L))
        case _ => ()
      }
      off += 8 + size + (size & 1) // chunks pad to even
    }
    Left("bad_bitstream")
  }

  // ---------- operator faces ----------

  private val cleanSchema = StructType(Seq(
    StructField("url", StringType),
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("has_alpha", BooleanType),
    StructField("has_anim", BooleanType)))

  /** Geometry of a (url, payload) frame — (clean, quarantine) pair, the
    * [[Mp4Ops.mp4MetaOf]] discipline. */
  def webpMetaOf(payloads: DataFrame): (DataFrame, DataFrame) = {
    val spark = payloads.sparkSession
    val walked = spark.createDataFrame(
      payloads.select(col("url").cast("string"), col("payload"))
        .rdd.mapPartitions { it =>
          it.map { r =>
            val url = r.getString(0)
            webpWalk(r.getAs[Array[Byte]](1)) match {
              case Right(m) => Row(url, m.format, m.width, m.height,
                m.hasAlpha, m.hasAnim, null)
              case Left(reason) =>
                Row(url, null, null, null, null, null, reason)
            }
          }
        }, StructType(cleanSchema.fields :+ StructField("reason", StringType)))
    (walked.filter(col("reason").isNull).drop("reason"),
      walked.filter(col("reason").isNotNull).select(col("url"), col("reason")))
  }

  // ---------- oracle instantiation (q_webp_meta) ----------

  private def chunk(id: String, body: Array[Byte]): Array[Byte] =
    latin1(id) ++ le32(body.length.toLong) ++ body ++
      (if (body.length % 2 == 1) Array[Byte](0) else Array.empty[Byte])

  /** Deterministic synthetic WebP — variant doc_id%3: 0 = lossy `VP8 `
    * (frame tag + start code + 14-bit dims), 1 = lossless `VP8L`
    * (packed dims-minus-one, alpha bit = doc_id%2), 2 = extended
    * `VP8X` (animation flag, 24-bit canvas). Dimensions ride the
    * multimodalMeta arithmetic (16 + (id%16)×4, 16 + (id%9)×4). */
  private[graft] def webpSynth(docId: Long): Array[Byte] = {
    val w = 16 + (docId % 16).toInt * 4
    val h = 16 + (docId % 9).toInt * 4
    val payload = (docId % 3).toInt match {
      case 1 =>
        val alpha = if (docId % 2 == 0) 1L else 0L
        chunk("VP8L", Array[Byte](0x2f) ++
          le32((w - 1).toLong | (h - 1).toLong << 14 | alpha << 28))
      case 2 =>
        chunk("VP8X", Array[Byte](0x02, 0, 0, 0) ++ le24(w - 1) ++ le24(h - 1))
      case _ =>
        chunk("VP8 ", Array[Byte](0, 0, 0) ++
          Array[Byte](0x9d.toByte, 0x01, 0x2a) ++ le16(w) ++ le16(h))
    }
    latin1("RIFF") ++ le32(4L + payload.length) ++ latin1("WEBP") ++ payload
  }

  /** §2 `q_webp_meta`: WebP geometry under the ORACLE — the
    * planted-truth pattern over all three bitstream containers; any
    * drift in LE packing, the 14-bit fields, or the minus-one
    * conventions breaks the hash. */
  def webpMeta(documents: DataFrame): DataFrame = {
    val payloads = MultimodalOps.syntheticPayloads(documents, webpSynth)
    val (clean, _) = webpMetaOf(payloads.select(
      col("doc_id").cast("string").as("url"), col("payload")))
    clean
      .select(col("url").cast("long").as("doc_id"),
        col("format"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("has_alpha"), col("has_anim"))
      .orderBy("doc_id")
  }

  val oracles: Map[String, String] = Map(
    "q_webp_meta" ->
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 1 THEN 'lossless' WHEN 2 THEN 'extended'
        |                  ELSE 'lossy' END AS format,
        |  16 + (doc_id % 16) * 4 AS width,
        |  16 + (doc_id % 9) * 4 AS height,
        |  (doc_id % 3 = 1 AND doc_id % 2 = 0) AS has_alpha,
        |  (doc_id % 3 = 2) AS has_anim
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
