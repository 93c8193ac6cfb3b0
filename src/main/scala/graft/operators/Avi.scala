package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StructField, StructType}

import graft.Materialize

/** AVI (RIFF) container parsing + MJPEG frame hashing — the VIDEO slot
  * of the multimodal estate, previously a declared stub.
  *
  * The honest scope: AVI is a pure container (RIFF chunk grammar —
  * fourcc + little-endian size + word alignment, `LIST` recursion), and
  * an MJPEG video's frames are ordinary baseline/progressive JPEGs —
  * which this repo already decodes natively ([[graft.functions.JpegDecode]]
  * via [[MultimodalOps.dhashOf]]). So container parse + frame sampling +
  * the EXISTING image dHash gives a real video pipeline: per-frame
  * perceptual hashes and a shared-frame dedup endgame, with zero new
  * codec surface beyond the RIFF walk. Inter-frame-compressed codecs
  * (H.264 etc.) remain out of scope — no public pure-JVM decoder on the
  * offline classpath, the brotli-policy precedent: such frames still
  * EXTRACT (byte-exact, `'NNdc'` chunks) for downstream systems, they
  * just yield no dHash.
  *
  * Second-implementation discipline (the WAV/JPEG convention): specs
  * build containers byte-by-byte around ImageIO-encoded JPEG frames —
  * the same frame must hash IDENTICALLY standalone and in-container,
  * and the container fields/frames round-trip the hand-built truth.
  *
  * Re-expresses no reference capability (the reference ingests football
  * JSON only — /root/reference/core has no media path); this is
  * pipeline-estate work like WAV and the image codecs.
  */
object AviOps {

  /** Parsed AVI: the `avih` header fields, the video stream's fourcc
    * handler, and the `movi` frame chunks in stream order (`NNdb`/`NNdc`;
    * any `idx1` index is deliberately ignored — frames come from the
    * movi LIST itself, the robust route for truncated files). */
  final case class AviInfo(width: Int, height: Int, usPerFrame: Long,
                           declaredFrames: Long, handler: String,
                           frames: Vector[Array[Byte]])

  /** Walk an AVI payload. None = not a RIFF/AVI, truncated chunk
    * framing, or no usable `avih` geometry — the caller routes
    * non-videos out of the video universe, never a thrown error. */
  def aviWalk(bytes: Array[Byte]): Option[AviInfo] = {
    def u32(off: Int): Long =
      if (off < 0 || off + 4 > bytes.length) -1L
      else (bytes(off) & 0xffL) | (bytes(off + 1) & 0xffL) << 8 |
        (bytes(off + 2) & 0xffL) << 16 | (bytes(off + 3) & 0xffL) << 24
    def fourcc(off: Int): String =
      if (off + 4 > bytes.length) ""
      else new String(bytes, off, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
    if (bytes.length < 12 || fourcc(0) != "RIFF" || fourcc(8) != "AVI ")
      return None
    val riffEnd = math.min(bytes.length.toLong, 8L + u32(4))
    var usPerFrame = 0L
    var declared = 0L
    var w = -1
    var h = -1
    var handler = ""
    val frames = Vector.newBuilder[Array[Byte]]
    var ok = true
    // LIST nesting cap: each level costs only 12 bytes on the wire, so
    // a crafted few-hundred-KB AVI could nest tens of thousands of
    // LISTs and blow the task stack (StackOverflowError is an Error —
    // uncaught, it kills the task and violates the never-throw
    // contract for untrusted payloads). Real AVIs nest ≤3 deep
    // (RIFF → hdrl/movi → rec ); 64 is generous and bounds the stack.
    val MaxDepth = 64
    def walk(start: Long, end: Long, inMovi: Boolean, depth: Int): Unit = {
      if (depth > MaxDepth) { ok = false; return }
      var off = start
      while (ok && off + 8 <= end) {
        val id = fourcc(off.toInt)
        val size = u32(off.toInt + 4)
        if (size < 0 || off + 8 + size > end) { ok = false; return }
        val dataOff = (off + 8).toInt
        if (id == "LIST") {
          if (size < 4) { ok = false; return }
          val typ = fourcc(dataOff)
          // 'rec ' groups inside movi recurse with movi membership kept
          walk(dataOff + 4L, dataOff + size, inMovi || typ == "movi",
            depth + 1)
        } else if (id == "avih" && size >= 40) {
          usPerFrame = u32(dataOff)
          declared = u32(dataOff + 16)
          w = u32(dataOff + 32).toInt
          h = u32(dataOff + 36).toInt
        } else if (id == "strh" && size >= 8 && fourcc(dataOff) == "vids" &&
          handler.isEmpty) {
          handler = fourcc(dataOff + 4)
        } else if (inMovi && id.length == 4 &&
          id(0).isDigit && id(1).isDigit && id(2) == 'd' &&
          (id(3) == 'b' || id(3) == 'c')) {
          frames += java.util.Arrays.copyOfRange(
            bytes, dataOff, dataOff + size.toInt)
        }
        off = dataOff + size + (size & 1L) // RIFF word alignment
      }
    }
    walk(12L, riffEnd, inMovi = false, depth = 0)
    if (!ok || w <= 0 || h <= 0) None
    else Some(AviInfo(w, h, usPerFrame, declared, handler, frames.result()))
  }

  private val frameSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("frame_idx", IntegerType),
    StructField("frame", BinaryType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("us_per_frame", LongType)))

  /** §2-C `videoFrames`: every `everyNth`-sampled frame of every
    * decodable AVI payload, as bytes + container geometry — the real
    * face of the `q_frame_sample` byte-arithmetic pattern (here the
    * boundaries come from the container's own chunk framing, not fixed
    * offsets). Non-AVI payloads drop out. mapPartitions batch shape —
    * the codec convention: one container walk per payload, the payload
    * dies inside the task. */
  def videoFrames(withPayload: DataFrame, everyNth: Int = 2): DataFrame = {
    require(everyNth >= 1, s"everyNth must be >= 1, got $everyNth")
    val spark = withPayload.sparkSession
    val rdd = withPayload
      .select(col("doc_id").cast("long"), col("payload"))
      .rdd.mapPartitions { it =>
        it.flatMap { r =>
          aviWalk(r.getAs[Array[Byte]](1)).toSeq.flatMap { info =>
            info.frames.iterator.zipWithIndex.collect {
              case (f, i) if i % everyNth == 0 =>
                Row(r.getLong(0), i, f, info.width, info.height,
                  info.usPerFrame)
            }
          }
        }
      }
    spark.createDataFrame(rdd, frameSchema)
  }

  private val dhashSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("frame_idx", IntegerType),
    StructField("dhash", LongType)))

  /** A bare DIB frame (uncompressed `00db` AVI video: BITMAPINFOHEADER +
    * pixel rows, no file header) wrapped into the BMP file shape
    * [[MultimodalOps.dhashOf]]'s walk expects — 14-byte `BM` header
    * whose pixel-data offset = 14 + the DIB's own biSize (24-bpp BI_RGB
    * carries no palette; anything else fails the walk's own gates).
    * None = too short to even hold a header. */
  private def dibToBmp(frame: Array[Byte]): Option[Array[Byte]] = {
    if (frame.length < 40) return None
    val biSize = (frame(0) & 0xffL) | (frame(1) & 0xffL) << 8 |
      (frame(2) & 0xffL) << 16 | (frame(3) & 0xffL) << 24
    if (biSize < 40 || biSize > frame.length) return None
    val out = new Array[Byte](14 + frame.length)
    out(0) = 'B'; out(1) = 'M'
    def le32(off: Int, v: Long): Unit = {
      out(off) = (v & 0xff).toByte
      out(off + 1) = ((v >> 8) & 0xff).toByte
      out(off + 2) = ((v >> 16) & 0xff).toByte
      out(off + 3) = ((v >> 24) & 0xff).toByte
    }
    le32(2, out.length.toLong)
    le32(10, 14 + biSize)
    System.arraycopy(frame, 0, out, 14, frame.length)
    Some(out)
  }

  /** §2-C `videoDhashes`: per-frame perceptual signatures — sampled
    * frames hash through the SHARED cross-format image dHash
    * ([[MultimodalOps.dhashOf]]: MJPEG frames ride the native JPEG walk,
    * so a frame hashes IDENTICALLY standalone and in-container —
    * spec-asserted against ImageIO-encoded truth; bare-DIB frames of
    * UNCOMPRESSED AVIs get the 14-byte BMP file header prepended and
    * ride the BMP walk). Frames of codecs the estate cannot decode
    * yield no row (never a wrong hash). One mapPartitions pass:
    * container walk + sample + decode + hash, the payload never
    * survives the task. */
  def videoDhashes(withPayload: DataFrame, everyNth: Int = 2): DataFrame = {
    require(everyNth >= 1, s"everyNth must be >= 1, got $everyNth")
    val spark = withPayload.sparkSession
    val rdd = withPayload
      .select(col("doc_id").cast("long"), col("payload"))
      .rdd.mapPartitions { it =>
        it.flatMap { r =>
          aviWalk(r.getAs[Array[Byte]](1)).toSeq.flatMap { info =>
            info.frames.iterator.zipWithIndex.flatMap {
              case (f, i) if i % everyNth == 0 =>
                MultimodalOps.dhashOf(f)
                  .orElse(dibToBmp(f).flatMap(MultimodalOps.dhashOf))
                  .map(hsh => Row(r.getLong(0), i, hsh))
              case _ => None
            }
          }
        }
      }
    spark.createDataFrame(rdd, dhashSchema)
  }

  /** Minimal AVI WRITER — [[aviWalk]]'s inverse (the sink-side face, and
    * the synthetic-universe builder for `q_video_dedup_representative`):
    * one `vids` stream, frames as word-aligned `00dc` chunks, no index
    * (aviWalk ignores `idx1` anyway). The spec builds containers with
    * its OWN independent byte-writer — two implementations of the RIFF
    * grammar, the codec convention. */
  def buildAvi(frames: Seq[Array[Byte]], width: Int, height: Int,
               usPerFrame: Long = 40000L, handler: String = "MJPG")
      : Array[Byte] = {
    def le32(n: Long): Array[Byte] = Array(
      (n & 0xff).toByte, ((n >> 8) & 0xff).toByte,
      ((n >> 16) & 0xff).toByte, ((n >> 24) & 0xff).toByte)
    def ascii(s: String): Array[Byte] =
      s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    def chunk(id: String, data: Array[Byte]): Array[Byte] = {
      val pad =
        if (data.length % 2 == 1) Array[Byte](0) else Array.emptyByteArray
      ascii(id) ++ le32(data.length) ++ data ++ pad
    }
    def list(typ: String, parts: Array[Byte]*): Array[Byte] =
      chunk("LIST", ascii(typ) ++ parts.flatten.toArray)
    val avihData = new Array[Byte](56)
    def put(d: Array[Byte], off: Int, v: Long): Unit =
      System.arraycopy(le32(v), 0, d, off, 4)
    put(avihData, 0, usPerFrame)
    put(avihData, 16, frames.length)
    put(avihData, 32, width)
    put(avihData, 36, height)
    val strhData = new Array[Byte](56)
    System.arraycopy(ascii("vids"), 0, strhData, 0, 4)
    System.arraycopy(ascii(handler), 0, strhData, 4, 4)
    val body = ascii("AVI ") ++
      list("hdrl", chunk("avih", avihData),
        list("strl", chunk("strh", strhData),
          chunk("strf", new Array[Byte](40)))) ++
      list("movi", frames.map(chunk("00dc", _)): _*)
    ascii("RIFF") ++ le32(body.length) ++ body
  }

  /** Planted video corpus for the oracle query: per doc, a real AVI
    * whose two frames are [[MultimodalOps.plantedImage]] PPMs of the
    * doc's group (doc_id % groups) under two different brightness
    * offsets — hash-identical frames by the planted-image invariant, so
    * every frame of every group member carries the SAME known hash
    * B·0x0101010101010101 and the cluster truth is SQL-computable from
    * the generative model while Spark must reproduce it through the
    * REAL container-walk → frame-sample → pixel-walk → dHash →
    * block-join → CC pipeline. */
  private def syntheticVideos(documents: DataFrame,
                              groups: Int): DataFrame = {
    val spark = documents.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    spark.createDataFrame(
      documents.select(col("doc_id").cast("long")).rdd.map { r =>
        val id = r.getLong(0)
        // id + groups keeps the group, shifts the brightness offset —
        // two distinct byte streams, one planted hash
        Row(id, buildAvi(Seq(
          MultimodalOps.plantedImage(id, groups),
          MultimodalOps.plantedImage(id + groups, groups)), 9, 8))
      }, schema)
  }

  /** §2 `q_video_dedup_representative`: the video dedup endgame under
    * the ORACLE — the image/audio planted-truth pattern (§2 rows
    * 131/132) extended through a real CONTAINER: every doc's payload is
    * a built AVI of two hash-identical planted frames, the DuckDB
    * oracle states the generative truth (groups of doc_id % 30, sizes,
    * the exact replicated-byte hash), and Spark must reproduce it
    * through aviWalk → frame extraction → the shared pixel walk → dHash
    * → pigeonhole blocking → connected components → one manifest row.
    * A full-stack correctness check of the video family, not a replay. */
  def videoDedupRepresentativeQuery(documents: DataFrame,
                                    groups: Int = 30): DataFrame =
    videoDedupRepresentative(syntheticVideos(documents, groups),
      everyNth = 1)

  /** The planted eval-VIDEO manifest for `q_contamination_video`:
    * groups {4,13,22} over [[syntheticVideos]]' 30-group universe —
    * group 4 TWICE under different brightness offsets. */
  private[graft] val VideoEvalIds: Seq[Long] =
    Seq(4L + 30 * 8, 4L + 30 * 16, 13L + 30 * 5, 22L + 30 * 11)

  /** §2 `q_contamination_video`: VIDEO eval-set decontamination —
    * completing the modality matrix beside the image/audio screens,
    * with the CONTAINER dimension in the loop: eval AVIs walk to frame
    * hashes and probe the df-guarded PERSISTED corpus frame index
    * ([[videoDhashIncremental]] — eval is the tiny delta side;
    * corpus×corpus never forms; a shared frame at Hamming ≤ 3 is the
    * evidence, best-frame collapsed per video pair). Oracle states the
    * generative truth (doc_id%30 ∈ {4,13,22}, n_eval_hits 2 for group
    * 4 else 1, dhash = the replicated group byte); Spark reproduces it
    * through the real container walk → frame dHash → cross-probe →
    * count, via the SAME [[MultimodalOps.evalContamination]] endgame
    * as the other two modalities. */
  def contaminationVideo(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val corpusIndex = videoFrameIndex(
      syntheticVideos(documents, 30), everyNth = 1)
      // the probe AND the final hash join read it
      .transform(Materialize(_, eager = false))
    val evalPayloads = syntheticVideos(VideoEvalIds.toDF("doc_id"), 30)
    MultimodalOps.evalContamination(corpusIndex,
      videoDhashIncremental(evalPayloads, corpusIndex, everyNth = 1))
  }

  val oracles: Map[String, String] = Map(
    // the eval groups are VideoEvalIds' ids mod 30 — group 4 planted
    // twice, so its corpus members count two eval hits
    "q_contamination_video" ->
      """SELECT doc_id,
        |  CAST((doc_id % 30) * 72340172838076673 AS BIGINT) AS dhash,
        |  CAST(CASE WHEN doc_id % 30 = 4 THEN 2 ELSE 1 END AS BIGINT)
        |    AS n_eval_hits
        |FROM documents
        |WHERE doc_id % 30 IN (4, 13, 22)
        |ORDER BY doc_id""".stripMargin,
    // the planted truth of syntheticVideos' construction — the image
    // convention (§2 row 131) at groups = 30
    "q_video_dedup_representative" ->
      """SELECT CAST(MIN(doc_id) AS BIGINT) AS cluster_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_members,
        |  CAST((doc_id % 30) * 72340172838076673 AS BIGINT) AS rep_dhash
        |FROM documents
        |GROUP BY doc_id % 30
        |ORDER BY cluster_id""".stripMargin)

  /** Build the PERSISTABLE corpus frame-hash index (doc_id, dhash) —
    * what [[videoDhashIncremental]]/[[videoDedupStream]] probe: sampled
    * frame hashes, deduped per video, with the frame-FREQUENCY guard
    * applied AT BUILD TIME (the [[videoDedupRepresentative]]
    * discipline — a boilerplate frame carried by more than
    * one-in-`frameShareCap` of all videos would otherwise hit every
    * delta batch forever; guarding once here beats re-guarding per
    * probe). Write-once, upsert-keyed on doc_id like every persisted
    * index in the estate. */
  def videoFrameIndex(withPayload: DataFrame, everyNth: Int = 2,
                      frameShareCap: Int = 10,
                      frameDfFloor: Int = 4): DataFrame =
    frameDfGuard(videoDhashes(withPayload, everyNth)
      .select(col("doc_id"), col("dhash")).distinct()
      .transform(Materialize(_, eager = false)), frameShareCap, frameDfFloor)

  /** The frame-frequency guard proper over a DISTINCT (doc_id, dhash)
    * frame — shared by [[videoFrameIndex]] and
    * [[videoDedupRepresentative]] so the batch and incremental routes
    * cannot drift on what counts as boilerplate footage. */
  private def frameDfGuard(hashes: DataFrame, frameShareCap: Int,
                           frameDfFloor: Int): DataFrame = {
    val total = hashes.select(countDistinct(col("doc_id")).as("_n_total"))
    // (doc_id, dhash) is distinct, so count(*) per dhash IS the
    // document frequency; the window shuffles once by dhash (never a
    // single partition), the 1-row total broadcasts
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("dhash"))
    hashes
      .withColumn("_df", count(lit(1)).over(w))
      .crossJoin(broadcast(total))
      .filter(col("_df") <= lit(frameDfFloor) ||
        col("_df") * lit(frameShareCap.toLong) <= col("_n_total"))
      .select(col("doc_id"), col("dhash"))
  }

  /** §2-C `videoDhashIncremental`: delta-vs-corpus VIDEO dedup — the
    * ingestion shape completing the image/audio/video matrix
    * ([[MultimodalOps.imageDhashIncremental]]'s exact contract with
    * frames in between): the delta batch's sampled frame hashes probe
    * the PERSISTED corpus frame-hash index (doc_id, dhash — built by
    * [[videoDhashes]] and df-guarded at build time, the
    * [[videoDedupRepresentative]] discipline), corpus×corpus pairs
    * never form. A (delta, corpus) video pair reports its BEST
    * (minimum) frame-pair Hamming — multiple shared frames collapse to
    * one evidence row. */
  def videoDhashIncremental(deltaPayloads: DataFrame, corpusDhash: DataFrame,
                            maxHamming: Int = 3,
                            everyNth: Int = 2): DataFrame = {
    require(maxHamming < DedupOps.SimhashPieces,
      s"pigeonhole pieces only find Hamming < ${DedupOps.SimhashPieces}")
    DedupOps.simhashCrossCandidates(
      videoDhashes(deltaPayloads, everyNth)
        .select(col("doc_id"), col("dhash")).distinct()
        .withColumnRenamed("dhash", "simhash"),
      corpusDhash.withColumnRenamed("dhash", "simhash"),
      pieceBits = 16)
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("delta_id"), col("corpus_id"))
      .agg(min(col("hamming")).as("hamming"))
      .orderBy("delta_id", "corpus_id")
  }

  /** §2-C `videoDedupStream`: scrub-on-ingest for VIDEO — each
    * micro-batch of (doc_id, payload) AVIs walks to frame hashes and
    * probes the thunk-refreshed persisted corpus frame-hash table
    * ([[videoDhashIncremental]] per trigger, the `foreachBatch`
    * deployment — [[MultimodalOps.imageDedupStream]]'s shape). */
  def videoDedupStream(docs: DataFrame, corpusDhash: () => DataFrame,
                       maxHamming: Int = 3, everyNth: Int = 2)
                      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          sink(videoDhashIncremental(batch.toDF(), corpusDhash(),
            maxHamming, everyNth), id)
      }
      .start()

  /** §2-C `videoDedupRepresentative`: the video dedup endgame — two
    * videos are duplicates when they SHARE a near-identical frame
    * (Hamming ≤ 3 on any frame-hash pair: re-encodes, watermarks, and
    * trims keep most frame hashes), clusters close over the shared-frame
    * graph through the image/audio endgame
    * ([[MultimodalOps.hashClusterRepresentative]]: pigeonhole block
    * candidates → connected components → one manifest row), so the
    * three modalities cannot drift on cluster semantics. Output
    * (cluster_id = min member, n_members, rep_dhash = the cluster's min
    * frame hash).
    *
    * Frame-FREQUENCY guard (round 15): a frame hash carried by more
    * than one-in-`frameShareCap` of ALL videos is boilerplate footage —
    * a black intro/outro card, a network logo — and evidence of
    * nothing: left in the pair graph it would chain unrelated videos
    * into one giant transitive cluster (and a monster CC component).
    * The `q_dedup_substring`/`q_boilerplate` df-cap discipline applied
    * to frames: such hashes are dropped BEFORE pairing (they still
    * count for membership and representatives — a video of nothing but
    * boilerplate remains a singleton with a rep). `frameDfFloor`
    * protects tiny corpora, where a share rule is meaningless: evidence
    * shared by ≤ floor videos is never dropped. The planted oracle
    * universe's groups are corpus/30 ≈ 3.3% — under the 10% default at
    * every SF, so the guard never touches the planted truth; the
    * ubiquitous-junk fixture is spec-graded. Integer-exact comparison
    * (df·cap > n), no float shares.
    *
    * Scale: one decode pass (frames die at their hashes); candidates
    * are 16-bit piece collisions, never n² videos × frames; CC rounds
    * over the pair graph; one final cluster-keyed agg. */
  def videoDedupRepresentative(withPayload: DataFrame,
                               everyNth: Int = 2,
                               frameShareCap: Int = 10,
                               frameDfFloor: Int = 4): DataFrame =
    MultimodalOps.hashClusterRepresentative(
      videoDhashes(withPayload, everyNth),
      frameDfGuard(_, frameShareCap, frameDfFloor))
}
