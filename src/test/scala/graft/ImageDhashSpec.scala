package graft

import graft.operators.MultimodalOps

/** Cross-format image near-dup dedup: the 64-bit dHash over the shared
  * per-format pixel walks + the SimHash pigeonhole pair machinery
  * (SURVEY §2-C imageDhash / imageDhashPairs). */
class ImageDhashSpec extends SparkSpec {

  private val W = 18
  private val H = 16

  /** Deterministic test image: left-to-right luminance gradient with
    * per-row drift — every adjacent dHash cell pair differs, so the
    * hash has no accidental ties. */
  private def lum(x: Int, y: Int): Int = (x * 13 + y * 7) % 200

  private def pixels(f: (Int, Int) => Int): IndexedSeq[(Int, Int, Int)] =
    for (y <- 0 until H; x <- 0 until W) yield {
      val v = f(x, y); (v, v, v)
    }

  private def ppm(px: IndexedSeq[(Int, Int, Int)]): Array[Byte] =
    (s"P6\n$W $H\n255\n".getBytes("US-ASCII") ++
      px.flatMap { case (r, g, b) => Seq(r.toByte, g.toByte, b.toByte) }).toArray

  private def bmp(px: IndexedSeq[(Int, Int, Int)]): Array[Byte] = {
    def u16(v: Int) = Seq(v & 0xff, (v >> 8) & 0xff)
    def u32(v: Int) =
      Seq(v & 0xff, (v >> 8) & 0xff, (v >> 16) & 0xff, (v >> 24) & 0xff)
    val rowBytes = ((W * 3 + 3) / 4) * 4
    val header =
      Seq('B'.toInt, 'M'.toInt) ++ u32(54 + rowBytes * H) ++ u32(0) ++ u32(54) ++
        u32(40) ++ u32(W) ++ u32(H) ++ u16(1) ++ u16(24) ++ u32(0) ++
        u32(rowBytes * H) ++ u32(0) ++ u32(0) ++ u32(0) ++ u32(0)
    // bottom-up storage, BGR, padded rows
    val rows = (H - 1 to 0 by -1).flatMap { y =>
      (0 until W).flatMap { x =>
        val (r, g, b) = px(y * W + x); Seq(b, g, r)
      } ++ Seq.fill(rowBytes - W * 3)(0)
    }
    (header ++ rows).map(_.toByte).toArray
  }

  private def png(px: IndexedSeq[(Int, Int, Int)]): Array[Byte] = {
    def u32be(v: Long) = Seq(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      val body = typ.getBytes("US-ASCII") ++ data
      crc.update(body)
      (u32be(data.length) ++ body ++ u32be(crc.getValue)).toArray
    }
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    val ihdr = (u32be(W) ++ u32be(H) ++
      Seq(8.toByte, 2.toByte, 0.toByte, 0.toByte, 0.toByte)).toArray
    val filtered = (0 until H).flatMap { y =>
      0.toByte +: (0 until W).flatMap { x =>
        val (r, g, b) = px(y * W + x); Seq(r.toByte, g.toByte, b.toByte)
      }
    }.toArray
    val d = new java.util.zip.Deflater()
    d.setInput(filtered); d.finish()
    val buf = new Array[Byte](filtered.length * 2 + 64)
    val n = d.deflate(buf); d.end()
    sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", buf.take(n)) ++
      chunk("IEND", Array.empty)
  }

  private def qoi(px: IndexedSeq[(Int, Int, Int)]): Array[Byte] = {
    def u32be(v: Int) = Seq(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val header = "qoif".getBytes("US-ASCII") ++ u32be(W) ++ u32be(H) ++
      Seq(3.toByte, 0.toByte)
    // every pixel an RGB literal — valid (if uncompressed) QOI
    val body = px.flatMap { case (r, g, b) =>
      Seq(0xfe.toByte, r.toByte, g.toByte, b.toByte)
    }
    val end = Seq.fill(7)(0.toByte) :+ 1.toByte
    (header ++ body ++ end).toArray
  }

  test("one image hashes identically across PPM, BMP, PNG, and QOI containers") {
    val px = pixels(lum)
    val hashes = Seq(ppm(px), bmp(px), png(px), qoi(px))
      .map(b => MultimodalOps.dhashOf(b).get)
    assert(hashes.distinct.length == 1,
      s"container must not change the dHash: $hashes")
    // and the hash actually encodes the gradient (not degenerate)
    assert(hashes.head != 0L && hashes.head != -1L)
  }

  test("near-identical pair blocks together; different image does not; audio stays out") {
    import spark.implicits._
    val base = pixels(lum)
    // one 2x2-pixel region (one dHash cell) brightened — a small overlay
    val edited = pixels((x, y) =>
      if (x >= 4 && x <= 5 && y >= 2 && y <= 3) math.min(lum(x, y) + 60, 255)
      else lum(x, y))
    val reversed = pixels((x, y) => lum(W - 1 - x, y))
    val hBase = MultimodalOps.dhashOf(ppm(base)).get
    val hEdit = MultimodalOps.dhashOf(qoi(edited)).get
    assert(java.lang.Long.bitCount(hBase ^ hEdit) <= 3, "small edit, small Hamming")
    assert(java.lang.Long.bitCount(
      hBase ^ MultimodalOps.dhashOf(bmp(reversed)).get) > 3)
    val docs = Seq(
      (1L, ppm(base)), (2L, qoi(edited)), (3L, bmp(reversed)),
      (4L, "RIFFnot really audio but junk".getBytes("US-ASCII")))
      .toDF("doc_id", "payload")
    // doc 4 never decodes as an image → absent from the hash universe
    assert(MultimodalOps.imageDhash(docs).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L, 3L))
    val pairs = MultimodalOps.imageDhashPairs(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.toSeq == Seq((1L, 2L)),
      s"only the planted near-identical pair may surface: ${pairs.toSeq}")
  }

  test("plantedImage encodes the declared dHash; brightness variants are Hamming-0") {
    val Rep = 0x0101010101010101L
    // group byte lands verbatim in every hash byte
    (Seq(0L, 1L, 7L, 13L, 49L)).foreach { g =>
      val h = MultimodalOps.dhashOf(MultimodalOps.plantedImage(g, 50)).get
      assert(h == g * Rep, s"group $g: got ${h.toHexString}")
    }
    // members of one group (same g, different brightness offset) collide
    val a = MultimodalOps.dhashOf(MultimodalOps.plantedImage(7L, 50)).get
    val b = MultimodalOps.dhashOf(MultimodalOps.plantedImage(57L, 50)).get
    val c = MultimodalOps.dhashOf(MultimodalOps.plantedImage(707L, 50)).get
    assert(a == b && b == c, "uniform brightness must not move a dHash bit")
    // distinct groups differ by ≥ 8 bits (8 rows × ≥1 bit of the byte)
    for (g1 <- 0 until 8; g2 <- 0 until 8 if g1 != g2) {
      val h1 = MultimodalOps.dhashOf(MultimodalOps.plantedImage(g1, 50)).get
      val h2 = MultimodalOps.dhashOf(MultimodalOps.plantedImage(g2, 50)).get
      assert(java.lang.Long.bitCount(h1 ^ h2) >= 8, s"$g1 vs $g2")
    }
  }

  test("imageDedupRepresentative recovers the planted clusters end-to-end") {
    import spark.implicits._
    // 3 groups of sizes 3/2/1 with scrambled brightness variants
    val docs = Seq(0L, 4L, 8L, 1L, 5L, 2L).map(i => (i, "s"))
      .toDF("doc_id", "source")
    val out = graft.operators.MultimodalOps
      .imageDedupRepresentative(docs, groups = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val Rep = 0x0101010101010101L
    assert(out.toSeq == Seq(
      (0L, 3L, 0L), (1L, 2L, 1 * Rep), (2L, 1L, 2 * Rep)), out.toSeq)
  }

  test("plantedAudio encodes the declared aHash; gain variants are Hamming-0") {
    val Rep = 0x0101010101010101L
    Seq(0L, 1L, 7L, 13L, 39L).foreach { g =>
      val h = MultimodalOps.ahashOf(MultimodalOps.plantedAudio(g, 40)).get
      assert(h == g * Rep, s"group $g: got ${h.toHexString}")
    }
    // same group, different gain offset → identical fingerprint
    val a = MultimodalOps.ahashOf(MultimodalOps.plantedAudio(7L, 40)).get
    val b = MultimodalOps.ahashOf(MultimodalOps.plantedAudio(47L, 40)).get
    assert(a == b, "uniform gain must not move an aHash bit")
    // distinct groups ≥ 8 bits apart; junk and short audio stay out
    val h0 = MultimodalOps.ahashOf(MultimodalOps.plantedAudio(0L, 40)).get
    val h5 = MultimodalOps.ahashOf(MultimodalOps.plantedAudio(5L, 40)).get
    assert(java.lang.Long.bitCount(h0 ^ h5) >= 8)
    assert(MultimodalOps.ahashOf("RIFFjunk".getBytes("US-ASCII")).isEmpty)
    val tiny = MultimodalOps.plantedAudio(0L, 40)
    assert(MultimodalOps.ahashOf(tiny.take(44 + 40)).isEmpty,
      "a data chunk longer than the payload (truncated) must be None")
    // crafted truncation: a complete data chunk FIRST, then an fmt chunk
    // declaring size 16 but cut off at EOF — the fmt field reads
    // (u16(f+2)/u16(f+14)) would run past the array without the
    // fmt-bytes-present guard; must be None, not AIOOBE
    val bos = new java.io.ByteArrayOutputStream()
    def str(s: String) = bos.write(s.getBytes("US-ASCII"))
    def le32(x: Int) = (0 to 3).foreach(j => bos.write((x >> (8 * j)) & 0xff))
    str("RIFF"); le32(0); str("WAVE")
    str("data"); le32(4); bos.write(Array[Byte](1, 2, 3, 4))
    str("fmt "); le32(16); bos.write(Array[Byte](1, 0)) // 2 of 16 bytes
    assert(MultimodalOps.ahashOf(bos.toByteArray).isEmpty,
      "truncated fmt chunk routes to None")
    assert(MultimodalOps.decodeWav(bos.toByteArray, 16).isEmpty,
      "decodeWav applies the same truncated-fmt guard")
  }

  test("ahash is waveform-representation-free: 16-bit re-encode hashes identically") {
    // re-encode the planted 8-bit waveform as 16-bit PCM (v*256 — a
    // monotone map); every gradient sign survives the representation
    val src = MultimodalOps.plantedAudio(13L, 40)
    val n = 72 * 4
    val samples = src.takeRight(n)
    val bos = new java.io.ByteArrayOutputStream()
    def str(s: String) = bos.write(s.getBytes("US-ASCII"))
    def le16(x: Int) = { bos.write(x & 0xff); bos.write((x >> 8) & 0xff) }
    def le32(x: Int) = { le16(x & 0xffff); le16((x >> 16) & 0xffff) }
    str("RIFF"); le32(36 + 2 * n); str("WAVE"); str("fmt "); le32(16)
    le16(1); le16(1); le32(8000); le32(16000); le16(2); le16(16)
    str("data"); le32(2 * n)
    samples.foreach(sByte => le16(((sByte & 0xff) - 128) * 256 & 0xffff))
    assert(MultimodalOps.ahashOf(bos.toByteArray).get ==
      MultimodalOps.ahashOf(src).get,
      "container/precision re-encode must not move a fingerprint bit")
  }

  test("audioDedupRepresentative recovers the planted clusters end-to-end") {
    import spark.implicits._
    val docs = Seq(0L, 4L, 8L, 1L, 5L, 2L).map(i => (i, "s"))
      .toDF("doc_id", "source")
    val out = MultimodalOps.audioDedupRepresentative(docs, groups = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val Rep = 0x0101010101010101L
    assert(out.toSeq == Seq(
      (0L, 3L, 0L), (1L, 2L, 1 * Rep), (2L, 1L, 2 * Rep)), out.toSeq)
  }

  test("incremental + streaming audio dedup probe the persisted aHash table") {
    import spark.implicits._
    // corpus: groups 3 and 5 (planted), persisted fingerprints
    val dir = SparkSpec.tempDir("graft_ahash_idx")
      .toFile.getAbsolutePath
    MultimodalOps.audioAhash(
      Seq((10L, MultimodalOps.plantedAudio(3L, 40)),
        (11L, MultimodalOps.plantedAudio(5L, 40))).toDF("doc_id", "payload"))
      .write.mode("overwrite").parquet(dir)
    // delta: a gain variant of group 3, a fresh group, junk
    val delta = Seq(
      (20L, MultimodalOps.plantedAudio(43L, 40)), // group 3, gain +1
      (21L, MultimodalOps.plantedAudio(9L, 40)), // unseen group
      (22L, "not audio".getBytes("US-ASCII")))
      .toDF("doc_id", "payload")
    val hits = MultimodalOps.audioAhashIncremental(
      delta, spark.read.parquet(dir)).collect()
      .map(r => (r.getAs[Long]("delta_id"), r.getAs[Long]("corpus_id")))
    assert(hits.toSeq == Seq((20L, 10L)),
      s"only the gain-variant probe may hit: ${hits.toSeq}")
    // streaming twin: batch-equivalent per trigger
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Byte])]
    val sunk = new scala.collection.mutable.ArrayBuffer[(Long, Long)]
    val q = MultimodalOps.audioDedupStream(
      input.toDF().toDF("doc_id", "payload"),
      () => spark.read.parquet(dir)) { (df, _) =>
      sunk.synchronized {
        sunk ++= df.collect().map(r =>
          (r.getAs[Long]("delta_id"), r.getAs[Long]("corpus_id")))
      }
    }
    try {
      input.addData((30L, MultimodalOps.plantedAudio(83L, 40)), // group 3
        (31L, "junk".getBytes("US-ASCII")))
      q.processAllAvailable()
      assert(sunk.synchronized(sunk.toSeq) == Seq((30L, 10L)))
    } finally q.stop()
  }

  test("contaminationImage flags eval-group members only, counting planted hits") {
    import spark.implicits._
    // groups: 3 (eval, planted TWICE), 7 (eval), 5 (clean); 53 is a
    // brightness variant of group 3 — the decode must normalize it
    val docs = Seq(3L, 53L, 7L, 5L).toDF("doc_id")
    val got = MultimodalOps.contaminationImage(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val k = 72340172838076673L
    assert(got.toSeq == Seq((3L, 3 * k, 2L), (7L, 7 * k, 1L),
      (53L, 3 * k, 2L)), got.toSeq)
  }

  test("contaminationAudio flags eval-group members through the gain-variant decode") {
    import spark.implicits._
    // groups: 5 (eval, planted TWICE), 11 (eval), 8 (clean); 45 is a
    // gain variant of group 5 — aHash must normalize it
    val docs = Seq(5L, 45L, 11L, 8L).toDF("doc_id")
    val got = MultimodalOps.contaminationAudio(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val k = 72340172838076673L
    assert(got.toSeq == Seq((5L, 5 * k, 2L), (11L, 11 * k, 1L),
      (45L, 5 * k, 2L)), got.toSeq)
  }

  test("incremental image dedup: delta probes the persisted corpus hash table") {
    import spark.implicits._
    val base = pixels(lum)
    val edited = pixels((x, y) =>
      if (x >= 4 && x <= 5 && y >= 2 && y <= 3) math.min(lum(x, y) + 60, 255)
      else lum(x, y))
    val reversed = pixels((x, y) => lum(W - 1 - x, y))
    // the standing corpus: two distinct images, hashed and persisted
    val dir = SparkSpec.tempDir("graft_dhash_idx")
      .toFile.getAbsolutePath
    MultimodalOps.imageDhash(
      Seq((10L, ppm(base)), (11L, bmp(reversed))).toDF("doc_id", "payload"))
      .write.mode("overwrite").parquet(dir)
    // delta: a near-dup of image 10, a fresh image, junk
    val delta = Seq(
      (20L, qoi(edited)),
      (21L, png(pixels((x, y) => (x * 31 + y * 17) % 251))),
      (22L, "not an image at all".getBytes("US-ASCII")))
      .toDF("doc_id", "payload")
    val hits = MultimodalOps.imageDhashIncremental(
      delta, spark.read.parquet(dir)).collect()
      .map(r => (r.getAs[Long]("delta_id"), r.getAs[Long]("corpus_id")))
    assert(hits.toSeq == Seq((20L, 10L)),
      s"only the near-dup probe may hit: ${hits.toSeq}")
    // streaming twin: batch-equivalent per trigger, thunk-refreshed index
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Byte])]
    val sunk = new scala.collection.mutable.ArrayBuffer[(Long, Long)]
    val q = MultimodalOps.imageDedupStream(
      input.toDF().toDF("doc_id", "payload"),
      () => spark.read.parquet(dir)) { (df, _) =>
      sunk.synchronized {
        sunk ++= df.collect().map(r =>
          (r.getAs[Long]("delta_id"), r.getAs[Long]("corpus_id")))
      }
    }
    try {
      input.addData((30L, qoi(edited)), (31L, "junk".getBytes("US-ASCII")))
      q.processAllAvailable()
      assert(sunk.synchronized(sunk.toSeq) == Seq((30L, 10L)))
    } finally q.stop()
  }
}
