package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.operators.{MultimodalOps, Skew}

/** Property tests for the operators whose edge cases live in arithmetic
  * (frame boundaries, salt replication) rather than data: random inputs
  * against a plain-Scala model. */
class OperatorPropertySpec extends SparkSpec {

  test("frameSample matches the arithmetic model for arbitrary payload lengths") {
    import spark.implicits._
    val frameBytes = 8
    val everyNth = 3
    val lens = Gen.listOfN(60, Gen.choose(0, 100)).sample.get.distinct
    val docs = lens.zipWithIndex
      .map { case (len, id) => (id.toLong, "x" * len) }
      .toDF("doc_id", "text")
      .withColumn("payload", col("text").cast("binary"))
    val got = MultimodalOps.frameSample(docs, frameBytes, everyNth).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.map(_.getAs[Int]("frame_idx")).sorted.toSeq).toMap
    lens.zipWithIndex.foreach { case (len, id) =>
      val nFrames = len / frameBytes
      val expected = (0 until nFrames).filter(_ % everyNth == 0)
      assert(got.getOrElse(id.toLong, Seq.empty) == expected,
        s"len=$len expected=$expected got=${got.get(id.toLong)}")
    }
    // every emitted frame is full-size
    val sizes = MultimodalOps.frameSample(docs, frameBytes, everyNth)
      .select(octet_length(col("frame"))).collect().map(_.getInt(0))
    assert(sizes.forall(_ == frameBytes))
  }

  test("html entity decode: escape-roundtrip identity and verbatim-safety on random text") {
    import graft.plans.HtmlEntities
    // roundtrip: markup-escaping arbitrary text then decoding restores it
    // (the wrapper's `escaped` chain is exactly this in the oracle pair)
    val texts = Gen.listOfN(200, Gen.asciiPrintableStr.map(_.take(80))).sample.get
    texts.foreach { t =>
      val escaped = t.replace("&", "&amp;").replace("<", "&lt;")
        .replace(">", "&gt;").replace("\"", "&quot;")
      assert(HtmlEntities.decode(escaped) == t, s"roundtrip failed: <$t>")
    }
    // verbatim-safety: decoding NEVER throws and never produces U+FFFD
    // on arbitrary &-ridden garbage (the crawl's actual input contract)
    val pieces = Gen.oneOf(
      Gen.const("&"), Gen.const("#"), Gen.const(";"), Gen.const("&#"),
      Gen.const("&#x"), Gen.numStr.map(_.take(9)), Gen.alphaStr.map(_.take(6)),
      Gen.const("&amp;"), Gen.const("&#55296;"), Gen.const("&#xD800;"))
    val garbage = Gen.listOfN(300,
      Gen.listOfN(20, pieces).map(_.mkString)).sample.get
    garbage.foreach { g =>
      val d = HtmlEntities.decode(g)
      assert(!d.contains('�'), s"U+FFFD from <$g>")
    }
    // every named entity decodes to its table value in isolation, and the
    // numeric form of the same codepoint agrees (named ≡ numeric)
    HtmlEntities.Named.foreach { case (n, v) =>
      assert(HtmlEntities.decode(s"&$n;") == v, n)
      if (v.length == 1 && !HtmlEntities.SpaceCodepoints(v.codePointAt(0))) {
        assert(HtmlEntities.decode(s"&#${v.codePointAt(0)};") == v, s"numeric $n")
        assert(HtmlEntities.decode(f"&#x${v.codePointAt(0)}%X;") == v, s"hex $n")
      }
    }
  }

  test("aviWalk never throws on arbitrary bytes (crawl input contract)") {
    import graft.operators.AviOps
    val rnd = new scala.util.Random(14)
    // pure garbage, garbage with RIFF/AVI magic grafted on, and torn
    // prefixes of a VALID container — every route must return an Option
    val valid = AviOps.buildAvi(
      Seq(Array.tabulate[Byte](37)(_.toByte)), 16, 12)
    val cases =
      (0 until 200).map(_ => Array.fill[Byte](rnd.nextInt(200))(rnd.nextInt.toByte)) ++
      (0 until 100).map { _ =>
        val g = Array.fill[Byte](rnd.nextInt(120) + 12)(rnd.nextInt.toByte)
        System.arraycopy("RIFF".getBytes, 0, g, 0, 4)
        System.arraycopy("AVI ".getBytes, 0, g, 8, 4)
        g
      } ++
      (0 until valid.length).map(valid.take)
    cases.foreach { bytes =>
      AviOps.aviWalk(bytes) // Option out, never a throw
    }
    assert(AviOps.aviWalk(valid).exists(_.frames.length == 1))
    // a crafted AVI nesting tens of thousands of LISTs (12 bytes per
    // level) must hit the depth cap and return None — NOT recurse the
    // task stack into a StackOverflowError (an Error, uncaught)
    val n = 50000
    val buf = java.nio.ByteBuffer.allocate(12 + 12 * n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes); buf.putInt(4 + 12 * n); buf.put("AVI ".getBytes)
    (0 until n).foreach { i =>
      buf.put("LIST".getBytes); buf.putInt(4 + 12 * (n - 1 - i))
      buf.put("hdrl".getBytes)
    }
    assert(AviOps.aviWalk(buf.array()).isEmpty, "deep nesting → None")
    // a realistically-nested container (movi → rec ) still parses
    val recNested = AviOps.buildAvi(
      Seq(Array.tabulate[Byte](21)(_.toByte)), 16, 12)
    assert(AviOps.aviWalk(recNested).nonEmpty)
  }

  test("mp4Walk / pdfTextWalk / mp3Walk never throw on arbitrary bytes (crawl input contract)") {
    import graft.operators.{Mp3Ops, Mp4Ops, PdfOps}
    val rnd = new scala.util.Random(18)
    val validMp4 = Mp4Ops.mp4Synth(7L)
    val validPdf = PdfOps.pdfSynth("round eighteen walk fuzz text", 1)
    val validMp3 = Mp3Ops.mp3Synth(7L)
    val validWebp = graft.operators.WebpOps.webpSynth(4L)
    val validOgg = graft.operators.OggOps.oggSynth(4L)
    val cases =
      // pure garbage
      (0 until 200).map(_ => Array.fill[Byte](rnd.nextInt(300))(rnd.nextInt.toByte)) ++
      // garbage with the magic grafted on — the walk must enter and survive
      (0 until 100).map { _ =>
        val g = Array.fill[Byte](rnd.nextInt(200) + 16)(rnd.nextInt.toByte)
        System.arraycopy("....ftyp".getBytes, 0, g, 0, 8); g
      } ++
      (0 until 100).map { _ =>
        val g = Array.fill[Byte](rnd.nextInt(200) + 16)(rnd.nextInt.toByte)
        System.arraycopy("%PDF-1.4".getBytes, 0, g, 0, 8); g
      } ++
      (0 until 100).map { _ =>
        val g = Array.fill[Byte](rnd.nextInt(200) + 16)(rnd.nextInt.toByte)
        System.arraycopy("ID3".getBytes, 0, g, 0, 3)
        g(3) = 4; g(4) = 0; g(5) = 0; g
      } ++
      // every torn prefix of a valid payload
      (0 until validMp4.length).map(validMp4.take) ++
      (0 until validPdf.length).map(validPdf.take) ++
      (0 until validMp3.length).map(validMp3.take) ++
      (0 until validWebp.length).map(validWebp.take) ++
      (0 until validOgg.length).map(validOgg.take) ++
      (0 until 100).map { _ =>
        val g = Array.fill[Byte](rnd.nextInt(200) + 30)(rnd.nextInt.toByte)
        System.arraycopy("OggS".getBytes, 0, g, 0, 4); g
      }
    cases.foreach { bytes =>
      Mp4Ops.mp4Walk(bytes)   // Either out, never a throw
      PdfOps.pdfTextWalk(bytes)
      Mp3Ops.mp3Walk(bytes)
      graft.operators.WebpOps.webpWalk(bytes)
      graft.operators.OggOps.oggWalk(bytes)
      // the round-19 header probes ride the same inventory pass and
      // inherit the same contract
      graft.operators.ImageHeaders.probe(bytes)
      graft.operators.MediaHeaders.wav(bytes)
      graft.operators.MediaHeaders.avi(bytes)
      graft.operators.MediaHeaders.qoi(bytes)
    }
    // the decoders decodeBatches and audioAhash call with no catch
    // around them: a throw there kills the task
    def decodeAll(g: Array[Byte]): Unit = {
      MultimodalOps.decodeWav(g, 16)
      MultimodalOps.decodeBmp(g, 16)
      MultimodalOps.decodePng(g, 16)
      MultimodalOps.decodeQoi(g, 16)
      MultimodalOps.decodePpm(g, 16)
      MultimodalOps.ahashOf(g)
    }
    // magic-grafted garbage for each probe and decoder family: the
    // parser must enter and survive
    Seq("RIFF....WAVE", "RIFF....WAVEfmt \u0010\u0000\u0000\u0000",
      "RIFF....AVI ", "qoif....", "\u0089PNG\r\n\u001a\n", "GIF89a",
      "BM......", "\u00ff\u00d8\u00ff\u00e0", "P6\n").foreach { magic =>
      (0 until 60).foreach { _ =>
        val g = Array.fill[Byte](rnd.nextInt(200) + 26)(rnd.nextInt.toByte)
        val m = magic.toCharArray.map(_.toByte)
        System.arraycopy(m, 0, g, 0, m.length)
        graft.operators.ImageHeaders.probe(g)
        graft.operators.ImageHeaders.gifAnimation(g)
        graft.operators.ImageHeaders.pngAnimation(g)
        graft.operators.MediaHeaders.wav(g)
        graft.operators.MediaHeaders.avi(g)
        graft.operators.MediaHeaders.qoi(g)
        decodeAll(g)
      }
    }
    // every truncation and seeded byte mutations of valid payloads
    val media = graft.operators.MediaOps
    Seq(MultimodalOps.plantedAudio(7L, 40), MultimodalOps.plantedImage(7L, 50),
      media.wavSynth(3L), media.pngSynth(7L), media.jpegSynth(7L)).foreach { valid =>
      (0 until valid.length).foreach(n => decodeAll(valid.take(n)))
      (0 until 300).foreach { _ =>
        val g = valid.clone()
        (0 to rnd.nextInt(4)).foreach(_ =>
          g(rnd.nextInt(g.length)) = rnd.nextInt.toByte)
        decodeAll(g)
        decodeAll(g.take(rnd.nextInt(g.length)))
      }
    }
    // the planted payloads still decode \u2014 the mutations above start
    // from inputs the decoders accept
    assert(MultimodalOps.ahashOf(MultimodalOps.plantedAudio(7L, 40)).nonEmpty)
    assert(MultimodalOps.decodeWav(media.wavSynth(3L), 16).nonEmpty)
    assert(MultimodalOps.decodePpm(MultimodalOps.plantedImage(7L, 50), 16).nonEmpty)
    // a crafted deep-nest moov (8 bytes per level) hits the depth cap,
    // never a StackOverflowError
    val n = 50000
    val buf = java.nio.ByteBuffer.allocate(20 + 8 * n) // big-endian default
    buf.put(Array[Byte](0, 0, 0, 20)); buf.put("ftypisom".getBytes)
    buf.putInt(0); buf.put(Array[Byte](0, 0, 0, 0))
    (0 until n).foreach { i => buf.putInt(8 * (n - i)); buf.put("moov".getBytes) }
    assert(Mp4Ops.mp4Walk(buf.array()).isLeft, "deep nesting → quarantine")
  }

  test("round-15 natives never throw on arbitrary strings (crawl input contract)") {
    import graft.plans.{IdnCodec, MainContent, PctCodec}
    val rnd = new scala.util.Random(15)
    // raw garbage across the char space, plus adversarial shapes for
    // each rule: dense '%' runs (pct), dense '<a'/boundary-tag soup
    // (main_content), scheme://unicode-host junk (idn)
    def randStr(maxLen: Int): String = {
      val n = rnd.nextInt(maxLen)
      val sb = new StringBuilder(n)
      (0 until n).foreach { _ =>
        sb += (rnd.nextInt(4) match {
          case 0 => (rnd.nextInt(95) + 32).toChar // printable ASCII
          case 1 => "%<>/aä:.#?&üb日"(rnd.nextInt(14))
          case 2 => rnd.nextInt(0xD700).toChar // BMP below surrogates
          case _ => (rnd.nextInt(256)).toChar // latin-1 incl. controls
        })
      }
      sb.toString
    }
    (0 until 300).foreach { _ =>
      val s = randStr(400)
      PctCodec.normalize(s)
      MainContent.extract(s)
      IdnCodec.normalizeHost(s)
      IdnCodec.normalizeHost("http://" + s)
      PctCodec.normalize("%" * rnd.nextInt(50) + s)
      MainContent.extract("<a " * rnd.nextInt(20) + s + "</div>" * rnd.nextInt(5))
    }
    // idempotence: normalizing a normalized string is a fixpoint. The
    // ADVICE-r15 counterexample shapes go first: under the old verbatim
    // stray-'%' pass-through, '%%341' → '%41' → 'A' (a stray '%'
    // captured digits freed by a later decode); the %25 re-encoding
    // rule makes these true fixpoints ('%%341' → '%2541' → '%2541').
    assert(PctCodec.normalize("%%341") == "%2541")
    assert(PctCodec.normalize("%2541") == "%2541")
    assert(PctCodec.normalize("%%41f") == "%25Af")
    assert(PctCodec.normalize("%25Af") == "%25Af")
    assert(PctCodec.normalize("%4%41") == "%254A")
    assert(PctCodec.normalize("%") == "%25")
    assert(PctCodec.normalize("%g1%7e~") == "%25g1~~")
    for (cx <- Seq("%%341", "%%41f", "%4%41", "%%%2e", "a%%%%41", "%4")) {
      val once = PctCodec.normalize(cx)
      assert(PctCodec.normalize(once) == once, s"pct not idempotent: <$cx>")
    }
    (0 until 100).foreach { _ =>
      // seed the generator output with dense '%'-runs so the random
      // corpus ALSO walks the stray-%/escape interaction space
      val s = "%" * rnd.nextInt(4) + randStr(200)
      val once = PctCodec.normalize(s)
      assert(PctCodec.normalize(once) == once, s"pct not idempotent: <$s>")
      val host = IdnCodec.normalizeHost("http://" + s.replace("/", "") + "/x")
      assert(IdnCodec.normalizeHost(host) == host, s"idn not idempotent: <$s>")
    }
  }

  test("winnowCutSpans: total over garbage; spans sorted/disjoint/in-bounds; equals the naive model") {
    import graft.plans.GraftHash
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(16)
    val K = graft.operators.DedupOps.WinnowK
    def hex8(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      f"$v%08x"
    }
    (0 until 200).foreach { _ =>
      // tiny alphabet → repeated grams → overlapping/adjacent spans
      val t = (0 until rnd.nextInt(120))
        .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      val grams = (0 to math.max(-1, t.length - K))
        .map(p => t.substring(p, p + K)).distinct
      val real = rnd.shuffle(grams).take(rnd.nextInt(4)).map(hex8)
      // junk entries incl. non-hex, empty, and a Long-overflowing hex —
      // all must be SKIPPED, never thrown on (the hardening contract)
      val junk = rnd.shuffle(Seq("zzzz", "", "ffffffffffffffff", "12"))
        .take(rnd.nextInt(4))
      val fps = new GenericArrayData(
        rnd.shuffle(real ++ junk)
          .map(s => UTF8String.fromString(s): Any).toArray)
      val out = GraftHash.winnowCutSpans(UTF8String.fromString(t), fps, K)
      val spans = (0 until out.numElements()).map { i =>
        val r = out.getStruct(i, 2); (r.getInt(0), r.getInt(1))
      }
      spans.foreach { case (s, e) =>
        assert(s >= 0 && e <= t.length && e > s, s"bad span ($s,$e) len=${t.length}")
      }
      spans.sliding(2).foreach {
        case Seq((_, e1), (s2, _)) => assert(s2 >= e1, "overlap/out-of-order")
        case _ => ()
      }
      // the naive model: every matching gram position, islands merged
      // with the SQL rule (new island when p > prevMax + K - 1)
      val set = real.toSet
      val hits = (0 to math.max(-1, t.length - K))
        .filter(p => set.contains(hex8(t.substring(p, p + K))))
      val model = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var cs = -1; var cm = -1
      hits.foreach { p =>
        if (cs >= 0 && p <= cm + K - 1) cm = p
        else { if (cs >= 0) model += ((cs, cm + K)); cs = p; cm = p }
      }
      if (cs >= 0) model += ((cs, cm + K))
      assert(spans == model.toSeq, s"t=<$t> real=$real got=$spans want=$model")
    }
  }

  test("saltedJoin matches the plain join for arbitrary key distributions") {
    import spark.implicits._
    val leftRows = Gen.listOfN(200, for {
      id <- Gen.choose(0L, 1000L)
      k <- Gen.choose(0L, 10L) // few keys → heavy collisions, some misses
    } yield (id, k)).sample.get.distinct
    val rightRows = Gen.listOfN(8, for {
      k <- Gen.choose(0L, 15L) // some keys unmatched on either side
      v <- Gen.alphaLowerStr.map(_.take(4))
    } yield (k, v)).sample.get.distinctBy(_._1)
    val left = leftRows.toDF("id", "k")
    val right = rightRows.toDF("k", "v")
    for (jt <- Seq("inner", "left", "left_semi", "left_anti")) {
      val plain = jt match {
        case "left_semi" => left.join(right, Seq("k"), "left_semi")
          .select("id", "k")
        case "left_anti" => left.join(right, Seq("k"), "left_anti")
          .select("id", "k")
        case t => left.join(right, left("k") === right("k"), t)
          .select(left("id"), left("k"), right("v"))
      }
      val salted = Skew.saltedJoin(left, right, "k",
        saltBy = col("id"), salts = 5, joinType = jt)
      val saltedCols = salted.select(plain.columns.map(col): _*)
      assert(saltedCols.exceptAll(plain).count() == 0, s"$jt extra rows")
      assert(plain.exceptAll(saltedCols).count() == 0, s"$jt missing rows")
    }
  }

  test("dedupLines matches a plain-Scala first-occurrence model on random corpora") {
    import spark.implicits._
    val words = Vector("aa", "bb", "cc", "dd", "ee")
    val gen = Gen.listOfN(40, Gen.listOfN(
      25, Gen.oneOf(words)).map(_.mkString(" ")))
    val texts = gen.sample.get
    val docs = texts.zipWithIndex
      .map { case (t, id) => (id.toLong, t, s"s${id % 3}") }
      .toDF("doc_id", "text", "source")
    val got = graft.operators.DedupOps.dedupLines(docs, segTokens = 10).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_seg"), r.getAs[Long]("n_kept")))
      .toMap
    // model: segments in (doc_id, pos) order; a segment is kept iff its
    // text was never seen before
    val seen = scala.collection.mutable.Set[String]()
    texts.zipWithIndex.foreach { case (t, id) =>
      val segs = t.split(" ").grouped(10).map(_.mkString(" ")).toSeq
      val kept = segs.count(s => seen.add(s))
      assert(got(id.toLong) == (segs.length.toLong, kept.toLong),
        s"doc $id: got ${got(id.toLong)} want (${segs.length}, $kept)")
    }
  }

  test("nbScore confusion equals a plain-Scala NB model on random corpora") {
    import spark.implicits._
    val words = Vector("tok0", "tok1", "tok2", "tok3")
    val langs = Vector("aa", "bb")
    val gen = Gen.listOfN(30, for {
      n <- Gen.choose(3, 12)
      ws <- Gen.listOfN(n, Gen.oneOf(words))
      l <- Gen.oneOf(langs)
    } yield (ws.mkString(" "), l))
    val rows = gen.sample.get
    val docs = rows.zipWithIndex
      .map { case ((t, l), id) => (id.toLong, t, l) }.toDF("doc_id", "text", "lang")
    // plain-Scala model with the identical integer quantization
    val toks = rows.flatMap { case (t, l) => t.split(" ").map(l -> _) }
    val counts = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nLang = toks.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val vocab = toks.map(_._2).distinct
    val v = vocab.size.toLong
    def w(l: String, t: String): Long = math.round(math.log(
      (counts.getOrElse((l, t), 0L) + 1) * 1.0 / (nLang(l) + v)) * 1e6)
    val nDocs = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    def prior(l: String): Long =
      math.round(math.log(nDocs(l) * 1.0 / rows.size) * 1e6)
    val present = langs.filter(nDocs.contains)
    val predicted = rows.map { case (t, actual) =>
      val scores = present.map { l =>
        l -> (t.split(" ").map(tok => w(l, tok)).sum + prior(l))
      }
      actual -> scores.minBy { case (l, s) => (-s, l) }._1
    }
    val expected = predicted.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = graft.operators.ClassifierOps.nbScore(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_docs")).toMap
    assert(got == expected, s"got $got want $expected")
  }
}
