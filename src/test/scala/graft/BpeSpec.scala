package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{BpeOps, CorpusOps}
import graft.sources.Tables

/** Behavior specs for the trained BPE tokenizer (§2 rows 97-98).
  *
  * The load-bearing test is the reference-equivalence one: an
  * independent, dead-simple Scala BPE (explicit greedy left-to-right
  * merge walk over symbol vectors) must produce the exact merge table
  * and token counts the DataFrame implementation produces via its
  * sentinel-string `replace` trick.
  */
class BpeSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sfDir)

  /** Independent naive BPE: (merge table, final word → token count).
    * Greedy left-to-right merge application, most-frequent pair first,
    * ties to the lexicographically smallest (lhs, rhs). */
  private def refBpe(wordFreq: Map[String, Long], merges: Int)
      : (Seq[(Int, String, String, String, Long)], Map[String, Int]) = {
    var seqs: Map[String, (Vector[String], Long)] =
      wordFreq.map { case (w, f) => w -> (w.toVector.map(_.toString), f) }
    val table = Seq.newBuilder[(Int, String, String, String, Long)]
    for (i <- 1 to merges) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((_, (s, f)) <- seqs; j <- 0 until s.length - 1)
        counts((s(j), s(j + 1))) = counts.getOrElse((s(j), s(j + 1)), 0L) + f
      if (counts.nonEmpty) {
        val ((l, r), c) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        def apply1(s: Vector[String]): Vector[String] = {
          val b = Vector.newBuilder[String]; var j = 0
          while (j < s.length) {
            if (j < s.length - 1 && s(j) == l && s(j + 1) == r) {
              b += (l + r); j += 2
            } else { b += s(j); j += 1 }
          }
          b.result()
        }
        seqs = seqs.map { case (w, (s, f)) => w -> (apply1(s), f) }
        table += ((i, l, r, l + r, c))
      }
    }
    (table.result(), seqs.map { case (w, (s, _)) => w -> s.length })
  }

  private def wordFreqOf(texts: Seq[String]): Map[String, Long] =
    texts.flatMap(t => "[a-z0-9]+".r.findAllIn(t.toLowerCase))
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }

  private def docsDf(texts: Seq[String]): DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  test("train matches an independent naive BPE on the Sennrich corpus") {
    val texts = Seq(
      "low low low low low",
      "lower lower widest widest widest",
      "newest newest newest newest newest newest")
    val (refTable, refCounts) = refBpe(wordFreqOf(texts), merges = 10)
    val got = BpeOps.train(docsDf(texts), merges = 10).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4))).toSeq
    assert(got == refTable, s"\ngot:  $got\nwant: $refTable")
    // and the encoder reproduces the reference token counts per doc
    val enc = BpeOps.encodeSelf(docsDf(texts), merges = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val wantPerDoc = texts.zipWithIndex.map { case (t, i) =>
      i.toLong -> "[a-z0-9]+".r.findAllIn(t.toLowerCase)
        .map(w => refCounts(w).toLong).sum
    }.toMap
    assert(enc == wantPerDoc)
  }

  test("merge application is greedy left-to-right (the replace contract)") {
    // aaaa → [aa, aa]; aaa → [aa, a]: the double-sentinel replace must
    // merge run-adjacent pairs exactly like the greedy walk
    val texts = Seq("aaaa aaaa aaaa", "aaa")
    val (refTable, refCounts) = refBpe(wordFreqOf(texts), merges = 1)
    val mt = BpeOps.train(docsDf(texts), merges = 1)
    val got = mt.collect().map(r =>
      (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4))).toSeq
    assert(got == refTable)
    assert(refCounts("aaaa") == 2 && refCounts("aaa") == 2)
    val enc = BpeOps.encode(docsDf(texts), mt).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(enc == Map(0L -> 6L, 1L -> 2L))
  }

  test("encode generalizes to unseen words via the learned merges") {
    val mt = BpeOps.train(docsDf(Seq("low low low lowest")), merges = 2)
    // merges learned: (l,o)→lo then (lo,w)→low (freq 4 beats est chains)
    val rows = mt.collect().map(r => (r.getString(1), r.getString(2)))
    assert(rows.toSeq == Seq(("l", "o"), ("lo", "w")))
    // unseen word "slow" = s + low → 2 tokens; "glowing" = g+low+i+n+g → 5
    val enc = BpeOps.encode(docsDf(Seq("slow glowing")), mt).collect()
    assert(enc.head.getLong(1) == 2L) // n_words
    assert(enc.head.getLong(2) == 7L) // n_bpe_tokens
  }

  test("row-level encoder ≡ training-trajectory vocab on the real corpus") {
    val (mt, vocab) = BpeOps.trainPieces(docs, merges = 8)
    // per-word token count from the trained vocab's final sequences
    val vocabCounts = vocab.select(col("word"),
      size(split(trim(col("seq"), "\u0001"), "\u0001\u0001")).as("n"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val enc = BpeOps.encode(docs, mt).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val words = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        "[a-z0-9]+".r.findAllIn(r.getString(1).toLowerCase).toSeq).toMap
    enc.foreach { case (id, nWords, nBpe) =>
      assert(nWords == words(id).size)
      assert(nBpe == words(id).map(w => vocabCounts(w).toLong).sum,
        s"doc $id")
    }
    assert(enc.length == words.count(_._2.nonEmpty))
  }

  test("encodeWithVocab fast path ≡ fold-only encode, including forced vocab misses") {
    val (mt, vocab) = BpeOps.trainPieces(docs, merges = 8)
    val slow = BpeOps.encode(docs, mt).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val fast = BpeOps.encodeWithVocab(docs, mt, vocab).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(fast == slow)
    // vocabTopK = 3 forces almost every word through the fold fallback —
    // the mixed lookup/fold path must still be bit-identical
    val mixed = BpeOps.encodeWithVocab(docs, mt, vocab, vocabTopK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(mixed == slow)
    // unseen words (absent from vocab AND merge table inputs) fall to
    // the fold and still encode
    val unseen = docsDf(Seq("zzqx glorblatt"))
    val u = BpeOps.encodeWithVocab(unseen, mt, vocab).collect()
    val uSlow = BpeOps.encode(unseen, mt).collect()
    assert(u.map(_.toString).toSeq == uSlow.map(_.toString).toSeq)
  }

  test("pack and token budget consume BPE counts") {
    val mt = BpeOps.train(docs)
    val withMs = docs.crossJoin(broadcast(BpeOps.mergesArray(mt)))
    val packed = CorpusOps.pack(withMs, tokenCount = BpeOps.bpeTokenCount)
      .collect()
    assert(packed.nonEmpty)
    // BPE tokens outnumber whitespace words (subwords split), so BPE
    // packing must produce at least as many packs per source
    val packedWs = CorpusOps.pack(docs).collect()
    assert(packed.length >= packedWs.length,
      s"bpe packs ${packed.length} < whitespace packs ${packedWs.length}")
    // pack accounting stays exact: per-source pack_tokens sum equals the
    // straight per-source BPE token sum
    val perSourcePacked = packed.groupBy(_.getString(0))
      .view.mapValues(_.map(_.getAs[Long]("pack_tokens")).sum).toMap
    val perSourceDirect = withMs
      .select(col("source"), BpeOps.bpeTokenCount.as("n"))
      .groupBy("source").agg(sum("n").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSourcePacked == perSourceDirect)
    // budget draw: every kept doc respects "tokens before it < budget"
    val kept = CorpusOps.budgetFiltered(withMs, lit(400L),
      tokenCount = BpeOps.bpeTokenCount).collect()
    assert(kept.nonEmpty)
    kept.foreach { r =>
      assert(r.getAs[Long]("cum_tokens") - r.getAs[Long]("n_tokens") < 400L)
    }
  }

  test("a merge budget past saturation stops cleanly with the vocab intact") {
    // 'abab'/'ab' saturate after two merges (a+b, then ab+ab); a
    // 50-merge budget must stop there, NOT empty the vocab
    val tiny = docsDf(Seq("abab ab", "abab"))
    val (mt, vocab) = BpeOps.trainPieces(tiny, merges = 50)
    val ranks = mt.select("merge_rank").collect().map(_.getInt(0)).sorted
    assert(ranks.nonEmpty && ranks.last < 50, s"must saturate early: ${ranks.toSeq}")
    assert(ranks.toSeq == (1 to ranks.last), "contiguous ranks")
    val v = vocab.collect().map(r => r.getString(0) ->
      r.getString(2).split("").length).toMap
    assert(v.keySet == Set("abab", "ab"), s"vocab survives saturation: $v")
    assert(v.values.forall(_ == 1), s"fully merged words are one symbol: $v")
    // and encoding with the saturated tokenizer still takes the fast path
    val enc = BpeOps.encodeWithVocab(tiny, mt, vocab).collect()
    assert(enc.map(_.getLong(2)).toSeq == Seq(2L, 1L), enc.mkString(","))
  }

  test("a corpus of single-char words trains an honestly-empty merge table") {
    // saturation on ROUND 1: no pair exists at all — the merge table is
    // empty (not a crash), the vocab intact, encoding still works
    val tiny = docsDf(Seq("a b", "c"))
    val (mt, vocab) = BpeOps.trainPieces(tiny, merges = 5)
    assert(mt.isEmpty)
    assert(vocab.count() == 3)
    val enc = BpeOps.encodeWithVocab(tiny, mt, vocab).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(enc.values.toSeq.sorted == Seq(1L, 2L), enc)
  }

  test("persisted tokenizer artifact round-trips bit-equal to the inline encode") {
    val dir = SparkSpec.tempDir("graft_tokenizer")
      .toFile.getAbsolutePath
    BpeOps.trainTokenizer(docs, dir, merges = 8)
    val (mt, vocab) = BpeOps.readTokenizer(spark, dir)
    val fromDisk = BpeOps.encodeWithVocab(docs, mt, vocab).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val (mtIn, vocabIn) = BpeOps.trainPieces(docs, merges = 8)
    val inline = BpeOps.encodeWithVocab(docs, mtIn, vocabIn).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(fromDisk == inline,
      "the persisted artifact must encode exactly as the live training run")
    // the artifact really is the two write-once frames, nothing more
    assert(new java.io.File(s"$dir/merges").exists())
    assert(new java.io.File(s"$dir/vocab").exists())
  }
}
