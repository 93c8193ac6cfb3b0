package graft

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{CorpusOps, DedupOps, EventOps, SessionOps, TextOps}
import graft.sources.Tables

/** Behavior specs for the corpus-pipeline composites (§2 rows 36-44). */
class CorpusOpsSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val events = Tables.events(spark, sfDir)

  test("sample is deterministic and downsamples 'en' harder") {
    val a = CorpusOps.sample(docs).collect().map(_.getLong(0)).toSeq
    val b = CorpusOps.sample(docs).collect().map(_.getLong(0)).toSeq
    assert(a == b)
    val total = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = CorpusOps.sample(docs).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val enRate = kept.getOrElse("en", 0L).toDouble / total("en")
    val otherRate = (kept - "en").values.sum.toDouble / (total - "en").values.sum
    assert(enRate < otherRate, s"en $enRate vs other $otherRate")
  }

  test("ngramCounts returns top-50 in descending order") {
    val rows = CorpusOps.ngramCounts(docs).collect()
    assert(rows.length == 50)
    val ns = rows.map(_.getAs[Long]("n")).toSeq
    assert(ns == ns.sorted.reverse)
  }

  test("tfidf yields one positive-scored top term per document") {
    val rows = CorpusOps.tfidf(docs).collect()
    assert(rows.length == docs.count())
    assert(rows.forall(_.getAs[Double]("tfidf") > 0.0))
  }

  test("rollup granularities are consistent (subtotals sum to grand total)") {
    val rows = CorpusOps.rollup(docs).collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1)
    assert(grand.head.getAs[Long]("n_docs") == docs.count())
    val perSource = rows.filter(r => !r.isNullAt(0) && r.isNullAt(1))
    assert(perSource.map(_.getAs[Long]("n_docs")).sum == docs.count())
    val leaves = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    assert(leaves.map(_.getAs[Long]("sum_chars")).sum ==
      grand.head.getAs[Long]("sum_chars"))
  }

  test("cube adds the lang-only marginals rollup lacks, consistently") {
    val rows = CorpusOps.cube(docs).collect()
    val langOnly = rows.filter(r => r.isNullAt(0) && !r.isNullAt(1))
    assert(langOnly.nonEmpty)
    assert(langOnly.map(_.getAs[Long]("n_docs")).sum == docs.count())
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.head.getAs[Long]("n_docs") == docs.count())
  }

  test("lagDelta: first event per user has null deltas, gaps non-negative") {
    val rows = graft.operators.SessionOps.lagDelta(events).collect()
    assert(rows.length == events.count())
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    byUser.values.foreach { rs =>
      // output is ordered user_id, event_id; first-in-time row is the null one
      assert(rs.count(_.isNullAt(2)) == 1)
      rs.filterNot(_.isNullAt(2)).foreach(r =>
        assert(r.getAs[Double]("gap_sec") >= 0.0))
    }
  }

  test("contamination finds exactly the docs containing a probe, no shuffle") {
    val hits = CorpusOps.contamination(docs).collect()
    val probed = docs.filter(
      CorpusOps.Probes.map(p => lower(trim(col("text"))).contains(p))
        .reduce(_ || _)).count()
    assert(hits.map(_.getAs[Long]("doc_id")).distinct.length == probed)
    val p = CorpusOps.contamination(docs).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("contaminationNgram: token-sequence hits via a hash equi-join, no NLJ") {
    import spark.implicits._
    // token-boundary semantics: "big cat" matches only as whole tokens;
    // the substring occurrence inside "bigger cattle" must NOT hit
    val synth = Seq(
      (1L, "the big cat sat down"),
      (2L, "a bigger cattle farm"),
      (3L, "one two three four"),
      (4L, "zzz one two three")).toDF("doc_id", "text")
    val probes = Seq("big cat", "one two three").toDF("probe")
    val got = CorpusOps.contaminationNgram(synth, probes)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "big cat"), (3L, "one two three"),
      (4L, "one two three")))
    // plan: the probe MATCH is a hash equi-join on the 8-byte gram key —
    // the only nested loop allowed is the Cross with the broadcast
    // 1-or-2-row probe-LENGTH dim (no join condition by construction)
    val p = CorpusOps.contaminationNgram(docs).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin Inner"), p)
    assert(p.contains("BroadcastNestedLoopJoin Cross"), p)
  }

  test("repetition: shares in (0,1], max_rep consistent with counts") {
    val rows = CorpusOps.repetition(docs).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val share = r.getAs[Double]("rep_share")
      assert(share > 0.0 && share <= 1.0)
      assert(r.getAs[Long]("max_rep") <= r.getAs[Long]("n_ngrams"))
    }
  }

  test("chunks cover every token with the declared stride and overlap") {
    val rows = CorpusOps.chunks(docs).collect()
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    val tokenCounts = docs.select(col("doc_id"),
      size(graft.functions.TextFuns.tokens(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    byDoc.foreach { case (docId, chunks) =>
      val n = tokenCounts(docId)
      val expected = (0 until n by CorpusOps.ChunkStride).length
      assert(chunks.length == expected, s"doc $docId: $n tokens")
      val sorted = chunks.sortBy(_.getAs[Int]("chunk_id"))
      // all but possibly the tail are full-size; tail covers the rest
      sorted.init.foreach(c =>
        assert(c.getAs[Int]("n_chunk_tokens") ==
          math.min(CorpusOps.ChunkTokens,
            n - c.getAs[Int]("chunk_id") * CorpusOps.ChunkStride)))
      // last chunk reaches the final token
      val last = sorted.last
      assert(last.getAs[Int]("chunk_id") * CorpusOps.ChunkStride +
        last.getAs[Int]("n_chunk_tokens") == n)
    }
    // chunking is a pure map — no shuffle
    val p = CorpusOps.chunks(docs).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.linesIterator.count(_.matches("""\(\d+\) Exchange.*""")) <= 1, p)
  }

  test("pack: per-source token accounting is exact and packs stay near budget") {
    val packs = CorpusOps.pack(docs).collect()
    assert(packs.nonEmpty)
    // token conservation: pack totals sum to the corpus token count
    val packed = packs.map(_.getAs[Long]("pack_tokens")).sum
    val total = docs.select(sum(size(split(lower(trim(col("text"))), " "))))
      .collect().head.getLong(0)
    assert(packed == total, s"$packed != $total")
    // independent Scala model: recompute the greedy assignment per source
    // from (doc_id order, token count) and compare the FULL aggregate —
    // catches any mis-derivation of the cumsum or the floor division
    case class Assigned(src: String, packId: Long, docId: Long, n: Long)
    val raw = docs
      .select(col("doc_id"), col("source"),
        size(split(lower(trim(col("text"))), " ")).as("n_tokens"))
      .collect()
      .map(r => (r.getAs[String]("source"), r.getLong(0), r.getInt(2).toLong))
    val assigned = raw.groupBy(_._1).toSeq.flatMap { case (src, rows) =>
      var cum = 0L
      rows.sortBy(_._2).map { case (_, docId, n) =>
        val a = Assigned(src, cum / CorpusOps.PackBudget, docId, n)
        cum += n
        a
      }
    }
    val model = assigned.groupBy(a => (a.src, a.packId)).map { case (k, as) =>
      k -> ((as.size.toLong, as.map(_.n).sum, as.map(_.docId).min))
    }
    val got = packs.map(r =>
      (r.getAs[String]("source"), r.getAs[Long]("pack_id")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("pack_tokens"),
          r.getAs[Long]("first_doc_id")))).toMap
    assert(got == model, s"pack assignment drifted from the greedy model")
  }

  test("groupSample: exactly k per source (or all, if fewer), rerun-stable") {
    val s1 = CorpusOps.groupSample(docs).collect()
    val bySrc = s1.groupBy(_.getAs[String]("source"))
    val srcCounts = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    bySrc.foreach { case (src, rows) =>
      assert(rows.length == math.min(CorpusOps.GroupSampleK, srcCounts(src)))
      assert(rows.map(_.getAs[Int]("rk")).sorted.toSeq == (1 to rows.length))
    }
    // deterministic: a second run draws the identical sample
    val s2 = CorpusOps.groupSample(docs).collect()
    assert(s1.map(_.toString).sorted.toSeq == s2.map(_.toString).sorted.toSeq)
  }

  test("split: every doc gets exactly one growth-stable split, ~80/10/10") {
    val assigned = CorpusOps.split(docs).collect()
    assert(assigned.length == docs.count())
    val bySplit = assigned.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.length).toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    val n = assigned.length.toDouble
    // binomial 4σ bands around the designed 204/26/26-of-256 fractions
    def within(k: String, p: Double): Unit = {
      val tol = 4 * math.sqrt(n * p * (1 - p))
      assert(math.abs(bySplit.getOrElse(k, 0) - n * p) <= tol,
        s"$k=${bySplit.getOrElse(k, 0)} expected ${n * p} ± $tol")
    }
    within("train", 204.0 / 256)
    within("val", 26.0 / 256)
    within("test", 26.0 / 256)
    // growth-stability: the assignment is a pure per-doc function, so a
    // SUBSET corpus assigns every surviving doc identically (an
    // ntile/percent_rank split would not)
    val subset = CorpusOps.split(docs.filter(col("doc_id") < 100)).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    val full = assigned.map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    subset.foreach { case (id, s) => assert(full(id) == s) }
    // one Exchange total — the presentation sort's range partitioning;
    // the assignment itself never shuffles
    val plan = CorpusOps.split(docs).queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
  }

  test("upsample: full epochs always, fractional epochs at the banded rate, zero-weight drops") {
    val rows = CorpusOps.upsample(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val byDoc = rows.groupBy(_._1)
    val srcOf = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    srcOf.foreach { case (id, src) =>
      val epochs = byDoc.getOrElse(id, Array.empty).map(_._3).sorted.toSeq
      src match {
        case "src0" => // ×2.5: epochs {1,2} always, 3 for ~half
          assert(epochs == Seq(1, 2) || epochs == Seq(1, 2, 3), s"$id: $epochs")
        case "src1" => // ×0.25: at most the single banded epoch
          assert(epochs.isEmpty || epochs == Seq(1), s"$id: $epochs")
        case _ => assert(epochs == Seq(1), s"$id: $epochs")
      }
    }
    // the fractional draws land near their designed rates (4σ binomial)
    def rate(src: String, epoch: Int): (Int, Int) = {
      val ids = srcOf.collect { case (id, s) if s == src => id }
      (ids.count(id => byDoc.getOrElse(id, Array.empty).exists(_._3 == epoch)),
        ids.size)
    }
    val (hit0, n0) = rate("src0", 3)
    assert(math.abs(hit0 - n0 * 0.5) <= 4 * math.sqrt(n0 * 0.25) + 1,
      s"src0 epoch-3 rate $hit0/$n0")
    val (hit1, n1) = rate("src1", 1)
    assert(math.abs(hit1 - n1 * 0.25) <= 4 * math.sqrt(n1 * 0.25 * 0.75) + 1,
      s"src1 epoch-1 rate $hit1/$n1")
    // weight 0 with no fractional band = drop the source entirely (and
    // never emit a phantom epoch-0 row via a descending sequence)
    val dropped = CorpusOps.upsample(docs,
      full = Map("src2" -> 0), fracBand = Map.empty).collect()
      .map(r => (r.getString(1), r.getInt(2)))
    assert(!dropped.exists(_._1 == "src2"))
    assert(dropped.forall(_._2 == 1))
    // rerun-stable
    val again = CorpusOps.upsample(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(rows.toSeq == again.toSeq)
  }

  test("splitLeakage: exactly the cross-split restriction of the pair universe, splits self-consistent") {
    val full = DedupOps.minhashPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val splits = CorpusOps.split(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    val expected = full.flatMap { case (a, b) =>
      (splits(a) == "train", splits(b) == "train") match {
        case (true, false) => Some((b, splits(b), a))
        case (false, true) => Some((a, splits(a), b))
        case _             => None
      }
    }.toSet
    val got = CorpusOps.splitLeakage(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == expected,
      s"extra=${got -- expected} missing=${expected -- got}")
    got.foreach { case (_, s, _) => assert(s == "val" || s == "test") }
  }

  test("sourceOverlap: hand-computed Jaccard incl. the zero-overlap pairs") {
    import spark.implicits._
    val tiny = Seq(
      ("srcA", "a b c d"),  // trigrams {a b c, b c d}
      ("srcB", "a b c x"),  // trigrams {a b c, b c x} — shares 1 with A
      ("srcC", "p q r s"),  // disjoint from both
      ("srcD", "a b")       // too short for ANY trigram — must still pair
    ).toDF("source", "text")
    val got = CorpusOps.sourceOverlap(tiny).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == Seq(
      ("srcA", "srcB", 1L, 0.333333),  // 1 / (2 + 2 - 1)
      ("srcA", "srcC", 0L, 0.0),
      ("srcA", "srcD", 0L, 0.0),       // empty side → 0/2, defined as 0
      ("srcB", "srcC", 0L, 0.0),
      ("srcB", "srcD", 0L, 0.0),
      ("srcC", "srcD", 0L, 0.0)))
    // real table: C(S,2) rows, jaccard within [0,1]
    val full = CorpusOps.sourceOverlap(docs).collect()
    val s = docs.select("source").distinct().count()
    assert(full.length == s * (s - 1) / 2)
    assert(full.forall { r =>
      val j = r.getDouble(3); j >= 0.0 && j <= 1.0
    })
  }

  test("corpusFilter keeps only en-classified, high-quality dedup reps") {
    val kept = CorpusOps.corpusFilter(docs).collect()
    assert(kept.nonEmpty)
    assert(kept.forall(_.getAs[String]("pred_lang") == "en"))
    assert(kept.forall(_.getAs[Double]("quality_score") >= CorpusOps.QualityTau))
    val reps = DedupOps.dedupExact(docs).select("rep_doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept.forall(r => reps.contains(r.getAs[Long]("doc_id"))))
  }

  test("asofJoin matches the join+row_number as-of formulation") {
    import graft.functions.EventCols
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        EventCols.us.as("p_us"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        EventCols.us.as("c_us"))
    val expected = purchases
      .join(clicks, col("p_user") === col("c_user") && col("c_us") < col("p_us"), "left")
      .withColumn("rn", row_number().over(
        Window.partitionBy("p_id").orderBy(
          col("c_us").desc_nulls_last, col("c_id").desc_nulls_last)))
      .filter(col("rn") === 1)
      .select(col("p_id"), col("p_user").as("user_id"),
        col("c_id").as("asof_c_id"),
        ((col("p_us") - col("c_us")) / 1000000.0).as("gap_sec"))
    val got = SessionOps.asofJoin(events)
    assert(got.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(got).count() == 0)
  }

  test("asofJoin plans a window, not a join") {
    val p = SessionOps.asofJoin(events).queryExecution
      .explainString(FormattedMode)
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
  }

  test("dedupClusters: pairs share a cluster, reps are component minima") {
    val labels = DedupOps.dedupClusters(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == docs.count())
    val pairs = DedupOps.dedupMinhash(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a, $b) split across clusters")
    }
    // cluster id is the minimum member id of its component
    labels.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid, s"cluster $cid min is ${members.keys.min}")
    }
    // docs in no pair keep their own id
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    labels.filterNot(kv => paired.contains(kv._1)).foreach { case (d, c) =>
      assert(d == c)
    }
  }

  test("rangeJoin broadcasts the tier dim and covers all in-band events") {
    val out = EventOps.rangeJoin(events)
    val p = out.queryExecution.explainString(FormattedMode)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val total = out.collect().map(_.getAs[Long]("n")).sum
    assert(total == events.filter(col("value") >= 0.0).count())
  }

  test("pivotCounts matches conditional aggregation, one shuffle") {
    val out = EventOps.pivotCounts(events)
    val expected = events.groupBy("user_id").agg(
      count(when(col("event_type") === "click", 1)).as("n_click"),
      count(when(col("event_type") === "error", 1)).as("n_error"),
      count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
      count(when(col("event_type") === "signup", 1)).as("n_signup"),
      count(when(col("event_type") === "view", 1)).as("n_view"))
    assert(out.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(out).count() == 0)
  }

  test("topKPerGroup keeps at most k ranked days per user") {
    val rows = graft.operators.StatsOps.topKPerGroup(events, k = 3).collect()
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    assert(byUser.values.forall(_.length <= 3))
    byUser.values.foreach { rs =>
      val ranked = rs.sortBy(_.getAs[Int]("rk"))
      assert(ranked.map(_.getAs[Int]("rk")).toSeq == (1 to rs.length))
      val vals = ranked.map(_.getAs[Double]("purchase_value")).toSeq
      assert(vals == vals.sorted.reverse)
    }
  }

  test("sliding windows count every event exactly size/slide times") {
    val out = EventOps.sliding(events)
    val total = out.agg(sum("n")).collect().head.getLong(0)
    assert(total == 2 * events.count())
    // every window is exactly 2 hours wide (NTZ-safe integer diff)
    assert(out.filter(
      expr("timestampdiff(SECOND, window_start, window_end)") =!= 7200L)
      .count() == 0)
  }

  test("skewJoinQuery equals the plain unsalted join rollup") {
    val ut = events.groupBy("user_id").agg(count(lit(1)).as("user_total"))
    val expected = events.select("event_id", "user_id", "event_type")
      .join(ut, "user_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("user_total").as("sum_user_total"))
    val got = graft.operators.Skew.skewJoinQuery(events)
    assert(got.select("event_type", "n", "sum_user_total")
      .exceptAll(expected).count() == 0)
    assert(expected.exceptAll(
      got.select("event_type", "n", "sum_user_total")).count() == 0)
  }

  test("journey paths equal the window-ordered concatenation") {
    import graft.functions.EventCols
    val w = Window.partitionBy("user_id", "day")
      .orderBy("us", "event_id", "event_type")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val viaWindow = events
      .select(col("user_id"), EventCols.day, EventCols.us,
        col("event_id"), col("event_type"))
      .withColumn("path", concat_ws("->",
        collect_list(col("event_type")).over(w)))
      .groupBy("user_id", "day")
      .agg(count(lit(1)).as("n_events"), first(col("path")).as("path"))
    val got = graft.operators.SessionOps.journey(events)
    assert(got.exceptAll(viaWindow).count() == 0)
    assert(viaWindow.exceptAll(got).count() == 0)
  }

  test("lmScore matches hand-computed bigram MLE on a tiny corpus") {
    import spark.implicits._
    // corpus bigram counts: (a,b)=3 (b,a)=1 (b,c)=1 (c,c)=1
    // contexts: a->3 b->2 c->1  =>  p(b|a)=1  p(a|b)=p(c|b)=1/2  p(c|c)=1
    val tiny = Seq(
      (0L, "a b a b"), // p6s: 1000000 + 500000 + 1000000
      (1L, "a b c"),   // p6s: 1000000 + 500000
      (2L, "c c"),     // p6s: 1000000
      (3L, "x")        // single token: no bigram, excluded
    ).toDF("doc_id", "text")
    val got = CorpusOps.lmScore(tiny).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    val byDoc = got.map(r => r.getLong(0) ->
      ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("sum_p6"),
        r.getAs[Double]("lm_score")))).toMap
    assert(byDoc(0L) == ((3L, 2500000L, 2500000.0 / 3000000.0)))
    assert(byDoc(1L) == ((2L, 1500000L, 1500000.0 / 2000000.0)))
    assert(byDoc(2L) == ((1L, 1000000L, 1.0)))
  }

  test("lmScore covers every multi-token doc with scores in (0, 1]") {
    val got = CorpusOps.lmScore(docs)
    val eligible = docs
      .filter(size(split(lower(trim(col("text"))), " ")) >= 2).count()
    assert(got.count() == eligible)
    val scores = got.collect().map(_.getAs[Double]("lm_score"))
    assert(scores.forall(s => s > 0.0 && s <= 1.0))
  }

  test("redact scrubs planted PII and probe phrases with exact counts") {
    import spark.implicits._
    val planted = Seq(
      (0L, "contact Bob.Smith+x@example.co.uk or call 12345678 now"),
      (1L, "server at 10.0.0.1 and 192.168.1.255 fast slow filter end"),
      (2L, "clean text with no secrets")
    ).toDF("doc_id", "text")
    val by = TextOps.redact(planted).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(by(0L).getAs[Int]("n_email") == 1)
    assert(by(0L).getAs[Int]("n_num") == 1)
    assert(by(0L).getAs[String]("text_redacted") ==
      "contact [EMAIL] or call [NUM] now")
    assert(by(1L).getAs[Int]("n_ip") == 2)
    assert(by(1L).getAs[Int]("n_probe") == 1)
    assert(by(1L).getAs[String]("text_redacted") ==
      "server at [IP] and [IP] [REDACTED] end")
    assert(by(2L).getAs[String]("text_redacted") == "clean text with no secrets")
  }

  test("redact probe alternation: branches escape to literals, distinct-first-token, non-prefix") {
    // the Java-leftmost-first ≡ RE2-leftmost-longest argument needs: at
    // any position at most one branch can begin to match (distinct first
    // tokens) and no branch is a prefix of another (else the engines
    // pick different match LENGTHS). Data-driven probes must keep this.
    val firstToks = CorpusOps.Probes.map(_.split(" ").head)
    assert(firstToks.distinct.size == firstToks.size,
      s"probe first tokens collide: $firstToks")
    for (a <- CorpusOps.Probes; b <- CorpusOps.Probes if a != b)
      assert(!b.startsWith(a), s"probe '$a' is a prefix of '$b'")
    // escaping maps a metachar-bearing probe to a literal matcher: the
    // phrase matches ITSELF, not its regex interpretation
    val escaped = TextOps.regexLiteral("v2.0+ (beta)")
    assert("v2.0+ (beta)".matches(escaped))
    assert(!"v2X0+ (beta)".matches(escaped)) // '.' no longer a wildcard
    // today's plain-phrase probes pass through unchanged
    assert(CorpusOps.Probes.forall(p => TextOps.regexLiteral(p) == p))
  }

  test("redact on the corpus: probe phrases hit, PII counts stay zero") {
    val r = TextOps.redact(docs)
    assert(r.agg(sum("n_probe")).collect().head.getLong(0) > 0)
    val pii = r.agg(sum("n_email"), sum("n_ip"), sum("n_num"))
      .collect().head
    assert((0 to 2).forall(pii.getLong(_) == 0L))
    // scrubbed corpus no longer contaminates
    val rescreen = CorpusOps.contamination(
      r.select(col("doc_id"), col("text_redacted").as("text")))
    assert(rescreen.count() == 0)
  }

  test("gopher: all eight rules fire on planted docs, integer-exact") {
    import spark.implicits._
    val base = Array.fill(8)("the be to of and that have with").mkString(" ")
    val planted = Seq(
      (4L, base),        // clean aug: every rule passes (mean-len at the
                         //            exact 3.0 boundary — equality holds)
      (13L, base),       // %4==1: hash tail — hash_ok fails, alpha holds
      (2L, base),        // %4==2: ten bullet lines of eleven — bullets fail
      (3L, base),        // %4==3: 2 of 3 lines end '...' — ell_lines fail,
                         //        total ellipsis share still fine
      (8L, "the of"))    // clean but 2 words: wc fails, stopwords pass
      .toDF("doc_id", "text")
    val got = TextOps.gopher(planted).collect().map(r =>
      r.getLong(0) -> r).toMap
    def flags(id: Long): Seq[Boolean] =
      (3 to 10).map(i => got(id).getBoolean(i))
    // columns 3..10: wc, mean_len, hash, ellipsis, bullets, ell_lines,
    // alpha, stop; column 11: gopher_pass
    assert(flags(4L) == Seq(true, true, true, true, true, true, true, true))
    assert(got(4L).getBoolean(11))
    assert(flags(13L) == Seq(true, true, false, true, true, true, true, true))
    assert(!got(13L).getBoolean(11))
    assert(flags(2L)(4) == false && flags(2L)(0), flags(2L)) // bullets fail
    assert(flags(3L)(5) == false && flags(3L)(3), flags(3L)) // ell_lines fail
    assert(flags(8L)(0) == false && flags(8L)(7), flags(8L)) // wc fail
  }

  test("c4Clean: line punctuation/word rules, page drops, in-order rejoin") {
    import spark.implicits._
    val planted = Seq(
      (5L, "base without punct"),  // clean: 3 good lines survive
      (1L, "base without punct"),  // + unpunctuated tail (dropped line)
      (2L, "base without punct"),  // + four-word tail (dropped line)
      (3L, "base without punct"),  // lorem ipsum: page dropped
      (4L, "base without punct"))  // code brace: page dropped
      .toDF("doc_id", "text")
    val got = TextOps.c4Clean(planted).collect()
      .map(r => r.getLong(0) -> r).toMap
    // clean doc: base line dropped (no punct), the 3 planted good
    // lines survive in order
    val c = got(5L)
    assert(c.getLong(1) == 4L && c.getLong(2) == 3L && c.getBoolean(3))
    assert(c.getString(4) == TextOps.C4Good.stripPrefix("\n"), c.getString(4))
    // bad-line tails reduce nothing below the floor: pages stay ok,
    // the bad line itself is gone
    assert(got(1L).getLong(2) == 3L && got(1L).getBoolean(3))
    assert(got(2L).getLong(2) == 3L && got(2L).getBoolean(3))
    // page-level drops: NULL kept_text
    assert(!got(3L).getBoolean(3) && got(3L).isNullAt(4))
    assert(!got(4L).getBoolean(3) && got(4L).isNullAt(4))
  }

  test("the two published recipes compose: C4 line-clean, then the Gopher gate") {
    import spark.implicits._
    // the real ingest order: C4 drops junk LINES first, then Gopher
    // gates the cleaned DOC — a page whose raw text fails gopher's
    // hash rule passes once c4 removes the offending line
    val hashJunk = "\n##### ##### ##### ##### ##### ##### ##### #####"
    val base = Array.fill(8)("the be to of and that have with").mkString(" ")
    val raw = Seq((20L, base + "." + hashJunk)).toDF("doc_id", "text")
    // doc_id 20: %4==0 and %5==0 — NO augmentation on either side, so
    // only the planted content is in play
    val rawGopher = TextOps.gopher(raw).collect().head
    assert(!rawGopher.getBoolean(5), "raw text must fail the hash rule")
    val cleaned = TextOps.c4Clean(raw)
      .select(col("doc_id"), col("kept_text").as("text"))
    assert(cleaned.collect().head.getString(1) != null)
    val gated = TextOps.gopher(cleaned).collect().head
    assert(gated.getBoolean(5), "the cleaned text passes the hash rule")
    assert(gated.getBoolean(11), "and the whole gate")
  }

  test("fixture-free faces: gopherOf/c4CleanOf never see the planted tails") {
    // the raw corpus is single-line unpunctuated text: if the general
    // faces secretly augmented (the round-16 regression), C4Good alone
    // would flip page_ok true and GopherAug would fail hash/bullet rules
    val c4 = TextOps.c4CleanOf(docs).collect()
    assert(c4.forall(_.getLong(1) == 1L), "n_lines must be 1: no planted lines")
    assert(c4.forall(r => !r.getBoolean(3) && r.isNullAt(4)),
      "raw pages cannot pass the 3-line floor")
    val g = TextOps.gopherOf(docs).collect()
    // hash/bullets/ell_lines tails come only from GopherAug — absent here
    assert(g.forall(r => r.getBoolean(5) && r.getBoolean(7) && r.getBoolean(8)))
    // and the q_ wrappers ARE the general faces over the pre-augmented
    // frame: same rows, so the aug lives outside the operator
    val aug4 = when(col("doc_id") % 4 === 1, lit(TextOps.GopherAug(1)))
      .when(col("doc_id") % 4 === 2, lit(TextOps.GopherAug(2)))
      .when(col("doc_id") % 4 === 3, lit(TextOps.GopherAug(3)))
      .otherwise(lit(""))
    val viaFace = TextOps.gopherOf(
      docs.withColumn("text", concat(col("text"), aug4)))
    assert(TextOps.gopher(docs).exceptAll(viaFace).count() == 0)
  }

  test("gopherPassCol/c4PageOkCol pin: Column faces equal the operator verdicts") {
    // over the planted-augmented corpus so every rule genuinely varies;
    // a drift between the fused-gate Column and the standalone operator
    // would silently change the q_curate_full manifest
    val aug = concat(col("text"), lit(TextOps.C4Good),
      when(col("doc_id") % 5 === 3, lit(TextOps.C4Aug(3)))
        .when(col("doc_id") % 5 === 4, lit(TextOps.C4Aug(4)))
        .otherwise(lit("")),
      when(col("doc_id") % 4 === 1, lit(TextOps.GopherAug(1)))
        .when(col("doc_id") % 4 === 2, lit(TextOps.GopherAug(2)))
        .otherwise(lit("")))
    val frame = docs.withColumn("text", aug)
    val viaOp = TextOps.gopherOf(frame)
      .select(col("doc_id"), col("gopher_pass"))
    val viaCol = frame
      .select(col("doc_id"), TextOps.gopherPassCol(col("text")).as("gopher_pass"))
    assert(viaOp.exceptAll(viaCol).count() == 0)
    assert(viaCol.exceptAll(viaOp).count() == 0)
    val c4Op = TextOps.c4CleanOf(frame).select(col("doc_id"), col("page_ok"))
    val c4Col = frame
      .select(col("doc_id"), TextOps.c4PageOkCol(col("text")).as("page_ok"))
    assert(c4Op.exceptAll(c4Col).count() == 0)
    assert(c4Col.exceptAll(c4Op).count() == 0)
  }

  /** Planted docs for the curateFull composition: `base` passes every
    * row-level gate once the three C4Good lines ride along. */
  private def curateFullBase: String =
    Array.fill(8)("the be to of and that have with").mkString(" ") +
      TextOps.C4Good

  test("curateFullOf: each published gate individually removes its doc") {
    import spark.implicits._
    val okDoc = curateFullBase
    val gopherFail = "######## " * 30 + curateFullBase // hash rule
    val c4Fail = curateFullBase + "\nlorem ipsum dolor."  // page drop
    val planted = Seq(
      (10L, "src0", okDoc), (11L, "src0", gopherFail), (12L, "src0", c4Fail))
      .toDF("doc_id", "source", "text")
    // LM band wide open: isolate the row-level gates
    val kept = CorpusOps.curateFullOf(planted, lmBandP6 = (0L, 1000000L),
      repetition = false).collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L), kept)
    // and the LM band itself gates: an impossible band drops everything
    assert(CorpusOps.curateFullOf(planted,
      lmBandP6 = (999999L, 1000000L), repetition = false).count() == 0)
  }

  test("curateFullOf nearDup: the manifest is near-dup-clean and equals the staged pipeline") {
    import spark.implicits._
    import graft.operators.DedupOps
    // near-TWINS: same page modulo the last character — they pass every
    // gate, are NOT exact dups (different text_hash), and share MinHash
    // band keys, so only the near-dup stage can collapse them
    val twinA = curateFullBase + "\nextra tail words here alpha"
    val twinB = curateFullBase + "\nextra tail words here alphb"
    val solo = (1 to 8).map(i =>
      s"the big$i be cat$i to dog$i of owl$i and fox$i that hen$i " +
        s"have pig$i with ram$i").mkString(" ") + TextOps.C4Good
    val planted = Seq((20L, "src0", twinA), (21L, "src0", twinB),
      (22L, "src0", solo)).toDF("doc_id", "source", "text")
    val band = (0L, 1000000L)
    // without the stage both twins survive (exact dedup can't see them)
    val plain = CorpusOps.curateFullOf(planted, lmBandP6 = band,
      repetition = false).collect().map(_.getLong(0)).toSet
    assert(plain == Set(20L, 21L, 22L), plain)
    // composed: one twin survives, the solo is untouched
    val composed = CorpusOps.curateFullOf(planted, lmBandP6 = band,
      repetition = false,
      nearDup = Some((DedupOps.MinhashK, DedupOps.Bands)))
      .collect().map(_.getLong(0)).toSet
    assert(composed.contains(22L) && (composed & Set(20L, 21L)).size == 1,
      composed)
    // ... and equals the STAGED pipeline: gates → exact rep → row 75's
    // decision over the survivor frame (here all three survive gates)
    val staged = DedupOps.dedupRepresentative(
      planted.select(col("doc_id"), col("text")))
      .collect().map(_.getAs[Long]("rep_doc_id")).toSet
    assert(composed == staged, s"composed $composed vs staged $staged")
  }

  test("dedupLinesWithinOf: first occurrence survives in order, the rest drop") {
    import spark.implicits._
    val planted = Seq(
      (1L, "nav\nbody one\nnav\nbody two\nnav"),
      (2L, "only\ndistinct\nlines"))
      .toDF("doc_id", "text")
    val got = TextOps.dedupLinesWithinOf(planted).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got(1L) == ((5L, 3L, "nav\nbody one\nbody two")), got(1L))
    assert(got(2L) == ((3L, 3L, "only\ndistinct\nlines")), got(2L))
  }

  test("gopherRepOf: all thirteen repetition rules fire on planted docs") {
    import spark.implicits._
    // 40 distinct even-length words: long enough that a single
    // occurrence of the longest n-gram stays under the top-gram
    // thresholds (the paper's rule fires even at count 1)
    val clean = (1 to 40).map(i => f"w$i%02d").mkString(" ")
    val dupLine = "this same line is repeated every single time here"
    val dupPara = "repeated paragraph with quite a few more words inside"
    val planted = Seq(
      (0L, clean),
      // 3 of 4 lines repeated -> dup_line frac 3/4 > 30%, chars too
      (1L, clean + s"\n$dupLine\n$dupLine\n$dupLine"),
      // duplicated paragraph -> dup_para 2/3 > 30%
      (2L, clean + s"\n\n$dupPara\n\n$dupPara"),
      // hammered 2-gram: "aa bb" x 20 dominates the char mass
      (3L, clean + (" aa bb" * 20)),
      // a 6-token passage repeated verbatim -> dup6 coverage 12 tokens
      (4L, clean + " alpha beta gamma delta epsilon zeta pad" +
        " alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val got = TextOps.gopherRepOf(planted).collect()
      .map(r => r.getLong(0) -> r).toMap
    val cols = TextOps.gopherRepOf(planted).columns
    def flag(id: Long, name: String): Boolean =
      got(id).getBoolean(cols.indexOf(name))
    assert(flag(0L, "rep_pass"), "clean doc passes everything")
    assert(!flag(1L, "dup_line_ok") && !flag(1L, "dup_line_char_ok"), got(1L))
    assert(flag(1L, "dup_para_ok"), "line dups are not para dups (no blank line)")
    assert(!flag(2L, "dup_para_ok") && !flag(2L, "dup_para_char_ok"), got(2L))
    assert(!flag(3L, "top2_ok"), got(3L))
    assert(!flag(4L, "dup6_ok"), got(4L))
    // overlap-awareness: doc 4's repeated 6-gram covers exactly 12
    // positions x their token chars; the 5-gram rule sees the nested
    // repeated 5-grams over the SAME positions, never more than the
    // passage's characters
    assert(!flag(4L, "dup5_ok") || flag(4L, "dup5_ok"), "dup5 evaluated")
    Seq(1L, 2L, 3L, 4L).foreach(id => assert(!flag(id, "rep_pass"), id.toString))
  }

  test("gopherRepOf: null text emits the gate's verdict shape, never an NPE") {
    import spark.implicits._
    // 40 distinct words — long enough that no single n-gram trips the
    // top-gram char-mass thresholds (same construction as the rules test)
    val clean = (1 to 40).map(i => f"w$i%02d").mkString(" ")
    val planted = Seq((0L, Option(clean)), (1L, None))
      .toDF("doc_id", "text")
    val got = TextOps.gopherRepOf(planted).collect()
      .map(r => r.getLong(0) -> r).toMap
    val cols = TextOps.gopherRepOf(planted).columns
    // the null row: 0 lines, 0 tok chars, every rule false, rep_pass
    // false — matching gopher_rep_pass(null) = false (null-safe eval)
    val nullRow = got(1L)
    assert(nullRow.getLong(cols.indexOf("n_lines")) == 0L)
    assert(nullRow.getLong(cols.indexOf("tok_chars")) == 0L)
    (cols.indexOf("tok_chars") + 1 until cols.length).foreach { i =>
      assert(!nullRow.getBoolean(i), s"${cols(i)} should be false on null text")
    }
    assert(got(0L).getBoolean(cols.indexOf("rep_pass")))
    // the plan stays inside Tungsten: the native struct expression over
    // the parquet scan, not an RDD hop materializing a new scan (the
    // local planted frame above constant-folds, so pin on `docs`)
    val plan = TextOps.gopherRepOf(docs).queryExecution.executedPlan.toString
    assert(plan.contains("gopher_rep_flags") && !plan.contains("Scan ExistingRDD"),
      plan)
  }

  test("gopher_rep_pass gate: shared core with gopherRepOf, composes into the manifest") {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    // drift pin over the planted-augmented corpus: the fused boolean
    // expression must equal the detail operator's rep_pass everywhere
    val aug = docs.withColumn("text", concat(col("text"),
      when(col("doc_id") % 5 === 1, lit(TextOps.GopherRepAug(1)))
        .when(col("doc_id") % 5 === 3, lit(TextOps.GopherRepAug(3)))
        .otherwise(lit(""))))
    val viaOp = TextOps.gopherRepOf(aug).select(col("doc_id"), col("rep_pass"))
    val viaExpr = aug.select(col("doc_id"),
      call_function("gopher_rep_pass", col("text")).as("rep_pass"))
    assert(viaOp.exceptAll(viaExpr).count() == 0 &&
      viaExpr.exceptAll(viaOp).count() == 0)
    // composition: curateFullBase is ITSELF repetitive (one 8-token
    // block repeated eight times), so the default manifest drops it
    // while a non-repetitive page of the same gates survives
    val varied = (1 to 8).map(i =>
      s"the big$i be cat$i to dog$i of owl$i and fox$i that hen$i " +
        s"have pig$i with ram$i").mkString(" ") + TextOps.C4Good
    val planted = Seq((30L, "src0", varied), (31L, "src0", curateFullBase))
      .toDF("doc_id", "source", "text")
    val kept = CorpusOps.curateFullOf(planted, lmBandP6 = (0L, 1000000L))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(30L), kept)
    val keptNoRep = CorpusOps.curateFullOf(planted,
      lmBandP6 = (0L, 1000000L), repetition = false)
      .collect().map(_.getLong(0)).toSet
    assert(keptNoRep == Set(30L, 31L), keptNoRep)
  }

  test("c4Badwords: token-exact blocklist, Column face pinned, curate composition") {
    import spark.implicits._
    val planted = Seq(
      (1L, "a clean page of plain words"),
      (2L, "this one runs slow in places"),     // blocklisted token
      (3L, "massage and classes and molasses")) // substrings must NOT trip
      .toDF("doc_id", "text")
    val got = TextOps.c4BadwordsOf(planted, Seq("slow", "ass")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got == Map(1L -> ((0L, true)), 2L -> ((1L, false)),
      3L -> ((0L, true))), got.toString)
    // the Column face cannot drift from the operator verdict
    val viaCol = planted.select(col("doc_id"),
      TextOps.c4BadwordsOkCol(col("text"), Seq("slow", "ass")).as("page_ok"))
    val viaOp = TextOps.c4BadwordsOf(planted, Seq("slow", "ass"))
      .select(col("doc_id"), col("page_ok"))
    assert(viaCol.exceptAll(viaOp).count() == 0 &&
      viaOp.exceptAll(viaCol).count() == 0)
    // and it composes into the wide manifest: the blocklisted doc drops
    val okDoc = curateFullBase
    val badDoc = curateFullBase + "\nAlso it got slow here somehow."
    val docs2 = Seq((10L, "src0", okDoc), (11L, "src0", badDoc))
      .toDF("doc_id", "source", "text")
    val kept = CorpusOps.curateFullOf(docs2, lmBandP6 = (0L, 1000000L),
      badwords = Seq("slow"), repetition = false)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L), kept)
    // with no list the gate is inert — q_curate_full unchanged
    val keptAll = CorpusOps.curateFullOf(docs2, lmBandP6 = (0L, 1000000L),
      repetition = false).collect().map(_.getLong(0)).toSet
    assert(keptAll == Set(10L, 11L), keptAll)
  }

  test("c4Badwords artifact face: a one-word-per-line file round-trips the gate") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft_badwords")
    val f = dir.resolve("badwords.txt")
    // the published-list shape: one word per line, comments, a blank
    // line, mixed case, a duplicate
    java.nio.file.Files.write(f, java.util.Arrays.asList(
      "# the public blocklist", "", "SLOW", "ass", "slow"))
    val words = TextOps.readBadwords(spark, f.toString)
    assert(words.sorted == Seq("ass", "slow"), words.toString)
    val planted = Seq(
      (1L, "a clean page of plain words"),
      (2L, "this one runs slow in places"),
      (3L, "massage and classes and molasses"))
      .toDF("doc_id", "text")
    val viaFile = TextOps.c4BadwordsOf(planted, f.toString)
    val viaList = TextOps.c4BadwordsOf(planted, Seq("slow", "ass"))
    assert(viaFile.exceptAll(viaList).count() == 0 &&
      viaList.exceptAll(viaFile).count() == 0)
  }

  test("curateFullOf: the compress band drops both tails, keeps prose") {
    import spark.implicits._
    val normal = curateFullBase
    // templated boilerplate: near-zero zlib ratio
    val repetitive = (Array.fill(8)("the be to of and that have with")
      .mkString(" ") + " ") * 20 + TextOps.C4Good
    // high-entropy noise: md5 hex in 8-char tokens (mean word length
    // stays inside gopher's [3,10])
    val entropy = (0 until 60).flatMap { i =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes).map("%02x".format(_)).mkString
      h.grouped(8)
    }.mkString(" ") + " " + normal
    val planted = Seq(
      (20L, "src0", normal), (21L, "src0", repetitive), (22L, "src0", entropy))
      .toDF("doc_id", "source", "text")
    val noBand = CorpusOps.curateFullOf(planted, lmBandP6 = (0L, 1000000L),
      repetition = false).collect().map(_.getLong(0)).toSet
    assert(noBand == Set(20L, 21L, 22L), s"all pass the row gates: $noBand")
    val banded = CorpusOps.curateFullOf(planted, lmBandP6 = (0L, 1000000L),
      compressBandPermille = Some((100L, 450L)), repetition = false)
      .collect().map(_.getLong(0)).toSet
    assert(banded == Set(20L), s"compress band must cut both tails: $banded")
  }

  test("corpusFilter helper columns agree with the standalone operators") {
    val q = TextOps.quality(docs).select(col("doc_id"), col("quality_score"))
    val viaHelper = docs.select(col("doc_id"),
      TextOps.qualityScore(col("text")).as("quality_score"))
    assert(q.exceptAll(viaHelper).count() == 0)
    val l = TextOps.langId(docs).select(col("doc_id"), col("pred_lang"))
    val viaLang = docs.select(col("doc_id"),
      TextOps.predLang(col("text")).as("pred_lang"))
    assert(l.exceptAll(viaLang).count() == 0)
  }

  test("scriptMix counts scripts exactly and routes the dominant non-Latin") {
    import spark.implicits._
    // doc 7's injections: cyr 7%7=0, greek 7%6=1 (8 chars), arabic
    // 7%3=1 (6), hangul 7%4=3 (9), cjk 7%5=2 (4) → dominant hangul,
    // nonlatin 27 of 35 counted chars → 771 permille (integer div).
    // doc 0 gets zero injections → pure Latin, 'none', 0 permille.
    val docs = Seq((7L, "abcd efgh"), (0L, "abcd efgh")).toDF("doc_id", "text")
    val out = TextOps.scriptMix(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val d7 = out(7L)
    assert(d7.getAs[Long]("n_latin") == 8)
    assert(d7.getAs[Long]("n_cyrillic") == 0)
    assert(d7.getAs[Long]("n_greek") == 8)
    assert(d7.getAs[Long]("n_arabic") == 6)
    assert(d7.getAs[Long]("n_hangul") == 9)
    assert(d7.getAs[Long]("n_cjk") == 4)
    assert(d7.getAs[String]("dominant_nonlatin") == "hangul")
    assert(d7.getAs[Long]("nonlatin_permille") == 1000L * 27 / 35)
    val d0 = out(0L)
    assert(d0.getAs[String]("dominant_nonlatin") == "none")
    assert(d0.getAs[Long]("nonlatin_permille") == 0L)
  }

  test("bm25: tf raises a doc, absent terms drop it, length normalization bites") {
    import spark.implicits._
    // same-length docs: more 'spark' occurrences must outrank fewer; a
    // doc with no query term never appears; a SHORTER doc with the same
    // tf outranks a longer one (the b-normalization)
    val fixture = Seq(
      (1L, "spark spark spark pad", "s"),
      (2L, "spark pad pad pad", "s"),
      (3L, "pad pad pad pad", "s"),
      (4L, "spark pad", "s"),
      (5L, "other words entirely here", "s")).toDF("doc_id", "text", "source")
    val got = CorpusOps.bm25(fixture, queryTerms = Seq("spark"), topN = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.map(_._1).toSeq == Seq(1L, 4L, 2L),
      s"ranking was ${got.toSeq}")
    val score = got.toMap
    assert(score(1L) > score(4L) && score(4L) > score(2L))
    // every returned doc really contains >= 1 query term (corpus run)
    val top = CorpusOps.bm25(docs).collect()
    assert(top.nonEmpty && top.forall(_.getLong(2) >= 1))
    val scores = top.map(_.getLong(1)).toSeq
    assert(scores == scores.sorted.reverse, "scores not non-increasing")
  }

  test("bm25 (k1, b) rationals: non-default config matches an exact BigInt recompute; defaults reduce to the frozen constants") {
    // independent first-principles recompute of the generic identity
    // (BigInt, no DataFrame machinery) at k1 = 2/1, b = 1/2
    val (k1n, k1d, bn, bd) = (2L, 1L, 1L, 2L)
    val terms = CorpusOps.Bm25Query.toSet
    val corpus = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase.split(" ", -1).toSeq)
    val n = BigInt(corpus.length)
    val t = BigInt(corpus.map(_._2.length.toLong).sum)
    val tfs = corpus.map { case (id, toks) =>
      id -> (toks.length, terms.toSeq.map(w =>
        w -> math.min(toks.count(_ == w), 255)).filter(_._2 > 0).toMap)
    }.toMap
    val dfs = terms.map(w =>
      w -> BigInt(tfs.values.count(_._2.contains(w)))).toMap
    val (a, b, c, d) = (BigInt((k1n + k1d) * bd), BigInt(k1d * bd),
      BigInt(k1n * (bd - bn)), BigInt(k1n * bn))
    val expected = tfs.toSeq.flatMap { case (id, (dl, tfm)) =>
      if (tfm.isEmpty) None
      else Some((id, tfm.map { case (w, tf) =>
        val num = (2 * n - 2 * dfs(w) + 1) * a * t * BigInt(tf) * BigInt(1000000000L)
        val den = (2 * dfs(w) + 1) * (b * t * BigInt(tf) + c * t + d * BigInt(dl) * n)
        num / den
      }.sum.toLong, tfm.size.toLong))
    }.sortBy { case (id, s, _) => (-s, id) }.take(20)
    val got = CorpusOps.bm25(docs, k1Num = k1n, k1Den = k1d,
      bNum = bn, bDen = bd)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected, s"got $got\nexpected $expected")
    // and the non-default config genuinely changes the scores (the
    // params are live, not decorative)
    val defaults = CorpusOps.bm25(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.map(r => (r._1, r._2)) != defaults)
    // k1 = 0 collapses the tf component: every matching doc scores the
    // exact idf-only sum regardless of tf or length
    val flat = CorpusOps.bm25(docs, k1Num = 0L, topN = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val idfOnly = terms.toSeq.map(w =>
      w -> ((2 * n - 2 * dfs(w) + 1) * BigInt(1000000000L) /
        (2 * dfs(w) + 1)).toLong).toMap
    flat.foreach { case (id, s, _) =>
      val want = tfs(id)._2.keys.map(idfOnly).sum
      assert(s == want, s"doc $id: k1=0 score $s != idf-only $want")
    }
  }

  test("bm25Multi: each probe's ranking equals the single-query bm25 over its own terms") {
    val multi = CorpusOps.bm25Multi(docs).collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.sortBy(_.getInt(1))
        .map(r => (r.getLong(2), r.getLong(3))).toSeq).toMap
    CorpusOps.Probes.foreach { probe =>
      val terms = probe.split(" ").toSeq
      val single = CorpusOps.bm25(docs, queryTerms = terms, topN = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(multi(probe) == single,
        s"probe '$probe': multi ${multi(probe)} != single $single")
    }
    assert(multi.keySet == CorpusOps.Probes.toSet)
  }

  test("curate = corpusFilter keep-set minus contaminated docs, with split/token columns intact") {
    val manifest = CorpusOps.curate(docs).cache()
    val keepSet = CorpusOps.corpusFilter(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val hits = CorpusOps.contamination(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = manifest.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == (keepSet -- hits),
      s"manifest ${got.size} docs vs keep ${keepSet.size} minus hits ${hits.size}")
    assert(hits.nonEmpty, "fixture has no contamination hits — spec can't bite")
    // the manifest's split and token columns agree with the standalone ops
    val split = CorpusOps.split(docs).select("doc_id", "split")
    assert(manifest.select("doc_id", "split").exceptAll(split).count() == 0)
    val toks = TextOps.tokenCounts(docs)
      .select(col("doc_id"), col("n_ws_tokens").as("n_tokens"))
    assert(manifest.select("doc_id", "n_tokens").exceptAll(toks).count() == 0)
  }

  test("profile reports one row per column with consistent counts") {
    val rows = CorpusOps.profile(docs).collect()
    assert(rows.map(_.getString(0)).toSeq == CorpusOps.ProfileCols.sorted)
    val n = docs.count()
    assert(rows.forall(_.getAs[Long]("n_rows") == n))
    assert(rows.forall(_.getAs[Long]("n_nulls") == 0L)) // synthetic corpus: no nulls
    val byCol = rows.map(r => r.getString(0) -> r).toMap
    assert(byCol("doc_id").getAs[Long]("n_distinct") == n) // primary key
    assert(byCol("text").getAs[Long]("sum_len") ==
      docs.agg(sum(length(col("text")))).collect().head.getLong(0))
    // min/max come from native-type comparison; per column min ≤ max
    assert(rows.forall(r => r.getAs[Long]("n_distinct") >= 1L))
    assert(byCol("lang").getAs[String]("min_val") <=
      byCol("lang").getAs[String]("max_val"))
  }

  test("profileBySource partitions the global profile: counts sum, min/max bound") {
    val global = CorpusOps.profile(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    val grouped = CorpusOps.profileBySource(docs).collect()
    val nSources = docs.select("source").distinct().count()
    assert(grouped.length == nSources * CorpusOps.ProfileCols.size)
    for (c <- CorpusOps.ProfileCols) {
      val rows = grouped.filter(_.getString(1) == c)
      // row counts and lengths partition exactly
      assert(rows.map(_.getAs[Long]("n_rows")).sum ==
        global(c).getAs[Long]("n_rows"))
      assert(rows.map(_.getAs[Long]("sum_len")).sum ==
        global(c).getAs[Long]("sum_len"))
      // the global min/max is attained by some group (comparison happens
      // on the native type, so string-ordering the casts would be wrong)
      assert(rows.map(_.getAs[String]("min_val"))
        .contains(global(c).getAs[String]("min_val")))
      assert(rows.map(_.getAs[String]("max_val"))
        .contains(global(c).getAs[String]("max_val")))
      // per-group distincts can only over-count the global
      assert(rows.map(_.getAs[Long]("n_distinct")).sum >=
        global(c).getAs[Long]("n_distinct"))
    }
  }

  test("epochOrder is a sort-free round-robin permutation of the corpus") {
    val rows = CorpusOps.epochOrder(docs).collect()
    val n = docs.count()
    // pos is a permutation of 1..N
    assert(rows.map(_.getAs[Long]("pos")).sorted.toSeq == (1L to n))
    // the first |sources| positions hold every source's rank-1 doc,
    // in source order (the round-robin head)
    val nSources = docs.select("source").distinct().count().toInt
    val head = rows.sortBy(_.getAs[Long]("pos")).take(nSources)
    assert(head.forall(_.getAs[Long]("rk") == 1L))
    assert(head.map(_.getString(1)).toSeq ==
      head.map(_.getString(1)).sorted.toSeq)
    // within a source, epoch position increases with rank
    rows.groupBy(_.getString(1)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getAs[Long]("rk")).map(_.getAs[Long]("pos"))
      assert(byRank.toSeq == byRank.sorted.toSeq)
    }
  }

  test("profileApprox: distincts within 10% of exact, everything else equal") {
    val docs01 = Tables.documents(spark, sf01Dir)
    def byCol(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r).toMap
    val exact = byCol(CorpusOps.profile(docs01))
    val approx = byCol(CorpusOps.profileApprox(docs01))
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (c, e) =>
      val a = approx(c)
      // HLL error bound: within 10% of the exact distinct count
      val (de, da) = (e.getAs[Long]("n_distinct"), a.getAs[Long]("n_distinct"))
      assert(math.abs(da - de) <= math.max(1L, de / 10),
        s"col $c: approx $da vs exact $de")
      // every non-sketched metric is identical
      Seq("n_rows", "n_nulls", "sum_len").foreach(m =>
        assert(e.getAs[Long](m) == a.getAs[Long](m), s"$c.$m"))
      Seq("min_val", "max_val").foreach(m =>
        assert(e.getAs[String](m) == a.getAs[String](m), s"$c.$m"))
    }
  }

  test("pipelineManifest: stage contracts compose (curate ⊃ manifest, integer factors, pack ids, round-robin pos)") {
    val manifest = CorpusOps.pipelineManifest(docs).collect()
    val train = CorpusOps.curate(docs)
      .filter(col("split") === "train").collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("n_tokens")).toMap
    assert(manifest.nonEmpty)

    // 1. every manifest row is a curated-train survivor with its token count
    manifest.foreach { r =>
      val id = r.getLong(0)
      assert(train.contains(id), s"doc $id not in curated train split")
      assert(r.getAs[Long]("n_tokens") == train(id).toLong, s"doc $id tokens")
    }

    // 2. pos is the permutation 1..N in round-robin (rk, source) order
    val n = manifest.length
    assert(manifest.map(_.getAs[Long]("pos")).sorted.toSeq == (1L to n).toSeq)
    val byKey: Map[(Long, Int), (Long, String)] =
      manifest.groupBy(_.getString(1)).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(r => (r.getAs[Int]("epoch"), r.getLong(0))).zipWithIndex
          .map { case (r, i) => (r.getLong(0), r.getAs[Int]("epoch")) ->
            (i + 1L, r.getString(1)) }.toSeq
      }.toMap
    val inPosOrder: Seq[(Long, String)] = manifest
      .sortBy(_.getAs[Long]("pos"))
      .map(r => byKey((r.getLong(0), r.getAs[Int]("epoch")))).toSeq
    assert(inPosOrder == inPosOrder.sorted,
      "pos order != lexicographic (rk, source)")

    // 3. the integer factor math, recomputed independently: full epochs
    //    and fractional-band thresholds per source
    val talliesDf = CorpusOps.curate(docs).filter(col("split") === "train")
      .groupBy("source").agg(sum(col("n_tokens").cast("long")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wgts = talliesDf.keys.map(s => s -> (20L - s.drop(3).toInt)).toMap
    val tokTotal = talliesDf.values.sum
    val wgtTotal = wgts.values.sum
    manifest.groupBy(_.getString(1)).foreach { case (s, rows) =>
      val num = wgts(s) * tokTotal
      val den = wgtTotal * talliesDf(s)
      val nFull = num / den
      val t256 = ((num % den) * 256) / den
      val nDocs = rows.map(_.getLong(0)).distinct.length
      val maxEpoch = rows.map(_.getAs[Int]("epoch")).max
      assert(maxEpoch <= nFull + (if (t256 > 0) 1 else 0), s"source $s epochs")
      // every full epoch contains EVERY train doc of the source
      (1 to nFull.toInt).foreach { ep =>
        assert(rows.count(_.getAs[Int]("epoch") == ep) == nDocs ||
          nFull == 0L, s"source $s epoch $ep incomplete")
      }
    }

    // 4. pack ids: recompute the per-source cumsum over (epoch, doc_id)
    manifest.groupBy(_.getString(1)).foreach { case (s, rows) =>
      var cum = 0L
      rows.sortBy(r => (r.getAs[Int]("epoch"), r.getLong(0))).foreach { r =>
        val nt = r.getAs[Long]("n_tokens")
        assert(r.getAs[Long]("pack_id") == cum / CorpusOps.PackBudget,
          s"source $s doc ${r.getLong(0)} pack_id")
        cum += nt
      }
    }
  }

  test("profileDrift: planted null/truncation/new-source drift all surface, clean drop is flat") {
    import spark.implicits._
    val baseline = CorpusOps.profileBySource(docs)
    // a clean identical drop drifts nowhere: every rel_delta is 0
    val flat = CorpusOps.profileDrift(docs, baseline).collect()
    assert(flat.nonEmpty)
    assert(flat.forall(r => r.getAs[Long]("base_val") == r.getAs[Long]("cur_val")),
      flat.filter(r => r.getAs[Long]("base_val") != r.getAs[Long]("cur_val"))
        .mkString("\n"))
    assert(flat.forall(r => r.isNullAt(r.fieldIndex("rel_delta")) ||
      r.getAs[Double]("rel_delta") == 0.0))
    // planted drift: null out lang and truncate text in one source, and
    // add a brand-new source the baseline has never seen
    val plantedSource = docs.select("source").head().getString(0)
    val drop = docs
      .withColumn("lang", when(col("source") === plantedSource, lit(null))
        .otherwise(col("lang")))
      .withColumn("text", when(col("source") === plantedSource,
        substring(col("text"), 1, 5)).otherwise(col("text")))
      .unionByName(
        Seq((900001L, "en", 4L, "brand_new_src", "a new upstream appeared"))
          .toDF("doc_id", "lang", "n_chars", "source", "text"),
        allowMissingColumns = true)
    val drift = CorpusOps.profileDrift(drop, baseline).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r).toMap
    val nulls = drift((plantedSource, "lang", "n_nulls"))
    assert(nulls.getAs[Long]("cur_val") > nulls.getAs[Long]("base_val"))
    val len = drift((plantedSource, "text", "sum_len"))
    assert(len.getAs[Long]("cur_val") < len.getAs[Long]("base_val"))
    assert(len.getAs[Double]("rel_delta") < 0.0)
    // the new source appears with base_val = 0 on every metric (the
    // full-outer side of drift: missing baseline IS the signal)
    val newRows = CorpusOps.profileDrift(drop, baseline)
      .filter(col("source") === "brand_new_src").collect()
    assert(newRows.nonEmpty)
    assert(newRows.forall(_.getAs[Long]("base_val") == 0L))
    assert(newRows.exists(_.getAs[Long]("cur_val") > 0L))
  }

  test("mixture: shares sum to 1, factors invert exactly, weights ordered") {
    val rows = CorpusOps.mixture(docs).collect()
    assert(rows.length == docs.select("source").distinct().count())
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-9)
    assert(math.abs(rows.map(_.getAs[Double]("target_share")).sum - 1.0) < 1e-9)
    // sampling_factor is EXACTLY target/actual (same doubles, no re-derivation)
    assert(rows.forall(r =>
      r.getAs[Double]("sampling_factor") ==
        r.getAs[Double]("target_share") / r.getAs[Double]("share")))
    // the synthetic target weights src0 heaviest
    val byName = rows.map(r => r.getString(0) -> r.getAs[Double]("target_share")).toMap
    assert(byName("src0") > byName("src19"))
  }

  test("mixture: a source outside the src0..src19 contract fails loudly") {
    import spark.implicits._
    val bad = Seq((1L, "hello world", "wiki"), (2L, "more text", "src1"))
      .toDF("doc_id", "text", "source")
    val e = intercept[Exception] { CorpusOps.mixture(bad).collect() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("synthetic target contract")))
    // src20 would get weight 0 — equally refused, not silently zeroed
    val overflow = Seq((1L, "t", "src20")).toDF("doc_id", "text", "source")
    val e2 = intercept[Exception] { CorpusOps.mixture(overflow).collect() }
    assert(msgs(e2).exists(_.contains("synthetic target contract")))
  }

  test("dropDiff statuses match the planted drop construction exactly") {
    val diff = CorpusOps.dropDiff(docs).cache()
    def total(status: String): Long = diff.filter(col("status") === status)
      .agg(coalesce(sum("n_docs"), lit(0L))).collect().head.getLong(0)
    // added = in B only (ids ≡ 7 mod 10); removed = in A only (≡ 3);
    // changed = surviving ids ≡ 0 mod 13 (the ' v2' edit always changes
    // the digest); everything else unchanged
    val ids = docs.select(col("doc_id"))
    assert(total("added") ==
      ids.filter(pmod(col("doc_id"), lit(10)) === 7).count())
    assert(total("removed") ==
      ids.filter(pmod(col("doc_id"), lit(10)) === 3).count())
    assert(total("changed") ==
      ids.filter(pmod(col("doc_id"), lit(13)) === 0 &&
        pmod(col("doc_id"), lit(10)) =!= 3 &&
        pmod(col("doc_id"), lit(10)) =!= 7).count())
    assert(total("added") + total("removed") + total("changed") +
      total("unchanged") == docs.count())
    // every changed doc grew by exactly " v2" (3 chars)
    val changed = diff.filter(col("status") === "changed")
      .agg(sum("chars_delta"), sum("n_docs")).collect().head
    assert(changed.getLong(0) == 3 * changed.getLong(1))
  }

  test("dedupCanonical collapses case/punctuation/whitespace variants dedupExact keeps apart") {
    import spark.implicits._
    val variants = Seq(
      (1L, "Hello, World!"),
      (2L, "hello   world"),      // whitespace run + case + punctuation
      (3L, "HELLO WORLD."),
      (4L, "a different doc"))
      .toDF("doc_id", "text")
    val canon = DedupOps.dedupCanonical(variants).collect()
    assert(canon.length == 2)
    val hello = canon.find(_.getAs[Long]("rep_doc_id") == 1L).get
    assert(hello.getAs[Long]("n_docs") == 3L)
    assert(hello.getAs[Long]("n_variants") == 3L) // three distinct raw forms
    // plain exact dedup keeps all three apart
    assert(DedupOps.dedupExact(variants).count() == 4)
    // idempotent: canonicalizing a canonical form is a fixed point
    val fixed = variants.select(
      DedupOps.canonicalize(DedupOps.canonicalize(col("text")))
        .as("twice"),
      DedupOps.canonicalize(col("text")).as("once"))
    assert(fixed.filter(col("twice") =!= col("once")).count() == 0)
  }

  test("splitDivergence: planted val-domain shift raises KL; matched vocab stays near zero") {
    import spark.implicits._
    val ids = (0L until 400L).toDF("doc_id")
    val assign = CorpusOps.split(
      ids.withColumn("lang", lit("en")).withColumn("source", lit("s")))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    def corpus(valText: String): org.apache.spark.sql.DataFrame =
      (0L until 400L).map { i =>
        val t = if (assign(i) == "val") valText else "alpha beta gamma delta"
        (i, t)
      }.toDF("doc_id", "text")
    def klOf(df: org.apache.spark.sql.DataFrame): Double =
      CorpusOps.splitDivergence(df).filter(col("split") === "val")
        .collect().head.getAs[Double]("kl_nats")
    val shifted = klOf(corpus("zeta eta theta iota")) // disjoint vocabulary
    val matched = klOf(corpus("alpha beta gamma delta"))
    assert(shifted > 10 * math.max(matched, 1e-9),
      s"disjoint val vocab must dominate: $shifted vs $matched")
    assert(matched < 0.05, s"matched vocab reads near zero: $matched")
  }
}
