package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.FormattedMode

import graft.operators._
import graft.sources.Tables

/** Physical-plan audits (SURVEY.md §5): the scale properties are part of
  * the contract, so they are asserted, not just eyeballed. If a refactor
  * turns a broadcast into a shuffle join or un-pushes a filter, these fail.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(df: DataFrame): String = {
    // other specs may have cached identical subtrees; audit the real plan
    spark.catalog.clearCache()
    df.queryExecution.explainString(FormattedMode)
  }

  /** The documents table as a MULTI-SPLIT scan (one file per core):
    * [[Tables.spread]] is then a no-op, so map-only plan audits below
    * assert the 100 TB shape — a real corpus scan always has more
    * splits than cores; the single-file test layout is the exception,
    * and spread's conditional exchange on it is audited separately. */
  private var spreadNeutralRoot: Option[java.nio.file.Path] = None

  private lazy val spreadNeutralDocs: DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_docs_multi")
    spreadNeutralRoot = Some(root) // deleted in afterAll (ADVICE r20)
    val dir = root.toFile.getAbsolutePath + "/documents.parquet"
    Tables.documents(spark, sfDir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    // guard the multi-split assumption itself: bin-packing on a machine
    // with a different core count could coalesce the small files into
    // fewer scan splits, which would flake the no-Exchange audits below
    // with a confusing plan diff instead of this message
    assert(df.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism,
      s"spread-neutral fixture read back in ${df.rdd.getNumPartitions} " +
        "splits (< defaultParallelism) — bin-packing coalesced it")
    df
  }

  override def afterAll(): Unit = {
    try spreadNeutralRoot.foreach { root =>
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    } finally super.afterAll()
  }

  test("Tables.spread: conditional — exchange on a single-split scan, " +
      "no-op on a multi-split scan") {
    val single = Tables.documents(spark, sfDir) // one file, one row group
    val pSingle = plan(Tables.spread(single.select(col("doc_id"))))
    assert(pSingle.contains("hashpartitioning(doc_id"), pSingle)
    val pMulti = plan(Tables.spread(spreadNeutralDocs.select(col("doc_id"))))
    assert(!pMulti.contains("Exchange"),
      s"spread must be a no-op on a multi-split scan:\n$pMulti")
  }

  test("Tables.scanSplitCount equals the scan's split count under spark.sql.files.minPartitionNum") {
    // Spark's maxSplitBytes divides by minPartitionNum when it is set,
    // not by defaultParallelism; a small open cost lets the divisor,
    // not the per-file floor, decide the split size
    val df = spreadNeutralDocs.select(col("doc_id"))
    val confs = Seq("spark.sql.files.minPartitionNum",
      "spark.sql.files.openCostInBytes")
    val saved = confs.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.files.minPartitionNum", 16L)
      spark.conf.set("spark.sql.files.openCostInBytes", 1024L)
      val splits = df.rdd.getNumPartitions
      assert(splits > spark.sparkContext.defaultParallelism,
        s"$splits splits: the divisor did not matter")
      assert(Tables.scanSplitCount(df).contains(splits.toLong))
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("q_event_scan: equality AND time-range predicates reach the parquet scan") {
    val p = plan(EventOps.eventScan(Tables.events(spark, sfDir)))
    assert(p.contains("PushedFilters"))
    assert(p.contains("EqualTo(user_id,42)"), p)
    assert(p.contains("EqualTo(event_type,click)"), p)
    // the time band is expressed on the stored TIMESTAMP_NTZ column
    assert(p.contains("GreaterThanOrEqual(ts,"), p)
    assert(p.contains("LessThan(ts,"), p)
  }

  test("q_event_scan: scan reads only the projected columns") {
    val p = plan(EventOps.eventScan(Tables.events(spark, sfDir)))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("props"), readSchema) // unused column pruned
  }

  test("q_revenue_nation: all three dims broadcast, no shuffle join") {
    val p = plan(Relational.revenueByNation(
      Tables.orders(spark, sfDir), Tables.customer(spark, sfDir),
      Tables.nation(spark, sfDir), Tables.region(spark, sfDir)))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("top-N queries compile to TakeOrderedAndProject (no global sort)") {
    val topn = plan(StatsOps.topN(Tables.events(spark, sfDir)))
    assert(topn.contains("TakeOrderedAndProject"), topn)
    val topc = plan(Relational.topCustomers(Tables.lineitem(spark, sfDir),
      Tables.orders(spark, sfDir), Tables.customer(spark, sfDir)))
    assert(topc.contains("TakeOrderedAndProject"), topc)
    val ann = plan(AnnOps.annTopK(Tables.embeddings(spark, sfDir)))
    assert(ann.contains("TakeOrderedAndProject"), ann)
  }

  /** Count Exchange operators from the detail section (`(n) Exchange`). */
  private def exchangeCount(p: String): Int =
    p.linesIterator.count(_.matches("""\(\d+\) Exchange.*"""))

  /** Count HASH exchanges (FormattedMode puts the partitioning on the
    * detail node's `Arguments:` line, never on the `(n) Exchange` line —
    * a regex against the latter counts zero, vacuously). */
  private def hashExchangeCount(p: String): Int =
    p.linesIterator.count(l =>
      l.trim.startsWith("Arguments: hashpartitioning"))

  test("q_match_stats: exactly one shuffle (partial agg map-side)") {
    val p = plan(EventOps.matchStats(Tables.events(spark, sfDir)))
    // one Exchange for the groupBy, one for the final orderBy — no more
    assert(exchangeCount(p) <= 2, s"${exchangeCount(p)} exchanges:\n$p")
    assert(p.contains("HashAggregate"))
  }

  test("q_pitch_geometry: pure row-level — no Exchange except the output sort") {
    val p = plan(GeometryOps.pitchGeometry(Tables.events(spark, sfDir)))
    assert(exchangeCount(p) <= 1, s"plan had ${exchangeCount(p)} Exchanges:\n$p")
  }

  test("q_funnel: one user_id shuffle feeds both windows AND the per-user agg") {
    val p = plan(SessionOps.funnel(Tables.events(spark, sfDir)))
    assert(hashExchangeCount(p) == 1, s"${hashExchangeCount(p)} hash exchanges:\n$p")
    // the chained-join formulation would cost 3; the global stage-count
    // agg and 3-row output sort are the only other exchanges
    assert(exchangeCount(p) <= 2, s"${exchangeCount(p)} exchanges:\n$p")
  }

  test("q_retention: join-free — two hash shuffles (user sets, then cohort agg)") {
    val p = plan(SessionOps.retention(Tables.events(spark, sfDir)))
    assert(hashExchangeCount(p) <= 2, s"${hashExchangeCount(p)} hash exchanges:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q_session_window: native session merge is partition-local (one hash shuffle)") {
    val p = plan(SessionOps.sessionWindow(Tables.events(spark, sfDir)))
    assert(hashExchangeCount(p) <= 1, s"${hashExchangeCount(p)} hash exchanges:\n$p")
  }

  test("q_anomaly: daily agg + user window — two hash shuffles, no join") {
    val p = plan(StatsOps.anomaly(Tables.events(spark, sfDir)))
    assert(hashExchangeCount(p) <= 2, s"${hashExchangeCount(p)} hash exchanges:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q_mixture / q_epoch_order: totals ride broadcasts, never a shuffle join") {
    val pm = plan(CorpusOps.mixture(Tables.documents(spark, sfDir)))
    assert(hashExchangeCount(pm) <= 2, s"${hashExchangeCount(pm)} hash exchanges:\n$pm")
    assert(!pm.contains("SortMergeJoin"), pm)
    val pe = plan(CorpusOps.epochOrder(Tables.documents(spark, sfDir)))
    assert(hashExchangeCount(pe) <= 2, s"${hashExchangeCount(pe)} hash exchanges:\n$pe")
    assert(!pe.contains("SortMergeJoin"), pe)
  }

  test("q_drop_diff: digest-reduced full-outer join (SMJ on doc_id, bounded shuffles)") {
    val p = plan(CorpusOps.dropDiff(Tables.documents(spark, sfDir)))
    assert(p.contains("SortMergeJoin"), p) // full-outer on a high-card key
    assert(hashExchangeCount(p) <= 3, s"${hashExchangeCount(p)} hash exchanges:\n$p")
  }

  test("q_profile: single pass — one Expand into one hash shuffle") {
    val p = plan(CorpusOps.profile(Tables.documents(spark, sfDir)))
    assert(p.contains("Expand"), p) // the multi-column exact distincts
    assert(hashExchangeCount(p) <= 1, s"${hashExchangeCount(p)} hash exchanges:\n$p")
    val scans = p.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*"""))
    assert(scans == 1, s"$scans parquet scans:\n$p")
  }

  test("q_profile_approx: single pass, NO Expand (the linear 100 TB gate)") {
    val p = plan(CorpusOps.profileApprox(Tables.documents(spark, sfDir)))
    assert(!p.contains("Expand"), p) // HLL sketches replace exact distincts
    assert(hashExchangeCount(p) == 0, s"${hashExchangeCount(p)} hash exchanges:\n$p")
    val scans = p.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*"""))
    assert(scans == 1, s"$scans parquet scans:\n$p")
  }

  test("q_pipeline: curate materialized once, then source-keyed only; both shapes broadcast-join") {
    def keysOf(p: String): Set[String] = p.linesIterator.flatMap(l =>
      "hashpartitioning\\((\\w+)#".r.findFirstMatchIn(l).map(_.group(1)))
      .toSet
    // default shape: the curated train split is materialized ONCE (the
    // persist-the-curated-split move — exchange reuse cannot substitute,
    // the branches prune different columns); everything after it is
    // source-keyed, no doc_id/epoch shuffle ever appears
    val p = plan(CorpusOps.pipelineManifest(Tables.documents(spark, sfDir)))
    assert(p.contains("ExistingRDD"), p) // the materialized train split
    assert(keysOf(p) == Set("source"), s"shuffle keys ${keysOf(p)}:\n$p")
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*""")) == 0,
      s"corpus re-scan after materialization:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("ShuffledHashJoin"), p)
  }

  test("q_bpe_encode: corpus side is a pure map — broadcast merges/vocab, zero corpus shuffle") {
    val (mt, vocab) = BpeOps.trainPieces(
      Tables.documents(spark, sfDir), merges = 4)
    val p = plan(BpeOps.encodeWithVocab(
      Tables.documents(spark, sfDir), mt, vocab))
    // no hash exchange anywhere: the merge table and vocab map collapse
    // to 1-row broadcasts (their inputs are tiny checkpointed frames);
    // the corpus never shuffles — the trailing sort is the harness's
    // deterministic-output range partition only
    assert(hashExchangeCount(p) == 0, s"${hashExchangeCount(p)} hash exchanges:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    val scans = p.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*"""))
    assert(scans == 1, s"$scans parquet scans:\n$p")
  }

  test("native float_dot appears in the ANN plan (not a HOF fallback)") {
    graft.plans.GraftFunctions.register(spark)
    val p = plan(AnnOps.annTopK(Tables.embeddings(spark, sfDir)))
    assert(p.contains("float_dot"), p)
    assert(!p.contains("aggregate(zip_with"), p)
  }

  test("q_sample: the sampling predicate pushes into the scan stage (no shuffle)") {
    val p = plan(CorpusOps.sample(Tables.documents(spark, sfDir)))
    // row-level filter + projection + output sort only
    assert(exchangeCount(p) <= 1, s"${exchangeCount(p)} exchanges:\n$p")
    assert(p.contains("Filter"), p)
  }

  test("q_rollup: one Expand, one shuffle (no per-granularity re-scan)") {
    val p = plan(CorpusOps.rollup(Tables.documents(spark, sfDir)))
    assert(p.linesIterator.count(_.matches("""\(\d+\) Expand.*""")) == 1, p)
    // groupBy shuffle + output sort
    assert(exchangeCount(p) <= 2, s"${exchangeCount(p)} exchanges:\n$p")
  }

  test("q_tfidf: argmax is an aggregation, not a window sort") {
    val p = plan(CorpusOps.tfidf(Tables.documents(spark, sfDir)))
    assert(!p.contains("Window"), p)
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
  }

  test("q_sliding: windows generated row-level — no join, no Generate blowup") {
    val p = plan(EventOps.sliding(Tables.events(spark, sfDir)))
    assert(!p.contains("Join"), p)
    assert(exchangeCount(p) <= 2, s"${exchangeCount(p)} exchanges:\n$p")
  }

  test("q_skew_join: salt is in the join keys; only the small side explodes") {
    val p = plan(Skew.skewJoinQuery(Tables.events(spark, sfDir)))
    // the equi-join keys include the salt column → hot users spread over
    // `salts` reducers
    val joinKeys = p.linesIterator.filter(_.contains("keys")).mkString("\n")
    assert(joinKeys.contains("_salt"), p)
    // exactly one Generate: the salt-sequence explode on the (small)
    // aggregate side; the fact side must never be replicated. The
    // sequence(0,7) literal constant-folds, so assert via the Generate's
    // output column being the salt.
    val generates = p.linesIterator.count(_.matches("""\(\d+\) Generate.*"""))
    assert(generates == 1, s"$generates Generate nodes:\n$p")
    val genArgs = p.linesIterator.dropWhile(!_.matches("""\(\d+\) Generate.*"""))
      .take(3).mkString("\n")
    assert(genArgs.contains("explode(") && genArgs.contains("[_salt"), p)
  }

  test("q_window_after: co-partitioned equi-join on user_id, no nested loop") {
    val p = plan(SessionOps.windowAfter(Tables.events(spark, sfDir)))
    // the time band must ride the user_id equi-join as a post-filter —
    // a pure band join would be a nested loop and n² at scale
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
    // two input shuffles (either join side) + at most agg reuse + output
    // sort; the groupBy reuses the user_id partitioning
    assert(exchangeCount(p) <= 3, s"${exchangeCount(p)} exchanges:\n$p")
  }

  test("q_asof_join: one user_id shuffle, a window, and NO join operator") {
    val p = plan(SessionOps.asofJoin(Tables.events(spark, sfDir)))
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
    // the user_id shuffle + the output sort — nothing else moves data
    assert(exchangeCount(p) <= 2, s"${exchangeCount(p)} exchanges:\n$p")
  }

  test("q_pack / q_group_sample / q_token_budget: per-source windows, no global pre-sort") {
    for (df <- Seq(CorpusOps.pack(Tables.documents(spark, sfDir)),
                   CorpusOps.groupSample(Tables.documents(spark, sfDir)),
                   CorpusOps.tokenBudgetSample(Tables.documents(spark, sfDir)))) {
      val p = plan(df)
      assert(p.contains("Window"), p)
      // one source shuffle feeding the window (+ agg reuse) + output sort
      assert(exchangeCount(p) <= 2, s"${exchangeCount(p)} exchanges:\n$p")
      // the window's sort is partition-local — the ONLY range shuffle
      // (global ordering) allowed is the final presentation orderBy; a
      // rangepartitioning Exchange feeding the Window would be the
      // 100 TB anti-pattern
      val rangeExchanges = p.linesIterator
        .count(l => l.contains("Arguments: rangepartitioning"))
      assert(rangeExchanges <= 1, s"$rangeExchanges range exchanges:\n$p")
      assert(p.contains("Arguments: hashpartitioning"), p)
    }
  }

  test("q_centroid: one explode, one agg shuffle, nothing else moves data") {
    val p = plan(AnnOps.centroid(Tables.embeddings(spark, sfDir)))
    val generates = p.linesIterator.count(_.matches("""\(\d+\) Generate.*"""))
    assert(generates == 1, s"$generates Generate nodes:\n$p")
    // (label, pos) agg shuffle + output sort
    assert(exchangeCount(p) <= 2, s"${exchangeCount(p)} exchanges:\n$p")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
  }

  test("localCheckpoint keeps hash partitioning (CC per-round edge-reuse)") {
    // connectedComponents pre-partitions the edge set by the per-round
    // join key before checkpointing; this only pays off if the
    // checkpointed frame keeps its outputPartitioning — pin that Spark
    // contract so an upgrade that drops it fails here, not silently in
    // every CC round at cluster scale
    import org.apache.spark.sql.functions.col
    val big = spark.range(1000).toDF("id").repartition(col("id"))
      .localCheckpoint(true)
    val small = spark.range(100).toDF("id")
    val p = plan(big.join(small, "id"))
    // the small side shuffles (or broadcasts); the checkpointed side
    // must NOT re-shuffle
    val exchanges = p.linesIterator.filter(_.matches("""\(\d+\) Exchange.*""")).size
    assert(exchanges <= 1, s"$exchanges exchanges — checkpoint lost partitioning:\n$p")
  }

  test("q_dedup_embedding_lsh: equi-join blocking, no nested loop, payload-free band stream") {
    val p = plan(DedupOps.dedupEmbeddingLsh(Tables.embeddings(spark, sfDir)))
    // the band self-join must be a hash/merge equi-join on (band, key) —
    // a nested loop here is the n² the banding exists to avoid
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the band explode (Generate) must emit only (vec_id, band-key struct)
    // — the 64-float embedding is read by the key EXPRESSIONS but must not
    // ride the 16×-exploded output stream. Audited on the block-stream
    // frame: the candidates join checkpoints it (one band-key
    // materialization for both self-join sides), which hides the
    // subtree from the final SQL plan — the block stream IS what
    // executes under the checkpoint.
    Seq(DedupOps.embeddingLshBlocks(Tables.embeddings(spark, sfDir)),
        DedupOps.embeddingRpBlocks(Tables.embeddings(spark, sfDir)))
      .foreach { blocks =>
        val gens = blocks.queryExecution.sparkPlan.collect {
          case g: org.apache.spark.sql.execution.GenerateExec => g
        }
        assert(gens.nonEmpty, blocks.queryExecution.sparkPlan.toString)
        gens.foreach(g => assert(!g.output.map(_.name).contains("embedding"),
          s"payload rides the band explode: ${g.output.map(_.name)}"))
      }
  }

  test("q_redact: pure row-level — no Exchange except the output sort") {
    val p = plan(TextOps.redact(Tables.documents(spark, sfDir)))
    assert(exchangeCount(p) <= 1, s"${exchangeCount(p)} exchanges:\n$p")
  }

  test("q_lm_score: ONE corpus pass — no parquet re-scan past the checkpoint") {
    val p = plan(CorpusOps.lmScore(Tables.documents(spark, sfDir)))
    // counts, c1 derivation, and the probe side all read the
    // checkpointed bigram RDD; the parquet scan happened exactly once
    // while building it
    assert(!p.contains("Scan parquet"), p)
  }

  test("q_contamination_bloom: the gram stream never shuffles before the probe") {
    val p = plan(CorpusOps.contaminationBloom(Tables.documents(spark, sfDir)))
    assert(p.contains("bloom_contains"), p)
    // exactly three hash shuffles, none of them the gram stream: the
    // probe-side lens distinct (3 rows), the POST-filter hit distinct,
    // and the per-doc count — a fourth would mean the full gram stream
    // crossed the wire (e.g. a pre-filter distinct)
    assert(hashExchangeCount(p) <= 3, s"${hashExchangeCount(p)} hash exchanges:\n$p")
    // and the hit distinct's exchange is keyed (doc_id, gram) — the
    // gram stream alone is never a shuffle key
    assert(!p.linesIterator.exists(l =>
      l.trim.startsWith("Arguments: hashpartitioning(gram")), p)
  }

  test("q_dedup_substring: native winnow expression, two Generates only") {
    graft.plans.GraftFunctions.register(spark)
    val p = plan(DedupOps.dedupSubstring(Tables.documents(spark, sfDir)))
    assert(p.contains("winnow_fingerprints"), p)
    val generates = p.linesIterator.count(_.trim.startsWith("Generate"))
    assert(generates <= 2, s"$generates Generate nodes:\n$p")
  }

  test("q_curate: one corpus scan, one hash shuffle (the dedup window)") {
    val p = plan(CorpusOps.curate(Tables.documents(spark, sfDir)))
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*""")) == 1, p)
    // all gates fuse row-level ahead of the single text_hash exchange;
    // the only other Exchange is the output sort's range partitioning
    assert(hashExchangeCount(p) == 1, s"${hashExchangeCount(p)} hash exchanges:\n$p")
  }

  test("q_pdf_text: one codec walk, no exchange but the output sort") {
    val p = plan(PdfOps.pdfText(Tables.documents(spark, sfDir)))
    // synth + walk are mapPartitions over the doc partitions — the
    // payload dies inside the task; nothing shuffles before the
    // presentational sort
    assert(hashExchangeCount(p) == 0, s"${hashExchangeCount(p)} hash exchanges:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q_dedup_substring_incremental: corpus index probed map-side by the delta") {
    graft.plans.GraftFunctions.register(spark)
    val p = plan(DedupOps.dedupSubstringIncremental(Tables.documents(spark, sfDir)))
    assert(p.contains("winnow_fingerprints"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("q_mime_sniff / q_c4_badwords: pure row-level maps — no exchange but the sort") {
    val sniff = plan(MultimodalOps.mimeSniff(Tables.documents(spark, sfDir)))
    assert(hashExchangeCount(sniff) == 0, sniff)
    assert(!sniff.contains("Join"), sniff)
    val bw = plan(TextOps.c4Badwords(Tables.documents(spark, sfDir)))
    assert(hashExchangeCount(bw) == 0, bw)
    assert(!bw.contains("Join"), bw)
    val uf = plan(UrlOps.urlFilter(Tables.documents(spark, sfDir)))
    assert(hashExchangeCount(uf) == 0, uf)
    assert(!uf.contains("Join"), uf)
  }

  test("q_substring_excise_incremental: fingerprint-keyed only, no cartesian") {
    graft.plans.GraftFunctions.register(spark)
    val p = plan(DedupOps.substringExciseIncremental(Tables.documents(spark, sfDir)))
    assert(p.contains("winnow_fingerprints"), p)
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_mp4_meta / q_mp3_meta: one box walk, no exchange but the output sort") {
    // synth + walk are mapPartitions over the doc partitions — the
    // payload dies inside the task (the q_pdf_text shape)
    Seq(plan(Mp4Ops.mp4Meta(Tables.documents(spark, sfDir))),
      plan(Mp3Ops.mp3Meta(Tables.documents(spark, sfDir))),
      plan(WebpOps.webpMeta(Tables.documents(spark, sfDir))),
      plan(OggOps.oggMeta(Tables.documents(spark, sfDir))),
      // the round-19 unified inventory key keeps the same shape: one
      // mapPartitions synth+sniff+walk, only the presentational sort
      plan(MediaOps.mediaInventory(Tables.documents(spark, sfDir)))
    ).foreach { p =>
      assert(hashExchangeCount(p) == 0, s"${hashExchangeCount(p)} hash exchanges:\n$p")
      assert(!p.contains("Join"), p)
    }
  }

  test("q_gopher_rep: zero shuffles — the whole rule set is one per-doc pass") {
    val p = plan(TextOps.gopherRep(Tables.documents(spark, sfDir)))
    // all thirteen repetition rules are within-document: nothing but
    // the presentational sort may cross a wire
    assert(hashExchangeCount(p) == 0, s"${hashExchangeCount(p)} hash exchanges:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q_curate_full: row gates fuse onto ONE corpus scan; lm side rides the checkpoint") {
    val p = plan(CorpusOps.curateFull(Tables.documents(spark, sfDir)))
    // the gated side is the only parquet scan — lang/quality/probe/
    // gopher/C4 all fuse into its filter; the LM model re-reads the
    // corpus exactly once, into the localCheckpointed bigram stream
    // (Scan ExistingRDD below, reused by c2, c1, and the probe side)
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*""")) == 1, p)
    assert(p.contains("Scan ExistingRDD"), p)
    // hash exchanges: c2 agg, the c2/c1 derivation pair, the per-doc
    // lm agg, and the ONE text_hash window — the corpus text itself
    // crosses a wire only as full-gate survivors into that window
    assert(hashExchangeCount(p) <= 5, s"${hashExchangeCount(p)} hash exchanges:\n$p")
  }

  test("q_bm25: top-N heap, broadcast stats, map-side term filter — no shuffle join") {
    val p = plan(CorpusOps.bm25(Tables.documents(spark, sfDir)))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    // the df/totals sides broadcast; the corpus-token explode survives
    // only where a query term matched (filter fused before the agg)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_kmeans assignment is a pure map: broadcast centroids, vector side never shuffles") {
    val p = plan(AnnOps.kmeans(Tables.embeddings(spark, sfDir), k = 10, iters = 2))
    // the k-row centroid table rides a broadcast nested loop (one row of
    // collect_list'd structs); the argmin happens inside each row
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    // exchanges: the k-row collect_list agg + the output sort — the
    // corpus-sized q6 stream itself never crosses the wire
    assert(exchangeCount(p) <= 2, s"${exchangeCount(p)} exchanges:\n$p")
  }

  test("q_pq: per-subspace assignment is a broadcast join on sub — slices never shuffle") {
    val p = plan(AnnOps.pqEncode(Tables.embeddings(spark, sfDir)))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("q_dedup_minhash signature stage has no explode (row-level transform)") {
    val p = plan(DedupOps.dedupMinhash(Tables.documents(spark, sfDir)))
    // one explode exists for band keys only; the shingle stage must not
    // blow rows up (band explode emits Bands=2 rows per doc)
    val generates = p.linesIterator.count(_.trim.startsWith("Generate"))
    assert(generates <= 2, s"$generates Generate nodes:\n$p")
  }

  test("q_dedup_lines: row-level segmentation, two keyed shuffles, no join") {
    val p = plan(DedupOps.dedupLines(spreadNeutralDocs))
    assert(!p.contains("Join"), p)
    // md5 rank window + per-doc re-agg; + the output sort
    assert(hashExchangeCount(p) <= 2, s"${hashExchangeCount(p)} hash exchanges:\n$p")
    assert(exchangeCount(p) <= 3, s"${exchangeCount(p)} exchanges:\n$p")
  }

  test("q_source_divergence: one corpus-sized shuffle; model rides as broadcasts") {
    val p = plan(CorpusOps.sourceDivergence(Tables.documents(spark, sfDir)))
    // the (source, token) count agg is the only corpus-sized exchange;
    // totals come back as broadcast joins, never shuffle joins
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("q_classifier_score/q_classifier_filter: no shuffle joins anywhere") {
    Seq(ClassifierOps.nbScore(Tables.documents(spark, sfDir)),
      ClassifierOps.nbFilter(Tables.documents(spark, sfDir))).foreach { df =>
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
      // rank-1 argmax gets the group-limit pushdown (k rows per doc
      // survive the partial stage, not |langs| rows)
      assert(p.contains("WindowGroupLimit"), p)
    }
  }

  test("q_knn_graph family: norms computed before the pair join; rank-k is group-limited") {
    val exact = plan(AnnOps.knnGraph(Tables.embeddings(spark, sfDir)))
    // the pair join must be a broadcast nested loop (no shuffle of pairs)
    assert(exact.contains("BroadcastNestedLoopJoin"), exact)
    assert(exact.contains("WindowGroupLimit"), exact)
    val rp = plan(AnnOps.knnGraphRp(Tables.embeddings(spark, sfDir)))
    assert(rp.contains("WindowGroupLimit"), rp)
    // candidates come from the band equi-join — no nested loop anywhere
    assert(!rp.contains("BroadcastNestedLoopJoin"), rp)
  }

  test("q_forecast_revenue: every predicate reaches the scan; two columns read") {
    val p = plan(Relational.forecastRevenue(Tables.lineitem(spark, sfDir)))
    assert(p.contains("PushedFilters"), p)
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).get
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount") &&
      pushed.contains("l_quantity"), pushed)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_tax"),
      readSchema)
  }

  test("q_shipping_priority: dim broadcast, top-k head, one fact shuffle join") {
    val p = plan(Relational.shippingPriority(Tables.lineitem(spark, sfDir),
      Tables.orders(spark, sfDir), Tables.customer(spark, sfDir)))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_compress_ratio: map-only — zero hash exchanges before the output sort") {
    val p = plan(TextOps.compressRatio(Tables.documents(spark, sfDir)))
    assert(hashExchangeCount(p) == 0, s"${hashExchangeCount(p)} hash exchanges:\n$p")
  }

  test("q_crawl_schedule: host-partitioned window, broadcast delays, no single-partition window") {
    val p = plan(CrawlOps.crawlSchedule(Tables.documents(spark, sfDir)))
    // the cumulative-delay window partitions BY HOST — a SinglePartition
    // window here would serialize the whole frontier at 100 TB
    assert(p.linesIterator.exists(l =>
      l.trim.startsWith("Arguments: hashpartitioning(source")), p)
    assert(!p.contains("No Partition Defined"), p)
    // the hosts-bounded delay table rides a broadcast, never a shuffle join
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("frontierBudgeted: the window ranks ONLY the trap slice (clean hosts bypass)") {
    import spark.implicits._
    val frontier = Seq(("http://a.example.com/x", 1L),
      ("http://b.example.com/y", 2L)).toDF("canon_url", "n_referrers")
    val traps = Seq(("a", true), ("b", false)).toDF("source", "trap")
    val p = plan(CrawlOps.frontierBudgeted(frontier, traps))
    // the ADVICE-r15 fix: at 100 TB the frontier is corpus-scale while
    // trap hosts are a tiny flagged set — the clean branch must be a
    // window-free broadcast anti-join, with exactly ONE window total
    // sitting over the trap-semi-joined slice
    val windows = p.linesIterator.count(_.trim.matches("""\(\d+\) Window"""))
    assert(windows == 1, s"want exactly 1 Window node, got $windows:\n$p")
    assert(p.contains("Union"), p)
    assert(p.contains("LeftAnti") && p.contains("LeftSemi"), p)
    // both trap-flag joins broadcast (the traps frame is hosts-bounded)
    assert(!p.linesIterator.exists(l =>
      l.contains("ShuffledHashJoin") || l.contains("SortMergeJoin")), p)
  }

  test("q_extract_clean: digest-keyed exchanges, broadcast anti-join for the blocklist") {
    val p = plan(HtmlOps.extractClean(Tables.documents(spark, sfDir)))
    // the k-row blocklist must broadcast into the anti-join — a shuffle
    // anti-join would move the whole segmented corpus a second time
    assert(p.contains("BroadcastHashJoin"), p)
    // no exchange may key on raw segment text (the q_boilerplate rule)
    val keys = "hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.nonEmpty, p)
    keys.foreach { k =>
      assert(!"(^|[ (])seg#".r.findFirstIn(k).isDefined, s"seg-keyed exchange: $k")
    }
  }

  test("q_redirects: hop joins key on the url; no single-partition stage") {
    val p = plan(CrawlOps.redirects(Tables.documents(spark, sfDir)))
    // each hop is an equi-join keyed on the (canonical) url — a
    // redirect log at 100 TB must hash-join per hop, never nest-loop
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("No Partition Defined"), p)
  }

  test("q_recrawl: host-partitioned window, broadcast delays, url-keyed joins") {
    val p = plan(CrawlOps.recrawl(Tables.documents(spark, sfDir)))
    // the politeness cumsum partitions BY HOST (scheduleCore's contract,
    // shared with q_crawl_schedule)
    assert(p.linesIterator.exists(l =>
      l.trim.startsWith("Arguments: hashpartitioning(source")), p)
    assert(!p.contains("No Partition Defined"), p)
    // the hosts-bounded delay table broadcasts
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_link_resolve: native url_resolve map, one distinct exchange, no join") {
    val p = plan(UrlOps.linkResolve(Tables.documents(spark, sfDir)))
    // the resolve→canon pipeline is a PURE MAP on the native codegen'd
    // url_resolve expression — the round-13 Catalyst tree-reinlining
    // blowup (35 s → 2.2 s) must not regress into a Column-chain form
    assert(p.contains("url_resolve"), p)
    // no join of any kind — resolution is row-local
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    // exactly ONE hash exchange (the distinct); the only other exchange
    // is the presentation sort's range partitioning
    val hashEx = p.linesIterator.count(l =>
      l.trim.startsWith("Arguments: hashpartitioning("))
    assert(hashEx == 1, s"want exactly 1 hash exchange, got $hashEx:\n$p")
    assert(!p.contains("SinglePartition"), p)
  }

  test("q_main_content: one native map, zero hash exchanges, no join") {
    val p = plan(HtmlOps.mainContent(spreadNeutralDocs))
    // the segment scorer is ONE codegen'd expression per row — a
    // Column-chain form would re-inline under Catalyst (the url_resolve
    // lesson, applied at design time)
    assert(p.contains("main_content"), p)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    // pure map: the only exchange is the presentation sort
    val hashEx = p.linesIterator.count(l =>
      l.trim.startsWith("Arguments: hashpartitioning("))
    assert(hashEx == 0, s"want 0 hash exchanges, got $hashEx:\n$p")
    assert(!p.contains("SinglePartition"), p)
  }

  test("q_image_pairs / q_media_pairs: row-level extract, one distinct exchange, no join") {
    for (df <- Seq(HtmlOps.imagePairs(Tables.documents(spark, sfDir)),
      HtmlOps.mediaPairs(Tables.documents(spark, sfDir)))) {
      val p = plan(df)
      // pair mining is a pure per-page extract: generators + native
      // url_resolve, ONE hash exchange (the distinct), and no join of
      // any kind — at 100 TB the whole mine is map-side
      assert(p.contains("url_resolve"), p)
      assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
      val hashEx = p.linesIterator.count(l =>
        l.trim.startsWith("Arguments: hashpartitioning("))
      assert(hashEx == 1, s"want exactly 1 hash exchange, got $hashEx:\n$p")
      assert(!p.contains("SinglePartition"), p)
    }
  }

  test("dataset builders: url/hash-keyed equi-joins only — no cartesian, no nested loop") {
    for (df <- Seq(HtmlOps.imageDataset(Tables.documents(spark, sfDir)),
      HtmlOps.mediaDataset(Tables.documents(spark, sfDir)),
      HtmlOps.videoDataset(Tables.documents(spark, sfDir)))) {
      val p = plan(df)
      // the builder is mine → payload join (canonical URL) → hash join
      // (64-bit id) → cluster agg: every join must stay an equi-join —
      // a nested loop over a 100 TB pair corpus would be the bill
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p)
    }
  }

  test("q_substring_excise: fingerprint- and doc-keyed exchanges only, no cartesian") {
    val p = plan(DedupOps.substringExcise(Tables.documents(spark, sfDir)))
    // the native expressions do the heavy lifting row-level
    assert(p.contains("winnow_fingerprints") && p.contains("winnow_cut_spans"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SinglePartition"), p)
    // every exchange keys on the fingerprint or the doc id — segment
    // text never rides a shuffle (the q_boilerplate rule)
    val keys = "hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.nonEmpty, p)
    keys.foreach { k =>
      assert(k.contains("f#") || k.contains("doc_id#"), s"unexpected key: $k")
    }
  }

  test("q_anchor_text: every exchange keys on the target url; no cartesian") {
    val p = plan(HtmlOps.anchorText(spreadNeutralDocs))
    // the two-pass MR anchor job: per-text counts, top-spelling argmax,
    // distinct-source counts — every shuffle must key on dst_url so the
    // branches share AQE-reusable partitioning at 100 TB
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SinglePartition"), p)
    val keys = "hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.nonEmpty, p)
    keys.foreach { k =>
      assert(k.contains("dst_url#"), s"exchange not keyed on dst_url: $k")
    }
  }

  test("q_meta_og: pure head-field map, zero hash exchanges, no join") {
    val p = plan(HtmlOps.metaOg(spreadNeutralDocs))
    assert(p.contains("url_resolve"), p) // og:image rides the native resolver
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    val hashEx = p.linesIterator.count(l =>
      l.trim.startsWith("Arguments: hashpartitioning("))
    assert(hashEx == 0, s"want 0 hash exchanges, got $hashEx:\n$p")
    assert(!p.contains("SinglePartition"), p)
  }

  test("q_jsonld: extract + real JSON parse as a pure map, zero hash exchanges") {
    val p = plan(HtmlOps.jsonLd(Tables.documents(spark, sfDir)))
    assert(p.contains("from_json"), p) // a real parser, not regex mimicry
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    val hashEx = p.linesIterator.count(l =>
      l.trim.startsWith("Arguments: hashpartitioning("))
    assert(hashEx == 0, s"want 0 hash exchanges, got $hashEx:\n$p")
    assert(!p.contains("SinglePartition"), p)
  }

  test("quality gates (q_gopher / q_c4_clean): pure maps, zero hash exchanges") {
    for (df <- Seq(TextOps.gopher(Tables.documents(spark, sfDir)),
      TextOps.c4Clean(Tables.documents(spark, sfDir)))) {
      val p = plan(df)
      // both published cleaning recipes must stay free riders on the
      // ingest scan — a shuffle here would bill the whole corpus
      assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
      val hashEx = p.linesIterator.count(l =>
        l.trim.startsWith("Arguments: hashpartitioning("))
      assert(hashEx == 0, s"want 0 hash exchanges, got $hashEx:\n$p")
      assert(!p.contains("SinglePartition"), p)
    }
  }

  test("q_noindex: pure directive map, zero hash exchanges, no join") {
    val p = plan(HtmlOps.noindexFlags(Tables.documents(spark, sfDir)))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    val hashEx = p.linesIterator.count(l =>
      l.trim.startsWith("Arguments: hashpartitioning("))
    assert(hashEx == 0, s"want 0 hash exchanges, got $hashEx:\n$p")
    assert(!p.contains("SinglePartition"), p)
  }

  test("q_feeds: hosts-bounded triage — no cartesian, no single-partition stage") {
    val p = plan(CrawlOps.feeds(Tables.documents(spark, sfDir)))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("contamination screens: cross-probes stay collision-bounded, no cartesian") {
    for (df <- Seq(
      MultimodalOps.contaminationImage(Tables.documents(spark, sfDir)),
      MultimodalOps.contaminationAudio(Tables.documents(spark, sfDir)),
      AviOps.contaminationVideo(Tables.documents(spark, sfDir)))) {
      val p = plan(df)
      // eval probes the corpus hash table via (piece, value) collisions —
      // an n² media comparison (or a nested loop) would be the 100 TB bill
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p)
      assert(!p.contains("SinglePartition"), p)
    }
  }

  test("hash-cluster candidates: (piece, value)-keyed join, no cartesian, no single partition") {
    import spark.implicits._
    // the pair-candidate stage EVERY perceptual-dedup representative
    // routes through (hashClusterRepresentative: image row 131, audio
    // row 132, video row 139/140): proven-by-measurement family, pinned
    // here so a refactor can never regress it to an n² comparison.
    val fp = (0L until 64L).map(i => (i, i * 0x0101010101010101L))
      .toDF("doc_id", "simhash")
    val p = plan(DedupOps.simhashBlockCandidates(fp, pieceBits = 16)
      .filter(org.apache.spark.sql.functions.col("hamming") <= 3))
    // candidates come from piece-key COLLISIONS — never a cartesian or
    // nested-loop pass over the hash universe
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // and never a drain to one partition — the stage must scale out
    assert(!p.contains("SinglePartition"), p)
    // the join keys are the (piece index, piece value) pair — a doc- or
    // hash-keyed join here would mean the blocking key was lost and the
    // stage degenerated. On a toy frame the small side broadcasts (the
    // join KEYS are the invariant, not the exchange); at corpus scale
    // the same keys hash-partition both sides.
    val joinKeys = "(?:Left|Right) keys \\[2\\]: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(joinKeys.size == 2, p)
    joinKeys.foreach { k =>
      assert(k.matches("p#\\d+, v#\\d+L?"),
        s"non-(piece,value)-keyed join: $k\n$p")
    }
    // any hash exchange that does appear must also key on (p, v)
    "hashpartitioning\\(([^)]*)\\)".r.findAllMatchIn(p).map(_.group(1))
      .foreach { k =>
        assert(k.contains("p#") && k.contains("v#"),
          s"non-(piece,value)-keyed exchange: $k\n$p")
      }
  }

  test("q_boilerplate: exchanges key on the digest, never the raw segment text") {
    val p = plan(DedupOps.boilerplate(Tables.documents(spark, sfDir)))
    // every hashpartitioning key set must mention seg_hash and not seg —
    // the segment text may ride as an aggregated VALUE (the survivor
    // join-back), but a text-keyed exchange is the 100 TB killer
    val keys = "hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.nonEmpty, p)
    keys.foreach { k =>
      assert(!"(^|[ (])seg#".r.findFirstIn(k).isDefined, s"seg-keyed exchange: $k")
    }
    // the k-survivor text join-back is a broadcast, not a shuffle join
    assert(p.contains("BroadcastHashJoin"), p)
  }
}
