package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.functions.TextFuns

/** Corpus-level training-data-pipeline operators (SURVEY.md §2-B rows
  * 36–40): deterministic sampling, corpus statistics, TF-IDF, and the
  * composed keep-set filter a real 100 TB ingest runs end-to-end.
  *
  * Design rules match the rest of the B-block: row-level codegen'd
  * expressions wherever possible, aggregation shuffles carry partials
  * only, and every random-looking choice (sampling) is a deterministic
  * hash so reruns and retries agree.
  */
object CorpusOps {

  /** Per-language sampling-rate band: md5-prefix upper bound (hex).
    * 'en' is the over-represented stratum in this corpus → 12.5 %
    * ("< 20"); everything else keeps 50 % ("< 80"). */
  val SampleBands: Map[String, String] = Map("en" -> "20").withDefaultValue("80")

  /** The 2-hex-char md5 prefix of a value — the deterministic uniform
    * draw in exact 256ths behind [[sample]], [[splitOf]] and
    * [[upsample]]'s fractional epochs. */
  private def md5Band(c: Column): Column =
    substring(md5(c.cast("string").cast("binary")), 1, 2)

  /** §2-36 `q_sample`: deterministic stratified downsampling — the
    * rebalance step of a training mix. The keep/drop decision is the md5
    * of the doc id against a per-stratum threshold: a pure row-level
    * predicate (no shuffle, no RNG), so it pushes into the scan, reruns
    * identically on retries, and at 100 TB "take an X% stratified sample"
    * costs one filtered pass. */
  def sample(documents: DataFrame): DataFrame = {
    val key = md5Band(col("doc_id"))
    documents
      .filter(
        when(col("lang") === "en", key < SampleBands("en"))
          .otherwise(key < SampleBands("other")))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** Split-band upper bounds on the 2-hex-char md5 prefix: < cc → train
    * (204/256 ≈ 79.7%), < e6 → val (26/256 ≈ 10.2%), else test
    * (26/256 ≈ 10.2%). */
  val TrainBand = "cc"
  val ValBand = "e6"

  /** §2-67 `q_split`: deterministic train/val/test assignment — the split
    * step every training pipeline runs before anything else. The split is
    * a pure function of the doc id (md5-prefix bands, like [[sample]]):
    * a row-level predicate with no shuffle, no RNG state, no global sort.
    * That purity is the scale contract: reruns and speculative retries
    * agree; the corpus can GROW and every existing doc keeps its split
    * (an ntile/percent_rank split would reshuffle assignments on every
    * ingest — leaking yesterday's val docs into today's train set); and a
    * doc's split can be recomputed anywhere without consulting an
    * assignment table. */
  def split(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("lang"), col("source"),
        splitOf(col("doc_id")).as("split"))
      .orderBy("doc_id")

  /** The split assignment as a pure column expression over the doc id —
    * exactly what makes it recomputable anywhere: [[splitLeakage]]
    * derives each band row's split without joining back to an
    * assignment table. */
  def splitOf(docId: Column): Column = {
    val key = md5Band(docId)
    when(key < TrainBand, "train")
      .when(key < ValBand, "val")
      .otherwise("test")
  }

  /** §2-71 `q_split_leakage`: train→eval contamination audit — val/test
    * docs that are MinHash-band near-dups of a train doc. A dedup pass
    * that ran BEFORE splitting still leaves this exposure (near-dups
    * below the dedup threshold, or docs ingested after the split froze),
    * and an eval set whose members have train-side near-twins measures
    * memorization, not generalization — this is the audit every
    * training-data release runs against its own splits.
    *
    * Same blocked shape as [[DedupOps.dedupIncremental]] with the split
    * standing in for the batch boundary: each side's split is
    * re-derived row-level from doc_id ([[splitOf]] — no assignment-table
    * join), and candidates are cross-split band collisions only. At
    * 100 TB the train side is the persisted (band, key)-bucketed index;
    * only the eval slice moves.
    *
    * (k, bands) size the MinHash band index the audit probes — defaults
    * are the fixture contract the oracle mirrors; a production
    * 0.8-threshold audit passes [[DedupOps.MinhashKWide]]/
    * [[DedupOps.BandsWide]] (spec'd on planted cross-split near-dups in
    * PipelineOpsSpec). */
  def splitLeakage(documents: DataFrame,
                   k: Int = DedupOps.MinhashK,
                   bands: Int = DedupOps.Bands): DataFrame = {
    val bk = DedupOps.minhashBandKeys(documents, k, bands)
      .withColumn("split", splitOf(col("doc_id")))
    bk.filter(col("split") === "train").as("t")
      .join(bk.filter(col("split") =!= "train").as("e"),
        col("e.band") === col("t.band") && col("e.key") === col("t.key"))
      .select(col("e.doc_id").as("doc_eval"), col("e.split").as("split"),
        col("t.doc_id").as("doc_train"))
      .distinct()
      .orderBy("doc_eval", "doc_train")
  }

  /** One row per token-trigram OCCURRENCE keyed by `key`: (key, ngram).
    * The single shingle definition shared by [[ngramCounts]],
    * [[repetition]] (doc_id-keyed) and [[sourceOverlap]] (source-keyed);
    * mirrored once in [[trigramSql]] for the oracles. */
  private def tokenTrigrams(documents: DataFrame,
                            key: String = "doc_id"): DataFrame =
    documents
      .select(col(key), TextFuns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col(key), explode(expr(
        "transform(sequence(1, size(toks) - 2), " +
          "i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))")).as("ngram"))

  /** §2-37 `q_ngram_counts`: corpus-wide token-trigram frequencies, top 50
    * with deterministic ties. The explode shuffles (shingle → count)
    * partials only; the final top-N is TakeOrderedAndProject. This is the
    * vocabulary/contamination-scan shape: at 100 TB the agg key space is
    * the distinct-shingle set, bounded by vocabulary, not corpus size. */
  def ngramCounts(documents: DataFrame, topK: Int = 50): DataFrame =
    tokenTrigrams(documents)
      .groupBy("ngram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram").asc)
      .limit(topK)

  /** §2-38 `q_tfidf`: each document's top term by TF-IDF.
    *
    * tf = in-doc term count; df = docs containing the term; idf =
    * ln((N+1)/(df+1)). Three aggregations, all on keys whose cardinality
    * is vocabulary-bounded; N broadcasts as a 1-row aggregate. Ranking
    * uses the 6-dp-ROUNDED score (cross-engine: ln is libm, 1-ulp) with
    * the term as tiebreak, so the row_number is deterministic in both
    * engines. */
  def tfidf(documents: DataFrame): DataFrame = {
    // tf feeds BOTH the df aggregation and the scoring join — without a
    // checkpoint Catalyst recomputes the tokenize+count subtree once per
    // branch (measured: 6 parquet scans and the explode+agg run twice)
    val tf = documents
      .select(col("doc_id"), explode(TextFuns.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .transform(Materialize(_, eager = false))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = documents.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 6))
    // argmax as ONE partial-aggregatable struct-min (score desc, term asc
    // ≡ (-score, term) struct ordering) — no window, no per-doc sort:
    // the shuffle carries one candidate per (partition, doc) instead of
    // every (doc, term) row through a sort. Negation is a sign-bit flip,
    // so the recovered score is bit-identical to the oracle's.
    scored
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("tfidf")).as("neg"), col("term").as("term")))
        .as("m"))
      .select(col("doc_id"), col("m.term").as("top_term"),
        (-col("m.neg")).as("tfidf"))
      .orderBy("doc_id")
  }

  /** Benchmark retrieval query for [[bm25]] — fixed, like [[Probes]]. */
  val Bm25Query: Seq[String] = Seq("the", "spark", "fast", "stream")

  /** The q9-quantized per-term BM25 score as a SQL fragment over the
    * (tf, dl, df, d_total, t_total) columns, for RATIONAL k1 = k1n/k1d
    * and b = bn/bd — the [[bm25]] scaladoc's integer identity re-derived
    * generically: multiplying idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))
    * through by k1d·bd·T gives
    *
    *   (2N−2df+1) · A·T·tf / [(2df+1) · (B·T·tf + C·T + D·dl·N)]
    *
    * with A = (k1n+k1d)·bd, B = k1d·bd, C = k1n·(bd−bn), D = k1n·bn —
    * reduced by gcd(A,B,C,D) so the default (6/5, 3/4) emits the
    * historical 22/10/3/9 constants verbatim (exact `div` is invariant
    * to a common factor, but smaller constants keep the DECIMAL(38)
    * overflow contract: the numerator's digit budget grows with
    * digits(A), so exotic (k1, b) rationals shrink the corpus bound
    * documented at [[bm25]]). Shared by [[bm25]] and [[bm25Multi]] so
    * the single- and multi-probe scorers can never drift. */
  private def bm25ScoreQ9Expr(k1n: Long, k1d: Long, bn: Long, bd: Long)
      : String = {
    require(k1n >= 0 && k1d > 0 && bn >= 0 && bn <= bd,
      s"need k1 = $k1n/$k1d >= 0 and 0 <= b = $bn/$bd <= 1")
    @annotation.tailrec def gcd(a: Long, b: Long): Long =
      if (b == 0) a else gcd(b, a % b)
    val (a0, b0, c0, d0) =
      ((k1n + k1d) * bd, k1d * bd, k1n * (bd - bn), k1n * bn)
    val g = Seq(b0, c0, d0).foldLeft(a0)(gcd)
    s"cast((cast(2*d_total - 2*df + 1 as decimal(38,0)) * ${a0 / g} * t_total" +
      s" * tf * 1000000000) div " +
      s"(cast(2*df + 1 as decimal(38,0)) * (${b0 / g} * cast(t_total as decimal(38,0))" +
      s" * tf + ${c0 / g} * t_total + ${d0 / g} * cast(dl as decimal(38,0))" +
      s" * d_total)) as bigint)"
  }

  /** §2-81 `q_bm25`: BM25 retrieval scoring — rank documents against a
    * query term set by the classic tf·idf retrieval function with
    * document-length normalization. (k1, b) are RATIONAL parameters
    * (k1Num/k1Den, bNum/bDen — defaults 6/5 and 3/4, the classic
    * 1.2/0.75): the exactness identity below re-derives for any such
    * rationals in [[bm25ScoreQ9Expr]], so tuning stays hash-exact. The
    * text-side twin of the ANN search family: the same "best matches in
    * the corpus" capability over TOKENS instead of embeddings — and
    * what a contamination triage or eval-example retrieval runs at
    * curation time.
    *
    * Exactness: textbook BM25 idf is a log — a libm call whose last ulp
    * is engine-specific (the one class of float op this repo keeps out
    * of hash compares). This operator uses the raw-odds idf
    * (N − df + ½)/(df + ½) = (2N − 2df + 1)/(2df + 1): the same
    * monotone df-ordering, log-free. With k1 = 6/5, b = 3/4 and
    * avgdl = T/D, the per-term score
    *   idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    * multiplies out to the integer ratio
    *   (2N−2df+1)·22·T·tf / [(2df+1)·(10·T·tf + 3·T + 9·dl·D)]
    * quantized to q9 micro-units by ONE exact integer division
    * (`div` / `//` on non-negative DECIMAL operands — identical in
    * both engines), and the per-doc score is an exact int64 sum of q9
    * terms. No float op exists anywhere in the query, so the ranking
    * AND the scores hash-match DuckDB bit for bit.
    *
    * Overflow contract: tf SATURATES at 255 (`least(tf, 255)`, the
    * Lucene-style impact cap — BM25's tf component is within 0.5% of
    * its k1+1 asymptote by then, and the cap is identical in both
    * engines so it is part of the scored definition, not an
    * approximation of it). With the cap, the numerator's digit count
    * is ≤ digits(2N)+2+digits(T)+3+9 — at a 10¹³-token, 10⁹-doc
    * corpus that is 38, the DECIMAL(38) edge, and anything smaller
    * has headroom; WITHOUT the cap a single spam doc with tf ~ 10⁵
    * would push the product past 38 digits, where Spark's non-ANSI
    * decimal overflow yields NULL and silently drops the term while
    * DuckDB's HUGEINT raises — a silent cross-engine divergence.
    *
    * Scale shape: the exploded token stream filters to QUERY terms at
    * the map side — only matches reach the (doc, term) shuffle, so the
    * wire cost is O(query-term occurrences), not O(corpus tokens); dl
    * rides the explode (min(dl) per group — no join-back to the
    * corpus); df (≤ |query| rows) and the (D, T) totals broadcast;
    * top-N compiles to TakeOrderedAndProject. */
  def bm25(documents: DataFrame, queryTerms: Seq[String] = Bm25Query,
           topN: Int = 20,
           k1Num: Long = 6L, k1Den: Long = 5L,
           bNum: Long = 3L, bDen: Long = 4L): DataFrame = {
    val toks = TextFuns.tokens(col("text"))
    val totals = documents
      .agg(count(lit(1)).as("d_total"),
        sum(size(toks).cast("long")).as("t_total"))
    val tf = documents
      .select(col("doc_id"), size(toks).as("dl"), explode(toks).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(least(count(lit(1)), lit(255L)).as("tf"), min(col("dl")).as("dl"))
      // feeds BOTH the score join and the df agg, and AQE does not
      // dedupe identical subtrees (the round-5 lesson) — without this
      // the corpus explode+filter runs twice; the checkpointed frame is
      // (matched docs × query terms) rows, tiny
      .transform(Materialize(_, eager = false))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf
      .join(broadcast(dft), "term")
      .crossJoin(broadcast(totals))
      .withColumn("score_q9",
        expr(bm25ScoreQ9Expr(k1Num, k1Den, bNum, bDen)))
      .groupBy(col("doc_id"))
      .agg(sum(col("score_q9")).cast("bigint").as("score_q9"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score_q9").desc, col("doc_id").asc)
      .limit(topN)
  }

  /** §2-85 `q_bm25_multi`: BM25 retrieval for a QUERY TABLE — every probe
    * ranked against the corpus in one plan (the realistic
    * decontamination-triage / eval-retrieval shape: the whole probe
    * suite runs at once, not query-by-query). Scoring is [[bm25]]'s
    * log-free rational form verbatim — raw-odds idf, k1 = 6/5, b = 3/4,
    * the tf ⊓ 255 saturation cap, one exact integer division to q9 —
    * so every (probe, doc) score is hash-exact; the per-probe top-N is
    * a row_number window over the POST-aggregation (probe, doc) frame
    * (the q_topk_per_group shape — bounded by probes × matched docs,
    * never corpus-sized).
    *
    * Scale: the corpus token stream joins the BROADCAST distinct probe
    * vocabulary (a map-side hash-join filter — only term matches reach
    * the (doc, term) shuffle, the [[bm25]] story with a dynamic term
    * set); tf/df/totals compute ONCE across all probes and fan out to
    * (probe, doc) pairs by the tiny broadcast (probe, term) map. */
  def bm25Multi(documents: DataFrame, probes: DataFrame,
                topN: Int = 5,
                k1Num: Long = 6L, k1Den: Long = 5L,
                bNum: Long = 3L, bDen: Long = 4L): DataFrame = {
    val toks = TextFuns.tokens(col("text"))
    val pt = probes
      .select(col("probe"), explode(TextFuns.tokens(col("probe"))).as("term"))
      .distinct()
    val totals = documents
      .agg(count(lit(1)).as("d_total"),
        sum(size(toks).cast("long")).as("t_total"))
    val tf = documents
      .select(col("doc_id"), size(toks).as("dl"), explode(toks).as("term"))
      .join(broadcast(pt.select("term").distinct()), "term")
      .groupBy(col("doc_id"), col("term"))
      .agg(least(count(lit(1)), lit(255L)).as("tf"), min(col("dl")).as("dl"))
      // feeds the score join AND the df agg (the AQE no-subtree-dedup
      // lesson); (matched docs × probe vocabulary) rows, tiny
      .transform(Materialize(_, eager = false))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dft), "term")
      .join(broadcast(pt), "term")
      .crossJoin(broadcast(totals))
      .withColumn("score_q9",
        expr(bm25ScoreQ9Expr(k1Num, k1Den, bNum, bDen)))
      .groupBy(col("probe"), col("doc_id"))
      .agg(sum(col("score_q9")).cast("bigint").as("score_q9"),
        count(lit(1)).as("n_terms"))
    scored
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("probe")
          .orderBy(col("score_q9").desc, col("doc_id").asc)))
      .filter(col("rank") <= topN)
      .select(col("probe"), col("rank"), col("doc_id"), col("score_q9"),
        col("n_terms"))
      .orderBy("probe", "rank")
  }

  /** [[bm25Multi]] with the benchmark [[Probes]] as the query table. */
  def bm25Multi(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    bm25Multi(documents, Probes.toDF("probe"))
  }

  /** §2-74 `q_lm_score`: statistical-LM quality scoring — each document's
    * mean next-token probability under a bigram MLE model fit on the
    * corpus itself (the CCNet-style "does this read like the corpus"
    * filter signal; low scores flag gibberish/outlier docs for the
    * quality gate alongside [[graft.operators.TextOps.quality]]).
    *
    * p(w2|w1) = c(w1 w2) / c(w1·) with both counts taken over the bigram
    * table, so the model is exact MLE and every probability is a small
    * rational. Cross-engine exactness: each p is quantized to p6 =
    * round(10⁶·n2/n1) via the integer identity (2a + b) div (2b) on
    * non-negative operands (no float division — the q_quantize pattern),
    * per-doc sums stay int64 (p6 ≤ 10⁶), and `lm_score` is ONE final
    * IEEE division of identical exact operands in both engines.
    * No-overflow bound: 2·10⁶·n2 + n1 needs n2 ≤ ~4.6·10¹² — a single
    * bigram occurring 4.6 trillion times; a 100 TB corpus holds ~10¹³
    * tokens total, so only a degenerate one-token corpus could approach
    * it (documented, not guarded).
    *
    * Plan shape at 100 TB: ONE scan+explode of the corpus into the
    * bigram stream (lazily materialized — it feeds the count
    * aggregation AND the probe side, and AQE does not dedupe repeated
    * subtrees, so without it the corpus would be scanned three times);
    * c2 is a vocabulary²-bounded aggregation with map-side partials; c1
    * derives from c2, never re-touching the corpus; the score join
    * shuffles on bigram keys — skew-safe under AQE since hot bigrams
    * hash-spread across c2 partitions. Docs with < 2 tokens have no
    * bigram and drop out (mirrored by the oracle's len filter). */
  def lmScore(documents: DataFrame): DataFrame =
    lmScored(documents).orderBy("doc_id")

  /** [[lmScore]] without the trailing presentational sort — the form
    * [[curateFullOf]] joins mid-pipeline (the curate/curated
    * convention). */
  private[graft] def lmScored(documents: DataFrame): DataFrame = {
    val bigrams = documents
      .select(col("doc_id"), TextFuns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> struct(toks[i-1] AS w1, toks[i] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .transform(Materialize(_, eager = false))
    val c2 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("n2"))
    val c1 = c2.groupBy("w1").agg(sum(col("n2")).as("n1"))
    bigrams
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .select(col("doc_id"),
        expr("(2000000 * n2 + n1) div (2 * n1)").as("p6"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p6")).as("sum_p6"))
      .withColumn("lm_score",
        col("sum_p6").cast("double") / (col("n_bigrams") * lit(1000000.0d)))
  }

  /** §2-39 `q_rollup`: multi-granularity corpus accounting — doc counts
    * and exact char sums per (source, lang), per source, and grand total
    * in ONE pass via ROLLUP (Spark plans a single Expand + one shuffle;
    * no re-scan per granularity). The per-source/per-language mix report
    * every dataset card needs. `gid` (grouping_id) marks which level a
    * row belongs to — without it a genuine NULL data value would be
    * indistinguishable from a subtotal row (and the ordered compare
    * nondeterministic); it also joins the sort key for exactly that
    * reason. */
  def rollup(documents: DataFrame): DataFrame =
    documents
      .rollup(col("source"), col("lang"))
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("source"), col("lang"), col("gid"),
        col("n_docs"), col("sum_chars"))
      .orderBy(asc_nulls_first("source"), asc_nulls_first("lang"), col("gid"))

  /** §2-48 `q_cube`: CUBE over (source, lang) — every grouping-set
    * combination incl. the lang-only marginals ROLLUP lacks, still ONE
    * pass (single Expand ×4 + one shuffle). Same null-disambiguation
    * (`gid`) and ordering contract as [[rollup]]. */
  def cube(documents: DataFrame): DataFrame =
    documents
      .cube(col("source"), col("lang"))
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("source"), col("lang"), col("gid"),
        col("n_docs"), col("sum_chars"))
      .orderBy(asc_nulls_first("source"), asc_nulls_first("lang"), col("gid"))

  /** §2-68 `q_source_overlap`: pairwise content overlap between sources —
    * trigram-set Jaccard per (source_a, source_b), the mixing diagnostic
    * that tells a data-mixing step which "distinct" sources are actually
    * the same crawl twice (weights double-count them) before any dedup
    * runs.
    *
    * Never a doc×doc or source×source content comparison: distinct
    * (source, trigram) first — a frame bounded by |vocabulary³| × sources
    * regardless of corpus size — then an inverted-index self-join on the
    * trigram. The pre-agg join output is Σ_ngram C(sources sharing it, 2)
    * ≤ vocab-trigrams × C(S, 2), again corpus-size-free, and the per-pair
    * count agg reduces map-side. The final |A|+|B| denominator join runs
    * over the S-row and C(S,2)-row frames (broadcast). Zero-overlap pairs
    * are kept (LEFT join ← the all-pairs source dim): "no overlap" is a
    * finding, not a missing row. */
  def sourceOverlap(documents: DataFrame): DataFrame = {
    val sh = tokenTrigrams(documents, key = "source").distinct()
    // ONE corpus pass: per-trigram ordered source list. Everything below
    // consumes this vocab-bounded frame, so the corpus-sized explode +
    // distinct never runs twice (a naive sizes-agg + inverted self-join
    // formulation plans FOUR independent corpus scans — measured, and
    // ReuseExchange does not rescue it); the lazy materialization
    // materializes the frame once at the first action. sort_array makes
    // the set order deterministic; the combination fan-out below is
    // C(sources-sharing, 2) per trigram — the same pair volume the
    // inverted-index join would emit, without the join.
    val byNgram = sh.groupBy("ngram")
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .transform(Materialize(_, eager = false))
    // the pair dim comes from the DOCUMENTS, not the trigram stream: a
    // source whose every doc is shorter than one trigram must still
    // appear in every one of its pairs (n = 0) — "no overlap" is a
    // finding, not a missing row
    val srcs = documents.select(col("source")).distinct()
    val counts = byNgram
      .select(explode(col("srcs")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("cnt"))
    val sizes = srcs.join(counts, Seq("source"), "left")
      .select(col("source"), coalesce(col("cnt"), lit(0L)).as("n"))
    val inter = byNgram
      .select(explode(expr(
        "flatten(transform(srcs, (x, i) -> " +
          "transform(slice(srcs, i + 2, size(srcs)), " +
          "y -> named_struct('sa', x, 'sb', y))))")).as("p"))
      .groupBy(col("p.sa").as("sa"), col("p.sb").as("sb"))
      .agg(count(lit(1)).as("c"))
    val common = coalesce(col("i.c"), lit(0L))
    val union = col("x.n") + col("y.n") - common
    sizes.as("x")
      .join(broadcast(sizes.as("y")), col("x.source") < col("y.source"))
      .join(broadcast(inter.as("i")),
        col("i.sa") === col("x.source") && col("i.sb") === col("y.source"),
        "left")
      .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
        common.as("n_common"),
        // two empty trigram sets → 0/0; "no content" = "no overlap"
        when(union === 0, lit(0.0))
          .otherwise(round(common.cast("double") / union, 6)).as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Chunking geometry: window of [[ChunkTokens]] tokens every
    * [[ChunkStride]] (overlap = ChunkTokens − ChunkStride). */
  val ChunkTokens = 32
  val ChunkStride = 24

  /** §2-54 `q_chunks`: split every document into fixed-token-count
    * overlapping chunks — the context-window preparation step of a
    * pretraining pipeline. Chunk starts are a row-level stepped
    * `sequence`, the chunk itself a `slice` of the token array: explode
    * multiplies rows by ~n_tokens/stride but the chunking itself is a
    * pure map — the only Exchange in the plan is the final presentation
    * `orderBy` (same convention as every sibling operator; at 100 TB you
    * write the chunks unsorted and the cost is one read + one write).
    * Short final windows are kept (standard practice — the tail tokens
    * still train). */
  def chunks(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), TextFuns.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(expr(s"sequence(0, size(toks) - 1, $ChunkStride)")).as("st"),
        col("toks"))
      .select(col("doc_id"),
        expr(s"st DIV $ChunkStride").cast("int").as("chunk_id"),
        expr(s"slice(toks, st + 1, $ChunkTokens)").as("chunk"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).as("n_chunk_tokens"),
        concat_ws(" ", col("chunk")).as("chunk_text"))
      .orderBy("doc_id", "chunk_id")

  /** Token budget of one packed training sequence. */
  val PackBudget = 256

  /** §2-56 `q_pack`: sequence packing — assign consecutive documents of
    * each source to ~[[PackBudget]]-token training sequences (the
    * standard pretraining move: short docs are concatenated so no
    * context-window tokens are wasted). Declarative greedy: a running
    * token count per source (ONE window cumsum, partition-local after
    * the source shuffle) and `pack_id = tokens-before DIV budget` — a
    * doc straddling a boundary stays in the earlier pack (truncation is
    * the trainer's call). Per-(source, pack) accounting comes out of the
    * same pass. Scales: the window partitions by source (the shard key
    * of a real corpus layout), never globally.
    *
    * `tokenCount` is the budgeting unit — default whitespace tokens
    * (the oracle contract); pass [[BpeOps.bpeTokenCount]] (with the
    * merges array in scope) to pack in trained-tokenizer units, the
    * count a trainer actually pays for (spec-asserted in BpeSpec). */
  def pack(documents: DataFrame,
           tokenCount: Column = size(TextFuns.tokens(col("text")))
             .cast("long")): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents
      .select(col("doc_id"), col("source"),
        tokenCount.as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      // integer DIV, not double `/`+cast: double division can land within
      // one ulp ABOVE an integer boundary for large cumulative counts and
      // truncate to the wrong pack (exact today only while the budget is
      // a power of two); the oracle's `//` is integer floor division
      .withColumn("pack_id", expr(s"(cum - n_tokens) DIV $PackBudget"))
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("bigint").as("pack_tokens"),
        min(col("doc_id")).as("first_doc_id"))
      .orderBy("source", "pack_id")
  }

  /** Per-source sample size for [[groupSample]]. */
  val GroupSampleK = 10

  /** §2-57 `q_group_sample`: deterministic k-per-group sample — the
    * "inspect k docs from every source" eval-subset builder. Hash order
    * (md5 of the doc id) makes it a uniform-ish, rerun-stable draw;
    * row_number over the per-source frame keeps the sort partition-local
    * (no global order). The same shape at 100 TB: one source shuffle,
    * k rows per group out. */
  def groupSample(documents: DataFrame, k: Int = GroupSampleK): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    documents
      .select(col("doc_id"), col("source"), col("lang"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .orderBy("source", "rk")
  }

  /** Per-source token budget for [[tokenBudgetSample]] — sized so the
    * budget BITES at every test SF (sources carry ≈1.3k tokens at sf0.01):
    * a budget above the per-source total would make the oracle vacuous. */
  val TokenBudget = 800L

  /** §2-61 `q_token_budget`: token-budgeted mixture sampling — the data-
    * mixing step of a pretraining corpus: "take N tokens from every
    * source". Docs are drawn in deterministic hash order (md5 of the doc
    * id — uniform-ish, rerun-stable, like [[groupSample]]) and kept while
    * the budget isn't exhausted: a doc is in iff the tokens BEFORE it are
    * under the budget, so the mix overshoots by at most one document
    * (truncation is the trainer's call, same contract as [[pack]]'s
    * boundary). ONE window cumsum partitioned by source — the shard key —
    * so at 100 TB this is a single source-shuffle pass; per-source budgets
    * that differ (mixture WEIGHTS) are a map over this same shape. */
  def tokenBudgetSample(documents: DataFrame,
                        budget: Long = TokenBudget): DataFrame =
    budgetFiltered(documents, lit(budget))

  /** Mixture weights for [[tokenBudgetSampleWeighted]] — deliberately
    * asymmetric (¼× and 2× the default) so the weighted draw visibly
    * diverges from the uniform one and the oracle bites per source. */
  val WeightedBudgets: Map[String, Long] = Map(
    "src0" -> 200L, "src1" -> 200L, "src2" -> 1600L, "src3" -> 1600L)

  /** §2-65 `q_token_budget_weighted`: [[tokenBudgetSample]] with
    * per-source mixture WEIGHTS — "2× src2, ¼× src0, default the rest" —
    * the actual data-mixing knob. The budget map rides into the plan as
    * a literal map column (`element_at` lookup per row — broadcast-sized
    * by definition: one entry per source shard, no join, no extra
    * shuffle), so the plan is bit-for-bit the same single
    * source-partitioned window cumsum as the uniform draw. */
  def tokenBudgetSampleWeighted(documents: DataFrame,
                                budgets: Map[String, Long] = WeightedBudgets,
                                defaultBudget: Long = TokenBudget): DataFrame =
    budgetFiltered(documents,
      coalesce(element_at(typedlit(budgets), col("source")),
        lit(defaultBudget)))

  /** Per-source epoch weights for [[upsample]]: full repeats + a
    * fractional final epoch in EXACT 256ths (the 2-hex-char md5-prefix
    * band, like [[SampleBands]]), so the draw is bit-reproducible across
    * engines. src0 ×2.5 (over-sample the "high-quality" source), src1
    * ×0.25 (down-weight), everything else ×1. */
  val UpsampleFull: Map[String, Int] = Map("src0" -> 2, "src1" -> 0)
  val UpsampleFracBand: Map[String, String] = Map("src0" -> "80", "src1" -> "40")

  /** §2-69 `q_upsample`: mixture-epoch materialization — repeat each
    * source's docs `w` times (w = full epochs + a fractional epoch, e.g.
    * ×2.5 → every doc twice, half the docs a third time), emitting
    * (doc_id, source, epoch) rows. [[tokenBudgetSampleWeighted]] caps a
    * source DOWN to a budget; this is the other half of the mixing knob —
    * sampling a source UP past one epoch, the "books ×3, web ×0.5" step
    * that turns mixture weights into a physical training set.
    *
    * Pure map at any scale: the epoch fan-out is a row-level
    * `explode(sequence(...))` (a Generate — no shuffle, no join back),
    * and the fractional-epoch draw is the same deterministic
    * md5-of-(id, epoch) band as [[sample]] — rerun-stable, co-located
    * with the doc, and independent across epochs so the fractional
    * epoch is an unbiased sample. */
  def upsample(documents: DataFrame,
               full: Map[String, Int] = UpsampleFull,
               fracBand: Map[String, String] = UpsampleFracBand): DataFrame = {
    require(full.values.forall(_ >= 0), s"full epochs must be >= 0: $full")
    require(fracBand.values.forall(b => b.length == 2 &&
      b.forall(c => c.isDigit || ('a' to 'f').contains(c))),
      s"fracBand values must be 2 lowercase hex chars: $fracBand")
    val nFull = coalesce(element_at(typedlit(full), col("source")), lit(1))
    val band = element_at(typedlit(fracBand), col("source")) // null → no frac epoch
    val draw = md5Band(concat(col("doc_id").cast("string"), lit(":"),
      col("epoch").cast("string")))
    documents
      .select(col("doc_id"), col("source"), nFull.as("n_full"), band.as("band"))
      // weight 0 with no fractional band → upper bound 0: Spark's
      // sequence(1, 0) DESCENDS ([1, 0]); an empty array is what "zero
      // epochs" means (the source is dropped entirely)
      .withColumn("upper",
        col("n_full") + when(col("band").isNull, 0).otherwise(1))
      .withColumn("epoch", explode(when(col("upper") >= 1,
        sequence(lit(1), col("upper")))
        .otherwise(typedlit(Seq.empty[Int]))))
      .filter(col("epoch") <= col("n_full") || draw < col("band"))
      .select(col("doc_id"), col("source"), col("epoch"))
      .orderBy("doc_id", "epoch")
  }

  /** The shared single-cumsum core: keep a doc iff the tokens BEFORE it
    * (in deterministic hash order, per source) are under that row's
    * budget expression. */
  private[graft] def budgetFiltered(documents: DataFrame,
                                    budget: Column,
                                    tokenCount: Column =
                                      size(TextFuns.tokens(col("text")))
                                        .cast("long")): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents
      .select(col("doc_id"), col("source"),
        tokenCount.as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") - col("n_tokens") < budget)
      .orderBy("doc_id")
  }

  /** Quality threshold for the keep-set filter. */
  val QualityTau = 0.5

  /** §2-40 `q_corpus_filter`: the composed end-to-end keep-set — what a
    * training-data ingest actually materializes. One pass computes, per
    * doc: exact-dup representative (min doc_id over the md5-of-normalized-
    * text group — the ONLY shuffle), predicted language, quality score;
    * the filter keeps English-classified, above-threshold representatives.
    * Composition stays single-scan because the language/quality predicates
    * are row-level Columns ([[TextOps.predLang]]/[[TextOps.qualityScore]]),
    * not separate passes that would re-read 100 TB. */
  def corpusFilter(documents: DataFrame): DataFrame =
    gated(documents, decontaminate = false)
      .withColumn("rep_doc_id",
        min(col("doc_id")).over(Window.partitionBy("text_hash")))
      .filter(col("doc_id") === col("rep_doc_id"))
      .select(col("doc_id"), col("source"), col("pred_lang"),
        col("quality_score"))
      .orderBy("doc_id")

  /** The decontamination predicate — any [[Probes]] phrase contained in
    * the normalized text; shared by [[curate]] and the streaming twin. */
  def contaminatedCol: Column =
    Probes.map(p => contains(TextFuns.norm(col("text")), lit(p)))
      .reduce(_ || _)

  /** The row-level gate chain [[corpusFilter]], [[curate]], and
    * `EventStream.curateStream` share — ONE definition so the three
    * composed filters cannot drift (the Scala twin of the oracle-side
    * `filterCtePrefix`): pred_lang + quality_score computed, the
    * language/quality gates applied (+ the probe decontamination gate
    * when `decontaminate`), text_hash added. Gates run BEFORE any
    * text_hash shuffle/state: exact copies share identical text, so
    * every gate verdict is identical across a dup group — the group
    * survives or drops whole, and the representative over survivors
    * equals the representative over the group. Row-level only: the
    * dedup-representative stage differs per consumer (min-id window
    * for batch, first-arrival hash state for streaming) and stays with
    * them. */
  private[graft] def gated(documents: DataFrame,
                           decontaminate: Boolean): DataFrame = {
    val base = documents
      .withColumn("pred_lang", TextOps.predLang(col("text")))
      .withColumn("quality_score", TextOps.qualityScore(col("text")))
      .filter(col("pred_lang") === "en" && col("quality_score") >= QualityTau)
    (if (decontaminate) base.filter(!contaminatedCol) else base)
      .withColumn("text_hash", md5(TextFuns.norm(col("text")).cast("binary")))
  }

  /** §2-80 `q_curate`: the end-to-end curation MANIFEST — the whole
    * preprocessing pipeline as ONE declarative plan: language gate,
    * quality gate, decontamination ([[Probes]] screened row-level),
    * exact-dedup representative, split assignment, and the token count
    * the mixing stage budgets with — per surviving doc. This is the
    * composition test of the library: a user runs ONE query and gets
    * the post-curation training manifest ([[corpusFilter]] is the
    * keep-set subset of it; [[tokenBudgetSample]]/[[pack]] consume its
    * columns downstream).
    *
    * Composition stays one-scan-one-shuffle: every gate is a row-level
    * Column over the same pass (lang/quality/contains-probes/split —
    * Catalyst fuses them into one WholeStageCodegen over the scan), and
    * the ONLY shuffle is the exact-dup text_hash window. Gate-before-
    * shuffle is group-sound: exact copies share text, so lang/quality/
    * contamination verdicts are identical across a dup group — the
    * group survives or drops whole, and min(doc_id) over survivors
    * equals min over the group ([[corpusFilter]]'s argument, extended
    * by the text-pure contamination predicate). At 100 TB the wide
    * shuffle moves only gate-survivors, and the decontamination costs
    * zero extra IO (same read). */
  def curate(documents: DataFrame): DataFrame =
    curated(documents).orderBy("doc_id")

  /** [[curate]] without the trailing presentational sort — the form
    * [[pipelineManifest]] composes over (a global sort mid-pipeline
    * would be a wasted range exchange; EliminateSorts usually removes
    * it under the next shuffle, but not emitting it is simpler). */
  private def curated(documents: DataFrame): DataFrame =
    gated(documents, decontaminate = true)
      .withColumn("rep_doc_id",
        min(col("doc_id")).over(Window.partitionBy("text_hash")))
      .filter(col("doc_id") === col("rep_doc_id"))
      .select(col("doc_id"), col("source"), col("quality_score"),
        size(TextFuns.tokens(col("text"))).as("n_tokens"),
        splitOf(col("doc_id")).as("split"))

  /** The integer lm-score band (units of the quantized p6 mean — the
    * [[lmScore]] quantization) for [[curateFull]]: mean next-token
    * probability in [0.25, 0.60]. Both tails are real signals: below
    * the band the doc reads nothing like the corpus (gibberish), above
    * it the doc is degenerately predictable (templated boilerplate). */
  val LmBandP6: (Long, Long) = (250000L, 600000L)

  /** §2-161 `q_curate_full`: the WIDE curation manifest — [[curate]]'s
    * gate chain (language ∧ quality ∧ probe decontamination ∧ exact-dup
    * representative ∧ split) COMPOSED with the published quality gates
    * the estate ships separately: the full Gopher rule set
    * ([[TextOps.gopherPassCol]], Rae et al. 2021 A1.1), the C4 page
    * verdict ([[TextOps.c4PageOkCol]], Raffel et al. 2020 §2.2), the
    * bigram-LM score band ([[lmScore]], integer cross-multiplied — no
    * float forms before the final reported division), and optionally
    * the zlib compressibility band ([[TextOps.compressRatio]] — OFF in
    * the oracle-checked instantiation because zlib is not
    * SQL-expressible; spec-covered instead, the q_compress_ratio
    * precedent).
    *
    * [[curate]] stays the STATELESS-STREAMABLE core (its whole gate
    * chain runs unchanged per micro-batch in
    * `EventStream.curateStream`); this face is the batch composition —
    * the LM gate needs a corpus-level model, so it can never ride a
    * stateless stream. Plan shape: the row-level gates (lang, quality,
    * probes, gopher, C4) all fuse into ONE WholeStageCodegen over one
    * corpus scan; the LM side re-reads the corpus once into the
    * materialized bigram stream (2 scans total, pinned) and joins
    * back per doc_id; the rep window stays LAST so the wide text_hash
    * exchange moves full-gate survivors only. Group-soundness of
    * gate-before-window is preserved: every added gate is text-pure
    * (identical text ⇒ identical bigrams ⇒ identical LM verdict even
    * though the MODEL is corpus-level), so a dup group still survives
    * or drops whole. Docs with < 2 tokens have no bigram, no LM
    * verdict, and drop (inner join — mirrored by the oracle). */
  def curateFullOf(documents: DataFrame,
                   lmBandP6: (Long, Long) = LmBandP6,
                   compressBandPermille: Option[(Long, Long)] = None,
                   badwords: Seq[String] = Nil,
                   repetition: Boolean = true,
                   nearDup: Option[(Int, Int)] = None): DataFrame = {
    graft.plans.GraftFunctions.register(documents.sparkSession)
    val rowGated = gated(documents, decontaminate = true)
      .filter(publishedGateCol(badwords, repetition))
    val lmGated = rowGated
      .join(lmScored(documents)
        .select(col("doc_id"), col("n_bigrams"), col("sum_p6")), Seq("doc_id"))
      .filter(col("sum_p6") >= col("n_bigrams") * lmBandP6._1 &&
        col("sum_p6") <= col("n_bigrams") * lmBandP6._2)
    val crGated = compressBandPermille match {
      case Some((lo, hi)) => lmGated
        .join(TextOps.compressRatio(documents)
          .select(col("doc_id"), col("n_bytes"), col("n_compressed")), Seq("doc_id"))
        .filter(col("n_compressed") * 1000 >= col("n_bytes") * lo &&
          col("n_compressed") * 1000 <= col("n_bytes") * hi)
        .drop("n_bytes", "n_compressed")
      case None => lmGated
    }
    val exactRep = crGated
      .withColumn("rep_doc_id",
        min(col("doc_id")).over(Window.partitionBy("text_hash")))
      .filter(col("doc_id") === col("rep_doc_id"))
    // optional NEAR-dup stage (round 18): the manifest a trainer
    // consumes should be near-dup-clean too, not just exact-hash-clean.
    // `nearDup = Some((k, bands))` runs row 75's decision over the
    // SURVIVORS — MinHash band clusters (never all-pairs; a production
    // 0.8-threshold run passes (MinhashKWide, BandsWide)), keep the
    // highest-quality member per cluster. Staged AFTER every gate and
    // the exact rep, so the cluster universe is exactly the staged
    // pipeline's (gates → exact dedup → near-dup rep — spec-asserted
    // equivalent to running DedupOps.dedupRepresentative on the
    // survivor frame). Near-twins are NOT text-identical, so this
    // cannot ride the text-pure gate-before-shuffle argument — it is a
    // separate banded pass over survivors only.
    val survivors = nearDup match {
      case Some((k, bands)) =>
        val reps = DedupOps.dedupRepresentative(
          exactRep.select(col("doc_id"), col("text")), k = k, bands = bands)
          .select(col("rep_doc_id").as("doc_id"))
        exactRep.join(reps, Seq("doc_id"), "left_semi")
      case None => exactRep
    }
    survivors
      .select(col("doc_id"), col("source"), col("quality_score"),
        (col("sum_p6").cast("double") /
          (col("n_bigrams") * lit(1000000.0d))).as("lm_score"),
        size(TextFuns.tokens(col("text"))).as("n_tokens"),
        splitOf(col("doc_id")).as("split"))
      .orderBy("doc_id")
  }

  /** The STATELESS published-gate chain — full Gopher quality rules ∧
    * C4 page verdict ∧ the thirteen repetition rules (the fused
    * `gopher_rep_pass` native) ∧ the optional word blocklist — as ONE
    * row-level boolean Column. Single definition shared by
    * [[curateFullOf]] and `EventStream.curateStream`'s wide variant
    * (the `gated` convention: batch and stream cannot drift). Caller
    * must have run `GraftFunctions.register` when `repetition` is on. */
  private[graft] def publishedGateCol(badwords: Seq[String] = Nil,
                                      repetition: Boolean = true): Column =
    TextOps.gopherPassCol(col("text")) &&
      TextOps.c4PageOkCol(col("text")) &&
      (if (badwords.isEmpty) lit(true)
       else TextOps.c4BadwordsOkCol(col("text"), badwords)) &&
      (if (repetition) call_function("gopher_rep_pass", col("text"))
       else lit(true))

  /** [[curateFullOf]] on the planted-augmented corpus — the
    * `queries()` binding: the synthetic corpus is single-line
    * unpunctuated text, so the published gates would be vacuous on it
    * raw; the q_ key appends [[TextOps.C4Good]] plus the per-doc
    * [[TextOps.C4Aug]]/[[TextOps.GopherAug]] tails BEFORE the call
    * (both engines identically — the fixture-outside-operator
    * convention), making every composed gate genuinely bite at test
    * scale while [[curateFullOf]] itself stays fixture-free. */
  def curateFull(documents: DataFrame): DataFrame = {
    val c4aug = when(col("doc_id") % 5 === 1, lit(TextOps.C4Aug(1)))
      .when(col("doc_id") % 5 === 2, lit(TextOps.C4Aug(2)))
      .when(col("doc_id") % 5 === 3, lit(TextOps.C4Aug(3)))
      .when(col("doc_id") % 5 === 4, lit(TextOps.C4Aug(4)))
      .otherwise(lit(""))
    val gaug = when(col("doc_id") % 4 === 1, lit(TextOps.GopherAug(1)))
      .when(col("doc_id") % 4 === 2, lit(TextOps.GopherAug(2)))
      .when(col("doc_id") % 4 === 3, lit(TextOps.GopherAug(3)))
      .otherwise(lit(""))
    // %7 decorrelates the repetition tails from the %5/%4 families so
    // gate combinations actually vary (round 17: the rep gate joined
    // the manifest, so its tails joined the instantiation)
    val raug = when(col("doc_id") % 7 === 1, lit(TextOps.GopherRepAug(1)))
      .when(col("doc_id") % 7 === 2, lit(TextOps.GopherRepAug(2)))
      .when(col("doc_id") % 7 === 3, lit(TextOps.GopherRepAug(3)))
      .when(col("doc_id") % 7 === 4, lit(TextOps.GopherRepAug(4)))
      .otherwise(lit(""))
    // the blocklist tail rides its own modulus (%11) so it intersects
    // every other gate family; a planted token rather than a corpus
    // word because the corpus vocabulary is either ~75%-frequent or
    // (the one rare token, `dup`) always text-FINAL — where the C4Good
    // join merges it out of the token stream
    val bw = when(col("doc_id") % 11 === 1, lit(" " + ManifestBadwords.head))
      .otherwise(lit(""))
    curateFullOf(documents.withColumn("text",
      concat(col("text"), lit(TextOps.C4Good), c4aug, gaug, raug, bw)),
      badwords = ManifestBadwords)
  }

  /** The blocklist the oracle-checked manifest instantiates with —
    * planted on doc_id %11 so the gate bites a controlled slice
    * ([[TextOps.C4Badwords]]'s corpus words hit ~95% of docs — right
    * for grading that gate alone, wrong for a survivorship manifest). */
  val ManifestBadwords: Seq[String] = Seq("forbiddenword")

  /** Benchmark probes for the decontamination scan — in production this
    * is the eval-set n-gram list; here a deterministic sample of corpus
    * phrases. */
  val Probes: Seq[String] =
    Seq("fast slow filter", "window batch", "the spark table")

  /** §2-50 `q_contamination`: benchmark decontamination — find documents
    * containing any probe string (eval-set leakage scan). The probe set
    * broadcasts (it is KB even for real eval suites); the scan is one
    * pass with a codegen'd `contains` per probe — no shuffle, no index.
    * At 100 TB this is the canonical "grep the corpus for the test set"
    * job: cost is exactly one read.
    *
    * Parameterized face (the [[contaminationNgram]] convention): the
    * user passes THEIR eval suite as a one-column `probe` frame; the
    * q_ key instantiates with the benchmark [[Probes]]. */
  def contamination(documents: DataFrame, probes: DataFrame): DataFrame =
    documents
      // normalize ONCE per row, not once per (row, probe) inside the
      // nested-loop condition
      .select(col("doc_id"), TextFuns.norm(col("text")).as("t"))
      .join(broadcast(probes), contains(col("t"), col("probe")))
      .select(col("doc_id"), col("probe"))
      .orderBy("doc_id", "probe")

  /** [[contamination]] with the benchmark [[Probes]] as the probe table
    * (the `queries()` binding). */
  def contamination(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    contamination(documents, Probes.toDF("probe"))
  }

  /** §2-55 `q_contamination_ngram`: decontamination at real probe scale.
    *
    * [[contamination]]'s broadcast-contains scan is O(docs × probes)
    * substring work per row — right for KB probe sets, hopeless for the
    * 10⁵–10⁶ n-gram probes of a full eval-suite decontamination. This is
    * the inverted-index shape: documents explode into hashed token
    * n-grams — one gram stream per DISTINCT probe token-length, the
    * lengths read from the probe table itself (broadcast; it has a
    * handful of rows) — and a plain shuffled equi-join on the 8-byte
    * xxhash64 key finds hits. Map-side cost is O(corpus tokens ×
    * #distinct lengths); the join partitions both sides by the hash, so
    * at 100 TB it scales like any other key join instead of like a
    * substring grep. Matching is exact token-sequence (the standard
    * decontamination contract) vs [[contamination]]'s substring
    * semantics; hash collisions would need two distinct grams with equal
    * xxhash64 in one corpus (P ≈ n²/2⁶⁴ — same accepted trade as
    * [[DedupOps.dedupNgram]]'s keys). */
  def contaminationNgram(documents: DataFrame, probes: DataFrame): DataFrame = {
    val pk = probes
      .select(col("probe"), TextFuns.tokens(col("probe")).as("pt"))
      .select(col("probe"), size(col("pt")).as("g"),
        xxhash64(concat_ws(" ", col("pt"))).as("pk"))
    val lens = pk.select("g").distinct()
    val grams = documents
      .select(col("doc_id"), TextFuns.tokens(col("text")).as("toks"))
      .crossJoin(broadcast(lens))
      .filter(size(col("toks")) >= col("g"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - g + 1), " +
          "i -> xxhash64(concat_ws(' ', slice(toks, i, g))))")).as("pk"))
    // a probe occurring k times in a doc is still one hit — but dedup
    // AFTER the join, where only the hits remain: a pre-join distinct
    // would shuffle the ENTIRE gram stream (measured 2.0 s → 1.2 s at
    // sf0.1 moving it), while the join itself never shuffles grams when
    // the probe side broadcasts, and when a 10⁶-probe side does shuffle,
    // the gram stream crosses the wire once either way
    grams
      .join(pk.select(col("pk"), col("probe")), "pk")
      .select(col("doc_id"), col("probe"))
      .distinct()
      .orderBy("doc_id", "probe")
  }

  /** [[contaminationNgram]] with the benchmark [[Probes]] as the probe
    * table (the `queries()` binding). */
  def contaminationNgram(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    contaminationNgram(documents, Probes.toDF("probe"))
  }

  /** §2-76 `q_contamination_bloom`: decontamination past even
    * [[contaminationNgram]]'s join — the probe set compresses into a
    * [[graft.plans.GraftBloom]] bitmap (8 KiB at the default geometry, ≤
    * 32 MiB at hexChars=7 for ~18M probe grams) that BROADCASTS, so the
    * corpus gram stream is screened by a row-level codegen'd
    * `bloom_contains` with NO join and NO shuffle: where the index join
    * must move the full 100 TB gram stream through an exchange when the
    * probe side is too big to broadcast, here only the flagged hits (a
    * false-positive SUPERSET of the exact answer, rate set by `hexChars`;
    * never a false negative — spec-asserted against the exact join) reach
    * the per-doc count. The standard production shape runs this as phase
    * one and [[contaminationNgram]] on the survivors as the exact
    * rescreen.
    *
    * Fully oracle-hash-checked, false positives included: positions are
    * the salted-md5-prefix family (substr(md5(chr(j) || gram), 1, 4)),
    * so DuckDB simulates the EXACT bitmap with a distinct position set —
    * membership verdicts are bit-identical across engines. */
  def contaminationBloom(documents: DataFrame, probes: DataFrame,
                         hexChars: Int = graft.plans.GraftBloom.DefaultHexChars): DataFrame =
    bloomFlaggedRaw(documents, probes, hexChars)
      .distinct()
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_flagged"))
      .orderBy("doc_id")

  /** The shared stateless half of bloom decontamination — gram stream →
    * broadcast-bitmap screen → flagged (doc_id, gram) rows, BEFORE any
    * dedup/agg: every stage is a row-level map, so it runs unchanged on
    * an unbounded stream. Single definition consumed by the batch
    * [[contaminationBloom]] (adds distinct + per-doc count) and the
    * streaming [[graft.streaming.EventStream.contaminationBloomStream]]
    * (adds dropDuplicates), so the two estates cannot drift. */
  private[graft] def bloomFlaggedRaw(documents: DataFrame, probes: DataFrame,
                                     hexChars: Int): DataFrame = {
    graft.plans.GraftFunctions.register(documents.sparkSession)
    val bloom = probes
      .select(concat_ws(" ", TextFuns.tokens(col("probe"))).as("item"))
      .agg(call_function("bloom_agg", col("item"), lit(hexChars)).as("bloom"))
    val lens = probes
      .select(size(TextFuns.tokens(col("probe"))).as("g")).distinct()
    documents
      .select(col("doc_id"), TextFuns.tokens(col("text")).as("toks"))
      .crossJoin(broadcast(lens))
      .filter(size(col("toks")) >= col("g"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - g + 1), " +
          "i -> concat_ws(' ', slice(toks, i, g)))")).as("gram"))
      .crossJoin(broadcast(bloom))
      .filter(call_function("bloom_contains", col("bloom"), col("gram"),
        lit(hexChars)))
      .select(col("doc_id"), col("gram"))
  }

  /** [[contaminationBloom]] with the benchmark [[Probes]] (the
    * `queries()` binding). */
  def contaminationBloom(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    contaminationBloom(documents, Probes.toDF("probe"))
  }

  /** §2-51 `q_repetition`: within-document repetition score — the share
    * of the document's trigram occurrences taken by its MOST repeated
    * trigram (the Gopher-style repetition quality rule: boilerplate and
    * degenerate text repeat). One explode + one (doc, shingle) agg + one
    * per-doc max — all partial-aggregatable; ratio of exact ints. */
  def repetition(documents: DataFrame): DataFrame = {
    val counts = tokenTrigrams(documents)
      .groupBy(col("doc_id"), col("ngram"))
      .agg(count(lit(1)).as("c"))
    counts
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("max_rep"), sum(col("c")).as("n_ngrams"))
      .select(col("doc_id"), col("max_rep"),
        col("n_ngrams").cast("bigint").as("n_ngrams"),
        (col("max_rep") * 1.0 / col("n_ngrams")).as("rep_share"))
      .orderBy("doc_id")
  }

  /** Columns [[profile]] reports on (the documents table's full schema). */
  val ProfileCols: Seq[String] = Seq("doc_id", "lang", "n_chars", "source", "text")

  /** §2-90 `q_profile`: per-column data-profiling manifest — row count,
    * null count, EXACT distinct count, min/max (native-type comparison,
    * then cast to string for the uniform long-format schema), and total
    * string length. The ingest-QA step a pipeline runs before trusting a
    * new drop of data.
    *
    * ONE pass over the corpus: all metrics partial-aggregate; the
    * multi-column exact distincts make Catalyst plan an Expand (rows ×
    * |cols|) feeding one shuffle — the honest cost of exact profiling.
    * At 100 TB run [[profileApprox]] — the same manifest with HLL
    * distincts and no Expand; exact is kept here because the oracle
    * hash-checks it. */
  /** The shared per-column metric expressions behind [[profile]] and
    * [[profileBySource]] — ONE definition, so global and grouped
    * profiling cannot drift. */
  private def profileMetricExprs: Seq[org.apache.spark.sql.Column] =
    count(lit(1)).as("n_rows") +:
      ProfileCols.flatMap { c => Seq(
        count(when(col(c).isNull, 1)).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__distinct"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"),
        coalesce(sum(length(col(c).cast("string")).cast("long")), lit(0L))
          .as(s"${c}__len"))
      }

  private def profileStackExpr: String = {
    val stackArgs = ProfileCols.map(c =>
      s"'$c', n_rows, ${c}__nulls, ${c}__distinct, ${c}__min, ${c}__max, ${c}__len")
      .mkString(", ")
    s"stack(${ProfileCols.size}, $stackArgs) AS " +
      "(col_name, n_rows, n_nulls, n_distinct, min_val, max_val, sum_len)"
  }

  def profile(documents: DataFrame): DataFrame = {
    val exprs = profileMetricExprs
    documents.agg(exprs.head, exprs.tail: _*)
      .selectExpr(profileStackExpr)
      .orderBy("col_name")
  }

  /** §2-D `q_profile_approx`: the 100 TB twin of [[profile]] — identical
    * manifest schema, but every per-column distinct is
    * `approx_count_distinct` (HLL++). The multi-column EXACT distincts
    * are [[profile]]'s only non-linear cost: Catalyst plans them as an
    * Expand (rows × |cols|) into the shuffle, 5× the shuffled rows here.
    * HLL sketches partial-aggregate per column in the SAME one pass with
    * NO Expand (plan-asserted in PlanAuditSpec, the
    * [[EventOps.summaryApprox]] precedent), so the full-drop QA gate —
    * the profile every ingest must pass before anything trusts the data
    * — stays a single linear scan at any scale. Approximate by design
    * (rows-only check; spec bounds the error <10% vs [[profile]]). */
  def profileApprox(documents: DataFrame): DataFrame = {
    val exprs = count(lit(1)).as("n_rows") +:
      ProfileCols.flatMap { c => Seq(
        count(when(col(c).isNull, 1)).as(s"${c}__nulls"),
        approx_count_distinct(col(c)).as(s"${c}__distinct"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"),
        coalesce(sum(length(col(c).cast("string")).cast("long")), lit(0L))
          .as(s"${c}__len"))
      }
    documents.agg(exprs.head, exprs.tail: _*)
      .selectExpr(profileStackExpr)
      .orderBy("col_name")
  }

  /** §2-93 `q_profile_by_source`: [[profile]] grouped by `source` — the
    * drift axis: when one upstream's length distribution or distinct
    * count moves between drops, the per-source manifest shows WHICH one
    * (the global profile only shows THAT something moved). Same single
    * pass and Expand→shuffle as [[profile]], keyed by source, so the
    * grouped manifest costs the same one shuffle as the global one. */
  def profileBySource(documents: DataFrame): DataFrame = {
    val exprs = profileMetricExprs
    documents.groupBy(col("source")).agg(exprs.head, exprs.tail: _*)
      .selectExpr("source", profileStackExpr)
      .orderBy("source", "col_name")
  }

  /** §2-100 `q_profile_drift` (core): the drift face of profiling — a
    * new drop's per-source manifest against a PERSISTED baseline
    * manifest (a prior [[profileBySource]] output), emitting one row
    * per (source, col_name, numeric metric) with base/current values
    * and the relative delta. [[dropDiff]] answers "which documents
    * changed"; this answers "which DISTRIBUTIONS moved" — the signal
    * that catches an upstream silently shipping truncated text or a
    * null-ridden column even when doc counts look fine.
    *
    * FULL-outer on (source, col_name): a source present in only one
    * side IS the drift (a brand-new upstream, or one that vanished) —
    * its missing side reads as zeros. Cost shape: profiling the drop is
    * [[profileBySource]]'s one pass; the join runs on two manifests of
    * |sources|×|cols| rows — KBs at any corpus scale, so drift
    * detection adds nothing to the 100 TB bill. (At scale, profile the
    * drop with the [[profileApprox]] metrics instead — the drift math
    * is identical.) `EventStream.profileStream` runs this same
    * function per micro-batch. */
  def profileDrift(drop: DataFrame, baseline: DataFrame): DataFrame = {
    val base = baseline.select(col("source"), col("col_name"),
      col("n_rows").as("b_n_rows"), col("n_nulls").as("b_n_nulls"),
      col("n_distinct").as("b_n_distinct"), col("sum_len").as("b_sum_len"))
    profileBySource(drop)
      .join(base, Seq("source", "col_name"), "full_outer")
      .selectExpr("source", "col_name",
        "stack(4, " +
          "'n_distinct', b_n_distinct, n_distinct, " +
          "'n_nulls', b_n_nulls, n_nulls, " +
          "'n_rows', b_n_rows, n_rows, " +
          "'sum_len', b_sum_len, sum_len) AS (metric, base_val, cur_val)")
      .withColumn("base_val", coalesce(col("base_val"), lit(0L)))
      .withColumn("cur_val", coalesce(col("cur_val"), lit(0L)))
      .withColumn("rel_delta",
        when(col("base_val") =!= 0,
          (col("cur_val") - col("base_val")) * lit(1.0) / col("base_val")))
      .orderBy("source", "col_name", "metric")
  }

  /** §2-100 `q_profile_drift`: [[profileDrift]] on the same synthetic
    * drop pair [[dropDiff]] uses (baseline = drop A's manifest, new
    * drop = B) — deterministic, so the oracle replays both profiles
    * and the drift math from one table. */
  def profileDriftSynthetic(documents: DataFrame): DataFrame =
    profileDrift(dropB(documents), profileBySource(dropA(documents)))

  /** Deterministic synthetic "drops" for [[dropDiff]]: drop A is the
    * corpus minus the ids ≡ 7 (mod 10); drop B is the corpus minus the
    * ids ≡ 3 (mod 10), with ids ≡ 0 (mod 13) carrying an edited text.
    * Relative to A, drop B therefore ADDS the ≡7 ids, REMOVES the ≡3
    * ids, and CHANGES the ≡0 (mod 13) survivors — a new-drop-vs-standing
    * -corpus scenario derived reproducibly from one table. */
  def dropA(documents: DataFrame): DataFrame =
    documents.filter(pmod(col("doc_id"), lit(10)) =!= 7)
  def dropB(documents: DataFrame): DataFrame =
    documents.filter(pmod(col("doc_id"), lit(10)) =!= 3)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(13)) === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))

  /** §2-92 `q_drop_diff`: drop-over-drop diff manifest — when a new drop
    * of data arrives, the first question is WHAT CHANGED vs the standing
    * corpus: per (source, status ∈ added/removed/changed/unchanged) doc
    * counts and the net character delta. Texts compare by md5, so the
    * join carries 16-byte digests, never the documents.
    *
    * Scale shape: one co-partitioned full-outer join on doc_id (both
    * sides reduced to (id, source, digest, len) before the shuffle) into
    * a sources×4-bounded agg. At 100 TB both drops live bucketed by
    * doc_id ([[graft.sources.Tables.writeBucketed]]) and the join plans
    * exchange-free. */
  def dropDiff(documents: DataFrame): DataFrame =
    dropDiffFrames(dropA(documents), dropB(documents))

  /** The general two-drop diff — [[dropDiff]] is this applied to the
    * synthetic drops (which is what the oracle checks); a real pipeline
    * calls it on yesterday's and today's actual document frames. */
  def dropDiffFrames(a: DataFrame, b: DataFrame): DataFrame = {
    def digest(df: DataFrame, suffix: String): DataFrame =
      df.select(col("doc_id").as(s"doc_id$suffix"),
        col("source").as(s"source$suffix"),
        md5(col("text")).as(s"h$suffix"),
        length(col("text")).cast("long").as(s"len$suffix"))
    digest(a, "_a")
      .join(digest(b, "_b"),
        col("doc_id_a") === col("doc_id_b"), "full_outer")
      .select(
        coalesce(col("source_a"), col("source_b")).as("source"),
        when(col("doc_id_a").isNull, "added")
          .when(col("doc_id_b").isNull, "removed")
          .when(col("h_a") =!= col("h_b"), "changed")
          .otherwise("unchanged").as("status"),
        (coalesce(col("len_b"), lit(0L)) - coalesce(col("len_a"), lit(0L)))
          .as("d"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"), sum(col("d")).as("chars_delta"))
      .orderBy("source", "status")
  }

  /** §2-115 `q_cooccurrence`: windowed token co-occurrence with PMI —
    * the association-mining pass behind classic word-vector features,
    * collocation detection, and template/boilerplate discovery (a pair
    * with huge PMI and huge count is a template). Pairs = each token
    * with its next `window` neighbors, unordered; PMI in integer
    * micro-nats (the q6-ln discipline): round(ln((c_ab/N_pair) /
    * ((c_a/N_tok)(c_b/N_tok)))·10⁶), identical IEEE op order in both
    * engines. Top-k by PMI, count-floored.
    *
    * Shape: pair generation is ROW-LEVEL (indexed transform + slice —
    * no self-join); ONE (a, b) count shuffle bounded by vocab²; the
    * unigram marginals and totals are vocab-bounded broadcasts. At
    * 100 TB: one corpus pass + KB-sized model frames — the
    * sourceDivergence/classifier cost class. */
  def cooccurrence(documents: DataFrame, window: Int = 3,
                   minCount: Long = 5L, k: Int = 50): DataFrame = {
    val pairsArr = expr(
      s"""flatten(transform(tk, (x, i) ->
         |  transform(slice(tk, i + 2, $window), y ->
         |    if(x <= y, struct(x AS a, y AS b), struct(y AS a, x AS b)))))"""
        .stripMargin)
    val tk = documents.select(TextFuns.tokens(col("text")).as("tk"))
    // total pair count in CLOSED FORM from doc lengths — never from the
    // pair frame itself, so the count agg below can be min-count-pruned
    // immediately (the observed-pair frame is the one thing here that
    // can get big on a real vocabulary; everything that needs ALL pairs
    // is a formula on L): Σᵢ min(W, L−1−i) = W(W−1)/2 + (L−W)·W for
    // L > W, else L(L−1)/2
    val L = size(col("tk")).cast("long")
    val perDocPairs = when(L - 1 >= window,
      lit(window.toLong * (window - 1) / 2) + (L - window) * window)
      .otherwise(L * (L - 1) / 2)
    val nPair = tk.agg(sum(perDocPairs).as("n_pair"))
    val pairCounts = tk
      .select(explode(pairsArr).as("p"))
      .groupBy(col("p.a").as("tok_a"), col("p.b").as("tok_b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount) // prune BEFORE anything downstream
    // the unigram table feeds THREE consumers (the total and both
    // broadcast sides) — vocabulary-bounded and tiny, so checkpoint it
    // rather than re-run tokenize+count once per consumer
    val uni = tk.select(explode(col("tk")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .transform(Materialize(_, eager = false))
    val nTok = uni.agg(sum("c").as("n_tok"))
    pairCounts
      .join(broadcast(uni.select(col("tok").as("tok_a"), col("c").as("c_a"))), "tok_a")
      .join(broadcast(uni.select(col("tok").as("tok_b"), col("c").as("c_b"))), "tok_b")
      .crossJoin(broadcast(nTok))
      .crossJoin(broadcast(nPair))
      .withColumn("pmi_q6",
        round(log((col("c_ab") * lit(1.0) / col("n_pair")) /
          ((col("c_a") * lit(1.0) / col("n_tok")) *
            (col("c_b") * lit(1.0) / col("n_tok")))) * 1e6).cast("long"))
      .select(col("tok_a"), col("tok_b"), col("c_ab"), col("pmi_q6"))
      .orderBy(col("pmi_q6").desc, col("tok_a").asc, col("tok_b").asc)
      .limit(k)
  }

  /** §2-116 `q_zipf_fit`: Zipf's-law fit of the token rank-frequency
    * curve — closed-form least squares of ln(freq) on ln(rank). THE
    * one-number corpus-health check: natural text sits near slope −1;
    * a much flatter slope means templated/duplicated text, much steeper
    * means a vocabulary collapse (OCR junk, language soup). Also the
    * demonstration that MODEL FITTING is just aggregation when the
    * normal equations are closed-form.
    *
    * Exactness: x=round(ln(rank)·10⁶), y=round(ln(count)·10⁶) are
    * integers; Σx, Σy, Σxy, Σx² accumulate in DECIMAL(38) ≡ HUGEINT
    * (order-independent); slope/intercept are the SAME few IEEE ops on
    * those exact integers in both engines.
    *
    * Shape: ONE corpus pass (token counts); the rank window runs over
    * the VOCAB-bounded frame (the one place an unpartitioned window is
    * fine — vocab rows, not corpus rows); the fit is a 1-row agg. */
  def zipfFit(documents: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val uni = documents
      .select(explode(TextFuns.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
    val ranked = uni.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("c").desc, col("token").asc)))
      .select(
        round(log(col("rank") * lit(1.0)) * 1e6).cast("long").cast(dec).as("x"),
        round(log(col("c") * lit(1.0)) * 1e6).cast("long").cast(dec).as("y"))
    ranked.agg(
      count(lit(1)).as("n_vocab"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope",
        (col("n_vocab").cast(dec) * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n_vocab").cast(dec) * col("sxx") - col("sx") * col("sx")).cast("double"))
      // intercept back in NATURAL nats (the q6 scale divides out of the
      // slope but not the intercept)
      .withColumn("intercept_nats",
        (col("sy").cast("double") - col("slope") * col("sx").cast("double")) /
          col("n_vocab") / 1e6)
      .select(col("n_vocab"), col("slope"), col("intercept_nats"))
  }

  /** §2-95 `q_mixture`: training-mix accounting — per-source document and
    * token tallies, each source's ACTUAL token share vs a TARGET mixture,
    * and the sampling factor (target/actual) an upsampler/downsampler
    * must apply to hit it. The table a data-mix owner actually maintains:
    * `q_upsample`/`q_token_budget_weighted` apply factors like these;
    * this query derives them. The synthetic target weights each source
    * 20 − idx (deterministic, so the oracle hash-checks the divisions —
    * integer tallies, then the same IEEE double ops on both engines).
    *
    * ONE shuffle on source (token counting rides the map side of the
    * same agg); totals are a 1-row broadcast — no second corpus pass. */
  /** The synthetic target-mix weight: sources src0..src19 → 20−idx.
    * A source OUTSIDE the contract (srcFoo → null weight, src20+ → a
    * zero/negative weight) would silently corrupt every target share,
    * so fail loudly instead of emitting a poisoned mix table. Shared
    * by [[mixture]] and [[pipelineManifest]] — one contract. */
  private def syntheticTargetWgt: Column =
    when(col("source").rlike("^src(\\d|1\\d)$"),
      (lit(20) - substring(col("source"), 4, 8).cast("int")).cast("long"))
      .otherwise(raise_error(concat(
        lit("source outside the synthetic target " +
          "contract src0..src19: "), col("source"))))

  /** §2-110 `q_source_divergence`: per-source unigram KL divergence from
    * the corpus distribution — KL(source ‖ corpus) in nats. THE domain-
    * shift diagnostic of a mixing table: a source whose token
    * distribution sits far from the blend (high KL) dominates or fights
    * the mix; `q_mixture` says how much of each source, this says how
    * DIFFERENT each source is. (Smoothing-free by construction: a
    * source's tokens are a subset of the corpus's, so q_i > 0 wherever
    * p_i > 0.)
    *
    * Integer-exact cross-engine trick (the NB-classifier discipline):
    * KL = (1/N_s) Σ_i c_i · ln(p_i/q_i) with p_i = c_i/N_s, q_i = C_i/N.
    * Each per-token log ratio is quantized ONCE to integer micro-nats,
    * the weighted sum Σ c_i · w_q6 runs in int64 (order-independent),
    * and the final /1e6/N_s is two IEEE divisions on exact integers.
    *
    * Shape: ONE corpus pass (the (source, token) count agg, map-side
    * partials, vocab-bounded output); corpus totals derive from that
    * frame (vocab-sized re-aggs) and ride back as broadcasts. At 100 TB:
    * one keyed shuffle, model-sized everything-else. */
  def sourceDivergence(documents: DataFrame): DataFrame = {
    val counts = documents
      .select(col("source"), explode(TextFuns.tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))
      // vocab-bounded; consumed by 3 branches
      .transform(Materialize(_, eager = true))
    val srcTotals = counts.groupBy("source").agg(sum("c").as("n_src"))
    val tokTotals = counts.groupBy("token").agg(sum("c").as("c_tok"))
    val grand = counts.agg(sum("c").as("n_all"))
    counts
      .join(broadcast(srcTotals), "source")
      .join(broadcast(tokTotals), "token")
      .crossJoin(broadcast(grand))
      // w_q6 = round(ln((c/n_src)/(c_tok/n_all))·1e6): ln of a ratio of
      // two exact-integer IEEE quotients — identical in both engines
      .withColumn("w_q6",
        round(log((col("c") * lit(1.0) / col("n_src")) /
          (col("c_tok") * lit(1.0) / col("n_all"))) * 1e6).cast("long"))
      .groupBy(col("source"))
      .agg(sum(col("c") * col("w_q6")).as("kl_q6_sum"),
        max(col("n_src")).as("n_tokens"))
      .select(col("source"), col("n_tokens"), col("kl_q6_sum"),
        (col("kl_q6_sum") / 1e6 / col("n_tokens")).as("kl_nats"))
      .orderBy("source")
  }

  /** §2-127 `q_split_divergence`: per-eval-split unigram KL divergence
    * from the TRAIN distribution, Laplace-smoothed — the split-QA gate
    * beside [[splitLeakage]]: leakage asks "does eval contain train
    * near-twins?", this asks "does eval even SPEAK like train?" (a val
    * set drawn from different sources/epochs than train measures domain
    * shift, not generalization). Smoothing is REQUIRED here, unlike
    * [[sourceDivergence]]: an eval token absent from train would hit
    * ln(·/0) — add-1 over the corpus vocab keeps every term finite.
    *
    * KL(s‖train) = Σ_V p_i ln(p_i/q_i), p_i = (c_i^s+1)/(N_s+V),
    * q_i = (c_i^t+1)/(N_t+V). Integer-exact cross-engine (the
    * [[sourceDivergence]] discipline): per-token log ratio quantized
    * once to micro-nats from exactly-rounded IEEE quotients of int64s,
    * the weighted sum Σ (c_i^s+1)·w_q6 in int64 (order-independent),
    * two IEEE divisions at the end.
    *
    * Shape: ONE corpus pass into (split, token) counts (vocab×3
    * bounded); the scoring grid is eval-splits × corpus vocab — 2×V
    * rows regardless of corpus size — with train counts and totals
    * riding broadcasts. */
  def splitDivergence(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val counts = documents
      .select(splitOf(col("doc_id")).as("split"),
        explode(TextFuns.tokens(col("text"))).as("token"))
      .groupBy(col("split"), col("token"))
      .agg(count(lit(1)).as("c"))
      // vocab-bounded; consumed by 4 branches
      .transform(Materialize(_, eager = true))
    val vocabTokens = counts.select("token").distinct()
      // consumed twice (count + grid)
      .transform(Materialize(_, eager = false))
    val trainCounts = counts.filter(col("split") === "train")
    val vocabN = vocabTokens.agg(count(lit(1)).as("v"))
    val trainTok = trainCounts.select(col("token"), col("c").as("ct"))
    val nTrain = trainCounts.agg(sum(col("c")).as("nt"))
    val evalTotals = counts.filter(col("split") =!= "train")
      .groupBy(col("split")).agg(sum(col("c")).as("ns"))
    val grid = Seq("test", "val").toDF("split")
      .crossJoin(vocabTokens
        .join(trainTok, Seq("token"), "left")
        .withColumn("ct", coalesce(col("ct"), lit(0L))))
      .join(counts.filter(col("split") =!= "train")
        .select(col("split"), col("token"), col("c").as("cs")),
        Seq("split", "token"), "left")
      .withColumn("cs", coalesce(col("cs"), lit(0L)))
    grid
      .join(broadcast(evalTotals), "split")
      .crossJoin(broadcast(nTrain))
      .crossJoin(broadcast(vocabN))
      .withColumn("w_q6",
        round(log(((col("cs") + 1) * lit(1.0) / (col("ns") + col("v"))) /
          ((col("ct") + 1) * lit(1.0) / (col("nt") + col("v")))) * 1e6)
          .cast("long"))
      .groupBy(col("split"))
      .agg(max(col("ns")).as("n_tokens"), max(col("v")).as("vocab"),
        sum((col("cs") + 1) * col("w_q6")).as("kl_q6_sum"))
      .select(col("split"), col("n_tokens"), col("vocab"), col("kl_q6_sum"),
        (col("kl_q6_sum") / 1e6 / (col("n_tokens") + col("vocab")))
          .as("kl_nats"))
      .orderBy("split")
  }

  def mixture(documents: DataFrame): DataFrame = {
    val tallies = documents.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(size(TextFuns.tokens(col("text"))).cast("long")).as("n_tokens"))
      .withColumn("wgt", syntheticTargetWgt)
    val totals = tallies.agg(
      sum(col("n_tokens")).as("tok_total"), sum(col("wgt")).as("wgt_total"))
    tallies.crossJoin(broadcast(totals))
      .withColumn("share", col("n_tokens") * 1.0 / col("tok_total"))
      .withColumn("target_share", col("wgt") * 1.0 / col("wgt_total"))
      .withColumn("sampling_factor", col("target_share") / col("share"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("share"), col("target_share"), col("sampling_factor"))
      .orderBy("source")
  }

  /** §2-96 `q_epoch_order`: the deterministic TRAINING ORDER — sources
    * interleaved round-robin (all the rank-1 docs across sources, then
    * the rank-2 docs, …), the epoch ordering a trainer consumes so no
    * source clusters at one end of the epoch.
    *
    * Spark-first trick: the global position needs NO global sort. With
    * per-source rank rk and the (tiny) source-size histogram broadcast,
    * the lexicographic-(rk, source) position has the closed form
    *     pos = 1 + Σ_{s'} min(rk−1, n_{s'}) + |{s' < s : n_{s'} ≥ rk}|
    * — a row-level fold over the ~|sources|-entry array. One hash
    * shuffle (the per-source rank window) computes the whole ordering;
    * the trailing orderBy is only this harness's deterministic-output
    * contract (at scale you'd range-partition WRITE by pos, not sort
    * rows). The DuckDB oracle states the same ordering as a global
    * row_number — single-node, where that's free. */
  def epochOrder(documents: DataFrame): DataFrame = {
    val perSource = Window.partitionBy("source").orderBy("doc_id")
    val ranked = documents.select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(perSource).cast("long"))
    val sizes = ranked.groupBy(col("source").as("s2"))
      .agg(count(lit(1)).as("n2"))
      .agg(collect_list(struct(col("s2"), col("n2"))).as("sz"))
    ranked.crossJoin(broadcast(sizes))
      .withColumn("pos",
        expr("""1 + aggregate(sz, 0L, (acc, x) ->
                acc + least(rk - 1, x.n2) +
                IF(x.s2 < source AND x.n2 >= rk, 1L, 0L))"""))
      .select(col("doc_id"), col("source"), col("rk"), col("pos"))
      .orderBy("pos")
  }

  /** §2-99 `q_pipeline`: the WHOLE mixing estate composed end-to-end in
    * ONE oracle-checked plan — the manifest a trainer actually consumes:
    *
    *   [[curate]] (gates + decontamination + exact-dedup + split)
    *     → train split
    *     → [[mixture]]-derived per-source sampling factors
    *     → [[upsample]]-style application (full epochs + a fractional
    *       md5-band epoch — the SAME machinery handles factor < 1, a
    *       down-sample, and factor ≥ 1, an up-sample)
    *     → [[pack]] ids over the sampled (source, epoch, doc) stream
    *     → [[epochOrder]]'s closed-form round-robin position.
    *
    * Each stage is verified alone elsewhere (§2 rows 80/95/69/56/96);
    * this query proves their column contracts actually COMPOSE — SURVEY
    * row 95's "mixture derives the factors the others apply", made a
    * single hash-checked DataFrame.
    *
    * Exactness: the sampling factor is applied as INTEGERS — with
    * num = wgt·tok_total and den = wgt_total·tok_s, full epochs are
    * `num DIV den` and the fractional epoch keeps a doc iff its md5
    * band < the 2-hex-digit threshold `((num mod den)·256) DIV den` —
    * so both engines make bit-identical keep decisions (no IEEE
    * boundary can flip a doc, the [[pack]] integer-DIV lesson applied
    * to sampling).
    *
    * Scale shape: the curated train split feeds BOTH the factor branch
    * (a per-source aggregate, KBs, broadcast back) and the manifest
    * branch — so the operator MATERIALIZES it once ([[graft.Materialize]];
    * at 100 TB this is the standard persist-the-curated-split move,
    * since that frame is the input to every downstream stage, and
    * exchange reuse can NOT substitute: the two branches prune different
    * columns, so their curate subtrees canonicalize differently and AQE
    * sees distinct stages — verified empirically, plan-audited). After
    * it, the whole composition is source-keyed only: one agg shuffle for
    * the tallies, ONE source-partitioned exchange shared by the pack
    * cumsum and the rank window (same partition key), and the tiny
    * histogram broadcast for the closed-form pos. The trailing orderBy
    * is the harness's deterministic-output contract; the scale consumer
    * is [[graft.sources.Sinks.writeOrdered]] on `pos`. */
  def pipelineManifest(documents: DataFrame): DataFrame = {
    val train = Materialize(
      curated(documents).filter(col("split") === "train"), eager = true)
    val tallies = train.groupBy(col("source"))
      .agg(sum(col("n_tokens").cast("long")).as("tok_s"))
      .withColumn("wgt", syntheticTargetWgt)
    val totals = tallies.agg(
      sum(col("tok_s")).as("tok_total"), sum(col("wgt")).as("wgt_total"))
    val factors = tallies.crossJoin(broadcast(totals))
      .withColumn("num", col("wgt") * col("tok_total"))
      .withColumn("den", col("wgt_total") * col("tok_s"))
      .select(col("source").as("_s"),
        expr("num DIV den").as("n_full"),
        expr("lpad(lower(hex(((num % den) * 256) DIV den)), 2, '0')")
          .as("band"))
    val draw = md5Band(concat(col("doc_id").cast("string"), lit(":"),
      col("epoch").cast("string")))
    val sampled = train
      .join(broadcast(factors), col("source") === col("_s"))
      .withColumn("upper",
        (col("n_full") + when(col("band") === "00", 0).otherwise(1)).cast("int"))
      .withColumn("epoch", explode(when(col("upper") >= 1,
        sequence(lit(1), col("upper"))).otherwise(typedlit(Seq.empty[Int]))))
      .filter(col("epoch") <= col("n_full") || draw < col("band"))
      .select(col("doc_id"), col("source"), col("epoch"),
        col("n_tokens").cast("long").as("n_tokens"))
    // pack cumsum + rank share ONE source-partitioned exchange (same
    // partition key; Catalyst plans a single shuffle, two sorts)
    val byEpoch = Window.partitionBy("source").orderBy("epoch", "doc_id")
    val ranked = sampled
      .withColumn("cum", sum(col("n_tokens"))
        .over(byEpoch.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("pack_id", expr(s"(cum - n_tokens) DIV $PackBudget"))
      .withColumn("rk", row_number().over(byEpoch).cast("long"))
    val sizes = ranked.groupBy(col("source").as("s2"))
      .agg(count(lit(1)).as("n2"))
      .agg(collect_list(struct(col("s2"), col("n2"))).as("sz"))
    ranked.crossJoin(broadcast(sizes))
      .withColumn("pos",
        expr("""1 + aggregate(sz, 0L, (acc, x) ->
                acc + least(rk - 1, x.n2) +
                IF(x.s2 < source AND x.n2 >= rk, 1L, 0L))"""))
      .select(col("doc_id"), col("source"), col("epoch"), col("n_tokens"),
        col("pack_id"), col("pos"))
      .orderBy("pos")
  }

  private val normSql = "lower(trim(text))"
  private val toksSql = s"string_split($normSql, ' ')"

  /** DuckDB twin of [[tokenTrigrams]] — the shared shingle definition as
    * a WITH-clause body producing `sh(key, ngram)`. */
  private def trigramSqlFor(key: String): String =
    s"""toks AS (
       |  SELECT $key, $toksSql AS ts FROM documents
       |), sh AS (
       |  SELECT $key, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS ngram
       |  FROM (SELECT $key, ts, unnest(generate_series(1, len(ts) - 2)) AS i
       |        FROM toks WHERE len(ts) >= 3)
       |)""".stripMargin

  private val trigramSql: String = trigramSqlFor("doc_id")

  /** DuckDB twin of [[splitOf]] — shared by the q_split and
    * q_split_leakage oracles. */
  private val splitCaseSql: String =
    s"""CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '$TrainBand'
       |         THEN 'train'
       |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '$ValBand'
       |         THEN 'val'
       |       ELSE 'test' END""".stripMargin

  /** DuckDB twin of [[profile]] / [[profileBySource]] — generated from
    * the same ProfileCols list (and one builder for both the global and
    * grouped forms) so the sides cannot drift column-by-column. */
  private def profileSqlFor(groupKey: Option[String]): String = {
    val keySel = groupKey.map(k => s"$k, ").getOrElse("")
    val metrics = ProfileCols.map { c =>
      s"""    COUNT(*) FILTER ($c IS NULL) AS ${c}__nulls,
         |    COUNT(DISTINCT $c) AS ${c}__distinct,
         |    CAST(MIN($c) AS VARCHAR) AS ${c}__min,
         |    CAST(MAX($c) AS VARCHAR) AS ${c}__max,
         |    CAST(COALESCE(SUM(length(CAST($c AS VARCHAR))), 0) AS BIGINT)
         |      AS ${c}__len""".stripMargin
    }.mkString(",\n")
    val branches = ProfileCols.map { c =>
      s"""SELECT $keySel'$c' AS col_name, n_rows, ${c}__nulls AS n_nulls,
         |  ${c}__distinct AS n_distinct, ${c}__min AS min_val,
         |  ${c}__max AS max_val, ${c}__len AS sum_len FROM a""".stripMargin
    }.mkString("\nUNION ALL ")
    val grp = groupKey.map(k => s"\n  GROUP BY $k").getOrElse("")
    val ord = groupKey.map(k => s"$k, col_name").getOrElse("col_name")
    s"""WITH a AS (
       |  SELECT ${keySel}COUNT(*) AS n_rows,
       |$metrics
       |  FROM documents$grp
       |)
       |$branches
       |ORDER BY $ord""".stripMargin
  }
  private val profileSql: String = profileSqlFor(None)

  /** Two named CTEs computing the NUMERIC per-source profile (n_rows,
    * n_nulls, n_distinct, sum_len per column) of `from` — the oracle
    * twin of [[profileBySource]]'s numeric metrics, embeddable in the
    * drift oracle's chain. */
  private def profileSourceCte(name: String, from: String): String = {
    val metrics = ProfileCols.map { c =>
      s"""    COUNT(*) FILTER ($c IS NULL) AS ${c}__nulls,
         |    COUNT(DISTINCT $c) AS ${c}__distinct,
         |    CAST(COALESCE(SUM(length(CAST($c AS VARCHAR))), 0) AS BIGINT)
         |      AS ${c}__len""".stripMargin
    }.mkString(",\n")
    val branches = ProfileCols.map { c =>
      s"""SELECT source, '$c' AS col_name, n_rows, ${c}__nulls AS n_nulls,
         |  ${c}__distinct AS n_distinct, ${c}__len AS sum_len
         |FROM ${name}_w""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""${name}_w AS (
       |  SELECT source, COUNT(*) AS n_rows,
       |$metrics
       |  FROM $from GROUP BY source
       |), $name AS (
       |$branches
       |)""".stripMargin
  }

  private val profileDriftSql: String =
    s"""WITH da AS (
       |  SELECT * FROM documents WHERE doc_id % 10 <> 7
       |), db AS (
       |  SELECT doc_id, lang, n_chars, source,
       |    CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text
       |  FROM documents WHERE doc_id % 10 <> 3
       |), ${profileSourceCte("pa", "da")},
       |${profileSourceCte("pb", "db")},
       |j AS (
       |  SELECT COALESCE(pa.source, pb.source) AS source,
       |    COALESCE(pa.col_name, pb.col_name) AS col_name,
       |    pa.n_rows AS b_n_rows, pa.n_nulls AS b_n_nulls,
       |    pa.n_distinct AS b_n_distinct, pa.sum_len AS b_sum_len,
       |    pb.n_rows, pb.n_nulls, pb.n_distinct, pb.sum_len
       |  FROM pa FULL OUTER JOIN pb
       |    ON pa.source = pb.source AND pa.col_name = pb.col_name
       |), u AS (
       |  SELECT source, col_name, 'n_distinct' AS metric,
       |    b_n_distinct AS base_val, n_distinct AS cur_val FROM j
       |  UNION ALL SELECT source, col_name, 'n_nulls', b_n_nulls, n_nulls FROM j
       |  UNION ALL SELECT source, col_name, 'n_rows', b_n_rows, n_rows FROM j
       |  UNION ALL SELECT source, col_name, 'sum_len', b_sum_len, sum_len FROM j
       |)
       |SELECT source, col_name, metric,
       |  CAST(COALESCE(base_val, 0) AS BIGINT) AS base_val,
       |  CAST(COALESCE(cur_val, 0) AS BIGINT) AS cur_val,
       |  CASE WHEN COALESCE(base_val, 0) <> 0
       |       THEN (COALESCE(cur_val, 0) - base_val) * 1.0 / base_val
       |  END AS rel_delta
       |FROM u ORDER BY source, col_name, metric""".stripMargin

  // lazy: the q_curate_full entry reads TextOps' planted literals, and
  // TextOps' own init reads CorpusOps.Probes — a strict val here would
  // deadlock the two objects' initializers (order-dependent NPE)
  lazy val oracles: Map[String, String] = Map(
    "q_profile" -> profileSql,
    "q_profile_by_source" -> profileSqlFor(Some("source")),
    "q_profile_drift" -> profileDriftSql,
    "q_epoch_order" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
        |         AS BIGINT) AS rk
        |  FROM documents
        |)
        |SELECT doc_id, source, rk,
        |  CAST(row_number() OVER (ORDER BY rk, source) AS BIGINT) AS pos
        |FROM r ORDER BY pos""".stripMargin,
    "q_zipf_fit" ->
      s"""WITH uni AS (
         |  SELECT t AS token, COUNT(*) AS c
         |  FROM (SELECT unnest($toksSql) AS t FROM documents) GROUP BY t
         |), ranked AS (
         |  SELECT CAST(CAST(round(ln(ROW_NUMBER() OVER (ORDER BY c DESC, token ASC) * 1.0) * 1e6)
         |      AS BIGINT) AS HUGEINT) AS x,
         |    CAST(CAST(round(ln(c * 1.0) * 1e6) AS BIGINT) AS HUGEINT) AS y
         |  FROM uni
         |), sums AS (
         |  SELECT COUNT(*) AS n_vocab,
         |    SUM(x) AS sx, SUM(y) AS sy,
         |    SUM(x * y) AS sxy, SUM(x * x) AS sxx
         |  FROM ranked
         |), fitted AS (
         |  SELECT n_vocab,
         |    CAST(CAST(n_vocab AS HUGEINT) * sxy - sx * sy AS DOUBLE) /
         |      CAST(CAST(n_vocab AS HUGEINT) * sxx - sx * sx AS DOUBLE) AS slope,
         |    sx, sy
         |  FROM sums
         |)
         |SELECT n_vocab, slope,
         |  (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / n_vocab / 1e6
         |    AS intercept_nats
         |FROM fitted""".stripMargin,
    "q_cooccurrence" ->
      s"""WITH tk AS (
         |  SELECT $toksSql AS tk FROM documents
         |), pos AS (
         |  SELECT tk, unnest(generate_series(1, len(tk))) AS i FROM tk
         |), raw AS (
         |  SELECT tk[CAST(i AS INTEGER)] AS x,
         |    unnest(tk[(CAST(i AS INTEGER) + 1):(CAST(i AS INTEGER) + 3)]) AS y
         |  FROM pos
         |), pr AS (
         |  SELECT CASE WHEN x <= y THEN x ELSE y END AS tok_a,
         |         CASE WHEN x <= y THEN y ELSE x END AS tok_b
         |  FROM raw
         |), pc AS (
         |  SELECT tok_a, tok_b, COUNT(*) AS c_ab FROM pr GROUP BY tok_a, tok_b
         |), uni AS (
         |  SELECT t AS tok, COUNT(*) AS c
         |  FROM (SELECT unnest(tk) AS t FROM tk) GROUP BY t
         |), nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM uni
         |), np AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n_pair FROM pc)
         |SELECT tok_a, tok_b, c_ab,
         |  CAST(round(ln((c_ab * 1.0 / np.n_pair) /
         |    ((ca.c * 1.0 / nt.n_tok) * (cb.c * 1.0 / nt.n_tok))) * 1e6)
         |    AS BIGINT) AS pmi_q6
         |FROM pc
         |JOIN uni ca ON ca.tok = pc.tok_a
         |JOIN uni cb ON cb.tok = pc.tok_b
         |CROSS JOIN nt CROSS JOIN np
         |WHERE c_ab >= 5
         |ORDER BY pmi_q6 DESC, tok_a ASC, tok_b ASC
         |LIMIT 50""".stripMargin,
    "q_source_divergence" ->
      s"""WITH toks AS (
         |  SELECT source, unnest(string_split($normSql, ' ')) AS token FROM documents
         |), counts AS (
         |  SELECT source, token, COUNT(*) AS c FROM toks GROUP BY source, token
         |), src_tot AS (
         |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_src FROM counts GROUP BY source
         |), tok_tot AS (
         |  SELECT token, CAST(SUM(c) AS BIGINT) AS c_tok FROM counts GROUP BY token
         |), grand AS (SELECT CAST(SUM(c) AS BIGINT) AS n_all FROM counts
         |), weighted AS (
         |  SELECT c.source, c.c, s.n_src,
         |    CAST(round(ln((c.c * 1.0 / s.n_src) / (t.c_tok * 1.0 / g.n_all)) * 1e6)
         |      AS BIGINT) AS w_q6
         |  FROM counts c
         |  JOIN src_tot s ON s.source = c.source
         |  JOIN tok_tot t ON t.token = c.token
         |  CROSS JOIN grand g
         |)
         |SELECT source, MAX(n_src) AS n_tokens,
         |  CAST(SUM(c * w_q6) AS BIGINT) AS kl_q6_sum,
         |  CAST(SUM(c * w_q6) AS BIGINT) / 1e6 / MAX(n_src) AS kl_nats
         |FROM weighted
         |GROUP BY source
         |ORDER BY source""".stripMargin,
    "q_split_divergence" ->
      s"""WITH toks AS (
         |  SELECT $splitCaseSql AS split,
         |    unnest(string_split($normSql, ' ')) AS token
         |  FROM documents
         |), counts AS (
         |  SELECT split, token, COUNT(*) AS c FROM toks GROUP BY split, token
         |), voc AS (
         |  SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM counts
         |), train_tok AS (
         |  SELECT token, c AS ct FROM counts WHERE split = 'train'
         |), ttot AS (
         |  SELECT CAST(SUM(c) AS BIGINT) AS nt FROM counts WHERE split = 'train'
         |), stot AS (
         |  SELECT split, CAST(SUM(c) AS BIGINT) AS ns
         |  FROM counts WHERE split <> 'train' GROUP BY split
         |), grid AS (
         |  SELECT s.split, t.token,
         |    COALESCE(tt.ct, 0) AS ct, COALESCE(e.c, 0) AS cs
         |  FROM (SELECT 'test' AS split UNION ALL SELECT 'val') s
         |  CROSS JOIN (SELECT DISTINCT token FROM counts) t
         |  LEFT JOIN train_tok tt ON tt.token = t.token
         |  LEFT JOIN (SELECT split, token, c FROM counts WHERE split <> 'train') e
         |    ON e.split = s.split AND e.token = t.token
         |), weighted AS (
         |  SELECT g.split, g.cs, stot.ns, voc.v,
         |    CAST(round(ln(((g.cs + 1) * 1.0 / (stot.ns + voc.v)) /
         |      ((g.ct + 1) * 1.0 / (ttot.nt + voc.v))) * 1e6) AS BIGINT) AS w_q6
         |  FROM grid g
         |  JOIN stot ON stot.split = g.split
         |  CROSS JOIN ttot CROSS JOIN voc
         |)
         |SELECT split, MAX(ns) AS n_tokens, MAX(v) AS vocab,
         |  CAST(SUM((cs + 1) * w_q6) AS BIGINT) AS kl_q6_sum,
         |  CAST(SUM((cs + 1) * w_q6) AS BIGINT) / 1e6 / (MAX(ns) + MAX(v)) AS kl_nats
         |FROM weighted
         |GROUP BY split
         |ORDER BY split""".stripMargin,
    "q_mixture" ->
      s"""WITH t AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(len($toksSql)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source
         |), w AS (
         |  SELECT *, CAST(20 - CAST(substr(source, 4) AS INT) AS BIGINT) AS wgt
         |  FROM t
         |), tot AS (
         |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tok_total,
         |         CAST(SUM(wgt) AS BIGINT) AS wgt_total FROM w
         |), j AS (
         |  SELECT source, n_docs, n_tokens,
         |    n_tokens * 1.0 / tok_total AS share,
         |    wgt * 1.0 / wgt_total AS target_share
         |  FROM w, tot
         |)
         |SELECT source, n_docs, n_tokens, share, target_share,
         |  target_share / share AS sampling_factor
         |FROM j ORDER BY source""".stripMargin,
    "q_drop_diff" ->
      """WITH a AS (
        |  SELECT doc_id, source, md5(text) AS h, length(text) AS len
        |  FROM documents WHERE doc_id % 10 <> 7
        |), b0 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 <> 3
        |), b AS (
        |  SELECT doc_id, source, md5(text) AS h, length(text) AS len FROM b0
        |), j AS (
        |  SELECT coalesce(a.source, b.source) AS source,
        |    CASE WHEN a.doc_id IS NULL THEN 'added'
        |         WHEN b.doc_id IS NULL THEN 'removed'
        |         WHEN a.h <> b.h THEN 'changed'
        |         ELSE 'unchanged' END AS status,
        |    coalesce(b.len, 0) - coalesce(a.len, 0) AS d
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
        |)
        |SELECT source, status, COUNT(*) AS n_docs,
        |  CAST(SUM(d) AS BIGINT) AS chars_delta
        |FROM j GROUP BY source, status
        |ORDER BY source, status""".stripMargin,
    "q_lm_score" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), p AS (
         |  SELECT doc_id, toks,
         |    unnest(generate_series(1, len(toks) - 1)) AS i
         |  FROM t WHERE len(toks) >= 2
         |), b AS (
         |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM p
         |), c2 AS (
         |  SELECT w1, w2, count(*) AS n2 FROM b GROUP BY w1, w2
         |), c1 AS (
         |  SELECT w1, CAST(sum(n2) AS BIGINT) AS n1 FROM c2 GROUP BY w1
         |), q AS (
         |  SELECT doc_id, (2000000 * n2 + n1) // (2 * n1) AS p6
         |  FROM b JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
         |)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(sum(p6) AS BIGINT) AS sum_p6,
         |  CAST(sum(p6) AS DOUBLE) / (count(*) * 1000000.0) AS lm_score
         |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_contamination" -> {
      val values = Probes.map(p => s"(${TextFuns.sqlLit(p)})").mkString(", ")
      s"""SELECT doc_id, probe
         |FROM documents
         |JOIN (VALUES $values) AS t(probe)
         |  ON contains($normSql, probe)
         |ORDER BY doc_id, probe""".stripMargin
    },
    "q_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, len($toksSql) AS n_tokens FROM documents
         |), c AS (
         |  SELECT doc_id, source, n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t
         |)
         |SELECT source,
         |  CAST((cum - n_tokens) // $PackBudget AS BIGINT) AS pack_id,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
         |  MIN(doc_id) AS first_doc_id
         |FROM c
         |GROUP BY 1, 2
         |ORDER BY source, pack_id""".stripMargin,
    "q_group_sample" ->
      s"""SELECT doc_id, source, lang, CAST(rk AS INTEGER) AS rk FROM (
         |  SELECT doc_id, source, lang,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         |  FROM documents)
         |WHERE rk <= $GroupSampleK
         |ORDER BY source, rk""".stripMargin,
    "q_token_budget" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, len($toksSql) AS n_tokens FROM documents
         |), c AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY source
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_tokens
         |  FROM t
         |)
         |SELECT * FROM c WHERE cum_tokens - n_tokens < $TokenBudget
         |ORDER BY doc_id""".stripMargin,
    "q_token_budget_weighted" -> {
      val budgetCase = WeightedBudgets.toSeq.sorted
        .map { case (s, b) => s"WHEN source = '$s' THEN $b" }
        .mkString("CASE ", " ", s" ELSE $TokenBudget END")
      s"""WITH t AS (
         |  SELECT doc_id, source, len($toksSql) AS n_tokens FROM documents
         |), c AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY source
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_tokens
         |  FROM t
         |)
         |SELECT * FROM c WHERE cum_tokens - n_tokens < ($budgetCase)
         |ORDER BY doc_id""".stripMargin
    },
    "q_contamination_ngram" -> {
      val values = Probes.map(p => s"(${TextFuns.sqlLit(p)})").mkString(", ")
      // same token-sequence contract: docs explode into n-grams of each
      // distinct probe token-length; string equality replaces the hash
      s"""WITH p AS (
         |  SELECT probe, string_split(lower(trim(probe)), ' ') AS pt
         |  FROM (VALUES $values) AS t(probe)
         |), plen AS (
         |  SELECT DISTINCT len(pt) AS g FROM p
         |), toks AS (
         |  SELECT doc_id, $toksSql AS ts FROM documents
         |), grams AS (
         |  SELECT DISTINCT doc_id, array_to_string(ts[i : i + g - 1], ' ') AS gram
         |  FROM (SELECT doc_id, ts, g,
         |          unnest(generate_series(1, len(ts) - g + 1)) AS i
         |        FROM toks CROSS JOIN plen WHERE len(ts) >= g)
         |)
         |SELECT doc_id, probe
         |FROM grams JOIN p ON gram = array_to_string(pt, ' ')
         |ORDER BY doc_id, probe""".stripMargin
    },
    "q_contamination_bloom" -> {
      val values = Probes.map(p => s"(${TextFuns.sqlLit(p)})").mkString(", ")
      // simulate the bitmap exactly: the distinct salted-md5-prefix
      // position set of the probe items; a gram is flagged iff ALL four
      // of its salted positions are present (false positives included —
      // verdicts are bit-identical to the native bloom_contains)
      s"""WITH p AS (
         |  SELECT probe, string_split(lower(trim(probe)), ' ') AS pt
         |  FROM (VALUES $values) AS t(probe)
         |), salts AS (
         |  SELECT unnest([1, 2, 3, 4]) AS j
         |), pos AS (
         |  SELECT DISTINCT
         |    substr(md5(chr(j) || array_to_string(pt, ' ')), 1, 4) AS p
         |  FROM p, salts
         |), plen AS (
         |  SELECT DISTINCT len(pt) AS g FROM p
         |), toks AS (
         |  SELECT doc_id, $toksSql AS ts FROM documents
         |), grams AS (
         |  SELECT DISTINCT doc_id, array_to_string(ts[i : i + g - 1], ' ') AS gram
         |  FROM (SELECT doc_id, ts, g,
         |          unnest(generate_series(1, len(ts) - g + 1)) AS i
         |        FROM toks CROSS JOIN plen WHERE len(ts) >= g)
         |), g4 AS (
         |  SELECT doc_id, gram, substr(md5(chr(j) || gram), 1, 4) AS pp
         |  FROM grams, salts
         |), flagged AS (
         |  SELECT doc_id, gram
         |  FROM g4 LEFT JOIN pos ON g4.pp = pos.p
         |  GROUP BY doc_id, gram
         |  HAVING count(pos.p) = 4
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_flagged
         |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "q_repetition" ->
      s"""WITH $trigramSql, counts AS (
         |  SELECT doc_id, ngram, COUNT(*) AS c FROM sh GROUP BY doc_id, ngram
         |)
         |SELECT doc_id, MAX(c) AS max_rep,
         |  CAST(SUM(c) AS BIGINT) AS n_ngrams,
         |  MAX(c) * 1.0 / CAST(SUM(c) AS BIGINT) AS rep_share
         |FROM counts
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,
    "q_sample" ->
      s"""SELECT doc_id, lang, source
         |FROM documents
         |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
         |  (CASE WHEN lang = 'en' THEN '${SampleBands("en")}'
         |        ELSE '${SampleBands("other")}' END)
         |ORDER BY doc_id""".stripMargin,
    "q_upsample" -> {
      // CASE ladders generated from the SAME weight maps the operator
      // defaults to — single source of truth for the mixture config
      val fullCase = UpsampleFull.toSeq.sorted
        .map { case (s, n) => s"WHEN '$s' THEN $n" }
        .mkString("CASE source ", " ", " ELSE 1 END")
      val bandCase = UpsampleFracBand.toSeq.sorted
        .map { case (s, b) => s"WHEN '$s' THEN '$b'" }
        .mkString("CASE source ", " ", " ELSE NULL END")
      s"""WITH w AS (
         |  SELECT doc_id, source, $fullCase AS n_full, $bandCase AS band
         |  FROM documents
         |), e AS (
         |  SELECT doc_id, source, n_full, band,
         |    unnest(generate_series(1,
         |      n_full + CASE WHEN band IS NULL THEN 0 ELSE 1 END)) AS ep
         |  FROM w
         |)
         |SELECT doc_id, source, CAST(ep AS INT) AS epoch
         |FROM e
         |WHERE ep <= n_full
         |   OR substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
         |             CAST(ep AS VARCHAR)), 1, 2) < band
         |ORDER BY doc_id, epoch""".stripMargin
    },
    "q_split" ->
      s"""SELECT doc_id, lang, source, $splitCaseSql AS split
         |FROM documents
         |ORDER BY doc_id""".stripMargin,
    "q_split_leakage" ->
      s"""WITH ${DedupOps.minhashSigSqlFor(DedupOps.MinhashK)}, sp AS (
         |  SELECT doc_id, $splitCaseSql AS split FROM documents
         |)
         |SELECT DISTINCT a.doc_id AS doc_eval, se.split AS split,
         |  b.doc_id AS doc_train
         |FROM sig a
         |JOIN sp se ON se.doc_id = a.doc_id AND se.split <> 'train'
         |JOIN sig b
         |  ON (${DedupOps.bandCondSqlFor(DedupOps.MinhashK, DedupOps.Bands)})
         |JOIN sp st ON st.doc_id = b.doc_id AND st.split = 'train'
         |ORDER BY doc_eval, doc_train""".stripMargin,
    "q_source_overlap" ->
      s"""WITH ${trigramSqlFor("source")}, ss AS (
         |  SELECT DISTINCT source, ngram FROM sh
         |), srcs AS (
         |  SELECT DISTINCT source FROM documents
         |), sizes AS (
         |  SELECT s.source, COALESCE(c.n, 0) AS n
         |  FROM srcs s LEFT JOIN (
         |    SELECT source, COUNT(*) AS n FROM ss GROUP BY source
         |  ) c ON c.source = s.source
         |), inter AS (
         |  SELECT a.source AS sa, b.source AS sb, COUNT(*) AS c
         |  FROM ss a JOIN ss b ON a.ngram = b.ngram AND a.source < b.source
         |  GROUP BY 1, 2
         |)
         |SELECT x.source AS source_a, y.source AS source_b,
         |  COALESCE(i.c, 0) AS n_common,
         |  CASE WHEN x.n + y.n - COALESCE(i.c, 0) = 0 THEN 0.0
         |       ELSE round(CAST(COALESCE(i.c, 0) AS DOUBLE) /
         |            (x.n + y.n - COALESCE(i.c, 0)), 6) END AS jaccard
         |FROM sizes x
         |JOIN sizes y ON x.source < y.source
         |LEFT JOIN inter i ON i.sa = x.source AND i.sb = y.source
         |ORDER BY source_a, source_b""".stripMargin,
    "q_ngram_counts" ->
      s"""WITH $trigramSql
         |SELECT ngram, COUNT(*) AS n
         |FROM sh
         |GROUP BY ngram
         |ORDER BY n DESC, ngram ASC
         |LIMIT 50""".stripMargin,
    "q_tfidf" ->
      s"""WITH tf AS (
         |  SELECT doc_id, unnest($toksSql) AS term FROM documents
         |), tfc AS (
         |  SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY doc_id, term
         |), dfc AS (
         |  SELECT term, COUNT(*) AS df FROM tfc GROUP BY term
         |), n AS (
         |  SELECT COUNT(*) AS n_docs FROM documents
         |), scored AS (
         |  SELECT doc_id, tfc.term, round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf
         |  FROM tfc JOIN dfc ON tfc.term = dfc.term CROSS JOIN n
         |), ranked AS (
         |  SELECT doc_id, term AS top_term, tfidf,
         |    row_number() OVER (PARTITION BY doc_id
         |                       ORDER BY tfidf DESC, term ASC) AS rn
         |  FROM scored
         |)
         |SELECT doc_id, top_term, tfidf FROM ranked WHERE rn = 1
         |ORDER BY doc_id""".stripMargin,
    "q_chunks" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $toksSql AS ts FROM documents
         |), starts AS (
         |  SELECT doc_id, ts,
         |    unnest(generate_series(0, len(ts) - 1, $ChunkStride)) AS st
         |  FROM toks
         |)
         |SELECT doc_id,
         |  CAST(st // $ChunkStride AS INTEGER) AS chunk_id,
         |  len(ts[st + 1 : st + $ChunkTokens]) AS n_chunk_tokens,
         |  array_to_string(ts[st + 1 : st + $ChunkTokens], ' ') AS chunk_text
         |FROM starts
         |ORDER BY doc_id, chunk_id""".stripMargin,
    "q_rollup" ->
      """SELECT source, lang, GROUPING(source, lang) AS gid,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY ROLLUP (source, lang)
        |ORDER BY source ASC NULLS FIRST, lang ASC NULLS FIRST, gid""".stripMargin,
    "q_cube" ->
      """SELECT source, lang, GROUPING(source, lang) AS gid,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY CUBE (source, lang)
        |ORDER BY source ASC NULLS FIRST, lang ASC NULLS FIRST, gid""".stripMargin,
    "q_bm25" -> {
      val terms = Bm25Query.map(TextFuns.sqlLit).mkString(", ")
      s"""WITH d AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), tot AS (
         |  SELECT COUNT(*) AS d_total, CAST(SUM(len(toks)) AS HUGEINT) AS t_total
         |  FROM d
         |), m AS (
         |  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM d
         |), tf AS (
         |  -- least(tf, 255): the saturation cap the Spark side applies
         |  SELECT doc_id, term, least(COUNT(*), 255) AS tf, MIN(dl) AS dl FROM m
         |  WHERE term IN ($terms) GROUP BY doc_id, term
         |), dft AS (
         |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
         |), scored AS (
         |  -- the same log-free rational BM25 the Spark side quantizes:
         |  -- one exact integer division to q9 micro-units per term
         |  SELECT doc_id,
         |    CAST((CAST(2*d_total - 2*df + 1 AS HUGEINT) * 22 * t_total * tf
         |          * 1000000000) //
         |         (CAST(2*df + 1 AS HUGEINT) *
         |          (10 * t_total * tf + 3 * t_total + 9 * CAST(dl AS HUGEINT) * d_total))
         |      AS BIGINT) AS sq
         |  FROM tf JOIN dft USING (term) CROSS JOIN tot
         |)
         |SELECT doc_id, CAST(SUM(sq) AS BIGINT) AS score_q9,
         |  COUNT(*) AS n_terms
         |FROM scored GROUP BY doc_id
         |ORDER BY score_q9 DESC, doc_id ASC
         |LIMIT 20""".stripMargin
    },
    "q_bm25_multi" -> {
      val probeValues = Probes.map(p => s"(${TextFuns.sqlLit(p)})").mkString(", ")
      s"""WITH d AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), tot AS (
         |  SELECT COUNT(*) AS d_total, CAST(SUM(len(toks)) AS HUGEINT) AS t_total
         |  FROM d
         |), m AS (
         |  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM d
         |), pt AS (
         |  SELECT DISTINCT probe,
         |    unnest(string_split(lower(trim(probe)), ' ')) AS term
         |  FROM (VALUES $probeValues) p(probe)
         |), tf AS (
         |  SELECT doc_id, term, least(COUNT(*), 255) AS tf, MIN(dl) AS dl FROM m
         |  WHERE term IN (SELECT term FROM pt) GROUP BY doc_id, term
         |), dft AS (
         |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
         |), scored AS (
         |  SELECT probe, doc_id,
         |    CAST(SUM(CAST((CAST(2*d_total - 2*df + 1 AS HUGEINT) * 22 * t_total
         |          * tf * 1000000000) //
         |         (CAST(2*df + 1 AS HUGEINT) *
         |          (10 * t_total * tf + 3 * t_total + 9 * CAST(dl AS HUGEINT) * d_total))
         |      AS BIGINT)) AS BIGINT) AS score_q9,
         |    COUNT(*) AS n_terms
         |  FROM tf JOIN dft USING (term) JOIN pt USING (term) CROSS JOIN tot
         |  GROUP BY probe, doc_id
         |)
         |SELECT probe, CAST(rank AS INTEGER) AS rank, doc_id, score_q9, n_terms
         |FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY probe ORDER BY score_q9 DESC, doc_id ASC) AS rank
         |  FROM scored)
         |WHERE rank <= 5
         |ORDER BY probe, rank""".stripMargin
    },
    "q_corpus_filter" ->
      s"""$filterCtePrefix
         |SELECT doc_id, source, pred_lang, quality_score
         |FROM p
         |WHERE doc_id = rep_doc_id AND pred_lang = 'en' AND quality_score >= $QualityTau
         |ORDER BY doc_id""".stripMargin,
    "q_curate" -> {
      val notContaminated = Probes
        .map(p => s"NOT contains($normSql, ${TextFuns.sqlLit(p)})")
        .mkString(" AND ")
      s"""$filterCtePrefix
         |SELECT doc_id, source, quality_score,
         |  len($toksSql) AS n_tokens,
         |  $splitCaseSql AS split
         |FROM p
         |WHERE doc_id = rep_doc_id AND pred_lang = 'en'
         |  AND quality_score >= $QualityTau
         |  AND $notContaminated
         |ORDER BY doc_id""".stripMargin
    },
    "q_curate_full" -> {
      val notContaminated = Probes
        .map(p => s"NOT contains($normSql, ${TextFuns.sqlLit(p)})")
        .mkString(" AND ")
      val augSql = s"""text || ${TextFuns.sqlLit(TextOps.C4Good)} ||
        |    CASE WHEN doc_id % 5 = 1 THEN ${TextFuns.sqlLit(TextOps.C4Aug(1))}
        |         WHEN doc_id % 5 = 2 THEN ${TextFuns.sqlLit(TextOps.C4Aug(2))}
        |         WHEN doc_id % 5 = 3 THEN ${TextFuns.sqlLit(TextOps.C4Aug(3))}
        |         WHEN doc_id % 5 = 4 THEN ${TextFuns.sqlLit(TextOps.C4Aug(4))}
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 1 THEN ${TextFuns.sqlLit(TextOps.GopherAug(1))}
        |         WHEN doc_id % 4 = 2 THEN ${TextFuns.sqlLit(TextOps.GopherAug(2))}
        |         WHEN doc_id % 4 = 3 THEN ${TextFuns.sqlLit(TextOps.GopherAug(3))}
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 1 THEN ${TextFuns.sqlLit(TextOps.GopherRepAug(1))}
        |         WHEN doc_id % 7 = 2 THEN ${TextFuns.sqlLit(TextOps.GopherRepAug(2))}
        |         WHEN doc_id % 7 = 3 THEN ${TextFuns.sqlLit(TextOps.GopherRepAug(3))}
        |         WHEN doc_id % 7 = 4 THEN ${TextFuns.sqlLit(TextOps.GopherRepAug(4))}
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 1
        |         THEN ${TextFuns.sqlLit(" " + ManifestBadwords.head)}
        |         ELSE '' END""".stripMargin
      val stops = TextOps.GopherStops.map(s =>
        s"(CASE WHEN list_contains(ts, ${TextFuns.sqlLit(s)}) " +
          "THEN 1 ELSE 0 END)").mkString(" + ")
      val c4keep = "(l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' " +
        "OR l LIKE '%\"') AND len(string_split(l, ' ')) >= 5"
      s"""WITH d AS (
         |  SELECT doc_id, source, $augSql AS text
         |  FROM documents
         |), ${filterCtes("d")}, gs AS (
         |  SELECT doc_id, text, lower(trim(text)) AS nrm,
         |    string_split(lower(trim(text)), ' ') AS ts,
         |    string_split(text, chr(10)) AS ls
         |  FROM p
         |), gm AS (
         |  SELECT doc_id,
         |    CAST(len(ts) AS BIGINT) AS n_words,
         |    CAST(len(ls) AS BIGINT) AS n_lines,
         |    CAST(length(nrm) - (len(ts) - 1) AS BIGINT) AS total_len,
         |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
         |      AS hash_cnt,
         |    CAST(length(text) - length(replace(text, '...', '')) AS BIGINT)
         |      AS ell3,
         |    CAST(len(list_filter(ls,
         |      l -> l LIKE '- %' OR l LIKE '* %')) AS BIGINT) AS bullets,
         |    CAST(len(list_filter(ls, l -> l LIKE '%...')) AS BIGINT)
         |      AS ellend,
         |    CAST(len(list_filter(ts,
         |      tk -> regexp_matches(tk, '[a-z]'))) AS BIGINT) AS alpha,
         |    ($stops) AS stop_cnt,
         |    CAST(len(list_filter(ls, l -> $c4keep)) AS BIGINT) AS c4_kept,
         |    (NOT contains(lower(text), 'lorem ipsum')
         |      AND NOT contains(text, '{')) AS page_clean
         |  FROM gs
         |), gok AS (
         |  SELECT doc_id FROM gm
         |  WHERE n_words >= 50 AND n_words <= 100000
         |    AND total_len >= n_words * 3 AND total_len <= n_words * 10
         |    AND hash_cnt * 10 <= n_words AND ell3 * 10 <= n_words * 3
         |    AND bullets * 10 <= n_lines * 9
         |    AND ellend * 10 <= n_lines * 3
         |    AND alpha * 5 >= n_words * 4 AND stop_cnt >= 2
         |    AND page_clean AND c4_kept >= 3
         |), rb AS (
         |  SELECT doc_id, string_split(text, chr(10)) AS lines,
         |    string_split(text, chr(10) || chr(10)) AS paras,
         |    string_split(lower(trim(text)), ' ') AS toks
         |  FROM d
         |), rm AS (
         |  SELECT doc_id, len(lines) AS nl, len(paras) AS np,
         |    list_sum(list_transform(lines, x -> length(x))) AS lc,
         |    list_sum(list_transform(paras, x -> length(x))) AS pc,
         |    list_sum(list_transform(toks, x -> length(x))) AS tc
         |  FROM rb
         |), rldup AS (
         |  SELECT doc_id, count(*) AS dl, sum(length(v)) AS dlc
         |  FROM (SELECT doc_id, v, count(*) OVER (PARTITION BY doc_id, v) AS c
         |        FROM (SELECT doc_id, unnest(lines) AS v FROM rb))
         |  WHERE c >= 2 GROUP BY 1
         |), rpdup AS (
         |  SELECT doc_id, count(*) AS dp, sum(length(v)) AS dpc
         |  FROM (SELECT doc_id, v, count(*) OVER (PARTITION BY doc_id, v) AS c
         |        FROM (SELECT doc_id, unnest(paras) AS v FROM rb))
         |  WHERE c >= 2 GROUP BY 1
         |), rgn AS (
         |  SELECT doc_id, toks, unnest(generate_series(2, 10)) AS n FROM rb
         |), rgi AS (
         |  SELECT doc_id, toks, n,
         |    unnest(generate_series(1, len(toks) - n + 1)) AS i
         |  FROM rgn WHERE len(toks) >= n
         |), rg AS (
         |  SELECT doc_id, n, i, array_to_string(toks[i : i + n - 1], ' ') AS gm,
         |    list_sum(list_transform(toks[i : i + n - 1],
         |      x -> length(x))) AS gc
         |  FROM rgi
         |), rgcnt AS (
         |  SELECT *, count(*) OVER (PARTITION BY doc_id, n, gm) AS cnt FROM rg
         |), rmx AS (
         |  SELECT doc_id, n, max(cnt) AS mc FROM rgcnt GROUP BY 1, 2
         |), rtop AS (
         |  SELECT g.doc_id, g.n, max(g.cnt * g.gc) AS prod
         |  FROM rgcnt g JOIN rmx
         |    ON g.doc_id = rmx.doc_id AND g.n = rmx.n AND g.cnt = rmx.mc
         |  WHERE g.n <= 4 GROUP BY 1, 2
         |), rcpos AS (
         |  SELECT DISTINCT doc_id, n, p FROM (
         |    SELECT doc_id, n, unnest(generate_series(i, i + n - 1)) AS p
         |    FROM rgcnt WHERE n >= 5 AND cnt >= 2)
         |), rtp AS (
         |  SELECT doc_id, p, length(toks[p]) AS tl FROM (
         |    SELECT doc_id, toks,
         |      unnest(generate_series(1, len(toks))) AS p FROM rb)
         |), rcov AS (
         |  SELECT rcpos.doc_id, rcpos.n, sum(rtp.tl) AS cv
         |  FROM rcpos JOIN rtp
         |    ON rcpos.doc_id = rtp.doc_id AND rcpos.p = rtp.p
         |  GROUP BY 1, 2
         |), rrep AS (
         |  SELECT rm.doc_id,
         |    (coalesce(rldup.dl, 0) * 10 <= rm.nl * 3
         |     AND coalesce(rpdup.dp, 0) * 10 <= rm.np * 3
         |     AND coalesce(rldup.dlc, 0) * 10 <= rm.lc * 2
         |     AND coalesce(rpdup.dpc, 0) * 10 <= rm.pc * 2
         |     AND coalesce(t2.prod, 0) * 100 <= rm.tc * ${TextOps.TopGramPct(2)}
         |     AND coalesce(t3.prod, 0) * 100 <= rm.tc * ${TextOps.TopGramPct(3)}
         |     AND coalesce(t4.prod, 0) * 100 <= rm.tc * ${TextOps.TopGramPct(4)}
         |     AND coalesce(c5.cv, 0) * 100 <= rm.tc * ${TextOps.DupGramPct(5)}
         |     AND coalesce(c6.cv, 0) * 100 <= rm.tc * ${TextOps.DupGramPct(6)}
         |     AND coalesce(c7.cv, 0) * 100 <= rm.tc * ${TextOps.DupGramPct(7)}
         |     AND coalesce(c8.cv, 0) * 100 <= rm.tc * ${TextOps.DupGramPct(8)}
         |     AND coalesce(c9.cv, 0) * 100 <= rm.tc * ${TextOps.DupGramPct(9)}
         |     AND coalesce(c10.cv, 0) * 100 <= rm.tc * ${TextOps.DupGramPct(10)})
         |      AS rep_pass
         |  FROM rm
         |  LEFT JOIN rldup USING (doc_id)
         |  LEFT JOIN rpdup USING (doc_id)
         |  LEFT JOIN rtop t2 ON t2.doc_id = rm.doc_id AND t2.n = 2
         |  LEFT JOIN rtop t3 ON t3.doc_id = rm.doc_id AND t3.n = 3
         |  LEFT JOIN rtop t4 ON t4.doc_id = rm.doc_id AND t4.n = 4
         |  LEFT JOIN rcov c5 ON c5.doc_id = rm.doc_id AND c5.n = 5
         |  LEFT JOIN rcov c6 ON c6.doc_id = rm.doc_id AND c6.n = 6
         |  LEFT JOIN rcov c7 ON c7.doc_id = rm.doc_id AND c7.n = 7
         |  LEFT JOIN rcov c8 ON c8.doc_id = rm.doc_id AND c8.n = 8
         |  LEFT JOIN rcov c9 ON c9.doc_id = rm.doc_id AND c9.n = 9
         |  LEFT JOIN rcov c10 ON c10.doc_id = rm.doc_id AND c10.n = 10
         |), lt AS (
         |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
         |  FROM d
         |), lp AS (
         |  SELECT doc_id, toks,
         |    unnest(generate_series(1, len(toks) - 1)) AS i
         |  FROM lt WHERE len(toks) >= 2
         |), lb AS (
         |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM lp
         |), lc2 AS (
         |  SELECT w1, w2, count(*) AS n2 FROM lb GROUP BY w1, w2
         |), lc1 AS (
         |  SELECT w1, CAST(sum(n2) AS BIGINT) AS n1 FROM lc2 GROUP BY w1
         |), lq AS (
         |  SELECT doc_id, (2000000 * n2 + n1) // (2 * n1) AS p6
         |  FROM lb JOIN lc2 USING (w1, w2) JOIN lc1 USING (w1)
         |), lsc AS (
         |  SELECT doc_id, count(*) AS nb, CAST(sum(p6) AS BIGINT) AS sp
         |  FROM lq GROUP BY doc_id
         |)
         |SELECT p.doc_id, p.source, p.quality_score,
         |  CAST(lsc.sp AS DOUBLE) / (lsc.nb * 1000000.0) AS lm_score,
         |  len($toksSql) AS n_tokens,
         |  $splitCaseSql AS split
         |FROM p JOIN gok USING (doc_id) JOIN lsc USING (doc_id)
         |  JOIN rrep USING (doc_id)
         |WHERE doc_id = rep_doc_id AND pred_lang = 'en'
         |  AND quality_score >= $QualityTau
         |  AND $notContaminated
         |  AND rrep.rep_pass
         |  AND ${ManifestBadwords.map(w =>
                  s"NOT list_contains($toksSql, ${TextFuns.sqlLit(w)})")
                  .mkString(" AND ")}
         |  AND lsc.sp >= lsc.nb * ${LmBandP6._1}
         |  AND lsc.sp <= lsc.nb * ${LmBandP6._2}
         |ORDER BY doc_id""".stripMargin
    },
    "q_pipeline" -> {
      val notContaminated = Probes
        .map(p => s"NOT contains($normSql, ${TextFuns.sqlLit(p)})")
        .mkString(" AND ")
      s"""$filterCtePrefix,
         |cur AS (
         |  SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM p
         |  WHERE doc_id = rep_doc_id AND pred_lang = 'en'
         |    AND quality_score >= $QualityTau
         |    AND $notContaminated
         |    AND $splitCaseSql = 'train'
         |), t AS (
         |  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS tok_s
         |  FROM cur GROUP BY source
         |), w AS (
         |  SELECT *, CAST(20 - CAST(substr(source, 4) AS INT) AS BIGINT) AS wgt
         |  FROM t
         |), tot AS (
         |  SELECT CAST(SUM(tok_s) AS BIGINT) AS tok_total,
         |         CAST(SUM(wgt) AS BIGINT) AS wgt_total FROM w
         |), f AS (
         |  SELECT source AS fs, wgt * tok_total AS num, wgt_total * tok_s AS den
         |  FROM w, tot
         |), f2 AS (
         |  SELECT fs, num // den AS n_full,
         |    printf('%02x', CAST(((num % den) * 256) // den AS INT)) AS band
         |  FROM f
         |), e0 AS (
         |  -- generate_series and its unnest split across two CTEs: fused
         |  -- in one SELECT behind this many CTEs they trip a DuckDB
         |  -- internal binder error ("Failed to bind column reference ep")
         |  SELECT cur.doc_id, cur.source, cur.n_tokens, f2.n_full, f2.band,
         |    generate_series(1, CAST(n_full +
         |      CASE WHEN band = '00' THEN 0 ELSE 1 END AS BIGINT)) AS eps
         |  FROM cur JOIN f2 ON cur.source = f2.fs
         |), e AS (
         |  SELECT doc_id, source, n_tokens, n_full, band, unnest(eps) AS ep
         |  FROM e0
         |), smp AS (
         |  SELECT doc_id, source, CAST(ep AS INT) AS epoch, n_tokens
         |  FROM e
         |  WHERE ep <= n_full
         |     OR substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
         |               CAST(ep AS VARCHAR)), 1, 2) < band
         |), pk AS (
         |  SELECT *,
         |    (SUM(n_tokens) OVER (PARTITION BY source ORDER BY epoch, doc_id)
         |      - n_tokens) // $PackBudget AS pack_id,
         |    CAST(row_number() OVER (PARTITION BY source ORDER BY epoch, doc_id)
         |      AS BIGINT) AS rk
         |  FROM smp
         |)
         |SELECT doc_id, source, epoch, n_tokens,
         |  CAST(pack_id AS BIGINT) AS pack_id,
         |  CAST(row_number() OVER (ORDER BY rk, source) AS BIGINT) AS pos
         |FROM pk ORDER BY pos""".stripMargin
    }
  )

  /** The `WITH s …, p …` oracle prefix computing per-doc rep_doc_id,
    * marker-language scores, pred_lang, and quality_score — shared by
    * the q_corpus_filter and q_curate oracles so the two composed
    * filters cannot drift. (The rep window runs over ALL docs while the
    * Spark side gates first — sound because every gate is text-pure, so
    * a dup group survives or drops whole and the min is unchanged.) */
  private lazy val filterCtePrefix: String = "WITH " + filterCtes("documents")

  /** [[filterCtePrefix]] parameterized by the source relation (no
    * leading WITH) — the q_curate_full oracle runs it over the
    * planted-augmented CTE instead of the raw table. */
  private def filterCtes(from: String): String = {
    val langScores = TextOps.Markers.map { case (l, ws) =>
      val in = ws.map(TextFuns.sqlLit).mkString(", ")
      s"len(list_filter($toksSql, t -> t IN ($in))) AS s_$l"
    }.mkString(",\n  ")
    val langs = TextOps.Markers.map(_._1)
    val langCases = langs.init.zipWithIndex.map { case (l, i) =>
      val conds = langs.drop(i + 1).map(r => s"s_$l >= s_$r").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n    ")
    val stopIn = TextOps.Stopwords.map(TextFuns.sqlLit).mkString(", ")
    s"""s AS (
       |  SELECT doc_id, source, text,
       |    MIN(doc_id) OVER (PARTITION BY md5($normSql)) AS rep_doc_id,
       |    $langScores,
       |    least(CAST(1 AS DOUBLE), len($toksSql) / 100.0) * 0.6
       |      + len(list_filter($toksSql, t -> t IN ($stopIn))) * 1.0
       |        / len($toksSql) * 0.2
       |      + (CASE WHEN (length($normSql) - (len($toksSql) - 1)) * 1.0 / len($toksSql)
       |              BETWEEN 3.0 AND 8.0 THEN 0.2 ELSE 0.0 END) AS quality_score
       |  FROM $from
       |), p AS (
       |  SELECT *, CASE $langCases ELSE '${langs.last}' END AS pred_lang FROM s
       |)""".stripMargin
  }
}
