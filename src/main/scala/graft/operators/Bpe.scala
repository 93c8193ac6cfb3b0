package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize

/** Trained byte-pair-encoding tokenizer — the piece that turns every
  * token-denominated operator in the corpus estate ([[CorpusOps.pack]],
  * [[CorpusOps.tokenBudgetSample]], `q_mixture`, `q_curate`) from
  * "counts whitespace words" into "counts tokens a trainer actually
  * pays for".
  *
  * Re-expresses the reference's token-budgeting idea
  * (`/root/reference/core/pedri_analysis.py:201-218` estimates a
  * per-match budget; a pretraining pipeline's budget unit is the BPE
  * token) with the classic Sennrich-style merge learner:
  *
  *   1. pre-tokenize to a word stream (lowercase alnum runs),
  *   2. start every word as its character sequence,
  *   3. repeat N times: count adjacent symbol pairs over the corpus
  *      (weighted by word frequency), merge the most frequent pair
  *      everywhere (ties broken lexicographically).
  *
  * Spark-first scale shape: the ONLY corpus-sized pass is the word-
  * frequency aggregation (one hash shuffle → a VOCAB-bounded (word,
  * freq) table; at 100 TB that's millions of rows, not the corpus).
  * Every merge round then runs on the vocab frame alone — a pair
  * explode + partial agg + 1-row argmax + broadcast replace — with the
  * per-round result eagerly checkpointed ([[AnnOps.kmeans]]'s
  * iterate-with-checkpoint lesson: cut lineage each round or round R
  * replays rounds 1..R−1). Encoding is a pure row-level fold with the
  * merge table broadcast — no join, no shuffle, the shape that encodes
  * 100 TB as a map-only pass.
  *
  * Exactness contract (the DuckDB-replayable part): symbol sequences
  * are strings with `chr(1)` sentinels — each token wrapped `·tok·`, so
  * tokens are separated by a DOUBLE sentinel and the merge of pair
  * (l, r) is literally `replace(seq, '·l··r·', '·lr·')`. Both engines'
  * `replace` is left-to-right non-overlapping replace-all, and the
  * double sentinel makes consecutive matches share no characters, so
  * one replace call IS the greedy left-to-right BPE merge application
  * ("aaaa" + (a,a) → [aa, aa]; "aaa" → [aa, a]) — identical on Spark
  * and DuckDB, which is what lets the oracle replay the whole training
  * trajectory as unrolled CTEs (the [[AnnOps.kmeans]] oracle pattern).
  * Pre-tokenization keeps only `[a-z0-9]+` runs, so `chr(1)` can never
  * appear inside a symbol and byte-order string comparison (the
  * tie-break) agrees across engines.
  */
object BpeOps {

  /** Learned merges for the q_bpe_* queries — enough for multi-char
    * subwords to emerge from the synthetic corpus (at 20 merges whole
    * frequent words like "join"/"hash"/"batch" become single tokens)
    * while the unrolled oracle stays tractable. A production tokenizer
    * runs the same loop to 30k+; rounds are sequential but each costs
    * O(vocab), not O(corpus). */
  val Merges = 20

  /** The pre-tokenizer: lowercase-alnum word runs of `text`. Group-0
    * extraction spelled explicitly — Spark's regexp_extract_all
    * defaults to group 1, DuckDB's to group 0. */
  private val WordsExpr = "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"

  /** Initial symbol sequence of word `w`: every character wrapped in
    * chr(1) sentinels ("abc" → "·a··b··c·"). */
  private def seq0(w: String): String =
    s"concat(chr(1), array_join(transform(sequence(1, length($w)), " +
      s"i -> substr($w, i, 1)), concat(chr(1), chr(1))), chr(1))"

  /** One merge application: replace every adjacent (l, r) with the
    * concatenated symbol — greedy left-to-right by `replace` semantics
    * (see object doc). `l`/`r` are SQL fragments naming columns. */
  private def mergeStep(seqCol: String, l: String, r: String): String =
    s"replace($seqCol, concat(chr(1), $l, chr(1), chr(1), $r, chr(1)), " +
      s"concat(chr(1), $l, $r, chr(1)))"

  /** Adjacent-pair counts over a (word, freq, seq) vocab frame —
    * vocab-bounded work: explode the per-word pair list, one partial
    * agg on (lhs, rhs). */
  private def pairCounts(vocab: DataFrame): DataFrame =
    vocab
      .select(col("freq"),
        split(trim(col("seq"), "\u0001"), "\u0001\u0001").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("freq"), explode(expr(
        "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1), " +
          "(a, b) -> named_struct('lhs', a, 'rhs', b))")).as("p"))
      .select(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"), col("freq"))
      .groupBy("lhs", "rhs")
      .agg(sum(col("freq")).as("cnt"))

  /** §2-97 `q_bpe_train`: learn the merge table — (merge_rank, lhs,
    * rhs, merged, cnt), rank in learning order, cnt the exact weighted
    * pair count that won the round (ties: smallest (lhs, rhs)). The
    * merge loop materializes through [[graft.Materialize]], so with a
    * checkpoint directory set on the context a multi-hour 100 TB
    * training survives a lost executor. */
  def train(documents: DataFrame, merges: Int = Merges): DataFrame =
    trainPieces(documents, merges)._1

  /** (merge table, final vocab (word, freq, seq)) — the vocab lets a
    * spec assert the row-level encoder reproduces the training
    * trajectory word-for-word. */
  private[graft] def trainPieces(documents: DataFrame, merges: Int = Merges)
      : (DataFrame, DataFrame) = {
    // the [1, 64] cap is the ORACLE's (it unrolls one CTE per round —
    // enforced in oracleCtes); training itself runs any merge count: a
    // production tokenizer is thousands of rounds, each vocab-bounded
    require(merges >= 1, s"merges must be >= 1: $merges")
    val freq = documents
      .select(explode(expr(WordsExpr)).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("freq"))
    var vocab = Materialize(
      freq.withColumn("seq", expr(seq0("word"))), eager = true)
    val bests = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var saturated = false
    var i = 1
    while (i <= merges && !saturated) {
      val best = pairCounts(vocab)
        .orderBy(desc("cnt"), col("lhs"), col("rhs"))
        .limit(1)
        .select(col("lhs"), col("rhs"), col("cnt"))
      // ONE materialization per round (round 21; was three — best
      // checkpoint, isEmpty probe, vocab checkpoint — each a scheduled
      // job, and the driver-side job train was the top of the
      // q_bpe_train/q_bpe_encode profile). The winner rides into the
      // vocab update as the broadcast side of a LEFT join, so:
      //  - the SATURATION guard (round-10 probe find: once every word
      //    is one symbol no pair remains) is structural — an empty
      //    winner leaves every `lhs` null and the vocab passes through
      //    UNCHANGED instead of being emptied by the old crossJoin;
      //  - the saturation signal AND the winning row ride the checkpoint
      //    job as observe() metrics: every vocab row carries the same
      //    winner, so max() over the rows IS the winner (idempotent under
      //    re-execution; the count of non-null lhs can only over-count,
      //    and is only tested against zero). The winner lands on the
      //    driver as plain values, so no round's vocab-sized checkpoint
      //    stays referenced by the merge table.
      // Results are bit-identical: same deterministic winner, same merge
      // application, same honest end of the merge table at saturation.
      val obs = org.apache.spark.sql.Observation()
      val next = Materialize(
        vocab.join(broadcast(best), lit(true), "left")
          .withColumn("seq", when(col("lhs").isNull, col("seq"))
            .otherwise(expr(mergeStep("seq", "lhs", "rhs"))))
          .observe(obs, count(col("lhs")).as("n_win"),
            max(col("lhs")).as("lhs"), max(col("rhs")).as("rhs"),
            max(col("cnt")).as("cnt")),
        eager = true)
      val win = obs.get
      saturated = win("n_win").asInstanceOf[Long] == 0L
      vocab = next.select(col("word"), col("freq"), col("seq"))
      if (!saturated) {
        val (lhs, rhs) = (win("lhs").toString, win("rhs").toString)
        bests += ((i, lhs, rhs, lhs + rhs, win("cnt").asInstanceOf[Long]))
        i += 1
      }
    }
    // saturation on round 1 (every word already a single symbol — e.g.
    // a one-char-word corpus) leaves the merge table honestly empty
    import documents.sparkSession.implicits._
    (bests.toSeq.toDF("merge_rank", "lhs", "rhs", "merged", "cnt")
      .orderBy("merge_rank"), vocab)
  }

  /** The merge table collapsed to ONE row carrying the rank-ordered
    * merges array — the broadcastable artifact [[encode]] folds over
    * (the scalar-broadcast idiom; a tokenizer's merge table is KBs). */
  def mergesArray(mergeTable: DataFrame): DataFrame =
    mergeTable.agg(expr(
      "transform(sort_array(collect_list(struct(merge_rank, lhs, rhs, merged))), " +
        "x -> named_struct('lhs', x.lhs, 'rhs', x.rhs, 'merged', x.merged))")
      .as("ms"))

  /** BPE token count of `text` given an `ms` merges-array column in
    * scope: per word, fold the merges in rank order over the char
    * sequence, count surviving symbols; sum over words. Pure row-level
    * higher-order expressions — this is the Column [[CorpusOps.pack]] /
    * token-budget variants plug in to budget in trained-tokenizer
    * units. */
  def bpeTokenCount: Column = expr(
    s"aggregate($WordsExpr, cast(0 as bigint), (acc, w) -> acc + size(split(" +
      s"trim(BOTH chr(1) FROM aggregate(ms, ${seq0("w")}, " +
      s"(s, m) -> ${mergeStep("s", "m.lhs", "m.rhs")})), " +
      "concat(chr(1), chr(1)))))")

  /** §2-98 `q_bpe_encode`: tokenize the corpus with the learned merges
    * — per doc, pre-tokenized word count and BPE token count. Training
    * is vocab-bounded; this encode pass is corpus-sized but PURE MAP:
    * the merge table rides in as one broadcast row and the fold is
    * row-level, so at 100 TB nothing shuffles (the orderBy is this
    * harness's deterministic-output contract only). Docs with no
    * alnum word (none in the corpus) are dropped — the oracle's inner
    * join semantics, stated rather than accidental.
    *
    * This merge-table-only form folds every word occurrence through all
    * N merges — O(merges × len) string work per word. When the training
    * vocab is at hand, use [[encodeWithVocab]]: same answer, ~7× less
    * CPU measured at sf0.1. */
  def encode(documents: DataFrame, mergeTable: DataFrame): DataFrame =
    encodeOn(documents.crossJoin(broadcast(mergesArray(mergeTable))),
      bpeTokenCount)

  /** [[encode]] with the trained vocab as a broadcast FAST PATH: the
    * top-`vocabTopK` words BY FREQUENCY ride in as one (word → token
    * count) map row; a word occurrence costs one hash lookup, and only
    * vocab misses pay the merge fold (`coalesce` short-circuits, so the
    * fold never runs on a hit). Zipf makes the map cover nearly all
    * token MASS at tokenizer-sized K (65k entries ≈ a real BPE vocab,
    * single-digit MBs broadcast — at 100 TB the corpus-wide word list
    * would not fit, the frequency cap is what makes the fast path scale
    * while the fold keeps the long tail exact). Bit-identical to
    * [[encode]] by construction: the stored count IS the training
    * trajectory's final sequence length, which is what the fold
    * recomputes (spec-asserted, including forced-miss fallbacks). */
  def encodeWithVocab(documents: DataFrame, mergeTable: DataFrame,
                      vocab: DataFrame,
                      vocabTopK: Int = 65536): DataFrame = {
    val vc = vocab
      .orderBy(desc("freq"), col("word"))
      .limit(vocabTopK)
      .agg(map_from_arrays(
        collect_list(col("word")),
        collect_list(expr(
          "cast(size(split(trim(BOTH chr(1) FROM seq), concat(chr(1), chr(1)))) as bigint)")))
        .as("vc"))
    val counted = expr(
      s"aggregate($WordsExpr, cast(0 as bigint), (acc, w) -> acc + " +
        s"coalesce(element_at(vc, w), size(split(" +
        s"trim(BOTH chr(1) FROM aggregate(ms, ${seq0("w")}, " +
        s"(s, m) -> ${mergeStep("s", "m.lhs", "m.rhs")})), " +
        "concat(chr(1), chr(1))))))")
    encodeOn(documents
      .crossJoin(broadcast(mergesArray(mergeTable)))
      .crossJoin(broadcast(vc)), counted)
  }

  private def encodeOn(withBroadcasts: DataFrame, counted: Column): DataFrame =
    withBroadcasts
      .filter(size(expr(WordsExpr)) > 0)
      .select(col("doc_id"),
        size(expr(WordsExpr)).cast("long").as("n_words"),
        counted.as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** q_bpe_encode over the corpus' own training run — takes the
    * [[encodeWithVocab]] fast path, since training just built the
    * vocab. */
  def encodeSelf(documents: DataFrame, merges: Int = Merges): DataFrame = {
    val (mt, vocab) = trainPieces(documents, merges)
    encodeWithVocab(documents, mt, vocab)
  }

  /** Persist the trained tokenizer as write-once parquet artifacts —
    * `<path>/merges` (merge_rank, lhs, rhs, merged, cnt) and
    * `<path>/vocab` (word, freq, seq) — the deployment split the index
    * family set with `pqIvfIndex` ([[graft.operators.AnnOps]]): a
    * nightly train writes the artifact, every consumer (batch encode,
    * `EventStream.tokenizeStream`, pack/token-budget in BPE units)
    * reads it with nothing re-trained per use. KBs at any corpus
    * size — the artifact broadcasts whole. */
  def writeTokenizer(mergeTable: DataFrame, vocab: DataFrame,
                     path: String): Unit = {
    val p = path.stripSuffix("/")
    mergeTable.write.mode("overwrite").parquet(s"$p/merges")
    vocab.write.mode("overwrite").parquet(s"$p/vocab")
  }

  /** Train on `documents` and persist in one step. */
  def trainTokenizer(documents: DataFrame, path: String,
                     merges: Int = Merges): Unit = {
    val (mt, vocab) = trainPieces(documents, merges)
    writeTokenizer(mt, vocab, path)
  }

  /** (merge table, vocab) off a [[writeTokenizer]] layout. Encoding over
    * the round-tripped artifact is bit-identical to the inline
    * [[encodeSelf]] (spec-pinned — the stored vocab `seq` IS the
    * training trajectory's final state, and parquet round-trips it
    * exactly). */
  def readTokenizer(spark: org.apache.spark.sql.SparkSession,
                    path: String): (DataFrame, DataFrame) = {
    val p = path.stripSuffix("/")
    (graft.sources.Tables.parquet(spark, s"$p/merges"),
      graft.sources.Tables.parquet(spark, s"$p/vocab"))
  }

  // ---------------------------------------------------------------
  // DuckDB oracle: the training trajectory unrolled as CTEs (the
  // q_kmeans precedent). MATERIALIZED is load-bearing: s{i} is
  // referenced twice (pair counts + next merge), and without it the
  // inlined chain expands exponentially.
  // ---------------------------------------------------------------

  private val OracleBase =
    """WITH w AS MATERIALIZED (
      |  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |        FROM documents)
      |  GROUP BY 1
      |), s0 AS MATERIALIZED (
      |  SELECT word, freq,
      |    chr(1) || array_to_string(string_split(word, ''), chr(1)||chr(1))
      |      || chr(1) AS seq
      |  FROM w
      |)""".stripMargin

  private def oracleRound(i: Int): String =
    s"""p$i AS (
       |  SELECT t[i] AS lhs, t[i+1] AS rhs, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM (SELECT freq, t, unnest(generate_series(1, len(t)-1)) AS i
       |        FROM (SELECT freq,
       |                string_split(trim(seq, chr(1)), chr(1)||chr(1)) AS t
       |              FROM s${i - 1})
       |        WHERE len(t) >= 2)
       |  GROUP BY 1, 2
       |), m$i AS MATERIALIZED (
       |  SELECT $i AS merge_rank, lhs, rhs, lhs || rhs AS merged, cnt
       |  FROM p$i ORDER BY cnt DESC, lhs, rhs LIMIT 1
       |), s$i AS MATERIALIZED (
       |  SELECT word, freq,
       |    replace(seq, chr(1)||m.lhs||chr(1)||chr(1)||m.rhs||chr(1),
       |            chr(1)||m.merged||chr(1)) AS seq
       |  FROM s${i - 1} CROSS JOIN m$i m
       |)""".stripMargin

  private def oracleCtes(merges: Int): String = {
    require(merges >= 1 && merges <= 64,
      s"the oracle unrolls one CTE per merge round; [1, 64] only: $merges")
    OracleBase + ",\n" + (1 to merges).map(oracleRound).mkString(",\n")
  }

  private def trainOracle(merges: Int): String =
    oracleCtes(merges) + "\n" +
      "SELECT merge_rank, lhs, rhs, merged, cnt FROM (\n" +
      (1 to merges).map(i => s"SELECT * FROM m$i").mkString("\nUNION ALL ") +
      "\n) ORDER BY merge_rank"

  private def encodeOracle(merges: Int): String =
    oracleCtes(merges) +
      s""",
         |d AS (
         |  SELECT doc_id,
         |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
         |  FROM documents
         |), tk AS (
         |  SELECT word,
         |    CAST(len(string_split(trim(seq, chr(1)), chr(1)||chr(1)))
         |      AS BIGINT) AS ntok
         |  FROM s$merges
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(SUM(ntok) AS BIGINT) AS n_bpe_tokens
         |FROM d JOIN tk USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_bpe_train" -> trainOracle(Merges),
    "q_bpe_encode" -> encodeOracle(Merges))
}
