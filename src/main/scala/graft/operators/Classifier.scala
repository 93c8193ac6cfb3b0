package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.functions.TextFuns

/** Trained classifiers over the corpus — the model-in-the-loop quality
  * gates a training-data pipeline runs at scale (SURVEY.md §2-B rows
  * 101-103).
  *
  * Two classical shapes, both chosen because TRAINING is pure aggregation
  * (no gradient loop, no RNG) and SCORING is integer-exact — so unlike a
  * logistic-regression probe, every step is replayable as ANSI SQL and the
  * driver's DuckDB oracle hash-checks the whole train→score→evaluate
  * round trip:
  *
  *  - Multinomial Naive Bayes over tokens (the fastText-style langid /
  *    quality-filter shape; CCNet's lid.bin slot). Train = one
  *    (lang, token) count pass; score = per-doc integer sum of
  *    micro-nat log weights.
  *  - Nearest-centroid over embeddings (the "linear probe" an embedding
  *    pipeline uses to sanity-check vector quality against labels).
  *
  * Numeric discipline (the [[AnnOps.centroid]] convention): every learned
  * real-valued weight is quantized to an integer — `round(ln(p)·10⁶)` for
  * NB, `round(v·10⁶)` for centroid sums — and all downstream sums/argmaxes
  * run in int64/DECIMAL(38), so results are independent of
  * partial-aggregation order and bit-identical across engines.
  */
object ClassifierOps {

  /** Laplace-smoothed NB weight table, the trained model: one row per
    * (lang, token) over the FULL langs × vocab grid (unseen pairs get the
    * smoothing floor, so scoring is a plain join with no missing-key
    * fallback).
    *
    * ONE corpus pass (the (lang, token) count agg — map-side partials,
    * |langs|×|vocab|-bounded output, materialized); every derived
    * frame (per-lang totals, vocab, the grid) is model-sized, not
    * corpus-sized. At 100 TB the model is still KBs → broadcastable. */
  def nbModel(documents: DataFrame): DataFrame = {
    val counts = documents
      .select(col("lang"), explode(TextFuns.tokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("n_tok"))
      // vocab-bounded; consumed by 4 branches below
      .transform(Materialize(_, eager = true))
    val langTotals = counts.groupBy("lang").agg(sum("n_tok").as("n_lang"))
    val vocab = counts.select("token").distinct()
    val vsize = vocab.agg(count(lit(1)).as("v"))
    val langs = counts.select("lang").distinct()
    // explicit hint: statistics usually pick the |langs|-row side anyway,
    // but the grid build must be plan-stable, like every model join here
    broadcast(langs).crossJoin(vocab)
      .join(counts, Seq("lang", "token"), "left")
      .join(langTotals, Seq("lang"))
      .crossJoin(broadcast(vsize))
      .withColumn("n_tok", coalesce(col("n_tok"), lit(0L)))
      // micro-nats: round(ln((c+1)/(N+V))·1e6) — integer weights, so the
      // per-doc score sum is order-independent and cross-engine exact
      .withColumn("w_q6",
        round(log((col("n_tok") + 1) * lit(1.0) / (col("n_lang") + col("v"))) * 1e6)
          .cast("long"))
      .select(col("lang"), col("token"), col("n_tok"), col("n_lang"), col("w_q6"))
  }

  /** §2-101 `q_classifier_train`: the NB weight table itself, ordered —
    * what a pipeline persists and ships to the scoring pass. */
  def nbTrain(documents: DataFrame): DataFrame =
    nbModel(documents).orderBy("lang", "token")

  /** §2-102 `q_classifier_score`: train on the corpus, score every doc,
    * emit the confusion matrix (actual lang × predicted lang × docs) —
    * the accuracy gate a langid/quality filter must pass before it is
    * allowed to drop data.
    *
    * Score(doc, lang) = Σ_tokens c·w_q6(lang, token) + prior_q6(lang),
    * all int64. Shape: one corpus pass for the (doc, token) counts, a
    * BROADCAST join against the KB-sized model grid, per-(doc, lang)
    * integer agg, then an argmax window partitioned by doc_id (never
    * unpartitioned). The confusion agg output is |langs|² rows. */
  /** The class-prior table (cand, p_q6) in integer micro-nats —
    * persisted next to [[nbModel]]'s grid at train time; the pair IS the
    * deployable model artifact. */
  def nbPrior(documents: DataFrame): DataFrame = {
    val langDocs = documents.groupBy("lang").agg(count(lit(1)).as("n_docs_lang"))
    langDocs
      .crossJoin(broadcast(langDocs.agg(sum("n_docs_lang").as("n_total"))))
      .select(col("lang").as("cand"),
        round(log(col("n_docs_lang") * lit(1.0) / col("n_total")) * 1e6)
          .cast("long").as("p_q6"))
  }

  /** APPLY a trained model to any documents frame: (doc_id, lang,
    * pred_lang). The model (grid + prior) rides in as broadcasts, so
    * this is the pure scoring pass — train once, apply to a new drop or
    * a live stream (`EventStream.classifyStream`) without retraining.
    * Out-of-vocabulary tokens are SKIPPED (the fastText convention): an
    * unseen token carries no evidence either way. */
  def nbApply(documents: DataFrame, model: DataFrame,
              prior: DataFrame): DataFrame = {
    val docTok = documents
      .select(col("doc_id"), col("lang"), explode(TextFuns.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("lang"), col("token"))
      .agg(count(lit(1)).as("c"))
    val scored = docTok
      .join(broadcast(model.select(col("lang").as("cand"), col("token"), col("w_q6"))),
        "token")
      .groupBy(col("doc_id"), col("lang"), col("cand"))
      .agg(sum(col("c") * col("w_q6")).as("s"))
      .join(broadcast(prior), "cand")
      .withColumn("score", col("s") + col("p_q6"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("cand").asc)
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("cand").as("pred_lang"))
  }

  /** Per-document NB prediction: (doc_id, lang, pred_lang) — the shared
    * core of [[nbScore]] (confusion matrix) and [[nbFilter]] (mislabel
    * audit): train on the corpus, apply to the corpus. */
  def nbPredict(documents: DataFrame): DataFrame =
    nbApply(documents, nbModel(documents), nbPrior(documents))

  def nbScore(documents: DataFrame): DataFrame =
    nbPredict(documents)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "pred_lang")

  /** §2-109 `q_classifier_filter`: the MISLABEL AUDIT — documents whose
    * trained-NB prediction disagrees with their upstream lang label.
    * This is the filter face of the classifier: a real pipeline routes
    * these rows to quarantine/re-labeling before they poison a
    * lang-filtered training mix (upstream metadata lies; CCNet keeps
    * only docs where lid agrees). Same plan as [[nbPredict]] plus one
    * row-level inequality — no extra shuffle. */
  def nbFilter(documents: DataFrame): DataFrame =
    nbPredict(documents)
      .filter(col("pred_lang") =!= col("lang"))
      .orderBy("doc_id")

  /** §2-103 `q_embed_classify`: nearest-centroid classification of every
    * embedding against the per-label centroids, as a confusion matrix —
    * the linear-probe sanity check for embedding quality.
    *
    * Argmax key per (vector, label): Σ s·q / √(Σ s²) where s is the
    * label's integer centroid-sum vector ([[AnnOps.annIvf]]'s exact
    * c_key, DECIMAL(38) ≡ HUGEINT) — the vector's own norm is constant
    * across labels so it cannot change the argmax and is never computed.
    * Shape: centroid sums are labels×dims (KBs, broadcast); the per-
    * vector join+agg is ONE pass over the exploded vectors; the window
    * is partitioned by vec_id. At 100 TB: model broadcast, map-side
    * partials, no self-join. */
  def centroidClassify(embeddings: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val q6: Column => Column = v => round(v.cast("double") * 1e6).cast("long")
    val sums = embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(q6(col("v")).cast(dec)).as("s"))
      .withColumnRenamed("label", "cand")
    val ss = sums.groupBy("cand").agg(sum(col("s") * col("s")).as("ss"))
      .filter(col("ss") > 0)
    val qq = embeddings
      .select(col("vec_id"), col("label").as("actual"),
        posexplode(col("embedding")).as(Seq("pos", "qv")))
      .select(col("vec_id"), col("actual"), col("pos"), q6(col("qv")).as("qq"))
    val scored = qq
      .join(broadcast(sums), "pos")
      .groupBy(col("vec_id"), col("actual"), col("cand"))
      .agg(sum(col("s") * col("qq").cast(dec)).as("dq"))
      .join(broadcast(ss), "cand")
      .select(col("vec_id"), col("actual"), col("cand"),
        (col("dq").cast("double") / sqrt(col("ss").cast("double"))).as("c_key"))
    val w = Window.partitionBy("vec_id").orderBy(col("c_key").desc, col("cand").asc)
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("actual"), col("cand"))
      .agg(count(lit(1)).as("n_vecs"))
      .select(col("actual").as("label"), col("cand").as("pred_label"), col("n_vecs"))
      .orderBy("label", "pred_label")
  }

  private val normSql = "lower(trim(text))"
  private val toksSql = s"string_split($normSql, ' ')"

  /** Shared model CTEs (train and score oracles state the identical
    * grid so the two queries cannot drift). */
  private val modelCtes =
    s"""toks AS (
       |  SELECT doc_id, lang, unnest($toksSql) AS token FROM documents
       |), counts AS (
       |  SELECT lang, token, COUNT(*) AS n_tok FROM toks GROUP BY lang, token
       |), lang_tot AS (
       |  SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS n_lang FROM counts GROUP BY lang
       |), vocab AS (SELECT DISTINCT token FROM counts
       |), vsize AS (SELECT COUNT(*) AS v FROM vocab
       |), langs AS (SELECT DISTINCT lang FROM counts
       |), grid AS (
       |  SELECT l.lang, t.token, COALESCE(c.n_tok, 0) AS n_tok, lt.n_lang,
       |    CAST(round(ln((COALESCE(c.n_tok, 0) + 1) * 1.0 / (lt.n_lang + vs.v)) * 1e6)
       |      AS BIGINT) AS w_q6
       |  FROM langs l
       |  CROSS JOIN vocab t
       |  LEFT JOIN counts c ON c.lang = l.lang AND c.token = t.token
       |  JOIN lang_tot lt ON lt.lang = l.lang
       |  CROSS JOIN vsize vs
       |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_classifier_train" ->
      s"""WITH $modelCtes
         |SELECT lang, token, n_tok, n_lang, w_q6
         |FROM grid
         |ORDER BY lang, token""".stripMargin,
    "q_classifier_score" ->
      s"""WITH $modelCtes, prior_n AS (
         |  SELECT lang, COUNT(*) AS nd FROM documents GROUP BY lang
         |), prior AS (
         |  SELECT lang AS cand,
         |    CAST(round(ln(nd * 1.0 / (SELECT SUM(nd) FROM prior_n)) * 1e6) AS BIGINT) AS p_q6
         |  FROM prior_n
         |), doctok AS (
         |  SELECT doc_id, lang, token, COUNT(*) AS c FROM toks GROUP BY doc_id, lang, token
         |), scored AS (
         |  SELECT d.doc_id, d.lang, g.lang AS cand,
         |    CAST(SUM(d.c * g.w_q6) AS BIGINT) AS s
         |  FROM doctok d JOIN grid g ON d.token = g.token
         |  GROUP BY d.doc_id, d.lang, g.lang
         |), tot AS (
         |  SELECT s.doc_id, s.lang, s.cand, s.s + p.p_q6 AS score
         |  FROM scored s JOIN prior p ON p.cand = s.cand
         |), pred AS (
         |  SELECT doc_id, lang, cand,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, cand ASC) AS rn
         |  FROM tot
         |)
         |SELECT lang, cand AS pred_lang, COUNT(*) AS n_docs
         |FROM pred WHERE rn = 1
         |GROUP BY lang, cand
         |ORDER BY lang, pred_lang""".stripMargin,
    "q_classifier_filter" ->
      s"""WITH $modelCtes, prior_n AS (
         |  SELECT lang, COUNT(*) AS nd FROM documents GROUP BY lang
         |), prior AS (
         |  SELECT lang AS cand,
         |    CAST(round(ln(nd * 1.0 / (SELECT SUM(nd) FROM prior_n)) * 1e6) AS BIGINT) AS p_q6
         |  FROM prior_n
         |), doctok AS (
         |  SELECT doc_id, lang, token, COUNT(*) AS c FROM toks GROUP BY doc_id, lang, token
         |), scored AS (
         |  SELECT d.doc_id, d.lang, g.lang AS cand,
         |    CAST(SUM(d.c * g.w_q6) AS BIGINT) AS s
         |  FROM doctok d JOIN grid g ON d.token = g.token
         |  GROUP BY d.doc_id, d.lang, g.lang
         |), tot AS (
         |  SELECT s.doc_id, s.lang, s.cand, s.s + p.p_q6 AS score
         |  FROM scored s JOIN prior p ON p.cand = s.cand
         |), pred AS (
         |  SELECT doc_id, lang, cand,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, cand ASC) AS rn
         |  FROM tot
         |)
         |SELECT doc_id, lang, cand AS pred_lang
         |FROM pred WHERE rn = 1 AND cand <> lang
         |ORDER BY doc_id""".stripMargin,
    "q_embed_classify" ->
      s"""WITH idx AS (
         |  SELECT vec_id, label, embedding,
         |    unnest(generate_series(1, len(embedding))) AS i
         |  FROM embeddings
         |), q6 AS (
         |  SELECT vec_id, label, CAST(i - 1 AS INTEGER) AS pos,
         |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT) AS qq
         |  FROM idx
         |), sums AS (
         |  SELECT label AS cand, pos, CAST(SUM(qq) AS HUGEINT) AS s
         |  FROM q6 GROUP BY label, pos
         |), ss AS (
         |  SELECT cand, SUM(s * s) AS ss FROM sums GROUP BY cand HAVING SUM(s * s) > 0
         |), dq AS (
         |  SELECT v.vec_id, v.label AS actual, s.cand, SUM(s.s * v.qq) AS dq
         |  FROM q6 v JOIN sums s ON v.pos = s.pos
         |  GROUP BY v.vec_id, v.label, s.cand
         |), scored AS (
         |  SELECT d.vec_id, d.actual, d.cand,
         |    CAST(d.dq AS DOUBLE) / sqrt(CAST(x.ss AS DOUBLE)) AS c_key
         |  FROM dq d JOIN ss x ON x.cand = d.cand
         |), pred AS (
         |  SELECT vec_id, actual, cand,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_key DESC, cand ASC) AS rn
         |  FROM scored
         |)
         |SELECT actual AS label, cand AS pred_label, COUNT(*) AS n_vecs
         |FROM pred WHERE rn = 1
         |GROUP BY actual, cand
         |ORDER BY label, pred_label""".stripMargin
  )
}
