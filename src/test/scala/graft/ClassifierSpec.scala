package graft

import graft.operators.ClassifierOps
import graft.sources.Tables

/** Semantic + plan-shape invariants for the trained classifiers
  * (SURVEY §2 rows 101-103). */
class ClassifierSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sfDir)
  private def embs = Tables.embeddings(spark, sfDir)

  test("nbTrain emits the full langs × vocab grid with exact smoothed micro-nat weights") {
    import spark.implicits._
    val tiny = Seq(
      (1L, "aa bb aa", "en"),
      (2L, "bb cc", "fr")
    ).toDF("doc_id", "text", "lang")
    val out = ClassifierOps.nbTrain(tiny).collect()
    // 2 langs × 3 vocab tokens — unseen pairs present with count 0
    assert(out.length == 6)
    val byKey = out.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    def w(c: Long, nLang: Long, v: Long): Long =
      math.round(math.log((c + 1) * 1.0 / (nLang + v)) * 1e6)
    // en: aa=2 bb=1 cc=0 of 3 tokens; fr: bb=1 cc=1 aa=0 of 2; V=3
    assert(byKey(("en", "aa")).getAs[Long]("n_tok") == 2L)
    assert(byKey(("en", "cc")).getAs[Long]("n_tok") == 0L)
    assert(byKey(("fr", "aa")).getAs[Long]("n_tok") == 0L)
    assert(byKey(("en", "aa")).getAs[Long]("w_q6") == w(2, 3, 3))
    assert(byKey(("en", "cc")).getAs[Long]("w_q6") == w(0, 3, 3))
    assert(byKey(("fr", "bb")).getAs[Long]("w_q6") == w(1, 2, 3))
    // weights are monotone in count within a lang (same denominator)
    assert(byKey(("en", "aa")).getAs[Long]("w_q6") >
      byKey(("en", "bb")).getAs[Long]("w_q6"))
  }

  test("nbScore is diagonal on a token-separable corpus and conserves doc counts") {
    import spark.implicits._
    val separable = Seq(
      (1L, "xx xx yy", "en"), (2L, "yy xx yy", "en"),
      (3L, "uu vv vv", "fr"), (4L, "vv uu uu", "fr"),
      (5L, "pp qq pp", "de"), (6L, "qq qq pp", "de")
    ).toDF("doc_id", "text", "lang")
    val out = ClassifierOps.nbScore(separable).collect()
    // disjoint vocabularies → perfect confusion diagonal
    assert(out.forall(r => r.getString(0) == r.getString(1)), out.mkString(", "))
    assert(out.map(_.getAs[Long]("n_docs")).sum == 6L)
    // and on the real corpus: every doc is classified exactly once
    val real = ClassifierOps.nbScore(docs).collect()
    assert(real.map(_.getAs[Long]("n_docs")).sum == docs.count())
    val langs = docs.select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(real.forall(r => langs(r.getString(0)) && langs(r.getString(1))))
    // the mislabel audit is exactly the confusion matrix's off-diagonal mass
    val offDiag = real.filter(r => r.getString(0) != r.getString(1))
      .map(_.getAs[Long]("n_docs")).sum
    assert(ClassifierOps.nbFilter(docs).count() == offDiag)
  }

  test("nbScore plan: model rides in as broadcast joins, argmax window is doc-partitioned") {
    val plan = ClassifierOps.nbScore(docs).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "model/prior grid must be broadcast")
    // the rank-1 argmax must be partitioned by doc_id (the only
    // SinglePartition exchanges allowed are the 1-row global totals);
    // Spark should also push the rank-1 filter into WindowGroupLimit
    assert(plan.contains("WindowGroupLimit [doc_id"),
      "argmax window must be doc_id-partitioned with a group-limit pushdown")
  }

  test("centroidClassify separates clean clusters and conserves vector counts") {
    import spark.implicits._
    def vec(hot: Int, mag: Float): Array[Float] =
      Array.tabulate(64)(i => if (i == hot) mag else 0.01f)
    val planted = (
      (0 until 6).map(i => (i.toLong, vec(0, 2f + i * 0.1f), 0)) ++
      (6 until 12).map(i => (i.toLong, vec(7, 3f + i * 0.1f), 1))
    ).toDF("vec_id", "embedding", "label")
    val out = ClassifierOps.centroidClassify(planted).collect()
    assert(out.forall(r => r.getInt(0) == r.getInt(1)),
      s"off-diagonal confusion: ${out.mkString(", ")}")
    assert(out.map(_.getAs[Long]("n_vecs")).sum == 12L)
    // real corpus: every vector classified exactly once, labels in domain
    val real = ClassifierOps.centroidClassify(embs).collect()
    assert(real.map(_.getAs[Long]("n_vecs")).sum == embs.count())
    val labels = embs.select("label").distinct().collect().map(_.getInt(0)).toSet
    assert(real.forall(r => labels(r.getInt(0)) && labels(r.getInt(1))))
  }

  test("centroidClassify plan: centroid model is broadcast, no unpartitioned window") {
    val plan = ClassifierOps.centroidClassify(embs).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "labels×dims model must be broadcast")
    assert(!plan.contains("SinglePartition"), "unpartitioned window in the classify path")
  }
}
