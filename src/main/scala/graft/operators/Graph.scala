package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Materialize

/** Link-graph analytics — the crawl estate's ranking layer (what a
  * frontier scheduler or a quality prior consumes): PageRank power
  * iteration over a deterministic synthetic link graph, INTEGER-exact
  * so every round is oracle-hashable (the kmeans/BPE discipline:
  * quantize once, then only integer join+agg arithmetic — no float can
  * drift between engines or partial-agg orders).
  *
  * Graph: doc i links to (i·7 + 13k) mod N for k ∈ {1,2,3} (self-loops
  * dropped, targets filtered to existing docs) — both engines derive
  * the same edges from the documents table alone. Mass model: p⁰ =
  * Q div N with Q = 10¹² micro-units; per round, each page divides its
  * mass over its outlinks (integer div), and p' = (15·(Q div N)) div
  * 100 + (85·(inflow + dang div N)) div 100 — the 0.85 damping as exact
  * integer ops. Dangling pages (no surviving outlinks) REDISTRIBUTE
  * their mass uniformly each round: a 1-row aggregate over the
  * no-outlink set, broadcast back as `dang div N` per page — integer
  * division, so the only loss is sub-unit truncation (spec-bounded).
  *
  * Scale: each round is ONE edge-keyed join + ONE dst-keyed agg —
  * shuffle payload is O(edges) with map-side partials; rounds are the
  * CC family's cost model (a [[graft.Materialize]] per round keeps lineage
  * flat; a reliable checkpoint dir is the multi-hour variant). The
  * oracle unrolls the rounds as CTEs. */
object GraphOps {

  private val Q = 1000000000000L // 10^12 mass micro-units
  val Rounds = 3

  /** The shared synthetic edge list: (src, dst). */
  private def edgesOf(documents: DataFrame): DataFrame = {
    val docs = documents.select(col("doc_id"))
    val nRow = docs.agg((max(col("doc_id")) + 1).as("n"))
    docs.crossJoin(broadcast(nRow))
      .select(col("doc_id").as("src"),
        explode(array((1 to 3).map(k =>
          (col("doc_id") * 7 + lit(13 * k)) % col("n")): _*)).as("dst"))
      .filter(col("src") =!= col("dst"))
      .join(docs.select(col("doc_id").as("dst")), Seq("dst"), "left_semi")
  }

  /** §2-124 `q_pagerank`: integer-exact damped PageRank, [[Rounds]]
    * power iterations, output (doc_id, pr) in Q-units. */
  def pagerank(documents: DataFrame, rounds: Int = Rounds): DataFrame = {
    val docs = documents.select(col("doc_id"))
    val nRow = docs.agg((max(col("doc_id")) + 1).as("n"))
    val edges = Materialize(edgesOf(documents), eager = false)
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
      .transform(Materialize(_, eager = false))
    val base = docs.crossJoin(broadcast(nRow))
    var p = base.select(col("doc_id"), expr(s"CAST($Q AS BIGINT) div n").as("pr"))
      .transform(Materialize(_, eager = false))
    (1 to rounds).foreach { _ =>
      val contrib = p
        .join(outdeg, p("doc_id") === outdeg("src"))
        .select(col("src"), expr("pr div odeg").as("c"))
      // dangling mass: a 1-row agg over pages with NO outlinks, broadcast
      // back — the scalar-join pattern, O(1) payload at any graph size
      val dangling = p
        .join(outdeg, p("doc_id") === outdeg("src"), "left_anti")
        .agg(coalesce(sum(col("pr")), lit(0L)).as("dang"))
      val inflow = edges.join(contrib, "src")
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("infl"))
      p = base
        .join(inflow, base("doc_id") === inflow("dst"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("doc_id"),
          (expr(s"(15 * (CAST($Q AS BIGINT) div n)) div 100") +
            expr("(85 * (coalesce(infl, CAST(0 AS BIGINT)) + (dang div n))) div 100"))
            .as("pr"))
        // lineage flat per round (the CC lesson)
        .transform(Materialize(_, eager = false))
    }
    p.orderBy("doc_id")
  }

  val oracles: Map[String, String] = Map(
    "q_pagerank" -> {
      val rounds = (1 to Rounds).map { i =>
        val prev = if (i == 1) "p0" else s"p${i - 1}"
        s"""inflow$i AS (
           |  SELECT e.dst AS doc_id, CAST(SUM(p.pr // o.odeg) AS BIGINT) AS infl
           |  FROM e JOIN $prev p ON p.doc_id = e.src JOIN o ON o.src = e.src
           |  GROUP BY e.dst
           |), dang$i AS (
           |  SELECT CAST(COALESCE(SUM(pr), 0) AS BIGINT) AS dm FROM $prev
           |  WHERE doc_id NOT IN (SELECT src FROM o)
           |), p$i AS (
           |  SELECT d.doc_id,
           |    (15 * ($Q // nn.n)) // 100 +
           |    (85 * (COALESCE(i.infl, 0) + (g.dm // nn.n))) // 100 AS pr
           |  FROM d CROSS JOIN nn CROSS JOIN dang$i g
           |  LEFT JOIN inflow$i i ON i.doc_id = d.doc_id
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH d AS (SELECT doc_id FROM documents),
         |nn AS (SELECT MAX(doc_id) + 1 AS n FROM d),
         |e AS (
         |  SELECT src, dst FROM (
         |    SELECT doc_id AS src, (doc_id * 7 + 13 * k) % n AS dst
         |    FROM d CROSS JOIN nn
         |    CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)
         |  )
         |  WHERE src <> dst AND dst IN (SELECT doc_id FROM d)
         |),
         |o AS (SELECT src, COUNT(*) AS odeg FROM e GROUP BY src),
         |p0 AS (SELECT doc_id, ($Q // n) AS pr FROM d CROSS JOIN nn),
         |$rounds
         |SELECT doc_id, pr FROM p$Rounds
         |ORDER BY doc_id""".stripMargin
    }
  )
}
