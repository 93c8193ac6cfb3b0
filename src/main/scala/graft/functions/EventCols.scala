package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared derived columns over the `events` table (SURVEY.md §3 data-model
  * mapping). The reference pipeline works on StatsBomb event JSON with a
  * player id, match id, event type, and pitch coordinates
  * (reference: core/pedri_analysis.py:77-133 predicates,
  * core/pedri_analysis_extended.py:110-177 geometry). The synthetic `events`
  * table re-expresses those as:
  *
  *  - player    → `user_id`
  *  - match     → event day (`to_date(ts)`)
  *  - type      → `event_type`
  *  - payload k → `props` JSON `{"k": int}` (k ∈ [0, 99])
  *  - pitch     → deterministic derived (x, y) → (x2, y2) on a 120×80 pitch
  *
  * Every derivation is a row-level codegen'd expression (no UDFs, no
  * shuffle); the DuckDB oracle computes the identical IEEE-double ops, so
  * results are bit-identical across engines.
  */
object EventCols {

  val d18: DecimalType = DecimalType(18, 2)

  /** Match-day grouping key (reference: one match = one group). */
  def day: Column = to_date(col("ts")).as("day")

  /** Event time in exact integer microseconds (all duration math stays in
    * int64 — no float drift at any scale). `ts` is TIMESTAMP_NTZ
    * ([[graft.sources.Tables.events]] normalizes every layout to it), so
    * the epoch diff is pure integer arithmetic with no timezone in play —
    * the exact value DuckDB's `epoch_us(ts)` computes on its naive
    * TIMESTAMP. */
  def us: Column =
    expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
      .as("us")

  /** Nested-payload extraction (reference reads `pass.end_location` etc from
    * nested JSON; here the payload is a JSON string column). Written as
    * Spark's `get_json_object` cast; the session's
    * [[graft.plans.RewriteJsonIntField]] runs it as the
    * [[graft.plans.JsonIntField]] byte scan, which reads a `{"k": int}`
    * payload without Jackson and evaluates this very expression for any
    * other payload. The DuckDB mirror, [[sql.k]], is unchanged. */
  def k: Column = get_json_object(col("props"), "$.k").cast("int").as("k")

  // --- pitch geometry (120×80, reference coordinate system) ---------------
  // Start point: x from the numeric payload, y from the k payload.
  def x: Column = (col("value") % 120.0).as("x")
  def y: Column = ((k * 7 % 80).cast("double")).as("y")
  // End point: a second deterministic derivation — gives every event a
  // start→end segment like a StatsBomb pass/carry.
  def x2: Column = ((col("value") + k.cast("double")) % 120.0).as("x2")
  def y2: Column = ((k * 13 % 80).cast("double")).as("y2")

  def dx: Column = (col("x2") - col("x")).as("dx")
  def dyAbs: Column = abs(col("y2") - col("y")).as("dy")

  /** reference core/pedri_analysis.py:154-162 — dx ≥ 10 ∧ dx > |dy|. */
  def isProgressive: Column =
    (col("dx") >= 10.0) && (col("dx") > col("dy"))

  /** Simplified variant of reference extended.py:110-130's
    * 30%-of-remaining-distance gain rule (the reference also requires
    * dx ≥ 10; this synthetic rule keeps just the proportional-gain core). */
  def isProgressive30: Column =
    (col("dx") >= (lit(120.0) - col("x")) * 0.3) && (col("x2") > col("x"))

  /** reference extended.py:132-140 — ends in the final third (x ≥ 80). */
  def isFinalThird: Column = col("x2") >= 80.0

  /** reference extended.py:142-151 — ends in the penalty area. */
  def isPenaltyArea: Column =
    (col("x2") >= 102.0) && (col("y2") >= 18.0) && (col("y2") <= 62.0)

  /** Simplified variant of reference extended.py:153-165's deep completion
    * (the reference uses x-distance to the goal LINE, strict < 20; this
    * synthetic rule uses Euclidean distance to the goal centre (120, 40)
    * with ≤ 20). Squares via explicit multiply (not pow, which is only
    * 1-ulp-accurate libm); sqrt IS IEEE-correctly-rounded in both engines,
    * so the oracle matches bit-for-bit. */
  def isDeepCompletion: Column = {
    val gx = lit(120.0) - col("x2")
    val gy = lit(40.0) - col("y2")
    sqrt(gx * gx + gy * gy) <= 20.0
  }

  /** Simplified variant of reference extended.py:167-177's switch of play
    * (the reference also requires pass length ≥ 30; this synthetic rule
    * keeps just the ≥ 40-units-across core). */
  def isSwitch: Column = col("dy") >= 40.0

  // --- exact-reference variants -------------------------------------------
  // The three rules above intentionally simplify; these are the reference's
  // own formulas verbatim, kept alongside so a user can pick fidelity.

  /** EXACT reference extended.py:150-165 — deep completion is x-distance to
    * the goal LINE (not the centre), clamped at 0, strictly < 20; a
    * missing end location is FALSE like the reference's early return
    * (guard required: Spark's greatest() SKIPS nulls, so without it
    * `greatest(0.0, 120.0 − null) = 0.0 < 20` would yield true). */
  def isDeepCompletionExact: Column =
    col("x2").isNotNull &&
      (greatest(lit(0.0), lit(120.0) - col("x2")) < 20.0)

  /** EXACT reference extended.py:167-177 — switch of play needs BOTH the
    * ≥ 40-units lateral move AND segment length ≥ 30; missing endpoints
    * are FALSE like the reference's early return. */
  def isSwitchExact: Column =
    col("dx").isNotNull && col("dy").isNotNull &&
      (col("dy") >= 40.0) &&
      (sqrt(col("dx") * col("dx") + col("dy") * col("dy")) >= 30.0)

  /** EXACT reference extended.py:110-130 — progressive-30: dx ≥ 10 first,
    * then the gain toward the goal line must be ≥ 30% of the remaining
    * distance (which must be positive). With dist = max(0, 120−x) the gain
    * is dist_start − dist_end, written exactly as the reference computes
    * it so the float ops match. */
  def isProgressive30Exact: Column = {
    val distStart = greatest(lit(0.0), lit(120.0) - col("x"))
    val distEnd = greatest(lit(0.0), lit(120.0) - col("x2"))
    col("dx").isNotNull &&
      (col("dx") >= 10.0) && (distStart > 0.0) &&
      ((distStart - distEnd) >= distStart * 0.3)
  }

  /** Events with all derived geometry columns attached. */
  def withGeometry(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    events
      .withColumn("k", k)
      .withColumn("x", x)
      .withColumn("y", y)
      .withColumn("x2", x2)
      .withColumn("y2", y2)
      .withColumn("dx", dx)
      .withColumn("dy", dyAbs)

  /** The same derivations as DuckDB SQL fragments (oracle side). Keeping
    * them adjacent to the Column versions makes drift impossible to miss. */
  object sql {
    val day = "CAST(ts AS DATE)"
    val us = "epoch_us(ts)"
    val k = "CAST(props->>'k' AS INTEGER)"
    val x = "(value % CAST(120 AS DOUBLE))"
    val y = s"CAST(($k * 7) % 80 AS DOUBLE)"
    val x2 = s"((value + CAST($k AS DOUBLE)) % CAST(120 AS DOUBLE))"
    val y2 = s"CAST(($k * 13) % 80 AS DOUBLE)"
    /** WITH-clause prefix deriving geometry for event_type = `typ`. */
    def geo(typ: String): String =
      s"""WITH g0 AS (
         |  SELECT event_id, ts, user_id, event_type, value,
         |         $k AS k, $x AS x, $y AS y, $x2 AS x2, $y2 AS y2
         |  FROM events WHERE event_type = '$typ'
         |), g AS (
         |  SELECT *, (x2 - x) AS dx, abs(y2 - y) AS dy FROM g0
         |)""".stripMargin
    val isProgressive = "(dx >= 10.0 AND dx > dy)"
    val isProgressive30 = "(dx >= (CAST(120 AS DOUBLE) - x) * 0.3 AND x2 > x)"
    val isFinalThird = "(x2 >= 80.0)"
    val isPenaltyArea = "(x2 >= 102.0 AND y2 >= 18.0 AND y2 <= 62.0)"
    val isDeepCompletion =
      "(sqrt((CAST(120 AS DOUBLE) - x2) * (CAST(120 AS DOUBLE) - x2) + " +
        "(CAST(40 AS DOUBLE) - y2) * (CAST(40 AS DOUBLE) - y2)) <= 20.0)"
    val isSwitch = "(dy >= 40.0)"
    val isDeepCompletionExact =
      "(x2 IS NOT NULL AND greatest(0.0, CAST(120 AS DOUBLE) - x2) < 20.0)"
    val isSwitchExact =
      "(dx IS NOT NULL AND dy IS NOT NULL AND " +
        "dy >= 40.0 AND sqrt(dx * dx + dy * dy) >= 30.0)"
    val isProgressive30Exact =
      "(dx IS NOT NULL AND " +
        "dx >= 10.0 AND greatest(0.0, CAST(120 AS DOUBLE) - x) > 0.0 AND " +
        "(greatest(0.0, CAST(120 AS DOUBLE) - x) - " +
        "greatest(0.0, CAST(120 AS DOUBLE) - x2)) >= " +
        "greatest(0.0, CAST(120 AS DOUBLE) - x) * 0.3)"
  }
}
