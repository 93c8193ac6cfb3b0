package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector math over `array<float>` columns (SURVEY.md §2-B
  * rows 28-30).
  *
  * Catalyst higher-order functions (`zip_with`/`aggregate`/`transform`) —
  * evaluated per-row with no shuffle and no UDF serialization. Floats are
  * widened to double element-wise before multiply/accumulate; the fold is
  * sequential left-to-right. Engine-specific summation order still differs
  * from DuckDB's list_sum in the last ulp, so any cross-engine-compared
  * cosine is rounded to 6 dp on BOTH sides.
  *
  * On a [[graft.GraftSession]] session the optimizer runs these through
  * bit-identical kernels: `RewriteHofVectorOps` turns the HOF dot and norm
  * into `FloatDot` / `FloatNorm` (a null-free row-format array is folded
  * without a per-element null check), and `RewriteDoubleRound` turns the
  * double `round(…, 6)` into `HalfUp.round`, which needs no `BigDecimal`
  * unless the value sits within a few ulps of a tie.
  */
object VectorFuns {

  /** Σ aᵢ·bᵢ in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** ‖a‖₂ in double precision. */
  def l2norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Cosine similarity rounded to 6 dp (cross-engine-stable). */
  def cosine6(a: Column, b: Column): Column =
    round(dot(a, b) / (l2norm(a) * l2norm(b)), 6)

  // --- native hot path (graft.plans.FloatDot / FloatNorm) ---------------
  // Same arithmetic as the HOF versions (sequential double fold) but a
  // primitive codegen loop — call GraftFunctions.register(spark) first.

  /** Σ aᵢ·bᵢ via the native codegen expression. */
  def dotNative(a: Column, b: Column): Column =
    call_function("float_dot", a, b)

  /** ‖a‖₂ via the native codegen expression. */
  def l2normNative(a: Column): Column = call_function("float_norm", a)

  /** Cosine from a native dot and PRE-COMPUTED norms — at pair-join scale
    * the norms must be computed once per row before the join, not once per
    * pair (turns 3 array passes per pair into 1). */
  def cosine6Pre(a: Column, b: Column, normA: Column, normB: Column): Column =
    round(dotNative(a, b) / (normA * normB), 6)

  /** Sign-LSH bucket from the first `bits` dimensions: bit i set iff
    * component i > 0 (exact float comparison — engine-portable). On a
    * cluster this bucket id is the partition/prune key for ANN search. */
  def signBucket(a: Column, bits: Int = 8): Column =
    signBandKey(a, 0 until bits)

  /** Sign band key over an explicit dimension list (0-indexed): bit i set
    * iff component `dims(i)` > 0 — the banded generalization of
    * [[signBucket]] used by the LSH-blocked embedding dedup (one key per
    * band of dims). Exact float comparison — engine-portable. */
  def signBandKey(a: Column, dims: Seq[Int]): Column =
    dims.zipWithIndex.map { case (d, i) =>
      when(element_at(a, d + 1) > 0f, lit(1 << i)).otherwise(lit(0)) }
      .reduce(_ + _)

  /** The DuckDB-side twins (oracle SQL fragments). */
  object sql {
    def dot(a: String, b: String): String =
      s"list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    def l2norm(a: String): String =
      s"sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    def cosine6(a: String, b: String): String =
      s"round(${dot(a, b)} / (${l2norm(a)} * ${l2norm(b)}), 6)"
    def signBucket(a: String, bits: Int = 8): String =
      signBandKey(a, 0 until bits)
    def signBandKey(a: String, dims: Seq[Int]): String =
      dims.zipWithIndex.map { case (d, i) =>
        s"(CASE WHEN $a[${d + 1}] > 0 THEN ${1 << i} ELSE 0 END)" }.mkString(" + ")

    /** The 10⁶-quantized integer vector (DuckDB list) the random-
      * hyperplane band keys are computed over — `round` ↔ Spark `round`
      * is the proven cross-engine pairing (see `AnnOps.centroid`). */
    def q6List(a: String): String =
      s"list_transform($a, v -> CAST(round(CAST(v AS DOUBLE) * 1e6) AS BIGINT))"

    /** Band key `band` of `graft.plans.RpLsh`, as exact BIGINT arithmetic
      * over a pre-quantized list column `qv` — a literal transcription of
      * the same coefficient table the native `rp_band_keys` uses, so both
      * engines compute identical keys by construction. */
    def rpBandKey(qv: String, band: Int): String = {
      import graft.plans.RpLsh
      (0 until RpLsh.BitsPerBand).map { i =>
        val c = RpLsh.planes(band * RpLsh.BitsPerBand + i)
        val dot = c.zipWithIndex
          .map { case (cf, d) => s"($cf)*$qv[${d + 1}]" }.mkString(" + ")
        s"(CASE WHEN ($dot) > 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString(" + ")
    }
  }
}
