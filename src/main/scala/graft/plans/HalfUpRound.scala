package graft.plans

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Round, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

/** Spark's `round(x, s)` on a double, HALF_UP on the shortest decimal
  * of `x` (`BigDecimal.valueOf(x).setScale(s, HALF_UP).doubleValue`),
  * bit for bit, without building a `BigDecimal` on the common path.
  *
  * Fast path, for `0 ≤ s ≤` [[MaxFastScale]] and `t = |x|·10^s < 2^52`:
  * with `n = floor(t)` and the fraction `f = t − n` (exact), the rounded
  * magnitude is `k = n + 1` when `f > 0.5`, else `n`, and the result is
  * `±k / 10^s`. Both operands are exact doubles, so that one IEEE
  * division is the correctly rounded `k/10^s` — what
  * `BigDecimal.doubleValue` returns. `k = 0` gives `+0.0`, as a
  * `BigDecimal` zero does; NaN and ±Inf pass through, as in Spark.
  *
  * Why `k` is the `BigDecimal`'s: the shortest decimal `D` of `x` lies
  * within half an ulp of `x`, and `t` within half an ulp of `|x|·10^s`,
  * so `|t − |D|·10^s| < 1.5 ulp(t)`. When `f` is more than
  * [[TieUlps]] ulps from 0.5, no integer lies between `t + 0.5` and
  * `|D|·10^s + 0.5`, so both round to the same `k`. At `s = 0` the
  * product is `|x|` itself and every `n + 0.5` below 2^52 is a double:
  * `D` rounds to `x`, so it lies on `x`'s side of every such
  * half-integer, and only an exact `f = 0.5` needs the slow path.
  *
  * Everything else — `f` within the margin, `t ≥ 2^52`, other scales —
  * takes the `BigDecimal` path Spark itself runs. */
object HalfUp {
  /** The largest scale whose power of ten the fast path keeps exact
    * (every 10^s up to 10^22 is a double; past 2^52 / 10^15 the
    * magnitude left for a fraction is below 4.5). */
  private val MaxFastScale = 15

  /** Ulps of `t` within which a fraction near 0.5 is settled by
    * `BigDecimal` (the error bound above is 1.5). */
  private val TieUlps = 4.0

  private val Pow10 = Array.iterate(1.0, MaxFastScale + 1)(_ * 10)
  private val TwoP52 = 4503599627370496.0

  /** `round(x, scale)` for a double, as Spark's `Round` computes it. */
  def round(x: Double, scale: Int): Double = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) return x
    if (scale >= 0 && scale <= MaxFastScale) {
      val p = Pow10(scale)
      val t = math.abs(x) * p
      if (t < TwoP52) {
        val n = math.floor(t)
        val f = t - n
        val margin = if (scale == 0) 0.0 else TieUlps * math.ulp(t)
        if (math.abs(f - 0.5) > margin) {
          val k = if (f > 0.5) n + 1 else n
          return if (k == 0) 0.0 else if (x < 0) -(k / p) else k / p
        }
      }
    }
    JBigDecimal.valueOf(x).setScale(scale, RoundingMode.HALF_UP).doubleValue
  }

  /** `round(x)` to a long, as `CAST(round(x) AS BIGINT)` computes it for
    * an `|x|` below 2^52; beyond that `longValueExact`'s range check
    * applies. Throws on NaN/±Inf, like `BigDecimal.valueOf`. */
  def roundToLong(x: Double): Long = {
    val t = math.abs(x)
    if (t < TwoP52) {
      val n = math.floor(t)
      val f = t - n
      if (f != 0.5) {
        val k = (if (f > 0.5) n + 1 else n).toLong
        return if (x < 0) -k else k
      }
    }
    JBigDecimal.valueOf(x).setScale(0, RoundingMode.HALF_UP).longValueExact()
  }
}

/** `round(child, scale)` on a double through [[HalfUp.round]]; what
  * [[RewriteDoubleRound]] puts in place of Spark's `Round`. */
case class HalfUpRound(child: Expression, scale: Int) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "round_half_up"

  override protected def nullSafeEval(input: Any): Any =
    HalfUp.round(input.asInstanceOf[Double], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.HalfUp.round($c, $scale)")

  override protected def withNewChildInternal(newChild: Expression): HalfUpRound =
    copy(child = newChild)
}

/** Optimizer rule: Spark's `Round` of a double to an integer-literal
  * scale becomes [[HalfUpRound]] — the same value, bit for bit
  * (asserted in `FloatVectorExprSpec`), without a `BigDecimal` per row.
  * It reaches every such call, the cosine verify's `round(cos, 6)` and
  * the `round(v * 1e6)` quantizers inside `transform` lambdas included.
  * Float, decimal and integral `round`, `bround` and a scale that is not
  * an integer literal are left to Spark. */
object RewriteDoubleRound extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Round(child, Literal(s: Int, IntegerType), _)
          if child.dataType == DoubleType =>
        HalfUpRound(child, s)
    }
}
