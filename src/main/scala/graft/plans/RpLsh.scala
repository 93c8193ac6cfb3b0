package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** Independent random-hyperplane sign-LSH for embedding dedup
  * (`DedupOps.dedupEmbeddingRp`, SURVEY.md §2-63).
  *
  * The fixed-dimension sign banding of `DedupOps.dedupEmbeddingLsh`
  * regroups the SAME 64 sign bits into overlapping bands, so band
  * failures are positively correlated and recall has no guaranteed
  * floor. Here every one of the [[Bands]]×[[BitsPerBand]] = 128 bits is
  * its own random hyperplane — fresh i.i.d. Gaussian normals per bit —
  * so the per-band collision events are genuinely independent and the
  * textbook bound P[detect] = 1 − (1 − p^r)^b with p = 1 − θ/π is an
  * actual floor in expectation, not an estimate (measured on planted
  * cos-0.9 pairs in PipelineOpsSpec, where the tiled scheme lands BELOW
  * the formula and this one does not).
  *
  * Cross-engine exactness: a float dot against float coefficients would
  * put the sign decision one summation-order ulp from flipping a band
  * key across engines. Instead both the vector and the hyperplanes live
  * in integer space — component qᵢ = round(vᵢ×10⁶) (the repo-wide 6-dp
  * quantization, the same one `AnnOps.centroid` proved hash-stable
  * against DuckDB's round), coefficient cᵢ = round(gᵢ×10³) — and the
  * sign comes from an exact int64 Σ cᵢ·qᵢ (|Σ| ≤ 64·5·10³·10⁷ ≈ 3·10¹²,
  * no overflow). Quantizing the normals at 10⁻³ perturbs each
  * hyperplane's direction by ~0.006° in expectation — immaterial to the
  * collision probability — while keeping the DuckDB twin a literal
  * integer-arithmetic transcription of the same table.
  *
  * The table is generated once from a fixed seed via `java.util.Random`
  * (`nextGaussian` is algorithm-specified in its Javadoc, so the table is
  * identical on every JVM) and embedded as literals into the oracle SQL.
  */
object RpLsh {
  val Bands = 16
  val BitsPerBand = 8
  val Dims = 64
  val Seed = 20260812L

  /** Hyperplane table for a (bands, bits) geometry: plane
    * (band × bits + bit)(dim) = round(1000 × N(0,1)), drawn from ONE
    * seeded stream — so every geometry shares its prefix with the
    * default table (the 16×8 oracle transcription stays valid verbatim)
    * and any two geometries' planes are equally i.i.d. Memoized: the
    * table is embedded into codegen'd row loops, never per-row work.
    *
    * WHY geometry is a parameter (measured, SURVEY §8): with b bits per
    * band there are 2^b buckets, so expected band collisions are
    * ~n²/2^(b+1) per band — QUADRATIC in corpus size for any fixed b.
    * 8-bit bands are right for ~10⁴ vectors; every 2 bits buys 4×
    * fewer random collisions, so a 10⁹-vector dedup wants ~24-bit
    * bands, compensating the per-band recall drop (p^bits) with more
    * bands: recall = 1−(1−p^bits)^bands, still a floor under
    * independence. */
  def planesFor(bands: Int, bits: Int): Array[Array[Long]] = {
    require(bands >= 1 && bits >= 1 && bits <= 30,
      s"rp geometry out of range: bands=$bands bits=$bits (key is a positive Int)")
    val n = bands * bits
    cache.computeIfAbsent(n, _ => {
      val rnd = new java.util.Random(Seed)
      Array.fill(n)(
        Array.fill(Dims)(math.round(rnd.nextGaussian() * 1000)))
    })
  }
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Long]]]()

  /** The default 16×8 table (the oracle-transcribed fixture geometry). */
  val planes: Array[Array[Long]] = planesFor(Bands, BitsPerBand)

  /** round(v×10⁶) with Spark `round`'s exact semantics (shortest-decimal
    * half-up, through [[HalfUp.roundToLong]]) — keeps this expression
    * bit-aligned with the `CAST(round(CAST(v AS DOUBLE) * 1e6) AS BIGINT)`
    * oracle twin. Callers pre-check finiteness and magnitude (`|v| ≤`
    * [[MaxAbs]], so the product stays below 2^52 and the kernel needs
    * no `BigDecimal` but for an exact .5): a NaN/Infinity would throw,
    * and one bad row must not kill the whole job. */
  private def q6(v: Float): Long = HalfUp.roundToLong(v.toDouble * 1e6)

  /** Any |v| above this has no meaningful sign-LSH key anyway (the
    * overflow-freedom argument in the scaladoc assumes unit-ish
    * embeddings): beyond it q6 itself stays exact but the int64 band
    * dot Σ cᵢ·qᵢ could overflow (64 · max|c|≈5·10³ · 10¹² ≈ 3·10¹⁷ is
    * the kept headroom). Such vectors drop via the null contract
    * rather than crashing the job. */
  private val MaxAbs = 1e6

  /** The band keys of one embedding under a (bands, bits) geometry;
    * null on a null element, a non-[[Dims]] vector, or a non-finite /
    * out-of-range component (one poisoned row must drop out of the
    * dedup, not throw from inside a task and kill the 100 TB job — same
    * edge contract as FloatDot). */
  def bandKeys(v: ArrayData, bands: Int, bits: Int): ArrayData = {
    if (v.numElements() != Dims) return null
    val table = planesFor(bands, bits)
    val qv = new Array[Long](Dims)
    var d = 0
    while (d < Dims) {
      if (v.isNullAt(d)) return null
      val f = v.getFloat(d)
      if (java.lang.Float.isNaN(f) || java.lang.Float.isInfinite(f) ||
        math.abs(f) > MaxAbs) return null
      qv(d) = q6(f)
      d += 1
    }
    val keys = new Array[Int](bands)
    var b = 0
    while (b < bands) {
      var key = 0
      var i = 0
      while (i < bits) {
        val c = table(b * bits + i)
        var acc = 0L
        var j = 0
        while (j < Dims) {
          acc += c(j) * qv(j)
          j += 1
        }
        if (acc > 0) key |= 1 << i
        i += 1
      }
      keys(b) = key
      b += 1
    }
    new GenericArrayData(keys.map(x => x: Any))
  }

  /** Default-geometry keys (the registered 1-arg `rp_band_keys`). */
  def bandKeys(v: ArrayData): ArrayData = bandKeys(v, Bands, BitsPerBand)
}

/** `rp_band_keys(embedding)` → array<int> of the band keys under a
  * (bands, bits) geometry (default [[RpLsh.Bands]]×[[RpLsh.BitsPerBand]];
  * see [[RpLsh.bandKeys]] and [[RpLsh.planesFor]] for the sizing rule).
  * One primitive-loop pass per row — the bands×bits×64 integer
  * multiply-adds stay inside codegen; the declarative twin (asserted
  * bit-identical in FloatVectorExprSpec) would be an 8192-term Catalyst
  * expression tree at the default geometry alone. */
case class RpBandKeys(child: Expression,
                      bands: Int = RpLsh.Bands,
                      bits: Int = RpLsh.BitsPerBand) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.FloatType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>, got ${other.sql}")
    }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true // null element / wrong dims → null
  override def prettyName: String = "rp_band_keys"

  override protected def nullSafeEval(input: Any): Any =
    RpLsh.bandKeys(input.asInstanceOf[ArrayData], bands, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.plans.RpLsh.bandKeys($c, $bands, $bits);
         |${ev.isNull} = ${ev.value} == null;
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RpBandKeys =
    copy(child = newChild)
}
