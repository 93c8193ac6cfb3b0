package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.bitset.BitSetMethods

/** Native Catalyst expressions for the embedding hot path (SURVEY.md §7.6).
  *
  * The higher-order-function cosine (`zip_with` + `aggregate`) allocates an
  * intermediate array and evaluates a lambda per element; at
  * pairs×64-dims scale that dominates the dedup/ANN profile. These
  * expressions generate a tight primitive loop inside WholeStageCodegen —
  * no allocation, no virtual calls.
  *
  * Arithmetic contract (oracle compatibility): elements are widened
  * float→double, multiplied in double, accumulated sequentially left to
  * right — exactly the HOF fold's arithmetic, so results are bit-identical
  * to the `zip_with`/`aggregate` formulation and the 6-dp-rounded DuckDB
  * comparison is unchanged. Edge inputs follow the HOF too: a null
  * element, or unequal lengths (zip_with null-pads the shorter side),
  * make the fold NULL — required for [[RewriteHofVectorOps]] to be a
  * sound rewrite of arbitrary user SQL, not just the library's calls.
  * A null-free `UnsafeArrayData` (the row format's arrays) takes the
  * [[DenseFloats]] fold, the same products summed in the same order;
  * any other array keeps the per-element null check.
  */
case class FloatDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true; case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // null element / length mismatch
  override def prettyName: String = "float_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    if (DenseFloats.isDense(x) && DenseFloats.isDense(y)) return DenseFloats.dot(x, y)
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else if (graft.plans.DenseFloats.isDense($a) &&
         |    graft.plans.DenseFloats.isDense($b)) {
         |  ${ev.value} = graft.plans.DenseFloats.dot($a, $b);
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatDot =
    copy(left = newLeft, right = newRight)
}

/** ‖a‖₂ over an array<float>, same arithmetic contract as [[FloatDot]]. */
case class FloatNorm(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>, got ${other.sql}")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // null element → null, like the HOF
  override def prettyName: String = "float_norm"

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    if (DenseFloats.isDense(x)) return math.sqrt(DenseFloats.dot(x, x))
    var acc = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      if (x.isNullAt(i)) return null
      val v = x.getFloat(i).toDouble
      acc += v * v
      i += 1
    }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val v = ctx.freshName("v")
      s"""
         |if (graft.plans.DenseFloats.isDense($a)) {
         |  ${ev.value} = java.lang.Math.sqrt(graft.plans.DenseFloats.dot($a, $a));
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $v = (double) $a.getFloat($i);
         |    $acc += $v * $v;
         |  }
         |  if (!${ev.isNull}) ${ev.value} = java.lang.Math.sqrt($acc);
         |}
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): FloatNorm =
    copy(child = newChild)
}

/** The dense path of [[FloatDot]] and [[FloatNorm]]: an `UnsafeArrayData`
  * whose null bitmap is all zero (one word per 64 elements, checked
  * once) is folded straight over its value region, 4 bytes per float,
  * with no per-element `isNullAt`. */
object DenseFloats {
  /** An `UnsafeArrayData` with no null element. */
  def isDense(x: ArrayData): Boolean = x match {
    case u: UnsafeArrayData =>
      !BitSetMethods.anySet(u.getBaseObject, u.getBaseOffset + 8,
        (u.numElements() + 63) / 64)
    case _ => false
  }

  /** Σ xᵢ·yᵢ over two dense arrays of equal length: each float widened
    * to double, the products added left to right from 0.0 — the element
    * loop's arithmetic exactly. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val u = x.asInstanceOf[UnsafeArrayData]
    val w = y.asInstanceOf[UnsafeArrayData]
    val n = u.numElements()
    val header = UnsafeArrayData.calculateHeaderPortionInBytes(n)
    val ub = u.getBaseObject
    val wb = w.getBaseObject
    var uo = u.getBaseOffset + header
    var wo = w.getBaseOffset + header
    val end = uo + 4L * n
    var acc = 0.0
    while (uo < end) {
      acc += Platform.getFloat(ub, uo).toDouble * Platform.getFloat(wb, wo).toDouble
      uo += 4
      wo += 4
    }
    acc
  }
}

/** Registration of the native functions.
  *
  * Preferred: a [[graft.GraftSession]] session, which installs them.
  * [[GraftFunctions.register]] is the runtime-idempotent equivalent for
  * sessions built elsewhere.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(ext.injectFunction)
    // HOF dot/norm → native codegen expressions, double round → the
    // HalfUp kernel, an int cast of a one-field JSON path → the byte-scan
    // JsonInt kernel (all three value-identical rewrites)
    ext.injectOptimizerRule(_ => RewriteHofVectorOps)
    ext.injectOptimizerRule(_ => RewriteDoubleRound)
    ext.injectOptimizerRule(_ => RewriteJsonIntField)
  }
}

object GraftFunctions {
  type Descriptor = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** Second arguments of the text-hash functions must be integer
    * LITERALS (they parameterize codegen) — anything else gets a clear
    * analysis-time error instead of an eval() crash on an unresolved or
    * null expression. */
  private def litInt(e: Expression, fn: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Number, _)
        if v != null => v.intValue()
    case other => throw new IllegalArgumentException(
      s"$fn requires a non-null integer literal second argument, got ${other.sql}")
  }

  val descriptors: Seq[Descriptor] = Seq(
    (FunctionIdentifier("float_dot"),
      new ExpressionInfo(classOf[FloatDot].getName, "float_dot"),
      (es: Seq[Expression]) => FloatDot(es(0), es(1))),
    (FunctionIdentifier("float_norm"),
      new ExpressionInfo(classOf[FloatNorm].getName, "float_norm"),
      (es: Seq[Expression]) => FloatNorm(es(0))),
    (FunctionIdentifier("minhash_slices"),
      new ExpressionInfo(classOf[MinhashSlices].getName, "minhash_slices"),
      (es: Seq[Expression]) => MinhashSlices(es(0),
        litInt(es(1), "minhash_slices"),
        if (es.length > 2) litInt(es(2), "minhash_slices") else 4)),
    (FunctionIdentifier("fingerprint_min"),
      new ExpressionInfo(classOf[FingerprintMin].getName, "fingerprint_min"),
      (es: Seq[Expression]) => FingerprintMin(es(0),
        litInt(es(1), "fingerprint_min"))),
    (FunctionIdentifier("winnow_fingerprints"),
      new ExpressionInfo(classOf[WinnowFingerprints].getName, "winnow_fingerprints"),
      (es: Seq[Expression]) => WinnowFingerprints(es(0),
        litInt(es(1), "winnow_fingerprints"),
        litInt(es(2), "winnow_fingerprints"))),
    (FunctionIdentifier("simhash_fp"),
      new ExpressionInfo(classOf[SimhashFp].getName, "simhash_fp"),
      (es: Seq[Expression]) => SimhashFp(es(0),
        litInt(es(1), "simhash_fp"))),
    (FunctionIdentifier("collect_set_capped"),
      new ExpressionInfo(classOf[CollectSetCapped].getName, "collect_set_capped"),
      (es: Seq[Expression]) => CollectSetCapped(es(0),
        litInt(es(1), "collect_set_capped"))),
    (FunctionIdentifier("rp_band_keys"),
      new ExpressionInfo(classOf[RpBandKeys].getName, "rp_band_keys"),
      (es: Seq[Expression]) => RpBandKeys(es(0),
        if (es.length > 1) litInt(es(1), "rp_band_keys") else RpLsh.Bands,
        if (es.length > 2) litInt(es(2), "rp_band_keys")
        else RpLsh.BitsPerBand)),
    (FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(classOf[BloomAgg].getName, "bloom_agg"),
      (es: Seq[Expression]) => BloomAgg(es(0),
        if (es.length > 1) litInt(es(1), "bloom_agg")
        else GraftBloom.DefaultHexChars)),
    (FunctionIdentifier("magic_mime"),
      new ExpressionInfo(classOf[MagicMimeOf].getName, "magic_mime"),
      (es: Seq[Expression]) => MagicMimeOf(es(0))),
    (FunctionIdentifier("gopher_rep_pass"),
      new ExpressionInfo(classOf[GopherRepPass].getName, "gopher_rep_pass"),
      (es: Seq[Expression]) => GopherRepPass(es(0))),
    (FunctionIdentifier("gopher_rep_flags"),
      new ExpressionInfo(classOf[GopherRepFlags].getName, "gopher_rep_flags"),
      (es: Seq[Expression]) => GopherRepFlags(es(0))),
    (FunctionIdentifier("http_dechunk"),
      new ExpressionInfo(classOf[HttpDechunk].getName, "http_dechunk"),
      (es: Seq[Expression]) => HttpDechunk(es(0))),
    (FunctionIdentifier("http_inflate"),
      new ExpressionInfo(classOf[HttpInflate].getName, "http_inflate"),
      (es: Seq[Expression]) => HttpInflate(es(0),
        if (es.length > 1) litInt(es(1), "http_inflate")
        else HttpCodec.MaxInflate)),
    (FunctionIdentifier("zstd_inflate"),
      new ExpressionInfo(classOf[ZstdInflate].getName, "zstd_inflate"),
      (es: Seq[Expression]) => ZstdInflate(es(0),
        if (es.length > 1) litInt(es(1), "zstd_inflate")
        else HttpCodec.MaxInflate)),
    (FunctionIdentifier("gzip_compress"),
      new ExpressionInfo(classOf[GzipCompress].getName, "gzip_compress"),
      (es: Seq[Expression]) => GzipCompress(es(0))),
    (FunctionIdentifier("url_resolve"),
      new ExpressionInfo(classOf[UrlResolve].getName, "url_resolve"),
      (es: Seq[Expression]) => UrlResolve(es(0), es(1))),
    (FunctionIdentifier("pct_normalize"),
      new ExpressionInfo(classOf[PctNormalize].getName, "pct_normalize"),
      (es: Seq[Expression]) => PctNormalize(es(0))),
    (FunctionIdentifier("main_content"),
      new ExpressionInfo(classOf[MainContentExtract].getName, "main_content"),
      (es: Seq[Expression]) => MainContentExtract(es(0))),
    (FunctionIdentifier("idn_host"),
      new ExpressionInfo(classOf[IdnHostNormalize].getName, "idn_host"),
      (es: Seq[Expression]) => IdnHostNormalize(es(0))),
    (FunctionIdentifier("charset_decode"),
      new ExpressionInfo(classOf[CharsetDecode].getName, "charset_decode"),
      (es: Seq[Expression]) => CharsetDecode(es(0), es(1))),
    (FunctionIdentifier("html_entities_decode"),
      new ExpressionInfo(classOf[HtmlEntitiesDecode].getName,
        "html_entities_decode"),
      (es: Seq[Expression]) => HtmlEntitiesDecode(es(0))),
    (FunctionIdentifier("html_text_extract"),
      new ExpressionInfo(classOf[HtmlTextExtract].getName,
        "html_text_extract"),
      (es: Seq[Expression]) => HtmlTextExtract(es(0))),
    (FunctionIdentifier("utf8_nfc"),
      new ExpressionInfo(classOf[Utf8Nfc].getName, "utf8_nfc"),
      (es: Seq[Expression]) => Utf8Nfc(es(0))),
    (FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "bloom_contains"),
      (es: Seq[Expression]) => BloomMightContain(es(0), es(1),
        if (es.length > 2) litInt(es(2), "bloom_contains")
        else GraftBloom.DefaultHexChars)))

  /** Idempotently register on an existing session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    descriptors.foreach { case (id, info, builder) =>
      if (!spark.sessionState.functionRegistry.functionExists(id)) {
        spark.sessionState.functionRegistry.registerFunction(id, info, builder)
      }
    }
}
