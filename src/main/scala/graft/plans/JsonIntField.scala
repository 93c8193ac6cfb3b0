package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression,
  GenericInternalRow, GetJsonObject, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.CAST
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `CAST(get_json_object(json, '$.name') AS INT)` read by one pass over
  * the string's bytes, for the payloads that hold nothing but that field.
  *
  * The fast path accepts only a whole string of the form
  * `ws* { ws* "name" ws* : ws* -?(0|[1-9][0-9]{0,8}) ws* } ws*`, with `ws`
  * JSON's four whitespace bytes. On such a string Spark's expression
  * parses the one field, prints the integer back in decimal and casts
  * that text to an int: at most nine digits always fit, so the value is
  * the integer itself, under any cast mode. Every other string — escapes,
  * other or repeated fields, strings, fractions, exponents, ten or more
  * digits, leading zeros, bytes after the object, non-ASCII — answers
  * [[Miss]], and the caller evaluates Spark's own expression. */
object JsonInt {
  /** [[field]]'s answer for a string off the fast path. */
  final val Miss: Long = Long.MinValue

  private final val MaxDigits = 9

  /** The value of the field `name` (ASCII letters, digits, `_`), or
    * [[Miss]]. Allocates nothing. */
  def field(s: UTF8String, name: String): Long = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    def at(i: Int): Int = Platform.getByte(base, off + i).toInt
    def skipWs(from: Int): Int = {
      var i = from
      while (i < n && { val b = at(i); b == ' ' || b == '\n' || b == '\r' || b == '\t' })
        i += 1
      i
    }
    var i = skipWs(0)
    if (i >= n || at(i) != '{') return Miss
    i = skipWs(i + 1)
    val m = name.length
    if (n - i < m + 2 || at(i) != '"') return Miss
    i += 1
    var j = 0
    while (j < m) {
      if (at(i + j) != name.charAt(j)) return Miss
      j += 1
    }
    i += m
    if (at(i) != '"') return Miss
    i = skipWs(i + 1)
    if (i >= n || at(i) != ':') return Miss
    i = skipWs(i + 1)
    val negative = i < n && at(i) == '-'
    if (negative) i += 1
    val start = i
    var v = 0L
    while (i < n && at(i) >= '0' && at(i) <= '9') {
      if (i - start == MaxDigits) return Miss
      v = v * 10 + (at(i) - '0')
      i += 1
    }
    val digits = i - start
    if (digits == 0 || (digits > 1 && at(start) == '0')) return Miss
    i = skipWs(i)
    if (i >= n || at(i) != '}') return Miss
    if (skipWs(i + 1) != n) return Miss
    if (negative) -v else v
  }
}

/** [[JsonInt.field]] of `json`, and where it misses, `fallback` — the
  * `Cast(GetJsonObject)` it replaced, bound to the json value through
  * `BoundReference(0)` — so every answer off the fast path, nulls and
  * ANSI errors included, is Spark's. `fallback` is a template, not a
  * child: no rule rewrites it, so [[RewriteJsonIntField]] never meets its
  * own pattern again. */
case class JsonIntField(json: Expression, name: String, fallback: Expression)
    extends UnaryExpression {
  override def child: Expression = json
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "json_int_field"
  override protected def flatArguments: Iterator[Any] = Iterator(json, name)
  override def sql: String = s"$prettyName(${json.sql}, '$name')"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val v = JsonInt.field(s, name)
    if (v != JsonInt.Miss) v.toInt
    else fallback.eval(new GenericInternalRow(Array[Any](s)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val template = ctx.addReferenceObj("fallback", fallback)
    val v = ctx.freshName("field")
    val o = ctx.freshName("spark")
    val row = classOf[GenericInternalRow].getName
    nullSafeCodeGen(ctx, ev, c =>
      s"""long $v = graft.plans.JsonInt.field($c, "$name");
         |if ($v != Long.MIN_VALUE) {
         |  ${ev.value} = (int) $v;
         |} else {
         |  Object $o = $template.eval(new $row(new Object[] {$c}));
         |  if ($o == null) ${ev.isNull} = true;
         |  else ${ev.value} = (Integer) $o;
         |}""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): JsonIntField =
    copy(json = newChild)
}

/** Optimizer rule: `CAST(get_json_object(json, '$.name') AS INT)`, with
  * `name` of ASCII letters, digits and `_`, becomes [[JsonIntField]] —
  * Spark's value on every input (asserted in `JsonIntFieldSpec`), without
  * a Jackson parser for the payloads the fast path reads. Every cast mode
  * and time zone is kept in the template. Other paths, other target
  * types and a path that is not a literal are left to Spark. */
object RewriteJsonIntField extends Rule[LogicalPlan] {
  private object FieldPath {
    private val Re = """\$\.([A-Za-z0-9_]+)""".r
    def unapply(p: UTF8String): Option[String] = p.toString match {
      case Re(name) => Some(name)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_.containsPattern(CAST)) {
      case c @ Cast(GetJsonObject(json, path @ Literal(FieldPath(name), _)),
          IntegerType, _, _) =>
        val bound = BoundReference(0, json.dataType, json.nullable)
        JsonIntField(json, name, c.withNewChildren(Seq(GetJsonObject(bound, path))))
    }
}
