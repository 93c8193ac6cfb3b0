package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.{JsonInt, JsonIntField, RewriteJsonIntField}
import graft.sources.Tables

/** The `k` payload kernel against the expression it replaces:
  * `cast(get_json_object(s, '$.k') as int)` with [[RewriteJsonIntField]]
  * excluded is the reference, on the generated events' payloads, an
  * adversarial list and seeded mutations of both. Values, nulls and the
  * class of every exception must agree, interpreted and generated, with
  * ANSI mode on and off. */
class JsonIntFieldSpec extends SparkSpec {
  import JsonIntFieldSpec._
  import SparkSpec.withConf

  private lazy val generated: Seq[Option[Array[Byte]]] =
    Tables.events(spark, sfDir).select("props").distinct().collect().toSeq
      .map(r => Option(r.getString(0)).map(_.getBytes(UTF_8)))

  private lazy val listed: Seq[Option[Array[Byte]]] = adversarial ++ generated

  test("JsonInt.field reads the one-field grammar and misses everything else") {
    val hits = Seq("""{"k":0}""" -> 0, """{"k": 42}""" -> 42, """{"k":-0}""" -> 0,
      """{"k":-7}""" -> -7, " \t\r\n{ \"k\" :\n 99 }\n " -> 99,
      """{"k":999999999}""" -> 999999999, """{"k":-999999999}""" -> -999999999)
    hits.foreach { case (s, v) =>
      assert(JsonInt.field(UTF8String.fromString(s), "k") == v, s)
    }
    assert(JsonInt.field(UTF8String.fromString("""{"page_1": 3}"""), "page_1") == 3)
    val misses = Seq("", "{}", """{"k":05}""", """{"k":00}""", """{"k":-05}""",
      """{"k":1000000000}""", """{"k":2147483647}""", """{"k":"5"}""",
      """{"k":5.0}""", """{"k":1e2}""", """{"k":-}""", """{"k":+5}""",
      """{"k":1,"k":2}""", """{"K":1}""", """{"kk":1}""", """{"k":1,}""",
      """{"k":7}x""", """{"k":7""", """{"k"""", "{\"k\":7}\u00a0",
      "\u000b{\"k\":7}", """[{"k":1}]""", "5")
    misses.foreach(s => assert(JsonInt.field(UTF8String.fromString(s), "k") == JsonInt.Miss, s))
  }

  test("the kernel equals Spark's cast(get_json_object) per row, interpreted and generated, ANSI on and off") {
    val inputs = listed ++ fuzz(listed.flatten, 4000)
    for (ansi <- Seq(false, true)) {
      val (reference, kernel) = boundPair(ansi)
      assert(!reference.exists(_.isInstanceOf[JsonIntField]))
      assert(kernel.isInstanceOf[JsonIntField], kernel)
      val referenceGen = GenerateUnsafeProjection.generate(Seq(reference))
      val kernelGen = GenerateUnsafeProjection.generate(Seq(kernel))
      var fast, thrown = 0
      inputs.foreach { in =>
        val row = InternalRow(in.map(UTF8String.fromBytes).orNull)
        val want = outcome(reference.eval(row))
        val label = s"ansi=$ansi ${show(in)}"
        assert(outcome(intAt(referenceGen(row))) == want, s"Spark itself: $label")
        assert(outcome(kernel.eval(row)) == want, s"interpreted: $label")
        assert(outcome(intAt(kernelGen(row))) == want, s"generated: $label")
        if (in.exists(b => JsonInt.field(UTF8String.fromBytes(b), "k") != JsonInt.Miss)) fast += 1
        if (want.isLeft) thrown += 1
      }
      assert(fast >= generated.size + 200, s"fast-path rows: $fast")
      assert(fast < inputs.size - 1000, s"fast-path rows: $fast")
      if (ansi) assert(thrown >= 4, s"rows Spark throws on: $thrown")
      else assert(thrown == 0, s"rows Spark throws on: $thrown")
    }
  }

  test("the rewritten query equals Spark's under whole-stage codegen and interpreted, ANSI on and off") {
    val inputs = listed
    def run(ansi: Boolean, wholeStage: Boolean, rule: Boolean,
        ids: Seq[Int]): Either[String, Seq[Option[Int]]] = {
      val confs = Seq("spark.sql.ansi.enabled" -> ansi.toString,
        "spark.sql.codegen.wholeStage" -> wholeStage.toString,
        "spark.sql.codegen.factoryMode" -> (if (wholeStage) "FALLBACK" else "NO_CODEGEN")) ++
        (if (rule) Nil else Seq("spark.sql.optimizer.excludedRules" -> RuleName))
      withConf(confs: _*) {
        val df = frame(ids.map(inputs))
        assert(kernels(df.queryExecution.optimizedPlan) == (if (rule) 1 else 0),
          df.queryExecution.optimizedPlan)
        assert(df.queryExecution.executedPlan
          .exists(_.isInstanceOf[WholeStageCodegenExec]) == wholeStage)
        outcome(df.collect().toSeq.map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))))
      }
    }
    for (ansi <- Seq(false, true)) {
      val (reference, _) = boundPair(ansi)
      val throws = inputs.indices.filter { i =>
        outcome(reference.eval(InternalRow(inputs(i).map(UTF8String.fromBytes).orNull))).isLeft
      }
      val clean = inputs.indices.filterNot(throws.contains)
      for (wholeStage <- Seq(true, false)) {
        val label = s"ansi=$ansi wholeStage=$wholeStage"
        val want = run(ansi, wholeStage, rule = false, clean)
        assert(want.isRight, s"$label: $want")
        assert(run(ansi, wholeStage, rule = true, clean) == want, label)
        throws.foreach { i =>
          val one = run(ansi, wholeStage, rule = false, Seq(i))
          assert(one.isLeft, s"$label ${show(inputs(i))}: $one")
          assert(run(ansi, wholeStage, rule = true, Seq(i)) == one,
            s"$label ${show(inputs(i))}")
        }
      }
      assert(ansi == throws.nonEmpty, s"ansi=$ansi: ${throws.map(inputs).map(show)}")
    }
  }

  test("RewriteJsonIntField takes only an int cast of a one-name literal path") {
    val probes = spark.range(2).select(
      col("id").cast("string").as("s"), when(col("id") >= 0, "$.k").as("p"))
      .select(
        get_json_object(col("s"), "$.k").cast("int"),
        get_json_object(col("s"), "$.page_1").cast("int"),
        get_json_object(col("s"), "$.k").cast("long"),
        get_json_object(col("s"), "$.k"),
        get_json_object(col("s"), "$.a.k").cast("int"),
        get_json_object(col("s"), "$['k']").cast("int"),
        get_json_object(col("s"), "$.k-1").cast("int"),
        expr("cast(get_json_object(s, p) as int)"))
    val plan = probes.queryExecution.optimizedPlan
    assert(kernels(plan) == 2, plan)
    assert(RewriteJsonIntField(plan) eq plan)
  }
}

object JsonIntFieldSpec {
  import SparkSpec.withConf

  val RuleName: String = RewriteJsonIntField.ruleName

  private def b(s: String): Option[Array[Byte]] = Some(s.getBytes(UTF_8))
  private def raw(bytes: Int*): Array[Byte] = bytes.map(_.toByte).toArray

  /** Nulls, empties, every way a payload leaves the fast path, and the
    * fast path's own edges. */
  val adversarial: Seq[Option[Array[Byte]]] = Seq(None, b(""), b(" "), b("{}"), b("null")) ++
    Seq("""{"k":"5"}""", """{"k":5.0}""", """{"k":1e2}""", """{"k":-0}""",
      """{"k":05}""", """{"k":-05}""", """{"k":00}""", """{"k":0}""",
      """{"k":2147483647}""", """{"k":2147483648}""", """{"k":-2147483648}""",
      """{"k":-2147483649}""", """{"k":999999999}""", """{"k":-999999999}""",
      """{"k":1000000000}""", """{"k":0999999999}""", """{"k":99999999999999999999}""",
      """{"k":1,"k":2}""", """{"K":1}""", """{"k":3}""", """{"kk":3}""", """{"k ":3}""",
      """{"k":-1}""", """{"k":null}""", """{"k":true}""", """{"k":[1]}""",
      """{"k":{"k":1}}""", """{"a":{"k":1}}""", """{"a":1,"k":2}""", """{"k":2,"a":1}""",
      """{"k":"abc"}""", """{"k":" 5 "}""", """{"k":"2147483648"}""", """{"k":"-"}""",
      """{"k":1.5}""", """{"k":-1.5}""", """{"k":1e10}""", """{"k":1E2}""",
      " {\"k\":7} ", "\t\n{ \"k\" : 7 }\r\n", """{"k": 42}""", """{"k"  :  -3  }""",
      """{"k":7}x""", """{"k":7}}""", """{"k":7} {"k":8}""", """{"k":7""",
      """{"k":""", """{"k"""", """{"k":-}""", """{"k":+5}""", """{"k":5 6}""",
      """[{"k":1}]""", "\"k\"", "5", "/*c*/{\"k\":7}", "{'k':7}", "{k:7}",
      "{\"k\":7}\u00a0", "\u00a0{\"k\":7}", "{\"\u0137\":7}", "\ufeff{\"k\":7}",
      "\u0000{\"k\":7}", "{\"k\":7}\u0000", "\u000b{\"k\":7}", "{\"k\":\u00007}")
      .map(b) ++
    Seq(b("""{"k":7}""").get ++ raw(0xff), raw('{', '"', 'k', '"', ':', 0xc3, '7', '}'),
      raw(0xff) ++ b("""{"k":7}""").get, raw('{', '"', 'k', 0xff, '"', ':', '7', '}'),
      raw(0xc3, 0x28), raw(0xed, 0xa0, 0x80)).map(Some(_))

  /** `n` seeded mutations of `seeds`: one to three byte inserts,
    * replacements or deletions from an alphabet of JSON punctuation,
    * digits, whitespace, the field's letter and a few bytes that are not
    * ASCII or not UTF-8. */
  def fuzz(seeds: Seq[Array[Byte]], n: Int): Seq[Option[Array[Byte]]] = {
    val alphabet = raw('{', '}', '"', ':', ',', '-', '+', '.', 'e', 'k', 'K', ' ', '\t',
      '\n', '0', '0', '1', '5', '9', '9', 0xc3, 0xff, 0)
    val r = new scala.util.Random(13)
    val pool = seeds.filter(_.nonEmpty).toIndexedSeq
    Seq.fill(n) {
      val buf = pool(r.nextInt(pool.size)).toBuffer
      (0 until 1 + r.nextInt(3)).foreach { _ =>
        val at = r.nextInt(buf.size + 1)
        val c = alphabet(r.nextInt(alphabet.length))
        r.nextInt(3) match {
          case 0 => buf.insert(at, c)
          case 1 => if (at < buf.size) buf(at) = c
          case _ => if (at < buf.size && buf.size > 1) buf.remove(at)
        }
      }
      Some(buf.toArray)
    }
  }

  def show(in: Option[Array[Byte]]): String =
    in.fold("null")(a => a.map(x => if (x >= 0x20 && x < 0x7f) x.toChar.toString
      else f"\\x$x%02x").mkString("'", "", "'"))

  /** A value or the class of the innermost exception behind it. */
  def outcome[A](f: => A): Either[String, A] =
    try Right(f) catch {
      case e: Exception =>
        var root: Throwable = e
        while (root.getCause != null && root.getCause != root) root = root.getCause
        Left(root.getClass.getName)
    }

  private def intAt(row: InternalRow): Any = if (row.isNullAt(0)) null else row.getInt(0)

  def kernels(p: LogicalPlan): Int =
    p.collectWithSubqueries { case node => node.expressions.map(_.collect {
      case j: JsonIntField => j }.size).sum }.sum

  /** Spark's `cast(get_json_object(s, '$.k') as int)` as the analyzer
    * builds it under the given ANSI setting, and the rule's rewrite of
    * it, both bound to a one-string row. */
  def boundPair(ansi: Boolean): (Expression, Expression) = {
    val spark = SparkSpec.session
    withConf("spark.sql.ansi.enabled" -> ansi.toString) {
      val empty = spark.createDataFrame(java.util.List.of[Row](),
        new StructType().add("s", StringType))
      val analyzed = empty.select(get_json_object(col("s"), "$.k").cast("int"))
        .queryExecution.analyzed
      def bound(p: LogicalPlan): Expression = p match {
        case Project(Seq(Alias(e, _)), child) => BindReferences.bindReference(e, child.output)
        case other => throw new IllegalStateException(other.toString)
      }
      (bound(analyzed), bound(RewriteJsonIntField(analyzed)))
    }
  }

  /** `inputs` as a one-column query the optimizer cannot fold: a range
    * indexes an array literal, so the projection runs in tasks. */
  def frame(inputs: Seq[Option[Array[Byte]]]): DataFrame =
    SparkSpec.session.range(inputs.size)
      .select(element_at(typedLit(inputs.map(_.orNull)), col("id").cast("int") + 1)
        .cast("string").as("s"))
      .select(get_json_object(col("s"), "$.k").cast("int").as("k"))
}
