package graft

import java.nio.file.Paths

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, AttributeReference, BRound, BoundReference, Cast, Expression, Literal, Round, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, DoubleType, FloatType, IntegerType, LongType}

import graft.functions.VectorFuns
import graft.plans.{DenseFloats, FloatDot, FloatNorm, GraftFunctions, HalfUp, HalfUpRound, RewriteDoubleRound}
import graft.sources.Tables

/** The native codegen expressions must be BIT-IDENTICAL to the HOF
  * formulation (same sequential double fold) — the oracle parity of every
  * cosine-based query depends on it. The same holds for the double
  * `round` kernel against Spark's own `Round`. */
class FloatVectorExprSpec extends SparkSpec {
  import FloatVectorExprSpec._

  test("FloatDot / FloatNorm match the higher-order-function arithmetic exactly") {
    GraftFunctions.register(spark)
    // exclude the rewrite rule so the HOF side really runs the HOF fold
    // (RewriteHofVectorOps would otherwise turn both sides native)
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "graft.plans.RewriteHofVectorOps")
    try {
      val e = Tables.embeddings(spark, sfDir)
      val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        .limit(500)
        .select(
          VectorFuns.dot(col("a.embedding"), col("b.embedding")).as("hof_dot"),
          VectorFuns.dotNative(col("a.embedding"), col("b.embedding")).as("nat_dot"),
          VectorFuns.l2norm(col("a.embedding")).as("hof_norm"),
          VectorFuns.l2normNative(col("a.embedding")).as("nat_norm"))
      // the exclusion must actually have kept the HOF fold in the plan
      val p = pairs.queryExecution.optimizedPlan.toString
      assert(p.contains("aggregate("), p)
      assert(pairs.filter(col("hof_dot") =!= col("nat_dot")).count() == 0)
      assert(pairs.filter(col("hof_norm") =!= col("nat_norm")).count() == 0)
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  test("RewriteHofVectorOps turns the HOF dot/norm into native expressions") {
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sfDir)
    val df = e.select(
      VectorFuns.dot(col("embedding"), col("embedding")).as("d"),
      VectorFuns.l2norm(col("embedding")).as("n"))
    val p = df.queryExecution.optimizedPlan.toString
    assert(p.contains("float_dot"), p)
    assert(p.contains("float_norm"), p)
    assert(!p.contains("zip_with"), p)
    // and the rewritten plan computes the same values as the native calls
    val direct = e.select(
      VectorFuns.dotNative(col("embedding"), col("embedding")).as("d"),
      VectorFuns.l2normNative(col("embedding")).as("n"))
    assert(df.exceptAll(direct).count() == 0)
  }

  test("RewriteHofVectorOps rewrites the HOF pattern written in raw SQL text") {
    GraftFunctions.register(spark)
    Tables.embeddings(spark, sfDir).createOrReplaceTempView("emb_hof")
    val df = spark.sql(
      """SELECT vec_id,
        |  aggregate(zip_with(embedding, embedding,
        |    (x, y) -> cast(x as double) * cast(y as double)),
        |    cast(0.0 as double), (acc, v) -> acc + v) AS d
        |FROM emb_hof""".stripMargin)
    val p = df.queryExecution.optimizedPlan.toString
    assert(p.contains("float_dot"), p)
  }

  test("RewriteHofVectorOps leaves non-matching folds untouched") {
    import spark.implicits._
    // double arrays (not float): must NOT rewrite — FloatDot reads floats
    val dd = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
    val df = dd.select(aggregate(
      zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v).as("d"))
    val p = df.queryExecution.optimizedPlan.toString
    assert(!p.contains("float_dot"), p)
    assert(df.head().getDouble(0) == 11.0)
    // non-zero seed: must NOT rewrite
    val e = Tables.embeddings(spark, sfDir).limit(5)
    val seeded = e.select(aggregate(
      zip_with(col("embedding"), col("embedding"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(1.0), (acc, v) => acc + v).as("d"))
    assert(!seeded.queryExecution.optimizedPlan.toString.contains("float_dot"))
  }

  test("edge inputs match the HOF: unequal lengths and null elements → NULL") {
    GraftFunctions.register(spark)
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "graft.plans.RewriteHofVectorOps")
    try {
      import spark.implicits._
      val df = Seq(
        (Array[java.lang.Float](1f, 2f), Array[java.lang.Float](3f)),      // unequal
        (Array[java.lang.Float](1f, null), Array[java.lang.Float](3f, 4f)), // null elem
        (Array[java.lang.Float](1f, 2f), Array[java.lang.Float](3f, 4f))   // clean
      ).toDF("a", "b")
      val r = df.select(
        VectorFuns.dot(col("a"), col("b")).as("hof"),
        VectorFuns.dotNative(col("a"), col("b")).as("nat"),
        VectorFuns.l2norm(col("a")).as("hof_n"),
        VectorFuns.l2normNative(col("a")).as("nat_n")).collect()
      r.foreach { row =>
        assert(row.isNullAt(0) == row.isNullAt(1), row.toString)
        assert(row.isNullAt(2) == row.isNullAt(3), row.toString)
        if (!row.isNullAt(0)) assert(row.getDouble(0) == row.getDouble(1))
        if (!row.isNullAt(2)) assert(row.getDouble(2) == row.getDouble(3))
      }
      assert(r(0).isNullAt(1) && r(1).isNullAt(1) && !r(2).isNullAt(1))
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  test("rp_band_keys matches the declarative round/cast formulation bit-for-bit") {
    GraftFunctions.register(spark)
    import graft.plans.RpLsh
    // The native expression replicates Spark round's shortest-decimal
    // HALF_UP quantization in Scala; this builds the same keys out of
    // Spark's OWN round()/cast/sum expressions — if the two ever drift,
    // the q_dedup_embedding_rp oracle drifts with them. RewriteDoubleRound
    // is excluded so the declarative side really runs Spark's Round.
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "graft.plans.RewriteDoubleRound")
    try {
      val e = Tables.embeddings(spark, sfDir)
        .withColumn("qv", transform(col("embedding"),
          v => round(v.cast("double") * lit(1e6), 0).cast("long")))
      def declaredKey(band: Int) =
        (0 until RpLsh.BitsPerBand).map { i =>
          val dot = RpLsh.planes(band * RpLsh.BitsPerBand + i).zipWithIndex
            .map { case (cf, d) => lit(cf) * element_at(col("qv"), d + 1) }
            .reduce(_ + _)
          when(dot > 0, lit(1 << i)).otherwise(lit(0))
        }.reduce(_ + _).cast("int")
      val df = e.select(
        call_function("rp_band_keys", col("embedding")).as("nat"),
        array((0 until RpLsh.Bands).map(declaredKey): _*).as("dec"))
      assert(kernels(df.queryExecution.optimizedPlan) == 0)
      assert(df.filter(col("nat") =!= col("dec")).count() == 0)
      assert(df.count() > 0)
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  test("native expressions survive both codegen and interpreted eval") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b")
    val r = df.select(
      VectorFuns.dotNative(col("a"), col("b")).as("d"),
      VectorFuns.l2normNative(col("a")).as("n")).head()
    assert(r.getDouble(0) == 32.0)
    assert(math.abs(r.getDouble(1) - math.sqrt(14.0)) < 1e-15)
    // interpreted path (no codegen)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val r2 = df.select(VectorFuns.dotNative(col("a"), col("b"))).head()
      assert(r2.getDouble(0) == 32.0)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("HalfUp.round equals Spark's interpreted Round bit for bit, every scale and edge value") {
    val scales = -3 to 16
    var checked = 0
    for (s <- scales; x <- roundValues(s)) {
      val want = Round(Literal(x), Literal(s)).eval()
      val kernel = HalfUpRound(Literal(x), s).eval()
      assert(bits(kernel) == bits(want), s"round($x, $s): $kernel vs Spark $want")
      assert(bits(HalfUp.round(x, s)) == bits(want), s"HalfUp.round($x, $s)")
      checked += 1
    }
    assert(checked > 100000, checked)
    // the integer form RpLsh.q6 uses: CAST(round(x) AS BIGINT) below 2^52
    val r = new scala.util.Random(6)
    val q6Domain = Seq.fill(20000)(r.nextGaussian().toFloat.toDouble * 1e6) ++
      roundValues(0).filter(x => !x.isNaN && !x.isInfinite && math.abs(x) < 4.5e15)
    q6Domain.foreach { x =>
      val want = Cast(Round(Literal(x), Literal(0)), LongType).eval()
      assert(HalfUp.roundToLong(x) == want, s"roundToLong($x)")
    }
  }

  test("the rewritten round matches Spark's codegen'd Round in a spark.range projection") {
    val values = Seq(0, 2, 6, 9, 15).flatMap(roundValues).toArray
    val scales = Seq(0, 1, 2, 6, 9, 15, -2, 16)
    def run(): (Array[Array[Long]], Int) = {
      val df = spark.range(values.length).select(
        element_at(typedLit(values), col("id").cast("int") + 1).as("x"))
        .select(col("x") +: scales.map(s => round(col("x"), s).as(s"r$s")): _*)
      val exec = df.queryExecution.executedPlan
      assert(exec.exists(_.isInstanceOf[WholeStageCodegenExec]), exec.toString)
      (df.collect().map(row => Array.tabulate(row.length)(i =>
        java.lang.Double.doubleToRawLongBits(row.getDouble(i)))),
        kernels(df.queryExecution.optimizedPlan))
    }
    val (rewritten, rewrittenKernels) = run()
    assert(rewrittenKernels == scales.length)
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "graft.plans.RewriteDoubleRound")
    val (sparks, sparkKernels) =
      try run() finally spark.conf.unset("spark.sql.optimizer.excludedRules")
    assert(sparkKernels == 0)
    assert(rewritten.length == values.length)
    rewritten.zip(sparks).foreach { case (a, b) =>
      val x = java.lang.Double.longBitsToDouble(a(0))
      assert(a.toSeq == b.toSeq, s"x = $x")
      scales.zipWithIndex.foreach { case (s, i) =>
        assert(a(i + 1) == java.lang.Double.doubleToRawLongBits(HalfUp.round(x, s)),
          s"round($x, $s)")
      }
    }
  }

  test("dense and element-loop dot/norm agree on unsafe, generic, null and unequal arrays") {
    val r = new scala.util.Random(11)
    def floats(n: Int) = Array.fill(n)(r.nextGaussian().toFloat)
    def unsafe(a: Array[Float], nulls: Int*): UnsafeArrayData = {
      val u = UnsafeArrayData.fromPrimitiveArray(a)
      nulls.foreach(u.setNullAt)
      u
    }
    def generic(a: Array[Float], nulls: Int*): ArrayData =
      new GenericArrayData(a.indices.map(i =>
        if (nulls.contains(i)) null else a(i): Any).toArray)
    val cases: Seq[(String, ArrayData, ArrayData)] =
      Seq(0, 1, 7, 63, 64, 65, 130).flatMap { n =>
        val (a, b) = (floats(n), floats(n))
        val last = n - 1
        Seq((s"dense $n", unsafe(a), unsafe(b)),
          (s"generic $n", generic(a), generic(b)),
          (s"unsafe x generic $n", unsafe(a), generic(b))) ++
        (if (n == 0) Nil else Seq(
          (s"null at 0 of $n", unsafe(a, 0), unsafe(b)),
          (s"null at the end of $n", unsafe(a), unsafe(b, last)),
          (s"null at ${last / 2} of $n", unsafe(a, last / 2), unsafe(b, last / 2)),
          (s"generic null of $n", generic(a, last), generic(b)),
          (s"unequal $n", unsafe(a), unsafe(floats(n + 1)))))
      }
    assert(DenseFloats.isDense(cases.head._2) && !DenseFloats.isDense(cases(1)._2))
    val t = ArrayType(FloatType)
    val dotCodegen = GenerateUnsafeProjection.generate(Seq[Expression](
      FloatDot(BoundReference(0, t, true), BoundReference(1, t, true)),
      FloatNorm(BoundReference(0, t, true))))
    cases.foreach { case (name, a, b) =>
      val wantDot = loopDot(a, b)
      val wantNorm = loopDot(a, a).map(math.sqrt)
      val interpreted = (Option(FloatDot(Literal(a, t), Literal(b, t)).eval()),
        Option(FloatNorm(Literal(a, t)).eval()))
      val row = dotCodegen(InternalRow(a, b))
      val generated = (if (row.isNullAt(0)) None else Some(row.getDouble(0)),
        if (row.isNullAt(1)) None else Some(row.getDouble(1)))
      Seq(interpreted, generated).foreach { case (dot, norm) =>
        assert(dot.map(bits) == wantDot.map(bits), s"$name: dot $dot vs $wantDot")
        assert(norm.map(bits) == wantNorm.map(bits), s"$name: norm $norm vs $wantNorm")
      }
    }
    assert(cases.count { case (_, a, b) => loopDot(a, b).isEmpty } >= 30)
  }

  test("RewriteDoubleRound reaches a double round inside a lambda and leaves the rest to Spark") {
    val e = Tables.embeddings(spark, sfDir)
    val q6 = e.select(transform(col("embedding"),
      v => round(v.cast("double") * lit(1e6)).cast("long")).as("q"))
    assert(kernels(q6.queryExecution.optimizedPlan) == 1,
      q6.queryExecution.optimizedPlan)
    // a range, not a local Seq: ConvertToLocalRelation would evaluate a
    // projection over local rows before the rule ever saw it
    val x25 = col("id") + 0.25
    val mixed = spark.range(3).select(round(x25.cast("float"), 1),
      round(x25.cast("decimal(10,2)"), 1), bround(x25, 1), round(x25, 1))
    val plan = mixed.queryExecution.optimizedPlan
    assert(kernels(plan) == 1, plan)
    assert(count(plan, { case _: Round => true }) == 2, plan)
    assert(count(plan, { case _: BRound => true }) == 1, plan)
    assert(mixed.schema.map(_.dataType).take(3).map(_.typeName) ==
      Seq("float", DecimalType(10, 1).typeName, "double"))
    // a scale that is not an integer literal (ConstantFolding would fold
    // this one, so the rule sees it alone) and a null literal scale
    val x = AttributeReference("x", DoubleType)()
    Seq[Expression](Add(Literal(3), Literal(3)), Literal(null, IntegerType),
      Literal(2.0f)).foreach { scale =>
      val p = Project(Seq(Alias(Round(x, scale), "r")()), LocalRelation(x))
      assert(RewriteDoubleRound(p) eq p, scale)
    }
    val hit = Project(Seq(Alias(Round(x, Literal(6)), "r")(),
      Alias(BRound(x, Literal(6)), "b")()), LocalRelation(x))
    assert(kernels(RewriteDoubleRound(hit)) == 1)
  }

  test("BigDecimal half-up rounding is written in src/main only in the HalfUp kernel") {
    val kernel = Paths.get("src/main/scala/graft/plans/HalfUpRound.scala")
    val sources = SourceScan.files("src/main")
    assert(sources.size > 50, s"scan found only ${sources.size} files")
    val sites = SourceScan.sites(sources, """setScale\(|HALF_UP""")
    assert(sites.exists(_.startsWith(kernel.toString + ":")), sites.mkString("\n"))
    assert(sites.forall(_.startsWith(kernel.toString + ":")), sites.mkString("\n"))
  }
}

object FloatVectorExprSpec {
  def count(p: LogicalPlan, f: PartialFunction[Expression, Boolean]): Int =
    p.expressions.map(_.collect { case e if f.isDefinedAt(e) && f(e) => 1 }.sum).sum +
      p.children.map(count(_, f)).sum

  def kernels(p: LogicalPlan): Int = count(p, { case _: HalfUpRound => true })

  /** Raw bits, so -0.0 / +0.0 and NaN payloads count. */
  def bits(v: Any): Long = java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double])

  /** The element loop every dot must equal: null on unequal lengths or a
    * null element, else the left-to-right double fold. */
  def loopDot(a: ArrayData, b: ArrayData): Option[Double] =
    if (a.numElements() != b.numElements()) None
    else {
      var acc = 0.0
      for (i <- 0 until a.numElements()) {
        if (a.isNullAt(i) || b.isNullAt(i)) return None
        acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      }
      Some(acc)
    }

  /** Doubles for `round(x, scale)`: random values over many magnitudes,
    * the ties (k + 0.5) / 10^scale with two nextUp / nextDown steps either
    * side, decimal strings ending in 5 at that scale, and the edges
    * (±0, ±1e300, subnormals, 2^52 ± ½, NaN, ±Inf). */
  def roundValues(scale: Int): Seq[Double] = {
    val r = new scala.util.Random(1000 + scale)
    val p = math.pow(10, scale)
    val random = Seq.fill(1500)((r.nextDouble() * 2 - 1) *
      math.pow(10, r.nextInt(26) - 12))
    val ties = Seq.fill(300)((r.nextInt(100000) + 0.5) / p).flatMap { t =>
      val ups = Iterator.iterate(t)(math.nextUp).slice(1, 3).toSeq
      val downs = Iterator.iterate(t)(math.nextDown).slice(1, 3).toSeq
      t +: (ups ++ downs)
    }
    val fives = Seq.fill(200)(
      s"${r.nextInt(1000)}.${"0" * math.max(0, scale)}5".toDouble)
    val edges = Seq(0.0, 1e300, Double.MinPositiveValue, 2.2e-308,
      Double.MaxValue, 4503599627370495.5, 4503599627370496.0, 0.5, 1.5,
      2.5, 5e-7, 0.0049999999999999996, Double.NaN, Double.PositiveInfinity)
    (random ++ ties ++ fives ++ edges).flatMap(x => Seq(x, -x))
  }
}
