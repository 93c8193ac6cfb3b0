package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextFuns
import graft.sources.Tables

/** The native text-hash expressions must be BIT-IDENTICAL to the
  * higher-order-function formulations they replace — the DuckDB oracles
  * were written against the HOF arithmetic. */
class TextHashExprSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sfDir)

  test("minhash_slices matches the transform+array_min HOF formulation") {
    graft.plans.GraftFunctions.register(spark)
    val base = docs.filter(length(TextFuns.norm(col("text"))) >= 8)
      .select(col("doc_id"), TextFuns.norm(col("text")).as("t"))
    val hof = base
      .withColumn("md5s", expr(
        "transform(sequence(0, length(t) - 8), " +
          "p -> md5(cast(substring(t, p + 1, 8) as binary)))"))
      .select(col("doc_id") +: (0 until 4).map(i =>
        array_min(transform(col("md5s"),
          h => substring(h, 8 * i + 1, 8))).as(s"mh$i")): _*)
    val native = base
      .select(col("doc_id"),
        call_function("minhash_slices", col("t"), lit(8)).as("sig"))
      .select(col("doc_id") +: (0 until 4).map(i =>
        col("sig").getItem(i).as(s"mh$i")): _*)
    assert(native.exceptAll(hof).count() == 0)
    assert(hof.exceptAll(native).count() == 0)
  }

  test("fingerprint_min matches the transform+array_min HOF formulation") {
    graft.plans.GraftFunctions.register(spark)
    val base = docs.filter(length(TextFuns.norm(col("text"))) >= 16)
      .select(col("doc_id"), TextFuns.norm(col("text")).as("t"))
    val hof = base.select(col("doc_id"),
      array_min(expr(
        "transform(sequence(0, length(t) - 16), " +
          "p -> md5(cast(substring(t, p + 1, 16) as binary)))")).as("fp"))
    val native = base.select(col("doc_id"),
      call_function("fingerprint_min", col("t"), lit(16)).as("fp"))
    assert(native.exceptAll(hof).count() == 0)
    assert(hof.exceptAll(native).count() == 0)
  }

  test("simhash_fp matches the explode+bit-sum aggregation formulation") {
    graft.plans.GraftFunctions.register(spark)
    import spark.implicits._
    // corpus rows PLUS adversarial token shapes: empty string, double
    // spaces (empty tokens), leading/trailing spaces, unicode
    val extra = Seq((9001L, "double  space"), (9002L, " leading"),
      (9003L, "trailing "), (9004L, ""), (9005L, "héllo wörld"))
      .toDF("doc_id", "text")
    val base = docs.select(col("doc_id"), col("text")).union(extra)
      .select(col("doc_id"), TextFuns.norm(col("text")).as("t"))
    for (bits <- Seq(16, 32, 64)) {
      val toks = base.select(col("doc_id"),
        explode(split(col("t"), " ")).as("tok"))
        .withColumn("h", md5(col("tok").cast("binary")))
      val sumExprs = (0 until bits).map(b =>
        sum(TextHashExprSpec.simhashWeight(col("h"), b)).as(s"s$b"))
      val hof = toks.groupBy(col("doc_id"))
        .agg(sumExprs.head, sumExprs.tail: _*)
        .select(col("doc_id"),
          (0 until bits).map(b =>
            when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
            .reduce(_ + _).as("simhash"))
      val native = base.select(col("doc_id"),
        call_function("simhash_fp", col("t"), lit(bits)).as("simhash"))
      assert(native.exceptAll(hof).count() == 0, s"bits=$bits")
      assert(hof.exceptAll(native).count() == 0, s"bits=$bits")
    }
  }

  test("q_dedup_simhash fingerprint map plans zero shuffles") {
    val df = graft.operators.DedupOps.simhashFingerprints(docs, bits = 16)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Exchange") ||
      // the deliberate spread() repartition is the only allowed Exchange
      p.linesIterator.count(_.matches("""\(\d+\) Exchange.*""")) <= 1, p)
    assert(!p.contains("Generate"), p) // no explode anywhere
  }

  test("utf8_nfc: composes decomposed sequences, idempotent, codegen ≡ eval") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, call_function}
    graft.plans.GraftFunctions.register(spark)
    val decomposed = "cafe\u0301 u\u0308ber" // e+combining acute, u+combining diaeresis
    val composed = "caf\u00e9 \u00fcber"
    val cases = Seq(
      (1L, decomposed), (2L, composed), (3L, "plain ascii"),
      (4L, "emoji \ud83d\ude00 e\u0301"), // supplementary char + combining
      (5L, ""))
    val out = cases.toDF("id", "s")
      .select(col("id"), call_function("utf8_nfc", col("s")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == composed, "decomposed must compose")
    assert(out(2L) == composed, "already-composed passes through")
    assert(out(3L) == "plain ascii")
    assert(out(4L) == "emoji \ud83d\ude00 \u00e9",
      "supplementary chars survive, trailing combining composes")
    assert(out(5L) == "")
    // idempotence + interpreted-eval parity with the codegen result
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    cases.foreach { case (id, s) =>
      val interp = graft.plans.Utf8Nfc(
        Literal(UTF8String.fromString(s),
          org.apache.spark.sql.types.StringType)).eval(null).toString
      assert(interp == out(id), s"interp parity for <$s>")
      assert(graft.plans.UnicodeCodec.nfc(
        UTF8String.fromString(interp)).toString == interp, "idempotent")
    }
    // null in → null out
    val nullOut = Seq((0L, null: String)).toDF("id", "s")
      .select(call_function("utf8_nfc", col("s"))).collect().head
    assert(nullOut.isNullAt(0))
    // the q_normalize face: known doc arithmetic (doc 5: 2 cafés + 1 über
    // → 3 compositions, each one char shorter)
    val docs = Seq((5L, "x")).toDF("doc_id", "text")
    val n = graft.operators.TextOps.normalize(docs).collect().head
    assert(n.getAs[Long]("n_chars_raw") - n.getAs[Long]("n_chars_nfc") == 3)
    assert(n.getAs[Boolean]("changed"))
    assert(n.getAs[String]("text_nfc") == "x caf\u00e9 caf\u00e9 \u00fcber")
    // doc 6 receives ONLY the U+212B ANGSTROM SIGN injection (6%3=0,
    // 6%2=0, 6%5=1) \u2014 an NFC SINGLETON substitution (\u2192 U+00C5) that
    // preserves length: `changed` must still read true (the round-12
    // length-based flag would have missed it)
    val n6 = graft.operators.TextOps.normalize(
      Seq((6L, "x")).toDF("doc_id", "text")).collect().head
    assert(n6.getAs[Long]("n_chars_raw") == n6.getAs[Long]("n_chars_nfc"),
      "singleton substitution preserves length")
    assert(n6.getAs[Boolean]("changed"),
      "length-preserving rewrite must still flag changed")
    assert(n6.getAs[String]("text_nfc") == "x \u00c5")
  }

  test("text-hash expressions survive both codegen and interpreted eval") {
    import graft.plans.{FingerprintMin, MinhashSlices}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val t = Literal(UTF8String.fromString("the quick brown fox jumps"),
      org.apache.spark.sql.types.StringType)
    val mh = MinhashSlices(t, 8)
    val fp = FingerprintMin(t, 16)
    // interpreted path
    val mhEval = mh.eval(null).asInstanceOf[
      org.apache.spark.sql.catalyst.util.ArrayData]
    assert(mhEval.numElements() == 4)
    (0 until 4).foreach(i =>
      assert(mhEval.getUTF8String(i).toString.matches("[0-9a-f]{8}")))
    assert(fp.eval(null).asInstanceOf[UTF8String]
      .toString.matches("[0-9a-f]{32}"))
    // short input → null, not a bogus partial shingle
    val short = Literal(UTF8String.fromString("hi"),
      org.apache.spark.sql.types.StringType)
    assert(MinhashSlices(short, 8).eval(null) == null)
    assert(FingerprintMin(short, 16).eval(null) == null)
    // non-ASCII path agrees with the character-shingle contract: the
    // shingle is by CODEPOINT, like Spark substring
    val uni = Literal(UTF8String.fromString("héllo wörld çafé à"),
      org.apache.spark.sql.types.StringType)
    val uniEval = MinhashSlices(uni, 8).eval(null)
    assert(uniEval != null)
  }

  test("non-ASCII text hashes identically to the HOF formulation") {
    graft.plans.GraftFunctions.register(spark)
    import spark.implicits._
    val uni = Seq((1L, "héllo wörld çafé àccents över ünïcode"),
      (2L, "ASCII only text for the control row"))
      .toDF("doc_id", "t")
    val hof = uni.select(col("doc_id"),
      array_min(expr(
        "transform(sequence(0, length(t) - 8), " +
          "p -> md5(cast(substring(t, p + 1, 8) as binary)))")).as("m"))
    val native = uni.select(col("doc_id"),
      call_function("minhash_slices", col("t"), lit(8)).getItem(0).as("m0"))
    val h = hof.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val n = native.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // HOF min is over FULL 32-char md5 hex; native slice 0 is the min of
    // the FIRST-8-char slices — compare on the recomputed slice minima
    val hofSlice0 = uni.withColumn("md5s", expr(
        "transform(sequence(0, length(t) - 8), " +
          "p -> md5(cast(substring(t, p + 1, 8) as binary)))"))
      .select(col("doc_id"),
        array_min(transform(col("md5s"), x => substring(x, 1, 8))).as("m0"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(n == hofSlice0, s"native $n vs hof $hofSlice0 (full-min was $h)")
  }

  test("collect_set_capped: exact below the cap, saturated-and-droppable above") {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    // key "cold": 5 distinct values (≤ cap) with repeats, spread over
    // many partitions so merge() paths run; key "hot": 100 distinct (> cap)
    val rows = (1L to 5L).flatMap(v => Seq(("cold", v), ("cold", v))) ++
      (1L to 100L).map(v => ("hot", v))
    val df = rows.toDF("k", "v").repartition(16)
      .groupBy("k")
      .agg(call_function("collect_set_capped", col("v"), lit(8)).as("ds"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    // exact set (dedup'd) for the cold key
    assert(df("cold").sorted == (1L to 5L), df("cold").toString)
    // hot key saturates just past the cap — proof it never built the
    // full 100-element set — and fails a size <= cap filter
    assert(df("hot").length == 9, df("hot").length.toString)
    assert(df("hot").distinct.length == 9)
  }
}

object TextHashExprSpec {

  /** SimHash ±1 weight for bit `b` of a token: bits 0-31 test the parity
    * (low bit) of hex digit `b` of the token's md5; bits 32-63 test the
    * SECOND bit of hex digit `b−32` — two independent bit planes from one
    * digest. SUM of these over a doc's tokens is the signed bit weight —
    * exact integer math, identical to the oracle's
    * `strpos('13579bdf'|'2367abef', digit) > 0` tests. The declarative
    * reference the native `simhash_fp` is compared against. */
  def simhashWeight(tokenMd5Hex: Column, b: Int): Column = {
    require(b >= 0 && b <= 63, s"simhash bit $b out of the two md5 bit planes")
    val digitsWithBitSet = // hex digits whose bit (b >>> 5) is set
      if (b < 32) Seq("1", "3", "5", "7", "9", "b", "d", "f")
      else Seq("2", "3", "6", "7", "a", "b", "e", "f")
    when(substring(tokenMd5Hex, (b & 31) + 1, 1)
      .isin(digitsWithBitSet: _*), lit(1))
      .otherwise(lit(-1))
  }
}
