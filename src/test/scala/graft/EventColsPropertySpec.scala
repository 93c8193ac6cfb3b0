package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.functions.EventCols

/** Property tests (ScalaCheck generators): the Catalyst expressions in
  * EventCols must agree with a plain-Scala model on arbitrary inputs
  * (guards refactors of the derived geometry, which every events-operator
  * and its oracle depend on). */
class EventColsPropertySpec extends SparkSpec {

  private case class Model(value: Double, k: Int) {
    val x: Double = value % 120.0
    val y: Double = (k * 7 % 80).toDouble
    val x2: Double = (value + k.toDouble) % 120.0
    val y2: Double = (k * 13 % 80).toDouble
    val dx: Double = x2 - x
    val dy: Double = math.abs(y2 - y)
    def progressive: Boolean = dx >= 10.0 && dx > dy
    def finalThird: Boolean = x2 >= 80.0
    def penaltyArea: Boolean = x2 >= 102.0 && y2 >= 18.0 && y2 <= 62.0
    def deep: Boolean = {
      val gx = 120.0 - x2; val gy = 40.0 - y2
      math.sqrt(gx * gx + gy * gy) <= 20.0
    }
    def switch: Boolean = dy >= 40.0
    // exact-reference formulations (extended.py:110-177)
    def deepExact: Boolean = math.max(0.0, 120.0 - x2) < 20.0
    def switchExact: Boolean =
      dy >= 40.0 && math.sqrt(dx * dx + dy * dy) >= 30.0
    def prog30Exact: Boolean = {
      val distStart = math.max(0.0, 120.0 - x)
      val distEnd = math.max(0.0, 120.0 - x2)
      dx >= 10.0 && distStart > 0.0 && (distStart - distEnd) >= distStart * 0.3
    }
  }

  test("derived geometry matches the Scala model on arbitrary inputs") {
    import spark.implicits._
    val cases = Gen.listOfN(300, for {
      v <- Gen.choose(0.0, 500.0).map(d => math.rint(d * 100) / 100) // 2dp like data
      k <- Gen.choose(0, 99)
    } yield (v, k)).sample.get
    val df = cases.toDF("value", "k0")
      .withColumn("props", concat(lit("{\"k\": "), col("k0"), lit("}")))
      .withColumn("event_id", monotonically_increasing_id())
    val got = EventCols.withGeometry(df)
      .select(col("value"), col("k0"),
        col("x"), col("y"), col("x2"), col("y2"),
        EventCols.isProgressive.as("prog"),
        EventCols.isFinalThird.as("ft"),
        EventCols.isPenaltyArea.as("pa"),
        EventCols.isDeepCompletion.as("deep"),
        EventCols.isSwitch.as("sw"),
        EventCols.isDeepCompletionExact.as("deep_x"),
        EventCols.isSwitchExact.as("sw_x"),
        EventCols.isProgressive30Exact.as("p30_x"))
      .collect()
    got.foreach { r =>
      val m = Model(r.getDouble(0), r.getInt(1))
      assert(r.getDouble(2) == m.x && r.getDouble(3) == m.y, s"start $m")
      assert(r.getDouble(4) == m.x2 && r.getDouble(5) == m.y2, s"end $m")
      assert(r.getBoolean(6) == m.progressive, s"prog $m")
      assert(r.getBoolean(7) == m.finalThird, s"ft $m")
      assert(r.getBoolean(8) == m.penaltyArea, s"pa $m")
      assert(r.getBoolean(9) == m.deep, s"deep $m")
      assert(r.getBoolean(10) == m.switch, s"switch $m")
      assert(r.getBoolean(11) == m.deepExact, s"deepExact $m")
      assert(r.getBoolean(12) == m.switchExact, s"switchExact $m")
      assert(r.getBoolean(13) == m.prog30Exact, s"prog30Exact $m")
    }
  }

  test("simhash weight parity matches Long.bitCount-style parity for arbitrary tokens") {
    import spark.implicits._
    val toks = Gen.listOfN(100, Gen.alphaLowerStr.suchThat(_.nonEmpty))
      .sample.getOrElse(List("a", "bc", "def"))
    val df = toks.toDF("tok")
      .withColumn("h", md5(col("tok").cast("binary")))
    val got = df.select(col("h"),
      TextHashExprSpec.simhashWeight(col("h"), 0).as("w0")).collect()
    got.foreach { r =>
      val digit = Integer.parseInt(r.getString(0).substring(0, 1), 16)
      val expected = if (digit % 2 == 1) 1 else -1
      assert(r.getInt(1) == expected, r.getString(0))
    }
  }
}
