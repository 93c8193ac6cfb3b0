package graft

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

/** Semantic invariants for the event-analytics operators (sf0.001). */
class EventOpsSpec extends SparkSpec {

  private def events = Tables.events(spark, sfDir)

  test("eventScan filters to one user+type and projects") {
    val df = EventOps.eventScan(events)
    assert(df.columns.toSeq == Seq("event_id", "ts", "user_id", "value"))
    val rows = df.collect()
    assert(rows.forall(_.getLong(2) == 42L))
  }

  test("matchStats counters sum to n_events and rates bounded") {
    val df = EventOps.matchStats(events).cache()
    assert(df.count() > 0)
    val bad = df.filter(
      col("n_click") + col("n_view") + col("n_purchase") +
        col("n_error") + col("n_signup") =!= col("n_events")).count()
    assert(bad == 0)
    assert(df.filter(col("purchase_rate") < 0 || col("purchase_rate") > 1).count() == 0)
  }

  test("summary is a single global row consistent with raw counts") {
    val row = EventOps.summary(events).collect().head
    assert(row.getAs[Long]("n_events") == events.count())
  }

  test("per90 minutes clamped to [10, 95]") {
    val df = EventOps.per90(events)
    assert(df.filter(col("minutes") < 10.0 || col("minutes") > 95.0).count() == 0)
  }

  test("percentile pct in (0, 100]") {
    val df = StatsOps.percentile(events)
    assert(df.filter(col("pct") <= 0.0 || col("pct") > 100.0).count() == 0)
  }

  test("topN returns at most 20 in non-increasing order") {
    val vals = StatsOps.topN(events).collect().map(_.getAs[Double]("purchase_value"))
    assert(vals.length <= 20)
    assert(vals.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
  }

  test("heatmap2d bins within 48x32 grid and counts sum to input") {
    val df = StatsOps.heatmap2d(events).cache()
    assert(df.filter(col("bx") < 0 || col("bx") > 47 || col("by") < 0 || col("by") > 31).count() == 0)
    val total = df.agg(sum("n")).collect().head.getLong(0)
    assert(total == events.filter(col("event_type") === "click").count())
  }

  test("hist1d bin counts sum to input rows") {
    val df = StatsOps.hist1d(events)
    assert(df.agg(sum("n")).collect().head.getLong(0) == events.count())
  }

  test("trend ma7 equals n_purchase where only one day exists in frame") {
    val first = StatsOps.trend(events)
      .filter(col("day") === to_date(lit("2024-01-01"))).collect()
    assert(first.forall(r =>
      r.getAs[Double]("ma7") == r.getAs[Long]("n_purchase").toDouble))
  }

  test("positionCounts yields one row per user") {
    val df = StatsOps.positionCounts(events).cache()
    assert(df.count() == df.select("user_id").distinct().count())
  }

  test("radarNorm values within [0, 1]") {
    val df = StatsOps.radarNorm(events)
    val bad = Seq("click_norm", "purchase_norm", "value_norm").map(c =>
      df.filter(col(c) < 0.0 || col(c) > 1.0).count()).sum
    assert(bad == 0)
  }

  test("sessionize: intra-session gaps never exceed the threshold") {
    // duration <= (n_events - 1) * gap bounds every in-session gap.
    val df = SessionOps.sessionize(events)
    val bad = df.filter(
      col("duration_sec") * 1000000.0 >
        (col("n_events") - 1) * SessionOps.GapUs).count()
    assert(bad == 0)
  }

  test("windowAfter covers every error event exactly once") {
    val df = SessionOps.windowAfter(events)
    assert(df.count() == events.filter(col("event_type") === "error").count())
    assert(df.filter(col("n_after") < 0).count() == 0)
  }

  test("keyJoin credits at most one click per purchase") {
    val df = SessionOps.keyJoin(events)
    val totalAssists = df.agg(sum("n_assisted")).collect().head.getLong(0)
    assert(totalAssists <= events.filter(col("event_type") === "purchase").count())
  }

  test("pitchGeometry: progressive implies dx >= 10") {
    import graft.functions.EventCols
    val g = EventCols.withGeometry(events.filter(col("event_type") === "click"))
    val bad = g.filter(EventCols.isProgressive && col("dx") < 10.0).count()
    assert(bad == 0)
    assert(GeometryOps.pitchGeometry(events).count() ==
      events.filter(col("event_type") === "click").count())
  }

  test("passSegments ⊆ click events and all progressive") {
    val segs = GeometryOps.passSegments(events)
    assert(segs.filter(col("x2") - col("x") < 10.0).count() == 0)
  }

  test("receptions recipient ids stay in the user id space") {
    val df = GeometryOps.receptions(events)
    assert(df.filter(col("recipient_id") < 0 || col("recipient_id") > 149).count() == 0)
  }

  test("direction: n_right + n_left <= first-half clicks") {
    val df = EventOps.direction(events)
    assert(df.count() > 0)
  }

  test("tumbling counts sum to input rows") {
    val df = EventOps.tumbling(events)
    assert(df.agg(sum("n")).collect().head.getLong(0) == events.count())
  }

  test("funnel: single-shuffle window formulation equals the chained-join funnel") {
    val rows = SessionOps.funnel(events).collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("1_view", "2_click", "3_purchase"))
    val Seq(n1, n2, n3) = rows.map(_.getAs[Long]("n_users")).toSeq
    assert(n1 >= n2 && n2 >= n3) // a funnel can only narrow
    // independent chained-min-join formulation (the oracle's shape)
    import graft.functions.EventCols
    val e = events.select(col("user_id"), col("event_type"), EventCols.us)
    val s1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("t1"))
    val s2 = e.join(s1, "user_id")
      .filter(col("event_type") === "click" && col("us") > col("t1"))
      .groupBy("user_id").agg(min("us").as("t2"), min("t1").as("t1b"))
    val s3 = e.join(s2, "user_id")
      .filter(col("event_type") === "purchase" && col("us") > col("t2"))
      .groupBy("user_id").agg(min("us").as("t3"), min("t2").as("t2b"))
    assert(n1 == s1.count() && n2 == s2.count() && n3 == s3.count())
    assert(rows(1).getAs[Long]("sum_gap_us") ==
      s2.agg(coalesce(sum(col("t2") - col("t1b")), lit(0L))).collect().head.getLong(0))
    assert(rows(2).getAs[Long]("sum_gap_us") ==
      s3.agg(coalesce(sum(col("t3") - col("t2b")), lit(0L))).collect().head.getLong(0))
  }

  test("funnelLatency: planted gaps measure exactly; never-reached stage is null") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ev(id: Long, u: Long, min: Int, typ: String) =
      (id, new java.sql.Timestamp(t0.getTime + min * 60000L), u, typ, 1.0, "{}")
    // user 1: view@0 → click@7 (gap 7 min); user 2: view@0 → click@3;
    // nobody purchases → stage 3 all-null
    val planted = Seq(
      ev(1, 1L, 0, "view"), ev(2, 1L, 7, "click"),
      ev(3, 2L, 0, "view"), ev(4, 2L, 3, "click"),
      ev(5, 3L, 1, "click") // click with no prior view: qualifies nothing
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val rows = SessionOps.funnelLatency(planted).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("2_click", "3_purchase"))
    val c = rows(0)
    assert(c.getAs[Long]("n_users") == 2)
    assert(c.getAs[Long]("sum_gap_us") == 10L * 60 * 1000000)
    assert(c.getAs[Long]("min_gap_us") == 3L * 60 * 1000000)
    assert(c.getAs[Long]("max_gap_us") == 7L * 60 * 1000000)
    assert(c.getAs[Double]("avg_gap_us") == 5.0 * 60 * 1000000)
    val p = rows(1)
    assert(p.getAs[Long]("n_users") == 0 && p.isNullAt(2) && p.isNullAt(5))
    // real corpus: consistent with the funnel's own counts and sums
    val lat = SessionOps.funnelLatency(events).collect()
    val fun = SessionOps.funnel(events).collect()
    assert(lat.map(r => (r.getString(0), r.getAs[Long]("n_users"))).toSeq ==
      fun.drop(1).map(r => (r.getString(0), r.getAs[Long]("n_users"))).toSeq)
  }

  test("anomaly flags exactly the >3-sigma days (BigInt re-derivation)") {
    import graft.functions.EventCols
    val daily = events.groupBy(col("user_id"), EventCols.day)
      .agg((sum(col("value").cast(EventCols.d18)) * 100).cast("long").as("xc"))
      .collect()
      .map(r => (r.getLong(0), r.getAs[java.sql.Date]("day").toString, r.getLong(2)))
    val expected = daily.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val n = BigInt(rows.length)
      val s = rows.map(r => BigInt(r._3)).sum
      val q = rows.map(r => BigInt(r._3) * r._3).sum
      rows.toSeq.filter { r =>
        val a = n * r._3 - s
        a * a > 9 * (n * q - s * s)
      }.map(r => (u, r._2))
    }.toSet
    val got = StatsOps.anomaly(events).collect()
      .map(r => (r.getLong(0), r.getAs[java.sql.Date]("day").toString)).toSet
    assert(got == expected)
    // single-day users can never be flagged (both sides collapse to 0)
    val singleDay = daily.groupBy(_._1).filter(_._2.length == 1).keySet
    assert(got.forall { case (u, _) => !singleDay.contains(u) })
  }

  test("Tables.events normalizes every historical ts layout to TIMESTAMP_NTZ") {
    import org.apache.spark.sql.types.TimestampNTZType
    import spark.implicits._
    val utc = java.time.ZoneOffset.UTC
    val t = java.time.LocalDateTime.parse("2024-01-05T10:30:00")
    def readBack(write: String => Unit): org.apache.spark.sql.Row = {
      val dir = SparkSpec.tempDir("graft_layout")
        .toFile.getAbsolutePath
      write(s"$dir/events.parquet")
      val (df, jobs) = SparkSpec.jobsDuring(Tables.events(spark, dir))
      assert(jobs == 0, "building the frame must start no job")
      assert(df.schema("ts").dataType == TimestampNTZType, df.schema.treeString)
      df.select("ts").collect().head
    }
    // legacy nanos-as-long layout: sub-microsecond part truncates exactly
    val ns = t.toInstant(utc).getEpochSecond * 1000000000L + 123456789L
    val fromNanos = readBack(p =>
      Seq((1L, ns, 42L, "click", 1.0, """{"k": 5}"""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(p))
    assert(fromNanos.getAs[java.time.LocalDateTime]("ts") ==
      t.plusNanos(123456000L))
    // UTC-adjusted TIMESTAMP(MICROS) layout: instant → its UTC wall time
    val inst = t.toInstant(utc)
    val fromTz = readBack(p =>
      Seq((1L, java.sql.Timestamp.from(inst), 42L, "click", 1.0, """{"k": 5}"""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(p))
    assert(fromTz.getAs[java.time.LocalDateTime]("ts") == t)
    // current naive-micros (TIMESTAMP_NTZ) layout: passes through as stored
    val fromNtz = readBack(p =>
      Seq((1L, t, 42L, "click", 1.0, """{"k": 5}"""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(p))
    assert(fromNtz.getAs[java.time.LocalDateTime]("ts") == t)
  }

  test("Tables.events sets nanosAsLong only for a footer that stores TIMESTAMP(NANOS)") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.spark.sql.types.TimestampNTZType
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    def isSet = spark.sessionState.conf.getAllConfs.contains(key)
    val before = spark.sessionState.conf.getAllConfs.get(key)
    try {
      spark.conf.unset(key)
      // the current TIMESTAMP_NTZ layout leaves the caller's session alone
      Tables.events(spark, sfDir).schema
      assert(!isSet)
      // an INT64 TIMESTAMP(NANOS) footer needs it, and reads truncated to micros
      val dir = SparkSpec.tempDir("graft_nanos").toFile.getAbsolutePath
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 event_id; " +
          "required int64 ts (TIMESTAMP(NANOS,false)); }")
      val writer = ExampleParquetWriter
        .builder(new Path(s"$dir/events.parquet/part-0.parquet"))
        .withType(schema).build()
      val ns = 1704450600L * 1000000000L + 123456789L // 2024-01-05T10:30:00.123456789
      try writer.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", 1L).append("ts", ns))
      finally writer.close()
      val df = Tables.events(spark, dir)
      assert(isSet)
      assert(df.schema("ts").dataType == TimestampNTZType)
      assert(df.select("ts").head().getAs[java.time.LocalDateTime](0) ==
        java.time.LocalDateTime.parse("2024-01-05T10:30:00.123456"))
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("funnel generalizes: 2-step and 4-step chains stay consistent") {
    // 2-step error → view: verify against a direct computation
    val two = SessionOps.funnel(events, Seq("error", "view")).collect()
    assert(two.map(_.getString(0)).toSeq == Seq("1_error", "2_view"))
    import graft.functions.EventCols
    val e = events.select(col("user_id"), col("event_type"), EventCols.us)
    val firstErr = e.filter(col("event_type") === "error")
      .groupBy("user_id").agg(min("us").as("t1"))
    val converted = e.join(firstErr, "user_id")
      .filter(col("event_type") === "view" && col("us") > col("t1"))
      .select("user_id").distinct()
    assert(two(0).getAs[Long]("n_users") == firstErr.count())
    assert(two(1).getAs[Long]("n_users") == converted.count())
    // 4-step chain: prefix stages agree with the default 3-step run
    val three = SessionOps.funnel(events).collect()
    val four = SessionOps.funnel(events,
      SessionOps.FunnelSteps :+ "signup").collect()
    assert(four.length == 4)
    assert(four.take(3).map(r => (r.getString(0), r.getAs[Long]("n_users"))).toSeq ==
      three.map(r => (r.getString(0), r.getAs[Long]("n_users"))).toSeq)
    assert(four(3).getAs[Long]("n_users") <= four(2).getAs[Long]("n_users"))
  }

  test("retention: offset-0 cohort counts equal cohort sizes, offsets non-negative") {
    val df = SessionOps.retention(events).cache()
    assert(df.filter(col("offset_days") < 0).count() == 0)
    val cohortSizes = events.groupBy("user_id")
      .agg(min(to_date(col("ts"))).as("cohort_day"))
      .groupBy("cohort_day").agg(count(lit(1)).as("size"))
    // every user is active on their first day → offset 0 row = cohort size
    val zero = df.filter(col("offset_days") === 0)
      .select(col("cohort_day"), col("n_users"))
    assert(zero.exceptAll(cohortSizes.select(col("cohort_day"), col("size"))).count() == 0)
    assert(cohortSizes.count() == zero.count())
  }

  test("sessionWindow agrees with sessionize (no exact-gap ties in the data)") {
    val native = SessionOps.sessionWindow(events)
      .select(col("user_id"), col("session_start"), col("n_events"))
    val manual = SessionOps.sessionize(events)
      .select(col("user_id"), col("session_start"), col("n_events"))
    assert(native.exceptAll(manual).count() == 0)
    assert(manual.exceptAll(native).count() == 0)
  }
}
