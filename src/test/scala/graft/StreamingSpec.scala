package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.EventOps
import graft.sources.{EventsJsonSource, Tables}
import graft.streaming.EventStream
import graft.streaming.EventStream.Event

/** Streaming twins + nested JSON source (SURVEY.md §2-C). */
class StreamingSpec extends SparkSpec {

  test("windowedCounts (batch mode) matches q_tumbling semantics") {
    val events = Tables.events(spark, sfDir)
    val streamedShape = EventStream.windowedCounts(events)
      .select(col("window_start").as("hour"), col("event_type"), col("n"))
    val batch = EventOps.tumbling(events).select(col("hour"), col("event_type"), col("n"))
    assert(streamedShape.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamedShape).count() == 0)
  }

  test("windowedCounts sliding variant emits overlapping windows") {
    val events = Tables.events(spark, sfDir)
    val slid = EventStream.windowedCounts(events,
      windowLen = "2 hours", slide = Some("1 hour"))
    // every event lands in exactly 2 overlapping windows
    val total = slid.agg(sum(col("n"))).collect().head.getLong(0)
    assert(total == 2 * events.count())
  }

  test("windowedCounts runs as a real stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = EventStream.windowedCounts(input.toDF(), watermark = "0 seconds")
      .writeStream.format("memory").queryName("wc").outputMode("update").start()
    try {
      input.addData(
        Event(Timestamp.valueOf("2024-01-01 10:05:00"), 1L, "click", 1.0),
        Event(Timestamp.valueOf("2024-01-01 10:45:00"), 1L, "click", 2.0),
        Event(Timestamp.valueOf("2024-01-01 11:05:00"), 2L, "view", 3.0))
      q.processAllAvailable()
      val rows = spark.table("wc").collect()
      assert(rows.exists(r => r.getAs[Long]("n") == 2L)) // 10:00 window
    } finally q.stop()
  }

  test("streaming sessionize emits the same sessions as the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val gapMs = EventStream.GapUs / 1000
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val evs = Seq(
      Event(new Timestamp(base), 1L, "click", 1.0),
      Event(new Timestamp(base + 60000), 1L, "view", 1.0), // same session
      Event(new Timestamp(base + gapMs + 120000), 1L, "click", 1.0), // new session
      Event(new Timestamp(base + 30000), 2L, "click", 1.0))
    val input = MemoryStream[Event]
    val q = EventStream.sessionize(input.toDS(), watermark = "0 seconds")
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      input.addData(evs: _*)
      q.processAllAvailable()
      // push the watermark far past every gap so open sessions flush
      input.addData(Event(new Timestamp(base + 10 * gapMs), 99L, "click", 1.0))
      q.processAllAvailable()
      input.addData(Event(new Timestamp(base + 20 * gapMs), 99L, "click", 1.0))
      q.processAllAvailable()
      val got = spark.table("sess").as[EventStream.Session].collect()
        .filter(_.user_id != 99L)
      assert(got.count(_.user_id == 1L) == 2)
      assert(got.count(_.user_id == 2L) == 1)
      val first = got.filter(_.user_id == 1L).minBy(_.session_start.getTime)
      assert(first.n_events == 2 && first.duration_sec == 60.0)
    } finally q.stop()
  }

  test("sessionWindowStream (native session_window) matches the batch q_session_window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val gapMs = EventStream.GapUs / 1000
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val evs = Seq(
      Event(new Timestamp(base), 1L, "click", 1.0),
      Event(new Timestamp(base + 60000), 1L, "view", 1.0), // same session
      Event(new Timestamp(base + gapMs + 120000), 1L, "click", 1.0), // new session
      Event(new Timestamp(base + 30000), 2L, "click", 1.0))
    // streaming watermarks require TIMESTAMP; the batch events-table
    // contract is NTZ. Cast the stream OUTPUT and the batch INPUT with
    // the same session-timezone mapping, so the comparison is exact
    // whatever the session timezone is.
    def toNtz(df: DataFrame): DataFrame =
      df.withColumn("ts", col("ts").cast("timestamp_ntz"))
    val input = MemoryStream[Event]
    val q = EventStream.sessionWindowStream(input.toDF(),
      watermark = "0 seconds")
      .writeStream.format("memory").queryName("swin").outputMode("append").start()
    try {
      input.addData(evs: _*)
      q.processAllAvailable()
      // push the watermark past every session close so all sessions emit
      input.addData(Event(new Timestamp(base + 10 * gapMs), 99L, "click", 1.0))
      q.processAllAvailable()
      input.addData(Event(new Timestamp(base + 20 * gapMs), 99L, "click", 1.0))
      q.processAllAvailable()
      val got = spark.table("swin").filter(col("user_id") =!= 99L)
        .select(col("user_id"),
          col("session_start").cast("timestamp_ntz").as("session_start"),
          col("session_end").cast("timestamp_ntz").as("session_end"),
          col("n_events"))
      val batch = graft.operators.SessionOps.sessionWindow(toNtz(evs.toDF()))
        .select("user_id", "session_start", "session_end", "n_events")
      assert(got.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(got).count() == 0)
    } finally q.stop()
  }

  test("sessionWindowStream restart from checkpoint: sessions emit exactly once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val gapMs = EventStream.GapUs / 1000
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val out = SparkSpec.tempDir("graft_swin_sink").toFile.getAbsolutePath
    val ckpt = SparkSpec.tempDir("graft_swin_ckpt").toFile.getAbsolutePath
    val batch1 = Seq(
      Event(new Timestamp(base), 1L, "click", 1.0),
      Event(new Timestamp(base + 60000), 1L, "view", 1.0))
    // run 1: open user 1's session, then stop before it closes
    val in1 = MemoryStream[Event]
    val q1 = EventStream.sessionWindowStream(in1.toDF(), watermark = "0 seconds")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try { in1.addData(batch1: _*); q1.processAllAvailable() } finally q1.stop()
    // run 2: SAME checkpoint; an at-least-once source re-offers batch1
    // plus the watermark-advancing flush events. Session state recovered
    // from the checkpoint must emit user 1's session exactly once.
    val in2 = MemoryStream[Event]
    in2.addData(batch1: _*)
    in2.addData(Event(new Timestamp(base + 10 * gapMs), 99L, "click", 1.0))
    in2.addData(Event(new Timestamp(base + 20 * gapMs), 99L, "click", 1.0))
    val q2 = EventStream.sessionWindowStream(in2.toDF(), watermark = "0 seconds")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    val sessions = spark.read.parquet(out).filter(col("user_id") === 1L).collect()
    assert(sessions.length == 1, sessions.mkString("\n"))
    assert(sessions.head.getAs[Long]("n_events") == 2L)
  }

  test("funnelStream refuses chains the stream cannot represent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    // repeated type: stepIdx would map 'view' to its LAST stage only
    intercept[IllegalArgumentException] {
      EventStream.funnelStream(input.toDS(), Seq("view", "click", "view"))
    }
    // same 2-9 size contract as the batch funnel
    intercept[IllegalArgumentException] {
      EventStream.funnelStream(input.toDS(), Seq("view"))
    }
  }

  test("funnelStream stage hits match the batch funnel across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ev(offsetMs: Long, uid: Long, typ: String) =
      Event(new Timestamp(base + offsetMs), uid, typ, 1.0)
    val batch1 = Seq(
      ev(0, 1L, "view"), ev(60000, 1L, "click"),
      ev(0, 2L, "click"), // click BEFORE any view: must never reach stage 2
      ev(60000, 2L, "view"))
    val batch2 = Seq(
      ev(120000, 1L, "purchase"),   // completes user 1's funnel (state crossed batches)
      ev(120000, 2L, "click"),      // now qualified: strictly after user 2's first view
      ev(0, 3L, "purchase"))        // purchase with no prior stages: no hit
    val input = MemoryStream[Event]
    val q = EventStream.funnelStream(input.toDS())
      .writeStream.format("memory").queryName("fnl").outputMode("append").start()
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      val hits = spark.table("fnl").as[EventStream.StageHit].collect()
        .map(h => (h.user_id, h.stage, h.ts.getTime - base)).toSet
      assert(hits == Set(
        (1L, 1, 0L), (1L, 2, 60000L), (1L, 3, 120000L),
        (2L, 1, 60000L), (2L, 2, 120000L)))
      // stage counts equal the batch funnel on the union of both batches
      val all = (batch1 ++ batch2).toDF()
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
        .withColumn("event_id", col("user_id")) // any deterministic tiebreak
      val batchCounts = graft.operators.SessionOps.funnel(all).collect()
        .map(r => r.getString(0).takeWhile(_ != '_').toInt -> r.getAs[Long]("n_users"))
        .toMap
      val streamCounts = hits.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      assert((1 to 3).forall(i =>
        batchCounts(i) == streamCounts.getOrElse(i, 0L)), s"$batchCounts vs $streamCounts")
    } finally q.stop()
  }

  test("anomalyStream scores closed days against persisted moments = batch anomaly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.StatsOps
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val dayMs = 24L * 3600 * 1000
    // user 1: ten flat days then a spike (z = 3.16 > 3); user 2: flat
    val evs = (0 until 10).map(d =>
      Event(new Timestamp(base + d * dayMs), 1L, "click", 10.0)) ++
      Seq(Event(new Timestamp(base + 10 * dayMs), 1L, "click", 100.0)) ++
      (0 until 11).map(d =>
        Event(new Timestamp(base + d * dayMs), 2L, "click", 5.0))
    val fixture = evs.toDF()
    val momentsDir = SparkSpec.tempDir("graft_moments")
      .toFile.getAbsolutePath
    StatsOps.userMoments(fixture).write.mode("overwrite").parquet(s"$momentsDir/v1")
    @volatile var momentsPath = s"$momentsDir/v1"
    val sunk = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]
    val input = MemoryStream[Event]
    val q = EventStream.anomalyStream(input.toDF(),
      () => spark.read.parquet(momentsPath),
      watermark = "0 seconds") { (flagged, _) =>
      sunk.synchronized { sunk ++= flagged.collect() }
    }
    try {
      input.addData(evs: _*)
      q.processAllAvailable()
      // advance the watermark past every day so all windows close
      input.addData(Event(new Timestamp(base + 40 * dayMs), 99L, "click", 1.0))
      q.processAllAvailable()
      input.addData(Event(new Timestamp(base + 80 * dayMs), 99L, "click", 1.0))
      q.processAllAvailable()
      def collected() = sunk.synchronized {
        sunk.map(r => (r.getLong(0), r.getAs[java.sql.Date]("day").toString,
          r.getDouble(2), r.getLong(3))).toSet
      }
      val got = collected()
      assert(got == Set((1L, "2024-01-11", 100.0, 11L)), got.mkString("\n"))
      // live moments refresh at a NEW path: the thunk re-resolves next
      // batch without a restart — tightened moments (tiny variance) now
      // flag user 2's ordinary day too
      val tight = StatsOps.userMoments(fixture.filter(col("user_id") === 1L))
        .unionByName(Seq((2L, 3L, 900L, 270750L)).toDF("user_id", "n", "s", "q"))
      tight.write.mode("overwrite").parquet(s"$momentsDir/v2")
      momentsPath = s"$momentsDir/v2"
      input.addData(Event(new Timestamp(base + 100 * dayMs), 2L, "click", 50.0))
      input.addData(Event(new Timestamp(base + 140 * dayMs), 99L, "click", 1.0))
      q.processAllAvailable()
      assert(collected().exists(_._1 == 2L),
        s"v2 moments must flag user 2's spike: ${collected()}")
      // exactly the batch q_anomaly flags on the same events
      val batch = StatsOps.anomaly(fixture)
        .select(col("user_id"), col("day").cast("string").as("day"),
          col("day_sum"), col("n_days")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      assert(batch.toSet == got.toSet)
    } finally q.stop()
  }

  test("windowedCounts drops data later than the watermark (append mode)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Timestamp.valueOf("2024-01-01 10:00:00").getTime
    val input = MemoryStream[Event]
    val q = EventStream.windowedCounts(input.toDF(),
      windowLen = "1 hour", watermark = "30 minutes")
      .writeStream.format("memory").queryName("wm").outputMode("append").start()
    try {
      input.addData(Event(new Timestamp(base), 1L, "click", 1.0))
      q.processAllAvailable()
      // advance event time far past the 10:00 window + watermark → closes it
      input.addData(Event(new Timestamp(base + 4 * 3600000), 1L, "click", 1.0))
      q.processAllAvailable()
      // this event is 4h late — behind the watermark, must be DROPPED
      input.addData(Event(new Timestamp(base + 60000), 1L, "click", 99.0))
      q.processAllAvailable()
      // nudge the watermark so any (incorrect) state would flush
      input.addData(Event(new Timestamp(base + 5 * 3600000), 2L, "view", 1.0))
      q.processAllAvailable()
      val closed = spark.table("wm").collect()
        .filter(_.getAs[Timestamp]("window_start").getTime == base)
      assert(closed.length == 1)
      assert(closed.head.getAs[Long]("n") == 1L) // late event not counted
    } finally q.stop()
  }

  test("enrichStream joins a static dim per batch; dim refresh is live") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    @volatile var dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val sunk = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]
    val input = MemoryStream[Event]
    val q = EventStream.enrichStream(input.toDF(), () => dim) { (out, _) =>
      sunk.synchronized { sunk ++= out.collect() }
    }
    try {
      input.addData(
        Event(new Timestamp(base), 1L, "click", 1.0),
        Event(new Timestamp(base + 1000), 3L, "view", 2.0)) // no dim row
      q.processAllAvailable()
      val rows = sunk.synchronized(sunk.toArray)
      assert(rows.length == 2)
      assert(rows.find(_.getAs[Long]("user_id") == 1L)
        .get.getAs[String]("tier") == "gold")
      assert(rows.find(_.getAs[Long]("user_id") == 3L).get.isNullAt(
        rows.head.fieldIndex("tier"))) // left join keeps unmatched stream rows
      // the thunk re-resolves the dim next trigger: user 1 upgraded
      dim = Seq((1L, "platinum")).toDF("user_id", "tier")
      input.addData(Event(new Timestamp(base + 2000), 1L, "click", 3.0))
      q.processAllAvailable()
      val last = sunk.synchronized(sunk.last)
      assert(last.getAs[String]("tier") == "platinum")
    } finally q.stop()
  }

  test("writePartitionedStream lands day-partitioned files batch readers prune") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val out = SparkSpec.tempDir("graft_stream_sink").toFile.getAbsolutePath
    val ckpt = SparkSpec.tempDir("graft_stream_ckpt").toFile.getAbsolutePath
    val input = MemoryStream[Event]
    val q = EventStream.writePartitionedStream(input.toDF(), out, ckpt)
    try {
      input.addData(
        Event(Timestamp.valueOf("2024-01-05 10:00:00"), 1L, "click", 1.0),
        Event(Timestamp.valueOf("2024-01-06 11:00:00"), 2L, "view", 2.0))
      q.processAllAvailable()
      val back = spark.read.parquet(out)
      assert(back.count() == 2)
      // the layout is the same contract as the batch sink: day= dirs prune
      val pruned = back.filter(col("day") === "2024-01-05")
      val p = pruned.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(p.contains("PartitionFilters"), p)
      assert(pruned.count() == 1)
    } finally q.stop()
  }

  test("writePartitionedStream restart from checkpoint: no lost, no duplicate rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val out = SparkSpec.tempDir("graft_restart_sink").toFile.getAbsolutePath
    val ckpt = SparkSpec.tempDir("graft_restart_ckpt").toFile.getAbsolutePath
    val batch1 = Seq(
      Event(Timestamp.valueOf("2024-01-05 10:00:00"), 1L, "click", 1.0),
      Event(Timestamp.valueOf("2024-01-06 11:00:00"), 2L, "view", 2.0))
    val batch2 = Seq(
      Event(Timestamp.valueOf("2024-01-06 12:00:00"), 3L, "click", 3.0),
      Event(Timestamp.valueOf("2024-01-07 09:00:00"), 4L, "purchase", 4.0))
    // run 1: commit batch1, then stop (simulated shutdown)
    val in1 = MemoryStream[Event]
    val q1 = EventStream.writePartitionedStream(in1.toDF(), out, ckpt)
    try { in1.addData(batch1: _*); q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(out).count() == 2)
    // run 2: SAME checkpoint; the replayed source re-offers batch1 (an
    // at-least-once upstream) plus new data. The checkpointed offsets +
    // the file sink's transactional _spark_metadata log must keep exactly
    // one copy of everything.
    val in2 = MemoryStream[Event]
    in2.addData(batch1: _*)
    in2.addData(batch2: _*)
    val q2 = EventStream.writePartitionedStream(in2.toDF(), out, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val back = spark.read.parquet(out)
    assert(back.count() == 4, back.collect().mkString("\n"))
    // every event exactly once, in its right day partition
    assert(back.select("user_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    assert(back.filter(col("day") === "2024-01-06").count() == 2)
  }

  test("dedupIncrementalStream matches dedupIncremental on the same delta") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.DedupOps
    val docs = Tables.documents(spark, sfDir)
    val m = DedupOps.IncrementalDeltaMod
    // the standing corpus's PERSISTED band index (write-once in a real
    // pipeline; plain parquet here — the bucketed layout is
    // BucketedJoinSpec's subject)
    val idxDir = SparkSpec.tempDir("graft_inc_idx").toFile.getAbsolutePath
    DedupOps.minhashBandKeys(docs.filter(pmod(col("doc_id"), lit(m)) =!= 0),
      DedupOps.MinhashK, DedupOps.Bands).write.mode("overwrite").parquet(idxDir)
    val idx = spark.read.parquet(idxDir)
    val delta = docs.filter(pmod(col("doc_id"), lit(m)) === 0)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (d1, d2) = delta.splitAt(delta.length / 2)
    val input = MemoryStream[(Long, String)]
    val q = EventStream.dedupIncrementalStream(
      input.toDF().toDF("doc_id", "text"), idx)
      .writeStream.format("memory").queryName("incdedup")
      .outputMode("append").start()
    try {
      input.addData(d1: _*)
      q.processAllAvailable()
      // second micro-batch: the rest of the delta PLUS a replay of the
      // first half (an at-least-once source) — replayed pairs must not
      // re-emit
      input.addData(d2 ++ d1: _*)
      q.processAllAvailable()
      val got = spark.table("incdedup").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val expected = DedupOps.dedupIncremental(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(expected.nonEmpty, "fixture has no cross-set near-dup pair")
      assert(got.toSet == expected,
        s"extra=${got.toSet -- expected} missing=${expected -- got.toSet}")
      assert(got.length == got.toSet.size, "replayed pairs re-emitted")
    } finally q.stop()
  }

  test("dedupIncrementalStream restart from checkpoint: no lost, no duplicate pairs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.DedupOps
    val docs = Tables.documents(spark, sfDir)
    val m = DedupOps.IncrementalDeltaMod
    val idxDir = SparkSpec.tempDir("graft_inc_idx2").toFile.getAbsolutePath
    DedupOps.minhashBandKeys(docs.filter(pmod(col("doc_id"), lit(m)) =!= 0),
      DedupOps.MinhashK, DedupOps.Bands).write.mode("overwrite").parquet(idxDir)
    val idx = spark.read.parquet(idxDir)
    val delta = docs.filter(pmod(col("doc_id"), lit(m)) === 0)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (d1, d2) = delta.splitAt(delta.length / 2)
    val out = SparkSpec.tempDir("graft_inc_sink").toFile.getAbsolutePath
    val ckpt = SparkSpec.tempDir("graft_inc_ckpt").toFile.getAbsolutePath
    def start(input: MemoryStream[(Long, String)]) =
      EventStream.dedupIncrementalStream(input.toDF().toDF("doc_id", "text"), idx)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
    // run 1: commit the first half of the delta, then stop
    val in1 = MemoryStream[(Long, String)]
    val q1 = start(in1)
    try { in1.addData(d1: _*); q1.processAllAvailable() } finally q1.stop()
    // run 2: SAME checkpoint; the replayed source re-offers d1 (an
    // at-least-once upstream) plus the rest — offsets + the file sink's
    // transactional log must keep exactly one copy of every pair
    val in2 = MemoryStream[(Long, String)]
    in2.addData(d1: _*)
    in2.addData(d2: _*)
    val q2 = start(in2)
    try q2.processAllAvailable() finally q2.stop()
    val back = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = DedupOps.dedupIncremental(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(back.toSet == expected,
      s"extra=${back.toSet -- expected} missing=${expected -- back.toSet}")
    assert(back.length == expected.size, "duplicate pairs across restart")
  }

  test("curateStream: gates, corpus-hash anti-join, and first-arrival dedup on a live stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.{CorpusOps, TextOps}
    import graft.functions.TextFuns
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val idxDir = SparkSpec.tempDir("graft_curate_idx").toFile.getAbsolutePath
    corpus.select(md5(TextFuns.norm(col("text")).cast("binary")).as("text_hash"))
      .distinct().write.mode("overwrite").parquet(idxDir)
    val idx = spark.read.parquet(idxDir)
    // a corpus text replayed into the stream (must anti-join away — picked
    // from the corpus's own curate manifest so it provably passes every
    // gate and only the anti-join can drop it), a clean passing doc + its
    // in-stream twin (one survives), and a contaminated variant of the
    // same passing text (gate-dropped)
    val corpusRepId = CorpusOps.curate(corpus).select("doc_id").head().getLong(0)
    val corpusText = corpus.filter(col("doc_id") === corpusRepId)
      .select("text").head().getString(0)
    val passing = Seq.fill(30)("the a of and").mkString(" ")
    val planted = Seq(
      (9000001L, corpusText, "plant"),
      (9000002L, passing, "plant"),
      (9000003L, passing, "plant"),
      (9000004L, passing + " the spark table end", "plant"))
    val delta = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))) ++ planted
    val (d1, d2) = delta.splitAt(delta.length / 2)
    val input = MemoryStream[(Long, String, String)]
    val q = EventStream.curateStream(
      input.toDF().toDF("doc_id", "text", "source"), idx)
      .writeStream.format("memory").queryName("curated")
      .outputMode("append").start()
    try {
      input.addData(d1: _*)
      q.processAllAvailable()
      // at-least-once upstream: replay d1 alongside the rest
      input.addData(d2 ++ d1: _*)
      q.processAllAvailable()
      val got = spark.table("curated").collect().map(_.getLong(0))
      assert(got.length == got.distinct.length, "replayed docs re-emitted")
      // expected: gate-passing delta hashes minus standing-corpus hashes
      val deltaDf = delta.toSeq.toDF("doc_id", "text", "source")
      val gated = deltaDf
        .withColumn("pred_lang", TextOps.predLang(col("text")))
        .withColumn("quality_score", TextOps.qualityScore(col("text")))
        .withColumn("text_hash", md5(TextFuns.norm(col("text")).cast("binary")))
        .filter(col("pred_lang") === "en" &&
          col("quality_score") >= CorpusOps.QualityTau &&
          !CorpusOps.Probes.map(p =>
            contains(TextFuns.norm(col("text")), lit(p))).reduce(_ || _))
      val corpusHashes = idx.collect().map(_.getString(0)).toSet
      val byDoc = gated.select("doc_id", "text_hash").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val expectedHashes = byDoc.values.toSet -- corpusHashes
      val gotHashes = got.map(id => byDoc.getOrElse(id,
        fail(s"doc $id in output but gate-dropped or corpus-dup")))
      assert(gotHashes.toSet == expectedHashes, "hash universe mismatch")
      assert(gotHashes.length == expectedHashes.size, "a dup group kept two members")
      // the planted cases actually exercised each path
      assert(!got.contains(9000001L), "corpus replay survived the anti-join")
      assert(got.count(Set(9000002L, 9000003L)) == 1, "in-stream twins not deduped to one")
      assert(!got.contains(9000004L), "contaminated doc survived")
    } finally q.stop()
  }

  test("curateStream publishedGates: the wide manifest's stateless gates ride the stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val idx = Seq.empty[String].toDF("text_hash")
    val varied = (1 to 8).map(i =>
      s"the big$i be cat$i to dog$i of owl$i and fox$i that hen$i " +
        s"have pig$i with ram$i").mkString(" ") +
      graft.operators.TextOps.C4Good
    val planted = Seq(
      (1L, varied, "s"),                                   // passes all
      (2L, Seq.fill(30)("the a of and").mkString(" ") +
        graft.operators.TextOps.C4Good, "s"), // hammered 4-gram: the
                                              // repetition AND gopher
                                              // mean-length rules kill it
      (3L, varied + "\nAnd then it got slow somehow.", "s")) // blocklist
    def run(gates: Boolean, words: Seq[String], name: String): Set[Long] = {
      val input = MemoryStream[(Long, String, String)]
      val q = EventStream.curateStream(
        input.toDF().toDF("doc_id", "text", "source"), idx,
        publishedGates = gates, badwords = words)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        input.addData(planted: _*)
        q.processAllAvailable()
        spark.table(name).collect().map(_.getLong(0)).toSet
      } finally q.stop()
    }
    assert(run(gates = false, Nil, "cur_nogates") == Set(1L, 2L, 3L))
    assert(run(gates = true, Nil, "cur_gates") == Set(1L, 3L))
    assert(run(gates = true, Seq("slow"), "cur_gates_bw") == Set(1L))
    // and the stream's verdicts ARE the batch manifest's row gates —
    // the shared publishedGateCol cannot drift
    val batch = graft.operators.CorpusOps.curateFullOf(
      planted.toDF("doc_id", "text", "source")
        .select(col("doc_id"), col("source"), col("text")),
      lmBandP6 = (0L, 1000000L), badwords = Seq("slow"))
      .collect().map(_.getLong(0)).toSet
    assert(batch == Set(1L))
  }

  test("curateStream restart from checkpoint: no lost, no duplicate manifest rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.functions.TextFuns
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val idxDir = SparkSpec.tempDir("graft_curate_idx2").toFile.getAbsolutePath
    corpus.select(md5(TextFuns.norm(col("text")).cast("binary")).as("text_hash"))
      .distinct().write.mode("overwrite").parquet(idxDir)
    val idx = spark.read.parquet(idxDir)
    val delta = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val (d1, d2) = delta.splitAt(delta.length / 2)
    val out = SparkSpec.tempDir("graft_curate_sink").toFile.getAbsolutePath
    val ckpt = SparkSpec.tempDir("graft_curate_ckpt").toFile.getAbsolutePath
    def start(input: MemoryStream[(Long, String, String)]) =
      EventStream.curateStream(input.toDF().toDF("doc_id", "text", "source"), idx)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
    val in1 = MemoryStream[(Long, String, String)]
    val q1 = start(in1)
    try { in1.addData(d1: _*); q1.processAllAvailable() } finally q1.stop()
    val in2 = MemoryStream[(Long, String, String)]
    in2.addData(d1: _*) // at-least-once replay across the restart
    in2.addData(d2: _*)
    val q2 = start(in2)
    try q2.processAllAvailable() finally q2.stop()
    val back = spark.read.parquet(out).collect().map(_.getLong(0))
    assert(back.nonEmpty)
    assert(back.length == back.distinct.length, "duplicate rows across restart")
    // every surviving hash exactly once: recompute from the batch side
    val expected = EventStream.curateStream(
      delta.toSeq.toDF("doc_id", "text", "source"), idx)
      .count()
    assert(back.length == expected, s"${back.length} rows vs batch-mode $expected")
  }

  test("dedupEmbeddingIncrementalStream matches dedupEmbeddingIncremental on the same delta") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.DedupOps
    val embs = Tables.embeddings(spark, sfDir)
    val m = DedupOps.IncrementalDeltaMod
    val corpusEmbs = embs.filter(pmod(col("vec_id"), lit(m)) =!= 0)
    // persisted corpus estate: the rp band index + the vector table
    val idxDir = SparkSpec.tempDir("graft_einc_idx").toFile.getAbsolutePath
    val vecDir = SparkSpec.tempDir("graft_einc_vec").toFile.getAbsolutePath
    DedupOps.embeddingRpBlocks(corpusEmbs).write.mode("overwrite").parquet(idxDir)
    corpusEmbs.select("vec_id", "embedding").write.mode("overwrite").parquet(vecDir)
    val idx = spark.read.parquet(idxDir)
    val cvecs = spark.read.parquet(vecDir)
    val delta = embs.filter(pmod(col("vec_id"), lit(m)) === 0)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val (d1, d2) = delta.splitAt(delta.length / 2)
    val input = MemoryStream[(Long, Seq[Float])]
    val q = EventStream.dedupEmbeddingIncrementalStream(
      input.toDF().toDF("vec_id", "embedding"), idx, cvecs)
      .writeStream.format("memory").queryName("eincdedup")
      .outputMode("append").start()
    try {
      input.addData(d1: _*)
      q.processAllAvailable()
      input.addData(d2 ++ d1: _*) // replay d1: an at-least-once source
      q.processAllAvailable()
      val got = spark.table("eincdedup").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val expected = DedupOps.dedupEmbeddingIncremental(embs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(expected.nonEmpty, "fixture has no cross-set rp near-dup pair")
      assert(got.toSet == expected,
        s"extra=${got.toSet -- expected} missing=${expected -- got.toSet}")
      assert(got.length == got.toSet.size, "replayed pairs re-emitted")
    } finally q.stop()
  }

  test("contaminationBloomStream: flags the batch screen's exact (doc, gram) set, replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.CorpusOps
    val probes = CorpusOps.Probes.toDF("probe")
    val docsAll = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (h1, h2) = docsAll.splitAt(docsAll.length / 2)
    val input = MemoryStream[(Long, String)]
    val q = EventStream.contaminationBloomStream(
      input.toDF().toDF("doc_id", "text"), probes)
      .writeStream.format("memory").queryName("bloomstream")
      .outputMode("append").start()
    try {
      input.addData(h1.toSeq: _*)
      q.processAllAvailable()
      input.addData(h2.toSeq: _*)
      q.processAllAvailable()
      val afterAll = spark.table("bloomstream").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      // an at-least-once source replaying a flagged doc adds NO new rows
      val replayId = afterAll.head._1
      input.addData(docsAll.filter(_._1 == replayId).toSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table("bloomstream").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(streamed.length == afterAll.length, "replay re-reported hits")
      assert(streamed.length == streamed.distinct.length)
      // exact batch equivalence, false positives included: the stream's
      // hit set IS the batch screen's pre-aggregation set
      val batchSet = CorpusOps.bloomFlaggedRaw(
        Tables.documents(spark, sfDir), probes,
        graft.plans.GraftBloom.DefaultHexChars)
        .distinct().collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(streamed.toSet == batchSet)
      // and re-aggregating the stream reproduces q_contamination_bloom
      val counts = streamed.groupBy(_._1).view.mapValues(_.length.toLong).toMap
      val batchCounts = CorpusOps.contaminationBloom(
        Tables.documents(spark, sfDir))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(counts == batchCounts)
    } finally q.stop()
  }

  test("annSearchStream: micro-batched queries against the persisted int8 index match the batch search") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.AnnOps
    // the PERSISTED index — built once, off disk for every micro-batch
    val idxDir = SparkSpec.tempDir("graft_serve_idx").toFile.getAbsolutePath
    AnnOps.quantizedVectors(Tables.embeddings(spark, sfDir))
      .write.mode("overwrite").parquet(idxDir)
    val embMap = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id").isin(0L, 7L, 13L))
      .select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val results = new scala.collection.concurrent.TrieMap[Long, Array[org.apache.spark.sql.Row]]
    val input = MemoryStream[(Long, Seq[Float])]
    val q = EventStream.annSearchStream(
      input.toDF().toDF("q_id", "embedding"),
      () => spark.read.parquet(idxDir)) { (batch, id) =>
      results.put(id, batch.collect())
    }
    try {
      // two requests in the first trigger, one in the second — each
      // batch is answered completely, results only ever append
      input.addData((0L, embMap(0L)), (7L, embMap(7L)))
      q.processAllAvailable()
      assert(results.values.flatten.map(_.getLong(0)).toSet == Set(0L, 7L))
      input.addData((13L, embMap(13L)))
      q.processAllAvailable()
      val streamed = results.values.flatten
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(4)))
        .toSet
      // batch-equivalence: the same three queries through the batch
      // serving shape on the same persisted index
      val queries = embMap.toSeq.toDF("q_id", "embedding")
      val batch = AnnOps.annIvfQ8Multi(spark.read.parquet(idxDir), queries)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(4)))
        .toSet
      assert(streamed == batch, s"streamed $streamed\nbatch $batch")
    } finally q.stop()
  }

  test("profileStream: per-batch drift vs the persisted baseline, batch-equivalent, refresh picked up") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.CorpusOps
    // persisted baseline manifest — a prior profileBySource output
    val baseDir = SparkSpec.tempDir("graft_profile_base").toFile
      .getAbsolutePath
    val corpus = Tables.documents(spark, sfDir)
    CorpusOps.profileBySource(corpus).write.mode("overwrite")
      .parquet(s"$baseDir/v1")
    @volatile var basePath = s"$baseDir/v1"
    val results = new scala.collection.concurrent.TrieMap[Long, Array[org.apache.spark.sql.Row]]
    val input = MemoryStream[(Long, Option[String], Long, String, String)]
    val q = EventStream.profileStream(
      input.toDF().toDF("doc_id", "lang", "n_chars", "source", "text"),
      () => spark.read.parquet(basePath)) { (drift, id) =>
      results.put(id, drift.collect())
    }
    try {
      // batch 1: a healthy-looking drop with a planted null lang
      val batch1 = Seq(
        (1L, Some("en"), 10L, "src0", "alpha beta gamma"),
        (2L, None: Option[String], 8L, "src0", "delta epsilon"))
      input.addData(batch1: _*)
      q.processAllAvailable()
      val d1 = results(0L)
      assert(d1.nonEmpty)
      // batch-equivalence: the stream's drift frame IS profileDrift of
      // the same batch against the same baseline
      val batchDf = batch1.toDF("doc_id", "lang", "n_chars", "source", "text")
      val expected = CorpusOps.profileDrift(
        batchDf, spark.read.parquet(s"$baseDir/v1")).collect()
      assert(d1.map(_.toString).sorted.toSeq ==
        expected.map(_.toString).sorted.toSeq)
      // the planted null surfaces in the (src0, lang, n_nulls) row
      val nulls = d1.find(r => r.getString(0) == "src0" &&
        r.getString(1) == "lang" && r.getString(2) == "n_nulls").get
      assert(nulls.getAs[Long]("cur_val") == 1L)
      // baseline refresh at a NEW path: the thunk re-resolves next batch
      // without a query restart (the annSearchStream convention)
      CorpusOps.profileBySource(batchDf).write.mode("overwrite")
        .parquet(s"$baseDir/v2")
      basePath = s"$baseDir/v2"
      input.addData((3L, Some("en"), 5L, "src0", "zeta"))
      q.processAllAvailable()
      val d2 = results(1L)
      // against v2 (profiled from batch 1), batch 2's n_rows drift for
      // src0 is 1 vs baseline 2 — proving v2, not v1, was read
      val rows = d2.find(r => r.getString(0) == "src0" &&
        r.getString(1) == "doc_id" && r.getString(2) == "n_rows").get
      assert(rows.getAs[Long]("base_val") == 2L &&
        rows.getAs[Long]("cur_val") == 1L, rows)
    } finally q.stop()
  }

  test("EventsJsonSource reads and flattens StatsBomb-shaped nested JSON") {
    val dir = SparkSpec.tempDir("graft_json").toFile
    val json =
      """[
        |{"id":"e1","index":1,"period":1,"timestamp":"00:00:01.000","minute":0,"second":1,
        | "type":{"id":30,"name":"Pass"},"player":{"id":30486,"name":"P"},
        | "team":{"id":200,"name":"T"},"position":{"id":15,"name":"Left Center Midfield"},
        | "location":[50.0,40.0],
        | "pass":{"recipient":{"id":5503,"name":"R"},"length":22.4,"angle":0.1,
        |          "end_location":[72.0,41.0],"shot_assist":true}},
        |{"id":"e2","index":2,"period":1,"timestamp":"00:00:03.000","minute":0,"second":3,
        | "type":{"id":16,"name":"Shot"},"player":{"id":5503,"name":"R"},
        | "team":{"id":200,"name":"T"},"location":[100.0,40.0],
        | "shot":{"statsbomb_xg":0.31,"key_pass_id":"e1"}},
        |{"id":"e3","index":3,"period":2,"timestamp":"00:10:00.000","minute":55,"second":0,
        | "type":{"id":43,"name":"Carry"},"player":{"id":30486,"name":"P"},
        | "team":{"id":200,"name":"T"},"location":[30.0,20.0],
        | "carry":{"end_location":[45.0,25.0]}}
        |]""".stripMargin
    Files.writeString(new java.io.File(dir, "match_1.json").toPath, json)
    val flat = EventsJsonSource.flatten(
      EventsJsonSource.read(spark, dir.getAbsolutePath)).cache()
    assert(flat.count() == 3)
    val pass = flat.filter(col("event_id") === "e1").head()
    assert(pass.getAs[Boolean]("completed_pass"))
    assert(pass.getAs[Boolean]("key_pass"))
    assert(pass.getAs[Double]("x2") == 72.0)
    assert(pass.getAs[Long]("recipient_id") == 5503L)
    val carry = flat.filter(col("event_id") === "e3").head()
    assert(carry.getAs[Double]("x2") == 45.0 && carry.getAs[Double]("y2") == 25.0)
    // xA join shape: shot.key_pass_id → pass event (reference extended.py:245-253)
    val xa = flat.as("s").filter(col("s.key_pass_id").isNotNull)
      .join(flat.as("p"), col("s.key_pass_id") === col("p.event_id"))
      .select(col("p.player_id"), col("s.xg"))
    val r = xa.head()
    assert(r.getLong(0) == 30486L && r.getDouble(1) == 0.31)
  }

  test("classifyStream scores micro-batches with the persisted model = batch apply") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.ClassifierOps
    val docs = Tables.documents(spark, sfDir)
    // train once, persist the model pair (the deployable artifact)
    val dir = SparkSpec.tempDir("graft_nbmodel").toString
    ClassifierOps.nbModel(docs).write.parquet(s"$dir/grid")
    ClassifierOps.nbPrior(docs).write.parquet(s"$dir/prior")
    val model = () => spark.read.parquet(s"$dir/grid")
    val prior = () => spark.read.parquet(s"$dir/prior")
    val expected = ClassifierOps.nbApply(docs, model(), prior())
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    val input = MemoryStream[(Long, String, String)]
    val sunk = scala.collection.mutable.Map[Long, String]()
    val q = EventStream.classifyStream(
      input.toDF().toDF("doc_id", "lang", "text"), model, prior) { (df, _) =>
      df.collect().foreach(r => sunk(r.getLong(0)) = r.getString(2))
    }
    try {
      val rows = docs.select("doc_id", "lang", "text").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      input.addData(rows.take(20).toSeq: _*)
      q.processAllAvailable()
      input.addData(rows.drop(20).take(20).toSeq: _*)
      q.processAllAvailable()
      assert(sunk.size == 40)
      assert(sunk.forall { case (id, pred) => expected(id) == pred },
        "stream prediction must equal the batch apply")
    } finally q.stop()
  }

  test("tokenizeStream encodes micro-batches with the persisted tokenizer = batch encode; retrain is live") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.BpeOps
    val docs = Tables.documents(spark, sfDir)
    val dir = SparkSpec.tempDir("graft_tok_stream").toString
    BpeOps.trainTokenizer(docs, s"$dir/v1", merges = 8)
    @volatile var tokPath = s"$dir/v1"
    val expected = {
      val (mt, vocab) = BpeOps.readTokenizer(spark, s"$dir/v1")
      BpeOps.encodeWithVocab(docs, mt, vocab).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toMap
    }
    val input = MemoryStream[(Long, String)]
    val sunk = scala.collection.mutable.Map[Long, Long]()
    val q = EventStream.tokenizeStream(
      input.toDF().toDF("doc_id", "text"),
      () => BpeOps.readTokenizer(spark, tokPath)) { (df, _) =>
      df.collect().foreach(r => sunk(r.getLong(0)) = r.getLong(2))
    }
    try {
      val rows = docs.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      input.addData(rows.take(15).toSeq: _*)
      q.processAllAvailable()
      input.addData(rows.drop(15).take(15).toSeq: _*)
      q.processAllAvailable()
      assert(sunk.size == 30)
      assert(sunk.forall { case (id, n) => expected(id) == n },
        "stream token counts must equal the batch encode")
      // nightly retrain at a NEW path (fewer merges → more tokens for
      // at least one doc): the thunk picks it up next trigger
      BpeOps.trainTokenizer(docs, s"$dir/v2", merges = 1)
      tokPath = s"$dir/v2"
      val probe = rows.take(15)
      input.addData(probe.toSeq: _*)
      q.processAllAvailable()
      val (mt2, vocab2) = BpeOps.readTokenizer(spark, s"$dir/v2")
      val expect2 = BpeOps.encodeWithVocab(
        probe.toSeq.toDF("doc_id", "text"), mt2, vocab2).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(probe.forall { case (id, _) => sunk(id) == expect2(id) },
        "retrained tokenizer must be live on the next trigger")
      assert(probe.exists { case (id, _) => expect2(id) != expected(id) },
        "the v1/v2 tokenizers must actually disagree somewhere")
    } finally q.stop()
  }

  test("streamStreamUnmatched emits a never-converted view only after the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    def ts(min: Int) = new Timestamp(t0.getTime + min * 60000L)
    val views = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val q = EventStream.streamStreamUnmatched(views.toDF(), clicks.toDF(),
      maxGap = "10 minutes", watermark = "5 minutes")
      .writeStream.format("memory").queryName("ssu").outputMode("append").start()
    try {
      // user 1 converts inside the gap; user 2 never converts
      views.addData(Event(ts(0), 1L, "view", 1.0), Event(ts(0), 2L, "view", 1.0))
      clicks.addData(Event(ts(5), 1L, "click", 2.0))
      q.processAllAvailable()
      // watermark has not passed 10:00 + gap yet → NO negative emitted
      assert(spark.table("ssu").isEmpty, "negative must wait for the watermark")
      // advance BOTH watermarks far past the match window
      views.addData(Event(ts(60), 3L, "view", 1.0))
      clicks.addData(Event(ts(60), 3L, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("ssu").collect()
      assert(rows.map(_.getAs[Long]("user_id")).toSet == Set(2L),
        s"only the never-converted view: ${rows.mkString(", ")}")
    } finally q.stop()
  }

  test("streamStreamJoin pairs events within the gap; batch run agrees") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    def ts(min: Int) = new Timestamp(t0.getTime + min * 60000L)
    val viewEvs = Seq(Event(ts(0), 1L, "view", 1.0), Event(ts(0), 2L, "view", 1.0))
    val clickEvs = Seq(
      Event(ts(5), 1L, "click", 2.0), // within the 10 min gap → match
      Event(ts(20), 1L, "click", 3.0), // outside the gap → no match
      Event(ts(3), 2L, "click", 4.0), // match for user 2
      Event(ts(4), 3L, "click", 5.0)) // user 3 has no view → no match
    val views = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val q = EventStream.streamStreamJoin(views.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName("ssj").outputMode("append").start()
    try {
      views.addData(viewEvs: _*)
      clicks.addData(clickEvs: _*)
      q.processAllAvailable()
      val got = spark.table("ssj").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("r_ts"))).toSet
      assert(got == Set((1L, ts(5)), (2L, ts(3))), s"got $got")
      // the SAME operator over the same frames in batch mode agrees
      // (watermarks are a no-op in batch; the interval predicate is not)
      val batch = EventStream.streamStreamJoin(viewEvs.toDF(), clickEvs.toDF())
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("r_ts"))).toSet
      assert(batch == got)
    } finally q.stop()
  }

  test("warcToCorpusStream: live WARC ingest lands HTML + PDF routes, batch-equivalent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import java.nio.charset.StandardCharsets.ISO_8859_1
    def warcRecord(uri: String, payload: Array[Byte]): Array[Byte] = {
      val hdr = ("WARC/1.0\r\nWARC-Type: response\r\n" +
        "WARC-Date: 2026-08-14T00:00:00Z\r\n" +
        s"WARC-Target-URI: $uri\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes(ISO_8859_1)
      hdr ++ payload ++ "\r\n\r\n".getBytes(ISO_8859_1)
    }
    def http(ctype: String, body: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\n\r\n")
        .getBytes(ISO_8859_1) ++ body
    val pdfBody = ("%PDF-1.4\n1 0 obj << /Type /Catalog >> endobj\n" +
      "2 0 obj << /Length 31 >> stream\n" +
      "BT (live pdf corpus text) Tj ET" +
      "\nendstream endobj\ntrailer << /Root 1 0 R >>\n%%EOF\n")
      .getBytes(ISO_8859_1)
    val fixture =
      warcRecord("http://s.example/page.html", http("text/html",
        "<html><body><p>an html page body here</p></body></html>"
          .getBytes(ISO_8859_1))) ++
      warcRecord("http://s.example/doc.pdf", http("application/pdf", pdfBody)) ++
      warcRecord("http://s.example/broken.pdf",
        http("application/pdf", "not a pdf at all".getBytes(ISO_8859_1)))
    val recs = graft.sources.WarcSource.parseFile("mem", fixture).toSeq
    assert(recs.length == 3)
    val sunk = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]
    val input = MemoryStream[graft.sources.WarcSource.WarcRecord]
    val q = EventStream.warcToCorpusStream(input.toDF()) { (docs, _) =>
      sunk.synchronized { sunk ++= docs.collect() }
    }
    try {
      // trigger 1: the HTML page; trigger 2: both PDFs — the live crawl
      // shape where routes arrive interleaved across micro-batches
      input.addData(recs.head)
      q.processAllAvailable()
      input.addData(recs.tail: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = sunk.synchronized {
      sunk.map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap
    }
    assert(got == Map(
      "http://s.example/page.html" -> "an html page body here",
      "http://s.example/doc.pdf" -> "live pdf corpus text"), got.toString)
    // batch ≡ stream: the same records through the batch face
    val batch = graft.operators.PdfOps.warcToCorpus(spark.createDataset(recs).toDF())
      .collect().map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap
    assert(batch == got, s"batch $batch vs stream $got")
  }
}
