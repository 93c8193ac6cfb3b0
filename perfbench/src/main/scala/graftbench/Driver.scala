package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.BenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.sources.{Sinks, Tables}

/** One benchmark run of one workload in one driver process.
  *
  * A closed loop with one client: each key is built, planned and
  * executed before the next one starts. Every pass runs the workload's
  * keys in an order drawn from the seed; `events_scaled` passes end with
  * the write phase (land the events by day, then upsert one update
  * batch). The run is: cold pass (its end closes set-up; it also writes
  * the outputs the check reads), warm-up until passes are steady, timed
  * passes for the given seconds, fingerprints again. The result file
  * holds raw timings and listener counts; `run.py` turns them into
  * metrics.
  *
  * Usage: Driver --keys k1,k2 --input DIR --work DIR --seed N --workers N
  *   --seconds S --trace 0|1 --write 0|1 --out FILE */
object Driver {
  private val SinkKey = "sinks"

  final case class KeyRun(key: String, build: Double, plan: Double,
                          exec: Double, error: Option[String])

  final case class PassRun(index: Int, kind: String, traced: Boolean,
                           wall: Double, keys: Seq[KeyRun])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val keys = opt("keys").split(",").toSeq
    val input = opt("input")
    val work = opt("work")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val withWrite = opt("write") == "1"
    val workers = opt("workers").toInt

    val spark = SparkSession.builder()
      .master(s"local[$workers]")
      .appName("graft-perfbench")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", workers.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val probe = new Probe
    sc.addSparkListener(probe)

    val queries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    keys.foreach(k => require(queries.contains(k), s"unknown key $k"))

    // Phase timestamps share the listener's clock (epoch ms).
    val epoch0 = System.currentTimeMillis().toDouble
    val nano0 = System.nanoTime()
    def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

    val phaseSpans = mutable.ArrayBuffer.empty[(String, String, Double, Double)]

    def timed[A](group: String, phase: String)(body: => A): (A, Double) = {
      sc.setJobGroup(s"$group/$phase", phase, interruptOnCancel = false)
      val t0 = nowMs
      val a = try body finally sc.clearJobGroup()
      val t1 = nowMs
      phaseSpans += ((s"$group/$phase", phase, t0, t1))
      (a, (t1 - t0) / 1e3)
    }

    def runKey(pass: Int, key: String, sink: DataFrame => Unit): KeyRun = {
      val g = s"$pass/$key"
      var b, p, e = 0.0
      val t0 = nowMs
      val err = try {
        val (df, tb) = timed(g, "build")(queries(key)(spark, input)); b = tb
        val (_, tp) = timed(g, "plan")(df.queryExecution.executedPlan); p = tp
        val (_, te) = timed(g, "exec")(sink(df)); e = te
        None
      } catch { case NonFatal(x) => Some(s"${x.getClass.getName}: ${x.getMessage}".take(500)) }
      phaseSpans += ((g, "key", t0, nowMs))
      KeyRun(key, b, p, e, err)
    }

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    val landed = s"$work/landed"
    /** A late correction batch: a seeded tenth of the last two days' rows
      * get new values, so the upsert rewrites two day partitions. */
    def updateBatch(pass: Int): DataFrame =
      Sinks.withDay(Tables.events(spark, input))
        .filter(col("day") >= lit("2024-01-29").cast("date") &&
          pmod(xxhash64(col("event_id"), lit(seed), lit(pass)), lit(10)) === 0)
        .withColumn("value", round(col("value") * 1.5 + 1.0, 2))

    val filesWritten = mutable.Map.empty[Int, Long]
    /** Land the events partitioned by day, then merge one update batch.
      * Traced, it also counts the data files each step commits. */
    def writePhase(pass: Int, dest: String, trace: Boolean): KeyRun = {
      val g = s"$pass/$SinkKey"
      val t0 = nowMs
      var w = 0.0
      val err = try {
        val (_, tw) = timed(g, "write") {
          Sinks.writePartitionedByDay(Tables.events(spark, input), dest)
          val since = System.currentTimeMillis()
          val landedFiles = if (trace) dataFiles(dest, 0L) else 0L
          Sinks.upsertPartitioned(spark, updateBatch(pass), dest, "day", "event_id")
          if (trace) filesWritten(pass) = landedFiles + dataFiles(dest, since)
        }
        w = tw
        None
      } catch { case NonFatal(x) => Some(s"${x.getClass.getName}: ${x.getMessage}".take(500)) }
      phaseSpans += ((g, "key", t0, nowMs))
      KeyRun(SinkKey, 0.0, 0.0, w, err)
    }

    val passes = mutable.ArrayBuffer.empty[PassRun]
    def runPass(kind: String, trace: Boolean, sink: String => DataFrame => Unit = _ => noop,
                dest: String = landed): PassRun = {
      val index = passes.size
      probe.currentPass = index.toString
      probe.traced = trace
      val order = new scala.util.Random(seed * 1000003L + index).shuffle(keys)
      val t0 = nowMs
      val runs = order.map(k => runKey(index, k, sink(k))) ++
        (if (withWrite) Seq(writePhase(index, dest, trace)) else Nil)
      val wall = (nowMs - t0) / 1e3
      phaseSpans += ((index.toString, "pass", t0, nowMs))
      // Every pass starts from a collected heap: the collection lets
      // Spark's ContextCleaner drop the previous pass's checkpoint blocks.
      System.gc()
      BenchBridge.drainListeners(sc)
      val run = PassRun(index, kind, trace, wall, runs)
      System.err.println(f"[graftbench] pass $index $kind: $wall%.3f s")
      passes += run
      run
    }

    // ---- set-up: the cold pass, which also writes what the output check
    // reads: oracle keys' results, other keys' fingerprints, the landed
    // layout and its update batch ----
    val checkDir = s"$work/check"
    val fingerprints = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
    def keepFingerprint(key: String)(df: DataFrame): Unit =
      fingerprints.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += fingerprint(df)
    runPass("cold", trace = false, sink = key =>
      if (oracle.contains(key)) _.write.mode("overwrite").parquet(s"$checkDir/$key")
      else keepFingerprint(key), dest = s"$checkDir/landed")
    if (withWrite) updateBatch(0).write.mode("overwrite").parquet(s"$checkDir/updates")
    println("GRAFTBENCH cold_done")
    Console.out.flush()

    // ---- warm-up, timed passes. Warm-up is one pass, and one more for
    // each timed pass over 5% faster than the pass before it (that pass
    // then counts as warm-up), at most four. At least three timed
    // passes, so that their median is not one pass's noise. A traced run
    // alternates untraced and traced timed passes. ----
    var warm = 1
    runPass("warm", trace = false)
    var timedStart = System.nanoTime()
    var n = 0
    while (n < 3 || (System.nanoTime() - timedStart) / 1e9 < seconds) {
      val p = runPass("timed", trace = traced && (n + seed) % 2 == 1)
      val prev = passes(passes.size - 2)
      if (n == 0 && warm < 4 && p.wall < 0.95 * prev.wall) {
        passes(passes.size - 1) = p.copy(kind = "warm")
        warm += 1
        timedStart = System.nanoTime()
      } else n += 1
    }

    // ---- fingerprints again, for the keys without an oracle ----
    val finalPass = passes.size
    probe.currentPass = finalPass.toString
    probe.traced = false
    keys.sorted.filterNot(oracle.contains).foreach(k => runKey(finalPass, k, keepFingerprint(k)))
    BenchBridge.drainListeners(sc)

    // Plan shapes of the traced passes, from the listener's last adaptive
    // plan of each SQL execution: node counts of the exec phase, and
    // whether any phase repartitioned a bare scan as Tables.spread does.
    val planShapes = mutable.Map.empty[String, Map[String, Long]]
    if (traced) probe.synchronized {
      for ((id, info) <- probe.executionPlan; g <- probe.executionGroup.get(id)
           if g.count(_ == '/') == 2) {
        val key = g.substring(0, g.lastIndexOf('/'))
        val shape = planShapes.getOrElse(key, Map("spread" -> 0L))
        val counts = if (g.endsWith("/exec")) planCounts(info) else Map.empty[String, Long]
        planShapes(key) = shape ++ counts.map { case (f, n) => f -> (shape.getOrElse(f, 0L) + n) } +
          ("spread" -> math.max(shape("spread"), if (spreadFired(info)) 1L else 0L))
      }
    }

    val out = Json.obj(
      "workers" -> workers,
      "peak_rss_mb" -> peakRssMb(),
      "passes" -> passes.map { p =>
        Json.Raw(Json.obj("index" -> p.index, "kind" -> p.kind, "traced" -> p.traced,
          "wall_s" -> p.wall, "keys" -> p.keys.map { k =>
            Json.Raw(Json.obj("key" -> k.key, "build_s" -> k.build, "plan_s" -> k.plan,
              "exec_s" -> k.exec, "error" -> k.error))
          }))
      },
      "fingerprints" -> fingerprints.map { case (k, v) => k -> v.toSeq }.toMap,
      "oracle" -> keys.flatMap(k => oracle.get(k).map(k -> _)).toMap,
      "counts" -> probe.synchronized(probe.counts.map { case (g, c) => g -> Json.Raw(c.json) }.toMap),
      "files_written" -> filesWritten.map { case (k, v) => k.toString -> v }.toMap,
      "cached_peak" -> probe.synchronized(probe.cachedPeak.toMap),
      "plan_shapes" -> planShapes.toMap,
      "phase_spans" -> phaseSpans.map { case (g, kind, a, b) => Seq(g, kind, a, b) },
      "spark_spans" -> probe.synchronized(probe.spans.map { case (kind, id, g, a, b, parent) =>
        Seq(kind, id, g, a, b, parent)
      })
    )
    Files.writeString(Paths.get(opt("out")), out)
    spark.stop()
  }

  /** Order-insensitive fingerprint: row count, and the XOR and the sum of
    * per-row 64-bit hashes (the sum reduced per row so it cannot
    * overflow). */
  def fingerprint(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), bit_xor(h), sum(pmod(h, lit(1000000007L)))).head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}:${Option(r.get(2)).getOrElse(0)}"
  }

  /** Does the plan repartition a bare file scan to a fixed partition
    * count, as `Tables.spread` does when it fires? */
  def spreadFired(info: SparkPlanInfo): Boolean = {
    val narrow = Set("Project", "Filter", "ColumnarToRow", "InputAdapter")
    def overScan(p: SparkPlanInfo): Boolean = p.nodeName match {
      case n if n.startsWith("Scan ") => !n.startsWith("Scan ExistingRDD")
      case n if narrow(n) || n.startsWith("WholeStageCodegen") =>
        p.children.nonEmpty && p.children.forall(overScan)
      case _ => false
    }
    def walk(p: SparkPlanInfo): Boolean =
      (p.nodeName == "Exchange" && p.simpleString.contains("REPARTITION_BY_NUM") &&
        p.children.forall(overScan)) || p.children.exists(walk)
    walk(info)
  }

  def planCounts(info: SparkPlanInfo): Map[String, Long] = {
    var exchanges, reused, scans = 0L
    def walk(p: SparkPlanInfo): Unit = {
      val n = p.nodeName
      if (n == "Exchange" || n == "BroadcastExchange" || n.startsWith("ShuffleExchange")) exchanges += 1
      if (n == "ReusedExchange") reused += 1
      if ((n.startsWith("Scan ") && !n.startsWith("Scan ExistingRDD") && n != "Scan OneRowRelation") ||
        n.startsWith("BatchScan")) scans += 1
      p.children.foreach(walk)
    }
    walk(info)
    Map("exchanges" -> exchanges, "reused_exchanges" -> reused, "scan_nodes" -> scans)
  }

  /** Parquet data files under `dir` modified at or after `since` (epoch ms). */
  def dataFiles(dir: String, since: Long): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.startsWith("part-") && f.lastModified() >= since) 1L
      else 0L
    walk(new java.io.File(dir))
  }

  /** The process's peak resident set (VmHWM) in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Writes `SparkEntry.oracleSql` as JSON, so the fixed inputs' oracle
  * answers can be computed once, right after a build.
  *
  * Usage: OracleSql FILE */
object OracleSql {
  def main(args: Array[String]): Unit =
    Files.writeString(Paths.get(args(0)), Json.value(SparkEntry.oracleSql))
}
