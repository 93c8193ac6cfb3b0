package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.GraftBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.execution.FormattedMode

/** Dev measurement harness (measure first): for each named query, split
  * wall time into the three phases that look identical in a bench total
  * but need opposite fixes —
  *   build = DataFrame construction (operator code, driver-side jobs
  *           like checkpoints, quantiles and bloom builds run HERE),
  *   plan  = analysis + optimization + physical planning (`executedPlan`
  *           forced),
  *   exec  = the noop-sink run of the prepared plan —
  * and count the Spark jobs the build and exec phases start, and the
  * longest task each of them ran (`max_task_ms`: one straggler or
  * single-partition stage shows here, not in the seconds). Each query
  * runs `reps` times in one warm session (the first rep is the
  * codegen-compile pass; read the later reps); `total` is the query's
  * cold-to-result wall time. A final line sums the last rep over the
  * keys that finished it: build jobs, exec jobs, and the number of keys
  * whose build ran no job. With `planOutDir planSuffix`, the last
  * rep's formatted plan, as planned before it runs, is written to
  * `<planOutDir>/<key>_<planSuffix>.txt` (the `plans/rNN/` evidence).
  * The session is [[GraftSession.local]], the Bench session, so the
  * numbers and plans are the ones the bench times. A failing key prints
  * its stack trace to stderr and the run goes on; the exit status is
  * non-zero if any key failed.
  *
  * Usage: runMain graft.Dev <keys|--all> [sfDir] [reps] [planOutDir planSuffix]
  */
object Dev {
  private val Usage =
    "usage: Dev <q1,q2,...|--all> [sfDir] [reps] [planOutDir planSuffix]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 1 && args.length != 4 && args.length <= 5, Usage)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val planOut: Option[(Path, String)] =
      if (args.length == 5) Some((Paths.get(args(3)), args(4))) else None
    val names =
      if (args(0) == "--all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").toSeq
    val spark = GraftSession.local(GraftSession.cpus(default = 32))
    val jobs = new AtomicInteger
    val maxTaskMs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        maxTaskMs.accumulateAndGet(e.taskInfo.duration,
          (a, b) => math.max(a, b))
    })
    // seconds, jobs started and the longest task ended while `f` runs;
    // the drain makes every job and task `f` started visible to the
    // listener before the counts are read
    def phase[A](f: => A): (A, Double, Int, Long) = {
      GraftBridge.drainListeners(spark.sparkContext)
      val j0 = jobs.get
      maxTaskMs.set(0L)
      val t0 = System.nanoTime()
      val a = f
      val secs = (System.nanoTime() - t0) / 1e9
      GraftBridge.drainListeners(spark.sparkContext)
      (a, secs, jobs.get - j0, maxTaskMs.get)
    }
    // (build jobs, exec jobs) of each key's last rep, for the summary line
    val lastRep = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    def measure(name: String): Unit = (1 to reps).foreach { rep =>
      val (df, tBuild, jBuild, mBuild) =
        phase(SparkEntry.queries(name)(spark, sfDir))
      val (_, tPlan, _, _) = phase(df.queryExecution.executedPlan)
      if (rep == reps) planOut.foreach { case (dir, suffix) =>
        Files.createDirectories(dir)
        Files.writeString(dir.resolve(s"${name}_$suffix.txt"),
          df.queryExecution.explainString(FormattedMode))
      }
      val (_, tExec, jExec, mExec) =
        phase(df.write.format("noop").mode("overwrite").save())
      println(f"[dev] $name rep$rep build=$tBuild%.3f plan=$tPlan%.3f " +
        f"exec=$tExec%.3f total=${tBuild + tPlan + tExec}%.3f " +
        s"jobs=$jBuild+$jExec max_task_ms=$mBuild+$mExec")
      if (rep == reps) lastRep += ((jBuild, jExec))
    }
    val failed = names.filter { name =>
      try { measure(name); false }
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[dev] $name failed:")
          e.printStackTrace()
          true
      }
    }
    println(s"[dev] rep$reps keys=${lastRep.size} " +
      s"build_jobs=${lastRep.map(_._1).sum} exec_jobs=${lastRep.map(_._2).sum} " +
      s"zero_build_keys=${lastRep.count(_._1 == 0)}")
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[dev] failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
