package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.commons.io.FileUtils
import org.apache.spark.GraftBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
  def sf01Dir = "/root/testdata/sf0.01"
}

object SparkSpec {
  lazy val session: SparkSession =
    GraftSession.local(4, warehouseDir = Some("/tmp/graft_test_warehouse"))

  private lazy val jobsStarted: AtomicInteger = {
    val n = new AtomicInteger
    session.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    })
    n
  }

  /** `f`'s result and the number of Spark jobs started while it ran; the
    * listener bus is drained on both sides, so the count is complete. */
  def jobsDuring[A](f: => A): (A, Int) = {
    val sc = session.sparkContext
    val counter = jobsStarted
    GraftBridge.drainListeners(sc)
    val before = counter.get
    val a = f
    GraftBridge.drainListeners(sc)
    (a, counter.get - before)
  }

  /** `f` run with the session confs `kvs` set, each restored (or unset)
    * afterwards. */
  def withConf[A](kvs: (String, String)*)(f: => A): A = {
    val conf = session.conf
    val before = kvs.map { case (k, _) => k -> conf.getOption(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try f finally before.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  private val tempDirs = new ConcurrentLinkedQueue[Path]()
  private lazy val deleteOnExit: Unit = {
    sys.addShutdownHook(tempDirs.forEach(d => FileUtils.deleteQuietly(d.toFile)))
    ()
  }

  /** A fresh directory under the system temp dir, deleted with its
    * contents when the test JVM exits (`Test / fork` gives every test
    * run its own JVM). */
  def tempDir(prefix: String): Path = {
    deleteOnExit
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }
}
