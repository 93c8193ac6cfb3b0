package graft

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
}
