package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The session factory: its core-count parser, and a tree scan that
  * keeps it the only place a session is built or the core count read. */
class GraftSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS parser: unset → default, positive int → itself, else → processors") {
    val procs = Runtime.getRuntime.availableProcessors
    assert(GraftSession.parseCpus(None, 32) == 32)
    assert(GraftSession.parseCpus(None, 4) == 4)
    assert(GraftSession.parseCpus(Some("8"), 32) == 8)
    assert(GraftSession.parseCpus(Some(" 8 "), 4) == 8)
    for (bad <- Seq("*", "", "0", "-2"))
      assert(GraftSession.parseCpus(Some(bad), 32) == procs, s"value '$bad'")
  }

  test("SparkSession.builder and SPARK_GRAFT_CPUS appear only in GraftSession") {
    // this spec names both strings, so it is left out of its own scan
    val exempt = Set("GraftSession.scala", "GraftSessionSpec.scala")
    val sources = SourceScan.files("src/main", "src/test")
      .filterNot(p => exempt(p.getFileName.toString))
    assert(sources.size > 50, s"scan found only ${sources.size} files")
    assert(Files.readString(Paths.get("src/main/scala/graft/GraftSession.scala"))
      .contains("SparkSession.builder()"))
    assert(SourceScan.sites(sources, """SparkSession\s*\.\s*builder""").isEmpty)
    assert(SourceScan.sites(sources, "SPARK_GRAFT_CPUS").isEmpty)
  }
}
