package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

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
    val sources = Seq("src/main", "src/test").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }.filterNot(p => exempt(p.getFileName.toString))
    assert(sources.size > 50, s"scan found only ${sources.size} files")
    def sites(pattern: String): Seq[String] = sources.flatMap { p: Path =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if pattern.r.findFirstIn(line).isDefined => s"$p:${i + 1}"
      }
    }
    assert(Files.readString(Paths.get("src/main/scala/graft/GraftSession.scala"))
      .contains("SparkSession.builder()"))
    assert(sites("""SparkSession\s*\.\s*builder""").isEmpty)
    assert(sites("SPARK_GRAFT_CPUS").isEmpty)
  }
}
