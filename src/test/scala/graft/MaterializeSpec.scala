package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The one materialization policy stays the one: no operator checkpoints
  * on its own or changes the context's checkpoint directory. */
class MaterializeSpec extends AnyFunSuite {

  test("checkpoint and setCheckpointDir calls appear in src/main only in Materialize") {
    val calls = """localCheckpoint\(|\.checkpoint\(|setCheckpointDir"""
    val policy = Paths.get("src/main/scala/graft/Materialize.scala")
    val sources = SourceScan.files("src/main")
    assert(sources.size > 50, s"scan found only ${sources.size} files")
    assert(Files.exists(policy) && SourceScan.sites(Seq(policy), calls).nonEmpty)
    val elsewhere = SourceScan.sites(sources.filterNot(_.endsWith(policy)), calls)
    assert(elsewhere.isEmpty, elsewhere.mkString("\n"))
  }
}
