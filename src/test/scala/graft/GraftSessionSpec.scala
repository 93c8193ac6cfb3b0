package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.expressions.{Expression, GetJsonObject}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.plans.JsonIntField

/** The session factory: its core-count parser, a tree scan that keeps it
  * the only place a session is built or the core count read, and a gate
  * that its optimizer rules reach the plans they were written for. */
class GraftSessionSpec extends SparkSpec {

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

  test("the JSON int kernel reaches every events key that reads k, unnested and stable") {
    // every expression of a physical plan: children, inner plans (adaptive
    // and cached) and subqueries
    def expressions(p: SparkPlan): Seq[Expression] = p match {
      case a: AdaptiveSparkPlanExec => expressions(a.executedPlan)
      case _ => p.expressions ++ (p.children ++ p.subqueries ++
        p.innerChildren.collect { case c: SparkPlan => c }).flatMap(expressions)
    }
    for (key <- Seq("q_pass_segments", "q_heatmap2d", "q_pitch_geometry",
        "q_receptions", "q_direction", "q_key_join")) {
      val qe = SparkEntry.queries(key)(spark, sfDir).queryExecution
      val exprs = expressions(qe.executedPlan)
      val kernels = exprs.flatMap(_.collect { case j: JsonIntField => j })
      assert(kernels.nonEmpty, s"$key: no kernel in\n${qe.executedPlan}")
      assert(!exprs.exists(_.exists(_.isInstanceOf[GetJsonObject])),
        s"$key: a bare get_json_object in\n${qe.executedPlan}")
      kernels.foreach { j =>
        assert(!j.json.exists(_.isInstanceOf[JsonIntField]), s"$key: nested $j")
        assert(!j.fallback.exists(_.isInstanceOf[JsonIntField]), s"$key: nested $j")
      }
      val optimized = qe.optimizedPlan
      val again = spark.sessionState.optimizer.execute(optimized)
      assert(JsonIntFieldSpec.kernels(again) == JsonIntFieldSpec.kernels(optimized), key)
    }
  }
}
