package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** `graft/tools` holds only the mains that a round's workflow or a test
  * runs. A one-shot probe leaves its figures in PROBES.md and its code in
  * git history; a new main joins [[ToolsSpec.Kept]] with the reason it
  * stays. */
class ToolsSpec extends AnyFunSuite {

  test("graft/tools holds exactly the kept mains") {
    val found = Option(new File("src/main/scala/graft/tools").listFiles())
      .toSeq.flatten.map(_.getName)
      .filter(_.endsWith(".scala")).map(_.stripSuffix(".scala")).toSet
    assert(found.nonEmpty, "tool sources not found")
    val kept = ToolsSpec.Kept.keySet
    assert(found == kept,
      s"not in the kept list: ${(found -- kept).toSeq.sorted}; " +
        s"listed but missing: ${(kept -- found).toSeq.sorted}")
  }
}

object ToolsSpec {
  /** Each kept main, with what runs it. */
  val Kept: Map[String, String] = Map(
    "Cli" -> "the reference CLI (README, Running)",
    "EngineScaleProbe" -> ("the 1M-vector data and steps the lookup-chunk " +
      "measurement runs first"),
    "ExplainCheck" -> "physical-plan shuffle audit of catalog queries",
    "GenOracleFixtures" -> "regenerates the fixtures FixtureOracleSpec reads",
    "JobCount" -> "jobs, stages and tasks per catalog query",
    "PlanAudit" -> "physical plans of the index-probed paths",
    "QualityReport" -> "the round's QUALITY artifact",
    "TimeQ" -> "warm timing samples per catalog query")
}
