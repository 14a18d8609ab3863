package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Smoke test of the profiling tool's three modes on sf0.001. */
class PerfSpec extends AnyFunSuite {

  private def perf(mode: String): Seq[String] =
    Perf.run(TestSpark.spark, Seq(mode, TestSpark.sf0001, "q01_summary_agg"))

  test("Perf time/jobs/plan each report q01") {
    val Seq(time) = perf("time")
    assert(time.startsWith("""{"mode":"time""""))
    assert(time.contains(""""q01_summary_agg":{"min":"""))
    val Seq(jobs) = perf("jobs")
    assert(jobs.contains(""""query":"q01_summary_agg""""))
    assert(jobs.contains(""""jobs":[{"job":"""))
    val Seq(plan) = perf("plan")
    assert(plan.startsWith("=== q01_summary_agg ===\n"))
    assert(plan.contains("== final plan ==\n"))
    assert(plan.contains("Scan parquet"))
  }
}
