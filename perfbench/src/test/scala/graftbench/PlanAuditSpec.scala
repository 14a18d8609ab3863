package graftbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.ScoreFragments

/** Plan audit of the benchmark's timed actions: each job's report action
  * must still run the work its output depends on, so a change cannot make
  * the benchmark faster by letting Catalyst prune what it is meant to
  * time. The plans are captured from the actions the job really runs. */
class PlanAuditSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  private lazy val spark = Main.session(2, shufflePartitions = 2, adaptive = true,
    Files.createTempDirectory("plan-audit").toString)
  private val plans = mutable.ArrayBuffer[(String, SparkPlan)]()

  override def beforeAll(): Unit =
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized(plans += funcName -> qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })

  override def afterAll(): Unit = spark.stop()

  /** The workload at a few tiles, same options. */
  private def small(name: String): Workloads.Inputs = {
    val s = Workloads.veg(name)
    val spec = s.copy(gridW = 3, gridH = 3, gardens = 40,
      missingPerMille = if (s.missingPerMille > 0) 200 else 0)
    val in = Workloads.inputsDir(Files.createTempDirectory("plan-audit-in"), spec, 7L, "audit")
    Workloads.generate(spark, in)
    in
  }

  /** Plans of the actions one job runs, with its digest. */
  private def jobPlans(in: Workloads.Inputs): (Seq[(String, SparkPlan)], String) = {
    plans.synchronized(plans.clear())
    val d = VegJob.run(spark, in, Files.createTempDirectory("plan-audit-out"))
    org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
    (plans.synchronized(plans.toList), d)
  }

  private def scores(p: SparkPlan): Boolean =
    collect(p) { case g: GenerateExec => g }
      .exists(_.generator.find(_.isInstanceOf[ScoreFragments]).isDefined)

  private def scansBytesOf(p: SparkPlan, table: String): Boolean =
    collect(p) { case s: FileSourceScanExec => s }.exists { s =>
      s.relation.location.rootPaths.exists(_.toString.endsWith(table)) &&
        s.requiredSchema.fieldNames.contains("bytes")
    }

  private def reportAction(ps: Seq[(String, SparkPlan)]): SparkPlan = {
    val scored = ps.filter { case (f, p) => f == "collect" && scores(p) }
    assert(scored.nonEmpty, s"no collect runs ScoreFragments among ${ps.map(_._1)}")
    scored.last._2
  }

  test("veg_dense: the report action decodes and scores every covered tile") {
    val (ps, d) = jobPlans(small("veg_dense"))
    val p = reportAction(ps)
    assert(scansBytesOf(p, "tiles.parquet"), "tile bytes pruned from the scored scan")
    assert(d.nonEmpty)
  }

  test("veg_scan: the zero-fill pass and the pruned byte scan both stay in the plan") {
    val (ps, _) = jobPlans(small("veg_scan"))
    val p = reportAction(ps)
    assert(scansBytesOf(p, "tiles.parquet"))
    val antiJoins = collect(p) { case j: BaseJoinExec => j }.filter(_.joinType.toString == "LeftAnti")
    assert(antiJoins.nonEmpty, "missing-tile zero-fill join pruned")
    assert(collect(p) { case s: FileSourceScanExec => s }.exists(_.dataFilters.nonEmpty),
      "covering-range predicate no longer reaches the tile scan")
  }

  test("irgb_fusion: the RGB ⋈ CIR join feeds the scorer with both byte columns") {
    val (ps, _) = jobPlans(small("irgb_fusion"))
    val p = reportAction(ps)
    val fused = collect(p) { case j: BaseJoinExec => j }.filter { j =>
      scansBytesOf(j.left, "tiles.parquet") && scansBytesOf(j.right, "cir.parquet")
    }
    assert(fused.nonEmpty, "RGB ⋈ CIR join (with both byte columns) pruned")
  }

  test("the reference digest path agrees with the timed broadcast path") {
    val in = small("veg_scan")
    val ref = VegJob.run(spark, in, Files.createTempDirectory("plan-audit-ref"),
      broadcastPolys = false)
    assert(VegJob.run(spark, in, Files.createTempDirectory("plan-audit-out")) == ref)
  }

  test("job tail: the highest percentile that leaves 10 samples beyond it") {
    val xs = (1 to 40).map(_.toDouble)
    assert(Main.tail(xs) == ((30.0, 75.0, 10)))
    assert(Main.tail(Seq(3.0, 1.0, 2.0)) == ((3.0, 100.0, 0)))
  }
}
