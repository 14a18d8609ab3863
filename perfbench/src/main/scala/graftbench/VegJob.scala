package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.BenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.In
import org.apache.spark.sql.catalyst.plans.logical.Filter

import graft.pipeline.{Exprs, GeoJson, PipelineMetrics, Reports, VegPipeline}

/** One reference CLI run over a workload's inputs: read the gardens,
  * build the cell index and its broadcast lookup, score the tiles, write
  * the per-garden CSV, toid2uprn and summary, then release the index so
  * the next job cannot reuse memoized state. */
object VegJob {

  val ReportFiles = Seq("-vegetation.csv", "-toid2uprn.csv", "-summary.txt")

  /** Self times of one traced job and its wall time, in seconds, plus the
    * IN-set size of its pruning predicate. */
  final case class Steps(ingest: Double, indexBuild: Double, broadcastBuild: Double,
                         prune: Double, plan: Double, score: Double, report: Double,
                         release: Double, wall: Double, pruneIds: Long) {
    def selfSum: Double =
      ingest + indexBuild + broadcastBuild + prune + plan + score + report + release
  }

  private def tiles(spark: SparkSession, in: Workloads.Inputs): (DataFrame, Option[DataFrame]) =
    (spark.read.parquet(in.tilesPath),
      if (in.spec.cir) Some(spark.read.parquet(in.cirPath)) else None)

  private def prefix(out: Path, spec: VegSpec): String =
    out.resolve("garden").toString + "OSGB" + spec.kernels.map("-" + _).mkString

  /** SHA-256 over the report files, in a fixed order. */
  def digest(out: Path, spec: VegSpec): String = {
    val p = prefix(out, spec)
    Workloads.sha256(ReportFiles.flatMap(s => Files.readAllBytes(Path.of(p + s))).toArray)
  }

  private def write(perGarden: DataFrame, out: Path, spec: VegSpec): Unit = {
    Files.createDirectories(out)
    Reports.writeAll(perGarden, spec.kernels, "OSGB", out.resolve("garden").toString,
      Exprs.EPSG27700)
  }

  private def release(index: VegPipeline.PolyIndex, broadcast: Boolean): Unit = {
    if (broadcast) index.broadcastLookup.destroy()
    index.cellPolys.unpersist(blocking = true)
    index.prepared.unpersist(blocking = true)
  }

  /** The job as a user runs it; returns the report digest. */
  def run(spark: SparkSession, in: Workloads.Inputs, out: Path,
          broadcastPolys: Boolean = true): String = {
    val spec = in.spec
    val gardens = GeoJson.readGardensLines(spark, in.gardensPath, Exprs.EPSG27700)
    val index = VegPipeline.buildIndex(spark, gardens, spec.tileSize)
    val (t, cir) = tiles(spark, in)
    val perGarden = VegPipeline.scoreAgainst(spark, index, t, spec.config(broadcastPolys), cir)
    write(perGarden, out, spec)
    release(index, broadcastPolys)
    digest(out, spec)
  }

  private def secs[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  /** The same job, with each module call timed on its own and no work
    * added: the memoized index steps are forced one by one in the order
    * `scoreAgainst` would force them, and the report's sort-and-collect
    * is the action that scores the tiles. `actions` splits that action's
    * wall time into Catalyst optimize + plan (counted in `plan`), the
    * scoring execution (`score`) and the driver-side CSV writing
    * (`report`). `onReport` brackets the report call so the caller can
    * attribute listener totals to it. `wall` spans ingest to release;
    * the digest and the predicate inspection fall outside it. */
  def traced(spark: SparkSession, in: Workloads.Inputs, out: Path, metrics: PipelineMetrics,
             actions: ActionListener, onReport: (=> Unit) => Unit): (Steps, String) = {
    val spec = in.spec
    val cfg = spec.config(broadcastPolys = true).copy(metrics = Some(metrics))
    val t0 = System.nanoTime()
    val (ingest, gardens) = secs(GeoJson.readGardensLines(spark, in.gardensPath, Exprs.EPSG27700))
    // buildIndex is lazy; the size estimate is the first action over the
    // persisted `prepared` frame and materializes it
    val (indexBuild, index) = secs {
      val idx = VegPipeline.buildIndex(spark, gardens, spec.tileSize)
      idx.broadcastEstimateBytes
      idx
    }
    val (broadcastBuild, _) = secs(index.broadcastLookup)
    val (prune, pred) = secs(VegPipeline.tileIdPredicate(index, cfg))
    val (build, (t, perGarden)) = secs {
      val (t, cir) = tiles(spark, in)
      (t, VegPipeline.scoreAgainst(spark, index, t, cfg, cir))
    }
    var (writeS, actionS, planS) = (0.0, 0.0, 0.0)
    onReport {
      BenchBridge.drainListeners(spark.sparkContext)
      val (a0, p0) = actions.snapshot
      writeS = secs(write(perGarden, out, spec))._1
      BenchBridge.drainListeners(spark.sparkContext)
      val (a1, p1) = actions.snapshot
      actionS = a1 - a0
      planS = p1 - p0
    }
    val (rel, _) = secs(release(index, broadcast = true))
    val wall = (System.nanoTime() - t0) / 1e9
    // IN-set size of the covering-range predicate, -1 for the range form
    val pruneIds = pred.flatMap(p => t.where(p).queryExecution.analyzed.collectFirst {
      case f: Filter => f.condition.collectFirst { case e: In => e.list.size.toLong }
    }.flatten).getOrElse(-1L)
    (Steps(ingest, indexBuild, broadcastBuild, prune, build + planS, actionS - planS,
      writeS - actionS, rel, wall, pruneIds), digest(out, spec))
  }
}
