package graftbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import graft.geom.Rasterize
import graft.img.{Codec, Raster}
import graft.index.ZIndex
import graft.kernel.Kernels
import graft.pipeline.{Exprs, GeoJson, PolyBlob, VegPipeline}

/** Task-level totals from Spark's public listener interface. */
final class EngineListener extends SparkListener {
  @volatile var jobs = 0L
  @volatile var tasks = 0L
  @volatile var scanBytes = 0L
  @volatile var scanRows = 0L
  @volatile var shuffleBytes = 0L
  @volatile var spillBytes = 0L
  @volatile var cpuNs = 0L
  @volatile var runMs = 0L
  @volatile var gcMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      scanBytes += m.inputMetrics.bytesRead
      scanRows += m.inputMetrics.recordsRead
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
    }
  }

  def snapshot: Map[String, Double] = synchronized(Map(
    "jobs" -> jobs.toDouble, "tasks" -> tasks.toDouble, "scan_bytes" -> scanBytes.toDouble,
    "scan_rows" -> scanRows.toDouble, "shuffle_bytes" -> shuffleBytes.toDouble,
    "spill_bytes" -> spillBytes.toDouble, "task_cpu_s" -> cpuNs / 1e9,
    "task_run_s" -> runMs / 1e3, "gc_s" -> gcMs / 1e3))
}

object EngineListener {
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before(k)) }
}

/** Totals over the SQL actions that ended: their wall time and the part
  * of it Catalyst spent optimizing and planning them. */
final class ActionListener extends QueryExecutionListener {
  private var actionNs = 0L
  private var planMs = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val p = Seq(QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
      .flatMap(phases.get).map(_.durationMs).sum
    synchronized { actionNs += durationNs; planMs += p }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** (action seconds, optimize + plan seconds) so far. */
  def snapshot: (Double, Double) = synchronized((actionNs / 1e9, planMs / 1e3))
}

/** Single-threaded replays of the executor-side kernels on a workload's
  * own decoded tiles and (polygon, tile) fragments. */
object KernelReplay {

  private final case class Frag(cell: Long, blob: Array[Byte])

  /** Runs `f` over `items` repeatedly until `minSeconds` have passed;
    * returns microseconds per item. */
  private def perItemUs[A](items: Seq[A], minSeconds: Double)(f: A => Unit): Double = {
    if (items.isEmpty) return 0.0
    var n = 0L
    val t0 = System.nanoTime()
    var el = 0.0
    while (el < minSeconds) {
      items.foreach(f)
      n += items.size
      el = (System.nanoTime() - t0) / 1e9
    }
    el * 1e6 / n
  }

  def run(spark: SparkSession, in: Workloads.Inputs, minSeconds: Double): Map[String, Double] = {
    val spec = in.spec
    val ts = spec.tileSize
    val kernels = spec.kernels.map(Kernels.all(_)).toArray
    val index = VegPipeline.buildIndex(spark,
      GeoJson.readGardensLines(spark, in.gardensPath, Exprs.EPSG27700), ts)
    val frags = index.prepared.select(col("blob"), col("cells")).collect().toSeq.flatMap { r =>
      val blob = r.getAs[Array[Byte]](0)
      r.getSeq[Long](1).map(c => Frag(c, blob))
    }
    val broadcastBytes = Sizes.javaSerialized(index.broadcastLookup.value)
    index.broadcastLookup.destroy(); index.cellPolys.unpersist(); index.prepared.unpersist()
    val cells = frags.map(_.cell).toSet
    def byCell(path: String): Map[Long, Array[Byte]] =
      spark.read.parquet(path)
        .select(VegPipeline.tileCell(col("image_id")).as("cell"), col("bytes"))
        .collect().iterator.map(r => r.getLong(0) -> r.getAs[Array[Byte]](1))
        .filter(kv => cells(kv._1)).toMap
    val rgb = byCell(in.tilesPath)
    val cir = if (spec.cir) byCell(in.cirPath) else Map.empty[Long, Array[Byte]]
    val tileBytes = rgb.values.toSeq

    val decodeUs = perItemUs(tileBytes, minSeconds)(b => Codec.decodeBGR(b))
    val rasters: Map[Long, Raster] = rgb.map { case (c, b) =>
      val r = Codec.decodeBGR(b)
      c -> cir.get(c).fold(r)(cb => Codec.fuseBGRI(r, Codec.decodeBGR(cb)))
    }
    val fuseUs =
      if (!spec.cir) 0.0
      else perItemUs(rgb.keys.toSeq.filter(cir.contains), minSeconds) { c =>
        Codec.fuseBGRIWindow(Codec.decodeBGR(rgb(c)), Codec.decodeBGR(cir(c)), 0, 0, ts - 1, ts - 1)
      }
    // per-pixel classify cost over whole tiles with a full mask
    val fullMask = Array.fill(ts * ts)(true)
    val pixels = rasters.values.toSeq
    val classifyUs = perItemUs(pixels, minSeconds) { r =>
      kernels.foreach(k => Kernels.countVeg(k, r.data, r.channels, fullMask))
    }
    val classifyNsPerPx =
      if (pixels.isEmpty) 0.0 else classifyUs * 1e3 / (ts.toDouble * ts * kernels.length)

    val prepared = frags.map(f => f -> PolyBlob.deserialize(f.blob))
    val deserUs = perItemUs(frags, minSeconds)(f => PolyBlob.deserialize(f.blob))
    // mask windows of the fragments the scorer rasterizes, and the
    // whole-cell windows it may short-circuit
    var wholeCell = 0L; var interior = 0L
    val windows = prepared.flatMap { case (f, pp) =>
      val e = ZIndex.cellE(f.cell); val n = ZIndex.cellN(f.cell)
      val tx0 = e * ts; val ty0 = n * ts
      val wx0 = math.max(pp.cropX0, tx0); val wx1 = math.min(pp.cropX1, tx0 + ts - 1)
      val wy0 = math.max(pp.cropY0, ty0); val wy1 = math.min(pp.cropY1, ty0 + ts - 1)
      if (wx0 > wx1 || wy0 > wy1) None
      else {
        val w = wx1 - wx0 + 1; val h = wy1 - wy0 + 1
        val whole = w == ts && h == ts
        val inner = whole && ZIndex.rectFullyCovered(pp.gPix, tx0, ty0, tx0 + ts, ty0 + ts)
        if (whole) wholeCell += 1
        if (inner) interior += 1
        if (inner) None else Some((pp, wx0, wy0, w, h))
      }
    }
    val maskUs = perItemUs(windows, minSeconds) { case (pp, x0, y0, w, h) =>
      Rasterize.countMask(Rasterize.maskWindow(pp.gPix, x0, y0, w, h))
    }
    val scoreUs = perItemUs(prepared, minSeconds) { case (f, pp) =>
      PolyBlob.scoreFragment(pp, ZIndex.cellE(f.cell), ZIndex.cellN(f.cell), ts,
        rasters.getOrElse(f.cell, null), kernels)
    }
    Map(
      "vegpipeline.broadcast_bytes" -> broadcastBytes.toDouble,
      "img.decode_us" -> decodeUs,
      "img.fuse_us" -> fuseUs,
      "geom.mask_us" -> maskUs,
      "index.interior_ratio" -> (if (wholeCell == 0) 0.0 else interior.toDouble / wholeCell),
      "kernel.classify_ns_per_px" -> classifyNsPerPx,
      "polyblob.deserialize_us" -> deserUs,
      "polyblob.score_us" -> scoreUs)
  }
}

object Sizes {
  /** Size of a value as Java serialization writes it (broadcast payloads). */
  def javaSerialized(o: AnyRef): Long = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bos)
    out.writeObject(o)
    out.close()
    bos.size().toLong
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
