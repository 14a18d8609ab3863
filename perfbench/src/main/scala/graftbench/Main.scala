package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.BenchBridge
import org.apache.spark.sql.SparkSession

import graft.pipeline.PipelineMetrics

/** Benchmark process for one workload. It runs in two JVMs, so the
  * measuring one starts the same way whether the input cache was warm:
  *
  *  1. `--prepare`: on a cache miss, a local[cpus] session writes the
  *     workload's seeded inputs into the keyed cache directory, then a
  *     local[cpus/2] session computes the expected report digest through
  *     the shuffled cell join. On a hit it does nothing.
  *  2. Otherwise: a local[cpus] session sets up several times (cache load
  *     plus a digest-checked warm-up job), then runs jobs back to back for
  *     the given seconds. With `--trace 1` it interleaves traced jobs and
  *     replays the executor-side kernels single-threaded. The result goes
  *     to `--out` as one JSON object; the launcher prints it. */
object Main {

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  private def secs[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  def session(cpus: Int, shufflePartitions: Int, adaptive: Boolean, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", Paths.get(localDir, "warehouse").toString)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", adaptive.toString)
      // image-bytes tables: small columnar batches and splits, as the
      // repo's own bench tile session sets them
      .config("spark.sql.parquet.columnarReaderBatchSize", "128")
      .config("spark.sql.files.maxPartitionBytes", (32 << 20).toString)
      // bounded status-store retention, so retained heap reflects the job
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      // a heartbeat in flight when the context stops stalls stop() for
      // 10 s; local mode needs no executor heartbeats
      .config("spark.executor.heartbeatInterval", "100s")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case null => "null"
    case other => json(other.toString)
  }

  private def writeOut(path: String, obj: collection.Map[String, Any]): Unit =
    Files.write(Paths.get(path), json(obj).getBytes(StandardCharsets.UTF_8))

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val dataRoot = Paths.get(arg(args, "data")).toAbsolutePath
    val cpus = arg(args, "cpus").toInt
    val localDir = dataRoot.resolve("spark-local").toString
    val spec = Workloads.veg.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val in = Workloads.inputsDir(dataRoot.resolve("inputs"), spec, seed, arg(args, "stamp"))
    if (args.contains("--prepare")) ensureInputs(in, cpus, math.max(1, cpus / 2), localDir)
    else measure(in, cpus, localDir, arg(args, "out"), arg(args, "seconds").toDouble,
      arg(args, "trace") == "1", dataRoot.resolve("out").resolve(workload))
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** On a cache miss: generates the inputs at local[cpus], then computes
    * the reference digest at local[refCpus]. */
  private def ensureInputs(in: Workloads.Inputs, cpus: Int, refCpus: Int,
                           localDir: String): Unit = {
    if (Files.exists(in.manifest)) return
    val genSpark = session(cpus, shufflePartitions = cpus, adaptive = true, localDir)
    val tmp = Paths.get(in.dir.toString + ".tmp")
    deleteTree(tmp)
    val final0 = in.dir
    val staged = in.copy(dir = tmp)
    val (genS, _) = secs(Workloads.generate(genSpark, staged))
    stop(genSpark)
    val spark = session(refCpus, shufflePartitions = 3, adaptive = false, localDir)
    val (refS, digest) = secs(VegJob.run(spark, staged, tmp.resolve("reference"),
      broadcastPolys = false))
    val rows = spark.read.parquet(staged.tilesPath).count()
    val manifest = mutable.LinkedHashMap[String, Any](
      "key" -> in.key, "spec" -> in.spec.toString,
      "seed" -> in.seed, "source_stamp" -> in.codeStamp,
      "tile_rows" -> rows, "digest" -> digest, "reference_cpus" -> refCpus,
      "gen_cold_s" -> genS, "reference_s" -> refS)
    writeOut(staged.manifest.toString, manifest)
    stop(spark)
    Files.move(tmp, final0)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally w.close()
    }

  private def readManifest(in: Workloads.Inputs): Map[String, String] = {
    val txt = new String(Files.readAllBytes(in.manifest), StandardCharsets.UTF_8)
    "\"([a-z_]+)\": (\"[^\"]*\"|[-0-9.eE]+)".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).stripPrefix("\"").stripSuffix("\"")).toMap
  }

  private def heapAfterGcMiB(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Jobs this JVM runs before the measured window opens. */
  val WarmupJobs = 12

  /** Value at the highest percentile that leaves at least 10 samples
    * above it: (value, percentile, samples beyond). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.size <= 10) (s.last, 100.0, 0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size, 10)
  }

  private def measure(in: Workloads.Inputs, cpus: Int, localDir: String, outFile: String,
                      seconds: Double, trace: Boolean, out: Path): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cpus, shufflePartitions = cpus, adaptive = true, localDir)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val spec = in.spec
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer[String]()

    // --- set-up, several times: cache load + digest-checked warm-up job
    var expected = ""
    var tileRows = 0L
    val loadS = mutable.ArrayBuffer[Double]()
    val setupReps = (1 to 3).map { _ =>
      secs {
        val (l, m) = secs {
          require(Files.exists(in.manifest), s"inputs missing for ${in.dir}")
          val m = readManifest(in)
          require(m("key") == in.key, "stale input cache")
          spark.read.parquet(in.tilesPath).schema
          m
        }
        loadS += l
        expected = m("digest")
        tileRows = m("tile_rows").toLong
        require(VegJob.run(spark, in, out) == expected, "warm-up job digest differs from reference")
      }._1
    }
    val manifest = readManifest(in)
    val setupS = sessionS + Sizes.median(setupReps)

    def timedJob(): Option[Double] = {
      attempted += 1
      try {
        val (t, d) = secs(VegJob.run(spark, in, out))
        if (d != expected) { failed += 1; errors += s"digest $d != $expected" }
        Some(t)
      } catch {
        case NonFatal(e) => failed += 1; errors += e.toString; None
      }
    }

    // JIT warm-up beyond the set-ups: job times of a fresh JVM keep
    // falling for about a dozen jobs, counted from JVM start. Each warm-up
    // job ends with the same full GC as a measured one, so the first
    // measured job does not pay for the warm-up's garbage. The time cap
    // bounds a run on a contended host, where every job is slow.
    val warm0 = System.nanoTime()
    var warmupJobs = 0
    while (setupReps.size + warmupJobs < WarmupJobs && (System.nanoTime() - warm0) / 1e9 < 15) {
      require(VegJob.run(spark, in, out) == expected, "warm-up job digest differs from reference")
      heapAfterGcMiB()
      warmupJobs += 1
    }

    val warmupS = (System.nanoTime() - warm0) / 1e9

    val jobS = mutable.ArrayBuffer[Double]()
    val heap = mutable.ArrayBuffer[Double]()
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9

    if (!trace) {
      while (elapsed < seconds) {
        timedJob().foreach(jobS += _)
        heap += heapAfterGcMiB()
      }
    } else {
      val listener = new EngineListener
      spark.sparkContext.addSparkListener(listener)
      val actions = new ActionListener
      spark.listenerManager.register(actions)
      val pm = PipelineMetrics.create(spark)
      val steps = mutable.ArrayBuffer[VegJob.Steps]()
      val traced = mutable.ArrayBuffer[Double]()
      val engine = mutable.ArrayBuffer[Map[String, Double]]()
      val scoreRun = mutable.ArrayBuffer[Double]()
      val scoreRows = mutable.ArrayBuffer[Double]()
      val counters = mutable.ArrayBuffer[(Long, Long, Long)]()
      while (elapsed < seconds || traced.isEmpty) {
        timedJob().foreach(jobS += _)
        attempted += 1
        try {
          BenchBridge.drainListeners(spark.sparkContext)
          val before = listener.snapshot
          val c0 = (pm.tilesDecoded.value.longValue, pm.fragmentsScored.value.longValue,
            pm.missingTileFragments.value.longValue)
          var scoreBefore = before
          var scoreAfter = before
          val (st, d) = VegJob.traced(spark, in, out, pm, actions, { action =>
            BenchBridge.drainListeners(spark.sparkContext)
            scoreBefore = listener.snapshot
            action
            BenchBridge.drainListeners(spark.sparkContext)
            scoreAfter = listener.snapshot
          })
          BenchBridge.drainListeners(spark.sparkContext)
          if (d != expected) { failed += 1; errors += s"traced digest $d != $expected" }
          traced += st.wall
          steps += st
          engine += EngineListener.delta(listener.snapshot, before)
          scoreRun += scoreAfter("task_run_s") - scoreBefore("task_run_s")
          scoreRows += scoreAfter("scan_rows") - scoreBefore("scan_rows")
          counters += ((pm.tilesDecoded.value - c0._1, pm.fragmentsScored.value - c0._2,
            pm.missingTileFragments.value - c0._3))
        } catch {
          case NonFatal(e) => failed += 1; errors += e.toString
        }
      }
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(actions)
      val med = (f: VegJob.Steps => Double) => Sizes.median(steps.map(f).toSeq)
      val eng = (k: String) => Sizes.median(engine.map(_(k)).toSeq)
      val scoreS = med(_.score)
      val tilesDecoded = Sizes.median(counters.map(_._1.toDouble).toSeq)
      val fragments = Sizes.median(counters.map(_._2.toDouble).toSeq)
      val replay = KernelReplay.run(spark, in, minSeconds = 0.25)
      val untraced = Sizes.median(jobS.toSeq)
      val explained = Sizes.median(steps.map(_.selfSum).toSeq) / untraced
      def put(k: String, v: Double, unit: String): Unit = metrics(k) = (v, unit)
      put("sources.ingest_s", med(_.ingest), "s")
      put("sources.report_s", med(_.report), "s")
      put("vegpipeline.index_build_s", med(_.indexBuild), "s")
      put("vegpipeline.broadcast_build_s", med(_.broadcastBuild), "s")
      put("vegpipeline.broadcast_bytes", replay("vegpipeline.broadcast_bytes"), "bytes")
      put("vegpipeline.plan_s", med(_.plan), "s")
      put("vegpipeline.score_s", scoreS, "s")
      put("vegpipeline.prune_s", med(_.prune), "s")
      put("vegpipeline.prune_ids", steps.last.pruneIds.toDouble, "count")
      put("vegpipeline.release_s", med(_.release), "s")
      Seq("jobs" -> "count", "tasks" -> "count", "scan_bytes" -> "bytes",
        "scan_rows" -> "count", "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes",
        "task_cpu_s" -> "s", "task_run_s" -> "s", "gc_s" -> "s").foreach { case (k, u) =>
        put(s"engine.$k", eng(k), u)
      }
      put("engine.core_util", Sizes.median(scoreRun.toSeq) / (cpus * scoreS), "ratio")
      put("metrics.tiles_decoded", tilesDecoded, "count")
      put("metrics.fragments_scored", fragments, "count")
      put("metrics.missing_tile_fragments",
        Sizes.median(counters.map(_._3.toDouble).toSeq), "count")
      put("engine.score_scan_rows", Sizes.median(scoreRows.toSeq), "count")
      put("metrics.decode_yield", tilesDecoded / Sizes.median(scoreRows.toSeq), "ratio")
      put("img.decode_us", replay("img.decode_us"), "us")
      put("img.fuse_us", replay("img.fuse_us"), "us")
      put("img.decode_core_s", replay("img.decode_us") * tilesDecoded / 1e6, "s")
      put("geom.mask_us", replay("geom.mask_us"), "us")
      put("index.interior_ratio", replay("index.interior_ratio"), "ratio")
      put("kernel.classify_ns_per_px", replay("kernel.classify_ns_per_px"), "ns")
      put("polyblob.deserialize_us", replay("polyblob.deserialize_us"), "us")
      put("polyblob.score_us", replay("polyblob.score_us"), "us")
      put("polyblob.score_core_s", replay("polyblob.score_us") * fragments / 1e6, "s")
      put("trace.job_s", Sizes.median(traced.toSeq), "s")
      put("trace.overhead_frac", Sizes.median(traced.toSeq) / untraced - 1, "ratio")
      put("trace.explained_frac", explained, "ratio")
      val (tailV, tailPct, beyond) = tail(jobS.toSeq)
      put("job.tail_s", tailV, "s")
      put("job.tail_percentile", tailPct, "%")
      put("job.tail_beyond", beyond.toDouble, "count")
      put("setup.session_s", sessionS, "s")
      put("setup.gen_cold_s", manifest("gen_cold_s").toDouble, "s")
      put("setup.gen_warm_s", Sizes.median(loadS.toSeq), "s")
      put("setup.reference_s", manifest("reference_s").toDouble, "s")
    }

    val (tailV, tailPct, beyond) = if (jobS.isEmpty) (Double.NaN, 0.0, 0) else tail(jobS.toSeq)
    val untracedS = Sizes.median(jobS.toSeq)
    if (!trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("job_s") = (untracedS, "s")
      metrics("tiles_per_s") = (tileRows / untracedS, "tiles/s")
      metrics("heap_retained_mib") = (Sizes.median(heap.toSeq), "MiB")
    }
    val info = mutable.LinkedHashMap[String, Any](
      "workload" -> spec.name, "seed" -> in.seed, "cpus" -> cpus,
      "heap_max_mib" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "tile_rows" -> tileRows, "gardens" -> spec.gardens, "spec" -> spec.toString,
      "jobs" -> jobS.size, "job_s_all" -> jobS,
      "job_tail_s" -> tailV, "job_tail_percentile" -> tailPct, "job_tail_beyond" -> beyond,
      "failed_frac" -> (failed.toDouble / math.max(attempted, 1)),
      "setup_reps_s" -> setupReps, "warmup_jobs" -> warmupJobs, "session_s" -> sessionS,
      "gen_cold_s" -> manifest("gen_cold_s").toDouble,
      "reference_s" -> manifest("reference_s").toDouble, "measure_wall_s" -> elapsed,
      "expected_digest" -> expected, "errors" -> errors.take(5))
    val (stopS, _) = secs(spark.stop())
    info("warmup_s") = warmupS
    info("stop_s") = stopS
    info("jvm_uptime_s") = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    writeOut(outFile, mutable.LinkedHashMap[String, Any](
      "correct" -> (failed == 0 && jobS.nonEmpty), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u) },
      "info" -> info))
  }
}
