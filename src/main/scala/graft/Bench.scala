package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.data.Synthetic
import graft.pipeline.VegPipeline

/** Benchmark main. Prints exactly ONE JSON line:
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...,
  *  "scaling":{...}}
  *
  * Two parts:
  *  1. headline queries at local[cpus] on SPARK_GRAFT_SF_DIR, measured as
  *     min over INTERLEAVED rounds (all queries per round, >=4 rounds) —
  *     the sandbox VM has multi-minute kernel-stall epochs, and
  *     interleaving exposes every query to the same epochs so the min is
  *     the honest machine capability (a sequential min-of-2 let one stall
  *     poison single queries in round 2's bench);
  *  2. the north-rule scaling experiment: the flagship polygon⋈tile
  *     vegetation job on the SAME parquet tile table at local[2/8/32]
  *     (N vs 4N cluster-size proxies), reporting tiles/sec at each and
  *     the scaling efficiencies. Also appended to BENCH/BASELINE.md.
  *
  * The image-table parquet tunings (small columnar batches + small
  * splits) are scoped to the TILE-table session only — they tax row-heavy
  * relational scans, so the headline queries run under default reader
  * configs in a sibling session sharing the same SparkContext.
  */
object Bench {

  private val TileConfs = Seq(
    // image-bytes tables: small columnar batches (4096-row default means
    // ~450MB of column vector per task) and smaller splits for parallelism
    "spark.sql.parquet.columnarReaderBatchSize" -> "128",
    "spark.sql.files.maxPartitionBytes" -> (32 * 1024 * 1024).toString)

  /** Waves-aware input splits: if the default image-table config (32 MB
    * cap, 4 MB open cost) would pack the scan into fewer than ~6 task
    * waves at this core count, shrink the split size so it reaches 6.
    * Measured on this box (interleaved A/B, 3 reps/arm): the default
    * leaves the 480k-tile scan at 110 tasks = 3.4 waves of 32 with a ~1 s
    * straggler tail (util 0.78); ~192 tasks = 6 waves lifts util to 0.84
    * and cuts the 32-core wall ~6%. At <=8 cores the default already
    * yields >=13 waves and both finer (192-task) and coarser (48-task)
    * shapes measured SLOWER there, so the rule fires only when waves are
    * actually scarce — the low-parallelism legs run byte-identical
    * configs to the high one unless starved. Spark's own bytesPerCore
    * adaptation (FilePartition.maxSplitBytes) moves the same direction
    * but a fixed cap defeats it; this recomputes it against the actual
    * table so the WAVE COUNT, not the byte count, is what the cluster
    * size controls. */
  private val splitCache = scala.collection.mutable.Map[(String, Int), Option[(Long, Long)]]()
  /** Some((openCost, maxPartitionBytes)) when the scan needs finer splits
    * at `cpus`, None to keep the TileConfs defaults. */
  private def adaptiveSplit(path: String, cpus: Int): Option[(Long, Long)] =
    splitCache.getOrElseUpdate((path, cpus), {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(Paths.get(path))
      val sizes = try {
        walk.iterator().asScala
          .filter { p =>
            val n = p.getFileName.toString
            n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
          }
          .map(Files.size(_)).toSeq
      } finally walk.close()
      val defaultTasks = sizes.map(_ + (4L << 20)).sum / (32L << 20)
      val targetTasks = cpus.toLong * 6
      if (defaultTasks >= targetTasks) None
      else {
        val open = 1L << 20
        val mpb = math.max(4L << 20,
          math.min(32L << 20, sizes.map(_ + open).sum / targetTasks))
        Some((open, mpb))
      }
    })
  /** The None branch RESETS to the TileConfs defaults: a prior
    * finer-split scan would otherwise leak into this scan's timing. */
  private def tuneSplits(s: SparkSession, path: String, cpus: Int): Unit =
    adaptiveSplit(path, cpus) match {
      case Some((open, mpb)) =>
        s.conf.set("spark.sql.files.openCostInBytes", open.toString)
        s.conf.set("spark.sql.files.maxPartitionBytes", mpb.toString)
      case None =>
        s.conf.set("spark.sql.files.openCostInBytes", (4L << 20).toString)
        s.conf.set("spark.sql.files.maxPartitionBytes", (32L << 20).toString)
    }

  private def withTileConfs(s: SparkSession): SparkSession = {
    TileConfs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** The registry's headline queries, in registry order. */
  private[graft] def headline: Seq[String] = Queries.specs.filter(_.headline).map(_.name)

  /** Every key of the BENCH JSON `queries` map, in output order. */
  private[graft] def leafKeys: Seq[String] =
    headline ++ Seq("q30_veg_flagship", "q34_irgb_fused", "q34_irgb_bucketed")

  final case class BenchData(tilesPath: String, gardensPath: String,
                             gridW: Int, gridH: Int, ts: Int, nGardens: Long,
                             tilesQuarterPath: String, cirQuarterPath: String,
                             gridHq: Int, geojsonlPath: String) {
    def nTiles: Long = gridW.toLong * gridH
    def nTilesQuarter: Long = gridW.toLong * gridHq
  }

  /** Deterministic bench tile/garden tables, generated once to parquet so
    * benchmark runs measure the engine (parquet scan + join + kernels),
    * not the generator. */
  private[graft] def benchData(spark: SparkSession, sfDir: String): BenchData = {
    // sf0.1 runs a 400x1200 extent (480,000 256px jpg tiles): every id
    // is a VALID OSGB code (the synthetic base (400,100) caps a valid
    // grid at 400 wide x 1200 tall; round 2's 576x576 table had only
    // 400x576 valid ids — 30% dead rows inflating tiles/sec by 1.44x),
    // and the extent is large enough that the fixed per-job cost
    // (planning, scheduling, final collect, ~1 s) amortizes: the N-vs-4N
    // scaling efficiency measures the engine, not the constant.
    val (gridW, gridH, ts, nGardens) =
      if (sfDir.contains("sf0.1")) (400, 1200, 256, 80000L)
      else if (sfDir.contains("sf0.01")) (32, 32, 256, 8000L)
      else (12, 12, 128, 1000L)
    val root = "data/gen"
    // jpg tiles — the format the reference's OSGB loader actually reads
    // (image_loaders.py:229-233) and ~1/8 the bytes of png, so the bench
    // measures the engine's decode+join+classify CPU rather than a
    // single-box memory-bandwidth floor that a real N-node cluster would
    // scale away with its aggregate I/O (16 GB png: ~5 s/scan at ANY
    // local thread count)
    val tilesPath = s"$root/tilesjpg_g${gridW}x${gridH}_ts$ts"
    val gardensPath = s"$root/gardens_n${nGardens}_g${gridW}x$gridH"
    if (!Files.exists(Paths.get(tilesPath))) {
      // 4 MB row groups: bounds per-reader buffering of the fat binary
      // column (default 128 MB row groups OOM 32 concurrent readers)
      Synthetic.tilesJpg(spark, gridW, gridH, ts)
        .repartition(768)
        .write.mode("overwrite")
        .option("parquet.block.size", (4 * 1024 * 1024).toString)
        .parquet(tilesPath)
    }
    if (!Files.exists(Paths.get(gardensPath))) {
      Synthetic.gardens(spark, nGardens, gridW, gridH)
        .repartition(8)
        .write.mode("overwrite").parquet(gardensPath)
    }
    // quarter-height RGB + CIR jpg tables: (a) the IRGB fused-join (S3/J2)
    // datapoint, (b) the second job size of the t = c + W/p fit that
    // cancels the fixed per-job cost out of the 8->32 efficiency
    val gridHq = math.max(gridH / 4, 1)
    val tilesQPath = s"$root/tilesjpg_g${gridW}x${gridHq}_ts$ts"
    val cirQPath = s"$root/tilescirjpg_g${gridW}x${gridHq}_ts$ts"
    if (!Files.exists(Paths.get(tilesQPath))) {
      Synthetic.tilesJpg(spark, gridW, gridHq, ts)
        .repartition(192)
        .write.mode("overwrite")
        .option("parquet.block.size", (4 * 1024 * 1024).toString)
        .parquet(tilesQPath)
    }
    if (!Files.exists(Paths.get(cirQPath))) {
      Synthetic.tilesCirJpg(spark, gridW, gridHq, ts)
        .repartition(96)
        .write.mode("overwrite")
        .option("parquet.block.size", (4 * 1024 * 1024).toString)
        .parquet(cirQPath)
    }
    // the same gardens as newline-delimited GeoJSON (S1 scale-path ingest
    // datapoint; double coordinates round-trip bit-exactly through JSON)
    val geojsonlPath = s"$root/gardens_n${nGardens}_g${gridW}x$gridH.geojsonl"
    if (!Files.exists(Paths.get(geojsonlPath))) {
      import org.apache.spark.sql.functions._
      spark.read.parquet(gardensPath).select(to_json(struct(
          lit("Feature").as("type"),
          struct(col("id"), col("uprn")).as("properties"),
          struct(lit("MultiPolygon").as("type"), col("geometry").as("coordinates")).as("geometry")))
          .as("value"))
        .write.mode("overwrite").text(geojsonlPath)
    }
    BenchData(tilesPath, gardensPath, gridW, gridH, ts, nGardens,
      tilesQPath, cirQPath, gridHq, geojsonlPath)
  }

  private def cfgOf(ts: Int) = VegPipeline.Config(
    tileSize = ts, kernelNames = Seq("greenleaf", "hsv"), handleMissingTiles = false)

  /** Build the cell→polygon index once per session (a one-time artifact
    * in production, amortized over the full tile-table scan). */
  private def buildIndex(spark: SparkSession, gardensPath: String, ts: Int): VegPipeline.PolyIndex = {
    val idx = VegPipeline.buildIndex(spark, spark.read.parquet(gardensPath), ts)
    idx.cellPolys.count() // materialize both persisted sides
    idx
  }

  /** Returns (result rows, total scored pixels) — the pixel sum doubles
    * as the cross-parallelism output fingerprint (north rule: join output
    * rows and tile assignments must MATCH at N and 4N). */
  private def runFlagship(spark: SparkSession, idx: VegPipeline.PolyIndex,
                          tilesPath: String, ts: Int): (Long, Long) =
    runScore(spark, idx, tilesPath, cfgOf(ts), None)

  private def runScore(spark: SparkSession, idx: VegPipeline.PolyIndex,
                       tilesPath: String, cfg: VegPipeline.Config,
                       cirPath: Option[String]): (Long, Long) =
    runScoreDf(spark, idx, spark.read.parquet(tilesPath), cfg,
      cirPath.map(spark.read.parquet))

  private def runScoreDf(spark: SparkSession, idx: VegPipeline.PolyIndex,
                         tiles: DataFrame, cfg: VegPipeline.Config,
                         cir: Option[DataFrame]): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val res = VegPipeline.scoreAgainst(spark, idx, tiles, cfg, cir)
    // consume npix + fractions so Catalyst cannot prune the scoring join
    val fracs = cfg.kernelNames.map(n => sum(col(s"frac_$n")))
    val row = res.agg(count(lit(1)), (sum("npix") +: fracs): _*).collect()(0)
    require(row.getAs[Long](1) > 0, "flagship produced no scored pixels")
    (row.getAs[Long](0), row.getAs[Long](1))
  }

  private def time[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cpus
    val headlineRounds = sys.env.getOrElse("SPARK_GRAFT_HEADLINE_ROUNDS", "4").toInt

    // ---------- part 1: headline queries at local[cpus]
    // relational queries: DEFAULT reader configs (no image-table tunings)
    val spark = Sessions.local(s"graft-bench-$cpus", cpus)
    val bd = benchData(spark, sfDir)
    import bd.{tilesPath, gardensPath, gridW, gridH, ts, nGardens}
    // the flagship runs in a sibling session with the image-table parquet
    // confs, sharing the same SparkContext/executors
    val tileS = withTileConfs(spark.newSession())
    // warmup (JIT + codegen caches), then interleaved min-of-N rounds
    headline.foreach(name => SparkEntry.queries(name)(spark, sfDir).count())
    val idx0 = buildIndex(tileS, gardensPath, ts)
    tuneSplits(tileS, tilesPath, cpus)
    runFlagship(tileS, idx0, tilesPath, ts) // warm (JIT + scan caches)
    // IRGB fused-join datapoint (S3/J2: RGB ⋈ CIR + Ir-fusion kernels) on
    // the quarter-height tables, same interleaved protocol. Two variants:
    // plain parquet (the RGB⋈CIR join shuffles both byte columns) and
    // cell-BUCKETED tables (the 100 TB-catalog layout: co-located scans,
    // zero Exchange on the fused join — TileBuckets is the write path).
    val irgbCfg = VegPipeline.Config(tileSize = ts,
      kernelNames = Seq("ndvi-irgb", "matt"), handleMissingTiles = false)
    def runIrgb(): (Long, Long) = {
      tuneSplits(tileS, bd.tilesQuarterPath, cpus)
      runScore(tileS, idx0, bd.tilesQuarterPath, irgbCfg, Some(bd.cirQuarterPath))
    }
    runIrgb() // warm
    def ensureBucketed(name: String, srcPath: String): Unit = {
      val loc = new java.io.File(s"spark-warehouse/$name").getAbsolutePath
      if (!Files.exists(Paths.get(loc)))
        graft.sources.TileBuckets.write(tileS, tileS.read.parquet(srcPath), name, 32)
      else if (!tileS.catalog.tableExists(name))
        // fresh JVM over cached files: re-register the bucketed layout
        tileS.sql(s"CREATE TABLE $name (image_id STRING, bytes BINARY, w INT, h INT, " +
          s"fmt STRING, caption STRING, phash BIGINT, cell BIGINT) USING PARQUET " +
          s"CLUSTERED BY (cell) SORTED BY (cell) INTO 32 BUCKETS LOCATION '$loc'")
    }
    val rgbQTable = s"bench_rgb_q_${gridW}x${bd.gridHq}"
    val cirQTable = s"bench_cir_q_${gridW}x${bd.gridHq}"
    ensureBucketed(rgbQTable, bd.tilesQuarterPath)
    ensureBucketed(cirQTable, bd.cirQuarterPath)
    def runIrgbBucketed(): (Long, Long) =
      runScoreDf(tileS, idx0, tileS.table(rgbQTable), irgbCfg,
        Some(tileS.table(cirQTable)))
    val fpIrgb = runIrgb()
    require(runIrgbBucketed() == fpIrgb,
      "bucketed IRGB fingerprint diverged from the plain-parquet join")

    val headlineReps =
      (1 to headlineRounds).map { _ =>
        headline.map(name => time(SparkEntry.queries(name)(spark, sfDir).count())._1) ++
          Seq({ tuneSplits(tileS, tilesPath, cpus)
                time(runFlagship(tileS, idx0, tilesPath, ts))._1 },
            time(runIrgb())._1, time(runIrgbBucketed())._1)
      }
    val queryTimes = scala.collection.mutable.LinkedHashMap[String, Double]()
    leafKeys.zipWithIndex.foreach { case (name, i) =>
      queryTimes(name) = headlineReps.map(_(i)).min
    }
    val tFlag = queryTimes("q30_veg_flagship")
    val tIrgb = queryTimes("q34_irgb_fused")
    val tIrgbB = queryTimes("q34_irgb_bucketed")
    val (nRows, nPix) = runFlagship(tileS, idx0, tilesPath, ts)

    // GeoJSONL ingest datapoint (S1 scale path): normalize the line-based
    // garden file, rebuild the index from it, and prove the flagship
    // output fingerprint is identical to the parquet-garden run
    val (tIngest, gardensFromLines) = time {
      val g = graft.pipeline.GeoJson.readGardensLines(tileS, bd.geojsonlPath,
        crsName = "urn:ogc:def:crs:EPSG::27700")
      g.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      g.count()
      g
    }
    val idxG = VegPipeline.buildIndex(tileS, gardensFromLines, ts)
    idxG.cellPolys.count()
    tuneSplits(tileS, tilesPath, cpus)
    val (tFlagGeo, fpGeo) = time(runFlagship(tileS, idxG, tilesPath, ts))
    require(fpGeo == ((nRows, nPix)),
      s"GeoJSONL-ingested flagship fingerprint $fpGeo != parquet ($nRows, $nPix)")
    spark.stop()

    // ---------- part 2: the N vs 4N scaling experiment
    // Two core pairs, interleaved rounds, min-of-reps per level (the
    // sandbox VM shows random multi-second kernel-time stalls, so the
    // minimum is the honest machine capability and interleaving keeps all
    // levels exposed to the same noise epochs):
    //   * PRIMARY  2 vs 8 cores — on this virtualized box the no-Spark
    //     kernel microbench itself scales 8->32 anywhere from 0.40 to
    //     0.87 BY EPOCH (the host does not reliably co-schedule 32
    //     vCPUs), so the low pair is the only instrument that measures
    //     the ENGINE rather than the hypervisor;
    //   * SECONDARY 8 vs 32 — reported with the same-run no-Spark kernel
    //     ceiling so the host's share of the gap is visible.
    val nTiles = gridW.toLong * gridH
    val nTilesQ = bd.nTilesQuarter
    var fpQuarter: Option[(Long, Long)] = None
    /** One session per (cores) level: full-size reps AND quarter-size reps
      * (same kernels, same gardens, quarter-height tile table). Two job
      * sizes turn the level into a t(n) = c + n*w line whose SLOPE is free
      * of the fixed per-job cost c (planning/scheduling/collect) — the
      * marginal efficiency w_N/(4*w_4N) is the amortized-scaling number a
      * bigger table would converge to, measured without one. */
    def repsAt(cpus: Int, n: Int): (Seq[Double], Seq[Double]) = {
      val s = withTileConfs(Sessions.local(s"graft-bench-$cpus", cpus))
      val idx = buildIndex(s, gardensPath, ts)
      tuneSplits(s, tilesPath, cpus) // waves-aware splits per core level
      val (rows, pix) = runFlagship(s, idx, tilesPath, ts) // warm
      // north rule: identical join output at every cluster size
      require(rows == nRows && pix == nPix,
        s"output mismatch at local[$cpus]: ($rows, $pix) != ($nRows, $nPix)")
      tuneSplits(s, bd.tilesQuarterPath, cpus)
      val fpQ = runScore(s, idx, bd.tilesQuarterPath, cfgOf(ts), None) // warm quarter
      fpQuarter match {
        case Some(exp) => require(fpQ == exp,
          s"quarter-job output mismatch at local[$cpus]: $fpQ != $exp")
        case None => fpQuarter = Some(fpQ)
      }
      tuneSplits(s, tilesPath, cpus)
      val reps = (1 to n).map(_ => time(runFlagship(s, idx, tilesPath, ts))._1)
      tuneSplits(s, bd.tilesQuarterPath, cpus)
      val repsQ = (1 to n).map(_ =>
        time(runScore(s, idx, bd.tilesQuarterPath, cfgOf(ts), None))._1)
      s.stop()
      (reps, repsQ)
    }
    // machine ceiling: raw kernel (decode) thread-scaling without Spark,
    // as the upper bound any end-to-end number can be judged against.
    // SAME item count at both levels of a pair, eff = tN / (4 * t4N) —
    // a per-level item count would give the levels different warm-up
    // shares (round 2's 12k@2 vs 48k@8 ceiling exceeded 1.0).
    val jpgs = (0 until 64).map(i =>
      graft.img.Quality.encodeJPEG(Synthetic.tileRasterSmooth(400 + i % 8, 100 + i / 8, 256, 42L), 0.92f))
    def work(n: Int, threads: Int): Double = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      val t0 = System.nanoTime()
      val tasks = (0 until n).map { i =>
        pool.submit(new Runnable {
          def run(): Unit = { graft.img.Codec.decodeBGR(jpgs(i % 64)); () }
        })
      }
      tasks.foreach(_.get())
      pool.shutdown()
      (System.nanoTime() - t0) / 1e9
    }
    def kernelPair(): ((Double, Double), (Double, Double)) = {
      work(4000, 32) // warm
      val k2 = (1 to 3).map(_ => work(12000, 2)).min
      val k8small = (1 to 3).map(_ => work(12000, 8)).min
      val k8 = (1 to 3).map(_ => work(48000, 8)).min
      val k32 = (1 to 3).map(_ => work(48000, 32)).min
      ((k2, k8small), (k8, k32))
    }

    final case class Attempt(reps2: Seq[Double], reps8: Seq[Double], reps32: Seq[Double],
                             reps2q: Seq[Double], reps8q: Seq[Double], reps32q: Seq[Double],
                             kernel28: (Double, Double), kernel832: (Double, Double)) {
      val t2: Double = reps2.min
      val t8: Double = reps8.min
      val t32: Double = reps32.min
      val t2q: Double = reps2q.min
      val t8q: Double = reps8q.min
      val t32q: Double = reps32q.min
      val eff28: Double = t2 / (4.0 * t8)
      val eff832: Double = t8 / (4.0 * t32)
      // t(n) = c + n*w per level; the slope w cancels the fixed per-job
      // cost, the intercept c estimates it (both from min-of-reps times)
      private val dn = (nTiles - nTilesQ).toDouble
      def w(full: Double, quarter: Double): Double = (full - quarter) / dn
      val w2: Double = w(t2, t2q)
      val w8: Double = w(t8, t8q)
      val w32: Double = w(t32, t32q)
      val c8: Double = t8q - nTilesQ * w8
      val c32: Double = t32q - nTilesQ * w32
      val effM28: Double = w2 / (4.0 * w8)
      val effM832: Double = w8 / (4.0 * w32)
      val kEff28: Double = kernel28._1 / (4.0 * kernel28._2)
      val kEff832: Double = kernel832._1 / (4.0 * kernel832._2)
      /** Instrument quality: how well the hypervisor delivered cores
        * during this attempt — the engine's own numbers play no part.
        * A kernel efficiency ABOVE 1 is itself a corruption signal (a
        * stall hit the low-thread probe), so quality penalizes distance
        * from the physical ideal rather than rewarding magnitude. */
      val quality: Double = {
        def q(k: Double): Double = if (k > 1.0) 2.0 - k else k
        (q(kEff28) + q(kEff832)) / 2.0
      }
    }
    def attemptOnce(): Attempt = {
      val rounds = (1 to 2).map(_ => (repsAt(2, 2), repsAt(8, 2), repsAt(32, 2)))
      val (k28, k832) = kernelPair()
      Attempt(rounds.flatMap(_._1._1), rounds.flatMap(_._2._1), rounds.flatMap(_._3._1),
        rounds.flatMap(_._1._2), rounds.flatMap(_._2._2), rounds.flatMap(_._3._2),
        k28, k832)
    }
    // Retry-on-degraded-epoch: the hypervisor withholds cores in whole
    // epochs (kernel ceiling swings 0.3-0.95 within minutes). An attempt
    // whose ceilings show a degraded host is re-measured (up to
    // maxAttempts); the KEPT attempt is the one with the best INSTRUMENT
    // quality — selected by kernel ceiling alone, never by the engine's
    // own efficiency, so the selection cannot flatter the engine.
    val maxAttempts = sys.env.getOrElse("SPARK_GRAFT_SCALING_ATTEMPTS", "3").toInt
    val attempts = scala.collection.mutable.ArrayBuffer(attemptOnce())
    while (attempts.size < maxAttempts && attempts.last.quality < 0.85)
      attempts += attemptOnce()
    val a = attempts.maxBy(_.quality)
    val (reps2, reps8, reps32) = (a.reps2, a.reps8, a.reps32)
    val (t2, t8, t32) = (a.t2, a.t8, a.t32)
    val (kernel28, kernel832) = (a.kernel28, a.kernel832)
    val (kernelEff28, kernelEff832) = (a.kEff28, a.kEff832)

    val tput2 = nTiles / t2
    val tput8 = nTiles / t8
    val tput32 = nTiles / t32
    // N->4N efficiencies, explicitly keyed by the core pair (round 1's
    // bare "efficiency" key meant 8->32; round 2 silently rebound it to
    // 2->8 — name both so no cross-round comparison misreads them)
    val efficiency28 = a.eff28
    val efficiency832 = a.eff832

    val qs = queryTimes.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val total = queryTimes.values.sum
    // two-size t(n) = c + n*w fit: marginal (fixed-cost-free) efficiencies
    val twosize =
      f"""{"tiles_quarter":$nTilesQ,"t2_quarter":${a.t2q}%.3f,"t8_quarter":${a.t8q}%.3f,"t32_quarter":${a.t32q}%.3f,""" +
        f""""w2_us_per_tile":${a.w2 * 1e6}%.2f,"w8_us_per_tile":${a.w8 * 1e6}%.2f,"w32_us_per_tile":${a.w32 * 1e6}%.2f,""" +
        f""""c8_sec":${a.c8}%.3f,"c32_sec":${a.c32}%.3f,""" +
        f""""eff_marginal_2_8":${a.effM28}%.3f,"eff_marginal_8_32":${a.effM832}%.3f,""" +
        f""""tiles_per_sec_32_marginal":${1.0 / a.w32}%.1f}"""
    val scaling =
      f"""{"tiles":$nTiles,"gardens":$nGardens,"tile_px":$ts,"rows":$nRows,"npix":$nPix,"output_match_all_levels":true,""" +
        f""""efficiency_2_8":$efficiency28%.3f,"efficiency_8_32":$efficiency832%.3f,""" +
        f""""t2_sec":$t2%.3f,"t8_sec":$t8%.3f,"t32_sec":$t32%.3f,""" +
        f""""reps2":[${reps2.map(r => f"$r%.2f").mkString(",")}],"reps8":[${reps8.map(r => f"$r%.2f").mkString(",")}],"reps32":[${reps32.map(r => f"$r%.2f").mkString(",")}],""" +
        f""""tiles_per_sec_2":$tput2%.1f,"tiles_per_sec_8":$tput8%.1f,"tiles_per_sec_32":$tput32%.1f,""" +
        f""""kernel_t2_12k":${kernel28._1}%.3f,"kernel_t8_12k":${kernel28._2}%.3f,""" +
        f""""kernel_t8_48k":${kernel832._1}%.3f,"kernel_t32_48k":${kernel832._2}%.3f,""" +
        f""""kernel_efficiency_2_8":$kernelEff28%.3f,"kernel_efficiency_8_32":$kernelEff832%.3f,""" +
        f""""twosize":$twosize,""" +
        f""""attempts":${attempts.size},""" +
        f""""attempt_qualities":[${attempts.map(x => f"${x.quality}%.3f").mkString(",")}],""" +
        f""""attempt_eff_2_8":[${attempts.map(x => f"${x.eff28}%.3f").mkString(",")}],""" +
        f""""attempt_eff_8_32":[${attempts.map(x => f"${x.eff832}%.3f").mkString(",")}],""" +
        f""""attempt_eff_marginal_8_32":[${attempts.map(x => f"${x.effM832}%.3f").mkString(",")}]}"""
    val irgbRate = bd.nTilesQuarter / tIrgb
    val extras =
      f""""irgb":{"tiles":${bd.nTilesQuarter},"t_sec":$tIrgb%.3f,"tiles_per_sec":$irgbRate%.1f,"rgb_per_tile_ratio":${(tIrgb / bd.nTilesQuarter) / (tFlag / nTiles)}%.2f,""" +
        f""""t_bucketed_sec":$tIrgbB%.3f,"bucketed_tiles_per_sec":${bd.nTilesQuarter / tIrgbB}%.1f,"bucketed_rgb_per_tile_ratio":${(tIrgbB / bd.nTilesQuarter) / (tFlag / nTiles)}%.2f,""" +
        // fixed-cost-corrected: subtract the two-size fit's per-job constant
        // and compare against its RGB marginal per-tile cost w32
        f""""bucketed_ratio_marginal":${((tIrgbB - a.c32) / bd.nTilesQuarter) / a.w32}%.2f},""" +
        f""""geojsonl":{"ingest_sec":$tIngest%.3f,"flagship_sec":$tFlagGeo%.3f,"fingerprint_match":true}"""
    val jsonLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","tiles_per_sec":$tput32%.1f,$extras,"scaling":$scaling}"""
    println(jsonLine)
    // belt and braces for the driver: the same single line as a file,
    // immune to any logger decoration of stdout
    Files.createDirectories(Paths.get("BENCH"))
    Files.writeString(Paths.get("BENCH/last_run.json"), jsonLine + "\n")

    // append the scaling evidence to BENCH/BASELINE.md. The data row
    // format is versioned by its table header: if the file predates the
    // current layout (header line absent), a fresh table section is
    // started so new rows never misalign under an old header.
    val benchDir = Paths.get("BENCH")
    Files.createDirectories(benchDir)
    val md = new StringBuilder
    val f = benchDir.resolve("BASELINE.md")
    val tableHeader =
      "| sf | tiles | px | gardens | rows | t2/t8/t32 (s) | eff(2→8) | kernel(2→8) | eff(8→32) | kernel(8→32) | effM(2→8) | effM(8→32) | tiles/s @32 |"
    val hasCurrentHeader =
      Files.exists(f) && Files.readString(f).contains(tableHeader)
    if (!Files.exists(f)) {
      md.append("# BENCH — engine throughput + cluster-size scaling evidence\n\n")
      md.append("Flagship job: polygon-tile spatial join + 2-index vegetation\n")
      md.append("classification over the deterministic synthetic parquet tile table\n")
      md.append("(input_hint schema). N vs 4N executors proxied by core pairs on\n")
      md.append("identical input (north-rule criterion, target ≥0.8): PRIMARY 2→8\n")
      md.append("(the pair the hypervisor can actually co-schedule), SECONDARY 8→32\n")
      md.append("reported against the same-run no-Spark kernel ceiling.\n")
    }
    if (!hasCurrentHeader) {
      md.append("\neffM columns: fixed-cost-free MARGINAL efficiency from the two-job-size\n")
      md.append("t(n) = c + n·w fit per core level (w = slope sec/tile; the per-job constant\n")
      md.append("c cancels, so this is the number a 4× bigger table would converge to).\n\n")
      md.append(tableHeader + "\n")
      md.append("|---|---|---|---|---|---|---|---|---|---|---|---|---|\n")
    }
    md.append(f"| $sfDir jpg | $nTiles | $ts | $nGardens | $nRows " +
      f"| $t2%.2f / $t8%.2f / $t32%.2f | $efficiency28%.3f | $kernelEff28%.3f " +
      f"| $efficiency832%.3f | $kernelEff832%.3f | ${a.effM28}%.3f | ${a.effM832}%.3f | $tput32%.1f |\n")
    md.append(f"  - two-size fit: quarter=$nTilesQ tiles, t8q=${a.t8q}%.2f s, t32q=${a.t32q}%.2f s, " +
      f"w8=${a.w8 * 1e6}%.1f µs/tile, w32=${a.w32 * 1e6}%.1f µs/tile, c8=${a.c8}%.2f s, c32=${a.c32}%.2f s; " +
      f"IRGB fused ${bd.nTilesQuarter} tiles in $tIrgb%.2f s plain / $tIrgbB%.2f s bucketed " +
      f"(${(tIrgb / bd.nTilesQuarter) / (tFlag / nTiles)}%.2f× / ${(tIrgbB / bd.nTilesQuarter) / (tFlag / nTiles)}%.2f× RGB per-tile cost); " +
      f"GeoJSONL ingest $tIngest%.2f s + flagship $tFlagGeo%.2f s, fingerprint match\n")
    Files.writeString(f, md.toString,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }
}
