package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.Path
import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.data.Synthetic
import graft.geo.TileCode
import graft.pipeline.VegPipeline

/** One polygon×tile workload: the synthetic extent, tile texture, garden
  * density and the pipeline options of its job. Every field is part of
  * the generated-input cache key. */
final case class VegSpec(
    name: String,
    gridW: Int,
    gridH: Int,
    tileSize: Int,
    gardens: Long,
    textured: Boolean,
    /** Tiles left out of the table, per mille (zero-fill fragments). */
    missingPerMille: Int,
    kernels: Seq[String],
    cir: Boolean,
    handleMissingTiles: Boolean) {

  def tiles: Long = gridW.toLong * gridH

  def config(broadcastPolys: Boolean): VegPipeline.Config = VegPipeline.Config(
    tileSize = tileSize, kernelNames = kernels, broadcastPolys = broadcastPolys,
    handleMissingTiles = handleMissingTiles)
}

object Workloads {

  val veg: Map[String, VegSpec] = Seq(
    // urban density: ~50 gardens per smooth tile; ingest, index, mask,
    // classify and the report dominate, scan and decode are small
    VegSpec("veg_dense", gridW = 8, gridH = 8, tileSize = 256, gardens = 3200,
      textured = false, missingPerMille = 0, kernels = Seq("greenleaf", "hsv"),
      cir = false, handleMissingTiles = false),
    // sparse gardens over a wide textured table with holes: parquet byte
    // scan, jpg decode, covering-range pruning and the zero-fill pass
    VegSpec("veg_scan", gridW = 36, gridH = 40, tileSize = 256, gardens = 245,
      textured = true, missingPerMille = 20, kernels = Seq("greenleaf", "hsv"),
      cir = false, handleMissingTiles = true),
    // RGB ⋈ CIR fused decode: the only sort-merge join that moves image
    // bytes through an Exchange, plus the bicubic Ir upscale
    VegSpec("irgb_fusion", gridW = 16, gridH = 24, tileSize = 256, gardens = 64,
      textured = false, missingPerMille = 0, kernels = Seq("ndvi-irgb", "matt"),
      cir = true, handleMissingTiles = false)
  ).map(s => s.name -> s).toMap

  def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  /** Cache key: workload, seed, sizes and generator parameters, and a
    * hash of the library and harness sources — never a bare path. The
    * inputs come from library code (tile synthesis, JPEG encoding, tile
    * codes) and the cached reference digest from the library's engine, so
    * a code change regenerates both instead of reusing another state's. */
  def cacheKey(spec: VegSpec, seed: Long, codeStamp: String): String =
    sha256(s"$spec|seed=$seed|code=$codeStamp".getBytes(StandardCharsets.UTF_8)).take(16)

  final case class Inputs(dir: Path, spec: VegSpec, seed: Long, codeStamp: String) {
    def key: String = cacheKey(spec, seed, codeStamp)
    def tilesPath: String = dir.resolve("tiles.parquet").toString
    def cirPath: String = dir.resolve("cir.parquet").toString
    def gardensPath: String = dir.resolve("gardens.geojsonl").toString
    def manifest: Path = dir.resolve("manifest.json")
  }

  def inputsDir(root: Path, spec: VegSpec, seed: Long, codeStamp: String): Inputs =
    Inputs(root.resolve(s"${spec.name}-s$seed-${cacheKey(spec, seed, codeStamp)}"), spec, seed,
      codeStamp)

  private def keep(spec: VegSpec, seed: Long)(i: Long): Boolean =
    spec.missingPerMille == 0 ||
      java.lang.Long.remainderUnsigned(Synthetic.mix2(seed ^ 0x5ca11L, i), 1000L) >= spec.missingPerMille

  /** Writes the seeded tile table(s) and the gardens as GeoJSONL. */
  def generate(spark: SparkSession, in: Inputs): Unit = {
    import spark.implicits._
    val spec = in.spec; val seed = in.seed
    val w = spec.gridW; val ts = spec.tileSize; val textured = spec.textured
    val kept = keep(spec, seed) _
    // ~200 tiles per parquet file: more, smaller files measured slower
    // and noisier scans
    val parts = math.max(2, (spec.tiles / 200).toInt)
    spark.range(spec.tiles).filter(i => kept(i)).repartition(parts).map { i =>
      Synthetic.makeTileJpg(Synthetic.BaseE + (i % w).toInt, Synthetic.BaseN + (i / w).toInt,
        ts, seed, textured)
    }.write.option("parquet.block.size", (4 << 20).toString).parquet(in.tilesPath)
    if (spec.cir)
      spark.range(spec.tiles).repartition(parts).map { i =>
        val e = Synthetic.BaseE + (i % w).toInt
        val n = Synthetic.BaseN + (i / w).toInt
        val raster = Synthetic.tileRasterCirSmooth(e, n, ts, seed)
        Synthetic.TileRow(TileCode.fromEastingsNorthings(e, n),
          graft.img.Quality.encodeJPEG(raster, 0.92f), raster.w, raster.h, "jpg", "cir", 0L)
      }.write.option("parquet.block.size", (4 << 20).toString).parquet(in.cirPath)
    Synthetic.gardens(spark, spec.gardens, spec.gridW, spec.gridH, seed)
      .repartition(2)
      .select(to_json(struct(
        lit("Feature").as("type"),
        struct(col("id"), col("uprn")).as("properties"),
        struct(lit("MultiPolygon").as("type"), col("geometry").as("coordinates")).as("geometry")))
        .as("value"))
      .write.text(in.gardensPath)
  }
}
