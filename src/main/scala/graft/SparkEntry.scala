package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.data.Synthetic
import graft.pipeline.VegPipeline

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query: the polygon-tile spatial join + vegetation
    * classification pipeline on a small deterministic synthetic extent
    * (reference: analyse_polygons.main). Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val ts = 64
    val gardens = Synthetic.gardens(spark, 40, 4, 4)
    val tiles = Synthetic.tiles(spark, 4, 4, ts)
    VegPipeline.run(spark, gardens, tiles,
        VegPipeline.Config(tileSize = ts, kernelNames = Seq("greenleaf", "hsv")))
      .orderBy("sort_key", "gid")
      .select("id", "cx", "cy", "area_m2", "npix", "frac_greenleaf", "frac_hsv")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.specs.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    Queries.specs.map(q => q.name -> q.oracleSql).toMap
}
