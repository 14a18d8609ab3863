package graft.tools

import graft.Sessions

/** Materializes the deterministic bench tables (tiles/gardens/quarter/CIR/
  * GeoJSONL, `Bench.benchData`) for SPARK_GRAFT_SF_DIR without running the
  * benchmark itself, so a later Bench run times the engine, not the
  * generator. Prints the table paths as one JSON line. */
object GenData {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-gendata")
    val bd = graft.Bench.benchData(spark, sfDir)
    println(s"""{"tiles":"${bd.tilesPath}","gardens":"${bd.gardensPath}",""" +
      s""""quarter":"${bd.tilesQuarterPath}","cir":"${bd.cirQuarterPath}",""" +
      s""""geojsonl":"${bd.geojsonlPath}","nTiles":${bd.nTiles}}""")
    spark.stop()
  }
}
