package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The engine's SQL function surface via SparkSessionExtensions. */
class SqlSurfaceSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    // the shared session is built without GraftExtensions, so register
    // the functions on it directly
    val s = TestSpark.spark
    GraftFunctions.register(s)
    s
  }

  test("geo functions usable from SQL") {
    assert(spark.sql("SELECT graft_tile_code(401, 126) AS c").collect()(0).getString(0) == "SU0126")
    assert(spark.sql("SELECT graft_tile_code(9999, -5) AS c").collect()(0).isNullAt(0))
    val en = spark.sql(
      "SELECT graft_to_osgb(-2.472899455869044d, 51.430893105324593d) AS en").collect()(0)
      .getStruct(0)
    assert(math.abs(en.getDouble(0) - 367220.85) < 0.01)
    assert(math.abs(en.getDouble(1) - 170316.2) < 0.01)
    assert(spark.sql("SELECT graft_tile_cell('SU0126') AS c").collect()(0).getLong(0) ==
      graft.index.ZIndex.cellId(401, 126))
    assert(spark.sql("SELECT size(graft_kring(graft_point_cell(5.5d, 7.5d), 2)) AS n")
      .collect()(0).getInt(0) == 25)
    assert(spark.sql("SELECT graft_slippy_cell('15/100/200', 15) AS c").collect()(0).getLong(0) ==
      graft.index.ZIndex.cellId(100, 200))
  }

  test("text functions usable from SQL") {
    val h = spark.sql("SELECT graft_simhash64(array('spark', 'query')) AS h").collect()(0).getLong(0)
    assert(h == graft.functions.TextHash.simHash(Seq("spark", "query")))
    assert(spark.sql("SELECT graft_hamming64(0L, 255L) AS d").collect()(0).getInt(0) == 8)
    val fp = spark.sql("SELECT size(graft_fingerprint('hello world, hello spark')) AS n")
      .collect()(0).getInt(0)
    assert(fp > 0)
    assert(spark.sql("SELECT size(graft_minhash(array('a','b','c'), 16)) AS n")
      .collect()(0).getInt(0) == 16)
    assert(spark.sql("SELECT graft_minhash_portable(array('a','b'), 4) AS s")
      .collect()(0).getSeq[Long](0) ==
      graft.functions.TextHash.minHashPortable(Seq("a", "b"), 4).toSeq)
    // multi-table LSH buckets: one id per table, table tag in the high bits
    val buckets = spark.sql(
        "SELECT graft_lsh_buckets(array(CAST(0.5 AS FLOAT), CAST(-0.2 AS FLOAT)), 2, 8, 3) AS b")
      .collect()(0).getSeq[Long](0)
    assert(buckets.length == 3)
    assert(buckets.map(_ >> 32).toSeq == Seq(0L, 1L, 2L))
    assert(buckets.forall(b => (b & 0xffffffffL) < 256))
  }

  test("image functions usable from SQL") {
    import spark.implicits._
    val tile = graft.data.Synthetic.makeTile(401, 126, 8, 11L)
    Seq((tile.image_id, tile.bytes)).toDF("image_id", "bytes")
      .createOrReplaceTempView("sql_surface_tiles")
    val r = spark.sql(
      """SELECT graft_pixel_checksum(bytes) AS o,
        |       graft_pixel_checksum(graft_augment_image(bytes, 'rot180')) AS a,
        |       graft_pixel_checksum(graft_augment_image(bytes, 'crop_c')) AS c
        |FROM sql_surface_tiles""".stripMargin).collect()(0)
    val (o, a, c) = (r.getStruct(0), r.getStruct(1), r.getStruct(2))
    assert(o.getInt(0) == 8 && a.getInt(0) == 8 && c.getInt(0) == 4)
    assert(o.getLong(2) == a.getLong(2)) // rot180 preserves channel sums
  }

  test("media stats functions usable from SQL") {
    import spark.implicits._
    val tile = graft.data.Synthetic.makeTile(401, 126, 8, 11L)
    Seq((tile.image_id, tile.bytes)).toDF("image_id", "bytes")
      .createOrReplaceTempView("sql_surface_stats")
    val r = spark.sql(
      """SELECT graft_channel_sums(bytes) AS cs,
        |       graft_image_quality(bytes) AS q
        |FROM sql_surface_stats""".stripMargin).collect()(0)
    val cs = r.getStruct(0)
    assert(cs.getLong(0) == 64) // 8x8 pixels
    // channel sums bounded by 255 * n_pix and squares consistent
    (1 to 3).foreach(i => assert(cs.getLong(i) >= 0 && cs.getLong(i) <= 255L * 64))
    (4 to 6).foreach(i => assert(cs.getLong(i) >= 0 && cs.getLong(i) <= 255L * 255L * 64))
    val q = r.getStruct(1)
    assert(q.getDouble(0) >= 0.0 && q.getDouble(0) <= 255.0)
    val audio = graft.media.SyntheticMedia.makeAudio(3L, 1600, 7L)
    Seq((audio.media_id, audio.bytes)).toDF("media_id", "bytes")
      .createOrReplaceTempView("sql_surface_audio")
    val a = spark.sql("SELECT graft_audio_features(bytes) AS f FROM sql_surface_audio")
      .collect()(0).getStruct(0)
    assert(a.getDouble(0) > 0.0) // non-silent synthetic clip has RMS > 0
  }
}
