package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession the suites in the forked test JVM share:
  * local[4] with 8 shuffle partitions, whichever suite starts first. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.local("graft-tests", cpus = 4)
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s
  }

  /** The sf0.001 test-data tables (TESTDATA.md). */
  val sf0001 = "/root/testdata/sf0.001"
}
