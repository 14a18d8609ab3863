package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession shape graft's mains run under (Bench,
  * Verify, tools.GenData, tools.Perf): shuffle partitions equal to the
  * core count, AQE on, UTC session time zone, no UI, WARN logging. */
object Sessions {

  /** SPARK_GRAFT_CPUS when set, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(appName: String, cpus: Int = Sessions.cpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
