package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Sessions, SparkEntry, Verify}

/** Developer profiling of registered queries (`SparkEntry.queries`) in
  * the session every graft main uses (`Sessions.local`):
  *
  *  - `Perf time <sfDir> <query…>`: one JSON line with each query's wall
  *    seconds over 3 reps after a warm-up. A rep builds the query and
  *    writes every column to the `noop` sink, so Catalyst cannot prune
  *    the work a `count()` would skip.
  *  - `Perf jobs <sfDir> <query…>`: after a warm-up, one JSON line per
  *    query listing every Spark job one materialization launches, with
  *    its wall seconds and call site.
  *  - `Perf plan <sfDir> <query…>`: the formatted plan of every interior
  *    action run while the query is built (eager checkpoints, gate
  *    counts), then the query's final formatted plan.
  *
  * Run with `sbt "runMain graft.tools.Perf time /path/to/sf0.1 q60_dup_spans"`. */
object Perf {

  private val Reps = 3
  // the listener bus is asynchronous: let a query's events drain
  private val DrainMs = 2000L

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && Set("time", "jobs", "plan")(args(0)),
      "usage: Perf <time|jobs|plan> <sfDir> <query…>")
    val spark = Sessions.local(s"graft-perf-${args(0)}")
    try run(spark, args.toSeq).foreach(println)
    finally spark.stop()
  }

  private[graft] def run(spark: SparkSession, args: Seq[String]): Seq[String] = {
    val Seq(mode, dir, names @ _*) = args
    names.foreach(n => require(SparkEntry.queries.contains(n), s"unknown query $n"))
    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
    mode match {
      case "time" => Seq(time(spark, dir, names, materialize))
      case "jobs" => names.map(jobs(spark, _, materialize))
      case "plan" => names.map(plan(spark, dir, _))
    }
  }

  private def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def time(spark: SparkSession, dir: String, names: Seq[String],
                   materialize: String => Unit): String = {
    val perQuery = names.map { n =>
      materialize(n) // warm-up
      val reps = (1 to Reps).map(_ => seconds(materialize(n)))
      Verify.jsonString(n) +
        f""":{"min":${reps.min}%.3f,"reps":[${reps.map(r => f"$r%.3f").mkString(",")}]}"""
    }
    s"""{"mode":"time","sf":${Verify.jsonString(dir)},""" +
      s""""cpus":${spark.sparkContext.defaultParallelism},"reps":$Reps,""" +
      s""""queries":${perQuery.mkString("{", ",", "}")}}"""
  }

  private def jobs(spark: SparkSession, name: String, materialize: String => Unit): String = {
    materialize(name) // warm-up
    val started = new ConcurrentHashMap[Int, (Long, String)]()
    val ended = new ConcurrentLinkedQueue[(Int, Double, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse(js.stageInfos.map(_.name.takeWhile(_ != '\n')).distinct.mkString(" | "))
        started.put(js.jobId, (js.time, site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(started.get(je.jobId)).foreach { case (t0, site) =>
          ended.add((je.jobId, (je.time - t0) / 1e3, site))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val total = seconds(materialize(name))
    Thread.sleep(DrainMs)
    spark.sparkContext.removeSparkListener(listener)
    val jobLines = ended.asScala.toSeq.sortBy(_._1).map { case (id, s, site) =>
      f"""{"job":$id,"s":$s%.3f,"site":${Verify.jsonString(site)}}"""
    }
    f"""{"mode":"jobs","query":${Verify.jsonString(name)},"total_s":$total%.3f,""" +
      s""""jobs":${jobLines.mkString("[", ",", "]")}}"""
  }

  private def plan(spark: SparkSession, dir: String, name: String): String = {
    val interior = new StringBuilder
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        interior.synchronized {
          interior.append(s"== interior action: $funcName ==\n")
            .append(qe.explainString(FormattedMode)).append("\n")
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val finalPlan = SparkEntry.queries(name)(spark, dir).queryExecution.explainString(FormattedMode)
    Thread.sleep(DrainMs)
    spark.listenerManager.unregister(listener)
    s"=== $name ===\n" + interior.synchronized(interior.toString) + "== final plan ==\n" + finalPlan
  }
}
