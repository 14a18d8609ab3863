package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated substring filter on query names
    // (dev-loop convenience; the driver always runs the full set)
    val nameFilter: String => Boolean = args.drop(2).headOption match {
      case Some(pats) => n => pats.split(',').exists(n.contains)
      case None => _ => true
    }
    val spark = Sessions.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // oracle sidecars first (one place; see Sidecars scaladoc) — the
    // o26/o31/o32/o33/o27/o28 SQL reads them back
    try Sidecars.writeAll(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[verify] sidecar setup failed: ${e.getMessage}")
    }
    SparkEntry.queries.filter(kv => nameFilter(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** JSON string literal: escapes backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in a query's SQL would otherwise make a
    * reader's json.load fail on oracle_sql.json. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
