package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.registry result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.registry.foreach { query =>
      try query.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${query.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${query.name} failed: ${e.getMessage}")
      }
    }
    // crawl + API tables for the q4x/q28 oracles: the DuckDB side reads
    // these by absolute path and re-aggregates them independently
    try {
      graft.operators.CrawlPipelines.dumpForOracle(spark)
      graft.operators.CoreQueries.dumpApiTables(spark, sfDir)
      graft.operators.DedupQueries.dumpForOracle(spark, sfDir)
    } catch { case e: Throwable =>
      System.err.println(s"[verify] oracle dump failed: ${e.getMessage}")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.registry
      .map(e => s"${q(e.name)}: ${q(e.oracle)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
