package graft.bench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import graft.crawl.{CrawlLoop, PageParsers}
import graft.sources.BucketedPages

/** Per-layer calls shared by the workloads that own a bucketed pages
  * table: parse throughput, the bucketed fetch join and URL
  * canonicalisation, each timed from outside through the public API.
  */
object Layers {
  val Reps = 3

  /** Force a frame completely without collecting it. */
  def drain(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Median seconds of `Reps` timed calls. */
  def medianTime(ctx: Ctx, name: String)(body: => Unit): Double =
    Stats.median((1 to Reps).map(_ => ctx.timed(name)(body)._2))

  /** Page kind from URL shape, as the north-rule wave pipeline derives it. */
  def kindOf(u: String): String =
    if (u.contains("//search")) "search"
    else if (u.contains("//papers")) "paper"
    else "blog"

  /** (pages, records, links) of one parse pass over the table. */
  def parseCounts(spark: SparkSession, table: String): (Long, Long, Long) = {
    import spark.implicits._
    val r = spark.table(table).select(col("url"), col("html"))
      .as[(String, Array[Byte])]
      .map { case (u, html) =>
        val res = PageParsers.parse(CrawlLoop.entryOf(u, kindOf(u), 0, 0, 0, 0),
          new String(html, "UTF-8"))
        (1L, res.records.size.toLong, res.links.size.toLong)
      }
      .toDF("p", "r", "l").agg(sum("p"), sum("r"), sum("l")).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Exchanges whose input includes a scan of `table`, in the physical plan
    * before adaptive re-planning (where the planner decides shuffles).
    */
  def exchangesOver(df: DataFrame, table: String): Int = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    def scansTable(p: SparkPlan): Boolean = p.exists {
      case s: FileSourceScanExec =>
        s.tableIdentifier.exists(_.table.equalsIgnoreCase(table))
      case _ => false
    }
    plan.collect { case e: Exchange if scansTable(e) => e }.size
  }

  /** parse.*, sources.* and url.* metrics over a bucketed pages table whose
    * files live at `path`. Returns the parse pass's (records, links).
    */
  def pagesLayers(ctx: Ctx, table: String, path: String): (Long, Long) = {
    val spark = ctx.spark
    import spark.implicits._
    val r = ctx.report
    var counts = (0L, 0L, 0L)
    val parseS = medianTime(ctx, "layer.parse") {
      counts = parseCounts(spark, table)
    }
    val (pages, records, links) = counts
    r.layer("parse.pages_per_s") = pages / parseS
    r.layer("parse.records_per_page") = records.toDouble / pages

    // the frontier side is read as plain files (no bucket spec), as a
    // wave's scheduled rows arrive; only the pages side is bucketed
    val frontier = spark.read.parquet(path).select(col("url_hash"))
    val joined = BucketedPages.fetchJoin(spark, frontier, table)
    r.layer("sources.fetch_join_s") =
      medianTime(ctx, "layer.fetch_join")(drain(joined))
    r.layer("sources.pages_side_exchanges") = exchangesOver(joined, table)

    val urls = spark.table(table).select(col("url")).as[String]
    val canonS = medianTime(ctx, "layer.url_canon") {
      drain(urls.map(u => CrawlLoop.entryOf(u, "blog", 0, 0, 0, 0).urlHash).toDF())
    }
    r.layer("url.canon_urls_per_s") = pages / canonS
    (records, links)
  }

  /** Delete a directory tree. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }
}

/** Outputs that must repeat exactly for a seed and input configuration:
  * pinned in a file by the first run in a checkout and compared by every
  * later run.
  */
object Expected {
  def check(ctx: Ctx, key: String, value: String, config: String): Unit = {
    val cfg = java.security.MessageDigest.getInstance("SHA-256")
      .digest(config.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    val f = ctx.args.expected.resolve(
      s"${ctx.args.workload}-seed${ctx.args.seed}-$key-$cfg.txt")
    if (Files.exists(f)) {
      val pinned = Files.readString(f)
      ctx.report.attempt(pinned == value,
        s"$key differs from an earlier run of this seed: $value vs $pinned")
    } else {
      Files.createDirectories(f.getParent)
      val tmp = f.resolveSibling(f.getFileName.toString + s".${ProcessHandle.current.pid}")
      Files.writeString(tmp, value)
      Files.move(tmp, f, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }
}
