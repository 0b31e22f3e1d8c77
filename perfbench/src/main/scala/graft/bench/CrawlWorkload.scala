package graft.bench

import java.nio.file.{Files, Path}
import java.util.concurrent.TimeUnit
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.crawl.{CrawlLoop, PageParsers}
import graft.fixtures.SyntheticWeb
import graft.frontier.{FrontierEntry, PoliteScheduler}
import graft.seen.UrlSeen
import graft.sources.BucketedPages
import graft.store.SnapshotStore

object CrawlWorkload {
  /** A crawl workload: the synthetic web built from the seed, the crawl
    * configuration, and the bucket count of its pages table.
    */
  final case class Shape(name: String, web: Long => SyntheticWeb.Config,
      crawl: CrawlLoop.Config, nBuckets: Int)

  /** One hot host (papers0, ~290 pages behind a 32-URL budget) far
    * outnumbers the politeness budget, while the other hosts hold little:
    * from wave 2 on the hot host is budget-bound and waves carry ~50-100
    * URLs, so the per-wave fixed cost (4 snapshot writes, manifest chain,
    * seen-delta union, top-k over the waiting frontier) dominates. The seen
    * set stays far below `bloomDeltaThreshold`. The crawl stops after 6 of
    * the ~10 waves the hot host needs: a wave costs ~2 s of fixed work on
    * 4 cores, and one run has to stay well under a minute.
    */
  val Deep = Shape("crawl_deep",
    seed => SyntheticWeb.Config(seed = seed, nHosts = 8, pagesPerHost = 2,
      itemsPerPage = 16, blogDepth = 1, blogFanout = 2, skewFactor = 8.0),
    CrawlLoop.Config(
      scheduler = PoliteScheduler.Config(hostBudget = 32, defaultDelayMs = 1L),
      maxWaves = 6),
    nBuckets = 8)

  /** A wide web with a budget no host reaches: few waves of thousands of
    * URLs, dominated by fetch join, parse, link canonicalisation and the
    * seen filter. `bloomDeltaThreshold` is lowered to 16,384 so the
    * incremental→delta bloom flip and the anti-join against a large seen
    * set happen inside one run (the default, 131,072, would need a crawl
    * several times longer than a run).
    */
  val Wide = Shape("crawl_wide",
    seed => SyntheticWeb.Config(seed = seed, nHosts = 48, pagesPerHost = 3,
      itemsPerPage = 160, blogDepth = 2, blogFanout = 3),
    CrawlLoop.Config(
      scheduler = PoliteScheduler.Config(hostBudget = 8192, defaultDelayMs = 1L),
      maxWaves = 64, bloomDeltaThreshold = 1L << 14),
    nBuckets = 16)

  /** Timing and size of one committed wave, read from its manifest. */
  final case class Wave(wave: Int, startMs: Double, endMs: Double,
      scheduled: Long) {
    def seconds: Double = (endMs - startMs) / 1e3
  }

  /** Inputs of one crawl run: its pages table and the files under it. */
  final case class Prep(web: SyntheticWeb.Config, table: String, dir: Path,
      pagesPath: String)

  /** One finished crawl and what it left behind. */
  final case class Run(store: SnapshotStore, dir: Path, result: CrawlLoop.Result,
      seconds: Double, waves: Seq[Wave])
}

/** crawl_deep and crawl_wide: `CrawlLoop.run` from the web's seeds to an
  * empty frontier, repeated until the run's time is spent.
  */
final class CrawlWorkload(shape: CrawlWorkload.Shape) extends Workload {
  import CrawlWorkload._

  type P = Prep

  private var crawls = 0
  private var last: Option[Run] = None
  private val digests = scala.collection.mutable.ArrayBuffer[String]()

  def setup(ctx: Ctx, rep: Int): Prep = {
    val web = shape.web(ctx.args.seed)
    val dir = ctx.dir(s"pages-$rep")
    val table = s"${shape.name}_pages_$rep"
    val path = dir.resolve("t").toString
    BucketedPages.write(ctx.spark, SyntheticWeb.pages(ctx.spark, web), table,
      shape.nBuckets, Some(path))
    Prep(web, table, dir, path)
  }

  def release(ctx: Ctx, p: Prep): Unit = {
    ctx.spark.sql(s"DROP TABLE IF EXISTS ${p.table}")
    Layers.deleteTree(p.dir)
    last.foreach(r => Layers.deleteTree(r.dir))
    last = None
  }

  /** Commit time of a snapshot: the modification time of its manifest. */
  private def manifestMs(dir: Path, id: Long): Double = {
    val f = dir.resolve(f"manifest-$id%06d.json")
    Files.getLastModifiedTime(f).to(TimeUnit.MICROSECONDS) / 1e3
  }

  def crawl(ctx: Ctx, p: Prep, cfg: CrawlLoop.Config, span: String): Run = {
    val spark = ctx.spark
    val dir = ctx.dir(s"crawl-$crawls")
    crawls += 1
    val store = new SnapshotStore(dir.toString, spark)
    val t0 = ctx.tracer.nowMs
    val (res, secs) = ctx.timed(span) {
      CrawlLoop.run(spark, spark.emptyDataFrame,
        SyntheticWeb.seeds(spark, p.web), SyntheticWeb.robots(spark, p.web),
        store, cfg.copy(pagesTable = Some(p.table)))
    }
    val snaps = store.snapshots.map(store.readManifest)
    val ends = snaps.map(s => manifestMs(dir, s.id))
    val starts = t0 +: ends.init
    Run(store, dir, res, secs, snaps.indices.map { i =>
      Wave(snaps(i).wave, starts(i), ends(i), snaps(i).metrics("scheduled"))
    })
  }

  /** Output checks of one crawl; returns its digest line. */
  private def check(ctx: Ctx, r: Run): String = {
    val rep = ctx.report
    val fl = r.result.fetchLog
    val fetched = fl.count()
    val records = r.result.records.count()
    val s = r.result.seen.agg(count(lit(1)), countDistinct(col("url_hash")),
      bit_xor(col("url_hash")), sum(pmod(col("url_hash"), lit(2147483647L))))
      .head()
    val maxPerHost = fl.groupBy("wave", "host").count()
      .agg(max("count")).head().getLong(0)
    val budget = shape.crawl.scheduler.hostBudget
    rep.attempt(maxPerHost <= budget,
      s"a host got $maxPerHost fetches in one wave (budget $budget)")
    rep.attempt(s.getLong(0) == s.getLong(1), "seen set holds duplicates")
    rep.attempt(r.waves.map(_.scheduled).sum == fetched,
      "manifest counts disagree with the fetch log")
    rep.attempt(fetched > 0 && records > 0, "crawl fetched nothing")
    s"fetched=$fetched records=$records seen=${s.getLong(0)} " +
      s"seen_xor=${s.getLong(2)} seen_sum=${s.get(3)} waves=${r.waves.size}"
  }

  def measure(ctx: Ctx, p: Prep, budgetS: Double,
      rec: Option[SparkRecorder]): Measured = {
    if (crawls == 0) {
      // a one-wave crawl first, untimed: JIT and codegen warm-up, so the
      // measured waves do not drift with the JVM's own warm-up
      val w = crawl(ctx, p, shape.crawl.copy(maxWaves = 1), "crawl.warmup")
      Layers.deleteTree(w.dir)
    }
    val (runs, heapMb) = ctx.loop(budgetS) {
      val r = crawl(ctx, p, shape.crawl, "crawl.run")
      val d = check(ctx, r)
      digests += d
      ctx.report.attempt(d == digests.head,
        s"crawl output differs between repetitions: $d vs ${digests.head}")
      rec.foreach(waveJobs(ctx, r, _))
      last.foreach(old => Layers.deleteTree(old.dir))
      last = Some(r)
      r
    }
    Expected.check(ctx, "crawl", digests.head,
      shape.web(ctx.args.seed).toString + shape.crawl)
    val fetched = runs.map(_.waves.map(_.scheduled).sum).sum
    val secs = runs.map(_.seconds).sum
    // wave 0 also carries the crawl's preamble (robots, seed admission)
    val later = runs.flatMap(_.waves.drop(1))
    val waveS = later.map(_.seconds)
    val slope = Stats.slope(later.map(_.wave.toDouble), waveS)
    val lastRun = runs.last
    ctx.report.detail("waves") =
      lastRun.waves.map(w => Map("wave" -> w.wave, "s" -> w.seconds,
        "scheduled" -> w.scheduled))
    if (rec.isDefined) ctx.report.layer("crawl.wave_s_slope") = slope
    Measured(fetched / secs, Stats.median(waveS), heapMb, runs.size, Map(
      "crawl_urls_per_s" -> (fetched / secs, "1/s"),
      "wave_s_p50" -> (Stats.median(waveS), "s"),
      "wave_s_p90" -> (Stats.quantile(waveS, 0.9), "s"),
      "wave_s_slope" -> (slope, "s"),
      "wave0_s" -> (Stats.median(runs.map(_.waves.head.seconds)), "s"),
      "crawl_s" -> (Stats.median(runs.map(_.seconds)), "s"),
      "waves" -> (lastRun.waves.size.toDouble, "count"),
      "fetched" -> (lastRun.waves.map(_.scheduled).sum.toDouble, "count"),
      "budget_bound_waves" -> (lastRun.waves.count(w =>
        w.scheduled >= shape.crawl.scheduler.hostBudget).toDouble, "count")))
  }

  /** crawl.* job metrics of a traced crawl: per wave, the Spark jobs that
    * started inside it and its root SQL executions, the last four of which
    * are the snapshot writes in their fixed order.
    */
  private def waveJobs(ctx: Ctx, r: Run, rec: SparkRecorder): Unit = {
    SparkRecorder.drain(ctx.spark.sparkContext)
    val per = r.waves.drop(1).map { w =>
      val jobs = rec.jobsIn(w.startMs, w.endMs)
      val writes = rec.execsIn(w.startMs, w.endMs).takeRight(4)
        .map(x => (x.endMs - x.startMs) / 1e3)
      (jobs.size.toDouble, w.seconds - SparkRecorder.coveredMs(jobs) / 1e3,
        writes)
    }
    val l = ctx.report.layer
    l("crawl.jobs_per_wave") = Stats.median(per.map(_._1))
    l("crawl.wave_driver_gap_s") = Stats.median(per.map(_._2))
    val full = per.map(_._3).filter(_.size == 4)
    if (full.size < per.size)
      ctx.report.detail("waves_without_4_writes") = per.size - full.size
    Seq("fetch_log", "records", "frontier", "seen").zipWithIndex.foreach {
      case (n, i) => l(s"crawl.job_${n}_s") = Stats.median(full.map(_(i)))
    }
  }

  def layers(ctx: Ctx, p: Prep, rec: SparkRecorder): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val r = last.get
    val l = ctx.report.layer
    val cfg = shape.crawl

    // store: what the crawl left on disk, and the manifest-chain walk
    val data = Files.walk(r.dir)
    val files = try data.filter(f => Files.isRegularFile(f) &&
      f.getFileName.toString.endsWith(".parquet")).toArray.map(_.asInstanceOf[Path])
    finally data.close()
    l("store.files_written") = files.length
    l("store.bytes_written") = files.map(f => Files.size(f)).sum.toDouble
    l("store.snapshots_walk_ms") = 1e3 * Layers.medianTime(ctx, "layer.store_walk") {
      r.store.snapshots.foreach(r.store.readManifest)
    }

    // frontier: one schedule over the waiting frontier at mid-crawl
    val snaps = r.store.snapshots.map(r.store.readManifest)
    val mid = snaps((snaps.size - 1) / 2)
    val frontier = r.store.table(mid, "frontier").get.as[FrontierEntry].cache()
    frontier.count()
    val robots = SyntheticWeb.robots(spark, p.web).collect()
      .map(x => x.host -> ((x.disallow_prefixes, x.crawl_delay_ms))).toMap
    var window = (0.0, 0.0)
    l("frontier.schedule_s") = Layers.medianTime(ctx, "layer.schedule") {
      val t0 = ctx.tracer.nowMs
      Layers.drain(PoliteScheduler.scheduleWithMap(frontier, robots, 0L,
        cfg.scheduler).toDF())
      window = (t0, ctx.tracer.nowMs)
    }
    SparkRecorder.drain(spark.sparkContext)
    val tasks = rec.tasksIn(window._1, window._2)
    val durs = tasks.map(_.durMs.toDouble)
    l("frontier.shuffle_rows") = tasks.map(_.shuffleRows).sum.toDouble
    l("frontier.task_p50_ms") = Stats.median(durs)
    l("frontier.task_max_ms") = if (durs.isEmpty) 0.0 else durs.max
    ctx.report.detail("frontier_waiting_rows") = frontier.count()
    frontier.unpersist()

    // the seen filter is replayed on the wave that found the most new links
    val busiest = snaps.indices.drop(1)
      .maxByOption(i => snaps(i).metrics.getOrElse("new_links", 0L))
    busiest.foreach(i => seenLayer(ctx, p, r, i - 1))
    Layers.pagesLayers(ctx, p.table, p.pagesPath)
  }

  /** Replays the seen filter of the wave after `k`: the candidates are the
    * out-links of the pages that wave fetched, against the seen set as of
    * wave `k`.
    */
  private def seenLayer(ctx: Ctx, p: Prep, r: Run, k: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val l = ctx.report.layer
    val snaps = r.store.snapshots.map(r.store.readManifest)
    if (k + 1 >= snaps.size) return
    val cfg = shape.crawl.seenCfg
    val seenK = snaps.take(k + 1).flatMap(_.tables.collect {
      case (n, path) if n.startsWith("seen_w") => spark.read.parquet(path)
    }).reduce(_ unionByName _).cache()
    seenK.count()
    val next = snaps(k + 1)
    val fetchedOk = spark.read.parquet(next.tables(s"fetch_log_w${next.wave}"))
      .filter(col("status") === 200).select(col("url_hash").as("h"))
    val sched = r.store.table(snaps(k), "frontier").get
      .join(fetchedOk, col("urlHash") === col("h"), "left_semi")
      .dropDuplicates("urlHash").as[FrontierEntry]
    val pages = spark.table(p.table).select(col("url_hash"), col("html"))
    val candidates = sched.toDF().withColumn("url_hash", col("urlHash"))
      .join(pages, Seq("url_hash"))
      .select(struct(sched.columns.toIndexedSeq.map(col): _*).as("_1"), col("html").as("_2"))
      .as[(FrontierEntry, Array[Byte])]
      .flatMap { case (e, html) =>
        PageParsers.parse(e, new String(html, "UTF-8")).links.map(o =>
          CrawlLoop.entryOf(o.url, o.kind, o.seed, o.depth, o.pageIdx,
            o.posInPage))
      }
      .toDF().withColumnRenamed("urlHash", "url_hash")
      .dropDuplicates("url_hash").cache()
    val n = candidates.count()
    val segMap = UrlSeen.collectSegments(UrlSeen.buildSegments(seenK, cfg))
    val positives = UrlSeen.mightBeSeenWithMap(candidates, segMap, cfg)
      .filter(col("might_seen")).count()
    val exact = candidates.join(seenK, Seq("url_hash"), "left_semi").count()
    l("seen.filter_s") = Layers.medianTime(ctx, "layer.seen_filter") {
      Layers.drain(UrlSeen.filterUnseenWithMap(candidates, seenK, Some(segMap),
        cfg, seenDistinct = true))
    }
    l("seen.bloom_positive_ratio") = if (n == 0) 0.0 else positives.toDouble / n
    l("seen.bloom_false_positive_ratio") =
      if (positives == 0) 0.0 else (positives - exact).toDouble / positives
    l("seen.anti_join_rows") = positives.toDouble
    ctx.report.detail("seen_replay") = Map("wave" -> next.wave,
      "candidates" -> n, "seen_rows" -> seenK.count(), "bloom_positive" -> positives,
      "exactly_seen" -> exact)
    ctx.report.attempt(exact <= positives, "bloom missed a seen URL")
    candidates.unpersist()
    seenK.unpersist()
  }
}
