package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.crawl.{CrawlLoop, PageParsers}
import graft.fixtures.SyntheticWeb
import graft.frontier.PoliteScheduler
import graft.sources.BucketedPages

/** Benchmark main (driver contract): one JSON line with per-query seconds
  * plus the north-rule scaling evidence.
  *
  * Two crawl measurements:
  *   - `crawl_end_to_end`: the full wave loop (snapshots, bloom, retries)
  *     over a bucketed pages table — the honest sandbox-scale number;
  *     four snapshot writes per wave (~16–17 Spark jobs, see CrawlLoop
  *     scaladoc), a fixed cost that amortizes at real wave sizes.
  *   - `wave_urls_per_sec @ local[2/8/32]`: the wave INNER pipeline
  *     (politeness schedule → bucketed fetch join → parse+extract →
  *     aggregate) over a large generated pages table, at three
  *     parallelism levels on identical input. This is the unit that
  *     multiplies across a cluster.
  *
  * Scaling methodology (north rule: ≥0.8 efficiency from N to 4N):
  * the HEADLINE pair is 1→4 cores of the SAME wave job as the headline
  * throughput — on this shared 32-core box both legs leave 28+ cores
  * idle to absorb co-tenant CPU steal (measured: the 8-core leg of a
  * 2→8 pair drifted ±20% run-to-run while 1/2-core legs stayed within
  * a few percent), the legs are the longest (most overhead-amortized),
  * and adding cores below the memory-bandwidth knee is the closest
  * single-box analogue of adding whole executors, each of which brings
  * its own bandwidth on a real cluster. The 4→32 pair (normalized /8)
  * is also reported: it saturates the box's one memory subsystem — the
  * whole-box ceiling, not the cluster scaling estimate. Every leg is
  * min over INTERLEAVED repetitions. All top-level JSON fields come
  * from the same wave job: `value` = wave throughput at 4 cores (the 4N
  * leg of the headline pair), `scaling_efficiency` = wave 1→4.
  */
object Bench {

  /** `shufflePartitions` is decoupled from the core count: the two-
    * parallelism scaling legs hold the DATA partitioning constant so
    * per-task memory matches what per-executor memory would be on a real
    * N- vs 4N-executor cluster — varying only compute slots. Tying
    * partitions to cores would make the low-parallelism leg spill (4×
    * bigger partitions in the same heap), a single-box artifact.
    */
  def newSession(cpus: Int, shufflePartitions: Int): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // ~2.6 GB of pages over 128 MB default splits = only ~20 input
      // tasks — stragglers would cap the 32-core leg. 16 MB splits give
      // ~160 well-balanced tasks (several scheduling waves per core).
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Shuffle-free parse/extract throughput: pages → entry derivation →
    * parse → count agg, a map-only job. This is the CPU-scaling probe:
    * no shuffle IO, so throughput should track cores almost linearly —
    * the single-box analogue of adding executors to an IO-balanced
    * cluster.
    */
  def parsePipeline(s: SparkSession, pagesDir: String): Long = {
    import s.implicits._
    s.read.parquet(pagesDir)
      .select(col("url"), col("html"))
      .as[(String, Array[Byte])]
      .map { case (u, htmlBytes) =>
        val kind =
          if (u.contains("//search")) "search"
          else if (u.contains("//papers")) "paper"
          else "blog"
        val e = CrawlLoop.entryOf(u, kind, 0, 0, 0, 0)
        val r = PageParsers.parse(e, new String(htmlBytes, "UTF-8"))
        r.records.size.toLong + r.links.size.toLong
      }
      .reduce(_ + _)
  }

  /** One wave's inner pipeline over every page of the table: entries from
    * URL shape → politeness schedule (huge budget: measure compute, not
    * the budget cap) → fetch equi-join against the BUCKETED pages table
    * (html reads in place, never shuffles — the CrawlLoop scale path) →
    * parse/extract → record+link agg.
    */
  def wavePipeline(s: SparkSession, pagesTable: String): (Long, Long) = {
    import s.implicits._
    val pages = s.table(pagesTable)
    val frontier = pages.select(col("url")).as[String].map { u =>
      val kind =
        if (u.contains("//search")) "search"
        else if (u.contains("//papers")) "paper"
        else "blog"
      CrawlLoop.entryOf(u, kind, 0, 0, 0, 0)
    }
    val sched = PoliteScheduler.scheduleSql(frontier, Map.empty, 0L,
      PoliteScheduler.Config(hostBudget = Int.MaxValue, defaultDelayMs = 0L))
    val parsed = sched.toDF()
      .withColumn("url_hash", col("entry.urlHash"))
      .join(pages.select(col("url_hash"), col("html")), Seq("url_hash"))
      .select(col("entry").as("_1"), col("html").as("_2"))
      .as[(graft.frontier.FrontierEntry, Array[Byte])]
      .map { case (e, htmlBytes) =>
        val r = PageParsers.parse(e, new String(htmlBytes, "UTF-8"))
        (r.records.size.toLong, r.links.size.toLong)
      }
      .toDF("n_records", "n_links")
      .agg(sum("n_records").as("r"), sum("n_links").as("l"))
      .collect()(0)
    (parsed.getLong(0), parsed.getLong(1))
  }

  /** Collects per-task wall millis + shuffle-write row counts for
    * everything run while registered.
    */
  private final class TaskDurations extends org.apache.spark.scheduler.SparkListener {
    val durs = scala.collection.mutable.ArrayBuffer[Long]()
    var shuffleRows = 0L
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      durs.synchronized {
        durs += t.taskInfo.duration
        if (t.taskMetrics != null)
          shuffleRows += t.taskMetrics.shuffleWriteMetrics.recordsWritten
      }
  }

  /** Skew evidence leg (north_rule: host-key skew handled explicitly): a
    * frontier where one hot host holds 6.4 M URLs — 1600× a cold host —
    * pushed through the schedule formulations at a finite politeness
    * budget on identical cached input. The bounded paths (typed-
    * Aggregator map-side top-k; the window twin via Spark's own
    * WindowGroupLimit pushdown) keep pre-shuffle volume budget-bound
    * regardless of hot-host size; the "sql_nobound" contrast disables the
    * pushdown, so every hot-host row shuffles into ONE post-shuffle
    * partition — its max task time IS the skew, and it grows linearly
    * with the hot host. Reported per impl: wall seconds (min of 2,
    * interleaved), p50/max task millis, and PER-RUN shuffle rows.
    */
  def skewLeg(s: SparkSession,
      results: scala.collection.mutable.LinkedHashMap[String, Double]): Unit = {
    import s.implicits._
    val hotUrls = 6400000L
    val nCold = 96
    val coldUrls = 4000L
    val frontier = s.range(hotUrls + nCold * coldUrls).map { i =>
      val (h, idx): (String, Long) =
        if (i < hotUrls) ("hot", i.toLong)
        else (s"c${(i - hotUrls) / coldUrls}", (i - hotUrls) % coldUrls)
      CrawlLoop.entryOf(s"https://$h.example.org/p/$idx", "blog", 0, 0,
        (idx >> 14).toInt, (idx & 0x3fff).toInt)
    }.cache()
    frontier.count() // materialize the input outside every timed region
    val cfg = PoliteScheduler.Config(hostBudget = 512, defaultDelayMs = 0L)
    val robots = Map.empty[String, (Seq[String], Long)]
    val impls = Seq("agg", "sql", "sql_nobound")
    def run(impl: String): Long = {
      // "sql_nobound" = the window twin with Spark's rank-limit pushdown
      // (WindowGroupLimit) disabled — the UNBOUNDED contrast leg: every
      // hot-host row shuffles into one post-shuffle partition, which is
      // what any naive per-host top-k does at 10^10-frontier scale
      val key = "spark.sql.optimizer.windowGroupLimitThreshold"
      val saved = s.conf.get(key)
      if (impl == "sql_nobound") s.conf.set(key, "-1")
      try {
        val sched =
          if (impl == "agg")
            PoliteScheduler.scheduleWithMap(frontier, robots, 0L, cfg)
          else PoliteScheduler.scheduleSql(frontier, robots, 0L, cfg)
        sched.toDF().count()
      } finally s.conf.set(key, saved)
    }
    val secs = impls.map(_ -> scala.collection.mutable.ArrayBuffer[Double]())
      .toMap
    // one listener PER REP: the reported task stats must come from the
    // same rep as the armored (min) wall time — pooling reps would let a
    // cold rep-1 straggler, the exact noise min-of-2 exists to reject,
    // masquerade as the skew evidence
    val stats = impls
      .map(_ -> scala.collection.mutable.ArrayBuffer[TaskDurations]())
      .toMap
    val reps = 2
    for (rep <- 1 to reps; impl <- impls) {
      val listener = new TaskDurations
      stats(impl) += listener
      s.sparkContext.addSparkListener(listener)
      try {
        secs(impl) += time(run(impl))._2
        // the bus is async: drain before detaching, or the straggler's
        // TaskEnd (the event this leg measures) is nondeterministically
        // lost
        org.apache.spark.graftshim.ListenerBridge.drain(s.sparkContext)
      } finally s.sparkContext.removeSparkListener(listener)
    }
    impls.foreach { impl =>
      val best = secs(impl).indexOf(secs(impl).min)
      val td = stats(impl)(best)
      val d = td.durs.sorted
      results(s"wave_skew_${impl}_sec") = secs(impl).min
      results(s"wave_skew_${impl}_task_p50_ms") =
        if (d.isEmpty) -1.0 else d(d.length / 2).toDouble
      results(s"wave_skew_${impl}_task_max_ms") =
        if (d.isEmpty) -1.0 else d.last.toDouble
      // the scale property: rows crossing the wire in the reported run.
      // Bounded paths move ≤ budget rows per host per partition; the
      // nobound contrast moves the ENTIRE hot host into one post-shuffle
      // partition — at a 10^8-row hot host that one task is the
      // OOM/straggler
      results(s"wave_skew_${impl}_shuffle_rows") = td.shuffleRows.toDouble
    }
    frontier.unpersist()
  }

  def main(args: Array[String]): Unit = {
    val wallStart = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()

    // ---- phase 1: driver-contract queries on sfDir -----------------------
    var spark = newSession(cpus, cpus)
    spark.range(1000000L).selectExpr("sum(id)").collect() // JVM/codegen warmup
    // pay the memoized crawl up front under its own key, so the q4x
    // queries time pure aggregation (comparable across rounds) and stay
    // re-runnable for the noise armor
    results("crawl_memoized_sec") =
      time { graft.operators.CrawlPipelines.result(spark); () }._2
    // likewise the memoized ANN codebook training (2 IVF + 3 PQ Lloyd
    // passes shared by q51/q52/q55/q64/q69) is paid up front under its
    // own key, so those queries time pure index probe/encode/search
    results("codebook_train_sec") =
      time(graft.operators.Codebooks.trainAll(spark, sfDir))._2
    // likewise the memoized q21 pair derivation (shared by q21 + q60 —
    // the materialize-the-capped-inverted-index production shape) is paid
    // up front under its own key, so q21 times the presentation sort and
    // q60 times pure label propagation
    results("edge_derive_sec") =
      time { graft.operators.DedupQueries.jaccardPairs(spark, sfDir); () }._2
    // Interference armor (single-shot per query in one long session): a
    // reading above 3× the query's ceilingSec is treated as co-tenant
    // noise (an r2 bench recorded 82 s for a query that reproduced at
    // 6.4 s) and the query is re-run once, with the MIN reported. With
    // every memoized input paid above, all queries are re-runnable.
    SparkEntry.registry.foreach { q =>
      // a failed query reports -1, NOT its (short) elapsed time — a
      // broken query must never read as a speedup in the bench record
      def once(): Double =
        try time(q.build(spark, sfDir).count())._2
        catch { case e: Throwable =>
          System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
          -1.0
        }
      val first = once()
      val bound = 3.0 * q.ceilingSec
      results(q.name) =
        if (first > bound) {
          val second = once() // outlier — noise armor, report the min
          System.err.println(
            f"[bench] ${q.name} outlier $first%.1fs > $bound%.1fs; rerun $second%.1fs")
          if (second < 0) first else math.min(first, second)
        } else first
    }

    // ---- phase 2: end-to-end crawl loop ---------------------------------
    // larger waves than the test config: per-wave overhead (four snapshot
    // writes, ~16–17 Spark jobs) amortizes over ~4k fetches/wave, which is
    // the shape real waves have; pages come from a bucketed table as they
    // would at scale
    val webCfg = SyntheticWeb.Config(seed = 7L, nHosts = 48,
      pagesPerHost = 4, itemsPerPage = 40, blogDepth = 2, blogFanout = 3,
      skewFactor = 2.0)
    // explicit temp LOCATION: a managed table's warehouse dir would
    // survive the JVM and collide with the next bench run
    BucketedPages.write(spark, SyntheticWeb.pages(spark, webCfg),
      "bench_crawl_pages", nBuckets = 32,
      path = Some(java.nio.file.Files
        .createTempDirectory("bench-crawl-pages").toString + "/t"))
    // min-of-2 per crawl leg: the loop is single-shot-per-run in a long
    // session, and the round-3 full runs read it 426 vs 638 URLs/s on
    // identical code — the leg needed the same noise armor phase 1 has.
    // Each timed run is a FULL fresh crawl (fresh snapshot dir); only
    // the page-table write is shared.
    def crawlOnce(cfg: SyntheticWeb.Config, budget: Int,
        table: String): (Long, Double) = {
      val (res, sec) = time {
        val dir = java.nio.file.Files.createTempDirectory("bench-crawl")
        CrawlLoop.run(spark, spark.emptyDataFrame,
          SyntheticWeb.seeds(spark, cfg), SyntheticWeb.robots(spark, cfg),
          new graft.store.SnapshotStore(dir.toString, spark),
          CrawlLoop.Config(scheduler =
            PoliteScheduler.Config(hostBudget = budget, defaultDelayMs = 1L),
            maxWaves = 24, pagesTable = Some(table)))
      }
      (res.fetchLog.count(), sec)
    }
    val (crawlUrls, crawlSec) = {
      val runs = (1 to 2).map(_ => crawlOnce(webCfg, 2048, "bench_crawl_pages"))
      runs.minBy(_._2)
    }
    results("crawl_end_to_end_sec") = crawlSec
    results("crawl_end_to_end_urls_per_sec") = crawlUrls / crawlSec

    // the same loop at 4× the items per page: wave count stays the
    // same (depth-bound), the per-wave FIXED cost (4 snapshot writes)
    // stays the same, so throughput should rise with wave size — the direct
    // evidence for the "overhead amortizes into the data plane" claim
    val webCfg4x = webCfg.copy(itemsPerPage = webCfg.itemsPerPage * 4)
    BucketedPages.write(spark, SyntheticWeb.pages(spark, webCfg4x),
      "bench_crawl_pages_4x", nBuckets = 32,
      path = Some(java.nio.file.Files
        .createTempDirectory("bench-crawl-pages4x").toString + "/t"))
    val (crawlUrls4x, crawlSec4x) = {
      val runs = (1 to 2).map(_ =>
        crawlOnce(webCfg4x, 8192, "bench_crawl_pages_4x"))
      runs.minBy(_._2)
    }
    results("crawl_end_to_end_4x_sec") = crawlSec4x
    results("crawl_end_to_end_4x_urls_per_sec") = crawlUrls4x / crawlSec4x
    // the every-run-stable crawl signal (the absolute 1× leg breathes
    // ±30% with co-tenant noise): throughput gain from 4× the wave size
    // at the SAME wave count — direct evidence the fixed per-wave cost
    // (four snapshot writes) amortizes into the data plane (≥ 2.3 across
    // all recorded runs; 4.0 would be perfect amortization with zero
    // marginal cost)
    results("crawl_amortization_ratio") =
      (crawlUrls4x / crawlSec4x) / (crawlUrls / crawlSec)

    // ---- phase 2b: hot-host skew evidence (see skewLeg scaladoc) ------
    skewLeg(spark, results)

    // ---- phase 3: wave + parse pipelines at three parallelism levels ----
    // big flat web: papers dominate (DOM parse is the CPU cost)
    val bigCfg = SyntheticWeb.Config(seed = 9L, nHosts = 512,
      pagesPerHost = 30, itemsPerPage = 50, blogDepth = 1, blogFanout = 2)
    val benchRoot = java.nio.file.Files.createTempDirectory("bench-web")
    val webDir = benchRoot.toString + "/pages"
    val bucketDir = benchRoot.toString + "/pages_bucketed"
    SyntheticWeb.pages(spark, bigCfg).write.mode("overwrite").parquet(webDir)
    BucketedPages.write(spark, spark.read.parquet(webDir), "bench_wave_pages",
      nBuckets = 64, path = Some(bucketDir))
    val nPages = spark.read.parquet(webDir).count()

    // Interleaved min-of-N per leg (see scaladoc): rep-major loop order so
    // a CPU-steal burst poisons at most one rep of each leg, not all reps
    // of one leg. Each leg visit is a fresh session (honest re-plan); the
    // codegen/JIT caches are JVM-wide, so only rep 1 pays warm runs. Rep
    // counts per leg trade wall time for noise floor: the noise-exposed
    // 4-core leg (headline 4N) gets 4, the inherently steady 1-core and
    // the throughput-display 32-core leg get 2 (their long/short legs
    // would otherwise dominate the bench's wall clock).
    val legs = Seq(1, 4, 32)
    def waveReps(p: Int): Int = if (p == 4) 4 else 2
    // parse@1 is informational only (the headline pair is the wave job;
    // the parse evidence that matters is 4→32, the shuffle-free
    // memory-ceiling comparison) and it is the single longest leg —
    // skipping it buys the wall budget the crawl legs' min-of-2 spends
    def parseReps(p: Int): Int = if (p == 1) 0 else 2
    val waveSecs = legs.map(p => p -> scala.collection.mutable.ArrayBuffer[Double]()).toMap
    val parseSecs = legs.map(p => p -> scala.collection.mutable.ArrayBuffer[Double]()).toMap
    for (rep <- 1 to 4; p <- legs) {
      if (rep <= math.max(waveReps(p), parseReps(p))) {
        spark = newSession(p, 64)
        BucketedPages.register(spark, "bench_wave_pages", bucketDir, 64)
        if (rep == 1) { // JIT + codegen + file-listing warm, once per leg
          if (parseReps(p) > 0) parsePipeline(spark, webDir)
          wavePipeline(spark, "bench_wave_pages")
        }
        if (rep <= parseReps(p))
          parseSecs(p) += time(parsePipeline(spark, webDir))._2
        if (rep <= waveReps(p))
          waveSecs(p) += time(wavePipeline(spark, "bench_wave_pages"))._2
      }
    }
    val waveTput = legs.map(p => p -> nPages / waveSecs(p).min).toMap
    val parseTput = legs.filter(parseSecs(_).nonEmpty)
      .map(p => p -> nPages / parseSecs(p).min).toMap
    legs.foreach { p =>
      results(s"wave_urls_per_sec_local$p") = waveTput(p)
      results(s"wave_sec_local$p") = waveSecs(p).min
      if (parseSecs(p).nonEmpty) {
        results(s"parse_urls_per_sec_local$p") = parseTput(p)
        results(s"parse_sec_local$p") = parseSecs(p).min
      }
    }
    val waveEff14 = (waveTput(4) / waveTput(1)) / 4.0
    val waveEff432 = (waveTput(32) / waveTput(4)) / 8.0
    results("wave_scaling_efficiency_1_to_4") = waveEff14
    results("wave_scaling_efficiency_4_to_32") = waveEff432
    results("parse_scaling_efficiency_4_to_32") = (parseTput(32) / parseTput(4)) / 8.0

    // ---- 4→32 ceiling probe: 32 cores, 2× shuffle parallelism ------------
    // if the 4→32 gap were shuffle-lane/scheduling bound, 128 shuffle
    // partitions would close it; if it is the box's single memory
    // subsystem, it won't move (the shuffle-free parse legs above give the
    // pure-CPU comparison point)
    spark = newSession(32, 128)
    BucketedPages.register(spark, "bench_wave_pages", bucketDir, 64)
    wavePipeline(spark, "bench_wave_pages") // warm
    val sp128 = (1 to 2)
      .map(_ => time(wavePipeline(spark, "bench_wave_pages"))._2).min
    results("wave_sec_local32_sp128") = sp128
    results("wave_scaling_efficiency_4_to_32_sp128") =
      ((nPages / sp128) / waveTput(4)) / 8.0

    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }
      .mkString("{", ",", "}")
    val total = (System.nanoTime() - wallStart) / 1e9
    // headline value + efficiency come from the SAME wave job: value is
    // the 4N (=4-core) leg of the headline 1→4 pair; the 4→32 pair and
    // the 32-core throughput are in `queries` (whole-box ceiling)
    val amort = results("crawl_amortization_ratio")
    println(s"""{"metric":"urls_fetched_parsed_per_sec","value":${f"${waveTput(4)}%.1f"},"unit":"urls/sec","total_sec":${f"$total%.1f"},"queries":$qs,"sf":"$sfDir","pages":$nPages,"scaling_efficiency":${f"$waveEff14%.3f"},"scaling_efficiency_1_to_4":${f"$waveEff14%.3f"},"scaling_efficiency_4_to_32":${f"$waveEff432%.3f"},"crawl_amortization_ratio":${f"$amort%.2f"}}""")
    spark.stop()
  }
}
