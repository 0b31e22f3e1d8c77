package graft.crawl

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.fixtures.SyntheticWeb
import graft.frontier.{FrontierEntry, PoliteScheduler}
import graft.store.SnapshotStore
import graft.url.UrlCanon
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** North-rule acceptance: the distributed crawl must reproduce the
  * reference-faithful SEQUENTIAL simulator's crawl ordering, URL-seen set
  * and extracted bytes under the same seed list + politeness budget.
  *
  * The simulator below is an independent single-threaded re-implementation
  * of the wave semantics (queue + maps, no Spark) sharing only the pure
  * parse functions — exactly the structure of the reference crawlers
  * (serial loops over in-memory lists).
  */
class CrawlLoopSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("crawl-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  val cfg = SyntheticWeb.Config(seed = 42L, nHosts = 3, pagesPerHost = 2,
    itemsPerPage = 4, blogDepth = 2, blogFanout = 2)
  val crawlCfg = CrawlLoop.Config(
    scheduler = PoliteScheduler.Config(hostBudget = 3, defaultDelayMs = 1000L),
    maxWaves = 32,
    bloomMinSeen = 0L) // force the bloom path at test scale

  final case class SimResult(
      records: Vector[PageParsers.CrawlRecord],
      seen: Set[Long],
      fetchesPerHostWave: Map[(String, Int), Int])

  /** Sequential reference simulator. */
  def simulate(pages: Map[Long, String],
      seeds: Seq[SyntheticWeb.Seed],
      robots: Map[String, (Seq[String], Long)],
      budget: Int, maxAttempts: Int, maxWaves: Int): SimResult = {
    def allowed(e: FrontierEntry): Boolean = robots.get(e.host) match {
      case Some((pre, _)) => !pre.exists(UrlCanon.pathOf(e.url).startsWith)
      case None           => true
    }
    var frontier = seeds.map(s =>
      CrawlLoop.entryOf(s.url, s.site, s.seed_id, 0, 0, 0)).filter(allowed)
    val seen = mutable.Set[Long](frontier.map(_.urlHash): _*)
    val records = Vector.newBuilder[PageParsers.CrawlRecord]
    val fetchCounts = mutable.Map[(String, Int), Int]()
    var wave = 0
    while (frontier.nonEmpty && wave < maxWaves) {
      // per-host budgeted pick in crawl order
      val byHost = frontier.groupBy(_.host)
      val picked = byHost.values.toVector.flatMap(_.sortBy(e =>
        (e.seed, e.depth, e.pageIdx, e.posInPage, e.urlHash)).take(budget))
      val pickedSet = picked.map(_.urlHash).toSet
      val rest = frontier.filterNot(e => pickedSet.contains(e.urlHash))
      val retries = Vector.newBuilder[FrontierEntry]
      val waveLinks = Vector.newBuilder[FrontierEntry]
      for (e <- picked) {
        fetchCounts((e.host, wave)) = fetchCounts.getOrElse((e.host, wave), 0) + 1
        val html = pages.get(e.urlHash)
        PageParsers.fetchStatus(html, e.attempts) match {
          case 200 =>
            val r = PageParsers.parse(e, html.get)
            records ++= r.records
            waveLinks ++= r.links.map(l => CrawlLoop.entryOf(l.url, l.kind,
              l.seed, l.depth, l.pageIdx, l.posInPage)).filter(allowed)
          case 503 if e.attempts + 1 < maxAttempts =>
            retries += e.copy(attempts = e.attempts + 1)
          case _ => () // dropped / 404
        }
      }
      // in-wave dedup keeps the MIN crawl-order entry per url (matching the
      // engine's row_number window), then the seen filter
      val newLinks = waveLinks.result()
        .groupBy(_.urlHash).values
        .map(_.minBy(e => (e.seed, e.depth, e.pageIdx, e.posInPage)))
        .filter(e => !seen.contains(e.urlHash))
        .toVector
      newLinks.foreach(seen += _.urlHash)
      frontier = rest ++ retries.result() ++ newLinks
      wave += 1
    }
    SimResult(records.result(), seen.toSet, fetchCounts.toMap)
  }

  lazy val pagesDf = SyntheticWeb.pages(spark, cfg).cache()
  lazy val seedsDs = SyntheticWeb.seeds(spark, cfg)
  lazy val robotsDs = SyntheticWeb.robots(spark, cfg)

  lazy val pagesMap: Map[Long, String] = pagesDf.collect().map { r =>
    CrawlLoop.hash64(UrlCanon.canonicalize(r.getAs[String]("url"))) ->
      new String(r.getAs[Array[Byte]]("html"), "UTF-8")
  }.toMap
  lazy val robotsMap = robotsDs.collect()
    .map(r => r.host -> ((r.disallow_prefixes, r.crawl_delay_ms))).toMap

  lazy val sim = simulate(pagesMap, seedsDs.collect().toSeq, robotsMap,
    crawlCfg.scheduler.hostBudget, CrawlLoop.MaxAttempts, crawlCfg.maxWaves)

  def runEngine(dir: java.nio.file.Path): CrawlLoop.Result = {
    val store = new SnapshotStore(dir.toString, spark)
    CrawlLoop.run(spark, pagesDf, seedsDs, robotsDs, store, crawlCfg)
  }

  lazy val engine: CrawlLoop.Result =
    runEngine(java.nio.file.Files.createTempDirectory("crawl-spec"))

  test("engine reproduces the sequential simulator's records byte-for-byte" +
    " in crawl order") {
    import spark.implicits._
    val eng = engine.records.as[PageParsers.CrawlRecord]
      .collect().sortBy(_.crawl_rank).toVector
    val simSorted = sim.records.sortBy(_.crawl_rank)
    assert(eng.size == simSorted.size,
      s"record counts differ: engine=${eng.size} sim=${simSorted.size}")
    eng.zip(simSorted).foreach { case (a, b) => assert(a == b) }
    assert(eng.nonEmpty)
  }

  test("engine URL-seen set equals simulator seen set") {
    val engSeen = engine.seen.collect().map(_.getLong(0)).toSet
    assert(engSeen == sim.seen)
  }

  test("byte-identical extracted text per url (input_hint invariant): " +
    "paper abstracts match the pages.text oracle column") {
    import spark.implicits._
    val expected = pagesDf
      .filter(col("text") =!= "")
      .select(col("url"), col("text")).as[(String, String)]
      .collect().toMap
    val papers = engine.records.as[PageParsers.CrawlRecord].collect()
      .filter(r => expected.contains(r.url))
    assert(papers.nonEmpty)
    papers.foreach { r =>
      assert(r.abstract_text == expected(r.url),
        s"byte contract broken for ${r.url}")
    }
  }

  test("politeness: per host ≤ budget per wave; consecutive not_before " +
    "≥ crawl delay apart") {
    val log = engine.fetchLog.collect().map { r =>
      (r.getAs[String]("host"), r.getAs[Int]("wave"),
        r.getAs[Int]("slot"), r.getAs[Long]("not_before"))
    }
    val byHostWave = log.groupBy(t => (t._1, t._2))
    byHostWave.foreach { case ((host, _), rows) =>
      assert(rows.length <= crawlCfg.scheduler.hostBudget)
      val delay = robotsMap.get(host).map(_._2)
        .getOrElse(crawlCfg.scheduler.defaultDelayMs)
      val times = rows.sortBy(_._3).map(_._4)
      times.sliding(2).foreach {
        case Array(a, b) => assert(b - a >= delay)
        case _           => ()
      }
    }
    // and the engine scheduled the same host-wave fetch counts as the sim
    val engCounts = byHostWave.view.mapValues(_.length).toMap
    assert(engCounts == sim.fetchesPerHostWave)
  }

  test("retries: flaky pages succeed after their marked failures; " +
    "fetch_log shows 503 then 200 for the same url_hash") {
    val log = engine.fetchLog.collect().map { r =>
      (r.getAs[Long]("url_hash"), r.getAs[Int]("wave"),
        r.getAs[Int]("status"))
    }
    val flaky = log.filter(_._3 == 503).map(_._1).toSet
    assert(flaky.nonEmpty, "fixture should contain flaky pages")
    flaky.foreach { h =>
      val mine = log.filter(_._1 == h).sortBy(_._2).map(_._3)
      assert(mine.last == 200, s"flaky page $h never succeeded: ${mine.toList}")
    }
  }

  test("resume: killing after wave 0 and resuming from the snapshot yields " +
    "identical final records and seen set") {
    val dir = java.nio.file.Files.createTempDirectory("crawl-resume")
    val store1 = new SnapshotStore(dir.toString, spark)
    // run only the first wave, then "crash"
    CrawlLoop.run(spark, pagesDf, seedsDs, robotsDs, store1,
      crawlCfg.copy(maxWaves = 1))
    // resume with a fresh store handle over the same root
    val store2 = new SnapshotStore(dir.toString, spark)
    val resumed = CrawlLoop.run(spark, pagesDf, seedsDs, robotsDs, store2,
      crawlCfg)
    import spark.implicits._
    val eng = resumed.records.as[PageParsers.CrawlRecord]
      .collect().sortBy(_.crawl_rank).toVector
    assert(eng == sim.records.sortBy(_.crawl_rank))
    val engSeen = resumed.seen.collect().map(_.getLong(0)).toSet
    assert(engSeen == sim.seen)
  }

  test("bucketed pages table (cfg.pagesTable) produces the identical crawl " +
    "with the html payload never shuffling") {
    graft.sources.BucketedPages.write(spark, pagesDf, "crawl_pages_bucketed",
      nBuckets = 4, path = Some(java.nio.file.Files
        .createTempDirectory("crawl-bucket-tbl").toString + "/pages"))
    val dir = java.nio.file.Files.createTempDirectory("crawl-bucketed")
    val store = new SnapshotStore(dir.toString, spark)
    val res = CrawlLoop.run(spark, pagesDf, seedsDs, robotsDs, store,
      crawlCfg.copy(pagesTable = Some("crawl_pages_bucketed")))
    import spark.implicits._
    val eng = res.records.as[PageParsers.CrawlRecord]
      .collect().sortBy(_.crawl_rank).toVector
    assert(eng == sim.records.sortBy(_.crawl_rank))
  }

  test("bloom delta threshold 0 and 20 both reproduce the simulator") {
    import spark.implicits._
    val simRecords = sim.records.sortBy(_.crawl_rank)
    def check(name: String, res: CrawlLoop.Result): Unit = {
      val eng = res.records.as[PageParsers.CrawlRecord]
        .collect().sortBy(_.crawl_rank).toVector
      assert(eng == simRecords, s"records diverge: $name")
      assert(res.seen.collect().map(_.getLong(0)).toSet == sim.seen,
        s"seen set diverges: $name")
    }
    def tmpStore(name: String) = new SnapshotStore(
      java.nio.file.Files.createTempDirectory(name).toString, spark)

    // 20 lies inside the crawl's seen growth: the early waves feed the
    // driver segments raw hashes, the later ones task-built segments
    check("threshold 20", CrawlLoop.run(spark, pagesDf, seedsDs, robotsDs,
      tmpStore("crawl-bloom-flip"), crawlCfg.copy(bloomDeltaThreshold = 20L)))

    // 0: segment partials from wave 0 on. Killed after 2 waves, the resume
    // re-seeds the driver segments DISTRIBUTED (buildSegments over the
    // stored seen deltas, nBuckets-row collect — no hash transits the
    // driver) and must yield the identical final crawl
    val deltaCfg = crawlCfg.copy(bloomDeltaThreshold = 0L)
    val store = tmpStore("crawl-bloom-delta")
    CrawlLoop.run(spark, pagesDf, seedsDs, robotsDs, store,
      deltaCfg.copy(maxWaves = 2))
    check("threshold 0, resumed after 2 waves", CrawlLoop.run(spark, pagesDf,
      seedsDs, robotsDs, new SnapshotStore(store.root, spark), deltaCfg))
  }

  test("the same crawl run three times in one JVM writes identical " +
    "records, fetch_log and seen tables") {
    // the four writes of a wave run concurrently: their outputs must not
    // depend on which one reaches a shared cached frame first
    def digest(res: CrawlLoop.Result): (Seq[String], Seq[String], Seq[Long]) = (
      res.records.collect().map(_.toString).sorted.toSeq,
      res.fetchLog.collect().map(_.toString).sorted.toSeq,
      res.seen.collect().map(_.getLong(0)).sorted.toSeq)
    val runs = (0 until 3).map(i => digest(runEngine(
      java.nio.file.Files.createTempDirectory(s"crawl-repeat-$i"))))
    assert(runs.head._1.nonEmpty && runs.head._2.nonEmpty)
    assert(runs.head._3.toSet == sim.seen)
    runs.tail.foreach(r => assert(r == runs.head))
  }

  test("a fresh crawl seeds its seen set with one bounded collect: the " +
    "start runs at most 2 Spark jobs") {
    // maxWaves = 0 runs only the crawl's start: robots, admission and the
    // driver's bloom segments. At the default bloomDeltaThreshold the seed
    // hashes come back in one limited collect (the distinct's shuffle map
    // job and its result job); counting the seen set and the frontier
    // apart ran 7
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    seedsDs.collect(); robotsDs.collect() // the fixtures' own setup
    org.apache.spark.graftshim.ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    val res =
      try {
        val r = CrawlLoop.run(spark, pagesDf, seedsDs, robotsDs,
          new SnapshotStore(java.nio.file.Files
            .createTempDirectory("crawl-start").toString, spark),
          crawlCfg.copy(maxWaves = 0))
        org.apache.spark.graftshim.ListenerBridge.drain(sc)
        r
      } finally sc.removeSparkListener(listener)
    assert(res.waves == 0)
    assert(jobs.get >= 1 && jobs.get <= 2, s"${jobs.get} jobs")
  }

  test("per-wave metrics come from footers/accumulators and match the " +
    "simulator's fetch counts") {
    val dir = java.nio.file.Files.createTempDirectory("crawl-metrics")
    val store = new SnapshotStore(dir.toString, spark)
    CrawlLoop.run(spark, pagesDf, seedsDs, robotsDs, store, crawlCfg)
    val perWaveScheduled = store.snapshots.map(store.readManifest)
      .map(s => s.wave -> s.metrics.getOrElse("scheduled", 0L)).toMap
    val simPerWave = sim.fetchesPerHostWave.groupBy(_._1._2)
      .view.mapValues(_.values.sum.toLong).toMap
    assert(perWaveScheduled == simPerWave,
      s"engine=$perWaveScheduled sim=$simPerWave")
  }

  test("manifest row counts equal the Parquet footers and count() for " +
    "every table of a crawl_deep-shaped crawl") {
    // perfbench's crawl_deep web and budget: one hot host far over a
    // 32-URL budget, so later waves are small and budget-bound
    val web = SyntheticWeb.Config(seed = 7L, nHosts = 8, pagesPerHost = 2,
      itemsPerPage = 16, blogDepth = 1, blogFanout = 2, skewFactor = 8.0)
    val store = new SnapshotStore(java.nio.file.Files
      .createTempDirectory("crawl-counts").toString, spark)
    CrawlLoop.run(spark, SyntheticWeb.pages(spark, web),
      SyntheticWeb.seeds(spark, web), SyntheticWeb.robots(spark, web), store,
      CrawlLoop.Config(scheduler = PoliteScheduler.Config(hostBudget = 32,
        defaultDelayMs = 1L), maxWaves = 4))
    val conf = spark.sparkContext.hadoopConfiguration
    def footerRows(path: String): Long = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(path), conf))
      try r.getRecordCount finally r.close()
    }
    val snaps = store.snapshots.map(store.readManifest)
    assert(snaps.size == 4)
    for (s <- snaps; (table, path) <- s.tables) {
      val files = s.files(table)
      val manifest = store.tableRowCount(s, table)
      assert(manifest == files.map(f => footerRows(f.path)).sum, table)
      assert(manifest == spark.read.parquet(path).count(), table)
    }
    assert(snaps.forall(s => s.tables.size == 4 &&
      s.metrics("scheduled") == store.tableRowCount(s, s"fetch_log_w${s.wave}")))
    assert(snaps.map(s => store.tableRowCount(s, s"records_w${s.wave}")).sum > 0)
  }

  test("ordering invariance under repartition: records identical at " +
    "different parallelism") {
    // second full engine run in the same session but different shuffle
    // partitioning must give identical bytes (O1 invariance)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val r2 = runEngine(java.nio.file.Files.createTempDirectory("crawl-p7"))
      import spark.implicits._
      val a = engine.records.as[PageParsers.CrawlRecord]
        .collect().sortBy(_.crawl_rank).toVector
      val b = r2.records.as[PageParsers.CrawlRecord]
        .collect().sortBy(_.crawl_rank).toVector
      assert(a == b)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("reloading a committed crawl starts no Spark job and keeps the " +
    "schemas Spark infers from the written files") {
    val store = new SnapshotStore(java.nio.file.Files
      .createTempDirectory("crawl-reload").toString, spark)
    CrawlLoop.run(spark, pagesDf, seedsDs, robotsDs, store,
      crawlCfg.copy(maxWaves = 3))
    assert(store.snapshots.size == 3)

    val sc = spark.sparkContext
    val group = "crawl-reload"
    sc.setJobGroup(group, "seen union and result frames")
    val res =
      try CrawlLoop.result(spark, store, 3)
      finally sc.clearJobGroup()
    org.apache.spark.graftshim.ListenerBridge.drain(sc)
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty)

    def written(prefix: String): Seq[String] = store.snapshots
      .flatMap(id => store.readManifest(id).tables.toSeq)
      .collect { case (name, path) if name.startsWith(prefix) => path }
    def columns(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => f.name -> f.dataType).toSeq
    Seq("records_w" -> res.records, "fetch_log_w" -> res.fetchLog,
      "seen_w" -> res.seen).foreach { case (prefix, df) =>
      val paths = written(prefix)
      assert(paths.size == 3, prefix)
      assert(columns(df) == columns(spark.read.parquet(paths: _*)), prefix)
    }
    val hashes = written("seen_w")
      .flatMap(p => spark.read.parquet(p).collect().map(_.getLong(0)))
    assert(hashes.nonEmpty)
    assert(res.seen.collect().map(_.getLong(0)).sorted.toSeq == hashes.sorted)
  }

  test("a URL re-discovered waves after it was first seen is fetched " +
    "once, as in the simulator, with either bloom feed") {
    import spark.implicits._
    // start → {a, b} (wave 0); a → c, b → start (wave 1); c → start, a, d
    // (wave 2); d → c, b (wave 3): waves 2 and 3 link back to URLs first
    // seen in waves 0 and 1, so only the union of every seen delta, and
    // bloom segments holding every earlier wave's hashes, keep them out of
    // the frontier
    def url(p: String) = s"https://loop.example.org/$p"
    val links = Map(
      "start" -> Seq("a", "b"), "a" -> Seq("c"), "b" -> Seq("start"),
      "c" -> Seq("start", "a", "d"), "d" -> Seq("c", "b"))
    val web = links.map { case (p, out) =>
      val anchors = out.map(o => s"""<li><a href="/$o">$o</a></li>""")
      url(p) -> s"""<html><body><div class="b_con"><h1>page $p</h1>
        |<ul>${anchors.mkString}</ul></div></body></html>""".stripMargin
    }
    val pages = web.toSeq.map { case (u, h) => (u, h.getBytes("UTF-8")) }
      .toDF("url", "html")
    val seeds = Seq(SyntheticWeb.Seed(0, url("start"), "blog", "")).toDS()
    val robots = spark.emptyDataset[SyntheticWeb.Robots]
    val simRes = simulate(web.map { case (u, h) => CrawlLoop.hash64(u) -> h },
      seeds.collect().toSeq, Map.empty, crawlCfg.scheduler.hostBudget,
      CrawlLoop.MaxAttempts, crawlCfg.maxWaves)

    // the default threshold feeds the segments raw hashes, 0 task-built
    // segment partials
    Seq(crawlCfg.bloomDeltaThreshold, 0L).foreach { threshold =>
      val res = CrawlLoop.run(spark, pages, seeds, robots,
        new SnapshotStore(java.nio.file.Files
          .createTempDirectory("crawl-rediscover").toString, spark),
        crawlCfg.copy(bloomDeltaThreshold = threshold))
      val eng = res.records.as[PageParsers.CrawlRecord]
        .collect().sortBy(_.crawl_rank).toVector
      assert(eng == simRes.records.sortBy(_.crawl_rank), threshold)
      assert(res.seen.collect().map(_.getLong(0)).toSet == simRes.seen,
        threshold)

      val fetchWave = res.fetchLog.collect()
        .map(r => r.getAs[Long]("url_hash") -> r.getAs[Int]("wave"))
      val fetches = fetchWave.groupBy(_._1).view.mapValues(_.length).toMap
      assert(fetches == web.keys.map(u => CrawlLoop.hash64(u) -> 1).toMap,
        threshold)
      assert(res.waves == 4 && fetchWave.map(_._2).max == 3, threshold)
    }
  }

  test("steady waves keep one plan shape: no wave after the second " +
    "compiles a class, and the seen set is one Parquet scan") {
    import spark.implicits._
    // one host behind a budget of 2: page i links to its children 2i+1
    // and 2i+2 and back to the start page, so every wave fetches 2 pages,
    // finds 4 new links and re-discovers a seen URL — the same physical
    // plan, stage for stage, from wave 1 on
    def url(i: Int) = s"https://deep.example.org/p$i"
    val web = (0 until 64).map { i =>
      val anchors = Seq(2 * i + 1, 2 * i + 2, 0)
        .map(c => s"""<li><a href="/p$c">p$c</a></li>""")
      url(i) -> s"""<html><body><div class="b_con"><h1>page $i</h1>
        |<ul>${anchors.mkString}</ul></div></body></html>""".stripMargin
    }
    val pages = web.map { case (u, h) => (u, h.getBytes("UTF-8")) }
      .toDF("url", "html")
    val seeds = Seq(SyntheticWeb.Seed(0, url(0), "blog", "")).toDS()
    val robots = spark.emptyDataset[SyntheticWeb.Robots]

    // the JVM's whole-stage and projection compile count at each commit
    val compiles = mutable.ArrayBuffer[Long]()
    val store = new SnapshotStore(java.nio.file.Files
        .createTempDirectory("crawl-shape").toString, spark) {
      override def begin(wave: Int): Pending = new Pending(wave) {
        override def commit(metricsFn: Map[String,
            Seq[SnapshotStore.DataFile]] => Map[String, Long]): Snapshot = {
          val snap = super.commit(metricsFn)
          compiles += org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME.getCount
          snap
        }
      }
    }
    // at the default bloomMinSeen a crawl this small never probes the
    // bloom, whose two branches over one shuffle AQE may number in either
    // order (the same code under swapped codegen stage ids). The codegen
    // cache keys a class by code and context classloader: a loader of its
    // own keeps classes that earlier crawls in this JVM compiled for the
    // same wave numbers from hiding a per-wave compile. Spark also
    // compiles on pooled stage threads (ResultQueryStageExecution-*,
    // shuffle-exchange-*), which keep the loader of the thread that made
    // them, so every live thread gets the crawl's loader: otherwise one
    // class compiles again whenever its stage lands on a thread with the
    // other loader.
    val fresh = new java.net.URLClassLoader(Array.empty[java.net.URL],
      Thread.currentThread.getContextClassLoader)
    val loaders = Thread.getAllStackTraces.keySet.asScala.toSeq.flatMap { t =>
      val l = t.getContextClassLoader
      // JDK-internal threads refuse a new loader; they compile no SQL
      scala.util.Try(t.setContextClassLoader(fresh)).toOption.map(_ => t -> l)
    }
    // a write plans while the wave's other writes build the cached frames
    // it reads, and a cached frame's size estimate changes once it is
    // built: a join against it is planned as a broadcast in one wave and
    // a sort-merge join in the next, and each compiles its own classes.
    // The check is about the plans the loop builds, so size-driven join
    // choice is off (explicit broadcast hints still apply).
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val res =
      try CrawlLoop.run(spark, pages, seeds, robots, store, crawlCfg.copy(
        maxWaves = 5, bloomMinSeen = CrawlLoop.Config().bloomMinSeen,
        scheduler = crawlCfg.scheduler.copy(hostBudget = 2)))
      finally {
        loaders.foreach { case (t, l) => t.setContextClassLoader(l) }
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      }
    assert(res.waves == 5 && compiles.size == 5)
    assert(compiles.drop(2).forall(_ == compiles(1)),
      s"compile count at each commit: $compiles")

    val scans = res.seen.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1)
    val seenFiles = store.snapshots.map(store.readManifest)
      .flatMap(_.tables.collect { case (n, p) if n.startsWith("seen_w") => p })
      .flatMap { dir =>
        val ls = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        try ls.iterator.asScala.filter(_.toString.endsWith(".parquet")).toList
        finally ls.close()
      }
    assert(seenFiles.size >= 5)
    assert(res.seen.inputFiles.map(f =>
      java.nio.file.Paths.get(new java.net.URI(f))).toSet == seenFiles.toSet)
  }

  test("manifest reads per wave stay flat as the chain grows: the loop " +
    "reads the chain once and appends each wave's seen delta") {
    import spark.implicits._
    def url(i: Int) = s"https://flat.example.org/p$i"
    val pages = (0 until 64).map { i =>
      val anchors = Seq(2 * i + 1, 2 * i + 2)
        .map(c => s"""<li><a href="/p$c">p$c</a></li>""").mkString
      url(i) -> s"""<html><body><div class="b_con"><h1>page $i</h1>
        |<ul>$anchors</ul></div></body></html>""".stripMargin
        .getBytes("UTF-8")
    }.toDF("url", "html")
    val seeds = Seq(SyntheticWeb.Seed(0, url(0), "blog", "")).toDS()
    // manifest reads counted at each commit
    var reads = 0
    val atCommit = mutable.ArrayBuffer[Int]()
    val store = new SnapshotStore(java.nio.file.Files
        .createTempDirectory("crawl-manifests").toString, spark) {
      override def readManifest(id: Long): Snapshot = {
        reads += 1
        super.readManifest(id)
      }
      override def begin(wave: Int): Pending = new Pending(wave) {
        override def commit(metricsFn: Map[String,
            Seq[SnapshotStore.DataFile]] => Map[String, Long]): Snapshot = {
          val snap = super.commit(metricsFn)
          atCommit += reads
          snap
        }
      }
    }
    val res = CrawlLoop.run(spark, pages, seeds,
      spark.emptyDataset[SyntheticWeb.Robots], store, crawlCfg.copy(
        maxWaves = 6, scheduler = crawlCfg.scheduler.copy(hostBudget = 2)))
    assert(res.waves == 6 && atCommit.size == 6)
    val perWave = atCommit.zip(atCommit.tail).map { case (a, b) => b - a }
    assert(perWave.drop(1).forall(_ == perWave.head),
      s"manifest reads per wave: $perWave")
  }
}
