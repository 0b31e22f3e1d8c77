package graft.frontier

import java.util.concurrent.atomic.AtomicLong
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.fixtures.SyntheticWeb

object SchedulerSpec {
  /** Entry `i` of host `host`: its crawl-rank fields are scrambled from
    * `i`, so a host's rank order is unrelated to the order rows arrive in.
    */
  def entry(host: String, i: Long): FrontierEntry = {
    val h = SyntheticWeb.mix(i ^ host.hashCode.toLong)
    FrontierEntry(s"https://$host/p$i", h, host, "blog", 0, (i % 3).toInt,
      ((h >>> 33) % 50000).toInt, (i % 11).toInt, 0)
  }
}

/** The politeness scheduler against a driver-side model of the wave, and
  * its pre-shuffle bound under one hot host.
  */
class SchedulerSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SchedulerSpec.entry

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").appName("sched-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  def mkFrontier(n: Int): Seq[FrontierEntry] =
    (0 until n).map { i =>
      val host = s"h${i % 7}.example.org"
      FrontierEntry(s"https://$host/p$i", SyntheticWeb.mix(i.toLong), host,
        "search", i % 3, i % 4, i % 5, i % 11, 0)
    }

  val robots: Map[String, (Seq[String], Long)] = Map(
    "h1.example.org" -> ((Seq("/p1"), 250L)),
    "h2.example.org" -> ((Seq.empty[String], 500L)))

  /** The wave as the scheduler's contract states it, computed on the
    * driver: per host, the robots filter, then crawl order
    * (seed, depth, pageIdx, posInPage, urlHash), then the first `budget`;
    * slot = index and notBefore = waveStart + slot × the host's delay.
    */
  def model(frontier: Seq[FrontierEntry], budget: Int, waveStart: Long,
      defaultDelay: Long): Seq[Scheduled] =
    frontier
      .filterNot { e =>
        val path = new java.net.URI(e.url).getRawPath
        robots.get(e.host).exists(_._1.exists(path.startsWith))
      }
      .groupBy(_.host).toSeq.flatMap { case (host, es) =>
        val delay = robots.get(host).map(_._2).getOrElse(defaultDelay)
        es.sortBy(e => (e.seed, e.depth, e.pageIdx, e.posInPage, e.urlHash))
          .take(budget).zipWithIndex
          .map { case (e, slot) => Scheduled(e, slot, waveStart + slot * delay) }
      }

  test("scheduleWithMap equals the driver-side model at budgets 1 to " +
    "unbounded, with a hot host past the top-k's compaction point in " +
    "every partition") {
    import spark.implicits._
    val parts = 4
    // hashed order interleaves the hot host's rows over every slice
    val rows = (mkFrontier(500) ++
      (0L until 6000L).map(entry("hot.example.org", _))).sortBy(_.urlHash)
    val frontier = spark.createDataset(spark.sparkContext.parallelize(rows, parts))
    // each partition holds more hot rows than TopKByRank buffers before
    // it compacts (2 × budget, at most 1,024 at budgets ≤ 512), so
    // `reduce` compacts there; at budget 1,000 two partitions' buffers pass
    // 2,000 in `merge`
    val hotPerPart = frontier.mapPartitions(it =>
      Iterator(it.count(_.host == "hot.example.org"))).collect()
    assert(hotPerPart.length == parts && hotPerPart.forall(_ > 1024),
      hotPerPart.mkString(","))
    def norm(w: Seq[Scheduled]) = w.sortBy(s => (s.entry.host, s.slot))
    for (budget <- Seq(1, 3, 64, 1000, Int.MaxValue)) {
      val cfg = PoliteScheduler.Config(hostBudget = budget,
        defaultDelayMs = 1000L)
      val got = PoliteScheduler.scheduleWithMap(frontier,
        spark.sparkContext.broadcast(robots), 7000L, cfg).collect().toSeq
      assert(norm(got) == norm(model(rows, budget, 7000L, 1000L)),
        s"schedule differs from the model at budget=$budget")
    }
  }

  test("a top-k buffer holds at most 2 × budget entries after any " +
    "reduce or merge, and finishes to the model's first budget") {
    val rows = (0L until 5000L).map(entry("hot.example.org", _))
    for (budget <- Seq(1, 512)) {
      val agg = new PoliteScheduler.TopKByRank(budget)
      def fold(es: Seq[FrontierEntry]) = es.foldLeft(agg.zero) { (b, e) =>
        val next = agg.reduce(b, e)
        assert(next.length <= 2 * budget, s"reduce at budget=$budget")
        next
      }
      val (left, right) = rows.splitAt(2000)
      val merged = agg.merge(fold(left), fold(right))
      assert(merged.length <= 2 * budget, s"merge at budget=$budget")
      assert(agg.finish(merged) == rows.sortBy(e =>
        (e.seed, e.depth, e.pageIdx, e.posInPage, e.urlHash)).take(budget))
    }
  }

  test("the schedule shuffles one row per host per input partition, and " +
    "as many when the hot host doubles") {
    import spark.implicits._
    val parts = 4
    val nCold = 6
    val budget = 64
    // every host has rows in every input partition
    def frontier(hotRows: Int): Dataset[FrontierEntry] =
      spark.range(0, parts, 1, parts).flatMap { p =>
        Iterator.range(0, hotRows / parts)
          .map(k => entry("hot.example.org", p * hotRows + k)) ++
          Iterator.range(0, nCold * 50)
            .map(k => entry(s"c${k % nCold}.example.org", p * 1000L + k))
      }
    def scheduleCountingShuffle(hotRows: Int): (Long, Array[Scheduled]) = {
      val sc = spark.sparkContext
      val records = new AtomicLong
      val listener = new SparkListener {
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null)
            records.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
      }
      sc.addSparkListener(listener)
      try {
        val wave = PoliteScheduler.scheduleWithMap(frontier(hotRows),
          Map.empty[String, (Seq[String], Long)], 0L,
          PoliteScheduler.Config(hostBudget = budget)).collect()
        org.apache.spark.graftshim.ListenerBridge.drain(sc)
        (records.get, wave)
      } finally sc.removeSparkListener(listener)
    }
    val hosts = nCold + 1
    val (shuffled, wave) = scheduleCountingShuffle(20000)
    assert(shuffled > 0 && shuffled <= hosts * parts, s"$shuffled records")
    assert(wave.groupBy(_.entry.host).map(_._2.length).toSet == Set(budget))
    val (shuffled2x, _) = scheduleCountingShuffle(40000)
    assert(shuffled2x == shuffled)
  }

  test("politeness invariants: per-host count ≤ budget; slots dense from 0; " +
    "robots delay override honored; disallowed prefixes excluded") {
    import spark.implicits._
    val frontier = spark.createDataset(mkFrontier(500))
    val cfg = PoliteScheduler.Config(hostBudget = 10, defaultDelayMs = 1000L)
    val wave = PoliteScheduler.scheduleWithMap(frontier, robots, 0L, cfg)
      .collect()
    val byHost = wave.groupBy(_.entry.host)
    byHost.foreach { case (host, rows) =>
      assert(rows.length <= 10)
      assert(rows.map(_.slot).sorted.toSeq == (0 until rows.length))
      val delay = host match {
        case "h1.example.org" => 250L
        case "h2.example.org" => 500L
        case _                => 1000L
      }
      rows.sortBy(_.slot).map(_.notBefore).sliding(2).foreach { pair =>
        if (pair.length == 2) assert(pair(1) - pair(0) == delay)
      }
    }
    assert(!wave.exists(s => s.entry.host == "h1.example.org" &&
      s.entry.url.contains("/p1")))
  }
}
