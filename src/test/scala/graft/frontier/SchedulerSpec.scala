package graft.frontier

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import graft.fixtures.SyntheticWeb

/** The two scheduler implementations (typed Aggregator vs window function)
  * must produce the identical wave: same picked set, same slots, same
  * notBefore times — they are interchangeable plan-level choices, not
  * semantic variants.
  */
class SchedulerSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  test("scheduleWithMap and scheduleSql produce the identical wave") {
    import spark.implicits._
    val frontier = spark.createDataset(mkFrontier(500))
    for (budget <- Seq(1, 3, 64, 1000)) {
      val cfg = PoliteScheduler.Config(hostBudget = budget,
        defaultDelayMs = 1000L)
      def norm(w: Array[Scheduled]) =
        w.map(s => (s.entry, s.slot, s.notBefore)).sortBy(_._1.urlHash).toSeq
      val a = norm(PoliteScheduler.scheduleWithMap(frontier,
        spark.sparkContext.broadcast(robots), 7000L, cfg).collect())
      val b = norm(PoliteScheduler.scheduleSql(frontier, robots, 7000L, cfg)
        .collect())
      assert(a == b, s"agg vs sql mismatch at budget=$budget")
    }
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
