package graft.bench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.crawl.CrawlLoop
import graft.fixtures.SyntheticWeb
import graft.sources.BucketedPages
import graft.store.SnapshotStore

/** The generated workloads keep the shape they were chosen for. */
class WorkloadShapeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val work = Files.createTempDirectory("perfbench-shape")
  private lazy val spark: SparkSession = Main.session(Main.Cores, work)

  override def afterAll(): Unit = {
    spark.stop()
    Layers.deleteTree(work)
  }

  private def pagesDigest(cfg: SyntheticWeb.Config): (Long, Long) = {
    val r = SyntheticWeb.pages(spark, cfg)
      .agg(count(lit(1)), sum(xxhash64(col("url"), col("html"))
        .mod(lit(1000000007L)))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def crawl(shape: CrawlWorkload.Shape, seed: Long) = {
    val web = shape.web(seed)
    val table = s"${shape.name}_shape_$seed"
    BucketedPages.write(spark, SyntheticWeb.pages(spark, web), table,
      shape.nBuckets, Some(work.resolve(table).toString))
    val store = new SnapshotStore(work.resolve(s"store_$table").toString, spark)
    val res = CrawlLoop.run(spark, spark.emptyDataFrame,
      SyntheticWeb.seeds(spark, web), SyntheticWeb.robots(spark, web), store,
      shape.crawl.copy(pagesTable = Some(table)))
    (res, store.snapshots.map(store.readManifest))
  }

  test("the same seed gives identical inputs; another seed does not") {
    val webs: Seq[Long => SyntheticWeb.Config] = Seq(CrawlWorkload.Deep.web,
      CrawlWorkload.Wide.web, WaveScanWorkload.web)
    webs.foreach { web =>
      assert(pagesDigest(web(11L)) == pagesDigest(web(11L)))
      assert(pagesDigest(web(11L)) != pagesDigest(web(12L)))
    }
  }

  test("crawl_deep: budget-bound waves, seen set below the delta threshold") {
    val shape = CrawlWorkload.Deep
    val (res, snaps) = crawl(shape, 3L)
    val budget = shape.crawl.scheduler.hostBudget
    assert(snaps.size == shape.crawl.maxWaves)
    // after the first waves only the hot host is left, one budget a wave
    val hot = res.fetchLog.filter(col("host") === SyntheticWeb.paperHost(0))
      .groupBy("wave").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    (2 until shape.crawl.maxWaves).foreach(w => assert(hot.get(w).contains(budget.toLong)))
    assert(res.seen.count() < shape.crawl.bloomDeltaThreshold)
  }

  test("crawl_wide: the seen set crosses the delta threshold mid-crawl") {
    val shape = CrawlWorkload.Wide
    val (res, snaps) = crawl(shape, 3L)
    assert(snaps.size < 10)
    // the seen set crossed the threshold before the last wave started, so
    // at least that wave ran the delta bloom path
    val seenBeforeLast = res.seen.count() - snaps.last.metrics("new_links")
    assert(seenBeforeLast >= shape.crawl.bloomDeltaThreshold)
  }
}
