package graft.bench

import java.nio.file.Path
import graft.fixtures.SyntheticWeb
import graft.sources.BucketedPages

object WaveScanWorkload {
  /** A flat web of ~27k pages, papers dominating (DOM parse is the CPU
    * cost); every page is scheduled in one wave.
    */
  def web(seed: Long): SyntheticWeb.Config = SyntheticWeb.Config(seed = seed,
    nHosts = 64, pagesPerHost = 30, itemsPerPage = 10, blogDepth = 1,
    blogFanout = 2)
  val Buckets = 8

  final case class Prep(table: String, dir: Path, path: String, pages: Long)
}

/** wave_scan: the north-rule wave pipeline (`graft.Bench.wavePipeline`:
  * schedule → bucketed fetch join → parse → aggregate) over every page of
  * a bucketed table at local[4]; the traced run adds the same pipeline at
  * local[1] on the same files for the 1→4 scaling pair. No snapshot store,
  * no seen filter.
  */
final class WaveScanWorkload extends Workload {
  import WaveScanWorkload._

  type P = Prep

  private var sums = Option.empty[(Long, Long)]

  def setup(ctx: Ctx, rep: Int): Prep = {
    val dir = ctx.dir(s"web-$rep")
    val table = s"wave_pages_$rep"
    val path = dir.resolve("t").toString
    BucketedPages.write(ctx.spark, SyntheticWeb.pages(ctx.spark, web(ctx.args.seed)),
      table, Buckets, Some(path))
    Prep(table, dir, path, ctx.spark.read.parquet(path).count())
  }

  def release(ctx: Ctx, p: Prep): Unit = {
    ctx.spark.sql(s"DROP TABLE IF EXISTS ${p.table}")
    Layers.deleteTree(p.dir)
  }

  private def useCores(ctx: Ctx, p: Prep, cores: Int): Unit = {
    ctx.spark = Main.session(cores, ctx.args.work, Buckets)
    BucketedPages.register(ctx.spark, p.table, p.path, Buckets)
  }

  private def checkSums(ctx: Ctx, rl: (Long, Long)): Unit = {
    if (sums.isEmpty) sums = Some(rl)
    ctx.report.attempt(sums.contains(rl),
      s"wave record/link sums $rl differ from ${sums.get}")
  }

  /** Wave pipeline passes until `budgetS` is spent; seconds of each. */
  private def leg(ctx: Ctx, p: Prep, budgetS: Double, name: String) = {
    // one untimed pass: plans and codegen of a fresh session
    graft.Bench.wavePipeline(ctx.spark, p.table)
    ctx.loop(budgetS) {
      val (rl, s) = ctx.timed(name)(graft.Bench.wavePipeline(ctx.spark, p.table))
      checkSums(ctx, rl)
      s
    }
  }

  def measure(ctx: Ctx, p: Prep, budgetS: Double,
      rec: Option[SparkRecorder]): Measured = {
    val (four, heapMb) = leg(ctx, p, budgetS, "wave.local4")
    Expected.check(ctx, "wave_sums", sums.get.toString,
      web(ctx.args.seed).toString)
    val t4 = p.pages / Stats.median(four)
    ctx.report.detail("wave_s") =
      Map("local4" -> four, "pages" -> p.pages)
    Measured(t4, Stats.median(four), heapMb, four.size,
      Map("wave_urls_per_s" -> (t4, "1/s")))
  }

  def layers(ctx: Ctx, p: Prep, rec: SparkRecorder): Unit = {
    val (records, links) = Layers.pagesLayers(ctx, p.table, p.path)
    ctx.report.attempt(sums.contains((records, links)),
      s"parse-only sums ($records, $links) differ from the wave's ${sums.get}")
    // the scaling pair: the same pipeline on the same files at local[1],
    // against this run's local[4] reading
    val t4 = ctx.report.e2e("throughput_per_s")
    useCores(ctx, p, 1)
    val (one, _) = leg(ctx, p, ctx.args.seconds / 2.0, "wave.local1")
    useCores(ctx, p, Main.Cores)
    val t1 = p.pages / Stats.median(one)
    val eff = (t4 / t1) / Main.Cores
    ctx.report.named("wave_urls_per_s_1core") = (t1, "1/s")
    ctx.report.named("scaling_eff_1_4") = (eff, "ratio")
    ctx.report.detail("wave_s.local1") = one
  }
}
