package graft.bench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --out <file> --expected <dir> --data <dir>
  *        --untraced <file>
  *
  * One closed-loop driver at local[4]. A run builds its inputs from the
  * seed (set-up, repeated three times and reported as the median),
  * measures operations for `--seconds`, checks every output, writes the
  * full result to `--out` and prints one summary line last on stdout.
  * With `--trace 1` the measured phase runs with a SparkListener attached
  * and spans kept, followed by per-layer calls; the tracing overhead is
  * the difference against the untraced run's result file (`--untraced`).
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, out: Path, expected: Path, data: Path,
      untraced: Path)

  val Workloads: Map[String, () => Workload] = Map(
    "crawl_deep" -> (() => new CrawlWorkload(CrawlWorkload.Deep)),
    "crawl_wide" -> (() => new CrawlWorkload(CrawlWorkload.Wide)),
    "wave_scan" -> (() => new WaveScanWorkload),
    "queries" -> (() => new QueriesWorkload))

  val Cores = 4
  val SetupReps = 3

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("out")),
      Paths.get(need("expected")), Paths.get(need("data")),
      Paths.get(need("untraced")))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  /** A fresh local session; shuffle partitions stay fixed across core
    * counts so a scaling pair varies only the compute slots.
    */
  def session(cores: Int, work: Path, shufflePartitions: Int = Cores): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    Files.createDirectories(a.out.getParent)
    val report = new Report(a.workload, a.seed, a.trace)
    val tracer = new Tracer(s"${a.workload}-${a.seed}-${ProcessHandle.current.pid}",
      keep = a.trace)
    val heap = new HeapMonitor
    val wl = Workloads(a.workload)()
    val ctx = new Ctx(a, session(Cores, a.work, wl.shufflePartitions), tracer,
      report, heap)
    try {
      run(ctx, wl)
      Files.writeString(a.out, report.full(tracer.all))
      ctx.spark.stop()
      heap.stop()
      println(report.summary)
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] ${a.workload} failed: $e")
        e.printStackTrace()
        sys.exit(1)
    }
  }

  def run(ctx: Ctx, wl: Workload): Unit = {
    val r = ctx.report
    // JVM, codegen and file-system warm-up outside every timed region
    ctx.spark.range(1000000L).selectExpr("sum(id)").collect()

    val setups = (1 to SetupReps)
      .map(i => ctx.tracer.span(s"setup.$i")(wl.setup(ctx, i)))
    setups.init.foreach { case (p, _) => wl.release(ctx, p) }
    val prepared = setups.last._1
    r.e2e("setup_s") = Stats.median(setups.map(_._2))
    r.detail("setup_s_each") = setups.map(_._2)

    val budget = ctx.args.seconds.toDouble
    if (!ctx.args.trace) {
      record(ctx, wl.measure(ctx, prepared, budget, None))
    } else {
      val rec = new SparkRecorder
      ctx.spark.sparkContext.addSparkListener(rec)
      val t0 = ctx.tracer.nowMs
      val traced = ctx.tracer.span("measure") {
        wl.measure(ctx, prepared, budget, Some(rec))
      }._1
      SparkRecorder.drain(ctx.spark.sparkContext)
      val tasks = rec.tasksIn(t0, ctx.tracer.nowMs)
      r.layer("spark.task_cpu_s") = tasks.map(_.cpuNs).sum / 1e9
      r.layer("spark.gc_s") = tasks.map(_.gcMs).sum / 1e3
      r.layer("spark.shuffle_write_bytes") = tasks.map(_.shuffleBytes).sum.toDouble
      r.layer("spark.spill_bytes") = tasks.map(_.spillBytes).sum.toDouble
      record(ctx, traced)
      overhead(ctx)
      ctx.tracer.span("layers")(wl.layers(ctx, prepared, rec))
      ctx.spark.sparkContext.removeSparkListener(rec)
    }
    r.layer("host.steal_pct") = ctx.host.stealPct
    r.layer("host.iowait_pct") = ctx.host.iowaitPct
    r.detail("host") = Map("steal_pct" -> ctx.host.stealPct,
      "iowait_pct" -> ctx.host.iowaitPct, "per_op" -> ctx.host.perOp.toSeq)
    wl.release(ctx, prepared)
  }

  private def record(ctx: Ctx, m: Measured): Unit = {
    val r = ctx.report
    r.e2e("throughput_per_s") = m.throughput
    r.e2e("op_s_p50") = m.opP50
    r.e2e("driver_heap_peak_mb") = m.heapPeakMb
    m.named.foreach { case (n, v) => r.named(n) = v }
    r.detail("ops") = m.ops
  }

  /** Tracing overhead: this traced run's end-to-end metrics minus those of
    * the untraced run of the same workload and seed, when its result file
    * is there. Both runs take the same steps in a fresh JVM; they differ
    * only in the listener and the kept spans.
    */
  private def overhead(ctx: Ctx): Unit = {
    val f = ctx.args.untraced
    if (!Files.exists(f)) {
      ctx.report.detail("trace_overhead") = "no untraced result for this seed"
      return
    }
    val e2e = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(f.toFile).path("end_to_end")
    def plain(n: String) = e2e.path(n).path("value").asDouble()
    val r = ctx.report
    r.detail("trace_overhead") = Metrics.EndToEnd.map(_._1)
      .filter(n => n != "setup_s" && e2e.has(n))
      .map(n => n -> (r.e2e(n) - plain(n))).toMap
    val base = plain("throughput_per_s")
    if (base > 0) r.layer("trace.overhead_pct") =
      100.0 * (base - r.e2e("throughput_per_s")) / base
  }
}

/** Per-run state shared by the workloads. */
final class Ctx(val args: Main.Args, var spark: SparkSession,
    val tracer: Tracer, val report: Report, val heap: HeapMonitor) {
  val host = new HostLog

  /** Time one operation: a span, plus steal/iowait sampled around it. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val before = HostStat.read()
    val res = tracer.span(name)(body)
    host.add(name, HostStat.read() - before)
    res
  }

  /** Run `op` until `budgetS` seconds have passed (at least once); the
    * driver heap peak covers exactly these operations.
    */
  def loop[T](budgetS: Double)(op: => T): (Seq[T], Double) = {
    System.gc()
    heap.reset()
    val t0 = System.nanoTime()
    val out = scala.collection.mutable.ArrayBuffer[T](op)
    while ((System.nanoTime() - t0) / 1e9 < budgetS) out += op
    (out.toSeq, heap.peakMb)
  }

  def dir(name: String): Path = {
    val p = args.work.resolve(name)
    Files.createDirectories(p)
    p
  }
}

/** Steal and iowait summed over every timed operation of a run. */
final class HostLog {
  private var sum = HostStat.Cpu(0, 0, 0)
  val perOp = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
  def add(name: String, d: HostStat.Cpu): Unit = {
    sum = HostStat.Cpu(sum.total + d.total, sum.iowait + d.iowait,
      sum.steal + d.steal)
    perOp += Map("op" -> name, "steal_pct" -> d.stealPct,
      "iowait_pct" -> d.iowaitPct)
  }
  def stealPct: Double = sum.stealPct
  def iowaitPct: Double = sum.iowaitPct
}

/** The result of one measured phase. */
final case class Measured(throughput: Double, opP50: Double,
    heapPeakMb: Double, ops: Int, named: Map[String, (Double, String)])

trait Workload {
  /** What set-up builds and the measured phase reads. */
  type P
  def shufflePartitions: Int = Main.Cores
  def setup(ctx: Ctx, rep: Int): P
  def release(ctx: Ctx, p: P): Unit
  /** Measure for `budgetS`; `rec` is attached in a traced run. */
  def measure(ctx: Ctx, p: P, budgetS: Double,
      rec: Option[SparkRecorder]): Measured
  /** Per-layer calls of the traced run; fills `ctx.report.layer`. */
  def layers(ctx: Ctx, p: P, rec: SparkRecorder): Unit
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  /** Least-squares slope of ys over xs. */
  def slope(xs: Seq[Double], ys: Seq[Double]): Double = {
    if (xs.length < 2) return 0.0
    val mx = xs.sum / xs.length
    val my = ys.sum / ys.length
    val num = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val den = xs.map(x => (x - mx) * (x - mx)).sum
    if (den == 0) 0.0 else num / den
  }
}
