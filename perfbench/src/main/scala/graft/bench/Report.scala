package graft.bench

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** Names and units of every reported metric. `EndToEnd` and `PerLayer`
  * mirror BENCHMARK.json: every workload prints all of them (a layer a
  * workload never calls reads 0).
  */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "throughput_per_s" -> "1/s",
    "op_s_p50" -> "s",
    "driver_heap_peak_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "crawl.wave_s_slope" -> "s",
    "crawl.wave_driver_gap_s" -> "s",
    "crawl.jobs_per_wave" -> "count",
    "crawl.job_fetch_log_s" -> "s",
    "crawl.job_records_s" -> "s",
    "crawl.job_frontier_s" -> "s",
    "crawl.job_seen_s" -> "s",
    "store.bytes_written" -> "bytes",
    "store.files_written" -> "count",
    "store.snapshots_walk_ms" -> "ms",
    "frontier.schedule_s" -> "s",
    "frontier.shuffle_rows" -> "count",
    "frontier.task_p50_ms" -> "ms",
    "frontier.task_max_ms" -> "ms",
    "seen.filter_s" -> "s",
    "seen.bloom_positive_ratio" -> "ratio",
    "seen.bloom_false_positive_ratio" -> "ratio",
    "seen.anti_join_rows" -> "count",
    "parse.pages_per_s" -> "1/s",
    "parse.records_per_page" -> "count",
    "sources.fetch_join_s" -> "s",
    "sources.pages_side_exchanges" -> "count",
    "url.canon_urls_per_s" -> "1/s",
    "operators.crawl_memo_s" -> "s",
    "operators.codebook_train_s" -> "s",
    "operators.edge_derive_s" -> "s",
    "operators.query_s_p90" -> "s",
    "operators.query_s_max" -> "s",
    "operators.crawl_pipelines_s" -> "s",
    "spark.task_cpu_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "host.steal_pct" -> "%",
    "host.iowait_pct" -> "%",
    "trace.overhead_pct" -> "%")

  def unitOf(name: String): String =
    (EndToEnd ++ PerLayer).toMap.getOrElse(name, "")
}

/** Everything one run measured. `e2e` and `layer` feed the summary line;
  * `named` holds each workload's own metric names, `detail` the series
  * behind them (per wave, per query, per setup); all of it goes to the
  * result file.
  */
final class Report(val workload: String, val seed: Long, val trace: Boolean) {
  var attempted = 0L
  var failed = 0L
  val problems = ArrayBuffer[String]()
  val e2e = LinkedHashMap[String, Double]()
  val layer = LinkedHashMap[String, Double]()
  val named = LinkedHashMap[String, (Double, String)]()
  val detail = LinkedHashMap[String, Any]()

  def attempt(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; problems += what }
  }
  def correct: Boolean = failed == 0

  private def metric(v: Double, unit: String) =
    LinkedHashMap("value" -> v, "unit" -> unit)

  /** The contract line: trace 0 → end-to-end metrics, trace 1 → per-layer. */
  def summary: String = {
    val names = if (trace) Metrics.PerLayer else Metrics.EndToEnd
    val src = if (trace) layer else e2e
    Json.render(LinkedHashMap(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> LinkedHashMap(names.map { case (n, u) =>
        n -> metric(src.getOrElse(n, 0.0), u) }: _*)))
  }

  def full(spans: Seq[Span]): String = Json.render(LinkedHashMap(
    "workload" -> workload, "seed" -> seed, "trace" -> trace,
    "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
    "error_rate" -> (if (attempted == 0) 0.0 else failed.toDouble / attempted),
    "problems" -> problems.toSeq,
    "end_to_end" -> LinkedHashMap(e2e.toSeq.map { case (n, v) =>
      n -> metric(v, Metrics.unitOf(n)) }: _*),
    "per_layer" -> LinkedHashMap(layer.toSeq.map { case (n, v) =>
      n -> metric(v, Metrics.unitOf(n)) }: _*),
    "workload_metrics" -> LinkedHashMap(named.toSeq.map { case (n, (v, u)) =>
      n -> metric(v, u) }: _*),
    "detail" -> detail,
    "spans" -> spans.map(s => LinkedHashMap("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "run" -> s.runId))))
}

/** Minimal JSON writer for maps, sequences, strings and numbers; a
  * non-finite number is written as null so the output stays strict JSON.
  */
object Json {
  def render(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null => sb ++= "null"
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float => write(sb, f.toDouble)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case s: String => str(sb, s)
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        str(sb, k.toString); sb += ':'; write(sb, x)
      }
      sb += '}'
    case xs: Iterable[_] =>
      sb += '['
      var first = true
      xs.foreach { x => if (!first) sb += ','; first = false; write(sb, x) }
      sb += ']'
    case other => str(sb, other.toString)
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}
