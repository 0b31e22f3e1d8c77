package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Structured Streaming operators for continuous ingestion — the streaming
  * twin of the batch crawl tables. The reference is batch-iterative
  * (SURVEY.md §2.9: no watermarks, no event time), so these cover the
  * engine-side streaming surface a production crawl feed needs:
  * micro-batch URL dedup (the streaming URL-seen), watermarked windowed
  * fetch metrics, and per-host stateful politeness accounting.
  *
  * All transforms are source-agnostic (`readStream` file/kafka sources and
  * `MemoryStream` in tests plug in unchanged) and use event-time
  * watermarks so state is bounded: at 10^10-URL scale the dedup and
  * window state stores stay O(events within the watermark), not O(history).
  */
object StreamOps {

  /** Streaming URL-seen: watermarked dedup on the canonical url hash
    * ALONE — `dropDuplicatesWithinWatermark` keys state by url_hash (the
    * same URL arriving later with a different timestamp is still a dup,
    * which plain `dropDuplicates("url_hash", "event_ts")` would pass
    * through) while expiring entries once the watermark clears their
    * first-seen time, so state stays bounded like the batch Bloom layer.
    */
  def streamingUrlDedup(urls: DataFrame, watermark: String = "10 minutes"): DataFrame =
    urls
      .withWatermark("event_ts", watermark)
      .dropDuplicatesWithinWatermark("url_hash")

  /** Watermarked sliding-window fetch metrics: events → per-window,
    * per-status counts. Append-mode compatible (final counts emitted once
    * the watermark passes the window end).
    */
  def windowedFetchMetrics(events: DataFrame, window_ : String = "1 minute",
      watermark: String = "2 minutes"): DataFrame =
    events
      .withWatermark("event_ts", watermark)
      .groupBy(window(col("event_ts"), window_), col("status"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("status"), col("n"))

  /** Stateless streaming quality gate — the q30 Gopher repetition rule
    * applied per micro-batch row. A pure projection + generate + filter:
    * NO state store, no watermark needed, so it composes before any
    * stateful stage and runs at scan speed on a 100 TB/day feed. Reuses
    * the exact batch kernel + keep rule
    * ([[graft.operators.TextQueries.gopherFlags]]), so the curation
    * verdict is execution-mode-agnostic by construction — the spec
    * proves batch ≡ stream survivor sets on the same doc log.
    */
  def streamingQualityGate(docs: DataFrame): DataFrame =
    graft.operators.TextQueries.gopherFlags(docs)
      .filter(col("keep") === 1)
      .select("doc_id", "n_tokens")

  /** Streaming contamination alerts: the q59 decontamination rule over a
    * live document feed — each incoming doc's 13-token shingles are
    * joined STREAM-STATIC against the benchmark shingle table (the static
    * side is a plain batch DataFrame; Spark broadcasts it per micro-batch,
    * no state store for the join itself), and each contaminated doc emits
    * ONE alert via the bounded watermarked dedup. Reuses the exact q59
    * shingle kernel and window ([[graft.operators.DedupQueries.DecontamN]])
    * so the streaming verdict set is the batch operator's contaminated
    * set by construction — the spec proves it on the same doc log.
    * `benchGrams` must carry a `g` string column (one row per distinct
    * benchmark shingle — eval-suite sized, broadcastable). Benchmark-
    * membership docs arriving on the stream are excluded HERE (the q59
    * rule: a benchmark doc is never "contaminated" by itself), so the
    * operator enforces its own contract rather than assuming a
    * pre-filtered feed — and the membership PREDICATE travels with the
    * benchmark source: `isBenchmark` defaults to the in-sandbox mod-slice
    * rule, but a caller feeding a real external gram table passes the
    * matching membership test (e.g. an `is_benchmark` column or an id
    * set), otherwise every mod-slice doc would be silently exempt from
    * alerts against a benchmark it is not part of.
    */
  def streamingContaminationAlerts(docs: DataFrame, benchGrams: DataFrame,
      watermark: String = "10 minutes",
      isBenchmark: Column = col("doc_id") %
        graft.operators.DedupQueries.DecontamBenchMod === 0): DataFrame =
    docs
      .filter(!isBenchmark)
      .withWatermark("event_ts", watermark)
      .select(col("doc_id"), col("event_ts"),
        explode(graft.operators.DedupQueries.shingles(col("text"),
          graft.operators.DedupQueries.DecontamN)).as("g"))
      .join(benchGrams, "g")
      .dropDuplicatesWithinWatermark("doc_id")
      .select("doc_id", "event_ts")

  /** Exactly-once streaming sink into the resumable batch store: a
    * `foreachBatch` function committing each micro-batch as ONE
    * [[graft.store.SnapshotStore]] snapshot that carries its epoch id in
    * the snapshot metrics. Closes the loop between the streaming surface
    * and the store the batch crawl resumes from — a downstream batch
    * consumer reads the stream's output through the same HEAD/manifest
    * protocol as any crawl table.
    *
    * Idempotence contract: after a crash, Structured Streaming replays
    * the last un-checkpointed micro-batch with the SAME epoch id. The
    * sink reads the committed head's `epoch` metric and SKIPS any batch
    * with id ≤ it, so a replay never double-writes; and because the
    * store's commit is atomic (data → manifest ATOMIC_MOVE → HEAD swap),
    * a crash MID-commit leaves HEAD at the parent and the replayed batch
    * re-commits cleanly over the orphaned data dir. Together: each epoch
    * lands in the store exactly once (StreamOpsSpec kill-and-resume).
    *
    * Usage:
    * {{{
    * out.writeStream
    *   .option("checkpointLocation", ckpt)
    *   .foreachBatch(StreamOps.snapshotSink(store, "alerts"))
    *   .start()
    * }}}
    */
  def snapshotSink(store: graft.store.SnapshotStore, table: String)
      : (DataFrame, Long) => Unit = { (batch, epochId) =>
    // the committed epoch is read from the most recent snapshot IN THE
    // CHAIN that carries this sink's table — not just HEAD, which an
    // interleaved writer (the batch crawl loop, a second sink on another
    // table) may own with no epoch metric at all; trusting only HEAD
    // would reset the check to -1 and double-write a replay. Epochs are
    // monotonic per sink, so the first chain hit is the latest. The
    // chain walk is O(snapshots since the sink's last commit) driver-side
    // manifest reads — at scale the head manifest embeds a per-table
    // epoch map instead, same contract.
    def committedEpoch: Long = {
      var cur = store.head
      while (cur.isDefined) {
        val s = cur.get
        if (s.tables.contains(table) && s.metrics.contains("epoch"))
          return s.metrics("epoch")
        cur = if (s.parent < 0) None else Some(store.readManifest(s.parent))
      }
      -1L
    }
    if (epochId > committedEpoch) {
      // `wave` is the store's Int lineage slot; the authoritative epoch
      // rides the metrics in full Long width (no silent truncation)
      store.commitWith(math.min(epochId, Int.MaxValue.toLong).toInt,
        Seq(table -> batch),
        written => Map("epoch" -> epochId,
          "rows" -> written.values.map(graft.store.SnapshotStore.rowCount).sum))
    }
  }

  /** Per-host running fetch budget over the stream — an update-mode
    * aggregation keyed by host, the streaming analogue of the politeness
    * scheduler's per-host accounting (A5).
    */
  def hostBudgetAccounting(events: DataFrame, watermark: String = "2 minutes"): DataFrame =
    events
      .withWatermark("event_ts", watermark)
      .groupBy(col("host"), window(col("event_ts"), "1 minute"))
      .agg(count(lit(1)).as("fetches"),
        max(col("event_ts")).as("last_fetch"))
      .select(col("host"), col("window.start").as("w_start"),
        col("fetches"), col("last_fetch"))
}
