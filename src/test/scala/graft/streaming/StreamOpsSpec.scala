package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** Micro-batch semantics of the streaming operators via MemoryStream:
  * dedup drops repeats within the watermark, windowed metrics emit final
  * counts only after the watermark passes, late rows are discarded.
  */
class StreamOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]").appName("stream-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  final case class UrlEvent(url_hash: Long, event_ts: Timestamp)
  final case class FetchEvent(host: String, status: Int, event_ts: Timestamp)

  test("streaming URL dedup: state keyed by url_hash ALONE — the same URL " +
    "at a different timestamp is still a dup within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[UrlEvent]
    val q = StreamOps.streamingUrlDedup(input.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(
        UrlEvent(1L, ts(0)), UrlEvent(1L, ts(0)), // exact dup
        UrlEvent(2L, ts(1)))
      q.processAllAvailable()
      input.addData(
        UrlEvent(1L, ts(0)), // dup across batches, in watermark
        UrlEvent(1L, ts(3)), // same URL, NEW timestamp — still a dup
        UrlEvent(2L, ts(4))) // same URL, new ts — still a dup
      q.processAllAvailable()
      val rows = spark.table("dedup_out").collect()
      assert(rows.length == 2)
      assert(rows.map(_.getLong(0)).toSet == Set(1L, 2L))
    } finally q.stop()
  }

  test("windowed fetch metrics: append mode emits a window only after the " +
    "watermark passes; late rows are dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FetchEvent]
    val q = StreamOps.windowedFetchMetrics(input.toDF())
      .writeStream.format("memory").queryName("metrics_out")
      .outputMode("append").start()
    try {
      input.addData(
        FetchEvent("h1", 200, ts(0)),
        FetchEvent("h1", 200, ts(0)),
        FetchEvent("h1", 503, ts(0)))
      q.processAllAvailable()
      // watermark still at 10:00 − 2 min → nothing final yet
      assert(spark.table("metrics_out").count() == 0)
      // advance event time past window end + watermark
      input.addData(FetchEvent("h2", 200, ts(5)))
      q.processAllAvailable()
      input.addData(FetchEvent("h2", 200, ts(9)))
      q.processAllAvailable()
      val rows = spark.table("metrics_out").collect()
        .map(r => (r.getTimestamp(0), r.getInt(1), r.getLong(2))).toSet
      assert(rows.contains((ts(0), 200, 2L)))
      assert(rows.contains((ts(0), 503, 1L)))
      // a straggler older than the watermark is discarded silently
      input.addData(FetchEvent("h1", 200, ts(0)))
      q.processAllAvailable()
      val again = spark.table("metrics_out").collect()
        .filter(r => r.getTimestamp(0) == ts(0) && r.getInt(1) == 200)
      assert(again.map(_.getLong(2)).toSeq == Seq(2L))
    } finally q.stop()
  }

  test("batch ≡ stream equivalence on the SAME event log (the batch " +
    "politeness scheduler's wave output): per-host-window counts and the " +
    "deduped URL set match the batch aggregations exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // event log = the batch scheduler's output over a skewed frontier:
    // politeness slots become event timestamps, so the stream sees the
    // exact fetch cadence the batch engine would execute
    val frontier = spark.createDataset((0 until 8).flatMap { h =>
      (0 until (if (h == 0) 40 else 10)).map { i =>
        graft.crawl.CrawlLoop.entryOf(
          s"https://host$h.example.org/page/$i", "blog", h, 0, i, 0)
      }
    })
    val sched = graft.frontier.PoliteScheduler.scheduleWithMap(
      frontier, Map.empty[String, (Seq[String], Long)], 0L,
      graft.frontier.PoliteScheduler.Config(hostBudget = 1000,
        defaultDelayMs = 15000L)) // 4 fetches/min/host across windows
    val base = ts(0).getTime
    // replay in EVENT-TIME order (the realistic log replay): an
    // out-of-order split would push the watermark past still-undelivered
    // rows and the stream would — correctly — drop them as late
    val events = sched.collect().map(s => FetchEvent(s.entry.host, 200,
      new Timestamp(base + s.notBefore))).sortBy(_.event_ts.getTime)
    val urlEvents = sched.collect().map(s =>
      UrlEvent(s.entry.urlHash, new Timestamp(base + s.notBefore)))
    // duplicate every 3rd url event (a re-discovered URL) — the batch and
    // stream dedup must agree on the survivor SET
    val urlLog = (urlEvents ++ urlEvents.zipWithIndex.collect {
      case (e, i) if i % 3 == 0 => e.copy(event_ts =
        new Timestamp(e.event_ts.getTime + 1000))
    }).sortBy(_.event_ts.getTime)

    // ---- batch truth --------------------------------------------------
    // tuple frame (inner case classes lack an outer scope for encoders)
    val eventsDf = events.toSeq.map(e => (e.host, e.event_ts))
      .toDF("host", "event_ts")
    val batchCounts = eventsDf
      .groupBy(col("host"), window(col("event_ts"), "1 minute"))
      .agg(count(lit(1)).as("fetches"))
      .select(col("host"), col("window.start").as("w_start"), col("fetches"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
      .toSet
    val batchSeen = urlLog.map(_.url_hash).toSet

    // ---- stream side: same rows through the streaming operators -------
    val fin = MemoryStream[FetchEvent]
    val qb = StreamOps.hostBudgetAccounting(fin.toDF())
      .writeStream.format("memory").queryName("equiv_budget")
      .outputMode("append").start()
    val uin = MemoryStream[UrlEvent]
    val qd = StreamOps.streamingUrlDedup(uin.toDF())
      .writeStream.format("memory").queryName("equiv_dedup")
      .outputMode("append").start()
    try {
      // rate-limited delivery: two micro-batches, then a far-future
      // sentinel to push the watermark past every real window
      val (a, b) = events.splitAt(events.length / 2)
      fin.addData(a.toIndexedSeq); qb.processAllAvailable()
      fin.addData(b.toIndexedSeq); qb.processAllAvailable()
      fin.addData(FetchEvent("zz_sentinel", 200, ts(59)))
      qb.processAllAvailable()
      val (ua, ub) = urlLog.splitAt(urlLog.length / 2)
      uin.addData(ua.toIndexedSeq); qd.processAllAvailable()
      uin.addData(ub.toIndexedSeq); qd.processAllAvailable()
      val streamCounts = spark.table("equiv_budget").collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
        .filter(_._1 != "zz_sentinel").toSet
      assert(streamCounts == batchCounts,
        s"host-window counts diverge:\nstream=$streamCounts\nbatch=$batchCounts")
      val streamSeen = spark.table("equiv_dedup").collect()
        .map(_.getLong(0)).toSet
      assert(streamSeen == batchSeen)
      // dedup emitted exactly one row per distinct URL
      assert(spark.table("equiv_dedup").count() == batchSeen.size)
    } finally { qb.stop(); qd.stop() }
  }

  test("streaming quality gate ≡ the batch q30 keep set on the same doc " +
    "log, delivered across multiple micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // half clean docs (wide vocab, little repetition → keep), half
    // degenerate (tiny vocab, heavy repetition → drop); seeded
    val rnd = new scala.util.Random(13)
    val wide = Vector.tabulate(40)(i => s"tok$i")
    val tiny = Vector("a", "b")
    val docs = (0 until 40).map { i =>
      val (vocab, n) =
        if (i % 2 == 0) (wide, 12 + rnd.nextInt(20))
        else (tiny, 6 + rnd.nextInt(20))
      (i.toLong,
        (1 to n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val batch = graft.operators.TextQueries
      .gopherFlags(docs.toDF("doc_id", "text"))
      .filter($"keep" === 1)
      .collect().map(_.getLong(0)).toSet
    assert(batch.nonEmpty && batch.size < docs.size,
      s"corpus not discriminative: ${batch.size}/${docs.size}")
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.streamingQualityGate(
        input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("qgate_out")
      .outputMode("append").start()
    try {
      val (first, rest) = docs.splitAt(docs.size / 2)
      input.addData(first: _*)
      q.processAllAvailable()
      input.addData(rest: _*)
      q.processAllAvailable()
      val got = spark.table("qgate_out").collect().map(_.getLong(0)).toSet
      assert(got == batch)
    } finally q.stop()
  }

  final case class DocEvent(doc_id: Long, text: String, event_ts: Timestamp)

  test("streaming contamination alerts ≡ the batch q59 contaminated set " +
    "on the same doc log, one alert per doc across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val t30 = (1 to 30).map(i => s"t$i")
    val corpus = Seq(
      (0L, t30.mkString(" ")), // benchmark doc (0 % 20 == 0)
      (1L, ((1 to 13).map(i => s"t$i") ++ (1 to 10).map(i => s"x$i"))
        .mkString(" ")), // 13-token overlap → contaminated
      (2L, (1 to 20).map(i => s"y$i").mkString(" ")), // clean
      (3L, ((1 to 12).map(i => s"t$i") ++ (1 to 10).map(i => s"z$i"))
        .mkString(" ")), // 12-token overlap → clean
      (4L, t30.take(20).mkString(" "))) // pure benchmark substring → hit
    val d = java.nio.file.Files.createTempDirectory("sdecon-fix").toString
    corpus.toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    val batch = graft.operators.DedupQueries.decontaminate(spark, d)
      .filter(col("contaminated") === 1).collect().map(_.getLong(0)).toSet
    assert(batch == Set(1L, 4L)) // the planted verdicts

    val benchGrams = corpus.filter(_._1 % 20 == 0).toDF("doc_id", "text")
      .select(explode(graft.operators.DedupQueries.shingles(col("text"),
        graft.operators.DedupQueries.DecontamN)).as("g")).distinct()
    val input = MemoryStream[DocEvent]
    val q = StreamOps.streamingContaminationAlerts(input.toDF(), benchGrams)
      .writeStream.format("memory").queryName("decon_out")
      .outputMode("append").start()
    try {
      // feed the WHOLE corpus, benchmark doc included — the operator
      // itself must exclude the benchmark slice (a benchmark doc is not
      // contaminated by itself), not assume a pre-filtered stream
      val feed = corpus
        .map { case (id, t) => DocEvent(id, t, ts(id.toInt)) }
      input.addData(feed.take(2): _*)
      q.processAllAvailable()
      input.addData(feed.drop(2): _*)
      // re-send doc 1 within the watermark: still ONE alert
      input.addData(DocEvent(1L, corpus(1)._2, ts(2)))
      q.processAllAvailable()
      val alerts = spark.table("decon_out").collect()
        .map(_.getLong(0)).toSet
      assert(alerts == batch)
      assert(spark.table("decon_out").count() == batch.size)
    } finally q.stop()
  }

  test("contamination alerts with an EXTERNAL benchmark: the membership " +
    "predicate travels with the gram source — a doc on the default " +
    "mod-slice is NOT exempt when the benchmark is external") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // external benchmark grams: NOT derived from the corpus mod slice
    val benchText = (1 to 30).map(i => s"b$i").mkString(" ")
    val benchGrams = Seq(benchText).toDF("text")
      .select(explode(graft.operators.DedupQueries.shingles(col("text"),
        graft.operators.DedupQueries.DecontamN)).as("g")).distinct()
    val input = MemoryStream[DocEvent]
    // external benchmark → nothing on the stream is a benchmark member
    val q = StreamOps.streamingContaminationAlerts(input.toDF(), benchGrams,
        isBenchmark = lit(false))
      .writeStream.format("memory").queryName("decon_ext_out")
      .outputMode("append").start()
    try {
      input.addData(
        // doc 20: ON the default mod-20 slice — under the hard-coded rule
        // it would be silently exempt; against an external benchmark it
        // must alert
        DocEvent(20L, (1 to 13).map(i => s"b$i").mkString(" ") + " tail",
          ts(0)),
        DocEvent(21L, (1 to 20).map(i => s"q$i").mkString(" "), ts(0)))
      q.processAllAvailable()
      val alerts = spark.table("decon_ext_out").collect()
        .map(_.getLong(0)).toSet
      assert(alerts == Set(20L))
    } finally q.stop()
  }

  test("snapshot sink: every micro-batch commits exactly one store " +
    "snapshot carrying its epoch id; kill-and-resume from the same " +
    "checkpoint restores dedup state and never double-writes; a " +
    "replayed epoch is a no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("snap-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("snap-ckpt").toString
    val store = new graft.store.SnapshotStore(root, spark)
    val input = MemoryStream[UrlEvent]
    val sink = StreamOps.snapshotSink(store, "deduped")
    def start() = StreamOps.streamingUrlDedup(input.toDF())
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch(sink).start()

    val q = start()
    try {
      input.addData(UrlEvent(1L, ts(0)), UrlEvent(2L, ts(1)))
      q.processAllAvailable()
    } finally q.stop() // kill

    val q2 = start() // resume from the same checkpoint
    try {
      // url 2 was seen BEFORE the kill — state must come back from the
      // checkpoint and drop it; url 3 is new
      input.addData(UrlEvent(2L, ts(2)), UrlEvent(3L, ts(2)))
      q2.processAllAvailable()
    } finally q2.stop()

    // exactly-once: the union over ALL committed snapshots is the dedup
    // output with no row duplicated across epochs
    val snaps = store.snapshots
    val all = snaps.flatMap(id =>
      store.table(store.readManifest(id), "deduped")
        .map(_.collect().map(_.getLong(0)).toSeq).getOrElse(Seq.empty))
    assert(all.sorted == Seq(1L, 2L, 3L), s"snapshot union was $all")
    val epochs = snaps.map(id => store.readManifest(id).metrics("epoch"))
    assert(epochs == epochs.sorted && epochs.distinct == epochs,
      s"epochs must be strictly increasing, got $epochs")

    // post-crash replay: Structured Streaming re-invokes foreachBatch
    // with the SAME epoch id — the sink must skip it
    val before = store.snapshots.size
    sink(Seq(9L).toDF("url_hash"), epochs.last)
    assert(store.snapshots.size == before, "replayed epoch double-wrote")
    sink(Seq(9L).toDF("url_hash"), epochs.last + 1)
    assert(store.snapshots.size == before + 1, "a NEW epoch must commit")
    assert(store.head.get.metrics("epoch") == epochs.last + 1)

    // interleaved-writer armor: another producer (the batch crawl loop,
    // a sink on a different table) commits a snapshot with NO epoch
    // metric — a replay of the last stream epoch must STILL be skipped
    // (the sink walks the chain for its own table's epoch, it does not
    // trust HEAD alone)
    store.commit(0, Map("crawl_records" -> Seq(1L).toDF("x")),
      Map("fetched" -> 1L))
    val afterForeign = store.snapshots.size
    sink(Seq(10L).toDF("url_hash"), epochs.last + 1) // replay
    assert(store.snapshots.size == afterForeign,
      "replay after a foreign commit double-wrote")
    sink(Seq(10L).toDF("url_hash"), epochs.last + 2) // genuinely new
    assert(store.snapshots.size == afterForeign + 1)
  }

  test("host budget accounting tracks per-host per-window fetch counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FetchEvent]
    val q = StreamOps.hostBudgetAccounting(input.toDF())
      .writeStream.format("memory").queryName("budget_out")
      .outputMode("append").start()
    try {
      input.addData(
        FetchEvent("h1", 200, ts(0)), FetchEvent("h1", 200, ts(0)),
        FetchEvent("h2", 200, ts(0)))
      q.processAllAvailable()
      input.addData(FetchEvent("h1", 200, ts(10))) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("budget_out").collect()
        .map(r => (r.getString(0), r.getLong(2))).toSet
      assert(rows.contains(("h1", 2L)) && rows.contains(("h2", 1L)))
    } finally q.stop()
  }
}
