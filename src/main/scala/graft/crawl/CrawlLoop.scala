package graft.crawl

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.fixtures.SyntheticWeb.{Robots, Seed}
import graft.frontier.{FrontierEntry, PoliteScheduler, Scheduled}
import graft.seen.UrlSeen
import graft.store.SnapshotStore
import graft.url.UrlCanon

/** The generic crawl wave loop (SURVEY.md R5/§7.6):
  *
  *   while frontier nonempty:
  *     wave    = politeness-schedule(frontier)          — typed Aggregator
  *     fetched = wave ⋈ pages on url_hash               — the table IS the web
  *     records ∪= extract(fetched); links = outlinks(fetched)
  *     retries = failed rows, attempts+1, dropped at max (→ fetch_log)
  *     frontier = (frontier ∖ wave) ∪ retries ∪ (links ∖ seen)
  *     snapshot(frontier, records Δ, fetch_log Δ, seen Δ)  — resumable
  *
  * Scale notes (the 10^10-URL design point):
  *   - every wave's state round-trips through the snapshot store — this is
  *     simultaneously the resumability contract (north_rule) AND the
  *     lineage truncation that keeps plan depth constant across hundreds
  *     of waves (no ever-growing DAG, no driver OOM);
  *   - FOUR actions per wave — the four snapshot writes (fetch_log,
  *     records, frontier, seen delta), each issued to the wave's pending
  *     snapshot ([[graft.store.SnapshotStore.Pending]]) as soon as its
  *     frame is defined, so they run concurrently while the loop is still
  *     planning the next one; the manifest commits once all four land.
  *     A write is issued only after every `.cache()` its plan reads
  *     (`fetched`, `parsed`, `newEntries`) is registered, so concurrent
  *     readers of a cached frame build it once instead of each
  *     recomputing it. Spark splits each write into several jobs (AQE
  *     query stages, cache stages, broadcasts): perfbench's traced
  *     crawl_deep runs read 14 jobs per wave (`crawl.jobs_per_wave`) on 4
  *     cores: two writes that reach a cached frame together each start
  *     its cache-stage job, and the later job's tasks read the blocks the
  *     earlier one built. No action is a metric: all count metrics
  *     (scheduled / records / new_links, the loop's own frontier-count
  *     termination check, and a resume's starting seen and frontier
  *     counts) come from the manifest, whose file list carries each
  *     written file's row count as its task returned it (no footer
  *     opened, no job — [[SnapshotStore.rowCount]]); fetched_ok /
  *     retries ride the fetch_log write as accumulators; the manifest adds
  *     driver times: `plan_ms` (loop top to the LAST write issued; the
  *     first write starts once the fetch join is planned) and the store's
  *     `<table>_write_ms` per write, which overlap;
  *   - reloads start no job: the frontier, the seen deltas and the
  *     returned records / fetch_log are read back with the schema they
  *     were written with, so Spark plans each read on the driver instead
  *     of running its schema-inference job per path ([[readTables]]);
  *   - commits fork no process: the store writes through
  *     [[graft.store.ForklessLocalFileSystem]], which sets file modes with
  *     `java.nio` where Hadoop without libhadoop forks `chmod` per file
  *     and directory;
  *   - steady waves reuse compiled code: every wave after the first
  *     plans the same physical shape — the seen deltas are read as ONE
  *     multi-path scan ([[seenUnion]]), not a union that grows a scan per
  *     wave, and the fetch_log's wave number rides a closure, not a
  *     literal — so its generated code is byte-identical to the previous
  *     wave's and Spark's codegen cache serves it without a compile. Two
  *     limits: the cache (`spark.sql.codegen.cache.maxEntries`, default
  *     100 in 4 LRU segments) must hold a steady wave's ~70 classes, which
  *     the default does in most JVMs but not all; and once the bloom probe
  *     is on, AQE may number its two branches over one shuffle in either
  *     order, so each order compiles once;
  *   - the SEEN table is append-only deltas (`seen_w*`), never a rewrite
  *     of the full set: at 10^10 URLs rewriting seen every wave is
  *     O(crawl²) I/O. Readers scan the deltas as one table; they are
  *     distinct by construction (every delta row passed that wave's unseen
  *     filter), so the anti-join runs with NO defensive distinct() shuffle;
  *   - `cfg.pagesTable` points the fetch join at a
  *     [[graft.sources.BucketedPages]] table bucketed+sorted by
  *     `url_hash`: the pages side is read pre-partitioned (NO Exchange, NO
  *     Sort on that side — BucketedPagesSpec pins the plan), so the html
  *     payload NEVER shuffles; only the wave's frontier rows (bytes, not
  *     kilobytes each) move. Without it the fallback hashes + caches the
  *     raw pages frame;
  *   - frontier⋈pages is an equi-join on a well-mixed 64-bit key: AQE
  *     handles hot-host skew (`skewJoin`), and the politeness budget
  *     itself bounds any host to `hostBudget` rows per wave;
  *   - the seen check is Bloom-prefilter → exact left-anti (UrlSeen): the
  *     definite-unseen majority of candidate links never enters the
  *     anti-join shuffle. Bloom segments are maintained on the driver with
  *     NO bloom build job: below `bloomDeltaThreshold` seen URLs the
  *     wave's new hashes ride the seen-delta write in a
  *     CollectionAccumulator (cheapest for small crawls); above it they
  *     ride the SAME write in a [[UrlSeen.SegmentAccumulator]] — tasks
  *     build bloom partials locally and the driver OR-merges fixed-size
  *     segments, so no URL hash ever transits the driver (at 10^10 URLs
  *     the hash stream would be ~80 GB through the driver over a crawl;
  *     the segment partials are bounded by buckets × segment bytes per
  *     task regardless of wave size).
  *
  * Robots gating (absent in the reference, required by north_rule) is an
  * ADMISSION filter: a disallowed URL never enters the frontier (otherwise
  * it would sit there unscheduled forever); crawl delays come from the
  * robots table at schedule time. Robots are collected once per crawl
  * into ONE broadcast map that serves both admission and every wave's
  * schedule: a broadcast-join twin, measured on perfbench's crawl_deep
  * (4 vCPUs), gave identical crawls at +32% driver heap and -8%
  * throughput.
  */
object CrawlLoop extends Serializable {

  /** A URL answering 503 is fetched at most this many times (R2). */
  final val MaxAttempts = 3

  final case class Config(
      scheduler: PoliteScheduler.Config = PoliteScheduler.Config(),
      seenCfg: UrlSeen.Config = UrlSeen.Config(),
      maxWaves: Int = 64,
      // below this seen-set size the bloom probe costs more than the
      // anti-join it accelerates — skip it (the exact join is always the
      // authority, so this is purely a cost knob)
      bloomMinSeen: Long = 4096L,
      // how a wave feeds the driver's bloom segments: below this seen-set
      // size its new hashes ride the seen-delta write in a hash
      // CollectionAccumulator (driver traffic O(new URLs per wave)); at or
      // above it tasks build bloom partials in a SegmentAccumulator and
      // the driver OR-merges fixed-size segments, so no URL hash transits
      // the driver. CrawlLoopSpec checks both, and a crawl that crosses
      // the threshold, against the sequential simulator.
      bloomDeltaThreshold: Long = 1L << 17,
      // name of a BucketedPages catalog table (bucketed+sorted by
      // url_hash); when set, the fetch join reads it in place
      pagesTable: Option[String] = None
  )

  final case class FetchLogRow(url_hash: Long, host: String, wave: Int,
      attempt: Int, status: Int, slot: Int, not_before: Long,
      partition_id: Int)

  final case class Result(records: DataFrame, fetchLog: DataFrame,
      seen: DataFrame, waves: Int)

  /** Host-salted 64-bit xxHash of the canonical URL (north_rule identity);
    * row-side twin of the columnar `xxhash64(host, canon_url)`.
    */
  def hash64(canonUrl: String): Long = {
    val host = UrlCanon.hostOf(canonUrl).getBytes("UTF-8")
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      host, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, host.length, 42L)
    val b = canonUrl.getBytes("UTF-8")
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, h)
  }

  def entryOf(url: String, kind: String, seed: Int, depth: Int, pageIdx: Int,
      posInPage: Int, attempts: Int = 0): FrontierEntry = {
    val canon = UrlCanon.canonicalize(url)
    FrontierEntry(canon, hash64(canon), UrlCanon.hostOf(canon), kind,
      seed, depth, pageIdx, posInPage, attempts)
  }

  /** Run the crawl from seeds to empty frontier (or maxWaves). `pages` must
    * be the input_hint-shaped table (ignored when `cfg.pagesTable` points
    * at a bucketed catalog table).
    */
  def run(spark: SparkSession, pages: DataFrame, seeds: Dataset[Seed],
      robots: Dataset[Robots], store: SnapshotStore,
      cfg: Config = Config()): Result = {
    import spark.implicits._

    // one broadcast per crawl, shared by admission and every schedule
    val bcRobots = spark.sparkContext.broadcast(robots.collect()
      .map(r => r.host -> ((r.disallow_prefixes, r.crawl_delay_ms))).toMap)
    def admit(df: Dataset[FrontierEntry]): Dataset[FrontierEntry] =
      df.filter(e => PoliteScheduler.allowed(bcRobots.value, e))

    // pages side of the fetch join: bucketed table (NO shuffle, NO cache —
    // the 100 TB path reads its co-partitioned buckets in place) or a
    // hashed+cached projection of the raw frame. The hash is the native
    // codegen expression (graft.functions.UrlHash64), not a UDF — this
    // runs once per page, the widest map in the engine.
    val pagesKeyed = cfg.pagesTable match {
      case Some(t) => spark.table(t).select(col("url_hash"), col("html"))
      case None => pages
        .select(graft.url.UrlCols.urlHash64(col("url")).as("url_hash"),
          col("html"))
        .cache()
    }

    def readFrontier(snap: store.Snapshot): Dataset[FrontierEntry] =
      readTables(spark, Seq(snap.tables("frontier")), FrontierSchema)
        .as[FrontierEntry]

    // resume (north_rule): pick up from the last committed snapshot, with
    // its counts from the manifests (the seen deltas are distinct by
    // construction, so their row counts sum to the seen-set size). The
    // manifest chain is read once here; each wave then appends the seen
    // delta it committed.
    val chain = store.chain
    val head = chain.lastOption
    var seenPaths = deltaPaths(chain, "seen_w")
    val startWave = head.fold(0)(_.wave + 1)
    var frontier = head match {
      case Some(snap) => readFrontier(snap)
      case None =>
        admit(seeds.map(s => entryOf(s.url, s.site, s.seed_id, 0, 0, 0)))
    }
    var seen: DataFrame =
      if (head.isEmpty)
        frontier.select(col("urlHash").as("url_hash")).distinct().toDF()
      else seenUnion(spark, seenPaths)

    // driver-side Bloom segment map, seeded ONCE per crawl from the
    // starting seen set: a set below bloomDeltaThreshold is collected as
    // hashes; a larger one builds the segments DISTRIBUTED
    // (UrlSeen.buildSegments) and collects only the nBuckets-row segment
    // table — the driver never sees a hash. A resume sizes the set from
    // the seen deltas' manifest counts. A fresh crawl asks for at most
    // bloomDeltaThreshold seed hashes in ONE bounded action: fewer back
    // are the whole set, and a full batch is counted instead.
    val segMap = scala.collection.mutable.Map[Int, Array[Long]]()
    def addToSeg(h: Long): Unit = UrlSeen.addToSegMap(segMap, h, cfg.seenCfg)
    val seenHashes = seen.select(col("url_hash")).as[Long]
    val (startSeen, smallSeen) = head match {
      case Some(_) =>
        val n = chain.map(_.files.collect {
          case (t, fs) if t.startsWith("seen_w") => SnapshotStore.rowCount(fs)
        }.sum).sum
        (n, Option.when(n < cfg.bloomDeltaThreshold)(seenHashes.collect()))
      case None =>
        val hs = seenHashes
          .limit(math.min(cfg.bloomDeltaThreshold, Int.MaxValue).toInt)
          .collect()
        if (hs.length < cfg.bloomDeltaThreshold) (hs.length.toLong, Some(hs))
        else (seen.count(), None)
    }
    var seenCount = startSeen
    smallSeen match {
      case Some(hs) => hs.foreach(addToSeg)
      case None if seenCount > 0 =>
        UrlSeen.orMergeInto(segMap, UrlSeen.collectSegments(
          UrlSeen.buildSegments(seen, cfg.seenCfg)))
      case None => ()
    }
    // a fresh frontier is empty exactly when its distinct hashes are, and
    // its count only gates the loop
    var frontierCount =
      head.fold(seenCount)(store.tableRowCount(_, "frontier"))

    var wave = startWave
    while (frontierCount > 0 && wave < cfg.maxWaves) {
      val waveT0 = System.nanoTime()
      val thisWave = wave
      val waveStart = wave.toLong * 1000000L
      // each table's write starts as soon as its frame is defined, once
      // every cached frame its plan reads is registered (see Pending)
      val snapshot = store.begin(wave)
      val sched = PoliteScheduler.scheduleWithMap(frontier, bcRobots,
        waveStart, cfg.scheduler)

      // fetch = equi-join against the pages table (left: missing ⇒ 404).
      // TOP-LEVEL url_hash join keys on both sides, so a bucketed pages
      // scan satisfies the join distribution in place (no html Exchange).
      val fetched = sched.toDF()
        .withColumn("url_hash", col("entry.urlHash"))
        .join(pagesKeyed, Seq("url_hash"), "left")
        .select(col("entry").as("_1"), col("slot").as("_2"),
          col("notBefore").as("_3"), col("html").as("_4"))
        .as[(FrontierEntry, Int, Long, Array[Byte])]
        .map { case (e, slot, notBefore, htmlBytes) =>
          val html = Option(htmlBytes).map(new String(_, "UTF-8"))
          val status = PageParsers.fetchStatus(html, e.attempts)
          (Scheduled(e, slot, notBefore), status,
            if (status == 200) html.get else "")
        }
        .toDF("sched", "status", "html")
        .cache()

      // fetched_ok / retries ride the fetch_log write (the first write
      // issued, so the first to read the `fetched` cache) as accumulators
      // — no count() jobs. Diagnostic-only: a task retry could inflate
      // them. The wave number rides the closure, not a `lit(wave)` column: a
      // literal is compiled into the serializer's generated code, so every
      // wave would compile a new class.
      val okAcc = spark.sparkContext.longAccumulator(s"fetched_ok_w$wave")
      val retryAcc = spark.sparkContext.longAccumulator(s"retries_w$wave")
      val fetchLogDelta = fetched
        .select(col("sched").as("_1"), col("status").as("_2"))
        .as[(Scheduled, Int)]
        .mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          it.map { case (s, status) =>
            if (status == 200) okAcc.add(1L)
            else if (status == 503 && s.entry.attempts + 1 < MaxAttempts)
              retryAcc.add(1L)
            FetchLogRow(s.entry.urlHash, s.entry.host, thisWave,
              s.entry.attempts, status, s.slot, s.notBefore, pid)
          }
        }.toDF()
      snapshot.write(s"fetch_log_w$wave", fetchLogDelta)

      val parsed = fetched.filter(col("status") === 200)
        .select(col("sched.entry").as("_1"), col("html").as("_2"))
        .as[(FrontierEntry, String)]
        .map { case (e, html) => PageParsers.parse(e, html) }
        .cache()

      val recordsDelta = parsed.flatMap(_.records).toDF()
      snapshot.write(s"records_w$wave", recordsDelta)

      // out-links: canonicalize, in-batch dedup keeping min crawl order,
      // robots admission filter, then seen-filter (bloom + exact anti)
      val links = admit(parsed.flatMap(_.links.map(l =>
        entryOf(l.url, l.kind, l.seed, l.depth, l.pageIdx, l.posInPage))))
      val dedupedLinks = links.toDF()
        .withColumn("rn", row_number().over(
          Window.partitionBy("urlHash")
            .orderBy("seed", "depth", "pageIdx", "posInPage")))
        .filter(col("rn") === 1).drop("rn")
      val candidates = dedupedLinks.withColumnRenamed("urlHash", "url_hash")
      val segMapOpt =
        if (seenCount >= cfg.bloomMinSeen) Some(segMap.toMap) else None
      // seen deltas are distinct by construction → seenDistinct = true
      // skips the defensive distinct() shuffle of the whole seen set
      val newEntries = UrlSeen
        .filterUnseenWithMap(candidates, seen, segMapOpt, cfg.seenCfg,
          seenDistinct = true)
        .withColumnRenamed("url_hash", "urlHash")
        .select("url", "urlHash", "host", "kind", "seed", "depth", "pageIdx",
          "posInPage", "attempts")
        .as[FrontierEntry]
        .cache() // read by both the frontier and the seen-delta write

      // retries: transient failures re-enter with attempts+1 (R2);
      // exhausted rows drop (their fetch_log row keeps the final attempt)
      val retries = fetched.filter(col("status") === 503)
        .select(col("sched.entry").as("e")).select("e.*")
        .as[FrontierEntry]
        .filter((e: FrontierEntry) => e.attempts + 1 < MaxAttempts)
        .map(e => e.copy(attempts = e.attempts + 1))

      // frontier' = (frontier ∖ scheduled) ∪ retries ∪ new links; the
      // scheduled hashes come from the CACHED fetched frame, so the
      // schedule is never computed twice
      val schedHashes = fetched
        .select(col("sched.entry.urlHash").as("sched_hash"))
      val remaining = frontier
        .join(schedHashes, frontier("urlHash") === schedHashes("sched_hash"),
          "left_anti").as[FrontierEntry]
      val nextFrontier = remaining.union(retries).union(newEntries)
      snapshot.write("frontier", nextFrontier.toDF())

      // seen delta: this wave's new hashes (+ the seed hashes once, at
      // wave 0). The hashes also ride this write into an accumulator
      // feeding the driver segment map — raw hashes below
      // bloomDeltaThreshold, task-local bloom partials at or above it
      // (fixed-size segments, no hash reaches the driver). Both feed the
      // same segMap, so the mid-crawl flip is seamless.
      val newHashes = newEntries.select(col("urlHash").as("url_hash"))
      val seenDeltaBase =
        if (wave == 0) seen.select("url_hash").unionByName(newHashes)
        else newHashes
      // each arm allocates only its own accumulator and returns the
      // instrumented delta plus the post-commit absorb step for it
      val (seenDelta, absorbBloom) =
        if (seenCount < cfg.bloomDeltaThreshold) {
          val hashAcc = new org.apache.spark.util.CollectionAccumulator[Long]()
          spark.sparkContext.register(hashAcc, s"seen_hashes_w$wave")
          val df = seenDeltaBase.as[Long]
            .mapPartitions(it => it.map { h => hashAcc.add(h); h })
            .toDF("url_hash")
          (df, () => {
            val it = hashAcc.value.iterator()
            while (it.hasNext) addToSeg(it.next())
          })
        } else {
          val segAcc = new UrlSeen.SegmentAccumulator(cfg.seenCfg)
          spark.sparkContext.register(segAcc, s"seen_segments_w$wave")
          val df = seenDeltaBase.as[Long]
            .mapPartitions(it => it.map { h => segAcc.add(h); h })
            .toDF("url_hash")
          (df, () => UrlSeen.orMergeInto(segMap, segAcc.value))
        }
      snapshot.write(s"seen_w$wave", seenDelta)

      val seedCount = if (wave == 0) seenCount else 0L
      var metrics = Map.empty[String, Long]
      val planMs = (System.nanoTime() - waveT0) / 1000000L
      val snap = snapshot.commit { written =>
        // the written files' row counts — zero extra Spark jobs
        def rows(table: String) = SnapshotStore.rowCount(written(table))
        metrics = Map(
          "scheduled" -> rows(s"fetch_log_w$wave"),
          // *_approx: accumulator-derived — a task retry or speculative
          // duplicate can inflate them (the row-count siblings are
          // exact: only one attempt per partition is published; recompute
          // exact ok/retryable from fetch_log statuses when it matters,
          // as q43 does)
          "fetched_ok_approx" -> okAcc.value.toLong,
          "records" -> rows(s"records_w$wave"),
          "new_links" -> (rows(s"seen_w$wave") - seedCount),
          "retries_approx" -> retryAcc.value.toLong,
          // driver time from the loop top to the last write issued
          "plan_ms" -> planMs
        )
        metrics
      }

      absorbBloom()

      // reload state from the committed snapshot: truncates lineage so
      // wave N+1's plan is independent of wave N's
      frontier = readFrontier(snap)
      seenPaths :+= snap.tables(s"seen_w$wave")
      seen = seenUnion(spark, seenPaths)
      frontierCount = store.tableRowCount(snap, "frontier")
      seenCount += metrics("new_links")
      fetched.unpersist()
      parsed.unpersist()
      newEntries.unpersist()
      wave += 1
    }

    if (cfg.pagesTable.isEmpty) pagesKeyed.unpersist()
    result(spark, store, wave)
  }

  // the schemas the loop writes its tables with (Dataset encoders, and
  // the seen deltas' single bigint column); reads pass them back
  private val FrontierSchema = Encoders.product[FrontierEntry].schema
  private val RecordSchema = Encoders.product[PageParsers.CrawlRecord].schema
  private val FetchLogSchema = Encoders.product[FetchLogRow].schema
  private val SeenSchema = StructType(Seq(StructField("url_hash", LongType)))

  /** The crawl's output over every committed wave of `store`. */
  private[crawl] def result(spark: SparkSession, store: SnapshotStore,
      waves: Int): Result = {
    val chain = store.chain
    Result(
      readTables(spark, deltaPaths(chain, "records_w"), RecordSchema),
      readTables(spark, deltaPaths(chain, "fetch_log_w"), FetchLogSchema),
      seenUnion(spark, deltaPaths(chain, "seen_w")),
      waves)
  }

  /** Every seen delta as ONE multi-path scan. The seen set is a set, so
    * the file order a multi-path scan picks does not matter; what does is
    * that the plan keeps one shape however many waves have committed: a
    * per-wave union would add a scan per wave, renumber every later
    * whole-stage-codegen stage and make each wave compile its classes
    * anew.
    */
  private def seenUnion(spark: SparkSession, paths: Seq[String]): DataFrame =
    paths match {
      case Seq() => emptyFrame(spark, SeenSchema)
      case _ => spark.read.schema(SeenSchema).parquet(paths: _*)
    }

  /** Union, in `paths` order, of tables this loop wrote with `schema`.
    * Passing the written schema plans every read on the driver alone:
    * `spark.read.parquet` without one starts a Spark job per path to infer
    * it. One scan per path where order matters (records, fetch_log): the
    * union keeps wave order, while a multi-path scan orders its files by
    * size, and readers that stable-sort records by `crawl_rank` meet ties
    * (blog pages at depth ≥ 2 share a rank) that only wave order breaks.
    * No path (no wave committed: all seeds robots-disallowed, or
    * maxWaves = 0) gives an empty frame of the same schema, not a
    * column-less emptyDataFrame.
    */
  private def readTables(spark: SparkSession, paths: Seq[String],
      schema: StructType): DataFrame =
    paths.map(spark.read.schema(schema).parquet(_))
      .reduceOption(_ unionByName _)
      .getOrElse(emptyFrame(spark, schema))

  private def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** Paths of every per-wave delta table named `prefix*` in `chain`
    * (committed snapshots, oldest first), in chain order.
    */
  private def deltaPaths(chain: Seq[SnapshotStore#Snapshot],
      prefix: String): Seq[String] =
    chain.flatMap(_.tables.collect {
      case (name, path) if name.startsWith(prefix) => path
    }).distinct
}
