package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.crawl.CrawlLoop
import graft.fixtures.SyntheticWeb
import graft.frontier.PoliteScheduler
import graft.store.SnapshotStore
import scala.collection.concurrent.TrieMap

/** The reference pipelines (SURVEY.md §3) reconstructed as thin
  * compositions over the crawl engine, exposed as driver-contract queries.
  * They run the full wave loop on the deterministic synthetic web (the
  * relational sfDir is irrelevant to a crawl; determinism across runs and
  * parallelism levels is proven by CrawlLoopSpec), so the driver's
  * rows-only checks still pin exact row counts run-to-run.
  *
  * The crawl executes ONCE per session (memoized) — the three pipeline
  * queries are different sinks over the same records/fetch_log tables,
  * exactly like the reference's one-crawl-many-outputs scripts.
  */
object CrawlPipelines {

  val webCfg = SyntheticWeb.Config(seed = 42L, nHosts = 4, pagesPerHost = 3,
    itemsPerPage = 6, blogDepth = 2, blogFanout = 3)
  val crawlCfg = CrawlLoop.Config(
    scheduler = PoliteScheduler.Config(hostBudget = 16, defaultDelayMs = 1000L),
    maxWaves = 32)

  // keyed by session UUID: a cached Result holds DataFrames bound to the
  // session's SparkContext — reusing them on a NEW session (Bench stops
  // and recreates sessions per scaling leg) would misbehave
  private val cache = TrieMap[String, CrawlLoop.Result]()

  def result(s: SparkSession): CrawlLoop.Result =
    cache.getOrElseUpdate(
      s"${s.sparkContext.applicationId}-${System.identityHashCode(s)}", {
      val dir = java.nio.file.Files.createTempDirectory("graft-crawl")
      CrawlLoop.run(s, SyntheticWeb.pages(s, webCfg),
        SyntheticWeb.seeds(s, webCfg), SyntheticWeb.robots(s, webCfg),
        new SnapshotStore(dir.toString, s), crawlCfg)
    })

  /** §3.1 flagship (search_pdf_string): the records table in crawl order —
    * the K1 CSV sink's exact content.
    */
  def flagship(s: SparkSession, dir: String): DataFrame =
    result(s).records
      .select("url", "label", "title", "abstract_text", "crawl_rank")
      .orderBy("crawl_rank")

  /** §3.2 digest (new.py): per-seed markdown digest, papers concatenated in
    * crawl order — the K3 ordered-append sink. Only the digest's length is
    * output, and a concatenation's length is the sum of its parts', so the
    * per-seed aggregate is a partial-aggregating `sum` rather than a
    * buffer of every paper's text.
    */
  def digest(s: SparkSession, dir: String): DataFrame =
    digestOf(result(s).records)

  private[operators] def digestOf(records: DataFrame): DataFrame =
    records
      .filter(col("extracted_md") =!= "")
      .withColumn("seed", shiftright(col("crawl_rank"), 50))
      .groupBy("seed")
      .agg(count(lit(1)).as("n_papers"), digestLen)
      .orderBy("seed")

  // concat_ws skips nulls, so its length is the sum over the non-null
  // texts; an all-null group sums to null where the concatenation was
  // empty, which listingDigestOf fills with 0 (digestOf drops null texts)
  private def digestLen =
    sum(length(col("extracted_md"))).as("digest_len")

  /** A1-analogue counts: per-label record counts (the paper_number.csv
    * pivot) — deterministic wide aggregate.
    */
  def labelCounts(s: SparkSession, dir: String): DataFrame =
    result(s).records
      .filter(col("label") =!= "")
      .groupBy("label")
      .agg(count(lit(1)).as("n"))
      .orderBy("label")

  /** §3.3 citations: one-hop citation expansion (R5 pagination), output
    * sorted ascending by id exactly as the reference saves it (O2,
    * citations.py:145). Filtered by record PROVENANCE (parser family),
    * not URL shape — the listing pipeline also discovers arxiv.org urls
    * and must not leak into the citation output.
    */
  def citations(s: SparkSession, dir: String): DataFrame =
    result(s).records
      .filter(col("parser") === "cite")
      .select(col("label").as("id"), col("title"), col("url"))
      .orderBy("id", "url")

  /** Conference families (ICRA/ISCA) flattened: the doi-bearing ICRA
    * article rows + per-year meta rows, and ISCA's
    * (category, pdf url, sanitized file name) rows — the readme.csv / K5
    * layout inputs of conference/ICRA.py:62-64 and ISCA.py:88-92.
    */
  def conferenceRecords(s: SparkSession, dir: String): DataFrame =
    result(s).records
      .filter(col("parser").isin("icra", "isca", "icml", "cvf"))
      .select("parser", "url", "doi", "label", "title", "crawl_rank")
      .orderBy("crawl_rank")

  /** Repo-search family (getrepository.py): per-page clone targets —
    * label is the page_{i} artifact dir, title the `name_owner` clone dir.
    */
  def repoRecords(s: SparkSession, dir: String): DataFrame =
    result(s).records
      .filter(col("parser") === "repo")
      .select("label", "title", "url", "crawl_rank")
      .orderBy("crawl_rank")

  /** Dump the crawl's records + fetch_log as plain parquet under `out`,
    * so the driver's DuckDB oracle can aggregate the same tables the q4x
    * queries aggregate (Verify calls this after the query dump; the q4x
    * oracle SQL reads these files under [[graft.SparkEntry.OracleTables]]).
    */
  def dumpForOracle(s: SparkSession, out: String): Unit = {
    val r = result(s)
    r.records.coalesce(1).write.mode("overwrite").parquet(s"$out/records")
    r.fetchLog.coalesce(1).write.mode("overwrite").parquet(s"$out/fetch_log")
    iclrPages(s).coalesce(1).write.mode("overwrite")
      .parquet(s"$out/iclr_pages")
  }

  // ---- q50: ICLR end-to-end (S6 local-file source → E3 regex extract) ----

  /** The saved-html corpus conference/ICLR.py re-reads (ICLR.py:57): one
    * deterministic openreview listing per year, written as local
    * `iclr_<year>.html.txt` files — the S6 source the pipeline scans.
    * Each listing carries pdf-link anchors plus non-pdf chrome the regex
    * must skip.
    */
  val IclrYears: Range = 2018 to 2022
  def iclrHtml(year: Int): String = {
    val n = 3 + year % 4
    val rows = (0 until n).map { i =>
      s"""  <li class="note"><a href="/pdf?id=${year}Paper$i" class="pdf-link" title="Download PDF">pdf</a><h4>Deterministic Title $year-$i</h4><a href="/forum?id=${year}Paper$i" class="forum-link">forum</a></li>"""
    }.mkString("\n")
    s"<html><body>\n<div id=\"notes\">\n$rows\n</div>\n</body></html>\n"
  }

  /** Writes the fixture files ATOMICALLY (temp file + atomic move) so a
    * concurrent JVM's reader (Verify and sbt test can overlap) never sees
    * a torn page, and returns the EXPLICIT per-year paths — the scan reads
    * exactly these, so a stale file from an older fixture layout sitting
    * in the shared tmp dir can never leak rows into q50.
    */
  def iclrFixturePaths(): Seq[String] = {
    val d = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_iclr_pages")
    java.nio.file.Files.createDirectories(d)
    IclrYears.map { y =>
      val f = d.resolve(s"iclr_$y.html.txt")
      val tmp = java.nio.file.Files.createTempFile(d, s"iclr_$y", ".tmp")
      tmp.toFile.deleteOnExit() // a writer dying pre-move must not litter
      java.nio.file.Files.writeString(tmp, iclrHtml(y))
      java.nio.file.Files.move(tmp, f,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      f.toString
    }
  }

  /** The S6 scan: one row per saved file (wholetext), year parsed from the
    * numeric file name (S7/O3). Also dumped as parquet for the q50 DuckDB
    * oracle, which re-extracts the links independently (RE2 capture-group
    * form of the lookaround regex).
    */
  def iclrPages(s: SparkSession): DataFrame = {
    val paths = iclrFixturePaths()
    s.read.option("wholetext", "true").text(paths: _*)
      .select(
        regexp_extract(input_file_name(), "iclr_(\\d+)\\.html\\.txt", 1)
          .cast("int").as("year"),
        col("value").as("html"))
  }

  /** S6→E3→E17 end-to-end (conference/ICLR.py:57-70): saved listings →
    * parseIclrPdfLinks (the `/pdf`…`pdf-link` lookaround regex) → one row
    * per pdf in DOCUMENT ORDER (1-based ord) with the openreview download
    * url and the '='-derived file name.
    */
  def iclrRecords(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    iclrPages(s).as[(Int, String)].flatMap { case (year, html) =>
      graft.extract.ConferenceExtract.parseIclrPdfLinks(html).zipWithIndex
        .map { case (it, i) =>
          (year, (i + 1).toLong, it.downloadUrl, it.fileName) }
    }.toDF("year", "ord", "download_url", "file_name")
      .orderBy("year", "ord")
  }

  /** §3.2 listing digest (new.py end-to-end): listing pages contribute
    * the (subject=seed, date) key; their discovered abs pages contribute
    * ordered digests — output is one row per digest file
    * `{subject}/{date}.md` with its paper count and body length (K3),
    * plus the A1 counts-row inputs.
    */
  def listingDigest(s: SparkSession, dir: String): DataFrame =
    listingDigestOf(result(s).records)

  private[operators] def listingDigestOf(r: DataFrame): DataFrame = {
    val listings = r.filter(col("label") === "listing")
      .select(shiftright(col("crawl_rank"), 50).as("seed"),
        col("title").as("date"))
    val papers = r.filter(col("url").startsWith("https://arxiv.org/"))
      .withColumn("seed", shiftright(col("crawl_rank"), 50))
      .groupBy("seed")
      .agg(count(lit(1)).as("n_papers"), digestLen)
    listings.join(papers, Seq("seed"), "left")
      .na.fill(0L, Seq("n_papers", "digest_len"))
      .orderBy("seed")
  }

  /** R8 metrics: per-host per-wave fetch outcomes from fetch_log — the
    * engine's lineage/metrics surface (north_rule).
    */
  def hostMetrics(s: SparkSession, dir: String): DataFrame =
    result(s).fetchLog
      .groupBy("host", "wave")
      .agg(count(lit(1)).as("fetches"),
        sum(when(col("status") === 200, 1L).otherwise(0L)).as("ok"),
        sum(when(col("status") === 503, 1L).otherwise(0L)).as("retryable"),
        sum(when(col("status") === 404, 1L).otherwise(0L)).as("missing"))
      .orderBy("host", "wave")
}
