package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge

/** Relational operators from the reference, re-expressed Spark-first over
  * the driver testdata tables, each paired with a DuckDB oracle in its
  * [[graft.SparkEntry.registry]] entry.
  *
  * Scale notes (100 TB design point):
  *   - aggregations are plain `groupBy` → hash-aggregate with map-side
  *     partial aggregation; no driver-side collection anywhere;
  *   - small dimension tables (nation/region, 25/5 rows — the reference's
  *     literal lookup dicts, SURVEY.md J2) are explicitly `broadcast()`;
  *   - every query ends in a deterministic `orderBy` because the sink
  *     contract (reference writes serially-ordered files, SURVEY.md O1)
  *     requires a total order — at scale this is a range-partitioned sort,
  *     the one shuffle these queries genuinely need.
  */
object CoreQueries {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Cheap table-version fingerprint — the cache key component that
    * invalidates the per-table memoizations ([[Codebooks]], the q21/q60
    * shared edge set) when a table at the same path is rewritten within
    * a session. Hashes every file's (name, size, mtime): Spark part
    * files carry a fresh task UUID in their NAME on every write, so two
    * rewrites are distinguished even when they land in the same
    * filesystem mtime tick with identical byte totals (mtime+bytes
    * alone misses that). The local-FS stand-in for a real table
    * format's snapshot id.
    */
  def tableVersion(dir: String, name: String): String = {
    val p = java.nio.file.Paths.get(dir, s"$name.parquet")
    if (!java.nio.file.Files.exists(p)) "absent"
    else {
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      val st = java.nio.file.Files.walk(p)
      try st.forEach { f =>
        if (java.nio.file.Files.isRegularFile(f)) {
          entries += s"${p.relativize(f)}:${java.nio.file.Files.size(f)}:" +
            java.nio.file.Files.getLastModifiedTime(f).toMillis
        }
      } finally st.close()
      java.lang.Long.toHexString(entries.sorted.mkString("\n").hashCode
        .toLong & 0xFFFFFFFFL) + s":${entries.size}"
    }
  }

  /** A1 (new.py:75-82): per-key counts pivoted wide. Explicit pivot values
    * → single-pass hash agg, no extra distinct-values job.
    */
  def pivotCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .count()
      .orderBy("l_returnflag")

  /** F1/F2 (arxiv/search_pdf_string.py:151-153): blocked-keyword anti-filter
    * — substring match against a literal keyword list, pushed to the scan.
    */
  def blockedKeywords(s: SparkSession, dir: String): DataFrame = {
    val blocked = Seq("shuffle", "skew")
    val pred = blocked.map(k => col("text").contains(k)).reduce(_ || _)
    t(s, dir, "documents")
      .filter(!pred)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** F3 (arxiv/search_pdf_string.py:167-174): label prefix filter with the
    * reference's normalization — append '.' when the filter has none, then
    * lowercase ("cs" must match "cs.CV" but NOT "csx.AI"; the dot is what
    * stops prefix bleed between label families). The documents table has
    * no dotted-label column, so the arXiv-style label is derived
    * deterministically (mirrored in the oracle): family "srcN" with
    * doc_id%7==0 rows in the adversarial "src1x" family that a dotless
    * prefix WOULD wrongly match.
    */
  def labelPrefix(s: SparkSession, dir: String): DataFrame = {
    val raw = "src1"
    val norm = (if (raw.contains(".")) raw else raw + ".").toLowerCase
    t(s, dir, "documents")
      .withColumn("label",
        concat(col("source"),
          when(col("doc_id") % 7 === 0, lit("x")).otherwise(lit("")),
          lit("."), upper(col("lang"))))
      .filter(startswith(lower(col("label")), lit(norm)))
      .select("doc_id", "source", "label")
      .orderBy("doc_id")
  }

  /** D4/F12 (zotero/title.py:46-62): dedup — deterministic representative
    * (min id) per group, not dropDuplicates (whose survivor is
    * partition-order dependent, unacceptable for a reproducible crawl).
    */
  def dedupFirst(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy("lang", "source")
      .agg(min("doc_id").as("first_doc"), count(lit(1)).as("n"))
      .orderBy("lang", "source")

  /** J2 (new.py:58, conference/ICML.py:82-84): static-map lookup as
    * broadcast hash joins — zero shuffle of the fact side.
    */
  def lookupJoin(s: SparkSession, dir: String): DataFrame = {
    val customer = t(s, dir, "customer")
    val nation = broadcast(t(s, dir, "nation"))
    val region = broadcast(t(s, dir, "region"))
    customer
      .join(nation, customer("c_nationkey") === nation("n_nationkey"))
      .join(region, nation("n_regionkey") === region("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_customers"),
        sum(floor(col("c_acctbal") * 100)).cast("long").as("acctbal_cents"))
      .orderBy("r_name")
  }

  /** J5/F10 (text/architectural_119.py:288-291): URL-seen resume skip as a
    * left-anti join — customers with no 'P'-status order. The anti side is
    * aggregated to distinct keys first so the join input is minimal.
    */
  def antiJoinSeen(s: SparkSession, dir: String): DataFrame = {
    val seen = t(s, dir, "orders")
      .filter(col("o_orderstatus") === "P")
      .select(col("o_custkey")).distinct()
    t(s, dir, "customer")
      .join(seen, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment")
  }

  /** O4 (ITEMS_NUM/max_results limits): deterministic top-k — total order
    * on (value desc, event_id) so ties cannot flip between engines. TakeOrdered
    * physical op: no full sort, no full shuffle.
    */
  def topK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_id"), floor(col("value") * 100).cast("long").as("value_cents"))
      .orderBy(col("value_cents").desc, col("event_id"))
      .limit(100)

  /** O5 (name2arxivid.py:165-167,219-228): first-match-per-key via window
    * row_number — the reference's "first Atom entry wins".
    */
  def firstMatch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("first_ts"))
      .orderBy("user_id")
  }

  /** F4/D3 (arxiv/search_pdf_string.py:85-89): min_id early-stop — keep all
    * rows strictly before the sentinel in crawl order. Implemented as a
    * global-min subquery (one tiny agg broadcast back), NOT a sequential
    * scan — this is how the inherently-serial reference semantics
    * parallelize.
    */
  def highWaterStop(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events")
    val sentinel = events
      .filter(col("event_type") === "purchase" && col("value") > 400)
      .agg(min("event_id").as("stop_id"))
    events.crossJoin(broadcast(sentinel))
      .filter(col("event_id") < col("stop_id"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), max("event_id").as("max_id"))
      .orderBy("event_type")
  }

  /** E18+E19 (arxiv/search_pdf_string.py:96-109): pagination math + page-URL
    * generator — `ceil(total/200)` then `explode(sequence(...))`, the
    * Spark-native Generator replacing the reference's list comprehension.
    */
  def pageGenerator(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("total"))
      .withColumn("total_pages",
        ceil(col("total") / lit(200.0)).cast("long"))
      .withColumn("page_idx",
        explode(sequence(lit(0L), col("total_pages") - 1)))
      .withColumn("page_url",
        concat(lit("https://example.org/search?q="), col("o_orderpriority"),
          lit("&start="), (col("page_idx") * 200).cast("string")))
      .select("o_orderpriority", "total", "page_idx", "page_url")
      .orderBy("o_orderpriority", "page_idx")

  /** U1/U2 (arxiv/citations.py:155-157): union of two crawl types with a
    * type tag — unionByName keeps the plan a single scan per side.
    */
  def unionTypes(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val a = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), lit("reference").as("crawl_type"))
    val b = e.filter(col("event_type") === "error")
      .select(col("event_id"), lit("citation").as("crawl_type"))
    a.unionByName(b).orderBy("event_id", "crawl_type")
  }

  /** E5/E7 analogue (arxiv.py:85-100): date normalization + per-day counts —
    * "YYYY-MM-DD" keys exactly as DateNum produces.
    */
  def dailyCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .groupBy("day")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100)).cast("long").as("value_cents"))
      .orderBy("day")

  /** R9 (conference/openaccess.py:39-47): numeric-range enumeration source —
    * `spark.range` + format_string; a pure generator, no input table.
    */
  def rangeEnum(s: SparkSession, dir: String): DataFrame =
    s.range(1, 871)
      .withColumn("url",
        format_string("https://www.ijcai.org/proceedings/2018/%04d.pdf",
          col("id")))
      .select(col("id").as("paper_id"), col("url"))
      .orderBy("paper_id")

  /** A2/A3 (search_pdf_string.py:150-154): diagnostic counts — total vs
    * blocked vs kept in one pass with conditional aggregation.
    */
  def filterDiagnostics(s: SparkSession, dir: String): DataFrame = {
    val blockedPred = col("text").contains("skew")
    // kept is the CASE-ELSE complement of blocked, NOT `!blockedPred`:
    // a null-text doc has a NULL predicate, and when(!null, 1).otherwise(0)
    // would count it in NEITHER bucket — breaking total = blocked + kept.
    // Not-blocked-therefore-kept is the accounting the reference's
    // diagnostics print and the oracle's CASE mirrors.
    t(s, dir, "documents")
      .agg(count(lit(1)).as("total"),
        sum(when(blockedPred, 1L).otherwise(0L)).as("blocked"),
        sum(when(blockedPred, 0L).otherwise(1L)).as("kept"))
  }

  /** The per-doc search variants (E11) and the Atom API index — the S4
    * surface shared by [[apiLookup]] and the oracle dump: `apiRequests`
    * is every (doc, variant_rank, variant) probe the cascade would issue;
    * `apiIndex` maps each resolvable variant to the Atom XML RESPONSE the
    * API would return (deterministically derived from the corpus — every
    * doc's cleaned title head resolves, first doc wins a shared variant).
    * The response embeds the id as `http://arxiv.org/abs/NNNN.NNNNNv1`
    * inside the first `<entry>`, plus a decoy second entry — the parse
    * must pick entry[0] exactly as name2arxivid.py:165 does.
    */
  /** E10/E11/S4 column twins — native codegen expressions calling the
    * SAME row functions the extraction layer runs
    * ([[graft.functions.ExtractExprOps]]); these replaced the last boxed
    * ScalaUDFs on a driver-query per-doc path (PlanSpec pins q28 UDF-free,
    * ExtractExpressionsSpec pins equality with the UDF formulation).
    */
  private def searchVariantsCol(t: Column): Column =
    ColumnBridge.column(graft.functions.SearchVariants(
      ColumnBridge.expression(t)))
  private def cleanTitleCol(t: Column): Column =
    ColumnBridge.column(graft.functions.CleanTitle(
      ColumnBridge.expression(t)))
  private def atomFirstIdCol(xml: Column): Column =
    ColumnBridge.column(graft.functions.AtomFirstId(
      ColumnBridge.expression(xml)))

  def apiRequests(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents")
      .withColumn("title", substring(col("text"), 1, 64))
      .select(col("doc_id"),
        posexplode(searchVariantsCol(col("title")))
          .as(Seq("variant_rank", "variant")))
  }

  def apiIndex(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents")
      .withColumn("title", substring(col("text"), 1, 64))
      .select(cleanTitleCol(col("title")).as("variant"),
        col("doc_id").as("resolved_id"))
      .groupBy("variant").agg(min("resolved_id").as("resolved_id"))
      .select(col("variant"),
        concat(
          lit("<feed xmlns=\"http://www.w3.org/2005/Atom\"><entry><id>" +
            "http://arxiv.org/abs/"),
          format_string("%04d.%05d",
            lit(2400) + pmod(col("resolved_id"), lit(100)),
            pmod(col("resolved_id"), lit(100000))),
          lit("v1</id></entry><entry><id>http://arxiv.org/abs/9999.99999" +
            "</id></entry></feed>")).as("atom_xml"))
  }

  /** Dump the API request/response tables for the q28 DuckDB oracle —
    * the DuckDB side re-runs the join + first-variant pick + XML id
    * extraction independently over these files.
    */
  val ApiDumpDir: String = CrawlPipelines.OracleDumpDir
  def dumpApiTables(s: SparkSession, dir: String): Unit = {
    apiRequests(s, dir).coalesce(1).write.mode("overwrite")
      .parquet(s"$ApiDumpDir/api_requests")
    apiIndex(s, dir).coalesce(1).write.mode("overwrite")
      .parquet(s"$ApiDumpDir/api_index")
  }

  /** S4 (name2arxivid.py:147-175) + E10/E11: title → clean → search
    * variants → lookup join against the Atom API index — each hit carries
    * the API's Atom XML response, parsed for the first entry's
    * `arxiv.org/abs/(\d+\.\d+)` id exactly like the reference
    * (name2arxivid.py:160-172, [[graft.extract.ArxivExtract.parseAtomFirstId]]);
    * first matching variant wins (O5).
    */
  def apiLookup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("variant_rank")
    apiRequests(s, dir)
      .join(broadcast(apiIndex(s, dir)), Seq("variant"), "left")
      .withColumn("arxiv_id", atomFirstIdCol(col("atom_xml")))
      .filter(col("arxiv_id").isNotNull)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1) // first matching variant wins (O5)
      .select(col("doc_id"), col("variant_rank"), col("arxiv_id"))
      .orderBy("doc_id")
  }

  /** S5 (dataset/youtube.py:30-50): the YouTube search API as a JSON
    * source — the engine-side semantics are (1) one JSON RESPONSE document
    * per query, (2) schema'd parse of `items[].snippet.{title,
    * description, publishedAt}` + `items[].id.videoId`, (3) flatten to
    * one row per video. The response corpus is derived deterministically
    * from `documents` (top-3 docs per source in doc order = the API's
    * ranked items), built with `to_json` and parsed back with a typed
    * `from_json` + explode — the real API client plumbing, minus the
    * network. The DuckDB oracle computes the same rows relationally,
    * checking the JSON round-trip is lossless.
    */
  def youtubeSearch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val w = Window.partitionBy("source").orderBy("doc_id")
    val items = t(s, dir, "documents")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("source"), col("rn"),
        struct(
          struct(
            substring(col("text"), 1, 30).as("title"),
            substring(col("text"), 1, 80).as("description"),
            concat(lit("2024-01-"),
              lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0"))
              .as("publishedAt")).as("snippet"),
          struct(concat(lit("vid"), col("doc_id")).as("videoId")).as("id"))
          .as("item"))
    val responses = items.groupBy("source")
      .agg(to_json(struct(
        sort_array(collect_list(struct(col("rn"), col("item"))))
          .getField("item").as("items"))).as("response_json"))
    // ---- the parse side: typed schema, explode items, project fields ----
    val schema = StructType(Seq(StructField("items", ArrayType(StructType(Seq(
      StructField("snippet", StructType(Seq(
        StructField("title", StringType),
        StructField("description", StringType),
        StructField("publishedAt", StringType)))),
      StructField("id", StructType(Seq(
        StructField("videoId", StringType))))))))))
    responses
      .select(col("source").as("query"),
        explode(from_json(col("response_json"), schema).getField("items"))
          .as("item"))
      .select(col("query"),
        col("item.snippet.title").as("title"),
        col("item.snippet.description").as("description"),
        col("item.snippet.publishedAt").as("published_at"),
        col("item.id.videoId").as("video_id"))
      .orderBy("query", "video_id")
  }

  /** S7/O3 (util/file.py:30-33): numeric sort with lexicographic fallback
    * — order by the first integer embedded in the name, names without a
    * number after all numbered ones (Python sorts ints before its
    * fallback branch puts strings separately; here: numbered first by
    * value, then unnumbered lexicographically).
    */
  def numericSort(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        concat(col("source"), lit("_"), col("lang")).as("name"))
      .withColumn("num",
        regexp_extract(col("name"), "\\d+", 0))
      .withColumn("num_key",
        when(col("num") === "", lit(Long.MaxValue))
          .otherwise(col("num").cast("long")))
      .orderBy(col("num_key"), col("name"), col("doc_id"))
      .select("doc_id", "name", "num_key")
      .limit(500)

  /** The zotero item list with ARRAY-TYPED tags (zotero/title.py:38-43):
    * tags are the document's words that fall in the tag pool; the
    * three-way split preserves list order and multiplicity exactly like
    * the reference's comprehensions — top_conference ∈ TOP, survey ==
    * the survey tag, other = everything else (set difference via
    * membership filters, the Spark `filter` HOF standing in for
    * array_intersect/except with order preserved).
    */
  private val TagPool = Seq("spark", "stream", "skew", "shuffle", "robust")
  private val TopTags = Seq("spark", "skew")
  private val SurveyTag = "stream"

  def zoteroItems(s: SparkSession, dir: String): DataFrame = {
    val words = split(trim(lower(col("text"))), "\\s+")
    val tags = filter(words, w => w.isin(TagPool: _*))
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        substring(col("text"), 1, 40).as("title"), tags.as("tags"))
      .withColumn("top_tags", filter(col("tags"), w => w.isin(TopTags: _*)))
      .withColumn("survey_tags", filter(col("tags"), w => w === SurveyTag))
      .withColumn("other_tags", filter(col("tags"),
        w => !w.isin(TopTags: _*) && w =!= SurveyTag))
  }

  /** E20+F12 as the reference actually runs them (zotero/title.py:45-62):
    * three print sections in priority order — 综述/survey, 顶会/top
    * conference, 其他/other — where `printed_titles` dedups across
    * sections: a title prints in the FIRST section any of its items
    * qualifies for, at the position of its first qualifying item, with
    * that item's top-tags + date in the printed line.
    */
  def zoteroPriorityDedup(s: SparkSession, dir: String): DataFrame = {
    val items = zoteroItems(s, dir)
      .withColumn("best",
        when(size(col("survey_tags")) > 0, 1)
          .when(size(col("top_tags")) > 0, 2)
          .when(size(col("other_tags")) > 0, 3))
      .filter(col("best").isNotNull)
    val sectionOf = items.groupBy("title")
      .agg(min(col("best")).as("section_no"))
    val qualifies = items.join(sectionOf, "title")
      .filter(
        when(col("section_no") === 1, size(col("survey_tags")) > 0)
          .when(col("section_no") === 2, size(col("top_tags")) > 0)
          .otherwise(size(col("other_tags")) > 0))
    val reps = qualifies.groupBy("title", "section_no")
      .agg(min("doc_id").as("rep_doc"))
    val repRows = items.select(col("doc_id").as("rep_doc"),
      col("title"), col("top_tags"), col("source"))
    reps.join(repRows, Seq("rep_doc", "title"))
      .withColumn("section",
        when(col("section_no") === 1, "survey")
          .when(col("section_no") === 2, "top_conference")
          .otherwise("other"))
      .withColumn("conf", concat_ws(", ", col("top_tags")))
      // the printed line (title.py:49): date falls back in when no top tag
      .withColumn("line",
        concat(lit("【】"), col("title"), lit(" ("),
          when(col("conf") =!= "",
            concat(col("conf"), lit(" "), col("source")))
            .otherwise(col("source")),
          lit(")")))
      .select("section", "title", "rep_doc", "conf", "line", "section_no")
      .orderBy("section_no", "rep_doc")
      .drop("section_no")
  }

  /** E20 (zotero/title.py:38-42): tag classification into
    * top_conference / survey / other partitions — the reference's
    * three-way set-membership split as a CASE cascade.
    */
  def classifyTags(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("category",
        when(col("text").contains("spark"), "top_conference")
          .when(col("text").contains("stream"), "survey")
          .otherwise("other"))
      .groupBy("category")
      .agg(count(lit(1)).as("n"), min("doc_id").as("first_doc"))
      .orderBy("category")
}
