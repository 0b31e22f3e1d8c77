package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.store.TableReader

/** Bucketed storage for the pages table: co-locates rows by `url_hash`
  * so the per-wave fetch join (frontier ⋈ pages) needs NO shuffle of the
  * pages side — only the frontier (a few dozen bytes/row) moves, never
  * the html payload (KBs–MBs/row). At 100 TB this is the difference
  * between shuffling the corpus every wave and shuffling only the wave's
  * URL list. `CrawlLoop.Config(pagesTable = Some(...))` points the crawl
  * loop's fetch join here; `Bench.wavePipeline` measures through it.
  *
  * Mechanics: `bucketBy(n, url_hash).sortBy(url_hash)` Parquet via
  * `saveAsTable` (works on the in-memory catalog — no Hive metastore
  * needed). The sort-merge join then reads each bucket file as a
  * pre-partitioned, pre-sorted input: the bucketed side shows no
  * Exchange and no Sort in the physical plan (BucketedPagesSpec pins
  * this), while the frontier side exchanges into the same bucketing.
  *
  * This is the Iceberg-analogue layout choice (hash bucket partitioning
  * on the identity column); the SnapshotStore manifests would record
  * bucket spec per table in a production catalog.
  */
object BucketedPages {

  /** Write pages keyed and bucketed by url_hash. With `path` the table is
    * EXTERNAL: the files outlive the session and [[register]] can re-attach
    * them to a fresh session's catalog (bucketing metadata lives in the
    * catalog, not the files — only the bucket-id filename convention is
    * on disk).
    */
  def write(spark: SparkSession, pages: DataFrame, table: String,
      nBuckets: Int = 32, path: Option[String] = None): Unit = {
    val w = pages
      // native codegen expression, not a UDF — this is a full corpus map
      .withColumn("url_hash", graft.url.UrlCols.urlHash64(col("url")))
      // repartition INTO the bucket hash first: bucketBy writes one file
      // per (task, bucket), and Spark only elides the join-side Sort when
      // each bucket is a SINGLE sorted file — this is the write-time cost
      // that buys the per-wave sort away (repartition's HashPartitioning
      // is the same murmur3(url_hash) % n the bucket assignment uses)
      .repartition(nBuckets, col("url_hash"))
      .write
      .bucketBy(nBuckets, "url_hash")
      .sortBy("url_hash")
      .format("parquet")
      .mode("overwrite")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Re-register an externally-written bucketed table on a NEW session
    * (the in-memory catalog dies with its session; the files don't).
    * The DDL replays the bucket spec so Spark again reads the files
    * pre-partitioned and pre-sorted.
    */
  def register(spark: SparkSession, table: String, path: String,
      nBuckets: Int = 32): Unit = {
    val schemaDdl = TableReader.read(spark, path).schema.toDDL
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(
      s"""CREATE TABLE $table ($schemaDdl) USING parquet
         |CLUSTERED BY (url_hash) SORTED BY (url_hash) INTO $nBuckets BUCKETS
         |LOCATION '$path'""".stripMargin)
  }

  /** Fetch join against the bucketed table: pages side is read in place
    * (no Exchange); only `frontier` (with a `url_hash` column) shuffles.
    */
  def fetchJoin(spark: SparkSession, frontier: DataFrame,
      table: String): DataFrame = {
    val pages = spark.table(table)
    frontier.join(pages, Seq("url_hash"), "left")
  }
}
