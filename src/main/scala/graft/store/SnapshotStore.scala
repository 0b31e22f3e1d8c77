package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import SnapshotStore.DataFile

/** Iceberg-style snapshot store: immutable Parquet data files under an
  * atomically-committed JSON manifest (snapshot id, parent id, each
  * table's directory and its data files with their rows, bytes and
  * writing partition, metrics). Real Iceberg is not on the offline
  * classpath (SURVEY.md §7.3), so this implements the same contract
  * behind a small surface; an Iceberg catalog can slot in later
  * unchanged.
  *
  * Commit protocol (single-writer, crash-safe):
  *   1. write each table to `data-<snapshotId>/<table>/` (immutable, never
  *      rewritten). [[begin]] opens a [[Pending]] snapshot; each
  *      [[Pending.write]] starts its table's write at once, on a thread of
  *      its own, so the tables of one snapshot are written concurrently,
  *      and [[Pending.commit]] waits until every write has landed. A write
  *      is one Spark job through [[TableWriter]]: each task writes its
  *      partition to a hidden `_`-prefixed attempt file and returns it
  *      with its row and byte counts, and the driver renames exactly the
  *      returned files to their published `part-*` names and deletes any
  *      other attempt file. There is no Hadoop task commit, no
  *      `_temporary` tree and no `_SUCCESS` marker: the manifest is the
  *      commit;
  *   2. write `manifest-<snapshotId>.json.tmp`, listing every published
  *      file under `files`, and ATOMIC_MOVE it into place;
  *   3. atomically swap `HEAD` to point at the new manifest.
  * A crash between any two steps leaves HEAD at the parent snapshot —
  * every frontier iteration is resumable from the last committed snapshot
  * (north_rule). So does a failed write: the commit waits for the other
  * writes to end, writes no manifest and rethrows. Orphaned data dirs from
  * uncommitted snapshots are ignored by readers (no manifest names them),
  * and the next commit of that snapshot id replaces the orphan dir
  * (deleted, then written afresh, as `mode("overwrite")` would).
  *
  * Writes go through [[ForklessLocalFileSystem]], registered under its own
  * scheme in the session's Hadoop conf: it sets each new file's and
  * directory's mode with `java.nio` instead of forking `chmod`, and still
  * writes the `.crc` checksums. Manifests record plain paths, so every
  * reader opens the written files through `file:`. Each table's write
  * time (driver wall clock from its start to its end, so overlapping
  * writes each count the time they share) lands in the manifest metrics
  * as `<table>_write_ms`, beside `<table>_files` and `<table>_bytes`
  * summed from the write's task results; each write's Spark jobs carry
  * the job description `snapshot <snapshotId> <table>`. Row counts
  * ([[rowCount]], [[tableRowCount]]) are read from the manifest's file
  * list: no footer is opened and no directory listed.
  *
  * At cluster scale the same layout lands on an object store: Parquet data
  * files are written by executors (distributed), only the tiny manifest
  * JSON and one rename per data file pass through the driver.
  */
class SnapshotStore(val root: String, spark: SparkSession) {

  private val rootPath = Paths.get(root).toAbsolutePath
  Files.createDirectories(rootPath)
  spark.sparkContext.hadoopConfiguration.set(
    s"fs.${ForklessLocalFileSystem.Scheme}.impl",
    classOf[ForklessLocalFileSystem].getName)

  // open to subclasses (a spec samples state at each commit), so the
  // nested case class's equals cannot check its outer store
  @scala.annotation.nowarn("msg=outer reference")
  final case class Snapshot(id: Long, parent: Long, wave: Int,
      tables: Map[String, String], metrics: Map[String, Long],
      files: Map[String, Seq[DataFile]])

  private def manifestPath(id: Long): Path =
    rootPath.resolve(f"manifest-$id%06d.json")
  private def headPath: Path = rootPath.resolve("HEAD")

  /** Latest committed snapshot, if any. */
  def head: Option[Snapshot] = {
    if (!Files.exists(headPath)) None
    else {
      val id = Files.readString(headPath).trim.toLong
      Some(readManifest(id))
    }
  }

  def readManifest(id: Long): Snapshot = {
    val m = SnapshotStore.Json.readTree(Files.readString(manifestPath(id)))
    def field(k: String) = Option(m.get(k)).getOrElse(
      throw new IllegalStateException(s"manifest $id missing $k"))
    def obj(k: String) =
      field(k).properties.asScala.map(e => e.getKey -> e.getValue).toMap
    Snapshot(field("id").asLong, field("parent").asLong, field("wave").asInt,
      obj("tables").map { case (k, v) => k -> v.asText },
      obj("metrics").map { case (k, v) => k -> v.asLong },
      obj("files").map { case (k, v) => k -> v.elements.asScala.map { f =>
        DataFile(f.get("path").asText, f.get("rows").asLong,
          f.get("bytes").asLong, f.get("partition").asInt)
      }.toSeq })
  }

  /** Write tables + commit a new snapshot; returns it. `metrics` carries the
    * per-wave fetch/parse counters (north_rule lineage + metrics).
    */
  def commit(wave: Int, tables: Map[String, DataFrame],
      metrics: Map[String, Long]): Snapshot =
    commitWith(wave, tables.toSeq, _ => metrics)

  /** [[begin]], one [[Pending.write]] per table, then [[Pending.commit]]:
    * the tables are written concurrently, and `metricsFn` runs once all
    * of them have landed.
    */
  def commitWith(wave: Int, tables: Seq[(String, DataFrame)],
      metricsFn: Map[String, Seq[DataFile]] => Map[String, Long]): Snapshot = {
    val pending = begin(wave)
    tables.foreach { case (name, df) => pending.write(name, df) }
    pending.commit(metricsFn)
  }

  /** Open the next snapshot (id HEAD + 1) of `wave`; nothing is written
    * until its tables are.
    */
  def begin(wave: Int): Pending = new Pending(wave)

  /** A snapshot whose tables are being written. Each [[write]] starts at
    * once on a thread of its own, made by the caller, so it inherits the
    * caller's context class loader and Spark local properties (job group,
    * scheduler pool). Concurrent writes that read one `.cache()`d frame
    * compute it once: Spark builds a cached relation once and locks each
    * of its blocks while a task builds it. A frame must therefore be
    * cached BEFORE the first write that reads it is issued, or that write
    * plans its own copy. Nothing outlives [[commit]], which every opened
    * snapshot must reach.
    */
  class Pending protected[store] (wave: Int) {
    private val parent = head.map(_.id).getOrElse(-1L)
    private val id = parent + 1
    private val dataDir = rootPath.resolve(f"data-$id%06d")
    private val writes = scala.collection.mutable.ArrayBuffer[Write]()

    private final class Write(val name: String, df: DataFrame)
        extends Thread(s"snapshot-$id-$name") {
      val path: String = dataDir.resolve(name).toString
      // read by `commit` after `join`, which orders them after this thread
      var ms = 0L
      var files = Seq.empty[DataFile]
      var error: Option[Throwable] = None
      setDaemon(true)
      override def run(): Unit = {
        val t0 = System.nanoTime()
        try {
          spark.sparkContext.setJobDescription(s"snapshot $id $name")
          files = TableWriter.write(df, path)
        } catch { case e: Throwable => error = Some(e) }
        ms = (System.nanoTime() - t0) / 1000000L
      }
    }

    /** Start writing `df` as table `name` of this snapshot. */
    def write(name: String, df: DataFrame): Unit = {
      require(!writes.exists(_.name == name),
        s"table $name written twice in snapshot $id")
      val w = new Write(name, df)
      writes += w
      w.start()
    }

    /** Wait for every write, then commit with metrics computed AFTER the
      * data writes but BEFORE the manifest move — so metrics can come from
      * the written files' counts (`metricsFn` gets each table's files, see
      * [[SnapshotStore.rowCount]]) and from accumulators the write jobs
      * populated, without any extra Spark job. The committed metrics add
      * `<table>_write_ms`, `<table>_files` and `<table>_bytes` per table to
      * `metricsFn`'s. If a write failed, the first failed one in issue
      * order is rethrown (the others' errors suppressed in it) once every
      * write has ended, and no manifest is written: HEAD stays at the
      * parent.
      */
    def commit(metricsFn: Map[String, Seq[DataFile]] => Map[String, Long])
        : Snapshot = {
      writes.foreach(_.join())
      val errors = writes.flatMap(_.error)
      errors.headOption.foreach { first =>
        errors.tail.foreach(first.addSuppressed)
        throw first
      }
      val tables = writes.map(w => w.name -> w.path).toMap
      val files = writes.map(w => w.name -> w.files).toMap
      val metrics = metricsFn(files) ++ writes.flatMap(w => Seq(
        s"${w.name}_write_ms" -> w.ms,
        s"${w.name}_files" -> w.files.size.toLong,
        s"${w.name}_bytes" -> w.files.map(_.bytes).sum))
      val json = {
        val m = SnapshotStore.Json.createObjectNode()
          .put("id", id).put("parent", parent).put("wave", wave)
        val ts = m.putObject("tables")
        tables.foreach { case (k, v) => ts.put(k, v) }
        val fs = m.putObject("files")
        files.foreach { case (k, v) =>
          val a = fs.putArray(k)
          v.foreach(f => a.addObject().put("path", f.path).put("rows", f.rows)
            .put("bytes", f.bytes).put("partition", f.partition))
        }
        val ms = m.putObject("metrics")
        metrics.foreach { case (k, v) => ms.put(k, v) }
        SnapshotStore.Json.writeValueAsString(m)
      }
      val tmp = rootPath.resolve(s"manifest-$id.json.tmp")
      Files.writeString(tmp, json)
      Files.move(tmp, manifestPath(id), StandardCopyOption.ATOMIC_MOVE)
      val headTmp = rootPath.resolve("HEAD.tmp")
      Files.writeString(headTmp, id.toString)
      Files.move(headTmp, headPath, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      Snapshot(id, parent, wave, tables, metrics, files)
    }
  }

  /** Read a table out of a snapshot. */
  def table(snap: Snapshot, name: String): Option[DataFrame] =
    snap.tables.get(name).filter(p => Files.exists(Paths.get(p)))
      .map(TableReader.read(spark, _))

  /** Row count of table `name` of `snap`, from its manifest's file list
    * ([[SnapshotStore.rowCount]]); 0 for a table the snapshot lacks.
    */
  def tableRowCount(snap: Snapshot, name: String): Long =
    snap.files.get(name).fold(0L)(SnapshotStore.rowCount)

  /** All COMMITTED snapshots, oldest first, each manifest read once — by
    * walking the parent chain from HEAD, not by listing manifest files: a
    * crash between the manifest ATOMIC_MOVE and the HEAD swap leaves an
    * orphan manifest on disk, and the documented guarantee is that
    * orphans are invisible to readers. (Ids are dense `parent+1`, so the
    * chain is the ≤-HEAD prefix; walking manifests keeps it correct even
    * if that changes.)
    */
  def chain: Seq[Snapshot] =
    Iterator.iterate(head)(_.map(_.parent).filter(_ >= 0).map(readManifest))
      .takeWhile(_.isDefined).flatten.toList.reverse

  /** The ids of [[chain]]. */
  def snapshots: Seq[Long] = chain.map(_.id)
}

object SnapshotStore {

  /** One published data file of a table: its plain path, its rows and
    * bytes, and the id of the Spark partition that wrote it.
    */
  final case class DataFile(path: String, rows: Long, bytes: Long,
      partition: Int)

  /** Row count of a table from its files' manifest entries — no footer
    * opened, no Spark job. This is how the crawl loop keeps per-wave
    * metrics (scheduled/records/new_links and the loop's own
    * frontier-count termination check) free: the counts ride on the four
    * snapshot writes instead of adding count() jobs (the r1 loop spent
    * ~10 jobs/wave, half of them metric counts).
    */
  def rowCount(files: Seq[DataFile]): Long = files.map(_.rows).sum

  // manifests are JSON: strings escaped on write, parsed as JSON strings on
  // read, so a path or name holding `,` `"` `}` round-trips
  private val Json = new ObjectMapper()
}
