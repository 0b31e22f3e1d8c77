package graft.store

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The engine's one reader of Parquet tables whose schema the caller does
  * not know (the crawl loop reloads its own tables with the schemas it
  * wrote them with). `spark.read.parquet(path)` without a schema starts a
  * Spark job that infers it from the footers; given the schema, Spark
  * plans the read on the driver with no job. So the inferred schema is
  * kept per table version and every later read of that version passes it.
  */
object TableReader {

  /** [[version]] of a path that does not exist. */
  private val Absent = "absent"

  // one entry per (application, path), holding (version, schema): a
  // rewrite replaces its path's entry, so the memo is bounded by the
  // number of table paths read, not by the number of rewrites
  private val schemas =
    scala.collection.concurrent.TrieMap[(String, String), (String, StructType)]()

  /** The Parquet table at `path`. The first read of a table version runs
    * Spark's own inference, exactly as `spark.read.parquet(path)`; a later
    * read of the same version in the same application passes the schema
    * that inference found. A missing path fails as `spark.read.parquet`
    * does, and a read that fails is not memoized. A path [[version]]
    * cannot fingerprint (not on the local file system) is inferred on
    * every read.
    */
  def read(s: SparkSession, path: String): DataFrame = {
    val key = (s.sparkContext.applicationId, path)
    // the version is taken before inference: a rewrite racing this read
    // leaves an entry that the next read finds stale, never a stale hit
    val v = version(path)
    schemas.get(key) match {
      case Some((`v`, schema)) => s.read.schema(schema).parquet(path)
      case _ =>
        val df = s.read.parquet(path)
        if (v != Absent) schemas.put(key, (v, df.schema))
        df
    }
  }

  /** Table-version fingerprint of the local path `path`: the SHA-256 of
    * every file's (relative name, size, mtime), sorted, each field ended by
    * a NUL (which no file name holds), so distinct listings give distinct
    * versions. Spark part files carry a fresh task UUID in their name on
    * every write, so two rewrites differ even when they land in the same
    * mtime tick with equal byte totals. The local-FS stand-in for a table
    * format's snapshot id; it keys this reader's schemas, the
    * [[graft.operators.Codebooks]] memo and the q21/q60 shared edge set.
    */
  def version(path: String): String = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Absent
    else {
      val files = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      val st = Files.walk(p)
      try st.forEach { f =>
        if (Files.isRegularFile(f)) files += ((p.relativize(f).toString,
          Files.size(f), Files.getLastModifiedTime(f).toMillis))
      } finally st.close()
      val md = MessageDigest.getInstance("SHA-256")
      files.sorted.foreach { case (name, size, mtime) =>
        md.update(s"$name\u0000$size\u0000$mtime\u0000".getBytes(UTF_8))
      }
      java.util.HexFormat.of.formatHex(md.digest())
    }
  }
}
