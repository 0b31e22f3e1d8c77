package graft.store

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.graftshim.ListenerBridge
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.CoreQueries

/** The memoized Parquet reader: a table version's schema is inferred once
  * per session (later reads start no job), a rewrite is read with its new
  * schema, failures stay Spark's own, and the memoized schema is the one
  * Spark infers.
  */
class TableReaderSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]").appName("table-reader-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val bundled = Paths.get("perfbench/data/sf0.001")

  /** Spark jobs started while `body` runs (events drained on both sides). */
  private def jobsIn[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      ListenerBridge.drain(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def writeFile(p: Path, bytes: Int, mtime: Long): Unit = {
    Files.write(p, Array.fill[Byte](bytes)(7))
    Files.setLastModifiedTime(p, FileTime.fromMillis(mtime))
  }

  test("tableVersion separates listings whose String.hashCode collides: " +
    "a part file named Aa… against BB… with equal size and mtime") {
    assert("Aa-part".hashCode == "BB-part".hashCode)
    val dir = Files.createTempDirectory("reader-collide")
    val table = Files.createDirectory(dir.resolve("x.parquet"))
    writeFile(table.resolve("Aa-part"), 10, 1700000000000L)
    val before = CoreQueries.tableVersion(dir.toString, "x")
    Files.delete(table.resolve("Aa-part"))
    writeFile(table.resolve("BB-part"), 10, 1700000000000L)
    assert(CoreQueries.tableVersion(dir.toString, "x") != before)
  }

  test("the second read of an unchanged table starts no Spark job") {
    import spark.implicits._
    val dir = Files.createTempDirectory("reader-jobs").toString
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    val (_, first) = jobsIn(CoreQueries.t(spark, dir, "t"))
    val (df, second) = jobsIn(CoreQueries.t(spark, dir, "t"))
    assert(first == 1, "the first read infers the schema with one job")
    assert(second == 0, s"the second read started $second jobs")
    assert(df.collect().map(r => (r.getInt(0), r.getString(1))).sorted.toSeq ==
      Seq((1, "a"), (2, "b")))
  }

  test("a rewrite at the same path that adds a column is read with it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("reader-rewrite").toString
    val path = s"$dir/t.parquet"
    Seq((1, "a")).toDF("k", "v").write.parquet(path)
    assert(CoreQueries.t(spark, dir, "t").columns.toSeq == Seq("k", "v"))
    assert(CoreQueries.t(spark, dir, "t").columns.toSeq == Seq("k", "v"))
    Seq((2, "b", 3.5)).toDF("k", "v", "w").write.mode("overwrite").parquet(path)
    val df = CoreQueries.t(spark, dir, "t")
    assert(df.columns.toSeq == Seq("k", "v", "w"))
    assert(df.collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
      .toSeq == Seq((2, "b", 3.5)))
  }

  test("a missing path fails as spark.read.parquet does, every time, and " +
    "reads once it exists") {
    import spark.implicits._
    val dir = Files.createTempDirectory("reader-missing").toString
    val path = s"$dir/t.parquet"
    val expected = intercept[Exception](spark.read.parquet(path))
    (1 to 2).foreach { _ =>
      val got = intercept[Exception](TableReader.read(spark, path))
      assert(got.getClass == expected.getClass)
      assert(got.getMessage == expected.getMessage)
    }
    Seq(4).toDF("k").write.parquet(path)
    assert(TableReader.read(spark, path).collect().map(_.getInt(0)).toSeq == Seq(4))
  }

  /** A memoized read of every table in `sfDir` against a plain inferred
    * read: no job, equal schema and equal rows.
    */
  private def assertMemoizedEqualsInferred(sfDir: Path): Unit = {
    val tables = Files.list(sfDir)
    val paths = try tables.toArray.map(_.toString).filter(_.endsWith(".parquet"))
      .sorted.toSeq finally tables.close()
    assert(paths.size == 10, paths)
    paths.foreach { p =>
      TableReader.read(spark, p)
      val (memo, jobs) = jobsIn(TableReader.read(spark, p))
      val plain: DataFrame = spark.read.parquet(p)
      assert(jobs == 0, s"$p: memoized read started $jobs jobs")
      assert(memo.schema == plain.schema, p)
      // Spark's own row comparison, under which NaN lanes are equal
      assert(memo.exceptAll(plain).isEmpty && plain.exceptAll(memo).isEmpty, p)
    }
  }

  test("the memoized schema is Spark's inferred schema for every bundled " +
    "sf0.001 table") {
    assertMemoizedEqualsInferred(bundled)
  }

  test("the memoized schema is Spark's inferred schema for every table " +
    "of the dirty copy (tools/make_dirty_table.py)") {
    val out = Files.createTempDirectory("reader-dirty").resolve("sfdirty")
    val cmd = Seq("python3", "tools/make_dirty_table.py", bundled.toString,
      out.toString)
    assert(scala.sys.process.Process(cmd).! == 0, cmd.mkString(" "))
    assertMemoizedEqualsInferred(out)
  }
}
