package graft.store

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.{Success, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Snapshot writes under task failures: a session that retries each task
  * once (`local[2,2]`), attempts that fail mid-write or after their file
  * is closed, and a write over an orphaned table directory. Whatever
  * failed, the committed table holds every row exactly once, and its
  * directory and its manifest entry hold exactly the published files.
  */
class TableWriterFailureSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2,2]").appName("table-writer-failure-spec")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val Rows = 0L until 200L

  /** `Rows` in 2 partitions of 100, where partition 1's first attempt
    * runs `fail` on each row and its task context.
    */
  private def frame(fail: (Long, TaskContext) => Unit): DataFrame = {
    import spark.implicits._
    spark.range(0, Rows.size, 1, 2).as[Long].map { x =>
      val ctx = TaskContext.get()
      if (ctx.partitionId() == 1 && ctx.attemptNumber() == 0) fail(x, ctx)
      x
    }.toDF("x")
  }

  /** Failed task attempts while `body` runs. */
  private def failedTasks(body: => Unit): Int = {
    val sc = spark.sparkContext
    val failed = new AtomicInteger
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.reason != Success) failed.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.graftshim.ListenerBridge.drain(sc)
    } finally sc.removeSparkListener(listener)
    failed.get
  }

  /** The committed table `t` of `snap` holds `Rows` once, read back, and
    * its directory holds exactly the files its manifest lists.
    */
  private def assertCommitted(store: SnapshotStore)(snap: store.Snapshot)
      : Unit = {
    import spark.implicits._
    assert(store.table(snap, "t").get.as[Long].collect().sorted.toSeq == Rows)
    val files = snap.files("t")
    assert(SnapshotStore.rowCount(files) == Rows.size)
    assert(store.readManifest(snap.id).files == snap.files)
    val dir = Paths.get(snap.tables("t"))
    val names = scala.util.Using.resource(Files.list(dir))(
      _.iterator.asScala.map(_.getFileName.toString).toList)
    assert(!names.exists(_.startsWith("_")), names)
    assert(names.filterNot(_.startsWith(".")).map(dir.resolve(_).toString)
      .toSet == files.map(_.path).toSet, names)
    files.foreach(f => assert(Files.size(Paths.get(f.path)) == f.bytes, f))
    assert(snap.metrics("t_files") == files.size &&
      snap.metrics("t_bytes") == files.map(_.bytes).sum)
  }

  test("an attempt that throws mid-write is retried; its partial file is " +
    "never published") {
    val store = new SnapshotStore(
      Files.createTempDirectory("writer-fail-mid").toString, spark)
    var snap: store.Snapshot = null
    val failed = failedTasks {
      snap = store.commit(0, Map("t" -> frame { (x, _) =>
        if (x == 150L) throw new IllegalStateException("mid-write")
      }), Map.empty)
    }
    assert(failed == 1)
    assertCommitted(store)(snap)
    assert(snap.files("t").map(_.partition) == Seq(0, 1))
  }

  test("an attempt that fails after closing its file (a task-completion " +
    "listener throws) is retried; only the retry's file is published") {
    val store = new SnapshotStore(
      Files.createTempDirectory("writer-fail-closed").toString, spark)
    var snap: store.Snapshot = null
    val failed = failedTasks {
      snap = store.commit(0, Map("t" -> frame { (x, ctx) =>
        if (x == 100L) ctx.addTaskCompletionListener[Unit] { _ =>
          throw new IllegalStateException("after close")
        }
      }), Map.empty)
    }
    assert(failed == 1)
    assertCommitted(store)(snap)
  }

  test("a write into an orphaned table directory replaces it") {
    import spark.implicits._
    val root = Files.createTempDirectory("writer-orphan")
    val orphan = root.resolve("data-000000").resolve("t")
    // a crashed commit's leftovers: a published-looking table and a stray
    // attempt file
    Seq(9L, 9L).toDF("x").write.parquet(orphan.toString)
    Files.writeString(orphan.resolve("_0-part-00003-stray.snappy.parquet"), "x")
    val store = new SnapshotStore(root.toString, spark)
    assertCommitted(store)(
      store.commit(0, Map("t" -> frame((_, _) => ())), Map.empty))
  }
}
