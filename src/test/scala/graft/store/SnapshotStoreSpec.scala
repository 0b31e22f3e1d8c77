package graft.store

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

/** Commit-protocol guarantees: atomic manifest, HEAD only moves on full
  * commit, orphaned data from a crashed commit is invisible to readers,
  * concurrent table writes each tagged with their table and joined before
  * the manifest.
  */
class SnapshotStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]").appName("store-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("commit chain: ids increment, parents link, tables readable") {
    import spark.implicits._
    val root = Files.createTempDirectory("store-spec").toString
    val store = new SnapshotStore(root, spark)
    assert(store.head.isEmpty)
    val s0 = store.commit(0, Map("t" -> Seq(1, 2, 3).toDF("x")),
      Map("rows" -> 3L))
    val s1 = store.commit(1, Map("t" -> Seq(4).toDF("x")), Map("rows" -> 1L))
    assert(s0.id == 0 && s1.id == 1 && s1.parent == 0)
    assert(store.head.get.id == 1)
    assert(store.table(s0, "t").get.count() == 3)
    assert(store.table(s1, "t").get.count() == 1)
    assert(store.readManifest(1).metrics("rows") == 1L)
    assert(store.snapshots == Seq(0L, 1L))
  }

  test("crash between data write and manifest commit leaves HEAD at the " +
    "parent; a new store over the same root resumes cleanly") {
    import spark.implicits._
    val root = Files.createTempDirectory("store-crash").toString
    val store = new SnapshotStore(root, spark)
    store.commit(0, Map("t" -> Seq(1).toDF("x")), Map.empty)
    // simulate a crash mid-commit: data dir written, NO manifest, NO HEAD
    // move (this is exactly the state after step 1 of the protocol)
    Seq(9, 9).toDF("x").write.parquet(
      Paths.get(root, "data-000001", "t").toString)
    val store2 = new SnapshotStore(root, spark)
    assert(store2.head.get.id == 0, "orphaned data must be invisible")
    assert(store2.snapshots == Seq(0L))
    // next commit proceeds over the orphan (mode=overwrite) and wins
    val s1 = store2.commit(1, Map("t" -> Seq(7).toDF("x")), Map.empty)
    assert(s1.id == 1 && store2.head.get.id == 1)
    assert(store2.table(s1, "t").get.collect().map(_.getInt(0)).toSeq == Seq(7))
  }

  test("a write that fails while another is still running: commit waits " +
    "for the other, rethrows the failure, writes no manifest and leaves " +
    "HEAD at the parent") {
    import spark.implicits._
    val root = Files.createTempDirectory("store-fail").toString
    val store = new SnapshotStore(root, spark)
    store.commit(0, Map("t" -> Seq(1).toDF("x")), Map.empty)

    val pending = store.begin(1)
    val t0 = System.nanoTime()
    pending.write("slow", spark.range(0, 1, 1, 1)
      .map { x => Thread.sleep(1500); x }.toDF("x"))
    pending.write("bad", spark.range(0, 1, 1, 1)
      .map { x => if (x >= 0) throw new IllegalStateException("boom"); x }
      .toDF("x"))
    val err = intercept[Exception](pending.commit(_ => Map.empty))
    val waitedMs = (System.nanoTime() - t0) / 1000000L
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(_.toString.contains("boom")), err)
    // the failure surfaced only once the slow write had landed
    assert(waitedMs >= 1500, waitedMs)
    // the slow write published its one data file
    val slow = Paths.get(root, "data-000001", "slow")
    assert(scala.util.Using.resource(Files.list(slow))(_.iterator.asScala
      .map(_.getFileName.toString)
      .count(n => n.startsWith("part-") && n.endsWith(".parquet"))) == 1)
    assert(!Files.exists(Paths.get(root, "manifest-000001.json")))
    assert(store.head.get.id == 0 && store.snapshots == Seq(0L))

    val store2 = new SnapshotStore(root, spark)
    assert(store2.head.get.id == 0)
    val s1 = store2.commit(1, Map("t" -> Seq(7).toDF("x")), Map.empty)
    assert(s1.id == 1 && s1.parent == 0 && store2.head.get.id == 1)
    assert(store2.table(s1, "t").get.collect().map(_.getInt(0)).toSeq == Seq(7))
  }

  test("every job of a commit carries its table's description " +
    "`snapshot <id> <table>`") {
    val sc = spark.sparkContext
    val store = new SnapshotStore(
      Files.createTempDirectory("store-desc").toString, spark)
    // (description, tasks) of each job; a write of an n-partition range
    // runs one n-task job, so the task counts tie each job to its table
    val jobs = new ConcurrentLinkedQueue[(String, Int)]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add((Option(j.properties)
          .map(_.getProperty("spark.job.description")).orNull,
          j.stageInfos.map(_.numTasks).sum))
    }
    sc.addSparkListener(listener)
    val snap =
      try {
        val s = store.commit(0, Map("a" -> spark.range(0, 10, 1, 1).toDF(),
          "b" -> spark.range(0, 30, 1, 3).toDF()), Map.empty)
        org.apache.spark.graftshim.ListenerBridge.drain(sc)
        s
      } finally sc.removeSparkListener(listener)
    assert(jobs.asScala.toSeq.groupMapReduce(_._1)(_._2)(_ + _) ==
      Map("snapshot 0 a" -> 1, "snapshot 0 b" -> 3), jobs)
    assert(snap.metrics.keySet == Set("a_write_ms", "b_write_ms",
      "a_files", "b_files", "a_bytes", "b_bytes"))
    // file counts and bytes come from the write's task results
    assert(snap.metrics("a_files") == 1 && snap.metrics("b_files") == 3)
    Seq("a", "b").foreach { t =>
      assert(snap.metrics(s"${t}_bytes") ==
        snap.files(t).map(f => Files.size(Paths.get(f.path))).sum)
    }
    // the description stays on the write threads
    assert(sc.getLocalProperty("spark.job.description") == null)
  }

  test("torn manifest tmp file is ignored (only ATOMIC_MOVEd manifests " +
    "count)") {
    import spark.implicits._
    val root = Files.createTempDirectory("store-torn").toString
    val store = new SnapshotStore(root, spark)
    store.commit(0, Map("t" -> Seq(1).toDF("x")), Map.empty)
    Files.writeString(Paths.get(root, "manifest-1.json.tmp"), """{"id":1,""")
    val store2 = new SnapshotStore(root, spark)
    assert(store2.snapshots == Seq(0L))
    assert(store2.head.get.id == 0)
  }

  test("a store root holding a comma commits manifests that read back, " +
    "strings escaped") {
    import spark.implicits._
    val root = Files.createTempDirectory("store,comma").toString
    val store = new SnapshotStore(root, spark)
    val s0 = store.commit(0, Map("t" -> Seq(1, 2).toDF("x"),
      "u" -> Seq(3).toDF("x")), Map("a,b\"c}" -> 2L))
    val reopened = new SnapshotStore(root, spark)
    val back = reopened.head.get
    assert(back.tables == s0.tables && back.tables("t").contains(","))
    assert(back.metrics("a,b\"c}") == 2L)
    assert(reopened.table(back, "t").get.count() == 2)
    assert(back.files == s0.files && reopened.tableRowCount(back, "u") == 1)
  }

  test("forkless commits keep the modes and .crc checksums of a plain " +
    "file: write of the same frame") {
    import spark.implicits._
    val df = Seq(1, 2, 3, 4).toDF("x").repartition(2)
    val plain = Files.createTempDirectory("store-plain").resolve("t")
    df.write.parquet(plain.toString)
    val store = new SnapshotStore(
      Files.createTempDirectory("store-modes").toString, spark)
    val committed = Paths.get(store.commit(0, Map("t" -> df), Map.empty)
      .tables("t"))

    // relative name (the write's job uuid masked) -> rwx string, for every
    // file and directory under a table dir, the dir itself included
    def modes(dir: Path): Map[String, String] = {
      val walk = Files.walk(dir)
      try walk.iterator.asScala.map { f =>
        dir.relativize(f).toString
          .replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>") ->
          PosixFilePermissions.toString(Files.getPosixFilePermissions(f))
      }.toMap
      finally walk.close()
    }
    // the store's writer publishes data files without Hadoop's job commit,
    // so the one difference is the plain write's _SUCCESS marker
    val marker = Set("_SUCCESS", "._SUCCESS.crc")
    val got = modes(committed)
    val plainModes = modes(plain)
    assert(marker.subsetOf(plainModes.keySet))
    assert(got == plainModes -- marker)
    assert(got.keys.count(_.endsWith(".parquet")) == 2)
    assert(got.keys.count(_.endsWith(".parquet.crc")) == 2)

    // the raw layer applies the mode it is given, not the process umask's
    // default, and a sticky-bit mode still lands through Hadoop's own call
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(s"${ForklessLocalFileSystem.Scheme}:///"),
      spark.sparkContext.hadoopConfiguration)
    def unixMode(p: Path) =
      Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
    def chmod(p: Path, mode: Short): Int = {
      fs.setPermission(new org.apache.hadoop.fs.Path(
        s"${ForklessLocalFileSystem.Scheme}:$p"),
        new org.apache.hadoop.fs.permission.FsPermission(mode))
      unixMode(p)
    }
    val file = committed.toFile.listFiles
      .find(_.getName.endsWith(".parquet")).get.toPath
    assert(chmod(file, 0x1a0.toShort) == 0x1a0) // 0640
    assert(chmod(committed, 0x1c0.toShort) == 0x1c0) // 0700
    assert(chmod(committed, 0x3ff.toShort) == 0x3ff) // 01777
  }
}
