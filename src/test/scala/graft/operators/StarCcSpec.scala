package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.util.Pretty

/** q60's connected components: alternating large-star/small-star
  * (O(log n) rounds whatever a component's diameter) with a star-forest
  * stop test. Ground truth is a driver-side union-find, on a seeded
  * random graph and on generated graphs of every component shape; a
  * near-duplicate chain checks the labels through `dupClusters` itself.
  */
class StarCcSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("star-cc-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def df(nodes: Seq[Long], edges: Seq[(Long, Long)]) = {
    import spark.implicits._
    (nodes.toDF("doc_id"), edges.toDF("doc_a", "doc_b"))
  }

  private def unionFind(nodes: Seq[Long],
      edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x
      else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.map(n => n -> find(n)).toMap
  }

  private def labelsOf(
      out: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("star labels equal a driver-side union-find on a seeded random " +
    "graph (mixed cliques, chains, singletons)") {
    val rnd = new scala.util.Random(42)
    val nodes = (0L until 300L)
    val edges = Seq.tabulate(250)(_ =>
      (rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter { case (a, b) => a != b }
    val (n, e) = df(nodes, edges)
    val truth = unionFind(nodes, edges)
    assert(labelsOf(DedupQueries.starLabels(n, e)) == truth)
  }

  /** One component of a generated graph: its shape and node count. */
  private val genComponent: Gen[(String, Int)] = Gen.oneOf(
    Gen.const("singleton" -> 1),
    Gen.choose(2, 6).map("clique" -> _),
    Gen.choose(2, 12).map("star" -> _),
    Gen.choose(2, 64).map("chain" -> _))

  private def edgesOf(shape: String,
      ns: IndexedSeq[Long]): Seq[(Long, Long)] = shape match {
    case "singleton" => Nil
    case "clique" =>
      for (i <- ns.indices; j <- i + 1 until ns.size) yield ns(i) -> ns(j)
    case "star" => ns.tail.map(ns.head -> _)
    case "chain" => ns.indices.tail.map(i => ns(i - 1) -> ns(i))
  }

  /** Graphs of ≤ 80 nodes on shuffled, gapped ids (so a component's
    * minimum sits anywhere in it), with reversed, duplicated and
    * self-loop edges mixed in; one case in five has no edges at all.
    */
  private val genGraph: Gen[(Seq[Long], Seq[(Long, Long)])] = {
    val edgeless = Gen.choose(0, 6).map(n => ((0L until n).map(_ * 5), Nil))
    val shaped = for {
      k <- Gen.choose(1, 6)
      comps <- Gen.listOfN(k, genComponent)
      seed <- Gen.long
    } yield {
      val rnd = new scala.util.Random(seed)
      val kept = comps.scanLeft(0)(_ + _._2).tail.zip(comps)
        .takeWhile(_._1 <= 80).map(_._2)
      val offsets = kept.scanLeft(0)(_ + _._2)
      val ids = rnd.shuffle((0 until offsets.last)
        .map(i => i * 3L + rnd.nextInt(3))).toIndexedSeq
      val edges = kept.zip(offsets).flatMap { case ((shape, n), at) =>
        edgesOf(shape, ids.slice(at, at + n))
      }.map { case (a, b) => if (rnd.nextBoolean()) (b, a) else (a, b) }
      val dups = edges.filter(_ => rnd.nextInt(4) == 0)
      val loops = ids.filter(_ => rnd.nextInt(8) == 0).map(n => n -> n)
      (ids, rnd.shuffle(edges ++ dups ++ loops))
    }
    Gen.frequency(1 -> edgeless, 4 -> shaped)
  }

  test("property: star labels equal a driver-side union-find on generated " +
    "graphs (empty edge sets, self-loops, duplicate and reversed edges, " +
    "singletons, cliques, stars, chains up to 64 nodes)") {
    val seen = scala.collection.mutable.Set.empty[String]
    val prop = Prop.forAllNoShrink(genGraph) { case (nodes, edges) =>
      if (edges.isEmpty) seen += "no edges"
      if (edges.exists { case (a, b) => a == b }) seen += "self-loop"
      if (edges.size > edges.distinct.size) seen += "duplicate"
      val (n, e) = df(nodes, edges)
      labelsOf(DedupQueries.starLabels(n, e)) == unionFind(nodes, edges)
    }
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(20).withWorkers(1).withInitialSeed(8L), prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(2)))
    assert(seen == Set("no edges", "self-loop", "duplicate"),
      "the generator must reach every edge-set quirk")
  }

  test("q60 labels a 41-document near-duplicate chain (diameter 40) with " +
    "the chain minimum through dupClusters") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("dupchain").toString
    // doc i holds words 10i … 10i+19: neighbours share 8 of 18 word
    // 3-shingles (Jaccard 8/28 ≥ 15%), docs two apart share none
    val n = 41
    (0 until n).map { i =>
      val text = (10 * i until 10 * i + 20).map(w => s"w$w").mkString(" ")
      (i.toLong, text, "en", "src1", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val pairs = DedupQueries.jaccardPairs(spark, d)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.sorted.toSeq == (0L until n - 1L).map(i => (i, i + 1)),
      "the fixture must be exactly a chain")
    val out = DedupQueries.dupClusters(spark, d).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster"),
        r.getAs[Long]("cluster_size"), r.getAs[Long]("is_representative")))
    assert(out.toSeq == (0L until n).map(i =>
      (i, 0L, n.toLong, if (i == 0) 1L else 0L)))
  }

  test("the q21/q60 shared pair set is materialized once per (session, " +
    "table version): the second call returns the cached checkpoint, a " +
    "rewritten table re-derives") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("edgecache-fix").toString
    def write(texts: Seq[String]): Unit =
      texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "src1", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$d/documents.parquet")

    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    write(Seq(base, base, "something else entirely here"))
    val first = DedupQueries.jaccardPairs(spark, d)
    assert(first eq DedupQueries.jaccardPairs(spark, d),
      "same table version must hit the cache")
    assert(first.count() == 1) // the (0,1) dup pair

    // no sleep needed: the fingerprint hashes per-file (name, size,
    // mtime) and Spark part-file names carry fresh task UUIDs, so a
    // rewrite within the same mtime tick still changes the version
    write(Seq(base, base, base, "something else entirely here"))
    val second = DedupQueries.jaccardPairs(spark, d)
    assert(!(second eq first), "rewritten table must re-derive")
    assert(second.count() == 3) // (0,1) (0,2) (1,2)
  }
}
