package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.extract.Compat
import graft.functions.GraftExtensions

/** Salted aggregation equivalence + reference-bug compat fixtures. */
class SkewCompatSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").appName("skew-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("salted two-phase aggregation == direct aggregation (hot-key-safe)") {
    import spark.implicits._
    // zipf-ish: host h0 owns ~60% of rows (the hot-host shape)
    val rows = (1 to 10000).map { i =>
      val host = if (i % 5 != 0) "h0" else s"h${i % 37}"
      (host, s"https://$host/p$i", (i % 13).toLong)
    }
    val df = rows.toDF("host", "url", "bytes")
    val direct = df.groupBy(col("host").as("key"))
      .agg(count(lit(1)).as("n"), sum("bytes").as("b"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val salted = Skew.saltedAgg(df, col("host"), col("url"), 16,
      Seq("n" -> count(lit(1)), "b" -> sum("bytes")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == direct)
  }

  test("salt is deterministic — same input, same partial split") {
    import spark.implicits._
    val df = (1 to 100).map(i => ("k", s"u$i", 1L)).toDF("host", "url", "v")
    val a = Skew.saltedAgg(df, col("host"), col("url"), 8,
      Seq("n" -> count(lit(1)))).collect()(0).getLong(1)
    val b = Skew.saltedAgg(df, col("host"), col("url"), 8,
      Seq("n" -> count(lit(1)))).collect()(0).getLong(1)
    assert(a == 100L && b == 100L)
  }

  test("GraftExtensions.install registers SQL functions on a plain session") {
    // one sample call per entry of the function table: each must resolve,
    // and give the same value, on an installed plain session and on a
    // session built with the extensions
    val vec = "transform(sequence(1, 64), i -> CAST(i % 7 - 3 AS FLOAT))"
    val text = "'The quick brown fox jumps over the lazy dog again'"
    val samples = Map(
      "url_canon" -> "'HTTP://E.org:80/a%2fb'",
      "url_hash64" -> "'https://A.example.org/x/../y'",
      "url_path" -> "'https://a.org/p/q?x=1'",
      "word_shingles" -> s"$text, 2",
      "minhash_bands" -> s"word_shingles($text), 16, 4",
      "word_grams" -> s"$text, 2",
      "gopher_stats" -> text,
      "simhash64" -> text,
      "cosine_e4" -> s"$vec, reverse($vec)",
      "rhp_sig64" -> s"$vec, 12",
      "pq_codes" -> vec,
      "pq_cos_e4" -> s"pq_codes($vec), $vec",
      "clean_title" -> "'CVPR 2019 Foo'",
      "search_variants" -> "'a b c d e'",
      "atom_first_id" -> ("'<feed><entry><id>http://arxiv.org/abs/2401.00001v2" +
        "</id></entry></feed>'"))
    val names = GraftExtensions.functions.map(_.name)
    names.foreach(n => assert(samples.contains(n), s"$n: no sample call"))
    val query = names.map(n => s"$n(${samples(n)}) AS $n")
      .mkString("SELECT ", ", ", "")

    GraftExtensions.install(spark)
    val installed = spark.sql(query).collect()(0)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val extended = try SparkSession.builder()
      .withExtensions(new GraftExtensions).getOrCreate()
      .sql(query).collect()(0)
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
    names.foreach(n =>
      assert(installed.getAs[Any](n) == extended.getAs[Any](n), n))

    assert(installed.getAs[Long]("url_hash64") == graft.crawl.CrawlLoop.hash64(
      graft.url.UrlCanon.canonicalize("https://A.example.org/x/../y")))
    assert(installed.getAs[String]("url_canon") ==
      graft.url.UrlCanon.canonicalize("HTTP://E.org:80/a%2fb"))
  }

  test("compat bug 1 (search_pdf.py:64): strict stride is 201*i") {
    assert(Compat.pageStartOffsets(4, strictCompat = true) ==
      Vector(0L, 201L, 402L, 603L))
    assert(Compat.pageStartOffsets(4, strictCompat = false) ==
      Vector(0L, 200L, 400L, 600L))
  }

  test("compat bug 4 (new.py:79-82): strict counts file leads with \\n") {
    val rows = Seq("2024-01-01,2,1", "2024-01-02,0,3")
    assert(Compat.countsFileBody(rows, strictCompat = true) ==
      "\n2024-01-01,2,1\n2024-01-02,0,3")
    assert(Compat.countsFileBody(rows, strictCompat = false) ==
      "2024-01-01,2,1\n2024-01-02,0,3\n")
  }
}
