package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Semantic tests for the training-data operators on constructed corpora
  * with KNOWN duplicate structure (the driver testdata only gets rows-only
  * checks for the hash-based ops, so the real guarantees live here).
  */
class DedupSimilaritySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("dedup-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  lazy val dir: String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("dedup-fix").toString
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"word$i")
      .mkString(" ")
    val docs = Seq(
      (1L, base, "en", "src1", base.length.toLong),
      (2L, base, "en", "src1", base.length.toLong), // exact dup of 1
      (3L, nearDup, "en", "src2", nearDup.length.toLong), // near dup of 1
      (4L, "completely different tiny text", "en", "src2", 30L),
      (5L, "another unrelated document body here entirely", "en", "src3", 45L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$d/documents.parquet")

    def vec(f: Int => Float): Seq[Float] = (0 until 64).map(f)
    val embs = Seq(
      (0L, vec(i => i.toFloat + 1), 0), // query
      (1L, vec(i => (i.toFloat + 1) * 2), 0), // same direction: cos = 1
      (2L, vec(i => if (i == 0) 1f else 0f), 0), // ~orthogonal-ish
      (3L, vec(i => -(i.toFloat + 1)), 1), // opposite: cos = -1
      (4L, vec(i => i.toFloat + 2), 1) // close to query direction
    ).toDF("vec_id", "embedding", "label")
    embs.write.parquet(s"$d/embeddings.parquet")
    d
  }

  test("exact dedup groups identical texts under the min doc_id") {
    val rows = DedupQueries.exactDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.contains((1L, 2L))) // docs 1+2 collapse to keep_doc=1
    assert(rows.count(_._2 == 1L) == 3)
  }

  test("ngram jaccard finds the planted near-dup pair (1,3) and (2,3), " +
    "not the unrelated docs") {
    val rows = DedupQueries.ngramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pairs = rows.map(t => (t._1, t._2)).toSet
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // one word changed in 40 ⇒ 3-gram jaccard = (38-3)/(38+3) ≈ 85%
    val j13 = rows.find(t => t._1 == 1L && t._2 == 3L).get._3
    assert(j13 >= 80 && j13 < 100, s"jaccard=$j13")
  }

  test("minhash LSH recalls all pairs with true jaccard ≥ its threshold " +
    "(including the exact dup at jaccard 100)") {
    val truth = DedupQueries.ngramJaccard(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val lsh = DedupQueries.minhashLsh(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(lsh.contains((1L, 2L)) && lsh((1L, 2L)) == 100L)
    truth.filter(_._2 >= 80).keys.foreach { p =>
      assert(lsh.contains(p), s"LSH missed high-jaccard pair $p")
    }
    // verification stage reports the same exact jaccard as the full join
    lsh.foreach { case (p, j) =>
      assert(truth.getOrElse(p, 100L) == j)
    }
  }

  test("simhash: identical docs collide (hamming 0); near-dup within 3") {
    val rows = DedupQueries.simhashPairs(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(rows((1L, 2L)) == 0)
    assert(rows.get((1L, 3L)).forall(_ <= 3))
    assert(!rows.contains((4L, 5L)))
  }

  test("ANN brute force: same-direction vector ranks first with cos 1") {
    val rows = SimilarityQueries.annBruteForce(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.head._1 == 1L)
    assert(rows.head._2 >= 9999L) // cos(q, 2q) == 1
    val byId = rows.toMap
    assert(byId(3L) <= -9999L) // opposite direction
  }

  test("ANN LSH: identical-direction vector shares the query bucket and " +
    "is retrieved; scores agree with brute force") {
    val brute = SimilarityQueries.annBruteForce(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val lsh = SimilarityQueries.annLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(lsh.map(_._1).contains(1L))
    lsh.foreach { case (id, cos) => assert(brute(id) == cos) }
  }

  test("ANN IVF: identical-direction vector shares the query cell and is " +
    "retrieved; candidate scores agree with brute force exactly") {
    val brute = SimilarityQueries.annBruteForce(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val ivf = SimilarityQueries.annIvf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // vec 1 = 2×query → identical cosine to EVERY centroid → same cell
    // as the query → guaranteed probed and retrieved
    assert(ivf.map(_._1).contains(1L))
    ivf.foreach { case (id, cos) => assert(brute(id) == cos) }
  }

  test("ANN IVF recall on the real embeddings table: 12/32 trained probe " +
    "cells recover most of the brute-force top-10") {
    val real = "/root/testdata/sf0.001"
    val brute = SimilarityQueries.annBruteForce(spark, real).collect()
      .map(_.getLong(0)).toSet
    val ivf = SimilarityQueries.annIvf(spark, real).collect()
      .map(_.getLong(0)).toSet
    assert(ivf.size == 10)
    // deterministic table + deterministic Lloyd → deterministic recall
    // (measured 10/10 with the trained codebook vs 3/10 with the round-3
    // fixed demo centroids; asserted with headroom)
    assert((brute & ivf).size >= 7, s"recall dropped: ${brute & ivf}")
  }

  // per-query exact brute-force top-10 over the k-NN-join query slice —
  // the recall yardstick for both join variants (one plan: tiny broadcast
  // cross join at test scale; the OPERATORS never do this)
  private def knnBrute(real: String): Map[(Long, Long), Long] = {
    val emb = spark.read.parquet(s"$real/embeddings.parquet")
    val isQ = col("vec_id") % SimilarityQueries.KnnQueryMod === 0
    val qv = emb.filter(isQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    emb.filter(!isQ).crossJoin(broadcast(qv))
      .select(col("query_id"), col("vec_id"),
        SimilarityQueries.cosE4(col("embedding"), col("q")).as("cos_e4"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
  }

  private def topKOf(scores: Map[(Long, Long), Long], k: Int)
      : Map[Long, Set[Long]] =
    scores.groupBy(_._1._1).map { case (q, m) =>
      q -> m.toSeq.sortBy { case ((_, v), c) => (-c, v) }.take(k)
        .map(_._1._2).toSet
    }

  /** Shared k-NN-join scaffold (q64/q65/q69 return the same shape):
    * asserts 10 queries, contiguous per-query ranks, and every returned
    * score exact vs per-query brute force; returns (mean recall@10,
    * per-query recalls) for the variant-specific recall bar.
    */
  private def knnJoinChecked(df: org.apache.spark.sql.DataFrame,
      real: String): (Double, Seq[Int]) = {
    val knn = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byQuery = knn.groupBy(_._1)
    assert(byQuery.size == 10, s"expected 500/50 queries, got ${byQuery.size}")
    byQuery.foreach { case (q, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.length),
        s"ranks broken for $q")
    }
    val brute = knnBrute(real)
    knn.foreach { case (q, v, cos, _) =>
      assert(brute((q, v)) == cos, s"score drift for ($q,$v)")
    }
    val bruteTop = topKOf(brute, 10)
    val recalls = byQuery.toSeq.sortBy(_._1).map { case (q, rows) =>
      (bruteTop(q) & rows.map(_._2).toSet).size
    }
    (recalls.sum.toDouble / recalls.size, recalls)
  }

  test("k-NN JOIN (IVF) on the real table: 10 queries, each with exactly " +
    "k exact-scored neighbors; mean recall@10 vs per-query brute force " +
    "matches the single-query IVF path's bar") {
    val (mean, recalls) = knnJoinChecked(
      SimilarityQueries.knnJoinIvf(spark, "/root/testdata/sf0.001"),
      "/root/testdata/sf0.001")
    // deterministic table + deterministic Lloyd → deterministic recall;
    // single-query annIvf measures 10/10 on this table, the 10-query mean
    // is pinned with the same headroom as that test (≥ 7/10)
    assert(mean >= 7.0, s"mean recall dropped: $mean ($recalls)")
  }

  test("k-NN JOIN (LSH) on the real table: exact scores, bounded probes — " +
    "lower recall than IVF on isotropic data is the expected tradeoff, " +
    "but the planted-structure guarantee (hamming-1 probe set) holds") {
    val (mean, recalls) = knnJoinChecked(
      SimilarityQueries.knnJoinLsh(spark, "/root/testdata/sf0.001"),
      "/root/testdata/sf0.001")
    // measured 0.8 on the deterministic table (random hyperplanes over
    // ISOTROPIC vectors probe 9/256 buckets ≈ 3.5% of the corpus — recall
    // ∝ probe fraction when there is no cluster structure, which is why
    // q64's data-adaptive IVF cells are the default); pinned with headroom
    assert(mean >= 0.5, s"mean recall dropped: $mean ($recalls)")
  }

  test("k-NN JOIN (IVF-PQ) on the real table: the composed index — " +
    "probe cells bound candidates, ADC codes bound the shortlist scan, " +
    "exact rerank — returns exact scores with recall near the pure-IVF " +
    "join (the ADC cut costs a little, bounded reads buy it)") {
    val (mean, recalls) = knnJoinChecked(
      SimilarityQueries.knnJoinIvfPq(spark, "/root/testdata/sf0.001"),
      "/root/testdata/sf0.001")
    // deterministic; pinned with headroom below the measured value —
    // must stay within 2 of the pure-IVF join's bar (ADC cut cost)
    assert(mean >= 5.0, s"mean recall dropped: $mean ($recalls)")
  }

  test("k-NN JOIN (brute) on the real table: the exact baseline — output " +
    "IS the per-query ground truth (recall ≡ 10/10 by construction), " +
    "which is what the indexed variants' recall bars measure against") {
    val (mean, recalls) = knnJoinChecked(
      SimilarityQueries.knnJoinBrute(spark, "/root/testdata/sf0.001"),
      "/root/testdata/sf0.001")
    assert(mean == 10.0, s"brute k-NN join is not exact: $mean ($recalls)")
  }

  test("k-NN joins drop an invalid query vector: a 3-lane query shares " +
    "LSH bucket 0 with a 3-lane corpus vector, yet no join answers it") {
    import spark.implicits._
    val real = "/root/testdata/sf0.001"
    val d = java.nio.file.Files.createTempDirectory("knn-ragged")
    try {
      val emb = spark.read.parquet(s"$real/embeddings.parquet")
      val ragged = Seq((1000L, Seq(1f, 2f, 3f)), (1001L, Seq(1f, 2f, 4f)))
        .toDF("vec_id", "embedding")
        .select(emb.columns.map {
          case c @ ("vec_id" | "embedding") => col(c)
          case c => lit(null).cast(emb.schema(c).dataType).as(c)
        }: _*)
      emb.unionByName(ragged).write.parquet(s"$d/embeddings.parquet")
      Seq(SimilarityQueries.knnJoinIvf _, SimilarityQueries.knnJoinLsh _,
          SimilarityQueries.knnJoinIvfPq _, SimilarityQueries.knnJoinBrute _)
        .foreach { q =>
          val ids = q(spark, d.toString).collect().map(_.getLong(0)).toSet
          assert(!ids.contains(1000L), s"invalid query 1000 answered: $ids")
          assert(ids.size == 10)
        }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
  }

  test("ANN PQ on the real embeddings table: top-100 ADC candidates exact-" +
    "reranked recover most of the brute top-10; rerank scores are exact") {
    val real = "/root/testdata/sf0.001"
    val brute = SimilarityQueries.annBruteForce(spark, real).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val bruteMap = brute.toMap
    val pq = SimilarityQueries.annPq(spark, real).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(pq.length == 10)
    // exact rerank: every retrieved id's cos_e4 equals the brute score
    // (brute covers the whole corpus, so recompute for ids outside its
    // top-10 via the fixture-free check below)
    val bruteTop = brute.map(_._1).toSet
    // measured 8/10 with the trained codebook + depth-100 rerank
    // (vs 3/10 with the round-3 demo codebook at depth 20)
    assert((bruteTop & pq.map(_._1).toSet).size >= 6,
      s"recall dropped: ${bruteTop & pq.map(_._1).toSet}")
    pq.filter(p => bruteMap.contains(p._1)).foreach { case (id, cos) =>
      assert(bruteMap(id) == cos, s"rerank score drift for vec $id")
    }
  }

  test("embedding near-dup is blocked by label: cross-label pairs never " +
    "appear even at cosine 1") {
    val rows = SimilarityQueries.embedNearDup(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // (0,1) same label, cos=1 → present; (0,4) cross-label cos≈1 → absent
    assert(rows.exists(t => t._2 == 0L && t._3 == 1L && t._4 >= 9999L))
    assert(!rows.exists(t => t._2 == 0L && t._3 == 4L))
  }

  test("dup-span coverage: exact dups are fully covered, the planted " +
    "near-dup is covered except the window around its changed word, " +
    "unrelated docs are untouched") {
    val rows = DedupQueries.dupSpanCoverage(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(rows(1L) == ((40L, 40L, 100L)))
    assert(rows(2L) == ((40L, 40L, 100L)))
    // doc 3 differs from 1/2 only at 0-based position 19: shared 8-token
    // spans p ≤ 11 cover 0..18 and p ≥ 20 cover 20..39 → 39 of 40
    assert(rows(3L) == ((40L, 39L, 97L)))
    assert(rows(4L)._2 == 0L && rows(4L)._3 == 0L)
    assert(rows(5L)._2 == 0L)
  }

  test("span coverage on a seeded random corpus with planted copies and " +
    "mutations matches a brute-force recomputation exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector.tabulate(40)(i => s"w$i")
    val base = (1 to 60).map { _ =>
      val n = 3 + rnd.nextInt(30)
      (1 to n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    // copies create full-overlap spans; mid-word mutations create the
    // partial-coverage window geometry the fixture test pins by hand
    val texts = base ++ base.take(15) ++ base.slice(15, 25).map { t =>
      val ws = t.split(" "); ws(ws.length / 2) = "MUT"; ws.mkString(" ")
    }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val got = DedupQueries.spanCoverage(docs.toDF("doc_id", "text"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val n = DedupQueries.SpanN
    def toks(t: String) =
      t.toLowerCase(java.util.Locale.ROOT).split("\\s+").toVector
    val grams = docs.map { case (id, t) =>
      val ws = toks(t)
      id -> (if (ws.length < n) Vector.empty
             else (0 to ws.length - n)
               .map(p => (p, ws.slice(p, p + n).mkString(" "))).toVector)
    }.toMap
    val gramDocs = grams.toSeq
      .flatMap { case (id, gs) => gs.map { case (_, g) => (g, id) } }
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).distinct.size }
    var anyCovered = false
    docs.foreach { case (id, t) =>
      val nt = toks(t).length.toLong
      val cov = grams(id)
        .collect { case (p, g) if gramDocs(g) >= 2 => p until (p + n) }
        .flatten.distinct.size.toLong
      if (cov > 0) anyCovered = true
      assert(got(id) == ((nt, cov, math.floor(cov * 100.0 / nt).toLong)),
        s"doc $id")
    }
    assert(anyCovered) // the planted copies guarantee a non-trivial check
  }

  test("semantic dedup on a seeded random embedding table (planted " +
    "same-direction dups) matches brute force exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def v(): Seq[Float] = Seq.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)
    val base = (0 until 60).map(i => (i.toLong, v(), i % 4))
    val planted = (0 until 20).map { i =>
      val (_, e, l) = base(rnd.nextInt(60))
      ((60 + i).toLong, e.map(x => x * 1.5f), l) // same direction: cos ≈ 1
    }
    val d = java.nio.file.Files.createTempDirectory("semdedup-rand").toString
    (base ++ planted).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"),
        SimilarityQueries.ivfCell(col("embedding"), Codebooks.ivf(spark, d))
          .as("cell"),
        col("embedding"))
      .as[(Long, Int, Seq[Float])].collect().sortBy(_._1)
    val drop = (for {
      (a, ca, ea) <- emb; (b, cb, eb) <- emb
      if a < b && ca == cb &&
        cosE4Ref(ea, eb) >= SimilarityQueries.SemDedupTau
    } yield b).toSet
    assert(drop.nonEmpty) // the planted duplicates guarantee drops
    val got = SimilarityQueries.semDedup(spark, d).collect()
      .map(_.getLong(0)).toSet
    assert(got == emb.map(_._1).toSet -- drop)
  }

  test("pii scrub: counts and redaction on tricky shapes; idempotent on " +
    "already-redacted text; the q54 injection yields 2 emails + 1 ip") {
    import spark.implicits._
    val texts = Seq(
      "a@b.co x 1.2.3.4 end", // minimal email + ip
      "user.name+tag%x@my-host.org and 999.999.999.999", // regex doesn't range-check
      "not-an-ip 1.2.3 nor 1234.5.6.7 nor email@nodot", // near-misses stay
      "two a@b.io b@c.io ips 10.0.0.1 10.0.0.2",
      "a@b.co@c.io chained", // adjacency edge: bare @domain remnant stays
      "ip-as-local-part 1.2.3.4@x.com here") // email pass consumes the ip
    // counts exactly as q54 computes them: emails on the raw text, ips on
    // the email-scrubbed intermediate (counts == redactions performed)
    val noEmail = regexp_replace(col("t"), TextQueries.EmailRe, "<EMAIL>")
    val rows = texts.toDF("t")
      .select(col("t"), TextQueries.scrubbed(col("t")).as("r"),
        regexp_count(col("t"), lit(TextQueries.EmailRe)).cast("int").as("ne"),
        regexp_count(noEmail, lit(TextQueries.Ipv4Re)).cast("int").as("ni"),
        TextQueries.scrubbed(TextQueries.scrubbed(col("t"))).as("rr"))
      .collect()
    val byText = rows.map(r => r.getString(0) ->
      ((r.getString(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    assert(byText(texts(0)) ==
      (("<EMAIL> x <IP> end", 1, 1, "<EMAIL> x <IP> end")))
    assert(byText(texts(1))._1 == "<EMAIL> and <IP>")
    assert(byText(texts(2)) == ((texts(2), 0, 0, texts(2))))
    assert(byText(texts(3)) == (("two <EMAIL> <EMAIL> ips <IP> <IP>", 2, 2,
      "two <EMAIL> <EMAIL> ips <IP> <IP>")))
    // chained address: leading email redacted, bare @domain remnant has
    // no local part so later passes cannot match it either
    assert(byText(texts(4)) == (("<EMAIL>@c.io chained", 1, 0,
      "<EMAIL>@c.io chained")))
    // IPv4 shape inside an email local part: one email redaction, zero
    // ip count (counted on the intermediate, where it is already gone)
    assert(byText(texts(5)) == (("ip-as-local-part <EMAIL> here", 1, 0,
      "ip-as-local-part <EMAIL> here")))
    rows.foreach(r => assert(r.getString(1) == r.getString(4), "not idempotent"))
    // the q54 query over the fixture: every doc gets exactly the injected
    // 2 emails + 1 ip (the fixture texts carry none of their own)
    val q = TextQueries.piiScrub(spark, dir).collect()
    assert(q.length == 5)
    q.foreach { r =>
      assert(r.getLong(1) == 2L && r.getLong(2) == 1L)
      val red = r.getString(3)
      assert(red.contains("<EMAIL> or <EMAIL>") && red.contains("via <IP> bye"))
      assert(!red.contains("@example.com"))
    }
  }

  test("domain mix: kept counts equal the exact per-row residue rule; " +
    "src0 (target 1000 permille) keeps everything") {
    import spark.implicits._
    val real = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$real/documents.parquet")
      .select("doc_id", "source").as[(Long, String)].collect()
    val expected = docs.groupBy(_._2).map { case (src, xs) =>
      val t = 1000L - src.drop(3).toLong * 45
      src -> ((xs.length.toLong,
        xs.count { case (id, _) =>
          java.lang.Math.floorMod(
            java.lang.Math.floorMod(id, TextQueries.ResidueReduceMod)
              * 2654435761L, 1000L) < t }.toLong, t))
    }
    val got = TextQueries.domainMix(spark, real).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == expected.keySet && got.size == 20)
    expected.foreach { case (src, e) => assert(got(src) == e, s"src=$src") }
    assert(got("src0")._2 == got("src0")._1) // full-keep source
    assert(got("src19")._2 < got("src19")._1) // heavily downsampled source
  }

  test("corpus funnel: per-stage flags are each stage's own verdict and " +
    "final_keep is their conjunction") {
    val rows = TextQueries.corpusFunnel(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // docs 1-3: clean repetition stats but near/exact dup spans ≥ 50%
    assert(rows(1L) == ((1L, 1L, 0L, 0L)))
    assert(rows(2L) == ((1L, 0L, 0L, 0L))) // exact dup of 1 → dedup drop
    assert(rows(3L) == ((1L, 1L, 0L, 0L)))
    // docs 4-5: unique content (span_keep) but so short that one bigram
    // exceeds 10% of characters → the gopher stage drops them
    assert(rows(4L) == ((0L, 1L, 1L, 0L)))
    assert(rows(5L) == ((0L, 1L, 1L, 0L)))
  }

  test("corpus funnel on the real documents table: discriminative (keeps " +
    "some, drops some) and final_keep ≡ AND of the stages on every row") {
    val rows = TextQueries.corpusFunnel(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val expect = if (r.getLong(1) == 1L && r.getLong(2) == 1L &&
        r.getLong(3) == 1L) 1L else 0L
      assert(r.getLong(4) == expect, s"final_keep broke at doc ${r.getLong(0)}")
    }
    val kept = rows.count(_.getLong(4) == 1L)
    assert(kept > 0 && kept < 500, s"funnel not discriminative: kept=$kept")
  }

  /** Driver-side twin of the CosineE4 kernel: same index-order left fold
    * in double, same floor discretization.
    */
  private def cosE4Ref(a: Seq[Float], b: Seq[Float]): Long = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 10000.0).toLong
  }

  test("semantic dedup drops exactly the vectors ≥ tau-similar to a " +
    "lower-id vector in their cell (brute-force cross-check)") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        SimilarityQueries.ivfCell(col("embedding"), Codebooks.ivf(spark, dir))
          .as("cell"),
        col("embedding"))
      .as[(Long, Int, Seq[Float])].collect().sortBy(_._1)
    val expectDrop = (for {
      (a, ca, ea) <- emb; (b, cb, eb) <- emb
      if a < b && ca == cb &&
        cosE4Ref(ea, eb) >= SimilarityQueries.SemDedupTau
    } yield b).toSet
    // the planted structure: vec 1 (2×query, same cell as 0) must drop;
    // vec 0 (lowest id) must survive
    assert(expectDrop.contains(1L) && !expectDrop.contains(0L))
    val got = SimilarityQueries.semDedup(spark, dir).collect()
      .map(_.getLong(0)).toSet
    assert(got == emb.map(_._1).toSet -- expectDrop)
  }

  test("semantic dedup on the real embeddings table matches the " +
    "calibrated survivor count (deterministic input)") {
    val n = SimilarityQueries.semDedup(spark, "/root/testdata/sf0.001")
      .count()
    assert(n == 388L, s"survivors=$n") // 500 − 112 calibrated removals
    // (trained 32-cell quantizer; the round-3 fixed 16-cell demo gave 368)
  }

  test("perplexity filter: full LM recompute matches exactly; exact dups " +
    "score identically; unique-bigram gibberish scores below repeated " +
    "text; a 1-token doc is 'short'") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat"), // exact dup of 1 → identical row
      (3L, "zq xv qqj kkw zzl pfm"), // every bigram unique → most surprising
      (4L, "word"), // one token → zero bigrams → 'short'
      (5L, "the cat sat on the mat and the cat sat again"))
    val d = java.nio.file.Files.createTempDirectory("ppl-fix").toString
    docs.toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")

    // independent full recompute: same tokenization, MLE counts, and
    // floor(1e4·ln) + BIGINT-sum discipline, in plain Scala
    def toks(t: String) = t.trim.toLowerCase.split("\\s+").toSeq
    val grams = docs.flatMap { case (id, t) =>
      val w = toks(t)
      if (w.length >= 2) w.sliding(2).map(p => (id, p.mkString(" "))).toSeq
      else Seq.empty
    }
    val c12 = grams.groupBy(_._2).map { case (g, o) => g -> o.size.toLong }
    val c1 = grams.groupBy(_._2.split(" ")(0))
      .map { case (w1, o) => w1 -> o.size.toLong }
    val vsz = grams.map(_._2.split(" ")(1)).distinct.size.toLong
    val expect = docs.map { case (id, _) =>
      val lps = grams.filter(_._1 == id).map { case (_, g) =>
        math.floor(math.log((c12(g) + 1).toDouble /
          (c1(g.split(" ")(0)) + vsz).toDouble) * 10000).toLong
      }
      val n = lps.size.toLong
      val s = lps.sum
      val mean = if (n == 0) 0L else math.floor(s.toDouble / n).toLong
      val bucket =
        if (n == 0) "short"
        else if (mean >= TextQueries.PplHeadE4) "head"
        else if (mean >= TextQueries.PplTailE4) "middle"
        else "tail"
      (id, n, s, mean, bucket)
    }
    val got = TextQueries.perplexityFilter(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(got.toSeq == expect)
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(1L).copy(_1 = 2L) == byId(2L)) // dup text → identical score
    assert(byId(3L)._4 < byId(1L)._4) // gibberish more surprising
    assert(byId(4L) == ((4L, 0L, 0L, 0L, "short")))
  }

  test("perplexity against an EXTERNAL reference model (q67 path): " +
    "unseen-gram smoothing is exercised and hand-checked; scoring " +
    "against the corpus's own counts reproduces the self-trained filter " +
    "row for row") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // ref model: docs 0,3 (RefSliceMod slice); scored: 1,2,4
    val docs = Seq(
      (0L, "the cat sat on the mat"), // ref
      (1L, "the cat sat on the mat"), // scored, all grams seen
      (2L, "the cat flew off quickly"), // scored, mixed seen/unseen
      (3L, "a dog sat on a rug"), // ref
      (4L, "zq xv qqj")) // scored, nothing seen
    val d = java.nio.file.Files.createTempDirectory("pplref-fix").toString
    docs.toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")

    val got = TextQueries.perplexityRef(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(got.map(_._1) == List(1L, 2L, 4L), "ref slice must be held out")

    // hand recompute: model = bigrams of docs 0,3
    val refGrams = Seq("the cat", "cat sat", "sat on", "on the", "the mat",
      "a dog", "dog sat", "sat on", "on a", "a rug")
    val c12 = refGrams.groupBy(identity).map { case (g, o) => g -> o.size }
    val c1 = refGrams.groupBy(_.split(" ")(0))
      .map { case (w, o) => w -> o.size }
    val v = refGrams.map(_.split(" ")(1)).distinct.size // 8 second words
    def lp(g: String) = {
      val c = c12.getOrElse(g, 0)
      val ctx = c1.getOrElse(g.split(" ")(0), 0)
      math.floor(math.log((c + 1).toDouble / (ctx + v)) * 10000).toLong
    }
    def expect(text: String) = {
      val gs = text.split(" ").sliding(2).map(_.mkString(" ")).toSeq
      (gs.size.toLong, gs.map(lp).sum)
    }
    assert(got(0)._2 -> got(0)._3 == expect("the cat sat on the mat"))
    assert(got(1)._2 -> got(1)._3 == expect("the cat flew off quickly"))
    // doc 4: every gram unseen, contexts unseen → each = floor(1e4·ln(1/V))
    assert(got(2)._3 ==
      2 * math.floor(math.log(1.0 / v) * 10000).toLong)

    // degenerate check: external socket fed the corpus's own counts ≡ the
    // self-trained fast path
    val all = spark.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), col("text"))
    val viaSocket = TextQueries
      .perplexityScoredWith(all, TextQueries.bigramCounts(all))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val self = TextQueries.perplexityFilter(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(viaSocket == self)
  }

  test("DSIR against an EXTERNAL target model (q68 path): docs matching " +
    "the reference distribution are kept, mismatched docs dropped; " +
    "feeding the lang-slice counts through the socket reproduces q58") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (0L, "good clean prose about cats good clean prose about cats"), // ref
      (1L, "good clean prose about cats"), // scored: target-typical → kept
      (2L, "zq xv qqj kkw zzl pfm zq xv"), // scored: off-target → dropped
      (3L, "good clean prose about dogs"), // ref
      (4L, "good clean zq xv")) // scored: mixed
    val d = java.nio.file.Files.createTempDirectory("dsirref-fix").toString
    docs.toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    val got = TextQueries.importanceRef(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(got.keySet == Set(1L, 2L, 4L), "ref slice must be held out")
    assert(got(1L) == 1L, "target-typical doc must be kept")
    assert(got(2L) == 0L, "off-target doc must be dropped")

    // degenerate check: the q58 self path IS the socket fed the
    // lang-slice counts (importanceScored delegates) — assert the public
    // surfaces agree on the real table
    val real = "/root/testdata/sf0.001"
    val viaQuery = TextQueries.importanceResample(spark, real)
      .collect().map(_.toSeq).toSeq
    val realDocs = spark.read
      .parquet(s"$real/documents.parquet")
    val viaSocket = TextQueries.importanceScoredWith(
      realDocs.select(col("doc_id"), col("text")),
      TextQueries.bigramCounts(
        realDocs.filter(col("lang") === TextQueries.DsirTargetLang))
        .withColumnRenamed("c12", "ct"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(viaQuery == viaSocket)
  }

  test("perplexity filter on the real table: buckets split the corpus at " +
    "the calibrated terciles and every score is reproducible") {
    val rows = TextQueries.perplexityFilter(spark, "/root/testdata/sf0.001")
      .groupBy("bucket").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet.subsetOf(Set("head", "middle", "tail", "short")))
    // calibrated cutoffs → all three quality buckets are populated
    assert(rows.getOrElse("head", 0L) > 50L)
    assert(rows.getOrElse("middle", 0L) > 50L)
    assert(rows.getOrElse("tail", 0L) > 50L)
    assert(rows.values.sum == 500L)
  }

  test("importance resample: full two-model recompute matches exactly; " +
    "keeps by CONTENT, not label — a target-typical doc outside the " +
    "target slice is kept, target-atypical targets are dropped") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta alpha beta", "en"),
      (2L, "alpha beta gamma epsilon alpha beta", "en"),
      (3L, "uno dos tres cuatro uno dos", "es"),
      (4L, "uno dos tres cinco uno dos", "es"),
      (5L, "alpha beta gamma delta alpha beta", "es"), // en-like content
      (6L, "uno dos tres cuatro uno dos", "en"), // es-like content
      (7L, "word", "en")) // no bigram → kept = 0
    val d = java.nio.file.Files.createTempDirectory("dsir-fix").toString
    docs.toDF("doc_id", "text", "lang").write.parquet(s"$d/documents.parquet")

    def toks(t: String) = t.trim.toLowerCase.split("\\s+").toSeq
    val grams = docs.flatMap { case (id, t, l) =>
      val w = toks(t)
      if (w.length >= 2) w.sliding(2).map(p => (id, l, p.mkString(" "))).toSeq
      else Seq.empty
    }
    val cs = grams.groupBy(_._3).map { case (g, o) => g -> o.size.toLong }
    val ct = grams.filter(_._2 == TextQueries.DsirTargetLang)
      .groupBy(_._3).map { case (g, o) => g -> o.size.toLong }
    val ns = grams.size.toLong
    val v = cs.size.toLong
    val nt = grams.count(_._2 == TextQueries.DsirTargetLang).toLong
    val expect = docs.map { case (id, _, _) =>
      val lws = grams.filter(_._1 == id).map { case (_, _, g) =>
        math.floor(math.log(
          ((ct.getOrElse(g, 0L) + 1) * (ns + v)).toDouble /
            ((nt + v) * (cs(g) + 1)).toDouble) * 10000).toLong
      }
      val n = lws.size.toLong
      val s = lws.sum
      val mean = if (n == 0) 0L else math.floor(s.toDouble / n).toLong
      (id, n, s, mean, if (n > 0 && mean > 0) 1L else 0L)
    }
    val got = TextQueries.importanceResample(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == expect)
    val kept = got.map(r => r._1 -> r._5).toMap
    assert(kept(5L) == 1L, "en-like content outside the slice must be kept")
    assert(kept(6L) == 0L, "es-like content inside the slice must drop")
    assert(kept(1L) == 1L && kept(3L) == 0L && kept(7L) == 0L)
  }

  test("importance resample on the real table: the target slice keeps at " +
    "a high rate, everything else at a low rate") {
    val rows = TextQueries
      .importanceResample(spark, "/root/testdata/sf0.001")
      .join(spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang") === TextQueries.DsirTargetLang)
      .agg(count(lit(1)).as("n"), sum("kept").as("k"))
      .collect().map(r => r.getBoolean(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val (nT, kT) = rows(true)
    val (nO, kO) = rows(false)
    assert(kT * 100 > nT * 70, s"target keep rate too low: $kT/$nT")
    assert(kO * 100 < nO * 15, s"off-target keep rate too high: $kO/$nO")
  }

  test("decontamination: a 13-token overlap with a benchmark doc flags " +
    "the training doc; a 12-token overlap does NOT; benchmark docs are " +
    "never flagged; counts match an exact recompute") {
    import spark.implicits._
    val t30 = (1 to 30).map(i => s"t$i")
    val docs = Seq(
      (0L, t30.mkString(" ")), // benchmark (0 % 20 == 0)
      (1L, ((1 to 13).map(i => s"t$i") ++ (1 to 10).map(i => s"x$i"))
        .mkString(" ")), // 13 shared tokens → 1 colliding shingle
      (2L, (1 to 20).map(i => s"y$i").mkString(" ")), // disjoint
      (3L, ((1 to 12).map(i => s"t$i") ++ (1 to 10).map(i => s"z$i"))
        .mkString(" "))) // only 12 shared tokens → clean (boundary)
    val d = java.nio.file.Files.createTempDirectory("decon-fix").toString
    docs.toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    val got = DedupQueries.decontaminate(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    // exact recompute of the distinct 13-shingle sets
    def sh(t: String): Set[String] =
      t.trim.toLowerCase.split("\\s+").toSeq.sliding(13)
        .filter(_.size == 13).map(_.mkString(" ")).toSet
    val bench = sh(docs.head._2)
    docs.foreach { case (id, t) =>
      val isB = if (id % DedupQueries.DecontamBenchMod == 0) 1L else 0L
      val hits = if (isB == 1) 0L else (sh(t) & bench).size.toLong
      val cont = if (isB == 0 && hits > 0) 1L else 0L
      assert(got(id) == ((sh(t).size.toLong, isB, hits, cont)), s"doc $id")
    }
    assert(got(1L)._4 == 1L && got(3L)._4 == 0L && got(0L)._4 == 0L)
  }

  test("decontamination against an EXTERNAL benchmark (decontaminateWith): " +
    "grams and membership travel together — a doc on the in-sandbox mod " +
    "slice is flagged, not exempt, when the benchmark is external") {
    import spark.implicits._
    val n = graft.operators.DedupQueries.DecontamN
    val benchText = (1 to 30).map(i => s"b$i").mkString(" ")
    val benchGrams = Seq(benchText).toDF("text")
      .select(explode(DedupQueries.shingles(col("text"), n)).as("g"))
      .distinct()
    val docs = Seq(
      // doc 20 sits ON the mod-20 slice; against an external benchmark it
      // is an ordinary training doc and must be flagged for its 13-token
      // overlap
      (20L, (1 to 13).map(i => s"b$i").mkString(" ") + " own tail here"),
      (21L, (1 to 20).map(i => s"c$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = DedupQueries
      .decontaminateWith(docs, benchGrams, lit(false))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(3) /* hits */, r.getLong(4) /* contaminated */)).toMap
    assert(out(20L) == ((1L, 1L)), s"mod-slice doc must be flagged: $out")
    assert(out(21L) == ((0L, 0L)))
  }

  test("degenerate rows fail safe: null-text docs flow through the " +
    "funnel and split (fail-closed flags, one dedup class); ragged/" +
    "null-lane/null vectors never enter a top-k or vote a codebook, and " +
    "semDedup still emits them (cell 0, never dropped as dups)") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("dirty-fix").toString
    val base = (1 to 40).map(i => s"tok$i word$i item$i").mkString(" ")
    Seq(
      (0L, base, "en", "src1", base.length.toLong),
      (1L, base + " tail", "en", "src1", base.length + 5L),
      (2L, null.asInstanceOf[String], "en", "src1", 0L), // failed fetch
      (3L, null.asInstanceOf[String], "en", "src1", 0L)) // same class
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    def vec(f: Int => Float): Option[Seq[Option[Float]]] =
      Some((0 until 64).map(i => Some(f(i))))
    val vecs: Seq[(Long, Option[Seq[Option[Float]]], Int)] =
      (0L to 5L).map(id =>
        (id, vec(i => (i + id + 1).toFloat), (id % 2).toInt)) ++ Seq(
        (6L, Some(Seq(Some(1f), Some(2f))), 0), // ragged
        (7L, vec(i => i.toFloat).map(s => s.updated(7, None)), 0), // null lane
        (8L, None, 0)) // null vector
    vecs.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$d/embeddings.parquet")

    // funnel: null-text docs present, fail-closed quality/span flags,
    // keep-first dedup within the null-text class
    val funnel = TextQueries.corpusFunnel(spark, d).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(funnel.keySet == Set(0L, 1L, 2L, 3L))
    assert(funnel(2L).getLong(2) == 1L && funnel(3L).getLong(2) == 0L,
      "first null-text doc is its class representative")
    assert(funnel(2L).getLong(1) == 0L, "null text fails quality closed")
    // split: both null-text docs ride the same representative
    val split = TextQueries.leakageSafeSplit(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(split.keySet == Set(0L, 1L, 2L, 3L))
    assert(split(2L) == split(3L))

    // ANN: invalid vectors are not candidates anywhere
    val brute = SimilarityQueries.annBruteForce(spark, d).collect()
      .map(_.getLong(0)).toSet
    assert(brute.intersect(Set(6L, 7L, 8L)).isEmpty)
    val ivf = SimilarityQueries.annIvf(spark, d).collect()
      .map(_.getLong(0)).toSet
    assert(ivf.intersect(Set(6L, 7L, 8L)).isEmpty)
    // semDedup: invalid vectors are never dropped (they can't pair) and
    // carry the deterministic all-null-sort cell 0
    val sd = SimilarityQueries.semDedup(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(Set(6L, 7L, 8L).subsetOf(sd.keySet))
    assert(sd(6L) == 0L && sd(7L) == 0L && sd(8L) == 0L)
  }

  test("dup clusters: transitive chain merges into ONE component labeled " +
    "by its min doc_id even though the endpoints share no pair edge; " +
    "disconnected docs stay singletons") {
    import spark.implicits._
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i")
    val a = toks("t", 30)
    val c = toks("v", 15) ++ toks("w", 15)
    val b = a.take(15) ++ c.take(15) // overlaps both a and c
    val docs = Seq(
      (10L, a.mkString(" ")), (11L, b.mkString(" ")),
      (12L, c.mkString(" ")), (13L, toks("q", 20).mkString(" ")))
    val d = java.nio.file.Files.createTempDirectory("cc-fix").toString
    docs.toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    // the chain is real: a-b and b-c are q21 edges, a-c is NOT
    val edges = DedupQueries.ngramJaccard(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges.contains((10L, 11L)) && edges.contains((11L, 12L)))
    assert(!edges.contains((10L, 12L)))
    val got = DedupQueries.dupClusters(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(got(10L) == ((10L, 3L, 1L)))
    assert(got(11L) == ((10L, 3L, 0L)))
    assert(got(12L) == ((10L, 3L, 0L))) // transitivity: 2 hops from 10
    assert(got(13L) == ((13L, 1L, 1L)))
  }

  test("dup clusters on the real table match a driver-side union-find " +
    "over the q21 edge set exactly") {
    val real = "/root/testdata/sf0.001"
    val edges = DedupQueries.ngramJaccard(spark, real).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    val got = DedupQueries.dupClusters(spark, real).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 500)
    val compOf = got.map(r => r._1 -> r._2).toMap
    got.foreach { case (id, cluster, _) =>
      assert(cluster == find(id), s"doc $id cluster mismatch")
    }
    // sizes are consistent with the label assignment
    val sizeByCluster = got.groupBy(_._2).view.mapValues(_.length.toLong)
    got.foreach { case (id, cluster, sz) =>
      assert(sz == sizeByCluster(cluster), s"doc $id size mismatch")
    }
    assert(compOf.values.toSet.size < 500) // real dups exist → real merges
  }

  test("dup-span scrub: exact dups scrub to empty, the near-dup scrubs " +
    "to exactly its changed token, short docs pass through token-" +
    "normalized; kept ≡ n_tokens − q31 covered on every doc") {
    val got = DedupQueries.dupSpanScrub(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getString(3)))).toMap
    // docs 1,2: 40-token exact dups → every window duplicated → empty
    assert(got(1L)._2 == 0L && got(1L)._3 == "")
    assert(got(2L)._2 == 0L && got(2L)._3 == "")
    // doc 3: near dup — only position 19 (the CHANGED token) escapes
    // every duplicated window
    assert(got(3L) == ((40L, 1L, "CHANGED")))
    // docs 4,5: under 8 tokens of overlap → untouched (token-normalized)
    assert(got(4L)._3 == "completely different tiny text")
    assert(got(5L)._3 == "another unrelated document body here entirely")
    // structural tie to q31: kept = n_tokens − covered, per doc
    val cov = DedupQueries.dupSpanCoverage(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    got.foreach { case (id, (n, kept, _)) =>
      assert(kept == n - cov(id), s"doc $id kept/covered mismatch")
    }
  }

  test("leakage-safe split: byte-identical duplicates always land in the " +
    "same split via their dedup representative; residues are the q56 " +
    "rule over the representative id") {
    import spark.implicits._
    // craft texts whose REPRESENTATIVE ids hit each residue band, with
    // a duplicate whose own id would land elsewhere
    val docs = Seq(
      (3L, "text a"), (903L, "text a"), // rep 3 → residue 91 → train
      (2L, "text b"), (702L, "text b"), // rep 2 → residue 522 → train
      (11L, "text c"), // rep 11 → residue 371 → train
      (19L, "text d"), // rep 19 → residue 459 → train
      (6L, "text e"), // rep 6 → residue 566 → train
      (13L, "text f"), // rep 13 → residue 893 → val
      (10L, "text g")) // rep 10 → residue 610 → train
    val d = java.nio.file.Files.createTempDirectory("split-fix").toString
    docs.toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    val got = TextQueries.leakageSafeSplit(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // independent recompute of the rule
    docs.foreach { case (id, t) =>
      val rep = docs.filter(_._2 == t).map(_._1).min
      val res = rep % TextQueries.ResidueReduceMod * 2654435761L % 1000L
      val split = if (res < TextQueries.SplitTrainPermille) "train"
        else if (res < TextQueries.SplitValPermille) "val" else "test"
      assert(got(id) == ((rep, split)), s"doc $id")
    }
    // the leakage guarantee: dup pairs share rep AND split
    assert(got(3L) == got(903L) && got(2L) == got(702L))
  }

  test("leakage-safe split on the real table: every doc assigned, all " +
    "three splits populated, proportions near 80/10/10") {
    val rows = TextQueries.leakageSafeSplit(spark, "/root/testdata/sf0.001")
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.values.sum == 500L)
    assert(rows("train") > 350L && rows("train") < 450L)
    assert(rows("val") > 20L && rows("val") < 80L)
    assert(rows("test") > 20L && rows("test") < 80L)
  }

  test("curation pipeline (q63): every stage flag equals its standalone " +
    "query's verdict on the real table; final_keep is the 6-way " +
    "conjunction; survivors exist and every stage drops someone") {
    val real = "/root/testdata/sf0.001"
    val pipe = TextQueries.curationPipeline(spark, real).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8)))).toMap
    assert(pipe.size == 500)
    val funnel = TextQueries.corpusFunnel(spark, real).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val ppl = TextQueries.perplexityFilter(spark, real).collect()
      .map(r => r.getLong(0) ->
        (if (r.getString(4) == "head" || r.getString(4) == "middle") 1L
         else 0L)).toMap
    val dsir = TextQueries.importanceResample(spark, real).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    val dec = DedupQueries.decontaminate(spark, real).collect()
      .map(r => r.getLong(0) -> (1L - r.getLong(4))).toMap
    pipe.foreach { case (id, (g, d, sp, p, i, c, b, f)) =>
      assert((g, d, sp) == funnel(id), s"doc $id funnel flags")
      assert(p == ppl(id), s"doc $id ppl flag")
      assert(i == dsir(id), s"doc $id dsir flag")
      assert(c == dec(id), s"doc $id decon flag")
      assert(b == (if (id % DedupQueries.DecontamBenchMod == 0) 1L else 0L),
        s"doc $id is_benchmark")
      assert(f == (if (g == 1 && d == 1 && sp == 1 && p == 1 && i == 1 &&
        c == 1 && b == 0) 1L else 0L), s"doc $id final_keep")
    }
    // the benchmark slice itself NEVER reaches the curated corpus —
    // q59's collision rule marks benchmark docs clean (right for the
    // audit), so the pipeline must exclude them explicitly
    pipe.foreach { case (id, row) =>
      if (id % DedupQueries.DecontamBenchMod == 0)
        assert(row._8 == 0L, s"benchmark doc $id leaked into final_keep")
    }
    val rows = pipe.values
    assert(rows.count(_._8 == 1) > 0, "no survivors")
    // the model-based stages each drop at least one doc on the real
    // corpus (exact-dedup/span may legitimately keep everything at
    // sf0.001 — the table has 500 distinct texts)
    assert(rows.exists(_._1 == 0) && rows.exists(_._4 == 0) &&
      rows.exists(_._5 == 0) && rows.exists(_._6 == 0))
  }

  test("media features: histogram mass equals byte count; frame count " +
    "follows the stride arithmetic") {
    val rows = MultimodalQueries.mediaFeatures(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val nBytes = r.getAs[Long]("n_bytes")
      assert(r.getAs[Long]("hist_total") == nBytes)
      val frames = r.getAs[Long]("n_frames")
      val nf = nBytes / 64
      assert(frames == (if (nf == 0) 0 else (nf + 3) / 4))
    }
    // deterministic: byte histogram of a known payload
    val h = MultimodalQueries.FakeDecode.features("AAAA".getBytes("UTF-8"))
    assert(h(4) == 4 && h.sum == 4) // 'A' = 0x41 → bin 4
  }

  test("image decode (q66): a REAL PNG round trip — ImageIO.read of the " +
    "encoded bytes reproduces every spec pixel, and the operator's " +
    "decoded sums equal a direct spec recompute") {
    import MultimodalQueries.ImageSpec
    // pixel-exact round trip for a couple of ids (lossless RGB PNG)
    for (id <- Seq(0L, 7L, 123L)) {
      val png = ImageSpec.encodePng(id)
      // it really is a PNG stream, not a fake container
      assert((png.take(4).map(_ & 0xFF)).toSeq == Seq(0x89, 0x50, 0x4E, 0x47))
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(png))
      assert(img.getWidth == ImageSpec.width(id) &&
        img.getHeight == ImageSpec.height(id))
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val p = img.getRGB(x, y)
        val (r, g, b) = ImageSpec.rgb(id, x, y)
        assert(((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF) == ((r, g, b)),
          s"pixel drift at id=$id ($x,$y)")
      }
    }
    // the operator's output equals the spec recompute on the fixture
    val rows = MultimodalQueries.imageDecode(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val id = r.getLong(0)
      val (w, h2) = (ImageSpec.width(id), ImageSpec.height(id))
      assert(r.getInt(1) == w && r.getInt(2) == h2)
      var (rs, gs, bs) = (0L, 0L, 0L)
      for (y <- 0 until h2; x <- 0 until w) {
        val (rr, gg, bb) = ImageSpec.rgb(id, x, y)
        rs += rr; gs += gg; bs += bb
      }
      assert((r.getLong(3), r.getLong(4), r.getLong(5)) == ((rs, gs, bs)),
        s"decoded sums drift for doc $id")
    }
  }
}
