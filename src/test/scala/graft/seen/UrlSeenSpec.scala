package graft.seen

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Properties of the partitioned Bloom URL-seen layer (SURVEY.md §5.3):
  * no false negatives ever; the exact anti-join remains the authority so
  * false positives cannot change the seen-set. Property inputs are
  * deterministic splitmix streams (same style as UrlCanonSpec).
  */
class UrlSeenSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").appName("seen-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("property: local Bloom has no false negatives (any k, any density)") {
    for (k <- 1 to 8; n <- Seq(0, 1, 10, 1000, 20000); seed <- 1L to 3L) {
      val hashes = (1 to n).map(i =>
        graft.fixtures.SyntheticWeb.mix(seed * 1000003L + i))
      val bs = new Array[Long](UrlSeen.Bloom.nWords(1 << 12))
      hashes.foreach(h => UrlSeen.Bloom.add(bs, h, k))
      hashes.foreach(h => assert(UrlSeen.Bloom.contains(bs, h, k)))
    }
  }

  test("distributed segments: every inserted hash probes might_seen=true") {
    import spark.implicits._
    val cfg = UrlSeen.Config(nBuckets = 16, bitsPerSegment = 1 << 12, k = 5)
    val hashes = (1L to 5000L).map(i => i * 0x9E3779B97F4A7C15L)
    val seen = hashes.toDF("url_hash")
    val segMap = UrlSeen.collectSegments(UrlSeen.buildSegments(seen, cfg))
    val flagged = UrlSeen.mightBeSeenWithMap(seen, segMap, cfg)
    assert(flagged.filter(!col("might_seen")).count() == 0)
  }

  test("filterUnseen with bloom ≡ filterUnseen without bloom (exact join " +
    "is the authority; fp rate only affects cost)") {
    import spark.implicits._
    val cfg = UrlSeen.Config(nBuckets = 8, bitsPerSegment = 1 << 10, k = 3)
    val seen = (1L to 2000L).map(_ * 31L).toDF("url_hash")
    val candidates = (1L to 4000L).map(_ * 31L).toDF("url_hash")
      .withColumn("payload", col("url_hash") * 2)
    val segMap = UrlSeen.collectSegments(UrlSeen.buildSegments(seen, cfg))
    val withBloom = UrlSeen
      .filterUnseenWithMap(candidates, seen, Some(segMap), cfg)
      .select("url_hash").as[Long].collect().toSet
    val noBloom = UrlSeen.filterUnseenWithMap(candidates, seen, None, cfg)
      .select("url_hash").as[Long].collect().toSet
    assert(withBloom == noBloom)
    assert(withBloom == (2001L to 4000L).map(_ * 31L).toSet)
  }

  test("SegmentAccumulator (task-local partials, driver OR-merge) builds " +
    "segments IDENTICAL to the distributed buildSegments aggregation") {
    import spark.implicits._
    val cfg = UrlSeen.Config(nBuckets = 16, bitsPerSegment = 1 << 12, k = 5)
    val hashes = (1L to 5000L).map(i => i * 0x9E3779B97F4A7C15L)
    val seen = hashes.toDF("url_hash").repartition(7)
    // accumulator path: hashes never reach the driver, only segments do
    val acc = new UrlSeen.SegmentAccumulator(cfg)
    spark.sparkContext.register(acc, "seg-acc-spec")
    seen.as[Long].mapPartitions(it => it.map { h => acc.add(h); h })
      .write.mode("overwrite").format("noop").save()
    val viaAcc = acc.value
    val viaAgg = UrlSeen.collectSegments(UrlSeen.buildSegments(seen, cfg))
    assert(viaAcc.keySet == viaAgg.keySet)
    viaAgg.foreach { case (b, w) =>
      assert(java.util.Arrays.equals(viaAcc(b), w), s"bucket $b differs")
    }
    // OR-merge idempotence (task-retry safety): re-adding the same hashes
    // leaves every segment unchanged
    val twice = acc.copy()
    hashes.foreach(twice.add)
    viaAgg.keys.foreach(b =>
      assert(java.util.Arrays.equals(twice.value(b), viaAcc(b))))
  }

  test("BloomMightContain codegen expression == the boxed-UDF probe twin, " +
    "and stays inside whole-stage codegen") {
    import spark.implicits._
    val cfg = UrlSeen.Config(nBuckets = 8, bitsPerSegment = 1 << 10, k = 3)
    val seen = (1L to 2000L).map(_ * 31L).toDF("url_hash")
    val segMap = UrlSeen.collectSegments(UrlSeen.buildSegments(seen, cfg))
    // repartition keeps the probe out of ConvertToLocalRelation's eager
    // constant-fold, so the executed plan actually shows the expression
    val probes = (1L to 4000L).map(_ * 31L).toDF("url_hash").repartition(4)
    val bc = spark.sparkContext.broadcast(segMap)
    val udfTwin = udf((hash: Long) =>
      UrlSeen.probe(bc.value, hash, cfg.k, cfg.nBuckets))
    val flagged = UrlSeen.mightBeSeenWithMap(probes, segMap, cfg)
      .withColumn("udf_twin", udfTwin(col("url_hash")))
    assert(flagged.filter(col("might_seen") =!= col("udf_twin")).count() == 0)
    // every truly-seen hash must probe true (no false negatives)
    assert(UrlSeen.mightBeSeenWithMap(seen, segMap, cfg)
      .filter(!col("might_seen")).count() == 0)
    // codegen pin on the UDF-free probe frame (collect finalizes AQE)
    val pure = UrlSeen.mightBeSeenWithMap(probes, segMap, cfg)
    pure.collect()
    val p = pure.queryExecution.executedPlan.toString
    assert(p.contains("bloom_might_contain"))
    assert(p.contains("*("), s"probe fell out of codegen:\n$p")
  }

  test("bloom fp rate is sane for the configured density") {
    import spark.implicits._
    // 2^16 bits, 4096 keys/bucket → ~16 bits/key, k=5 ⇒ fp ≪ 1%
    val cfg = UrlSeen.Config(nBuckets = 4, bitsPerSegment = 1 << 16, k = 5)
    val seen = (1L to 16384L).map(i => i * 0x9E3779B97F4A7C15L + 7L).toDF("url_hash")
    val probe = (1L to 20000L).map(i => i * 0xDEADBEEF123L).toDF("url_hash")
    val segMap = UrlSeen.collectSegments(UrlSeen.buildSegments(seen, cfg))
    val fp = UrlSeen.mightBeSeenWithMap(probe, segMap, cfg)
      .filter(col("might_seen")).count()
    assert(fp < 400, s"false-positive count $fp too high") // < 2 %
  }
}
