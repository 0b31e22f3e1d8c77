package graft.seen

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.AccumulatorV2

/** Partitioned Bloom-filter URL-seen membership layer (north_rule: "URL-seen
  * is a partitioned Bloom/cuckoo-filter membership layer keyed by
  * canonicalized+hashed URLs").
  *
  * Layout: `url_seen(bucket int, sketch binary)` — the 64-bit host-salted
  * xxHash (graft.url.UrlCols.urlHash) is range-split by `pmod(hash, nBuckets)`;
  * each bucket owns an independent Bloom segment built by a typed
  * [[Aggregator]] (distributed build with map-side partial merge — no
  * driver-side sketch object, unlike `df.stat.bloomFilter`).
  *
  * Probe path: candidates join the (small — nBuckets × m/8 bytes, so
  * broadcast) segment table on bucket and keep rows whose hash *might* be
  * present only as a PRE-filter; the exact seen table decides via left-anti
  * join (SURVEY.md §7.4 watch-list #4: bloom false positives must never
  * change the seen-set, so bloom only *discards* definite-unseens cheaply
  * before the anti-join shuffle).
  *
  * At 10^10-URL scale: nBuckets ≈ 4096 × 1 MiB segments ≈ 4 GiB total
  * sketch for ~10^10 keys at ~3 bits/key; buckets build in parallel and
  * broadcast per-wave. The exact table is the Iceberg-style `url_seen`
  * snapshot, anti-joined with AQE handling skew.
  */
object UrlSeen {

  /** Double-hashing Bloom over a flat Long bitset. h1/h2 derived from the
    * already-well-mixed 64-bit url_hash (Kirsch–Mitzenmacher).
    */
  object Bloom {
    def nWords(bits: Int): Int = (bits + 63) / 64

    def add(bs: Array[Long], hash: Long, k: Int): Unit = {
      val bits = bs.length * 64L
      val h1 = hash
      val h2 = graft.fixtures.SyntheticWeb.mix(hash) | 1L
      var i = 0
      while (i < k) {
        val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, bits)
        bs((bit >>> 6).toInt) |= (1L << (bit & 63))
        i += 1
      }
    }

    def contains(bs: Array[Long], hash: Long, k: Int): Boolean = {
      val bits = bs.length * 64L
      val h1 = hash
      val h2 = graft.fixtures.SyntheticWeb.mix(hash) | 1L
      var i = 0
      while (i < k) {
        val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, bits)
        if ((bs((bit >>> 6).toInt) & (1L << (bit & 63))) == 0L) return false
        i += 1
      }
      true
    }

    /** Word-wise OR of src into dst — THE segment-merge kernel (BloomAgg,
      * SegmentAccumulator, and the crawl loop's driver map all share it,
      * so a segment-layout change cannot desynchronize them).
      */
    def orInto(dst: Array[Long], src: Array[Long]): Array[Long] = {
      var i = 0
      while (i < dst.length) { dst(i) |= src(i); i += 1 }
      dst
    }

    def toBytes(bs: Array[Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(bs.length * 8)
      bs.foreach(bb.putLong)
      bb.array()
    }

    def fromBytes(b: Array[Byte]): Array[Long] = {
      val bb = java.nio.ByteBuffer.wrap(b)
      Array.fill(b.length / 8)(bb.getLong)
    }
  }

  /** Typed Aggregator building one Bloom segment from url_hash values. */
  final class BloomAgg(bits: Int, k: Int)
      extends Aggregator[Long, Array[Long], Array[Byte]] {
    def zero: Array[Long] = new Array[Long](Bloom.nWords(bits))
    def reduce(b: Array[Long], h: Long): Array[Long] = { Bloom.add(b, h, k); b }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = Bloom.orInto(a, b)
    def finish(b: Array[Long]): Array[Byte] = Bloom.toBytes(b)
    def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  final case class Config(nBuckets: Int = 64, bitsPerSegment: Int = 1 << 16,
      k: Int = 5)

  /** Distributed bloom-delta maintenance: an [[AccumulatorV2]] that rides
    * an existing write job. Each TASK hashes its rows into LOCAL bloom
    * segments; task completion ships only the fixed-size segment partials
    * (≤ touched-buckets × segment bytes) to the driver, which OR-merges
    * them. No URL hash ever transits the driver — the scale answer to the
    * CollectionAccumulator path, whose driver traffic is O(new URLs per
    * wave). OR-merging is idempotent, so task retries / speculative
    * duplicates cannot corrupt the filter (they re-set the same bits).
    */
  final class SegmentAccumulator(cfg: Config)
      extends AccumulatorV2[Long, Map[Int, Array[Long]]] {
    private val segs = scala.collection.mutable.Map[Int, Array[Long]]()
    override def isZero: Boolean = segs.isEmpty
    override def copy(): SegmentAccumulator = {
      val c = new SegmentAccumulator(cfg)
      segs.foreach { case (b, w) => c.segs(b) = w.clone() }
      c
    }
    override def reset(): Unit = segs.clear()
    override def add(hash: Long): Unit = UrlSeen.addToSegMap(segs, hash, cfg)
    override def merge(other: AccumulatorV2[Long, Map[Int, Array[Long]]]): Unit =
      other match {
        case o: SegmentAccumulator => UrlSeen.orMergeInto(segs, o.segs)
        case _ => throw new IllegalArgumentException(
          s"cannot merge ${other.getClass} into SegmentAccumulator")
      }
    override def value: Map[Int, Array[Long]] = segs.toMap
  }

  /** OR-merge a segment map into a mutable driver/accumulator map — one
    * definition for every segment-merge site.
    */
  def orMergeInto(dst: scala.collection.mutable.Map[Int, Array[Long]],
      src: scala.collection.Map[Int, Array[Long]]): Unit =
    src.foreach { case (b, w) =>
      dst.get(b) match {
        case Some(mine) => Bloom.orInto(mine, w)
        case None       => dst(b) = w.clone()
      }
    }

  /** Add one hash to a mutable segment map — THE segment-add kernel (the
    * SegmentAccumulator's task-local partials and the crawl loop's
    * driver map share it, so bucket derivation cannot desynchronize; its
    * bucketing matches [[bucketOf]]/[[buildSegments]]).
    */
  def addToSegMap(segs: scala.collection.mutable.Map[Int, Array[Long]],
      hash: Long, cfg: Config): Unit = {
    val bucket = java.lang.Math.floorMod(hash, cfg.nBuckets.toLong).toInt
    val words = segs.getOrElseUpdate(bucket,
      new Array[Long](Bloom.nWords(cfg.bitsPerSegment)))
    Bloom.add(words, hash, cfg.k)
  }

  def bucketOf(hash: Column, nBuckets: Int): Column = pmod(hash, lit(nBuckets.toLong))

  /** Build the partitioned segment table from a frame with `url_hash`. */
  def buildSegments(seen: DataFrame, cfg: Config = Config()): DataFrame = {
    val agg = udaf(new BloomAgg(cfg.bitsPerSegment, cfg.k))
    seen
      .withColumn("bucket", bucketOf(col("url_hash"), cfg.nBuckets))
      .groupBy("bucket")
      .agg(agg(col("url_hash")).as("sketch"))
  }

  /** Collect a built segment table into the driver-side probe map. */
  def collectSegments(segments: DataFrame): Map[Int, Array[Long]] =
    segments.collect().map { r =>
      r.getAs[Long]("bucket").toInt ->
        Bloom.fromBytes(r.getAs[Array[Byte]]("sketch"))
    }.toMap

  /** Row-side probe kernel (also called from [[BloomMightContain]]'s
    * generated code): bucket lookup + double-hash membership. A bucket
    * absent from the map was never built ⇒ definitely unseen.
    */
  def probe(segMap: Map[Int, Array[Long]], hash: Long, k: Int,
      nBuckets: Int): Boolean = {
    val bucket = java.lang.Math.floorMod(hash, nBuckets.toLong).toInt
    segMap.get(bucket) match {
      case Some(words) => Bloom.contains(words, hash, k)
      case None        => false
    }
  }

  /** Probe against an already-collected segment map (the crawl loop
    * maintains its map on the driver, fed by an accumulator riding the
    * seen-delta write, so NO bloom build job ever runs). The probe is the [[BloomMightContain]] codegen expression over
    * a broadcast of the map — on the hot candidate path a boxed Scala UDF
    * would break the codegen span every wave.
    */
  def mightBeSeenWithMap(candidates: DataFrame,
      segMap: Map[Int, Array[Long]], cfg: Config = Config()): DataFrame = {
    val bc = candidates.sparkSession.sparkContext.broadcast(segMap)
    candidates.withColumn("might_seen", ColumnBridge.column(
      BloomMightContain(ColumnBridge.expression(col("url_hash")), bc,
        cfg.k, cfg.nBuckets)))
  }

  /** Full unseen filter: bloom pre-filter (cheap, broadcast, no shuffle of
    * the definite-unseen majority) then exact left-anti (authority).
    * `seenDistinct = true` skips the defensive `distinct()` on the seen
    * side — the crawl loop's seen deltas are distinct by construction, and
    * at 10^10 keys the distinct is a full extra shuffle of the seen set
    * every wave.
    */
  def filterUnseenWithMap(candidates: DataFrame, exactSeen: DataFrame,
      segMap: Option[Map[Int, Array[Long]]], cfg: Config = Config(),
      seenDistinct: Boolean = false): DataFrame = {
    val seenKeys0 = exactSeen.select("url_hash")
    val seenKeys = if (seenDistinct) seenKeys0 else seenKeys0.distinct()
    segMap match {
      case Some(m) =>
        val flagged = mightBeSeenWithMap(candidates, m, cfg)
        // definite-unseen rows bypass the anti-join entirely
        val definiteNew = flagged.filter(!col("might_seen")).drop("might_seen")
        val maybeSeen = flagged.filter(col("might_seen")).drop("might_seen")
        val checked = maybeSeen.join(seenKeys, Seq("url_hash"), "left_anti")
        definiteNew.unionByName(checked)
      case None =>
        candidates.join(seenKeys, Seq("url_hash"), "left_anti")
    }
  }
}

/** Codegen bloom probe over a BROADCAST segment map: `might_contain(hash)`
  * as a native unary expression, so the pre-filter stays inside the
  * candidate pipeline's whole-stage-codegen span (the boxed-UDF twin it
  * supersedes broke the span and boxed every hash —
  * UrlSeenSpec pins expression ≡ UDF semantics). The map rides the
  * expression as a `Broadcast` handle serialized once per stage into the
  * task binary; the generated code dereferences `value()` ONCE per
  * codegen instance (mutable state initialized in init()), not per row.
  */
final case class BloomMightContain(child: Expression,
    segments: Broadcast[Map[Int, Array[Long]]], k: Int, nBuckets: Int)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "bloom_might_contain requires a bigint url_hash argument")
  override def nullSafeEval(input: Any): Any =
    UrlSeen.probe(segments.value, input.asInstanceOf[Long], k, nBuckets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bloomSegments", segments,
      classOf[Broadcast[Map[Int, Array[Long]]]].getName)
    // hoist the Broadcast.value() deref out of the per-row path: resolved
    // once in the generated class's init(), then read as a field
    val mapVar = ctx.addMutableState("scala.collection.immutable.Map",
      "bloomSegMap",
      v => s"$v = (scala.collection.immutable.Map) $bcRef.value();")
    defineCodeGen(ctx, ev, c =>
      s"graft.seen.UrlSeen.probe($mapVar, $c, $k, $nBuckets)")
  }
  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
  override def prettyName: String = "bloom_might_contain"
}
