package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap

import graft.functions.VecKernels

/** Deterministic Lloyd-trained codebooks for the ANN family: the IVF
  * coarse quantizer (q51 probes it, q52 blocks by it, q64 and q69 join
  * through it) and the PQ per-subvector codebooks (q55 and q69 encode
  * with them).
  *
  * Round-3 shipped fixed exact-rational demo centroids; on the isotropic
  * synthetic embeddings they cost recall (3/10 vs brute at sf0.001). This
  * trains the same codebook shapes with a small fixed-iteration k-means —
  * and keeps every arithmetic step EXACTLY reproducible across engines,
  * so the DuckDB oracles re-derive the identical codebook from the same
  * raw table (no dumped state, no trust in the Spark side):
  *
  *   - init centroids are the round-3 exact rationals (integer arithmetic
  *     + division by 2¹⁰ — bit-identical in float, double, Spark, DuckDB);
  *   - assignment uses the discretized kernels the queries already pin
  *     ([[graft.functions.CosineE4]] argmax for IVF, argmin-L2² for PQ)
  *     with smallest-index tiebreaks, so a cell flip would need the
  *     10⁻¹²-relative float noise to cross a floor(·10⁴) boundary — the
  *     same tolerance every hash-green cosine oracle already rides;
  *   - the update quantizes lanes to floor(x·2²⁰) BIGINTs whose SUMS are
  *     exact and order-independent (the one place float summation order
  *     could diverge between engines is removed by construction), divides
  *     in double, and rounds the mean through float32 — so the next
  *     centroid is one canonical value everywhere. Empty cells keep their
  *     previous centroid.
  *
  * Scale shape: each Lloyd iteration is ONE distributed pass — a narrow
  * map (cell assignment, the same kernel the query plan uses) feeding a
  * partial-aggregable groupBy whose output is k×64 rows of (sum, count) —
  * bounded metadata like the bloom segments, NOT data through the driver.
  * The kernel is projected in its own `select` before the `posexplode`
  * that splits a vector into lanes: Catalyst evaluates a `select`'s
  * non-generator items once per exploded row, so a kernel sharing the
  * generator's `select` would run once per lane, 64 times per vector.
  * At 10^10 vectors you'd train on a bounded deterministic sample (e.g.
  * lowest-id 10⁶ vectors — encode/search plans don't change, and this is
  * how IVF/PQ codebooks are trained in practice); at test scale the
  * sample is the whole table, which is what the oracle assumes.
  *
  * Training is memoized per table directory: q51/q52/q55/q64/q69 share
  * one training run per session (2 IVF + 3 PQ passes over a narrow
  * projection).
  */
object Codebooks {
  import CoreQueries.t

  /** 32 coarse cells: finer than round-3's 16 (halves per-cell candidate
    * count for the same probe fraction) while every cell stays populated
    * even at sf0.001 (500 vectors → ≥9 per cell measured).
    */
  val IvfCells = 32

  /** Lloyd iterations. Measured on the synthetic tables (probe script,
    * recall@10 of q51's nprobe=12 vs brute): 2 iterations lift IVF recall
    * to 10/10 at sf0.001 and 7/10 at sf0.01/sf0.1; a 3rd moves nothing.
    * PQ quantization MSE drops 0.89 → 0.68 (unit-norm signal) by
    * iteration 3, which is where its rerank recall plateaus (7-8/10).
    */
  val IvfIters = 2
  val PqIters = 3

  /** Lane quantizer for centroid updates: floor(x·2²⁰) — multiplying a
    * float-valued double by a power of two is exact, so the quantized
    * lane is a deterministic BIGINT in both engines and sums of it are
    * exact in any order.
    */
  val LaneScale = 1048576.0

  /** IVF init centroid j (the round-3 demo quantizer, extended to 32
    * cells): lane i = (((j·64+i)·2654435761 mod 2003) − 1001) / 1024 —
    * exactly representable in float32 (numerator ≤ 1001, denominator
    * 2¹⁰).
    */
  def ivfInitCentroid(j: Int): Array[Float] =
    Array.tabulate(64) { i =>
      ((((j.toLong * 64 + i) * 2654435761L) % 2003L - 1001L) / 1024.0).toFloat
    }

  // one entry per table path, holding (table version, codebook): a
  // rewritten embeddings table retrains and replaces its path's entry, so
  // N rewrites in one session hold one codebook per cache, not N
  private[operators] val ivfCache =
    TrieMap[String, (String, Array[Array[Float]])]()
  private[operators] val pqCache =
    TrieMap[String, (String, Array[Double])]()

  /** `dir`'s entry of `cache` if it was trained on the current embeddings
    * table version (at scale the version is the table snapshot id), else
    * `train`'s result, which replaces the entry.
    */
  private def memo[A](cache: TrieMap[String, (String, A)], dir: String)(
      train: => A): A = {
    val v = CoreQueries.tableVersion(dir, "embeddings")
    cache.get(dir) match {
      case Some((`v`, a)) => a
      case _ =>
        val a = train
        cache.put(dir, (v, a))
        a
    }
  }

  /** Trained IVF centroids for the table at `dir` (memoized per table
    * version).
    */
  def ivf(s: SparkSession, dir: String): Array[Array[Float]] =
    memo(ivfCache, dir)(
      trainIvf(t(s, dir, "embeddings").select(col("embedding"))))

  /** Trained flattened PQ codebook for the table at `dir` (memoized per
    * table version; [[graft.functions.VecKernels.pqInitCodebook]] layout).
    */
  def pq(s: SparkSession, dir: String): Array[Double] =
    memo(pqCache, dir)(
      trainPq(t(s, dir, "embeddings").select(col("embedding"))))

  /** Pay both trainings eagerly (the bench times this under its own key
    * so the q51/q52/q55/q64/q69 queries report pure query time).
    */
  def trainAll(s: SparkSession, dir: String): Unit = { ivf(s, dir); pq(s, dir) }

  /** One IVF Lloyd pass per iteration: assign every vector to its argmax-
    * cosine cell with the CURRENT centroids (the exact expression q51
    * plans), then per (cell, lane) sum the quantized lanes — 32×64 result
    * rows. The training set is the whole table (the query vector rides
    * along, as the oracle mirrors). Each pass evaluates the cell kernel
    * once per vector, before the lanes are exploded ([[ivfLanes]]).
    */
  private[operators] def trainIvf(emb: DataFrame): Array[Array[Float]] = {
    var cents = Array.tabulate(IvfCells)(ivfInitCentroid)
    for (_ <- 0 until IvfIters) {
      val next = cents.map(_.clone)
      ivfLanes(emb, cents).collect().foreach { r =>
        next(r.getInt(0))(r.getInt(1)) =
          (r.getLong(2).toDouble / (r.getLong(3) * LaneScale)).toFloat
      }
      cents = next
    }
    cents
  }

  /** The (cell, i, s, n) lane sums of one IVF pass under `cents`, with
    * the cell projected before the `posexplode` (the header says why).
    */
  private[operators] def ivfLanes(emb: DataFrame,
      cents: Array[Array[Float]]): DataFrame =
    // ragged/null-element vectors don't vote: ivfCell itself never
    // returns null (an all-null cosine struct array still sorts and
    // yields a j), and a SELF-cosine guard is not enough either — the
    // kernel only checks that its two inputs match in length, so a
    // ragged vector scores against itself just fine and would vote
    // its few lanes into a centroid. The guard is the explicit
    // validity predicate the DuckDB oracle CTEs (embv) mirror.
    emb
      .filter(SimilarityQueries.validVec(col("embedding")))
      .select(col("embedding"),
        SimilarityQueries.ivfCell(col("embedding"), cents).as("cell"))
      .select(col("cell"), posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("cell"), col("i"))
      .agg(sum(floor(col("x").cast("double") * LaneScale).cast("long"))
        .as("s"), count(lit(1)).as("n"))

  /** One PQ Lloyd pass per iteration: encode with the CURRENT codebook
    * (the [[graft.functions.PqCodes]] kernel q55 plans — per subvector
    * the argmin-L2² centroid, first-min tiebreak), then per
    * (subvector, code, dim) sum the quantized lanes — 16×16×4 result
    * rows. Each pass encodes a vector before its lanes are exploded
    * ([[pqLanes]]).
    */
  private[operators] def trainPq(emb: DataFrame): Array[Double] = {
    var cb = VecKernels.pqInitCodebook
    val sub = VecKernels.PqSubDim
    for (_ <- 0 until PqIters) {
      val next = cb.clone()
      pqLanes(emb, cb).collect().foreach { r =>
        next((r.getInt(0) * VecKernels.PqK + r.getInt(1)) * sub + r.getInt(2)) =
          (r.getLong(3).toDouble / (r.getLong(4) * LaneScale)).toFloat.toDouble
      }
      cb = next
    }
    cb
  }

  /** The (s, k, d, sm, n) lane sums of one PQ pass under codebook `cb`,
    * with the codes projected before the `posexplode`. Invalid vectors
    * are dropped by [[SimilarityQueries.validVec]] before the encode —
    * exactly the vectors the kernel would give null codes — so their
    * non-finite lanes never reach the quantizing cast, and no filter on
    * `codes` exists for the optimizer to push below the projection with
    * a second copy of the kernel: a vector is encoded once.
    */
  private[operators] def pqLanes(emb: DataFrame, cb: Array[Double]): DataFrame = {
    val sub = VecKernels.PqSubDim
    emb
      .filter(SimilarityQueries.validVec(col("embedding")))
      .select(col("embedding"),
        SimilarityQueries.pqCodesCol(col("embedding"), cb).as("codes"))
      .select(col("codes"), posexplode(col("embedding")).as(Seq("i", "x")))
      .select(expr(s"CAST(i DIV $sub AS INT)").as("s"),
        expr(s"CAST(shiftright(codes, 4 * (i DIV $sub)) & 15 AS INT)")
          .as("k"),
        expr(s"CAST(i % $sub AS INT)").as("d"),
        floor(col("x").cast("double") * LaneScale).cast("long").as("qi"))
      .groupBy("s", "k", "d")
      .agg(sum("qi").as("sm"), count(lit(1)).as("n"))
  }
}
