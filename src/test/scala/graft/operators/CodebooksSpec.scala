package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._

import graft.functions.{CosineE4, PqCodes, VecKernels}

/** Invariants of the deterministic Lloyd codebook training (q51/q52/q55):
  * exact-rational init, partition-order independence of the quantized mean
  * updates, empty-cell retention, that training actually buys
  * quantization quality on the real table (the recall story's substrate),
  * that each pass's kernel runs below the lane explode (the PQ encode
  * exactly once), and bit identity with an independent driver-side Lloyd
  * loop.
  */
class CodebooksSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("codebooks-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val real = "/root/testdata/sf0.001"

  test("IVF init centroids are the exact-rational family: numerator " +
    "in [-1001, 1001], denominator 2^10, float-exact") {
    (0 until Codebooks.IvfCells).foreach { j =>
      val c = Codebooks.ivfInitCentroid(j)
      assert(c.length == 64)
      c.zipWithIndex.foreach { case (x, i) =>
        val num = (j.toLong * 64 + i) * 2654435761L % 2003L - 1001L
        assert(x.toDouble == num / 1024.0, s"lane ($j,$i)")
        // exactly representable: scaling by 2^10 recovers the integer
        assert(x.toDouble * 1024.0 == num.toDouble)
      }
    }
  }

  test("trainIvf is partition-layout independent: the quantized-BIGINT " +
    "mean updates give bit-identical centroids at 3 vs 13 partitions") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val rows = (0 until 300)
      .map(_ => Seq.fill(64)((rnd.nextDouble() * 2 - 1).toFloat))
      .map(Tuple1(_))
    val df = rows.toDF("embedding")
    val a = Codebooks.trainIvf(df.repartition(3))
    val b = Codebooks.trainIvf(df.repartition(13))
    assert(a.length == Codebooks.IvfCells)
    (a zip b).zipWithIndex.foreach { case ((ca, cb), j) =>
      assert(ca.toSeq == cb.toSeq, s"cell $j diverged across layouts")
    }
  }

  test("cells that receive no vectors keep their init centroid; a voted " +
    "cell becomes the float-rounded quantized mean of its members") {
    import spark.implicits._
    // every vector is a positive multiple of init centroid 5 → cosine 1.0
    // to cell 5 (strictly less to every other init centroid), so cell 5
    // gets ALL the votes and every other cell gets none
    val c5 = Codebooks.ivfInitCentroid(5)
    val scales = Seq(1.0f, 2.0f, 3.5f)
    val df = scales.map(s => Tuple1(c5.map(_ * s).toSeq)).toDF("embedding")
      .repartition(2)
    val trained = Codebooks.trainIvf(df)
    (0 until Codebooks.IvfCells).filter(_ != 5).foreach { j =>
      assert(trained(j).toSeq == Codebooks.ivfInitCentroid(j).toSeq,
        s"empty cell $j drifted from its init centroid")
    }
    // independent recompute of the update arithmetic for the voted cell
    val expect = Array.tabulate(64) { i =>
      val qsum = scales.map(s =>
        math.floor((c5(i) * s).toDouble * Codebooks.LaneScale).toLong).sum
      (qsum.toDouble / (scales.length * Codebooks.LaneScale)).toFloat
    }
    assert(trained(5).toSeq == expect.toSeq)
  }

  test("training is memoized per table dir: repeated lookups return the " +
    "same codebook instance") {
    assert(Codebooks.ivf(spark, real) eq Codebooks.ivf(spark, real))
    assert(Codebooks.pq(spark, real) eq Codebooks.pq(spark, real))
  }

  test("a rewritten embeddings table retrains and replaces its dir's " +
    "entry: one entry per cache, holding the new table's codebooks") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("codebooks-rewrite")
      .toString
    val path = s"$dir/embeddings.parquet"
    def write(seed: Int): DataFrame = {
      val rnd = new scala.util.Random(seed)
      val df = Seq.fill(200)(Tuple1(Seq.fill(64)((rnd.nextDouble() * 2 - 1)
        .toFloat))).toDF("embedding")
      df.write.mode("overwrite").parquet(path)
      df
    }
    def entries: (Int, Int) = (Codebooks.ivfCache.size, Codebooks.pqCache.size)

    write(1)
    Codebooks.trainAll(spark, dir)
    val (ivf1, pq1) = (Codebooks.ivf(spark, dir), Codebooks.pq(spark, dir))
    val after1 = entries
    val df2 = write(2)
    Codebooks.trainAll(spark, dir)
    assert(entries == after1, "a rewrite added cache entries")
    val (ivf2, pq2) = (Codebooks.ivf(spark, dir), Codebooks.pq(spark, dir))
    assert(ivf2.map(_.toSeq).toSeq != ivf1.map(_.toSeq).toSeq)
    assert(pq2.toSeq != pq1.toSeq)
    assert(ivf2.map(_.toSeq).toSeq ==
      Codebooks.trainIvf(df2).map(_.toSeq).toSeq)
    assert(pq2.toSeq == Codebooks.trainPq(df2).toSeq)
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    (0 until 64).foreach { i =>
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  test("Lloyd training improves IVF quantization on the real table: mean " +
    "best-cell cosine strictly above the init codebook's") {
    val vecs = spark.read.parquet(s"$real/embeddings.parquet")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    val init = Array.tabulate(Codebooks.IvfCells)(Codebooks.ivfInitCentroid)
    val trained = Codebooks.ivf(spark, real)
    def meanBest(cents: Array[Array[Float]]): Double =
      vecs.map(v => cents.map(c => cosine(v, c)).max).sum / vecs.length
    val (mi, mt) = (meanBest(init), meanBest(trained))
    assert(mt > mi + 0.05, f"trained $mt%.4f vs init $mi%.4f")
  }

  test("Lloyd training lowers PQ reconstruction error on the real table") {
    import graft.functions.VecKernels._
    val vecs = spark.read.parquet(s"$real/embeddings.parquet")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    def mse(cb: Array[Double]): Double = vecs.map { v =>
      var err = 0.0
      (0 until PqSubs).foreach { s =>
        // same argmin-L2² encode rule as the kernel, independent loop
        val best = (0 until PqK).minBy { k =>
          (0 until PqSubDim).map { i =>
            val d = v(s * PqSubDim + i).toDouble -
              cb((s * PqK + k) * PqSubDim + i)
            d * d
          }.sum
        }
        (0 until PqSubDim).foreach { i =>
          val d = v(s * PqSubDim + i).toDouble -
            cb((s * PqK + best) * PqSubDim + i)
          err += d * d
        }
      }
      err
    }.sum / vecs.length
    val (ei, et) = (mse(pqInitCodebook), mse(Codebooks.pq(spark, real)))
    assert(et < ei * 0.9, f"trained $et%.4f vs init $ei%.4f")
  }

  /** ~300 vectors: uniform lanes, plus bisectors of init-centroid pairs
    * (exact IVF ties at the init codebook), salted with every shape the
    * validity rule rejects — ragged, null-lane, NaN, ±Inf, all-zero and
    * null vectors.
    */
  private lazy val dirtyVecs: Seq[Option[Seq[Option[Float]]]] = {
    val rnd = new scala.util.Random(61)
    def uniform(): Array[Float] =
      Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)
    def unit(c: Array[Float]): Array[Double] = {
      val n = math.sqrt(c.map(x => x.toDouble * x).sum)
      c.map(_ / n)
    }
    val plain = Seq.fill(280)(uniform())
    val bisectors = Seq((3, 1), (9, 2), (20, 7), (31, 30)).map { case (a, b) =>
      val (ua, ub) = (unit(Codebooks.ivfInitCentroid(a)),
        unit(Codebooks.ivfInitCentroid(b)))
      Array.tabulate(64)(i => (ua(i) + ub(i)).toFloat)
    }
    def salted(x: Float): Array[Float] = { val v = uniform(); v(17) = x; v }
    val bad = Seq(uniform().take(63), uniform() ++ uniform().take(1),
      Array.empty[Float], salted(Float.NaN), salted(Float.NaN),
      salted(Float.PositiveInfinity), salted(Float.NegativeInfinity),
      Array.fill(64)(0.0f), Array.fill(64)(0.0f))
    val lanes = (plain ++ bisectors ++ bad).map(v => Some(v.toSeq.map(Some(_))))
    val nullLane = Seq.fill(3)(Some(uniform().toSeq.map(Some(_))
      .updated(40, None)))
    rnd.shuffle(lanes ++ nullLane ++ Seq.fill(3)(None))
  }

  private lazy val dirtyDf: DataFrame = {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("codebooks-dirty")
      .resolve("embeddings.parquet").toString
    dirtyVecs.map(Tuple1(_)).toDF("embedding").write.parquet(path)
    spark.read.parquet(path)
  }

  private def isKernel(e: Expression): Boolean = e.exists {
    case _: CosineE4 | _: PqCodes => true
    case _ => false
  }

  private def assertKernelBelowGenerate(lanes: DataFrame): Unit = {
    val plan = lanes.queryExecution.optimizedPlan
    val gens = plan.collect { case g: Generate => g }
    assert(gens.size == 1, s"expected one Generate in:\n$plan")
    val gen = gens.head
    def above(p: LogicalPlan): Seq[LogicalPlan] =
      if (p eq gen) Nil
      else if (p.exists(_ eq gen)) p +: p.children.flatMap(above)
      else Nil
    above(plan).foreach { op =>
      assert(!op.expressions.exists(isKernel),
        s"${op.nodeName} above the Generate evaluates the kernel per lane:\n$plan")
    }
    assert(gen.child.exists(_.expressions.exists(isKernel)),
      s"the kernel is not computed below the Generate:\n$plan")
  }

  test("each Lloyd pass evaluates its kernel once per vector: the cell " +
    "and the PQ codes are computed below the posexplode, never above it") {
    val cents = Array.tabulate(Codebooks.IvfCells)(Codebooks.ivfInitCentroid)
    assertKernelBelowGenerate(Codebooks.ivfLanes(dirtyDf, cents))
    val pq = Codebooks.pqLanes(dirtyDf, VecKernels.pqInitCodebook)
    assertKernelBelowGenerate(pq)
    // exactly one encode: no filter on the codes holding a second copy
    val plan = pq.queryExecution.optimizedPlan
    val encodes = plan.flatMap(_.expressions.flatMap(_.collect {
      case p: PqCodes => p
    }))
    assert(encodes.size == 1, s"expected one pq_codes in:\n$plan")
  }

  test("trainIvf and trainPq equal an independent driver-side Lloyd loop " +
    "bit for bit on a table salted with invalid vectors") {
    val lane = Codebooks.LaneScale
    def arr(v: Seq[Option[Float]]) =
      new GenericArrayData(v.map(_.fold(null: Any)(x => x)).toArray)
    def q(x: Float): Long = math.floor(x.toDouble * lane).toLong
    val valid = dirtyVecs.flatten.filter(v => v.length == 64 &&
      v.forall(_.exists(x => !x.isNaN && !x.isInfinite)) &&
      v.exists(_.exists(_ != 0.0f))).map(_.map(_.get))
    assert(valid.length == 284, "salted vectors must not pass the rule")

    // IVF: argmax cosine_e4, smallest cell index on ties
    var ties = 0
    var cents = Array.tabulate(Codebooks.IvfCells)(Codebooks.ivfInitCentroid)
    (0 until Codebooks.IvfIters).foreach { _ =>
      val sums = Array.ofDim[Long](Codebooks.IvfCells, 64)
      val ns = new Array[Long](Codebooks.IvfCells)
      val cs = cents.map(c => arr(c.toSeq.map(Some(_))))
      valid.foreach { v =>
        val va = arr(v.map(Some(_)))
        val scores = cs.map(VecKernels.cosineE4(va, _))
        assert(scores.forall(_ != null))
        val best = scores.map(_.longValue).max
        val cell = scores.indexWhere(_.longValue == best)
        if (scores.count(_.longValue == best) > 1) ties += 1
        (0 until 64).foreach(i => sums(cell)(i) += q(v(i)))
        ns(cell) += 1
      }
      cents = Array.tabulate(Codebooks.IvfCells) { j =>
        if (ns(j) == 0) cents(j)
        else Array.tabulate(64)(i =>
          (sums(j)(i).toDouble / (ns(j) * lane)).toFloat)
      }
    }
    assert(ties > 0, "no IVF tie: the smallest-index rule is unexercised")

    // PQ: per subvector argmin-L2² code, every lane into (s, k, d)
    import VecKernels.{PqK, PqSubDim}
    var cb = VecKernels.pqInitCodebook
    (0 until Codebooks.PqIters).foreach { _ =>
      val sums = new Array[Long](cb.length)
      val ns = new Array[Long](cb.length)
      dirtyVecs.flatten.foreach { v =>
        val codes = VecKernels.pqCodes(arr(v), cb)
        if (codes != null) v.map(_.get).zipWithIndex.foreach { case (x, i) =>
          val s = i / PqSubDim
          val k = ((codes.longValue >> (4 * s)) & 15L).toInt
          val idx = (s * PqK + k) * PqSubDim + i % PqSubDim
          sums(idx) += q(x)
          ns(idx) += 1
        }
      }
      cb = Array.tabulate(cb.length)(idx =>
        if (ns(idx) == 0) cb(idx)
        else (sums(idx).toDouble / (ns(idx) * lane)).toFloat.toDouble)
    }

    val ivf = Codebooks.trainIvf(dirtyDf)
    (ivf zip cents).zipWithIndex.foreach { case ((got, want), j) =>
      assert(got.map(java.lang.Float.floatToRawIntBits).toSeq ==
        want.map(java.lang.Float.floatToRawIntBits).toSeq, s"IVF cell $j")
    }
    assert(Codebooks.trainPq(dirtyDf).map(java.lang.Double.doubleToRawLongBits)
      .toSeq == cb.map(java.lang.Double.doubleToRawLongBits).toSeq)
  }
}
