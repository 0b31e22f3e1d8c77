package graft.tools

import org.apache.spark.sql.SparkSession

/** Scratch probe main for builder-side timing iteration (not part of the
  * driver contract): runs a single named Bench leg against a fresh
  * session so individual legs can be timed without the full bench.
  *   sbt "runMain graft.tools.Probe skew"
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val what = args.headOption.getOrElse("skew")
    val spark = graft.Bench.newSession(32, 32)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    what match {
      case "skew" => graft.Bench.skewLeg(spark, results)
      case "pq" =>
        val dir = "/root/testdata/sf0.001"
        val brute = graft.operators.SimilarityQueries
          .annBruteForce(spark, dir).collect().map(_.getLong(0)).toSet
        val pq = graft.operators.SimilarityQueries
          .annPq(spark, dir).collect()
        pq.foreach(r => println(
          s"vec=${r.getLong(0)} adc=${r.getLong(1)} cos=${r.getLong(2)}"))
        println(s"recall@10 vs brute: ${(brute &
          pq.map(_.getLong(0)).toSet).size}/10")
      case "codebooks" =>
        // dump trained codebooks for cross-checking against the python
        // Lloyd prototype (exact match expected):
        //   sbt "runMain graft.tools.Probe codebooks <sf dir>"
        val dir = args.lift(1).getOrElse("/root/testdata/sf0.001")
        val cents = graft.operators.Codebooks.ivf(spark, dir)
        cents.zipWithIndex.foreach { case (c, j) =>
          println(s"IVF $j ${c.take(4).mkString(",")}")
        }
        val cb = graft.operators.Codebooks.pq(spark, dir)
        (0 until 4).foreach { s =>
          println(s"PQ $s ${cb.slice(s * 64, s * 64 + 8).mkString(",")}")
        }
        // one digest over the raw bits of each full array, so two builds
        // can be compared bit for bit
        val ivfBits = java.nio.ByteBuffer.allocate(cents.map(_.length).sum * 4)
        cents.foreach(_.foreach(x => ivfBits.putInt(
          java.lang.Float.floatToRawIntBits(x))))
        val pqBits = java.nio.ByteBuffer.allocate(cb.length * 8)
        cb.foreach(x => pqBits.putLong(java.lang.Double.doubleToRawLongBits(x)))
        def sha256(b: java.nio.ByteBuffer): String =
          java.security.MessageDigest.getInstance("SHA-256")
            .digest(b.array()).map(x => f"$x%02x").mkString
        println(s"IVF sha256 ${sha256(ivfBits)}")
        println(s"PQ sha256 ${sha256(pqBits)}")
        val brute = graft.operators.SimilarityQueries
          .annBruteForce(spark, dir).collect().map(_.getLong(0)).toSet
        val ivf = graft.operators.SimilarityQueries
          .annIvf(spark, dir).collect().map(_.getLong(0)).toSet
        val pqr = graft.operators.SimilarityQueries
          .annPq(spark, dir).collect().map(_.getLong(0)).toSet
        println(s"IVF recall ${(brute & ivf).size}/10; " +
          s"PQ recall ${(brute & pqr).size}/10")
        println(s"semdedup survivors: ${graft.operators.SimilarityQueries
          .semDedup(spark, dir).count()}")
      case "ppl" =>
        // mean_e4 distribution of the perplexity filter (threshold calib)
        val dir = args.lift(1).getOrElse("/root/testdata/sf0.001")
        val df = graft.operators.TextQueries.perplexityFilter(spark, dir)
        df.selectExpr(
          "min(mean_e4)", "approx_percentile(mean_e4, 0.1)",
          "approx_percentile(mean_e4, 0.33)",
          "approx_percentile(mean_e4, 0.67)",
          "approx_percentile(mean_e4, 0.9)", "max(mean_e4)")
          .show(false)
        df.groupBy("bucket").count().show(false)
      case "explain" =>
        // final AQE plan of a named driver query at the given sf dir
        val name = args.lift(1).getOrElse("q21_ngram_jaccard")
        val dir = args.lift(2).getOrElse("/root/testdata/sf0.01")
        val df = graft.SparkEntry.queries(name)(spark, dir)
        // execute df's OWN QueryExecution (df.count() would build and run
        // a separate one, leaving this plan un-finalized under AQE)
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      case other => sys.error(s"unknown probe: $other")
    }
    results.foreach { case (k, v) => println(f"$k%-34s $v%12.3f") }
    spark.stop()
  }
}
