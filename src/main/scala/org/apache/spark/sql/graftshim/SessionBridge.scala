package org.apache.spark.sql.graftshim

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession

/** Bridge to the `private[sql]` session state: the Hadoop configuration
  * Spark's own file writers start from — the context's Hadoop conf with
  * every SQL conf entry of the session laid over it.
  */
object SessionBridge {
  def newHadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()
}
