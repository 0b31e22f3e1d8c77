package graft.bench

import java.nio.file.{Files, Paths}

/** Writes the pinned result file of a table directory:
  *
  *   Pin <tables dir> <work dir>
  *
  * runs every registered query once over the tables and records its row
  * count and digest (see [[QueriesWorkload.digest]]) one query a line.
  * Run it only after the engine's results on those tables were checked
  * against the DuckDB oracle (tools/check_oracle.py).
  */
object Pin {
  def main(argv: Array[String]): Unit = {
    val Array(data, work) = argv
    val spark = Main.session(Main.Cores, Paths.get(work))
    val lines = graft.SparkEntry.queries.map { case (name, fn) =>
      val rows = fn(spark, data).collect()
      s"$name ${rows.length} ${QueriesWorkload.digest(rows)}"
    }
    Files.writeString(QueriesWorkload.pinFile(Paths.get(data)),
      "# query rows digest\n" + lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
