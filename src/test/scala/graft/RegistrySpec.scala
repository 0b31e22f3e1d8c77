package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Shape of the driver query registry ([[SparkEntry.registry]]) — no Spark
  * session: every check reads the declarations only.
  */
class RegistrySpec extends AnyFunSuite {

  private val registry = SparkEntry.registry

  test("registry holds 62 queries with unique names") {
    val names = registry.map(_.name)
    assert(names.size == 62)
    assert(names.distinct == names, s"duplicates: ${names.diff(names.distinct)}")
  }

  test("every query carries a non-blank oracle and a positive ceiling") {
    registry.foreach { q =>
      assert(q.oracle.trim.nonEmpty, s"${q.name}: blank oracle")
      assert(q.ceilingSec > 0, s"${q.name}: ceilingSec ${q.ceilingSec}")
    }
  }

  test("registry and queries order equal the perfbench pinned-result order") {
    // perfbench's pins and query loop follow SparkEntry.queries order
    val pinned = Files.readAllLines(
      Paths.get("perfbench/data/sf0.001.pinned.txt")).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split(" ")(0))
    assert(registry.map(_.name) == pinned)
    assert(SparkEntry.queries.keys.toSeq == pinned)
  }
}
