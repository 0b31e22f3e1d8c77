package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every Parquet read in `src/main/scala` either passes a schema or goes
  * through [[graft.store.TableReader]], whose memo keeps a table version's
  * schema inference to one job per session — no Spark session: the check
  * reads the sources only.
  */
class SchemaReadSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val reader = root.resolve("graft/store/TableReader.scala")

  // a `.read` chain that reaches `.parquet(` with no `.schema(` call on
  // the way (option/format calls with flat arguments are skipped over)
  private val schemaLess =
    """\.read(\s*\.(?!schema\b)\w+\([^()]*\))*\s*\.parquet\(""".r

  test("the pattern flags schema-less reads and passes reads with a schema") {
    assert(schemaLess.findFirstIn("spark.read.parquet(p)").nonEmpty)
    assert(schemaLess.findFirstIn("s.read\n  .option(\"a\", \"b\").parquet(p)")
      .nonEmpty)
    assert(schemaLess.findFirstIn("spark.read.schema(S).parquet(p)").isEmpty)
    assert(schemaLess.findFirstIn("s.read.option(\"a\", \"b\").schema(S)" +
      ".parquet(p)").isEmpty)
  }

  test("no schema-less .read.parquet( in src/main/scala outside TableReader") {
    val files = Files.walk(root)
    val sources: Seq[Path] =
      try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally files.close()
    assert(sources.contains(reader))
    val offenders = for {
      f <- sources if f != reader
      m <- schemaLess.findAllMatchIn(Files.readString(f))
    } yield s"$f: ${m.matched}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
