package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftshim.ColumnBridge

/** SparkSessionExtensions hook registering the engine's native functions
  * with the SQL surface:
  *
  *   spark.sql("SELECT url_hash64(url), url_canon(url) FROM pages")
  *
  * Install with
  * `SparkSession.builder.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions` — the standard
  * plug-point, so a cluster operator enables them with one conf line.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name), f.build _))
    }
}

object GraftExtensions {
  /** One SQL function: `build` checks the argument count against
    * `lo to hi` and hands the arguments to `mk`. Both the arity and the
    * integer-literal errors name the function, at analysis time, instead
    * of surfacing as an IndexOutOfBoundsException or an eval NPE (and
    * extra arguments are never silently ignored).
    */
  final case class SqlFunction(name: String, cls: Class[_ <: Expression],
      lo: Int, hi: Int, mk: Args => Expression) {
    def build(children: Seq[Expression]): Expression = {
      if (children.length < lo || children.length > hi)
        throw new IllegalArgumentException(
          s"$name expects ${if (hi == lo) s"$lo" else s"$lo to $hi"} " +
            s"argument(s), got ${children.length}")
      mk(new Args(name, children))
    }
  }

  final class Args(fn: String, children: Seq[Expression]) {
    def apply(i: Int): Expression = children(i)

    /** Argument `i` as an integer LITERAL, `default` when absent; a
      * column, a non-number, or a FRACTIONAL number (2.9 would otherwise
      * silently truncate to 2) is rejected.
      */
    def int(i: Int, default: Int): Int =
      if (children.length <= i) default
      else children(i) match {
        case Literal(v: Number, _) if v.doubleValue() == v.intValue().toDouble =>
          v.intValue()
        case e => throw new IllegalArgumentException(
          s"$fn expects integer literal parameters, got: ${e.sql}")
      }
  }

  private def unary(name: String, cls: Class[_ <: Expression],
      mk: Expression => Expression): SqlFunction =
    SqlFunction(name, cls, 1, 1, a => mk(a(0)))

  /** Every SQL function the engine registers; [[GraftExtensions.apply]]
    * and [[install]] both register exactly this list.
    *
    * CODEBOOK CONTRACT: the SQL-registered `pq_codes`/`pq_cos_e4` pair
    * binds the deterministic INIT codebook
    * ([[VecKernels.pqInitCodebook]]) on BOTH sides, so codes encoded and
    * scored through SQL are always self-consistent. The q55 DataFrame
    * path binds the [[graft.operators.Codebooks]]-TRAINED codebook on
    * both of its sides instead. The two surfaces must never be mixed in
    * one query: codes from one scored by the other are silently wrong
    * (ADC is meaningless under a different codebook). There is no SQL
    * access to the trained codebook by design — a session-trained
    * artifact has no stable SQL identity; pass it explicitly through the
    * DataFrame API ([[graft.operators.SimilarityQueries.pqCodesCol]] /
    * `pqCosCol`), which takes the codebook as a parameter so encode and
    * score share one value by construction. VecExpressionsSpec pins the
    * SQL pair's self-consistency and the cross-surface mismatch.
    */
  val functions: Seq[SqlFunction] = Seq(
    unary("url_canon", classOf[CanonicalizeUrl], CanonicalizeUrl(_)),
    unary("url_hash64", classOf[UrlHash64], UrlHash64(_)),
    unary("url_path", classOf[UrlPath], UrlPath(_)),
    // word_shingles(text[, n=3])
    SqlFunction("word_shingles", classOf[WordShingles], 1, 2,
      a => WordShingles(a(0), a.int(1, 3))),
    // minhash_bands(shingles[, k=32, bands=8])
    SqlFunction("minhash_bands", classOf[MinhashBands], 1, 3,
      a => MinhashBands(a(0), a.int(1, 32), a.int(2, 8))),
    // word_grams(text[, n=3]): ordered non-distinct n-grams
    SqlFunction("word_grams", classOf[WordGrams], 1, 2,
      a => WordGrams(a(0), a.int(1, 3))),
    unary("gopher_stats", classOf[GopherStats], GopherStats(_)),
    unary("simhash64", classOf[SimHash64], SimHash64(_)),
    SqlFunction("cosine_e4", classOf[CosineE4], 2, 2,
      a => CosineE4(a(0), a(1))),
    // rhp_sig64(vec[, nBits=8])
    SqlFunction("rhp_sig64", classOf[RhpSig64], 1, 2,
      a => RhpSig64(a(0), a.int(1, 8))),
    unary("pq_codes", classOf[PqCodes], PqCodes(_)),
    SqlFunction("pq_cos_e4", classOf[PqCosE4], 2, 2,
      a => PqCosE4(a(0), a(1))),
    unary("clean_title", classOf[CleanTitle], CleanTitle(_)),
    unary("search_variants", classOf[SearchVariants], SearchVariants(_)),
    unary("atom_first_id", classOf[AtomFirstId], AtomFirstId(_)))

  /** Install the same functions on an already-built session (temp
    * functions) — for hosts that construct the SparkSession themselves.
    */
  def install(spark: SparkSession): Unit =
    functions.foreach(f =>
      ColumnBridge.registerTempFunction(spark, f.name, f.build))
}
