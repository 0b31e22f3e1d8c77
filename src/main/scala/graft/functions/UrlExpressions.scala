package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.url.UrlCanon
import graft.crawl.CrawlLoop

/** Native Catalyst expressions for the URL hot path, with `doGenCode` —
  * unlike a Scala UDF these stay inside whole-stage codegen (no
  * Option/row boxing, no UDF invocation bridge, null handling fused into
  * the generated code).
  *
  * `CanonicalizeUrl`  : string → RFC 3986 + reference-fixup canonical form
  * `UrlHash64`        : string → host-salted xxhash64 of the canonical URL
  *                      (the engine identity, == CrawlLoop.hash64)
  *
  * Registered as SQL functions `url_canon` / `url_hash64` by
  * [[GraftExtensions]].
  */
object UrlExprOps extends Serializable {
  def canon(u: UTF8String): UTF8String =
    if (u == null) null
    else UTF8String.fromString(UrlCanon.canonicalize(u.toString))

  def hash64(u: UTF8String): Long =
    if (u == null) 0L
    else CrawlLoop.hash64(UrlCanon.canonicalize(u.toString))

  def path(u: UTF8String): UTF8String =
    if (u == null) null
    else UTF8String.fromString(UrlCanon.pathOf(u.toString))
}

final case class CanonicalizeUrl(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("url_canon requires a string argument")
  override def nullSafeEval(input: Any): Any =
    UrlExprOps.canon(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.UrlExprOps.canon($c)")
  override protected def withNewChildInternal(newChild: Expression): CanonicalizeUrl =
    copy(child = newChild)
  override def prettyName: String = "url_canon"
}

/** Column twin of [[graft.url.UrlCanon.pathOf]], registered as the SQL
  * function `url_path` — calls the SAME row function from generated code,
  * so a SQL path cannot drift from the robots admission check's: the
  * earlier regex formulation diverged on uppercase schemes, embedded
  * newlines, and scheme-less strings containing '://'.
  */
final case class UrlPath(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("url_path requires a string argument")
  override def nullSafeEval(input: Any): Any =
    UrlExprOps.path(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.UrlExprOps.path($c)")
  override protected def withNewChildInternal(newChild: Expression): UrlPath =
    copy(child = newChild)
  override def prettyName: String = "url_path"
}

final case class UrlHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("url_hash64 requires a string argument")
  override def nullSafeEval(input: Any): Any =
    UrlExprOps.hash64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.UrlExprOps.hash64($c)")
  override protected def withNewChildInternal(newChild: Expression): UrlHash64 =
    copy(child = newChild)
  override def prettyName: String = "url_hash64"
}
