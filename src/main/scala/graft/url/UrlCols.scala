package graft.url

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.ColumnBridge

/** Column-level URL helpers. */
object UrlCols {
  /** The engine's canonical URL identity (north_rule: "canonicalized +
    * hashed URLs ... host-salted 64-bit xxHash"): the native
    * [[graft.functions.UrlHash64]] expression, which canonicalizes and
    * hashes inside whole-stage codegen.
    */
  def urlHash64(url: Column): Column =
    ColumnBridge.column(graft.functions.UrlHash64(
      ColumnBridge.expression(url)))
}
