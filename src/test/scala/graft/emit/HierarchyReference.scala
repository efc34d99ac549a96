package graft.emit

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Built-ins-only agreement reference for [[Hierarchy.prefixesOf]]: the
  * regexp_replace + split + interpreted transform/slice/array_join shape
  * the native PathPrefixes scan replaced, pinned equal to it by EmitSpec
  * and NativeAgreementFuzzSpec. */
object HierarchyReference {

  private val SchemeRe = "^[a-zA-Z][a-zA-Z0-9+.-]*://"
  /** The frozen messy-url policy (see [[Hierarchy]]): everything from the
    * first `?` or `#` is not path. `(?s)` so a (pathological) newline
    * after `?` cannot resurrect a suffix. */
  private val QueryFragRe = "(?s)[?#].*"

  /** url with its scheme, query string and fragment stripped (the path
    * key space). */
  private def pathOf(url: Column): Column =
    regexp_replace(regexp_replace(url, SchemeRe, ""), QueryFragRe, "")

  def prefixesOfSql(url: Column): Column = {
    val segs = split(pathOf(url), "/")
    when(size(segs) <= 1, array(pathOf(url)))
      .otherwise(transform(sequence(lit(1), size(segs) - 1),
        k => array_join(slice(segs, lit(1), k), "/")))
  }
}
