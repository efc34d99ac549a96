package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native ancestor-prefix derivation for the url-path hierarchy,
  * value-identical to the declarative shape it replaced
  * (HierarchyReference.prefixesOfSql in the specs): strip the
  * scheme (`^[a-zA-Z][a-zA-Z0-9+.-]*://`, ASCII letters only), drop the
  * query string / fragment (everything from the first '?' or '#' —
  * FROZEN messy-url policy: `https://h/p?x=1/2` contributes no
  * per-query-string SECTION node; see Hierarchy), split the remainder
  * on '/' (trailing empties kept, as Spark's split does), and emit the
  * joined prefixes of lengths 1..n-1 shallowest-first — or the whole
  * path as a single prefix when it has ≤ 1 segment.
  *
  * One string scan instead of a regexp_replace + split + interpreted
  * transform/slice/array_join tree per row — this runs per url in the
  * flagship emit path, so doGenCode keeps the surrounding projection
  * inside whole-stage codegen (the generated code calls `compute` on a
  * referenced instance, same pattern as MinhashSig).
  */
case class PathPrefixes(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"path_prefixes expects string, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pathPrefixes", this, classOf[PathPrefixes].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  def compute(input: UTF8String): ArrayData = {
    val url = input.toString
    val path = PathPrefixes.pathPart(url)
    // split points = '/' positions; prefixes end just before each one
    val slashes = new scala.collection.mutable.ArrayBuffer[Int]()
    var i = 0
    while (i < path.length) {
      if (path.charAt(i) == '/') slashes += i
      i += 1
    }
    val out =
      if (slashes.isEmpty) Array[AnyRef](UTF8String.fromString(path))
      else {
        val a = new Array[AnyRef](slashes.length)
        var k = 0
        while (k < slashes.length) {
          a(k) = UTF8String.fromString(path.substring(0, slashes(k)))
          k += 1
        }
        a
      }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PathPrefixes =
    copy(child = newChild)

  override def prettyName: String = "path_prefixes"
}

object PathPrefixes {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** `^[a-zA-Z][a-zA-Z0-9+.-]*://` removed if present — same acceptance
    * as the Hierarchy scheme regex, including the ASCII-only first
    * letter (Character.isLetter would also strip `é://x`, which the
    * regex shapes and the DuckDB oracles do not). */
  private[graft] def stripScheme(url: String): String = {
    def asciiLetter(c: Char): Boolean =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
    def schemeChar(c: Char): Boolean =
      asciiLetter(c) || (c >= '0' && c <= '9') || c == '+' || c == '.' || c == '-'
    if (url.isEmpty || !asciiLetter(url.charAt(0))) return url
    var i = 1
    while (i < url.length && schemeChar(url.charAt(i))) i += 1
    if (i + 2 < url.length && url.charAt(i) == ':' &&
      url.charAt(i + 1) == '/' && url.charAt(i + 2) == '/')
      url.substring(i + 3)
    else url
  }

  /** Scheme stripped AND query/fragment dropped: the path key space of
    * the hierarchy (frozen policy, shared with Extract.site and the
    * DuckDB oracle SQL). */
  private[graft] def pathPart(url: String): String = {
    val p = stripScheme(url)
    var i = 0
    while (i < p.length) {
      val c = p.charAt(i)
      if (c == '?' || c == '#') return p.substring(0, i)
      i += 1
    }
    p
  }

  /** Column-API entry point. */
  def path_prefixes(url: Column): Column =
    ColumnBridge.column(PathPrefixes(ColumnBridge.expression(url)))
}
