package graft.functions

import graft.ops.TextOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native marker-word language ID, value-identical to the declarative
  * shape it replaces (`OpsReference.langIdSql` in the specs): per
  * language, count `\b(w1|…|w5)\b` matches in
  * lower(text); predict the first language in [[TextOps.Markers]] order
  * whose count is positive and maximal, else "und".
  *
  * The regex semantics reduce exactly to token runs: Java's `\b` is
  * ASCII `\w` = [A-Za-z0-9_], and every marker is lowercase ASCII — so
  * a marker matches iff it equals a MAXIMAL ASCII-word-char run of the
  * lowered text (multi-byte UTF-8 bytes are non-word chars and thus
  * boundaries). One byte scan replaces 4 regex passes × the CASE
  * tree's recomputation of each count (profiled 1.5 s → ~0.1 s at
  * sf0.1). doGenCode keeps the surrounding projection inside
  * whole-stage codegen (the generated code calls `compute` on a
  * referenced instance).
  */
case class LangId(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"lang_id expects string, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("langId", this, classOf[LangId].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  def compute(input: UTF8String): UTF8String = {
    val bytes = input.toLowerCase.getBytes
    val counts = new Array[Int](LangId.langs.length)
    var i = 0
    val n = bytes.length
    while (i < n) {
      if (LangId.isWordByte(bytes(i))) {
        val start = i
        while (i < n && LangId.isWordByte(bytes(i))) i += 1
        val li = LangId.markerLang(bytes, start, i - start)
        if (li >= 0) counts(li) += 1
      } else i += 1
    }
    var best = 0
    i = 0
    while (i < counts.length) {
      if (counts(i) > best) best = counts(i)
      i += 1
    }
    if (best == 0) LangId.und
    else {
      var li = 0
      while (counts(li) != best) li += 1 // first language in Markers order
      LangId.langs(li)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): LangId =
    copy(child = newChild)

  override def prettyName: String = "lang_id"
}

object LangId {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  private val und = UTF8String.fromString("und")
  private[functions] val langs: Array[UTF8String] =
    TextOps.Markers.map(m => UTF8String.fromString(m._1)).toArray
  // marker bytes → language index, grouped by token length for cheap lookup
  private val markersByLang: Array[Array[Array[Byte]]] =
    TextOps.Markers.map(_._2.map(_.getBytes("UTF-8")).toArray).toArray

  private def isWordByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
      (b >= '0' && b <= '9') || b == '_'

  /** Language index of the token at bytes[off, off+len), or -1. */
  private def markerLang(bytes: Array[Byte], off: Int, len: Int): Int = {
    var li = 0
    while (li < markersByLang.length) {
      val ms = markersByLang(li)
      var mi = 0
      while (mi < ms.length) {
        val m = ms(mi)
        if (m.length == len) {
          var j = 0
          while (j < len && m(j) == bytes(off + j)) j += 1
          if (j == len) return li
        }
        mi += 1
      }
      li += 1
    }
    -1
  }

  /** Column-API entry point. */
  def lang_id(text: Column): Column =
    ColumnBridge.column(LangId(ColumnBridge.expression(text)))
}
