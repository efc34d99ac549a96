package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native distinct word-n-gram shingles over a token-array column.
  *
  * Byte-identical to the declarative shape it replaces
  * (`OpsReference.shinglesHof` in the specs):
  * for token arrays of size >= n, all windows of n consecutive tokens
  * joined by a single space (concat_ws semantics: null tokens are
  * skipped), deduplicated keeping FIRST occurrence order
  * (array_distinct semantics); arrays shorter than n give an empty
  * array.
  *
  * Why native: `array_distinct(transform(sequence(...), slice+concat_ws))`
  * is an interpreted HigherOrderFunction tree — profiled at ~11 µs per
  * shingle (3 s per evaluation at sf0.1), and every dedup operator
  * evaluates it 2-3×. This is one loop with a linked hash set.
  *
  * doGenCode (round 4) keeps the row inside whole-stage codegen: the
  * generated code calls `compute` on a referenced instance, so the
  * projection around it no longer falls back to interpreted mode and
  * there is no per-row virtual `eval` boundary; the loop itself is the
  * same compiled Scala either way.
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression {
  require(n > 0 && n <= 64, s"shingle width out of range: $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"word_shingles expects array<string>, got $other")
    }

  @transient private lazy val space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordShingles", this, classOf[WordShingles].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  def compute(arr: ArrayData): ArrayData = {
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.empty[AnyRef])
    val toks = new Array[UTF8String](m)
    var i = 0
    while (i < m) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    val seen = new java.util.LinkedHashSet[UTF8String](2 * (m - n + 1))
    val window = new Array[UTF8String](n)
    i = 0
    while (i <= m - n) {
      System.arraycopy(toks, i, window, 0, n)
      seen.add(UTF8String.concatWs(space, window: _*)) // concat_ws skips nulls
      i += 1
    }
    val out = new Array[AnyRef](seen.size())
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)

  override def prettyName: String = "word_shingles"
}

object WordShingles {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column-API entry point. */
  def word_shingles(tokens: Column, n: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(tokens), n))
}
