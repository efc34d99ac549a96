package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native 64-bit SimHash over a token-array column, value-identical to
  * the Scala UDF it replaces (`OpsReference.simhashUdf` in the specs):
  * token hash = first 8 bytes of
  * md5(utf8), big-endian signed; per-bit majority vote, ties → 0.
  * One loop with a thread-local digest instead of a Scala UDF paying
  * the codegen-boundary Seq[String] conversion per row; doGenCode keeps
  * the surrounding projection inside whole-stage codegen (the generated
  * code calls `compute` on a referenced instance).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 expects array<string>, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simHash64", this, classOf[SimHash64].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  def compute(input: ArrayData): Long = {
    val arr = input
    val n = arr.numElements()
    val md = SimHash64.digests.get()
    val tally = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        val d = md.digest(arr.getUTF8String(i).getBytes)
        var h = 0L
        var k = 0
        while (k < 8) { h = (h << 8) | (d(k) & 0xFFL); k += 1 }
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) tally(b) += 1 else tally(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (tally(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

object SimHash64 {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Column-API entry point. */
  def simhash64(tokens: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(tokens)))
}
