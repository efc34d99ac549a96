package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dot product of two numeric array columns, value-identical to
  * `aggregate(zip_with(a, b, (x, y) => x.cast(double) * y.cast(double)),
  * 0.0, (acc, x) => acc + x)` (`OpsReference.dotHof` in the specs),
  * including its null semantics: zip_with pads the
  * shorter side with null and `+` propagates it, so unequal lengths or
  * any null element yield NULL; the empty dot is 0.0. Summation is the
  * same left-to-right IEEE order, so results are bit-identical.
  *
  * Why native: the HOF tree is interpreted per element with a zipped
  * intermediate array per row — it dominates every ANN operator
  * (signature planes × dim multiply-adds per row). This is one fused
  * loop; doGenCode (round 4) keeps the many-plane SRP/IVF projections
  * inside ONE whole-stage-codegen region instead of interpreting them.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  /** NULL can arise from non-null inputs (length mismatch / null
    * element), independent of child nullability. */
  override def nullable: Boolean = true

  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_dot expects array<float|double>, got " +
          s"${left.dataType} and ${right.dataType}")

  @transient private lazy val leftIsFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightIsFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("vecDot", this, classOf[VecDot].getName)
    val tmp = ctx.freshName("vecDotRes")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""java.lang.Double $tmp = (java.lang.Double) $ref.compute($a, $b);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.doubleValue(); }""".stripMargin)
  }

  /** Boxed so the null result (length mismatch / null element) survives
    * the codegen boundary; the box is one allocation per ROW against
    * dim multiply-adds. */
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null // zip_with pad → null sum
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null // null poisons `+`
      val x = if (leftIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightIsFloat) b.getFloat(i).toDouble else b.getDouble(i)
      sum += x * y
      i += 1
    }
    sum
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_dot"
}

object VecDot {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column-API entry point. */
  def vec_dot(a: Column, b: Column): Column =
    ColumnBridge.column(VecDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
