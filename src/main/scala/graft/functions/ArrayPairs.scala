package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, AtomicType, DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native unordered-pair generation over an array column: all
  * (x = a(i), y = a(j)) with i < j, in (i, j) order — value-identical to
  * the nested-transform shape it replaces (`ArrayPairsRef.pairsHof` in
  * the specs):
  * `flatten(transform(es, (a, i) => transform(slice(es, i+2, size(es)),
  * b => struct(a AS x, b AS y))))`.
  *
  * Element type is generic (round 6): bigint keeps the original
  * primitive loop; any other element type (atomic, or a struct/array of
  * them — the grouped-pair streams carry struct(id, sig) / struct(id,
  * emb) / struct(id, n)) goes through a single object loop that
  * defensive-copies each element once and shares the copy across its
  * n−1 pair rows. This replaced the interpreted pairsHof lambda tree on
  * the simhash-chunk and SRP-bucket pair paths (guide §4: no
  * interpreted expression in a hot loop).
  *
  * Output size is n·(n−1)/2 — callers bound n BEFORE this expression
  * (Emit.RelatesCap does). Null elements are not expected (callers
  * build the array from collect_list/collect_set) and are rejected
  * loudly rather than mis-paired. doGenCode keeps the projections this
  * runs in inside whole-stage codegen (the generated code calls
  * `compute` on a referenced instance).
  */
case class ArrayPairs(child: Expression)
    extends UnaryExpression {

  private lazy val elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("x", elemType, nullable = false),
      StructField("y", elemType, nullable = false))), containsNull = false)

  private def pairable(dt: DataType): Boolean = dt match {
    case StructType(fs) => fs.forall(f => pairable(f.dataType))
    case ArrayType(et, _) => pairable(et)
    case _: org.apache.spark.sql.types.MapType => false
    case org.apache.spark.sql.types.NullType => false
    case _ => true // atomic leaf types (numeric/string/binary/temporal/bool)
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(et, _) if pairable(et) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"array_pairs expects an array of atomic/struct/array elements, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("arrayPairs", this, classOf[ArrayPairs].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  def compute(input: ArrayData): ArrayData = elemType match {
    case LongType => computeLong(input)
    case et => computeAny(input, et)
  }

  private def computeLong(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val vs = new Array[Long](n)
    var i = 0
    while (i < n) {
      require(!arr.isNullAt(i), "array_pairs: null element")
      vs(i) = arr.getLong(i)
      i += 1
    }
    val out = new Array[AnyRef](n * (n - 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val row = new GenericInternalRow(2)
        row.setLong(0, vs(i))
        row.setLong(1, vs(j))
        out(k) = row
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  /** One defensive copy per element (the input may be backed by a reused
    * unsafe buffer); the copy is immutable downstream, so pair rows
    * share it by reference. */
  private def copyOf(v: Any): Any = v match {
    case null => null
    case r: InternalRow => r.copy()
    case a: ArrayData => a.copy()
    case s: UTF8String => s.clone()
    case other => other
  }

  private def computeAny(arr: ArrayData, et: DataType): ArrayData = {
    val n = arr.numElements()
    val vs = new Array[Any](n)
    var i = 0
    while (i < n) {
      require(!arr.isNullAt(i), "array_pairs: null element")
      vs(i) = copyOf(arr.get(i, et))
      i += 1
    }
    val out = new Array[AnyRef](n * (n - 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val row = new GenericInternalRow(2)
        row.update(0, vs(i))
        row.update(1, vs(j))
        out(k) = row
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(newChild: Expression): ArrayPairs =
    copy(child = newChild)

  override def prettyName: String = "array_pairs"
}

object ArrayPairs {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column-API entry point. */
  def array_pairs(es: Column): Column =
    ColumnBridge.column(ArrayPairs(ColumnBridge.expression(es)))
}
