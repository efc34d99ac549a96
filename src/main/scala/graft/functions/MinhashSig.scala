package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native k-slot MinHash signature over a shingle-array column.
  *
  * Byte-identical to the declarative shape it replaces
  * (`OpsReference.minhashSigHof` in the specs):
  * per seed i in [0, k): min over shingles s of
  * lower-hex(md5(utf8(s) ++ utf8("#" + i))), with "g" as the empty-set
  * sentinel (sorts above every hex digit). Unsigned-byte comparison on
  * the 16-byte digests IS the hex-string lexicographic order, so the
  * hot loop never hex-encodes — only the k winners are encoded at the
  * end. The md5-hex form is the frozen, DuckDB-portable signature
  * (oracle q22 byte-matches it).
  *
  * Why native: the built-in `aggregate(zip_with(transform(...)))` tree
  * is a HigherOrderFunction pipeline — interpreted per element, one
  * fresh MessageDigest + hex string + two k-arrays allocated per
  * shingle. This expression is one tight loop with a thread-local
  * digest and a reusable scratch buffer; measured ~10× on the sf0.1
  * minhash query. The md5 loop dominates, but doGenCode (round 4) still
  * keeps the surrounding projection inside whole-stage codegen instead
  * of forcing it interpreted — the generated code calls `compute` on a
  * referenced instance.
  */
case class MinhashSig(child: Expression, k: Int)
    extends UnaryExpression {
  require(k > 0 && k <= 1024, s"minhash k out of range: $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig expects array<string>, got $other")
    }

  // "#0", "#1", ... — precomputed seed suffixes (deterministic)
  @transient private lazy val seedSuffix: Array[Array[Byte]] =
    Array.tabulate(k)(i => s"#$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashSig", this, classOf[MinhashSig].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.compute($c);")
  }

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val md = MinhashSig.digests.get()
    val mins = new Array[Array[Byte]](k) // null slot = empty sentinel "g"
    val scratch = new Array[Byte](16)
    var e = 0
    while (e < n) {
      if (!arr.isNullAt(e)) { // null shingles contribute nothing (least() skips nulls)
        val s = arr.getUTF8String(e).getBytes
        var i = 0
        while (i < k) {
          md.reset()
          md.update(s)
          md.update(seedSuffix(i))
          md.digest(scratch, 0, 16)
          val cur = mins(i)
          if (cur == null) mins(i) = java.util.Arrays.copyOf(scratch, 16)
          else if (MinhashSig.unsignedLess(scratch, cur))
            System.arraycopy(scratch, 0, cur, 0, 16)
          i += 1
        }
      }
      e += 1
    }
    val out = new Array[AnyRef](k)
    var i = 0
    while (i < k) {
      out(i) =
        if (mins(i) == null) MinhashSig.emptySentinel
        else UTF8String.fromBytes(MinhashSig.hexLower(mins(i)))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)

  override def prettyName: String = "minhash_sig"
}

object MinhashSig {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  private val emptySentinel = UTF8String.fromString("g")

  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val HEX = "0123456789abcdef".getBytes

  private[functions] def hexLower(d: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HEX((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HEX(d(i) & 0xf)
      i += 1
    }
    out
  }

  private[functions] def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** Column-API entry point. */
  def minhash_sig(sh: Column, k: Int): Column =
    ColumnBridge.column(MinhashSig(ColumnBridge.expression(sh), k))
}
