package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass SimHash bit-vote kernel. */
object SimHashUtil {
  /** 64-bit signature: each of the 32 hex digits of every digest casts
    * TWO independent fair-coin votes — bit 2d from the digit's 8-bit
    * (value ≥ 8, i.e. '8'..'9','a'..'f'), bit 2d+1 from its 4-bit
    * (value & 4 ≠ 0, i.e. '4'..'7','c'..'f'); emit '1' where the tally
    * is positive. 64 bits (vs the original 32) is what keeps banded
    * near-dup search alive at scale: 16-bit bands have 65536 bucket
    * values, so bucket occupancy stays small at millions of documents
    * where 8-bit bands (256 values) overflow every bucket.
    */
  def compute(md5s: ArrayData): UTF8String = {
    val counts = new Array[Int](64)
    val n = md5s.numElements()
    var i = 0
    while (i < n) {
      val s = md5s.getUTF8String(i)
      if (s != null && s.numBytes() >= 32) {
        var d = 0
        while (d < 32) {
          val c = s.getByte(d)
          val v = if (c <= '9') c - '0' else c - 'a' + 10
          counts(2 * d) += (if ((v & 8) != 0) 1 else -1)
          counts(2 * d + 1) += (if ((v & 4) != 0) 1 else -1)
          d += 1
        }
      }
      i += 1
    }
    val out = new Array[Byte](64)
    var b = 0
    while (b < 64) {
      out(b) = if (counts(b) > 0) '1' else '0'
      b += 1
    }
    UTF8String.fromBytes(out)
  }
}

/** simhash_bits(array<string of md5 hex>) → 64-char '0'/'1' signature. */
case class SimHashBits(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "simhash_bits"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash_bits expects array<string>, got ${other.simpleString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    SimHashUtil.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      a => s"${ev.value} = graft.functions.SimHashUtil.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): SimHashBits =
    copy(child = newChild)
}

object simhash {
  def simhash_bits(md5s: Column): Column =
    Shim.column(SimHashBits(Shim.expression(md5s)))
}
