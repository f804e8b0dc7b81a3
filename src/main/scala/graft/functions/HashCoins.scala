package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Raw-digest MD5 kernels: the digest goes into a thread-local
  * MessageDigest instead of the builtin `md5()`'s per-call 32-char hex
  * UTF8String.
  */
object HashCoinUtil {
  private val tl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val HEX = "0123456789abcdef".toCharArray

  /** Min md5 digest over all w-code-point windows; see [[WinnowMinMd5]]. */
  def winnowMinMd5(s: UTF8String, w: Int): UTF8String = {
    val bytes = s.getBytes
    val len = bytes.length
    val md = tl.get()
    val scratch = new Array[Byte](16)
    val best = new Array[Byte](16)
    var have = false
    val ring = new Array[Int](w + 1)
    def hashWindow(from: Int, until: Int): Unit = {
      md.reset()
      md.update(bytes, from, until - from)
      md.digest(scratch, 0, 16)
      if (!have) { System.arraycopy(scratch, 0, best, 0, 16); have = true }
      else {
        var i = 0
        var cmp = 0
        while (i < 16 && cmp == 0) {
          cmp = (scratch(i) & 0xFF) - (best(i) & 0xFF)
          i += 1
        }
        if (cmp < 0) System.arraycopy(scratch, 0, best, 0, 16)
      }
    }
    var pos = 0
    var cp = 0
    while (pos < len) {
      if ((bytes(pos) & 0xC0) != 0x80) {
        if (cp >= w) hashWindow(ring((cp - w) % (w + 1)), pos)
        ring(cp % (w + 1)) = pos
        cp += 1
      }
      pos += 1
    }
    if (cp >= w) hashWindow(ring((cp - w) % (w + 1)), len)
    else hashWindow(0, len) // short/empty text: one whole-text window
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HEX((best(i) >> 4) & 0xF).toByte
      out(2 * i + 1) = HEX(best(i) & 0xF).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}

/** winnow_min_md5(text, w) → the lexicographic minimum of the md5 hex
  * digests of all w-CHARACTER windows of the text (the winnowing-family
  * fingerprint), as one streaming pass over the UTF-8 bytes. The
  * composed form (`array_min(transform(sequence(...), i ->
  * md5(substring(text, i, w))))`) allocates one substring AND one
  * 32-char hex string per character position; this kernel hashes each
  * window as a byte range between code-point boundaries (a ring buffer
  * of the last w+1 boundary offsets — `substring` is code-point-based
  * in Spark and DuckDB alike) and keeps one 16-byte running minimum,
  * hex-encoding only the winner. Texts shorter than w characters hash
  * as one whole-text window (the composed form's greatest(·,1) floor);
  * empty text yields md5(''). Null in, null out.
  */
case class WinnowMinMd5(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1 && w <= 255, s"winnow_min_md5: w=$w out of range [1, 255]")

  override def dataType: DataType = StringType
  override def prettyName: String = "winnow_min_md5"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"winnow_min_md5 expects string, got ${other.simpleString}")
    }

  def winnowOf(s: UTF8String): UTF8String = HashCoinUtil.winnowMinMd5(s, w)

  override protected def nullSafeEval(input: Any): Any =
    winnowOf(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("winnowMinMd5", this)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.winnowOf($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowMinMd5 =
    copy(child = newChild)
}

object HashCoins {
  def winnow_min_md5(c: Column, w: Int): Column =
    Shim.column(WinnowMinMd5(Shim.expression(c), w))
}
