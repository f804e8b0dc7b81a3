package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused token-count kernel for the text_tokencount heuristics.
  *
  * The composed form ran TWO regex engines per document —
  * `regexp_extract_all(text, '\S+')` and
  * `regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')` —
  * each materializing an array of every matched substring just to take
  * its size. Both counts fall out of one byte scan with a four-class
  * state machine:
  *
  *   - ws_tokens: maximal runs of non-whitespace. The whitespace class
  *     is Java regex `\s` = ASCII [ \t\n\x0B\f\r] (the dialect the
  *     Spark side always computed; RE2's \s on the DuckDB side differs
  *     only on \x0B, outside every gate corpus). Multi-byte UTF-8
  *     units contain no ASCII bytes, so byte-level run detection ≡
  *     character-level.
  *   - bpeish_tokens: the alternation counts one per LETTER run, one
  *     per DIGIT run, and one per OTHER code point (single-char class
  *     — each non-alnum non-ws CODE POINT is its own match; counted at
  *     UTF-8 lead bytes, `(b & 0xC0) != 0x80`).
  *
  * Returns struct(ws_tokens, bpeish_tokens); null in, null out.
  * HashCoinsSpec-style equality with the regex forms is pinned in
  * FunctionsSpec incl. multi-byte text.
  */
case class TextTokenCounts(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("ws_tokens", LongType, nullable = false),
    StructField("bpeish_tokens", LongType, nullable = false)))
  override def prettyName: String = "text_token_counts"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"text_token_counts expects string, got ${other.simpleString}")
    }

  def countsOf(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    val len = bytes.length
    var ws = 0L
    var bpeish = 0L
    // classes: 0 = whitespace, 1 = letter, 2 = digit, 3 = other
    var prev = 0
    var inToken = false
    var pos = 0
    while (pos < len) {
      val b = bytes(pos)
      val isLead = (b & 0xC0) != 0x80
      val cls =
        if (b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r') 0
        else if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) 1
        else if (b >= '0' && b <= '9') 2
        else 3
      if (cls == 0) {
        inToken = false
        prev = 0
      } else {
        if (!inToken) { ws += 1; inToken = true }
        if (cls == 3) {
          // continuation bytes extend the current OTHER code point
          if (isLead) bpeish += 1
          prev = 3
        } else {
          if (cls != prev) bpeish += 1
          prev = cls
        }
      }
      pos += 1
    }
    InternalRow(ws, bpeish)
  }

  override protected def nullSafeEval(input: Any): Any =
    countsOf(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("textTokenCounts", this)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.countsOf($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): TextTokenCounts =
    copy(child = newChild)
}

object TokenCounts {
  def text_token_counts(c: Column): Column =
    Shim.column(TextTokenCounts(Shim.expression(c)))

  def word_ngram_counts(c: Column, n: Int): Column =
    Shim.column(WordNgramCounts(Shim.expression(c), n))
}

/** The per-thread interning tables of [[WordNgramCounts]], reused across
  * rows. A table slot is live iff its stamp equals the current
  * generation, so resetting a table is one counter bump, not a clear.
  */
private[functions] final class NgramScratch {
  // per distinct word id: its byte slice and hash
  var wFrom = new Array[Int](0)
  var wLen = new Array[Int](0)
  var wHash = new Array[Int](0)
  // per word position: its word id (`words`) and current gram id (`cur`)
  var words = new Array[Int](0)
  var cur = new Array[Int](0)
  // word table: slot → word id
  var wSlot = new Array[Int](0)
  var wStamp = new Array[Int](0)
  // (gram id, word id) pair table: slot → key, interned id
  var pKey = new Array[Long](0)
  var pId = new Array[Int](0)
  var pStamp = new Array[Int](0)
  private var gen = 0

  /** Room for `maxWords` words, tables at load ≤ 1/2. */
  def ensure(maxWords: Int): Unit = if (words.length < maxWords) {
    val cap = Integer.highestOneBit(math.max(maxWords, 8) - 1) << 1
    wFrom = new Array[Int](cap); wLen = new Array[Int](cap)
    wHash = new Array[Int](cap); words = new Array[Int](cap)
    cur = new Array[Int](cap)
    wSlot = new Array[Int](2 * cap); wStamp = new Array[Int](2 * cap)
    pKey = new Array[Long](2 * cap); pId = new Array[Int](2 * cap)
    pStamp = new Array[Int](2 * cap)
    gen = 0
  }

  /** A fresh generation: every slot of both tables reads as empty. */
  def nextGen(): Int = {
    if (gen == Int.MaxValue) {
      java.util.Arrays.fill(wStamp, 0)
      java.util.Arrays.fill(pStamp, 0)
      gen = 0
    }
    gen += 1
    gen
  }
}

/** word_ngram_counts(text, n) → struct<total bigint, distinct bigint>:
  * the number of word n-grams of `text` and how many of them are
  * distinct, over its NON-EMPTY ' '-separated words (tabs and other
  * bytes belong to words) — exactly
  * `size(grams)` and `size(array_distinct(grams))` of the composed
  * `transform(sequence(1, size(w)-n+1), i -> concat_ws(' ', w[i..i+n-1]))`
  * over `w = filter(split(text, ' '), x -> x != '')`, with 0 grams for
  * fewer than n words. Null text counts as the empty document (0, 0),
  * the house convention the composed form's CASE guard gave.
  *
  * Exact without hashing: one byte walk interns each word's byte slice
  * (hash table, collisions resolved by byte compare — safe on UTF-8
  * because 0x20 never occurs inside a multi-byte sequence), then each
  * level k = 2..n interns (id of the (k−1)-gram at i, word id at i+k−1)
  * pairs, so two n-grams get one id iff their word sequences are equal.
  * No gram string is ever built. FunctionsSpec pins the equality with
  * the composed form.
  */
case class WordNgramCounts(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1 && n <= 64, s"word_ngram_counts: n=$n out of range [1, 64]")

  override def dataType: DataType = StructType(Seq(
    StructField("total", LongType, nullable = false),
    StructField("distinct", LongType, nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "word_ngram_counts"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"word_ngram_counts expects string, got ${other.simpleString}")
    }

  def countsOf(s: UTF8String): InternalRow = {
    if (s == null) return InternalRow(0L, 0L)
    val bytes = s.getBytes
    val len = bytes.length
    val sc = WordNgramCounts.scratch.get()
    sc.ensure(len / 2 + 1)
    // level 1: intern the words
    val wMask = sc.wSlot.length - 1
    var gen = sc.nextGen()
    var nw = 0
    var nDistinct = 0
    var from = 0
    var h = 0
    var pos = 0
    while (pos <= len) {
      if (pos == len || bytes(pos) == ' ') {
        if (pos > from) {
          val wl = pos - from
          var slot = WordNgramCounts.mix(h) & wMask
          var id = -1
          while (id < 0 && sc.wStamp(slot) == gen) {
            val c = sc.wSlot(slot)
            if (sc.wHash(c) == h && sc.wLen(c) == wl &&
                java.util.Arrays.equals(bytes, sc.wFrom(c), sc.wFrom(c) + wl,
                  bytes, from, pos)) id = c
            else slot = (slot + 1) & wMask
          }
          if (id < 0) {
            id = nDistinct
            sc.wFrom(id) = from; sc.wLen(id) = wl; sc.wHash(id) = h
            sc.wSlot(slot) = id; sc.wStamp(slot) = gen
            nDistinct += 1
          }
          sc.words(nw) = id
          nw += 1
        }
        from = pos + 1
        h = 0
      } else h = 31 * h + bytes(pos)
      pos += 1
    }
    val total = nw - n + 1
    if (total <= 0) return InternalRow(0L, 0L)
    // levels 2..n: intern (gram id, next word id) pairs
    System.arraycopy(sc.words, 0, sc.cur, 0, nw)
    val pMask = sc.pKey.length - 1
    var k = 2
    while (k <= n) {
      gen = sc.nextGen()
      nDistinct = 0
      var i = 0
      while (i < nw - k + 1) {
        val key = (sc.cur(i).toLong << 32) | sc.words(i + k - 1)
        var slot = WordNgramCounts.mix64(key) & pMask
        var id = -1
        while (id < 0 && sc.pStamp(slot) == gen) {
          if (sc.pKey(slot) == key) id = sc.pId(slot)
          else slot = (slot + 1) & pMask
        }
        if (id < 0) {
          id = nDistinct
          sc.pKey(slot) = key; sc.pId(slot) = id; sc.pStamp(slot) = gen
          nDistinct += 1
        }
        sc.cur(i) = id
        i += 1
      }
      k += 1
    }
    InternalRow(total.toLong, nDistinct.toLong)
  }

  override def eval(input: InternalRow): Any =
    countsOf(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, FalseLiteral}
    val ref = ctx.addReferenceObj("wordNgramCounts", this)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        $ref.countsOf(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): WordNgramCounts =
    copy(child = newChild)
}

object WordNgramCounts {
  private[functions] val scratch = new ThreadLocal[NgramScratch] {
    override def initialValue(): NgramScratch = new NgramScratch
  }

  /** Murmur3's 32-bit finalizer: spreads a hash over the table mask. */
  private[functions] def mix(x: Int): Int = {
    var h = x
    h ^= h >>> 16; h *= 0x85EBCA6B
    h ^= h >>> 13; h *= 0xC2B2AE35
    h ^ (h >>> 16)
  }

  /** Murmur3's 64-bit finalizer, folded to an int table index. */
  private[functions] def mix64(x: Long): Int = {
    var h = x
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL
    h ^= h >>> 33; h *= 0xC4CEB9FE1A85EC53L
    h ^= h >>> 33
    h.toInt
  }
}
