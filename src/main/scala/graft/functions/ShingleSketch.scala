package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word-shingle MD5 kernels: one byte walk per document, no words
  * array and no shingle strings.
  *
  * Every kernel here rests on one observation: a w-word shingle joined
  * by single spaces over words split on single spaces is EXACTLY the
  * byte slice of the original text from the first word's start to the
  * last word's end (split/rejoin on the same separator is the identity
  * on the covered span, empty words included). So a shingle needs no
  * intermediate string: [[ShingleWalk]] finds space positions once and
  * each window hashes as an (offset, length) range of the text's UTF-8
  * bytes — safe because 0x20 never occurs inside a multi-byte UTF-8
  * sequence. Digests are compared as raw 16-byte arrays (unsigned byte
  * order ≡ lowercase-hex lexicographic order) and hex-encoded only on
  * output.
  *
  * Semantics are pinned (ShingleSketchSpec) to the plain-Spark string
  * form: with `shingles` the distinct
  * `transform(sequence(...), i -> concat_ws(' ', words[i..i+n-1]))`
  * strings, [[ShingleMd5Grams]] (mod 1) is
  * `array_sort(transform(shingles, x -> md5(x)))` and
  * [[ShingleMd5Sketch]] its first k — the bottom-k sketch, computed by
  * bounded insertion without sorting every digest. Both are EMPTY for
  * documents of fewer than n words, so the `size(words) >= n`
  * participation filter folds into `size(…) > 0`. Distinctness is by
  * digest (distinct shingle strings collide only if MD5 collides — and
  * then every md5-keyed consumer would merge them anyway).
  *
  * Reference behavior anchor: the reference indexes collections once
  * and serves queries from the precomputed structure (SQuOpt's
  * `ivm/optimization/Optimization.scala`); these kernels are the
  * build-side cost of that structure at corpus scale.
  */
/** THE word-window byte walk (ONE copy — a clamp or boundary fix
  * applied to one inlined copy would silently break the spec-pinned
  * equivalences of the other kernels; ShingleSketchSpec is the drift
  * canary for all of them), plus the shared digest comparator and hex
  * encoder the kernels use.
  */
private[functions] object ShingleWalk {
  private val tl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def md(): java.security.MessageDigest = tl.get()

  private val HEX: Array[Byte] = "0123456789abcdef".getBytes

  /** Call `f(from, until)` for every n-word window's byte range of
    * `bytes` (words split on single ' '; window = the literal byte
    * slice from the first word's start to the last word's end — empty
    * words, leading/trailing spaces included, exactly split/rejoin
    * identity). Returns the word count; a < n-word text gets no
    * windows. The callback signature is the Int-specialized Function2
    * apply — no boxing; the per-window virtual dispatch is noise next
    * to the MD5 each caller computes.
    */
  def eachWindow(bytes: Array[Byte], n: Int)(f: (Int, Int) => Unit): Int = {
    val len = bytes.length
    val starts = new Array[Int](n)
    var wordIdx = 0
    var wordStart = 0
    var pos = 0
    while (pos <= len) {
      if (pos == len || bytes(pos) == ' ') {
        starts(wordIdx % n) = wordStart
        if (wordIdx >= n - 1) f(starts((wordIdx - n + 1) % n), pos)
        wordIdx += 1
        wordStart = pos + 1
      }
      pos += 1
    }
    wordIdx
  }

  /** Unsigned lexicographic compare of two 16-byte digests (≡
    * lowercase-hex string order).
    */
  def cmp16(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < 16) {
      val d = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    0
  }

  /** Lowercase-hex UTF8String of a 16-byte digest. */
  def hex32(d: Array[Byte]): UTF8String = {
    val hex = new Array[Byte](32)
    var j = 0
    while (j < 16) {
      hex(2 * j) = HEX((d(j) >> 4) & 0xF)
      hex(2 * j + 1) = HEX(d(j) & 0xF)
      j += 1
    }
    UTF8String.fromBytes(hex)
  }
}

object ShingleSketchUtil {

  /** The k smallest distinct MD5 digests of the n-word shingles of
    * `s`, ascending, as lowercase hex; empty if `s` has < n words.
    */
  def sketch(s: UTF8String, n: Int, k: Int): GenericArrayData = {
    val bytes = s.getBytes
    val md = ShingleWalk.md()
    val scratch = new Array[Byte](16)
    val keep = new Array[Array[Byte]](k)
    var cnt = 0
    ShingleWalk.eachWindow(bytes, n) { (from, until) =>
      md.reset()
      md.update(bytes, from, until - from)
      md.digest(scratch, 0, 16)
      // bounded insertion with dedup; fast-reject on the k-th
      if (cnt < k || ShingleWalk.cmp16(scratch, keep(cnt - 1)) < 0) {
        val last = if (cnt < k) cnt else k - 1
        var p = last
        while (p > 0 && ShingleWalk.cmp16(keep(p - 1), scratch) > 0) p -= 1
        val dup = p > 0 && ShingleWalk.cmp16(keep(p - 1), scratch) == 0
        if (!dup) {
          val evicted =
            if (keep(last) == null) new Array[Byte](16) else keep(last)
          var q = last
          while (q > p) { keep(q) = keep(q - 1); q -= 1 }
          System.arraycopy(scratch, 0, evicted, 0, 16)
          keep(p) = evicted
          if (cnt < k) cnt += 1
        }
      }
    }
    val out = new Array[Any](cnt)
    var i = 0
    while (i < cnt) {
      out(i) = ShingleWalk.hex32(keep(i))
      i += 1
    }
    new GenericArrayData(out)
  }
}

object ShingleGramsUtil {

  /** The DISTINCT MD5 digests (lowercase hex, ascending) of the n-word
    * shingles of `s` whose first hex nibble ≡ 0 (mod `mod`) — the
    * content-stable gram sampling coin applied INSIDE the scan, before
    * anything materializes. mod=1 keeps every gram. Empty for < n
    * words. Same byte-slice window walk as [[ShingleSketchUtil]];
    * distinctness by digest (≡ array_distinct on gram strings modulo
    * MD5 collisions — and a collision would merge the same posting
    * lists in the composed form's md5-keyed consumers anyway).
    */
  def grams(s: UTF8String, n: Int, mod: Int): GenericArrayData = {
    val bytes = s.getBytes
    val md = ShingleWalk.md()
    val buf = new scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    ShingleWalk.eachWindow(bytes, n) { (from, until) =>
      md.reset()
      md.update(bytes, from, until - from)
      val d = md.digest()
      if (((d(0) >> 4) & 0xF) % mod == 0) buf += d
    }
    if (buf.isEmpty) return new GenericArrayData(Array.empty[Any])
    val arr = buf.toArray
    java.util.Arrays.sort(arr, ShingleWalk.cmp16(_, _))
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var i = 0
    while (i < arr.length) {
      if (i == 0 || !java.util.Arrays.equals(arr(i), arr(i - 1)))
        out += ShingleWalk.hex32(arr(i))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** The positions face of [[grams]]: distinct digests ascending, each
    * with the ASCENDING 1-based word positions where that gram starts —
    * (g hex, starts array<int>) struct rows. The strip family consumes
    * this: every start of a corpus-duplicated gram covers words
    * [start, start+n-1].
    */
  def gramPositions(s: UTF8String, n: Int): GenericArrayData = {
    val bytes = s.getBytes
    val md = ShingleWalk.md()
    val digests = new scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    ShingleWalk.eachWindow(bytes, n) { (from, until) =>
      md.reset()
      md.update(bytes, from, until - from)
      digests += md.digest()
    }
    if (digests.isEmpty) return new GenericArrayData(Array.empty[Any])
    // order gram positions by (digest, position): an index sort keeps
    // each digest's position list ascending for free
    val arr = digests.toArray
    val boxed = Array.tabulate(arr.length)(Integer.valueOf)
    java.util.Arrays.sort(boxed, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int = {
        val c = ShingleWalk.cmp16(arr(a), arr(b))
        if (c != 0) c else a - b
      }
    })
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var i = 0
    while (i < boxed.length) {
      var j = i + 1
      while (j < boxed.length &&
        java.util.Arrays.equals(arr(boxed(j)), arr(boxed(i)))) j += 1
      val ps = new Array[Int](j - i)
      var q = i
      while (q < j) { ps(q - i) = boxed(q) + 1; q += 1 }
      out += org.apache.spark.sql.catalyst.InternalRow(
        ShingleWalk.hex32(arr(boxed(i))), new GenericArrayData(ps))
      i = j
    }
    new GenericArrayData(out.toArray)
  }

  /** The run-length face of [[grams]]: distinct digests ascending with
    * their occurrence counts, as (g hex, cn) struct rows. No sampling —
    * the substring family counts every span.
    */
  def gramCounts(s: UTF8String, n: Int): GenericArrayData = {
    val bytes = s.getBytes
    val md = ShingleWalk.md()
    val buf = new scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    ShingleWalk.eachWindow(bytes, n) { (from, until) =>
      md.reset()
      md.update(bytes, from, until - from)
      buf += md.digest()
    }
    if (buf.isEmpty) return new GenericArrayData(Array.empty[Any])
    val arr = buf.toArray
    java.util.Arrays.sort(arr, ShingleWalk.cmp16(_, _))
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var i = 0
    while (i < arr.length) {
      var j = i + 1
      while (j < arr.length && java.util.Arrays.equals(arr(j), arr(i))) j += 1
      out += org.apache.spark.sql.catalyst.InternalRow(
        ShingleWalk.hex32(arr(i)), (j - i).toLong)
      i = j
    }
    new GenericArrayData(out.toArray)
  }
}

/** shingle_md5_gram_counts(text, n) → array<struct<g string, cn long>>:
  * the per-document gram-count table — DISTINCT n-word-gram digests
  * (lowercase hex, ascending) with their within-document occurrence
  * counts, computed in one byte-slice scan + sort + run-length pass.
  * The substring-dedup family needs multiplicities (a span repeated
  * WITHIN a doc counts every occurrence), so its posting stream was one
  * exploded gram-string row per position; this emits the already
  * collapsed (g, n_local) rows the first aggregation used to produce,
  * with digests as keys (count consumers only ever KEY on grams — the
  * [[ShingleMd5Grams]] injectivity argument). Empty for < n words.
  */
case class ShingleMd5GramCounts(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1 && n <= 64, s"shingle_md5_gram_counts: n=$n out of range [1, 64]")

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("g", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("cn",
        org.apache.spark.sql.types.LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "shingle_md5_gram_counts"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"shingle_md5_gram_counts expects string, got ${other.simpleString}")
    }

  def countsOf(s: UTF8String): GenericArrayData =
    ShingleGramsUtil.gramCounts(s, n)

  override protected def nullSafeEval(input: Any): Any =
    countsOf(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleGramCounts", this)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.countsOf($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleMd5GramCounts =
    copy(child = newChild)
}

/** shingle_md5_gram_positions(text, n) → array<struct<g string,
  * starts array<int>>>: distinct gram digests with their ascending
  * 1-based start-word positions ([[ShingleGramsUtil.gramPositions]]).
  * Empty for < n words, null only for null text.
  */
case class ShingleMd5GramPositions(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1 && n <= 64, s"shingle_md5_gram_positions: n=$n out of range [1, 64]")

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("g", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("starts",
        ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false),
        nullable = false))),
    containsNull = false)
  override def prettyName: String = "shingle_md5_gram_positions"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"shingle_md5_gram_positions expects string, got ${other.simpleString}")
    }

  def positionsOf(s: UTF8String): GenericArrayData =
    ShingleGramsUtil.gramPositions(s, n)

  override protected def nullSafeEval(input: Any): Any =
    positionsOf(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleGramPositions", this)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.positionsOf($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleMd5GramPositions =
    copy(child = newChild)
}

/** shingle_md5_grams(text, n, mod) → the distinct sampled gram digests
  * of [[ShingleGramsUtil.grams]]; empty for < n words, null only for
  * null text. The posting-stream face of the fused shingle family:
  * consumers that only ever KEY on grams (LSH posting lists, df caps)
  * bucket by the digest instead of the gram string — the pair sets are
  * identical (digest equality ≡ gram equality modulo MD5 collision)
  * while the words/gram/distinct array materializations disappear.
  */
case class ShingleMd5Grams(child: Expression, n: Int, mod: Int)
    extends UnaryExpression {
  require(n >= 1 && n <= 64, s"shingle_md5_grams: n=$n out of range [1, 64]")
  require(mod >= 1 && mod <= 16, s"shingle_md5_grams: mod=$mod out of range [1, 16]")
  // the coin samples on first-nibble % mod over 16 equiprobable nibble
  // values, so only a power-of-two mod yields an exact 1-in-mod rate
  // (mod=3 would keep 6/16, not 1/3) — reject the miscalibrated cases
  require((mod & (mod - 1)) == 0,
    s"shingle_md5_grams: mod=$mod must be a power of two for an exact 1/mod rate")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_md5_grams"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"shingle_md5_grams expects string, got ${other.simpleString}")
    }

  /** Optimizer duplication barrier, same contract as
    * [[ShingleMd5Sketch.deterministic]]: values are a pure function of
    * the text; the flag only stops alias-substituting predicate
    * pushdown from cloning this dominant per-row kernel into explicit
    * participation filters (decontam_ngram's `size(shingles) > 0`).
    */
  override lazy val deterministic: Boolean = false

  def gramsOf(s: UTF8String): GenericArrayData = ShingleGramsUtil.grams(s, n, mod)

  override protected def nullSafeEval(input: Any): Any =
    gramsOf(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleGrams", this)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.gramsOf($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleMd5Grams =
    copy(child = newChild)
}

/** shingle_md5_bottom_k(text, n, k) → the bottom-k MD5 sketch of the
  * text's n-word shingles (see [[ShingleSketchUtil.sketch]]); empty
  * for < n words, null only for null text.
  */
case class ShingleMd5Sketch(child: Expression, n: Int, k: Int)
    extends UnaryExpression {
  require(n >= 1 && n <= 64, s"shingle_md5_bottom_k: n=$n out of range [1, 64]")
  require(k >= 1 && k <= 1024, s"shingle_md5_bottom_k: k=$k out of range [1, 1024]")

  /** Declared non-deterministic as an OPTIMIZER DUPLICATION BARRIER, not
    * because values vary — sketchOf is a pure function of the text (the
    * ShingleSketchSpec equality pins and the cross-engine oracle depend
    * on that, and remain valid: retried tasks recompute identical
    * values). What the flag changes is optimizer behavior only: this is
    * the dominant per-row kernel of the minhash family (an MD5 over
    * every 5-gram of the document), and with it deterministic Spark's
    * InferFiltersFromGenerate + alias-substituting predicate pushdown
    * CLONE it into a `size(…) > 0 AND isnotnull(…)` filter under the
    * bucket explode — the plan then runs the kernel 3× per document
    * (caught by plans/r17/dedup_minhash_lsh_after.txt when the r17
    * cache removal exposed it; the r16 cached form already paid 2×).
    * Non-deterministic expressions may not be duplicated or reordered
    * across operators, so the kernel evaluates exactly ONCE per row in
    * its own projection and the inferred explode filter reads the
    * computed column above it. (Spark 4.1's InferFiltersFromGenerate
    * has no expensive-expression guard — the rule fires on any
    * ExplodeBase; this is the guide's §4.4 expensive-UDF discipline
    * applied to a native kernel.)
    */
  override lazy val deterministic: Boolean = false

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_md5_bottom_k"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"shingle_md5_bottom_k expects string, got ${other.simpleString}")
    }

  def sketchOf(s: UTF8String): GenericArrayData = ShingleSketchUtil.sketch(s, n, k)

  override protected def nullSafeEval(input: Any): Any =
    sketchOf(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleSketch", this)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.sketchOf($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleMd5Sketch =
    copy(child = newChild)
}

object ShingleSketch {
  def shingle_md5_bottom_k(c: Column, n: Int, k: Int): Column =
    Shim.column(ShingleMd5Sketch(Shim.expression(c), n, k))

  def shingle_md5_grams(c: Column, n: Int, mod: Int): Column =
    Shim.column(ShingleMd5Grams(Shim.expression(c), n, mod))

  def shingle_md5_gram_counts(c: Column, n: Int): Column =
    Shim.column(ShingleMd5GramCounts(Shim.expression(c), n))

  def shingle_md5_gram_positions(c: Column, n: Int): Column =
    Shim.column(ShingleMd5GramPositions(Shim.expression(c), n))
}
