package graft

import graft.operators.Dedup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The plain-Spark STRING forms of the near-dup family's word-5-shingle
  * rule, kept as the references the byte-walk kernels
  * ([[graft.functions.ShingleMd5Grams]],
  * [[graft.functions.ShingleMd5Sketch]]) and the registered plans are
  * pinned against. Spark evaluates their `transform` lambdas element by
  * element, so no registered op builds n-grams this way (PlanLintSpec).
  */
object ShingleReference {

  /** A document's word-5-shingle strings as a column expression over
    * `text` (not distinct, no participation gate). Greatest-clamp +
    * try_element_at keep it total under speculative evaluation: a short
    * doc's descending sequence would hit element_at(words, 0), and
    * element_at past the array end THROWS under ANSI mode; try_element_at
    * yields null and concat_ws skips nulls.
    */
  val shingleStrings: Column = expr(
    "transform(sequence(1, greatest(size(split(text, ' '))-4, 1))," +
      " i -> concat_ws(' ', try_element_at(split(text, ' '),i)," +
      " try_element_at(split(text, ' '),i+1), try_element_at(split(text, ' '),i+2)," +
      " try_element_at(split(text, ' '),i+3), try_element_at(split(text, ' '),i+4)))")

  /** Each document's word-5-shingle STRINGS as a distinct array
    * (unsorted), gated on `size(words) >= 5`.
    */
  def withShingles(df: DataFrame): DataFrame =
    df.filter(size(split(col("text"), " ")) >= 5)
      .withColumn("shingles", array_distinct(shingleStrings))

  /** The bottom-8 MD5 sketch of a shingle-string array:
    * `slice(array_sort(transform(array_distinct(shingles), x -> md5(x))), 1, 8)`.
    */
  def composedSketch(shingles: Column): Column =
    slice(array_sort(transform(array_distinct(shingles), x => md5(x))), 1, 8)

  /** The per-doc DISTINCT gram posting stream (doc_id, g) as gram
    * STRINGS — the composed stream [[Dedup.fusedGramStream]] is pinned
    * against.
    */
  def ngramCandidateGrams(df: DataFrame): DataFrame =
    df.withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 5)
      .select(col("doc_id"),
        explode(array_distinct(expr(gramExpr("words", 5)))).as("g"))

  /** The 1-in-4 content-stable gram sampling coin over gram strings:
    * first md5 hex nibble mod 4 == 0, the oracle's
    * `substring(md5(g),1,1) IN ('0','4','8','c')`.
    */
  val ngramCoin: Column => Column = g => md5_nibble0(g) % 4 === 0

  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The first hex nibble of a string's MD5 digest, read off the raw
    * digest: `(digest[0] >>> 4) & 0xF`.
    */
  def md5Nibble0(s: UTF8String): Int = {
    val m = digests.get()
    m.reset()
    (m.digest(s.getBytes)(0) >> 4) & 0xF
  }

  /** md5_nibble0(string) → int 0..15, ≡ the int value of
    * `substring(md5(g), 1, 1)` (HashCoinsSpec pins it).
    */
  def md5_nibble0(c: Column): Column =
    Shim.column(Md5Nibble0(Shim.expression(c)))

  /** The k-word-gram transform over a words-array column as a SQL
    * string: array_join(slice) built and greatest-clamped so the
    * expression stays total under speculative evaluation (sequence()
    * DESCENDS for short docs and slice(start 0) throws).
    */
  def gramExpr(wordsCol: String, k: Int): String =
    s"transform(sequence(1, greatest(size($wordsCol)-${k - 1}, 1))," +
      s" i -> array_join(slice($wordsCol, i, $k), ' '))"

  /** The 8-word-gram posting stream (doc_id, g) as gram STRINGS — one
    * row per span position.
    */
  def substringGrams(docs: DataFrame): DataFrame = docs
    .withColumn("w", split(col("text"), " "))
    .filter(size(col("w")) >= 8)
    .select(col("doc_id"), explode(expr(gramExpr("w", 8))).as("g"))

  /** The composed substring window form over gram strings: (g, doc_id)
    * pre-count, then sum OVER (partition by g) — the reference the
    * registered fused form (Dedup.substringWindowFused) and the
    * incremental faces are pinned against.
    */
  def substringWindow(spark: SparkSession, docs: DataFrame): DataFrame = {
    val parts = Dedup.substringParts(spark, docs)
    Dedup.substringWindowTail(
      substringGrams(docs).repartition(parts, col("g"))
        .groupBy("g", "doc_id").agg(count(lit(1)).as("n_local")))
  }

  /** The dedup_ngram_jaccard plan over the composed string posting
    * stream, with an optional sampling coin.
    */
  def ngramJaccardPlan(coin: Option[Column => Column])(docs: DataFrame): DataFrame =
    Dedup.postingPairsPlan { d =>
      val allGrams = ngramCandidateGrams(d)
      coin.fold(allGrams)(c => allGrams.filter(c(col("g"))))
    }(docs, 0.2)

  /** The minhash pair plan over a composed (shingle builder → `sketch`
    * column) pass — the reference [[Dedup.minhashPairs]] is pinned against.
    */
  def minhashPairsPlan(shingleBuilder: DataFrame => DataFrame, sketch: Column)(
      docs: DataFrame, jaccardMin: Double): DataFrame =
    Dedup.postingPairsPlan(d =>
      Dedup.sketchPostings(shingleBuilder(d).withColumn("sketch", sketch)))(
      docs, jaccardMin).select("doc_a", "doc_b", "jaccard")
}

/** The expression behind [[ShingleReference.md5_nibble0]]. */
case class Md5Nibble0(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "md5_nibble0"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"md5_nibble0 expects string, got ${other.simpleString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    ShingleReference.md5Nibble0(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      s => s"${ev.value} = graft.ShingleReference.md5Nibble0($s);")

  override protected def withNewChildInternal(newChild: Expression): Md5Nibble0 =
    copy(child = newChild)
}
