package graft

import graft.operators.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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
        explode(array_distinct(expr(Dedup.gramExpr("words", 5)))).as("g"))

  /** The 1-in-4 content-stable gram sampling coin over gram strings:
    * first md5 hex nibble mod 4 == 0, the oracle's
    * `substring(md5(g),1,1) IN ('0','4','8','c')`.
    */
  val ngramCoin: Column => Column =
    g => graft.functions.HashCoins.md5_nibble0(g) % 4 === 0

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
