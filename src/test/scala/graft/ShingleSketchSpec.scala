package graft

import graft.functions.ShingleSketch.{shingle_md5_bottom_k, shingle_md5_grams}
import org.apache.spark.sql.functions._

/** The byte-walk shingle kernels, pinned equivalent to the plain-Spark
  * string forms ([[ShingleReference]]): split on ' ', distinct
  * concat_ws-' ' 5-gram strings, md5 each. The equivalence rests on
  * split-on-' ' / concat_ws-' ' rejoin being the identity on the covered
  * byte span — so the crafted cases stress exactly where that could
  * break: consecutive/leading/trailing spaces (empty words), multi-byte
  * UTF-8, and the <5-word participation boundary.
  */
class ShingleSketchSpec extends SparkSpec {

  /** A composed string form over `text`, empty below 5 words. */
  private def below5Empty(c: org.apache.spark.sql.Column) =
    when(size(split(col("text"), " ")) >= 5, c).otherwise(array().cast("array<string>"))

  /** The three sketch forms that must agree: the first 8 of the
    * distinct-digest walk (what Dedup.sketchTable keeps), the bounded
    * bottom-k kernel, and the plain-Spark string reference. Returns the
    * rows where any two differ.
    */
  private def sketchMismatches(df: org.apache.spark.sql.DataFrame) =
    df.select(col("text"),
        slice(shingle_md5_grams(col("text"), 5, 1), 1, 8).as("grams8"),
        shingle_md5_bottom_k(col("text"), 5, 8).as("fused"),
        below5Empty(ShingleReference.composedSketch(ShingleReference.shingleStrings))
          .as("ref"))
      .filter(not(col("fused") <=> col("ref")) || not(col("grams8") <=> col("ref")))

  test("fused ≡ composed sketch on crafted edge texts") {
    import spark.implicits._
    val texts = Seq(
      "one two three four five",                    // exactly 5 words
      "one two three four",                         // 4 words → empty
      "", " ", "  ", "a", "a b c d",                // degenerate
      "a  b c d e f",                               // consecutive spaces (empty word)
      " leading space one two three four five",     // leading empty word
      "trailing one two three four five ",          // trailing empty word
      "dup dup dup dup dup dup dup dup dup dup",    // all shingles identical
      "déjà vu ünïcode 文字 🎉 mixed byte widths here now", // multi-byte + astral
      ("w " * 200).trim,                            // many identical windows
      (1 to 300).map(i => s"tok$i").mkString(" "),  // many distinct windows
    )
    val rows = sketchMismatches(texts.toDF("text")).collect()
    assert(rows.isEmpty, rows.mkString("\n"))
  }

  test("fused ≡ composed on random texts (fuzz incl. random spacing)") {
    import spark.implicits._
    val rng = new scala.util.Random(47)
    val texts = (0 until 4000).map { _ =>
      val n = rng.nextInt(30)
      (0 until n).map { _ =>
        rng.nextInt(5) match {
          case 0 => ""                        // consecutive-space generator
          case 1 => s"w${rng.nextInt(8)}"     // high dup rate
          case 2 => s"token${rng.nextInt(10000)}"
          case 3 => "日本語" + rng.nextInt(30)
          case _ => s"x${rng.nextInt(100)}y"
        }
      }.mkString(" ")
    }
    assert(sketchMismatches(texts.toDF("text")).count() == 0L)
  }

  test("null text yields null; <5 words yields empty (the participation gate)") {
    import spark.implicits._
    val df = Seq[Option[String]](None, Some("a b"), Some("a b c d e f")).toDF("text")
    val got = df.select(shingle_md5_bottom_k(col("text"), 5, 8).as("s"))
      .select(col("s").isNull.as("n"), coalesce(size(col("s")), lit(-1)).as("sz"))
      .collect().map(r => (r.getBoolean(0), r.getInt(1)))
    assert(got.toSeq == Seq((true, -1), (false, 0), (false, 2)))
  }

  test("fused gram stream ≡ composed distinct-gram md5 stream (crafted + fuzz)") {
    import spark.implicits._
    val rng = new scala.util.Random(53)
    val texts = Seq(
      "one two three four five six seven",
      "dup dup dup dup dup dup dup dup",      // all windows identical
      "a  b c d e f", "", "a b c d",
      "déjà vu ünïcode 文字 🎉 mixed byte widths here now",
    ) ++ (0 until 2000).map { _ =>
      val n = rng.nextInt(25)
      (0 until n).map(_ => if (rng.nextInt(4) == 0) "" else s"w${rng.nextInt(12)}")
        .mkString(" ")
    }
    // composed: distinct gram strings → md5 each → sorted; sampled form
    // filters on the first hex nibble — exactly the ngramCoin semantics
    val composedAll = array_sort(transform(
      array_distinct(ShingleReference.shingleStrings), g => md5(g)))
    val df = texts.toDF("text")
    val bad1 = df.select(
        shingle_md5_grams(col("text"), 5, 1).as("fused"),
        when(size(split(col("text"), " ")) >= 5, composedAll)
          .otherwise(array().cast("array<string>")).as("ref"))
      .filter(not(col("fused") <=> col("ref"))).count()
    assert(bad1 == 0L)
    val bad4 = df.select(
        shingle_md5_grams(col("text"), 5, 4).as("fused"),
        when(size(split(col("text"), " ")) >= 5, composedAll)
          .otherwise(array().cast("array<string>")).as("refall"))
      .withColumn("ref", expr(
        "filter(refall, h -> (conv(substring(h, 1, 1), 16, 10) % 4) = 0)"))
      .filter(not(col("fused") <=> col("ref"))).count()
    assert(bad4 == 0L)
  }

  test("fused ngram pair plan ≡ composed pair plan (sampled + unsampled, sf0.001)") {
    val docs = Tables.documents(spark, sfTiny)
    def pairs(df: org.apache.spark.sql.DataFrame) = {
      val got = df.collect().map(r => (r.getAs[Long]("doc_a"),
        r.getAs[Long]("doc_b"),
        math.round(r.getAs[Double]("jaccard") * 1e9))).toSet
      CacheRegistry.drain()
      got
    }
    import graft.operators.Dedup
    val fusedS = pairs(Dedup.postingPairsPlan(Dedup.fusedGramStream(4))(docs, 0.2))
    val composedS = pairs(ShingleReference.ngramJaccardPlan(
      Some(ShingleReference.ngramCoin))(docs))
    assert(fusedS == composedS,
      s"missing=${composedS -- fusedS} extra=${fusedS -- composedS}")
    val fusedU = pairs(Dedup.postingPairsPlan(Dedup.fusedGramStream(1))(docs, 0.2))
    val composedU = pairs(ShingleReference.ngramJaccardPlan(None)(docs))
    assert(fusedU == composedU)
    assert(fusedS.nonEmpty && fusedU.nonEmpty && fusedS.subsetOf(fusedU))
  }

  test("fused gram counts ≡ composed substring gram stream (sf0.001 + within-doc repeats)") {
    import graft.functions.ShingleSketch.shingle_md5_gram_counts
    import graft.operators.Dedup
    import spark.implicits._
    def check(docs: org.apache.spark.sql.DataFrame): Unit = {
      val fused = docs.select(col("doc_id"),
          explode(shingle_md5_gram_counts(col("text"), 8)).as("p"))
        .select(col("doc_id"), col("p.g").as("g"), col("p.cn").as("cn"))
      val composed = ShingleReference.substringGrams(docs)
        .groupBy(col("doc_id"), md5(col("g")).as("g"))
        .agg(count(lit(1)).as("cn"))
      assert(fused.exceptAll(composed).count() == 0L)
      assert(composed.exceptAll(fused).count() == 0L)
    }
    check(Tables.documents(spark, sfTiny))
    // a doc whose 8-word span repeats WITHIN the doc (cn > 1) and one
    // below the gram width (empty output)
    check(Seq(
      (0L, (("a b c d e f g h " * 3).trim), "en"),
      (1L, "too short for eight", "en"),
    ).toDF("doc_id", "text", "lang"))
  }

  test("fused gram positions ≡ composed posexplode stream (sf0.001 + within-doc repeats)") {
    import graft.functions.ShingleSketch.shingle_md5_gram_positions
    import spark.implicits._
    def check(docs: org.apache.spark.sql.DataFrame): Unit = {
      val fused = docs.select(col("doc_id"),
          explode(shingle_md5_gram_positions(col("text"), 8)).as("p"))
        .select(col("doc_id"), col("p.g").as("g"),
          explode(col("p.starts")).as("i"))
      // composed: the strip family's position stream with md5'd keys
      val composed = docs
        .select(col("doc_id"), split(coalesce(col("text"), lit("")), " ").as("w"))
        .filter(size(col("w")) >= 8)
        .select(col("doc_id"), posexplode(expr(
          ShingleReference.gramExpr("w", 8))))
        .select(col("doc_id"), md5(col("col")).as("g"), (col("pos") + 1).as("i"))
      assert(fused.exceptAll(composed).count() == 0L)
      assert(composed.exceptAll(fused).count() == 0L)
      // starts ascending within each struct row
      val unsorted = docs.select(explode(
          shingle_md5_gram_positions(col("text"), 8)).as("p"))
        .filter(not(col("p.starts") <=> array_sort(col("p.starts")))).count()
      assert(unsorted == 0L)
    }
    check(Tables.documents(spark, sfTiny))
    check(Seq(
      (0L, (("a b c d e f g h " * 3).trim), "en"),
      (1L, "too short for eight", "en"),
    ).toDF("doc_id", "text", "lang"))
  }

  test("registered fused pair plan ≡ composed pair plan on the sf0.001 corpus") {
    val docs = Tables.documents(spark, sfTiny)
    def pairs(df: org.apache.spark.sql.DataFrame) = {
      val got = df.collect().map(r => (r.getAs[Long]("doc_a"),
        r.getAs[Long]("doc_b"),
        math.round(r.getAs[Double]("jaccard") * 1e9))).toSet
      CacheRegistry.drain()
      got
    }
    val fused = pairs(graft.operators.Dedup.minhashPairs(docs, 0.2))
    val composedPlan = pairs(ShingleReference.minhashPairsPlan(
      ShingleReference.withShingles,
      ShingleReference.composedSketch(col("shingles")))(docs, 0.2))
    assert(fused == composedPlan,
      s"missing=${composedPlan -- fused} extra=${fused -- composedPlan}")
    assert(fused.nonEmpty)
  }
}
