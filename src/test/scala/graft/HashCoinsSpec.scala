package graft

import graft.ShingleReference.md5_nibble0
import org.apache.spark.sql.functions._

/** md5_nibble0: raw-digest first-hex-nibble, pinned equivalent to the
  * hex-string form the DuckDB oracle computes.
  */
class HashCoinsSpec extends SparkSpec {

  test("nibble equals int value of substring(md5, 1, 1) on varied strings") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val strs = (0 until 5000).map { i =>
      val len = rng.nextInt(60)
      new String(Array.fill(len)((rng.nextInt(94) + 33).toChar)) + s" g$i"
    } :+ "" :+ "a" :+ "exact gram five words here" :+ "déjà vu ünïcode 文字"
    val df = strs.toDF("g")
    val mismatches = df.select(
        md5_nibble0(col("g")).as("nib"),
        conv(substring(md5(col("g")), 1, 1), 16, 10).cast("int").as("hexnib"))
      .filter(col("nib") =!= col("hexnib"))
      .count()
    assert(mismatches == 0L)
  }

  test("coin predicate matches the hex isin predicate and samples ~1/4") {
    import spark.implicits._
    val strs = (0 until 8000).map(i => s"gram token stream number $i variant ${i % 7}")
    val df = strs.toDF("g")
    val agree = df.select(
        (md5_nibble0(col("g")) % 4 === 0).as("coin"),
        substring(md5(col("g")), 1, 1).isin("0", "4", "8", "c").as("hex"))
    assert(agree.filter(col("coin") =!= col("hex")).count() == 0L)
    val rate = agree.filter(col("coin")).count().toDouble / strs.size
    assert(rate > 0.2 && rate < 0.3, rate)
  }

  test("null input yields null, not a crash") {
    import spark.implicits._
    val df = Seq(Some("x"), None).toDF("g")
    val out = df.select(md5_nibble0(col("g")).as("n")).collect()
    assert(out.count(_.isNullAt(0)) == 1)
  }

  test("winnow_min_md5 ≡ array_min(transform(md5(substring))) incl. multi-byte/short/empty") {
    import graft.functions.HashCoins.winnow_min_md5
    import spark.implicits._
    val rng = new scala.util.Random(61)
    val texts = Seq(
      "", "a", "exactly8", "nine char", " spaces  every where ",
      "déjà vu ünïcode 文字 🎉 mixed widths",   // multi-byte incl. astral
      "ééééé",   // combining marks (10 cps)
      "12345678",                               // exactly w chars → 1 window
    ) ++ (0 until 3000).map { _ =>
      val n = rng.nextInt(40)
      (0 until n).map(_ => rng.nextInt(5) match {
        case 0 => "語"
        case 1 => "é"
        case 2 => " "
        case _ => ('a' + rng.nextInt(26)).toChar.toString
      }).mkString
    }
    val df = texts.toDF("text")
    val bad = df.select(
        winnow_min_md5(col("text"), 8).as("fast"),
        expr("array_min(transform(sequence(1, greatest(length(text)-7, 1))," +
          " i -> md5(substring(text, i, 8))))").as("ref"))
      .filter(not(col("fast") <=> col("ref"))).count()
    assert(bad == 0L)
    // null in, null out
    val n = Seq[Option[String]](None).toDF("text")
      .select(winnow_min_md5(col("text"), 8).as("f")).head()
    assert(n.isNullAt(0))
  }
}
