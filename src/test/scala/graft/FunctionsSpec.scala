package graft

import graft.functions.vec.{intersect_size, vec_dot}
import org.apache.spark.sql.functions._

/** Custom Catalyst expressions + the injected optimizer rule. */
class FunctionsSpec extends SparkSpec {

  test("vec_dot is bit-identical to the HOF sequential fold") {
    val emb = Tables.embeddings(spark, sfTiny)
    val hof = expr(
      "aggregate(zip_with(embedding, embedding, (x, y) -> cast(x as double) * cast(y as double))," +
        " cast(0.0 as double), (acc, p) -> acc + p)")
    val mismatches = emb
      .select(vec_dot(col("embedding"), col("embedding")).as("native"), hof.as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(mismatches == 0)
  }

  test("text_token_counts ≡ the two regex extraction counts incl. multi-byte/edge texts") {
    import graft.functions.TokenCounts.text_token_counts
    import spark.implicits._
    val rng = new scala.util.Random(71)
    val texts = Seq(
      "", " ", "abc", "abc123", "a.b", "..", "a,b;c 12.5%", "  lead trail  ",
      "déjà vu 文字 🎉 mixed, 42 tokens!", "tab\there\nnewline",
      "ünïcode-dashes—and: quotes \"here\"",
      "ALL CAPS: YES!", "Éclair ÀÖ ＡＢ Zz", "?!;:,.", "𝔸𝔹 A😀Z",
    ) ++ (0 until 3000).map { _ =>
      val n = rng.nextInt(60)
      (0 until n).map(_ => rng.nextInt(9) match {
        case 8 => ('A' + rng.nextInt(26)).toChar.toString
        case 0 => " "
        case 1 => "語"
        case 2 => "é"
        case 3 => ('0' + rng.nextInt(10)).toChar.toString
        case 4 => ",.;:!?#".charAt(rng.nextInt(7)).toString
        case _ => ('a' + rng.nextInt(26)).toChar.toString
      }).mkString
    }
    val df = texts.toDF("text")
    def translated(cs: String) =
      (length(col("text")) - length(translate(col("text"), cs, ""))).cast("long")
    val bad = df
      .withColumn("tc", text_token_counts(col("text")))
      .select(col("tc.ws_tokens").as("fw"), col("tc.bpeish_tokens").as("fb"),
        col("tc.chars").as("fc"), col("tc.punct").as("fp"), col("tc.upper").as("fu"),
        size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long").as("rw"),
        size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0)"))
          .cast("long").as("rb"),
        length(col("text")).cast("long").as("rc"),
        translated(".,;:!?").as("rp"), translated(('A' to 'Z').mkString).as("ru"))
      .filter(col("fw") =!= col("rw") || col("fb") =!= col("rb") ||
        col("fc") =!= col("rc") || col("fp") =!= col("rp") || col("fu") =!= col("ru"))
      .count()
    assert(bad == 0L)
    // null in, null out — like the regex forms
    val n = Seq[Option[String]](None).toDF("text")
      .select(text_token_counts(col("text")).as("tc")).head()
    assert(n.isNullAt(0))
  }

  test("word_ngram_counts ≡ the composed transform/array_distinct form (n = 1, 2, 3)") {
    import graft.functions.TokenCounts.word_ngram_counts
    import spark.implicits._
    val rng = new scala.util.Random(83)
    val crafted = Seq[Option[String]](
      None, Some(""), Some(" "), Some("   "), Some("a"), Some("a b"),
      Some("a  b"), Some("  a b  "), Some("a   b   a   b"), Some(" a b a b a b "),
      Some("tab\there tab\there tab\there"), Some("a\tb a\tb"), Some("\t \t"),
      Some("déjà vu déjà vu 文字 文字 文字"), Some("👍 👍 👍 👍"),
      Some("é é e e"), Some("x y z x y z x y"))
    // small vocabularies so grams repeat, random runs of spaces
    val generated = (0 until 3000).map { _ =>
      val n = rng.nextInt(40)
      Some((0 until n).map(_ => rng.nextInt(9) match {
        case 0 => ""
        case 1 => "語"
        case 2 => "é\t"
        case 3 => "w" + rng.nextInt(3)
        case _ => ('a' + rng.nextInt(4)).toChar.toString
      }).mkString(if (rng.nextBoolean()) " " else "  "))
    }
    val df = (crafted ++ generated).toDF("text")
      .withColumn("w", expr("filter(split(text, ' '), x -> x != '')"))
    for (n <- 1 to 3) {
      val grams = expr(s"case when size(w) >= $n then transform(sequence(1, size(w)-${n - 1})," +
        s" i -> concat_ws(' ', ${(0 until n).map(j => s"element_at(w, i+$j)").mkString(", ")}))" +
        " else array() end")
      val bad = df
        .withColumn("g", grams)
        .withColumn("k", word_ngram_counts(col("text"), n))
        .filter(col("k.total") =!= size(col("g")) ||
          col("k.distinct") =!= size(array_distinct(col("g"))))
      assert(bad.count() == 0L, s"n=$n: ${bad.select("text").head(5).mkString(", ")}")
      // null text counts as the empty document, on both eval paths
      val nul = Seq[Option[String]](None).toDF("text")
        .select(word_ngram_counts(col("text"), n).as("k")).head()
      assert(nul.getStruct(0).getLong(0) == 0L && nul.getStruct(0).getLong(1) == 0L)
    }
    // the interpreted path agrees with the generated one
    val k = graft.functions.WordNgramCounts(
      org.apache.spark.sql.catalyst.expressions.Literal("a b a b a"), 2)
    val row = k.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    assert((row.getLong(0), row.getLong(1)) == ((4L, 2L)))
  }

  test("vec_dot evaluates correctly on a known vector") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val got = df.select(vec_dot(col("a"), col("b"))).head.getDouble(0)
    assert(got == 32.0)
  }

  test("vec_dot is registered for SQL via extensions") {
    import spark.implicits._
    Seq((Array(1.0f, 1.0f), Array(2.0f, 3.0f))).toDF("a", "b")
      .createOrReplaceTempView("graft_vecs")
    assert(spark.sql("SELECT vec_dot(a, b) FROM graft_vecs").head.getDouble(0) == 5.0)
  }

  test("vec_distsq is bit-identical to the HOF squared-difference fold") {
    val emb = Tables.embeddings(spark, sfTiny)
    // float vector vs a double-array centroid — the mixed-type shape the
    // k-means assignment pass actually runs
    val centroid = emb.selectExpr(
      "transform(embedding, x -> cast(x as double) + 0.25) as c_emb", "embedding")
    val hof = expr(
      "aggregate(zip_with(embedding, c_emb, (x, c) -> (cast(x as double) - c)" +
        " * (cast(x as double) - c)), cast(0.0 as double), (acc, p) -> acc + p)")
    val mismatches = centroid
      .select(graft.functions.vec.vec_distsq(col("embedding"), col("c_emb")).as("native"),
        hof.as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(mismatches == 0)
  }

  test("vec_distsq evaluates on known vectors and is SQL-registered") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f), Array(4.0, 6.0))).toDF("a", "b")
    assert(df.select(graft.functions.vec.vec_distsq(col("a"), col("b")))
      .head.getDouble(0) == 25.0)
    df.createOrReplaceTempView("graft_vecs_dd")
    assert(spark.sql("SELECT vec_distsq(a, b) FROM graft_vecs_dd").head.getDouble(0) == 25.0)
  }

  test("vec_signs is bit-identical to the HOF sign-sketch fold on real embeddings") {
    import graft.operators.Similarity
    val planes = spark.range(1).select(expr(Similarity.rhPlanesExprForSpec).as("w"))
    val mismatches = Tables.embeddings(spark, sfTiny)
      .crossJoin(broadcast(planes))
      .select(graft.functions.vec.vec_signs(col("embedding"), col("w")).as("native"),
        expr(Similarity.rhSketchHofReference).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(mismatches == 0)
  }

  test("vec_signs is SQL-registered") {
    import spark.implicits._
    Seq((Array(1.0f, -2.0f), 0)).toDF("v", "x").createOrReplaceTempView("graft_signs")
    val got = spark.sql(
      "SELECT vec_signs(v, array(array(1.0d, 0.0d), array(0.0d, 1.0d), array(-1.0d, 0.0d))) AS s" +
        " FROM graft_signs").head.getString(0)
    assert(got == "100") // dots: +1 → '1', −2 → '0', −1 → '0'
  }

  test("vec_argmin is SQL-registered and picks the nearest codeword") {
    import spark.implicits._
    Seq((Array(1.0, 0.0), 0)).toDF("emb", "x").createOrReplaceTempView("graft_am")
    val r = spark.sql(
      """SELECT vec_argmin(emb, 0.0d,
        |  array(struct(7L as cent_id, array(0.9d, 0.1d) as c_emb, 0.0d as c_nrm),
        |        struct(9L as cent_id, array(-1.0d, 0.0d) as c_emb, 0.0d as c_nrm)),
        |  true) AS b FROM graft_am""".stripMargin).select("b.cent_id", "b.cost").head()
    assert(r.getLong(0) == 7L)
    assert(math.abs(r.getDouble(1) - 0.02) < 1e-12)
  }

  test("vec_argmin on an empty codebook is null (both eval paths)") {
    import spark.implicits._
    Seq((Array(1.0, 2.0), 0)).toDF("emb", "x").createOrReplaceTempView("graft_am_empty")
    val sql = "SELECT vec_argmin(emb, 0.0d, " +
      "array()::array<struct<cent_id:bigint,c_emb:array<double>,c_nrm:double>>, true) AS b " +
      "FROM graft_am_empty"
    // codegen'd path
    assert(spark.sql(sql).head.isNullAt(0))
    // interpreted path (codegen off for this one query)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(spark.sql(sql).head.isNullAt(0))
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("intersect_size equals size(array_intersect)") {
    import spark.implicits._
    // The kernel keeps the right side's element set across consecutive
    // rows, so the ROW ORDER is the test: one parquet file, one split,
    // read back in file order. Elements are decimal strings so the same
    // rows also run as array<bigint>.
    val rng = new scala.util.Random(29)
    val pool = (100 until 160).map(_.toString)
    val fixed = pool.take(40)
    def pick(n: Int): Seq[String] = Seq.fill(n)(pool(rng.nextInt(pool.size)))
    val pairs: Seq[(Option[Seq[String]], Option[Seq[String]])] =
      // one right side over many rows; the left side's length varies, so
      // the right side's offset inside the row moves (reuse)
      (0 until 200).map(_ => (Some(pick(rng.nextInt(30))), Some(fixed))) ++
      // equal-length right sides differing in one element (rebuild)
      (0 until 20).map(i => (Some(Seq("1", "2", "3", "4")),
        Some(if (i % 2 == 0) Seq("1", "2", "3") else Seq("1", "2", "4")))) ++
      Seq(
        (Some(Seq(null, "1")), Some(Seq(null))), // null elements
        (Some(Seq(null)), Some(Seq("1"))),
        (Some(Seq(null, null, "1")), Some(Seq(null, "1", null))),
        (Some(Seq("1")), Some(Seq(null, "2"))),
        (Some(Seq.empty), Some(Seq("1"))), // empty sides
        (Some(Seq("1")), Some(Seq.empty)),
        (Some(Seq.empty), Some(Seq.empty)),
        (Some(Seq("5", "5", "6")), Some(Seq("5", "6", "6"))), // duplicates
        (None, Some(fixed)), // null arrays
        (Some(Seq("100")), None),
        // the many-row right side again: rebuilt once, then reused
        (Some(pool.take(5)), Some(fixed)),
        (Some(pool.drop(30)), Some(fixed)),
        (Some(fixed ++ fixed), Some(fixed)))
    def text(xs: Option[Seq[String]]): String =
      xs.filterNot(_.contains(null)).map(_.mkString(" ")).orNull
    def inter[T](a: Option[Seq[T]], b: Option[Seq[T]]): Option[Int] =
      for (x <- a; y <- b) yield x.toSet.intersect(y.toSet).size
    val want = pairs.zipWithIndex.map { case ((a, b), i) =>
      val split = (t: Option[Seq[String]]) =>
        Option(text(t)).map(_.split(" ", -1).toSeq)
      (i.toLong, (inter(a, b), inter(split(a), split(b))))
    }.toMap
    val dir = tmpDir()
    pairs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b, text(a), text(b)) }
      .toDF("id", "a", "b", "at", "bt")
      .withColumn("la", expr("transform(a, x -> cast(x as bigint))"))
      .withColumn("lb", expr("transform(b, x -> cast(x as bigint))"))
      .coalesce(1).write.parquet(s"$dir/t.parquet")
    // the right sides reach the kernel as UnsafeArrayData inside shuffle-
    // read rows, whose buffer the next row overwrites; the split arrays
    // come from the map side's projection
    def run(codegen: Boolean): Unit = {
      val df = spark.read.parquet(s"$dir/t.parquet")
        .select(col("id"), col("a"), col("b"), col("la"), col("lb"),
          split(col("at"), " ").as("sa"), split(col("bt"), " ").as("sb"))
        .repartition(1, lit(0))
        .select(col("id"),
          intersect_size(col("a"), col("b")).as("s"),
          intersect_size(col("la"), col("lb")).as("l"),
          intersect_size(col("sa"), col("sb")).as("t"),
          size(array_intersect(col("a"), col("b"))).as("stock"))
      val got = df.collect().map { r =>
        def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getInt(i))
        (r.getLong(0), (opt(1), opt(2), opt(3), opt(4)))
      }.toMap
      val plan = df.queryExecution.executedPlan.toString
      assert(raw"\*\(\d+\) Project \[.*intersect_size".r.findFirstIn(plan).isDefined == codegen,
        plan)
      assert(got.keySet == want.keySet)
      want.foreach { case (id, (s, t)) =>
        assert(got(id) == ((s, s, t, s)), s"row $id ${pairs(id.toInt)} codegen=$codegen")
      }
    }
    run(codegen = true)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try run(codegen = false)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("optimizer rule rewrites size(array_intersect) into intersect_size") {
    // needs a non-local source: literal inputs constant-fold into a
    // LocalRelation before the rule is observable
    val df = Tables.documents(spark, sfTiny)
      .select(split(col("text"), " ").as("a"), split(lower(col("text")), " ").as("b"))
      .select(size(array_intersect(col("a"), col("b"))).as("n"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("intersect_size"), optimized)
    assert(df.head.getInt(0) >= 1)
  }

  test("dedup jaccard plans use the fused intersect_size") {
    val p = graft.operators.Dedup.minhashLsh.fn(spark, sfTiny)
      .queryExecution.optimizedPlan.toString
    assert(p.contains("intersect_size"), p.take(2000))
  }

  test("redundant array_sort is eliminated under size/contains and commuted under distinct") {
    val words = Tables.documents(spark, sfTiny)
      .select(split(col("text"), " ").as("w"))
    // order-blind consumers: the sort disappears entirely
    val sized = words.select(size(array_sort(col("w"))).as("n"))
    assert(!sized.queryExecution.optimizedPlan.toString.contains("array_sort"),
      sized.queryExecution.optimizedPlan.toString)
    val contains = words.select(array_contains(array_sort(col("w")), "the").as("has"))
    assert(!contains.queryExecution.optimizedPlan.toString.contains("array_sort"),
      contains.queryExecution.optimizedPlan.toString)
    // idempotence: one sort survives, not two
    val twice = words.select(array_sort(array_sort(col("w"))).as("s"))
    assert("array_sort".r.findAllIn(
      twice.queryExecution.optimizedPlan.toString).size == 1)
    // distinct∘sort commutes to sort∘distinct (sort the smaller array)
    val ds = words.select(array_distinct(array_sort(col("w"))).as("d"))
    val opt = ds.queryExecution.optimizedPlan.toString
    assert(opt.contains("array_sort(array_distinct"), opt)
    // and results are unchanged vs the un-optimized formulation
    val a = ds.collect().map(_.getSeq[String](0))
    val b = words.collect().map(_.getSeq[String](0).distinct.sorted)
    assert(a.map(_.toList).toSet == b.map(_.toList).toSet)
  }

  test("might_contain_bucketed: per-bucket probe, absent bucket proves absence, null rides") {
    import spark.implicits._
    import graft.functions.bloom._
    // two buckets with known membership, bucket 2 deliberately absent
    def filterOf(keys: Seq[Long]): Array[Byte] =
      keys.toDF("k").agg(bloom_filter_agg(col("k"), 100L).as("bf"))
        .head().getAs[Array[Byte]]("bf")
    val filters = Map(0L -> filterOf(Seq(10L, 11L)), 1L -> filterOf(Seq(20L)))
    val rows = Seq(
      (Some(0L), Some(10L), true),   // member of its bucket
      (Some(0L), Some(20L), false),  // member of the OTHER bucket only
      (Some(1L), Some(20L), true),
      (Some(2L), Some(10L), false),  // absent bucket: proven absent
      (Option.empty[Long], Some(10L), false), // null bkt → null out
      (Some(0L), Option.empty[Long], false))  // null key → null out
      .toDF("bkt", "k", "want")
    // file-backed so ConvertToLocalRelation cannot fold the probe —
    // the codegen'd path must agree with the interpreted semantics
    val dir = tmpDir()
    rows.write.mode("overwrite").parquet(s"$dir/probe.parquet")
    val got = spark.read.parquet(s"$dir/probe.parquet")
      .withColumn("hit", might_contain_bucketed(filters, col("bkt"), col("k")))
      .collect()
    got.foreach { r =>
      if (r.isNullAt(r.fieldIndex("bkt")) || r.isNullAt(r.fieldIndex("k")))
        assert(r.isNullAt(r.fieldIndex("hit")), r.toString)
      else
        assert(r.getAs[Boolean]("hit") == r.getAs[Boolean]("want"), r.toString)
    }
    assert(got.length == 6)
    // analysis-time type contract (ADVICE r8): a non-long bkt/key must be
    // rejected uniformly at analysis, not ClassCastException in
    // interpreted eval / silent widening in codegen
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(("a", 1L)).toDF("s", "k")
        .withColumn("hit", might_contain_bucketed(filters, col("s"), col("k")))
        .collect()
    }
    assert(err.getMessage.toLowerCase.contains("type"), err.getMessage)
  }

  test("topk_agg keeps the k smallest (struct lexicographic), any merge order") {
    import spark.implicits._
    import graft.functions.TopKAgg.topk_agg
    // deterministic pseudo-random (value, id) pairs across groups, spread
    // over partitions so partial heaps genuinely merge
    val rows = (0 until 500).map { i =>
      (i % 7L, (i * 2654435761L) % 1000L, i.toLong)
    }
    val df = rows.toDF("g", "v", "id").repartition(13)
    val got = df.groupBy("g")
      .agg(topk_agg(struct(col("v"), col("id")), 5).as("top"))
      .collect().map(r => r.getAs[Long]("g") ->
        r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("top"))
          .map(x => (x.getLong(0), x.getLong(1)))).toMap
    val want = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(r => (r._2, r._3)).sorted.take(5)
    }
    assert(got.keySet == want.keySet)
    got.foreach { case (g, top) =>
      assert(top == want(g), s"group $g: $top vs ${want(g)}")
    }
    // groups smaller than k return everything, ascending
    val tiny = Seq((1L, 9L, 1L), (1L, 3L, 2L)).toDF("g", "v", "id")
      .groupBy("g").agg(topk_agg(struct(col("v"), col("id")), 5).as("top"))
      .collect().head.getSeq[org.apache.spark.sql.Row](1)
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(tiny == Seq((3L, 2L), (9L, 1L)))
  }
}
