package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Degenerate-input behavior: operators must not throw on empty or
  * too-short documents/tables — at 100 TB every pathological row shape
  * exists somewhere in the corpus.
  */
class EdgeCaseSpec extends SparkSpec {

  private lazy val weirdDocsDir: String = {
    import spark.implicits._
    val docs = Seq(
      (0L, "", "en", "s", 0L),                       // empty text
      (1L, "one", "en", "s", 3L),                    // single token
      (2L, "two words", "en", "s", 9L),              // below shingle width
      (3L, "a b c d e", "en", "s", 9L),              // exactly shingle width
      (4L, "   ", "en", "s", 3L),                    // whitespace only
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tmpDir()
    writeTable(dir, "documents", docs)
    dir
  }

  test("dedup ops tolerate short/empty documents") {
    assert(Dedup.exact.fn(spark, weirdDocsDir).count() == 5)
    assert(Dedup.ngramJaccard.fn(spark, weirdDocsDir).count() == 0)
    assert(Dedup.minhashLsh.fn(spark, weirdDocsDir).count() == 0)
    assert(Dedup.simhash.fn(spark, weirdDocsDir).count() == 5)
    // short docs fall back to token features; no near-dup pairs expected
    assert(Dedup.simhashBlocks.fn(spark, weirdDocsDir).count() ==
      Dedup.simhashPairs.fn(spark, weirdDocsDir).count())
    assert(Dedup.bloomNewBucketed.fn(spark, weirdDocsDir).count() ==
      Dedup.bloomNew.fn(spark, weirdDocsDir).count())
    assert(Graph.dedupClusters.fn(spark, weirdDocsDir).count() == 5)
  }

  test("text ops tolerate short/empty documents") {
    assert(TextAnalysis.tokenCount.fn(spark, weirdDocsDir).count() == 5)
    assert(TextAnalysis.fingerprint.fn(spark, weirdDocsDir).count() == 5)
    val q = TextAnalysis.quality.fn(spark, weirdDocsDir)
    assert(q.count() == 4) // empty text filtered by length > 0
    // gopher gate: every weird doc is far below the 50-word floor → all
    // fail, but every row still scores (no throw, no dropped rows)
    val g = TextAnalysis.gopherQuality.fn(spark, weirdDocsDir).collect()
    assert(g.length == 5 && g.forall(_.getAs[Long]("gopher_pass") == 0L))
    // and the rules discriminate on the real corpus: both classes present
    val real = TextAnalysis.gopherQuality.fn(spark, sfTiny)
      .groupBy("gopher_pass").count().collect()
    assert(real.length == 2, real.mkString(";"))
  }

  test("ttr: exact ratios on crafted docs, degenerate docs score zero") {
    val got = TextAnalysis.ttr.fn(spark, weirdDocsDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("tokens"), r.getAs[Long]("types"), r.getAs[Double]("ttr")))
      .toMap
    assert(got.size == 5)
    assert(got(0L) == (0L, 0L, 0.0))          // empty text
    assert(got(4L) == (0L, 0L, 0.0))          // whitespace only
    assert(got(1L) == (1L, 1L, 1.0))          // single token
    assert(got(3L) == (5L, 5L, 1.0))          // all distinct
    // and a repeating doc: "two words" → 2/2; check a crafted cycler
    import spark.implicits._
    val dir = tmpDir()
    writeTable(dir, "documents", Seq(
      (0L, "go Go GO go stop", "en", "s", 16L), // case folds: 2 types / 5
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val r = TextAnalysis.ttr.fn(spark, dir).head()
    assert(r.getAs[Long]("tokens") == 5L && r.getAs[Long]("types") == 2L)
    assert(r.getAs[Double]("ttr") == 0.4)
  }

  test("dataset card: exact per-(lang, source) volumes on a crafted corpus") {
    import spark.implicits._
    val dir = tmpDir()
    writeTable(dir, "documents", Seq(
      (0L, "a b c", "en", "s1", 5L),
      (1L, "", "en", "s1", 0L),
      (2L, "x y", "de", "s1", 3L),
      (3L, "hello world again", "en", "s2", 17L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = Pipeline.datasetCard.fn(spark, dir).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("source")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("total_tokens"),
          r.getAs[Long]("total_chars"), r.getAs[Long]("n_empty"),
          r.getAs[Double]("mean_tokens"))).toMap
    assert(got.size == 3)
    assert(got(("en", "s1")) == (2L, 3L, 5L, 1L, 1.5))
    assert(got(("de", "s1")) == (1L, 2L, 3L, 0L, 2.0))
    assert(got(("en", "s2")) == (1L, 3L, 17L, 0L, 3.0))
  }

  test("repetition scoring: fractions bounded, short docs score zero") {
    val rep = TextAnalysis.repetition.fn(spark, weirdDocsDir).collect()
    assert(rep.length == 5)
    rep.foreach { r =>
      val (bi, tri) = (r.getAs[Double]("dup_bigram_frac"), r.getAs[Double]("dup_trigram_frac"))
      assert(bi >= 0.0 && bi < 1.0 && tri >= 0.0 && tri < 1.0, r)
    }
    // docs with < 2 words have no bigrams and fraction 0 by definition
    rep.filter(_.getAs[Long]("n_bigrams") == 0L)
      .foreach(r => assert(r.getAs[Double]("dup_bigram_frac") == 0.0))
    // a genuinely repetitive doc scores high
    import spark.implicits._
    val dir = tmpDir()
    writeTable(dir, "documents", Seq(
      (0L, ("spam ham " * 50).trim, "en", "s", 449L)).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val r = TextAnalysis.repetition.fn(spark, dir).collect().head
    assert(r.getAs[Double]("dup_bigram_frac") > 0.9, r)
  }

  test("quality filter: verdict is the first failing rule, kept iff ok") {
    val out = Pipeline.qualityFilter.fn(spark, weirdDocsDir).collect()
    assert(out.length == 5)
    out.foreach { r =>
      assert((r.getAs[String]("verdict") == "ok") == (r.getAs[Long]("kept") == 1L))
    }
    // the empty and sub-5-token docs all fail the FIRST rule (too_short),
    // never a later ratio rule — division guards keep rule order stable
    assert(out.filter(_.getAs[Long]("tokens") < 5)
      .forall(_.getAs[String]("verdict") == "too_short"))
  }

  test("multimodal ops tolerate empty payloads") {
    assert(Multimodal.metaExtract.fn(spark, weirdDocsDir).count() == 5)
    assert(Multimodal.frameSample.fn(spark, weirdDocsDir).count() >= 5)
    val rz = Multimodal.resize.fn(spark, weirdDocsDir).collect()
    assert(rz.length == 5)
    rz.foreach { r =>
      assert(r.getAs[Int]("out_w") >= 1 && r.getAs[Int]("out_w") <= 224, r)
      assert(r.getAs[Int]("out_h") >= 1 && r.getAs[Int]("out_h") <= 224, r)
      assert(math.max(r.getAs[Int]("out_w"), r.getAs[Int]("out_h")) == 224, r)
    }
    val fx = Multimodal.featureExtract.fn(spark, weirdDocsDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(fx(0L).getAs[Double]("mean_byte") == 0.0) // empty text
    assert(fx(1L).getAs[Double]("printable_frac") == 1.0) // "one"
  }

  test("chunk/split tolerate degenerate documents; autoprobe tolerates a tiny corpus") {
    import spark.implicits._
    // chunk: empty and whitespace docs — empty text is excluded, the
    // single-token and whitespace docs each yield exactly one short chunk
    val chunks = graft.operators.Pipeline.chunk.fn(spark, weirdDocsDir)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("chunk")))
    CacheRegistry.drain()
    assert(!chunks.map(_._1).contains(0L), "empty doc must produce no chunks")
    assert(chunks.count(_._1 == 1L) == 1 && chunks.find(_._1 == 1L).get._2 == "one")
    // split: all docs labeled, no doc dropped or double-counted
    val m = graft.operators.Pipeline.split.fn(spark, weirdDocsDir)
      .collect().map(r => r.getAs[Long]("n_docs")).sum
    CacheRegistry.drain()
    assert(m == 5L, s"split manifest covers $m of 5 docs")
    // autoprobe: a 2-vector corpus — occupancy stats of two singleton
    // cells; must not throw, and each query ranks the single non-self
    // candidate
    val two = Seq((0L, Seq.fill(64)(1.0f)), (1L, Seq.fill(64)(0.5f)))
      .toDF("vec_id", "embedding")
    val got = graft.operators.Similarity.ivfSearchAuto(
      two, two, "vec_id", "embedding", cells = 256, iters = 1, k = 5)
      .collect()
    CacheRegistry.drain()
    assert(got.length == 2, got.mkString(","))
    // ivfpq on the same 2-vector corpus: 2 live cells, 2 codewords per
    // subspace, nprobe past the live cell count — must degrade to the
    // exact pairing, not throw
    val pq = graft.api.GraftApi.ivfPqSearchADC(
      two, two, "vec_id", "embedding", cells = 16, nprobe = 4,
      numSubs = 4, subDim = 16, codebookSize = 16, k = 5).collect()
    CacheRegistry.drain()
    assert(pq.length == 2, pq.mkString(","))
  }

  test("operators run concurrently in one session (no shared mutable catalog state)") {
    // the round-2 review flagged temp-view registration as a race; after
    // the rewrite every operator must be safe to interleave freely
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val names = Seq("q_nested_unnest", "q_window_sliding", "q_select_map",
      "q_groupby_agg", "q_join_equi", "text_quality")
    val futures = (1 to 2).flatMap(_ => names.map { n =>
      Future(SparkEntry.queries(n)(spark, sfTiny).count())
    })
    val counts = Await.result(Future.sequence(futures),
      scala.concurrent.duration.Duration(180, "s"))
    assert(counts.forall(_ > 0), counts)
  }

  test("connected components on an empty pair set is the identity labeling") {
    import spark.implicits._
    val vertices = Seq(1L, 2L, 3L).toDF("id")
    val pairs = Seq.empty[(Long, Long)].toDF("a", "b")
    val cc = Graph.connectedComponents(vertices, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("asofJoin with an empty right side yields all-null payloads") {
    import spark.implicits._
    def t(m: Long) = new java.sql.Timestamp(m * 60000L)
    val left = Seq((1L, t(1), "x")).toDF("k", "ts", "tag")
    val right = Seq.empty[(Long, java.sql.Timestamp, Long)].toDF("k", "ts", "payload")
    val out = graft.api.GraftApi.asofJoin(left, right, "k", "ts", "ts", "payload").collect()
    assert(out.length == 1 && out.head.isNullAt(out.head.fieldIndex("asof_payload")))
  }

  test("rangeJoin with an empty side yields no pairs") {
    import spark.implicits._
    def t(m: Long) = new java.sql.Timestamp(m * 60000L)
    val left = Seq((1L, t(1), 1L)).toDF("lk", "lts", "lid")
    val right = Seq.empty[(Long, java.sql.Timestamp, Long)].toDF("rk", "rts", "rid")
    assert(graft.api.GraftApi.rangeJoin(left, right, "lk", "rk", "lts", "rts",
      0L, 60000L).count() == 0)
  }

  test("vec_dot on empty and mismatched arrays") {
    import spark.implicits._
    import graft.functions.vec._
    val df = Seq(
      (Array.empty[Float], Array.empty[Float]),
      (Array(1.0f, 2.0f), Array(3.0f)),
    ).toDF("a", "b")
    val got = df.select(vec_dot(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(got(0) == 0.0)
    assert(got(1) == 3.0) // min-length semantics
  }

  test("round-4 pipeline ops tolerate short/empty documents") {
    // keep-best: degenerate docs form no near-dup pairs → everyone kept
    val kb = Pipeline.keepBest.fn(spark, weirdDocsDir).collect()
    assert(kb.length == 5)
    assert(kb.forall(_.getAs[Long]("kept") == 1L))
    assert(kb.forall(r => r.getAs[Long]("cluster") == r.getAs[Long]("doc_id")))
    // packing: empty/whitespace docs are zero-token, still packed
    val pk = Pipeline.packSequences.fn(spark, weirdDocsDir).collect()
    assert(pk.length == 5)
    assert(pk.forall(_.getAs[Long]("pack_offset") >= 0))
    // pii redaction: empty text is a no-op with zero matches
    val pii = TextAnalysis.piiRedact.fn(spark, weirdDocsDir).collect()
    assert(pii.length == 5)
    assert(pii.forall(_.getAs[Long]("n_pii") >= 0))
    // phash: empty payload hashes to 0; no pairs required, must not throw
    Multimodal.dedupPhash.fn(spark, weirdDocsDir).collect()
    // decontamination: the % 97 bench sliver here is doc 0 (empty text,
    // empty shingles) — overlap 0 everywhere, nothing contaminated
    val dc = Pipeline.decontamNgram.fn(spark, weirdDocsDir).collect()
    assert(dc.forall(_.getAs[Long]("contaminated") == 0L))
  }

  test("substring/bloom dedup and pq search tolerate degenerate inputs") {
    // substring: every weird doc is under the 8-word span width → no rows
    assert(Dedup.substring.fn(spark, weirdDocsDir).count() == 0)
    // bloom membership: delta = doc 0 (empty text), corpus = docs 1-4;
    // empty text is absent from the corpus, so the delta doc is new
    val bn = Dedup.bloomNew.fn(spark, weirdDocsDir).collect()
    assert(bn.map(_.getAs[Long]("doc_id")).toSet == Set(0L))
    // pq adc search on a 2-vector 64-dim corpus: sparse codebooks (2
    // codewords per subspace), each query's only candidate is the other
    import spark.implicits._
    val va = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val vb = Array.tabulate(64)(i => math.cos(2 * i + 1).toFloat)
    val df = Seq((0L, va.toSeq, 0), (1L, vb.toSeq, 1))
      .toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val dir = tmpDir(); writeTable(dir, "embeddings", df)
    val rows = Similarity.pqSearch.fn(spark, dir).collect()
    CacheRegistry.drain()
    assert(rows.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet ==
      Set((0L, 1L), (1L, 0L)), rows.mkString(","))
  }

  // ---- sizing contracts: every broadcast-shaped helper refuses a hostile
  // cardinality with a descriptive message instead of OOMing (the
  // bloomNewDocs house style), and degenerate inputs take defined paths

  test("decontaminate switches formulation at the gram bound, result-identical") {
    import spark.implicits._
    val train = Seq(
      (0L, Seq("g1", "g2", "g3", "g4")),   // 4/4 overlap → contaminated
      (1L, Seq("g3", "g4", "g5", "g6")),   // 3/4 overlap → contaminated
      (2L, Seq("x1", "x2", "x3", "x4")))   // 0/4 → clean (survives the left join)
      .toDF("doc_id", "shingles")
    val bench = Seq((9L, Seq("g1", "g2", "g3", "g4", "g5")))
      .toDF("doc_id", "shingles")          // 5 distinct grams
    def norm(df: org.apache.spark.sql.DataFrame) = {
      val out = df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).toSet
      CacheRegistry.drain()
      out
    }
    val byBroadcast = norm(Pipeline.decontaminate(train, bench, 0.5))
    // bound 5 = exactly the gram count → still the broadcast form;
    // bound 4 = one past it → the posting-list equi-join form
    val atBoundary = norm(
      Pipeline.decontaminate(train, bench, 0.5, broadcastMaxGrams = 5L))
    val byJoin = norm(
      Pipeline.decontaminate(train, bench, 0.5, broadcastMaxGrams = 4L))
    assert(atBoundary == byBroadcast, s"$atBoundary vs $byBroadcast")
    assert(byJoin == byBroadcast, s"$byJoin vs $byBroadcast")
    assert(byBroadcast.map(t => t._1 -> t._4).toMap ==
      Map(0L -> 1L, 1L -> 1L, 2L -> 0L), byBroadcast.toString)
  }

  test("indexBy refuses a fact-sized key set and a hot key past the group bound") {
    import spark.implicits._
    import graft.api.GraftApi._
    val df = (0 until 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      df.indexBy(col("k"), col("v"), maxKeys = 10L)
    }
    assert(e.getMessage.contains("maxKeys"), e.getMessage)
    // one key holding every row: the buffer hazard the group bound guards
    val hot = (0 until 100).map(i => (1L, s"v$i")).toDF("k", "v")
    val e2 = intercept[IllegalArgumentException] {
      hot.indexBy(col("k"), col("v"), maxKeys = 10L, maxGroupSize = 50L)
    }
    assert(e2.getMessage.contains("maxGroupSize"), e2.getMessage)
    // within both bounds it still indexes
    assert(hot.indexBy(col("k"), col("v")).count() == 1L)
  }

  test("bloomNewDocs: refuses past the one-literal contract; empty corpus → whole delta new") {
    import spark.implicits._
    val delta = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val corpus = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.bloomNewDocs(corpus, delta, expectedItems = 300000000L)
    }
    assert(e.getMessage.contains("one-literal bloom contract"), e.getMessage)
    // bootstrap/first-shard: the corpus sketch is NULL over zero rows —
    // every delta doc must come back as proven-new, not silently dropped
    val got = Dedup.bloomNewDocs(corpus, delta, expectedItems = 100L)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 2L), got)
  }

  test("bloomNewDocsBucketed refuses hostile sizing on both contracts") {
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("doc_id", "text")
    val e1 = intercept[IllegalArgumentException](
      Dedup.bloomNewDocsBucketed(df, df, 300000000L, 4))
    assert(e1.getMessage.contains("per-bucket"), e1.getMessage)
    // r13: the plan-residency total budget is GONE (filters are join-
    // shipped, per-task residency = that task's buckets) — the remaining
    // whole-op bound is the bucket-count range itself
    val e2 = intercept[IllegalArgumentException](
      Dedup.bloomNewDocsBucketed(df, df, 100000000L, 100000))
    assert(e2.getMessage.contains("out of range"), e2.getMessage)
  }

  test("newDocs bucket sizing honors BOTH bloom contracts across the whole legal range") {
    import graft.api.GraftApi.bloomBucketSizing
    // every n the adaptive path can dispatch must produce knobs that
    // bloomNewDocsBucketed's requires accept. r13: the 2e9 driver-budget
    // ceiling is gone (join-shipped filters — per-task residency only);
    // the legal range now runs to 65536 buckets × 2e8 items
    for (n <- Seq(200000001L, 400000000L, 2000000000L, 10000000000L,
        65536L * 200000000L)) {
      val (buckets, perBucket) = bloomBucketSizing(n)
      assert(buckets >= 1 && buckets <= 65536, s"n=$n buckets=$buckets")
      assert(perBucket <= 200000000L, s"n=$n perBucket=$perBucket")
      assert(buckets.toLong * perBucket >= n, // coverage: filters sized for n
        s"n=$n undersized: ${buckets.toLong * perBucket}")
    }
    val e = intercept[IllegalArgumentException](
      bloomBucketSizing(65536L * 200000000L + 1))
    assert(e.getMessage.contains("per-epoch"), e.getMessage)
  }

  test("incrementalPairs: overlapping corpus∩delta ids count once at the bucket cap") {
    import spark.implicits._
    // 63 corpus docs + 2 delta docs share hash h1; doc 63 lives in BOTH
    // frames → 64 DISTINCT docs (at the cap, bucket kept). The r5 advice
    // case: a raw union count would see 65 and drop the bucket; a doc
    // must also never pair with itself, and its verify row enters once.
    def sk(ids: Seq[Long]) = ids.map(i =>
      (i, Seq(s"tok$i", "shared"), Seq("h1"))).toDF("doc_id", "shingles", "sketch")
    val corpus = sk(1L to 63L)
    val delta = sk(Seq(63L, 64L))
    val pairs = Dedup.incrementalPairs(corpus, delta, jaccardMin = 0.1)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq
    CacheRegistry.drain()
    assert(pairs.nonEmpty, "bucket at the distinct-doc cap was dropped")
    assert(!pairs.exists(p => p._1 == p._2), s"self pair: $pairs")
    assert(pairs.distinct.size == pairs.size, "duplicated verify rows")
    // delta doc 64 pairs with every corpus doc incl. the shared doc 63
    assert(pairs.contains((63L, 64L)), pairs.take(5).toString)
  }

  test("simhash signatures: byte-walk features ≡ the composed split/transform features") {
    import spark.implicits._
    // the weird-docs table plus null text, runs of spaces, tabs and
    // multi-byte words: empty words count as features, like split's
    val extra = Seq[(Long, Option[String])]((10L, None), (11L, Some("a  b")),
      (12L, Some(" a b c a b c ")), (13L, Some("tab\tword x")), (14L, Some("文字 👍")))
      .toDF("doc_id", "text")
    val docs = Tables.documents(spark, weirdDocsDir).select("doc_id", "text")
      .unionByName(extra)
    val composed = docs
      .withColumn("words", split(coalesce(col("text"), lit("")), " "))
      .select(col("doc_id"), graft.functions.simhash.simhash_bits(expr(
        "transform(array_distinct(case when size(words) >= 3" +
          " then transform(sequence(1, size(words)-2)," +
          " i -> concat_ws(' ', element_at(words,i), element_at(words,i+1), element_at(words,i+2)))" +
          " else words end), t -> md5(t))")).as("simhash"))
      .as[(Long, String)].collect().toSet
    val kernel = Dedup.simhashSignatures(docs).select("doc_id", "simhash")
      .as[(Long, String)].collect().toSet
    assert(kernel == composed,
      s"kernel-only=${kernel -- composed} composed-only=${composed -- kernel}")
    assert(kernel.size == 10)
  }

  test("simhashPairsFromSigs: a cap below 2 fails fast naming the pair contract") {
    val sigs = Dedup.simhashSignatures(Tables.documents(spark, weirdDocsDir))
    val e = intercept[IllegalArgumentException](
      Dedup.simhashPairsFromSigs(sigs, m = 4, d = 3, cap = 1))
    assert(e.getMessage.contains("a bucket needs two members to emit a pair"),
      e.getMessage)
  }

  test("nearDupCandidates: a cap below 2 fails fast naming the pair contract") {
    import spark.implicits._
    val arrivals = Seq(graft.streaming.EventStreams.BucketArrival("h1", 1L)).toDS()
    for (cap <- Seq(1, 0)) {
      val e = intercept[IllegalArgumentException](
        graft.streaming.EventStreams.nearDupCandidates(arrivals, cap))
      assert(e.getMessage.contains("a bucket needs two members to emit a pair"),
        e.getMessage)
    }
  }

  test("collect_set_bounded SQL rejects a non-numeric cap with a descriptive error") {
    val e = intercept[Exception] {
      spark.sql("SELECT collect_set_bounded(x, 'x') FROM VALUES (1) t(x)").collect()
    }
    assert(e.getMessage.contains("literal int cap"), e.getMessage)
  }

  test("pqCodebooks: duplicated input ids keep the codebook bounded, LUT keys injective") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val rows = (0 until 40).map(i => (i.toLong % 20, Seq.fill(8)(rng.nextFloat())))
      .toDF("vec_id", "embedding") // every id appears twice
    val cb = graft.api.GraftApi.pqCodebooks(rows, "vec_id", "embedding",
      numSubs = 2, subDim = 4, codebookSize = 4)
    val perPart = cb.groupBy("part").count().collect().map(_.getLong(1))
    assert(perPart.forall(_ <= 4L), perPart.toSeq) // never cent_id >= codebookSize
    val ids = cb.select("cent_id").distinct().collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(Set(0L, 1L, 2L, 3L)), ids)
  }

  test("funnel conversion is stage-ORDERED, not mere presence") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // u1: view→click→purchase in order; u2: click BEFORE its first view
    // (so neither click nor purchase converts); u3: view→purchase but no
    // click (purchase must follow a qualifying click); u4: noise only
    val rows = Seq(
      (1L, t(1), 1L, "view", 0.0, "{}"), (2L, t(2), 1L, "click", 0.0, "{}"),
      (3L, t(3), 1L, "purchase", 0.0, "{}"),
      (4L, t(1), 2L, "click", 0.0, "{}"), (5L, t(2), 2L, "view", 0.0, "{}"),
      (6L, t(3), 2L, "purchase", 0.0, "{}"),
      (7L, t(1), 3L, "view", 0.0, "{}"), (8L, t(2), 3L, "purchase", 0.0, "{}"),
      (9L, t(1), 4L, "error", 0.0, "{}"),
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = tmpDir(); writeTable(dir, "events", rows)
    val got = Temporal.funnel.fn(spark, dir).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("did_view"), r.getAs[Long]("did_click"),
          r.getAs[Long]("did_purchase")))).toMap
    CacheRegistry.drain()
    assert(got(1L) == ((1L, 1L, 1L)), got(1L))
    assert(got(2L) == ((1L, 0L, 0L)), got(2L)) // click precedes first view
    assert(got(3L) == ((1L, 0L, 0L)), got(3L)) // purchase without a click
    assert(got(4L) == ((0L, 0L, 0L)), got(4L))
  }

  test("sessionizeBlocks: exact-gap boundary straddling a block edge, and the blockMs contract") {
    import spark.implicits._
    val gapMs = 10L * 60000
    val blockMs = 10L * 60000
    // events 1..3 chain across the t=10min block edge at EXACTLY gapMs
    // spacing (<= gap keeps the session); event 4 is gap+1ms later and
    // opens session 2; event 5 sits two empty blocks away — unmergeable
    // by construction, session 3
    val ms = Seq(0L, gapMs, 2 * gapMs, 3 * gapMs + 1, 6 * gapMs + 2)
    val df = ms.zipWithIndex
      .map { case (t, i) => (1L, t, i.toLong) }.toDF("k", "tms", "id")
      .select(col("k"), expr("timestamp_millis(tms)").as("ts"), col("id"))
    val got = graft.api.GraftApi.sessionizeBlocks(df, "k", "ts", "id", gapMs, blockMs)
      .orderBy("id").collect().map(_.getAs[Long]("session_id")).toSeq
    assert(got == Seq(1L, 1L, 1L, 2L, 3L), got)
    val err = intercept[IllegalArgumentException] {
      graft.api.GraftApi.sessionizeBlocks(df, "k", "ts", "id", gapMs, gapMs - 1)
    }
    assert(err.getMessage.contains("blockMs"))
  }

  test("redactPii and packSequences handle null text / null tokens") {
    import spark.implicits._
    val df = Seq((1L, Option("a@b.co x")), (2L, Option.empty[String]))
      .toDF("id", "txt")
    val red = graft.api.GraftApi.redactPii(df, "txt").orderBy("id").collect()
    assert(red(0).getAs[Long]("n_pii") == 1L)
    assert(red(1).getAs[Long]("n_pii") == 0L)   // null text → 0, not null
    assert(red(1).isNullAt(red(1).fieldIndex("txt_redacted")))
  }

  test("null text ≡ empty document in quality_filter and pack_sequences; null user keeps its cohort") {
    import spark.implicits._
    val docs = Seq(
      (1L, Option("the quick brown fox jumps over a dog")),
      (2L, Option.empty[String]), (3L, Option("")))
      .map { case (id, t) => (id, t, "en", s"s$id",
        t.map(_.length.toLong).getOrElse(0L)) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tmpDir(); writeTable(dir, "documents", docs)
    // null and empty text must take the SAME verdict path (too_short),
    // never fall through every null comparison into 'ok'
    val qf = graft.operators.Pipeline.qualityFilter.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(qf(2L) == qf(3L) && qf(2L) == (("too_short", 0L)), qf)
    // null text packs as a zero-token doc with a REAL pack slot
    val pk = graft.operators.Pipeline.packSequences.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.isNullAt(3)))).toMap
    assert(pk(2L) == ((0L, false)), s"null-text doc must keep a pack_id: $pk")
    // retention: the null user is its own cohort subject
    def t(s: Long) = new java.sql.Timestamp(86400000L + s * 1000L)
    val ev = Seq((1L, Option(7L), t(0)), (2L, Option.empty[Long], t(0)),
      (3L, Option.empty[Long], t(86400L * 8)))
      .map { case (id, u, ts) => (id, u, ts, "view", 1.0) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val evDir = tmpDir(); writeTable(evDir, "events", ev)
    val ret = graft.operators.Temporal.retentionCohort.fn(spark, evDir)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    CacheRegistry.drain()
    // day-0 has BOTH user 7 and the null user active; week 1 only null
    assert(ret.values.sum == 3L && ret.exists(_._2 == 2L),
      s"null user must count in its cohort rows: $ret")
  }

  test("ivf hot-cell split at the boundary: result-identical, hot branch repartitioned") {
    // 2 cells over the tiny corpus make every cell exceed the
    // tot/partitions floor once hotCellBound is forced to 1 — the split
    // path engages for ALL cells, and the result must still be exactly
    // the unsplit search's (union over content-hash slices is the cell).
    // One row per cell-keyed layout the split serves: the IVF inverted
    // lists and the IVF-PQ codes.
    import org.apache.spark.sql.DataFrame
    val emb = Tables.embeddings(spark, sfTiny)
    val queries = emb.filter(col("vec_id") < 8)
    val (cents, lists) = Similarity.ivfIndex(
      emb, "vec_id", "embedding", cells = 2, iters = 1)
    val (_, c1p, assign1) = Similarity.ivfBuild(
      emb, "vec_id", "embedding", cells = 2, iters = 1)
    val pqCents = c1p.drop("part")
    val cbs = graft.api.GraftApi.pqCodebooks(
      emb, "vec_id", "embedding", numSubs = 4, subDim = 16)
    val codes = Similarity.ivfPqCodes(emb, "vec_id", "embedding", cbs,
      numSubs = 4, subDim = 16, assign1)
    // (layout, cell-keyed frame, search(keyed, hotCellBound, stats))
    val rows: Seq[(String, DataFrame, (DataFrame, Long, Option[DataFrame]) => DataFrame)] =
      Seq(
        ("ivf lists", lists, (keyed, bound, stats) =>
          Similarity.ivfSearchAutoFromIndex(cents, keyed, queries, "vec_id",
            "embedding", k = 5, hotCellBound = bound, stats = stats)),
        ("ivf-pq codes", codes, (keyed, bound, stats) =>
          graft.api.GraftApi.ivfPqSearchADCFromIndex(pqCents, cbs, keyed,
            queries, "vec_id", "embedding", nprobe = 2, k = 5,
            hotCellBound = bound, stats = stats)))
    def toSet(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def hasPmod(df: DataFrame) = df.queryExecution.optimizedPlan.toString.contains("pmod")
    for ((layout, keyed, search) <- rows) {
      val unsplit = search(keyed, Long.MaxValue, None)
      assert(!hasPmod(unsplit),
        s"$layout: unsplit plan must not carry the content-hash repartition")
      val want = toSet(unsplit)
      CacheRegistry.drain()
      val split = search(keyed, 1L, None)
      assert(hasPmod(split),
        s"$layout: forced split must repartition the hot branch by content hash")
      assert(toSet(split) == want, layout)
      CacheRegistry.drain()
      // persisted-split layout: slices assigned at BUILD time
      // (preSplitByOccupancy, forced hot via bound 1 → every cell sliced
      // by content hash), serving detects the flagged slice column and
      // must use ZERO runtime repartition — and still return exactly the
      // unsplit result. Stats ride as the persisted ≤cells-row table, so
      // no corpus-sized occupancy scan appears in the plan either.
      val stats = keyed.groupBy("cent_id").agg(count(lit(1)).as("cnt"))
      val pre = Similarity.preSplitByOccupancy(
        keyed, stats, "vec_id", hotCellBound = 1L)
      assert(pre.columns.contains("slice"))
      assert(pre.filter(col("slice") > 0).count() > 0,
        s"$layout: forced bound must slice at least one hot cell's rows")
      assert(Similarity.isPresplit(pre))
      val served = search(pre, 1L, Some(stats))
      assert(!hasPmod(served),
        s"$layout: pre-split serving must not add a runtime content-hash repartition")
      assert(toSet(served) == want, layout)
      CacheRegistry.drain()
      // an UNFLAGGED caller-supplied column that merely happens to be
      // named `slice` must NOT read as the pre-split layout (ADVICE r8:
      // magic column-name detection silently disabled hot-cell
      // splitting) — the runtime split still engages, result unchanged
      val decoy = keyed.withColumn("slice", lit(0))
      assert(!Similarity.isPresplit(decoy))
      val decoyServed = search(decoy, 1L, Some(stats))
      assert(hasPmod(decoyServed),
        s"$layout: unflagged slice column must still trigger the runtime hot-cell split")
      assert(toSet(decoyServed) == want, layout)
      CacheRegistry.drain()
      assert(want.nonEmpty, layout)
    }
  }

  test("zscore/ewma blocks twins match the simple forms on NULL values") {
    // ADVICE r8: the oracle's n_window is COUNT(*) over the ROWS frame —
    // rows with NULL value COUNT. The blocks twin derived n from non-null
    // lag values, so a null-value row shrank later rows' n_window. The
    // twin now threads row presence as a one-field struct through
    // rowLagsBlocks; this corpus (nulls interleaved mid-window) pins the
    // two forms equal — including n_window on rows whose trailing frame
    // spans the nulls.
    import spark.implicits._
    def t(s: Long) = new java.sql.Timestamp(86400000L + s * 1000L)
    val rows = Seq(
      (1L, 1L, t(0), "view", Option(1.0)),
      (2L, 1L, t(60), "view", Option.empty[Double]),
      (3L, 1L, t(120), "view", Option(2.0)),
      (4L, 1L, t(180), "view", Option.empty[Double]),
      (5L, 1L, t(240), "view", Option(40.0)),
      (6L, 1L, t(300), "view", Option(2.5)),
      (7L, 1L, t(360), "view", Option(2.0)),
      (8L, 2L, t(0), "view", Option.empty[Double]),
      (9L, 2L, t(60), "view", Option(3.0)))
    val dir = tmpDir()
    writeTable(dir, "events",
      rows.toDF("event_id", "user_id", "ts", "event_type", "value"))
    def toMapZ(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((Option(r.get(r.fieldIndex("x_milli"))),
          r.getAs[Long]("n_window"), r.getAs[Long]("anomaly")))).toMap
    val simple = toMapZ(Temporal.anomalyZscore.fn(spark, dir))
    val blocks = toMapZ(Temporal.anomalyZscoreBlocks.fn(spark, dir))
    // row 7's trailing frame holds all 7 user-1 rows incl. 2 nulls:
    // COUNT(*) semantics demand n_window = 7, not 5
    assert(simple(7L)._2 == 7L, simple(7L))
    assert(blocks == simple,
      blocks.keys.filter(k => blocks(k) != simple(k))
        .map(k => s"$k: ${blocks(k)} vs ${simple(k)}").take(3))
    def toMapE(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((Option(r.get(r.fieldIndex("x_milli"))),
          Option(r.get(r.fieldIndex("ewma_milli")))))).toMap
    assert(toMapE(Temporal.windowEwmaBlocks.fn(spark, dir)) ==
      toMapE(Temporal.windowEwma.fn(spark, dir)))
  }

  test("r9 blocks twins equal their simple forms on engineered block boundaries") {
    import spark.implicits._
    // corpus engineered for every twin's hard case:
    //  - user 1: rows straddling hour-block boundaries, one row EXACTLY
    //    window-width after another (RANGE boundary inclusion through the
    //    carry), a same-timestamp tie, a null value mid-stream
    //  - user 2: a single event (all lags/leads null, n=1 ntile)
    //  - user 3: constant value (one rank bin holds the whole key)
    //  - user 4: 7 rows (ntile n%4=3 — uneven bucket fill)
    def t(s: Long) = new java.sql.Timestamp(86400000L + s * 1000L)
    val rows = Seq(
      (1L, Option(1L), t(0), "view", Option(1.0)),
      (2L, Option(1L), t(3599), "click", Option(5.0)),
      (3L, Option(1L), t(3600), "purchase", Option(2.0)),  // block boundary
      (4L, Option(1L), t(4199), "click", Option.empty[Double]),
      (5L, Option(1L), t(4200), "purchase", Option(8.0)),  // exactly 600s after #3
      (6L, Option(1L), t(4200), "view", Option(3.0)),      // tie ts with #5
      (7L, Option(1L), t(90000), "purchase", Option(4.0)), // far block, empty gap
      (8L, Option(2L), t(50), "purchase", Option(9.0)),    // lone event, no click
      (9L, Option(3L), t(0), "view", Option(6.0)),
      (10L, Option(3L), t(7200), "click", Option(6.0)),    // constant values
      (11L, Option(3L), t(7300), "purchase", Option(6.0)),
      (12L, Option(3L), t(7400), "view", Option(6.0)),
      // NULL-KEY rows: the simple windows keep a null-key partition
      // (nulls group together), so the blocks twins' fold-back joins
      // must be null-safe or these rows silently vanish (review r9)
      (40L, Option.empty[Long], t(100), "click", Option(1.0)),
      (41L, Option.empty[Long], t(200), "purchase", Option(2.0)),
      (42L, Option.empty[Long], t(4200), "view", Option(3.0))) ++
      (0 until 7).map(i =>
        (20L + i, Option(4L), t(i * 1800L), "view", Option(i * 1.5)))
    val dir = tmpDir()
    writeTable(dir, "events",
      rows.toDF("event_id", "user_id", "ts", "event_type", "value"))
    def toMap(d: org.apache.spark.sql.DataFrame) = {
      val cols = d.columns.toSeq
      d.collect().map(r => r.getAs[Long]("event_id") ->
        cols.filterNot(_ == "event_id").map(c => Option(r.get(r.fieldIndex(c))))).toMap
    }
    val pairs = Seq(
      (Temporal.leadLag, Temporal.leadLagBlocks),
      (Temporal.burstDetect, Temporal.burstDetectBlocks),
      (WindowOps.windowRunning, WindowOps.windowRunningBlocks),
      (WindowOps.slidingWindow, WindowOps.slidingWindowBlocks),
      (WindowOps.windowNtile, WindowOps.windowNtileBlocks))
    pairs.foreach { case (simple, blocks) =>
      val want = toMap(simple.fn(spark, dir))
      val got = toMap(blocks.fn(spark, dir))
      assert(got.keySet == want.keySet, s"${blocks.name} keys")
      val diff = got.keys.filter(k => got(k) != want(k)).toSeq.sorted
      assert(diff.isEmpty, s"${blocks.name}: " +
        diff.map(k => s"$k: ${got(k)} vs ${want(k)}").take(3))
    }
    // asof keys by (purchase event_id); same comparison
    val wantA = toMap(Temporal.asofJoin.fn(spark, dir))
    val gotA = toMap(Temporal.asofJoinBlocksOp.fn(spark, dir))
    assert(gotA == wantA,
      gotA.keys.filter(k => gotA.get(k) != wantA.get(k)).take(3)
        .map(k => s"$k: ${gotA.get(k)} vs ${wantA.get(k)}"))
  }

  test("valueRankBlocks tolerates NaN values; Auto capped join tolerates windowMs=0") {
    import spark.implicits._
    // NaN sorts GREATEST in Spark — the ntile twin must bin it above
    // every numeric bin instead of poisoning the bounds (a NaN max made
    // the bin cast throw under ANSI before the r9 review fix)
    def t(s: Long) = new java.sql.Timestamp(86400000L + s * 1000L)
    val rows = Seq(
      (1L, 1L, t(0), "view", 1.0), (2L, 1L, t(60), "view", Double.NaN),
      (3L, 1L, t(120), "view", 5.0), (4L, 1L, t(180), "view", 2.0),
      (5L, 1L, t(240), "view", Double.NaN), (6L, 2L, t(0), "view", 3.0))
    val dir = tmpDir()
    writeTable(dir, "events",
      rows.toDF("event_id", "user_id", "ts", "event_type", "value"))
    def toMap(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Int]("quartile"), r.getAs[Double]("cdist")))).toMap
    val simple = toMap(WindowOps.windowNtile.fn(spark, dir))
    val blocks = toMap(WindowOps.windowNtileBlocks.fn(spark, dir))
    assert(simple.nonEmpty && blocks == simple,
      blocks.keys.filter(k => blocks(k) != simple(k))
        .map(k => s"$k: ${blocks(k)} vs ${simple(k)}").take(3))
    // windowMs = 0: exact-time matches — legal on the rank path, and the
    // Auto face must not divide by the zero bucket width in its estimate
    val lefts = Seq((7L, 100L, t(10))).toDF("k", "lid", "lt")
    val rights = Seq((7L, 200L, t(10)), (7L, 201L, t(11))).toDF("k2", "rid", "rt")
    val z = graft.api.GraftApi.rangeJoinEarliestKAuto(lefts, rights,
        "k", "k2", "lt", "rt", "lid", "rid", windowMs = 0L, k = 2)
      .collect().map(r => (r.getAs[Long]("lid"), r.getAs[Long]("rid"))).toSet
    assert(z == Set((100L, 200L)), z)
    CacheRegistry.drain()
  }

  test("rangeJoin output contract: pair-estimate guard trips with a sizing message") {
    import spark.implicits._
    def t(s: Long) = new java.sql.Timestamp(86400000L + s * 1000L)
    // one hot key: 6 lefts × 8 rights co-occurring in one window ⇒ 48
    // candidate pairs — past a forced bound of 10
    val left = (0 until 6).map(i => (7L, 1000L + i, t(i)))
      .toDF("k", "lid", "lts")
    val right = (0 until 8).map(i => (7L, 2000L + i, t(10 + i)))
      .toDF("rk", "rid", "rts")
    spark.conf.set("graft.rangeJoin.maxPairs", "10")
    try {
      val err = intercept[IllegalArgumentException] {
        graft.api.GraftApi.rangeJoin(left, right, "k", "rk", "lts", "rts",
          0L, 60000L).count()
      }
      assert(err.getMessage.contains("maxPairs"), err.getMessage)
      assert(err.getMessage.contains("candidate pairs"), err.getMessage)
    } finally spark.conf.unset("graft.rangeJoin.maxPairs")
    // within bound: identical result to the unguarded join (the estimate
    // moves nothing), and maxPairs = MaxValue skips the pre-agg entirely
    val bounded = graft.api.GraftApi.rangeJoin(left, right, "k", "rk",
      "lts", "rts", 0L, 60000L).select("lid", "rid").collect().toSet
    val unguarded = graft.api.GraftApi.rangeJoin(left, right, "k", "rk",
      "lts", "rts", 0L, 60000L, maxPairs = Long.MaxValue)
      .select("lid", "rid").collect().toSet
    assert(bounded == unguarded && bounded.size == 48)
  }

  test("rangeJoinEarliestK equals pair-join + rank, incl. same-ms ties and window edges") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // micros timestamps engineered so two rights share one MILLISECOND
    // with ids ordered against their micros (the tie the ms contract
    // must cut by id), plus exact window-boundary rights and a left with
    // no match
    def ts(ms: Long, us: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochMilli(86400000L + ms).plusNanos(us * 1000))
    val lefts = Seq(
      (7L, 100L, ts(0, 0)), (7L, 101L, ts(5000, 0)), (8L, 102L, ts(0, 0)))
      .toDF("k", "lid", "lt")
    val rights = Seq(
      (7L, 200L, ts(0, 0)),      // at exactly left time → in window
      (7L, 202L, ts(1000, 500)), // same ms as 201, larger id, later us
      (7L, 201L, ts(1000, 900)), // ms tie: id must win, not micros
      (7L, 203L, ts(2000, 0)),
      (7L, 204L, ts(3000, 0)),
      (7L, 205L, ts(65000, 0)),  // past every window
      (9L, 206L, ts(0, 0)))      // other key
      .toDF("k2", "rid", "rt")
    val got = graft.api.GraftApi.rangeJoinEarliestK(lefts, rights,
        "k", "k2", "lt", "rt", "lid", "rid", windowMs = 60000L, k = 3,
        blockMs = 2000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // reference: full pair join + (delay_ms, rid) rank
    val pairs = lefts.join(rights, col("k") === col("k2"))
      .withColumn("delay_ms",
        unix_millis(col("rt").cast("timestamp")) -
          unix_millis(col("lt").cast("timestamp")))
      .filter(col("delay_ms") >= 0 && col("delay_ms") <= 60000L)
      .withColumn("rn", row_number().over(Window.partitionBy(col("lid"))
        .orderBy(col("delay_ms"), col("rid"))))
      .filter(col("rn") <= 3)
      .select("lid", "rid", "delay_ms")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == pairs, s"got $got want $pairs")
    // the ms tie at +1000ms resolved by ID: 201 before 202 for left 100
    assert(got.contains((100L, 201L, 1000L)) && got.contains((100L, 202L, 1000L)))
    // the Auto face: both branches (pair-join under the bound, rank
    // composition above it) produce the identical set
    def auto(bound: Long) = {
      spark.conf.set("graft.rangeJoinEarliestK.pairBound", bound.toString)
      try graft.api.GraftApi.rangeJoinEarliestKAuto(lefts, rights,
          "k", "k2", "lt", "rt", "lid", "rid", windowMs = 60000L, k = 3,
          blockMs = 2000L)
        .collect().map(r => (r.getAs[Long]("lid"), r.getAs[Long]("rid"),
          r.getAs[Long]("delay_ms"))).toSet
      finally spark.conf.unset("graft.rangeJoinEarliestK.pairBound")
    }
    assert(auto(1000000L) == pairs)  // pair-join branch
    assert(auto(0L) == pairs)        // rank branch
    CacheRegistry.drain()
  }

  test("skewAdaptive picks simple vs blocks by hottest-key probe; branches identical") {
    import spark.implicits._
    def t(s: Long) = new java.sql.Timestamp(86400000L + s * 1000L)
    val df = ((0 until 40).map(i => (i.toLong, 7L, t(i * 60L), i * 1.0)) ++
      (0 until 5).map(i => (100L + i, 8L, t(i * 60L), i * 2.0)))
      .toDF("event_id", "user_id", "ts", "value")
    def simple(d: org.apache.spark.sql.DataFrame) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      d.select(col("event_id"),
        lag(col("value"), 1).over(w).as("prev"))
        .withColumn("form", lit("simple"))
    }
    def blocks(d: org.apache.spark.sql.DataFrame) =
      graft.api.GraftApi.rowLagsBlocks(d, "user_id", "ts", "event_id",
          col("value"), depth = 1)
        .select(col("event_id"), col("lag_1").as("prev"))
        .withColumn("form", lit("blocks"))
    def run(bound: Long) = {
      spark.conf.set("graft.skewAdaptive.hotKeyBound", bound.toString)
      try graft.api.GraftApi.skewAdaptive(df, "user_id")(simple)(blocks)
        .collect().map(r => (r.getAs[Long]("event_id"),
          Option(r.get(r.fieldIndex("prev"))), r.getAs[String]("form"))).toSet
      finally spark.conf.unset("graft.skewAdaptive.hotKeyBound")
    }
    val viaSimple = run(1000L)   // hottest key = 40 rows <= 1000 → simple
    val viaBlocks = run(10L)     // 40 > 10 → blocks
    assert(viaSimple.forall(_._3 == "simple") && viaBlocks.forall(_._3 == "blocks"))
    assert(viaSimple.map(x => (x._1, x._2)) == viaBlocks.map(x => (x._1, x._2)))
    CacheRegistry.drain()
  }

  test("the skew-adaptive registry keys produce identical results on both branches") {
    // r9 verdict item 2: skewAdaptive existed but nothing routed through
    // it. Every simple key with a blocks twin now dispatches; this pins,
    // PER KEY, that the forced-blocks branch (bound 0) equals the
    // forced-simple branch (bound huge) — i.e. a user hitting the
    // hot-key bound gets the scale-safe plan with bit-identical output.
    val keys = Seq("q_window_running", "q_window_sliding", "q_window_ntile",
      "q_asof_join", "q_lead_lag", "q_burst_detect",
      "q_sessionize", "q_window_ewma", "q_anomaly_zscore")
    // MULTISET comparison (row string → count): a Set would let the two
    // branches emit different duplicate-row multiplicities and still pass
    def rows(name: String): Map[String, Int] = {
      val df = SparkEntry.queries(name)(spark, sfTiny)
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|"))
        .groupBy(identity).view.mapValues(_.length).toMap
    }
    keys.foreach { k =>
      spark.conf.set("graft.skewAdaptive.hotKeyBound", Long.MaxValue.toString)
      val simple = try rows(k)
        finally spark.conf.unset("graft.skewAdaptive.hotKeyBound")
      spark.conf.set("graft.skewAdaptive.hotKeyBound", "0")
      val blocks = try rows(k)
        finally spark.conf.unset("graft.skewAdaptive.hotKeyBound")
      assert(simple == blocks,
        s"$k: ${(simple.keySet -- blocks.keySet).take(3)} vs " +
          s"${(blocks.keySet -- simple.keySet).take(3)}")
      assert(simple.nonEmpty, s"$k produced no rows")
      CacheRegistry.drain()
    }
  }

  test("skewAdaptive memoizes the probe per (table, key) and the stats-sliver path matches") {
    import graft.api.GraftApi
    val ev = Tables.events(spark, sfTiny)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    def simple(d: org.apache.spark.sql.DataFrame) =
      d.withColumn("form", lit("simple"))
    def blocks(d: org.apache.spark.sql.DataFrame) =
      d.withColumn("form", lit("blocks"))
    // 1. memo: two dispatches over the same parquet-rooted frame pay ONE
    //    inline probe scan (the hottest-key count is a table property)
    GraftApi.keyStatsMemoClear()
    val before = GraftApi.keyStatsProbes.get()
    val first = GraftApi.skewAdaptive(ev, "user_id")(simple)(blocks).collect()
    assert(GraftApi.keyStatsProbes.get() == before + 1)
    GraftApi.skewAdaptive(ev, "user_id")(simple)(blocks).collect()
    assert(GraftApi.keyStatsProbes.get() == before + 1,
      "second dispatch over the same table must read the memo, not rescan")
    // a DIFFERENT key over the same files is a different table property
    GraftApi.skewAdaptive(ev, "event_id")(simple)(blocks).collect()
    assert(GraftApi.keyStatsProbes.get() == before + 2)
    // 2. stats-sliver path: a precomputed hotKeyStats row dispatches
    //    identically to the probe path, with zero probe scans
    val stats = GraftApi.hotKeyStats(ev, "user_id")
    val mid = GraftApi.keyStatsProbes.get()
    val viaStats = GraftApi.skewAdaptiveWithStats(ev, "user_id", stats)(
      simple)(blocks).collect()
    assert(GraftApi.keyStatsProbes.get() == mid)
    assert(first.map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq ==
      viaStats.map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq)
    // 3. the sliver itself: hottest/rows/keys agree with a direct count,
    //    and a LOWERED bound flips the stats path to blocks too
    val r = stats.head()
    val direct = ev.groupBy("user_id").count()
      .agg(max("count"), sum("count"), count(lit(1))).head()
    assert(r.getLong(0) == direct.getLong(0) && r.getLong(1) == direct.getLong(1)
      && r.getLong(2) == direct.getLong(2))
    val flipped = GraftApi.skewAdaptiveWithStats(ev, "user_id", stats,
      hotKeyBound = 0L)(simple)(blocks)
    assert(flipped.select("form").head().getString(0) == "blocks")
    // 4. a FILTERED frame must NOT poison the table-level memo: its
    //    hottest count is frame-specific (an under-count of the table's),
    //    so it probes inline unmemoized, and a later full-table dispatch
    //    still reads the clean memo entry
    GraftApi.keyStatsMemoClear()
    val b2 = GraftApi.keyStatsProbes.get()
    GraftApi.skewAdaptive(ev.filter(col("value") > 1e18), "user_id")(
      simple)(blocks).collect()
    assert(GraftApi.keyStatsProbes.get() == b2 + 1)
    // the filtered probe saw 0 rows; with the memo poisoned this would
    // dispatch simple under ANY bound — instead the table re-probes
    spark.conf.set("graft.skewAdaptive.hotKeyBound", "0")
    val afterFiltered = try GraftApi.skewAdaptive(ev, "user_id")(
        simple)(blocks).select("form").head().getString(0)
      finally spark.conf.unset("graft.skewAdaptive.hotKeyBound")
    assert(afterFiltered == "blocks",
      "full-table dispatch after a filtered dispatch must not read the " +
        "filtered frame's under-count")
    assert(GraftApi.keyStatsProbes.get() == b2 + 2)
    // and the filtered frame probes EVERY time (no memo entry to hit)
    GraftApi.skewAdaptive(ev.filter(col("value") > 1e18), "user_id")(
      simple)(blocks).collect()
    assert(GraftApi.keyStatsProbes.get() == b2 + 3)
    // 5. an EMPTY stats sliver (unpopulated stats table) degrades to the
    //    always-safe blocks branch instead of crashing
    val viaEmpty = GraftApi.skewAdaptiveWithStats(ev, "user_id",
      stats.filter(lit(false)))(simple)(blocks)
    assert(viaEmpty.select("form").head().getString(0) == "blocks")
    // 6. the memo keys by the ROOT scan attribute, not the output name:
    //    two renames of DIFFERENT source columns to one name must not
    //    share an entry, and a rename of the SAME column must hit the
    //    bare-name entry
    GraftApi.keyStatsMemoClear()
    val b6 = GraftApi.keyStatsProbes.get()
    val evRaw = Tables.events(spark, sfTiny)
    GraftApi.skewAdaptive(evRaw.select(col("user_id").as("kk"),
      col("ts"), col("value")), "kk")(simple)(blocks).collect()
    assert(GraftApi.keyStatsProbes.get() == b6 + 1)
    GraftApi.skewAdaptive(evRaw.select(col("event_id").as("kk"),
      col("ts"), col("value")), "kk")(simple)(blocks).collect()
    assert(GraftApi.keyStatsProbes.get() == b6 + 2,
      "event_id-as-kk must not reuse user_id-as-kk's memo entry")
    GraftApi.skewAdaptive(evRaw.select(col("user_id"), col("ts"),
      col("value")), "user_id")(simple)(blocks).collect()
    assert(GraftApi.keyStatsProbes.get() == b6 + 2,
      "bare user_id must hit the entry the user_id-as-kk rename probed")
    CacheRegistry.drain()
  }

  test("groupConcatExport guard trips past the bound; sharded face reassembles exactly") {
    import spark.implicits._
    val orders = Tables.orders(spark, sfTiny)
      .select(col("o_orderstatus"), col("o_orderkey"))
    // 1. guard trips on a tiny bound with the house sizing message
    spark.conf.set("graft.groupExport.maxGroupBytes", "64")
    val err = try {
      intercept[IllegalArgumentException] {
        graft.api.GraftApi.groupConcatExport(orders,
          "o_orderstatus", "o_orderkey", out = "orderkeys").collect()
      }
    } finally spark.conf.unset("graft.groupExport.maxGroupBytes")
    assert(err.getMessage.contains("maxGroupBytes"), err.getMessage)
    // 2. in-bound: the guarded export equals the raw aggregation
    val guarded = graft.api.GraftApi.groupConcatExport(orders,
        "o_orderstatus", "o_orderkey", out = "orderkeys")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val raw = orders.groupBy(col("o_orderstatus"))
      .agg(array_join(expr(
        "transform(sort_array(collect_list(o_orderkey)), x -> cast(x as string))"),
        ",").as("orderkeys"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(guarded == raw)
    // 3. sharded face: concatenating each key's shards in shard order
    // reproduces the unsharded string exactly; every non-final shard
    // holds exactly rowsPerShard elements
    val shards = graft.api.GraftApi.groupConcatExportSharded(orders,
        "o_orderstatus", "o_orderkey", rowsPerShard = 100L, out = "orderkeys")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val reassembled = shards.groupBy(_._1).map { case (k, ss) =>
      k -> ss.sortBy(_._2).map(_._3).mkString(",") }
    assert(reassembled == raw,
      s"keys=${reassembled.keySet} raw=${raw.keySet}")
    shards.groupBy(_._1).foreach { case (k, ss) =>
      val sizes = ss.sortBy(_._2).map(_._3.count(_ == ',') + 1)
      assert(sizes.init.forall(_ == 100),
        s"$k non-final shard sizes ${sizes.init.distinct.mkString(",")}")
      assert(ss.map(_._2).sorted.toSeq == (0L until ss.length.toLong),
        s"$k shard indexes not dense: ${ss.map(_._2).sorted.mkString(",")}")
    }
    // 4. duplicate elements across a shard boundary: output is the same
    // multiset per shard regardless of which copy lands where
    val dups = Seq.fill(7)(("A", 5L)).toDF("k", "v")
    val dupShards = graft.api.GraftApi.groupConcatExportSharded(dups,
        "k", "v", rowsPerShard = 3L)
      .collect().map(r => (r.getLong(1), r.getString(2))).sortBy(_._1)
    assert(dupShards.toSeq == Seq((0L, "5,5,5"), (1L, "5,5,5"), (2L, "5")))
    // 5. achievable-shard bound: a huge rowsPerShard over SMALL groups is
    // one-shard-per-group usage — a shard can never exceed its key's
    // total bytes, so this must pass (the old rowsPerShard × widest
    // worst-case product spuriously rejected it)
    val oneShard = graft.api.GraftApi.groupConcatExportSharded(orders,
        "o_orderstatus", "o_orderkey", rowsPerShard = Long.MaxValue / 2,
        out = "orderkeys")
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(oneShard == raw)
    // ...while a genuinely over-budget shard still throws
    spark.conf.set("graft.groupExport.maxGroupBytes", "64")
    val hugeErr =
      try intercept[IllegalArgumentException] {
        graft.api.GraftApi.groupConcatExportSharded(orders,
          "o_orderstatus", "o_orderkey", rowsPerShard = 100L,
          out = "orderkeys").collect()
      } finally spark.conf.unset("graft.groupExport.maxGroupBytes")
    assert(hugeErr.getMessage.contains("maxGroupBytes"), hugeErr.getMessage)
    // the byte budget counts BYTES: 2-byte UTF-8 elements must trip a
    // limit a character count would clear
    val wide = Seq(("A", "ééééé"), ("A", "ééééé")).toDF("k", "v") // 10 B each
    spark.conf.set("graft.groupExport.maxGroupBytes", "15")
    try {
      val utfErr = intercept[IllegalArgumentException] {
        graft.api.GraftApi.groupConcatExportSharded(wide, "k", "v",
          rowsPerShard = 2L).collect()
      }
      assert(utfErr.getMessage.contains("maxGroupBytes"), utfErr.getMessage)
      val utfErr2 = intercept[IllegalArgumentException] {
        graft.api.GraftApi.groupConcatExport(wide, "k", "v").collect()
      }
      assert(utfErr2.getMessage.contains("maxGroupBytes"), utfErr2.getMessage)
    } finally spark.conf.unset("graft.groupExport.maxGroupBytes")
    // the streaming compaction slices with Int lengths: rowsPerShard past
    // Int range is rejected outright (even with the bytes guard off)
    val pieces = Seq(("A", 0, 2L, "1,2")).toDF("key", "bin", "n", "elems")
    val streamErr = intercept[IllegalArgumentException] {
      graft.streaming.GroupExportStream.reshardPieces(
        pieces, rowsPerShard = Long.MaxValue / 2)
    }
    assert(streamErr.getMessage.contains("Int.MaxValue"), streamErr.getMessage)
    CacheRegistry.drain()
  }

  test("rowLagsBlocks: sparse blocks, cross-block lags, and ties match the single window") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // one event per 10 min for u1 (EVERY lag crosses a block at
    // blockMs = 10 min; lag 7 spans 7 blocks — the case a naive
    // previous-block-only carry misses), an irregular burst + gap for
    // u2, and a same-timestamp tie broken by event_id for u3
    def t(s: Long) = new java.sql.Timestamp(86400000L + s * 1000L)
    val rows =
      (0 until 12).map(i => (100L + i, t(i * 600L), 1L, i.toDouble)) ++
      Seq((200L, t(0L), 2L, 5.0), (201L, t(5L), 2L, 6.0),
        (202L, t(9000L), 2L, 7.0), (203L, t(9001L), 2L, 8.0)) ++
      Seq((300L, t(42L), 3L, 1.0), (301L, t(42L), 3L, 2.0),
        (302L, t(42L), 3L, 3.0))
    val df = rows.toDF("event_id", "ts", "user_id", "value")
    val got = graft.api.GraftApi.rowLagsBlocks(
        df, "user_id", "ts", "event_id", col("value"), depth = 7,
        blockMs = 600000L)
      .collect().map(r => r.getAs[Long]("event_id") ->
        (1 to 7).map(d => Option(r.get(r.fieldIndex(s"lag_$d"))))).toMap
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val want = df.select(col("event_id") +:
        (1 to 7).map(d => lag(col("value"), d).over(w).as(s"lag_$d")): _*)
      .collect().map(r => r.getAs[Long]("event_id") ->
        (1 to 7).map(d => Option(r.get(r.fieldIndex(s"lag_$d"))))).toMap
    assert(got.keySet == want.keySet)
    val diff = got.keys.filter(k => got(k) != want(k)).toSeq.sorted
    assert(diff.isEmpty, diff.map(k => s"$k: ${got(k)} vs ${want(k)}").take(3))
    // the registered twins equal their single-window forms on real data
    def toMapEwma(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("ewma_milli")).toMap
    assert(toMapEwma(Temporal.windowEwmaBlocks.fn(spark, sfTiny)) ==
      toMapEwma(Temporal.windowEwma.fn(spark, sfTiny)))
    def toMapZ(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Long]("n_window"), r.getAs[Long]("anomaly")))).toMap
    assert(toMapZ(Temporal.anomalyZscoreBlocks.fn(spark, sfTiny)) ==
      toMapZ(Temporal.anomalyZscore.fn(spark, sfTiny)))
  }

  test("window EWMA: constant series is a fixed point; first row equals its value") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // u1 constant 2.5 → every EWMA == 2500 milli (weights cancel);
    // u2 a step series → EWMA strictly between min and max, first row = x
    val rows = Seq(
      (1L, t(1), 1L, "view", 2.5, "{}"), (2L, t(2), 1L, "view", 2.5, "{}"),
      (3L, t(3), 1L, "view", 2.5, "{}"), (4L, t(4), 1L, "view", 2.5, "{}"),
      (5L, t(1), 2L, "view", 0.0, "{}"), (6L, t(2), 2L, "view", 10.0, "{}"),
      (7L, t(3), 2L, "view", 10.0, "{}"),
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = tmpDir(); writeTable(dir, "events", rows)
    val got = Temporal.windowEwma.fn(spark, dir).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("ewma_milli")).toMap
    assert((1L to 4L).forall(got(_) == 2500L), got)
    assert(got(5L) == 0L) // first row: only w0 present
    assert(got(6L) > 0L && got(6L) < 10000L, got(6L)) // pulled toward history
    assert(got(7L) > got(6L) && got(7L) < 10000L, got) // converging upward
  }

  test("anomaly z-score: spike flagged, constant series never flags") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // u1: seven 5.0s then a 100.0 spike; u2: all-constant (zero variance
    // must NOT divide-by-zero or flag — strict > on both zero sides)
    val u1 = (1 to 7).map(i => (i.toLong, t(i), 1L, "view", 5.0, "{}")) :+
      ((8L, t(8), 1L, "view", 100.0, "{}"))
    val u2 = (11 to 16).map(i => (i.toLong, t(i - 10), 2L, "view", 7.0, "{}"))
    val dir = tmpDir()
    writeTable(dir, "events",
      (u1 ++ u2).toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val got = Temporal.anomalyZscore.fn(spark, dir).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("anomaly")).toMap
    assert(got(8L) == 1L, got) // the spike
    assert((1L to 7L).forall(got(_) == 0L), got)
    assert((11L to 16L).forall(got(_) == 0L), got)
  }

  test("semdedup: exact duplicate in a cell drops, orthogonal survives") {
    import spark.implicits._
    // one centroid (vec 0); vec 100 duplicates it (cosine 1 → dropped),
    // vec 101 is orthogonal to both (cosine 0 < τ → kept)
    val e1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val e2 = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val rows = Seq((0L, e1, 0), (100L, e1, 0), (101L, e2, 1))
      .toDF("vec_id", "embedding", "label")
    val dir = tmpDir(); writeTable(dir, "embeddings", rows)
    val got = graft.operators.Similarity.semDedup.fn(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("keep"), r.getAs[Long]("cell_capped")))).toMap
    CacheRegistry.drain()
    assert(got(0L) == ((1L, 0L)), got)
    assert(got(100L) == ((0L, 0L)), got) // duplicate of the canonical
    assert(got(101L) == ((1L, 0L)), got) // orthogonal: survives
  }

  test("sharded export bins STRING elements across bins, order-preserved") {
    import spark.implicits._
    // string ids used to cast-to-double → NULL bounds → every row in bin
    // 0 → the hot key's whole rank sort in ONE task; the 8-byte-prefix
    // image must both spread bins and keep the rank order exact
    val ids = (0 until 500).map(i => ("K", f"doc_${i}%04d"))
    val df = ids.toDF("k", "id")
    val shards = graft.api.GraftApi.groupConcatExportSharded(df, "k", "id",
        rowsPerShard = 50L).collect()
      .map(r => (r.getLong(1), r.getString(2))).sortBy(_._1)
    val reassembled = shards.map(_._2).mkString(",")
    assert(reassembled == ids.map(_._2).sorted.mkString(","))
    assert(shards.forall { case (i, s) =>
      val n = s.count(_ == ',') + 1
      if (i < 9) n == 50 else n <= 50
    }, shards.map(_._1).mkString(","))
    // the order image itself: non-null and strictly order-aligned over
    // byte-wise string order (the old cast-to-double image was NULL for
    // every string — bounds null → all rows bin 0)
    val img = Seq("a", "ab", "b", "doc_0001", "doc_0999", "zz")
      .toDF("id")
      .select(graft.api.GraftApi.valueOrderImage(
        org.apache.spark.sql.types.StringType, "id").as("x"))
      .collect().map(r => { assert(!r.isNullAt(0)); r.getDouble(0) })
    assert(img.toSeq == img.sorted.toSeq && img.distinct.length == img.length,
      img.mkString(","))
    // unsupported value type fails fast instead of collapsing silently
    val arr = Seq(("K", Seq(1, 2))).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      graft.api.GraftApi.valueRankBlocks(arr, "k", "v", "k")
    }
    assert(e.getMessage.contains("order-preserving"), e.getMessage)
    CacheRegistry.drain()
  }

  test("funnel counts the null-key cohort's stages (null-safe joins)") {
    import spark.implicits._
    def t(s: Long) = new java.sql.Timestamp(86400000L + s * 1000L)
    val ev = Seq(
      (1L, Some(7L), t(0), "view"), (2L, Some(7L), t(1), "click"),
      (3L, None, t(0), "view"), (4L, None, t(1), "click"),
      (5L, Some(8L), t(0), "view"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val got = graft.api.GraftApi.funnel(ev, "user_id", "event_type", "ts",
        Seq("view", "click")).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    CacheRegistry.drain()
    assert(got(7L) == ((1L, 1L)), got)
    assert(got(8L) == ((1L, 0L)), got)
    assert(got(-1L) == ((1L, 1L)),
      s"null-key cohort's events must reach its flags: $got")
  }

  test("rangeJoinEarliestKAuto accepts same-named columns on BOTH branches") {
    import spark.implicits._
    def t(s: Long) = new java.sql.Timestamp(86400000L + s * 1000L)
    // both sides expose the SAME column names — the rank branch renames
    // internally, and the pair branch must too (it used to crash on
    // rangeJoin's disjoint-names require only when the estimate was small)
    val lefts = Seq((7L, 100L, t(0)), (7L, 101L, t(5))).toDF("k", "id", "ts")
    val rights = Seq((7L, 200L, t(1)), (7L, 201L, t(6))).toDF("k", "id", "ts")
    def run(bound: String) = {
      spark.conf.set("graft.rangeJoinEarliestK.pairBound", bound)
      try graft.api.GraftApi.rangeJoinEarliestKAuto(lefts, rights,
          "k", "k", "ts", "ts", "id", "id", windowMs = 60000L, k = 1)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      finally spark.conf.unset("graft.rangeJoinEarliestK.pairBound")
    }
    val viaPair = run(Long.MaxValue.toString) // est <= bound → pair branch
    val viaRank = run("0")                    // est > bound → rank branch
    assert(viaPair == Set((100L, 200L), (101L, 201L)), viaPair)
    assert(viaPair == viaRank)
    CacheRegistry.drain()
  }
}
