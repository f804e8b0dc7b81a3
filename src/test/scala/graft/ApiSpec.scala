package graft

import graft.api.GraftApi
import graft.api.GraftApi._
import org.apache.spark.sql.functions._

/** The reference's PaperTutorial (tests/PaperTutorial.scala) re-run on the
  * Spark API surface: the naive and "optimized" formulations must agree,
  * and the addIndex analog must substitute the cached plan.
  */
class ApiSpec extends SparkSpec {

  test("generic pipeline functions work on arbitrary frames") {
    import spark.implicits._
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"),
      (20L, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
      (30L, "completely different content with nothing shared at all here whatsoever ok"),
      (40L, "the quick brown fox jumps over the lazy dog again and again today"),
    ).toDF("id", "body")
    // exact dedup: 10 and 40 share content, keeper = min id
    val keepers = GraftApi.dedupExact(docs, "id", "body")
    assert(keepers.count() == 3)
    assert(keepers.filter($"n_copies" === 2)
      .select("keeper").as[Long].head() == 10L)
    // near-dup pairs on the caller's own column names
    val pairs = GraftApi.nearDupPairs(docs, "id", "body", 0.5).collect()
    CacheRegistry.drain()
    val pairSet = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet.contains((10L, 20L)) && pairSet.contains((10L, 40L)), pairSet)
    assert(!pairSet.exists(p => p._1 == 30L || p._2 == 30L), pairSet)
    // int8 quantization: 1.0 → 127, -0.5 → -64 (half-up), 0.25 → 32;
    // the all-zero vector takes the explicit zero path
    val emb = Seq((1L, Array(1.0f, -0.5f, 0.25f)), (2L, Array(0.0f, 0.0f, 0.0f)))
      .toDF("vid", "v")
    val qz = GraftApi.quantizeEmbeddings(emb, "vid", "v").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(qz(1L).getAs[Long]("q_sum") == 127L - 64L + 32L, qz(1L))
    assert(qz(2L).getAs[Double]("scale") == 0.0 && qz(2L).getAs[Long]("q_sum") == 0L)
  }

  // Figure 1 analog: books with nested authors, as a nested DataFrame
  private lazy val books = {
    import spark.implicits._
    Seq(
      ("Compilers: Principles, Techniques, and Tools", "Pearson Education",
        Seq("Alfred Aho", "Monica Lam", "Ravi Sethi", "Jeffrey Ullman")),
      ("Structure and Interpretation", "MIT Press", Seq("Abelson", "Sussman")),
    ).toDF("title", "publisher", "authors")
  }

  test("sketchTable digests + incrementalNearDupPairs ≡ nearDupPairs touching the delta (renamed columns)") {
    val docs = Tables.documents(spark, sfTiny)
      .select(col("doc_id").as("id"), col("text").as("body"))
    // shingles are MD5 digests, not gram strings
    val sk = GraftApi.sketchTable(docs, "id", "body")
    val grams = sk.select(explode(col("shingles")).as("g"))
    assert(grams.count() > 0)
    assert(grams.filter(not(col("g").rlike("^[0-9a-f]{32}$"))).count() == 0L)
    def pairs(df: org.apache.spark.sql.DataFrame) = {
      val got = df.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        math.round(r.getAs[Double]("jaccard") * 1e9))).toSet
      CacheRegistry.drain()
      got
    }
    val inDelta = col("id") % 10 === 0
    val incr = pairs(GraftApi.incrementalNearDupPairs(
      GraftApi.sketchTable(docs.filter(not(inDelta)), "id", "body"),
      GraftApi.sketchTable(docs.filter(inDelta), "id", "body")))
    val full = pairs(GraftApi.nearDupPairs(docs, "id", "body")
      .filter(col("doc_a") % 10 === 0 || col("doc_b") % 10 === 0))
    assert(incr == full, s"incremental-only=${incr -- full} full-only=${full -- incr}")
    assert(full.nonEmpty)
  }

  test("paper tutorial: reified query equals hand-optimized composition") {
    import spark.implicits._
    // Figure 2/6: filter publisher, flatMap authors, yield (title, author, coauthors)
    val records = books.asGraft
      .where($"publisher" === "Pearson Education")
      .select($"title", explode($"authors").as("authorName"),
        (size($"authors") - 1).as("coauthors"))
    // Figure 3: second query over the first's results
    val processed = records.where($"title".contains("Principles"))
      .select($"title", $"authorName")
    // Figure 4: hand-optimized composition (predicates hoisted + fused)
    val handOpt = books
      .where($"publisher" === "Pearson Education" && $"title".contains("Principles"))
      .select($"title", explode($"authors").as("authorName"))
    assert(processed.collect().toSet == handOpt.collect().toSet)
    assert(processed.count() == 4)
    // Catalyst does the hoisting the reference implements by hand: both
    // predicates land below the generator — here, on local data, they are
    // folded away entirely (no Filter node survives)
    val opt = processed.queryExecution.optimizedPlan.toString
    assert(!opt.contains("Filter"), s"filter not hoisted:\n$opt")
  }

  test("indexBy produces a broadcastable keyed index") {
    import spark.implicits._
    val idx = books.indexBy($"publisher", $"title")
    val row = idx.where($"key" === "Pearson Education").head
    assert(row.getSeq[String](1).nonEmpty)
  }

  test("addIndex: cached subquery is substituted into later equivalent queries") {
    import spark.implicits._
    val byPriority = Tables.orders(spark, sfTiny)
      .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
    byPriority.addIndex()
    try {
      // a NEW equivalent query (fresh plan, same canonical form)
      val again = Tables.orders(spark, sfTiny)
        .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
      val plan = again.queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
        plan)
    } finally byPriority.removeIndex()
  }

  test("exists/forall whole-collection predicates") {
    import spark.implicits._
    val orders = Tables.orders(spark, sfTiny)
    assert(orders.existsWhere($"o_totalprice" > 400000))
    assert(!orders.forallWhere($"o_totalprice" > 400000))
    assert(orders.forallWhere($"o_totalprice" > 0))
  }

  test("typeCase dispatch matches CASE semantics") {
    import spark.implicits._
    val ev = Tables.events(spark, sfTiny)
    val weighted = ev.toDF().select(
      ev.toDF().typeCase($"event_type",
        "purchase" -> $"value", "click" -> lit(1.0))(lit(0.0)).as("w"))
    assert(weighted.agg(sum($"w")).head.getDouble(0) > 0)
  }

  test("local collections lift into queryable Datasets (asSquopt analog)") {
    import spark.implicits._
    implicit val s = spark
    val lifted = Seq(("x", 1), ("y", 2), ("y", 3)).asGraft
    val out = lifted.toDF("k", "v").groupBy("k")
      .agg(sum($"v").as("s")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("x" -> 1L, "y" -> 5L))
  }

  test("generic asofJoin: latest at-or-before payload, null when none") {
    import spark.implicits._
    def t(m: Long) = new java.sql.Timestamp(m * 60000L)
    val quotes = Seq((1L, t(1), 10L), (1L, t(5), 50L), (1L, t(5), 51L), (2L, t(9), 90L))
      .toDF("qk", "q_ts", "quote_id")
      .select(col("qk").as("k"), col("q_ts").as("ts"), col("quote_id"))
    val trades = Seq((1L, t(0), "a"), (1L, t(5), "b"), (1L, t(7), "c"), (3L, t(4), "d"))
      .toDF("k", "ts", "trade")
    val got = GraftApi.asofJoin(trades, quotes, "k", "ts", "ts", "quote_id")
      .select("trade", "asof_quote_id").collect()
      .map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    assert(got == Map(
      "a" -> None,        // no quote at-or-before t0
      "b" -> Some(51L),   // tie at t5 → larger payload wins
      "c" -> Some(51L),
      "d" -> None))       // key 3 has no quotes
  }

  test("generic rangeJoin equals the naive inequality join") {
    import spark.implicits._
    def t(m: Long) = new java.sql.Timestamp(m * 60000L)
    val l = (0L to 40L by 7).map(i => (1L, i, t(i))).toDF("lk", "lid", "lts")
    val r = (0L to 40L by 3).map(i => (1L, 100 + i, t(i))).toDF("rk", "rid", "rts")
    val got = GraftApi.rangeJoin(l, r, "lk", "rk", "lts", "rts",
        lowerMs = 2 * 60000L, upperMs = 11 * 60000L)
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val naive = l.join(r, col("lk") === col("rk") &&
        col("rts") >= col("lts") + expr("INTERVAL 2 MINUTES") &&
        col("rts") <= col("lts") + expr("INTERVAL 11 MINUTES"))
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got == naive && got.nonEmpty)
  }

  test("generic packSequences: contiguous fill per shard, budget-aligned cuts") {
    import spark.implicits._
    // one shard (ids ≡ 0 mod 64 not needed — shards=1), budget 10:
    // tokens 4,4,4 → doc 3 starts at 8, still pack 0; doc 4 starts at 12 → pack 1
    val df = Seq((0L, 4L), (1L, 4L), (2L, 4L), (3L, 7L)).toDF("id", "tk")
    val got = GraftApi.packSequences(df, "id", "tk", budget = 10L, shards = 1)
      .orderBy("id")
      .select("pack_id", "pack_offset").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((0L, 0L), (0L, 4L), (0L, 8L), (1L, 2L)), got)
  }

  test("partitionsFor: thread-multiple waves at 18M-row boundaries; shard defaults derive from it") {
    import spark.implicits._
    assert(GraftApi.partitionsFor(0L, 32) == 32)          // floor: one wave
    assert(GraftApi.partitionsFor(18000000L, 32) == 32)   // ≤ one wave unit
    assert(GraftApi.partitionsFor(18000001L, 32) == 64)
    // the ScaleSmoke settings this rule generalizes (600k-row sf0.1 base):
    assert(GraftApi.partitionsFor(600000L * 30, 32) == 32)
    assert(GraftApi.partitionsFor(600000L * 100, 32) == 128)
    assert(GraftApi.partitionsFor(600000L * 300, 32) == 320)
    assert(GraftApi.partitionsFor(600000L * 1000, 32) == 32 * 34)
    intercept[IllegalArgumentException](GraftApi.partitionsFor(-1L, 32))
    intercept[IllegalArgumentException](GraftApi.partitionsFor(10L, 0))
    // packSequences' data-sized default ≡ passing the derived count
    val df = (0L until 200L).map(i => (i, i % 7)).toDF("id", "tk")
    val derived = GraftApi.partitionsFor(spark, 200L)
    def packs(shards: Int) = GraftApi
      .packSequences(df, "id", "tk", budget = 10L, shards = shards)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(packs(0) == packs(derived))
  }

  test("generic PQ lifecycle (codebooks/encode/search) equals the registered operators") {
    val emb = Tables.embeddings(spark, sfTiny)
    val cbs = GraftApi.pqCodebooks(emb, "vec_id", "embedding",
      numSubs = 4, subDim = 16)
    val codes = GraftApi.pqEncode(emb, "vec_id", "embedding", cbs,
      numSubs = 4, subDim = 16)
    val got = GraftApi.pqSearchADC(codes, cbs,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        numSubs = 4, subDim = 16, codebookSize = 16, k = 5)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"),
        r.getAs[Double]("adc_dist"))).toSet
    val want = graft.operators.Similarity.pqSearch.fn(spark, sfTiny)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"),
        r.getAs[Double]("adc_dist"))).toSet
    CacheRegistry.drain()
    // same seeds (the 16 smallest ids, densely labeled), same fixed-point
    // Lloyd pass, same ADC fold → bit-identical top-k including distances
    assert(got == want, s"generic=${got.size} registered=${want.size}")
  }

  test("simhashNearDupPairsAuto equals the explicit small-corpus layout") {
    val docs = Tables.documents(spark, sfTiny)
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("hamming"))).toSet
    val auto = norm(GraftApi.simhashNearDupPairsAuto(docs))
    val explicit = norm(GraftApi.simhashNearDupPairs(docs, m = 4))
    CacheRegistry.drain()
    assert(auto == explicit, s"auto=${auto.size} explicit=${explicit.size}")
  }

  test("newDocs picks anti-join vs bloom by corpus size, identical exact answer") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val corpus = (0 until 300)
      .map(i => (i.toLong, s"content number ${i % 200} padded out a bit"))
      .toDF("doc_id", "text")
    val delta = (1000 until 1100)
      .map(i => (i.toLong, if (i % 2 == 0) s"content number ${i % 200} padded out a bit"
                 else s"fresh delta content $i"))
      .toDF("doc_id", "text")
    val expected = delta.join(corpus.select(col("text").as("c_text")),
        col("text") === col("c_text"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    val viaAnti = GraftApi.newDocs(corpus, delta)
      .select("doc_id").as[Long].collect().toSet
    val viaBloom = GraftApi.newDocs(corpus, delta, antiJoinBelow = 10L)
      .select("doc_id").as[Long].collect().toSet
    CacheRegistry.drain()
    assert(viaAnti == expected, (viaAnti -- expected, expected -- viaAnti))
    assert(viaBloom == expected, (viaBloom -- expected, expected -- viaBloom))
  }

  test("generic N-stage funnel: order-strict, arbitrary stage lists") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // u1 completes signup→view→click→purchase in order; u2 views before
    // signing up (its view must not count — nor anything after); u3
    // stops after click; u4 does purchase first (nothing counts but signup)
    val ev = Seq(
      (1L, "signup", 1L), (1L, "view", 2L), (1L, "click", 3L), (1L, "purchase", 4L),
      (2L, "view", 1L), (2L, "signup", 2L), (2L, "click", 3L),
      (3L, "signup", 1L), (3L, "view", 2L), (3L, "click", 3L),
      (4L, "purchase", 1L), (4L, "signup", 2L),
    ).toDF("uid", "etype", "ets")
    val got = GraftApi.funnel(ev, "uid", "etype", "ets",
        Seq("signup", "view", "click", "purchase"))
      .collect().map(r => r.getAs[Long]("uid") ->
        ((r.getAs[Long]("did_signup"), r.getAs[Long]("did_view"),
          r.getAs[Long]("did_click"), r.getAs[Long]("did_purchase")))).toMap
    CacheRegistry.drain()
    assert(got(1L) == ((1L, 1L, 1L, 1L)), got(1L))
    assert(got(2L) == ((1L, 0L, 0L, 0L)), got(2L)) // view precedes signup
    assert(got(3L) == ((1L, 1L, 1L, 0L)), got(3L))
    assert(got(4L) == ((1L, 0L, 0L, 0L)), got(4L)) // purchase precedes all
  }

  test("PQ index round-trips through parquet and serves identically") {
    import org.apache.spark.sql.functions.col
    // the persisted-index lifecycle: train once, write codebooks + codes,
    // read them back cold, serve — results must equal serving the
    // in-memory index (schemas survive parquet: array<double> centroids,
    // array<long> codes)
    val emb = Tables.embeddings(spark, sfTiny)
    val cbs = GraftApi.pqCodebooks(emb, "vec_id", "embedding",
      numSubs = 4, subDim = 16)
    val codes = GraftApi.pqEncode(emb, "vec_id", "embedding", cbs,
      numSubs = 4, subDim = 16)
    val dir = tmpDir()
    cbs.write.mode("overwrite").parquet(s"$dir/pq_codebooks.parquet")
    codes.write.mode("overwrite").parquet(s"$dir/pq_codes.parquet")
    val cbs2 = spark.read.parquet(s"$dir/pq_codebooks.parquet")
    val codes2 = spark.read.parquet(s"$dir/pq_codes.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    def serve(cb: org.apache.spark.sql.DataFrame, cd: org.apache.spark.sql.DataFrame) =
      GraftApi.pqSearchADC(cd, cb, queries, "vec_id", "embedding",
          numSubs = 4, subDim = 16, codebookSize = 16, k = 5)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"),
          r.getAs[Double]("adc_dist"))).toSet
    val fresh = serve(cbs, codes)
    val reloaded = serve(cbs2, codes2)
    CacheRegistry.drain()
    assert(fresh == reloaded, s"fresh=${fresh.size} reloaded=${reloaded.size}")
    assert(fresh.nonEmpty)
  }

  test("ivfPqSearchADC at nprobe=cells equals the full-scan pqSearchADC") {
    // probing EVERY cell makes the cell routing a no-op, so the composed
    // index must return exactly the exhaustive ADC scan's rows — the
    // equivalence that proves the probe stage only PRUNES, never rescores
    val emb = Tables.embeddings(spark, sfTiny)
    val queries = emb.filter(col("vec_id") < 8)
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"),
        r.getAs[Double]("adc_dist"))).toSet
    val cbs = CacheRegistry.track(GraftApi.pqCodebooks(
      emb, "vec_id", "embedding", numSubs = 4, subDim = 16))
    val codes = CacheRegistry.track(GraftApi.pqEncode(
      emb, "vec_id", "embedding", cbs, numSubs = 4, subDim = 16))
    val full = toSet(GraftApi.pqSearchADC(codes, cbs, queries,
      "vec_id", "embedding", numSubs = 4, subDim = 16, codebookSize = 16, k = 5))
    CacheRegistry.drain()
    val composed = GraftApi.ivfPqSearchADC(emb, queries, "vec_id", "embedding",
      cells = 16, nprobe = 16, numSubs = 4, subDim = 16, codebookSize = 16, k = 5)
    assert(toSet(composed) == full && full.nonEmpty)
    // the candidate join is KEYED (id to assignment, cell to probes) —
    // never the full-scan nested loop the exhaustive ADC op pays. The
    // FINAL plan's only nested loops are the query projection's two
    // one-row broadcasts: the packed centroid row the probe ranking
    // sorts and the packed codebook row the LUT reads; the codes path
    // must contribute none. (Final section only: the AQE echo below it
    // repeats the joins.)
    val finalSection = composed.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(finalSection).size
    assert(nlj == 2, s"expected only the two query-row nested loops, got $nlj")
    CacheRegistry.drain()
  }

  test("refineTopK on the full candidate set equals brute-force top-k") {
    // refine semantics: exact cosine over whatever shortlist it is given.
    // Handing it EVERY (query, candidate) pair must reproduce the
    // brute-force operator exactly — scores and ranking both — which
    // pins the re-rank stage as bit-identical to the house exact cosine.
    val emb = Tables.embeddings(spark, sfTiny)
    val queries = emb.filter(col("vec_id") < 8)
    val allPairs = queries.select(col("vec_id").as("q_id"))
      .crossJoin(emb.select(col("vec_id").as("cand_id")))
      .filter(col("q_id") =!= col("cand_id"))
    val refined = GraftApi.refineTopK(emb, allPairs, queries,
        "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"),
        r.getAs[Double]("cosine"))).toSet
    val brute = graft.operators.Similarity.annBruteForceTopK.fn(spark, sfTiny)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"),
        r.getAs[Double]("cosine"))).toSet
    assert(refined == brute && brute.nonEmpty)
  }

  test("ann_ivfpq_refine_topk output is its ADC shortlist re-ranked by exact cosine") {
    val op = graft.operators.Similarity.ivfPqRefineTopK.fn(spark, sfTiny)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"),
        r.getAs[Double]("cosine")))
    assert(op.nonEmpty)
    // per query: ≤5 rows, descending exact cosine, candidates distinct
    op.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.length <= 5, s"q=$q has ${rows.length} rows")
      assert(rows.map(_._2).distinct.length == rows.length)
    }
    // every emitted cosine must BE the exact cosine of that pair (the
    // refine contract: scores come from true vectors, not the ADC
    // approximation)
    val emb = Tables.embeddings(spark, sfTiny)
    import graft.functions.vec.vec_dot
    val v = emb.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(vec_dot(col("embedding"), col("embedding"))))
    val exact = v.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        col("nrm").as("a_nrm"))
      .crossJoin(v.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        col("nrm").as("b_nrm")))
      .filter(col("a_id") < 8)
      .select(col("a_id"), col("b_id"),
        (vec_dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")))
          .as("cos"))
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) ->
        r.getAs[Double]("cos")).toMap
    op.foreach { case (q, c, cos) =>
      assert(exact((q, c)) == cos, s"($q,$c): refine $cos != exact ${exact((q, c))}")
    }
  }

  test("ann_knn_classify: one deterministic majority row per query, consistent with brute-force neighbors") {
    val preds = graft.operators.Similarity.annKnnClassify.fn(spark, sfTiny)
      .collect().map(r => r.getAs[Long]("q_id") ->
        (r.getAs[Int]("pred_label"), r.getAs[Long]("votes"))).toMap
    assert(preds.keySet == (0L until 8L).toSet)
    preds.values.foreach { case (_, v) => assert(v >= 1 && v <= 10) }
    // recount from first principles: top-10 exact-cosine neighbors
    // (the brute-force op at k=10) joined to labels must reproduce the
    // vote and the (votes desc, label asc) winner
    val emb = Tables.embeddings(spark, sfTiny)
    val labels = emb.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val top10 = graft.operators.Similarity.annBruteForceTopK.fn(spark, sfTiny)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id")))
    top10.groupBy(_._1).foreach { case (q, rows) =>
      val votes = rows.map(r => labels(r._2)).groupBy(identity)
        .view.mapValues(_.size).toSeq
      val (bestLabel, bestVotes) = votes.minBy { case (l, n) => (-n, l) }
      assert(preds(q) == (bestLabel, bestVotes.toLong),
        s"q=$q: op ${preds(q)} vs recount ($bestLabel, $bestVotes)")
    }
  }

  test("generic knnClassify works on renamed columns and matches the registered op") {
    val emb = Tables.embeddings(spark, sfTiny)
    val renamed = emb.select(col("vec_id").as("item"),
      col("embedding").as("vec"), col("label").as("tag"))
    val got = GraftApi.knnClassify(renamed, renamed.filter(col("item") < 8),
        "item", "vec", "tag", k = 10)
      .collect().map(r => (r.getAs[Long]("q_id"),
        r.getAs[Int]("pred_label"), r.getAs[Long]("votes"))).toSet
    val want = graft.operators.Similarity.annKnnClassify.fn(spark, sfTiny)
      .collect().map(r => (r.getAs[Long]("q_id"),
        r.getAs[Int]("pred_label"), r.getAs[Long]("votes"))).toSet
    assert(got == want && want.nonEmpty)
  }

  test("ann_ivfpq_topk serves from the persisted index bit-identically to the inline build") {
    // the registered op searches persisted IVFADC parts (cells +
    // codebooks + cell-bucketed codes); deterministic training means the
    // served result must equal re-training both parts inline per run
    val emb = Tables.embeddings(spark, sfTiny)
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"),
        r.getAs[Double]("adc_dist"))).toSet
    val served = toSet(SparkEntry.queries("ann_ivfpq_topk")(spark, sfTiny))
    CacheRegistry.drain()
    val inline = toSet(GraftApi.ivfPqSearchADC(
      emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
      cells = 16, nprobe = 4, numSubs = 4, subDim = 16,
      codebookSize = 16, k = 5))
    CacheRegistry.drain()
    assert(served == inline && served.nonEmpty,
      s"served=${served.size} inline=${inline.size}")
  }

  test("generic ivfTopK works on renamed columns and matches the registered op") {
    val emb = Tables.embeddings(spark, sfTiny)
    val renamed = emb.select(col("vec_id").as("item"), col("embedding").as("vec"))
    val got = GraftApi.ivfTopK(renamed, renamed.filter(col("item") < 8),
        "item", "vec", cells = 256, nprobe = 2, iters = 1, k = 5)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"),
        r.getAs[Double]("cosine"))).toSet
    val want = graft.operators.Similarity.annIvfKmeansTopK.fn(spark, sfTiny)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"),
        r.getAs[Double]("cosine"))).toSet
    CacheRegistry.drain()
    assert(got == want, s"generic=${got.size} registered=${want.size}")
  }

  test("ivfSearchAuto equals ivfSearch at the occupancy-derived nprobe") {
    val emb = Tables.embeddings(spark, sfTiny)
    val queries = emb.filter(col("vec_id") < 8)
    // derive the bound the same way the plan does, off the same index:
    // np = clamp(ceil(k·oversample·Σcnt/Σcnt²), 1, cells)
    val (_, lists) = graft.operators.Similarity.ivfIndex(
      emb, "vec_id", "embedding", cells = 256, iters = 1)
    val occ = lists.groupBy("cent_id").count()
      .agg(sum("count"), sum(col("count") * col("count"))).head()
    CacheRegistry.drain()
    val np = math.min(256L, math.max(1L,
      math.ceil(40.0 * occ.getLong(0) / occ.getLong(1)).toLong)).toInt
    assert(np >= 1 && np <= 256)
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"),
        r.getAs[Double]("cosine"))).toSet
    val auto = toSet(graft.operators.Similarity.ivfSearchAuto(
      emb, queries, "vec_id", "embedding", cells = 256, iters = 1, k = 5))
    CacheRegistry.drain()
    val manual = toSet(graft.operators.Similarity.ivfSearch(
      emb, queries, "vec_id", "embedding", cells = 256, nprobe = np,
      iters = 1, k = 5))
    CacheRegistry.drain()
    assert(auto == manual, s"auto=${auto.size} manual=${manual.size} np=$np")
    assert(auto.nonEmpty)
  }

  test("ivfSearchAutoFromIndex over the persisted index equals the inline build") {
    val emb = Tables.embeddings(spark, sfTiny)
    val queries = emb.filter(col("vec_id") < 8)
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"),
        r.getAs[Double]("cosine"))).toSet
    val inline = toSet(graft.operators.Similarity.ivfSearchAuto(
      emb, queries, "vec_id", "embedding", cells = 256, iters = 1, k = 5))
    CacheRegistry.drain()
    // serving form: same index frames, candidates straight off the lists
    val (cents, lists) = graft.operators.Similarity.ivfIndex(
      emb, "vec_id", "embedding", cells = 256, iters = 1)
    val served = toSet(graft.operators.Similarity.ivfSearchAutoFromIndex(
      cents, lists, queries, "vec_id", "embedding", k = 5))
    CacheRegistry.drain()
    assert(served == inline,
      s"served-only=${(served -- inline).take(3)} inline-only=${(inline -- served).take(3)}")
    assert(served.nonEmpty)
    // and the REGISTERED op (persisted-index serving) matches too
    val reg = toSet(SparkEntry.queries("ann_ivf_autoprobe")(spark, sfTiny))
    CacheRegistry.drain()
    assert(reg == inline, s"reg=${reg.size} inline=${inline.size}")
  }

  test("ivfTopKAuto clamps past the live cell count on a tiny corpus") {
    val emb = Tables.embeddings(spark, sfTiny).filter(col("vec_id") < 5)
    // 5 singleton cells → size-biased mean 1 → np = 40, far past the 5
    // cells that exist; probing all of them degrades gracefully to exact
    // search, so every query must rank all 4 non-self candidates
    val got = GraftApi.ivfTopKAuto(emb, emb, "vec_id", "embedding",
      cells = 256, iters = 1, k = 5)
    val counts = got.groupBy("q_id").count().collect()
      .map(r => r.getAs[Long]("count")).toSeq
    CacheRegistry.drain()
    assert(counts.size == 5 && counts.forall(_ == 4L), counts.toString)
  }

  test("generic chunkDocs works on renamed columns and custom window sizes") {
    import spark.implicits._
    val df = Seq((1L, "a" * 25), (2L, "bcd"), (3L, "")).toDF("id", "body")
    val got = GraftApi.chunkDocs(df, "id", "body", window = 10, overlap = 2)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("chunk_id"),
        r.getAs[String]("chunk"))).toSet
    // 25 chars, stride 8: starts 1/9/17 → ceil((25-10)/8)+1 = 3 chunks
    val want = Set(
      (1L, 1L, "a" * 10), (1L, 2L, "a" * 10), (1L, 3L, "a" * 9),
      (2L, 1L, "bcd"))
    assert(got == want, got.toString)
    intercept[IllegalArgumentException] {
      GraftApi.chunkDocs(df, "id", "body", window = 4, overlap = 4)
    }
  }

  test("generic splitAssign honors custom weights and refuses bad ones") {
    val docs = Tables.documents(spark, sfTiny)
    val labeled = GraftApi.splitAssign(docs, "doc_id",
      Seq(("fit", 50), ("holdout", 50)))
    val counts = labeled.groupBy("split").count().collect()
      .map(r => (r.getAs[String]("split"), r.getAs[Long]("count"))).toMap
    val total = docs.count()
    CacheRegistry.drain()
    assert(counts.keySet == Set("fit", "holdout"))
    assert(counts.values.sum == total)
    // a fair md5 coin at 50/50 should not be lopsided
    val frac = counts("fit").toDouble / total
    assert(frac > 0.35 && frac < 0.65, s"fit fraction $frac")
    intercept[IllegalArgumentException] {
      GraftApi.splitAssign(docs, "doc_id", Seq(("a", 60), ("b", 60)))
    }
  }

  test("generic mixSchedule matches the registered interleave and refuses bad weights") {
    val docs = Tables.documents(spark, sfTiny)
    val weights =
      Map("en" -> 0.4, "zh" -> 0.15, "es" -> 0.15, "de" -> 0.15, "fr" -> 0.15)
    val got = GraftApi.mixSchedule(docs, "doc_id", "lang", weights, shards = 8)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("vtime"))).toSet
    CacheRegistry.drain()
    val want = graft.operators.Pipeline.interleave.fn(spark, sfTiny)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("vtime"))).toSet
    CacheRegistry.drain()
    assert(got == want)
    // the DEFAULT derives a data-sized shard count (partitionsFor over
    // the in-mixture rows) and is result-identical to passing that
    // count explicitly
    val inMix = docs.filter(col("lang").isInCollection(weights.keys.toSeq))
    val derived = GraftApi.partitionsFor(spark, inMix.count())
    def vts(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("vtime"))).toSet
    val auto = vts(GraftApi.mixSchedule(docs, "doc_id", "lang", weights))
    val pinned = vts(GraftApi.mixSchedule(docs, "doc_id", "lang", weights, derived))
    CacheRegistry.drain()
    assert(auto == pinned, s"auto=${auto.size} pinned=${pinned.size} derived=$derived")
    // unlisted domains are excluded, weights normalize
    val sub = GraftApi.mixSchedule(docs, "doc_id", "lang", Map("en" -> 2.0))
    assert(sub.select("lang").distinct().collect().map(_.getString(0)).toSeq == Seq("en"))
    CacheRegistry.drain()
    intercept[IllegalArgumentException] {
      GraftApi.mixSchedule(docs, "doc_id", "lang", Map("en" -> -1.0))
    }
  }

  test("generic mergeUpsert: non-null update semantics, audit actions, schema guard") {
    import spark.implicits._
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "name", "bal")
    val delta = Seq((2L, null.asInstanceOf[String], 99.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    val got = GraftApi.mergeUpsert(target, delta, "k").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, "a", 10.0, "unchanged"),
      (2L, "b", 99.0, "updated"),   // null delta name keeps target's (coalesce contract)
      (3L, "c", 30.0, "inserted")), got.toSeq)
    intercept[IllegalArgumentException] {
      GraftApi.mergeUpsert(target, delta.withColumnRenamed("bal", "balance"), "k")
    }
  }

  test("bloom lifecycle verbs: absorb ≡ rebuild, serve against merged state") {
    import spark.implicits._
    val base = (0 until 100).map(i => (i.toLong, s"api bloom base $i")).toDF("doc_id", "text")
    val shard = (500 until 550).map(i => (i.toLong, s"api bloom shard $i")).toDF("doc_id", "text")
    val merged = GraftApi.bloomAbsorb(
      GraftApi.bloomFilters(base, 200L, 4), GraftApi.bloomFilters(shard, 200L, 4))
    val rebuilt = GraftApi.bloomFilters(base.unionByName(shard), 200L, 4)
    val mBytes = merged.filters.as[(Long, Array[Byte])].collect().toMap
    rebuilt.filters.as[(Long, Array[Byte])].collect().foreach { case (bkt, bytes) =>
      assert(java.util.Arrays.equals(mBytes(bkt), bytes), s"bucket $bkt differs")
    }
    val delta = Seq((9000L, "api bloom base 7"), (9001L, "api bloom shard 510"),
      (9002L, "genuinely new api arrival")).toDF("doc_id", "text")
    val got = GraftApi.bloomNewDocsAgainst(merged,
        base.unionByName(shard), delta)
      .select("doc_id").as[Long].collect().toSet
    // the API serve path caches nothing (ADVICE r15): no drain needed,
    // and the registry must not be holding a leaked probe frame
    assert(CacheRegistry.liveCount == 0,
      "bloomNewDocsAgainst leaked a tracked cache entry")
    assert(got == Set(9002L), got)
  }

  test("bloom geometry: absorb fail-fasts on bucket-count and sizing drift") {
    import spark.implicits._
    val base = (0 until 50).map(i => (i.toLong, s"geom base $i")).toDF("doc_id", "text")
    val s4 = GraftApi.bloomFilters(base, 200L, 4)
    // bucket-count drift: bloom_or alone can NEVER catch this (bit
    // arrays are compatible) — true duplicates would probe the wrong
    // bucket and be declared new; the wrapper must refuse
    val e1 = intercept[IllegalArgumentException] {
      GraftApi.bloomAbsorb(s4, GraftApi.bloomFilters(base, 200L, 8))
    }
    assert(e1.getMessage.contains("geometry"), e1.getMessage)
    // sizing drift fail-fasts at the wrapper too, before any job runs
    val e2 = intercept[IllegalArgumentException] {
      GraftApi.bloomAbsorb(s4, GraftApi.bloomFilters(base, 500L, 4))
    }
    assert(e2.getMessage.contains("geometry"), e2.getMessage)
    // a caller frame carrying a stale/foreign bkt column must not be
    // trusted on the public verb: filters are keyed by recomputed
    // pmod(xxhash64(text), buckets), identical to the clean build
    val poisoned = base.withColumn("bkt", lit(0L))
    val clean = GraftApi.bloomFilters(base, 200L, 4)
      .filters.as[(Long, Array[Byte])].collect().toMap
    GraftApi.bloomFilters(poisoned, 200L, 4)
      .filters.as[(Long, Array[Byte])].collect().foreach { case (bkt, bytes) =>
        assert(java.util.Arrays.equals(clean(bkt), bytes),
          s"bucket $bkt differs under a poisoned caller bkt column")
      }
  }

  test("mergeUpsert guards the unique-delta-key MERGE precondition") {
    import spark.implicits._
    val target = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val dup = Seq((2L, "x"), (2L, "y"), (3L, "z")).toDF("k", "v")
    // duplicated delta key: fails loudly at execution (SQL MERGE
    // multi-match semantics) instead of fanning out rows per key
    val e = intercept[Exception] {
      GraftApi.mergeUpsert(target, dup, "k").collect()
    }
    assert(e.toString.contains("duplicate") ||
      Option(e.getCause).exists(_.toString.contains("duplicate")), e.toString.take(300))
    // the guard passes clean deltas through unchanged
    val ok = GraftApi.mergeUpsert(target, Seq((2L, "x")).toDF("k", "v"), "k")
      .orderBy("k").select("k", "v", "merge_action")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(ok == Seq((1L, "a", "unchanged"), (2L, "x", "updated")), ok)
    // null delta keys are EXEMPT from the guard (SQL MERGE: a null
    // source key never multi-matches — each row is NOT MATCHED and
    // inserts), and the action label reads presence, not key
    // nullability: two null-key rows insert as 'inserted', never
    // 'unchanged'
    val nullDelta = Seq((Option.empty[Long], "n1"), (Option.empty[Long], "n2"),
      (Option(3L), "c")).toDF("k", "v")
    val got = GraftApi.mergeUpsert(target, nullDelta, "k")
      .select("k", "v", "merge_action")
      .collect().map(r => (Option(r.get(0)), r.getString(1), r.getString(2))).toSeq
    assert(got.count(_._3 == "inserted") == 3, got)     // n1, n2, c
    assert(got.count(_._3 == "unchanged") == 2, got)    // targets 1, 2
    assert(got.filter(_._1.isEmpty).map(_._2).toSet == Set("n1", "n2"), got)
  }

  test("bloomUpsertServe refuses an empty verify-hash set") {
    import spark.implicits._
    val docs = (0 until 20).map(i => (i.toLong, s"verify guard $i")).toDF("doc_id", "text")
    val st = GraftApi.bloomFilters(docs, 100L, 4)
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup.bloomUpsertServe(st.filters,
        st.filters.limit(0), Seq.empty, docs, 4)
    }
    assert(e.getMessage.contains("verifyHashes"), e.getMessage)
  }

  test("generic redactPii tags emails, IPs, phones and counts matches") {
    import spark.implicits._
    val df = Seq(
      (1L, "reach me at jo.na+x@ex-a.mple.org or 192.168.0.1 or 555-123-4567"),
      (2L, "no pii here, just 1.5 and v2.0")).toDF("id", "txt")
    val got = GraftApi.redactPii(df, "txt").orderBy("id")
      .select("n_pii", "txt_redacted").collect()
    assert(got(0).getLong(0) == 3L, got(0).toString)
    assert(got(0).getString(1) == "reach me at <EMAIL> or <IP> or <PHONE>", got(0).getString(1))
    assert(got(1).getLong(0) == 0L)
    assert(got(1).getString(1) == "no pii here, just 1.5 and v2.0")
  }

  test("adaptiveBroadcast: an understated knownRowBound fails on the measured path too") {
    // distributed frame, bound above the limit: the verb persists and
    // counts — and must hold that count to the caller's bound
    spark.conf.set("graft.adaptiveBroadcast.maxRows", "2")
    try {
      val e = intercept[IllegalArgumentException] {
        GraftApi.adaptiveBroadcast(spark.range(10).toDF("id"),
          knownRowBound = Some(5L))
      }
      assert(e.getMessage.contains("knownRowBound"), e.getMessage)
    } finally {
      spark.conf.unset("graft.adaptiveBroadcast.maxRows")
      CacheRegistry.drain()
    }
  }
}
