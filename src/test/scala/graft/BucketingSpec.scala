package graft

import org.apache.spark.sql.functions._

/** Bucketed-write co-located join: persisting both sides bucketed by the
  * join key lets every future join run with ZERO exchanges — the
  * pre-partitioning strategy for joins repeated at 100 TB (SURVEY §4).
  */
class BucketingSpec extends SparkSpec {

  test("join of tables bucketed on the key plans without a shuffle") {
    val wh = tmpDir()
    val db = "graft_bkt"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$wh'")
    // at sf0.001 the dim fits the broadcast threshold and Spark would skip
    // the bucket join entirely; disable broadcast to observe the layout
    // (at 100 TB neither side broadcasts — this IS the production shape)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.orders(spark, sfTiny)
        .write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable(s"$db.orders_b")
      Tables.customer(spark, sfTiny)
        .withColumnRenamed("c_custkey", "cust_key")
        .write.mode("overwrite")
        .bucketBy(8, "cust_key").sortBy("cust_key")
        .saveAsTable(s"$db.customer_b")

      val joined = spark.table(s"$db.orders_b")
        .join(spark.table(s"$db.customer_b"),
          col("o_custkey") === col("cust_key"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))

      val plan = joined.queryExecution.executedPlan.toString
      // the join itself must not shuffle either side: bucket layout IS the
      // partitioning. (The final single aggregate exchange is expected.)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1, s"expected only the aggregate exchange, got $exchanges:\n$plan")

      // and results equal the unbucketed join
      val direct = Tables.orders(spark, sfTiny)
        .join(Tables.customer(spark, sfTiny),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      assert(joined.collect().toSet == direct.collect().toSet)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    }
  }

  test("bucketed IVF inverted lists: serving probes shuffle ONLY the probe side") {
    // the ivfIndex persistence story: lists stored bucketBy(cent_id)
    // mean a serving run's cell-probe join reads the corpus lists with
    // ZERO exchange — only the (tiny) probe set aligns to the layout
    import org.apache.spark.sql.functions.{col, count, lit}
    val wh = tmpDir()
    val db = "graft_ivf"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$wh'")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val emb = Tables.embeddings(spark, sfTiny)
      val (_, lists) = graft.operators.Similarity.ivfIndex(
        emb, "vec_id", "embedding", cells = 64, iters = 1)
      lists.write.mode("overwrite")
        .bucketBy(8, "cent_id").sortBy("cent_id")
        .saveAsTable(s"$db.ivf_lists")
      CacheRegistry.drain()
      import spark.implicits._
      val probeDf = (0L until 8L).map(c => (100L + c, c)).toDF("q_id", "p_cent")
      val joined = spark.table(s"$db.ivf_lists")
        .join(probeDf, col("cent_id") === col("p_cent"))
        .groupBy("q_id").agg(count(lit(1)).as("n_cands"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      // exchanges: the probe side aligning to the bucket layout + the
      // final aggregate — the corpus lists side pays NONE
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 2, s"expected 2 exchanges (probe align + agg), got $exchanges:\n$plan")
      assert(!plan.contains("hashpartitioning(cent_id"),
        s"corpus lists side shuffled:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    }
  }

  test("ivfIndexUpsert equals a frozen-quantizer rebuild on corpus ∪ delta") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sfTiny)
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = emb.filter(col("vec_id") % 5 === 0)
    val (cents, lists0raw) = Similarity.ivfIndex(
      corpus, "vec_id", "embedding", cells = 16, iters = 1)
    val lists0 = CacheRegistry.track(lists0raw)
    val stats0 = lists0.groupBy("cent_id").agg(count(lit(1)).as("cnt"))
    val (lists1, stats1) = graft.api.GraftApi.ivfIndexUpsert(
      cents, lists0, stats0, delta)
    // the frozen-quantizer rebuild: corpus ∪ delta assigned against the
    // SAME centroids (re-training Lloyd on the union is a REBUILD by
    // definition, not an upsert — the doc'd contract)
    val rebuilt = CacheRegistry.track(
      Similarity.ivfAssignToCells(cents, emb, "vec_id", "embedding"))
    def cellSet(df: org.apache.spark.sql.DataFrame) =
      df.select("cent_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cellSet(lists1) == cellSet(rebuilt))
    val wantStats = rebuilt.groupBy("cent_id").agg(count(lit(1)).as("cnt"))
    def statSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("cent_id"), r.getAs[Long]("cnt"))).toSet
    assert(statSet(stats1) == statSet(wantStats))
    // serving from the upserted parts ≡ serving from the rebuilt parts
    val queries = emb.filter(col("vec_id") < 8)
    def res(l: org.apache.spark.sql.DataFrame, s: org.apache.spark.sql.DataFrame) =
      Similarity.ivfSearchAutoFromIndex(cents, l, queries,
          "vec_id", "embedding", k = 5, stats = Some(s))
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"),
          r.getAs[Double]("cosine"))).toSet
    val got = res(lists1, stats1)
    assert(got.nonEmpty && got == res(rebuilt, wantStats))
    // a delta pushing cells past the hot bound re-derives the pre-split
    // slice layout (presplit metadata flag rides the new column) — the
    // bound floors at corpus/partitions, so pin partitions high enough
    // that the floor is 1 and every multi-row cell counts as hot
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4096")
    val (hotLists, _) =
      try graft.api.GraftApi.ivfIndexUpsert(
        cents, lists0, stats0, delta, hotCellBound = 1L)
      finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    assert(Similarity.isPresplit(hotLists))
    assert(hotLists.filter(col("slice") > 0).count() > 0)
    assert(cellSet(hotLists) == cellSet(rebuilt))
    CacheRegistry.drain()
  }

  test("ivfPqIndexUpsert equals frozen-quantizer re-encode on corpus ∪ delta") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sfTiny)
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = emb.filter(col("vec_id") % 5 === 0)
    val (_, c1p, assign1) = Similarity.ivfBuild(
      corpus, "vec_id", "embedding", cells = 8, iters = 1)
    val cents = c1p.drop("part")
    val cbs = CacheRegistry.track(graft.api.GraftApi.pqCodebooks(
      corpus, "vec_id", "embedding", numSubs = 4, subDim = 16))
    val codes0 = CacheRegistry.track(
      graft.api.GraftApi.pqEncode(corpus, "vec_id", "embedding", cbs, 4, 16)
        .join(assign1, col("vec_id") === col("a_vec"))
        .select(col("vec_id"), col("codes"), col("a_cent").as("cent_id")))
    val stats0 = codes0.groupBy("cent_id").agg(count(lit(1)).as("cnt"))
    val (codes1, stats1) = graft.api.GraftApi.ivfPqIndexUpsert(
      cents, cbs, codes0, stats0, delta)
    val rebuilt = CacheRegistry.track(
      graft.api.GraftApi.pqEncode(emb, "vec_id", "embedding", cbs, 4, 16)
        .join(Similarity.ivfAssignToCells(cents, emb, "vec_id", "embedding")
            .select(col("vec_id").as("a_vec"), col("cent_id")),
          col("vec_id") === col("a_vec"))
        .select(col("vec_id"), col("codes"), col("cent_id")))
    def codeSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cent_id"),
        r.getSeq[Long](r.fieldIndex("codes")).mkString(","))).toSet
    assert(codeSet(codes1) == codeSet(rebuilt))
    val queries = emb.filter(col("vec_id") < 4)
    def res(c: org.apache.spark.sql.DataFrame, s: org.apache.spark.sql.DataFrame) =
      graft.api.GraftApi.ivfPqSearchADCFromIndex(cents, cbs, c, queries,
          "vec_id", "embedding", stats = Some(s))
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"),
          r.getAs[Double]("adc_dist"))).toSet
    val wantStats = rebuilt.groupBy("cent_id").agg(count(lit(1)).as("cnt"))
    val got = res(codes1, stats1)
    assert(got.nonEmpty && got == res(rebuilt, wantStats))
    CacheRegistry.drain()
  }

  test("bucketed sketch posting table: incremental dedup shuffles ONLY the delta") {
    // the warehouse-native addIndex: the corpus's MinHash posting lists are
    // persisted bucketBy(hash), so every arriving shard's candidate join
    // reads the corpus with ZERO exchange — only the (tiny) delta side
    // repartitions to the bucket layout
    import graft.operators.Dedup
    val wh = tmpDir()
    val db = "graft_sk"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$wh'")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = Tables.documents(spark, sfTiny)
      Dedup.sketchTable(docs.filter(col("doc_id") % 10 =!= 0))
        .select(col("doc_id"), explode(col("sketch")).as("h"))
        .write.mode("overwrite").bucketBy(8, "h").sortBy("h")
        .saveAsTable(s"$db.corpus_postings")
      val deltaBuckets = Dedup.sketchTable(docs.filter(col("doc_id") % 10 === 0))
        .select(col("doc_id").as("d_id"), explode(col("sketch")).as("h"))
      val cand = spark.table(s"$db.corpus_postings")
        .join(deltaBuckets, "h")
        .select(least(col("doc_id"), col("d_id")).as("doc_a"),
          greatest(col("doc_id"), col("d_id")).as("doc_b"))
        .distinct()
      val plan = cand.queryExecution.executedPlan.toString
      // exchanges: the delta side aligning to the bucket layout + the
      // distinct — the corpus posting table pays NONE
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 2, s"expected delta+distinct exchanges only, got $exchanges:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      // and the candidate set matches the non-bucketed formulation
      val direct = Dedup.sketchTable(docs.filter(col("doc_id") % 10 =!= 0))
        .select(col("doc_id"), explode(col("sketch")).as("h"))
        .join(deltaBuckets, "h")
        .select(least(col("doc_id"), col("d_id")).as("doc_a"),
          greatest(col("doc_id"), col("d_id")).as("doc_b"))
        .distinct()
      assert(cand.collect().toSet == direct.collect().toSet)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    }
  }

  test("persisted PQ index round-trips: reloaded codebooks+codes serve bit-identically") {
    // the PQ side of the ivfIndex persistence story (the reference's
    // CrossStagePersistence: train once, reuse the compiled artifact
    // across stages): codebooks + codes written as tables, a later
    // serving session reloads both and pqSearchADC must return the
    // in-session build's rows BIT-identically — training determinism
    // (fixed-point Lloyd) plus exact ADC folds make that a set equality
    // on raw doubles, no tolerance.
    import graft.api.GraftApi
    val wh = tmpDir()
    val db = "graft_pq"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$wh'")
    try {
      val emb = Tables.embeddings(spark, sfTiny)
      val queries = emb.filter(col("vec_id") < 8)
      val cbs = CacheRegistry.track(
        GraftApi.pqCodebooks(emb, "vec_id", "embedding", numSubs = 4, subDim = 16))
      val codes = CacheRegistry.track(
        GraftApi.pqEncode(emb, "vec_id", "embedding", cbs, numSubs = 4, subDim = 16))
      def toSet(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"),
          r.getAs[Double]("adc_dist"))).toSet
      val inSession = toSet(GraftApi.pqSearchADC(codes, cbs, queries,
        "vec_id", "embedding", numSubs = 4, subDim = 16))
      // persist both index artifacts; codes bucketed by id like ivf lists
      cbs.write.mode("overwrite").saveAsTable(s"$db.pq_codebooks")
      codes.write.mode("overwrite").bucketBy(8, "vec_id").sortBy("vec_id")
        .saveAsTable(s"$db.pq_codes")
      CacheRegistry.drain()
      val served = GraftApi.pqSearchADC(spark.table(s"$db.pq_codes"),
        spark.table(s"$db.pq_codebooks"), queries,
        "vec_id", "embedding", numSubs = 4, subDim = 16)
      // the persisted-serving plan shuffles ONLY query-sized data: the
      // top-k re-rank (each query's LUT is a projection over one packed
      // codebook row, no aggregate). The codes corpus pays no exchange
      // (broadcast LUT against one codes scan) — unlike the in-session
      // build, whose encode groupBy shuffles the corpus once.
      val plan = served.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1,
        s"expected 1 query-side exchange (topK), got $exchanges:\n$plan")
      assert(!plan.contains("hashpartitioning(vec_id"),
        s"codes corpus side shuffled:\n$plan")
      assert(toSet(served) == inSession && inSession.nonEmpty)
      CacheRegistry.drain()
    } finally spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }
}
