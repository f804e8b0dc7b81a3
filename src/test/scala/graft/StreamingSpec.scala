package graft

import graft.StreamingSpec.FeedEvent
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Structured Streaming specs — the reference's IVM tests
  * (ivm/tests/IVMTest1.scala, IVMFlatMapTest1.scala) assert that
  * maintained results track base-collection updates; here micro-batches
  * are the deltas and the streaming state is the maintained view.
  */
class StreamingSpec extends SparkSpec {

  /** Day-1 offset: a row whose event time equals the initial watermark
    * (epoch 0) is dropped as late by stateful operators.
    */
  private def ts(minutes: Long): Timestamp =
    new Timestamp(86400000L + minutes * 60 * 1000L)

  test("windowed counts maintain per-window aggregates incrementally") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStreams.windowedCounts(input.toDF())
      .writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(Event(ts(5), 1L, "click", 1.0), Event(ts(10), 2L, "click", 2.0))
      query.processAllAvailable()
      val afterFirst = spark.table("win_counts").collect()
      assert(afterFirst.map(_.getAs[Long]("n")).sum == 2)

      input.addData(Event(ts(70), 1L, "view", 3.0)) // second hour window
      query.processAllAvailable()
      val rows = spark.table("win_counts").collect()
      assert(rows.length == 2, rows.mkString(";"))
      assert(rows.map(_.getAs[Long]("n")).sum == 3)
    } finally query.stop()
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStreams.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // session 1: two events 5 min apart; then a 60-min gap starts session 2
      input.addData(
        Event(ts(0), 7L, "click", 1.0), Event(ts(5), 7L, "click", 2.0),
        Event(ts(65), 7L, "view", 4.0))
      query.processAllAvailable()
      // push watermark far forward so the session-2 timeout fires
      input.addData(Event(ts(500), 99L, "click", 0.0))
      query.processAllAvailable()
      input.addData(Event(ts(900), 99L, "click", 0.0))
      query.processAllAvailable()

      val sessions = spark.table("sessions").filter($"user_id" === 7L).collect()
      assert(sessions.length == 2, sessions.mkString(";"))
      val s1 = sessions.minBy(_.getAs[Timestamp]("session_start").getTime)
      assert(s1.getAs[Long]("n_events") == 2)
      assert(s1.getAs[Double]("sum_value") == 3.0)
      val s2 = sessions.maxBy(_.getAs[Timestamp]("session_start").getTime)
      assert(s2.getAs[Long]("n_events") == 1)
    } finally query.stop()
  }

  test("maintained aggregate view tracks base-collection deltas (IVMTest1 analog)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStreams.typeCounts(input.toDF())
      .writeStream.format("memory").queryName("type_counts")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(Event(ts(1), 1L, "click", 1.0), Event(ts(2), 2L, "click", 1.0))
      query.processAllAvailable()
      def counts() = spark.table("type_counts").collect()
        .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n")).toMap
      assert(counts() == Map("click" -> 2L))
      // the delta updates the maintained view without recomputing history
      input.addData(Event(ts(3), 1L, "view", 1.0), Event(ts(4), 3L, "click", 1.0))
      query.processAllAvailable()
      assert(counts() == Map("click" -> 3L, "view" -> 1L))
    } finally query.stop()
  }

  test("streaming dedup drops re-arrivals of the same content hash") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val docs = input.toDF().toDF("ts", "text")
    val query = EventStreams.streamingDedup(docs, "text")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(1), "alpha"), (ts(2), "alpha"), (ts(3), "beta"))
      query.processAllAvailable()
      input.addData((ts(4), "alpha"), (ts(5), "gamma")) // alpha within watermark → dropped
      query.processAllAvailable()
      val texts = spark.table("dedup_stream").collect().map(_.getAs[String]("text"))
      assert(texts.sorted.toSeq == Seq("alpha", "beta", "gamma"), texts.mkString(","))
    } finally query.stop()
  }

  test("stream-stream join maintains click-to-purchase pairs incrementally") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStreams.clickToPurchase(input.toDF())
      .writeStream.format("memory").queryName("cp_join")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Event(ts(0), 1L, "click", 1.0))
      query.processAllAvailable()
      assert(spark.table("cp_join").count() == 0) // no purchase yet
      input.addData(
        Event(ts(10), 1L, "purchase", 9.0),  // within 30 min → joins
        Event(ts(50), 1L, "purchase", 5.0),  // outside 30 min → no pair
        Event(ts(10), 2L, "purchase", 7.0))  // other user → no pair
      query.processAllAvailable()
      val rows = spark.table("cp_join").collect()
      assert(rows.length == 1, rows.mkString(";"))
      assert(rows.head.getAs[Double]("purchase_value") == 9.0)
    } finally query.stop()
  }

  test("stream-static join enriches each micro-batch against the dimension") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("cust_id", "tier")
    val input = MemoryStream[Event]
    val query = EventStreams.enrichWithDim(input.toDF(), dim, "user_id", "cust_id")
      .select("user_id", "event_type", "tier")
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Event(ts(1), 1L, "click", 1.0), Event(ts(2), 9L, "click", 1.0))
      query.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => r.getAs[Long]("user_id") -> Option(r.getAs[String]("tier"))).toMap
      assert(rows == Map(1L -> Some("gold"), 9L -> None)) // left join keeps unmatched
    } finally query.stop()
  }

  test("native session_window agrees with flatMapGroupsWithState sessionization") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStreams.sessionWindowCounts(input.toDF())
      .writeStream.format("memory").queryName("sw_counts")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Event(ts(0), 7L, "click", 1.0), Event(ts(5), 7L, "click", 2.0),
        Event(ts(65), 7L, "view", 4.0))
      query.processAllAvailable()
      // close both sessions by pushing the watermark far forward
      input.addData(Event(ts(500), 99L, "click", 0.0))
      query.processAllAvailable()
      input.addData(Event(ts(900), 99L, "click", 0.0))
      query.processAllAvailable()
      val rows = spark.table("sw_counts").filter($"user_id" === 7L).collect()
      assert(rows.length == 2, rows.mkString(";"))
      assert(rows.map(_.getAs[Long]("n_events")).sorted.toSeq == Seq(1L, 2L))
    } finally query.stop()
  }

  test("maintained flatMap view tracks deltas without recompute (IVMFlatMapTest1 analog)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val docs = input.toDF().toDF("ts", "text")
    // the exploded (flatMap) view itself: stateless, rows append per delta
    val flat = EventStreams.explodedTokens(docs, "text")
      .writeStream.format("memory").queryName("flat_view")
      .outputMode(OutputMode.Append()).start()
    // the aggregate maintained over it
    val agg = EventStreams.tokenCounts(docs, "text")
      .writeStream.format("memory").queryName("token_counts")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData((ts(1), "a b a"), (ts(2), "b c"))
      flat.processAllAvailable(); agg.processAllAvailable()
      assert(spark.table("flat_view").count() == 5) // 3 + 2 exploded rows
      def counts() = spark.table("token_counts").collect()
        .map(r => r.getAs[String]("token") -> r.getAs[Long]("n")).toMap
      assert(counts() == Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
      // a delta updates both views incrementally
      input.addData((ts(3), "c c d"))
      flat.processAllAvailable(); agg.processAllAvailable()
      assert(spark.table("flat_view").count() == 8)
      assert(counts() == Map("a" -> 2L, "b" -> 2L, "c" -> 3L, "d" -> 1L))
    } finally { flat.stop(); agg.stop() }
  }

  test("maintained distinct view emits each key once (IVMTest1 distinct analog)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStreams.distinctTypes(input.toDF())
      .writeStream.format("memory").queryName("distinct_types")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Event(ts(1), 1L, "click", 1.0), Event(ts(2), 2L, "click", 1.0),
        Event(ts(3), 3L, "view", 1.0))
      query.processAllAvailable()
      def types() = spark.table("distinct_types").collect()
        .map(_.getAs[String]("event_type")).sorted.toSeq
      assert(types() == Seq("click", "view"))
      // re-arrivals add nothing; a new key appears exactly once
      input.addData(Event(ts(4), 4L, "view", 1.0), Event(ts(5), 5L, "purchase", 1.0))
      query.processAllAvailable()
      assert(types() == Seq("click", "purchase", "view"))
    } finally query.stop()
  }

  test("maintained union view merges two delta streams (IVMTest1 union analog)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (inA, inB) = (MemoryStream[Event], MemoryStream[Event])
    val query = EventStreams.unionView(inA.toDF(), inB.toDF())
      .groupBy($"event_type").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .writeStream.format("memory").queryName("union_view")
      .outputMode(OutputMode.Complete()).start()
    try {
      inA.addData(Event(ts(1), 1L, "click", 1.0))
      inB.addData(Event(ts(2), 2L, "click", 1.0), Event(ts(3), 3L, "view", 1.0))
      query.processAllAvailable()
      def counts() = spark.table("union_view").collect()
        .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n")).toMap
      assert(counts() == Map("click" -> 2L, "view" -> 1L))
      // a delta on either side updates the merged view
      inA.addData(Event(ts(4), 4L, "view", 1.0))
      query.processAllAvailable()
      assert(counts() == Map("click" -> 2L, "view" -> 2L))
    } finally query.stop()
  }

  test("file-sink round-trip: streamed micro-batches land as readable parquet") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val out = tmpDir() + "/sink"
    val ckpt = tmpDir() + "/ckpt"
    // exactly-once file sink: the checkpoint + _spark_metadata log is what
    // makes re-run batches idempotent on a real cluster
    val query = input.toDF()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Event(ts(1), 1L, "click", 1.0), Event(ts(2), 2L, "view", 2.0))
      query.processAllAvailable()
      input.addData(Event(ts(3), 3L, "click", 3.0))
      query.processAllAvailable()
      val back = spark.read.parquet(out)
      assert(back.count() == 3)
      assert(back.select(org.apache.spark.sql.functions.sum($"value"))
        .as[Double].head() == 6.0)
    } finally query.stop()
  }

  test("signed-delta view maintenance handles removals (IncrementalResult -= analog)") {
    import spark.implicits._
    import graft.streaming.DeltaViews
    val base = Seq(
      ("click", 1.0), ("click", 2.0), ("view", 3.0), ("view", 4.0), ("buy", 5.0),
    ).toDF("event_type", "value")
    val view0 = DeltaViews.recompute(base, "event_type", "value")
    // insert two rows, remove three (one emptying the 'buy' group entirely)
    val inserts = Seq(("click", 10.0), ("scroll", 7.0)).toDF("event_type", "value")
    val removes = Seq(("view", 3.0), ("view", 4.0), ("buy", 5.0)).toDF("event_type", "value")
    val maintained = DeltaViews.applyDelta(
      DeltaViews.applyDelta(view0, DeltaViews.aggDelta(inserts, "event_type", "value", 1)),
      DeltaViews.aggDelta(removes, "event_type", "value", -1))
    val expected = DeltaViews.recompute(
      base.unionByName(inserts).exceptAll(removes), "event_type", "value")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"key", $"n".cast("long"), $"sum_value".cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(canon(maintained) == canon(expected), s"${canon(maintained)} vs ${canon(expected)}")
    // the emptied group left the view entirely
    assert(!canon(maintained).exists(_._1 == "buy"))
  }

  test("maintained join view tracks deltas on BOTH sides incl. removals (bilinear rule)") {
    import spark.implicits._
    import graft.streaming.DeltaViews._
    def counted(rows: Seq[(Long, String)], side: String) =
      rows.toDF("k", side).groupBy("k", side).agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
    def signed(rows: Seq[(Long, String)], side: String, sign: Int) =
      counted(rows, side).withColumn("n", $"n" * sign)
    var aRows = Seq(1L -> "a1", 1L -> "a2", 2L -> "a3")
    var bRows = Seq(1L -> "b1", 2L -> "b2", 2L -> "b2") // b2 multiplicity 2
    var aState = counted(aRows, "av")
    var bState = counted(bRows, "bv")
    var view = recomputeJoin(aState, bState, "k")
    // delta: add one A row under key 2, REMOVE one of the duplicated B rows
    val dA = signed(Seq(2L -> "a4"), "av", 1)
    val dB = signed(Seq(2L -> "b2"), "bv", -1)
    view = mergeCounted(view, joinDelta(aState, bState, dA, dB, "k"),
      Seq("k", "av", "bv"))
    aState = mergeCounted(aState, dA, Seq("k", "av"))
    bState = mergeCounted(bState, dB, Seq("k", "bv"))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("av"),
        r.getAs[String]("bv"), r.getAs[Long]("n"))).toSet
    assert(canon(view) == canon(recomputeJoin(aState, bState, "k")),
      s"${canon(view)} vs ${canon(recomputeJoin(aState, bState, "k"))}")
    // key-2 pairs now: (a3,b2) and (a4,b2) each with multiplicity 1
    assert(canon(view).count(t => t._1 == 2L && t._4 == 1L) == 2)
  }

  test("batch sessionize (WindowOps) and streaming agree on session counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // same event set through the batch operator, via a temp parquet dir
    val events = Seq(
      Event(ts(0), 7L, "click", 1.0), Event(ts(5), 7L, "click", 2.0),
      Event(ts(65), 7L, "view", 4.0))
    val dir = tmpDir()
    val df = events.toDF()
      .withColumnRenamed("ts", "ts")
      .selectExpr("monotonically_increasing_id() as event_id", "ts", "user_id",
        "event_type", "value", "'{}' as props")
    writeTable(dir, "events", df)
    val batch = graft.operators.WindowOps.sessionize.fn(spark, dir)
      .filter($"user_id" === 7L).collect()
    assert(batch.length == 2)
    assert(batch.map(_.getAs[Long]("n_events")).sum == 3)
  }

  test("sessionizeBlocksStream + compaction equals batch q_sessionize_blocks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.streaming.EventStreams.{BlockEvent, BlockSession}
    val gapMs = 30L * 60 * 1000
    val blockMs = 6L * 3600 * 1000
    // the registered op's input, globally ts-sorted and fed in two
    // triggers (the funnel spec's cross-trigger ordering recipe)
    val evRows = Tables.events(spark, sfTiny)
      .select(col("ts").cast("timestamp"), col("user_id"), col("event_id"))
      .as[(Timestamp, Long, Long)].collect()
      .sortBy(r => (r._1.getTime, r._3))
      .map { case (t, u, e) => BlockEvent(t, u, e) }
    val maxTs = evRows.map(_.ts.getTime).max
    val sentinelUser = 999999999L
    val input = MemoryStream[BlockEvent]
    val q = EventStreams.sessionizeBlocksStream(input.toDS(), gapMs, blockMs)
      .writeStream.format("memory").queryName("block_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(evRows.take(evRows.length / 2).toIndexedSeq)
      q.processAllAvailable()
      input.addData(evRows.drop(evRows.length / 2).toIndexedSeq)
      q.processAllAvailable()
      // two watermark pushes: the first advances the watermark past every
      // real session's (lastTs + gap), the second triggers the timeouts
      input.addData(BlockEvent(new Timestamp(maxTs + 3 * 3600 * 1000L), sentinelUser, 0L))
      q.processAllAvailable()
      input.addData(BlockEvent(new Timestamp(maxTs + 9 * 3600 * 1000L), sentinelUser, 1L))
      q.processAllAvailable()
      val emitted = spark.table("block_sessions")
        .filter(col("user_id") =!= sentinelUser)
      val got = EventStreams.mergeBlockSessions(emitted, gapMs)
        .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
          r.getAs[Long]("n_events"), r.getAs[Long]("first_event"),
          r.getAs[Long]("last_event"))).toSet
      val want = graft.operators.WindowOps.sessionizeBlocksOp.fn(spark, sfTiny)
        .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
          r.getAs[Long]("n_events"), r.getAs[Long]("first_event"),
          r.getAs[Long]("last_event"))).toSet
      assert(want.nonEmpty)
      assert(got == want,
        s"stream-only=${(got -- want).take(3)} batch-only=${(want -- got).take(3)}")
    } finally q.stop()
    // constructed boundary straddle: a session crossing a block edge
    // within gap must come back as ONE session after compaction
    val b = blockMs * 4 // an arbitrary block boundary instant
    val straddle = Seq(
      // last session of block 3, ending 10 min before the boundary
      (7L, 3L, 1L, b - 10 * 60000L, b - 10 * 60000L, 1L, 10L, 10L),
      // first session of block 4, starting 5 min after — 15 min gap ≤ 30
      (7L, 4L, 1L, b + 5 * 60000L, b + 5 * 60000L, 1L, 11L, 11L)
    ).toDF("user_id", "bkt", "local_id", "start_ms", "end_ms", "n_events",
      "first_event", "last_event")
    val merged = EventStreams.mergeBlockSessions(straddle, gapMs).collect()
    assert(merged.length == 1 && merged.head.getAs[Long]("n_events") == 2L,
      merged.mkString(";"))
  }

  test("streaming funnel state machine converges to the batch funnel flags") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // per-user ts order across triggers: feed the log globally ts-sorted,
    // split into two triggers at the midpoint
    val evRows = Tables.events(spark, sfTiny)
      .select(col("user_id"), col("event_type"),
        org.apache.spark.sql.functions.unix_micros(col("ts").cast("timestamp"))
          .as("ts_us"))
      .orderBy("ts_us")
      .as[(Long, String, Long)].collect()
      .map { case (u, t, ts) => EventStreams.FunnelEvent(u, t, ts) }
    val input = MemoryStream[EventStreams.FunnelEvent]
    val q = EventStreams.funnelStream(input.toDS())
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(evRows.take(evRows.length / 2).toIndexedSeq)
      q.processAllAvailable()
      input.addData(evRows.drop(evRows.length / 2).toIndexedSeq)
      q.processAllAvailable()
      // flags are monotone → the max per user in the append sink is the
      // final state
      val streamed = spark.table("funnel_stream")
        .groupBy("user_id")
        .agg(org.apache.spark.sql.functions.max("did_view").as("v"),
          org.apache.spark.sql.functions.max("did_click").as("c"),
          org.apache.spark.sql.functions.max("did_purchase").as("p"))
        .collect().map(r => r.getAs[Long]("user_id") ->
          ((r.getAs[Long]("v"), r.getAs[Long]("c"), r.getAs[Long]("p")))).toMap
      val batch = graft.operators.Temporal.funnel.fn(spark, sfTiny)
        .collect().map(r => r.getAs[Long]("user_id") ->
          ((r.getAs[Long]("did_view"), r.getAs[Long]("did_click"),
            r.getAs[Long]("did_purchase")))).toMap
      CacheRegistry.drain()
      assert(streamed == batch,
        s"diff=${(streamed.toSet diff batch.toSet).take(3)} / ${(batch.toSet diff streamed.toSet).take(3)}")
    } finally q.stop()
  }

  test("streaming BPE encode equals the batch text_bpe_encode op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfTiny)
    val rows = docs.select("doc_id", "text").as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val enc = EventStreams.bpeEncodeStream(input.toDF().toDF("doc_id", "text"))
    val q = enc.writeStream.format("memory").queryName("bpe_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows.take(rows.length / 2).toIndexedSeq)
      q.processAllAvailable()
      input.addData(rows.drop(rows.length / 2).toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("bpe_stream").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bpe_tokens"),
          r.getAs[String]("ids_head"))).toSet
      val batch = graft.operators.TextAnalysis.bpeEncode.fn(spark, sfTiny)
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bpe_tokens"),
          r.getAs[String]("ids_head"))).toSet
      assert(streamed == batch,
        s"stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("streaming paragraph admission ≡ batch dedup_paragraph over corpus ∪ {doc}") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, split, coalesce, lit}
    def withParas(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        split(coalesce(col("text"), lit("")), "\n").as("paras"))
    val boiler = "subscribe for updates"
    val corpus = withParas(Seq(
      (100L, s"alpha beta\n$boiler"),
      (101L, "gamma delta\nepsilon"),
    ).toDF("doc_id", "text"))
    val counts = CacheRegistry.track(graft.api.GraftApi.paragraphHashCounts(corpus))
    val arriving = Seq(
      (1L, s"$boiler\nfresh paragraph one"),      // corpus dup dropped
      (2L, "repeated twice\nrepeated twice\nkept"), // in-doc dup dropped
      (3L, "fresh paragraph one\nall new here"),  // doc 1 must NOT affect doc 3
      (4L, null: String),                          // empty doc rides through
    )
    val input = MemoryStream[(Long, String)]
    val out = EventStreams.paragraphDedupStream(
      withParas(input.toDF().toDF("doc_id", "text")), counts, "\n")
    val q = out.writeStream.format("memory").queryName("para_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(arriving.take(2))
      q.processAllAvailable()
      input.addData(arriving.drop(2))
      q.processAllAvailable()
      val streamed = spark.table("para_stream").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_paras"), r.getAs[Long]("n_removed"),
            r.getAs[String]("text_depara"))).toMap
      // the contract: each doc ≡ the BATCH pass over corpus ∪ {doc},
      // restricted to the doc (admission — arriving docs don't see
      // each other: doc 3 repeats doc 1's fresh paragraph and keeps it)
      arriving.foreach { case (id, text) =>
        val one = withParas(Seq((id, text)).toDF("doc_id", "text"))
        val want = graft.operators.Dedup
          .paragraphDedupFrame(spark, corpus.unionByName(one), "\n")
          .filter(col("doc_id") === id).collect().map(r =>
            (r.getAs[Long]("n_paras"), r.getAs[Long]("n_removed"),
              r.getAs[String]("text_depara"))).head
        assert(streamed(id) == want, s"doc $id: ${streamed(id)} vs $want")
      }
      CacheRegistry.drain()
    } finally q.stop()
  }

  test("streaming bloom admission ≡ batch bloomNewDocsBucketed per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val buckets = 8
    val corpusRows = (0 until 200).map(i => (i.toLong, s"stream bloom corpus doc ${i % 150}"))
    val corpus = CacheRegistry.track(corpusRows.toDF("doc_id", "text"))
    val filters = CacheRegistry.track(graft.operators.Dedup.bloomBucketFilters(
      graft.operators.Dedup.withTextBkt(corpus, buckets), 500L, buckets))
    filters.count() // materialize the static state before the stream starts
    // arrivals: corpus dups, fresh content, and a null text (null key ⇒
    // null probe ⇒ routed through the verify anti-join, kept new)
    val arriving: Seq[(Long, String)] = Seq(
      (1000L, "stream bloom corpus doc 7"),   // dup — dropped
      (1001L, "completely fresh arrival a"),  // new
      (1002L, "stream bloom corpus doc 149"), // dup — dropped
      (1003L, "completely fresh arrival b"),  // new
      (1004L, null.asInstanceOf[String]),     // null text — kept new
    )
    val input = MemoryStream[(Long, String)]
    val out = EventStreams.bloomNewStream(
      input.toDF().toDF("doc_id", "text"), filters, corpus, buckets)
    val q = out.writeStream.format("memory").queryName("bloom_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(arriving.take(3))
      q.processAllAvailable()
      input.addData(arriving.drop(3))
      q.processAllAvailable()
      val streamed = spark.table("bloom_stream").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      val want = graft.operators.Dedup.bloomNewDocsBucketed(
        corpus, arriving.toDF("doc_id", "text"), 500L, buckets)
        .select("doc_id").as[Long].collect().toSet
      CacheRegistry.drain()
      assert(streamed == want,
        s"missing=${want -- streamed} extra=${streamed -- want}")
      assert(streamed == Set(1001L, 1003L, 1004L), streamed)
    } finally q.stop()
  }

  test("streaming decontamination gate equals the batch decontaminate op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfTiny)
    val sh = graft.operators.Dedup.shingleDigests(docs)
    val bench = CacheRegistry.track(sh.filter(col("doc_id") % 97 === 0))
    val trainRows = docs.filter(col("doc_id") % 97 =!= 0)
      .select("doc_id", "text").as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val gated = EventStreams.decontamStream(
      input.toDF().toDF("doc_id", "text"), bench, tau = 0.5)
    val q = gated.writeStream.format("memory").queryName("decontam_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(trainRows.take(trainRows.length / 2).toIndexedSeq)
      q.processAllAvailable()
      input.addData(trainRows.drop(trainRows.length / 2).toIndexedSeq)
      q.processAllAvailable()
      // the micro-batch plan builds its grams with the byte walk, not a
      // transform/concat_ws lambda
      val batchPlan = q.asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.optimizedPlan
      assert(lambdaNgramBuilders(batchPlan).isEmpty, batchPlan.toString)
      // the broadcast bench array is intersect_size's right side, the one
      // whose set the kernel keeps across rows
      assert(intersectSizeSides(batchPlan) == Seq((Set("shingles"), Set("bg"))),
        batchPlan.toString)
      val streamed = spark.table("decontam_stream").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_overlap"),
          r.getAs[Long]("contaminated"))).toSet
      val batch = graft.operators.Pipeline.decontamNgram.fn(spark, sfTiny)
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_overlap"),
          r.getAs[Long]("contaminated"))).toSet
      CacheRegistry.drain()
      assert(streamed == batch,
        s"stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("streaming decontamination refuses a bench set past the broadcast bound") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, col, md5}
    // 100001 distinct grams, one more than decontaminate broadcasts
    val bench = spark.range(100001L)
      .select((col("id") % 100).as("doc_id"), array(md5(col("id").cast("string"))).as("shingles"))
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val e = intercept[IllegalArgumentException](EventStreams.decontamStream(
      input.toDF().toDF("doc_id", "text"), bench, tau = 0.5))
    CacheRegistry.drain()
    assert(e.getMessage.contains("100000") && e.getMessage.contains("decontaminate"),
      e.getMessage)
  }

  test("ivfServeStreamAuto on an empty index fails fast, not NPE") {
    import spark.implicits._
    import graft.streaming.AnnServe
    val emb = Tables.embeddings(spark, sfTiny)
    val (cents, lists) = graft.operators.Similarity.ivfIndex(
      emb, "vec_id", "embedding", cells = 4, iters = 1)
    val emptyLists = lists.limit(0)
    val queries = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 2)
    val e = intercept[IllegalArgumentException] {
      AnnServe.ivfServeStreamAuto(queries, cents, emptyLists,
        "vec_id", "embedding", k = 5)
    }
    CacheRegistry.drain()
    assert(e.getMessage.contains("index is empty"), e.getMessage)
  }

  test("streaming substring score ≡ per-doc incremental fold (admission semantics)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    // the incremental-spec corpus: doc 1 shares its leading gram with
    // doc 0, docs 1 and 3 share the q-gram, doc 3 repeats it within
    // itself; admission order = doc_id order across two micro-batches
    val docRows = Seq(
      (0L, "w1 w2 w3 w4 w5 w6 w7 w8 x9 x10"),
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 q1 q2 q3 q4 q5 q6 q7 q8"),
      (2L, "u1 u2 u3 u4 u5 u6 u7 u8"),
      (3L, "q1 q2 q3 q4 q5 q6 q7 q8 q1 q2 q3 q4 q5 q6 q7 q8"))
    def docsDf(rows: Seq[(Long, String)]) = rows
      .map { case (id, t) => (id, t, "en", s"s$id", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val input = MemoryStream[(Long, String)]
    val flags = EventStreams.substringScoreStream(
      EventStreams.substringGramArrivals(
        input.toDF().toDF("doc_id", "text")))
    val query = flags.writeStream.format("memory")
      .queryName("substring_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(docRows.take(2))
      query.processAllAvailable()
      input.addData(docRows.drop(2))
      query.processAllAvailable()
      val streamed = EventStreams.rollupSpanFlags(
          spark.table("substring_stream"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          math.rint(r.getDouble(3) * 1e12))).sortBy(_._1).toSeq
      // fold: every document scored by the INCREMENTAL batch face with
      // corpus = all documents that arrived before it — the exact
      // admission-time contract the stream promises
      val expected = docRows.map(_._1).sorted.map { id =>
        val corpus = docsDf(docRows.filter(_._1 < id))
        val delta = docsDf(docRows.filter(_._1 == id))
        graft.operators.Dedup.substringIncrementalScore(
            graft.operators.Dedup.substringCountTable(corpus), delta, 4)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            math.rint(r.getDouble(3) * 1e12))).head
      }
      assert(streamed == expected, s"streamed $streamed != fold $expected")
      // the deliberate shapes: doc 0 admitted clean (nothing prior),
      // doc 1 dup only on the w-gram it shares with doc 0, doc 3 dup only
      // on the q-gram positions (seen at doc 1 + its own internal repeat)
      assert(streamed.find(_._1 == 0L).get._3 == 0L)
      val d1 = streamed.find(_._1 == 1L).get
      assert(d1._3 == 1L && d1._3 < d1._2, d1)
      // doc 3: only the repeated q-gram's two positions are dup (its
      // bridging grams occur once each anywhere)
      val d3 = streamed.find(_._1 == 3L).get
      assert(d3._3 == 2L && d3._3 < d3._2, d3)
    } finally query.stop()
  }

  test("streaming near-dup candidates equal the batch posting-list self-join") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode, max => smax}
    implicit val sqlCtx = spark.sqlContext
    val sketchTable = graft.operators.Dedup.sketchTable(Tables.documents(spark, sfTiny))
    val sk = sketchTable.select(col("doc_id"), explode(col("sketch")).as("h"))
    // the equivalence below is exact only while no bucket exceeds the
    // cap — past it the stream emits a superset (see "streaming near-dup
    // candidates past the bucket cap ...") — pin that precondition here
    val maxBucket = sk.groupBy("h").count().agg(smax("count")).head().getLong(0)
    assert(maxBucket <= 64, s"corpus has a hot bucket ($maxBucket) — pick a smaller SF")
    val arrivals = sk.as[(Long, String)].collect()
      .map { case (id, h) => EventStreams.BucketArrival(h, id) }
    val input = MemoryStream[EventStreams.BucketArrival]
    val candidates = EventStreams.nearDupCandidates(input.toDS())
    val query = candidates
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode(OutputMode.Append()).start()
    // the verify stage rides the same stream: candidates ⋈ static sketch
    // table (twice) + exact Jaccard — the full streaming dedup pipeline
    val verified = EventStreams.nearDupVerified(candidates, sketchTable, 0.2)
      .writeStream.format("memory").queryName("neardup_verified")
      .outputMode(OutputMode.Append()).start()
    try {
      // two shards: the even-id "corpus" first, the odd-id "delta" second
      val (corpus, delta) = arrivals.partition(_.doc_id % 2 == 0)
      input.addData(corpus.toIndexedSeq)
      query.processAllAvailable(); verified.processAllAvailable()
      input.addData(delta.toIndexedSeq)
      query.processAllAvailable(); verified.processAllAvailable()
      val streamed = spark.table("neardup_stream")
        .select("doc_a", "doc_b").distinct()
        .as[(Long, Long)].collect().toSet
      val batch = sk.as("a").join(sk.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct()
        .as[(Long, Long)].collect().toSet
      assert(streamed === batch,
        s"streamed ${streamed.size} pairs vs batch ${batch.size}")
      // verified stream ≡ the batch minhash pair set over the same corpus
      val streamedVerified = spark.table("neardup_verified")
        .select("doc_a", "doc_b").distinct()
        .as[(Long, Long)].collect().toSet
      val batchVerified = graft.operators.Dedup.minhashLsh.fn(spark, sfTiny)
        .select("doc_a", "doc_b")
        .as[(Long, Long)].collect().toSet
      assert(streamedVerified === batchVerified,
        s"verified ${streamedVerified.size} vs batch ${batchVerified.size}")
    } finally { query.stop(); verified.stop() }
  }

  test("streaming near-dup candidates past the bucket cap: a superset of the batch drop") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cap = graft.operators.Dedup.bucketCap
    // one hot bucket one member past the cap, one cold bucket under it
    val hot = (1L to cap + 1L).map(EventStreams.BucketArrival("hot", _))
    val cold = Seq(101L, 102L, 103L).map(EventStreams.BucketArrival("cold", _))
    val input = MemoryStream[EventStreams.BucketArrival]
    val query = EventStreams.nearDupCandidates(input.toDS())
      .writeStream.format("memory").queryName("neardup_overcap")
      .outputMode(OutputMode.Append()).start()
    try {
      // two micro-batches: the overflowing member arrives after the
      // bucket's first `cap` pairs were already emitted
      input.addData(hot.take(cap) ++ cold)
      query.processAllAvailable()
      input.addData(hot.drop(cap))
      query.processAllAvailable()
      val streamed = spark.table("neardup_overcap")
        .as[(Long, Long, String)].collect().toSeq
      val batch = graft.operators.Dedup.cappedPairs(
          (hot ++ cold).map(a => (a.doc_id, a.h)).toDF("doc_id", "h"), "h")
        .as[(Long, Long)].collect().toSet
      // the stream keeps the pairs among the hot bucket's first `cap`
      // arrivals — Append mode cannot retract them when member cap+1 lands
      val streamedHot = streamed.filter(_._3 == "hot").map(p => (p._1, p._2))
      assert(streamedHot.size == cap * (cap - 1) / 2)
      assert(streamedHot.toSet ==
        (1L to cap.toLong).combinations(2).map(p => (p(0), p(1))).toSet)
      // every batch generator drops the over-cap bucket wholesale
      val coldPairs = Set((101L, 102L), (101L, 103L), (102L, 103L))
      assert(batch == coldPairs, s"batch emitted ${batch.size} pairs")
      // under the cap the two agree
      assert(streamed.filter(_._3 == "cold").map(p => (p._1, p._2)).toSet == coldPairs)
    } finally query.stop()
  }

  /** The stream ≡ batch table of the windowed-value family: one row per
    * (stream face, simple op, blocks op) triple. Every row runs on the
    * same events table — sfTiny's log plus crafted keys — fed to the face
    * in three micro-batches, and asserts stream = simple = blocks row for
    * row, the same output (name, type) pairs, and its own "the spec must
    * bite" guards over the batch answer.
    */
  private case class ValueWindowFace(stream: String, simple: Op, blocks: Op,
      run: Dataset[FeedEvent] => DataFrame, bites: Seq[(String, Row => Boolean)])

  /** The table's events directory and micro-batches. Crafted keys sit
    * around the real log's median instant, ids clear of the real log's:
    * A is null-leading with interleaved nulls; B is all null; C holds 12
    * events (negative values whose EWMA division leaves a remainder, a
    * null) and spans the second boundary; D packs 14 events into a
    * minute with same-microsecond groups of clicks and purchases (a
    * burst, and as-of ties inside one batch).
    */
  private lazy val valueWindowFeed: (String, Seq[Seq[FeedEvent]]) = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val real = spark.read.parquet(s"$sfTiny/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    val realMs = real.select(col("ts")).as[Timestamp].collect().map(_.getTime).sorted
    val midMs = realMs(realMs.length / 2)
    def key(user: Long, firstId: Long, t0: Long,
        evs: Seq[(Long, String, Option[Double])]) =
      evs.zipWithIndex.map { case ((s, ty, v), i) =>
        FeedEvent(new Timestamp(midMs + (t0 + s) * 1000L), user, firstId + i, ty, v) }
    val a = key(900001L, 9000000L, -7200L, Seq(
      (0L, "view", None), (60L, "view", None), (120L, "click", Some(2.5)),
      (180L, "view", None), (240L, "purchase", Some(-1.25)),
      (300L, "view", Some(4.0)), (360L, "view", Some(3.0))))
    val b = key(900002L, 9000100L, -3600L, Seq(
      (0L, "click", None), (60L, "purchase", None), (120L, "view", None)))
    val c = key(900003L, 9000200L, -165L, Seq(
      (0L, "view", Some(1.0)), (30L, "click", Some(-3.0)),
      (60L, "view", Some(2.0)), (90L, "purchase", Some(-5.5)),
      (120L, "view", Some(-0.0015)), (150L, "view", None),
      (180L, "view", Some(-7.77)), (210L, "click", Some(4.2)),
      (240L, "purchase", Some(-0.3)), (270L, "view", Some(-2.345)),
      (300L, "view", None), (330L, "purchase", Some(-9.99))))
    val d = key(900004L, 9000300L, 3600L, Seq(
      (0L, "click", Some(1.5)), (0L, "click", Some(-2.25)),
      (0L, "purchase", Some(3.0)), (10L, "purchase", None),
      (10L, "click", Some(0.5)), (20L, "view", Some(-1.0)),
      (30L, "view", Some(2.0)), (30L, "purchase", Some(-3.5)),
      (30L, "click", Some(4.75)), (30L, "view", None),
      (40L, "view", Some(1.0)), (50L, "purchase", Some(-6.0)),
      (50L, "click", Some(2.5)), (60L, "purchase", Some(0.25))))
    val dir = tmpDir()
    writeTable(dir, "events",
      real.unionByName((a ++ b ++ c ++ d).toDF(), allowMissingColumns = true))
    def us(e: FeedEvent) =
      Math.floorDiv(e.ts.getTime, 1000L) * 1000000L + e.ts.getNanos / 1000L
    val sorted = spark.read.parquet(s"$dir/events.parquet")
      .select(col("ts"), col("user_id"), col("event_id"), col("event_type"),
        col("value"))
      .as[FeedEvent].collect().sortBy(e => (us(e), e.event_id)).toIndexedSeq
    // a boundary never splits a same-microsecond group (of any key):
    // walk each cut forward past ties
    def cutAt(i: Int): Int = {
      var cut = i
      while (cut > 0 && cut < sorted.length &&
        us(sorted(cut - 1)) == us(sorted(cut))) cut += 1
      cut
    }
    val c1 = cutAt(sorted.length / 3)
    val c2 = cutAt(sorted.indexWhere(_.event_id == c(6).event_id))
    assert(c1 < c2 && sorted.take(c2).exists(_.event_id == c(5).event_id) &&
      sorted.drop(c2).exists(_.event_id == c(6).event_id),
      "key C must span a micro-batch boundary for the spec to bite")
    assert(d.groupBy(us).values.exists(_.size >= 3),
      "key D must hold same-microsecond groups for the spec to bite")
    (dir, Seq(sorted.take(c1), sorted.slice(c1, c2), sorted.drop(c2)))
  }

  private val valueWindowFaces: Seq[ValueWindowFace] = {
    import graft.operators.{Temporal, WindowOps}
    import graft.streaming.EventStreams.{TypedEvent, ValEvent}
    def vals(d: Dataset[FeedEvent]) = {
      import d.sparkSession.implicits._
      d.map(e => ValEvent(e.ts, e.user_id, e.event_id, e.value))
    }
    def typed(d: Dataset[FeedEvent]) = {
      import d.sparkSession.implicits._
      d.map(e => TypedEvent(e.ts, e.user_id, e.event_id, e.event_type))
    }
    def isNull(c: String)(r: Row) = r.isNullAt(r.fieldIndex(c))
    Seq(
      ValueWindowFace("anomalyStream", Temporal.anomalyZscore,
        Temporal.anomalyZscoreBlocks, d => EventStreams.anomalyStream(vals(d)).toDF(),
        Seq("flag at least one anomaly" -> (_.getAs[Long]("anomaly") == 1L))),
      ValueWindowFace("ewmaStream", Temporal.windowEwma, Temporal.windowEwmaBlocks,
        d => EventStreams.ewmaStream(vals(d)).toDF(),
        Seq("produce a negative EWMA" -> (r => !isNull("ewma_milli")(r) &&
            r.getAs[Long]("ewma_milli") < 0L),
          "produce an all-null window" -> isNull("ewma_milli"))),
      ValueWindowFace("runningStream", WindowOps.windowRunning,
        WindowOps.windowRunningBlocks, d => EventStreams.runningStream(vals(d)).toDF(),
        Seq("produce a null-prefix running sum" -> isNull("running_value"))),
      ValueWindowFace("burstStream", Temporal.burstDetect, Temporal.burstDetectBlocks,
        d => EventStreams.burstStream(vals(d)).toDF(),
        Seq("see some multi-event windows" -> (_.getAs[Long]("n_5m") > 1L),
          "flag a burst" -> (_.getAs[Long]("burst") == 1L))),
      ValueWindowFace("slidingStream", WindowOps.slidingWindow,
        WindowOps.slidingWindowBlocks, d => EventStreams.slidingStream(vals(d)).toDF(),
        Seq("produce an all-null window sum" -> isNull("sum_10m"))),
      ValueWindowFace("asofStream", Temporal.asofJoin, Temporal.asofJoinBlocksOp,
        d => EventStreams.asofStream(typed(d)).toDF(),
        Seq("resolve some as-of clicks" -> (r => !isNull("click_id")(r)),
          "leave some purchases clickless" -> isNull("click_id"))))
  }

  valueWindowFaces.foreach { f =>
    test(s"${f.stream} equals batch ${f.simple.name} on the real event log") {
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      implicit val sqlCtx = spark.sqlContext
      val (dir, batches) = valueWindowFeed
      val simple = f.simple.fn(spark, dir)
      val blocks = f.blocks.fn(spark, dir)
      val cols = simple.columns.sorted.toSeq
      def schema(df: DataFrame) = df.schema.fields.map(c => c.name -> c.dataType).toSet
      def keyed(df: DataFrame) = df.select(cols.map(col): _*).collect()
        .map(r => r.getAs[Long]("event_id") -> r.toSeq).toMap
      val input = MemoryStream[FeedEvent]
      val name = s"${f.stream}_table_out"
      val q = f.run(input.toDS()).writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      val (streamSchema, got) = try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        (schema(spark.table(name)), keyed(spark.table(name)))
      } finally q.stop()
      assert(streamSchema == schema(simple) && schema(blocks) == schema(simple),
        s"stream=$streamSchema simple=${schema(simple)} blocks=${schema(blocks)}")
      val simpleRows = simple.collect()
      assert(simpleRows.nonEmpty)
      f.bites.foreach { case (what, bites) =>
        assert(simpleRows.exists(bites), s"the batch run must $what for the spec to bite")
      }
      val want = keyed(simple)
      val viaBlocks = keyed(blocks)
      assert(viaBlocks == want,
        s"blocks-only=${(viaBlocks.toSet -- want.toSet).take(3)} " +
          s"simple-only=${(want.toSet -- viaBlocks.toSet).take(3)}")
      assert(got == want,
        s"stream-only=${(got.toSet -- want.toSet).take(3)} " +
          s"batch-only=${(want.toSet -- got.toSet).take(3)}")
    }
  }

  test("ewmaStream equals both batch faces on NEGATIVE values (division rounding)") {
    // Math.floorDiv (floor) and Spark `div` (truncate toward zero) differ
    // by exactly 1 whenever num is negative and not a multiple of den: a
    // 1-milli-unit stream/batch divergence that nonnegative values never
    // exercise. Every value here is non-null and the EWMA numerator goes
    // negative with a non-zero remainder, in a single micro-batch.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStreams.{ValEvent, EwmaOut}
    def t(s: Long) = new Timestamp(86400000L + s * 1000L)
    def optL(r: Row, c: String): Option[Long] =
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Long](c))
    val rows = Seq(
      (1L, 1L, t(0), "view", 1.0), (2L, 1L, t(60), "view", -3.0),
      (3L, 1L, t(120), "view", 2.0), (4L, 1L, t(180), "view", -5.5),
      (5L, 1L, t(240), "view", -0.0015), (6L, 2L, t(0), "view", -7.77),
      (7L, 2L, t(60), "view", 4.2), (8L, 2L, t(120), "view", -0.3))
    val dir = tmpDir()
    writeTable(dir, "events",
      rows.toDF("event_id", "user_id", "ts", "event_type", "value"))
    def toMap(d: DataFrame) = d.collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((optL(r, "x_milli"), optL(r, "ewma_milli")))).toMap
    val batch = toMap(graft.operators.Temporal.windowEwma.fn(spark, dir))
    val blocks = toMap(graft.operators.Temporal.windowEwmaBlocks.fn(spark, dir))
    assert(batch.nonEmpty && batch.values.exists(_._2.exists(_ < 0L)),
      "the corpus must actually produce a negative EWMA for the spec to bite")
    assert(blocks == batch)
    val input = MemoryStream[ValEvent]
    val q = EventStreams.ewmaStream(input.toDS())
      .writeStream.format("memory").queryName("ewma_neg_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows.map { case (e, u, ts, _, v) => ValEvent(ts, u, e, Some(v)) }
        .toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("ewma_neg_out").as[EwmaOut].collect()
        .map(r => r.event_id -> ((r.x_milli, r.ewma_milli))).toMap
      assert(got == batch,
        s"stream-only=${(got.toSet -- batch.toSet).take(3)} " +
          s"batch-only=${(batch.toSet -- got.toSet).take(3)}")
    } finally q.stop()
  }

  /** One ANN serving face and its batch twin over the same static
    * index parts: `build(corpus, queries)` tracks the parts and returns
    * the face (over a stream of (vec_id, embedding) queries) and the
    * batch result; `cols` name the (q_id, id, score) triple both emit;
    * `bites` must hold on the batch result for the case to bite.
    */
  private case class AnnFace(name: String, cols: Seq[String],
      build: (DataFrame, DataFrame) => (DataFrame => Dataset[_], DataFrame),
      bites: Seq[(String, Set[(Long, Option[Long], Double)] => Boolean)])

  /** The ANN faces' feed: the sfTiny embeddings plus crafted rows —
    *   - a zero vector, a query and a corpus row (`zeroId`);
    *   - five copies of one vector under ids -5..-1, the lowest ids, so
    *     an index with no Lloyd pass seeds five equal centroids: query
    *     -1 ranks them on a cosine tie, broken by cent_id across the
    *     nprobe cut, and only cell -5 holds members;
    *   - eleven copies of vector 0 above every other id: query 0's
    *     cosine and ADC ties, broken by cand_id across the top-k cut;
    *     the first five carry a null label, the rest label 7, so the
    *     KNN vote (k = 10) ties 5–5 and the null label sorts last.
    * Returns (corpus, queries: ids < 8 and the zero vector, zeroId,
    * copy ids of vector 0).
    */
  private lazy val annFeed: (DataFrame, DataFrame, Long, Seq[Long]) = {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.{col, max}
    val emb = Tables.embeddings(spark, sfTiny)
    val maxId = emb.agg(max("vec_id")).head().getLong(0)
    val v0 = emb.filter(col("vec_id") === 0L).select("embedding")
      .as[Seq[Float]].head()
    val p = (1 to 64).map(i => (i * 37 % 17 - 8).toFloat)
    val zeroId = maxId + 1
    val copies = (1 to 11).map(maxId + 1 + _)
    val crafted = Seq((zeroId, Seq.fill(64)(0f), Option(0))) ++
      (1 to 5).map(i => (-i.toLong, p, Option(3))) ++
      copies.zipWithIndex.map { case (id, i) => (id, v0, if (i < 5) None else Some(7)) }
    val corpus = emb.unionByName(crafted.toDF("vec_id", "embedding", "label"))
    (corpus, corpus.filter(col("vec_id") < 8 || col("vec_id") === zeroId),
      zeroId, copies)
  }

  private val annFaceNames = Seq(
    "streaming PQ serving equals batch pqSearchADC over the same persisted index",
    "streaming IVF serving equals batch ivfSearch over the same persisted index",
    "auto-nprobe streaming IVF serving equals batch ivfSearchAuto",
    "streaming IVFADC serving equals batch ivfPqSearchADCFromIndex over the same parts",
    "streaming KNN classify equals batch knnClassify")

  private lazy val annFaces: Seq[AnnFace] = {
    import graft.api.GraftApi
    import graft.operators.Similarity
    import graft.streaming.AnnServe
    import org.apache.spark.sql.functions.col
    val (_, _, zeroId, copies) = annFeed
    type Out = Set[(Long, Option[Long], Double)]
    def cands(o: Out, q: Long) = o.filter(_._1 == q).flatMap(_._2)
    val candTie = "break query 0's tie on cand_id" -> ((o: Out) =>
      cands(o, 0L).contains(copies.min) && !cands(o, 0L).contains(copies.max))
    val probeTie = "break query -1's probe tie on cent_id" -> ((o: Out) =>
      cands(o, -1L).nonEmpty)
    val noZero = "drop the zero-norm query and corpus row" -> ((o: Out) =>
      o.nonEmpty && !o.exists(t => t._1 == zeroId || t._2.contains(zeroId)))
    def pqParts(corpus: DataFrame) = {
      val cbs = CacheRegistry.track(
        GraftApi.pqCodebooks(corpus, "vec_id", "embedding", numSubs = 4, subDim = 16))
      (cbs, GraftApi.pqEncode(corpus, "vec_id", "embedding", cbs, numSubs = 4, subDim = 16))
    }
    def ivfParts(corpus: DataFrame) = {
      val (cents, lists) = Similarity.ivfIndex(corpus, "vec_id", "embedding",
        cells = 256, iters = 0)
      (CacheRegistry.track(cents), CacheRegistry.track(lists))
    }
    Seq(
      AnnFace(annFaceNames(0), Seq("q_id", "cand_id", "adc_dist"), { (corpus, queries) =>
        val (cbs, raw) = pqParts(corpus)
        val codes = CacheRegistry.track(raw)
        (AnnServe.pqServeStream(_, codes, cbs, "vec_id", "embedding",
          numSubs = 4, subDim = 16),
          GraftApi.pqSearchADC(codes, cbs, queries, "vec_id", "embedding",
            numSubs = 4, subDim = 16, codebookSize = 16, k = 5))
      }, Seq(candTie, "keep the zero query (L2 needs no norm)" ->
        ((o: Out) => o.exists(_._1 == zeroId)))),
      AnnFace(annFaceNames(1), Seq("q_id", "cand_id", "cosine"), { (corpus, queries) =>
        val (cents, lists) = ivfParts(corpus)
        (AnnServe.ivfServeStream(_, cents, lists, "vec_id", "embedding",
          nprobe = 2, k = 5),
          Similarity.ivfSearch(corpus, queries, "vec_id", "embedding",
            cells = 256, nprobe = 2, iters = 0, k = 5))
      }, Seq(candTie, probeTie, noZero)),
      AnnFace(annFaceNames(2), Seq("q_id", "cand_id", "cosine"), { (corpus, queries) =>
        val (cents, lists) = ivfParts(corpus)
        (AnnServe.ivfServeStreamAuto(_, cents, lists, "vec_id", "embedding", k = 5),
          Similarity.ivfSearchAuto(corpus, queries, "vec_id", "embedding",
            cells = 256, iters = 0, k = 5))
      }, Seq(candTie, noZero)),
      AnnFace(annFaceNames(3), Seq("q_id", "cand_id", "adc_dist"), { (corpus, queries) =>
        val (_, c1p, assign1) = Similarity.ivfBuild(corpus, "vec_id", "embedding",
          cells = 16, iters = 0)
        val cents = CacheRegistry.track(c1p.drop("part"))
        val (cbs, raw) = pqParts(corpus)
        val codes = CacheRegistry.track(raw
          .join(assign1, col("vec_id") === col("a_vec"))
          .select(col("vec_id"), col("codes"), col("a_cent").as("cent_id")))
        (AnnServe.ivfPqServeStream(_, cents, cbs, codes, "vec_id", "embedding",
          nprobe = 4, numSubs = 4, subDim = 16, codebookSize = 16, k = 5),
          GraftApi.ivfPqSearchADCFromIndex(cents, cbs, codes, queries,
            "vec_id", "embedding", nprobe = 4, numSubs = 4, subDim = 16,
            codebookSize = 16, k = 5))
      }, Seq(candTie, probeTie, noZero)),
      AnnFace(annFaceNames(4), Seq("q_id", "pred_label", "votes"), { (corpus, queries) =>
        (AnnServe.knnClassifyStream(_, corpus, "vec_id", "embedding", "label", k = 10),
          GraftApi.knnClassify(corpus, queries, "vec_id", "embedding", "label", k = 10))
      }, Seq("vote query 0's 5–5 tie to label 7, the null label last" ->
          ((o: Out) => o.contains((0L, Some(7L), 5.0))),
        "drop the zero-norm query" -> ((o: Out) => !o.exists(_._1 == zeroId)))))
  }

  private val annRuns = scala.collection.mutable.Map
    .empty[String, (Set[(Long, Option[Long], Double)], Set[(Long, Option[Long], Double)])]

  /** (streamed, batch) of one face, run once per suite: the queries
    * stream in two micro-batches (the zero vector in the second).
    */
  private def annRun(f: AnnFace) = annRuns.getOrElseUpdate(f.name, {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val (corpus, queries, zeroId, _) = annFeed
    def triples(df: DataFrame) = df
      .select(f.cols.zip(Seq("long", "long", "double"))
        .map { case (c, t) => col(c).cast(t) }: _*)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getDouble(2))).toSet
    val qRows = queries.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    assert(qRows.last._1 == zeroId)
    val (face, batch) = f.build(corpus, queries)
    val input = MemoryStream[(Long, Seq[Float])]
    val name = "ann_face_" + annFaceNames.indexOf(f.name)
    val q = face(input.toDF().toDF("vec_id", "embedding")).writeStream
      .format("memory").queryName(name).outputMode(OutputMode.Append()).start()
    try {
      input.addData(qRows.take(6).toIndexedSeq)
      q.processAllAvailable()
      input.addData(qRows.drop(6).toIndexedSeq)
      q.processAllAvailable()
      val out = (triples(spark.table(name)), triples(batch))
      CacheRegistry.drain()
      out
    } finally q.stop()
  })

  annFaceNames.foreach { name =>
    test(name) {
      val f = annFaces.find(_.name == name).get
      val (streamed, batch) = annRun(f)
      f.bites.foreach { case (what, bites) =>
        assert(bites(batch), s"the batch twin must $what for the case to bite")
      }
      assert(streamed == batch,
        s"stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
    }
  }

  test("streaming IVF, IVFADC and KNN faces drop zero-norm vectors like batch") {
    // a zero vector has no direction: cosine against it is 0/0, a
    // DIVIDE_BY_ZERO under ANSI. Batch drops zero-norm queries (and
    // corpus rows); each cosine face must do the same instead of failing
    // the micro-batch. The zero vector is a query and a corpus row of
    // every face of the table.
    val (_, _, zeroId, _) = annFeed
    annFaces.drop(1).foreach { f =>
      val (streamed, batch) = annRun(f)
      assert(streamed == batch && batch.nonEmpty, f.name)
      assert(!streamed.exists(t => t._1 == zeroId ||
        (f.cols(1) == "cand_id" && t._2.contains(zeroId))), f.name)
    }
  }

  test("streaming semDedup decisions equal the registered batch pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.AnnServe
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sfTiny)
    val (cents, members, stats) = graft.operators.Similarity.semDedupIndex(
      emb, "vec_id", "embedding", nCents = 64)
    // stream the WHOLE corpus through the admission face: each vector's
    // keep/drop against lower-id cell members is exactly the batch
    // pass's per-row decision, so the decision sets must coincide
    val vRows = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val input = MemoryStream[(Long, Seq[Float])]
    val served = AnnServe.semDedupServeStream(
      input.toDF().toDF("vec_id", "embedding"), cents, members, stats,
      "vec_id", "embedding", tau = 0.2, cellCap = 128L)
    val q = served.writeStream.format("memory").queryName("semdedup_serve")
      .outputMode(OutputMode.Append()).start()
    try {
      val (a, b) = vRows.splitAt(vRows.length / 2)
      input.addData(a.toIndexedSeq); q.processAllAvailable()
      input.addData(b.toIndexedSeq); q.processAllAvailable()
      val streamed = spark.table("semdedup_serve")
        .as[AnnServe.SemDedupDecision].collect()
        .map(s => (s.vec_id, s.cent_id, s.keep, s.cell_capped)).toSet
      val batch = SparkEntry.queries("dedup_semdedup")(spark, sfTiny)
        .collect().map(r => (r.getAs[Long]("vec_id"),
          r.getAs[Long]("cent_id"), r.getAs[Long]("keep"),
          r.getAs[Long]("cell_capped"))).toSet
      CacheRegistry.drain()
      assert(streamed == batch,
        s"stream-only=${(streamed -- batch).take(3)} " +
          s"batch-only=${(batch -- streamed).take(3)}")
      assert(streamed.size == vRows.length)
      assert(streamed.exists(_._3 == 0L),
        "corpus must contain at least one semantic dup for the spec to bite")
    } finally q.stop()
  }

  test("streaming semDedup: a zero vector gets the batch decision, not DIVIDE_BY_ZERO") {
    // batch dedup_semdedup keeps zero-norm rows and guards its cosine
    // divisions (the vector lands in the lowest-id cell, drops nothing
    // and is never dropped); the admission face must decide the same
    // instead of failing the micro-batch on 0/0
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.AnnServe
    import org.apache.spark.sql.functions.{col, max}
    val emb = Tables.embeddings(spark, sfTiny)
    val zeroId = emb.agg(max("vec_id")).head().getLong(0) + 1
    val zero = Seq((zeroId, Seq.fill(64)(0f), 0)).toDF("vec_id", "embedding", "label")
    val dir = tmpDir()
    writeTable(dir, "embeddings", emb.unionByName(zero))
    val corpus = Tables.embeddings(spark, dir)
    val (cents, members, stats) = graft.operators.Similarity.semDedupIndex(
      corpus, "vec_id", "embedding", nCents = 64)
    val vRows = corpus.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    assert(vRows.last._1 == zeroId)
    val input = MemoryStream[(Long, Seq[Float])]
    val served = AnnServe.semDedupServeStream(
      input.toDF().toDF("vec_id", "embedding"), cents, members, stats,
      "vec_id", "embedding", tau = 0.2, cellCap = 128L)
    val q = served.writeStream.format("memory").queryName("semdedup_serve_zero")
      .outputMode(OutputMode.Append()).start()
    try {
      // the zero vector rides the second micro-batch with the corpus tail
      val (a, b) = vRows.splitAt(vRows.length / 2)
      input.addData(a.toIndexedSeq); q.processAllAvailable()
      input.addData(b.toIndexedSeq); q.processAllAvailable()
      val streamed = spark.table("semdedup_serve_zero")
        .as[AnnServe.SemDedupDecision].collect()
        .map(s => (s.vec_id, s.cent_id, s.keep, s.cell_capped)).toSet
      val batch = graft.operators.Similarity.semDedup.fn(spark, dir)
        .collect().map(r => (r.getAs[Long]("vec_id"),
          r.getAs[Long]("cent_id"), r.getAs[Long]("keep"),
          r.getAs[Long]("cell_capped"))).toSet
      CacheRegistry.drain()
      assert(streamed == batch,
        s"stream-only=${(streamed -- batch).take(3)} " +
          s"batch-only=${(batch -- streamed).take(3)}")
      assert(streamed.exists(d => d._1 == zeroId && d._3 == 1L),
        streamed.filter(_._1 == zeroId))
    } finally q.stop()
  }

  test("streaming semDedup cap discipline: forced cap passes everything through flagged") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.AnnServe
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sfTiny)
    val (cents, members, stats) = graft.operators.Similarity.semDedupIndex(
      emb, "vec_id", "embedding", nCents = 64)
    val vRows = emb.select(col("vec_id"), col("embedding")).limit(32)
      .as[(Long, Seq[Float])].collect()
    val input = MemoryStream[(Long, Seq[Float])]
    // cellCap = 0 caps every cell: nothing may be dropped, everything
    // rides out flagged — the capped-cell pass-through contract
    val served = AnnServe.semDedupServeStream(
      input.toDF().toDF("vec_id", "embedding"), cents, members, stats,
      "vec_id", "embedding", tau = 0.2, cellCap = 0L)
    val q = served.writeStream.format("memory").queryName("semdedup_capped")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(vRows.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("semdedup_capped")
        .as[AnnServe.SemDedupDecision].collect()
      CacheRegistry.drain()
      assert(got.length == vRows.length)
      assert(got.forall(d => d.keep == 1L && d.cell_capped == 1L),
        got.filterNot(d => d.keep == 1L && d.cell_capped == 1L).take(3).toSeq)
    } finally q.stop()
  }

  test("streaming grouped export: upserted bin pieces reshard ≡ batch groupConcatExportSharded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.GroupExportStream
    import org.apache.spark.sql.functions.col
    // orders-shaped data: the q_groupby_nested_sharded key/elem columns
    val rows = Tables.orders(spark, sfTiny)
      .select(col("o_orderstatus").as("key"), col("o_orderkey").as("value"))
      .as[(String, Long)].collect()
    // any MONOTONE binning works; floorDiv is the simplest instance
    def bin(v: Long): Int = Math.floorDiv(v, 500L).toInt
    val input = MemoryStream[GroupExportStream.GroupElem]
    val q = GroupExportStream.groupExportPieces(input.toDS())
      .writeStream.format("memory").queryName("export_pieces")
      .outputMode(OutputMode.Update()).start()
    try {
      // two micro-batches: the second UPDATES some (key, bin) pieces —
      // the upsert path is the contract under test
      val (a, b) = rows.splitAt(rows.length / 2)
      input.addData(a.map { case (k, v) =>
        GroupExportStream.GroupElem(k, bin(v), v) }.toIndexedSeq)
      q.processAllAvailable()
      input.addData(b.map { case (k, v) =>
        GroupExportStream.GroupElem(k, bin(v), v) }.toIndexedSeq)
      q.processAllAvailable()
      // latest piece per (key, bin) — what an upsert sink would hold
      val pieces = spark.table("export_pieces")
        .withColumn("_rn", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("key"), col("bin"))
            .orderBy(col("n").desc))) // pieces only grow: max n = latest
        .filter(col("_rn") === 1).drop("_rn")
      val streamed = GroupExportStream.reshardPieces(pieces, rowsPerShard = 100L)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      val batch = graft.api.GraftApi.groupConcatExportSharded(
          Tables.orders(spark, sfTiny)
            .select(col("o_orderstatus").as("key"), col("o_orderkey").as("value")),
          "key", "value", rowsPerShard = 100L)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      assert(streamed == batch,
        s"only-streamed=${(streamed -- batch).take(2)} only-batch=${(batch -- streamed).take(2)}")
      assert(streamed.nonEmpty)
      CacheRegistry.drain()
    } finally q.stop()
  }
}

object StreamingSpec {
  /** One row of the windowed-value table's events log. */
  case class FeedEvent(ts: Timestamp, user_id: Long, event_id: Long,
      event_type: String, value: Option[Double])
}
