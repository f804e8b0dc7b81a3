package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** The table-read contract: `Tables.load` pays one schema-inference job
  * on a table's first read and none after it, re-infers when the table's
  * files or the schema-conversion confs change, and so a rebuilt
  * benchmark op fires no Spark job for its table reads.
  */
class TablesSpec extends SparkSpec {

  /** Spark jobs started while `body` runs. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    Shim.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      Shim.drainListenerBus(spark.sparkContext)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Build `op` over `dir` as the benchmark does (build, then release its
    * caches), the second time under a job counter. */
  private def secondBuildJobs(op: String, dir: String): Int = {
    def build(): DataFrame =
      try SparkEntry.queries(op)(spark, dir)
      finally CacheRegistry.drain(blocking = true)
    build()
    jobsDuring(build())._2
  }

  /** A single-file table `$dir/$name.parquet`, the layout the pyarrow-
    * written test data uses: Spark writes one part file, which replaces
    * the table file (its length and modification time change). */
  private def writeSingleFile(dir: String, name: String, df: DataFrame): Unit = {
    val staging = tmpDir()
    df.coalesce(1).write.mode("overwrite").parquet(s"$staging/out")
    val part = Files.list(Paths.get(s"$staging/out")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(p => p.getFileName.toString.startsWith("part-")).get
    Files.move(part, Paths.get(s"$dir/$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  // perfbench's workloads (perfbench/src/main/scala/graft/perfbench/Main.scala)
  private val relationalOps = Seq("q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier", "q6_forecast_revenue", "q18_large_orders",
    "q_join_equi", "q_groupby_agg", "q_cartprod_to_join",
    "q_subquery_sharing", "q_paper_tutorial", "q_indexby_lookup",
    "q_prepared_param")

  /** Each curation op's second-build job budget: an upper bound, so a new
    * eager job in a builder fails here. What the remaining jobs are:
    * `CacheRegistry.pin` builds, `adaptiveBroadcast`'s measured arm and
    * driver-side sizing reads (ROADMAP direction 1 b–d). */
  private val curationBudget = Seq(
    "dedup_minhash_lsh" -> 7,
    "dedup_simhash_pairs" -> 0,
    "dedup_exact" -> 0,
    "text_quality" -> 0,
    "text_repetition" -> 0,
    "text_bpe_tokencount" -> 0,
    "decontam_ngram" -> 5,
    "pipeline_curate" -> 18,
    "pipeline_keep_best" -> 18,
    "ann_bruteforce_topk" -> 0)

  test("a rebuilt relational benchmark op fires no Spark job") {
    val jobs = relationalOps.map(op => op -> secondBuildJobs(op, sfTiny))
    assert(jobs.forall(_._2 == 0), jobs.filter(_._2 > 0).mkString(", "))
  }

  test("a rebuilt curation benchmark op stays within its pinned job budget") {
    val over = curationBudget.flatMap { case (op, budget) =>
      val n = secondBuildJobs(op, sfTiny)
      if (n > budget) Some(s"$op: $n jobs > budget $budget") else None
    }
    assert(over.isEmpty, over.mkString("; "))
  }

  test("a single-file table infers once; a rewrite (new length or mtime) infers again") {
    import spark.implicits._
    val dir = tmpDir()
    writeSingleFile(dir, "t", Seq(1L, 2L).toDF("a"))
    val (first, firstJobs) = jobsDuring(Tables.load(spark, dir, "t"))
    assert(firstJobs == 1 && first.columns.toSeq == Seq("a"))
    val (again, againJobs) = jobsDuring(Tables.load(spark, dir, "t"))
    assert(againJobs == 0 && again.schema == first.schema)
    assert(again.as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // new length and schema
    writeSingleFile(dir, "t", Seq((3L, "x")).toDF("a", "b"))
    val (rewritten, rewrittenJobs) = jobsDuring(Tables.load(spark, dir, "t"))
    assert(rewrittenJobs == 1 && rewritten.columns.toSeq == Seq("a", "b"))
    assert(rewritten.as[(Long, String)].collect().toSeq == Seq((3L, "x")))
    // same bytes, new modification time
    val file = new java.io.File(s"$dir/t.parquet")
    assert(file.setLastModified(file.lastModified() - 60000L))
    assert(jobsDuring(Tables.load(spark, dir, "t"))._2 == 1)
    assert(jobsDuring(Tables.load(spark, dir, "t"))._2 == 0)
  }

  test("a Spark-written directory table is remembered and invalidated by an overwrite") {
    import spark.implicits._
    val dir = tmpDir()
    writeTable(dir, "t", Seq(1L, 2L, 3L).toDF("a").repartition(3))
    assert(jobsDuring(Tables.load(spark, dir, "t"))._2 == 1)
    val (again, againJobs) = jobsDuring(Tables.load(spark, dir, "t"))
    assert(againJobs == 0 && again.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    writeTable(dir, "t", Seq((4L, 5.0)).toDF("a", "c"))
    val (rewritten, rewrittenJobs) = jobsDuring(Tables.load(spark, dir, "t"))
    assert(rewrittenJobs == 1 && rewritten.columns.toSeq == Seq("a", "c"))
    assert(rewritten.as[(Long, Double)].collect().toSeq == Seq((4L, 5.0)))
  }

  /** A single-file events table whose ts is parquet TIMESTAMP(NANOS), the
    * type `Tables.events` normalizes (Spark cannot write it), beside a
    * naive (not UTC-adjusted) micros timestamp. */
  private def writeNanosEvents(dir: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,true));" +
        " required int64 local_ts (TIMESTAMP(MICROS,false)); }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq(1500L, 2999L).foreach(ns =>
      writer.write(rows.newGroup().append("ts", ns).append("local_ts", ns)))
    finally writer.close()
  }

  test("an events read leaves a caller's nanosAsLong alone unless ts is TIMESTAMP(NANOS)") {
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    try {
      // the shipped events table stores ts as TIMESTAMP(MICROS)
      spark.conf.set(nanos, "false")
      val ev = Tables.events(spark, sfTiny)
      assert(spark.conf.get(nanos) == "false")
      assert(ev.schema("ts").dataType == TimestampType && ev.count() > 0)
      // a TIMESTAMP(NANOS) file needs the conf, and still reads as micros
      val dir = tmpDir()
      writeNanosEvents(dir)
      val ts = Tables.events(spark, dir).select("ts").collect().map(_.getTimestamp(0))
      assert(ts.map(t => t.getTime * 1000 + t.getNanos / 1000 % 1000).sorted.toSeq == Seq(1L, 2L))
      assert(spark.conf.get(nanos) == "true")
    } finally spark.conf.set(nanos, "true")
  }

  test("a changed schema conf re-infers; restoring it serves the remembered schema") {
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val dir = tmpDir()
    writeNanosEvents(dir)
    def load() = jobsDuring(Tables.load(spark, dir, "events"))
    try {
      val (asLong, firstJobs) = load()
      assert(firstJobs == 1 && asLong.schema("ts").dataType == LongType)
      assert(asLong.schema("local_ts").dataType == TimestampType)
      // nanosAsLong off: Spark infers again, and Spark 4.1 refuses the
      // nanos column — the remembered long schema is not served
      spark.conf.set(nanos, "false")
      val refused = intercept[AnalysisException](load())
      assert(refused.getCondition == "PARQUET_TYPE_ILLEGAL", refused.getMessage)
      spark.conf.set(nanos, "true")
      assert(load()._2 == 0)
      // naive timestamps: TIMESTAMP_NTZ under the flipped conf, back to
      // TIMESTAMP (remembered, no job) when it is restored
      spark.conf.set(ntz, "true")
      val (asNtz, ntzJobs) = load()
      assert(ntzJobs == 1 && asNtz.schema("local_ts").dataType == TimestampNTZType)
      spark.conf.set(ntz, "false")
      val (again, hitJobs) = load()
      assert(hitJobs == 0 && again.schema == asLong.schema)
      // the events rule: nanos → micros timestamp, truncating
      val ts = Tables.events(spark, dir).select("ts").collect().map(_.getTimestamp(0))
      assert(ts.map(t => t.getTime * 1000 + t.getNanos / 1000 % 1000).sorted.toSeq == Seq(1L, 2L))
    } finally {
      spark.conf.set(nanos, "true")
      spark.conf.set(ntz, "false")
    }
  }
}
