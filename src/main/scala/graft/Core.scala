package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** One operator from SURVEY.md §2: a named Spark query plus (optionally)
  * an equivalent ANSI-SQL oracle the driver runs in DuckDB over the same
  * parquet tables. Keeping the Spark code and the oracle adjacent in the
  * same `Op` literal is what keeps column names/types aligned.
  */
final case class Op(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
)

object Op {
  def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Op =
    Op(name, fn, Some(oracle))
  def noOracle(name: String)(fn: (SparkSession, String) => DataFrame): Op =
    Op(name, fn, None)
}

/** Parquet table loaders for the driver-generated TPC-H-ish schema
  * (TESTDATA.md). At 100 TB these would be partitioned/bucketed catalog
  * tables; the access pattern (columnar scan + pushdown) is identical.
  *
  * Schema memo (SQuOpt's `addIndex` discipline: compute once, reuse).
  * Spark infers a parquet table's schema by reading footers in a Spark
  * job, so a bare `spark.read.parquet` fires one job per read. [[load]]
  * pays that job on the FIRST read of a table only — through Spark's own
  * inference, so the schema is Spark's by construction — and passes the
  * remembered schema back (`spark.read.schema(s).parquet`) on every later
  * read, which fires no job.
  *  - key: the table's leaf files, each as (path, length, modification
  *    time), listed recursively through the Hadoop `FileSystem` on the
  *    driver (one file for a single-file table, every part file for a
  *    Spark-written directory), plus the session's explicitly set
  *    schema-conversion confs: every `spark.sql.parquet.*` and
  *    `spark.sql.legacy.parquet.*` key (binaryAsString, int96AsTimestamp,
  *    inferTimestampNTZ.enabled, nanosAsLong, mergeSchema, ...),
  *    `spark.sql.caseSensitive` and `spark.sql.variant.*`.
  *  - invalidation: a rewritten, added or removed file, or a changed
  *    conf, is a new key and infers again. A rewrite that keeps both the
  *    length and the millisecond modification time is not seen.
  *  - bounds: JVM-wide, keyed by value (no `SparkSession` held), at most
  *    [[schemaMemoCap]] entries, least recently used evicted first.
  *  - a path that cannot be listed (missing, a glob) reads without the
  *    memo, so Spark reports its own error.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    leafFiles(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(files) =>
        val key = (files, schemaConfs(spark))
        Option(schemaMemo.get(key)) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            schemaMemo.put(key, df.schema)
            df
        }
    }
  }

  private val schemaMemoCap = 256

  private type MemoKey = (Seq[(String, Long, Long)], Seq[(String, String)])

  private val schemaMemo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[MemoKey, StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[MemoKey, StructType]): Boolean =
        size() > schemaMemoCap
    })

  private def leafFiles(spark: SparkSession,
      path: String): Option[Seq[(String, Long, Long)]] = {
    val p = new Path(path)
    try {
      val it = p.getFileSystem(hadoopConf(spark)).listFiles(p, true)
      val files = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some(files.result().sorted)
    } catch { case _: java.io.IOException => None }
  }

  private def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()

  private def schemaConfs(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k.startsWith("spark.sql.variant.") || k == "spark.sql.caseSensitive"
    }.sorted

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** events.ts may be parquet TIMESTAMP(NANOS), which Spark 4.1 refuses
    * to read as a timestamp. Such a column reads as long (the legacy
    * `nanosAsLong` conf, set in every session builder) and is normalized
    * to a micros timestamp — same truncation DuckDB applies. The conf is
    * set on the session only when the table's footer says NANOS
    * ([[tsIsNanos]]), so reading a MICROS table leaves a caller's own
    * setting alone.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // self-sufficiency on sessions that didn't set it at build time (the
    // conf is runtime-settable and consulted at schema conversion)
    if (tsIsNanos(spark, s"$dir/events.parquet"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr("ts div 1000")))
    else raw
  }
  /** Whether `ts` in the footer of the table's first data file is
    * TIMESTAMP(NANOS) — read on the driver, no Spark job. False for a
    * table that cannot be listed (Spark then reports its own error).
    */
  private def tsIsNanos(spark: SparkSession, path: String): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
    val dataFile = leafFiles(spark, path).flatMap(_.map(_._1).find { f =>
      val name = new Path(f).getName
      !name.startsWith("_") && !name.startsWith(".")
    })
    dataFile.exists { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(f), hadoopConf(spark)))
      try {
        val schema = reader.getFileMetaData.getSchema
        schema.containsField("ts") &&
          (schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
            case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
            case _ => false
          })
      } finally reader.close()
    }
  }

  /** documents/embeddings feed digest/fold-heavy per-row pipelines
    * (shingling, simhash, dot products). The test inputs are single-row-
    * group files, i.e. one scan split — spread them to session parallelism
    * first: the shuffle is tiny (<1 MB) and the downstream compute
    * parallelizes across all cores. On a real multi-split 100 TB table the
    * scan already has natural parallelism and this is a no-op.
    */
  private def spread(spark: SparkSession, df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    // file count proxies split count WITHOUT forcing physical planning of
    // the scan (df.rdd.getNumPartitions planned the query per load); a
    // multi-file table at 100 TB has natural scan parallelism → no-op
    if (df.inputFiles.length < target) df.repartition(target) else df
  }
  def documents(spark: SparkSession, dir: String): DataFrame =
    spread(spark, load(spark, dir, "documents"))
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spread(spark, load(spark, dir, "embeddings"))
}

/** Session factory for specs, ad-hoc mains, AND the driver-contract
  * entrypoints (Verify/Bench call `local(cpus)`) — one place owns the
  * timestamp/AQE/timezone configs so a change can never drift between
  * the correctness gate and the benchmark (r6 had to patch three copies).
  */
object GraftSession {
  def local(threads: Int = Runtime.getRuntime.availableProcessors.min(32)): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(graft.plans.GraftExtensions(_))
      .master(s"local[$threads]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE skew-join thresholds, re-expressed at LOCAL data scale: the
      // stock 256 MB skewedPartitionThreshold assumes executor-sized
      // partitions, but at local[32]/sf0.1 a partition holding 90% of a
      // fact table compresses to tens of MB — under the default the
      // skew sweep's hot join key (13.5M of 15M orders on one customer)
      // sorted in ONE task and OptimizeSkewedJoin never fired. 32 MB /
      // 8 MB keeps the same factor-of-4 headroom the 256/64 defaults
      // encode; on a real cluster the defaults already catch this
      // partition, so this is the local mirror of cluster behavior,
      // not a behavior change. (Verified: SortMergeJoin(skew=true) on
      // the skew-100x cartprod join, 10.9 -> 7.7 s warm.)
      .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32m")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      // ObjectHashAggregate (collect_set_bounded / collect_list /
      // TypedImperativeAggregate posting-list builds) falls back to
      // SORT-based aggregation after 128 distinct keys per task by
      // default — a silent n·log n + spill cliff the 300x smoke measured
      // as 16x cpu for 3x data on the minhash band aggregation. But the
      // threshold is also the aggregation map's ONLY memory bound: the
      // map side of a high-cardinality posting aggregation materializes
      // a buffer for nearly every distinct key in every task, and the
      // first 4M-key setting let the 300x ngram-shingle aggregation
      // (~200k string keys × cap-64 posting buffers × 32 concurrent
      // tasks) OOM the executor heap. 64k keys is the budget-derived
      // value: with CompactBoundedSet's ≤~600 B cap-64 long buffers
      // that is ≤40 MB of map per task (~1.2 GB across 32 local cores;
      // ≤256 MB/core even at the ~4 KB generic-struct worst), while
      // every aggregation this library WANTS in hash mode stays there —
      // the minhash/simhash band keyspaces are sketch-bounded (#docs ×
      // bands ≈ 40k at sf0.1) and fit under 64k; only the open-ended
      // shingle-df aggregations tip into sort mode, which is their
      // pre-threshold behavior and linear-measured at 300x.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      // Cached plans report their partitioning: since 3.5 Spark runs AQE
      // inside cached plans by default, which makes InMemoryTableScan
      // report UnknownPartitioning — every co-partitioned consumer of a
      // persisted keyed frame (dedup_substring's gram postings; the
      // sketch tables feeding keyed joins) then pays a REDUNDANT
      // re-exchange of data that is already hash-placed. This library
      // sizes partitions itself (partitionsFor), so AQE-in-cache buys
      // nothing here and the preserved HashPartitioning removes whole
      // shuffles.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "false")
      // InferFiltersFromGenerate clones every explode's CHILD EXPRESSION
      // into a `size(e) > 0 AND isnotnull(e)` filter under the Generate.
      // Its benefit — pruning empty-array rows a few operators early, in
      // the same stage — only pays when the child is a cheap attribute;
      // in this library every generator child is a COMPUTED expression
      // (the fused shingle/gram md5 kernels, token splits, chunk
      // builders), so the inferred filter re-evaluates the op's dominant
      // per-row kernel 1-2 extra times per document for rows explode
      // would drop anyway (plans/r17/dedup_minhash_lsh_before.txt shows
      // the clone; the rule has no expensive-expression guard in Spark
      // 4.1). Scale-independent: the trade is expression cost vs row
      // pruning within one stage, not a local-mode artifact.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Spark caches generated classes by source text, 100 by default
      // (a static conf, so it must be set here, before the first query).
      // One pass over a dozen graft ops generates a few hundred classes,
      // so with the default every repeat re-generates, re-compiles and
      // re-JITs all of them: a relational pass measured about 9.5 s
      // with the default against about 7 s with 2000 entries.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // Naive (un-annotated) parquet timestamps read as TIMESTAMP in the
      // UTC session, not TIMESTAMP_NTZ: epoch arithmetic (unix_micros /
      // RANGE windows) requires the LTZ type, and with the session pinned
      // to UTC the two readings are value-identical — this keeps the
      // engine's epoch math and the naive-timestamp oracle in agreement
      // regardless of which writer produced the input files.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .getOrCreate()
    // Epoch math across Temporal/WindowOps/GraftApi silently depends on
    // the UTC pin (cast("timestamp") on NTZ reinterprets wall-clock in
    // the session zone). getOrCreate can return a PRE-EXISTING session
    // whose builder didn't set it — fail loudly instead of skewing math.
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "graft sessions require spark.sql.session.timeZone=UTC " +
        "(epoch arithmetic reinterprets naive timestamps in the session zone)")
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
