package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-robustness smoke: amplify the sf0.1 tables N× (id-offset unions —
  * same value distributions, N× the rows) and run the shuffle-heavy
  * operators against the amplified copy. This is NOT a benchmark (the
  * amplified corpus duplicates content, which stresses dedup posting
  * lists far HARDER than a real corpus — every bucket is at least N
  * deep); it exists to catch super-linear blowups, cap violations, and
  * driver-side collects that small-SF runs can't see.
  *
  * Usage: runMain graft.ScaleSmoke [skew] [N] [opName ... | all]
  * Writes the amplified tables under /tmp/graft_scale_N (reused across
  * runs), prints per-op seconds and row counts.
  *
  * r8 era note: materialization switched from count() to a
  * hash-of-all-columns aggregate — count() let Catalyst prune Window/
  * Project nodes, so projection-only ops (window EWMA, lead/lag, text
  * scoring) had been timing a bare parquet scan. Projection-op entries
  * recorded before r8 understate; join/agg ops are era-stable (their
  * plans cannot be pruned by count).
  *
  * No warmup pass (unlike Bench): timings include first-run JIT/codegen
  * and cold page cache, so compare ops WITHIN one full sweep — a solo
  * run of one op reads several× slower than its slot in a sweep. The
  * signal this tool exists for is growth ACROSS amplification levels,
  * which the constant warmup cost does not bend.
  *
  * Adjudicating a growth WARN (the r5 protocol): before changing code,
  * (1) re-record the SMALLER amplification fresh under identical config —
  * mixed-config ratios flagged 10 ops in r5 of which one was real; then
  * (2) run the op TWICE in one invocation (`ScaleSmoke N op op`) — if
  * the second run is ~linear vs the smaller N, the flag was cold-IO/JIT
  * constants, not algorithmic growth (the artifact keeps the cold first
  * run; note the warm number in SURVEY). Only a flag that survives both
  * probes is a plan bug — r5's survivor was the minhash verify join,
  * fixed with the adaptiveBroadcast cand guard.
  */
object ScaleSmoke {

  private[graft] val defaultOps = Seq(
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash_pairs",
    "dedup_simhash_blocks", "dedup_bloom_bucketed", "dedup_semdedup",
    "dedup_clusters", "pipeline_curate", "pipeline_keep_best",
    "pipeline_pack_sequences", "mm_dedup_phash", "decontam_ngram",
    "ann_ivf_topk", "ann_ivf_kmeans_topk", "ann_ivf_upsert",
    "ann_ivfpq_topk", "ann_pq_codes",
    "ann_ivfpq_refine_topk", "ann_knn_classify",
    "q_time_resample", "q_skew_salted_join", "q_window_ewma_blocks",
    "q_anomaly_zscore_blocks", "q_lead_lag_blocks", "q_burst_detect_blocks",
    "q_asof_join_blocks", "q_window_running_blocks", "q_window_sliding_blocks",
    "q_window_ntile_blocks", "q3_shipping_priority",
    "q5_local_supplier", "q18_large_orders")

  /** Host-speed canary: thread-CPU seconds for a FIXED single-threaded
    * workload (2M MD5s of counter strings), measured before the Spark
    * session exists. This box is a shared VM whose effective per-core
    * speed swings ~1.3-2× across hours (host co-tenancy — invisible to
    * guest load_avg and /proc steal, but it inflates executor cpu_s for
    * identical plans). Every artifact carries the canary so cross-ERA
    * ratios normalize by arithmetic (cpu_s / canary) instead of the
    * r11 archaeology that first quantified the swing: a fresh idle
    * sweep re-measured a code-identical registry at median 1.32×
    * (IQR 1.3-1.9×) the cpu_s of a sweep eight hours earlier. WITHIN
    * one artifact the canary cancels — growth and skew-vs-uniform
    * reads are unaffected.
    */
  private[graft] def cpuCanary(): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bean = java.lang.management.ManagementFactory.getThreadMXBean
    val t0 = bean.getCurrentThreadCpuTime
    var i = 0
    var acc = 0L // folded into the result so the loop cannot be DCE'd
    while (i < 2000000) {
      acc += md.digest(String.valueOf(i ^ (acc & 1)).getBytes)(0)
      i += 1
    }
    val s = (bean.getCurrentThreadCpuTime - t0) / 1e9
    if (acc == Long.MinValue) -s else s
  }

  /** Multicore host-speed canary: the same fixed MD5 workload run on
    * `threads` threads at once, reporting the MEAN thread-CPU seconds
    * per thread. The single-thread canary stayed flat (~0.38) across
    * r12 measurement eras whose 32-thread stage costs swung ~4× on
    * heterogeneous scan stages — co-tenant pressure on shared memory
    * bandwidth / SMT shows up as stall cycles charged to thread CPU
    * only under CONCURRENCY. Reading both canaries separates "host
    * slow" (both inflate) from "host contended" (only this one
    * inflates) from "code regressed" (neither).
    */
  private[graft] def cpuCanaryMt(
      threads: Int = Runtime.getRuntime.availableProcessors.min(32)): Double = {
    val bean = java.lang.management.ManagementFactory.getThreadMXBean
    val total = new java.util.concurrent.atomic.AtomicLong(0L)
    val ts = (1 to threads).map { _ =>
      new Thread(() => {
        val md = java.security.MessageDigest.getInstance("MD5")
        val t0 = bean.getCurrentThreadCpuTime
        var i = 0
        var acc = 0L
        while (i < 500000) {
          acc += md.digest(String.valueOf(i ^ (acc & 1)).getBytes)(0)
          i += 1
        }
        total.addAndGet(bean.getCurrentThreadCpuTime - t0 + (acc & 1L))
      })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    total.get / 1e9 / threads
  }

  /** Amplify the sf0.1 tables N× into /tmp/graft_scale_{tag} (idempotent
    * via the _AMPLIFIED_v2 marker) and return the corpus dir. Extracted
    * from main so harnesses that only need the corpus (GenCorpus) can
    * build it without running — and without re-recording entries
    * into — a sweep artifact, which must stay single-era.
    */
  def ensureCorpus(spark: SparkSession, src: String, n: Int,
      skew: Boolean): String =
    ensureCorpus(spark, src, n, if (skew) "skew" else "")

  /** `mode`: "" uniform (content repeats N× — the saturation worst
    * case), "skew" zipf-shaped hot keys, "vary" DISTINCT-content
    * amplification — every 3rd token of every document replica is
    * rewritten to a replica-unique token (so no two replicas share a
    * single 5-gram shingle: near-dup candidate generation runs at
    * TRUE corpus cardinality with a healthy bucket histogram instead
    * of the uniform mode's everything-saturates cliff), and every
    * embedding replica is deterministically perturbed (distinct
    * vectors: ANN recall and bucket occupancy are measured against
    * 2M real points, not 1000-deep duplicate stacks). Replica 0
    * always stays the base corpus.
    */
  def ensureCorpus(spark: SparkSession, src: String, n: Int,
      mode: String): String = {
    val skew = mode == "skew"
    val vary = mode == "vary"
    val tag = mode + n
    val out = s"/tmp/graft_scale_$tag"
    // skew-mode per-replica rewrites (replica 0 always stays the base
    // corpus so every base key still exists for joins)
    val hotTemplate = "breaking update the markets moved again today and " +
      "analysts repeated the same template paragraph verbatim once more"
    val step = 1000000000L
    def varyTweak(table: String, df: DataFrame, i: Int): DataFrame =
      if (i == 0) df
      else table match {
        case "documents" =>
          // replica-unique token every 3rd position: every 5-gram
          // window contains one, so replicas share ZERO shingles with
          // the base and with each other — J = 0 across copies, the
          // sparse-pair regime. Docs under 3 words have no p % 3 = 2
          // position, so their word 0 is replaced instead — otherwise
          // short docs would stay byte-identical across replicas and
          // the exact/bloom/short-doc-simhash families would still see
          // N-deep duplicate stacks. Null text stays null
          // (transform(null) → null), the gate convention.
          df.withColumn("_ws", split(col("text"), " "))
            .withColumn("text", expr(
              s"array_join(transform(_ws, (w, p) -> " +
                s"case when p % 3 = 2 or (size(_ws) < 3 and p = 0) " +
                s"then concat('v${i}p', p) else w end), ' ')"))
            .drop("_ws")
        case "embeddings" =>
          // deterministic per-replica perturbation: distinct vectors,
          // norms stay positive w.h.p., geometry near the base point
          df.withColumn("embedding", expr(
            s"transform(embedding, (x, p) -> " +
              s"cast(x + 0.05 * sin(${i}.0 * 7.0 + p) as float))"))
        case _ => df
      }
    def skewTweak(table: String, df: DataFrame, i: Int): DataFrame =
      if (vary) varyTweak(table, df, i)
      else if (!skew || i == 0) df
      else table match {
        case "documents" =>
          val d = if (i % 10 != 0) df.withColumn("lang", lit("en")) else df
          if (i % 10 == 1) d.withColumn("text", lit(hotTemplate)) else d
        case "events" if i % 10 != 0 => df.withColumn("user_id", lit(7L))
        case "orders" if i % 10 != 0 => df.withColumn("o_custkey", lit(1L))
        case "embeddings" if i % 10 != 0 =>
          // 90% of vector replicas collapse onto base vector 0's embedding
          // — the template-heavy-corpus shape where one IVF cell ends up
          // holding most of the corpus AND most of the probe mass (base
          // id 0 is also a search query), i.e. the hot-inverted-list
          // scenario the Similarity.splitHotCells hot-cell split exists for.
          // (r6's IVF "skew" numbers predate this: embeddings used to
          // amplify identically in both modes, so those deltas could only
          // be machine noise — r7 re-measured them flat and added this.)
          val hot = broadcast(df.filter(col("vec_id") === i.toLong * step)
            .select(col("embedding").as("_hot_emb")))
          df.crossJoin(hot).withColumn("embedding", col("_hot_emb"))
            .drop("_hot_emb")
        case _ => df
      }

    def amplify(name: String, idCols: Seq[String]): Unit = {
      val base = Tables.load(spark, src, name)
      // ids get a per-replica offset so keys stay unique where they were
      // unique; content repeats N× (worst case for posting lists)
      val copies = (0 until n).map { i =>
        skewTweak(name, idCols.foldLeft(base)((df, c) =>
          df.withColumn(c, col(c) + lit(i * step))), i)
      }
      copies.reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }

    // v2: skew mode now also skews embeddings (hot vector) — regenerate
    // corpora amplified before that change
    val done = new java.io.File(s"$out/_AMPLIFIED_v2_$n")
    if (!done.exists()) {
      amplify("documents", Seq("doc_id"))
      amplify("embeddings", Seq("vec_id"))
      amplify("events", Seq("event_id"))     // user_id repeats: hot keys
      amplify("lineitem", Seq("l_orderkey"))
      amplify("orders", Seq("o_orderkey", "o_custkey"))
      amplify("customer", Seq("c_custkey"))
      // dims stay 1×: at scale dimensions don't grow with the fact tables
      Seq("supplier", "part", "nation", "region").foreach { t =>
        Tables.load(spark, src, t).write.mode("overwrite")
          .parquet(s"$out/$t.parquet")
      }
      done.createNewFile()
    }
    out
  }

  def main(args: Array[String]): Unit = {
    // `skew` as the first arg switches to ZIPF-SHAPED amplification:
    // same row volume as the uniform sweep, but 90% of document replicas
    // collapse onto one hot language, one replica in ten onto one hot
    // template text, 90% of event replicas onto one hot user, and 90% of
    // order replicas onto one hot customer (replica id-offsets already
    // give crawl-snapshot-style monotone id blocks). Uniform
    // amplification never stresses the salted agg/join paths, AQE skew
    // handling, or the per-(domain, shard) window depths — this mode
    // exists to.
    val mode = args.headOption match {
      case Some("skew") => "skew"
      case Some("vary") => "vary"
      case _            => ""
    }
    val skew = mode == "skew"
    val rest = if (mode.nonEmpty) args.drop(1) else args
    val n = rest.headOption.map(_.toInt).getOrElse(10)
    val names =
      if (rest.length > 1 && rest(1) == "all") SparkEntry.queries.keys.toSeq.sorted
      else if (rest.length > 1) rest.drop(1).toSeq
      else defaultOps
    val tag = s"$mode$n"
    val src = "/root/testdata/sf0.1"
    val out = s"/tmp/graft_scale_$tag"
    val canaryS = cpuCanary() // before the session: an idle-JVM measure
    val canaryMtS = cpuCanaryMt()
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    // Size shuffle partitions to the data, not the core count — the rule
    // a real cluster lives by, now the library's own
    // GraftApi.partitionsFor (this harness validated it; the library
    // face came out of it). At a fixed 32 partitions the per-partition
    // aggregate state grows linearly with amplification until hash
    // aggregates tip into sort/spill and growth goes super-linear (the
    // 1000× sweep showed dedup_minhash_lsh at 9.5× the 300× time for
    // 3.3× the data on exactly this). The row estimate is the dominant
    // (lineitem) table's amplified count — 600k·n at sf0.1, one wave of
    // partitions per 18M rows, so ≤30× keeps the historical 32 and
    // prior artifacts stay comparable.
    // Per-op task-time distribution: straggler diagnosis used to need
    // manual SQL-tab archaeology — a hot-key stage shows up as one task
    // running N× the median while wall-time alone can't say WHY an op is
    // slow under skew. max/median task run time per op rides the JSON.
    val taskMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    // total executor CPU per op: wall seconds on this shared machine swing
    // 2-3x with co-tenant load, but actual CPU consumed doesn't — growth
    // audits and skew-vs-uniform ratios should read THIS when wall times
    // disagree across runs
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
    // spill attribution: execution-memory starvation shows up as
    // aggregation/sort spills whose (de)serialization cpu is charged to
    // the task — the signature of a heap-context measurement artifact
    // (and, on a real executor, of an undersized memory fraction)
    val spillMem = new java.util.concurrent.atomic.AtomicLong(0L)
    val spillDisk = new java.util.concurrent.atomic.AtomicLong(0L)
    // per-stage attribution: straggler diagnosis needs "WHICH stage owns
    // the max task", not just the op-wide max — keyed by stageId, the
    // name is the stage's callSite short form. Per-stage DURATION LISTS
    // ride along (bounded by task count) because the op-wide max/med
    // ratio is shape-blind: the r14 "stragglers" (strip task_skew 1802,
    // idf 2112) dissolved under within-stage reads — the dominant scan
    // stage was 143 EVEN tasks (max/mean 1.24×) and the op-wide median
    // was the ~3×1088 trivial reducer tasks of the data-sized exchanges.
    // stage_skew (top stage max/median OF ITS OWN tasks) is the honest
    // hot-partition signal; task_skew is kept for artifact continuity.
    // One structure: max/sum/count/median all derive from the per-stage
    // duration lists at read time (parallel aggregate state would drift).
    val stageDurs = new java.util.concurrent.ConcurrentHashMap[
      Int, java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]]()
    val stageName = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          taskMs.add(m.executorRunTime)
          cpuNs.addAndGet(m.executorCpuTime)
          spillMem.addAndGet(m.memoryBytesSpilled)
          spillDisk.addAndGet(m.diskBytesSpilled)
          stageDurs.computeIfAbsent(te.stageId,
            _ => new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]())
            .add(m.executorRunTime)
        }
      }
      override def onStageSubmitted(
          ss: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
        // Stage names from the scheduler callSite are useless for
        // AQE-materialized stages (every one reads "withThreadLocal
        // Captured at CompletableFuture.java" — the AQE thread pool).
        // The RDD OPERATION SCOPES carried by the stage's RDDs name the
        // physical operators actually running (Scan parquet, Exchange,
        // WholeStageCodegen(n), ObjectHashAggregate, ...) — join the
        // distinct scope names in RDD order so the straggler's owner
        // reads as the operator chain, falling back to the callSite
        // only when no scope exists (pure actions).
        val scopes = ss.stageInfo.rddInfos.sortBy(_.id)
          .flatMap(_.scope).map(_.name).distinct
        val nm =
          if (scopes.nonEmpty) scopes.mkString(" > ")
          else ss.stageInfo.name.takeWhile(_ != '\n')
        stageName.put(ss.stageInfo.stageId, nm.take(80))
      }
    })
    def drainBus(): Unit =
      org.apache.spark.sql.graftshim.Shim.drainListenerBus(spark.sparkContext)

    val baseRows = Tables.load(spark, src, "lineitem").count()
    val parts = graft.api.GraftApi.partitionsFor(spark, baseRows * n)
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    // scan-split sizing: the digest-heavy ops (shingle+md5 sketching)
    // are CPU-bound in the SCAN stage, and 128 MB file packing yields
    // ~25 splits for a 100x documents table — 7 of 32 cores idle through
    // the dominant stage. 32 MB splits keep scan tasks plentiful at
    // every amplification without hurting the light scans (same knob a
    // cluster tunes per spark_guide; shuffle partitions are already
    // data-sized above).
    spark.conf.set("spark.sql.files.maxPartitionBytes", "33554432")
    println(s"[scale ${tag}x] shuffle partitions = $parts")

    ensureCorpus(spark, src, n, mode)

    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    // Op-specific attribution probes, run OUTSIDE the timed region after
    // the op: measured numbers that settle a skew-vs-uniform cpu delta
    // (VERDICT r14 #3/#5 — "evidence, not plausibility"). Each returns
    // extra (field, value) pairs for the op's JSON entry.
    //   - pipeline_keep_best: the cluster-sliver row count. Its skew cpu
    //     runs ~3.6× uniform while its generator (dedup_minhash_lsh) is
    //     flat; the sliver (docs in the near-dup graph) is what every
    //     downstream join sizes to, so its row count either explains the
    //     delta (skew corpus = more dups = bigger sliver) or indicts a
    //     plan stage.
    //   - capped generators (VERDICT r15 #1): saturated-bucket count and
    //     affected distinct-doc mass from each generator's own bucket
    //     stream (Dedup.capAuditRow — the dedup_cap_audit machinery).
    //     Amplified corpora are mass-duplication by construction, so
    //     nonzero sat_docs next to a small pair count is the honest
    //     reading: the cap is eating recall and the mass must route
    //     through dedup_exact first (dedup_composed_recall measures the
    //     recovery). Without these fields, "no pairs" is
    //     indistinguishable from "nothing to find".
    def satProbe(postings: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (SparkSession, String) => Seq[(String, Long)] = { (spark, dir) =>
      val r = graft.operators.Dedup.capAuditRow(postings(spark, dir),
        graft.operators.Dedup.bucketCap, "probe")
        .select(col("sat_buckets"), col("sat_docs")).head()
      CacheRegistry.drain()
      Seq("sat_buckets" -> r.getLong(0), "sat_docs" -> r.getLong(1))
    }
    def smokeDocs(spark: SparkSession, dir: String) =
      graft.Tables.documents(spark, dir)
    val minhashSat = satProbe((s, d) =>
      graft.operators.Dedup.minhashBuckets(smokeDocs(s, d)))
    val attribProbes: Map[String, (SparkSession, String) => Seq[(String, Long)]] = Map(
      "pipeline_keep_best" -> { (spark, dir) =>
        val pairs = graft.operators.Dedup.minhashLsh.fn(spark, dir)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        val sliver = graft.operators.Graph.componentLabels(pairs).count()
        CacheRegistry.drain()
        // the generator's saturation next to the sliver it feeds: at
        // 1000× amplification sliver_rows reads 0 BECAUSE sat_docs reads
        // ~everything — the r15 weak flag, now visible in one entry
        Seq("sliver_rows" -> sliver) ++ minhashSat(spark, dir)
      },
      "dedup_minhash_lsh" -> minhashSat,
      "dedup_simhash_pairs" -> satProbe((s, d) =>
        graft.operators.Dedup.simhashBands(
          graft.operators.Dedup.simhashSignatures(smokeDocs(s, d)), m = 4, d = 3)
          .select(col("doc_id"), col("band"))),
      "dedup_ngram_jaccard" -> satProbe((s, d) =>
        graft.operators.Dedup.fusedGramStream(4)(smokeDocs(s, d))),
      "ann_knn_join_topk" -> satProbe((s, d) =>
        graft.operators.Similarity.knnBandBuckets(
          graft.Tables.embeddings(s, d))),
      //   - recall values at smoke scale (VERDICT r15 #8): the audits'
      //     OUTPUT rows (hits/slots per index kind, hits/truth per dedup
      //     method) ride the artifact, so the recall claims measured at
      //     sf0.01/0.1 are re-read on the same scale axis everything
      //     else is measured on — the probe recomputes the deterministic
      //     audit frame and collects its handful of rows.
      "ann_recall_audit" -> { (spark, dir) =>
        val rows = SparkEntry.queries("ann_recall_audit")(spark, dir)
          .groupBy("index_kind")
          .agg(sum("hits").as("h"), sum("k").as("s"))
          .collect()
        CacheRegistry.drain()
        rows.toSeq.flatMap { r =>
          val kind = r.getString(0)
          Seq(s"recall_${kind}_hits" -> r.getLong(1),
            s"recall_${kind}_slots" -> r.getLong(2))
        }
      },
      "dedup_composed_recall" -> { (spark, dir) =>
        val rows = SparkEntry.queries("dedup_composed_recall")(spark, dir)
          .collect()
        CacheRegistry.drain()
        rows.toSeq.flatMap { r =>
          val m = r.getAs[String]("method")
          Seq(s"${m}_hits" -> r.getAs[Long]("hits")) ++
            (if (m == "composed")
              Seq("truth_pairs" -> r.getAs[Long]("truth_pairs")) else Nil)
        }
      },
      "dedup_cap_audit" -> { (spark, dir) =>
        val rows = SparkEntry.queries("dedup_cap_audit")(spark, dir).collect()
        CacheRegistry.drain()
        rows.toSeq.flatMap { r =>
          val g = r.getAs[String]("generator")
          Seq(s"${g}_sat_buckets" -> r.getAs[Long]("sat_buckets"),
            s"${g}_sat_docs" -> r.getAs[Long]("sat_docs"))
        }
      })

    // Incremental-family ops serve from persisted get-or-build state; an
    // in-smoke COLD run times the one-time warehouse build (IO-era noise
    // — the 981→3034 cpu band BASELINE.md attributes) against the op's
    // contract, which prices the SERVE. Warm mode (VERDICT r14 #8): one
    // untimed warmup pass materializes the state (recorded as
    // warmup_sec), then the timed run measures serve-only — the same
    // build-untimed/serve-timed accounting Bench applies.
    val warmOps = Set("dedup_incremental", "dedup_incremental_upsert",
      "dedup_paragraph_upsert", "dedup_substring_upsert",
      "dedup_substring_incremental")

    val results = names.flatMap { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          // warmup failures fall through to the timed run, whose own
          // try/catch records the op as ok:false — a throw here must
          // not abort the sweep (the per-op catch exists for exactly
          // these failures). warmup_sec measures the STATE BUILD only:
          // the hygiene (drain/GC/sleep) runs after the clock stops.
          val warmupSec: Option[Double] =
            if (warmOps.contains(name)) {
              try {
                val w0 = System.nanoTime()
                fn(spark, out).agg(count(lit(1))).head()
                val w = (System.nanoTime() - w0) / 1e9
                CacheRegistry.drain(blocking = true)
                spark.catalog.clearCache()
                System.gc(); Thread.sleep(300)
                Some(w)
              } catch {
                case e: Throwable =>
                  System.err.println(s"[scale ${tag}x] $name warmup failed " +
                    s"(timed run will record): ${e.getMessage}")
                  None
              }
            } else None
          drainBus(); taskMs.clear(); stageName.clear()
          stageDurs.clear()
          cpuNs.set(0L); spillMem.set(0L); spillDisk.set(0L)
          // fresh PER-OP multicore canary: the contended-host era can
          // shift WITHIN one sweep (measured r12: heterogeneous scan
          // stages 4x apart between two same-day sweeps at identical
          // single-thread canary), so each entry carries the era it
          // actually ran in
          val entryCanaryMt = cpuCanaryMt()
          val t0 = System.nanoTime()
          try {
            // Materialize through a hash-of-every-column aggregate, NOT
            // count(): count lets Catalyst prune unreferenced Window and
            // Project nodes, so projection-only ops (window EWMA, text
            // scoring) were timing a bare parquet scan — 30M-row window
            // ops "ran" in 0.3 cpu-s. xxhash64(struct(*)) forces every
            // output column to evaluate (registered ops emit scalar
            // columns only — the driver-gate contract), for one extra
            // reduction that is noise next to the real compute.
            val df = fn(spark, out)
            val rows = df
              .select(xxhash64(struct(df.columns.map(col): _*)).as("_h"))
              .agg(count(lit(1)).as("n"), expr("bit_xor(_h)")) // xor: ANSI-safe
              .head().getLong(0)
            val sec = (System.nanoTime() - t0) / 1e9
            drainBus()
            val durs = {
              import scala.jdk.CollectionConverters._
              taskMs.iterator().asScala.map(_.longValue).toArray.sorted
            }
            val (tMax, tMed) =
              if (durs.isEmpty) (0L, 0L)
              else (durs.last, durs(durs.length / 2))
            val skewRatio = if (tMed > 0) tMax.toDouble / tMed else 0.0
            val cpuS = cpuNs.get() / 1e9
            val spillMb = spillDisk.get() / 1048576
            println(f"[scale $tag%sx] $name%-28s ${sec}%8.2f s  $rows%12d rows" +
              f"  task max/med ${tMax}%6d/${tMed}%-6d ms (${skewRatio}%.1fx)" +
              f"  cpu ${cpuS}%8.1f s  spill ${spillMb}%5d MB")
            // top stages by max task — names the straggler's owner, with
            // WITHIN-STAGE median so the line itself says even-vs-hot
            import scala.jdk.CollectionConverters._
            // per-stage (max, sum, count, median, busy-median, busy-count)
            // derived from the one duration-list structure at read time.
            // BUSY median (tasks ≥ 5% of the stage max) exists because a
            // scan over few large files schedules empty byte-range
            // splits: uniform-1000× read pipeline_tokenize_shards at
            // stage_skew 2948 where the 8 WORKING tasks were even to
            // ~1.0× — the max divided by an empty split's median. Plain
            // stage_skew stays (comparable with r15 artifacts);
            // stage_skew_busy is the straggler signal.
            val stageStats: Seq[(Int, (Long, Long, Int, Long, Long, Int))] =
              stageDurs.asScala.toSeq.map { case (sid, q) =>
                val ds = q.iterator().asScala.map(_.longValue).toArray.sorted
                val mx = if (ds.isEmpty) 0L else ds.last
                val busy = ds.filter(_ >= math.max(1L, mx / 20))
                (sid, (mx, ds.sum, ds.length,
                  if (ds.isEmpty) 0L else ds(ds.length / 2),
                  if (busy.isEmpty) 0L else busy(busy.length / 2),
                  busy.length))
              }.sortBy(-_._2._1)
            stageStats.take(8).foreach {
              case (sid, (mx, sm, nt, md, bmd, bn)) =>
                println(f"[scale $tag%sx]   stage $sid%-5d max ${mx}%7d ms " +
                  f"med ${md}%7d ms busy-med ${bmd}%7d ms ($bn%d busy) " +
                  f"sum ${sm}%8d ms  $nt%5d tasks  " +
                  f"${stageName.getOrDefault(sid, "?")}%s")
            }
            // the straggler's OWNER rides the artifact, not just stdout:
            // "which stage holds the max task" used to need sweep-log
            // archaeology every time a task_max_ms number raised an
            // eyebrow (r11 verdict ask #3). stage_skew = max/median of
            // the TOP STAGE'S OWN tasks — a hot partition reads ≫1 here
            // even when heavy-stage-vs-trivial-reducer task_skew lies.
            val (topStage, topStageMaxS, topStageTasks, topStageMedMs,
                topStageBusyMedMs, topStageBusyTasks) =
              stageStats.headOption match {
                case Some((sid, (mx, _, nt, md, bmd, bn))) =>
                  val nm = stageName.getOrDefault(sid, "?")
                    .replace("\\", "\\\\").replace("\"", "\\\"")
                    .replace("{", "(").replace("}", ")")
                  (nm, mx / 1000.0, nt, md, bmd, bn)
                case None => ("", 0.0, 0, 0L, 0L, 0)
              }
            val stageSkew =
              if (topStageMedMs > 0) topStageMaxS * 1000.0 / topStageMedMs else 0.0
            val stageSkewBusy =
              if (topStageBusyMedMs > 0) topStageMaxS * 1000.0 / topStageBusyMedMs
              else 0.0
            // probes run AFTER the measurement is captured and must not
            // discard it — a probe throw loses its fields, not the entry
            val probeFields =
              try attribProbes.get(name).map(_(spark, out)).getOrElse(Seq.empty)
              catch {
                case e: Throwable =>
                  System.err.println(s"[scale ${tag}x] $name attribution " +
                    s"probe failed: ${e.getMessage}")
                  Seq.empty
              }
            val extras = (probeFields
              .map { case (k, v) => s""", "$k": $v""" } ++
              warmupSec.map(w => s""", "warm": true, "warmup_sec": ${f3(w)}"""))
              .mkString
            Some(s"""  "$name": {"sec": ${f3(sec)}, "rows": $rows, "ok": true, "task_max_ms": $tMax, "task_med_ms": $tMed, "task_skew": ${f3(skewRatio)}, "cpu_s": ${f3(cpuS)}, "spill_disk_mb": $spillMb, "top_stage": "$topStage", "top_stage_max_task_s": ${f3(topStageMaxS)}, "top_stage_tasks": $topStageTasks, "top_stage_med_ms": $topStageMedMs, "stage_skew": ${f3(stageSkew)}, "top_stage_busy_tasks": $topStageBusyTasks, "top_stage_busy_med_ms": $topStageBusyMedMs, "stage_skew_busy": ${f3(stageSkewBusy)}$extras, "cpu_canary_s": ${f3(canaryS)}, "cpu_canary_mt_s": ${f3(entryCanaryMt)}, "heap_gb": ${f3(Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024))}}""")
          } catch {
            // a fail-fast output/size contract TRIPPING is the operator
            // working as designed (the r8 verdict's explicit "Done"
            // clause for q_range_join: "the guard trips or the op
            // completes within bound") — record it as such, distinctly
            // from a crash
            case e: IllegalArgumentException
                if e.getMessage != null &&
                  (e.getMessage.contains("maxPairs") ||
                    e.getMessage.contains("maxGroupBytes")) =>
              println(s"[scale ${tag}x] $name GUARD TRIPPED (by design): " +
                e.getMessage.linesIterator.next().take(160))
              // uniform per-op schema: consumers reading sec/rows/task_*
              // across the sweep shouldn't special-case this row — the
              // guard_tripped flag carries the meaning, placeholders keep
              // the shape. Canaries are the REAL measured ones (ADVICE
              // r12: a cross-era reader normalizing cpu_s by the entry
              // canary must never divide by a placeholder zero or miss
              // the key on guard rows)
              Some(s"""  "$name": {"sec": 0.0, "rows": 0, "ok": true, "guard_tripped": true, "task_max_ms": 0, "task_med_ms": 0, "task_skew": 0.0, "cpu_s": 0.0, "spill_disk_mb": 0, "top_stage": "", "top_stage_max_task_s": 0.0, "top_stage_tasks": 0, "top_stage_med_ms": 0, "stage_skew": 0.0, "top_stage_busy_tasks": 0, "top_stage_busy_med_ms": 0, "stage_skew_busy": 0.0, "cpu_canary_s": ${f3(canaryS)}, "cpu_canary_mt_s": ${f3(entryCanaryMt)}, "heap_gb": ${f3(Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024))}}""")
            case e: Throwable =>
              println(s"[scale ${tag}x] $name FAILED: ${e.getMessage}")
              Some(s"""  "$name": {"ok": false}""")
          } finally {
            // Heap hygiene BETWEEN ops (outside the timed region): the
            // warm-solo adjudications keep showing in-sweep cpu_s
            // inflated several× by the previous ops' surviving garbage
            // and cached blocks (300x sweep: minhash 1076 in-sweep vs
            // 174 warm-solo) — without this, per-op attribution mostly
            // measures heap context, not the op.
            CacheRegistry.drain(blocking = true)
            spark.catalog.clearCache()
            // GC → reference-queue processing → ContextCleaner removes
            // dead broadcast/shuffle blocks; the brief wait lets that
            // finish so leftover storage can't evict-churn the next op's
            // execution memory (spills would charge the wrong op)
            System.gc()
            Thread.sleep(300)
          }
        case None => System.err.println(s"unknown op: $name"); None
      }
    }
    // merge into the existing artifact so a targeted re-run of a few ops
    // refreshes those entries without dropping the rest of the sweep
    val path = java.nio.file.Paths.get(s"scale_smoke_${tag}x.json")
    val entryRe = """"([a-z0-9_]+)": (\{[^}]*\})""".r
    val prior =
      if (java.nio.file.Files.exists(path))
        entryRe.findAllMatchIn(java.nio.file.Files.readString(path))
          .map(m => m.group(1) -> m.group(2)).toSeq
          .filterNot(k => k._1 == "amplification" || k._1 == "heap_gb" ||
            k._1 == "cpu_canary_s" || k._1 == "cpu_canary_mt_s")
      else Seq.empty
    val freshAll = results.map { r =>
      entryRe.findFirstMatchIn(r) match {
        case Some(m) => m.group(1) -> m.group(2)
        case None => throw new IllegalStateException(
          s"unparseable smoke entry (fix the result format or entryRe): $r")
      }
    }
    // an op listed twice (the repeat-run warm/cold probe) must not write
    // duplicate JSON keys — keep the last run's entry
    val fresh = freshAll.foldLeft(Vector.empty[(String, String)]) {
      case (acc, kv) => acc.filterNot(_._1 == kv._1) :+ kv
    }
    val merged = (prior.filterNot(p => fresh.exists(_._1 == p._1)) ++ fresh)
      .sortBy(_._1)
      .map { case (k, v) => s"""  "$k": $v""" }
    // self-documenting run config: deep amplifications need the local
    // heap scaled with the data (there is no cluster here to absorb it —
    // 24g/32 cores is still under real per-core executor provisioning),
    // and a ratio read across different heaps must say so
    val heapGb = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
    // Header era fields describe the FULL-SWEEP run that created the
    // artifact; a targeted re-record of a few entries must not restamp
    // them (the old entries would inherit the new era). Fresh entries
    // carry their own per-entry cpu_canary_s instead, so a cross-era
    // read normalizes entry by entry.
    val header =
      if (prior.nonEmpty) {
        val txt = java.nio.file.Files.readString(path)
        // Header reads must see ONLY the header block (ADVICE r13): in a
        // mixed-era artifact whose header predates a field but whose
        // re-recorded ENTRIES carry it per-entry, a whole-file scan
        // would promote the first entry's value into the header — the
        // exact era-misdating the OMIT logic below exists to avoid. The
        // header ends where the first per-op entry object starts.
        val headerEnd = txt.indexOf(": {")
        val headerTxt = if (headerEnd >= 0) txt.substring(0, headerEnd) else txt
        def keep(k: String, fallback: String) =
          ("\"" + k + "\": ?([0-9.]+)").r
            .findFirstMatchIn(headerTxt).map(_.group(1)).getOrElse(fallback)
        // cpu_canary_mt_s: OMIT rather than backfill when the prior
        // artifact predates the field (ADVICE r12: the header describes
        // the original full-sweep era — stamping the re-record run's mt
        // canary into it would misdate the old entries' era)
        val mtKept = ("\"cpu_canary_mt_s\": ?([0-9.]+)").r
          .findFirstMatchIn(headerTxt).map(_.group(1))
          .map(v => s"""  "cpu_canary_mt_s": $v,\n""").getOrElse("")
        s"""{\n  "amplification": ${keep("amplification", n.toString)},\n  "heap_gb": ${keep("heap_gb", f3(heapGb))},\n  "cpu_canary_s": ${keep("cpu_canary_s", f3(canaryS))},\n$mtKept"""
      } else
        s"""{\n  "amplification": $n,\n  "heap_gb": ${f3(heapGb)},\n  "cpu_canary_s": ${f3(canaryS)},\n  "cpu_canary_mt_s": ${f3(canaryMtS)},\n"""
    java.nio.file.Files.writeString(path,
      merged.mkString(header, ",\n", "\n}"))

    // Growth audit against the largest smaller-amplification artifact:
    // time should scale ~linearly with N, so a ratio far past the
    // amplification step marks a super-linear stage (an uncapped
    // candidate generator, a fraction-of-N codebook, a driver collect).
    // This is the check that caught the r5 join-shaped quadratic
    // generators by hand — automated so every sweep runs it. Output
    // growth rides along: pair-listing ops are OUTPUT-quadratic in
    // duplication depth by semantics, and the rows ratio says which
    // kind of super-linearity you are looking at.
    val secRe = """"sec": ([0-9.]+)""".r
    val rowsRe = """"rows": ([0-9]+)""".r
    // In skew mode the comparison target is the UNIFORM sweep at the
    // same amplification: identical row volume, so anything past 1.5×
    // the uniform time marks a skew-sensitive stage (a key landing on
    // one reducer, a window partition holding 90% of the rows), not
    // data growth.
    val audit: Option[(String, Double, String)] =
      if (skew) {
        val uniform = java.nio.file.Paths.get(s"scale_smoke_${n}x.json")
        if (java.nio.file.Files.exists(uniform))
          Some((uniform.toString, 1.5, s"uniform ${n}x")) else None
      } else {
        // uniform audits against smaller uniform rungs; vary against
        // smaller vary rungs (vary-vs-uniform is apples-to-oranges:
        // distinct-content candidate generation legitimately costs what
        // the uniform mode's saturated-dropped buckets never pay)
        Option(new java.io.File(".").listFiles()).toSeq.flatten
          .flatMap(f => s"scale_smoke_$mode(\\d+)x\\.json".r
            .findFirstMatchIn(f.getName).map(_.group(1).toInt))
          .filter(_ < n).sorted.lastOption
          .map(m => (s"scale_smoke_$mode${m}x.json", n.toDouble / m * 1.5,
            s"$mode${m}x"))
      }
    audit.foreach { case (priorPath, budget, priorLabel) =>
      val priorEntries = entryRe.findAllMatchIn(java.nio.file.Files.readString(
          java.nio.file.Paths.get(priorPath)))
        .map(mm => mm.group(1) -> mm.group(2)).toMap
      fresh.foreach { case (name, body) =>
        for {
          pBody <- priorEntries.get(name)
          pSec <- secRe.findFirstMatchIn(pBody).map(_.group(1).toDouble)
          if pSec > 0.5 // below that, constant job overhead dominates
          sec <- secRe.findFirstMatchIn(body).map(_.group(1).toDouble)
          if sec / pSec > budget
        } {
          val rowsNote = (for {
            pr <- rowsRe.findFirstMatchIn(pBody).map(_.group(1).toLong)
            r <- rowsRe.findFirstMatchIn(body).map(_.group(1).toLong)
          } yield s" (rows ${pr} -> ${r})").getOrElse("")
          println(f"[scale ${tag}x] WARN $name grew ${sec / pSec}%.1fx over " +
            f"$priorLabel (budget ${budget}%.1fx)$rowsNote")
        }
      }
    }
    spark.stop()
  }
}
