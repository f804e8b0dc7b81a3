package graft.perfbench

import graft.{CacheRegistry, GraftSession, ScaleSmoke, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.Shim

/** The benchmark workloads: registered `SparkEntry` ops, run in this
  * order by one client in a closed loop. */
object Workload {
  val ops: Map[String, Seq[String]] = Map(
    "relational" -> Seq("q1_pricing_summary", "q3_shipping_priority",
      "q5_local_supplier", "q6_forecast_revenue", "q18_large_orders",
      "q_join_equi", "q_groupby_agg", "q_cartprod_to_join",
      "q_subquery_sharing", "q_paper_tutorial", "q_indexby_lookup",
      "q_prepared_param"),
    "curation" -> Seq("dedup_minhash_lsh", "dedup_simhash_pairs",
      "dedup_exact", "text_quality", "text_repetition", "text_bpe_tokencount",
      "decontam_ngram", "pipeline_curate", "pipeline_keep_best",
      "ann_bruteforce_topk"))
}

/** What one traced op call did, layer by layer. */
final case class CallTrace(op: String, wallS: Double,
    buildS: Double, buildJobs: Int, buildActions: Int, buildWriteS: Double,
    buildWriteB: Long, tracked: Int, memHeldB: Long, drainS: Double,
    run: PhaseStats, runS: Double)

/** Job/stage/task and Catalyst totals of one layer call. */
final case class PhaseStats(jobs: Int, stages: Int, tasks: Int,
    taskCpuS: Double, taskRunS: Double, schedWaitS: Double, gcS: Double,
    shuffleWriteB: Long, shuffleReadB: Long, spillB: Long, peakTaskMemB: Long,
    stageSkew: Double, taskFailures: Int, outputB: Long,
    analysisMs: Double, optimizationMs: Double, planningMs: Double,
    graftRuleMs: Double, ruleCalls: Long, ruleEffective: Long,
    exchanges: Int, broadcasts: Int, actions: Int, writeS: Double)

object PhaseStats {
  def of(ev: Seq[Event]): PhaseStats = {
    val tasks = ev.collect { case t: TaskDone => t }
    val planned = ev.collect { case p: Planned => p }
    // skew only where it can cost: stages whose slowest task ran ≥ 100 ms
    val skews = tasks.groupBy(_.stageId).values.collect {
      case ts if ts.size >= 2 && ts.map(_.runMs).max >= 100 =>
        val sorted = ts.map(_.runMs.toDouble).sorted
        sorted.last / math.max(1.0, sorted(sorted.size / 2))
    }
    // wall of the stages that wrote files, overlaps counted once
    val writing = tasks.filter(_.outputB > 0).map(_.stageId).toSet
    val writeS = union(ev.collect {
      case s: StageDone if writing(s.stageId) && s.submitMs > 0 =>
        (s.submitMs.toDouble, s.doneMs.toDouble)
    }) / 1e3
    def phase(p: Planned, k: String): Double =
      p.phasesMs.get(k).map { case (s, e) => (e - s).toDouble }.getOrElse(0.0)
    PhaseStats(
      jobs = ev.count(_.isInstanceOf[JobStarted]),
      stages = ev.count(_.isInstanceOf[StageDone]),
      tasks = tasks.size,
      taskCpuS = tasks.map(_.cpuNs).sum / 1e9,
      taskRunS = tasks.map(_.runMs).sum / 1e3,
      schedWaitS = tasks.map(_.schedDelayMs).sum / 1e3,
      gcS = tasks.map(_.gcMs).sum / 1e3,
      shuffleWriteB = tasks.map(_.shuffleWriteB).sum,
      shuffleReadB = tasks.map(_.shuffleReadB).sum,
      spillB = tasks.map(_.spillB).sum,
      peakTaskMemB = if (tasks.isEmpty) 0L else tasks.map(_.peakMemB).max,
      stageSkew = if (skews.isEmpty) 1.0 else skews.max,
      taskFailures = tasks.count(!_.ok),
      outputB = tasks.map(_.outputB).sum,
      analysisMs = planned.map(phase(_, "analysis")).sum,
      optimizationMs = planned.map(phase(_, "optimization")).sum,
      planningMs = planned.map(phase(_, "planning")).sum,
      graftRuleMs = planned.map(_.graftRuleNs).sum / 1e6,
      ruleCalls = planned.map(_.ruleCalls).sum,
      ruleEffective = planned.map(_.ruleEffective).sum,
      exchanges = planned.map(_.exchanges).sum,
      broadcasts = planned.map(_.broadcasts).sum,
      actions = planned.size,
      writeS = writeS)
  }

  /** Total length of the union of intervals. */
  def union(ivs: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var reach = Double.MinValue
    ivs.sortBy(_._1).foreach { case (s, e) =>
      val s1 = math.max(s, reach)
      if (e > s1) { covered += e - s1; reach = e }
    }
    covered
  }
}

/** The benchmark's JVM half: starts a graft session, runs the workload's
  * check pass and timed passes, and writes raw measurements as JSON for
  * `run.py`, which prints the metrics.
  *
  * {{{
  * Main --workload W --check-gen DIR --timed-gen DIR --seconds S
  *      --trace 0|1 --cpus N --check-out DIR --out FILE --trace-out FILE
  * }}}
  * The check pass reads the check generation, the timed passes the timed
  * generation.
  */
object Main {
  private var spark: SparkSession = _
  private val recorder = new Recorder
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble

  /** Epoch milliseconds at sub-millisecond resolution, on Spark's clock. */
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def main(args: Array[String]): Unit = {
    val jvmStartS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ops = Workload.ops(opt("workload"))
    val checkGen = opt("check-gen")
    val timedGen = opt("timed-gen")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val hostStart = host(canaries = traced)

    val s0 = System.nanoTime()
    spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - s0) / 1e9

    // check pass: every op once, untimed, its result written for the
    // oracle compare; with one untimed pass over the timed generation after
    // it, the run's warm-up (the first passes after start-up run slower
    // while the JIT compiles Spark's and graft's code)
    val warm0 = System.nanoTime()
    val checkFailures = ops.flatMap { op =>
      try {
        SparkEntry.queries(op)(spark, checkGen)
          .write.mode("overwrite").parquet(s"${opt("check-out")}/$op")
        None
      } catch { case e: Throwable => Some(op -> s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      finally CacheRegistry.drain(blocking = true)
    }
    ops.foreach(op => call(op, timedGen))
    val warmS = (System.nanoTime() - warm0) / 1e9
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${opt("check-out")}/oracle_sql.json"),
      Json.render(SparkEntry.oracleSql.filter(kv => ops.contains(kv._1))))

    // timed passes until `seconds` have elapsed, at least one; a traced
    // run interleaves one untraced pass between traced ones (T U T) so the
    // ratio of their walls is the tracing overhead. Listeners are attached
    // for traced passes only.
    val minPasses = if (traced) 3 else 1
    case class Pass(traced: Boolean, wallS: Double, cpuS: Double, jitCpuS: Double,
        classes: Long, calls: Seq[(String, Double, Boolean)], traces: Seq[CallTrace])
    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    while (passes.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val p = passes.size
      val tracedPass = traced && p % 2 == 0
      if (tracedPass) {
        spark.sparkContext.addSparkListener(recorder)
        spark.listenerManager.register(recorder)
      }
      val calls = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Boolean)]
      val traces = scala.collection.mutable.ArrayBuffer.empty[CallTrace]
      val cpu0 = processCpuS()
      val jit0 = jitCpuS(); val cl0 = classesLoaded()
      val w0 = System.nanoTime()
      ops.foreach { op =>
        if (tracedPass) {
          val (tr, ok) = tracedCall(op, timedGen, s"p$p.$op")
          traces += tr
          calls += ((op, tr.wallS, ok))
        } else {
          val c0 = System.nanoTime()
          val ok = call(op, timedGen)
          calls += ((op, (System.nanoTime() - c0) / 1e9, ok))
        }
      }
      val wallS = (System.nanoTime() - w0) / 1e9
      val cpuS = processCpuS() - cpu0
      if (tracedPass) {
        drainBus()
        spark.sparkContext.removeSparkListener(recorder)
        spark.listenerManager.unregister(recorder)
      }
      passes += Pass(tracedPass, wallS, cpuS, jitCpuS() - jit0, classesLoaded() - cl0,
        calls.toSeq, traces.toSeq)
    }
    val rssPeakMb = vmHwmMb()

    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var varying = Seq.empty[String]
    if (traced) {
      val tp = passes.filter(_.traced).toSeq
      val up = passes.filterNot(_.traced).toSeq
      val hostEnd = host(canaries = true)
      Seq("canary_st_s", "canary_mt_s", "load_1m").foreach { k =>
        layers(s"host.$k") = math.max(hostStart(k), hostEnd(k))
      }
      def med(f: Seq[CallTrace] => Double): Double = median(tp.map(p => f(p.traces)))
      layers("operators.build_s") = med(_.map(_.buildS).sum)
      layers("operators.build_jobs") = med(_.map(_.buildJobs).sum.toDouble)
      layers("operators.build_actions") = med(_.map(_.buildActions).sum.toDouble)
      layers("operators.build_write_s") = med(_.map(_.buildWriteS).sum)
      layers("operators.build_write_mb") = med(_.map(_.buildWriteB).sum / 1e6)
      layers("cache_registry.tracked") = med(_.map(_.tracked).sum.toDouble)
      layers("cache_registry.mem_mb") = med(_.map(_.memHeldB).sum / 1e6)
      layers("cache_registry.drain_s") = med(_.map(_.drainS).sum)
      def runMed(f: PhaseStats => Double): Double = med(_.map(c => f(c.run)).sum)
      layers("plans.analysis_ms") = runMed(_.analysisMs)
      layers("plans.optimization_ms") = runMed(_.optimizationMs)
      layers("plans.planning_ms") = runMed(_.planningMs)
      layers("plans.graft_rule_ms") = runMed(_.graftRuleMs)
      layers("plans.rule_effective_ratio") = med { cs =>
        val calls = cs.map(_.run.ruleCalls).sum
        if (calls > 0) cs.map(_.run.ruleEffective).sum.toDouble / calls else 0.0
      }
      layers("plans.exchanges") = runMed(_.exchanges)
      layers("plans.broadcasts") = runMed(_.broadcasts)
      layers("execution.run_s") = med(_.map(_.runS).sum)
      layers("execution.jobs") = runMed(_.jobs)
      layers("execution.stages") = runMed(_.stages)
      layers("execution.tasks") = runMed(_.tasks)
      layers("execution.task_cpu_s") = runMed(_.taskCpuS)
      layers("execution.task_run_s") = runMed(_.taskRunS)
      layers("execution.slot_util") = med { cs =>
        val run = cs.map(_.runS).sum
        if (run > 0) cs.map(_.run.taskRunS).sum / (run * cpus) else 0.0
      }
      layers("execution.sched_wait_s") = runMed(_.schedWaitS)
      layers("execution.gc_s") = runMed(_.gcS)
      layers("execution.shuffle_write_mb") = runMed(_.shuffleWriteB / 1e6)
      layers("execution.shuffle_read_mb") = runMed(_.shuffleReadB / 1e6)
      layers("execution.spill_mb") = runMed(_.spillB / 1e6)
      layers("execution.peak_task_mem_mb") =
        med(cs => if (cs.isEmpty) 0.0 else cs.map(_.run.peakTaskMemB).max / 1e6)
      layers("execution.stage_skew") =
        med(cs => if (cs.isEmpty) 1.0 else cs.map(_.run.stageSkew).max)
      layers("execution.task_failures") = runMed(_.taskFailures)
      layers("execution.output_mb") = runMed(_.outputB / 1e6)
      Kernels.measure(spark, checkGen, 200000000L).foreach { case (k, (ns, alloc)) =>
        layers(s"functions.$k.ns_row") = ns
        layers(s"functions.$k.alloc_b_row") = alloc
      }
      layers("jvm.jit_cpu_s") = median(tp.map(_.jitCpuS))
      layers("jvm.classes_loaded") = median(tp.map(_.classes.toDouble))
      layers("wall.pass_s") = median(up.map(_.wallS))
      layers("tracing.overhead_ratio") =
        mean(tp.map(_.wallS)) / math.max(1e-9, mean(up.map(_.wallS)))
      // counts that must repeat exactly across passes for one op call
      varying = tp.flatMap(_.traces).groupBy(_.op)
        .collect { case (op, cs) if cs.map(c =>
            (c.buildJobs, c.run.jobs, c.run.exchanges)).distinct.size > 1 => op }
        .toSeq.sorted
      writeTrace(opt("trace-out"))
    }

    val result = Map(
      "ops" -> ops,
      "jvm_start_s" -> jvmStartS,
      "session_s" -> sessionS,
      "warm_s" -> warmS,
      "check_failures" -> checkFailures.toMap,
      "passes" -> passes.map(p => Map(
        "traced" -> p.traced, "wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
        "jit_cpu_s" -> p.jitCpuS, "classes" -> p.classes,
        "calls" -> p.calls.map { case (op, w, ok) =>
          Map("op" -> op, "wall_s" -> w, "ok" -> ok) })),
      "rss_peak_mb" -> rssPeakMb,
      "host_start" -> hostStart,
      "layers" -> layers,
      "varying_counts" -> varying)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), Json.render(result))
    spark.stop()
  }

  private def build(op: String, dir: String): DataFrame = SparkEntry.queries(op)(spark, dir)

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** An untraced op call: build, materialize, release its caches. */
  private def call(op: String, dir: String): Boolean =
    try { materialize(build(op, dir)); true }
    catch { case e: Throwable =>
      System.err.println(s"[perfbench] $op failed: ${e.getMessage}"); false }
    finally CacheRegistry.drain(blocking = true)

  private def drainBus(): Vector[Event] = {
    Shim.drainListenerBus(spark.sparkContext)
    recorder.poll()
  }

  /** An op call with a span around each layer call. The listener bus is
    * drained at each boundary, so the jobs, stages and query executions
    * seen up to it belong to the layer call that just returned. */
  private def tracedCall(op: String, dir: String,
      id: String): (CallTrace, Boolean) = {
    drainBus()
    val c0 = System.nanoTime(); val opStart = nowMs
    var ok = true
    var df: DataFrame = null
    val b0 = nowMs
    try df = build(op, dir)
    catch { case e: Throwable =>
      ok = false; System.err.println(s"[perfbench] $op build failed: ${e.getMessage}") }
    val b1 = nowMs
    val buildEv = drainBus()
    val tracked = CacheRegistry.liveCount
    val r0 = nowMs
    if (ok) {
      try materialize(df)
      catch { case e: Throwable =>
        ok = false; System.err.println(s"[perfbench] $op run failed: ${e.getMessage}") }
    }
    val r1 = nowMs
    val runEv = drainBus()
    val memHeld = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
    val d0 = nowMs
    CacheRegistry.drain(blocking = true)
    val d1 = nowMs
    val wallS = (System.nanoTime() - c0) / 1e9
    val opEnd = nowMs
    drainBus()

    span(id, null, id, "op", opStart, opEnd)
    span(s"$id.build", id, id, "build", b0, b1)
    span(s"$id.run", id, id, "run", r0, r1)
    span(s"$id.drain", id, id, "drain", d0, d1)
    Seq("build" -> buildEv, "run" -> runEv).foreach { case (phase, ev) =>
      val parent = s"$id.$phase"
      val ends = ev.collect { case j: JobEnded => j.jobId -> j.timeMs }.toMap
      ev.foreach {
        case j: JobStarted =>
          span(s"$id.job${j.jobId}", parent, id, "job", j.timeMs.toDouble,
            ends.getOrElse(j.jobId, j.timeMs).toDouble)
          ev.foreach {
            case s: StageDone if j.stageIds.contains(s.stageId) && s.submitMs > 0 =>
              span(s"$id.stage${s.stageId}.${s.attempt}", s"$id.job${j.jobId}", id,
                "stage", s.submitMs, s.doneMs)
            case _ =>
          }
        case p: Planned =>
          p.phasesMs.foreach { case (name, (s, e)) =>
            span(s"$id.plan.${p.funcName}.$name.$s", parent, id, s"plan.$name", s, e)
          }
        case _ =>
      }
    }
    val b = PhaseStats.of(buildEv)
    (CallTrace(op, wallS, (b1 - b0) / 1e3, b.jobs, b.actions, b.writeS,
      b.outputB, tracked, memHeld, (d1 - d0) / 1e3, PhaseStats.of(runEv),
      (r1 - r0) / 1e3), ok)
  }

  private def span(id: String, parent: String, callId: String, name: String,
      start: Double, end: Double): Unit =
    spans += Map("id" -> id, "parent" -> parent, "call" -> callId,
      "name" -> name, "start_ms" -> start, "end_ms" -> end)

  /** Spans with their self time: duration minus the union of the
    * intervals their children cover. */
  private def writeTrace(path: String): Unit = {
    val kids = spans.groupBy(s => s("parent"))
    val out = spans.map { s =>
      val (a, b) = (s("start_ms").asInstanceOf[Double], s("end_ms").asInstanceOf[Double])
      val covered = PhaseStats.union(kids.getOrElse(s("id"), Nil).toSeq
        .map(c => (math.max(a, c("start_ms").asInstanceOf[Double]),
          math.min(b, c("end_ms").asInstanceOf[Double]))))
      s + ("self_ms" -> math.max(0.0, b - a - covered))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), Json.render(out))
  }

  private def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Cpu-seconds the JIT compiler threads have used, from /proc/self/task
    * (10 ms ticks). The JVM runs without dynamic compiler threads, so none
    * exits and takes its count with it. */
  private def jitCpuS(): Double = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.iterator.map { t =>
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(t.getPath, "stat")))
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!comm.startsWith("C1 Compiler") && !comm.startsWith("C2 Compiler")) 0.0
        else {
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          (f(11).toLong + f(12).toLong) / 100.0 // utime + stime
        }
      } catch { case _: Throwable => 0.0 }
    }.sum
  }

  /** Classes loaded so far, Spark's generated code included. */
  private def classesLoaded(): Long =
    java.lang.management.ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount

  private def vmHwmMb(): Double =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
        .getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)
    } catch { case _: Throwable => Runtime.getRuntime.totalMemory / 1048576.0 }

  /** Host state, marking a contaminated run: the one-minute load average
    * and, when asked, the library's cpu canaries (about a second of work). */
  private def host(canaries: Boolean): Map[String, Double] = {
    val load =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).trim.split("\\s+")(0).toDouble
      catch { case _: Throwable =>
        java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage }
    Map("load_1m" -> load) ++ (if (canaries) Map(
      "canary_st_s" -> ScaleSmoke.cpuCanary(), "canary_mt_s" -> ScaleSmoke.cpuCanaryMt())
    else Map.empty)
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
