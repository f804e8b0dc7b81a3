package graft

/** Plan lint over the ENTIRE operator registry: no operator may plan a
  * CartesianProduct, and BroadcastNestedLoopJoin is allowed only where a
  * deliberately-tiny broadcast side scores against every row (the ANN
  * query sets, |Q| ≤ 8). This is the "would this survive a 100× scale-up"
  * review from SURVEY §4, run as a test instead of by eye.
  */
class PlanLintSpec extends SparkSpec {

  private val bnlAllowed = Set(
    // broadcast side is the ≤8-vector query set by construction
    "ann_bruteforce_topk",
    // one-row hyperplane matrix / centroid set cross the scan by design
    // (autoprobe adds a one-row occupancy-stats frame on top)
    "ann_rh_lsh_topk", "ann_ivf_topk", "ann_ivf_kmeans_topk",
    "ann_ivf_autoprobe", "ann_ivfpq_topk",
    // same centroid-ranking cross as autoprobe, served from the
    // upserted index parts
    "ann_ivf_upsert", "ann_ivfpq_upsert",
    // the IVFADC shortlist machinery (centroid-ranking cross) feeding the
    // exact re-rank; the refine joins themselves are keyed broadcasts
    "ann_ivfpq_refine_topk",
    // composes the three serving plans above (inheriting their allowed
    // crosses) plus its own 3-kinds × ≤8-queries scaffold cross — both
    // sides literal-tiny by construction
    "ann_recall_audit",
    // same scaffold shape as ann_recall_audit: a 3-method literal frame
    // crossed with the one-row truth_pairs aggregate — both sides
    // literal-tiny; the member pair plans underneath are all keyed
    "dedup_recall_audit",
    // per-generator (total, saturated) one-row aggregates crossed into
    // the audit row — every posting-stream pass underneath is keyed
    "dedup_cap_audit",
    // six one-row count/mass aggregates crossed into the 3-method
    // output scaffold; the pair generators underneath are all keyed
    "dedup_composed_recall",
    // same ≤8-query broadcast scoring pass as ann_bruteforce_topk, with
    // labels riding the scored side
    "ann_knn_classify",
    // the one-row packed-codebook cross of the assignTo kernel (the IVF
    // family's allowance); every pair/flag join is keyed
    "dedup_semdedup",
    // one-row global-min aggregate crossed onto the per-lang counts
    // (a handful of rows), never the corpus
    "q_mix_balance",
    // one-row corpus-token-total aggregate crossed onto the probe join
    // (the plan-side scalar that replaced the r5 driver count)
    "text_idf_rarity",
    // one-row broadcast of the benchmark's distinct n-gram array crossed
    // onto the corpus scan — the eval set is tiny by definition
    "decontam_ngram",
    // ≤8 packed query LUTs (64 doubles each) crossed onto the codes scan
    "ann_pq_search")

  test("no operator builds word n-grams with an interpreted transform/concat_ws lambda") {
    val offenders = SparkEntry.allOps.flatMap { op =>
      val hits =
        try lambdaNgramBuilders(op.fn(spark, sfTiny))
        catch { case e: Throwable => Seq(s"PLANNING FAILED: ${e.getMessage}") }
      if (hits.nonEmpty) Some(s"${op.name}: ${hits.head.take(160)}") else None
    }
    CacheRegistry.drain()
    assert(offenders.isEmpty,
      "Spark interprets transform lambdas element by element, even inside " +
        "codegen: build word n-grams with the byte-walk kernels instead — " +
        "graft.functions.ShingleMd5Grams / ShingleMd5Sketch for gram digests, " +
        "WordNgramCounts for gram counts:\n" + offenders.mkString("\n"))
  }

  /** The reference's headline claim is COMPILED query evaluation
    * (Compile.scala, CompileCSETest.scala); ours delegates to
    * WholeStageCodegen — so pin the delegation: after execution (AQE
    * final plan), the headline queries must run their scans and hash
    * aggregates INSIDE codegen'd spans (`*(n)` node prefixes), not
    * interpreted. Ops built on collect_set/collect_list legitimately plan
    * ObjectHashAggregate (never codegen'd) and only need a span present.
    */
  test("headline queries execute inside WholeStageCodegen spans") {
    // every HashAggregate must be codegen'd, i.e. prefixed "*(n) "
    val strict = Seq("q1_pricing_summary", "q3_shipping_priority",
      "q5_local_supplier", "q6_forecast_revenue", "text_quality")
    val spanOnly = Seq("dedup_minhash_lsh", "ann_bruteforce_topk", "pipeline_curate")
    def finalPlan(name: String): String = {
      val df = SparkEntry.queries(name)(spark, sfTiny)
      // collect() (NOT a write: that builds its own QueryExecution and
      // leaves this one un-finalized) drives AQE to the final plan, whose
      // tree string carries the codegen markers; results are tiny at
      // sfTiny. Lint only the "Final Plan" section — the "Initial Plan"
      // echo below it never has markers.
      df.collect()
      try df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      finally CacheRegistry.drain()
    }
    val offenders = (strict ++ spanOnly).flatMap { name =>
      val plan = finalPlan(name)
      val noSpan = !plan.contains("*(")
      val interpretedAgg = strict.contains(name) &&
        plan.linesIterator.exists(l =>
          l.contains("HashAggregate(") && !l.contains("*("))
      if (noSpan || interpretedAgg)
        Some(s"$name: codegenSpan=${!noSpan} interpretedHashAgg=$interpretedAgg")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no operator plans a cartesian product; BNL only on tiny-broadcast ops") {
    val offenders = SparkEntry.allOps.flatMap { op =>
      val plan =
        try op.fn(spark, sfTiny).queryExecution.executedPlan.toString
        catch { case e: Throwable => s"PLANNING FAILED: ${e.getMessage}" }
      val cart = plan.contains("CartesianProduct")
      val bnl = plan.contains("BroadcastNestedLoopJoin") && !bnlAllowed(op.name)
      val failed = plan.startsWith("PLANNING FAILED")
      if (cart || bnl || failed)
        Some(s"${op.name}: cartesian=$cart bnl=$bnl failed=$failed")
      else None
    }
    CacheRegistry.drain()
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
