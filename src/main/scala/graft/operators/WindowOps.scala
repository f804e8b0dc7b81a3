package graft.operators

import graft.{Op, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2.3: windowed/temporal operators over the events table — the
  * batch face of the reference's incremental view maintenance
  * (ivm/collections/IncrementalResult, tests/IVMTest1.scala); the streaming
  * face lives in graft.streaming with Structured Streaming specs.
  *
  * Determinism: window orderings always carry the event_id tiebreak, and
  * windowed sums run on DECIMAL so frame-accumulation order can't produce
  * float drift. Raw ns timestamps never appear in oracle outputs (engines
  * disagree on sub-micro precision); outputs use event ids and hour buckets.
  */
object WindowOps {

  private val byUserTime = Window.partitionBy(col("user_id"))
    .orderBy(col("ts"), col("event_id"))

  private def runningSimple(ev: org.apache.spark.sql.DataFrame) =
    ev.select(
      col("event_id"), col("user_id"),
      sum(ValueWindows.cents)
        .over(byUserTime.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double").as("running_value"),
      row_number().over(byUserTime).cast("long").as("seq"))

  private def runningBlocks(ev: org.apache.spark.sql.DataFrame) =
    ValueWindows.running(graft.api.GraftApi.runningSumBlocks(
      ev.select(col("user_id"), col("ts"), col("event_id"),
        ValueWindows.cents.as("v")),
      "user_id", "ts", "event_id", col("v")))

  /** Running per-user aggregate: rows-unbounded-preceding frame.
    *
    * The registered default is SKEW-ADAPTIVE ([[graft.api.GraftApi
    * .skewAdaptive]]): one hottest-key count probe picks the single
    * window (organic keys — no carry overhead) or [[windowRunningBlocks]]'s
    * hot-key-safe plan (a bot-grade key past the bound would otherwise
    * sort its whole history in one task: ×11.7 wall / task-skew 248 at
    * skew-1000x). Both branches are result-identical; conf
    * `graft.skewAdaptive.hotKeyBound` forces either.
    */
  val windowRunning: Op = Op(
    "q_window_running",
    """SELECT event_id, user_id,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
      |    AS DOUBLE) AS running_value,
      |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
      |FROM events""".stripMargin,
  ) { (spark, dir) =>
    graft.api.GraftApi.skewAdaptive(
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("value")),
      "user_id")(runningSimple)(runningBlocks)
  }

  /** Per-key top-n via rank: row_number + filter. */
  val windowRank: Op = Op(
    "q_window_rank",
    """SELECT user_id, event_id, value FROM (
      |  SELECT user_id, event_id, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
      |  FROM events) WHERE rn <= 3""".stripMargin,
  ) { (spark, dir) =>
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id"))))
      .filter(col("rn") <= 3)
      .select("user_id", "event_id", "value")
  }

  /** Tumbling time window: Spark's window() grouping; the oracle states the
    * same bucketing as date_trunc.
    */
  val tumblingWindow: Op = Op(
    "q_tumbling_window",
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin,
  ) { (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  private def sessionizeSimple(ev: org.apache.spark.sql.DataFrame) =
    graft.api.GraftApi.sessionize(ev,
        key = "user_id", time = "ts", tiebreak = "event_id", gapMs = 30L * 60 * 1000)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"), max(col("event_id")).as("last_event"))

  private def sessionizeBlocksForm(ev: org.apache.spark.sql.DataFrame) =
    graft.api.GraftApi.sessionizeBlocks(ev,
        key = "user_id", time = "ts", tiebreak = "event_id",
        gapMs = 30L * 60 * 1000, blockMs = 6L * 3600 * 1000)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"), max(col("event_id")).as("last_event"))

  /** Gap-based sessionization in batch: lag → new-session flag → running
    * sum as session id → per-session aggregate. (Streaming variant uses
    * session_window/flatMapGroupsWithState — see graft.streaming.)
    *
    * Registered default is skew-adaptive (see [[windowRunning]]): the
    * single-window form measured 162.7 s at skew-1000x against the block
    * form's ~17 s; past the hot-key bound [[sessionizeBlocksOp]]'s
    * (user, 6h-block) plan runs instead.
    */
  val sessionize: Op = Op(
    "q_sessionize",
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |           OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              > INTERVAL '30 minutes'
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |sessions AS (
      |  SELECT user_id, event_id,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                           ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |  COUNT(*) AS n_events, MIN(event_id) AS first_event, MAX(event_id) AS last_event
      |FROM sessions GROUP BY user_id, session_id""".stripMargin,
  ) { (spark, dir) =>
    graft.api.GraftApi.skewAdaptive(
      Tables.events(spark, dir).select(col("user_id"), col("ts"), col("event_id")),
      "user_id")(sessionizeSimple)(sessionizeBlocksForm)
  }

  /** Same semantics (and the same oracle) as [[sessionize]], executed by
    * the skew-safe block formulation [[graft.api.GraftApi.sessionizeBlocks]]:
    * the per-row pass partitions on (user, 6h block) so a hot user's
    * history sessionizes in parallel instead of one straggler task —
    * the formulation that survives a bot-heavy 100 TB event log. Result
    * equality with the single-window form is property-pinned
    * (PropertySpec) and both run against the identical DuckDB oracle.
    */
  val sessionizeBlocksOp: Op = Op(
    "q_sessionize_blocks",
    sessionize.oracle.get,
  ) { (spark, dir) =>
    sessionizeBlocksForm(Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id")))
  }

  /** Same semantics as q_window_rank but executed by the custom
    * whole-operator plan (graft.plans.TopKPerKeyExec: bounded heap per
    * key, no per-group sort) — the custom physical operator goes through
    * the same DuckDB oracle gate as everything else.
    */
  val topKPerKeyOp: Op = Op(
    "q_topk_per_key",
    """SELECT user_id, event_id, value FROM (
      |  SELECT user_id, event_id, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
      |  FROM events) WHERE rn <= 3""".stripMargin,
  ) { (spark, dir) =>
    graft.api.GraftApi.topKPerKey(Tables.events(spark, dir),
        "user_id", "value", "event_id", k = 3)
      .select("user_id", "event_id", "value")
  }

  private def slidingSimple(ev: org.apache.spark.sql.DataFrame) = {
    // Dataset window instead of a temp view + SQL string (session-global
    // view registration races under concurrent queries). RANGE frame over
    // unix_micros(ts) ≡ INTERVAL 10 MINUTES PRECEDING at the engines'
    // shared micros precision, ties (equal ts) wholly included.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(ValueWindows.micros)
      .rangeBetween(-ValueWindows.slidingWidthUs, Window.currentRow)
    ev.select(col("event_id"), col("user_id"),
      sum(ValueWindows.cents).over(w)
        .cast("double").as("sum_10m"))
  }

  private def slidingBlocks(ev: org.apache.spark.sql.DataFrame) =
    // blockUs = widthUs (the legal minimum): per-partition sort depth is
    // ~2 windows' rows — the knob that keeps a 900×-dense hot key's
    // (key, block) sorts shallow (1h blocks measured ~2× uniform cpu at
    // skew-1000x from sort depth alone; width-sized blocks erase it)
    ValueWindows.sliding(graft.api.GraftApi.trailingRangeBlocks(
      ev.select(col("event_id"), col("user_id"), col("ts"),
        ValueWindows.cents.as("v")),
      "user_id", "ts", col("v"), widthUs = ValueWindows.slidingWidthUs,
      blockUs = ValueWindows.slidingWidthUs))

  /** Sliding event-time window: RANGE frame over the timestamp — frame
    * membership is defined by ts VALUES (ties wholly included), so the
    * result is deterministic without a tiebreak; sums stay decimal.
    *
    * Registered default is skew-adaptive (see [[windowRunning]]): the
    * simple RANGE window was the worst straggler of the six (×20.8 wall /
    * task-skew 579 at skew-1000x); past the hot-key bound the
    * [[slidingWindowBlocks]] plan runs instead.
    */
  val slidingWindow: Op = Op(
    "q_window_sliding",
    """SELECT event_id, user_id,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER
      |    (PARTITION BY user_id ORDER BY ts
      |     RANGE BETWEEN INTERVAL '10 minutes' PRECEDING AND CURRENT ROW)
      |    AS DOUBLE) AS sum_10m
      |FROM events""".stripMargin,
  ) { (spark, dir) =>
    graft.api.GraftApi.skewAdaptive(
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("value")),
      "user_id")(slidingSimple)(slidingBlocks)
  }

  /** PIVOT to wide schema: per-user event-type value sums as columns —
    * the long→wide projection feature pipelines run before model joins.
    * Pivot values are ENUMERATED (the 5 known types), which is the
    * at-scale form: an unenumerated pivot needs a blocking distinct scan
    * to discover the schema before planning. One partial-agg shuffle;
    * decimal-exact sums; absent combinations surface as 0, not null.
    */
  val pivotWide: Op = Op(
    "q_pivot_wide",
    """SELECT user_id,
      |  CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(12,2)) END), 0) AS DOUBLE) AS click,
      |  CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(12,2)) END), 0) AS DOUBLE) AS error,
      |  CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(12,2)) END), 0) AS DOUBLE) AS purchase,
      |  CAST(COALESCE(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(12,2)) END), 0) AS DOUBLE) AS signup,
      |  CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(12,2)) END), 0) AS DOUBLE) AS view
      |FROM events GROUP BY user_id""".stripMargin,
  ) { (spark, dir) =>
    val types = Seq("click", "error", "purchase", "signup", "view")
    val wide = Tables.events(spark, dir)
      .groupBy("user_id")
      .pivot("event_type", types)
      .agg(sum(col("value").cast("decimal(12,2)")))
    wide.select(col("user_id") +:
      types.map(t => coalesce(col(t), lit(0)).cast("double").as(t)): _*)
  }

  /** UNPIVOT (melt) back to long form — the inverse projection, via
    * Spark's native `unpivot` (an Expand node: each input row emits its
    * 5 type rows map-side, no join and no shuffle beyond the pivot's
    * own aggregate). The oracle enumerates user×type combinations so the
    * absent-combination-as-0 rows match exactly.
    */
  val unpivotLong: Op = Op(
    "q_unpivot_long",
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |t AS (SELECT unnest(['click','error','purchase','signup','view']) AS event_type),
      |s AS (SELECT user_id, event_type, SUM(CAST(value AS DECIMAL(12,2))) AS sv
      |      FROM events GROUP BY 1, 2)
      |SELECT u.user_id, t.event_type, CAST(COALESCE(s.sv, 0) AS DOUBLE) AS sum_value
      |FROM u CROSS JOIN t
      |LEFT JOIN s ON s.user_id = u.user_id AND s.event_type = t.event_type""".stripMargin,
  ) { (spark, dir) =>
    val types = Seq("click", "error", "purchase", "signup", "view")
    pivotWide.fn(spark, dir).unpivot(
      Array(col("user_id")), types.map(col).toArray, "event_type", "sum_value")
  }

  /** Exact interpolated percentiles (both engines: linear interpolation
    * over the sorted values — same formula, bit-identical on these
    * integral quantities).
    */
  val percentiles: Op = Op(
    "q_percentile",
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.5) AS median_qty,
      |  quantile_cont(l_quantity, 0.95) AS p95_qty
      |FROM lineitem GROUP BY l_returnflag""".stripMargin,
  ) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_quantity, 0.95)").as("p95_qty"))
  }

  private def ntileSimple(ev: org.apache.spark.sql.DataFrame) = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("value"), col("event_id"))
    ev.select(
      col("event_id"), col("user_id"),
      ntile(4).over(w).as("quartile"),
      cume_dist().over(w).as("cdist"))
  }

  private def ntileBlocks(ev: org.apache.spark.sql.DataFrame) = {
    val ranked = graft.api.GraftApi.valueRankBlocks(
      ev.select(col("event_id"), col("user_id"), col("value")),
      "user_id", "value", "event_id")
    val r = col("key_rank")
    val bigBuckets = (expr("key_n div 4") + 1) * pmod(col("key_n"), lit(4L))
    val quartile = when(r <= bigBuckets,
        expr("(key_rank - 1) div (key_n div 4 + 1) + 1"))
      .otherwise(pmod(col("key_n"), lit(4L)) +
        expr("(key_rank - (key_n div 4 + 1) * (key_n % 4) - 1) div (key_n div 4) + 1"))
    ranked.select(col("event_id"), col("user_id"),
      quartile.cast("int").as("quartile"),
      (r.cast("double") / col("key_n").cast("double")).as("cdist"))
  }

  /** Distribution-position window functions: ntile buckets + cumulative
    * distribution, deterministic because the ordering (value, event_id)
    * is total.
    *
    * Registered default is skew-adaptive (see [[windowRunning]]): the
    * per-key value sort measured ×18.9 wall / task-skew 870 at
    * skew-1000x; past the hot-key bound the [[windowNtileBlocks]]
    * value-range-bin plan runs instead.
    */
  val windowNtile: Op = Op(
    "q_window_ntile",
    """SELECT event_id, user_id,
      |  NTILE(4) OVER w AS quartile,
      |  CUME_DIST() OVER w AS cdist
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY value NULLS FIRST, event_id)""".stripMargin,
  ) { (spark, dir) =>
    graft.api.GraftApi.skewAdaptive(
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("value")),
      "user_id")(ntileSimple)(ntileBlocks)
  }

  /** Pearson correlation decomposed into EXACT integer sums — the
    * at-scale pattern for non-associative statistics: a direct corr()
    * accumulates doubles in partition order (answers drift run to run on
    * a cluster); decomposing into Σx, Σy, Σxy, Σx², Σy² over exact
    * integers makes every partial exact and associative, with ONE final
    * double formula evaluated identically everywhere. Inputs are
    * quantity (integral) and discount cents, so all sums fit long with
    * orders of magnitude to spare.
    */
  val corrExact: Op = Op(
    "q_corr_exact",
    """SELECT l_returnflag,
      |  (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
      |    (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
      |     sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) AS corr_qty_disc,
      |  n
      |FROM (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    SUM(q) AS sx, SUM(d) AS sy, SUM(q * d) AS sxy,
      |    SUM(q * q) AS sxx, SUM(d * d) AS syy
      |  FROM (SELECT l_returnflag, CAST(round(l_quantity) AS BIGINT) AS q,
      |               CAST(round(l_discount * 100) AS BIGINT) AS d
      |        FROM lineitem)
      |  GROUP BY l_returnflag)""".stripMargin,
  ) { (spark, dir) =>
    val q = round(col("l_quantity")).cast("long")
    val d = round(col("l_discount") * 100).cast("long")
    val base = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), q.as("q"), d.as("d"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("q")).as("sx"), sum(col("d")).as("sy"),
        sum(col("q") * col("d")).as("sxy"),
        sum(col("q") * col("q")).as("sxx"),
        sum(col("d") * col("d")).as("syy"))
    val nD = col("n").cast("double")
    base.select(col("l_returnflag"),
      ((nD * col("sxy") - col("sx").cast("double") * col("sy")) /
        (sqrt(nD * col("sxx") - col("sx").cast("double") * col("sx")) *
         sqrt(nD * col("syy") - col("sy").cast("double") * col("sy"))))
        .as("corr_qty_disc"),
      col("n"))
  }

  /** [[windowRunning]]'s hot-key-safe twin via
    * [[graft.api.GraftApi.runningSumBlocks]] — the carry-of-partial-
    * aggregates variant of the blocks discipline: running sums are
    * associative, so the cross-block prefix folds through ONE partials
    * row (Σ value, count) per (user, hour-block) instead of one task
    * sorting the hot user's whole history (simple form ×11.7 wall /
    * task-skew 248 at skew-1000x, cpu flat). Decimal sums stay
    * decimal-exact; same oracle verbatim.
    */
  val windowRunningBlocks: Op = Op(
    "q_window_running_blocks",
    windowRunning.oracle.get,
  ) { (spark, dir) => runningBlocks(Tables.events(spark, dir)) }

  /** [[slidingWindow]]'s hot-key-safe twin via
    * [[graft.api.GraftApi.trailingRangeBlocks]]: with block ≥ window
    * width, a row's trailing 10-minute RANGE frame spans at most its own
    * and the previous hour-block, so each row ships twice and the RANGE
    * window runs per (user, block) — task work ≤ 2 blocks' rows at any
    * skew (the simple form was the worst straggler of the six: ×20.8
    * wall / task-skew 579 at skew-1000x). Same oracle verbatim.
    */
  val slidingWindowBlocks: Op = Op(
    "q_window_sliding_blocks",
    slidingWindow.oracle.get,
  ) { (spark, dir) => slidingBlocks(Tables.events(spark, dir)) }

  /** [[windowNtile]]'s hot-key-safe twin via
    * [[graft.api.GraftApi.valueRankBlocks]]: NTILE and CUME_DIST are pure
    * functions of (rank, key count) under a total order, so the global
    * per-key rank is assembled from value-range bins — block-local
    * row_number + lower-bin count offsets (the sessionizeBlocks idiom
    * along the VALUE axis, since ordering by value defeats time blocks).
    * Simple form: ×18.9 wall / task-skew 870 at skew-1000x. Same oracle
    * verbatim; the quartile arithmetic is the standard NTILE fill
    * (first n mod 4 buckets get ⌈n/4⌉).
    */
  val windowNtileBlocks: Op = Op(
    "q_window_ntile_blocks",
    windowNtile.oracle.get,
  ) { (spark, dir) => ntileBlocks(Tables.events(spark, dir)) }

  val ops: Seq[Op] =
    Seq(windowRunning, windowRank, tumblingWindow, sessionize,
      sessionizeBlocksOp, topKPerKeyOp,
      slidingWindow, percentiles, windowNtile, corrExact, pivotWide, unpivotLong,
      windowRunningBlocks, slidingWindowBlocks, windowNtileBlocks)
}
