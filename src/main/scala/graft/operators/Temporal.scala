package graft.operators

import graft.{Op, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators Spark has no dedicated node for — as-of joins
  * and bounded range (interval) joins — built as scale-safe compositions,
  * the tier-(a) path of the extension ladder (SURVEY §2): both plans are
  * single keyed shuffles, never an inequality-only join that would
  * degenerate to a broadcast-nested-loop over the fact table.
  *
  * Reference analog: SQuOpt's optimizer turns filtered cross products
  * into keyed joins (Optimization.scala:211 cartProdToJoin); these
  * operators apply the same discipline to time predicates, which Catalyst
  * alone does NOT convert (a pure inequality join plans as BNL).
  */
object Temporal {

  /** As-of join: for every purchase event, the same user's most recent
    * click at-or-before it (ties on ts broken by the larger click id —
    * the window-function null/tie placement, stated explicitly in the
    * oracle).
    *
    * Implementation is the union-of-sides trick: tag click/purchase rows,
    * sort within user by (ts, side, id), and carry the last non-null
    * click id forward — ONE shuffle on user_id, no join at all, O(n log n)
    * per partition regardless of how many clicks precede each purchase.
    * The naive correlated-subquery formulation (the oracle) would be a
    * per-row rescan; an inequality join would be quadratic in the hot
    * user's history at 100 TB.
    */
  private def asofSimple(ev: org.apache.spark.sql.DataFrame) = {
    val (purchases, clicks) = asofSides(ev)
    ValueWindows.asof(graft.api.GraftApi.asofJoin(purchases, clicks,
      key = "user_id", leftTime = "ts", rightTime = "ts", payload = "event_id"))
  }

  private def asofBlocks(ev: org.apache.spark.sql.DataFrame) = {
    val (purchases, clicks) = asofSides(ev)
    ValueWindows.asof(graft.api.GraftApi.asofJoinBlocks(purchases, clicks,
      key = "user_id", leftTime = "ts", rightTime = "ts",
      payload = "event_id", blockMs = 6L * 3600 * 1000))
  }

  private def asofSides(ev: org.apache.spark.sql.DataFrame) =
    (ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts"),
      ev.filter(col("event_type") === "click").select("event_id", "user_id", "ts"))

  /** As-of join: for every purchase event, the same user's most recent
    * click at-or-before it — see [[asofSimple]] for the union-of-sides
    * single-shuffle shape (no join, no per-row rescan).
    *
    * Registered default is skew-adaptive ([[graft.api.GraftApi
    * .skewAdaptive]]): the probe reads the hottest user's row count over
    * the whole log (both sides of the as-of come from it) and picks the
    * single-pass carry (organic keys) or [[asofJoinBlocksOp]]'s
    * boundary-merged block plan (×6.4 wall / task-skew 218 at skew-1000x
    * for the simple form on a bot-grade key).
    */
  val asofJoin: Op = Op(
    "q_asof_join",
    """SELECT p.event_id, p.user_id,
      |  (SELECT c.event_id FROM events c
      |   WHERE c.user_id = p.user_id AND c.event_type = 'click'
      |     AND c.ts <= p.ts
      |   ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS click_id
      |FROM events p WHERE p.event_type = 'purchase'""".stripMargin,
  ) { (spark, dir) =>
    graft.api.GraftApi.skewAdaptive(
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type")),
      "user_id")(asofSimple)(asofBlocks)
  }

  /** Bounded range (interval) join: purchases within 30 minutes after a
    * signup by the same user. The bound is what makes it scale: both
    * sides are binned to 30-minute buckets, the signup side is exploded
    * to the (at most 2) buckets its window overlaps, and the join runs as
    * an EQUI-join on (user_id, bucket) with the exact range predicate as
    * a post-filter — shuffle is keyed, candidate sets are bucket-local.
    * Catalyst would otherwise plan the raw inequality as a nested-loop.
    */
  val rangeJoin: Op = Op(
    "q_range_join",
    """SELECT s.event_id AS signup_id, p.event_id AS purchase_id,
      |  epoch_ms(p.ts) - epoch_ms(s.ts) AS delay_ms
      |FROM events s JOIN events p
      |  ON s.user_id = p.user_id
      | AND s.event_type = 'signup' AND p.event_type = 'purchase'
      | AND epoch_ms(p.ts) >= epoch_ms(s.ts)
      | AND epoch_ms(p.ts) <= epoch_ms(s.ts) + 1800000""".stripMargin,
  ) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("signup_id"), col("ts").as("s_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    graft.api.GraftApi.rangeJoin(signups, purchases,
        leftKey = "user_id", rightKey = "p_user",
        leftTime = "s_ts", rightTime = "p_ts",
        lowerMs = 0L, upperMs = 30L * 60 * 1000)
      .select(col("signup_id"), col("purchase_id"),
        (unix_millis(col("p_ts").cast("timestamp")) -
          unix_millis(col("s_ts").cast("timestamp"))).as("delay_ms"))
  }

  /** [[rangeJoin]] with the house OUTPUT cap: only each signup's k=4
    * earliest in-window purchases (smallest ms delay, ties by purchase
    * id) survive — via [[graft.api.GraftApi.rangeJoinEarliestK]], the
    * rank-composition with NO quadratic stage: purchases ranked per
    * user by blocks, each signup's first in-window rank found by a
    * strict as-of carry, candidates fetched by an equi-join on
    * (user, rank..rank+3). Range-join output is quadratic in
    * per-(key, window) co-occurrence BY SEMANTICS; when the consumer
    * wants "the matches", not "all pairs", this is the 100 TB-safe
    * face — work O(|signups|·4 + |purchases|), output |signups|·4 at
    * any key heat, and unlike a pair-join → top-k shape, no stage ever
    * materializes, exchanges, or sorts a hot key's pair set (that
    * shape measured a ~35 GB spill and disk-full death at skew-300x).
    * The uncapped op's fail-fast maxPairs contract points here.
    */
  val rangeJoinCappedOp: Op = Op(
    "q_range_join_capped",
    """SELECT signup_id, purchase_id, delay_ms FROM (
      |  SELECT s.event_id AS signup_id, p.event_id AS purchase_id,
      |    epoch_ms(p.ts) - epoch_ms(s.ts) AS delay_ms,
      |    ROW_NUMBER() OVER (PARTITION BY s.event_id
      |      ORDER BY epoch_ms(p.ts) - epoch_ms(s.ts), p.event_id) AS rn
      |  FROM events s JOIN events p
      |    ON s.user_id = p.user_id
      |   AND s.event_type = 'signup' AND p.event_type = 'purchase'
      |   AND epoch_ms(p.ts) >= epoch_ms(s.ts)
      |   AND epoch_ms(p.ts) <= epoch_ms(s.ts) + 1800000)
      |WHERE rn <= 4""".stripMargin,
  ) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("signup_id"), col("ts").as("s_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    // the Auto face: one pair-estimate probe picks the cheap pair-join
    // plan on organic co-occurrence (the gate corpus) and the
    // no-quadratic-stage rank composition past the bound (the skew
    // smokes) — both branches artifact-covered, results identical
    graft.api.GraftApi.rangeJoinEarliestKAuto(signups, purchases,
      leftKey = "user_id", rightKey = "p_user",
      leftTime = "s_ts", rightTime = "p_ts",
      leftId = "signup_id", rightId = "purchase_id",
      windowMs = 30L * 60 * 1000, k = 4)
  }

  private def leadLagSimple(ev: org.apache.spark.sql.DataFrame) = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.select(
      col("event_id"), col("user_id"),
      lag(col("event_id"), 1).over(w).as("prev_event_id"),
      (unix_millis(col("ts").cast("timestamp")) -
        unix_millis(lag(col("ts"), 1).over(w).cast("timestamp"))).as("gap_ms"),
      lead(col("event_id"), 1).over(w).as("next_event_id"))
  }

  private def leadLagBlocksForm(ev: org.apache.spark.sql.DataFrame) = {
    val lagged = graft.api.GraftApi.rowLagsBlocks(
      ev.select(col("user_id"), col("ts"), col("event_id")),
      "user_id", "ts", "event_id",
      struct(col("event_id").as("eid"),
        unix_millis(col("ts").cast("timestamp")).as("tms")),
      depth = 1, leads = 1)
    lagged.select(col("event_id"), col("user_id"),
      col("lag_1.eid").as("prev_event_id"),
      (col("value.tms") - col("lag_1.tms")).as("gap_ms"),
      col("lead_1.eid").as("next_event_id"))
  }

  /** lead/lag deltas (IncrementalResult's per-update delta view, batch
    * face): previous event id and millisecond gap per user timeline.
    *
    * Registered default is skew-adaptive (see [[asofJoin]]): past the
    * hot-key bound the [[leadLagBlocks]] plan runs (simple form ×10.3
    * wall / task-skew 395 at skew-1000x).
    */
  val leadLag: Op = Op(
    "q_lead_lag",
    """SELECT event_id, user_id,
      |  LAG(event_id) OVER w AS prev_event_id,
      |  epoch_ms(ts) - epoch_ms(LAG(ts) OVER w) AS gap_ms,
      |  LEAD(event_id) OVER w AS next_event_id
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,
  ) { (spark, dir) =>
    graft.api.GraftApi.skewAdaptive(
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("ts")),
      "user_id")(leadLagSimple)(leadLagBlocksForm)
  }

  /** Calendar-part extraction + per-month rollup: the date scalar surface
    * (year/month/day arithmetic) with a deterministic grouped count.
    */
  val dateParts: Op = Op(
    "q_date_parts",
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS y,
      |  CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS m,
      |  COUNT(*) AS n,
      |  CAST(MIN(EXTRACT(day FROM o_orderdate)) AS INTEGER) AS first_day
      |FROM orders GROUP BY 1, 2""".stripMargin,
  ) { (spark, dir) =>
    Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n"),
        min(dayofmonth(col("o_orderdate"))).as("first_day"))
  }

  /** Time-bucket resampling with gap fill: every user's timeline becomes
    * a dense hourly spine between their first and last observation; empty
    * buckets carry the last observed value forward (the feature-
    * engineering resample every timeseries pipeline runs). The spine is
    * generated per key from that key's own range — never a global
    * calendar cross join — and the carry-forward is one keyed window
    * pass, so the cost is O(observed range), not O(corpus × calendar).
    * Bucket arithmetic is integer micros division; the per-bucket
    * reduction (max) and the carry-forward are order-insensitive, so the
    * result is engine-exact.
    */
  val timeResample: Op = Op(
    "q_time_resample",
    """WITH b AS (SELECT user_id, epoch_us(ts)//3600000000 AS bkt, value FROM events),
      |rng AS (SELECT user_id, min(bkt) AS lo, max(bkt) AS hi FROM b GROUP BY user_id),
      |spine AS (SELECT user_id, unnest(generate_series(lo, hi)) AS bkt FROM rng),
      |obs AS (SELECT user_id, bkt, COUNT(*) AS n_obs, MAX(value) AS vmax
      |        FROM b GROUP BY user_id, bkt)
      |SELECT s.user_id,
      |  make_timestamp(s.bkt * 3600000000) AS hour_start,
      |  CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs,
      |  LAST_VALUE(o.vmax IGNORE NULLS) OVER (PARTITION BY s.user_id ORDER BY s.bkt
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
      |FROM spine s LEFT JOIN obs o ON o.user_id = s.user_id AND o.bkt = s.bkt""".stripMargin,
  ) { (spark, dir) =>
    // Round-4 shape: no dense spine join. The old formulation exploded a
    // per-user hour spine, LEFT-joined the observations back onto it, and
    // ran the fill window over the DENSE spine — the window sort carried
    // users×hours rows (the registry's peak-memory outlier, 113 MB tasks
    // at sf0.1). Instead: aggregate observations once, run the fill +
    // lead window over the (sparse) observed hours only, then explode
    // each observation's gap range [bkt, next_bkt) with its forward-
    // filled value. Same result (oracle unchanged — it still spells the
    // spine formulation); the sort/exchange now scale with observed
    // hours, not calendar hours, and the join is gone entirely.
    val b = Tables.events(spark, dir).select(col("user_id"),
      expr("unix_micros(cast(ts as timestamp)) div 3600000000").as("bkt"),
      col("value"))
    val obs = b.groupBy("user_id", "bkt")
      .agg(count(lit(1)).as("n_obs"), max(col("value")).as("vmax"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("bkt"))
    val filled = obs.select(col("user_id"), col("bkt"), col("n_obs"),
      last(col("vmax"), ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .as("filled_value"),
      lead(col("bkt"), 1).over(w).as("nxt"))
    // gap range is never descending: nxt > bkt within a user, and the
    // last observation coalesces to its own bkt (sequence() would happily
    // DESCEND on an inverted range — see q_time_resample's oracle notes)
    filled
      .select(col("user_id"), col("bkt"), col("n_obs"), col("filled_value"),
        explode(sequence(col("bkt"), coalesce(col("nxt") - 1, col("bkt"))))
          .as("hour_bkt"))
      .select(col("user_id"),
        timestamp_micros(col("hour_bkt") * 3600000000L).as("hour_start"),
        when(col("hour_bkt") === col("bkt"), col("n_obs")).otherwise(lit(0L))
          .as("n_obs"),
        col("filled_value"))
  }

  private def burstSimple(ev: org.apache.spark.sql.DataFrame) = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(ValueWindows.micros)
      .rangeBetween(-ValueWindows.burstWidthUs, Window.currentRow)
    ev.select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_5m"))
      .withColumn("burst", ValueWindows.burstFlag)
  }

  private def burstBlocks(ev: org.apache.spark.sql.DataFrame) =
    // blockUs = widthUs — width-sized blocks keep a hot key's per-
    // partition sort depth at ~2 windows' rows (see the sliding twin)
    ValueWindows.burst(graft.api.GraftApi.trailingRangeBlocks(
      ev.select(col("event_id"), col("user_id"), col("ts")),
      "user_id", "ts", lit(1L), widthUs = ValueWindows.burstWidthUs,
      blockUs = ValueWindows.burstWidthUs))

  /** Burst detection (bot/scraper signal for training-data curation):
    * events per user in the trailing 5 minutes via a RANGE window over
    * integer micros — ties included by value, so no tiebreak is needed
    * for determinism — flagged when the trailing count exceeds the
    * threshold. One keyed window pass, integer arithmetic end to end.
    *
    * Registered default is skew-adaptive (see [[asofJoin]]): past the
    * hot-key bound the [[burstDetectBlocks]] plan runs (simple form
    * ×11.0 wall / task-skew 302 at skew-1000x — and a bot-grade key is
    * exactly what this op exists to flag).
    */
  val burstDetect: Op = Op(
    "q_burst_detect",
    """SELECT event_id, user_id,
      |  CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
      |    RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_5m,
      |  CAST(CASE WHEN COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
      |    RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW) > 10
      |    THEN 1 ELSE 0 END AS BIGINT) AS burst
      |FROM events""".stripMargin,
  ) { (spark, dir) =>
    graft.api.GraftApi.skewAdaptive(
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("ts")),
      "user_id")(burstSimple)(burstBlocks)
  }

  /** Ordered funnel conversion over the event log: per user — a view,
    * then a click STRICTLY AFTER the first view, then a purchase
    * strictly after that first qualifying click. Stage order matters
    * (presence alone is not conversion), which is what separates a
    * funnel from three independent filters.
    *
    * Scale shape: three keyed MIN aggregations and co-partitioned
    * user_id joins — every shuffle keys on user_id so the partitioning
    * is reused end to end; the raw log only ever streams through
    * aggregates (no event collects, no log-wide windows).
    */
  val funnel: Op = Op(
    "q_funnel_conversion",
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |v AS (SELECT user_id, MIN(ts) AS tv, 1 AS hit FROM events
      |      WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, MIN(e.ts) AS tc, 1 AS hit FROM events e
      |      JOIN v ON v.user_id IS NOT DISTINCT FROM e.user_id
      |      WHERE e.event_type = 'click' AND e.ts > v.tv GROUP BY e.user_id),
      |p AS (SELECT e.user_id, MIN(e.ts) AS tp, 1 AS hit FROM events e
      |      JOIN c ON c.user_id IS NOT DISTINCT FROM e.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > c.tc GROUP BY e.user_id)
      |SELECT u.user_id,
      |  CAST(CASE WHEN v.hit IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS did_view,
      |  CAST(CASE WHEN c.hit IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS did_click,
      |  CAST(CASE WHEN p.hit IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS did_purchase
      |FROM u LEFT JOIN v ON v.user_id IS NOT DISTINCT FROM u.user_id
      |       LEFT JOIN c ON c.user_id IS NOT DISTINCT FROM u.user_id
      |       LEFT JOIN p ON p.user_id IS NOT DISTINCT FROM u.user_id""".stripMargin,
  ) { (spark, dir) =>
    graft.api.GraftApi.funnel(Tables.events(spark, dir),
      "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
  }

  /** Cohort retention: users grouped by first-seen DAY, activity counted
    * per whole-week offset from that day — the (cohort × week) matrix
    * every growth dashboard draws. Two keyed aggregations + one
    * co-partitioned user join; counts are exact longs, the cohort key is
    * an ISO date string (identical rendering in both engines).
    */
  val retentionCohort: Op = Op(
    "q_retention_cohort",
    """WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort
      |           FROM events GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
      |SELECT CAST(f.cohort AS VARCHAR) AS cohort_day,
      |  CAST(date_diff('day', f.cohort, a.d) // 7 AS BIGINT) AS week_offset,
      |  COUNT(DISTINCT a.user_id)
      |    + MAX(CASE WHEN a.user_id IS NULL THEN 1 ELSE 0 END) AS n_active
      |FROM a JOIN f ON f.user_id IS NOT DISTINCT FROM a.user_id
      |GROUP BY 1, 2""".stripMargin,
  ) { (spark, dir) =>
    val ev = graft.CacheRegistry.track(Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct())
    val f = ev.groupBy("user_id").agg(min(col("d")).as("cohort"))
    // <=> + null-subject count term (the funnel convention): the NULL
    // user is its own cohort subject — === would drop it from the matrix
    // entirely, and COUNT(DISTINCT) alone would count it as zero
    ev.join(f.withColumnRenamed("user_id", "fu"), col("user_id") <=> col("fu"))
      .groupBy(col("cohort").cast("string").as("cohort_day"),
        expr("cast(datediff(d, cohort) div 7 as bigint)").as("week_offset"))
      .agg((countDistinct(col("user_id")) +
        max(when(col("user_id").isNull, 1L).otherwise(0L))).as("n_active"))
  }

  /** Exponentially-weighted moving average of each user's event values —
    * the smoothing/feature-engineering primitive every timeseries
    * pipeline carries (α = 0.25 over the trailing 8 observations).
    *
    * Exactness discipline: the float recurrence `e = αx + (1−α)e` is
    * partial-order dependent, so the weights are PRECOMPUTED integer
    * micro-units (round(10^6·0.75^d), literal constants identical in
    * both engines), values are floored to integer milli-units, and the
    * EWMA is one integer division of two exact long sums — bit-identical
    * across engines and partitionings. Shape: 8 lag() reads over ONE
    * (user, time)-keyed window pass — a single keyed shuffle, each
    * partition sorted once, O(1) state per row; no self-join, no
    * per-row frame re-scan.
    *
    * Registered default is skew-adaptive (see [[asofJoin]]): past the
    * hot-key bound the [[windowEwmaBlocks]] plan runs (the simple form
    * measured 236 s / one 527x straggler task at skew-1000x).
    */
  val windowEwma: Op = Op(
    "q_window_ewma",
    """SELECT event_id, user_id, x_milli,
      |  ( CASE WHEN x_milli IS NULL THEN 0 ELSE w0*x_milli END
      |  + CASE WHEN x1 IS NULL THEN 0 ELSE w1*x1 END
      |  + CASE WHEN x2 IS NULL THEN 0 ELSE w2*x2 END
      |  + CASE WHEN x3 IS NULL THEN 0 ELSE w3*x3 END
      |  + CASE WHEN x4 IS NULL THEN 0 ELSE w4*x4 END
      |  + CASE WHEN x5 IS NULL THEN 0 ELSE w5*x5 END
      |  + CASE WHEN x6 IS NULL THEN 0 ELSE w6*x6 END
      |  + CASE WHEN x7 IS NULL THEN 0 ELSE w7*x7 END)
      |  //
      |  NULLIF( CASE WHEN x_milli IS NULL THEN 0 ELSE w0 END
      |  + CASE WHEN x1 IS NULL THEN 0 ELSE w1 END
      |  + CASE WHEN x2 IS NULL THEN 0 ELSE w2 END
      |  + CASE WHEN x3 IS NULL THEN 0 ELSE w3 END
      |  + CASE WHEN x4 IS NULL THEN 0 ELSE w4 END
      |  + CASE WHEN x5 IS NULL THEN 0 ELSE w5 END
      |  + CASE WHEN x6 IS NULL THEN 0 ELSE w6 END
      |  + CASE WHEN x7 IS NULL THEN 0 ELSE w7 END, 0) AS ewma_milli
      |FROM (SELECT event_id, user_id,
      |    CAST(floor(value * 1000) AS BIGINT) AS x_milli,
      |    LAG(CAST(floor(value * 1000) AS BIGINT), 1) OVER w AS x1,
      |    LAG(CAST(floor(value * 1000) AS BIGINT), 2) OVER w AS x2,
      |    LAG(CAST(floor(value * 1000) AS BIGINT), 3) OVER w AS x3,
      |    LAG(CAST(floor(value * 1000) AS BIGINT), 4) OVER w AS x4,
      |    LAG(CAST(floor(value * 1000) AS BIGINT), 5) OVER w AS x5,
      |    LAG(CAST(floor(value * 1000) AS BIGINT), 6) OVER w AS x6,
      |    LAG(CAST(floor(value * 1000) AS BIGINT), 7) OVER w AS x7
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |  (SELECT 1000000 AS w0, 750000 AS w1, 562500 AS w2, 421875 AS w3,
      |          316406 AS w4, 237305 AS w5, 177979 AS w6, 133484 AS w7)""".stripMargin,
  ) { (spark, dir) =>
    graft.api.GraftApi.skewAdaptive(
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("value")),
      "user_id")(ewmaSimple)(ewmaBlocksForm)
  }

  private def ewmaSimple(ev: org.apache.spark.sql.DataFrame) = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val x = ValueWindows.milli
    ValueWindows.ewma(ev,
      x +: (1 to ValueWindows.lagDepth).map(d => lag(x, d).over(w)))
  }

  private def ewmaBlocksForm(ev: org.apache.spark.sql.DataFrame) = {
    val lagged = graft.api.GraftApi.rowLagsBlocks(
      ev.select(col("user_id"), col("ts"), col("event_id"),
        ValueWindows.milli.as("xm")),
      "user_id", "ts", "event_id", col("xm"), depth = ValueWindows.lagDepth)
    ValueWindows.ewma(lagged,
      col("value") +: (1 to ValueWindows.lagDepth).map(d => col(s"lag_$d")))
  }

  /** Rolling z-score outlier flag — the anomaly gate of a metrics/
    * monitoring pipeline: an event is anomalous when its value sits more
    * than k=2 standard deviations from the trailing-window mean (its own
    * window of the previous 7 + current observation, n ≥ 4 required).
    *
    * Exactness discipline: |x−μ| > kσ is evaluated with both sides
    * squared and cross-multiplied into integers —
    * (n·x − s1)² > k²·(n·s2 − s1²) — over exact long window sums of
    * milli-scaled values; no sqrt, no float mean, no per-engine libm.
    * Shape: one (user, time)-keyed window pass, three running sums per
    * row, a single keyed shuffle — never a self-join against the frame.
    *
    * Registered default is skew-adaptive (see [[asofJoin]]): past the
    * hot-key bound the [[anomalyZscoreBlocks]] plan runs (the simple
    * form measured 211 s wall / one 206 s straggler task at skew-1000x
    * under the r11 single-era sweep).
    */
  val anomalyZscore: Op = Op(
    "q_anomaly_zscore",
    """SELECT event_id, user_id, x_milli, n_window,
      |  CAST(CASE WHEN n_window >= 4
      |    AND (n_window*x_milli - s1)*(n_window*x_milli - s1)
      |        > 4*(n_window*s2 - s1*s1)
      |    THEN 1 ELSE 0 END AS BIGINT) AS anomaly
      |FROM (SELECT event_id, user_id,
      |    CAST(floor(value * 1000) AS BIGINT) AS x_milli,
      |    SUM(CAST(floor(value * 1000) AS BIGINT)) OVER w AS s1,
      |    SUM(CAST(floor(value * 1000) AS BIGINT)
      |        * CAST(floor(value * 1000) AS BIGINT)) OVER w AS s2,
      |    COUNT(*) OVER w AS n_window
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))""".stripMargin,
  ) { (spark, dir) =>
    graft.api.GraftApi.skewAdaptive(
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("value")),
      "user_id")(zscoreSimple)(zscoreBlocksForm)
  }

  private def zscoreSimple(ev: org.apache.spark.sql.DataFrame) = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-ValueWindows.lagDepth, Window.currentRow)
    val x = ValueWindows.milli
    ValueWindows.anomaly(ev.select(col("event_id"), col("user_id"), x.as("x_milli"),
      sum(x).over(w).as("s1"), sum(x * x).over(w).as("s2"),
      count(lit(1)).over(w).as("n_window")))
  }

  /** [[windowEwma]]'s hot-key-safe twin — the q_sessionize_blocks
    * discipline applied to the windowed-lag family: the simple form's
    * single `PARTITION BY user` window puts a hot user's entire history
    * in one task (skew-1000x measured one 527x straggler task with a
    * 324 MB sort spill, cpu flat), while this form partitions by
    * (user, time-block) and seeds each block with the EXACT trailing-8
    * carry via [[graft.api.GraftApi.rowLagsBlocks]] — per-task work is
    * one block's rows + 7, at any key skew and any depth. Result
    * bit-identical to the simple form (same oracle, verbatim), proven
    * by the spec across sparse blocks where a naive one-block carry
    * breaks.
    */
  val windowEwmaBlocks: Op = Op(
    "q_window_ewma_blocks",
    windowEwma.oracle.get,
  ) { (spark, dir) => ewmaBlocksForm(Tables.events(spark, dir)) }

  /** [[anomalyZscore]]'s hot-key-safe twin: the trailing-8 window sums
    * (s1, s2, n) are algebra over the exact lag-1..7 values the
    * blocks-carry machinery provides, so the same
    * [[graft.api.GraftApi.rowLagsBlocks]] pass serves both twins — one
    * (user, block)-keyed shuffle, per-task work bounded by a block at
    * any skew. Same oracle as the simple form, verbatim.
    */
  val anomalyZscoreBlocks: Op = Op(
    "q_anomaly_zscore_blocks",
    anomalyZscore.oracle.get,
  ) { (spark, dir) =>
    zscoreBlocksForm(Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value")))
  }

  private def zscoreBlocksForm(ev: org.apache.spark.sql.DataFrame) =
    // the lag value rides as a one-field STRUCT so row PRESENCE and value
    // nullness stay distinguishable: the oracle's n_window is COUNT(*)
    // over the ROWS frame (rows with NULL x_milli count), and a bare
    // lag(x) is null for both "no row" and "row with null x" — the struct
    // wrapper is never null for a present row, so n counts rows exactly
    ValueWindows.anomalyOfLags(graft.api.GraftApi.rowLagsBlocks(
      ev.select(col("user_id"), col("ts"), col("event_id"),
        ValueWindows.milli.as("xm")),
      "user_id", "ts", "event_id", struct(col("xm").as("x")),
      depth = ValueWindows.lagDepth))

  /** [[leadLag]]'s hot-key-safe twin: prev/next event and gap from ONE
    * [[graft.api.GraftApi.rowLagsBlocks]] pass with depth = leads = 1 —
    * lead is the mirrored carry (next block heads), so a hot user's
    * timeline spreads over (user, hour-block) tasks instead of one
    * straggler (skew-1000x measured the simple form at ×10.3 wall,
    * task-skew 395, cpu flat). The (event_id, epoch-ms) pair rides as a
    * struct value; same oracle verbatim.
    */
  val leadLagBlocks: Op = Op(
    "q_lead_lag_blocks",
    leadLag.oracle.get,
  ) { (spark, dir) => leadLagBlocksForm(Tables.events(spark, dir)) }

  /** [[burstDetect]]'s hot-key-safe twin: the trailing 5-minute RANGE
    * count through [[graft.api.GraftApi.trailingRangeBlocks]] — each row
    * ships into its own and the next hour-block, the RANGE window runs
    * per (user, block), task work ≤ 2 blocks' rows at any skew (the
    * simple form measured ×11.0 wall / task-skew 302 at skew-1000x).
    * Same oracle verbatim.
    */
  val burstDetectBlocks: Op = Op(
    "q_burst_detect_blocks",
    burstDetect.oracle.get,
  ) { (spark, dir) => burstBlocks(Tables.events(spark, dir)) }

  /** [[asofJoin]]'s hot-key-safe twin via
    * [[graft.api.GraftApi.asofJoinBlocks]]: the union-of-sides carry-
    * forward runs per (user, 6h block) with a boundary-merged best-right
    * carry (the sessionize-blocks idiom), so a hot user's history spreads
    * instead of one task sorting it (simple form ×6.4 wall / task-skew
    * 218 at skew-1000x). Same oracle verbatim.
    */
  val asofJoinBlocksOp: Op = Op(
    "q_asof_join_blocks",
    asofJoin.oracle.get,
  ) { (spark, dir) => asofBlocks(Tables.events(spark, dir)) }

  val ops: Seq[Op] =
    Seq(asofJoin, rangeJoin, rangeJoinCappedOp, leadLag, dateParts,
      timeResample, burstDetect,
      funnel, retentionCohort, windowEwma, anomalyZscore,
      windowEwmaBlocks, anomalyZscoreBlocks,
      leadLagBlocks, burstDetectBlocks, asofJoinBlocksOp)
}
