package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The scoring rules of the windowed-value family, written once. The
  * simple and blocks batch forms ([[Temporal]], [[WindowOps]]) and the
  * streaming faces ([[graft.streaming.EventStreams]]) differ only in HOW
  * they assemble a row's window — a window function, a blocks carry, a
  * per-key state machine; every rule that turns the window into the
  * answer is one of these Columns or projections, so a fix to one form
  * is a fix to all three.
  */
object ValueWindows {

  /** `value` in integer milli-units — the oracles'
    * `CAST(floor(value * 1000) AS BIGINT)`.
    */
  val milli: Column = floor(col("value") * 1000).cast("long")

  /** `value` as exact cents: every windowed value sum runs on
    * decimal(12,2) (the cast rounds HALF_UP), so the accumulation order
    * cannot drift the answer.
    */
  val cents: Column = col("value").cast("decimal(12,2)")

  /** `ts` in integer micros — the RANGE frames' order key, the engines'
    * shared precision.
    */
  val micros: Column = unix_micros(col("ts").cast("timestamp"))

  /** Trailing rows behind the current one in the EWMA and z-score
    * windows (8 rows with the current).
    */
  val lagDepth = 7

  /** round(10^6 · 0.75^d), d = 0..7 — fixed literals, same in the oracle. */
  val ewmaWeights: Seq[Long] = Seq(1000000L, 750000L, 562500L, 421875L,
    316406L, 237305L, 177979L, 133484L)

  /** (event_id, user_id, x_milli, ewma_milli) of a frame whose `xs` are
    * the current milli value followed by its lags 1..7. A null slot adds
    * 0 to the numerator AND drops its weight from the denominator.
    */
  def ewma(df: DataFrame, xs: Seq[Column]): DataFrame = {
    val num = xs.zip(ewmaWeights).map { case (l, wt) =>
      when(l.isNull, 0L).otherwise(l * wt) }.reduce(_ + _)
    val den = xs.zip(ewmaWeights).map { case (l, wt) =>
      when(l.isNull, 0L).otherwise(wt) }.reduce(_ + _)
    df.select(col("event_id"), col("user_id"), xs.head.as("x_milli"),
        num.as("num"), den.as("den"))
      // SQL `div` is exact integer division truncating toward zero —
      // Column `/` would round-trip through a double whose nearest-
      // representable rounding can cross an integer boundary the true
      // quotient doesn't. NULLIF: a window that is ALL-null (a user's
      // first row carrying a null value) has den = 0 — under ANSI a bare
      // div would throw mid-scan; the defined answer is a null EWMA (no
      // observations to smooth), same NULLIF in the oracle.
      .select(col("event_id"), col("user_id"), col("x_milli"),
        expr("num div nullif(den, 0)").as("ewma_milli"))
  }

  /** The z-score gate over (x_milli, n_window, s1, s2): |x−μ| > 2σ with
    * both sides squared and cross-multiplied into exact integers,
    * (n·x − s1)² > 4·(n·s2 − s1²), n ≥ 4 required. A null x_milli nulls
    * the inequality → 0.
    */
  def anomaly(df: DataFrame): DataFrame =
    df.select(col("event_id"), col("user_id"), col("x_milli"), col("n_window"),
      when(col("n_window") >= 4 &&
        (col("n_window") * col("x_milli") - col("s1")) *
          (col("n_window") * col("x_milli") - col("s1")) >
          lit(4) * (col("n_window") * col("s2") - col("s1") * col("s1")),
        1L).otherwise(0L).as("anomaly"))

  /** [[anomaly]] of a lag frame: `value` and `lag_1..lag_7` are one-field
    * structs (x = milli value). A lag slot is null when there is no row,
    * and its `x` is null when the row's value is — so n counts rows (the
    * oracle's COUNT(*)) while the sums skip null values.
    */
  def anomalyOfLags(lagged: DataFrame): DataFrame = {
    val lags = (1 to lagDepth).map(d => col(s"lag_$d"))
    val xs = (1 to lagDepth).map(d => col(s"lag_$d.x"))
    val cur = col("value.x")
    val n = lags.map(l => when(l.isNull, 0L).otherwise(1L))
      .reduce(_ + _) + lit(1L)
    val s1 = xs.map(l => coalesce(l, lit(0L))).reduce(_ + _) + cur
    val s2 = xs.map(l => coalesce(l * l, lit(0L))).reduce(_ + _) +
      cur * cur
    anomaly(lagged.select(col("event_id"), col("user_id"), cur.as("x_milli"),
      n.as("n_window"), s1.as("s1"), s2.as("s2")))
  }

  /** (event_id, user_id, running_value, seq) of a running-prefix frame
    * (`running` decimal sum, `seq` row number).
    */
  def running(df: DataFrame): DataFrame =
    df.select(col("event_id"), col("user_id"),
      col("running").cast("double").as("running_value"),
      // seq stays LONG: the blocks form exists for keys past ~2.1B rows,
      // where an int seq wraps (or throws under ANSI) on exactly the
      // histories it is advertised to survive; DuckDB ROW_NUMBER is
      // BIGINT, so long is also the oracle's type
      col("seq").as("seq"))

  /** Burst detection's trailing window: 5 minutes. */
  val burstWidthUs: Long = 300L * 1000000L

  /** A burst is more than 10 events in the trailing window (`n_5m`). */
  val burstFlag: Column = when(col("n_5m") > 10, 1L).otherwise(0L)

  /** (event_id, user_id, n_5m, burst) of a trailing-range frame. */
  def burst(ranged: DataFrame): DataFrame =
    ranged.select(col("event_id"), col("user_id"), col("range_n").as("n_5m"))
      .withColumn("burst", burstFlag)

  /** The sliding sum's trailing window: 10 minutes. */
  val slidingWidthUs: Long = 600L * 1000000L

  /** (event_id, user_id, sum_10m) of a trailing-range frame. */
  def sliding(ranged: DataFrame): DataFrame =
    ranged.select(col("event_id"), col("user_id"),
      col("range_sum").cast("double").as("sum_10m"))

  /** (event_id, user_id, click_id) of an as-of frame over purchases. */
  def asof(joined: DataFrame): DataFrame =
    joined.select(col("event_id"), col("user_id"),
      col("asof_event_id").as("click_id"))
}
