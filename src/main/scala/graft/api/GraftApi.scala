package graft.api

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** Per-bucket bloom filter state WITH its geometry (ADVICE r15): the
  * bucket count keys every text to its bucket, so two states built
  * under different `buckets` are mutually unintelligible — probing
  * with mismatched geometry reads the WRONG bucket's filter, answers
  * false, and declares true duplicates "proven new" without the exact
  * verify, silently. `bloom_or`'s IncompatibleMergeException only
  * catches bit-array-size (expectedItemsPerBucket) drift within a
  * bucket; bucket-count drift is only catchable by carrying the
  * geometry WITH the state — this wrapper is the public equivalent of
  * the internal persisted path keying geometry into the table name
  * (Dedup.persistedBloomFilters). Persist `filters` bucketBy(bkt) and
  * re-wrap with the same geometry on read; the geometry values are
  * warehouse constants pinned at state-create time.
  */
final case class BloomState(filters: DataFrame, buckets: Int,
    expectedItemsPerBucket: Long) {
  require(buckets >= 1 && buckets <= 65536,
    s"BloomState: buckets=$buckets out of range [1, 65536]")
  private[api] def requireSameGeometry(other: BloomState, op: String): Unit =
    require(buckets == other.buckets &&
        expectedItemsPerBucket == other.expectedItemsPerBucket,
      s"$op: bloom geometry mismatch — (buckets=$buckets, " +
        s"itemsPerBucket=$expectedItemsPerBucket) vs (buckets=" +
        s"${other.buckets}, itemsPerBucket=${other.expectedItemsPerBucket})" +
        "; filters built under different geometry key texts to different " +
        "buckets and would silently declare true duplicates new")
}

/** The reference's user-facing query surface, re-expressed on Datasets.
  *
  * SQuOpt's API (squopt/package.scala, ivm/expressiontree/Lifting.scala,
  * traversableOps.scala) lifts a collection with `asSquopt` into a reified
  * `Exp[Coll]` on which for-comprehensions build an optimizable query
  * tree. On Spark that reified tree IS the Dataset/DataFrame logical plan:
  * `ds.map/filter/flatMap/groupBy` already build Catalyst trees, so
  * `asGraft` is the identity that names the analogy, plus the operators
  * Datasets don't spell the same way (indexBy, exists/forall, typeCase,
  * addIndex).
  *
  * PaperTutorial.scala's Figure 6 query
  * {{{
  *   for { book <- books.asSquopt
  *         if book.publisher ==# "Pearson Education"
  *         author <- book.authors }
  *   yield BookData(book.title, author.firstName + " " + author.lastName,
  *                  book.authors.size - 1)
  * }}}
  * becomes, with the same shape (see ApiSpec):
  * {{{
  *   for { book <- books.asGraft.where($"publisher" === "...")
  *         // flatMap over the nested authors array
  *   } ... == books.where(...).select(explode($"authors"), ...)
  * }}}
  */
object GraftApi {

  /** A `graft.*` session-conf override of a Long bound: the conf wins
    * when set, else the caller's `default` — the ops knob for tests and
    * for pipeline owners who know their data.
    */
  private[graft] def confLong(spark: SparkSession, key: String,
      default: Long): Long =
    spark.conf.getOption(key).map(_.toLong).getOrElse(default)

  /** Default per-group string budget of [[groupConcatExport]] and its
    * sharded and streaming faces (`graft.groupExport.maxGroupBytes`).
    */
  private[graft] val defaultMaxGroupBytes: Long = 268435456L

  /** asSquopt for plain in-memory collections: the reference lifts any
    * local Traversable into a queryable Exp; here a local Seq lifts into
    * a Dataset (a LocalRelation — Catalyst folds/prunes it like any
    * other plan node, and it broadcasts cheaply into joins).
    */
  implicit class GraftCollectionOps[T](private val seq: Seq[T]) extends AnyVal {
    def asGraft(implicit spark: SparkSession, enc: Encoder[T]): Dataset[T] =
      spark.createDataset(seq)
  }

  implicit class GraftDatasetOps[T](private val ds: Dataset[T]) extends AnyVal {

    /** asSquopt analog: entry point named for discoverability; the Dataset
      * is already a reified query.
      */
    def asGraft: Dataset[T] = ds

    /** indexBy (traversableOps.scala:39): materialize a keyed index.
      * The returned frame is marked broadcastable — downstream joins
      * become map-side hash lookups, the reference's index-lookup rewrite.
      *
      * Contract: the input must be DIMENSION-sized — the index is grouped
      * and broadcast, so its distinct-key count times average group size
      * must fit one executor/driver heap. `maxKeys` makes the contract
      * enforceable instead of an OOM: the key count is checked with one
      * cheap aggregate before the broadcast and a hostile cardinality
      * fails fast with a sizing message. Pass a larger bound explicitly
      * when the caller knows better; fact-sized inputs should use a plain
      * shuffled join instead of an index.
      */
    def indexBy(key: Column, value: Column, maxKeys: Long = 1000000L,
        maxGroupSize: Long = 1000000L): DataFrame = {
      // ONE cheap keyed-count pre-pass checks BOTH contract dimensions
      // BEFORE the collect_list aggregation runs — the key count bounds
      // the broadcast, and the hottest key's row count bounds the single
      // aggregation buffer that would otherwise OOM first (a size check
      // after collecting would be too late, the decontaminate lesson)
      val stats = ds.toDF().groupBy(key.as("key"))
        .agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n"), max(col("c")).as("maxg")).head()
      val n = stats.getLong(0)
      val maxg = if (stats.isNullAt(1)) 0L else stats.getLong(1)
      require(n <= maxKeys,
        s"indexBy: $n distinct keys exceeds maxKeys=$maxKeys — this index " +
          "would be broadcast; use a shuffled join for fact-sized inputs " +
          "or raise maxKeys if the groups are known to be small")
      require(maxg <= maxGroupSize,
        s"indexBy: hottest key holds $maxg rows, exceeding " +
          s"maxGroupSize=$maxGroupSize — one aggregation buffer would " +
          "materialize that whole group; pre-aggregate or use a plain join")
      broadcast(ds.toDF().groupBy(key.as("key"))
        .agg(collect_list(value).as("values")))
    }

    /** addIndex (Optimization.scala:31): persist + register so Catalyst's
      * CacheManager substitutes the precomputed plan into any later query
      * with a matching canonicalized subtree — Spark's built-in version of
      * the reference's subquery sharing (SubquerySharing.scala).
      */
    def addIndex(): Dataset[T] = { ds.persist(); ds.count(); ds }
    def removeIndex(): Dataset[T] = { ds.unpersist(); ds }

    /** exists/forall (traversableOps.scala:16-17) as whole-collection
      * predicates with early-out limit(1) semantics.
      */
    def existsWhere(cond: Column): Boolean =
      !ds.toDF().where(cond).limit(1).isEmpty
    def forallWhere(cond: Column): Boolean =
      ds.toDF().where(!cond).limit(1).isEmpty

    /** typeFilter (traversableOps.scala:54) for tag-column heterogeneous
      * frames.
      */
    def typeFilter(tagCol: Column, tag: String): Dataset[T] =
      ds.where(tagCol === tag)
  }

  /** The repo-wide deterministic sampling coin: the first `hexDigits` hex
    * digits of md5(id) as a LONG column — 4 digits ⇒ u16 (shard/split
    * buckets), 8 digits ⇒ u32 (keep/drop coins compared against
    * floor(p·2^32) thresholds, which are uniform to within 2^-32; a
    * mod-10^k bucket is NOT uniform — see q_mix_balance). Content-stable,
    * so membership is reproducible across engines, runs, and cluster
    * sizes, unlike rand(). Single-sourced because every sampling, split,
    * and shard op must flip the SAME coin for memberships to stay coupled:
    * an edit to one inlined copy would silently decouple train/val/test
    * splits from the samples drawn over them.
    */
  def md5Coin(idCol: String, hexDigits: Int): Column = {
    require(hexDigits >= 1 && hexDigits <= 15,
      s"md5Coin: hexDigits must be in [1,15] to fit a long, got $hexDigits")
    expr(s"conv(substring(md5(cast($idCol as string)), 1, $hexDigits), 16, 10)")
      .cast("long")
  }

  /** Size-adaptive small-side hint — the Graph.componentLabels guard
    * applied to joins. Dup-rate-proportional slivers (drop lists, cluster
    * labels, election winners) are tiny on a clean corpus but reach
    * billions of rows on a 30-50%-duplicate web crawl, where a FORCED
    * broadcast() hint OOMs the driver. The frame is persisted and counted
    * once (one cheap scan of an intermediate the join needs anyway); at or
    * below `maxRows` it carries the broadcast hint (the common case — the
    * corpus side never shuffles), above it the join runs un-hinted and the
    * planner/AQE picks the strategy from measured sizes. Both paths are
    * result-identical (PipelineAdaptiveSpec pins this on a high-dup-rate
    * corpus).
    */
  def adaptiveBroadcast(df: DataFrame, maxRows: Long = 4000000L,
      knownRowBound: Option[Long] = None): DataFrame = {
    val limit = confLong(df.sparkSession, "graft.adaptiveBroadcast.maxRows",
      maxRows)
    // caller-supplied row UPPER BOUND (e.g. pipeline_keep_best's
    // winners/losers are subsets of a label set whose exact size the
    // driver already read off a LocalRelation): a bound at or under the
    // limit proves broadcast-safety without the persist + count() jobs.
    // The bound must be a PROVEN upper bound (a superset's exact count),
    // never an estimate — an understated bound forces a driver broadcast
    // of an arbitrarily large frame, the OOM mode this verb exists to
    // prevent. Cross-checked against the plan's own size when the frame
    // is driver-resident (free — no job runs), so a misuse that CAN be
    // caught fails fast instead of broadcasting.
    def checkBound(n: Long): Unit = knownRowBound.foreach { b =>
      require(n <= b, s"adaptiveBroadcast: knownRowBound=$b understates " +
        s"the frame's actual row count $n — the bound must be a proven " +
        "upper bound, not an estimate")
    }
    localRowCount(df).foreach(checkBound)
    // a bound ABOVE the limit proves nothing (it is only a bound), so
    // fall through to the measured path
    if (knownRowBound.exists(_ <= limit)) return broadcast(df)
    localRowCount(df) match {
      // already driver-resident (the union-find label path: Graph.
      // componentLabels under its own ≤localEdgeLimit guard returns a
      // LocalRelation, and ConvertToLocalRelation folds any projection/
      // filter on top back into one): its row count is known without
      // running anything, so the persist + count() round-trips would
      // only ADD two scheduler jobs to re-learn a size the driver
      // already holds (r17; same decision, fewer jobs at every scale)
      case Some(n) => if (n <= limit) broadcast(df) else df
      case None =>
        val cached = graft.CacheRegistry.track(df)
        // the count is paid for here anyway: hold a bound above the
        // limit to the same contract as a driver-local frame
        val n = cached.count()
        checkBound(n)
        if (n <= limit) broadcast(cached) else cached
    }
  }

  /** Row count of a frame the optimizer already folded to a driver-local
    * relation (the union-find label path), if it is one — the size
    * knowledge [[adaptiveBroadcast]]'s LocalRelation fast path reads,
    * exposed so callers can derive `knownRowBound`s for frames that are
    * provable SUBSETS of a local one (keep_best's winners/losers ≤ its
    * labels). None for any distributed plan: no job is ever run here.
    */
  def localRowCount(df: DataFrame): Option[Long] =
    df.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        Some(lr.data.size.toLong)
      case _ => None
    }

  /** The data-sized partition rule the 100×/300×/1000× ScaleSmoke sweeps
    * validated: one WAVE of `threads` partitions per ~18M rows of the
    * dominant table (≈560k rows per partition), so per-partition
    * aggregate/window state stays bounded as data grows. A fixed
    * partition count silently tips hash aggregates into sort/spill as
    * rows per partition climb — the 1000× sweep measured exactly that
    * (dedup_minhash_lsh 9.5× the 300× time for 3.3× the data at a fixed
    * 32). Use for `spark.sql.shuffle.partitions`, repartition() targets,
    * and shard-count knobs whose per-shard work is a partition's worth.
    */
  def partitionsFor(rowEstimate: Long, threads: Int): Int = {
    require(rowEstimate >= 0, s"partitionsFor: negative rows $rowEstimate")
    require(threads > 0, s"partitionsFor: threads must be positive, got $threads")
    threads * math.max(1, math.ceil(rowEstimate / 18000000.0).toInt)
  }
  def partitionsFor(spark: SparkSession, rowEstimate: Long): Int =
    partitionsFor(rowEstimate, spark.sparkContext.defaultParallelism)

  /** Per-key top-k through the custom whole-operator plan
    * (graft.plans.TopKPerKeyNode → TopKPerKeyExec): bounded heap per key,
    * no per-group sort. Requires GraftExtensions (the planner strategy).
    * Equivalent to row_number over (partitionBy key orderBy order desc,
    * tiebreak asc) <= k.
    */
  def topKPerKey(df: DataFrame, key: String, order: String,
      tiebreak: String, k: Int): DataFrame = {
    import org.apache.spark.sql.graftshim.Shim
    val child = df.queryExecution.analyzed
    def attr(n: String) = child.output.find(_.name.equalsIgnoreCase(n))
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not in ${child.output.map(_.name).mkString(",")}"))
    Shim.ofRows(df.sparkSession, graft.plans.TopKPerKeyNode(
      attr(key), attr(order), attr(tiebreak), k, child))
  }

  /** Generic as-of join: every `left` row gains `asof_<payload>` — the
    * `payload` value of the latest `right` row with the same `key` whose
    * `rightTime` <= the row's `leftTime` (ties on time: larger payload
    * wins). One shuffle on key, no join operator: both sides are tagged,
    * unioned, and the payload is carried forward by a window `last(...,
    * ignoreNulls)`; the left row rides along as a struct so nothing needs
    * joining back. A correlated-subquery or inequality-join formulation
    * would rescan or go quadratic in a hot key's history at 100 TB.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, payload: String): DataFrame = {
    val payloadType = right.schema(payload).dataType
    val leftStruct = org.apache.spark.sql.types.StructType(left.schema.fields)
    val l = left.select(col(key).as("_k"), col(leftTime).cast("timestamp").as("_t"),
      lit(1).as("_side"), lit(null).cast(payloadType).as("_p"),
      struct(left.columns.map(col).toIndexedSeq: _*).as("_row"))
    val r = right.select(col(key).as("_k"), col(rightTime).cast("timestamp").as("_t"),
      lit(0).as("_side"), col(payload).as("_p"),
      lit(null).cast(leftStruct).as("_row"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("_k"))
      .orderBy(col("_t"), col("_side"), col("_p"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    r.unionByName(l)
      .withColumn("_asof", last(col("_p"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .select(col("_row.*") +: Seq(col("_asof").as(s"asof_$payload")): _*)
  }

  /** Generic gap-based sessionization (batch): appends a dense per-key
    * `session_id` (1..n) — a new session starts after `gapMs` of
    * inactivity. One shuffle on key; `tiebreak` makes the timeline a
    * total order. The streaming face is
    * [[graft.streaming.EventStreams.sessionize]].
    */
  def sessionize(df: DataFrame, key: String, time: String, tiebreak: String,
      gapMs: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
      .orderBy(col(time), col(tiebreak))
    val prev = lag(col(time), 1).over(w)
    df.withColumn("_new_session",
        when(prev.isNull ||
          unix_millis(col(time).cast("timestamp")) -
            unix_millis(prev.cast("timestamp")) > gapMs, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("_new_session"))
          .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow))
          .cast("long"))
      .drop("_new_session")
  }

  /** Skew-safe [[sessionize]]: identical output (dense per-key 1..n
    * `session_id`), but the per-row pass is partitioned by (key, time
    * block) instead of key alone, so ONE hot key's timeline spreads over
    * timeline/blockMs parallel tasks instead of one straggler sorting the
    * whole history ([[sessionize]]'s window put 90% of the skew sweep's
    * amplified event log into a single task). Three stages:
    * 1. local lag+cumsum session ids within each (key, ⌊t/blockMs⌋);
    * 2. per-(key, block) summaries (session count, first/last ts — one
    *    row per non-empty block) get a boundary-merge flag (adjacent
    *    block within gap) and a renumbering offset
    *    Σ sessions(prior blocks) − Σ merges(≤ this block), both as
    *    running sums over the per-key block sequence — serial work per
    *    key is #blocks, not #events;
    * 3. a co-partitioned (key, block) join folds the offset back:
    *    global id = offset + local id (a merged block's first local
    *    session lands exactly on the previous block's last global id).
    * `blockMs` must be ≥ gapMs: that makes non-adjacent non-empty blocks
    * unmergeable by construction (their time gap exceeds a full block),
    * so only the lag-1 summary row matters.
    */
  def sessionizeBlocks(df: DataFrame, key: String, time: String,
      tiebreak: String, gapMs: Long, blockMs: Long): DataFrame = {
    require(blockMs >= gapMs,
      s"sessionizeBlocks: blockMs ($blockMs) must be >= gapMs ($gapMs) " +
        "or non-adjacent blocks could merge")
    import org.apache.spark.sql.expressions.Window
    val tMs = unix_millis(col(time).cast("timestamp"))
    val wLoc = Window.partitionBy(col(key), col("_bkt"))
      .orderBy(col(time), col(tiebreak))
    val prev = lag(col(time), 1).over(wLoc)
    val flagged = df.withColumn("_bkt", floor(tMs / blockMs))
      .withColumn("_new",
        when(prev.isNull ||
          tMs - unix_millis(prev.cast("timestamp")) > gapMs, 1).otherwise(0))
      .withColumn("_ls",
        sum(col("_new")).over(wLoc.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).cast("long"))
      .drop("_new")
    val wKey = Window.partitionBy(col("_sk")).orderBy(col("_sb"))
    val offsets = flagged.groupBy(col(key).as("_sk"), col("_bkt").as("_sb"))
      .agg(max(col("_ls")).as("_s"), min(tMs).as("_minTs"), max(tMs).as("_maxTs"))
      .withColumn("_merge",
        when(col("_sb") === lag(col("_sb"), 1).over(wKey) + 1 &&
          col("_minTs") - lag(col("_maxTs"), 1).over(wKey) <= gapMs, 1L)
          .otherwise(0L))
      .withColumn("_offset",
        coalesce(sum(col("_s")).over(wKey.rowsBetween(Window.unboundedPreceding,
          -1)), lit(0L)) -
          sum(col("_merge")).over(wKey.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
      .select(col("_sk"), col("_sb"), col("_offset"))
    // null-safe join: the simple window keeps a null-key partition
    // (Window.partitionBy groups nulls), so the blocks form must too —
    // a plain === would silently drop every null-key row
    flagged
      .join(offsets, col(key) <=> col("_sk") && col("_bkt") <=> col("_sb"))
      .withColumn("session_id", col("_offset") + col("_ls"))
      .drop("_bkt", "_ls", "_sk", "_sb", "_offset")
  }

  /** Exact trailing ROW-lags (lag 1..`depth`) under a hot-key-safe block
    * layout — the [[sessionizeBlocks]] move applied to the windowed-lag
    * family (EWMA, rolling z-score): a plain
    * `lag(x, k) OVER (PARTITION BY key ORDER BY time)` puts a hot key's
    * ENTIRE history in one window partition — the skew-1000x sweep
    * measured the 90%-hot-user mode at one 450-580x straggler task with
    * a 324-631 MB sort spill while cpu stayed flat. Here rows partition
    * by (key, time-block) instead and each block is seeded with CARRY
    * rows, so the per-partition work is one block's rows + `depth`:
    *
    *   1. per (key, block): the block's `depth` latest rows (a
    *      block-local window — parallel across blocks);
    *   2. per block: the carry = the `depth` latest rows of the WHOLE
    *      key prefix, assembled from the previous `depth` NON-EMPTY
    *      blocks' tails (exact by construction: every one of the
    *      prefix's `depth` latest rows lives in one of the last `depth`
    *      non-empty blocks — each non-empty block holds ≥ 1 row — and
    *      is among that block's `depth` latest). The assembly window
    *      runs over (key) ordered by block with a ROWS `depth` PRECEDING
    *      frame — per-key work is #non-empty-blocks, never #rows;
    *   3. carry rows union into the block and a (key, block)-local
    *      window computes the lags; carry rows are dropped on emit.
    *      Row j of a block sees (j−1) own predecessors + `depth`
    *      carries ≥ `depth` rows back — every lag ≤ `depth` is exact,
    *      including across sparse blocks (a previous block with fewer
    *      than `depth` rows — the case a naive one-block carry misses).
    *
    * Ordering is (time, `tiebreak`) at microsecond precision — the
    * single-window ops' exact order. Returns one row per input row
    * (carry rows excluded): (key, tiebreak, value, lag_1..lag_depth
    * [, lead_1..lead_leads]).
    * Any `blockMs` is correct; size it so a hot key's densest block is
    * a comfortable task (default 1 h).
    *
    * `leads` > 0 additionally computes forward offsets (lead_1..lead_N)
    * by the mirror construction: each block is ALSO seeded with a
    * forward carry — the `leads` EARLIEST rows of the key's suffix,
    * assembled from the next `leads` non-empty blocks' heads (exact by
    * the mirrored argument). Forward carries sort after every own row,
    * so they are invisible to the lag columns, and backward carries sort
    * before every own row, invisible to the lead columns.
    */
  def rowLagsBlocks(df: DataFrame, key: String, time: String,
      tiebreak: String, value: Column, depth: Int,
      blockMs: Long = 3600000L, leads: Int = 0): DataFrame = {
    require(depth >= 1 && depth <= 64,
      s"rowLagsBlocks: depth=$depth out of range [1, 64] — the carry is " +
        "depth² structs per block; past that, rethink the formulation")
    require(leads >= 0 && leads <= 64,
      s"rowLagsBlocks: leads=$leads out of range [0, 64]")
    require(blockMs >= 1, s"rowLagsBlocks: blockMs=$blockMs must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val us = unix_micros(col(time))
    val base = df.select(col(key).as("_k"), col(tiebreak).as("_tb"),
        value.as("_x"), us.as("_us"))
      .withColumn("_bkt", floor(col("_us") / (blockMs * 1000L)))
    // (1) block tails: the depth latest rows of each (key, block)
    val wLoc = Window.partitionBy(col("_k"), col("_bkt"))
      .orderBy(col("_us").desc, col("_tb").desc)
    val tails = base
      .withColumn("_rnd", row_number().over(wLoc))
      .filter(col("_rnd") <= depth)
      .groupBy(col("_k"), col("_bkt"))
      .agg(collect_list(struct(col("_us"), col("_tb"), col("_x"))).as("_tail"))
    // (2) carry per block: latest `depth` of the prefix, off the last
    // `depth` non-empty blocks' tails (≤ depth² structs to sort)
    val carries = tails
      .withColumn("_carry", expr(
        s"slice(reverse(array_sort(flatten(collect_list(_tail) OVER " +
          s"(PARTITION BY _k ORDER BY _bkt ROWS BETWEEN $depth PRECEDING " +
          s"AND 1 PRECEDING)))), 1, $depth)"))
      .select(col("_k"), col("_bkt"), explode(col("_carry")).as("_c"))
      .select(col("_k"), col("_bkt"), col("_c._us").as("_us"),
        col("_c._tb").as("_tb"), col("_c._x").as("_x"),
        lit(1).as("_is_carry"))
    // (2b) forward carry per block (leads > 0): earliest `leads` of the
    // SUFFIX, off the next `leads` non-empty blocks' heads — the exact
    // mirror of (1)+(2)
    val fwdCarries =
      if (leads == 0) None
      else {
        val wLocAsc = Window.partitionBy(col("_k"), col("_bkt"))
          .orderBy(col("_us"), col("_tb"))
        val heads = base
          .withColumn("_rnd", row_number().over(wLocAsc))
          .filter(col("_rnd") <= leads)
          .groupBy(col("_k"), col("_bkt"))
          .agg(collect_list(struct(col("_us"), col("_tb"), col("_x"))).as("_head"))
        Some(heads
          .withColumn("_fc", expr(
            s"slice(array_sort(flatten(collect_list(_head) OVER " +
              s"(PARTITION BY _k ORDER BY _bkt ROWS BETWEEN 1 FOLLOWING " +
              s"AND $leads FOLLOWING))), 1, $leads)"))
          .select(col("_k"), col("_bkt"), explode(col("_fc")).as("_c"))
          .select(col("_k"), col("_bkt"), col("_c._us").as("_us"),
            col("_c._tb").as("_tb"), col("_c._x").as("_x"),
            lit(1).as("_is_carry")))
      }
    // (3) block-local lag/lead pass over carries ∪ own rows
    val own = base.select(col("_k"), col("_bkt"), col("_us"), col("_tb"),
      col("_x"), lit(0).as("_is_carry"))
    val wFin = Window.partitionBy(col("_k"), col("_bkt"))
      .orderBy(col("_us"), col("_tb"))
    val lagCols = (1 to depth).map(d => lag(col("_x"), d).over(wFin).as(s"lag_$d"))
    val leadCols = (1 to leads).map(d => lead(col("_x"), d).over(wFin).as(s"lead_$d"))
    (Seq(own, carries) ++ fwdCarries.toSeq).reduce(_.unionByName(_))
      .select(Seq(col("_k"), col("_bkt"), col("_us"), col("_tb"), col("_x"),
        col("_is_carry")) ++ lagCols ++ leadCols: _*)
      .filter(col("_is_carry") === 0)
      .select(Seq(col("_k").as(key), col("_tb").as(tiebreak),
        col("_x").as("value")) ++ (1 to depth).map(d => col(s"lag_$d")) ++
        (1 to leads).map(d => col(s"lead_$d")): _*)
  }

  /** Running (rows-unbounded-preceding) per-key aggregate under the
    * hot-key-safe block layout — the carry-of-partial-aggregates variant
    * of [[rowLagsBlocks]]: a plain `SUM(x) OVER (PARTITION BY key ORDER
    * BY time ROWS UNBOUNDED PRECEDING)` puts a hot key's entire history
    * in ONE window task (skew-1000x measured q_window_running at 11.7×
    * uniform wall, task-skew 248, cpu flat). Here the per-row pass
    * partitions by (key, time-block); the cross-block prefix is folded
    * through ONE row of partials per (key, block) — running sums are
    * associative, so carry = (Σ value, row count) over prior blocks,
    * computed as running sums over the per-key block-summary sequence
    * (serial work per key = #blocks, never #rows), and a co-partitioned
    * (key, block) join folds the offsets back.
    *
    * Returns (key, tiebreak, value, running, seq): `running` = the
    * running sum of `value` (null until the prefix holds a non-null, the
    * window-SUM convention), `seq` = the 1-based row number. Exact for
    * any orderable/summable value; decimal sums stay decimal-exact.
    */
  def runningSumBlocks(df: DataFrame, key: String, time: String,
      tiebreak: String, value: Column, blockMs: Long = 3600000L,
      includeSum: Boolean = true): DataFrame = {
    require(blockMs >= 1, s"runningSumBlocks: blockMs=$blockMs must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(key).as("_k"), col(tiebreak).as("_tb"),
        value.as("_x"), unix_micros(col(time)).as("_us"))
      .withColumn("_bkt", floor(col("_us") / (blockMs * 1000L)))
    val wLoc = Window.partitionBy(col("_k"), col("_bkt"))
      .orderBy(col("_us"), col("_tb"))
    // includeSum = false: the rank-only face (callers that need `seq`
    // and the value passthrough but not `running` — e.g.
    // rangeJoinEarliestK's right-side rank) skips both windowed sums
    val local0 = base.withColumn("_ln", row_number().over(wLoc).cast("long"))
    val local =
      if (includeSum) local0.withColumn("_ls", sum(col("_x")).over(
        wLoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      else local0.withColumn("_ls", lit(null).cast("double"))
    val wKey = Window.partitionBy(col("_sk")).orderBy(col("_sb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offAgg = base.groupBy(col("_k").as("_sk"), col("_bkt").as("_sb"))
      .agg(sum(if (includeSum) col("_x") else lit(null).cast("double")).as("_s"),
        count(lit(1)).as("_n"))
    val offsets = offAgg
      .select(col("_sk"), col("_sb"),
        (if (includeSum) sum(col("_s")).over(wKey)
         else lit(null).cast("double")).as("_offS"),
        coalesce(sum(col("_n")).over(wKey), lit(0L)).as("_offN"))
    // null-safe: a null-key/null-time row must survive the fold-back
    // join exactly as it survives the simple window's null partition
    local.join(offsets, col("_k") <=> col("_sk") && col("_bkt") <=> col("_sb"))
      // window-SUM null convention: null only while the WHOLE prefix is
      // null-free of non-null values (prior blocks' _offS null AND the
      // in-block prefix _ls null)
      .withColumn("running",
        when(col("_ls").isNull && col("_offS").isNull, lit(null))
          .otherwise(coalesce(col("_offS"), lit(0)) + coalesce(col("_ls"), lit(0))))
      .withColumn("seq", col("_offN") + col("_ln"))
      .select(col("_k").as(key), col("_tb").as(tiebreak), col("_x").as("value"),
        col("running"), col("seq"))
  }

  /** Trailing event-time RANGE aggregate (sum of `value` + row count over
    * [t − widthUs, t]) under the hot-key-safe block layout. A RANGE
    * window `PARTITION BY key ORDER BY time` concentrates a hot key in
    * one task (q_window_sliding ×20.8 wall / q_burst_detect ×11.0 at
    * skew-1000x, cpu flat). With `blockUs` ≥ `widthUs`, every row's
    * trailing window spans at most its own and the PREVIOUS time block,
    * so each row is shipped twice — once as itself, once as a carry into
    * the next block — and the RANGE window runs per (key, block): task
    * work is ≤ 2 blocks' rows at any key skew, and the shuffle carries
    * 2× rows instead of concentrating them.
    *
    * Appends `range_sum` (sum of `value` over the trailing range) and
    * `range_n` (row count over it) to the input columns. Boundary
    * semantics are the RANGE frame's own: ties at t included, t−widthUs
    * inclusive.
    */
  def trailingRangeBlocks(df: DataFrame, key: String, time: String,
      value: Column, widthUs: Long, blockUs: Long = 3600000000L): DataFrame = {
    require(widthUs >= 0, s"trailingRangeBlocks: widthUs=$widthUs negative")
    require(blockUs >= math.max(widthUs, 1L),
      s"trailingRangeBlocks: blockUs ($blockUs) must be >= widthUs " +
        s"($widthUs) or a window could span more than two blocks")
    // This helper APPENDS to the caller's frame (unlike the siblings,
    // which project into fresh frames), so scratch/output names must not
    // collide with caller columns — fail loudly instead of silently
    // overwriting.
    val reserved = Seq("_x", "_us", "_ownbkt", "_bkt", "_is_carry",
      "range_sum", "range_n")
    val clash = df.columns.toSet.intersect(reserved.toSet)
    require(clash.isEmpty,
      s"trailingRangeBlocks: input columns ${clash.mkString(",")} collide " +
        "with scratch/output names; rename them before calling")
    import org.apache.spark.sql.expressions.Window
    val base = df
      .withColumn("_x", value)
      .withColumn("_us", unix_micros(col(time).cast("timestamp")))
      .withColumn("_ownbkt", floor(col("_us") / blockUs))
    val own = base.withColumn("_bkt", col("_ownbkt"))
      .withColumn("_is_carry", lit(0))
    val carry = base.withColumn("_bkt", col("_ownbkt") + 1)
      .withColumn("_is_carry", lit(1))
    val w = Window.partitionBy(col(key), col("_bkt")).orderBy(col("_us"))
      .rangeBetween(-widthUs, Window.currentRow)
    own.unionByName(carry)
      .withColumn("range_sum", sum(col("_x")).over(w))
      .withColumn("range_n", count(lit(1)).over(w))
      .filter(col("_is_carry") === 0)
      .drop("_x", "_us", "_ownbkt", "_bkt", "_is_carry")
  }

  /** Exact per-key rank and key row-count by VALUE order under a
    * hot-key-safe layout — the primitive behind distribution-position
    * window functions (NTILE, CUME_DIST), whose `PARTITION BY key ORDER
    * BY value` puts a hot key in one sort task (q_window_ntile ×18.9
    * wall / task-skew 870 at skew-1000x). Time blocks don't apply (the
    * order is by value), so the split dimension is the VALUE RANGE:
    * `bins` fixed-width bins over the global [min, max] (one cheap
    * two-value aggregate; bin of null = −1, mirroring Spark's nulls-
    * first ascending order). Bin index is monotone in value, so global
    * rank = block-local row_number + Σ counts of lower bins — the
    * sessionizeBlocks offset idiom, serial work per key = #bins.
    *
    * Appends `key_rank` (1-based rank by (value, tiebreak) within key)
    * and `key_n` (total rows of the key). Hot keys spread over bins;
    * a key whose values are ALL IDENTICAL still lands in one bin — that
    * is a genuine total-order constraint (equal values are one rank
    * neighborhood), documented rather than hidden.
    */
  /** Monotone numeric image of a sort column for range binning —
    * numerics/temporals cast; strings/binary map through their 8-byte
    * big-endian prefix (Spark compares both byte-wise, so the prefix
    * number is order-aligned; truncation only coarsens bins, never
    * reorders). Non-orderable types fail fast: their double-cast is
    * NULL, which would silently collapse every row into one bin.
    */
  private[graft] def valueOrderImage(
      dt: org.apache.spark.sql.types.DataType, value: String): Column = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType =>
        expr(s"cast(conv(hex(rpad(encode(`$value`, 'UTF-8'), 8, x'00')), " +
          "16, 10) as double)")
      case BinaryType =>
        expr(s"cast(conv(hex(rpad(`$value`, 8, x'00')), 16, 10) as double)")
      case _: NumericType | DateType | TimestampType | TimestampNTZType |
          BooleanType => col(value).cast("double")
      case other => throw new IllegalArgumentException(
        s"valueRankBlocks: value column `$value` of type ${other.sql} has " +
          "no order-preserving numeric image to range-bin by — rank by a " +
          "numeric/string/temporal sort column instead")
    }
  }

  def valueRankBlocks(df: DataFrame, key: String, value: String,
      tiebreak: String, bins: Int = 1024): DataFrame = {
    require(bins >= 1 && bins <= 65536,
      s"valueRankBlocks: bins=$bins out of range [1, 65536]")
    import org.apache.spark.sql.expressions.Window
    // NaN discipline (floating values only): Spark orders NaN GREATEST,
    // and a NaN-poisoned max() would make every bin expression NaN —
    // whose int cast THROWS under ANSI. Bounds aggregate over finite
    // values; NaN rows get a dedicated top bin (bins — above every
    // numeric bin, matching the sort order); ±infinities clamp into the
    // edge bins and any residual NaN arithmetic (e.g. an infinite lo)
    // collapses to bin 0 — degenerate but ordered, never a crash.
    val isFloating = df.schema(value).dataType match {
      case org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType => true
      case _ => false
    }
    // The bin function must be a MONOTONE map of the value's sort order
    // (any non-decreasing assignment keeps the cumulative-offset rank
    // exact; a non-monotone or collapsed one silently puts a key's whole
    // sort back into one task). Numerics/temporals cast to double;
    // strings/binary — which cast to NULL and would collapse every row
    // into bin 0 — instead bin by their 8-byte big-endian prefix (Spark
    // compares strings byte-wise, so the prefix number is order-aligned;
    // truncation only coarsens bins, never reorders). Anything else is
    // not rank-orderable here — fail fast.
    val vOrd = valueOrderImage(df.schema(value).dataType, value)
    val vClean = if (isFloating) when(!isnan(col(value)), vOrd) else vOrd
    val mm = df.agg(min(vClean).cast("double").as("lo"),
      max(vClean).cast("double").as("hi")).head()
    def withNullNan(base: Column): Column =
      if (isFloating)
        when(col(value).isNull, lit(-1))
          .when(isnan(col(value)), lit(bins)).otherwise(base)
      else when(col(value).isNull, lit(-1)).otherwise(base)
    val binCol =
      if (mm.isNullAt(0) || mm.getDouble(0) == mm.getDouble(1))
        withNullNan(lit(0))
      else {
        val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
        val clamped = least(lit((bins - 1).toDouble), greatest(lit(0.0),
          floor((vOrd - lit(lo)) / lit(hi - lo) * bins)))
        val safe = if (isFloating)
          when(isnan(clamped), lit(0.0)).otherwise(clamped) else clamped
        withNullNan(safe.cast("int"))
      }
    val wLoc = Window.partitionBy(col(key), col("_bin"))
      .orderBy(col(value), col(tiebreak))
    val local = df.withColumn("_bin", binCol)
      .withColumn("_lr", row_number().over(wLoc).cast("long"))
    val wKey = Window.partitionBy(col("_sk")).orderBy(col("_sb"))
    val offsets = local.groupBy(col(key).as("_sk"), col("_bin").as("_sb"))
      .agg(count(lit(1)).as("_n"))
      .select(col("_sk"), col("_sb"),
        coalesce(sum(col("_n")).over(
          wKey.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("_off"),
        sum(col("_n")).over(wKey.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)).as("_nkey"))
    // null-safe: null keys keep their rank partition (see the simple
    // window's null group)
    local.join(offsets, col(key) <=> col("_sk") && col("_bin") <=> col("_sb"))
      .withColumn("key_rank", col("_off") + col("_lr"))
      .withColumn("key_n", col("_nkey"))
      .drop("_bin", "_lr", "_sk", "_sb", "_off", "_nkey")
  }

  /** [[asofJoin]]'s hot-key-safe twin — the sessionizeBlocks boundary-
    * merge idiom applied to carry-forward: the union-of-sides pass
    * partitions by (key, time-block); the carry INTO each block is the
    * best (latest (time, payload)) right row of all PRIOR blocks, folded
    * as a running max over the per-(key, block) summary sequence (one
    * row per non-empty block — serial work per key = #blocks); a
    * co-partitioned (key, block) join hands each left row
    * coalesce(in-block last-non-null, carry-in). Identical output to
    * [[asofJoin]] (right rows with a NULL payload are no-ops there —
    * dropped up front here, exactly equivalent).
    */
  def asofJoinBlocks(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, payload: String,
      blockMs: Long = 3600000L, strict: Boolean = false): DataFrame = {
    require(blockMs >= 1, s"asofJoinBlocks: blockMs=$blockMs must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val payloadType = right.schema(payload).dataType
    val leftStruct = org.apache.spark.sql.types.StructType(left.schema.fields)
    val l = left.select(col(key).as("_k"), col(leftTime).cast("timestamp").as("_t"),
      lit(1).as("_side"), lit(null).cast(payloadType).as("_p"),
      struct(left.columns.map(col).toIndexedSeq: _*).as("_row"))
    // strict: right rows at the SAME time as a left row sort AFTER it
    // (side 2 > 1), so the carry is "latest right STRICTLY before" —
    // the semantics a successor-rank lookup needs; default (side 0)
    // keeps the inclusive at-or-before contract
    val r = right.select(col(key).as("_k"), col(rightTime).cast("timestamp").as("_t"),
        lit(if (strict) 2 else 0).as("_side"), col(payload).as("_p"),
        lit(null).cast(leftStruct).as("_row"))
      .filter(col("_p").isNotNull)
    val u = r.unionByName(l)
      .withColumn("_bkt", floor(unix_millis(col("_t")) / blockMs))
    val wLoc = Window.partitionBy(col("_k"), col("_bkt"))
      .orderBy(col("_t"), col("_side"), col("_p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = u.withColumn("_lastp", last(col("_p"), ignoreNulls = true).over(wLoc))
    // per-(key, block) summaries over ALL blocks present (a block with no
    // right rows still needs a carry-in row): best = max (time, payload)
    // struct over the block's right rows (max ignores the left rows'
    // null), then carry-in = running max over PRIOR blocks
    val wKey = Window.partitionBy(col("_ck")).orderBy(col("_cb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = u
      .groupBy(col("_k").as("_ck"), col("_bkt").as("_cb"))
      .agg(max(when(col("_side") =!= 1, struct(col("_t"), col("_p")))).as("_best"))
      .select(col("_ck"), col("_cb"), max(col("_best")).over(wKey).as("_cin"))
    // null-safe: asofJoin (union + window, no join) carries null-key
    // left rows through their own partition — the blocks form must not
    // drop them at the fold-back join
    local.join(carries, col("_k") <=> col("_ck") && col("_bkt") <=> col("_cb"))
      .filter(col("_side") === 1)
      .withColumn("_asof", coalesce(col("_lastp"), col("_cin._p")))
      .select(col("_row.*") +: Seq(col("_asof").as(s"asof_$payload")): _*)
  }

  /** Output-capped interval join with NO quadratic stage anywhere: each
    * left row gains its `k` EARLIEST right matches (same `key`,
    * rightTime in [leftTime, leftTime + windowMs], ordered by
    * (millisecond delay, right id) — millisecond precision, the
    * SQL-oracle contract). Equivalent to rangeJoin → per-left top-k,
    * but THAT shape must push the full quadratic pair set through
    * either an exchange or an aggregation-fallback sort — measured as a
    * ~35 GB spill and a disk-full death under a hot key at skew-300x,
    * with both the broadcast and shuffle join variants (AQE re-widens
    * keys-per-task past the hash-agg bound). Here no pair set ever
    * exists:
    *
    *   1. rank right rows per key by (ms time, id) —
    *      [[runningSumBlocks]]'s seq, hot-key-safe by blocks;
    *   2. for each left row, r* = 1 + rank of the latest right row
    *      STRICTLY before leftTime — [[asofJoinBlocks]] with
    *      strict = true (one bounded carry pass, hot-key-safe);
    *   3. candidates are EXACTLY ranks r*..r*+k−1: explode k rank keys
    *      per left row and equi-join on (key, rank) — |L|·k rows against
    *      |R|, uniformly keyed even when one key holds everything —
    *      then post-filter rightTime ≤ leftTime + windowMs.
    *
    * Work is O(|L|·k + |R|) past the two block passes; output ≤ |L|·k
    * by construction. Returns (leftId, rightId, delay_ms).
    */
  def rangeJoinEarliestK(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, leftTime: String, rightTime: String,
      leftId: String, rightId: String, windowMs: Long, k: Int,
      blockMs: Long = 3600000L): DataFrame = {
    require(windowMs >= 0, s"rangeJoinEarliestK: windowMs=$windowMs negative")
    require(k >= 1 && k <= 1024, s"rangeJoinEarliestK: k=$k out of [1, 1024]")
    // ms-truncated right timeline: delay ties must resolve by id at the
    // same MILLISECOND (epoch_ms arithmetic), not at full precision —
    // ranking at micros would order two same-ms purchases differently
    // than the (delay_ms, id) contract cuts them
    val rMs = unix_millis(col(rightTime).cast("timestamp"))
    val ranked = graft.CacheRegistry.track(runningSumBlocks(
        right.select(col(rightKey).as("_k"), timestamp_millis(rMs).as("_rt"),
          col(rightId).as("_rid")),
        "_k", "_rt", "_rid", unix_millis(col("_rt")), blockMs,
        includeSum = false)
      .select(col("_k").as("_jk"), col("_rid"), col("value").as("_rms"),
        col("seq").as("_rseq")))
    val lMs = unix_millis(col(leftTime).cast("timestamp"))
    val lefts = left.select(col(leftKey).as("_k"), col(leftId).as("_lid"),
      timestamp_millis(lMs).as("_lt"))
    val withPrev = asofJoinBlocks(
      lefts,
      ranked.select(col("_jk").as("_k"), timestamp_millis(col("_rms")).as("_pt"),
        col("_rseq")),
      key = "_k", leftTime = "_lt", rightTime = "_pt", payload = "_rseq",
      blockMs = blockMs, strict = true)
    withPrev
      .select(col("_k"), col("_lid"), unix_millis(col("_lt")).as("_lms"),
        explode(sequence(coalesce(col("asof__rseq"), lit(0L)) + 1,
          coalesce(col("asof__rseq"), lit(0L)) + k)).as("_want"))
      .join(ranked, col("_k") === col("_jk") && col("_want") === col("_rseq"))
      .filter(col("_rms") <= col("_lms") + windowMs)
      .select(col("_lid").as(leftId), col("_rid").as(rightId),
        (col("_rms") - col("_lms")).as("delay_ms"))
  }

  /** Size-adaptive [[rangeJoinEarliestK]] — the [[adaptiveBroadcast]] /
    * [[skewAdaptive]] discipline applied to the capped interval join:
    * ONE [[rangeJoinPairEstimate]] probe picks the plan. At or below
    * `pairBound` the plain pair join + per-left rank runs (one join, one
    * clustering pass over a small pair set — the cheap plan on organic
    * co-occurrence; ~2× faster than the rank composition at uniform
    * scale); above it the rank composition runs (no quadratic stage —
    * the only plan that survives a hot key; the pair-join variant
    * measured a disk-full death at skew-300x). Both branches are
    * result-identical (EdgeCaseSpec pins them on the same corpus); conf
    * `graft.rangeJoinEarliestK.pairBound` overrides.
    */
  def rangeJoinEarliestKAuto(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTime: String, rightTime: String,
      leftId: String, rightId: String, windowMs: Long, k: Int,
      pairBound: Long = 50000000L, blockMs: Long = 3600000L): DataFrame = {
    require(windowMs >= 0, s"rangeJoinEarliestKAuto: windowMs must be >= 0, got $windowMs")
    val bound = confLong(left.sparkSession,
      "graft.rangeJoinEarliestK.pairBound", pairBound)
    // windowMs = 0 (exact-time matches) is legal for the rank path but
    // the estimate's bucket width would divide by zero — route straight
    // to the always-safe branch
    val est =
      if (windowMs == 0) Long.MaxValue
      else rangeJoinPairEstimate(left, right, leftKey, rightKey,
        leftTime, rightTime, 0L, windowMs)
    if (est > bound)
      rangeJoinEarliestK(left, right, leftKey, rightKey, leftTime, rightTime,
        leftId, rightId, windowMs, k, blockMs)
    else {
      import org.apache.spark.sql.expressions.Window
      // pre-rename both sides to disjoint internal names: rangeJoin
      // requires fully disjoint columns, and the rank branch above
      // renames internally — the two branches must accept the SAME
      // inputs, or a pipeline that tested fine at scale (rank branch)
      // would crash on a small shard (this branch)
      val l = left.select(col(leftKey).as("_alk"), col(leftTime).as("_alt"),
        col(leftId).as("_ali"))
      val r = right.select(col(rightKey).as("_ark"),
        col(rightTime).as("_art"), col(rightId).as("_ari"))
      val pairs = rangeJoin(l, r, "_alk", "_ark", "_alt", "_art",
          0L, windowMs, maxPairs = Long.MaxValue)
        .select(col("_ali"), col("_ari"),
          (unix_millis(col("_art").cast("timestamp")) -
            unix_millis(col("_alt").cast("timestamp"))).as("delay_ms"))
      // rank on the internal names, rename back LAST: leftId == rightId
      // is legal (both sides may call their id column `id`) and an early
      // rename would make the window's partition column ambiguous
      pairs.withColumn("_rn", row_number().over(
          Window.partitionBy(col("_ali"))
            .orderBy(col("delay_ms"), col("_ari"))))
        .filter(col("_rn") <= k)
        .select(col("_ali").as(leftId), col("_ari").as(rightId),
          col("delay_ms"))
    }
  }

  /** One-row hottest-key stats sliver: (hottest, rows, keys) for `key`
    * over `df` — the table property [[skewAdaptive]] dispatches on,
    * factored out so a pipeline computes it ONCE (and persists it next
    * to the data, the ANN stats-table discipline) instead of paying a
    * keyed-count scan per dispatched query. Null keys form their own
    * group, matching the dispatcher's hot-key semantics.
    */
  def hotKeyStats(df: DataFrame, key: String): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("c"))
      .agg(coalesce(max(col("c")), lit(0L)).as("hottest"),
        coalesce(sum(col("c")), lit(0L)).as("rows"),
        count(lit(1)).as("keys"))

  /** Session memo for [[skewAdaptive]]'s probe: (source files, key) →
    * hottest count. The hottest-key count is a property of the TABLE,
    * not the query, so the registry ops dispatching on the same events
    * table share one probe per session instead of one full scan each.
    * Fingerprinting by `df.inputFiles` assumes the standard immutable-
    * parquet contract — and is only sound for a PURE PROJECTION of the
    * scan ([[isCountPreserving]]): a filtered frame's hottest count is
    * an UNDER-count of the table's, and memoizing it under the table's
    * file fingerprint would poison every later dispatch on the full
    * table toward the straggler-prone simple branch. Filtered/derived
    * file-backed frames probe inline, unmemoized (the probe is one
    * re-scan — what any second query over the frame pays anyway).
    * The memo key is a fixed-size MD5 digest of the sorted file list,
    * not the concatenated paths: at 10^5-10^6 part files the paths
    * string is tens of MB, and the map retains its keys for the
    * session.
    */
  private val keyStatsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** True when every node between `df` and its leaf scans preserves row
    * counts per key value — projections/aliases only. Conservative: any
    * node outside the whitelist (Filter, Join, Aggregate, Sample,
    * Limit, ...) disqualifies the frame from the table-level memo.
    */
  private def isCountPreserving(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    plan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.Project |
          _: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        plan.children.forall(isCountPreserving)
      case _ if plan.children.isEmpty => true // leaf relation
      case _ => false
    }

  private def fileFingerprint(files: Array[String], key: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    files.sorted.foreach { f =>
      md.update(f.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(0: Byte)
    }
    md.digest().map("%02x".format(_)).mkString + " " + key
  }

  /** Resolve `key` through the analyzed plan's alias/projection chain to
    * the SCAN attribute it renames, or None when the column is computed
    * (a computed key's counts are frame-specific, not a table property).
    * The memo must fingerprint by the ROOT name: two projections of the
    * same files exposing different source columns under one output name
    * (`user_id as k` vs `session_id as k`) would otherwise share — and
    * poison — one entry.
    */
  private def rootAttrName(df: DataFrame, key: String): Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, ExprId}
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
    def walk(plan: LogicalPlan, id: ExprId, name: String): Option[String] =
      plan match {
        case p: Project =>
          p.projectList.find(_.exprId == id) match {
            case Some(a: Alias) => a.child match {
              case ar: AttributeReference => walk(p.child, ar.exprId, ar.name)
              case _ => None // computed column
            }
            case Some(ar: AttributeReference) => walk(p.child, ar.exprId, ar.name)
            case Some(_) => None
            case None => walk(p.child, id, name) // passed through untouched
          }
        case s: SubqueryAlias => walk(s.child, id, name)
        case leaf if leaf.children.isEmpty => Some(name)
        case _ => None
      }
    val analyzed = df.queryExecution.analyzed
    val resolver = df.sparkSession.sessionState.analyzer.resolver
    analyzed.output.find(a => resolver(a.name, key))
      .flatMap(a => walk(analyzed, a.exprId, a.name))
  }
  /** Inline probes actually paid (spec hook: the memo path must not
    * rescan). */
  private[graft] val keyStatsProbes = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def keyStatsMemoClear(): Unit = keyStatsMemo.clear()

  private def hottestOf(df: DataFrame, key: String): Long = {
    keyStatsProbes.incrementAndGet()
    val r = hotKeyStats(df, key).head()
    r.getLong(0)
  }

  /** Skew-adaptive formulation dispatch — the [[adaptiveBroadcast]]
    * pattern applied to the simple/blocks window pairs: the hottest
    * key's row count picks the plan; at or below `hotKeyBound` the plain
    * single-window formulation runs (fewer shuffles — the right plan on
    * organic key distributions), above it the hot-key-safe blocks
    * formulation (bounded tasks — the right plan when one bot-grade key
    * holds a history no single task should sort).
    *
    * The count comes from a per-(source files, key) session memo — the
    * probe scan is paid ONCE per table, not per query, and nothing is
    * persisted for scan-rooted inputs (at 100 TB the input does not fit
    * in cache; the chosen branch re-reads the scan, which is what a
    * second query over the table would do anyway). A caller holding a
    * PRECOMPUTED stats sliver (from [[hotKeyStats]], possibly read back
    * from a persisted stats table) should pass it through
    * [[skewAdaptiveWithStats]] — the dispatcher then reads one field and
    * never scans. Only a DERIVED input (no source files to fingerprint —
    * an in-memory or shuffled intermediate) falls back to the inline
    * probe over a [[graft.CacheRegistry]]-persisted copy: there the
    * probe's pass would otherwise be an arbitrary plan recompute, and
    * the persist is the documented cost (library users composing
    * pipelines should prefer the stats-sliver face).
    *
    * Both branches are result-identical by the twins' own specs; the
    * session conf `graft.skewAdaptive.hotKeyBound` overrides the bound
    * (the ops knob, and the test hook that forces each branch).
    * The default bound is the ~560k-row per-partition wave size
    * [[partitionsFor]] encodes, with ~4× headroom: a key past 2M rows
    * is guaranteed to dominate whatever task it lands on.
    */
  def skewAdaptive(df: DataFrame, key: String, hotKeyBound: Long = 2000000L)(
      simple: DataFrame => DataFrame)(
      blocks: DataFrame => DataFrame): DataFrame = {
    val files = df.inputFiles
    val root =
      if (files.nonEmpty && isCountPreserving(df.queryExecution.logical))
        rootAttrName(df, key)
      else None
    val (hottest, input) = root match {
      case Some(rootName) =>
        val fp = fileFingerprint(files, rootName)
        // probe OUTSIDE the map's lock: computeIfAbsent would hold the
        // hash-bin lock for a full scan's duration, stalling concurrent
        // dispatches on other tables. Worst case of the racy check-then-
        // put is one duplicate probe, never a wrong entry.
        val hot =
          if (keyStatsMemo.containsKey(fp)) keyStatsMemo.get(fp)
          else {
            val h = hottestOf(df, key)
            keyStatsMemo.putIfAbsent(fp, h)
            h
          }
        (hot, df)
      case None if files.nonEmpty =>
        // filtered/computed-key but file-backed: the count is frame-
        // specific (memoizing it would poison the table-level entry) and
        // the chosen branch re-reads its scan cheaply — probe inline,
        // no memo, no persist
        (hottestOf(df, key), df)
      case None =>
        val cached = graft.CacheRegistry.track(df)
        (hottestOf(cached, key), cached)
    }
    dispatch(df, hottest, hotKeyBound)(simple)(blocks)(input)
  }

  /** [[skewAdaptive]] fed by a precomputed [[hotKeyStats]] sliver — the
    * dispatcher reads ONE row from `stats` and never scans `df`. This is
    * the 100 TB face: compute the sliver once per table (or maintain it
    * alongside ingestion), persist it, and every dispatched query reads
    * ≤1 row. An EMPTY stats frame (a persisted stats table that was
    * never populated, or filtered to a missing entry) means the hottest
    * count is unknown — the dispatch degrades to the always-safe blocks
    * branch rather than crashing or guessing simple.
    */
  def skewAdaptiveWithStats(df: DataFrame, key: String, stats: DataFrame,
      hotKeyBound: Long = 2000000L)(
      simple: DataFrame => DataFrame)(
      blocks: DataFrame => DataFrame): DataFrame = {
    // limit(2): never collect a whole mis-filtered stats catalog to take
    // one row, and a >1-row sliver is a caller bug worth naming — an
    // arbitrary-row dispatch would be nondeterministic
    val rows = stats.select(col("hottest")).limit(2).collect()
    require(rows.length <= 1,
      "skewAdaptiveWithStats: stats frame has more than one row — pass " +
        "ONE hotKeyStats sliver (filter your stats catalog to this table " +
        "and key)")
    val hottest = rows.headOption match {
      case Some(r) if !r.isNullAt(0) => r.getLong(0)
      case Some(_) => 0L
      case None => Long.MaxValue // unknown → the branch that is safe at any skew
    }
    dispatch(df, hottest, hotKeyBound)(simple)(blocks)(df)
  }

  private def dispatch(df: DataFrame, hottest: Long, hotKeyBound: Long)(
      simple: DataFrame => DataFrame)(
      blocks: DataFrame => DataFrame)(input: DataFrame): DataFrame = {
    val limit = confLong(df.sparkSession, "graft.skewAdaptive.hotKeyBound",
      hotKeyBound)
    if (hottest <= limit) simple(input) else blocks(input)
  }

  /** Generic bounded range join: pairs (left, right) with equal `key`
    * where `rightTime` lands in [leftTime+lowerMs, leftTime+upperMs].
    * Both sides are binned to windows of the range width and joined on
    * (key, bucket) — left rows explode to the (usually 2) buckets their
    * window overlaps — with the exact predicate as a post-filter. The
    * bound is mandatory: it is what keeps the join an equi-join instead
    * of the nested loop Catalyst plans for a bare inequality.
    * Column names must be disjoint between the two sides.
    *
    * OUTPUT contract (the indexBy/decontaminate fail-fast discipline —
    * range-join output is quadratic in per-(key, bucket) co-occurrence
    * by SEMANTICS, and a hot key × wide window at 100 TB is a
    * storage-filling event): a cheap pre-aggregate estimates candidate
    * pairs as Σ over (key, bucket) of |left|·|right| — grouped counts,
    * so the probe shuffles (key, bucket) GROUPS, never rows — and the
    * join fails fast with a sizing message past `maxPairs` (session conf
    * `graft.rangeJoin.maxPairs` overrides; the skew-1000x corpus
    * estimates 457.9 B CANDIDATE pairs — the guard TRIPS there by
    * design, and the sanctioned path past it is the capped rank
    * composition below; the 2.29 B figure sometimes quoted is
    * post-filter OUTPUT, not what the guard sizes). When the consumer
    * only needs the best few matches per left row, use
    * [[graft.operators.Temporal.rangeJoinCappedOp]]'s shape — rangeJoin
    * into the bounded-heap [[topKPerKey]] — whose OUTPUT is |left|·k by
    * construction (pass maxPairs = Long.MaxValue there: compute is
    * inherent to the semantics, the cap bounds what lands in storage).
    */
  def rangeJoin(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, leftTime: String, rightTime: String,
      lowerMs: Long, upperMs: Long,
      maxPairs: Long = 4000000000L): DataFrame = {
    require(upperMs > lowerMs, "empty range")
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty, s"overlapping columns: ${overlap.mkString(",")}")
    val widthMs = upperMs - lowerMs
    val lMs = unix_millis(col(leftTime).cast("timestamp"))
    val rMs = unix_millis(col(rightTime).cast("timestamp"))
    val l = left.withColumn("_bkt", explode(sequence(
      floor((lMs + lowerMs) / widthMs), floor((lMs + upperMs) / widthMs))))
    val r = right.withColumn("_rbkt", floor(rMs / widthMs))
    val limit = confLong(left.sparkSession, "graft.rangeJoin.maxPairs", maxPairs)
    if (limit < Long.MaxValue) {
      val pairs = rangeJoinPairEstimate(left, right, leftKey, rightKey,
        leftTime, rightTime, lowerMs, upperMs)
      require(pairs <= limit,
        s"rangeJoin: ~$pairs candidate pairs exceed maxPairs=$limit — a " +
          "hot key × wide window is about to emit a storage-filling " +
          "result; narrow the window, pre-aggregate the hot keys, raise " +
          "the bound (graft.rangeJoin.maxPairs) if the sink really wants " +
          "them, or keep only the best matches per row via the capped " +
          "rank composition (rangeJoinEarliestK, q_range_join_capped's " +
          "shape)")
    }
    l.join(r, col("_bkt") === col("_rbkt") && col(leftKey) === col(rightKey))
      .filter(rMs >= lMs + lowerMs && rMs <= lMs + upperMs)
      .drop("_bkt", "_rbkt")
  }

  /** The [[rangeJoin]] contract's candidate-pair estimate as a reusable
    * probe: Σ over (key, bucket) of |left|·|right| — an upper bound on
    * emitted pairs, computed from grouped counts (the shuffle carries
    * (key, bucket) GROUPS, never rows). One cheap keyed aggregate pass
    * over each side.
    */
  def rangeJoinPairEstimate(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTime: String, rightTime: String,
      lowerMs: Long, upperMs: Long): Long = {
    val widthMs = upperMs - lowerMs
    val lMs = unix_millis(col(leftTime).cast("timestamp"))
    val rMs = unix_millis(col(rightTime).cast("timestamp"))
    val est = left.withColumn("_bkt", explode(sequence(
        floor((lMs + lowerMs) / widthMs), floor((lMs + upperMs) / widthMs))))
      .groupBy(col(leftKey).as("_ek"), col("_bkt").as("_eb"))
      .agg(count(lit(1)).as("_lc"))
      .join(right.withColumn("_rbkt", floor(rMs / widthMs))
          .groupBy(col(rightKey).as("_fk"), col("_rbkt").as("_fb"))
          .agg(count(lit(1)).as("_rc")),
        col("_ek") === col("_fk") && col("_eb") === col("_fb"))
      .agg(sum(col("_lc") * col("_rc"))).head()
    if (est.isNullAt(0)) 0L else est.getLong(0)
  }

  /** Grouped-collection export (groupBy key → the sorted elements joined
    * into ONE string per key) under the house OUTPUT contract: a group
    * string is a single aggregation-buffer value, so its size is a
    * per-task MEMORY cost — three ~0.5 GB status groups OOM-killed the
    * skew-1000x sweep twice before this guard existed. A cheap grouped
    * pre-estimate (Σ serialized element length + separators per key —
    * grouped counts, never a collected row) fails fast past
    * `maxGroupBytes` (session conf `graft.groupExport.maxGroupBytes`
    * overrides; "bytes" = characters of the joined string, exact for the
    * ASCII ids this exports). Past the bound the sanctioned path is
    * [[groupConcatExportSharded]] — same content, bounded pieces.
    * Reference analog: groupBy → Map[K, Coll] materialization
    * (GroupByTests.scala), whose in-memory cost the reference also pays;
    * we fail loudly where it would OOM.
    */
  def groupConcatExport(df: DataFrame, key: String, elem: String,
      out: String = "elems", maxGroupBytes: Long = defaultMaxGroupBytes): DataFrame = {
    val limit = confLong(df.sparkSession, "graft.groupExport.maxGroupBytes",
      maxGroupBytes)
    if (limit < Long.MaxValue) {
      // octet_length, not length: the limit is a BYTE budget and
      // multi-byte UTF-8 elements would otherwise pass up to ~4x over it
      val est = df.groupBy(col(key))
        .agg((sum(octet_length(col(elem).cast("string"))) + count(lit(1)) - 1)
          .as("_b"))
        .agg(max(col("_b"))).head()
      val maxB = if (est.isNullAt(0)) 0L else est.getLong(0)
      require(maxB <= limit,
        s"groupConcatExport: ~$maxB bytes in the largest group exceed " +
          s"maxGroupBytes=$limit — a single group string that size is a " +
          "per-task OOM, not a result; export bounded pieces instead " +
          "(groupConcatExportSharded), aggregate rather than enumerate, " +
          "or raise graft.groupExport.maxGroupBytes if one task really " +
          "holds it")
    }
    df.groupBy(col(key))
      .agg(array_join(expr(
        s"transform(sort_array(collect_list($elem)), x -> cast(x as string))"),
        ",").as(out))
  }

  /** [[groupConcatExport]]'s bounded-piece face — the 100 TB form: each
    * key's sorted element sequence is cut into `rowsPerShard`-element
    * shards keyed (key, shard), so no aggregation buffer ever holds more
    * than one shard's string and a hot key spreads over #shards tasks.
    * Shard index derives from the hot-key-safe per-key rank
    * ([[valueRankBlocks]] — value-range bins, never one task per key),
    * so shard boundaries are rank boundaries: concatenating a key's
    * shards in shard order reproduces [[groupConcatExport]]'s string
    * exactly (equal elements may permute WITHIN their run across a
    * boundary — identical strings, same output). Downstream consumers
    * stream shards instead of materializing group blobs.
    */
  def groupConcatExportSharded(df: DataFrame, key: String, elem: String,
      rowsPerShard: Long, out: String = "elems",
      maxGroupBytes: Long = defaultMaxGroupBytes): DataFrame = {
    require(rowsPerShard >= 1,
      s"groupConcatExportSharded: rowsPerShard=$rowsPerShard must be >= 1")
    // A shard string is still ONE aggregation-buffer value — bounding by
    // element COUNT alone lets wide elements (or an oversized
    // rowsPerShard) rebuild the exact OOM the unsharded face guards.
    // Bound by what a shard can ACTUALLY hold, not the raw
    // rowsPerShard × widest product: a shard never exceeds its key's row
    // count or its key's total bytes, so one-shard-per-group usage with
    // a generous rowsPerShard stays valid. octet_length, not length —
    // the limit is a byte budget.
    val limit = confLong(df.sparkSession, "graft.groupExport.maxGroupBytes",
      maxGroupBytes)
    if (limit < Long.MaxValue) {
      val st = df.groupBy(col(key))
        .agg(count(lit(1)).as("_n"),
          max(octet_length(col(elem).cast("string"))).as("_w"),
          (sum(octet_length(col(elem).cast("string"))) + count(lit(1)) - 1)
            .as("_tot"))
        .agg(max(col("_n")), max(col("_w")), max(col("_tot"))).head()
      val maxN = if (st.isNullAt(0)) 0L else st.getLong(0)
      val maxW = if (st.isNullAt(1)) 0L else st.getAs[Number](1).longValue()
      val maxTot = if (st.isNullAt(2)) 0L else st.getLong(2)
      val effRows = math.min(rowsPerShard, maxN)
      // division-shaped overflow guard: effRows × (maxW+1) must not wrap
      val byWidth =
        if (effRows == 0L) 0L
        else if (maxW + 1 > Long.MaxValue / effRows) Long.MaxValue
        else effRows * (maxW + 1)
      val worst = math.min(byWidth, maxTot)
      require(worst <= limit,
        s"groupConcatExportSharded: largest achievable shard ~$worst bytes " +
          s"(min(rowsPerShard=$rowsPerShard, largest group $maxN rows) × " +
          s"widest element $maxW B, capped by largest group total " +
          s"$maxTot B) exceeds maxGroupBytes=$limit — size rowsPerShard " +
          "by element width (≈ maxGroupBytes / widest element), or raise " +
          "graft.groupExport.maxGroupBytes if one task really holds it")
    }
    val ranked = valueRankBlocks(df.select(col(key), col(elem)),
      key, elem, tiebreak = elem)
    ranked
      .withColumn("shard",
        floor((col("key_rank") - 1) / rowsPerShard).cast("long"))
      .groupBy(col(key), col("shard"))
      .agg(array_join(expr(
        s"transform(sort_array(collect_list($elem)), x -> cast(x as string))"),
        ",").as(out))
  }

  // -------------------------------------------------------------------
  // LLM-pipeline operators as generic library functions: the registered
  // SURVEY §2.2 ops bind these to the test tables; a library user calls
  // them on any frame with the right shape.
  // -------------------------------------------------------------------

  /** Exact content dedup over any frame: rows grouped by the md5 of
    * `contentCol`; keeper = min id. Shuffle key is the uniform digest.
    */
  def dedupExact(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** MinHash+LSH near-dup pairs over any (id, text) frame — columns are
    * renamed into the (doc_id, text) shape the pipeline expects, and the
    * id columns of the result keep the caller's id values.
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      jaccardMin: Double = 0.2): DataFrame =
    graft.operators.Dedup.minhashPairs(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text")), jaccardMin)

  /** Int8 scalar quantization of any (id, float-array) frame — see
    * graft.operators.Similarity.quantize.
    */
  def quantizeEmbeddings(df: DataFrame, idCol: String, embCol: String): DataFrame =
    graft.operators.Similarity.quantize(df, idCol, embCol)

  // ---- product-quantization index lifecycle ------------------------------
  //
  // The three phases a PQ index actually lives through — train once,
  // encode the corpus once, ADC-search many times — as composable
  // library functions over any (id, float-array) frame. The registered
  // ann_pq_codes / ann_pq_search operators are these functions bound to
  // the embeddings table; ApiSpec pins the equivalence.

  /** Every vector split into its numSubs subvectors of subDim dims as
    * (pid, part, emb) rows — the shared input of PQ training and
    * encoding. Cache the result if feeding several phases.
    */
  private[graft] def pqSplit(df: DataFrame, idCol: String, embCol: String,
      numSubs: Int, subDim: Int): DataFrame =
    df.select(col(idCol).cast("long").as("pid"),
        expr(s"transform($embCol, x -> cast(x as double))").as("d"))
      .select(col("pid"), explode(expr(
        s"transform(sequence(0, ${numSubs - 1})," +
          s" s -> struct(s as part, slice(d, $subDim*s+1, $subDim) as emb))")).as("p"))
      .select(col("pid"), col("p.part"), col("p.emb"))

  /** Train per-subspace PQ codebooks: seeds are the codebookSize SMALLEST
    * ids' subvectors, picked as `orderBy(id).limit(n)` — Spark plans
    * that as TakeOrderedAndProject (map-side partial top-k, bounded
    * merge), never a corpus-wide sort or a single-task funnel — densely
    * relabeled 0..codebookSize-1 (so search LUTs pack as
    * part·codebookSize + code), then refined by `iters` fixed-point
    * Lloyd passes (bit-identical at any parallelism). A BOUNDED
    * codebook: never a fraction of N. Returns (part, cent_id, c_emb,
    * c_nrm).
    */
  def pqCodebooks(df: DataFrame, idCol: String, embCol: String,
      numSubs: Int, subDim: Int, codebookSize: Int = 16, iters: Int = 1): DataFrame = {
    import graft.operators.Similarity
    val pts = pqSplit(df, idCol, embCol, numSubs, subDim)
    // distinct: a duplicated input id must not join the seed set twice —
    // the dense relabel would then assign cent_id >= codebookSize and
    // break part·codebookSize+code LUT-key injectivity in pqSearchADC.
    // The cent_id < codebookSize guard bounds the codebook even when the
    // input itself repeats an id row (the id column is expected unique;
    // repeated ids beyond this keep the ROW_NUMBER pick engine-stable
    // only up to the duplicate's tie order).
    val seedIds = broadcast(
      df.select(col(idCol).cast("long").as("seed_pid")).distinct()
        .orderBy("seed_pid").limit(codebookSize))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("part")).orderBy(col("pid"))
    // the relabel window runs on numSubs·codebookSize rows, not the corpus
    val init = pts.join(seedIds, col("pid") === col("seed_pid"))
      .withColumn("cent_id", row_number().over(w).cast("long") - 1)
      .filter(col("cent_id") < codebookSize)
      .select(col("cent_id"), col("part"), col("emb").as("c_emb"))
    Similarity.lloyd(pts, init, iters, Similarity.L2)
  }

  /** Encode a corpus against trained codebooks: per-subvector argmin in
    * one codegen'd broadcast projection, codes collected part-ordered.
    * Returns (<idCol>, codes array<long>).
    */
  def pqEncode(df: DataFrame, idCol: String, embCol: String,
      codebooks: DataFrame, numSubs: Int, subDim: Int): DataFrame = {
    import graft.operators.Similarity
    Similarity.assignTo(pqSplit(df, idCol, embCol, numSubs, subDim),
        codebooks, Similarity.L2)
      .groupBy(col("pid").as(idCol)).agg(Similarity.pqCodesAgg.as("codes"))
  }

  /** ADC top-k search over encoded codes: per query one exact
    * subvector→codeword distance table (numSubs·codebookSize doubles,
    * keyed part·codebookSize + code) broadcast against ONE codes scan —
    * each candidate pays numSubs map picks + adds inside codegen, the
    * corpus never shuffles, ranking through the bounded-heap TopKPerKey.
    * Self-pairs (cand id = query id) are excluded. Returns (q_id,
    * cand_id, adc_dist).
    */
  def pqSearchADC(codes: DataFrame, codebooks: DataFrame, queries: DataFrame,
      idCol: String, embCol: String, numSubs: Int, subDim: Int,
      codebookSize: Int = 16, k: Int = 5): DataFrame = {
    import graft.operators.Similarity
    val scored = Similarity.adcScores(pqLuts(codebooks, queries, idCol, embCol,
      subDim, codebookSize), codes, idCol, numSubs, codebookSize)
    topKPerKey(scored.withColumn("neg_dist", -col("adc_dist")),
        "q_id", "neg_dist", "cand_id", k)
      .select("q_id", "cand_id", "adc_dist")
  }

  /** [[pqSearchADC]]'s query side: (q_id, q_emb, lut) per query — L2
    * distances need no norm, so zero vectors stay.
    */
  private[graft] def pqLuts(codebooks: DataFrame, queries: DataFrame,
      idCol: String, embCol: String, subDim: Int, codebookSize: Int): DataFrame =
    graft.operators.Similarity.withAdcLut(
      queries.select(col(idCol).cast("long").as("q_id"), col(embCol).as("q_emb")),
      codebooks, codebookSize, subDim)

  /** Lloyd-refined IVF cosine top-k over any (id, float-array) corpus and
    * query frames — see graft.operators.Similarity.ivfSearch (bounded
    * seed cells, fixed-point Lloyd, broadcast argmin assignment,
    * TopKPerKey re-rank).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, cells: Int = 256, nprobe: Int = 2, iters: Int = 1,
      k: Int = 5): DataFrame =
    graft.operators.Similarity.ivfSearch(corpus, queries, idCol, embCol,
      cells, nprobe, iters, k)

  /** [[ivfTopK]] with nprobe auto-tuned from the index's cell-occupancy
    * stats (size-biased mean occupancy → smallest probe count expected to
    * surface k·oversample candidates) — see
    * graft.operators.Similarity.ivfSearchAuto. The tuned limit is
    * computed plan-side from a one-row occupancy aggregate, so no driver
    * action splits index build from search.
    */
  def ivfTopKAuto(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, cells: Int = 256, iters: Int = 1, k: Int = 5,
      oversample: Int = 8): DataFrame =
    graft.operators.Similarity.ivfSearchAuto(corpus, queries, idCol, embCol,
      cells, iters, k, oversample)

  /** IVF+PQ composed top-k (the canonical production ANN shape — FAISS's
    * IVFADC family, here the no-residual variant so both index parts stay
    * engine-exact): a coarse cosine quantizer routes each query to its
    * top-`nprobe` cells, and candidates are ADC-scored from their PQ
    * CODES — the raw vectors are touched only at index build, and unlike
    * [[pqSearchADC]] (one full codes scan per query set) the codes table
    * is probed by CELL KEY, so at 100 TB a query batch reads only its
    * cells' code slivers:
    *
    *   scan mass ≈ |probed cells| · avg cell codes,  not |corpus|.
    *
    * Both index parts are the library's existing machinery — the bounded
    * seed + fixed-point-Lloyd coarse cells of [[ivfTopK]] and the
    * per-subvector codebooks of [[pqCodebooks]] — so the composition is
    * bit-exact against the composed oracle. The probe side (each
    * query's LUT, once per probed cell) is broadcast; candidate codes
    * join their cell assignment on the id key and the probe set on the
    * cell key; ranking
    * through the bounded-heap TopKPerKey on (adc_dist asc, cand_id).
    * A mass-duplicated hot cell concentrates this join exactly like the
    * IVF list probe — serve from a persisted layout with the
    * Similarity.splitHotCells hot-cell split when cell occupancy demands it.
    */
  def ivfPqSearchADC(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, cells: Int = 16, nprobe: Int = 4, numSubs: Int = 4,
      subDim: Int = 16, codebookSize: Int = 16, k: Int = 5,
      trainIters: Int = 1): DataFrame = {
    val (_, c1p, assign1) = graft.operators.Similarity.ivfBuild(
      corpus, idCol, embCol, cells, iters = 1)
    val cbs = pqCodebooks(corpus, idCol, embCol, numSubs, subDim, codebookSize,
      iters = trainIters)
    val cwc = graft.operators.Similarity.ivfPqCodes(corpus, idCol, embCol, cbs,
      numSubs, subDim, assign1)
    ivfPqSearchADCFromIndex(c1p.drop("part"), cbs, cwc, queries, idCol,
      embCol, nprobe, numSubs, subDim, codebookSize, k)
  }

  /** [[ivfPqSearchADC]]'s search tail over PERSISTED index parts — the
    * serving deployment shape (an IVFADC index is built offline; a query
    * batch only searches): `cents` are the coarse cell centroids
    * (cent_id, c_emb, c_nrm), `codebooks` the PQ codebooks, `codes` the
    * cell-keyed code layout (<idCol>, codes, cent_id) — stored
    * `bucketBy(cent_id)` so each probed cell's codes read with zero
    * exchange. Training is deterministic (bounded seeds, fixed-point
    * Lloyd), so serving from the persisted parts is bit-identical to the
    * inline build.
    *
    * Hot-cell split, as in the IVF list probe (Similarity.splitHotCells):
    * a mass-duplicated corpus concentrates most codes AND most probes
    * into one cell, whose single bucketed-scan task would ADC-score
    * hot_queries × hot_cell candidates. A PRE-SPLIT persisted layout
    * (detected by the graft.presplit metadata flag on the codes' slice
    * column: hot cells content-hash-sliced at build time and bucketed on
    * (cent_id, slice)) serves with NO runtime repartition and no
    * occupancy read. Otherwise, cells whose code count exceeds
    * `hotCellBound` (floored at corpus/partitions) redistribute by a
    * content hash of the id before the probe join; the probe side stays
    * broadcast, so sub-slices score independently and union exactly.
    * That split decision reads the persisted `stats` when provided
    * (≤`cells` occupancy rows — bounded index metadata), else a codes
    * aggregate.
    */
  def ivfPqSearchADCFromIndex(cents: DataFrame, codebooks: DataFrame,
      codes: DataFrame, queries: DataFrame, idCol: String, embCol: String,
      nprobe: Int = 4, numSubs: Int = 4, subDim: Int = 16,
      codebookSize: Int = 16, k: Int = 5,
      hotCellBound: Long = graft.operators.Similarity.hotCellBound,
      stats: Option[DataFrame] = None): DataFrame = {
    import graft.operators.Similarity
    val probeLut = ivfPqProbeLuts(cents, codebooks, queries, idCol, embCol,
      nprobe, subDim, codebookSize)
    val scored = Similarity.splitHotCells(codes, stats, idCol, hotCellBound)(
      Similarity.adcScores(probeLut, _, idCol, numSubs, codebookSize,
        col("cent_id") === col("p_cent")))
    topKPerKey(scored.withColumn("neg_dist", -col("adc_dist")),
        "q_id", "neg_dist", "cand_id", k)
      .select("q_id", "cand_id", "adc_dist")
  }

  /** [[ivfPqSearchADCFromIndex]]'s query side: (q_id, lut, p_cent) per
    * query and probed cell — the LUT is built once per query, BEFORE the
    * probe explode duplicates the row; zero-norm queries drop out
    * (Similarity.queryVecs).
    */
  private[graft] def ivfPqProbeLuts(cents: DataFrame, codebooks: DataFrame,
      queries: DataFrame, idCol: String, embCol: String, nprobe: Int,
      subDim: Int, codebookSize: Int): DataFrame = {
    import graft.operators.Similarity
    Similarity.probeCells(Similarity.withAdcLut(
        Similarity.queryVecs(queries, idCol, embCol), codebooks, codebookSize, subDim),
      cents, lit(nprobe)).select("q_id", "lut", "p_cent")
  }

  /** Exact re-rank of an ANN shortlist against the ORIGINAL vectors —
    * the refine step (FAISS RefineFlat shape) every production IVFADC
    * deployment runs: the quantized index proposes `shortlist` rows
    * (q_id, cand_id, ...), and only those candidates' true embeddings
    * are fetched and scored with exact cosine, recovering the recall PQ
    * approximation loses for the price of a query-sized join. Scale
    * shape: the shortlist is |Q|·k' rows — broadcast — so the corpus
    * scan is probed by id (bucketed/partition-pruned at 100 TB) and
    * never shuffles; exact scores rank through the bounded-heap
    * TopKPerKey. Scores are the house engine-exact sequential-fold
    * cosine, so refined output is bit-comparable to brute force on the
    * shortlisted candidates.
    */
  def refineTopK(corpus: DataFrame, shortlist: DataFrame, queries: DataFrame,
      idCol: String, embCol: String, k: Int): DataFrame = {
    import graft.functions.vec.vec_dot
    val q = queries.select(col(idCol).cast("long").as("rq_id"),
        col(embCol).as("rq_emb"))
      .withColumn("rq_nrm", sqrt(vec_dot(col("rq_emb"), col("rq_emb"))))
      .filter(col("rq_nrm") > 0)
    val pairs = shortlist.select(col("q_id"), col("cand_id"))
    // barrier on the fetched-side norm: without it, alias-substituting
    // pushdown clones the full-width dot product below the broadcast
    // probe into the CORPUS scan — every corpus row then pays O(d) to
    // gate a |Q|·k'-row sliver (and the surviving rows paid it twice).
    // At 100 TB that is a corpus-wide pass for a sliver-sized need; the
    // barrier pins the norm to its post-probe projection so only fetched
    // candidates are scored (r18; the Similarity.normed r17 idiom —
    // plans/r18/ann_ivfpq_refine_topk_{before,after}.txt).
    val fetched = graft.operators.Similarity.normed(corpus
      .select(col(idCol).cast("long").as("rc_id"), col(embCol).as("rc_emb"))
      .join(broadcast(pairs), col("rc_id") === col("cand_id")), "rc_emb", "rc_nrm")
    val scored = fetched.join(broadcast(q), col("rq_id") === col("q_id"))
      .select(col("q_id"), col("cand_id"),
        (vec_dot(col("rq_emb"), col("rc_emb")) /
          (col("rq_nrm") * col("rc_nrm"))).as("cosine"))
    topKPerKey(scored, "q_id", "cosine", "cand_id", k)
      .select("q_id", "cand_id", "cosine")
  }

  /** Embedding-KNN label vote over any labeled (id, float-array) corpus —
    * the generic face of the registered ann_knn_classify (the
    * seed-similarity quality-classifier verb): each query's k
    * exact-cosine nearest corpus rows vote, majority label wins (votes
    * desc, then smallest label — deterministic). Labels ride the scored
    * side of the broadcast probe, so no second corpus join fetches them;
    * the vote window runs over the query-bound winner sliver only.
    * Queries must be broadcast-small (a labeled seed batch / micro-batch
    * at 100 TB); the corpus scans once and never shuffles.
    */
  def knnClassify(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, labelCol: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val votes = topKPerKey(labeledCosines(corpus, queries, idCol, embCol, labelCol),
        "q_id", "cosine", "cand_id", k)
      .groupBy(col("q_id"), col("label")).agg(count(lit(1)).as("n"))
    votes
      // tie-break label order: NULLS LAST to match the DuckDB oracle's
      // default — Spark ASC is NULLS FIRST, and a null-label vote group
      // tying a real label would otherwise pick differently per engine
      .withColumn("rn", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("n").desc, col("label").asc_nulls_last)))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("label").as("pred_label"), col("n").as("votes"))
  }

  /** [[knnClassify]]'s scored side: every (query, corpus row) pair as
    * (q_id, cand_id, label, cosine), zero-norm rows of either side
    * dropped (the barrier-pinned Similarity.normed gate). The queries are
    * the broadcast side of one corpus scan.
    */
  private[graft] def labeledCosines(corpus: DataFrame, queries: DataFrame,
      idCol: String, embCol: String, labelCol: String): DataFrame = {
    import graft.functions.vec.vec_dot
    import graft.operators.Similarity.normed
    val v = normed(corpus.select(col(idCol).cast("long").as("c_id"),
      col(embCol).as("c_emb"), col(labelCol).as("label")), "c_emb", "c_nrm")
    val q = normed(queries.select(col(idCol).cast("long").as("q_id"),
      col(embCol).as("q_emb")), "q_emb", "q_nrm")
    v.join(broadcast(q), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id").as("cand_id"), col("label"),
        (vec_dot(col("q_emb"), col("c_emb")) /
          (col("q_nrm") * col("c_nrm"))).as("cosine"))
  }

  /** SimHash near-dup pairs over any (doc_id, text) frame through the
    * multi-block band machinery — see
    * graft.operators.Dedup.{simhashSignatures, simhashPairsFromSigs}.
    * The default m=4 is the 4×16-bit layout; pass
    * m = [[simhashBandLayoutFor]](corpusSize) to scale band occupancy
    * with the corpus.
    */
  def simhashNearDupPairs(docs: DataFrame, m: Int = 4, d: Int = 3): DataFrame =
    graft.operators.Dedup.simhashPairsFromSigs(
      graft.operators.Dedup.simhashSignatures(docs), m, d)

  /** Cheapest C(m, m−d) simhash band layout whose key space keeps
    * expected bucket occupancy bounded at `nDocs` — see
    * graft.operators.Dedup.simhashLayoutFor.
    */
  def simhashBandLayoutFor(nDocs: Long, d: Int = 3): Int =
    graft.operators.Dedup.simhashLayoutFor(nDocs, d)

  /** Exact membership dedup of a delta against a corpus, bloom-
    * prefiltered — see graft.operators.Dedup.bloomNewDocs; the bucketed
    * form scales past the one-literal contract
    * (graft.operators.Dedup.bloomNewDocsBucketed).
    */
  def bloomNewDocs(corpus: DataFrame, delta: DataFrame,
      expectedItems: Long): DataFrame =
    graft.operators.Dedup.bloomNewDocs(corpus, delta, expectedItems)
  def bloomNewDocsBucketed(corpus: DataFrame, delta: DataFrame,
      expectedItemsPerBucket: Long, buckets: Int): DataFrame =
    graft.operators.Dedup.bloomNewDocsBucketed(
      corpus, delta, expectedItemsPerBucket, buckets)

  /** Size-adaptive simhash near-dup pairs: ONE cheap count picks the
    * band layout ([[simhashBandLayoutFor]]) so callers never hand-tune
    * m — the 4×16 layout on small corpora, C(6,3)/C(8,5) combinations
    * as the corpus grows into band-saturation territory.
    */
  def simhashNearDupPairsAuto(docs: DataFrame, d: Int = 3): DataFrame = {
    val sigs = graft.CacheRegistry.track(
      graft.operators.Dedup.simhashSignatures(docs))
    val m = simhashBandLayoutFor(math.max(1L, sigs.count()), d)
    graft.operators.Dedup.simhashPairsFromSigs(sigs, m, d)
  }

  /** Size-adaptive membership dedup (which delta docs are content-new):
    * ONE cheap distinct-count of the corpus picks the cheapest correct
    * plan — a plain anti-join when the corpus is dimension-sized (a
    * bloom would cost more than it saves), a single bloom literal up to
    * the one-literal contract, per-bucket filters beyond it. All three
    * produce the identical exact answer; the count only moves cost.
    *
    * The bucketed form sizes BOTH knobs from n: buckets = ⌈n/2e8⌉,
    * items-per-bucket = ⌈n/buckets⌉ — each bucket inside the one-
    * literal contract. No driver budget constrains the product since
    * r13 (the filters are a distributed (bkt, bf) frame joined by
    * bucket — see bloomNewDocsBucketed's residency mechanics), so the
    * tier covers corpora to 65536 × 2e8 ≈ 1.3e13 distinct texts; past
    * it this fails fast and the caller partitions into epochs.
    */
  /** Bucket sizing for [[newDocs]]'s per-bucket bloom tier: both knobs
    * derive from n so buckets·items covers n while staying inside the
    * per-bucket one-literal contract (≤2e8 items ≈ 240 MB — one filter
    * must fit one task/row comfortably). No whole-job residency budget
    * applies since r13: the filters live in a distributed (bkt, bf)
    * frame joined by bucket (never the driver, never every task — see
    * bloomNewDocsBucketed's residency mechanics), so the ceiling is
    * the bucket-count range itself: 65536 × 2e8 ≈ 1.3e13 distinct
    * texts. Past THAT, partition the corpus into epochs and run
    * per-epoch jobs.
    */
  def bloomBucketSizing(n: Long): (Int, Long) = {
    require(n <= 65536L * 200000000L,
      s"newDocs: corpus has $n distinct texts — past the 65536-bucket × " +
        "2e8-items ceiling of the bucketed bloom tier; partition into " +
        "epochs and run per-epoch jobs")
    val buckets = ((n + 199999999L) / 200000000L).toInt // ⌈n/2e8⌉ ≤ 65536
    val perBucket = (n + buckets - 1) / buckets         // ⌈n/buckets⌉ ≤ 2e8
    (buckets, perBucket)
  }

  def newDocs(corpus: DataFrame, delta: DataFrame,
      antiJoinBelow: Long = 100000L): DataFrame = {
    val c = graft.CacheRegistry.track(corpus)
    val n = c.select(col("text")).distinct().count()
    if (n <= antiJoinBelow)
      delta.join(c.select(col("text").as("c_text")),
          col("text") === col("c_text"), "left_anti")
        .select(col("doc_id"), md5(col("text")).as("content_hash"))
    else if (n <= 200000000L)
      graft.operators.Dedup.bloomNewDocs(c, delta, expectedItems = n)
    else {
      val (buckets, perBucket) = bloomBucketSizing(n)
      graft.operators.Dedup.bloomNewDocsBucketed(c, delta,
        expectedItemsPerBucket = perBucket, buckets = buckets)
    }
  }

  /** The bloom family's maintenance verbs on the library surface (r15;
    * geometry-hardened r16 per ADVICE — the newDocs membership check
    * above answers one shard; these are the warehouse lifecycle around
    * it):
    *   - [[bloomFilters]] builds the per-bucket (bkt, bf) state over a
    *     corpus as a [[BloomState]] — persist `state.filters`
    *     `bucketBy(bkt)` and re-wrap with the SAME geometry on read;
    *     the bucket key is always recomputed from text here (a caller
    *     frame's pre-existing `bkt` column is dropped — the trusted-
    *     layout shortcut is an internal contract, not a public one);
    *   - [[bloomAbsorb]] OR-merges an arriving shard's filters into
    *     the state in a |buckets|-row job, BYTE-identical to a rebuild
    *     over the union. FULL geometry is validated fail-fast: the
    *     wrapper catches bucket-count drift (which re-keys every text
    *     and would otherwise declare true duplicates "proven new" with
    *     no exception anywhere), while bloom_or's
    *     IncompatibleMergeException alone only catches bit-array-size
    *     drift within a bucket;
    *   - [[bloomNewDocsAgainst]] answers membership of a delta against
    *     the (possibly just-absorbed) state + an exact-verify corpus —
    *     the dedup_bloom_upsert serve with the state's own bucket
    *     count, the delta re-keyed from text, and NO cached
    *     intermediate (the registered-op harness drains its cache
    *     registry; a library caller shouldn't have to). The streaming
    *     twin is [[graft.streaming.EventStreams.bloomNewStream]].
    */
  def bloomFilters(corpus: DataFrame, expectedItemsPerBucket: Long,
      buckets: Int): BloomState =
    BloomState(
      graft.operators.Dedup.bloomBucketFilters(
        graft.operators.Dedup.withTextBkt(corpus.drop("bkt"), buckets),
        expectedItemsPerBucket, parts = buckets),
      buckets, expectedItemsPerBucket)

  def bloomAbsorb(state: BloomState, shard: BloomState): BloomState = {
    state.requireSameGeometry(shard, "bloomAbsorb")
    state.copy(filters = graft.operators.Dedup
      .bloomMergedFilters(state.filters, shard.filters))
  }

  def bloomNewDocsAgainst(state: BloomState, verifyCorpus: DataFrame,
      delta: DataFrame): DataFrame =
    graft.operators.Dedup.bloomUpsertServe(
      state.filters, state.filters.limit(0),
      Seq(graft.operators.Dedup.contentHashes(verifyCorpus)),
      delta.drop("bkt"), state.buckets, cacheProbe = false)

  /** SCD-1 MERGE INTO as a library verb: upsert `delta` into `target`
    * on `keyCol` — matched keys take the delta's values, unmatched
    * delta keys insert, untouched target rows pass through, plus a
    * `merge_action` audit column ('updated'/'inserted'/'unchanged').
    * One co-partitioned full-outer join (never broadcastable); on a
    * bucketed warehouse dimension the target side reads exchange-free.
    * Both frames must share a schema; the registered q_merge_upsert is
    * this over the customer dimension. Per-column semantics are
    * NON-NULL update (coalesce): a null in a matched delta column keeps
    * the target's value — "set to null" needs a sentinel, the usual
    * SCD-1 coalesce contract.
    *
    * PRECONDITION (ADVICE r15): `delta` must be unique on `keyCol` —
    * SQL MERGE rejects multi-match sources, and a duplicated delta key
    * here would fan the full-outer join out to multiple rows per key.
    * Guarded in-plan by default (`requireUniqueDelta`): a windowed
    * per-key count over the delta raises at execution time on the
    * first duplicate instead of silently multiplying rows. The window
    * keys on `keyCol`, the same partitioning the join needs, so the
    * guard adds a delta-side sort but no extra exchange; callers with
    * a provably-unique source (a keyed upstream aggregate) may disable
    * it. Target-side duplicates pass through by design — SCD-1 updates
    * every matching target row.
    */
  def mergeUpsert(target: DataFrame, delta: DataFrame,
      keyCol: String, requireUniqueDelta: Boolean = true): DataFrame = {
    require(target.columns.sameElements(delta.columns),
      s"mergeUpsert: schemas differ — target ${target.columns.mkString(",")} " +
        s"vs delta ${delta.columns.mkString(",")}")
    // the guard/presence markers below ride withColumn, which REPLACES a
    // same-named user column: a real '_d'/'_t'/'_kn' column would pass
    // the schema check and then be silently overwritten (every matched
    // row's '_d' becoming literal true is data corruption, not an error)
    val reserved = Seq("_kn", "_d", "_t").filter(target.columns.contains)
    require(reserved.isEmpty,
      s"mergeUpsert: column name(s) ${reserved.mkString(", ")} collide " +
        "with the verb's internal marker columns — rename them first " +
        "(ADVICE r16)")
    val guarded =
      if (!requireUniqueDelta) delta
      else delta
        .withColumn("_kn", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(keyCol)))
        // assert_true returns NULL when the predicate holds and throws
        // otherwise, so the filter keeps every valid row and the plan
        // fails loudly on the first duplicated delta key. NULL keys are
        // exempt: SQL MERGE's null source keys never multi-match — each
        // is simply NOT MATCHED and inserts on its own
        .filter(assert_true(col("_kn") === 1 || col(keyCol).isNull,
          lit(s"mergeUpsert: delta has duplicate '$keyCol' keys — MERGE " +
            "semantics require a unique-key source")).isNull)
        .drop("_kn")
    // presence markers, NOT key nullability, decide the merge_action: a
    // null-key delta row misses the join (null never equals) yet IS an
    // insert — reading d.keyCol IS NULL would mislabel it 'unchanged'
    val d0 = guarded.withColumn("_d", lit(true))
    val t0 = target.withColumn("_t", lit(true))
    val valueCols = target.columns.filter(_ != keyCol)
    t0.alias("t")
      .join(d0.alias("d"), col(s"d.$keyCol") === col(s"t.$keyCol"),
        "full_outer")
      .select(
        coalesce(col(s"d.$keyCol"), col(s"t.$keyCol")).as(keyCol) +:
        valueCols.map(c => coalesce(col(s"d.$c"), col(s"t.$c")).as(c)) :+
        when(col("d._d").isNull, "unchanged")
          .when(col("t._t").isNull, "inserted")
          .otherwise("updated").as("merge_action"): _*)
  }

  /** N-stage ordered funnel over any event frame: stage i counts only
    * when it occurs STRICTLY AFTER the key's first qualifying stage-i−1
    * occurrence (order, not presence). Returns one row per key with a
    * did_<stage> flag column per stage. Every shuffle keys on `keyCol`,
    * so the partitioning is reused across all N aggregation rounds and
    * the raw log only streams through MIN aggregates — the registered
    * q_funnel_conversion is this with stages view→click→purchase.
    */
  def funnel(events: DataFrame, keyCol: String, typeCol: String,
      tsCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty && stages.toSet.size == stages.size,
      s"funnel: stages must be non-empty and distinct, got $stages")
    val ev = graft.CacheRegistry.track(events.select(
      col(keyCol).as("k"), col(typeCol).as("t"), col(tsCol).as("ts")))
    val keys = ev.select(col("k")).distinct()
    var prev: Option[DataFrame] = None
    val reached = stages.map { st =>
      val r = prev match {
        case None => ev.filter(col("t") === st)
            .groupBy("k").agg(min(col("ts")).as("tprev"))
        case Some(p) => ev
            // <=> (the sessionize/valueRankBlocks convention): a NULL key
            // is its own funnel subject — === would silently zero every
            // did_* flag for the null cohort while keeping its row
            .join(p.withColumnRenamed("k", "pk"), col("k") <=> col("pk"))
            .filter(col("t") === st && col("ts") > col("tprev"))
            .groupBy("k").agg(min(col("ts")).as("tprev"))
      }
      val cached = graft.CacheRegistry.track(r)
      prev = Some(cached)
      cached
    }
    stages.zip(reached).foldLeft(keys) { case (acc, (st, rf)) =>
      acc.join(rf.select(col("k").as(s"k_$st"), lit(1L).as(s"hit_$st")),
        col("k") <=> col(s"k_$st"), "left")
    }.select(col("k").as(keyCol) +: stages.map(st =>
      when(col(s"hit_$st").isNotNull, 1L).otherwise(0L).as(s"did_$st")): _*)
  }

  /** The persistable IVF index (centroids + cent_id-keyed inverted
    * lists) — see graft.operators.Similarity.ivfIndex; serve a query
    * stream against it with graft.streaming.AnnServe.ivfServeStream.
    */
  def ivfIndex(corpus: DataFrame, idCol: String, embCol: String,
      cells: Int = 256, iters: Int = 1): (DataFrame, DataFrame) =
    graft.operators.Similarity.ivfIndex(corpus, idCol, embCol, cells, iters)

  /** Incremental maintenance of persisted ANN indexes — assign a delta
    * shard against the FROZEN quantizers, append to the cell-keyed
    * layout, merge occupancy stats, re-derive the hot-cell pre-split
    * (the dedup_incremental contract applied to ANN; reference analog
    * Optimization.addIndex + IncrementalResult). See
    * graft.operators.Similarity.{ivfIndexUpsert, ivfPqIndexUpsert}.
    */
  def ivfIndexUpsert(cents: DataFrame, lists: DataFrame, stats: DataFrame,
      delta: DataFrame, idCol: String = "vec_id",
      embCol: String = "embedding",
      hotCellBound: Long = graft.operators.Similarity.hotCellBound)
      : (DataFrame, DataFrame) =
    graft.operators.Similarity.ivfIndexUpsert(cents, lists, stats, delta,
      idCol, embCol, hotCellBound)
  def ivfPqIndexUpsert(cents: DataFrame, codebooks: DataFrame,
      codes: DataFrame, stats: DataFrame, delta: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding",
      numSubs: Int = 4, subDim: Int = 16,
      hotCellBound: Long = graft.operators.Similarity.hotCellBound)
      : (DataFrame, DataFrame) =
    graft.operators.Similarity.ivfPqIndexUpsert(cents, codebooks, codes,
      stats, delta, idCol, embCol, numSubs, subDim, hotCellBound)

  /** Train/eval decontamination over any (id, shingles) frames — see
    * graft.operators.Pipeline.decontaminate (benchmark n-grams broadcast,
    * per-row overlap, zero extra shuffle).
    */
  def decontaminate(train: DataFrame, bench: DataFrame, tau: Double = 0.5): DataFrame =
    graft.operators.Pipeline.decontaminate(train, bench, tau)

  /** Incremental near-dup pairs of a delta frame against a persisted
    * corpus sketch table — see graft.operators.Dedup.incrementalPairs.
    * Build both sketch tables with [[sketchTable]]: the result equals
    * [[nearDupPairs]] over corpus ∪ delta restricted to the pairs that
    * touch the delta. A table whose `shingles` are gram strings (older
    * graft) does not score against digest shingles — rebuild it.
    */
  def incrementalNearDupPairs(corpusSketches: DataFrame, deltaSketches: DataFrame,
      jaccardMin: Double = 0.2): DataFrame =
    graft.operators.Dedup.incrementalPairs(corpusSketches, deltaSketches, jaccardMin)

  /** The (h, n) paragraph-hash count state of a (doc_id, paras) frame —
    * persist bucketBy(h) at scale; see
    * graft.operators.Dedup.paragraphHashCounts.
    */
  def paragraphHashCounts(withParas: DataFrame): DataFrame =
    graft.operators.Dedup.paragraphHashCounts(withParas)

  /** Maintenance-cadence compaction of absorbed additive counts back
    * into the bucketed state layout ((g, n) gram counts, (h, n)
    * paragraph hashes) — see graft.operators.Dedup.compactCountState.
    */
  def compactCountState(spark: SparkSession, base: DataFrame,
      absorb: DataFrame, keyCol: String, targetTable: String): DataFrame =
    graft.operators.Dedup.compactCountState(spark, base, absorb, keyCol,
      targetTable)

  /** The persisted MinHash sketch table of any (id, text) frame:
    * (doc_id, shingles, sketch), where `shingles` are the distinct
    * word-5-shingle MD5 digests (32-char lowercase hex, ascending) and
    * `sketch` their first 8 — see graft.operators.Dedup.sketchTable.
    * Store it bucketed by doc_id for exchange-free re-runs. A table
    * written by older graft holds gram STRINGS in `shingles`; rebuild it
    * before serving it with [[incrementalNearDupPairs]].
    */
  def sketchTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.operators.Dedup.sketchTable(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text")))

  /** Sequence packing of any (id, tokens) frame: docs laid into a token
    * stream per shard (id residue), cut every `budget` tokens; returns
    * (id, shard, tokens, pack_id, pack_offset). Shard count is the
    * parallelism knob — each shard is one partitioned running-sum
    * window, so per-shard depth is rows/shards. shards ≤ 0 (the
    * default) derives the DATA-SIZED count via [[partitionsFor]] (one
    * cheap count), keeping window depth bounded as the corpus grows;
    * pass an explicit value when pack ids must replay across runs (the
    * registered op pins 8 to match its oracle).
    */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
      budget: Long = 2048L, shards: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = if (shards > 0) shards
      else partitionsFor(df.sparkSession, df.count())
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(idCol), pmod(col(idCol), lit(s.toLong)).as("shard"),
        col(tokensCol).cast("long").as("tokens"))
      .withColumn("start_tok", sum(col("tokens")).over(w) - col("tokens"))
      .select(col(idCol), col("shard"), col("tokens"),
        expr(s"start_tok div $budget").as("pack_id"),
        pmod(col("start_tok"), lit(budget)).as("pack_offset"))
  }

  /** PII redaction of any text column: emails/IPv4s/phone-shaped numbers
    * replaced by typed tags, plus a per-row match count — one codegen'd
    * projection, no shuffle. Returns the frame with `<textCol>_redacted`
    * and `n_pii` appended.
    */
  /** Context-window chunking over any (id, text) frame — fixed-size
    * overlapping windows, one scan, no shuffle; see
    * graft.operators.Pipeline.chunkFrame. Returns (id, chunk_id, chunk,
    * chunk_chars).
    */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
      window: Int = 512, overlap: Int = 64): DataFrame =
    graft.operators.Pipeline.chunkFrame(df, idCol, textCol, window, overlap)

  /** Deterministic split assignment over any frame with a stable id:
    * md5-coin labels for arbitrary integer-percent weights (sum 100), so
    * rows keep their split across reruns and corpus growth — see
    * graft.operators.Pipeline.splitAssign. Returns the input plus a
    * `split` column.
    */
  def splitAssign(df: DataFrame, idCol: String,
      splits: Seq[(String, Int)] =
        Seq(("train", 90), ("val", 5), ("test", 5))): DataFrame =
    graft.operators.Pipeline.splitAssign(df, idCol, splits)

  /** Stride-scheduled mixture order over any (id, domain) frame —
    * per-row virtual times whose ascending order yields the target
    * domain mixture in every prefix; see
    * graft.operators.Pipeline.mixSchedule. Weights normalize internally;
    * rows with unlisted domains are excluded. shards ≤ 0 (the default)
    * derives a data-sized count via [[partitionsFor]]; pass an explicit
    * value when ranks must replay across runs.
    */
  def mixSchedule(df: DataFrame, idCol: String, domainCol: String,
      weights: Map[String, Double], shards: Int = 0): DataFrame =
    graft.operators.Pipeline.mixSchedule(df, idCol, domainCol, weights, shards)

  def redactPii(df: DataFrame, textCol: String): DataFrame = {
    val email = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
    val ipv4 = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
    val phone = """\b\d{3}-\d{3}-\d{4}\b"""
    def matches(pat: String) =
      size(regexp_extract_all(col(textCol), lit(pat), lit(0))).cast("long")
    // null text → 0 matches and null redacted text (not a null count —
    // downstream sums over n_pii must not silently drop rows)
    df.withColumn("n_pii",
        coalesce(matches(email) + matches(ipv4) + matches(phone), lit(0L)))
      .withColumn(s"${textCol}_redacted",
        regexp_replace(regexp_replace(regexp_replace(col(textCol),
          lit(email), lit("<EMAIL>")),
          lit(ipv4), lit("<IP>")),
          lit(phone), lit("<PHONE>")))
  }

  /** Salted aggregation / join re-exports (graft.operators.Skew): the
    * hot-key mitigation pair, content-derived salts (retry-safe).
    */
  def saltedJoin(probe: DataFrame, build: DataFrame, probeKey: String,
      buildKey: String, salts: Int): DataFrame =
    graft.operators.Skew.saltedJoin(probe, build, probeKey, buildKey, salts)
  def saltedSumCount(df: DataFrame, key: String, valueCol: Column,
      salts: Int): DataFrame =
    graft.operators.Skew.saltedSumCount(df, key, valueCol, salts)

  implicit class GraftFrameOps(private val df: DataFrame) extends AnyVal {

    /** typeCase (traversableOps.scala:72): ordered (tag → projection)
      * dispatch producing one column.
      */
    def typeCase(tagCol: Column, cases: (String, Column)*)(default: Column): Column =
      cases.foldRight(default) { case ((tag, out), acc) =>
        when(tagCol === tag, out).otherwise(acc)
      }

    /** groupBySel (traversableOps.scala:41): group by a key selector and
      * project each group with a value selector, collected per key.
      */
    def groupBySel(key: Column, sel: Column): DataFrame =
      df.groupBy(key.as("key")).agg(sort_array(collect_list(sel)).as("group"))
  }
}
