package graft.streaming

import graft.operators.ValueWindows
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp
import scala.reflect.runtime.universe.TypeTag

/** SURVEY §2.3 streaming: the Spark-native face of the reference's
  * incremental view maintenance (ivm/collections/IncrementalResult.scala,
  * tests/IVMTest1.scala — materialized query results updated on base-
  * collection deltas). Structured Streaming IS that execution model:
  * each micro-batch applies deltas to the maintained state.
  *
  * These transforms take an (optionally streaming) events-shaped DataFrame
  * (ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE) so specs
  * drive them from MemoryStream and batch callers can reuse them.
  *
  * The windowed-value faces (anomaly, ewma, running, burst, sliding,
  * asof) are per-key state machines that only MAINTAIN the window — a
  * lag ring, a running prefix, a trailing range, an as-of max; a
  * stateless projection then scores what they emit with the batch
  * forms' own Columns ([[graft.operators.ValueWindows]]), so each rule
  * is written once for stream and batch. Arrival-order contract, shared
  * by all six: within a trigger, rows apply per key in (ts, event_id)
  * order, ts at microsecond precision; across triggers, each key's
  * events must arrive in that order (the partition-per-key log), and a
  * trigger boundary must not split a key's same-microsecond group (a
  * RANGE frame and an as-of tie both see the whole instant). Under the
  * contract each face ≡ its simple and blocks batch twins row for row
  * (StreamingSpec's stream ≡ batch table); late data would need the
  * watermark + re-emit treatment the sessionize faces document.
  */
object EventStreams {

  /** Incrementally-maintained windowed counts: tumbling 1h window with a
    * watermark bounding state (late data beyond 2h is dropped — at 100 TB
    * unbounded state is the failure mode, the watermark is the fix).
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("decimal(38,2)").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))

  case class Event(ts: Timestamp, user_id: Long, event_type: String, value: Double)
  case class SessionState(start: Long, lastTs: Long, nEvents: Long, sumValue: Double)
  case class SessionOut(user_id: Long, session_start: Timestamp,
      n_events: Long, sum_value: Double)

  /** Custom stateful sessionization via flatMapGroupsWithState — the
    * mapGroupsWithState path the reference's IVM subscribers correspond to:
    * per-key state updated by deltas, results emitted on session close
    * (30 min inactivity, enforced with an event-time timeout).
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, new Timestamp(s.start), s.nEvents, s.sumValue))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.value))
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            for (e <- sorted) {
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs <= gapMs =>
                  cur = Some(s.copy(lastTs = t, nEvents = s.nEvents + 1,
                    sumValue = s.sumValue + e.value))
                case Some(s) =>
                  closed ::= SessionOut(userId, new Timestamp(s.start), s.nEvents, s.sumValue)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  case class BlockEvent(ts: Timestamp, user_id: Long, event_id: Long)
  case class BlockSessionState(localId: Long, start: Long, lastTs: Long,
      nEvents: Long, minEvent: Long, maxEvent: Long)
  case class BlockSession(user_id: Long, bkt: Long, local_id: Long,
      start_ms: Long, end_ms: Long, n_events: Long,
      first_event: Long, last_event: Long)

  /** Streaming face of the SKEW-SAFE block sessionization
    * ([[graft.api.GraftApi.sessionizeBlocks]]): state is keyed by
    * (user, ⌊t/blockMs⌋) instead of user alone, so one hot key's live
    * state machine spreads across timeline/blockMs parallel state
    * partitions — the same reason the batch twin partitions its windows
    * by (key, block). Emits BLOCK-LOCAL session summaries (local ids
    * 1..n within each block, min/max event ids, start/end millis) as
    * sessions close on the 30-min-style gap or the event-time timeout.
    *
    * Boundary sessions of adjacent blocks are merged by
    * [[mergeBlockSessions]] — a compaction pass over the EMITTED
    * summaries (a per-key pass over session COUNTS, not events — the
    * serial-work bound the batch twin gets from its block-summary
    * running sums). Production shape: stream writes block-local
    * sessions to a sink table; a periodic compaction job folds
    * boundaries. `blockMs >= gapMs` keeps non-adjacent blocks
    * unmergeable, exactly the batch contract.
    */
  def sessionizeBlocksStream(events: Dataset[BlockEvent], gapMs: Long,
      blockMs: Long): Dataset[BlockSession] = {
    require(blockMs >= gapMs,
      s"sessionizeBlocksStream: blockMs ($blockMs) must be >= gapMs ($gapMs) " +
        "or non-adjacent blocks could merge")
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(e => (e.user_id, Math.floorDiv(e.ts.getTime, blockMs)))
      .flatMapGroupsWithState[BlockSessionState, BlockSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case ((userId, bkt), rows, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(BlockSession(userId, bkt, s.localId, s.start,
              s.lastTs, s.nEvents, s.minEvent, s.maxEvent))
          } else {
            // same (ts, tiebreak) total order as the batch window
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[BlockSession]
            var cur = state.getOption
            for (e <- sorted) {
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs <= gapMs =>
                  cur = Some(s.copy(lastTs = t, nEvents = s.nEvents + 1,
                    minEvent = math.min(s.minEvent, e.event_id),
                    maxEvent = math.max(s.maxEvent, e.event_id)))
                case Some(s) =>
                  closed ::= BlockSession(userId, bkt, s.localId, s.start,
                    s.lastTs, s.nEvents, s.minEvent, s.maxEvent)
                  cur = Some(BlockSessionState(s.localId + 1, t, t, 1L,
                    e.event_id, e.event_id))
                case None =>
                  cur = Some(BlockSessionState(1L, t, t, 1L,
                    e.event_id, e.event_id))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** The compaction pass over [[sessionizeBlocksStream]] output: merge a
    * block's FIRST local session into the previous block's LAST when the
    * blocks are adjacent and the boundary gap is within gapMs (chains
    * across many blocks collapse transitively — each boundary merge
    * continues the same global session), then renumber densely per key
    * in time order. Output (user_id, session_id, n_events, first_event,
    * last_event) is exactly the batch q_sessionize_blocks aggregate. The
    * window here runs over session SUMMARIES — at most #sessions rows
    * per key, the compaction-sized input the streaming stage guarantees.
    */
  def mergeBlockSessions(blockSessions: DataFrame, gapMs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("bkt"), col("local_id"))
    blockSessions
      .withColumn("_new",
        when(col("local_id") === 1L &&
          col("bkt") === lag(col("bkt"), 1).over(w) + 1 &&
          col("start_ms") - lag(col("end_ms"), 1).over(w) <= gapMs, 0L)
          .otherwise(1L))
      .withColumn("session_id",
        sum(col("_new")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(sum(col("n_events")).as("n_events"),
        min(col("first_event")).as("first_event"),
        max(col("last_event")).as("last_event"))
  }

  /** Incremental top-type counts (complete mode): the IVM "maintained
    * aggregate view" in its simplest form.
    */
  def typeCounts(events: DataFrame): DataFrame =
    events.groupBy(col("event_type")).agg(count(lit(1)).as("n"))

  /** Streaming exact dedup — the training-pipeline dedup operator in its
    * incremental form: drop re-arrivals of the same content hash, with
    * state bounded by the watermark (a duplicate later than the watermark
    * window is let through rather than keeping unbounded state — the
    * standard at-scale tradeoff).
    */
  def streamingDedup(docs: DataFrame, textCol: String): DataFrame =
    docs
      .withColumn("content_hash", md5(col(textCol)))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming admission face of the bloom membership family (r15 —
    * completing batch-single / batch-bucketed / upsert / STREAMING the
    * way the paragraph family is complete): which arriving docs are
    * content-new vs the corpus whose per-bucket filters are the
    * persisted warehouse state ([[graft.operators.Dedup]]'s
    * persistedBloomFilters / bloomMergedFilters after an absorb)?
    *
    * Stateless stream-static shape — ≡ the batch
    * `bloomNewDocsBucketed` restricted to each micro-batch
    * (StreamingSpec pins it, incl. the null-text routing):
    *   - the arriving stream keys itself by the same
    *     pmod(xxhash64(text), buckets) and meets its bucket's filter
    *     through a stream-static join, SHUFFLE-HASH hinted like the
    *     batch plan — a broadcast would re-ship every bucket's filter
    *     bytes to every task, the residency bug the bucketed form
    *     exists to avoid;
    *   - !probe rows are PROVEN new and skip the verify; probe-positive
    *     and null-probe rows (null text ⇒ null key) pay the exact
    *     stream-static LEFT ANTI join against the corpus texts, where
    *     null never matches and is correctly kept new;
    *   - no watermark, no state: admission consults the corpus table,
    *     never other arrivals (arriving docs deliberately do NOT see
    *     each other — the paragraphDedupStream admission semantics;
    *     absorbing admitted content back is the upsert cadence,
    *     dedup_bloom_upsert's absorb).
    */
  def bloomNewStream(docs: DataFrame, filters: DataFrame,
      verifyCorpus: DataFrame, buckets: Int): DataFrame = {
    import graft.functions.bloom._
    val d = graft.operators.Dedup.withTextBkt(docs, buckets)
    val key = xxhash64(col("text"))
    val probed = d
      .join(filters.hint("shuffle_hash"), Seq("bkt"), "left_outer")
      .withColumn("_maybe", might_contain_keyed(col("bkt"), col("bf"), key))
      .drop("bf")
    val provenNew = probed.filter(!col("_maybe"))
    val verifiedNew = probed.filter(coalesce(col("_maybe"), lit(true))).join(
      verifyCorpus.select(col("text").as("c_text")).distinct(),
      col("text") === col("c_text"), "left_anti")
    provenNew.unionByName(verifiedNew)
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
  }

  /** Incrementally-maintained JOIN view (the reference's IVM maintains
    * join results under deltas too — IVMTest1's join cases): stream-stream
    * inner join of clicks to purchases by the same user within 30 minutes.
    * Both sides carry watermarks and the join condition bounds event-time
    * distance, so Spark can expire buffered state — the unbounded-state
    * failure mode is designed out, same reasoning as q_range_join's
    * bucketing in batch.
    */
  def clickToPurchase(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("value").as("click_value"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "1 hour")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("click_ts"), col("purchase_ts"),
        col("purchase_value"))
  }

  /** Stream-static join: each micro-batch of events enriches against a
    * static dimension (broadcast per batch, no streaming state at all) —
    * the IVM view over a join where only one side receives deltas.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame, eventKey: String,
      dimKey: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim),
      col(eventKey) === col(dimKey), "left")

  /** Incrementally-maintained FLATMAP view (reference
    * IVMFlatMapTest1.scala: a flatMap result kept current under base
    * deltas): each micro-batch's documents explode into token rows with
    * no state at all — a flatMap view is stateless to maintain, each
    * delta's image is just appended. The companion aggregate below is
    * the "view over the view" the reference test layers on top.
    */
  def explodedTokens(docs: DataFrame, textCol: String): DataFrame =
    docs.select(col("ts"), explode(split(col(textCol), " ")).as("token"))

  /** Maintained aggregate OVER the flatMap view (token counts): deltas
    * flow explode → partial count → state update; history is never
    * recomputed.
    */
  def tokenCounts(docs: DataFrame, textCol: String): DataFrame =
    explodedTokens(docs, textCol).groupBy(col("token")).agg(count(lit(1)).as("n"))

  /** Incrementally-maintained DISTINCT view (reference IVMTest1's
    * distinct/union cases): first arrival of each key is emitted, later
    * arrivals update nothing. State is one row per distinct key — bounded
    * by the DOMAIN size, so this form suits low-cardinality keys (event
    * types, language codes); for unbounded domains use
    * [[streamingDedup]]'s watermark-bounded variant instead.
    */
  def distinctTypes(events: DataFrame): DataFrame =
    events.select(col("event_type")).dropDuplicates("event_type")

  /** Incrementally-maintained UNION view (reference IVMTest1's union
    * case): two delta streams merge into one maintained view — stateless,
    * each micro-batch appends both sides' deltas. Layering the distinct
    * view on top gives the set-union semantics of the reference.
    */
  def unionView(a: DataFrame, b: DataFrame): DataFrame = a.unionByName(b)

  /** Native session-window aggregation — the built-in operator face of
    * [[sessionize]]: same 30-minute-gap semantics, state merged by the
    * engine instead of hand-rolled flatMapGroupsWithState.
    */
  def sessionWindowCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("sum_value"))

  case class BucketArrival(h: String, doc_id: Long)
  case class BucketState(ids: List[Long])
  case class CandidatePair(doc_a: Long, doc_b: Long, h: String)

  /** Streaming NEAR-dup candidate generation — the streaming face of
    * dedup_incremental: each arriving document's MinHash sketch hashes
    * are keyed to their posting bucket, whose state holds the doc ids
    * seen there so far; a new arrival emits one candidate pair per
    * co-bucketed prior doc. This is the batch posting-list expansion run
    * incrementally (state = the corpus posting table, micro-batch = the
    * arriving shard). State per bucket is capped: a hot bucket stops
    * emitting rather than going quadratic, and its cap is the same
    * [[graft.operators.Dedup.bucketCap]] the batch caps use; a cap below
    * 2 would never admit a second id, so it is refused. The exact-Jaccard
    * verify stays downstream — candidate generation is the part whose
    * state must live in the stream.
    *
    * Contract against the batch generators: while no bucket holds more
    * than `cap` docs, candidates ≡ the batch bucket self-join. Past the
    * cap they are a SUPERSET: the stream keeps the pairs among a bucket's
    * first `cap` arrivals (doc_id order within a micro-batch), while every
    * batch generator ([[graft.operators.Dedup.cappedPairs]], the
    * incremental serves' `between(2, bucketCap)`) drops an over-cap
    * bucket wholesale. Append mode cannot retract pairs it has already
    * emitted when a later arrival overflows the bucket, so the stream
    * cannot match the batch drop. StreamingSpec pins both cases.
    */
  def nearDupCandidates(sketchBuckets: Dataset[BucketArrival],
      cap: Int = graft.operators.Dedup.bucketCap): Dataset[CandidatePair] = {
    require(cap >= 2,
      s"nearDupCandidates: cap=$cap — a bucket needs two members to emit a pair")
    import sketchBuckets.sparkSession.implicits._
    sketchBuckets
      .groupByKey(_.h)
      .flatMapGroupsWithState[BucketState, CandidatePair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (h: String, rows: Iterator[BucketArrival], state: GroupState[BucketState]) =>
          var ids = state.getOption.map(_.ids).getOrElse(Nil)
          val out = List.newBuilder[CandidatePair]
          // in-batch arrival order pinned by doc_id so replays emit the
          // same pair set regardless of partition-internal row order
          rows.map(_.doc_id).toSeq.distinct.sorted.foreach { id =>
            if (ids.size < cap && !ids.contains(id)) {
              ids.foreach { prev =>
                out += CandidatePair(math.min(prev, id), math.max(prev, id), h)
              }
              ids = id :: ids
            }
          }
          state.update(BucketState(ids))
          out.result().iterator
      }
  }

  case class GramArrival(g: String, doc_id: Long, n_local: Long)

  /** Gram-key format version carried INSIDE the state value. r14 switched
    * the state-machine key from gram strings to md5 digests (both
    * String-typed, so Spark's checkpoint machinery cannot tell them
    * apart); a stream resumed from a pre-r14 checkpoint would silently
    * mix string-keyed old state with digest-keyed arrivals and
    * under-count duplicates. Widening the state schema (n) → (n, kv)
    * makes Spark's state-store schema check (on by default:
    * spark.sql.streaming.stateStore.stateSchemaCheck) REJECT a resumed
    * pre-r14 checkpoint at query start — fail fast instead of silent
    * divergence. r14+ checkpoints carry kv=2 and resume normally; any
    * future key-format change bumps this constant (new schema field or
    * value) so the same guard fires.
    */
  val GramKeyVersion: Int = 2
  case class GramCount(n: Long, kv: Int)
  case class SpanFlag(doc_id: Long, n_local: Long, dup: Boolean)

  /** Per-document 8-word-gram arrivals (g, doc_id, n_local) from a
    * streaming (doc_id, text) frame — the fused
    * [[graft.functions.ShingleMd5GramCounts]] kernel emits the
    * pre-collapsed (digest, count) rows in one in-row pass (no
    * pre-fMGWS stateful aggregation: Structured Streaming disallows an
    * aggregation ahead of flatMapGroupsWithState), so each (doc, gram)
    * reaches the state machine as exactly one arrival carrying its
    * within-doc multiplicity. Keys are gram DIGESTS — the state machine
    * only ever KEYS on grams, so state-per-digest ≡ state-per-gram
    * (the batch fusedGramStream injectivity argument; r14 swapped the
    * batch/incremental sides to digests in the same change, keeping
    * the spec-pinned fold equivalence key-aligned). The old in-row
    * count was O(distinct × total) gram comparisons per document; the
    * kernel's sort+RLE is O(grams log grams).
    */
  def substringGramArrivals(docs: DataFrame): Dataset[GramArrival] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id"), explode(graft.functions.ShingleSketch
          .shingle_md5_gram_counts(coalesce(col("text"), lit("")), 8)).as("a"))
      .select(col("a.g").as("g"), col("doc_id"),
        col("a.cn").cast("long").as("n_local"))
      .as[GramArrival]
  }

  /** Streaming face of the substring-dedup family (completing the
    * batch [dedup_substring] + delta [dedup_substring_incremental] +
    * streaming triad, r11 verdict ask #8): per-GRAM count state via
    * flatMapGroupsWithState — the posting-bucket discipline of
    * [[nearDupCandidates]] with a Long count where the bucket held ids.
    * Each arriving (g, doc, n_local) is flagged ONLINE: duplicated iff
    * the gram was already seen (state count ≥ 1) or repeats within the
    * document itself (n_local ≥ 2) — i.e. state_n + n_local ≥ 2,
    * EXACTLY Dedup.substringIncrementalScore's n_total rule with
    * "corpus" = everything that arrived before. So a document's
    * rolled-up flags equal the incremental face scored against its own
    * prior stream — admission-time semantics (the semDedup serve-face
    * convention): an early document is NOT retro-flagged when a later
    * copy arrives; the batch op answers that retrospective question.
    * StreamingSpec proves the per-doc fold equivalence. In-batch order
    * is pinned by doc_id (replay-stable, the nearDupCandidates
    * discipline); a pre-existing corpus seeds as a lower-id zeroth
    * micro-batch. State per gram is ONE long — a hot gram costs 8
    * bytes, not a posting list.
    */
  def substringScoreStream(grams: Dataset[GramArrival]): Dataset[SpanFlag] = {
    import grams.sparkSession.implicits._
    grams.groupByKey(_.g)
      .flatMapGroupsWithState[GramCount, SpanFlag](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (g: String, rows: Iterator[GramArrival], state: GroupState[GramCount]) =>
          var n = state.getOption.map(_.n).getOrElse(0L)
          val out = rows.toSeq.sortBy(_.doc_id).map { a =>
            val dup = n + a.n_local >= 2L
            n += a.n_local
            SpanFlag(a.doc_id, a.n_local, dup)
          }
          state.update(GramCount(n, GramKeyVersion))
          out.iterator
      }
  }

  /** Batch rollup of [[substringScoreStream]]'s sink — the
    * (doc_id, n_spans, n_dup, dup_frac) shape of the batch/incremental
    * substring ops, computed over the collected span flags.
    */
  def rollupSpanFlags(flags: DataFrame): DataFrame =
    graft.operators.Dedup.substringRollup(flags,
      when(col("dup"), col("n_local")).otherwise(lit(0L)))

  case class FunnelEvent(user_id: Long, event_type: String, ts_us: Long)
  case class FunnelState(tv: Long, tc: Long, tp: Long) // Long.MaxValue = unreached
  case class FunnelFlags(user_id: Long, did_view: Long, did_click: Long,
      did_purchase: Long)

  /** Streaming stage-ordered funnel — the IVM face of
    * q_funnel_conversion, and the per-key ordered-STAGE-machine idiom
    * (distinct from sessionize's gap machine and dedup's posting
    * state): per user the state holds the first view, the first click
    * after it, and the first purchase after that; each arrival advances
    * the machine and emits the user's current flags when they change.
    * Flags are MONOTONE (0→1 only), so the latest (equivalently max)
    * row per user in the append sink IS the batch answer — spec-proven
    * ≡ q_funnel_conversion at end of stream.
    *
    * Ordering contract: within a trigger rows are sorted by ts before
    * applying (replay-stable); across triggers each user's events must
    * arrive in ts order (the partition-per-key log reality) — an
    * earlier-ts view arriving AFTER a later click was already rejected
    * would need event buffering to repair, the same watermark-and-buffer
    * tradeoff sessionize documents.
    */
  def funnelStream(events: Dataset[FunnelEvent]): Dataset[FunnelFlags] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelFlags](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          val M = Long.MaxValue
          val firstSeen = !state.exists
          var s = state.getOption.getOrElse(FunnelState(M, M, M))
          def flags(x: FunnelState) = FunnelFlags(user,
            if (x.tv < M) 1L else 0L,
            if (x.tc < M) 1L else 0L,
            if (x.tp < M) 1L else 0L)
          val before = flags(s)
          rows.toSeq.sortBy(e => (e.ts_us, e.event_type)).foreach { e =>
            e.event_type match {
              case "view" if e.ts_us < s.tv =>
                s = s.copy(tv = e.ts_us)
              case "click" if s.tv < e.ts_us && e.ts_us < s.tc =>
                s = s.copy(tc = e.ts_us)
              case "purchase" if s.tc < e.ts_us && e.ts_us < s.tp =>
                s = s.copy(tp = e.ts_us)
              case _ => ()
            }
          }
          state.update(s)
          val after = flags(s)
          if (firstSeen || after != before) Iterator(after) else Iterator.empty
      }
  }

  /** Streaming decontamination gate — the stream face of
    * Pipeline.decontaminate: arriving training documents score their
    * shingle overlap against the STATIC benchmark gram set through the
    * batch op's own broadcast arm (Pipeline.broadcastDecontam; an eval
    * set is tiny and changes rarely, so it is batch-prepared and joined
    * stream-static). The arriving side's grams are
    * graft.operators.Dedup.shingleDigests, as in batch decontam_ngram.
    * Stateless per-row projection — no watermark, no state store; at
    * 100 TB/day ingest this is the shape that keeps the contamination
    * check on the ingest path instead of a nightly batch.
    * `docs` carries (doc_id, text); `bench` is a static (doc_id,
    * shingles) frame of DIGEST shingles (`Dedup.shingleDigests` of the
    * eval documents). The stream has no posting-list arm: a bench set of
    * more than Pipeline.decontamBroadcastMaxGrams distinct grams is
    * refused here (one count of the static side) — score such a set with
    * batch `decontaminate`.
    */
  def decontamStream(docs: DataFrame, bench: DataFrame, tau: Double): DataFrame = {
    import graft.operators.Pipeline
    val grams = Pipeline.benchGrams(bench)
    val n = grams.count()
    if (n > Pipeline.decontamBroadcastMaxGrams)
      throw new IllegalArgumentException(s"decontamStream: the bench set has " +
        s"$n distinct grams, more than the ${Pipeline.decontamBroadcastMaxGrams} " +
        "a broadcast gram array may hold; score it with batch decontaminate " +
        "(graft.operators.Pipeline.decontaminate), which switches to a " +
        "posting-list join past that bound")
    Pipeline.broadcastDecontam(graft.operators.Dedup.shingleDigests(docs), grams, tau)
  }

  /** Streaming face of text_bpe_encode: arriving documents tokenize and
    * encode on the ingest path — a stateless per-row projection (no
    * watermark, no state store), the decontamStream shape. The
    * projection is SINGLE-SOURCED with the batch op
    * (TextAnalysis.bpeEncodeProjection), so stream ≡ batch by
    * construction; StreamingSpec still proves it across micro-batches.
    */
  def bpeEncodeStream(docs: DataFrame): DataFrame =
    graft.operators.TextAnalysis.bpeEncodeProjection(docs)

  /** One exploded paragraph of an arriving document (pos/para None ⇔
    * the zero-paragraph document — posexplode_outer keeps the row so
    * every doc rides through, the batch convention).
    */
  case class ParaRow(doc_id: Long, pos: Option[Int], para: Option[String],
      nb: Long, drop: Boolean)
  case class ParaDedup(doc_id: Long, n_paras: Long, n_removed: Long,
      text_depara: String)

  /** Streaming face of dedup_paragraph — CCNet-style paragraph
    * ADMISSION on the ingest path: each arriving document's paragraphs
    * check against the corpus's persisted paragraph-hash count table
    * and the document is re-emitted with its already-known-boilerplate
    * paragraphs excised. Drop rule per paragraph = corpus count +
    * within-doc multiplicity ≥ 2 — EXACTLY the batch op's corpus-wide
    * rule over corpus ∪ {doc}, so stream output for a doc ≡
    * [[graft.operators.Dedup.paragraphDedupFrame]] over corpus ∪ {doc}
    * restricted to that doc (spec-proven). Arriving docs deliberately
    * do NOT see each other (admission semantics — the corpus table is
    * the authority; absorbing admitted paragraphs back into it is the
    * warehouse upsert cadence, the dedup_incremental_upsert shape).
    *
    * Plan: within-doc multiplicity computed IN-ROW before the explode
    * (a paragraph repeated inside one arriving doc is a dup regardless
    * of the corpus), one stream-static left join on the hash (the
    * static side is the warehouse table, bucketBy(h) for exchange-free
    * probes — the nearDupVerified discipline; never a broadcast: the
    * corpus hash set is corpus-sized), then per-doc reassembly in
    * flatMapGroupsWithState — stateless across batches (a doc's
    * exploded rows land in its own micro-batch), state type Unit-like
    * and never stored.
    *
    * `corpusParaHashes` is [[graft.operators.Dedup.paragraphHashCounts]]'
    * (h, n) table; only
    * h is consulted (n ≥ 1 already means an arriving copy makes ≥ 2).
    */
  def paragraphDedupStream(withParas: DataFrame,
      corpusParaHashes: DataFrame, joiner: String): Dataset[ParaDedup] = {
    val spark = withParas.sparkSession
    import spark.implicits._
    // within-doc multiplicity without the O(n_paras²) rescan a naive
    // filter-per-paragraph pays: sort the hashes once, keep the values
    // with a sorted-adjacent twin (the duplicated-hash set — sized by
    // the doc's actual dup mass, typically tiny), and flag each
    // paragraph by membership
    val ex = withParas
      .withColumn("hs", expr("transform(paras, x -> md5(lower(x)))"))
      .withColumn("sh", expr("array_sort(hs)"))
      .withColumn("dups", expr(
        "array_distinct(filter(sh, (x, i) -> i > 0 AND sh[i - 1] = x))"))
      .select(col("doc_id"), size(col("paras")).cast("long").as("nb"),
        posexplode_outer(expr(
          "transform(paras, (x, i) -> struct(x as para, hs[i] as h, " +
            "array_contains(dups, hs[i]) as in_doc_dup))")))
      .select(col("doc_id"), col("nb"), col("pos"),
        col("col.para").as("para"), col("col.h").as("h"),
        col("col.in_doc_dup").as("in_doc_dup"))
    ex.join(corpusParaHashes.select(col("h").as("c_h")),
        col("h") === col("c_h"), "left")
      .select(col("doc_id"), col("pos"), col("para"), col("nb"),
        (col("c_h").isNotNull || col("in_doc_dup")).as("drop"))
      .as[ParaRow]
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[Int, ParaDedup](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (id: Long, rows: Iterator[ParaRow], _: GroupState[Int]) =>
          val rs = rows.toVector
          val paras = rs.filter(_.pos.isDefined).sortBy(_.pos.get)
          Iterator.single(ParaDedup(id,
            if (paras.isEmpty) 0L else rs.head.nb,
            paras.count(_.drop),
            paras.filter(!_.drop).flatMap(_.para).mkString(joiner)))
      }
  }

  /** The verify stage on top of [[nearDupCandidates]]: each streamed
    * candidate pair joins the STATIC persisted shingle/sketch table
    * twice (stream-static joins are stateless — the static side is the
    * warehouse sketch table the batch pipeline already maintains,
    * bucketed for exchange-free probes) and pays the same exact-Jaccard
    * check as every batch dedup op. Candidates repeated across buckets
    * re-verify rather than growing dedup state; the sink dedupes, or a
    * downstream `dropDuplicatesWithinWatermark` bounds it — the same
    * at-scale tradeoff streamingDedup documents.
    */
  def nearDupVerified(cands: Dataset[CandidatePair], sketches: DataFrame,
      jaccardMin: Double): DataFrame = {
    graft.operators.Dedup.jaccardVerify(cands.toDF(),
        sketches.select(col("doc_id"), col("shingles")), jaccardMin)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Event row for the windowed-value streaming faces. `value` is
    * Option[Double] BY CONTRACT: the batch twins run on a nullable
    * events.value column (the null-gate corpus injects ~5% NULLs). A
    * null-valued row OCCUPIES its window position (counts in
    * n_window/seq, consumes a lag slot) but contributes nothing to any
    * sum, and an all-null window yields a null output (running_value /
    * ewma_milli None, anomaly 0) — the batch window conventions, which
    * hold by construction since the batch projections score the window.
    */
  case class ValEvent(ts: Timestamp, user_id: Long, event_id: Long,
      value: Option[Double])
  case class AnomalyOut(user_id: Long, event_id: Long, x_milli: Option[Long],
      n_window: Long, anomaly: Long)
  case class EwmaOut(user_id: Long, event_id: Long, x_milli: Option[Long],
      ewma_milli: Option[Long])
  case class RunOut(user_id: Long, event_id: Long,
      running_value: Option[Double], seq: Long)
  case class BurstOut(user_id: Long, event_id: Long, n_5m: Long, burst: Long)
  case class SlideOut(user_id: Long, event_id: Long, sum_10m: Option[Double])
  case class TypedEvent(ts: Timestamp, user_id: Long, event_id: Long,
      event_type: String)
  case class AsofOut(event_id: Long, user_id: Long, click_id: Option[Long])

  /** One arrival at a windowed-value machine: the key, the event time in
    * micros, the tiebreak id, and `v`, the scaled value the machine keeps.
    */
  private[streaming] case class Arrival[V](user_id: Long, us: Long,
      event_id: Long, v: V)
  // the machines' state (LagRing newest first) and emitted rows
  private[streaming] case class Slot(x: Option[Long])
  private[streaming] case class LagRing(xs: Seq[Option[Long]])
  private[streaming] case class LagRow(user_id: Long, event_id: Long,
      value: Slot, lags: Seq[Option[Slot]])
  private[streaming] case class Prefix(sum: Option[java.math.BigDecimal], n: Long)
  private[streaming] case class PrefixRow(user_id: Long, event_id: Long,
      running: Option[java.math.BigDecimal], seq: Long)
  private[streaming] case class RangeEntry(us: Long, v: Option[java.math.BigDecimal])
  private[streaming] case class RangeWin(entries: Seq[RangeEntry])
  private[streaming] case class RangeRow(user_id: Long, event_id: Long,
      range_n: Long, range_sum: Option[java.math.BigDecimal])
  private[streaming] case class Click(us: Long, click_id: Long)
  private[streaming] case class AsofBest(best: Option[Click])
  private[streaming] case class AsofRow(user_id: Long, event_id: Long,
      asof_event_id: Option[Long])

  /** `events` as machine arrivals, `v` computed by a batch scaling Column
    * (a stateless projection ahead of the state).
    */
  private def arrivals[V: TypeTag](events: Dataset[_], v: Column): Dataset[Arrival[V]] =
    events.select(col("user_id"), ValueWindows.micros.as("us"), col("event_id"),
        v.as("v"))
      .as(Encoders.product[Arrival[V]])

  /** The one skeleton under the windowed-value faces: per key, a
    * trigger's arrivals apply to the state in (us, event_id) order, one
    * same-microsecond group at a time — `step` sees the whole group,
    * because a RANGE frame holds every row of the current instant.
    */
  private def inKeyOrder[V, S <: Product : TypeTag, O <: Product : TypeTag](
      in: Dataset[Arrival[V]], zero: S)(
      step: (S, Seq[Arrival[V]]) => (S, Seq[O])): DataFrame = {
    implicit val stateEnc: Encoder[S] = Encoders.product[S]
    implicit val outEnc: Encoder[O] = Encoders.product[O]
    in.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[S, O](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[Arrival[V]], state: GroupState[S]) =>
          var s = state.getOption.getOrElse(zero)
          val out = Vector.newBuilder[O]
          var rest = rows.toVector.sortBy(a => (a.us, a.event_id))
          while (rest.nonEmpty) {
            val (tie, later) = rest.span(_.us == rest.head.us)
            val (next, emitted) = step(s, tie)
            s = next
            out ++= emitted
            rest = later
          }
          state.update(s)
          out.result().iterator
      }.toDF()
  }

  /** The 7-deep lag ring (anomaly, ewma): each arrival emits its milli
    * value and its lag 1..7 slots in the [[graft.api.GraftApi
    * .rowLagsBlocks]] struct layout (`value`, `lag_1..lag_7`; a slot is
    * null when there is no row). State: ≤ 7 longs per key.
    */
  private def lagRing(events: Dataset[ValEvent]): DataFrame = {
    val depth = ValueWindows.lagDepth
    inKeyOrder(arrivals[Option[Long]](events, ValueWindows.milli), LagRing(Nil)) {
      (ring: LagRing, tie: Seq[Arrival[Option[Long]]]) =>
        tie.foldLeft((ring, Vector.empty[LagRow])) { case ((r, out), a) =>
          (LagRing((a.v +: r.xs).take(depth)), out :+ LagRow(a.user_id,
            a.event_id, Slot(a.v), r.xs.map(x => Option(Slot(x))).padTo(depth, None)))
        }
    }.select(Seq(col("user_id"), col("event_id"), col("value")) ++
      (1 to depth).map(d => col("lags")(d - 1).as(s"lag_$d")): _*)
  }

  /** The running prefix: exact decimal sum (null until a non-null value
    * arrives) and row count. State: one decimal and one long per key.
    */
  private def runningPrefix(events: Dataset[ValEvent]): DataFrame =
    inKeyOrder(arrivals[Option[java.math.BigDecimal]](events, ValueWindows.cents),
        Prefix(None, 0L)) {
      (p: Prefix, tie: Seq[Arrival[Option[java.math.BigDecimal]]]) =>
        tie.foldLeft((p, Vector.empty[PrefixRow])) { case ((q, out), a) =>
          val next = Prefix((q.sum ++ a.v).reduceOption(_ add _), q.n + 1)
          (next, out :+ PrefixRow(a.user_id, a.event_id, next.sum, next.n))
        }
    }

  /** The trailing RANGE [us − widthUs, us] per key: every member of a
    * same-microsecond group reports the whole group's window, ties
    * included like the batch frame. State is the window's entries —
    * O(events in window) by semantics, evicted as event time advances.
    */
  private def trailingRange(events: Dataset[ValEvent], widthUs: Long,
      v: Column): DataFrame =
    inKeyOrder(arrivals[Option[java.math.BigDecimal]](events, v), RangeWin(Nil)) {
      (w: RangeWin, tie: Seq[Arrival[Option[java.math.BigDecimal]]]) =>
        val now = tie.head.us
        val entries = (w.entries ++ tie.map(a => RangeEntry(now, a.v)))
          .filter(_.us >= now - widthUs)
        val sum = entries.flatMap(_.v).reduceOption(_ add _)
        (RangeWin(entries),
          tie.map(a => RangeRow(a.user_id, a.event_id, entries.size.toLong, sum)))
    }

  /** Streaming face of q_anomaly_zscore (operators/Temporal.scala): the
    * lag ring scored by the blocks twin's own projection
    * ([[graft.operators.ValueWindows.anomalyOfLags]]).
    */
  def anomalyStream(events: Dataset[ValEvent]): Dataset[AnomalyOut] = {
    import events.sparkSession.implicits._
    ValueWindows.anomalyOfLags(lagRing(events)).as[AnomalyOut]
  }

  /** Streaming face of q_window_ewma (operators/Temporal.scala): the lag
    * ring scored by [[graft.operators.ValueWindows.ewma]], the integer
    * weights and `num div nullif(den, 0)` of both batch forms.
    */
  def ewmaStream(events: Dataset[ValEvent]): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    ValueWindows.ewma(lagRing(events), col("value.x") +:
        (1 to ValueWindows.lagDepth).map(d => col(s"lag_$d.x")))
      .as[EwmaOut]
  }

  /** Streaming face of q_window_running (operators/WindowOps.scala): the
    * running decimal(12,2) sum and the LONG 1-based sequence number.
    */
  def runningStream(events: Dataset[ValEvent]): Dataset[RunOut] = {
    import events.sparkSession.implicits._
    ValueWindows.running(runningPrefix(events)).as[RunOut]
  }

  /** Streaming face of q_burst_detect (operators/Temporal.scala): the
    * trailing 5-minute event count and the batch burst flag. A bot
    * key flooding one window is the upstream-gating case, not a state
    * leak — eviction keeps state at one window whatever the history.
    */
  def burstStream(events: Dataset[ValEvent]): Dataset[BurstOut] = {
    import events.sparkSession.implicits._
    ValueWindows.burst(trailingRange(events, ValueWindows.burstWidthUs, lit(null)))
      .as[BurstOut]
  }

  /** Streaming face of q_window_sliding (operators/WindowOps.scala): the
    * trailing 10-minute decimal(12,2) sum; an all-null window sums to
    * null.
    */
  def slidingStream(events: Dataset[ValEvent]): Dataset[SlideOut] = {
    import events.sparkSession.implicits._
    ValueWindows.sliding(
        trailingRange(events, ValueWindows.slidingWidthUs, ValueWindows.cents))
      .as[SlideOut]
  }

  /** Streaming face of q_asof_join (operators/Temporal.scala): every
    * arriving purchase is answered with the same user's latest click
    * at-or-before it. State is the as-of max — the (us, id)-greatest
    * click so far — which is the whole point of the as-of shape online:
    * the batch union-and-carry becomes "keep the max". The batch
    * ORDER BY (_t, _side, _p) becomes: an instant's clicks apply before
    * its purchases (a click at the purchase's exact time IS eligible),
    * and among equal-time clicks the larger id wins.
    */
  def asofStream(events: Dataset[TypedEvent]): Dataset[AsofOut] = {
    import events.sparkSession.implicits._
    val sides = events.filter(col("event_type").isin("click", "purchase"))
    ValueWindows.asof(inKeyOrder(
        arrivals[Boolean](sides, col("event_type") === "click"), AsofBest(None)) {
      (b: AsofBest, tie: Seq[Arrival[Boolean]]) =>
        val best = (b.best ++ tie.filter(_.v).map(a => Click(a.us, a.event_id)))
          .maxByOption(c => (c.us, c.click_id))
        (AsofBest(best), tie.filterNot(_.v)
          .map(a => AsofRow(a.user_id, a.event_id, best.map(_.click_id))))
    }).as[AsofOut]
  }
}
