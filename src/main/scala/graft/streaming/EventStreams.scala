package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** SURVEY §2.3 streaming: the Spark-native face of the reference's
  * incremental view maintenance (ivm/collections/IncrementalResult.scala,
  * tests/IVMTest1.scala — materialized query results updated on base-
  * collection deltas). Structured Streaming IS that execution model:
  * each micro-batch applies deltas to the maintained state.
  *
  * These transforms take an (optionally streaming) events-shaped DataFrame
  * (ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE) so specs
  * drive them from MemoryStream and batch callers can reuse them.
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
    * `corpusParaHashes` is [[paragraphHashCounts]]' (h, n) table; only
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

  /** The corpus-side paragraph-hash count table the streaming admission
    * (and a warehouse maintenance job) reads: (h, n) over a
    * (doc_id, paras) frame — persist `bucketBy(h)` at scale. Single
    * copy lives with the batch family (the upsert face reads the same
    * state — [[graft.operators.Dedup.paragraphHashCounts]]).
    */
  def paragraphHashCounts(withParas: DataFrame): DataFrame =
    graft.operators.Dedup.paragraphHashCounts(withParas)

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
    * events.value column (the null-gate corpus injects ~5% NULLs), and
    * the null conventions below mirror the batch window semantics
    * exactly — a null-valued row OCCUPIES its window position (counts in
    * n_window/seq, consumes a lag slot) but contributes nothing to any
    * sum, and an all-null window yields a null output (running_value /
    * ewma_milli None, anomaly 0).
    */
  case class ValEvent(ts: Timestamp, user_id: Long, event_id: Long,
      value: Option[Double])
  case class AnomalyOut(user_id: Long, event_id: Long, x_milli: Option[Long],
      n_window: Long, anomaly: Long)
  case class RingState(xs: List[Option[Long]])

  /** Streaming face of q_anomaly_zscore (operators/Temporal.scala): the
    * live metrics anomaly gate as per-key state — the trailing ≤7 prior
    * milli-scaled values ride in GroupState and each arriving event is
    * judged by the SAME squared cross-multiplied integer inequality as
    * the batch window pass, so stream ≡ batch row for row when events
    * arrive in (ts, event_id) order per key (the sessionize-face
    * ordering contract; late data would need the watermark + re-emit
    * treatment those faces document). State is O(8 longs) per key —
    * bounded regardless of history length, the 100 TB requirement.
    */
  def anomalyStream(events: Dataset[ValEvent]): Dataset[AnomalyOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RingState, AnomalyOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[ValEvent], state: GroupState[RingState]) =>
          // same total order as the batch window (ts at full precision,
          // event_id tiebreak)
          val sorted = rows.toSeq
            .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
          var hist = state.getOption.map(_.xs).getOrElse(Nil)
          val out = sorted.map { e =>
            // identical double→long scaling to the batch floor(value*1000);
            // a null value stays null (and its window slot still counts
            // in n — the batch COUNT(*) convention)
            val x = e.value.map(v => math.floor(v * 1000).toLong)
            val win = (hist :+ x).takeRight(8)
            val n = win.size.toLong
            val s1 = win.iterator.flatten.sum
            val s2 = win.iterator.flatten.map(v => v * v).sum
            // batch: a NULL x_milli nulls the whole inequality → flag 0
            val flag = x match {
              case Some(xv) =>
                val lhs = n * xv - s1
                if (n >= 4 && lhs * lhs > 4L * (n * s2 - s1 * s1)) 1L else 0L
              case None => 0L
            }
            hist = (hist :+ x).takeRight(7)
            AnomalyOut(user, e.event_id, x, n, flag)
          }
          state.update(RingState(hist))
          out.iterator
      }
  }

  case class RunState(sumCents: Long, n: Long, nNonNull: Long)
  case class RunOut(user_id: Long, event_id: Long,
      running_value: Option[Double], seq: Int)

  /** Streaming face of q_window_running (operators/WindowOps.scala): the
    * per-user running decimal(12,2) sum and 1-based sequence number,
    * maintained as O(1) GroupState (exact integer cents + a count).
    * Values scale to cents with the SAME half-up rounding Spark's
    * double→decimal(12,2) cast applies, so stream ≡ batch bit-identical
    * under the per-key (ts, event_id) arrival-order contract. Together
    * with the q_window_running_blocks batch twin this completes the
    * family triad: simple window, hot-key-safe batch, online serving.
    */
  def runningStream(events: Dataset[ValEvent]): Dataset[RunOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RunState, RunOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[ValEvent], state: GroupState[RunState]) =>
          val sorted = rows.toSeq
            .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
          var s = state.getOption.getOrElse(RunState(0L, 0L, 0L))
          val out = sorted.map { e =>
            // exact cents via the decimal(12,2) cast's HALF_UP rounding;
            // null values add nothing but the row still takes a seq slot,
            // and running stays NULL until the prefix holds a non-null
            // (the window-SUM convention)
            val cents = e.value.map(v => java.math.BigDecimal.valueOf(v)
              .setScale(2, java.math.RoundingMode.HALF_UP)
              .unscaledValue().longValueExact())
            s = RunState(s.sumCents + cents.getOrElse(0L), s.n + 1,
              s.nNonNull + (if (cents.isDefined) 1L else 0L))
            RunOut(user, e.event_id,
              if (s.nNonNull == 0L) None
              else Some(java.math.BigDecimal.valueOf(s.sumCents, 2)
                .doubleValue()),
              s.n.toInt)
          }
          state.update(s)
          out.iterator
      }
  }

  case class WinState(times: List[Long])
  case class BurstOut(user_id: Long, event_id: Long, n_5m: Long, burst: Long)

  /** Streaming face of q_burst_detect: the trailing-5-minute event count
    * per user — the textbook streaming sliding window, state = the
    * window's event times (micros) per key, evicted as time advances.
    * State is O(events-in-window) BY SEMANTICS (the same bound the
    * blocks batch twin pays per task); a bot key flooding one window is
    * the upstream-gating case, not a state leak — eviction keeps state
    * at exactly one window regardless of history length.
    *
    * RANGE-frame tie semantics: the batch window includes ALL rows at
    * the same microsecond, so same-micros events are processed as one
    * group here and each member reports the whole group — stream ≡
    * batch requires a micro-batch boundary not to split a per-key
    * same-microsecond group (the arrival-order contract's tie clause).
    */
  def burstStream(events: Dataset[ValEvent], windowUs: Long = 300L * 1000000L,
      threshold: Long = 10L): Dataset[BurstOut] = {
    import events.sparkSession.implicits._
    def usOf(t: Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[WinState, BurstOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[ValEvent], state: GroupState[WinState]) =>
          val sorted = rows.toSeq
            .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
          var times = state.getOption.map(_.times).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[BurstOut]
          // process same-microsecond runs as one group (RANGE tie rule)
          val byUs = sorted.groupBy(e => usOf(e.ts)).toSeq.sortBy(_._1)
          byUs.foreach { case (us, group) =>
            times = (times ++ group.map(_ => us)).filter(_ >= us - windowUs)
            val n = times.length.toLong
            group.foreach { e =>
              out += BurstOut(user, e.event_id, n, if (n > threshold) 1L else 0L)
            }
          }
          state.update(WinState(times))
          out.iterator
      }
  }

  case class EwmaOut(user_id: Long, event_id: Long, x_milli: Option[Long],
      ewma_milli: Option[Long])

  /** Streaming face of q_window_ewma (operators/Temporal.scala): the
    * same ≤7-prior-values GroupState ring as [[anomalyStream]], each
    * arriving event smoothed with the batch op's exact integer
    * arithmetic (micro-unit weight literals, one integer division) —
    * stream ≡ batch row for row under the per-key (ts, event_id)
    * arrival-order contract. Together with the q_window_ewma_blocks
    * batch twin this completes the family: simple window, hot-key-safe
    * batch, and online serving, all three bit-identical.
    */
  def ewmaStream(events: Dataset[ValEvent]): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    val weights = Array(1000000L, 750000L, 562500L, 421875L,
      316406L, 237305L, 177979L, 133484L)
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RingState, EwmaOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[ValEvent], state: GroupState[RingState]) =>
          val sorted = rows.toSeq
            .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
          var hist = state.getOption.map(_.xs).getOrElse(Nil)
          val out = sorted.map { e =>
            val x = e.value.map(v => math.floor(v * 1000).toLong)
            // newest-first: index d pairs value lag-d with weight w_d,
            // exactly the batch lag() column order. A null lag slot
            // contributes 0 to num AND drops its weight from den (the
            // batch CASE WHEN x IS NULL convention); all-null window →
            // den 0 → null EWMA (the batch NULLIF).
            val win = ((hist :+ x).takeRight(8)).reverse
            val num = win.iterator.zipWithIndex
              .map { case (v, d) => v.map(_ * weights(d)).getOrElse(0L) }.sum
            val den = win.iterator.zipWithIndex
              .map { case (v, d) => if (v.isDefined) weights(d) else 0L }.sum
            hist = (hist :+ x).takeRight(7)
            // plain truncating long division, matching the batch op's SQL
            // `num div den` (IntegralDivide truncates toward zero) —
            // Math.floorDiv would diverge by 1 milli-unit whenever the
            // numerator is negative (any negative event value), silently
            // breaking the stream ≡ batch contract (StreamingSpec pins a
            // negative-value case)
            EwmaOut(user, e.event_id, x,
              if (den == 0L) None else Some(num / den))
          }
          state.update(RingState(hist))
          out.iterator
      }
  }

  case class SlideState(win: List[(Long, Option[Long])])
  case class SlideOut(user_id: Long, event_id: Long, sum_10m: Option[Double])

  /** Streaming face of q_window_sliding (operators/WindowOps.scala): the
    * trailing 10-minute RANGE sum per user as per-key GroupState — the
    * window's (micros, cents) entries ride in state and are evicted as
    * event time advances, so state is O(events-in-window) by semantics
    * (the same bound the trailingRangeBlocks batch twin pays per task).
    * Values scale to exact cents with the decimal(12,2) cast's HALF_UP
    * rounding ([[runningStream]]'s convention); a null value occupies
    * its window slot but contributes nothing, and an all-null window
    * sums to null (the window-SUM convention). RANGE-frame ties follow
    * [[burstStream]]: same-microsecond events are one group and each
    * member reports the whole group's sum, so stream ≡ batch under the
    * arrival-order contract's tie clause. Together with the
    * q_window_sliding_blocks batch twin this completes the family
    * triad: simple window, hot-key-safe batch, online serving.
    */
  def slidingStream(events: Dataset[ValEvent],
      windowUs: Long = 600L * 1000000L): Dataset[SlideOut] = {
    import events.sparkSession.implicits._
    def usOf(t: Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SlideState, SlideOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[ValEvent], state: GroupState[SlideState]) =>
          val sorted = rows.toSeq
            .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
          var win = state.getOption.map(_.win).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[SlideOut]
          val byUs = sorted.groupBy(e => usOf(e.ts)).toSeq.sortBy(_._1)
          byUs.foreach { case (us, group) =>
            val entries = group.map { e =>
              (us, e.value.map(v => java.math.BigDecimal.valueOf(v)
                .setScale(2, java.math.RoundingMode.HALF_UP)
                .unscaledValue().longValueExact()))
            }
            win = (win ++ entries).filter(_._1 >= us - windowUs)
            val defined = win.iterator.flatMap(_._2).toList
            val sum = if (defined.isEmpty) None
              else Some(java.math.BigDecimal
                .valueOf(defined.sum, 2).doubleValue())
            group.foreach(e => out += SlideOut(user, e.event_id, sum))
          }
          state.update(SlideState(win))
          out.iterator
      }
  }

  case class TypedEvent(ts: Timestamp, user_id: Long, event_id: Long,
      event_type: String)
  case class AsofState(tMs: Long, tNs: Int, clickId: Long)
  case class AsofOut(event_id: Long, user_id: Long, click_id: Option[Long])

  /** Streaming face of q_asof_join (operators/Temporal.scala): every
    * arriving purchase is answered with the same user's most recent
    * click at-or-before it. State is O(1) per key — just the winning
    * (time, payload) so far — which is the whole point of the as-of
    * shape online: the batch op's union-and-carry becomes "keep the
    * max". Tie semantics replicate the batch ORDER BY (_t, _side, _p):
    * a click at the purchase's exact timestamp IS eligible (side 0
    * sorts before side 1), and among equal-time clicks the larger
    * payload wins — so intra-batch processing orders clicks before
    * purchases at the same instant, and a micro-batch boundary must
    * not split a per-key same-timestamp click/purchase pair (the
    * arrival-order contract's tie clause). Together with the
    * q_asof_join_blocks batch twin this completes the family triad.
    */
  def asofStream(events: Dataset[TypedEvent]): Dataset[AsofOut] = {
    import events.sparkSession.implicits._
    events
      .filter(e => e.event_type == "click" || e.event_type == "purchase")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofState, AsofOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[TypedEvent], state: GroupState[AsofState]) =>
          // (_t, _side, _p): clicks (side 0) precede purchases at equal
          // time; equal-time clicks apply in ascending payload order so
          // the larger id ends up winning, exactly the batch last()
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos,
            if (e.event_type == "click") 0 else 1, e.event_id))
          var best = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[AsofOut]
          sorted.foreach { e =>
            if (e.event_type == "click") {
              val ord = Ordering[(Long, Int, Long)]
              val better = best.forall(b => ord.gt(
                (e.ts.getTime, e.ts.getNanos, e.event_id),
                (b.tMs, b.tNs, b.clickId)))
              if (better) best = Some(AsofState(e.ts.getTime, e.ts.getNanos,
                e.event_id))
            } else {
              out += AsofOut(e.event_id, user, best.map(_.clickId))
            }
          }
          best.foreach(state.update)
          out.iterator
      }
  }
}
