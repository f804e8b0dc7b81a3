package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming face of [[graft.api.GraftApi.groupConcatExportSharded]] —
  * the r10 grouped-export family's missing triad member (batch op +
  * sharded batch face existed; this is the stream-ingest form).
  *
  * The batch face cuts each key's SORTED element sequence into
  * rank-range shards. A stream cannot know global ranks online, so the
  * streaming form follows the sessionizeBlocks discipline: live state is
  * keyed by (key, BIN) where the bin comes from any caller-supplied
  * MONOTONE value binning (order-preserving: v1 <= v2 ⇒ bin(v1) <=
  * bin(v2) — [[graft.api.GraftApi.valueRankBlocks]]'s value-range bins
  * are the batch instance of the same idea). Each (key, bin) group
  * maintains one bounded sorted buffer — `maxPerBin` is the fail-fast
  * state bound, the streaming analog of maxGroupBytes — and emits its
  * current piece every micro-batch (Update mode: downstream upserts by
  * (key, bin), the production sink shape for incrementally-maintained
  * exports).
  *
  * [[reshardPieces]] is the compaction that turns the upserted pieces
  * into EXACTLY the batch face's (key, shard, elems) rows: bin order =
  * value order (monotonicity), so per-key prefix sums over piece COUNTS
  * assign each piece's elements a contiguous global rank range; each
  * piece contributes its rank-sliced segments to the shards it overlaps
  * and segments concatenate in bin order. The pass touches piece
  * SUMMARIES (≤ bins rows per key), never the raw stream — the same
  * serial-work bound mergeBlockSessions gets from session summaries.
  */
object GroupExportStream {

  case class GroupElem(key: String, bin: Int, value: Long)
  case class PieceState(values: Array[Long])
  case class BinPiece(key: String, bin: Int, n: Long, elems: String)

  /** Per-(key, bin) sorted pieces, updated each micro-batch. */
  def groupExportPieces(in: Dataset[GroupElem],
      maxPerBin: Int = 1 << 20): Dataset[BinPiece] = {
    import in.sparkSession.implicits._
    in.groupByKey(e => (e.key, e.bin))
      .flatMapGroupsWithState[PieceState, BinPiece](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (kb: (String, Int), rows: Iterator[GroupElem],
         state: GroupState[PieceState]) =>
          val prev = state.getOption.map(_.values).getOrElse(Array.empty[Long])
          // prev is the previous call's .sorted output — sort only the
          // NEW rows and linear-merge: a near-maxPerBin hot bin on a
          // trickle of arrivals would otherwise pay a full O(n log n)
          // re-sort of ~1M longs EVERY micro-batch
          val fresh = rows.map(_.value).toArray.sorted
          val merged = new Array[Long](prev.length + fresh.length)
          var i = 0; var j = 0; var k = 0
          while (i < prev.length && j < fresh.length) {
            if (prev(i) <= fresh(j)) { merged(k) = prev(i); i += 1 }
            else { merged(k) = fresh(j); j += 1 }
            k += 1
          }
          while (i < prev.length) { merged(k) = prev(i); i += 1; k += 1 }
          while (j < fresh.length) { merged(k) = fresh(j); j += 1; k += 1 }
          require(merged.length <= maxPerBin,
            s"groupExportPieces: (${kb._1}, bin ${kb._2}) holds " +
              s"${merged.length} elements past maxPerBin=$maxPerBin — a " +
              "bin that size is a per-task OOM in the making; use a finer " +
              "monotone binning (more bins) or raise the bound if one " +
              "task really holds it")
          state.update(PieceState(merged))
          Iterator.single(BinPiece(kb._1, kb._2, merged.length.toLong,
            merged.mkString(",")))
      }
  }

  /** Compaction: latest piece per (key, bin) → the batch face's
    * (key, shard, elems) rows. Operates on piece summaries only.
    */
  def reshardPieces(pieces: DataFrame, rowsPerShard: Long,
      out: String = "elems"): DataFrame = {
    require(rowsPerShard >= 1,
      s"reshardPieces: rowsPerShard=$rowsPerShard must be >= 1")
    // slice() below takes Int start/length; a rowsPerShard past Int range
    // only survives the bytes guard when that guard is disabled
    // (maxGroupBytes = Long.MaxValue) and would silently wrap the cast
    require(rowsPerShard <= Int.MaxValue,
      s"reshardPieces: rowsPerShard=$rowsPerShard exceeds Int.MaxValue — " +
        "slice lengths are Int; size rowsPerShard down")
    // the batch face's bytes bound, same conf: a shard string is still ONE
    // aggregation-buffer value here. Elements are rendered longs — ≤ 20
    // chars + separator — so the worst case needs no scan (division, not
    // multiplication: a huge rowsPerShard must not overflow past the guard)
    val limit = graft.api.GraftApi.confLong(pieces.sparkSession,
      "graft.groupExport.maxGroupBytes", graft.api.GraftApi.defaultMaxGroupBytes)
    if (limit < Long.MaxValue)
      require(21L <= limit / rowsPerShard,
        s"reshardPieces: rowsPerShard=$rowsPerShard × worst-case rendered " +
          s"element (21 bytes) exceeds maxGroupBytes=$limit per shard — " +
          "size rowsPerShard down, or raise graft.groupExport.maxGroupBytes " +
          "if one task really holds it")
    import org.apache.spark.sql.expressions.Window
    // per-key prefix sum over bin counts = each piece's global rank offset
    val wKey = Window.partitionBy(col("key")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = pieces
      .withColumn("off", coalesce(sum(col("n")).over(wKey), lit(0L)))
    // a piece's elements span shards floor(off/r) .. floor((off+n-1)/r);
    // slice the csv at rank boundaries and hand each shard its segment
    val r = lit(rowsPerShard)
    off.filter(col("n") > 0)
      .withColumn("shard", explode(sequence(
        floor(col("off") / r), floor((col("off") + col("n") - 1) / r))))
      .withColumn("lo", greatest(lit(0L), col("shard") * r - col("off")))
      .withColumn("hi", least(col("n"), (col("shard") + 1) * r - col("off")))
      .withColumn("seg", array_join(slice(split(col("elems"), ","),
        (col("lo") + 1).cast("int"), (col("hi") - col("lo")).cast("int")), ","))
      .groupBy(col("key"), col("shard"))
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(bin, seg))), x -> x.seg)"),
        ",").as(out))
  }
}
