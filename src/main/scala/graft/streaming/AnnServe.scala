package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** The streaming face of the ANN serving path — arriving queries against
  * a PERSISTED PQ index (the IVM analog of ann_pq_search, completing the
  * streaming story the dedup family has with nearDupCandidates/Verified).
  *
  * Shape per micro-batch, all stream-static and stateless until the rank:
  *   1. each arriving query row builds its full ADC lookup table in ONE
  *      projection against a single packed broadcast row of the static
  *      codebooks — no stream-side aggregation (that would need
  *      watermarked state for what is a per-row pure function);
  *   2. stream-static join against the persisted codes table scores every
  *      candidate with the same 4-pick ADC fold as the batch op;
  *   3. per-query top-k as a bounded heap inside flatMapGroupsWithState —
  *      the TopKPerKeyExec partial phase expressed in the streaming
  *      runtime. A query's candidates are generated from its own arrival
  *      row, so they land in the same trigger and the group emits its
  *      final top-k immediately; no state survives the batch.
  *
  * At scale the codes table is the bucketed/persisted index the batch
  * pipeline maintains; the stream side is micro-batch-sized, so the join
  * broadcasts the queries' LUTs — the corpus never shuffles, exactly as
  * in the batch plan. StreamingSpec proves stream ≡ batch pqSearchADC.
  */
object AnnServe {

  case class AdcScore(q_id: Long, cand_id: Long, adc_dist: Double)
  case class CosScore(q_id: Long, cand_id: Long, cosine: Double)

  /** The k best of one query's rows in ascending `key` order — the batch
    * topKPerKey order — through a bounded max-heap that drops the
    * current worst once it holds more than k. Runs inside
    * flatMapGroupsWithState: a query's candidates all land in its own
    * trigger, so no state survives the batch.
    */
  private def bestK[T](rows: Iterator[T], k: Int)(key: T => (Double, Long)): List[T] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[T](Ordering.by(key))
    rows.foreach { r =>
      heap += r
      if (heap.size > k) heap.dequeue()
    }
    heap.toList.sortBy(key)
  }

  /** Streamed queries as (q_id, qd, q_nrm): the embedding cast to double
    * and its norm. The cosine faces drop `q_nrm = 0` rows, the batch
    * retrieval contract (Similarity.queryVecs): a cosine against a zero
    * vector is a DIVIDE_BY_ZERO under ANSI and would fail the micro-batch.
    */
  private def streamQueries(queries: DataFrame, idCol: String,
      embCol: String): DataFrame =
    queries
      .select(col(idCol).cast("long").as("q_id"),
        expr(s"transform($embCol, x -> cast(x as double))").as("qd"))
      .withColumn("q_nrm", expr("sqrt(vec_dot(qd, qd))"))

  /** One broadcast row `cents`: every (cent_id, c_emb, c_nrm) centroid. */
  private def packedCents(centroids: DataFrame): DataFrame =
    broadcast(centroids.groupBy().agg(
      collect_list(struct(col("cent_id"), col("c_emb"), col("c_nrm"))).as("cents")))

  /** One broadcast row `cbs`: every (part, cent_id, c_emb) codeword —
    * numSubs·codebookSize entries, broadcastable by construction.
    */
  private def packedCbs(codebooks: DataFrame): DataFrame =
    broadcast(codebooks.groupBy().agg(
      collect_list(struct(col("part"), col("cent_id"), col("c_emb"))).as("cbs")))

  /** A query row's full ADC lookup table in one codegen'd projection over
    * the packed `cbs`: keys part·codebookSize + cent_id, exact
    * subvector→codeword distances — the batch Similarity.adcLut map, with
    * no stream-side aggregation.
    */
  private def streamLut(codebookSize: Int, subDim: Int): Column =
    expr(s"map_from_entries(transform(cbs, c -> struct(" +
      s"int(c.part * $codebookSize + c.cent_id), " +
      s"vec_distsq(slice(qd, c.part * $subDim + 1, $subDim), c.c_emb))))")

  /** A query row's cells ranked by (−cosine, cent_id) — the batch probe
    * order (Similarity.rankProbes) as one array_sort over the packed
    * `cents` (window functions don't exist on streams; cells ≤ a few
    * hundred makes the per-row sort trivial). A zero norm on either side
    * costs NaN, which array_sort orders last — the batch argmin kernel's
    * 0/0 order — instead of an ANSI DIVIDE_BY_ZERO failing the batch.
    */
  private val rankedCells =
    "array_sort(transform(cents, c -> struct(" +
      "case when q_nrm * c.c_nrm = 0 then double('NaN')" +
      " else -(vec_dot(qd, c.c_emb) / (q_nrm * c.c_nrm)) end as cost," +
      " c.cent_id as cent_id)))"

  /** ADC top-k for a STREAM of (id, embedding) queries against static
    * `codes` (from GraftApi.pqEncode) and `codebooks` (from
    * GraftApi.pqCodebooks). Returns a streaming Dataset of the same
    * (q_id, cand_id, adc_dist) rows batch pqSearchADC emits.
    */
  def pqServeStream(queries: DataFrame, codes: DataFrame, codebooks: DataFrame,
      idCol: String, embCol: String, numSubs: Int, subDim: Int,
      codebookSize: Int = 16, k: Int = 5): Dataset[AdcScore] = {
    import queries.sparkSession.implicits._
    // L2 distances need no norm: zero vectors stay, as in batch
    val lut = streamQueries(queries, idCol, embCol)
      .join(packedCbs(codebooks))
      .select(col("q_id"), streamLut(codebookSize, subDim).as("lut"))
    // stream-static join: the micro-batch of LUTs drives one codes scan.
    // The broadcast hint pins the STREAM side as the build side — a
    // micro-batch of queries is small by construction, while the codes
    // table is the corpus; without the hint a stats-blind planner could
    // pick the codes side at exactly the scale where that is fatal.
    val scored = broadcast(lut).join(codes, col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol).cast("long").as("cand_id"),
        Similarity.adcSum(numSubs, codebookSize).as("adc_dist"))
    // bounded-heap rank, same (dist asc, cand_id asc) order as the batch
    // topKPerKey(neg_dist desc, cand_id asc)
    scored.as[AdcScore].groupByKey(_.q_id)
      .flatMapGroupsWithState[Long, AdcScore](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_, rows, _) => bestK(rows, k)(s => (s.adc_dist, s.cand_id)).iterator
      }
  }

  /** IVF top-k for a STREAM of (id, embedding) queries against a
    * persisted index from Similarity.ivfIndex — `centroids`
    * (cent_id, c_emb, c_nrm; `cells` rows) and `lists`
    * (cent_id, vec_id, embedding, nrm; the inverted lists, bucketed by
    * cent_id at scale). Unlike the PQ face (one full codes scan per
    * batch), the probe join here is KEYED on cent_id: each micro-batch
    * touches only its queries' nprobe cells.
    *
    * The per-query top-nprobe cell pick is the [[rankedCells]] sort,
    * exactly the batch probe order; zero-norm queries are dropped as in
    * batch. Emits the same (q_id, cand_id, cosine) rows batch ivfSearch
    * produces.
    */
  def ivfServeStream(queries: DataFrame, centroids: DataFrame, lists: DataFrame,
      idCol: String, embCol: String, nprobe: Int = 2, k: Int = 5): Dataset[CosScore] = {
    import queries.sparkSession.implicits._
    val probes = streamQueries(queries, idCol, embCol)
      .filter(col("q_nrm") > 0)
      .join(packedCents(centroids))
      .select(col("q_id"), col("qd"), col("q_nrm"),
        explode(expr(s"slice($rankedCells, 1, $nprobe)")).as("p"))
      .select(col("q_id"), col("qd"), col("q_nrm"), col("p.cent_id").as("p_cent"))
    // probe set = micro-batch × nprobe — broadcast-sized by construction;
    // the hint keeps the corpus lists as the streamed probe target (over
    // a bucketBy(cent_id) layout the un-hinted SMJ path is equally
    // exchange-free on the lists side — see BucketingSpec)
    val scored = broadcast(probes)
      .join(lists, col("cent_id") === col("p_cent") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        (expr("vec_dot(qd, embedding)") / (col("q_nrm") * col("nrm"))).as("cosine"))
    scored.as[CosScore].groupByKey(_.q_id)
      .flatMapGroupsWithState[Long, CosScore](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        // the k LARGEST cosines, ties to the smaller cand_id — the batch
        // topKPerKey(cosine desc, cand_id asc) order
        (_, rows, _) => bestK(rows, k)(s => (-s.cosine, s.cand_id)).iterator
      }
  }

  /** IVFADC top-k for a STREAM of (id, embedding) queries against the
    * persisted IVF+PQ index (Similarity's persisted layout: `centroids`
    * (cent_id, c_emb, c_nrm), `codebooks` (part, cent_id, c_emb), and
    * `codes` (id, codes, cent_id) bucketed by cell) — the serving face
    * of the canonical production ANN index, composing the two existing
    * faces: the cell routing of [[ivfServeStream]] (per-row array_sort
    * over a packed centroid broadcast, zero-norm queries dropped) and
    * the ADC LUT of [[pqServeStream]] (one projection against the packed
    * codebooks).
    * The stream-static codes join is KEYED on cent_id, so each
    * micro-batch reads only its queries' probed cells — scan mass ≈
    * probed cells, never the corpus. Emits the same (q_id, cand_id,
    * adc_dist) rows the batch ivfPqSearchADCFromIndex produces.
    */
  def ivfPqServeStream(queries: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, codes: DataFrame, idCol: String, embCol: String,
      nprobe: Int = 4, numSubs: Int = 4, subDim: Int = 16,
      codebookSize: Int = 16, k: Int = 5): Dataset[AdcScore] = {
    import queries.sparkSession.implicits._
    // per query, in one projection pass: the full ADC LUT (computed once,
    // BEFORE the probe explode duplicates the row nprobe×) and the
    // top-nprobe cells in the batch (−cosine, cent_id) order
    val lutProbes = streamQueries(queries, idCol, embCol)
      .filter(col("q_nrm") > 0)
      .join(packedCents(centroids)).join(packedCbs(codebooks))
      .select(col("q_id"), streamLut(codebookSize, subDim).as("lut"),
        explode(expr(s"slice($rankedCells, 1, $nprobe)")).as("p"))
      .select(col("q_id"), col("lut"), col("p.cent_id").as("p_cent"))
    val scored = broadcast(lutProbes)
      .join(codes, col("cent_id") === col("p_cent") && col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol).cast("long").as("cand_id"),
        Similarity.adcSum(numSubs, codebookSize).as("adc_dist"))
    scored.as[AdcScore].groupByKey(_.q_id)
      .flatMapGroupsWithState[Long, AdcScore](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_, rows, _) => bestK(rows, k)(s => (s.adc_dist, s.cand_id)).iterator
      }
  }

  case class LabeledScore(q_id: Long, cand_id: Long, cosine: Double,
      label: Long)
  case class KnnVote(q_id: Long, pred_label: Long, votes: Long)
  case class SemDedupDecision(vec_id: Long, cent_id: Long, keep: Long,
      cell_capped: Long)

  /** KNN label vote for a STREAM of (id, embedding) queries against a
    * STATIC labeled corpus — the streaming face of
    * [[graft.api.GraftApi.knnClassify]] (the FineWeb-Edu/DCLM
    * seed-similarity classifier served online): per arriving query, the
    * k exact-cosine nearest corpus vectors vote and the majority label
    * wins (ties: most votes, then smallest label — the batch order
    * exactly); zero-norm queries and corpus rows are dropped as in
    * batch. The micro-batch rides as the BROADCAST side of one corpus
    * scan (labels on the scored side, so no second fetch join), and both
    * the top-k heap and the vote tally run inside ONE
    * flatMapGroupsWithState group pass — a query's candidates all land
    * in its own trigger, so no state survives the batch.
    */
  def knnClassifyStream(queries: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, labelCol: String, k: Int = 10): Dataset[KnnVote] = {
    import queries.sparkSession.implicits._
    // barrier: the `c_nrm > 0` gate reads the norm column instead of
    // re-running the full-width dot product per corpus row
    // (GraftApi.knnClassify's note)
    val v = corpus.select(col(idCol).cast("long").as("c_id"),
        col(embCol).as("c_emb"), col(labelCol).cast("long").as("label"))
      .withColumn("c_nrm", graft.functions.OptimizerBarrier.barrier(
        expr("sqrt(vec_dot(c_emb, c_emb))")))
      .filter(col("c_nrm") > 0)
    val scored = broadcast(streamQueries(queries, idCol, embCol)
        .filter(col("q_nrm") > 0))
      .join(v, col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id").as("cand_id"),
        (expr("vec_dot(qd, c_emb)") / (col("q_nrm") * col("c_nrm")))
          .as("cosine"),
        col("label"))
    scored.as[LabeledScore].groupByKey(_.q_id)
      .flatMapGroupsWithState[Long, KnnVote](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (qid, rows, _) =>
          // the k best in the batch (cosine desc, cand_id asc) order,
          // then the vote tally over exactly those
          val best = bestK(rows, k)(s => (-s.cosine, s.cand_id))
          if (best.isEmpty) Iterator.empty
          else {
            val (label, n) = best.groupBy(_.label)
              .view.mapValues(_.size).toSeq
              .minBy { case (l, c) => (-c, l) }
            Iterator(KnnVote(qid, label, n.toLong))
          }
      }
  }

  /** SemDeDup keep/drop decisions for a STREAM of (id, embedding)
    * vectors against a persisted [[graft.operators.Similarity
    * .semDedupIndex]] — the online admission face of the registered
    * dedup_semdedup pass: assign the arriving vector to its nearest
    * centroid (the same packed-broadcast argmin routing as
    * [[ivfServeStream]], NaN costs ordered last like the batch kernel),
    * then drop it iff some LOWER-id member of that cell has cosine ≥
    * `tau` — checked by a cell-KEYED stream-static join against the
    * members table (scan mass ≈ the queries' cells, never the corpus).
    * Cells past `cellCap` members pass through undecided with
    * `cell_capped` = 1, reading the ≤cells-row stats broadcast — the
    * registered op's cap discipline exactly. Emits the batch op's
    * (vec_id, cent_id, keep, cell_capped) row per arriving vector.
    */
  def semDedupServeStream(queries: DataFrame, cents: DataFrame,
      members: DataFrame, stats: DataFrame, idCol: String, embCol: String,
      tau: Double = 0.2, cellCap: Long = 128L): Dataset[SemDedupDecision] = {
    import queries.sparkSession.implicits._
    // packed centroid broadcast; c_emb cast to double = the batch
    // packCents payload, so the per-row argmin fold is bit-identical
    val packed = broadcast(cents.groupBy().agg(
      collect_list(struct(col("cent_id"),
        expr("cast(c_emb as array<double>)").as("c_emb"),
        col("c_nrm"))).as("cents")))
    val assigned = streamQueries(queries, idCol, embCol)
      .join(packed)
      .select(col("q_id"), col("qd"), col("q_nrm"),
        expr(s"element_at($rankedCells, 1).cent_id").as("a_cent"))
      .join(broadcast(stats.select(col("cent_id").as("s_cent"), col("n"))),
        col("a_cent") === col("s_cent"), "left_outer")
      .withColumn("cell_capped",
        when(col("n") > cellCap, 1L).otherwise(0L))
    // keep-decision rows: every query emits a base row (no match
    // marker); capped cells contribute no pair rows (the batch cap
    // discipline); otherwise each ≥tau lower-id cell member adds a hit
    // row. One group pass folds them into the final decision — all rows
    // of a query land in its own trigger, so no state survives.
    val base = assigned.select(col("q_id"), col("a_cent"),
      col("cell_capped"), lit(null).cast("long").as("m_id"))
    val m = members.select(col("cent_id").as("m_cent"),
      col("vec_id").as("m_id"), col("embedding").as("m_emb"),
      col("nrm").as("m_nrm"))
    // zero-norm guard as a CASE (per-row lazy), -infinity never ≥ tau:
    // the batch pass's pair filter exactly
    val cosine = when(col("q_nrm") * col("m_nrm") =!= 0,
        expr("vec_dot(qd, m_emb)") / (col("q_nrm") * col("m_nrm")))
      .otherwise(lit(Double.NegativeInfinity))
    val hits = broadcast(assigned.filter(col("cell_capped") === 0))
      .join(m, col("a_cent") === col("m_cent") && col("m_id") < col("q_id") &&
        cosine >= tau)
      .select(col("q_id"), col("a_cent"), col("cell_capped"), col("m_id"))
    base.unionByName(hits).as[(Long, Long, Long, Option[Long])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, SemDedupDecision](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (qid, rows, _) =>
          var cent = 0L; var capped = 0L; var dropped = false
          rows.foreach { case (_, c, cap, mid) =>
            cent = c; capped = cap
            if (mid.isDefined) dropped = true
          }
          Iterator(SemDedupDecision(qid, cent,
            if (dropped) 0L else 1L, capped))
      }
  }

  /** [[ivfServeStream]] with nprobe derived from the persisted index's
    * own cell occupancy — the serving face of
    * graft.operators.Similarity.ivfSearchAuto, same bound: smallest
    * probe count expected to surface k·oversample candidates given the
    * size-biased mean occupancy, clamped to [1, cells]
    * (Similarity.autoNprobe, the batch formula). The bound is ONE
    * single-row aggregate over the lists' occupancy and the centroid
    * count — index metadata, the same class as loading the centroid
    * table — computed ONCE at stream definition, never per micro-batch.
    * Re-derive on index refresh (a stream restart), which is when
    * occupancy can change.
    */
  def ivfServeStreamAuto(queries: DataFrame, centroids: DataFrame,
      lists: DataFrame, idCol: String, embCol: String, k: Int = 5,
      oversample: Int = 8): Dataset[CosScore] = {
    val bound = Similarity.cellOccupancy(lists)
      .crossJoin(broadcast(centroids.agg(count(lit(1)).as("cells"))))
      .agg(Similarity.autoNprobe(max(col("cells")), k, oversample).as("np"),
        sum("cnt").as("n_vecs"))
      .head()
    // an empty index yields a NULL vector count — fail fast with the
    // contract instead of serving off a meaningless bound (the
    // bloomNewDocs empty-corpus treatment)
    require(!bound.isNullAt(1),
      "ivfServeStreamAuto: lists index is empty — build the IVF index " +
        "before defining the serving stream (occupancy-derived nprobe " +
        "needs at least one indexed vector)")
    ivfServeStream(queries, centroids, lists, idCol, embCol,
      bound.getLong(0).toInt, k)
  }
}
