package graft.streaming

import graft.api.GraftApi
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** The streaming faces of the ANN serving paths: arriving queries
  * against a static, persisted index or corpus. A face is its batch
  * search's per-query projection — the same Similarity / GraftApi
  * functions, composed the same way — plus a bounded heap ([[bestK]])
  * in place of the batch TopKPerKey:
  *   1. the query side is per-row only (Similarity.queryVecs, probeCells,
  *      withAdcLut: a sort of one packed centroid row, a LUT over one
  *      packed codebook row), so a stream runs it without state;
  *   2. the broadcast query side probes the static codes, lists or
  *      corpus in a stream-static join — the corpus never shuffles;
  *   3. per-query top-k as a bounded heap inside flatMapGroupsWithState,
  *      the TopKPerKeyExec partial phase in the streaming runtime. A
  *      query's candidates come from its own arrival row, so they land
  *      in the same trigger and the group emits its final top-k at
  *      once; no state survives the batch.
  * StreamingSpec's ANN face table checks each face ≡ its batch twin.
  */
object AnnServe {

  case class AdcScore(q_id: Long, cand_id: Long, adc_dist: Double)
  case class CosScore(q_id: Long, cand_id: Long, cosine: Double)

  /** The k best of one query's rows in ascending `key` order — the batch
    * topKPerKey order — through a bounded max-heap that drops the
    * current worst once it holds more than k.
    */
  private def bestK[T](rows: Iterator[T], k: Int)(key: T => (Double, Long)): List[T] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[T](Ordering.by(key))
    rows.foreach { r =>
      heap += r
      if (heap.size > k) heap.dequeue()
    }
    heap.toList.sortBy(key)
  }

  /** `f` over each query's rows of one micro-batch: all rows of a query
    * land in its own trigger, so no state survives the batch.
    */
  private def perQuery[T, U: Encoder](rows: Dataset[T])(key: T => Long)(
      f: (Long, Iterator[T]) => Iterator[U]): Dataset[U] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(key).flatMapGroupsWithState[Long, U](
      OutputMode.Append(), GroupStateTimeout.NoTimeout())((q, it, _) => f(q, it))
  }

  /** ADC top-k for a STREAM of (id, embedding) queries against static
    * `codes` (from GraftApi.pqEncode) and `codebooks` (from
    * GraftApi.pqCodebooks) — batch pqSearchADC's LUT projection and
    * codes scan. Returns the same (q_id, cand_id, adc_dist) rows. The
    * broadcast query side is pinned as the build side: a micro-batch of
    * queries is small by construction, the codes table is the corpus.
    */
  def pqServeStream(queries: DataFrame, codes: DataFrame, codebooks: DataFrame,
      idCol: String, embCol: String, numSubs: Int, subDim: Int,
      codebookSize: Int = 16, k: Int = 5): Dataset[AdcScore] = {
    import queries.sparkSession.implicits._
    val scored = Similarity.adcScores(GraftApi.pqLuts(codebooks, queries,
      idCol, embCol, subDim, codebookSize), codes, idCol, numSubs, codebookSize)
    // (dist asc, cand_id asc): the batch topKPerKey(neg_dist desc, cand_id asc)
    perQuery(scored.as[AdcScore])(_.q_id)(
      (_, rows) => bestK(rows, k)(s => (s.adc_dist, s.cand_id)).iterator)
  }

  /** IVF top-k for a STREAM of (id, embedding) queries against a
    * persisted index from Similarity.ivfIndex — `centroids`
    * (cent_id, c_emb, c_nrm; `cells` rows) and `lists`
    * (cent_id, vec_id, embedding, nrm; the inverted lists, bucketed by
    * cent_id at scale). Unlike the PQ face (one full codes scan per
    * batch), the probe join here is KEYED on cent_id: each micro-batch
    * touches only its queries' nprobe cells. Runs the batch searches'
    * Similarity.probeCells and listCosines (zero-norm queries dropped)
    * and emits the same (q_id, cand_id, cosine) rows batch ivfSearch
    * produces.
    */
  def ivfServeStream(queries: DataFrame, centroids: DataFrame, lists: DataFrame,
      idCol: String, embCol: String, nprobe: Int = 2, k: Int = 5): Dataset[CosScore] = {
    import queries.sparkSession.implicits._
    val qp = Similarity.probeCells(Similarity.queryVecs(queries, idCol, embCol),
      centroids, lit(nprobe))
    // the k LARGEST cosines, ties to the smaller cand_id — the batch
    // topKPerKey(cosine desc, cand_id asc) order
    perQuery(Similarity.listCosines(qp, lists).as[CosScore])(_.q_id)(
      (_, rows) => bestK(rows, k)(s => (-s.cosine, s.cand_id)).iterator)
  }

  /** IVFADC top-k for a STREAM of (id, embedding) queries against the
    * persisted IVF+PQ index (`centroids` (cent_id, c_emb, c_nrm),
    * `codebooks` (part, cent_id, c_emb), and `codes` (id, codes,
    * cent_id) bucketed by cell) — batch ivfPqSearchADCFromIndex's probe
    * LUTs and cell-keyed codes join, so each micro-batch reads only its
    * queries' probed cells. Emits the same (q_id, cand_id, adc_dist)
    * rows.
    */
  def ivfPqServeStream(queries: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, codes: DataFrame, idCol: String, embCol: String,
      nprobe: Int = 4, numSubs: Int = 4, subDim: Int = 16,
      codebookSize: Int = 16, k: Int = 5): Dataset[AdcScore] = {
    import queries.sparkSession.implicits._
    val scored = Similarity.adcScores(GraftApi.ivfPqProbeLuts(centroids,
        codebooks, queries, idCol, embCol, nprobe, subDim, codebookSize),
      codes, idCol, numSubs, codebookSize, col("cent_id") === col("p_cent"))
    perQuery(scored.as[AdcScore])(_.q_id)(
      (_, rows) => bestK(rows, k)(s => (s.adc_dist, s.cand_id)).iterator)
  }

  case class LabeledScore(q_id: Long, cand_id: Long, cosine: Double,
      label: Option[Long])
  case class KnnVote(q_id: Long, pred_label: Option[Long], votes: Long)
  case class SemDedupDecision(vec_id: Long, cent_id: Long, keep: Long,
      cell_capped: Long)

  /** KNN label vote for a STREAM of (id, embedding) queries against a
    * STATIC labeled corpus — the streaming face of
    * [[graft.api.GraftApi.knnClassify]] (the FineWeb-Edu/DCLM
    * seed-similarity classifier served online), over its scored side
    * (GraftApi.labeledCosines: zero-norm queries and corpus rows
    * dropped, the micro-batch broadcast against one corpus scan). Per
    * query the k best (cosine desc, cand_id asc) vote, and the majority
    * label wins: most votes, then the smallest label, a null label last
    * — the batch order exactly. Heap and tally run in ONE group pass.
    */
  def knnClassifyStream(queries: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, labelCol: String, k: Int = 10): Dataset[KnnVote] = {
    import queries.sparkSession.implicits._
    val scored = GraftApi.labeledCosines(corpus, queries, idCol, embCol, labelCol)
      .withColumn("label", col("label").cast("long"))
    perQuery(scored.as[LabeledScore])(_.q_id) { (qid, rows) =>
      val best = bestK(rows, k)(s => (-s.cosine, s.cand_id))
      best.groupBy(_.label).view.mapValues(_.size).toSeq
        .sortBy { case (l, n) => (-n, l.isEmpty, l.getOrElse(0L)) }
        .headOption.iterator
        .map { case (label, n) => KnnVote(qid, label, n.toLong) }
    }
  }

  /** SemDeDup keep/drop decisions for a STREAM of (id, embedding)
    * vectors against a persisted [[graft.operators.Similarity
    * .semDedupIndex]] — the online admission face of the registered
    * dedup_semdedup pass: assign the arriving vector to its nearest
    * centroid (Similarity.nearestCell, the batch pass's argmin kernel),
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
    val assigned = Similarity.nearestCell(
        Similarity.corpusVecs(queries, idCol, embCol), cents)
      .select(col("pid").as("q_id"), col("emb").as("qd"), col("nrm").as("q_nrm"),
        col("a_cent"))
      .join(broadcast(stats.select(col("cent_id").as("s_cent"), col("n"))),
        col("a_cent") === col("s_cent"), "left_outer")
      .withColumn("cell_capped",
        when(col("n") > cellCap, 1L).otherwise(0L))
    // keep-decision rows: every query emits a base row (no match
    // marker); capped cells contribute no pair rows (the batch cap
    // discipline); otherwise each ≥tau lower-id cell member adds a hit
    // row. One group pass folds them into the final decision.
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
    perQuery(base.unionByName(hits).as[(Long, Long, Long, Option[Long])])(_._1) {
      (qid, rows) =>
        var cent = 0L; var capped = 0L; var dropped = false
        rows.foreach { case (_, c, cap, mid) =>
          cent = c; capped = cap
          if (mid.isDefined) dropped = true
        }
        Iterator(SemDedupDecision(qid, cent, if (dropped) 0L else 1L, capped))
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
