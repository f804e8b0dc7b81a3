package graft.operators

import graft.{Op, Tables}
import graft.functions.vec.vec_dot
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY §2.2 similarity search over the embeddings table
  * (64-dim float vectors).
  *
  * Determinism across engines: dot products and norms are LEFT-TO-RIGHT
  * sequential folds in double precision (Spark `aggregate` HOF; DuckDB
  * `list_reduce`), with every float element cast to double BEFORE the
  * multiply — both engines then produce bit-identical IEEE results, so
  * scores can be compared exactly and rankings never flip.
  *
  * Scale posture: brute-force is the small-query-set baseline (cost
  * |Q|·|N| with Q broadcast); the LSH variant buckets by a sign-bit
  * sketch so candidate generation is an equi-join on the bucket key —
  * the 100 TB path. No cross join ever touches two large sides.
  *
  * The ANN family's contract is its probe core, written once here and
  * composed by every IVF/IVF-PQ search (GraftApi's and AnnServe's
  * faces included): [[queryVecs]] (the zero-norm-gated query
  * projection), [[probeCells]] (per-query cell ranking by cosine desc,
  * cent_id, one sort per query row), [[autoNprobeCut]] (the
  * occupancy-derived nprobe bound), [[splitHotCells]] /
  * [[preSplitByOccupancy]] over [[hotCells]] (the hot-cell split at
  * serve and build time, bounded by [[hotCellBound]]), [[withAdcLut]] /
  * [[adcScores]] (the per-query PQ lookup table and distance) and
  * [[ivfPqCodes]] (the cell-keyed PQ codes).
  */
object Similarity {

  /** Per-vector L2 norm as a sequential double fold (see determinism note).
    * vec_dot is the codegen'd native expression (graft.functions) — the
    * identical left-to-right fold, minus the per-row intermediate array a
    * HOF zip_with would allocate.
    */
  private def nrmOf(c: Column): Column = sqrt(vec_dot(c, c))

  private val normSql =
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE)," +
      " list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))," +
      " (acc, v) -> acc + v))"

  /** Zero-norm contract (null-gate r9): a zero vector has no direction —
    * cosine against it is 0/0, which Spark's ANSI double division turns
    * into a mid-scan DIVIDE_BY_ZERO crash and DuckDB into NaN (silently
    * unrankable). Retrieval ops therefore EXCLUDE zero-norm vectors from
    * both the corpus and the query set, in engine and oracle alike; the
    * per-vector decision op (dedup_semdedup) instead keeps the row and
    * guards its divisions. At 100 TB a zero embedding (a failed encoder
    * batch) is a certainty, not an edge case.
    */
  private[graft] def normed(df: DataFrame, emb: String = "embedding",
      nrm: String = "nrm"): DataFrame =
    // barrier: without it, pushdown clones the vec_dot(emb, emb) norm
    // into the `nrm > 0` gate's condition and the scan stage runs the
    // full-width dot product twice per vector (plans/r17 Condition
    // audit, r17)
    df.withColumn(nrm, graft.functions.OptimizerBarrier.barrier(nrmOf(col(emb))))
      .filter(col(nrm) > 0)
  private val normedVSql =
    s"SELECT * FROM (SELECT vec_id, embedding, $normSql AS nrm FROM embeddings) WHERE nrm > 0"

  /** Exact cosine top-k: a small query set (vec_id < 8) against all
    * vectors. The query side is tiny → broadcast; per (query, candidate)
    * the dot product is a sequential fold; ranking runs through the house
    * TopKPerKeyExec (bounded heaps — a window would sort each group).
    */
  val annBruteForceTopK: Op = Op(
    "ann_bruteforce_topk",
    s"""WITH v AS ($normedVSql),
      |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm FROM v WHERE vec_id < 8),
      |scored AS (
      |  SELECT q_id, vec_id AS cand_id,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(generate_series(1, len(q_emb)),
      |        i -> CAST(q_emb[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
      |      (acc, p) -> acc + p) / (q_nrm * nrm) AS cosine
      |  FROM q JOIN v ON q_id <> vec_id)
      |SELECT q_id, cand_id, cosine FROM (
      |  SELECT q_id, cand_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, cand_id) AS rn
      |  FROM scored) WHERE rn <= 10""".stripMargin,
  ) { (spark, dir) =>
    // corpus side ALSO off the unspread load (r17): spread()'s
    // repartition only fires on a single-split input — i.e. exactly the
    // corpora small enough that 8 broadcast-probe dot products per row
    // are trivial serial work — while any corpus big enough to need
    // parallel scoring is multi-file and spread() is a no-op there
    // anyway. Dropping it removes the one Exchange (and its AQE stage
    // round) this plan carried; scan → broadcast probe → top-k heaps is
    // otherwise exchange-free until the per-query ranking shuffle.
    val v = normed(Tables.load(spark, dir, "embeddings"))
    // query side off the UNSPREAD load (r15): vec_id < 8 pushes into the
    // parquet scan, so routing 8 rows through spread()'s repartition
    // exchange bought nothing but an extra shuffle + AQE stage before
    // the broadcast — at any scale, the query sliver never needs
    // corpus parallelism
    // id filter BELOW normed (r17): normed()'s barrier blocks predicate
    // pushdown through its projection, so a sliver filter written above
    // it would cost this scan its LessThan(vec_id, 8) pushdown — filter
    // first, norm only the 8 surviving rows
    val q = normed(Tables.load(spark, dir, "embeddings")
        .filter(col("vec_id") < 8))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val dot = vec_dot(col("q_emb"), col("embedding"))
    val scored = v.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        (dot / (col("q_nrm") * col("nrm"))).as("cosine"))
    // rank through the house TopKPerKeyExec (bounded per-key heaps) —
    // a row_number window would fully sort every (query, candidate) group
    graft.api.GraftApi.topKPerKey(scored, "q_id", "cosine", "cand_id", k = 10)
      .select("q_id", "cand_id", "cosine")
  }

  /** Sign-bit sketch of the first 8 components — an axis-aligned
    * hyperplane LSH bucket key (a production build draws random
    * hyperplanes; axis-aligned keeps the oracle engine-portable while
    * exercising the identical plan shape).
    */
  private def sketchExprAt(off: Int, w: Int = 8) =
    s"array_join(transform(slice(embedding, $off, $w)," +
      " x -> case when cast(x as double) >= 0.0d then '1' else '0' end), '')"
  private def sketchSqlAt(off: Int, w: Int = 8) =
    s"array_to_string(list_transform(embedding[$off:${off + w - 1}]," +
      " x -> CASE WHEN CAST(x AS DOUBLE) >= 0.0 THEN '1' ELSE '0' END), '')"
  private val sketchExpr = sketchExprAt(1)
  private val sketchSql = sketchSqlAt(1)

  /** The (vec_id, key) posting rows of [[annKnnJoinTopK]]'s candidate
    * buckets — both LSH bands, the band index prefixed into the key so
    * the two bands stay separate bucket namespaces, over the op's own
    * corpus contract (dim ≥ 16, nrm > 0). The cap-audit face of the
    * knn join's 2..64 bucket bound (VERDICT r15 #1 — see
    * Dedup.capAuditRow).
    */
  private[graft] def knnBandBuckets(emb: DataFrame): DataFrame = {
    val v = graft.CacheRegistry.track(
      normed(emb.filter(size(col("embedding")) >= 16))
        .withColumn("sk1", expr(sketchExprAt(1)))
        .withColumn("sk2", expr(sketchExprAt(9)))
        .select("vec_id", "sk1", "sk2"))
    v.select(col("vec_id"), concat(lit("1:"), col("sk1")).as("key"))
      .unionByName(
        v.select(col("vec_id"), concat(lit("2:"), col("sk2")).as("key")))
  }

  /** Same posting rows in DuckDB SQL, as a parenthesized relation. */
  private[operators] val knnBandBucketsSql: String =
    s"""(WITH vv AS (SELECT * FROM (SELECT vec_id, embedding, $normSql AS nrm,
      |        ${sketchSqlAt(1)} AS sk1, ${sketchSqlAt(9)} AS sk2
      |      FROM embeddings WHERE len(embedding) >= 16) WHERE nrm > 0)
      | SELECT vec_id, '1:' || sk1 AS key FROM vv
      | UNION ALL SELECT vec_id, '2:' || sk2 AS key FROM vv)""".stripMargin

  /** Embedding near-dup pairs: bucket by sign sketch (equi-join), verify
    * cosine ≥ τ inside buckets only.
    */
  val dedupEmbeddingCosine: Op = Op(
    "dedup_embedding_cosine",
    s"""WITH v AS (SELECT * FROM (SELECT vec_id, embedding, $normSql AS nrm, $sketchSql AS sk
      |           FROM embeddings) WHERE nrm > 0),
      |small AS (SELECT sk FROM v GROUP BY sk HAVING COUNT(*) BETWEEN 2 AND 64),
      |cand AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(generate_series(1, len(a.embedding)),
      |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
      |      (acc, p) -> acc + p) / (a.nrm * b.nrm) AS cosine
      |  FROM v a JOIN v b ON a.sk = b.sk AND a.vec_id < b.vec_id
      |  WHERE a.sk IN (SELECT sk FROM small))
      |SELECT vec_a, vec_b, cosine FROM cand WHERE cosine >= 0.2""".stripMargin,
  ) { (spark, dir) =>
    val v = graft.CacheRegistry.track(normed(Tables.embeddings(spark, dir))
      .withColumn("sk", expr(sketchExpr)))
    // the family bucket cap (multiplicity contract): a degenerate sketch
    // bucket — mass-duplicated vectors — makes in-bucket pairs quadratic
    // in the duplication depth while discriminating nothing (the 300x
    // smoke put this op at ~9x output growth on 3x data). Buckets past
    // 64 members are dropped, exactly as the minhash/simhash/phash
    // posting lists drop theirs; real near-dups re-surface after
    // exact-vector dedup collapses the multiplicity. The kept-bucket
    // list is sketch-cardinality-sized (≤ 2^8 here) — broadcast.
    val small = v.groupBy("sk").agg(count(lit(1)).as("n"))
      .filter(col("n").between(2, Dedup.bucketCap)).select("sk")
    // prune the b-side through the kept-bucket broadcast BEFORE the
    // shuffle too (the ivfSemDedup discipline): without it every member
    // of a dropped >64 hot bucket still hash-partitions to one reducer
    // only to find an empty a-side — the concentration the cap exists
    // to avoid on a mass-duplicated corpus
    val b = v.join(broadcast(small), "sk")
      .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        col("nrm").as("b_nrm"), col("sk").as("b_sk"))
    val dot = vec_dot(col("embedding"), col("b_emb"))
    v.join(broadcast(small), "sk")
      .join(b, col("sk") === col("b_sk") && col("vec_id") < col("b_id"))
      .select(col("vec_id").as("vec_a"), col("b_id").as("vec_b"),
        (dot / (col("nrm") * col("b_nrm"))).as("cosine"))
      .filter(col("cosine") >= 0.2)
  }

  /** Distributed kNN SELF-JOIN: top-k nearest neighbors for EVERY corpus
    * vector — the batch face of ANN serving (ann_bruteforce_topk answers
    * 8 queries; a diversification / clustering / SemDeDup-style pipeline
    * needs the neighbor list of all N). All-pairs is O(N²) and never
    * ships at 100 TB, so candidates come from TWO independent LSH bands
    * (sign sketches of dims 1–8 and 9–16 — the OR-construction: a
    * neighbor is found if it agrees on EITHER band), each band a keyed
    * self-join over buckets bounded by the family's 2–64 cap (degenerate
    * mass-duplicate buckets discriminate nothing and are dropped, the
    * dedup_embedding_cosine contract). Band pair sets union, dedup, and
    * rank through the bounded-heap TopKPerKeyExec — no per-vector sort.
    * A vector whose both bands are degenerate emits no neighbors
    * (declared; the recall-audit discipline measures the price). Scale
    * shape: both band joins are keyed equi-joins with broadcast kept-
    * bucket pruning on BOTH sides, candidate volume is ≤ cap² per
    * bucket, and the final ranking is one exchange on vec_id.
    *
    * Reference behavior anchor: the reference's typed-index lookup
    * serving every query from one precomputed structure
    * (/root/reference/src/main/scala/ivm/tests/TypeIndexTest.scala) —
    * here the structure is the pair of band bucket maps.
    */
  private def knnJoinOp(name: String, w: Int): Op = {
    val off2 = w + 1
    val minDim = 2 * w
    def bandSql(sk: String): String =
      s"""SELECT a.vec_id, b.vec_id AS nbr_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(generate_series(1, len(a.embedding)),
        |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
        |      (acc, p) -> acc + p) / (a.nrm * b.nrm) AS cosine
        |  FROM v a JOIN v b ON a.$sk = b.$sk AND a.vec_id <> b.vec_id
        |  WHERE a.$sk IN (SELECT $sk FROM v GROUP BY $sk
        |                  HAVING COUNT(*) BETWEEN 2 AND 64)""".stripMargin
    Op(
      name,
      s"""WITH v AS (SELECT * FROM (SELECT vec_id, embedding, $normSql AS nrm,
        |             ${sketchSqlAt(1, w)} AS sk1, ${sketchSqlAt(off2, w)} AS sk2
        |           FROM embeddings WHERE len(embedding) >= $minDim) WHERE nrm > 0),
        |cand AS (SELECT DISTINCT vec_id, nbr_id, cosine FROM (
        |  ${bandSql("sk1")}
        |  UNION ALL
        |  ${bandSql("sk2")}))
        |SELECT vec_id, nbr_id, cosine FROM (
        |  SELECT vec_id, nbr_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nbr_id) AS rn
        |  FROM cand) WHERE rn <= 3""".stripMargin,
    ) { (spark, dir) =>
      knnJoinTopK(Tables.embeddings(spark, dir), w, cacheSketch = true)
    }
  }

  /** The banded knn self-join over any (vec_id, embedding) frame at
    * band width `w` — the library verb behind ann_knn_join_topk (w=8)
    * and ann_knn_join_wide (w=16); pick the smallest w whose 2^w band
    * space keeps expected occupancy under the 64 cap at your corpus
    * size, and widen when dedup_cap_audit's sat_docs goes nonzero.
    *
    * `cacheSketch`: the registered-op harness persists the sketch frame
    * (four branches read it) and drains [[graft.CacheRegistry]] between
    * queries; library callers who won't drain the registry keep the
    * default false so the verb never leaks a session-lifetime cached
    * frame (the bloomUpsertServe cacheProbe discipline, ADVICE r16).
    */
  def knnJoinTopK(emb: DataFrame, w: Int, k: Int = 3,
      cacheSketch: Boolean = false): DataFrame = {
    // w = 0 would sketch every vector to one "" bucket per band, which
    // the 2..64 cap drops — the silent-empty-result failure mode the
    // cap audit exists to surface; fail fast like simhashBandKeys
    require(w >= 1 && w <= 32,
      s"knnJoinTopK: band width w=$w out of range [1, 32]")
    require(k >= 1, s"knnJoinTopK: k=$k must be >= 1")
    val off2 = w + 1
    val minDim = 2 * w
    // band 2 reads dims off2..2w, so the contract is dim ≥ 2w: shorter
    // vectors would silently collapse band 2 into one "" bucket the
    // 2..64 cap drops (halving recall with no error) — exclude them
    // explicitly, mirrored in the oracle (declared-degenerate-bucket
    // discipline)
    val vPlan = normed(emb
        .filter(size(col("embedding")) >= minDim))
      .withColumn("sk1", expr(sketchExprAt(1, w)))
      .withColumn("sk2", expr(sketchExprAt(off2, w)))
    val v = if (cacheSketch) graft.CacheRegistry.track(vPlan) else vPlan
    def bandPairs(sk: String): DataFrame = {
      val small = v.groupBy(sk).agg(count(lit(1)).as("n"))
        .filter(col("n").between(2, Dedup.bucketCap)).select(sk)
      // kept-bucket pruning on BOTH sides before the shuffle (the
      // dedup_embedding_cosine discipline — a dropped hot bucket's
      // members must not concentrate onto one reducer for nothing)
      val a = v.join(broadcast(small), sk)
      val b = a.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        col("nrm").as("b_nrm"), col(sk).as("b_sk"))
      a.join(b, col(sk) === col("b_sk") && col("vec_id") =!= col("b_id"))
        .select(col("vec_id"), col("b_id").as("nbr_id"),
          (vec_dot(col("embedding"), col("b_emb")) /
            (col("nrm") * col("b_nrm"))).as("cosine"))
    }
    val cand = bandPairs("sk1").unionByName(bandPairs("sk2")).distinct()
    graft.api.GraftApi.topKPerKey(cand, "vec_id", "cosine", "nbr_id", k = k)
      .select("vec_id", "nbr_id", "cosine")
  }

  val annKnnJoinTopK: Op = knnJoinOp("ann_knn_join_topk", 8)

  /** The knn join at 16-bit bands (dims 1–16 / 17–32; contract dim ≥
    * 32) — the occupancy answer to what the cap audit measures on the
    * 8-bit layout: a 2^8-value band space averages > 64 members per
    * bucket past ~20k vectors, so every bucket saturates and the
    * narrow join's recall collapses with no error (dedup_cap_audit
    * read 19k of 50k vectors in saturated buckets at the 10× rung).
    * 2^16 values per band carry expected occupancy ≤ 64 to ~4M
    * vectors — the simhashLayoutFor discipline (band space sized to
    * corpus, cost per doc unchanged: still two band rows) applied to
    * the embedding family. Same cap, same verify, same top-3 ranking;
    * only the bucket key widens. A production deployment picks the
    * width from corpus size at index-build time and re-maps when the
    * audit's sat_docs goes nonzero.
    */
  val annKnnJoinWide: Op = knnJoinOp("ann_knn_join_wide", 16)

  /** Multi-signal near-dup evidence — the provenance table a curation
    * pipeline keeps when it mines duplicates through more than one
    * modality: every pair flagged by the LEXICAL generator (MinHash-LSH
    * exact Jaccard ≥ 0.2) or the SEMANTIC one (embedding cosine ≥ 0.2
    * on the id-aligned vector), with both scores and a signal count, so
    * downstream policy can demand consensus (n_signals = 2) or weigh
    * signals per source. One keyed (doc_a, doc_b) FULL join of two
    * already-sliver pair sets — the corpus is never touched beyond the
    * two generators. Absent scores render as 0.0 (below both
    * thresholds by construction, so no information is lost).
    */
  val dedupMultiSignal: Op = Op(
    "dedup_multi_signal",
    s"""WITH lex AS (${graft.operators.Dedup.minhashLsh.oracle.get}),
      |sem AS (${dedupEmbeddingCosine.oracle.get})
      |SELECT COALESCE(l.doc_a, s.vec_a) AS doc_a,
      |  COALESCE(l.doc_b, s.vec_b) AS doc_b,
      |  CAST((CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END)
      |     + (CASE WHEN s.vec_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signals,
      |  COALESCE(l.jaccard, 0.0) AS jaccard,
      |  COALESCE(s.cosine, 0.0) AS cosine
      |FROM lex l FULL JOIN sem s
      |  ON s.vec_a = l.doc_a AND s.vec_b = l.doc_b""".stripMargin,
  ) { (spark, dir) =>
    val lex = graft.operators.Dedup.minhashPairs(
      Tables.documents(spark, dir), 0.2)
    val sem = dedupEmbeddingCosine.fn(spark, dir)
    lex.join(sem,
        col("vec_a") === col("doc_a") && col("vec_b") === col("doc_b"),
        "full_outer")
      .select(coalesce(col("doc_a"), col("vec_a")).as("doc_a"),
        coalesce(col("doc_b"), col("vec_b")).as("doc_b"),
        (when(col("doc_a").isNotNull, 1L).otherwise(0L) +
          when(col("vec_a").isNotNull, 1L).otherwise(0L)).as("n_signals"),
        coalesce(col("jaccard"), lit(0.0)).as("jaccard"),
        coalesce(col("cosine"), lit(0.0)).as("cosine"))
  }

  /** Approximate top-k: same sketch buckets; each query ranks only within
    * its bucket — the scale path where the full candidate scan is replaced
    * by an equi-join.
    */
  val annLshTopK: Op = Op(
    "ann_lsh_topk",
    s"""WITH v AS (SELECT * FROM (SELECT vec_id, embedding, $normSql AS nrm, $sketchSql AS sk
      |           FROM embeddings) WHERE nrm > 0),
      |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm, sk AS q_sk
      |      FROM v WHERE vec_id < 8),
      |scored AS (
      |  SELECT q_id, vec_id AS cand_id,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(generate_series(1, len(q_emb)),
      |        i -> CAST(q_emb[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
      |      (acc, p) -> acc + p) / (q_nrm * nrm) AS cosine
      |  FROM q JOIN v ON q_sk = sk AND q_id <> vec_id)
      |SELECT q_id, cand_id, cosine FROM (
      |  SELECT q_id, cand_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, cand_id) AS rn
      |  FROM scored) WHERE rn <= 5""".stripMargin,
  ) { (spark, dir) =>
    // corpus off the unspread load (r17 second pass — the bruteforce
    // precedent): scan → broadcast bucket probe feeds no shuffle, so
    // spread()'s repartition was a dead full-payload Exchange
    val v = normed(Tables.load(spark, dir, "embeddings"))
      .withColumn("sk", expr(sketchExpr))
    // query sliver off its own FILTERED scan (r17): deriving q from v
    // kept the vec_id < 8 predicate above normed()'s barrier, which
    // blocks pushdown — this branch's scan then read every row; filter
    // first and the scan keeps its LessThan pushdown (unspread load:
    // the sliver never needs corpus parallelism, the r15 note)
    val q = normed(Tables.load(spark, dir, "embeddings")
        .filter(col("vec_id") < 8))
      .withColumn("sk", expr(sketchExpr))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("sk").as("q_sk"))
    val dot = vec_dot(col("q_emb"), col("embedding"))
    val scored = v.join(broadcast(q),
        col("q_sk") === col("sk") && col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        (dot / (col("q_nrm") * col("nrm"))).as("cosine"))
    graft.api.GraftApi.topKPerKey(scored, "q_id", "cosine", "cand_id", k = 5)
      .select("q_id", "cand_id", "cosine")
  }

  /** IVF (inverted-file) approximate top-k — the other standard ANN scale
    * path next to LSH: pick centroids, assign every vector to its nearest
    * centroid (the "inverted lists"), then have each query probe only its
    * nprobe=2 nearest cells. At 100 TB the assignment is one broadcast
    * pass over the fleet (centroids are tiny), the lists are just a
    * partitioning of the vector table by cell id, and query cost is
    * |cells probed| not |N|. Centroid choice here is a deterministic
    * subset — the 256 LOWEST ids, a BOUNDED count, not a fixed fraction:
    * a %-of-N seeding makes |cells| grow with N and the assignment pass
    * O(N²) (ScaleSmoke caught exactly that at 10× — 0.6 s → 29 s);
    * bounded cells keep assignment O(N·cells) with a constant broadcast.
    * Production would k-means a sampled seed set, which changes only how
    * `cents` is produced.
    * Final ranking runs through the custom TopKPerKeyExec operator.
    */
  val annIvfTopK: Op = Op(
    "ann_ivf_topk",
    s"""WITH v AS ($normedVSql),
      |c AS (SELECT vec_id AS cent_id, embedding AS c_emb, nrm AS c_nrm
      |      FROM v WHERE vec_id < 256),
      |assign AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT v.vec_id, c.cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(generate_series(1, len(v.embedding)),
      |            i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.c_emb[i] AS DOUBLE))),
      |          (acc, p) -> acc + p) / (v.nrm * c.c_nrm) DESC, c.cent_id) AS rn
      |    FROM v, c) WHERE rn = 1),
      |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
      |      FROM v WHERE vec_id < 8),
      |probes AS (
      |  SELECT q_id, cent_id FROM (
      |    SELECT q.q_id, c.cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(generate_series(1, len(q.q_emb)),
      |            i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(c.c_emb[i] AS DOUBLE))),
      |          (acc, p) -> acc + p) / (q.q_nrm * c.c_nrm) DESC, c.cent_id) AS rn
      |    FROM q, c) WHERE rn <= 2),
      |scored AS (
      |  SELECT q.q_id, v.vec_id AS cand_id,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(generate_series(1, len(q.q_emb)),
      |        i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE))),
      |      (acc, p) -> acc + p) / (q.q_nrm * v.nrm) AS cosine
      |  FROM q JOIN probes pr ON pr.q_id = q.q_id
      |       JOIN assign a ON a.cent_id = pr.cent_id
      |       JOIN v ON v.vec_id = a.vec_id AND v.vec_id <> q.q_id)
      |SELECT q_id, cand_id, cosine FROM (
      |  SELECT q_id, cand_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, cand_id) AS rn
      |  FROM scored) WHERE rn <= 5""".stripMargin,
  ) { (spark, dir) =>
    val v = normed(Tables.embeddings(spark, dir))
    // cents/q slivers off their own FILTERED scans (r17): deriving them
    // from v kept the id predicates above normed()'s barrier, which
    // blocks pushdown — each sliver branch then re-read the whole table;
    // filtered unspread loads keep LessThan(vec_id, …) in PushedFilters
    val cents = normed(Tables.load(spark, dir, "embeddings")
        .filter(col("vec_id") < 256))
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))
    // nearest centroid through the codegen'd argmin kernel (assignTo):
    // codebook packed + broadcast, one input row → one output row — no
    // |N|·|cells| expansion, no aggregate, no window.
    val assign = nearestCell(v, cents)
      .select(col("pid").as("a_vec"), col("a_cent"))
    val q = normed(Tables.load(spark, dir, "embeddings")
        .filter(col("vec_id") < 8))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    ivfProbeSearch(q, cents, assign, v, lit(2), k = 5)
  }

  /** Random-hyperplane LSH (the production form of the sign-sketch ops
    * above): 8 pseudo-random hyperplanes with components derived
    * deterministically from md5 digits — h(j,d) ∈ [-1,1] — so every
    * engine can rebuild the SAME planes (a seeded PRNG would not be
    * portable). Bucket key = the 8 sign bits of the hyperplane dot
    * products; queries rank true cosine within their bucket only.
    * The planes are computed ONCE into a one-row broadcast (not per
    * row — 512 md5 calls per vector would swamp the scan).
    */
  private val rhPlanesExpr =
    "transform(sequence(0, 7), j -> transform(sequence(1, 64), d -> " +
      "cast((locate(substring(md5(concat('rh', j, ':', d)), 1, 1), '0123456789abcdef') - 1) * 16 " +
      "+ (locate(substring(md5(concat('rh', j, ':', d)), 2, 1), '0123456789abcdef') - 1) as double)" +
      " / 127.5 - 1.0))"

  /** The interpreted-HOF formulation of the sign sketch, kept ONLY as the
    * bit-identity reference for graft.functions.SignSketch (vec_signs) —
    * FunctionsSpec asserts both produce the same string on the real
    * embeddings; the operator itself runs the codegen'd kernel.
    */
  private[graft] val rhSketchHofReference =
    "concat_ws('', transform(sequence(1, 8), j -> " +
      "if(aggregate(sequence(1, 64), cast(0.0 as double), (acc, d) -> " +
      "acc + element_at(element_at(w, j), d) * cast(element_at(embedding, d) as double)) >= 0.0D," +
      " '1', '0')))"

  private[graft] val rhPlanesExprForSpec = rhPlanesExpr

  private val rhOracleSketch =
    """w AS (SELECT j, list_transform(generate_series(1, 64), d ->
      |        CAST(  (strpos('0123456789abcdef', substr(md5('rh' || j || ':' || d), 1, 1)) - 1) * 16
      |             + (strpos('0123456789abcdef', substr(md5('rh' || j || ':' || d), 2, 1)) - 1)
      |             AS DOUBLE) / 127.5 - 1.0) AS wv
      |      FROM UNNEST(generate_series(0, 7)) AS t(j)),
      |sk AS (SELECT vec_id, string_agg(CASE WHEN dot >= 0.0 THEN '1' ELSE '0' END, ''
      |                                 ORDER BY j) AS sk
      |       FROM (SELECT e.vec_id, w.j,
      |               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |                 list_transform(generate_series(1, 64),
      |                   d -> w.wv[d] * CAST(e.embedding[d] AS DOUBLE))),
      |                 (acc, p) -> acc + p) AS dot
      |             FROM embeddings e, w) GROUP BY vec_id)""".stripMargin

  val annRandomHyperplaneTopK: Op = Op(
    "ann_rh_lsh_topk",
    s"""WITH $rhOracleSketch,
      |v AS (SELECT * FROM (SELECT e.vec_id, e.embedding, $normSql AS nrm, sk.sk
      |      FROM embeddings e JOIN sk ON sk.vec_id = e.vec_id) WHERE nrm > 0),
      |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm, sk AS q_sk
      |      FROM v WHERE vec_id < 8),
      |scored AS (
      |  SELECT q_id, vec_id AS cand_id,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(generate_series(1, len(q_emb)),
      |        i -> CAST(q_emb[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
      |      (acc, p) -> acc + p) / (q_nrm * nrm) AS cosine
      |  FROM q JOIN v ON q_sk = sk AND q_id <> vec_id)
      |SELECT q_id, cand_id, cosine FROM (
      |  SELECT q_id, cand_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, cand_id) AS rn
      |  FROM scored) WHERE rn <= 5""".stripMargin,
  ) { (spark, dir) =>
    val planes = spark.range(1).select(expr(rhPlanesExpr).as("w"))
    // corpus off the unspread load (r17 second pass): scan → broadcast
    // bucket probe has no downstream shuffle to feed — the bruteforce
    // precedent (spread()'s repartition shuffled the full embedding
    // payload to parallelize per-row work a single split does in
    // milliseconds; multi-split corpora parallelize at the scan)
    def sketched(base: DataFrame) = normed(base.crossJoin(broadcast(planes)))
      .withColumn("sk", graft.functions.vec.vec_signs(col("embedding"), col("w")))
      .select("vec_id", "embedding", "nrm", "sk")
    val v = sketched(Tables.load(spark, dir, "embeddings"))
    // query sliver off its own FILTERED scan (r17 second pass): the
    // barrier nrm in v's projection blocks predicate pushdown, so
    // filtering v here re-ran the 8-plane sign kernel + norm over the
    // WHOLE corpus to keep 8 rows — the same clone-class bug the first
    // pass fixed on the lsh/ivf slivers; vec_id < 8 now pushes into
    // this branch's own scan
    val q = sketched(Tables.load(spark, dir, "embeddings")
        .filter(col("vec_id") < 8))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("sk").as("q_sk"))
    val dot = vec_dot(col("q_emb"), col("embedding"))
    val scored = v.join(broadcast(q),
        col("q_sk") === col("sk") && col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        (dot / (col("q_nrm") * col("nrm"))).as("cosine"))
    graft.api.GraftApi.topKPerKey(scored, "q_id", "cosine", "cand_id", k = 5)
      .select("q_id", "cand_id", "cosine")
  }

  /** The ann_ivf_kmeans CTE chain (v/c0/assign0/contrib/c1/c1n/assign1/q),
    * with the probe cut parameterized: `probeLimit` is the SQL expression
    * bounding `rn` (a literal for the fixed-nprobe op; an occupancy-derived
    * scalar subquery for the autoprobe op, whose CTEs arrive via
    * `extraCtes`). One builder so the fixed-point Lloyd algebra is written
    * exactly once and both ops provably share it.
    */
  private def ivfKmeansOracleSql(extraCtes: String, probeLimit: String,
      trainFilter: String = "TRUE"): String =
    s"""WITH v AS ($normedVSql),
      |vt AS (SELECT * FROM v WHERE $trainFilter),
      |c0 AS (SELECT vec_id AS cent_id, embedding AS c_emb, nrm AS c_nrm
      |       FROM vt ORDER BY vec_id LIMIT 256),
      |assign0 AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT v.vec_id, c0.cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(generate_series(1, len(v.embedding)),
      |            i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c0.c_emb[i] AS DOUBLE))),
      |          (acc, p) -> acc + p) / (v.nrm * c0.c_nrm) DESC, c0.cent_id) AS rn
      |    FROM vt v, c0) WHERE rn = 1),
      |contrib AS (
      |  SELECT a.cent_id, t.d,
      |    CAST(round(CAST(v.embedding[t.d] AS DOUBLE) * 1000000) AS BIGINT) AS qv
      |  FROM vt v JOIN assign0 a ON a.vec_id = v.vec_id,
      |       UNNEST(generate_series(1, 64)) AS t(d)),
      |c1 AS (
      |  SELECT cent_id, list(mean ORDER BY d) AS c_emb FROM (
      |    SELECT cent_id, d,
      |      CAST(SUM(qv) AS DOUBLE) / 1000000.0 / COUNT(*) AS mean
      |    FROM contrib GROUP BY cent_id, d) GROUP BY cent_id),
      |c1n AS (SELECT cent_id, c_emb,
      |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(c_emb, x -> x * x)), (acc, p) -> acc + p)) AS c_nrm
      |  FROM c1),
      |assign1 AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT v.vec_id, c.cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(generate_series(1, len(v.embedding)),
      |            i -> CAST(v.embedding[i] AS DOUBLE) * c.c_emb[i])),
      |          (acc, p) -> acc + p) / (v.nrm * c.c_nrm) DESC, c.cent_id) AS rn
      |    FROM v, c1n c) WHERE rn = 1),
      |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
      |      FROM v WHERE vec_id < 8),$extraCtes
      |probes AS (
      |  SELECT q_id, cent_id FROM (
      |    SELECT q.q_id, c.cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(generate_series(1, len(q.q_emb)),
      |            i -> CAST(q.q_emb[i] AS DOUBLE) * c.c_emb[i])),
      |          (acc, p) -> acc + p) / (q.q_nrm * c.c_nrm) DESC, c.cent_id) AS rn
      |    FROM q, c1n c) WHERE rn <= $probeLimit),
      |scored AS (
      |  SELECT q.q_id, v.vec_id AS cand_id,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(generate_series(1, len(q.q_emb)),
      |        i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE))),
      |      (acc, p) -> acc + p) / (q.q_nrm * v.nrm) AS cosine
      |  FROM q JOIN probes pr ON pr.q_id = q.q_id
      |       JOIN assign1 a ON a.cent_id = pr.cent_id
      |       JOIN v ON v.vec_id = a.vec_id AND v.vec_id <> q.q_id)
      |SELECT q_id, cand_id, cosine FROM (
      |  SELECT q_id, cand_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, cand_id) AS rn
      |  FROM scored) WHERE rn <= 5""".stripMargin

  /** IVF with one Lloyd (k-means) refinement iteration — the index-build
    * loop real IVF indexes run, on top of [[annIvfTopK]]'s probe shape.
    *
    * Cross-engine exactness of the refined centroids is the crux: a
    * naive per-cell AVG of doubles depends on partial-aggregation order
    * (different between 1000 Spark executors and DuckDB), so the mean is
    * computed over FIXED-POINT components — round(x·1e6) per dimension,
    * summed exactly as longs, divided back once — making every refined
    * centroid bit-identical in both engines regardless of parallelism.
    * The per-(cell,dim) sums are the scalable shape too: one keyed
    * shuffle of (cells·64) longs, never a collect of vectors.
    *
    * Assignment stays the map-side min_by collapse (argmax cosine with
    * cent_id tiebreak, |N|·|cells| rows collapse before the shuffle);
    * probes = top-2 refined cells per query; final ranking through
    * TopKPerKeyExec on true cosine.
    */
  val annIvfKmeansTopK: Op = Op(
    "ann_ivf_kmeans_topk",
    ivfKmeansOracleSql("", "2"),
  ) { (spark, dir) =>
    // corpus KEEPS spread (the inline Lloyd training is the heavy
    // per-row compute spread exists for); the 8-row query sliver reads
    // its own unspread pushed-down scan (r17 second pass)
    val emb = Tables.embeddings(spark, dir)
    ivfSearch(emb,
      Tables.load(spark, dir, "embeddings").filter(col("vec_id") < 8),
      "vec_id", "embedding",
      cells = 256, nprobe = 2, iters = 1, k = 5)
  }

  /** The autoprobe occupancy CTEs: the oracle's nprobe bound, shared by
    * [[annIvfAutoprobe]], [[annIvfUpsert]] and [[annRecallAudit]] (which
    * nests the identical oracle so the audited search IS the registered
    * one).
    */
  private val autoprobeExtraCtes: String =
    """
      |occ AS (SELECT cent_id, COUNT(*) AS cnt FROM assign1 GROUP BY cent_id),
      |np AS (SELECT LEAST(256, GREATEST(1,
      |  CAST(ceil(40.0 * SUM(cnt) / SUM(cnt * cnt)) AS BIGINT))) AS np FROM occ),"""

  /** [[annIvfKmeansTopK]] with nprobe chosen FROM the index instead of by
    * hand — the SURVEY r6+ "nprobe auto-tuning from cell-occupancy stats"
    * item. Proximity-ranked probing lands a query in a cell with
    * probability ~proportional to cell mass, so p probes surface about
    * p·(Σcnt²/Σcnt) candidates (the size-biased mean occupancy) — the
    * smallest p reaching target = k·oversample candidates is
    * ceil(target·Σcnt/Σcnt²), clamped to [1, cells]. Skew tunes itself:
    * a lumpy index (big size-biased mean) probes fewer cells, a uniform
    * one probes more, and recall targets stay stable as the corpus
    * grows without anyone re-picking nprobe. Measured recall@5 at the
    * default (oversample = 8), via [[annRecallAudit]]: 32/40 = 0.80 at
    * both sf0.01 and sf0.1 (vs IVFPQ-ADC 0.35/0.275 and — after the r15
    * shortlist re-tune — IVFPQ+refine 0.825 at sf0.1; the ADC variant
    * trades recall for the 16-byte code scan, refine buys it back
    * above the IVF line). The stats are `cells` rows aggregated off the
    * inverted lists and ride the plan as a one-row
    * cross join — no driver action (see [[Similarity.ivfSearchAuto]]).
    * The oracle re-derives the same bound in SQL from the same assign1.
    */
  val annIvfAutoprobe: Op = Op(
    "ann_ivf_autoprobe",
    ivfKmeansOracleSql(autoprobeExtraCtes, "(SELECT np FROM np)"),
  ) { (spark, dir) =>
    // the SERVING deployment shape: search the persisted index (built
    // once per corpus, bucketBy(cent_id) lists) rather than re-training
    // it inline per run — r5 flagged the inline build as 2× the kmeans
    // sibling's cost for the same search. ivfIndex is deterministic, so
    // the persisted index ≡ what an inline build would train and the
    // oracle is unchanged.
    // query sliver off the unspread load (r17 second pass — the
    // ann_bruteforce precedent: 8 pushed-down rows never need the
    // spread() repartition's Exchange + AQE round)
    val (cents, lists, stats) = persistedIvfIndex(spark, dir, cells = 256,
      iters = 1)
    ivfSearchAutoFromIndex(cents, lists,
      Tables.load(spark, dir, "embeddings").filter(col("vec_id") < 8),
      "vec_id", "embedding", k = 5, oversample = 8, stats = Some(stats))
  }

  /** Incremental index maintenance, end to end and oracle-gated: an IVF
    * index trained on 4/5 of the corpus (vec_id % 5 ≠ 0) absorbs the
    * remaining fifth as a delta shard via [[ivfIndexUpsert]] — assigned
    * against the FROZEN centroids, appended to the lists, stats merged,
    * hot-cell pre-split re-derived — then serves an autoprobe search
    * over the merged index. The oracle is the kmeans chain with the
    * TRAINING CTEs restricted to the corpus subset and the assignment/
    * occupancy/search over everything: exactly the frozen-quantizer
    * contract (re-training on the union is a rebuild, not an upsert —
    * the dedup_incremental discipline applied to ANN; reference analog
    * Optimization.addIndex + IncrementalResult).
    */
  val annIvfUpsert: Op = Op(
    "ann_ivf_upsert",
    ivfKmeansOracleSql(autoprobeExtraCtes, "(SELECT np FROM np)",
      trainFilter = "vec_id % 5 <> 0"),
  ) { (spark, dir) =>
    // base index persisted get-or-build (r13, VERDICT r12 #4): the
    // one-time 4/5-corpus build lands in the warehouse on first touch
    // (a warmup pass in the bench), so timed runs measure what the op's
    // contract describes — the delta-sized absorb + serve. Training is
    // deterministic, so the persisted base ≡ the old inline build and
    // the oracle is unchanged.
    val emb = Tables.embeddings(spark, dir)
    val delta = emb.filter(col("vec_id") % 5 === 0)
    val (cents, lists, stats) = persistedIvfIndex(spark, dir,
      cells = 256, iters = 1, trainTag = "t45",
      train = _.filter(col("vec_id") % 5 =!= 0))
    val (lists1, stats1) = ivfIndexUpsert(cents, lists, stats, delta)
    // query sliver unspread (r17 second pass); the delta shard above
    // KEEPS spread — the frozen-centroid 256-cell argmin assign is real
    // per-row compute the repartition parallelizes on one-split input
    ivfSearchAutoFromIndex(cents, lists1,
      Tables.load(spark, dir, "embeddings").filter(col("vec_id") < 8),
      "vec_id", "embedding", k = 5, oversample = 8, stats = Some(stats1))
  }

  /** Sub-cell count for pre-split hot inverted lists — matches the local
    * bucket count; a cluster deployment sizes both to its executor
    * parallelism at index-build time.
    */
  private[graft] val hotSlices = 32
  /** The hot-cell bound of the IVF family: a cell whose occupancy exceeds
    * max(hotCellBound, Σcnt / shuffle partitions) is hot — sliced at
    * build time by [[preSplitByOccupancy]], split at serve time by
    * [[splitHotCells]]. The public `hotCellBound` parameters default to
    * it; specs force the split tiers through them.
    */
  private[graft] val hotCellBound: Long = 16384L
  /** Get-or-build the persisted IVF index of `dir`'s embeddings table:
    * first call per (session, corpus) trains [[ivfIndex]] and writes it
    * to a session-catalog database; later calls only read the tables.
    * In-memory-catalog sessions rebuild per session; a warehouse
    * deployment keeps the tables across jobs and refreshes them on
    * corpus change (which is an index rebuild anywhere).
    *
    * The persisted layout carries everything serving would otherwise
    * recompute per search (the addIndex precompute-once contract —
    * reference Optimization.scala:31):
    *   - `stats` — per-cell occupancy (cent_id, cnt), ≤`cells` rows.
    *     Autoprobe's nprobe bound and any hot-cell decision read THIS,
    *     never a corpus-sized lists scan.
    *   - `lists` PRE-SPLIT: cells whose inverted list exceeds the hot
    *     bound get `slice` = content-hash(vec_id) mod [[hotSlices]]
    *     (cold cells slice 0), and the table is bucketBy(cent_id, slice)
    *     — a hot cell's rows spread across bucket files AT REST, so the
    *     probe-join scan parallelizes over the hot cell with NO runtime
    *     repartition exchange. Serving detects the layout by the
    *     graft.presplit metadata flag on the slice column
    *     ([[presplitMeta]], [[splitHotCells]]).
    */
  private def persistedIvfIndex(spark: SparkSession, dir: String,
      cells: Int, iters: Int, trainTag: String = "all",
      train: DataFrame => DataFrame = identity)
      : (DataFrame, DataFrame, DataFrame) = {
    // trainTag/train carve the TRAINING corpus (the upsert ops persist a
    // base index of the 4/5 subset so their timed runs measure the
    // delta-sized absorb, not the one-time build — VERDICT r12 #4); the
    // tag keys the persisted database, the default keeps pre-r13 keys;
    // v3 prefix: layout change (stats table + pre-split slice column)
    graft.TempWarehouse.getOrBuild(spark,
        "graft_ivf3", s"$dir|$cells|$iters" +
          (if (trainTag == "all") "" else s"|$trainTag"),
        Seq("cents", "lists", "stats")) { db =>
      val (cents, lists) = ivfIndex(
        train(Tables.embeddings(spark, dir)), "vec_id", "embedding",
        cells, iters)
      cents.write.mode("overwrite").saveAsTable(s"$db.cents")
      cellOccupancy(lists).write.mode("overwrite").saveAsTable(s"$db.stats")
      savePreSplit(lists, spark.table(s"$db.stats"), s"$db.lists")
    } match { case Seq(cents, lists, stats) => (cents, lists, stats) }
  }

  /** Add the pre-split `slice` column to a cell-keyed frame: rows of
    * [[hotCells]] slice by content hash of `idCol` (deterministic under
    * stage retry), cold cells stay slice 0. The decision reads `stats` —
    * ≤cells rows.
    */
  private[graft] def preSplitByOccupancy(keyed: DataFrame, stats: DataFrame,
      idCol: String, hotCellBound: Long = Similarity.hotCellBound): DataFrame = {
    val (_, hotIds) = hotCells(stats, hotCellBound)
    val slice =
      if (hotIds.isEmpty) lit(0)
      else when(col("cent_id").isin(hotIds: _*),
        pmod(hash(col(idCol)), lit(hotSlices))).otherwise(lit(0))
    keyed.withColumn("slice", slice).withMetadata("slice", presplitMeta)
  }

  /** Persist a cell-keyed (cent_id, vec_id, …) frame in the pre-split
    * layout: [[preSplitByOccupancy]] at the default bound, bucketed and
    * sorted on (cent_id, slice) into [[hotSlices]] buckets.
    */
  private def savePreSplit(keyed: DataFrame, stats: DataFrame, table: String): Unit =
    preSplitByOccupancy(keyed, stats, "vec_id").write.mode("overwrite")
      .bucketBy(hotSlices, "cent_id", "slice").sortBy("cent_id", "slice")
      .saveAsTable(table)

  /** Explicit marker for the pre-split layout: a StructField-metadata flag
    * on the `slice` column, written by [[preSplitByOccupancy]] and
    * persisted through saveAsTable (Spark stores field metadata in the
    * catalog schema and the parquet footer). Detection by the mere
    * PRESENCE of a column named `slice` was fragile — any caller-supplied
    * lists/codes frame that happened to carry one would silently disable
    * hot-cell splitting and reintroduce the quadratic straggler; an
    * unflagged `slice` column now routes through the runtime-split tier
    * like any other payload column.
    */
  private[graft] val presplitMeta: org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean("graft.presplit", true).build()
  private val presplitWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[graft] def isPresplit(df: DataFrame): Boolean = {
    val flagged = df.schema.fields.exists(f =>
      f.name == "slice" && f.metadata.contains("graft.presplit"))
    // Migration notice: indexes persisted before the metadata flag carry
    // a plain `slice` column and now fall back (correctly) to the
    // runtime hot-cell split path — a silent serving-perf regression for
    // those tables unless re-saved. Only an INTEGER-typed `slice` looks
    // like a pre-flag slice index (a user's payload column named `slice`
    // with any other type is none of our business), and each schema
    // shape warns ONCE per session — this check sits on hot serving
    // paths, per-call stderr would be spam.
    val sliceTyped = df.schema.fields.exists(f => f.name == "slice" &&
      f.dataType == org.apache.spark.sql.types.IntegerType)
    if (!flagged && sliceTyped &&
        presplitWarned.add(df.schema.map(f => f.name + ":" + f.dataType.sql)
          .mkString(",")))
      System.err.println("[graft] note: integer `slice` column present but " +
        "not stamped with the graft.presplit metadata flag — treating it as " +
        "a payload column and using the runtime hot-cell split. If this is " +
        "an index persisted before the flag existed, rebuild or re-save " +
        "it (preSplitByOccupancy stamps the flag) to restore zero-cost " +
        "pre-split serving.")
    flagged
  }

  // ---- IVF/PQ probe core -------------------------------------------------
  //
  // Every IVF and IVF-PQ search decision, written once: the query
  // projection, the probe ranking, the occupancy-derived nprobe bound, the
  // hot-cell split, the ADC lookup table and sum, and the cell-keyed PQ
  // codes. The query side is per-query projections only — no window, no
  // aggregate, no join back to the queries — so the batch searches here
  // and in GraftApi and the streaming faces (AnnServe) run the same
  // plan up to their top-k: TopKPerKey in batch, a bounded heap per
  // micro-batch.

  /** Queries as (q_id, q_emb, q_nrm), zero-norm rows dropped — the
    * retrieval contract of [[normed]] (cosine against a zero vector is a
    * DIVIDE_BY_ZERO under ANSI).
    */
  private[graft] def queryVecs(queries: DataFrame, idCol: String,
      embCol: String): DataFrame =
    queries.select(col(idCol).cast("long").as("q_id"), col(embCol).as("q_emb"))
      .withColumn("q_nrm", nrmOf(col("q_emb")))
      .filter(col("q_nrm") > 0)

  /** The probe set: each query row of `q` (q_id, q_emb, q_nrm, …) once
    * per probed cell `p_cent` — its first `nprobe` cells (a literal, or
    * the `np` column of [[autoNprobeCut]]) in (cosine desc, cent_id)
    * order. The ranking is one array_sort over the [[packCents]] row of
    * `cents` (cent_id, c_emb, c_nrm), the broadcast [[nearestCell]]
    * packs; a zero norm on either side costs NaN, which sorts last,
    * instead of an ANSI DIVIDE_BY_ZERO.
    */
  private[graft] def probeCells(q: DataFrame, cents: DataFrame,
      nprobe: Column): DataFrame = {
    val ranked = expr("array_sort(transform(cbook, c -> struct(" +
      "case when q_nrm * c.c_nrm = 0 then double('NaN')" +
      " else -(vec_dot(q_emb, c.c_emb) / (q_nrm * c.c_nrm)) end as cost," +
      " c.cent_id as cent_id)))")
    q.withColumn("part", lit(0))
      .join(broadcast(packCents(cents.withColumn("part", lit(0)))), "part")
      .select(q.columns.map(col) :+
        explode(slice(ranked, lit(1), nprobe.cast("int"))).as("p"): _*)
      .select(q.columns.map(col) :+ col("p.cent_id").as("p_cent"): _*)
  }

  /** Cosine candidates of a probe set `qp` ([[probeCells]]) in
    * cell-keyed inverted lists `lists` (cent_id, vec_id, embedding, nrm):
    * (q_id, cand_id, cosine), self-pairs excluded. The probe side is
    * broadcast, so the lists scan never shuffles.
    */
  private[graft] def listCosines(qp: DataFrame, lists: DataFrame): DataFrame =
    broadcast(qp)
      .join(lists, col("cent_id") === col("p_cent") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        (vec_dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
          .as("cosine"))

  /** Per-cell occupancy (cell, cnt) of a cell-keyed frame. */
  private[graft] def cellOccupancy(keyed: DataFrame, cell: String = "cent_id"): DataFrame =
    keyed.groupBy(cell).agg(count(lit(1)).as("cnt"))

  /** The auto-nprobe probe count `np` = clamp(ceil(k·oversample·Σcnt /
    * Σcnt²), 1, cells) over the occupancy `occ` (see [[annIvfAutoprobe]]
    * for the derivation), computed plan-side as a one-row broadcast —
    * no driver action. `cells` is the upper clamp, an aggregate over
    * `occ`'s columns.
    */
  private def autoNprobeCut(occ: DataFrame, cells: Column, k: Int,
      oversample: Int): DataFrame =
    broadcast(occ.agg(autoNprobe(cells, k, oversample).as("np")))

  /** The auto-nprobe bound itself, an aggregate over an occupancy frame
    * (…, cnt): clamp(ceil(k·oversample·Σcnt / Σcnt²), 1, `cells`) —
    * the one formula the plan-side cut and the streaming face
    * (AnnServe.ivfServeStreamAuto) both read.
    */
  private[graft] def autoNprobe(cells: Column, k: Int, oversample: Int): Column =
    least(cells, greatest(lit(1L),
      ceil(lit((k.toLong * oversample).toDouble) * sum("cnt") /
        sum(col("cnt") * col("cnt")))))

  /** The hot cells of an occupancy table (cent_id, cnt): cells above
    * max(hotCellBound, Σcnt / parts), with `parts` the session's shuffle
    * parallelism (returned too, the runtime split's repartition width).
    * Collects ≤cells rows.
    */
  private def hotCells(stats: DataFrame, hotCellBound: Long): (Int, Seq[Long]) = {
    val parts = stats.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt.max(1)
    val occ = stats.select(col("cent_id"), col("cnt")).collect()
    val bound = math.max(hotCellBound, occ.map(_.getLong(1)).sum / parts)
    (parts, occ.filter(_.getLong(1) > bound).map(_.getLong(0)).toSeq)
  }

  /** Score a cell-keyed candidate frame (inverted lists or IVF-PQ codes)
    * with `score`, splitting hot cells — the HOT-CELL SPLIT of
    * [[ivfIndexProbeSearch]] and GraftApi.ivfPqSearchADCFromIndex. Two
    * tiers:
    *   - PRE-SPLIT ([[isPresplit]]: the graft.presplit flag on the slice
    *     column): [[preSplitByOccupancy]] sliced hot cells at build time
    *     and the table is bucketed on (cent_id, slice), so `keyed` is
    *     scored as is — no occupancy read, no repartition.
    *   - RUNTIME split: the [[hotCells]] (occupancy from `stats` when
    *     given, ≤cells rows, else a `keyed` aggregate) are scored after a
    *     repartition by a content hash of `idCol` (deterministic under
    *     stage retry) and unioned with the cold cells, which keep the
    *     zero-exchange bucketed scan. The probe side stays broadcast, so
    *     the union over sub-slices is exactly the cell's result.
    */
  private[graft] def splitHotCells(keyed: DataFrame, stats: Option[DataFrame],
      idCol: String, hotCellBound: Long)(score: DataFrame => DataFrame): DataFrame =
    if (isPresplit(keyed)) score(keyed)
    else {
      val (parts, hotIds) =
        hotCells(stats.getOrElse(cellOccupancy(keyed)), hotCellBound)
      if (hotIds.isEmpty) score(keyed)
      else score(keyed.filter(!col("cent_id").isin(hotIds: _*)))
        .unionByName(score(keyed.filter(col("cent_id").isin(hotIds: _*))
          .repartition(parts, pmod(hash(col(idCol)), lit(parts)))))
    }

  /** `q` (…, q_emb) with each query row's ADC lookup table `lut`: the
    * exact squared distance from each query subvector to each codeword of
    * `codebooks` (part, cent_id, c_emb), keyed part·codebookSize + code —
    * injective for dense codes 0..codebookSize-1, and an exact-key map
    * keeps the pick correct when a part has fewer live codewords. One
    * projection per query over a single broadcast row of the codebooks
    * (numSubs·codebookSize entries): no aggregate, no join back.
    */
  private[graft] def withAdcLut(q: DataFrame, codebooks: DataFrame,
      codebookSize: Int, subDim: Int): DataFrame =
    q.crossJoin(broadcast(codebooks.groupBy().agg(
        collect_list(struct(col("part"), col("cent_id"), col("c_emb"))).as("cbs"))))
      .withColumn("lut", expr("map_from_entries(transform(cbs, c -> struct(" +
        s"int(c.part * $codebookSize + c.cent_id), " +
        s"vec_distsq(slice(q_emb, c.part * $subDim + 1, $subDim), c.c_emb))))"))
      .drop("cbs")

  /** ADC candidates of LUT-carrying queries `luts` (q_id, lut, …) in
    * `codes` (<idCol>, codes, …) matched by `on`: (q_id, cand_id,
    * adc_dist), self-pairs excluded. The query side is broadcast, so the
    * codes scan never shuffles.
    */
  private[graft] def adcScores(luts: DataFrame, codes: DataFrame, idCol: String,
      numSubs: Int, codebookSize: Int, on: Column = lit(true)): DataFrame =
    broadcast(luts).join(codes, on && col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol).cast("long").as("cand_id"),
        adcSum(numSubs, codebookSize).as("adc_dist"))

  /** A candidate's ADC distance: its `codes`' numSubs LUT picks summed
    * left to right — unrolled into plain adds so the scan stays inside
    * WholeStageCodegen (an aggregate() HOF is interpreted), bit-identical
    * to the oracles' sequential fold.
    */
  private[graft] def adcSum(numSubs: Int, codebookSize: Int): Column =
    (0 until numSubs).map(s =>
        expr(s"element_at(lut, int(${s * codebookSize} + element_at(codes, ${s + 1})))"))
      .reduce(_ + _)

  /** The cell-keyed IVF-PQ codes (<idCol>, codes, cent_id): `corpus`
    * PQ-encoded against `codebooks`, joined to its IVF cell assignment
    * `assign1` (a_vec, a_cent).
    */
  private[graft] def ivfPqCodes(corpus: DataFrame, idCol: String,
      embCol: String, codebooks: DataFrame, numSubs: Int, subDim: Int,
      assign1: DataFrame): DataFrame =
    graft.api.GraftApi.pqEncode(corpus, idCol, embCol, codebooks, numSubs, subDim)
      .join(assign1, col(idCol) === col("a_vec"))
      .select(col(idCol), col("codes"), col("a_cent").as("cent_id"))

  /** Get-or-build the persisted IVF+PQ index of `dir`'s embeddings table
    * — the FAISS-IVFADC storage layout: coarse centroids + PQ codebooks
    * (both broadcast-sized) and the codes laid out BY CELL
    * (`bucketBy(cent_id)`, so a probed cell's codes read with zero
    * exchange). Same persistence contract as [[persistedIvfIndex]]:
    * training is deterministic, so the persisted parts serve
    * bit-identically to an inline build (BucketingSpec pins the PQ
    * round-trip; the registered op composes it with the coarse cells).
    */
  private def persistedIvfPqIndex(spark: SparkSession, dir: String,
      cells: Int, numSubs: Int, subDim: Int, codebookSize: Int,
      trainTag: String = "all", train: DataFrame => DataFrame = identity)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // trainTag/train: see persistedIvfIndex — the upsert op's base index
    graft.TempWarehouse.getOrBuild(spark,
        "graft_ivfpq3", s"$dir|$cells|$numSubs|$subDim|$codebookSize" +
          (if (trainTag == "all") "" else s"|$trainTag"),
        Seq("cents", "cbs", "codes", "stats")) { db =>
      val emb = train(Tables.embeddings(spark, dir))
      val (_, c1p, assign1) = ivfBuild(emb, "vec_id", "embedding", cells, 1)
      val cbs = graft.api.GraftApi.pqCodebooks(
        emb, "vec_id", "embedding", numSubs, subDim, codebookSize)
      val codes = ivfPqCodes(emb, "vec_id", "embedding", cbs, numSubs, subDim,
        assign1)
      c1p.drop("part").write.mode("overwrite").saveAsTable(s"$db.cents")
      cbs.write.mode("overwrite").saveAsTable(s"$db.cbs")
      cellOccupancy(codes).write.mode("overwrite").saveAsTable(s"$db.stats")
      savePreSplit(codes, spark.table(s"$db.stats"), s"$db.codes")
    } match { case Seq(cents, cbs, codes, stats) => (cents, cbs, codes, stats) }
  }

  /** A corpus as (vec_id, embedding, nrm), ids cast to long. */
  private[graft] def corpusVecs(corpus: DataFrame, idCol: String,
      embCol: String): DataFrame =
    corpus.select(col(idCol).cast("long").as("vec_id"), col(embCol).as("embedding"))
      .withColumn("nrm", nrmOf(col("embedding")))

  /** (vec_id, embedding, nrm) vectors as single-codebook [[assignTo]]
    * points (pid, part = 0, emb, nrm).
    */
  private def cellPoints(v: DataFrame): DataFrame =
    v.select(col("vec_id").as("pid"), lit(0).as("part"),
      col("embedding").as("emb"), col("nrm"))

  /** Each vector of `v` (vec_id, embedding, nrm) assigned its nearest
    * centroid of `cents` (cent_id, c_emb, c_nrm) by cosine: (pid, part,
    * emb, nrm, a_cent, a_cost).
    */
  private[graft] def nearestCell(v: DataFrame, cents: DataFrame): DataFrame =
    assignTo(cellPoints(v), cents.withColumn("part", lit(0)), NegCos)

  /** The shared IVF index build: normalized corpus vectors, Lloyd-refined
    * centroids, and per-vector cell assignments — the deterministic
    * prefix of [[ivfSearch]], factored so [[ivfIndex]] can persist the
    * same index a search run would train.
    */
  private[graft] def ivfBuild(corpus: DataFrame, idCol: String, embCol: String,
      cells: Int, iters: Int): (DataFrame, DataFrame, DataFrame) = {
    // zero-norm vectors are excluded from the INDEX (the retrieval
    // contract: no direction, no cosine) — [[normed]]'s rationale
    val v = graft.CacheRegistry.track(
      corpusVecs(corpus, idCol, embCol).filter(col("nrm") > 0))
    val pts = cellPoints(v)
    val seedIds = broadcast(v.select(col("vec_id").as("seed_id"))
      .orderBy("seed_id").limit(cells))
    val c0 = pts.join(seedIds, col("pid") === col("seed_id"))
      .select(col("pid").as("cent_id"), col("part"),
        col("emb").as("c_emb"), col("nrm").as("c_nrm"))
    val c1p = lloyd(pts, c0, iters, NegCos)
    val assign1 = assignTo(pts, c1p, NegCos)
      .select(col("pid").as("a_vec"), col("a_cent"))
    (v, c1p, assign1)
  }

  /** The persistable IVF index of a corpus: (centroids, inverted lists).
    * Centroids carry (cent_id, c_emb, c_nrm) — `cells` rows, broadcast
    * material; lists carry (cent_id, vec_id, embedding, nrm) — corpus-
    * sized, stored `bucketBy(cent_id)` at scale so serving probes read
    * them with zero exchange. Deterministic: identical to what a fresh
    * [[ivfSearch]] over the same corpus trains (fixed seeds, fixed-point
    * Lloyd), which is what lets the streaming serving spec compare the
    * two bit-for-bit.
    */
  def ivfIndex(corpus: DataFrame, idCol: String, embCol: String,
      cells: Int = 256, iters: Int = 1): (DataFrame, DataFrame) = {
    val (v, c1p, assign1) = ivfBuild(corpus, idCol, embCol, cells, iters)
    val lists = assign1.join(v, col("vec_id") === col("a_vec"))
      .select(col("a_cent").as("cent_id"), col("vec_id"),
        col("embedding"), col("nrm"))
    (c1p.drop("part"), lists)
  }

  /** Assign arbitrary vectors to FROZEN IVF centroids — the serving-time
    * quantizer (the same codegen'd broadcast argmin kernel the index
    * build uses), returning inverted-list rows (cent_id, vec_id,
    * embedding, nrm). The shared kernel of index build, query routing,
    * and [[ivfIndexUpsert]]'s delta assignment.
    */
  private[graft] def ivfAssignToCells(cents: DataFrame, vecs: DataFrame,
      idCol: String, embCol: String): DataFrame = {
    // the retrieval contract ([[normed]]): zero-norm vectors never enter
    // the index — an upserted delta shard obeys the same exclusion the
    // build does
    val v = corpusVecs(vecs, idCol, embCol).filter(col("nrm") > 0)
    nearestCell(v, cents)
      .select(col("pid").as("vec_id"), col("a_cent").as("cent_id"))
      .join(v, "vec_id")
      .select(col("cent_id"), col("vec_id"), col("embedding"), col("nrm"))
  }

  /** Incremental maintenance of a persisted IVF index — the
    * dedup_incremental contract applied to ANN (reference analog:
    * Optimization.addIndex + collections/IncrementalResult — a
    * registered index absorbs base-collection deltas instead of
    * rebuilding): a new shard's vectors are assigned to the EXISTING
    * centroids with the same argmin kernel the build used, appended to
    * the inverted lists, the occupancy `stats` merged, and any cell the
    * delta pushes past `hotCellBound` (re-)pre-split by the build-time
    * content-hash slice layout — so serving keeps the zero-exchange
    * pre-split contract after every upsert.
    *
    * The quantizer is FROZEN (standard production add() semantics —
    * FAISS adds to a trained index without re-training): the result is
    * spec-proven identical to assigning corpus ∪ delta against the same
    * centroids from scratch (BucketingSpec), NOT to re-running Lloyd on
    * the union — re-training is a rebuild by definition; schedule one
    * when drift accumulates (the stats table's occupancy shape is the
    * drift signal: a cell absorbing most deltas means the centroids no
    * longer tile the data).
    *
    * Returns (lists', stats'): delta-assigned rows unioned into the
    * lists (slice re-derived from the merged occupancy — the presplit
    * metadata flag rides the new slice column), stats summed per cell.
    * Persist back with the index's own bucketBy((cent_id, slice)) layout;
    * per-shard cost is ONE delta-sized assignment projection + a
    * lists-sized rewrite of only what a saveAsTable overwrite touches —
    * at 100 TB, partition the lists table by shard epoch and append.
    */
  def ivfIndexUpsert(cents: DataFrame, lists: DataFrame, stats: DataFrame,
      delta: DataFrame, idCol: String = "vec_id",
      embCol: String = "embedding",
      hotCellBound: Long = Similarity.hotCellBound): (DataFrame, DataFrame) = {
    val deltaLists = ivfAssignToCells(cents, delta, idCol, embCol)
    val mergedStats = mergeCellStats(stats, deltaLists)
    val union = lists.drop("slice").unionByName(deltaLists)
    (preSplitByOccupancy(union, mergedStats, "vec_id", hotCellBound),
      mergedStats)
  }

  /** [[ivfIndexUpsert]] for the IVFADC (IVF+PQ) index: the delta is
    * PQ-encoded with the FROZEN codebooks and coarse-assigned with the
    * FROZEN centroids — both quantizers trained once at build — then
    * appended to the cell-keyed codes with merged stats and a re-derived
    * hot-cell slice layout. Spec-proven ≡ encoding corpus ∪ delta from
    * scratch against the same frozen index parts.
    */
  def ivfPqIndexUpsert(cents: DataFrame, codebooks: DataFrame,
      codes: DataFrame, stats: DataFrame, delta: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding",
      numSubs: Int = 4, subDim: Int = 16,
      hotCellBound: Long = Similarity.hotCellBound): (DataFrame, DataFrame) = {
    val assign = ivfAssignToCells(cents, delta, idCol, embCol)
      .select(col("vec_id").as("a_vec"), col("cent_id"))
    val deltaCodes = graft.api.GraftApi.pqEncode(
        delta, idCol, embCol, codebooks, numSubs, subDim)
      .join(assign, col(idCol) === col("a_vec"))
      .select(col(idCol), col("codes"), col("cent_id"))
    val mergedStats = mergeCellStats(stats, deltaCodes)
    val union = codes.drop("slice").unionByName(deltaCodes)
    (preSplitByOccupancy(union, mergedStats, idCol, hotCellBound),
      mergedStats)
  }

  /** Merge a persisted (cent_id, cnt) occupancy table with a delta
    * frame's per-cell counts — full outer, absent side counts 0.
    */
  private def mergeCellStats(stats: DataFrame, deltaRows: DataFrame): DataFrame =
    stats.select(col("cent_id").as("s_cent"), col("cnt").as("s_cnt"))
      .join(deltaRows.groupBy(col("cent_id").as("d_cent"))
          .agg(count(lit(1)).as("d_cnt")),
        col("s_cent") === col("d_cent"), "full_outer")
      .select(coalesce(col("s_cent"), col("d_cent")).as("cent_id"),
        (coalesce(col("s_cnt"), lit(0L)) + coalesce(col("d_cnt"), lit(0L)))
          .as("cnt"))

  /** The persistable SemDeDup index of a corpus — the serving-side
    * counterpart of the registered [[semDedup]] pass (reference analog:
    * addIndex's precompute-once contract, Optimization.scala:31):
    *   - `cents` (cent_id, c_emb, c_nrm): the bounded deterministic seed
    *     subset (`nCents` lowest ids — broadcast material, same seeds as
    *     the registered op);
    *   - `members` (cent_id, vec_id, embedding, nrm): the cell-keyed
    *     corpus, `bucketBy(cent_id)` at scale so a query's cell reads
    *     with zero exchange;
    *   - `stats` (cent_id, n): ≤`nCents` occupancy rows — the cell-cap
    *     decision reads THIS, never the corpus.
    * Assignment runs the same codegen'd argmin kernel as the batch op,
    * so decisions served from these parts are bit-identical to the
    * batch pass (StreamingSpec proves the streaming face ≡ batch).
    */
  def semDedupIndex(corpus: DataFrame, idCol: String, embCol: String,
      nCents: Int = 64): (DataFrame, DataFrame, DataFrame) = {
    val v = graft.CacheRegistry.track(corpusVecs(corpus, idCol, embCol))
    val seedIds = broadcast(v.select(col("vec_id").as("seed_id"))
      .orderBy("seed_id").limit(nCents))
    val cents = v.join(seedIds, col("vec_id") === col("seed_id"))
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))
    val assign = nearestCell(v, cents)
      .select(col("pid").as("vec_id"), col("a_cent").as("cent_id"))
    val members = assign.join(v, "vec_id")
      .select(col("cent_id"), col("vec_id"), col("embedding"), col("nrm"))
    val stats = assign.groupBy("cent_id").agg(count(lit(1)).as("n"))
    (cents, members, stats)
  }

  /** Lloyd-refined IVF cosine top-k as a library function over any
    * (id, float-array) corpus/queries frames — the registered
    * [[annIvfKmeansTopK]] is this bound to the embeddings table.
    *
    * Index build: seeds are the `cells` smallest ids
    * (TakeOrderedAndProject — map-side partial top-k, a BOUNDED cell
    * count, never a fraction of N), refined by `iters` fixed-point
    * Lloyd passes; assignment is the codegen'd broadcast argmin.
    * Search: per query the top-`nprobe` refined cells ([[probeCells]]:
    * one sort of the packed centroid row per query, a projection — no
    * window, no join back), candidates from the probed cells only, exact
    * cosine re-rank through the bounded-heap TopKPerKey. Self-pairs
    * excluded. Returns (q_id, cand_id, cosine).
    */
  def ivfSearch(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, cells: Int, nprobe: Int, iters: Int, k: Int): DataFrame = {
    val (v, c1p, assign1) = ivfBuild(corpus, idCol, embCol, cells, iters)
    ivfProbeSearch(queryVecs(queries, idCol, embCol), c1p.drop("part"),
      assign1, v, lit(nprobe), k)
  }

  /** Batch serving off a PERSISTED [[ivfIndex]], nprobe auto-derived from
    * the index's own occupancy — [[ivfSearchAuto]] minus the build: when
    * the index ships its `stats` table (the [[persistedIvfIndex]]
    * contract) the occupancy read is ≤`cells` persisted rows — no lists
    * scan per search — and it rides the plan as a one-row broadcast; the
    * candidate score joins the inverted lists ONCE on cent_id (no
    * assign⋈vectors re-join — the lists ARE the assignment with its
    * vectors). Candidates are scored through [[splitHotCells]]: in a
    * template-heavy corpus mass-duplicated embeddings concentrate most
    * of the corpus AND most probes into one cell, and the bucketed lists
    * scan reads one task per bucket — unsplit, a cell holding 90% of the
    * corpus scores hot_queries × hot_list candidates in a SINGLE task, a
    * straggler that grows quadratically with duplication concentration.
    * A pre-split lists layout serves hot cells with zero runtime
    * exchange. The streaming face (AnnServe.ivfServeStreamAuto) runs the
    * same [[probeCells]] ⋈ [[listCosines]] per micro-batch.
    */
  def ivfSearchAutoFromIndex(cents: DataFrame, lists: DataFrame,
      queries: DataFrame, idCol: String, embCol: String, k: Int,
      oversample: Int = 8, hotCellBound: Long = Similarity.hotCellBound,
      stats: Option[DataFrame] = None): DataFrame = {
    // occupancy: the persisted stats table when the index ships one
    // (≤cells rows — the footer-sized read), else derived in-plan from
    // the lists (a second corpus pass; acceptable only for ad-hoc
    // in-memory indexes)
    val occ = stats.getOrElse(cellOccupancy(lists))
      .crossJoin(broadcast(cents.agg(count(lit(1)).as("cells"))))
    val q = queryVecs(queries, idCol, embCol)
      .crossJoin(autoNprobeCut(occ, max(col("cells")), k, oversample))
    val qp = probeCells(q, cents, col("np")).drop("np")
    val scored = splitHotCells(lists, stats, "vec_id", hotCellBound)(
      listCosines(qp, _))
    graft.api.GraftApi.topKPerKey(scored, "q_id", "cosine", "cand_id", k)
      .select("q_id", "cand_id", "cosine")
  }

  /** [[ivfSearch]] with nprobe auto-tuned from the index's own cell
    * occupancy ([[autoNprobeCut]]). The occupancy aggregate is `cells`
    * rows off assign1 and joins the probe ranking as a ONE-ROW broadcast
    * cross join, so the tuned limit stays entirely plan-side — no
    * `.head()` between index build and search, and at 100 TB the stats
    * read the persisted inverted lists' footer-sized groupBy, not the
    * vectors.
    */
  def ivfSearchAuto(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, cells: Int, iters: Int, k: Int,
      oversample: Int = 8): DataFrame = {
    val (v, c1p, rawAssign) = ivfBuild(corpus, idCol, embCol, cells, iters)
    // assign1 feeds TWO consumers here (occupancy stats + the probe
    // join); uncached, Spark duplicates the assignment+Lloyd subtree
    // per consumer — a second full corpus pass at scale. Cached it is
    // 2 longs/vector, the in-plan analog of the persisted ivfIndex lists.
    val assign1 = graft.CacheRegistry.track(rawAssign)
    ivfProbeSearch(queryVecs(queries, idCol, embCol).crossJoin(autoNprobeCut(
        cellOccupancy(assign1, "a_cent"), lit(cells.toLong), k, oversample)),
      c1p.drop("part"), assign1, v, col("np"), k)
  }

  /** The IVF probe over an inline index: the [[probeCells]] probe set of
    * the queries `q` (q_id, q_emb, q_nrm, …) against `cents`, candidates
    * from the probed cells' assignments `assign` (a_vec, a_cent) joined
    * back to their vectors `v` (vec_id, embedding, nrm), exact cosine
    * ranked through the bounded-heap TopKPerKey. Self-pairs excluded.
    */
  private def ivfProbeSearch(q: DataFrame, cents: DataFrame, assign: DataFrame,
      v: DataFrame, nprobe: Column, k: Int): DataFrame = {
    // the probe set is |Q|·nprobe rows: broadcast, the assignment
    // side never shuffles for it
    val scored = broadcast(probeCells(q, cents, nprobe))
      .join(assign, col("a_cent") === col("p_cent"))
      .join(v, col("vec_id") === col("a_vec") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        (vec_dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
          .as("cosine"))
    graft.api.GraftApi.topKPerKey(scored, "q_id", "cosine", "cand_id", k)
      .select("q_id", "cand_id", "cosine")
  }

  // ---- generic Lloyd (k-means) machinery --------------------------------
  //
  // The reference's Fix.scala fixpoint generalized to n Lloyd iterations:
  // assign each point to its best centroid, recompute centroids as means,
  // repeat. Centroid means ride FIXED-POINT long accumulators
  // (round(x·1e6) summed exactly, divided back once), so every iteration's
  // centroids are bit-identical across engines and parallelism levels —
  // the property the single-iteration version established, now closed
  // under composition. Frames are keyed by a `part` column so one call
  // trains many independent codebooks at once (PQ's per-subvector case);
  // single-codebook callers pass a constant.
  //
  // points: (pid, part, emb, ...); centroids: (cent_id, part, c_emb,
  // c_nrm, ...). `cost` is any column expression over those names to
  // MINIMIZE (negated cosine, squared L2); ties break on cent_id, same
  // as every oracle's ORDER BY cost, cent_id.

  /** Assignment cost selector: squared L2 (PQ codebooks) or negated
    * cosine over precomputed norms (IVF cells). Both are computed inside
    * [[graft.functions.ArgminCost]] as the exact DistSqD / DotProductD
    * folds — bit-identical to the oracles' index folds.
    */
  sealed trait CostKind
  case object L2 extends CostKind
  case object NegCos extends CostKind

  /** Pack a (cent_id, part, c_emb[, c_nrm]) centroid frame into one
    * cent_id-sorted codebook array per `part` — the broadcast payload of
    * the assignment kernel. Missing c_nrm (L2 codebooks) packs as 0.0;
    * float c_emb casts to double (exact).
    */
  private def packCents(cents: DataFrame): DataFrame = {
    val cn = if (cents.columns.contains("c_nrm")) col("c_nrm") else lit(0.0)
    cents
      .select(col("part"), col("cent_id"),
        expr("cast(c_emb as array<double>)").as("c_emb"), cn.as("c_nrm"))
      .groupBy(col("part"))
      .agg(sort_array(collect_list(struct(col("cent_id"), col("c_emb"),
        col("c_nrm")))).as("cbook"))
  }

  /** Assign every point to its argmin-cost centroid within its `part`:
    * the codebook is packed to one array row per part and broadcast, and
    * the whole argmin runs inside ONE codegen'd projection
    * ([[graft.functions.ArgminCost]]) — one input row, one output row,
    * no |N|·|cells| intermediate rows and no aggregate. Same result (and
    * tiebreak: lowest cent_id) as the previous min(struct(cost,
    * cent_id)) collapse, bit for bit. Returns the points' columns plus
    * (a_cent, a_cost).
    */
  def assignTo(points: DataFrame, cents: DataFrame, kind: CostKind): DataFrame = {
    val nrmCol0 =
      if (kind == NegCos) col("nrm") else lit(0.0).cast("double")
    val keep = points.columns.toSeq.map(col)
    points.join(broadcast(packCents(cents)), "part")
      .select(keep :+ graft.functions.vec.vec_argmin(col("emb"), nrmCol0,
        col("cbook"), l2 = kind == L2).as("b"): _*)
      .select(keep ++ Seq(col("b.cent_id").as("a_cent"), col("b.cost").as("a_cost")): _*)
  }

  /** `iters` Lloyd iterations from `init`; returns the refined centroids
    * (cent_id, part, c_emb, c_nrm). Per iteration: one broadcast
    * assignment pass + ONE keyed shuffle of (parts·cells·dims) longs —
    * never a vector collect, the 100 TB index-build shape. Callers should
    * cache `points` (it is scanned twice per iteration).
    */
  def lloyd(points: DataFrame, init: DataFrame, iters: Int, kind: CostKind): DataFrame = {
    var c = init
    for (_ <- 1 to iters) {
      val a = assignTo(points, c, kind)
        .select(col("pid").as("a_pid"), col("part").as("a_part"), col("a_cent"))
      val contrib = points
        .join(a, col("a_pid") === col("pid") && col("a_part") === col("part"))
        .select(col("part"), col("a_cent"), posexplode(col("emb")))
        .select(col("part"), col("a_cent"), col("pos"),
          round(col("col").cast("double") * 1000000).cast("long").as("qv"))
      c = contrib.groupBy(col("part"), col("a_cent"), col("pos"))
        .agg((sum(col("qv")).cast("double") / 1000000.0 / count(lit(1))).as("mean"))
        .groupBy(col("part"), col("a_cent").as("cent_id"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, mean))), s -> s.mean)")
          .as("c_emb"))
        .withColumn("c_nrm", sqrt(expr(
          "aggregate(transform(c_emb, x -> x * x), cast(0.0 as double), (acc, p) -> acc + p)")))
    }
    c
  }

  /** Shared oracle CTE: subvector split, bounded init codebook, one
    * fixed-point Lloyd pass, final per-subvector code assignment (a1) —
    * the training+encoding prefix of both PQ operators.
    */
  private val pqCteSql = pqCteSqlFor("TRUE")
  /** [[pqCteSql]] with the TRAINING subset parameterized (seeds, a0,
    * Lloyd contrib restricted to `trainFilter`; the final a1 encode runs
    * over everything) — the frozen-codebook upsert contract. Seeds are
    * the `codebookSize` LOWEST TRAIN ids (ORDER BY LIMIT — for TRUE this
    * is `vec_id < 16`, the historical seed set, verbatim). The PQ
    * geometry (numSubs × subDim, codebookSize) is parameterized so the
    * IVFADC family can carry a finer quantizer than the plain PQ ops
    * (the r15 recall tuning, VERDICT r14 #4) while both stay the same
    * factored chain.
    */
  private def pqCteSqlFor(trainFilter: String, numSubs: Int = 4,
      subDim: Int = 16, codebookSize: Int = 16): String =
    s"""v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS d
      |           FROM embeddings),
      |sub AS (SELECT vec_id, s, list_slice(d, $subDim*s+1, $subDim*(s+1)) AS sv
      |        FROM v, UNNEST(generate_series(0, ${numSubs - 1})) AS t(s)),
      |subt AS (SELECT * FROM sub WHERE $trainFilter),
      |seeds AS (SELECT DISTINCT vec_id FROM subt ORDER BY vec_id LIMIT $codebookSize),
      |c0 AS (SELECT s, vec_id AS code, sv AS c_emb FROM subt
      |       WHERE vec_id IN (SELECT vec_id FROM seeds)),
      |a0 AS (
      |  SELECT vec_id, s, code FROM (
      |    SELECT sub.vec_id, sub.s, c0.code,
      |      ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.s ORDER BY
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(generate_series(1, $subDim),
      |            i -> (sub.sv[i] - c0.c_emb[i]) * (sub.sv[i] - c0.c_emb[i]))),
      |          (acc, p) -> acc + p), c0.code) AS rn
      |    FROM subt sub JOIN c0 ON c0.s = sub.s) WHERE rn = 1),
      |contrib AS (
      |  SELECT a0.s, a0.code, t.d AS dim,
      |    CAST(round(sub.sv[t.d] * 1000000) AS BIGINT) AS qv
      |  FROM subt sub JOIN a0 ON a0.vec_id = sub.vec_id AND a0.s = sub.s,
      |       UNNEST(generate_series(1, $subDim)) AS t(d)),
      |c1 AS (
      |  SELECT s, code, list(mean ORDER BY dim) AS c_emb FROM (
      |    SELECT s, code, dim,
      |      CAST(SUM(qv) AS DOUBLE) / 1000000.0 / COUNT(*) AS mean
      |    FROM contrib GROUP BY s, code, dim) GROUP BY s, code),
      |a1 AS (
      |  SELECT vec_id, s, code, dist FROM (
      |    SELECT sub.vec_id, sub.s, c1.code,
      |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(generate_series(1, $subDim),
      |          i -> (sub.sv[i] - c1.c_emb[i]) * (sub.sv[i] - c1.c_emb[i]))),
      |        (acc, p) -> acc + p) AS dist,
      |      ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.s ORDER BY
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(generate_series(1, $subDim),
      |            i -> (sub.sv[i] - c1.c_emb[i]) * (sub.sv[i] - c1.c_emb[i]))),
      |          (acc, p) -> acc + p), c1.code) AS rn
      |    FROM sub JOIN c1 ON c1.s = sub.s) WHERE rn = 1)""".stripMargin

  /** Product quantization: split each vector into 4 subvectors of 16 dims,
    * train a per-subspace codebook with [[lloyd]] (init = the 16 lowest
    * vec_ids' subvectors — a bounded codebook, never a fraction of N —
    * one fixed-point refinement iteration, same recipe as
    * [[annIvfKmeansTopK]]), then assign every subvector its nearest
    * codeword. Output per vector: the 4 codes (joined as a string — a
    * 64-dim float vector compressed to 4 small ints) plus the
    * reconstruction error audit, computed as a part-ordered sequential
    * fold so it is bit-identical across engines. The codebooks are tiny
    * and broadcast; assignment is map-side — at 100 TB this is one scan
    * over the fleet per Lloyd pass and one for the final encoding.
    */
  val pqCodes: Op = Op(
    "ann_pq_codes",
    s"""WITH $pqCteSql
      |SELECT vec_id,
      |  string_agg(CAST(code AS VARCHAR), '-' ORDER BY s) AS codes,
      |  sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(dist ORDER BY s)),
      |    (acc, p) -> acc + p)) AS recon_err
      |FROM a1 GROUP BY vec_id""".stripMargin,
  ) { (spark, dir) =>
    val pts = graft.CacheRegistry.track(graft.api.GraftApi.pqSplit(
      Tables.embeddings(spark, dir), "vec_id", "embedding", 4, 16))
    val c0 = pts.filter(col("pid") < 16)
      .select(col("pid").as("cent_id"), col("part"), col("emb").as("c_emb"))
    val c1 = lloyd(pts, c0, iters = 1, L2)
    assignTo(pts, c1, L2)
      .groupBy(col("pid").as("vec_id"))
      .agg(pqCodesAgg.as("codes"),
        sqrt(expr(
          "aggregate(transform(array_sort(collect_list(struct(part, a_cost))), s -> s.a_cost)," +
            " cast(0.0 as double), (acc, p) -> acc + p)")).as("recon_err"))
      .withColumn("codes", concat_ws("-", col("codes").cast("array<string>")))
  }

  /** The part-ordered PQ codes of each point's per-part assignments
    * (part, a_cent) — an aggregate over one point's rows.
    */
  private[graft] val pqCodesAgg: Column =
    expr("transform(array_sort(collect_list(struct(part, a_cent))), s -> s.a_cent)")

  /** ADC (asymmetric distance computation) top-k search over the PQ
    * codes — the query side that makes [[pqCodes]] an index, and the
    * standard way a 100 TB ANN serving path avoids touching raw vectors:
    *
    *   1. train/encode exactly as ann_pq_codes (same codebooks, same
    *      fixed-point Lloyd pass);
    *   2. per query, precompute the 4×16 lookup table of exact squared
    *      distances from each query SUBVECTOR to each CODEWORD — 64
    *      doubles per query, packed (part,code)-ordered and broadcast;
    *   3. scan the codes table once: each candidate's approximate
    *      distance is 4 LUT picks + 3 adds (a sequential s=0..3 fold —
    *      bit-identical in both engines), never a 64-dim dot product;
    *   4. rank through TopKPerKeyExec (bounded heaps) on the negated
    *      distance; ties break on cand_id.
    *
    * The corpus never shuffles: codes ride one scan against the
    * broadcast LUT, and only the top-k heap output (|Q|·k rows) moves.
    */
  val pqSearch: Op = Op(
    "ann_pq_search",
    s"""WITH $pqCteSql,
      |q AS (SELECT vec_id AS q_id, s, sv FROM sub WHERE vec_id < 8),
      |lut AS (SELECT q.q_id, q.s, c1.code,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(generate_series(1, 16),
      |        i -> (q.sv[i] - c1.c_emb[i]) * (q.sv[i] - c1.c_emb[i]))),
      |      (acc, p) -> acc + p) AS dsq
      |  FROM q JOIN c1 ON c1.s = q.s),
      |adc AS (
      |  SELECT l.q_id, a1.vec_id AS cand_id,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(l.dsq ORDER BY l.s)),
      |      (acc, p) -> acc + p) AS adc_dist
      |  FROM a1 JOIN lut l ON l.s = a1.s AND l.code = a1.code
      |  WHERE a1.vec_id <> l.q_id
      |  GROUP BY l.q_id, a1.vec_id)
      |SELECT q_id, cand_id, adc_dist FROM (
      |  SELECT q_id, cand_id, adc_dist,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist, cand_id) AS rn
      |  FROM adc) WHERE rn <= 5""".stripMargin,
  ) { (spark, dir) =>
    val pts = graft.CacheRegistry.track(graft.api.GraftApi.pqSplit(
      Tables.embeddings(spark, dir), "vec_id", "embedding", 4, 16))
    val c0 = pts.filter(col("pid") < 16)
      .select(col("pid").as("cent_id"), col("part"), col("emb").as("c_emb"))
    // referenced twice below (encoding + LUT) — keep one physical plan
    val c1 = graft.CacheRegistry.track(lloyd(pts, c0, iters = 1, L2))
    val codes = assignTo(pts, c1, L2)
      .groupBy(col("pid").as("vec_id")).agg(pqCodesAgg.as("codes"))
    // 64 exact subvector→codeword distances per query (codes are init
    // pids < 16, so the part*16+code key is injective); the 8-row query
    // sliver reads its own pushed-down scan
    graft.api.GraftApi.pqSearchADC(codes, c1,
      Tables.load(spark, dir, "embeddings").filter(col("vec_id") < 8),
      "vec_id", "embedding", numSubs = 4, subDim = 16, codebookSize = 16, k = 5)
  }

  /** Int8 scalar quantization of the embedding column — the storage/
    * bandwidth-reduction step every 100 TB embedding pipeline runs before
    * indexing (scalar-quantization family; PQ is the codebook'd cousin).
    * Per vector: symmetric scale = max|x|/127, elementwise
    * round(x/scale), plus the audit outputs a pipeline owner needs:
    * quantized checksum and max reconstruction error. Pure per-row array
    * HOFs (transform/zip_with/aggregate) — no UDF, no shuffle; the
    * all-zero vector takes scale 0 and an explicitly-zero quantized
    * vector rather than a 0/0 division.
    */
  val embedQuantize: Op = Op(
    "q_embed_quantize",
    """SELECT vec_id, scale,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), q), (a, v) -> a + v)
      |    AS BIGINT) AS q_sum,
      |  CASE WHEN scale = 0 THEN 0.0
      |    ELSE list_max(list_transform(generate_series(1, len(d)),
      |           i -> abs(d[i] - q[i] * scale))) END AS max_abs_err
      |FROM (
      |  SELECT vec_id, scale, d,
      |    CASE WHEN scale = 0 THEN list_transform(d, x -> CAST(0 AS BIGINT))
      |         ELSE list_transform(d, x -> CAST(round(x / scale) AS BIGINT))
      |    END AS q
      |  FROM (SELECT vec_id, d,
      |          list_max(list_transform(d, x -> abs(x))) / 127.0 AS scale
      |        FROM (SELECT vec_id,
      |                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS d
      |              FROM embeddings)))""".stripMargin,
  ) { (spark, dir) => quantize(Tables.embeddings(spark, dir), "vec_id", "embedding") }

  /** The scalar quantization as a generic library function over any
    * (id, float-array) frame — the user-facing form of q_embed_quantize.
    */
  def quantize(emb: DataFrame, idCol: String, embCol: String): DataFrame =
    emb
      .withColumn("d", expr(s"transform($embCol, x -> cast(x as double))"))
      .withColumn("scale", expr("array_max(transform(d, x -> abs(x))) / 127.0"))
      .withColumn("q", expr(
        "case when scale = 0D then transform(d, x -> 0L)" +
          " else transform(d, x -> cast(round(x / scale) as bigint)) end"))
      .select(col(idCol), col("scale"),
        expr("aggregate(q, 0L, (a, v) -> a + v)").as("q_sum"),
        expr("case when scale = 0D then 0.0D" +
          " else array_max(zip_with(d, q, (x, qi) -> abs(x - qi * scale))) end")
          .as("max_abs_err"))

  /** IVFADC serving parameters, shared by the Spark fns and the composed
    * oracles (one source of truth — a drifted pair would hash-mismatch).
    * r15 re-tune (VERDICT r14 #4, adjudicated by a recall sweep at
    * sf0.1 against exact brute force — ann_recall_ab_r15.jsonl, 10
    * configs over nprobe × m × codebookSize × shortlist): the r14
    * config (nprobe 4, m=4×16, cb=16, shortlist 4k) measured recall@5
    * ADC 0.275 / refine 0.55. The sweep's findings, each against the
    * intuition a FAISS tuner would start from:
    *   - nprobe 6/8 makes BOTH worse (ADC 0.275→0.200, refine_x4
    *     0.55→0.425): the quantized ranking is noisy enough that a
    *     richer candidate pool displaces true neighbors;
    *   - m=8×8 is worse at every shortlist depth (refine_x12 0.775);
    *   - codebookSize 32/64 is worse (refine_x12 0.700/0.625-0.700):
    *     one fixed-point Lloyd pass from the bounded lowest-id seeds
    *     spreads the extra codewords too thin to refine;
    *   - shortlist DEPTH is the one lever that pays: refine_x12 =
    *     **0.825** at the otherwise-unchanged config (x8 = 0.700).
    * So the serve keeps nprobe 4 / m 4×16 / cb 16 (ann_ivfpq_topk and
    * the upsert face byte-identical to r14) and the refine shortlist
    * goes 4k → 12k — recall 0.55 → 0.825 for a |Q|·60-row broadcast
    * instead of |Q|·20, both shortlist fetch AND the exact re-rank
    * still corpus-scan-free.
    *
    * r15 round 3 (ann_recall_ab_r15b.jsonl) tested the round-2 gap:
    * was "codebook 32/64 worse" a TRAINING-DEPTH symptom? No — deeper
    * Lloyd does not pay: at the registered config ADC reads 0.275 /
    * 0.250 / 0.175 at 1 / 3 / 6 iterations (more refinement overfits
    * the bounded lowest-id seed layout rather than cutting distortion),
    * and every (cb, iters) cell keeps ADC ≤ 0.275 — the quantizer is
    * CAPACITY-bound on this corpus, and refine depth stays the one
    * honest lever. The best cell (m=8×8, cb=64, 6 iters: refine_x12
    * 0.900 vs the registered 0.825) is +3 hits on a 40-slot sample —
    * not adopted: re-registering geometry (and a 6-pass oracle Lloyd
    * chain) on sub-noise evidence would be tuning to the query set.
    */
  private[graft] val ivfPqNprobe = 4
  private[graft] val ivfPqNumSubs = 4
  private[graft] val ivfPqSubDim = 16
  /** Refine shortlist size as a multiple of the final k (r15: 4 → 12,
    * measured refine recall@5 0.55 → 0.825 — the scaladoc above).
    */
  private[graft] val ivfPqShortlistMult = 12

  /** The composed IVFADC chain as oracle SQL, parameterized by the final
    * per-query candidate count so [[ivfPqRefineTopK]] can reuse the
    * identical chain as its shortlist CTE.
    */
  private def ivfPqOracleSql(kCand: Int, trainFilter: String = "TRUE",
      nprobe: Int = ivfPqNprobe, numSubs: Int = ivfPqNumSubs,
      subDim: Int = ivfPqSubDim): String =
    s"""WITH ${pqCteSqlFor(trainFilter, numSubs, subDim)},
      |w AS ($normedVSql),
      |wt AS (SELECT * FROM w WHERE $trainFilter),
      |k0 AS (SELECT vec_id AS cent_id, embedding AS c_emb, nrm AS c_nrm
      |       FROM wt ORDER BY vec_id LIMIT 16),
      |kassign0 AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT w.vec_id, k0.cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY w.vec_id ORDER BY
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(generate_series(1, len(w.embedding)),
      |            i -> CAST(w.embedding[i] AS DOUBLE) * CAST(k0.c_emb[i] AS DOUBLE))),
      |          (acc, p) -> acc + p) / (w.nrm * k0.c_nrm) DESC, k0.cent_id) AS rn
      |    FROM wt w, k0) WHERE rn = 1),
      |kcontrib AS (
      |  SELECT a.cent_id, t.d,
      |    CAST(round(CAST(x.embedding[t.d] AS DOUBLE) * 1000000) AS BIGINT) AS qv
      |  FROM wt x JOIN kassign0 a ON a.vec_id = x.vec_id,
      |       UNNEST(generate_series(1, 64)) AS t(d)),
      |kc1 AS (
      |  SELECT cent_id, list(mean ORDER BY d) AS c_emb FROM (
      |    SELECT cent_id, d,
      |      CAST(SUM(qv) AS DOUBLE) / 1000000.0 / COUNT(*) AS mean
      |    FROM kcontrib GROUP BY cent_id, d) GROUP BY cent_id),
      |kc1n AS (SELECT cent_id, c_emb,
      |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(c_emb, x -> x * x)), (acc, p) -> acc + p)) AS c_nrm
      |  FROM kc1),
      |kassign AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT w.vec_id, c.cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY w.vec_id ORDER BY
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(generate_series(1, len(w.embedding)),
      |            i -> CAST(w.embedding[i] AS DOUBLE) * c.c_emb[i])),
      |          (acc, p) -> acc + p) / (w.nrm * c.c_nrm) DESC, c.cent_id) AS rn
      |    FROM w, kc1n c) WHERE rn = 1),
      |kq AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
      |       FROM w WHERE vec_id < 8),
      |kprobes AS (
      |  SELECT q_id, cent_id FROM (
      |    SELECT kq.q_id, c.cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY kq.q_id ORDER BY
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(generate_series(1, len(kq.q_emb)),
      |            i -> CAST(kq.q_emb[i] AS DOUBLE) * c.c_emb[i])),
      |          (acc, p) -> acc + p) / (kq.q_nrm * c.c_nrm) DESC, c.cent_id) AS rn
      |    FROM kq, kc1n c) WHERE rn <= $nprobe),
      |lut AS (SELECT sq.vec_id AS q_id, sq.s, c1.code,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(generate_series(1, $subDim),
      |        i -> (sq.sv[i] - c1.c_emb[i]) * (sq.sv[i] - c1.c_emb[i]))),
      |      (acc, p) -> acc + p) AS dsq
      |  FROM sub sq JOIN c1 ON c1.s = sq.s WHERE sq.vec_id < 8),
      |adc AS (
      |  SELECT l.q_id, a1.vec_id AS cand_id,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(l.dsq ORDER BY l.s)),
      |      (acc, p) -> acc + p) AS adc_dist
      |  FROM a1 JOIN lut l ON l.s = a1.s AND l.code = a1.code
      |       JOIN kassign ka ON ka.vec_id = a1.vec_id
      |       JOIN kprobes p ON p.q_id = l.q_id AND p.cent_id = ka.cent_id
      |  WHERE a1.vec_id <> l.q_id
      |  GROUP BY l.q_id, a1.vec_id)
      |SELECT q_id, cand_id, adc_dist FROM (
      |  SELECT q_id, cand_id, adc_dist,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist, cand_id) AS rn
      |  FROM adc) WHERE rn <= $kCand""".stripMargin

  /** IVF+PQ composed top-k — the registered face of
    * [[graft.api.GraftApi.ivfPqSearchADC]] (FAISS's IVFADC shape, the
    * no-residual variant): coarse cosine cells route each query to its
    * top-4 of 16 cells; candidates are ADC-scored from PQ codes WITHIN
    * probed cells only, so the codes table is read by cell key, never
    * fully scanned (contrast [[pqSearch]]). Both index parts are the
    * existing engine-exact machinery (bounded-seed fixed-point-Lloyd
    * cells; per-subvector codebooks), so the oracle is literally the two
    * ops' CTE chains composed: the pq chain verbatim (v/sub/c0/a0/
    * contrib/c1/a1) plus a k-prefixed copy of the kmeans chain at
    * cells=16, joined at the adc step through (cell ∈ probes) ∧ (code
    * match). Ranking (adc_dist asc, cand_id) through TopKPerKey.
    */
  val ivfPqTopK: Op = Op(
    "ann_ivfpq_topk",
    ivfPqOracleSql(5),
  ) { (spark, dir) =>
    // the SERVING deployment shape (the same move that took
    // ann_ivf_autoprobe from 2.75 to 0.53 s): search the persisted
    // IVFADC index — coarse cells + codebooks broadcast, codes read by
    // cell key from the bucketed layout — instead of re-training both
    // index parts inline per run. Deterministic training keeps the
    // composed oracle unchanged.
    // query sliver off the UNSPREAD load (r17 second pass — the
    // ann_bruteforce precedent): vec_id < 8 pushes into the scan and 8
    // rows never need corpus parallelism; spread()'s repartition was a
    // dead Exchange + AQE round on the sliver branch
    val (cents, cbs, codes, stats) = persistedIvfPqIndex(spark, dir,
      cells = 16, numSubs = ivfPqNumSubs, subDim = ivfPqSubDim,
      codebookSize = 16)
    graft.api.GraftApi.ivfPqSearchADCFromIndex(cents, cbs, codes,
      Tables.load(spark, dir, "embeddings").filter(col("vec_id") < 8),
      "vec_id", "embedding",
      nprobe = ivfPqNprobe, numSubs = ivfPqNumSubs, subDim = ivfPqSubDim,
      codebookSize = 16, k = 5, stats = Some(stats))
  }

  /** [[annIvfUpsert]]'s IVFADC sibling: BOTH quantizers (coarse cells
    * AND PQ codebooks) train on 4/5 of the corpus, the remaining fifth
    * is absorbed via [[ivfPqIndexUpsert]] (frozen-codebook encode +
    * frozen-centroid cell assignment, merged stats, re-derived
    * pre-split), and the merged index serves an ADC search — the full
    * FAISS add() lifecycle, oracle-gated: the composed oracle restricts
    * every TRAINING CTE (PQ seeds/a0/contrib; coarse k0/kassign0/
    * kcontrib) to the corpus subset while encoding, assignment, and
    * search run over everything.
    */
  val annIvfPqUpsert: Op = Op(
    "ann_ivfpq_upsert",
    ivfPqOracleSql(5, trainFilter = "vec_id % 5 <> 0"),
  ) { (spark, dir) =>
    // persisted 4/5-corpus base index, same accounting rationale as
    // annIvfUpsert (r13): timed runs pay the frozen-quantizer delta
    // encode/assign + merged serve, not the one-time base build
    val emb = Tables.embeddings(spark, dir)
    val delta = emb.filter(col("vec_id") % 5 === 0)
    val (cents, cbs, codes0, stats0) = persistedIvfPqIndex(spark, dir,
      cells = 16, numSubs = ivfPqNumSubs, subDim = ivfPqSubDim,
      codebookSize = 16,
      trainTag = "t45", train = _.filter(col("vec_id") % 5 =!= 0))
    val (codes1, stats1) = graft.api.GraftApi.ivfPqIndexUpsert(
      cents, cbs, codes0, stats0, delta,
      numSubs = ivfPqNumSubs, subDim = ivfPqSubDim)
    // query sliver unspread (r17 second pass; the delta shard above
    // KEEPS spread — its frozen-codebook encode is real per-row compute
    // that the repartition parallelizes on a single-split input)
    graft.api.GraftApi.ivfPqSearchADCFromIndex(cents, cbs, codes1,
      Tables.load(spark, dir, "embeddings").filter(col("vec_id") < 8),
      "vec_id", "embedding",
      nprobe = ivfPqNprobe, numSubs = ivfPqNumSubs, subDim = ivfPqSubDim,
      codebookSize = 16, k = 5, stats = Some(stats1))
  }

  /** The composed refine oracle (shortlist at [[ivfPqShortlistMult]]·k,
    * exact re-rank to k) — factored so [[annRecallAudit]] can nest it
    * verbatim.
    */
  private def refineOracleSql(k: Int): String =
    s"""WITH short AS (${ivfPqOracleSql(ivfPqShortlistMult * k)}),
      |wv AS ($normedVSql),
      |ex AS (
      |  SELECT s.q_id, s.cand_id,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(generate_series(1, len(q.embedding)),
      |        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))),
      |      (acc, p) -> acc + p) / (q.nrm * c.nrm) AS cosine
      |  FROM short s JOIN wv q ON q.vec_id = s.q_id
      |       JOIN wv c ON c.vec_id = s.cand_id)
      |SELECT q_id, cand_id, cosine FROM (
      |  SELECT q_id, cand_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, cand_id) AS rn
      |  FROM ex) WHERE rn <= $k""".stripMargin

  /** IVFADC shortlist + exact re-rank — the refine step (FAISS
    * RefineFlat shape) that completes the production ANN serving story:
    * the quantized index proposes a `ivfPqShortlistMult`·k-candidate
    * shortlist per query (60 at the r15 tuning — the [[ivfPqTopK]]
    * machinery verbatim, served from the persisted index), then ONLY
    * those candidates' true embeddings are fetched by id and scored
    * with exact sequential-fold cosine, and the top 5 by TRUE
    * similarity are kept. Recall lost to PQ approximation is recovered
    * for the price of a |Q|·60-row broadcast join against the corpus —
    * the corpus itself never shuffles and is read once (by id;
    * bucketed/partition-pruned at 100 TB). Shortlist depth is the one
    * tuning lever the r15 sweep found effective (see the serving-
    * parameter scaladoc above: recall@5 0.55 → 0.825). Oracle = the
    * composed IVFADC chain at the shortlist k wrapped as the shortlist
    * CTE + the brute-force cosine re-rank — both stages engine-exact,
    * so the hash gate holds.
    */
  val ivfPqRefineTopK: Op = Op(
    "ann_ivfpq_refine_topk",
    refineOracleSql(5),
  ) { (spark, dir) =>
    // BOTH sides off the unspread load (r17 second pass): the query
    // sliver for the usual pushdown reason, and the refine FETCH corpus
    // because its plan is scan → broadcast-hash probe on the |Q|·60-row
    // shortlist → per-survivor cosine — spread()'s repartition shuffled
    // the table's full embedding payload just to parallelize a hash
    // probe (the ann_bruteforce precedent; on a multi-split 100 TB
    // table spread is a no-op and the scan parallelizes itself)
    val emb = Tables.load(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 8)
    val (cents, cbs, codes, stats) = persistedIvfPqIndex(spark, dir,
      cells = 16, numSubs = ivfPqNumSubs, subDim = ivfPqSubDim,
      codebookSize = 16)
    val short = graft.api.GraftApi.ivfPqSearchADCFromIndex(cents, cbs, codes,
      queries, "vec_id", "embedding",
      nprobe = ivfPqNprobe, numSubs = ivfPqNumSubs, subDim = ivfPqSubDim,
      codebookSize = 16, k = ivfPqShortlistMult * 5, stats = Some(stats))
    graft.api.GraftApi.refineTopK(emb, short, queries, "vec_id", "embedding",
      k = 5)
  }

  /** Exact brute-force cosine top-k (q_id, cand_id) for the vec_id < 8
    * query set — the ground-truth arm of [[annRecallAudit]].
    */
  private[graft] def exactCosineTopK(spark: SparkSession, dir: String,
      k: Int = 5): DataFrame = {
    // corpus side off the unspread load (r17 second pass): identical
    // shape to ann_bruteforce_topk — 8 broadcast-probe dot products per
    // row need no repartition Exchange; multi-split corpora parallelize
    // at the scan (the measured −39% bruteforce precedent)
    val v = normed(Tables.load(spark, dir, "embeddings"))
    // query sliver off its own filtered scan (r17) — see annBruteForce's
    // pushdown note: filtering v above normed()'s barrier would cost
    // this branch its LessThan(vec_id, 8) scan pushdown
    val q = normed(Tables.load(spark, dir, "embeddings")
        .filter(col("vec_id") < 8))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val scored = v.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        (vec_dot(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("nrm"))).as("cosine"))
    graft.api.GraftApi.topKPerKey(scored, "q_id", "cosine", "cand_id", k)
      .select("q_id", "cand_id")
  }

  /** Recall audit — the measurement production serving tunes against
    * (VERDICT r13 #4): recall@5 of each persisted approximate index —
    * IVF autoprobe, IVFPQ (ADC), IVFPQ+refine — against the exact
    * brute-force top-5 on the same query set. Every approximate side is
    * the REGISTERED op's own fn (not a re-implementation), so the audit
    * measures exactly what serves; the exact side is the bruteforce
    * scan at k=5. Both sides are fully deterministic (cosine desc,
    * cand_id tie-break), so the composed DuckDB oracle — each op's
    * oracle nested verbatim as a derived table — reproduces the hit
    * counts exactly. Output is per (index_kind, q_id): `hits` and `k`
    * as exact integer rationals (recall = hits/k), zero-hit queries
    * kept via the kinds × queries scaffold.
    *
    * 100 TB shape: the three approximate searches are the already-
    * bounded serving plans (broadcast queries, cell-keyed probes); the
    * exact side is the one corpus-wide scan — which is the POINT of the
    * audit (run it on a sampled query set at scale, not per query in
    * serving). The join/aggregate after them touches |Q|·k-row slivers.
    */
  val annRecallAudit: Op = {
    val exactSql =
      s"""SELECT q_id, cand_id FROM (
        |  SELECT q_id, cand_id,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, cand_id) AS rn
        |  FROM (
        |    SELECT q_id, vec_id AS cand_id,
        |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |        list_transform(generate_series(1, len(q_emb)),
        |          i -> CAST(q_emb[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
        |        (acc, p) -> acc + p) / (q_nrm * nrm) AS cosine
        |    FROM (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
        |          FROM ($normedVSql) WHERE vec_id < 8) q
        |    JOIN ($normedVSql) v ON q_id <> vec_id)) WHERE rn <= 5""".stripMargin
    Op(
      "ann_recall_audit",
      s"""WITH exact AS ($exactSql),
        |apx AS (
        |  SELECT 'ivf' AS index_kind, q_id, cand_id FROM (
        |    ${ivfKmeansOracleSql(autoprobeExtraCtes, "(SELECT np FROM np)")})
        |  UNION ALL
        |  SELECT 'ivfpq', q_id, cand_id FROM (${ivfPqOracleSql(5)})
        |  UNION ALL
        |  SELECT 'ivfpq_refine', q_id, cand_id FROM (${refineOracleSql(5)})),
        |qs AS (SELECT DISTINCT q_id FROM exact),
        |kinds AS (SELECT * FROM (VALUES ('ivf'), ('ivfpq'), ('ivfpq_refine')) t(index_kind)),
        |h AS (
        |  SELECT a.index_kind, a.q_id, COUNT(*) AS hits
        |  FROM apx a JOIN exact e ON e.q_id = a.q_id AND e.cand_id = a.cand_id
        |  GROUP BY 1, 2)
        |SELECT k.index_kind, q.q_id,
        |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits, CAST(5 AS BIGINT) AS k
        |FROM kinds k CROSS JOIN qs q
        |  LEFT JOIN h ON h.index_kind = k.index_kind AND h.q_id = q.q_id""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      // tracked: the hits join AND the scaffold's distinct q_id read
      // both consume it — untracked, the corpus-wide exact scan (the
      // audit's dominant cost) would run twice
      val exact = graft.CacheRegistry.track(exactCosineTopK(spark, dir))
      val apx =
        annIvfAutoprobe.fn(spark, dir)
          .select(lit("ivf").as("index_kind"), col("q_id"), col("cand_id"))
        .unionByName(ivfPqTopK.fn(spark, dir)
          .select(lit("ivfpq").as("index_kind"), col("q_id"), col("cand_id")))
        .unionByName(ivfPqRefineTopK.fn(spark, dir)
          .select(lit("ivfpq_refine").as("index_kind"), col("q_id"), col("cand_id")))
      val hits = apx.join(exact, Seq("q_id", "cand_id"))
        .groupBy("index_kind", "q_id").agg(count(lit(1)).as("h"))
      Seq("ivf", "ivfpq", "ivfpq_refine").toDF("index_kind")
        .crossJoin(exact.select("q_id").distinct())
        .join(hits, Seq("index_kind", "q_id"), "left")
        .select(col("index_kind"), col("q_id"),
          coalesce(col("h"), lit(0L)).as("hits"), lit(5L).as("k"))
    }
  }

  /** Embedding-KNN label vote — the quality-classifier verb of a modern
    * curation pipeline (classify each document by its nearest labeled
    * seeds, the FineWeb-Edu/DCLM seed-similarity shape): for each query
    * vector, the k=10 exact-cosine nearest neighbors vote and the
    * majority label wins (ties: most votes first, then smallest label —
    * fully deterministic). Labels ride the SCORED side of the broadcast
    * probe, so no second corpus join fetches them; the vote aggregation
    * sees only winner slivers (|Q|·k rows) from the bounded-heap
    * TopKPerKey. At 100 TB: queries are the labeled seed batch
    * (broadcast), the corpus scans once, and per-query work is one heap.
    */
  val annKnnClassify: Op = Op(
    "ann_knn_classify",
    s"""WITH v AS (SELECT * FROM (SELECT vec_id, embedding, $normSql AS nrm, label FROM embeddings) WHERE nrm > 0),
      |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm FROM v WHERE vec_id < 8),
      |scored AS (
      |  SELECT q_id, vec_id AS cand_id, label,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(generate_series(1, len(q_emb)),
      |        i -> CAST(q_emb[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
      |      (acc, p) -> acc + p) / (q_nrm * nrm) AS cosine
      |  FROM q JOIN v ON q_id <> vec_id),
      |top AS (SELECT q_id, label FROM (
      |    SELECT q_id, label,
      |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, cand_id) AS rn
      |    FROM scored) WHERE rn <= 10),
      |votes AS (SELECT q_id, label, COUNT(*) AS n FROM top GROUP BY q_id, label)
      |SELECT q_id, pred_label, votes FROM (
      |  SELECT q_id, label AS pred_label, n AS votes,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY n DESC, label) AS rn
      |  FROM votes) WHERE rn = 1""".stripMargin,
  ) { (spark, dir) =>
    // unspread load on both sides (the ann_bruteforce_topk r17 note):
    // the broadcast-probe scoring pass has no shuffle to feed, so the
    // spread() repartition was a pure local-mode Exchange; at scale the
    // multi-file scan parallelizes by itself
    val emb = Tables.load(spark, dir, "embeddings")
    graft.api.GraftApi.knnClassify(emb, emb.filter(col("vec_id") < 8),
      "vec_id", "embedding", "label", k = 10)
  }

  /** SemDeDup (Abbas et al. 2023) — semantic deduplication by cluster-
    * local cosine pruning: assign every embedding to its nearest
    * centroid, then inside each cluster drop any vector that has cosine
    * ≥ τ with a LOWER-id vector of the same cluster (the kept vector is
    * the cluster-canonical representative; τ = 0.2, the family
    * threshold). The clustering is exactly what bounds the quadratic:
    * pairs are only formed within a cell, never across the corpus.
    *
    * Centroids are the bounded deterministic subset the IVF family uses
    * (64 lowest ids — production k-means a sampled seed, changing only
    * how `c` is produced), assignment runs through the codegen'd argmin
    * kernel (one broadcast, one row in → one row out), and cells past
    * 128 members pass through unpruned with `cell_capped` = 1 — the
    * posting-list cap discipline: a mass-duplicated cell would make
    * in-cell pairs quadratic in duplication depth, and the production
    * answer there is re-clustering with more centroids (k ∝ N), not an
    * unbounded pair join. Output: every vector with its cell, the keep
    * decision, and the cap audit flag.
    */
  val semDedup: Op = Op(
    "dedup_semdedup",
    s"""WITH v AS (SELECT vec_id, embedding, $normSql AS nrm FROM embeddings),
      |c AS (SELECT vec_id AS cent_id, embedding AS c_emb, nrm AS c_nrm
      |      FROM v WHERE vec_id < 64),
      |assign AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT v.vec_id, c.cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
      |        CASE WHEN v.nrm * c.c_nrm = 0 THEN CAST('-infinity' AS DOUBLE)
      |        ELSE list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(generate_series(1, len(v.embedding)),
      |            i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.c_emb[i] AS DOUBLE))),
      |          (acc, p) -> acc + p) / (v.nrm * c.c_nrm) END DESC, c.cent_id) AS rn
      |    FROM v, c) WHERE rn = 1),
      |cells AS (SELECT cent_id, COUNT(*) AS n FROM assign GROUP BY cent_id),
      |dropped AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM assign a JOIN assign b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
      |       JOIN cells ce ON ce.cent_id = a.cent_id AND ce.n <= 128
      |       JOIN v va ON va.vec_id = a.vec_id
      |       JOIN v vb ON vb.vec_id = b.vec_id
      |  WHERE CASE WHEN va.nrm * vb.nrm = 0 THEN CAST('-infinity' AS DOUBLE)
      |        ELSE list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(generate_series(1, len(va.embedding)),
      |            i -> CAST(va.embedding[i] AS DOUBLE) * CAST(vb.embedding[i] AS DOUBLE))),
      |          (acc, p) -> acc + p) / (va.nrm * vb.nrm) END >= 0.2)
      |SELECT a.vec_id, a.cent_id,
      |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep,
      |  CAST(CASE WHEN ce.n > 128 THEN 1 ELSE 0 END AS BIGINT) AS cell_capped
      |FROM assign a JOIN cells ce ON ce.cent_id = a.cent_id
      |     LEFT JOIN dropped d ON d.vec_id = a.vec_id""".stripMargin,
  ) { (spark, dir) =>
    val v = graft.CacheRegistry.track(
      Tables.embeddings(spark, dir).withColumn("nrm", nrmOf(col("embedding"))))
    val cents = v.filter(col("vec_id") < 64)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))
    val assign = graft.CacheRegistry.track(nearestCell(v, cents)
      .select(col("pid").as("vec_id"), col("a_cent").as("cent_id")))
    // cell sizes: a centroid-cardinality-sized frame (≤ 64 rows) — broadcast
    val cells = assign.groupBy("cent_id").agg(count(lit(1)).as("n"))
    val va = v.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
      col("nrm").as("a_nrm"))
    val vb = v.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
      col("nrm").as("b_nrm"))
    val aAss = assign.select(col("vec_id").as("a_id"), col("cent_id"))
    val bAss = assign.select(col("vec_id").as("b_id"), col("cent_id").as("b_cent"))
    // Both pair sides are pruned through the broadcast uncapped-cell
    // list BEFORE the shuffle: without the b-side semi-join, every
    // member of a capped hot cell still ships to one reducer only to
    // find an empty a-side — the exact hot-key concentration the cap
    // exists to avoid (a mass-duplicated corpus concentrates on ≤ 64
    // distinct join keys).
    val okCells = cells.filter(col("n") <= 128)
    val bOk = bAss.join(
      broadcast(okCells.select(col("cent_id").as("b_cent"))),
      Seq("b_cent"), "left_semi")
    val dropped = aAss
      .join(broadcast(okCells), "cent_id")
      .join(bOk, col("cent_id") === col("b_cent") && col("a_id") < col("b_id"))
      .join(va, "a_id").join(vb, "b_id")
      // zero-norm guard as a CASE, not an And-conjunct: CaseWhen is
      // per-row lazy and survives predicate reordering, so the ANSI
      // double division can never see a 0 denominator (And operand order
      // is not an optimizer guarantee); the oracle spells the identical
      // CASE → -infinity, which also stays correct on DuckDB ≥ 1.1
      // where 0/0 is IEEE NaN and NaN compares GREATER than any value
      .filter(when(col("a_nrm") * col("b_nrm") =!= 0,
          vec_dot(col("a_emb"), col("b_emb")) /
            (col("a_nrm") * col("b_nrm")))
        .otherwise(lit(Double.NegativeInfinity)) >= 0.2)
      .select(col("b_id").as("d_id")).distinct()
    assign
      .join(broadcast(cells), "cent_id")
      .join(dropped, col("vec_id") === col("d_id"), "left_outer")
      .select(col("vec_id"), col("cent_id"),
        when(col("d_id").isNull, 1L).otherwise(0L).as("keep"),
        when(col("n") > 128, 1L).otherwise(0L).as("cell_capped"))
  }

  val ops: Seq[Op] =
    Seq(annBruteForceTopK, dedupEmbeddingCosine, annKnnJoinTopK,
      annKnnJoinWide,
      dedupMultiSignal, annLshTopK,
      annIvfTopK, annIvfKmeansTopK, annIvfAutoprobe, annIvfUpsert,
      annRandomHyperplaneTopK,
      embedQuantize, pqCodes, pqSearch, ivfPqTopK, annIvfPqUpsert,
      ivfPqRefineTopK, annRecallAudit,
      annKnnClassify, semDedup)
}
