package graft.operators

import graft.{Op, Tables, TempWarehouse}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY §2.2 deduplication operators over the documents table.
  *
  * Scale posture (the part that matters at 100 TB): no operator here ever
  * forms the O(n²) cross product. Candidate pairs always come from an
  * equi-join on a derived key (content hash, LSH band, shared shingle),
  * so the shuffle is keyed and the pair space is bounded by bucket sizes.
  * Signatures (shingle sets, minhash arrays, simhash bits) are pure per-row
  * array expressions — computed in one codegen'd scan, no UDFs.
  *
  * The near-dup family's contract lives in three helpers and one
  * constant: [[cappedPairs]] (the capped posting-list pair expansion),
  * [[jaccardVerify]] (the exact-Jaccard score) and [[sliverVerify]]
  * (the candidate-pruned verify sliver), with [[bucketCap]] the one
  * bucket bound. Every pair generator here — and Multimodal's phash,
  * EventStreams' streaming verify, the embedding bucket caps in
  * Similarity — goes through them, so a change to the cap or to the
  * Jaccard contract is made once.
  */
object Dedup {

  /** Each document's word-5-shingle set as its DISTINCT MD5 digests
    * (lowercase hex, ascending) from one byte walk
    * ([[graft.functions.ShingleMd5Grams]], unsampled) — the one
    * word-n-gram rule of the near-dup family: the verify sliver, the
    * persisted sketch state ([[sketchTable]]) and decontamination all
    * read it. Gated on `size(shingles) > 0`, the `size(words) >= 5`
    * participation contract (a ≥5-word doc always has a shingle). Digest
    * sets give the same intersections and sizes as the gram-string sets
    * unless MD5 collides, so [[jaccardVerify]] over them gives the string
    * sets' `n_common` and `jaccard` (DedupSpec pins it). The kernel is an
    * optimizer barrier, so the gate reads the projected column instead of
    * re-running the walk.
    *
    * Shingle length is a selectivity knob: on this corpus (small
    * vocabulary) 3-word shingles are shared by nearly every document
    * pair (candidate pair mass ~1.3M at sf0.1) while 5-word shingles are
    * ~100× more selective (13.5k) with near-dup pairs still sharing most
    * runs.
    */
  private[graft] def shingleDigests(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
        graft.functions.ShingleSketch.shingle_md5_grams(col("text"), 5, 1)
          .as("shingles"))
      .filter(size(col("shingles")) > 0)

  /** The near-dup family's bucket cap: a posting list (shared shingle,
    * sketch hash, band key) with more members than this is dropped
    * wholesale — quadratic candidate mass with no discrimination, and
    * true near-dup pairs also share a non-degenerate key. Every
    * Spark-side bucket bound and every DuckDB oracle's `HAVING` bound
    * reads this one value; [[capAudit]] counts what it drops.
    */
  private[graft] val bucketCap = 64

  /** Capped posting-list pair expansion — candidate pairs in ONE
    * shuffle: group `postings` by `key`, collect each bucket's members
    * with the cap enforced INSIDE the aggregation buffer
    * (collect_set_bounded → NULL on overflow, so a boilerplate key
    * shared by 100 M docs costs O(cap) buffer memory, not O(df) — same
    * answer as collect_set + size filter, proven in
    * CollectSetBoundedSpec), drop NULL and singleton buckets, and expand
    * each kept list's pairs IN-GROUP with array HOFs (≤ cap·(cap−1)/2
    * per bucket) — the df-count + rare-filter join + self-join triple
    * shuffle this replaced found the identical pair set.
    *
    * `member` is the doc_id column (each pair ordered by least/greatest)
    * or a struct led by doc_id carrying payload for a per-pair filter
    * (the list is array-sorted so x precedes y; `extra` names the
    * payload fields computed from x and y, e.g. a Hamming distance).
    * Emits (doc_a, doc_b, extra…) with doc_a < doc_b, not distinct: a
    * pair sharing several keys appears once per key.
    */
  private[graft] def cappedPairs(postings: DataFrame, key: String,
      member: Column = col("doc_id"), extra: String = "",
      cap: Int = bucketCap): DataFrame = {
    require(cap >= 2,
      s"cappedPairs: cap=$cap — a bucket needs two members to emit a pair")
    val bounded = graft.functions.CollectSetBounded.collect_set_bounded(member, cap)
    val (ms, name, pair) = postings.select(member).schema.head.dataType match {
      case _: org.apache.spark.sql.types.StructType =>
        (array_sort(bounded), "ms", s"x.doc_id as doc_a, y.doc_id as doc_b, $extra")
      case _ => (bounded, "ids", "least(x, y) as doc_a, greatest(x, y) as doc_b")
    }
    postings.groupBy(key).agg(ms.as(name))
      .filter(col(name).isNotNull && size(col(name)) >= 2)
      .select(explode(expr(s"flatten(transform($name, (x, i) ->" +
        s" transform(slice($name, i + 2, size($name) - i - 1), y -> struct($pair))))")).as("p"))
      .select("p.*")
  }

  /** Exact-Jaccard verify — the family's one scoring contract:
    * candidate pairs (doc_a, doc_b) join a (doc_id, shingles) frame on
    * both sides (`sa`, `sb`) and keep |A∩B| / (|A| + |B| − |A∩B|) ≥
    * `jaccardMin`, integer counts + one double division, so the score
    * is bit-deterministic. Emits (doc_a, doc_b, n_common, jaccard).
    */
  private[graft] def jaccardVerify(cand: DataFrame, shingles: DataFrame,
      jaccardMin: Double): DataFrame = {
    val interSz = size(array_intersect(col("sa.shingles"), col("sb.shingles")))
    val jac = interSz.cast("double") /
      (size(col("sa.shingles")) + size(col("sb.shingles")) - interSz)
    cand
      .join(shingles.alias("sa"), col("sa.doc_id") === col("doc_a"))
      .join(shingles.alias("sb"), col("sb.doc_id") === col("doc_b"))
      .filter(jac >= jaccardMin)
      .select(col("doc_a"), col("doc_b"), interSz.cast("long").as("n_common"),
        jac.as("jaccard"))
  }

  /** [[jaccardVerify]] over a candidate-pruned sliver: the verify needs
    * the shingles of exactly the docs the candidate pairs name, so
    * `sliverOf(probeIds)` rebuilds them over that pair-bounded slice
    * (tracked — both verify sides read it) instead of caching or
    * shuffling corpus-wide arrays to serve a sliver of lookups.
    *
    * The cand side goes through [[graft.api.GraftApi.adaptiveBroadcast]]:
    * capped buckets make the pair set tiny on most corpora, and the
    * broadcast keeps the wide sliver from being shuffled+sorted twice
    * just to probe it (the 1000× smoke measured that map stage 2× over
    * linear before AQE could see the cand size); a mega-dup crawl's cand
    * runs un-hinted.
    *
    * Probe ids (r15): ONE explode branch over the (usually cached) pair
    * frame + distinct — vs the r13 union of two projections, one cache
    * read and one AQE stage-materialization job fewer
    * (minhash_ab_r15.jsonl adjudicates hash-identically). The distinct
    * STAYS: a no-distinct variant's same-day solo-1000× A/B (legacy
    * 874.9 / no-distinct 1078 / this form 1225 cpu-s on
    * dedup_recall_audit, canaries swinging 0.08–0.26) is
    * NOISE-DOMINATED, so the tie-breaker is risk: the un-deduped build
    * side is 2·|pairs| rows vs |docs in pairs|, a real blow-up exactly
    * on dup-heavy corpora where |pairs| ≫ |docs|, while the distinct
    * costs one tiny-frame exchange at interactive scale.
    */
  private[graft] def sliverVerify(cand: DataFrame, jaccardMin: Double)(
      sliverOf: DataFrame => DataFrame): DataFrame = {
    val candHinted = graft.api.GraftApi.adaptiveBroadcast(cand)
    val probeIds = candHinted
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    jaccardVerify(candHinted, graft.CacheRegistry.track(sliverOf(probeIds)),
      jaccardMin)
  }

  /** Same shingle construction in DuckDB SQL (1-based lists), over a
    * caller-chosen docs source — a table name or a parenthesized
    * subquery ([[recallAudit]] passes its audit slice). Parameterizing
    * the source keeps every sample-restricted oracle single-sourced
    * with the full-corpus one: tuning the shingle width retunes both.
    */
  private[operators] def shinglesSqlFrom(src: String): String =
    s"""SELECT doc_id,
      |  list_sort(list_distinct(list_transform(generate_series(1, len(w)-4),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS shingles
      |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM $src)
      |WHERE len(w) >= 5""".stripMargin

  private[operators] val shinglesSql = shinglesSqlFrom("documents")

  /** Exact dedup: group by full-content hash, keep the smallest doc_id.
    * At scale the shuffle key is the 128-bit digest — uniformly
    * distributed, no skew.
    */
  val exact: Op = Op(
    "dedup_exact",
    """SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper,
      |  COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text)""".stripMargin,
  ) { (spark, dir) =>
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
  }

  /** n-gram Jaccard near-dup pairs. Candidate pairs come from an equi-join
    * on shingles whose document frequency is ≤ 64: ultra-common shingles
    * produce quadratic candidate blowup while discriminating nothing — the
    * df cap is the standard scale guard (a near-dup pair always shares
    * rare shingles too, so recall is unaffected in practice). The Jaccard
    * itself is then computed EXACTLY on the full shingle arrays, so the
    * cap influences only candidate generation cost, never reported scores.
    * Integer counts + one double division — bit-deterministic.
    *
    * Candidate grams are additionally CONTENT-STABLE SAMPLED 1-in-4
    * (first md5 nibble ∈ {0,4,8,c} — the same deterministic predicate
    * in both engines, so the oracle matches exactly): the r11 1000×
    * sweep showed the bounded-set aggregation's map-side state
    * (per-task distinct shingles × 64-id buffers) tipping into
    * sort-fallback spill (2.9 GB) on duplication-heavy corpora, and a
    * corpus-keyed sample shrinks BOTH the posting stream and that
    * state 4× while keeping the candidate criterion symmetric: a gram
    * is sampled for every document or for none, so a pair sharing any
    * sampled rare shingle is still found. Recall bound vs the
    * unsampled pair set: a pair sharing s rare shingles is missed with
    * probability (3/4)^s — 5.6% at s = 10, 0.3% at s = 20, < 0.01%
    * for typical J ≥ 0.2 near-dups of 100-shingle documents (s ≳ 33).
    * Reported scores are never affected — only candidate recall.
    */
  /** The dedup_ngram_jaccard oracle chain over a caller-chosen docs
    * source, with the 1-in-4 gram-sampling CTE optional — single-sourced
    * between the registered op (sampled, over `documents`) and
    * [[recallAudit]], whose ground-truth arm is exactly this chain
    * UNSAMPLED (the sampling coin is the recall knob being audited).
    */
  /** The 1-in-4 gram-sampling coin in DuckDB SQL — single-sourced
    * between [[ngramPairsSqlFrom]] and the cap audit's posting stanza.
    */
  private[operators] val ngramCoinSql: String =
    "substring(md5(g), 1, 1) IN ('0','4','8','c')"

  private[operators] def ngramPairsSqlFrom(src: String, sampled: Boolean,
      select: String =
        "doc_a, doc_b, CAST(n_common AS BIGINT) AS n_common, jaccard"): String = {
    val sampleCte = if (sampled)
      s"""sampled AS (SELECT doc_id, g FROM grams
        |            WHERE $ngramCoinSql),
        |""".stripMargin
    else ""
    val pool = if (sampled) "sampled" else "grams"
    s"""WITH sh AS (${shinglesSqlFrom(src)}),
      |grams AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
      |${sampleCte}rare AS (SELECT g FROM $pool GROUP BY g HAVING COUNT(*) <= $bucketCap),
      |kept AS (SELECT doc_id, g FROM $pool WHERE g IN (SELECT g FROM rare)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id),
      |verified AS (
      |  SELECT doc_a, doc_b,
      |    len(list_intersect(sa.shingles, sb.shingles)) AS n_common,
      |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
      |      (len(sa.shingles) + len(sb.shingles)
      |       - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
      |  FROM cand JOIN sh sa ON sa.doc_id = doc_a
      |            JOIN sh sb ON sb.doc_id = doc_b)
      |SELECT $select
      |FROM verified WHERE jaccard >= 0.2""".stripMargin
  }

  val ngramJaccard: Op = Op(
    "dedup_ngram_jaccard",
    ngramPairsSqlFrom("documents", sampled = true),
  ) { (spark, dir) =>
    postingPairsPlan(fusedGramStream(4))(Tables.documents(spark, dir), 0.2)
  }

  /** The fused sampled posting stream (doc_id, g) where g is the gram's
    * DIGEST hex, not the gram string ([[graft.functions.ShingleMd5Grams]]
    * — one byte-slice scan, the sampling coin inside the kernel, no
    * words/gram/distinct arrays). Candidate consumers only ever KEY on
    * g, so digest-keyed buckets produce the identical pair set (digest
    * equality ≡ gram equality modulo MD5 collision — and the oracle's
    * gram-keyed buckets stay valid for exactly that reason). mod=4 is
    * the registered 1-in-4 coin; mod=1 the unsampled stream.
    */
  private[graft] def fusedGramStream(mod: Int): DataFrame => DataFrame =
    docs => docs.select(col("doc_id"),
      explode(graft.functions.ShingleSketch
        .shingle_md5_grams(col("text"), 5, mod)).as("g"))

  /** The near-dup pair plan over a posting stream: `postings(docs)` is a
    * (doc_id, key) stream — gram digests for dedup_ngram_jaccard
    * ([[fusedGramStream]]), sketch hashes for [[minhashPairs]]
    * ([[sketchPostings]]) — whose key is its second column. Candidates
    * are the [[cappedPairs]] of that stream, verified by
    * [[sliverVerify]] over the [[shingleDigests]] of the candidate docs.
    * Emits (doc_a, doc_b, n_common, jaccard).
    *
    * No corpus-wide shingle cache: with the shingle arrays cached, the
    * 24g uniform-1000× sweep read the minhash op BIMODALLY — 740 vs
    * 1954 cpu-s across code-identical runs, borderline LRU eviction
    * serializing wide array blocks mid-query — so since r13 the stream
    * explodes off one fresh scan and the verify rebuilds shingles over
    * the candidate sliver only.
    */
  private[graft] def postingPairsPlan(postings: DataFrame => DataFrame)(
      docs: DataFrame, jaccardMin: Double): DataFrame = {
    val stream = postings(docs)
    val cand = cappedPairs(stream, stream.columns(1)).distinct()
    sliverVerify(cand, jaccardMin)(ids =>
      shingleDigests(docs.join(ids, Seq("doc_id"), "left_semi")))
  }

  /** MinHash sketch → LSH bucket → candidate CTE chain in DuckDB SQL
    * (relations `sh`/`sk`/`buckets`/`small`/`cand`), single-sourced for
    * every oracle built on the near-dup pair set — dedup_minhash_lsh
    * itself, Graph.clustersCteBody (dedup_clusters), and through it
    * pipeline_curate. Tuning a parameter (sketch size [1:8], bucket cap
    * 64, Jaccard 0.2 in [[minhashVerifiedSql]]) retunes every dependent
    * oracle in lockstep with [[minhashPairs]]; a copy drifting on its own
    * made gate failures point at the wrong change.
    */
  private[operators] def minhashCandCteFrom(src: String): String =
    s"""sh AS (${shinglesSqlFrom(src)}),
      |sk AS (SELECT doc_id, shingles,
      |         list_sort(list_transform(shingles, s -> md5(s)))[1:8] AS sketch
      |       FROM sh),
      |buckets AS (SELECT doc_id, unnest(sketch) AS h FROM sk),
      |small AS (SELECT h FROM buckets GROUP BY h HAVING COUNT(*) <= $bucketCap),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM buckets a JOIN buckets b ON a.h = b.h AND a.doc_id < b.doc_id
      |  WHERE a.h IN (SELECT h FROM small))""".stripMargin

  private[operators] val minhashCandCte: String = minhashCandCteFrom("documents")

  /** Exact-Jaccard over the full shingle arrays (single line so it embeds
    * safely inside stripMargin templates).
    */
  private[operators] val minhashJaccardSql: String =
    "CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) / " +
      "(len(sa.shingles) + len(sb.shingles) - " +
      "len(list_intersect(sa.shingles, sb.shingles)))"

  /** Verified near-dup pairs (exact Jaccard ≥ 0.2 over `cand`) with a
    * caller-chosen projection — the shared tail of every pair-set oracle.
    */
  private[operators] def minhashVerifiedSql(select: String): String =
    s"""SELECT $select
      |FROM cand JOIN sk sa ON sa.doc_id = doc_a
      |          JOIN sk sb ON sb.doc_id = doc_b
      |WHERE $minhashJaccardSql >= 0.2""".stripMargin

  /** The dedup_minhash_lsh oracle: verified pairs over the documents
    * table's minhash candidates — also the full recompute the
    * incremental faces' oracle restricts to the delta.
    */
  private val minhashPairsSql: String =
    s"""WITH $minhashCandCte
      |${minhashVerifiedSql(s"doc_a, doc_b,\n  $minhashJaccardSql AS jaccard")}""".stripMargin

  /** MinHash (bottom-k sketch) + LSH bucket join. One digest per shingle;
    * the sketch is the 8 lexicographically smallest md5s — the bottom-k
    * estimator of the minwise family (one-permutation MinHash). Candidates
    * are documents sharing ANY sketch value (an equi-join on the exploded
    * sketch — LSH buckets keyed by minhash value). Recall for a pair with
    * Jaccard j is ≈ 1-(1-j)^8 (> 0.99 at j ≥ 0.5). Candidates are then
    * verified with EXACT Jaccard on the full shingle arrays, so sketching
    * affects only recall/cost, never precision. 16× cheaper than k
    * independent hash passes and the same plan shape (scan → sketch →
    * bucket join → verify).
    */
  val minhashLsh: Op = Op("dedup_minhash_lsh", minhashPairsSql) {
    (spark, dir) => minhashPairs(Tables.documents(spark, dir), 0.2)
  }

  /** The MinHash+LSH pipeline as a generic library function over any
    * frame with `doc_id` and `text` columns (the user-facing form; the
    * registered operator above binds it to the documents table).
    * Emits (doc_a, doc_b, jaccard) for pairs with exact Jaccard ≥
    * `jaccardMin`.
    */
  def minhashPairs(docs: DataFrame, jaccardMin: Double): DataFrame =
    // The corpus-wide sketch (doc_id, 8 md5s) is tracked: the r17
    // cache-vs-fused A/B (minhash_ab_r17.jsonl) read the uncached form
    // — kernel fused straight into the bucket aggregation's map stage —
    // ~0.2 s worse wall and ~0.25 s better cpu at sf0.1, hash-identical,
    // so the cache stayed.
    postingPairsPlan(d =>
      sketchPostings(graft.CacheRegistry.track(fusedSketchFrameGated(d))))(
      docs, jaccardMin).select("doc_a", "doc_b", "jaccard")

  /** The corpus-wide (doc_id, sketch) pass as ONE fused kernel
    * ([[graft.functions.ShingleMd5Sketch]]): no words array, no
    * shingle-string array, no per-shingle hex String — each 5-gram
    * hashes as a byte slice of the text, and only the 8 smallest
    * digests are kept. ≡ `slice(shingles, 1, 8)` of [[shingleDigests]],
    * the sketch [[sketchTable]] persists (ShingleSketchSpec pins both on
    * crafted + random texts). UNGATED: explode(sketch) emits zero rows
    * for an empty array, so explode-consumers need no filter at all;
    * [[fusedSketchFrameGated]] adds the explicit `size(sketch) > 0`
    * participation gate for paths that materialize the frame.
    */
  private[graft] val fusedSketchFrame: DataFrame => DataFrame = docs =>
    docs.select(col("doc_id"), graft.functions.ShingleSketch
        .shingle_md5_bottom_k(col("text"), 5, 8).as("sketch"))

  /** [[fusedSketchFrame]] + the `size(sketch) > 0` participation gate
    * (the `size(words) >= 5` contract — a ≥5-word doc always has ≥1
    * shingle). r17: the gate is CHEAP again — the kernel is an
    * optimizer-barrier expression (see ShingleMd5Sketch.deterministic),
    * so the filter reads the projected column instead of predicate
    * pushdown cloning the md5-shingle pass into its condition; the r16
    * plan evaluated the kernel 2× per document (filter + projection),
    * this form 1× (plans/r17/dedup_minhash_lsh_{before,after}.txt).
    */
  private[graft] val fusedSketchFrameGated: DataFrame => DataFrame = docs =>
    fusedSketchFrame(docs).filter(size(col("sketch")) > 0)

  /** The exploded (doc_id, h) LSH bucket stream of the registered
    * minhash generator — shared by the cap audit ([[capAuditRow]]) and
    * the scale smokes' saturation probes so they count exactly the
    * buckets [[minhashPairs]]' [[bucketCap]] bounds.
    */
  private[graft] def minhashBuckets(docs: DataFrame): DataFrame =
    sketchPostings(fusedSketchFrame(docs))

  /** A (doc_id, sketch) frame's (doc_id, h) posting stream — one row per
    * sketch hash, the bucket stream of every minhash generator.
    */
  private[graft] def sketchPostings(sk: DataFrame): DataFrame =
    sk.select(col("doc_id"), explode(col("sketch")).as("h"))

  /** Per-feature md5 bit votes folded into a 64-bit signature (each hex
    * digit casts two independent votes — its 8-bit and its 4-bit — so 32
    * digits yield 64 fair coins). 64 bits, not 32: the downstream band
    * join buckets on 16-bit substrings, and a 16-bit band space (65536
    * values) is what keeps bucket occupancy small at millions of
    * documents — 8-bit bands (256 values) overflow every bucket past
    * ~16k docs and the cap would drop them all (recall cliff, caught by
    * the 30x scale smoke).
    */
  private val simhashBitSql =
    """array_to_string(list_transform(generate_series(1, 64),
      |    b -> CASE WHEN list_sum(list_transform(md5s,
      |           m -> CASE WHEN strpos(
      |                  CASE WHEN (b-1) % 2 = 0 THEN '89abcdef' ELSE '4567cdef' END,
      |                  substr(m, (b-1)//2 + 1, 1)) > 0
      |                THEN 1 ELSE -1 END)) > 0
      |         THEN '1' ELSE '0' END), '')""".stripMargin

  val simhash: Op = Op(
    "dedup_simhash",
    simhashSigsSqlFrom("documents"),
  ) { (spark, dir) =>
    // Features are word-3-grams (token fallback for docs shorter than 3
    // words): single tokens carry too little entropy on a small-vocabulary
    // corpus — every document contains most of the vocabulary, so
    // token-set signatures collapse. simhash_bits
    // (graft.functions.SimHashBits) = the 32-subexpression HOF
    // formulation in ONE codegen'd pass over the digests (see
    // simhashSignatures, the shared signature builder).
    simhashSignatures(Tables.documents(spark, dir)).select("doc_id", "simhash")
  }

  /** SimHash near-dup pairs: by the pigeonhole principle two signatures
    * within Hamming distance 3 agree exactly on at least one of 4 16-bit
    * bands — the Manku et al. web-dedup layout. 16-bit bands carry 65536
    * values each, so at millions of documents a NON-degenerate bucket
    * holds a handful of docs and the 64-cap only trims truly degenerate
    * signatures (the 8-bit layout this replaces had 256 values per band:
    * every bucket overflowed past ~16k docs and recall collapsed to
    * zero — caught by the 30x scale smoke).
    */
  /** The simhash signature relation in DuckDB SQL over a caller-chosen
    * docs source — single-sourced between dedup_simhash's oracle,
    * [[simhashPairsSqlFrom]] and the cap audit's band stanza.
    */
  private[operators] def simhashSigsSqlFrom(src: String): String =
    s"""SELECT doc_id,
      |    $simhashBitSql AS simhash
      |  FROM (SELECT doc_id,
      |          list_transform(list_distinct(
      |            CASE WHEN len(w) >= 3
      |              THEN list_transform(generate_series(1, len(w)-2),
      |                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
      |              ELSE w END), t -> md5(t)) AS md5s
      |        FROM (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM $src))""".stripMargin

  /** The 4×16-bit band rows (doc_id, simhash, band) over the `sigs`
    * relation — shared by [[simhashPairsSqlFrom]] and the cap audit's
    * band stanza.
    */
  private val simhashBandsSql: String =
    """SELECT doc_id, simhash,
      |    CAST(b AS VARCHAR) || ':' || substr(simhash, 16*b+1, 16) AS band
      |  FROM sigs, UNNEST(generate_series(0, 3)) AS t(b)""".stripMargin

  /** The simhash pair oracle (Hamming ≤ 3) over a caller-chosen docs
    * source and band layout — `bands` is the body of a `bands` CTE over
    * `sigs` emitting (doc_id, simhash, band). Single-sourced between
    * dedup_simhash_pairs (the 4×16-bit default), [[recallAudit]]'s
    * simhash arm and dedup_simhash_blocks (its 20 block combinations).
    */
  private[operators] def simhashPairsSqlFrom(src: String,
      bands: String = simhashBandsSql): String = {
    val hamming =
      """list_sum(list_transform(generate_series(1, 64),
        |    i -> CASE WHEN substr(ha, i, 1) <> substr(hb, i, 1) THEN 1 ELSE 0 END))""".stripMargin
    s"""WITH sigs AS (
      |  ${simhashSigsSqlFrom(src)}),
      |bands AS (
      |  $bands),
      |small AS (SELECT band FROM bands GROUP BY band HAVING COUNT(*) BETWEEN 2 AND $bucketCap),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.simhash AS ha, b.simhash AS hb
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
      |  WHERE a.band IN (SELECT band FROM small))
      |SELECT doc_a, doc_b,
      |  CAST($hamming
      |    AS BIGINT) AS hamming
      |FROM cand
      |WHERE $hamming <= 3""".stripMargin
  }

  val simhashPairs: Op = Op(
    "dedup_simhash_pairs",
    simhashPairsSqlFrom("documents"),
  ) { (spark, dir) =>
    // The m=4, d=3 instance of the multi-block machinery: combination
    // keys ci·2^16 | block — numerically IDENTICAL to the b·65536 +
    // value band keys this op has always shuffled on. Numeric signature
    // as two exact 32-bit halves: Hamming costs TWO codegen'd
    // bit_count(xor)s per candidate (a 64-round substring HOF was 7/8 of
    // this operator's wall time at sf0.1); candidates via the family's
    // bounded posting-list pattern, the Hamming filter inside the
    // in-group expansion (see simhashPairsFromSigs).
    simhashPairsFromSigs(
      simhashSignatures(Tables.documents(spark, dir)), m = 4, d = 3)
  }

  /** SimHash signatures of any (doc_id, text) frame as the binary string
    * plus its two exact 32-bit halves — the shared input of the banded
    * pair generators (the persisted signature table at warehouse scale).
    */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    // null text normalizes to the empty document (null-gate r9): both
    // engines then derive the same ''-signature instead of Spark NULL
    // vs DuckDB's zero-fold — and null-text docs keep a signature row,
    // the per-doc contract of the simhash family
    val text = coalesce(col("text"), lit(""))
    // features: the distinct word-3-gram digests, or for a doc of fewer
    // than 3 words its distinct word digests — one byte walk each
    // (graft.functions.ShingleMd5Grams; words split on ' ' with empty
    // words kept, as `split` does). simhash_bits is order-independent,
    // so the kernel's sorted digests vote like the composed form's. The
    // kernel is an optimizer barrier: the fallback reads the projected
    // 3-gram column instead of re-running the walk.
    docs
      .withColumn("md5s", graft.functions.ShingleSketch.shingle_md5_grams(text, 3, 1))
      .select(col("doc_id"), graft.functions.simhash.simhash_bits(
          when(size(col("md5s")) > 0, col("md5s"))
            .otherwise(graft.functions.ShingleSketch.shingle_md5_grams(text, 1, 1)))
        .as("simhash"))
      .withColumn("hi", expr("cast(conv(substring(simhash, 1, 32), 2, 10) as long)"))
      .withColumn("lo", expr("cast(conv(substring(simhash, 33, 32), 2, 10) as long)"))
  }

  /** Block boundaries for an m-block split of the 64-bit signature:
    * bit positions (MSB-first, 0-based) `64·i/m` for i = 0..m.
    */
  private[operators] def blockBounds(m: Int): IndexedSeq[Int] =
    (0 to m).map(i => 64 * i / m)

  /** One block's value as a long, from the (hi, lo) 32-bit halves —
    * pure bit arithmetic, codegen'd, handles blocks straddling the
    * 32-bit split.
    */
  private def blockVal(hi: Column, lo: Column, start: Int, end: Int): Column = {
    val w = end - start
    if (end <= 32) shiftright(hi, 32 - end).bitwiseAND(lit((1L << w) - 1))
    else if (start >= 32) shiftright(lo, 64 - end).bitwiseAND(lit((1L << w) - 1))
    else { // hi tail ++ lo head
      val hiBits = 32 - start
      val loBits = end - 32
      shiftleft(hi.bitwiseAND(lit((1L << hiBits) - 1)), loBits)
        .bitwiseOR(shiftright(lo, 64 - end).bitwiseAND(lit((1L << loBits) - 1)))
    }
  }

  /** Multi-block band keys (Manku et al.'s C(m, m−d) block combinations,
    * the WWW'07 web-dedup table layout): every combination of m−d of the
    * m blocks packs into ONE long key (combination index in the high
    * bits, chosen blocks' values below). By pigeonhole, ≤ d differing
    * bits leave ≥ m−d blocks untouched, so a true near-dup pair shares
    * at least one full combination key. The m=4, d=3 single-block case
    * IS the existing 4×16-bit layout; m=6, d=3 yields C(6,3)=20 keys of
    * ~37 bits — 2^37 key space keeps bucket occupancy bounded where
    * 16-bit bands saturate (≥15k docs/bucket at 1B docs: every bucket
    * would overflow the cap and recall would collapse).
    */
  def simhashBandKeys(hi: Column, lo: Column, m: Int, d: Int): Column = {
    require(m >= 2 && m <= 16 && d >= 1 && d < m,
      s"simhashBandKeys: need 2 <= m <= 16 and 1 <= d < m, got m=$m d=$d")
    val bounds = blockBounds(m)
    val combos = (0 until m).combinations(m - d).toSeq
    val widths = (0 until m).map(b => bounds(b + 1) - bounds(b))
    val maxKeyBits = combos.map(_.map(widths).sum).max +
      (32 - Integer.numberOfLeadingZeros(combos.size)) // + combo-index bits
    require(maxKeyBits <= 62,
      s"simhashBandKeys: m=$m d=$d packs $maxKeyBits bits — exceeds one long")
    val keys = combos.zipWithIndex.map { case (blocks, ci) =>
      blocks.foldLeft(lit(ci.toLong): Column) { (acc, b) =>
        shiftleft(acc, bounds(b + 1) - bounds(b))
          .bitwiseOR(blockVal(hi, lo, bounds(b), bounds(b + 1)))
      }
    }
    array(keys: _*)
  }

  /** Pick the cheapest multi-block layout for a corpus size: the
    * smallest band-row cost C(m, m−d) whose MINIMUM combination-key
    * width keeps expected bucket occupancy (nDocs / 2^bits) at or
    * below `occupancyTarget`. m=4 (the 4×16 layout, 4 band rows/doc)
    * carries corpora into the tens of millions; m=6 (20 rows) covers
    * billions; m=8 (56 rows) trillions. Refuses a corpus size no
    * 64-bit layout can bucket — the signal to move to a wider
    * fingerprint, not to silently drop recall.
    */
  def simhashLayoutFor(nDocs: Long, d: Int = 3,
      occupancyTarget: Double = 4.0): Int = {
    require(nDocs > 0 && occupancyTarget > 0,
      s"simhashLayoutFor: need nDocs > 0 and occupancyTarget > 0")
    def minKeyBits(m: Int): Int = {
      val bounds = blockBounds(m)
      (0 until m).map(b => bounds(b + 1) - bounds(b)).sorted.take(m - d).sum
    }
    val ok = ((d + 1) to 12).filter(m =>
      nDocs.toDouble / math.pow(2, minKeyBits(m)) <= occupancyTarget)
    require(ok.nonEmpty,
      s"simhashLayoutFor: no 64-bit layout keeps expected occupancy <= " +
        s"$occupancyTarget at $nDocs docs (d=$d) — use a wider fingerprint")
    // key width grows and cost C(m,m−d) grows with m: the first fit is
    // the cheapest fit
    ok.min
  }

  /** The exploded (doc_id, hi, lo, band) posting rows of the multi-block
    * band layout — the generator's bucket stream, shared by the pair
    * expansion below and the cap audit ([[capAuditRow]]) so the audit
    * counts exactly the buckets the production cap bounds.
    */
  private[graft] def simhashBands(sigs: DataFrame, m: Int, d: Int): DataFrame =
    sigs.select(col("doc_id"), col("hi"), col("lo"),
      explode(simhashBandKeys(col("hi"), col("lo"), m, d)).as("band"))

  /** Near-dup pairs from a signature table via the multi-block band
    * layout: explode the C(m, m−d) keys, [[cappedPairs]] per band at
    * `cap` (the family invariant), the Hamming distance computed inside
    * the in-group expansion. Emits (doc_a, doc_b, hamming) with
    * hamming ≤ d.
    */
  def simhashPairsFromSigs(sigs: DataFrame, m: Int, d: Int,
      cap: Int = bucketCap): DataFrame =
    cappedPairs(simhashBands(sigs, m, d), "band",
      struct(col("doc_id"), col("hi"), col("lo")),
      "cast(bit_count(x.hi ^ y.hi) + bit_count(x.lo ^ y.lo) as bigint) as hamming",
      cap)
      .filter(col("hamming") <= d)
      .distinct()

  /** The MinHash sketch state of any (doc_id, text) frame — the
    * persisted signature table an incremental dedup pipeline keeps per
    * corpus (the reference's addIndex precomputation; at warehouse scale
    * it is stored `bucketBy(hash)` so re-runs never reshuffle it).
    * (doc_id, shingles, sketch) from ONE byte walk: `shingles` is
    * [[shingleDigests]] (the distinct word-5-shingle MD5 digests,
    * ascending — the verify state), and since the digests arrive sorted,
    * their first 8 are the bottom-8 sketch the buckets key on (≡
    * `shingle_md5_bottom_k(text, 5, 8)`, ShingleSketchSpec pins it). A
    * table built from gram STRINGS by older code is not this contract —
    * rebuild it.
    */
  def sketchTable(docs: DataFrame): DataFrame =
    shingleDigests(docs).withColumn("sketch", slice(col("shingles"), 1, 8))

  /** Incremental dedup: near-dup pairs INVOLVING an arriving delta shard,
    * against an existing corpus whose sketch table already exists — the
    * DeltaViews face of dedup (reference analog: IncrementalResult.scala
    * maintaining a query result under `+=`). Only the delta's shingles
    * and sketches are computed fresh; the corpus contributes its persisted
    * posting lists. Output ≡ the full-recompute pair set restricted to
    * pairs touching the delta (spec-proven in DedupSpec): candidate
    * generation shares a sketch hash in both formulations and the verify
    * is the same exact Jaccard, so neither recall nor precision moves.
    * The frames need NOT be id-disjoint: per-hash bucket depth counts
    * distinct doc_ids, a doc present in both frames never pairs with
    * itself, and its verify row enters the join once.
    *
    * Scale shape: corpus sketches are read, never rebuilt; the bucket
    * join is keyed on the sketch hash, so at 100 TB the arriving shard's
    * (tiny) posting lists shuffle while the corpus side streams from its
    * bucketed layout with no exchange (see BucketingSpec).
    */
  def incrementalPairs(corpusSk: DataFrame, deltaSk: DataFrame,
      jaccardMin: Double): DataFrame = {
    val dSk = graft.CacheRegistry.track(deltaSk)
    // tracked: two consumers (the union count and the cross-candidate
    // join) would otherwise decode the corpus sketch column twice —
    // postings are two narrow columns, the cache the warehouse analog
    // of the persisted (doc_id, h) posting table the scale note below
    // describes
    val corpusBuckets = graft.CacheRegistry.track(sketchPostings(corpusSk))
    val deltaBuckets = graft.CacheRegistry.track(sketchPostings(dSk))
    // The bucket cap counts the DISTINCT doc_ids of the corpus+delta
    // union per hash — the same "all docs sharing h" bucket minhashPairs
    // caps — so the incremental pair set stays EXACTLY the capped full
    // recompute restricted to the delta (a 300-deep templated bucket
    // would otherwise emit |corpus-side|·|delta-side| cross pairs here
    // that the full recompute's cap drops). countDistinct, not count:
    // the frames need not be id-disjoint, and a doc present in both
    // would otherwise count twice per shared hash and shift buckets
    // across the cutoff relative to the full recompute. One keyed
    // count, then keyed semi-joins — no buffers. At warehouse scale the
    // corpus side of this count is a persisted per-hash posting COUNT
    // column, not a recount.
    val kept = corpusBuckets.union(deltaBuckets)
      .groupBy("h").agg(countDistinct(col("doc_id")).as("n"))
      .filter(col("n").between(2, bucketCap)).select("h")
    val deltaKept = deltaBuckets.join(kept, "h")
    incrementalVerifyTail(corpusSk, dSk, Seq(corpusBuckets), deltaKept,
      jaccardMin)
  }

  /** Shared candidate+verify tail of the incremental forms (cross and
    * in-delta candidates, bounded buckets, candidate-pruned verify) —
    * one copy so [[incrementalPairsFromIndex]], the upsert serve, and
    * [[incrementalPairs]] cannot drift on the scoring contract.
    * `corpusBucketFrames` arrive as SEPARATE frames (persisted
    * bucketed postings; a just-absorbed shard's fresh postings) so
    * each keeps its own join plan — unioning them first would strip
    * the persisted side's bucket partitioning and re-shuffle it.
    */
  private def incrementalVerifyTail(corpusSk: DataFrame, dSk: DataFrame,
      corpusBucketFrames: Seq[DataFrame], deltaKept: DataFrame,
      jaccardMin: Double): DataFrame = {
    // delta×corpus candidates: keyed equi-join on the sketch hash (a doc
    // in both frames must not pair with itself); one branch per corpus
    // frame, inner equi-join distributes over the union
    val crossCand = corpusBucketFrames.map { cb =>
      deltaKept.alias("d")
        .join(cb.alias("c"), col("d.h") === col("c.h") &&
          col("d.doc_id") =!= col("c.doc_id"))
        .select(least(col("d.doc_id"), col("c.doc_id")).as("doc_a"),
          greatest(col("d.doc_id"), col("c.doc_id")).as("doc_b"))
    }.reduce(_ union _)
    // delta×delta candidates: in-group posting-list expansion, delta
    // only. The bounded collect stays as the buffer guard even though
    // the union cap already pruned the hashes.
    val cand = crossCand.union(cappedPairs(deltaKept, "h")).distinct()
    // candidate-pruned verify sliver (r13, minhash_ab_r13.jsonl): the
    // old form shuffled the FULL corpus's shingle arrays through
    // dropDuplicates to serve a pair-bounded probe. A doc_id in both
    // frames is the SAME document (identical shingles by id semantics) —
    // keep one verify row so the join can't fan out
    sliverVerify(cand, jaccardMin)(ids =>
      corpusSk.select("doc_id", "shingles")
        .union(dSk.select("doc_id", "shingles"))
        .join(ids, Seq("doc_id"), "left_semi")
        .dropDuplicates("doc_id"))
      .select("doc_a", "doc_b", "jaccard")
  }

  /** The INDEXED serve path (VERDICT r13 #7): near-dup pairs of a delta
    * against a corpus whose sketch state is the persisted THREE-table
    * layout of [[persistedCorpusSketch]] — wide sketches `sk`, exploded
    * postings `post(doc_id, h)` BUCKETED BY h, and the per-hash distinct
    * count `hcnt(h, cn)` bucketed by h. Serve-time corpus work is then
    * exchange-free by layout (spec-pinned in DedupSpec):
    *   - bucket cap: the delta's per-h distinct counts LEFT-join `hcnt`
    *     (n = dn + cn, cap 2..64) — only the delta side shuffles to the
    *     bucket layout; corpus-only hashes never produce delta pairs, so
    *     delta-driven kept ≡ the union count of [[incrementalPairs]];
    *   - candidates: deltaKept joins `post` in its bucket partitioning —
    *     the corpus postings NEVER re-shuffle, the r13 sf0.1 finding
    *     (per-serve parquet decode + exchange of wide corpus state) gone;
    *   - verify: unchanged candidate-pruned sliver over `sk`.
    * CONTRACT: frames must be doc_id-DISJOINT (an arriving shard is new
    * documents — the registered split is). Overlapping frames need the
    * general [[incrementalPairs]], whose union count dedups ids.
    * Building the plan runs one Spark job: the delta sketch is pinned
    * ([[graft.CacheRegistry.pin]]) before this returns.
    */
  def incrementalPairsFromIndex(corpusSk: DataFrame, corpusPost: DataFrame,
      corpusHcnt: DataFrame, deltaSk: DataFrame,
      jaccardMin: Double): DataFrame = {
    // pinned, not lazily tracked: the delta sketch feeds several of the
    // serve's exchanges, and AQE's concurrent stage materialization
    // raced the lazy cache into 2-3 full recomputes of the shard's
    // sketch kernel (CacheRegistry.pin scaladoc carries the r18 numbers)
    val dSk = graft.CacheRegistry.pin(deltaSk)
    val deltaBuckets = graft.CacheRegistry.track(sketchPostings(dSk))
    // MERGE (not shuffle-hash): the corpus tables are bucketed AND
    // per-bucket sorted by h, so sort-merge streams them with zero
    // exchange and zero sort while only the delta side aligns; an SHJ
    // here would build a per-task hash map of 1/buckets of all corpus
    // hashes — corpus-scaled executor state for a delta-sized probe
    val kept = deltaBuckets
      .groupBy("h").agg(countDistinct(col("doc_id")).as("dn"))
      .join(corpusHcnt.hint("MERGE"), Seq("h"), "left")
      .filter((col("dn") + coalesce(col("cn"), lit(0L))).between(2, bucketCap))
      .select("h")
    val deltaKept = deltaBuckets.join(kept, "h")
    incrementalVerifyTail(corpusSk, dSk, Seq(corpusPost.hint("MERGE")),
      deltaKept, jaccardMin)
  }

  /** Upsert-then-serve over the persisted sketch state (the
    * [[graft.operators.Similarity.ivfIndexUpsert]] lifecycle applied to
    * the dedup state tables): an absorbed shard's sketches/postings
    * merge with the persisted base IN-PLAN — no state rebuild — and a
    * second arriving delta is scored against the MERGED state. The
    * merge never unions the absorb rows into the persisted frames
    * before joining (that would strip the base's bucket partitioning):
    *   - bucket cap: n = delta distinct + base `hcnt.cn` (MERGE, zero
    *     exchange) + absorb per-h distinct — exact on the contract's
    *     pairwise-disjoint frames;
    *   - candidates: one branch against the bucketed base `post`
    *     (zero exchange) plus one against the absorb's delta-sized
    *     postings — inner equi-join distributes over the union;
    *   - verify: the candidate-pruned sliver over base `sk` ∪ absorb.
    * Output ≡ [[incrementalPairsFromIndex]] over the rebuilt
    * base ∪ absorb state (the registered op's oracle IS that full
    * recompute — upserting moves maintenance cost, never answers). A
    * warehouse deployment compacts the absorbed shard back into the
    * bucket layout on its maintenance cadence; the serve path is what
    * this measures, per the upsert-accounting precedent.
    * Building the plan runs two Spark jobs: the absorb and delta
    * sketches are each pinned ([[graft.CacheRegistry.pin]]) before this
    * returns.
    */
  def incrementalPairsUpsertServe(corpusSk: DataFrame,
      corpusPost: DataFrame, corpusHcnt: DataFrame, absorbSk0: DataFrame,
      deltaSk: DataFrame, jaccardMin: Double): DataFrame = {
    // both shard sketches pinned (see incrementalPairsFromIndex / the
    // CacheRegistry.pin scaladoc): each feeds several exchanges of the
    // merged serve, and the lazy-cache race re-ran the sketch kernels
    val absorbSk = graft.CacheRegistry.pin(absorbSk0)
    val aPost = graft.CacheRegistry.track(sketchPostings(absorbSk))
    val dSk = graft.CacheRegistry.pin(deltaSk)
    val deltaBuckets = graft.CacheRegistry.track(sketchPostings(dSk))
    val an = aPost.groupBy("h").agg(countDistinct(col("doc_id")).as("an"))
    val kept = deltaBuckets
      .groupBy("h").agg(countDistinct(col("doc_id")).as("dn"))
      .join(corpusHcnt.hint("MERGE"), Seq("h"), "left")
      .join(an, Seq("h"), "left")
      .filter((col("dn") + coalesce(col("cn"), lit(0L)) +
        coalesce(col("an"), lit(0L))).between(2, bucketCap))
      .select("h")
    val deltaKept = deltaBuckets.join(kept, "h")
    incrementalVerifyTail(
      corpusSk.select("doc_id", "shingles")
        .unionByName(absorbSk.select("doc_id", "shingles")),
      dSk, Seq(corpusPost.hint("MERGE"), aPost), deltaKept, jaccardMin)
  }

  /** Registered form: the doc_id % 10 = 0 sliver plays the arriving shard,
    * the rest the existing corpus. Oracle = the full MinHash pair query
    * restricted to pairs touching the delta — the equivalence the
    * incremental formulation must (and does) preserve.
    */
  /** The full-recompute oracle both incremental faces share: MinHash
    * pairs over ALL documents restricted to pairs touching the
    * doc_id % 10 = 0 delta. [[incremental]] serves it from the
    * persisted 90% state; [[incrementalUpsert]] from an 80% base that
    * absorbs the % 10 = 1 shard first — same answer by the
    * upsert-≡-rebuild contract (moving maintenance cost never changes
    * answers, the dedup_bloom_bucketed oracle-sharing precedent).
    */
  private val incrementalOracleSql: String =
    s"""SELECT * FROM ($minhashPairsSql)
      |WHERE doc_a % 10 = 0 OR doc_b % 10 = 0""".stripMargin

  val incremental: Op = Op(
    "dedup_incremental",
    incrementalOracleSql,
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    // The corpus sketch table is PERSISTED get-or-build (r13 — the
    // ann_ivf_upsert accounting precedent, VERDICT r12 #4): the op's
    // own contract says the existing corpus's sketches already exist
    // (that IS what makes it incremental), so the one-time corpus
    // sketch build lands in the warehouse on first touch (a bench
    // warmup pass) and timed runs pay only the DELTA-sized sketch scan
    // plus the bucket join — the shingle+md5 sketch work over the 90%
    // corpus side was the op's dominant CPU. sketchTable is
    // deterministic, so the persisted state is bit-identical to an
    // inline build and the full-recompute oracle is unchanged. r14
    // (VERDICT r13 #7): the state is the three-table layout — wide sk
    // plus h-bucketed post/hcnt — and the serve path is
    // incrementalPairsFromIndex, so corpus postings stream from their
    // bucket files with ZERO exchange (spec-pinned in DedupSpec); the
    // registered split is doc_id-disjoint, the FromIndex contract.
    val (corpusSk, corpusPost, corpusHcnt) = persistedCorpusSketch(spark, dir)
    val deltaSk = sketchTable(docs.filter(col("doc_id") % 10 === 0))
    incrementalPairsFromIndex(corpusSk, corpusPost, corpusHcnt, deltaSk, 0.2)
  }

  /** Registered upsert face ([[incrementalPairsUpsertServe]]): the
    * persisted base state covers doc_id % 10 ∉ {0, 1} (80%), the
    * % 10 = 1 shard is ABSORBED in-plan (no rebuild), and the % 10 = 0
    * delta is scored against the merged state. Oracle = the identical
    * full recompute [[incremental]] gates on — absorbing a shard must
    * answer exactly like rebuilding the 90% state from scratch, and
    * the hash gate proves it. Timed cost per the upsert-accounting
    * precedent (ann_ivf_upsert): the one-time 80% base build lands in
    * the warmup; runs pay two shard-sized sketch scans + the serve.
    */
  val incrementalUpsert: Op = Op(
    "dedup_incremental_upsert",
    incrementalOracleSql,
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val (baseSk, basePost, baseHcnt) = persistedCorpusSketch(spark, dir,
      tag = "corpus80", corpusOf = _.filter(col("doc_id") % 10 >= 2))
    incrementalPairsUpsertServe(baseSk, basePost, baseHcnt,
      sketchTable(docs.filter(col("doc_id") % 10 === 1)),
      sketchTable(docs.filter(col("doc_id") % 10 === 0)), 0.2)
  }

  /** Bucket count of the persisted posting layout — matches the local
    * parallelism like Similarity.hotSlices; a cluster sizes it to its
    * executor count at index-build time.
    */
  private[graft] val skBuckets = 32
  /** Get-or-build the persisted sketch state of `dir`'s corpus shard
    * (doc_id % 10 ≠ 0 — the registered split), through the
    * [[graft.TempWarehouse.getOrBuild]] persistence contract.
    *
    * r14 layout (VERDICT r13 #7 — serve joins must not re-shuffle
    * corpus state): THREE tables, the probe-keyed ones bucketed AND
    * per-bucket sorted, one file per bucket
    * ([[graft.TempWarehouse.writeBucketed]]):
    *   - `sk(doc_id, shingles, sketch)` — the wide verify state, both
    *     arrays MD5 digests ([[sketchTable]]);
    *   - `post(doc_id, h)` — exploded postings, bucketBy(h)/sortBy(h);
    *   - `hcnt(h, cn)` — per-hash distinct-doc counts, same layout.
    * The key's version names the `sk` column format: v3 is digest
    * shingles, so a v2 database of gram strings is never read as
    * digests.
    */
  private def persistedCorpusSketch(spark: SparkSession, dir: String,
      tag: String = "corpus90",
      corpusOf: DataFrame => DataFrame = _.filter(col("doc_id") % 10 =!= 0))
      : (DataFrame, DataFrame, DataFrame) = {
    TempWarehouse.getOrBuild(spark, "graft_sk",
        s"$dir|$tag|v3", Seq("sk", "post", "hcnt")) { db =>
      sketchTable(corpusOf(Tables.documents(spark, dir)))
        .write.mode("overwrite").saveAsTable(s"$db.sk")
      TempWarehouse.writeBucketed(sketchPostings(spark.table(s"$db.sk")),
        s"$db.post", skBuckets, "h")
      TempWarehouse.writeBucketed(spark.table(s"$db.post")
        .groupBy("h").agg(countDistinct(col("doc_id")).as("cn")),
        s"$db.hcnt", skBuckets, "h")
    } match { case Seq(sk, post, hcnt) => (sk, post, hcnt) }
  }

  /** Exact substring (duplicated-span) detection — the third classic
    * dedup granularity next to whole-document (dedup_exact) and
    * near-document (MinHash/SimHash): flag every 8-word span that occurs
    * MORE THAN ONCE anywhere in the corpus (including repeats inside one
    * document) and score each document by the fraction of its spans that
    * are duplicated. This is the distributed formulation of
    * suffix-array-based training-data dedup (published as "exact
    * substring deduplication"): a suffix array finds repeated substrings
    * on one machine; at 100 TB the same repeats surface as 8-gram
    * position keys with global occurrence count ≥ 2.
    *
    * Plan shape ([[substringWindowFused]]): (g, doc_id) pre-count with
    * map-side combine, ONE posting exchange by g, sum OVER (partition
    * by g), doc rollup — nothing persisted. The r11 warm-solo A/B
    * (uniform + skew 1000x under one 24g heap, all forms hash-identical;
    * substring_ab_r11.jsonl) measured this window shape best or
    * tied-best on every axis against two retired shapes:
    *   - persisting the exchanged postings and joining per-gram totals
    *     back: loses on cpu both ways, and the cache is ~8× corpus
    *     bytes — at 100 TB that cache IS the spill by another name;
    *   - totals from a second fresh explode joined to the first: the
    *     duplicated explode+scan is ~1.5× the whole window form.
    * The ~6 GB sort spill r10 attributed to the window form was HEAP
    * CONTEXT (an 8g sweep slot), not the plan: the (g, doc_id)
    * pre-count collapses even the skew corpus's hot-template grams
    * map-side (posting stream ≈ distinct pairs). r14 fused the gram
    * pass into one kernel (substring_ab_r14.jsonl).
    *
    * Every aggregate is a long count — bit-exact across engines and
    * parallelism, so the score (one final double division) oracles
    * exactly.
    */
  val substring: Op = Op(
    "dedup_substring",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |pos AS (SELECT doc_id, array_to_string(w[i:i+7], ' ') AS g
      |        FROM w, UNNEST(generate_series(1, len(w)-7)) AS t(i)
      |        WHERE len(w) >= 8),
      |x AS (SELECT g, doc_id, COUNT(*) AS n_local FROM pos GROUP BY g, doc_id),
      |y AS (SELECT g, doc_id, n_local,
      |        SUM(n_local) OVER (PARTITION BY g) AS n_total FROM x)
      |SELECT doc_id,
      |  CAST(SUM(n_local) AS BIGINT) AS n_spans,
      |  CAST(SUM(CASE WHEN n_total >= 2 THEN n_local ELSE 0 END) AS BIGINT) AS n_dup,
      |  CAST(SUM(CASE WHEN n_total >= 2 THEN n_local ELSE 0 END) AS DOUBLE)
      |    / SUM(n_local) AS dup_frac
      |FROM y GROUP BY doc_id""".stripMargin,
  ) { (spark, dir) =>
    substringWindowFused(spark, Tables.documents(spark, dir))
  }

  /** Data-sized partition count for the posting exchange: posting rows
    * are ~avg-words× the document count (an explode), so inheriting
    * spark.sql.shuffle.partitions lets per-partition agg/build state
    * grow with corpus size until it tips into sort-fallback spill. One
    * column-pruned length scan estimates posting rows (bytes/5 ≈ words
    * ≥ grams — deliberate over-count for headroom) without paying the
    * split.
    */
  private[graft] def substringParts(spark: SparkSession, docs: DataFrame): Int = {
    val postEst = Option(docs.agg(
        sum((length(col("text")) / lit(5)).cast("long"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    graft.api.GraftApi.partitionsFor(spark, postEst)
  }

  /** The registered fused form: the per-doc (gram digest, count) rows
    * come pre-collapsed from ONE byte-slice kernel pass
    * ([[graft.functions.ShingleMd5GramCounts]] — no words array, no
    * 8-word gram strings, no per-position explode; the posting exchange
    * carries distinct (g, doc_id) pairs exactly like the window form's
    * post-aggregation stream, with digests as keys per the
    * fusedGramStream injectivity argument). ≡ the composed string
    * window form the specs keep as their reference (ShingleSketchSpec
    * and DedupSpec pin it; substring_ab_r14.jsonl adjudicates the swap).
    */
  private[graft] def substringWindowFused(spark: SparkSession,
      docs: DataFrame): DataFrame = {
    val parts = substringParts(spark, docs)
    substringWindowTail(
      docs.select(col("doc_id"), explode(graft.functions.ShingleSketch
          .shingle_md5_gram_counts(col("text"), 8)).as("p"))
        .select(col("doc_id"), col("p.g").as("g"), col("p.cn").as("n_local"))
        .repartition(parts, col("g")))
  }

  /** Window-form scoring tail over an already-collapsed
    * (g, doc_id, n_local) stream partitioned by g.
    */
  private[graft] def substringWindowTail(local: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = local.withColumn("n_total",
      sum(col("n_local")).over(Window.partitionBy(col("g"))))
    val dupLocal = when(col("n_total") >= 2, col("n_local")).otherwise(lit(0L))
    scored.groupBy("doc_id").agg(
      sum(col("n_local")).cast("long").as("n_spans"),
      sum(dupLocal).cast("long").as("n_dup"),
      (sum(dupLocal).cast("double") / sum(col("n_local"))).as("dup_frac"))
  }

  /** Substring-dedup span REMOVAL — [[substring]] actually applied
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better": exact-substring dedup EXCISES the repeated spans,
    * it does not just score them). A word position is removed when ANY
    * corpus-duplicated 8-gram covers it (grams starting at positions
    * [i-7, i]); output = the document with covered words excised, plus
    * audit counts. Null text ≡ empty document (the house convention),
    * and every document rides through — a strip pass is a corpus
    * TRANSFORMATION, not a report.
    *
    * Scale shape: [[substringStripApply]]. Each retired form lost a
    * warm-solo A/B at uniform+skew 1000x, all forms hash-identical:
    *   - r11 (substring_ab_r11.jsonl): a window over (g, doc) position
    *     lists lost DECISIVELY to a join form (6933/6498 vs 5347/3882
    *     cpu-s) — unlike the scored op, where the pre-count collapses
    *     a hot gram's replicas, the positions ARE the payload and ride
    *     the window sort as array baggage;
    *   - r12 (substring_ab_r12.jsonl): ONE position explode, ONE
    *     posting exchange materialized DISK_ONLY and read by both the
    *     dup-gram count and a co-partitioned probe (3615/2483) beat
    *     the join form's second explode (4691/5628) and a count window
    *     over raw positions (3994/3321);
    *   - r14 (substring_ab_r14.jsonl): the fused kernels made a second
    *     scan cheaper than that DISK_ONLY cache round-trip.
    * The per-doc removed-position set is bounded by the document's own
    * word count — the same order of per-task state as holding the
    * document row itself — and the reconstruction is one codegen'd
    * higher-order filter over the word array (no UDF, no per-row
    * join).
    *
    * r15 straggler adjudication (VERDICT r14 #1): the flagged
    * uniform-1000× task_skew 1802 was the shape-blind op-wide metric —
    * the dominant stage (kernel scan → map-side dup probe → partial
    * covered rollup) is 143 EVEN tasks, stage max/median 1.3–2.2
    * across 8 g/24 g re-records with zero spill; the op-wide median was
    * the ~3×1088 trivial reducer tasks of the data-sized exchanges.
    * Full numbers + the metric fix (per-entry stage_skew) in
    * BASELINE.md's r15 block.
    */
  val substringStrip: Op = Op(
    "dedup_substring_strip",
    """WITH d AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents),
      |pos AS (SELECT doc_id, i, array_to_string(w[i:i+7], ' ') AS g
      |        FROM d, UNNEST(generate_series(1, len(w)-7)) AS t(i)
      |        WHERE len(w) >= 8),
      |dupg AS (SELECT g FROM pos GROUP BY g HAVING COUNT(*) >= 2),
      |cov AS (SELECT DISTINCT doc_id, j
      |        FROM (SELECT doc_id, i FROM pos WHERE g IN (SELECT g FROM dupg)) s,
      |             UNNEST(generate_series(s.i, s.i + 7)) AS u(j)),
      |rml AS (SELECT doc_id, list(j) AS rm FROM cov GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(len(d.w) AS BIGINT) AS n_words,
      |  CAST(COALESCE(len(rml.rm), 0) AS BIGINT) AS n_removed,
      |  COALESCE(array_to_string(list_filter(
      |    list_transform(generate_series(1, len(d.w)),
      |      i -> CASE WHEN rml.rm IS NULL OR NOT list_contains(rml.rm, i) THEN d.w[i] END),
      |    x -> x IS NOT NULL), ' '), '') AS text_stripped
      |FROM d LEFT JOIN rml USING (doc_id)""".stripMargin,
  ) { (spark, dir) =>
    substringStripApply(spark, Tables.documents(spark, dir))
  }

  /** Excise the words covered by any dup-gram start and emit the audit
    * columns — the strip tail. `covered` carries
    * (doc_id, starts: array<int>); the mask expands from starts INSIDE
    * the row (pure codegen, no shuffle): shipping 8×-exploded covered
    * positions instead measured 10.9k cpu-s at uniform-1000x vs ~half
    * as starts.
    */
  private def stripRebuild(d: DataFrame, covered: DataFrame): DataFrame =
    d.join(covered, Seq("doc_id"), "left")
      .withColumn("rm", coalesce(expr(
        "array_distinct(flatten(transform(starts, s -> sequence(s, s + 7))))"),
        expr("cast(array() as array<int>)")))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        size(col("rm")).cast("long").as("n_removed"),
        array_join(expr(
          "filter(w, (x, p) -> NOT array_contains(rm, p + 1))"), " ")
          .as("text_stripped"))

  /** [[substringStrip]]'s library face over any (doc_id, text) frame —
    * the r14 fused form (substring_ab_r14.jsonl): the r12 plan existed
    * to avoid a second gram explode, paying a corpus-sized DISK_ONLY
    * cache of the exploded position stream (~8× corpus bytes written +
    * read back + deserialized — its 1000× cpu was the family's
    * worst). The fused kernels make a second scan
    * cheaper than one cache round-trip: the dup-gram set comes from a
    * [[graft.functions.ShingleMd5GramCounts]] pass (map-side combine
    * into a dup-rate-proportional sliver, SIZE-ADAPTIVE broadcast —
    * the pipeline_curate discipline, shuffled join past the
    * threshold), and the position stream from a
    * [[graft.functions.ShingleMd5GramPositions]] pass joins it
    * MAP-SIDE — per-distinct-gram rows with int-array starts, no
    * per-position rows, no posting exchange, nothing persisted. The
    * only exchange left is the dup-position sliver's groupBy(doc_id).
    */
  def substringStripApply(spark: SparkSession, docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"),
      split(coalesce(col("text"), lit("")), " ").as("w"))
    val dupg = graft.api.GraftApi.adaptiveBroadcast(
      docs.select(explode(graft.functions.ShingleSketch
          .shingle_md5_gram_counts(col("text"), 8)).as("p"))
        .groupBy(col("p.g").as("g")).agg(sum(col("p.cn")).as("n_total"))
        .filter(col("n_total") >= 2).select("g"))
    val covered = docs.select(col("doc_id"),
        explode(graft.functions.ShingleSketch
          .shingle_md5_gram_positions(col("text"), 8)).as("p"))
      .select(col("doc_id"), col("p.g").as("g"), col("p.starts").as("ps"))
      .join(dupg, Seq("g"))
      .groupBy("doc_id").agg(flatten(collect_list(col("ps"))).as("starts"))
    // plain left join for the rebuild: on an organic corpus the covered
    // sliver is dup-rate-proportional and AQE converts the join to a
    // runtime broadcast; on the pathological everything-duplicated
    // corpus (the 1000× amplification) it degrades to sort-merge, which
    // measured CHEAPER than forcing a cache+count+broadcast of a
    // corpus-sized covered set (3854 vs 2388 cpu-s at uniform-1000×)
    stripRebuild(d, covered)
  }

  /** Per-gram occurrence-count table over a corpus: (g, n) — the
    * persisted state [[substringIncrementalScore]] joins deltas
    * against. One gram explode with map-side combine; at warehouse
    * scale this is a maintained table bucketed by g (upserted per
    * arriving shard by adding the shard's own counts), not a recompute.
    */
  private[graft] def substringCountTable(docs: DataFrame): DataFrame =
    docs.select(explode(graft.functions.ShingleSketch
        .shingle_md5_gram_counts(col("text"), 8)).as("p"))
      .groupBy(col("p.g").as("g")).agg(sum(col("p.cn")).as("n"))

  /** Incremental face of [[substring]] (the dedup_incremental
    * discipline applied to the substring family — r11 verdict ask #6):
    * score ONLY the arriving delta's documents, shuffling ONLY the
    * delta's grams, against a corpus represented by its persisted
    * per-gram count table. A delta gram's global total =
    * corpus count (0 when absent) + the delta's own per-gram total
    * (delta-vs-delta duplication — two arriving docs sharing a new
    * gram, or one doc repeating it, must count even though the corpus
    * has never seen the gram). That sum is exactly the full
    * recompute's per-gram count over corpus ∪ delta, so the scores
    * equal [[substring]] over the union restricted to delta docs —
    * DedupSpec proves the equivalence, the DuckDB oracle recomputes it
    * from scratch.
    *
    * Plan: delta grams explode once, repartition(g) (parts sized by
    * the caller — corpus-scale when the count table is comparable to
    * the corpus), (g, doc_id) pre-count with map-side combine, the
    * scored op's window trick for the delta-side totals (the window
    * sorts the DELTA's distinct pairs only), then one left
    * shuffled-hash join against the count table and the per-doc
    * rollup. Nothing about the corpus is exploded or re-scanned beyond
    * its count table.
    */
  private[graft] def substringIncrementalScore(corpusCounts: DataFrame,
      delta: DataFrame, parts: Int,
      corpusHint: String = "SHUFFLE_HASH"): DataFrame =
    substringIncrementalScoreMulti(Seq((corpusCounts, corpusHint)),
      delta, parts)

  /** [[substringIncrementalScore]] over SEVERAL count frames — the
    * upsert serve: a delta gram's global total = Σ count-frame totals
    * (0 where absent) + the delta's own total. Frames join as SEPARATE
    * branches (the incrementalPairsUpsertServe discipline: unioning a
    * fresh shard's counts into the persisted table before the join
    * would strip the bucketed side's zero-exchange layout), each with
    * its own hint. Exact on any frames whose underlying doc sets are
    * pairwise disjoint with each other and the delta — the registered
    * % 10 splits are.
    */
  private[graft] def substringIncrementalScoreMulti(
      countFrames: Seq[(DataFrame, String)],
      delta: DataFrame, parts: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r14: both sides of the count join moved to gram DIGESTS together
    // (substringCountTable above and this delta stream — the
    // fusedGramStream injectivity argument; the gc warehouse tag bumped
    // so a digest-keyed serve can never probe a string-keyed table).
    // The kernel emits the (g, cn) rows pre-collapsed, so the old
    // explode → groupBy(g, doc_id) pair disappears.
    val local = delta.select(col("doc_id"),
        explode(graft.functions.ShingleSketch
          .shingle_md5_gram_counts(col("text"), 8)).as("p"))
      .select(col("doc_id"), col("p.g").as("g"), col("p.cn").as("n_local"))
      .repartition(parts, col("g"))
    val withDelta = local.withColumn("delta_total",
      sum(col("n_local")).over(Window.partitionBy(col("g"))))
    // hints: SHUFFLE_HASH for an inline count frame (both sides
    // exchange once, corpus builds the per-partition map); MERGE when
    // the counts come from the PERSISTED bucketBy(g)+sortBy(g) table —
    // sort-merge then streams the corpus buckets with zero exchange
    // and zero sort while only the delta side aligns (an SHJ would
    // build corpus-scaled per-task maps for a delta-sized probe)
    val joined = countFrames.zipWithIndex.foldLeft(withDelta) {
      case (df, ((cf, hint), i)) =>
        df.join(cf.withColumnRenamed("n", s"corpus_n_$i").hint(hint),
          Seq("g"), "left")
    }
    val corpusSum = countFrames.indices
      .map(i => coalesce(col(s"corpus_n_$i"), lit(0L)))
      .reduce(_ + _)
    val scored = joined.withColumn("n_total", corpusSum + col("delta_total"))
    substringRollup(scored,
      when(col("n_total") >= 2, col("n_local")).otherwise(lit(0L)))
  }

  /** The per-doc (n_spans, n_dup, dup_frac) rollup over any frame
    * carrying (doc_id, n_local) and a dup-mass column — ONE copy of
    * the scoring contract the incremental and streaming faces share
    * (their spec-pinned equivalence would silently break if two
    * inlined aggregates drifted).
    */
  private[graft] def substringRollup(df: DataFrame,
      dupLocal: Column): DataFrame =
    df.groupBy("doc_id").agg(
      sum(col("n_local")).cast("long").as("n_spans"),
      sum(dupLocal).cast("long").as("n_dup"),
      (sum(dupLocal).cast("double") / sum(col("n_local"))).as("dup_frac"))

  /** Registered form: doc_id % 10 = 0 plays the arriving shard against
    * the rest as corpus (the dedup_incremental split convention).
    * Oracle = the full substring-score recompute over ALL documents
    * restricted to delta docs — the equivalence the incremental
    * formulation must (and does) preserve.
    */
  val substringIncremental: Op = Op(
    "dedup_substring_incremental",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |pos AS (SELECT doc_id, array_to_string(w[i:i+7], ' ') AS g
      |        FROM w, UNNEST(generate_series(1, len(w)-7)) AS t(i)
      |        WHERE len(w) >= 8),
      |x AS (SELECT g, doc_id, COUNT(*) AS n_local FROM pos GROUP BY g, doc_id),
      |y AS (SELECT g, doc_id, n_local,
      |        SUM(n_local) OVER (PARTITION BY g) AS n_total FROM x)
      |SELECT doc_id,
      |  CAST(SUM(n_local) AS BIGINT) AS n_spans,
      |  CAST(SUM(CASE WHEN n_total >= 2 THEN n_local ELSE 0 END) AS BIGINT) AS n_dup,
      |  CAST(SUM(CASE WHEN n_total >= 2 THEN n_local ELSE 0 END) AS DOUBLE)
      |    / SUM(n_local) AS dup_frac
      |FROM y WHERE doc_id % 10 = 0 GROUP BY doc_id""".stripMargin,
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    // partition sizing reads the FULL table: the count-table join's
    // build side is corpus-scale, so delta-sized partitions would
    // concentrate corpus grams into too few hash maps
    val parts = substringParts(spark, docs)
    // r14: the corpus count table is the PERSISTED bucketed state its
    // own scaladoc always declared (the dedup_incremental three-table
    // precedent) — built once per corpus, MERGE-probed with zero
    // corpus-side exchange (spec-pinned in DedupSpec); only the
    // delta's grams explode and shuffle at serve time
    substringIncrementalScore(
      persistedGramCounts(spark, dir),
      docs.filter(col("doc_id") % 10 === 0), parts, corpusHint = "MERGE")
  }

  /** Get-or-build the persisted per-gram count table of `dir`'s corpus
    * shard (doc_id % 10 ≠ 0 — the registered split): `gc(g, n)`
    * bucketBy([[skBuckets]], g) + sortBy(g), one file per bucket
    * (repartition before write) so serve-time MERGE joins stream it
    * with zero exchange and zero sort. Same persistence contract as
    * [[persistedCorpusSketch]]; a warehouse deployment upserts it per
    * arriving shard by adding the shard's own counts.
    */
  private def persistedGramCounts(spark: SparkSession, dir: String,
      tag: String = "corpus90",
      corpusOf: DataFrame => DataFrame = _.filter(col("doc_id") % 10 =!= 0))
      : DataFrame =
    TempWarehouse.getOrBuild(spark, "graft_gc", s"$dir|$tag|gc|v2digest",
        Seq("gc")) { db =>
      TempWarehouse.writeBucketed(
        substringCountTable(corpusOf(Tables.documents(spark, dir))),
        s"$db.gc", skBuckets, "g")
    }.head

  /** Absorb-back face of the substring family (completing its
    * lifecycle — batch score, strip, incremental, streaming, UPSERT —
    * the way [[paragraphUpsert]] and [[incrementalUpsert]] did for
    * their families): the persisted gram-count base covers
    * doc_id % 10 ∉ {0, 1} (80%), the % 10 = 1 shard's gram counts are
    * ABSORBED in-plan (shard-sized kernel scan, no state rebuild), and
    * the % 10 = 0 delta scores against the merged totals. The
    * maintenance-cadence compaction back into the bucketed gc is
    * [[compactCountState]] (n is additive — one keyed merge,
    * spec-proven ≡ rebuild and single-branch-serve-equivalent); the
    * serve path is what this op measures. Oracle =
    * the identical full recompute [[substringIncremental]] gates on —
    * absorbing a shard must score exactly like rebuilding the 90%
    * count table, and the hash gate proves it (DedupSpec additionally
    * pins upsert ≡ rebuild at the frame level and the base gc's
    * zero-exchange plan beside the absorb branch).
    */
  /** Maintenance-cadence compaction of absorbed shard counts back into
    * the bucketed count-state layout — the job the upsert faces'
    * scaladocs name: both state shapes ((g, n) gram counts and (h, n)
    * paragraph-hash counts) are ADDITIVE, so the merge is one keyed
    * union-sum rewritten bucketBy(keyCol)/sortBy(keyCol) with the
    * single-file-bucket repartition (the persisted-state contract), and
    * the lifecycle closes: absorb in-plan (shard-sized, serve-time) →
    * compact (this, off the serve path) → serve from ONE zero-exchange
    * branch again. `targetTable` is a qualified table name; the write
    * replaces it. Exact for doc-disjoint shards by additivity — the
    * compacted table is bit-identical to a from-scratch rebuild over
    * base ∪ shard (DedupSpec pins both that identity and that the
    * single-branch serve over the compacted state equals the two-branch
    * upsert serve).
    */
  def compactCountState(spark: SparkSession, base: DataFrame,
      absorb: DataFrame, keyCol: String, targetTable: String): DataFrame = {
    TempWarehouse.writeBucketed(base.select(col(keyCol), col("n"))
      .unionByName(absorb.select(col(keyCol), col("n")))
      .groupBy(keyCol).agg(sum(col("n")).as("n")),
      targetTable, skBuckets, keyCol)
    spark.table(targetTable)
  }

  val substringUpsert: Op = Op(
    "dedup_substring_upsert",
    substringIncremental.oracle.get,
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val parts = substringParts(spark, docs)
    val base = persistedGramCounts(spark, dir, tag = "corpus80",
      corpusOf = _.filter(col("doc_id") % 10 >= 2))
    val absorb = substringCountTable(docs.filter(col("doc_id") % 10 === 1))
    substringIncrementalScoreMulti(
      Seq((base, "MERGE"), (absorb, "SHUFFLE_HASH")),
      docs.filter(col("doc_id") % 10 === 0), parts)
  }

  /** Bloom-prefiltered membership dedup of an arriving shard: which delta
    * documents are content-new vs already present in the corpus? The
    * EXACT answer is the anti-join on text; the scale problem is that a
    * naive anti-join shuffles the ENTIRE delta against the corpus. This
    * operator builds a corpus bloom filter (Spark's own sketch — the one
    * Catalyst injects for runtime row-level filtering) over xxhash64 of
    * the content, then:
    *   - `!might_contain` rows are PROVEN new (blooms have no false
    *     negatives) — they skip the join entirely;
    *   - `might_contain` rows (true dups + ~3% false positives, a
    *     sliver when most arriving content is new) pay the exact
    *     anti-join verify.
    * Output = proven-new ∪ verified-new ≡ the plain anti-join, exactly —
    * the bloom moves cost, never answers. The filter bytes ride to
    * executors as a one-row literal (~1.2 bytes/expected item; the same
    * shape as a DPP subquery result), built by a single-scalar collect —
    * the addIndex-class driver action, not a data collect.
    */
  def bloomNewDocs(corpus: DataFrame, delta: DataFrame,
      expectedItems: Long): DataFrame = {
    import graft.functions.bloom._
    // Sizing contract (the indexBy treatment — fail fast, not OOM): the
    // filter costs ~1.2 bytes per expected item and rides to executors
    // as one literal, so the corpus cardinality it can sketch tops out
    // around 2e8 (~240 MB). Past that, use the plain anti-join (the
    // bloom only moves cost, the join is always the answer) or
    // per-bucket filters joined on a bucket key.
    require(expectedItems <= 200000000L,
      s"bloomNewDocs: expectedItems=$expectedItems exceeds the one-literal " +
        "bloom contract (~2e8 items / ~240 MB); use the plain anti-join or " +
        "bucketed per-range filters at this corpus cardinality")
    val key = xxhash64(col("text"))
    val bytes = corpus.select(bloom_filter_agg(key, expectedItems).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    if (bytes == null) {
      // empty corpus: BloomFilterAggregate evaluates to NULL over zero
      // rows, and filtering on a NULL sketch would drop every delta row —
      // the bootstrap/first-shard answer is that ALL delta docs are new
      delta.select(col("doc_id"), md5(col("text")).as("content_hash"))
    } else {
      val provenNew = delta.filter(!might_contain(bytes, key))
      // null text ⇒ null key ⇒ null probe: route through the exact verify
      // join (null never matches ⇒ kept new, the anti-join's own answer)
      // instead of silently dropping the row from both branches
      val maybeDup = delta.filter(coalesce(might_contain(bytes, key), lit(true)))
      // anti-join needs EXISTENCE, not multiplicity — distinct the corpus
      // projection so a hot text value (a template at 90% of a skewed
      // corpus) collapses map-side in the partial aggregate instead of
      // landing millions of identical rows in one join partition; the
      // join reuses the distinct's hash partitioning on text, so this
      // costs one agg pass, not a second shuffle
      val verifiedNew = maybeDup.join(
        corpus.select(col("text").as("c_text")).distinct(),
        col("text") === col("c_text"), "left_anti")
      provenNew.unionByName(verifiedNew)
        .select(col("doc_id"), md5(col("text")).as("content_hash"))
    }
  }

  /** Bucketed bloom membership — [[bloomNewDocs]] past the one-literal
    * contract. The corpus is split into `buckets` ranges of the SAME
    * content hash the filter probes (text equality ⇒ same xxhash64 ⇒
    * same bucket), one bloom filter per bucket, built in ONE keyed
    * aggregation pass. Each delta row probes only its own bucket's
    * filter, and each maybe-dup verifies against only its own corpus
    * bucket — per-task memory is bounded by that task's BUCKETS'
    * filters (the one-literal contract applies per bucket), so corpus
    * cardinality scales to buckets × 2e8.
    *
    * Residency mechanics (r13 — this is what makes the per-task claim
    * TRUE, where the r8-r12 literal-map form shipped every bucket's
    * filter in the plan closure to the driver and every task):
    *
    *  - the filters stay a distributed `(bkt, bf)` frame; the corpus
    *    rows are first projected to `(bkt, key)` slivers and hash-
    *    repartitioned by `bkt`, so each build task's aggregation
    *    buffers hold only ITS buckets' bit arrays (an un-partitioned
    *    groupBy would make every map task's partial buffers hold ALL
    *    buckets — the same total-residency problem on the build side);
    *  - delta meets its bucket's filter through a bucket-keyed
    *    SHUFFLE-HASH join (hinted: a broadcast of the filter frame
    *    would re-ship every filter to every executor, re-creating the
    *    literal map's footprint), so a task carries exactly the filter
    *    bytes of the buckets hash-routed to it;
    *  - [[graft.functions.bloom.might_contain_keyed]] evaluates the
    *    `bf` column LAZILY, once per bucket per task — a per-row read
    *    would also copy the filter bytes out of the UnsafeRow per row;
    *  - the probed delta is materialized once (DISK_ONLY, the shared-
    *    stage discipline) and read by both branches, so the join and
    *    the corpus filter build run once, exactly like the retired
    *    collect() form's single build job.
    *
    * The probe-branch shapes are unchanged from [[bloomNewDocs]]:
    * !probe rows are PROVEN new (a bucket absent from the corpus frame
    * proves absence too — the outer join leaves `bf` null and the
    * probe answers false); probe-positive rows pay the exact anti-join
    * keyed on text alone (same hash ⇒ same bucket), with the DISTINCT
    * build side collapsing hot template values map-side.
    *
    * If `corpus`/`delta` already carry a `bkt` column (a partitioned
    * layout), it is trusted and must equal pmod(xxhash64(text), buckets).
    */
  def bloomNewDocsBucketed(corpus: DataFrame, delta: DataFrame,
      expectedItemsPerBucket: Long, buckets: Int,
      verifyHashes: Option[DataFrame] = None): DataFrame = {
    val corpusB = withTextBkt(corpus, buckets)
    val probed = graft.CacheRegistry.track(
      bloomBucketedProbedPlan(corpusB, withTextBkt(delta, buckets),
        expectedItemsPerBucket, buckets),
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val provenNew = probed.filter(!col("_maybe"))
    val verifiedNew = verifiedNewByHash(
      probed.filter(coalesce(col("_maybe"), lit(true))),
      Seq(verifyHashes.getOrElse(contentHashes(corpusB))))
    provenNew.unionByName(verifiedNew)
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
  }

  /** The (k = md5(text)) content-key relation of a corpus — the exact
    * verify side of the bloom family's anti-join. Hash keys, never raw
    * text (VERDICT r15 #2): the verify then exchanges 32-byte digests
    * instead of whole documents, and the persisted form
    * ([[persistedContentHashes]]) rides its bucketed layout with zero
    * exchange. Identical answers by the family's declared md5-injective
    * contract (dedup_exact's grouping key). Null texts drop — a null
    * never matches the text anti-join either.
    */
  def contentHashes(docs: DataFrame): DataFrame =
    docs.select(md5(col("text")).as("k"))
      .filter(col("k").isNotNull).distinct()

  /** The exact-verify tail shared by the bucketed and upsert bloom
    * serves: maybe-dup rows anti-join on the md5 content key against
    * each verify-hash frame IN SEQUENCE (persisted base state first,
    * then absorbed-shard slivers) — sequential anti-joins, not a
    * union of the hash frames, because unioning a fresh sliver into
    * the persisted table's frame would strip the bucketed
    * zero-exchange layout off the state side.
    */
  private def verifiedNewByHash(maybe: DataFrame,
      verifyHashes: Seq[DataFrame]): DataFrame = {
    val keyed = maybe.withColumn("_k", md5(col("text")))
    verifyHashes.foldLeft(keyed) { (acc, vh) =>
      acc.join(vh, acc("_k") === vh("k"), "left_anti")
    }.drop("_k")
  }

  /** Partition count for the per-bucket filter build AND the probe
    * join: max(buckets, session shuffle partitions). With the session
    * default alone, buckets >> partitions would leave each task holding
    * ceil(buckets/partitions) filters (~240 MB each at the 2e8
    * contract) in its agg buffers and join build map — a silent OOM at
    * exactly the scales the 65536 ceiling advertises. At parts >=
    * buckets a task holds the filters hash-routed to it: O(1) expected,
    * O(log b / log log b) worst-case collisions.
    */
  private def bloomProbeParts(df: DataFrame, buckets: Int): Int =
    math.max(buckets, df.sparkSession.sessionState.conf.numShufflePartitions)

  /** One corpus pass → the per-bucket filter frame (bkt, bf) — the
    * build stage shared by [[bloomBucketedProbedPlan]], the persisted
    * bloom state, and the upsert's shard side. The pre-agg repartition
    * by bkt bounds each build task's aggregation buffers to ITS
    * buckets' bit arrays (see [[bloomProbeParts]]).
    */
  private[graft] def bloomBucketFilters(corpusB: DataFrame,
      expectedItemsPerBucket: Long, parts: Int): DataFrame = {
    import graft.functions.bloom._
    corpusB.select(col("bkt"), xxhash64(col("text")).as("k"))
      .repartition(parts, col("bkt"))
      .groupBy("bkt")
      .agg(bloom_filter_agg(col("k"), expectedItemsPerBucket).as("bf"))
  }

  /** `pmod(xxhash64(text), buckets)` as `bkt` — unless the frame already
    * carries a trusted layout's `bkt`, which reads back as INT from
    * partitionBy directories and is widened to long so the strict
    * LongType probe contract (might_contain_keyed's inputTypes) holds
    * for both origins.
    */
  private[graft] def withTextBkt(df: DataFrame, buckets: Int): DataFrame =
    if (df.columns.contains("bkt")) df.withColumn("bkt", col("bkt").cast("long"))
    else df.withColumn("bkt",
      pmod(xxhash64(col("text")), lit(buckets.toLong)))

  /** The un-persisted probe stage of [[bloomNewDocsBucketed]] (split out
    * so specs can pin its plan shape — the registered op persists it,
    * and explain output hides a cached stage behind InMemoryRelation):
    * delta rows joined to their bucket's filter and stamped with the
    * `_maybe` probe verdict. Inputs must already carry `bkt`.
    */
  private[graft] def bloomBucketedProbedPlan(corpusB: DataFrame,
      deltaB: DataFrame, expectedItemsPerBucket: Long,
      buckets: Int): DataFrame = {
    import graft.functions.bloom._
    require(buckets >= 1 && buckets <= 65536,
      s"bloomNewDocsBucketed: buckets=$buckets out of range [1, 65536]")
    require(expectedItemsPerBucket <= 200000000L,
      s"bloomNewDocsBucketed: expectedItemsPerBucket=$expectedItemsPerBucket " +
        "exceeds the per-bucket one-literal contract (~2e8); add buckets")
    val key = xxhash64(col("text"))
    val parts = bloomProbeParts(corpusB, buckets)
    val filters = bloomBucketFilters(corpusB, expectedItemsPerBucket, parts)
    // bucket-keyed shuffle join + lazy per-task deser probe; the outer
    // join keeps empty-bucket delta rows (bf null ⇒ probe false ⇒
    // proven new). NULL-probe rows (null text ⇒ null key; or a TRUSTED
    // caller layout carrying a null bkt ⇒ join miss with a null probe
    // input) must not fall through both branches and vanish: route
    // them into the exact verify join, where a null text never matches
    // the corpus and is correctly kept new — identical to the plain
    // anti-join's NOT EXISTS semantics
    deltaB.repartition(parts, col("bkt"))
      .join(filters.hint("shuffle_hash"), Seq("bkt"), "left_outer")
      .withColumn("_maybe", might_contain_keyed(col("bkt"), col("bf"), key))
      .drop("bf")
  }

  /** Registered form: doc_id % 10 = 0 is the arriving shard (same split
    * convention as dedup_incremental); oracle = the plain NOT EXISTS.
    */
  val bloomNew: Op = Op(
    "dedup_bloom_new",
    """SELECT d.doc_id, md5(d.text) AS content_hash
      |FROM documents d
      |WHERE d.doc_id % 10 = 0
      |  AND NOT EXISTS (SELECT 1 FROM documents c
      |                  WHERE c.doc_id % 10 <> 0 AND c.text = d.text)""".stripMargin,
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    bloomNewDocs(docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0), expectedItems = 100000L)
  }

  /** Paragraph-level dedup core (the CCNet/RefinedWeb pass — Wenzek et
    * al. 2020; VERDICT r13 #5) over any (doc_id, paras: array<string>)
    * frame: hash-normalize each paragraph (md5 of lowercase), drop
    * every paragraph whose hash occurs ≥ 2× CORPUS-WIDE (all copies go
    * — the spec's definition, stricter than keep-first), reconstruct
    * the text from the kept paragraphs in order, and emit audit counts.
    * The document-structure-aware sibling of the substring family:
    * whole duplicated boilerplate paragraphs SHORTER than an 8-gram
    * span are invisible to [[substringStrip]] but exact hits here.
    *
    * Scale shape is the r12 strip plan's (see [[substringStrip]]), one
    * granularity up:
    * the (doc_id, p, h) paragraph stream — words/12, not words, rows —
    * is exchanged by h ONCE and materialized DISK_ONLY (caller
    * drains); the dup-hash set aggregates over those blocks with no
    * further exchange, the probe is a co-partitioned shuffled-hash
    * join back over the SAME blocks, and only the dup-rate-
    * proportional removed-(doc, p) sliver ever aggregates by doc_id —
    * size-adaptively broadcast into the corpus scan, which itself
    * never shuffles. Reconstruction is one codegen'd indexed filter
    * over the paragraph array (no UDF, no per-row join). The strip
    * family's retire-the-cache play was TRIED here and lost (r14:
    * building the hash stream twice with a map-side dup probe read
    * 1311 → 1511 cpu-s at uniform-1000× — this stream is 12× smaller
    * than strip's and its hash projection has no fused kernel, so one
    * cache round-trip beats building it twice).
    */
  private[graft] def paragraphDedupFrame(spark: SparkSession,
      withParas: DataFrame, joiner: String,
      rowEstimate: Option[Long] = None): DataFrame = {
    val d = withParas.withColumn("nb", size(col("paras")).cast("long"))
    val stream = d.filter(col("nb") > 0)
      .select(col("doc_id"),
        posexplode(expr("transform(paras, t -> md5(lower(t)))")))
      .select(col("doc_id"), col("pos").as("p"), col("col").as("h"))
    // partition sizing: callers pass a CHEAP estimate (text length
    // / ~chars-per-paragraph, the substringParts discipline) — the
    // fallback sum(nb) is exact but evaluates the paras
    // construction corpus-wide just to count it (small-frame path)
    val est = rowEstimate.getOrElse(
      Option(d.agg(sum(col("nb"))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L))
    val parts = graft.api.GraftApi.partitionsFor(spark, est)
    val keyed = graft.CacheRegistry.track(
      stream.repartition(parts, col("h")),
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val duph = keyed.groupBy("h").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("h")
    val removed = keyed.join(duph.hint("SHUFFLE_HASH"), Seq("h"))
      .groupBy("doc_id").agg(collect_set(col("p")).as("rm0"))
    d.join(graft.api.GraftApi.adaptiveBroadcast(removed),
        Seq("doc_id"), "left")
      .withColumn("rm", coalesce(col("rm0"),
        expr("cast(array() as array<int>)")))
      .select(col("doc_id"), col("nb").as("n_paras"),
        size(col("rm")).cast("long").as("n_removed"),
        array_join(expr("filter(paras, (x, i) -> NOT array_contains(rm, i))"),
          joiner).as("text_depara"))
  }

  /** The real-corpus face: paragraphs are newline-delimited segments
    * (CCNet's own boundary), rejoined by newline. The driver corpus
    * carries no newlines (TESTDATA), so the REGISTERED op instead
    * segments into fixed 12-word pseudo-paragraphs — see
    * [[paragraphDedup]]; this face is what a crawl corpus calls.
    */
  def paragraphDedupByNewline(spark: SparkSession,
      docs: DataFrame): DataFrame =
    paragraphDedupFrame(spark,
      docs.select(col("doc_id"),
        split(coalesce(col("text"), lit("")), "\n").as("paras")),
      "\n", rowEstimate = Some(paragraphEstimate(docs)))

  /** Cheap paragraph-stream row estimate for partition sizing — one
    * length() scan, never the paras construction (~60 chars ≈ one
    * 12-word pseudo-paragraph; a crawl paragraph is the same order).
    */
  private def paragraphEstimate(docs: DataFrame): Long =
    Option(docs.agg(
        sum((length(coalesce(col("text"), lit(""))) / lit(60)).cast("long")))
      .head().get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)

  /** Registered form: 12-word non-overlapping pseudo-paragraphs (the
    * corpus-adapted segmentation — rejoining blocks by space is
    * lossless over the word sequence), dropped when their normalized
    * hash repeats corpus-wide. Null text ≡ empty document: zero
    * paragraphs, empty reconstruction, the row rides through.
    */
  val paragraph: Op = Op(
    "dedup_paragraph",
    """WITH d AS (SELECT doc_id,
      |    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS w
      |  FROM documents),
      |b AS (SELECT doc_id, w, CAST(ceil(len(w) / 12.0) AS BIGINT) AS nb FROM d),
      |paras AS (
      |  SELECT doc_id, t.p,
      |    md5(lower(array_to_string(w[(t.p*12+1):(t.p*12+12)], ' '))) AS h
      |  FROM b, UNNEST(generate_series(0, nb - 1)) AS t(p)),
      |duph AS (SELECT h FROM paras GROUP BY h HAVING COUNT(*) >= 2),
      |rml AS (SELECT doc_id, list(p) AS rm FROM paras
      |        WHERE h IN (SELECT h FROM duph) GROUP BY doc_id)
      |SELECT b.doc_id, b.nb AS n_paras,
      |  CAST(COALESCE(len(rml.rm), 0) AS BIGINT) AS n_removed,
      |  COALESCE(array_to_string(flatten(list_filter(
      |    list_transform(generate_series(0, b.nb - 1),
      |      p -> CASE WHEN rml.rm IS NULL OR NOT list_contains(rml.rm, p)
      |           THEN b.w[(p*12+1):(p*12+12)] END),
      |    x -> x IS NOT NULL)), ' '), '') AS text_depara
      |FROM b LEFT JOIN rml USING (doc_id)""".stripMargin,
  ) { (spark, dir) =>
    paragraphDedupFrame(spark,
      pseudoParas(Tables.documents(spark, dir)), " ",
      rowEstimate = Some(paragraphEstimate(Tables.documents(spark, dir))))
  }

  /** The registered 12-word pseudo-paragraph segmentation (single-
    * sourced: the op, the upsert, and specs share it — the oracle
    * mirrors it with w[(p*12+1):(p*12+12)] slices).
    */
  private[graft] def pseudoParas(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        expr("filter(split(coalesce(text, ''), ' '), x -> x != '')").as("w"))
      .select(col("doc_id"),
        // barrier: the `nb > 0` participation gate downstream otherwise
        // pushdown-clones this whole segmentation (split + filter +
        // per-block array_join) into its filter condition — the scan
        // stage then segments every document twice (r17 Condition
        // audit; see functions.OptimizerBarrier)
        graft.functions.OptimizerBarrier.barrier(expr(
          "transform(if(size(w) > 0, " +
            "sequence(0L, cast(ceil(size(w) / 12.0) as bigint) - 1), " +
            "cast(array() as array<bigint>)), " +
            "p -> array_join(slice(w, cast(p * 12 + 1 as int), 12), ' '))"))
        .as("paras"))

  /** The corpus-side paragraph-hash count table of the paragraph-dedup
    * lifecycle — (h, n) over a (doc_id, paras) frame; persist
    * `bucketBy(h)` at scale. Consumed by the streaming admission
    * (EventStreams.paragraphDedupStream), the persisted state builder,
    * and the absorb side of [[paragraphUpsert]].
    */
  def paragraphHashCounts(withParas: DataFrame): DataFrame =
    withParas
      .select(explode(expr("transform(paras, x -> md5(lower(x)))")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("n"))

  /** Get-or-build the persisted paragraph-hash state of `dir`'s corpus
    * shard — the [[persistedCorpusSketch]] contract applied to the
    * paragraph family: deterministic build, bucketBy(h)/sortBy(h) with
    * a pre-bucket repartition so each bucket is ONE file (Spark only
    * trusts bucket order on single-file buckets) and admission probes
    * MERGE-join with zero state-side exchange.
    */
  private def persistedParagraphHashes(spark: SparkSession, dir: String,
      tag: String,
      corpusOf: DataFrame => DataFrame): DataFrame =
    TempWarehouse.getOrBuild(spark, "graft_ph", s"$dir|para|$tag|v1",
        Seq("hn")) { db =>
      TempWarehouse.writeBucketed(
        paragraphHashCounts(pseudoParas(corpusOf(Tables.documents(spark, dir)))),
        s"$db.hn", skBuckets, "h")
    }.head

  /** CCNet paragraph ADMISSION of an arriving doc frame against the
    * persisted corpus paragraph-hash state, with an optional
    * just-absorbed shard — the batch face of
    * EventStreams.paragraphDedupStream (same per-paragraph drop rule:
    * corpus count + within-doc multiplicity ≥ 2, i.e. the batch
    * corpus-wide rule over corpus ∪ {doc}), in the absorb/serve shape of
    * [[incrementalPairsUpsertServe]]. The base probe is a left-semi
    * MERGE join riding the bucketed state's layout (zero state-side
    * exchange); the absorbed shard's fresh counts probe as a SEPARATE
    * branch — unioning them into the base first would strip the
    * persisted side's bucket partitioning and re-shuffle corpus-sized
    * state for a shard-sized merge. Only the dup-rate-proportional hit
    * sliver ever aggregates by doc_id, size-adaptively broadcast back
    * into the arriving scan; reconstruction is one codegen'd indexed
    * filter over the paragraph array.
    */
  def paragraphAdmitServe(baseHashes: DataFrame,
      absorbHashes: Option[DataFrame], withParas: DataFrame,
      joiner: String): DataFrame = {
    val d = graft.CacheRegistry.track(withParas
      .withColumn("hs", expr("transform(paras, x -> md5(lower(x)))"))
      .withColumn("sh", expr("array_sort(hs)"))
      // within-doc multiplicity in-row (the paragraphDedupStream trick):
      // sorted-adjacent twins name the duplicated-hash set without an
      // O(n_paras²) rescan
      .withColumn("dups", expr(
        "array_distinct(filter(sh, (x, i) -> i > 0 AND sh[i - 1] = x))"))
      .drop("sh"))
    val probe = d.select(col("doc_id"),
      explode(expr("array_distinct(hs)")).as("h"))
    val hitRows = (Seq(
        probe.join(baseHashes.select("h").hint("MERGE"), Seq("h"), "left_semi")) ++
      absorbHashes.map(a =>
        probe.join(a.select("h"), Seq("h"), "left_semi")))
      .reduce(_ unionByName _)
    val hits = hitRows.groupBy("doc_id")
      .agg(collect_set(col("h")).as("corp_hits"))
    d.join(graft.api.GraftApi.adaptiveBroadcast(hits), Seq("doc_id"), "left")
      .withColumn("ch", coalesce(col("corp_hits"),
        expr("cast(array() as array<string>)")))
      .select(col("doc_id"),
        size(col("paras")).cast("long").as("n_paras"),
        expr("size(filter(hs, x -> array_contains(ch, x)" +
          " OR array_contains(dups, x)))").cast("long").as("n_removed"),
        array_join(expr("filter(paras, (x, i) -> NOT (array_contains(ch, hs[i])" +
          " OR array_contains(dups, hs[i])))"), joiner).as("text_depara"))
  }

  /** Absorb-back face of the paragraph family (VERDICT r14 #6 — the
    * lifecycle [[incrementalUpsert]] gave MinHash, completing batch +
    * streaming-admission + upsert): the persisted base state covers
    * doc_id % 10 ∉ {0, 1} (80%), the % 10 = 1 shard's paragraph hashes
    * are ABSORBED in-plan (no state rebuild), and the % 10 = 0 arriving
    * docs are admitted against the merged state — each emitted with its
    * known-boilerplate paragraphs excised, the dedup_paragraph output
    * shape restricted to the arrivals. Oracle = the full recompute
    * (corpus hashes from ALL % 10 ≠ 0 docs): absorbing a shard must
    * admit exactly like rebuilding the 90% state, and the hash gate
    * proves it (DedupSpec additionally pins serve-from-absorb ≡
    * serve-from-rebuilt at the frame level). Maintenance-cadence
    * compaction of the absorbed hashes back into the bucketed layout
    * is [[compactCountState]].
    */
  val paragraphUpsert: Op = Op(
    "dedup_paragraph_upsert",
    """WITH d AS (SELECT doc_id,
      |    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS w
      |  FROM documents),
      |b AS (SELECT doc_id, w, CAST(ceil(len(w) / 12.0) AS BIGINT) AS nb FROM d),
      |paras AS (
      |  SELECT doc_id, t.p,
      |    md5(lower(array_to_string(w[(t.p*12+1):(t.p*12+12)], ' '))) AS h
      |  FROM b, UNNEST(generate_series(0, nb - 1)) AS t(p)),
      |corp AS (SELECT DISTINCT h FROM paras WHERE doc_id % 10 <> 0),
      |dl AS (SELECT doc_id, p, h FROM paras WHERE doc_id % 10 = 0),
      |indup AS (SELECT doc_id, h FROM dl GROUP BY doc_id, h HAVING COUNT(*) >= 2),
      |rml AS (SELECT dl.doc_id, list(dl.p) AS rm FROM dl
      |        LEFT JOIN indup i ON i.doc_id = dl.doc_id AND i.h = dl.h
      |        WHERE dl.h IN (SELECT h FROM corp) OR i.h IS NOT NULL
      |        GROUP BY dl.doc_id)
      |SELECT b.doc_id, b.nb AS n_paras,
      |  CAST(COALESCE(len(rml.rm), 0) AS BIGINT) AS n_removed,
      |  COALESCE(array_to_string(flatten(list_filter(
      |    list_transform(generate_series(0, b.nb - 1),
      |      p -> CASE WHEN rml.rm IS NULL OR NOT list_contains(rml.rm, p)
      |           THEN b.w[(p*12+1):(p*12+12)] END),
      |    x -> x IS NOT NULL)), ' '), '') AS text_depara
      |FROM b LEFT JOIN rml USING (doc_id)
      |WHERE b.doc_id % 10 = 0""".stripMargin,
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val base = persistedParagraphHashes(spark, dir, tag = "para80",
      _.filter(col("doc_id") % 10 >= 2))
    val absorb = paragraphHashCounts(
      pseudoParas(docs.filter(col("doc_id") % 10 === 1)))
    paragraphAdmitServe(base, Some(absorb),
      pseudoParas(docs.filter(col("doc_id") % 10 === 0)), " ")
  }

  /** Registered multi-block form: m=6, d=3 — C(6,3)=20 combination keys
    * of ~33 bits each, the billion-doc band layout (16-bit bands carry
    * ~15k docs per value at 1B docs: every bucket would overflow the cap
    * and recall would collapse; 2^33 keys stay sparse). Same verified
    * semantics as dedup_simhash_pairs (Hamming ≤ 3); the oracle mirrors
    * the 20 combinations with string band keys (bucketing is a bijection
    * of the packed long keys).
    */
  val simhashBlocks: Op = {
    val bounds = blockBounds(6)
    val bandSelects = (0 until 6).combinations(3).zipWithIndex.map {
      case (bs, ci) =>
        val parts = bs.map(b =>
          s"substr(simhash, ${bounds(b) + 1}, ${bounds(b + 1) - bounds(b)})")
        s"  SELECT doc_id, simhash, '$ci:' || ${parts.mkString(" || ")} AS band FROM sigs"
    }.mkString("\n  UNION ALL\n")
    Op("dedup_simhash_blocks", simhashPairsSqlFrom("documents", bandSelects)) {
      (spark, dir) => simhashPairsFromSigs(
        simhashSignatures(Tables.documents(spark, dir)), m = 6, d = 3)
    }
  }

  /** Registered bucketed form: 8 buckets over the same shard split as
    * dedup_bloom_new — and the SAME oracle, because bucketing moves
    * memory, never answers.
    */
  val bloomNewBucketed: Op = Op(
    "dedup_bloom_bucketed",
    """SELECT d.doc_id, md5(d.text) AS content_hash
      |FROM documents d
      |WHERE d.doc_id % 10 = 0
      |  AND NOT EXISTS (SELECT 1 FROM documents c
      |                  WHERE c.doc_id % 10 <> 0 AND c.text = d.text)""".stripMargin,
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    bloomNewDocsBucketed(docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0),
      expectedItemsPerBucket = 20000L, buckets = 8,
      verifyHashes = Some(persistedContentHashes(spark, dir,
        tag = "corpus90", _.filter(col("doc_id") % 10 =!= 0))))
  }

  /** Get-or-build the persisted content-hash table of `dir`'s corpus
    * shard — the [[persistedCorpusSketch]] contract applied to the
    * bloom family's exact-verify side (VERDICT r15 #2): k = md5(text)
    * distinct, bucketBy(k)/sortBy(k) with one file per bucket, so the
    * serve-time anti-join reads the state with ZERO exchange instead
    * of re-distincting the raw corpus text per serve. This is the
    * warehouse table every bloom deployment keeps NEXT TO its filters:
    * the filters answer "provably new", this table answers the
    * maybe-dup remainder, and neither requires a corpus pass at serve
    * time.
    */
  private def persistedContentHashes(spark: SparkSession, dir: String,
      tag: String, corpusOf: DataFrame => DataFrame): DataFrame =
    TempWarehouse.getOrBuild(spark, "graft_ch", s"$dir|ch|$tag|v1|$skBuckets",
        Seq("ch")) { db =>
      TempWarehouse.writeBucketed(
        contentHashes(corpusOf(Tables.documents(spark, dir))),
        s"$db.ch", skBuckets, "k")
    }.head

  /** Registered bloom-state geometry (r15): bucket count and per-bucket
    * sizing are a WAREHOUSE CONSTANT pinned at state-create time — every
    * shard filter absorbed later must be built with the identical
    * geometry or `bloom_or` fail-fasts (IncompatibleMergeException), by
    * design: a silently re-sized filter would widen the fpp unnoticed.
    */
  private[graft] val bloomStateBuckets = 8
  private[graft] val bloomStateItemsPerBucket = 20000L

  /** Get-or-build the persisted per-bucket bloom filters of `dir`'s
    * corpus shard — the [[persistedCorpusSketch]] contract applied to
    * the bloom family: deterministic build (the sketch bytes are an
    * order-independent OR of fixed-seed hash positions), bucketBy(bkt)
    * so the probe join's bucket-keyed exchange can ride the layout.
    */
  private def persistedBloomFilters(spark: SparkSession, dir: String,
      tag: String, corpusOf: DataFrame => DataFrame): DataFrame = {
    // geometry in the key: a bucket-count change re-keys every text to a
    // DIFFERENT bkt, so reusing a stale-bucketed table would answer
    // proven-new for true duplicates with no exception anywhere
    // (bloom_or's IncompatibleMergeException only catches bit-array-size
    // drift within a bucket, never bucket-count drift) — the geometry
    // must invalidate the persisted state, not just the merge. The
    // public-surface equivalent is graft.api.BloomState, which carries
    // (buckets, items) with the filter frame and fail-fasts on mismatch
    TempWarehouse.getOrBuild(spark, "graft_bl",
        s"$dir|bloom|$tag|v1|$bloomStateBuckets|$bloomStateItemsPerBucket",
        Seq("bf")) { db =>
      bloomBucketFilters(
        withTextBkt(corpusOf(Tables.documents(spark, dir)), bloomStateBuckets),
        bloomStateItemsPerBucket,
        parts = bloomStateBuckets)
        .write.mode("overwrite")
        .bucketBy(bloomStateBuckets, "bkt").saveAsTable(s"$db.bf")
    }.head
  }

  /** Bloom membership of an arriving delta against persisted per-bucket
    * filters with a just-absorbed shard — the bloom family's
    * absorb-back serve (the [[incrementalPairsUpsertServe]] shape).
    * The shard's filters merge into the base IN-PLAN by per-bucket
    * bitwise OR ([[graft.functions.bloom.bloom_or]] — byte-identical
    * to rebuilding over base ∪ shard, so upsert ≡ rebuild is provable
    * at the BYTES level, stronger than the frame-level gate), a
    * full-outer join on bkt keeping buckets present on either side.
    * Probe and verify branches are [[bloomNewDocsBucketed]]'s: !probe
    * rows are proven new; probe-positive (and null-probe) rows pay the
    * exact anti-join against `verifyHashes` — md5 content keys of base
    * ∪ shard, each frame its own sequential anti-join so the persisted
    * base table keeps its bucketed zero-exchange ride (the bloom only
    * moves cost, the join is always the answer).
    */
  /** The absorb itself: per-bucket OR-merge of two filter frames — a
    * full-outer join keeping buckets present on either side, null sides
    * coalescing to the other's filter unchanged. Split out so the
    * DedupSpec byte-equality pin (merged ≡ rebuilt) exercises the
    * PRODUCTION merge, not a spec-local copy.
    */
  private[graft] def bloomMergedFilters(baseFilters: DataFrame,
      shardFilters: DataFrame): DataFrame = {
    import graft.functions.bloom._
    baseFilters.alias("b")
      .join(shardFilters.alias("s"), Seq("bkt"), "full_outer")
      .select(col("bkt"),
        coalesce(bloom_or(col("b.bf"), col("s.bf")),
          col("b.bf"), col("s.bf")).as("bf"))
  }

  /** `cacheProbe`: the registered-op harness persists the probed frame
    * (two branches read it); library callers who won't drain
    * [[graft.CacheRegistry]] pass false and the probe join computes
    * once per branch instead of leaking a session-lifetime cached
    * frame (ADVICE r15).
    */
  def bloomUpsertServe(baseFilters: DataFrame, shardFilters: DataFrame,
      verifyHashes: Seq[DataFrame], delta: DataFrame, buckets: Int,
      cacheProbe: Boolean = true): DataFrame = {
    import graft.functions.bloom._
    // an empty verify set would pass every maybe-dup row through ZERO
    // anti-joins — true duplicates declared new with no error (the
    // bloom only prunes; the exact verify is always the answer)
    require(verifyHashes.nonEmpty,
      "bloomUpsertServe: verifyHashes must cover the filters' corpus — " +
        "an empty Seq would skip the exact verify and declare every " +
        "maybe-duplicate new")
    val merged = bloomMergedFilters(baseFilters, shardFilters)
    val deltaB = withTextBkt(delta, buckets)
    val key = xxhash64(col("text"))
    val probedPlan = deltaB
      .repartition(bloomProbeParts(deltaB, buckets), col("bkt"))
      .join(merged.hint("shuffle_hash"), Seq("bkt"), "left_outer")
      .withColumn("_maybe", might_contain_keyed(col("bkt"), col("bf"), key))
      .drop("bf")
    val probed =
      if (cacheProbe) graft.CacheRegistry.track(probedPlan,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
      else probedPlan
    val provenNew = probed.filter(!col("_maybe"))
    val verifiedNew = verifiedNewByHash(
      probed.filter(coalesce(col("_maybe"), lit(true))), verifyHashes)
    provenNew.unionByName(verifiedNew)
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
  }

  /** Absorb-back face of the bloom family (r15 — completing its
    * lifecycle the way dedup_incremental_upsert did for MinHash and
    * dedup_paragraph_upsert for paragraphs): the persisted per-bucket
    * filters cover doc_id % 10 ∉ {0, 1} (80%), the % 10 = 1 shard's
    * filters are built shard-sized and OR-merged in-plan (no state
    * rebuild — the absorb is |buckets| rows, not corpus rows), and the
    * % 10 = 0 arrivals are membership-checked against the merged
    * filters. Oracle = the plain NOT EXISTS over ALL % 10 ≠ 0 docs
    * (shared with dedup_bloom_new/_bucketed — the bloom only moves
    * cost); BloomSpec pins merged-filter bytes ≡ rebuilt-filter bytes
    * per bucket and serve-from-absorb ≡ serve-from-rebuilt frames.
    * Warehouse compaction is writing `merged` back over the state
    * table — one |buckets|-row job, no corpus pass.
    */
  val bloomUpsert: Op = Op(
    "dedup_bloom_upsert",
    bloomNewBucketed.oracle.get,
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val base = persistedBloomFilters(spark, dir, tag = "bloom80",
      _.filter(col("doc_id") % 10 >= 2))
    val shard = bloomBucketFilters(
      withTextBkt(docs.filter(col("doc_id") % 10 === 1), bloomStateBuckets),
      bloomStateItemsPerBucket, parts = bloomStateBuckets)
    // verify = persisted base hashes (zero-exchange bucketed ride) +
    // the absorbed shard's in-plan hash sliver as its own anti-join
    // branch — never a re-distinct of raw corpus text (VERDICT r15 #2)
    bloomUpsertServe(base, shard,
      verifyHashes = Seq(
        persistedContentHashes(spark, dir, tag = "bloom80",
          _.filter(col("doc_id") % 10 >= 2)),
        contentHashes(docs.filter(col("doc_id") % 10 === 1))),
      delta = docs.filter(col("doc_id") % 10 === 0),
      buckets = bloomStateBuckets)
  }

  /** Recall audit of the near-dup candidate generators — the dedup
    * sibling of ann_recall_audit (VERDICT r13 #4's measurement
    * discipline applied to this family): how many TRUE near-dup pairs
    * (exact Jaccard ≥ 0.2) does each sketch/sampling shortcut actually
    * find? Ground truth is the n-gram chain UNSAMPLED (every rare-gram
    * posting, df ≤ 64 — the family's shared discoverability contract);
    * each audited method is the REGISTERED op's own plan, so the audit
    * measures exactly what runs in production:
    * `minhash_lsh` (bottom-8 sketch buckets — documented recall bound
    * 1-(1-j)^8), `ngram_sampled` (the registered op's 1-in-4 gram coin —
    * bound (3/4)^s for s shared rare grams), and `simhash_pairs`
    * (Hamming ≤ 3 bands — a DIFFERENT similarity axis, audited against
    * the same Jaccard truth to quantify what bit-level near-duplication
    * misses of shingle-level). All pair sets are deterministic, so the
    * composed DuckDB oracle — each member oracle nested verbatim over
    * the same slice — reproduces the counts exactly. Output per method:
    * (truth_pairs, hits, found_pairs) as exact integers (recall =
    * hits/truth_pairs, precision = hits/found_pairs).
    *
    * Measured at sf0.1 (truth = 69 pairs): minhash_lsh 69/69 found-all,
    * ngram_sampled 69/69 (both bounds are loose on ≥100-shingle docs),
    * simhash_pairs 36/69 — recall 0.52 at perfect precision, the
    * measured statement of why simhash is the cheap FIRST pass and
    * minhash the recall workhorse.
    *
    * 100 TB shape: the audit runs on a deterministic 50% doc_id slice
    * (production: size the slice to the audit budget — the ground-truth
    * arm is the one deliberately-unsampled corpus pass, the POINT of the
    * audit, exactly like ann_recall_audit's brute-force side). The
    * method arms are the bounded production plans; the truth arm is the
    * registered ngram plan minus its sampling coin (same capped posting
    * buckets, same sliver verify); the final joins touch pair slivers.
    */
  val recallAudit: Op = {
    val src = "(SELECT * FROM documents WHERE doc_id % 2 = 1)"
    Op(
      "dedup_recall_audit",
      s"""WITH truth AS (
        |  SELECT doc_a, doc_b FROM (
        |    ${ngramPairsSqlFrom(src, sampled = false, select = "doc_a, doc_b")})),
        |apx AS (
        |  SELECT 'minhash_lsh' AS method, doc_a, doc_b FROM (
        |    WITH ${minhashCandCteFrom(src)}
        |    ${minhashVerifiedSql("doc_a, doc_b")})
        |  UNION ALL
        |  SELECT 'ngram_sampled', doc_a, doc_b FROM (
        |    ${ngramPairsSqlFrom(src, sampled = true, select = "doc_a, doc_b")})
        |  UNION ALL
        |  SELECT 'simhash_pairs', doc_a, doc_b FROM (${simhashPairsSqlFrom(src)})),
        |methods AS (SELECT * FROM (VALUES ('minhash_lsh'), ('ngram_sampled'),
        |                                  ('simhash_pairs')) t(method)),
        |tc AS (SELECT COUNT(*) AS truth_pairs FROM truth),
        |h AS (
        |  SELECT method, COUNT(*) AS found_pairs,
        |    SUM(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS hits
        |  FROM apx a LEFT JOIN truth t ON t.doc_a = a.doc_a AND t.doc_b = a.doc_b
        |  GROUP BY method)
        |SELECT m.method, CAST(tc.truth_pairs AS BIGINT) AS truth_pairs,
        |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
        |  CAST(coalesce(h.found_pairs, 0) AS BIGINT) AS found_pairs
        |FROM methods m CROSS JOIN tc
        |  LEFT JOIN h ON h.method = m.method""".stripMargin,
    ) { (spark, dir) =>
      recallAuditFrom(
        Tables.documents(spark, dir).filter(col("doc_id") % 2 === 1))
    }
  }

  /** The audit body over an already-sliced sample frame (the registered
    * op binds the 50% doc_id slice; specs feed crafted corpora).
    */
  private[graft] def recallAuditFrom(sample: DataFrame): DataFrame = {
    import sample.sparkSession.implicits._
    // tracked: three consumers read the truth pair set (the hits
    // indicator join, the scaffold's count, and nothing else) — without
    // tracking, the unsampled posting pass (the audit's dominant cost)
    // would re-run per consumer
    val truth = graft.CacheRegistry.track(
      postingPairsPlan(fusedGramStream(1))(sample, 0.2).select("doc_a", "doc_b"))
    val apx =
      minhashPairs(sample, 0.2)
        .select(lit("minhash_lsh").as("method"), col("doc_a"), col("doc_b"))
      .unionByName(postingPairsPlan(fusedGramStream(4))(sample, 0.2)
        .select(lit("ngram_sampled").as("method"), col("doc_a"), col("doc_b")))
      .unionByName(simhashPairsFromSigs(simhashSignatures(sample), m = 4, d = 3)
        .select(lit("simhash_pairs").as("method"), col("doc_a"), col("doc_b")))
    val counted = apx
      .join(truth.withColumn("is_truth", lit(1L)), Seq("doc_a", "doc_b"), "left")
      .groupBy("method")
      .agg(count(lit(1)).as("found_pairs"),
        sum(coalesce(col("is_truth"), lit(0L))).as("hits"))
    Seq("minhash_lsh", "ngram_sampled", "simhash_pairs").toDF("method")
      .crossJoin(truth.agg(count(lit(1)).as("truth_pairs")))
      .join(counted, Seq("method"), "left")
      .select(col("method"), col("truth_pairs"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        coalesce(col("found_pairs"), lit(0L)).as("found_pairs"))
  }

  /** One audit row over a capped candidate generator's (id, key)
    * posting stream: `sat_buckets` counts buckets whose member count
    * exceeds `cap` — exactly the buckets collect_set_bounded NULLs out
    * (and the 2..64 HAVING forms drop) — and `sat_docs` counts the
    * distinct ids sitting in at least one such bucket: the document
    * mass whose candidate discovery the cap may be eating. VERDICT r15
    * #1: the caps that keep candidate generation bounded at 100 TB are
    * SILENT when they saturate — on a mass-duplicated corpus
    * (1000×-replicated boilerplate, exactly what a web crawl is full
    * of) every bucket a duplicate cluster touches overflows and the
    * pair ops then report "no pairs" indistinguishably from "nothing
    * to find". This row is the audit signal: [[capAudit]] registers it
    * per generator, the scale smokes record it next to the capped ops
    * (nonzero saturation where pair counts read 0), and
    * [[composedRecall]] proves the recovery path — exact dedup first,
    * the capped generator over the collapsed corpus.
    *
    * Shape: one keyed count aggregation (map-side combinable) over the
    * posting stream, a semi-join of the stream against the saturated
    * key sliver, and two one-row reductions — no posting list is ever
    * materialized, so the audit itself survives the hostile key
    * distribution it measures.
    */
  private[graft] def capAuditRow(postings: DataFrame, cap: Int,
      generator: String): DataFrame = {
    // DISK_ONLY like every corpus-scale shared stage here: a
    // memory-resident posting cache would evict execution memory inside
    // the very smokes whose spill attribution this row rides on
    val p = graft.CacheRegistry.track(postings.toDF("id", "k"),
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val cnt = graft.CacheRegistry.track(
      p.groupBy("k").agg(count(lit(1)).as("n")),
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val tot = cnt.agg(count(lit(1)).as("total_buckets"),
      coalesce(sum(when(col("n") > cap, 1L).otherwise(0L)), lit(0L))
        .as("sat_buckets"))
    val satDocs = p
      .join(cnt.filter(col("n") > cap).select("k"), Seq("k"), "left_semi")
      .agg(countDistinct(col("id")).as("sat_docs"))
    tot.crossJoin(satDocs)
      .select(lit(generator).as("generator"), col("total_buckets"),
        col("sat_buckets"), col("sat_docs"))
  }

  /** Saturation audit of every capped candidate generator (VERDICT r15
    * #1 — the SemDeDup cell-cap-audit discipline extended to the whole
    * family): one row per generator with its bucket total, how many
    * buckets the cap silently drops, and the distinct-doc mass inside
    * them. A production pipeline runs this next to its dedup pass — a
    * nonzero `sat_docs` says the near-dup pair set is lower-bounded,
    * not complete, and the mass should first go through dedup_exact
    * (see dedup_composed_recall for the measured recovery). Each
    * stanza audits the REGISTERED generator's own bucket stream:
    * minhash bottom-8 sketch buckets, simhash 4×16-bit bands, the
    * sampled n-gram postings, and the knn join's two LSH bands.
    */
  val capAudit: Op = {
    def stanza(generator: String, withBody: String, rel: String,
        keyCol: String, idCol: String): String =
      s"""SELECT '$generator' AS generator, total_buckets, sat_buckets, sat_docs FROM (
        |  WITH $withBody,
        |  cnt_ AS (SELECT $keyCol AS k, COUNT(*) AS n FROM $rel GROUP BY 1),
        |  sat_ AS (SELECT k FROM cnt_ WHERE n > $bucketCap)
        |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cnt_) AS total_buckets,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM sat_) AS sat_buckets,
        |    (SELECT CAST(COUNT(DISTINCT $idCol) AS BIGINT) FROM $rel
        |     WHERE $keyCol IN (SELECT k FROM sat_)) AS sat_docs)""".stripMargin
    Op(
      "dedup_cap_audit",
      Seq(
        stanza("minhash_lsh", minhashCandCteFrom("documents"),
          "buckets", "h", "doc_id"),
        stanza("simhash_pairs",
          s"""sigs AS (
            |  ${simhashSigsSqlFrom("documents")}),
            |bands AS (
            |  $simhashBandsSql)""".stripMargin,
          "bands", "band", "doc_id"),
        stanza("ngram_postings",
          s"""sh AS (${shinglesSqlFrom("documents")}),
            |grams AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
            |smp AS (SELECT doc_id, g FROM grams WHERE $ngramCoinSql)""".stripMargin,
          "smp", "g", "doc_id"),
        stanza("knn_join", s"kb AS ${Similarity.knnBandBucketsSql}",
          "kb", "key", "vec_id"),
      ).mkString("\nUNION ALL\n"),
    ) { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      capAuditRow(minhashBuckets(docs), bucketCap, "minhash_lsh")
        .unionByName(capAuditRow(
          simhashBands(simhashSignatures(docs), m = 4, d = 3)
            .select("doc_id", "band"), bucketCap, "simhash_pairs"))
        .unionByName(capAuditRow(fusedGramStream(4)(docs), bucketCap,
          "ngram_postings"))
        .unionByName(capAuditRow(
          Similarity.knnBandBuckets(Tables.embeddings(spark, dir)), bucketCap,
          "knn_join"))
    }
  }

  /** Composed-recall proof under mass duplication (VERDICT r15 #1's
    * second half): amplify a deterministic slice of the corpus past
    * the bucket cap (80 extra copies of every doc_id % 50 = 1 doc —
    * each cluster is then 81 identical texts, and every LSH bucket it
    * touches exceeds the 64 cap and is silently dropped), then measure
    * three detection strategies against the same truth:
    *   - `minhash_capped`: the registered capped generator alone over
    *     the amplified corpus — its saturated buckets make it MISS the
    *     duplicated mass (hits ≪ truth_pairs, the silent-recall-loss
    *     hazard the cap audit exists to surface);
    *   - `exact_only`: dedup_exact's identical-content grouping —
    *     catches every intra-cluster pair (identical text ⇒ Jaccard
    *     1), misses every near-dup pair;
    *   - `composed`: exact dedup first (collapse identical texts to
    *     one representative), the capped minhash over the COLLAPSED
    *     corpus (buckets no longer saturated), found rep-pairs
    *     expanded by cluster sizes — recovers both.
    * Truth = intra-cluster pairs (Σ C(n,2) per identical-text group)
    * plus rep-level near-dup pairs under the family's discoverability
    * contract (the unsampled rare-gram chain, recallAudit's ground
    * truth) expanded by cluster sizes. All counts are exact integers
    * over deterministic pair sets, so the DuckDB oracle reproduces
    * them; no quadratic pair set is ever materialized — intra-cluster
    * mass is counted from group sizes, never expanded.
    *
    * 100 TB shape: this IS the production recipe, not just its audit —
    * run exact dedup before any banded generator, and size the audit
    * slice to budget. The only corpus-wide passes are the exact
    * grouping (map-side combinable on identical texts) and the capped
    * generators themselves.
    */
  val composedRecall: Op = Op(
    "dedup_composed_recall",
    s"""WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text
      |             FROM documents WHERE doc_id % 2 = 1),
      |amp AS (
      |  SELECT doc_id, text FROM base
      |  UNION ALL
      |  SELECT -(b.doc_id * 128 + c.c) AS doc_id, b.text
      |  FROM base b, (SELECT unnest(generate_series(1, 80)) AS c) c
      |  WHERE b.doc_id % 50 = 1),
      |grp AS (SELECT text, MIN(doc_id) AS rep_id, COUNT(*) AS n
      |        FROM amp GROUP BY text),
      |reps AS (SELECT rep_id AS doc_id, text FROM grp),
      |rt AS (SELECT doc_a, doc_b FROM (
      |  ${ngramPairsSqlFrom("reps", sampled = false, select = "doc_a, doc_b")})),
      |rm AS (SELECT doc_a, doc_b FROM (
      |  WITH ${minhashCandCteFrom("reps")}
      |  ${minhashVerifiedSql("doc_a, doc_b")})),
      |mh AS (SELECT doc_a, doc_b FROM (
      |  WITH ${minhashCandCteFrom("amp")}
      |  ${minhashVerifiedSql("doc_a, doc_b")})),
      |ep AS (SELECT COALESCE(SUM((n * (n - 1)) // 2), 0) AS ep FROM grp),
      |tc AS (SELECT COALESCE(SUM(a.n * b.n), 0) AS tc FROM rt
      |       JOIN grp a ON a.rep_id = rt.doc_a
      |       JOIN grp b ON b.rep_id = rt.doc_b),
      |cc AS (SELECT COALESCE(SUM(a.n * b.n), 0) AS cc FROM rm
      |       JOIN grp a ON a.rep_id = rm.doc_a
      |       JOIN grp b ON b.rep_id = rm.doc_b),
      |chc AS (SELECT COALESCE(SUM(a.n * b.n), 0) AS chc FROM rm
      |        JOIN grp a ON a.rep_id = rm.doc_a
      |        JOIN grp b ON b.rep_id = rm.doc_b
      |        WHERE EXISTS (SELECT 1 FROM rt
      |                      WHERE rt.doc_a = rm.doc_a AND rt.doc_b = rm.doc_b)),
      |ar AS (SELECT amp.doc_id, grp.rep_id FROM amp JOIN grp ON amp.text = grp.text),
      |mr AS (SELECT LEAST(a.rep_id, b.rep_id) AS doc_a,
      |              GREATEST(a.rep_id, b.rep_id) AS doc_b,
      |              (a.rep_id = b.rep_id) AS same
      |       FROM mh JOIN ar a ON a.doc_id = mh.doc_a
      |                JOIN ar b ON b.doc_id = mh.doc_b),
      |mf AS (SELECT COUNT(*) AS mf FROM mh),
      |mhits AS (SELECT
      |    (SELECT COUNT(*) FROM mr WHERE same) +
      |    (SELECT COUNT(*) FROM mr WHERE NOT same AND EXISTS
      |       (SELECT 1 FROM rt
      |        WHERE rt.doc_a = mr.doc_a AND rt.doc_b = mr.doc_b)) AS mhits)
      |SELECT 'minhash_capped' AS method, CAST(ep + tc AS BIGINT) AS truth_pairs,
      |       CAST(mhits AS BIGINT) AS hits, CAST(mf AS BIGINT) AS found_pairs
      |FROM ep, tc, mf, mhits
      |UNION ALL
      |SELECT 'exact_only', CAST(ep + tc AS BIGINT), CAST(ep AS BIGINT),
      |       CAST(ep AS BIGINT) FROM ep, tc
      |UNION ALL
      |SELECT 'composed', CAST(ep + tc AS BIGINT), CAST(ep + chc AS BIGINT),
      |       CAST(ep + cc AS BIGINT) FROM ep, tc, cc, chc""".stripMargin,
  ) { (spark, dir) =>
    composedRecallFrom(
      Tables.documents(spark, dir).filter(col("doc_id") % 2 === 1),
      ampFilter = col("doc_id") % 50 === 1, copies = 80)
  }

  /** The audit body over a caller-chosen base slice, amplification
    * predicate, and copy count (the registered op binds % 2 = 1 /
    * % 50 = 1 / 80; specs feed crafted corpora with just-past-cap
    * clusters). Emits (method, truth_pairs, hits, found_pairs) for
    * minhash_capped / exact_only / composed — see [[composedRecall]].
    */
  private[graft] def composedRecallFrom(base0: DataFrame, ampFilter: Column,
      copies: Int): DataFrame = {
    // replica ids are -(doc_id*128 + c): a copies >= 128 would collide
    // replica ids across adjacent base docs, and a negative base doc_id
    // would collide with replicas — either silently corrupts the
    // truth/hit counts, so misuse fails fast (ADVICE r16)
    require(copies >= 1 && copies < 128,
      s"composedRecallFrom: copies=$copies must be in [1, 127] — replica " +
        "ids pack as -(doc_id*128 + c)")
    // the amplified-arm sketch replay below selects replicas off the
    // (doc_id, sketch) frame with the same predicate, so it must read
    // doc_id alone
    val ampRefs = base0.filter(ampFilter).queryExecution.analyzed
      .collectFirst { case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.references.toSeq.map(_.name) }.getOrElse(Nil)
    require(ampRefs.forall(_.equalsIgnoreCase("doc_id")),
      s"composedRecallFrom: ampFilter may reference only doc_id, got " +
        s"${ampRefs.distinct.mkString(", ")} — replicas are packed as " +
        "-(doc_id*128 + c) off the (doc_id, sketch) frame, so the " +
        "predicate must select the same rows there as on (doc_id, text)")
    val base = base0.select(col("doc_id").cast("long").as("doc_id"),
      col("text"))
      // assert_true is NULL when the predicate holds, so the filter keeps
      // every valid row and throws on the first negative id (the
      // mergeUpsert guard idiom)
      .filter(assert_true(col("doc_id") >= 0,
        lit("composedRecallFrom: base doc_id must be >= 0 — negative ids " +
          "collide with the -(doc_id*128 + c) replica id space")).isNull)
    val replicas = base.filter(ampFilter)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), lit(copies))).as("c"))
      .select((-(col("doc_id") * 128 + col("c"))).cast("long").as("doc_id"),
        col("text"))
    val amp = graft.CacheRegistry.track(base.unionByName(replicas))
    // exact-dedup collapse: identical texts → (rep, cluster size). The
    // groupBy key is the text itself (map-side combine collapses the
    // duplicated mass before the exchange — the dedup_exact shape);
    // intra-cluster pair mass is C(n,2) from the size, never expanded.
    val grp = graft.CacheRegistry.track(amp.groupBy("text")
      .agg(min("doc_id").as("rep_id"), count(lit(1)).as("n")))
    val reps = grp.select(col("rep_id").as("doc_id"), col("text"))
    val rt = graft.CacheRegistry.track(
      postingPairsPlan(fusedGramStream(1))(reps, 0.2)
        .select("doc_a", "doc_b"))
    val rm = graft.CacheRegistry.track(
      minhashPairs(reps, 0.2).select("doc_a", "doc_b"))
    val gA = grp.select(col("rep_id").as("doc_a"), col("n").as("na"))
    val gB = grp.select(col("rep_id").as("doc_b"), col("n").as("nb"))
    def crossMass(pairs: DataFrame, name: String): DataFrame =
      pairs.join(gA, "doc_a").join(gB, "doc_b")
        .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as(name))
    val exactPairs = grp.agg(
      coalesce(sum(expr("(n * (n - 1)) div 2")), lit(0L)).as("ep"))
    val truthCross = crossMass(rt, "tc")
    val compCross = crossMass(rm, "cc")
    val compHitCross =
      crossMass(rm.join(rt, Seq("doc_a", "doc_b"), "left_semi"), "chc")
    // Amplified-arm sketch derivation (r18): a replica shares its base
    // doc's text and the sketch kernel is deterministic on text, so the
    // capped-minhash-over-amp pass computes the md5-shingle kernel ONCE
    // PER BASE DOC and replays the replica id packing over (doc_id,
    // sketch) rows — `copies`× fewer kernel evaluations on the amplified
    // slice, byte-identical sketches by kernel determinism
    // (ShingleSketchSpec). ampFilter reads only doc_id (required above),
    // so it selects the same rows off the sketch frame. The verify
    // sliver still reads amp's texts (candidate-bounded, tiny under
    // saturation); grp/ar keep reading the cached amp unchanged.
    // Base rows come off the CACHED amp (doc_id >= 0 ⇔ base: replica ids
    // are strictly negative by the packing), not a fresh documents scan —
    // no second parquet pass, no second spread exchange.
    val baseSk = graft.CacheRegistry.track(
      fusedSketchFrame(amp.filter(col("doc_id") >= 0)))
    val replSk = baseSk.filter(ampFilter)
      .select(col("doc_id"), col("sketch"),
        explode(sequence(lit(1), lit(copies))).as("c"))
      .select((-(col("doc_id") * 128 + col("c"))).cast("long").as("doc_id"),
        col("sketch"))
    val ampSk = baseSk.unionByName(replSk).filter(size(col("sketch")) > 0)
    val mh = graft.CacheRegistry.track(
      postingPairsPlan(_ => sketchPostings(ampSk))(amp, 0.2)
        .select("doc_a", "doc_b"))
    val ampRep = amp.join(grp, Seq("text"))
      .select(col("doc_id"), col("rep_id"))
    val mhRep = graft.CacheRegistry.track(mh
      .join(ampRep.select(col("doc_id").as("doc_a"), col("rep_id").as("ra")),
        Seq("doc_a"))
      .join(ampRep.select(col("doc_id").as("doc_b"), col("rep_id").as("rb")),
        Seq("doc_b"))
      .select(least(col("ra"), col("rb")).as("doc_a"),
        greatest(col("ra"), col("rb")).as("doc_b"),
        (col("ra") === col("rb")).as("same")))
    val mhFound = mh.agg(count(lit(1)).as("mf"))
    val mhHits = mhRep.filter(col("same"))
      .agg(count(lit(1)).as("same_hits"))
      .crossJoin(mhRep.filter(!col("same"))
        .join(rt, Seq("doc_a", "doc_b"), "left_semi")
        .agg(count(lit(1)).as("cross_hits")))
      .select((col("same_hits") + col("cross_hits")).as("mhits"))
    exactPairs.crossJoin(truthCross).crossJoin(compCross)
      .crossJoin(compHitCross).crossJoin(mhFound).crossJoin(mhHits)
      .select(explode(array(
        struct(lit("minhash_capped").as("method"),
          (col("ep") + col("tc")).as("truth_pairs"),
          col("mhits").as("hits"), col("mf").as("found_pairs")),
        struct(lit("exact_only").as("method"),
          (col("ep") + col("tc")).as("truth_pairs"),
          col("ep").as("hits"), col("ep").as("found_pairs")),
        struct(lit("composed").as("method"),
          (col("ep") + col("tc")).as("truth_pairs"),
          (col("ep") + col("chc")).as("hits"),
          (col("ep") + col("cc")).as("found_pairs")))).as("r"))
      .select("r.method", "r.truth_pairs", "r.hits", "r.found_pairs")
  }

  val ops: Seq[Op] =
    Seq(exact, ngramJaccard, minhashLsh, simhash, simhashPairs, simhashBlocks,
      incremental, incrementalUpsert, substring, substringStrip,
      substringIncremental, substringUpsert, paragraph, paragraphUpsert,
      bloomNew, bloomNewBucketed, bloomUpsert, recallAudit, capAudit,
      composedRecall)
}
