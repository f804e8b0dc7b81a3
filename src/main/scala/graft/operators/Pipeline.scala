package graft.operators

import graft.{Op, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The capstone composition: a training-data curation pass that chains
  * the pipeline operators end to end — near-dup clustering (keep one
  * representative per cluster), quality gating, and language filtering —
  * producing the kept set with its quality features. This is the workload
  * the individual §2.2 operators exist for; at 100 TB it runs as one plan:
  * scan → sketch → bucket join → verify → fixpoint → broadcast-join the
  * (small) cluster map back onto documents → per-row quality gate.
  */
object Pipeline {

  val curate: Op = Op(
    "pipeline_curate",
    s"""WITH RECURSIVE ${Graph.clustersCteBody},
      |quality AS (
      |  SELECT doc_id,
      |    CAST(length(regexp_extract_all(text, '\\S+')) AS BIGINT) AS tokens,
      |    CAST(length(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
      |      / length(text) AS punct_ratio
      |  FROM documents WHERE length(text) > 0)
      |SELECT d.doc_id, d.lang, q.tokens, q.punct_ratio
      |FROM documents d
      |  JOIN clusters c ON c.doc_id = d.doc_id
      |  JOIN quality q ON q.doc_id = d.doc_id
      |WHERE c.cluster = d.doc_id      -- cluster representative (canonical doc)
      |  AND q.tokens >= 10            -- quality gates
      |  AND q.punct_ratio < 0.2""".stripMargin,
  ) { (spark, dir) => curateFrom(Tables.documents(spark, dir)) }

  /** The curate plan over any (doc_id, lang, text) frame — the Op binds
    * it to the documents table.
    */
  private[graft] def curateFrom(docs: DataFrame): DataFrame =
    curateQuality(docs.join(curateDropped(docs),
      col("doc_id") === col("dropped_id"), "left_anti"))

  /** The min-id election's losers — dup-rate-proportional: a sliver on
    * a clean corpus, but potentially billions of rows on a
    * heavily-mirrored crawl — so the representative filter is a
    * SIZE-ADAPTIVE anti join (broadcast below the row threshold, plain
    * shuffled anti-join above; see GraftApi.adaptiveBroadcast). The full
    * doc_id→cluster map (corpus-sized!) is never materialized.
    */
  private def curateDropped(docs: DataFrame): DataFrame =
    graft.api.GraftApi.adaptiveBroadcast(
      Graph.componentLabels(Dedup.minhashPairs(docs, 0.2)
          .select(col("doc_a").as("a"), col("doc_b").as("b")))
        .filter(col("cluster") =!= col("id"))
        .select(col("id").as("dropped_id")))

  /** The quality gate over any kept-docs frame — features computed in
    * the same scan's project, no self-join.
    *
    * r15 kernel swap (pipeline_ab_r15.jsonl adjudicates, hash-identical):
    * the r14 form ran two regex engines per document
    * (`regexp_extract_all('\S+')` and `('[.,;:!?]')`), and a warm stage
    * profile caught the filter copy of those regexes PREDICATE-PUSHED
    * below the spread() repartition into the one-split parquet scan —
    * 4.5 s SINGLE-THREADED at sf0.1 (stage 262, 1 task), then the
    * projection re-evaluated them post-exchange (38 cpu-s). Counting
    * `\S+` runs is [[graft.functions.TextTokenCounts]].ws_tokens
    * (FunctionsSpec pins the regex equality), and the same byte walk
    * counts the 6-char punctuation class and the characters, so even the
    * pushed-down filter copy in the serial scan stage is noise. On a
    * multi-split 100 TB table the pushdown is WELCOME (filter at the
    * scan); only the expression cost was the bug.
    */
  private def curateQuality(docs: DataFrame): DataFrame = {
    val tc = graft.functions.TokenCounts.text_token_counts(col("text"))
    val tokens = tc.getField("ws_tokens")
    val punctRatio = tc.getField("punct").cast("double") / tc.getField("chars")
    docs
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("lang"),
        tokens.as("tokens"), punctRatio.as("punct_ratio"))
      .filter(col("tokens") >= 10 && col("punct_ratio") < 0.2)
  }

  /** Rule-based quality gate with audit trail (the Gopher/C4-style filter
    * list): every document gets a verdict — the FIRST failing rule in a
    * fixed order, or 'ok' — plus the features the rules read, so a
    * pipeline owner can see both what was dropped and why, and re-tune
    * thresholds without recomputing features. One codegen'd scan, zero
    * shuffles: at 100 TB this runs embarrassingly parallel over splits.
    * Ratio denominators are greatest(·,1)-guarded so empty docs take the
    * 'too_short' rule rather than a divide-by-zero NaN.
    */
  val qualityFilter: Op = Op(
    "pipeline_quality_filter",
    """WITH f AS (
      |  SELECT doc_id,
      |    CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT) AS tokens,
      |    CAST(length(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
      |      / greatest(length(text), 1) AS punct_ratio,
      |    CAST(length(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS DOUBLE)
      |      / greatest(length(regexp_extract_all(text, '\S+')), 1) AS stopword_ratio,
      |    CASE WHEN len(bi) > 0
      |      THEN CAST(len(bi) - len(list_distinct(bi)) AS DOUBLE) / len(bi)
      |      ELSE 0.0 END AS dup_bigram_frac
      |  FROM (SELECT doc_id, text,
      |          CASE WHEN len(w) >= 2 THEN list_transform(generate_series(1, len(w)-1),
      |            i -> w[i] || ' ' || w[i+1]) ELSE [] END AS bi
      |        FROM (SELECT doc_id, coalesce(text, '') AS text,
      |                list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS w
      |              FROM documents)))
      |SELECT doc_id, verdict,
      |  CAST(CASE WHEN verdict = 'ok' THEN 1 ELSE 0 END AS BIGINT) AS kept,
      |  tokens, punct_ratio, stopword_ratio, dup_bigram_frac
      |FROM (SELECT doc_id, tokens, punct_ratio, stopword_ratio, dup_bigram_frac,
      |  CASE WHEN tokens < 5 THEN 'too_short'
      |       WHEN tokens > 5000 THEN 'too_long'
      |       WHEN punct_ratio > 0.2 THEN 'over_punctuated'
      |       WHEN stopword_ratio < 0.01 THEN 'low_stopword'
      |       WHEN dup_bigram_frac > 0.2 THEN 'repetitive'
      |       ELSE 'ok' END AS verdict
      |  FROM f)""".stripMargin,
  ) { (spark, dir) =>
    val tokens = size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long")
    val punctRatio = size(expr("regexp_extract_all(text, '[.,;:!?]', 0)"))
      .cast("double") / greatest(length(col("text")), lit(1))
    val stopRatio = size(expr(
      "regexp_extract_all(lower(text), '\\\\b(the|a|of|and|to|in|is)\\\\b', 0)"))
      .cast("double") / greatest(tokens, lit(1L))
    Tables.documents(spark, dir)
      // null text ≡ empty document (the house convention): without the
      // coalesce every gate comparison is NULL and falls through to the
      // 'ok' verdict — a quality gate passing null docs into the kept set
      .withColumn("text", coalesce(col("text"), lit("")))
      // text_repetition's bigram rule: one kernel call, projected once
      // so the fraction's three reads of it do not re-run it
      .withColumn("bi",
        graft.functions.TokenCounts.word_ngram_counts(col("text"), 2))
      .select(col("doc_id"), tokens.as("tokens"),
        punctRatio.as("punct_ratio"), stopRatio.as("stopword_ratio"),
        TextAnalysis.dupFrac(col("bi")).as("dup_bigram_frac"))
      .withColumn("verdict",
        when(col("tokens") < 5, "too_short")
          .when(col("tokens") > 5000, "too_long")
          .when(col("punct_ratio") > 0.2, "over_punctuated")
          .when(col("stopword_ratio") < 0.01, "low_stopword")
          .when(col("dup_bigram_frac") > 0.2, "repetitive")
          .otherwise("ok"))
      .withColumn("kept", when(col("verdict") === "ok", 1L).otherwise(0L))
      .select("doc_id", "verdict", "kept", "tokens", "punct_ratio",
        "stopword_ratio", "dup_bigram_frac")
  }

  /** Train/eval decontamination — the standard contamination gate every
    * LLM data pipeline runs before training: flag training documents whose
    * n-gram overlap with a benchmark/eval set exceeds a threshold, so
    * benchmark answers never leak into the training corpus. The "benchmark"
    * here is the deterministic doc_id % 97 sliver of the corpus (a stand-in
    * for a real eval set, which is always tiny relative to training data).
    *
    * The 100 TB shape: the benchmark's distinct shingle set is collected by
    * ONE tiny aggregate and broadcast as a single-row array; every training
    * document then scores its overlap via per-row array_intersect in the
    * same codegen'd scan that built its shingles — zero extra shuffle, no
    * join of corpus-sized sides. (An eval set of thousands of documents is
    * a few MB of n-grams — broadcastable by construction; past the gram
    * bound [[decontaminate]] switches itself to the posting-list
    * equi-join the dedup ops use.)
    */
  val decontamNgram: Op = Op(
    "decontam_ngram",
    s"""WITH sh AS (${Dedup.shinglesSql}),
      |bench AS (SELECT list_distinct(flatten(list(shingles))) AS bg
      |          FROM sh WHERE doc_id % 97 = 0),
      |scored AS (
      |  SELECT s.doc_id,
      |    CAST(len(list_intersect(s.shingles, b.bg)) AS BIGINT) AS n_overlap,
      |    CAST(len(list_intersect(s.shingles, b.bg)) AS DOUBLE)
      |      / len(s.shingles) AS overlap_frac
      |  FROM sh s, bench b WHERE s.doc_id % 97 <> 0)
      |SELECT doc_id, n_overlap, overlap_frac,
      |  CAST(CASE WHEN overlap_frac >= 0.5 THEN 1 ELSE 0 END AS BIGINT)
      |    AS contaminated
      |FROM scored""".stripMargin,
  ) { (spark, dir) =>
    // the registered op feeds DIGEST shingle frames (Dedup.shingleDigests:
    // one byte walk per side; both the intersect and the posting join
    // only ever test gram EQUALITY, and the per-doc distinct count is
    // preserved). [[decontaminate]] stays generic over any
    // (doc_id, shingles) token frame.
    val sh = Dedup.shingleDigests(Tables.documents(spark, dir))
    decontaminate(sh.filter(col("doc_id") % 97 =!= 0),
      sh.filter(col("doc_id") % 97 === 0), tau = 0.5)
  }

  /** Generic decontamination: score every `train` row's shingle overlap
    * against the union of `bench`'s shingles. Both frames carry
    * (doc_id, shingles). The formulation is SIZE-ADAPTIVE — the
    * adaptiveBroadcast decision applied to formulation choice, not just
    * hint choice (reference analog: SubquerySharing picks index-vs-scan
    * by what exists, not by caller promise):
    *
    *   - At or below `broadcastMaxGrams` distinct benchmark grams (the
    *     real eval-set case — thousands of documents, a few MB of
    *     n-grams), the gram set broadcasts as ONE array and every
    *     training row scores via `size(array_intersect(shingles, bg))`
    *     inside the same codegen'd scan that built its shingles — zero
    *     extra shuffle. The optimizer turns that into
    *     [[graft.functions.IntersectSize]], which builds the hash set of
    *     its right side `bg` once per task and probes it with each row's
    *     own grams: O(row grams) per row plus one byte compare of `bg`.
    *   - Past the bound, the one array is the problem: every task
    *     receives the whole gram array and holds a set of all of it, and
    *     that byte compare grows with it. So the op switches to the
    *     posting-list equi-join the dedup family uses: explode training
    *     grams, equi-join the benchmark gram list on the gram key, count
    *     hits per doc, and left-join the counts back so zero-overlap docs
    *     keep their row.
    *
    * The distinct-gram count that drives the decision is one keyed
    * aggregate over the EVAL side only (never the corpus), on a frame the
    * chosen formulation consumes anyway. Both paths are result-identical
    * (PipelineAdaptiveSpec on a large-benchmark corpus; EdgeCaseSpec at
    * the switch boundary).
    */
  def decontaminate(train: DataFrame, bench: DataFrame, tau: Double,
      broadcastMaxGrams: Long = decontamBroadcastMaxGrams): DataFrame = {
    val grams = benchGrams(bench)
    if (grams.count() <= broadcastMaxGrams) broadcastDecontam(train, grams, tau)
    else {
      val hits = train
        .select(col("doc_id"), explode(array_distinct(col("shingles"))).as("g"))
        .join(grams, "g")
        .groupBy("doc_id").agg(count(lit(1)).as("hits"))
      flagContaminated(train.select(col("doc_id"), size(col("shingles")).as("n_sh"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("hits"), lit(0L)).as("n_overlap"),
          (coalesce(col("hits"), lit(0L)).cast("double") / col("n_sh"))
            .as("overlap_frac")), tau)
    }
  }

  /** [[decontaminate]]'s default bound on the distinct benchmark grams it
    * broadcasts as one array; the streaming gate refuses a larger set.
    */
  private[graft] val decontamBroadcastMaxGrams = 100000L

  /** The distinct benchmark grams `g` of a (doc_id, shingles) frame,
    * tracked: the size decision counts them and the chosen arm reads them.
    */
  private[graft] def benchGrams(bench: DataFrame): DataFrame =
    graft.CacheRegistry.track(
      bench.select(explode(col("shingles")).as("g")).distinct())

  /** [[decontaminate]]'s broadcast arm, shared with the streaming gate
    * (EventStreams.decontamStream): the [[benchGrams]] set as one
    * broadcast array, each `train` row scored by a per-row
    * array_intersect. The broadcast array `bg` must stay its RIGHT
    * argument: [[graft.functions.IntersectSize]] keeps the right side's
    * set across rows (PipelineAdaptiveSpec and StreamingSpec pin it).
    */
  private[graft] def broadcastDecontam(train: DataFrame, grams: DataFrame,
      tau: Double): DataFrame = {
    val bg = grams.agg(collect_list(col("g")).as("bg"))
    val overlap = size(array_intersect(col("shingles"), col("bg")))
    flagContaminated(train.crossJoin(broadcast(bg))
      .select(col("doc_id"),
        overlap.cast("long").as("n_overlap"),
        (overlap.cast("double") / size(col("shingles"))).as("overlap_frac")), tau)
  }

  private def flagContaminated(scored: DataFrame, tau: Double): DataFrame =
    scored.withColumn("contaminated",
      when(col("overlap_frac") >= tau, 1L).otherwise(0L))

  /** Quality-aware representative selection: within every near-dup
    * cluster keep the BEST document (most tokens; ties to the lowest
    * doc_id), not the arbitrary min-id canonical that pipeline_curate
    * elects — the standard "keep the longest/cleanest copy" curation
    * verb. Output labels every document with its cluster, its token
    * count, and a kept/dropped audit flag.
    *
    * Scale shape (same discipline as pipeline_curate): the corpus never
    * shuffles. Cluster labels exist only for docs in the near-dup graph —
    * a sliver — so the election joins that sliver's token counts through
    * one TopKPerKeyExec (bounded heaps, k=1, no per-group sort) and the
    * final pass is the document scan plus two sliver-sized broadcast
    * lookups (cluster label, loser flag). The corpus-sized doc→cluster
    * map is never materialized; singletons keep themselves by
    * construction.
    */
  val keepBest: Op = Op(
    "pipeline_keep_best",
    s"""WITH RECURSIVE ${Graph.clustersCteBody},
      |toks AS (SELECT doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS tokens
      |  FROM documents),
      |ranked AS (
      |  SELECT c.doc_id, c.cluster, t.tokens,
      |    row_number() OVER (PARTITION BY c.cluster
      |                       ORDER BY t.tokens DESC, c.doc_id) AS rn
      |  FROM clusters c JOIN toks t ON t.doc_id = c.doc_id)
      |SELECT doc_id, cluster, tokens,
      |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS kept
      |FROM ranked""".stripMargin,
  ) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val toks = size(expr("filter(split(text, ' '), x -> x != '')")).cast("long")
    val pairs = Dedup.minhashLsh.fn(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    // (id, cluster) for near-dup docs only — dup-rate-proportional, so
    // every sliver join below is size-adaptive (broadcast under the
    // threshold, shuffled join past it) instead of a forced hint that
    // would OOM on a 30-50%-duplicate crawl
    val labelsRaw = Graph.componentLabels(pairs)
    // on the union-find local path the label count is driver-resident —
    // winners are a SUBSET of labels (≤ one per cluster), so that count
    // is a proven row bound and the winners broadcast needs no
    // persist + count() jobs of its own (r17; guide §1.2 — don't
    // re-learn what the driver knows). On the distributed path the
    // bound is None and winners keep the measured decision.
    val labelBound = graft.api.GraftApi.localRowCount(labelsRaw)
    val labels = graft.api.GraftApi.adaptiveBroadcast(labelsRaw)
    val sliver = docs.join(labels, col("doc_id") === col("id"))
      .select(col("doc_id"), col("cluster"), toks.as("tokens"))
    val winners = graft.api.GraftApi.adaptiveBroadcast(
      graft.api.GraftApi
        .topKPerKey(sliver, "cluster", "tokens", "doc_id", 1)
        .select(col("doc_id").as("w_id")),
      knownRowBound = labelBound)
    // kept = unlabeled (singleton cluster) OR election winner — the
    // same predicate the r16 form computed through an explicit losers
    // frame (labeled minus winners). Joining winners directly drops the
    // losers anti-join pass AND its adaptiveBroadcast persist + count
    // (r17): one fewer sliver materialization per run, same answer by
    // set algebra (losers ≡ labeled ∖ winners ⇒ ¬loser ≡ ¬labeled ∨
    // winner). w_id values are distinct (one row per cluster, a doc
    // wins at most its own cluster), so the left join cannot fan out.
    docs
      .join(labels, col("doc_id") === col("id"), "left")
      .join(winners, col("doc_id") === col("w_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"),
        toks.as("tokens"),
        when(col("id").isNull || col("w_id").isNotNull, 1L)
          .otherwise(0L).as("kept"))
  }

  /** Sequence packing — the batch-assembly step between a curated corpus
    * and a pretraining run: documents are laid end-to-end into a token
    * stream and cut into fixed-budget packs; each doc records its pack
    * and its offset inside it (a doc straddling a cut belongs to the pack
    * where it starts). Packing is inherently sequential, so the stream is
    * sharded first by a deterministic doc_id residue and each shard packs
    * independently — one window pass per shard, all shards in parallel,
    * no global order anywhere. At 100 TB the shard count is the
    * parallelism knob (here 8); the running-sum window inside a shard is
    * the standard partitioned cumsum, never a single-partition window.
    */
  val packSequences: Op = Op(
    "pipeline_pack_sequences",
    s"""WITH RECURSIVE
      |${TextAnalysis.bpeTokCtes},
      |toks AS (
      |  SELECT doc_id, doc_id % 8 AS shard, bpe_tokens AS tokens
      |  FROM bpe_tok),
      |cum AS (
      |  SELECT doc_id, shard, tokens,
      |    SUM(tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tokens AS start_tok
      |  FROM toks)
      |SELECT doc_id, shard, tokens,
      |  CAST(start_tok // 512 AS BIGINT) AS pack_id,
      |  CAST(start_tok % 512 AS BIGINT) AS pack_offset
      |FROM cum""".stripMargin,
  ) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val budget = 512L
    // TRUE token budgets (r13, VERDICT r12 #8): the packed `tokens` are
    // the merges-table BPE counts (TextAnalysis.bpeTokensCol — the same
    // frozen tokenizer text_bpe_tokencount registers), not the
    // whitespace heuristic — a pack budget in heuristic units under-
    // fills real sequence windows. Null text ≡ empty document: a
    // zero-token doc takes a real (pack_id, pack_offset) slot — a NULL
    // tokens would poison its own running sum and leave the row
    // unpackable downstream (bpeTokensCol counts coalesce'd text).
    val toks = Tables.documents(spark, dir).select(
      col("doc_id"), pmod(col("doc_id"), lit(8L)).as("shard"),
      TextAnalysis.bpeTokensCol.as("tokens"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks
      .withColumn("start_tok", sum(col("tokens")).over(w) - col("tokens"))
      .select(col("doc_id"), col("shard"), col("tokens"),
        expr(s"start_tok div $budget").as("pack_id"),
        pmod(col("start_tok"), lit(budget)).as("pack_offset"))
  }

  /** Shard manifest — the write side of the pipeline: every document is
    * assigned to one of 16 output shards by a content-stable hash
    * (md5 of the stable doc_id, same engine-portable convention as
    * q_sample_stratified), and the manifest aggregates what a shard
    * writer must know before committing: document count, token count,
    * byte-ish size (n_chars), and the id range per shard.
    *
    * At 100 TB the `shard` column IS the write plan:
    * `repartition(n, col("shard")).write.partitionBy("shard")` gives
    * hash-balanced output files regardless of how skewed doc_id ranges
    * are (a range-based split would put one crawl snapshot's monotone
    * ids into one hot shard). The manifest is one keyed aggregation over
    * long counters — the balance proof is readable straight off it, and
    * at this sf every shard lands within a few % of the mean.
    */
  val shardManifest: Op = Op(
    "pipeline_shard_manifest",
    """SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 16 AS shard,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS n_tokens,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM documents GROUP BY 1""".stripMargin,
  ) { (spark, dir) =>
    val shard = (graft.api.GraftApi.md5Coin("doc_id", 4) % 16).cast("int")
    Tables.documents(spark, dir)
      .withColumn("shard", shard)
      .withColumn("tokens",
        size(expr("filter(split(text, ' '), x -> x != '')")).cast("long"))
      .groupBy("shard").agg(
        count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("n_tokens"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
  }

  /** Tokenize→pack→WRITE — the end-to-end training-shard export, the
    * artifact a training run actually reads (VERDICT r13 #1). Composes
    * the registered pieces: the full BPE id stream per document
    * ([[graft.functions.BpeEncodeIds]], same frozen merges + pinned
    * vocab as text_bpe_encode), the [[packSequences]] fixed-budget pack
    * assignment over those TRUE token counts, and the
    * [[shardManifest]]-named write plan —
    * `repartition(n, shard).write.partitionBy("shard")` — landing
    * per-doc rows (doc_id, tokens, pack_id, pack_offset, ids) as
    * hive-partitioned parquet. The id arrays live ONLY in the shard
    * files; the op's gate-visible output is computed from the
    * READ-BACK (the q_orc_roundtrip discipline): per-shard doc/token/
    * pack counts, id range, and an order-exact id-stream checksum
    * (per-doc fold h = (h·131 + id+2) mod 1e9+7, summed per shard) that
    * the oracle recomputes from raw text — a corrupted, truncated, or
    * reordered id stream on disk cannot hash-match.
    *
    * 100 TB shape: one codegen'd scan computes the ids, the per-shard
    * running-sum window is the [[packSequences]] partitioned cumsum
    * (shard count = the parallelism knob), the write shuffle is the
    * same single exchange, and the read-back audit is a scan + one
    * partial-aggregated groupBy on the partition column. Nothing holds
    * a document's ids anywhere but its own row.
    */
  val tokenizeShards: Op = Op(
    "pipeline_tokenize_shards",
    s"""WITH RECURSIVE
      |${TextAnalysis.bpeTokCtes},
      |${TextAnalysis.bpeEncCte},
      |toks AS (
      |  SELECT doc_id, doc_id % 8 AS shard,
      |    CAST(len(ids) AS BIGINT) AS tokens,
      |    list_reduce(list_concat([CAST(0 AS BIGINT)],
      |      list_transform(ids, i -> CAST(i + 2 AS BIGINT))),
      |      (acc, x) -> (acc * 131 + x) % 1000000007) AS doc_hash
      |  FROM enc),
      |cum AS (
      |  SELECT doc_id, shard, tokens, doc_hash,
      |    SUM(tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tokens AS start_tok
      |  FROM toks)
      |SELECT shard, COUNT(*) AS n_docs,
      |  CAST(SUM(tokens) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(DISTINCT start_tok // 512) AS BIGINT) AS n_packs,
      |  CAST(SUM(doc_hash) AS BIGINT) AS ids_checksum,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM cum GROUP BY shard""".stripMargin,
  ) { (spark, dir) =>
    val budget = 512L
    val nShards = 8
    val tmp = Sources.scratchDir(
      "graft_shards_" + Integer.toHexString(dir.hashCode))
    writeTokenShards(Tables.documents(spark, dir), tmp, budget, nShards)
    // the audit reads ONLY what landed on disk — partition column from
    // the directory names (inferred int → restate long), everything
    // else from the row groups; the checksum re-folds the stored ids
    spark.read.parquet(tmp)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("n_tokens"),
        countDistinct(col("pack_id")).as("n_packs"),
        sum(expr("aggregate(ids, CAST(0 AS BIGINT), " +
          "(acc, x) -> (acc * 131 + (x + 2)) % 1000000007)"))
          .as("ids_checksum"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
  }

  /** The export writer behind [[tokenizeShards]], callable at any
    * target path: full BPE id stream per doc, pack assignment over the
    * true token counts, hive-partitioned parquet by shard. Split out so
    * specs can pin the LAYOUT contract on a path they control — a
    * shard-filtered read must prune to that shard's directory
    * (PartitionFilters on `shard`), the property that makes per-shard
    * training-reader jobs touch 1/n of the bytes at 100 TB.
    */
  private[graft] def writeTokenShards(docs: DataFrame, path: String,
      budget: Long, nShards: Int): Unit = {
    import org.apache.spark.sql.expressions.Window
    val enc = docs.select(
      col("doc_id"),
      pmod(col("doc_id"), lit(nShards.toLong)).as("shard"),
      graft.functions.BpeTokenCountFn.bpe_encode_ids(
        expr("filter(split(coalesce(text, ''), ' '), x -> x != '')"),
        TextAnalysis.bpeMerges).as("ids"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    enc
      .withColumn("tokens", size(col("ids")).cast("long"))
      .withColumn("start_tok", sum(col("tokens")).over(w) - col("tokens"))
      .select(col("doc_id"), col("shard"), col("tokens"),
        expr(s"start_tok div $budget").as("pack_id"),
        pmod(col("start_tok"), lit(budget)).as("pack_offset"),
        col("ids"))
      .repartition(nShards, col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
  }

  /** Context-window chunking — the other batch-assembly shape next to
    * [[packSequences]]: long documents are cut into fixed-size overlapping
    * windows (512 chars, 64 overlap → stride 448) so no training example
    * exceeds the context budget and no boundary sentence is seen by only
    * one side of a cut. Chunk count per doc is
    * max(1, ceil((len−512)/448)+1) — the final window is allowed to run
    * short rather than spilling a sliver.
    *
    * The whole operator is a per-row projection + explode inside one scan:
    * no shuffle, no join, output rows ≈ total_chars/stride. That is the
    * 100 TB shape — chunking parallelizes embarrassingly, and the
    * amplification factor is bounded by the stride, not by document count.
    * Both engines compute the window count from the same IEEE double
    * division (exact for integer quotients), so chunk ids align exactly.
    */
  val chunk: Op = Op(
    "pipeline_chunk",
    """SELECT doc_id, t.i AS chunk_id,
      |  substr(text, CAST((t.i - 1) * 448 + 1 AS BIGINT), 512) AS chunk,
      |  length(substr(text, CAST((t.i - 1) * 448 + 1 AS BIGINT), 512)) AS chunk_chars
      |FROM documents,
      |  UNNEST(generate_series(1, GREATEST(CAST(1 AS BIGINT),
      |    CAST(ceil((length(text) - 512) / CAST(448 AS DOUBLE)) AS BIGINT) + 1))) AS t(i)
      |WHERE length(text) > 0""".stripMargin,
  ) { (spark, dir) =>
    chunkFrame(Tables.documents(spark, dir), "doc_id", "text", 512, 64)
  }

  /** The generic face of [[chunk]]: fixed-size overlapping windows over
    * any (id, text) frame. Returns (idCol, chunk_id, chunk, chunk_chars).
    */
  def chunkFrame(df: DataFrame, idCol: String, textCol: String,
      window: Int, overlap: Int): DataFrame = {
    require(window > overlap && overlap >= 0,
      s"window ($window) must exceed overlap ($overlap)")
    val stride = window - overlap
    df.filter(length(col(textCol)) > 0)
      .withColumn("n_chunks", greatest(lit(1L),
        ceil((length(col(textCol)) - lit(window)).cast("double") / lit(stride)) + lit(1L)))
      .select(col(idCol),
        explode(sequence(lit(1L), col("n_chunks"))).as("chunk_id"),
        col(textCol).as("__chunk_text"))
      .withColumn("chunk",
        expr(s"substring(__chunk_text, cast((chunk_id - 1) * $stride + 1 as int), $window)"))
      .select(col(idCol), col("chunk_id"), col("chunk"),
        length(col("chunk")).cast("long").as("chunk_chars"))
  }

  /** Deterministic train/val/test split (90/5/5) — the reproducibility
    * contract of a dataset release: assignment hashes the STABLE doc_id
    * (the [[shardManifest]] / q_sample_stratified md5 convention), so a
    * document keeps its split across reruns, re-shards, and corpus
    * growth — new documents land in splits without moving old ones, and
    * no test example can drift into train because a file got rewritten.
    * Emits the per-split manifest (counts + char mass), which is also the
    * balance proof; the per-doc labels are the same CASE expression
    * applied in a scan. One partial-aggregated groupBy over 3 keys — no
    * meaningful shuffle at any scale. (Split leakage via near-duplicates
    * is the dedup family's job upstream; the split itself must only be
    * stable and disjoint, which the hash gives by construction.)
    */
  val split: Op = Op(
    "pipeline_split",
    """WITH labeled AS (
      |  SELECT doc_id, n_chars,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 AS h
      |  FROM documents)
      |SELECT CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val' ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM labeled GROUP BY 1""".stripMargin,
  ) { (spark, dir) =>
    splitAssign(Tables.documents(spark, dir), "doc_id")
      .groupBy("split").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))
  }

  /** The generic face of [[split]]: per-row split labels over any frame
    * with a stable id, for arbitrary integer-percent weights (must sum
    * to 100). Returns the input plus a `split` column.
    */
  def splitAssign(df: DataFrame, idCol: String,
      splits: Seq[(String, Int)] =
        Seq(("train", 90), ("val", 5), ("test", 5))): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).sum == 100 &&
      splits.forall(_._2 > 0),
      s"split weights must be positive integer percents summing to 100: $splits")
    val h = graft.api.GraftApi.md5Coin(idCol, 4) % 100
    val bounds = splits.map(_._2).scanLeft(0)(_ + _).tail  // cumulative
    val label = splits.map(_._1).zip(bounds).init
      .foldRight(lit(splits.last._1): Column) { case ((name, hi), rest) =>
        when(h < hi, name).otherwise(rest)
      }
    df.withColumn("split", label)
  }

  /** Mixture interleaving — the scheduling complement of q_mix_balance:
    * given a target weight per language (here en 0.4, others 0.15), every
    * document gets a virtual time vtime = (2·rank+1)/(2·w), and reading
    * in ascending vtime yields the target mixture in every prefix (stride
    * scheduling: a weight-w source emits its rank-th doc at time
    * ≈ rank/w, so a time-t prefix holds ≈ t·w of its docs). Deterministic
    * and engine-exact: one integer enumeration + one IEEE division per
    * row, no float sums.
    *
    * The enumeration avoids the per-source global sort a naive
    * ROW_NUMBER over (lang) would pay (partition depth = docs per lang):
    * docs shard by doc_id residue, rank within (lang, shard) — 8×
    * parallelism, bounded partitions, the [[packSequences]] discipline —
    * and global rank = local·8 + shard. vtime is a SORT KEY the consumer
    * orders by (like pack_id); the op itself never sorts globally.
    */
  val interleave: Op = Op(
    "pipeline_interleave",
    """WITH r AS (
      |  SELECT doc_id, lang, doc_id % 8 AS shard,
      |    ROW_NUMBER() OVER (PARTITION BY lang, doc_id % 8 ORDER BY doc_id) - 1 AS lr
      |  FROM documents
      |  -- mixSchedule's contract: only domains IN the weight map ride the
      |  -- mixture — a bare ELSE would schedule langs (or NULL) the Spark
      |  -- side excludes, silently diverging on the first 6-language corpus
      |  WHERE lang IN ('en', 'zh', 'es', 'de', 'fr'))
      |SELECT doc_id, lang, lr * 8 + shard AS enum_rank,
      |  CAST(2 * (lr * 8 + shard) + 1 AS DOUBLE) /
      |    (2 * (CASE WHEN lang = 'en' THEN 0.4 ELSE 0.15 END)) AS vtime
      |FROM r""".stripMargin,
  ) { (spark, dir) =>
    // explicit shards=8: the oracle enumerates doc_id % 8, and ranks are
    // only replayable under a pinned shard count
    mixSchedule(Tables.documents(spark, dir), "doc_id", "lang",
      Map("en" -> 0.4, "zh" -> 0.15, "es" -> 0.15, "de" -> 0.15,
        "fr" -> 0.15), shards = 8)
  }

  /** The generic face of [[interleave]]: stride-scheduled mixture over
    * any frame with a stable id and a domain column, for arbitrary
    * positive weights (normalized internally). Returns the input's id +
    * domain plus (enum_rank, vtime); read ascending vtime for the
    * mixture. `shards` is the enumeration-parallelism knob — per-(domain,
    * shard) window depth is docs-per-domain/shards. Defaults (shards ≤ 0)
    * to the DATA-SIZED count ([[graft.api.GraftApi.partitionsFor]], one
    * cheap count of the in-mixture rows), so the window depth stays
    * bounded as the corpus grows instead of a constant that leaves
    * billions of rows per sort partition at 100 TB. Explicit `shards`
    * pins the enumeration (ranks depend on it — replay needs the same
    * value, which is why the registered op passes 8 to match its oracle).
    */
  def mixSchedule(df: DataFrame, idCol: String, domainCol: String,
      weights: Map[String, Double], shards: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      s"mixSchedule weights must be positive: $weights")
    val total = weights.values.sum
    val w = weights.foldLeft(lit(null).cast("double")) {
      case (rest, (dom, wt)) =>
        when(col(domainCol) === dom, lit(wt / total)).otherwise(rest)
    }
    val inMix = df.filter(col(domainCol).isInCollection(weights.keys.toSeq))
    val s = if (shards > 0) shards
      else graft.api.GraftApi.partitionsFor(df.sparkSession, inMix.count())
    val shard = pmod(col(idCol), lit(s.toLong))
    val local = row_number().over(
      Window.partitionBy(col(domainCol), pmod(col(idCol), lit(s.toLong)))
        .orderBy(col(idCol)))
    inMix
      .withColumn("shard", shard)
      .withColumn("enum_rank", (local - 1).cast("long") * s + col("shard"))
      .select(col(idCol), col(domainCol), col("enum_rank"),
        ((col("enum_rank") * 2 + 1).cast("double") / (w * 2)).as("vtime"))
  }

  /** Dataset-card statistics: the per-(lang, source) summary block a
    * published training set ships with — document counts, token/char
    * volumes, empty-doc counts, and mean document length. One scan with
    * map-side partial aggregation into a |lang × source|-row result, so
    * at 100 TB it costs one pass and a sliver-sized shuffle. Counts and
    * sums are integer-exact; the one double division (mean) is a single
    * IEEE op on exact integers, engine-bit-identical.
    */
  val datasetCard: Op = Op(
    "pipeline_dataset_card",
    """SELECT lang, source,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(tokens) AS BIGINT) AS total_tokens,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(SUM(is_empty) AS BIGINT) AS n_empty,
      |  CAST(SUM(tokens) AS DOUBLE) / COUNT(*) AS mean_tokens
      |FROM (SELECT lang, source, n_chars,
      |        len(list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '')) AS tokens,
      |        CASE WHEN coalesce(text, '') = '' THEN 1 ELSE 0 END AS is_empty
      |      FROM documents)
      |GROUP BY lang, source""".stripMargin,
  ) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("lang"), col("source"), col("n_chars"),
        size(expr("filter(split(coalesce(text, ''), ' '), x -> x != '')"))
          .as("tokens"),
        when(coalesce(col("text"), lit("")) === "", 1L).otherwise(0L)
          .as("is_empty"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("tokens").cast("long").as("total_tokens"),
        sum("n_chars").cast("long").as("total_chars"),
        sum("is_empty").cast("long").as("n_empty"),
        (sum("tokens").cast("double") / count(lit(1))).as("mean_tokens"))
  }

  val ops: Seq[Op] =
    Seq(curate, qualityFilter, decontamNgram, keepBest, packSequences,
      shardManifest, tokenizeShards, chunk, split, interleave, datasetCard)
}
