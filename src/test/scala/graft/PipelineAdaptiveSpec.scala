package graft

import graft.operators.Pipeline
import org.apache.spark.sql.functions._

/** The adaptive small-side guard in pipeline_curate / pipeline_keep_best
  * (GraftApi.adaptiveBroadcast): dup-rate-proportional slivers broadcast
  * below a row threshold and fall back to a plain shuffled join above it.
  * Pins (a) result equality of both paths on a HIGH-dup-rate corpus — the
  * web-crawl regime where the forced-broadcast formulation would OOM —
  * and (b) the plan shapes: broadcast joins below the threshold, shuffled
  * joins above it.
  */
class PipelineAdaptiveSpec extends SparkSpec {

  private lazy val highDupDir: String = PipelineAdaptiveSpec.highDupDir(this)

  private def withShufflePath[A](body: => A): A = {
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("graft.adaptiveBroadcast.maxRows", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally {
      spark.conf.unset("graft.adaptiveBroadcast.maxRows")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
    }
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] = {
    val out = df.collect().map(_.toSeq.mkString("|")).toSet
    CacheRegistry.drain()
    out
  }

  test("curate: shuffled anti-join path ≡ broadcast path on a 60%-dup corpus") {
    val viaBroadcast = rows(Pipeline.curate.fn(spark, highDupDir))
    val viaShuffle = withShufflePath(rows(Pipeline.curate.fn(spark, highDupDir)))
    assert(viaBroadcast == viaShuffle,
      s"missing=${viaShuffle -- viaBroadcast} extra=${viaBroadcast -- viaShuffle}")
    // sanity: the corpus really exercises the drop list — 3 of every
    // 4-variant cluster are dropped (120 docs), singletons+winners kept
    assert(viaBroadcast.size == 80, viaBroadcast.size)
  }

  test("keep-best: shuffled path ≡ broadcast path, best variant wins either way") {
    val viaBroadcast = rows(Pipeline.keepBest.fn(spark, highDupDir))
    val viaShuffle = withShufflePath(rows(Pipeline.keepBest.fn(spark, highDupDir)))
    assert(viaBroadcast == viaShuffle,
      s"missing=${viaShuffle -- viaBroadcast} extra=${viaBroadcast -- viaShuffle}")
    assert(viaBroadcast.size == 200) // every doc labeled
  }

  test("minhash/ngram verify: shuffled cand path ≡ broadcast path on the dup corpus") {
    // r5: the dedup verify joins gained the same adaptive cand guard the
    // pipelines use — both paths must produce the identical pair set on
    // a corpus whose cand list is genuinely non-trivial (60% near-dups)
    val docs = Tables.documents(spark, highDupDir)
    val mhB = rows(graft.operators.Dedup.minhashPairs(docs, 0.2))
    val mhS = withShufflePath(rows(graft.operators.Dedup.minhashPairs(docs, 0.2)))
    assert(mhB == mhS, s"missing=${(mhS -- mhB).take(3)} extra=${(mhB -- mhS).take(3)}")
    assert(mhB.nonEmpty)
    val ngB = rows(graft.operators.Dedup.ngramJaccard.fn(spark, highDupDir))
    val ngS = withShufflePath(rows(graft.operators.Dedup.ngramJaccard.fn(spark, highDupDir)))
    assert(ngB == ngS, s"missing=${(ngS -- ngB).take(3)} extra=${(ngB -- ngS).take(3)}")
    assert(ngB.nonEmpty)
  }

  test("decontaminate: posting-list join form ≡ broadcast-array form on a large benchmark") {
    // a benchmark that is a fifth of the corpus — thousands of distinct
    // grams, the regime where the per-row array_intersect set rebuild
    // is the r5-flagged compute cliff and the op must switch itself to
    // the posting-list equi-join
    val sh = graft.operators.Dedup.shingleDigests(Tables.documents(spark, highDupDir))
    val train = sh.filter(col("doc_id") % 5 =!= 0)
    val bench = sh.filter(col("doc_id") % 5 === 0)
    val viaBroadcast = rows(Pipeline.decontaminate(train, bench, 0.5))
    val viaJoin = rows(
      Pipeline.decontaminate(train, bench, 0.5, broadcastMaxGrams = 0L))
    assert(viaBroadcast == viaJoin,
      s"missing=${(viaJoin -- viaBroadcast).take(3)} extra=${(viaBroadcast -- viaJoin).take(3)}")
    assert(viaBroadcast.nonEmpty)
    // the join form must not carry the per-row intersect anywhere in its plan
    val pJ = Pipeline.decontaminate(train, bench, 0.5, broadcastMaxGrams = 0L)
      .queryExecution.executedPlan.toString
    CacheRegistry.drain()
    assert(!pJ.contains("array_intersect"), pJ)
  }

  test("plan shape: broadcast joins below the threshold, shuffled joins above it") {
    // below threshold (default 4M): every sliver join is a broadcast —
    // the corpus side never shuffles for a join
    val pB = Pipeline.curate.fn(spark, highDupDir)
      .queryExecution.executedPlan.toString
    CacheRegistry.drain()
    assert(pB.contains("BroadcastHashJoin"), pB)
    assert(!pB.contains("SortMergeJoin"), s"corpus side shuffled below threshold:\n$pB")
    // above threshold (forced via maxRows=0, size-based broadcasts off):
    // the same join runs un-hinted as a shuffled join — no broadcast of
    // the dup-rate-proportional sliver anywhere
    val pS = withShufflePath {
      val p = Pipeline.curate.fn(spark, highDupDir)
        .queryExecution.executedPlan.toString
      CacheRegistry.drain()
      p
    }
    assert(pS.contains("SortMergeJoin") || pS.contains("ShuffledHashJoin"), pS)
    assert(!pS.contains("BroadcastHashJoin"), s"forced broadcast above threshold:\n$pS")
  }
}

object PipelineAdaptiveSpec {

  /** 40 near-dup clusters of 4 one-token variants + 40 singletons:
    * 200 docs, 60% of them near-duplicates. Cluster vocabularies are
    * disjoint so cross-cluster Jaccard is exactly 0. Returns the temp
    * dir holding its documents table.
    */
  def highDupDir(spec: SparkSpec): String = {
    import spec.spark.implicits._
    val docs = (0 until 40).flatMap { c =>
      val words = (0 until 24).map(w => s"c${c}w$w")
      (0 until 4).map { v =>
        val t = (if (v == 0) words
                 else words.updated(10 + v, s"c${c}v$v")).mkString(" ")
        (c * 10L + v, t)
      }
    } ++ (0 until 40).map { u =>
      (1000L + u, (0 until 24).map(w => s"u${u}w$w").mkString(" "))
    }
    val df = docs.map { case (id, t) => (id, t, "en", s"s$id", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = spec.tmpDir()
    spec.writeTable(dir, "documents", df)
    dir
  }
}
