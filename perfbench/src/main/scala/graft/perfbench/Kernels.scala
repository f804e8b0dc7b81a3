package graft.perfbench

import graft.functions.{bloom, simhash, vec, BpeTokenCountFn, ShingleSketch, TokenCounts}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.functions._

/** The functions layer measured on its own: each graft expression is
  * bound into a codegen `UnsafeProjection` and evaluated on one thread
  * over a fixed batch of rows taken from the workload's generated inputs
  * (the lowest doc_id / vec_id rows). Reports ns per row and bytes
  * allocated per row (`ThreadMXBean`). Runs outside every timed pass.
  */
object Kernels {
  private val batchRows = 512
  private val codebookSize = 16

  /** name -> (ns per row, allocated bytes per row) */
  def measure(spark: SparkSession, dir: String,
      budgetNs: Long): Map[String, (Double, Double)] = {
    val docs = local(spark, spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("text").isNotNull).orderBy("doc_id").limit(batchRows)
      .select(col("text"),
        expr("filter(split(text, ' '), x -> x != '')").as("words"),
        // the simhash input the dedup operators build: md5 of each
        // distinct word 3-gram (the words themselves below three)
        expr("transform(array_distinct(case when size(split(text, ' ')) >= 3" +
          " then transform(sequence(1, size(split(text, ' ')) - 2), i ->" +
          " concat_ws(' ', element_at(split(text, ' '), i)," +
          " element_at(split(text, ' '), i + 1), element_at(split(text, ' '), i + 2)))" +
          " else split(text, ' ') end), t -> md5(t))").as("md5s"),
        xxhash64(col("text")).as("key")))
    val embs = spark.read.parquet(s"$dir/embeddings.parquet")
      .orderBy("vec_id").limit(batchRows)
      .select(col("vec_id"), col("embedding"),
        sqrt(vec.vec_dot(col("embedding"), col("embedding"))).as("nrm"))
    val book = embs.limit(codebookSize).select(sort_array(collect_list(struct(
      col("vec_id").cast("long").as("cent_id"),
      col("embedding").cast("array<double>").as("c_emb"),
      col("nrm").as("c_nrm")))).as("cbook"))
    val points = local(spark, embs.crossJoin(book))
    // a filter over every other batch key: half the probes hit
    val filterBytes = docs.filter(col("key") % 2 === 0)
      .select(bloom.bloom_filter_agg(col("key"), batchRows.toLong))
      .head().getAs[Array[Byte]](0)

    val kernels: Seq[(String, DataFrame, Column)] = Seq(
      ("shingle_md5_bottom_k", docs, ShingleSketch.shingle_md5_bottom_k(col("text"), 5, 8)),
      ("shingle_md5_grams", docs, ShingleSketch.shingle_md5_grams(col("text"), 5, 1)),
      ("simhash_bits", docs, simhash.simhash_bits(col("md5s"))),
      ("text_token_counts", docs, TokenCounts.text_token_counts(col("text"))),
      ("bpe_token_count", docs, BpeTokenCountFn.bpe_token_count(col("words"),
        graft.operators.TextAnalysis.bpeMerges)),
      ("vec_dot", points, vec.vec_dot(col("embedding"), col("embedding"))),
      ("vec_argmin", points, vec.vec_argmin(col("embedding"), col("nrm"),
        col("cbook"), l2 = false)),
      ("might_contain", docs, bloom.might_contain(filterBytes, col("key"))))
    kernels.map { case (name, input, k) => name -> time(input, k, budgetNs) }.toMap
  }

  /** The rows of `df`, collected once, as a local relation. */
  private def local(spark: SparkSession, df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  private def time(input: DataFrame, kernel: Column,
      budgetNs: Long): (Double, Double) = {
    val (bound, rows) = input.select(kernel.as("k")).queryExecution.analyzed match {
      case Project(Seq(a: Alias), rel: LocalRelation) =>
        (BindReferences.bindReference(a.child, rel.output), rel.data.toArray)
    }
    val proj = UnsafeProjection.create(Seq(bound))
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    var sink = 0L
    def batch(): Unit = {
      var i = 0
      while (i < rows.length) { sink += proj(rows(i)).getSizeInBytes; i += 1 }
    }
    val w0 = System.nanoTime()
    while (System.nanoTime() - w0 < budgetNs / 2) batch()
    var batches = 0
    val a0 = mx.getThreadAllocatedBytes(tid)
    val t0 = System.nanoTime()
    while (batches == 0 || System.nanoTime() - t0 < budgetNs) { batch(); batches += 1 }
    val ns = (System.nanoTime() - t0).toDouble
    val alloc = (mx.getThreadAllocatedBytes(tid) - a0).toDouble
    val n = batches.toDouble * rows.length
    if (sink == Long.MinValue) println(sink) // keeps the projections live
    (ns / n, alloc / n)
  }
}
