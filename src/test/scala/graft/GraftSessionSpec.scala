package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Session settings that only take effect when `GraftSession.local`'s
  * builder sets them (static confs, read once per JVM). */
class GraftSessionSpec extends SparkSpec {

  test("the generated-class cache holds more than Spark's default 100 entries") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000")
    // each literal is inlined into its projection's generated source, so
    // every query compiles one class of its own
    def project(i: Int): Long =
      spark.range(3).selectExpr(s"id * $i + ${1000 + i} AS x")
        .collect().map(_.getLong(0)).sum
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME
    val first = project(1)
    (2 to 150).foreach(project)
    val before = compiled.getCount
    assert(project(1) == first)
    assert(compiled.getCount == before,
      s"${compiled.getCount - before} classes recompiled: the first projection was evicted")
  }
}
