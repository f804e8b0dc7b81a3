package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftshim.Shim

/** The get-or-build contract every persisted serve state rides:
  * key → database name, one build per database under races, a cached
  * second call that fires no Spark job, and a part-way build that is
  * rebuilt rather than served.
  */
class TempWarehouseSpec extends SparkSpec {

  private def md5Hex12(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)

  private def freshKey(tag: String): String = s"spec|$tag|${System.nanoTime}"

  private def dropDb(key: String): Unit =
    spark.sql(s"DROP DATABASE IF EXISTS graft_tw_${md5Hex12(key)} CASCADE"): Unit

  test("getOrBuild: a second call with the same key skips build and fires no Spark job") {
    val key = freshKey("cached")
    val builds = new AtomicInteger
    def call() = TempWarehouse.getOrBuild(spark, "graft_tw", key, Seq("t")) { db =>
      builds.incrementAndGet()
      spark.range(10).write.mode("overwrite").saveAsTable(s"$db.t")
    }
    try {
      call()
      assert(builds.get == 1)
      assert(spark.catalog.tableExists(s"graft_tw_${md5Hex12(key)}.t"))
      val jobs = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
      }
      Shim.drainListenerBus(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      val second = try {
        val out = call()
        Shim.drainListenerBus(spark.sparkContext)
        out
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(builds.get == 1)
      assert(jobs.get == 0, s"${jobs.get} Spark jobs on the cached path")
      assert(second.head.count() == 10L)
    } finally dropDb(key)
  }

  test("getOrBuild: two threads racing on one key build once") {
    val key = freshKey("race")
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map(_ => pool.submit(new Callable[Long] {
        def call(): Long = {
          start.await()
          TempWarehouse.getOrBuild(spark, "graft_tw", key, Seq("t")) { db =>
            builds.incrementAndGet()
            Thread.sleep(200)
            spark.range(7).write.mode("overwrite").saveAsTable(s"$db.t")
          }.head.count()
        }
      }))
      start.countDown()
      assert(calls.map(_.get(120, TimeUnit.SECONDS)) == Seq(7L, 7L))
      assert(builds.get == 1)
    } finally {
      pool.shutdownNow()
      dropDb(key)
    }
  }

  test("getOrBuild: a build that fails after its first table is rebuilt on the next call") {
    // the IVF builders write `stats` before `lists`/`codes`, so a
    // completion check on any one table can serve a missing one
    val key = freshKey("partial")
    val attempts = new AtomicInteger
    def call() = TempWarehouse.getOrBuild(spark, "graft_tw", key, Seq("a", "b")) { db =>
      spark.range(3).write.mode("overwrite").saveAsTable(s"$db.a")
      if (attempts.incrementAndGet() == 1) throw new IllegalStateException("build died")
      spark.range(5).write.mode("overwrite").saveAsTable(s"$db.b")
    }
    try {
      intercept[IllegalStateException](call())
      val Seq(a, b) = call()
      assert(attempts.get == 2)
      assert(a.count() == 3L && b.count() == 5L)
    } finally dropDb(key)
  }

  test("writeBucketed: one file per bucket") {
    val key = freshKey("bucketed")
    try {
      val Seq(t) = TempWarehouse.getOrBuild(spark, "graft_tw", key, Seq("t")) { db =>
        TempWarehouse.writeBucketed(spark.range(100).toDF("k"), s"$db.t", 4, "k")
      }
      val loc = spark.sql(s"DESCRIBE TABLE EXTENDED graft_tw_${md5Hex12(key)}.t")
        .collect().collectFirst { case r if r.getString(0) == "Location" => r.getString(1) }
        .get
      val files = new java.io.File(new java.net.URI(loc)).listFiles()
        .map(_.getName).filter(_.endsWith(".parquet"))
      assert(files.length == 4, files.mkString(", "))
      assert(t.count() == 100L)
    } finally dropDb(key)
  }
}
