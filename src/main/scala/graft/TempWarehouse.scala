package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The get-or-build persisted warehouses (sketch, gram-count,
  * paragraph-hash, content-hash, bloom, IVF and IVF-PQ state) and their
  * temp directories, registered for deletion at JVM exit. Before r14
  * each builder called Files.createTempDirectory and never cleaned up —
  * and since in-memory-catalog sessions rebuild per JVM, every
  * Verify/Bench/smoke invocation leaked its full index bytes into /tmp
  * forever (243 orphaned dirs / ~20 GB found when this was fixed). A
  * real warehouse deployment points these at managed storage instead;
  * the exit hook is the correct lifetime for a session-scoped catalog.
  */
object TempWarehouse {
  private val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  sys.addShutdownHook {
    dirs.forEach { d =>
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(d))
    }
  }

  /** Create a fresh temp dir under the given prefix and register it for
    * deletion at JVM exit.
    */
  def dir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    dirs.add(p.toString): Unit
    p
  }

  /** Get-or-build one persisted state: `key` (everything the state's
    * bytes depend on — corpus dir, shard tag, geometry, layout version)
    * hashes into the database `<dbPrefix>_<md5(key) first 12 hex>`,
    * created on a temp location on first use. Under a per-database lock,
    * `build(db)` runs unless EVERY name in `tables` already exists, so a
    * build that failed part-way is rebuilt on the next call instead of
    * serving a missing table. Returns `spark.table` of each name, in
    * order. Builds are deterministic: in-memory-catalog sessions rebuild
    * per session, a warehouse deployment keeps the tables across jobs.
    */
  def getOrBuild(spark: SparkSession, dbPrefix: String, key: String,
      tables: Seq[String])(build: String => Unit): Seq[DataFrame] = {
    val keyHex = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    val db = s"${dbPrefix}_$keyHex"
    locks.computeIfAbsent(db, _ => new Object).synchronized {
      if (!spark.catalog.databaseExists(db)) {
        val loc = dir(s"${dbPrefix}_tbl")
        spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
      }
      if (!tables.forall(t => spark.catalog.tableExists(s"$db.$t"))) build(db)
    }
    tables.map(t => spark.table(s"$db.$t"))
  }

  /** Write `df` as `table` bucketBy(key)/sortBy(key), repartitioned by
    * `key` first so each bucket is ONE file — Spark only trusts bucket
    * order on single-file buckets, and serve-time MERGE joins then read
    * the state with zero exchange and zero sort.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int, key: String): Unit =
    df.repartition(buckets, col(key))
      .write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(table)
}
