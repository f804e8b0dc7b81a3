package graft

import org.apache.spark.sql.DataFrame

/** Tracks DataFrames persisted inside operator builders so harnesses that
  * run many queries in one session (Verify, Bench, the driver) can release
  * cached blocks between queries instead of leaning on LRU eviction.
  *
  * Operators call [[track]] where they would call `.persist()`; a harness
  * calls [[drain]] after materializing each query's result. A library user
  * composing one pipeline can ignore this entirely — the persisted data
  * stays hot for the lifetime of their job, which is the normal Spark
  * contract.
  */
object CacheRegistry {
  private val live = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** persist() + remember for the next drain(). */
  def track(df: DataFrame): DataFrame = synchronized {
    live += df
    df.persist()
  }

  /** [[track]] at an explicit storage level — DISK_ONLY callers
    * materialize a shared stage once without taking storage-memory
    * away from execution (the shuffle-file discipline, spelled out). */
  def track(df: DataFrame,
      level: org.apache.spark.storage.StorageLevel): DataFrame =
    synchronized {
      live += df
      df.persist(level)
    }

  /** [[track]] + EAGER materialization (the reference's addIndex idiom).
    *
    * Lazy persist() has a race under AQE: when several of a plan's
    * exchanges depend on the same cached frame, AQE submits their
    * materialization jobs CONCURRENTLY, and every job that starts before
    * the cache's blocks land recomputes the frame's lineage from source
    * (block-level get-or-compute only dedups per partition, after the
    * work has been scheduled). Measured r18 on dedup_incremental: the
    * delta sketch stage — the op's dominant kernel — ran as three
    * concurrent stage copies (task-time 9.6 s / 3.0 s / 0.13 s; the
    * third found warm blocks). Pinning runs the build exactly once,
    * before the fan-out, so use this for tracked frames that are (a)
    * expensive to compute and (b) read by more than one exchange of the
    * same query. count() touches every partition and a persist boundary
    * materializes all cached columns regardless of the count's pruning.
    *
    * Cost: pinning runs one Spark job (the count()) while the plan is
    * being BUILT, not when it is executed — a caller that only builds a
    * plan containing a pinned frame (to explain it, say) still pays for
    * computing that frame.
    */
  def pin(df: DataFrame): DataFrame = {
    val cached = track(df)
    cached.count()
    cached
  }

  /** Remember an already-persisted DataFrame for the next drain(). */
  def register(df: DataFrame): DataFrame = synchronized {
    live += df
    df
  }

  /** Number of currently tracked caches (spec hook: ops that claim to be
    * cache-free can pin it at zero). */
  def liveCount: Int = synchronized(live.size)

  def drain(): Unit = drain(blocking = false)

  /** `blocking = true` waits for block removal — the measurement-harness
    * form: leftover storage blocks from a previous query otherwise
    * starve the next query's execution memory mid-run (unified memory
    * eviction churn → aggregation spills charged to the wrong op).
    */
  def drain(blocking: Boolean): Unit = synchronized {
    live.foreach(_.unpersist(blocking))
    live.clear()
  }
}
