package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge}

/**
 * The one module in `graft.operators`, `graft.catalog` and the
 * query registry that caches an intermediate, cuts its lineage or
 * frees its blocks (a source-scan guard in CacheHygieneSpec keeps it
 * so). An intermediate has one of two lifetimes:
 *  - released inside the function: [[cached]] or [[gcPersist]]
 *    around work the function finishes itself, then [[release]] on
 *    every exit path;
 *  - owned by the result: the intermediate is consumed more than
 *    once by the RETURNED plan, so its blocks must outlive the call
 *    and go when the caller drops the result. [[cached]] is the
 *    default; [[gcPersist]] is for lineage cuts.
 *
 * Neither registers with the session's CacheManager. A
 * `Dataset.persist` entry is held by a STRONG reference until an
 * explicit unpersist or a session-wide clearCache, so a library
 * caller running many operators would accumulate executor storage
 * without bound. Result-owned blocks are tracked by the
 * ContextCleaner through a weak reference and free themselves once
 * the last frame over them is garbage-collected. CacheHygieneSpec
 * pins both halves (no CacheManager entry; blocks drain after GC).
 */
private[graft] object CacheUtil {

  /** Lazily-materialized columnar cache: the same `InMemoryRelation`
   *  `Dataset.persist` builds (MEMORY_AND_DISK, compressed column
   *  batches, row-count and size statistics once materialized), kept
   *  out of the CacheManager. The statistics and the columnar scan
   *  are load-bearing where the cached frame feeds joins: converting
   *  these caches to lineage-cut checkpoints measured 5-7x slower on
   *  prefixFilterJoin and ~3x on triangleCounts (downstream joins
   *  lost their broadcast decisions and columnar pruning). The plan
   *  is NOT cut: the relation keeps its child plan for recomputation,
   *  and the physical scan reports the cached plan's partitioning and
   *  sort order, so a frame cached after `repartition` +
   *  `sortWithinPartitions` feeds a sort-merge join with no exchange
   *  or sort on its side. */
  def cached(df: DataFrame): DataFrame = GraftBridge.inMemory(df)

  /** Eagerly-materialized cache that also cuts the plan: a reliable
   *  `checkpoint` when the session has a checkpoint dir (cluster fault
   *  tolerance; `spark.cleaner.referenceTracking.cleanCheckpoints`
   *  deletes the files with the RDD), a `localCheckpoint` otherwise.
   *  Both store the INTERNAL row representation (a `df.rdd.persist`
   *  round-trip would deserialize every row into external Row
   *  objects, measured 5x slower on a wide token-array frame) and
   *  restart the logical plan from the stored blocks, so iterative
   *  operators whose state feeds the next round twice keep a flat
   *  plan, and multi-consumer reuse never re-analyzes the upstream
   *  subtree. For SLIM frames (a few fixed-width columns) whose
   *  consumers don't depend on cache statistics. */
  def gcPersist(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** Free a [[cached]] or [[gcPersist]] frame now: its blocks AND any
   *  reliable-checkpoint files. Both live outside the CacheManager
   *  (`Dataset.unpersist` is a NO-OP for them), so without this a
   *  superseded intermediate stays resident until a JVM GC lets the
   *  ContextCleaner collect it. Release a predecessor only once its
   *  successor is materialized: scanning a released
   *  `InMemoryRelation` rebuilds its buffers. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => Left(l.rdd)
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => Right(r.cacheBuilder)
    }.foreach {
      // Spark's own release for the builder: unpersists only buffers
      // that were built (never builds them) and resets its state
      case Right(builder) => builder.clearCache(blocking = false)
      case Left(rdd) =>
        rdd.unpersist(false)
        rdd.getCheckpointFile.foreach { p =>
          try {
            val path = new org.apache.hadoop.fs.Path(p)
            path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).delete(path, true)
          } catch { case _: Exception => () } // best effort — the cleaner's job otherwise
        }
    }
}
