package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge}

/**
 * Cache lifetimes for operator intermediates. There are two:
 *  - released inside the function: a paired `persist`/`unpersist`
 *    (or a freed checkpoint) around work the function finishes
 *    itself, on every exit path;
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

  /** Lazily-materialized columnar cache owned by the returned frame:
   *  the same `InMemoryRelation` `Dataset.persist` builds
   *  (MEMORY_AND_DISK, compressed column batches, row-count and size
   *  statistics once materialized), kept out of the CacheManager.
   *  The statistics and the columnar scan are load-bearing where the
   *  cached frame feeds joins: converting these caches to lineage-cut
   *  checkpoints measured 5-7x slower on prefixFilterJoin and ~3x on
   *  triangleCounts (downstream joins lost their broadcast decisions
   *  and columnar pruning). The plan is NOT cut: the relation keeps
   *  its child plan for recomputation. */
  def cached(df: DataFrame): DataFrame = GraftBridge.inMemory(df)

  /** Eagerly-materialized cache that also cuts the plan, owned by the
   *  returned frame: `localCheckpoint` stores the INTERNAL row
   *  representation (a `df.rdd.persist` round-trip would deserialize
   *  every row into external Row objects, measured 5x slower on a wide
   *  token-array frame), keeps the blocks out of the CacheManager, and
   *  cuts the logical plan so multi-consumer reuse never re-analyzes
   *  the upstream subtree. For SLIM frames (a few fixed-width columns)
   *  whose consumers don't depend on cache statistics. */
  def gcPersist(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
}
