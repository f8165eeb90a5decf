package graft

import org.apache.spark.sql.functions._

/**
 * Cache-lifetime convention regression (r13 verdict item 8). Two
 * blessed shapes (CacheUtil doc):
 *  - HANDLE (`*WithCache` / `*WithHandle`): columnar Dataset persist
 *    where the columnar scan + size statistics are load-bearing
 *    (triangleCounts, prefixFilterJoin, minhashPairs...); the caller
 *    releases via the returned handle, after which the session
 *    CacheManager must be empty;
 *  - gcPersist: eager localCheckpoint outside the CacheManager,
 *    blocks drained by the ContextCleaner once the caller drops the
 *    result (cmsCells' reuse-scan hash frame, text_ensemble's
 *    signal frame — slim frames where the columnar scan and the
 *    planner statistics are NOT load-bearing).
 * Either way, a library caller running many operators in one
 * long-lived session never needs Bench's clearCache.
 */
class CacheHygieneSpec extends SparkSpecBase {

  private def docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")

  test("handle-convention operators release their columnar caches on demand") {
    spark.sharedState.cacheManager.clearCache()
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val (tri, freeTri) = graft.operators.Graph.triangleCountsWithCache(edges, "a", "b")
    tri.collect()
    val (pp, freePp) = graft.operators.Dedup.prefixFilterJoinWithCache(
      docs.limit(60), "doc_id", "text", t100 = 60)
    pp.collect()
    val (bp, freeBp) = graft.operators.Associations.basketPairsWithCache(
      docs.select((col("doc_id") % 7).as("b"), (col("doc_id") % 13).as("i")),
      Seq("b"), "i")
    bp.collect()
    assert(!spark.sharedState.cacheManager.isEmpty, "the columnar caches should be live")
    freeTri(); freePp(); freeBp()
    assert(spark.sharedState.cacheManager.isEmpty,
      "handles must release every Dataset-level cache entry")
  }

  test("gcPersist operators leave the session CacheManager empty") {
    spark.sharedState.cacheManager.clearCache()
    graft.operators.Sketch.cmsCells(docs.select(col("doc_id")), "doc_id", 4, 10,
      reuseScan = true).collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "gcPersist must not register Dataset-level cache entries")
  }

  test("gcPersist blocks drain via the ContextCleaner after the result is dropped") {
    val sc = spark.sparkContext
    // ids copied out of the map: `keySet` is a view over the map's
    // strong RDD values (and `--` may return it unchanged), so holding
    // it would itself keep the operator's RDD reachable
    def persisted: Set[Int] = sc.getPersistentRDDs.keysIterator.toSet
    val before = persisted
    // scope the result so the reference is droppable
    locally {
      val n = graft.operators.Sketch.cmsCells(docs.select(col("doc_id")),
        "doc_id", 4, 10, reuseScan = true).count()
      assert(n > 0)
      assert((persisted -- before).nonEmpty, "the operator should have cached while live")
    }
    // ContextCleaner is GC-driven: force collections until the weak
    // refs enqueue and the cleaner unpersists (bounded wait). The
    // cleaner's weak refs point at TENURED objects, which only an
    // old-generation collection clears — so the "did a qualifying GC
    // actually run" witness is the old/full collectors' MXBean
    // counts (a weakly-referenced young-gen canary dies to the minor
    // GCs the pressure loop itself forces and proves nothing). Under
    // -XX:+DisableExplicitGC with no organic old collection the count
    // stays flat and the test degrades to a cancel, not a failure.
    import scala.jdk.CollectionConverters._
    def oldGcCount(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
      .filter { b =>
        val n = b.getName.toLowerCase
        n.contains("old") || n.contains("marksweep") || n.contains("full")
      }
      .map(_.getCollectionCount.max(0L)).sum
    val oldGcBefore = oldGcCount()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while ((persisted -- before).nonEmpty && System.nanoTime() < deadline) {
      // allocate real garbage so even non-explicit collectors make progress
      var pressure = new Array[Array[Byte]](64)
      (0 until 64).foreach(i => pressure(i) = new Array[Byte](1 << 20))
      pressure = null
      System.gc()
      Thread.sleep(250)
    }
    if ((persisted -- before).nonEmpty && oldGcCount() == oldGcBefore) {
      cancel("no old-generation collection ran within the deadline (explicit " +
        "GC disabled?) — cannot exercise the ContextCleaner drain in this JVM")
    }
    assert((persisted -- before).isEmpty,
      s"gcPersist blocks must drain once the caller drops the result; leaked: ${persisted -- before}")
  }

  test("incrementalNearDedup releases its history state when the batch guard throws") {
    spark.sharedState.cacheManager.clearCache()
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.incrementalNearDedup(docs.limit(10), docs.limit(20), "doc_id", "text",
        maxBatchRows = 5L)
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "an oversized batch must not leave the history state registered with the CacheManager")
  }

  /** Ids of the RDDs persisted right now (copied out of the map: see
   *  the drain test above). */
  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keysIterator.toSet

  test("connectedComponents frees its node cache and edge checkpoint when maxIter is hit") {
    spark.sharedState.cacheManager.clearCache()
    import spark.implicits._
    val before = persistedIds
    val chain = (1L to 2000L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalStateException] {
      graft.operators.Graph.connectedComponents(chain, "a", "b", maxIter = 1, localMaxEdges = 0)
    }
    assert(persistedIds -- before == Set.empty, "no RDD may stay persisted after the throw")
    assert(spark.sharedState.cacheManager.isEmpty, "the node cache must leave the CacheManager")
  }

  test("ancestorPairs frees its pair and jump checkpoints when no fixpoint is reached") {
    import spark.implicits._
    val before = persistedIds
    val chain = (1L to 64L).map(k => (k, k - 1)).toDF("node", "parent")
    intercept[IllegalArgumentException] {
      graft.operators.Graph.ancestorPairs(chain, "node", "parent", maxRounds = 2)
    }
    assert(persistedIds -- before == Set.empty, "no checkpoint may stay persisted after the throw")
  }

  test("ancestorPairs frees its pair and jump checkpoints when the parent relation has a cycle") {
    import spark.implicits._
    val before = persistedIds
    val cyclic = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("node", "parent")
    intercept[IllegalArgumentException] {
      graft.operators.Graph.ancestorPairs(cyclic, "node", "parent")
    }
    assert(persistedIds -- before == Set.empty, "no checkpoint may stay persisted after the throw")
  }
}
