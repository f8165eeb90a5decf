package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Cache-lifetime regression. Two lifetimes (CacheUtil doc):
 *  - released inside the function: a paired persist/unpersist or a
 *    freed checkpoint, on every exit path including a throwing guard;
 *  - owned by the result: [[graft.operators.CacheUtil.cached]] (the
 *    columnar in-memory relation `Dataset.persist` builds, kept out
 *    of the CacheManager) or gcPersist (an eager localCheckpoint that
 *    also cuts the plan); the ContextCleaner drains the blocks once
 *    the caller drops the result.
 * Either way, a library caller running many operators in one
 * long-lived session never needs Bench's clearCache. The exceptions
 * still registering with the CacheManager are `Graph.pageRank`'s
 * persists and the caller-released `Classify.NbModel` and `Lm` model
 * objects.
 */
class CacheHygieneSpec extends SparkSpecBase {

  private def docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")

  /** Ids of the RDDs persisted right now, copied out of the map:
   *  `keySet` is a view over the map's strong RDD values (and `--` may
   *  return it unchanged), so holding it would itself keep an
   *  operator's RDD reachable. */
  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keysIterator.toSet

  /** Forces collections until every RDD persisted since `before` has
   *  been unpersisted by the ContextCleaner (30 s bound) and returns
   *  the ids still persisted. The cleaner is GC-driven and its weak
   *  refs point at TENURED objects, which only an old-generation
   *  collection clears — so the "did a qualifying GC actually run"
   *  witness is the old/full collectors' MXBean counts (a
   *  weakly-referenced young-gen canary dies to the minor GCs the
   *  pressure loop itself forces and proves nothing). Under
   *  -XX:+DisableExplicitGC with no organic old collection the count
   *  stays flat and the calling test degrades to a cancel, not a
   *  failure. */
  private def drainSince(before: Set[Int]): Set[Int] = {
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
    while ((persistedIds -- before).nonEmpty && System.nanoTime() < deadline) {
      // allocate real garbage so even non-explicit collectors make progress
      var pressure = new Array[Array[Byte]](64)
      (0 until 64).foreach(i => pressure(i) = new Array[Byte](1 << 20))
      pressure = null
      System.gc()
      Thread.sleep(250)
    }
    if ((persistedIds -- before).nonEmpty && oldGcCount() == oldGcBefore) {
      cancel("no old-generation collection ran within the deadline (explicit " +
        "GC disabled?) — cannot exercise the ContextCleaner drain in this JVM")
    }
    persistedIds -- before
  }

  test("operator caches: no CacheManager entry, drained once the result is dropped") {
    import graft.operators.{Associations, Dedup, Graph, TextAnalysis}
    import spark.implicits._
    spark.sharedState.cacheManager.clearCache()
    val d = docs.select("doc_id", "text")
    val blocked = d.withColumn("blk", col("doc_id") % 5)
    val history = d.filter(col("doc_id") % 2 === 0)
    val batch = d.filter(col("doc_id") % 2 === 1).limit(50)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "basketPairs" -> (() => Associations.basketPairs(
        d.select((col("doc_id") % 7).as("b"), (col("doc_id") % 13).as("i")), Seq("b"), "i")),
      "winnowMatches" -> (() => TextAnalysis.winnowMatches(d, "doc_id", "text")),
      "minhashPairs" -> (() => Dedup.minhashPairs(d, "doc_id", "text")),
      "nearDuplicates" -> (() => Dedup.nearDuplicates(d, "doc_id", "text")),
      "simhashPairs" -> (() => Dedup.simhashPairs(d, "doc_id", "text")),
      "jaccardPairs" -> (() => Dedup.jaccardPairs(blocked, "doc_id", "text", Seq("blk"))),
      "sortedNeighborhood" -> (() => Dedup.sortedNeighborhood(d, "doc_id", "text")),
      "containmentPairs" -> (() => Dedup.containmentPairs(blocked, "doc_id", "text", Seq("blk"))),
      "incrementalDedup" -> (() => Dedup.incrementalDedup(batch, history, "text")),
      "incrementalNearDedup" -> (() => Dedup.incrementalNearDedup(batch, history, "doc_id", "text")),
      "incrementalNearDedupWithState" -> (() => Dedup.incrementalNearDedupWithState(
        batch, Dedup.nearDupState(history, "doc_id", "text"), "doc_id", "text")),
      "exactDupSpans" -> (() => Dedup.exactDupSpans(d, "doc_id", "text")),
      "prefixFilterJoin" -> (() => Dedup.prefixFilterJoin(d, "doc_id", "text")),
      "connectedComponents" -> (() => Graph.connectedComponents(edges, "a", "b")),
      "dedupClusters" -> (() => Graph.dedupClusters(d, "doc_id", "text")),
      "triangleCounts" -> (() => Graph.triangleCounts(edges, "a", "b")))
    ops.foreach { case (name, op) =>
      val before = persistedIds
      // the result lives only in this frame, popped before the drain
      def collectWhileLive(): Unit = {
        val out = op()
        out.collect()
        assert(spark.sharedState.cacheManager.isEmpty, s"$name registered a CacheManager entry")
        assert((persistedIds -- before).nonEmpty, s"$name should hold its cache while the result is live")
        java.lang.ref.Reference.reachabilityFence(out)
      }
      collectWhileLive()
      val leaked = drainSince(before)
      assert(leaked.isEmpty, s"$name: blocks must drain once the result is dropped; leaked: $leaked")
    }
  }

  test("a self-join over a cached frame with an output ordering plans and runs") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    spark.sharedState.cacheManager.clearCache()
    val n = docs.count()
    val before = persistedIds
    def joinWhileLive(): Unit = {
      val sorted = docs.select(col("doc_id"), (col("doc_id") % 7).as("r")).orderBy("r")
      assert(sorted.queryExecution.optimizedPlan.outputOrdering.nonEmpty,
        "the cached plan must carry a logical output ordering")
      val c = graft.operators.CacheUtil.cached(sorted)
      val j = c.as("a").join(c.as("b"), col("a.doc_id") === col("b.doc_id"))
      assert(j.count() == n, "one match per id")
      val scans = new AdaptiveSparkPlanHelper {}.collect(j.queryExecution.executedPlan) {
        case s: InMemoryTableScanExec => s
      }
      assert(scans.size == 2, s"both join sides must scan the cache:\n${j.queryExecution.executedPlan}")
      assert(spark.sharedState.cacheManager.isEmpty, "cached must not register with the CacheManager")
      val rel = c.queryExecution.analyzed.collectFirst { case r: InMemoryRelation => r }.get
      assert(rel.computeStats().rowCount.contains(BigInt(n)),
        s"materialized statistics must carry the row count: ${rel.computeStats()}")
    }
    joinWhileLive()
    val leaked = drainSince(before)
    assert(leaked.isEmpty, s"the cache must drain once the frames are dropped; leaked: $leaked")
  }

  test("dedupClusters frees nearDuplicates' shingle cache before returning, with no GC") {
    spark.sharedState.cacheManager.clearCache()
    val before = persistedIds
    val out = graft.operators.Graph.dedupClusters(docs.select("doc_id", "text"), "doc_id", "text")
    out.collect()
    // only the label checkpoint may stay persisted while the result is
    // live; an un-checkpointed RDD here is the columnar shingle cache
    val live = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(live.nonEmpty, "the result should hold its label checkpoint")
    val cachesHeld = live.collect { case (id, rdd) if !rdd.isCheckpointed => id }
    assert(cachesHeld.isEmpty, s"the shingle cache must be released inside dedupClusters: $cachesHeld")
    java.lang.ref.Reference.reachabilityFence(out)
  }

  test("basketPairs leaves the CacheManager empty when its hot-basket guard throws") {
    spark.sharedState.cacheManager.clearCache()
    intercept[IllegalArgumentException] {
      graft.operators.Associations.basketPairs(
        docs.select((col("doc_id") % 2).as("b"), col("doc_id").as("i")), Seq("b"), "i",
        maxItemsPerBasket = 3L)
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "a throwing guard must not leave the basket-item cache registered with the CacheManager")
  }

  test("no *WithCache / *WithHandle twin or () => Unit release handle in src/main") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val twin = """def\s+\w+(WithCache|WithHandle)\b""".r
    val handle = """\(DataFrame,\s*\(\)\s*=>\s*Unit\)""".r
    val hits = files(root).filter(_.getName.endsWith(".scala")).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if twin.findFirstIn(line).isDefined || handle.findFirstIn(line).isDefined =>
          s"${f.getPath}:${i + 1}: ${line.trim}"
      }.toList finally src.close()
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("gcPersist operators leave the session CacheManager empty") {
    spark.sharedState.cacheManager.clearCache()
    graft.operators.Sketch.cmsCells(docs.select(col("doc_id")), "doc_id", 4, 10,
      reuseScan = true).collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "gcPersist must not register Dataset-level cache entries")
  }

  test("gcPersist blocks drain via the ContextCleaner after the result is dropped") {
    val before = persistedIds
    // scope the result so the reference is droppable
    locally {
      val n = graft.operators.Sketch.cmsCells(docs.select(col("doc_id")),
        "doc_id", 4, 10, reuseScan = true).count()
      assert(n > 0)
      assert((persistedIds -- before).nonEmpty, "the operator should have cached while live")
    }
    val leaked = drainSince(before)
    assert(leaked.isEmpty,
      s"gcPersist blocks must drain once the caller drops the result; leaked: $leaked")
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
