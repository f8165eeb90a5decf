package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Cache-lifetime regression. Two lifetimes (CacheUtil doc):
 *  - released inside the function: a cache or checkpoint freed with
 *    `CacheUtil.release`, on every exit path including a throwing
 *    guard;
 *  - owned by the result: [[graft.operators.CacheUtil.cached]] (the
 *    columnar in-memory relation `Dataset.persist` builds, kept out
 *    of the CacheManager) or gcPersist (an eager checkpoint that also
 *    cuts the plan); the ContextCleaner drains the blocks once the
 *    caller drops the result.
 * Either way, a library caller running many operators in one
 * long-lived session never needs a session-wide clearCache, and a
 * source scan keeps every cache call inside CacheUtil.
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

  /** What an operator's collected result keeps persisted while live. */
  private sealed trait Held
  /** result-owned caches and/or checkpoints */
  private case object ResultBlocks extends Held
  /** result-owned checkpoints only: the in-function caches are released */
  private case object CheckpointsOnly extends Held
  /** nothing: every cache is released inside the function */
  private case object NoBlocks extends Held

  /** Runs each op, collects its result and checks, while the result is
   *  live, that no CacheManager entry exists and that what stays
   *  persisted matches `held`; then that every block drains once the
   *  result is dropped. */
  private def checkLifetimes(ops: Seq[(String, Held, () => DataFrame)]): Unit =
    ops.foreach { case (name, held, op) =>
      val before = persistedIds
      // the result lives only in this frame, popped before the drain
      def collectWhileLive(): Unit = {
        val out = op()
        out.collect()
        assert(spark.sharedState.cacheManager.isEmpty, s"$name registered a CacheManager entry")
        val live = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }
        held match {
          case ResultBlocks =>
            assert(live.nonEmpty, s"$name should hold its cache while the result is live")
          case CheckpointsOnly =>
            assert(live.nonEmpty, s"$name should hold its checkpoints while the result is live")
            val caches = live.collect { case (id, rdd) if !rdd.isCheckpointed => id }
            assert(caches.isEmpty, s"$name must release its caches inside the function: $caches")
          case NoBlocks =>
            assert(live.isEmpty, s"$name must release its caches inside the function: ${live.keys}")
        }
        java.lang.ref.Reference.reachabilityFence(out)
      }
      collectWhileLive()
      val leaked = drainSince(before)
      assert(leaked.isEmpty, s"$name: blocks must drain once the result is dropped; leaked: $leaked")
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
    checkLifetimes(ops.map { case (name, op) => (name, ResultBlocks, op) })
  }

  test("pageRank, the NB / LM models and the in-function caches: no CacheManager entry, drained") {
    import graft.operators.{Ann, Bpe, Classify, Graph, Lm, Sketch, TextAnalysis}
    import spark.implicits._
    spark.sharedState.cacheManager.clearCache()
    val d = docs.select("doc_id", "text", "source")
    val train = d.filter(col("doc_id") % 2 === 0)
    val labeled = train.withColumn("label", (col("doc_id") % 3).cast("string"))
    val edges = d.select((col("doc_id") % 40).as("a"), ((col("doc_id") * 7 + 3) % 40).as("b"),
      (col("doc_id") % 5).as("w"))
    val seeds = Seq(0L, 1L).toDF("s")
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val cands = emb.filter(col("vec_id") < 50).withColumn("rel", col("vec_id").cast("double"))
    val toks = d.select(explode(split(col("text"), " ")).as("term"))
    val ops: Seq[(String, Held, () => DataFrame)] = Seq(
      ("pageRank", ResultBlocks, () => Graph.pageRank(edges, "a", "b")),
      ("trainNb + classifyNb", ResultBlocks, () => Classify.classifyNb(d, "doc_id", "text",
        Classify.trainNb(labeled, "label", "doc_id", "text"))),
      ("trainBigram + crossEntropy", ResultBlocks, () => Lm.crossEntropy(d, "doc_id", "text",
        Lm.trainBigram(train, "doc_id", "text"))),
      ("trainKneserNey + crossEntropyKn", ResultBlocks, () => Lm.crossEntropyKn(d, "doc_id", "text",
        Lm.trainKneserNey(train, "doc_id", "text"))),
      ("heavyHitters", NoBlocks, () => Sketch.heavyHitters(toks, "term", 8)),
      ("sourceDrift", NoBlocks, () => TextAnalysis.sourceDrift(d, "source", "text")),
      ("mmrSelect", NoBlocks, () => Ann.mmrSelect(cands, "vec_id", "embedding", "rel", k = 4)),
      ("Bpe.train", NoBlocks, () =>
        Bpe.train(d, "text", nMerges = 3, maxWordLen = 12, localMaxWords = 0).toDF()),
      ("bfsHops", CheckpointsOnly, () =>
        Graph.bfsHops(edges, "a", "b", seeds, "s", maxHops = 3, localMaxEdges = 0)),
      ("labelPropagation", CheckpointsOnly, () =>
        Graph.labelPropagation(edges, "a", "b", rounds = 2, localMaxEdges = 0)),
      ("sssp", CheckpointsOnly, () =>
        Graph.sssp(edges, "a", "b", "w", seeds, "s", maxRounds = 3, localMaxEdges = 0)))
    checkLifetimes(ops)
  }

  test("classifyNb leaves the CacheManager empty when its empty-training-slice guard throws") {
    import graft.operators.Classify
    spark.sharedState.cacheManager.clearCache()
    val empty = docs.filter(col("doc_id") < 0).withColumn("label", lit("x"))
    val e = intercept[IllegalArgumentException] {
      Classify.classifyNb(docs, "doc_id", "text", Classify.trainNb(empty, "label", "doc_id", "text"))
    }
    assert(e.getMessage.contains("vocab v=0"), e.getMessage)
    assert(spark.sharedState.cacheManager.isEmpty,
      "a throwing guard must not leave the count table registered with the CacheManager")
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

  /** `path:line: text` for each line of a `.scala` file under one of
   *  `roots` (files or directories, from the project root) that
   *  matches one of `patterns`. */
  private def scanSources(roots: Seq[String], patterns: Seq[scala.util.matching.Regex]): Seq[String] = {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    roots.map(new java.io.File(_)).flatMap { r =>
      assert(r.exists, s"run from the project root: ${r.getAbsolutePath}")
      files(r)
    }.filter(_.getName.endsWith(".scala")).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if patterns.exists(_.findFirstIn(line).isDefined) =>
          s"${f.getPath}:${i + 1}: ${line.trim}"
      }.toList finally src.close()
    }
  }

  test("no *WithCache / *WithHandle twin or () => Unit release handle in src/main") {
    val hits = scanSources(Seq("src/main/scala"),
      Seq("""def\s+\w+(WithCache|WithHandle)\b""".r, """\(DataFrame,\s*\(\)\s*=>\s*Unit\)""".r))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("operators, catalog and registry cache, cut lineage and free blocks only through CacheUtil") {
    val main = "src/main/scala/graft"
    val hits = scanSources(Seq(s"$main/operators", s"$main/catalog", s"$main/QueryRegistry.scala"),
      Seq("""\.persist\(""".r, """\.cache\(\)""".r, """\.unpersist\(""".r,
        """localCheckpoint\(""".r, """\.checkpoint\(""".r))
      .filterNot(_.startsWith(s"$main/operators/CacheUtil.scala:"))
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
