package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/**
 * Distributed graph operators for training-data pipelines — the stage
 * AFTER near-duplicate pair generation: pairs are edges, duplicate
 * GROUPS are connected components, and dedup keeps one canonical doc
 * per component.
 *
 * Re-expresses the duplicate-clustering step standard corpus dedup
 * pipelines bolt onto MinHash-LSH output (the reference engine stops
 * at spatial cross-match pairs; LLM-corpus dedup needs the transitive
 * closure too).
 */
object Graph {

  import CacheUtil.{cached, gcPersist, release}

  /** Rebuilds a [[CacheUtil.gcPersist]] frame over its backing RDD to
   *  RESET Catalyst's size estimate: `Dataset.checkpoint` deliberately
   *  carries the original plan's estimate into the LogicalRDD, but
   *  size-only stats MULTIPLY across a join, so an iteration whose
   *  accumulator JOINS a frame derived from itself compounds the
   *  estimate — digit count DOUBLES per round, and by round ~15 the
   *  driver burns minutes in million-digit BigInteger multiplications
   *  inside the stats visitor (observed live in the 1M-node SSSP
   *  probe; [[bfsHops]] survives only because its estimate grows
   *  linearly). The rebuild drops the inherited estimate to the
   *  constant default; the extra row decode is map-only and lazy. The
   *  checkpoint handle stays the one to [[CacheUtil.release]]. */
  private def fresh(t: DataFrame): DataFrame =
    t.sparkSession.createDataFrame(t.rdd, t.schema)

  /**
   * Connected components by alternating large-star / small-star
   * rounds (Kiveris et al. 2014, "Connected Components in MapReduce
   * and Beyond"): every node converges to a direct edge to the
   * smallest id in its component.
   *
   * Scale shape: each round is two (groupBy-min + equi-join) passes
   * over the edge set — standard shuffles on the node id, no
   * collects, no blowup beyond |E| (both operators only ever REWIRE
   * existing adjacencies toward smaller ids). Rounds are
   * O(log n) — NOT diameter-bound: min-label propagation needs one
   * round per hop, so a chain-shaped duplicate graph (transcript
   * families, crawl mirrors) of diameter 10^4 means 10^4 full-edge
   * shuffles; star contraction collapses the same chain in ~log
   * rounds. `maxIter` bounds the alternations; convergence is an
   * exact edge-set fixed-point check (count + one-sided exceptAll —
   * both sets are distinct), not a checksum that could collide.
   *
   * Returns (id, comp) for every node incident to an edge
   * (self-loop-only nodes label themselves).
   *
   * Canonical edge sets of at most `localMaxEdges` edges skip the
   * rounds: a driver-side union-find gives the same labels (its
   * min-id root per component IS the star fixed point). The default
   * is [[DriverLocal.maxEdges]]; 0 forces the star rounds.
   *
   * The labels are a lineage-cut checkpoint owned by the result.
   * Throws IllegalStateException if the propagation has not converged
   * within `maxIter` rounds — silently returning partial labels would
   * corrupt downstream dedup — after freeing its own blocks.
   */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 30,
                          localMaxEdges: Long = DriverLocal.maxEdges): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1: $maxIter")
    // non-numeric ids would cast to null, never equi-join, and return
    // every node as its own singleton component with no error
    Seq(aCol, bCol).foreach { c =>
      import org.apache.spark.sql.types._
      val dt = pairs.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"connectedComponents: edge column '$c' must be integral (found $dt) — " +
          "map string ids to numeric ids first")
    }
    val a = col(aCol).cast("long"); val b = col(bCol).cast("long")
    // ONE materialization of the (often expensive — banded near-dup
    // joins, fuzzy-verify pipelines) pair frame: the node universe and
    // the canonical edge set both derive from this slim two-column
    // checkpoint. Deriving nodes directly from `pairs` re-executed the
    // whole upstream pair computation a second time just to count
    // distinct endpoints (measured +1.8 s on dedup_cluster at sf0.1).
    val pr = gcPersist(pairs.select(a.as("pa"), b.as("pb")))
    // node universe (the output contract) — self-loop-only nodes
    // carry no star edge but must still label themselves
    val nodes = cached(pr.select(col("pa").as("id")).union(pr.select(col("pb").as("id")))
      .distinct())
    nodes.count()
    // canonical undirected edges, oriented hi > lo; both star
    // operators preserve the orientation (they only rewire toward
    // smaller ids), so every round's edge set stays canonical and
    // the fixed-point compare needs no normalization
    var edges = pr.select(greatest(col("pa"), col("pb")).as("hi"),
        least(col("pa"), col("pb")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct() // truncated below, with phi observed on the same job
    // convergence witness: (count, sum of hi+lo) as exact decimals.
    // Every rewire either operator performs points an endpoint at a
    // STRICTLY smaller id, and the post-op distinct only removes
    // rows — so the pair is monotone non-increasing through BOTH ops
    // and unchanged across a round IFF the round was the identity
    // (which is the paper's two-operator termination rule). A
    // monotone exact potential cannot collide the way a hash checksum
    // could. The aggregate is OBSERVED (CollectMetrics) on the frame
    // the round checkpoints anyway, so the witness rides the round's
    // own materialization job instead of re-reading the checkpoint as
    // a separate per-round aggregate job — exact under task retries
    // (observed metrics count only successful tasks), and on shallow
    // near-dup graphs where per-round job cost dominates it removes
    // one of three jobs per round.
    def phiObserved(e: DataFrame): (DataFrame, org.apache.spark.sql.Observation) = {
      val obs = new org.apache.spark.sql.Observation()
      (e.observe(obs, count(lit(1)).as("n"),
        sum(col("hi").cast("decimal(38,0)") + col("lo").cast("decimal(38,0)")).as("s")), obs)
    }
    def phiOf(obs: org.apache.spark.sql.Observation): (Long, String) = {
      val m = obs.get
      (m("n").asInstanceOf[Long],
        Option(m("s")).map(_.asInstanceOf[java.math.BigDecimal].toPlainString).getOrElse("0"))
    }
    var phiPrev = {
      val (df0, obs0) = phiObserved(edges)
      edges = gcPersist(df0)
      phiOf(obs0)
    }
    // nodes (counted) and the canonical edge checkpoint are both
    // materialized — the pair checkpoint has served its two readers
    release(pr)
    // Scale-adaptive LOCAL degenerate (the MOC localMax /
    // overlapJoin-broadcast precedent): the canonical edge count is
    // already known FOR FREE from the observed phi on the initial
    // truncate, and below the bounded ceiling a driver-side
    // union-find replaces the star rounds outright — each star round
    // is 2 checkpoint jobs plus edge-sized shuffles whose job floors
    // dwarf tiny duplicate graphs (near-dup pair sets at bench scale
    // are a few thousand edges; measured 2.3 s/round of pure
    // overhead). Same labels by construction: union-find's
    // min-id-per-component IS the star fixed point. Corpus-sized
    // edge sets (over the ceiling) keep the distributed rounds
    // unchanged.
    if (localMaxEdges > 0 && phiPrev._1 <= localMaxEdges) {
      val collected = edges.select(col("hi"), col("lo")).collect()
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrElse(x, x) != x) {
          val p = parent(x)
          val gp = parent.getOrElse(p, p)
          parent(x) = gp // path halving
          x = gp
        }
        x
      }
      collected.foreach { r =>
        val ra = find(r.getLong(0)); val rb = find(r.getLong(1))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      // attach-smaller-root union keeps every root the minimum of the
      // roots merged into it, so find(x) IS min id of x's component;
      // a node appears once per incident edge — dedupe before the
      // join or labels would multiply the node rows
      val labels = collected.iterator.flatMap(r => Iterator(r.getLong(0), r.getLong(1)))
        .distinct.map(n => (n, find(n))).toSeq
      val labelsDf = DriverLocal.frame(pairs.sparkSession, labels, "id", "comp")
      val out = gcPersist(
        nodes.join(broadcast(labelsDf), Seq("id"), "left")
          .select(col("id"), coalesce(col("comp"), col("id")).as("comp")))
      release(edges)
      release(nodes)
      return out
    }
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      // LARGE-STAR: each node n connects its strictly-larger
      // neighbors to m = min(neighbors(n) ∪ {n})
      val sym = edges.select(col("hi").as("n"), col("lo").as("nb"))
        .union(edges.select(col("lo").as("n"), col("hi").as("nb")))
      val lmins = sym.groupBy("n").agg(min("nb").as("mn"))
        .select(col("n"), least(col("n"), col("mn")).as("m"))
      val afterLarge = gcPersist(
        sym.join(lmins, "n").filter(col("nb") > col("n"))
          .select(col("nb").as("hi"), col("m").as("lo")).distinct())
      // SMALL-STAR: edges now point hi -> lo; each hi rewires its
      // (all smaller) neighbors and itself to m = min of them
      val joined = afterLarge.join(
        afterLarge.groupBy("hi").agg(min("lo").as("m")), "hi")
      // phi is monotone through both ops, so equality across the
      // whole round proves BOTH were the identity — the paper's
      // termination rule, observed on the checkpoint job itself
      val (smallObserved, obsS) = phiObserved(
        joined.filter(col("lo") > col("m"))
          .select(col("lo").as("hi"), col("m").as("lo"))
          .union(joined.select(col("hi"), col("m").as("lo")))
          .distinct())
      val afterSmall = gcPersist(smallObserved)
      val phiS = phiOf(obsS)
      converged = phiS == phiPrev
      phiPrev = phiS
      release(afterLarge)
      release(edges)
      edges = afterSmall
      it += 1
    }
    if (!converged) {
      release(edges)
      release(nodes)
      throw new IllegalStateException(
        s"connectedComponents did not converge within maxIter=$maxIter star rounds — " +
          "this bound is O(log n), not diameter; raise maxIter only for astronomically " +
          "deep graphs (2^30 ids need ~30 rounds)")
    }
    // at the fixed point the edge set is a star per component rooted
    // at its min id: edges ARE the labels for non-min nodes, roots
    // and self-loop-only nodes label themselves
    val starLabels = edges.select(col("hi").as("id"), col("lo").as("comp"))
      .union(edges.select(col("lo").as("id"), col("lo").as("comp")))
      .groupBy("id").agg(min("comp").as("comp"))
    val out = gcPersist(
      nodes.join(starLabels, Seq("id"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp")))
    release(edges)
    release(nodes)
    out
  }

  /**
   * Corpus-scale duplicate clustering: LSH near-duplicate pairs
   * ([[Dedup.nearDuplicates]]) → connected components → one canonical
   * doc (the min id) per duplicate cluster. Every input row comes back
   * with its `cluster_id` (its own id when it has no near-dups) and an
   * `is_canonical` flag — filtering on the flag IS the dedup.
   */
  def dedupClusters(df: DataFrame, idCol: String, textCol: String,
                    minJaccard: Double = 0.8, numPerms: Int = 128, bands: Int = 32,
                    shingleN: Int = 3): DataFrame = {
    // component labels are fully materialized by the iteration's own
    // actions (a lineage-cut checkpoint), so the result does not need
    // the (much heavier) shingle/signature cache: free it now rather
    // than at the next driver GC
    val pairs = Dedup.nearDuplicates(df, idCol, textCol, minJaccard, numPerms, bands, shingleN)
    val comp = connectedComponents(pairs, "id_a", "id_b")
    release(pairs)
    df.join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("comp"), col(idCol)))
      .withColumn("is_canonical", col("cluster_id") === col(idCol))
      .drop("comp")
  }

  /**
   * Fixed-iteration PageRank in pure INTEGER fixed-point arithmetic
   * (Page et al. 1999; the de-facto importance prior for crawl-graph
   * document weighting in pretraining pipelines). Every rank is a
   * scaled BIGINT and every update is `teleport + (d100 * sum(r div
   * od)) div 100` — integer sums are order-independent, so the result
   * is BIT-EXACT under any partitioning and any engine: a floating-
   * point PageRank can never hash-match across engines; this one does.
   *
   * Semantics: simple directed graph (parallel edges collapsed);
   * rank_0 = `scale` for every node incident to an edge;
   * `teleport = (100-d100)*scale/100` (exact — scale is a multiple of
   * 100). Dangling nodes (no out-edges) leak their mass — the
   * standard simplification; symmetric graphs have none. Ranks are
   * un-normalized (proportional to the rank-sum-N convention).
   *
   * Scale shape: degree table and degree-annotated edges are built
   * ONCE, hash-partitioned by src and cached — each of the K
   * iterations then shuffles only the slim (node, rank) table into
   * that layout plus one map-side-combined groupBy(dst); the edge set
   * itself never re-shuffles. Driver holds no per-node state.
   * Overflow headroom: needs `d100 * N_in_hot * scale < 2^63` — at
   * the default 1e9 scale that allows ~10^8-in-degree hubs.
   */
  def pageRank(edges0: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 5, d100: Int = 85,
               scale: Long = 1000000000L): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"pageRank: iterations must be in [1,100], got $iterations")
    require(d100 >= 0 && d100 <= 100, s"pageRank: d100 must be in [0,100], got $d100")
    require(scale > 0 && scale % 100 == 0, s"pageRank: scale must be a positive multiple of 100")
    // materialize the canonical edge set ONCE (the CC pair-frame
    // discipline, r16): the distinct subtree otherwise re-executes
    // inside every consumer that cannot share an exchange — the
    // degree rollup, the degree-annotated join's probe side and the
    // node universe each replay the full input dedup (measured 1.2-3 s
    // per replay at sf0.1 on a 1.2M-row input). gcPersist: slim
    // 2-column frame, no downstream broadcast decision depends on its
    // statistics (deg and withDeg get explicit layouts), blocks free
    // with the returned plan.
    // (A driver-side integer-replay degenerate was tried here and
    // REJECTED by measurement: this operator's edge set is NOT
    // k-bounded — 1M+ distinct edges at sf0.1 — so the bounded-probe
    // collect alone cost ~1.4 s and the 5x1.2M-row boxed replay
    // another ~1.5 s, matching the distributed rounds' cost with
    // extra driver pressure.)
    val edges = gcPersist(edges0
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct())
    val deg = edges.groupBy("src").agg(count(lit(1)).as("od"))
    // withDeg and nodes are owned by the result: every iteration's
    // join reads them, and the iterations run in the caller's action
    val withDeg = cached(edges.join(deg, "src")
      .repartition(col("src"))
      // pin the sort into the cached layout: every iteration's
      // sort-merge join on src otherwise re-sorts the edge side
      // (the iteration-invariant big side) per round
      .sortWithinPartitions("src"))
    val nodes = cached(edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct())
    val teleport = (100L - d100) * (scale / 100L)
    // the rank table feeds each iteration exactly ONCE (the message
    // join; `nodes` is a separate cached frame), so the chained
    // plan grows LINEARLY in the iteration count — no per-iteration
    // checkpoint is needed (contrast labelPropagation, whose labels
    // feed twice per round). Chaining all K iterations into the
    // consumer's single action replaces K (cache + count)
    // materialization jobs with one job whose stages pipeline over
    // the pre-partitioned cached edge layout.
    var ranks = nodes.select(col("node"), lit(scale).as("r"))
    for (_ <- 1 to iterations) {
      val contrib = withDeg.join(ranks, col("node") === col("src"))
        .select(col("dst").as("node"), expr("r div od").as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      ranks = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) + expr(s"($d100 * coalesce(s, 0L)) div 100")).as("r"))
    }
    ranks
  }

  /** Top-k strongest-neighbor graph (the kNN-graph construction):
   *  from weighted pairs (u, v, w) keep, per node, its k heaviest
   *  partners (ties broken by partner id), then symmetrize. The
   *  result is degree-bounded (≤ 2k per node) at ANY scale — the
   *  standard way to sparsify a similarity/co-occurrence projection
   *  whose raw density grows with the data. Returns (a, b) LONG
   *  canonical undirected edges. One window shuffle per direction
   *  over the pair table (Spark 4's WindowGroupLimit map-side-prunes
   *  to k rows per node per input partition before the exchange). */
  def topKNeighborGraph(pairs: DataFrame, uCol: String, vCol: String,
                        wCol: String, k: Int): DataFrame = {
    require(k >= 1, s"topKNeighborGraph: k must be >= 1, got $k")
    val slim = pairs.select(col(uCol).cast("long").as("u"),
      col(vCol).cast("long").as("v"), col(wCol).cast("long").as("w"))
    // (A driver-side bounded degenerate was tried here — collect the
    // pair table under the DriverLocal.maxEdges ceiling and replay the
    // deterministic top-k locally — and REJECTED by measurement: the
    // pair table is k-unbounded (499,500 rows at sf0.1), so the
    // boxed-row collect cost exactly what the window + distinct
    // exchanges cost, with extra driver pressure. The distributed
    // window is already map-side-pruned by Spark 4's WindowGroupLimit
    // to <= k rows per node per input partition.)
    val directed = slim.select(col("u").as("n"), col("v").as("p"), col("w"))
      .union(slim.select(col("v").as("n"), col("u").as("p"), col("w")))
    val byNode = org.apache.spark.sql.expressions.Window
      .partitionBy("n").orderBy(col("w").desc, col("p").asc)
    directed.withColumn("__rn", row_number().over(byNode))
      .filter(col("__rn") <= k)
      .select(least(col("n"), col("p")).as("a"), greatest(col("n"), col("p")).as("b"))
      .distinct()
  }

  /** Exact triangle counting via degree-ordered compact-forward:
   *  orient every undirected edge from its lower-(degree, id) vertex
   *  to the higher one, enumerate wedges at the low vertex and close
   *  them with a third join. The orientation bounds wedge fan-out by
   *  the graph's degeneracy instead of its max degree — the hub that
   *  would generate d^2 wedges under naive a<b enumeration generates
   *  none, because all its edges point INTO it. Returns one row per
   *  graph node: (node, degree, triangles). */
  def triangleCounts(edges0: DataFrame, aCol: String, bCol: String): DataFrame = {
    // columnar caches owned by the result: `e` feeds the degree
    // rollup, the orientation join and the wedge-closing join, and
    // the size statistics it carries let those joins broadcast on
    // moderate graphs (a lineage-cut checkpoint measured ~3x slower)
    val e = cached(edges0
      .select(least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct())
    val deg = e.select(col("a").as("n")).union(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // total order (degree, id): orient src -> dst upward
    val ann = e
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
    val oriented = ann.select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // wedge (src -> v, src -> w), closed by oriented edge v -> w in
    // EITHER orientation of the pair: compare by the same total order
    // via a rank join on the degree table to stay allocation-free —
    // here the closing edge is oriented, so join both directions
    val w1 = oriented.select(col("src"), col("dst").as("v"))
    val w2 = oriented.select(col("src"), col("dst").as("w"))
    val wedges = w1.join(w2, "src").filter(col("v") =!= col("w"))
      // each unordered {v,w} wedge appears twice; keep one by id order
      .filter(col("v") < col("w"))
    val closing = e.select(col("a").as("v"), col("b").as("w"))
    val tris = cached(wedges.join(closing, Seq("v", "w"))
      .select(col("src").as("x"), col("v").as("y"), col("w").as("z")))
    val perNode = tris.select(col("x").as("n"))
      .union(tris.select(col("y").as("n")))
      .union(tris.select(col("z").as("n")))
      .groupBy("n").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("n"), "left")
      .select(col("n").as("node"), col("d").as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** Multi-source BFS: minimum hop count from any seed, bounded by
   *  `maxHops`. Classic frontier expansion — each round shuffles only
   *  the CURRENT frontier (slim (node) set) into the edge layout and
   *  anti-joins the visited set; the edge table is symmetrized,
   *  hash-partitioned by source and cached ONCE. Every round's
   *  frontier is lineage-TRUNCATED ([[CacheUtil.gcPersist]]): the next round
   *  references the visited set twice (anti-join + union), so without
   *  truncation the logical plan doubles per round — exponential
   *  analysis cost (OOMs around 20 rounds) long before any data
   *  moves. Rounds end early when a frontier empties. Returns
   *  (node, hop) for reached nodes only. Edge sets of at most
   *  `localMaxEdges` rows run the same frontier rounds on the driver
   *  (default [[DriverLocal.maxEdges]]; 0 forces the distributed
   *  rounds). */
  def bfsHops(edges0: DataFrame, aCol: String, bCol: String,
              seeds: DataFrame, seedCol: String, maxHops: Int = 6,
              localMaxEdges: Long = DriverLocal.maxEdges): DataFrame = {
    require(maxHops >= 1 && maxHops <= 64,
      s"bfsHops: maxHops must be in [1,64], got $maxHops")
    val e = edges0
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    // bounded LOCAL degenerate (the connectedComponents ceiling): a
    // driver-side BFS replaces maxHops x (join + anti-join +
    // checkpoint + isEmpty) jobs when the edge set is bounded; the
    // frontier discipline is identical, so (node, hop) match
    // bit-for-bit. Seeds are bounded by the node set once edges are.
    DriverLocal.collectIfBounded(e, localMaxEdges) match {
      case Some(rows) =>
        val seedRows = seeds.select(col(seedCol).cast("long").as("node"))
          .filter(col("node").isNotNull).distinct().collect()
        val nbrs = new java.util.HashMap[Long, java.util.ArrayList[Long]]()
        def add(x: Long, y: Long): Unit =
          nbrs.computeIfAbsent(x, _ => new java.util.ArrayList[Long]()).add(y)
        rows.foreach { r => add(r.getLong(0), r.getLong(1)); add(r.getLong(1), r.getLong(0)) }
        val dist = new java.util.HashMap[Long, Long]()
        var frontier = new java.util.ArrayList[Long]()
        seedRows.foreach { r => dist.put(r.getLong(0), 0L); frontier.add(r.getLong(0)) }
        var h = 1L
        while (h <= maxHops && !frontier.isEmpty) {
          val next = new java.util.ArrayList[Long]()
          frontier.forEach { n =>
            val nn = nbrs.get(n)
            if (nn != null) nn.forEach { nb =>
              if (!dist.containsKey(nb)) { dist.put(nb, h); next.add(nb) }
            }
          }
          frontier = next
          h += 1
        }
        return DriverLocal.frame(edges0.sparkSession, dist.asScala.toSeq, "node", "hop")
      case None => ()
    }
    val dirE = cached(e.select(col("a").as("n"), col("b").as("nb"))
      .union(e.select(col("b").as("n"), col("a").as("nb")))
      .distinct()
      .repartition(col("n"))
      // sorted cached layout — per-round joins on n skip the
      // edge-side sort (see pageRank's withDeg note)
      .sortWithinPartitions("n"))
    var frontier = gcPersist(
      seeds.select(col(seedCol).cast("long").as("node"))
        .filter(col("node").isNotNull) // null seeds match no edge and would emit a null row
        .distinct()
        .withColumn("hop", lit(0L)))
    var dist = frontier // union of truncated leaves only: plan grows linearly
    var h = 1L
    var done = false
    while (h <= maxHops && !done) {
      val nxt = gcPersist(
        frontier.join(dirE, col("node") === col("n"))
          .select(col("nb").as("node")).distinct()
          .join(dist, Seq("node"), "left_anti")
          .withColumn("hop", lit(h)))
      if (nxt.isEmpty) { release(nxt); done = true }
      else {
        dist = dist.union(nxt)
        frontier = nxt
        h += 1
      }
    }
    release(dirE)
    // the result is a union of checkpointed leaves — the superseded
    // frontiers ARE those leaves, so they must stay materialized;
    // only the edge cache is released here. Callers wanting full
    // cleanup should write/collect the result, then let GC reclaim
    // the checkpoint blocks (localCheckpoint) as usual.
    dist
  }

  /**
   * Deterministic community detection: SYNCHRONOUS label propagation
   * (Raghavan, Albert & Kumara 2007) with a FIXED round count and a
   * total-order tie rule, over an undirected graph. Every node starts
   * labeled with its own id; each round, every node adopts the most
   * frequent label among its neighbors, ties broken by the SMALLEST
   * label — both choices deterministic, so the oracle can unroll the
   * rounds as chained CTEs (the graph_pagerank pattern) and the
   * result is engine-exact integer state. Asynchronous/randomized
   * LPA converges faster but is irreproducible; the fixed-round
   * synchronous form trades a possible 2-cycle oscillation on
   * bipartite borders for determinism, which is what a data-release
   * pipeline replaying the SAME communities needs.
   *
   * Output: (node, community) — community = the node's label after
   * `rounds` rounds (nodes keep their own label if isolated, but an
   * edge-derived graph has no isolated nodes).
   *
   * Scale shape: per round, ONE shuffle of the slim (node, label)
   * frame joined against the pre-partitioned edge list, then a
   * map-side-combinable count + a single struct-min aggregate (max
   * count, min label — no window, no per-node sort); per-round
   * lineage truncation keeps the plan flat ([[CacheUtil.gcPersist]]). Edge sets
   * of at most `localMaxEdges` rows replay the rounds on the driver
   * (default [[DriverLocal.maxEdges]]; 0 forces the distributed
   * rounds).
   */
  def labelPropagation(edges0: DataFrame, aCol: String, bCol: String,
                       rounds: Int = 4,
                       localMaxEdges: Long = DriverLocal.maxEdges): DataFrame = {
    require(rounds >= 1 && rounds <= 64,
      s"labelPropagation: rounds must be in [1,64], got $rounds")
    val e = edges0
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    // bounded LOCAL degenerate (the connectedComponents precedent,
    // same ceiling): the synchronous rounds are exact integer state —
    // a driver-side replay over the collected edge set produces
    // bit-identical labels, without rounds x (broadcast + aggregate +
    // checkpoint) jobs whose constants dwarf small graphs. Over-cap
    // graphs pay only the short-circuited limit probe and keep the
    // distributed rounds.
    DriverLocal.collectIfBounded(e, localMaxEdges) match {
      case Some(rows) =>
        // distinct symmetric adjacency (the dirE contract)
        val nbrs = new java.util.HashMap[Long, java.util.TreeSet[java.lang.Long]]()
        def add(x: Long, y: Long): Unit =
          nbrs.computeIfAbsent(x, _ => new java.util.TreeSet[java.lang.Long]()).add(y)
        rows.foreach { r => add(r.getLong(0), r.getLong(1)); add(r.getLong(1), r.getLong(0)) }
        var lab = new java.util.HashMap[Long, Long]()
        nbrs.keySet().forEach(n => lab.put(n, n))
        for (_ <- 0 until rounds) {
          val next = new java.util.HashMap[Long, Long]()
          nbrs.forEach { (n, nn) =>
            // most frequent neighbor label, ties to the SMALLEST —
            // exactly min(struct(-count, lbl))
            val cnt = new java.util.HashMap[Long, Long]()
            nn.forEach(nb => cnt.merge(lab.get(nb), 1L, _ + _))
            var bestLbl = Long.MaxValue
            var bestC = -1L
            cnt.forEach { (l, c) =>
              if (c > bestC || (c == bestC && l < bestLbl)) { bestC = c; bestLbl = l }
            }
            next.put(n, bestLbl)
          }
          lab = next
        }
        return DriverLocal.frame(edges0.sparkSession, lab.asScala.toSeq, "node", "community")
      case None => ()
    }
    val dirE = cached(e.select(col("a").as("n"), col("b").as("nb"))
      .union(e.select(col("b").as("n"), col("a").as("nb")))
      .distinct()
      .repartition(col("n"))
      // sorted cached layout — per-round joins on n skip the
      // edge-side sort (see pageRank's withDeg note)
      .sortWithinPartitions("n"))
    var labels = gcPersist(
      dirE.select(col("n").as("node")).distinct().withColumn("lbl", col("node")))
    for (_ <- 0 until rounds) {
      val next =
        dirE.join(labels.select(col("node").as("nb"), col("lbl")), "nb")
          .groupBy(col("n"), col("lbl")).agg(count(lit(1)).as("__c"))
          .groupBy(col("n"))
          .agg(min(struct((-col("__c")).as("nc"), col("lbl").as("l"))).as("__b"))
          .select(col("n").as("node"), col("__b.l").as("lbl"))
      val prev = labels
      labels = gcPersist(next)
      release(prev)
    }
    release(dirE)
    labels.select(col("node"), col("lbl").as("community"))
  }

  /**
   * Newman modularity of a node partition (Newman & Girvan 2004) over
   * an undirected simple edge list, in EXACT integer arithmetic: with
   * m edges, per community c the contribution to Q = sum_c [e_c/m -
   * (d_c/2m)^2] has numerator q_num = 4m*e_c - d_c^2 over the common
   * denominator 4m^2 — all longs, so the partition-quality audit is
   * engine-exact (the 6-dp `q_contrib` double is display-only; sum
   * q_num / (4m^2) = Q). Pairs with [[labelPropagation]] as the
   * "did the communities actually capture edge density" check.
   *
   * Scale shape: two broadcast-or-shuffle equi-joins of the edge list
   * against the slim (node, community) labels, one community-bounded
   * rollup each for intra-edge counts and degree sums; m is a single
   * scan-bound count (a driver scalar, like the partition-map walk).
   * `edges` must be distinct undirected pairs (the [[triangleCounts]]
   * contract); labels must cover every endpoint.
   */
  def modularity(edges0: DataFrame, aCol: String, bCol: String,
                 labels: DataFrame, nodeCol: String = "node",
                 commCol: String = "community"): DataFrame = {
    val e = edges0
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    val lab = labels.select(col(nodeCol).cast("long").as("__n"),
      col(commCol).cast("long").as("__c"))
    val m = e.count()
    require(m > 0, "modularity: empty edge set")
    val la = lab.select(col("__n").as("a"), col("__c").as("ca"))
    val lb = lab.select(col("__n").as("b"), col("__c").as("cb"))
    val ec = e.join(la, "a").join(lb, "b")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("e_intra"))
    val deg = e.select(col("a").as("n")).unionByName(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("__d"))
    val dc = lab.join(deg, col("__n") === col("n"))
      .groupBy(col("__c").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum("__d").cast("long").as("d_sum"))
    dc.join(ec, Seq("community"), "left")
      .withColumn("e_intra", coalesce(col("e_intra"), lit(0L)))
      .withColumn("q_num", lit(4L * m) * col("e_intra") - col("d_sum") * col("d_sum"))
      .withColumn("q_contrib",
        round(col("q_num").cast("double") / lit(4.0 * m * m), 6))
      .select("community", "n_nodes", "e_intra", "d_sum", "q_num", "q_contrib")
  }

  /**
   * Deterministic Louvain-style greedy agglomeration — ONE Louvain
   * level (Blondel et al. 2008's coarsening run on an EXISTING
   * partition such as [[labelPropagation]]'s): per round every
   * community nominates its best positive-modularity-gain merge
   * partner, and exactly the MUTUAL nominations merge (parallel-safe
   * and deterministic — no sequential scan-order dependence, the
   * matching trick distributed community detection uses instead of
   * Louvain's sequential node sweep); the merged community keeps the
   * SMALLER id. The gain of merging c and d is exact-integer in the
   * [[modularity]] q_num arithmetic: dq_num = 4m*e_cd - 2*d_c*d_d
   * over the common denominator 4m^2 (merging adds e_cd intra edges
   * and (d_c+d_d)^2 - d_c^2 - d_d^2 = 2*d_c*d_d of degree-squared
   * mass), so the SQL replay hash-matches bit for bit; gain ties
   * break to the smallest partner id. Every executed merge strictly
   * increases Q (only dq_num > 0 nominations are considered).
   *
   * Scale shape: per round ONE edge-relabel join (the LPA cost
   * shape) + community-bounded aggregates and a per-community
   * window; labels pin per round (gcPersist + release), early
   * exit when no positive mutual merge remains. `edges` must be
   * distinct undirected pairs ([[triangleCounts]] contract); labels
   * must cover every endpoint. Edge sets of at most `localMaxEdges`
   * rows (with at most 2 * localMaxEdges + 1 labels) replay the rounds
   * on the driver (default [[DriverLocal.maxEdges]]; 0 forces the
   * distributed rounds).
   */
  def louvainMerge(edges0: DataFrame, aCol: String, bCol: String,
                   labels0: DataFrame, nodeCol: String = "node",
                   commCol: String = "community", rounds: Int = 2,
                   localMaxEdges: Long = DriverLocal.maxEdges): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"louvainMerge: rounds must be in [1,64], got $rounds")
    val e = edges0
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    // bounded LOCAL degenerate (the labelPropagation/CC ceiling): the
    // merge rounds are exact integer arithmetic over community
    // rollups — replayed bit-identically on the driver when the edge
    // set (and hence the node/label set) is bounded. Each distributed
    // round otherwise costs ~10 tiny stages + 2 checkpoints.
    val localEdges = DriverLocal.collectIfBounded(e, localMaxEdges)
    val localLabels = if (localEdges.isDefined)
      DriverLocal.collectIfBounded(labels0.select(
        col(nodeCol).cast("long").as("node"), col(commCol).cast("long").as("lbl")),
        2 * localMaxEdges + 1)
    else None
    (localEdges, localLabels) match {
      case (Some(er), Some(lr)) =>
        val mm = er.length.toLong
        require(mm > 0, "louvainMerge: empty edge set")
        // boxed label values: the distributed rounds INNER-join labels
        // onto edge endpoints, so an unlabeled endpoint (contract
        // violation) silently drops that edge from the rollup — a
        // scala.Long value would unbox the absent null to community 0
        // instead
        val lab = new java.util.HashMap[Long, java.lang.Long]()
        lr.foreach(r => lab.put(r.getLong(0), r.getLong(1)))
        val deg = new java.util.HashMap[Long, Long]()
        er.foreach { r =>
          deg.merge(r.getLong(0), 1L, _ + _); deg.merge(r.getLong(1), 1L, _ + _)
        }
        var r0 = 0
        var doneL = false
        while (r0 < rounds && !doneL) {
          val ec = new java.util.HashMap[(Long, Long), Long]()
          er.foreach { r =>
            val ca = lab.get(r.getLong(0)); val cb = lab.get(r.getLong(1))
            if (ca != null && cb != null && ca.longValue() != cb.longValue())
              ec.merge((math.min(ca, cb), math.max(ca, cb)), 1L, _ + _)
          }
          val ds = new java.util.HashMap[Long, Long]()
          lab.forEach { (n, l) => ds.merge(l, deg.getOrDefault(n, 0L), _ + _) }
          // positive-gain nominations, best partner per community:
          // max dq, ties to the smallest partner id
          val best = new java.util.HashMap[Long, (Long, Long)]() // x -> (dq, y)
          def nominate(x: Long, y: Long, dq: Long): Unit = {
            val cur = best.get(x)
            if (cur == null || dq > cur._1 || (dq == cur._1 && y < cur._2))
              best.put(x, (dq, y))
          }
          ec.forEach { (cd, cnt) =>
            val dq = 4L * mm * cnt - 2L * ds.get(cd._1) * ds.get(cd._2)
            if (dq > 0) { nominate(cd._1, cd._2, dq); nominate(cd._2, cd._1, dq) }
          }
          // mutual nominations with c < d merge; merged keeps the smaller id
          val remap = new java.util.HashMap[Long, Long]()
          best.forEach { (x, dy) =>
            if (x < dy._2) {
              val back = best.get(dy._2)
              if (back != null && back._2 == x) remap.put(dy._2, x)
            }
          }
          if (remap.isEmpty) doneL = true
          else {
            val upd = new java.util.ArrayList[Long]()
            lab.forEach { (n, l) => if (remap.containsKey(l)) upd.add(n) }
            upd.forEach(n => lab.put(n, remap.get(lab.get(n))))
          }
          r0 += 1
        }
        return DriverLocal.frame(edges0.sparkSession,
          lab.asScala.toSeq.map { case (n, l) => (n, l.longValue) }, "node", commCol)
      case _ => ()
    }
    val m = e.count()
    require(m > 0, "louvainMerge: empty edge set")
    val deg = gcPersist(
      e.select(col("a").as("n")).unionByName(e.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("__dd")))
    var lab = gcPersist(labels0.select(
      col(nodeCol).cast("long").as("node"), col(commCol).cast("long").as("lbl")))
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val la = lab.select(col("node").as("a"), col("lbl").as("ca"))
      val lb = lab.select(col("node").as("b"), col("lbl").as("cb"))
      val cc = e.join(la, "a").join(lb, "b")
        .filter(col("ca") =!= col("cb"))
        .groupBy(least(col("ca"), col("cb")).as("c"), greatest(col("ca"), col("cb")).as("d"))
        .agg(count(lit(1)).as("ec"))
      val ds = lab.join(deg, col("node") === col("n"))
        .groupBy(col("lbl").as("c")).agg(sum("__dd").cast("long").as("dc"))
      val dq = cc
        .join(ds.select(col("c"), col("dc").as("dc_c")), "c")
        .join(ds.select(col("c").as("d"), col("dc").as("dc_d")), "d")
        .withColumn("dq", lit(4L * m) * col("ec") - lit(2L) * col("dc_c") * col("dc_d"))
        .filter(col("dq") > 0)
      val cand = dq.select(col("c").as("x"), col("d").as("y"), col("dq"))
        .unionByName(dq.select(col("d").as("x"), col("c").as("y"), col("dq")))
      val best = cand
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("x")).orderBy(col("dq").desc, col("y").asc)))
        .filter(col("__rn") === 1).select("x", "y")
      val mut = gcPersist(
        best.alias("p").join(best.alias("q"),
            col("q.x") === col("p.y") && col("q.y") === col("p.x"))
          .filter(col("p.x") < col("p.y"))
          .select(col("p.x").as("c"), col("p.y").as("d")))
      if (mut.isEmpty) done = true
      else {
        val remap = mut.select(col("d").as("__lbl"), col("c").as("__new"))
        val prev = lab
        lab = gcPersist(lab.join(remap, col("lbl") === col("__lbl"), "left")
          .select(col("node"), coalesce(col("__new"), col("lbl")).as("lbl")))
        release(prev)
      }
      release(mut)
      r += 1
    }
    release(deg)
    lab.select(col("node"), col("lbl").as(commCol))
  }

  /**
   * Multi-source WEIGHTED shortest paths (undirected, nonnegative
   * integer weights): distributed Bellman-Ford rounds — per round the
   * frontier relaxes its edges, a map-side-combined `min` collapses
   * candidate distances per node, and only nodes that actually
   * IMPROVED re-enter the frontier, so work per round shrinks toward
   * the shortest-path tree's leaves instead of rescanning the graph
   * (the same bounded-frontier shape as [[bfsHops]], which is the
   * w = 1 special case). Contract: `dist` = minimum weight over paths
   * of at most `maxRounds` EDGES — deterministic and SQL-replayable,
   * like bfsHops' hop bound. Early-exits when a round improves
   * nothing (the true fixed point). Negative weights are refused up
   * front (one cheap scan): with them "min over bounded paths" is
   * not a distance and silent nonsense would hash-match nothing.
   * Parallel edges collapse to their cheapest weight. Lineage
   * truncation per iteration keeps the plan flat (see [[CacheUtil.gcPersist]]).
   * Edge sets of at most `localMaxEdges` rows run the same rounds on
   * the driver (default [[DriverLocal.maxEdges]]; 0 forces the
   * distributed rounds).
   */
  def sssp(edges0: DataFrame, aCol: String, bCol: String, wCol: String,
           seeds: DataFrame, seedCol: String, maxRounds: Int = 8,
           localMaxEdges: Long = DriverLocal.maxEdges): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 64,
      s"sssp: maxRounds must be in [1,64], got $maxRounds")
    val e = edges0
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"),
        col(wCol).cast("long").as("w"))
      .filter(col("a") =!= col("b"))
    require(e.filter(col("w") < 0 || col("w").isNull).limit(1).isEmpty,
      "sssp: negative or null edge weight — bounded-path minima need nonnegative weights")
    // bounded LOCAL degenerate (the connectedComponents ceiling):
    // driver-side Bellman-Ford with the identical bounded-frontier
    // discipline — per distributed round: candidate min + improvement
    // filter + accumulator re-aggregate is 3 checkpoints + an isEmpty,
    // all job-floor on small graphs. Distances are exact integers, so
    // the replay is bit-identical.
    DriverLocal.collectIfBounded(e, localMaxEdges) match {
      case Some(rows) =>
        val seedRows = seeds.select(col(seedCol).cast("long").as("node"))
          .filter(col("node").isNotNull).distinct().collect()
        // symmetric adjacency, parallel edges collapsed to min weight
        val wMap = new java.util.HashMap[(Long, Long), Long]()
        rows.foreach { r =>
          val a = r.getLong(0); val b = r.getLong(1); val w = r.getLong(2)
          wMap.merge((a, b), w, math.min(_, _)); wMap.merge((b, a), w, math.min(_, _))
        }
        val nbrs = new java.util.HashMap[Long, java.util.ArrayList[(Long, Long)]]()
        wMap.forEach { (k, w) =>
          nbrs.computeIfAbsent(k._1, _ => new java.util.ArrayList[(Long, Long)]())
            .add((k._2, w))
        }
        // values are BOXED Longs: java.util.Map.get on an absent key
        // returns null, and a scala.Long value type would silently
        // unbox it to 0 (an absent node is NOT at distance 0)
        val dist = new java.util.HashMap[Long, java.lang.Long]()
        var frontier = new java.util.ArrayList[Long]()
        seedRows.foreach { r => dist.put(r.getLong(0), 0L); frontier.add(r.getLong(0)) }
        var r1 = 1
        while (r1 <= maxRounds && !frontier.isEmpty) {
          val improved = new java.util.LinkedHashMap[Long, java.lang.Long]()
          frontier.forEach { n =>
            val dn: Long = dist.get(n)
            val nn = nbrs.get(n)
            if (nn != null) nn.forEach { case (nb, w) =>
              val cand = dn + w
              val old = dist.get(nb)
              val cur = improved.get(nb)
              if ((old == null || cand < old.longValue()) &&
                  (cur == null || cand < cur.longValue()))
                improved.put(nb, cand)
            }
          }
          frontier = new java.util.ArrayList[Long]()
          val it = improved.entrySet().iterator()
          while (it.hasNext) {
            val en = it.next()
            dist.put(en.getKey, en.getValue)
            frontier.add(en.getKey)
          }
          r1 += 1
        }
        return DriverLocal.frame(edges0.sparkSession,
          dist.asScala.toSeq.map { case (n, d) => (n, d.longValue) }, "node", "dist")
      case None => ()
    }
    val dirE = cached(e.select(col("a").as("n"), col("b").as("nb"), col("w"))
      .union(e.select(col("b").as("n"), col("a").as("nb"), col("w")))
      .groupBy("n", "nb").agg(min("w").as("w"))
      .repartition(col("n"))
      .sortWithinPartitions("n"))
    // checkpoint handles (for freeing blocks) are kept SEPARATE from
    // the stats-reset frames the next round plans over ([[fresh]])
    var distCk = gcPersist(
      seeds.select(col(seedCol).cast("long").as("node"))
        .filter(col("node").isNotNull)
        .distinct()
        .withColumn("dist", lit(0L)))
    var dist = fresh(distCk)
    var frontCk = distCk
    var frontier = dist
    var r = 1
    var done = false
    while (r <= maxRounds && !done) {
      val candCk = gcPersist(
        frontier.join(dirE, col("node") === col("n"))
          .select(col("nb").as("node"), (col("dist") + col("w")).as("dist"))
          .groupBy("node").agg(min("dist").as("dist")))
      val improvedCk = gcPersist(
        fresh(candCk).join(dist.withColumnRenamed("dist", "__old"), Seq("node"), "left")
          .filter(col("__old").isNull || col("dist") < col("__old"))
          .select("node", "dist"))
      release(candCk) // improved is materialized; the candidate set is dead either way
      if (improvedCk.isEmpty) {
        release(improvedCk)
        done = true
      } else {
        val newDistCk = gcPersist(
          dist.union(fresh(improvedCk)).groupBy("node").agg(min("dist").as("dist")))
        if (frontCk ne distCk) release(frontCk) // consumed by cand above
        release(distCk)                         // superseded by newDist
        distCk = newDistCk; dist = fresh(newDistCk)
        frontCk = improvedCk; frontier = fresh(improvedCk)
        r += 1
      }
    }
    if (frontCk ne distCk) release(frontCk) // the last frontier is not part of the result
    release(dirE)
    dist
  }

  /**
   * All (node, ancestor) pairs of a FOREST by POINTER DOUBLING — the
   * hierarchy-flattening step behind BOM explosion / org rollups /
   * category-tree aggregation. `parents` holds one (child, parent)
   * row per non-root node. Each round composes the jump table with
   * itself, so ceil(log2(depth)) rounds reach every ancestor where
   * naive parent-chasing needs `depth` full-table rounds — the
   * recursive-CTE workload Spark lacks natively, re-expressed as
   * log-depth equi-joins. Output size is Σ depth(node) (exactly the
   * transitive ancestor closure — the caller's data model bounds it;
   * a ternary tree over n nodes yields ~n·log3(n) rows).
   *
   * Each round's frames are checkpoint-truncated (the pairs table
   * feeds the next round twice — plan size would double per round).
   */
  def ancestorPairs(parents: DataFrame, childCol: String, parentCol: String,
                    maxRounds: Int = 20): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 40, s"maxRounds must be in [1,40]: $maxRounds")
    // same lineage/stats discipline as sssp: per-round checkpoint
    // truncation (the pairs table feeds the next round twice — the
    // plan would double per round) + [[fresh]] frames over the
    // checkpointed RDD so size-only stats cannot compound
    // fixed-point counts ride the checkpoint jobs as OBSERVED metrics
    // (the connectedComponents phi pattern): the old per-round
    // `pairs.count()` + `grown.count()` pair re-ran two jobs per round
    // on data the truncate had just materialized. The same observation
    // counts (n, n) pairs: a node that is its own ancestor means the
    // parent relation has a cycle — the forest check costs no job. On
    // a cycle the new checkpoint and the `live` ones are released
    // before the throw.
    def truncateCounted(df: DataFrame, live: DataFrame*): (DataFrame, Long) = {
      val obs = new org.apache.spark.sql.Observation()
      val ck = gcPersist(df.observe(obs, count(lit(1)).as("n"),
        count(when(col("node") === col("anc"), 1)).as("self")))
      val m = obs.get
      if (m("self").asInstanceOf[Long] > 0) {
        (ck +: live).distinct.foreach(release)
        throw new IllegalArgumentException("ancestorPairs: the parent relation contains a cycle " +
          "(a node is its own ancestor) — the input must be a forest")
      }
      (ck, m("n").asInstanceOf[Long])
    }
    val base = parents.select(col(childCol).cast("long").as("node"),
      col(parentCol).cast("long").as("anc"))
    var (pairsCk, nPairs) = truncateCounted(base)
    // the initial jump table is the SAME rows under a renamed column —
    // share the checkpointed RDD instead of materializing it twice
    var jumpCk = pairsCk
    var pairs = fresh(pairsCk)
    var jump = fresh(pairsCk).withColumnRenamed("anc", "jump")
    var r = 0
    var done = false
    while (r < maxRounds && !done) {
      // new ancestors: everything reachable THROUGH the current jump
      val step = pairs.join(jump.withColumnRenamed("node", "anc"), Seq("anc"))
        .select(col("node"), col("jump").as("anc"))
      val (grown, nGrown) = truncateCounted(pairs.unionByName(step).distinct(), pairsCk, jumpCk)
      if (nGrown == nPairs) {
        release(grown)
        done = true
      } else {
        // double the jump distance: jump_{r+1} = jump_r ∘ jump_r —
        // nodes whose 2^r-ancestor chain already ended drop out of
        // the jump table (their ancestors are all in `pairs`)
        val jump2 = gcPersist(jump.join(
            jump.withColumnRenamed("jump", "jump2").withColumnRenamed("node", "jump"),
            Seq("jump"))
          .select(col("node"), col("jump2").as("jump")))
        if (jumpCk ne pairsCk) release(jumpCk)
        release(pairsCk); pairsCk = grown; pairs = fresh(grown); nPairs = nGrown
        jumpCk = jump2; jump = fresh(jump2)
        r += 1
      }
    }
    // converged in round 0 ⇒ jump still shares pairs' RDD — the result
    if (jumpCk ne pairsCk) release(jumpCk)
    // exiting via maxRounds without the fixpoint means depth >
    // 2^maxRounds — or a cycle too long to close within the rounds
    // (shorter cycles fail the forest check above). A silently
    // truncated closure must not pass as complete, nor keep its blocks.
    if (!done) release(pairsCk)
    require(done, s"ancestorPairs: no fixpoint after $maxRounds rounds — " +
      s"either the hierarchy is deeper than 2^$maxRounds (raise maxRounds) " +
      "or the parent relation contains a cycle (not a forest)")
    pairs
  }
}
