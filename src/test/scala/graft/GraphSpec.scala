package graft

import graft.operators.{DriverLocal, Graph}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class GraphSpec extends SparkSpecBase {
  import spark.implicits._

  private def comps(edges: Seq[(Long, Long)],
                    localMaxEdges: Long = DriverLocal.maxEdges): Map[Long, Long] =
    Graph.connectedComponents(edges.toDF("a", "b"), "a", "b", localMaxEdges = localMaxEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def planOf(name: String): String =
    QueryRegistry.all.toMap.apply(name).run(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString

  test("connected components: path graph converges to min id") {
    // 1-2-3-4-5-6 chain: the star contraction must bridge every hop
    val m = comps(Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), (6L, 5L)))
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 1L))
  }

  test("connected components: disjoint star + triangle + isolated pair") {
    val m = comps(Seq(
      (10L, 11L), (10L, 12L), (10L, 13L), // star rooted above min
      (20L, 21L), (21L, 22L), (22L, 20L), // triangle
      (31L, 30L)))
    assert(m(10L) == 10L && m(11L) == 10L && m(12L) == 10L && m(13L) == 10L)
    assert(m(20L) == 20L && m(21L) == 20L && m(22L) == 20L)
    assert(m(30L) == 30L && m(31L) == 30L)
  }

  test("connected components: empty edge set yields empty labels") {
    assert(comps(Seq.empty) == Map.empty)
  }

  test("q_fof_dist runs the star rounds on the caller's session and returns q_fof's rows") {
    val qs = QueryRegistry.all.toMap
    def rowsAndJobs(name: String): (Seq[String], Int) = {
      var rows = Seq.empty[String]
      val jobs = jobsDuring {
        val df = qs(name).run(spark, sf("sf0.01"))
        assert(df.sparkSession eq spark, s"$name must run on the caller's session")
        rows = df.collect().map(_.toString).toSeq
      }
      (rows, jobs)
    }
    val (local, localJobs) = rowsAndJobs("q_fof")
    val (dist, distJobs) = rowsAndJobs("q_fof_dist")
    assert(dist.nonEmpty && dist == local)
    // each star round adds two checkpoint jobs the union-find skips
    assert(distJobs > localJobs, s"q_fof_dist ran $distJobs jobs, q_fof $localJobs")
  }

  test("connected components: refuses to return partial labels when maxIter is too low") {
    // star rounds are O(log n): a 2000-node chain at maxIter = 1
    // cannot have contracted fully (one large+small round only
    // shortens chains by a constant factor)
    // force the distributed star rounds — the maxIter contract is
    // theirs (the local union-find degenerate has no iteration bound)
    val chain = (1L to 2000L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      Graph.connectedComponents(chain, "a", "b", maxIter = 1, localMaxEdges = 0).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("connected components: randomized parity with driver-side union-find") {
    // deterministic pseudo-random multigraph with self-loops, chains
    // and dense pockets — labels must equal exact union-find on
    // every node incident to any edge
    def mix(x: Long): Long = { val a = x * 2654435761L % 104729; a }
    val edges = (0L until 600L).map { i =>
      val u = mix(i) % 150; val v = if (i % 11 == 0) u else mix(i * 31 + 7) % 150
      (u, v)
    }
    val uf = new Array[Long](150); (0 until 150).foreach(i => uf(i) = i)
    def find(x: Long): Long = { var r = x; while (uf(r.toInt) != r) r = uf(r.toInt); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) uf(math.max(ra, rb).toInt) = math.min(ra, rb)
    }
    val expect = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> find(n)).toMap
    // default path: the driver-side union-find degenerate (600 edges
    // is under the local ceiling)
    assert(comps(edges) == expect,
      "local union-find labels must match exact union-find")
    // forced distributed star rounds must produce the same labels
    assert(comps(edges, localMaxEdges = 0) == expect,
      "star-contraction labels must match exact union-find")
  }

  test("local graph degenerates equal the forced-distributed rounds (LPA, louvain, bfs, sssp)") {
    // the driver-side replays must be BIT-identical to the
    // distributed iterations on the same inputs — run each operator
    // under the default (local) ceiling and with the ceiling at 0
    // (forced distributed) and compare full sorted outputs
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 4L),
      (7L, 8L), (10L, 3L), (10L, 1L)).toDF("a", "b")
    val wEdges = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 4L, 7L), (1L, 4L, 20L),
      (4L, 5L, 2L), (7L, 8L, 1L)).toDF("a", "b", "w")
    val seeds = Seq(1L, 7L).toDF("s")
    def both(f: Long => org.apache.spark.sql.DataFrame): (Seq[(Long, Long)], Seq[(Long, Long)]) = {
      def rows(m: Long) = f(m).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      (rows(DriverLocal.maxEdges), rows(0))
    }
    val (lpaL, lpaD) = both(m => Graph.labelPropagation(edges, "a", "b", rounds = 4, localMaxEdges = m))
    assert(lpaL == lpaD, s"LPA local $lpaL != distributed $lpaD")
    val labs = Graph.labelPropagation(edges, "a", "b", rounds = 2)
    val (louL, louD) = both(m => Graph.louvainMerge(edges, "a", "b", labs, rounds = 2, localMaxEdges = m))
    assert(louL == louD, s"louvain local $louL != distributed $louD")
    val (bfsL, bfsD) = both(m => Graph.bfsHops(edges, "a", "b", seeds, "s", maxHops = 3, localMaxEdges = m))
    assert(bfsL == bfsD, s"bfs local $bfsL != distributed $bfsD")
    val (ssspL, ssspD) = both(m =>
      Graph.sssp(wEdges, "a", "b", "w", seeds, "s", maxRounds = 4, localMaxEdges = m))
    assert(ssspL == ssspD, s"sssp local $ssspL != distributed $ssspD")
  }

  /** Small multigraphs made of the shapes the driver-side replays
   *  must agree with the distributed rounds on: a chain (so there is
   *  always a non-loop edge), then self-loops, parallel edges,
   *  isolated pairs and random pockets, each on its own id range. */
  private val smallGraph: Gen[Seq[(Long, Long)]] = {
    val chain = Gen.choose(2, 6).map(n => (0 until n).map(i => (i.toLong, i + 1L)))
    val part = Gen.oneOf(
      chain,
      Gen.const(Seq((0L, 0L))),
      Gen.choose(2, 3).map(k => Seq.fill(k)((0L, 1L))),
      Gen.const(Seq((0L, 1L))),
      Gen.choose(3, 8).flatMap(n => Gen.listOfN(n, Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 5L)))))
    for {
      first <- chain
      k <- Gen.choose(0, 4)
      rest <- Gen.listOfN(k, part)
    } yield (first +: rest).zipWithIndex.flatMap { case (es, i) =>
      es.map { case (a, b) => (a + 100L * i, b + 100L * i) }
    }
  }

  test("parity property: graph replays equal cutover 0 at 1 and 4 partitions") {
    // fixed seed, bounded sample count: each generated graph must give
    // the same sorted rows on the default (driver-side) path and with
    // the cutover at 0, with the input at 1 and at 4 partitions
    val graphs = Iterator.iterate(Seed(20261018L))(_.next).take(5)
      .map(seed => smallGraph.pureApply(Gen.Parameters.default, seed)).toSeq
    graphs.foreach { g =>
      val weighted = g.zipWithIndex.map { case ((a, b), i) => (a, b, (i % 4).toLong) }
      val nodes = g.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
      val seeds = (nodes.take(1) ++ nodes.takeRight(1) :+ 999L).toDF("s")
      val singletons = nodes.map(n => (n, n)).toDF("node", "community")
      val ops: Seq[(String, (org.apache.spark.sql.DataFrame, Long) => org.apache.spark.sql.DataFrame)] = Seq(
        "connectedComponents" -> ((e, m) => Graph.connectedComponents(e, "a", "b", localMaxEdges = m)),
        "labelPropagation" -> ((e, m) => Graph.labelPropagation(e, "a", "b", rounds = 3, localMaxEdges = m)),
        "louvainMerge" -> ((e, m) => Graph.louvainMerge(e, "a", "b", singletons, rounds = 3, localMaxEdges = m)),
        "bfsHops" -> ((e, m) => Graph.bfsHops(e, "a", "b", seeds, "s", maxHops = 3, localMaxEdges = m)),
        "sssp" -> ((e, m) => Graph.sssp(e, "a", "b", "w", seeds, "s", maxRounds = 3, localMaxEdges = m)))
      ops.foreach { case (name, op) =>
        val runs = for { parts <- Seq(1, 4); m <- Seq(DriverLocal.maxEdges, 0L) } yield {
          val e = weighted.toDF("a", "b", "w").repartition(parts)
          (parts, m) -> op(e, m).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        }
        runs.foreach { case (how, rows) =>
          assert(rows == runs.head._2, s"$name on $g: $how gave $rows, ${runs.head._1} gave ${runs.head._2}")
        }
      }
    }
  }

  test("dedupClusters: transitive near-dups collapse to one canonical doc") {
    // three mutually-similar texts (a->b->c transitively), one distinct
    val base = "the quick brown fox jumps over the lazy dog again and again in the yard"
    val docs = Seq(
      (1L, base + " one"),
      (2L, base + " two"),
      (3L, base + " three"),
      (9L, "completely different text about spark catalyst optimizer internals and shuffles here")
    ).toDF("doc_id", "text")
    val out = Graph.dedupClusters(docs, "doc_id", "text", minJaccard = 0.5)
      .select("doc_id", "cluster_id", "is_canonical")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(out == Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (9L, 9L, true)))
  }

  test("connected components: 50-iteration chain keeps a truncated lineage") {
    // labels feed each iteration twice (join + union), so an
    // untruncated plan doubles per round — 2^50 nodes by the end. The
    // checkpointing must keep the returned plan CONSTANT-sized no
    // matter how many iterations ran (this chain needs all 50).
    // force the distributed star rounds — the lineage-truncation
    // guarantee under test is theirs (the local path never iterates)
    val edges = (1L to 50L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = Graph.connectedComponents(edges, "a", "b", maxIter = 60, localMaxEdges = 0)
    val plan = labels.queryExecution.optimizedPlan.toString
    assert(plan.length < 10000, s"iteration lineage must be truncated, got ${plan.length} chars")
    assert(labels.collect().forall(_.getLong(1) == 1L), "51-node chain collapses to min id 1")
  }

  /** Driver-side replay of the EXACT integer update rule — the
   *  reference for the distributed pageRank. */
  private def pageRankRef(edges: Set[(Long, Long)], iterations: Int,
                          d100: Long = 85L, scale: Long = 1000000000L): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    val od = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val teleport = (100L - d100) * (scale / 100L)
    var r = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iterations) {
      val in = edges.toSeq.groupBy(_._2).view
        .mapValues(_.map { case (s, _) => r(s) / od(s) }.sum).toMap
      r = nodes.map(n => n -> (teleport + d100 * in.getOrElse(n, 0L) / 100L)).toMap
    }
    r
  }

  test("labelPropagation: two triangles over a bridge resolve to two communities — hand-replayed synchronous rounds") {
    // triangle {1,2,3} -- bridge 3-10 -- triangle {10,11,12}.
    // Synchronous most-frequent-neighbor-label, ties to smallest,
    // replayed by hand for 4 rounds:
    //   l1: 1->2, 2->1, 3->1, 10->3, 11->10, 12->10
    //   l2: 1->1, 2->1, 3->1, 10->10, 11->3, 12->3
    //   l3: A all 1; 10->3, 11->3, 12->3
    //   l4: {1,2,3}->1, {10,11,12}->3  — two distinct communities,
    //   the bridge never merges them
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L)).toDF("a", "b")
    val got = Graph.labelPropagation(edges, "a", "b", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 3L, 11L -> 3L, 12L -> 3L),
      s"hand-replayed fixed-round LPA state: $got")
    // disconnected cliques never share a label, whatever the rounds
    val disc = Seq((1L, 2L), (1L, 3L), (2L, 3L), (7L, 8L), (7L, 9L), (8L, 9L))
      .toDF("a", "b")
    val g2 = Graph.labelPropagation(disc, "a", "b", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(1L, 2L, 3L).map(g2).intersect(Set(7L, 8L, 9L).map(g2)).isEmpty)
    // determinism: bit-equal across partitionings
    val g3 = Graph.labelPropagation(edges.repartition(7), "a", "b", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g3 == got)
    intercept[IllegalArgumentException](Graph.labelPropagation(edges, "a", "b", rounds = 0))
  }

  test("modularity: hand-computed exact integers on the bridged two-triangle graph") {
    // m = 7 edges; communities {1,2,3} and {10,11,12} (the LPA result
    // above): e_c = 3 intra each; degrees 2,2,3 per triangle -> d_c = 7;
    // q_num = 4*7*3 - 7^2 = 35 each; Q = (35+35)/(4*49) = 0.357143
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L)).toDF("a", "b")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 3L), (11L, 3L), (12L, 3L))
      .toDF("node", "community")
    val got = Graph.modularity(edges, "a", "b", labels)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 3L, 3L, 7L, 35L, 0.178571), (3L, 3L, 3L, 7L, 35L, 0.178571)),
      s"exact per-community modularity numerators: ${got.toSeq}")
    // the trivial all-one-community partition scores Q = 0 exactly:
    // e_c = m and d_c = 2m -> q_num = 4m^2 - 4m^2 = 0
    val one = Seq(1L, 2L, 3L, 10L, 11L, 12L).map(_ -> 7L).toDF("node", "community")
    val q0 = Graph.modularity(edges, "a", "b", one).collect()
    assert(q0.length == 1 && q0(0).getLong(4) == 0L, q0.mkString)
  }

  test("pageRank: symmetric 2-cycle is a fixed point at rank = scale") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = Graph.pageRank(edges, "src", "dst", iterations = 7)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r == Map(1L -> 1000000000L, 2L -> 1000000000L))
  }

  test("pageRank equals the integer reference on a star + chain + dangling graph") {
    // hub 0 absorbing a star, a 3-chain, a dangling node (4 has no
    // out-edges: its mass leaks — documented semantics), parallel
    // edge (collapsed) and an isolated pair
    val raw = Seq((1L, 0L), (2L, 0L), (3L, 0L), (0L, 1L), (1L, 2L),
      (5L, 4L), (5L, 4L), (6L, 7L), (7L, 6L))
    val got = Graph.pageRank(raw.toDF("src", "dst"), "src", "dst", iterations = 5)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    val want = pageRankRef(raw.toSet, 5)
    assert(got == want, s"got=$got want=$want")
    assert(got(0L) > got(3L), "hub outranks its spokes")
  }

  test("pageRank is bit-exact across partitionings") {
    val edges = (1L to 200L).map(i => (i, i * 7 % 201)).toDF("src", "dst")
    val a = Graph.pageRank(edges.repartition(1), "src", "dst", iterations = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    val b = Graph.pageRank(edges.repartition(13, col("src")), "src", "dst", iterations = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(a == b)
  }

  test("pageRank: the cached edge layout feeds each iteration's sort-merge join unshuffled and unsorted") {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec,
      ShuffleQueryStageExec, TableCacheQueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val edges = (1L to 200L).map(i => (i, i * 7 % 201)).toDF("src", "dst")
      val ranks = Graph.pageRank(edges, "src", "dst", iterations = 3)
      ranks.collect()
      // the operators between a join side and the degree-annotated
      // edge cache (the one cache with an `od` column), if the side
      // is a single-child chain down to that cache
      def toEdgeScan(p: SparkPlan): Option[List[SparkPlan]] = p match {
        case t: TableCacheQueryStageExec => toEdgeScan(t.plan)
        case s: InMemoryTableScanExec => if (s.output.exists(_.name == "od")) Some(Nil) else None
        case q: QueryStageExec => toEdgeScan(q.plan).map(q :: _)
        case o if o.children.size == 1 => toEdgeScan(o.children.head).map(o :: _)
        case _ => None
      }
      val plan = ranks.queryExecution.executedPlan
      val edgePaths = new AdaptiveSparkPlanHelper {}.collect(plan) {
        case j: SortMergeJoinExec => Seq(j.left, j.right)
      }.flatten.flatMap(toEdgeScan)
      assert(edgePaths.size == 3, s"one sort-merge join per iteration reads the edge cache:\n$plan")
      edgePaths.foreach { ops =>
        assert(!ops.exists {
            case _: SortExec | _: ShuffleExchangeLike | _: ShuffleQueryStageExec => true
            case _ => false
          }, s"the edge side must keep the cached partitioning and order: ${ops.map(_.nodeName)}\n$plan")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
  }

  test("pageRank guards its parameter domains") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    assert(intercept[IllegalArgumentException] {
      Graph.pageRank(edges, "src", "dst", iterations = 0)
    }.getMessage.contains("pageRank"))
    assert(intercept[IllegalArgumentException] {
      Graph.pageRank(edges, "src", "dst", d100 = 101)
    }.getMessage.contains("pageRank"))
    assert(intercept[IllegalArgumentException] {
      Graph.pageRank(edges, "src", "dst", scale = 12345L)
    }.getMessage.contains("pageRank"))
  }

  test("triangleCounts: K4 has 4 triangles, 3 per node; K3+pendant isolates correctly") {
    val k4 = (for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)).toDF("a", "b")
    val out = Graph.triangleCounts(k4, "a", "b").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.size == 4)
    assert(out.values.forall(_ == ((3L, 3L))), "every K4 node: degree 3, 3 triangles")
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val out2 = Graph.triangleCounts(g, "a", "b").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
  }

  test("triangleCounts matches naive 3-join enumeration on a random graph") {
    val rnd = new scala.util.Random(11)
    val raw = (1 to 400).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    val e = raw.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct.toDF("a", "b")
    val fast = Graph.triangleCounts(e, "a", "b").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val naive = e.alias("e1")
      .join(e.alias("e2"), col("e2.a") === col("e1.b"))
      .join(e.alias("e3"), col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val perNode = naive.select(col("x").as("n"))
      .union(naive.select(col("y").as("n"))).union(naive.select(col("z").as("n")))
      .groupBy("n").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast.filter(_._2 > 0) == perNode, "per-node triangle counts agree")
    assert(fast.values.sum % 3 == 0, "each triangle counted at 3 nodes")
  }

  test("topKNeighborGraph bounds degree and keeps the heaviest partners") {
    val pairs = Seq(
      (1L, 2L, 10L), (1L, 3L, 9L), (1L, 4L, 8L), (1L, 5L, 7L),
      (2L, 3L, 1L), (4L, 5L, 1L))
      .toDF("u", "v", "w")
    val ed = Graph.topKNeighborGraph(pairs, "u", "v", "w", k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // node 1 keeps only {2,3}, but 4 and 5 each keep node 1, so the
    // symmetrized union re-adds (1,4) and (1,5): every edge survives
    // if EITHER endpoint ranks it top-k
    assert(ed == Set((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (1L, 5L), (4L, 5L)))
    val degs = ed.toSeq.flatMap(e => Seq(e._1, e._2)).groupBy(identity).map(_._2.size)
    assert(degs.forall(_ <= 4), "degree bounded by 2k")
  }

  test("topKNeighborGraph casts to long and breaks weight ties by partner id") {
    // int inputs: the operator's output contract is LONG (a, b)
    val pairs = Seq((1, 2, 5), (1, 3, 5), (1, 4, 5), (2, 3, 1))
      .toDF("u", "v", "w")
    val ed = Graph.topKNeighborGraph(pairs, "u", "v", "w", k = 1)
    assert(ed.schema.fields.map(_.dataType).forall(
      _ == org.apache.spark.sql.types.LongType), "canonical edges are LONG")
    val got = ed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // node 1: all three partners tie at w=5 -> keeps the SMALLEST id (2);
    // 2 keeps 1 (5 beats 1), 3 keeps 1, 4 keeps 1 -> symmetrized union
    assert(got == Set((1L, 2L), (1L, 3L), (1L, 4L)))
  }

  test("bfsHops: multi-source min distance, early stop, unreachable absent") {
    // path 1-2-3-4-5, island 10-11, isolated seed 99
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L)).toDF("a", "b")
    val seeds = Seq(1L, 5L, 99L).toDF("s")
    val out = Graph.bfsHops(e, "a", "b", seeds, "s", maxHops = 6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 5L -> 0L, 99L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L),
      "min over both seeds; island 10-11 unreached")
  }

  test("bfsHops respects the maxHops bound") {
    val e = (1L to 9L).map(i => (i, i + 1)).toDF("a", "b")
    val seeds = Seq(1L).toDF("s")
    val out = Graph.bfsHops(e, "a", "b", seeds, "s", maxHops = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("sssp: hand-verified weighted distances, shortcut beats hop count, bounded rounds") {
    import spark.implicits._
    // 1 -2- 2 -2- 3 -2- 4, plus a direct heavy edge 1 -5- 4 and a
    // cheap long way 1 -1- 5 -1- 6 -1- 4 (3 hops, weight 3)
    val e = Seq((1L, 2L, 2L), (2L, 3L, 2L), (3L, 4L, 2L), (1L, 4L, 5L),
      (1L, 5L, 1L), (5L, 6L, 1L), (6L, 4L, 1L)).toDF("a", "b", "w")
    val out = Graph.sssp(e, "a", "b", "w", Seq(1L).toDF("s"), "s", maxRounds = 8)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 0L, 2L -> 2L, 3L -> 4L, 4L -> 3L, 5L -> 1L, 6L -> 2L),
      s"shortest WEIGHT wins, not fewest hops (got $out)")
    // bounded contract: with 1 round only direct neighbors resolve
    val r1 = Graph.sssp(e, "a", "b", "w", Seq(1L).toDF("s"), "s", maxRounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 0L, 2L -> 2L, 4L -> 5L, 5L -> 1L),
      s"one round = one-edge paths only (got $r1)")
    // parallel edges collapse to the cheapest
    val p = Seq((1L, 2L, 9L), (1L, 2L, 3L)).toDF("a", "b", "w")
    val pd = Graph.sssp(p, "a", "b", "w", Seq(1L).toDF("s"), "s").as[(Long, Long)].collect().toMap
    assert(pd(2L) == 3L)
    // negative weights refused loudly
    intercept[IllegalArgumentException] {
      Graph.sssp(Seq((1L, 2L, -1L)).toDF("a", "b", "w"), "a", "b", "w",
        Seq(1L).toDF("s"), "s")
    }
    // multi-source: every node takes its NEAREST seed
    val chain = (1L until 10L).map(i => (i, i + 1, 1L)).toDF("a", "b", "w")
    val ms = Graph.sssp(chain, "a", "b", "w", Seq(1L, 10L).toDF("s"), "s", maxRounds = 10)
      .as[(Long, Long)].collect().toMap
    assert(ms(5L) == 4L && ms(6L) == 4L && ms(1L) == 0L && ms(10L) == 0L)
  }

  test("louvainMerge: hand-computed greedy rounds on the bridged two-triangle graph") {
    // triangles {1,2,3} and {4,5,6}, bridge 3-4; m = 7.
    // From singletons, dq_num(c,d) = 28*e_cd - 2*d_c*d_d:
    //   round 1: 1<->2 mutual (dq 20; 1's best is 2 since dq(1,3)=16),
    //            5<->6 mutual (dq 20); 3 nominates 1, 4 nominates 5 —
    //            not reciprocated, so both stay.
    //   round 2: {1,2}(d=4,e=1) <-> {3}(d=3): dq 28*2-24=32 mutual;
    //            {4}(d=3) <-> {5,6}(d=4,e=1): dq 32 mutual.
    //   -> exactly the two triangles, ids = min members 1 and 4.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
      .toDF("a", "b")
    val singletons = (1L to 6L).toDF("node").withColumn("community", col("node"))
    val got = Graph.louvainMerge(edges, "a", "b", singletons, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L),
      s"two greedy rounds must recover the triangles: $got")
    // one round stops at the first matching: {1,2}, {3}, {4}, {5,6}
    val r1 = Graph.louvainMerge(edges, "a", "b", singletons, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 5L, 6L -> 5L),
      s"round-1 mutual matching: $r1")
    // a third round must be a no-op (merging the triangles has
    // dq_num = 28*1 - 2*7*7 < 0) and the early exit must fire
    val r3 = Graph.louvainMerge(edges, "a", "b", singletons, rounds = 8)
      .as[(Long, Long)].collect().toMap
    assert(r3 == got, "no positive-gain merge may survive convergence")
    // every merge strictly increased Q: Q(final) > Q(LPA-style input)
    def qSum(labels: org.apache.spark.sql.DataFrame) =
      Graph.modularity(edges, "a", "b", labels).agg(sum("q_num")).first().getLong(0)
    assert(qSum(got.toSeq.toDF("node", "community")) >
      qSum(singletons), "greedy agglomeration must increase modularity")
    // partitioning invariance (determinism under shuffles)
    val reparted = Graph.louvainMerge(edges.repartition(7), "a", "b",
      singletons.repartition(5), rounds = 2).as[(Long, Long)].collect().toMap
    assert(reparted == got)
  }

  test("ancestorPairs: exact closure on a hand tree; deep chain converges in log rounds") {
    // ternary-ish tree: 0 <- {1,2,3}, 1 <- {4,5}, 4 <- {6}
    val par = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 1L), (6L, 4L))
      .toDF("node", "parent")
    val got = Graph.ancestorPairs(par, "node", "parent")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Set((1L,0L),(2L,0L),(3L,0L),(4L,1L),(4L,0L),(5L,1L),(5L,0L),
      (6L,4L),(6L,1L),(6L,0L))
    assert(got == want, s"missing ${want -- got}, extra ${got -- want}")
    // a 70-deep chain resolves within the 20-round bound (log2(70) ~ 7
    // doubling rounds) and yields exactly sum(depth) = 70*71/2 pairs
    val chain = (1L to 70L).map(k => (k, k - 1)).toDF("node", "parent")
    assert(Graph.ancestorPairs(chain, "node", "parent").count() == 70L * 71 / 2,
      "pointer doubling must reach every ancestor of a deep chain")
  }

  test("ancestorPairs: a cyclic parent relation is rejected, not closed into self-ancestry") {
    // 1 -> 2 -> 1 is a cycle; 3 hangs off it. Pointer doubling reaches
    // a fixpoint here, so only the forest check can refuse it
    val cyclic = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("node", "parent")
    val e = intercept[IllegalArgumentException](Graph.ancestorPairs(cyclic, "node", "parent"))
    assert(e.getMessage.contains("cycle"), e.getMessage)
    // a self-parent row is the shortest cycle
    intercept[IllegalArgumentException](
      Graph.ancestorPairs(Seq((1L, 1L)).toDF("node", "parent"), "node", "parent"))
  }

  test("graph_pagerank: per-iteration shuffles stay bounded (edges persisted, ranks slim)") {
    // 5 iterations over a persisted degree-annotated edge table: the
    // returned plan is the LAST iteration reading cached blocks — it
    // must reference the in-memory relation, not re-derive the edge
    // pipeline from parquet each round.
    val plan = planOf("graph_pagerank")
    assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
      s"edge table must come from cache on the final iteration:\n$plan")
  }
}
