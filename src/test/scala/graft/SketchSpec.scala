package graft

import graft.operators.Sketch
import org.apache.spark.sql.functions._

class SketchSpec extends SparkSpecBase {
  import spark.implicits._

  private def idsDF(ids: Seq[Long], grp: String = "g") =
    ids.map((grp, _)).toDF("grp", "id")

  test("hll estimate lands inside the 1.04/sqrt(m) envelope across cardinalities") {
    // sequential AND strided ids — the lattice inputs that break a
    // single multiplicative round (measured +50% bias before the
    // two-round mixer). Cardinalities start at ~16m: below ~5m the
    // raw formula is biased by design (we skip the ln()-based
    // linear-counting correction for cross-engine determinism —
    // scaladoc'd contract)
    for ((n, stride) <- Seq((1500, 1L), (5000, 8L), (20000, 3L))) {
      val df = idsDF((0 until n).map(i => 1 + i * stride))
      val est = Sketch.hllDistinct(df, "grp", "id").select("hll_est_e2").as[Long].head() / 100.0
      val err = math.abs(est / n - 1)
      assert(err < 0.30, f"n=$n stride=$stride: est=$est%.0f err=${err * 100}%.1f%% (>2.3 sigma at m=64)")
    }
  }

  test("register table is bounded at groups x m rows and partitioning-invariant") {
    val df = idsDF((1L to 3000L), "a").union(idsDF((1L to 700L), "b"))
    val regs = Sketch.hllRegisters(df, "grp", "id").cache()
    assert(regs.count() <= 2 * 64)
    val a = regs.orderBy("grp", "bucket").collect().toSeq
    val b = Sketch.hllRegisters(df.repartition(7), "grp", "id").orderBy("grp", "bucket").collect().toSeq
    assert(a == b, "registers must be bit-identical across partitionings")
    regs.unpersist()
  }

  test("sharded registers merge to exactly the single-pass sketch") {
    val all = idsDF(1L to 5000L)
    val shard1 = idsDF(1L to 3000L)            // overlapping shards:
    val shard2 = idsDF(2500L to 5000L)         // max is idempotent
    val merged = Sketch.hllMerge(
      Sketch.hllRegisters(shard1, "grp", "id"),
      Sketch.hllRegisters(shard2, "grp", "id"))
    val direct = Sketch.hllRegisters(all, "grp", "id")
    assert(merged.orderBy("grp", "bucket").collect().toSeq ==
      direct.orderBy("grp", "bucket").collect().toSeq,
      "merge(shards) must equal sketch(union) — the distributed-count contract")
    // and the estimate path accepts merged registers
    val est = Sketch.hllEstimate(merged).select("hll_est_e2").as[Long].head() / 100.0
    assert(math.abs(est / 5000.0 - 1) < 0.30)
  }

  test("bloomBuildDense: bit-identical words to the row-aggregation bloomBuild at every geometry") {
    // the two builds MUST be probe-compatible — a divergence would be
    // silent false negatives for whichever operator used the other form
    val keys = idsDF((1L to 2000L).map(i => i * 104729 - 3))
    for ((logM, k) <- Seq((12, 4), (16, 2), (20, 6))) {
      val row = Sketch.bloomBuild(keys, "id", logM, k)
      val dense = Sketch.bloomBuildDense(keys.repartition(5), "id", logM, k)
      assert(java.util.Arrays.equals(row, dense),
        s"dense and row builds diverged at logM=$logM k=$k")
    }
    // empty input -> all-zero filter, same as the row form
    val empty = idsDF(Seq.empty[Long])
    assert(Sketch.bloomBuildDense(empty, "id", 12, 4).forall(_ == 0L))
  }

  test("bloom filter: no false negatives, FP rate near theory, plan stays codegen'd") {
    val members = idsDF((1L to 400L).map(_ * 7919)) // spread keys
    val words = Sketch.bloomBuild(members, "id", logM = 12, k = 4)
    // every member must pass (no false negatives — the Bloom contract)
    val kept = members.filter(Sketch.bloomProbe(col("id"), words, logM = 12, k = 4)).count()
    assert(kept == 400, s"false negatives are impossible by construction, got $kept/400")
    // non-members pass at ~(1 - e^(-kn/m))^k = (1 - e^-0.39)^4 ~ 1.1%
    // (spark.range, not a LocalTableScan — local relations get
    // constant-folded through the filter, hiding the codegen span)
    val probes = spark.range(1, 20001).select(($"id" * 7919 + 3).as("id"))
    val fp = probes.filter(Sketch.bloomProbe(col("id"), words, logM = 12, k = 4)).count()
    assert(fp > 0 && fp < 20000 * 0.05,
      s"FP rate wildly off theory (~1.1% at this load): $fp/20000")
    // the probe is a single codegen'd kernel — the composed-Column form
    // of the same math broke Janino and fell back to interpreted eval
    val plan = probes.filter(Sketch.bloomProbe(col("id"), words, logM = 12, k = 4))
      .queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Filter bloom_probe""".r.findFirstIn(plan).isDefined,
      s"probe filter must sit inside a WholeStageCodegen span (the *(n) prefix):\n$plan")
    // geometry desync through the broadcast face must fail driver-side
    // (the codegen path reads the broadcast directly and would
    // otherwise probe the wrong geometry — silent false negatives)
    val bc = spark.sparkContext.broadcast(words)
    val e = intercept[IllegalArgumentException] {
      Sketch.bloomProbeBc(col("id"), bc, logM = 14, k = 4)
    }
    assert(e.getMessage.contains("same logM"), e.getMessage)
  }

  test("bloom kernel hash matches the Column-side knuth hash bit-for-bit") {
    // the kernel reimplements Sampling.knuthHash in JVM arithmetic; the
    // DuckDB oracle replays the Column/SQL form — they must agree or
    // build and probe silently diverge from the oracle
    val ids = Seq(0L, 1L, 42L, 65535L, 65536L, Int.MaxValue.toLong,
      (1L << 32) - 1, 1L << 32, (1L << 45) + 12345L, Long.MaxValue)
    val viaColumn = ids.toDF("id")
      .select(graft.operators.SamplingTestAccess.knuthHash(col("id")).as("h"))
      .as[Long].collect().toSeq
    val viaKernel = ids.map(graft.functions.SketchKernels.knuth)
    assert(viaColumn == viaKernel)
  }

  test("cms: estimates never undercount, sharded cells merge to the single pass, state is bounded") {
    // skewed stream: key k appears k times (1..120), plus a heavy 5000-count key
    val stream = ((1 to 120).flatMap(k => Seq.fill(k)(k.toLong)) ++ Seq.fill(5000)(777L))
      .toDF("id")
    val cells = Sketch.cmsCells(stream, "id", d = 4, logW = 8).cache()
    assert(cells.count() <= 4L * 256L, "cell table must be bounded at d x 2^logW")
    val probe = ((1L to 120L) :+ 777L :+ 999999L).toDF("id") // 999999 never seen
    val est = Sketch.cmsEstimate(cells, probe, "id", d = 4, logW = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = ((1 to 120).map(k => k.toLong -> k.toLong) :+ (777L -> 5000L) :+ (999999L -> 0L)).toMap
    exact.foreach { case (k, n) =>
      assert(est(k) >= n, s"CMS undercounted key $k: ${est(k)} < $n — impossible by construction")
    }
    // heavy key is estimated tightly (collision error is bounded by the light tail)
    assert(est(777L) <= 5000L + stream.count() / 16, s"heavy-key estimate far off: ${est(777L)}")
    // shard merge == single pass (the incremental-counting contract)
    val merged = Sketch.cmsMerge(
      Sketch.cmsCells(stream.filter(col("id") % 2 === 0), "id", d = 4, logW = 8),
      Sketch.cmsCells(stream.filter(col("id") % 2 =!= 0), "id", d = 4, logW = 8))
    assert(merged.orderBy("row", "cell").collect().toSeq ==
      cells.orderBy("row", "cell").collect().toSeq)
    cells.unpersist()
  }

  test("histogram sketch: quantile edges bracket the exact percentile, shards merge, state bounded") {
    // two skewed groups over [0, 64) with 32 bins (width 2.0)
    val vals = ((1 to 1000).map(i => ("a", (i % 50) + 0.5)) ++
      (1 to 400).map(i => ("b", math.min(63.9, i / 10.0)))).toDF("g", "v")
    val bins = Sketch.histBins(vals, "g", "v", 0.0, 64.0, 32).cache()
    assert(bins.count() <= 2L * 32L)
    val qs = Sketch.histQuantiles(bins, Seq(50, 90, 99), 0.0, 64.0, 32)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // exact percentiles (nearest-rank): estimate's bin must CONTAIN it
    val rows = vals.collect().map(r => (r.getString(0), r.getDouble(1)))
    for (g <- Seq("a", "b"); p <- Seq(50, 90, 99)) {
      val sorted = rows.filter(_._1 == g).map(_._2).sorted
      val exact = sorted((math.ceil(sorted.length * p / 100.0) - 1).toInt.max(0))
      val (qbin, edge) = qs((g, p))
      assert(exact <= edge && exact >= edge - 2.0,
        s"$g p$p: exact $exact outside estimated bin (qbin=$qbin edge=$edge)")
    }
    // shard merge == single pass
    val merged = Sketch.histMerge(
      Sketch.histBins(vals.filter($"v" < 20), "g", "v", 0.0, 64.0, 32),
      Sketch.histBins(vals.filter($"v" >= 20), "g", "v", 0.0, 64.0, 32))
    assert(merged.orderBy("grp", "bin").collect().toSeq ==
      bins.orderBy("grp", "bin").collect().toSeq)
    // out-of-range values clamp (totals conserved); NULL and NaN are
    // excluded — they are not values and must not drag quantiles
    val clamped = Sketch.histBins(
        Seq(("c", Some(-5.0)), ("c", Some(1e9)), ("c", None), ("c", Some(Double.NaN)))
          .toDF("g", "v"), "g", "v", 0.0, 64.0, 32)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(clamped == Map(0L -> 1L, 31L -> 1L))
    // geometry-carrying wrapper refuses mismatched merges
    val sk = Sketch.histSketch(vals, "g", "v", 0.0, 64.0, 32)
    val e = intercept[IllegalArgumentException](
      sk.merge(Sketch.histSketch(vals, "g", "v", 0.0, 128.0, 32)))
    assert(e.getMessage.contains("geometry mismatch"))
    assert(sk.merge(sk).quantiles(Seq(50)).count() == 2L) // self-merge is idempotent (sums double but cuts at the same bins)
    bins.unpersist()
  }

  test("non-integral id column is rejected loudly") {
    val df = Seq(("g", "abc")).toDF("grp", "id")
    val e = intercept[IllegalArgumentException](Sketch.hllRegisters(df, "grp", "id"))
    assert(e.getMessage.contains("integral"))
  }

  test("bloom probe at logM=26: words ride the broadcast, not the task binary; contract holds") {
    // 2^26 bits = 8 MB of filter words. The probe EXPRESSION must stay
    // tiny regardless — the words ship once per executor via the
    // broadcast manager, never per task inside the expression tree.
    val members = idsDF((1L to 2000L).map(_ * 104729))
    val words = Sketch.bloomBuild(members, "id", logM = 26, k = 4)
    assert(words.length == 1 << 20)
    val probeCol = Sketch.bloomProbe(col("id"), words, logM = 26, k = 4)
    val exprBytes = {
      import org.apache.spark.sql.GraftBridge.{expression => toExpr}
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(toExpr(probeCol)); oos.close()
      bos.size()
    }
    assert(exprBytes < 100 * 1024,
      s"probe expression serialized to $exprBytes bytes — the 8 MB word array is riding " +
        "the expression tree instead of the broadcast")
    // contract still holds at this geometry: zero false negatives,
    // and the huge filter makes false positives ~impossible at n=2000
    val kept = members.filter(probeCol).count()
    assert(kept == 2000, s"false negatives at logM=26: $kept/2000")
    val fp = spark.range(1, 50001).select(($"id" * 104729 + 17).as("id"))
      .filter(Sketch.bloomProbe(col("id"), words, logM = 26, k = 4)).count()
    assert(fp < 50, s"FP count at logM=26 with n=2000 should be ~0, got $fp/50000")
  }

  test("bloom probe validates geometry before the word-count check (logM<6 must not wrap)") {
    // geometry must be rejected up front — a wrapped `1 << (4-6)` shift
    // would "expect" 2^30 words and give a nonsense error (or pass a
    // crafted array of that length)
    val e = intercept[IllegalArgumentException](
      Sketch.bloomProbe(col("id"), new Array[Long](8), logM = 4, k = 4))
    assert(e.getMessage.contains("[6, 30]"))
  }

  test("kmv: exact below k, inside the 1/sqrt(k-2) envelope above, partitioning-invariant") {
    // under-full group: the sketch IS the distinct set -> exact * 100
    val small = idsDF((1L to 100L) ++ (1L to 100L)) // duplicates must not inflate
    val se = Sketch.kmvEstimate(Sketch.kmvSketch(small, "grp", "id", k = 256), k = 256)
      .select("n_kept", "kmv_est_e2").as[(Long, Long)].head()
    assert(se == ((100L, 10000L)), s"under-full group must be exact: $se")
    // full sketches: threshold estimator within ~3 sigma of 1/sqrt(k-2)
    for ((n, stride) <- Seq((5000, 1L), (20000, 7L))) {
      val est = Sketch.kmvEstimate(
          Sketch.kmvSketch(idsDF((0 until n).map(i => 1 + i * stride)), "grp", "id", k = 256),
          k = 256)
        .select("kmv_est_e2").as[Long].head() / 100.0
      val err = math.abs(est / n - 1)
      assert(err < 0.20, f"n=$n stride=$stride: est=$est%.0f err=${err * 100}%.1f%%")
    }
    // bit-identical across partitionings (the heap combiner is lossless)
    val df = idsDF((1L to 9000L).map(_ * 13), "a").union(idsDF(1L to 300L, "b"))
    val one = Sketch.kmvSketch(df, "grp", "id", k = 64).orderBy("grp", "rank").collect().toSeq
    val other = Sketch.kmvSketch(df.repartition(11), "grp", "id", k = 64)
      .orderBy("grp", "rank").collect().toSeq
    assert(one == other, "kmv sketch must be bit-identical across partitionings")
    assert(one.size <= 2 * 64, "state bounded at groups x k")
  }

  test("kmv: sharded sketches merge to exactly the single-pass sketch") {
    val all = idsDF(1L to 6000L)
    val s1 = Sketch.kmvSketch(idsDF(1L to 3500L), "grp", "id", k = 128)
    val s2 = Sketch.kmvSketch(idsDF(3000L to 6000L), "grp", "id", k = 128) // overlap: min-k idempotent
    val merged = Sketch.kmvMerge(128, s1, s2).orderBy("rank").collect().toSeq
    val single = Sketch.kmvSketch(all, "grp", "id", k = 128).orderBy("rank").collect().toSeq
    assert(merged == single, "merge(shards) must equal the one-pass sketch bit-for-bit")
  }

  test("kmv intersection: estimates track exact overlap; disjoint sets give rho=0") {
    def grouped(ids: Seq[Long]) = ids.map(("g", _)).toDF("grp", "id")
    // |A|=4000, |B|=3000, |A∩B|=2000, |A∪B|=5000 -> jaccard 0.4
    val a = Sketch.kmvSketch(grouped(1L to 4000L), "grp", "id", k = 256)
    val b = Sketch.kmvSketch(grouped(2001L to 5000L), "grp", "id", k = 256)
    val r = Sketch.kmvIntersectEstimate(a, b, k = 256)
      .select("rho", "union_est_e2", "inter_est_e2", "jaccard_e4")
      .as[(Long, Long, Long, Long)].head()
    assert(math.abs(r._2 / 100.0 / 5000.0 - 1) < 0.20, s"union est off: $r")
    assert(math.abs(r._3 / 100.0 / 2000.0 - 1) < 0.35, s"intersection est off: $r")
    assert(math.abs(r._4 / 10000.0 - 0.4) < 0.12, s"jaccard est off: $r")
    // UNDER-full sketches: the kept sample IS the whole union, so the
    // intersection estimate must be EXACT rho, not rho-scaled-by-k
    // (the bug class: dividing by k shrinks an exact answer ~3x)
    val ua = Sketch.kmvSketch(grouped(1L to 50L), "grp", "id", k = 256)
    val ub = Sketch.kmvSketch(grouped(26L to 75L), "grp", "id", k = 256)
    val u = Sketch.kmvIntersectEstimate(ua, ub, k = 256)
      .select("n_union_kept", "rho", "union_est_e2", "inter_est_e2", "jaccard_e4")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(u == ((75L, 25L, 7500L, 2500L, 3333L)),
      s"under-full union must report EXACT counts (75 union, 25 inter): $u")
    // disjoint sets: rho must be exactly 0 (no false intersection)
    val d = Sketch.kmvIntersectEstimate(
      Sketch.kmvSketch(grouped(1L to 2000L), "grp", "id", k = 128),
      Sketch.kmvSketch(grouped(100000L to 102000L), "grp", "id", k = 128), k = 128)
      .select("rho", "inter_est_e2").as[(Long, Long)].head()
    assert(d == ((0L, 0L)), s"disjoint sketches must report zero intersection: $d")
  }

  test("kmv geometry and id-type guards fail loudly") {
    val df = Seq(("g", "abc")).toDF("grp", "id")
    assert(intercept[IllegalArgumentException](
      Sketch.kmvSketch(df, "grp", "id")).getMessage.contains("integral"))
    assert(intercept[IllegalArgumentException](
      Sketch.kmvSketch(idsDF(1L to 10L), "grp", "id", k = 1)).getMessage.contains("[2, 4096]"))
  }

  /** Zipf-ish synthetic stream: term i appears ~C/i times. */
  private def zipfTerms(nTerms: Int, c: Int): Seq[String] =
    (1 to nTerms).flatMap(i => Seq.fill(math.max(c / i, 1))(s"t$i"))

  private def exactHeavy(terms: Seq[String], k: Int): Map[String, Long] = {
    val n = terms.size.toLong
    terms.groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, c) => c * (k + 1) > n }.toMap
  }

  test("heavy hitters: exact result, partitioning-invariant, matches the threshold definition") {
    val terms = new scala.util.Random(7).shuffle(zipfTerms(500, 2000))
    val want = exactHeavy(terms, 16)
    assert(want.nonEmpty && want.size < 500, s"test needs a discriminating threshold: ${want.size}")
    for (parts <- Seq(1, 3, 32)) {
      val df = terms.toDF("term").repartition(parts)
      val got = Sketch.heavyHitters(df, "term", 16)
        .as[(String, Long)].collect().toMap
      assert(got == want, s"parts=$parts: got ${got.size} heavy terms, want ${want.size}")
    }
  }

  test("heavy hitters: MG summary union is a candidate superset and stays bounded") {
    val terms = new scala.util.Random(11).shuffle(zipfTerms(300, 1500))
    val df = terms.toDF("term").repartition(8)
    val summ = Sketch.mgSummaries(df, "term", 16).collect()
    val cands = summ.filter(!_.isNullAt(0)).map(_.getString(0)).toSet
    assert(summ.count(_.isNullAt(0)) == 8, "one sentinel count row per partition")
    assert(summ.filter(_.isNullAt(0)).map(_.getLong(1)).sum == terms.size.toLong)
    assert(cands.size <= 8 * 16, s"summary must be bounded by partitions x k: ${cands.size}")
    val want = exactHeavy(terms, 16).keySet
    assert(want.subsetOf(cands), s"MG guarantee violated: missing ${want -- cands}")
  }

  test("heavy hitters: nulls skipped, empty input, k=1 majority element") {
    val empty = Seq.empty[String].toDF("term")
    assert(Sketch.heavyHitters(empty, "term", 8).count() == 0)
    val withNulls = (Seq.fill(10)(Some("a")) ++ Seq.fill(3)(Some("b")) ++ Seq.fill(4)(Option.empty[String]))
      .toDF("term").repartition(2)
    // N counts non-null items only: 13; a=10 > 13/2, b=3 < 13/2 at k=1
    val maj = Sketch.heavyHitters(withNulls, "term", 1).as[(String, Long)].collect().toMap
    assert(maj == Map("a" -> 10L), s"k=1 must find exactly the majority element: $maj")
    assert(intercept[IllegalArgumentException](
      Sketch.heavyHitters(empty, "term", 0)).getMessage.contains("k must be >= 1"))
  }

  test("bitmap words: duplicates collapse, word boundaries, negatives dropped") {
    val df = Seq(("a", 0L), ("a", 0L), ("a", 63L), ("a", 64L), ("a", -5L), ("b", 1L))
      .toDF("g", "id")
    val words = Sketch.bitmapWords(df, "g", "id").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(words(("a", 0L)) == (1L | (1L << 63)), "ids 0 and 63 share word 0")
    assert(words(("a", 1L)) == 1L, "id 64 -> word 1 bit 0")
    assert(words(("b", 0L)) == 2L)
    assert(words.size == 3, "negative id dropped")
  }

  test("bitmapIntersections matches brute-force distinct intersection on random data") {
    val rnd = new scala.util.Random(13)
    val rows = (1 to 2000).map(_ => (s"g${rnd.nextInt(4)}", rnd.nextInt(500).toLong))
    val df = rows.toDF("g", "id").repartition(7)
    val fast = Sketch.bitmapIntersections(Sketch.bitmapWords(df, "g", "id")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val sets = rows.groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).toSet }
    val want = (for {
      a <- sets.keys; b <- sets.keys if a <= b
      n = (sets(a) intersect sets(b)).size if n > 0
    } yield (a, b) -> n.toLong).toMap
    assert(fast == want)
  }

  private def planOf(name: String): String =
    QueryRegistry.all.toMap.apply(name).run(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString

  test("q_heavyhitters: the exact recount joins candidates as a BROADCAST, never shuffling the stream for the join") {
    val plan = planOf("q_heavyhitters")
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate set must broadcast back onto the token stream:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"the token stream must never shuffle for the candidate join:\n$plan")
  }
}
