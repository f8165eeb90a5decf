package graft

import graft.functions.sphere
import graft.operators.Spatial
import org.apache.spark.sql.functions._

class SpatialSpec extends SparkSpecBase {
  import spark.implicits._

  private def cust = {
    val df = spark.read.parquet(sf("sf0.001") + "/customer.parquet")
    df.withColumn("cra", sphere.raOf(col("c_custkey")))
      .withColumn("cdec", sphere.decOf(col("c_custkey")))
  }

  test("hpix expression matches the Scala implementation") {
    val rows = cust.select(col("cra"), col("cdec"), sphere.hpix(col("cra"), col("cdec"), 5).as("p")).collect()
    rows.foreach { r =>
      assert(r.getLong(2) == graft.healpix.Healpix.ang2pixNest(5, r.getDouble(0), r.getDouble(1)))
    }
  }

  test("cone search equals brute-force distance filter") {
    for (radius <- Seq(5.0, 20.0, 45.0); order <- Seq(1, 3, 6)) {
      val pruned = Spatial.coneSearch(cust, "cra", "cdec", 180.0, 0.0, radius, order)
        .select("c_custkey").collect().map(_.getLong(0)).sorted
      val brute = cust
        .withColumn("d", sphere.gcDist(col("cra"), col("cdec"), lit(180.0), lit(0.0)))
        .filter(col("d") < radius)
        .select("c_custkey").collect().map(_.getLong(0)).sorted
      assert(pruned.toSeq == brute.toSeq, s"radius=$radius order=$order")
    }
  }

  test("crossMatchKnn equals brute-force kNN within threshold (both ranking modes)") {
    val supp = spark.read.parquet(sf("sf0.001") + "/supplier.parquet")
      .withColumn("sra", sphere.raOf(col("s_suppkey")))
      .withColumn("sdec", sphere.decOf(col("s_suppkey")))

    // k = 1 takes the ranker's aggregate path, k = 3 its window path
    for (order <- Seq(0, 1, 2); k <- Seq(1, 3); dthresh <- Seq(10.0, 30.0)) {
      val fast = Spatial.crossMatchKnn(cust, supp,
        "cra", "cdec", "c_custkey", "sra", "sdec", "s_suppkey",
        k = k, dthreshDeg = dthresh, order = order, leftPrefix = "", rightPrefix = "x_")
        .select(col("c_custkey"), col("x_s_suppkey"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted

      import org.apache.spark.sql.expressions.Window
      val brute = cust.crossJoin(supp)
        .withColumn("d", sphere.gcDist(col("cra"), col("cdec"), col("sra"), col("sdec")))
        .filter(col("d") < dthresh)
        .withColumn("rn", row_number().over(
          Window.partitionBy("c_custkey").orderBy(round(col("d"), 9).asc, col("s_suppkey").asc)))
        .filter(col("rn") <= k)
        .select(col("c_custkey"), col("s_suppkey"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted

      assert(fast.toSeq == brute.toSeq, s"order=$order k=$k dthresh=$dthresh")
    }
  }

  test("crossMatchKnn k=1 aggregate path: schema and values equal the k-generic window path") {
    // the k = 1 nearest-pick is a min(struct) aggregate (map-side
    // combinable — no candidate-set window shuffle); this pins its
    // output contract to the window path's: same columns in the same
    // order, same _RANK/hips_k values, same rows
    val supp = spark.read.parquet(sf("sf0.001") + "/supplier.parquet")
      .withColumn("sra", sphere.raOf(col("s_suppkey")))
      .withColumn("sdec", sphere.decOf(col("s_suppkey")))
    val agg1 = Spatial.crossMatchKnn(cust, supp,
      "cra", "cdec", "c_custkey", "sra", "sdec", "s_suppkey",
      k = 1, dthreshDeg = 30.0, leftPrefix = "", rightPrefix = "x_")
    // k = 2 runs the window path; filtering its output to _RANK = 1
    // must reproduce the k = 1 aggregate's rows exactly
    val win1 = Spatial.crossMatchKnn(cust, supp,
      "cra", "cdec", "c_custkey", "sra", "sdec", "s_suppkey",
      k = 2, dthreshDeg = 30.0, leftPrefix = "", rightPrefix = "x_")
      .filter(col("_RANK") === 1)
    assert(agg1.columns.toSeq == win1.columns.toSeq,
      s"k=1 column order drifted: ${agg1.columns.toSeq} vs ${win1.columns.toSeq}")
    val a = agg1.collect().map(_.toSeq).sortBy(_.toString)
    val w = win1.collect().map(_.toSeq).sortBy(_.toString)
    assert(a.toSeq == w.toSeq)
  }

  test("mutualNearest keeps only reciprocal pairs; one-directional best matches are cut") {
    // Planted on one parallel (dec = 0) so distances are plain RA
    // gaps. Left points L1, L2; right points R1, R2, R3:
    //   L1 @ 10.0, L2 @ 20.0 ; R1 @ 10.4, R2 @ 19.0, R3 @ 19.2
    // L1's nearest right is R1 (0.4°) and R1's nearest left is L1
    // (0.4° vs 9.6°) -> mutual. L2's nearest right is R3 (0.8° vs
    // R2's 1.0°), and R3's nearest left is L2 -> mutual. But R2's
    // nearest left is ALSO L2 (1.0°) — one-directional only, since
    // L2 prefers R3: R2 must appear in no surviving pair.
    val left = Seq((1L, 10.0, 0.0), (2L, 20.0, 0.0)).toDF("lid", "ra", "dec")
    val right = Seq((101L, 10.4, 0.0), (102L, 19.0, 0.0), (103L, 19.2, 0.0))
      .toDF("rid", "ra", "dec")
    val m = Spatial.mutualNearest(left, right,
        leftRa = "ra", leftDec = "dec", leftId = "lid",
        rightRa = "ra", rightDec = "dec", rightId = "rid", dthreshDeg = 5.0)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(m == Set((1L, 101L), (2L, 103L)))
  }

  test("mutualNearest: a right point beyond the radius matches nothing") {
    val left = Seq((1L, 10.0, 0.0)).toDF("lid", "ra", "dec")
    val right = Seq((101L, 40.0, 0.0)).toDF("rid", "ra", "dec")
    val m = Spatial.mutualNearest(left, right,
      leftRa = "ra", leftDec = "dec", leftId = "lid",
      rightRa = "ra", rightDec = "dec", rightId = "rid", dthreshDeg = 5.0)
    assert(m.count() == 0L)
  }

  test("mutualNearest result is a subset of the forward k=1 match and carries its distance") {
    val left = (1L to 40L).map(i => (i, (i * 7 % 360).toDouble, ((i * 11 % 120) - 60).toDouble))
      .toDF("lid", "ra", "dec")
    val right = (1L to 30L).map(i => (1000 + i, (i * 13 % 360).toDouble, ((i * 5 % 120) - 60).toDouble))
      .toDF("rid", "ra", "dec")
    val fwd = Spatial.crossMatchKnn(left, right,
        leftRa = "ra", leftDec = "dec", leftId = "lid",
        rightRa = "ra", rightDec = "dec", rightId = "rid",
        k = 1, dthreshDeg = 20.0, leftPrefix = "", rightPrefix = "r_")
      .select(col("lid"), col("r_rid").as("rid"), round(col("_DIST"), 9).as("d"))
      .as[(Long, Long, Double)].collect().toMap2
    val m = Spatial.mutualNearest(left, right,
        leftRa = "ra", leftDec = "dec", leftId = "lid",
        rightRa = "ra", rightDec = "dec", rightId = "rid", dthreshDeg = 20.0)
      .select(col("lid"), col("rid"), round(col("_DIST"), 9).as("d"))
      .as[(Long, Long, Double)].collect()
    assert(m.nonEmpty, "planted grid must produce at least one mutual pair")
    m.foreach { case (l, r, d) =>
      assert(fwd.get(l).contains((r, d)), s"($l,$r,$d) not the forward nearest")
    }
  }

  private implicit class Tup3Ops(rows: Array[(Long, Long, Double)]) {
    def toMap2: Map[Long, (Long, Double)] = rows.map { case (a, b, c) => a -> (b, c) }.toMap
  }

  test("box search honors the ra wrap; polygon search contains/excludes known points") {
    val pts = Seq(
      (1L, 355.0, 0.0), (2L, 10.0, 0.0), (3L, 180.0, 0.0), // box: 1,2 in (wrap), 3 out
      (4L, 180.0, -20.0), (5L, 180.0, 33.0), (6L, 100.0, 0.0) // triangle: 3,4,5 in, 6 out
    ).toDF("id", "cra", "cdec")
    val box = Spatial.boxSearch(pts, "cra", "cdec", 350.0, 40.0, -30.0, 30.0)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(box == Set(1L, 2L))
    val tri = Spatial.polygonSearch(pts, "cra", "cdec",
      Seq((150.0, -30.0), (210.0, -30.0), (180.0, 35.0)), order = 2)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(tri == Set(3L, 4L, 5L))
  }

  test("cone search at the pole and across the ra wrap equals brute force") {
    for ((ra0, dec0, radius) <- Seq((100.0, 89.0, 3.0), (100.0, -88.5, 5.0),
        (0.5, 10.0, 8.0), (359.2, -30.0, 12.0), (180.0, 90.0, 2.0))) {
      val pruned = Spatial.coneSearch(cust, "cra", "cdec", ra0, dec0, radius, order = 4)
        .select("c_custkey").collect().map(_.getLong(0)).sorted
      val brute = cust
        .withColumn("d", sphere.gcDist(col("cra"), col("cdec"), lit(ra0), lit(dec0)))
        .filter(col("d") < radius)
        .select("c_custkey").collect().map(_.getLong(0)).sorted
      assert(pruned.toSeq == brute.toSeq, s"center=($ra0,$dec0) radius=$radius")
    }
  }

  test("salted cross-match equals unsalted (skew mitigation is result-invariant)") {
    val supp = spark.read.parquet(sf("sf0.001") + "/supplier.parquet")
      .withColumn("sra", sphere.raOf(col("s_suppkey")))
      .withColumn("sdec", sphere.decOf(col("s_suppkey")))
    def run(salt: Int) = Spatial.crossMatchKnn(cust, supp,
      "cra", "cdec", "c_custkey", "sra", "sdec", "s_suppkey",
      k = 2, dthreshDeg = 20.0, leftPrefix = "", rightPrefix = "x_", saltBuckets = salt)
      .select(col("c_custkey"), col("x_s_suppkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(run(1) == run(4))
  }

  test("'.'-delimited prefixes: crossMatchKnn's disc cover, pixel join and ranker quote column names") {
    val supp = spark.read.parquet(sf("sf0.001") + "/supplier.parquet")
      .withColumn("sra", sphere.raOf(col("s_suppkey")))
      .withColumn("sdec", sphere.decOf(col("s_suppkey")))
    for (k <- Seq(1, 2); salt <- Seq(1, 4)) {
      def run(lp: String, rp: String) = Spatial.crossMatchKnn(cust, supp,
          "cra", "cdec", "c_custkey", "sra", "sdec", "s_suppkey",
          k = k, dthreshDeg = 20.0, leftPrefix = lp, rightPrefix = rp, saltBuckets = salt)
        .select(col(s"`${lp}c_custkey`"), col(s"`${rp}s_suppkey`"), col("_DIST"), col("_RANK"))
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      val dotted = run("l.", "r.")
      assert(dotted.nonEmpty && dotted == run("l_", "r_"), s"k=$k salt=$salt")
    }
  }

  test("propagateEpoch: known motion gives the expected offset; -dt round-trips") {
    // 1000 mas/yr for 36 years = 36 arcsec = 0.01 deg, at the equator
    val src = Seq((1L, 100.0, 0.0, 1000.0, -1000.0)).toDF("id", "ra", "dec", "pmra", "pmdec")
    val p = Spatial.propagateEpoch(src, "ra", "dec", "pmra", "pmdec", 36.0).collect()(0)
    assert(math.abs(p.getDouble(1) - 100.01) < 1e-9, s"ra: ${p.getDouble(1)}")
    assert(math.abs(p.getDouble(2) - (-0.01)) < 1e-9, s"dec: ${p.getDouble(2)}")
    // at dec=60 the same mu_alpha* moves ra by 0.01/cos(60) = 0.02 deg
    val hi = Seq((2L, 100.0, 60.0, 1000.0, 0.0)).toDF("id", "ra", "dec", "pmra", "pmdec")
    val q = Spatial.propagateEpoch(hi, "ra", "dec", "pmra", "pmdec", 36.0).collect()(0)
    assert(math.abs(q.getDouble(1) - (100.0 + 0.01 / math.cos(math.toRadians(60)))) < 1e-9)
    // inverse propagation restores the original position to flat-sky accuracy
    val back = Spatial.propagateEpoch(
      Spatial.propagateEpoch(src, "ra", "dec", "pmra", "pmdec", 36.0),
      "ra", "dec", "pmra", "pmdec", -36.0).collect()(0)
    assert(math.abs(back.getDouble(1) - 100.0) < 1e-7 && math.abs(back.getDouble(2) - 0.0) < 1e-12)
    // map-only: no exchange of any kind in the propagation itself
    val plan = Spatial.propagateEpoch(src, "ra", "dec", "pmra", "pmdec", 36.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"epoch propagation must not shuffle:\n$plan")
  }

  // ------------------------------------------- pair joins and FoF

  test("selfPairs matches brute force and emits each pair exactly once") {
    // deterministic scatter incl. a dense knot near (10, 0)
    val pts = (1L to 60L).map { k =>
      (k, (k * 37 % 360).toDouble + (k % 7) * 0.01, ((k * 53 % 120) - 60).toDouble * 0.7)
    }.toDF("id", "ra", "dec")
    val got = Spatial.selfPairs(pts, "ra", "dec", "id", dthreshDeg = 8.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == got.toSet.size, "no duplicate pairs without a distinct()")
    val rows = pts.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val want = (for {
      (a, ra1, d1) <- rows; (b, ra2, d2) <- rows
      if a < b && graft.healpix.Healpix.gcDistDeg(ra1, d1, ra2, d2) < 8.0
    } yield (a, b)).toSet
    assert(got.toSet == want, s"pixel-pruned pairs must equal brute force " +
      s"(missing ${want -- got.toSet}, extra ${got.toSet -- want})")
  }

  test("fofGroups percolates chains: a-b-c linked pairwise-partially is ONE group") {
    // b within 2.5 of both a and c, but a-c > 2.5: percolation joins all three
    val pts = Seq((1L, 100.0, 0.0), (2L, 102.0, 0.0), (3L, 104.0, 0.0),
      (4L, 200.0, 40.0)).toDF("id", "ra", "dec")
    val g = Spatial.fofGroups(pts, "ra", "dec", "id", dthreshDeg = 2.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g == Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      s"chain must percolate into one group labeled by its min id; isolated point absent: $g")
  }

  test("pair joins stay pixel-bucketed equi-joins — never a cartesian/nested-loop product") {
    val pts = (1L to 200L).map(k => (k, (k * 37 % 360).toDouble, ((k * 53 % 160) - 80).toDouble))
      .toDF("id", "ra", "dec")
    for (df <- Seq(
      Spatial.selfPairsDist(pts, "ra", "dec", "id", 2.5),
      Spatial.crossPairsDist(pts, pts, "ra", "dec", "id", "ra", "dec", "id", 2.5))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"pair generation must be the pixel equi-join:\n$plan")
      assert(plan.contains("hpix"), s"join key must be the healpix pixel:\n$plan")
    }
  }

  test("crossPairsDist matches brute force between two catalogs (no a<b halving)") {
    val left = (1L to 25L).map(k => (k, (k * 41 % 360).toDouble, ((k * 29 % 100) - 50).toDouble))
      .toDF("id", "ra", "dec")
    val right = (1L to 25L).map(k => (k, (k * 59 % 360).toDouble, ((k * 31 % 100) - 50).toDouble))
      .toDF("id", "ra", "dec")
    val got = Spatial.crossPairsDist(left, right, "ra", "dec", "id", "ra", "dec", "id", 10.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == got.toSet.size, "each ordered cross pair exactly once")
    val l = left.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val rr = right.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val want = (for {
      (a, ra1, d1) <- l; (b, ra2, d2) <- rr
      if graft.healpix.Healpix.gcDistDeg(ra1, d1, ra2, d2) < 10.0
    } yield (a, b)).toSet
    assert(got.toSet == want, s"missing ${want -- got.toSet}, extra ${got.toSet -- want}")
  }

  test("two-point binning: hand-placed pairs land in the expected separation bins") {
    // pairs at known equatorial separations: 1.0 deg -> bin 0, 2.0 -> bin 1 (edges 0.5+1.5k)
    val pts = Seq((1L, 100.0, 0.0), (2L, 101.0, 0.0), (3L, 103.0, 0.0)).toDF("id", "ra", "dec")
    val bins = Spatial.selfPairsDist(pts, "ra", "dec", "id", 8.0)
      .withColumn("sep9", round(col("_DIST"), 9))
      .filter(col("sep9") >= 0.5 && col("sep9") < 8.0)
      .withColumn("bin", floor((col("sep9") - 0.5) / 1.5).cast("long"))
      .groupBy("bin").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // separations: (1,2)=1.0 bin0, (2,3)=2.0 bin1, (1,3)=3.0 bin1
    assert(bins == Map(0L -> 1L, 1L -> 2L), s"got $bins")
  }

  test("hpixCenter expressions match pix2angNest; smoothing conserves mass at full-sky radius") {
    val pix = spark.range(0, 192).select(col("id").as("pix"),
      sphere.hpixCenterRa(col("id"), 2).as("ra"), sphere.hpixCenterDec(col("id"), 2).as("dec"))
      .collect()
    pix.foreach { r =>
      val (era, edec) = graft.healpix.Healpix.pix2angNest(2, r.getLong(0))
      assert(r.getDouble(1) == era && r.getDouble(2) == edec, s"center mismatch at ${r.getLong(0)}")
    }
    // tophat at radius 181 deg sums the WHOLE map into every pixel;
    // at ~0 radius each pixel keeps only itself
    val hist = Seq((0L, 5L), (100L, 7L), (191L, 11L)).toDF("pix", "cnt")
      .select(col("pix"), col("cnt"),
        sphere.hpixCenterRa(col("pix"), 2).as("pra"), sphere.hpixCenterDec(col("pix"), 2).as("pdec"))
    def smooth(r: Double) = Spatial.crossPairsDist(hist, hist,
        "pra", "pdec", "pix", "pra", "pdec", "pix", r)
      .join(hist.select(col("pix").as("id_b"), col("cnt").as("cnt_b")), "id_b")
      .groupBy("id_a").agg(sum("cnt_b").as("s"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(smooth(181.0) == Map(0L -> 23L, 100L -> 23L, 191L -> 23L), "full-sky beam = total mass")
    assert(smooth(1e-9) == Map(0L -> 5L, 100L -> 7L, 191L -> 11L), "zero beam = identity")
  }

  test("spatialIndex: high bits hold the order-20 pixel, ranks dense per pixel") {
    val idx = Spatial.spatialIndex(cust, "cra", "cdec", 20)
      .select(col("cra"), col("cdec"), col("_ID")).collect()
    idx.foreach { r =>
      val pix = graft.healpix.Healpix.ang2pixNest(20, r.getDouble(0), r.getDouble(1))
      assert((r.getLong(2) >>> 20) == pix, "pixel must occupy bits 20..63")
    }
  }

  test("densityHistogram sums to row count") {
    val total = Spatial.densityHistogram(cust, "cra", "cdec", 2)
      .agg(sum("cnt")).collect()(0).getLong(0)
    assert(total == cust.count())
  }

  test("mocNormalize: exact coverage round-trip, minimality, canonical NUNIQ") {
    // pixels 0..3 (a complete quad -> merges to parent 0@o2 -> its
    // siblings incomplete), a lone pixel, and a 16-run (two complete
    // quads + their complete parent quad? no: 16..31 = parents 4..7 =
    // a complete quad at the NEXT level too)
    val pix = ((0L to 3L) ++ Seq(9L) ++ (16L to 31L)).toDF("p")
    val moc = Spatial.mocNormalize(pix, "p", order = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // expansion back to order 3 must reproduce the input set exactly
    val expanded = moc.flatMap { case (o, np, _) =>
      val f = 1L << (2 * (3 - o)); (np * f) until (np * f + f) }.sorted
    assert(expanded.toSeq == ((0L to 3L) ++ Seq(9L) ++ (16L to 31L)).sorted,
      s"coverage must round-trip: ${moc.toSeq}")
    // minimality: no tile's 3 siblings are all present at its level
    moc.groupBy(_._1).foreach { case (_, ts) =>
      val at = ts.map(_._2).toSet
      assert(!at.exists(p => (p / 4 * 4 until p / 4 * 4 + 4).forall(at)),
        s"complete sibling quads must have merged: ${moc.toSeq}")
    }
    // canonical packing: nuniq = 4 * 4^norder + npix
    moc.foreach { case (o, np, nu) => assert(nu == (4L << (2 * o)) + np, s"($o, $np, $nu)") }
    // 16..31 merges TWO levels: parents 4..7 at o2 form a complete
    // quad -> single tile 1@o1
    assert(moc.contains((1, 1L, (4L << 2) + 1)), s"two-level merge expected: ${moc.toSeq}")
  }

  // --- mixed-order MOC set algebra -----------------------------------

  /** Expand a collected MOC back to a flat order-`k` pixel set. */
  private def expandTo(moc: Array[(Int, Long)], k: Int): Set[Long] =
    moc.flatMap { case (o, np) =>
      val f = 1L << (2 * (k - o)); (np * f) until (np * f + f) }.toSet

  private def collectMoc(df: org.apache.spark.sql.DataFrame): Array[(Int, Long)] =
    df.select("norder", "npix").collect().map(r => (r.getInt(0), r.getLong(1)))

  private def mocOf(pixels: Seq[Long], order: Int): org.apache.spark.sql.DataFrame = {
    Spatial.mocNormalize(pixels.toDF("p"), "p", order)
  }

  test("MOC set algebra: coarse tile vs fine descendants, via expansion parity") {
    // a = one COARSE tile (order-1 pixel 0 = order-3 pixels 0..15)
    //     plus a disjoint order-3 pixel 63
    // b = three FINE order-3 pixels inside the coarse tile (1, 2, 9)
    //     plus one outside it (48 -> merges nothing)
    val a = mocOf((0L to 15L) :+ 63L, 3)
    val b = mocOf(Seq(1L, 2L, 9L, 48L), 3)
    val aSet = (0L to 15L).toSet + 63L
    val bSet = Set(1L, 2L, 9L, 48L)
    val uni = collectMoc(Spatial.mocUnion(a, b, 3))
    val int = collectMoc(Spatial.mocIntersect(a, b, 3))
    val dif = collectMoc(Spatial.mocDifference(a, b, 3))
    assert(expandTo(uni, 3) == (aSet ++ bSet), s"union: ${uni.toSeq}")
    // the coarse a-tile intersects its strict fine descendants
    assert(expandTo(int, 3) == Set(1L, 2L, 9L), s"intersect: ${int.toSeq}")
    // difference SPLITS the coarse tile around the three fine holes
    assert(expandTo(dif, 3) == (aSet -- bSet), s"difference: ${dif.toSeq}")
    // all outputs stay canonical: no complete sibling quad survives,
    // and nuniq rides the standard packing
    Seq(uni, int, dif).foreach { m =>
      m.groupBy(_._1).foreach { case (_, ts) =>
        val at = ts.map(_._2).toSet
        assert(!at.exists(p => (p / 4 * 4 until p / 4 * 4 + 4).forall(at)),
          s"non-minimal output: ${m.toSeq}")
      }
    }
  }

  test("MOC set algebra: empty results and identities") {
    val a = mocOf(Seq(0L, 1L, 2L, 3L, 20L), 3) // quad 0..3 merges to 0@o2
    val b = mocOf(Seq(40L, 41L), 3)            // disjoint from a
    // disjoint MOCs: empty intersection, difference = a (same tiling)
    assert(Spatial.mocIntersect(a, b, 3).count() == 0)
    assert(collectMoc(Spatial.mocDifference(a, b, 3)).sorted.toSeq ==
      collectMoc(a).sorted.toSeq)
    // self: intersection and union are identity, difference is empty
    assert(collectMoc(Spatial.mocIntersect(a, a, 3)).sorted.toSeq ==
      collectMoc(a).sorted.toSeq)
    assert(collectMoc(Spatial.mocUnion(a, a, 3)).sorted.toSeq ==
      collectMoc(a).sorted.toSeq)
    assert(Spatial.mocDifference(a, a, 3).count() == 0)
    // union across orders re-merges: a's quad-completing sibling set
    // arrives from b at a finer order
    val a2 = mocOf(Seq(0L, 1L, 2L), 2)          // 3/4 of parent 0@o1
    val b2 = mocOf(Seq(12L, 13L, 14L, 15L), 3)  // = the missing 3@o2
    val u2 = collectMoc(Spatial.mocUnion(a2, b2, 3))
    assert(u2.toSeq == Seq((1, 0L)), s"expected single merged 0@o1 tile: ${u2.toSeq}")
  }

  test("MOC local vs distributed path parity (normalize + all set ops)") {
    // merge-rich pseudo-random but deterministic footprints at order 4
    val aPix = (0L until graft.healpix.Healpix.npix(4)).filter(p => p % 3 != 0 || p < 40)
    val bPix = (0L until graft.healpix.Healpix.npix(4)).filter(p => p % 5 < 2 && p > 20)
    // localMax = 0 forces the distributed rounds on any input;
    // default rides MocLocal — the canonical tiling is unique, so
    // both paths must emit the identical tile set
    val aL = Spatial.mocNormalize(aPix.toDF("p"), "p", 4)
    val aD = Spatial.mocNormalize(aPix.toDF("p"), "p", 4, localMax = 0)
    assert(collectMoc(aL).toSeq == collectMoc(aD).sortBy(t => MocTestUtil.nuniq(t)).toSeq,
      "normalize parity")
    val bL = Spatial.mocNormalize(bPix.toDF("p"), "p", 4)
    for ((name, op) <- Seq[(String, (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame)](
      ("union", Spatial.mocUnion(_, _, _)),
      ("intersect", Spatial.mocIntersect(_, _, _)),
      ("difference", Spatial.mocDifference(_, _, _)))) {
      val local = collectMoc(op(aL, bL, 4)).sortBy(MocTestUtil.nuniq)
      val dist = name match {
        case "union"     => Spatial.mocUnion(aL, bL, 4, localMax = 0)
        case "intersect" => Spatial.mocIntersect(aL, bL, 4, localMax = 0)
        case _           => Spatial.mocDifference(aL, bL, 4, localMax = 0)
      }
      assert(local.toSeq == collectMoc(dist).sortBy(MocTestUtil.nuniq).toSeq, s"$name parity")
    }
  }

  test("mocComplement: identities (a ∪ ¬a = sky, ¬¬a = a, both paths)") {
    val a = mocOf(Seq(0L, 1L, 2L, 3L, 9L, 100L, 101L), 3)
    for (localMax <- Seq(graft.operators.DriverLocal.maxTiles, 0)) {
      val na = Spatial.mocComplement(a, 3, localMax)
      // disjoint: a ∩ ¬a = ∅
      assert(Spatial.mocIntersect(a, na, 3, localMax).count() == 0, s"localMax=$localMax")
      // exhaustive: a ∪ ¬a = the whole sky (12 order-0 tiles)
      val sky = collectMoc(Spatial.mocUnion(a, na, 3, localMax)).sortBy(MocTestUtil.nuniq)
      assert(sky.toSeq == (0L until 12L).map(p => (0, p)), s"localMax=$localMax: ${sky.toSeq}")
      // involution: ¬¬a = a
      val nna = collectMoc(Spatial.mocComplement(na, 3, localMax)).sortBy(MocTestUtil.nuniq)
      assert(nna.toSeq == collectMoc(a).sortBy(MocTestUtil.nuniq).toSeq, s"localMax=$localMax")
    }
  }

  test("mocFromCone: covers exactly the disc-cover pixels, canonical form") {
    val (ra, dec, r, order) = (80.0, 25.0, 18.0, 4)
    val m = collectMoc(Spatial.mocFromCone(spark, order, ra, dec, r))
    val cover = graft.healpix.Healpix.queryDiscCover(order, ra, dec, r).toSet
    assert(expandTo(m, order) == cover, "expansion must equal the disc cover")
    // minimal: no complete sibling quad at any level
    m.groupBy(_._1).foreach { case (_, ts) =>
      val at = ts.map(_._2).toSet
      assert(!at.exists(p => (p / 4 * 4 until p / 4 * 4 + 4).forall(at)))
    }
    // every cone point is inside the MOC: sample points on rings
    for (t <- 0 until 40) {
      val ang = t * 9.0; val rad = (t % 5) * r / 5.0
      val (pra, pdec) = (ra + rad * math.cos(math.toRadians(ang)) /
        math.cos(math.toRadians(dec)), dec + rad * math.sin(math.toRadians(ang)))
      if (graft.healpix.Healpix.gcDistDeg(ra, dec, pra, pdec) < r) {
        val p = graft.healpix.Healpix.ang2pixNest(order, pra, pdec)
        assert(expandTo(m, order).contains(p), s"cone point ($pra, $pdec) outside MOC")
      }
    }
  }

  test("mocFromPolygon: conservative cover — contains every polygon point, within bounding cone") {
    val verts = Seq((60.0, -10.0), (75.0, -5.0), (72.0, 12.0), (58.0, 8.0))
    val order = 5
    val m = collectMoc(Spatial.mocFromPolygon(spark, order, verts))
    val pixels = expandTo(m, order)
    // 1) every point inside the polygon lands in a covered pixel
    //    (conservativeness — the non-negotiable contract)
    val (cra, cdec) = Spatial.polygonCentroid(verts)
    for (i <- 0 until 400) {
      val pra = 55.0 + (i % 20) * 1.1
      val pdec = -12.0 + (i / 20) * 1.3
      if (Spatial.pointInPolygon(pra, pdec, verts, cra, cdec)) {
        val p = graft.healpix.Healpix.ang2pixNest(order, pra, pdec)
        assert(pixels.contains(p), s"interior point ($pra, $pdec) uncovered")
      }
    }
    // 2) refinement: the polygon cover is a subset of the bounding
    //    cone's cover, and strictly smaller for this elongated shape
    val boundR = verts.map { case (r, d) =>
      graft.healpix.Healpix.gcDistDeg(cra, cdec, r, d) }.max * 1.001
    val coneCover = graft.healpix.Healpix.queryDiscCover(order, cra, cdec, boundR).toSet
    assert(pixels.subsetOf(coneCover), "polygon cover must refine the bounding cone")
    assert(pixels.size < coneCover.size, "refinement should actually drop corner pixels")
  }

  test("mocFromBox: conservative wrap-aware cover, refined under the bounding cone") {
    val order = 5
    for ((raLo, raHi, decLo, decHi) <- Seq(
      (100.0, 140.0, -10.0, 20.0),   // plain box
      (350.0, 15.0, -5.0, 25.0))) {  // wraps through ra = 0
      val m = collectMoc(Spatial.mocFromBox(spark, order, raLo, raHi, decLo, decHi))
      val pixels = expandTo(m, order)
      // conservativeness: every in-box sample point lands covered
      val width = if (raLo <= raHi) raHi - raLo else 360.0 - raLo + raHi
      for (i <- 0 to 20; j <- 0 to 12) {
        val pra = (raLo + i * width / 20.0) % 360.0
        val pdec = decLo + j * (decHi - decLo) / 12.0
        val p = graft.healpix.Healpix.ang2pixNest(order, pra, pdec)
        assert(pixels.contains(p), s"box point ($pra, $pdec) uncovered")
      }
      // refinement: strictly inside the bounding-cone cover
      val ((cra, cdec), r) = {
        val w = if (raLo <= raHi) raHi - raLo else 360.0 - raLo + raHi
        ((((raLo + w / 2) % 360.0), (decLo + decHi) / 2),
          math.min(180.0, (decHi - decLo) / 2 + w / 2 + 1e-9))
      }
      val slack = math.toDegrees(graft.healpix.Healpix.maxPixRad(order)) + 1e-9
      val cone = graft.healpix.Healpix.queryDiscCover(order, cra, cdec,
        math.min(180.0, r + slack)).toSet
      assert(pixels.subsetOf(cone))
      assert(pixels.size < cone.size, "the box cover should drop cone corners")
      // far-away pixels excluded: antipodal point not covered
      val anti = graft.healpix.Healpix.ang2pixNest(order, (raLo + 180.0) % 360.0, -decHi)
      assert(!pixels.contains(anti))
    }
  }

  test("arcDistDeg: cross-track and endpoint regimes") {
    def v(ra: Double, dec: Double) = {
      val r = math.toRadians(ra); val d = math.toRadians(dec)
      Array(math.cos(d) * math.cos(r), math.cos(d) * math.sin(r), math.sin(d))
    }
    // equatorial arc 0..10 deg: a point at (5, 3) is 3 deg cross-track
    assert(math.abs(Spatial.arcDistDeg(v(5, 3), v(0, 0), v(10, 0)) - 3.0) < 1e-9)
    // beyond the endpoint: nearest endpoint distance (great-circle)
    val d = Spatial.arcDistDeg(v(15, 0), v(0, 0), v(10, 0))
    assert(math.abs(d - 5.0) < 1e-9, s"endpoint regime: $d")
    // on the arc: zero
    assert(Spatial.arcDistDeg(v(7, 0), v(0, 0), v(10, 0)) < 1e-9)
  }
}

private object MocTestUtil {
  def nuniq(t: (Int, Long)): Long = (4L << (2 * t._1)) + t._2
}
