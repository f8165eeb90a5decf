package graft

import graft.catalog.{Catalog, CatalogLayout, CatalogTestAccess, HipsPartitioner}
import graft.functions.sphere
import org.apache.spark.sql.functions._

class CatalogSpec extends SparkSpecBase {

  private def li = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
    .withColumn("k", col("l_orderkey") * 8 + col("l_linenumber"))
    .withColumn("cra", sphere.raOf(col("k")))
    .withColumn("cdec", sphere.decOf(col("k")))

  /** Rows the catalog's current density map counts (its meta's n_sources). */
  private def nSources(cat: Catalog): Long = cat.densityMap().agg(sum("cnt")).first().getLong(0)

  test("adaptive partition map: every pixel assigned, dense regions subdivide") {
    val pm = HipsPartitioner.computePartitionMap(li, "cra", "cdec", orderK = 4, threshold = 500)
    // the walk tiles the WHOLE sky (no -1 gaps) with orders in [0, k]
    assert(pm.grid.tileOrders.forall(o => o >= 0 && o <= 4))
    assert(pm.grid.tileStarts.head == 0L)
    // partition counts respect the threshold (except possibly at order k)
    val counts = HipsPartitioner.withPartitionColumns(li, "cra", "cdec", pm)
      .groupBy("Norder", "Npix").count().collect()
    counts.filter(_.getInt(0) < 4).foreach(r => assert(r.getLong(2) < 500, s"partition over threshold: $r"))
    assert(counts.map(_.getLong(2)).sum == li.count())
  }

  test("sparse threshold walk matches the dense reference walk on every sky pixel") {
    // oracle: the dense order 0 -> k walk exactly as the reference
    // runs it (compute_partitioning_map, partitioner.py:136) — kept
    // here as an independent reimplementation after the production
    // path went sparse
    val orderK = 6
    val threshold = 500L
    val n = graft.healpix.Healpix.npix(orderK).toInt
    val hist = new Array[Long](n)
    li.groupBy(sphere.hpix(col("cra"), col("cdec"), orderK).as("pix"))
      .agg(count(lit(1)).as("cnt")).collect()
      .foreach(r => hist(r.getLong(0).toInt) = r.getLong(1))
    val dense = Array.fill(n)(-1)
    var o = 0
    while (o <= orderK) {
      val k2o = 1 << (2 * (orderK - o))
      var p = 0
      while (p < n / k2o) {
        val lo = p * k2o
        var active = false; var sum = 0L; var i = lo
        while (i < lo + k2o) { if (dense(i) == -1) active = true; sum += hist(i); i += 1 }
        if (active && (sum < threshold || o == orderK)) {
          var j = lo
          while (j < lo + k2o) { if (dense(j) == -1) dense(j) = o; j += 1 }
        }
        p += 1
      }
      o += 1
    }
    val pm = HipsPartitioner.computePartitionMap(li, "cra", "cdec", orderK, threshold)
    var pix = 0
    while (pix < n) {
      assert(pm.assignedOrder(pix.toLong) == dense(pix),
        s"pixel $pix: sparse=${pm.assignedOrder(pix.toLong)} dense=${dense(pix)}")
      pix += 1
    }
    // and the tiling is data-bounded, not 4^k-bounded
    assert(pm.grid.tileStarts.length < n / 4, s"tile count ${pm.grid.tileStarts.length} not sparse")
  }

  test("orderK=12 import: data-bounded driver state, cone search parity") {
    // the reference caps gather_statistics at order 10 (dense 12*4^10
    // array); the sparse walk runs order 12 (201M sky pixels) with
    // driver state bounded by OCCUPIED pixels
    val out = java.nio.file.Files.createTempDirectory("graft_o12").toString
    val cat = Catalog.importFrom(li, out, "fine12", "cra", "cdec", "k",
      orderK = 12, threshold = 200, marginDeg = 0.1)
    // the import's map: the same deterministic walk over the same rows
    val pm = HipsPartitioner.computePartitionMap(li, "cra", "cdec", orderK = 12, threshold = 200)
    assert(pm.histPix.length <= li.count(), "sparse hist bounded by row count")
    assert(pm.grid.tileStarts.length.toLong < 40L * pm.histPix.length + 12,
      s"tiles ${pm.grid.tileStarts.length} must be data-bounded (occupied=${pm.histPix.length})")
    assert(pm.grid.tileOrders.forall(o => o >= 0 && o <= 12))
    val cone = cat.coneSearch(180.0, 0.0, 30.0)
      .select("k").collect().map(_.getLong(0)).sorted
    val brute = li.withColumn("d", sphere.gcDist(col("cra"), col("cdec"), lit(180.0), lit(0.0)))
      .filter(col("d") < 30.0).select("k").collect().map(_.getLong(0)).sorted
    assert(cone.toSeq == brute.toSeq && cone.nonEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("write + load round-trips all rows; hive cone search equals brute force") {
    val out = java.nio.file.Files.createTempDirectory("graft_cat").toString
    val cat = Catalog.importFrom(li, out, "litest", "cra", "cdec", "k", orderK = 4, threshold = 500, marginDeg = 1.0)

    val loaded = cat.load()
    assert(loaded.count() == li.count())

    for (radius <- Seq(10.0, 30.0)) {
      val cone = cat.coneSearch(180.0, 0.0, radius)
        .select("k").collect().map(_.getLong(0)).sorted
      val brute = li.withColumn("d", sphere.gcDist(col("cra"), col("cdec"), lit(180.0), lit(0.0)))
        .filter(col("d") < radius).select("k").collect().map(_.getLong(0)).sorted
      assert(cone.toSeq == brute.toSeq, s"radius=$radius")
    }

    // stored box/polygon searches (pruned scan + exact predicate)
    // equal the in-flight operators over the same rows — including an
    // ra-wrapping box
    for ((raLo, raHi, decLo, decHi) <- Seq((170.0, 190.0, -20.0, 20.0), (350.0, 10.0, -30.0, 5.0))) {
      val stored = cat.boxSearch(raLo, raHi, decLo, decHi).select("k").collect().map(_.getLong(0)).sorted
      val inflight = graft.operators.Spatial.boxSearch(li, "cra", "cdec", raLo, raHi, decLo, decHi)
        .select("k").collect().map(_.getLong(0)).sorted
      assert(stored.toSeq == inflight.toSeq, s"box ($raLo,$raHi,$decLo,$decHi)")
      assert(stored.nonEmpty, "box parity test must actually cover rows")
    }
    val poly = Seq((150.0, -25.0), (210.0, -25.0), (210.0, 25.0), (150.0, 25.0))
    val storedPoly = cat.polygonSearch(poly)
      .select("k").collect().map(_.getLong(0)).sorted
    val inflightPoly = graft.operators.Spatial.polygonSearch(li, "cra", "cdec", poly)
      .select("k").collect().map(_.getLong(0)).sorted
    assert(storedPoly.toSeq == inflightPoly.toSeq && storedPoly.nonEmpty)

    // parquet summary sidecars (the reference reader's
    // read_parquet_metadata input): _metadata aggregates EVERY part
    // file's row groups — total rows and file count must match the
    // written tree exactly; _common_metadata carries the schema
    for (tree <- Seq("catalog", "neighbor")) {
      val (files, nRows, sidecarFiles) = summaryStats(s"$out/litest/$tree")
      val treeRows = spark.read.parquet(s"$out/litest/$tree").count()
      val partFiles = dataFiles(s"$out/litest/$tree")
      assert(nRows == treeRows, s"$tree: _metadata row total $nRows != $treeRows")
      assert(files == partFiles, s"$tree: _metadata covers ${files.size} files, tree has ${partFiles.size}")
      assert(Set("_metadata", "_common_metadata").subsetOf(sidecarFiles))
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  /** (files covered, total rows, sidecar names present) from a
   *  tree's `_metadata` summary file; files are paths relative to the
   *  tree, as the sidecar records them. */
  private def summaryStats(dir: String): (Set[String], Long, Set[String]) = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val meta = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      conf, new org.apache.hadoop.fs.Path(s"$dir/_metadata"))
    val blocks = meta.getBlocks.asScala
    val present = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("_")).map(_.getName).toSet
    (blocks.map(_.getPath).toSet, blocks.map(_.getRowCount).sum, present)
  }

  /** The data files of a tree, relative to it. */
  private def dataFiles(dir: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val root = new java.io.File(dir).toPath
    org.apache.commons.io.FileUtils.listFiles(root.toFile, Array("parquet"), true).asScala
      .map(f => root.relativize(f.toPath).toString).toSet
  }

  test("wide queries on a fine catalog: adaptive cover order keeps candidates bounded, results exact") {
    // orderK = 6 catalog + wide queries force coverOrder < orderK
    // (a 180-deg bounding cone at order 6 would enumerate half the
    // 49k-pixel sky; the adaptive cover coarsens instead) — both the
    // ancestor and the shifted-descendant pruning branches run here
    val out = java.nio.file.Files.createTempDirectory("graft_wide").toString
    val wide = Catalog.importFrom(li, out, "wide", "cra", "cdec", "k", orderK = 6, threshold = 200, marginDeg = 0.5)

    // full-RA dec band: bounding cone radius = 180 deg
    val band = wide.boxSearch(0.0, 360.0, -10.0, 10.0)
      .select("k").collect().map(_.getLong(0)).sorted
    val bandBrute = li.filter(col("cdec") >= -10.0 && col("cdec") <= 10.0)
      .select("k").collect().map(_.getLong(0)).sorted
    assert(band.toSeq == bandBrute.toSeq && band.nonEmpty)

    val cone = wide.coneSearch(180.0, 0.0, 60.0)
      .select("k").collect().map(_.getLong(0)).sorted
    val coneBrute = li.withColumn("d", sphere.gcDist(col("cra"), col("cdec"), lit(180.0), lit(0.0)))
      .filter(col("d") < 60.0).select("k").collect().map(_.getLong(0)).sorted
    assert(cone.toSeq == coneBrute.toSeq && cone.nonEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("stored cross-match (catalog + neighbor files) equals in-flight crossMatchKnn") {
    val out = java.nio.file.Files.createTempDirectory("graft_xm").toString
    val cust = spark.read.parquet(sf("sf0.001") + "/customer.parquet")
      .withColumn("cra", sphere.raOf(col("c_custkey")))
      .withColumn("cdec", sphere.decOf(col("c_custkey")))
    val supp = spark.read.parquet(sf("sf0.001") + "/supplier.parquet")
      .withColumn("sra", sphere.raOf(col("s_suppkey")))
      .withColumn("sdec", sphere.decOf(col("s_suppkey")))
    val c1 = Catalog.importFrom(cust, out, "c1", "cra", "cdec", "c_custkey",
      orderK = 2, threshold = 100, marginDeg = 12.0)
    val c2 = Catalog.importFrom(supp, out, "c2", "sra", "sdec", "s_suppkey",
      orderK = 2, threshold = 100, marginDeg = 12.0)

    // k = 1 ranks through the aggregate path, k = 2 through the window;
    // every matched left row lies in an occupied tile of c2's import map
    val grid = HipsPartitioner.computePartitionMap(supp, "sra", "sdec", orderK = 2, threshold = 100).grid
    for (k <- Seq(1, 2)) {
      val storedDf = c1.crossMatch(c2, k, dthreshDeg = 10.0)
      val stored = storedDf.select("`c1.c_custkey`", "`c2.s_suppkey`")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted

      val inflight = graft.operators.Spatial.crossMatchKnn(cust, supp,
        "cra", "cdec", "c_custkey", "sra", "sdec", "s_suppkey",
        k = k, dthreshDeg = 10.0, leftPrefix = "", rightPrefix = "x_")
        .select("c_custkey", "x_s_suppkey")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted

      assert(stored.nonEmpty && stored.toSeq == inflight.toSeq, s"k=$k")

      // hips_k/hips_pix carry the match partition (the right catalog's
      // adaptive pixel containing the left row) — reference catalog.py:232
      storedDf.select("`c1.cra`", "`c1.cdec`", "hips_k", "hips_pix").collect().foreach { r =>
        val pixK = graft.healpix.Healpix.ang2pixNest(2, r.getDouble(0), r.getDouble(1))
        val o = grid.order(pixK)
        assert(r.getInt(2) == o, s"hips_k mismatch at $r (k=$k)")
        assert(r.getLong(3) == (pixK >> (2 * (2 - o))), s"hips_pix mismatch at $r (k=$k)")
      }
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("crossMatch reads the other catalog from its own location") {
    val outL = java.nio.file.Files.createTempDirectory("graft_xm_left").toString
    val outR = java.nio.file.Files.createTempDirectory("graft_xm_right").toString
    val cust = spark.read.parquet(sf("sf0.001") + "/customer.parquet")
      .withColumn("cra", sphere.raOf(col("c_custkey")))
      .withColumn("cdec", sphere.decOf(col("c_custkey")))
    val supp = spark.read.parquet(sf("sf0.001") + "/supplier.parquet")
      .withColumn("sra", sphere.raOf(col("s_suppkey")))
      .withColumn("sdec", sphere.decOf(col("s_suppkey")))
    val c1 = Catalog.importFrom(cust, outL, "c1", "cra", "cdec", "c_custkey",
      orderK = 2, threshold = 100, marginDeg = 12.0)
    val c2 = Catalog.importFrom(supp, outR, "c2", "sra", "sdec", "s_suppkey",
      orderK = 2, threshold = 100, marginDeg = 12.0)
    def check(label: String): Unit = for (k <- Seq(1, 2)) {
      val stored = c1.crossMatch(c2, k, dthreshDeg = 10.0)
        .select("`c1.c_custkey`", "`c2.s_suppkey`")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val inflight = graft.operators.Spatial.crossMatchKnn(cust, supp,
        "cra", "cdec", "c_custkey", "sra", "sdec", "s_suppkey",
        k = k, dthreshDeg = 10.0, leftPrefix = "", rightPrefix = "x_")
        .select("c_custkey", "x_s_suppkey")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(stored.nonEmpty && stored.toSeq == inflight.toSeq, s"$label, k=$k")
    }
    check("no c2 at the left location")
    // a different catalog under the same name next to c1 must not
    // stand in for c2
    Catalog.importFrom(supp.withColumn("sra", (col("sra") + 90.0) % 360.0), outL, "c2",
      "sra", "sdec", "s_suppkey", orderK = 2, threshold = 100, marginDeg = 12.0)
    check("decoy c2 at the left location")
    Seq(outL, outR).foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }

  test("polar caps + RA seam: stored cross-match equals brute force — zero lost matches") {
    // the adversarial margin geometry: points hugging BOTH poles
    // (including pairs whose great-circle path crosses the pole,
    // i.e. different base faces) and points straddling the ra=0/360
    // seam. The reference dedicates ~200 lines to polar margins
    // (margin_utils.py:307-375); graft's disc-cover margins handle
    // poles by construction — this pins it against brute force.
    import spark.implicits._
    val dthresh = 0.15
    def wrap(ra: Double): Double = (ra % 360.0 + 360.0) % 360.0
    val left = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    var id = 1000L
    // polar rings, both hemispheres; the 89.95 ring's points are all
    // within dthresh of each other THROUGH the pole
    for (sign <- Seq(1, -1); (dec, step) <- Seq((88.5, 30), (89.2, 30), (89.95, 90));
         ra <- 0 until 360 by step) {
      left += ((id, ra.toDouble, sign * dec)); id += 1
    }
    // seam straddlers on both sides of ra=0
    for (dec <- Seq(-45.0, 0.0, 45.0); ra <- Seq(359.95, 0.02)) {
      left += ((id, ra, dec)); id += 1
    }
    // right catalog: each left point gets a twin shifted ~0.08 deg in
    // ra (wrapping through the seam for the straddlers)
    val right = left.map { case (i, ra, dec) => (i + 100000L, wrap(ra + 0.08), dec) }
    val lDf = left.toSeq.toDF("lid", "lra", "ldec")
    val rDf = right.toSeq.toDF("rid", "rra", "rdec")

    val out = java.nio.file.Files.createTempDirectory("graft_polar").toString
    val pl = Catalog.importFrom(lDf, out, "pl", "lra", "ldec", "lid", orderK = 4, threshold = 4, marginDeg = 0.2)
    val pr = Catalog.importFrom(rDf, out, "pr", "rra", "rdec", "rid", orderK = 4, threshold = 4, marginDeg = 0.2)

    val brute = lDf.crossJoin(rDf)
      .withColumn("d", sphere.gcDist(col("lra"), col("ldec"), col("rra"), col("rdec")))
      .filter(col("d") < dthresh)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    // every left point must have found its twin, and the through-pole
    // pairs (different base faces at the 89.95 ring) must be present —
    // otherwise this test isn't exercising the polar margin at all
    assert(brute.size >= left.size, "every left point has at least its shifted twin in range")
    val polarRing = left.filter { case (_, _, dec) => math.abs(dec) > 89.9 }.map(_._1).toSet
    val crossPole = brute.filter { case (l, r) => polarRing(l) && r - 100000L != l }
    assert(crossPole.nonEmpty, "through-pole pairs must exist for the margin to be exercised")

    val stored = pl.crossMatch(pr, 10, dthresh)
      .select("`pl.lid`", "`pr.rid`").as[(Long, Long)].collect().toSet
    assert(stored == brute,
      s"stored cross-match lost ${(brute -- stored).size} matches (extra: ${(stored -- brute).size}) " +
        s"— missing: ${(brute -- stored).take(5)}")

    val inflight = graft.operators.Spatial.crossMatchKnn(lDf, rDf,
      "lra", "ldec", "lid", "rra", "rdec", "rid",
      k = 10, dthreshDeg = dthresh, leftPrefix = "", rightPrefix = "x_")
      .select("lid", "x_rid").as[(Long, Long)].collect().toSet
    assert(inflight == brute, "in-flight cross-match must also equal brute force")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("Catalog object API: import, load with pruning, cone search, cross-match") {
    val out = java.nio.file.Files.createTempDirectory("graft_oo").toString
    val cust = spark.read.parquet(sf("sf0.001") + "/customer.parquet")
      .withColumn("cra", sphere.raOf(col("c_custkey")))
      .withColumn("cdec", sphere.decOf(col("c_custkey")))
    val supp = spark.read.parquet(sf("sf0.001") + "/supplier.parquet")
      .withColumn("sra", sphere.raOf(col("s_suppkey")))
      .withColumn("sdec", sphere.decOf(col("s_suppkey")))

    val c1 = Catalog.importFrom(cust, out, "cust", "cra", "cdec", "c_custkey",
      orderK = 2, threshold = 100, marginDeg = 12.0)
    val c2 = Catalog.importFrom(supp, out, "supp", "sra", "sdec", "s_suppkey",
      orderK = 2, threshold = 100, marginDeg = 12.0)

    assert(c1.raKw == "cra" && c1.orderK == 2)
    assert(c1.load(Seq("c_name")).columns.toSet == Set("c_name", "cra", "cdec", "c_custkey"))
    assert(c1.coneSearch(180.0, 0.0, 30.0).count() == 17)
    // column-pruned cone search: requested + ra/dec/id + _DIST, no hive columns
    val cone = c1.coneSearch(180.0, 0.0, 30.0, columns = Seq("c_name"))
    assert(cone.columns.toSet == Set("c_name", "cra", "cdec", "c_custkey", "_DIST"))
    assert(cone.count() == 17)

    // mirrors examples/hipscat_tests.py:74-119: import -> cross_match
    // with per-side column selection -> post-filter on a prefixed column
    val xm = c1.crossMatch(c2, nNeighbors = 2, dthreshDeg = 10.0,
      c1Cols = Seq("c_name"), c2Cols = Seq("s_name"))
    assert(xm.columns.contains("supp.s_suppkey") && xm.columns.contains("_DIST"))
    assert(xm.columns.contains("cust.c_name") && xm.columns.contains("supp.s_name"))
    assert(xm.columns.contains("hips_k") && xm.columns.contains("hips_pix"))
    assert(!xm.columns.contains("cust.c_acctbal"), "unselected columns must not survive")
    assert(xm.count() > 0)
    assert(xm.filter(col("`supp.s_suppkey`") % 5 > 3).count() > 0)
    // the pruning must reach the parquet scans: no ReadSchema carries
    // an unselected wide column on either side
    val scans = xm.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!scans.contains("c_acctbal") && !scans.contains("s_acctbal"),
      s"unselected columns must be pruned from the scans:\n$scans")

    val xmAll = c1.crossMatch(c2, nNeighbors = 2, dthreshDeg = 10.0)
    assert(xmAll.columns.contains("cust.c_acctbal") && xmAll.columns.contains("supp.s_acctbal"),
      "no selection means all columns, prefixed")

    // the k = 1 aggregate path over '.'-delimited prefixed names: the
    // same columns, in the same order, and the same rows as the k = 2
    // window path's rank-1 rows
    val nearest = Catalog(spark, out, "cust").crossMatch(c2, 1, 10.0)
    val rank1 = c1.crossMatch(c2, 2, 10.0).filter(col("_RANK") === 1)
    assert(nearest.columns.toSeq == rank1.columns.toSeq,
      s"k=1 column order drifted: ${nearest.columns.toSeq} vs ${rank1.columns.toSeq}")
    val nRows = nearest.collect().map(_.toSeq).sortBy(_.toString)
    assert(nRows.nonEmpty && nRows.toSeq == rank1.collect().map(_.toSeq).sortBy(_.toString).toSeq)

    // density map persisted at import == an independent recompute
    val dm = c1.densityMap().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val recomputed = graft.operators.Spatial.densityHistogram(cust, "cra", "cdec", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dm == recomputed, "point_map.parquet must equal a recomputed density histogram")

    // Catalog.open threads storage options into the session's hadoop
    // conf (the reference's storage_options surface, lsd2_io.py:43);
    // the local-FS read takes the identical Hadoop FileSystem path
    val opened = Catalog.open(spark, out, "cust",
      Map("fs.s3a.endpoint" -> "s3.example.test"))
    assert(spark.sparkContext.hadoopConfiguration.get("fs.s3a.endpoint") == "s3.example.test")
    assert(opened.load().count() == cust.count())
    spark.sparkContext.hadoopConfiguration.unset("fs.s3a.endpoint")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("_ID bit layout survives the signed reinterpretation for high (southern) pixels") {
    import graft.healpix.Healpix
    val out = java.nio.file.Files.createTempDirectory("graft_south").toString
    // deep-southern points: order-14 pixel >= 2^31, so (pix << 32) has
    // the sign bit set — _ID must still carry the exact reference bit
    // pattern (pix14 recoverable via unsigned shift) even though the
    // signed Long value is negative
    val sess = spark
    import sess.implicits._
    val pts = Seq((1L, 200.0, -75.0), (2L, 310.0, -88.0), (3L, 45.0, -60.0), (4L, 10.0, 40.0))
      .toDF("id", "ra", "dec")
    val rows = Catalog.importFrom(pts, out, "south", "ra", "dec", "id", orderK = 0, threshold = 10).load()
      .select("id", "ra", "dec", "_ID").collect()
    assert(rows.length == 4)
    var sawNegative = false
    rows.foreach { r =>
      val id = r.getLong(3)
      val pix14 = Healpix.ang2pixNest(14, r.getDouble(1), r.getDouble(2))
      assert((id >>> 32) == pix14, s"pix14 must be recoverable by unsigned shift for ${r.getLong(0)}")
      if (id < 0) sawNegative = true
      if (pix14 >= (1L << 31)) assert(id < 0, "high pixel must wrap negative (signed reinterpretation)")
    }
    assert(sawNegative, "test must actually cover the sign-flip region")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("resumable import: batch-identical to single-shot write, completed batches skipped on re-run") {
    val out = java.nio.file.Files.createTempDirectory("graft_resume").toString
    val cust = spark.read.parquet(sf("sf0.001") + "/customer.parquet")
      .withColumn("cra", sphere.raOf(col("c_custkey")))
      .withColumn("cdec", sphere.decOf(col("c_custkey")))
    // three source "files" (parquet batches)
    val srcDir = java.nio.file.Files.createTempDirectory("graft_resume_src").toString
    (0 until 3).foreach { i =>
      cust.filter(col("c_custkey") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/part$i")
    }
    val batches = (0 until 3).map(i => Seq(s"$srcDir/part$i"))

    // single-shot reference output
    Catalog.importFrom(cust, out, "direct", "cra", "cdec", "c_custkey",
      orderK = 2, threshold = 100, marginDeg = 5.0)
    // resumable output over the same rows; `readBatch` is the import's
    // source reader, counted below to prove completed batches are skipped
    def resume(bs: Seq[Seq[String]], readBatch: Seq[String] => org.apache.spark.sql.DataFrame): Unit =
      HipsPartitioner.writeResumable(spark, bs, readBatch, "cra", "cdec", "c_custkey",
        CatalogLayout(out, "resumed"), orderK = 2, threshold = 100, marginDeg = 5.0, cleanStaging = false)
    resume(batches, files => spark.read.parquet(files: _*))

    def dump(cat: String) = Catalog(spark, out, cat).load()
      .select(col("c_custkey"), col("_ID"), col("Norder").cast("int"), col("Npix").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).sorted.toSeq
    assert(dump("resumed") == dump("direct"),
      "resumable import must be row-identical (incl _ID) to the single-shot write")

    // re-run: staged batches must be untouched (markers respected)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def stageMtimes: Map[String, Long] = (0 until 3).flatMap { i =>
      val dir = new org.apache.hadoop.fs.Path(s"$out/resumed/_import/stage/batch=$i")
      fs.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet"))
        .map(st => st.getPath.toString -> st.getModificationTime)
    }.toMap
    val before = stageMtimes
    var reads = 0
    resume(batches, files => { reads += 1; spark.read.parquet(files: _*) })
    assert(reads == 0, "a completed batch must not be re-read from source")
    assert(stageMtimes == before, "staged parquet must not be rewritten on resume")
    assert(dump("resumed") == dump("direct"), "re-run output still identical")

    // partial resume: invalidate ONE batch's histogram marker — only
    // that histogram is recomputed, staging is still reused
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/resumed/_import/hist/batch=1/_SUCCESS"), false)
    resume(batches, files => { reads += 1; spark.read.parquet(files: _*) })
    assert(reads == 0, "hist recompute reads staging, not sources")
    assert(dump("resumed") == dump("direct"))

    // resuming with a different batch list must be refused, not mixed
    val e = intercept[IllegalArgumentException] {
      resume(batches.take(2), files => spark.read.parquet(files: _*))
    }
    assert(e.getMessage.contains("DIFFERENT batch list"))

    // sources regenerated under the SAME paths: a COMPLETED batch's
    // staging is the source of truth, so the resume still succeeds
    // without re-reading sources and the output is unchanged...
    Thread.sleep(1100) // ensure a distinct mtime even on coarse filesystems
    cust.filter(col("c_custkey") % 3 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$srcDir/part0")
    resume(batches, files => { reads += 1; spark.read.parquet(files: _*) })
    assert(reads == 0, "completed staging must not consult changed sources")
    assert(dump("resumed") == dump("direct"))
    // ...including a batch with ONLY its histogram marker missing: the
    // histogram recomputes from staged bytes, so changed sources must
    // not block it (staleness gates on the STAGE marker alone)
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/resumed/_import/hist/batch=0/_SUCCESS"), false)
    resume(batches, files => { reads += 1; spark.read.parquet(files: _*) })
    assert(reads == 0, "hist-only recompute must not consult changed sources")
    assert(dump("resumed") == dump("direct"))
    // ...but an UNSTAGED batch whose sources changed must be refused
    // (it would re-read the new bytes and silently mix generations)
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/resumed/_import/stage/batch=0/_SUCCESS"), false)
    val e2 = intercept[IllegalArgumentException] {
      resume(batches, files => spark.read.parquet(files: _*))
    }
    assert(e2.getMessage.contains("UNSTAGED batch 0"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(srcDir))
  }

  test("incremental append: frozen map, _ID continuation, search + margin parity, density fold") {
    val out = java.nio.file.Files.createTempDirectory("graft_append").toString
    val first = li.filter(col("k") % 2 === 0)
    val second = li.filter(col("k") % 2 =!= 0)
    val grow = Catalog.importFrom(first, out, "grow", "cra", "cdec", "k", orderK = 4, threshold = 500, marginDeg = 1.0)
      .append(second)

    // every row present exactly once; merged histogram is the full count
    val loaded = grow.load()
    assert(loaded.count() == li.count())
    assert(nSources(grow) == li.count())
    // k is NOT row-unique in the synthetic lineitem — compare distincts
    assert(loaded.select("k").distinct().count() == li.select("k").distinct().count())

    // _ID continuation: unique across old + new files
    assert(loaded.select("_ID").distinct().count() == li.count(),
      "appended _IDs must continue, not collide with, existing ranks")

    // cone search on the appended catalog equals brute force over ALL rows
    val cone = grow.coneSearch(180.0, 0.0, 30.0)
      .select("k").collect().map(_.getLong(0)).sorted
    val brute = li.withColumn("d", sphere.gcDist(col("cra"), col("cdec"), lit(180.0), lit(0.0)))
      .filter(col("d") < 30.0).select("k").collect().map(_.getLong(0)).sorted
    assert(cone.toSeq == brute.toSeq && cone.nonEmpty)

    // the append refreshed the summary sidecars: _metadata's row total
    // must cover old + appended files, not the import-time snapshot
    val (_, sidecarRows, _) = summaryStats(s"$out/grow/catalog")
    assert(sidecarRows == li.count(),
      s"_metadata after append covers $sidecarRows rows, tree has ${li.count()}")

    // margin cache grows too: stored cross-match against the appended
    // catalog equals the in-flight cross-match over the union
    val cust = spark.read.parquet(sf("sf0.001") + "/customer.parquet")
      .withColumn("cra", sphere.raOf(col("c_custkey"))).withColumn("cdec", sphere.decOf(col("c_custkey")))
    val stored = Catalog.importFrom(cust, out, "qcat", "cra", "cdec", "c_custkey",
        orderK = 4, threshold = 500, marginDeg = 1.0)
      .crossMatch(grow, 2, dthreshDeg = 0.8)
      .select(col("`qcat.c_custkey`"), col("`grow.k`"), col("_RANK")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    val inflight = graft.operators.Spatial.crossMatchKnn(cust, li, "cra", "cdec", "c_custkey",
        "cra", "cdec", "k", k = 2, dthreshDeg = 0.8, leftPrefix = "", rightPrefix = "r_")
      .select(col("c_custkey"), col("r_k"), col("_RANK")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    assert(stored.toSeq == inflight.toSeq && stored.nonEmpty,
      "stored margins must cover appended rows")

    // density artifact folded: point_map == histogram of the union
    val cat = Catalog(spark, out, "grow")
    val dm = cat.densityMap().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truth = li.groupBy(sphere.hpix(col("cra"), col("cdec"), 4).as("pix")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dm == truth)

    // a SECOND append (even of duplicate rows) keeps _ID unique —
    // ranks continue from the post-first-append maxima
    cat.append(li.limit(137))
    val again = cat.load()
    assert(again.count() == li.count() + 137)
    assert(again.select("_ID").distinct().count() == li.count() + 137,
      "second append must continue ranks, not restart them")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("appended _IDs are pix14 << 32 | first free rank + rank in (pix14, ra, dec, id) order, at 1 and 4 shuffle partitions") {
    import Ordering.Double.TotalOrdering
    // (ra, dec, k, _ID) of every stored row, by file
    def stored(tree: String): Map[String, Seq[(Double, Double, Long, Long)]] =
      spark.read.parquet(tree).select(input_file_name(), col("cra"), col("cdec"), col("k"), col("_ID"))
        .collect().toSeq.groupMap(_.getString(0))(r => (r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
    // the write task that wrote a file: the counter runs per task, and a
    // neighbor-tree pixel's replicas can sit in tiles of several tasks
    def task(file: String): Int = "part-(\\d+)".r.findFirstMatchIn(file).get.group(1).toInt
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> spark.conf.get(k))
    try for (parts <- Seq(1, 4)) {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      // uncoalesced, so at 4 partitions the write really runs 4 tasks
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val out = java.nio.file.Files.createTempDirectory("graft_idpin").toString
      val cat = Catalog.importFrom(li.filter(col("k") % 3 === 0), out, "pin", "cra", "cdec", "k",
        orderK = 4, threshold = 500, marginDeg = 1.0)
      // the second batch repeats imported rows: their ranks continue too
      val batches = Seq(li.filter(col("k") % 3 === 1), li.filter(col("k") % 3 === 2).unionByName(li.limit(60)))
      for ((batch, b) <- batches.zipWithIndex; trees = Seq("catalog", "neighbor").map(t => s"$out/pin/$t")) {
        val before = trees.map(stored)
        cat.append(batch)
        for ((tree, old) <- trees.zip(before)) {
          val firstFree = old.values.flatten.toSeq
            .groupMapReduce(_._4 >>> 32)(r => (r._4 & 0xffffffffL) + 1)(math.max)
          val added = stored(tree) -- old.keys
          val expected = added.toSeq.flatMap { case (f, rs) =>
            rs.map(r => (task(f), graft.healpix.Healpix.ang2pixNest(14, r._1, r._2), r))
          }.groupMap(t => (t._1, t._2))(_._3).toSeq.flatMap { case ((_, pix), rs) =>
            rs.sortBy(r => (r._1, r._2, r._3)).zipWithIndex.map { case (r, i) =>
              (r._1, r._2, r._3, (pix << 32) + firstFree.getOrElse(pix, 0L) + i)
            }
          }
          val actual = added.values.flatten.toSeq
          assert(actual.nonEmpty && actual.size == expected.size, s"$tree, append $b at $parts partitions")
          assert(actual.sorted == expected.sorted, s"$tree, append $b at $parts partitions: _IDs differ")
        }
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("histogram artifacts: driver-side write, read and finishTrees start no Spark job; spark.read sees Spark's own table") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_hist").toString
    Catalog.importFrom(li.limit(800), out, "h", "cra", "cdec", "k", orderK = 4, threshold = 200, marginDeg = 1.0)
    val layout = CatalogLayout(out, "h")
    val (pix, cnt) = (Array(3L, 7L, 40L, 1L << 33), Array(5L, 1L, 2L, 9L))
    var back: (Array[Long], Array[Long]) = null
    assert(jobsDuring { CatalogTestAccess.writeHist(spark, layout.pointMap, pix, cnt) } == 0)
    assert(jobsDuring { back = CatalogTestAccess.readHist(spark, layout.pointMap) } == 0)
    assert(back._1.toSeq == pix.toSeq && back._2.toSeq == cnt.toSeq)
    assert(jobsDuring { CatalogTestAccess.finishTrees(spark, out, "h") } == 0)
    for (tree <- Seq("catalog", "neighbor")) {
      val (files, rows, _) = summaryStats(s"$out/h/$tree")
      assert(files == dataFiles(s"$out/h/$tree") && rows == spark.read.parquet(s"$out/h/$tree").count())
    }

    // the same table DataFrame.write makes, in one part file
    def visible(dir: String) = new java.io.File(dir).list().filterNot(n => n.startsWith("_") || n.startsWith(".")).toSeq
    val bySpark = s"$out/by_spark"
    pix.zip(cnt).toSeq.toDF("pix", "cnt").coalesce(1).write.parquet(bySpark)
    val (driver, reference) = (spark.read.parquet(layout.pointMap), spark.read.parquet(bySpark))
    assert(driver.schema == reference.schema)
    assert(driver.collect().toSeq == reference.collect().toSeq)
    assert(visible(layout.pointMap) == Seq("part-00000.parquet"))
    // an overwrite replaces the part file, also one Spark wrote
    CatalogTestAccess.writeHist(spark, bySpark, Array(11L), Array(4L))
    assert(visible(bySpark) == Seq("part-00000.parquet"))
    assert(spark.read.parquet(bySpark).as[(Long, Long)].collect().toSeq == Seq((11L, 4L)))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("histograms DataFrame.write left (several part files) still append, repartition and give the same densityMap()") {
    val out = java.nio.file.Files.createTempDirectory("graft_legacy_hist").toString
    val first = li.filter(col("k") % 8 === 1)
    def open(name: String) =
      Catalog.importFrom(first, out, name, "cra", "cdec", "k", orderK = 4, threshold = 200, marginDeg = 1.0)
    val (fresh, legacy) = (open("fresh"), open("legacy"))
    // rewrite the legacy catalog's artifacts the way DataFrame.write
    // leaves them: point_map in three part files, import_hist in one
    val layout = CatalogLayout(out, "legacy")
    for ((path, parts) <- Seq(layout.pointMap -> 3, layout.importHist -> 1)) {
      val rows = spark.read.parquet(path).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      spark.createDataFrame(rows).toDF("pix", "cnt").repartition(parts).write.mode("overwrite").parquet(path)
      val written = new java.io.File(path).list().filter(_.startsWith("part-"))
      assert(written.count(_.endsWith(".parquet")) == parts && written.forall(_ != "part-00000.parquet"))
    }
    def density(c: Catalog) = c.densityMap().collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    def rows(c: Catalog) = c.load().select(col("k"), col("_ID"), col("Norder").cast("int"), col("Npix").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).sorted.toSeq
    assert(density(legacy) == density(fresh))
    val rest = li.filter(col("k") % 8 =!= 1)
    fresh.append(rest)
    legacy.append(rest)
    assert(density(legacy) == density(fresh) && nSources(legacy) == li.count())
    assert(rows(legacy) == rows(fresh))
    def tiles(c: Catalog) = rows(c).map(r => (r._3, r._4)).toSet
    val appended = tiles(legacy)
    val (freshRp, legacyRp) = (fresh.repartition(), legacy.repartition())
    assert(tiles(legacyRp) != appended, "the 8x growth must split a tile")
    assert(density(legacyRp) == density(freshRp))
    assert(rows(legacyRp) == rows(freshRp))
    // both artifacts now hold the one driver-written part file
    for (path <- Seq(layout.pointMap, layout.importHist))
      assert(new java.io.File(path).list().filter(_.endsWith(".parquet")).toSeq == Seq("part-00000.parquet"), path)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("catalog repartition: over-threshold pixels re-split, _IDs preserved, layout + search + margin parity with a fresh import") {
    val out = java.nio.file.Files.createTempDirectory("graft_repart").toString
    // import 1/8th of the data, then append the rest — pixels grow
    // ~8x past the import-time density, the frozen-map lifecycle gap
    val first = li.filter(col("k") % 8 === 1)
    val rest = li.filter(col("k") % 8 =!= 1)
    val grown = Catalog.importFrom(first, out, "rp", "cra", "cdec", "k", orderK = 4, threshold = 200, marginDeg = 1.0)
      .append(rest)
    val beforeIds = grown.load()
      .select("_ID").collect().map(_.getLong(0)).sorted.toSeq
    def tilesOf(cat: String): Set[(Int, Long)] = {
      val root = new java.io.File(s"$out/$cat/catalog")
      root.listFiles().filter(_.getName.startsWith("Norder=")).flatMap { od =>
        val o = od.getName.stripPrefix("Norder=").toInt
        od.listFiles().flatMap(_.listFiles()).filter(_.getName.startsWith("Npix="))
          .map(pd => (o, pd.getName.stripPrefix("Npix=").toLong))
      }.toSet
    }
    val tilesBefore = tilesOf("rp")

    val rp = grown.repartition()
    // rows survive exactly, _IDs byte-preserved
    val after = rp.load()
    assert(after.count() == li.count())
    assert(after.select("_ID").collect().map(_.getLong(0)).sorted.toSeq == beforeIds,
      "repartition must preserve _IDs — the index is partitioning-independent")
    assert(nSources(rp) == li.count())

    // the refined layout equals a FRESH single-shot import of the
    // union (same histogram -> same deterministic walk), and it
    // actually refined something
    val rpfresh = Catalog.importFrom(li, out, "rpfresh", "cra", "cdec", "k", orderK = 4, threshold = 200, marginDeg = 1.0)
    val tilesAfter = tilesOf("rp")
    assert(tilesAfter == tilesOf("rpfresh"), "repartitioned layout must equal a fresh import's")
    assert(tilesAfter != tilesBefore, "the 8x growth must have split at least one tile")
    // _ID rank ranges per order-14 pixel are dense 0..n-1 in both
    // builds, so the _ID multisets agree even though append order differed
    val freshIds = rpfresh.load()
      .select("_ID").collect().map(_.getLong(0)).sorted.toSeq
    assert(beforeIds == freshIds)

    // pruned cone search parity against brute force
    val cone = rp.coneSearch(180.0, 0.0, 30.0)
      .select("k").collect().map(_.getLong(0)).sorted
    val brute = li.withColumn("d", sphere.gcDist(col("cra"), col("cdec"), lit(180.0), lit(0.0)))
      .filter(col("d") < 30.0).select("k").collect().map(_.getLong(0)).sorted
    assert(cone.toSeq == brute.toSeq && cone.nonEmpty)

    // stored cross-match (margins rebuilt for split tiles, incl. the
    // NEW internal borders) equals the fresh import's and the in-flight
    val cust = spark.read.parquet(sf("sf0.001") + "/customer.parquet")
      .withColumn("cra", sphere.raOf(col("c_custkey"))).withColumn("cdec", sphere.decOf(col("c_custkey")))
    val rq = Catalog.importFrom(cust, out, "rq", "cra", "cdec", "c_custkey", orderK = 4, threshold = 500, marginDeg = 1.0)
    def stored(cat: Catalog) = rq.crossMatch(cat, 2, dthreshDeg = 0.8)
      .select(col("`rq.c_custkey`"), col(s"`${cat.catname}.k`"), col("_RANK")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val viaRepart = stored(rp)
    assert(viaRepart == stored(rpfresh), "margin caches must agree after repartition")
    val inflight = graft.operators.Spatial.crossMatchKnn(cust, li, "cra", "cdec", "c_custkey",
        "cra", "cdec", "k", k = 2, dthreshDeg = 0.8, leftPrefix = "", rightPrefix = "r_")
      .select(col("c_custkey"), col("r_k"), col("_RANK")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(viaRepart == inflight && viaRepart.nonEmpty)

    // idempotent: a second repartition finds nothing to split
    val rp2 = rp.repartition()
    assert(tilesOf("rp") == tilesAfter && nSources(rp2) == li.count())

    // appends AFTER repartition assign under the REFINED frozen map
    Catalog(spark, out, "rp").append(li.limit(97))
    val again = Catalog(spark, out, "rp").load()
    assert(again.count() == li.count() + 97)
    assert(again.select("_ID").distinct().count() == li.count() + 97,
      "post-repartition append must continue ranks uniquely")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("repartition crash recovery: pre-commit debris discarded, post-commit journal rolled forward without duplicates") {
    import org.apache.commons.io.FileUtils
    import java.io.File
    val out = java.nio.file.Files.createTempDirectory("graft_repartcrash").toString
    val first = li.filter(col("k") % 8 === 1)
    val rest = li.filter(col("k") % 8 =!= 1)
    val rc = Catalog.importFrom(first, out, "rc", "cra", "cdec", "k", orderK = 4, threshold = 200, marginDeg = 1.0)
      .append(rest)

    def tiles(cat: String, tree: String): Set[(Int, Long)] = {
      val root = new File(s"$out/$cat/$tree")
      if (!root.exists()) Set.empty
      else root.listFiles().filter(_.getName.startsWith("Norder=")).flatMap { od =>
        val o = od.getName.stripPrefix("Norder=").toInt
        od.listFiles().flatMap(_.listFiles()).filter(_.getName.startsWith("Npix="))
          .map(pd => (o, pd.getName.stripPrefix("Npix=").toLong))
      }.toSet
    }
    def dirOf(p: Long) = p / 10000L * 10000L

    // clone the grown catalog and run a CLEAN repartition on the clone
    // — its end state is the ground truth the recovery must reproduce
    FileUtils.copyDirectory(new File(s"$out/rc"), new File(s"$out/rc2"))
    FileUtils.moveFile(new File(s"$out/rc2/rc_meta.json"), new File(s"$out/rc2/rc2_meta.json"))
    val tilesBefore = Map("catalog" -> tiles("rc", "catalog"), "neighbor" -> tiles("rc", "neighbor"))
    val truthIds = Catalog(spark, out, "rc2").repartition().load()
      .select("_ID").collect().map(_.getLong(0)).sorted.toSeq

    // --- crash BEFORE the commit point: stage debris + tmp journal,
    // no journal. Recovery must discard it and touch nothing else.
    val junk = new File(s"$out/rc/_repartition_stage/catalog/Norder=9/Dir=0/Npix=7")
    junk.mkdirs()
    FileUtils.writeStringToFile(new File(junk, "part-junk.parquet"), "junk", "UTF-8")
    FileUtils.writeStringToFile(new File(s"$out/rc/_repartition_journal.json.tmp"), "{", "UTF-8")
    assert(!rc.recoverRepartition(),
      "no journal => no pending commit to roll forward")
    assert(!new File(s"$out/rc/_repartition_stage").exists(), "pre-commit stage debris must be discarded")
    assert(!new File(s"$out/rc/_repartition_journal.json.tmp").exists())
    assert(tiles("rc", "catalog") == tilesBefore("catalog"), "pre-commit crash leaves the old layout authoritative")
    assert(rc.load().count() == li.count())

    // --- crash AFTER the commit point: reconstruct the committed state
    // (complete stage tree + journal, old dirs still live) from the
    // clean run's outputs, plus ONE staged dir already half-applied
    // (renamed in but journal not yet cleared — the mid-commit replay case)
    val stagedAll = Seq("catalog", "neighbor").flatMap { tree =>
      (tiles("rc2", tree) -- tilesBefore(tree)).toSeq.sorted.map { case (o, p) =>
        FileUtils.copyDirectory(
          new File(s"$out/rc2/$tree/Norder=$o/Dir=${dirOf(p)}/Npix=$p"),
          new File(s"$out/rc/_repartition_stage/$tree/Norder=$o/Dir=${dirOf(p)}/Npix=$p"))
        (tree, o, p)
      }
    }
    val splits = (tilesBefore("catalog") -- tiles("rc2", "catalog")).toSeq.sorted
    assert(stagedAll.nonEmpty && splits.nonEmpty, "the 8x growth must have split at least one tile")
    val (t0, o0, p0) = stagedAll.head
    FileUtils.copyDirectory(
      new File(s"$out/rc/_repartition_stage/$t0/Norder=$o0/Dir=${dirOf(p0)}/Npix=$p0"),
      new File(s"$out/rc/$t0/Norder=$o0/Dir=${dirOf(p0)}/Npix=$p0"))
    val journal =
      s"""{"summary_files": true,
         | "split": [${splits.map { case (o, p) => s"[$o,$p]" }.mkString(",")}],
         | "staged": [${stagedAll.map { case (t, o, p) => s"""["$t",$o,$p]""" }.mkString(",")}]}""".stripMargin
    FileUtils.writeStringToFile(new File(s"$out/rc/_repartition_journal.json"), journal, "UTF-8")
    // snapshot the crashed state for the append-after-crash case below
    FileUtils.copyDirectory(new File(s"$out/rc"), new File(s"$out/rc4"))
    FileUtils.moveFile(new File(s"$out/rc4/rc_meta.json"), new File(s"$out/rc4/rc4_meta.json"))

    assert(rc.recoverRepartition(), "journal present => roll forward")
    assert(!new File(s"$out/rc/_repartition_journal.json").exists())
    assert(!new File(s"$out/rc/_repartition_stage").exists())
    for (tree <- Seq("catalog", "neighbor"))
      assert(tiles("rc", tree) == tiles("rc2", tree), s"recovered $tree layout must equal the clean run's")
    val rec = rc.load()
    assert(rec.count() == li.count(), "no duplicate rows after roll-forward")
    assert(rec.select("_ID").collect().map(_.getLong(0)).sorted.toSeq == truthIds)

    // import_hist was re-frozen: a follow-up repartition finds nothing
    val rcAfter = rc.repartition()
    assert(tiles("rc", "catalog") == tiles("rc2", "catalog") && nSources(rcAfter) == li.count())

    // --- append ONTO the crashed (journal-pending) state: append must
    // roll the commit forward FIRST, or its rows would land in the
    // doomed split dirs and be deleted by the eventual recovery
    val rc4 = Catalog(spark, out, "rc4").append(li.limit(97))
    assert(!new File(s"$out/rc4/_repartition_journal.json").exists(),
      "append must complete the pending commit before writing")
    val afterAppend = rc4.load()
    assert(afterAppend.count() == li.count() + 97, "no appended row may be lost to the roll-forward")
    assert(afterAppend.select("_ID").distinct().count() == li.count() + 97)
    assert(tiles("rc4", "catalog") == tiles("rc2", "catalog"),
      "append lands under the RECOVERED refined layout")
    FileUtils.deleteDirectory(new File(out))
  }

  test("catalog compaction: append tails fold to one file per leaf, search + margin parity") {
    val out = java.nio.file.Files.createTempDirectory("graft_compactcat").toString
    Catalog.importFrom(li.filter(col("k") % 2 === 0), out, "cc", "cra", "cdec", "k",
      orderK = 4, threshold = 500, marginDeg = 1.0)
      .append(li.filter(col("k") % 2 =!= 0))
    val cat = Catalog.open(spark, out, "cc")
    val beforeRows = cat.load().orderBy("_ID").collect().toSeq
    val cone0 = cat.coneSearch(180.0, 0.0, 30.0).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    val (done, nb, na) = cat.compact()
    assert(done > 0, "append must have left multi-file leaves to compact")
    assert(na < nb, s"file count must shrink: $nb -> $na")
    // one file per leaf at this data size
    assert(cat.compact()._1 == 0, "second compaction must be a no-op")
    assert(cat.load().orderBy("_ID").collect().toSeq == beforeRows,
      "compaction must preserve every row and the _ID order")
    val cone1 = cat.coneSearch(180.0, 0.0, 30.0).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(cone1 == cone0 && cone1.nonEmpty, "pruned search parity after compaction")
    // the summary sidecars name exactly the compacted files and count
    // every row of the tree
    for (tree <- Seq("catalog", "neighbor")) {
      val dir = s"$out/cc/$tree"
      val (files, rows, _) = summaryStats(dir)
      assert(files == dataFiles(dir), s"$tree: _metadata names files the compaction deleted")
      assert(rows == spark.read.parquet(dir).count(), s"$tree: _metadata row total")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("a handle is a snapshot: it sees every completed write, its frames self-join, a resolved search starts no job") {
    val out = java.nio.file.Files.createTempDirectory("graft_snapshot").toString
    def ks(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("k").collect().map(_.getLong(0)).sorted.toSeq
    def cone(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      ks(df.filter(sphere.gcDist(col("cra"), col("cdec"), lit(180.0), lit(0.0)) < 30.0))
    def tilesOf(cat: Catalog): Set[(Int, Long)] =
      cat.load().select(col("Norder").cast("int"), col("Npix").cast("long")).distinct().collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSet
    val first = li.filter(col("k") % 8 === 1)
    val own = Catalog.importFrom(first, out, "snap", "cra", "cdec", "k", orderK = 4, threshold = 200, marginDeg = 1.0)
    val other = Catalog(spark, out, "snap")
    assert(ks(other.coneSearch(180.0, 0.0, 30.0)) == cone(first))

    // the handle's own append, then the other handle, resolved before
    // it, on its next search
    own.append(li.filter(col("k") % 8 =!= 1))
    assert(own.load().count() == li.count())
    assert(ks(other.coneSearch(180.0, 0.0, 30.0)) == cone(li))

    // two loads of one handle are distinct relation instances
    val (a, b) = (own.load(), own.load())
    assert(a.join(b, a("_ID") === b("_ID")).count() == li.count())

    // resolved: building the frame lists nothing and infers nothing
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { df = own.coneSearch(180.0, 0.0, 30.0) } == 0)
    assert(ks(df) == cone(li))

    // compaction deletes the files both snapshots listed
    assert(own.compact()._1 > 0)
    assert(ks(own.coneSearch(180.0, 0.0, 30.0)) == cone(li))
    assert(ks(other.coneSearch(180.0, 0.0, 30.0)) == cone(li))

    // repartition splits tiles; its fresh handle and the old ones see
    // the tiles on disk
    val before = tilesOf(own)
    val rp = own.repartition()
    val onDisk = new java.io.File(s"$out/snap/catalog").listFiles().filter(_.getName.startsWith("Norder="))
      .flatMap { od =>
        od.listFiles().flatMap(_.listFiles()).filter(_.getName.startsWith("Npix="))
          .map(pd => (od.getName.stripPrefix("Norder=").toInt, pd.getName.stripPrefix("Npix=").toLong))
      }.toSet
    assert(onDisk != before, "the 8x growth must split a tile")
    assert(tilesOf(rp) == onDisk && tilesOf(other) == onDisk)
    assert(ks(other.coneSearch(180.0, 0.0, 30.0)) == cone(li))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("resolving a written catalog runs no Spark job: each tree's schema comes from its _common_metadata") {
    val out = java.nio.file.Files.createTempDirectory("graft_resolve").toString
    val rows = li.filter(col("k") % 4 === 1)
    Catalog.importFrom(rows, out, "a", "cra", "cdec", "k", orderK = 4, threshold = 200, marginDeg = 1.0)
    Catalog.importFrom(rows.withColumn("cra", (col("cra") + 0.5) % 360.0), out, "b", "cra", "cdec", "k",
      orderK = 4, threshold = 200, marginDeg = 1.0)
    val inferred = spark.read.parquet(s"$out/a/catalog").schema
    var (loaded, matched) = (null: org.apache.spark.sql.DataFrame, null: org.apache.spark.sql.DataFrame)
    // a fresh handle's first load resolves the catalog tree; a
    // cross-match open resolves both trees of the right catalog too
    assert(jobsDuring { loaded = Catalog(spark, out, "a").load() } == 0)
    assert(jobsDuring { matched = Catalog(spark, out, "a").crossMatch(Catalog(spark, out, "b"), 2, 1.0) } == 0)
    assert(loaded.schema == inferred && loaded.count() == rows.count())
    assert(matched.count() > 0)
    // without the sidecars the schema is inferred, to the same result
    for (tree <- Seq("catalog", "neighbor"); f <- Seq("_common_metadata", "_metadata"))
      new java.io.File(s"$out/a/$tree/$f").delete()
    spark.catalog.refreshByPath(s"$out/a/catalog")
    val fallback = Catalog(spark, out, "a").load()
    assert(fallback.schema == inferred && fallback.count() == rows.count())
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("Catalog.scala builds no join of its own: Spatial.pixelJoin is the one angular candidate join") {
    val f = new java.io.File("src/main/scala/graft/catalog/Catalog.scala")
    assert(f.isFile, s"run from the project root: ${f.getAbsolutePath}")
    val src = scala.io.Source.fromFile(f, "UTF-8")
    val lines = try src.getLines().toList finally src.close()
    val joins = lines.zipWithIndex.collect { case (l, i) if l.contains(".join(") => s"${i + 1}: ${l.trim}" }
    assert(joins.isEmpty, joins.mkString("\n"))
    assert(lines.exists(_.contains("Spatial.pixelJoin(")), "the stored cross-match must join through pixelJoin")
  }

  test("searchCover: a narrow cone covers at orderK, a full-RA dec band stays within ~8192 pixels") {
    val out = java.nio.file.Files.createTempDirectory("graft_cover").toString
    val cat = Catalog.importFrom(li.limit(500), out, "cover", "cra", "cdec", "k", orderK = 8, threshold = 100, marginDeg = 0.1)
    val (narrowOrder, narrow) = cat.searchCover(180.0, 0.0, 0.1)
    assert(narrowOrder == 8)
    assert(narrow.toSeq == graft.healpix.Healpix.queryDiscCover(8, 180.0, 0.0, 0.1).toSeq && narrow.nonEmpty)
    val ((cra, cdec), radius) = graft.operators.Spatial.boxBoundingCone(0.0, 360.0, -10.0, 10.0)
    val (bandOrder, band) = cat.searchCover(cra, cdec, radius)
    assert(bandOrder < 8 && band.length <= 8192 && band.nonEmpty, s"order $bandOrder, ${band.length} pixels")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("spark.read reaches a catalog tree only in the snapshot resolution") {
    // every other read of a tree plans over a resolved snapshot. The
    // exempt readers: the point map as a table (loadHist, for
    // densityMap(); every other histogram read is driver-side) and the
    // resumable import's staged batches (writeResumable)
    val allowed = Map("CatalogLayout.scala" -> Set("resolve", "loadHist"),
      "HipsPartitioner.scala" -> Set("writeResumable"))
    val dir = new java.io.File("src/main/scala/graft/catalog")
    assert(dir.isDirectory, s"run from the project root: ${dir.getAbsolutePath}")
    val member = """^  (?:[\w\[\]]+ )*def (\w+)""".r.unanchored
    val reads = dir.listFiles().filter(_.getName.endsWith(".scala")).toSeq.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toList finally src.close()
      lines.scanLeft(("", "")) {
        case ((cur, _), line @ member(name)) => (name, line)
        case ((cur, _), line) => (cur, line)
      }.tail.collect { case (cur, line) if line.matches(""".*\.read\s*\..*""") => (f.getName, cur, line.trim) }
    }
    assert(reads.exists { case (f, m, _) => f == "CatalogLayout.scala" && m == "resolve" },
      "the snapshot resolution must be found by this scan")
    val hits = reads.filterNot { case (f, m, _) => allowed.get(f).exists(_(m)) }
    assert(hits.isEmpty, hits.mkString("\n"))
    // no main source outside the catalog package names a tree
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val outside = files(new java.io.File("src/main/scala")).filter(f =>
      f.getName.endsWith(".scala") && !f.getPath.contains("graft/catalog/")).filter { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.mkString.matches("(?s).*\\b(catalogTree|neighborTree)\\b.*") finally src.close()
    }
    assert(outside.isEmpty, outside.mkString("\n"))
  }

  test("graft/catalog builds no located file status (listFiles, LocatedFileStatus)") {
    val dir = new java.io.File("src/main/scala/graft/catalog")
    assert(dir.isDirectory, s"run from the project root: ${dir.getAbsolutePath}")
    val hits = dir.listFiles().filter(_.getName.endsWith(".scala")).toSeq.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toList finally src.close()
      lines.zipWithIndex.collect { case (l, i) if l.contains("listFiles(") || l.contains("LocatedFileStatus") =>
        s"${f.getName}:${i + 1}: ${l.trim}" }
    }
    assert(hits.isEmpty, "a located status reads the file's permission, owner and group: on the local FS " +
      "without Hadoop's native library that is one subprocess per file. Walk with listStatus:\n" + hits.mkString("\n"))
  }

  test("ingest path is UDF-free and stays inside WholeStageCodegen") {
    val pm = HipsPartitioner.computePartitionMap(li, "cra", "cdec", orderK = 4, threshold = 500)
    val assignPlan = HipsPartitioner.withPartitionColumns(li, "cra", "cdec", pm)
      .queryExecution.executedPlan.toString
    assert(!assignPlan.contains("UDF"), s"partition assignment must not use a Scala UDF:\n$assignPlan")
    assert(assignPlan.contains("*("), s"assignment must be inside a WholeStageCodegen stage:\n$assignPlan")
    val marginPlan = HipsPartitioner.marginRows(li, "cra", "cdec", pm, marginDeg = 1.0)
      .queryExecution.executedPlan.toString
    assert(!marginPlan.contains("UDF"), s"margin explode must not use a Scala UDF:\n$marginPlan")
  }

  test("margin cache: rows land under foreign pixels within the margin") {
    val pm = HipsPartitioner.computePartitionMap(li, "cra", "cdec", orderK = 4, threshold = 500)
    val margins = HipsPartitioner.marginRows(li, "cra", "cdec", pm, marginDeg = 1.0)
    val own = HipsPartitioner.withPartitionColumns(li, "cra", "cdec", pm)
      .select(col("k"), col("Norder"), col("Npix"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val rows = margins.select("k", "Norder", "Npix").collect()
    assert(rows.nonEmpty, "some rows must fall within 1 deg of a foreign pixel")
    rows.foreach { r =>
      assert(own(r.getLong(0)) != (r.getInt(1), r.getLong(2)), "margin pixel must differ from home pixel")
    }
  }

  test("exactMargin: trims the disc-cover superset to the true boundary band (reduction + band membership)") {
    val pm = HipsPartitioner.computePartitionMap(li, "cra", "cdec", orderK = 4, threshold = 500)
    val margin = 1.0
    def rows(exact: Boolean) =
      HipsPartitioner.marginRows(li, "cra", "cdec", pm, margin, exactMargin = exact)
        .select("k", "cra", "cdec", "Norder", "Npix")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getInt(3), r.getLong(4)))
    val loose = rows(exact = false)
    val tight = rows(exact = true)
    // the exact band is a strict subset at this coarse geometry (the
    // r10 verdict's storage complaint: coarse orders replicate whole
    // covered tiles; a 1-deg band around an order-4 (~7 deg) pixel is
    // a fraction of its area)
    assert(tight.length < loose.length,
      s"exact trim must shrink the margin set: ${tight.length} !< ${loose.length}")
    assert(tight.toSet.subsetOf(loose.toSet), "exact rows must come from the superset")
    // band membership is exactly the distance predicate, both ways
    val tightSet = tight.toSet
    loose.foreach { case t @ (_, ra, dec, o, pix) =>
      val d = graft.healpix.Healpix.distToPixelDeg(o, pix, ra, dec)
      if (tightSet(t)) assert(d <= margin + 1e-3, s"kept row at dist $d > $margin: $t")
      else assert(d > margin - 1e-3, s"dropped row at dist $d <= $margin: $t")
    }

    // append and repartition keep the import's margin policy (recorded
    // in the meta): the stored neighbor tree of an exactMargin import
    // grown 4x by an append is exactly the trimmed band of every row
    // under the frozen map, and stays inside the band after the re-split
    val out = java.nio.file.Files.createTempDirectory("graft_exactappend").toString
    val first = li.filter(col("k") % 4 === 0)
    val band = Catalog.importFrom(first, out, "band", "cra", "cdec", "k", orderK = 4, threshold = 500,
      marginDeg = margin, exactMargin = true)
      .append(li.filter(col("k") % 4 =!= 0))
    // hive partition inference reads small Npix back as int
    def stored() = spark.read.parquet(CatalogLayout(out, "band").neighborTree)
      .select(col("k"), col("cra"), col("cdec"), col("Norder"), col("Npix").cast("long"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getInt(3), r.getLong(4)))
    val frozen = HipsPartitioner.computePartitionMap(first, "cra", "cdec", orderK = 4, threshold = 500)
    val expected = HipsPartitioner.marginRows(li, "cra", "cdec", frozen, margin, exactMargin = true)
      .select("k", "cra", "cdec", "Norder", "Npix")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getInt(3), r.getLong(4)))
    assert(stored().sorted.toSeq == expected.sorted.toSeq,
      "appended neighbor rows must be trimmed like the import's")
    band.repartition()
    stored().foreach { case t @ (_, ra, dec, o, pix) =>
      val d = graft.healpix.Healpix.distToPixelDeg(o, pix, ra, dec)
      assert(d <= margin + 1e-3, s"repartitioned neighbor row at dist $d > $margin: $t")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("CatalogMeta: exponent-aware round trip; older metas read exact_margin as false; a missing key is named") {
    import graft.catalog.{CatalogLayout, CatalogMeta}
    import java.nio.file.{Files, Paths}
    val out = Files.createTempDirectory("graft_meta").toString
    val layout = CatalogLayout(out, "m")
    val m = CatalogMeta("m", "ra", "dec", "id", pixThreshold = 500L, orderK = 7, marginDeg = 1.0 / 3600,
      exactMargin = true, nSources = 1234L, hips = Map(0 -> Seq(3L, 5L), 6 -> Seq(40000L)))
    layout.writeMeta(spark, m)
    assert(Files.readString(Paths.get(layout.metaPath)).contains("\"margin_deg\": 2.777777777777778E-4"))
    assert(layout.readMeta(spark) == m)

    // the format written before `exact_margin` was recorded (fresh
    // files: rewriting m's meta behind the Hadoop checksum would not read)
    def hand(cat: String, json: String): CatalogLayout = {
      val l = CatalogLayout(out, cat)
      Files.createDirectories(Paths.get(l.root))
      Files.writeString(Paths.get(l.metaPath), json)
      l
    }
    val older =
      """{"cat_name": "m", "ra_kw": "ra", "dec_kw": "dec", "id_kw": "id",
        | "n_sources": 1234, "pix_threshold": 500, "order_k": 7,
        | "margin_deg": 2.777777777777778E-4, "hips": {"0": [3,5],"6": [40000]}}""".stripMargin
    assert(hand("older", older).readMeta(spark) == m.copy(exactMargin = false))

    val e = intercept[IllegalArgumentException](
      hand("noorder", older.replace(""" "order_k": 7,""", "")).readMeta(spark))
    assert(e.getMessage.contains("order_k"), e.getMessage)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("exactMargin: polar stored cross-match still equals brute force with trimming on") {
    // the adversarial polar/seam geometry of the parity test above,
    // imported with exactMargin = true on both sides — trimming must
    // never lose a margin row a k-NN within dthresh needs
    // (marginDeg >= dthresh is the documented contract)
    import spark.implicits._
    val dthresh = 0.15
    def wrap(ra: Double): Double = (ra % 360.0 + 360.0) % 360.0
    val left = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    var id = 5000L
    for (sign <- Seq(1, -1); (dec, step) <- Seq((88.5, 30), (89.95, 90)); ra <- 0 until 360 by step) {
      left += ((id, ra.toDouble, sign * dec)); id += 1
    }
    for (dec <- Seq(-45.0, 0.0, 45.0); ra <- Seq(359.95, 0.02)) { left += ((id, ra, dec)); id += 1 }
    val right = left.map { case (i, ra, dec) => (i + 100000L, wrap(ra + 0.08), dec) }
    val lDf = left.toSeq.toDF("lid", "lra", "ldec")
    val rDf = right.toSeq.toDF("rid", "rra", "rdec")
    val out = java.nio.file.Files.createTempDirectory("graft_exactm").toString
    val pl = Catalog.importFrom(lDf, out, "pl", "lra", "ldec", "lid", orderK = 4, threshold = 4,
      marginDeg = 0.2, exactMargin = true)
    val pr = Catalog.importFrom(rDf, out, "pr", "rra", "rdec", "rid", orderK = 4, threshold = 4,
      marginDeg = 0.2, exactMargin = true)
    val brute = lDf.crossJoin(rDf)
      .withColumn("d", sphere.gcDist(col("lra"), col("ldec"), col("rra"), col("rdec")))
      .filter(col("d") < dthresh)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val stored = pl.crossMatch(pr, 10, dthresh)
      .select("`pl.lid`", "`pr.rid`").as[(Long, Long)].collect().toSet
    assert(stored == brute,
      s"exact-margin stored cross-match lost ${(brute -- stored).size} matches " +
        s"(extra: ${(stored -- brute).size})")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }
}
