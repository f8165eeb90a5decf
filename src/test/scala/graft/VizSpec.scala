package graft

import org.apache.spark.sql.functions._

import graft.functions.sphere
import graft.healpix.Healpix
import graft.viz.Mollweide

class VizSpec extends SparkSpecBase {

  test("inverse Mollweide: center, quadrant meridians, ellipse boundary") {
    // center of the plot = (ra 0, dec 0)
    val Some((ra0, dec0)) = graft.viz.MollweideTestAccess.invert(0.0, 0.0)
    assert(math.abs(ra0) < 1e-9 && math.abs(dec0) < 1e-9)
    // astro convention: ra grows LEFTWARD — px=+1 on the equator is ra 270
    val Some((raR, _)) = graft.viz.MollweideTestAccess.invert(1.0, 0.0)
    assert(math.abs(raR - 270.0) < 1e-9)
    val Some((raL, _)) = graft.viz.MollweideTestAccess.invert(-1.0, 0.0)
    assert(math.abs(raL - 90.0) < 1e-9)
    // top of the ellipse is the north pole
    val Some((_, decTop)) = graft.viz.MollweideTestAccess.invert(0.0, 0.9999999)
    assert(decTop > 89.0)
    // outside the ellipse: no sky
    assert(graft.viz.MollweideTestAccess.invert(2.0, 1.0).isEmpty)
    assert(graft.viz.MollweideTestAccess.invert(1.9, 0.9).isEmpty)
  }

  test("render probes: known pixel colors, background corners, PNG round trip") {
    // order-0 map: value = pixel id, vmax = 11
    val img = Mollweide.render(0, p => p.toDouble, width = 200, height = 100,
      vmin = 0.0, vmax = 11.0)
    assert(img.getWidth == 200 && img.getHeight == 100)
    // corners are outside the ellipse
    assert(img.getRGB(0, 0) == 0xff202020 && img.getRGB(199, 99) == 0xff202020)
    // center of the image: the pixel covering (ra 0, dec 0)
    val centerPix = Healpix.ang2pixNest(0, 0.0, 0.0)
    val expected = graft.viz.MollweideTestAccess.ramp(centerPix.toDouble / 11.0)
    assert(img.getRGB(100, 50) == expected)
    // PNG bytes decode back to the identical raster
    val decoded = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Mollweide.pngBytes(img)))
    assert(decoded.getRGB(100, 50) == img.getRGB(100, 50))
    assert(decoded.getRGB(0, 0) == img.getRGB(0, 0))
  }

  test("cone view paints the disc cover at full ramp scale") {
    // density: one populated pixel far from the cone; cone at (ra 0, dec 0)
    val firPix = Healpix.ang2pixNest(3, 180.0, 45.0)
    val img = Mollweide.coneSearch(3, Array(firPix), Array(99L),
      raDeg = 0.0, decDeg = 0.0, radiusDeg = 15.0, width = 400, height = 200)
    // image center sits inside the cone -> exactly the ramp top
    assert(img.getRGB(200, 100) == graft.viz.MollweideTestAccess.ramp(1.0))
    // sky with neither data nor beam must be the noData gray, NOT
    // ramp(0) — pins the boxed-HashMap null handling (a bare
    // java.util.HashMap[Long, Double].get would unbox null to 0.0)
    assert(img.getRGB(200, 197) == 0xff3a3a3a)
  }

  test("cross-match view: tile lookup walks the adaptive orders, max tile at ramp top") {
    // one coarse tile (order 1) holding the max count, one fine tile
    // (order 2) with a smaller count — the renderer must resolve each
    // sky position through the MIXED-order key set. Tiles are derived
    // from the EXACT inverse projection of the probed image pixels so
    // HEALPix boundary assignment cannot flip the expectation.
    def skyAt(x: Int, y: Int): (Double, Double) = {
      val px = 4.0 * (x + 0.5) / 400 - 2.0
      val py = 1.0 - 2.0 * (y + 0.5) / 200
      graft.viz.MollweideTestAccess.invert(px, py).get
    }
    val (raC, decC) = skyAt(200, 100) // image center ~ (ra 0, dec 0)
    val (raF, decF) = skyAt(100, 100) // ~ (ra 90, dec 0)
    val coarse = Healpix.ang2pixNest(1, raC, decC)
    val fine = Healpix.ang2pixNest(2, raF, decF)
    assume(Healpix.ang2pixNest(1, raF, decF) != coarse, "probe points must land in distinct coarse tiles")
    val img = Mollweide.crossMatch(2,
      Array(1, 2), Array(coarse, fine), Array(99L, 9L), width = 400, height = 200)
    // the coarse tile holds the log-max -> ramp top
    assert(img.getRGB(200, 100) == graft.viz.MollweideTestAccess.ramp(1.0))
    // the fine tile: log10(10)/log10(100) = 0.5 up the ramp
    assert(img.getRGB(100, 100) == graft.viz.MollweideTestAccess.ramp(0.5))
    // south pole: no tile -> noData gray
    assert(img.getRGB(200, 197) == 0xff3a3a3a)
  }

  test("visualizeCrossMatch renders match density from two real imports; CLI viz xmatch writes the PNG") {
    val out = java.nio.file.Files.createTempDirectory("graft_vxm").toString
    val cust = spark.read.parquet(sf("sf0.001") + "/customer.parquet")
      .withColumn("cra", sphere.raOf(col("c_custkey")))
      .withColumn("cdec", sphere.decOf(col("c_custkey")))
    val supp = spark.read.parquet(sf("sf0.001") + "/supplier.parquet")
      .withColumn("sra", sphere.raOf(col("s_suppkey")))
      .withColumn("sdec", sphere.decOf(col("s_suppkey")))
    val c1 = graft.catalog.Catalog.importFrom(cust, out, "cust", "cra", "cdec", "c_custkey",
      orderK = 2, threshold = 100, marginDeg = 12.0)
    val c2 = graft.catalog.Catalog.importFrom(supp, out, "supp", "sra", "sdec", "s_suppkey",
      orderK = 2, threshold = 100, marginDeg = 12.0)

    val img = c1.visualizeCrossMatch(c2, nNeighbors = 2, dthreshDeg = 10.0,
      width = 240, height = 120)
    val colors = (for (x <- 0 until 240; y <- 0 until 120) yield img.getRGB(x, y)).toSet
    assert(colors.contains(0xff202020) && colors.size > 2,
      s"xmatch view should show matched tiles: ${colors.size} distinct colors")
    // the densest matched tile renders at exactly the ramp top
    assert(colors.contains(graft.viz.MollweideTestAccess.ramp(1.0)))

    val png = s"$out/xm.png"
    Cli.parse(Array("viz", "xmatch", out, "cust", "supp", png, "2", "10.0")) match {
      case Right(action) => action(spark)
      case Left(msg) => fail(msg)
    }
    val decoded = javax.imageio.ImageIO.read(new java.io.File(png))
    assert(decoded.getWidth == 800 && decoded.getHeight == 400)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("catalog visualizations render from a real import; CLI viz writes the PNG") {
    val out = java.nio.file.Files.createTempDirectory("graft_viz").toString
    val cust = spark.read.parquet(sf("sf0.001") + "/customer.parquet")
      .withColumn("cra", sphere.raOf(col("c_custkey")))
      .withColumn("cdec", sphere.decOf(col("c_custkey")))
    val cat = graft.catalog.Catalog.importFrom(cust, out, "cust", "cra", "cdec", "c_custkey",
      orderK = 2, threshold = 100, marginDeg = 12.0)

    val src = cat.visualizeSources(width = 240, height = 120)
    val colors = (for (x <- 0 until 240; y <- 0 until 120) yield src.getRGB(x, y)).toSet
    // background + no-data + at least one data color
    assert(colors.contains(0xff202020) && colors.size > 2,
      s"sources view should show data: ${colors.size} distinct colors")

    val parts = cat.visualizePartitions(width = 240, height = 120)
    val pcolors = (for (x <- 0 until 240; y <- 0 until 120) yield parts.getRGB(x, y)).toSet
    assert(pcolors.size > 2, "partitions view should show occupied partitions")

    val cone = cat.visualizeConeSearch(180.0, 0.0, 30.0, width = 240, height = 120)
    assert((for (x <- 0 until 240; y <- 0 until 120) yield cone.getRGB(x, y))
      .contains(graft.viz.MollweideTestAccess.ramp(1.0)), "cone beam must reach ramp top")

    // CLI dispatch end-to-end for the viz path
    val png = s"$out/sources.png"
    Cli.parse(Array("viz", "sources", out, "cust", png)) match {
      case Right(action) => action(spark)
      case Left(msg) => fail(msg)
    }
    val decoded = javax.imageio.ImageIO.read(new java.io.File(png))
    assert(decoded.getWidth == 800 && decoded.getHeight == 400)
  }

  test("CLI plan writes the formatted initial plan and the AQE-final executed plan") {
    val out = java.nio.file.Files.createTempDirectory("cli_plan")
    Cli.parse(Array("plan", "q1_agg,q_fof", sf("sf0.001"), out.toString, "t")) match {
      case Right(action) => action(spark)
      case Left(msg) => fail(msg)
    }
    for (q <- Seq("q1_agg", "q_fof")) {
      val text = java.nio.file.Files.readString(out.resolve(s"${q}_t.txt"))
      assert(text.contains(s"===== $q (explain formatted) =====") &&
        text.contains(s"===== $q (executed plan after action, AQE final) ====="), text)
      assert(text.contains("AdaptiveSparkPlan isFinalPlan=true"), s"$q: the executed plan must be AQE's final")
    }
  }

  test("CLI parse: dispatch table and error surface") {
    assert(Cli.parse(Array.empty).isLeft)
    assert(Cli.parse(Array("bogus")).isLeft)
    assert(Cli.parse(Array("query", "no_such_query", "/tmp")).isLeft)
    assert(Cli.parse(Array("query", "q1_agg", "/tmp")).isRight)
    assert(Cli.parse(Array("plan", "q1_agg", "/tmp", "/tmp/plans", "x")).isRight)
    assert(Cli.parse(Array("plan", "q1_agg,no_such_query", "/tmp", "/tmp/plans", "x")).isLeft)
    assert(Cli.parse(Array("list")).isRight)
    assert(Cli.parse(Array("cone", "/tmp", "c", "1.0", "2.0", "3.0")).isRight)
    assert(Cli.parse(Array("import", "a.parquet", "/tmp", "c", "ra", "dec", "id")).isRight)
    assert(Cli.parse(Array("import", "a.parquet", "/tmp", "c", "ra", "dec", "id", "4", "500")).isRight)
    assert(Cli.parse(Array("import", "a.parquet", "/tmp", "c", "ra", "dec", "id", "4", "500", "x")).isLeft)
    assert(Cli.parse(Array("import", "a.parquet", "/tmp", "c", "ra", "dec", "id", "notanum")).isLeft)
    assert(Cli.parse(Array("cone", "/tmp", "c", "1.0", "2.0", "wide")).isLeft)
    // the search/match surfaces added alongside viz xmatch
    assert(Cli.parse(Array("box", "/tmp", "c", "10", "20", "-5", "5")).isRight)
    assert(Cli.parse(Array("box", "/tmp", "c", "10", "20", "-5")).isLeft)
    assert(Cli.parse(Array("box", "/tmp", "c", "10", "20", "-5", "high")).isLeft)
    assert(Cli.parse(Array("polygon", "/tmp", "c", "0", "0", "10", "0", "5", "8")).isRight)
    assert(Cli.parse(Array("polygon", "/tmp", "c", "0", "0", "10", "0", "5")).isLeft, "odd coord count")
    assert(Cli.parse(Array("polygon", "/tmp", "c", "0", "0", "10", "0")).isLeft, "< 3 vertices")
    assert(Cli.parse(Array("polygon", "/tmp", "c", "0", "0", "10", "0", "5", "east")).isLeft)
    assert(Cli.parse(Array("xmatch", "/tmp", "a", "b")).isRight)
    assert(Cli.parse(Array("xmatch", "/tmp", "a", "b", "3", "0.5")).isRight)
    assert(Cli.parse(Array("xmatch", "/tmp", "a", "b", "three")).isLeft)
    assert(Cli.parse(Array("xmatch", "/tmp", "a", "b", "3", "0.5", "x")).isLeft)
    assert(Cli.parse(Array("viz", "xmatch", "/tmp", "a", "b", "o.png")).isRight)
    assert(Cli.parse(Array("viz", "xmatch", "/tmp", "a", "b", "o.png", "2", "1.0")).isRight)
    assert(Cli.parse(Array("viz", "xmatch", "/tmp", "a", "b", "o.png", "two")).isLeft)
    assert(Cli.parse(Array("viz", "xmatch", "/tmp", "a", "b")).isLeft,
      "malformed viz xmatch must be usage, not a runtime throw from the generic viz case")
    // generic viz kinds validate eagerly too: bad kind, bad arity, bad number
    assert(Cli.parse(Array("viz", "bogus", "/tmp", "c", "o.png")).isLeft)
    assert(Cli.parse(Array("viz", "sources", "/tmp", "c", "o.png", "extra")).isLeft)
    assert(Cli.parse(Array("viz", "cone", "/tmp", "c", "o.png", "1.0", "2.0", "wide")).isLeft)
    assert(Cli.parse(Array("viz", "cone", "/tmp", "c", "o.png", "1.0", "2.0")).isLeft)
    assert(Cli.parse(Array("viz", "cone", "/tmp", "c", "o.png", "1.0", "2.0", "3.0")).isRight)
  }
}
