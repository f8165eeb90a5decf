package graft

import graft.healpix.Healpix
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import scala.math.{asin, toDegrees}

class HealpixSpec extends AnyFunSuite {
  import SkyGen.offset

  private def rng(seed: Long) = new scala.util.Random(seed)

  test("bit interleave roundtrip") {
    val r = rng(1)
    (0 until 1000).foreach { _ =>
      val v = r.nextLong() & 0x1fffffffL
      assert(Healpix.compressBits(Healpix.spreadBits(v)) == v)
    }
  }

  test("ang2pix produces valid pixel ids at all orders") {
    val r = rng(2)
    (0 to 20).foreach { o =>
      (0 until 200).foreach { _ =>
        val ra = r.nextDouble() * 360.0
        val dec = r.nextDouble() * 180.0 - 90.0
        val p = Healpix.ang2pixNest(o, ra, dec)
        assert(p >= 0 && p < Healpix.npix(o), s"order=$o ra=$ra dec=$dec pix=$p")
      }
    }
  }

  test("golden-value parity: ang2pix/pix2ang match an independent NEST implementation") {
    // 1836 (order, ra, dec, pix, center_ra, center_dec) rows generated
    // by an independent Python implementation of the canonical NEST
    // algorithm (Gorski et al. 2005 / healpy ang2pix_nest equations:
    // z/tt regions, jp/jm diagonals, bit interleave) — written from
    // the published equations, not from this repo's Scala, so a
    // mirrored-axis or face-numbering bug in either implementation
    // fails the compare. Covers all 12 faces, both polar caps, the
    // equatorial belt, seam longitudes (45/90/180/270, +-0.1 deg) and
    // near-pole latitudes at orders 0, 1, 3, 7, 14, 20.
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/healpix_golden.csv"))
    val rows = try src.getLines().toArray finally src.close()
    assert(rows.length > 1800)
    rows.foreach { line =>
      val a = line.split(",")
      val (o, ra, dec, pix) = (a(0).toInt, a(1).toDouble, a(2).toDouble, a(3).toLong)
      val (cra, cdec) = (a(4).toDouble, a(5).toDouble)
      assert(Healpix.ang2pixNest(o, ra, dec) == pix,
        s"ang2pix mismatch: order=$o ra=$ra dec=$dec want=$pix got=${Healpix.ang2pixNest(o, ra, dec)}")
      val (gra, gdec) = Healpix.pix2angNest(o, pix)
      assert(math.abs(gra - cra) < 1e-9 || math.abs(math.abs(gra - cra) - 360.0) < 1e-9,
        s"pix2ang ra mismatch: order=$o pix=$pix want=$cra got=$gra")
      assert(math.abs(gdec - cdec) < 1e-9,
        s"pix2ang dec mismatch: order=$o pix=$pix want=$cdec got=$gdec")
    }
  }

  test("RING scheme: nest2ring matches an independent center-sort derivation; bijective; golden round trip") {
    // Independent derivation of the RING numbering at orders 0-3:
    // RING ids walk rings north -> south, within a ring by increasing
    // longitude. Pixel centers come from the golden-pinned
    // pix2angNest, so sorting every NEST pixel by (dec desc, ra asc)
    // and ranking MUST reproduce nest2ring exactly — no transcribed
    // tables on either side. (Centers in one ring share a bit-equal
    // dec: pix2angNest computes z from the ring index alone.)
    for (o <- 0 to 3) {
      val np = Healpix.npix(o)
      val byCenter = (0L until np).sortBy { p =>
        val (ra, dec) = Healpix.pix2angNest(o, p); (-dec, ra)
      }
      byCenter.zipWithIndex.foreach { case (nest, ringId) =>
        assert(Healpix.nest2ring(o, nest) == ringId,
          s"order=$o nest=$nest want ring=$ringId got=${Healpix.nest2ring(o, nest)}")
        assert(Healpix.ring2nest(o, ringId) == nest,
          s"order=$o ring=$ringId want nest=$nest got=${Healpix.ring2nest(o, ringId)}")
      }
    }
    // golden set round trip at high orders (up to 20): the maps are
    // mutual inverses and pix2ang through the round trip is identical
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/healpix_golden.csv"))
    val rows = try src.getLines().toArray finally src.close()
    rows.foreach { line =>
      val a = line.split(",")
      val (o, pix) = (a(0).toInt, a(3).toLong)
      val ring = Healpix.nest2ring(o, pix)
      assert(ring >= 0 && ring < Healpix.npix(o), s"order=$o pix=$pix ring=$ring")
      assert(Healpix.ring2nest(o, ring) == pix,
        s"round trip: order=$o nest=$pix ring=$ring got=${Healpix.ring2nest(o, ring)}")
      assert(Healpix.pix2angNest(o, Healpix.ring2nest(o, ring)) == Healpix.pix2angNest(o, pix))
    }
  }

  test("nested hierarchy: pix(k) >> 2 == pix(k-1)") {
    val r = rng(3)
    (1 to 20).foreach { o =>
      (0 until 300).foreach { _ =>
        val ra = r.nextDouble() * 360.0
        val dec = r.nextDouble() * 180.0 - 90.0
        val fine = Healpix.ang2pixNest(o, ra, dec)
        val coarse = Healpix.ang2pixNest(o - 1, ra, dec)
        assert(fine >> 2 == coarse, s"order=$o ra=$ra dec=$dec")
      }
    }
  }

  test("pix2ang center maps back to the same pixel (roundtrip)") {
    val r = rng(4)
    (0 to 12).foreach { o =>
      (0 until 300).foreach { _ =>
        val p = (r.nextDouble() * Healpix.npix(o)).toLong
        val (ra, dec) = Healpix.pix2angNest(o, p)
        assert(ra >= 0 && ra < 360 && dec >= -90 && dec <= 90)
        assert(Healpix.ang2pixNest(o, ra, dec) == p, s"order=$o pix=$p center=($ra,$dec)")
      }
    }
  }

  test("order-0 face assignment: pixel of its own face center") {
    (0 until 12).foreach { f =>
      val (ra, dec) = Healpix.pix2angNest(0, f.toLong)
      assert(Healpix.ang2pixNest(0, ra, dec) == f.toLong)
    }
  }

  test("pixel sizes: every point is within maxPixRad of its pixel center") {
    val r = rng(5)
    (0 to 10).foreach { o =>
      val bound = math.toDegrees(Healpix.maxPixRad(o))
      (0 until 500).foreach { _ =>
        val ra = r.nextDouble() * 360.0
        val dec = math.toDegrees(math.asin(r.nextDouble() * 2 - 1)) // uniform on sphere
        val p = Healpix.ang2pixNest(o, ra, dec)
        val (cra, cdec) = Healpix.pix2angNest(o, p)
        val d = Healpix.gcDistDeg(ra, dec, cra, cdec)
        assert(d <= bound, s"order=$o d=$d bound=$bound ra=$ra dec=$dec")
      }
    }
  }

  test("queryDiscCover is a superset of pixels containing in-disc points") {
    val r = rng(6)
    (0 until 40).foreach { _ =>
      val cra = r.nextDouble() * 360.0
      val cdec = math.toDegrees(math.asin(r.nextDouble() * 2 - 1))
      val radius = 0.2 + r.nextDouble() * 25.0
      val order = 1 + r.nextInt(6)
      val cover = Healpix.queryDiscCover(order, cra, cdec, radius).toSet
      // sample points inside the disc; their pixels must be in the cover
      (0 until 200).foreach { _ =>
        // rejection-sample a point within the disc (in a small patch)
        val t = r.nextDouble() * 2 * math.Pi
        val rr = radius * math.sqrt(r.nextDouble())
        val dec = math.max(-89.9, math.min(89.9, cdec + rr * math.sin(t)))
        val ra = cra + rr * math.cos(t) / math.max(0.05, math.cos(math.toRadians(dec)))
        if (Healpix.gcDistDeg(cra, cdec, ra, dec) <= radius) {
          val p = Healpix.ang2pixNest(order, ra, dec)
          assert(cover.contains(p),
            s"pix $p (order $order) of in-disc point ($ra,$dec) missing from cover of ($cra,$cdec,r=$radius)")
        }
      }
    }
  }

  test("gcDist: zero on identical points, symmetric, known values") {
    assert(Healpix.gcDistDeg(10, 20, 10, 20) == 0.0)
    assert(math.abs(Healpix.gcDistDeg(0, 0, 90, 0) - 90.0) < 1e-9)
    assert(math.abs(Healpix.gcDistDeg(0, -45, 0, 45) - 90.0) < 1e-9)
    assert(math.abs(Healpix.gcDistDeg(0, 90, 180, 90)) < 1e-9) // both at pole
    val a = Healpix.gcDistDeg(12.3, 45.6, 78.9, -12.3)
    val b = Healpix.gcDistDeg(78.9, -12.3, 12.3, 45.6)
    assert(math.abs(a - b) < 1e-12)
  }

  test("order 29 (max): roundtrip at the long-id boundary") {
    val r = rng(7)
    (0 until 200).foreach { _ =>
      val ra = r.nextDouble() * 360.0
      val dec = math.toDegrees(math.asin(r.nextDouble() * 2 - 1))
      val p = Healpix.ang2pixNest(29, ra, dec)
      assert(p >= 0 && p < Healpix.npix(29))
      assert(p >> 2 == Healpix.ang2pixNest(28, ra, dec))
      // pixel centers at order 29 are within a fraction of an arcsec
      val (cra, cdec) = Healpix.pix2angNest(29, p)
      assert(Healpix.gcDistDeg(ra, dec, cra, cdec) < 2e-4)
    }
  }

  test("full-sky disc cover returns all pixels") {
    val cover = Healpix.queryDiscCover(3, 0, 0, 181.0)
    assert(cover.length == Healpix.npix(3))
  }

  test("distToPixelDeg: zero inside, brute-force boundary parity, polar pixels included") {
    val r = rng(11)
    // brute force: min distance to order-(k+7) subpixel CENTERS of the
    // pixel — an upper bound on the true distance, within one fine
    // circumradius of it
    def brute(order: Int, pix: Long, ra: Double, dec: Double): Double = {
      val d = 7
      val n = 1L << (2 * d)
      var best = Double.MaxValue
      var i = 0L
      while (i < n) {
        val (cra, cdec) = Healpix.pix2angNest(order + d, (pix << (2 * d)) + i)
        best = math.min(best, Healpix.gcDistDeg(ra, dec, cra, cdec))
        i += 1
      }
      best
    }
    val cases = Seq(
      (2, 0L), (2, 47L),                                // mid-latitudes
      (4, Healpix.ang2pixNest(4, 10.0, 89.9)),          // north polar cap
      (4, Healpix.ang2pixNest(4, 200.0, -89.9)),        // south polar cap
      (3, Healpix.ang2pixNest(3, 359.9, 0.0)))          // RA seam
    for ((order, pix) <- cases) {
      val (cra, cdec) = Healpix.pix2angNest(order, pix)
      assert(Healpix.distToPixelDeg(order, pix, cra, cdec) == 0.0, "center is inside")
      val tol = math.toDegrees(Healpix.maxPixRad(order + 7)) + 2e-4
      (0 until 20).foreach { _ =>
        // random points within a few pixel radii of the center
        val pr = math.toDegrees(Healpix.maxPixRad(order))
        val ra = cra + (r.nextDouble() * 6 - 3) * pr
        val dec = math.max(-89.999, math.min(89.999, cdec + (r.nextDouble() * 6 - 3) * pr))
        val fast = Healpix.distToPixelDeg(order, pix, ra, dec)
        val slow = brute(order, pix, ra, dec)
        // fast <= true distance + eps; slow >= true distance; slow - fast <= fine circumradius
        assert(fast <= slow + 2e-4, s"fast $fast above brute bound $slow at ($ra,$dec) o$order p$pix")
        assert(slow - fast <= tol, s"fast $fast too far below brute $slow at ($ra,$dec) o$order p$pix")
      }
    }
  }

  /** The cover descent from the 12 base pixels at every radius: the
   *  reference the small-radius start must contain. */
  private def baseDescentCover(order: Int, ra: Double, dec: Double, radius: Double): Set[Long] = {
    var frontier: Seq[Long] = 0L until 12L
    var o = 0
    while (true) {
      val bound = radius + toDegrees(Healpix.maxPixRad(o))
      val keep = frontier.filter { p =>
        val (cra, cdec) = Healpix.pix2angNest(o, p)
        Healpix.gcDistDeg(ra, dec, cra, cdec) <= bound
      }
      if (o == order) return keep.toSet
      frontier = keep.flatMap(p => (0L until 4L).map(4 * p + _))
      o += 1
    }
    Set.empty
  }

  test("queryDiscCover's small-radius start contains the base-pixel descent and every in-disc point's pixel") {
    // base-pixel vertices: vertices at every order, where three or four
    // faces meet; (0, 41.8) also sits on the RA seam
    val corners = Seq((0.0, 90.0), (0.0, -90.0), (45.0, 0.0), (135.0, 0.0), (225.0, 0.0), (315.0, 0.0)) ++
      Seq(0.0, 90.0, 180.0, 270.0).flatMap(ra => Seq((ra, 41.8103149), (ra, -41.8103149)))
    val centre: Gen[(Double, Double)] = Gen.frequency(
      3 -> (for (ra <- Gen.choose(0.0, 359.999999); z <- Gen.choose(-1.0, 1.0)) yield (ra, toDegrees(asin(z)))),
      2 -> (for (ra <- Gen.choose(0.0, 359.999999); dec <- Gen.choose(85.0, 90.0); sg <- Gen.oneOf(1.0, -1.0))
        yield (ra, sg * dec)),
      2 -> (for (ra <- Gen.choose(-0.01, 0.01); dec <- Gen.choose(-89.0, 89.0)) yield ((ra + 360.0) % 360.0, dec)),
      3 -> (for (c <- Gen.oneOf(corners); e <- Gen.choose(-7, -1); d <- Gen.choose(0.0, 1.0); b <- Gen.choose(0.0, 360.0))
        yield offset(c._1, c._2, d * math.pow(10, e), b)))
    // radii around each order's pixel size, so the start order lands
    // anywhere from the base pixels to `order` itself
    val disc: Gen[(Int, (Double, Double), Double)] = for {
      order <- Gen.choose(0, 18)
      c <- centre
      f <- Gen.frequency(4 -> Gen.choose(0.001, 0.3), 2 -> Gen.choose(0.3, 3.0), 1 -> Gen.const(0.0))
      up <- Gen.choose(0, 3)
    } yield (order, c, f * toDegrees(Healpix.maxPixRad(math.max(0, order - up))))
    var seed = Seed(20261020L)
    var fastStarts = 0
    for (_ <- 0 until 3000) {
      val (order, (ra, dec), radius) = disc.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val cover = Healpix.queryDiscCover(order, ra, dec, radius)
      val coverSet = cover.toSet
      assert(cover.toSeq == cover.sorted.toSeq && coverSet.size == cover.length, s"($order, $ra, $dec, $radius)")
      val old = baseDescentCover(order, ra, dec, radius)
      assert(old.subsetOf(coverSet), s"($order, $ra, $dec, $radius): missing ${old -- coverSet}")
      if (order >= 3 && toDegrees(Healpix.maxPixRad(2)) >= 8 * radius) fastStarts += 1
      for (i <- 0 until 24) {
        val d = if (i < 4) radius * (1 - 1e-9) else radius * math.sqrt(seed.double._1)
        seed = seed.next
        val (pra, pdec) = offset(ra, dec, d, i * 15.0 + seed.double._1 * 15.0)
        seed = seed.next
        if (Healpix.gcDistDeg(ra, dec, pra, pdec) <= radius) {
          val p = Healpix.ang2pixNest(order, pra, pdec)
          assert(coverSet.contains(p), s"($order, $ra, $dec, $radius): in-disc ($pra, $pdec) in pixel $p")
        }
      }
    }
    assert(fastStarts > 1500, s"only $fastStarts discs took the small-radius start")
  }
}
