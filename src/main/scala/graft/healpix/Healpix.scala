package graft.healpix

/**
 * Pure-Scala / JVM implementation of the HEALPix NEST pixelization
 * (Górski et al. 2005, ApJ 622, 759 — the standard public algorithm).
 *
 * Provides exactly the primitives the engine needs:
 *  - ang2pixNest / pix2angNest (pixel centers)
 *  - nested hierarchy arithmetic (parent = pix >> 2*dk)
 *  - maxPixRad: conservative circumradius of any pixel at an order
 *  - queryDiscCover: a conservative (superset) list of pixels at an
 *    order intersecting a small disc, via hierarchical descent. Used
 *    for cone-search partition pruning and cross-match margin
 *    assignment; correctness only requires the cover to be a
 *    superset, the engine always applies an exact distance filter
 *    afterwards.
 *
 * Reference behavior being re-expressed (not copied): healpy
 * ang2pix/query_disc usage in /root/reference/hipscat/util.py:24,
 * catalog.py:93-97, and the margin logic of margin_utils.py.
 *
 * All functions are static (object methods with static forwarders) so
 * Catalyst-generated Java code can call them directly.
 */
object Healpix {

  /** Max supported order: 29 (pixel ids fit in a signed Long). */
  final val MaxOrder = 29

  // ---- bit interleaving (z-order curve within a face) ----

  /** Spread the lower 32 bits of v so bit i lands at position 2i. */
  def spreadBits(v: Long): Long = {
    var x = v & 0xffffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** Inverse of spreadBits: collect bits at even positions. */
  def compressBits(v: Long): Long = {
    var x = v & 0x5555555555555555L
    x = (x | (x >>> 1)) & 0x3333333333333333L
    x = (x | (x >>> 2)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x >>> 4)) & 0x00ff00ff00ff00ffL
    x = (x | (x >>> 8)) & 0x0000ffff0000ffffL
    x = (x | (x >>> 16)) & 0x00000000ffffffffL
    x
  }

  @inline def nside(order: Int): Long = 1L << order
  @inline def npix(order: Int): Long = 12L * (1L << (2 * order))

  /** (face, ix, iy) -> NEST pixel id. */
  def xyf2nest(ix: Long, iy: Long, face: Int, order: Int): Long =
    (face.toLong << (2 * order)) | spreadBits(ix) | (spreadBits(iy) << 1)

  /** NEST pixel id -> (ix, iy, face). */
  def nest2xyf(pix: Long, order: Int): (Long, Long, Int) = {
    val face = (pix >>> (2 * order)).toInt
    val xy = pix & ((1L << (2 * order)) - 1)
    val ix = compressBits(xy)
    val iy = compressBits(xy >>> 1)
    (ix, iy, face)
  }

  /**
   * HEALPix NEST ang2pix. ra/dec in degrees (lonlat convention, as
   * healpy's `lonlat=True` used throughout the reference).
   */
  // the healpy lonlat=True float pipeline, replicated operation by
  // operation (lonlat2thetaphi + healpix_cxx ang2pix_z_phi): theta =
  // pi/2 - lat*(pi/180), z = cos(theta), tt = fmod(phi*2/pi, 4). A
  // point EXACTLY on a pixel boundary (dec = 0, seam longitudes)
  // lands on the same side as the reference only if every rounding
  // matches — e.g. sin(radians(dec)) gives z = +0.0 at dec = 0 where
  // cos(pi/2 - 0) gives 6.1e-17, which flips order-1 pixel 19 to 17.
  // Golden-value parity (HealpixSpec) pins this against an
  // independent implementation of the same published pipeline.
  private val Deg2Rad = math.Pi / 180.0
  private val InvHalfPi = 2.0 / math.Pi

  def ang2pixNest(order: Int, raDeg: Double, decDeg: Double): Long = {
    val ns = nside(order)
    val theta = 0.5 * math.Pi - decDeg * Deg2Rad
    val phi = raDeg * Deg2Rad
    val z = math.cos(theta)
    val za = math.abs(z)
    var tt = (phi * InvHalfPi) % 4.0
    if (tt < 0) tt += 4.0

    if (za <= 2.0 / 3.0) {
      // equatorial region
      val temp1 = ns * (0.5 + tt)
      val temp2 = ns * (z * 0.75)
      val jp = (temp1 - temp2).toLong // ascending edge line index
      val jm = (temp1 + temp2).toLong // descending edge line index
      val ifp = jp >> order
      val ifm = jm >> order
      val face =
        if (ifp == ifm) ((ifp & 3) + 4).toInt
        else if (ifp < ifm) (ifp & 3).toInt
        else ((ifm & 3) + 8).toInt
      val ix = jm & (ns - 1)
      val iy = ns - 1 - (jp & (ns - 1))
      xyf2nest(ix, iy, face, order)
    } else {
      // polar caps; za > 0.99 uses the sin(theta) form (healpix_cxx's
      // have_sth refinement — sqrt(3(1-za)) loses precision at the pole)
      val ntt = math.min(3, tt.toInt)
      val tp = tt - ntt
      val tmp =
        if (za < 0.99) ns * math.sqrt(3.0 * (1.0 - za))
        else ns * math.sin(theta) / math.sqrt((1.0 + za) / 3.0)
      var jp = (tp * tmp).toLong
      var jm = ((1.0 - tp) * tmp).toLong
      if (jp >= ns) jp = ns - 1
      if (jm >= ns) jm = ns - 1
      if (z >= 0) xyf2nest(ns - 1 - jm, ns - 1 - jp, ntt, order)
      else xyf2nest(jp, jm, ntt + 8, order)
    }
  }

  // jrll/jpll: ring-index and longitude-index offsets of the 12 base faces
  private val jrll = Array(2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4)
  private val jpll = Array(1, 3, 5, 7, 0, 2, 4, 6, 1, 3, 5, 7)

  /** Pixel center: NEST pix -> (raDeg, decDeg). */
  def pix2angNest(order: Int, pix: Long): (Double, Double) = {
    val ns = nside(order)
    val (ix, iy, face) = nest2xyf(pix, order)
    val jr = jrll(face) * ns - ix - iy - 1 // ring index

    val nPix = npix(order).toDouble
    val fact2 = 4.0 / nPix
    val fact1 = (ns << 1) * fact2

    var z = 0.0
    var nr = 0L
    var kshift = 0L
    if (jr < ns) { // north polar cap
      nr = jr
      z = 1.0 - nr * nr * fact2
      kshift = 0
    } else if (jr > 3 * ns) { // south polar cap
      nr = 4 * ns - jr
      z = nr * nr * fact2 - 1.0
      kshift = 0
    } else { // equatorial
      nr = ns
      z = (2 * ns - jr) * fact1
      kshift = (jr - ns) & 1
    }

    var jp = (jpll(face) * nr + ix - iy + 1 + kshift) / 2
    if (jp > 4 * nr) jp -= 4 * nr
    if (jp < 1) jp += 4 * nr

    val phi = (jp - (kshift + 1) * 0.5) * (math.Pi / 2) / nr
    val ra = math.toDegrees(phi)
    val dec = math.toDegrees(math.asin(z))
    (if (ra >= 360.0) ra - 360.0 else ra, dec)
  }

  /** Convenience accessors for codegen (no tuples). */
  def pixCenterRa(order: Int, pix: Long): Double = pix2angNest(order, pix)._1
  def pixCenterDec(order: Int, pix: Long): Double = pix2angNest(order, pix)._2

  // -------------------------------------------------- RING scheme interop
  // healpy's read_map/write_map default to RING ordering, so a NEST-only
  // library strands its exported maps (a healpy user calling plain
  // hp.read_map(path) on a NESTED map silently gets scrambled pixels
  // unless they remember nest=True). Pure ring/bit arithmetic, orders
  // 0-29 — the published healpix_cxx ring<->xyf pipeline re-derived on
  // the same jrll/jpll base-face constants pix2angNest already uses.

  private def isqrt(v: Long): Long = {
    var r = math.sqrt(v.toDouble).toLong
    while (r > 0 && r * r > v) r -= 1
    while ((r + 1) * (r + 1) <= v) r += 1
    r
  }

  /**
   * NEST -> RING pixel id at the same order. The ring number jr and
   * in-ring longitude index jp are exactly pix2angNest's intermediate
   * quantities; RING id = (pixels in all rings north of jr) + jp - 1.
   * Integer-exact at every order (no trig).
   */
  def nest2ring(order: Int, pix: Long): Long = {
    val ns = nside(order)
    val (ix, iy, face) = nest2xyf(pix, order)
    val jr = jrll(face) * ns - ix - iy - 1 // ring number, 1 .. 4*ns-1
    var nr = 0L; var nBefore = 0L; var kshift = 0L
    if (jr < ns) { // north polar cap: ring i holds 4i pixels
      nr = jr; nBefore = 2 * nr * (nr - 1); kshift = 0
    } else if (jr > 3 * ns) { // south polar cap
      nr = 4 * ns - jr; nBefore = npix(order) - 2 * nr * (nr + 1); kshift = 0
    } else { // equatorial belt: 4*ns pixels per ring
      nr = ns; nBefore = 2 * ns * (ns - 1) + (jr - ns) * 4 * ns; kshift = (jr - ns) & 1
    }
    var jp = (jpll(face) * nr + ix - iy + 1 + kshift) / 2
    if (jp > 4 * nr) jp -= 4 * nr
    if (jp < 1) jp += 4 * nr
    nBefore + jp - 1
  }

  /** RING -> NEST pixel id at the same order (inverse of
   *  [[nest2ring]]): recover (ring, in-ring index) from the RING id's
   *  position relative to the polar-cap prefix sums, locate the base
   *  face the way ang2pixNest's equatorial edge lines do, then rebuild
   *  the in-face (ix, iy) from the ring/longitude diagonals. */
  def ring2nest(order: Int, pix: Long): Long = {
    val ns = nside(order)
    val ncap = 2 * ns * (ns - 1)
    val np = npix(order)
    var iring = 0L; var iphi = 0L; var kshift = 0L; var nr = 0L; var face = 0
    if (pix < ncap) { // north polar cap
      iring = (1 + isqrt(1 + 2 * pix)) >> 1
      iphi = pix - 2 * iring * (iring - 1) + 1
      kshift = 0; nr = iring; face = ((iphi - 1) / nr).toInt
    } else if (pix < np - ncap) { // equatorial belt
      val ip = pix - ncap
      val nl4 = 4 * ns
      iring = ip / nl4 + ns
      iphi = ip % nl4 + 1
      kshift = (iring + ns) & 1
      nr = ns
      val ire = iring - ns + 1
      val irm = 2 * ns + 2 - ire
      val ifm = (iphi - ire / 2 + ns - 1) / ns
      val ifp = (iphi - irm / 2 + ns - 1) / ns
      face = if (ifp == ifm) (ifp | 4).toInt
      else if (ifp < ifm) ifp.toInt
      else (ifm + 8).toInt
    } else { // south polar cap
      val ip = np - pix
      iring = (1 + isqrt(2 * ip - 1)) >> 1
      iphi = 4 * iring + 1 - (ip - 2 * iring * (iring - 1))
      kshift = 0; nr = iring; face = (8 + (iphi - 1) / nr).toInt
      iring = 4 * ns - iring // count the ring from the north pole
    }
    val irt = iring - jrll(face) * ns + 1
    var ipt = 2 * iphi - jpll(face) * nr - kshift - 1
    if (ipt >= 2 * ns) ipt -= 8 * ns
    val ix = (ipt - irt) >> 1
    val iy = (-ipt - irt) >> 1
    xyf2nest(ix, iy, face, order)
  }

  /**
   * Conservative maximum angular distance (radians) from any pixel
   * center to any point of that pixel, at the given order. Formula
   * from the standard HEALPix base library (`max_pixrad`): the
   * largest circumradius occurs for pixels touching the polar/
   * equatorial region transition. A 1.05 safety factor is applied —
   * callers only need a conservative bound.
   */
  def maxPixRad(order: Int): Double = {
    val ns = nside(order).toDouble
    // va: z = 2/3, phi = pi/(4 nside)
    val zva = 2.0 / 3.0
    val pva = math.Pi / (4.0 * ns)
    val sva = math.sqrt(1 - zva * zva)
    val va = (sva * math.cos(pva), sva * math.sin(pva), zva)
    // vb: z = 1 - (1 - 1/nside)^2 / 3, phi = 0
    val t1 = 1.0 - 1.0 / ns
    val zvb = 1.0 - t1 * t1 / 3.0
    val svb = math.sqrt(1 - zvb * zvb)
    val vb = (svb, 0.0, zvb)
    val dot = va._1 * vb._1 + va._2 * vb._2 + va._3 * vb._3
    1.05 * math.acos(math.max(-1.0, math.min(1.0, dot)))
  }

  /**
   * Minimum great-circle distance (degrees) from a point to anywhere
   * inside pixel `pix` at `order` — 0 if the point is inside — to
   * within `epsDeg`. Hierarchical 4-way subcell descent: a frontier
   * of candidate subcells refines one order per round; a cell is
   * pruned when its lower bound (center distance − circumradius)
   * cannot beat the best upper bound (min center distance +
   * circumradius), so the surviving frontier hugs the closest
   * boundary segment and stays O(1) per level. Pure spherical
   * geometry — polar pixels and the RA seam need no special casing
   * (the reference's projected-polygon margin test special-cases
   * both, margin_utils.py:209 get_margin_bounds_and_wcs /
   * :307 check_polar_margin_bounds; this is its exact-band
   * replacement for margin trimming).
   */
  def distToPixelDeg(order: Int, pix: Long, raDeg: Double, decDeg: Double,
                     epsDeg: Double = 1e-4): Double = {
    if (ang2pixNest(order, raDeg, decDeg) == pix) return 0.0
    def cd(l: Int, p: Long): Double = {
      val (cra, cdec) = pix2angNest(l, p)
      gcDistDeg(cra, cdec, raDeg, decDeg)
    }
    var level = order
    var frontier = Array(pix)
    var rad = math.toDegrees(maxPixRad(level))
    var dists = frontier.map(cd(level, _))
    var best = dists.min + rad
    while (rad > epsDeg && level < 24) {
      val children = frontier.flatMap(p => Array(4 * p, 4 * p + 1, 4 * p + 2, 4 * p + 3))
      level += 1
      rad = math.toDegrees(maxPixRad(level))
      val cds = children.map(cd(level, _))
      best = math.min(best, cds.min + rad)
      val keep = children.indices.filter(i => cds(i) - rad <= best).toArray
      frontier = keep.map(children)
      dists = keep.map(cds)
    }
    math.max(0.0, dists.min) // error <= final circumradius <= epsDeg
  }

  /**
   * Great-circle distance in degrees (haversine; = util.gc_dist of
   * the reference). Operation order mirrors the DuckDB oracle SQL
   * text exactly (radians of the DIFFERENCE, not difference of
   * radians) so both engines produce bit-comparable doubles — this
   * is the single haversine used engine-wide (GcDistExpr codegen
   * calls it too).
   */
  def gcDistDeg(ra1: Double, dec1: Double, ra2: Double, dec2: Double): Double = {
    val h = math.pow(math.sin(math.toRadians(dec1 - dec2) / 2), 2) +
      math.cos(math.toRadians(dec1)) * math.cos(math.toRadians(dec2)) *
        math.pow(math.sin(math.toRadians(ra1 - ra2) / 2), 2)
    2.0 * math.toDegrees(math.asin(math.min(1.0, math.sqrt(h))))
  }

  /**
   * The 8-connected NEST neighborhood of `pix` at `order` (healpy
   * `get_all_neighbours` semantics): every pixel sharing an edge or
   * corner, sorted ascending; 7 entries at the 24 three-valent face
   * corners where the diagonal neighbor does not exist.
   *
   * Derived GEOMETRICALLY rather than from the conventional
   * face-adjacency tables (nothing to transcribe, nothing to get
   * wrong per face): for each of the 8 step directions, take the
   * centers of the depth-(order+6) border subcell in that direction
   * and of the subcell one step inward, chord-extrapolate one
   * subcell beyond the border (v = 2·v_border − v_inner, normalized)
   * and ang2pix the landing point at `order`. The landing sits ~1/128
   * of a cell inside the true neighbor — orders of magnitude beyond
   * double noise and curvature error (both O(subcell²)) — so the
   * probe is exact. At three-valent corners the diagonal probe lands
   * in an edge neighbor already in the set; dedup yields the
   * 7-neighbor result. In-face steps skip the probe entirely.
   */
  def neighborsNest(order: Int, pix: Long): Array[Long] = {
    require(order >= 0 && order <= 23, s"neighborsNest: order must be in [0, 23], got $order")
    require(pix >= 0 && pix < npix(order), s"neighborsNest: pix $pix out of range at order $order")
    val (ix, iy, face) = nest2xyf(pix, order)
    val ns = nside(order)
    val sub = 6
    val m = 1L << sub
    def subCenterVec(sx: Long, sy: Long): Array[Double] = {
      val (ra, dec) = pix2angNest(order + sub, xyf2nest(ix * m + sx, iy * m + sy, face, order + sub))
      val cd = math.cos(dec * Deg2Rad)
      Array(cd * math.cos(ra * Deg2Rad), cd * math.sin(ra * Deg2Rad), math.sin(dec * Deg2Rad))
    }
    val out = scala.collection.mutable.SortedSet.empty[Long]
    var di = 0
    val dirs = Array((1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1), (0, -1), (1, -1))
    while (di < dirs.length) {
      val (dx, dy) = dirs(di)
      val nx = ix + dx
      val ny = iy + dy
      if (nx >= 0 && nx < ns && ny >= 0 && ny < ns) {
        out += xyf2nest(nx, ny, face, order) // in-face: pure bit arithmetic
      } else {
        // Boundary-point estimate: the border subcell's outer corner
        // (corner step) or outer edge midpoint (edge step) = subcell
        // center minus half its inward chord(s). From there:
        //  - EDGE step: one probe along the negated unit inward
        //    direction — the edge neighbor covers the whole epsilon
        //    half-disc across a smooth edge interior, can't miss.
        //  - CORNER step: a 32-direction FAN at radius epsilon around
        //    the vertex, keeping EVERY landing != pix. Sound because
        //    any cell within epsilon (= one subcell, 1/64 of a cell —
        //    far below the vertex-incident cells' covering radius) of
        //    the vertex is vertex-incident, i.e. a true neighbor; and
        //    complete because wedge angles at HEALPix vertices are
        //    tens of degrees wide, far above the 11.25-degree fan
        //    resolution. A single "opposite bisector" probe is NOT
        //    sound here: across face boundaries the map is not
        //    conformal, opposite wedge angles differ (123 vs 57
        //    degrees measured at a polar-face edge-midpoint vertex),
        //    and the bisector can land 2 degrees on the wrong side.
        def edgePos(d: Int): Long = d match { case 1 => m - 1; case -1 => 0L; case _ => m / 2 }
        val bx = edgePos(dx); val by = edgePos(dy)
        val b = subCenterVec(bx, by)
        val boundary = b.clone()
        val w = new Array[Double](3)
        var scale = 0.0
        def accumulate(sx: Long, sy: Long): Unit = {
          val a = subCenterVec(sx, sy)
          var n2 = 0.0
          var j = 0; while (j < 3) { val d = a(j) - b(j); n2 += d * d; j += 1 }
          val len = math.sqrt(n2)
          if (len > scale) scale = len
          j = 0
          while (j < 3) {
            val d = a(j) - b(j)
            boundary(j) -= 0.5 * d
            w(j) -= d / len
            j += 1
          }
        }
        if (dx != 0) accumulate(bx - dx, by)
        if (dy != 0) accumulate(bx, by - dy)
        def land(px: Double, py: Double, pz: Double): Unit = {
          val r = math.sqrt(px * px + py * py + pz * pz)
          val dec = math.toDegrees(math.asin(pz / r))
          var ra = math.toDegrees(math.atan2(py, px))
          if (ra < 0) ra += 360.0
          val n = ang2pixNest(order, ra, dec)
          if (n != pix) out += n
        }
        if (dx == 0 || dy == 0) {
          val wn = math.sqrt(w(0) * w(0) + w(1) * w(1) + w(2) * w(2))
          land(boundary(0) + scale * w(0) / wn,
               boundary(1) + scale * w(1) / wn,
               boundary(2) + scale * w(2) / wn)
        } else {
          // orthonormal tangent basis at the vertex for the fan
          val vn = math.sqrt(boundary(0) * boundary(0) + boundary(1) * boundary(1) +
            boundary(2) * boundary(2))
          val v = Array(boundary(0) / vn, boundary(1) / vn, boundary(2) / vn)
          val ref = if (math.abs(v(2)) < 0.9) Array(0.0, 0.0, 1.0) else Array(1.0, 0.0, 0.0)
          val t1 = Array(v(1) * ref(2) - v(2) * ref(1), v(2) * ref(0) - v(0) * ref(2),
            v(0) * ref(1) - v(1) * ref(0))
          val t1n = math.sqrt(t1(0) * t1(0) + t1(1) * t1(1) + t1(2) * t1(2))
          var k = 0; while (k < 3) { t1(k) /= t1n; k += 1 }
          val t2 = Array(v(1) * t1(2) - v(2) * t1(1), v(2) * t1(0) - v(0) * t1(2),
            v(0) * t1(1) - v(1) * t1(0))
          var f = 0
          while (f < 32) {
            val a = 2.0 * math.Pi * f / 32.0
            val (ca, sa) = (math.cos(a), math.sin(a))
            land(boundary(0) + scale * (ca * t1(0) + sa * t2(0)),
                 boundary(1) + scale * (ca * t1(1) + sa * t2(1)),
                 boundary(2) + scale * (ca * t1(2) + sa * t2(2)))
            f += 1
          }
        }
      }
      di += 1
    }
    out.toArray
  }

  /** [[maxPixRad]] in degrees, per order 0..29. */
  private val maxPixRadDeg: Array[Double] = Array.tabulate(30)(o => math.toDegrees(maxPixRad(o)))

  /**
   * Conservative cover: all pixels at `order` whose region MAY
   * intersect the disc of `radiusDeg` around (raDeg, decDeg) —
   * guaranteed superset of the true intersecting set. Hierarchical
   * descent using the maxPixRad bound; cost is O(cover size * levels
   * descended), no full-sky enumeration.
   *
   * The descent starts at the deepest order s in [2, `order` - 1]
   * whose pixels are at least 8x the radius (maxPixRad(s) >= 8 r):
   * there the disc lies inside the point's own pixel and its
   * 8-neighborhood, so those (at most 9) pixels replace the 12 base
   * pixels and the s levels above them. A small-radius cover (a
   * cross-match explode, a margin explode) then descends a few levels
   * instead of `order`. Without such an order (a wide disc, a coarse
   * `order`) the descent starts from the 12 base pixels. The bounds
   * keep the cover the base-pixel descent's: started AT `order`, the
   * 9 pixels miss pixels two steps away whose centres still pass the
   * loose centre test, and the base pixels' neighborhoods are too
   * distorted (HealpixSpec pins the containment on seeded discs).
   */
  def queryDiscCover(order: Int, raDeg: Double, decDeg: Double, radiusDeg: Double): Array[Long] = {
    var start = math.min(order - 1, 23)
    while (start >= 2 && maxPixRadDeg(start) < 8 * radiusDeg) start -= 1
    if (start < 2) start = 0
    // ascending, so the descent emits the cover in ascending order
    var frontier =
      if (start > 0) {
        val own = ang2pixNest(start, raDeg, decDeg)
        (own +: neighborsNest(start, own)).sorted
      } else Array.tabulate(12)(_.toLong)
    var o = start
    while (o <= order) {
      require(frontier.length <= (4 << 20),
        s"disc cover too large (order=$order radius=$radiusDeg): use a coarser order for wide discs")
      val bound = radiusDeg + maxPixRadDeg(o)
      val keep = new scala.collection.mutable.ArrayBuffer[Long](frontier.length)
      var j = 0
      while (j < frontier.length) {
        val p = frontier(j)
        val (cra, cdec) = pix2angNest(o, p)
        if (gcDistDeg(raDeg, decDeg, cra, cdec) <= bound) keep += p
        j += 1
      }
      if (o == order) return keep.toArray
      // descend: each kept pixel -> 4 children
      val next = new Array[Long](keep.length * 4)
      var k = 0
      while (k < keep.length) {
        val base = keep(k) << 2
        next(4 * k) = base; next(4 * k + 1) = base + 1
        next(4 * k + 2) = base + 2; next(4 * k + 3) = base + 3
        k += 1
      }
      frontier = next
      o += 1
    }
    frontier // unreachable
  }
}
