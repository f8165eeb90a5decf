package graft.operators

import graft.functions.sphere
import graft.healpix.Healpix
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Spatial query operators over point catalogs — Spark-first
 * re-expression of the reference's cone search and cross-match
 * (hipscat/catalog.py:65 `cone_search`, catalog.py:144 `cross_match`,
 * dask_utils.py:330/:367).
 *
 * Scale design (SURVEY.md §4): everything is keyed by HEALPix pixel.
 * Cone search prunes candidate pixels BEFORE the scan filter; the
 * cross-match is a plain equi-join on the pixel column (shuffle-join
 * that AQE can re-plan / skew-split), with the margin problem solved
 * by a bounded explode of the right side over a conservative disc
 * cover of radius dthresh — no cartesian products, no driver loops,
 * no KDTree: every angular match runs one candidate join
 * ([[Spatial.pixelJoin]]), and the kNN matches rank it with one
 * ranker ([[Spatial.nearestK]]).
 */
object Spatial {

  /**
   * Cone search: rows of `df` within `radiusDeg` of (raDeg, decDeg),
   * plus a `_DIST` column (great-circle degrees), exactly the
   * reference's contract (catalog.py:65). Pixel pruning at
   * `order` happens driver-side (the cover is tiny) and becomes a
   * partition/file prune when `df` is a hive Norder=/Npix= catalog.
   */
  def coneSearch(df: DataFrame, raCol: String, decCol: String,
                 raDeg: Double, decDeg: Double, radiusDeg: Double,
                 order: Int = 4, pixCol: Option[String] = None): DataFrame = {
    val cover = Healpix.queryDiscCover(order, raDeg, decDeg, radiusDeg)
    val pix: Column = pixCol.map(col).getOrElse(sphere.hpix(col(raCol), col(decCol), order))
    val pruned = df.filter(pix.isin(cover.map(Long.box).toIndexedSeq: _*))
    // the optimizer rule's conservative bounding box, applied here too
    // so sessions without GraftExtensions keep it: redundant with the
    // exact distance filter, but when ra/dec are STORED columns these
    // are plain range predicates that reach the parquet scan and prune
    // row groups via min/max stats (decisive at 100 TB)
    val box = graft.plans.SpatialFilterPushdown.bounds(
      GraftBridge.expression(col(raCol)), GraftBridge.expression(col(decCol)), raDeg, decDeg, radiusDeg)
    box.map(GraftBridge.column).reduceOption(_ && _).fold(pruned)(pruned.filter)
      .withColumn("_DIST", sphere.gcDist(col(raCol), col(decCol), lit(raDeg), lit(decDeg)))
      .filter(col("_DIST") < radiusDeg)
  }

  /**
   * Box search: dec band plus an ra interval that may wrap 360->0
   * (the box_search of the reference's successor API surface). Plain
   * range predicates — they push straight to parquet row-group stats.
   */
  def boxSearch(df: DataFrame, raCol: String, decCol: String,
                raLo: Double, raHi: Double, decLo: Double, decHi: Double): DataFrame = {
    val decPred = col(decCol) >= decLo && col(decCol) <= decHi
    val raPred =
      if (raLo <= raHi) col(raCol) >= raLo && col(raCol) <= raHi
      else col(raCol) >= raLo || col(raCol) <= raHi // wraps through 0
    df.filter(decPred && raPred)
  }

  /**
   * Convex spherical-polygon search: vertices (deg) are projected to
   * the gnomonic plane about their centroid; a point is inside iff
   * it lies on the interior side of every edge (cross-product sign).
   * Pixel pruning comes from the polygon's bounding cone. Valid for
   * polygons within a hemisphere (gnomonic domain), like the
   * reference family's polygon_search.
   */
  def polygonSearch(df: DataFrame, raCol: String, decCol: String,
                    vertices: Seq[(Double, Double)], order: Int = 4): DataFrame = {
    val ((cra, cdec), boundRadius, inside) = polygonPredicate(raCol, decCol, vertices)
    coneSearch(df, raCol, decCol, cra, cdec, boundRadius, order)
      .filter(inside)
      .drop("_DIST")
  }

  /** The polygon machinery alone: (bounding-cone center, bounding-cone
   *  radius, exact inside predicate) — shared by the in-flight search
   *  above and the stored-catalog pruned search (`Catalog.polygonSearch`). */
  private[graft] def polygonPredicate(raCol: String, decCol: String,
                                      vertices: Seq[(Double, Double)]): ((Double, Double), Double, org.apache.spark.sql.Column) = {
    require(vertices.length >= 3, "polygon needs >= 3 vertices")
    val (cra, cdec) = polygonCentroid(vertices)
    val boundRadius = vertices.map { case (r, d) => Healpix.gcDistDeg(cra, cdec, r, d) }.max * 1.001
    val verts = vertices.map { case (r, d) => gnomonicPoint(r, d, cra, cdec) }
    // orient counter-clockwise so all interior cross products are >= 0
    val signedArea = verts.indices.map { i =>
      val (x1, y1) = verts(i); val (x2, y2) = verts((i + 1) % verts.length)
      x1 * y2 - x2 * y1
    }.sum
    val ccw = if (signedArea >= 0) verts else verts.reverse

    val px = sphere.gnomonicX(col(raCol), col(decCol), cra, cdec)
    val py = sphere.gnomonicY(col(raCol), col(decCol), cra, cdec)
    val inside = ccw.indices.map { i =>
      val (x1, y1) = ccw(i); val (x2, y2) = ccw((i + 1) % ccw.length)
      (lit(x2 - x1) * (py - y1) - lit(y2 - y1) * (px - x1)) >= 0.0
    }.reduce(_ && _)
    ((cra, cdec), boundRadius, inside)
  }

  /** A cone PROVABLY covering the box: center at the box midpoint,
   *  radius = decRange/2 + raWidth/2 (spherical triangle inequality:
   *  gc(c, p) <= |dec_p - dec_c| + raSep * cos(dec_p) <= that sum).
   *  Within ~2x of tight for small boxes — only pruning efficiency,
   *  never correctness, depends on the slack. */
  private[graft] def boxBoundingCone(raLo: Double, raHi: Double,
                                     decLo: Double, decHi: Double): ((Double, Double), Double) = {
    val width = if (raLo <= raHi) raHi - raLo else 360.0 - raLo + raHi
    val midRa = (raLo + width / 2) % 360.0
    val midDec = (decLo + decHi) / 2
    val radius = math.min(180.0, (decHi - decLo) / 2 + width / 2 + 1e-9)
    ((midRa, midDec), radius)
  }

  /** Gnomonic projection of one point (driver-side twin of sphere.gnomonicX/Y). */
  def gnomonicPoint(lonDeg: Double, latDeg: Double, clon: Double, clat: Double): (Double, Double) = {
    val phi = math.toRadians(latDeg); val l = math.toRadians(lonDeg)
    val phi1 = math.toRadians(clat); val l0 = math.toRadians(clon)
    val cosc = math.sin(phi1) * math.sin(phi) + math.cos(phi1) * math.cos(phi) * math.cos(l - l0)
    (math.toDegrees(math.cos(phi) * math.sin(l - l0) / cosc),
      math.toDegrees((math.cos(phi1) * math.sin(phi) - math.sin(phi1) * math.cos(phi) * math.cos(l - l0)) / cosc))
  }

  /** Spherical centroid of vertices (mean of unit vectors). */
  def polygonCentroid(vertices: Seq[(Double, Double)]): (Double, Double) = {
    var x = 0.0; var y = 0.0; var z = 0.0
    vertices.foreach { case (r, d) =>
      val rr = math.toRadians(r); val dd = math.toRadians(d)
      x += math.cos(dd) * math.cos(rr); y += math.cos(dd) * math.sin(rr); z += math.sin(dd)
    }
    val norm = math.sqrt(x * x + y * y + z * z)
    val ra = math.toDegrees(math.atan2(y, x))
    (if (ra < 0) ra + 360 else ra, math.toDegrees(math.asin(z / norm)))
  }

  /**
   * kNN cross-match (reference: catalog.py:144 + dask_utils.py:367):
   * for each left row, the `k` nearest right rows within
   * `dthreshDeg`, with `_DIST` (gc degrees), `hips_k`, `hips_pix`.
   *
   * Exact within dthresh (the reference's fixed 0.1-degree margin
   * cache can miss true neighbors; the disc-cover margin here cannot).
   *
   * Parity note vs lsd2 (dask_utils.py:367): the reference's KDTree
   * `query(..., k=n_neighbors)` PADS — a left row with fewer than k
   * candidates inside the pixel still yields k result rows, the
   * missing ones carrying the KDTree's sentinel index. This operator
   * emits only REAL matches (<= k rows per left row, zero when none
   * within dthresh); callers needing the reference's fixed-arity
   * frame can left-join the left table back onto the result.
   *
   * `leftId` must be unique per left row (ranking key). Join order
   * auto-picked so pixels are ≳ 2x dthresh wide unless given.
   */
  def crossMatchKnn(left: DataFrame, right: DataFrame,
                    leftRa: String, leftDec: String, leftId: String,
                    rightRa: String, rightDec: String, rightId: String,
                    k: Int, dthreshDeg: Double,
                    order: Int = -1,
                    leftPrefix: String = "l_", rightPrefix: String = "r_",
                    saltBuckets: Int = -1): DataFrame = {
    val o = if (order >= 0) order else autoOrder(dthreshDeg)
    val lp = left.columns.foldLeft(left)((d, c) => d.withColumnRenamed(c, leftPrefix + c))
    val rp = right.columns.foldLeft(right)((d, c) => d.withColumnRenamed(c, rightPrefix + c))
    val joined = pixelJoin(lp, leftPrefix + leftRa, leftPrefix + leftDec,
      discCover(rp, rightPrefix + rightRa, rightPrefix + rightDec, o, dthreshDeg),
      rightPrefix + rightRa, rightPrefix + rightDec,
      dthreshDeg, o, Some(leftPrefix + leftId), saltBuckets)
    nearestK(joined, leftPrefix + leftId, rightPrefix + rightId, k)
      .withColumn("hips_k", lit(o))
      .withColumnRenamed("__pix", "hips_pix")
  }

  /** The cover side of [[pixelJoin]]: every row exploded to each
   *  order-`o` pixel (`__pix`) that can hold a point within
   *  `dthreshDeg` of it — a bounded, conservative disc cover. */
  private[graft] def discCover(df: DataFrame, raCol: String, decCol: String,
                               o: Int, dthreshDeg: Double): DataFrame =
    df.withColumn("__pix", explode(sphere.hpixCover(qc(raCol), qc(decCol), o, lit(dthreshDeg))))

  /** A column by its exact name: prefixed names may contain '.'
   *  (`Catalog.crossMatch`'s delimiter, any caller's prefix), which
   *  col() would parse as struct access. */
  private[graft] def qc(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /**
   * The candidate join under every angular match ([[crossMatchKnn]],
   * the stored `Catalog.crossMatch`, the pair joins, the streaming
   * alert match): `own` is keyed by its OWN order-`o` pixel,
   * `covered` comes keyed by [[discCover]], so each (own, covered)
   * pair with gc < dthresh meets exactly once — a plain pixel
   * equi-join whose fan-out is local density x cover size, never an
   * all-pairs comparison. Keeps `_DIST < dthreshDeg`.
   *
   * Salting: wide thresholds force coarse orders, where npix(o) can
   * drop below the cluster parallelism (48 pixels = 48 join keys).
   * With a `saltKey` (unique per own row) own rows spread over S
   * sub-keys and covered rows are replicated S x — same join result,
   * S x the parallelism on the hottest pixel. S is `saltBuckets`, or
   * derived from the parallelism when that is <= 0. `saltKey = None`
   * never salts (a stream-static join keeps its static side as
   * prepared).
   *
   * `keys` are further equi-join columns both sides carry: a caller
   * that has already grouped both sides (the stored cross-match's
   * partition tile) keeps a pair only when those agree too, so the
   * join stays selective inside each group.
   *
   * Output: `__pix`, `keys`, `__salt` (when salted), own's columns,
   * covered's columns, `_DIST`.
   */
  private[graft] def pixelJoin(own: DataFrame, ownRa: String, ownDec: String,
                               covered: DataFrame, coveredRa: String, coveredDec: String,
                               dthreshDeg: Double, o: Int,
                               saltKey: Option[String], saltBuckets: Int = -1,
                               keys: Seq[String] = Nil): DataFrame = {
    val salt = saltKey.fold(1) { _ =>
      if (saltBuckets > 0) saltBuckets
      else math.max(1, math.ceil(2.0 * own.sparkSession.sparkContext.defaultParallelism / Healpix.npix(o)).toInt)
    }
    val a = own.withColumn("__pix", sphere.hpix(qc(ownRa), qc(ownDec), o))
    val (l, r, joinKeys) =
      if (salt > 1)
        (a.withColumn("__salt", pmod(xxhash64(qc(saltKey.get)), lit(salt))),
          covered.withColumn("__salt", explode(sequence(lit(0L), lit(salt - 1L)))),
          ("__pix" +: keys) :+ "__salt")
      else (a, covered, "__pix" +: keys)
    l.join(r, joinKeys)
      .withColumn("_DIST", sphere.gcDist(qc(ownRa), qc(ownDec), qc(coveredRa), qc(coveredDec)))
      .filter(col("_DIST") < dthreshDeg)
  }

  /**
   * The nearest-k ranker of every kNN match (in-flight
   * [[crossMatchKnn]] and the stored-margin
   * `Catalog.crossMatch`): per `leftId`, the `k` candidates
   * of least (round(_DIST, 9), rightId) — the rounding keeps the order
   * stable across JVM-vs-libm last-ulp trig differences. Keeps the
   * input's column order, drops `__salt`, appends `_RANK`.
   *
   * k = 1 (the nearest-neighbor case every pipeline composition uses)
   * is a min(struct(rounded dist, right id, payload)) aggregate, not
   * a window: the aggregate gets PARTIAL (map-side) combination, so
   * the exchange carries at most one row per (left id, upstream
   * partition) instead of every candidate pair, and no sort runs.
   * Struct comparison is lexicographic on (round(_DIST, 9), right id)
   * — exactly the window's ORDER BY — and a (left, right) candidate
   * pair is unique in `joined`, so the payload is never compared.
   *
   * Names are backtick-quoted, as in [[pixelJoin]].
   */
  private[graft] def nearestK(joined: DataFrame, leftId: String, rightId: String, k: Int): DataFrame = {
    val cols = joined.columns.filterNot(_ == "__salt")
    if (k == 1) {
      val best = joined.groupBy(qc(leftId)).agg(
        min(struct(
          round(col("_DIST"), 9).as("__rd"),
          qc(rightId).as("__rid"),
          struct(cols.filterNot(_ == leftId).map(qc): _*).as("__p"))).as("__best"))
      best.select(cols.map { c =>
          if (c == leftId) qc(c) else col("__best").getField("__p").getField(c).as(c)
        }: _*)
        .withColumn("_RANK", lit(1))
    } else {
      val w = Window.partitionBy(qc(leftId)).orderBy(round(col("_DIST"), 9).asc, qc(rightId).asc)
      joined.withColumn("_RANK", row_number().over(w)).filter(col("_RANK") <= k)
        .drop("__salt")
    }
  }

  /**
   * Mutual-nearest (symmetric best) cross-match: keep a pair only
   * when A's nearest neighbor within `dthreshDeg` is B AND B's
   * nearest is A — the reciprocity criterion catalog mergers apply
   * on top of a one-directional kNN match (Sutherland & Saunders
   * 1992 practice; one-directional best matches conflate a genuine
   * counterpart with "nearest of a crowd"). Both directions run the
   * pixel-pruned [[crossMatchKnn]] (k = 1, same deterministic
   * rounded-distance + id tiebreak), then reciprocity is a single
   * equi-join on the (leftId, rightId) pair — slim 2-column build
   * side, no new shuffle geometry beyond the two kNN passes.
   *
   * Output: leftId, rightId, _DIST (from the left→right pass).
   */
  def mutualNearest(left: DataFrame, right: DataFrame,
                    leftRa: String, leftDec: String, leftId: String,
                    rightRa: String, rightDec: String, rightId: String,
                    dthreshDeg: Double): DataFrame = {
    require(leftId != rightId,
      s"mutualNearest: left and right id columns must differ, both are '$leftId'")
    // project to (id, ra, dec) BEFORE the match: only these columns are
    // used below, and the k = 1 nearest-pick aggregate inside
    // crossMatchKnn carries its input columns through the exchange —
    // full-width catalogs (name/address/comment strings) would ride
    // every candidate row for nothing (guide §2.3, measured +25% on
    // xmatch_mutual when left wide)
    val lSlim = left.select(col(leftId), col(leftRa), col(leftDec))
    val rSlim = right.select(col(rightId), col(rightRa), col(rightDec))
    val fwd = crossMatchKnn(lSlim, rSlim, leftRa, leftDec, leftId,
        rightRa, rightDec, rightId, k = 1, dthreshDeg = dthreshDeg,
        leftPrefix = "", rightPrefix = "mn_")
      .select(col(leftId), col("mn_" + rightId).as(rightId), col("_DIST"))
    val bwd = crossMatchKnn(rSlim, lSlim, rightRa, rightDec, rightId,
        leftRa, leftDec, leftId, k = 1, dthreshDeg = dthreshDeg,
        leftPrefix = "", rightPrefix = "mn_")
      .select(col(rightId), col("mn_" + leftId).as(leftId))
    fwd.join(bwd, Seq(leftId, rightId))
  }

  /** Largest order whose pixels are still ≥ ~factor x dthresh wide
   *  (arcsec thresholds reach order ~18). The width factor is 2 for
   *  ordinary (small) radii — the r1-r15 rule — but 1 for WIDE
   *  thresholds (≥ 5°, the xmatch-pipeline regime): there the coarse
   *  orders are so few pixels that candidate pairs overshoot the true
   *  neighbor fraction ~3x, and one step deeper prunes them while the
   *  disc-cover explode stays O(10) pixels (a radius-d cap over
   *  pixels ≥ d wide). Measured: pipeline_xmatch3 6.2 -> 3.4 s with
   *  factor 1 at 10-15°; q_fof (2.5°) 1.1 -> 2.6 s if factor 1 is
   *  applied below the cutoff — hence the split. Results are exact
   *  at any order (the cover is lossless); only candidate volume
   *  moves. */
  def autoOrder(dthreshDeg: Double): Int = {
    val factor = if (dthreshDeg >= 5.0) 1.0 else 2.0
    var o = 0
    while (o < 18 && math.toDegrees(Healpix.maxPixRad(o + 1)) >= factor * dthreshDeg) o += 1
    o
  }

  /**
   * The reference's 64-bit spatial index (hipscat/util.py:14
   * compute_index): healpix pixel at `order` in the high bits, a
   * per-pixel rank (ordered by ra, dec) in the low bits. Bit-for-bit
   * the same layout (as the reference's uint64 reinterpreted signed).
   */
  def spatialIndex(df: DataFrame, raCol: String, decCol: String, order: Int = 20): DataFrame = {
    val bits = 4 + 2 * order
    val pix = sphere.hpix(col(raCol), col(decCol), order)
    val rank = row_number().over(
      Window.partitionBy(pix).orderBy(col(raCol).asc, col(decCol).asc)).cast("long") - 1
    df.withColumn("_ID", shiftleft(pix, 64 - bits) + rank)
  }

  /** HEALPix density histogram (reference: partitioner.gather_statistics):
   *  the sparse order-`order` `(pix, cnt)` counts, one row per OCCUPIED
   *  pixel (map-side combined), so a collect is data-bounded, not
   *  4^order-bounded. The catalog's import/append histograms are this. */
  def densityHistogram(df: DataFrame, raCol: String, decCol: String, order: Int): DataFrame =
    df.groupBy(sphere.hpix(col(raCol), col(decCol), order).as("pix"))
      .agg(count(lit(1)).as("cnt"))

  /**
   * Proper-motion epoch propagation — the pre-match step for
   * cross-matching catalogs observed at different epochs (the same
   * astrometric convention Gaia uses): positions advance by
   * `dtYears` at the source's proper motion before the spatial join,
   * so a fast-moving star still lands inside the match radius.
   *
   * `pmRaCol`/`pmDecCol` are in mas/yr, with pmRa the on-sky
   * component μ_α* = μ_α·cos δ (the catalog convention) — hence the
   * division by cos(δ) when converting to a coordinate offset. The
   * flat-sky update is exact to O((μ·Δt)²/206265²) radians; for
   * survey-scale motions (arcsec over decades) that is far below
   * any match threshold. δ in the cos is the ORIGINAL declination.
   *
   * Map-only: two column rewrites, no shuffle, no UDF — the
   * propagated frame feeds [[crossMatchKnn]]/[[coneSearch]]
   * unchanged, and the healpix pruning operates on the propagated
   * positions (prune and distance always agree on the epoch).
   */
  def propagateEpoch(df: DataFrame, raCol: String, decCol: String,
                     pmRaCol: String, pmDecCol: String, dtYears: Double): DataFrame = {
    val masPerDeg = 3600000.0
    df.withColumn(raCol,
        col(raCol) + (col(pmRaCol) / lit(masPerDeg)) * lit(dtYears) / cos(radians(col(decCol))))
      .withColumn(decCol,
        col(decCol) + (col(pmDecCol) / lit(masPerDeg)) * lit(dtYears))
  }

  /**
   * All unordered pairs (id_a < id_b) of catalog rows within
   * `dthreshDeg` of each other — the percolation edge set a
   * friends-of-friends group finder consumes (Huchra & Geller 1982;
   * the [[crossMatchKnn]] machinery turned inward, minus the top-k
   * ranking: FoF wants EVERY link, not the k nearest).
   *
   * Exactly-once by construction, no distinct: the [[pixelJoin]]
   * meets each ordered pair within d once (side A keyed by its OWN
   * pixel, side B by its disc cover), and the a < b filter halves
   * ordered to unordered. Skew salting as in [[pixelJoin]]
   * (galactic-plane hot pixels spread over `salt` sub-keys).
   */
  def selfPairs(df: DataFrame, raCol: String, decCol: String, idCol: String,
                dthreshDeg: Double, order: Int = -1, saltBuckets: Int = -1): DataFrame =
    selfPairsDist(df, raCol, decCol, idCol, dthreshDeg, order, saltBuckets)
      .select("id_a", "id_b")

  /** [[selfPairs]] carrying the great-circle separation (`_DIST`,
   *  degrees) — the pair-statistics face (correlation functions bin
   *  it; FoF only thresholds it). */
  def selfPairsDist(df: DataFrame, raCol: String, decCol: String, idCol: String,
                    dthreshDeg: Double, order: Int = -1, saltBuckets: Int = -1): DataFrame =
    crossPairsDist(df, df, raCol, decCol, idCol, raCol, decCol, idCol, dthreshDeg, order, saltBuckets)
      .filter(col("id_a") < col("id_b"))

  /**
   * Every (left, right) pair within `dthreshDeg`, with `_DIST` — the
   * cross-catalog twin of [[selfPairsDist]] (a correlation function's
   * DR term; no a < b halving because the catalogs are distinct).
   * Exactly-once per ordered pair by the [[pixelJoin]]'s
   * own-pixel-vs-cover construction. Emits (id_a, id_b, _DIST).
   */
  def crossPairsDist(left: DataFrame, right: DataFrame,
                     leftRa: String, leftDec: String, leftId: String,
                     rightRa: String, rightDec: String, rightId: String,
                     dthreshDeg: Double, order: Int = -1, saltBuckets: Int = -1): DataFrame = {
    val o = if (order >= 0) order else autoOrder(dthreshDeg)
    val a = left.select(col(leftId).as("id_a"), col(leftRa).as("__ra_a"), col(leftDec).as("__dec_a"))
    val b = right.select(col(rightId).as("id_b"), col(rightRa).as("__ra_b"), col(rightDec).as("__dec_b"))
    pixelJoin(a, "__ra_a", "__dec_a", discCover(b, "__ra_b", "__dec_b", o, dthreshDeg), "__ra_b", "__dec_b",
      dthreshDeg, o, Some("id_a"), saltBuckets)
      .select("id_a", "id_b", "_DIST")
  }

  /**
   * Friends-of-friends group catalog: percolation links from
   * [[selfPairs]], transitive closure via the O(log n) star
   * contraction ([[Graph.connectedComponents]]), one aggregate per
   * group. Returns groups of n >= 2 (isolated points are field
   * objects, not groups) as (group_id = min member id, n_members)
   * plus whatever the caller aggregates from the joined members.
   * `localMaxEdges` is the closure's cutover
   * ([[Graph.connectedComponents]]): 0 forces the star rounds.
   */
  def fofGroups(df: DataFrame, raCol: String, decCol: String, idCol: String,
                dthreshDeg: Double, localMaxEdges: Long = DriverLocal.maxEdges): DataFrame = {
    val pairs = selfPairs(df, raCol, decCol, idCol, dthreshDeg)
    Graph.connectedComponents(pairs, "id_a", "id_b", localMaxEdges = localMaxEdges)
      .withColumnRenamed("comp", "group_id")
      .withColumnRenamed("id", idCol)
  }

  /**
   * MOC normalization (IVOA MOC 2.0 — the multi-order coverage map
   * every VO service exchanges footprints in): collapse a set of
   * order-`order` NEST pixels into the canonical MINIMAL multi-order
   * tiling — any group of 4 sibling pixels that are ALL covered merges
   * into their parent, recursively up to order 0 — and emit each
   * surviving tile in the standard NUNIQ packing
   * `nuniq = 4 * 4^norder + npix` (ascending nuniq = the MOC
   * serialization order). The inverse of a cover explode: coverage
   * stays EXACTLY equal while deep uniform regions cost one tile
   * instead of 4^(k-o).
   *
   * Scale shape: `order` rounds (bounded, <= 29) of a
   * map-side-combined groupBy on `pix div 4` (quad-completeness
   * count) + an anti-join of the level's survivors — every frame is
   * bounded by npix(order) regardless of catalog size; the input
   * row set is distinct-deduped once up front.
   */
  def mocNormalize(pixels: DataFrame, pixCol: String, order: Int,
                   localMax: Int = DriverLocal.maxTiles): DataFrame = {
    require(order >= 0 && order <= 29, s"mocNormalize: order must be in [0, 29], got $order")
    if (Healpix.npix(order) <= localMax) {
      // bounded fast path (the partition_map precedent): the distinct
      // pixel set is npix(order)-bounded REGARDLESS of catalog size,
      // so one map-side-combined distinct + collect replaces `order`
      // rounds of groupBy + anti-join jobs whose job floors dwarf the
      // data. The quad-merge walk itself is pure Scala (MocLocal).
      val pix = pixels.select(col(pixCol).cast("long").as("pix"))
        .distinct().collect().map(_.getLong(0))
      return tilesToDf(pixels.sparkSession, MocLocal.normalizePixels(pix, order))
    }
    var cur = pixels.select(col(pixCol).cast("long").as("pix")).distinct()
    def nuniqOf(o: Int) = lit(4L << (2 * o)) + col("pix")
    var out = Seq.empty[DataFrame]
    for (o <- order until 0 by -1) {
      val fullParents = cur.groupBy(expr("pix div 4").as("pix"))
        .agg(count(lit(1)).as("__c")).filter(col("__c") === 4).drop("__c")
      val survivors = cur
        .join(fullParents.select(col("pix").as("__fp")),
          expr("pix div 4") === col("__fp"), "left_anti")
        .select(lit(o).as("norder"), col("pix").as("npix"), nuniqOf(o).as("nuniq"))
      out = out :+ survivors
      cur = fullParents
    }
    out = out :+ cur.select(lit(0).as("norder"), col("pix").as("npix"), nuniqOf(0).as("nuniq"))
    out.reduce(_ unionByName _)
  }

  // ------------------------------------------------------- MOC set algebra
  //
  // Every MOC op takes an explicit `localMax` tile count: operands
  // that fit run the driver-side [[MocLocal]] algebra, 0 forces the
  // distributed rounds. The default is [[DriverLocal.maxTiles]].

  /** The NUNIQ packing of a (norder, npix) tile — MOC 2.0 §2.3.1. */
  private def nuniqCol: Column = expr("shiftleft(cast(4 as bigint), 2 * norder) + npix")

  /** A collected/driver-computed tile array as the standard MOC frame
   *  (norder int, npix long, nuniq long) — a LocalRelation, so
   *  downstream set ops collect it back job-free. */
  private def tilesToDf(spark: org.apache.spark.sql.SparkSession,
                        tiles: Array[MocLocal.Tile]): DataFrame =
    DriverLocal.frame(spark, tiles.toIndexedSeq.map { case (o, p) => (o, p, MocLocal.nuniq(o, p)) },
      "norder", "npix", "nuniq")

  /** A (pinned) MOC operand's tiles when at most `localMax` of them,
   *  else None ([[DriverLocal.collectIfBounded]]). */
  private def localTiles(m: DataFrame, localMax: Int): Option[Array[MocLocal.Tile]] =
    DriverLocal.collectIfBounded(m.select(col("norder").cast("int"), col("npix").cast("long")),
      localMax).map(_.map(r => (r.getInt(0), r.getLong(1))))

  /** Materialize a MOC operand and CUT its logical-plan lineage
   *  ([[CacheUtil.gcPersist]]). The set ops below reference each operand many
   *  times across ancestor-chain joins plus up-to-29 re-normalization
   *  rounds; carrying an operand's full upstream plan (itself often a
   *  multi-round [[mocNormalize]]) into every reference multiplies
   *  the ANALYZED plan combinatorially — Catalyst analysis, not data,
   *  becomes the bottleneck (observed: minutes of TreeNode walks on a
   *  20-tile toy input). MOC frames are npix-bounded by contract, so
   *  the eager materialization is cheap at any catalog size. */
  private def pinMoc(m: DataFrame): DataFrame = {
    val slim = m.select(
      col("norder").cast("int").as("norder"), col("npix").cast("long").as("npix"))
    // an operand that is ALREADY shallow — a checkpoint (LogicalRDD)
    // or a driver-built LocalRelation (the [[MocLocal]] fast path) —
    // needs no second materialization: a Project over it is just as
    // shallow, and callers composing several set ops over the same
    // normalized MOCs would otherwise pay one redundant copy job per
    // op per side
    // optimizedPlan, not logical: tilesToDf emits Project-over-
    // LocalRelation, which ConvertToLocalRelation collapses
    val plan = m.queryExecution.optimizedPlan
    if (plan.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD] ||
        plan.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]) slim
    else CacheUtil.gcPersist(slim)
  }

  /**
   * Mixed-order MOC normalization: collapse a PAIRWISE-DISJOINT tile
   * set (`norder`, `npix` columns, orders up to `maxOrder`) into the
   * canonical minimal NUNIQ tiling — [[mocNormalize]]'s single-order
   * walk generalized so each level's quad-merge round also absorbs
   * the tiles NATIVE to the next-coarser order (the set-operation
   * results below are mixed-order by construction). Disjointness is
   * the caller's contract (every producer in this file emits disjoint
   * tiles); under it the per-level union needs no distinct — a native
   * coarse tile can never equal a completed parent without
   * overlapping its four children.
   *
   * Scale shape: `maxOrder` (<= 29) rounds of a map-side-combined
   * quad count + an anti-join, every frame bounded by the tile count
   * at that level (<= npix(level)), never the source catalog.
   */
  def mocNormalizeMixed(tiles: DataFrame, maxOrder: Int): DataFrame = {
    require(maxOrder >= 0 && maxOrder <= 29,
      s"mocNormalizeMixed: maxOrder must be in [0, 29], got $maxOrder")
    def level(o: Int) =
      tiles.filter(col("norder") === o).select(col("npix").cast("long").as("pix"))
    var cur = level(maxOrder)
    var out = Seq.empty[DataFrame]
    for (o <- maxOrder until 0 by -1) {
      val fullParents = cur.groupBy(expr("pix div 4").as("pix"))
        .agg(count(lit(1)).as("__c")).filter(col("__c") === 4).drop("__c")
      val survivors = cur
        .join(fullParents.select(col("pix").as("__fp")),
          expr("pix div 4") === col("__fp"), "left_anti")
        .select(lit(o).as("norder"), col("pix").as("npix"))
      out = out :+ survivors
      // per-round lineage cut (the Graph.scala per-round checkpoint
      // precedent): cur's plan doubles every round, and — measured on
      // the q_moc_ops fixture — letting it grow even 4 rounds between
      // cuts TRIPLES total time (Catalyst re-analysis of the widened
      // tree costs far more than the extra job floors; 14 s with
      // per-round cuts vs 48 s with every-4th-round cuts)
      cur = CacheUtil.gcPersist(fullParents.unionByName(level(o - 1)))
    }
    out = out :+ cur.select(lit(0).as("norder"), col("pix").as("npix"))
    out.reduce(_ unionByName _).withColumn("nuniq", nuniqCol)
  }

  /** Tiles of `x` lying inside (`strict` = strictly inside, i.e. a
   *  PROPER ancestor; else inside-or-equal) some tile of `y` — the
   *  ancestor/descendant overlap primitive of the MOC set ops: x's
   *  ancestor chain is a bounded explode (norder + 1 rows per tile),
   *  the containment test one equi-join against y; y's disjointness
   *  means at most one chain entry can match, so no distinct.
   *  `keep` selects the semi (matching) or anti (non-matching) side. */
  private def tilesCoveredBy(x: DataFrame, y: DataFrame, strict: Boolean,
                             keep: String): DataFrame = {
    val xs = if (strict) x.filter(col("norder") >= 1) else x
    val anc = xs.select(col("norder"), col("npix"),
        explode(sequence(lit(0), if (strict) col("norder") - 1 else col("norder"))).as("__o"))
      .withColumn("__apix", expr("shiftright(npix, 2 * (norder - __o))"))
    val matched = anc.join(
        y.select(col("norder").as("__o"), col("npix").as("__apix")),
        Seq("__o", "__apix"), "left_semi")
      .select("norder", "npix")
    keep match {
      case "semi" => matched
      case "anti" =>
        val out = x.join(matched.withColumnRenamed("norder", "__n")
            .withColumnRenamed("npix", "__p"),
          col("norder") === col("__n") && col("npix") === col("__p"), "left_anti")
        out.select("norder", "npix")
    }
  }

  /** Strict-ancestor index of a MOC: one row per (order, ancestor
   *  pixel) a tile of `m` sits strictly below — the "has a finer
   *  descendant in m" probe side. Bounded: norder rows per tile. */
  private def strictAncestors(m: DataFrame): DataFrame =
    m.filter(col("norder") >= 1)
      .select(col("norder").as("__dn"), col("npix").as("__dp"),
        explode(sequence(lit(0), col("norder") - 1)).as("norder"))
      .withColumn("npix", expr("shiftright(__dp, 2 * (__dn - norder))"))
      .select("norder", "npix").distinct()

  /**
   * Union of two NORMALIZED MOCs at their native mixed orders (the
   * MOC-2.0 set operation VO services exchange — no expansion to a
   * common order): a-tiles strictly inside a b-tile and b-tiles
   * inside-or-equal-to an a-tile are redundant (equal tiles keep the
   * a copy); the disjoint remainder re-normalizes, because a region
   * covered 3/4 by `a` and 1/4 by `b` now completes a quad.
   */
  def mocUnion(a: DataFrame, b: DataFrame, maxOrder: Int,
               localMax: Int = DriverLocal.maxTiles): DataFrame = {
    val (ap, bp) = (pinMoc(a), pinMoc(b))
    localPair(ap, bp, localMax) match {
      case Some((at, bt)) => tilesToDf(a.sparkSession, MocLocal.union(at, bt, maxOrder))
      case None =>
        val aKeep = tilesCoveredBy(ap, bp, strict = true, keep = "anti")
        val bKeep = tilesCoveredBy(bp, ap, strict = false, keep = "anti")
        mocNormalizeMixed(aKeep.unionByName(bKeep), maxOrder)
    }
  }

  /** Both operands' tile arrays when both fit the driver-side path
   *  (each probe is one tiny job on a pinned frame — or job-free on a
   *  LocalRelation), else None → distributed rounds. */
  private def localPair(ap: DataFrame, bp: DataFrame,
                        localMax: Int): Option[(Array[MocLocal.Tile], Array[MocLocal.Tile])] =
    for {
      at <- localTiles(ap, localMax)
      bt <- localTiles(bp, localMax)
    } yield (at, bt)

  /**
   * Intersection of two NORMALIZED MOCs at native mixed orders: every
   * overlap of disjoint tilings is witnessed by the FINER tile of the
   * pair, so the intersection is exactly { a-tiles inside-or-equal a
   * b-tile } ∪ { b-tiles strictly inside an a-tile } — two bounded
   * ancestor-chain joins, no pixel expansion (a coarse tile
   * intersecting millions of fine descendants costs its chain rows,
   * not its 4^k pixels). The result is provably quad-free when both
   * inputs are normalized; the defensive re-normalize keeps the
   * canonical-output contract even on non-minimal inputs.
   */
  def mocIntersect(a: DataFrame, b: DataFrame, maxOrder: Int,
                   localMax: Int = DriverLocal.maxTiles): DataFrame = {
    val (ap, bp) = (pinMoc(a), pinMoc(b))
    localPair(ap, bp, localMax) match {
      case Some((at, bt)) => tilesToDf(a.sparkSession, MocLocal.intersect(at, bt, maxOrder))
      case None =>
        val aIn = tilesCoveredBy(ap, bp, strict = false, keep = "semi")
        val bIn = tilesCoveredBy(bp, ap, strict = true, keep = "semi")
        mocNormalizeMixed(aIn.unionByName(bIn), maxOrder)
    }
  }

  /**
   * Difference a \ b of two NORMALIZED MOCs at native mixed orders.
   * a-tiles wholly inside b vanish; a-tiles with no b-descendant
   * survive whole; the rest are CONTESTED — a finer b-tile punches a
   * hole through them — and split one order per round: each round
   * explodes contested tiles into their 4 children, drops children
   * that ARE b-tiles (the only way a child can be covered, since its
   * coarser ancestors were already not), keeps children with no
   * b-descendant, and carries the remainder. Rounds are bounded by
   * `maxOrder`; every round's frame is bounded by 4x the b-tiles
   * still being carved around — the subdivision follows b's tile
   * paths, never the 4^k full expansion.
   */
  def mocDifference(a: DataFrame, b: DataFrame, maxOrder: Int,
                    localMax: Int = DriverLocal.maxTiles): DataFrame = {
    val (ap, bp) = (pinMoc(a), pinMoc(b))
    localPair(ap, bp, localMax) match {
      case Some((at, bt)) =>
        return tilesToDf(a.sparkSession, MocLocal.difference(at, bt, maxOrder))
      case None => ()
    }
    val bAnc = CacheUtil.gcPersist(strictAncestors(bp))
    val bTiles = bp.select("norder", "npix")
    val a0 = tilesCoveredBy(ap, bp, strict = false, keep = "anti")
    def partsOf(tiles: DataFrame): (DataFrame, DataFrame) = {
      val contested = tiles.join(bAnc, Seq("norder", "npix"), "left_semi")
      val whole = tiles.join(bAnc, Seq("norder", "npix"), "left_anti")
      (whole, contested)
    }
    val (whole0, contested0) = partsOf(a0)
    var kept = Seq(whole0)
    // per-round lineage cut + early exit: contested shrinks along b's
    // tile paths and usually empties well before maxOrder rounds (the
    // isEmpty on an already-checkpointed frame is near-free; as in
    // mocNormalizeMixed, per-round cuts measured FASTER than amortized
    // ones — re-analysis of a widened tree dominates the job floors)
    var contested = CacheUtil.gcPersist(contested0)
    var round = 0
    while (round < maxOrder && !contested.isEmpty) {
      val children = contested.select((col("norder") + 1).as("norder"),
        explode(expr("array(npix * 4, npix * 4 + 1, npix * 4 + 2, npix * 4 + 3)")).as("npix"))
      val surviving = children.join(bTiles, Seq("norder", "npix"), "left_anti")
      val (whole, next) = partsOf(surviving)
      kept = kept :+ whole
      contested = CacheUtil.gcPersist(next)
      round += 1
    }
    mocNormalizeMixed(kept.reduce(_ unionByName _), maxOrder)
  }

  /**
   * Complement of a NORMALIZED MOC: the sky not covered by `a` —
   * difference from the all-sky MOC (the 12 order-0 base pixels),
   * which mocpy exposes as `.complement()`. Double complement is the
   * identity and a ∪ ¬a = sky (SpatialSpec pins both).
   */
  def mocComplement(a: DataFrame, maxOrder: Int,
                    localMax: Int = DriverLocal.maxTiles): DataFrame = {
    val ap = pinMoc(a)
    localTiles(ap, localMax) match {
      case Some(at) => tilesToDf(a.sparkSession, MocLocal.complement(at, maxOrder))
      case None =>
        mocDifference(tilesToDf(a.sparkSession, MocLocal.allSky), ap, maxOrder, localMax)
    }
  }

  /**
   * Query-region MOC of a cone (mocpy's `MOC.from_cone`): the
   * conservative order-`order` disc cover ([[Healpix.queryDiscCover]]
   * — every pixel whose area can intersect the cone) collapsed to
   * the canonical NUNIQ tiling. Driver-side end to end: the cover is
   * npix-bounded and the walk is [[MocLocal]]; the result is a
   * LocalRelation ready for job-free set algebra against catalog
   * footprint MOCs.
   */
  def mocFromCone(spark: org.apache.spark.sql.SparkSession, order: Int,
                  raDeg: Double, decDeg: Double, radiusDeg: Double): DataFrame =
    tilesToDf(spark,
      MocLocal.normalizePixels(Healpix.queryDiscCover(order, raDeg, decDeg, radiusDeg), order))

  /**
   * Query-region MOC of a convex spherical polygon: the bounding-cone
   * cover refined to pixels that can actually intersect the polygon —
   * a pixel survives iff its center lies inside, OR its center is
   * within maxPixRad(order) of some polygon edge arc (triangle
   * inequality: a pixel that meets the polygon either has its center
   * inside, or contains a boundary point, which then lies within
   * maxPixRad of the center — so the test is conservative, never
   * lossy). Same hemisphere-bounded contract as [[polygonSearch]].
   */
  def mocFromPolygon(spark: org.apache.spark.sql.SparkSession, order: Int,
                     vertices: Seq[(Double, Double)]): DataFrame =
    tilesToDf(spark, MocLocal.normalizePixels(polygonCoverPixels(order, vertices), order))

  /**
   * Query-region MOC of a dec-band x ra-interval box (wrap-aware,
   * the [[boxSearch]] region): the bounding-cone cover refined to
   * pixels whose center lies inside the box EXPANDED by
   * maxPixRad(order) — any pixel meeting the box has a point inside
   * it, and its center sits within maxPixRad of that point, hence
   * inside the expanded box (dec expands by the slack directly; ra
   * by slack / cos of the band's largest |dec|, going all-sky past
   * 89°, so the bound is conservative at the poles too).
   */
  def mocFromBox(spark: org.apache.spark.sql.SparkSession, order: Int,
                 raLo: Double, raHi: Double, decLo: Double, decHi: Double): DataFrame = {
    val slack = math.toDegrees(Healpix.maxPixRad(order)) + 1e-9
    val dLo = math.max(-90.0, decLo - slack)
    val dHi = math.min(90.0, decHi + slack)
    val maxAbsDec = math.max(math.abs(dLo), math.abs(dHi))
    val width = if (raLo <= raHi) raHi - raLo else 360.0 - raLo + raHi
    val raSlack =
      if (maxAbsDec >= 89.0) 180.0
      else slack / math.cos(math.toRadians(maxAbsDec))
    val lo = (((raLo - raSlack) % 360.0) + 360.0) % 360.0
    val expWidth = math.min(360.0, width + 2 * raSlack)
    val ((cra, cdec), boundR) = boxBoundingCone(raLo, raHi, decLo, decHi)
    val pix = Healpix.queryDiscCover(order, cra, cdec, math.min(180.0, boundR + slack))
      .filter { p =>
        val (pra, pdec) = Healpix.pix2angNest(order, p)
        pdec >= dLo && pdec <= dHi &&
          (expWidth >= 360.0 || (((pra - lo) % 360.0) + 360.0) % 360.0 <= expWidth)
      }
    tilesToDf(spark, MocLocal.normalizePixels(pix, order))
  }

  /** The refined polygon cover at `order` (driver-side; see
   *  [[mocFromPolygon]] for the conservativeness argument). */
  private[graft] def polygonCoverPixels(order: Int, vertices: Seq[(Double, Double)]): Array[Long] = {
    require(vertices.length >= 3, "polygon needs >= 3 vertices")
    val (cra, cdec) = polygonCentroid(vertices)
    val boundRadius = vertices.map { case (r, d) => Healpix.gcDistDeg(cra, cdec, r, d) }.max * 1.001
    val slackDeg = math.toDegrees(Healpix.maxPixRad(order)) + 1e-9
    val vecs = vertices.map { case (r, d) => unitVec(r, d) }.toArray
    Healpix.queryDiscCover(order, cra, cdec, boundRadius).filter { p =>
      val (pra, pdec) = Healpix.pix2angNest(order, p)
      pointInPolygon(pra, pdec, vertices, cra, cdec) || {
        val pv = unitVec(pra, pdec)
        vecs.indices.exists { i =>
          arcDistDeg(pv, vecs(i), vecs((i + 1) % vecs.length)) <= slackDeg
        }
      }
    }
  }

  /** Driver-side point-in-convex-polygon — the same gnomonic
   *  cross-sign test [[polygonPredicate]] compiles to Columns, on one
   *  point (shares the centroid/orientation conventions exactly). */
  private[graft] def pointInPolygon(raDeg: Double, decDeg: Double,
                                    vertices: Seq[(Double, Double)],
                                    cra: Double, cdec: Double): Boolean = {
    val verts = vertices.map { case (r, d) => gnomonicPoint(r, d, cra, cdec) }
    val signedArea = verts.indices.map { i =>
      val (x1, y1) = verts(i); val (x2, y2) = verts((i + 1) % verts.length)
      x1 * y2 - x2 * y1
    }.sum
    val ccw = if (signedArea >= 0) verts else verts.reverse
    val (px, py) = gnomonicPoint(raDeg, decDeg, cra, cdec)
    ccw.indices.forall { i =>
      val (x1, y1) = ccw(i); val (x2, y2) = ccw((i + 1) % ccw.length)
      (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1) >= 0.0
    }
  }

  private def unitVec(raDeg: Double, decDeg: Double): Array[Double] = {
    val r = math.toRadians(raDeg); val d = math.toRadians(decDeg)
    Array(math.cos(d) * math.cos(r), math.cos(d) * math.sin(r), math.sin(d))
  }

  /** Great-circle distance (degrees) from unit vector `p` to the
   *  minor arc v1→v2: cross-track |asin(p·n̂)| when the perpendicular
   *  foot falls inside the segment (between the two meridian planes
   *  through n and each endpoint), else the nearer endpoint. */
  private[graft] def arcDistDeg(p: Array[Double], v1: Array[Double], v2: Array[Double]): Double = {
    def cross(a: Array[Double], b: Array[Double]) = Array(
      a(1) * b(2) - a(2) * b(1), a(2) * b(0) - a(0) * b(2), a(0) * b(1) - a(1) * b(0))
    def dot(a: Array[Double], b: Array[Double]) = a(0) * b(0) + a(1) * b(1) + a(2) * b(2)
    def norm(a: Array[Double]) = math.sqrt(dot(a, a))
    def angDeg(a: Array[Double], b: Array[Double]) =
      math.toDegrees(math.atan2(norm(cross(a, b)), dot(a, b)))
    val n = cross(v1, v2)
    val nn = norm(n)
    if (nn < 1e-15) return math.min(angDeg(p, v1), angDeg(p, v2)) // degenerate edge
    val inSegment = dot(cross(n, v1), p) >= 0 && dot(cross(v2, n), p) >= 0
    if (inSegment) math.toDegrees(math.abs(math.asin(math.max(-1.0, math.min(1.0, dot(p, n) / nn)))))
    else math.min(angDeg(p, v1), angDeg(p, v2))
  }
}
