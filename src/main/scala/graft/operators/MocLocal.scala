package graft.operators

import scala.collection.mutable

/**
 * Driver-side MOC algebra over collected tile arrays — the bounded
 * fast path behind [[Spatial.mocNormalize]] and the MOC set
 * operations (the `partition_map` precedent: a MOC is npix-bounded
 * by contract, so once its tile list fits comfortably on the driver
 * the canonical quad-merge walk and the set algebra are pure-Scala
 * set operations, not 40 per-round Spark jobs whose job floors
 * dwarf the data). The distributed rounds in [[Spatial]] remain the
 * path for genuinely huge MOCs (tile counts past the ops' `localMax`,
 * default [[DriverLocal.maxTiles]]); both paths produce the SAME
 * canonical minimal tiling (which is unique given coverage), so the
 * choice is invisible to callers — SpatialSpec pins the parity.
 *
 * Reference semantics: IVOA MOC 2.0 §2 (the NUNIQ multi-order
 * coverage maps lsd2's hipscat family exchanges footprints in).
 */
private[graft] object MocLocal {

  /** (norder, npix) */
  type Tile = (Int, Long)

  /** The NUNIQ packing — MOC 2.0 §2.3.1. Unique per tile, and
   *  ascending nuniq is the MOC serialization order. */
  @inline def nuniq(o: Int, p: Long): Long = (4L << (2 * o)) + p

  /** All-sky MOC: the 12 order-0 base pixels. */
  def allSky: Array[Tile] = Array.tabulate(12)(i => (0, i.toLong))

  /** Canonical minimal tiling of a single-order pixel set (the
   *  driver-side twin of [[Spatial.mocNormalize]]'s merge rounds):
   *  any complete sibling quad collapses into its parent,
   *  recursively to order 0. Input need not be distinct or sorted. */
  def normalizePixels(pixels: Array[Long], order: Int): Array[Tile] = {
    val out = mutable.ArrayBuffer.empty[Tile]
    var cur = pixels.distinct
    java.util.Arrays.sort(cur)
    var o = order
    while (o > 0) {
      cur = mergeRound(cur, o, out)
      o -= 1
    }
    cur.foreach(p => out += ((0, p)))
    sortCanonical(out)
  }

  /** One quad-merge round over a SORTED distinct pixel array at
   *  order `o`: complete quads return as parents (sorted — children
   *  sort implies parent sort), incomplete quads' members emit to
   *  `out` as surviving order-`o` tiles. */
  private def mergeRound(cur: Array[Long], o: Int,
                         out: mutable.ArrayBuffer[Tile]): Array[Long] = {
    val full = mutable.ArrayBuffer.empty[Long]
    var i = 0
    while (i < cur.length) {
      val parent = cur(i) >> 2
      var j = i + 1
      while (j < cur.length && (cur(j) >> 2) == parent) j += 1
      if (j - i == 4) full += parent
      else { var k = i; while (k < j) { out += ((o, cur(k))); k += 1 } }
      i = j
    }
    full.toArray
  }

  /** Mixed-order normalization (twin of [[Spatial.mocNormalizeMixed]]):
   *  tiles must be PAIRWISE DISJOINT (every producer in this object
   *  emits disjoint tiles); each level's merge round also absorbs
   *  the tiles native to the next-coarser order. */
  def normalizeMixed(tiles: Array[Tile], maxOrder: Int): Array[Tile] = {
    val byOrder = tiles.groupBy(_._1)
    def native(o: Int): Array[Long] =
      byOrder.get(o).map(_.map(_._2)).getOrElse(Array.empty[Long])
    val out = mutable.ArrayBuffer.empty[Tile]
    var cur = native(maxOrder)
    java.util.Arrays.sort(cur)
    var o = maxOrder
    while (o > 0) {
      val merged = mergeRound(cur, o, out)
      cur = merged ++ native(o - 1) // disjoint by contract: no dedup needed
      java.util.Arrays.sort(cur)
      o -= 1
    }
    cur.foreach(p => out += ((0, p)))
    sortCanonical(out)
  }

  private def sortCanonical(ts: mutable.ArrayBuffer[Tile]): Array[Tile] =
    ts.sortBy { case (o, p) => nuniq(o, p) }.toArray

  /** nuniq set of a tile array (nuniq is injective over tiles). */
  private def toSet(m: Array[Tile]): mutable.HashSet[Long] = {
    val s = new mutable.HashSet[Long]
    s.sizeHint(m.length)
    m.foreach { case (o, p) => s += nuniq(o, p) }
    s
  }

  /** Does tile (o, p) have an ancestor in `ySet` — strictly coarser
   *  when `strict`, else ancestor-or-self? (The driver-side twin of
   *  Spatial's ancestor-chain join: ≤ 30 probes.) */
  private def coveredBy(o: Int, p: Long, ySet: mutable.HashSet[Long],
                        strict: Boolean): Boolean = {
    var oo = if (strict) o - 1 else o
    var pp = if (strict) p >> 2 else p
    while (oo >= 0) {
      if (ySet.contains(nuniq(oo, pp))) return true
      pp >>= 2
      oo -= 1
    }
    false
  }

  /** Union of two NORMALIZED MOCs (same redundancy rules as
   *  [[Spatial.mocUnion]]: a-tiles strictly inside b and b-tiles
   *  inside-or-equal a drop; the disjoint remainder re-normalizes). */
  def union(a: Array[Tile], b: Array[Tile], maxOrder: Int): Array[Tile] = {
    val aSet = toSet(a); val bSet = toSet(b)
    val aKeep = a.filterNot { case (o, p) => coveredBy(o, p, bSet, strict = true) }
    val bKeep = b.filterNot { case (o, p) => coveredBy(o, p, aSet, strict = false) }
    normalizeMixed(aKeep ++ bKeep, maxOrder)
  }

  /** Intersection of two NORMALIZED MOCs: every overlap of disjoint
   *  tilings is witnessed by the finer tile of the pair. */
  def intersect(a: Array[Tile], b: Array[Tile], maxOrder: Int): Array[Tile] = {
    val aSet = toSet(a); val bSet = toSet(b)
    val aIn = a.filter { case (o, p) => coveredBy(o, p, bSet, strict = false) }
    val bIn = b.filter { case (o, p) => coveredBy(o, p, aSet, strict = true) }
    normalizeMixed(aIn ++ bIn, maxOrder)
  }

  /** Difference a \ b of two NORMALIZED MOCs ([[Spatial.mocDifference]]
   *  semantics): covered a-tiles vanish, untouched ones survive
   *  whole, CONTESTED ones (a finer b-tile punches a hole) split one
   *  order per round along b's tile paths — a child either IS a
   *  b-tile (dropped; its coarser ancestors were already clear, so
   *  that is the only way it can be covered), has a b-descendant
   *  (carried), or survives whole. */
  def difference(a: Array[Tile], b: Array[Tile], maxOrder: Int): Array[Tile] = {
    val bSet = toSet(b)
    // strict ancestors of b tiles: "has a finer b-descendant" probe
    val bAnc = new mutable.HashSet[Long]
    b.foreach { case (bn, bp) =>
      var o = bn - 1; var p = bp >> 2
      while (o >= 0) { bAnc += nuniq(o, p); p >>= 2; o -= 1 }
    }
    val kept = mutable.ArrayBuffer.empty[Tile]
    var contested = mutable.ArrayBuffer.empty[Tile]
    a.foreach { case (o, p) =>
      if (coveredBy(o, p, bSet, strict = false)) () // vanishes
      else if (bAnc.contains(nuniq(o, p))) contested += ((o, p))
      else kept += ((o, p))
    }
    var round = 0
    while (contested.nonEmpty && round < maxOrder) {
      val next = mutable.ArrayBuffer.empty[Tile]
      contested.foreach { case (o, p) =>
        var c = p << 2
        val end = c + 4
        while (c < end) {
          if (bSet.contains(nuniq(o + 1, c))) ()
          else if (bAnc.contains(nuniq(o + 1, c))) next += ((o + 1, c))
          else kept += ((o + 1, c))
          c += 1
        }
      }
      contested = next
      round += 1
    }
    require(contested.isEmpty,
      s"mocDifference: ${contested.length} contested tiles past order $maxOrder — " +
        "b contains tiles deeper than maxOrder")
    normalizeMixed(kept.toArray, maxOrder)
  }

  /** Complement of a NORMALIZED MOC: all-sky minus it. */
  def complement(a: Array[Tile], maxOrder: Int): Array[Tile] =
    difference(allSky, a, maxOrder)
}
