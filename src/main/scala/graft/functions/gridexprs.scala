package graft.functions

import graft.healpix.Healpix
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * SPARSE adaptive-partition grid: the sky as a sorted list of tiles
 * (start order-k pixel, assigned order), queried by floor binary
 * search. Size is bounded by the number of OCCUPIED partitions (each
 * subdivision is driven by an over-threshold subtree), never by
 * 12*4^k — the representation that lets the histogram order rise to
 * the `_ID` index order (14) without a gigabyte-scale dense array on
 * the driver or in every executor's broadcast.
 *
 * `tileOrders(i) == -1` marks a coverage gap (regions a WRITTEN
 * catalog has no files for); walk-built grids tile the whole sky and
 * never contain -1.
 */
final case class PartitionGrid(orderK: Int, tileStarts: Array[Long], tileOrders: Array[Int]) {
  require(tileStarts.length == tileOrders.length && tileStarts.nonEmpty && tileStarts(0) == 0L,
    "PartitionGrid tiles must be nonempty and start at pixel 0")

  /** Assigned order of an order-k pixel, or -1 in a coverage gap. */
  def order(pixK: Long): Int = {
    var lo = 0; var hi = tileStarts.length - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (tileStarts(mid) <= pixK) lo = mid else hi = mid - 1
    }
    tileOrders(lo)
  }
}

object PartitionGrid {
  /** Build from (startPixK, order) covering tiles (any order, may be
   *  non-contiguous); gaps become -1 tiles so lookups in uncovered
   *  sky resolve to "no partition" instead of a wrong neighbor. */
  def fromTiles(orderK: Int, tiles: Seq[(Long, Int)]): PartitionGrid = {
    val npix = Healpix.npix(orderK)
    val starts = new scala.collection.mutable.ArrayBuffer[Long]
    val orders = new scala.collection.mutable.ArrayBuffer[Int]
    var next = 0L
    tiles.distinct.sortBy(_._1).foreach { case (s, o) =>
      require(s >= next, s"overlapping partition tiles at pixK=$s (expected >= $next)")
      if (s > next) { starts += next; orders += -1 }
      starts += s; orders += o
      next = s + (1L << (2 * (orderK - o)))
    }
    require(next <= npix, s"tile past the sky: next=$next npix=$npix")
    if (next < npix || starts.isEmpty) { starts += next; orders += -1 }
    PartitionGrid(orderK, starts.toArray, orders.toArray)
  }
}

/**
 * Ingest-path kernels: partition assignment against a broadcast
 * adaptive-partition grid, fully inside WholeStageCodegen. These
 * replace the r1 per-row Scala UDFs (boxed, codegen-breaking) on the
 * one path every ingested row — all 100 TB — must cross. The grid
 * rides as a Broadcast handle (cheap to serialize per task; the tile
 * arrays ship once per executor, sized by occupied partitions).
 */
object GridKernels {

  /** Packed partition pixel (assignedOrder << 48) | partitionPix, or -1 if the grid has no entry. */
  def packedPartitionPixel(ra: Double, dec: Double, orderK: Int, grid: PartitionGrid): Long = {
    val pixK = Healpix.ang2pixNest(orderK, ra, dec)
    val o = grid.order(pixK)
    if (o < 0) -1L
    else (o.toLong << 48) | (pixK >> (2 * (orderK - o)))
  }

  /**
   * Packed FOREIGN partition pixels within `marginDeg` of the point
   * (the neighbor-cache explode set): disc-cover pixels mapped
   * through the grid, distinct, minus the point's own partition
   * pixel. Bounded: a margin disc covers 1-4 order-k pixels.
   *
   * `exact = false` (default) keeps the pixel-granular SUPERSET (the
   * disc cover — every row of a covered order-k tile replicates);
   * `exact = true` additionally requires the point's true boundary
   * distance to the candidate PARTITION pixel to be within
   * `marginDeg` (Healpix.distToPixelDeg — the reference's
   * margin-trim semantics, margin_utils.py:209/:307, minus the
   * projection special cases), shrinking coarse-order neighbor
   * storage to the true threshold band. Correctness is identical
   * either way: margin consumers exact-filter on match distance.
   */
  def marginPixels(ra: Double, dec: Double, orderK: Int, marginDeg: Double,
                   grid: PartitionGrid, exact: Boolean = false): ArrayData = {
    val own = packedPartitionPixel(ra, dec, orderK, grid)
    val cover = Healpix.queryDiscCover(orderK, ra, dec, marginDeg)
    val out = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < cover.length) {
      val pk = cover(i)
      val o = grid.order(pk)
      if (o >= 0) {
        val packed = (o.toLong << 48) | (pk >> (2 * (orderK - o)))
        if (packed != own &&
            (!exact || Healpix.distToPixelDeg(o, pk >> (2 * (orderK - o)), ra, dec)
              <= marginDeg))
          out.add(packed)
      }
      i += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = it.next(); k += 1 }
    new GenericArrayData(arr)
  }
}

/**
 * packed_partition_pixel(ra, dec) -> (order << 48) | pix against a
 * broadcast grid; -1 where the grid is empty (no partition).
 */
case class PackedPartitionPixelExpr(left: Expression, right: Expression,
                                    orderK: Int, grid: Broadcast[PartitionGrid])
  extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "packed_partition_pixel"

  override protected def nullSafeEval(ra: Any, dec: Any): Any =
    GridKernels.packedPartitionPixel(ra.asInstanceOf[Double], dec.asInstanceOf[Double], orderK, grid.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val g = ctx.addReferenceObj("grid", grid, classOf[Broadcast[PartitionGrid]].getName)
    defineCodeGen(ctx, ev, (ra, dec) =>
      s"graft.functions.GridKernels.packedPartitionPixel($ra, $dec, $orderK, (graft.functions.PartitionGrid)$g.value())")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** margin_pixels(ra, dec) -> array<long> of packed foreign partition pixels within the margin. */
case class MarginPixelsExpr(left: Expression, right: Expression,
                            orderK: Int, marginDeg: Double, grid: Broadcast[PartitionGrid],
                            exact: Boolean = false)
  extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "margin_pixels"

  override protected def nullSafeEval(ra: Any, dec: Any): Any =
    GridKernels.marginPixels(ra.asInstanceOf[Double], dec.asInstanceOf[Double], orderK, marginDeg, grid.value, exact)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val g = ctx.addReferenceObj("grid", grid, classOf[Broadcast[PartitionGrid]].getName)
    nullSafeCodeGen(ctx, ev, (ra, dec) =>
      s"${ev.value} = graft.functions.GridKernels.marginPixels($ra, $dec, $orderK, $marginDeg, (graft.functions.PartitionGrid)$g.value(), $exact);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
