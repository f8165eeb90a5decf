package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.reflect.runtime.universe.TypeTag

/**
 * The one cutover policy for the bounded driver-side paths: the
 * exact-integer graph replays ([[Graph]]), the BPE merge loop
 * ([[Bpe.train]]) and the MOC algebra ([[MocLocal]] behind the
 * [[Spatial]] MOC ops). Each of those operators takes an explicit
 * cutover argument whose default is one of the ceilings below; 0
 * forces the distributed path. No session conf picks the path, so
 * two callers on one session can choose differently.
 *
 * A ceiling is a quarter of the driver heap divided by the caller's
 * all-in transient cost per item (boxed collected `Row`s plus the
 * replay's own maps), capped per caller so the frame sent back stays
 * executor-safe. Inputs over the ceiling keep their distributed
 * rounds unchanged.
 */
private[graft] object DriverLocal {

  /** Graph replays: collected edge rows plus label/adjacency maps,
   *  ~100 B per edge; capped at 1M edges, so the broadcast back
   *  (<= 2M slim label rows) stays executor-safe. Every bench-scale
   *  duplicate graph runs local; corpus-scale ones do not. */
  def maxEdges: Long = ceiling("edges", 100, 1000000L)

  /** BPE merge loop: ~200 B per distinct word; capped at 1M words,
   *  so web-scale vocabularies (10^6-10^7) keep the distributed loop. */
  def maxWords: Long = ceiling("words", 200, 1000000L)

  /** MOC algebra: boxed rows plus `Tile` tuples, ~150 B per tile;
   *  capped at 4M, so order-<= 9 MOCs (npix(9) = 3.1M) run local on
   *  any driver with >= ~2 GB heap. */
  def maxTiles: Int = ceiling("tiles", 150, 4000000L).toInt

  private def ceiling(what: String, bytesPerItem: Long, cap: Long): Long = {
    val byHeap = Runtime.getRuntime.maxMemory() / 4 / bytesPerItem
    if (byHeap < cap && !loggedHeapCeiling.getAndSet(true))
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"driver-side cutover is HEAP-derived on this driver: $byHeap $what " +
          s"(maxMemory/4/${bytesPerItem}B) < the $cap cap — the same dataset can take " +
          "a different plan on a larger driver; pass an explicit cutover for plan stability")
    math.min(cap, byHeap)
  }

  /** One-shot latch for the heap-derived-ceiling log line above. */
  private val loggedHeapCeiling = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** The frame's rows when there are at most `cap` of them, else
   *  None (and None whenever `cap <= 0`). `limit` short-circuits, so
   *  an over-cap input costs a bounded partial scan of at most
   *  cap + 1 rows, not a full count. */
  def collectIfBounded(df: DataFrame, cap: Long): Option[Array[Row]] = {
    if (cap <= 0) return None
    val rows = df.limit(math.min(cap + 1, Int.MaxValue.toLong - 1).toInt).collect()
    if (rows.length > cap) None else Some(rows)
  }

  /** A driver-computed result as a frame with the given column names:
   *  a LocalRelation, so consumers read it back without a job.
   *  Primitive tuple fields come out non-nullable. */
  def frame[A <: Product : TypeTag](spark: SparkSession, rows: Seq[A], names: String*): DataFrame =
    spark.createDataFrame(rows).toDF(names: _*)
}
