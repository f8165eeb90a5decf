package graft.streaming

import graft.operators.Spatial
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Streaming alert cross-match — the time-domain broker shape
 * (ZTF/LSST alert streams: every arriving detection is matched
 * against a static reference catalog within an angular threshold,
 * continuously). The batch engine's kNN cross-match ranks per left
 * row (a window or an aggregate over all of a left row's candidates),
 * which append-mode streaming cannot express; the
 * broker semantics — ALL reference objects within `dthreshDeg`,
 * downstream picks what it needs — is a pure stream-static pixel
 * equi-join + exact distance filter, so it runs stateless per
 * micro-batch with no watermark.
 *
 * Scale shape: the reference is prepared ONCE ([[prepareReference]]:
 * margin-cover explode to the same order the stream side hashes to —
 * reference catalog x bounded cover fan-out); each micro-batch then
 * pays one map-only pixel assignment + the equi-join against the
 * static side (Spark reuses the static relation across batches).
 * Exactly-once by construction on the reference side: the stream row
 * owns ONE pixel, the reference row is the side exploded to every
 * pixel within the threshold of it — the same own-pixel vs disc-cover
 * contract as the batch matches, through the same candidate join
 * ([[Spatial.pixelJoin]]).
 */
object AlertStream {

  /** One-time static prep: reference rows exploded to every order-k
   *  pixel within `dthreshDeg` of them (the cover side of
   *  [[Spatial.pixelJoin]]). Order defaults to the batch
   *  cross-match's auto rule for the threshold. */
  def prepareReference(ref: DataFrame, raCol: String, decCol: String,
                       dthreshDeg: Double, order: Int = -1): DataFrame = {
    val o = if (order >= 0) order else Spatial.autoOrder(dthreshDeg)
    val prefixed = ref.columns.foldLeft(ref)((d, c) => d.withColumnRenamed(c, "ref_" + c))
    Spatial.discCover(prefixed, "ref_" + raCol, "ref_" + decCol, o, dthreshDeg)
      .withColumn("__order", lit(o))
  }

  /** Stream-static threshold cross-match: `alerts` may be a streaming
   *  frame; `preparedRef` must come from [[prepareReference]] with
   *  the same threshold. Output: alert columns + `ref_*` columns +
   *  `_DIST` (degrees, exact great-circle). Alerts matching nothing
   *  produce no row (inner join — the broker's "known object" path;
   *  feed the complement to discovery). Unsalted: salting would
   *  replicate the prepared static side per micro-batch. */
  def xmatchStream(alerts: DataFrame, raCol: String, decCol: String,
                   preparedRef: DataFrame, dthreshDeg: Double): DataFrame = {
    val o = preparedRef.select(max("__order")).first().getInt(0)
    Spatial.pixelJoin(alerts, raCol, decCol, preparedRef, "ref_" + raCol, "ref_" + decCol,
        dthreshDeg, o, saltKey = None)
      .drop("__pix", "__order")
  }
}
