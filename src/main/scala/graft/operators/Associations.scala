package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Association mining over baskets — the market-basket view of event
 * and document streams (which items/behaviors co-occur inside one
 * session, one document, one order). The collocation miner
 * (TextAnalysis) scores ADJACENT bigrams; this scores UNORDERED
 * co-membership, the classic support/lift formulation.
 */
object Associations {

  /**
   * Pairwise co-occurrence with support and lift: for every unordered
   * item pair {a, b}, the number of baskets containing BOTH
   * (`support`), each item's own basket count, and
   * `lift_e6 = support * n_baskets * 1e6 / (support_a * support_b)`
   * as a truncated integer — lift > 1 means the pair co-occurs more
   * often than independence predicts. All quantities are integer
   * counts and the lift operands are positive, so a SQL oracle
   * replays the numbers exactly (trunc-div == floor-div on
   * positives).
   *
   * Scale shape: baskets dedupe to distinct (basket, item) rows
   * (one map-side-combined distinct); the pair join is WITHIN-basket
   * only — quadratic in a basket's DISTINCT item count, never in the
   * corpus — and `maxItemsPerBasket` guards the hot-basket blowup
   * with one cheap aggregate. Item supports join back onto the
   * (itemVocab^2)-bounded pair table, not onto the corpus.
   */
  def basketPairs(df: DataFrame, basketCols: Seq[String], itemCol: String,
                  minSupport: Long = 1L,
                  maxItemsPerBasket: Long = 10000L): DataFrame = {
    require(basketCols.nonEmpty, "basketPairs: at least one basket column")
    require(minSupport >= 1L, s"basketPairs: minSupport must be >= 1, got $minSupport")
    // the distinct basket-item table feeds the guard and four faces of
    // the returned plan; the columnar cache keeps the within-basket
    // self-join scanning compressed batches (owned by the result)
    val items = CacheUtil.cached(df
      .select((basketCols.map(col) :+ col(itemCol).as("item")): _*)
      .filter(col("item").isNotNull)
      .distinct())
    // ONE job answers both guard questions: the per-basket rollup's
    // max is the hot-basket bound and its row count IS the distinct
    // basket count (items is already distinct over basket+item) — the
    // old shape paid a second distinct+count scan for nBaskets
    val guard = items.groupBy(basketCols.map(col): _*).agg(count(lit(1)).as("n"))
      .agg(max("n"), count(lit(1))).collect()(0)
    if (!guard.isNullAt(0))
      require(guard.getLong(0) <= maxItemsPerBasket,
        s"basketPairs: largest basket holds ${guard.getLong(0)} distinct items " +
          s"(> $maxItemsPerBasket) — the within-basket pair join would explode; " +
          "prune hot baskets or raise the bound explicitly")
    val nBaskets = guard.getLong(1)
    val itemSupport = items.groupBy("item").agg(count(lit(1)).as("s"))
    val a = items.select(basketCols.map(col) :+ col("item").as("item_a"): _*)
    val b = items.select(basketCols.map(col) :+ col("item").as("item_b"): _*)
    a.join(b, basketCols)
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
      // vocab-bounded build sides — broadcast EXPLICITLY to pin the
      // strategy independent of the planner's size estimates: these
      // joins must never shuffle the pair table on item ids, and the
      // support tables are bounded by the item vocabulary regardless
      // of corpus scale
      .join(broadcast(itemSupport.select(col("item").as("item_a"), col("s").as("support_a"))), "item_a")
      .join(broadcast(itemSupport.select(col("item").as("item_b"), col("s").as("support_b"))), "item_b")
      .withColumn("lift_e6",
        expr(s"(support * ${nBaskets}L * 1000000) div (support_a * support_b)"))
      .select("item_a", "item_b", "support", "support_a", "support_b", "lift_e6")
  }
}
