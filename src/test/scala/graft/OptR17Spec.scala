package graft

import graft.operators.{Associations, Dedup, Rank}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-17 optimization invariants: scale-adaptive rank
  * partitioning, the incrementalNearDedup batch-broadcast guard, and
  * the fused basketPairs guard aggregate. */
class OptR17Spec extends SparkSpecBase {
  import spark.implicits._

  // ------------------------------------- Rank.adaptiveParts

  test("globalRowNumber with numPartitions=0 sizes the range exchange to the data, ranks unchanged") {
    val rnd = new scala.util.Random(41)
    val df = (1 to 4000).map(i => (i.toLong, rnd.nextInt(500))).toDF("id", "score")
    val expect = df.withColumn("rank",
        row_number().over(Window.orderBy("score", "id")).cast("long"))
      .select("id", "rank").as[(Long, Long)].collect().toMap
    // small frame + default 64 MB target -> ONE partition (and no
    // RangePartitioner sampling job), ranks identical to the window
    val one = Rank.globalRowNumber(df, Seq(col("score"), col("id")))
    assert(one.rdd.getNumPartitions == 1,
      s"a KB-sized frame must rank in one partition, got ${one.rdd.getNumPartitions}")
    assert(one.select("id", "rank").as[(Long, Long)].collect().toMap == expect)
    // tiny per-partition target -> clamped to the session parallelism,
    // ranks STILL identical (partitioning never changes the order)
    val parts = Rank.adaptiveParts(df, target = 1024)
    assert(parts == spark.conf.get("spark.sql.shuffle.partitions").toInt,
      s"a frame far above target bytes clamps to shuffle.partitions, got $parts")
    val many = Rank.globalRowNumber(df, Seq(col("score"), col("id")), numPartitions = parts)
    assert(many.rdd.getNumPartitions == parts)
    assert(many.select("id", "rank").as[(Long, Long)].collect().toMap == expect)
  }

  test("prefixSums with numPartitions=0 is exact under adaptive partitioning") {
    val df = (1 to 3000).map(i => (i.toLong, 1L)).toDF("id", "one")
    val cum = Rank.prefixSums(df, Seq(col("id")), Seq("one"))
    assert(cum.rdd.getNumPartitions == 1)
    val got = cum.select("id", "cum_one").as[(Long, Long)].collect().toMap
    assert((1 to 3000).forall(i => got(i.toLong) == i.toLong),
      "running totals must equal the closed form under the adaptive layout")
  }

  // ------------------------- incrementalNearDedup batch guard

  test("incrementalNearDedup refuses a batch above maxBatchRows loudly") {
    val history = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val batch = (10L to 19L).map(i => (i, s"doc number $i words here")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDedup(batch, history, "doc_id", "text", maxBatchRows = 5L)
    }
    assert(e.getMessage.contains("maxBatchRows") || e.getMessage.contains("batch rows"),
      s"guard must name the contract: ${e.getMessage}")
    // at/below the bound the operator still works
    val kept = Dedup.incrementalNearDedup(batch, history, "doc_id", "text", maxBatchRows = 10L)
    assert(kept.count() == 10L, "non-duplicate batch survives under the bound")
  }

  // ------------------------------- basketPairs fused guard job

  test("basketPairs: fused guard still enforces the hot-basket bound and lift uses the exact basket count") {
    val items = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "a"), (2L, "b"),
      (3L, "a")).toDF("basket", "item")
    val out = Associations.basketPairs(items, Seq("basket"), "item")
      .orderBy("item_a", "item_b").collect()
    // n_baskets = 3; {a,b} support 2, support_a 3, support_b 2:
    // lift_e6 = 2*3*1e6 / (3*2) = 1_000_000
    val ab = out.find(r => r.getString(0) == "a" && r.getString(1) == "b").get
    assert(ab.getLong(2) == 2L && ab.getLong(3) == 3L && ab.getLong(4) == 2L)
    assert(ab.getLong(5) == 1000000L, s"lift must use the fused basket count: $ab")
    val e = intercept[IllegalArgumentException] {
      Associations.basketPairs(items, Seq("basket"), "item", maxItemsPerBasket = 2L)
    }
    assert(e.getMessage.contains("largest basket"))
  }
}
