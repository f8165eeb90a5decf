package graft

import org.apache.spark.sql.functions._

/** Round-10 additions: the Top-N + OTHER rollup. */
class R15QuerySpec extends SparkSpecBase {

  private def q(name: String) = QueryRegistry.all.toMap.apply(name).run(spark, sf("sf0.001"))

  test("q_topn_other: totals reconcile, exactly 5 named + 1 OTHER, top-k not a global sort") {
    val df = q("q_topn_other")
    val rows = df.collect()
    assert(rows.length == 6, "5 suppliers + the OTHER residual")
    val (named, other) = rows.partition(_.getString(0) != "OTHER")
    assert(named.length == 5 && other.length == 1)
    // the residual + top-5 must reconcile to the whole fact table
    val total = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
      .agg(sum(floor(col("l_extendedprice") * 100).cast("long"))).collect()(0).getLong(0)
    assert(rows.map(_.getLong(1)).sum == total, "contribution view must reconcile exactly")
    // every named supplier beats (or ties) the residual's biggest member
    val namedMin = named.map(_.getLong(1)).min
    val perSupplier = spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
      .groupBy("l_suppkey").agg(sum(floor(col("l_extendedprice") * 100).cast("long")).as("c"))
      .collect().map(_.getLong(1)).sorted.reverse
    assert(namedMin == perSupplier(4), "top 5 must really be the 5 largest")
    // distributed TakeOrdered, never a global Sort for the top side
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"top-k must be TakeOrdered:\n$plan")
  }
}
