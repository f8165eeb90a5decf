package graft

/** Plan-shape guards for the round-9 operators. */
class R10PlanSpec extends SparkSpecBase {

  private def planOf(name: String): String =
    QueryRegistry.all.toMap.apply(name).run(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString

  test("q21_waiting: one-scan rewrite — exactly one lineitem scan, no correlated self-join") {
    val plan = planOf("q21_waiting")
    val liScans = plan.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    assert(liScans <= 1, s"expected <= 1 lineitem scan, got $liScans:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the supplier dim must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-10 must be a distributed TakeOrdered, not a global sort:\n$plan")
  }

  test("q_resample: the carry window partitions by key — never a single-task global window") {
    val plan = planOf("q_resample")
    assert(!plan.contains("Exchange SinglePartition"),
      s"LOCF window must stay per-key parallel:\n$plan")
  }
}
