package graft

/** Plan-shape guards for the round-8 operators: the properties that
 *  make them survive a 100x scale-up, asserted on the executed plan
 *  so a refactor cannot silently regress them. */
class R8PlanSpec extends SparkSpecBase {

  test("q_anomaly: stats join back as broadcasts, no corpus-sized sort-merge join") {
    val df = QueryRegistry.all.toMap.apply("q_anomaly").run(spark, sf("sf0.001"))
    val plan = df.queryExecution.executedPlan.toString
    val smj = "SortMergeJoin".r.findAllIn(plan).size
    val shj = "ShuffledHashJoin".r.findAllIn(plan).size
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(smj + shj == 0, s"the corpus must never shuffle for a join — stats broadcast:\n$plan")
    assert(bhj >= 2, s"median and MAD stats must both join as broadcasts:\n$plan")
  }

  test("q_kmv: the ranking window is fed by the bounded per-partition heap") {
    val df = QueryRegistry.all.toMap.apply("q_kmv").run(spark, sf("sf0.001"))
    val plan = df.queryExecution.executedPlan.toString
    // partitionTopK is a mapPartitions (SerializeFromObject/MapPartitions
    // in the plan) sitting under the window — without it the window
    // sorts every distinct hash of a group on one task
    assert(plan.contains("MapPartitions"),
      s"kmv must bound the window input with the partition top-k heap:\n$plan")
    assert(plan.contains("Window"), s"exact selection window missing:\n$plan")
  }

  test("text_winnow: map-only corpus pass (no shuffle before the fingerprint explode)") {
    val df = graft.operators.TextAnalysis.winnowFingerprints(
      spark.read.parquet(sf("sf0.001") + "/documents.parquet"), "doc_id", "text")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"winnowFingerprints must be map-only — no Exchange in:\n$plan")
    assert(plan.contains("Generate"), s"fingerprint explode missing:\n$plan")
  }
}
