package graft

import graft.operators.Multimodal

/** Plan-shape guards for the multimodal dedup additions: every
  * decode+hash pass must stay MAP-ONLY (no Exchange before the final
  * bounded aggregate). */
class R12PlanSpec extends SparkSpecBase {

  private def planOf(name: String): String =
    QueryRegistry.all.toMap.apply(name).run(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString

  test("imagePhash / audioFingerprint / sceneChanges: decode passes are exchange-free") {
    import spark.implicits._
    val ids = (0L until 8L).map(i => (i, i % 4)).toDF("doc_id", "pattern")
    val phash = Multimodal.imagePhash(spark,
      Multimodal.synthesizePngsKeyed(spark, ids, "doc_id", "pattern").toDF())
      .queryExecution.executedPlan.toString
    assert(!phash.contains("Exchange"), s"imagePhash must be map-only:\n$phash")
    val afp = Multimodal.audioFingerprint(spark,
      Multimodal.synthesizeWavsKeyed(spark, ids, "doc_id", "pattern").toDF())
      .queryExecution.executedPlan.toString
    assert(!afp.contains("Exchange"), s"audioFingerprint must be map-only:\n$afp")
    val sc = Multimodal.sceneChanges(spark,
      Multimodal.synthesizeSceneAvis(spark, ids.select("doc_id"), "doc_id").toDF())
      .queryExecution.executedPlan.toString
    assert(!sc.contains("Exchange"), s"sceneChanges must be map-only:\n$sc")
  }

  test("multimodal_phash: one aggregate shuffle after the map-only hash pass") {
    val plan = planOf("multimodal_phash")
    assert(!plan.contains("Exchange SinglePartition") || plan.contains("TakeOrdered"),
      s"dup-group aggregate must stay parallel:\n$plan")
    assert(!plan.contains("Join"), s"no join in the dup-group path:\n$plan")
  }

  test("phashNearDup: band join runs over DISTINCT hashes (every join input is aggregated)") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
    val hashed = (0L until 32L).map(i => Multimodal.PhashRow(i, i % 4)).toDS()
    val plan = Multimodal.phashNearDup(hashed).queryExecution.optimizedPlan
    // The group-collapse aggregate must sit BELOW every join — in
    // particular below BOTH sides of the chunk self-join, so raw copy
    // multiplicity can never reach the band buckets. A regression
    // that banded raw rows would give the self-join a raw relation
    // child with no Aggregate beneath it.
    def hasAgg(p: LogicalPlan): Boolean = p.collectFirst { case a: Aggregate => a }.isDefined
    val joins = plan.collect { case j: Join => j }
    assert(joins.nonEmpty, s"expected the banded self-join:\n$plan")
    joins.foreach { j =>
      assert(hasAgg(j.left) && hasAgg(j.right),
        s"every join input must read the distinct-hash aggregate, never raw rows:\n$plan")
    }
  }
}
