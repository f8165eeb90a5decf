package graft

/** Plan-shape guards for the round-8 continuation operators — the
 *  scale properties asserted on executed plans so refactors cannot
 *  silently regress them. */
class R9PlanSpec extends SparkSpecBase {

  private def planOf(name: String): String =
    QueryRegistry.all.toMap.apply(name).run(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString

  test("sample_curriculum: ranking runs on a RANGE exchange, not a single-task global window sort") {
    val plan = planOf("sample_curriculum")
    assert(plan.contains("rangepartitioning"),
      s"global rank must range-partition (distributed sort):\n$plan")
    // a Window with an empty PARTITION BY (the single-task shape) would
    // show as 'Window [...]' fed by 'Exchange SinglePartition'
    assert(!plan.contains("Exchange SinglePartition"),
      s"no stage may collapse to a single partition:\n$plan")
  }

  test("q_merge: update-batch window and the merge join share ONE hash partitioning per side") {
    val plan = planOf("q_merge")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    // base side + update side = 2 hash exchanges; the update-side
    // window reuses its exchange for the join (same key) instead of
    // shuffling the batch twice
    assert(exchanges <= 3, s"merge must not re-shuffle a side ($exchanges hash exchanges):\n$plan")
    assert(plan.contains("FullOuter"), s"upsert is a full-outer join:\n$plan")
  }

  test("q10_returns: dims broadcast, top-20 is a distributed TakeOrderedAndProject") {
    val plan = planOf("q10_returns")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be per-partition TakeOrdered, not a global sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"nation must broadcast:\n$plan")
  }

  test("q_winsorize: percentile stats broadcast back; the corpus never shuffles for the stats join") {
    val plan = planOf("q_winsorize")
    assert(plan.contains("BroadcastHashJoin"),
      s"winsorize thresholds must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the event stream must not sort-merge against the tiny stats:\n$plan")
  }

  test("q19_brackets: each side's OR slice pushes below the join into its scan") {
    val plan = planOf("q19_brackets")
    // Catalyst's CNF extraction must derive a part-only OR (brand and
    // size brackets) and push it into the part scan's PushedFilters —
    // without it every part row rides the join
    assert("PushedFilters: \\[[^\\]]*Or\\(Or\\(And\\(EqualTo\\(p_brand".r.findFirstIn(plan).isDefined,
      s"part-side brand/size OR slice must reach the part scan:\n$plan")
    assert("PushedFilters: \\[[^\\]]*Or\\(Or\\(And\\(GreaterThanOrEqual\\(l_quantity".r
      .findFirstIn(plan).isDefined,
      s"lineitem-side quantity OR slice must reach its scan:\n$plan")
  }

  test("text_entropy and q_profile aggregate with map-side partials (no raw-row shuffle)") {
    for (q <- Seq("text_entropy", "q_profile")) {
      val df = QueryRegistry.all.toMap.apply(q).run(spark, sf("sf0.001"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("HashAggregate") || !plan.contains("Exchange"),
        s"$q must partially aggregate before any exchange:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q must not cross-join:\n$plan")
    }
  }
}
