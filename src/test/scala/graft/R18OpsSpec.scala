package graft

import org.apache.spark.sql.functions._

/** Round-11 late additions: Theil-Sen, pipeline plan shapes, attribution. */
class R18OpsSpec extends SparkSpecBase {

  test("theilSen: hand-computed lower median of pairwise slopes") {
    import spark.implicits._
    // Series (0,0) (1,2) (2,4) (3,100): pairwise slopes
    //   (0,1)=2 (0,2)=2 (0,3)=33.33->33333333333e-9 trunc
    //   (1,2)=2 (1,3)=49 (2,3)=96
    // ascending e9: [2e9, 2e9, 2e9, 33333333333, 49e9, 96e9]
    // m=6, lower median rank (6+1) div 2 = 3 -> 2e9
    val df = Seq(("a", 0L, 0L), ("a", 1L, 2L), ("a", 2L, 4L), ("a", 3L, 100L))
      .toDF("k", "x", "y")
    val out = graft.operators.Stats.theilSen(df, Seq("k"), "x", "y")
      .as[(String, Long, Long)].collect()
    assert(out.toSeq == Seq(("a", 6L, 2000000000L)))
  }

  test("theilSen shrugs off the outlier that drags the OLS fit") {
    import spark.implicits._
    // y = 3x exactly except one wild point: robust slope stays 3.
    // the wild point sits at the END of the x range (a mid-range
    // outlier at mean(x) would leave the OLS slope untouched)
    val pts = (0L to 10L).map(x => ("g", x, if (x == 10) 100000L else 3 * x))
    val df = pts.toDF("k", "x", "y")
    val ts = graft.operators.Stats.theilSen(df, Seq("k"), "x", "y")
      .select("ts_slope_e9").as[Long].head()
    assert(ts == 3000000000L)
    val ols = graft.operators.Stats.groupedTrend(df, Seq("k"), "x", "y")
      .select("slope_e9").as[Long].head()
    assert(math.abs(ols - 3000000000L) > 100000000000L, s"OLS must be dragged, got $ols")
  }

  test("theilSen: negative slopes truncate toward zero; sub-2-point groups vanish") {
    import spark.implicits._
    // (0,0) (3,-1): slope -1/3 -> e9-scaled trunc toward zero = -333333333
    val df = Seq(("n", 0L, 0L), ("n", 3L, -1L), ("solo", 7L, 7L)).toDF("k", "x", "y")
    val out = graft.operators.Stats.theilSen(df, Seq("k"), "x", "y")
      .as[(String, Long, Long)].collect()
    assert(out.toSeq == Seq(("n", 1L, -333333333L)))
  }

  test("theilSen rejects non-integral value columns") {
    import spark.implicits._
    val df = Seq(("a", 1L, 1.5)).toDF("k", "x", "y")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Stats.theilSen(df, Seq("k"), "x", "y")
    }
    assert(e.getMessage.contains("integral"))
  }

  test("pipeline_alert plan: both fan-out subtrees read pins, not re-executed parquet scans") {
    // the flag chain ends in a broadcast build and ReuseExchange does
    // not fire across broadcast sub-executions — without the r16 pins
    // the orders x customer join and the pix x yr rollup executed
    // twice (visible as repeated parquet scans in the executed plan)
    val df = QueryRegistry.all.toMap.apply("pipeline_alert").run(spark, "/root/testdata/sf0.001")
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    val parquetScans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(parquetScans == 0,
      s"every downstream consumer must read the pinned subtrees ($parquetScans parquet scans):\n" +
        plan.linesIterator.filter(_.contains("Scan parquet")).mkString("\n"))
  }

  test("pipeline_release: gate/split/packing invariants hold on real sf0.01 documents") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.01"
    val rel = QueryRegistry.all.toMap.apply("pipeline_release").run(spark, dir)
    val rows = rel.collect()
    assert(rows.nonEmpty, "the release gate must publish something at sf0.01")
    // k-anonymity suppression gate: every released source group >= 5
    val bySource = rows.groupBy(_.getAs[String]("source")).view.mapValues(_.length)
    bySource.foreach { case (src, n) => assert(n >= 5, s"source $src released with only $n docs") }
    // near-dup dedup: no released doc has a verified J >= 0.8 twin of smaller id
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val dropped = graft.operators.Dedup.nearDuplicates(docs, "doc_id", "text", minJaccard = 0.8)
      .select("id_b").as[Long].collect().toSet
    val released = rows.map(_.getAs[Long]("doc_id")).toSet
    assert(released.intersect(dropped).isEmpty, "a near-duplicate leaked through the release gate")
    // split labels valid; packing: every sequence fits the budget unless it is a single oversize doc
    rows.foreach(r => assert(Set("train", "val", "test")(r.getAs[String]("split"))))
    rows.groupBy(r => (r.getAs[Long]("bucket"), r.getAs[Long]("seq"))).foreach { case (k, rs) =>
      val tot = rs.map(_.getAs[Long]("n_tok")).sum
      assert(tot <= 512 || rs.length == 1, s"sequence $k overruns the budget: $tot tokens in ${rs.length} docs")
      assert(rs.map(_.getAs[Long]("seq_pos")).sorted.toSeq == (1L to rs.length).toSeq,
        s"sequence $k has non-dense positions")
    }
  }

  test("multi-touch attribution conserves cents exactly against an independent recompute") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val credited = QueryRegistry.all.toMap.apply("q_attribution_multi").run(spark, dir)
      .agg(sum("credit_cents")).as[Long].head()
    // independent: total cents of purchases with >= 1 prior touch in 24h
    val e = EventsTable.rawNanosTs(EventsTable.read(spark, s"$dir/events.parquet"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("us"), col("value"))
    val touches = e.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("us").as("t_us"))
    val expected = e.filter(col("event_type") === "purchase")
      .join(touches, Seq("user_id"))
      .filter(col("t_us") < col("us") && col("us") - col("t_us") <= 86400000000L)
      .select(col("event_id"), expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      .distinct()
      .agg(sum("cents")).as[Long].head()
    assert(credited == expected,
      s"largest-remainder apportionment must conserve: credited $credited vs $expected")
  }
}
