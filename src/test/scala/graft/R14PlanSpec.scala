package graft

import org.apache.spark.sql.functions._

/** Round-10 additions: YoY lag-window shape and light-curve
  * variability features. */
class R14PlanSpec extends SparkSpecBase {

  private def q(name: String) = QueryRegistry.all.toMap.apply(name).run(spark, sf("sf0.001"))

  test("q_yoy: nation broadcasts; the lag window sorts the rollup, not the fact table") {
    val df = q("q_yoy")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"nation dim must broadcast:\n$plan")
    // the Window must consume an Aggregate, never the raw orders scan
    val opt = df.queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val wins = opt.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.child.collectFirst { case a: Aggregate => a }.isDefined),
      s"lag window must sit above the nation×year aggregate:\n$opt")
    assert(df.count() > 0)
  }

  test("q_lcfeatures: white noise gives eta near 2, a smooth ramp near 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions.timestamp_micros
    val DayUs = 86400000000L
    def series(key: Long, ys: Seq[Double]) = ys.zipWithIndex.map { case (y, i) =>
      (key, (i + 1).toLong, i * DayUs / 24, y)
    }
    // deterministic pseudo-noise vs a monotone ramp
    val noise = series(1L, (0 until 64).map(i => ((i * 2654435761L) % 1000).toDouble / 100.0))
    val ramp = series(2L, (0 until 64).map(i => i.toDouble / 10.0))
    val df = (noise ++ ramp).toDF("user_id", "event_id", "us", "value")
      .withColumn("ts", timestamp_micros(col("us")))
    val e4 = df.withColumn("y", floor(col("value") * 10000).cast("long"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("us", "event_id")
    val out = e4.withColumn("dy", col("y") - lag("y", 1).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("y").as("sy"), sum(col("y") * col("y")).as("syy"),
        sum(col("dy") * col("dy")).as("n1"))
      .select(col("user_id"), (col("n1").cast("double") * col("n") /
        (col("n") * col("syy") - col("sy") * col("sy"))).as("eta"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) > 1.2 && out(1L) < 3.0, s"noise eta ~ 2: ${out(1L)}")
    assert(out(2L) < 0.1, s"ramp eta ~ 0: ${out(2L)}")
  }
}
