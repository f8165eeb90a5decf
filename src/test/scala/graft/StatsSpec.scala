package graft

import graft.operators.{Associations, Stats}
import org.apache.spark.sql.functions._

class StatsSpec extends SparkSpecBase {
  import spark.implicits._

  test("groupedTrend recovers a hand-computed slope exactly (trunc toward zero, both signs)") {
    // group a: y = 3x + 7 exactly -> slope_e9 = 3e9
    // group b: y = -2x -> slope_e9 = -2e9
    // group c: points (0,0),(1,1),(2,1): slope = (3*3 - 3*2)/(3*5 - 9) = 3/6 -> 0.5e9
    val df = (Seq.tabulate(5)(i => ("a", i.toLong, 3L * i + 7)) ++
      Seq.tabulate(5)(i => ("b", i.toLong, -2L * i)) ++
      Seq(("c", 0L, 0L), ("c", 1L, 1L), ("c", 2L, 1L))).toDF("k", "x", "y")
    val got = Stats.groupedTrend(df, Seq("k"), "x", "y")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("a") == (5L, 3000000000L))
    assert(got("b") == (5L, -2000000000L))
    assert(got("c") == (3L, 500000000L))
  }

  test("groupedTrend: zero x-variance yields null; null y rows are excluded from every moment") {
    val df = Seq(("a", 5L, Some(1L)), ("a", 5L, Some(9L)),
      ("b", 0L, Some(0L)), ("b", 1L, None), ("b", 2L, Some(4L))).toDF("k", "x", "y")
    val got = Stats.groupedTrend(df, Seq("k"), "x", "y")
      .collect().map(r => r.getString(0) -> (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got("a") == (2L, None), "degenerate x must not divide by zero")
    // b: only (0,0) and (2,4) count -> slope 2
    assert(got("b") == (2L, Some(2000000000L)))
  }

  test("groupedTrend is partitioning-invariant (integer moments)") {
    val ev = graft.EventsTable.normalizeTs(
        spark.read.parquet(sf("sf0.001") + "/events.parquet"))
      .withColumn("x", expr("unix_micros(ts) div 1000000") - lit(1704067200L))
      .withColumn("cents", expr("CAST(floor(value * 100) AS BIGINT)"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.groupedTrend(d, Seq("event_type"), "x", "cents")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(ev.repartition(1)) == run(ev.repartition(11, col("event_id"))))
  }

  test("basketPairs: hand-computed support and lift, pairs unordered and exactly-once") {
    // baskets: 1:{x,y}, 2:{x,y,z}, 3:{x}, 4:{z} -> n_baskets 4
    // {x,y}: support 2, sup_x 3, sup_y 2 -> lift = 2*4/(3*2) = 1.333333
    val df = Seq((1L, "x"), (1L, "y"), (1L, "y"), (2L, "x"), (2L, "y"), (2L, "z"),
      (3L, "x"), (4L, "z")).toDF("b", "item")
    val got = Associations.basketPairs(df, Seq("b"), "item")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got(("x", "y")) == (2L, 3L, 2L, 1333333L))
    assert(got(("x", "z")) == (1L, 3L, 2L, 666666L))
    assert(got(("y", "z")) == (1L, 2L, 2L, 1000000L))
    assert(got.size == 3)
  }

  test("basketPairs guards the hot-basket blowup and null items are dropped") {
    val hot = Seq.tabulate(60)(i => (1L, s"i$i")).toDF("b", "item")
    assert(intercept[IllegalArgumentException] {
      Associations.basketPairs(hot, Seq("b"), "item", maxItemsPerBasket = 50L)
    }.getMessage.contains("basketPairs"))
    val withNull = Seq((1L, "x"), (1L, null.asInstanceOf[String]), (1L, "y")).toDF("b", "item")
    assert(Associations.basketPairs(withNull, Seq("b"), "item").count() == 1L)
  }

  test("paretoFront2d matches brute-force dominance on random data") {
    val rnd = new scala.util.Random(23)
    val rows = (1L to 500L).map(i => (i, rnd.nextInt(40).toLong, rnd.nextInt(1000).toLong))
    val df = rows.toDF("id", "x", "y").repartition(7)
    val fast = Stats.paretoFront2d(df, "x", "y").select("id").collect().map(_.getLong(0)).toSet
    val slow = rows.filter { case (_, x, y) =>
      !rows.exists { case (_, bx, by) => bx <= x && by >= y && (bx < x || by > y) }
    }.map(_._1).toSet
    assert(fast == slow)
    assert(fast.nonEmpty)
  }

  test("paretoFront2d keeps equal-point ties and drops same-x dominated rows") {
    val df = Seq((1L, 0L, 10L), (2L, 0L, 10L), (3L, 0L, 5L), (4L, 1L, 10L), (5L, 1L, 11L))
      .toDF("id", "x", "y")
    val out = Stats.paretoFront2d(df, "x", "y").select("id").collect().map(_.getLong(0)).toSet
    // (1,2): equal points — neither dominates (no strict side); 3 dominated
    // same-x; 4 dominated by 1 (earlier x, equal y); 5 survives (higher y)
    assert(out == Set(1L, 2L, 5L))
  }

  test("chiSquare2x2 matches the closed-form statistic") {
    // cells a=10 b=20 c=20 d=10 -> chi2 = 60*(100-400)^2/30^4 = 6.666...
    val rows = Seq.fill(10)((0, 1)) ++ Seq.fill(20)((0, 0)) ++
      Seq.fill(20)((1, 1)) ++ Seq.fill(10)((1, 0))
    val out = Stats.chiSquare2x2(rows.toDF("v", "s").repartition(3), "v", "s").head()
    assert((out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3)) == ((10L, 20L, 20L, 10L)))
    assert(out.getLong(4) == 60L)
    assert(out.getLong(5) == 6666666L, s"chi2_e6 = ${out.getLong(5)}")
  }

  test("chiSquare2x2: independent table gives 0, zero margin gives null") {
    val indep = Seq.fill(5)((0, 1)) ++ Seq.fill(5)((0, 0)) ++
      Seq.fill(5)((1, 1)) ++ Seq.fill(5)((1, 0))
    assert(Stats.chiSquare2x2(indep.toDF("v", "s"), "v", "s").head().getLong(5) == 0L)
    val allConv = Seq((0, 1), (1, 1))
    assert(Stats.chiSquare2x2(allConv.toDF("v", "s"), "v", "s").head().isNullAt(5))
  }

  test("mannWhitney matches hand-computed U and tie-corrected z") {
    // A={2,3}, B={1}: U_A = 2 (both A values beat b), u2 = 4,
    // z = (2 - 1) / sqrt((2*1/12) * 4) = 1.224745
    val df = Seq((2L, true), (3L, true), (1L, false)).toDF("v", "a")
    val r = Stats.mannWhitney(df, "v", "a").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 1L, 4L)))
    assert(r.getDouble(3) == 1.224745, s"z = ${r.getDouble(3)}")
    // fully tied input: tie correction kills the variance -> null z,
    // and the all-tied u2 is n_a * n_b (every pair counts half)
    val tied = Seq((5L, true), (5L, false), (5L, false)).toDF("v", "a")
    val t = Stats.mannWhitney(tied, "v", "a").head()
    assert(t.getLong(2) == 2L && t.isNullAt(3), t.toString)
  }

  test("cuped matches hand-computed pooled theta and adjusted means exactly") {
    // pooled fit: theta = (4*307000 - 1000*1020)/(4*300000 - 1000^2) = 1.04
    // adj0 = 150 + 1.04*100 = 254, adj1 = 360 - 1.04*100 = 256 (e6-scaled)
    val units = Seq((0L, 100L, 100L), (0L, 200L, 200L), (1L, 300L, 310L), (1L, 400L, 410L))
      .toDF("variant", "pre", "post")
    val out = Stats.cuped(units.repartition(3), "variant", "pre", "post")
      .orderBy("variant").collect()
    assert(out.map(_.getLong(4)).toSeq == Seq(1040000L, 1040000L), "theta_e6")
    assert(out.map(_.getLong(5)).toSeq == Seq(150000000L, 360000000L), "raw_mean_e6")
    assert(out.map(_.getLong(6)).toSeq == Seq(254000000L, 256000000L), "adj_mean_e6")
  }

  test("cuped: zero pre-period variance yields null theta and adjustment") {
    val units = Seq((0L, 7L, 10L), (0L, 7L, 20L), (1L, 7L, 30L)).toDF("variant", "pre", "post")
    val out = Stats.cuped(units, "variant", "pre", "post").orderBy("variant").collect()
    assert(out.forall(r => r.isNullAt(4) && r.isNullAt(6)), "degenerate covariate -> null")
    assert(out.map(_.getLong(5)).toSeq == Seq(15000000L, 30000000L), "raw means still exact")
  }

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
