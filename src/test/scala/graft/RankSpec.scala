package graft

import graft.operators.{Layout, Rank}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class RankSpec extends SparkSpecBase {
  import spark.implicits._

  /** [[Rank.globalRowNumber]] at an explicit range-partition count:
   *  the prefix-scan core it runs on, with a weight of one per row. */
  private def ranks(df: DataFrame, sortCols: Seq[Column], parts: Int): DataFrame =
    Rank.prefixScan(df, sortCols, Seq(Rank.Weight.One -> "rank"), "globalRowNumber", parts)._1

  test("globalRowNumber sizes the range exchange to the data, ranks unchanged") {
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
    val many = ranks(df, Seq(col("score"), col("id")), parts)
    assert(many.rdd.getNumPartitions == parts)
    assert(many.select("id", "rank").as[(Long, Long)].collect().toMap == expect)
  }

  test("prefixSums is exact under adaptive partitioning") {
    val df = (1 to 3000).map(i => (i.toLong, 1L)).toDF("id", "one")
    val cum = Rank.prefixSums(df, Seq(col("id")), Seq("one"))
    assert(cum.rdd.getNumPartitions == 1)
    val got = cum.select("id", "cum_one").as[(Long, Long)].collect().toMap
    assert((1 to 3000).forall(i => got(i.toLong) == i.toLong),
      "running totals must equal the closed form under the adaptive layout")
  }

  test("prefixSums reads INT sum columns as longs and refuses non-integral ones at the call") {
    val df = (1 to 300).map(i => (i.toLong, i * 7 % 11 - 5, i.toByte, i * 0.5)).toDF("k", "a", "b", "d")
    val expect = df.select(col("k"),
        sum("a").over(Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        sum("b").over(Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .as[(Long, Long, Long)].collect().toSet
    val got = Rank.prefixSums(df.repartition(4), Seq(col("k")), Seq("a", "b"))
      .select("k", "cum_a", "cum_b").as[(Long, Long, Long)].collect().toSet
    assert(got == expect, "INT and BYTE running sums equal the window's")
    val e = intercept[IllegalArgumentException](Rank.prefixSums(df, Seq(col("k")), Seq("a", "d")))
    assert(e.getMessage.contains("sum column 'd' must be integral"), e.getMessage)
  }

  test("globalRowNumber matches the single-task window across partitionings and counts") {
    val rnd = new scala.util.Random(17)
    val data = (1 to 5000).map(i => (i.toLong, rnd.nextInt(1000)))
    val df = data.toDF("id", "score")
    val expect = df.withColumn("rank",
        row_number().over(Window.orderBy("score", "id")).cast("long"))
      .select("id", "rank").as[(Long, Long)].collect().toMap
    for (parts <- Seq(1, 7); inputParts <- Seq(3, 32)) {
      val got = ranks(df.repartition(inputParts), Seq(col("score"), col("id")), parts)
        .select("id", "rank").as[(Long, Long)].collect().toMap
      assert(got == expect, s"parts=$parts inputParts=$inputParts")
    }
    val dflt = Rank.globalRowNumber(df.repartition(3), Seq(col("score"), col("id")))
      .select("id", "rank").as[(Long, Long)].collect().toMap
    assert(dflt == expect, "adaptive default")
  }

  test("globalRowNumber plan has a range exchange, never a single-task global sort window") {
    val df = (1 to 100).map(i => (i.toLong, i % 7)).toDF("id", "score")
    val ranked = ranks(df, Seq(col("score"), col("id")), parts = 8)
    // every partition holds a contiguous, sorted rank range
    val perPart = ranked.rdd.mapPartitionsWithIndex { case (i, it) =>
      val rs = it.map(_.getLong(2)).toSeq
      Iterator.single((i, rs))
    }.collect().filter(_._2.nonEmpty).sortBy(_._1)
    perPart.foreach { case (_, rs) =>
      assert(rs == (rs.head to rs.last), "ranks within a partition are contiguous+sorted")
    }
    val bounds = perPart.map { case (i, rs) => (i, rs.head, rs.last) }
    bounds.sliding(2).foreach {
      case Array((_, _, hi), (_, lo2, _)) => assert(hi + 1 == lo2, "partition ranges chain")
      case _ =>
    }
    assert(bounds.head._2 == 1L && bounds.last._3 == 100L)
    assert(perPart.length > 1, "the sort must actually be distributed")
  }

  test("kthSmallest: exact on duplicate-heavy, negative and wide-range multisets") {
    val rnd = new scala.util.Random(31)
    val data: Seq[Long] =
      Seq.fill(500)(rnd.nextInt(20).toLong) ++          // heavy duplicates
      Seq.fill(300)(-rnd.nextInt(1000).toLong) ++       // negatives
      Seq.fill(200)(rnd.nextLong() % (1L << 60)) ++     // wide range
      Seq(Long.MinValue / 4, Long.MaxValue / 4)         // extremes within the range guard
    val sorted = data.sorted
    val df = data.map(Tuple1(_)).toDF("v").repartition(7)
    val ks = Seq(1L, 2L, 77L, data.size / 2L, data.size - 1L, data.size.toLong)
    val got = graft.operators.Rank.kthSmallest(df, "v", ks)
    ks.foreach { k =>
      assert(got(k) == sorted((k - 1).toInt), s"k=$k: got ${got(k)}, want ${sorted((k - 1).toInt)}")
    }
    // nulls excluded, guards loud
    val withNulls = (data.map(Option(_)) ++ Seq.fill(50)(Option.empty[Long])).toDF("v")
    assert(graft.operators.Rank.kthSmallest(withNulls, "v", Seq(1L))(1L) == sorted.head)
    assert(intercept[IllegalArgumentException](
      graft.operators.Rank.kthSmallest(df, "v", Seq(0L))).getMessage.contains("outside"))
    assert(intercept[IllegalArgumentException](
      graft.operators.Rank.kthSmallest(df, "v", Seq(data.size + 1L))).getMessage.contains("outside"))
    assert(intercept[IllegalArgumentException](
      graft.operators.Rank.kthSmallest(
        Seq(Long.MinValue, Long.MaxValue).map(Tuple1(_)).toDF("v"), "v", Seq(1L)))
      .getMessage.contains("2^63"))
  }

  test("curriculum reproduces exact ntile semantics including the n < phases edge") {
    val df = (1 to 103).map(i => ((i * 37 % 103).toLong, i.toLong)).toDF("score", "id")
    for (k <- Seq(1, 4, 5, 103, 200)) {
      val got = Rank.curriculum(df, Seq(col("score"), col("id")), k)
        .select("id", "phase").as[(Long, Long)].collect().toMap
      val expect = df.withColumn("phase",
          ntile(k).over(Window.orderBy("score", "id")).cast("long"))
        .select("id", "phase").as[(Long, Long)].collect().toMap
      assert(got == expect, s"phases=$k")
    }
    assert(intercept[IllegalArgumentException](
      Rank.curriculum(df, Seq(col("score")), 0)).getMessage.contains("phases >= 1"))
  }

  test("quantileNormalize: identity on one group, distribution-equal groups align, max->max") {
    // single group: ranks r of n map to k = ceil(r*N/n) = r -> identity
    val one = (1 to 50).map(i => ("g", (i * 17 % 50).toLong, i.toLong)).toDF("src", "v", "id")
    val idt = Rank.quantileNormalize(one, "src", "v", "id")
      .select("v", "qnorm").as[(Long, Long)].collect()
    assert(idt.forall(r => r._1 == r._2), "one group must map onto itself")
    // two groups, same shape but shifted values: both map onto the SAME
    // pooled quantile sequence, and each group's max hits the pooled max
    val two = ((1 to 30).map(i => ("a", i.toLong, i.toLong)) ++
      (1 to 30).map(i => ("b", i + 1000L, 100L + i))).toDF("src", "v", "id")
    val out = Rank.quantileNormalize(two, "src", "v", "id")
      .select("src", "qnorm").as[(String, Long)].collect()
    val byGrp = out.groupBy(_._1).map { case (g, rs) => g -> rs.map(_._2).sorted.toSeq }
    assert(byGrp("a") == byGrp("b"), "equal-shaped groups must normalize identically")
    assert(byGrp("a").last == 1030L, "the group maximum maps to the pooled maximum")
  }

  test("prefixSums matches the single-task window across partitionings, multi-column") {
    val df = (1 to 500).map(i => ((i * 61 % 499).toLong, (i % 7).toLong, (i % 3).toLong))
      .toDF("k", "a", "b")
    val expect = df.withColumn("cum_a", sum("a").over(
        Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_b", sum("b").over(
        Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("k", "cum_a", "cum_b").as[(Long, Long, Long)].collect().toSet
    for (parts <- Seq(1, 4, 13)) {
      val got = Rank.prefixSums(df.repartition(parts), Seq(col("k")), Seq("a", "b"))
        .select("k", "cum_a", "cum_b").as[(Long, Long, Long)].collect().toSet
      assert(got == expect, s"input partitions=$parts")
    }
    // descending order: running totals walk the other way
    val desc = Rank.prefixSums(df, Seq(col("k").desc), Seq("a"))
      .select("k", "cum_a").as[(Long, Long)].collect()
    val total = (1 to 500).map(_ % 7).sum.toLong
    assert(desc.minBy(_._1)._2 == total, "the lowest key carries the full descending total")
    assert(intercept[IllegalArgumentException](
      Rank.prefixSums(df, Seq(col("k")), Seq())).getMessage.contains("at least one"))
  }

  test("prefixSums rejects nulls in a sum column with a named error, not an NPE") {
    val df = Seq((1L, Some(2L)), (2L, None), (3L, Some(4L)))
      .toDF("k", "a")
    val e = intercept[org.apache.spark.SparkException](
      Rank.prefixSums(df, Seq(col("k")), Seq("a")).collect())
    assert(e.getMessage.contains("null in sum column 'a'"),
      s"the task error must name the offending column: ${e.getMessage}")
  }

  test("parity property: the prefix-scan core equals a driver-side walk at 1, 3, 8 and adaptive parts") {
    // fixed seed, bounded sample count: duplicate sort keys broken by
    // id, zero and large weights, zero-size and oversized rows, plus
    // the one-row and the empty frame
    val target = 1000L
    val row = for {
      key <- Gen.choose(0, 4)
      w <- Gen.frequency(3 -> Gen.const(0L), 4 -> Gen.choose(-50L, 50L),
        2 -> Gen.choose(1L << 40, 1L << 44))
      size <- Gen.frequency(2 -> Gen.const(0L), 5 -> Gen.choose(1L, 400L),
        1 -> Gen.choose(target, 5 * target))
    } yield (key, w, size)
    val frames = Seq(Seq.empty[(Int, Long, Long)], Seq((2, 1L << 44, 3 * target))) ++
      Iterator.iterate(Seed(20261019L))(_.next).take(6)
        .map(seed => Gen.choose(2, 60).flatMap(n => Gen.listOfN(n, row))
          .pureApply(Gen.Parameters.default, seed))
    val by = Seq(col("key"), col("id"))
    frames.foreach { raw =>
      val rows = raw.zipWithIndex.map { case ((key, w, size), i) => (key, i.toLong, w, size) }
      val df = rows.toDF("key", "id", "w", "size").repartition(2)
      // reference: sort on the driver, walk once
      val sorted = rows.sortBy(r => (r._1, r._2))
      val ids = sorted.map(_._2)
      val walk = sorted.scanLeft((0L, 0L, 0L)) { case ((n, cw, cs), r) => (n + 1, cw + r._3, cs + r._4) }
      val expect = ids.zip(walk.tail).toMap
      for (parts <- Seq(1, 3, 8, 0)) {
        val (scanned, totals) = Rank.prefixScan(df, by,
          Seq(Rank.Weight.One -> "rank", Rank.Weight.Sum("w") -> "cum_w",
            Rank.Weight.Size("size") -> "cum_size"), "parity", parts)
        val got = scanned.select("id", "rank", "cum_w", "cum_size").as[(Long, Long, Long, Long)]
          .collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
        assert(got == expect, s"parts=$parts rows=$rows")
        assert(totals.toSeq == Seq(walk.last._1, walk.last._2, walk.last._3), s"parts=$parts totals")
      }
      // every operator on the core equals its reference at the default
      def byId(out: DataFrame, c: String): Map[Long, Long] =
        out.select(col("id"), col(c)).as[(Long, Long)].collect().toMap
      val n = rows.length
      val phases = 4
      val tiles = (1 to phases).flatMap(t => Seq.fill(n / phases + (if (t <= n % phases) 1 else 0))(t.toLong))
      assert(byId(Rank.globalRowNumber(df, by), "rank") == expect.map { case (i, e) => i -> e._1 })
      assert(byId(Rank.curriculum(df, by, phases), "phase") == ids.zip(tiles).toMap, s"rows=$rows")
      assert(byId(Rank.prefixSums(df, by, Seq("w")), "cum_w") == expect.map { case (i, e) => i -> e._2 })
      assert(byId(Layout.shardAssign(df, "size", by, target), "shard") ==
        ids.zip(walk.map(_._3 / target)).toMap, s"rows=$rows")
    }
  }

  test("quantileNormalize guards the rank*N int64 bound at exactly floor(sqrt(2^63-1))") {
    Rank.requireQnormBound(3037000499L) // the largest safe N passes
    val e = intercept[IllegalArgumentException](Rank.requireQnormBound(3037000500L))
    assert(e.getMessage.contains("overflow int64"), e.getMessage)
    // the bound itself is right: N^2 fits at the limit, not one past it
    assert(BigInt(3037000499L).pow(2) <= BigInt(Long.MaxValue))
    assert(BigInt(3037000500L).pow(2) > BigInt(Long.MaxValue))
  }
}
