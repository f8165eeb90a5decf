package graft

import graft.operators.{Layout, Rank}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpecBase {
  import spark.implicits._

  /** (id, bytes, bytes before the row) of the "bytes" size column at
   *  `parts` range partitions: [[Layout.shardAssign]]'s prefix scan. */
  private def bytesBefore(rows: DataFrame, sortCols: Seq[Column], parts: Int): Array[(Long, Long, Long)] =
    Rank.prefixScan(rows, sortCols, Seq(Rank.Weight.Size("bytes") -> "cum"), "shardAssign", parts)._1
      .select(col("id"), col("bytes"), col("cum") - col("bytes")).as[(Long, Long, Long)].collect()

  test("zvalue: golden bit interleave, mask, and column bit ownership") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (255L, 255L), (256L, 0L))
      .toDF("u", "v")
      .withColumn("z", Layout.zvalue(Seq(col("u"), col("v")), bits = 8))
    val z = df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(z((0L, 0L)) == 0L)
    assert(z((1L, 0L)) == 1L, "column 0 owns even bit positions")
    assert(z((0L, 1L)) == 2L, "column 1 owns odd bit positions")
    // u=3 (011) -> bits 0,2 ; v=5 (101) -> bits 1,5 => 1+4+2+32 = 39
    assert(z((3L, 5L)) == 39L)
    assert(z((255L, 255L)) == 65535L, "max bucket fills all 16 bits")
    assert(z((256L, 0L)) == 0L, "inputs masked to the low `bits` bits")
  }

  test("zvalue: contiguous z-ranges are small hyper-rectangles (locality)") {
    // full 32x32 grid at bits=5: each aligned 64-value z-range must span
    // exactly an 8x8 tile of (u, v) space
    val grid = (for { u <- 0 until 32; v <- 0 until 32 } yield (u.toLong, v.toLong))
      .toDF("u", "v")
    val stats = Layout.zClusterStats(grid, Seq("u", "v"), bits = 5, bucketBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(3) - r.getLong(2), r.getLong(5) - r.getLong(4)))
    assert(stats.length == 16, "1024 cells / 64 per bucket = 16 buckets")
    stats.foreach { case (b, n, du, dv) =>
      assert(n == 64L, s"bucket $b holds $n rows")
      assert(du == 7L && dv == 7L, s"bucket $b spans ${du + 1}x${dv + 1}, want 8x8")
    }
  }

  test("writeZOrdered: per-file min/max tight on BOTH dims; single-dim sort is not") {
    val grid = (for { u <- 0 until 64; v <- 0 until 64 } yield (u.toLong, v.toLong))
      .toDF("u", "v")
    val zDir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val sDir = java.nio.file.Files.createTempDirectory("graft_sorted").toString
    Layout.writeZOrdered(grid, zDir, Seq("u", "v"), bits = 6, numFiles = 16)
    grid.repartitionByRange(16, col("u")).sortWithinPartitions("u")
      .write.mode("overwrite").parquet(sDir)
    def perFileMaxRange(dir: String): (Long, Long) = {
      val byFile = spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg((max("u") - min("u")).as("du"), (max("v") - min("v")).as("dv"))
        .agg(max("du"), max("dv")).collect()(0)
      (byFile.getLong(0), byFile.getLong(1))
    }
    val (zdu, zdv) = perFileMaxRange(zDir)
    val (sdu, sdv) = perFileMaxRange(sDir)
    // z-order: every file covers a contiguous z range ~ a few 16x16
    // tiles -> both dims bounded well under the 0..63 domain
    assert(zdu <= 31 && zdv <= 31, s"z-ordered per-file ranges must be tight: du=$zdu dv=$zdv")
    // single-dim sort bounds u but leaves v spanning the full domain
    assert(sdu <= 7, s"u-sorted layout should bound u (got $sdu)")
    assert(sdv == 63, s"u-sorted layout cannot bound v (got $sdv)")
    assert(zdv < sdv, "z-order must beat single-dim sort on the second dimension")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(zDir))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(sDir))
  }

  test("zClusterStats validates bucketBits; zvalue validates width") {
    val df = Seq((1L, 1L)).toDF("u", "v")
    intercept[IllegalArgumentException] {
      Layout.zClusterStats(df, Seq("u", "v"), bits = 8, bucketBits = 17)
    }
    intercept[IllegalArgumentException] {
      Layout.zvalue(Seq(col("u"), col("v")), bits = 32)
    }
  }

  test("compact rewrites a small-file tail into the target file count, content-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    val df = spark.range(0, 20000).select($"id", ($"id" % 97).as("k"))
    df.repartition(40).write.parquet(dir) // a 40-small-file tail
    val before = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(before == 40)
    val bytes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    // target half the data per file -> expect exactly 2 output files
    val (nb, na) = Layout.compact(spark, dir, targetFileBytes = math.max(1L << 20, bytes / 2 + 1))
    assert(nb == 40 && (na == 1 || na == 2), s"expected 1-2 compacted files, got $na")
    val back = spark.read.parquet(dir)
    assert(back.count() == 20000)
    assert(back.agg(sum("id"), sum("k")).collect()(0) ==
      df.agg(sum("id"), sum("k")).collect()(0), "content must survive the rewrite")
    assert(!new java.io.File(dir + "_compact_tmp").exists())
    assert(!new java.io.File(dir + "_compact_old").exists())
    // sorted compaction: per-file min/max tight on the sort column
    df.repartition(40).write.mode("overwrite").parquet(dir)
    Layout.compact(spark, dir, targetFileBytes = math.max(1L << 20, bytes / 2 + 1),
      sortCols = Seq("id"))
    val ranges = spark.read.parquet(dir)
      .groupBy(input_file_name()).agg(min("id"), max("id"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2, "sorted files must not overlap")
      case _ =>
    }
    // the CLI face dispatches to the same operator
    assert(Cli.parse(Array("compact", dir, "not_a_number")).isLeft)
    Cli.parse(Array("compact", dir, "64")) match {
      case Right(run) => run(spark)
      case Left(m) => fail(s"compact must parse: $m")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir).getParentFile)
  }

  test("bucketed tables join with no Exchange on either side and round-trip every row") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bkt_spec").toString
    val left = spark.range(0, 2000).select(($"id" % 500).as("k"), ($"id" * 3).as("a"))
    val right = spark.range(0, 600).select($"id".as("k"), ($"id" + 7).as("b"))
    val bcThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      Layout.writeBucketed(left, "bkt_left_spec", s"$dir/left", Seq("k"), 4, sortKeys = Seq("k"))
      Layout.writeBucketed(right, "bkt_right_spec", s"$dir/right", Seq("k"), 4, sortKeys = Seq("k"))
      // the co-located contract matters in the big-big regime — force
      // the planner out of broadcast mode (which bypasses bucketing)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bkt_left_spec")
        .join(spark.table("bkt_right_spec"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle either side:\n$plan")
      assert(plan.contains("SortMergeJoin") && plan.contains("Bucketed: true"),
        s"expected a bucket-colocated sort-merge join:\n$plan")
      // round trip: bucketing must neither lose nor duplicate rows
      val expect = left.join(right, "k").agg(count(lit(1)), sum("a"), sum("b")).collect()(0)
      val got = joined.agg(count(lit(1)), sum("a"), sum("b")).collect()(0)
      assert(got == expect, s"bucketed round-trip mismatch: $got vs $expect")
      // point predicate prunes to 1 of 4 buckets at scan time (the
      // auto-bucketed-scan heuristic turns bucketed reading off for
      // join-free queries, which also forfeits pruning — disable it
      // to observe the prune)
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val pruned = spark.table("bkt_left_spec").filter($"k" === 42L)
      val scanned = pruned.queryExecution.executedPlan.toString
      assert(scanned.contains("SelectedBucketsCount: 1 out of 4"),
        s"bucket pruning must select a single bucket:\n$scanned")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcThreshold)
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
      spark.sql("DROP TABLE IF EXISTS bkt_left_spec")
      spark.sql("DROP TABLE IF EXISTS bkt_right_spec")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("shardAssign: exact byte cuts, partitioning invariance, oversized rows, loud guards") {
    import spark.implicits._
    // deterministic sizes: doc i carries 100+i bytes; target 1000
    val rows = (0L until 60L).map(i => (i, 100L + i)).toDF("id", "bytes")
    val assigned = Layout.shardAssign(rows, "bytes", Seq(col("id")), targetBytes = 1000L)
      .select("id", "bytes", "shard").as[(Long, Long, Long)].collect().sortBy(_._1)
    // reference walk
    var cum = 0L
    val expect = (0L until 60L).map { i => val s = cum / 1000L; cum += 100L + i; s }
    assert(assigned.map(_._3).toSeq == expect, "shard = floor(bytes_before / target), exactly")
    assert(assigned.map(_._3).toSeq == assigned.map(_._3).toSeq.sorted, "monotone in sort order")
    // every shard's bytes bounded by target + max row size - 1
    val maxRow = 159L
    assigned.groupBy(_._3).values.foreach { g =>
      assert(g.map(_._2).sum < 1000L + maxRow, s"shard overshoot bounded by one row")
    }
    // partitioning invariance, where partitioning enters (the prefix-scan
    // core): at 7 and at 2 range partitions, the same bytes before each row
    for ((input, parts) <- Seq((rows, 7), (rows.repartition(3), 2))) {
      val again = bytesBefore(input, Seq(col("id")), parts).sortBy(_._1)
      assert(again.map(_._3 / 1000L).toSeq == expect, s"assignment is partitioning-independent ($parts)")
    }
    // an oversized row never splits; following shard ids skip (documented)
    val over = Seq((0L, 100L), (1L, 5000L), (2L, 100L)).toDF("id", "bytes")
    val o = Layout.shardAssign(over, "bytes", Seq(col("id")), 1000L)
      .select("id", "shard").as[(Long, Long)].collect().sortBy(_._1).map(_._2)
    assert(o.toSeq == Seq(0L, 0L, 5L), s"oversized row advances past boundaries (got ${o.toSeq})")
    // guards: null and negative sizes fail loudly, bad target rejected
    intercept[Exception] {
      Layout.shardAssign(Seq((1L, null.asInstanceOf[java.lang.Long])).toDF("id", "bytes"),
        "bytes", Seq(col("id")), 1000L).collect()
    }
    intercept[Exception] {
      Layout.shardAssign(Seq((1L, -5L)).toDF("id", "bytes"), "bytes", Seq(col("id")), 1000L).collect()
    }
    intercept[IllegalArgumentException] {
      Layout.shardAssign(rows, "bytes", Seq(col("id")), 0L)
    }
  }

  test("shuffledShards: reproducible permutation, seed sensitivity, every row exactly once") {
    import spark.implicits._
    val rows = (0L until 200L).map(i => (i, 50L)).toDF("id", "bytes")
    val a = Layout.shuffledShards(rows, "id", "bytes", targetBytes = 1000L, seed = 7L)
      .select("id", "shard").as[(Long, Long)].collect().sortBy(_._1)
    val b = Layout.shuffledShards(rows.repartition(5), "id", "bytes", 1000L, seed = 7L)
      .select("id", "shard").as[(Long, Long)].collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq, "same seed => same assignment, any partitioning")
    assert(a.map(_._1).toSeq == (0L until 200L), "every row exactly once")
    val c = Layout.shuffledShards(rows, "id", "bytes", 1000L, seed = 8L)
      .select("id", "shard").as[(Long, Long)].collect().sortBy(_._1)
    assert(a.map(_._2).toSeq != c.map(_._2).toSeq, "a new seed is a new epoch permutation")
    // the shuffle genuinely mixes: shard 0 (first 20 rows of the order)
    // is NOT the first 20 ids
    val shard0 = a.filter(_._2 == 0L).map(_._1).toSet
    assert(shard0.size == 20 && shard0 != (0L until 20L).toSet,
      s"seeded order must differ from id order (got $shard0)")
    intercept[IllegalArgumentException] {
      Layout.shuffledShards(rows, "id", "bytes", 1000L, seed = -1L)
    }
  }

  test("writeShards: hive shard dirs, row-identical round trip, shard-local order") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString + "/out"
    try {
      val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
        .select(col("doc_id"), col("text"), octet_length(col("text")).cast("long").as("bytes"))
      Layout.writeShards(docs, dir, "bytes", Seq(col("doc_id")), targetBytes = 16384L)
      val back = spark.read.parquet(dir)
      assert(back.count() == docs.count(), "every row lands in exactly one shard")
      assert(back.select("doc_id").distinct().count() == docs.count())
      val dirs = new java.io.File(dir).listFiles.filter(_.getName.startsWith("shard=")).map(_.getName)
      assert(dirs.length > 1, s"multiple shard dirs expected (got ${dirs.toSeq})")
      // shard contents match the in-memory assignment exactly
      val expect = Layout.shardAssign(docs, "bytes", Seq(col("doc_id")), 16384L)
        .select("doc_id", "shard").as[(Long, Long)].collect().toMap
      val got = back.select("doc_id", "shard").as[(Long, Long)].collect().toMap
      assert(got == expect, "written shard ids equal the assignment")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir).getParentFile)
    }
  }

  test("q_shards: range exchange, never a single-task global window") {
    val plan = QueryRegistry.all.toMap.apply("q_shards").run(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"the prefix walk replaces the cumulative window:\n$plan")
    assert(!plan.contains("Exchange SinglePartition") || plan.contains("TakeOrdered"),
      s"shard assignment must stay parallel:\n$plan")
  }

  test("shardAssign output: genuinely multi-partition (the walk never serializes the corpus)") {
    // the range exchange itself hides behind the RDD boundary of the
    // offset walk; what is observable — and what matters — is that the
    // result KEEPS the range partitioning: rows stay spread across the
    // requested partitions, shard-sorted within each
    val rows = (0L until 1000L).map(i => (i, 10L + i)).toDF("id", "bytes")
    val out = Rank.prefixScan(rows, Seq(col("id")), Seq(Rank.Weight.Size("bytes") -> "cum"),
        "shardAssign", parts = 8)._1
      .withColumn("shard", expr("(cum - bytes) div 2000"))
    val perPart = out.rdd.mapPartitions(it => Iterator.single(it.size)).collect()
    assert(perPart.length == 8 && perPart.count(_ > 0) >= 7,
      s"rows must stay range-spread across partitions (got ${perPart.toSeq})")
    val sortedWithin = out.select("id", "shard").rdd.mapPartitions { it =>
      val s = it.map(r => (r.getLong(0), r.getLong(1))).toSeq
      Iterator.single(s == s.sortBy(_._1) && s.map(_._2) == s.map(_._2).sorted)
    }.collect()
    assert(sortedWithin.forall(identity), "each partition is id-sorted with monotone shards")
  }
}
