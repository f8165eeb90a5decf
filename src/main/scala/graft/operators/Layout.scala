package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Physical-layout operators: write-time clustering so that read-time
 * predicates prune storage instead of scanning it.
 *
 * Z-ordering (bit-interleaved space-filling curve — the Morton curve
 * Delta/Iceberg `OPTIMIZE ZORDER BY` uses) maps n bucketed dimensions
 * to one sort key whose contiguous ranges are small hyper-rectangles
 * in dimension space. Range-partitioning + sorting parquet output by
 * the z-value makes every file's min/max footer stats tight in EVERY
 * clustered dimension at once — a multi-dimensional predicate then
 * skips row groups on all of them, where a plain single-column sort
 * bounds only its own column. This is the 100 TB answer to "my scans
 * filter on two columns and neither is the partition key".
 */
object Layout {

  /**
   * Morton z-value: interleave the low `bits` bits of each column
   * (column 0 owns bit positions i*n, column 1 owns i*n+1, ...).
   * Inputs are masked to `bits` bits — callers bucket dimensions
   * first (modulo, width bucketing, rank); the mask only guards
   * against stray high bits. Pure shift/mask arithmetic on longs:
   * codegen-friendly, map-only, and replayable in ANSI SQL.
   */
  def zvalue(cols: Seq[Column], bits: Int): Column = {
    val n = cols.length
    require(n >= 1, "zvalue needs at least one column")
    require(bits >= 1 && bits * n <= 62, s"bits * nCols must fit a long: $bits * $n")
    cols.zipWithIndex.map { case (c, ci) =>
      val m = c.cast("long").bitwiseAND(lit((1L << bits) - 1))
      (0 until bits).map { i =>
        shiftleft(shiftright(m, i).bitwiseAND(lit(1L)), i * n + ci)
      }.reduce(_ + _) // disjoint bit positions: + == bitwise OR
    }.reduce(_ + _)
  }

  /**
   * Write `df` as parquet clustered on the z-order of `dims`
   * (already-bucketed non-negative int columns): range-partition by
   * z-value into `numFiles` output tasks, sort within each, drop the
   * helper column. One range-exchange total; every output file covers
   * a contiguous z-range, so its footer min/max on each dim column
   * spans ~(2^bits / numFiles^(1/n)) values instead of the full
   * domain.
   */
  def writeZOrdered(df: DataFrame, path: String, dims: Seq[String],
                    bits: Int, numFiles: Int): Unit = {
    require(numFiles >= 1, s"numFiles must be >= 1 (got $numFiles)")
    df.withColumn("__z", zvalue(dims.map(col), bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /**
   * Write `df` as a hash-BUCKETED (optionally bucket-sorted) parquet
   * table registered in the session catalog — the co-located-join
   * layout: two tables bucketed on the same key with the same bucket
   * count join with NO Exchange on either side (Spark's bucketing
   * contract: bucket id = murmur3(key) % numBuckets decided at WRITE
   * time, so the join's required distribution is already satisfied
   * at read time). At 100 TB this is the difference between a fact-
   * fact join that reshuffles both inputs every query and one that
   * never shuffles them again after ingest — the same trade the
   * HEALPix partitioner makes for spatial joins, here for plain
   * equi-join keys. Bucket-pruning on point predicates
   * (`spark.sql.sources.bucketing.enabled`) comes free.
   *
   * `path` makes the table external (data survives catalog drops);
   * any existing table of this name is replaced.
   */
  def writeBucketed(df: DataFrame, tableName: String, path: String,
                    keys: Seq[String], numBuckets: Int,
                    sortKeys: Seq[String] = Nil): Unit = {
    require(keys.nonEmpty, "writeBucketed needs at least one bucket key")
    require(numBuckets >= 1, s"numBuckets must be >= 1 (got $numBuckets)")
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    val w = df.write.mode("overwrite").format("parquet").option("path", path)
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
    (if (sortKeys.nonEmpty) w.sortBy(sortKeys.head, sortKeys.tail: _*) else w)
      .saveAsTable(tableName)
  }

  /**
   * Small-file compaction (the lakehouse OPTIMIZE/rewrite shape):
   * incremental ingest leaves a long tail of small parquet files —
   * at 100 TB the death-by-footers problem (every query pays a
   * per-file open + footer parse + task schedule; 10^6 x 1 MB files
   * cost more in overhead than the scan itself). Rewrites a FLAT
   * parquet directory into ceil(totalBytes / targetFileBytes)
   * files (optionally sorted within files for locality + footer
   * min/max tightness), staged to an underscore-prefixed SIBLING dir
   * (invisible to Spark partition discovery, so staging inside a
   * hive tree is safe) and swapped in via two metadata renames.
   * Single-writer discipline: a reader racing the swap itself can
   * briefly observe the directory missing (two renames cannot be
   * one atom on a filesystem without transactions); a crash between
   * the renames strands the data at the `_compact_old_` sibling,
   * which the NEXT compact (or any caller invoking this) recovers
   * automatically before proceeding. Hive-partitioned catalogs
   * compact per partition directory (call this on each leaf).
   * Returns (filesBefore, filesAfter).
   */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              sortCols: Seq[String] = Nil): (Int, Int) = {
    require(targetFileBytes >= 1024 * 1024,
      s"compact: targetFileBytes must be >= 1 MiB (got $targetFileBytes)")
    // Path arithmetic, not string concat: Path normalizes trailing
    // slashes (dir + "_tmp" on "/data/foo/" would nest the staging
    // dir INSIDE the live data); the underscore prefix keeps both
    // siblings out of Spark partition discovery
    val hPath = new org.apache.hadoop.fs.Path(dir)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(hPath)
    val tmp = new org.apache.hadoop.fs.Path(qualified.getParent, s"_compact_tmp_${qualified.getName}")
    val old = new org.apache.hadoop.fs.Path(qualified.getParent, s"_compact_old_${qualified.getName}")
    // crash recovery: a death between the two swap renames leaves the
    // data only at `old` — restore before doing anything else
    if (!fs.exists(qualified) && fs.exists(old))
      require(fs.rename(old, qualified), s"compact: recovery rename $old -> $qualified failed")
    val files = fs.listStatus(qualified).filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    require(files.nonEmpty, s"compact: no parquet files under $dir")
    val totalBytes = files.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    fs.delete(tmp, true); fs.delete(old, true)
    val df = spark.read.parquet(dir)
    val arranged =
      if (sortCols.nonEmpty)
        df.repartitionByRange(nOut, sortCols.map(col): _*).sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(nOut)
    arranged.write.mode("overwrite").parquet(tmp.toString)
    // swap: dir -> _old, tmp -> dir, drop _old (two metadata renames)
    require(fs.rename(qualified, old), s"compact: rename $dir -> $old failed")
    require(fs.rename(tmp, qualified), s"compact: rename $tmp -> $dir failed")
    fs.delete(old, true)
    val after = fs.listStatus(qualified).count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    (files.length, after)
  }

  /**
   * Clustering diagnostics: group rows by the top `bucketBits` bits
   * of their z-value ("file-sized" z-ranges) and report each range's
   * row count and per-dimension min/max — the exact quantity parquet
   * footers expose to the row-group pruner. Tight ranges here = real
   * skipping at read time.
   */
  def zClusterStats(df: DataFrame, dims: Seq[String], bits: Int, bucketBits: Int): DataFrame = {
    require(bucketBits >= 1 && bucketBits <= bits * dims.length,
      s"bucketBits must be in [1, ${bits * dims.length}] (got $bucketBits)")
    val shift = bits * dims.length - bucketBits
    val aggs = dims.flatMap(d =>
      Seq(min(col(d)).as(s"min_$d"), max(col(d)).as(s"max_$d")))
    df.withColumn("__z", zvalue(dims.map(col), bits))
      .groupBy(shiftright(col("__z"), shift).as("zbucket"))
      .agg(count(lit(1)).as("n"), aggs: _*)
  }

  /**
   * Size-bounded shard assignment — the WebDataset/tar-shard export
   * shape: rows in a deterministic global order are cut into shards
   * of ~`targetBytes` each (`shard = floor(bytes_before_row /
   * targetBytes)`), so a 100 TB corpus lands as evenly-sized units a
   * training loader streams sequentially. A row is NEVER split;
   * a single row larger than `targetBytes` advances the cumulative
   * count past several boundaries, so shard ids are monotone
   * NONDECREASING in the sort order but not necessarily contiguous —
   * the documented trade for never splitting a sample.
   *
   * The bytes before a row are the [[Rank.prefixScan]] of the size
   * column (any numeric type, truncated to a long; nulls and
   * negatives fail loudly) minus the row's own size — never a
   * corpus-wide `sum OVER (ORDER BY ...)` window. Ties in `sortCols`
   * must be broken by the caller (append a unique id).
   *
   * Output: input columns + `shard` (0-based LongType).
   */
  def shardAssign(df: DataFrame, sizeCol: String, sortCols: Seq[Column],
                  targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"shardAssign: targetBytes must be positive (got $targetBytes)")
    val (scanned, _) =
      Rank.prefixScan(df, sortCols, Seq(Rank.Weight.Size(sizeCol) -> "__cum"), "shardAssign")
    scanned.withColumn("shard", call_function("div",
        col("__cum") - col(sizeCol).cast("long"), lit(targetBytes)))
      .drop("__cum")
  }

  /** [[shardAssign]] + hive-partitioned parquet write: one `shard=K/`
   *  directory per shard, rows shard-local in `sortCols` order — the
   *  export a sequential training loader consumes shard by shard. */
  def writeShards(df: DataFrame, path: String, sizeCol: String, sortCols: Seq[Column],
                  targetBytes: Long): Unit =
    shardAssign(df, sizeCol, sortCols, targetBytes)
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /**
   * Deterministic SHUFFLED training shards: rows ordered by the
   * avalanched hash of `id + seed` (the reproducible global shuffle a
   * training run wants — same seed, same order, everywhere; a new
   * seed is a fresh epoch permutation with no data movement until the
   * write), then cut into ~`targetBytes` shards by [[shardAssign]].
   * The hash is the same two-round Knuth mixer the split/sampling
   * family uses, so the SQL twin (`Sampling.knuthHashSql`) replays
   * the order exactly. `(hash, id)` ordering makes ties impossible —
   * assignment is total and partitioning-independent.
   */
  def shuffledShards(df: DataFrame, idCol: String, sizeCol: String, targetBytes: Long,
                     seed: Long = 0L): DataFrame = {
    Sampling.requireIntegralId(df, idCol, "shuffledShards")
    require(seed >= 0 && seed < (1L << 40),
      s"shuffledShards: seed must be in [0, 2^40) so id + seed stays in the hash twin's " +
        s"nonnegative domain (got $seed)")
    shardAssign(df.withColumn("__shuffle_k", Sampling.knuthHash(col(idCol) + lit(seed))),
        sizeCol, Seq(col("__shuffle_k"), col(idCol)), targetBytes)
      .drop("__shuffle_k")
  }
}
