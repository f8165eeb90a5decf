package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Distributed global ordering operators. Spark's
 * `row_number().over(Window.orderBy(...))` with no partitionBy
 * collapses the whole dataset into ONE task — the classic Spark
 * scale-killer (the r6 ANN audit found and removed exactly this
 * shape from the top-k paths). These operators compute the same
 * total-order results with a RANGE exchange instead: every partition
 * sorts locally, partition row-counts (one long per partition) are
 * the only thing collected, and each row's global position is its
 * partition offset + local index. 100 TB sorts at full parallelism.
 */
object Rank {

  /** Target bytes per range partition for [[adaptiveParts]]. */
  private val BytesPerPartition = 64L << 20

  /** Range-partition count sized to the DATA, not to the session
   *  constant: ceil(estimated bytes / `target` (64 MB)), clamped to
   *  [1, spark.sql.shuffle.partitions].
   *  The estimate is Catalyst's free sizeInBytes (no job); partition
   *  count never affects the rank values (the global order is the
   *  same under any partitioning), only parallelism, so a misestimate
   *  degrades performance, not correctness. Unknown/huge estimates
   *  (rdd-backed frames report the default ~8 EB) clamp to the
   *  session parallelism — exactly today's behavior — while small
   *  frames drop to ONE partition, which additionally skips the
   *  RangePartitioner's sampling job (a whole scheduling round trip
   *  on every ranking of a small frame). Explicit `numPartitions`
   *  callers are untouched. */
  private[graft] def adaptiveParts(df: DataFrame, target: Long = BytesPerPartition): Int = {
    val maxParts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= 0) maxParts
    else ((est + target - 1) / target).min(BigInt(maxParts)).max(BigInt(1)).toInt
  }

  /** Core: ranked frame + total row count (the count is free — it is
   *  the sum of the partition sizes the offset walk already
   *  collected). The range-exchange shuffle files are reused between
   *  the size job and the caller's action, so the input is scanned
   *  once and sorted once. */
  private def rankedWithCount(df: DataFrame, sortCols: Seq[Column],
                              numPartitions: Int): (DataFrame, Long) = {
    require(sortCols.nonEmpty, "globalRowNumber needs at least one sort column")
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions else adaptiveParts(df)
    val ranged = df.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    // RDD face for the per-partition offset walk: the range exchange
    // + sort stay in the SQL plan above; from here it is one bounded
    // size job (numPartitions longs to the driver) + a map-only zip
    val rdd = ranged.rdd
    val sizes = rdd.mapPartitionsWithIndex { case (i, it) =>
      Iterator.single(i -> it.size.toLong)
    }.collect().sortBy(_._1).map(_._2)
    val offsets = sizes.scanLeft(1L)(_ + _) // 1-based
    val withRank = rdd.mapPartitionsWithIndex { case (i, it) =>
      var r = offsets(i)
      it.map { row =>
        val out = org.apache.spark.sql.Row.fromSeq(row.toSeq :+ r)
        r += 1
        out
      }
    }
    val out = spark.createDataFrame(withRank,
      ranged.schema.add("rank", org.apache.spark.sql.types.LongType, nullable = false))
    (out, sizes.sum)
  }

  /**
   * Global row_number (1-based) by `sortCols` — ties must be broken
   * by the caller (include a unique id as the last sort column, or
   * the assignment between equal keys is partitioning-dependent).
   * Plan: one range Exchange + local sorts + a partition-size
   * collect (numPartitions longs) + a map-only index pass. Output:
   * input columns + `rank`.
   */
  def globalRowNumber(df: DataFrame, sortCols: Seq[Column],
                      numPartitions: Int = 0): DataFrame =
    rankedWithCount(df, sortCols, numPartitions)._1

  /**
   * Exact k-th smallest values (order statistics) of an integral
   * column over the WHOLE frame — the regime where exact
   * `percentile()` breaks down: Spark's exact percentile aggregate
   * buffers every value of a group in executor memory, fine for
   * bounded groups, fatal for "the median of the whole 100 TB
   * column". This computes exact answers with bounded state via
   * histogram refinement: each round histograms the current
   * candidate range into 2^16 buckets (ONE map-side-combined
   * aggregate scan, 2^16 longs of state), walks the cumulative
   * counts to find each k's bucket, and narrows. Range shrinks
   * 65536x per round, so any 64-bit domain resolves in <= 4 scans —
   * for ALL requested ks together (ks in the same bucket share the
   * narrowing). Ties and duplicates are handled exactly: the answer
   * is the value at 1-based position k in the sorted multiset.
   *
   * Returns k -> value. NULLs are excluded (document the contract
   * at the call site); ks must lie in [1, n].
   */
  def kthSmallest(df: DataFrame, valueCol: String, ks: Seq[Long]): Map[Long, Long] =
    kthSmallestBy(df, valueCol, _ => ks)

  /**
   * [[kthSmallest]] with the ranks derived from the operator's OWN
   * non-null count — the quantile shape (`n/4, n/2, ...`) without the
   * caller paying a separate count scan first (the count already
   * rides the first count/min/max aggregate). The candidate column
   * is pinned (gcPersist) for the refinement rounds, so the source
   * is decoded once and the ≤ 4 histogram passes read the
   * checkpointed single-long column.
   */
  def kthSmallestBy(df: DataFrame, valueCol: String,
                    ksOf: Long => Seq[Long]): Map[Long, Long] = {
    Sampling.requireIntegralId(df, valueCol, "kthSmallest")
    val vals = CacheUtil.gcPersist(
      df.select(col(valueCol).cast("long").as("v")).filter(col("v").isNotNull))
    val first = vals.agg(count(lit(1)), min("v"), max("v")).first()
    val n = first.getLong(0)
    require(n > 0, "kthSmallest: no non-null values")
    val ks = ksOf(n)
    require(ks.nonEmpty, "kthSmallest: no ranks requested")
    ks.foreach(k => require(k >= 1 && k <= n, s"kthSmallest: rank $k outside [1, $n]"))
    require(BigInt(first.getLong(2)) - BigInt(first.getLong(1)) <= BigInt(Long.MaxValue),
      "kthSmallest: value range exceeds 2^63 — rescale the column first")
    val buckets = 1 << 16
    // active targets: (k, remaining rank within [lo, hi], lo, hi)
    var active: Seq[(Long, Long, Long, Long)] =
      ks.map(k => (k, k, first.getLong(1), first.getLong(2)))
    val resolved = scala.collection.mutable.Map.empty[Long, Long]
    var rounds = 0
    while (active.nonEmpty && rounds < 8) { // 4 suffice for 64-bit; 8 is a hard stop
      rounds += 1
      active.filter { case (_, _, lo, hi) => lo == hi }
        .foreach { case (k, _, lo, _) => resolved(k) = lo }
      active = active.filter { case (_, _, lo, hi) => lo < hi }
      if (active.nonEmpty) {
        // ONE scan histograms every open range at once: explode to
        // (target, bucket) pairs (<= |ks| per row, a handful),
        // aggregate map-side; state <= targets x 2^16 longs
        val pairs = active.zipWithIndex.map { case ((_, _, lo, hi), i) =>
          val w = math.max(1L, (hi - lo) / buckets + 1)
          // integer div — Column./ is DOUBLE division, whose ulp would
          // misplace boundary values into the wrong bucket
          struct(lit(i.toLong).as("t"),
            when(col("v") >= lo && col("v") <= hi, expr(s"(v - ${lo}L) div ${w}L"))
              .otherwise(lit(-1L)).as("b"))
        }
        val hist = vals.select(explode(array(pairs: _*)).as("p"))
          .filter(col("p.b") >= 0)
          .groupBy(col("p.t").as("t"), col("p.b").as("b"))
          .agg(count(lit(1)).as("c"))
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        active = active.zipWithIndex.map { case ((k, rem, lo, hi), i) =>
          val w = math.max(1L, (hi - lo) / buckets + 1)
          var cum = 0L
          var b = 0L
          var found = false
          var remIn = rem
          while (!found && b < buckets + 1) {
            val c = hist.getOrElse((i.toLong, b), 0L)
            if (cum + c >= rem) { found = true; remIn = rem - cum }
            else { cum += c; b += 1 }
          }
          require(found, s"kthSmallest: rank $k not found in [$lo, $hi] — histogram hole")
          val newLo = lo + b * w
          val newHi = math.min(hi, newLo + w - 1)
          (k, remIn, newLo, newHi)
        }
      }
    }
    active.foreach { case (k, _, lo, hi) =>
      require(lo == hi, s"kthSmallest: rank $k unresolved after $rounds rounds ([$lo,$hi])")
      resolved(k) = lo
    }
    resolved.toMap
  }

  /**
   * Curriculum phase assignment: global rank by `scoreCols` (easy ->
   * hard), split into `phases` contiguous blocks with exact ntile
   * semantics (the first `n % phases` blocks get the extra row).
   * Output: input + rank + phase (1-based). The SQL twin is
   * `ntile(phases) OVER (ORDER BY ...)` — same arithmetic, computed
   * here without the single-task window.
   */
  def curriculum(df: DataFrame, scoreCols: Seq[Column], phases: Int): DataFrame = {
    require(phases >= 1, s"curriculum needs phases >= 1, got $phases")
    val (ranked, n) = rankedWithCount(df, scoreCols, 0)
    val q = n / phases
    val r = n % phases
    // integer `div` only (Column./ is double division, which loses
    // exactness past 2^53 — ranks at 100 TB get close)
    val phase =
      if (q == 0) col("rank") // n < phases: tile == rank
      else when(col("rank") <= lit(r * (q + 1)),
          expr(s"(rank - 1) div ${q + 1}") + 1)
        .otherwise(lit(r) + expr(s"(rank - ${r * (q + 1)} - 1) div $q") + 1)
    ranked.withColumn("phase", phase.cast("long"))
  }

  /**
   * Exact quantile normalization across groups — map every group's
   * value distribution onto the POOLED distribution (the
   * batch-effect/calibration step for scores coming from
   * heterogeneous sources: after it, every group's values share the
   * corpus-wide distribution exactly). All-integer semantics, no
   * interpolation: a row at within-group rank r of n_g maps to the
   * pooled k-th smallest value with k = ceil(r * N / n_g) (so the
   * group maximum always maps to the pooled maximum). The value at
   * pooled position k is tiebreak-independent even though rank
   * assignment within ties is not.
   *
   * Scale shape: ONE fused [[globalRowNumber]] range-exchange
   * ranking for BOTH orders (the q_rfm/text_ensemble exploded-union
   * precedent): each row explodes into (w=0, its group) and (w=1,
   * null group), and sorting the 2n-row union by (w, g, value, id)
   * ranks block 0 by (group, value, id) — the within-group order —
   * and block 1 (g uniformly null) by (value, id) — the pooled
   * order, at rank - n. One sample job + one size job + one rank
   * pass replace two sequential range-exchange cycles. Then a
   * group-cardinality-bounded stats aggregate broadcast back, and
   * ONE position equi-join — never a per-group single-task window.
   * r * N must stay inside int64, so N is CHECKED against
   * floor(sqrt(2^63)) ≈ 3.037e9 rows (r <= N, so r * N <= N^2) and
   * the operator fails loudly past that instead of silently wrapping
   * ranks. `idCol` breaks ties; `valueCol` must be integral.
   */
  /** The [[quantileNormalize]] int64 bound, extracted for its unit
   *  test: rank * N with rank <= N stays inside int64 iff
   *  N <= floor(sqrt(2^63 - 1)) = 3037000499. */
  private[graft] def requireQnormBound(total: Long): Unit =
    require(total <= 3037000499L,
      s"quantileNormalize: $total rows — rank * N would overflow int64 past ~3.037e9 rows; " +
        "normalize per partition-of-sources or rescale first")

  def quantileNormalize(df: DataFrame, groupCol: String, valueCol: String,
                        idCol: String): DataFrame = {
    val total = df.count()
    requireQnormBound(total)
    val base = df.select(col(groupCol), col(valueCol), col(idCol))
    val gType = base.schema(groupCol).dataType
    val ex = base.select(col(groupCol), col(valueCol), col(idCol),
        explode(array(
          struct(lit(0).as("w"), col(groupCol).as("g")),
          struct(lit(1).as("w"), lit(null).cast(gType).as("g")))).as("__e"))
      .select(col(groupCol), col(valueCol), col(idCol),
        col("__e.w").as("__w"), col("__e.g").as("__g"))
    val ranked = globalRowNumber(ex,
      Seq(col("__w"), col("__g"), col(valueCol), col(idCol)))
    val grouped = ranked.filter(col("__w") === 0).drop("__w", "__g")
    val gstats = grouped.groupBy(groupCol)
      .agg(min("rank").as("__gmin"), count(lit(1)).as("__ng"))
    val pooled = ranked.filter(col("__w") === 1)
      .select((col("rank") - total).as("__k"), col(valueCol).as("qnorm"))
    grouped
      .join(broadcast(gstats), groupCol)
      .withColumn("__r", col("rank") - col("__gmin") + 1)
      .withColumn("__k", expr(s"(__r * $total + __ng - 1) div __ng"))
      .join(pooled, "__k")
      .select(col(idCol), col(groupCol), col(valueCol), col("qnorm"))
  }

  /**
   * Distributed running totals: for each row, the cumulative sums of
   * `sumCols` (LONG columns) over all rows at-or-before it in
   * `sortCols` order — the scale-safe replacement for a single-task
   * `sum() OVER (ORDER BY ...)` window. Same shape as
   * [[globalRowNumber]]: one range Exchange + local sorts, a bounded
   * per-partition totals collect (numPartitions x sumCols longs),
   * then a map-only accumulation pass. Ties must be fully ordered by
   * the caller (include a unique tiebreak column) or the running
   * value WITHIN a tie group is partitioning-dependent — cumulative
   * totals at tie-group boundaries are always exact either way.
   * Output: input columns + `cum_<c>` for each requested column.
   *
   * Contract: sum columns must be non-null LONGs (checked per row
   * with a named error — a bare getLong on a null would NPE deep in
   * an RDD task), and the input must be DETERMINISTIC under
   * recomputation: the totals pass and the accumulation pass are two
   * jobs over the same lineage, correct because Spark reuses the
   * range exchange's shuffle files between them (same reuse contract
   * [[globalRowNumber]] relies on); a nondeterministic upstream (e.g.
   * an unseeded rand()) would desync the collected offsets from the
   * second pass's rows — seed or materialize such inputs first.
   */
  def prefixSums(df: DataFrame, sortCols: Seq[Column], sumCols: Seq[String],
                 numPartitions: Int = 0): DataFrame = {
    require(sumCols.nonEmpty, "prefixSums needs at least one sum column")
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions else adaptiveParts(df)
    val ranged = df.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val idx = sumCols.map(ranged.schema.fieldIndex).toArray
    val names = sumCols.toArray
    val rdd = ranged.rdd
    def getChecked(r: org.apache.spark.sql.Row, j: Int): Long = {
      if (r.isNullAt(idx(j)))
        throw new IllegalArgumentException(
          s"prefixSums: null in sum column '${names(j)}' — coalesce it upstream")
      r.getLong(idx(j))
    }
    val totals = rdd.mapPartitionsWithIndex { case (i, it) =>
      val acc = new Array[Long](idx.length)
      it.foreach { r => var j = 0; while (j < idx.length) { acc(j) += getChecked(r, j); j += 1 } }
      Iterator.single(i -> acc)
    }.collect().sortBy(_._1).map(_._2)
    val offsets = totals.scanLeft(new Array[Long](idx.length)) { (a, b) =>
      Array.tabulate(idx.length)(j => a(j) + b(j))
    }
    val withCum = rdd.mapPartitionsWithIndex { case (i, it) =>
      val run = offsets(i).clone()
      it.map { row =>
        var j = 0
        while (j < idx.length) { run(j) += getChecked(row, j); j += 1 }
        org.apache.spark.sql.Row.fromSeq(row.toSeq ++ run.toSeq)
      }
    }
    val schema = sumCols.foldLeft(ranged.schema) { (s, c) =>
      s.add(s"cum_$c", org.apache.spark.sql.types.LongType, nullable = false)
    }
    spark.createDataFrame(withCum, schema)
  }
}
