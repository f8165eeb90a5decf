package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Distributed global ordering operators. Spark's
 * `row_number().over(Window.orderBy(...))` with no partitionBy
 * collapses the whole dataset into ONE task — the classic Spark
 * scale-killer (the r6 ANN audit found and removed exactly this
 * shape from the top-k paths). These operators compute the same
 * total-order results with a RANGE exchange instead, through the one
 * [[Rank.prefixScan]] core: every partition sorts locally, partition
 * totals (a few longs per partition) are the only thing collected,
 * and each row's running total is its partition offset + the local
 * walk. 100 TB sorts at full parallelism.
 */
object Rank {

  /** Target bytes per range partition for [[adaptiveParts]]. */
  private val BytesPerPartition = 64L << 20

  /** Range-partition count sized to the DATA, not to the session
   *  constant: ceil(estimated bytes / `target` (64 MB)), clamped to
   *  [1, spark.sql.shuffle.partitions].
   *  The estimate is Catalyst's free sizeInBytes (no job); partition
   *  count never affects the running totals of [[prefixScan]] (the
   *  global order is the same under any partitioning), only
   *  parallelism, so a misestimate degrades performance, not
   *  correctness. Unknown/huge estimates (rdd-backed frames report the
   *  default ~8 EB) clamp to the session parallelism, while small
   *  frames drop to ONE partition, which additionally skips the
   *  RangePartitioner's sampling job (a whole scheduling round trip
   *  on every scan of a small frame). */
  private[graft] def adaptiveParts(df: DataFrame, target: Long = BytesPerPartition): Int = {
    val maxParts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= 0) maxParts
    else ((est + target - 1) / target).min(BigInt(maxParts)).max(BigInt(1)).toInt
  }

  /** What one running total of [[prefixScan]] adds up per row. */
  private[graft] sealed trait Weight
  private[graft] object Weight {
    /** 1 per row: the running total is the 1-based rank, the grand
     *  total the row count. Reads no column. */
    case object One extends Weight
    /** Integral column (byte, short, int, long) read as a long; any
     *  sign. */
    final case class Sum(col: String) extends Weight
    /** Any numeric column truncated to a long; negatives refused. */
    final case class Size(col: String) extends Weight
  }

  /**
   * The distributed prefix scan under every global-order operator
   * ([[globalRowNumber]], [[curriculum]], [[prefixSums]],
   * [[Layout.shardAssign]]): running totals over a total order
   * without the single-task `Window.orderBy`.
   *
   * Plan: a range exchange on `sortCols` into `parts` partitions
   * ([[adaptiveParts]] when 0) + local sorts, ONE job that collects
   * each partition's totals (parts x weights longs to the driver), a
   * driver-side scanLeft of those totals into partition offsets, and
   * a map-only walk appending, for each (weight, name), the non-null
   * LONG column `name`: the weight's running total over every row
   * at-or-before this one. Returns the scanned frame and the grand
   * totals.
   *
   * Ties in `sortCols` must be broken by the caller (append a unique
   * id), or the running total WITHIN a tie group is
   * partitioning-dependent; totals at tie-group boundaries are exact
   * either way.
   *
   * Contract: the input must be DETERMINISTIC under recomputation.
   * The totals job and the walk are two jobs over the same lineage,
   * correct because Spark reuses the range exchange's shuffle files
   * between them (the input is scanned once and sorted once); a
   * nondeterministic upstream (e.g. an unseeded rand()) would desync
   * the collected offsets from the walk's rows — seed or materialize
   * such inputs first. Weight column types are checked here, on the
   * driver; a null or (for [[Weight.Size]]) negative weight fails its
   * task with an error naming the column.
   */
  private[graft] def prefixScan(df: DataFrame, sortCols: Seq[Column], weights: Seq[(Weight, String)],
                                op: String, parts: Int = 0): (DataFrame, Array[Long]) = {
    require(sortCols.nonEmpty, s"$op needs at least one sort column")
    // per weight: field index (-1 reads no column), negatives
    // refused, and the name its errors give
    val (idx, nonNeg, names) = weights.map(_._1).map {
      case Weight.One => (-1, false, "")
      case Weight.Sum(c) =>
        val dt = df.schema(c).dataType
        require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
          s"$op: sum column '$c' must be integral (found $dt)")
        (df.schema.fieldIndex(c), false, s"sum column '$c'")
      case Weight.Size(c) =>
        val dt = df.schema(c).dataType
        require(dt.isInstanceOf[NumericType], s"$op: size column '$c' must be numeric (found $dt)")
        (df.schema.fieldIndex(c), true, s"size column '$c'")
    }.unzip3 match { case (i, n, m) => (i.toArray, n.toArray, m.toArray) }
    val k = weights.length
    def weight(r: Row, j: Int): Long = {
      val i = idx(j)
      if (i < 0) 1L
      else if (r.isNullAt(i))
        throw new IllegalArgumentException(s"$op: null in ${names(j)} — coalesce it upstream")
      else {
        val w = r.get(i).asInstanceOf[Number].longValue
        if (w < 0 && nonNeg(j)) throw new IllegalArgumentException(s"$op: negative ${names(j)} ($w)")
        w
      }
    }
    // RDD face for the per-partition walk: the range exchange + sort
    // stay in the SQL plan
    val ranged = df.repartitionByRange(if (parts > 0) parts else adaptiveParts(df), sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val rdd = ranged.rdd
    val totals = rdd.mapPartitionsWithIndex { case (p, it) =>
      val acc = new Array[Long](k)
      it.foreach { r => var j = 0; while (j < k) { acc(j) += weight(r, j); j += 1 } }
      Iterator.single(p -> acc)
    }.collect().sortBy(_._1).map(_._2)
    val offsets = totals.scanLeft(new Array[Long](k))((a, b) => Array.tabulate(k)(j => a(j) + b(j)))
    val walked = rdd.mapPartitionsWithIndex { case (p, it) =>
      val run = offsets(p).clone()
      it.map { r =>
        var j = 0
        while (j < k) { run(j) += weight(r, j); j += 1 }
        Row.fromSeq(r.toSeq ++ run)
      }
    }
    val schema = weights.foldLeft(ranged.schema)((s, w) => s.add(w._2, LongType, nullable = false))
    (df.sparkSession.createDataFrame(walked, schema), offsets.last)
  }

  /**
   * Global row_number (1-based) by `sortCols`: the [[prefixScan]] of
   * [[Weight.One]]. Ties must be broken by the caller (include a
   * unique id as the last sort column). Output: input columns +
   * `rank`.
   */
  def globalRowNumber(df: DataFrame, sortCols: Seq[Column]): DataFrame =
    prefixScan(df, sortCols, Seq(Weight.One -> "rank"), "globalRowNumber")._1

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
    val (ranked, Array(n)) = prefixScan(df, scoreCols, Seq(Weight.One -> "rank"), "curriculum")
    ranked.withColumn("phase", exactNtile(col("rank"), n, phases))
  }

  /** SQL `ntile(tiles)` of a 1-based `rank` over `n` rows, exactly:
   *  the first `n % tiles` tiles get the extra row. Integer `div` only
   *  (Column./ is double division, which loses exactness past 2^53 —
   *  ranks at 100 TB get close). A LONG column. */
  private[graft] def exactNtile(rank: Column, n: Long, tiles: Int): Column = {
    val q = n / tiles
    val r = n % tiles
    def div(a: Column, b: Long): Column = call_function("div", a, lit(b))
    val tile =
      if (q == 0) rank // n < tiles: tile == rank
      else when(rank <= lit(r * (q + 1)), div(rank - 1, q + 1) + 1)
        .otherwise(lit(r) + div(rank - (r * (q + 1)) - 1, q) + 1)
    tile.cast("long")
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
   * the integral `sumCols` over all rows at-or-before it in `sortCols`
   * order — the [[prefixScan]] of one [[Weight.Sum]] per column, the
   * scale-safe replacement for a single-task `sum() OVER (ORDER BY
   * ...)` window (ties and the determinism contract as there).
   * Output: input columns + `cum_<c>` (LONG) for each requested
   * column. A non-integral sum column is refused at the call, naming
   * it; a null fails the task, naming it.
   */
  def prefixSums(df: DataFrame, sortCols: Seq[Column], sumCols: Seq[String]): DataFrame = {
    require(sumCols.nonEmpty, "prefixSums needs at least one sum column")
    prefixScan(df, sortCols, sumCols.map(c => Weight.Sum(c) -> s"cum_$c"), "prefixSums")._1
  }
}
