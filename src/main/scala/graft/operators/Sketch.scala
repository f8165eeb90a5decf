package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Distributed cardinality sketches.
 *
 * [[hllDistinct]] is a HyperLogLog distinct-count estimate per group,
 * built from PORTABLE primitives (the overflow-safe Knuth hash and a
 * comparison-chain msb) so a DuckDB oracle replays every register and
 * the estimate bit-for-bit — Spark's built-in
 * `approx_count_distinct` is the same algorithm (HLL++) but its
 * xxhash64/dense-encoding internals aren't SQL-reproducible, and its
 * register state can't be persisted/merged across independent jobs.
 * This one's register table IS the sketch: `groups x m` small rows
 * that can be stored next to the data and merged (bucket-wise max)
 * with any later shard's registers — the streaming/incremental
 * count-distinct shape at 100 TB, where re-scanning history for an
 * exact count is off the table.
 *
 * Shape: one map-only pass computes (bucket, rho) per row; a
 * two-stage hash aggregate (map-side combined — rows shrink to
 * groups x m before the shuffle) takes bucket-wise max; the register
 * sum uses INTEGER arithmetic (2^(27-rho) scaled units) so the
 * result is exact and aggregation-order-independent. The estimate is
 * the raw HLL formula (alpha_m * m^2 / Z) without the small-range
 * linear-counting correction — that correction needs ln(), whose
 * last-ulp varies across libm implementations; the raw formula is
 * pure IEEE arithmetic, deterministic everywhere. Expect the usual
 * ~1.04/sqrt(m) relative error at cardinalities >> m (13% at m=64;
 * raise p for tighter bounds), and overestimation below ~2.5*m where
 * the skipped correction would apply.
 */
object Sketch {

  /** Register width: the Knuth hash yields 32 bits; p go to the
   *  bucket, the remaining 32-p to the rank. rho ranges 1..(32-p)+1. */
  private def rhoMax(p: Int): Int = 32 - p + 1

  private def requireP(p: Int): Unit =
    require(p >= 4 && p <= 12, s"p must be in [4, 12] (got $p): m = 2^p buckets")

  /** Two-round mixer: knuth → xor-fold(16) → knuth. A single
   *  multiplicative round leaves sequential ids (orderkeys, `_ID`
   *  ranks) on a lattice whose leading-zero statistics are wildly
   *  non-geometric — measured ±50%+ estimate bias at m=64, vs the
   *  expected 13%; the second round restores geometric tails (bias
   *  back inside the 1.04/sqrt(m) envelope, tested across 5e2..2e5
   *  cardinalities). Still pure 32-bit integer arithmetic, so the
   *  DuckDB twin replays it exactly. */
  private def mixCol(id: Column): Column = {
    val h1 = Sampling.knuthHash(id)
    Sampling.knuthHash(h1.bitwiseXOR(shiftrightunsigned(h1, 16)))
  }

  /** SQL twin of [[mixCol]] over a column named `h1` holding the
   *  first knuth round (kept in a CTE so the 16-bit-split arithmetic
   *  isn't textually exponentiated). */
  private def mixSqlFromH1: String =
    Sampling.knuthHashSql("xor(h1, h1 // 65536)")

  /** rho = leading-zero count of the (32-p)-bit suffix + 1, as a
   *  comparison chain (no log2 — transcendentals aren't portable). */
  private def rhoCol(w: Column, p: Int): Column = {
    val width = 32 - p
    coalesce((0 until width).map { j =>
      when(w >= lit(1L << (width - 1 - j)), lit(j + 1))
    } :+ lit(rhoMax(p)): _*)
  }

  /** SQL twin of [[rhoCol]]. */
  private def rhoSql(w: String, p: Int): String = {
    val width = 32 - p
    val whens = (0 until width).map { j =>
      s"WHEN $w >= ${1L << (width - 1 - j)} THEN ${j + 1}"
    }.mkString(" ")
    s"(CASE $whens ELSE ${rhoMax(p)} END)"
  }

  /**
   * The HLL register table: one row per (group, bucket) with the max
   * rank observed — `groups x 2^p` rows, independent of input size.
   * This is the mergeable sketch state: registers from disjoint
   * shards combine by bucket-wise max ([[hllMerge]]).
   */
  def hllRegisters(df: DataFrame, groupCol: String, idCol: String, p: Int = 6): DataFrame = {
    requireP(p)
    Sampling.requireIntegralId(df, idCol, "hllRegisters")
    val m = 1 << p
    val h = mixCol(col(idCol))
    df.select(col(groupCol).as("grp"),
        pmod(h, lit(m.toLong)).as("bucket"),
        rhoCol(shiftrightunsigned(h, p), p).as("rho"))
      .groupBy("grp", "bucket")
      .agg(max(col("rho")).cast("long").as("r"))
  }

  /** Merge register tables from disjoint (or overlapping — max is
   *  idempotent) shards: bucket-wise max. */
  def hllMerge(regs: DataFrame*): DataFrame =
    regs.reduce(_ unionByName _).groupBy("grp", "bucket").agg(max(col("r")).as("r"))

  /**
   * Estimate from a register table: Z is accumulated in scaled
   * integer units (2^(rhoMax - r) per register, absent registers
   * count 2^rhoMax) so the sum is exact in any order; the final
   * division is a single deterministic IEEE expression. Returns
   * (grp, buckets_hit, reg_sum, hll_est_e2) with hll_est_e2 =
   * floor(estimate * 100).
   */
  def hllEstimate(regs: DataFrame, p: Int = 6): DataFrame = {
    requireP(p)
    val m = 1 << p
    // alpha_m per Flajolet et al.: 0.673 (m=16), 0.697 (32), 0.709 (64), 0.7213/(1+1.079/m) beyond
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1 + 1.079 / m)
    }
    val scale = 1L << rhoMax(p)
    regs.groupBy("grp")
      .agg(count(lit(1)).as("buckets_hit"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST(${rhoMax(p)} - r AS INT))")).cast("long").as("hit_sum"))
      .select(col("grp"), col("buckets_hit"),
        (col("hit_sum") + (lit(m.toLong) - col("buckets_hit")) * lit(scale)).as("reg_sum"))
      .withColumn("hll_est_e2",
        floor(lit(alpha) * lit(m.toDouble) * lit(m.toDouble) * lit(scale.toDouble)
          / col("reg_sum").cast("double") * lit(100.0)).cast("long"))
  }

  // ------------------------------------------------------------ Bloom

  /** Bloom geometry: m = 2^logM bits as m/64 longs, k probes via
   *  double hashing (h1 + j*h2 two independent two-round mixes —
   *  Kirsch-Mitzenmacher). All integer arithmetic: the DuckDB twin
   *  replays build and probe exactly. */
  private val bloomSalt = graft.functions.SketchKernels.BloomSalt // golden-ratio offset decorrelates h2 from h1

  /**
   * Build a Bloom filter over a key column: the returned array of
   * m/64 longs is the whole filter, built by ONE aggregation whose
   * shuffle carries at most (k x keys, but combined map-side to)
   * m/64 word rows. Collect it (bounded: 2^logM bits = 2^(logM-6)
   * longs — 8 KB at the logM=16 default) and feed [[bloomProbe]].
   *
   * The 100 TB pattern this enables: membership-filter a corpus
   * against a large blocklist (contaminated URLs, opted-out domains,
   * previously-emitted doc hashes) WITHOUT a join — the filter
   * builds in one pass over the blocklist, ships once per executor,
   * and the corpus pass is map-only with zero shuffle. False
   * positives at the classic (1 - e^(-kn/m))^k rate (documented by
   * the spec's measured-rate test) — acceptable for over-blocking
   * filters; route exactness-critical cases through the
   * [[Dedup.contaminationCheck]] broadcast-intersect instead.
   */
  def bloomBuild(keys: DataFrame, idCol: String, logM: Int = 16, k: Int = 4): Array[Long] = {
    // logM=30 means a 128 MB dense word array on the driver — the
    // probe side no longer cares (words ride a broadcast, not the
    // expression tree), so the cap is driver memory, not task size
    require(logM >= 6 && logM <= 30, s"logM must be in [6, 30] (got $logM)")
    require(k >= 1 && k <= 8, s"k must be in [1, 8] (got $k)")
    Sampling.requireIntegralId(keys, idCol, "bloomBuild")
    import org.apache.spark.sql.GraftBridge.{column => toCol, expression => toExpr}
    val words = new Array[Long](1 << (logM - 6))
    keys.select(explode(toCol(graft.functions.BloomBitsExpr(
        toExpr(col(idCol).cast("long")), logM, k))).as("bit"))
      .select((col("bit") / 64).cast("int").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT))").as("mask"))
      .groupBy("w").agg(expr("bit_or(mask)").as("bits"))
      .collect().foreach(r => words(r.getInt(0)) = r.getLong(1))
    words
  }

  /**
   * [[bloomBuild]] for LARGE filters: identical geometry and bit math
   * (probe-compatible — validated by the spec's cross-build parity
   * test), but the words accumulate in DENSE per-partition long
   * arrays merged by a treeReduce instead of the word-row shuffle +
   * Row collect. At logM >= ~20 the row form shuffles and collects
   * 2^(logM-6) word rows (~1.4 s at logM=24) where this is one map
   * pass; below that the row form's map-side combine wins. Combine
   * traffic is numPartitions x 2^(logM-6) x 8 B, tree-combined
   * (depth 2), so 10k-partition inputs stay driver-safe.
   */
  def bloomBuildDense(keys: DataFrame, idCol: String, logM: Int = 24, k: Int = 4): Array[Long] = {
    require(logM >= 6 && logM <= 30, s"bloomBuildDense: logM must be in [6, 30] (got $logM)")
    require(k >= 1 && k <= 8, s"bloomBuildDense: k must be in [1, 8] (got $k)")
    Sampling.requireIntegralId(keys, idCol, "bloomBuildDense")
    val nWords = 1 << (logM - 6)
    val perPart = keys.select(col(idCol).cast("long").as("id")).na.drop()
      .queryExecution.toRdd.mapPartitions { iter =>
        val words = new Array[Long](nWords)
        iter.foreach(row => graft.functions.SketchKernels.bloomSet(words, row.getLong(0), logM, k))
        Iterator.single(words)
      }
    if (perPart.getNumPartitions == 0) new Array[Long](nWords)
    else perPart.treeReduce({ (a: Array[Long], b: Array[Long]) =>
      var i = 0; while (i < nWords) { a(i) |= b(i); i += 1 }; a
    }, depth = 2)
  }

  /** Map-only membership probe against a built filter: true when all
   *  k probed bits are set (possible false positive, never false
   *  negative). One codegen'd kernel call per row — a Column-composed
   *  form of the same math (k x two mixer trees) exceeds Janino's
   *  method limits and silently drops to interpreted eval. */
  def bloomProbe(id: Column, words: Array[Long], logM: Int = 16, k: Int = 4): Column = {
    // mirror bloomBuild's geometry validation BEFORE the word-count
    // check: logM < 6 would wrap the shift (1 << -2 = 2^30) and turn
    // the error message into nonsense
    require(logM >= 6 && logM <= 30, s"bloomProbe: logM must be in [6, 30] (got $logM)")
    require(k >= 1 && k <= 8, s"bloomProbe: k must be in [1, 8] (got $k)")
    // a geometry desync (logM defaults on build and probe are
    // independent) would silently produce FALSE NEGATIVES — blocked
    // keys passing the filter — or an index crash; fail loudly instead
    require(words.length == 1 << (logM - 6),
      s"bloomProbe: filter has ${words.length} words but logM=$logM implies ${1 << (logM - 6)} — " +
        "build and probe must use the same logM")
    bloomProbeBc(id, SparkSession.active.sparkContext.broadcast(words), logM, k)
  }

  /** [[bloomProbe]] over an already-broadcast filter — use when the
   *  same filter probes several queries so it ships once. The word
   *  array never enters the expression tree (see BloomProbeExpr). */
  def bloomProbeBc(id: Column, wordsBc: org.apache.spark.broadcast.Broadcast[Array[Long]],
                   logM: Int = 16, k: Int = 4): Column = {
    require(logM >= 6 && logM <= 30, s"bloomProbeBc: logM must be in [6, 30] (got $logM)")
    // geometry desync = silent false negatives; validate here on the
    // driver (broadcast value is local), because the codegen path
    // reads the words straight off the broadcast without re-checking
    require(wordsBc.value.length == 1 << (logM - 6),
      s"bloomProbeBc: filter has ${wordsBc.value.length} words but logM=$logM implies " +
        s"${1 << (logM - 6)} — build and probe must use the same logM")
    import org.apache.spark.sql.GraftBridge.{column => toCol, expression => toExpr}
    toCol(graft.functions.BloomProbeExpr(toExpr(id.cast("long")), wordsBc, logM, k))
  }

  /** SQL pieces for the DuckDB twin: the two-round mixer pair
   *  (h1, h2) over an id expression, for a `SELECT ..., $h1 AS h1,
   *  $h2 AS h2` staging CTE; bit j is then
   *  `(h1 + j*h2) % 2^logM` and the word table is
   *  `bit // 64 -> bit_or(1 << bit % 64)` — see the q_bloom oracle. */
  def bloomHashSql(idExpr: String): (String, String) = {
    def mix2(e: String) = {
      val h1 = s"(${Sampling.knuthHashSql(e)})"
      Sampling.knuthHashSql(s"xor($h1, $h1 // 65536)")
    }
    (s"(${mix2(idExpr)})", s"(${mix2(s"xor($idExpr, $bloomSalt)")})")
  }

  // -------------------------------------------------------- Count-min

  /**
   * Count-min sketch: a d x 2^logW counter table estimating key
   * frequencies from bounded state — the heavy-hitter / frequency
   * primitive when the key domain is too large to count exactly and
   * the stream too large to re-scan. Same deterministic double
   * hashing as the Bloom filter (h1 + j*h2, Kirsch-Mitzenmacher) and
   * plain integer sums, so the DuckDB oracle replays every cell and
   * estimate exactly.
   *
   * The cell table IS the sketch: d x 2^logW rows independent of
   * input size, built by d unioned codegen-only passes each
   * map-side-combined to <= 2^logW cells before the shuffle (see
   * [[cmsCells]] for why NOT one exploded aggregation). Shards merge
   * by cell-wise
   * SUM ([[cmsMerge]]) — the incremental shape: keep yesterday's
   * cells, aggregate today's, sum. Estimates ([[cmsEstimate]]) are
   * min over the d addressed cells: never below the true count,
   * above it with probability <= e^-d by more than (e/2^logW) x N.
   */
  /** The row-j cell address of an id — the ONE definition of the
   *  Kirsch-Mitzenmacher double-hash geometry shared by build
   *  ([[cmsCells]]) and probe ([[cmsEstimate]]): a drift between the
   *  two would produce silent undercounts, the one failure mode a
   *  count-min sketch promises away. */
  private def cmsCell(id: Column, j: Int, logW: Int): Column = {
    val w = 1L << logW
    val h1 = mixCol(id)
    val h2 = mixCol(id.bitwiseXOR(lit(bloomSalt)))
    pmod(h1 + lit(j.toLong) * h2, lit(w))
  }

  /** The d (row, cell) addresses of an id, as an exploded generator —
   *  for BOUNDED probe-key sets only ([[cmsEstimate]]). The corpus-
   *  side build must NOT use this: `explode` drops the aggregation
   *  out of whole-stage codegen (measured 40x slower than the
   *  union-of-d build shape at 16M rows). */
  private def cmsAddresses(id: Column, d: Int, logW: Int): Column =
    explode(array((0 until d).map(j =>
      struct(lit(j).as("row"), cmsCell(id, j, logW).as("cell"))): _*))

  private def requireCmsGeom(d: Int, logW: Int): Unit = {
    require(d >= 1 && d <= 8, s"d must be in [1, 8] (got $d)")
    require(logW >= 4 && logW <= 22, s"logW must be in [4, 22] (got $logW)")
  }

  def cmsCells(df: DataFrame, idCol: String, d: Int = 4, logW: Int = 10): DataFrame =
    cmsCells(df, idCol, d, logW, reuseScan = false)

  /** As [[cmsCells]]; with `reuseScan` the two Kirsch-Mitzenmacher
   *  base hashes are computed ONCE into a slim cached (h1, h2)
   *  projection and the d union branches read the cache instead of
   *  re-scanning the source — the right trade when the source is a
   *  wide corpus table (d scans of 100 TB vs one scan + a 16-byte/row
   *  cache) or when the caller sketches several columns/tables in one
   *  job ([[cmsJoinSize]]). Default off: for a single sketch over a
   *  narrow parquet column, d pruned scans beat the cache write. */
  def cmsCells(df: DataFrame, idCol: String, d: Int, logW: Int,
               reuseScan: Boolean): DataFrame = {
    requireCmsGeom(d, logW)
    Sampling.requireIntegralId(df, idCol, "cmsCells")
    val w = 1L << logW
    // one codegen-only pass per sketch row, unioned: each branch
    // partially aggregates map-side to <= 2^logW cells BEFORE the
    // shuffle, and none of them leaves whole-stage codegen. The
    // "obvious" explode(d addresses)->groupBy build runs the entire
    // corpus through a Generate that breaks codegen — measured 40x
    // slower at 16M rows for d=4.
    val branches =
      if (!reuseScan)
        (0 until d).map(j =>
          df.select(lit(j).as("row"), cmsCell(col(idCol), j, logW).as("cell")))
      else {
        // gcPersist: freed with the returned sketch frame (CacheUtil)
        val hashed = CacheUtil.gcPersist(df.select(
            mixCol(col(idCol)).as("h1"),
            mixCol(col(idCol).bitwiseXOR(lit(bloomSalt))).as("h2")))
        (0 until d).map(j =>
          hashed.select(lit(j).as("row"),
            pmod(col("h1") + lit(j.toLong) * col("h2"), lit(w)).as("cell")))
      }
    branches.reduce(_ unionByName _)
      .groupBy("row", "cell")
      .agg(count(lit(1)).cast("long").as("cnt"))
  }

  /** Inner-join cardinality estimate from two CMS tables built on the
   *  SAME geometry (Cormode & Muthukrishnan's inner-product
   *  estimator): per sketch row, the cell-wise product sum
   *  overestimates |A join B| (collisions only add); the min over the
   *  d rows is the estimate. The optimizer-style use: size a join
   *  from two bounded sketches — d x 2^logW cells each — without
   *  running it. Integer-exact, so a SQL replay hash-matches. */
  def cmsJoinSize(cellsA: DataFrame, cellsB: DataFrame): DataFrame =
    cellsA.alias("a").join(cellsB.alias("b"), Seq("row", "cell"))
      .groupBy("row")
      .agg(sum(col("a.cnt") * col("b.cnt")).cast("long").as("ip"))
      .agg(min("ip").as("join_est"))

  /** Merge cell tables from disjoint shards: cell-wise sum. */
  def cmsMerge(cells: DataFrame*): DataFrame =
    cells.reduce(_ unionByName _).groupBy("row", "cell")
      .agg(sum(col("cnt")).cast("long").as("cnt"))

  /** Frequency estimates for a (bounded) probe-key set: min over the
   *  d addressed cells, 0 for keys hashing only to empty cells. The
   *  cell table is bounded (d x 2^logW rows) so the join broadcasts;
   *  the probe side never shuffles. */
  def cmsEstimate(cells: DataFrame, keys: DataFrame, idCol: String,
                  d: Int = 4, logW: Int = 10): DataFrame = {
    requireCmsGeom(d, logW)
    Sampling.requireIntegralId(keys, idCol, "cmsEstimate")
    keys.select(col(idCol), cmsAddresses(col(idCol), d, logW).as("rc"))
      .join(broadcast(cells),
        col("rc.row") === cells("row") && col("rc.cell") === cells("cell"), "left")
      .groupBy(idCol)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cm_est"))
  }

  // ------------------------------------------------------- Histogram

  /**
   * Fixed-bin histogram sketch: per-(group, bin) counts over a value
   * range — the mergeable quantile/distribution state (approximate
   * percentiles from bounded rows where `percentile_approx`'s
   * internal digest can't be persisted, merged across jobs, or
   * replayed by another engine). Out-of-range values clamp into the
   * edge bins, so totals are conserved. Pick `lo`/`hi`/`nBins` so
   * the bin width is an exact binary double (e.g. 1000/256) and
   * every engine computes identical bins.
   *
   * ONE map-side-combined aggregation; rows bounded at
   * groups x nBins. Shards merge by bin-wise sum ([[histMerge]]).
   */
  def histBins(df: DataFrame, groupCol: String, valueCol: String,
               lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(nBins >= 2 && nBins <= 65536, s"nBins must be in [2, 65536] (got $nBins)")
    require(hi > lo, s"need hi > lo (got [$lo, $hi))")
    val width = (hi - lo) / nBins
    val v = col(valueCol).cast("double")
    // NULL/NaN are not values: without the filter, Spark's null-skipping
    // greatest/least would count a NULL into bin 0 (silently dragging
    // quantiles toward lo), and NaN bins differently across engines
    // (Spark NaN.toLong = 0; SQL greatest/least propagate NaN -> top
    // bin) — excluded on both sides so the sketch only ever counts
    // finite values
    df.filter(v.isNotNull && !isnan(v))
      .select(col(groupCol).as("grp"),
        least(greatest(floor((v - lo) / width), lit(0L)), lit(nBins - 1L))
          .cast("long").as("bin"))
      .groupBy("grp", "bin")
      .agg(count(lit(1)).cast("long").as("cnt"))
  }

  /**
   * Geometry-carrying wrapper over the raw histogram state: prevents
   * the silent-wrong-edges mismatch of calling [[histQuantiles]] with
   * a different (lo, hi, nBins) than the bins were built with. Use
   * the raw table functions when persisting sketch state across jobs
   * (then the geometry must be stored alongside it, like the HLL p).
   */
  final case class HistSketch(bins: DataFrame, lo: Double, hi: Double, nBins: Int) {
    def merge(other: HistSketch): HistSketch = {
      require(lo == other.lo && hi == other.hi && nBins == other.nBins,
        s"histogram geometry mismatch: [$lo,$hi)/$nBins vs [${other.lo},${other.hi})/${other.nBins}")
      HistSketch(histMerge(bins, other.bins), lo, hi, nBins)
    }
    def quantiles(percents: Seq[Int]): DataFrame =
      histQuantiles(bins, percents, lo, hi, nBins)
  }

  /** [[histBins]] packaged with its geometry. */
  def histSketch(df: DataFrame, groupCol: String, valueCol: String,
                 lo: Double, hi: Double, nBins: Int): HistSketch =
    HistSketch(histBins(df, groupCol, valueCol, lo, hi, nBins), lo, hi, nBins)

  /** Merge histogram shards: bin-wise sum. */
  def histMerge(bins: DataFrame*): DataFrame =
    bins.reduce(_ unionByName _).groupBy("grp", "bin")
      .agg(sum(col("cnt")).cast("long").as("cnt"))

  /**
   * Percentile estimates from a histogram sketch: for each percent p
   * the first bin whose cumulative count reaches ceil(n*p/100) —
   * spelled `100*cum >= n*p` so the comparison is pure integer
   * arithmetic (no ceil, no float thresholds). Returns
   * (grp, p, qbin, q_edge): the bin index and its upper value edge
   * (true percentile <= q_edge, within one bin width above its bin's
   * lower edge). One window pass over the (bounded) bin table.
   */
  def histQuantiles(bins: DataFrame, percents: Seq[Int],
                    lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      s"percents must be in [1, 100]: $percents")
    val width = (hi - lo) / nBins
    val w = org.apache.spark.sql.expressions.Window.partitionBy("grp").orderBy("bin")
    val cum = bins.withColumn("cum", sum(col("cnt")).over(w))
    val tot = bins.groupBy("grp").agg(sum(col("cnt")).cast("long").as("n"))
    cum.join(broadcast(tot), "grp")
      .select(col("grp"), col("bin"), col("cum"), col("n"),
        explode(array(percents.map(lit): _*)).as("p"))
      .filter(col("cum") * 100 >= col("n") * col("p"))
      .groupBy("grp", "p")
      .agg(min(col("bin")).as("qbin"))
      .withColumn("q_edge", lit(lo) + (col("qbin") + 1) * lit(width))
  }

  // ------------------------------------------------------------- KMV

  private def requireKmvK(k: Int): Unit =
    require(k >= 2 && k <= 4096, s"k must be in [2, 4096] (got $k)")

  /**
   * K-minimum-values distinct sketch (Bar-Yossef et al. 2002; Beyer
   * et al. 2007's unbiased threshold estimator): per group, the k
   * smallest DISTINCT values of the same two-round 32-bit mix the HLL
   * uses. Complements [[hllRegisters]] on two axes the register
   * sketch cannot cover:
   *
   *  - the estimator is PURE INTEGER arithmetic end to end
   *    (`(k-1) * 2^32 * 100 div h_k`, exact `n * 100` when the group
   *    holds fewer than k distinct values — the sketch then IS the
   *    distinct set), so there is no IEEE division to keep
   *    deterministic across engines;
   *  - the kept hashes are a uniform SAMPLE of the distinct domain,
   *    so sketches support SET OPERATIONS: the k smallest of a union
   *    of sketches is exactly the union's sketch
   *    ([[kmvMerge]]), and scanning A∩B membership over the union's
   *    kept sample yields distinct-INTERSECTION estimates
   *    ([[kmvIntersectEstimate]]) — structurally impossible on HLL
   *    registers. Expected relative error ~1/sqrt(k-2) (6% at
   *    k=256).
   *
   * Scale shape: ONE map-side-combined distinct on (grp, h) — the
   * only corpus-sized stage, and it shrinks in the combiners — then
   * [[TopK.partitionTopK]] bounds every post-shuffle partition to k
   * rows per group before the exact ranking window, so no
   * single-task corpus-sized sort exists at any cardinality (the r6
   * ANN lesson applied to sketches). State: <= groups x k rows,
   * persistable and mergeable like the other sketch tables.
   */
  def kmvSketch(df: DataFrame, groupCol: String, idCol: String, k: Int = 256): DataFrame = {
    requireKmvK(k)
    Sampling.requireIntegralId(df, idCol, "kmvSketch")
    val distinctHashes = df
      .select(col(groupCol).as("grp"), mixCol(col(idCol)).as("h"))
      .distinct()
    kmvSelect(distinctHashes, k)
  }

  /** The bounded k-smallest selection shared by build and merge:
   *  local heap bound, then the exact window over <= k rows per
   *  group per partition. Hashes are distinct here, so the
   *  (score, id) = (h, h) tie-break never fires. */
  private def kmvSelect(distinctHashes: DataFrame, k: Int): DataFrame = {
    val bounded = TopK.partitionTopK(
      distinctHashes.withColumn("__hd", col("h").cast("double")),
      "grp", "h", "__hd", k, ascending = true)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("grp").orderBy(col("h").asc)
    bounded.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("grp", "rank", "h")
  }

  /** Merge KMV sketches (same k): distinct union of kept hashes,
   *  re-select the k smallest. Input is bounded (shards x k rows per
   *  group), and the result equals the sketch of the unioned inputs
   *  exactly — max is to HLL what min-k is to KMV. */
  def kmvMerge(k: Int, sketches: DataFrame*): DataFrame = {
    requireKmvK(k)
    kmvSelect(sketches.map(_.select("grp", "h")).reduce(_ unionByName _).distinct(), k)
  }

  /** Distinct estimate from a sketch: (grp, n_kept, theta, kmv_est_e2)
   *  with theta = the largest kept hash and
   *  kmv_est_e2 = floor(estimate * 100) — exact `n_kept * 100` for
   *  under-full groups, else the threshold estimator, all in BIGINT
   *  arithmetic ((k-1) * 2^32 * 100 < 2^63 for k <= 4096). */
  def kmvEstimate(sketch: DataFrame, k: Int = 256): DataFrame = {
    requireKmvK(k)
    sketch.groupBy("grp")
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("theta"))
      .withColumn("kmv_est_e2",
        when(col("n_kept") < k, col("n_kept") * 100L)
          .otherwise(expr(s"${(k - 1).toLong * 4294967296L * 100L}L div theta")))
  }

  /**
   * Distinct-intersection (and Jaccard) estimate from two sketches
   * with the same k (Beyer et al. 2007 §4): take the union's k
   * smallest over both kept-hash sets (bounded: <= 2k rows per group
   * enter the window), count rho = how many of them appear in BOTH
   * sketches, and scale the union estimate by rho/n_union_kept (=
   * rho/k for full sketches; for an UNDER-full union the kept sample
   * IS the whole union, so the scaling degenerates to the exact
   * rho — dividing by k there would shrink an exact answer). Returns
   * (grp, n_union_kept, rho, union_est_e2, inter_est_e2,
   * jaccard_e4) — all integer until the final e-scaled floors.
   */
  def kmvIntersectEstimate(a: DataFrame, b: DataFrame, k: Int = 256): DataFrame = {
    requireKmvK(k)
    val u = a.select(col("grp"), col("h"), lit(1L).as("ina"))
      .join(b.select(col("grp"), col("h"), lit(1L).as("inb")), Seq("grp", "h"), "full_outer")
      .select(col("grp"), col("h"),
        coalesce(col("ina"), lit(0L)).as("ina"), coalesce(col("inb"), lit(0L)).as("inb"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("grp").orderBy(col("h").asc)
    val kept = u.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= k)
    kept.groupBy("grp")
      .agg(count(lit(1)).as("n_union_kept"), max(col("h")).as("theta"),
        sum(col("ina") * col("inb")).as("rho"))
      .withColumn("union_est_e2",
        when(col("n_union_kept") < k, col("n_union_kept") * 100L)
          .otherwise(expr(s"${(k - 1).toLong * 4294967296L * 100L}L div theta")))
      .withColumn("inter_est_e2", expr("(rho * union_est_e2) div n_union_kept"))
      .withColumn("jaccard_e4", expr(s"(rho * 10000L) div n_union_kept"))
      .select("grp", "n_union_kept", "rho", "union_est_e2", "inter_est_e2", "jaccard_e4")
  }

  /** SQL twin of kmvSketch + kmvEstimate (+ the exact count) for the
   *  DuckDB oracle — the same distinct-hash, rank-<=-k, integer-
   *  estimator pipeline in window SQL. */
  def kmvDistinctSql(table: String, groupCol: String, idCol: String, k: Int): String = {
    requireKmvK(k)
    s"""WITH h1t AS (
      SELECT DISTINCT $groupCol AS grp, (${Sampling.knuthHashSql(idCol)}) AS h1 FROM $table),
    ht AS (
      SELECT DISTINCT grp, ($mixSqlFromH1) AS h FROM h1t),
    ranked AS (
      SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rank FROM ht),
    sk AS (SELECT grp, h FROM ranked WHERE rank <= $k),
    est AS (
      SELECT grp, count(*) AS n_kept, max(h) AS theta,
        CASE WHEN count(*) < $k THEN count(*) * 100
             ELSE ${(k - 1).toLong * 4294967296L * 100L} // max(h) END AS kmv_est_e2
      FROM sk GROUP BY grp),
    exact AS (
      SELECT $groupCol AS grp, count(DISTINCT $idCol) AS n_exact FROM $table GROUP BY 1)
    SELECT exact.grp, CAST(n_kept AS BIGINT) AS n_kept, CAST(theta AS BIGINT) AS theta,
      CAST(kmv_est_e2 AS BIGINT) AS kmv_est_e2, CAST(n_exact AS BIGINT) AS n_exact
    FROM exact JOIN est USING (grp)"""
  }

  /** SQL twin of two filtered single-group [[kmvSketch]]es fed to
   *  [[kmvIntersectEstimate]] (grp dropped — one row out), replaying
   *  sketch build, union ranking, rho and the integer estimators. */
  def kmvIntersectSql(table: String, idCol: String,
                      filterA: String, filterB: String, k: Int): String = {
    requireKmvK(k)
    def side(name: String, filt: String) =
      s"""${name}1 AS (
        SELECT DISTINCT (${Sampling.knuthHashSql(idCol)}) AS h1 FROM $table WHERE $filt),
      ${name}h AS (SELECT DISTINCT ($mixSqlFromH1) AS h FROM ${name}1),
      $name AS (SELECT h FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS r FROM ${name}h) WHERE r <= $k)"""
    s"""WITH ${side("ska", filterA)}, ${side("skb", filterB)},
    u AS (
      SELECT coalesce(a.h, b.h) AS h,
        CASE WHEN a.h IS NULL THEN 0 ELSE 1 END AS ina,
        CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS inb
      FROM ska a FULL OUTER JOIN skb b ON a.h = b.h),
    kept AS (SELECT * FROM (
      SELECT h, ina, inb, row_number() OVER (ORDER BY h) AS r FROM u) WHERE r <= $k),
    agg AS (
      SELECT count(*) AS n_union_kept, max(h) AS theta, sum(ina * inb) AS rho FROM kept),
    est AS (
      SELECT n_union_kept, rho,
        CASE WHEN n_union_kept < $k THEN n_union_kept * 100
             ELSE ${(k - 1).toLong * 4294967296L * 100L} // theta END AS union_est_e2
      FROM agg)
    SELECT CAST(n_union_kept AS BIGINT) AS n_union_kept, CAST(rho AS BIGINT) AS rho,
      CAST(union_est_e2 AS BIGINT) AS union_est_e2,
      CAST((rho * union_est_e2) // n_union_kept AS BIGINT) AS inter_est_e2,
      CAST((rho * 10000) // n_union_kept AS BIGINT) AS jaccard_e4
    FROM est"""
  }

  /** Per-group KMV distinct estimate next to the exact count — the
   *  validation composition mirroring [[hllDistinct]]. */
  def kmvDistinct(df: DataFrame, groupCol: String, idCol: String, k: Int = 256): DataFrame = {
    val est = kmvEstimate(kmvSketch(df, groupCol, idCol, k), k)
    val exact = df.groupBy(col(groupCol).as("grp"))
      .agg(countDistinct(col(idCol)).as("n_exact"))
    exact.join(est, "grp")
      .select("grp", "n_kept", "theta", "kmv_est_e2", "n_exact")
  }

  /** Per-group HLL distinct estimate next to the exact count (the
   *  demo/validation composition; at scale you keep the registers and
   *  skip the exact side). */
  def hllDistinct(df: DataFrame, groupCol: String, idCol: String, p: Int = 6): DataFrame = {
    val est = hllEstimate(hllRegisters(df, groupCol, idCol, p), p)
    val exact = df.groupBy(col(groupCol).as("grp"))
      .agg(countDistinct(col(idCol)).as("n_exact"))
    exact.join(est, "grp")
  }

  // --------------------------------- Bitmap distinct (dense-domain)

  /**
   * Per-group bitmap index over a dense non-negative integer id
   * domain (the Druid/ClickHouse groupBitmap shape): one row per
   * (group, word) with a 64-bit word of the group's membership
   * bitmap. Built with codegen'd builtins only — variable shiftleft
   * + bit_or aggregate — so construction is a single map-side-
   * combinable shuffle. Memory per group is maxId/64 words WORST
   * case (dense-domain assumption; a sparse/huge domain wants the
   * KMV/HLL sketches instead, or dictionary-encode ids first).
   */
  def bitmapWords(df: DataFrame, groupCol: String, idCol: String): DataFrame = {
    Sampling.requireIntegralId(df, idCol, "bitmapWords")
    df.filter(col(idCol) >= 0)
      .select(col(groupCol).as("grp"),
        expr(s"$idCol div 64").as("wi"),
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(pmod($idCol, 64) AS INT))").as("bit"))
      .groupBy("grp", "wi")
      .agg(expr("bit_or(bit)").as("bm"))
  }

  /** Exact pairwise intersection cardinalities between group bitmaps
   *  (diagonal included — (g, g) is the group's exact distinct
   *  count). The word tables equi-join on the word index, AND the
   *  words, and popcount — set intersection without ever
   *  materializing the id sets. Pairs with empty intersection are
   *  dropped (their words never AND to a nonzero value). */
  def bitmapIntersections(words: DataFrame): DataFrame = {
    words.alias("x").join(words.alias("y"),
        col("x.wi") === col("y.wi") && col("x.grp") <= col("y.grp"))
      .groupBy(col("x.grp").as("grp_a"), col("y.grp").as("grp_b"))
      .agg(sum(expr("bit_count(x.bm & y.bm)")).cast("long").as("n_both"))
      .filter(col("n_both") > 0)
  }

  // --------------------------------- Heavy hitters (Misra-Gries)

  /**
   * Per-partition Misra-Gries summaries, capacity `k`: at most k
   * (term, wt) counters per partition, plus one `(NULL, n_items)`
   * sentinel row per partition carrying the partition's item count
   * (so the caller gets the exact stream length N without a second
   * scan). MG guarantee (Misra & Gries 1982): any term whose count
   * within the partition exceeds n_p/(k+1) survives in that
   * partition's summary — so a term with GLOBAL count > N/(k+1)
   * exceeds the local threshold in >=1 partition (pigeonhole over
   * N = sum n_p) and is guaranteed present in the union of
   * summaries. That union (<= partitions x k rows, a few thousand
   * at 1000 executors) is the candidate superset for the exact
   * second pass; nothing the size of the key space is ever
   * shuffled or collected.
   *
   * Genuine per-partition imperative state, so this is one of the
   * rare mapPartitions operators (same rationale as the multimodal
   * codecs): the decrement-all step has no Column expression.
   */
  def mgSummaries(items: DataFrame, termCol: String, k: Int): DataFrame = {
    require(k >= 1, s"heavyHitters: Misra-Gries capacity k must be >= 1, got $k")
    val spark = items.sparkSession
    import spark.implicits._
    items.select(col(termCol).cast("string")).as[String]
      .mapPartitions { it =>
        val m = new java.util.HashMap[String, Long]()
        var n = 0L
        while (it.hasNext) {
          val term = it.next()
          if (term != null) {
            n += 1L
            val cur = m.get(term)
            if (cur != 0L || m.containsKey(term)) m.put(term, cur + 1L)
            else if (m.size < k) m.put(term, 1L)
            else {
              // decrement-all: amortized O(1) per item (each of the k
              // decrements retires one prior increment)
              val itr = m.entrySet().iterator()
              while (itr.hasNext) {
                val e = itr.next()
                if (e.getValue == 1L) itr.remove() else e.setValue(e.getValue - 1L)
              }
            }
          }
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Option[String], Long)]
        m.forEach((t, w) => out += ((Some(t), w)))
        out += ((None, n))
        out.iterator
      }
      .toDF("term", "wt")
  }

  /**
   * Exact heavy hitters, two passes, no full-keyspace shuffle:
   * pass 1 builds per-partition [[mgSummaries]] (union of keys =
   * provable candidate superset of every term with count >
   * N/(k+1)); pass 2 broadcast-semi-joins the stream against the
   * candidate table and takes EXACT counts of candidates only (the
   * aggregate shuffles <= partitions x k distinct keys). Output:
   * (term, cnt) for exactly the terms with cnt * (k+1) > N, exact
   * counts — deterministic and partitioning-independent, so a plain
   * SQL `HAVING count(*) * (k+1) > N` oracle replays it.
   */
  def heavyHitters(items: DataFrame, termCol: String, k: Int): DataFrame = {
    val spark = items.sparkSession
    import spark.implicits._
    val summ = CacheUtil.cached(mgSummaries(items, termCol, k))
    // both driver-side results are bounded by partitions x k (the
    // candidate array is exactly what broadcast() would ship anyway)
    // coalesce: an empty input yields zero sentinel rows -> null sum
    val n = summ.filter(col("term").isNull)
      .agg(coalesce(sum("wt"), lit(0L))).first().getLong(0)
    val candArr = summ.filter(col("term").isNotNull)
      .select("term").distinct().as[String].collect()
    CacheUtil.release(summ)
    val cands = candArr.toSeq.toDF("term")
    items.select(col(termCol).cast("string").as("term"))
      .join(broadcast(cands), "term")
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * (k + 1) > lit(n))
  }

  /** SQL twin of the whole [[hllDistinct]] pipeline for DuckDB oracles. */
  def hllDistinctSql(table: String, groupCol: String, idCol: String, p: Int = 6): String = {
    requireP(p)
    val m = 1 << p
    val alpha = m match {
      case 16 => "0.673" case 32 => "0.697" case 64 => "0.709"
      case _ => s"(0.7213 / (1 + 1.079 / $m))"
    }
    val scale = 1L << rhoMax(p)
    s"""WITH h1t AS (
      SELECT $groupCol AS grp, (${Sampling.knuthHashSql(idCol)}) AS h1 FROM $table),
    ht AS (
      SELECT grp, ($mixSqlFromH1) AS h FROM h1t),
    rows_h AS (
      SELECT grp, h % $m AS bucket, ${rhoSql(s"(h // ${1 << p})", p)} AS r0
      FROM ht),
    regs AS (
      SELECT grp, bucket, CAST(max(r0) AS BIGINT) AS r FROM rows_h GROUP BY grp, bucket),
    est AS (
      SELECT grp, count(*) AS buckets_hit,
        -- CAST: DuckDB sum(BIGINT) is HUGEINT, which pandas would
        -- materialize as float64 and break the driver's value hash
        CAST(sum(CAST(1 AS BIGINT) << (${rhoMax(p)} - r))
          + ($m - count(*)) * CAST($scale AS BIGINT) AS BIGINT) AS reg_sum
      FROM regs GROUP BY grp),
    exact AS (
      SELECT $groupCol AS grp, count(DISTINCT $idCol) AS n_exact FROM $table GROUP BY 1)
    SELECT exact.grp, n_exact, buckets_hit, reg_sum,
      CAST(floor($alpha * $m.0 * $m.0 * $scale.0 / reg_sum::DOUBLE * 100.0) AS BIGINT) AS hll_est_e2
    FROM exact JOIN est USING (grp)"""
  }
}
