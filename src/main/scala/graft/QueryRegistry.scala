package graft

import graft.functions.sphere
import graft.operators.{DriverLocal, Spatial}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The operator inventory (SURVEY.md §2): every entry pairs a
 * Spark-first implementation with (where SQL-expressible) a DuckDB
 * oracle over the same parquet tables. Column names and all rounding
 * are kept identical on both sides — the driver hash-compares.
 */
object QueryRegistry {

  final case class QueryDef(run: (SparkSession, String) => DataFrame, oracle: Option[String])

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // derived pseudo-sky coordinates (SURVEY.md §3)
  private def withSky(df: DataFrame, key: String): DataFrame =
    df.withColumn("cra", sphere.raOf(col(key))).withColumn("cdec", sphere.decOf(col(key)))

  /**
   * Oracle aux tables: healpix pixel values precomputed once with the
   * Scala kernel into small parquets that the DuckDB oracle JOINS —
   * ang2pix itself is not SQL-expressible, but everything downstream
   * of it (ranking, histogramming, the partition-map threshold walk)
   * is, so those stages become independently hash-checked instead of
   * rows-only. Written by Verify.main before the oracle dump.
   */
  // Overridable so CONCURRENT Verify runs at different SFs cannot
  // clobber each other's aux signatures (the oracle SQL embeds this
  // path at dump time, and check_oracle replays the SQL from the
  // same dump — consistent as long as each run owns its dir).
  val oracleAuxDir: String =
    sys.env.getOrElse("SPARK_GRAFT_AUX_DIR", "/tmp/graft_oracle_aux")
  def writeOracleAux(s: SparkSession, dir: String): Unit = {
    withSky(t(s, dir, "customer"), "c_custkey")
      .select(col("c_custkey"),
        sphere.hpix(col("cra"), col("cdec"), 2).as("pix2"),
        sphere.hpix(col("cra"), col("cdec"), 5).as("pix5"),
        sphere.hpix(col("cra"), col("cdec"), 6).as("pix6"),
        // spatialIndex high bits (pix@20 << 20, signed wrap) computed
        // here so the oracle's BIGINT arithmetic can't overflow
        shiftleft(sphere.hpix(col("cra"), col("cdec"), 20), 20).as("idhigh20"))
      .coalesce(1).write.mode("overwrite").parquet(s"$oracleAuxDir/hpix_customer.parquet")
    withSky(t(s, dir, "supplier"), "s_suppkey")
      .select(col("s_suppkey"), sphere.hpix(col("cra"), col("cdec"), 1).as("pix1"))
      .coalesce(1).write.mode("overwrite").parquet(s"$oracleAuxDir/hpix_supplier.parquet")
    val li = t(s, dir, "lineitem").withColumn("k", col("l_orderkey") * 8 + col("l_linenumber"))
    withSky(li, "k")
      .select(col("k"), sphere.hpix(col("cra"), col("cdec"), 5).as("pix5"))
      .distinct() // k -> pix5 is functional; k itself is NOT row-unique, so dedup for a clean N:1 join
      .coalesce(1).write.mode("overwrite").parquet(s"$oracleAuxDir/pm_lineitem.parquet")
    // order-2 pixel centers (pix2ang — not SQL-expressible): 192 rows
    // built driver-side, so the smoothing oracle can replay the
    // center-distance tophat kernel independently
    locally {
      import s.implicits._
      // NEST -> RING mapping at order 2 (nest2ring — pure arithmetic,
      // independently pinned in HealpixSpec): the hpix_ring oracle
      // replays the healpy-default RING layout through it
      (0L until graft.healpix.Healpix.npix(2)).map { p =>
        (p, graft.healpix.Healpix.nest2ring(2, p))
      }.toDF("pix", "ring_pix")
        .coalesce(1).write.mode("overwrite").parquet(s"$oracleAuxDir/ring_map_o2.parquet")
      (0L until graft.healpix.Healpix.npix(2)).map { p =>
        (p, graft.healpix.Healpix.pixCenterRa(2, p), graft.healpix.Healpix.pixCenterDec(2, p))
      }.toDF("pix", "pra", "pdec")
        .coalesce(1).write.mode("overwrite").parquet(s"$oracleAuxDir/hpix_centers_o2.parquet")
      // order-2 neighbor pairs (get_all_neighbours — not
      // SQL-expressible): the local-maxima oracle joins these
      (0L until graft.healpix.Healpix.npix(2)).flatMap { p =>
        graft.healpix.Healpix.neighborsNest(2, p).map(n => (p, n))
      }.toDF("pix", "nbr")
        .coalesce(1).write.mode("overwrite").parquet(s"$oracleAuxDir/hpix_nbrs_o2.parquet")
    }
    // order-6 leaf expansion of the two q_moc_region query-cone
    // covers (queryDiscCover — not SQL-expressible; the set algebra,
    // complement and merge rounds downstream ARE, so the oracle
    // replays those independently; cover independence is pinned by
    // SpatialSpec's brute-force disc-cover checks)
    locally {
      import s.implicits._
      mocRegionCones.flatMap { case (tag, ra, dec, r) =>
        graft.healpix.Healpix.queryDiscCover(6, ra, dec, r).map(p => (tag, p))
      }.toDF("region", "pix")
        .coalesce(1).write.mode("overwrite").parquet(s"$oracleAuxDir/moc_cones_o6.parquet")
    }
    // minhash/simhash signatures (Scala kernels — the banding, est_sim
    // and Hamming downstream of them are recomputed in SQL)
    graft.operators.Dedup.minhashSignatures(t(s, dir, "documents"), "doc_id", "text", 64)
      .coalesce(1).write.mode("overwrite").parquet(s"$oracleAuxDir/minhash_documents.parquet")
    graft.operators.Dedup.simhashSignatures(t(s, dir, "documents"), "doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$oracleAuxDir/simhash_documents.parquet")
  }
  private def aux(name: String): String = s"read_parquet('$oracleAuxDir/$name.parquet/*.parquet')"
  private def skySql(table: String, key: String, extra: String = ""): String =
    s"(SELECT $table.*, ${sphere.raOfSql(key)} AS cra, ${sphere.decOfSql(key)} AS cdec$extra FROM $table)"

  // ---------------------------------------------------------------- OLAP

  private val q1_agg = QueryDef(
    (s, dir) => t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus"),
    Some("""SELECT l_returnflag, l_linestatus,
      round(sum(l_quantity), 2) AS sum_qty,
      round(sum(l_extendedprice), 2) AS sum_base_price,
      round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
      round(avg(l_quantity), 4) AS avg_qty,
      round(avg(l_extendedprice), 4) AS avg_price,
      round(avg(l_discount), 4) AS avg_disc,
      count(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""))

  private val q_join_agg = QueryDef(
    (s, dir) => t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(round(sum("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy("n_name"),
    Some("""SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
      FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name"""))

  private val q_topk = QueryDef(
    (s, dir) => t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(round(sum("o_totalprice"), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(10),
    Some("""SELECT c_custkey, c_name, round(sum(o_totalprice), 2) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_custkey, c_name ORDER BY revenue DESC, c_custkey LIMIT 10"""))

  private val q_window = QueryDef(
    (s, dir) => t(s, dir, "orders")
      .withColumn("rn", row_number().over(
        Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"), col("rn"))
      .orderBy("o_custkey", "rn"),
    Some("""SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS od, rn
      FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn FROM orders)
      WHERE rn <= 3 ORDER BY o_custkey, rn"""))

  private val q_antijoin = QueryDef(
    (s, dir) => t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 150000.0),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 150000.0)
      ORDER BY c_custkey"""))

  /** Events with `ts` as TimestampType — schema-agnostic over the
   *  driver's nanos/micros on-disk encodings (see [[EventsTable]]). */
  private[graft] def events(s: SparkSession, dir: String): DataFrame =
    EventsTable.normalizeTs(EventsTable.read(s, s"$dir/events.parquet"))

  /** Events with `ts` as RAW epoch nanos (BIGINT) — for operators
   *  whose nano-literal cutoffs and tie-breaks must match the
   *  oracle's `epoch_ns(ts)` exactly (see [[EventsTable.rawNanosTs]]). */
  private[graft] def eventsRaw(s: SparkSession, dir: String): DataFrame =
    EventsTable.rawNanosTs(EventsTable.read(s, s"$dir/events.parquet"))

  private val events_window = QueryDef(
    (s, dir) => events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("ws", "event_type"),
    Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws,
      event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Hopping (sliding) window aggregation: 2-hour windows advancing
   *  every hour — each event lands in size/slide = 2 overlapping
   *  windows (Spark's built-in sliding `window` generator; the
   *  oracle replays it as a bounded offset cross join). Integer
   *  cents keep the overlapping sums exact. */
  private val q_hopping = QueryDef(
    (s, dir) => events(s, dir)
      .withColumn("cents", expr("CAST(floor(value * 100) AS BIGINT)"))
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("cents").as("cents"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
        col("event_type"), col("n_events"), col("cents"))
      .orderBy("ws", "event_type"),
    Some("""WITH e AS (SELECT event_type, date_trunc('hour', ts) AS h,
        CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
      w AS (SELECT event_type, h - k * (INTERVAL 1 HOUR) AS ws, cents
        FROM e CROSS JOIN (SELECT unnest([0, 1]) AS k))
      SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS ws, event_type,
        count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS cents
      FROM w GROUP BY 1, 2 ORDER BY 1, 2"""))

  /**
   * Lightcurve phase-folding (time-series astronomy: fold event
   * times at a fixed period, bin by phase, average the signal per
   * object) — the events table stands in for per-object photometry.
   */
  private val q_phasefold = QueryDef(
    (s, dir) => {
      val period = 86400L // 1-day fold
      events(s, dir)
        .withColumn("phase_bin", expr(s"pmod(unix_timestamp(ts), $period) * 20 div $period"))
        .groupBy("user_id", "phase_bin")
        // floor-scaled integer: engine-policy-free (see TextAnalysis)
        .agg(count(lit(1)).as("n"), floor(avg("value") * 10000).cast("long").as("mean_value_e4"))
        .filter(col("n") >= 3)
        .orderBy("user_id", "phase_bin")
    },
    Some("""SELECT user_id, phase_bin, n, mean_value_e4 FROM (
      SELECT user_id, (CAST(floor(epoch(ts)) AS BIGINT) % 86400) * 20 // 86400 AS phase_bin,
        count(*) AS n, CAST(floor(avg(value) * 10000) AS BIGINT) AS mean_value_e4
      FROM events GROUP BY 1, 2)
      WHERE n >= 3 ORDER BY user_id, phase_bin"""))

  /**
   * Lomb–Scargle periodogram (Lomb 1976, Scargle 1982) — THE
   * period-search operator of time-domain astronomy (what lsd2's
   * cross-matched lightcurves feed downstream; the general form of
   * q_phasefold's fixed-period fold). Power at 20 trial frequencies
   * 0.1..2.0 cycles/day per object series; one map-only ×20
   * expansion into a single combinable aggregate — see
   * [[graft.operators.Lightcurve.lombScargle]]. The oracle replays
   * the identical tau-offset algebra in SQL.
   */
  private val q_periodogram = QueryDef(
    (s, dir) => graft.operators.Lightcurve
      .lombScargle(events(s, dir), "user_id", "ts", "value",
        nFreq = 20, freqDenom = 10.0, minPoints = 8)
      .withColumn("power", round(col("power"), 6))
      .orderBy("user_id", "fk"),
    Some("""WITH base AS (
        SELECT user_id AS k, (epoch_us(ts) - 1704067200000000) / 86400000000.0 AS t, value AS y
        FROM events),
      stats AS (SELECT k, sum(y) AS sy, count(*) AS n FROM base GROUP BY k),
      ctr AS (SELECT b.k, b.t, b.y - s.sy / s.n AS yc FROM base b JOIN stats s USING (k)),
      ex AS (SELECT ctr.*, f.fk, (2 * pi()) * (f.fk / 10.0) AS w
        FROM ctr CROSS JOIN (SELECT unnest(range(1, 21)) AS fk) f),
      ag AS (SELECT k, fk, count(*) AS n,
          sum(yc * cos(w * t)) AS c, sum(yc * sin(w * t)) AS s,
          sum(cos(2 * w * t)) AS c2, sum(sin(2 * w * t)) AS s2,
          sum(yc * yc) AS ss
        FROM ex GROUP BY 1, 2),
      fin AS (SELECT k, fk, n, c, s, ss,
          atan2(s2, c2) / 2 AS ta, sqrt(c2 * c2 + s2 * s2) AS r FROM ag)
      SELECT k AS user_id, CAST(fk AS BIGINT) AS fk, n,
        round(((c * cos(ta) + s * sin(ta)) * (c * cos(ta) + s * sin(ta)) / ((n + r) / 2)
             + (s * cos(ta) - c * sin(ta)) * (s * cos(ta) - c * sin(ta)) / ((n - r) / 2))
          / (2 * (ss / (n - 1))), 6) AS power
      FROM fin WHERE n >= 8 ORDER BY user_id, fk"""))

  /**
   * First-order variability structure function SF(Δt) (Simonetti et
   * al. 1985): mean squared signal change across observation pairs,
   * day-binned lags 0..4 — the AGN/quasar variability measure over
   * the same unevenly sampled series q_periodogram searches. Lag
   * horizon bounds the per-key self-join (never series²) — see
   * [[graft.operators.Lightcurve.structureFunction]].
   */
  private val q_structfunc = QueryDef(
    // signal floor-scaled to integer e4 BEFORE pairing: every squared
    // difference and its ~150-term sum stay exact integers (< 2^53),
    // and the mean is emitted as a FLOOR-div integer — the float
    // sum-order and large-magnitude round() hash traps never open.
    // sf_e8 is in 1e-8 units of value².
    (s, dir) => graft.operators.Lightcurve
      .structureFunction(
        events(s, dir).withColumn("value_e4", floor(col("value") * 10000).cast("long")),
        "user_id", "ts", "value_e4", maxLagDays = 5)
      .withColumn("sf_e8", expr("CAST(sum_d2 AS BIGINT) div n_pairs"))
      .drop("sf", "sum_d2")
      .orderBy("user_id", "lag_days"),
    Some("""SELECT user_id, lag_days, CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(sum(d2) // count(*) AS BIGINT) AS sf_e8
      FROM (
        SELECT a.user_id, (b.us - a.us) // 86400000000 AS lag_days,
          (b.y - a.y) * (b.y - a.y) AS d2
        FROM (SELECT user_id, epoch_us(ts) AS us,
                CAST(floor(value * 10000) AS BIGINT) AS y FROM events) a
        JOIN (SELECT user_id, epoch_us(ts) AS us,
                CAST(floor(value * 10000) AS BIGINT) AS y FROM events) b
          ON a.user_id = b.user_id AND b.us > a.us AND b.us - a.us < 5 * 86400000000)
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /**
   * Per-object variability features (the scalar summary a time-domain
   * survey publishes per lightcurve): series length, peak-to-peak
   * amplitude, and the von Neumann ratio η = δ²/s² (successive mean
   * squared difference over sample variance — the classic
   * variability-vs-noise discriminator; smooth trends give η « 2,
   * white noise η ≈ 2). All accumulators are exact integers over the
   * e4-scaled signal (diffs ordered by (time, event_id) so ties are
   * deterministic), and η = N1·n/S2 with S2 = n·Σy²−(Σy)² — a
   * division of exact integers, bit-identical in any engine. One
   * window + one aggregate, both partitioned on the object key.
   */
  private val q_lcfeatures = QueryDef(
    (s, dir) => {
      val e = events(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        floor(col("value") * 10000).cast("long").as("y"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val d = e.withColumn("dy", col("y") - lag("y", 1).over(w))
      d.groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("y").as("sy"),
          sum(col("y") * col("y")).as("syy"),
          (max("y") - min("y")).as("amp_e4"),
          sum(col("dy") * col("dy")).as("n1"))
        .filter(col("n") >= 8)
        .select(col("user_id"), col("n"), col("amp_e4"),
          round(col("n1").cast("double") * col("n") /
            (col("n") * col("syy") - col("sy") * col("sy")), 6).as("eta"))
        .orderBy("user_id")
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
          CAST(floor(value * 10000) AS BIGINT) AS y FROM events),
      d AS (SELECT user_id, y,
          y - lag(y) OVER (PARTITION BY user_id ORDER BY us, event_id) AS dy FROM e),
      a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy,
          CAST(sum(y * y) AS BIGINT) AS syy, CAST(max(y) - min(y) AS BIGINT) AS amp_e4,
          CAST(sum(dy * dy) AS BIGINT) AS n1
        FROM d GROUP BY 1)
      SELECT user_id, n, amp_e4,
        round(CAST(n1 AS DOUBLE) * n / (n * syy - sy * sy), 6) AS eta
      FROM a WHERE n >= 8 ORDER BY user_id"""))

  /** GROUP BY + HAVING pattern: customers with many high-value orders. */
  private val q_having = QueryDef(
    (s, dir) => t(s, dir, "orders")
      .filter(col("o_totalprice") > 100000.0)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_big"), round(sum("o_totalprice"), 2).as("total"))
      .filter(col("n_big") >= 3)
      .orderBy("o_custkey"),
    Some("""SELECT o_custkey, count(*) AS n_big, round(sum(o_totalprice), 2) AS total
      FROM orders WHERE o_totalprice > 100000.0
      GROUP BY o_custkey HAVING count(*) >= 3 ORDER BY o_custkey"""))

  /**
   * Top-N + "OTHER" rollup (the dashboard contribution view: the 5
   * biggest suppliers by revenue, everyone else collapsed into one
   * residual row — totals must reconcile). Exact integer cents; the
   * top side is a distributed TakeOrdered (never a global sort), the
   * residual an anti-join + ONE re-aggregate. The label column keeps
   * supplier keys and OTHER in one typed output.
   */
  private val q_topn_other = QueryDef(
    (s, dir) => {
      val rev = t(s, dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(sum(floor(col("l_extendedprice") * 100).cast("long")).as("cents"))
      val top = rev.orderBy(col("cents").desc, col("l_suppkey")).limit(5)
      val other = rev.join(broadcast(top.select("l_suppkey")), Seq("l_suppkey"), "left_anti")
        .agg(sum("cents").as("cents"))
        .select(lit("OTHER").as("label"), col("cents"))
      top.select(concat(lit("S"), col("l_suppkey")).as("label"), col("cents"))
        .union(other)
        .orderBy(col("cents").desc, col("label"))
    },
    Some("""WITH rev AS (
        SELECT l_suppkey, CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem GROUP BY 1),
      rk AS (SELECT *, row_number() OVER (ORDER BY cents DESC, l_suppkey) AS rn FROM rev)
      SELECT label, cents FROM (
        SELECT 'S' || CAST(l_suppkey AS VARCHAR) AS label, cents FROM rk WHERE rn <= 5
        UNION ALL
        SELECT 'OTHER', CAST(sum(cents) AS BIGINT) FROM rk WHERE rn > 5)
      ORDER BY cents DESC, label"""))

  /**
   * Year-over-year growth (the lag-window retail analytics shape):
   * nation × year revenue in exact integer cents (ONE fact shuffle,
   * nation broadcast), then growth vs the previous year via a lag
   * window over the ~200-row aggregate — the window sorts the tiny
   * rollup, never the fact table. Growth is a division of exact
   * integers, so the double is bit-identical in any engine.
   */
  private val q_yoy = QueryDef(
    (s, dir) => {
      val rev = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("yr"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      val w = Window.partitionBy("n_name").orderBy("yr")
      rev.withColumn("prev", lag("cents", 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("n_name"), col("yr"), col("cents"),
          round((col("cents") - col("prev")).cast("double") / col("prev").cast("double"), 6).as("growth"))
        .orderBy("n_name", "yr")
    },
    Some("""WITH rev AS (
        SELECT n_name, year(o_orderdate) AS yr,
          CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2)
      SELECT n_name, yr, cents, round((cents - prev) / CAST(prev AS DOUBLE), 6) AS growth
      FROM (SELECT *, lag(cents) OVER (PARTITION BY n_name ORDER BY yr) AS prev FROM rev)
      WHERE prev IS NOT NULL ORDER BY n_name, yr"""))

  /** Correlated scalar subquery (Catalyst decorrelation): orders 1.5x above their customer's average. */
  private val q_correlated = QueryDef(
    (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql("""SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
        FROM orders_v o
        WHERE o_totalprice > (SELECT 1.5 * avg(o2.o_totalprice) FROM orders_v o2 WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o_orderkey""")
    },
    Some("""SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
      FROM orders o
      WHERE o_totalprice > (SELECT 1.5 * avg(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      ORDER BY o_orderkey"""))

  /** TPC-H Q3 pattern: shipping-priority top-10 over a 3-way join. */
  private val q3_shipping = QueryDef(
    (s, dir) => t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .select(col("l_orderkey"), col("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"), col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10),
    Some("""SELECT l_orderkey, revenue, odate, o_orderpriority FROM (
      SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        strftime(o_orderdate, '%Y-%m-%d') AS odate, o_orderpriority
      FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey
      WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority)
      ORDER BY revenue DESC, l_orderkey LIMIT 10"""))

  /** TPC-H Q5 pattern: revenue by nation across a 6-table star join. */
  private val q5_local = QueryDef(
    // join order + hints leave ONE big shuffle (orders |><| lineitem
    // on orderkey): customer and supplier are 100x and 400x smaller
    // than lineitem at every TPC-H SF, so they ride broadcasts like
    // nation/region do — without the hints this ran as FOUR chained
    // shuffle joins, each paying the full per-stage floor. The hints
    // assume the dims fit the broadcast budget (they do up to
    // multi-TB SFs); past that, drop them and AQE reverts the plan
    // to shuffle joins with the same semantics.
    (s, dir) => t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")), col("c_custkey") === col("o_custkey"))
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name"),
    Some("""SELECT r_name, n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      count(*) AS n_items
      FROM customer JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name ORDER BY r_name, n_name"""))

  /** Semi-structured: JSON property extraction + aggregate over events.props. */
  private val q_json = QueryDef(
    (s, dir) => events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), floor(avg("k") * 10000).cast("long").as("avg_k_e4"),
        min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("event_type"),
    Some("""SELECT event_type, count(*) AS n, CAST(floor(avg(k) * 10000) AS BIGINT) AS avg_k_e4,
      min(k) AS min_k, max(k) AS max_k
      FROM (SELECT event_type, CAST(props->>'k' AS BIGINT) AS k FROM events)
      GROUP BY event_type ORDER BY event_type"""))

  private val q_sessionize = QueryDef(
    (s, dir) => graft.streaming.Sessionize.batchSessions(events(s, dir))
      .orderBy("user_id", "session_seq"),
    Some(graft.streaming.Sessionize.batchSessionsSql + " ORDER BY user_id, session_seq"))

  private val q_rollup = QueryDef(
    (s, dir) => t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .rollup(col("n_name"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
      .select(coalesce(col("n_name"), lit("(all)")).as("nation"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("n_orders"), col("revenue"))
      .orderBy("nation", "priority"),
    Some("""SELECT coalesce(n_name, '(all)') AS nation, coalesce(o_orderpriority, '(all)') AS priority,
      count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
      GROUP BY ROLLUP(n_name, o_orderpriority) ORDER BY nation, priority"""))

  /** CUBE subtotals over region x order-year with `grouping_id` kept
   *  as an explicit output column — all 2^2 grouping sets in one
   *  pass (the partial-aggregate expansion shuffles once), vs four
   *  separate scans a user would otherwise union. */
  /** Explicit GROUPING SETS (the general form rollup/cube
   *  specialize): four hand-picked sets incl. the grand total, with
   *  a grouping-bit id disambiguating data-NULLs from set-NULLs. */
  private val q_gsets = QueryDef(
    (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_gsets")
      s.sql("""SELECT l_returnflag, l_linestatus,
        CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
        count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem_gsets
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
          (l_returnflag, l_linestatus), ())
        ORDER BY gid, l_returnflag, l_linestatus""")
    },
    Some("""SELECT l_returnflag, l_linestatus,
      CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
      count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
        (l_returnflag, l_linestatus), ())
      ORDER BY gid, l_returnflag, l_linestatus"""))

  private val q_cube = QueryDef(
    (s, dir) => t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .withColumn("oyear", year(col("o_orderdate")))
      .cube(col("r_name"), col("oyear"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("revenue"))
      .select(coalesce(col("r_name"), lit("(all)")).as("region"),
        coalesce(col("oyear"), lit(-1)).as("oyear"),
        col("gid"), col("n_orders"), col("revenue"))
      .orderBy("region", "oyear"),
    Some("""SELECT coalesce(r_name, '(all)') AS region, coalesce(oyear, -1) AS oyear,
        CAST(grouping(r_name) * 2 + grouping(oyear) AS BIGINT) AS gid,
        count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
      FROM (SELECT r_name, CAST(year(o_orderdate) AS INT) AS oyear, o_totalprice
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey)
      GROUP BY CUBE(r_name, oyear) ORDER BY region, oyear"""))

  // ---------------------------------------------------------------- spatial

  private val gcd = sphere.gcDistSql("cra", "cdec", "180.0", "0.0")

  private val gc_dist = QueryDef(
    (s, dir) => withSky(t(s, dir, "customer"), "c_custkey")
      .select(col("c_custkey"), round(sphere.gcDist(col("cra"), col("cdec"), lit(180.0), lit(0.0)), 6).as("dist"))
      .orderBy("c_custkey"),
    Some(s"""SELECT c_custkey, round($gcd, 6) AS dist
      FROM ${skySql("customer", "c_custkey")} ORDER BY c_custkey"""))

  private val gnomonic = QueryDef(
    (s, dir) => withSky(t(s, dir, "customer"), "c_custkey")
      .filter(sphere.gcDist(col("cra"), col("cdec"), lit(180.0), lit(0.0)) < 60.0)
      .select(col("c_custkey"),
        round(sphere.gnomonicX(col("cra"), col("cdec"), 180.0, 0.0), 6).as("gx"),
        round(sphere.gnomonicY(col("cra"), col("cdec"), 180.0, 0.0), 6).as("gy"))
      .orderBy("c_custkey"),
    Some(s"""SELECT c_custkey,
      round(${sphere.gnomonicXSql("cra", "cdec", 180.0, 0.0)}, 6) AS gx,
      round(${sphere.gnomonicYSql("cra", "cdec", 180.0, 0.0)}, 6) AS gy
      FROM ${skySql("customer", "c_custkey")} WHERE $gcd < 60.0 ORDER BY c_custkey"""))

  private val cone_search = QueryDef(
    (s, dir) => Spatial.coneSearch(withSky(t(s, dir, "customer"), "c_custkey"),
        "cra", "cdec", 180.0, 0.0, 20.0, order = 3)
      .select(col("c_custkey"), col("cra"), col("cdec"), round(col("_DIST"), 6).as("dist"))
      .orderBy("c_custkey"),
    Some(s"""SELECT c_custkey, cra, cdec, round($gcd, 6) AS dist
      FROM ${skySql("customer", "c_custkey")} WHERE $gcd < 20.0 ORDER BY c_custkey"""))

  private val box_search = QueryDef(
    (s, dir) => Spatial.boxSearch(withSky(t(s, dir, "customer"), "c_custkey"),
        "cra", "cdec", raLo = 350.0, raHi = 40.0, decLo = -30.0, decHi = 30.0)
      .select("c_custkey", "cra", "cdec").orderBy("c_custkey"),
    Some(s"""SELECT c_custkey, cra, cdec FROM ${skySql("customer", "c_custkey")}
      WHERE cdec >= -30.0 AND cdec <= 30.0 AND (cra >= 350.0 OR cra <= 40.0)
      ORDER BY c_custkey"""))

  private val polygonVerts = Seq((150.0, -30.0), (210.0, -30.0), (180.0, 35.0))

  private val polygon_search = QueryDef(
    (s, dir) => Spatial.polygonSearch(withSky(t(s, dir, "customer"), "c_custkey"),
        "cra", "cdec", polygonVerts, order = 3)
      .select("c_custkey", "cra", "cdec").orderBy("c_custkey"),
    Some {
      // identical constants + operation order as Spatial.polygonSearch:
      // bounding-cone filter (also the hemisphere guard — gnomonic
      // projection mirrors far-hemisphere points into the polygon)
      // AND the half-plane interior test
      val (cra, cdec) = Spatial.polygonCentroid(polygonVerts)
      val bound = polygonVerts.map { case (r, d) =>
        graft.healpix.Healpix.gcDistDeg(cra, cdec, r, d) }.max * 1.001
      val verts = polygonVerts.map { case (r, d) => Spatial.gnomonicPoint(r, d, cra, cdec) }
      val signedArea = verts.indices.map { i =>
        val (x1, y1) = verts(i); val (x2, y2) = verts((i + 1) % verts.length)
        x1 * y2 - x2 * y1
      }.sum
      val ccw = if (signedArea >= 0) verts else verts.reverse
      val px = sphere.gnomonicXSql("cra", "cdec", cra, cdec)
      val py = sphere.gnomonicYSql("cra", "cdec", cra, cdec)
      val inside = ccw.indices.map { i =>
        val (x1, y1) = ccw(i); val (x2, y2) = ccw((i + 1) % ccw.length)
        s"((${x2 - x1}) * (($py) - ($y1)) - (${y2 - y1}) * (($px) - ($x1))) >= 0.0"
      }.mkString(" AND ")
      val cone = s"${sphere.gcDistSql("cra", "cdec", cra.toString, cdec.toString)} < $bound"
      s"""SELECT c_custkey, cra, cdec FROM ${skySql("customer", "c_custkey")}
        WHERE $cone AND $inside ORDER BY c_custkey"""
    })

  /** Brute-force kNN SQL shared by the xmatch oracles. */
  private def xmatchSql(dthresh: Double, k: Int): String = {
    val g = sphere.gcDistSql("cra", "cdec", "sra", "sdec")
    s"""(SELECT * FROM (
       SELECT c_custkey, c_acctbal, s_suppkey, s_acctbal, dist,
         row_number() OVER (PARTITION BY c_custkey ORDER BY round(dist, 9), s_suppkey) AS rn
       FROM (
         SELECT c.c_custkey, c.c_acctbal, s.s_suppkey, s.s_acctbal, $g AS dist
         FROM (SELECT c_custkey, c_acctbal, ${sphere.raOfSql("c_custkey")} AS cra, ${sphere.decOfSql("c_custkey")} AS cdec FROM customer) c
         CROSS JOIN (SELECT s_suppkey, s_acctbal, ${sphere.raOfSql("s_suppkey")} AS sra, ${sphere.decOfSql("s_suppkey")} AS sdec FROM supplier) s
         WHERE $g < $dthresh)
     ) WHERE rn <= $k)"""
  }

  private def xmatchDf(s: SparkSession, dir: String, dthresh: Double, k: Int): DataFrame =
    Spatial.crossMatchKnn(
      withSky(t(s, dir, "customer"), "c_custkey"), withSky(t(s, dir, "supplier"), "s_suppkey"),
      leftRa = "cra", leftDec = "cdec", leftId = "c_custkey",
      rightRa = "cra", rightDec = "cdec", rightId = "s_suppkey",
      k = k, dthreshDeg = dthresh, leftPrefix = "", rightPrefix = "s_")
      .withColumnRenamed("s_cra", "sra").withColumnRenamed("s_cdec", "sdec")
      .withColumnRenamed("s_s_suppkey", "s_suppkey").withColumnRenamed("s_s_acctbal", "s_acctbal")

  private val xmatch_knn = QueryDef(
    (s, dir) => xmatchDf(s, dir, 15.0, 2)
      .select(col("c_custkey"), col("s_suppkey"), round(col("_DIST"), 6).as("dist"), col("_RANK").cast("long").as("rn"))
      .orderBy("c_custkey", "rn"),
    Some(s"""SELECT c_custkey, s_suppkey, round(dist, 6) AS dist, rn
      FROM ${xmatchSql(15.0, 2)} ORDER BY c_custkey, rn"""))

  private val xmatch_postfilter = QueryDef(
    (s, dir) => xmatchDf(s, dir, 15.0, 2)
      .withColumn("pm", round(sqrt(pow(col("c_acctbal"), 2) + pow(col("s_acctbal"), 2)), 4))
      .filter(col("pm") > 5000.0)
      .select(col("c_custkey"), col("s_suppkey"), col("pm"))
      .orderBy("c_custkey", "s_suppkey"),
    Some(s"""SELECT c_custkey, s_suppkey, pm FROM (
      SELECT c_custkey, s_suppkey, round(sqrt(pow(c_acctbal, 2) + pow(s_acctbal, 2)), 4) AS pm
      FROM ${xmatchSql(15.0, 2)}) WHERE pm > 5000.0 ORDER BY c_custkey, s_suppkey"""))

  /**
   * Epoch-propagated cross-match: customer "sources" carry key-derived
   * proper motions (mas/yr, Gaia μ_α* convention), positions advance
   * 25 years via [[graft.operators.Spatial.propagateEpoch]] (map-only,
   * no shuffle) and only then enter the pixel-pruned kNN match — the
   * two-epoch catalog join every modern survey cross-match needs
   * (match at a COMMON epoch or fast movers fall outside the radius).
   * The oracle replays propagation + full-join ranking.
   */
  private val xmatch_pm = QueryDef(
    (s, dir) => {
      val cust = withSky(t(s, dir, "customer"), "c_custkey")
        .withColumn("pmra", (col("c_custkey") * 7 % 2001 - 1000).cast("double"))
        .withColumn("pmdec", (col("c_custkey") * 13 % 2001 - 1000).cast("double"))
      val prop = Spatial.propagateEpoch(cust, "cra", "cdec", "pmra", "pmdec", dtYears = 25.0)
      Spatial.crossMatchKnn(prop, withSky(t(s, dir, "supplier"), "s_suppkey"),
        leftRa = "cra", leftDec = "cdec", leftId = "c_custkey",
        rightRa = "cra", rightDec = "cdec", rightId = "s_suppkey",
        k = 2, dthreshDeg = 15.0, leftPrefix = "", rightPrefix = "s_")
        .withColumnRenamed("s_s_suppkey", "s_suppkey")
        .select(col("c_custkey"), col("s_suppkey"),
          round(col("_DIST"), 6).as("dist"), col("_RANK").cast("long").as("rn"))
        .orderBy("c_custkey", "rn")
    },
    Some {
      val g = sphere.gcDistSql("pra", "pdec", "sra", "sdec")
      s"""SELECT c_custkey, s_suppkey, round(dist, 6) AS dist, rn FROM (
        SELECT c_custkey, s_suppkey, dist,
          row_number() OVER (PARTITION BY c_custkey ORDER BY round(dist, 9), s_suppkey) AS rn
        FROM (
          SELECT c.c_custkey, s.s_suppkey, $g AS dist
          FROM (SELECT c_custkey,
              cra + (pmra / 3600000.0) * 25.0 / cos(radians(cdec)) AS pra,
              cdec + (pmdec / 3600000.0) * 25.0 AS pdec
            FROM (SELECT c_custkey,
              ${sphere.raOfSql("c_custkey")} AS cra, ${sphere.decOfSql("c_custkey")} AS cdec,
              CAST(c_custkey * 7 % 2001 - 1000 AS DOUBLE) AS pmra,
              CAST(c_custkey * 13 % 2001 - 1000 AS DOUBLE) AS pmdec FROM customer)) c
          CROSS JOIN (SELECT s_suppkey, ${sphere.raOfSql("s_suppkey")} AS sra,
            ${sphere.decOfSql("s_suppkey")} AS sdec FROM supplier) s
          WHERE $g < 15.0)
        ) WHERE rn <= 2 ORDER BY c_custkey, rn"""
    })

  /**
   * Mutual-nearest (symmetric best) cross-match
   * ([[graft.operators.Spatial.mutualNearest]]): a customer-supplier
   * pair survives only if each is the other's single nearest
   * neighbor within the radius — the reciprocity cut catalog
   * mergers apply before trusting 1:1 counterparts. Both directions
   * run the engine's pixel-pruned kNN; the oracle replays both
   * windowed nearest picks over the brute-force pair set and
   * intersects them.
   */
  private val xmatch_mutual = QueryDef(
    (s, dir) => Spatial.mutualNearest(
        withSky(t(s, dir, "customer"), "c_custkey"), withSky(t(s, dir, "supplier"), "s_suppkey"),
        leftRa = "cra", leftDec = "cdec", leftId = "c_custkey",
        rightRa = "cra", rightDec = "cdec", rightId = "s_suppkey",
        dthreshDeg = 15.0)
      .select(col("c_custkey"), col("s_suppkey"), round(col("_DIST"), 6).as("dist"))
      .orderBy("c_custkey"),
    Some {
      val g = sphere.gcDistSql("cra", "cdec", "sra", "sdec")
      s"""WITH pairs AS (
          SELECT c.c_custkey, s.s_suppkey, $g AS dist
          FROM (SELECT c_custkey, ${sphere.raOfSql("c_custkey")} AS cra,
                ${sphere.decOfSql("c_custkey")} AS cdec FROM customer) c
          CROSS JOIN (SELECT s_suppkey, ${sphere.raOfSql("s_suppkey")} AS sra,
                ${sphere.decOfSql("s_suppkey")} AS sdec FROM supplier) s
          WHERE $g < 15.0),
        fwd AS (SELECT c_custkey, s_suppkey, dist FROM (
          SELECT c_custkey, s_suppkey, dist,
            row_number() OVER (PARTITION BY c_custkey ORDER BY round(dist, 9), s_suppkey) AS rn
          FROM pairs) WHERE rn = 1),
        bwd AS (SELECT c_custkey, s_suppkey FROM (
          SELECT c_custkey, s_suppkey,
            row_number() OVER (PARTITION BY s_suppkey ORDER BY round(dist, 9), c_custkey) AS rn
          FROM pairs) WHERE rn = 1)
      SELECT f.c_custkey, f.s_suppkey, round(f.dist, 6) AS dist
      FROM fwd f JOIN bwd b ON f.c_custkey = b.c_custkey AND f.s_suppkey = b.s_suppkey
      ORDER BY f.c_custkey"""
    })

  /**
   * N-way cross-match composition — the multi-catalog join chain the
   * reference's users run as sequential pairwise cross_match calls
   * (catalog.py:144): catalog A (customers at an old epoch, carrying
   * key-derived proper motions) is propagated +25 years to the COMMON
   * epoch of B (suppliers) and C (parts), kNN-matched to its best B
   * counterpart, and the surviving (A, B) pairs are then matched to
   * their best C counterpart — one composed pipeline, both joins on
   * the same pixel-key machinery (the A-side positions feed both pixel
   * assignments; each right side pays exactly one disc-cover margin
   * explode). The oracle replays propagation and BOTH windowed
   * nearest picks brute-force.
   */
  private val pipeline_xmatch3 = QueryDef(
    (s, dir) => {
      val a = Spatial.propagateEpoch(
        withSky(t(s, dir, "customer"), "c_custkey")
          .withColumn("pmra", (col("c_custkey") * 7 % 2001 - 1000).cast("double"))
          .withColumn("pmdec", (col("c_custkey") * 13 % 2001 - 1000).cast("double")),
        "cra", "cdec", "pmra", "pmdec", dtYears = 25.0)
        .select("c_custkey", "cra", "cdec")
      val b = withSky(t(s, dir, "supplier"), "s_suppkey").select("s_suppkey", "cra", "cdec")
      val c = withSky(t(s, dir, "part"), "p_partkey").select("p_partkey", "cra", "cdec")
      val ab = Spatial.crossMatchKnn(a, b,
          leftRa = "cra", leftDec = "cdec", leftId = "c_custkey",
          rightRa = "cra", rightDec = "cdec", rightId = "s_suppkey",
          k = 1, dthreshDeg = 15.0, leftPrefix = "", rightPrefix = "b_")
        .select(col("c_custkey"), col("cra"), col("cdec"),
          col("b_s_suppkey").as("s_suppkey"), round(col("_DIST"), 6).as("dist_ab"))
      Spatial.crossMatchKnn(ab, c,
          leftRa = "cra", leftDec = "cdec", leftId = "c_custkey",
          rightRa = "cra", rightDec = "cdec", rightId = "p_partkey",
          k = 1, dthreshDeg = 10.0, leftPrefix = "", rightPrefix = "p_")
        .select(col("c_custkey"), col("s_suppkey"), col("p_p_partkey").as("p_partkey"),
          col("dist_ab"), round(col("_DIST"), 6).as("dist_ac"))
        .orderBy("c_custkey")
    },
    Some {
      val gab = sphere.gcDistSql("a.pra", "a.pdec", "b.sra", "b.sdec")
      val gac = sphere.gcDistSql("ab.pra", "ab.pdec", "c.tra", "c.tdec")
      s"""WITH a AS (
          SELECT c_custkey,
            cra + (pmra / 3600000.0) * 25.0 / cos(radians(cdec)) AS pra,
            cdec + (pmdec / 3600000.0) * 25.0 AS pdec
          FROM (SELECT c_custkey,
            ${sphere.raOfSql("c_custkey")} AS cra, ${sphere.decOfSql("c_custkey")} AS cdec,
            CAST(c_custkey * 7 % 2001 - 1000 AS DOUBLE) AS pmra,
            CAST(c_custkey * 13 % 2001 - 1000 AS DOUBLE) AS pmdec FROM customer)),
        b AS (SELECT s_suppkey, ${sphere.raOfSql("s_suppkey")} AS sra,
          ${sphere.decOfSql("s_suppkey")} AS sdec FROM supplier),
        c AS (SELECT p_partkey, ${sphere.raOfSql("p_partkey")} AS tra,
          ${sphere.decOfSql("p_partkey")} AS tdec FROM part),
        ab AS (SELECT c_custkey, pra, pdec, s_suppkey, dab FROM (
          SELECT a.c_custkey, a.pra, a.pdec, b.s_suppkey, $gab AS dab,
            row_number() OVER (PARTITION BY a.c_custkey
              ORDER BY round($gab, 9), b.s_suppkey) AS rn
          FROM a CROSS JOIN b WHERE $gab < 15.0) WHERE rn = 1),
        abc AS (SELECT c_custkey, s_suppkey, p_partkey, dab, dac FROM (
          SELECT ab.c_custkey, ab.s_suppkey, ab.dab, c.p_partkey, $gac AS dac,
            row_number() OVER (PARTITION BY ab.c_custkey
              ORDER BY round($gac, 9), c.p_partkey) AS rn
          FROM ab CROSS JOIN c WHERE $gac < 10.0) WHERE rn = 1)
      SELECT c_custkey, s_suppkey, p_partkey,
        round(dab, 6) AS dist_ab, round(dac, 6) AS dist_ac
      FROM abc ORDER BY c_custkey"""
    })

  /**
   * Cross-match completeness/purity evaluation — the spatial member
   * of the eval family (ANN has `ann_recall`, dedup
   * `dedup_calibration`, the classifier `text_nb_eval`; this is the
   * acceptance test a survey publishes before trusting a matched
   * catalog). Ground truth is PLANTED: every truth source gets an
   * observed counterpart displaced 0-2.3 deg (deterministic key
   * arithmetic — some beyond the 2.0 deg radius, so recall < 100% by
   * construction) plus a same-meridian decoy on the opposite side
   * (0-2.9 deg — sometimes closer than the counterpart, so purity
   * < 100% too). The kNN match (k=1) runs the REAL pixel-pruned
   * engine path; completeness = correct/truth, purity =
   * correct/matched, exact integer percent. Oracle replays planting,
   * brute-force kNN and both rates.
   */
  private val xmatch_eval = QueryDef(
    (s, dir) => {
      val truth = withSky(t(s, dir, "supplier"), "s_suppkey")
        .select(col("s_suppkey").as("tid"), col("cra"), col("cdec"))
      val sign = when(col("tid") % 2 === 0, 1.0).otherwise(-1.0)
      val obs = truth.select(col("tid").as("oid"), col("cra"),
          (col("cdec") + (col("tid") * 31 % 24).cast("double") / 10.0 * sign).as("cdec"))
        .unionByName(truth.select((col("tid") + 1000000L).as("oid"), col("cra"),
          (col("cdec") - (col("tid") * 17 % 30).cast("double") / 10.0 * sign).as("cdec")))
      val m = Spatial.crossMatchKnn(truth, obs,
          leftRa = "cra", leftDec = "cdec", leftId = "tid",
          rightRa = "cra", rightDec = "cdec", rightId = "oid",
          k = 1, dthreshDeg = 2.0, leftPrefix = "", rightPrefix = "o_")
        .select(col("tid"), col("o_oid").as("oid"))
      truth.join(m, Seq("tid"), "left")
        .agg(count(lit(1)).as("n_truth"), count(col("oid")).as("n_matched"),
          sum(when(col("oid") === col("tid"), 1L).otherwise(0L)).as("n_correct"))
        .select(col("n_truth"), col("n_matched"), col("n_correct"),
          expr("n_correct * 100 div n_truth").as("completeness_pct"),
          expr("n_correct * 100 div n_matched").as("purity_pct"))
    },
    Some {
      val g = sphere.gcDistSql("t.cra", "t.cdec", "o.cra", "o.cdec")
      s"""WITH truth AS (SELECT s_suppkey AS tid, ${sphere.raOfSql("s_suppkey")} AS cra,
          ${sphere.decOfSql("s_suppkey")} AS cdec FROM supplier),
        obs AS (
          SELECT tid AS oid, cra, cdec + CAST(tid * 31 % 24 AS DOUBLE) / 10.0
            * (CASE WHEN tid % 2 = 0 THEN 1.0 ELSE -1.0 END) AS cdec FROM truth
          UNION ALL
          SELECT tid + 1000000, cra, cdec - CAST(tid * 17 % 30 AS DOUBLE) / 10.0
            * (CASE WHEN tid % 2 = 0 THEN 1.0 ELSE -1.0 END) FROM truth),
        m AS (SELECT tid, oid FROM (
          SELECT t.tid, o.oid,
            row_number() OVER (PARTITION BY t.tid ORDER BY round($g, 9), o.oid) AS rn
          FROM truth t JOIN obs o ON $g < 2.0) WHERE rn = 1)
      SELECT CAST(count(*) AS BIGINT) AS n_truth,
        CAST(count(m.oid) AS BIGINT) AS n_matched,
        CAST(sum(CASE WHEN m.oid = t.tid THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        CAST(CAST(sum(CASE WHEN m.oid = t.tid THEN 1 ELSE 0 END) AS BIGINT) * 100
          // count(*) AS BIGINT) AS completeness_pct,
        CAST(CAST(sum(CASE WHEN m.oid = t.tid THEN 1 ELSE 0 END) AS BIGINT) * 100
          // count(m.oid) AS BIGINT) AS purity_pct
      FROM truth t LEFT JOIN m USING (tid)"""
    })

  /** Per-region completeness/purity MAP — xmatch_eval resolved onto
   *  the sky (the survey-QA "depth map": WHERE does the matching
   *  degrade, not just how much): same planted observed catalog and
   *  kNN match, rolled up per order-1 pixel of the truth position
   *  with integer counts and floor-div percentages. One extra
   *  map-side pixel column on the eval plan; the per-pixel rollup is
   *  bounded by npix(1) = 48 rows. */
  private val q_xmatch_map = QueryDef(
    (s, dir) => {
      val truth = withSky(t(s, dir, "supplier"), "s_suppkey")
        .select(col("s_suppkey").as("tid"), col("cra"), col("cdec"),
          sphere.hpix(col("cra"), col("cdec"), 1).as("pix"))
      val sign = when(col("tid") % 2 === 0, 1.0).otherwise(-1.0)
      val obs = truth.select(col("tid").as("oid"), col("cra"),
          (col("cdec") + (col("tid") * 31 % 24).cast("double") / 10.0 * sign).as("cdec"))
        .unionByName(truth.select((col("tid") + 1000000L).as("oid"), col("cra"),
          (col("cdec") - (col("tid") * 17 % 30).cast("double") / 10.0 * sign).as("cdec")))
      val m = Spatial.crossMatchKnn(truth.drop("pix"), obs,
          leftRa = "cra", leftDec = "cdec", leftId = "tid",
          rightRa = "cra", rightDec = "cdec", rightId = "oid",
          k = 1, dthreshDeg = 2.0, leftPrefix = "", rightPrefix = "o_")
        .select(col("tid"), col("o_oid").as("oid"))
      truth.join(m, Seq("tid"), "left")
        .groupBy("pix")
        .agg(count(lit(1)).as("n_truth"), count(col("oid")).as("n_matched"),
          sum(when(col("oid") === col("tid"), 1L).otherwise(0L)).as("n_correct"))
        .select(col("pix"), col("n_truth"), col("n_matched"), col("n_correct"),
          expr("n_correct * 100 div n_truth").as("completeness_pct"),
          // a pixel with zero matches has no defined purity -> NULL
          // (guarded explicitly: DuckDB's // raises on zero where
          // Spark's div would quietly null)
          when(col("n_matched") > 0, expr("n_correct * 100 div n_matched"))
            .as("purity_pct"))
        .orderBy("pix")
    },
    Some {
      val g = sphere.gcDistSql("t.cra", "t.cdec", "o.cra", "o.cdec")
      s"""WITH truth AS (SELECT s_suppkey AS tid, ${sphere.raOfSql("s_suppkey")} AS cra,
          ${sphere.decOfSql("s_suppkey")} AS cdec, h.pix1 AS pix
          FROM supplier JOIN ${aux("hpix_supplier")} h USING (s_suppkey)),
        obs AS (
          SELECT tid AS oid, cra, cdec + CAST(tid * 31 % 24 AS DOUBLE) / 10.0
            * (CASE WHEN tid % 2 = 0 THEN 1.0 ELSE -1.0 END) AS cdec FROM truth
          UNION ALL
          SELECT tid + 1000000, cra, cdec - CAST(tid * 17 % 30 AS DOUBLE) / 10.0
            * (CASE WHEN tid % 2 = 0 THEN 1.0 ELSE -1.0 END) FROM truth),
        m AS (SELECT tid, oid FROM (
          SELECT t.tid, o.oid,
            row_number() OVER (PARTITION BY t.tid ORDER BY round($g, 9), o.oid) AS rn
          FROM truth t JOIN obs o ON $g < 2.0) WHERE rn = 1)
      SELECT t.pix, CAST(count(*) AS BIGINT) AS n_truth,
        CAST(count(m.oid) AS BIGINT) AS n_matched,
        CAST(sum(CASE WHEN m.oid = t.tid THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        CAST(CAST(sum(CASE WHEN m.oid = t.tid THEN 1 ELSE 0 END) AS BIGINT) * 100
          // count(*) AS BIGINT) AS completeness_pct,
        CASE WHEN count(m.oid) = 0 THEN NULL
             ELSE CAST(CAST(sum(CASE WHEN m.oid = t.tid THEN 1 ELSE 0 END) AS BIGINT) * 100
               // count(m.oid) AS BIGINT) END AS purity_pct
      FROM truth t LEFT JOIN m USING (tid) GROUP BY t.pix ORDER BY t.pix"""
    })

  /**
   * Friends-of-friends group finder (Huchra & Geller 1982 — the
   * percolation group catalog large-scale-structure surveys build
   * from exactly lsd2's kind of object table): linking-length pairs
   * from the pixel-bucketed self-join (`Spatial.selfPairs` — fan-out
   * bounded by local density x disc cover, never all-pairs, each
   * unordered pair emitted exactly once by construction), transitive
   * closure via the O(log n) star contraction, ONE aggregate per
   * group. Groups are n >= 2 (isolated points are field objects);
   * coordinates aggregate as exact integer centi-degree SUMS (the
   * centroid numerators — mergeable and engine-exact where a mean
   * would not be). Oracle replays the pairs brute-force and the
   * closure as a recursive CTE — a structurally different derivation
   * that must hash-match. `localMaxEdges` is the closure's cutover
   * ([[Spatial.fofGroups]]); q_fof takes the default, q_fof_dist 0.
   */
  private def fof(localMaxEdges: Long) = QueryDef(
    (s, dir) => {
      val sup = withSky(t(s, dir, "supplier"), "s_suppkey")
      Spatial.fofGroups(sup, "cra", "cdec", "s_suppkey", dthreshDeg = 2.5, localMaxEdges)
        .groupBy("group_id")
        .agg(count(lit(1)).as("n_members"),
          sum(col("s_suppkey") * 137 % 36000).as("sum_cra_e2"),
          sum(col("s_suppkey") * 211 % 16000 - 8000).as("sum_cdec_e2"))
        .orderBy("group_id")
    },
    Some {
      val g = sphere.gcDistSql("a.cra", "a.cdec", "b.cra", "b.cdec")
      s"""WITH RECURSIVE sky AS (
        SELECT s_suppkey AS id, ${sphere.raOfSql("s_suppkey")} AS cra,
          ${sphere.decOfSql("s_suppkey")} AS cdec FROM supplier),
      pr AS (SELECT a.id AS ia, b.id AS ib FROM sky a JOIN sky b
        ON a.id < b.id WHERE $g < 2.5),
      edges AS (SELECT ia AS a, ib AS b FROM pr UNION ALL SELECT ib, ia FROM pr),
      cc AS (
        SELECT a AS id, a AS comp FROM edges
        UNION
        SELECT e.b AS id, cc.comp FROM cc JOIN edges e ON e.a = cc.id WHERE cc.comp < e.b),
      lab AS (SELECT id, min(comp) AS comp FROM cc GROUP BY id)
      SELECT comp AS group_id, count(*) AS n_members,
        CAST(sum(id * 137 % 36000) AS BIGINT) AS sum_cra_e2,
        CAST(sum(id * 211 % 16000 - 8000) AS BIGINT) AS sum_cdec_e2
      FROM lab GROUP BY comp ORDER BY group_id"""
    })
  private val q_fof = fof(DriverLocal.maxEdges)

  /**
   * Angular two-point correlation function, Landy & Szalay 1993
   * estimator (the large-scale-structure workhorse statistic — THE
   * pair-counting workload a sky-catalog engine exists for): DD, DR,
   * RR pair counts in separation bins ([0.5°, 8.0°) in 1.5° bins)
   * between the data catalog and a deterministic same-size random
   * catalog, each via the pixel-bucketed pair join (fan-out bounded
   * by density x disc cover of the MAX bin edge — never all-pairs).
   * With n_d = n_r = n the estimator reduces to
   * w = (n·DD − (n−1)·DR + n·RR) / (n·RR) — every count exact
   * integer, so the final division is bit-identical cross-engine.
   * Separations round to 9 dp before binning (the repo's pinned-rank
   * convention) so a last-ulp trig disagreement cannot flip a bin.
   * Bins are emitted where RR > 0 (the estimator's denominator).
   */
  private val q_twopoint = QueryDef(
    (s, dir) => {
      val d = withSky(t(s, dir, "supplier"), "s_suppkey")
        .select(col("s_suppkey").as("id"), col("cra"), col("cdec"))
      val r = t(s, dir, "supplier").select(col("s_suppkey").as("id"),
        ((col("s_suppkey") * 149 % 36000).cast("double") / 100.0).as("cra"),
        ((col("s_suppkey") * 223 % 16000).cast("double") / 100.0 - 80.0).as("cdec"))
      def binned(p: DataFrame, out: String) = p
        .withColumn("sep9", round(col("_DIST"), 9))
        .filter(col("sep9") >= 0.5 && col("sep9") < 8.0)
        .withColumn("bin", floor((col("sep9") - 0.5) / 1.5).cast("long"))
        .groupBy("bin").agg(count(lit(1)).as(out))
      val dd = binned(Spatial.selfPairsDist(d, "cra", "cdec", "id", 8.0), "dd")
      val rr = binned(Spatial.selfPairsDist(r, "cra", "cdec", "id", 8.0), "rr")
      val dr = binned(Spatial.crossPairsDist(d, r, "cra", "cdec", "id",
        "cra", "cdec", "id", 8.0), "dr")
      val n = d.agg(count(lit(1)).as("n"))
      rr.join(dd, Seq("bin"), "left").join(dr, Seq("bin"), "left")
        .crossJoin(broadcast(n))
        .select(col("bin"),
          (lit(50L) + col("bin") * 150L).as("theta_lo_e2"),
          (lit(200L) + col("bin") * 150L).as("theta_hi_e2"),
          coalesce(col("dd"), lit(0L)).as("dd"),
          coalesce(col("dr"), lit(0L)).as("dr"),
          col("rr"),
          round((col("n") * coalesce(col("dd"), lit(0L))
              - (col("n") - 1L) * coalesce(col("dr"), lit(0L))
              + col("n") * col("rr")).cast("double")
            / (col("n") * col("rr")).cast("double"), 6).as("w6"))
        .orderBy("bin")
    },
    Some {
      val g = sphere.gcDistSql("a.cra", "a.cdec", "b.cra", "b.cdec")
      def binCte(name: String, from: String, cond: String) =
        s"""$name AS (SELECT CAST(floor((sep9 - 0.5) / 1.5) AS BIGINT) AS bin,
          count(*) AS $name FROM (
            SELECT round($g, 9) AS sep9 FROM $from $cond) s
          WHERE sep9 >= 0.5 AND sep9 < 8.0 GROUP BY 1)"""
      s"""WITH d AS (SELECT s_suppkey AS id, ${sphere.raOfSql("s_suppkey")} AS cra,
          ${sphere.decOfSql("s_suppkey")} AS cdec FROM supplier),
        r AS (SELECT s_suppkey AS id,
          CAST(s_suppkey * 149 % 36000 AS DOUBLE) / 100.0 AS cra,
          CAST(s_suppkey * 223 % 16000 AS DOUBLE) / 100.0 - 80.0 AS cdec FROM supplier),
        ${binCte("dd", "d a JOIN d b", "ON a.id < b.id")},
        ${binCte("rr", "r a JOIN r b", "ON a.id < b.id")},
        ${binCte("dr", "d a CROSS JOIN r b", "")},
        n AS (SELECT count(*) AS n FROM supplier)
      SELECT rr.bin, CAST(50 + rr.bin * 150 AS BIGINT) AS theta_lo_e2,
        CAST(200 + rr.bin * 150 AS BIGINT) AS theta_hi_e2,
        CAST(coalesce(dd.dd, 0) AS BIGINT) AS dd,
        CAST(coalesce(dr.dr, 0) AS BIGINT) AS dr,
        CAST(rr.rr AS BIGINT) AS rr,
        round(CAST(n * coalesce(dd.dd, 0) - (n - 1) * coalesce(dr.dr, 0)
            + n * rr.rr AS DOUBLE) / CAST(n * rr.rr AS DOUBLE), 6) AS w6
      FROM rr LEFT JOIN dd USING (bin) LEFT JOIN dr USING (bin) CROSS JOIN n
      ORDER BY rr.bin"""
    })

  // healpix-valued outputs: ang2pix comes from the oracle aux parquet
  // (Scala-kernel-computed); the downstream aggregation / ranking /
  // threshold walk is recomputed independently by DuckDB.

  private val hpix_histogram = QueryDef(
    (s, dir) => Spatial.densityHistogram(withSky(t(s, dir, "customer"), "c_custkey"), "cra", "cdec", 2)
      .orderBy("pix"),
    Some(s"""SELECT h.pix2 AS pix, count(*) AS cnt
      FROM customer c JOIN ${aux("hpix_customer")} h USING (c_custkey)
      GROUP BY 1 ORDER BY pix"""))

  /** The density map in the healpy-DEFAULT RING layout
   *  ([[graft.healpix.Healpix.nest2ring]] — what plain
   *  `hp.read_map(path)` indexes by): the order-2 NEST histogram laid
   *  out DENSE over all 192 ring-ordered pixels, absent cells as real
   *  zeros (the full-sky IMPLICIT vector `exportFitsMap(ordering =
   *  "RING")` serializes). The 192-row NEST->RING mapping is built
   *  driver-side from the pure ring arithmetic and the bounded
   *  histogram is broadcast into the join. NOTE (r13 ADVICE): the
   *  oracle's ring_map_o2 aux is generated by the same nest2ring
   *  under test, so THIS oracle only cross-checks the histogram
   *  join/zero-fill — RING-mapping independence comes from
   *  HealpixSpec's center-sort re-derivation, not from here. */
  private val hpix_ring = QueryDef(
    (s, dir) => {
      val hist = withSky(t(s, dir, "customer"), "c_custkey")
        .groupBy(sphere.hpix(col("cra"), col("cdec"), 2).as("pix"))
        .agg(count(lit(1)).as("cnt"))
      import s.implicits._
      val ringMap = (0L until graft.healpix.Healpix.npix(2)).map { p =>
        (p, graft.healpix.Healpix.nest2ring(2, p))
      }.toDF("pix", "ring_pix")
      // broadcast the HIST side: the ring map is the PRESERVED side
      // of the left-outer join, which Spark cannot build-broadcast
      // (a hint there is silently ignored — r13 ADVICE); the
      // histogram is npix(2)-bounded (<= 192 rows), the natural
      // build side at any catalog size
      ringMap.join(broadcast(hist), Seq("pix"), "left")
        .select(col("ring_pix"), coalesce(col("cnt"), lit(0L)).as("cnt"))
        .orderBy("ring_pix")
    },
    Some(s"""WITH h AS (SELECT pix2 AS pix, count(*) AS cnt
        FROM ${aux("hpix_customer")} GROUP BY 1)
      SELECT r.ring_pix, coalesce(h.cnt, 0) AS cnt
      FROM ${aux("ring_map_o2")} r LEFT JOIN h USING (pix)
      ORDER BY r.ring_pix"""))

  /**
   * Counts-map tophat smoothing (the map-space operation healpy users
   * run on a density map — a fixed-radius tophat beam over pixel
   * centers): each pixel's smoothed value sums the counts of every
   * histogram pixel whose CENTER lies within the beam radius of its
   * own center (pix2ang via the native HpixCenter expressions —
   * healpy pix2ang parity). The pair generation is the shared
   * pixel-bucketed join (Spatial.crossPairsDist over pixel centers —
   * at order 12's 200M pixels this is the same bounded-fanout join
   * the catalogs use, never an all-pairs); the map is tiny at order
   * 2, the PLAN is the one that scales. Exact integer sums; bin
   * membership on the raw gc < r predicate, op-order-pinned in both
   * engines. Oracle replays centers from a driver-built aux parquet
   * and the kernel brute-force.
   */
  private val hpix_smooth = QueryDef(
    (s, dir) => {
      val hist = Spatial.densityHistogram(
        withSky(t(s, dir, "customer"), "c_custkey"), "cra", "cdec", 2)
        .select(col("pix"), col("cnt"),
          sphere.hpixCenterRa(col("pix"), 2).as("pra"),
          sphere.hpixCenterDec(col("pix"), 2).as("pdec"))
      val pairs = Spatial.crossPairsDist(hist, hist,
        "pra", "pdec", "pix", "pra", "pdec", "pix", dthreshDeg = 25.0)
      pairs.join(broadcast(hist.select(col("pix").as("id_b"), col("cnt").as("cnt_b"))), "id_b")
        .groupBy(col("id_a").as("pix"))
        .agg(sum("cnt_b").as("beam_sum"), count(lit(1)).as("beam_n"))
        .join(hist.select("pix", "cnt"), "pix")
        .select("pix", "cnt", "beam_sum", "beam_n")
        .orderBy("pix")
    },
    Some {
      val g = sphere.gcDistSql("a.pra", "a.pdec", "b.pra", "b.pdec")
      s"""WITH hist AS (
        SELECT h.pix2 AS pix, count(*) AS cnt, c.pra, c.pdec
        FROM customer cu JOIN ${aux("hpix_customer")} h USING (c_custkey)
        JOIN ${aux("hpix_centers_o2")} c ON c.pix = h.pix2
        GROUP BY 1, 3, 4)
      SELECT a.pix, CAST(a.cnt AS BIGINT) AS cnt,
        CAST(sum(b.cnt) AS BIGINT) AS beam_sum,
        count(*) AS beam_n
      FROM hist a JOIN hist b ON $g < 25.0
      GROUP BY a.pix, a.cnt ORDER BY a.pix"""
    })

  /**
   * End-to-end alert pipeline composed from the engine's own spatial
   * + temporal operators (the astronomy member of the composed-
   * pipeline trilogy: pipeline_c4 = LLM curation, pipeline_er =
   * entity resolution): epoch-resolved per-pixel counts → exact
   * Poisson transient flagging (hpix_transients' rule, zero-epochs
   * included) → the OBJECTS inside flagged pixels → per-object epoch
   * lightcurve features (total, peak epoch + peak count via ONE
   * struct-max — no window over the fact table) → distributed top-20
   * alert ranking (TakeOrdered). Two fact shuffles total; the
   * flagged-pixel set broadcasts. All-integer outputs.
   */
  private val pipeline_alert = QueryDef(
    (s, dir) => {
      val cust = withSky(t(s, dir, "customer"), "c_custkey")
        .select(col("c_custkey"), sphere.hpix(col("cra"), col("cdec"), 2).as("pix"))
      // oc feeds BOTH the flag-building chain and the per-object
      // feature chain, and the flag chain ends in a broadcast build —
      // ReuseExchange does not fire across broadcast sub-executions,
      // so without the pins the orders⨝customer join and the pix×yr
      // rollup each run twice (counted in the executed plan's scans)
      val oc = graft.operators.CacheUtil.gcPersist(t(s, dir, "orders")
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("pix"), year(col("o_orderdate")).as("yr")))
      val pixYr = graft.operators.CacheUtil.gcPersist(
        oc.groupBy("pix", "yr").agg(count(lit(1)).as("cnt")))
      val perPix = pixYr.groupBy("pix").agg(sum("cnt").as("total"))
      val dev = lit(7L) * coalesce(col("cnt"), lit(0L)) - col("total")
      val flagged = perPix
        .select(col("pix"), col("total"), explode(sequence(lit(1992), lit(1998))).as("yr"))
        .join(pixYr, Seq("pix", "yr"), "left")
        .filter(dev * dev > lit(63L) * col("total"))
        .select("pix").distinct()
      val objYr = oc.join(broadcast(flagged), "pix")
        .groupBy("c_custkey", "pix", "yr").agg(count(lit(1)).as("ycnt"))
      objYr.groupBy("c_custkey", "pix")
        .agg(sum("ycnt").as("n_orders"),
          max(struct(col("ycnt"), (-col("yr")).cast("long").as("negyr"))).as("pk"))
        .select(col("c_custkey"), col("pix"), col("n_orders"),
          (-col("pk.negyr")).as("peak_yr"), col("pk.ycnt").as("peak_cnt"))
        .orderBy(col("peak_cnt").desc, col("c_custkey"))
        .limit(20)
    },
    Some(s"""WITH cust AS (
        SELECT c.c_custkey, h.pix2 AS pix
        FROM customer c JOIN ${aux("hpix_customer")} h USING (c_custkey)),
      oc AS (SELECT cust.c_custkey, pix, year(o_orderdate) AS yr
        FROM orders o JOIN cust ON cust.c_custkey = o.o_custkey),
      pixyr AS (SELECT pix, yr, count(*) AS cnt FROM oc GROUP BY 1, 2),
      perpix AS (SELECT pix, sum(cnt) AS total FROM pixyr GROUP BY 1),
      dom AS (SELECT pix, total, yr FROM perpix, unnest(range(1992, 1999)) t(yr)),
      flagged AS (SELECT DISTINCT dom.pix
        FROM dom LEFT JOIN pixyr c ON c.pix = dom.pix AND c.yr = dom.yr
        WHERE (7 * coalesce(c.cnt, 0) - dom.total) * (7 * coalesce(c.cnt, 0) - dom.total)
            > 63 * dom.total),
      objyr AS (SELECT c_custkey, oc.pix, yr, count(*) AS ycnt
        FROM oc JOIN flagged ON flagged.pix = oc.pix GROUP BY 1, 2, 3),
      feats AS (SELECT c_custkey, pix, CAST(sum(ycnt) AS BIGINT) AS n_orders
        FROM objyr GROUP BY 1, 2),
      pk AS (SELECT c_custkey, pix, CAST(yr AS BIGINT) AS peak_yr,
          CAST(ycnt AS BIGINT) AS peak_cnt,
          row_number() OVER (PARTITION BY c_custkey, pix ORDER BY ycnt DESC, yr) AS rn
        FROM objyr)
      SELECT f.c_custkey, f.pix, f.n_orders, p.peak_yr, p.peak_cnt
      FROM feats f JOIN pk p ON p.c_custkey = f.c_custkey AND p.pix = f.pix AND p.rn = 1
      ORDER BY p.peak_cnt DESC, f.c_custkey LIMIT 20"""))

  /**
   * Local maxima of the density map — the PEAK-FINDING step of
   * source detection (SExtractor's local-max-over-neighborhood
   * criterion, on HEALPix cells): a pixel is a peak iff its count
   * STRICTLY exceeds every 8-connected neighbor's (absent neighbors
   * count 0; equal-count adjacent plateaus are rejected on both
   * sides — deterministic, documented). The neighborhood comes from
   * the native `hpixNeighbors` codegen expression (the geometric
   * NEST adjacency, healpy get_all_neighbours parity) exploded
   * map-only; one self-join of the tiny map + one aggregate. Oracle
   * joins the driver-built adjacency aux parquet — the downstream
   * max/strictness arithmetic is recomputed independently.
   */
  private val hpix_maxima = QueryDef(
    (s, dir) => {
      val hist = Spatial.densityHistogram(
        withSky(t(s, dir, "customer"), "c_custkey"), "cra", "cdec", 2)
      hist.select(col("pix"), col("cnt"),
          explode(sphere.hpixNeighbors(col("pix"), 2)).as("nbr"))
        .join(broadcast(hist.select(col("pix").as("nbr"), col("cnt").as("ncnt"))),
          Seq("nbr"), "left")
        .groupBy("pix", "cnt")
        .agg(max(coalesce(col("ncnt"), lit(0L))).as("nbr_max"), count(lit(1)).as("n_nbrs"))
        .filter(col("cnt") > col("nbr_max"))
        .orderBy("pix")
    },
    Some(s"""WITH hist AS (
        SELECT h.pix2 AS pix, count(*) AS cnt
        FROM customer c JOIN ${aux("hpix_customer")} h USING (c_custkey) GROUP BY 1)
      SELECT a.pix, CAST(a.cnt AS BIGINT) AS cnt,
        CAST(max(coalesce(b.cnt, 0)) AS BIGINT) AS nbr_max,
        count(*) AS n_nbrs
      FROM hist a JOIN ${aux("hpix_nbrs_o2")} n ON n.pix = a.pix
      LEFT JOIN hist b ON b.pix = n.nbr
      GROUP BY a.pix, a.cnt
      HAVING a.cnt > max(coalesce(b.cnt, 0))
      ORDER BY a.pix"""))

  /**
   * Transient detection on the epoch-resolved counts map (the
   * alerting pass a time-domain survey runs per pixel: which sky
   * cells brightened or faded this epoch vs their own history): per
   * (pixel, year) order counts — missing years materialized as REAL
   * zeros via a literal epoch-domain explode, so a pixel going dark
   * is as detectable as one flaring — flagged by the Poisson
   * variance rule |T·n − total| > 3·sqrt(T·total), squared into the
   * EXACT integer predicate (T·n − total)² > 9·T·total (no sqrt, no
   * float: bit-identical in any engine). One fact shuffle to the
   * (pixel, year) aggregate; the epoch explode is 7x on the tiny
   * pixel rollup, not on the fact table.
   */
  private val hpix_transients = QueryDef(
    (s, dir) => {
      val counts = t(s, dir, "orders")
        .join(withSky(t(s, dir, "customer"), "c_custkey")
          .select(col("c_custkey"), sphere.hpix(col("cra"), col("cdec"), 2).as("pix")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("pix"), year(col("o_orderdate")).as("yr"))
        .agg(count(lit(1)).as("cnt"))
      val perPix = counts.groupBy("pix").agg(sum("cnt").as("total"))
      val domain = perPix.select(col("pix"), col("total"),
        explode(sequence(lit(1992), lit(1998))).as("yr"))
      val dev = lit(7L) * col("cnt") - col("total")
      domain.join(counts, Seq("pix", "yr"), "left")
        .select(col("pix"), col("yr").cast("long").as("yr"),
          coalesce(col("cnt"), lit(0L)).as("cnt"), col("total"))
        .filter(dev * dev > lit(63L) * col("total")) // pure LONG algebra — no pow/sqrt
        .select(col("pix"), col("yr"), col("cnt"), col("total"))
        .orderBy("pix", "yr")
    },
    Some(s"""WITH counts AS (
        SELECT h.pix2 AS pix, year(o_orderdate) AS yr, count(*) AS cnt
        FROM orders o JOIN ${aux("hpix_customer")} h ON h.c_custkey = o.o_custkey
        GROUP BY 1, 2),
      perpix AS (SELECT pix, sum(cnt) AS total FROM counts GROUP BY 1),
      dom AS (SELECT pix, total, yr FROM perpix, unnest(range(1992, 1999)) t(yr))
      SELECT dom.pix, CAST(dom.yr AS BIGINT) AS yr,
        CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt, CAST(dom.total AS BIGINT) AS total
      FROM dom LEFT JOIN counts c ON c.pix = dom.pix AND c.yr = dom.yr
      WHERE (7 * coalesce(c.cnt, 0) - dom.total) * (7 * coalesce(c.cnt, 0) - dom.total)
          > 9 * 7 * dom.total
      ORDER BY dom.pix, yr"""))

  private val hpix_index = QueryDef(
    (s, dir) => Spatial.spatialIndex(withSky(t(s, dir, "customer"), "c_custkey"), "cra", "cdec", 20)
      .select("c_custkey", "_ID").orderBy("c_custkey"),
    Some(s"""SELECT c_custkey, idhigh20 + rn - 1 AS "_ID" FROM (
      SELECT c.c_custkey, h.idhigh20,
        row_number() OVER (PARTITION BY h.idhigh20 ORDER BY c.cra, c.cdec) AS rn
      FROM ${skySql("customer", "c_custkey")} c JOIN ${aux("hpix_customer")} h USING (c_custkey))
      ORDER BY c_custkey"""))

  private val partition_map = QueryDef(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("k", col("l_orderkey") * 8 + col("l_linenumber"))
      val sky = withSky(li, "k")
      val pm = graft.catalog.HipsPartitioner.computePartitionMap(sky, "cra", "cdec", 5, 2000L)
      graft.catalog.HipsPartitioner.withPartitionColumns(sky, "cra", "cdec", pm)
        .groupBy("Norder", "Npix").agg(count(lit(1)).as("cnt"))
        .orderBy("Norder", "Npix")
    },
    // the adaptive walk, re-expressed: a row lands at the FIRST order
    // (walking 0 -> 5) whose rebinned pixel count drops under the
    // threshold, else at the max order — exactly
    // HipsPartitioner.computePartitionMap's assignment rule.
    Some(s"""WITH r AS (
        SELECT a.pix5 FROM lineitem l
        JOIN ${aux("pm_lineitem")} a ON a.k = l.l_orderkey * 8 + l.l_linenumber),
      h0 AS (SELECT pix5 // 1024 AS p, count(*) AS c FROM r GROUP BY 1),
      h1 AS (SELECT pix5 // 256 AS p, count(*) AS c FROM r GROUP BY 1),
      h2 AS (SELECT pix5 // 64 AS p, count(*) AS c FROM r GROUP BY 1),
      h3 AS (SELECT pix5 // 16 AS p, count(*) AS c FROM r GROUP BY 1),
      h4 AS (SELECT pix5 // 4 AS p, count(*) AS c FROM r GROUP BY 1),
      asn AS (SELECT
        CASE WHEN h0.c < 2000 THEN 0 WHEN h1.c < 2000 THEN 1 WHEN h2.c < 2000 THEN 2
             WHEN h3.c < 2000 THEN 3 WHEN h4.c < 2000 THEN 4 ELSE 5 END AS "Norder",
        CASE WHEN h0.c < 2000 THEN r.pix5 // 1024 WHEN h1.c < 2000 THEN r.pix5 // 256
             WHEN h2.c < 2000 THEN r.pix5 // 64 WHEN h3.c < 2000 THEN r.pix5 // 16
             WHEN h4.c < 2000 THEN r.pix5 // 4 ELSE r.pix5 END AS "Npix"
        FROM r JOIN h0 ON h0.p = r.pix5 // 1024 JOIN h1 ON h1.p = r.pix5 // 256
        JOIN h2 ON h2.p = r.pix5 // 64 JOIN h3 ON h3.p = r.pix5 // 16 JOIN h4 ON h4.p = r.pix5 // 4)
      SELECT "Norder", "Npix", count(*) AS cnt FROM asn GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Exact per-group percentiles (median / p90). Exact `percentile`
   *  sorts within each group — right for bounded-cardinality group
   *  keys like these; at unbounded scale swap in approx_percentile
   *  (t-digest) and lose the oracle, not the API. */
  private val q_percentile = QueryDef(
    // integer CENTS, rounded to integers: midpoints at .5 are dyadic
    // (exactly representable), so Spark's decimal-string HALF_UP and
    // DuckDB's binary round cannot disagree — unlike round(x, 2),
    // whose .xx5 midpoints are not representable and round by the
    // accident of which side of the midpoint the nearest double sits
    (s, dir) => t(s, dir, "orders")
      .withColumn("__cents", round(col("o_totalprice") * 100).cast("long"))
      .groupBy("o_orderpriority")
      .agg(round(expr("percentile(__cents, 0.5)")).cast("long").as("p50_cents"),
        round(expr("percentile(__cents, 0.9)")).cast("long").as("p90_cents"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority"),
    // quantile_cont interpolates at p*(n-1) — the same definition as
    // Spark's exact percentile
    Some("""SELECT o_orderpriority,
      CAST(round(quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.5)) AS BIGINT) AS p50_cents,
      CAST(round(quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.9)) AS BIGINT) AS p90_cents,
      count(*) AS n
      FROM orders GROUP BY 1 ORDER BY 1"""))

  /** PIVOT with explicit values — plans as ONE conditional aggregate
   *  (no second pass to discover the pivot domain). */
  private val q_pivot = QueryDef(
    (s, dir) => t(s, dir, "orders")
      .groupBy("o_orderstatus")
      .pivot("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(round(sum("o_totalprice"), 2))
      .orderBy("o_orderstatus"),
    Some {
      val cols = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").map(v =>
        s"""round(sum(CASE WHEN o_orderpriority = '$v' THEN o_totalprice END), 2) AS "$v"""").mkString(", ")
      s"""SELECT o_orderstatus, $cols FROM orders GROUP BY 1 ORDER BY 1"""
    })

  // ---------------------------------------------------------------- LLM-pipeline

  import graft.operators.{Ann, Dedup, Multimodal, TextAnalysis}

  private val dedup_exact = QueryDef(
    (s, dir) => Dedup.exactDedup(t(s, dir, "documents"), "doc_id", "text").orderBy("keep_id"),
    Some(s"""SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents
      GROUP BY ${Dedup.normalizeTextSql("text")} ORDER BY keep_id"""))

  private val dedup_keyed = QueryDef(
    (s, dir) => Dedup.keepFirst(events(s, dir), Seq("user_id", "event_type"),
        Seq(col("ts").asc, col("event_id").asc))
      .select(col("user_id"), col("event_type"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("first_ts"))
      .orderBy("user_id", "event_type"),
    Some("""SELECT user_id, event_type, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn FROM events)
      WHERE rn = 1 ORDER BY user_id, event_type"""))

  /** Ordered funnel (view -> click -> purchase, strictly in sequence)
   *  over raw-nano timestamps: per-user furthest stage, counted. One
   *  shuffle — the three step columns stack on a single window sort. */
  private val q_funnel = QueryDef(
    (s, dir) => graft.operators.Temporal.funnelStages(
        // first two days only — with the full month every user
        // completes the funnel and the query degenerates to one row
        eventsRaw(s, dir).filter(col("ts") < lit(1704240000000000000L)),
        "user_id", "ts", "event_id",
        Seq(col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase"))
      .groupBy("stage").agg(count(lit(1)).as("n_users")).orderBy("stage"),
    Some("""WITH e AS (SELECT user_id, epoch_ns(ts) AS tns, event_id, event_type FROM events
        WHERE epoch_ns(ts) < 1704240000000000000),
      s1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN tns END)
          OVER (PARTITION BY user_id ORDER BY tns, event_id ROWS UNBOUNDED PRECEDING) AS q0 FROM e),
      s2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND q0 < tns THEN tns END)
          OVER (PARTITION BY user_id ORDER BY tns, event_id ROWS UNBOUNDED PRECEDING) AS q1 FROM s1),
      s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND q1 < tns THEN tns END)
          OVER (PARTITION BY user_id ORDER BY tns, event_id ROWS UNBOUNDED PRECEDING) AS q2 FROM s2),
      per AS (SELECT user_id,
          max(CASE WHEN q0 IS NOT NULL THEN 1 ELSE 0 END)
        + max(CASE WHEN q1 IS NOT NULL THEN 1 ELSE 0 END)
        + max(CASE WHEN q2 IS NOT NULL THEN 1 ELSE 0 END) AS stage
        FROM s3 GROUP BY user_id)
      SELECT CAST(stage AS BIGINT) AS stage, count(*) AS n_users FROM per GROUP BY 1 ORDER BY 1"""))

  /** Weekly cohort retention: cohort = week of first activity,
   *  n_active distinct users per (cohort, offset). Distinct activity
   *  pre-aggregates map-side; the user-keyed join is co-partitioned. */
  private val q_retention = QueryDef(
    (s, dir) => {
      val wk = floor(datediff(to_date(col("ts")), lit("2024-01-01").cast("date")) / 7).cast("long")
      val activity = events(s, dir).select(col("user_id"), wk.as("week")).distinct()
      val cohort = activity.groupBy("user_id").agg(min("week").as("cohort_week"))
      activity.join(cohort, "user_id")
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
        .agg(countDistinct("user_id").as("n_active"))
        .orderBy("cohort_week", "week_offset")
    },
    Some("""WITH a AS (SELECT DISTINCT user_id,
        date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS week FROM events),
      c AS (SELECT user_id, min(week) AS cohort_week FROM a GROUP BY 1)
      SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
        count(DISTINCT a.user_id) AS n_active
      FROM a JOIN c USING (user_id) GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Collocation mining: top-k adjacent word pairs by PMI with the
   *  Church & Hanks min-count floor. The oracle recomputes bigram and
   *  unigram counts, the PMI arithmetic and the global rank. */
  private val text_collocations = QueryDef(
    (s, dir) => TextAnalysis.collocations(t(s, dir, "documents"), "doc_id", "text",
        minCount = 20, k = 25)
      .orderBy("rank"),
    Some {
      val norm = Dedup.normalizeTextSql("text")
      s"""WITH toks AS (SELECT list_filter(string_split($norm, ' '), x -> len(x) > 0) AS tk FROM documents),
        idxs AS (SELECT tk, unnest(range(1, len(tk))) AS i FROM toks WHERE len(tk) >= 2),
        big AS (SELECT tk[i] AS term_a, tk[i+1] AS term_b, count(*) AS n_ab FROM idxs GROUP BY 1, 2),
        uni AS (SELECT u.t AS term, count(*) AS n FROM toks, unnest(tk) AS u(t) GROUP BY 1),
        tot AS (SELECT sum(n) AS nn FROM uni),
        scored AS (
          SELECT b.term_a, b.term_b, b.n_ab,
            ln((b.n_ab::DOUBLE * t.nn::DOUBLE) / (ua.n::DOUBLE * ub.n::DOUBLE)) AS pmi
          FROM big b JOIN uni ua ON ua.term = b.term_a
                     JOIN uni ub ON ub.term = b.term_b, tot t
          WHERE b.n_ab >= 20)
        SELECT term_a, term_b, n_ab, round(pmi, 6) AS pmi, rank FROM (
          SELECT *, row_number() OVER (ORDER BY round(pmi, 6) DESC, term_a, term_b) AS rank FROM scored)
        WHERE rank <= 25 ORDER BY rank"""
    })

  /** Z-order (Morton) clustering diagnostics: bucket events on two
   *  dims, interleave to a z-value, and report per-z-range row counts
   *  and per-dim min/max — the footer stats a parquet pruner sees
   *  after a writeZOrdered layout. The oracle recomputes the bit
   *  interleave and the range stats in plain integer SQL. */
  private val q_zorder = QueryDef(
    (s, dir) => {
      val ev = events(s, dir)
        .withColumn("u", pmod(col("user_id"), lit(256L)))
        .withColumn("v", pmod(floor(coalesce(col("value"), lit(0.0)) * 10).cast("long"), lit(256L)))
      graft.operators.Layout.zClusterStats(ev, Seq("u", "v"), bits = 8, bucketBits = 6)
        .orderBy("zbucket")
    },
    Some("""WITH z AS (SELECT ((user_id % 256) + 256) % 256 AS u,
        ((CAST(floor(coalesce(value, 0) * 10) AS BIGINT) % 256) + 256) % 256 AS v FROM events),
      zz AS (SELECT u, v,
        CAST(list_sum(list_transform(range(0, 8), i ->
          (((u >> i) & 1) << (2*i)) + (((v >> i) & 1) << (2*i+1)))) AS BIGINT) AS zv FROM z)
      SELECT zv >> 10 AS zbucket, count(*) AS n,
        min(u) AS min_u, max(u) AS max_u, min(v) AS min_v, max(v) AS max_v
      FROM zz GROUP BY 1 ORDER BY 1"""))

  /** Data-quality validation suite (Deequ/expectations shape): all
   *  row-level checks fused into ONE aggregate scan, uniqueness one
   *  grouped aggregate, the foreign key one broadcast anti-join —
   *  the pre-publish gate of a 100 TB ingest. The suite mixes
   *  passing and failing checks so the oracle discriminates on the
   *  exact violation counts. */
  private val q_validate = QueryDef(
    (s, dir) => {
      import graft.operators.Validate._
      val li = t(s, dir, "lineitem")
        .withColumn("l_lineid", col("l_orderkey") * 8 + col("l_linenumber"))
      validate(li, Seq(
        NotNull("l_orderkey"),
        InRange("l_quantity", 1, 50),
        InRange("l_discount", 0, 0.05),
        Accepted("l_returnflag", Seq("A", "N", "R")),
        Accepted("l_linestatus", Seq("O")),
        Matches("l_returnflag", "^[A-Z]$"),
        Unique("l_lineid"),
        RefIntegrity("l_orderkey", t(s, dir, "orders"), "o_orderkey")))
    },
    Some("""WITH li AS (SELECT *, l_orderkey * 8 + l_linenumber AS l_lineid FROM lineitem),
      suite AS (
      SELECT 'not_null' AS "check", 'l_orderkey' AS "column",
        CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
        count(*) AS n_rows FROM li
      UNION ALL
      SELECT 'in_range', 'l_quantity',
        CAST(sum(CASE WHEN l_quantity IS NOT NULL AND (l_quantity < 1 OR l_quantity > 50)
          THEN 1 ELSE 0 END) AS BIGINT), count(*) FROM li
      UNION ALL
      SELECT 'in_range', 'l_discount',
        CAST(sum(CASE WHEN l_discount IS NOT NULL AND (l_discount < 0 OR l_discount > 0.05)
          THEN 1 ELSE 0 END) AS BIGINT), count(*) FROM li
      UNION ALL
      SELECT 'accepted', 'l_returnflag',
        CAST(sum(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A', 'N', 'R')
          THEN 1 ELSE 0 END) AS BIGINT), count(*) FROM li
      UNION ALL
      SELECT 'accepted', 'l_linestatus',
        CAST(sum(CASE WHEN l_linestatus IS NOT NULL AND l_linestatus NOT IN ('O')
          THEN 1 ELSE 0 END) AS BIGINT), count(*) FROM li
      UNION ALL
      SELECT 'matches', 'l_returnflag',
        CAST(sum(CASE WHEN l_returnflag IS NOT NULL
          AND NOT regexp_matches(l_returnflag, '^[A-Z]$')
          THEN 1 ELSE 0 END) AS BIGINT), count(*) FROM li
      UNION ALL
      SELECT 'unique', 'l_lineid',
        (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT)
          FROM (SELECT count(*) AS c FROM li WHERE l_lineid IS NOT NULL GROUP BY l_lineid)
          WHERE c > 1),
        (SELECT count(*) FROM li WHERE l_lineid IS NOT NULL)
      UNION ALL
      SELECT 'ref_integrity', 'l_orderkey',
        (SELECT CAST(count(*) AS BIGINT) FROM li WHERE l_orderkey IS NOT NULL
          AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
        (SELECT count(*) FROM li WHERE l_orderkey IS NOT NULL))
      SELECT "check", "column", n_violations, n_rows,
        CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
      FROM suite"""))

  /** TPC-H Q10 pattern (returned-item reporting): 4-table star join
   *  with a quarter date filter and a distributed top-20 by revenue
   *  (orderBy+limit = TakeOrderedAndProject, per-partition top-N —
   *  never a single-task global sort). */
  private val q10_returns = QueryDef(
    (s, dir) => t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-04-01").cast("timestamp"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      // per-ITEM integer cents then an exact long sum: both engines
      // compute the identical IEEE product per item, so floor is
      // bit-identical — unlike round(sum(..), 2), whose summation
      // order differs across engines and can straddle a .xx5 midpoint
      .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long"))
        .as("revenue_cents"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue_cents").desc, col("c_custkey").asc)
      .limit(20),
    Some("""SELECT c_custkey, c_name, n_name,
      CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
      count(*) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
      GROUP BY c_custkey, c_name, n_name
      ORDER BY revenue_cents DESC, c_custkey LIMIT 20"""))

  /** Upsert / MERGE-INTO (SCD1): in-query derived update batch
   *  (modified accounts + brand-new keys) folded into the customer
   *  snapshot — matched rows take update values, unmatched updates
   *  insert, base rows carry over; oracle replays the full-outer
   *  coalesce. */
  /** SCD2 history build: fold a stream of keyed versions into
   *  validity intervals [valid_from, valid_to) + is_current — ONE
   *  window (lead) pass per key, the type-2 companion of q_merge's
   *  type-1 overwrite. Version batches derived in-query (integer
   *  cents mutations); 999999 is the open-interval sentinel. */
  /** The synthetic SCD2 customer-balance history shared by `q_scd2`
   *  and `q_scd2_lookup`: versions 0/100/200 with lead()-derived
   *  [valid_from, valid_to) windows partitioning [0, 999999). */
  private def scd2Hist(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .withColumn("bal_cents", floor(col("c_acctbal") * 100).cast("long"))
    val base = cust.select(col("c_custkey").as("k"), lit(0L).as("v"), col("bal_cents"))
    val u1 = cust.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey").as("k"), lit(100L).as("v"),
        (col("bal_cents") + 100000L).as("bal_cents"))
    val u2 = cust.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").as("k"), lit(200L).as("v"),
        (col("bal_cents") - 50000L).as("bal_cents"))
    val w = Window.partitionBy("k").orderBy("v")
    base.unionByName(u1).unionByName(u2)
      .withColumn("valid_to", coalesce(lead(col("v"), 1).over(w), lit(999999L)))
      .withColumn("is_current", col("valid_to") === 999999L)
      .select(col("k"), col("v").as("valid_from"), col("valid_to"),
        col("bal_cents"), col("is_current"))
  }

  /** SQL twin of [[scd2Hist]] as a CTE body. */
  private val scd2HistSql: String =
    """SELECT k, v AS valid_from,
        CAST(coalesce(lead(v) OVER (PARTITION BY k ORDER BY v), 999999) AS BIGINT) AS valid_to,
        bal_cents,
        coalesce(lead(v) OVER (PARTITION BY k ORDER BY v), 999999) = 999999 AS is_current
      FROM (
        SELECT c_custkey AS k, CAST(0 AS BIGINT) AS v,
          CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents FROM customer
        UNION ALL SELECT c_custkey, 100, CAST(floor(c_acctbal * 100) AS BIGINT) + 100000
          FROM customer WHERE c_custkey % 7 = 0
        UNION ALL SELECT c_custkey, 200, CAST(floor(c_acctbal * 100) AS BIGINT) - 50000
          FROM customer WHERE c_custkey % 3 = 0)"""

  private val q_scd2 = QueryDef(
    (s, dir) => scd2Hist(s, dir).orderBy("k", "valid_from"),
    Some("""WITH cust AS (SELECT c_custkey AS k,
          CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents FROM customer),
      vers AS (
        SELECT k, CAST(0 AS BIGINT) AS v, bal_cents FROM cust
        UNION ALL SELECT k, 100, bal_cents + 100000 FROM cust WHERE k % 7 = 0
        UNION ALL SELECT k, 200, bal_cents - 50000 FROM cust WHERE k % 3 = 0)
      SELECT k, v AS valid_from,
        CAST(coalesce(lead(v) OVER (PARTITION BY k ORDER BY v), 999999) AS BIGINT) AS valid_to,
        bal_cents,
        coalesce(lead(v) OVER (PARTITION BY k ORDER BY v), 999999) = 999999 AS is_current
      FROM vers ORDER BY k, valid_from"""))

  /** Snapshot diff / reconciliation: full-outer join of two table
   *  versions on the key, rows classified added / removed / changed /
   *  same, summarized per status with a key checksum — the 100 TB
   *  data-reconciliation primitive (one co-partitioned shuffle, no
   *  row ever collected). The "new" snapshot is derived in-query. */
  private val q_diff = QueryDef(
    (s, dir) => {
      val v1 = t(s, dir, "customer")
        .select(col("c_custkey").as("k"), floor(col("c_acctbal") * 100).cast("long").as("bal"))
      val v2 = v1.filter(col("k") % 13 =!= 0)
        .withColumn("bal", when(col("k") % 5 === 0, col("bal") + 1L).otherwise(col("bal")))
        .unionByName(v1.filter(col("k") % 11 === 0)
          .select((col("k") + 1000000L).as("k"), col("bal")))
      v1.alias("a").join(v2.alias("b"), col("a.k") === col("b.k"), "full_outer")
        .withColumn("status",
          when(col("a.k").isNull, "added")
            .when(col("b.k").isNull, "removed")
            .when(col("a.bal") =!= col("b.bal"), "changed")
            .otherwise("same"))
        .groupBy("status")
        .agg(count(lit(1)).as("n"), sum(coalesce(col("a.k"), col("b.k"))).as("key_sum"))
        .orderBy("status")
    },
    Some("""WITH v1 AS (SELECT c_custkey AS k,
          CAST(floor(c_acctbal * 100) AS BIGINT) AS bal FROM customer),
      v2 AS (
        SELECT k, CASE WHEN k % 5 = 0 THEN bal + 1 ELSE bal END AS bal
        FROM v1 WHERE k % 13 <> 0
        UNION ALL SELECT k + 1000000, bal FROM v1 WHERE k % 11 = 0)
      SELECT CASE WHEN a.k IS NULL THEN 'added'
          WHEN b.k IS NULL THEN 'removed'
          WHEN a.bal <> b.bal THEN 'changed' ELSE 'same' END AS status,
        count(*) AS n, CAST(sum(coalesce(a.k, b.k)) AS BIGINT) AS key_sum
      FROM v1 a FULL OUTER JOIN v2 b ON a.k = b.k
      GROUP BY 1 ORDER BY 1"""))

  private val q_merge = QueryDef(
    (s, dir) => {
      val cust = t(s, dir, "customer")
      val updates = cust.filter(col("c_custkey") % 7 === 0)
        .withColumn("c_acctbal", round(col("c_acctbal") + 1000, 2))
        .withColumn("c_mktsegment", lit("UPDATED"))
        .unionByName(cust.filter(col("c_custkey") % 11 === 0)
          .withColumn("c_custkey", col("c_custkey") + 1000000)
          .withColumn("c_mktsegment", lit("INSERTED")))
      graft.operators.Merge.upsert(cust, updates, "c_custkey").orderBy("c_custkey")
    },
    Some("""WITH upd AS (
        SELECT c_custkey, c_name, c_nationkey,
          round(c_acctbal + 1000, 2) AS c_acctbal, 'UPDATED' AS c_mktsegment
        FROM customer WHERE c_custkey % 7 = 0
        UNION ALL
        SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, 'INSERTED'
        FROM customer WHERE c_custkey % 11 = 0)
      SELECT coalesce(u.c_custkey, b.c_custkey) AS c_custkey,
        CASE WHEN u.c_custkey IS NOT NULL THEN u.c_name ELSE b.c_name END AS c_name,
        CASE WHEN u.c_custkey IS NOT NULL THEN u.c_nationkey ELSE b.c_nationkey END AS c_nationkey,
        CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal ELSE b.c_acctbal END AS c_acctbal,
        CASE WHEN u.c_custkey IS NOT NULL THEN u.c_mktsegment ELSE b.c_mktsegment END AS c_mktsegment
      FROM customer b FULL OUTER JOIN upd u ON b.c_custkey = u.c_custkey
      ORDER BY c_custkey"""))

  /**
   * Hierarchical subtree rollup — the BOM-explosion / org-chart /
   * category-tree aggregation (THE recursive-CTE workload Spark has
   * no native form of): every node's subtree total over a derived
   * ternary tree (parent = key div 3). The ancestor closure comes
   * from `Graph.ancestorPairs` POINTER DOUBLING — ceil(log2(depth))
   * equi-join rounds (4 for this ~9-deep tree) where naive
   * parent-chasing needs `depth` full-table rounds; each node then
   * contributes its exact integer cents to itself + every ancestor
   * in ONE aggregate. Oracle replays the closure as a recursive CTE
   * — a structurally different derivation that must hash-match.
   */
  private val q_hierarchy = QueryDef(
    (s, dir) => {
      val nodes = t(s, dir, "customer").select(col("c_custkey").as("node"),
        floor(col("c_acctbal") * 100).cast("long").as("cents"))
      val par = nodes.filter(col("node") > 0)
        .select(col("node"), expr("node div 3").as("parent"))
      val anc = graft.operators.Graph.ancestorPairs(par, "node", "parent")
      val contrib = anc.unionByName(nodes.select(col("node"), col("node").as("anc")))
      val roll = contrib.join(nodes, "node")
        .groupBy(col("anc").as("node"))
        .agg(count(lit(1)).as("subtree_n"), sum("cents").as("subtree_cents"))
      val depth = anc.groupBy("node").agg(count(lit(1)).as("depth"))
      nodes.select("node").join(depth, Seq("node"), "left")
        .select(col("node"), coalesce(col("depth"), lit(0L)).as("depth"))
        .join(roll, "node")
        .orderBy("node")
    },
    Some("""WITH RECURSIVE nodes AS (
        SELECT c_custkey AS node, CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer),
      anc AS (
        SELECT node, node // 3 AS anc FROM nodes WHERE node > 0
        UNION
        SELECT a.node, a.anc // 3 FROM anc a WHERE a.anc > 0),
      contrib AS (SELECT node, anc FROM anc UNION ALL SELECT node, node FROM nodes),
      roll AS (SELECT c.anc AS node, count(*) AS subtree_n,
          CAST(sum(n.cents) AS BIGINT) AS subtree_cents
        FROM contrib c JOIN nodes n USING (node) GROUP BY 1),
      dep AS (SELECT node, count(*) AS depth FROM anc GROUP BY 1)
      SELECT n.node, CAST(coalesce(d.depth, 0) AS BIGINT) AS depth,
        r.subtree_n, r.subtree_cents
      FROM nodes n LEFT JOIN dep d USING (node) JOIN roll r ON r.node = n.node
      ORDER BY n.node"""))

  /**
   * DELETE-aware CDC changelog materialization (the change-feed apply
   * a lakehouse runs nightly — q_merge's upsert generalized from one
   * key-unique batch to an ORDERED multi-version log with deletes):
   * the events stream read as a changelog (key = user_id x 11 so some
   * keys fall outside the customer base = inserts; op = event_type
   * with 'error' as the delete marker), collapsed to each key's LAST
   * op by ONE struct-max aggregate (map-side combinable — never a
   * per-key window over the log), then one full-outer join against
   * the customer base. Exact integer cents; survivors classified
   * kept/updated/inserted; deleted keys absent. Oracle replays the
   * collapse as a row_number window — a different derivation that
   * must hash-match.
   */
  private val q_cdc = QueryDef(
    (s, dir) => {
      val log = events(s, dir).select((col("user_id") * 11).as("key"),
        col("ts"), col("event_id"), col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"))
      val base = t(s, dir, "customer")
        .select(col("c_custkey").as("key"), floor(col("c_acctbal") * 100).cast("long").as("cents"))
      graft.operators.Merge.applyChangelog(base, log, "key", "cents",
          opCol = "event_type", deleteOp = "error", orderCols = Seq("ts", "event_id"))
        .orderBy("key")
    },
    Some("""WITH log AS (
        SELECT user_id * 11 AS key, ts, event_id, event_type,
          CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
      last AS (
        SELECT key, event_type AS op, cents AS log_cents, n_changes FROM (
          SELECT *, row_number() OVER (PARTITION BY key ORDER BY ts DESC, event_id DESC) AS rn,
            count(*) OVER (PARTITION BY key) AS n_changes FROM log)
        WHERE rn = 1),
      base AS (SELECT c_custkey AS key, CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer)
      SELECT key, coalesce(log_cents, base.cents) AS cents,
        CASE WHEN op IS NULL THEN 'kept'
             WHEN base.cents IS NULL THEN 'inserted' ELSE 'updated' END AS status,
        CAST(coalesce(n_changes, 0) AS BIGINT) AS n_changes
      FROM base FULL OUTER JOIN last USING (key)
      WHERE op IS NULL OR op != 'error'
      ORDER BY key"""))

  /** TPC-H Q19 pattern (disjunctive bracket predicates over a join):
   *  the OR-of-conjunctions shape that exercises Catalyst's CNF
   *  extraction — each side's derivable OR slice pushes below the
   *  join into the scans (plan-asserted in R9PlanSpec). Revenue in
   *  per-item integer cents (exact long sum). */
  /** TPC-H Q21 pattern ("suppliers who kept orders waiting"): the
   *  only supplier who shipped late in a multi-supplier finished
   *  order. The Spark plan uses the scale-friendly ONE-SCAN rewrite:
   *  a single lineitem pass, cascaded groupBy((order, supp)) then
   *  groupBy(order) — per order, the distinct-supplier count, the
   *  distinct-LATE-supplier count, the identity of the (unique when
   *  n_late=1) late supplier, and its late-item count. No self-join,
   *  no second scan (plan-pinned in R10PlanSpec); the oracle keeps
   *  the textbook EXISTS / NOT EXISTS formulation — a structurally
   *  different derivation that must hash-match. "Late" = shipped more
   *  than 60 days after the order date (the schema's receipt/commit
   *  stand-in). */
  private val q21_waiting = QueryDef(
    (s, dir) => {
      val ord = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val lo = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .withColumn("late", col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      val perSupp = lo.groupBy("l_orderkey", "l_suppkey")
        .agg(count(when(col("late"), lit(1))).as("late_items"))
      val perOrder = perSupp.groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_supps"),
          count(when(col("late_items") > 0, lit(1))).as("n_late"),
          max(when(col("late_items") > 0, col("l_suppkey"))).as("late_supp"),
          sum(when(col("late_items") > 0, col("late_items"))).as("late_items"))
      perOrder.filter(col("n_supps") > 1 && col("n_late") === 1)
        .join(broadcast(t(s, dir, "supplier")), col("late_supp") === col("s_suppkey"))
        .groupBy("s_name").agg(sum("late_items").cast("long").as("numwait"))
        .orderBy(col("numwait").desc, col("s_name")).limit(10)
    },
    Some("""SELECT s_name, count(*) AS numwait
      FROM supplier, lineitem l1, orders
      WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        AND o_orderstatus = 'F'
        AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        AND EXISTS (SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10"""))

  private val q19_brackets = QueryDef(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val part = t(s, dir, "part")
      def bracket(brand: String, szHi: Int, qLo: Int, qHi: Int) =
        col("p_brand") === brand && col("p_size").between(1, szHi) &&
          col("l_quantity").between(qLo, qHi)
      li.join(part, col("l_partkey") === col("p_partkey"))
        .filter(bracket("Brand#1", 15, 1, 11) ||
          bracket("Brand#2", 25, 10, 20) ||
          bracket("Brand#3", 35, 20, 30))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long"))
            .as("revenue_cents"))
    },
    Some("""SELECT count(*) AS n,
      CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
         OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
         OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)"""))

  /** TPC-H Q18 pattern ("large volume orders"): a HAVING aggregate
   *  over the fact table joined back to orders + customer. The heavy
   *  side (lineitem groupBy order) is map-side-combinable and the
   *  filtered result (<1% of orders) drives the remaining joins —
   *  small probe into big build. Quantities are integral doubles, so
   *  the sum is IEEE-exact and the long cast is engine-independent. */
  private val q18_large = QueryDef(
    (s, dir) => {
      val big = t(s, dir, "lineitem").groupBy("l_orderkey")
        .agg(sum("l_quantity").cast("long").as("total_qty"))
        .filter(col("total_qty") > 300)
      t(s, dir, "orders").join(big, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
          floor(col("o_totalprice") * 100).cast("long").as("totalprice_cents"),
          col("total_qty"))
        .orderBy(col("totalprice_cents").desc, col("o_orderkey").asc)
        .limit(100)
    },
    Some("""SELECT c_name, c_custkey, o_orderkey,
        strftime(o_orderdate, '%Y-%m-%d') AS o_date,
        CAST(floor(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
        CAST(total_qty AS BIGINT) AS total_qty
      FROM orders
      JOIN (SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty
            FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300) big
        ON o_orderkey = big.l_orderkey
      JOIN customer ON o_custkey = c_custkey
      ORDER BY totalprice_cents DESC, o_orderkey LIMIT 100"""))

  /** TPC-H Q22 pattern ("global sales opportunity"): customers above
   *  the average positive balance with no RECENT order (anti-join),
   *  bucketed by a country-code stand-in. The above-average predicate
   *  is made engine-exact by cross-multiplying in integer cents
   *  (cents * n > sum_cents) instead of comparing against a
   *  summation-order-dependent double avg. The 2-long threshold row
   *  is broadcast; the recent-actives anti-join shuffles once. */
  private val q22_idle = QueryDef(
    (s, dir) => {
      val cust = t(s, dir, "customer")
        .withColumn("bal_cents", floor(col("c_acctbal") * 100).cast("long"))
      val thresh = cust.filter(col("bal_cents") > 0)
        .agg(sum("bal_cents").as("sum_cents"), count(lit(1)).as("n_pos"))
      val active = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select("o_custkey").distinct()
      cust.crossJoin(broadcast(thresh))
        .filter(col("bal_cents") * col("n_pos") > col("sum_cents"))
        .join(active, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy((col("c_nationkey") % 5).as("cc"))
        .agg(count(lit(1)).as("numcust"), sum("bal_cents").as("total_cents"))
        .orderBy("cc")
    },
    Some("""WITH cust AS (SELECT *, CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents FROM customer),
      thresh AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS sum_cents, count(*) AS n_pos
        FROM cust WHERE bal_cents > 0),
      active AS (SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      SELECT c_nationkey % 5 AS cc, count(*) AS numcust,
        CAST(sum(bal_cents) AS BIGINT) AS total_cents
      FROM cust CROSS JOIN thresh
      WHERE bal_cents * n_pos > sum_cents
        AND c_custkey NOT IN (SELECT o_custkey FROM active)
      GROUP BY 1 ORDER BY 1"""))

  /** TPC-H Q7 pattern ("volume shipping"): bidirectional nation-pair
   *  revenue by ship year. Nation names resolve through two broadcast
   *  dim joins; the pair filter lands before the group-by so only the
   *  two named nations' rows survive the shuffle. Revenue in per-item
   *  integer cents. */
  private val q7_volume = QueryDef(
    (s, dir) => {
      val n1 = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
      val n2 = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation")))
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(n1, col("s_nationkey") === col("s_nk"))
        .join(n2, col("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_0" && col("cust_nation") === "NATION_1") ||
          (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_0"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long"))
          .as("volume_cents"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
    Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        CAST(year(l_shipdate) AS BIGINT) AS l_year,
        CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS volume_cents
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_0' AND n2.n_name = 'NATION_1')
         OR (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_0')
      GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  /** TPC-H Q14 pattern ("promotion effect"): conditional share of a
   *  month's revenue — one scan, map-side conditional sums, the final
   *  ratio in integer parts-per-million (both operands positive, so
   *  trunc-div == floor-div on both engines). */
  private val q14_promo = QueryDef(
    (s, dir) => t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-03-01").cast("timestamp"))
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .withColumn("cents",
        floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long"))
      .agg(sum(when(col("p_type") === "PROMO", col("cents")).otherwise(0L)).as("promo_cents"),
        sum("cents").as("total_cents"))
      .withColumn("promo_ppm", expr("(promo_cents * 1000000) div total_cents")),
    Some("""WITH j AS (
        SELECT p_type, CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS cents
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-03-01 00:00:00'),
      a AS (SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END) AS BIGINT) AS promo_cents,
        CAST(sum(cents) AS BIGINT) AS total_cents FROM j)
      SELECT promo_cents, total_cents,
        CAST((promo_cents * 1000000) // total_cents AS BIGINT) AS promo_ppm FROM a"""))

  /** TPC-H Q4 pattern ("order priority checking"): orders in a
   *  quarter having ANY late lineitem (ship > 60 days after order),
   *  counted per priority. The EXISTS realizes as a left-semi join —
   *  lineitem never aggregates, order rows never duplicate. */
  private val q4_priority = QueryDef(
    (s, dir) => {
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      val late = t(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
      ord.join(late,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, count(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        AND EXISTS (SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      GROUP BY 1 ORDER BY 1"""))

  /** TPC-H Q6 pattern ("forecasting revenue change"): the pure
   *  scan-predicate-aggregate — every filter must reach the parquet
   *  scan's PushedFilters; per-item integer cents. */
  private val q6_forecast = QueryDef(
    (s, dir) => t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum(floor(col("l_extendedprice") * col("l_discount") * 100).cast("long"))
        .as("revenue_cents"), count(lit(1)).as("n")),
    Some("""SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT)
        AS revenue_cents, count(*) AS n
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""))

  /** TPC-H Q13 pattern ("customer distribution"): the histogram of
   *  per-customer order counts — a LEFT join so zero-order customers
   *  land in the 0 bucket, then a second (tiny) aggregation over the
   *  count domain. */
  private val q13_custdist = QueryDef(
    (s, dir) => t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count").agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc),
    Some("""SELECT c_count, count(*) AS custdist FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY 1)
      GROUP BY 1 ORDER BY custdist DESC, c_count DESC"""))

  /** TPC-H Q15 pattern ("top supplier"): groupwise-MAX join-back over
   *  a derived revenue view — every supplier achieving the maximum
   *  quarter revenue (exact integer cents, so the max is unambiguous
   *  cross-engine). */
  private val q15_topsupplier = QueryDef(
    (s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long")).as("total_cents"))
      val top = rev.agg(max("total_cents").as("m"))
      rev.crossJoin(broadcast(top)).filter(col("total_cents") === col("m"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_cents"))
        .orderBy("s_suppkey")
    },
    Some("""WITH rev AS (SELECT l_suppkey,
          CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS total_cents
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY 1)
      SELECT s_suppkey, s_name, total_cents
      FROM rev JOIN supplier ON l_suppkey = s_suppkey
      WHERE total_cents = (SELECT max(total_cents) FROM rev)
      ORDER BY s_suppkey"""))

  /** TPC-H Q17 pattern ("small-quantity-order revenue"): lineitems
   *  below 20% of their part's average quantity. The correlated avg
   *  subquery decorrelates into ONE per-part aggregate joined back;
   *  the threshold compares by integer cross-multiplication
   *  (5 * qty * n < sum_qty — quantities are integral doubles, so
   *  the longs are exact) instead of a float avg. */
  private val q17_smallqty = QueryDef(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("qty", col("l_quantity").cast("long"))
      val pstats = li.groupBy(col("l_partkey").as("pk"))
        .agg(sum("qty").as("sum_qty"), count(lit(1)).as("n_li"))
      li.join(t(s, dir, "part").filter(col("p_brand") === "Brand#3"),
          col("l_partkey") === col("p_partkey"))
        .join(pstats, col("l_partkey") === col("pk"))
        .filter(col("qty") * 5 * col("n_li") < col("sum_qty"))
        .agg(sum(floor(col("l_extendedprice") * 100).cast("long")).as("revenue_cents"),
          count(lit(1)).as("n"))
    },
    Some("""WITH pstats AS (SELECT l_partkey AS pk,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, count(*) AS n_li
        FROM lineitem GROUP BY 1)
      SELECT CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        count(*) AS n
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN pstats ON l_partkey = pk
      WHERE p_brand = 'Brand#3'
        AND CAST(l_quantity AS BIGINT) * 5 * n_li < sum_qty"""))

  /** TPC-H Q2 pattern (groupwise-min join-back, "min-cost supplier"):
   *  for every small part, the supplier(s) that shipped it at the
   *  lowest line price. One window min over the part key (single
   *  shuffle — no separate aggregate + join-back), price compared in
   *  exact integer cents, DISTINCT because a supplier can hit the min
   *  on several lines. */
  private val q2_mincost = QueryDef(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("price_cents", floor(col("l_extendedprice") * 100).cast("long"))
      val parts = t(s, dir, "part").filter(col("p_size") <= 5)
      val w = Window.partitionBy("p_partkey")
      li.join(parts, col("l_partkey") === col("p_partkey"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .withColumn("min_cents", min("price_cents").over(w))
        .filter(col("price_cents") === col("min_cents"))
        .select(col("p_partkey"), col("p_name"), col("s_suppkey"), col("s_name"),
          floor(col("s_acctbal") * 100).cast("long").as("s_bal_cents"), col("price_cents"))
        .distinct()
        .orderBy(col("s_bal_cents").desc, col("p_partkey"), col("s_suppkey"))
        .limit(100)
    },
    Some("""WITH li AS (SELECT l_partkey, l_suppkey,
          CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_cents FROM lineitem),
      j AS (SELECT p_partkey, p_name, s_suppkey, s_name,
          CAST(floor(s_acctbal * 100) AS BIGINT) AS s_bal_cents, price_cents,
          min(price_cents) OVER (PARTITION BY p_partkey) AS min_cents
        FROM li JOIN part ON l_partkey = p_partkey JOIN supplier ON l_suppkey = s_suppkey
        WHERE p_size <= 5)
      SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name, s_bal_cents, price_cents
      FROM j WHERE price_cents = min_cents
      ORDER BY s_bal_cents DESC, p_partkey, s_suppkey LIMIT 100"""))

  /** TPC-H Q8 pattern ("national market share"): the share of one
   *  nation's suppliers in a region's customer orders, by ship year.
   *  A 6-table star with both nation roles resolved through broadcast
   *  dims; share as integer ppm of per-item cents (positive operands:
   *  trunc == floor). */
  private val q8_share = QueryDef(
    (s, dir) => {
      val n1 = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
      val custRegion = broadcast(t(s, dir, "nation")
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .select(col("n_nationkey").as("c_nk")))
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(custRegion, col("c_nationkey") === col("c_nk"))
        .join(n1, col("s_nationkey") === col("s_nk"))
        .withColumn("cents",
          floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long"))
        .groupBy(year(col("l_shipdate")).cast("long").as("o_year"))
        .agg(sum(when(col("supp_nation") === "NATION_0", col("cents")).otherwise(0L))
          .as("nation_cents"),
          sum("cents").as("total_cents"))
        .withColumn("mkt_share_ppm", expr("(nation_cents * 1000000) div total_cents"))
        .orderBy("o_year")
    },
    Some("""SELECT CAST(year(l_shipdate) AS BIGINT) AS o_year,
        CAST(sum(CASE WHEN n1.n_name = 'NATION_0'
          THEN CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS nation_cents,
        CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS total_cents,
        CAST((sum(CASE WHEN n1.n_name = 'NATION_0'
            THEN CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) ELSE 0 END) * 1000000)
          // sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS mkt_share_ppm
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region ON n2.n_regionkey = r_regionkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      WHERE r_name = 'EUROPE'
      GROUP BY 1 ORDER BY 1"""))

  /** TPC-H Q16 pattern ("parts/supplier relationship"): distinct
   *  suppliers per part attribute bucket, excluding a brand and a
   *  NOT-IN supplier set (negative balance as the complaints
   *  stand-in). The exclusion set is a broadcast anti-join; the
   *  distinct count shuffles once on the attribute key. */
  private val q16_partsupp = QueryDef(
    (s, dir) => {
      val excl = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_suppkey").as("x_suppkey"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .filter(col("p_brand") =!= "Brand#5" && col("p_size") <= 8)
        .join(broadcast(excl), col("l_suppkey") === col("x_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    },
    Some("""SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand <> 'Brand#5' AND p_size <= 8
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      GROUP BY 1, 2, 3
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""))

  /** Deterministic synthetic PARTSUPP (TPC-H's fourth table, absent
   *  from the testdata): 4 supplier rows per part with keys and
   *  measures derived from (p_partkey, i) by fixed mixed congruences
   *  — the §3 pseudo-coordinate trick applied to a whole table, so
   *  both engines derive IDENTICAL rows and Q9/Q11/Q20 stay
   *  hash-gated. ps_suppkey lands in [0, |supplier|) and the 4 rows
   *  of one part hit 4 DISTINCT suppliers because 17*(i-i') mod
   *  |supplier| != 0 for 0 < i-i' < 4 at every SF here (|supplier| =
   *  10/100/1000, all coprime to 17). The |supplier| scalar is one
   *  broadcast row — partsupp itself is generated map-only from the
   *  part scan, no shuffle. */
  private def partsupp(s: SparkSession, dir: String): DataFrame = {
    val nSupp = t(s, dir, "supplier").agg(count(lit(1)).as("__ns"))
    t(s, dir, "part").crossJoin(broadcast(nSupp))
      .select(col("p_partkey"), explode(array((0 to 3).map(lit(_)): _*)).as("i"), col("__ns"))
      .select(
        col("p_partkey").as("ps_partkey"),
        ((col("p_partkey") * 13 + col("i") * 17) % col("__ns")).as("ps_suppkey"),
        (lit(1) + (col("p_partkey") * 7 + col("i") * 31) % 9999).as("ps_availqty"),
        (lit(100) + (col("p_partkey") * 211 + col("i") * 89) % 99900).as("ps_supplycost_cents"))
  }

  /** Test-only window into the synthetic partsupp derivation. */
  private[graft] def synthPartsuppForTest(s: SparkSession, dir: String): DataFrame =
    partsupp(s, dir)

  /** The oracle-side twin of [[partsupp]] — a CTE body (prepend
   *  `WITH`). Kept textually next to the Scala so the two derivations
   *  cannot drift apart unnoticed. */
  private val partsuppSql: String =
    """partsupp AS (
      SELECT p_partkey AS ps_partkey,
        (p_partkey * 13 + g.i * 17) % (SELECT count(*) FROM supplier) AS ps_suppkey,
        1 + (p_partkey * 7 + g.i * 31) % 9999 AS ps_availqty,
        100 + (p_partkey * 211 + g.i * 89) % 99900 AS ps_supplycost_cents
      FROM part CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) g)"""

  /** TPC-H Q9 pattern ("product type profit"): profit per supplier
   *  nation per order year over the 6-table chain lineitem ⨝
   *  partsupp ⨝ part ⨝ orders ⨝ supplier ⨝ nation. The name-filtered
   *  partsupp slice is dimension-derived and broadcast; the only big
   *  shuffle is lineitem ⨝ orders on the order key. Profit in exact
   *  integer cents: floored revenue minus integral supplycost*qty. */
  private val q9_profit = QueryDef(
    (s, dir) => {
      val redParts = t(s, dir, "part")
        .filter(col("p_name").contains("red")).select("p_partkey")
      val redPs = partsupp(s, dir)
        .join(redParts, col("ps_partkey") === col("p_partkey")).drop("p_partkey")
      t(s, dir, "lineitem")
        .join(broadcast(redPs),
          col("l_partkey") === col("ps_partkey") && col("l_suppkey") === col("ps_suppkey"))
        .join(t(s, dir, "orders").select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "supplier").select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long")
          - col("ps_supplycost_cents") * col("l_quantity").cast("long")).as("profit_cents"))
        .orderBy(col("nation"), col("o_year").desc)
    },
    Some(s"""WITH $partsuppSql
      SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
          - ps_supplycost_cents * CAST(l_quantity AS BIGINT)) AS BIGINT) AS profit_cents
      FROM lineitem
      JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
      JOIN part ON p_partkey = l_partkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE p_name LIKE '%red%'
      GROUP BY 1, 2 ORDER BY nation, o_year DESC"""))

  /** TPC-H Q11 pattern ("important stock identification"): per-part
   *  inventory value among a supplier-nation band, kept only above
   *  2x the band's MEAN per-part value. TPC-H's fixed share fraction
   *  must shrink with SF to stay non-degenerate (at sf0.1 a 0.1%
   *  share exceeds any single part's possible value); anchoring to
   *  the mean is the scale-invariant form of the same predicate. The
   *  band stats are ONE broadcast row and the comparison
   *  cross-multiplies in exact integer cents — no float threshold. */
  private val q11_topstock = QueryDef(
    (s, dir) => {
      val natps = partsupp(s, dir)
        .join(broadcast(t(s, dir, "supplier").filter(col("s_nationkey") < 5)
          .select("s_suppkey")), col("ps_suppkey") === col("s_suppkey"))
        .withColumn("value_cents", col("ps_supplycost_cents") * col("ps_availqty"))
      val stats = natps.agg(sum("value_cents").as("total_cents"),
        countDistinct("ps_partkey").as("n_parts"))
      natps.groupBy("ps_partkey").agg(sum("value_cents").as("value_cents"))
        .crossJoin(broadcast(stats))
        .filter(col("value_cents") * col("n_parts") > lit(2) * col("total_cents"))
        .select("ps_partkey", "value_cents")
        .orderBy(col("value_cents").desc, col("ps_partkey"))
    },
    Some(s"""WITH $partsuppSql,
      natps AS (SELECT ps_partkey, ps_supplycost_cents * ps_availqty AS value_cents
        FROM partsupp JOIN supplier ON s_suppkey = ps_suppkey WHERE s_nationkey < 5),
      tot AS (SELECT CAST(sum(value_cents) AS BIGINT) AS total_cents,
        count(DISTINCT ps_partkey) AS n_parts FROM natps)
      SELECT ps_partkey, CAST(sum(value_cents) AS BIGINT) AS value_cents
      FROM natps CROSS JOIN tot
      GROUP BY ps_partkey, total_cents, n_parts
      HAVING sum(value_cents) * n_parts > 2 * total_cents
      ORDER BY value_cents DESC, ps_partkey"""))

  /** TPC-H Q20 pattern ("potential part promotion"): suppliers of
   *  name-filtered parts whose synthetic stock exceeds half the
   *  quantity they shipped in 1995 (2*availqty > sum, integer-exact
   *  cross-multiplication). The shipped-quantity aggregate is
   *  map-side-combinable on (partkey, suppkey); the part filter and
   *  the final supplier lookup are broadcasts. */
  private val q20_potential = QueryDef(
    (s, dir) => {
      val sml = t(s, dir, "part")
        .filter(col("p_name").startsWith("small")).select("p_partkey")
      val qty = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum("l_quantity").cast("long").as("qty"))
      val cand = partsupp(s, dir)
        .join(broadcast(sml), col("ps_partkey") === col("p_partkey"))
        .join(qty, col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
        .filter(col("ps_availqty") * 2 > col("qty"))
        .select("ps_suppkey").distinct()
      t(s, dir, "supplier").filter(col("s_nationkey") < 13)
        .join(broadcast(cand), col("s_suppkey") === col("ps_suppkey"))
        .select("s_name").orderBy("s_name")
    },
    Some(s"""WITH $partsuppSql,
      sml AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
      qty AS (SELECT l_partkey, l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY 1, 2),
      cand AS (SELECT DISTINCT ps_suppkey
        FROM partsupp JOIN sml ON ps_partkey = p_partkey
        JOIN qty ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        WHERE 2 * ps_availqty > qty)
      SELECT s_name FROM supplier JOIN cand ON s_suppkey = ps_suppkey
      WHERE s_nationkey < 13 ORDER BY s_name"""))

  /** TPC-H Q12 pattern ("shipping modes and order priority"): late
   *  lines of two ship modes bucketed into high/low order priority —
   *  conditional counts over the orders ⨝ lineitem join. The
   *  testdata lacks l_shipmode, so it is DERIVED deterministically
   *  from (l_orderkey, l_linenumber) identically on both engines
   *  (the §3 pseudo-column trick); the mode + year filters cut
   *  lineitem to ~2% before the one big join shuffle. */
  private val q12_shipmode = QueryDef(
    (s, dir) => {
      val modes = Seq("MAIL", "SHIP", "AIR", "RAIL", "TRUCK", "FOB", "REG AIR")
      val li = t(s, dir, "lineitem")
        .withColumn("shipmode", element_at(array(modes.map(lit(_)): _*),
          ((col("l_orderkey") * 3 + col("l_linenumber")) % 7 + 1).cast("int")))
        .filter(col("shipmode").isin("MAIL", "SHIP"))
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      li.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .groupBy("shipmode")
        .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L).otherwise(1L))
            .as("low_line_count"))
        .orderBy("shipmode")
    },
    Some("""SELECT shipmode,
        CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      FROM (SELECT list_extract(['MAIL', 'SHIP', 'AIR', 'RAIL', 'TRUCK', 'FOB', 'REG AIR'],
              CAST((l_orderkey * 3 + l_linenumber) % 7 + 1 AS INTEGER)) AS shipmode,
            l_orderkey, l_shipdate
            FROM lineitem) l
      JOIN orders ON o_orderkey = l_orderkey
      WHERE shipmode IN ('MAIL', 'SHIP')
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate > o_orderdate + INTERVAL 30 DAY
      GROUP BY shipmode ORDER BY shipmode"""))

  /** Skew-salted equi-join (the generalized hot-key spread): results
   *  must be row-identical to the plain join — the oracle IS the
   *  plain join. Aggregated per priority with per-item floored
   *  integer sums (exact long arithmetic). */
  private val q_skewjoin = QueryDef(
    (s, dir) => graft.operators.Skew.saltedJoin(
        t(s, dir, "lineitem"), t(s, dir, "orders"),
        "l_orderkey", "o_orderkey", salts = 8,
        // salt from the columns the aggregate consumes: the default
        // full-row salt referenced all 16 lineitem columns, defeating
        // column pruning at the scan and widening the salted exchange
        // 8x for nothing (the result is salt-invariant)
        saltCols = Seq("l_orderkey", "l_extendedprice"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("l_extendedprice")).cast("long")).as("sum_price_fl"))
      .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority, count(*) AS n,
      CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sum_price_fl
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY 1"""))

  /** Exact whole-table order statistics (quartiles + max of every
   *  event value) via histogram-refinement selection — bounded state
   *  (2^16 counters/target) and <= 4 scans where exact percentile()
   *  would buffer the entire column in one aggregation buffer. */
  private val q_exact_quantiles = QueryDef(
    (s, dir) => {
      val ev = events(s, dir)
        .withColumn("cents", floor(col("value") * 100).cast("long"))
        .filter(col("cents").isNotNull)
      // ks derive from the operator's own count — no separate count scan
      val res = graft.operators.Rank.kthSmallestBy(ev, "cents",
        n => Seq(n / 4, n / 2, 3 * n / 4, n).filter(_ >= 1).distinct)
      import s.implicits._
      res.toSeq.map { case (k, v) => (k, v) }.toDF("k", "value").orderBy("k")
    },
    Some("""WITH v AS (
        SELECT CAST(floor(value * 100) AS BIGINT) AS cents FROM events
        WHERE value IS NOT NULL),
      n AS (SELECT count(*) AS n FROM v),
      ks AS (SELECT DISTINCT unnest([n // 4, n // 2, 3 * n // 4, n]) AS k FROM n),
      sorted AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM v)
      SELECT k, (SELECT cents FROM sorted WHERE rn = k) AS value
      FROM ks WHERE k >= 1 ORDER BY k"""))

  /** Per-group winsorization of event values (exact-percentile
   *  clipping in integer cents), aggregated to per-type clipped
   *  sums — the feature-cleaning stage before model aggregates. */
  private val q_winsorize = QueryDef(
    (s, dir) => {
      val ev = events(s, dir)
        .withColumn("cents", floor(col("value") * 100).cast("long"))
      graft.operators.Outliers.winsorize(ev, "event_type", "cents", 0.05, 0.95)
        .groupBy("event_type")
        .agg(min("lo").as("lo"), min("hi").as("hi"),
          count(col("clipped")).as("n_vals"), sum("clipped").as("sum_clipped"))
        .orderBy("event_type")
    },
    Some("""WITH v AS (
        SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
      stats AS (
        SELECT event_type,
          CAST(round(quantile_cont(cents, 0.05)) AS BIGINT) AS lo,
          CAST(round(quantile_cont(cents, 0.95)) AS BIGINT) AS hi
        FROM v WHERE cents IS NOT NULL GROUP BY 1)
      SELECT v.event_type, min(s.lo) AS lo, min(s.hi) AS hi,
        count(v.cents) AS n_vals,
        CAST(sum(greatest(s.lo, least(s.hi, v.cents))) AS BIGINT) AS sum_clipped
      FROM v LEFT JOIN stats s ON v.event_type = s.event_type
      GROUP BY v.event_type ORDER BY v.event_type"""))

  /** One-pass column profiler over a mixed-type table: null counts +
   *  numeric min/max/mean + string min/max + timestamp epoch-micros
   *  bounds, all columns in one aggregate scan. */
  private val q_profile = QueryDef(
    (s, dir) => graft.operators.Validate.profile(t(s, dir, "lineitem"),
      Seq("l_orderkey", "l_linenumber", "l_quantity", "l_discount",
        "l_returnflag", "l_shipdate")),
    Some {
      def num(c: String) = s"""SELECT '$c' AS "column", count(*) AS n_rows,
        CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        round(CAST(min($c) AS DOUBLE), 6) AS min_num,
        round(CAST(max($c) AS DOUBLE), 6) AS max_num,
        round(avg(CAST($c AS DOUBLE)), 6) AS mean_num,
        CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        FROM lineitem"""
      def str(c: String) = s"""SELECT '$c', count(*),
        CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        min($c), max($c) FROM lineitem"""
      def ts(c: String) = s"""SELECT '$c', count(*),
        CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        CAST(epoch_us(min($c)) AS DOUBLE), CAST(epoch_us(max($c)) AS DOUBLE),
        CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        FROM lineitem"""
      Seq(num("l_orderkey"), num("l_linenumber"), num("l_quantity"),
        num("l_discount"), str("l_returnflag"), ts("l_shipdate"))
        .mkString("\nUNION ALL\n")
    })

  /** Bucketed co-located join: both sides written hash-bucketed on
   *  the join key (Layout.writeBucketed), then joined WITHOUT either
   *  side shuffling (the Exchange-free plan is pinned in LayoutSpec;
   *  this query gates the write->read->join ROUND TRIP against a
   *  plain-join oracle over the raw tables — bucketing must never
   *  lose or duplicate a row).
   *
   *  The bucketed tables are a FIXTURE built once per (session, sf)
   *  — bucketing's entire point is write-once / join-forever, so the
   *  timed query prices the Exchange-free join, not two table writes
   *  (the r12 bench row's 53x "ratio" was almost entirely the
   *  per-run writes; Bench's discarded warm-up run now pays them).
   *  The temp root stays random PER PROCESS, so two processes at the
   *  same SF still cannot clobber each other's bucket files. */
  // keyed WEAKLY by the owning session (identityHashCode keys can be
  // reused after a session is GC'd and would silently skip fixture
  // creation for a new session — r13 ADVICE); fixture dirs are
  // registered for JVM-exit deletion so repeated sessions in one
  // process cannot accumulate temp roots unboundedly
  private val bucketedFixtureRoots =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Set[String]]()
  private lazy val bucketedCleanupHook: java.util.Queue[String] = {
    val q = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    Runtime.getRuntime.addShutdownHook(new Thread(() => q.forEach { root =>
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
          .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => () } // best-effort exit cleanup
    }))
    q
  }
  private val q_bucketed = QueryDef(
    (s, dir) => {
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      bucketedFixtureRoots.synchronized {
        val perSession = Option(bucketedFixtureRoots.get(s)).getOrElse {
          val m = scala.collection.mutable.Set.empty[String]
          bucketedFixtureRoots.put(s, m); m
        }
        if (!perSession.contains(tag)) {
          val root = java.nio.file.Files.createTempDirectory(s"graft_bucketed$tag").toString
          graft.operators.Layout.writeBucketed(t(s, dir, "orders"),
            s"graft_bkt_orders$tag", s"$root/orders", Seq("o_custkey"), 8)
          graft.operators.Layout.writeBucketed(t(s, dir, "customer"),
            s"graft_bkt_customer$tag", s"$root/customer", Seq("c_custkey"), 8)
          perSession += tag
          bucketedCleanupHook.add(root)
        }
      }
      s.table(s"graft_bkt_orders$tag")
        .join(s.table(s"graft_bkt_customer$tag"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("c_mktsegment")
    },
    Some("""SELECT c_mktsegment, count(*) AS n_orders,
      round(sum(o_totalprice), 2) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1 ORDER BY 1"""))

  /** Segment-level exact dedup (C4-style boilerplate removal): 20-word
   *  windows, drop any window shared by >1 distinct docs, reassemble.
   *  The oracle recomputes windowing, the distinct-doc HAVING, and the
   *  ordered reassembly from scratch on the segment TEXT (the Spark
   *  side keys the shuffle on a 256-bit hash — same content, slim key). */
  private val dedup_paragraph = QueryDef(
    (s, dir) => Dedup.segmentDedup(t(s, dir, "documents"), "doc_id", "text",
        segmentWords = 20, maxDocs = 1)
      .orderBy("doc_id"),
    Some {
      val norm = Dedup.normalizeTextSql("text")
      s"""WITH toks AS (SELECT doc_id, string_split($norm, ' ') AS tk FROM documents),
        idxs AS (SELECT doc_id, tk,
          unnest(range(0, greatest((len(tk) + 19) // 20, 1))) AS idx FROM toks),
        segs AS (SELECT doc_id, idx,
          array_to_string(tk[idx * 20 + 1 : idx * 20 + 20], ' ') AS seg FROM idxs),
        dups AS (SELECT seg FROM segs GROUP BY seg HAVING count(DISTINCT doc_id) > 1)
        SELECT s.doc_id, count(*) AS n_segs, count(d.seg) AS n_dropped,
          coalesce(string_agg(CASE WHEN d.seg IS NULL THEN s.seg END, ' ' ORDER BY s.idx), '') AS clean_text
        FROM segs s LEFT JOIN dups d USING (seg)
        GROUP BY s.doc_id ORDER BY s.doc_id"""
    })

  /** Substring-level duplication coverage: stride-1 10-word shingles,
   *  a shingle is duplicated when its content appears in >1 distinct
   *  docs, overlapping duplicated spans merged exactly per doc
   *  (gaps-and-islands). The oracle recomputes shingling, the
   *  distinct-doc HAVING, and the interval merge from the segment
   *  TEXT (Spark keys the shuffle on a 256-bit hash — same content,
   *  slim fixed-width key). */
  private val dedup_substring = QueryDef(
    (s, dir) => Dedup.substringDupStats(t(s, dir, "documents"), "doc_id", "text",
        windowWords = 10, maxDocs = 1)
      .orderBy("doc_id"),
    Some {
      val norm = Dedup.normalizeTextSql("text")
      s"""WITH base AS (SELECT doc_id, tk, len(tk) AS ntok FROM
          (SELECT doc_id, string_split($norm, ' ') AS tk FROM documents)),
        sh AS (SELECT doc_id, ntok,
          unnest(CASE WHEN ntok < 10 THEN [CAST(0 AS BIGINT)] ELSE range(0, ntok - 9) END) AS pos,
          tk FROM base),
        shs AS (SELECT doc_id, ntok, pos,
          array_to_string(tk[pos + 1 : pos + 10], ' ') AS sg FROM sh),
        dups AS (SELECT sg FROM shs GROUP BY sg HAVING count(DISTINCT doc_id) > 1),
        flagged AS (SELECT s.doc_id, s.ntok, s.pos, d.sg AS dup
          FROM shs s LEFT JOIN dups d USING (sg)),
        stats AS (SELECT doc_id, any_value(ntok) AS n_tokens, count(*) AS n_shingles,
          count(dup) AS n_dup_shingles FROM flagged GROUP BY doc_id),
        spans AS (SELECT doc_id, pos, pos + least(10, ntok) AS e
          FROM flagged WHERE dup IS NOT NULL),
        isl AS (SELECT doc_id, pos, e, CASE WHEN
            max(e) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
            OR pos > max(e) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          THEN 1 ELSE 0 END AS ni FROM spans),
        isl2 AS (SELECT doc_id, pos, e, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
          ROWS UNBOUNDED PRECEDING) AS isle FROM isl),
        merged AS (SELECT doc_id, isle, max(e) - min(pos) AS covered
          FROM isl2 GROUP BY doc_id, isle),
        cov AS (SELECT doc_id, sum(covered) AS dup_tokens FROM merged GROUP BY doc_id)
        SELECT s.doc_id, s.n_tokens, s.n_shingles, s.n_dup_shingles,
          CAST(coalesce(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
          round(coalesce(c.dup_tokens, 0)::DOUBLE / s.n_tokens, 6) AS dup_fraction
        FROM stats s LEFT JOIN cov c USING (doc_id) ORDER BY s.doc_id"""
    })

  // minhash/simhash signatures come from the oracle aux parquet
  // (Scala-kernel-computed, like the healpix pixels); DuckDB then
  // independently recomputes banding/chunking, est_sim and Hamming —
  // so candidate RECALL is driver-checked, not just declared.

  private val dedup_minhash = QueryDef(
    // no rounding: est_sim = k/64 is an exact dyadic double on both engines
    (s, dir) => Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("id_a", "id_b"),
    // a pair is emitted iff >=1 of the 16 4-long signature bands agrees
    // exactly (the first-matching-band predicate drops collision-only
    // joins, so band-hash choice is irrelevant) and positional
    // agreement est_sim = matches/64 clears the 0.5 floor. Brute force
    // over all pairs -> banding recall is checked too.
    Some(s"""SELECT id_a, id_b, est / 64.0 AS est_sim FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        len(list_filter(range(1, 65), i -> a.sig[i] = b.sig[i])) AS est,
        len(list_filter(range(0, 16), k -> a.sig[4*k+1 : 4*k+4] = b.sig[4*k+1 : 4*k+4])) AS nbands
      FROM ${aux("minhash_documents")} a JOIN ${aux("minhash_documents")} b ON a.doc_id < b.doc_id)
      WHERE nbands > 0 AND est >= 32 ORDER BY id_a, id_b"""))

  /** MinHash estimator calibration over banding survivors: exact
   *  shingle Jaccard next to the signature estimate, bucketed by
   *  estimated matches — the error envelope read before trusting a
   *  dedup threshold. The oracle replays candidates from the aux
   *  signatures and the exact Jaccard from string shingle lists
   *  (independently of the engine's hashed merge kernel). */
  private val dedup_calibration = QueryDef(
    (s, dir) => Dedup.minhashCalibration(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("est64"),
    Some(s"""WITH cands AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          len(list_filter(range(1, 65), i -> a.sig[i] = b.sig[i])) AS est
        FROM ${aux("minhash_documents")} a JOIN ${aux("minhash_documents")} b
          ON a.doc_id < b.doc_id
        WHERE len(list_filter(range(0, 16), k -> a.sig[4*k+1 : 4*k+4] = b.sig[4*k+1 : 4*k+4])) > 0
          AND len(list_filter(range(1, 65), i -> a.sig[i] = b.sig[i])) >= 32),
      ex AS (
        SELECT c.est, len(list_intersect(a.sh, b.sh)) AS inter,
               len(a.sh) AS sz_a, len(b.sh) AS sz_b
        FROM cands c JOIN $jaccardShinglesSql a ON a.doc_id = c.id_a
                     JOIN $jaccardShinglesSql b ON b.doc_id = c.id_b),
      rws AS (
        SELECT est AS est64, (inter * 10000) // (sz_a + sz_b - inter) AS exact_e4 FROM ex)
      SELECT CAST(est64 AS BIGINT) AS est64, CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(min(exact_e4) AS BIGINT) AS min_e4, CAST(max(exact_e4) AS BIGINT) AS max_e4,
        CAST(sum(exact_e4) // count(*) AS BIGINT) AS mean_e4
      FROM rws GROUP BY 1 ORDER BY 1"""))

  private val dedup_simhash = QueryDef(
    (s, dir) => Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text")
      .withColumn("hamming", col("hamming").cast("long")).orderBy("id_a", "id_b"),
    // the (maxHamming+1)-chunk banding (7 chunks of 9-10 bits at the
    // default radius) is exhaustive to Hamming 6 by pigeonhole, so the
    // oracle needs NO banding condition at all: plain all-pairs Hamming
    // <= 6 — which makes the driver certify the recall contract.
    Some(s"""SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM ${aux("simhash_documents")} a JOIN ${aux("simhash_documents")} b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 6 ORDER BY id_a, id_b"""))

  private lazy val jaccardShinglesSql: String = {
    val norm = Dedup.normalizeTextSql("text")
    // matches WordShinglesExpr exactly, incl. the <n-token case
    // (single whole-text shingle rather than an empty set)
    s"""(SELECT doc_id, lang, source, list_distinct(
        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        ELSE list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')) END) AS sh
        FROM (SELECT doc_id, lang, source, string_split($norm, ' ') AS toks FROM documents))"""
  }

  /** Sorted-neighborhood (merge/purge) near-dup blocking: rank by a
   *  normalized-text-prefix sort key with the distributed
   *  globalRowNumber, compare only the following window-1 rows,
   *  exact-Jaccard verify — candidate count bounded at n x (w-1) by
   *  construction, whatever the data distribution. */
  private val dedup_snm = QueryDef(
    (s, dir) => Dedup.sortedNeighborhood(t(s, dir, "documents"), "doc_id", "text",
        window = 4, n = 3, minJaccard = 0.5)
      .withColumn("jaccard", round(col("jaccard"), 4)).orderBy("id_a", "id_b"),
    Some {
      val norm = Dedup.normalizeTextSql("text")
      s"""WITH sh AS (
        SELECT doc_id, substr($norm, 1, 24) AS k, list_distinct(
          CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
          ELSE list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')) END) AS sh
        FROM (SELECT doc_id, text, string_split($norm, ' ') AS toks FROM documents)),
      r AS (SELECT *, row_number() OVER (ORDER BY k, doc_id) AS rk FROM sh),
      pairs AS (
        SELECT least(a.doc_id, b.doc_id) AS id_a, greatest(a.doc_id, b.doc_id) AS id_b,
          len(list_intersect(a.sh, b.sh))::DOUBLE
            / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        FROM r a JOIN r b ON b.rk - a.rk BETWEEN 1 AND 3)
      SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM pairs
      WHERE jaccard >= 0.5 ORDER BY id_a, id_b"""
    })

  private val dedup_jaccard = QueryDef(
    (s, dir) => Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        Seq("lang", "source"), n = 3, minJaccard = 0.5)
      .withColumn("jaccard", round(col("jaccard"), 4)).orderBy("id_a", "id_b"),
    Some(s"""SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
      FROM $jaccardShinglesSql a JOIN $jaccardShinglesSql b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
      WHERE jaccard >= 0.5 ORDER BY id_a, id_b"""))

  /** EXACT set-similarity self-join by prefix filtering (AllPairs/
   *  PPJoin): no false negatives, the exact counterpart to the
   *  minhash/simhash band families. The oracle replays the global
   *  rare-first token ordering, the prefix cut, the length and
   *  positional integer filters and the verified intersection. */
  private val dedup_ppjoin = QueryDef(
    (s, dir) => Dedup.prefixFilterJoin(t(s, dir, "documents"), "doc_id", "text", t100 = 60)
      .orderBy("id_a", "id_b"),
    Some(s"""WITH flat AS (
        SELECT DISTINCT doc_id, tok FROM (
          SELECT doc_id, unnest(string_split(${Dedup.normalizeTextSql("text")}, ' ')) AS tok
          FROM documents) WHERE tok <> ''),
      freq AS (SELECT tok, count(*) AS f FROM flat GROUP BY tok),
      ord AS (SELECT fl.doc_id, fl.tok,
          row_number() OVER (PARTITION BY fl.doc_id ORDER BY fr.f, fl.tok) - 1 AS pos,
          count(*) OVER (PARTITION BY fl.doc_id) AS sz
        FROM flat fl JOIN freq fr USING (tok)),
      pre AS (SELECT * FROM ord WHERE pos < sz - ((sz * 60 + 99) // 100) + 1),
      cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sz_a, b.sz AS sz_b
        FROM pre a JOIN pre b ON a.tok = b.tok AND a.doc_id < b.doc_id
        WHERE least(a.sz, b.sz) * 100 >= greatest(a.sz, b.sz) * 60
          AND least(a.sz - a.pos, b.sz - b.pos) >= (60 * (a.sz + b.sz) + 159) // 160
        GROUP BY 1, 2, 3, 4),
      iv AS (SELECT c.id_a, c.id_b, c.sz_a, c.sz_b, count(*) AS inter
        FROM cand c
        JOIN flat fa ON fa.doc_id = c.id_a
        JOIN flat fb ON fb.doc_id = c.id_b AND fb.tok = fa.tok
        GROUP BY 1, 2, 3, 4)
      SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
        CAST(inter * 10000 // (sz_a + sz_b - inter) AS BIGINT) AS jaccard_e4
      FROM iv WHERE inter * 100 >= (sz_a + sz_b - inter) * 60
      ORDER BY id_a, id_b"""))

  /** Asymmetric containment — superset/quotation duplicates that
   *  symmetric Jaccard structurally misses. */
  private val dedup_containment = QueryDef(
    (s, dir) => Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
        Seq("lang", "source"), n = 3, minContainment = 0.6)
      .withColumn("cont_a", round(col("cont_a"), 4))
      .withColumn("cont_b", round(col("cont_b"), 4))
      .orderBy("id_a", "id_b"),
    Some(s"""SELECT id_a, id_b, round(cont_a, 4) AS cont_a, round(cont_b, 4) AS cont_b FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh) AS cont_a,
        len(list_intersect(a.sh, b.sh))::DOUBLE / len(b.sh) AS cont_b
      FROM $jaccardShinglesSql a JOIN $jaccardShinglesSql b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
      WHERE greatest(cont_a, cont_b) >= 0.6 ORDER BY id_a, id_b"""))

  private val dedup_neardup = QueryDef(
    (s, dir) => Dedup.nearDuplicates(t(s, dir, "documents"), "doc_id", "text", minJaccard = 0.8)
      .withColumn("jaccard", round(col("jaccard"), 4)).orderBy("id_a", "id_b"),
    // brute force over ALL pairs: the oracle checks both precision
    // (emitted jaccards are exact) and recall (every true pair at
    // J >= 0.8 was surfaced by the LSH banding)
    Some(s"""SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
      FROM $jaccardShinglesSql a JOIN $jaccardShinglesSql b
        ON a.doc_id < b.doc_id
        AND least(len(a.sh), len(b.sh)) >= 0.8 * greatest(len(a.sh), len(b.sh)))
      WHERE jaccard >= 0.8 ORDER BY id_a, id_b"""))

  /** Duplicate clustering: near-dup pairs → connected components →
   *  one canonical doc per cluster. The oracle recomputes the pairs
   *  by brute force and the components with a recursive CTE, so the
   *  transitive closure (not just the pair set) is driver-checked. */
  /** Fixed-point integer PageRank over the part-supplier bipartite
   *  graph (5 iterations, d=0.85, ranks scaled 1e9). Pure integer
   *  updates make the whole iteration bit-replayable in SQL — the
   *  oracle unrolls the same five rounds and must hash-match. */
  private val graph_pagerank = QueryDef(
    (s, dir) => {
      val fwd = t(s, dir, "lineitem")
        .select((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      graft.operators.Graph.pageRank(edges, "src", "dst", iterations = 5, d100 = 85)
        .filter(col("node") % 2 === 1)
        .select(expr("(node - 1) div 2").as("s_suppkey"), col("r").as("rank_e9"))
        .orderBy(col("rank_e9").desc, col("s_suppkey"))
    },
    Some {
      def iter(prev: String, cur: String) =
        s"""$cur AS (SELECT n.node, 150000000 + (85 * coalesce(c.s, 0)) // 100 AS r
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, sum(r.r // d.od) AS s
            FROM edges e JOIN $prev r ON r.node = e.src JOIN deg d ON d.src = e.src
            GROUP BY e.dst) c ON c.node = n.node)"""
      val iters = (1 to 5).map(i => iter(s"r${i - 1}", s"r$i")).mkString(",\n      ")
      s"""WITH base AS (SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem),
      edges AS (SELECT src, dst FROM base UNION SELECT dst, src FROM base),
      deg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
      nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
      r0 AS (SELECT node, 1000000000 AS r FROM nodes),
      $iters
      SELECT CAST((node - 1) // 2 AS BIGINT) AS s_suppkey, CAST(r AS BIGINT) AS rank_e9
      FROM r5 WHERE node % 2 = 1 ORDER BY rank_e9 DESC, s_suppkey"""
    })

  /** Distributed-path WITNESS for the connected-components star
   *  rounds (the machinery behind 10 CC-consumer queries, all of
   *  which run the bounded driver union-find at bench SFs): q_fof's
   *  exact computation and oracle with the closure's cutover at 0,
   *  on the caller's session. */
  private val q_fof_dist = fof(localMaxEdges = 0)

  /** Exact triangle counting over the supplier co-supply kNN graph:
   *  the bipartite (part, supplier) projection is sparsified to each
   *  node's 5 strongest partners (degree-bounded at any SF — the raw
   *  projection is complete at small scale and its density grows with
   *  the data), then triangles are counted with the degree-ordered
   *  compact-forward join ([[graft.operators.Graph.triangleCounts]]).
   *  The oracle enumerates triangles by naive a<b three-way join — a
   *  structurally different derivation that must hash-match. */
  /** Supplier co-supply kNN graph (shared by graph_triangles /
   *  graph_bfs): bipartite (part, supplier) projection weighted by
   *  shared parts, sparsified to each node's 5 strongest partners. */
  private def coSupplyKnnEdges(s: SparkSession, dir: String): DataFrame = {
    val bp = t(s, dir, "lineitem")
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sk")).distinct()
    // SHUFFLE_HASH: the wedge self-join's sort-merge plan paid two
    // 591k-row sorts per run for a join whose per-partition build
    // side is a bounded slice of the slim (p, sk) projection —
    // measured 4.65 -> 2.07 s (same-epoch 5-run medians) at sf0.1.
    // At scale AQE's skew-join splitting applies to shuffled-hash
    // joins too, so a hot part key cannot grow one build partition
    // unboundedly. (Tried and rejected: collect_set + interpreted
    // higher-order pair generation, 2x SLOWER — lambda expressions
    // are CodegenFallback; and an explode-based co-partitioned
    // self-join, still slower than this shape.)
    val pairs = bp.alias("x").hint("SHUFFLE_HASH").join(bp.alias("y"),
        col("x.p") === col("y.p") && col("x.sk") < col("y.sk"))
      .groupBy(col("x.sk").as("u"), col("y.sk").as("v"))
      .agg(count(lit(1)).as("w"))
    graft.operators.Graph.topKNeighborGraph(pairs, "u", "v", "w", k = 5)
  }

  /** The same graph as SQL CTEs ending in `ed(a, b)`. */
  private val coSupplyKnnSql: String =
    """bp AS (SELECT DISTINCT l_partkey p, l_suppkey s FROM lineitem),
      pw AS (SELECT a.s u, b.s v, count(*) w FROM bp a JOIN bp b ON a.p = b.p AND a.s < b.s GROUP BY 1, 2),
      dirw AS (SELECT u n, v p2, w FROM pw UNION ALL SELECT v, u, w FROM pw),
      topk AS (SELECT n, p2 FROM (
        SELECT n, p2, row_number() OVER (PARTITION BY n ORDER BY w DESC, p2) rn FROM dirw) WHERE rn <= 5),
      ed AS (SELECT DISTINCT least(n, p2) a, greatest(n, p2) b FROM topk)"""

  private val graph_triangles = QueryDef(
    (s, dir) => graft.operators.Graph
      .triangleCounts(coSupplyKnnEdges(s, dir), "a", "b").orderBy("node"),
    Some(s"""WITH $coSupplyKnnSql,
      tri AS (SELECT e1.a x, e1.b y, e2.b z FROM ed e1
        JOIN ed e2 ON e2.a = e1.b JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b),
      pn AS (SELECT n, count(*) triangles FROM (
        SELECT x n FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri) GROUP BY 1),
      deg AS (SELECT n, count(*) d FROM (SELECT a n FROM ed UNION ALL SELECT b FROM ed) GROUP BY 1)
      SELECT deg.n AS node, CAST(d AS BIGINT) AS degree,
        CAST(coalesce(triangles, 0) AS BIGINT) AS triangles
      FROM deg LEFT JOIN pn ON pn.n = deg.n ORDER BY node"""))

  /** Deterministic community detection over the co-supply kNN graph
   *  ([[graft.operators.Graph.labelPropagation]]): 4 SYNCHRONOUS
   *  min-tie-broken label-propagation rounds — every node adopts its
   *  neighbors' most frequent label, ties to the smallest — so the
   *  integer state is engine-exact and the oracle unrolls the rounds
   *  as chained CTEs (the graph_pagerank pattern, here with a
   *  window-free struct-min on the Spark side vs row_number in SQL). */
  /** The 4 unrolled synchronous LPA rounds over the co-supply graph
   *  as chained CTEs (ends in `l4(node, lbl)`) — shared by the
   *  graph_communities and graph_modularity oracles. MATERIALIZED is
   *  load-bearing: DuckDB inlines plain CTEs at every reference, and
   *  the modularity oracle references `l4`/`dire` three times — the
   *  re-inlined 4-round window chains spilled temp storage to DISK
   *  FULL at sf0.1 before erroring. */
  private lazy val lpaCtesSql: String = {
    val roundCte = (r: Int) => s"""
      l$r AS MATERIALIZED (SELECT n AS node, lbl FROM (
        SELECT d.n, l.lbl, row_number() OVER (PARTITION BY d.n
            ORDER BY count(*) DESC, l.lbl) AS rn
        FROM dire d JOIN l${r - 1} l ON l.node = d.nb
        GROUP BY d.n, l.lbl) WHERE rn = 1)"""
    s"""dire AS MATERIALIZED (SELECT a AS n, b AS nb FROM ed UNION ALL SELECT b, a FROM ed),
      l0 AS MATERIALIZED (SELECT DISTINCT n AS node, n AS lbl FROM dire),
      ${(1 to 4).map(roundCte).mkString(",")}"""
  }

  private val graph_communities = QueryDef(
    (s, dir) => graft.operators.Graph
      .labelPropagation(coSupplyKnnEdges(s, dir), "a", "b", rounds = 4)
      .orderBy("node"),
    Some(s"""WITH $coSupplyKnnSql,
      $lpaCtesSql
      SELECT CAST(node AS BIGINT) AS node, CAST(lbl AS BIGINT) AS community
      FROM l4 ORDER BY node"""))

  /** Newman modularity of the detected communities
   *  ([[graft.operators.Graph.modularity]]), in EXACT integer
   *  arithmetic: per community, q_num = 4m*e_intra - d_sum^2 (the
   *  numerator of its contribution to Q over denominator 4m^2), so
   *  the partition-quality audit of graph_communities hash-matches
   *  bit for bit; the 6-dp q_contrib double is display-only. The
   *  oracle replays the 4 LPA rounds AND the modularity arithmetic. */
  private val graph_modularity = QueryDef(
    (s, dir) => {
      // pin the kNN graph ONCE: the co-supply derivation (lineitem
      // self-join + top-5 window) is otherwise re-planned 4x — for
      // LPA's directed expansion, modularity's m count, the
      // intra-edge join and the degree rollup (r13 verdict item).
      // The edge list is slim (2 longs x |E|), so the eager
      // materialization is cheap at any SF.
      val edges = graft.operators.CacheUtil.gcPersist(coSupplyKnnEdges(s, dir))
      val labels = graft.operators.Graph.labelPropagation(edges, "a", "b", rounds = 4)
      graft.operators.Graph.modularity(edges, "a", "b", labels).orderBy("community")
    },
    Some(s"""WITH $coSupplyKnnSql,
      $lpaCtesSql,
      mm AS MATERIALIZED (SELECT count(*) AS me FROM ed),
      ej AS MATERIALIZED (SELECT la.lbl AS ca, lb.lbl AS cb
        FROM ed JOIN l4 la ON la.node = ed.a JOIN l4 lb ON lb.node = ed.b),
      ec AS (SELECT ca AS community, count(*) AS e_intra FROM ej WHERE ca = cb GROUP BY 1),
      deg AS MATERIALIZED (SELECT n, count(*) AS dd FROM dire GROUP BY 1),
      dc AS (SELECT l.lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes,
          CAST(sum(deg.dd) AS BIGINT) AS d_sum
        FROM l4 l JOIN deg ON deg.n = l.node GROUP BY 1)
      SELECT CAST(dc.community AS BIGINT) AS community, dc.n_nodes,
        CAST(coalesce(ec.e_intra, 0) AS BIGINT) AS e_intra, dc.d_sum,
        CAST(4 * mm.me * coalesce(ec.e_intra, 0) - dc.d_sum * dc.d_sum AS BIGINT) AS q_num,
        round(CAST(4 * mm.me * coalesce(ec.e_intra, 0) - dc.d_sum * dc.d_sum AS DOUBLE)
          / (4.0 * mm.me * mm.me), 6) AS q_contrib
      FROM dc LEFT JOIN ec USING (community), mm ORDER BY community"""))

  /** Deterministic Louvain level-1 ([[graft.operators.Graph.louvainMerge]]
   *  — greedy mutual-nomination community agglomeration over the LPA
   *  partition, exact-integer dq_num = 4m*e_cd - 2*d_c*d_d), audited
   *  through the same exact-integer modularity table as
   *  graph_modularity — so the oracle replays LPA, BOTH merge rounds
   *  (community edge rollup, degree sums, positive-gain best-partner
   *  windows, mutual matching, relabel) and the q_num arithmetic. */
  private val graph_louvain = QueryDef(
    (s, dir) => {
      val edges = graft.operators.CacheUtil.gcPersist(coSupplyKnnEdges(s, dir))
      val lpa = graft.operators.Graph.labelPropagation(edges, "a", "b", rounds = 4)
      val merged = graft.operators.Graph.louvainMerge(edges, "a", "b", lpa, rounds = 2)
      graft.operators.Graph.modularity(edges, "a", "b", merged).orderBy("community")
    },
    Some {
      // one greedy merge round: labels `prev` -> labels `out`
      def mergeRound(prev: String, out: String): String = s"""
      ${out}ec AS (SELECT least(la.lbl, lb.lbl) AS c, greatest(la.lbl, lb.lbl) AS d, count(*) AS ec
        FROM ed JOIN $prev la ON la.node = ed.a JOIN $prev lb ON lb.node = ed.b
        WHERE la.lbl <> lb.lbl GROUP BY 1, 2),
      ${out}ds AS MATERIALIZED (SELECT l.lbl AS c, CAST(sum(deg.dd) AS BIGINT) AS dc
        FROM $prev l JOIN deg ON deg.n = l.node GROUP BY 1),
      ${out}dq AS (SELECT * FROM (
          SELECT e.c, e.d, 4 * mm.me * e.ec - 2 * ca.dc * cb.dc AS dq
          FROM ${out}ec e JOIN ${out}ds ca ON ca.c = e.c
            JOIN ${out}ds cb ON cb.c = e.d, mm)
        WHERE dq > 0),
      ${out}best AS MATERIALIZED (SELECT x, y FROM (
          SELECT x, y, row_number() OVER (PARTITION BY x ORDER BY dq DESC, y) AS rn
          FROM (SELECT c AS x, d AS y, dq FROM ${out}dq
                UNION ALL SELECT d, c, dq FROM ${out}dq))
        WHERE rn = 1),
      ${out}mut AS MATERIALIZED (SELECT p.x AS c, p.y AS d
        FROM ${out}best p JOIN ${out}best q ON q.x = p.y AND q.y = p.x
        WHERE p.x < p.y),
      $out AS MATERIALIZED (SELECT l.node, coalesce(mu.c, l.lbl) AS lbl
        FROM $prev l LEFT JOIN ${out}mut mu ON mu.d = l.lbl)"""
      s"""WITH $coSupplyKnnSql,
      $lpaCtesSql,
      mm AS MATERIALIZED (SELECT count(*) AS me FROM ed),
      deg AS MATERIALIZED (SELECT n, count(*) AS dd FROM dire GROUP BY 1),
      ${mergeRound("l4", "g1")},
      ${mergeRound("g1", "g2")},
      ej AS MATERIALIZED (SELECT la.lbl AS ca, lb.lbl AS cb
        FROM ed JOIN g2 la ON la.node = ed.a JOIN g2 lb ON lb.node = ed.b),
      ec AS (SELECT ca AS community, count(*) AS e_intra FROM ej WHERE ca = cb GROUP BY 1),
      dc AS (SELECT l.lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes,
          CAST(sum(deg.dd) AS BIGINT) AS d_sum
        FROM g2 l JOIN deg ON deg.n = l.node GROUP BY 1)
      SELECT CAST(dc.community AS BIGINT) AS community, dc.n_nodes,
        CAST(coalesce(ec.e_intra, 0) AS BIGINT) AS e_intra, dc.d_sum,
        CAST(4 * mm.me * coalesce(ec.e_intra, 0) - dc.d_sum * dc.d_sum AS BIGINT) AS q_num,
        round(CAST(4 * mm.me * coalesce(ec.e_intra, 0) - dc.d_sum * dc.d_sum AS DOUBLE)
          / (4.0 * mm.me * mm.me), 6) AS q_contrib
      FROM dc LEFT JOIN ec USING (community), mm ORDER BY community"""
    })

  /** Multi-source BFS over the co-supply kNN graph: minimum hop from
   *  the three lowest supplier keys, ≤ 6 hops. The Spark side runs
   *  frontier expansion ([[graft.operators.Graph.bfsHops]] — only the
   *  slim frontier shuffles per round); the oracle re-derives the
   *  same distances with a recursive CTE and min(hop). */
  private val graph_bfs = QueryDef(
    (s, dir) => {
      val seeds = t(s, dir, "supplier").filter(col("s_suppkey") < 3)
      graft.operators.Graph.bfsHops(coSupplyKnnEdges(s, dir), "a", "b",
          seeds, "s_suppkey", maxHops = 6)
        .orderBy("node")
    },
    Some(s"""WITH RECURSIVE $coSupplyKnnSql,
      dire AS (SELECT a n, b nb FROM ed UNION ALL SELECT b, a FROM ed),
      bfs AS (
        SELECT s_suppkey AS node, 0 AS hop FROM supplier WHERE s_suppkey < 3
        UNION
        SELECT d.nb, bfs.hop + 1 FROM bfs JOIN dire d ON d.n = bfs.node WHERE bfs.hop < 6)
      SELECT CAST(node AS BIGINT) AS node, CAST(min(hop) AS BIGINT) AS hop
      FROM bfs GROUP BY 1 ORDER BY 1"""))

  /** Multi-source weighted shortest paths over a deterministic
   *  bounded-degree lattice on customer keys (chain edges k->k+1 with
   *  weight k%5+1, shortcut edges k->k+7 with weight k%3+4 — both
   *  endpoints must exist), seeds every 100th key, distances bounded
   *  at 8 relaxation rounds (= paths of <= 8 edges, the same bounded
   *  contract as graph_bfs). The oracle walks the same lattice with a
   *  depth-bounded recursive CTE and takes per-node minima — integer
   *  weights make every distance engine-exact. */
  private val graph_sssp = QueryDef(
    (s, dir) => {
      val keys = t(s, dir, "customer").select(col("c_custkey").cast("long").as("k"))
      val k2 = keys.select(col("k").as("k2"))
      val chain = keys.join(k2, col("k2") === col("k") + 1)
        .select(col("k").as("a"), col("k2").as("b"), (col("k") % 5 + 1).as("w"))
      val short = keys.join(k2, col("k2") === col("k") + 7)
        .select(col("k").as("a"), col("k2").as("b"), (col("k") % 3 + 4).as("w"))
      val seeds = keys.filter(col("k") % 100 === 0)
      graft.operators.Graph.sssp(chain.union(short), "a", "b", "w",
          seeds, "k", maxRounds = 8)
        .orderBy("node")
    },
    Some("""WITH RECURSIVE nodes AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer),
      ed AS (
        SELECT a.k AS a, b2.k AS b, (a.k % 5) + 1 AS w
        FROM nodes a JOIN nodes b2 ON b2.k = a.k + 1
        UNION ALL
        SELECT a.k, b2.k, (a.k % 3) + 4 FROM nodes a JOIN nodes b2 ON b2.k = a.k + 7),
      dire AS (SELECT a AS n, b AS nb, w FROM ed UNION ALL SELECT b, a, w FROM ed),
      walk AS (
        SELECT k AS node, 0 AS d, 0 AS hop FROM nodes WHERE k % 100 = 0
        UNION
        SELECT e.nb, walk.d + e.w, walk.hop + 1
        FROM walk JOIN dire e ON e.n = walk.node WHERE walk.hop < 8)
      SELECT node, CAST(min(d) AS BIGINT) AS dist FROM walk GROUP BY 1 ORDER BY 1"""))

  private val dedup_cluster = QueryDef(
    (s, dir) => graft.operators.Graph.dedupClusters(
        t(s, dir, "documents"), "doc_id", "text", minJaccard = 0.8)
      .select("doc_id", "cluster_id", "is_canonical").orderBy("doc_id"),
    // min-label fixed point via recursive CTE: the component minimum m
    // propagates (m < every other member), so min(comp) per node is
    // exactly the component's smallest id
    Some(s"""WITH RECURSIVE pr AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM $jaccardShinglesSql a JOIN $jaccardShinglesSql b
        ON a.doc_id < b.doc_id
        AND least(len(a.sh), len(b.sh)) >= 0.8 * greatest(len(a.sh), len(b.sh))
      WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
      edges AS (SELECT id_a AS a, id_b AS b FROM pr UNION ALL SELECT id_b, id_a FROM pr),
      cc AS (
        SELECT a AS id, a AS comp FROM edges
        UNION
        SELECT e.b AS id, cc.comp FROM cc JOIN edges e ON e.a = cc.id WHERE cc.comp < e.b),
      lab AS (SELECT id, min(comp) AS comp FROM cc GROUP BY id)
      SELECT d.doc_id, coalesce(l.comp, d.doc_id) AS cluster_id,
        coalesce(l.comp, d.doc_id) = d.doc_id AS is_canonical
      FROM documents d LEFT JOIN lab l ON l.id = d.doc_id
      ORDER BY d.doc_id"""))

  /**
   * Quality-aware duplicate canonicalization (what a curation
   * pipeline actually keeps): near-dup clusters from the banded
   * minhash → connected-components path, but the survivor per
   * cluster is the LONGEST member (C4's keep rule; tie → smallest
   * id), not the smallest id — "canonical" should be the best
   * content, the id is an accident. One slim join of labels to an
   * integer length signal + a per-cluster window (clusters are
   * near-dup groups — tiny by construction, so the window sort is
   * bounded). Oracle replays pairs, closure AND the keep rule.
   */
  private val dedup_keepbest = QueryDef(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val cl = graft.operators.Graph.dedupClusters(docs, "doc_id", "text", minJaccard = 0.8)
        .select("doc_id", "cluster_id")
      val len = docs.select(col("doc_id"),
        length(Dedup.normalizeText(col("text"))).cast("long").as("len"))
      val w = Window.partitionBy("cluster_id").orderBy(col("len").desc, col("doc_id"))
      cl.join(len, "doc_id")
        .withColumn("keep", row_number().over(w) === 1)
        .select("doc_id", "cluster_id", "len", "keep")
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE pr AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM $jaccardShinglesSql a JOIN $jaccardShinglesSql b
        ON a.doc_id < b.doc_id
        AND least(len(a.sh), len(b.sh)) >= 0.8 * greatest(len(a.sh), len(b.sh))
      WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
      edges AS (SELECT id_a AS a, id_b AS b FROM pr UNION ALL SELECT id_b, id_a FROM pr),
      cc AS (
        SELECT a AS id, a AS comp FROM edges
        UNION
        SELECT e.b AS id, cc.comp FROM cc JOIN edges e ON e.a = cc.id WHERE cc.comp < e.b),
      lab AS (SELECT id, min(comp) AS comp FROM cc GROUP BY id),
      m AS (SELECT d.doc_id, coalesce(l.comp, d.doc_id) AS cluster_id,
          CAST(length(${Dedup.normalizeTextSql("text")}) AS BIGINT) AS len
        FROM documents d LEFT JOIN lab l ON l.id = d.doc_id)
      SELECT doc_id, cluster_id, len,
        row_number() OVER (PARTITION BY cluster_id ORDER BY len DESC, doc_id) = 1 AS keep
      FROM m ORDER BY doc_id"""))

  /**
   * End-to-end entity-resolution pipeline composed from the engine's
   * own operators (the Hernandez & Stolfo 1996 merge/purge shape a
   * training-data catalog runs to collapse records of one real-world
   * entity): SNM blocking (recall stage, jaccard >= 0.3 candidates,
   * cost bounded at n×(w−1) by construction) → Jaro-Winkler
   * verification on normalized 32-char prefixes (precision stage,
   * the codegen fuzzy kernel) → connected components (transitive
   * closure, O(log n) star rounds) → canonical representative
   * (smallest id) + entity size. Every stage replayed independently
   * by the oracle, the closure via a recursive CTE.
   */
  private val pipeline_er = QueryDef(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val blocked = Dedup.sortedNeighborhood(docs, "doc_id", "text",
        window = 4, n = 3, minJaccard = 0.3)
      val pfx = docs.select(col("doc_id"),
        substring(Dedup.normalizeText(col("text")), 1, 32).as("__p"))
      val scored = blocked
        .join(pfx.select(col("doc_id").as("id_a"), col("__p").as("__pa")), "id_a")
        .join(pfx.select(col("doc_id").as("id_b"), col("__p").as("__pb")), "id_b")
        .withColumn("jw", round(graft.functions.native.jaroWinkler(col("__pa"), col("__pb")), 6))
        .filter(col("jw") >= 0.9)
      val comp = graft.operators.Graph.connectedComponents(
        scored.select("id_a", "id_b"), "id_a", "id_b")
      val ent = docs.join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("entity_id"))
      val sizes = ent.groupBy("entity_id").agg(count(lit(1)).as("csize"))
      ent.join(sizes, "entity_id")
        .select(col("doc_id"), col("entity_id"),
          (col("doc_id") === col("entity_id")).as("is_canonical"), col("csize"))
        .orderBy("doc_id")
    },
    Some {
      val norm = Dedup.normalizeTextSql("text")
      s"""WITH RECURSIVE sh AS (
        SELECT doc_id, substr($norm, 1, 24) AS k, list_distinct(
          CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
          ELSE list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')) END) AS sh
        FROM (SELECT doc_id, text, string_split($norm, ' ') AS toks FROM documents)),
      r AS (SELECT *, row_number() OVER (ORDER BY k, doc_id) AS rk FROM sh),
      cand AS (
        SELECT least(a.doc_id, b.doc_id) AS id_a, greatest(a.doc_id, b.doc_id) AS id_b
        FROM r a JOIN r b ON b.rk - a.rk BETWEEN 1 AND 3
        WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.3),
      pf AS (SELECT doc_id, substr($norm, 1, 32) AS p FROM documents),
      e AS (SELECT c.id_a, c.id_b FROM cand c
        JOIN pf pa ON pa.doc_id = c.id_a JOIN pf pb ON pb.doc_id = c.id_b
        WHERE round(jaro_winkler_similarity(pa.p, pb.p), 6) >= 0.9),
      edges AS (SELECT id_a AS a, id_b AS b FROM e UNION ALL SELECT id_b, id_a FROM e),
      cc AS (
        SELECT a AS id, a AS comp FROM edges
        UNION
        SELECT e2.b AS id, cc.comp FROM cc JOIN edges e2 ON e2.a = cc.id WHERE cc.comp < e2.b),
      lab AS (SELECT id, min(comp) AS comp FROM cc GROUP BY id),
      ent AS (SELECT d.doc_id, coalesce(l.comp, d.doc_id) AS entity_id
        FROM documents d LEFT JOIN lab l ON l.id = d.doc_id)
      SELECT doc_id, entity_id, doc_id = entity_id AS is_canonical,
        CAST(count(*) OVER (PARTITION BY entity_id) AS BIGINT) AS csize
      FROM ent ORDER BY doc_id"""
    })

  /** Explicit sequential-fold cosine (matches Spark's aggregate order). */
  private def cosSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_reduce(list_transform(range(1, len($x) + 1), i -> $x[i]::DOUBLE * $y[i]::DOUBLE), (acc, v) -> acc + v)"
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
  }

  private val dedup_cosine = QueryDef(
    (s, dir) => Dedup.cosinePairs(t(s, dir, "embeddings"), "vec_id", "embedding", "label", 0.35)
      .withColumn("cos", round(col("cos"), 6)).orderBy("id_a", "id_b"),
    Some(s"""SELECT id_a, id_b, round(cos, 6) AS cos FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${cosSql("a.embedding", "b.embedding")} AS cos
      FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id)
      WHERE cos > 0.35 ORDER BY id_a, id_b"""))

  /** Semantic dedup (SemDeDup shape): embedding-space near-dups found
   *  by blocking on the IVF cell (map-only assignment — no shuffle to
   *  build the blocks) and comparing cosines only within a cell. The
   *  100 TB form of cosinePairs: the blocking key comes from the data
   *  itself instead of a curated label column. Cross-cell pairs are
   *  out of scope by construction (blocking semantics, as with any
   *  cluster-pruned dedup); the oracle replays the full codebook →
   *  assignment → within-cell pair pipeline. */
  private val dedup_semantic = QueryDef(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Dedup.cosinePairs(Ann.ivfAssign(emb, "vec_id", "embedding", nCells = 16),
          "vec_id", "embedding", "__cid", minCos = 0.35)
        .withColumn("cos", round(col("cos"), 6)).orderBy("id_a", "id_b")
    },
    Some(s"""WITH cents AS (
        SELECT vec_id AS cid, embedding AS cvec FROM embeddings
        ORDER BY (vec_id * 2654435761) % 4294967296, vec_id LIMIT 16),
      asn AS (
        SELECT vec_id, embedding, cid FROM (
          SELECT e.vec_id, e.embedding, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY round(${cosSql("e.embedding", "c.cvec")}, 9) DESC, c.cid) AS crn
          FROM embeddings e CROSS JOIN cents c) WHERE crn = 1)
      SELECT id_a, id_b, round(cos, 6) AS cos FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${cosSql("a.embedding", "b.embedding")} AS cos
        FROM asn a JOIN asn b ON a.cid = b.cid AND a.vec_id < b.vec_id)
      WHERE cos > 0.35 ORDER BY id_a, id_b"""))

  private val ann_bruteforce = QueryDef(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        "vec_id", "embedding", "q_id", "q_vec", k = 5)
        .withColumn("cos", round(col("cos"), 6)).orderBy("q_id", "rn")
    },
    Some(s"""SELECT q_id, vec_id, round(cos, 6) AS cos, rn FROM (
      SELECT q.vec_id AS q_id, c.vec_id AS vec_id, ${cosSql("c.embedding", "q.embedding")} AS cos,
        row_number() OVER (PARTITION BY q.vec_id ORDER BY round(${cosSql("c.embedding", "q.embedding")}, 9) DESC, c.vec_id) AS rn
      FROM embeddings c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) q)
      WHERE rn <= 5 ORDER BY q_id, rn"""))

  /** Hard-negative mining ([[graft.operators.Ann.hardNegatives]], the
   *  DPR/SimCSE contrastive data-prep stage): per anchor, top-5
   *  most-similar vectors inside the [0.05, 0.95) similarity band —
   *  informative negatives below the near-duplicate ceiling (the
   *  anchor and exact duplicates score ~1 and drop). Oracle replays
   *  the cross-join cosine scan, the round-9 band cut, and the
   *  ranking. */
  private val sample_hardneg = QueryDef(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Ann.hardNegatives(emb,
          emb.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
          "vec_id", "embedding", "q_id", "q_vec", k = 5, loCos = 0.05, hiCos = 0.95)
        .withColumn("cos", round(col("cos"), 6)).orderBy("q_id", "rn")
    },
    Some(s"""SELECT q_id, vec_id, round(cos, 6) AS cos, rn FROM (
      SELECT q_id, vec_id, cos,
        row_number() OVER (PARTITION BY q_id ORDER BY round(cos, 9) DESC, vec_id) AS rn
      FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS vec_id, ${cosSql("c.embedding", "q.embedding")} AS cos
        FROM embeddings c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) q)
      WHERE round(cos, 9) >= 0.05 AND round(cos, 9) < 0.95)
      WHERE rn <= 5 ORDER BY q_id, rn"""))

  /** Corpus-scale hard-negative mining ([[graft.operators.Ann
   *  .hardNegativesIvf]]): same [0.05, 0.95) band semantics as
   *  `sample_hardneg`, but candidates come from IVF cell pruning
   *  (nprobe of nCells cells per anchor) instead of the brute
   *  broadcast-anchor scan — the shape that survives corpus-scale
   *  anchor sets. Oracle replays the Knuth-hash codebook sample,
   *  nearest-cell assignment, probing, band cut and ranking from
   *  scratch in SQL. */
  private val sample_hardneg_ivf = QueryDef(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Ann.hardNegativesIvf(emb,
          emb.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
          "vec_id", "embedding", "q_id", "q_vec", k = 5, loCos = 0.05, hiCos = 0.95,
          nCells = 16, nprobe = 6)
        .withColumn("cos", round(col("cos"), 6)).orderBy("q_id", "rn")
    },
    Some(s"""WITH cents AS (
        SELECT vec_id AS cid, embedding AS cvec FROM embeddings
        ORDER BY (vec_id * 2654435761) % 4294967296, vec_id LIMIT 16),
      asn AS (
        SELECT vec_id, embedding, cid FROM (
          SELECT e.vec_id, e.embedding, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY round(${cosSql("e.embedding", "c.cvec")}, 9) DESC, c.cid) AS crn
          FROM embeddings e CROSS JOIN cents c) WHERE crn = 1),
      prb AS (
        SELECT q_id, q_vec, cid FROM (
          SELECT e.vec_id AS q_id, e.embedding AS q_vec, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY round(${cosSql("e.embedding", "c.cvec")}, 9) DESC, c.cid) AS crn
          FROM (SELECT * FROM embeddings WHERE vec_id < 10) e CROSS JOIN cents c) WHERE crn <= 6),
      scored AS (
        SELECT p.q_id, a.vec_id, ${cosSql("a.embedding", "p.q_vec")} AS cos
        FROM asn a JOIN prb p USING (cid))
      SELECT q_id, vec_id, round(cos, 6) AS cos, rn FROM (
        SELECT q_id, vec_id, cos,
          row_number() OVER (PARTITION BY q_id ORDER BY round(cos, 9) DESC, vec_id) AS rn
        FROM scored
        WHERE round(cos, 9) >= 0.05 AND round(cos, 9) < 0.95)
      WHERE rn <= 5 ORDER BY q_id, rn"""))

  /** Sequential-fold dot product (matches DotProductExpr's double accumulation). */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, 65), i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (acc, v) -> acc + v)"

  /** ANN recall evaluation — the metric an index pipeline publishes
   *  before anyone trusts an approximate path: LSH top-k hits against
   *  the exact brute-force ground truth, per query. Both sides are
   *  the engine's own operators; the oracle composes both existing
   *  replays (hyperplane regeneration + banding + cosine ranking, and
   *  the exact cross-join ranking) and intersects, so a hash match
   *  proves recall itself is computed engine-exactly. Counts are
   *  integers; recall_pct = hits x 100 div n_exact — derived from
   *  the ground-truth count sitting next to it, so the published
   *  metric stays correct if k or the query set ever changes. */
  private val ann_recall = QueryDef(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val exact = Ann.bruteForceTopK(emb, qs, "vec_id", "embedding", "q_id", "q_vec", k = 10)
        .select(col("q_id"), col("vec_id"))
      val approx = Ann.lshTopK(emb, qs, "vec_id", "embedding", "q_id", "q_vec", k = 10, dim = 64)
        .select(col("q_id"), col("vec_id"))
      exact.join(approx, Seq("q_id", "vec_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
        .join(exact.groupBy(col("q_id")).agg(count(lit(1)).as("n_exact")), Seq("q_id"), "right")
        .select(col("q_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"), col("n_exact"),
          expr("(coalesce(n_hits, CAST(0 AS BIGINT)) * 100) div n_exact").as("recall_pct"))
        .orderBy("q_id")
    },
    Some(s"""WITH exact AS (
        SELECT q_id, vec_id FROM (
          SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY round(${cosSql("c.embedding", "q.embedding")}, 9) DESC, c.vec_id) AS rn
          FROM embeddings c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 20) q)
        WHERE rn <= 10),
      planes AS (
        SELECT j, ${Ann.hyperplanesSql(64, 42L)} AS plane FROM range(0, 12) t(j)),
      sigs AS (
        SELECT vec_id, sum(CASE WHEN ${dotSql("embedding", "plane")} >= 0
          THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS sig
        FROM embeddings, planes GROUP BY vec_id),
      bsig AS (
        SELECT vec_id, b AS band, (sig // (CAST(1 AS BIGINT) << (4 * b))) % 16 AS bandsig
        FROM sigs, range(0, 3) t(b)),
      cand AS (
        SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS vec_id
        FROM bsig c JOIN bsig q ON c.band = q.band AND c.bandsig = q.bandsig
        WHERE q.vec_id < 20),
      approx AS (
        SELECT q_id, vec_id FROM (
          SELECT cand.q_id, cand.vec_id,
            row_number() OVER (PARTITION BY cand.q_id
              ORDER BY round(${cosSql("ce.embedding", "qe.embedding")}, 9) DESC, cand.vec_id) AS rn
          FROM cand JOIN embeddings ce ON ce.vec_id = cand.vec_id
                    JOIN embeddings qe ON qe.vec_id = cand.q_id)
        WHERE rn <= 10),
      hits AS (
        SELECT e.q_id, count(*) AS n_hits FROM exact e
        JOIN approx a ON a.q_id = e.q_id AND a.vec_id = e.vec_id GROUP BY e.q_id)
      SELECT e.q_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
        CAST(count(*) AS BIGINT) AS n_exact,
        CAST(COALESCE(h.n_hits, 0) * 100 // count(*) AS BIGINT) AS recall_pct
      FROM exact e LEFT JOIN hits h ON h.q_id = e.q_id
      GROUP BY e.q_id, h.n_hits ORDER BY e.q_id"""))

  private val ann_lsh = QueryDef(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.lshTopK(emb, emb.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        "vec_id", "embedding", "q_id", "q_vec", k = 5, dim = 64)
        .withColumn("cos", round(col("cos"), 6)).orderBy("q_id", "rn")
    },
    // full independent replay: DuckDB regenerates the hyperplanes
    // (integer-hash dyadic values — bit-identical), recomputes every
    // signature bit, bands, the candidate join, and the cosine ranking
    Some(s"""WITH planes AS (
        SELECT j, ${Ann.hyperplanesSql(64, 42L)} AS plane FROM range(0, 12) t(j)),
      sigs AS (
        SELECT vec_id, sum(CASE WHEN ${dotSql("embedding", "plane")} >= 0
          THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS sig
        FROM embeddings, planes GROUP BY vec_id),
      bsig AS (
        SELECT vec_id, b AS band, (sig // (CAST(1 AS BIGINT) << (4 * b))) % 16 AS bandsig
        FROM sigs, range(0, 3) t(b)),
      cand AS (
        SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS vec_id
        FROM bsig c JOIN bsig q ON c.band = q.band AND c.bandsig = q.bandsig
        WHERE q.vec_id < 10),
      scored AS (
        SELECT cand.q_id, cand.vec_id, ${cosSql("ce.embedding", "qe.embedding")} AS cos
        FROM cand JOIN embeddings ce ON ce.vec_id = cand.vec_id
                  JOIN embeddings qe ON qe.vec_id = cand.q_id)
      SELECT q_id, vec_id, round(cos, 6) AS cos, rn FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY round(cos, 9) DESC, vec_id) AS rn
        FROM scored)
      WHERE rn <= 5 ORDER BY q_id, rn"""))

  private val ann_ivf = QueryDef(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.ivfTopK(emb, emb.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        "vec_id", "embedding", "q_id", "q_vec", k = 5)
        .withColumn("cos", round(col("cos"), 6)).orderBy("q_id", "rn")
    },
    // full independent replay: same Knuth-hash codebook sample, then
    // nearest-cell assignment, nprobe probing, and candidate ranking
    // recomputed from scratch in SQL
    Some(s"""WITH cents AS (
        SELECT vec_id AS cid, embedding AS cvec FROM embeddings
        ORDER BY (vec_id * 2654435761) % 4294967296, vec_id LIMIT 16),
      asn AS (
        SELECT vec_id, embedding, cid FROM (
          SELECT e.vec_id, e.embedding, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY round(${cosSql("e.embedding", "c.cvec")}, 9) DESC, c.cid) AS crn
          FROM embeddings e CROSS JOIN cents c) WHERE crn = 1),
      prb AS (
        SELECT q_id, q_vec, cid FROM (
          SELECT e.vec_id AS q_id, e.embedding AS q_vec, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY round(${cosSql("e.embedding", "c.cvec")}, 9) DESC, c.cid) AS crn
          FROM (SELECT * FROM embeddings WHERE vec_id < 10) e CROSS JOIN cents c) WHERE crn <= 4),
      scored AS (
        SELECT p.q_id, a.vec_id, ${cosSql("a.embedding", "p.q_vec")} AS cos
        FROM asn a JOIN prb p USING (cid))
      SELECT q_id, vec_id, round(cos, 6) AS cos, rn FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY round(cos, 9) DESC, vec_id) AS rn
        FROM scored)
      WHERE rn <= 5 ORDER BY q_id, rn"""))

  /** SQL replay of the int8 quantization: f32→f64 widening is exact
   *  and both engines evaluate the same IEEE double sequence, so the
   *  quantized ints (and everything downstream) hash-match. */
  private def quantSql(v: String): String = {
    val sc = s"(list_max(list_transform($v, x -> abs(x::DOUBLE))) / 127.0)"
    s"CASE WHEN $sc = 0 THEN list_transform($v, x -> CAST(0 AS BIGINT)) " +
      s"ELSE list_transform($v, x -> CAST(floor(abs(x::DOUBLE) / $sc + 0.5) * " +
      s"(CASE WHEN x < 0 THEN -1 ELSE 1 END) AS BIGINT)) END"
  }

  /** Two-stage quantized ANN: integer-cosine candidates (scales
   *  cancel — no dequantization), exact rerank of the bounded
   *  candidate list. Oracle replays the whole pipeline: quantization,
   *  integer scoring, candidate cut, rerank. */
  private val ann_quantized = QueryDef(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Quantize.quantizedTopK(emb,
          emb.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
          "vec_id", "embedding", "q_id", "q_vec", k = 5, refineFactor = 4)
        .withColumn("cos", round(col("cos"), 6)).orderBy("q_id", "rn")
    },
    Some(s"""WITH qz AS (SELECT vec_id, embedding, ${quantSql("embedding")} AS qv FROM embeddings),
      pairs AS (
        SELECT qq.vec_id AS q_id, c.vec_id AS vec_id, c.embedding AS cemb, qq.embedding AS qemb,
          list_reduce(list_transform(range(1, 65), i -> c.qv[i] * qq.qv[i]), (a, b) -> a + b) AS d,
          list_reduce(list_transform(range(1, 65), i -> c.qv[i] * c.qv[i]), (a, b) -> a + b) AS na,
          list_reduce(list_transform(range(1, 65), i -> qq.qv[i] * qq.qv[i]), (a, b) -> a + b) AS nb
        FROM qz c CROSS JOIN (SELECT * FROM qz WHERE vec_id < 10) qq),
      scored AS (
        SELECT q_id, vec_id, cemb, qemb,
          CASE WHEN na = 0 OR nb = 0 THEN 0.0
               ELSE d / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE)) END AS qcos
        FROM pairs),
      cand AS (
        SELECT q_id, vec_id, cemb, qemb,
          row_number() OVER (PARTITION BY q_id ORDER BY round(qcos, 9) DESC, vec_id) AS qrn
        FROM scored),
      reranked AS (
        SELECT q_id, vec_id, ${cosSql("cemb", "qemb")} AS cos FROM cand WHERE qrn <= 20)
      SELECT q_id, vec_id, round(cos, 6) AS cos, rn FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY round(cos, 9) DESC, vec_id) AS rn
        FROM reranked)
      WHERE rn <= 5 ORDER BY q_id, rn"""))

  /** Product-quantization ANN (Jegou et al. 2011): sampled per-subspace
   *  codebooks, map-only encode to m codes per vector, ADC candidate
   *  scan over codes only, exact squared-L2 rerank of the bounded
   *  candidate list. The oracle replays EVERYTHING — the Knuth-hash
   *  codebook sample, the per-subspace argmin encode, the s-ordered
   *  ADC fold, the candidate cut, and the rerank. */
  private val ann_pq = QueryDef(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Quantize.pqTopK(emb,
          emb.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
          "vec_id", "embedding", "q_id", "q_vec", k = 5, m = 4, ksub = 16, refineFactor = 4)
        .withColumn("l2", round(col("l2"), 6)).orderBy("q_id", "rn")
    },
    Some {
      // squared L2 over subspace s (16 dims each) / the full 64 dims:
      // cast to DOUBLE before subtracting, left-to-right fold — the
      // exact arithmetic of the Spark kernel
      def l2sub(a: String, b: String, s: String) =
        s"""list_reduce(list_transform(range(1, 17),
          i -> (($a)[$s*16+i]::DOUBLE - ($b)[$s*16+i]::DOUBLE) * (($a)[$s*16+i]::DOUBLE - ($b)[$s*16+i]::DOUBLE)),
          (x, y) -> x + y)"""
      def l2full(a: String, b: String) =
        s"""list_reduce(list_transform(range(1, 65),
          i -> (($a)[i]::DOUBLE - ($b)[i]::DOUBLE) * (($a)[i]::DOUBLE - ($b)[i]::DOUBLE)),
          (x, y) -> x + y)"""
      s"""WITH cb AS (
        SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS j, embedding AS cw FROM (
          SELECT vec_id, embedding, ${graft.operators.Sampling.knuthHashSql("vec_id")} AS h
          FROM embeddings ORDER BY h, vec_id LIMIT 16)),
      encd AS (
        SELECT e.vec_id, t.s, c.j, round(${l2sub("e.embedding", "c.cw", "t.s")}, 9) AS d
        FROM embeddings e CROSS JOIN range(0, 4) t(s) CROSS JOIN cb c),
      enc AS (
        SELECT vec_id, s, j AS code FROM (
          SELECT vec_id, s, j, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn FROM encd)
        WHERE rn = 1),
      persub AS (
        SELECT q.vec_id AS q_id, en.vec_id AS vec_id, en.s,
          ${l2sub("q.embedding", "c.cw", "en.s")} AS ds
        FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
        CROSS JOIN enc en JOIN cb c ON c.j = en.code),
      adc AS (
        SELECT q_id, vec_id, list_reduce(list(ds ORDER BY s), (x, y) -> x + y) AS adc
        FROM persub GROUP BY q_id, vec_id),
      cand AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY round(adc, 9), vec_id) AS qrn FROM adc)
        WHERE qrn <= 20),
      rer AS (
        SELECT c.q_id, c.vec_id, ${l2full("ce.embedding", "qe.embedding")} AS l2
        FROM cand c JOIN embeddings ce ON ce.vec_id = c.vec_id
                    JOIN embeddings qe ON qe.vec_id = c.q_id)
      SELECT q_id, vec_id, round(l2, 6) AS l2, rn FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY round(l2, 9), vec_id) AS rn FROM rer)
      WHERE rn <= 5 ORDER BY q_id, rn"""
    })

  /** Composed IVF+PQ ANN ([[graft.operators.Quantize.ivfPqTopK]], the
   *  Jegou et al. 2011 IVFADC recipe): IVF cell pruning bounds which
   *  rows each query scores, PQ codes bound what the scan reads, exact
   *  squared-L2 rerank of the bounded survivors. The oracle replays
   *  EVERYTHING — the IVF centroid sample + nearest-cell assignment +
   *  nprobe probing (the ann_ivf CTEs), the PQ codebook sample +
   *  per-subspace argmin encode + s-ordered ADC fold (the ann_pq
   *  CTEs) joined on the cell id, the candidate cut, and the rerank. */
  private val ann_ivfpq = QueryDef(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Quantize.ivfPqTopK(emb,
          emb.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
          "vec_id", "embedding", "q_id", "q_vec",
          k = 5, nCells = 16, nprobe = 4, m = 4, ksub = 16, refineFactor = 4)
        .withColumn("l2", round(col("l2"), 6)).orderBy("q_id", "rn")
    },
    Some {
      def l2sub(a: String, b: String, s: String) =
        s"""list_reduce(list_transform(range(1, 17),
          i -> (($a)[$s*16+i]::DOUBLE - ($b)[$s*16+i]::DOUBLE) * (($a)[$s*16+i]::DOUBLE - ($b)[$s*16+i]::DOUBLE)),
          (x, y) -> x + y)"""
      def l2full(a: String, b: String) =
        s"""list_reduce(list_transform(range(1, 65),
          i -> (($a)[i]::DOUBLE - ($b)[i]::DOUBLE) * (($a)[i]::DOUBLE - ($b)[i]::DOUBLE)),
          (x, y) -> x + y)"""
      s"""WITH cents AS (
        SELECT vec_id AS cid, embedding AS cvec FROM embeddings
        ORDER BY (vec_id * 2654435761) % 4294967296, vec_id LIMIT 16),
      asn AS (
        SELECT vec_id, cid FROM (
          SELECT e.vec_id, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY round(${cosSql("e.embedding", "c.cvec")}, 9) DESC, c.cid) AS crn
          FROM embeddings e CROSS JOIN cents c) WHERE crn = 1),
      prb AS (
        SELECT q_id, q_vec, cid FROM (
          SELECT e.vec_id AS q_id, e.embedding AS q_vec, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY round(${cosSql("e.embedding", "c.cvec")}, 9) DESC, c.cid) AS crn
          FROM (SELECT * FROM embeddings WHERE vec_id < 10) e CROSS JOIN cents c) WHERE crn <= 4),
      cb AS (
        SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS j, embedding AS cw FROM (
          SELECT vec_id, embedding, ${graft.operators.Sampling.knuthHashSql("vec_id")} AS h
          FROM embeddings ORDER BY h, vec_id LIMIT 16)),
      encd AS (
        SELECT e.vec_id, t.s, c.j, round(${l2sub("e.embedding", "c.cw", "t.s")}, 9) AS d
        FROM embeddings e CROSS JOIN range(0, 4) t(s) CROSS JOIN cb c),
      enc AS (
        SELECT vec_id, s, j AS code FROM (
          SELECT vec_id, s, j, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn FROM encd)
        WHERE rn = 1),
      cellenc AS (SELECT en.vec_id, a.cid, en.s, en.code FROM enc en JOIN asn a USING (vec_id)),
      persub AS (
        SELECT p.q_id, ce.vec_id, ce.s, ${l2sub("p.q_vec", "c.cw", "ce.s")} AS ds
        FROM prb p JOIN cellenc ce USING (cid) JOIN cb c ON c.j = ce.code),
      adc AS (
        SELECT q_id, vec_id, list_reduce(list(ds ORDER BY s), (x, y) -> x + y) AS adc
        FROM persub GROUP BY q_id, vec_id),
      cand AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY round(adc, 9), vec_id) AS qrn FROM adc)
        WHERE qrn <= 20),
      rer AS (
        SELECT c.q_id, c.vec_id, ${l2full("ce.embedding", "qe.embedding")} AS l2
        FROM cand c JOIN embeddings ce ON ce.vec_id = c.vec_id
                    JOIN embeddings qe ON qe.vec_id = c.q_id)
      SELECT q_id, vec_id, round(l2, 6) AS l2, rn FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY round(l2, 9), vec_id) AS rn FROM rer)
      WHERE rn <= 5 ORDER BY q_id, rn"""
    })

  /** MMR diversity selection over a bounded candidate pool: 8 greedy
   *  picks at lambda = 0.5 (exact-binary constant on both engines).
   *  The oracle UNROLLS the recurrence — one CTE block per pick, the
   *  same discipline as text_bpe's unrolled merges. */
  private val ann_mmr = QueryDef(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qvec = emb.filter(col("vec_id") === 0).select("embedding").collect()(0).getSeq[Float](0)
      val cands = emb.filter(col("vec_id") < 200)
        .withColumn("rel", Dedup.cosine(col("embedding"), typedLit(qvec)))
      Ann.mmrSelect(cands, "vec_id", "embedding", "rel", k = 8, lambda = 0.5)
        .withColumn("rel", round(col("rel"), 6)).orderBy("rank")
    },
    Some {
      val steps = 8
      val sb = new StringBuilder
      sb ++= s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        cand0 AS (SELECT vec_id AS id, embedding AS v,
          ${cosSql("embedding", "q.qv")} AS rel, 0.0 AS ms
          FROM embeddings, q WHERE vec_id < 200)"""
      for (i <- 1 to steps) {
        sb ++= s""", sel$i AS (SELECT id, v, rel FROM cand${i - 1}
          ORDER BY round(0.5 * rel - 0.5 * ms, 9) DESC, id LIMIT 1)"""
        if (i < steps)
          sb ++= s""", cand$i AS (SELECT c.id, c.v, c.rel,
            greatest(c.ms, ${cosSql("c.v", "s.v")}) AS ms
            FROM cand${i - 1} c, sel$i s WHERE c.id <> s.id)"""
      }
      sb ++= " SELECT * FROM ("
      sb ++= (1 to steps).map(i =>
        s"SELECT id AS vec_id, round(rel, 6) AS rel, CAST($i AS BIGINT) AS rank FROM sel$i")
        .mkString(" UNION ALL ")
      sb ++= ") ORDER BY rank"
      sb.toString
    })

  /** SQL for the langid CASE ladder over `documents`, emitting
   *  (doc_id, lang, pred_lang) — shared by `text_langid` and the
   *  composed `pipeline_c4` oracle. */
  private def langIdSql: String = {
    val toks = s"string_split(${Dedup.normalizeTextSql("text")}, ' ')"
    def sw(lang: String) = graft.operators.TextAnalysis.stopwords(lang).map(w => s"'$w'").mkString("[", ",", "]")
    s"""SELECT doc_id, lang,
      CASE WHEN cjk > 0 THEN 'zh'
           WHEN greatest(sde, sen, ses, sfr) = 0 THEN 'und'
           WHEN sfr = greatest(sde, sen, ses, sfr) THEN 'fr'
           WHEN ses = greatest(sde, sen, ses, sfr) THEN 'es'
           WHEN sen = greatest(sde, sen, ses, sfr) THEN 'en'
           ELSE 'de' END AS pred_lang
      FROM (SELECT doc_id, lang,
        length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS cjk,
        len(list_intersect($toks, ${sw("de")})) AS sde,
        len(list_intersect($toks, ${sw("en")})) AS sen,
        len(list_intersect($toks, ${sw("es")})) AS ses,
        len(list_intersect($toks, ${sw("fr")})) AS sfr
        FROM documents)"""
  }

  private val text_langid = QueryDef(
    (s, dir) => TextAnalysis.withLangId(t(s, dir, "documents"), "text")
      .select("doc_id", "lang", "pred_lang").orderBy("doc_id"),
    Some(langIdSql + " ORDER BY doc_id"))

  /** Per-cluster embedding centroids (element-wise mean) — the building block of k-means / IVF training. */
  private val vec_centroids = QueryDef(
    (s, dir) => t(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), (col("pos") + 1).cast("long").as("i"))
      .agg(round(avg(col("col").cast("double")), 6).as("v"))
      .orderBy("label", "i"),
    Some("""SELECT label, i, round(avg(embedding[i]::DOUBLE), 6) AS v
      FROM embeddings, range(1, 65) t(i) GROUP BY label, i ORDER BY label, i"""))

  /** Distributed Lloyd k-means codebook training (2 iterations over a
   *  Knuth-hash-sampled init). Map-only assignment per pass; the only
   *  shuffle per iteration carries nCells x dim partial sums. The
   *  oracle replays init + BOTH iterations from scratch in SQL —
   *  possible because the centroid means are fixed-point e6 (exact,
   *  aggregation-order-independent). */
  private val vec_kmeans = QueryDef(
    (s, dir) => Ann.kmeansCodebook(t(s, dir, "embeddings"), "vec_id", "embedding",
        nCells = 8, iters = 2)
      .orderBy("cid", "i"),
    Some {
      // one Lloyd step in SQL: nearest-centroid assignment (same
      // round-9 cosine + cid tie-break as the Spark kernel), then
      // fixed-point element-wise means rebuilt into float vectors,
      // empty cells carrying the previous centroid
      def asnSql(cents: String) =
        s"""SELECT vec_id, embedding, cid FROM (
          SELECT e.vec_id, e.embedding, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY round(${cosSql("e.embedding", "c.cvec")}, 9) DESC, c.cid) AS crn
          FROM embeddings e CROSS JOIN $cents c) WHERE crn = 1"""
      def statsSql(asn: String) =
        s"""SELECT cid, i,
          floor(sum(floor(embedding[i]::DOUBLE * 1000000)) / count(*)) AS m, count(*) AS n
          FROM $asn, range(1, 65) t(i) GROUP BY cid, i"""
      s"""WITH cents0 AS (
        SELECT vec_id AS cid, embedding AS cvec FROM embeddings
        ORDER BY (vec_id * 2654435761) % 4294967296, vec_id LIMIT 8),
      asn1 AS (${asnSql("cents0")}),
      stats1 AS (${statsSql("asn1")}),
      cvec1 AS (
        SELECT cid, list(CAST(m / 1000000.0 AS FLOAT) ORDER BY i) AS cvec
        FROM stats1 GROUP BY cid),
      cents1 AS (
        SELECT c0.cid, COALESCE(c1.cvec, c0.cvec) AS cvec
        FROM cents0 c0 LEFT JOIN cvec1 c1 USING (cid)),
      asn2 AS (${asnSql("cents1")}),
      stats2 AS (${statsSql("asn2")})
      SELECT cid, i, CAST(m AS BIGINT) AS v_e6, n FROM stats2 ORDER BY cid, i"""
    })

  private val text_quality = QueryDef(
    (s, dir) => TextAnalysis.withQuality(t(s, dir, "documents"), "text")
      .select("doc_id", "n_tokens", "avg_token_len_e4", "punct_ratio_e4", "stopword_ratio_e4", "quality_score_e4")
      .orderBy("doc_id"),
    Some(s"""SELECT doc_id, ${TextAnalysis.qualitySql("text")} FROM documents ORDER BY doc_id"""))

  private val text_tokens = QueryDef(
    (s, dir) => TextAnalysis.withTokenCounts(t(s, dir, "documents"), "text")
      .select("doc_id", "ws_tokens", "bpe_pieces").orderBy("doc_id"),
    Some("""SELECT doc_id,
      CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
      CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_pieces
      FROM documents ORDER BY doc_id"""))

  /** MOSS-style winnow match ranking — document pairs by shared
   *  fingerprints, boilerplate fps dropped by the doc-freq cap. */
  private val dedup_winnow = QueryDef(
    (s, dir) => TextAnalysis.winnowMatches(t(s, dir, "documents"), "doc_id", "text",
        k = 5, w = 4, minShared = 2, maxDocFreq = 50)
      .orderBy("id_a", "id_b"),
    Some {
      val fps = TextAnalysis.winnowSql("documents", "doc_id", "text", k = 5, w = 4)
      s"""WITH fps0 AS (SELECT DISTINCT doc_id AS id, fp FROM ($fps) w),
      rare AS (SELECT fp FROM fps0 GROUP BY fp HAVING count(*) <= 50),
      pruned AS (SELECT id, fp FROM fps0 JOIN rare USING (fp))
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared_fps
      FROM pruned a JOIN pruned b ON a.fp = b.fp AND a.id < b.id
      GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY 1, 2"""
    })

  /** Content-defined chunking — boundaries from local content, so
   *  edits resynchronize and downstream chunk fingerprints survive. */
  private val text_cdc = QueryDef(
    (s, dir) => TextAnalysis.cdcChunks(t(s, dir, "documents"), "doc_id", "text",
        g = 4, targetTok = 32)
      .orderBy("doc_id", "chunk_seq"),
    Some(TextAnalysis.cdcChunksSql("documents", "doc_id", "text", g = 4, targetTok = 32)
      + " ORDER BY doc_id, chunk_seq"))

  /** Winnowing fingerprint selection (MOSS) — position-robust
   *  near-dup evidence at ~2/(w+1) storage density. */
  private val text_winnow = QueryDef(
    (s, dir) => TextAnalysis.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text",
        k = 5, w = 4)
      .orderBy("doc_id", "pos"),
    Some(TextAnalysis.winnowSql("documents", "doc_id", "text", k = 5, w = 4)
      + " ORDER BY doc_id, pos"))

  private val text_fingerprint = QueryDef(
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp")).orderBy("doc_id"),
    Some(s"""SELECT doc_id, ${TextAnalysis.fingerprintSql("text")} AS fp
      FROM documents ORDER BY doc_id"""))

  /** Unicode NFC normalization via the native codegen expression
   *  ([[graft.functions.NfcNormalizeExpr]], ASCII bypass). The corpus
   *  is ASCII, so combining-accent sequences ("e" + U+0301) are
   *  injected in-query on BOTH engines first — NFC must compose them
   *  back to precomposed codepoints ("é"), shrinking the char count
   *  to the original. The oracle is DuckDB's nfc_normalize. */
  private val text_normalize = QueryDef(
    (s, dir) => {
      val dec = regexp_replace(col("text"), "e", "e\u0301")
      val nfc = graft.functions.native.nfcNormalize(dec)
      t(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).cast("long").as("len_orig"),
          length(dec).cast("long").as("len_decomposed"),
          length(nfc).cast("long").as("len_nfc"),
          substring(nfc, 1, 60).as("prefix"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, CAST(length(text) AS BIGINT) AS len_orig,
        CAST(length(dec) AS BIGINT) AS len_decomposed,
        CAST(length(nfc_normalize(dec)) AS BIGINT) AS len_nfc,
        substr(nfc_normalize(dec), 1, 60) AS prefix
      FROM (SELECT doc_id, text, replace(text, 'e', 'e' || chr(769)) AS dec FROM documents)
      ORDER BY doc_id"""))

  /** Entity-resolution fuzzy scoring: Jaro-Winkler match of "dirty"
   *  name variants (deterministic truncate/append mutations of the
   *  corpus vocabulary, built identically on both engines) against
   *  the canonical vocabulary, blocked by first letter. The kernel
   *  ([[graft.functions.JaroWinklerExpr]]) reproduces DuckDB's
   *  jaro_winkler_similarity variant exactly (empty->0, strict >0.7
   *  prefix boost) — validated on a 5500-case sweep. */
  private val text_jaro = QueryDef(
    (s, dir) => {
      val voc = t(s, dir, "documents")
        .select(explode(filter(TextAnalysis.tokens(col("text")), w => length(w) > 0)).as("w"))
        .distinct()
      val dirty = voc.select(expr("substring(w, 1, length(w) - 1)").as("d"))
        .filter(length(col("d")) > 0)
        .union(voc.select(concat(col("w"), lit("x")).as("d")))
        .distinct()
      voc.join(dirty, substring(col("w"), 1, 1) === substring(col("d"), 1, 1))
        .withColumn("jw", round(graft.functions.native.jaroWinkler(col("w"), col("d")), 6))
        .filter(col("jw") >= 0.7)
        .orderBy("w", "d")
    },
    Some {
      val norm = Dedup.normalizeTextSql("text")
      s"""WITH voc AS (SELECT DISTINCT tt.w
          FROM documents, unnest(string_split($norm, ' ')) AS tt(w) WHERE tt.w <> ''),
        dirty AS (
          SELECT DISTINCT d FROM (
            SELECT substr(w, 1, length(w) - 1) AS d FROM voc WHERE length(w) > 1
            UNION SELECT w || 'x' FROM voc))
        SELECT w, d, round(jaro_winkler_similarity(w, d), 6) AS jw
        FROM voc JOIN dirty ON substr(w, 1, 1) = substr(d, 1, 1)
        WHERE round(jaro_winkler_similarity(w, d), 6) >= 0.7
        ORDER BY w, d"""
    })

  /** Feature hashing (the hashing trick): tokens bucketed by the
   *  portable rolling hash into a fixed 64-dim count vector per doc —
   *  ML featurization with no vocabulary state at all (the point at
   *  100 TB: no dictionary build, no OOV). Map + one combinable
   *  shuffle; the oracle replays the exact mod-prime hash. */
  private val text_hashfeat = QueryDef(
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        explode(filter(TextAnalysis.tokens(col("text")), w => length(w) > 0)).as("w"))
      .withColumn("b", pmod(TextAnalysis.fingerprint(col("w")), lit(64)))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("cnt"))
      .orderBy("doc_id", "b"),
    Some {
      val norm = Dedup.normalizeTextSql("text")
      s"""WITH toks AS (SELECT doc_id, tt.w
          FROM documents, unnest(string_split($norm, ' ')) AS tt(w) WHERE tt.w <> ''),
        hb AS (SELECT doc_id, ((${TextAnalysis.fingerprintSql("w")} % 64) + 64) % 64 AS b FROM toks)
        SELECT doc_id, CAST(b AS BIGINT) AS b, count(*) AS cnt
        FROM hb GROUP BY 1, 2 ORDER BY 1, 2"""
    })

  /** Per-language TF-IDF top terms — each language slice is its own corpus. */
  private val text_tfidf = QueryDef(
    (s, dir) => TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), "lang", "doc_id", "text", k = 10)
      .orderBy("grp", "rank"),
    Some {
      val norm = Dedup.normalizeTextSql("text")
      s"""WITH toks AS (
        SELECT lang AS grp, doc_id, tt.term
        FROM documents, unnest(string_split($norm, ' ')) AS tt(term)
        WHERE length(tt.term) > 0),
      stats AS (SELECT grp, term, count(*) AS tf, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1, 2),
      nd AS (SELECT lang AS grp, count(DISTINCT doc_id) AS n_docs FROM documents GROUP BY 1),
      scored AS (SELECT s.grp, s.term, s.tf, s.df,
          s.tf * (ln((n.n_docs::DOUBLE + 1) / (s.df::DOUBLE + 1)) + 1) AS tfidf
        FROM stats s JOIN nd n USING (grp))
      SELECT grp, term, tf, df, round(tfidf, 6) AS tfidf, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY grp ORDER BY round(tfidf, 6) DESC, term) AS rank
        FROM scored)
      WHERE rank <= 10 ORDER BY grp, rank"""
    })

  /** Set operations (EXCEPT / INTERSECT with set semantics): customer
   *  cohort movement across order years. */
  private val q_setops = QueryDef(
    (s, dir) => {
      val o = t(s, dir, "orders")
      def yr(y: Int) = o.filter(year(col("o_orderdate")) === y).select("o_custkey")
      val (y95, y96) = (yr(1995), yr(1996))
      y95.except(y96).withColumn("op", lit("only_1995"))
        .unionByName(y96.except(y95).withColumn("op", lit("only_1996")))
        .unionByName(y95.intersect(y96).withColumn("op", lit("both")))
        .orderBy("op", "o_custkey")
    },
    Some("""WITH y95 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
      y96 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
      SELECT o_custkey, 'only_1995' AS op FROM (SELECT * FROM y95 EXCEPT SELECT * FROM y96)
      UNION ALL SELECT o_custkey, 'only_1996' AS op FROM (SELECT * FROM y96 EXCEPT SELECT * FROM y95)
      UNION ALL SELECT o_custkey, 'both' AS op FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96)
      ORDER BY op, o_custkey"""))

  /** BM25 top-k ranked retrieval (the consumer of the inverted-index
   *  stats): one per-doc aggregate pass, broadcast corpus stats,
   *  map-only scoring, TakeOrdered top-k. Query mixes the corpus's
   *  one rare term (df 25/500) with two common ones, so the idf
   *  weighting is actually exercised. */
  private val text_bm25 = QueryDef(
    (s, dir) => TextAnalysis.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
      Seq("dup", "spark", "vector"), k = 20),
    Some(TextAnalysis.bm25Sql("documents", "doc_id", "text",
      Seq("dup", "spark", "vector"), k = 20)))

  /**
   * Hybrid retrieval with rank fusion (the BM25 + dense-embedding
   * two-tower retrieval shape; fused in the spirit of Cormack et
   * al. 2009's reciprocal-rank fusion but with the repo's exact
   * INTEGER rank-sum convention — text_ensemble's fusion rule
   * applied to retrieval): the sparse side is the existing BM25
   * top-30 (one corpus pass, broadcast stats, TakeOrdered); the
   * dense side the exact cosine top-30 of one query vector over the
   * embedding table (brute force at this size — the corpus-scale
   * path swaps in the IVF/LSH index, same (id, rank) contract);
   * ranks full-outer-union with a k+1 absent penalty, fused = rank
   * sum, top 10. The rank windows sort k-row bounded frames, never
   * the corpus.
   */
  private val text_hybrid = QueryDef(
    (s, dir) => {
      val k = 30
      val sparse = TextAnalysis.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
          Seq("dup", "spark", "vector"), k = k)
        .select(col("doc_id"), row_number().over(
          Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long").as("r_sparse"))
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val dense = graft.operators.Ann.bruteForceTopK(
          emb.filter(col("vec_id") =!= 0), qv, "vec_id", "embedding", "q_id", "q_vec", k)
        .select(col("vec_id").as("doc_id"), col("rn").as("r_dense"))
      sparse.join(dense, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("r_sparse"), lit(k + 1L)).as("r_sparse"),
          coalesce(col("r_dense"), lit(k + 1L)).as("r_dense"))
        .withColumn("fused", col("r_sparse") + col("r_dense"))
        .orderBy(col("fused").asc, col("doc_id").asc)
        .limit(10)
    },
    Some {
      val k = 30
      s"""WITH sp AS (
        SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_sparse
        FROM (${TextAnalysis.bm25Sql("documents", "doc_id", "text",
          Seq("dup", "spark", "vector"), k = k)})),
      de AS (
        SELECT doc_id, rn AS r_dense FROM (
          SELECT c.vec_id AS doc_id,
            row_number() OVER (ORDER BY round(${cosSql("c.embedding", "q.embedding")}, 9)
              DESC, c.vec_id) AS rn
          FROM embeddings c, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
          WHERE c.vec_id != 0)
        WHERE rn <= $k)
      SELECT coalesce(sp.doc_id, de.doc_id) AS doc_id,
        CAST(coalesce(sp.r_sparse, ${k + 1}) AS BIGINT) AS r_sparse,
        CAST(coalesce(de.r_dense, ${k + 1}) AS BIGINT) AS r_dense,
        CAST(coalesce(sp.r_sparse, ${k + 1}) + coalesce(de.r_dense, ${k + 1}) AS BIGINT) AS fused
      FROM sp FULL OUTER JOIN de ON sp.doc_id = de.doc_id
      ORDER BY fused, doc_id LIMIT 10"""
    })

  /** Inverted index over the document corpus: df + sorted posting
   *  lists, hapax tail pruned, stop-grade terms (df > maxDf) kept as
   *  df-only rows with NULL postings. */
  private val text_inverted = QueryDef(
    (s, dir) => TextAnalysis.invertedIndex(t(s, dir, "documents"), "doc_id", "text",
        minDf = 3, maxDf = 390)
      .orderBy("term"),
    Some(TextAnalysis.invertedIndexSql("documents", "doc_id", "text",
      minDf = 3, maxDf = 390) + " ORDER BY term"))

  /** Substring search through a character-trigram index (the pg_trgm
   *  / code-search shape — "grep at 100 TB"): docs containing ALL the
   *  query literal's trigrams (containment is necessary, so the
   *  candidate set provably covers every true match), exact instr
   *  verify restores precision. At corpus scale the posting table is
   *  written once, bucketed by gram; a probe touches |Q| gram buckets
   *  + candidates, never the corpus. */
  private val text_trigram = QueryDef(
    (s, dir) => TextAnalysis.trigramSearch(t(s, dir, "documents"), "doc_id", "text",
        "fast merge batch")
      .orderBy("doc_id"),
    Some(TextAnalysis.trigramSearchSql("documents", "doc_id", "text",
      "fast merge batch") + " ORDER BY doc_id"))

  /** Character-level (Levenshtein) near-dup pairs, language-blocked,
   *  over an ASCII-projected prefix (cross-engine-pinned semantics). */
  private val text_editdist = QueryDef(
    (s, dir) => TextAnalysis.editDistancePairs(t(s, dir, "documents"), "doc_id", "text",
        blockCols = Seq("lang"), maxDist = 40)
      .orderBy("id_a", "id_b"),
    Some(TextAnalysis.editDistancePairsSql("documents", "doc_id", "text",
      blockCols = Seq("lang"), maxDist = 40) + " ORDER BY id_a, id_b"))

  /** Bloom-filter pruned semi-join: a blocklist (suppliers of one
   *  nation) becomes a 4 KB bit array built in one bounded
   *  aggregation; the fact-side pass is MAP-ONLY (no join, no
   *  shuffle) — the 100 TB blocklist-filtering shape. The oracle
   *  replays build + probe bit-for-bit, so the (deterministic) false
   *  positives match too; `is_member` makes them visible in-result. */
  private val q_bloom = QueryDef(
    (s, dir) => {
      val block = t(s, dir, "supplier").filter(col("s_nationkey") === 3).select("s_suppkey")
      val words = graft.operators.Sketch.bloomBuild(block, "s_suppkey", logM = 12, k = 4)
      t(s, dir, "lineitem")
        .filter(graft.operators.Sketch.bloomProbe(col("l_suppkey"), words, logM = 12, k = 4))
        .groupBy("l_suppkey").agg(count(lit(1)).as("n_rows"))
        .join(broadcast(block.withColumn("is_member", lit(true))),
          col("l_suppkey") === col("s_suppkey"), "left")
        .select(col("l_suppkey"), col("n_rows"),
          coalesce(col("is_member"), lit(false)).as("is_member"))
        .orderBy("l_suppkey")
    },
    Some {
      val (h1, h2) = graft.operators.Sketch.bloomHashSql("id")
      s"""WITH bl AS (SELECT s_suppkey AS id FROM supplier WHERE s_nationkey = 3),
      bl_h AS (SELECT $h1 AS h1, $h2 AS h2 FROM bl),
      bits AS (SELECT (h1 + j * h2) % 4096 AS bit FROM bl_h, range(0, 4) t(j)),
      words AS (SELECT bit // 64 AS w,
        -- bit 63 spelled as MIN_BIGINT: DuckDB raises on 1 << 63 where
        -- Spark's shiftleft wraps to the sign bit
        bit_or(CASE WHEN bit % 64 = 63 THEN CAST(-9223372036854775808 AS BIGINT)
               ELSE CAST(1 AS BIGINT) << CAST(bit % 64 AS INT) END) AS bits
        FROM bits GROUP BY 1),
      keys AS (SELECT l_suppkey AS id, count(*) AS n_rows FROM lineitem GROUP BY 1),
      k_h AS (SELECT id, n_rows, $h1 AS h1, $h2 AS h2 FROM keys),
      tests AS (
        SELECT k.id, k.n_rows,
          bool_and(((COALESCE(w.bits, 0) >> CAST(((h1 + j * h2) % 4096) % 64 AS INT)) & 1) = 1) AS might
        FROM k_h k CROSS JOIN range(0, 4) t(j)
        LEFT JOIN words w ON w.w = ((h1 + j * h2) % 4096) // 64
        GROUP BY k.id, k.n_rows)
      SELECT t.id AS l_suppkey, t.n_rows, (bl.id IS NOT NULL) AS is_member
      FROM tests t LEFT JOIN bl ON bl.id = t.id
      WHERE t.might ORDER BY l_suppkey"""
    })

  /** Incremental exact dedup: a simulated re-crawl (every third doc,
   *  new ids, same text) plus genuinely fresh docs deduped against
   *  the full corpus as history. Bloom prefilter at its real use
   *  site: map-only for bloom-negative rows, anti-join only for the
   *  positive sliver. The oracle is the plain fingerprint anti-join —
   *  identical results by the no-false-negative contract. */
  private val dedup_incremental = QueryDef(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val recrawl = docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val fresh = docs.filter(col("doc_id") % 3 === 1)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" fresh"), col("doc_id")).as("text"))
      graft.operators.Dedup.incrementalDedup(
          recrawl.unionByName(fresh), docs, "text", logM = 14)
        .select("doc_id").orderBy("doc_id")
    },
    Some {
      val fp = graft.operators.TextAnalysis.fingerprintSql("text")
      s"""WITH newbatch AS (
        SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id, text || ' fresh' || CAST(doc_id AS VARCHAR) AS text
        FROM documents WHERE doc_id % 3 = 1),
      hist_fp AS (SELECT $fp AS fp FROM documents),
      batch_fp AS (SELECT doc_id, $fp AS fp FROM newbatch)
      SELECT doc_id FROM batch_fp b
      WHERE b.fp IS NOT NULL -- pin the operator's documented NULL-text drop: NOT EXISTS alone would KEEP a NULL-fp row
        AND NOT EXISTS (SELECT 1 FROM hist_fp h WHERE h.fp = b.fp)
      ORDER BY doc_id"""
    })

  /** Count-min frequency sketch: d x 2^logW mergeable counter table
   *  over the lineitem supplier stream, probed for every supplier key
   *  next to the exact counts. Every cell and estimate is
   *  integer-replayed by the oracle; `cm_est >= n_exact` always. */
  private val q_cms = QueryDef(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val cells = graft.operators.Sketch.cmsCells(li, "l_suppkey", d = 4, logW = 10)
      val probe = t(s, dir, "supplier").select("s_suppkey")
      val exact = li.groupBy(col("l_suppkey")).agg(count(lit(1)).as("n_exact"))
      graft.operators.Sketch.cmsEstimate(cells, probe, "s_suppkey", d = 4, logW = 10)
        .join(exact, col("s_suppkey") === col("l_suppkey"), "left")
        .select(col("s_suppkey"), col("cm_est"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"))
        .orderBy("s_suppkey")
    },
    Some {
      val (h1, h2) = graft.operators.Sketch.bloomHashSql("id")
      s"""WITH lk AS (SELECT l_suppkey AS id FROM lineitem),
      lh AS (SELECT $h1 AS h1, $h2 AS h2 FROM lk),
      cells AS (SELECT j AS row, (h1 + j * h2) % 1024 AS cell, count(*) AS cnt
                FROM lh, range(0, 4) t(j) GROUP BY 1, 2),
      probe AS (SELECT s_suppkey AS id FROM supplier),
      ph AS (SELECT id, $h1 AS h1, $h2 AS h2 FROM probe),
      est AS (SELECT p.id, min(COALESCE(c.cnt, 0)) AS cm_est
              FROM ph p CROSS JOIN range(0, 4) t(j)
              LEFT JOIN cells c ON c.row = j AND c.cell = (p.h1 + j * p.h2) % 1024
              GROUP BY p.id),
      exact AS (SELECT l_suppkey AS id, count(*) AS n_exact FROM lineitem GROUP BY 1)
      SELECT e.id AS s_suppkey, e.cm_est, COALESCE(x.n_exact, CAST(0 AS BIGINT)) AS n_exact
      FROM est e LEFT JOIN exact x ON x.id = e.id ORDER BY s_suppkey"""
    })

  /** Join-size estimation from sketches (the optimizer's question —
   *  "how big is this join?" — answered from two bounded CMS tables
   *  without running it): the CM inner-product estimator, min over
   *  rows of the cell-wise product sum, next to the exact join count
   *  it must upper-bound. Integer-exact replay. */
  private val q_joinest = QueryDef(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val est = graft.operators.Sketch.cmsJoinSize(
        graft.operators.Sketch.cmsCells(li, "l_orderkey", d = 4, logW = 10, reuseScan = true),
        graft.operators.Sketch.cmsCells(ord, "o_orderkey", d = 4, logW = 10, reuseScan = true))
      val exact = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n_exact"))
      est.crossJoin(exact)
    },
    Some {
      val (h1, h2) = graft.operators.Sketch.bloomHashSql("id")
      def cellsSql(src: String) =
        s"""(SELECT j AS row, (h1 + j * h2) % 1024 AS cell, count(*) AS cnt
          FROM (SELECT $h1 AS h1, $h2 AS h2 FROM $src) , range(0, 4) t(j) GROUP BY 1, 2)"""
      s"""WITH ca AS ${cellsSql("(SELECT l_orderkey AS id FROM lineitem)")},
        cb AS ${cellsSql("(SELECT o_orderkey AS id FROM orders)")},
        ip AS (SELECT a.row, CAST(sum(a.cnt * b.cnt) AS BIGINT) AS ip
          FROM ca a JOIN cb b ON a.row = b.row AND a.cell = b.cell GROUP BY 1)
      SELECT (SELECT CAST(min(ip) AS BIGINT) FROM ip) AS join_est,
        (SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey) AS n_exact"""
    })

  /** Histogram quantile sketch: per-event-type p50/p90/p99 from a
   *  bounded 256-bin table (width 2.0 — an exact binary double, so
   *  bins match across engines). The cumulative cut is pure integer
   *  arithmetic (100*cum >= n*p); the oracle replays bins, cut and
   *  edges exactly. The bin table is the mergeable sketch state. */
  private val q_qsketch = QueryDef(
    (s, dir) => graft.operators.Sketch.histSketch(
        events(s, dir), "event_type", "value", lo = 0.0, hi = 512.0, nBins = 256)
      .quantiles(Seq(50, 90, 99))
      .orderBy("grp", "p"),
    Some("""WITH bins AS (
        SELECT event_type AS grp,
          CAST(least(greatest(floor(value / 2.0), 0), 255) AS BIGINT) AS bin, count(*) AS cnt
        FROM events WHERE value IS NOT NULL AND NOT isnan(value) GROUP BY 1, 2),
      cum AS (SELECT grp, bin, cnt,
          CAST(sum(cnt) OVER (PARTITION BY grp ORDER BY bin) AS BIGINT) AS cum FROM bins),
      tot AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n FROM bins GROUP BY 1),
      px AS (SELECT unnest([50, 90, 99]) AS p),
      hit AS (SELECT c.grp, px.p, min(c.bin) AS qbin
              FROM cum c JOIN tot t USING (grp) CROSS JOIN px
              WHERE c.cum * 100 >= t.n * px.p GROUP BY 1, 2)
      SELECT grp, p, qbin, (qbin + 1) * 2.0 AS q_edge FROM hit ORDER BY grp, p"""))

  /** Portable HyperLogLog distinct-count sketch per group, next to
   *  the exact count. Registers + estimate are bit-replayed by the
   *  oracle (integer register sums, comparison-chain msb, no
   *  transcendentals) — the property Spark's approx_count_distinct
   *  can't give. The register table is the persistable/mergeable
   *  sketch state for incremental 100 TB counting. */
  private val q_hll = QueryDef(
    (s, dir) => graft.operators.Sketch.hllDistinct(
        t(s, dir, "lineitem"), "l_returnflag", "l_orderkey")
      .orderBy("grp"),
    Some(graft.operators.Sketch.hllDistinctSql("lineitem", "l_returnflag", "l_orderkey")
      + " ORDER BY grp"))

  /** UNPIVOT / melt (the inverse of 20b1a's PIVOT): the wide
   *  per-user event-type count matrix folds back to long form via
   *  Spark's native unpivot (an Expand, one pass, no shuffle beyond
   *  the pivot's); null cells (absent combinations) drop, so the
   *  round trip equals the direct group-by — which IS the oracle. */
  private val q_unpivot = QueryDef(
    (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val wide = events(s, dir).groupBy("user_id")
        .pivot("event_type", types).agg(count(lit(1)))
      wide.unpivot(Array(col("user_id")), types.map(col).toArray, "event_type", "n")
        .filter(col("n").isNotNull)
        .orderBy("user_id", "event_type")
    },
    Some("""SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** ARG-MAX / max_by semantics with a deterministic tiebreak: the
   *  single struct-max aggregate max((value, id, ...)) — one
   *  map-side-combined pass, no window sort; ties resolve by the
   *  struct's lexicographic order (id). The oracle derives the same
   *  row with a row_number qualify — structurally different. */
  private val q_argmax = QueryDef(
    (s, dir) => events(s, dir)
      .withColumn("cents", expr("CAST(floor(value * 100) AS BIGINT)"))
      .groupBy("event_type")
      .agg(max(struct(col("cents"), col("event_id"), col("user_id"))).as("m"),
        min(struct(col("cents"), col("event_id"))).as("lo"))
      .select(col("event_type"),
        col("m.cents").as("max_cents"), col("m.event_id").as("max_event"),
        col("m.user_id").as("max_user"),
        col("lo.cents").as("min_cents"), col("lo.event_id").as("min_event"))
      .orderBy("event_type"),
    Some("""WITH ev AS (SELECT *, CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
      hi AS (SELECT event_type, cents AS max_cents, event_id AS max_event, user_id AS max_user
        FROM (SELECT *, row_number() OVER (PARTITION BY event_type
          ORDER BY cents DESC, event_id DESC) AS rn FROM ev) WHERE rn = 1),
      lo AS (SELECT event_type, cents AS min_cents, event_id AS min_event
        FROM (SELECT *, row_number() OVER (PARTITION BY event_type
          ORDER BY cents ASC, event_id ASC) AS rn FROM ev) WHERE rn = 1)
      SELECT hi.event_type, max_cents, max_event, max_user, min_cents, min_event
      FROM hi JOIN lo ON hi.event_type = lo.event_type ORDER BY 1"""))

  /** Exact distinct counts + pairwise audience overlap via per-group
   *  bitmap indexes ([[graft.operators.Sketch.bitmapWords]]): words
   *  equi-join, AND, popcount — no id set ever materializes. The
   *  diagonal (a = a) is each event type's exact distinct-user count.
   *  The oracle derives the same numbers from a DISTINCT self-join —
   *  structurally different, must hash-match. */
  private val q_bitmap = QueryDef(
    (s, dir) => {
      val words = graft.operators.Sketch.bitmapWords(
        events(s, dir), "event_type", "user_id")
      graft.operators.Sketch.bitmapIntersections(words)
        .withColumnRenamed("grp_a", "type_a").withColumnRenamed("grp_b", "type_b")
        .orderBy("type_a", "type_b")
    },
    Some("""WITH du AS (SELECT DISTINCT event_type, user_id FROM events)
      SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
      FROM du a JOIN du b ON a.user_id = b.user_id AND a.event_type <= b.event_type
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Robust (median/MAD modified-z) outlier detection over event
   *  values — stats broadcast back for a map-only scoring pass,
   *  integer cross-multiplied decisions ([[graft.operators.Outliers]]). */
  private val q_anomaly = QueryDef(
    (s, dir) => graft.operators.Outliers.robustOutliers(
        events(s, dir).withColumn("v_e3", round(col("value") * 1000).cast("long")),
        "event_type", "event_id", "v_e3", zThresholdE4 = 35000L)
      .orderBy("grp", "event_id"),
    Some(graft.operators.Outliers.robustOutliersSql(
        "events", "event_type", "event_id", "round(value * 1000)", zThresholdE4 = 35000L)
      + " ORDER BY grp, event_id"))

  /** KMV distinct sketch vs exact distinct per event type — the
   *  all-integer threshold estimator ([[graft.operators.Sketch.kmvSketch]]). */
  private val q_kmv = QueryDef(
    (s, dir) => graft.operators.Sketch.kmvDistinct(
        events(s, dir), "event_type", "user_id", k = 256)
      .orderBy("grp"),
    Some(graft.operators.Sketch.kmvDistinctSql("events", "event_type", "user_id", 256)
      + " ORDER BY grp"))

  /** KMV set-operation face: estimated distinct-user overlap between
   *  the view and purchase event streams from two bounded sketches —
   *  the intersection HLL registers cannot express. */
  private val q_kmv_jaccard = QueryDef(
    (s, dir) => {
      val ev = events(s, dir).withColumn("g", lit("view_x_purchase"))
      val a = graft.operators.Sketch.kmvSketch(
        ev.filter(col("event_type") === "view"), "g", "user_id", k = 256)
      val b = graft.operators.Sketch.kmvSketch(
        ev.filter(col("event_type") === "purchase"), "g", "user_id", k = 256)
      graft.operators.Sketch.kmvIntersectEstimate(a, b, k = 256)
        .select("n_union_kept", "rho", "union_est_e2", "inter_est_e2", "jaccard_e4")
    },
    Some(graft.operators.Sketch.kmvIntersectSql("events", "user_id",
      "event_type = 'view'", "event_type = 'purchase'", 256)))

  /** Exact heavy hitters via two-pass Misra-Gries (capacity 32):
   *  pass 1 per-partition MG summaries (bounded candidate superset,
   *  no full-keyspace shuffle), pass 2 exact recount of candidates
   *  only. Deterministic output — exactly the terms with
   *  cnt * (k+1) > N — so the oracle is a plain HAVING threshold. */
  private val q_heavyhitters = QueryDef(
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
        .filter(length(col("term")) > 0)
      graft.operators.Sketch.heavyHitters(toks, "term", k = 32)
        .orderBy(desc("cnt"), col("term"))
    },
    Some {
      val norm = Dedup.normalizeTextSql("text")
      s"""WITH toks AS (SELECT unnest(list_filter(string_split($norm, ' '), x -> len(x) > 0)) AS term
          FROM documents),
        tot AS (SELECT count(*) AS n FROM toks),
        cnts AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1)
        SELECT term, cnt FROM cnts, tot WHERE cnt * 33 > n
        ORDER BY cnt DESC, term"""
    })

  /** Leakage-safe split: assignment keyed on the exact-dup group
   *  representative — copies of one document never straddle splits. */
  private val sample_leakage_safe = QueryDef(
    (s, dir) => graft.operators.Sampling.withLeakageSafeSplit(
        t(s, dir, "documents"), "doc_id", "text")
      .select("doc_id", "split").orderBy("doc_id"),
    Some(s"""WITH reps AS (
      SELECT doc_id, min(doc_id) OVER (PARTITION BY ${Dedup.normalizeTextSql("text")}) AS rep
      FROM documents)
      SELECT doc_id, ${graft.operators.Sampling.splitSql("rep")} AS split
      FROM reps ORDER BY doc_id"""))

  /** Deterministic 90/5/5 train/val/test assignment — pure id-hash function, map-only. */
  private val sample_split = QueryDef(
    (s, dir) => graft.operators.Sampling.withSplit(t(s, dir, "documents"), "doc_id")
      .select("doc_id", "split").orderBy("doc_id"),
    Some(s"""SELECT doc_id, ${graft.operators.Sampling.splitSql("doc_id")} AS split
      FROM documents ORDER BY doc_id"""))

  /** Stratified deterministic sampling: per-language keep fractions,
   *  map-only (the stratum picks a literal hash threshold). */
  private val sample_stratified = QueryDef(
    (s, dir) => graft.operators.Sampling.stratifiedSample(t(s, dir, "documents"),
        "doc_id", "lang", Map("en" -> 0.5, "de" -> 0.25), defaultFraction = 0.1)
      .select("doc_id", "lang").orderBy("doc_id"),
    Some(s"""SELECT doc_id, lang FROM documents
      WHERE ${graft.operators.Sampling.stratifiedSampleSql(
        "doc_id", "lang", Map("en" -> 0.5, "de" -> 0.25), 0.1)}
      ORDER BY doc_id"""))

  /** Temperature mixture sampling (alpha=0.5): per-source keep rate
   *  proportional to sqrt(count), renormalized to a 40% global
   *  target — flattens dominant sources. The oracle recomputes the
   *  count^alpha weights (float sum pinned to lexicographic source
   *  order on both engines), thresholds, and the hash acceptance. */
  /** Deterministic negative sampling (contrastive/recsys training
   *  prep): 8 never-purchased parts per customer, drawn by hashing
   *  (customer, j) into the part id space — bounded candidate
   *  explode + anti-join, NO cross join with the item dimension
   *  ([[graft.operators.Sampling.negativeSample]]). Fully replayed
   *  in SQL via the portable hash. */
  private val sample_negatives = QueryDef(
    (s, dir) => {
      val nItems = t(s, dir, "part").agg(max("p_partkey").cast("long")).head().getLong(0) + 1
      val inter = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, dir, "lineitem").select("l_orderkey", "l_partkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("u"), col("l_partkey").as("it"))
      val units = t(s, dir, "customer").select("c_custkey")
      graft.operators.Sampling.negativeSample(units, "c_custkey",
          inter, "u", "it", nItems, k = 8)
        .orderBy("unit", "j")
    },
    Some {
      val item = graft.operators.Sampling.negativeSampleItemSql(
        "unit", "j", m = 64, nItemsExpr = "SELECT max(p_partkey) + 1 FROM part")
      s"""WITH units AS (SELECT c_custkey AS unit FROM customer),
        cands AS (SELECT unit, CAST($item AS BIGINT) AS item, CAST(min(j) AS BIGINT) AS j
          FROM units, generate_series(0, 63) t(j) GROUP BY 1, 2),
        inter AS (SELECT DISTINCT o_custkey AS unit, l_partkey AS item
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        negs AS (SELECT c.* FROM cands c ANTI JOIN inter i USING (unit, item)),
        r AS (SELECT *, row_number() OVER (PARTITION BY unit ORDER BY j) AS rn FROM negs)
      SELECT unit, item, j FROM r WHERE rn <= 8 ORDER BY unit, j"""
    })

  private val sample_mixture = QueryDef(
    (s, dir) => graft.operators.Sampling.mixtureSample(t(s, dir, "documents"),
        "doc_id", "source", temperature = 0.5, targetFraction = 0.4)
      .select("doc_id", "source").orderBy("doc_id"),
    Some(s"""WITH cnt AS (
        SELECT source, CAST(count(*) AS DOUBLE) AS c FROM documents GROUP BY source),
      tot AS (SELECT sum(c) AS n, sum(sqrt(c) ORDER BY source) AS denom FROM cnt),
      thr AS (SELECT source, round(least(1.0, 0.4 * t.n * sqrt(c) / t.denom / c) * 10000) AS thr
        FROM cnt, tot t)
      SELECT d.doc_id, d.source FROM documents d JOIN thr USING (source)
      WHERE (${graft.operators.Sampling.knuthHashSql("d.doc_id")}) % 10000 < thr.thr
      ORDER BY d.doc_id"""))

  /** Per-source quota cap: at most 40 docs per source, picked by id
   *  hash (a uniform within-group sample) — the domain-balancing op
   *  for training mixes. One bounded window shuffle. */
  private val sample_quota = QueryDef(
    (s, dir) => graft.operators.Sampling.quotaSample(t(s, dir, "documents"),
        "doc_id", "source", maxPerGroup = 40)
      .select("doc_id", "source").orderBy("doc_id"),
    Some(s"""SELECT doc_id, source FROM (
      SELECT doc_id, source, row_number() OVER (PARTITION BY source
        ORDER BY (${graft.operators.Sampling.knuthHashSql("doc_id")}), doc_id) AS r
      FROM documents) WHERE r <= 40 ORDER BY doc_id"""))

  /** Quality-weighted deterministic sample: keep each doc with
   *  probability = its quality score (operator composition:
   *  withQuality feeds weightedSample) — map-only, monotone in the
   *  score. The oracle replays scoring + threshold. */
  private val sample_weighted = QueryDef(
    (s, dir) => {
      val scored = TextAnalysis.withQuality(t(s, dir, "documents"), "text")
        .withColumn("score", col("quality_score_e4") / 10000.0)
      graft.operators.Sampling.weightedSample(scored, "doc_id", "score")
        .select("doc_id", "quality_score_e4").orderBy("doc_id")
    },
    Some(s"""SELECT doc_id, quality_score_e4 FROM (
        SELECT doc_id, ${TextAnalysis.qualitySql("text")} FROM documents)
      WHERE ${graft.operators.Sampling.weightedSampleSql("doc_id", "quality_score_e4 / 10000.0")}
      ORDER BY doc_id"""))

  /** EXACT-k weighted sample per source (Efraimidis & Spirakis 2006
   *  a-res): 5 docs per source with inclusion probability ∝ token
   *  count — the "exactly k, length-weighted" recipe the Bernoulli
   *  sampler above cannot give. Key ln(u)/w from the portable id
   *  hash, 9-dp-rounded before ranking with id tiebreak. */
  private val sample_weighted_k = QueryDef(
    (s, dir) => {
      val docs = TextAnalysis.withTokenCounts(t(s, dir, "documents"), "text")
      graft.operators.Sampling.weightedTopK(docs, "doc_id", "source", "ws_tokens", k = 5)
        .select("doc_id", "source", "ws_tokens", "es_key", "es_rank")
        .orderBy("source", "es_rank")
    },
    Some(s"""WITH d AS (SELECT doc_id, source,
        CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS ws_tokens
      FROM documents),
      keyed AS (SELECT doc_id, source, ws_tokens,
        ${graft.operators.Sampling.weightedTopKSql("doc_id", "ws_tokens")} AS es_key
      FROM d WHERE ws_tokens >= 1)
      SELECT doc_id, source, ws_tokens, es_key, es_rank FROM (
        SELECT *, row_number() OVER (PARTITION BY source
          ORDER BY es_key DESC, doc_id) AS es_rank FROM keyed)
      WHERE es_rank <= 5 ORDER BY source, es_rank"""))

  /** Per-source token-budget sample: keep docs in id-hash order while
   *  each source's cumulative whitespace-token count stays <= 2000 —
   *  the mixture op when training targets are token shares. One
   *  window shuffle; the oracle replays the cumulative cut. */
  private val sample_tokenbudget = QueryDef(
    (s, dir) => graft.operators.Sampling.tokenBudgetSample(
        t(s, dir, "documents")
          .withColumn("n_tok", graft.operators.TextAnalysis.wsTokenCount(col("text"))),
        "doc_id", "source", "n_tok", budget = 2000L)
      .select("doc_id", "source", "n_tok").orderBy("doc_id"),
    Some(s"""SELECT doc_id, source, n_tok FROM (
      SELECT doc_id, source, CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok,
        sum(CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)) OVER (PARTITION BY source
          ORDER BY (${graft.operators.Sampling.knuthHashSql("doc_id")}), doc_id) AS cum
      FROM documents) WHERE cum <= 2000 ORDER BY doc_id"""))

  /** Greedy next-fit sequence packing: docs -> <=512-token training
   *  sequences over 8 independent bucket streams (id-hash spread,
   *  ONE shuffle + a streaming per-partition scan). The oracle walks
   *  the same running-total recurrence as a recursive CTE. */
  private val pack_greedy = QueryDef(
    (s, dir) => graft.operators.Packing.packGreedy(
        t(s, dir, "documents")
          .withColumn("n_tok", graft.operators.TextAnalysis.wsTokenCount(col("text"))),
        "doc_id", "n_tok", budget = 512L, nBuckets = 8)
      .orderBy("doc_id"),
    Some(graft.operators.Packing.packGreedySql(
        "documents", "doc_id",
        raw"len(regexp_split_to_array(trim(text), '\s+'))",
        budget = 512L, nBuckets = 8)
      + " ORDER BY doc_id"))

  /** Overlapping token-window chunking (window 64, overlap 16) —
   *  map-only bounded explode; chunk boundaries AND chunk text
   *  replayed by the oracle via the same pinned whitespace split. */
  private val text_chunk = QueryDef(
    (s, dir) => graft.operators.Packing.chunkTokens(
        t(s, dir, "documents"), "doc_id", "text", window = 64, overlap = 16)
      .orderBy("doc_id", "chunk_id"),
    Some(graft.operators.Packing.chunkTokensSql(
        "documents", "doc_id", "text", window = 64, overlap = 16)
      + " ORDER BY doc_id, chunk_id"))

  /** As-of join: each event enriched with its user's most recent
   *  'purchase' event at or before it. The engine side is the
   *  union + single-window-shuffle shape; the oracle is the
   *  brute-force theta join + rank, so the window semantics
   *  (latest-at-or-before, max-id tie-break, null when none) are
   *  independently replayed. */
  /** Per-group OLS trend slope in exact decimal arithmetic — metric
   *  drift detection as ONE map-side-combined five-moment aggregate;
   *  sign factored out of the scaled division so trunc-div and
   *  floor-div agree across engines. */
  /** 2-D Pareto frontier (skyline query): the orders no other order
   *  beats on BOTH axes — earlier date AND higher value. One corpus
   *  shuffle for the per-date maxima; the bounded per-date table does
   *  the prefix-max walk and broadcasts back
   *  ([[graft.operators.Stats.paretoFront2d]]). The oracle is the
   *  brute-force NOT EXISTS dominance test — structurally different,
   *  must hash-match. */
  private val q_skyline = QueryDef(
    (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        expr("unix_timestamp(CAST(o_orderdate AS TIMESTAMP)) div 86400").as("d"),
        floor(col("o_totalprice") * 100).cast("long").as("p"))
      graft.operators.Stats.paretoFront2d(o, "d", "p")
        .orderBy("d", "o_orderkey")
    },
    Some("""WITH o AS (SELECT o_orderkey,
          CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS d,
          CAST(floor(o_totalprice * 100) AS BIGINT) AS p FROM orders)
      SELECT o_orderkey, d, p FROM o a
      WHERE NOT EXISTS (SELECT 1 FROM o b
        WHERE b.d <= a.d AND b.p >= a.p AND (b.d < a.d OR b.p > a.p))
      ORDER BY d, o_orderkey"""))

  /** RFM customer segmentation: recency / frequency / monetary
   *  quintiles via the distributed exact-ntile rank (range exchange +
   *  offset walk — no single-task global window), composed into the
   *  classic three-digit RFM code. The oracle's ntile(5) must agree
   *  with the exact-tile formula on a fully deterministic order. */
  private val q_rfm = QueryDef(
    (s, dir) => {
      // pin the per-customer rollup ONCE (slim: 4 longs per customer)
      // — the r13 shape nested the three rankings, so each range
      // exchange re-planned the previous ranking's full lineage and
      // the three size-job/offset-walk cycles ran strictly
      // sequentially (r13 verdict item 4)
      // the customer count rides the checkpoint job as an observed
      // metric (the ancestorPairs/CC pattern) — the old shape paid a
      // separate count job over data the checkpoint had just
      // materialized
      val mObs = new org.apache.spark.sql.Observation()
      val m = graft.operators.CacheUtil.gcPersist(t(s, dir, "orders").groupBy(col("o_custkey").as("ck"))
        .agg(max(unix_timestamp(col("o_orderdate").cast("timestamp"))).cast("long").as("rec"),
          count(lit(1)).as("freq"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("mon"))
        .observe(mObs, count(lit(1)).as("n")))
      // ONE fused ranking instead of three: explode each customer
      // into (metric-code, value) rows and range-rank the 3n-row
      // union by (metric, value, ck) — each metric occupies a
      // contiguous block of EXACTLY n rows, so its within-block rank
      // is (rank - 1) % n + 1 and the exact-ntile formula applies
      // per block. One sample job + one size job + one rank pass
      // replace three sequential range-exchange cycles; the
      // reassembly is a map-side-combinable groupBy(ck), not joins.
      val n = mObs.get("n").asInstanceOf[Long]
      val ex = m.select(col("ck"), explode(array(
          struct(lit(0).as("w"), col("rec").as("v")),
          struct(lit(1).as("w"), col("freq").as("v")),
          struct(lit(2).as("w"), col("mon").as("v")))).as("e"))
        .select(col("ck"), col("e.w").as("w"), col("e.v").as("v"))
      val ranked = graft.operators.Rank.globalRowNumber(ex,
        Seq(col("w").asc, col("v").asc, col("ck").asc))
      // exact ntile(5) of the within-metric rank (the curriculum
      // formula: first n%5 tiles get the extra row)
      ranked.withColumn("tile",
          graft.operators.Rank.exactNtile(expr(s"(rank - 1) % ${n}L + 1"), n, 5))
        .groupBy("ck").agg(
          max(when(col("w") === 0, col("tile"))).as("r_q"),
          max(when(col("w") === 1, col("tile"))).as("f_q"),
          max(when(col("w") === 2, col("tile"))).as("m_q"))
        .select(col("ck").as("c_custkey"), col("r_q"), col("f_q"), col("m_q"),
          (col("r_q") * 100 + col("f_q") * 10 + col("m_q")).as("rfm_code"))
        .orderBy("c_custkey")
    },
    Some("""WITH m AS (SELECT o_custkey AS ck,
          CAST(max(epoch(o_orderdate)) AS BIGINT) AS rec,
          count(*) AS freq,
          CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS mon
        FROM orders GROUP BY 1),
      q AS (SELECT ck,
          CAST(ntile(5) OVER (ORDER BY rec, ck) AS BIGINT) AS r_q,
          CAST(ntile(5) OVER (ORDER BY freq, ck) AS BIGINT) AS f_q,
          CAST(ntile(5) OVER (ORDER BY mon, ck) AS BIGINT) AS m_q
        FROM m)
      SELECT ck AS c_custkey, r_q, f_q, m_q,
        CAST(r_q * 100 + f_q * 10 + m_q AS BIGINT) AS rfm_code
      FROM q ORDER BY 1"""))

  /** Gaps-and-islands (longest consecutive-day streak per user — the
   *  gamification/engagement metric): distinct active days, then the
   *  classic day − row_number island key — consecutive days share it,
   *  a gap starts a new island. One distinct + one per-user window;
   *  ties on streak length resolve to the earliest start. */
  private val q_streaks = QueryDef(
    (s, dir) => {
      val du = events(s, dir)
        .select(col("user_id"),
          expr("unix_timestamp(CAST(ts AS TIMESTAMP)) div 86400").as("day"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      val islands = du
        .withColumn("isl", col("day") - row_number().over(w))
        .groupBy("user_id", "isl")
        .agg(count(lit(1)).as("len"), min("day").as("start_day"))
      islands.groupBy("user_id")
        .agg(max(struct(col("len"), (-col("start_day")).as("ns"))).as("m"),
          count(lit(1)).as("n_islands"))
        .select(col("user_id"), col("m.len").as("longest_streak"),
          (-col("m.ns")).as("streak_start_day"), col("n_islands"))
        .orderBy("user_id")
    },
    Some("""WITH du AS (SELECT DISTINCT user_id,
          CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events),
      isl AS (SELECT user_id, day,
          day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS isl
        FROM du),
      runs AS (SELECT user_id, isl, count(*) AS len, min(day) AS start_day
        FROM isl GROUP BY 1, 2),
      best AS (SELECT *, row_number() OVER (PARTITION BY user_id
          ORDER BY len DESC, start_day ASC) AS rn FROM runs),
      ni AS (SELECT user_id, count(*) AS n_islands FROM runs GROUP BY 1)
      SELECT b.user_id, b.len AS longest_streak,
        CAST(b.start_day AS BIGINT) AS streak_start_day, ni.n_islands
      FROM best b JOIN ni ON b.user_id = ni.user_id WHERE rn = 1
      ORDER BY b.user_id"""))

  /** Pairwise Pearson correlation matrix between event types' hourly
   *  revenue series — reported as sign(r) * r^2 in ppm, which is
   *  EXACTLY representable in integers (r itself needs a sqrt):
   *  r2 = (n*Sxy - Sx*Sy)^2 / ((n*Sxx - Sx^2) * (n*Syy - Sy^2)),
   *  every moment a DECIMAL(38) integer. Series align on the hour via
   *  an inner join of the two bounded series tables. */
  private val q_paircorr = QueryDef(
    (s, dir) => {
      // whole currency units, not cents: num^2 * 1e6 must stay inside
      // DECIMAL(38) (cents would reach ~1e38 at sf0.1 and null out
      // where HUGEINT survives)
      val ser = events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(sum(expr("CAST(floor(value) AS BIGINT)")).as("x"))
      val a = ser.select(col("event_type").as("ta"), col("h"), col("x").as("xa"))
      val b = ser.select(col("event_type").as("tb"), col("h"), col("x").as("xb"))
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      a.join(b, Seq("h")).filter(col("ta") < col("tb"))
        .groupBy("ta", "tb")
        .agg(count(lit(1)).as("n"),
          sum(col("xa").cast(dec)).as("sx"), sum(col("xb").cast(dec)).as("sy"),
          sum(col("xa").cast(dec) * col("xb").cast(dec)).as("sxy"),
          sum(col("xa").cast(dec) * col("xa").cast(dec)).as("sxx"),
          sum(col("xb").cast(dec) * col("xb").cast(dec)).as("syy"))
        .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
        .withColumn("den",
          (col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy")))
        .withColumn("signed_r2_ppm",
          when(col("den") === 0, lit(null).cast("long"))
            .otherwise((when(col("num") < 0, -1L).otherwise(1L) *
              expr("(num * num * 1000000) div den")).cast("long")))
        .select("ta", "tb", "n", "signed_r2_ppm")
        .orderBy("ta", "tb")
    },
    Some("""WITH ser AS (SELECT event_type, date_trunc('hour', ts) AS h,
          CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2),
      j AS (SELECT a.event_type AS ta, b.event_type AS tb,
          CAST(a.x AS HUGEINT) AS xa, CAST(b.x AS HUGEINT) AS xb
        FROM ser a JOIN ser b ON a.h = b.h AND a.event_type < b.event_type),
      m AS (SELECT ta, tb, count(*) AS n, sum(xa) AS sx, sum(xb) AS sy,
          sum(xa * xb) AS sxy, sum(xa * xa) AS sxx, sum(xb * xb) AS syy
        FROM j GROUP BY 1, 2),
      f AS (SELECT ta, tb, n,
          n * sxy - sx * sy AS num,
          (n * sxx - sx * sx) * (n * syy - sy * sy) AS den
        FROM m)
      SELECT ta, tb, n,
        CAST(CASE WHEN den = 0 THEN NULL
          WHEN num < 0 THEN -((num * num * 1000000) // den)
          ELSE (num * num * 1000000) // den END AS BIGINT) AS signed_r2_ppm
      FROM f ORDER BY 1, 2"""))

  /** Rolling 7-day revenue per event type — the RANGE-frame window
   *  (value-based bounds over sparse days, not ROWS): each day sums
   *  the trailing week even when days are missing. Integer day index
   *  + integer cents keep the frame and the sums engine-exact. */
  private val q_rolling = QueryDef(
    (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type"),
          expr("unix_timestamp(CAST(ts AS TIMESTAMP)) div 86400").as("day"))
        .agg(sum(expr("CAST(floor(value * 100) AS BIGINT)")).as("cents"))
      val w = Window.partitionBy("event_type").orderBy("day").rangeBetween(-6, 0)
      daily.withColumn("rolling7_cents", sum("cents").over(w))
        .orderBy("event_type", "day")
    },
    Some("""WITH daily AS (SELECT event_type,
          CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
          CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY 1, 2)
      SELECT event_type, day, cents,
        CAST(sum(cents) OVER (PARTITION BY event_type ORDER BY day
          RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS rolling7_cents
      FROM daily ORDER BY 1, 2"""))

  /** Deterministic group concatenation (LISTAGG/string_agg): the
   *  distinct sorted event types per user as one string — collect_set
   *  is unordered across tasks, array_sort pins the result before the
   *  join of engines. */
  private val q_groupconcat = QueryDef(
    (s, dir) => events(s, dir)
      .groupBy("user_id")
      .agg(concat_ws(",", array_sort(collect_set(col("event_type")))).as("types"),
        count(lit(1)).as("n"))
      .orderBy("user_id"),
    Some("""SELECT user_id,
        string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types,
        count(*) AS n
      FROM events GROUP BY 1 ORDER BY 1"""))

  /** Per-group MODE (most frequent value, smallest-value tie rule):
   *  count aggregate + one struct-max over the bounded (group, value)
   *  count table — max((cnt, -value)) picks the highest count and
   *  the smallest value on ties, no window sort. */
  private val q_mode = QueryDef(
    (s, dir) => {
      val counts = t(s, dir, "lineitem")
        .withColumn("qty", col("l_quantity").cast("long"))
        .groupBy("l_returnflag", "qty").agg(count(lit(1)).as("cnt"))
      counts.groupBy("l_returnflag")
        .agg(max(struct(col("cnt"), (-col("qty")).as("nq"))).as("m"))
        .select(col("l_returnflag"), (-col("m.nq")).as("mode_qty"), col("m.cnt").as("n"))
        .orderBy("l_returnflag")
    },
    Some("""WITH c AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty, count(*) AS cnt
        FROM lineitem GROUP BY 1, 2),
      r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
          ORDER BY cnt DESC, qty ASC) AS rn FROM c)
      SELECT l_returnflag, qty AS mode_qty, cnt AS n FROM r WHERE rn = 1 ORDER BY 1"""))

  /** Benford first-digit distribution per market segment (the
   *  forensic-accounting screen): leading digit extracted through the
   *  decimal STRING form (no transcendental log10 — engine-exact),
   *  frequencies as integer ppm. */
  private val q_benford = QueryDef(
    (s, dir) => {
      val o = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .withColumn("cents", floor(col("o_totalprice") * 100).cast("long"))
        .filter(col("cents") > 0)
        .withColumn("d1", substring(col("cents").cast("string"), 1, 1).cast("long"))
      o.groupBy(col("c_mktsegment").as("seg"), col("d1"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("freq_ppm", expr("(cnt * 1000000) div (sum(cnt) OVER (PARTITION BY seg))"))
        .orderBy("seg", "d1")
    },
    Some("""WITH o AS (SELECT c_mktsegment AS seg,
          CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE floor(o_totalprice * 100) > 0),
      c AS (SELECT seg, CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS d1,
          count(*) AS cnt FROM o GROUP BY 1, 2)
      SELECT seg, d1, cnt,
        CAST((cnt * 1000000) // (sum(cnt) OVER (PARTITION BY seg)) AS BIGINT) AS freq_ppm
      FROM c ORDER BY seg, d1"""))

  /** DAU/WAU stickiness (product analytics): sliding-window DISTINCT
   *  users — inexpressible as a window aggregate — via the bounded
   *  explode trick: each (day, user) activity row lands in the <= 7
   *  window-END days it supports, then a plain distinct count per
   *  target day. Corpus work is bounded at 7x the distinct activity
   *  pairs, never user x day-grid. Ratio in integer ppm. */
  private val q_stickiness = QueryDef(
    (s, dir) => {
      val du = events(s, dir)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val dau = du.groupBy("day").agg(countDistinct("user_id").as("dau"))
      val wau = du.withColumn("g", explode(sequence(lit(0), lit(6))))
        .select(expr("date_add(day, g)").as("target"), col("user_id"))
        .distinct()
        .groupBy("target").agg(countDistinct("user_id").as("wau"))
      dau.join(wau, col("day") === col("target"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("d"),
          col("dau"), col("wau"),
          expr("(dau * 1000000) div wau").as("stickiness_ppm"))
        .orderBy("d")
    },
    Some("""WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM du GROUP BY 1),
      wau AS (SELECT target, count(DISTINCT user_id) AS wau FROM (
          SELECT DISTINCT day + CAST(g AS INT) AS target, user_id
          FROM du, generate_series(0, 6) t(g)) GROUP BY 1)
      SELECT strftime(day, '%Y-%m-%d') AS d, dau, wau,
        CAST((dau * 1000000) // wau AS BIGINT) AS stickiness_ppm
      FROM dau JOIN wau ON day = target ORDER BY 1"""))

  /** Time-weighted average price (TWAP — the step-integral mean over
   *  irregular observations, finance/sensor semantics): per type, one
   *  window lead for the step durations, exact integer micros x cents
   *  products (bounded by max_cents * time span — fits int64), final
   *  ratio positive so trunc == floor. */
  private val q_twap = QueryDef(
    (s, dir) => {
      val ev = events(s, dir)
        .withColumn("cents", expr("CAST(floor(value * 100) AS BIGINT)"))
        .withColumn("tus", unix_micros(col("ts").cast("timestamp")))
      val w = Window.partitionBy("event_type").orderBy(col("tus").asc, col("event_id").asc)
      ev.withColumn("dur", lead(col("tus"), 1).over(w) - col("tus"))
        .filter(col("dur").isNotNull)
        .groupBy("event_type")
        .agg(sum("dur").as("total_dur_us"),
          sum(col("cents") * col("dur")).as("wsum"))
        .withColumn("twap_cents", expr("wsum div total_dur_us"))
        .select("event_type", "total_dur_us", "twap_cents")
        .orderBy("event_type")
    },
    Some("""WITH ev AS (SELECT event_type, event_id,
          CAST(floor(value * 100) AS BIGINT) AS cents, epoch_us(ts) AS tus FROM events),
      d AS (SELECT event_type, cents,
          lead(tus) OVER (PARTITION BY event_type ORDER BY tus, event_id) - tus AS dur
        FROM ev)
      SELECT event_type, CAST(sum(dur) AS BIGINT) AS total_dur_us,
        CAST(sum(cents * dur) // sum(dur) AS BIGINT) AS twap_cents
      FROM d WHERE dur IS NOT NULL GROUP BY 1 ORDER BY 1"""))

  /** Gini coefficient of order value per market segment (inequality /
   *  concentration metric): the exact rank formula
   *  G = (2*sum(i*x) - (n+1)*sum(x)) / (n*sum(x)) over ascending x —
   *  per-segment windows only, DECIMAL(38) since rank-weighted sums
   *  overflow int64, numerator non-negative for sorted input so
   *  trunc == floor. */
  private val q_gini = QueryDef(
    (s, dir) => {
      val o = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), col("o_orderkey"),
          floor(col("o_totalprice") * 100).cast("long").as("x"))
      val w = Window.partitionBy("seg").orderBy(col("x").asc, col("o_orderkey").asc)
      o.withColumn("i", row_number().over(w).cast("long"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(38,0)")).as("sx"),
          sum((col("i").cast("decimal(38,0)") * col("x").cast("decimal(38,0)"))).as("six"))
        .withColumn("gini_e6",
          expr("((2 * six - (n + 1) * sx) * 1000000) div (n * sx)").cast("long"))
        .select("seg", "n", "gini_e6")
        .orderBy("seg")
    },
    Some("""WITH o AS (SELECT c_mktsegment AS seg, o_orderkey,
          CAST(floor(o_totalprice * 100) AS BIGINT) AS x
        FROM orders JOIN customer ON o_custkey = c_custkey),
      r AS (SELECT seg, x,
          row_number() OVER (PARTITION BY seg ORDER BY x, o_orderkey) AS i FROM o),
      a AS (SELECT seg, count(*) AS n, CAST(sum(x) AS HUGEINT) AS sx,
          CAST(sum(CAST(i AS HUGEINT) * x) AS HUGEINT) AS six
        FROM r GROUP BY 1)
      SELECT seg, n,
        CAST(((2 * six - (n + 1) * sx) * 1000000) // (n * sx) AS BIGINT) AS gini_e6
      FROM a ORDER BY 1"""))

  /** CUSUM changepoint detection per event type: cumulative sums of
   *  integer cross-multiplied deviations (n*x - Sx) over the hourly
   *  series, the changepoint is the bucket maximizing |CUSUM| (ties
   *  -> earliest). Per-key windows only — nothing global. */
  private val q_changepoint = QueryDef(
    (s, dir) => {
      val ser = events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(sum(expr("CAST(floor(value * 100) AS BIGINT)")).as("x"))
      val stats = ser.groupBy("event_type").agg(sum("x").as("sx"), count(lit(1)).as("n"))
      val wOrd = Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wRank = Window.partitionBy("event_type")
        .orderBy(abs(col("cusum")).desc, col("h").asc)
      ser.join(stats, "event_type")
        .withColumn("d", (col("n") * col("x") - col("sx")).cast("decimal(38,0)"))
        .withColumn("cusum", sum("d").over(wOrd))
        .withColumn("__rn", row_number().over(wRank))
        .filter(col("__rn") === 1)
        .select(col("event_type"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("cp_hour"),
          abs(col("cusum")).cast("long").as("cusum_abs"))
        .orderBy("event_type")
    },
    Some("""WITH ser AS (SELECT event_type, date_trunc('hour', ts) AS h,
          CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2),
      st AS (SELECT event_type, sum(x) AS sx, count(*) AS n FROM ser GROUP BY 1),
      dev AS (SELECT s.event_type, h, CAST(st.n * s.x - st.sx AS HUGEINT) AS d
        FROM ser s JOIN st ON s.event_type = st.event_type),
      cs AS (SELECT event_type, h,
          sum(d) OVER (PARTITION BY event_type ORDER BY h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
        FROM dev),
      rk AS (SELECT *, row_number() OVER (PARTITION BY event_type
          ORDER BY abs(cusum) DESC, h ASC) AS rn FROM cs)
      SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS cp_hour,
        CAST(abs(cusum) AS BIGINT) AS cusum_abs
      FROM rk WHERE rn = 1 ORDER BY 1"""))

  /** Integer exponential smoothing (EWMA, a=0.30) of each event
   *  type's hourly revenue series. The recurrence depends on the
   *  previous OUTPUT, so no window function expresses it — the series
   *  is gathered per key (bounded: buckets in the time range, never
   *  event volume) and folded by the codegen kernel
   *  ([[graft.functions.EwmaExpr]]); all-integer on non-negatives, so
   *  the DuckDB recursive-CTE replay is bit-exact. */
  private val q_ewma = QueryDef(
    (s, dir) => {
      val ser = events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(sum(expr("CAST(floor(value * 100) AS BIGINT)")).as("x"))
      val arr = ser.groupBy("event_type")
        .agg(array_sort(collect_list(struct(col("h"), col("x")))).as("sx"))
        .withColumn("ys", graft.functions.native.ewma(
          transform(col("sx"), e => e.getField("x")), a100 = 30))
      arr.select(col("event_type"), col("ys"), posexplode(col("sx")))
        .withColumn("y", expr("ys[pos]"))
        .select(col("event_type"),
          date_format(col("col.h"), "yyyy-MM-dd HH:mm:ss").as("hs"),
          col("col.x").as("x"), col("y"))
        .orderBy("event_type", "hs")
    },
    Some("""WITH RECURSIVE ser AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
          CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2),
      rser AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM ser),
      ew AS (
        SELECT event_type, rn, h, x, x AS y FROM rser WHERE rn = 1
        UNION ALL
        SELECT s.event_type, s.rn, s.h, s.x, (30 * s.x + 70 * e.y) // 100
        FROM ew e JOIN rser s ON s.event_type = e.event_type AND s.rn = e.rn + 1)
      SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hs, x, CAST(y AS BIGINT) AS y
      FROM ew ORDER BY event_type, hs"""))

  /** Sample autocorrelation (lags 1-3) of each event type's hourly
   *  revenue series — seasonality detection for time-series feature
   *  pipelines. Exact cross-engine arithmetic: deviations are
   *  cross-multiplied integers (n·x − Σx, decimal(38) — the
   *  squared sums overflow int64), the final ratio is
   *  sign·(|num|·1e6 div den) so trunc-vs-floor never differs on
   *  negative numerators. One shuffle for the series, one window
   *  pass for all three lags. */
  private val q_acf = QueryDef(
    (s, dir) => {
      val ser = events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(sum(expr("CAST(floor(value * 100) AS BIGINT)")).as("x"))
      val stats = ser.groupBy("event_type").agg(sum("x").as("sx"), count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("h")
      val dev = ser.join(stats, "event_type")
        .withColumn("d", (col("n") * col("x") - col("sx")).cast("decimal(38,0)"))
        .select(col("event_type"), col("d"),
          lag("d", 1).over(w).as("d1"), lag("d", 2).over(w).as("d2"),
          lag("d", 3).over(w).as("d3"))
      dev.groupBy("event_type").agg(
          sum(col("d") * col("d")).as("den"),
          sum(col("d") * col("d1")).as("num1"),
          sum(col("d") * col("d2")).as("num2"),
          sum(col("d") * col("d3")).as("num3"))
        .select(col("event_type"),
          expr("stack(3, 1L, num1, 2L, num2, 3L, num3) AS (lag_k, num)"), col("den"))
        .withColumn("r_e6",
          (when(col("num") < 0, -1L).otherwise(1L) *
            expr("(abs(num) * 1000000) div den")).cast("long"))
        .select("event_type", "lag_k", "r_e6")
        .orderBy("event_type", "lag_k")
    },
    Some("""WITH ser AS (SELECT event_type, date_trunc('hour', ts) AS h,
          CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2),
      st AS (SELECT event_type, sum(x) AS sx, count(*) AS n FROM ser GROUP BY 1),
      dev AS (SELECT s.event_type, h, CAST(st.n * s.x - st.sx AS HUGEINT) AS d
        FROM ser s JOIN st ON s.event_type = st.event_type),
      lagd AS (SELECT event_type, d,
          lag(d, 1) OVER (PARTITION BY event_type ORDER BY h) AS d1,
          lag(d, 2) OVER (PARTITION BY event_type ORDER BY h) AS d2,
          lag(d, 3) OVER (PARTITION BY event_type ORDER BY h) AS d3
        FROM dev),
      agg AS (SELECT event_type, sum(d * d) AS den, sum(d * d1) AS num1,
          sum(d * d2) AS num2, sum(d * d3) AS num3
        FROM lagd GROUP BY 1),
      un AS (SELECT event_type, 1 AS lag_k, num1 AS num, den FROM agg
        UNION ALL SELECT event_type, 2, num2, den FROM agg
        UNION ALL SELECT event_type, 3, num3, den FROM agg)
      SELECT event_type, CAST(lag_k AS BIGINT) AS lag_k,
        CAST(CASE WHEN num < 0 THEN -((abs(num) * 1000000) // den)
             ELSE (abs(num) * 1000000) // den END AS BIGINT) AS r_e6
      FROM un ORDER BY 1, 2"""))

  /** A/B conversion test: users hashed into two variants, conversion
   *  = any purchase, Pearson chi-square in exact integer arithmetic
   *  ([[graft.operators.Stats.chiSquare2x2]] — DECIMAL(38), trunc-
   *  safe because the numerator is a square). Two map-side-combined
   *  aggregates total; the oracle replays the formula in HUGEINT. */
  private val q_abtest = QueryDef(
    (s, dir) => {
      val users = events(s, dir).groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
        .withColumn("variant", pmod(col("user_id"), lit(2)))
      graft.operators.Stats.chiSquare2x2(users, "variant", "conv")
    },
    Some("""WITH u AS (SELECT user_id,
          max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY 1),
      v AS (SELECT user_id % 2 AS variant, conv FROM u),
      cells AS (SELECT
        CAST(sum(CASE WHEN variant = 0 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS conv_a,
        CAST(sum(CASE WHEN variant = 0 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS miss_a,
        CAST(sum(CASE WHEN variant = 1 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS conv_b,
        CAST(sum(CASE WHEN variant = 1 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS miss_b
        FROM v)
      SELECT conv_a, miss_a, conv_b, miss_b,
        CAST(conv_a + miss_a + conv_b + miss_b AS BIGINT) AS n,
        CAST((CAST(conv_a + miss_a + conv_b + miss_b AS HUGEINT)
            * (CAST(conv_a AS HUGEINT) * miss_b - CAST(miss_a AS HUGEINT) * conv_b)
            * (CAST(conv_a AS HUGEINT) * miss_b - CAST(miss_a AS HUGEINT) * conv_b)
            * 1000000)
          // (CAST(conv_a + miss_a AS HUGEINT) * (conv_b + miss_b)
             * (conv_a + conv_b) * (miss_a + miss_b)) AS BIGINT) AS chi2_e6
      FROM cells"""))

  /**
   * Theil-Sen robust trend slope per event type
   * ([[graft.operators.Stats.theilSen]]) — the outlier-immune twin
   * of `q_trend`'s OLS fit. Events aggregate to DAILY cent totals
   * first (the grain bound that makes the pairwise-slope join
   * C(days,2) per group regardless of raw volume), then the exact
   * lower median of the e9-scaled integer pairwise slopes. Oracle
   * replays the daily rollup, every pairwise slope, and the rank
   * pick.
   */
  private val q_theilsen = QueryDef(
    (s, dir) => {
      val daily = events(s, dir)
        .withColumn("day", expr("unix_micros(ts) div 86400000000"))
        .withColumn("cents", expr("CAST(floor(value * 100) AS BIGINT)"))
        .groupBy("event_type", "day").agg(sum("cents").as("dcents"))
      graft.operators.Stats.theilSen(daily, Seq("event_type"), "day", "dcents")
        .orderBy("event_type")
    },
    Some("""WITH d AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
          sum(CAST(floor(value * 100) AS BIGINT)) AS dcents
        FROM events GROUP BY 1, 2),
      p AS (
        SELECT a.event_type, b.dcents - a.dcents AS dy, b.day - a.day AS dx
        FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day),
      sl AS (
        SELECT event_type, CASE WHEN dy < 0 THEN -(((-dy) * 1000000000) // dx)
          ELSE (dy * 1000000000) // dx END AS slope_e9 FROM p),
      r AS (
        SELECT event_type, slope_e9,
          row_number() OVER (PARTITION BY event_type ORDER BY slope_e9) AS rn,
          count(*) OVER (PARTITION BY event_type) AS m FROM sl)
      SELECT event_type, CAST(m AS BIGINT) AS n_pairs,
        CAST(slope_e9 AS BIGINT) AS ts_slope_e9
      FROM r WHERE rn = (m + 1) // 2 ORDER BY event_type"""))

  private val q_trend = QueryDef(
    (s, dir) => {
      val ev = events(s, dir)
        .withColumn("x", expr("unix_micros(ts) div 1000000") - lit(1704067200L))
        .withColumn("cents", expr("CAST(floor(value * 100) AS BIGINT)"))
      graft.operators.Stats.groupedTrend(ev, Seq("event_type"), "x", "cents")
        .orderBy("event_type")
    },
    Some("""WITH e AS (SELECT event_type, epoch_us(ts) // 1000000 - 1704067200 AS x,
        CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
      m AS (SELECT event_type, count(cents) AS n,
        sum(CASE WHEN cents IS NOT NULL THEN x END) AS sx,
        sum(cents) AS sy,
        sum(x * cents) AS sxy,
        sum(CASE WHEN cents IS NOT NULL THEN x * x END) AS sxx
        FROM e GROUP BY 1)
      SELECT event_type, n, CAST(CASE
          WHEN (n * sxx - sx * sx) = 0 THEN NULL
          WHEN (n * sxy - sx * sy) < 0
            THEN -(((-(n * sxy - sx * sy)) * 1000000000) // (n * sxx - sx * sx))
          ELSE ((n * sxy - sx * sy) * 1000000000) // (n * sxx - sx * sx)
        END AS BIGINT) AS slope_e9
      FROM m ORDER BY event_type"""))

  /** Market-basket co-occurrence with support and lift over
   *  sessionized baskets: which event types happen together inside
   *  one session more often than independence predicts. */
  private val q_cooccur = QueryDef(
    (s, dir) => {
      val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      val gap = graft.streaming.Sessionize.GapSeconds
      val sess = events(s, dir)
        .withColumn("__prev", lag(col("ts"), 1).over(byUser))
        .withColumn("__new", when(col("__prev").isNull ||
          (unix_timestamp(col("ts")) - unix_timestamp(col("__prev"))) > gap, 1L).otherwise(0L))
        .withColumn("session_seq", sum(col("__new")).over(byUser))
      graft.operators.Associations.basketPairs(sess, Seq("user_id", "session_seq"), "event_type")
        .orderBy("item_a", "item_b")
    },
    Some(s"""WITH sess AS (
        SELECT user_id, event_type, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM (
          SELECT *, CASE WHEN prev_ts IS NULL
            OR date_diff('second', prev_ts, ts) > ${graft.streaming.Sessionize.GapSeconds}
            THEN 1 ELSE 0 END AS is_new
          FROM (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
            FROM events))),
      items AS (SELECT DISTINCT user_id, session_seq, event_type AS item FROM sess),
      nb AS (SELECT count(*) AS n FROM (SELECT DISTINCT user_id, session_seq FROM items)),
      sup AS (SELECT item, count(*) AS s FROM items GROUP BY item),
      pairs AS (SELECT a.item AS item_a, b.item AS item_b, count(*) AS support
        FROM items a JOIN items b
          ON a.user_id = b.user_id AND a.session_seq = b.session_seq AND a.item < b.item
        GROUP BY 1, 2)
      SELECT item_a, item_b, support, sa.s AS support_a, sb.s AS support_b,
        CAST((support * nb.n * 1000000) // (sa.s * sb.s) AS BIGINT) AS lift_e6
      FROM pairs JOIN sup sa ON sa.item = item_a JOIN sup sb ON sb.item = item_b CROSS JOIN nb
      ORDER BY item_a, item_b"""))

  /** First-order Markov transition matrix over per-user event
   *  sequences (session/journey modeling): lag(event_type) per user
   *  on ONE window sort, then a types^2-bounded count aggregate;
   *  transition probabilities as integer parts-per-10k (numerator and
   *  denominator both positive, so trunc-div == floor-div on both
   *  engines). */
  private val q_transitions = QueryDef(
    (s, dir) => {
      val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      val c = events(s, dir)
        .withColumn("prev", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("cur"))
        .agg(count(lit(1)).as("n"))
      c.withColumn("p_e4",
          expr("(n * 10000) div (sum(n) OVER (PARTITION BY prev))"))
        .orderBy("prev", "cur")
    },
    Some("""WITH seq AS (SELECT user_id, event_type,
        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events),
      c AS (SELECT prev, event_type AS cur, count(*) AS n
        FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2)
      SELECT prev, cur, n,
        CAST((n * 10000) // (sum(n) OVER (PARTITION BY prev)) AS BIGINT) AS p_e4
      FROM c ORDER BY prev, cur"""))

  /** MATCH_RECOGNIZE-style sequence pattern matching (CEP): each
   *  user's history becomes a code string (one char per event type,
   *  event order) and `v[cv]*p` — a view funnelling through
   *  views/clicks into a purchase — is matched as a regex. Leftmost
   *  non-overlapping spans are unique for this alphabet, so the Java
   *  (Spark) and RE2 (DuckDB) engines agree exactly. One shuffle. */
  private val q_seqmatch = QueryDef(
    (s, dir) => {
      val seqs = graft.operators.Cep.eventSequences(
        events(s, dir), "user_id",
        substring(col("event_type"), 1, 1), Seq("ts", "event_id"))
      graft.operators.Cep.patternMatch(seqs, "v[cv]*p")
        .select("user_id", "seq_len", "n_matches", "max_span", "matched_chars")
        .orderBy("user_id")
    },
    Some("""WITH seqs AS (
        SELECT user_id, string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
        FROM events GROUP BY 1),
      m AS (SELECT user_id, seq, regexp_extract_all(seq, 'v[cv]*p') AS ms FROM seqs)
      SELECT user_id, CAST(length(seq) AS BIGINT) AS seq_len,
        CAST(len(ms) AS BIGINT) AS n_matches,
        CAST(coalesce(list_max(list_transform(ms, x -> length(x))), 0) AS BIGINT) AS max_span,
        CAST(coalesce(list_sum(list_transform(ms, x -> length(x))), 0) AS BIGINT) AS matched_chars
      FROM m ORDER BY user_id"""))

  /** Interval-overlap join (interval x interval, no equi-key):
   *  which user sessions were active during each "incident window"
   *  (±30 min around the top-20 purchases by value). Spark side
   *  buckets both interval sets and equi-joins on the bucket id with
   *  a responsibility rule (exactly-once, no distinct); the oracle is
   *  the plain theta join. */
  private val q_overlapjoin = QueryDef(
    (s, dir) => {
      val ev = events(s, dir)
      val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      val gap = graft.streaming.Sessionize.GapSeconds
      val sess = ev
        .withColumn("__prev", lag(col("ts"), 1).over(byUser))
        .withColumn("__new", when(col("__prev").isNull ||
          (unix_timestamp(col("ts")) - unix_timestamp(col("__prev"))) > gap, 1L).otherwise(0L))
        .withColumn("session_seq", sum(col("__new")).over(byUser))
        .groupBy("user_id", "session_seq")
        .agg(unix_timestamp(min("ts")).as("s_lo"), unix_timestamp(max("ts")).as("s_hi"))
      val incidents = ev.filter(col("event_type") === "purchase")
        .orderBy(col("value").desc, col("event_id")).limit(20)
        .select(col("event_id").as("inc_id"),
          (unix_timestamp(col("ts")) - 1800L).as("i_lo"),
          (unix_timestamp(col("ts")) + 1800L).as("i_hi"))
      graft.operators.Temporal.overlapJoin(sess, incidents,
          "s_lo", "s_hi", "i_lo", "i_hi", bucketWidth = 3600L)
        .select(col("inc_id"), col("user_id"), col("session_seq"),
          (least(col("s_hi"), col("i_hi")) - greatest(col("s_lo"), col("i_lo"))).as("overlap_s"))
        .orderBy("inc_id", "user_id", "session_seq")
    },
    Some(s"""WITH sess AS (
        SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
          epoch_us(min(ts)) // 1000000 AS s_lo, epoch_us(max(ts)) // 1000000 AS s_hi
        FROM (
          SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
          FROM (
            SELECT *, CASE WHEN prev_ts IS NULL
              OR date_diff('second', prev_ts, ts) > ${graft.streaming.Sessionize.GapSeconds}
              THEN 1 ELSE 0 END AS is_new
            FROM (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
              FROM events)))
        GROUP BY 1, 2),
      inc AS (SELECT event_id AS inc_id,
          epoch_us(ts) // 1000000 - 1800 AS i_lo, epoch_us(ts) // 1000000 + 1800 AS i_hi
        FROM events WHERE event_type = 'purchase'
        ORDER BY value DESC, event_id LIMIT 20)
      SELECT inc_id, user_id, session_seq,
        CAST(least(s_hi, i_hi) - greatest(s_lo, i_lo) AS BIGINT) AS overlap_s
      FROM sess JOIN inc ON s_lo <= i_hi AND i_lo <= s_hi
      ORDER BY inc_id, user_id, session_seq"""))

  /** Gap-fill resampling to a dense hourly grid with LOCF carry —
   *  irregular events become the regular sequence models train on.
   *  Integer cents keep every carried value exact. */
  private val q_resample = QueryDef(
    (s, dir) => {
      val ev = events(s, dir).withColumn("cents", expr("CAST(floor(value * 100) AS BIGINT)"))
      graft.operators.Temporal.resampleLocf(ev, Seq("event_type"), "ts", "cents", bucketSeconds = 3600L)
        .select(col("event_type"),
          date_format(col("bucket_start"), "yyyy-MM-dd HH:mm:ss").as("bs"),
          col("n_obs"), col("filled"), col("value_locf").as("cents_locf"))
        .orderBy("event_type", "bs")
    },
    Some("""WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS i,
        CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
      b AS (SELECT event_type, i, count(*) AS n_obs, sum(cents) AS v FROM e GROUP BY 1, 2),
      sp AS (SELECT event_type, unnest(generate_series(min(i), max(i))) AS i
        FROM b GROUP BY event_type),
      j AS (SELECT sp.event_type, sp.i, coalesce(b.n_obs, 0) AS n_obs, b.v
        FROM sp LEFT JOIN b ON b.event_type = sp.event_type AND b.i = sp.i)
      SELECT event_type, strftime(make_timestamp(i * 3600000000), '%Y-%m-%d %H:%M:%S') AS bs,
        CAST(n_obs AS BIGINT) AS n_obs, v IS NULL AS filled,
        CAST(coalesce(last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY i
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS BIGINT) AS cents_locf
      FROM j ORDER BY 1, 2"""))

  private val q_asof = QueryDef(
    (s, dir) => {
      val e = events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("p_event_id"), col("value").as("p_value"))
      graft.operators.Temporal.asofJoin(
          e.select("event_id", "user_id", "ts"), purchases,
          "user_id", "ts", "p_user", "p_ts",
          Seq("p_event_id", "p_value"), rightTieBreak = "p_event_id")
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ets"),
          col("asof_p_event_id"),
          round(col("asof_p_value"), 2).as("asof_value"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ets,
        p_event_id AS asof_p_event_id, round(p_value, 2) AS asof_value
      FROM (SELECT e.event_id, e.user_id, e.ts, p.event_id AS p_event_id, p.value AS p_value,
          row_number() OVER (PARTITION BY e.event_id ORDER BY p.ts DESC, p.event_id DESC) AS rn
        FROM events e LEFT JOIN events p
          ON p.event_type = 'purchase' AND p.user_id = e.user_id AND p.ts <= e.ts)
      WHERE rn = 1 ORDER BY event_id"""))

  /** Range (point-in-interval) join with NO equi key: events counted
   *  into 6-hour windows anchored at every 500th event. The engine
   *  buckets intervals so the plan is an equi-join on the bucket id
   *  (never a cartesian product); the oracle is the plain theta
   *  join. */
  /** Nearest-in-time join (either direction, ties prefer the
   *  at-or-before side): each click paired with the SAME user's
   *  nearest purchase — two asof window passes + one co-partitioned
   *  join ([[graft.operators.Temporal.nearestJoin]]), never a theta
   *  join. Exact integer micros distances. */
  private val q_nearjoin = QueryDef(
    (s, dir) => {
      val ev = events(s, dir)
        .withColumn("tus", unix_micros(col("ts").cast("timestamp")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("tus"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("tus").as("p_tus"))
      graft.operators.Temporal.nearestJoin(clicks, purchases,
          "click_id", "user_id", "tus", "p_user", "p_tus",
          rightCols = Seq("p_id"), rightTieBreak = "p_id")
        .select(col("click_id"), col("near_p_id"), col("near_dt"))
        .orderBy("click_id")
    },
    Some("""WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tus FROM events),
      c AS (SELECT event_id AS click_id, user_id, tus FROM ev WHERE event_type = 'click'),
      p AS (SELECT event_id AS p_id, user_id, tus AS p_tus FROM ev WHERE event_type = 'purchase'),
      j AS (SELECT c.click_id, p.p_id, abs(p.p_tus - c.tus) AS adt,
          CASE WHEN p.p_tus <= c.tus THEN 0 ELSE 1 END AS side
        FROM c JOIN p ON p.user_id = c.user_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY click_id
          ORDER BY adt, side, p_id DESC) AS rn FROM j)
      SELECT c.click_id, r.p_id AS near_p_id, CAST(r.adt AS BIGINT) AS near_dt
      FROM c LEFT JOIN r ON r.click_id = c.click_id AND r.rn = 1
      ORDER BY c.click_id"""))

  /** Broadcast interval-lookup join ([[graft.operators.Lookup]]):
   *  price-band annotation of every event via a codegen'd binary
   *  search over the broadcast band table — a map-only plan (no join
   *  node, no shuffle on the fact side) where a generic range join
   *  would shuffle everything. The oracle is the plain theta join. */
  private val q_bandjoin = QueryDef(
    (s, dir) => {
      import s.implicits._
      val bands = Seq(
        (0L, 100L, 0L), (100L, 1000L, 1L), (1000L, 5000L, 2L),
        (5000L, 10000L, 3L), (10000L, 50000L, 4L), (50000L, 100000L, 5L))
        .toDF("lo", "hi", "band")
      val ev = events(s, dir)
        .withColumn("cents", expr("CAST(floor(value * 100) AS BIGINT)"))
      graft.operators.Lookup.intervalLookupJoin(s, ev, "cents", bands,
          "lo", "hi", "band", outCol = "band")
        .filter(col("band") >= 0) // uncovered values drop, like the inner theta join
        .groupBy("band")
        .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
        .orderBy("band")
    },
    Some("""WITH ev AS (SELECT CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
      bands(lo, hi, band) AS (VALUES (0, 100, 0), (100, 1000, 1), (1000, 5000, 2),
        (5000, 10000, 3), (10000, 50000, 4), (50000, 100000, 5))
      SELECT CAST(b.band AS BIGINT) AS band, count(*) AS n,
        CAST(sum(cents) AS BIGINT) AS cents
      FROM ev e JOIN bands b ON e.cents >= b.lo AND e.cents < b.hi
      GROUP BY 1 ORDER BY 1"""))

  private val q_rangejoin = QueryDef(
    (s, dir) => {
      val e = events(s, dir)
      val pts = e.select(col("event_id"), col("value"), unix_micros(col("ts")).as("pt"))
      val iv = e.filter(col("event_id") % 500 === 0)
        .select(col("event_id").as("iv_id"), unix_micros(col("ts")).as("iv_start"),
          unix_micros(col("ts") + expr("INTERVAL 6 HOURS")).as("iv_end"))
      graft.operators.Temporal.rangeJoin(pts, iv, "pt", "iv_start", "iv_end",
          bucketWidth = 21600000000L) // one bucket = the 6 h interval length, in micros
        .groupBy("iv_id")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
        .orderBy("iv_id")
    },
    Some("""SELECT i.event_id AS iv_id, count(*) AS n_events, round(sum(e.value), 2) AS sum_value
      FROM events i JOIN events e ON e.ts >= i.ts AND e.ts < i.ts + INTERVAL 6 HOUR
      WHERE i.event_id % 500 = 0
      GROUP BY i.event_id ORDER BY iv_id"""))

  /** PII redaction: counts + masking of emails/phones/IPv4. PII is
   *  synthesized deterministically in-query (every 7th doc) so the
   *  redaction path is actually exercised on both sides. */
  private val text_redact = QueryDef(
    (s, dir) => {
      val d = t(s, dir, "documents").withColumn("t2",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or +1 555 "),
            lpad((col("doc_id") % 100).cast("string"), 2, "0"),
            lit(" 4242 from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7")))
          .otherwise(col("text")))
      TextAnalysis.redactPii(d, "t2")
        .select("doc_id", "n_emails", "n_phones", "n_ips", "redacted").orderBy("doc_id")
    },
    Some(s"""WITH d AS (SELECT doc_id,
        CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' || doc_id ||
          '@example.com or +1 555 ' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ||
          ' 4242 from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
        ELSE text END AS t2 FROM documents)
      SELECT doc_id, ${TextAnalysis.redactPiiSql("t2")} FROM d ORDER BY doc_id"""))

  /** Repetition quality signals: duplicate-token fraction +
   *  most-common-bigram fraction (Gopher rules). The engine side is
   *  one map-only kernel pass; the oracle replays it with an
   *  explode + per-(doc, bigram) aggregate — string identity, so the
   *  kernel's hash-identity counting is independently certified. */
  private val text_repetition = QueryDef(
    (s, dir) => TextAnalysis.withRepetitionStats(t(s, dir, "documents"), "text")
      .select("doc_id", "n_tokens", "dup_token_ratio_e4", "top_bigram_ratio_e4")
      .orderBy("doc_id"),
    Some(s"""WITH tk AS (SELECT doc_id, string_split(${Dedup.normalizeTextSql("text")}, ' ') AS toks
        FROM documents),
      bg AS (SELECT doc_id,
          unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS b
        FROM tk),
      bc AS (SELECT doc_id, max(c) AS topc, CAST(sum(c) AS BIGINT) AS nbg FROM (
          SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b)
        GROUP BY doc_id)
      SELECT tk.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        CASE WHEN len(toks) > 0
          THEN CAST(floor((1.0 - len(list_distinct(toks))::DOUBLE / len(toks)) * 10000) AS BIGINT)
          ELSE 0 END AS dup_token_ratio_e4,
        CASE WHEN coalesce(nbg, 0) > 0
          THEN CAST(floor(topc::DOUBLE / nbg * 10000) AS BIGINT)
          ELSE 0 END AS top_bigram_ratio_e4
      FROM tk LEFT JOIN bc USING (doc_id) ORDER BY doc_id"""))

  /** Benchmark decontamination: distinct-shingle overlap of every doc
   *  against a deterministic pseudo-benchmark (doc_id % 50 = 0). */
  private val decontaminate = QueryDef(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationCheck(docs, "doc_id", "text",
          docs.filter(col("doc_id") % 50 === 0), "text")
        // n_shingles > 0 guard: a zero-shingle (empty/short) doc must
        // not be flagged via the degenerate 0 >= 0 ratio
        .withColumn("contaminated",
          col("n_matched") * 2 >= col("n_shingles") && col("n_shingles") > 0)
        .orderBy("doc_id")
    },
    // string-shingle replay: intersect counts match the hash-merge
    // kernel exactly (same distinct-shingle sets; xxhash collisions
    // would break dedup_neardup first)
    Some(s"""WITH d AS (SELECT doc_id, sh FROM $jaccardShinglesSql),
      b AS (SELECT list(DISTINCT u.s) AS bl
            FROM (SELECT unnest(sh) AS s FROM d WHERE doc_id % 50 = 0) u)
      SELECT d.doc_id, CAST(len(d.sh) AS BIGINT) AS n_shingles,
        CAST(len(list_intersect(d.sh, b.bl)) AS BIGINT) AS n_matched,
        len(list_intersect(d.sh, b.bl)) * 2 >= len(d.sh) AND len(d.sh) > 0 AS contaminated
      FROM d, b ORDER BY doc_id"""))

  private val multimodal_meta = QueryDef(
    (s, dir) => Multimodal.asMediaTable(t(s, dir, "documents"), "doc_id", "text", "text")
      .select("id", "modality", "byte_len").orderBy("id"),
    Some("""SELECT CAST(doc_id AS BIGINT) AS id, 'text' AS modality,
      CAST(octet_length(encode(text)) AS BIGINT) AS byte_len FROM documents ORDER BY id"""))

  /** Frame-sampling plumbing over the media table: one row per
   *  sampled frame with its byte window — the explode shape a real
   *  demuxer feeds. The stub codec never matters here: indices and
   *  window arithmetic ARE the Spark-side contract, and DuckDB
   *  replays them exactly. */
  private val multimodal_frames = QueryDef(
    (s, dir) => Multimodal.sampleFrames(s,
        Multimodal.asMediaTable(t(s, dir, "documents"), "doc_id", "text", "text"),
        frameBytes = 128, stride = 2)
      .select(col("id"), col("frame_idx").cast("long").as("frame_idx"),
        octet_length(col("frame_payload")).cast("long").as("frame_len"))
      .orderBy("id", "frame_idx"),
    Some("""SELECT id, frame_idx, least(blen, frame_idx * 128 + 128) - frame_idx * 128 AS frame_len
      FROM (
        SELECT CAST(doc_id AS BIGINT) AS id, octet_length(encode(text)) AS blen,
          unnest(range(0, greatest(octet_length(encode(text)) // 128, 1), 2)) AS frame_idx
        FROM documents)
      ORDER BY id, frame_idx"""))

  /** Incremental near-dup dedup of a synthetic re-ingest batch
   *  (exact re-crawls under new ids, lightly-edited near-dups, and
   *  genuinely fresh docs) against the documents corpus as history.
   *  The engine works from history's slim MinHash/shingle-hash state
   *  (band join + exact verify); the oracle is BRUTE FORCE over all
   *  batch x history pairs — checking both precision (every dropped
   *  row really has a >= 0.8 Jaccard historical twin) and recall
   *  (banding surfaced every such pair). */
  private val dedup_incremental_near = QueryDef(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val recrawl = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val nearEdit = docs.filter(col("doc_id") % 5 === 1)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" appended tail")).as("text"))
      val fresh = docs.filter(col("doc_id") % 5 === 2)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(lit("wholly unrelated fresh content block number "),
            col("doc_id").cast("string")).as("text"))
      graft.operators.Dedup.incrementalNearDedup(
          recrawl.unionByName(nearEdit).unionByName(fresh), docs, "doc_id", "text",
          minJaccard = 0.8)
        .select("doc_id").orderBy("doc_id")
    },
    Some {
      def shOf(src: String) = {
        val norm = Dedup.normalizeTextSql("text")
        s"""(SELECT doc_id, list_distinct(
          CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
          ELSE list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')) END) AS sh
          FROM (SELECT doc_id, string_split($norm, ' ') AS toks FROM $src))"""
      }
      s"""WITH newbatch AS (
        SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id, text || ' appended tail' AS text
        FROM documents WHERE doc_id % 5 = 1
        UNION ALL
        SELECT doc_id + 3000000 AS doc_id,
          'wholly unrelated fresh content block number ' || CAST(doc_id AS VARCHAR) AS text
        FROM documents WHERE doc_id % 5 = 2),
      bsh AS (SELECT * FROM ${shOf("newbatch")}),
      hsh AS (SELECT * FROM ${shOf("documents")} WHERE sh IS NOT NULL),
      dup AS (
        SELECT DISTINCT b.doc_id FROM bsh b JOIN hsh h
          ON least(len(b.sh), len(h.sh)) >= 0.8 * greatest(len(b.sh), len(h.sh))
         AND len(list_intersect(b.sh, h.sh))::DOUBLE
             / len(list_distinct(list_concat(b.sh, h.sh))) >= 0.8)
      SELECT doc_id FROM newbatch
      WHERE doc_id NOT IN (SELECT doc_id FROM dup)
      ORDER BY doc_id"""
    })

  /** BPE tokenizer, trained distributedly (6 merges over the
   *  doc_id<300 slice: one corpus pass, then vocabulary-bounded pair
   *  aggregations) and applied map-only to EVERY document with the
   *  merge table broadcast. The oracle replays both phases: training
   *  unrolled one CTE block per merge (pair counts -> argmax with
   *  the same tie-break -> fixpoint-replace application), then the
   *  encode fold — so a hash match pins the learned merges AND the
   *  per-doc token counts. Text is pre-cleaned to [a-z ] (pinned on
   *  both sides) so the oracle's `|` symbol delimiter cannot collide. */
  private val text_bpe = QueryDef(
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), regexp_replace(lower(col("text")), "[^a-z]+", " ").as("clean"))
      val merges = graft.operators.Bpe.train(
        docs.filter(col("doc_id") < 300), "clean", nMerges = 6, maxWordLen = 12)
      graft.operators.Bpe.encodeCounts(docs, "doc_id", "clean", merges, maxWordLen = 12)
        .orderBy("doc_id")
    },
    Some(graft.operators.Bpe.trainEncodeSql(
      cleanSql = "regexp_replace(lower(text), '[^a-z]+', ' ', 'g')",
      trainFilter = "doc_id < 300", nMerges = 6, maxWordLen = 12)))

  /** REAL PNG encode→decode round trip, distributed end to end:
   *  synthesize a deterministic RGB pattern per doc, encode to PNG
   *  bytes, decode through the javax.imageio codec, and emit each
   *  decoded raster's dims + position-weighted pixel checksum. DuckDB
   *  cannot decode PNG — it replays the PATTERN (linear channel
   *  formulas in (id, x, y)) and the checksum arithmetic directly,
   *  so a hash match proves the decoded pixels are exactly the
   *  encoded ones: real codec work, independently verified. */
  private val multimodal_decode = QueryDef(
    (s, dir) => {
      val ids = t(s, dir, "documents").filter(col("doc_id") < 200).select("doc_id")
      Multimodal.decodeMedia(s, Multimodal.synthesizePngs(s, ids, "doc_id").toDF())
        .select(col("id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("pix_hash"))
        .orderBy("id")
    },
    Some("""WITH imgs AS (
        SELECT CAST(doc_id AS BIGINT) AS id, 8 + doc_id % 5 AS w, 8 + doc_id % 7 AS h
        FROM documents WHERE doc_id < 200),
      pix AS (
        SELECT i.id, i.w, i.h, x.x, y.y,
               (i.id * 31 + x.x * 7 + y.y * 13) % 256 AS r,
               (i.id * 17 + x.x * 11 + y.y * 5) % 256 AS g,
               (i.id * 7 + x.x * 3 + y.y * 29) % 256 AS b
        FROM imgs i
        JOIN generate_series(0, 11) AS x(x) ON x.x < i.w
        JOIN generate_series(0, 13) AS y(y) ON y.y < i.h)
      SELECT id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             CAST(SUM((r + 256*g + 65536*b) * (1 + x + y*w)) AS BIGINT) AS pix_hash
      FROM pix GROUP BY id, w, h ORDER BY id"""))

  /** Real AVI mux→demux round trip, frame-level: synthesized
   *  uncompressed-DIB videos (2..5 frames each) demuxed by the pure
   *  chunk-walk [[Multimodal.AviCodec]], every 2nd frame emitted with
   *  its position-weighted raster checksum. The oracle cannot parse
   *  AVI — it replays the synthesized pixel pattern per (id, frame)
   *  directly in SQL, so a hash match proves the container encode,
   *  the chunk walk, the bottom-up padded-BGR conversion and the
   *  stride sampling are all EXACT. */
  private val multimodal_video = QueryDef(
    (s, dir) => {
      val ids = t(s, dir, "documents").filter(col("doc_id") < 200).select("doc_id")
      Multimodal.decodeVideoFrames(s, Multimodal.synthesizeAvis(s, ids, "doc_id").toDF(), stride = 2)
        .select(col("id"), col("frame_idx").cast("long").as("frame_idx"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"),
          col("pix_hash"))
        .orderBy("id", "frame_idx")
    },
    Some("""WITH vids AS (
        SELECT CAST(doc_id AS BIGINT) AS id, 8 + doc_id % 5 AS w, 8 + doc_id % 7 AS h,
               2 + doc_id % 4 AS nf
        FROM documents WHERE doc_id < 200),
      frames AS (
        SELECT id, w, h, unnest(range(0, nf, 2)) AS f FROM vids),
      pix AS (
        SELECT fr.id, fr.f, fr.w, fr.h, x.x, y.y,
               (fr.id * 31 + fr.f * 19 + x.x * 7 + y.y * 13) % 256 AS r,
               (fr.id * 17 + fr.f * 23 + x.x * 11 + y.y * 5) % 256 AS g,
               (fr.id * 7 + fr.f * 37 + x.x * 3 + y.y * 29) % 256 AS b
        FROM frames fr
        JOIN generate_series(0, 11) AS x(x) ON x.x < fr.w
        JOIN generate_series(0, 13) AS y(y) ON y.y < fr.h)
      SELECT id, CAST(f AS BIGINT) AS frame_idx, CAST(w AS BIGINT) AS width,
             CAST(h AS BIGINT) AS height,
             CAST(SUM((r + 256*g + 65536*b) * (1 + x + y*w)) AS BIGINT) AS pix_hash
      FROM pix GROUP BY id, f, w, h ORDER BY id, frame_idx"""))

  /** DSIR importance resampling: target model from the curated slice
   *  (doc_id < 300), source model from a corpus sample (doc_id % 7 =
   *  0), keep each doc with probability min(1, p_tgt/p_src) —
   *  deterministic in doc id, both scoring passes map-only with
   *  models broadcast. The oracle replays both trainings, both
   *  scorings, the weight arithmetic and the acceptance predicate. */
  private val sample_dsir = QueryDef(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val tgt = graft.operators.Lm.trainBigram(docs.filter(col("doc_id") < 300), "doc_id", "text")
      val src = graft.operators.Lm.trainBigram(docs.filter(col("doc_id") % 7 === 0), "doc_id", "text")
      graft.operators.Lm.importanceSample(docs, "doc_id", "text", tgt, src).orderBy("doc_id")
    },
    Some(graft.operators.Lm.importanceSql("documents", "doc_id", "text",
      targetFilter = "doc_id < 300", sourceFilter = "doc_id % 7 = 0",
      sampled = true) + " ORDER BY doc_id"))

  /** DSIR importance resampling with the KNESER-NEY model faces
   *  swapped in ([[graft.operators.Lm.importanceSampleKn]]) — the
   *  cited recipe's actual practice (KenLM models are KN-smoothed,
   *  not add-one): same target/source slices and acceptance predicate
   *  as `sample_dsir`, likelihoods under interpolated KN. The oracle
   *  replays BOTH full KN trainings (bigram + continuation faces),
   *  both scorings, the weight arithmetic and the predicate. */
  private val sample_dsir_kn = QueryDef(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val tgt = graft.operators.Lm.trainKneserNey(docs.filter(col("doc_id") < 300), "doc_id", "text")
      val src = graft.operators.Lm.trainKneserNey(docs.filter(col("doc_id") % 7 === 0), "doc_id", "text")
      graft.operators.Lm.importanceSampleKn(docs, "doc_id", "text", tgt, src).orderBy("doc_id")
    },
    Some(graft.operators.Lm.importanceKnSql("documents", "doc_id", "text",
      targetFilter = "doc_id < 300", sourceFilter = "doc_id % 7 = 0",
      sampled = true) + " ORDER BY doc_id"))

  /** End-to-end C4/CCNet-style curation pipeline, composed from the
   *  engine's own stages: language ID + quality score + repetition
   *  ratio FUSE into ONE corpus scan (all per-row expressions);
   *  perplexity (bounded model broadcast, one groupBy(doc)) and
   *  exact-dedup keep-first join back on doc_id. Catalyst pushes the
   *  per-row threshold filters below the joins, so the doc_id-keyed
   *  joins see only survivors. The oracle recomputes every stage and
   *  the same thresholds. */
  private val pipeline_c4 = QueryDef(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val lm = graft.operators.Lm.trainBigram(docs.filter(col("doc_id") < 300), "doc_id", "text")
      val sig = TextAnalysis.signalFilter(docs,
        minQualityE4 = 4000, maxDupRatioE4 = 6500, lang = "en")
      val ppl = graft.operators.Lm.crossEntropy(docs, "doc_id", "text", lm)
        .select(col("doc_id"), col("cross_entropy"))
        .filter(col("cross_entropy") <= 3.45)
      val keep = Dedup.exactDedup(docs, "doc_id", "text").select(col("keep_id").as("doc_id"))
      sig.join(keep, "doc_id").join(ppl, "doc_id").orderBy("doc_id")
    },
    Some {
      val norm = Dedup.normalizeTextSql("text")
      s"""WITH plang AS ($langIdSql),
      pqual AS (SELECT doc_id, ${TextAnalysis.qualitySql("text")} FROM documents),
      ptk AS (SELECT doc_id, string_split($norm, ' ') AS toks FROM documents),
      prep AS (SELECT doc_id,
        CASE WHEN len(toks) > 0
          THEN CAST(floor((1.0 - len(list_distinct(toks))::DOUBLE / len(toks)) * 10000) AS BIGINT)
          ELSE 0 END AS dup_token_ratio_e4 FROM ptk),
      pkeep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY $norm),
      pppl AS (SELECT * FROM (${graft.operators.Lm.perplexitySql("documents", "doc_id", "text",
        trainFilter = "doc_id < 300")}))
      SELECT l.doc_id, l.pred_lang, q.quality_score_e4, r.dup_token_ratio_e4, p.cross_entropy
      FROM plang l
      JOIN pkeep USING (doc_id) JOIN pqual q USING (doc_id)
      JOIN prep r USING (doc_id) JOIN pppl p USING (doc_id)
      WHERE l.pred_lang = 'en' AND q.quality_score_e4 >= 4000
        AND r.dup_token_ratio_e4 <= 6500 AND p.cross_entropy <= 3.45
      ORDER BY doc_id"""
    })

  /** End-to-end RELEASE pipeline — the full training-data publication
   *  gate composed from the engine's own stages, every one already
   *  individually oracle-replayed: (1) near-dup dedup (LSH candidates
   *  → exact-Jaccard verify; a doc with a verified J ≥ 0.8 twin of
   *  smaller id drops), (2) the fused signal filter (langid + quality
   *  + repetition, ONE scan), (3) PII redaction of a planted contact
   *  block (the text_redact fixture — doc_id % 7 plants an email,
   *  phone, IP), (4) a k-anonymity SUPPRESSION gate (release only
   *  source groups holding ≥ 5 released docs — the one-rung
   *  suppression mechanism; the generalization ladder lives in
   *  q_kanon), (5) leakage-safe train/val/test split keyed on the
   *  released text's exact-dup representative, and (6) greedy
   *  token-budget shard packing of the released corpus. Stages 2-4
   *  are per-row expressions + one narrow (source, n) aggregate, so
   *  Catalyst fuses them onto the scan; the released frame is pinned
   *  once (gcPersist) because both the packer and the split window
   *  fan out from it — at corpus scale this materialization IS the
   *  published release. The oracle replays every stage in one CTE
   *  chain, the packer via the recursive next-fit walk. */
  private val pipeline_release = QueryDef(
    (s, dir) => {
      val docs = t(s, dir, "documents").withColumn("t2",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or +1 555 "),
            lpad((col("doc_id") % 100).cast("string"), 2, "0"),
            lit(" 4242 from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7")))
          .otherwise(col("text")))
      val dupIds = Dedup.nearDuplicates(docs, "doc_id", "text", minJaccard = 0.8)
        .select(col("id_b").as("doc_id")).distinct()
      val sig = TextAnalysis.signalFilter(docs,
        minQualityE4 = 4000, maxDupRatioE4 = 6500, lang = "en").select("doc_id")
      val red = TextAnalysis.redactPii(
        docs.join(sig, "doc_id").join(dupIds, Seq("doc_id"), "left_anti"), "t2")
      val qiOk = red.groupBy("source").agg(count(lit(1)).as("__qn"))
        .filter(col("__qn") >= 5).select("source")
      val gated = graft.operators.CacheUtil.gcPersist(red.join(broadcast(qiOk), "source")
        .select("doc_id", "source", "n_emails", "n_phones", "n_ips", "redacted"))
      val packed = graft.operators.Packing.packGreedy(
        gated.withColumn("n_tok", TextAnalysis.wsTokenCount(col("redacted"))),
        "doc_id", "n_tok", budget = 512L, nBuckets = 8)
      graft.operators.Sampling.withLeakageSafeSplit(gated, "doc_id", "redacted")
        .select("doc_id", "source", "split", "n_emails", "n_phones", "n_ips")
        .join(packed, "doc_id")
        .orderBy("doc_id")
    },
    Some {
      val norm = Dedup.normalizeTextSql("text")
      s"""WITH d AS (SELECT doc_id, text, lang, source,
        CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' || doc_id ||
          '@example.com or +1 555 ' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ||
          ' 4242 from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
        ELSE text END AS t2 FROM documents),
      dup AS (SELECT DISTINCT id_b AS doc_id FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        FROM $jaccardShinglesSql a JOIN $jaccardShinglesSql b
          ON a.doc_id < b.doc_id
          AND least(len(a.sh), len(b.sh)) >= 0.8 * greatest(len(a.sh), len(b.sh)))
        WHERE jaccard >= 0.8),
      plang AS ($langIdSql),
      pqual AS (SELECT doc_id, ${TextAnalysis.qualitySql("text")} FROM documents),
      ptk AS (SELECT doc_id, string_split($norm, ' ') AS toks FROM documents),
      prep AS (SELECT doc_id,
        CASE WHEN len(toks) > 0
          THEN CAST(floor((1.0 - len(list_distinct(toks))::DOUBLE / len(toks)) * 10000) AS BIGINT)
          ELSE 0 END AS dup_token_ratio_e4 FROM ptk),
      pred AS (SELECT doc_id, ${TextAnalysis.redactPiiSql("t2")} FROM d),
      rel AS MATERIALIZED (
        SELECT d.doc_id, d.source, r.n_emails, r.n_phones, r.n_ips, r.redacted
        FROM d JOIN plang l USING (doc_id) JOIN pqual q USING (doc_id)
          JOIN prep p USING (doc_id) JOIN pred r USING (doc_id)
        WHERE d.doc_id NOT IN (SELECT doc_id FROM dup)
          AND l.pred_lang = 'en' AND q.quality_score_e4 >= 4000
          AND p.dup_token_ratio_e4 <= 6500),
      gated AS MATERIALIZED (SELECT * FROM rel WHERE source IN (
        SELECT source FROM rel GROUP BY source HAVING count(*) >= 5)),
      spl AS (SELECT doc_id, source, n_emails, n_phones, n_ips,
          ${graft.operators.Sampling.splitSql("rep")} AS split
        FROM (SELECT *, min(doc_id) OVER (
          PARTITION BY ${Dedup.normalizeTextSql("redacted")}) AS rep FROM gated)),
      pk AS (SELECT * FROM (${graft.operators.Packing.packGreedySql(
          "gated", "doc_id", raw"len(regexp_split_to_array(trim(redacted), '\s+'))",
          budget = 512L, nBuckets = 8)}))
      SELECT s.doc_id, s.source, s.split, s.n_emails, s.n_phones, s.n_ips,
        p.bucket, p.seq, p.seq_pos, p.n_tok
      FROM spl s JOIN pk p USING (doc_id) ORDER BY s.doc_id"""
    })

  /** Bigram-LM perplexity scoring (the CCNet-style quality filter):
   *  train add-one-smoothed bigram counts on the doc_id<300 reference
   *  slice, score EVERY document's per-word cross-entropy with the
   *  model broadcast — corpus side is a map-side bigram explode plus
   *  one partially-aggregated groupBy. The oracle replays training
   *  and scoring in full; 6-dp rounding (the collocations convention)
   *  pins the float hash across engines. */
  /** Naive Bayes source classifier: train counts on the doc_id < 300
   *  slice, classify the whole corpus (argmax of 6-dp-rounded
   *  log-scores — the round-before-argmax keeps both engines'
   *  predictions identical). */
  private val text_nb = QueryDef(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.operators.Classify.trainNb(
        docs.filter(col("doc_id") < 300), "source", "doc_id", "text")
      graft.operators.Classify.classifyNb(docs, "doc_id", "text", model).orderBy("doc_id")
    },
    Some(graft.operators.Classify.classifySql("documents", "source", "doc_id", "text",
      trainFilter = "doc_id < 300") + " ORDER BY doc_id"))

  /** Classifier evaluation on HELD-OUT data (the third eval-family
   *  member, after ann_recall and dedup_calibration): the NB model
   *  trained on doc_id < 300 predicts sources for the unseen rest,
   *  and the confusion matrix (true x predicted counts) is the
   *  publishable quality gate — per-class precision/recall derive
   *  from these integers. The oracle wraps the full train+classify
   *  replay and recounts. */
  private val text_nb_eval = QueryDef(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.operators.Classify.trainNb(
        docs.filter(col("doc_id") < 300), "source", "doc_id", "text")
      graft.operators.Classify.classifyNb(docs.filter(col("doc_id") >= 300), "doc_id", "text", model)
        .join(docs.select(col("doc_id"), col("source").as("true_label")), "doc_id")
        .groupBy(col("true_label"), col("pred_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy("true_label", "pred_label")
    },
    Some(s"""WITH preds AS (
      ${graft.operators.Classify.classifySql("documents", "source", "doc_id", "text",
        trainFilter = "doc_id < 300")})
      SELECT d.source AS true_label, p.pred_label, CAST(count(*) AS BIGINT) AS n
      FROM preds p JOIN documents d USING (doc_id)
      WHERE d.doc_id >= 300 GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Nearest-centroid (Rocchio) classifier on hashed features — the
   *  one-pass linear-model trainer next to text_nb's probabilistic
   *  counts: class centroids over 64 hashed token-count buckets,
   *  e6-scaled integer floor divisions, and an all-BIGINT decision
   *  value (the per-doc norm term cancels between classes), so
   *  training AND scoring replay bit-identically in SQL. Ground
   *  truth is planted (y = doc uses the token 'spark' at least
   *  twice): the signal lives in one hash bucket and the trained
   *  centroid difference must recover it from the counts alone.
   *  Held-out eval: train on doc_id < 300, per-doc predictions +
   *  true labels on the unseen rest. */
  private val text_centroid = QueryDef(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val isPos = size(filter(graft.operators.TextAnalysis.tokens(col("text")),
        w => w === "spark")) >= 2
      val labeled = docs.filter(col("doc_id") < 300).withColumn("__y", isPos)
      val model = graft.operators.Classify.trainCentroid(labeled, "__y", "doc_id", "text")
      graft.operators.Classify.classifyCentroid(
          docs.filter(col("doc_id") >= 300), "doc_id", "text", model)
        .join(docs.select(col("doc_id"),
          when(isPos, "pos").otherwise("neg").as("true_label")), "doc_id")
        .orderBy("doc_id")
    },
    Some {
      val norm = graft.operators.Dedup.normalizeTextSql("text")
      val labelExpr = s"len(list_filter(string_split($norm, ' '), x -> x = 'spark')) >= 2"
      s"""WITH preds AS (
        ${graft.operators.Classify.centroidSql("documents", labelExpr, "doc_id", "text",
          trainFilter = "doc_id < 300", scoreFilter = "doc_id >= 300")})
      SELECT p.doc_id, p.delta, p.pred_label,
        CASE WHEN $labelExpr THEN 'pos' ELSE 'neg' END AS true_label
      FROM preds p JOIN documents USING (doc_id) ORDER BY doc_id"""
    })

  /** Classifier calibration curve (reliability diagram): held-out
   *  centroid decision values cut into exact deciles (Rank.curriculum
   *  = distributed ntile, never a single-task window), per-bin
   *  support + positive counts as integers and the observed positive
   *  rate at 6 dp — monotone bin positive rates are what "the score
   *  is usable as a probability ranking" looks like. Oracle replays
   *  train, scoring, the ntile cut and the rollup. */
  private val text_calibration = QueryDef(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val isPos = size(filter(graft.operators.TextAnalysis.tokens(col("text")),
        w => w === "spark")) >= 2
      val labeled = docs.filter(col("doc_id") < 300).withColumn("__y", isPos)
      val model = graft.operators.Classify.trainCentroid(labeled, "__y", "doc_id", "text")
      val scored = graft.operators.Classify.classifyCentroid(
          docs.filter(col("doc_id") >= 300), "doc_id", "text", model)
        .join(docs.select(col("doc_id"), isPos.as("__y")), "doc_id")
      graft.operators.Rank.curriculum(scored, Seq(col("delta"), col("doc_id")), phases = 10)
        .groupBy(col("phase").as("bin"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
          min("delta").as("lo_delta"), max("delta").as("hi_delta"))
        .withColumn("pos_rate", round(col("n_pos").cast("double") / col("n").cast("double"), 6))
        .orderBy("bin")
    },
    Some {
      val norm = graft.operators.Dedup.normalizeTextSql("text")
      val labelExpr = s"len(list_filter(string_split($norm, ' '), x -> x = 'spark')) >= 2"
      s"""WITH preds AS (
        ${graft.operators.Classify.centroidSql("documents", labelExpr, "doc_id", "text",
          trainFilter = "doc_id < 300", scoreFilter = "doc_id >= 300")}),
      scored AS (
        SELECT p.doc_id, p.delta, ($labelExpr) AS y,
          CAST(ntile(10) OVER (ORDER BY p.delta, p.doc_id) AS BIGINT) AS bin
        FROM preds p JOIN documents USING (doc_id))
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        CAST(min(delta) AS BIGINT) AS lo_delta, CAST(max(delta) AS BIGINT) AS hi_delta,
        round(sum(CASE WHEN y THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 6) AS pos_rate
      FROM scored GROUP BY bin ORDER BY bin"""
    })

  /** Exact quantile normalization of per-source token counts onto
   *  the pooled corpus distribution (the batch-effect correction for
   *  scores from heterogeneous sources): within-group rank r of n_g
   *  maps to the pooled k-th smallest with k = ceil(r*N/n_g) — all
   *  integer, no interpolation. Two distributed range-exchange
   *  rankings + one position equi-join; the oracle replays with
   *  windows. */
  private val q_qnorm = QueryDef(
    (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
        size(filter(graft.operators.TextAnalysis.tokens(col("text")),
          w => length(w) > 0)).cast("long").as("n_tokens"))
      graft.operators.Rank.quantileNormalize(docs, "source", "n_tokens", "doc_id")
        .orderBy("doc_id")
    },
    Some {
      val norm = graft.operators.Dedup.normalizeTextSql("text")
      s"""WITH v AS (
        SELECT doc_id, source,
          CAST(len(list_filter(string_split($norm, ' '), x -> len(x) > 0)) AS BIGINT) AS n_tokens
        FROM documents),
      g AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY n_tokens, doc_id) AS r,
               count(*) OVER (PARTITION BY source) AS ng FROM v),
      p AS (SELECT n_tokens AS qnorm, row_number() OVER (ORDER BY n_tokens, doc_id) AS k FROM v),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v)
      SELECT g.doc_id, g.source, g.n_tokens, p.qnorm
      FROM g CROSS JOIN tot JOIN p ON p.k = (g.r * tot.n + g.ng - 1) // g.ng
      ORDER BY doc_id"""
    })

  /** 5-fold cross-validated centroid-classifier evaluation: fold =
   *  doc_id mod 5, each fold scored by a model trained on the other
   *  four, per-fold confusion integers + 6-dp accuracy — the
   *  is-the-split-lucky hygiene check on top of text_centroid's one
   *  split. The oracle replays all five trainings and scorings. */
  private val text_cv = QueryDef(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val isPos = size(filter(graft.operators.TextAnalysis.tokens(col("text")),
        w => w === "spark")) >= 2
      graft.operators.Classify.cvCentroid(docs, isPos, "doc_id", "text").orderBy("fold")
    },
    Some {
      val norm = graft.operators.Dedup.normalizeTextSql("text")
      val labelExpr = s"len(list_filter(string_split($norm, ' '), x -> x = 'spark')) >= 2"
      graft.operators.Classify.cvCentroidSql("documents", labelExpr, "doc_id", "text") +
        " ORDER BY fold"
    })

  /** Exact ROC curve + AUC of the centroid classifier on held-out
   *  data — the threshold-free eval: one row per distinct decision
   *  value (the threshold sweep) with exact cumulative tp/fp and the
   *  tie-aware Mann-Whitney AUC, all-BIGINT until the final 6-dp
   *  ratios. The cumulative walk is Rank.prefixSums' range-exchange
   *  offset walk, never a single-task window; the oracle replays
   *  train, scoring, the sweep and the AUC identity end to end. */
  private val text_auc = QueryDef(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val isPos = size(filter(graft.operators.TextAnalysis.tokens(col("text")),
        w => w === "spark")) >= 2
      val labeled = docs.filter(col("doc_id") < 300).withColumn("__y", isPos)
      val model = graft.operators.Classify.trainCentroid(labeled, "__y", "doc_id", "text")
      val scored = graft.operators.Classify.classifyCentroid(
          docs.filter(col("doc_id") >= 300), "doc_id", "text", model)
        .join(docs.select(col("doc_id"), isPos.as("__y")), "doc_id")
      graft.operators.Classify.rocAuc(scored, "delta", "__y").orderBy(col("score").desc)
    },
    Some {
      val norm = graft.operators.Dedup.normalizeTextSql("text")
      val labelExpr = s"len(list_filter(string_split($norm, ' '), x -> x = 'spark')) >= 2"
      val scoredSql = s"""WITH preds AS (
        ${graft.operators.Classify.centroidSql("documents", labelExpr, "doc_id", "text",
          trainFilter = "doc_id < 300", scoreFilter = "doc_id >= 300")})
        SELECT p.delta AS score, ($labelExpr) AS y
        FROM preds p JOIN documents d USING (doc_id)"""
      graft.operators.Classify.rocAucSql(scoredSql) + " ORDER BY score DESC"
    })

  /** Curriculum ordering: global rank of every document by LM
   *  cross-entropy (easy -> hard) and exact-ntile phase assignment —
   *  computed with Rank.curriculum's range-exchange + offset walk
   *  instead of the single-task `ntile() OVER (ORDER BY ...)` window
   *  the oracle replays. */
  private val sample_curriculum = QueryDef(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val lm = graft.operators.Lm.trainBigram(docs.filter(col("doc_id") < 300), "doc_id", "text")
      val scored = graft.operators.Lm.crossEntropy(docs, "doc_id", "text", lm)
      graft.operators.Rank.curriculum(scored,
          Seq(col("cross_entropy"), col("doc_id")), phases = 5)
        .select("doc_id", "cross_entropy", "rank", "phase")
        .orderBy("rank")
    },
    Some(s"""WITH ce AS (${graft.operators.Lm.perplexitySql("documents", "doc_id", "text",
        trainFilter = "doc_id < 300")})
      SELECT doc_id, cross_entropy,
        row_number() OVER (ORDER BY cross_entropy, doc_id) AS rank,
        CAST(ntile(5) OVER (ORDER BY cross_entropy, doc_id) AS BIGINT) AS phase
      FROM ce ORDER BY rank"""))

  /**
   * Quality-signal rank fusion (the FineWeb-style ensemble selection
   * step: no single signal is trusted, so each doc's PERCENTILE
   * STANDING per signal is combined, not the raw scores — scale-free
   * and outlier-robust by construction). Three signals (bigram
   * cross-entropy asc, token-distribution entropy desc, length desc)
   * are fused into ONE distributed range-exchange row_number (never
   * a single-task window), the rank sum is re-ranked the same way,
   * and the top half is selected with exact ntile semantics. All
   * rank arithmetic is integer — the only floats are the
   * already-hash-proven signal values themselves.
   */
  private val text_ensemble = QueryDef(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val lm = graft.operators.Lm.trainBigram(docs.filter(col("doc_id") < 300), "doc_id", "text")
      val ce = graft.operators.Lm.crossEntropy(docs, "doc_id", "text", lm)
        .select("doc_id", "cross_entropy")
      val te = TextAnalysis.tokenEntropy(docs, "doc_id", "text")
        .select("doc_id", "entropy", "n_tokens")
      // the signal pipeline is the expensive part — pin it once
      // (slim: id + 3 values per doc); the block size n for the fused
      // ranking rides the checkpoint job as an observed metric (the
      // q_rfm/ancestorPairs pattern — the old shape paid a separate
      // count job over data the checkpoint had just materialized)
      // gcPersist (CacheUtil convention): the cache lives exactly as
      // long as the result plan — no session CacheManager entry, so
      // library callers need no clearCache between corpora
      val sigObs = new org.apache.spark.sql.Observation()
      val sig = graft.operators.CacheUtil.gcPersist(
        ce.join(te, "doc_id").observe(sigObs, count(lit(1)).as("n")))
      val n = sigObs.get("n").asInstanceOf[Long]
      // ONE fused ranking instead of three (the q_rfm precedent,
      // r14 verdict item 1): explode each doc into (metric-code,
      // orientable sort key) rows — descending metrics are NEGATED
      // (float negation is exact) so one ascending (w, v, doc_id)
      // order ranks all three — and range-rank the 3n-row union.
      // Each metric occupies a contiguous block of EXACTLY n rows,
      // so its within-block rank is (rank - 1) % n + 1. One sample
      // job + one size job + one rank pass replace three sequential
      // range-exchange cycles (the r11-r14 shape ran them on
      // concurrent futures, overlapping the floors but still paying
      // three exchanges); reassembly is a map-side-combinable
      // groupBy(doc_id), not joins.
      val ex = sig.select(col("doc_id"), explode(array(
          struct(lit(0).as("w"), col("cross_entropy").cast("double").as("v")),
          struct(lit(1).as("w"), (-col("entropy")).cast("double").as("v")),
          struct(lit(2).as("w"), (-col("n_tokens")).cast("double").as("v")))).as("e"))
        .select(col("doc_id"), col("e.w").as("w"), col("e.v").as("v"))
      val ranked = graft.operators.Rank.globalRowNumber(ex,
        Seq(col("w").asc, col("v").asc, col("doc_id").asc))
      val summed = ranked
        .withColumn("wr", expr(s"(rank - 1) % ${n}L + 1"))
        .groupBy("doc_id").agg(
          max(when(col("w") === 0, col("wr"))).as("r_ppl"),
          max(when(col("w") === 1, col("wr"))).as("r_ent"),
          max(when(col("w") === 2, col("wr"))).as("r_len"))
        .withColumn("rank_sum", col("r_ppl") + col("r_ent") + col("r_len"))
      graft.operators.Rank.curriculum(summed, Seq(col("rank_sum"), col("doc_id")), phases = 2)
        .select(col("doc_id"), col("r_ppl"), col("r_ent"), col("r_len"),
          col("rank").as("ens_rank"), (col("phase") === 1).as("keep"))
        .orderBy("ens_rank")
    },
    Some(s"""WITH ce AS (${graft.operators.Lm.perplexitySql("documents", "doc_id", "text",
        trainFilter = "doc_id < 300")}),
      te AS (${tokenEntropySql}),
      sig AS (SELECT c.doc_id, c.cross_entropy, t.entropy, t.n_tokens
        FROM ce c JOIN te t USING (doc_id)),
      r AS (SELECT doc_id,
          row_number() OVER (ORDER BY cross_entropy, doc_id) AS r_ppl,
          row_number() OVER (ORDER BY entropy DESC, doc_id) AS r_ent,
          row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS r_len
        FROM sig),
      e AS (SELECT doc_id, r_ppl, r_ent, r_len, r_ppl + r_ent + r_len AS rank_sum FROM r)
      SELECT doc_id, r_ppl, r_ent, r_len,
        row_number() OVER (ORDER BY rank_sum, doc_id) AS ens_rank,
        CAST(ntile(2) OVER (ORDER BY rank_sum, doc_id) AS BIGINT) = 1 AS keep
      FROM e ORDER BY ens_rank"""))

  /** SQL twin of TextAnalysis.tokenEntropy — flat (no WITH) so it
   *  embeds as a CTE body; shared by `text_entropy` and
   *  `text_ensemble`. */
  private lazy val tokenEntropySql: String = {
    val norm = Dedup.normalizeTextSql("text")
    s"""SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        count(*) AS n_types,
        round(ln(sum(c)::DOUBLE) - sum(c::DOUBLE * ln(c::DOUBLE)) / sum(c), 6) AS entropy,
        count(*) * 10000 // CAST(sum(c) AS BIGINT) AS ttr_e4
      FROM (SELECT doc_id, term, count(*) AS c FROM (
          SELECT doc_id, unnest(list_filter(string_split($norm, ' '), x -> len(x) > 0)) AS term
          FROM documents) GROUP BY 1, 2)
      GROUP BY doc_id"""
  }

  /** Token-distribution entropy + type-token ratio per document
   *  (gibberish / keyword-stuffing signals): one map-side-combined
   *  (doc, term) aggregate, H = ln n - sum(c ln c)/n. */
  private val text_entropy = QueryDef(
    (s, dir) => TextAnalysis.tokenEntropy(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id"),
    Some(s"$tokenEntropySql ORDER BY doc_id"))

  private val text_perplexity = QueryDef(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val lm = graft.operators.Lm.trainBigram(docs.filter(col("doc_id") < 300), "doc_id", "text")
      graft.operators.Lm.crossEntropy(docs, "doc_id", "text", lm).orderBy("doc_id")
    },
    Some(graft.operators.Lm.perplexitySql("documents", "doc_id", "text",
      trainFilter = "doc_id < 300") + " ORDER BY doc_id"))

  /** Interpolated Kneser-Ney bigram scoring
   *  ([[graft.operators.Lm.crossEntropyKn]]) — the smoothing CCNet's
   *  KenLM models actually use, vs text_perplexity's add-one: the
   *  continuation-count faces reward words seen in MANY contexts
   *  rather than merely often, so reference-like text separates from
   *  tail noise much more sharply. Same train slice, same output
   *  shape; the oracle replays training (all four count faces) and
   *  the discounted interpolation formula in full. */
  private val text_kneserney = QueryDef(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val lm = graft.operators.Lm.trainKneserNey(docs.filter(col("doc_id") < 300), "doc_id", "text")
      graft.operators.Lm.crossEntropyKn(docs, "doc_id", "text", lm).orderBy("doc_id")
    },
    Some(graft.operators.Lm.kneserNeySql("documents", "doc_id", "text",
      trainFilter = "doc_id < 300") + " ORDER BY doc_id"))

  /** REAL WAV encode→decode round trip, distributed end to end:
   *  synthesize a deterministic PCM16 signal per doc (pure integer
   *  function of the two-round mixer), encode to RIFF/WAVE bytes,
   *  decode through [[Multimodal.WavCodec]]'s chunk walk, and emit
   *  integer-exact per-clip features (duration, magnitudes, energy,
   *  zero crossings). DuckDB cannot parse WAV — it replays the SIGNAL
   *  formula and the feature arithmetic directly, so a hash match
   *  proves the decoded samples are exactly the encoded ones. The
   *  whole Spark side is MAP-ONLY (one clip per row; no shuffle). */
  private val multimodal_audio = QueryDef(
    (s, dir) => {
      val ids = t(s, dir, "documents").filter(col("doc_id") < 200).select("doc_id")
      Multimodal.wavFeatures(s, Multimodal.synthesizeWavs(s, ids, "doc_id").toDF())
        .toDF().orderBy("id")
    },
    Some {
      val h1 = graft.operators.Sampling.knuthHashSql("(id * 4096 + i)")
      val h = graft.operators.Sampling.knuthHashSql("xor(h1, h1 // 65536)")
      s"""WITH clips AS (
        SELECT CAST(doc_id AS BIGINT) AS id, 256 + (doc_id % 7) * 64 AS n
        FROM documents WHERE doc_id < 200),
      keyed AS (
        SELECT c.id, t.i FROM clips c
        JOIN generate_series(0, 639) AS t(i) ON t.i < c.n),
      r1 AS (SELECT id, i, $h1 AS h1 FROM keyed),
      r2 AS (SELECT id, i, $h AS h FROM r1),
      samp AS (
        SELECT id, i,
          ((h % 9999) + 1) * (CASE WHEN (h // 16384) % 2 = 0 THEN 1 ELSE -1 END) AS v
        FROM r2),
      lagged AS (
        SELECT id, v, lag(v) OVER (PARTITION BY id ORDER BY i) AS pv FROM samp)
      SELECT id, CAST(count(*) AS BIGINT) AS n_samples,
        CAST(8000 AS BIGINT) AS sample_rate,
        CAST(count(*) * 125 AS BIGINT) AS duration_us,
        CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
        CAST(max(abs(v)) AS BIGINT) AS peak,
        CAST(sum(v * v) AS BIGINT) AS energy,
        CAST(sum(CASE WHEN pv IS NOT NULL AND ((pv < 0) <> (v < 0)) THEN 1 ELSE 0 END) AS BIGINT)
          AS zero_crossings
      FROM lagged GROUP BY id ORDER BY id"""
    })

  /** Perceptual image dedup over REAL decoded bytes: plant duplicate
   *  images under distinct ids (pixel content keyed by doc_id % 40),
   *  encode each group to REAL PNG bytes, decode via javax.imageio,
   *  dHash the rasters ([[Multimodal.dHash]] — 8x8 luminance grid,
   *  horizontal brightness comparisons, 56 bits), and group ids by
   *  hash. DuckDB cannot decode PNG — it replays the pixel pattern,
   *  the integer grid sampling and the bit packing arithmetically, so
   *  a hash match proves the encode→decode→perceptual-hash path is
   *  bit-exact. MAP-ONLY until the final dup-group aggregate. */
  private val multimodal_phash = QueryDef(
    (s, dir) => {
      val ids = t(s, dir, "documents").filter(col("doc_id") < 400)
        .select(col("doc_id"), (col("doc_id") % 40).as("pattern"))
      val media = Multimodal.synthesizePngsKeyed(s, ids, "doc_id", "pattern").toDF()
      Multimodal.imagePhash(s, media).toDF()
        .groupBy(col("phash"))
        .agg(count(lit(1)).as("n_images"), min(col("id")).as("first_id"))
        .filter(col("n_images") > 1)
        .orderBy("phash")
    },
    Some("""WITH imgs AS (
        SELECT CAST(doc_id AS BIGINT) AS id, CAST(doc_id % 40 AS BIGINT) AS pat,
               8 + (doc_id % 40) % 5 AS w, 8 + (doc_id % 40) % 7 AS h
        FROM documents WHERE doc_id < 400),
      grid AS (
        SELECT i.id, i.pat, gi.i AS gi, gj.j AS gj,
               (gi.i * i.w) // 8 AS x, (gj.j * i.h) // 8 AS y
        FROM imgs i, generate_series(0, 7) AS gi(i), generate_series(0, 7) AS gj(j)),
      lum AS (
        SELECT id, gi, gj,
          2126 * ((pat * 31 + x * 7 + y * 13) % 256)
          + 7152 * ((pat * 17 + x * 11 + y * 5) % 256)
          + 722 * ((pat * 7 + x * 3 + y * 29) % 256) AS l
        FROM grid),
      ph AS (
        SELECT a.id,
          CAST(SUM(CASE WHEN b.l > a.l THEN 1::BIGINT << (a.gj * 7 + a.gi) ELSE 0 END) AS BIGINT)
            AS phash
        FROM lum a JOIN lum b ON b.id = a.id AND b.gj = a.gj AND b.gi = a.gi + 1
        WHERE a.gi < 7 GROUP BY a.id)
      SELECT phash, CAST(count(*) AS BIGINT) AS n_images, CAST(min(id) AS BIGINT) AS first_id
      FROM ph GROUP BY phash HAVING count(*) > 1 ORDER BY phash"""))

  /** Incremental perceptual image dedup: a re-ingest batch (ids
   *  300..449, pixel content keyed doc_id % 45 — 2/3 of patterns
   *  recur from history, 1/3 new) classified against the STORED
   *  distinct-hash state of the history corpus (ids < 300, patterns
   *  doc_id % 30) as exact_dup / near_dup / fresh. History pixels are
   *  never re-decoded — the state is hashes + reps only. The oracle
   *  replays both corpora's dHashes arithmetically and classifies by
   *  BRUTE-FORCE xor/bit_count over all (batch-hash, state-hash)
   *  pairs — the engine's banded cross-join must equal it exactly
   *  (nearest match, ties to smallest rep). */
  private val multimodal_phash_inc = QueryDef(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val histIds = docs.filter(col("doc_id") < 300)
        .select(col("doc_id"), (col("doc_id") % 30).as("pattern"))
      val batchIds = docs.filter(col("doc_id") >= 300 && col("doc_id") < 450)
        .select(col("doc_id"), (col("doc_id") % 45).as("pattern"))
      val hist = Multimodal.imagePhash(s,
        Multimodal.synthesizePngsKeyed(s, histIds, "doc_id", "pattern").toDF())
      val batch = Multimodal.imagePhash(s,
        Multimodal.synthesizePngsKeyed(s, batchIds, "doc_id", "pattern").toDF())
      Multimodal.phashIncremental(batch, Multimodal.phashGroups(hist), maxHamming = 4)
        .orderBy("id")
    },
    Some("""WITH pats AS (
        SELECT p, 8 + p % 5 AS w, 8 + p % 7 AS h FROM generate_series(0, 44) AS g(p)),
      grid AS (
        SELECT i.p, gi.i AS gi, gj.j AS gj, (gi.i * i.w) // 8 AS x, (gj.j * i.h) // 8 AS y
        FROM pats i, generate_series(0, 7) AS gi(i), generate_series(0, 7) AS gj(j)),
      lum AS (
        SELECT p, gi, gj,
          2126 * ((p * 31 + x * 7 + y * 13) % 256)
          + 7152 * ((p * 17 + x * 11 + y * 5) % 256)
          + 722 * ((p * 7 + x * 3 + y * 29) % 256) AS l
        FROM grid),
      ph AS (
        SELECT a.p,
          CAST(SUM(CASE WHEN b.l > a.l THEN 1::BIGINT << (a.gj * 7 + a.gi) ELSE 0 END) AS BIGINT)
            AS phash
        FROM lum a JOIN lum b ON b.p = a.p AND b.gj = a.gj AND b.gi = a.gi + 1
        WHERE a.gi < 7 GROUP BY a.p),
      hist AS (
        SELECT ph.phash, CAST(min(d.doc_id) AS BIGINT) AS rep_id
        FROM documents d JOIN ph ON ph.p = d.doc_id % 30
        WHERE d.doc_id < 300 GROUP BY ph.phash),
      batch AS (
        SELECT CAST(d.doc_id AS BIGINT) AS id, ph.phash
        FROM documents d JOIN ph ON ph.p = d.doc_id % 45
        WHERE d.doc_id >= 300 AND d.doc_id < 450),
      nearest AS (
        SELECT b.id, min(CASE WHEN bit_count(xor(b.phash, h.phash)) <= 4
            THEN bit_count(xor(b.phash, h.phash)) * 10000000000 + h.rep_id END) AS nm
        FROM batch b, hist h GROUP BY b.id),
      ex AS (SELECT b.id, b.phash, h.rep_id FROM batch b LEFT JOIN hist h ON h.phash = b.phash)
      SELECT ex.id, ex.phash,
        CASE WHEN ex.rep_id IS NOT NULL THEN 'exact_dup'
             WHEN n.nm IS NOT NULL THEN 'near_dup' ELSE 'fresh' END AS status,
        CAST(COALESCE(ex.rep_id, n.nm % 10000000000) AS BIGINT) AS match_rep,
        CAST(CASE WHEN ex.rep_id IS NOT NULL THEN 0 ELSE n.nm // 10000000000 END AS BIGINT)
          AS hamming
      FROM ex LEFT JOIN nearest n ON n.id = ex.id ORDER BY ex.id"""))

  /** Last-touch marketing attribution: every purchase is credited to
   *  the user's most recent PRECEDING touch event (click or view)
   *  within a 24 h lookback, else 'none'. ONE window per user carries
   *  the latest touch as a single BIGINT `micros*10 + type_code`
   *  (max picks latest time; the code breaks same-instant ties
   *  deterministically on both engines — pure integer arithmetic, no
   *  struct-ordering divergence), then one small aggregate by touch
   *  type over integer cents. The window partitions by user — never
   *  a global sort. */
  private val q_attribution = QueryDef(
    (s, dir) => {
      val e = eventsRaw(s, dir).select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("us"), col("value"))
      val touchCode = when(col("event_type") === "click", col("us") * 10 + 1)
        .when(col("event_type") === "view", col("us") * 10 + 2)
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      e.withColumn("last_touch", max(touchCode).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("touch",
          when(col("last_touch").isNull, lit("none"))
            .when(col("us") - expr("last_touch div 10") > 86400000000L, lit("none"))
            .when(expr("last_touch % 10") === 1, lit("click"))
            .otherwise(lit("view")))
        .withColumn("cents", expr("CAST(floor(value * 100) AS BIGINT)"))
        .groupBy(col("touch"))
        .agg(count(lit(1)).as("n_purchases"), sum("cents").as("revenue_cents"))
        .orderBy("touch")
    },
    Some("""WITH e AS (
        SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS us, value FROM events),
      t AS (
        SELECT *, max(CASE WHEN event_type = 'click' THEN us * 10 + 1
                           WHEN event_type = 'view' THEN us * 10 + 2 END)
            OVER (PARTITION BY user_id ORDER BY us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch
        FROM e),
      p AS (
        SELECT CASE WHEN last_touch IS NULL THEN 'none'
                    WHEN us - (last_touch // 10) > 86400000000 THEN 'none'
                    WHEN last_touch % 10 = 1 THEN 'click' ELSE 'view' END AS touch,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM t WHERE event_type = 'purchase')
      SELECT touch, CAST(count(*) AS BIGINT) AS n_purchases,
             CAST(sum(cents) AS BIGINT) AS revenue_cents
      FROM p GROUP BY 1 ORDER BY 1"""))

  /** MOC-style sky-coverage algebra (the multi-order-coverage set
   *  operations a survey scientist runs before cross-matching two
   *  catalogs — "where do these surveys overlap, and how much sky is
   *  that?"): order-5 HEALPix footprints of the customer sky vs the
   *  lineitem pseudo-sky, classified into intersection and one-sided
   *  regions with exact pixel counts and steradian areas (area =
   *  n_pix * 4pi / npix(5), one deterministic double from an exact
   *  integer). Distinct-pixel sets are map-side-combined aggregates;
   *  the footprint tables are bounded by npix(5) = 12288 no matter
   *  the catalog size, so the set algebra is broadcast-grade. */
  private val q_coverage = QueryDef(
    (s, dir) => {
      // ONE shuffle: tag side, union, per-pixel membership via two
      // map-side-combinable maxes, then the bounded per-op rollup —
      // no distinct-then-full-outer-join (half the jobs, same sets)
      val a = withSky(t(s, dir, "customer"), "c_custkey")
        .select(sphere.hpix(col("cra"), col("cdec"), 5).as("pix"),
          lit(1).as("a"), lit(0).as("b"))
      val li = t(s, dir, "lineitem").withColumn("k", col("l_orderkey") * 8 + col("l_linenumber"))
      val b = withSky(li, "k")
        .select(sphere.hpix(col("cra"), col("cdec"), 5).as("pix"),
          lit(0).as("a"), lit(1).as("b"))
      val area = 4.0 * math.Pi / graft.healpix.Healpix.npix(5)
      a.unionByName(b)
        .groupBy("pix").agg(max("a").as("in_a"), max("b").as("in_b"))
        .withColumn("op", when(col("in_a") === 1 && col("in_b") === 1, "both")
          .when(col("in_a") === 1, "only_a").otherwise("only_b"))
        .groupBy("op").agg(count(lit(1)).as("n_pix"))
        .withColumn("area_sr", round(col("n_pix").cast("double") * lit(area), 6))
        .orderBy("op")
    },
    Some {
      val area = 4.0 * math.Pi / graft.healpix.Healpix.npix(5)
      s"""WITH a AS (SELECT DISTINCT pix5 AS pix FROM ${aux("hpix_customer")}),
      b AS (SELECT DISTINCT pix5 AS pix FROM ${aux("pm_lineitem")}),
      j AS (
        SELECT coalesce(a.pix, b.pix) AS pix,
          CASE WHEN a.pix IS NOT NULL AND b.pix IS NOT NULL THEN 'both'
               WHEN a.pix IS NOT NULL THEN 'only_a' ELSE 'only_b' END AS op
        FROM a FULL OUTER JOIN b ON a.pix = b.pix)
      SELECT op, CAST(count(*) AS BIGINT) AS n_pix,
        round(count(*)::DOUBLE * $area, 6) AS area_sr
      FROM j GROUP BY op ORDER BY op"""
    })

  /** MOC normalization to the IVOA NUNIQ serialization
   *  ([[graft.operators.Spatial.mocNormalize]]): the order-5 lineitem
   *  pseudo-sky footprint collapsed to its canonical minimal
   *  multi-order tiling (complete sibling quads merge recursively into
   *  parents; survivors emit as `4 * 4^norder + npix`, ascending = the
   *  MOC serialization order). Coverage is exactly preserved while
   *  uniform regions cost one tile — the footprint artifact VO
   *  services exchange, completing the q_coverage set-algebra row.
   *  The oracle replays all five merge rounds as chained CTEs over
   *  the driver-built pixel aux. */
  private val q_moc = QueryDef(
    (s, dir) => {
      val li = t(s, dir, "lineitem").withColumn("k", col("l_orderkey") * 8 + col("l_linenumber"))
      val pix = withSky(li, "k").select(sphere.hpix(col("cra"), col("cdec"), 5).as("pix"))
      graft.operators.Spatial.mocNormalize(pix, "pix", 5).orderBy("nuniq")
    },
    Some {
      val sb = new StringBuilder(
        s"WITH f5 AS (SELECT DISTINCT pix5 AS pix FROM ${aux("pm_lineitem")})")
      for (o <- 5 to 1 by -1) {
        sb.append(s""",
        f${o - 1} AS (SELECT pix // 4 AS pix FROM f$o GROUP BY 1 HAVING count(*) = 4),
        r$o AS (SELECT $o AS norder, pix FROM f$o
          WHERE pix // 4 NOT IN (SELECT pix FROM f${o - 1}))""")
      }
      sb.append(""",
        r0 AS (SELECT 0 AS norder, pix FROM f0),
        moc AS (SELECT * FROM r5 UNION ALL SELECT * FROM r4 UNION ALL
          SELECT * FROM r3 UNION ALL SELECT * FROM r2 UNION ALL
          SELECT * FROM r1 UNION ALL SELECT * FROM r0)
      SELECT CAST(norder AS INTEGER) AS norder, CAST(pix AS BIGINT) AS npix,
        CAST((4::BIGINT << (2 * norder)) + pix AS BIGINT) AS nuniq
      FROM moc ORDER BY nuniq""")
      sb.toString
    })

  /** Mixed-order MOC set algebra over NUNIQ
   *  ([[graft.operators.Spatial.mocUnion]]/[[graft.operators.Spatial.mocIntersect]]/
   *  [[graft.operators.Spatial.mocDifference]] — the MOC-2.0
   *  operations VO services run on exchanged footprints, at the MOCs'
   *  NATIVE orders, no expansion to a common order): an order-5
   *  lineitem pseudo-sky footprint (pixels with pix % 3 != 0, so the
   *  footprint is partial and merge-rich) against an order-6 customer
   *  footprint (pix % 5 < 2), both normalized first, then
   *  union / intersection / difference tagged into one result and
   *  re-normalized (composing with q_moc's minimality contract).
   *  Intersection exercises the coarse-tile-vs-fine-descendant
   *  overlap; difference exercises tile SPLITTING (a fine b-tile
   *  punches a hole through a coarse a-tile). The oracle derives the
   *  same sets STRUCTURALLY differently: expand both footprints to
   *  the common order 6, run plain set ops on pixel sets, then replay
   *  the six merge rounds as chained CTEs. Spark-side the whole
   *  algebra rides [[graft.operators.Spatial]]'s npix-bounded
   *  driver-side path (MocLocal): two distinct+collect catalog scans,
   *  then pure-Scala set ops over LocalRelations. */
  private val q_moc_ops = QueryDef(
    (s, dir) => {
      val li = t(s, dir, "lineitem").withColumn("k", col("l_orderkey") * 8 + col("l_linenumber"))
      val aPix = withSky(li, "k")
        .select(sphere.hpix(col("cra"), col("cdec"), 5).as("pix"))
        .filter(col("pix") % 3 =!= 0)
      val bPix = withSky(t(s, dir, "customer"), "c_custkey")
        .select(sphere.hpix(col("cra"), col("cdec"), 6).as("pix"))
        .filter(col("pix") % 5 < 2)
      // mocNormalize's npix-bounded driver-side path: ONE distinct +
      // collect scan per operand (the only jobs that touch catalog
      // data), then every set op is job-free LocalRelation algebra
      // (MocLocal) — the r13 version's ~40 per-round checkpoint jobs
      // were 85% measured job floor on <= 49k-row frames
      val a = Spatial.mocNormalize(aPix, "pix", 5)
      val b = Spatial.mocNormalize(bPix, "pix", 6)
      Seq("union" -> Spatial.mocUnion(a, b, 6),
          "intersect" -> Spatial.mocIntersect(a, b, 6),
          "diff_ab" -> Spatial.mocDifference(a, b, 6))
        .map { case (tag, df) =>
          df.select(lit(tag).as("op"), col("norder"), col("npix"), col("nuniq")) }
        .reduce(_ unionByName _).orderBy("op", "nuniq")
    },
    Some {
      val sb = new StringBuilder(
        s"""WITH a5 AS (SELECT DISTINCT pix5 AS pix FROM ${aux("pm_lineitem")} WHERE pix5 % 3 <> 0),
        a6 AS (SELECT unnest([pix * 4, pix * 4 + 1, pix * 4 + 2, pix * 4 + 3]) AS pix FROM a5),
        b6 AS (SELECT DISTINCT pix6 AS pix FROM ${aux("hpix_customer")} WHERE pix6 % 5 < 2),
        f6 AS (
          SELECT 'union' AS op, pix FROM (SELECT pix FROM a6 UNION SELECT pix FROM b6)
          UNION ALL
          SELECT 'intersect' AS op, pix FROM (SELECT pix FROM a6 INTERSECT SELECT pix FROM b6)
          UNION ALL
          SELECT 'diff_ab' AS op, pix FROM (SELECT pix FROM a6 EXCEPT SELECT pix FROM b6))""")
      for (o <- 6 to 1 by -1) {
        sb.append(s""",
        f${o - 1} AS (SELECT op, pix // 4 AS pix FROM f$o GROUP BY 1, 2 HAVING count(*) = 4),
        r$o AS (SELECT op, $o AS norder, pix FROM f$o WHERE NOT EXISTS
          (SELECT 1 FROM f${o - 1} p WHERE p.op = f$o.op AND p.pix = f$o.pix // 4))""")
      }
      sb.append(""",
        r0 AS (SELECT op, 0 AS norder, pix FROM f0),
        moc AS (SELECT * FROM r6 UNION ALL SELECT * FROM r5 UNION ALL
          SELECT * FROM r4 UNION ALL SELECT * FROM r3 UNION ALL
          SELECT * FROM r2 UNION ALL SELECT * FROM r1 UNION ALL SELECT * FROM r0)
      SELECT op, CAST(norder AS INTEGER) AS norder, CAST(pix AS BIGINT) AS npix,
        CAST((4::BIGINT << (2 * norder)) + pix AS BIGINT) AS nuniq
      FROM moc ORDER BY op, nuniq""")
      sb.toString
    })

  /** The two pseudo-sky survey cones q_moc_region covers (shared by
   *  the query and the oracle-aux writer). */
  private val mocRegionCones = Seq(
    ("a", 40.0, 10.0, 12.0), ("b", 200.0, -30.0, 15.0))

  /** Query-region MOC composition ([[graft.operators.Spatial.mocFromCone]] /
   *  [[graft.operators.Spatial.mocComplement]] — mocpy's
   *  `MOC.from_cone(...).complement()` workflow): the UNSURVEYED sky
   *  with catalog objects — complement of the union of two query-cone
   *  MOCs, intersected with the order-6 customer footprint MOC. All
   *  four set ops ride the driver-side MocLocal path (the frames are
   *  npix(6)-bounded); the single catalog-data job is the footprint
   *  distinct+collect. The oracle derives the same region
   *  STRUCTURALLY differently: leaf-expand the cone covers from the
   *  aux parquet, flat pixel-set algebra (EXCEPT from all 49152
   *  order-6 pixels, INTERSECT the footprint), then replay the six
   *  quad-merge rounds as chained CTEs. */
  private val q_moc_region = QueryDef(
    (s, dir) => {
      val Seq((_, ra1, dec1, r1), (_, ra2, dec2, r2)) = mocRegionCones
      val coneA = Spatial.mocFromCone(s, 6, ra1, dec1, r1)
      val coneB = Spatial.mocFromCone(s, 6, ra2, dec2, r2)
      val unsurveyed = Spatial.mocComplement(Spatial.mocUnion(coneA, coneB, 6), 6)
      val custPix = withSky(t(s, dir, "customer"), "c_custkey")
        .select(sphere.hpix(col("cra"), col("cdec"), 6).as("pix"))
      val footprint = Spatial.mocNormalize(custPix, "pix", 6)
      Spatial.mocIntersect(unsurveyed, footprint, 6).orderBy("nuniq")
    },
    Some {
      val sb = new StringBuilder(
        s"""WITH surveyed AS (SELECT DISTINCT pix FROM ${aux("moc_cones_o6")}),
        cust AS (SELECT DISTINCT pix6 AS pix FROM ${aux("hpix_customer")}),
        f6 AS (
          SELECT pix FROM (
            SELECT range AS pix FROM range(0, 49152)
            EXCEPT SELECT pix FROM surveyed)
          INTERSECT SELECT pix FROM cust)""")
      for (o <- 6 to 1 by -1) {
        sb.append(s""",
        f${o - 1} AS (SELECT pix // 4 AS pix FROM f$o GROUP BY 1 HAVING count(*) = 4),
        r$o AS (SELECT $o AS norder, pix FROM f$o
          WHERE pix // 4 NOT IN (SELECT pix FROM f${o - 1}))""")
      }
      sb.append(""",
        r0 AS (SELECT 0 AS norder, pix FROM f0),
        moc AS (SELECT * FROM r6 UNION ALL SELECT * FROM r5 UNION ALL
          SELECT * FROM r4 UNION ALL SELECT * FROM r3 UNION ALL
          SELECT * FROM r2 UNION ALL SELECT * FROM r1 UNION ALL SELECT * FROM r0)
      SELECT CAST(norder AS INTEGER) AS norder, CAST(pix AS BIGINT) AS npix,
        CAST((4::BIGINT << (2 * norder)) + pix AS BIGINT) AS nuniq
      FROM moc ORDER BY nuniq""")
      sb.toString
    })

  /** Seasonal-naive forecast accuracy (MASE, Hyndman & Koehler 2006)
   *  on daily event volumes: forecast = the value one CALENDAR week
   *  earlier, scaled by the in-sample 1-calendar-day naive MAE — the
   *  standard scale-free "is this series forecastable beyond
   *  persistence" check. The lags are day-arithmetic self-joins, not
   *  row-offset lag(7)/lag(1) windows: a day with zero events
   *  produces no daily row, and a row-offset lag silently slides the
   *  "one week earlier" anchor across any such calendar gap (the r11
   *  ADVICE finding); a self-join on day - 7 has no row to match
   *  instead, which is the correct "no forecast available"
   *  semantics. Integer-exact error numerators (counts, absolute
   *  differences); the only float is the final 6-dp ratio-of-ratios.
   *  The joins are (event_type, day) equi-joins of the day-level
   *  rollup with itself — calendar-sized, broadcast-grade. */
  private val q_forecast_eval = QueryDef(
    (s, dir) => {
      val daily = eventsRaw(s, dir)
        .groupBy(col("event_type"), expr("(ts div 1000) div 86400000000").as("day"))
        .agg(count(lit(1)).as("v"))
      val l7 = daily.select(col("event_type"), (col("day") + 7).as("day"), col("v").as("l7"))
      val l1 = daily.select(col("event_type"), (col("day") + 1).as("day"), col("v").as("l1"))
      daily
        .join(l7, Seq("event_type", "day"), "left")
        .join(l1, Seq("event_type", "day"), "left")
        .groupBy("event_type")
        .agg(sum(when(col("l7").isNotNull, 1L).otherwise(0L)).as("n7"),
          sum(when(col("l7").isNotNull, abs(col("v") - col("l7"))).otherwise(0L)).as("mae7_num"),
          sum(when(col("l1").isNotNull, 1L).otherwise(0L)).as("n1"),
          sum(when(col("l1").isNotNull, abs(col("v") - col("l1"))).otherwise(0L)).as("mae1_num"))
        .withColumn("mase",
          when(col("mae1_num") === 0, lit(null).cast("double"))
            .otherwise(round((col("mae7_num").cast("double") / col("n7").cast("double")) /
              (col("mae1_num").cast("double") / col("n1").cast("double")), 6)))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (
        SELECT event_type, (epoch_ns(ts) // 1000) // 86400000000 AS day,
               CAST(count(*) AS BIGINT) AS v
        FROM events GROUP BY 1, 2),
      lagged AS (
        SELECT d.event_type, d.day, d.v, l7.v AS l7, l1.v AS l1
        FROM daily d
        LEFT JOIN daily l7 ON l7.event_type = d.event_type AND l7.day = d.day - 7
        LEFT JOIN daily l1 ON l1.event_type = d.event_type AND l1.day = d.day - 1),
      agg AS (
        SELECT event_type,
          CAST(sum(CASE WHEN l7 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n7,
          CAST(sum(CASE WHEN l7 IS NOT NULL THEN abs(v - l7) ELSE 0 END) AS BIGINT) AS mae7_num,
          CAST(sum(CASE WHEN l1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          CAST(sum(CASE WHEN l1 IS NOT NULL THEN abs(v - l1) ELSE 0 END) AS BIGINT) AS mae1_num
        FROM lagged GROUP BY 1)
      SELECT event_type, n7, mae7_num, n1, mae1_num,
        CASE WHEN mae1_num = 0 THEN NULL
             ELSE round((mae7_num::DOUBLE / n7::DOUBLE) / (mae1_num::DOUBLE / n1::DOUBLE), 6)
        END AS mase
      FROM agg ORDER BY event_type"""))

  /** Mann-Whitney U rank-sum test on purchase cents between the two
   *  user-parity variants — the nonparametric member of the A/B
   *  family (chi-square: binary; CUPED: means; this: whole
   *  distributions, no normality assumed). Integer-exact 2U via the
   *  grouped prefix walk; tie-corrected z as one fixed double tree
   *  over exact integers, 6 dp. */
  private val q_mannwhitney = QueryDef(
    (s, dir) => {
      val e = eventsRaw(s, dir).filter(col("event_type") === "purchase")
        .select(expr("CAST(floor(value * 100) AS BIGINT)").as("cents"),
          (pmod(col("user_id"), lit(2L)) === 0L).as("in_a"))
      graft.operators.Stats.mannWhitney(e, "cents", "in_a")
    },
    Some("""WITH e AS (
        SELECT CAST(floor(value * 100) AS BIGINT) AS v, (user_id % 2 = 0) AS a
        FROM events WHERE event_type = 'purchase'),
      g AS (
        SELECT v, CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na,
               CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS nb
        FROM e GROUP BY v),
      c AS (SELECT *, CAST(sum(nb) OVER (ORDER BY v) AS BIGINT) AS cnb FROM g),
      s AS (
        SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b,
               CAST(sum(na * (2 * (cnb - nb) + nb)) AS BIGINT) AS u2_a,
               sum(CAST(na + nb AS HUGEINT) * (na + nb) * (na + nb) - (na + nb)) AS t3
        FROM c),
      f AS (
        SELECT *, n_a + n_b AS n,
          (n_a::DOUBLE * n_b::DOUBLE / 12.0) *
            (((n_a + n_b)::DOUBLE + 1.0) -
              t3::DOUBLE / ((n_a + n_b)::DOUBLE * ((n_a + n_b)::DOUBLE - 1.0))) AS var
        FROM s)
      SELECT n_a, n_b, u2_a,
        CASE WHEN var <= 0.0 THEN NULL
             ELSE round((u2_a::DOUBLE / 2.0 - n_a::DOUBLE * n_b::DOUBLE / 2.0) / sqrt(var), 6)
        END AS z
      FROM f"""))

  /** Revenue concentration curve (the "80/20" check): customers
   *  ranked by exact integer spend (descending, distributed
   *  range-exchange ranking), cut into exact deciles, cumulative
   *  cents via Rank.prefixSums over the decile rollup — integer
   *  end to end except the final 6-dp cumulative share. Answers
   *  "what fraction of revenue do the top k% of customers carry"
   *  without any single-task window. */
  private val q_pareto80 = QueryDef(
    (s, dir) => {
      val spend = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      val tiled = graft.operators.Rank.curriculum(spend,
        Seq(col("cents").desc, col("o_custkey")), phases = 10)
      val byDecile = tiled.groupBy(col("phase").as("decile"))
        .agg(count(lit(1)).as("n_cust"), sum("cents").as("cents"))
      val cum = graft.operators.Rank.prefixSums(byDecile, Seq(col("decile")), Seq("cents"))
        .withColumnRenamed("cum_cents", "cum_cents")
      cum.crossJoin(broadcast(spend.agg(sum("cents").as("__tot"))))
        .select(col("decile"), col("n_cust"), col("cents"), col("cum_cents"),
          round(col("cum_cents").cast("double") / col("__tot").cast("double"), 6)
            .as("cum_share"))
        .orderBy("decile")
    },
    Some("""WITH spend AS (
        SELECT o_custkey, CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1),
      tiled AS (
        SELECT *, CAST(ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS BIGINT) AS decile
        FROM spend),
      d AS (
        SELECT decile, CAST(count(*) AS BIGINT) AS n_cust, CAST(sum(cents) AS BIGINT) AS cents
        FROM tiled GROUP BY 1),
      c AS (SELECT *, CAST(sum(cents) OVER (ORDER BY decile) AS BIGINT) AS cum_cents FROM d),
      tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM spend)
      SELECT decile, n_cust, cents, cum_cents,
        round(cum_cents::DOUBLE / t::DOUBLE, 6) AS cum_share
      FROM c, tot ORDER BY decile"""))

  /** CUPED variance-reduced A/B comparison (Deng et al. 2013) over
   *  purchase cents: pre-period (Jan 1-15) covariate, post-period
   *  (Jan 16-30) metric, variant = user parity; pooled theta and
   *  per-variant adjusted means in EXACT e6 fixed point
   *  (DECIMAL(38) / HUGEINT on the two engines, sign-safe
   *  negate-div-negate). One aggregate over units + a 2-row join. */
  private val q_cuped = QueryDef(
    (s, dir) => {
      val cut = 1705363200000000L // 2024-01-16T00:00:00Z epoch micros
      val e = eventsRaw(s, dir).filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts div 1000").as("us"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      val units = e.groupBy(col("user_id"))
        .agg(sum(when(col("us") < cut, col("cents")).otherwise(0L)).as("pre"),
          sum(when(col("us") >= cut, col("cents")).otherwise(0L)).as("post"))
        .withColumn("variant", pmod(col("user_id"), lit(2L)))
      graft.operators.Stats.cuped(units, "variant", "pre", "post").orderBy("variant")
    },
    Some("""WITH e AS (
        SELECT user_id, epoch_ns(ts) // 1000 AS us, CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'),
      u AS (
        SELECT user_id, user_id % 2 AS variant,
          CAST(sum(CASE WHEN us < 1705363200000000 THEN cents ELSE 0 END) AS BIGINT) AS pre,
          CAST(sum(CASE WHEN us >= 1705363200000000 THEN cents ELSE 0 END) AS BIGINT) AS post
        FROM e GROUP BY 1, 2),
      g AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(pre) AS BIGINT) AS sx,
               CAST(sum(post) AS BIGINT) AS sy,
               sum(CAST(pre AS HUGEINT) * post) AS sxy,
               sum(CAST(pre AS HUGEINT) * pre) AS sxx
        FROM u),
      v AS (
        SELECT variant, CAST(count(*) AS BIGINT) AS n_units,
               CAST(sum(pre) AS BIGINT) AS sum_pre, CAST(sum(post) AS BIGINT) AS sum_post
        FROM u GROUP BY 1),
      t AS (
        SELECT *, CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
               CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den
        FROM g),
      th AS (
        SELECT v.variant, v.n_units, v.sum_pre, v.sum_post, t.n, t.sx,
          CASE WHEN t.den = 0 THEN NULL
               WHEN t.num < 0 THEN -(((-t.num) * 1000000) // t.den)
               ELSE (t.num * 1000000) // t.den END AS theta_e6
        FROM v CROSS JOIN t),
      a AS (
        SELECT *, CAST(sum_post AS HUGEINT) * n * 1000000
          - CAST(theta_e6 AS HUGEINT) *
            (CAST(sum_pre AS HUGEINT) * n - CAST(sx AS HUGEINT) * n_units) AS anum
        FROM th)
      SELECT variant, n_units, sum_pre, sum_post,
        CAST(theta_e6 AS BIGINT) AS theta_e6,
        CAST((CAST(sum_post AS HUGEINT) * 1000000) // n_units AS BIGINT) AS raw_mean_e6,
        CAST(CASE WHEN theta_e6 IS NULL THEN NULL
             WHEN anum < 0 THEN -((-anum) // (CAST(n_units AS HUGEINT) * n))
             ELSE anum // (CAST(n_units AS HUGEINT) * n) END AS BIGINT) AS adj_mean_e6
      FROM a ORDER BY variant"""))

  /**
   * U-shaped multi-touch attribution with EXACT largest-remainder
   * cent apportionment (the fractional-credit counterpart of
   * q_attribution's last-touch rule): each purchase's cents split
   * across every prior touch in the 24 h lookback — 40/20/40
   * position weighting as integer weights over denominator 10m
   * (first/last 4m, each of the m middles 2; 1 touch takes all,
   * 2 touches split 50/50), floor division, then the leftover cents
   * go one each to the largest remainders (ties to the earliest
   * touch). Conservation is exact by construction: credited cents ==
   * purchase cents, no floats anywhere. Scale shape: one
   * user-keyed equi-join (touch x purchase, time-banded), then
   * windows partitioned by PURCHASE — groups bounded by a user's
   * 24 h touch volume, never corpus-sized. Cents must be
   * non-negative (true of this table): Spark's `div` truncates while
   * DuckDB's `//` floors, so negative purchase values would need
   * explicit floor-division alignment.
   */
  private val q_attribution_multi = QueryDef(
    (s, dir) => {
      val e = eventsRaw(s, dir).select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("us"), col("value"))
      val touches = e.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("us").as("t_us"), col("event_id").as("t_id"),
          col("event_type").as("t_type"))
      val purch = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us").as("p_us"), col("event_id").as("p_id"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      graft.operators.Temporal.multiTouchAttribution(touches, purch,
          "user_id", lookbackUs = 86400000000L)
        .groupBy(col("t_type").as("touch_type"), col("role"))
        .agg(count(lit(1)).as("n_touches"), sum("credit").as("credit_cents"))
        .orderBy("touch_type", "role")
    },
    Some("""WITH e AS (
        SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS us, value FROM events),
      t AS (SELECT user_id, us AS t_us, event_id AS t_id, event_type AS t_type
            FROM e WHERE event_type IN ('click', 'view')),
      p AS (SELECT user_id, us AS p_us, event_id AS p_id,
              CAST(floor(value * 100) AS BIGINT) AS cents
            FROM e WHERE event_type = 'purchase'),
      j AS (SELECT p.p_id, p.cents, t.t_us, t.t_id, t.t_type
            FROM p JOIN t USING (user_id)
            WHERE t.t_us < p.p_us AND p.p_us - t.t_us <= 86400000000),
      pos AS (
        SELECT *, row_number() OVER (PARTITION BY p_id ORDER BY t_us, t_id) AS pos,
               count(*) OVER (PARTITION BY p_id) AS n
        FROM j),
      wts AS (
        SELECT *, n - 2 AS m,
          CASE WHEN n <= 2 THEN 1
               WHEN pos = 1 OR pos = n THEN (n - 2) * 4 ELSE 2 END AS w,
          CASE WHEN n = 1 THEN 1 WHEN n = 2 THEN 2 ELSE (n - 2) * 10 END AS d
        FROM pos),
      base AS (
        SELECT *, (cents * w) // d AS base, (cents * w) % d AS rem FROM wts),
      cr AS (
        SELECT *, cents - sum(base) OVER (PARTITION BY p_id) AS leftover,
          row_number() OVER (PARTITION BY p_id ORDER BY rem DESC, pos) AS rr
        FROM base)
      SELECT t_type AS touch_type,
        CASE WHEN n = 1 THEN 'solo' WHEN pos = 1 THEN 'first'
             WHEN pos = n THEN 'last' ELSE 'middle' END AS role,
        CAST(count(*) AS BIGINT) AS n_touches,
        CAST(sum(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END) AS BIGINT) AS credit_cents
      FROM cr GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Size-bounded shard export assignment (the WebDataset/tar-shard
   *  layout a training loader streams): documents in doc_id order cut
   *  into ~64 KiB shards by `floor(bytes_before / target)` — computed
   *  with the DISTRIBUTED byte prefix walk (range exchange + bounded
   *  size job + map-only running pass), never a corpus-wide
   *  single-task `sum OVER (ORDER BY)` window. The oracle IS that
   *  window (fine in a single-node engine) — the contrast is the
   *  point: identical assignment, scalable plan. */
  private val q_shards = QueryDef(
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), octet_length(col("text")).cast("long").as("bytes"))
      graft.operators.Layout.shardAssign(docs, "bytes", Seq(col("doc_id")), targetBytes = 65536L)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum("bytes").as("shard_bytes"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("shard")
    },
    Some("""WITH sized AS (
        SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS bytes FROM documents),
      cum AS (
        SELECT doc_id, bytes,
          COALESCE(SUM(bytes) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        FROM sized)
      SELECT CAST(cb // 65536 AS BIGINT) AS shard, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(bytes) AS BIGINT) AS shard_bytes, CAST(min(doc_id) AS BIGINT) AS first_doc
      FROM cum GROUP BY 1 ORDER BY 1"""))

  /** Deterministic shuffled training shards (the epoch export): docs
   *  ordered by the seeded Knuth hash of their id — a reproducible
   *  global permutation — then cut into ~64 KiB shards by the
   *  distributed byte prefix walk. Same machinery as q_shards, but
   *  the order is the SHUFFLE a training run consumes; the oracle
   *  replays hash, order and cut in one window. */
  private val q_trainorder = QueryDef(
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), octet_length(col("text")).cast("long").as("bytes"))
      graft.operators.Layout.shuffledShards(docs, "doc_id", "bytes",
          targetBytes = 65536L, seed = 7L)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum("bytes").as("shard_bytes"),
          min(col("doc_id")).as("min_doc"))
        .orderBy("shard")
    },
    Some {
      val k = graft.operators.Sampling.knuthHashSql("(doc_id + 7)")
      s"""WITH sized AS (
        SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS bytes FROM documents),
      h AS (SELECT doc_id, bytes, $k AS k FROM sized),
      cum AS (
        SELECT doc_id, bytes,
          COALESCE(SUM(bytes) OVER (ORDER BY k, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        FROM h)
      SELECT CAST(cb // 65536 AS BIGINT) AS shard, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(bytes) AS BIGINT) AS shard_bytes, CAST(min(doc_id) AS BIGINT) AS min_doc
      FROM cum GROUP BY 1 ORDER BY 1"""
    })

  /** Scene-change keyframe detection over REAL demuxed AVI bytes:
   *  scene-structured clips (content constant per 4-frame scene plus
   *  a small in-scene motion wiggle) are muxed to REAL AVI, demuxed
   *  by the chunk walk, and each frame's exact integer sum of
   *  absolute channel deltas vs its predecessor is thresholded
   *  (mean-per-channel > 20.0 as the integer predicate
   *  `10*delta > 200*3*w*h`). The oracle replays the pixel pattern
   *  for BOTH frames of every consecutive pair and the same
   *  threshold — a hash match proves mux, demux and the delta fold
   *  are bit-exact. Expected shape: frame 0 plus every scene
   *  boundary (f % 4 == 0), never the in-scene motion frames. */
  private val multimodal_keyframes = QueryDef(
    (s, dir) => {
      val ids = t(s, dir, "documents").filter(col("doc_id") < 150).select("doc_id")
      Multimodal.sceneChanges(s,
          Multimodal.synthesizeSceneAvis(s, ids, "doc_id").toDF(), meanDelta10 = 200)
        .toDF()
        .select(col("id"), col("frame_idx").cast("long").as("frame_idx"), col("frame_delta"))
        .orderBy("id", "frame_idx")
    },
    Some("""WITH vids AS (
        SELECT CAST(doc_id AS BIGINT) AS id, 8 + doc_id % 5 AS w, 8 + doc_id % 7 AS h,
               12 + (doc_id % 5) * 4 AS nf
        FROM documents WHERE doc_id < 150),
      pairs AS (
        SELECT id, w, h, unnest(range(1, nf)) AS f FROM vids),
      pix AS (
        SELECT p.id, p.f, p.w, p.h,
          abs(((p.id * 31 + (p.f // 4) * 19 + x.x * 7 + y.y * 13 + (p.f % 4)) % 256)
            - ((p.id * 31 + ((p.f - 1) // 4) * 19 + x.x * 7 + y.y * 13 + ((p.f - 1) % 4)) % 256))
          + abs(((p.id * 17 + (p.f // 4) * 23 + x.x * 11 + y.y * 5 + 2 * (p.f % 4)) % 256)
            - ((p.id * 17 + ((p.f - 1) // 4) * 23 + x.x * 11 + y.y * 5 + 2 * ((p.f - 1) % 4)) % 256))
          + abs(((p.id * 7 + (p.f // 4) * 37 + x.x * 3 + y.y * 29 + (p.f % 4)) % 256)
            - ((p.id * 7 + ((p.f - 1) // 4) * 37 + x.x * 3 + y.y * 29 + ((p.f - 1) % 4)) % 256))
          AS d
        FROM pairs p
        JOIN generate_series(0, 11) AS x(x) ON x.x < p.w
        JOIN generate_series(0, 13) AS y(y) ON y.y < p.h),
      deltas AS (
        SELECT id, f, w, h, CAST(SUM(d) AS BIGINT) AS frame_delta
        FROM pix GROUP BY id, f, w, h),
      keys AS (
        SELECT id, CAST(f AS BIGINT) AS frame_idx, frame_delta
        FROM deltas WHERE 10 * frame_delta > 200 * 3 * w * h
        UNION ALL
        SELECT id, CAST(0 AS BIGINT) AS frame_idx, CAST(-1 AS BIGINT) AS frame_delta FROM vids)
      SELECT id, frame_idx, frame_delta FROM keys ORDER BY id, frame_idx"""))

  /** Audio fingerprint dedup over REAL decoded WAV bytes: duplicate
   *  clips planted under distinct ids (signal keyed by doc_id % 30)
   *  at 2x volume (gain10 = 20 — EXACT integer doubling, so the
   *  energy-contour comparisons are provably unchanged), encoded to
   *  RIFF/PCM16, decoded by the chunk walk, fingerprinted by the
   *  direction of 16-sample frame energies ([[Multimodal
   *  .audioFingerprint]]), and grouped by fingerprint. The oracle
   *  replays signal, gain, windowed energies and the lag comparison
   *  in SQL — a hash match proves the whole byte path is exact. */
  private val multimodal_afp = QueryDef(
    (s, dir) => {
      val ids = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"), (col("doc_id") % 30).as("pattern"))
      val media = Multimodal.synthesizeWavsKeyed(s, ids, "doc_id", "pattern", gain10 = 20).toDF()
      Multimodal.audioFingerprint(s, media).toDF()
        .groupBy(col("fingerprint"))
        .agg(count(lit(1)).as("n_clips"), min(col("id")).as("first_id"))
        .filter(col("n_clips") > 1)
        .orderBy("fingerprint")
    },
    Some {
      val h1 = graft.operators.Sampling.knuthHashSql("(pat * 4096 + i)")
      val h = graft.operators.Sampling.knuthHashSql("xor(h1, h1 // 65536)")
      s"""WITH clips AS (
        SELECT CAST(doc_id AS BIGINT) AS id, CAST(doc_id % 30 AS BIGINT) AS pat,
               256 + (doc_id % 30) % 7 * 64 AS n
        FROM documents WHERE doc_id < 300),
      keyed AS (
        SELECT c.id, c.pat, t.i FROM clips c
        JOIN generate_series(0, 639) AS t(i) ON t.i < c.n),
      r1 AS (SELECT id, pat, i, $h1 AS h1 FROM keyed),
      r2 AS (SELECT id, i, $h AS h FROM r1),
      samp AS (
        SELECT id, i,
          2 * (((h % 9999) + 1) * (CASE WHEN (h // 16384) % 2 = 0 THEN 1 ELSE -1 END)) AS v
        FROM r2),
      fr AS (SELECT id, i // 16 AS f, SUM(v * v) AS e FROM samp GROUP BY id, i // 16),
      lg AS (SELECT id, f, e, lag(e) OVER (PARTITION BY id ORDER BY f) AS pe FROM fr),
      fp AS (
        SELECT id, string_agg(CASE WHEN e > pe THEN '1' ELSE '0' END, '' ORDER BY f) AS fingerprint
        FROM lg WHERE pe IS NOT NULL GROUP BY id)
      SELECT fingerprint, CAST(count(*) AS BIGINT) AS n_clips, CAST(min(id) AS BIGINT) AS first_id
      FROM fp GROUP BY fingerprint HAVING count(*) > 1 ORDER BY fingerprint"""
    })

  /** Token-exact duplicated spans ([[graft.operators.Dedup.exactDupSpans]],
   *  Lee et al. 2021 exact-substring family at sub-`dedup_substring`
   *  window granularity): minTokens=5 seeds recover every cross-doc
   *  copied span of >= 5 tokens with exact [start, end) token offsets
   *  AND the duplicated text itself. The oracle replays the shingling,
   *  the distinct-doc HAVING, the island merge, and the text slice. */
  private val dedup_substring_exact = QueryDef(
    (s, dir) => Dedup.exactDupSpans(t(s, dir, "documents"), "doc_id", "text",
        minTokens = 5, maxDocs = 1)
      .orderBy("doc_id", "span_start"),
    Some {
      val norm = Dedup.normalizeTextSql("text")
      s"""WITH base AS (SELECT doc_id, tk, len(tk) AS ntok FROM
          (SELECT doc_id, string_split($norm, ' ') AS tk FROM documents)),
        sh AS (SELECT doc_id, ntok, tk,
          unnest(CASE WHEN ntok < 5 THEN [CAST(0 AS BIGINT)] ELSE range(0, ntok - 4) END) AS pos
          FROM base),
        shs AS (SELECT doc_id, ntok, pos,
          array_to_string(tk[pos + 1 : pos + 5], ' ') AS sg FROM sh),
        dups AS (SELECT sg FROM shs GROUP BY sg HAVING count(DISTINCT doc_id) > 1),
        spans AS (SELECT s.doc_id, s.pos, s.pos + least(5, s.ntok) AS e
          FROM shs s JOIN dups d USING (sg)),
        isl AS (SELECT doc_id, pos, e, CASE WHEN
            max(e) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
            OR pos > max(e) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          THEN 1 ELSE 0 END AS ni FROM spans),
        isl2 AS (SELECT doc_id, pos, e, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
          ROWS UNBOUNDED PRECEDING) AS isle FROM isl),
        merged AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
          CAST(max(e) AS BIGINT) AS span_end, count(*) AS n_windows
          FROM isl2 GROUP BY doc_id, isle)
        SELECT m.doc_id, m.span_start, m.span_end,
          m.span_end - m.span_start AS span_tokens, m.n_windows,
          array_to_string(b.tk[m.span_start + 1 : m.span_end], ' ') AS span_text
        FROM merged m JOIN base b USING (doc_id)
        ORDER BY m.doc_id, m.span_start"""
    })

  /** k-anonymity release ([[graft.operators.Privacy.kAnonymize]]):
   *  customers generalize up a (nation, segment) -> (region, segment)
   *  -> ('*', segment) -> ('*','*') ladder until their QI group —
   *  counted over the not-yet-released RESIDUE at each rung, so the
   *  released table itself is k-anonymous — holds k=100 rows. The
   *  oracle replays the residue chain with per-rung window counts
   *  over chained CTEs. */
  private val q_kanon = QueryDef(
    (s, dir) => {
      val base = t(s, dir, "customer")
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      graft.operators.Privacy.kAnonymize(base, "c_custkey", k = 100,
        levels = Seq(
          Seq("qi_geo" -> col("n_name"), "qi_seg" -> col("c_mktsegment")),
          Seq("qi_geo" -> col("r_name"), "qi_seg" -> col("c_mktsegment")),
          Seq("qi_geo" -> lit("*"), "qi_seg" -> col("c_mktsegment")),
          Seq("qi_geo" -> lit("*"), "qi_seg" -> lit("*"))))
        .orderBy("c_custkey")
    },
    Some(s"""$kanonChainSql
      SELECT * FROM (
        SELECT * FROM rel0 UNION ALL SELECT * FROM rel1 UNION ALL
        SELECT * FROM rel2 UNION ALL SELECT * FROM rel3 UNION ALL
        SELECT * FROM sup)
      ORDER BY c_custkey"""))

  /** The k=100 residue-chain CTE prefix shared by the q_kanon and
   *  q_ldiversity oracles (rel0..rel3 = per-rung releases over the
   *  not-yet-released residue, sup = suppressed). */
  private lazy val kanonChainSql: String =
    """WITH b AS (SELECT c_custkey, n_name, r_name, c_mktsegment AS seg
        FROM customer JOIN nation ON c_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey),
      j0 AS (SELECT *, count(*) OVER (PARTITION BY n_name, seg) AS n0 FROM b),
      rel0 AS (SELECT c_custkey, n_name AS qi_geo, seg AS qi_seg,
          CAST(0 AS INTEGER) AS anon_level, n0 AS group_n FROM j0 WHERE n0 >= 100),
      res0 AS (SELECT * FROM j0 WHERE n0 < 100),
      j1 AS (SELECT *, count(*) OVER (PARTITION BY r_name, seg) AS n1 FROM res0),
      rel1 AS (SELECT c_custkey, r_name, seg, CAST(1 AS INTEGER), n1
        FROM j1 WHERE n1 >= 100),
      res1 AS (SELECT * FROM j1 WHERE n1 < 100),
      j2 AS (SELECT *, count(*) OVER (PARTITION BY seg) AS n2 FROM res1),
      rel2 AS (SELECT c_custkey, '*', seg, CAST(2 AS INTEGER), n2
        FROM j2 WHERE n2 >= 100),
      res2 AS (SELECT * FROM j2 WHERE n2 < 100),
      j3 AS (SELECT *, count(*) OVER () AS n3 FROM res2),
      rel3 AS (SELECT c_custkey, '*', '*', CAST(3 AS INTEGER), n3
        FROM j3 WHERE n3 >= 100),
      sup AS (SELECT c_custkey, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
          CAST(-1 AS INTEGER), CAST(NULL AS BIGINT) FROM j3 WHERE n3 < 100)"""

  /** l-diversity audit ([[graft.operators.Privacy.lDiversity]]) of the
   *  q_kanon release: k-anonymity bounds re-identification, not
   *  attribute disclosure — every released equivalence class
   *  (qi_geo, qi_seg, anon_level) must also carry >= l DISTINCT
   *  values of the sensitive attribute (the 2000-wide account-balance
   *  bucket) or class membership alone leaks it. One
   *  map-side-combined rollup over the released table; suppressed
   *  rows (anon_level -1) are not released and not audited. */
  private val q_ldiversity = QueryDef(
    (s, dir) => {
      val base = t(s, dir, "customer")
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      val released = graft.operators.Privacy.kAnonymize(base, "c_custkey", k = 100,
        levels = Seq(
          Seq("qi_geo" -> col("n_name"), "qi_seg" -> col("c_mktsegment")),
          Seq("qi_geo" -> col("r_name"), "qi_seg" -> col("c_mktsegment")),
          Seq("qi_geo" -> lit("*"), "qi_seg" -> col("c_mktsegment")),
          Seq("qi_geo" -> lit("*"), "qi_seg" -> lit("*"))))
        .filter(col("anon_level") >= 0)
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), floor(col("c_acctbal") / 2000).cast("long").as("sens")),
          "c_custkey")
      graft.operators.Privacy.lDiversity(released,
          Seq("anon_level", "qi_geo", "qi_seg"), "sens", l = 3)
        .orderBy("anon_level", "qi_geo", "qi_seg")
    },
    Some(s"""$kanonChainSql,
      rel AS (
        SELECT * FROM rel0 UNION ALL SELECT * FROM rel1 UNION ALL
        SELECT * FROM rel2 UNION ALL SELECT * FROM rel3),
      sd AS (SELECT r.anon_level, r.qi_geo, r.qi_seg,
          CAST(floor(c.c_acctbal / 2000) AS BIGINT) AS sens
        FROM rel r JOIN customer c USING (c_custkey))
      SELECT anon_level, qi_geo, qi_seg, count(*) AS n,
        CAST(count(DISTINCT sens) AS BIGINT) AS n_sensitive,
        count(DISTINCT sens) >= 3 AS l_diverse
      FROM sd GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  /** t-closeness audit ([[graft.operators.Privacy.tCloseness]], Li et
   *  al. 2007) of the q_kanon release — the third release-gate rung:
   *  distinct-l passes a class whose sensitive values are 98% one
   *  value; t-closeness bounds each class's variational distance from
   *  the released table's GLOBAL sensitive distribution. t = 1/5,
   *  decided in exact integer rationals (num * 5 <= 2*n*N); the
   *  6-dp t_dist double is display-only. The oracle replays the
   *  residue chain, both rollups and the dense class x value grid. */
  private val q_tcloseness = QueryDef(
    (s, dir) => {
      val base = t(s, dir, "customer")
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      val released = graft.operators.Privacy.kAnonymize(base, "c_custkey", k = 100,
        levels = Seq(
          Seq("qi_geo" -> col("n_name"), "qi_seg" -> col("c_mktsegment")),
          Seq("qi_geo" -> col("r_name"), "qi_seg" -> col("c_mktsegment")),
          Seq("qi_geo" -> lit("*"), "qi_seg" -> col("c_mktsegment")),
          Seq("qi_geo" -> lit("*"), "qi_seg" -> lit("*"))))
        .filter(col("anon_level") >= 0)
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), floor(col("c_acctbal") / 2000).cast("long").as("sens")),
          "c_custkey")
      graft.operators.Privacy.tCloseness(released,
          Seq("anon_level", "qi_geo", "qi_seg"), "sens", tNum = 1, tDen = 5)
        .orderBy("anon_level", "qi_geo", "qi_seg")
    },
    Some(s"""$kanonChainSql,
      rel AS (
        SELECT * FROM rel0 UNION ALL SELECT * FROM rel1 UNION ALL
        SELECT * FROM rel2 UNION ALL SELECT * FROM rel3),
      sd AS (SELECT r.anon_level, r.qi_geo, r.qi_seg,
          CAST(floor(c.c_acctbal / 2000) AS BIGINT) AS sens
        FROM rel r JOIN customer c USING (c_custkey)),
      cls AS (SELECT anon_level, qi_geo, qi_seg, count(*) AS n FROM sd GROUP BY 1, 2, 3),
      gv AS (SELECT sens, count(*) AS g FROM sd GROUP BY 1),
      -- NOT "AS N": DuckDB identifiers are case-insensitive, so a
      -- column named N collides with the class count n and the final
      -- select's N silently resolves to the wrong one
      tot AS (SELECT count(*) AS total_rows FROM sd),
      cv AS (SELECT anon_level, qi_geo, qi_seg, sens, count(*) AS c
        FROM sd GROUP BY 1, 2, 3, 4),
      grid AS (SELECT cls.anon_level, cls.qi_geo, cls.qi_seg, cls.n,
          gv.sens, gv.g, coalesce(cv.c, 0) AS c, tot.total_rows
        FROM cls CROSS JOIN gv CROSS JOIN tot
        LEFT JOIN cv ON cv.anon_level = cls.anon_level AND cv.qi_geo = cls.qi_geo
          AND cv.qi_seg = cls.qi_seg AND cv.sens = gv.sens)
      SELECT anon_level, qi_geo, qi_seg, min(n) AS n,
        round(CAST(sum(abs(c * total_rows - g * n)) AS DOUBLE)
          / (2.0 * min(n) * min(total_rows)), 6) AS t_dist,
        sum(abs(c * total_rows - g * n)) * 5 <= 2 * min(n) * min(total_rows) * 1 AS t_close
      FROM grid GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  /** Funnel time-to-convert ([[graft.operators.Temporal.funnelLatency]]):
   *  exact latency distribution (p50/p90/min/max/integer-div mean, in
   *  ms) between first view -> first chained click -> first chained
   *  purchase, same 2-day slice and chained-window semantics as
   *  `q_funnel` so the populations agree with the funnel counts. */
  private val q_funnel_latency = QueryDef(
    (s, dir) => graft.operators.Temporal.funnelLatency(
        eventsRaw(s, dir).filter(col("ts") < lit(1704240000000000000L)),
        "user_id", "ts", "event_id",
        Seq(col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase"))
      .orderBy("step"),
    Some("""WITH e AS (SELECT user_id, epoch_ns(ts) AS tns, event_id, event_type FROM events
        WHERE epoch_ns(ts) < 1704240000000000000),
      s1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN tns END)
          OVER (PARTITION BY user_id ORDER BY tns, event_id ROWS UNBOUNDED PRECEDING) AS q0 FROM e),
      s2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND q0 < tns THEN tns END)
          OVER (PARTITION BY user_id ORDER BY tns, event_id ROWS UNBOUNDED PRECEDING) AS q1 FROM s1),
      s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND q1 < tns THEN tns END)
          OVER (PARTITION BY user_id ORDER BY tns, event_id ROWS UNBOUNDED PRECEDING) AS q2 FROM s2),
      per AS (SELECT user_id, min(q0) AS t0, min(q1) AS t1, min(q2) AS t2
        FROM s3 GROUP BY user_id),
      lat AS (
        SELECT '0->1' AS step, (t1 - t0) // 1000000 AS l FROM per WHERE t1 IS NOT NULL
        UNION ALL
        SELECT '1->2', (t2 - t1) // 1000000 FROM per WHERE t2 IS NOT NULL)
      SELECT step, count(*) AS n_converted,
        CAST(round(quantile_cont(l, 0.5)) AS BIGINT) AS p50_ms,
        CAST(round(quantile_cont(l, 0.9)) AS BIGINT) AS p90_ms,
        min(l) AS min_ms, max(l) AS max_ms,
        CAST(sum(l) // count(*) AS BIGINT) AS avg_ms
      FROM lat GROUP BY step ORDER BY step"""))

  /** Corpus drift screen ([[graft.operators.TextAnalysis.sourceDrift]]):
   *  per-source KL and Jensen-Shannon divergence of the token
   *  distribution against the whole corpus. */
  private val text_drift = QueryDef(
    (s, dir) => graft.operators.TextAnalysis.sourceDrift(
        t(s, dir, "documents"), "source", "text")
      .orderBy("source"),
    Some {
      val norm = Dedup.normalizeTextSql("text")
      s"""WITH tok AS (SELECT source AS grp,
          unnest(list_filter(string_split($norm, ' '), x -> len(x) > 0)) AS term FROM documents),
        gt AS (SELECT grp, term, count(*) AS c FROM tok GROUP BY 1, 2),
        vocab AS (SELECT term, sum(c) AS ct FROM gt GROUP BY 1),
        gtot AS (SELECT grp, sum(c) AS n, count(*) AS n_types FROM gt GROUP BY 1),
        tot AS (SELECT sum(ct) AS nn FROM vocab),
        -- absent-term JSD mass analytically (sum_all q = 1):
        -- jsd = 0.5*(ln2 + sum_present[p ln(2p/(p+q)) + q ln(2q/(p+q)) - q ln2])
        pres AS (SELECT x.grp, g.n, g.n_types,
            x.c::DOUBLE / g.n AS p, v.ct::DOUBLE / t.nn AS q
          FROM gt x JOIN vocab v USING (term) JOIN gtot g ON g.grp = x.grp
          CROSS JOIN tot t)
        SELECT grp AS source, CAST(any_value(n) AS BIGINT) AS n_tokens,
          any_value(n_types) AS n_types,
          round(sum(p * ln(p / q)), 6) AS kl,
          round((ln(2) + sum(p * ln(2 * p / (p + q))
            + q * ln(2 * q / (p + q)) - q * ln(2))) * 0.5, 6) AS jsd
        FROM pres GROUP BY grp ORDER BY grp"""
    })

  /** Per-dimension embedding QA (dead/degenerate-dimension screen):
   *  count, exact zero count, mean/min/max and population std per
   *  dimension — identical E[x^2]-E[x]^2 arithmetic on both engines. */
  private val vec_dimstats = QueryDef(
    (s, dir) => {
      val v = col("col").cast("double")
      t(s, dir, "embeddings")
        .select(posexplode(col("embedding")))
        .groupBy((col("pos") + 1).cast("long").as("i"))
        .agg(count(lit(1)).as("n"),
          sum((col("col") === 0f).cast("long")).as("n_zero"),
          round(avg(v), 6).as("mean"),
          round(min(v), 6).as("min_v"),
          round(max(v), 6).as("max_v"),
          round(sqrt(greatest(avg(v * v) - avg(v) * avg(v), lit(0.0))), 6).as("std"))
        .orderBy("i")
    },
    Some("""SELECT i, count(*) AS n,
        CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        round(avg(v), 6) AS mean, round(min(v), 6) AS min_v, round(max(v), 6) AS max_v,
        round(sqrt(greatest(avg(v * v) - avg(v) * avg(v), 0)), 6) AS std
      FROM (SELECT i, embedding[i]::DOUBLE AS v FROM embeddings, range(1, 65) t(i))
      GROUP BY i ORDER BY i"""))

  /** SCD2 validity-interval lookup join (the "dimension as-of" fact
   *  enrichment): each order carries a derived version time and picks
   *  the ONE history row with valid_from <= v_at < valid_to for its
   *  customer. Plans as a co-partitioned equi-join on the key with
   *  the interval predicate as a post-filter — per-key fan-out is
   *  bounded by the version count (<= 3 here), never an interval
   *  cross product. The aggregate per picked version (counts + bal
   *  and key checksums) validates every row's pick; total n_orders
   *  must equal the fact count (validity windows partition the line). */
  private val q_scd2_lookup = QueryDef(
    (s, dir) => {
      val hist = scd2Hist(s, dir).select(col("k").as("hk"),
        col("valid_from"), col("valid_to"), col("bal_cents"))
      val facts = t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        (col("o_orderkey") % 6 * 50).as("v_at"))
      facts.join(hist, col("o_custkey") === col("hk") &&
          col("v_at") >= col("valid_from") && col("v_at") < col("valid_to"))
        .groupBy("valid_from")
        .agg(count(lit(1)).as("n_orders"),
          sum("bal_cents").as("bal_sum"),
          sum("o_orderkey").as("key_sum"))
        .orderBy("valid_from")
    },
    Some(s"""WITH hist AS ($scd2HistSql),
      facts AS (SELECT o_custkey, o_orderkey, o_orderkey % 6 * 50 AS v_at FROM orders)
      SELECT valid_from, count(*) AS n_orders,
        CAST(sum(bal_cents) AS BIGINT) AS bal_sum,
        CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      FROM facts JOIN hist ON o_custkey = k
        AND v_at >= valid_from AND v_at < valid_to
      GROUP BY valid_from ORDER BY valid_from"""))

  /** Equatorial -> galactic frame transform (IAU J2000 rotation —
   *  the coordinate face every survey catalog needs next to the
   *  gnomonic projection): per-customer (l, b), map-only. */
  private val q_galactic = QueryDef(
    (s, dir) => withSky(t(s, dir, "customer"), "c_custkey")
      .select(col("c_custkey"),
        round(sphere.galacticL(col("cra"), col("cdec")), 6).as("gal_l"),
        round(sphere.galacticB(col("cra"), col("cdec")), 6).as("gal_b"))
      .orderBy("c_custkey"),
    Some(s"""SELECT c_custkey,
      round(${sphere.galacticLSql("cra", "cdec")}, 6) AS gal_l,
      round(${sphere.galacticBSql("cra", "cdec")}, 6) AS gal_b
      FROM ${skySql("customer", "c_custkey")} ORDER BY c_custkey"""))

  /** CCNet-style per-language perplexity bucketing (Wenzek et al.
   *  2020): score every doc under the bigram LM trained on the
   *  doc_id<300 slice, cut each LANGUAGE at its 1/3 and 2/3
   *  cross-entropy order statistics, and bucket docs head/middle/tail
   *  — the selection stage CCNet keeps "head+middle" from. Thresholds
   *  are EXACT integer kth-smallest values (k = ceil(n/3), ceil(2n/3))
   *  over e6-scaled scores, found on the per-language VALUE HISTOGRAM
   *  (distinct-score rows, bounded — never a corpus-sized window):
   *  interpolated quantile_cont thresholds proved ulp-unstable at
   *  h~1 boundaries (an exact-tie doc flipped buckets between
   *  engines), integer order statistics cannot. Ties at a threshold
   *  all land on the head side on both engines by construction. */
  private val text_ccnet = QueryDef(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val lm = graft.operators.Lm.trainBigram(docs.filter(col("doc_id") < 300), "doc_id", "text")
      val ce = graft.operators.Lm.crossEntropy(docs, "doc_id", "text", lm)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .withColumn("ce_e6", round(col("cross_entropy") * 1e6).cast("long"))
      // ONE corpus scoring pass, ZERO threshold joins: the histogram
      // carries every aggregate the final rollup needs (count + id_sum
      // per (lang, score)), and a score row's bucket is decided INSIDE
      // the per-language window — score <= t1 (the k1-th order
      // statistic)  <=>  its EXCLUSIVE prefix count cum - c < k1, so
      // the explicit min-threshold aggregate and its broadcast re-join
      // onto the scored frame (which made the r11 plan pay the whole
      // bigram-explode scoring pass three times — 6.9x idle ratio)
      // both disappear. Ties at a threshold still land head-side:
      // equal scores share one histogram row.
      val hist = ce.groupBy("lang", "ce_e6")
        .agg(count(lit(1)).as("c"), sum("doc_id").as("id_sum"))
      val wl = Window.partitionBy("lang").orderBy("ce_e6")
      hist.withColumn("cum", sum("c").over(wl))
        .withColumn("n", sum("c").over(Window.partitionBy("lang")))
        .withColumn("bucket",
          when(col("cum") - col("c") < expr("(n + 2) div 3"), "head")
            .when(col("cum") - col("c") < expr("(2 * n + 2) div 3"), "middle")
            .otherwise("tail"))
        .groupBy("lang", "bucket")
        .agg(sum("c").as("n_docs"), sum("id_sum").as("id_sum"),
          min("ce_e6").as("min_ce_e6"), max("ce_e6").as("max_ce_e6"))
        .orderBy("lang", "bucket")
    },
    Some(s"""WITH ce AS (${graft.operators.Lm.perplexitySql("documents", "doc_id", "text", "doc_id < 300")}),
      lce AS (SELECT c.doc_id, d.lang,
        CAST(round(c.cross_entropy * 1e6) AS BIGINT) AS ce_e6
        FROM ce c JOIN documents d USING (doc_id)),
      hist AS (SELECT lang, ce_e6, count(*) AS c FROM lce GROUP BY 1, 2),
      cum AS (SELECT lang, ce_e6, sum(c) OVER (PARTITION BY lang ORDER BY ce_e6
          ROWS UNBOUNDED PRECEDING) AS cum FROM hist),
      tot AS (SELECT lang, count(*) AS n FROM lce GROUP BY 1),
      th AS (SELECT c.lang,
          min(CASE WHEN cum >= (n + 2) // 3 THEN ce_e6 END) AS t1,
          min(CASE WHEN cum >= (2 * n + 2) // 3 THEN ce_e6 END) AS t2
        FROM cum c JOIN tot USING (lang) GROUP BY c.lang)
      SELECT l.lang, CASE WHEN ce_e6 <= t1 THEN 'head'
          WHEN ce_e6 <= t2 THEN 'middle' ELSE 'tail' END AS bucket,
        count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
        min(ce_e6) AS min_ce_e6, max(ce_e6) AS max_ce_e6
      FROM lce l JOIN th USING (lang) GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ---------------------------------------------------------------- registry

  val all: Seq[(String, QueryDef)] = Seq(
    "q1_agg" -> q1_agg,
    "q_join_agg" -> q_join_agg,
    "q_topk" -> q_topk,
    "q_window" -> q_window,
    "q_antijoin" -> q_antijoin,
    "events_window" -> events_window,
    "q_hopping" -> q_hopping,
    "q_sessionize" -> q_sessionize,
    "q_json" -> q_json,
    "q_rollup" -> q_rollup,
    "q_cube" -> q_cube,
    "q_gsets" -> q_gsets,
    "q_having" -> q_having,
    "q_phasefold" -> q_phasefold,
    "q_periodogram" -> q_periodogram,
    "q_structfunc" -> q_structfunc,
    "q_yoy" -> q_yoy,
    "pipeline_er" -> pipeline_er,
    "xmatch_pm" -> xmatch_pm,
    "pipeline_xmatch3" -> pipeline_xmatch3,
    "q_lcfeatures" -> q_lcfeatures,
    "text_ensemble" -> text_ensemble,
    "dedup_keepbest" -> dedup_keepbest,
    "q_topn_other" -> q_topn_other,
    "q_fof" -> q_fof,
    "q_cdc" -> q_cdc,
    "text_trigram" -> text_trigram,
    "text_hybrid" -> text_hybrid,
    "q_twopoint" -> q_twopoint,
    "hpix_smooth" -> hpix_smooth,
    "hpix_transients" -> hpix_transients,
    "hpix_maxima" -> hpix_maxima,
    "pipeline_alert" -> pipeline_alert,
    "q_hierarchy" -> q_hierarchy,
    "xmatch_eval" -> xmatch_eval,
    "q_xmatch_map" -> q_xmatch_map,
    "xmatch_mutual" -> xmatch_mutual,
    "q_correlated" -> q_correlated,
    "q3_shipping" -> q3_shipping,
    "q5_local" -> q5_local,
    "q2_mincost" -> q2_mincost,
    "q7_volume" -> q7_volume,
    "q14_promo" -> q14_promo,
    "q18_large" -> q18_large,
    "q22_idle" -> q22_idle,
    "q8_share" -> q8_share,
    "q16_partsupp" -> q16_partsupp,
    "q9_profit" -> q9_profit,
    "q11_topstock" -> q11_topstock,
    "q12_shipmode" -> q12_shipmode,
    "q20_potential" -> q20_potential,
    "q4_priority" -> q4_priority,
    "q6_forecast" -> q6_forecast,
    "q13_custdist" -> q13_custdist,
    "q15_topsupplier" -> q15_topsupplier,
    "q17_smallqty" -> q17_smallqty,
    "q_percentile" -> q_percentile,
    "q_pivot" -> q_pivot,
    "gc_dist" -> gc_dist,
    "gnomonic" -> gnomonic,
    "cone_search" -> cone_search,
    "box_search" -> box_search,
    "polygon_search" -> polygon_search,
    "xmatch_knn" -> xmatch_knn,
    "xmatch_postfilter" -> xmatch_postfilter,
    "hpix_histogram" -> hpix_histogram,
    "hpix_ring" -> hpix_ring,
    "hpix_index" -> hpix_index,
    "partition_map" -> partition_map,
    "dedup_exact" -> dedup_exact,
    "dedup_keyed" -> dedup_keyed,
    "dedup_minhash" -> dedup_minhash,
    "dedup_simhash" -> dedup_simhash,
    "dedup_jaccard" -> dedup_jaccard,
    "dedup_ppjoin" -> dedup_ppjoin,
    "dedup_snm" -> dedup_snm,
    "dedup_neardup" -> dedup_neardup,
    "dedup_cosine" -> dedup_cosine,
    "ann_bruteforce" -> ann_bruteforce,
    "ann_lsh" -> ann_lsh,
    "ann_ivf" -> ann_ivf,
    "text_langid" -> text_langid,
    "vec_centroids" -> vec_centroids,
    "vec_kmeans" -> vec_kmeans,
    "text_quality" -> text_quality,
    "text_tokens" -> text_tokens,
    "text_fingerprint" -> text_fingerprint,
    "text_normalize" -> text_normalize,
    "text_jaro" -> text_jaro,
    "text_hashfeat" -> text_hashfeat,
    "q_argmax" -> q_argmax,
    "q_unpivot" -> q_unpivot,
    "text_winnow" -> text_winnow,
    "text_cdc" -> text_cdc,
    "dedup_winnow" -> dedup_winnow,
    "dedup_containment" -> dedup_containment,
    "text_tfidf" -> text_tfidf,
    "q_hll" -> q_hll,
    "q_bitmap" -> q_bitmap,
    "q_joinest" -> q_joinest,
    "q_anomaly" -> q_anomaly,
    "q_kmv" -> q_kmv,
    "q_kmv_jaccard" -> q_kmv_jaccard,
    "q_heavyhitters" -> q_heavyhitters,
    "q_bloom" -> q_bloom,
    "q_cms" -> q_cms,
    "q_qsketch" -> q_qsketch,
    "q_setops" -> q_setops,
    "text_inverted" -> text_inverted,
    "text_bm25" -> text_bm25,
    "text_editdist" -> text_editdist,
    "sample_split" -> sample_split,
    "sample_leakage_safe" -> sample_leakage_safe,
    "sample_stratified" -> sample_stratified,
    "sample_quota" -> sample_quota,
    "sample_weighted" -> sample_weighted,
    "sample_weighted_k" -> sample_weighted_k,
    "sample_tokenbudget" -> sample_tokenbudget,
    "pack_greedy" -> pack_greedy,
    "text_chunk" -> text_chunk,
    "decontaminate" -> decontaminate,
    "dedup_cluster" -> dedup_cluster,
    "graph_pagerank" -> graph_pagerank,
    "graph_triangles" -> graph_triangles,
    "graph_bfs" -> graph_bfs,
    "graph_communities" -> graph_communities,
    "graph_modularity" -> graph_modularity,
    "graph_louvain" -> graph_louvain,
    "dedup_incremental" -> dedup_incremental,
    "q_asof" -> q_asof,
    "q_resample" -> q_resample,
    "q_overlapjoin" -> q_overlapjoin,
    "q_transitions" -> q_transitions,
    "q_seqmatch" -> q_seqmatch,
    "q_cooccur" -> q_cooccur,
    "q_trend" -> q_trend,
    "q_theilsen" -> q_theilsen,
    "q_acf" -> q_acf,
    "q_abtest" -> q_abtest,
    "q_ewma" -> q_ewma,
    "q_skyline" -> q_skyline,
    "q_rfm" -> q_rfm,
    "q_changepoint" -> q_changepoint,
    "q_twap" -> q_twap,
    "q_gini" -> q_gini,
    "q_stickiness" -> q_stickiness,
    "q_mode" -> q_mode,
    "q_benford" -> q_benford,
    "q_rolling" -> q_rolling,
    "q_paircorr" -> q_paircorr,
    "q_streaks" -> q_streaks,
    "q_groupconcat" -> q_groupconcat,
    "q_rangejoin" -> q_rangejoin,
    "q_bandjoin" -> q_bandjoin,
    "q_nearjoin" -> q_nearjoin,
    "text_redact" -> text_redact,
    "text_repetition" -> text_repetition,
    "ann_quantized" -> ann_quantized,
    "dedup_semantic" -> dedup_semantic,
    "multimodal_meta" -> multimodal_meta,
    "multimodal_frames" -> multimodal_frames,
    "multimodal_audio" -> multimodal_audio,
    "text_perplexity" -> text_perplexity,
    "text_kneserney" -> text_kneserney,
    "text_auc" -> text_auc,
    "text_cv" -> text_cv,
    "q_qnorm" -> q_qnorm,
    "text_calibration" -> text_calibration,
    "text_centroid" -> text_centroid,
    "text_nb" -> text_nb,
    "text_entropy" -> text_entropy,
    "sample_curriculum" -> sample_curriculum,
    "pipeline_c4" -> pipeline_c4,
    "pipeline_release" -> pipeline_release,
    "sample_dsir" -> sample_dsir,
    "sample_dsir_kn" -> sample_dsir_kn,
    "multimodal_decode" -> multimodal_decode,
    "multimodal_video" -> multimodal_video,
    "multimodal_phash" -> multimodal_phash,
    "multimodal_afp" -> multimodal_afp,
    "multimodal_keyframes" -> multimodal_keyframes,
    "q_shards" -> q_shards,
    "q_attribution" -> q_attribution,
    "q_attribution_multi" -> q_attribution_multi,
    "q_cuped" -> q_cuped,
    "q_pareto80" -> q_pareto80,
    "q_mannwhitney" -> q_mannwhitney,
    "q_forecast_eval" -> q_forecast_eval,
    "q_coverage" -> q_coverage,
    "q_moc" -> q_moc,
    "q_moc_ops" -> q_moc_ops,
    "q_moc_region" -> q_moc_region,
    "multimodal_phash_inc" -> multimodal_phash_inc,
    "q_trainorder" -> q_trainorder,
    "graph_sssp" -> graph_sssp,
    "ann_recall" -> ann_recall,
    "dedup_calibration" -> dedup_calibration,
    "text_nb_eval" -> text_nb_eval,
    "text_bpe" -> text_bpe,
    "dedup_incremental_near" -> dedup_incremental_near,
    "dedup_paragraph" -> dedup_paragraph,
    "dedup_substring" -> dedup_substring,
    "ann_pq" -> ann_pq,
    "ann_ivfpq" -> ann_ivfpq,
    "q_zorder" -> q_zorder,
    "q_bucketed" -> q_bucketed,
    "q_validate" -> q_validate,
    "q_profile" -> q_profile,
    "q10_returns" -> q10_returns,
    "q_merge" -> q_merge,
    "q_scd2" -> q_scd2,
    "q_diff" -> q_diff,
    "q_winsorize" -> q_winsorize,
    "q_exact_quantiles" -> q_exact_quantiles,
    "q_skewjoin" -> q_skewjoin,
    "q19_brackets" -> q19_brackets,
    "q21_waiting" -> q21_waiting,
    "text_collocations" -> text_collocations,
    "q_funnel" -> q_funnel,
    "q_retention" -> q_retention,
    "ann_mmr" -> ann_mmr,
    "sample_mixture" -> sample_mixture,
    "sample_negatives" -> sample_negatives,
    "sample_hardneg" -> sample_hardneg,
    "sample_hardneg_ivf" -> sample_hardneg_ivf,
    "dedup_substring_exact" -> dedup_substring_exact,
    "q_kanon" -> q_kanon,
    "q_ldiversity" -> q_ldiversity,
    "q_tcloseness" -> q_tcloseness,
    "q_funnel_latency" -> q_funnel_latency,
    "text_drift" -> text_drift,
    "vec_dimstats" -> vec_dimstats,
    "q_scd2_lookup" -> q_scd2_lookup,
    "q_galactic" -> q_galactic,
    "text_ccnet" -> text_ccnet,
    "q_fof_dist" -> q_fof_dist,
  )
}
