package surveybench

import java.io.PrintWriter
import java.nio.file.{Files, Paths}

import graft.catalog.Catalog
import graft.healpix.Healpix
import graft.operators.Spatial
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable

/**
 * The search phase of `survey`: one client in a closed loop sends
 * seeded cone, box and polygon searches to the master catalog and
 * collects every result. The interactive read path: catalog open,
 * HEALPix cover, partition pruning, planning and the per-job floor;
 * no writes.
 */
final class SkySearch(run: Run) {
  /** Twelve samples beyond p80, the highest percentile reported; more
   *  searches would push a run past its share of the time all runs of
   *  the benchmark may take together. */
  private val MinSearches = 60
  private val TracedSearches = 20
  private var searches = IndexedSeq.empty[Search]
  private var master: Catalog = _
  private val results = mutable.LinkedHashMap.empty[Int, Array[Long]]

  val header: Map[String, Any] = Map("search_client" -> "closed loop, 1 client",
    "search_mix" -> "cone/box/polygon in turn; radius 2-10 deg every 5th search, else 0.05-0.5 deg")

  private def call(s: Search): DataFrame = s.kind match {
    case "cone" => master.coneSearch(s.ra, s.dec, s.radius)
    case "box" => master.boxSearch(s.box._1, s.box._2, s.box._3, s.box._4)
    case _ => master.polygonSearch(s.vertices)
  }

  private def ids(df: DataFrame, rows: Array[Row]): Array[Long] = {
    val i = df.schema.fieldIndex("id")
    rows.map(_.getLong(i)).sorted
  }

  def warmup(spark: SparkSession, dir: String): Unit = {
    master = Catalog(spark, SkyInputs.cats(dir), "master")
    searches = Search.read(s"$dir/searches.txt")
    Search.read(s"$dir/warmup_searches.txt").foreach { s =>
      call(s).collect()
      spark.sharedState.cacheManager.clearCache()
    }
  }

  /** One untraced search and its latency (infinite when it failed: a
   *  failed request misses every latency limit). */
  private def untraced(spark: SparkSession, s: Search): Timing = {
    val t = run.attempt(s"search ${s.idx}") {
      val ((df, rows), t) = Clock {
        val df = call(s)
        (df, df.collect())
      }
      results(s.idx) = ids(df, rows)
      t
    }.getOrElse(Timing(Double.PositiveInfinity, Double.PositiveInfinity))
    spark.sharedState.cacheManager.clearCache()
    t
  }

  /** The closed loop. A traced run reports no end-to-end metrics and
   *  runs its untraced searches in [[traced]] instead. */
  def measure(spark: SparkSession, dir: String, seconds: Double): Unit = if (!run.args.trace) {
    val untilNs = System.nanoTime() + (seconds * 1e9).toLong
    val lat = mutable.ArrayBuffer.empty[Timing]
    while (lat.size < searches.size && (System.nanoTime() < untilNs || lat.size < MinSearches) &&
      !run.overBudget) lat += untraced(spark, searches(lat.size))
    val own = lat.map(_.ownS * 1000).toSeq
    val wall = lat.map(_.wallS * 1000).toSeq
    run.e2e("op_geomean_ms") = Stats.geomean(own)
    run.e2e("search_p50_ms") = Stats.quantile(own, 0.5)
    run.e2e("search_p80_ms") = Stats.quantile(own, 0.8)
    run.header("search_wall_ms") = Map("p50" -> Stats.quantile(wall, 0.5), "p80" -> Stats.quantile(wall, 0.8))
    run.header("searches") = lat.size
    writeArtifacts()
  }

  /** The result ids of every search, for the brute-force check. */
  private def writeArtifacts(): Unit = {
    val rp = s"${run.args.work}/search_results.csv"
    val r = new PrintWriter(rp)
    try {
      r.println("idx,id")
      results.foreach { case (i, xs) => xs.foreach(x => r.println(s"$i,$x")) }
    } finally r.close()
    run.artifacts("searches_run") = results.keys.toSeq
    run.artifacts("search_results") = rp
  }

  /** The bounding cone graft's pruned scan covers, from public helpers:
   *  the box's (midpoint, half-diagonal bound) and the polygon's
   *  (vertex centroid, farthest vertex x 1.001). */
  private def boundingCone(s: Search): (Double, Double, Double) = s.kind match {
    case "cone" => (s.ra, s.dec, s.radius)
    case "box" =>
      val (raLo, raHi, decLo, decHi) = s.box
      val width = if (raLo <= raHi) raHi - raLo else 360.0 - raLo + raHi
      ((raLo + width / 2) % 360.0, (decLo + decHi) / 2,
        math.min(180.0, (decHi - decLo) / 2 + width / 2 + 1e-9))
    case _ =>
      val (cra, cdec) = Spatial.polygonCentroid(s.vertices)
      (cra, cdec, s.vertices.map { case (r, d) => Healpix.gcDistDeg(cra, cdec, r, d) }.max * 1.001)
  }

  /** The cover order the pruned scan picks: the finest order whose
   *  expected cover stays within ~8k pixels. */
  private def coverOrder(radius: Double, orderK: Int): Int = {
    val discFrac = (1 - math.cos(math.toRadians(math.min(radius, 180.0)))) / 2
    (0 to orderK).reverse.find(o => discFrac * Healpix.npix(o) <= 8192 || o == 0).getOrElse(0)
  }

  /** Each of the first searches runs both untraced and traced, in
   *  alternating order, so the overhead compares runs equally warm. */
  def traced(spark: SparkSession, dir: String, t: Tracer): Unit = {
    val cover = mutable.ArrayBuffer.empty[Double]
    val open = mutable.ArrayBuffer.empty[Double]
    val plan = mutable.ArrayBuffer.empty[Double]
    val exec = mutable.ArrayBuffer.empty[Double]
    val latency = mutable.ArrayBuffer.empty[Double]
    val untracedMs = mutable.ArrayBuffer.empty[Double]
    var filesRead, scanRows, resultRows = 0L
    val orderK = master.orderK
    for ((s, i) <- searches.take(TracedSearches).zipWithIndex if !run.overBudget) {
      if (i % 2 == 0) untracedMs += untraced(spark, s).wallS * 1000
      run.attempt(s"traced search ${s.idx}") {
        val (cra, cdec, cr) = boundingCone(s)
        var df: DataFrame = null
        var rows: Array[Row] = null
        t.op(spark, "bench", "search") {
          cover += timedMs(t.span("healpix", "healpix.cover") {
            Healpix.queryDiscCover(coverOrder(cr, orderK), cra, cdec, cr)
          })
          open += timedMs { df = t.span("catalog", "catalog.search_open")(call(s)) }
          plan += timedMs(t.span("plans", "plans.search_plan")(df.queryExecution.executedPlan))
          exec += timedMs { rows = t.span("catalog", "catalog.search_exec")(df.collect()) }
        }
        latency += open.last + plan.last + exec.last
        val p = df.queryExecution.executedPlan
        filesRead += PlanMetrics.sum(p, PlanMetrics.isScan, "numFiles")
        scanRows += PlanMetrics.sum(p, PlanMetrics.isScan, "numOutputRows")
        resultRows += rows.length
        if (results.get(s.idx).exists(r => !java.util.Arrays.equals(r, ids(df, rows))))
          run.wrong(s"traced search ${s.idx}")
      }
      spark.sharedState.cacheManager.clearCache()
      if (i % 2 == 1) untracedMs += untraced(spark, s).wallS * 1000
    }
    val n = math.max(1, latency.size)
    run.layers ++= Seq(
      "healpix.cover_us" -> Stats.median(cover.toSeq) * 1000.0,
      "catalog.search_open_ms" -> Stats.median(open.toSeq),
      "plans.search_plan_ms" -> Stats.median(plan.toSeq),
      "catalog.search_exec_ms" -> Stats.median(exec.toSeq),
      "catalog.search_files_read" -> filesRead.toDouble / n,
      "catalog.search_rows_read_per_row" -> scanRows.toDouble / math.max(1L, resultRows),
      "trace.search_overhead_pct" -> Stats.overheadPct(Stats.median(untracedMs.toSeq), Stats.median(latency.toSeq)))
    writeArtifacts()
  }

  private def timedMs(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e6
  }
}

/** One generated search: kind "cone" (ra, dec, radius), "box" (ra_lo,
 *  ra_hi, dec_lo, dec_hi) or "polygon" (vertex ra, dec pairs). */
final case class Search(idx: Int, kind: String, xs: IndexedSeq[Double]) {
  def ra: Double = xs(0)
  def dec: Double = xs(1)
  def radius: Double = xs(2)
  def box: (Double, Double, Double, Double) = (xs(0), xs(1), xs(2), xs(3))
  def vertices: Seq[(Double, Double)] = xs.grouped(2).map(p => (p(0), p(1))).toSeq
}

object Search {
  /** Reads `idx kind x1 x2 ...` lines, as gen.py writes them. */
  def read(path: String): IndexedSeq[Search] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get(path)).asScala.toIndexedSeq.filter(_.nonEmpty).map { line =>
      val f = line.trim.split(" ")
      Search(f(0).toInt, f(1), f.drop(2).map(_.toDouble).toIndexedSeq)
    }
  }
}
