package surveybench

import java.io.{File, PrintWriter}

import graft.catalog.{Catalog, HipsPartitioner}
import graft.sources.CatalogReader
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.functions._

import scala.collection.mutable

/**
 * The ingest phase of `survey`, the write path. Each iteration reads
 * the new-epoch batch of parquet shards, imports it as a fresh
 * catalog, appends the late batch and cross-matches the epoch against
 * the master catalog (built once per set-up). The iteration's catalog
 * directory is deleted when the iteration ends.
 */
final class EpochIngest(run: Run) {
  import SkyConfig._

  private val importS, appendS, xmatchS = mutable.ArrayBuffer.empty[Timing]
  private val amp = mutable.ArrayBuffer.empty[Double]
  private val xmatchChecks = mutable.ArrayBuffer.empty[String]
  private var iter = 0
  private var epochRows, lateRows = 0L
  private var samples = IndexedSeq.empty[Seq[Long]]

  private def epochDir(dir: String) = s"$dir/epoch"
  private def lateDir(dir: String) = s"$dir/late"

  private def inputBytes(dir: String): Long =
    Run.bytes(epochDir(dir), parquetOnly = true) + Run.bytes(lateDir(dir), parquetOnly = true)

  def header(dir: String): Map[String, Any] = Map("epoch_input_bytes" -> inputBytes(dir))

  /**
   * Reads the input sizes and the cross-match check samples. No
   * iteration is discarded: the three set-up imports of the master
   * catalog already ran `importFrom`, and a survey ingests each epoch
   * once per session, paying the session's first append and
   * cross-match every time, which is what an iteration measures.
   */
  def warmup(spark: SparkSession, dir: String): Unit = {
    epochRows = spark.read.parquet(epochDir(dir)).count()
    lateRows = spark.read.parquet(lateDir(dir)).count()
    import scala.jdk.CollectionConverters._
    samples = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(s"$dir/xmatch_samples.txt"))
      .asScala.toIndexedSeq.map(_.trim.split(" ").map(_.toLong).toSeq)
  }

  def measure(spark: SparkSession, dir: String, seconds: Double): Unit = {
    val untilNs = System.nanoTime() + (seconds * 1e9).toLong
    do iteration(spark, dir, new Tracer(enabled = false), record = true)
    while (System.nanoTime() < untilNs && !run.overBudget)
    def rate(rows: Long, t: mutable.ArrayBuffer[Timing], own: Boolean): Double =
      rows / Stats.median(t.map(x => if (own) x.ownS else x.wallS).toSeq)
    val calls = Seq(("import", epochRows, importS), ("append", lateRows, appendS),
      ("xmatch", epochRows + lateRows, xmatchS))
    for ((op, rows, t) <- calls) run.e2e(s"${op}_rows_per_s") = rate(rows, t, own = true)
    run.header("ingest_wall_rows_per_s") = calls.map { case (op, rows, t) => op -> rate(rows, t, own = false) }.toMap
    run.e2e("batch_s") = Stats.median(importS.indices.map(i => importS(i).ownS + appendS(i).ownS + xmatchS(i).ownS))
    run.e2e("storage_amp") = Stats.median(amp.toSeq)
    run.header("ingest_iterations") = xmatchS.size
    run.artifacts("xmatch_checks") = xmatchChecks.toSeq
  }

  /**
   * One import + append + cross-match. With `t` enabled, the layers
   * under the import are first timed alone (each a separate call the
   * untraced run does not make), and the cross-match plan's SQL
   * metrics are read. Returns the wall seconds of the three timed
   * calls, or NaN when one failed.
   */
  private def iteration(spark: SparkSession, dir: String, t: Tracer, record: Boolean): Double = {
    val k = iter
    iter += 1
    val cats = SkyInputs.cats(dir)
    val name = s"epoch_$k"
    val epochFiles = Run.parquetFiles(epochDir(dir))
    val master = Catalog(spark, cats, "master")
    val last = new LastExecution
    def timed(body: => Any): Timing = Clock(body)._2
    try {
      if (t.enabled) t.op(spark, "bench", "probe", probe = true)(probeLayers(spark, epochFiles, t))
      val (imp, app, xm) = t.op(spark, "bench", "ingest") {
        val imp = run.attempt(s"import $k")(timed(t.span("catalog", "catalog.import") {
          val df = t.span("sources", "sources.open")(CatalogReader.read(spark, epochFiles, spec))
          Catalog.importFrom(df, cats, name, "ra", "dec", "id", orderK, threshold, marginDeg)
        }))
        val app = if (imp.isEmpty) None else run.attempt(s"append $k")(timed(t.span("catalog", "catalog.append") {
          Catalog(spark, cats, name).append(CatalogReader.read(spark, Run.parquetFiles(lateDir(dir)), spec))
        }))
        if (t.enabled) spark.listenerManager.register(last)
        val xm = try {
          if (app.isEmpty) None else run.attempt(s"crossmatch $k")(timed {
            val df = t.span("catalog", "catalog.xmatch_open")(Catalog(spark, cats, name).crossMatch(master, 1, dthreshDeg))
            t.span("catalog", "catalog.xmatch_exec")(Run.noop(df))
          })
        } finally if (t.enabled) {
          SparkCounters.drain(spark)
          spark.listenerManager.unregister(last)
        }
        (imp, app, xm)
      }
      // an operation that could not run because an earlier one failed
      // counts as failed too
      val notRun = Seq(imp, app, xm).indexWhere(_.isEmpty) match { case -1 => 0; case i => 2 - i }
      run.attempted += notRun
      run.failed += notRun
      if (app.isDefined) checkRows(spark, s"$cats/$name", k)
      if (xm.isDefined) checkMatches(spark, cats, name, k, master)
      if (record && app.isDefined)
        amp += (Run.bytes(s"$cats/$name/catalog") + Run.bytes(s"$cats/$name/neighbor")).toDouble / inputBytes(dir)
      if (t.enabled && xm.isDefined) layout(spark, cats, name, last)
      (imp, app, xm) match {
        case (Some(a), Some(b), Some(c)) =>
          if (record) { importS += a; appendS += b; xmatchS += c }
          a.wallS + b.wallS + c.wallS
        case _ => Double.NaN
      }
    } finally {
      Run.delete(new File(s"$cats/$name"))
      spark.sharedState.cacheManager.clearCache()
    }
  }

  /** The import's layers timed alone, each into a `noop` sink. */
  private def probeLayers(spark: SparkSession, files: Seq[String], t: Tracer): Unit = {
    t.span("sources", "sources.read")(Run.noop(CatalogReader.read(spark, files, spec)))
    val df = CatalogReader.read(spark, files, spec)
    val pm = t.span("catalog", "catalog.partition_map") {
      HipsPartitioner.computePartitionMap(df, "ra", "dec", orderK, threshold)
    }
    t.span("catalog", "catalog.assign")(Run.noop(HipsPartitioner.withPartitionColumns(df, "ra", "dec", pm)))
    t.span("catalog", "catalog.margin")(Run.noop(HipsPartitioner.marginRows(df, "ra", "dec", pm, marginDeg)))
  }

  /** Output check, outside the timed calls: the loaded row count is
   *  the epoch plus the appended rows, and `_ID`s are unique. */
  private def checkRows(spark: SparkSession, catalog: String, k: Int): Unit = {
    val r = spark.read.parquet(s"$catalog/catalog").agg(count(lit(1)), countDistinct("_ID")).head()
    val want = epochRows + lateRows
    if (r.getLong(0) != want || r.getLong(1) != r.getLong(0)) {
      run.wrong(s"append $k")
      run.failures += s"append $k: ${r.getLong(0)} rows, ${r.getLong(1)} distinct _ID, expected $want"
    }
  }

  /** Writes a seeded sample of left rows with their matches, for the
   *  brute-force kNN comparison run after the JVM exits. */
  private def checkMatches(spark: SparkSession, cats: String, name: String, k: Int, master: Catalog): Unit = {
    val sample = samples(k % samples.size)
    val left = s"`$name.id`"
    val pairs = Catalog(spark, cats, name).crossMatch(master, 1, dthreshDeg)
      .filter(col(left).isin(sample: _*)).select(col(left), col("`master.id`")).collect()
      .map(p => p.getLong(0) -> p.getLong(1)).toMap
    val path = s"${run.args.work}/xmatch_$k.csv"
    val w = new PrintWriter(path)
    try {
      w.println("lid,rid")
      sample.foreach(l => w.println(s"$l,${pairs.get(l).map(_.toString).getOrElse("")}"))
    } finally w.close()
    xmatchChecks += path
  }

  /** Layout counts of the written tree and the cross-match's SQL metrics. */
  private def layout(spark: SparkSession, cats: String, name: String, last: LastExecution): Unit = {
    val cat = spark.read.parquet(s"$cats/$name/catalog")
    val rows = cat.count()
    val margin = spark.read.parquet(s"$cats/$name/neighbor").count()
    val maxFill = cat.groupBy("Norder", "Npix").count().agg(max("count")).head().getLong(0)
    val files = Seq("catalog", "neighbor").flatMap(tree => Run.parquetFiles(s"$cats/$name/$tree"))
    val tiles = SkyInputs.tilesByOrder(cats, name)
    val (pairs, matches) = Option(last.plan).map { p =>
      (PlanMetrics.sum(p, PlanMetrics.isJoin, "numOutputRows"),
        PlanMetrics.sum(p, {
          case f: FilterExec => f.condition.references.exists(_.name == "_RANK")
          case _ => false
        }, "numOutputRows"))
    }.getOrElse((0L, 0L))
    layoutSamples += Seq(tiles.values.sum.toDouble, files.size.toDouble, margin.toDouble / rows,
      maxFill.toDouble / threshold, pairs.toDouble / math.max(1L, matches))
  }
  private val layoutSamples = mutable.ArrayBuffer.empty[Seq[Double]]

  /** An untraced and a traced iteration, both after the measured one,
   *  so the overhead compares iterations equally warm. */
  def traced(spark: SparkSession, dir: String, t: Tracer): Unit = {
    val untraced = iteration(spark, dir, new Tracer(enabled = false), record = false)
    val traced = iteration(spark, dir, t, record = false)
    def med(name: String) = Stats.median(t.spans.filter(_.name == name).map(_.durNs / 1e9).toSeq)
    run.layers ++= Seq(
      "sources.read_s" -> med("sources.read"),
      "catalog.partition_map_s" -> med("catalog.partition_map"),
      "catalog.assign_s" -> med("catalog.assign"),
      "catalog.margin_s" -> med("catalog.margin"),
      "catalog.import_s" -> med("catalog.import"),
      "catalog.append_s" -> med("catalog.append"),
      "catalog.xmatch_open_ms" -> med("catalog.xmatch_open") * 1000.0,
      "catalog.xmatch_exec_s" -> med("catalog.xmatch_exec"))
    val names = Seq("catalog.partitions", "catalog.files_written", "catalog.margin_rows_per_row",
      "catalog.max_partition_fill", "catalog.xmatch_pairs_per_match")
    names.zipWithIndex.foreach { case (n, i) => run.layers(n) = Stats.median(layoutSamples.map(_(i)).toSeq) }
    run.layers("catalog.storage_amp") = Stats.median(amp.toSeq)
    run.layers("trace.ingest_overhead_pct") = Stats.overheadPct(untraced, traced)
  }
}
