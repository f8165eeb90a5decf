package surveybench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.QueryRegistry
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/**
 * `pipeline_ops`: passes over a fixed set of registry queries on the
 * generated star-schema, events and documents tables. The set covers
 * the roadmap's operator targets: graph partition sizing (pagerank),
 * LM scoring (nb_eval), the WEAK tail of floor-bound queries and Rank
 * (rfm). It never touches a stored catalog.
 */
final class PipelineOps(run: Run) extends Workload {
  val Queries: Seq[String] = Seq("graph_pagerank", "text_nb_eval", "q20_potential", "q_profile",
    "q_paircorr", "q_bucketed", "q_rfm")
  /** Discarded before the pass: a scan-aggregate and a join-window
   *  query take the JVM's first-Spark-work costs (class loading, JIT
   *  of Spark's own code), which would otherwise land on whichever
   *  timed query runs first. */
  val WarmupQueries: Seq[String] = Seq("q1_agg", "xmatch_knn")
  private val registry: Map[String, QueryRegistry.QueryDef] = QueryRegistry.all.toMap
  private val expected = mutable.Map.empty[String, Int]
  private val passes = mutable.ArrayBuffer.empty[Map[String, Timing]]

  /** The tables are read where they were generated; nothing to build. */
  def setup(spark: SparkSession, dir: String): Unit = ()

  def header(spark: SparkSession, dir: String): Map[String, Any] =
    Map("queries" -> Queries, "input_bytes" -> Run.bytes(dir, parquetOnly = true))

  /** Order-independent digest of a result's rows. */
  private def digest(rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.unorderedHash(rows.iterator.map(_.toString))

  private def dump = s"${run.args.work}/dump"

  /**
   * Runs the warm-up queries. The timed queries themselves are not run
   * before the pass: a batch pipeline runs each query once per session
   * and pays its first execution (plan compilation, codegen) on every
   * run, which is what a pass measures.
   */
  def warmup(spark: SparkSession, dir: String): Unit = {
    for (q <- WarmupQueries) {
      registry(q).run(spark, dir).collect()
      spark.sharedState.cacheManager.clearCache()
    }
    val oracles = Queries.flatMap(q => registry(q).oracle.map(q -> _)).toMap
    Files.createDirectories(Paths.get(dump))
    Files.write(Paths.get(s"$dump/oracle_sql.json"), Json(oracles).getBytes(StandardCharsets.UTF_8))
    run.artifacts("pipeline_dump") = dump
    run.artifacts("pipeline_queries") = Queries
  }

  /**
   * Runs one query, collecting every column, and returns its seconds.
   * The first execution's result is written out (after the timed call)
   * for the DuckDB oracle comparison and its digest is the expected
   * value of every later execution; a differing result counts the
   * execution as failed.
   */
  private def execute(spark: SparkSession, dir: String, q: String, t: Tracer): Option[Timing] = {
    val out = run.attempt(q) {
      val ((rows, schema), time) = Clock(t.op(spark, "bench", q) {
        val df: DataFrame = t.span("operators", "operators.build")(registry(q).run(spark, dir))
        t.span("plans", "plans.plan")(df.queryExecution.executedPlan)
        (t.span("operators", "operators.exec")(df.collect()), df.schema)
      })
      expected.get(q) match {
        case None =>
          expected(q) = digest(rows)
          spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(s"$dump/$q")
        case Some(d) => if (d != digest(rows)) run.wrong(q)
      }
      time
    }
    spark.sharedState.cacheManager.clearCache()
    out
  }

  private def pass(spark: SparkSession, dir: String, t: Tracer): Map[String, Timing] =
    Queries.flatMap(q => execute(spark, dir, q, t).map(q -> _)).toMap

  def measure(spark: SparkSession, dir: String, seconds: Double): Unit = {
    val untilNs = System.nanoTime() + (seconds * 1e9).toLong
    do passes += pass(spark, dir, new Tracer(enabled = false))
    while (System.nanoTime() < untilNs && !run.overBudget)
    def perQuery(f: Timing => Double) = Queries.map(q => Stats.median(passes.flatMap(_.get(q)).map(f).toSeq))
    def total(f: Timing => Double) = Stats.median(passes.map(_.values.map(f).sum).toSeq)
    run.e2e("batch_s") = total(_.ownS)
    run.e2e("op_geomean_ms") = Stats.geomean(perQuery(_.ownS).map(_ * 1000.0))
    run.header("pipeline_wall") = Map("total_s" -> total(_.wallS),
      "geomean_ms" -> Stats.geomean(perQuery(_.wallS).map(_ * 1000.0)))
    run.header("passes") = passes.size
    run.header("query_s") = Queries.zip(perQuery(_.ownS)).toMap
  }

  /** Each query runs both untraced and traced, in alternating order,
   *  so the overhead compares executions equally warm. */
  def traced(spark: SparkSession, dir: String, t: Tracer): Unit = {
    val off = new Tracer(enabled = false)
    var untraced, traced = 0.0
    for ((q, i) <- Queries.zipWithIndex) {
      run.layers(s"operators.${q}_s") = 0.0 // stays 0 when the query fails
      val order = if (i % 2 == 0) Seq(off, t) else Seq(t, off)
      for (tr <- order; time <- execute(spark, dir, q, tr)) {
        if (tr.enabled) { traced += time.wallS; run.layers(s"operators.${q}_s") = time.wallS }
        else untraced += time.wallS
      }
    }
    run.layers("plans.pipeline_plan_ms") = t.seconds("plans.plan") * 1000.0
    run.layers("trace.pipeline_overhead_pct") = Stats.overheadPct(untraced, traced)
  }
}
