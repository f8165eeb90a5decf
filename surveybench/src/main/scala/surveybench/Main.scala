package surveybench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/**
 * JVM side of the survey benchmark: one process runs one workload.
 *
 * {{{
 * surveybench.Main --workload survey --inputs <dir>,<dir>,<dir> --seconds 5 \
 *   --trace 0 --cores 4 --work <scratch dir> --out <result.json> --budget 120
 * }}}
 *
 * `--inputs` holds one directory of generated inputs per set-up
 * repetition (run.py generates them from the seed). The process sets
 * up once per directory (a fresh session plus whatever the workload
 * builds from its inputs), warms up, measures for `--seconds` with
 * tracing off, and, with `--trace 1`, measures a fixed amount of the
 * same work again with spans and Spark listener counters on. It writes
 * the metrics, a run header and the artifacts the output checks need
 * to `--out`.
 */
object Main {
  final case class Args(workload: String, inputs: Seq[String], seconds: Double, trace: Boolean,
                        cores: Int, work: String, out: String, budgetS: Double)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("inputs").split(",").toSeq, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, need("work"), need("out"), need("budget").toDouble)
  }

  def main(argv: Array[String]): Unit = {
    val run = new Run(parse(argv))
    val workload: Workload = run.args.workload match {
      case "survey" => new Survey(run)
      case "pipeline_ops" => new PipelineOps(run)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    try run.execute(workload)
    finally run.close()
  }
}

/** One workload: set up, warm up, then measure. */
trait Workload {
  /** Builds what the workload reads from the inputs in `dir`. */
  def setup(spark: SparkSession, dir: String): Unit
  /** Run-header fields that describe this workload's inputs. */
  def header(spark: SparkSession, dir: String): Map[String, Any]
  /** Work whose timings are discarded. */
  def warmup(spark: SparkSession, dir: String): Unit
  /** Timed work with tracing off for at least `seconds` (and any
   *  minimum sample count); fills the end-to-end metrics. */
  def measure(spark: SparkSession, dir: String, seconds: Double): Unit
  /** A fixed amount of the same work with `tracer` on; fills the
   *  per-layer metrics, including the tracing overhead. */
  def traced(spark: SparkSession, dir: String, tracer: Tracer): Unit
}

final class Run(val args: Main.Args) {
  val startNs: Long = System.nanoTime()
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val header = mutable.LinkedHashMap.empty[String, Any]
  val artifacts = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  private var spark: SparkSession = _

  def elapsedS: Double = (System.nanoTime() - startNs) / 1e9
  /** Measurement loops stop here even below their minimum sample
   *  count, so the process always ends inside its time budget. */
  def overBudget: Boolean = elapsedS > args.budgetS

  def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(graft.plans.GraftExtensions.install)
      .master(s"local[${args.cores}]")
      .appName(s"surveybench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", (2L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stopSession(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  /** Counts one operation; a thrown error counts it as failed. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable =>
      failed += 1
      failures += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      None
    }
  }

  /** Records a wrong output of an operation already counted. */
  def wrong(what: String): Unit = { failed += 1; failures += s"$what: wrong output" }

  def execute(w: Workload): Unit = {
    header ++= Seq("workload" -> args.workload, "cores" -> args.cores,
      "run_seconds" -> args.seconds, "tracing" -> args.trace, "load_start" -> Run.loadavg(),
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"),
      "scala_version" -> scala.util.Properties.versionNumberString,
      "host_cpus" -> Runtime.getRuntime.availableProcessors,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024))

    // set-up, once per generated input directory: every repetition
    // starts a session and builds what the workload reads
    val setup = mutable.ArrayBuffer.empty[Timing]
    var dir = ""
    for (next <- args.inputs) {
      stopSession()
      if (dir.nonEmpty) Run.delete(new File(dir))
      dir = next
      setup += Clock {
        spark = newSession()
        w.setup(spark, dir)
      }._2
    }
    header("setup_jvm_s") = setup.map(_.ownS).toSeq
    header("setup_jvm_wall_s") = setup.map(_.wallS).toSeq
    header("spark_version") = spark.version
    header ++= w.header(spark, dir)

    w.warmup(spark, dir)
    spark.sharedState.cacheManager.clearCache()
    val measured = Clock(w.measure(spark, dir, args.seconds))._2
    header("measure_steal") = Map("wall_s" -> measured.wallS, "busy_share" -> (1 - measured.ownS / measured.wallS),
      "all_share" -> measured.stealAll)

    if (args.trace) {
      val tracer = new Tracer(enabled = true)
      val (_, c) = SparkCounters.during(spark)(w.traced(spark, dir, tracer))
      val wallS = tracer.opSeconds
      val ops = math.max(1, tracer.opsRecorded).toDouble
      layers("spark.jobs_per_op") = c.jobs / ops
      layers("spark.stages_per_op") = c.stages / ops
      layers("spark.tasks_per_op") = c.tasks / ops
      layers("spark.sched_delay_ms_per_op") = c.schedDelayMs / ops
      layers("spark.core_busy_frac") = c.runNs / 1e9 / (wallS * args.cores)
      layers("spark.deserialize_s") = c.deserializeNs / 1e9
      layers("spark.shuffle_read_mb") = c.shuffleReadBytes / 1048576.0
      layers("spark.shuffle_write_mb") = c.shuffleWriteBytes / 1048576.0
      layers("spark.spill_mb") = c.spillBytes / 1048576.0
      layers("spark.gc_s") = tracer.gcMs / 1000.0
      layers("spark.failed_tasks") = c.failedTasks.toDouble
      val self = tracer.selfSeconds
      for (l <- Run.Layers) layers(s"self.${l}_s") = self.getOrElse(l, 0.0)
      layers("trace.spans") = tracer.spans.size.toDouble
      header("traced_ops") = tracer.opsRecorded
      header("traced_op_s") = wallS
      header("unattributed_jobs") = c.unattributedJobs
      val spanFile = s"${args.work}/spans.json"
      Files.write(Paths.get(spanFile), tracer.toJson.getBytes(StandardCharsets.UTF_8))
      artifacts("spans") = spanFile
    }
    artifacts("inputs") = dir
    header("load_end") = Run.loadavg()
    header("elapsed_s") = elapsedS
  }

  def close(): Unit = {
    try stopSession() catch { case _: Throwable => () }
    val out = Json(mutable.LinkedHashMap[String, Any](
      "header" -> header, "e2e" -> e2e, "layers" -> layers, "attempted" -> attempted,
      "failed" -> failed, "failures" -> failures, "artifacts" -> artifacts))
    Files.write(Paths.get(args.out), out.getBytes(StandardCharsets.UTF_8))
  }
}

object Run {
  /** Layer names of the self-time breakdown (graft modules, plus the
   *  benchmark's own code around them). */
  val Layers: Seq[String] = Seq("bench", "sources", "healpix", "catalog", "plans", "operators")

  def loadavg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.US_ASCII)
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** Regular files under `dir`, recursively. */
  def files(dir: File): Seq[File] =
    if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(files)
    else if (dir.isFile) Seq(dir) else Nil

  def parquetFiles(dir: String): Seq[String] =
    files(new File(dir)).filter(_.getName.endsWith(".parquet")).map(_.getPath)

  def bytes(dir: String, parquetOnly: Boolean = false): Long =
    files(new File(dir)).filter(f => !parquetOnly || f.getName.endsWith(".parquet")).map(_.length).sum

  /** Runs an action that consumes every column without collecting. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** Wall time of a call, and its own time: the wall time with the host's
 *  CPU steal taken out. On a shared VM the hypervisor takes CPU time
 *  from the vCPUs for minutes at a time. A vCPU is charged steal only
 *  while it has work to run, so the share of the VM's busy CPU time
 *  (user, nice, system, irq, softirq) that was stolen, s = steal /
 *  (busy + steal) over the call from /proc/stat, is the share of the
 *  time the work wanted that it did not get; the call is stretched by
 *  1 / (1 - s) and its own time is wall x (1 - s). Own time equals wall
 *  time where /proc/stat is unavailable. `stealAll` is the stolen
 *  share of all CPU time, idle included, for the run header. */
final case class Timing(wallS: Double, ownS: Double, stealAll: Double = 0.0)

object Clock {
  /** (steal, busy, total) jiffies over all CPUs. */
  private def ticks(): (Long, Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), StandardCharsets.US_ASCII)
        .takeWhile(_ != '\n').trim.split("\\s+").slice(1, 9).map(_.toLong)
      (f(7), f(0) + f(1) + f(2) + f(5) + f(6), f.sum)
    } catch { case _: Throwable => (0L, 0L, 0L) }

  def apply[T](body: => T): (T, Timing) = {
    val (s0, b0, t0) = ticks()
    val n0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - n0) / 1e9
    val (s1, b1, t1) = ticks()
    val stolen = if (s1 > s0) (s1 - s0).toDouble / (b1 - b0 + s1 - s0) else 0.0
    val stolenAll = if (t1 > t0) (s1 - s0).toDouble / (t1 - t0) else 0.0
    (out, Timing(wall, wall * (1 - stolen), stolenAll))
  }
}

object Stats {
  /** Tracing overhead: traced minus untraced, in percent of untraced. */
  def overheadPct(untraced: Double, traced: Double): Double = 100.0 * (traced - untraced) / untraced

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}
