package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/**
 * The one place a graft process builds its SparkSession. Bench,
 * Verify, Cli, FixtureGen, ScaleProbe and the test specs all call
 * [[apply]], so correctness runs, timed runs and specs execute the
 * catalog and operator code under the same settings. A caller that
 * needs one more setting sets it on its own session after creation.
 */
object GraftSession {

  /** Local parallelism: `SPARK_GRAFT_CPUS`, else 4. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  /** Scan split: `SPARK_GRAFT_MAX_PARTITION_BYTES`, else 2 MiB. Spark's
   *  128 MB default makes every table of the test scales a one-task
   *  scan (a 15 MB multi-row-group file decodes serially on one core;
   *  measured 2-2.5x on the fixture's scan-bound tail). At cluster
   *  scale, where files are many, the default is right. */
  def maxPartitionBytes: Long =
    sys.env.get("SPARK_GRAFT_MAX_PARTITION_BYTES").map(_.trim.toLong).getOrElse(2L << 20)

  /** The master is a deployment setting: one already configured (by
   *  spark-submit, or `-Dspark.master`) wins over `local[cores]`. */
  private[graft] def master(conf: SparkConf, cores: Int): String =
    conf.getOption("spark.master").getOrElse(s"local[$cores]")

  def apply(cores: Int = defaultCores): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(graft.plans.GraftExtensions.install)
      .master(master(new SparkConf(), cores))
      .config("spark.sql.shuffle.partitions", cores.toString)
      // NTZ events timestamps resolve through the session zone
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", maxPartitionBytes.toString)
      // a TIMESTAMP(NANOS) events file scans only under this flag, so
      // direct reads see it as EventsTable.read does; a no-op on micros
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // with a checkpoint dir set, every CacheUtil.gcPersist lineage
      // cut is a reliable checkpoint, and many are owned by the result
      // (connectedComponents' labels, pageRank's edges, the registry's
      // pinned frames): the ContextCleaner deletes such files once
      // their RDD is garbage-collected instead of leaving them on disk
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
