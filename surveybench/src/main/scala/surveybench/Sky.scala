package surveybench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.catalog.Catalog
import graft.sources.CatalogReader
import org.apache.spark.sql.SparkSession

/** Catalog parameters of the survey (the generator's live in gen.py). */
object SkyConfig {
  val orderK = 7
  val threshold = 3000L
  val marginDeg = 0.05
  val dthreshDeg = 0.002
  val spec: CatalogReader.CatalogSpec =
    CatalogReader.CatalogSpec(fmt = "parquet", raKw = "ra", decKw = "dec", idKw = "source_id")
}

object SkyInputs {
  import SkyConfig._

  def masterDir(dir: String): String = s"$dir/master"
  def cats(dir: String): String = s"$dir/cats"

  /** Reads the master source shards and imports them as catalog `master`. */
  def buildMaster(spark: SparkSession, dir: String): Catalog =
    Catalog.importFrom(CatalogReader.read(spark, Run.parquetFiles(masterDir(dir)), spec),
      cats(dir), "master", "ra", "dec", "id", orderK, threshold, marginDeg)

  /** Partition orders and tile counts of a written catalog, read from
   *  its metadata JSON (`"hips": {"<order>": [pixels...]}`). */
  def tilesByOrder(location: String, catname: String): Map[Int, Int] = {
    val meta = new String(Files.readAllBytes(Paths.get(s"$location/$catname/${catname}_meta.json")),
      StandardCharsets.UTF_8)
    val hips = meta.substring(meta.indexOf("\"hips\""))
    """"(\d+)":\s*\[([^\]]*)\]""".r.findAllMatchIn(hips).map { m =>
      m.group(1).toInt -> m.group(2).split(",").count(_.trim.nonEmpty)
    }.toMap
  }

  def header(dir: String): Map[String, Any] = {
    val tiles = tilesByOrder(cats(dir), "master")
    Map("catalog" -> Json.Raw(s"""{"order_k":$orderK,"threshold":$threshold,""" +
        s""""margin_deg":$marginDeg,"dthresh_deg":$dthreshDeg}"""),
      "master_input_bytes" -> Run.bytes(masterDir(dir), parquetOnly = true),
      "master_catalog_bytes" -> Run.bytes(s"${cats(dir)}/master"),
      "master_partitions" -> tiles.values.sum,
      "master_orders" -> tiles.toSeq.sorted.map { case (o, n) => s"$o:$n" })
  }
}

/**
 * `survey`: the catalog side of the system on one clumpy sky. After
 * the master catalog is built (set-up), a search phase runs the
 * interactive read path and an ingest phase the write path; each
 * phase has its own end-to-end metrics and warm-up.
 */
final class Survey(run: Run) extends Workload {
  private val search = new SkySearch(run)
  private val ingest = new EpochIngest(run)

  def setup(spark: SparkSession, dir: String): Unit = SkyInputs.buildMaster(spark, dir)

  def header(spark: SparkSession, dir: String): Map[String, Any] =
    SkyInputs.header(dir) ++ search.header ++ ingest.header(dir)

  def warmup(spark: SparkSession, dir: String): Unit = {
    search.warmup(spark, dir)
    ingest.warmup(spark, dir)
  }

  def measure(spark: SparkSession, dir: String, seconds: Double): Unit = {
    search.measure(spark, dir, seconds)
    ingest.measure(spark, dir, seconds)
  }

  def traced(spark: SparkSession, dir: String, t: Tracer): Unit = {
    search.traced(spark, dir, t)
    ingest.traced(spark, dir, t)
  }
}
