package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * User-facing handle mirroring the reference's `hipscat.Catalog`
 * object API (hipscat/catalog.py:20) over the functional layer:
 *
 * {{{
 * val gaia = Catalog(spark, "/data/hips", "gaia")
 * gaia.load(Seq("ra", "dec", "source_id"))
 * gaia.coneSearch(ra = 56, dec = 20, radiusDeg = 10)
 * gaia.crossMatch(sdss, nNeighbors = 4, dthreshDeg = 1.0)
 * }}}
 */
final case class Catalog(spark: SparkSession, location: String, catname: String) {

  private val layout = CatalogLayout(location, catname)
  private lazy val meta: CatalogMeta = layout.readMeta(spark)

  def raKw: String = meta.raKw
  def decKw: String = meta.decKw
  def idKw: String = meta.idKw
  def orderK: Int = meta.orderK

  /** The order-k density histogram persisted at import ((pix, cnt),
   *  sparse — nonzero pixels only): the artifact behind the
   *  reference's visualize_sources view ({cat}_order10_hpmap.fits,
   *  lsd2_io.py:12). Read back, never recomputed. */
  def densityMap(): DataFrame = CatalogLayout.loadHist(spark, layout.pointMap)

  /**
   * Persist the density map as the reference's healpy-ecosystem FITS
   * artifact `{cat}_order{K}_hpmap.fits` (hp.write_map at
   * partitioner.py:129; hp.read_map via lsd2_io.read_fits_file:163)
   * next to the parquet point map, and return the written path. The
   * sparse map is child-sum downsampled to `order` in Spark BEFORE
   * the dense driver-side collect, so the pull is bounded at
   * 12*4^order entries regardless of the catalog's own map order
   * (order 10 = the reference's layout = 100 MB ceiling).
   */
  def exportFitsMap(order: Int = -1, ordering: String = "NESTED"): String = {
    val ord = if (order < 0) math.min(orderK, 10) else order
    val (pix, cnt) = densityAt(ord)
    // ordering = "RING" writes the healpy-DEFAULT layout, so a plain
    // hp.read_map(path) (no nest=True) reads the map correctly; the
    // suffix keeps the two layouts from clobbering each other
    val suffix = if (ordering == "RING") "_ring" else ""
    val path = s"$location/$catname/${catname}_order${ord}_hpmap$suffix.fits"
    graft.sources.Fits.writeHealpixMap(spark, path, ord, pix, cnt, ordering)
    path
  }

  /** The density map child-sum downsampled to `order` in Spark, then collected. */
  private def densityAt(order: Int): (Array[Long], Array[Long]) = {
    require(order <= orderK, s"cannot upsample the order-$orderK density map to order $order")
    CatalogLayout.collectHist(CatalogLayout.rebin(densityMap(), orderK - order))
  }

  /** Load the catalog, optionally column-pruned (ra/dec/id always kept — catalog.py validate_user_input_cols). */
  def load(columns: Seq[String] = Nil): DataFrame = {
    val df = HipsCatalog.load(spark, location, catname)
    if (columns.isEmpty) df else df.select(withContractCols(columns).map(org.apache.spark.sql.functions.col): _*)
  }

  /** The reference column contract (util.py:276 validate_user_input_cols):
   *  a non-empty selection always keeps ra/dec/id. */
  private def withContractCols(columns: Seq[String]): Seq[String] =
    if (columns.isEmpty) Nil else (columns ++ Seq(raKw, decKw, idKw)).distinct

  /** Cone search with file-level pruning; adds `_DIST` (catalog.py:65).
   *  `columns` prunes the scan — ra/dec/id always kept. */
  def coneSearch(ra: Double, dec: Double, radiusDeg: Double,
                 columns: Seq[String] = Nil): DataFrame =
    HipsCatalog.coneSearch(spark, location, catname, raKw, decKw, ra, dec, radiusDeg, orderK,
      columns = withContractCols(columns))

  /** Box search (wrap-aware ra interval x dec band) with the same
   *  partition pruning and column contract as [[coneSearch]]. */
  def boxSearch(raLo: Double, raHi: Double, decLo: Double, decHi: Double,
                columns: Seq[String] = Nil): DataFrame =
    HipsCatalog.boxSearch(spark, location, catname, raKw, decKw, raLo, raHi, decLo, decHi, orderK,
      columns = withContractCols(columns))

  /** Convex polygon search (gnomonic half-planes) with the same
   *  partition pruning and column contract as [[coneSearch]]. */
  def polygonSearch(vertices: Seq[(Double, Double)],
                    columns: Seq[String] = Nil): DataFrame =
    HipsCatalog.polygonSearch(spark, location, catname, raKw, decKw, vertices, orderK,
      columns = withContractCols(columns))

  /**
   * Compact every partition leaf of the catalog (and its margin
   * cache): incremental [[append]]s leave one file per append per
   * pixel — the small-file tail that turns 100 TB scans into footer
   * parsing. Walks the `Norder=K/Dir=D/Npix=P` leaves of both trees and
   * applies [[graft.operators.Layout.compact]]'s staged-swap rewrite to
   * any leaf with more than one file (sorted by `_ID` within files, the
   * import-time order). The leaf walk is driver-side but bounded by
   * the partition map (the same cardinality every catalog operation
   * already lists); each leaf rewrite is its own small Spark job.
   * Returns (leaves compacted, files before, files after).
   */
  def compact(targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int, Int) = {
    val fs = CatalogLayout.fs(spark, location)
    var (done, before, after) = (0, 0, 0)
    for {
      tree <- Seq(layout.catalogTree, layout.neighborTree)
      (o, p) <- CatalogLayout.listTiles(spark, tree)
    } {
      val leaf = CatalogLayout.tilePath(tree, o, p)
      val n = fs.listStatus(new org.apache.hadoop.fs.Path(leaf))
        .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      before += n
      if (n > 1) {
        val (_, a) = graft.operators.Layout.compact(spark, leaf, targetFileBytes, sortCols = Seq("_ID"))
        done += 1
        after += a
      } else after += n
    }
    (done, before, after)
  }

  /**
   * Incremental append: add rows to this catalog without
   * re-importing — frozen partition map, `_ID` ranks continued,
   * margins (under the import's margin policy) and density map
   * folded in (see [[HipsPartitioner.append]]).
   * Columns must carry the catalog's ra/dec/id keywords.
   */
  def append(df: DataFrame): Catalog = {
    HipsPartitioner.append(df, raKw, decKw, idKw, location, catname)
    this
  }

  /** Re-split pixels that outgrew the import threshold through
   *  appends ([[HipsPartitioner.repartition]] — rewrites only the
   *  over-threshold tiles, `_ID`s preserved, margins rebuilt under the
   *  import's margin policy, meta + frozen layout basis refreshed).
   *  Returns a fresh handle (this one's cached meta is stale after the
   *  rewrite). */
  def repartition(): Catalog = {
    HipsPartitioner.repartition(spark, location, catname)
    Catalog(spark, location, catname)
  }

  /**
   * kNN cross-match against another written catalog using its stored
   * margins (catalog.py:144 cross_match). Output convention follows
   * the reference: every column of BOTH sides carries a
   * `{catname}.{col}` prefix (util.py:299 frame_prefix_all_cols,
   * delim '.'), plus unprefixed `hips_k`/`hips_pix`/`_DIST`/`_RANK`.
   * `c1Cols`/`c2Cols` prune each side's scan before the join —
   * ra/dec/id are always kept (util.py:276).
   */
  def crossMatch(other: Catalog, nNeighbors: Int = 1, dthreshDeg: Double = 0.01,
                 c1Cols: Seq[String] = Nil, c2Cols: Seq[String] = Nil,
                 delim: String = "."): DataFrame = {
    require(other.catname != catname, "cannot cross-match a catalog with itself")
    HipsCatalog.crossMatchStored(spark, location, catname, other.catname,
      raKw, decKw, idKw, other.raKw, other.decKw, other.idKw,
      k = nNeighbors, dthreshDeg = dthreshDeg, orderK = math.max(orderK, other.orderK),
      rightPrefix = other.catname + delim, leftPrefix = catname + delim,
      leftCols = c1Cols, rightCols = c2Cols)
  }

  /** Density views render at most this order — the reference's own
   *  map order ({cat}_order10_hpmap.fits): a DENSE sky at order 10 is
   *  already a 12.6M-entry driver pull, and one order higher
   *  quadruples it, all for pixels far below image resolution. */
  private val maxVizOrder = 10

  private def densityArrays(): (Int, Array[Long], Array[Long]) = {
    val ord = math.min(orderK, maxVizOrder)
    val (pix, cnt) = densityAt(ord)
    (ord, pix, cnt)
  }

  /** Log-density Mollweide view of the persisted point map — the
   *  reference's visualize_sources (catalog.py:256). */
  def visualizeSources(width: Int = 800, height: Int = 400): java.awt.image.BufferedImage = {
    val (ord, pix, cnt) = densityArrays()
    graft.viz.Mollweide.sources(ord, pix, cnt, width, height)
  }

  /** Partition-order Mollweide view — the reference's
   *  visualize_partitions (catalog.py:271); the map is rebuilt from
   *  the FROZEN import histogram, matching the directories on disk
   *  even after appends. */
  def visualizePartitions(width: Int = 800, height: Int = 400): java.awt.image.BufferedImage = {
    val (pix, cnt) = CatalogLayout.readHist(spark, layout.importHist)
    val pm = HipsPartitioner.partitionMapFromSparseHist(pix, cnt, orderK, meta.pixThreshold)
    graft.viz.Mollweide.partitions(pm, width, height)
  }

  /** Density view with the cone's pixel cover painted at full scale —
   *  the reference's visualize_cone_search (catalog.py:302). */
  def visualizeConeSearch(ra: Double, dec: Double, radiusDeg: Double,
                          width: Int = 800, height: Int = 400): java.awt.image.BufferedImage = {
    val (ord, pix, cnt) = densityArrays()
    graft.viz.Mollweide.coneSearch(ord, pix, cnt, ra, dec, radiusDeg, width, height)
  }

  /**
   * Mollweide log-density of MATCH counts per right-partition tile —
   * the reference's visualize_cross_match (catalog.py:336; upstream
   * raises NotImplementedError, its docstring asks for a "mollview of
   * the overlap"). Both scans are pruned to the positional columns
   * before the join; the driver collect is one row per MATCHED
   * partition tile — bounded by the right catalog's partition count,
   * not the data.
   */
  def visualizeCrossMatch(other: Catalog, nNeighbors: Int = 1, dthreshDeg: Double = 0.01,
                          width: Int = 800, height: Int = 400): java.awt.image.BufferedImage = {
    import org.apache.spark.sql.functions.{count, lit}
    val rows = crossMatch(other, nNeighbors, dthreshDeg,
        c1Cols = Seq(raKw), c2Cols = Seq(other.raKw))
      .groupBy("hips_k", "hips_pix").agg(count(lit(1)).as("cnt"))
      .collect()
    graft.viz.Mollweide.crossMatch(math.max(orderK, other.orderK),
      rows.map(_.getInt(0)), rows.map(_.getLong(1)), rows.map(_.getLong(2)), width, height)
  }
}

object Catalog {

  /**
   * Open a catalog at any Hadoop-FileSystem location (local path,
   * HDFS, `s3a://`, `abfs://`, `gs://`), applying per-store
   * configuration before the first read — the reference's
   * `storage_options` threading (lsd2_io.py:43-67, `_get_azure_fs`):
   * where lsd2 hand-builds an adlfs/s3fs filesystem per reader call,
   * Spark's Hadoop connectors already speak every scheme, so
   * credentials/endpoints are plain Hadoop conf keys:
   * {{{
   * Catalog.open(spark, "s3a://bucket/hips", "gaia", Map(
   *   "fs.s3a.endpoint"   -> "s3.example.com",
   *   "fs.s3a.access.key" -> sys.env("AWS_ACCESS_KEY_ID")))
   * Catalog.open(spark, "abfs://c@acct.dfs.core.windows.net/hips", "gaia",
   *   Map("fs.azure.account.key.acct.dfs.core.windows.net" -> key))
   * }}}
   * Keys apply to the session's hadoopConfiguration (Hadoop conf is
   * session-scoped — the standard Spark model), so one `open` covers
   * every subsequent read of that store. Every graft filesystem
   * access (metadata JSON, histograms, hive trees) already goes
   * through the Hadoop FileSystem API (see [[CatalogLayout]]), so cloud
   * and local catalogs take the identical code path; the cloud
   * schemes themselves are untestable in this zero-egress sandbox.
   */
  def open(spark: SparkSession, location: String, catname: String,
           storageOptions: Map[String, String] = Map.empty): Catalog = {
    val hc = spark.sparkContext.hadoopConfiguration
    storageOptions.foreach { case (k, v) => hc.set(k, v) }
    Catalog(spark, location, catname)
  }

  /** Import (partition + write) a source dataframe as a new catalog, then open it. */
  def importFrom(df: DataFrame, location: String, catname: String,
                 raKw: String, decKw: String, idKw: String,
                 orderK: Int = 6, threshold: Long = 1000000L, marginDeg: Double = 0.1,
                 exactMargin: Boolean = false): Catalog = {
    HipsPartitioner.write(df, raKw, decKw, idKw, location, catname, orderK, threshold, marginDeg,
      exactMargin = exactMargin)
    Catalog(df.sparkSession, location, catname)
  }

  /**
   * Resumable import from source files (reference partitioner
   * cache semantics, partitioner.py:27): files are parsed once into
   * per-batch staging; a re-run after a failure skips completed
   * batches. `batchFiles` controls how many files share one batch
   * (one batch = one unit of resumable work).
   */
  def importResumable(spark: SparkSession, paths: Seq[String],
                      spec: graft.sources.CatalogReader.CatalogSpec,
                      location: String, catname: String,
                      orderK: Int = 6, threshold: Long = 1000000L, marginDeg: Double = 0.1,
                      batchFiles: Int = 16, cleanStaging: Boolean = false): Catalog = {
    val batches = paths.grouped(batchFiles).toSeq
    HipsPartitioner.writeResumable(spark, batches,
      files => graft.sources.CatalogReader.read(spark, files, spec),
      "ra", "dec", "id", location, catname, orderK, threshold, marginDeg, cleanStaging)
    Catalog(spark, location, catname)
  }
}
