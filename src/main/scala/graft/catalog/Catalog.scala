package graft.catalog

import graft.functions.{native, sphere, PartitionGrid}
import graft.healpix.Healpix
import graft.operators.Spatial
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The stored catalog at `location/catname`, mirroring the reference's
 * `hipscat.Catalog` object API (hipscat/catalog.py:20). Every
 * stored-catalog operation goes through this handle; ra/dec/id and
 * the partition order come from the catalog's meta, the paths from
 * its [[CatalogLayout]]:
 *
 * {{{
 * val gaia = Catalog(spark, "/data/hips", "gaia")
 * gaia.load(Seq("ra", "dec", "source_id"))
 * gaia.coneSearch(ra = 56, dec = 20, radiusDeg = 10)
 * gaia.crossMatch(sdss, nNeighbors = 4, dthreshDeg = 1.0)
 * }}}
 *
 * A handle reads through a snapshot of the catalog: the meta, both
 * trees listed with their schemas read from their `_common_metadata`
 * sidecars, and the tile list. The first read of a handle resolves it
 * and pays the listing and the sidecar footer reads; later searches,
 * loads and cross-matches only plan and run. Every completed write
 * (import, append, repartition and its roll-forward, compact) ends
 * by rewriting the meta, and each read
 * checks the meta's status (one `getFileStatus`, no listing), so a
 * handle re-resolves after any write, by this handle, another handle
 * or another session; its own [[append]] and [[compact]] also drop
 * its snapshot, whatever the store's timestamp granularity.
 * Resolution is lazy: [[Catalog.importFrom]] and [[append]] return
 * handles that have resolved nothing.
 */
final case class Catalog(spark: SparkSession, location: String, catname: String) {

  private val layout = CatalogLayout(location, catname)
  @volatile private var resolved: CatalogSnapshot = _

  /** The snapshot current with the meta on disk, resolved again when
   *  the meta's status moved. */
  private def snapshot(): CatalogSnapshot = {
    val s = resolved
    if (s != null && s.metaStatus == layout.metaStatus(spark)) s
    else {
      val fresh = layout.resolve(spark)
      resolved = fresh
      fresh
    }
  }

  private def meta: CatalogMeta = snapshot().meta

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
   * sparse map (occupied pixels only, the state an append already
   * holds on the driver) is read and child-sum downsampled to `order`
   * BEFORE it is made dense, so the dense map is bounded at
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

  /** The density map read on the driver and child-sum downsampled to `order`. */
  private def densityAt(order: Int): (Array[Long], Array[Long]) = {
    require(order <= orderK, s"cannot upsample the order-$orderK density map to order $order")
    val (pix, cnt) = CatalogLayout.readHist(spark, layout.pointMap)
    CatalogLayout.rebin(pix, cnt, orderK - order)
  }

  /** Load the catalog, optionally column-pruned (ra/dec/id always kept — catalog.py validate_user_input_cols). */
  def load(columns: Seq[String] = Nil): DataFrame = {
    val s = snapshot()
    val df = s.load(spark)
    if (columns.isEmpty) df else df.select(withContractCols(s.meta, columns).map(col): _*)
  }

  /** The reference column contract (util.py:276 validate_user_input_cols):
   *  a non-empty selection always keeps ra/dec/id. */
  private def withContractCols(m: CatalogMeta, columns: Seq[String]): Seq[String] =
    if (columns.isEmpty) Nil else (columns ++ Seq(m.raKw, m.decKw, m.idKw)).distinct

  /** Cone search with file-level pruning: the hive partition filter
   *  on (Norder, Npix) restricts the scan to overlapping partitions
   *  before any row is read; adds `_DIST` (catalog.py:65). `columns`
   *  prunes the scan — ra/dec/id always kept. */
  def coneSearch(ra: Double, dec: Double, radiusDeg: Double,
                 columns: Seq[String] = Nil): DataFrame = {
    val s = snapshot()
    search(s, ra, dec, radiusDeg, columns)(
      _.withColumn("_DIST", sphere.gcDist(col(s.meta.raKw), col(s.meta.decKw), lit(ra), lit(dec)))
        .filter(col("_DIST") < radiusDeg))
  }

  /** Box search (wrap-aware ra interval x dec band): partition pruning
   *  via the box's provable bounding cone, then the exact range
   *  predicate; same column contract as [[coneSearch]]. */
  def boxSearch(raLo: Double, raHi: Double, decLo: Double, decHi: Double,
                columns: Seq[String] = Nil): DataFrame = {
    val s = snapshot()
    val ((cra, cdec), radius) = Spatial.boxBoundingCone(raLo, raHi, decLo, decHi)
    search(s, cra, cdec, radius, columns)(
      Spatial.boxSearch(_, s.meta.raKw, s.meta.decKw, raLo, raHi, decLo, decHi))
  }

  /** Convex polygon search: partition pruning via the polygon's
   *  bounding cone, then the exact gnomonic half-plane test; same
   *  column contract as [[coneSearch]]. */
  def polygonSearch(vertices: Seq[(Double, Double)],
                    columns: Seq[String] = Nil): DataFrame = {
    val s = snapshot()
    val ((cra, cdec), radius, inside) = Spatial.polygonPredicate(s.meta.raKw, s.meta.decKw, vertices)
    search(s, cra, cdec, radius, columns)(_.filter(inside))
  }

  /**
   * The HEALPix cover a search of the disc (`ra`, `dec`, `radiusDeg`)
   * prunes with, as (cover order, nested pixels at that order).
   *
   * The order is ADAPTIVE: the finest order <= orderK whose expected
   * cover stays <= ~8k pixels, so a wide query (a full-RA dec band
   * gives a 180-deg bounding cone) cannot blow up the driver-side
   * candidate list no matter how fine the catalog's partition order
   * is. Coarsening only loses selectivity, never rows.
   */
  def searchCover(ra: Double, dec: Double, radiusDeg: Double): (Int, Array[Long]) =
    Catalog.searchCover(orderK, ra, dec, radiusDeg)

  /** The pruning shared by every search: a column-pruned scan of the
   *  partitions overlapping the bounding cone's [[searchCover]], the
   *  search's `exact` predicate, then the hive columns dropped unless
   *  the caller picked them.
   *
   *  A partition at order o overlaps the disc iff its coverOrder-aligned
   *  pixel does: ancestors for o <= coverOrder (InSet on rebinned
   *  cover), descendants via a constant shift for o > coverOrder — one
   *  small InSet per order, all over partition columns, so file-level
   *  pruning still applies. */
  private def search(s: CatalogSnapshot, raDeg: Double, decDeg: Double, radiusDeg: Double,
                     columns: Seq[String])(exact: DataFrame => DataFrame): DataFrame = {
    val orderK = s.meta.orderK
    val (coverOrder, cover) = Catalog.searchCover(orderK, raDeg, decDeg, radiusDeg)
    val coverBoxed = cover.map(Long.box).toSeq
    val pred = (0 to orderK).map { o =>
      if (o <= coverOrder) {
        val anc = cover.map(_ >> (2 * (coverOrder - o))).distinct.map(Long.box).toSeq
        col("Norder") === o && col("Npix").isin(anc: _*)
      } else
        col("Norder") === o && shiftright(col("Npix"), 2 * (o - coverOrder)).isin(coverBoxed: _*)
    }.reduce(_ || _)
    // user column selection BEFORE any predicate so the pruning
    // reaches the parquet scan
    val cols = withContractCols(s.meta, columns)
    val df = s.load(spark)
    val sel = if (cols.isEmpty) df else df.select((cols ++ Seq("Norder", "Npix")).distinct.map(col): _*)
    Seq("Norder", "Npix").filterNot(c => cols.isEmpty || cols.contains(c))
      .foldLeft(exact(sel.filter(pred)))(_.drop(_))
  }

  /**
   * Compact every partition leaf of the catalog (and its margin
   * cache): incremental [[append]]s leave one file per append per
   * pixel — the small-file tail that turns 100 TB scans into footer
   * parsing. Walks the `Norder=K/Dir=D/Npix=P` leaves of both trees and
   * applies [[graft.operators.Layout.compact]]'s staged-swap rewrite to
   * any leaf with more than one file (sorted by `_ID` within files, the
   * import-time order). The leaf walk is driver-side but bounded by
   * the partition map (the same cardinality every catalog operation
   * already lists); each leaf rewrite is its own small Spark job. The
   * leaf walk lists the trees afresh rather than trusting a snapshot,
   * because it rewrites leaves. When any leaf was rewritten, both
   * trees' summary sidecars are rewritten to name the new files, and
   * the meta is rewritten unchanged so every handle's snapshot moves
   * past the deleted files.
   * Returns (leaves compacted, files before, files after).
   */
  def compact(targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int, Int) = {
    val fs = CatalogLayout.fs(spark, location)
    var (done, before, after) = (0, 0, 0)
    for (tree <- Seq(layout.catalogTree, layout.neighborTree); (o, p) <- CatalogLayout.listTiles(spark, tree)) {
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
    if (done > 0) {
      layout.finishTrees(spark)
      CatalogLayout.writeString(spark, layout.metaPath, CatalogLayout.readString(spark, layout.metaPath))
      resolved = null
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
    HipsPartitioner.append(df, layout)
    resolved = null
    this
  }

  /** Re-split pixels that outgrew the import threshold through
   *  appends ([[HipsPartitioner.repartition]] — rewrites only the
   *  over-threshold tiles, `_ID`s preserved, margins rebuilt under the
   *  import's margin policy, meta + frozen layout basis refreshed).
   *  Returns a fresh handle; this one also sees the new tiles on its
   *  next read. */
  def repartition(): Catalog = {
    HipsPartitioner.repartition(spark, layout)
    Catalog(spark, location, catname)
  }

  /** Complete a repartition whose writer crashed after its commit
   *  point, and discard a pre-commit stage
   *  ([[HipsPartitioner.recoverRepartition]]); [[load]] warns while
   *  such a commit is pending. True iff a pending commit was rolled
   *  forward. */
  def recoverRepartition(): Boolean = HipsPartitioner.recoverRepartition(spark, layout)

  /**
   * kNN cross-match against another written catalog using the
   * PERSISTED margin cache — the reference's stored-neighbor
   * semantics (catalog.py:144 cross_match + dask_utils.py:367): per
   * partition tile of `other`, candidates are that tile's catalog
   * rows plus its neighbor-file rows; this catalog's rows are
   * assigned to `other`'s partition tile containing them (the
   * hierarchy alignment of util.map_catalog_hips, as one equi-join
   * key, `__jpix`). Like the reference, matches beyond the stored
   * margin radius are not found: import with marginDeg >= dthresh for
   * exactness.
   *
   * Inside a tile the match is local, as lsd2's per-pixel KD-tree is:
   * the candidate join is [[Spatial.pixelJoin]] keyed by (tile,
   * fine pixel) at `Spatial.autoOrder(dthreshDeg)`. A right row (home
   * or margin) carries its own fine pixel; a left row is exploded to
   * the fine pixels of its disc cover ([[Spatial.discCover]]). So a
   * left row meets only the right rows of its tile that lie in its
   * cover: its candidates are the local density times the cover, not
   * the tile's row count. A right row R within dthresh of a left row L
   * lies in L's cover and is stored once in L's tile T (home or
   * margin), so each pair meets exactly once. The ranking is the
   * in-flight match's ([[Spatial.nearestK]]).
   *
   * Output convention follows the reference: every column of BOTH
   * sides carries a `{catname}{delim}` prefix (util.py:299
   * frame_prefix_all_cols, delim '.'), plus unprefixed `_DIST`,
   * `_RANK` and `hips_k`/`hips_pix` (the match partition tile).
   * `c1Cols`/`c2Cols` prune each side's scan before the join —
   * ra/dec/id are always kept (util.py:276).
   */
  def crossMatch(other: Catalog, nNeighbors: Int = 1, dthreshDeg: Double = 0.01,
                 c1Cols: Seq[String] = Nil, c2Cols: Seq[String] = Nil,
                 delim: String = "."): DataFrame = {
    require(other.catname != catname, "cannot cross-match a catalog with itself")
    val (ls, rs) = (snapshot(), other.snapshot())
    val (lmeta, rmeta) = (ls.meta, rs.meta)
    val order = math.max(lmeta.orderK, rmeta.orderK)
    val (lp, rp) = (catname + delim, other.catname + delim)
    // the tile key is the PACKED (order << 48 | pix) value of the
    // right partition: a bare pixel number is ambiguous across orders
    // in an adaptive map ((2, 5) and (3, 5) can coexist)
    val bc = spark.sparkContext.broadcast(Catalog.partitionGrid(rs, order))
    // column selection is applied BEFORE the join, on both sides, so
    // the pruning reaches the parquet scans (ReadSchema); the left
    // hive columns are dropped before prefixing, mirroring prep()
    val l0 = ls.load(spark).drop(CatalogLayout.TileCols: _*)
    val lSel = if (c1Cols.isEmpty) l0 else l0.select(withContractCols(lmeta, c1Cols).map(col): _*)
    val lm = prefixed(lSel.withColumn("__jpix",
      native.packedPartitionPixel(col(lmeta.raKw), col(lmeta.decKw), order, bc)), lp)

    def prep(df: DataFrame): DataFrame = {
      val sel =
        if (c2Cols.isEmpty) df
        else df.select((withContractCols(rmeta, c2Cols) ++ CatalogLayout.TileCols).distinct.map(col): _*)
      val cols = sel.columns.filterNot(CatalogLayout.TileCols.contains)
      sel.select((cols.map(col) :+
        shiftleft(col("Norder").cast("long"), 48).bitwiseOR(col("Npix")).as("__jpix")): _*)
    }
    // right candidates per tile: home rows + stored margin replicas
    val rm = prefixed(prep(rs.load(spark)).unionByName(prep(rs.loadNeighbors(spark))), rp)

    val o = Spatial.autoOrder(dthreshDeg)
    val (lra, ldec) = (lp + lmeta.raKw, lp + lmeta.decKw)
    val joined = Spatial.pixelJoin(rm, rp + rmeta.raKw, rp + rmeta.decKw,
      Spatial.discCover(lm, lra, ldec, o, dthreshDeg), lra, ldec,
      dthreshDeg, o, saltKey = None, keys = Seq("__jpix"))
    // left columns, right columns, _DIST, _RANK, then the tile; the
    // prefixed names may contain '.', so they are backtick-quoted
    val out = (lm.columns ++ rm.columns).filterNot(_ == "__jpix") ++ Seq("_DIST", "_RANK")
    Spatial.nearestK(joined, lp + lmeta.idKw, rp + rmeta.idKw, nNeighbors)
      .select(out.map(Spatial.qc) ++ Seq(
        shiftright(col("__jpix"), 48).cast("int").as("hips_k"),
        col("__jpix").bitwiseAND(lit(0xffffffffffffL)).as("hips_pix")): _*)
  }

  /** Every column but the join key renamed to `prefix + name`. */
  private def prefixed(df: DataFrame, prefix: String): DataFrame =
    df.columns.filterNot(_ == "__jpix").foldLeft(df)((d, c) => d.withColumnRenamed(c, prefix + c))

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
    val rows = crossMatch(other, nNeighbors, dthreshDeg,
        c1Cols = Seq(raKw), c2Cols = Seq(other.raKw))
      .groupBy("hips_k", "hips_pix").agg(count(lit(1)).as("cnt"))
      .collect()
    graft.viz.Mollweide.crossMatch(math.max(orderK, other.orderK),
      rows.map(_.getInt(0)), rows.map(_.getLong(1)), rows.map(_.getLong(2)), width, height)
  }
}

object Catalog {

  /** [[Catalog.searchCover]] for a catalog of partition order `orderK`. */
  private def searchCover(orderK: Int, ra: Double, dec: Double, radiusDeg: Double): (Int, Array[Long]) = {
    val discFrac = (1 - math.cos(math.toRadians(math.min(radiusDeg, 180.0)))) / 2
    val coverOrder = (0 to orderK).reverse
      .find(o => discFrac * Healpix.npix(o) <= 8192 || o == 0).getOrElse(0)
    (coverOrder, Healpix.queryDiscCover(coverOrder, ra, dec, radiusDeg))
  }

  /**
   * Partition grid at `order` (SPARSE tiling, see [[PartitionGrid]]),
   * from the snapshot's tiles of BOTH trees, so sky regions that hold
   * only margin replicas (empty home pixel, populated border) still
   * resolve. Regions with no files at all become -1 gap tiles (no
   * partition).
   */
  private def partitionGrid(s: CatalogSnapshot, order: Int): PartitionGrid =
    PartitionGrid.fromTiles(order, s.tiles.map { case (_, o, p) => (p << (2 * (order - o)), o) })

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
    HipsPartitioner.write(df, raKw, decKw, idKw, CatalogLayout(location, catname), orderK, threshold,
      marginDeg, exactMargin)
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
      "ra", "dec", "id", CatalogLayout(location, catname), orderK, threshold, marginDeg, cleanStaging)
    Catalog(spark, location, catname)
  }
}
