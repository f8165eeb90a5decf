package graft.catalog

import graft.functions.PartitionGrid
import graft.operators.Spatial
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Density-adaptive HEALPix partitioning — Spark-first re-expression
 * of the reference partitioner (hipscat/partitioner.py):
 *
 *  1. histogram the catalog on an order-k healpix map
 *     (gather_statistics, partitioner.py:94) — a single map-side-
 *     combined groupBy; the collected result is SPARSE (occupied
 *     pixels only), so driver memory is data-bounded and the order
 *     can rise to 14 even at 100 TB.
 *  2. top-down threshold walk (compute_partitioning_map,
 *     partitioner.py:136): from order 0 down to k, assign every
 *     still-active pixel whose rebinned count < threshold.
 *     (Deviation: pixels still ≥ threshold at order k are assigned
 *     at k rather than failing, so the walk always terminates.)
 *  3. write hive-style `catalog/Norder=K/Dir=D/Npix=P/` parquet
 *     (partitioner.py:233 _write_partition_structure layout) via a
 *     single distributed write partitioned by the assigned pixel —
 *     file sizes are bounded by the threshold, partition pruning on
 *     Norder/Npix is native.
 *  4. margin ("neighbor") cache (margin_utils.py + dask_utils.py:246):
 *     rows within `marginDeg` of a FOREIGN partition pixel are
 *     replicated under `neighbor/Norder=K/Dir=D/Npix=P/` via a
 *     bounded disc-cover explode.
 *
 * The partition-map algorithm is public; the write lifecycle (import,
 * append, repartition, recovery) is reached through [[Catalog]].
 */
object HipsPartitioner {

  /** Adaptive partition map: a SPARSE sky tiling ([[PartitionGrid]])
   *  plus the sparse order-k histogram (occupied pixels only, sorted).
   *  Driver memory is bounded by OCCUPIED pixels and tiles — never by
   *  12*4^k — so the histogram order can rise to the `_ID` index
   *  order (14) on realistic skies. */
  final case class PartitionMap(orderK: Int, grid: PartitionGrid,
                                histPix: Array[Long], histCnt: Array[Long]) {
    def assignedOrder(pixK: Long): Int = grid.order(pixK)
    def partitionPixel(pixK: Long): Long = pixK >> (2 * (orderK - grid.order(pixK)))
    def nSources: Long = histCnt.sum
    /** (order, pixel) pairs that actually hold data (empty sky excluded). */
    def pixelsAtOrders: Map[Int, Array[Long]] =
      histPix.groupBy(grid.order).map { case (o, ps) => o -> ps.map(_ >> (2 * (orderK - o))).distinct.sorted }
  }

  /** The reference caps its gather at order 10 (partitioner.py:94,
   *  dense 12*4^10 array); the sparse walk lifts that to the `_ID`
   *  rank order 14 — the hard ceiling for the shuffle-free rank
   *  computation in withSpatialId (orderK <= 14 keeps every order-14
   *  pixel inside one partition). */
  private[catalog] def requireOrderK(orderK: Int): Unit =
    require(orderK >= 0 && orderK <= 14,
      s"orderK must be in [0, 14] (got $orderK) — 14 is the _ID rank order; finer partition " +
        "pixels would split an order-14 pixel across partitions and break rank locality")

  /** Step 1+2: histogram at order k and run the top-down threshold
   *  walk. The groupBy returns one row per OCCUPIED pixel (map-side
   *  combined), so the collect is data-bounded, not 4^k-bounded. */
  def computePartitionMap(df: DataFrame, raCol: String, decCol: String,
                          orderK: Int, threshold: Long): PartitionMap = {
    requireOrderK(orderK)
    val (pix, cnt) = CatalogLayout.collectHist(Spatial.densityHistogram(df, raCol, decCol, orderK))
    partitionMapFromSparseHist(pix, cnt, orderK, threshold)
  }

  /** Sorted-array lower bound (first index with a(i) >= x). */
  private def lowerBound(a: Array[Long], x: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) < x) lo = m + 1 else hi = m }
    lo
  }

  /**
   * The top-down threshold walk over a SPARSE histogram: recurse a
   * subtree only while its occupied count reaches the threshold, emit
   * a tile otherwise — identical assignment to the dense walk (a
   * pixel lands at the FIRST order whose subtree count drops under
   * the threshold, else at order k; empty siblings join the coarse
   * tile), with work and output bounded by occupied pixels. Lets
   * resumable imports rebuild the (deterministic) map from per-batch
   * histogram artifacts without rescanning sources.
   */
  def partitionMapFromSparseHist(pixIn: Array[Long], cntIn: Array[Long],
                                 orderK: Int, threshold: Long): PartitionMap = {
    requireOrderK(orderK)
    require(pixIn.length == cntIn.length, "pix/cnt length mismatch")
    val order = pixIn.indices.sortBy(pixIn).toArray
    val pix = order.map(pixIn)
    val cnt = order.map(cntIn)
    val prefix = new Array[Long](pix.length + 1)
    var i = 0
    while (i < pix.length) { prefix(i + 1) = prefix(i) + cnt(i); i += 1 }
    def rangeCount(lo: Long, hi: Long): Long = prefix(lowerBound(pix, hi)) - prefix(lowerBound(pix, lo))
    val starts = new scala.collection.mutable.ArrayBuffer[Long]
    val ords = new scala.collection.mutable.ArrayBuffer[Int]
    def walk(o: Int, p: Long): Unit = {
      val span = 1L << (2 * (orderK - o))
      val lo = p * span
      if (rangeCount(lo, lo + span) < threshold || o == orderK) { starts += lo; ords += o }
      else { var c = 0L; while (c < 4) { walk(o + 1, p * 4 + c); c += 1 } }
    }
    var b = 0L
    while (b < 12) { walk(0, b); b += 1 }
    PartitionMap(orderK, PartitionGrid(orderK, starts.toArray, ords.toArray), pix, cnt)
  }

  /**
   * Columns (Norder, Dir, Npix) for each row given a partition map
   * (Dir: [[CatalogLayout.dirOf]]). The map is broadcast via the
   * closure (bounded by occupied tiles).
   */
  def withPartitionColumns(df: DataFrame, raCol: String, decCol: String, pm: PartitionMap): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(pm.grid)
    // codegen kernel (PackedPartitionPixelExpr), NOT a Scala UDF: this
    // is the one expression every ingested row crosses, so it must
    // stay inside WholeStageCodegen (asserted in CatalogSpec)
    CatalogLayout.withTileColumns(
      df.withColumn("__pp", graft.functions.native.packedPartitionPixel(col(raCol), col(decCol), pm.orderK, bc)),
      "__pp")
  }

  /**
   * Margin rows: (Norder, Dir, Npix) of every FOREIGN partition
   * pixel within `marginDeg` of the row — the reference's neighbor
   * cache semantics (rows near a pixel's border get replicated into
   * that pixel's neighbor file). By default the set is the
   * pixel-granular disc-cover SUPERSET; `exactMargin = true` trims
   * each candidate to the true boundary-distance band
   * (margin_utils.py:209/:307 semantics via Healpix.distToPixelDeg —
   * polar-aware with no projection special case), cutting neighbor
   * storage at coarse orders. Consumers exact-filter on match
   * distance either way, so stored-margin results are identical.
   */
  def marginRows(df: DataFrame, raCol: String, decCol: String, pm: PartitionMap, marginDeg: Double,
                 exactMargin: Boolean = false): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(pm.grid)
    // bounded explode of a codegen kernel (MarginPixelsExpr): packed
    // foreign partition pixels overlapping the margin disc, minus the
    // row's own pixel — no Scala UDF on the ingest path
    CatalogLayout.withTileColumns(
      df.withColumn("__m", explode(graft.functions.native.marginPixels(
        col(raCol), col(decCol), pm.orderK, marginDeg, bc, exactMargin))),
      "__m")
  }

  /**
   * Full partitioned-catalog write (layout: [[CatalogLayout]]):
   * catalog/ + neighbor/ hive trees with their parquet summary
   * sidecars (partitioner.py:373, consumed by the reference reader's
   * read_parquet_metadata, lsd2_io.py:324), the density histograms and
   * a `{cat}_meta.json` (reference: write_structure_metadata,
   * partitioner.py:350) that also records `exactMargin`, so appends
   * and repartitions keep the import's margin policy.
   */
  private[catalog] def write(df: DataFrame, raCol: String, decCol: String, idCol: String,
                             layout: CatalogLayout, orderK: Int, threshold: Long, marginDeg: Double,
                             exactMargin: Boolean): PartitionMap =
    writeWithMap(df, computePartitionMap(df, raCol, decCol, orderK, threshold),
      raCol, decCol, idCol, layout, threshold, marginDeg, exactMargin)

  /** The write phases after the partition map is known — shared by
   *  [[write]] (map from a direct scan) and [[writeResumable]] (map
   *  from per-batch histogram artifacts). */
  private def writeWithMap(df: DataFrame, pm: PartitionMap,
                           raCol: String, decCol: String, idCol: String, layout: CatalogLayout,
                           threshold: Long, marginDeg: Double, exactMargin: Boolean): PartitionMap = {
    val spark = df.sparkSession
    val ids = Some(CatalogLayout.SpatialIds(raCol, decCol, idCol))
    CatalogLayout.writeTree(withPartitionColumns(df, raCol, decCol, pm), layout.catalogTree, "overwrite", ids)
    CatalogLayout.writeTree(marginRows(df, raCol, decCol, pm, marginDeg, exactMargin),
      layout.neighborTree, "overwrite", ids)
    layout.finishTrees(spark)

    // persist the order-k density histogram as a small parquet — the
    // data product behind the reference's visualize_* views
    // ({cat}_order10_hpmap.fits, lsd2_io.py:12,170) — straight from
    // the already-collected pm.hist: ZERO extra scans at write time.
    // Sparse (nonzero pixels only); readers treat missing pixels as 0.
    // Written twice: point_map is the CURRENT density (appends update
    // it); import_hist is the FROZEN import-time histogram from which
    // [[append]] deterministically rebuilds the partition map (the
    // map must never be recomputed from grown counts, or the layout
    // would drift from the directories already on disk).
    val hist = CatalogLayout.histFrame(spark, pm.histPix, pm.histCnt)
    CatalogLayout.writeHist(hist, layout.pointMap)
    CatalogLayout.writeHist(hist, layout.importHist)

    layout.writeMeta(spark,
      CatalogMeta(layout.catname, raCol, decCol, idCol, threshold, pm.orderK, marginDeg, exactMargin).withMap(pm))
    pm
  }

  /**
   * Incremental append into an EXISTING catalog — the operation the
   * reference importer lacks (partitioner.py is one-shot; growing a
   * survey means re-importing everything). New rows are:
   *
   *  - assigned with the FROZEN import-time partition map
   *    (deterministically rebuilt from `import_hist.parquet` — never
   *    from current counts, which would drift the layout away from
   *    the directories already on disk);
   *  - written `mode(append)` as new parquet files inside the
   *    existing `catalog/` and `neighbor/` hive dirs (readers see
   *    extra files per partition, nothing is rewritten);
   *  - `_ID`-ranked CONTINUING each order-14 pixel's existing rank
   *    (per-tree offset join), so `_ID` stays unique and every file
   *    remains internally `_ID`-sorted;
   *  - folded into `point_map.parquet` (current density) and the
   *    meta JSON (n_sources, hips lists).
   *
   * The partition map is frozen, so pixels grow past the import
   * threshold as data accumulates — that is inherent to append (the
   * same trade the reference would face); when the returned map's
   * `hist` shows pixels far beyond threshold, re-import to re-split.
   *
   * Appends must be SERIALIZED (one writer at a time): the `_ID`
   * offsets are read from the current tree, so concurrent appends
   * would mint colliding ranks — the usual contract for file-based
   * tables without a transaction log. Note that append implicitly
   * runs [[recoverRepartition]] first, which DELETES any
   * `_repartition_stage/` debris: under the serialization contract
   * that debris can only be a crashed writer's, but an append racing
   * a LIVE repartition's staging phase would silently destroy the
   * in-flight rewrite (the repartition then fails on the missing
   * stage). Don't run them concurrently.
   *
   * The rows' ra/dec/id columns are the ones the meta records, so an
   * append ranks `_ID` on the same columns as the import.
   */
  private[catalog] def append(df: DataFrame, layout: CatalogLayout): PartitionMap = {
    val spark = df.sparkSession
    // complete any crashed repartition commit FIRST (writers
    // serialize, so a pending journal here means the writer died):
    // without this, rows appended under the stale import_hist land in
    // the journal's doomed split dirs and the eventual roll-forward
    // would delete them — the one write path that could lose data
    recoverRepartition(spark, layout)
    // drop any stale cached listing BEFORE reading rank offsets — a
    // listing cached before an external writer's files landed would
    // mint colliding _IDs
    layout.invalidateTrees(spark)
    val current = layout.resolve(spark)
    val meta = current.meta
    import meta.{raKw => raCol, decKw => decCol, idKw => idCol}

    val (ihPix, ihCnt) = CatalogLayout.readHist(spark, layout.importHist)
    val frozen = partitionMapFromSparseHist(ihPix, ihCnt, meta.orderK, meta.pixThreshold)
    val (mPix, mCnt) = CatalogLayout.collectHist(CatalogLayout.loadHist(spark, layout.pointMap)
      .unionByName(Spatial.densityHistogram(df, raCol, decCol, meta.orderK)))

    def ids(existing: DataFrame) = Some(CatalogLayout.SpatialIds(raCol, decCol, idCol, Some(existing)))
    CatalogLayout.writeTree(withPartitionColumns(df, raCol, decCol, frozen), layout.catalogTree, "append",
      ids(current.load(spark)))
    CatalogLayout.writeTree(marginRows(df, raCol, decCol, frozen, meta.marginDeg, meta.exactMargin),
      layout.neighborTree, "append", ids(current.loadNeighbors(spark)))
    // the session FileStatusCache still holds the PRE-append listings
    // of partition dirs that already existed — without invalidation a
    // same-session reader sees only the old files of old dirs (new
    // dirs list fresh), silently dropping appended rows; the sidecars
    // must cover the appended files too
    layout.finishTrees(spark)

    val out = PartitionMap(meta.orderK, frozen.grid, mPix, mCnt)
    CatalogLayout.writeHist(CatalogLayout.histFrame(spark, mPix, mCnt), layout.pointMap)
    layout.writeMeta(spark, meta.withMap(out))
    out
  }

  /**
   * Re-split an EXISTING catalog whose pixels have grown past the
   * import threshold through [[append]]s — the lifecycle gap of the
   * frozen append-time partition map (the reference's only answer is
   * a full re-import; partitioner.py is one-shot). Re-walks the
   * ACCUMULATED histogram (point_map) and rewrites ONLY tiles whose
   * assignment changed: counts only grow under append, so the new
   * map strictly REFINES the frozen one (a tile is emitted at the
   * first order whose subtree count drops under the threshold, and
   * growing counts can only push that deeper) — intact tiles keep
   * their files byte-identical, and the rewrite cost is bounded by
   * the over-threshold data, never the catalog.
   *
   *  - split tiles' catalog rows are re-bucketed under the new grid
   *    with `_ID`s PRESERVED (`_ID` depends only on the order-14
   *    pixel and the import-time rank — partitioning never enters it);
   *  - split tiles' neighbor files are rebuilt under the catalog's
   *    recorded margin policy (`exact_margin` in the meta): sources are each
   *    tile's own rows (new INTERNAL borders between sibling
   *    sub-tiles) plus its previous neighbor rows (any external row
   *    within marginDeg of a sub-tile was within marginDeg of the
   *    parent, so the old neighbor file is a complete external
   *    source superset); targets are restricted to the split regions
   *    — margin entries into unchanged tiles are untouched and stay
   *    correct (a row's entry into a foreign unchanged tile does not
   *    depend on how the row's own region is tiled);
   *  - import_hist re-freezes to the accumulated histogram so future
   *    [[append]]s assign under the REFINED layout; meta refreshes.
   *
   * Serialize with other writers (the [[append]] contract). Readers
   * stay safe throughout — and so does a WRITER CRASH at any point:
   *
   *  - rewritten sub-tiles are staged under `_repartition_stage/`
   *    (invisible to readers), then a journal listing the staged
   *    sub-tile dirs and the doomed old dirs is committed via
   *    write-temp + atomic rename — that rename is the commit point;
   *  - a crash BEFORE the commit point leaves the old dirs untouched
   *    and authoritative (the stage tree is discarded debris);
   *  - a crash AFTER it is rolled FORWARD by [[recoverRepartition]]
   *    (also run automatically at the next [[repartition]]): the
   *    commit steps — rename staged dirs in, delete old dirs,
   *    re-freeze import_hist, refresh meta, drop the journal — are
   *    each idempotent, so replaying them completes the rewrite;
   *  - a concurrent reader during the commit window sees transient
   *    duplicates rather than a gap (new sub-tile dirs land before
   *    their old dir is deleted); [[CatalogLayout.resolve]] warns loudly
   *    when a journal is present so a crashed writer's lingering
   *    duplicates are detected rather than silently double-counted.
   */
  private[catalog] def repartition(spark: SparkSession, layout: CatalogLayout): PartitionMap = {
    // complete any crashed prior commit / discard pre-commit debris
    // BEFORE reading layout state — the repaired tree is the basis
    recoverRepartition(spark, layout)
    val meta = layout.readMeta(spark)
    import meta.{orderK, raKw => raCol, decKw => decCol, idKw => idCol}

    val (phPix, phCnt) = CatalogLayout.readHist(spark, layout.pointMap)
    val newMap = partitionMapFromSparseHist(phPix, phCnt, orderK, meta.pixThreshold)
    val (ihPix, ihCnt) = CatalogLayout.readHist(spark, layout.importHist)
    val oldMap = partitionMapFromSparseHist(ihPix, ihCnt, orderK, meta.pixThreshold)

    // occupied frozen tiles whose region the new walk subdivides
    val split = oldMap.pixelsAtOrders.toSeq
      .flatMap { case (o, ps) => ps.map(p => (o, p)) }
      .filter { case (o, p) =>
        val span = 1L << (2 * (orderK - o))
        val lo = p * span
        var i = lowerBound(phPix, lo)
        var changed = false
        while (i < phPix.length && phPix(i) < lo + span) {
          val no = newMap.grid.order(phPix(i))
          require(no >= o, s"repartition: new map would COARSEN tile ($o, $p) — the " +
            "accumulated histogram shrank below import_hist; counts must only grow under append")
          if (no != o) changed = true
          i += 1
        }
        changed
      }
    if (split.isEmpty) return PartitionMap(orderK, oldMap.grid, phPix, phCnt)

    val current = layout.resolve(spark)
    val catTiles = current.tiles.collect { case ("catalog", o, p) => (o, p) }.toSet
    require(split.exists(catTiles.contains),
      s"repartition: none of the ${split.length} split tiles have catalog dirs — " +
        s"split=${split.take(5)}, probe=${split.headOption.map { case (o, p) =>
          CatalogLayout.tilePath(layout.catalogTree, o, p) }}")
    // the split tiles' rows, read through the resolved trees: the
    // filter names only tile columns, so the scan is pruned to them
    val splitKeys = split.map { case (o, p) => Long.box((o.toLong << 48) | p) }
    def splitRows(tree: DataFrame): DataFrame =
      tree.filter(shiftleft(col("Norder").cast("long"), 48).bitwiseOR(col("Npix")).isin(splitKeys: _*))
        .drop(CatalogLayout.TileCols: _*)
    // parquet re-reads surface every column nullable, but `_ID` was
    // written non-nullable — restore that in the rewrite's schema
    // (coalesce against a literal is non-nullable by construction and
    // never fires: _ID has no nulls) or the summary sidecar's footer
    // merge rejects the mixed row metadata
    val oldCat = splitRows(current.load(spark))
      .withColumn("_ID", coalesce(col("_ID"), lit(Long.MinValue)))
    val oldNbr = splitRows(current.loadNeighbors(spark))

    // 1) STAGE the re-bucketed split-tile catalog rows, _ID preserved
    //    (invisible to readers until the journal commits)
    CatalogLayout.writeTree(withPartitionColumns(oldCat, raCol, decCol, newMap),
      layout.stagedTree("catalog"), "overwrite", ids = None)

    // 2) STAGE rebuilt margin entries TARGETING the split regions only;
    //    a source row appearing both as a home row and as a replica in
    //    another split tile's old neighbor file collapses in distinct
    val sources = oldCat.drop("_ID").unionByName(oldNbr.drop("_ID")).distinct()
    val splitDf = spark.createDataFrame(split).toDF("o_s", "p_s")
    val restricted = marginRows(sources, raCol, decCol, newMap, meta.marginDeg, meta.exactMargin)
      .join(broadcast(splitDf),
        expr("Norder >= o_s AND shiftright(Npix, 2 * (Norder - o_s)) = p_s"), "left_semi")
    // rank offsets read the CURRENT tree (doomed dirs included — the
    // resulting rank gaps are harmless; uniqueness is the contract)
    CatalogLayout.writeTree(restricted, layout.stagedTree("neighbor"), "overwrite",
      Some(CatalogLayout.SpatialIds(raCol, decCol, idCol,
        Some(current.loadNeighbors(spark)))))

    // COMMIT POINT: journal the staged sub-tile dirs + doomed old dirs.
    // Before the journal lands a crash leaves the old layout
    // authoritative; after it the rewrite always completes (here or in
    // recoverRepartition).
    val staged = for {
      tree <- CatalogLayout.TreeNames
      (o, p) <- CatalogLayout.listTiles(spark, layout.stagedTree(tree))
    } yield (tree, o, p)
    layout.commitJournal(spark, split, staged)

    // 3+4) rename staged dirs in, drop old dirs, re-freeze, drop journal
    commitRepartition(spark, layout)
  }

  /**
   * Detect-and-repair for a crashed [[repartition]]. If the commit
   * journal is present, the crash happened AFTER the commit point —
   * roll the rewrite FORWARD by replaying the (idempotent) commit
   * steps. Any journal-less stage debris is from a crash BEFORE the
   * commit point — the old dirs are untouched and authoritative, so
   * the debris is discarded. Returns true iff a pending commit was
   * found and completed. Run automatically at the start of every
   * [[repartition]] and [[append]]; callers seeing
   * [[CatalogLayout.resolve]]'s journal warning run it through
   * [[Catalog.recoverRepartition]].
   */
  private[catalog] def recoverRepartition(spark: SparkSession, layout: CatalogLayout): Boolean = {
    val fsys = CatalogLayout.fs(spark, layout.root)
    val pending = fsys.exists(new Path(layout.journal))
    if (pending) commitRepartition(spark, layout)
    fsys.delete(new Path(layout.stage), true)
    fsys.delete(new Path(s"${layout.journal}.tmp"), false)
    pending
  }

  /**
   * The idempotent back half of [[repartition]], driven entirely by
   * the committed journal + on-disk state so a crash at ANY point is
   * repaired by re-running it: per staged sub-tile dir, (re-)rename it
   * into the live tree (a destination left by a previous half-finished
   * attempt can only be this same rename's output, so it is replaced);
   * delete the superseded old dirs; re-freeze import_hist from the
   * accumulated histogram (writers serialize, so point_map is exactly
   * the basis that produced the staged layout); refresh meta; and only
   * then drop the journal + stage tree.
   */
  private def commitRepartition(spark: SparkSession, layout: CatalogLayout): PartitionMap = {
    val fsys = CatalogLayout.fs(spark, layout.root)
    val (split, staged) = layout.readJournal(spark)
    staged.foreach { case (tree, o, p) =>
      val src = new Path(CatalogLayout.tilePath(layout.stagedTree(tree), o, p))
      val dst = new Path(CatalogLayout.tilePath(layout.tree(tree), o, p))
      if (fsys.exists(src)) {
        if (fsys.exists(dst)) fsys.delete(dst, true)
        fsys.mkdirs(dst.getParent)
        require(fsys.rename(src, dst), s"repartition commit: rename $src -> $dst failed")
      }
    }
    for ((o, p) <- split; tree <- CatalogLayout.TreeNames)
      fsys.delete(new Path(CatalogLayout.tilePath(layout.tree(tree), o, p)), true)
    layout.finishTrees(spark)

    val meta = layout.readMeta(spark)
    val (phPix, phCnt) = CatalogLayout.readHist(spark, layout.pointMap)
    val newMap = partitionMapFromSparseHist(phPix, phCnt, meta.orderK, meta.pixThreshold)
    CatalogLayout.writeHist(CatalogLayout.histFrame(spark, phPix, phCnt), layout.importHist)
    val out = PartitionMap(meta.orderK, newMap.grid, phPix, phCnt)
    layout.writeMeta(spark, meta.withMap(out))
    fsys.delete(new Path(layout.journal), false)
    fsys.delete(new Path(layout.stage), true)
    out
  }

  /**
   * Resumable import — the reference partitioner's per-URL cache
   * machinery (partitioner.py:27,66) re-expressed Spark-first. A
   * failed import resumes from the last completed batch instead of
   * re-reading and re-parsing every source file:
   *
   *  - per input batch, ONE parse pass writes (a) the rows to
   *    `_import/stage/batch=N` and (b) the order-k pixel histogram to
   *    `_import/hist/batch=N`; Spark's atomic job commit (`_SUCCESS`)
   *    is the completion marker, so a re-run skips finished batches
   *    (csv/FITS parsing is the expensive part at catalog scale).
   *  - the partition map is rebuilt deterministically by summing the
   *    per-batch histograms (associative — identical to a direct
   *    full-scan histogram), then the final catalog/ + neighbor/ +
   *    meta write runs once over the columnar staging (itself an
   *    atomic overwrite: a phase-2 failure just reruns phase 2).
   *
   * Output is row-identical (including `_ID`) to a single-shot
   * [[write]] of the concatenated batches — asserted in ScalaTest.
   */
  private[graft] def writeResumable(spark: SparkSession, batches: Seq[Seq[String]],
                                    readBatch: Seq[String] => DataFrame,
                                    raCol: String, decCol: String, idCol: String, layout: CatalogLayout,
                                    orderK: Int, threshold: Long, marginDeg: Double,
                                    cleanStaging: Boolean): PartitionMap = {
    requireOrderK(orderK)
    val importDir = layout.importDir
    val fs = new Path(importDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def done(dir: String) = fs.exists(new Path(s"$dir/_SUCCESS"))

    def stageDir(i: Int) = s"$importDir/stage/batch=$i"
    def histDir(i: Int) = s"$importDir/hist/batch=$i"

    // a resume with a DIFFERENT batch list — or sources regenerated
    // under the same paths — would silently mix stale staged data into
    // the new import. Pin path + size + mtime per source file in a
    // manifest on the first attempt. The PATH list must always match;
    // size/mtime are validated only for batches whose staging is
    // incomplete (those re-read their sources) — a COMPLETED batch's
    // staging is the source of truth, so its sources may be archived,
    // moved or touched without blocking the resume.
    def fileSig(p: String): String =
      try {
        val st = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(new Path(p))
        s"$p\u0001${st.getLen}:${st.getModificationTime}"
      } catch { case _: Exception => p } // non-stattable source: path-only pin
    def sigPath(sig: String): String = {
      val k = sig.indexOf('\u0001'); if (k < 0) sig else sig.substring(0, k)
    }
    val current = batches.map(_.map(fileSig))
    val manifestPath = s"$importDir/manifest.txt"
    if (fs.exists(new Path(manifestPath))) {
      val prev = CatalogLayout.readString(spark, manifestPath)
        .split("\n", -1).toSeq.map(_.split("\u0000", -1).toSeq)
      require(prev.length == current.length &&
        prev.zip(current).forall { case (pv, cu) => pv.map(sigPath) == cu.map(sigPath) },
        s"resumable import found staging for a DIFFERENT batch list under $importDir — " +
          "delete the _import directory to start over")
      batches.indices.foreach { i =>
        // gate on the STAGE marker only: a batch whose staging completed
        // but whose histogram is missing recomputes the histogram from
        // the staged bytes and never re-reads its sources — archiving or
        // touching them after staging must not block the resume
        if (!done(stageDir(i)))
          require(prev(i) == current(i),
            s"resumable import: sources of UNSTAGED batch $i changed (sizes or mtimes) since " +
              s"staging began — re-run with the original files, or delete $importDir to start over")
      }
    } else CatalogLayout.writeString(spark, manifestPath,
      current.map(_.mkString("\u0000")).mkString("\n"))

    batches.indices.foreach { i =>
      val stage = stageDir(i)
      val hist = histDir(i)
      if (!done(stage)) readBatch(batches(i)).write.mode("overwrite").parquet(stage)
      // histogram from the STAGED bytes (not the source) so the map
      // always matches what phase 2 will actually read
      if (!done(hist))
        CatalogLayout.writeHist(
          Spatial.densityHistogram(spark.read.parquet(stage), raCol, decCol, orderK), hist)
    }

    val (pix, cnt) = CatalogLayout.collectHist(
      CatalogLayout.rebin(CatalogLayout.loadHist(spark, batches.indices.map(histDir): _*), 0))
    val pm = partitionMapFromSparseHist(pix, cnt, orderK, threshold)

    val staged = spark.read.parquet(batches.indices.map(stageDir): _*)
    writeWithMap(staged, pm, raCol, decCol, idCol, layout, threshold, marginDeg, exactMargin = false)
    if (cleanStaging) fs.delete(new Path(importDir), true)
    pm
  }
}
