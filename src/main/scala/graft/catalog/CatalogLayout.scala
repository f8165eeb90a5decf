package graft.catalog

import graft.functions.sphere
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * The on-disk format of the catalog at `location/catname`, owned here
 * for every reader and writer (reference: hipscat/partitioner.py
 * `_write_partition_structure`, `write_structure_metadata`):
 * `catalog/` + `neighbor/` hive trees `Norder=K/Dir=D/Npix=P` of
 * `_ID`-sorted files with parquet summary sidecars, `{cat}_meta.json`
 * ([[CatalogMeta]]), the sparse `(pix, cnt)` order-k histograms
 * `point_map.parquet` (current density) and `import_hist.parquet`
 * (frozen partition-map basis), and a repartition's stage tree and
 * journal. All access goes through the Hadoop FileSystem API, so
 * HDFS/S3 catalogs behave like local ones.
 */
final case class CatalogLayout(location: String, catname: String) {
  val root: String = s"$location/$catname"
  def tree(name: String): String = s"$root/$name"
  def catalogTree: String = tree("catalog")
  def neighborTree: String = tree("neighbor")
  def metaPath: String = s"$root/${catname}_meta.json"
  def pointMap: String = s"$root/point_map.parquet"
  def importHist: String = s"$root/import_hist.parquet"
  def importDir: String = s"$root/_import"
  def stage: String = s"$root/_repartition_stage"
  def stagedTree(name: String): String = s"$stage/$name"
  def journal: String = s"$root/_repartition_journal.json"

  def readMeta(spark: SparkSession): CatalogMeta =
    CatalogMeta.parse(CatalogLayout.readString(spark, metaPath), metaPath)

  def writeMeta(spark: SparkSession, meta: CatalogMeta): Unit =
    CatalogLayout.writeString(spark, metaPath, meta.json)

  /** (modification time, length) of the meta file. Every completed
   *  write ends by rewriting the meta, so this is the key a
   *  [[CatalogSnapshot]] stays current under: one `getFileStatus`, no
   *  listing. */
  private[catalog] def metaStatus(spark: SparkSession): (Long, Long) = {
    val st = CatalogLayout.fs(spark, metaPath).getFileStatus(new Path(metaPath))
    (st.getModificationTime, st.getLen)
  }

  /** Resolve the catalog as it is on disk: the meta, and each tree
   *  listed once with its schema read from its `_common_metadata`
   *  footer in this JVM, so resolving runs no Spark job; a tree
   *  without the sidecar has its schema inferred (the only read of a
   *  tree through `spark.read`; the neighbor tree on first use). The meta's
   *  status is read before anything else, so a write landing meanwhile
   *  changes the key and the next read resolves again. A lingering
   *  repartition journal means a writer crashed mid-commit (old + new
   *  sub-tile dirs may BOTH be visible = duplicate rows) — warn loudly
   *  and point at the repair path rather than silently double-counting;
   *  an ACTIVE repartition's commit window triggers the same warning,
   *  which is the documented transient-duplicates read behavior. */
  private[catalog] def resolve(spark: SparkSession): CatalogSnapshot = {
    val key = metaStatus(spark)
    val meta = readMeta(spark)
    if (CatalogLayout.exists(spark, journal))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"catalog $catname has a pending repartition commit ($journal): rows in split tiles " +
          "may appear twice until the commit finishes — if no repartition is running, " +
          "a writer crashed; run Catalog.recoverRepartition() to roll it forward")
    def relation(tree: String) = CatalogLayout.sparkSchema(spark, tree)
      .fold(GraftBridge.fileRelation(spark.read.parquet(tree)))(GraftBridge.parquetRelation(spark, tree, _))
    new CatalogSnapshot(key, meta, relation(catalogTree),
      () => if (CatalogLayout.exists(spark, neighborTree)) Some(relation(neighborTree)) else None)
  }

  /** Drop the session's cached listings of both trees: a listing
   *  cached before another writer's files landed hides those files. */
  private[catalog] def invalidateTrees(spark: SparkSession): Unit =
    Seq(catalogTree, neighborTree).foreach(spark.catalog.refreshByPath)

  /** After every tree write: invalidate the cached listings and rewrite
   *  both trees' summary sidecars so they cover the new files. */
  private[catalog] def finishTrees(spark: SparkSession): Unit = {
    invalidateTrees(spark)
    Seq(catalogTree, neighborTree).foreach(CatalogLayout.writeSummaryFiles(spark, _))
  }

  /** The repartition commit point: the journal of split tiles and
   *  staged `(tree, order, pix)` dirs is written to a temp file and
   *  renamed into place — the rename is atomic. */
  private[catalog] def commitJournal(spark: SparkSession, split: Seq[(Int, Long)],
                                     staged: Seq[(String, Int, Long)]): Unit = {
    val body =
      s"""{"split": [${split.map { case (o, p) => s"[$o,$p]" }.mkString(",")}],
         | "staged": [${staged.map { case (t, o, p) => s"""["$t",$o,$p]""" }.mkString(",")}]}""".stripMargin
    CatalogLayout.writeString(spark, s"$journal.tmp", body)
    require(CatalogLayout.fs(spark, journal).rename(new Path(s"$journal.tmp"), new Path(journal)),
      s"repartition: journal rename failed at $journal")
  }

  /** (split tiles, staged dirs) of a committed journal. Journals from
   *  older writers also carry a `summary_files` key; it is ignored. */
  private[catalog] def readJournal(spark: SparkSession): (Seq[(Int, Long)], Seq[(String, Int, Long)]) = {
    val j = CatalogLayout.readString(spark, journal)
    // each section is one line; greedy .* + final \] captures the whole
    // array body (inner ]s included) up to the outer closing bracket
    def section(key: String): String =
      s""""$key":\\s*\\[(.*)\\]""".r.findFirstMatchIn(j)
        .getOrElse(throw new IllegalStateException(s"repartition journal missing $key"))
        .group(1)
    val split = """\[(\d+),(\d+)\]""".r.findAllMatchIn(section("split"))
      .map(m => (m.group(1).toInt, m.group(2).toLong)).toSeq
    val staged = """\["(\w+)",(\d+),(\d+)\]""".r.findAllMatchIn(section("staged"))
      .map(m => (m.group(1), m.group(2).toInt, m.group(3).toLong)).toSeq
    (split, staged)
  }
}

object CatalogLayout {

  /** The hive partition columns, in directory nesting order. */
  private[catalog] val TileCols: Seq[String] = Seq("Norder", "Dir", "Npix")
  private[catalog] val TreeNames: Seq[String] = Seq("catalog", "neighbor")

  private[catalog] def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[catalog] def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  private[catalog] def writeString(spark: SparkSession, path: String, content: String): Unit = {
    val out = fs(spark, path).create(new Path(path), true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private[catalog] def readString(spark: SparkSession, path: String): String = {
    val in = fs(spark, path).open(new Path(path))
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  // ---------------------------------------------------------------- tiles

  /** Dir = floor(Npix / 10000) * 10000 — the hipscat layout intent.
   *  (The reference's float expression `(pix / 10_000) * 10_000`
   *  evaluates to pix itself, dask_utils.py:123; we implement the
   *  intended integer bucketing.) */
  private[catalog] def dirOf(npix: Long): Long = npix / 10000L * 10000L

  private[catalog] def tilePath(tree: String, order: Int, npix: Long): String =
    s"$tree/Norder=$order/Dir=${dirOf(npix)}/Npix=$npix"

  /** (order, pix) of every tile directory of a tree; empty if the tree
   *  does not exist. Bounded by directory count. */
  private[catalog] def listTiles(spark: SparkSession, tree: String): Seq[(Int, Long)] = {
    val found = fs(spark, tree).globStatus(new Path(s"$tree/Norder=*/Dir=*/Npix=*"))
    if (found == null) Nil
    else found.toSeq.filter(_.isDirectory).map { st =>
      val p = st.getPath
      (p.getParent.getParent.getName.stripPrefix("Norder=").toInt, p.getName.stripPrefix("Npix=").toLong)
    }
  }

  /** Replace a packed `(order << 48) | pix` column by the hive
   *  partition columns [[TileCols]]. */
  private[catalog] def withTileColumns(df: DataFrame, packed: String): DataFrame = {
    val npix = col(packed).bitwiseAND(lit(0xffffffffffffL))
    df.withColumn("Norder", shiftright(col(packed), 48).cast("int"))
      .withColumn("Dir", (npix / 10000L).cast("long") * 10000L)
      .withColumn("Npix", npix)
      .drop(packed)
  }

  /** The data schema Spark wrote into a tree's files, from the
   *  `_common_metadata` sidecar's footer (the key Spark's own schema
   *  inference reads from a data file's footer); None when the sidecar
   *  or the key is absent. One small footer read, no Spark job. */
  private[catalog] def sparkSchema(spark: SparkSession, tree: String): Option[StructType] = {
    val path = s"$tree/_common_metadata"
    if (!exists(spark, path)) None
    else {
      val conf = spark.sessionState.newHadoopConf()
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(path), conf))
      val kv = try reader.getFooter.getFileMetaData.getKeyValueMetaData finally reader.close()
      Option(kv.get(SparkSchemaKey)).flatMap { json =>
        scala.util.Try(DataType.fromJson(json)).toOption.collect { case st: StructType => st }
      }
    }
  }

  /** Spark's footer key for the schema it wrote
   *  (`ParquetReadSupport.SPARK_METADATA_KEY`). */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  // ----------------------------------------------------------- histograms

  private[catalog] def histFrame(spark: SparkSession, pix: Array[Long], cnt: Array[Long]): DataFrame = {
    import spark.implicits._
    pix.zip(cnt).toSeq.toDF("pix", "cnt")
  }

  /** One-file overwrite of a histogram artifact; the session's cached
   *  listing of the path is dropped (the overwrite deleted its file). */
  private[catalog] def writeHist(hist: DataFrame, path: String): Unit = {
    hist.coalesce(1).write.mode("overwrite").parquet(path)
    hist.sparkSession.catalog.refreshByPath(path)
  }

  private[catalog] def loadHist(spark: SparkSession, paths: String*): DataFrame = spark.read.parquet(paths: _*)

  /** Collect a `(pix, cnt)` frame into pix-sorted arrays, summing the
   *  counts of repeated pixels. */
  private[catalog] def collectHist(hist: DataFrame): (Array[Long], Array[Long]) = {
    val m = scala.collection.mutable.LongMap.empty[Long]
    hist.collect().foreach(r => m(r.getLong(0)) = m.getOrElse(r.getLong(0), 0L) + r.getLong(1))
    val pix = m.keysIterator.toArray.sorted
    (pix, pix.map(m))
  }

  /** Child-sum a `(pix, cnt)` frame `levels` orders coarser (0 merges
   *  repeated pixels), in Spark. */
  private[catalog] def rebin(hist: DataFrame, levels: Int): DataFrame =
    hist.groupBy(shiftright(col("pix"), 2 * levels).as("pix")).agg(sum("cnt").as("cnt"))

  private[catalog] def readHist(spark: SparkSession, path: String): (Array[Long], Array[Long]) = {
    spark.catalog.refreshByPath(path)
    collectHist(loadHist(spark, path))
  }

  // ----------------------------------------------------------- tree write

  /** Fresh `_ID`s for written rows: the order-14 spatial rank of
   *  (ra, dec, id), continuing `rankBase`'s per-pixel ranks when given. */
  final case class SpatialIds(raCol: String, decCol: String, idCol: String,
                              rankBase: Option[DataFrame] = None)

  /**
   * Write rows carrying the [[TileCols]] as one hive tree: ONE
   * repartition by (Norder, Npix), then `_ID`s (`ids`; None keeps the
   * rows' stored `_ID`s), then a sort within partitions and a write
   * partitioned by the tile columns. The sort puts the hive columns
   * FIRST so FileFormatWriter's required ordering is already satisfied
   * (no writer-inserted, stability-unspecified sort) and each written
   * file stays `_ID`-ascending. Continuing ranks costs a join on the
   * pixel, so those rows are repartitioned by tile again.
   */
  private[catalog] def writeTree(rows: DataFrame, path: String, mode: String, ids: Option[SpatialIds]): Unit = {
    val byTile = rows.repartition(col("Norder"), col("Npix"))
    val withIds = ids.fold(byTile) { s =>
      val ranked = withSpatialId(byTile, s.raCol, s.decCol, s.idCol)
      s.rankBase.fold(ranked)(withRankOffsets(ranked, _).repartition(col("Norder"), col("Npix")))
    }
    withIds.sortWithinPartitions((TileCols :+ "_ID").map(col): _*)
      .write.mode(mode).partitionBy(TileCols: _*)
      .parquet(path)
  }

  /**
   * The reference's order-14 spatial index `[pix@14 | rank]`
   * (dask_utils.py:167 compute_index) added WITHOUT a shuffle: after
   * the repartition by partition pixel, every order-14 pixel's rows
   * are complete within one partition (orderK <= 14), so the
   * per-pixel rank is a partition-local running counter over rows
   * sorted by (pix14, ra, dec, id). Rows come out sorted by `_ID`,
   * so written files carry monotonic `_ID` (and clustered ra/dec) —
   * parquet row-group min/max stats then prune stored-catalog cone
   * searches at the ROW-GROUP level, not just the file level.
   */
  private def withSpatialId(df: DataFrame, raCol: String, decCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField}
    val order = 14
    // NOTE: the reference computes this as uint64 (dask_utils.py:167);
    // Spark has no unsigned long, so `_ID` is the same 64-bit pattern
    // REINTERPRETED as signed — pixels >= 2^31 (~1/3 of the sky, the
    // south) produce negative `_ID`s. Per-file monotonicity and
    // row-group min/max pruning are unaffected (2^31 is 4^(14-o)
    // aligned, so no partition straddles the sign flip), but GLOBAL
    // comparisons/sorts across the sign boundary must use
    // `_ID` unsigned (e.g. compare `_ID - Long.MinValue`, or
    // shiftrightunsigned to recover pix14). Asserted in CatalogSpec.
    val shift = 64 - (4 + 2 * order)
    val sorted = df
      .withColumn("__pix14", sphere.hpix(col(raCol).cast("double"), col(decCol).cast("double"), order))
      .sortWithinPartitions(col("__pix14"), col(raCol), col(decCol), col(idCol))
    val pixIdx = sorted.schema.fieldIndex("__pix14")
    val schema = sorted.schema.add(StructField("_ID", LongType, nullable = false))
    sorted.mapPartitions { rows =>
      var cur = Long.MinValue
      var rank = -1L
      rows.map { r =>
        val p = r.getLong(pixIdx)
        if (p != cur) { cur = p; rank = 0L } else rank += 1
        Row.fromSeq(r.toSeq :+ ((p << shift) + rank))
      }
    }(org.apache.spark.sql.Encoders.row(schema)).drop("__pix14")
  }

  /** Per-order-14-pixel `_ID` rank continuation: joins each new row's
   *  pix14 against the tree's current max rank so appended ranks
   *  start where the existing ones stop. A standard shuffle join on
   *  the pixel — the offsets frame is one row per occupied pix14,
   *  never collected. */
  private def withRankOffsets(ids: DataFrame, existingTree: DataFrame): DataFrame = {
    val base = existingTree
      .select(shiftrightunsigned(col("_ID"), 32).as("__pix14"),
        col("_ID").bitwiseAND(lit(0xffffffffL)).as("__rk"))
      .groupBy("__pix14").agg((max("__rk") + 1).as("__base"))
    ids.withColumn("__pix14", shiftrightunsigned(col("_ID"), 32))
      .join(base, Seq("__pix14"), "left")
      .withColumn("_ID", col("_ID") + coalesce(col("__base"), lit(0L)))
      .drop("__pix14", "__base")
  }

  /**
   * Parquet `_metadata` (all row groups) + `_common_metadata` (schema
   * only) summary sidecars for one written tree — the byte-level
   * layout the reference emits (partitioner.py:373) and its reader
   * consumes (lsd2_io.py:324 read_parquet_metadata). Footers are read
   * through parquet-hadoop's pooled parallel reader and merged by its
   * own summary writer, so the sidecar is exactly what a
   * pyarrow/parquet-mr consumer expects.
   *
   * Graft itself never reads them (meta JSON + hive layout + footer
   * stats carry the same information); they exist so a reference-side
   * reader finds the files it expects. Cost per tree per write: one
   * recursive listing + a pooled parallel footer read.
   */
  private def writeSummaryFiles(spark: SparkSession, dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val files = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")) files += f
    }
    if (files.nonEmpty) {
      val footers = org.apache.parquet.hadoop.ParquetFileReader
        .readAllFootersInParallel(conf, files.toList.asJava)
      org.apache.parquet.hadoop.ParquetFileWriter.writeMetadataFile(
        conf, root, footers,
        org.apache.parquet.hadoop.ParquetOutputFormat.JobSummaryLevel.ALL)
    }
  }
}

/**
 * One resolved state of a catalog ([[CatalogLayout.resolve]]): the
 * meta, both trees' relations (listed, schema inferred) and the tiles
 * of both trees. Every read builds a fresh relation instance over the
 * shared file index, so it plans without listing; Spark's partition
 * pruning still restricts a scan to the tiles its filter names.
 * `metaStatus` is the key it was resolved under. The neighbor tree is
 * resolved on first use: searches and the left side of a cross-match
 * never read it.
 */
private[catalog] final class CatalogSnapshot(val metaStatus: (Long, Long), val meta: CatalogMeta,
                                             catalogRel: LogicalRelation,
                                             resolveNeighbors: () => Option[LogicalRelation]) {

  private lazy val neighborRel: Option[LogicalRelation] = resolveNeighbors()

  /** `(tree name, order, pix)` of every tile holding files, in both
   *  trees, read from the file indexes: no filesystem call. */
  lazy val tiles: Seq[(String, Int, Long)] =
    (Seq("catalog" -> catalogRel) ++ neighborRel.map("neighbor" -> _)).flatMap { case (name, rel) =>
      val index = rel.relation.asInstanceOf[HadoopFsRelation].location
      val schema = index.partitionSchema
      val (o, p) = (schema.fieldIndex("Norder"), schema.fieldIndex("Npix"))
      index.listFiles(Nil, Nil).map { d =>
        def num(i: Int) = d.values.get(i, schema(i).dataType).asInstanceOf[Number].longValue
        (name, num(o).toInt, num(p))
      }
    }

  /** The catalog tree (hive tile columns included). */
  def load(spark: SparkSession): DataFrame = GraftBridge.ofRelation(spark, catalogRel)

  /** The neighbor (margin) tree; empty with the catalog schema if absent. */
  def loadNeighbors(spark: SparkSession): DataFrame =
    neighborRel.fold(load(spark).limit(0))(GraftBridge.ofRelation(spark, _))
}

/**
 * `{cat}_meta.json`: the reference's key set (partitioner.py:350
 * write_structure_metadata) so downstream hipscat tooling can read the
 * layout, plus `exact_margin`. `n_sources` and `hips` come from the
 * partition map ([[withMap]]); `hips` lists only pixels that actually
 * hold data and stays the LAST key (external readers slice from it).
 */
final case class CatalogMeta(catName: String, raKw: String, decKw: String, idKw: String,
                             pixThreshold: Long, orderK: Int, marginDeg: Double,
                             exactMargin: Boolean, nSources: Long = 0L,
                             hips: Map[Int, Seq[Long]] = Map.empty) {

  def withMap(pm: HipsPartitioner.PartitionMap): CatalogMeta =
    copy(orderK = pm.orderK, nSources = pm.nSources,
      hips = pm.pixelsAtOrders.map { case (o, ps) => o -> ps.toSeq })

  def json: String = {
    val hipsJson = hips.toSeq.sortBy(_._1)
      .map { case (o, ps) => s""""$o": [${ps.mkString(",")}]""" }.mkString("{", ",", "}")
    s"""{"cat_name": "$catName", "ra_kw": "$raKw", "dec_kw": "$decKw", "id_kw": "$idKw",
       | "n_sources": $nSources, "pix_threshold": $pixThreshold, "order_k": $orderK,
       | "margin_deg": $marginDeg, "exact_margin": $exactMargin, "hips": $hipsJson}""".stripMargin
  }
}

object CatalogMeta {
  /** Parse a meta JSON written by [[CatalogMeta.json]] (or by an older
   *  writer, which has no `exact_margin`: read as false). Numbers are
   *  exponent-aware — a 1-arcsec `margin_deg` is written as
   *  2.777...E-4. A missing key throws, naming the key and `source`. */
  def parse(raw: String, source: String): CatalogMeta = {
    def missing(key: String) = throw new IllegalArgumentException(s"$key missing from $source")
    val hipsAt = raw.indexOf("\"hips\"")
    if (hipsAt < 0) missing("hips")
    val flat = """"(\w+)":\s*(?:"([^"]*)"|([-+\d.eE]+|true|false))""".r
      .findAllMatchIn(raw.substring(0, hipsAt))
      .map(m => m.group(1) -> Option(m.group(2)).getOrElse(m.group(3))).toMap
    def get(key: String): String = flat.getOrElse(key, missing(key))
    val hips = """"(\d+)":\s*\[([^\]]*)\]""".r.findAllMatchIn(raw.substring(hipsAt)).map { m =>
      m.group(1).toInt -> m.group(2).split(",").iterator.map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq
    }.toMap
    CatalogMeta(get("cat_name"), get("ra_kw"), get("dec_kw"), get("id_kw"),
      get("pix_threshold").toLong, get("order_k").toInt, get("margin_deg").toDouble,
      flat.get("exact_margin").exists(_.toBoolean), get("n_sources").toLong, hips)
  }
}
