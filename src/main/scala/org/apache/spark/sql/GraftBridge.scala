package org.apache.spark.sql

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/**
 * Minimal bridge into Spark's private[sql] Column <-> Expression
 * conversions (Spark 4.x moved Column to a ColumnNode wrapper; this
 * is the standard extension-library pattern for building typed
 * Columns around custom Catalyst expressions), into the in-memory
 * relation `Dataset.persist` builds, and into the resolved file
 * relation under a `spark.read` frame (or one built over a known
 * schema).
 */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `df` over an `InMemoryRelation` built the way
   *  `CacheManager.cacheQuery` builds one for `Dataset.persist()`
   *  (MEMORY_AND_DISK, normalized plan, executed under the same
   *  session with bucketed-scan rewriting and, unless cached plans may
   *  change partitioning, the final-stage shuffle optimizations turned
   *  off) but never registered with the CacheManager: the relation
   *  lives in the returned plan only, so its blocks go when the last
   *  frame over it is garbage-collected.
   *
   *  The relation carries no logical output ordering.
   *  `InMemoryRelation.newInstance` (the right side of a self-join)
   *  copies the ordering without remapping it onto the new attribute
   *  ids, and canonicalizing the join then fails with `key not found`.
   *  The physical scan still reports the cached plan's ordering and
   *  partitioning. */
  def inMemory(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val off = SQLConf.AUTO_BUCKETED_SCAN_ENABLED +:
      (if (session.sessionState.conf.getConf(SQLConf.CAN_CHANGE_CACHED_PLAN_OUTPUT_PARTITIONING)) Nil
       else Seq(SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS))
    val cacheSession = classic.SparkSession.getOrCloneSessionWithConfigsOff(session, off)
    val built = cacheSession.withActive {
      val qe = cacheSession.sessionState.executePlan(ds.queryExecution.normalized)
      InMemoryRelation(StorageLevel.MEMORY_AND_DISK, qe, None)
    }
    classic.Dataset.ofRows(session,
      InMemoryRelation(built.output, built.cacheBuilder, Nil, built.statsOfPlanToCache))
  }

  /** The resolved file relation a `spark.read` frame reads: its file
   *  index is listed and its schema inferred. */
  def fileRelation(df: DataFrame): LogicalRelation =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed match {
      case r: LogicalRelation => r
      case p => throw new IllegalArgumentException(s"not a file relation: ${p.nodeName}")
    }

  /** The relation `spark.read.parquet(path)` resolves to (the same
   *  listed file index, with partition columns inferred from the
   *  directory names), but over the given `dataSchema` instead of one
   *  inferred from a file footer by a Spark job. */
  def parquetRelation(spark: SparkSession, path: String, dataSchema: StructType): LogicalRelation = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val root = new Path(path)
    val fs = root.getFileSystem(session.sessionState.newHadoopConf())
    val options = Map("path" -> path)
    val index = new InMemoryFileIndex(session, Seq(root.makeQualified(fs.getUri, fs.getWorkingDirectory)),
      options, None, FileStatusCache.getOrCreate(session))
    LogicalRelation(HadoopFsRelation(index, index.partitionSchema, dataSchema.asNullable, None,
      new ParquetFileFormat, options)(session))
  }

  /** A frame over a fresh instance of `rel`: the same file index and
   *  schema under new attribute ids, so two frames over one relation
   *  still join with each other. Plans without listing anything. */
  def ofRelation(spark: SparkSession, rel: LogicalRelation): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], rel.newInstance())
}
