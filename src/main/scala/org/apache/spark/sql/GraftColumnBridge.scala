package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Statistics}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.arrow.ArrowConverters
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.RDDBlockId

/** Bridge into `private[sql] classic.ExpressionUtils` so graft's native
  * Catalyst expressions can be wrapped as `Column`s WITHOUT the function
  * registry — a bare Column helper (e.g. `Dedup.shingles`) carries no
  * session to register against, and forcing callers onto a
  * GraftExtensions-enabled session just to build a column is a needless
  * trap. The well-trodden pattern for Spark expression libraries (one
  * object in the `org.apache.spark.sql` package, nothing else); only
  * public Spark jars are touched. [[graft.ops.Waist]] uses the same door
  * for Spark-internal storage, statistics and checkpoint state,
  * [[graft.core.SchemaDrift]] for Spark's bounded fan-out and a file index
  * seeded from its own listing, and [[graft.core.ArrowResult]] for the
  * Arrow codec PySpark and Spark Connect use. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Memory plus disk bytes of RDD blocks (one RDD's, or all): a
    * synchronous ask to the block-manager master, so a finished job's
    * blocks count (`getRDDStorageInfo` is listener-fed and can lag). */
  def storedBytes(rddId: Option[Int] = None): Long =
    org.apache.spark.SparkEnv.get.blockManager.master.getStorageStatus
      .iterator.flatMap(_.rddBlocks)
      .collect { case (RDDBlockId(r, _), b) if rddId.forall(_ == r) =>
        b.memSize + b.diskSize }
      .sum

  /** `df` (a checkpointed frame: one [[LogicalRDD]] leaf) with the leaf's
    * `sizeInBytes` set to `bytes`; same RDD, partitioning and
    * constraints. */
  def withSize(df: Dataset[Row], bytes: Long): Dataset[Row] = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    val lr = df.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    classic.Dataset.ofRows(cs,
      lr.copy()(cs, Some(Statistics(BigInt(bytes))), Some(lr.constraints)))
  }

  /** `f` over `in` on at most `maxThreads` daemon threads of a pool that
    * lives for this call (Spark's `ThreadUtils.parmap`, which its own
    * Parquet footer reader uses); results in input order. */
  def parmap[I, O](in: Seq[I], prefix: String, maxThreads: Int)(f: I => O): Seq[O] =
    org.apache.spark.util.ThreadUtils.parmap(in, prefix, maxThreads)(f)

  /** Sets the context's checkpoint directory to exactly `dir`, also to
    * none, which `SparkContext` offers no public way to do. */
  def restoreCheckpointDir(sc: SparkContext, dir: Option[String]): Unit =
    sc.checkpointDir = dir

  /** `df`'s result as one Arrow IPC stream holding one record batch, in
    * Spark's own Arrow codec (timestamps as `Timestamp(MICROSECOND, "UTC")`,
    * field nullability as in `df.schema`). The collect runs as one SQL
    * execution named `toArrowBytes`, so query listeners and the SQL UI see
    * it as they see `collect`. */
  def toArrowStream(df: Dataset[Row]): Array[Byte] = {
    val qe = df.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("toArrowBytes"))(
      qe.executedPlan.executeCollect())
    if (rows.isEmpty) ArrowConverters.createEmptyArrowBatch(df.schema, "UTC", true, false)
    else {
      val batches = ArrowConverters.toBatchWithSchemaIterator(
        rows.iterator, df.schema, -1, Long.MaxValue, "UTC", true, false)
      try batches.next() finally batches.close()
    }
  }

  /** The rows of an Arrow IPC stream as a local frame, read by Spark's
    * Arrow codec. Each row is copied out of its batch through an unsafe
    * projection: the reader's rows are views over the batch's vectors. */
  def fromArrowStream(spark: SparkSession, bytes: Array[Byte]): Dataset[Row] = {
    val (rows, schema) = ArrowConverters.fromIPCStream(bytes)
    try {
      val copy = UnsafeProjection.create(schema)
      val data = rows.map(r => copy(r).copy()).toIndexedSeq
      classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
        LocalRelation(DataTypeUtils.toAttributes(schema), data))
    } finally rows.close()
  }

  /** A Parquet scan of `roots` (files or directories) under `dataSchema`,
    * its file index answered from `leaves`, each root's data files as the
    * caller listed them: building the scan lists nothing again and starts
    * no listing job, however many roots there are. Partition columns are
    * inferred from the leaves' directories, as a `spark.read` does. */
  def parquetScan(spark: SparkSession, roots: Seq[Path], leaves: Map[Path, Seq[FileStatus]],
      dataSchema: StructType): Dataset[Row] = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val listed = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        leaves.get(path).map(_.toArray)
      override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(cs, roots, Map.empty, Some(dataSchema), listed)
    cs.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      dataSchema.asNullable, None, new ParquetFileFormat, Map.empty)(cs))
  }
}
