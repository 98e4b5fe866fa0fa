package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** Bridge into `private[sql] classic.ExpressionUtils` so graft's native
  * Catalyst expressions can be wrapped as `Column`s WITHOUT the function
  * registry — a bare Column helper (e.g. `Dedup.shingles`) carries no
  * session to register against, and forcing callers onto a
  * GraftExtensions-enabled session just to build a column is a needless
  * trap. The well-trodden pattern for Spark expression libraries (one
  * object in the `org.apache.spark.sql` package, nothing else); only
  * public Spark jars are touched. [[graft.ops.Waist]] uses the same door
  * for Spark-internal storage, statistics and checkpoint state, and
  * [[graft.core.SchemaDrift]] for Spark's bounded fan-out. */
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
}
