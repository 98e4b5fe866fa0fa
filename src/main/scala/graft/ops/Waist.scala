package graft.ops

import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.execution.LogicalRDD

/** Plan waists: the one way graft materializes an intermediate so that a
  * long plan is cut and later stages read blocks, and the one way it
  * frees them. The ownership rule: an op releases every waist it makes
  * but does not return, on every exit path. A waist an op returns is a
  * leaf of the returned plan, so whoever runs the action frees all of
  * them with one [[release]] of the result. `Bench.purgeStorage` stays
  * as the harnesses' backstop between queries. */
object Waist {

  /** Name of the RDD under every waist leaf: [[release]] frees only
    * these, never a caller's own checkpointed or cached input. */
  private val RddName = "graft.waist"

  /** Eagerly materializes `df` and returns a leaf over the materialized
    * RDD, output partitioning kept: local blocks by default, or checkpoint
    * files under `reliableDir` (they survive executor loss and the call;
    * the caller owns the directory, and the context's own checkpoint
    * directory is left as it was).
    *
    * The leaf's `sizeInBytes` is what was actually materialized (block or
    * file sizes). Spark's checkpoint inherits the child plan's estimate,
    * which in an iterative op compounds round over round until the
    * driver's stats walk multiplies million-digit integers (q215 at 10×
    * data); a measured size cannot compound. */
  def cut(df: DataFrame, reliableDir: Option[String] = None): DataFrame = {
    val ck = reliableDir match {
      case None => df.localCheckpoint(eager = true)
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        synchronized {
          val prev = sc.getCheckpointDir
          sc.setCheckpointDir(dir)
          try df.checkpoint(eager = true)
          finally GraftColumnBridge.restoreCheckpointDir(sc, prev)
        }
    }
    val rdd = ck.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
    rdd.setName(RddName)
    val bytes = rdd.getCheckpointFile match {
      case Some(f) =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(rdd.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
      case None => GraftColumnBridge.storedBytes(Some(rdd.id))
    }
    GraftColumnBridge.withSize(ck, bytes)
  }

  /** Frees the blocks of every waist leaf in `df`'s plan and its
    * subqueries, including waists a caller passed in, and returns once
    * they are gone. A reliable waist's files stay with their owner. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreachWithSubqueries {
      case lr: LogicalRDD if lr.rdd.name == RddName =>
        lr.rdd.unpersist(blocking = true)
      case _ => ()
    }
}
