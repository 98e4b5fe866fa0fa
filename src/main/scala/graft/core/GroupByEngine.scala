package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's single analytical verb, Spark-first.
  *
  * Reference shape (parqueryd/controller.py:599-646 scatter,
  * parqueryd/worker.py:367-408 per-shard kernel,
  * parqueryd/controller.py:277-294 concat-gather):
  *
  * {{{
  * groupby(filenames, groupby_col_list, agg_list, where_terms_list, aggregate)
  * }}}
  *
  * Here the whole scatter/gather topology collapses into one declarative plan:
  * `spark.read.schema(widened).parquet(shards).where(filter).groupBy(keys).agg(aggs)`,
  * where `widened` is the shards' footer schemas folded by [[SchemaDrift]].
  * Spark's FileSourceScanExec is the scatter (one task per split, with
  * locality), partial HashAggregateExec is the per-shard kernel, the shuffle
  * is the gather, and final HashAggregateExec is the merge the reference
  * pushes onto its caller.
  *
  * Scale notes (100 TB):
  *  - filter + projection reach the Parquet scan (PushedFilters/ReadSchema),
  *    so row-group and page pruning happen before any bytes are decoded;
  *  - aggregation is map-side partial → shuffle only carries one row per
  *    (partition, group), not raw data;
  *  - missing-file tolerance uses one batched listing per parent directory,
  *    not a per-file RPC, so pruning 100k shards costs O(dirs) namenode/S3
  *    LIST calls, not O(files); the listed statuses go on to the footer
  *    read that resolves the shards' schema on the driver, so resolving it
  *    starts no Spark job (Spark's file index still lists more than 32
  *    shard paths with a listing job of its own).
  */
object GroupByEngine {

  /** Missing shards are silently dropped; an all-missing query yields None —
    * the reference's empty-result protocol (parqueryd/controller.py:617-622,
    * RELEASE_NOTES.rst:64-65, rpc.py:151-153). Shard schemas may drift
    * (schema-on-read, parqueryd/worker.py:381-397): added columns read as
    * null where absent, and int-width drift widens; the schema comes from
    * the shards' footers, read on the driver from the listing that pruned
    * them — see [[SchemaDrift.readSharded]]. */
  def groupby(
      spark: SparkSession,
      filenames: Seq[String],
      keys: Seq[String],
      aggs: Seq[AggSpec],
      where: Seq[FilterTerm] = Nil,
      aggregate: Boolean = true,
      combine: CombineMode = CombineMode.Merged): Option[DataFrame] = {
    val existing = pruneMissing(spark, filenames)
    if (existing.isEmpty) None
    else {
      val df = SchemaDrift.readListed(spark, existing)
      try Some(groupbyDf(df, keys, aggs, where, aggregate, combine))
      catch { case e: AnalysisException => throw badCall(df, keys, aggs, where, e) }
    }
  }

  /** An unknown column, or a filter value that does not compare with its
    * column, is the caller's error: a typed [[BadCallException]] naming
    * the part of the call at fault, which `callWithRetry` does not retry.
    * Only translation over the read DataFrame is mapped; a failing read
    * is the shards' fault and propagates as it is. */
  private def badCall(df: DataFrame, keys: Seq[String], aggs: Seq[AggSpec],
      where: Seq[FilterTerm], e: AnalysisException): BadCallException = {
    def fails(body: => Any): Boolean =
      try { body; false } catch { case _: AnalysisException => true }
    val what = where.find(t => fails(df.filter(Translator.filterColumn(Seq(t)).get)))
      .map(t => s"filter on column '${t.col}'")
      .orElse(keys.find(k => fails(df.col(k))).map(k => s"group key '$k'"))
      .orElse(aggs.find(a => fails(df.agg(Translator.aggColumn(a))))
        .map(a => s"aggregate input '${a.input}'"))
      .getOrElse("call")
    val bad = new BadCallException(s"groupby: bad $what: ${e.getSimpleMessage}")
    bad.initCause(e)
    bad
  }

  /** Same semantics over an already-loaded DataFrame (e.g. a registered
    * table, a stream, or a derived view). */
  def groupbyDf(
      df: DataFrame,
      keys: Seq[String],
      aggs: Seq[AggSpec],
      where: Seq[FilterTerm] = Nil,
      aggregate: Boolean = true,
      combine: CombineMode = CombineMode.Merged): DataFrame = {
    val filtered = Translator.filterColumn(where).map(df.filter).getOrElse(df)
    if (!aggregate) {
      // aggregate=false: scan→filter→project passthrough, no grouping
      // (reference flag at parqueryd/worker.py:385; full-file call path
      // rpc.py:173). Only the named columns are materialized — Catalyst
      // prunes the scan schema to exactly this projection.
      val cols = (keys ++ aggs.map(_.input)).distinct
      filtered.select(cols.map(col): _*)
    } else {
      require(aggs.nonEmpty, "agg_list must be non-empty when aggregate=true")
      combine match {
        case CombineMode.Merged =>
          val aggCols = Translator.aggColumns(aggs)
          filtered
            .groupBy(keys.map(col): _*)
            .agg(aggCols.head, aggCols.tail: _*)
        case CombineMode.Concat =>
          // Reference fidelity: per-shard aggregates, concatenated, shard
          // column dropped — duplicate keys across shards survive
          // (pa.concat_tables, parqueryd/controller.py:294).
          groupbyDfSharded(df, input_file_name(), keys, aggs, where)
      }
    }
  }

  /** Concat-mode fidelity over an explicit shard expression (for tables that
    * are one physical file but logically sharded, and for tests). */
  def groupbyDfSharded(
      df: DataFrame,
      shardExpr: org.apache.spark.sql.Column,
      keys: Seq[String],
      aggs: Seq[AggSpec],
      where: Seq[FilterTerm] = Nil): DataFrame = {
    val filtered = Translator.filterColumn(where).map(df.filter).getOrElse(df)
    val aggCols = Translator.aggColumns(aggs)
    val shard = "__graft_shard"
    filtered
      .withColumn(shard, shardExpr)
      .groupBy((shard +: keys).map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .drop(shard)
  }

  /** Batched existence check: one FileSystem.listStatus per distinct parent
    * directory instead of one exists() RPC per file. At reference scale the
    * "catalog" is just the file list (files_map, parqueryd/controller.py:107);
    * at 100 TB the listing is the only driver-side O(files) step, so keep it
    * to bulk LIST calls. Returns the listed status of each present shard,
    * in caller order, for the footer read to use. */
  private[graft] def pruneMissing(spark: SparkSession, filenames: Seq[String]): Seq[FileStatus] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def list(dir: Path): Map[String, FileStatus] =
      try dir.getFileSystem(conf).listStatus(dir).map(s => s.getPath.getName -> s).toMap
      catch { case _: java.io.FileNotFoundException => Map.empty }
    val listed = filenames.map(new Path(_).getParent).distinct.map(d => d -> list(d)).toMap
    filenames.map(new Path(_)).flatMap(p => listed(p.getParent).get(p.getName)) // caller order
  }
}
