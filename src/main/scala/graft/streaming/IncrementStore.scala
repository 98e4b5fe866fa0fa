package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{FileSystem, Path}

/** Shared TRANSACTIONAL compaction for the parquet increment stores the
  * streaming layer accumulates (`inc=<batchId>` directories next to
  * non-numeric seeds — [[TextStream.evolvingGate]]'s MinHash index,
  * [[EmbedStream.evolvingGate]]'s (bucket, vec, doc) index,
  * [[PreferenceStream.evolvingRank]]'s additive pair counts): merge every
  * increment STRICTLY below `upToBatchId` — numeric batch increments AND
  * prior `compact-<M>` seeds with M < upToBatchId (so successive
  * compactions collapse to one seed instead of accumulating an immortal
  * directory per invocation — the r16 ADVICE finding) — into one new
  * seed `inc=compact-<upToBatchId>`, then delete the merged originals.
  *
  * Crash safety is a tiny filesystem TRANSACTION, not an argument about
  * row semantics (kill-evidence rows tolerate duplication, additive
  * counts do NOT — one protocol must serve both):
  *
  *  1. the merged frame is written to `_compact-<upTo>.tmp` — invisible
  *     to readers, which list only `inc=`-prefixed directories;
  *  2. a `_sources.txt` manifest naming the merged directories lands
  *     INSIDE the tmp — this is the COMMIT POINT: a tmp without it is an
  *     uncommitted write whose sources are all intact;
  *  3. the sources are deleted, and the tmp RENAMES to its `inc=` tag.
  *
  * [[recover]] runs first on every call AND from every increment-READING
  * path ([[recoverStore]] and [[incrementsBelow]] — the gates'
  * per-trigger listings and the snapshot readers call them, closing the
  * r17 ADVICE window where a compactor crash between source deletion
  * and the rename left a RESTARTED gate admitting against a partial
  * index until an operator happened to re-run compaction): a
  * manifest-less tmp rolls BACK
  * (delete — its sources never moved); a manifested tmp rolls FORWARD
  * (delete any listed source still present, publish the rename). So a
  * crash anywhere leaves either the old increments or the compacted seed
  * readable — never both (no double count), never neither beyond the
  * delete-vs-rename window the NEXT LISTING closes.
  *
  * Call with `upToBatchId` ≤ the checkpoint's last COMMITTED batch + 1
  * and monotonically nondecreasing across calls (the gates' own
  * contract: committed increments are immutable, and a replayed batch's
  * id is above the last committed so it never sees a compact seed that
  * contains itself). Run between triggers or with the query stopped —
  * the store is maintenance-owned, not trigger-owned. */
private[streaming] object IncrementStore {

  /** An increment FOLDED by a compaction up to `upTo`: a numeric batch
    * id strictly below it, or a prior compact seed strictly below it.
    * Under `foldAll` (the FORGET mode) EVERY increment folds — including
    * caller-written seeds with arbitrary tags and a compact seed AT the
    * fold point itself, which the r17 ADVICE found the strict-`<` rule
    * silently skipping (a forget right after a maintenance compaction at
    * the same `upTo` found zero foldable sources and returned 0 while
    * the removed docs' rows stayed live). */
  private def foldable(tag: String, upTo: Long, foldAll: Boolean): Boolean =
    foldAll ||
      tag.toLongOption.exists(_ < upTo) ||
      (tag.startsWith("compact-") &&
        tag.stripPrefix("compact-").toLongOption.exists(_ < upTo))

  /** Compact `dir` up to `upToBatchId`, merging with `merge` (identity
    * for kill-evidence indexes, a sum-groupBy for additive counts, a
    * removed-id filter for the forget path). With `foldAll` every
    * increment MUST fold — the call RAISES if any increment would
    * survive (a numeric batch ≥ `upToBatchId`, i.e. the gate is still
    * writing or `upTo` is stale, or a compact seed ABOVE it, i.e. a
    * monotonicity violation): a forget that leaves any directory
    * unfolded has silently retained the rows it was ordered to erase.
    * Returns the number of increments folded (0 = nothing to do). */
  def compact(spark: SparkSession, dir: String, upToBatchId: Long,
      merge: DataFrame => DataFrame, foldAll: Boolean = false): Int = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    recover(fs, root)
    val all = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("inc="))
      .map(_.getPath)
    if (foldAll) {
      val unfoldable = all.map(_.getName.stripPrefix("inc=")).filter { tag =>
        tag.toLongOption.exists(_ >= upToBatchId) ||
          (tag.startsWith("compact-") && tag.stripPrefix("compact-")
            .toLongOption.exists(_ > upToBatchId))
      }
      if (unfoldable.nonEmpty)
        throw new graft.core.BadCallException(
          s"foldAll compaction up to $upToBatchId would leave " +
            s"${unfoldable.mkString(", ")} unfolded — stop the gate and " +
            "pass upToBatchId = last committed batch + 1 (a forget that " +
            "skips an increment silently retains the rows it must erase)")
    }
    val sources = all.filter(p =>
      foldable(p.getName.stripPrefix("inc="), upToBatchId, foldAll))
    if (sources.isEmpty) return 0
    val sourceNames = sources.map(_.getName).toSet
    val target = new Path(root, s"inc=compact-$upToBatchId")
    // fail fast BEFORE any write, with every source intact (r17 ADVICE —
    // the old post-delete require could strand a manifested tmp whose
    // roll-forward renames onto an existing directory, nesting it
    // invisibly on HDFS). The target may pre-exist only when it is
    // itself among the folded sources (the foldAll forget-at-the-fold-
    // point case): it is deleted before the rename.
    require(!fs.exists(target) || sourceNames.contains(target.getName),
      s"compaction target $target already exists — upToBatchId must be " +
        "monotonically nondecreasing across calls")
    val tmp = new Path(root, s"_compact-$upToBatchId.tmp")
    // any tmp surviving recover() is uncommitted leftover — roll back
    if (fs.exists(tmp)) fs.delete(tmp, true)
    merge(spark.read.parquet(sources.map(_.toString): _*))
      .write.mode("overwrite").parquet(tmp.toString)
    val mf = fs.create(new Path(tmp, "_sources.txt"), true)
    try mf.write(sources.map(_.getName).mkString("\n").getBytes("UTF-8"))
    finally mf.close()
    sources.foreach(p => require(fs.delete(p, true),
      s"failed to delete folded source $p — aborting before the rename " +
        "(a surviving source next to the published seed double-counts)"))
    require(fs.rename(tmp, target),
      s"rename $tmp -> $target failed — the manifested tmp is intact; " +
        "the next listing's recover() rolls it forward")
    sources.size
  }

  /** Shared FORGET-BY-DOC over an `inc=` index store — the one body
    * behind [[TextStream.forgetDocs]], [[EmbedStream.forgetDocs]] and
    * [[MediaStream.forgetDocs]] (explicitly shared, so an index-schema
    * change cannot silently diverge one gate's forget semantics from
    * another's — the r18 verdict nit on the cross-module delegate): one
    * exhaustive (`foldAll`) compaction whose merge drops the removed
    * `doc` ids, through the same filesystem transaction every
    * maintenance pass uses.
    *
    * Recovery runs FIRST — before any schema inspection — so a seed
    * published by a crashed compactor is part of what gets checked (the
    * r18 ADVICE laundering window). A row whose `doc` is NULL is
    * UNATTRIBUTABLE kill evidence: it cannot be matched to any takedown
    * id, and silently dropping it (what a bare `!isin` filter does —
    * NULL predicate → row filtered) erases evidence for documents that
    * were never taken down, re-admitting their near-duplicates. Such a
    * store RAISES with the rebuild-migration path instead — the same
    * contract as the pre-r18 layout guard, now enforced on the ROWS, so
    * a compaction that merged an old id-less increment into a
    * doc-carrying seed (schema sampled from a new file, old rows read
    * as doc=NULL — the laundering) can no longer slip past a
    * schema-level check. The null scan runs inside the merge, before
    * the tmp write: sources are intact on the raise. */
  def forgetDocIncrements(spark: SparkSession, indexDir: String,
      upToBatchId: Long, ids: Seq[Long], caller: String): Int = {
    require(ids.nonEmpty, s"$caller: empty takedown list")
    recoverStore(spark, indexDir)
    compact(spark, indexDir, upToBatchId,
      df => {
        import org.apache.spark.sql.functions.col
        if (df.filter(col("doc").isNull).limit(1).count() > 0)
          throw new graft.core.BadCallException(
            s"$caller: the index holds rows with NULL doc — " +
              "unattributable kill evidence (typically a pre-r18 id-less " +
              "increment merged into a doc-carrying seed by compaction); " +
              "rebuild the index from the admitted store (the *IndexOf " +
              "builders stamp doc) and re-run the forget")
        Erasure.dropIds(df, col("doc"), ids)
      },
      foldAll = true)
  }

  /** Every increment a reader bounded by `below` may see, as sorted
    * paths: seeds (non-numeric tags) plus numeric batch increments
    * strictly below `below`. A trigger that reads only earlier batches
    * passes its own batch id, one that reads its own increment too
    * passes `batchId + 1`, and a reader of the whole store passes
    * `Long.MaxValue`. Recovery runs first (r17 ADVICE): a compactor that
    * died between source deletion and the rename must not leave a
    * restarted reader on a partial store. Empty when `dir` is absent.
    * Hadoop FS, not java.io — the store lives on HDFS/object store at
    * production. */
  def incrementsBelow(spark: SparkSession, dir: String,
      below: Long): Seq[String] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    recover(fs, root)
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("inc="))
      .filter(_.getPath.getName.stripPrefix("inc=").toLongOption
        .forall(_ < below))
      .map(_.getPath.toString).sorted
  }

  /** Run crash recovery on a store from an increment-READING path — the
    * gates' per-trigger listings and the snapshot readers call this so a
    * compactor that died between source deletion and the rename never
    * leaves a restarted reader on a partial index (r17 ADVICE: recovery
    * that only runs inside the next `compact()` call is recovery that
    * may never run). Idempotent, no-op on a healthy or absent store. */
  def recoverStore(spark: SparkSession, dir: String): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) recover(fs, root)
  }

  /** Finish (roll forward) or undo (roll back) an interrupted
    * transaction — see the object scaladoc's protocol. Two tmp
    * families share it: `_compact-<N>.tmp` (a compaction — target is
    * `inc=compact-<N>`, manifest `_sources.txt` lists the folded
    * directories) and `_rw-<name>.tmp` (an IN-PLACE rewrite from
    * [[Erasure.forgetRows]] — target is the original `<name>`, manifest
    * `_source.txt` names it). */
  private def recover(fs: FileSystem, root: Path): Unit = {
    val tmps = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.endsWith(".tmp"))
      .map(_.getPath)
    tmps.filter(_.getName.startsWith("_compact-")).foreach { tmp =>
      val manifest = new Path(tmp, "_sources.txt")
      if (!fs.exists(manifest)) { fs.delete(tmp, true); () }
      else {
        val in = fs.open(manifest)
        val names =
          try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().toList.filter(_.nonEmpty)
          finally in.close()
        names.foreach { n =>
          val p = new Path(root, n)
          if (fs.exists(p)) require(fs.delete(p, true),
            s"recover: failed to delete folded source $p")
        }
        val tag = tmp.getName.stripPrefix("_compact-")
          .stripSuffix(".tmp")
        require(fs.rename(tmp, new Path(root, s"inc=compact-$tag")),
          s"recover: rename $tmp failed — sources are deleted, the " +
            "manifested tmp remains the only copy; do not remove it")
        ()
      }
    }
    tmps.filter(_.getName.startsWith("_rw-")).foreach { tmp =>
      val manifest = new Path(tmp, "_source.txt")
      if (!fs.exists(manifest)) { fs.delete(tmp, true); () }
      else {
        val in = fs.open(manifest)
        val name =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        val target = new Path(root, name)
        if (fs.exists(target)) require(fs.delete(target, true),
          s"recover: failed to delete rewrite source $target")
        require(fs.rename(tmp, target),
          s"recover: rename $tmp -> $target failed — the manifested " +
            "tmp remains the only copy; do not remove it")
        ()
      }
    }
  }
}
