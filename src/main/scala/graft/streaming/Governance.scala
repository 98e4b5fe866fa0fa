package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The takedown ORCHESTRATOR — one call that runs the whole
  * right-to-be-forgotten loop over a single STORE REGISTRY and files one
  * composite certificate, closing the r18 verdict's top gap: the loop
  * existed as five operators ([[TakedownStream]] bills →
  * [[graft.ops.Chunking.repackDirty]] rebuilds → the three gates'
  * `forgetDocs` erase index evidence → [[Erasure.forgetRows]] erases
  * admitted outputs → [[Erasure.erasureAudit]] certifies) that an
  * operator had to sequence BY HAND, and a missed store was an operator
  * error the per-store audit could not catch — it only audits the stores
  * it is handed. Here the registry is the single source of truth: every
  * registered store is erased by its kind AND audited in the same pass,
  * and a nonzero residual anywhere RAISES (loud, never a silently
  * incomplete certificate).
  *
  * What the registry cannot fix by construction: a store that exists on
  * disk but was never REGISTERED is invisible to any orchestrator — that
  * is an inventory problem, not a sequencing one. The
  * [[Registry.External]] kind narrows it: stores erased out-of-band
  * (another team's pipeline) register as audit-only, so the composite
  * certificate still proves their residual is zero — and execute()
  * FAILS loudly when it is not, instead of filing a certificate that
  * silently omits them.
  *
  * Scale shape: pure sequencing — every phase is one of the existing
  * operators with its own 100 TB design (dirty-only repack, single-job
  * dirty-dir detection, fold-once index compaction, broadcast id lists
  * past the [[Erasure.broadcastIdThreshold]]); the certificate is one
  * row per store, driver-sized. Run with every registered gate STOPPED
  * (the stores are maintenance-owned — the compaction contract). */
object Governance {

  /** The store registry — one entry per place removed content (or
    * content DERIVED from it) can live. `name` keys the certificate. */
  sealed trait Store { def name: String }

  object Registry {
    /** An evolving TEXT gate's MinHash index (`inc=` increments whose
      * rows carry `doc`) — erased via [[TextStream.forgetDocs]].
      * `upToBatchId` = the gate's last committed batch + 1. */
    final case class TextIndex(name: String, dir: String,
      upToBatchId: Long) extends Store

    /** An evolving EMBEDDING gate's (bucket, vec, doc) index — erased
      * via [[EmbedStream.forgetDocs]] (pre-r18 id-less layouts raise
      * with the documented rebuild-migration path). */
    final case class EmbedIndex(name: String, dir: String,
      upToBatchId: Long) extends Store

    /** An evolving MEDIA gate's (doc, kind, phash) index — erased via
      * [[MediaStream.forgetDocs]]. */
    final case class MediaIndex(name: String, dir: String,
      upToBatchId: Long) extends Store

    /** A gate's ADMITTED-output store (`<prefix><id>` parquet children
      * keyed by `idCol`) — erased in place via [[Erasure.forgetRows]].
      * NULL-id rows are kept (unattributable, pass-through). */
    final case class Admitted(name: String, dir: String, idCol: String,
      prefix: String = "batch=") extends Store

    /** A PACKED training corpus published through the
      * [[graft.core.Ingest.atomicPublish]] manifest ([[graft.ops.Chunking.packFFD]]
      * schema: doc, chunk_idx, chunk, n_tok + the `groupCol`/`binCol`
      * keys): dirty bins repack by [[graft.ops.Chunking.repackDirty]]
      * (clean bins bit-identical, fresh bin ids) and the result
      * republishes as a new atomic version — and then the superseded
      * versions are VACUUMED immediately ([[graft.core.Ingest.vacuum]]
      * at zero grace — a takedown is not executed while an old version
      * still holds the removed rows; the store is maintenance-owned
      * with no in-flight readers, the same contract every erase phase
      * runs under). The audit therefore reads the table RECURSIVELY —
      * every byte on disk, not just the manifest's current view — so a
      * pack an operator repacked by hand but forgot to vacuum FAILS
      * the composite audit loudly. The row-id column is `doc` — the
      * packFFD schema contract. */
    final case class Pack(name: String, tableDir: String, ctx: Int,
      groupCol: String = "grp", binCol: String = "bin") extends Store

    /** A store ERASED OUT-OF-BAND (another team's pipeline) — audited
      * only, recursively over `dir`. Registering it makes the composite
      * certificate COVER it: if its owner has not actually erased the
      * rows, execute() fails loudly instead of filing a certificate
      * that silently omits the store. */
    final case class External(name: String, dir: String,
      idCol: String) extends Store
  }

  import Registry._

  /** Execute the full takedown loop over every registered store, then
    * audit ALL of them, in order: pack repacks (bins dirty with a
    * removed row rebuild, the bill [[graft.ops.Chunking.takedownAudit]]
    * priced) → index forgets (text / embed / media kill evidence) →
    * admitted-output erasure → ONE composite certificate over the whole
    * registry. RAISES [[graft.core.BadCallException]] if any store's
    * residual is nonzero after the loop — a certificate with residue is
    * not evidence of erasure, and the failure names the stores. Returns
    * the certificate `(store, n_rows, n_residual)`, one row per
    * registered store in registry order, all residuals zero. */
  def execute(spark: SparkSession, removedIds: Seq[Long],
      stores: Seq[Store]): DataFrame = {
    require(removedIds.nonEmpty, "Governance.execute: empty takedown list")
    require(stores.nonEmpty, "Governance.execute: empty store registry")
    val names = stores.map(_.name)
    require(names.distinct.size == names.size,
      s"Governance.execute: duplicate store names in the registry — " +
        names.diff(names.distinct).distinct.mkString(", "))
    // phase order is FIXED (repack → index forgets → output erasure),
    // independent of registry order — the loop the r17/r18 arc built,
    // now sequenced in one place
    stores.collect { case p: Pack => p }.foreach { p =>
      val cur = graft.core.Ingest.readPublished(spark, p.tableDir)
      val flagged = Erasure.removedFlagged(cur, col("doc"), removedIds)
      val repacked = graft.ops.Chunking.repackDirty(flagged,
          col(p.groupCol), col(p.binCol), col("__rm"), p.ctx)
        .withColumnRenamed("grp", p.groupCol)
        .withColumnRenamed("bin", p.binCol)
        .drop("repacked")
      graft.core.Ingest.atomicPublish(repacked, p.tableDir)
      // zero grace: the superseded version still holds the removed
      // rows, and this loop's contract is that they are GONE — the
      // store is maintenance-owned (no in-flight readers), exactly the
      // condition under which immediate reclamation is safe
      graft.core.Ingest.vacuum(spark, p.tableDir, graceMs = 0L)
      ()
    }
    stores.foreach {
      case t: TextIndex =>
        TextStream.forgetDocs(spark, t.dir, t.upToBatchId, removedIds); ()
      case e: EmbedIndex =>
        EmbedStream.forgetDocs(spark, e.dir, e.upToBatchId, removedIds); ()
      case m: MediaIndex =>
        MediaStream.forgetDocs(spark, m.dir, m.upToBatchId, removedIds); ()
      case _ => ()
    }
    stores.collect { case a: Admitted => a }.foreach { a =>
      Erasure.forgetRows(spark, a.dir, a.idCol, removedIds, a.prefix); ()
    }
    val cert = audit(spark, removedIds, stores)
    val dirty = cert.filter(_.getLong(2) != 0L).map(_.getString(0))
    if (dirty.nonEmpty)
      throw new graft.core.BadCallException(
        s"Governance.execute: residual removed rows remain in " +
          s"${dirty.mkString(", ")} after the takedown loop — the " +
          "composite certificate cannot be filed (an External store's " +
          "owner may not have erased it; an index may need the " +
          "documented rebuild migration)")
    certFrame(spark, cert)
  }

  /** [[execute]] driven by the [[TakedownStream]] REQUEST STORE itself —
    * the removal ids come from the same `inc=` increments the live bill
    * was computed over, so the erased set and the billed set cannot
    * diverge through an operator-copied id list (the last manual step
    * the orchestrator left open). Recovery runs on the request store
    * first (a crashed request-store compaction must not silently drop
    * committed requests from the erase — the same rule the bill
    * follows). The request ledger itself is deliberately NOT a
    * registered store: the REQUESTS are legal evidence of the takedown,
    * only derived content is erased. Takedown lists are
    * legal-process-sized by contract; `maxIds` is the loud valve
    * against pointing this at a data-sized table by mistake. */
  def executeFromRequests(spark: SparkSession, requestStateDir: String,
      stores: Seq[Store], maxIds: Int = 1000000): DataFrame = {
    val incs = IncrementStore.incrementsBelow(spark, requestStateDir,
      Long.MaxValue)
    require(incs.nonEmpty,
      s"Governance.executeFromRequests: no request increments under " +
        s"$requestStateDir — nothing to erase (takedown requests arrive " +
        "via TakedownStream or as caller-written inc= seeds)")
    val ids = spark.read.parquet(incs: _*)
      .select(col("doc").cast("long")).filter(col("doc").isNotNull)
      .distinct()
      .limit(maxIds + 1).collect().map(_.getLong(0)).toSeq.sorted
    require(ids.size <= maxIds,
      s"Governance.executeFromRequests: over $maxIds distinct request " +
        s"ids under $requestStateDir — that is corpus-shaped, not a " +
        "takedown list; wrong directory?")
    execute(spark, ids, stores)
  }

  /** The composite certificate WITHOUT the erase phase — what a
    * data-protection officer re-runs later to confirm erasure still
    * holds (e.g. after a restore-from-backup incident), and the
    * primitive [[execute]] verifies with. One row per registered store,
    * registry order. */
  def auditOnly(spark: SparkSession, removedIds: Seq[Long],
      stores: Seq[Store]): DataFrame =
    certFrame(spark, audit(spark, removedIds, stores))

  /** One collected certificate row per store: dir-shaped stores audit
    * recursively via [[Erasure.erasureAudit]] (recovery first); pack
    * tables audit RECURSIVELY over every version on disk — the erase
    * phase vacuums superseded versions at zero grace, so any residual
    * here means an old version still holds removed rows (an
    * un-vacuumed hand repack) and the certificate must fail loudly,
    * not read a clean current view over dirty bytes. */
  private def audit(spark: SparkSession, removedIds: Seq[Long],
      stores: Seq[Store]): Seq[Row] = {
    // r19 (optimization round): the per-store audits are independent
    // READ-ONLY actions on disjoint directories, but ran as one serial
    // Spark job per store — on a 6-store registry the driver sat idle
    // between 6 tiny jobs (guide §2.6: overlap independent jobs so the
    // next job's tasks back-fill the current one's tail). Submit them
    // concurrently and await in registry order; the certificate row
    // order is unchanged by construction. The ERASE phases above stay
    // sequential — they are file transactions with a fixed phase order.
    // r20 (ADVICE): store RECOVERY is not read-only — recoverStore
    // deletes folded sources and renames .tmp dirs — so it runs
    // SERIALLY over the whole registry first (a registry with duplicate
    // or overlapping dirs must never race two recoveries); only the
    // genuinely read-only residual scans fan out as Futures.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    stores.foreach {
      case _: Pack => () // pack tables are plain parquet, nothing to recover
      case t: TextIndex  => IncrementStore.recoverStore(spark, t.dir)
      case e: EmbedIndex => IncrementStore.recoverStore(spark, e.dir)
      case m: MediaIndex => IncrementStore.recoverStore(spark, m.dir)
      case a: Admitted   => IncrementStore.recoverStore(spark, a.dir)
      case x: External   => IncrementStore.recoverStore(spark, x.dir)
    }
    val futures = stores.map { st => Future {
      val one = st match {
        case p: Pack =>
          Erasure.residualOf(p.name,
            spark.read.option("recursiveFileLookup", "true")
              .parquet(p.tableDir),
            col("doc"), removedIds)
        case t: TextIndex =>
          Erasure.erasureAudit(spark, removedIds, Seq((t.name, t.dir, "doc")),
            recover = false)
        case e: EmbedIndex =>
          Erasure.erasureAudit(spark, removedIds, Seq((e.name, e.dir, "doc")),
            recover = false)
        case m: MediaIndex =>
          Erasure.erasureAudit(spark, removedIds, Seq((m.name, m.dir, "doc")),
            recover = false)
        case a: Admitted =>
          Erasure.erasureAudit(spark, removedIds,
            Seq((a.name, a.dir, a.idCol)), recover = false)
        case x: External =>
          Erasure.erasureAudit(spark, removedIds,
            Seq((x.name, x.dir, x.idCol)), recover = false)
      }
      one.head()
    } }
    futures.map(Await.result(_, Duration.Inf))
  }

  /** The collected certificate back as a frame (registry order pinned —
    * no recompute between the verify and what the caller files). */
  private def certFrame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("store", StringType, nullable = false),
        StructField("n_rows", LongType, nullable = false),
        StructField("n_residual", LongType, nullable = false))))
}
