package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Online TEXT-admission gate — the document twin of [[EmbedStream.gate]]
  * and the streaming counterpart of [[Dedup.dedupAgainstCorpus]] (q113):
  * documents arrive continuously and each must be admitted or rejected
  * NOW against (a) everything that already arrived and (b) the FROZEN
  * corpus's MinHash signature index — the ingestion-time novelty check
  * that keeps a new crawl snapshot from re-admitting what the last
  * release already contains, without ever touching the corpus TEXT
  * (the q158/q277 index-only contract).
  *
  * One code path serves batch and stream (the [[PreferenceStream]]
  * discipline — shared projections cannot drift):
  *
  *  - **within-arrival dedup** keys on the full row-wise MinHash
  *    signature ([[graft.functions.MinHashSignature]] — a stateless
  *    per-row projection, so it composes with state-store dedup on an
  *    append stream where an explode+groupBy signature could not).
  *    Batch = min-id survivor per signature ([[Dedup.dedupExact]],
  *    rerun-deterministic, oracle-replayable); stream = first-arrival
  *    survivor (state one row per distinct signature); with `eventTime`
  *    set, state is watermark-bounded (`dropDuplicatesWithinWatermark`)
  *    — the unbounded-feed mode. Null-text rows key per-id and are never
  *    collapsed. Texts with fewer than `n` tokens share the sentinel
  *    all-MaxValue signature and DO collapse — feed the gate tokenizable
  *    documents (a length floor is every curation pipeline's first rule).
  *  - **novelty vs the corpus** is STATELESS per row: one hash LEFT ANTI
  *    join per LSH band against the corpus index projected to that
  *    band's key — an arrival dies iff ANY band matches a corpus doc
  *    agreeing on ≥ ⌈t·k⌉ signature components (the integer agree-count
  *    verify, no cross-engine float boundary). Sequential per-band anti
  *    joins compose exactly dedupAgainstCorpus's "any candidate kills"
  *    rule while keeping every join an EQUI join — no OR-of-bands
  *    nested loop; Spark re-plans the static side per microbatch, so a
  *    re-published index is picked up without restarting the query.
  *
  * What this deliberately does NOT do: NEAR-dup detection within the
  * arrival stream beyond exact-signature collapse (two novel mutually
  * similar arrivals both admit) — that is the batch pass's job between
  * releases (q46/q113/q277), exactly [[EmbedStream.gate]]'s contract.
  *
  * Scale shape: the dedup exchange hashes on the signature string
  * (uniform); each band join hashes on the band key with the corpus
  * index — k longs per corpus doc — shuffled once per microbatch
  * (broadcast when serving-sized; leave the hint to stats/AQE). `bands`
  * bounds candidate fan-in exactly as in [[Dedup.lshBands]]. */
object TextStream {

  /** Admit `arrivals` (`doc_id`, `text`, …) against the frozen
    * `corpusIndex` (`doc`, `s0..s{k-1}` — any of the bit-equal signature
    * formulations, built at release-write time). Returns admitted rows
    * (original columns). */
  def corpusGate(arrivals: DataFrame, corpusIndex: DataFrame, n: Int,
      k: Int, bands: Int, minEstJaccard: Double,
      eventTime: Option[(Column, String)] = None): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"bands must divide k evenly (got k=$k, bands=$bands)")
    graft.GraftExtensions.ensureRegistered(arrivals.sparkSession)
    val minAgree = math.ceil(minEstJaccard * k - 1e-9).toInt
    val rows = k / bands
    val keyed = arrivals.withColumn("__sig",
      coalesce(
        call_function("minhash_signature", col("text"), lit(n), lit(k))
          .cast("string"),
        concat(lit("null-text:"), col("doc_id").cast("string"))))
    val deduped =
      if (!arrivals.isStreaming) Dedup.dedupExact(keyed, col("__sig"), col("doc_id"))
      else eventTime match {
        case Some((ts, delay)) =>
          keyed.withColumn("__ts", ts).withWatermark("__ts", delay)
            .dropDuplicatesWithinWatermark("__sig").drop("__ts")
        case None => keyed.dropDuplicates("__sig")
      }
    val withSig = deduped.withColumn("__asig",
      call_function("minhash_signature", col("text"), lit(n), lit(k)))
    val agree = (0 until k).map(j =>
      when(element_at(col("__asig"), j + 1) === col(s"__cs$j"), 1)
        .otherwise(0)).reduce(_ + _)
    val admitted = (0 until bands).foldLeft(withSig) { (acc, b) =>
      val ckey = concat_ws(",",
        (b * rows until (b + 1) * rows).map(j => col(s"s$j").cast("string")): _*)
      val idx = corpusIndex.select(
        (ckey.as("__ckey") +: (0 until k).map(j => col(s"s$j").as(s"__cs$j"))): _*)
      val akey = concat_ws(",",
        (b * rows until (b + 1) * rows)
          .map(j => element_at(col("__asig"), j + 1).cast("string")): _*)
      acc.join(idx, akey === col("__ckey") && agree >= minAgree, "left_anti")
    }
    admitted.drop("__sig", "__asig")
  }

  /** EVOLVING-index admission gate — closes [[corpusGate]]'s documented
    * non-goal: a NEAR-duplicate arriving microbatches after its original.
    * corpusGate's cross-batch state is exact-signature only; here every
    * admitted document's MinHash signature joins the index itself, so
    * later near-dup arrivals die against everything admitted so far, not
    * just the frozen release.
    *
    * Mechanics (`foreachBatch` — the packing precedent from
    * [[graft.ops.Curation.curateStream]]'s scaladoc: index evolution is a
    * read-your-own-writes loop no stateless stream operator expresses):
    * the index directory accumulates one parquet increment per microbatch
    * (`inc=<batchId>`) next to any SEED increments the caller wrote
    * (non-numeric suffixes, e.g. `inc=seed`). Each trigger
    *
    *  1. reads every increment with id STRICTLY below its own batchId —
    *     a REPLAYED batch never sees its own earlier partial write, so
    *     restart is idempotent (exactly-once by construction: both writes
    *     below are mode-overwrite under batchId-derived paths);
    *  2. admits via [[graft.ops.Dedup.admitStep]] — ONE code path with
    *     the batch twin [[graft.ops.Dedup.admitWaves]], so the twins
    *     cannot drift;
    *  3. writes admitted rows to `admittedDir/batch=<batchId>` and their
    *     signatures to the new increment.
    *
    * Publishing the index to OTHER pipelines still goes through the
    * atomic manifest barrier ([[graft.core.Ingest]]); the gate's own
    * read-back needs only the listing because increments are immutable
    * once their batch commits. State size: k longs per ADMITTED doc, on
    * disk, never in executor memory — the 100 TB mode by default.
    * Arrivals must expose `doc_id` and `text` (the [[corpusGate]]
    * contract). */
  def evolvingGate(arrivals: DataFrame, indexDir: String,
      admittedDir: String, checkpointDir: String, n: Int, k: Int,
      bands: Int, minEstJaccard: Double)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(arrivals.isStreaming, "evolvingGate expects a streaming frame")
    val minAgree = math.ceil(minEstJaccard * k - 1e-9).toInt
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val step: (DataFrame, Long) => Unit = (batch, batchId) => {
      val spark = batch.sparkSession
      val idx = readIndexBelow(spark, indexDir, k, batchId)
      // signatures computed ONCE per trigger, shared by the admission
      // joins and the increment (the admitStep materialize-once rule);
      // released before the trigger returns — no state accrues in memory
      val sig = Dedup.minhashSignaturesRowwise(batch, col("doc_id"),
        col("text"), n, k).persist(lvl)
      try {
        val adm = Dedup.admitWithSig(batch, col("doc_id"), sig, idx, k,
          bands, minAgree).persist(lvl)
        try {
          adm.write.mode("overwrite").parquet(s"$admittedDir/batch=$batchId")
          sig.join(adm.select(col("doc_id").as("__adm")),
              col("doc") === col("__adm"), "left_semi")
            .write.mode("overwrite").parquet(s"$indexDir/inc=$batchId")
        } finally adm.unpersist(false)
      } finally sig.unpersist(false)
      ()
    }
    arrivals.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(step)
      .start()
  }

  /** COMPACT an evolving-gate index directory ([[evolvingGate]] here or
    * [[EmbedStream.evolvingGate]] — the layout is shared): merge every
    * increment strictly below `upToBatchId` — numeric batch increments
    * AND prior `compact-<M>` seeds with M < upToBatchId, so successive
    * compactions collapse to ONE seed instead of accumulating an
    * immortal directory per invocation (the r16 ADVICE finding) — into
    * `inc=compact-<upToBatchId>`, then delete the merged originals — a
    * long-running gate accumulates one directory per trigger and the
    * per-trigger listing/open cost eventually dominates the index read
    * itself.
    *
    * Crash-safe via [[IncrementStore]]'s filesystem transaction (tmp
    * write → source manifest commit point → delete + rename, with
    * roll-forward/roll-back recovery on the next call) — stronger than
    * the kill-evidence duplication argument alone, and the SAME protocol
    * serves the additive counts store where duplication is NOT harmless
    * ([[PreferenceStream.compactCounts]]). Compact only up to the
    * checkpoint's last COMMITTED batch (those increments are immutable
    * by the gate's own contract), with `upToBatchId` nondecreasing
    * across calls. Returns the number of increments merged. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, upToBatchId: Long): Int =
    IncrementStore.compact(spark, indexDir, upToBatchId, identity)

  /** FORGET documents from the evolving index — the right-to-be-forgotten
    * EXECUTED on the dedup store itself, the third leg of the governance
    * stack next to the audit ([[graft.ops.Chunking.takedownAudit]], q296)
    * and the live bill ([[TakedownStream]]): a removal request must also
    * erase the document's SIGNATURES, because kill evidence derived from
    * removed content is itself derived content — and while it stays, the
    * gate keeps suppressing future arrivals "because they resemble
    * something we were ordered to delete". Implemented as one
    * [[IncrementStore]] compaction whose merge FILTERS the removed doc
    * ids — the same tmp → manifest → delete → rename transaction, so a
    * crash leaves either the old increments or the filtered seed, never
    * a half-forgotten store.
    *
    * Call with the gate STOPPED and `upToBatchId` = last committed batch
    * + 1; `ids` is the takedown list — legal-process-sized, a driver
    * literal by contract (the hardNegatives anchor rule). The fold is
    * EXHAUSTIVE (`foldAll`): every increment passes through the filter —
    * numeric batches, caller-written seeds with arbitrary tags, and a
    * compact seed sitting exactly AT the fold point (the r17 ADVICE
    * hole: the maintenance rule's strict `<` silently skipped
    * `compact-<upTo>`, returning 0 while the forgotten docs' signatures
    * stayed live) — and the call RAISES if any increment would survive
    * unfolded instead of quietly under-forgetting. Semantics after the
    * forget: a NEW near-duplicate of a forgotten document ADMITS — by
    * design; within its original wave the historical admission decisions
    * are not (and cannot be) replayed. [[EmbedStream.forgetDocs]] is the
    * embedding index's twin (its rows carry `doc` since r18). A store
    * holding NULL-doc rows (unattributable evidence) RAISES — see
    * [[IncrementStore.forgetDocIncrements]], the shared body all three
    * gate kinds delegate to. Returns the number of increments
    * rewritten. */
  def forgetDocs(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, upToBatchId: Long, ids: Seq[Long]): Int =
    IncrementStore.forgetDocIncrements(spark, indexDir, upToBatchId, ids,
      "TextStream.forgetDocs")

  /** Every index increment a trigger may read: seeds plus numeric
    * increments STRICTLY below `batchId`, crash recovery first
    * ([[IncrementStore.incrementsBelow]]); an empty (doc, s0…) frame on a
    * cold start. */
  private def readIndexBelow(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, k: Int, batchId: Long): DataFrame = {
    val incs = IncrementStore.incrementsBelow(spark, indexDir, batchId)
    if (incs.isEmpty)
      spark.range(0).select(
        (col("id").as("doc") +: (0 until k).map(j => col("id").as(s"s$j"))): _*)
    else spark.read.parquet(incs: _*)
  }
}
