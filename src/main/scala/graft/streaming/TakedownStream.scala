package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CONTINUOUS takedown accounting — the streaming twin of
  * [[graft.ops.Chunking.takedownAudit]] (q296): removal requests
  * (right-to-be-forgotten / licensing opt-outs) trickle in as a stream,
  * and the release manager wants the CURRENT cumulative rebuild bill
  * against the shipped pack layout, not a nightly batch.
  *
  * Mechanics (`foreachBatch`, the [[PreferenceStream.evolvingRank]]
  * shape): each trigger writes its batch's request ids as one parquet
  * increment (`inc=<batchId>`, mode-overwrite — replay-idempotent,
  * exactly-once by the [[TextStream.evolvingGate]] rule), reads every
  * committed increment at or below itself, and publishes the FULL
  * recomputed bill ([[graft.ops.Chunking.takedownAudit]] — ONE code path
  * with the batch op, so the twins cannot drift) to
  * `billDir/batch=<batchId>`. A reader always consumes the highest
  * committed batch directory — each is a complete, consistent snapshot.
  *
  * Request ids are SET evidence: a doc removed twice dirties exactly the
  * same bins as once (the join below is distinct-id), so the store
  * tolerates duplicated increments and [[TextStream.compactIndex]]
  * (identity merge — the shared `inc=` layout's third consumer) compacts
  * it crash-safely via the same [[IncrementStore]] transaction.
  *
  * Scale shape: increments are request-sized (tiny — takedown lists are
  * human/legal-process-sized, never corpus-sized); the per-trigger bill
  * costs one broadcast-able semi-ish join of the static pack table
  * against the accumulated id set + takedownAudit's two partial
  * aggregations. `packed` must expose the audit's four columns via the
  * passed selectors; requests must expose `doc`. */
object TakedownStream {

  def takedownStream(requests: DataFrame, packed: DataFrame, grp: Column,
      bin: Column, doc: Column, nTok: Column, stateDir: String,
      billDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(requests.isStreaming, "takedownStream expects a streaming frame")
    val step: (DataFrame, Long) => Unit = (batch, batchId) => {
      val spark = batch.sparkSession
      batch.select(col("doc").cast("long").as("doc"))
        .write.mode("overwrite").parquet(s"$stateDir/inc=$batchId")
      // the listing rolls a crashed compaction forward first (r17
      // ADVICE): a bill computed over deleted-but-unrenamed sources
      // would silently drop committed takedown requests
      val removedIds = spark.read.parquet(
          IncrementStore.incrementsBelow(spark, stateDir, batchId + 1): _*)
        .select(col("doc").as("__rdoc")).distinct()
      val flagged = packed.join(removedIds, doc === col("__rdoc"), "left")
      graft.ops.Chunking.takedownAudit(flagged, grp, bin, nTok,
          col("__rdoc").isNotNull)
        .write.mode("overwrite").parquet(s"$billDir/batch=$batchId")
      ()
    }
    requests.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(step)
      .start()
  }
}
