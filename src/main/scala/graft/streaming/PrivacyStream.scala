package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CONTINUOUS ε-DP release — the streaming twin of
  * [[graft.ops.Privacy.dpGroupCounts]] (q306), for live telemetry: the
  * trust boundary keeps maintaining TRUE per-(unit, group) membership as
  * events arrive, and each trigger publishes a fresh point-in-time DP
  * snapshot outside it.
  *
  * State model: a unit is counted once per group no matter how often it
  * recurs, so the maintained state is the distinct (unit, group) SET —
  * set-union-mergeable across arrival batches (unlike the tournament's
  * additive counts, re-observing a pair is a no-op, not a double-count).
  * Each trigger writes its batch's distinct pairs as one parquet
  * increment (`inc=<batchId>`, mode-overwrite — replay-idempotent, the
  * [[TextStream.evolvingGate]] exactly-once rule); the snapshot reads
  * every committed increment and hands the UNION to the SAME
  * [[graft.ops.Privacy.dpGroupCounts]] code path as the batch op (whose
  * internal distinct collapses cross-increment recurrences) — one code
  * path, so the twins cannot drift.
  *
  * DP accounting — the continual-observation caveat, stated plainly:
  * every published snapshot is a fresh ε-spend on largely the same data
  * (the release-k seed derives as `seed + batchId`, so draws are
  * independent); after k releases the total budget is k·ε against a
  * unit whose pairs persist across them. That is the honest cost of
  * continuous release (the Dwork et al. continual-observation bound is
  * the structured alternative); operators who need a fixed total budget
  * release every N-th trigger or on demand, not per trigger.
  *
  * Scale shape: increments are distinct-pair-sized (bounded by
  * units × L-ish occupancy, never event volume); the per-trigger
  * snapshot is dpGroupCounts' one distinct + one bounded window + one
  * group agg. At a volume where a full snapshot per trigger hurts,
  * release on a cadence — the state write stays cheap either way. */
object PrivacyStream {

  /** Start the gate: maintain the pair store, publish a DP snapshot per
    * trigger to `releaseDir/batch=<batchId>`. `events` must be a
    * streaming frame exposing the unit/group columns. */
  def evolvingRelease(events: DataFrame, unit: Column, group: Column,
      stateDir: String, releaseDir: String, checkpointDir: String,
      epsilonMilli: Long = 1000L, maxGroupsPerUnit: Int = 4,
      tau: Long = 0L, seed: Int = 42)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(events.isStreaming, "evolvingRelease expects a streaming frame")
    val pairs = events.select(unit.as("un"), group.as("grp"))
    val step: (DataFrame, Long) => Unit = (batch, batchId) => {
      val spark = batch.sparkSession
      batch.distinct()
        .write.mode("overwrite").parquet(s"$stateDir/inc=$batchId")
      // the listing rolls a crashed compaction forward first (the r17
      // ADVICE rule): a snapshot over deleted-but-unrenamed sources
      // would silently undercount the release
      val union = spark.read.parquet(
        IncrementStore.incrementsBelow(spark, stateDir, batchId + 1): _*)
      graft.ops.Privacy.dpGroupCounts(union, col("un"), col("grp"),
          epsilonMilli, maxGroupsPerUnit, tau,
          seed = seed + batchId.toInt)
        .write.mode("overwrite").parquet(s"$releaseDir/batch=$batchId")
      ()
    }
    pairs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(step)
      .start()
  }

  /** Compact the pair-set increments below `upToBatchId` into one
    * `inc=compact-<upTo>` seed. Membership is a SET, so the merge is
    * `distinct()` — re-reading a pair from two increments was already
    * a no-op, and the [[IncrementStore]] transaction keeps every crash
    * point readable (originals or seed, never both). */
  def compactPairs(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, upToBatchId: Long): Int =
    IncrementStore.compact(spark, stateDir, upToBatchId, _.distinct())
}
