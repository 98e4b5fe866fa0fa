package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The q256 preference-pair (DPO) gate in a form that runs UNCHANGED on a
  * batch frame or an append-mode stream — the continuous-assembly shape a
  * live feedback pipeline needs (preference records arrive as
  * `(pair_id, prompt, resp_a, resp_b)` events; the gate scores, orients
  * chosen/rejected, and deduplicates prompts online).
  *
  * Every scoring/orientation column is a stateless per-row projection
  * (shared verbatim between modes, so the twins cannot drift). The one
  * stateful stage is prompt dedup:
  *  - batch: [[graft.ops.Dedup.dedupExact]] keeps the MINIMUM pair_id per
  *    prompt fingerprint (deterministic, oracle-replayable);
  *  - stream: state-store `dropDuplicates` keeps each fingerprint's FIRST
  *    ARRIVAL — the [[graft.ops.Curation.curateStream]] keep-policy
  *    difference, identical when arrival order is id order (the spec's
  *    setup) and same survivor COUNT per prompt group always. With
  *    `eventTime` set, state is watermark-bounded
  *    (`dropDuplicatesWithinWatermark`) — the unbounded-feed mode; one
  *    fingerprint per distinct prompt otherwise.
  *
  * Scale shape: zero shuffle for the projections; the dedup state is one
  * md5 per distinct prompt. */
object PreferenceStream {

  /** Vocabulary-richness reward — distinct whitespace tokens (the q256
    * reward; swap for a learned scorer column at will). */
  def reward(resp: Column): Column =
    size(array_distinct(split(resp, " "))).cast("long")

  /** Score + orient + dedup. Input must expose `pair_id, prompt, resp_a,
    * resp_b, src_a, src_b`; output is the q256 pair-table shape. */
  def gate(pairs: DataFrame,
      eventTime: Option[(Column, String)] = None): DataFrame = {
    val scored = pairs
      .withColumn("ra", reward(col("resp_a")))
      .withColumn("rb", reward(col("resp_b")))
      .withColumn("chosen",
        when(col("rb") > col("ra"), col("resp_b")).otherwise(col("resp_a")))
      .withColumn("rejected",
        when(col("rb") > col("ra"), col("resp_a")).otherwise(col("resp_b")))
      .withColumn("chosen_src",
        when(col("rb") > col("ra"), col("src_b")).otherwise(col("src_a")))
      .withColumn("prompt_fp", md5(col("prompt")))
    val deduped =
      if (!pairs.isStreaming)
        graft.ops.Dedup.dedupExact(scored, col("prompt_fp"), col("pair_id"))
      else eventTime match {
        case Some((ts, delay)) =>
          scored.withColumn("__ts", ts).withWatermark("__ts", delay)
            .dropDuplicatesWithinWatermark("prompt_fp").drop("__ts")
        case None => scored.dropDuplicates("prompt_fp")
      }
    deduped.select(col("pair_id"), col("prompt_fp"), col("chosen_src"),
      (col("src_a") + col("src_b") - col("chosen_src")).as("rejected_src"),
      greatest(col("ra"), col("rb")).as("reward_chosen"),
      abs(col("ra") - col("rb")).as("reward_margin"),
      md5(concat_ws(" ||| ", col("prompt"), col("chosen"),
        col("rejected"))).as("fp"))
  }

  /** Best-of-n / rejection-sampling assembly — [[gate]]'s pairing
    * generalized to n candidates per prompt: keep the argmax by [[reward]]
    * with the established total tie-break (highest reward, tie → lowest
    * `src`), emit `(prompt_id, n_candidates, chosen_src, reward_chosen,
    * reward_margin, fp)` where the margin is best-minus-second-best (the
    * rejection-sampling confidence signal; 0 when n = 1 or on a planted
    * tie) and `fp` fingerprints the (prompt, chosen response) pair.
    *
    * Input must expose `prompt_id, prompt, resp, src`. Scoring is the
    * same stateless per-row projection batch or stream (one code path —
    * the [[gate]] discipline); the argmax is ONE groupBy whose
    * `sort_array(collect_list(...))` buffer holds n small structs per
    * prompt — bounded by the SAMPLER's candidate budget (n is 4–64 in any
    * best-of-n recipe, never data-sized), so the aggregation state is
    * n·(reward, src, fp) per open prompt and partial-aggregable across
    * partitions. Streaming runs it as a state-store aggregation
    * (update/complete mode; StreamStaticSpec pins stream ≡ batch with a
    * prompt's candidates split across microbatches). */
  def bestOfN(cands: DataFrame): DataFrame =
    bestSelect(scoreCands(cands).groupBy(col("prompt_id")), Seq("prompt_id"))

  /** [[bestOfN]] for an UNBOUNDED feed: candidates carry an event time,
    * prompts aggregate within tumbling `windowDur` windows behind a
    * `delay` watermark — so the state store holds only open windows'
    * candidate buffers and the sink can run in APPEND mode (a window's
    * winner emits exactly once, when the watermark passes its end). The
    * contract is the sampler's own: one prompt's n candidates are
    * generated together, so they land in one window; a candidate arriving
    * later than `delay` is dropped by the watermark (counted by Spark's
    * streaming metrics), never silently mis-grouped. Identical scoring
    * projections — the batch twin is the same code path on a static
    * frame, spec-pinned window for window. */
  def bestOfNWindowed(cands: DataFrame, ts: Column, delay: String,
      windowDur: String): DataFrame = {
    val staged = cands.withColumn("__ts", ts)
    val marked =
      if (staged.isStreaming) staged.withWatermark("__ts", delay) else staged
    bestSelect(scoreCands(marked)
        .groupBy(window(col("__ts"), windowDur).as("win"), col("prompt_id")),
      Seq("win", "prompt_id"))
  }

  /** CONTINUOUS preference-tournament aggregation — the streaming twin of
    * [[graft.ops.Preference.rankCandidates]] (q286), for a live judgment
    * feed (human/AI preference labels trickle in; the reward-model data
    * card wants the CURRENT ranking, not a nightly batch): per-pair win
    * counts are ADDITIVE across arrival batches, so each trigger writes
    * its batch's [[graft.ops.Preference.pairCounts]] as one parquet
    * increment (`inc=<batchId>`, mode-overwrite — replay-idempotent, the
    * [[TextStream.evolvingGate]] exactly-once rule), sums every committed
    * increment at or below itself, and publishes the full re-ranked
    * tournament ([[graft.ops.Preference.rankFromPairCounts]] — the ONE
    * code path with the batch op, so the twins cannot drift) to
    * `rankDir/batch=<batchId>`. A reader always consumes the highest
    * committed batch directory — each is a complete, consistent snapshot.
    *
    * Scale shape: increments are (prompt, pair)-sized integer counts
    * (bounded by prompts × n², never judgment volume); the per-trigger
    * re-rank costs one groupBy + one bounded-partition rank window over
    * the summed counts — at a judgment volume where a full re-rank per
    * trigger hurts, partition `rankDir` by prompt-hash and re-rank only
    * prompts present in the trigger's increment (counts of untouched
    * prompts are unchanged by construction). Judgments must expose
    * `prompt, a, b, winner`. */
  def evolvingRank(judgments: DataFrame, stateDir: String,
      rankDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(judgments.isStreaming, "evolvingRank expects a streaming frame")
    val step: (DataFrame, Long) => Unit = (batch, batchId) => {
      val spark = batch.sparkSession
      graft.ops.Preference.pairCounts(batch, col("prompt"), col("a"),
          col("b"), col("winner"))
        .write.mode("overwrite").parquet(s"$stateDir/inc=$batchId")
      // the listing rolls a crashed compaction forward first (r17
      // ADVICE): a snapshot summed over deleted-but-unrenamed sources
      // would silently UNDERCOUNT until an operator re-ran compaction
      val total = spark.read.parquet(
          IncrementStore.incrementsBelow(spark, stateDir, batchId + 1): _*)
        .groupBy("prompt", "lo", "hi")
        .agg(sum("wins_lo").as("wins_lo"), sum("wins_hi").as("wins_hi"))
      graft.ops.Preference.rankFromPairCounts(total)
        .write.mode("overwrite").parquet(s"$rankDir/batch=$batchId")
      ()
    }
    judgments.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(step)
      .start()
  }

  /** COMPACT the tournament's pair-count increments: every increment
    * strictly below `upToBatchId` (numeric batch increments and prior
    * compact seeds alike) SUM-merges into one `inc=compact-<upTo>` seed
    * — counts are ADDITIVE, so the merge is the same groupBy the trigger
    * already runs, and a reader sums compact seeds + surviving numerics
    * to exactly the same totals. Unlike the kill-evidence indexes,
    * duplicated count rows would DOUBLE-count — crash safety therefore
    * rides entirely on [[IncrementStore]]'s transaction (tmp write →
    * manifest commit → delete + rename with roll-forward recovery): at
    * every crash point either the originals or the compacted seed are
    * readable, never both. Same contract as the gates: `upToBatchId` ≤
    * last COMMITTED batch (a replayed batch's id is above that, so its
    * fresh increment never overlaps a seed), nondecreasing across calls,
    * run between triggers. Returns the number of increments folded. */
  def compactCounts(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, upToBatchId: Long): Int =
    IncrementStore.compact(spark, stateDir, upToBatchId,
      df => df.groupBy("prompt", "lo", "hi")
        .agg(sum("wins_lo").as("wins_lo"), sum("wins_hi").as("wins_hi")))

  /** Shared scoring projections (stateless, batch ≡ stream by
    * construction). */
  private def scoreCands(cands: DataFrame): DataFrame = cands
    .withColumn("__r", reward(col("resp")))
    .withColumn("__fp", md5(concat_ws(" ||| ", col("prompt"), col("resp"))))

  /** Shared argmax tail: the sorted bounded candidate buffer → winner,
    * margin, fingerprint (see [[bestOfN]] for the state-size contract). */
  private def bestSelect(grouped: org.apache.spark.sql.RelationalGroupedDataset,
      keyNames: Seq[String]): DataFrame =
    grouped
      .agg(sort_array(collect_list(struct(
        (-col("__r")).as("nr"), col("src").as("src"), col("__fp").as("fp"))))
        .as("__c"))
      .select(keyNames.map(col) ++ Seq(
        size(col("__c")).cast("long").as("n_candidates"),
        col("__c")(0).getField("src").as("chosen_src"),
        (-col("__c")(0).getField("nr")).as("reward_chosen"),
        when(size(col("__c")) > 1,
          col("__c")(1).getField("nr") - col("__c")(0).getField("nr"))
          .otherwise(lit(0L)).as("reward_margin"),
        col("__c")(0).getField("fp").as("fp")): _*)
}
