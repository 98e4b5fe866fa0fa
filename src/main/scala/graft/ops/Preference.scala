package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pairwise-preference TOURNAMENT aggregation — the reward-modeling prep
  * step between raw human/AI judgments and a per-prompt candidate ranking.
  * A post-training pipeline collects many noisy pairwise judgments
  * (`prompt, a, b, winner`, several judges per pair); reward-model and
  * best-of-n training want one deterministic ranking per prompt that is
  * robust to (a) judge noise (majority vote per pair) and (b) non-transitive
  * preferences (Condorcet cycles — a naive win-count ranking silently
  * launders them, Copeland scoring surfaces them as ties the total
  * tie-break then resolves reproducibly).
  *
  * Everything is EXACT integer arithmetic (counts, Copeland = pairs won −
  * pairs lost on the majority relation, win rate on the half-up permille
  * grid via [[ExactRound.halfUpDivCol]]) — no floats anywhere, so the
  * ranking replays bit-identically in any engine.
  *
  * Scale shape: one partial-aggregable groupBy per (prompt, pair) for the
  * majority vote, one valved 2-row explode, one partial-aggregable groupBy
  * per (prompt, candidate), and ONE rank window partitioned by prompt whose
  * partitions hold at most the sampler's candidate budget (n is 4–64 in any
  * best-of-n/RLHF recipe, never data-sized — the
  * [[graft.streaming.PreferenceStream.bestOfN]] contract). Nothing shuffles
  * more than the judgment table hashed by prompt. */
object Preference {

  /** Majority edge per (prompt, unordered pair): winner of the strict
    * judgment majority, NULL on an exact tie (a tied pair contributes to
    * neither side's Copeland score). Pairs are normalized to
    * `lo = least(a, b), hi = greatest(a, b)` so the same pair judged in
    * either orientation aggregates together. A judgment whose `winner` is
    * neither side raises loudly (corrupt upstream join — never silently
    * dropped, the [[Sampling.expandCopies]] valve discipline). */
  def pairMajority(judgments: DataFrame, prompt: Column, a: Column,
      b: Column, winner: Column): DataFrame =
    pairCounts(judgments, prompt, a, b, winner)
      .withColumn("maj",
        when(col("wins_lo") > col("wins_hi"), col("lo"))
          .when(col("wins_hi") > col("wins_lo"), col("hi")))

  /** The ADDITIVE half of [[pairMajority]]: per-(prompt, normalized pair)
    * raw win counts, no majority derivation — counts from disjoint
    * judgment batches SUM to the full-corpus counts, which is what makes
    * the tournament incrementally maintainable (the streaming gate's
    * increments are exactly this shape). */
  def pairCounts(judgments: DataFrame, prompt: Column, a: Column,
      b: Column, winner: Column): DataFrame = {
    val lo = least(a, b)
    val hi = greatest(a, b)
    val wlo = when(winner === lo, 1L).when(winner === hi, 0L)
      .otherwise(raise_error(concat(
        lit("pairMajority: winner outside {a, b}: "),
        winner.cast("string"))).cast("long"))
    judgments
      .select(prompt.as("prompt"), lo.as("lo"), hi.as("hi"), wlo.as("__wlo"))
      .groupBy("prompt", "lo", "hi")
      .agg(sum("__wlo").as("wins_lo"),
        (count(lit(1)) - sum("__wlo")).as("wins_hi"))
  }

  /** Per-(prompt, candidate) tournament table: Copeland score over the
    * majority relation, pairs won/lost/faced, raw judgment wins, judgments
    * involving the candidate, win rate on the exact half-up permille grid,
    * and the final `rnk` (1 = best) under the deterministic total order
    * `copeland DESC, j_wins DESC, cand ASC` — so a 3-cycle's members (all
    * Copeland 0 against each other) rank by raw wins, then by id, never by
    * partition luck. */
  def rankCandidates(judgments: DataFrame, prompt: Column, a: Column,
      b: Column, winner: Column): DataFrame =
    rankFromPairCounts(pairMajority(judgments, prompt, a, b, winner))

  /** [[rankCandidates]] from PRE-AGGREGATED pair counts — the entry point
    * for incremental/streaming aggregation ([[
    * graft.streaming.PreferenceStream.evolvingRank]]): per-pair win
    * counts are ADDITIVE across arrival batches, so a continuously
    * maintained counts table re-ranks without ever replaying raw
    * judgments. Input must expose `prompt, lo, hi, wins_lo, wins_hi`
    * (normalized pairs, lo < hi); the majority column is derived here so
    * callers only ever merge integer counts. */
  def rankFromPairCounts(counts: DataFrame): DataFrame = {
    val pm = counts.withColumn("maj",
      when(col("wins_lo") > col("wins_hi"), col("lo"))
        .when(col("wins_hi") > col("wins_lo"), col("hi")))
    val side = (cand: Column, self: Column, other: Column, jw: Column) =>
      struct(cand.as("cand"),
        when(col("maj") === self, 1L).otherwise(0L).as("won"),
        when(col("maj") === other, 1L).otherwise(0L).as("lost"),
        jw.as("jw"), (col("wins_lo") + col("wins_hi")).as("jn"))
    val sides = pm.select(col("prompt"), explode(array(
        side(col("lo"), col("lo"), col("hi"), col("wins_lo")),
        side(col("hi"), col("hi"), col("lo"), col("wins_hi")))).as("s"))
      .select(col("prompt"), col("s.*"))
    sides.groupBy("prompt", "cand")
      .agg((sum("won") - sum("lost")).as("copeland"),
        sum("won").as("pairs_won"), sum("lost").as("pairs_lost"),
        count(lit(1)).as("n_pairs"),
        sum("jw").as("j_wins"), sum("jn").as("n_judgments"))
      .withColumn("win_permille",
        ExactRound.halfUpDivCol(col("j_wins") * 1000L, col("n_judgments")))
      .withColumn("rnk", row_number().over(Window.partitionBy("prompt")
        .orderBy(col("copeland").desc, col("j_wins").desc, col("cand"))))
  }

  /** Global Bradley–Terry leaderboard — the arena-style strength fit
    * over a fleet-wide pairwise-eval table (model-vs-model judgments
    * pooled across prompts), where [[rankCandidates]] is the PER-PROMPT
    * tournament. Solves the BT maximum likelihood by Hunter 2004's MM
    * (minorization–maximization) iteration,
    * `p_i ← W_i / Σ_{j≠i} n_ij/(p_i+p_j)` then renormalize, recreated on
    * the exact integer grid (the doremiWeights discipline, with NO float
    * op at all this time): per-pair terms `⌊n_ij·1e12/(p_i+p_j)⌋`,
    * per-model raw `⌊W_i·1e12/max(D_i,1)⌋`, then largest-remainder
    * re-grid onto the 1e6 simplex (ties by model order) — every iterate
    * sums to exactly 1e6 in both engines and the DuckDB twin replays the
    * whole loop as a list-state recursive CTE. The fixed point is the BT
    * MLE snapped to the grid; the MM iteration's monotone-likelihood
    * guarantee is what makes a fixed small `iters` honest (each step
    * improves, nothing oscillates).
    *
    * Scale shape: ONE partial-aggregable groupBy over the games table
    * (normalized-pair counts — the [[pairCounts]] additive shape, so a
    * streaming gate can maintain it incrementally), then a ≤ m²-row
    * collect under the `maxModels` valve (a leaderboard is a
    * driver-sized sidecar by construction — the codebook contract) and
    * one broadcast join back onto the per-model aggregates. Models are
    * compared AS STRINGS throughout (sort order must match the oracle's
    * VARCHAR list ordering).
    *
    * Zero-win models keep weight only through the re-grid floor; models
    * with zero GAMES cannot appear (they are absent from the pair
    * table) — a leaderboard needs at least one game per entrant.
    *
    * Returns one row per model:
    * `(model, wins, games, strength_micro)`, Σ strength = 1e6. */
  def bradleyTerry(games: DataFrame, a: Column, b: Column, winner: Column,
      iters: Int = 20, maxModels: Int = 256): DataFrame = {
    require(iters >= 1 && iters <= 256, s"iters must be 1..256, got $iters")
    val T = BigInt(1000000000000L)
    val Scale = 1000000L
    // a self-game (a = b) has no BT meaning and would double-count in
    // the SQL twin — raise in-plan rather than silently drop
    val aChecked = when(a.cast("string") =!= b.cast("string"),
      a.cast("string")).otherwise(raise_error(concat(
      lit("bradleyTerry: self-game a = b = "), a.cast("string"))))
    val counts = pairCounts(games, lit(0), aChecked,
        b.cast("string"), winner.cast("string"))
      .select(col("lo"), col("hi"), col("wins_lo"), col("wins_hi"))
    // m²-valved sidecar collect — ONE corpus aggregation feeds it; the
    // waist shares that pass with the output join below
    val cm = Waist.cut(counts)
    val rows = cm.orderBy("lo", "hi").collect()
    require(rows.nonEmpty, "bradleyTerry: no games")
    val models = rows.flatMap(r => Seq(r.getString(0), r.getString(1)))
      .distinct.sorted
    require(models.length >= 2, "bradleyTerry: need at least two models")
    require(models.length <= maxModels,
      s"bradleyTerry: ${models.length} models exceeds maxModels=" +
        s"$maxModels — the leaderboard is a driver-sized sidecar; " +
        "raise the valve deliberately if the fleet is really this big")
    val idx = models.zipWithIndex.toMap
    val n = models.length
    case class P(i: Int, j: Int, nij: Long, wi: Long)
    val prs = rows.map { r =>
      P(idx(r.getString(0)), idx(r.getString(1)),
        r.getLong(2) + r.getLong(3), r.getLong(2))
    }
    val w = Array.fill(n)(BigInt(0))
    prs.foreach { p => w(p.i) += p.wi; w(p.j) += p.nij - p.wi }
    def ranksOf(rem: Array[BigInt]): Array[Int] =
      Array.tabulate(n)(i => (0 until n).count(j =>
        rem(j) > rem(i) || (rem(j) == rem(i) && j < i)))
    def regrid(vals: Array[BigInt]): Array[BigInt] = {
      val s = vals.sum.max(BigInt(1))
      val scaled = vals.map(_ * Scale)
      val base = scaled.map(_ / s)
      val rk = ranksOf(scaled.map(_ % s))
      val left = (BigInt(Scale) - base.sum).toInt
      Array.tabulate(n)(i => base(i) + (if (rk(i) < left) 1 else 0))
    }
    var p = regrid(Array.fill(n)(BigInt(1)))
    for (_ <- 1 to iters) {
      val d = Array.fill(n)(BigInt(0))
      prs.foreach { pr =>
        val t = BigInt(pr.nij) * T / (p(pr.i) + p(pr.j))
        d(pr.i) += t; d(pr.j) += t
      }
      p = regrid(Array.tabulate(n)(i => w(i) * T / d(i).max(BigInt(1))))
    }
    val spark = games.sparkSession
    import spark.implicits._
    val strengths = models.indices
      .map(i => (models(i), p(i).toLong))
      .toDF("model", "strength_micro")
    val sides = cm.select(explode(array(
        struct(col("lo").as("model"), col("wins_lo").as("w"),
          (col("wins_lo") + col("wins_hi")).as("g")),
        struct(col("hi").as("model"), col("wins_hi").as("w"),
          (col("wins_lo") + col("wins_hi")).as("g")))).as("s"))
      .select(col("s.*"))
      .groupBy("model")
      .agg(sum("w").as("wins"), sum("g").as("games"))
    sides.join(broadcast(strengths), Seq("model"))
  }

  /** DuckDB twin of [[bradleyTerry]]: `gamesSql` must yield columns
    * `ga, gb, winner` (any castable types). Replays the pair-count
    * aggregation, the HUGEINT MM terms and the largest-remainder re-grid
    * as a list-state recursive CTE (the doremi/FFD discipline). */
  def bradleyTerrySql(gamesSql: String, iters: Int = 20): String = {
    def rankOf(rem: String): String =
      s"""list_transform(range(1, c.n + 1), i ->
         len(list_filter(range(1, c.n + 1), j ->
           $rem[j] > $rem[i] OR ($rem[j] = $rem[i] AND j < i))))"""
    s"""WITH RECURSIVE g0 AS ($gamesSql),
       g1 AS (SELECT least(ga::VARCHAR, gb::VARCHAR) AS lo,
           greatest(ga::VARCHAR, gb::VARCHAR) AS hi, winner::VARCHAR AS wn
         FROM g0),
       cnt AS (SELECT lo, hi,
           CAST(sum(CASE WHEN wn = lo THEN 1 ELSE 0 END) AS BIGINT)
             AS wlo,
           CAST(sum(CASE WHEN wn = hi THEN 1 ELSE 0 END) AS BIGINT)
             AS whi
         FROM g1 GROUP BY 1, 2),
       c AS (SELECT list(m ORDER BY m) AS ms, count(*)::INTEGER AS n
         FROM (SELECT DISTINCT lo AS m FROM cnt
               UNION SELECT DISTINCT hi FROM cnt)),
       pr AS (SELECT list(struct_pack(
             i := list_position(c.ms, lo), j := list_position(c.ms, hi),
             nij := (wlo + whi)::HUGEINT, wlo := wlo::HUGEINT)) AS prs
         FROM cnt CROSS JOIN c),
       wv AS (SELECT list_transform(range(1, c.n + 1), i ->
             list_sum(list_transform(p.prs, s ->
               CASE WHEN s.i = i THEN s.wlo
                    WHEN s.j = i THEN s.nij - s.wlo
                    ELSE 0::HUGEINT END))) AS w
         FROM c CROSS JOIN pr p),
       useed AS (SELECT
           list_transform(range(1, c.n + 1), i ->
             (1000000 // c.n +
              CASE WHEN i <= 1000000 % c.n THEN 1 ELSE 0 END)::HUGEINT)
             AS u
         FROM c),
       mm AS (
         SELECT 0 AS t, u AS p FROM useed
         UNION ALL
         SELECT e.t + 1, z4.p2
         FROM mm e
         CROSS JOIN c CROSS JOIN pr CROSS JOIN wv
         CROSS JOIN LATERAL (SELECT
           list_transform(range(1, c.n + 1), i ->
             list_sum(list_transform(pr.prs, s ->
               CASE WHEN s.i = i OR s.j = i
                 THEN (s.nij * 1000000000000) // (e.p[s.i] + e.p[s.j])
                 ELSE 0::HUGEINT END))) AS d) z1
         CROSS JOIN LATERAL (SELECT
           list_transform(range(1, c.n + 1), i ->
             (wv.w[i] * 1000000000000) // greatest(z1.d[i], 1)) AS raw) z2
         CROSS JOIN LATERAL (SELECT
           greatest(list_sum(z2.raw), 1) AS s2) z2b
         CROSS JOIN LATERAL (SELECT
           list_transform(z2.raw, x -> (x * 1000000) // z2b.s2) AS b1,
           list_transform(z2.raw, x -> (x * 1000000) % z2b.s2) AS r1) z3
         CROSS JOIN LATERAL (SELECT
           1000000 - list_sum(z3.b1) AS l1, ${rankOf("z3.r1")} AS k1) z3b
         CROSS JOIN LATERAL (SELECT
           list_transform(z3.b1, (b, i) ->
             b + CASE WHEN z3b.k1[i] < z3b.l1 THEN 1 ELSE 0 END) AS p2) z4
         WHERE e.t < $iters),
       agg AS (SELECT m AS model,
           CAST(sum(wm) AS BIGINT) AS wins,
           CAST(sum(nm) AS BIGINT) AS games
         FROM (SELECT lo AS m, wlo AS wm, wlo + whi AS nm FROM cnt
               UNION ALL SELECT hi, whi, wlo + whi FROM cnt)
         GROUP BY 1)
       SELECT a.model, a.wins, a.games,
         CAST(f.p[list_position(c.ms, a.model)] AS BIGINT)
           AS strength_micro
       FROM agg a CROSS JOIN c CROSS JOIN (SELECT p FROM mm
         WHERE t = $iters) f"""
  }
}
