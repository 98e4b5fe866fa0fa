package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths, matching the 100 TB design brief:
  *  - brute-force cosine top-k: one codegen'd map stage + TakeOrderedAndProject
  *    (per-partition heaps, no global sort). The correctness baseline.
  *  - sign-LSH bucketed top-k: random-hyperplane-style bucket (sign bits of
  *    leading dimensions) prunes candidates before the cosine evaluation —
  *    the shape that survives when the table is billions of vectors: bucket
  *    is a cheap map-side key, candidate evaluation touches only the query's
  *    bucket (partition-prunable if the table is written bucketed/partitioned
  *    by this key).
  *
  * All vector math is array-lambda expression composition (`zip_with` +
  * `aggregate` fold in index order) — deterministic summation order, which
  * keeps results reproducible and oracle-comparable; no UDFs, stays in
  * whole-stage codegen.
  */
object Similarity {

  /** Cast float array to double for exact, portable arithmetic. */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product, sequential index-order fold. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** DuckDB twin of [[cosine]] over float-list columns (oracle use). */
  def cosineSql(a: String, b: String): String = {
    def d(x: String, y: String) =
      s"list_sum(list_transform(generate_series(1, len($x)), i -> $x[i]::DOUBLE * $y[i]::DOUBLE))"
    s"${d(a, b)} / (sqrt(${d(a, a)}) * sqrt(${d(b, b)}))"
  }

  // ---- embedding preprocessing (the normalize/center/truncate steps
  // SemDeDup- and MRL-style serving stacks run before any index sees a
  // vector) ----------------------------------------------------------------

  /** L2 normalization onto the unit sphere (double output) — SemDeDup's
    * preprocessing contract (cosine ≡ dot product afterwards). The norm is
    * LET-BOUND via the one-element outer transform (the repo's documented
    * HOF trap: as a free expression inside the lambda it would re-reduce
    * the whole vector per ELEMENT, O(d²)/row). Zero vectors stay zero. */
  def l2Normalize(v: Column): Column =
    element_at(transform(array(norm(asDouble(v))), n =>
      when(n === 0.0, asDouble(v))
        .otherwise(transform(v, x => x.cast("double") / n))), 1)

  /** DuckDB twin of [[l2Normalize]]. */
  def l2NormalizeSql(col: String): String = {
    val n = s"sqrt(list_sum(list_transform($col, x -> x::DOUBLE * x::DOUBLE)))"
    s"CASE WHEN $n = 0 THEN list_transform($col, x -> x::DOUBLE) " +
      s"ELSE list_transform($col, x -> x::DOUBLE / $n) END"
  }

  /** Per-dimension corpus mean — the centering vector, collected to the
    * driver (d doubles — driver-sized by definition) for broadcast
    * subtraction in [[center]]. One explode + per-dimension avg. */
  def meanVector(df: DataFrame, vec: Column): Array[Double] =
    df.select(posexplode(asDouble(vec)).as(Seq("__p", "__x")))
      .groupBy("__p").agg(avg("__x").as("__m"))
      .orderBy("__p").collect().map(_.getDouble(1))

  /** Mean-centering against a precomputed [[meanVector]] (broadcast as a
    * literal array): removes the corpus-wide offset that makes every
    * cosine look alike in anisotropic embedding spaces. */
  def center(vec: Column, mean: Array[Double]): Column =
    zip_with(asDouble(vec), array(mean.map(lit): _*), (x, m) => x - m)

  /** Matryoshka-style dimension truncation: keep the leading `d`
    * dimensions and re-normalize — the cheap-serving trade MRL-trained
    * embeddings support (a prefix IS a valid embedding). Output is the
    * unit-normalized double prefix. */
  def truncateDims(vec: Column, d: Int): Column = {
    require(d >= 1, s"d must be >= 1, got $d")
    l2Normalize(slice(vec, 1, d))
  }

  def truncateDimsSql(col: String, d: Int): String =
    l2NormalizeSql(s"($col[1:$d])")

  /** Sign-LSH bucket: bit i set iff dimension i+1 is non-negative. A fixed
    * projection basis (the leading `bits` axes) keeps it deterministic and
    * engine-portable; swap in a seeded random basis for production skew
    * resistance. */
  def signBucket(v: Column, bits: Int): Column =
    (0 until bits)
      .map(i => when(element_at(v, i + 1) >= 0f, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)

  def signBucketSql(col: String, bits: Int): String =
    s"""list_sum(list_transform(generate_series(1, $bits),
       | i -> CASE WHEN $col[i] >= 0 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END))::BIGINT""".stripMargin

  /** Cosine via the native codegen'd [[graft.functions.CosineSimilarity]]
    * expression — one fused zero-allocation loop per row, bit-identical to
    * [[cosine]] (same summation order and final form). Inputs must be raw
    * `array<float>` columns. */
  def cosineNative(df: DataFrame, a: Column, b: Column): Column = {
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    call_function("cosine_sim", a, b)
  }

  /** Brute-force cosine top-k of `df` rows against the single-row `query`
    * (joined via broadcast cross join). `native=true` uses the fused codegen
    * expression; false the composable array-lambda form. */
  def bruteForceTopK(df: DataFrame, id: Column, vec: Column, query: DataFrame,
      queryVec: Column, k: Int, native: Boolean = true): DataFrame = {
    val joined = df.crossJoin(broadcast(query.select(queryVec.as("__q"))))
    val cos =
      if (native) cosineNative(df, vec, col("__q"))
      else cosine(asDouble(vec), asDouble(col("__q")))
    joined.select(id.as("id"), cos.as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }

  /** Hard-negative mining for contrastive training: for each ANCHOR, the
    * k most-similar corpus vectors whose metadata `group` (source/domain/
    * near-dup cluster…) DIFFERS from the anchor's — "looks like the
    * anchor, provably isn't it", the pairs a retrieval/embedding trainer
    * wants. The anchor batch is driver-sized by contract (same as
    * [[ivfTopKBatch]]) and BROADCASTS; one corpus scan computes the fused
    * codegen cosine per (row, anchor) surviving the group-mismatch filter
    * (applied BEFORE ranking, so same-group rows never compete), then a
    * per-anchor rank. Anchors are FEW, so the rank would be the hot-group
    * failure mode as a bare window — but the `row_number ≤ k` filter
    * two-phases under InferWindowGroupLimit (PlanSpec-pinned on q164,
    * same mechanism as `sampleKPerGroup`): a Partial map-side top-k below
    * the exchange means each anchor ships k × nMapTasks rows to its
    * reducer, never the scored corpus. Self-pairs drop via the group
    * rule. Swap the corpus for a probed IVF candidate set to bound the
    * scan at serving time; brute over the full corpus is the mining-job
    * shape (one pass, k·|anchors| rows out). Returns (anchor, id, cos, rk).
    *
    * NULL rule: rows (and anchors) with a NULL `group` are EXCLUDED from
    * mining — a hard negative must PROVABLY differ from the anchor, and an
    * unknown group proves nothing; this also makes the Spark filter and
    * the oracle's SQL `<>` (which drops NULL comparisons) agree by
    * construction instead of diverging the day group metadata goes NULL. */
  def hardNegatives(df: DataFrame, id: Column, vec: Column, group: Column,
      anchors: DataFrame, aId: Column, aVec: Column, aGroup: Column,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val a = broadcast(anchors.select(aId.as("anchor"), aVec.as("__avec"),
      aGroup.as("__ag")).filter(col("__ag").isNotNull))
    df.select(id.as("id"), vec.as("__v"), group.as("__g"))
      .filter(col("__g").isNotNull)
      .crossJoin(a)
      .filter(col("__g") =!= col("__ag"))
      .withColumn("cos", cosineNative(df, col("__v"), col("__avec")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("anchor"))
          .orderBy(col("cos").desc, col("id"))))
      .filter(col("rk") <= k)
      .select(col("anchor"), col("id"), col("cos"), col("rk"))
  }

  /** Margin-based CROSS-CORPUS nearest-neighbor mining — the bitext-mining
    * score (Artetxe & Schwenk 2019's ratio margin, the LASER/CCMatrix
    * recipe): for every source vector, its best target neighbor scored by
    * cos(x, y) normalized by the MEAN of both sides' k-NN cosines, so a
    * pair only scores high when x and y are closer to each other than to
    * their respective neighborhoods — raw-cosine thresholds can't separate
    * a translation pair from a dense region, the margin can. Emits one row
    * per source vector's best target: `(sid, tid, cos_micro,
    * margin_permille, mutual)` with `mutual` = x is ALSO y's best source
    * (the high-precision filter a parallel-corpus builder keeps).
    *
    * Exactness: every pair cosine is quantized to the 1e-6 integer grid at
    * birth (`round(cos·1e6)` — the q274 discipline; the cosine itself is
    * bit-identical cross-engine by [[cosine]]'s fixed fold order), and the
    * margin is the exact integer permille
    * `halfUp(2000·cm·ks·kt / (Σnn_src·kt + Σnn_tgt·ks))` — signed via the
    * [[ExactRound.ratioRoundedSigned]] mirror, NULL (dropped) on a
    * nonpositive neighborhood sum. No float ratio crosses the engine
    * boundary.
    *
    * Scale shape: this is the PER-SHARD-PAIR KERNEL, deliberately brute —
    * chunked global mining (the CCMatrix recipe) partitions both corpora
    * into bounded shards and runs one kernel per (src-shard, tgt-shard)
    * pair, embarrassingly parallel with CONSTANT per-kernel cost; inside
    * the kernel the per-side top-k ranks two-phase under
    * InferWindowGroupLimit (map-side partial top-k below each exchange —
    * reducers see k·nMapTasks rows per key, never the pair table; the
    * [[hardNegatives]] mechanism). Never feed it unbounded sides: at 10×
    * data the kernel itself is 100× (measured 9 → 1090 cpu-s sf0.1 →
    * sf1.0 unsharded) — shard first, or bound candidates with
    * [[marginMineFromCentroids]] / [[marginMineFromIndex]] (the
    * q48-brute / q57-IVF contract). The `maxPairs` VALVE enforces the
    * shard contract at runtime (the maxWaves discipline — a scaladoc
    * alone guarded this until r17): both sides are counted before the
    * cross join and a kernel bigger than `maxPairs` raises a typed
    * error instead of silently burning a quadratic; raise it explicitly
    * for a deliberately larger kernel. The two valve `count()` jobs are
    * real actions — in the documented shard-loop usage that is
    * 2·nShards extra jobs over sides the loop usually already sized
    * (r17 verdict), so a caller that KNOWS both cardinalities passes
    * them via `knownCounts` and the valve checks arithmetic only; the
    * counts are trusted verbatim (a lying caller un-valves itself, the
    * raise-maxPairs escape hatch with fewer letters). */
  def marginMine(src: DataFrame, srcId: Column, srcVec: Column,
      tgt: DataFrame, tgtId: Column, tgtVec: Column, k: Int,
      minMarginPermille: Long = 0L, maxPairs: Long = 64000000L,
      knownCounts: Option[(Long, Long)] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxPairs >= 1L, s"maxPairs must be >= 1, got $maxPairs")
    val a = src.select(srcId.as("sid"), srcVec.as("__sv"))
    val b = tgt.select(tgtId.as("tid"), tgtVec.as("__tv"))
    val (nS, nT) = knownCounts.getOrElse((a.count(), b.count()))
    if (nT > 0L && nS > maxPairs / nT)
      throw new graft.core.BadCallException(
        s"marginMine: $nS x $nT sides form " +
          s"${BigInt(nS) * BigInt(nT)} candidate pairs, over the " +
          s"$maxPairs-pair kernel valve — this " +
          "is the PER-SHARD-PAIR kernel (measured 100x cpu at 10x data " +
          "unsharded); shard both sides first, mine via " +
          "marginMineFromCentroids/marginMineFromIndex, or raise maxPairs " +
          "for a deliberately larger kernel")
    val crossed = a.crossJoin(b)
    val pairs = crossed.select(col("sid"), col("tid"),
      round(cosineNative(crossed, col("__sv"), col("__tv")) * lit(1e6))
        .cast("long").as("cm"))
    marginFromPairs(pairs, k, minMarginPermille)
  }

  /** The margin-scoring TAIL shared by [[marginMine]] and the two
    * index-bounded miners: per-side top-k neighborhoods, exact integer
    * permille margin, mutual-best flag — over whatever candidate pair
    * frame (`sid`, `tid`, `cm`) the caller bounded. One (sid, tid) row
    * per candidate pair is the input contract. */
  private def marginFromPairs(pairs: DataFrame, k: Int,
      minMarginPermille: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = Window.partitionBy("sid").orderBy(col("cm").desc, col("tid"))
    val wt = Window.partitionBy("tid").orderBy(col("cm").desc, col("sid"))
    val rs = pairs.withColumn("__r", row_number().over(ws))
      .filter(col("__r") <= k)
    val rt = pairs.withColumn("__r", row_number().over(wt))
      .filter(col("__r") <= k)
    val sumS = rs.groupBy("sid")
      .agg(sum("cm").as("__ss"), count(lit(1)).as("__ks"))
    val sumT = rt.groupBy("tid")
      .agg(sum("cm").as("__st"), count(lit(1)).as("__kt"))
    val bestS = rs.filter(col("__r") === 1)
      .select(col("sid"), col("tid"), col("cm"))
    val bestT = rt.filter(col("__r") === 1)
      .select(col("tid").as("__bt"), col("sid").as("__bs"))
    val num = col("cm") * lit(2000L) * col("__ks") * col("__kt")
    val den = col("__ss") * col("__kt") + col("__st") * col("__ks")
    val margin = when(den <= 0L, lit(null).cast("long"))
      .otherwise(when(num >= 0L, ExactRound.halfUpDivCol(num, den))
        .otherwise(-ExactRound.halfUpDivCol(-num, den)))
    bestS.join(sumS, "sid").join(sumT, "tid")
      .join(bestT, col("tid") === col("__bt"), "left")
      .select(col("sid"), col("tid"), col("cm").as("cos_micro"),
        margin.as("margin_permille"),
        coalesce(col("__bs") === col("sid"), lit(false)).as("mutual"))
      .filter(col("margin_permille") >= minMarginPermille)
  }

  /** Top-`nProbe` centroid ids for a vector, as one codegen'd projection
    * over centroid LITERALS (no join, no shuffle): sort (−cos, cid)
    * structs, slice nProbe, extract cids — ties break to the LOWEST cid
    * (the [[assignCentroids]] total order, which a DuckDB rank window
    * `ORDER BY cos DESC, cid` replays verbatim). */
  private def probeExpr(df: DataFrame, cents: Seq[(Long, Array[Float])],
      vec: Column, nProbe: Int): Column =
    transform(slice(sort_array(array(cents.toIndexedSeq.map {
      case (cid, cv) =>
        struct((-cosineNative(df, vec, typedlit(cv))).as("nc"),
          lit(cid).as("cid")) }: _*)), 1, nProbe),
      s => s.getField("cid"))

  /** INDEX-BOUNDED margin mining over explicit centroid buckets — the
    * form that replaces [[marginMine]]'s shard loop with ONE distributed
    * pass at corpus scale (the CCMatrix recipe's coarse quantizer):
    * every target vector lives in its nearest-centroid bucket
    * ([[assignCentroids]]'s argmax, ties to the lowest cid), every
    * source vector probes its `nProbe` nearest buckets, and candidate
    * pairs are exactly the (src, tgt) sharing a probed bucket — an EQUI
    * join on the centroid id, never a cross join. The margin arithmetic
    * ([[marginFromPairs]]) is unchanged; neighborhoods are computed over
    * the CANDIDATE set, so margins carry the standard IVF approximation
    * contract: a true neighbor in an unprobed bucket is missed, and
    * recall vs the brute kernel tracks the probe fraction (q294 pins the
    * planted mutual pairs land identically in both forms).
    *
    * Scale shape: probe assignment is a per-row projection over centroid
    * literals (centroid tables are driver-sized by the [[kmeansCentroids]]
    * contract); the candidate join hashes on the centroid id with
    * src exploded ×nProbe; the per-side top-k two-phases under
    * InferWindowGroupLimit exactly as in the brute kernel. Candidate
    * volume is Σ_buckets |src probes to b| × |tgt in b| — bounded by
    * bucket occupancy, never |src|×|tgt|. */
  def marginMineFromCentroids(src: DataFrame, srcId: Column,
      srcVec: Column, tgt: DataFrame, tgtId: Column, tgtVec: Column,
      cents: Seq[(Long, Array[Float])], nProbe: Int, k: Int,
      minMarginPermille: Long = 0L): DataFrame = {
    require(cents.nonEmpty, "marginMineFromCentroids needs >= 1 centroid")
    require(nProbe >= 1 && nProbe <= cents.size,
      s"nProbe must be in [1, ${cents.size}], got $nProbe")
    require(k >= 1, s"k must be >= 1, got $k")
    val a = src.select(srcId.as("sid"), srcVec.as("__sv"))
    val probed = a.withColumn("__cid",
      explode(probeExpr(a, cents, col("__sv"), nProbe)))
    val b = tgt.select(tgtId.as("tid"), tgtVec.as("__tv"))
    val assigned = b.withColumn("__tcid",
      element_at(probeExpr(b, cents, col("__tv"), 1), 1))
    // one row per (sid, tid): tgt has exactly one bucket and src's
    // probes are distinct cids, so the equi join cannot duplicate a pair
    val joined = probed.join(assigned, col("__cid") === col("__tcid"))
    val pairs = joined.select(col("sid"), col("tid"),
      round(cosineNative(joined, col("__sv"), col("__tv")) * lit(1e6))
        .cast("long").as("cm"))
    marginFromPairs(pairs, k, minMarginPermille)
  }

  /** SERVING-SCALE margin mining against a persisted
    * [[ivfWritePartitioned]] index — [[marginMineFromCentroids]] with the
    * target side already bucketed ON DISK: the source corpus probes the
    * index's centroids (a projection over the driver-sized centroid
    * sidecar), the scan filters to the UNION of all probed lists — a
    * literal `cluster IN (...)` over the hive layout, so PARTITION
    * PRUNING opens only those lists' files (PlanSpec-pinned) — and
    * candidates hash-join on the cluster id. At 100 TB the unprobed
    * lists' bytes are never read; mining cost tracks
    * `nProbe/nCentroids × index`, the [[hardNegativesFromIndex]]
    * economics, with the margin arithmetic unchanged.
    *
    * Unlike [[hardNegativesFromIndex]]'s anchor batch, the SOURCE side
    * here is data-sized — nothing collects but the centroid sidecar and
    * the distinct probed-cluster set (≤ nCentroids longs, needed as
    * literals for the pruning filter). Quantized indexes are detected by
    * schema and scored via [[dequant]]; the index's stored `cluster`
    * column IS the target assignment ([[ivfWritePartitioned]]'s argmax —
    * its exact-tie rule differs from the probe's lowest-cid order only
    * on exact cosine ties between centroids). Returns the [[marginMine]]
    * shape. */
  def marginMineFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, src: DataFrame, srcId: Column, srcVec: Column,
      nProbe: Int, k: Int, minMarginPermille: Long = 0L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val cents = spark.read.parquet(s"$path.centroids")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    require(cents.nonEmpty, s"marginMineFromIndex: no centroids at $path.centroids")
    ivfReadManifest(spark, path).foreach { m =>
      val nc = m.path("nCentroids").asInt()
      if (nProbe > nc) throw new graft.core.BadCallException(
        s"nProbe=$nProbe exceeds the index's $nc inverted lists")
    }
    val a = src.select(srcId.as("sid"), srcVec.as("__sv"))
    val probed = a.withColumn("__cid",
      explode(probeExpr(a, cents, col("__sv"), nProbe)))
    // the distinct probed clusters (≤ nCentroids — driver-sized) become
    // the LITERAL pruning filter; without literals the hive layout
    // cannot prune at plan time
    val clusters = probed.select("__cid").distinct()
      .collect().map(_.getLong(0)).toSeq
    val table = spark.read.parquet(path)
    val cand = table.filter(col("cluster").isin(clusters: _*))
      .join(probed, col("cluster") === col("__cid"))
    val cos =
      if (table.columns.contains("qvec"))
        cosine(dequant(col("qvec"), col("qscale")), asDouble(col("__sv")))
      else cosineNative(table, col("v"), col("__sv"))
    val pairs = cand.select(col("sid"), col("id").as("tid"),
      round(cos * lit(1e6)).cast("long").as("cm"))
    marginFromPairs(pairs, k, minMarginPermille)
  }

  /** Retrieval-quality EVALUATION table — the metrics every ANN/BM25/RRF
    * stack is tuned against, computed exactly: for each query, the top-k
    * retrieved list is scored against a gold `truth` set, emitting
    * `(qid, n_truth, hits, recall_permille, precision_permille,
    * first_hit_rank, rr_micro)` — recall@k and precision@k on the half-up
    * permille grid, reciprocal rank as `halfUp(10^6 / first_hit_rank)`
    * (NULL when nothing hits), so a suite-level MRR is
    * `halfUpDiv(sum(rr_micro), n_queries)` — integer end to end, no float
    * mean of reciprocals crosses the engine boundary.
    *
    * `retrieved` must carry (`qid`, `id`, `rk`) with `rk` a 1-based dense
    * rank per query (what [[bruteForceTopK]]-style rankers emit); rows
    * with `rk > k` are ignored, so callers can pass a deeper list and
    * sweep k. `truth` carries (`qid`, `id`) gold pairs. Queries with an
    * EMPTY truth set report NULL recall (0/0 — unknowable, not perfect),
    * distinct from 0 (retrieved all misses). The per-query frame seeds
    * from the UNION of qids in `retrieved` and `truth`: a query whose
    * ranker returned NOTHING within rank k (possible with IVF/pruned
    * rankers on empty probe sets) still emits its `hits = 0` /
    * NULL-rank row — dropping it would silently inflate the suite MRR
    * `halfUpDiv(sum(rr_micro), n_queries)` by exactly the
    * worst-performing queries.
    *
    * Scale shape: one hash join of the rank-bounded retrieved list
    * against the gold pairs on (qid, id) + one partial-aggregable groupBy
    * per side; nothing scales beyond |retrieved| + |truth|. */
  def retrievalEval(retrieved: DataFrame, rQid: Column, rId: Column,
      rk: Column, truth: DataFrame, tQid: Column, tId: Column,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val r = retrieved.select(rQid.as("qid"), rId.as("__id"),
        rk.cast("long").as("__rk"))
      .filter(col("__rk") <= k)
    val t = truth.select(tQid.as("qid"), tId.as("__id"))
    val nTruth = t.groupBy("qid").agg(count(lit(1)).as("n_truth"))
    val hits = r.join(t, Seq("qid", "__id"))
    val perQ = r.select("qid").unionByName(t.select("qid")).distinct()
      .join(hits.groupBy("qid").agg(count(lit(1)).as("hits"),
        min("__rk").as("first_hit_rank")), Seq("qid"), "left")
      .join(nTruth, Seq("qid"), "left")
    perQ.select(col("qid"),
      coalesce(col("n_truth"), lit(0L)).as("n_truth"),
      coalesce(col("hits"), lit(0L)).as("hits"),
      ExactRound.halfUpDivCol(coalesce(col("hits"), lit(0L)) * 1000L,
        coalesce(col("n_truth"), lit(0L))).as("recall_permille"),
      ExactRound.halfUpDivCol(coalesce(col("hits"), lit(0L)) * 1000L,
        lit(k.toLong)).as("precision_permille"),
      col("first_hit_rank"),
      ExactRound.halfUpDivCol(lit(1000000L), col("first_hit_rank"))
        .as("rr_micro"))
  }

  /** Serving-scale hard-negative mining — the IVF-bounded variant the
    * [[hardNegatives]] scaladoc promises: mine from an index written by
    * [[ivfWritePartitioned]] so the scan covers only the anchors' probed
    * inverted lists, and mining cost tracks `nProbe/nCentroids × corpus`
    * instead of the corpus. At 100 TB this is the difference between a
    * full-corpus pass per mining job and opening a handful of list files:
    * the probe filter `cluster IN (union of per-anchor probe sets)` is
    * PARTITION PRUNING on the hive layout (PlanSpec-pinned), the anchor
    * batch (driver-sized by the same contract as [[ivfTopKBatch]])
    * broadcast-joins on list membership, and the per-anchor `row_number
    * ≤ k` two-phases exactly like the brute miner.
    *
    * The index stores no group metadata, so the caller supplies it as a
    * `(id, group)` frame joined AFTER pruning — the join input is the
    * candidate set, not the corpus. Same NULL rule as [[hardNegatives]]:
    * NULL-group rows and anchors are excluded (a hard negative must
    * provably differ). Approximation contract, same as every IVF path: a
    * true negative in an unprobed list is missed; recall vs the brute
    * miner tracks the probe fraction and is what q170 pins. Quantized
    * indexes are detected by schema and scored via [[dequant]].
    * Returns (anchor, id, cos, rk). */
  def hardNegativesFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, groups: DataFrame, gId: Column, gGroup: Column,
      anchors: DataFrame, aId: Column, aVec: Column, aGroup: Column,
      nProbe: Int, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    import org.apache.spark.sql.expressions.Window
    val cents = spark.read.parquet(s"$path.centroids")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    ivfReadManifest(spark, path).foreach { m =>
      val nc = m.path("nCentroids").asInt()
      if (nProbe > nc) throw new graft.core.BadCallException(
        s"nProbe=$nProbe exceeds the index's $nc inverted lists")
    }
    // group compares as string on both sides (a driver-portable common type)
    val arows = anchors.select(aId.cast("long").as("anchor"), aVec.as("av"),
        aGroup.cast("string").as("ag")).filter(col("ag").isNotNull)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray,
        r.getString(2)))
    require(arows.nonEmpty, "hardNegativesFromIndex: empty anchor batch")
    val probed = arows.map { case (aid, av, ag) =>
      (aid, av, ag, nearestCentroids(cents, av, nProbe)) }
    val allProbed = probed.flatMap(_._4).distinct.toSeq
    import spark.implicits._
    val adf = broadcast(probed.toSeq.toDF("anchor", "av", "ag", "probes"))
    val table = spark.read.parquet(path)
    val cand = table.filter(col("cluster").isin(allProbed: _*))
      .join(adf, array_contains(col("probes"), col("cluster")))
    val cos =
      if (table.columns.contains("qvec"))
        cosine(dequant(col("qvec"), col("qscale")), asDouble(col("av")))
      else cosineNative(table, col("v"), col("av"))
    cand
      .join(groups.select(gId.cast("long").as("id"),
        gGroup.cast("string").as("__g")).filter(col("__g").isNotNull), "id")
      .filter(col("__g") =!= col("ag"))
      .select(col("anchor"), col("id"), cos.as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("anchor"))
          .orderBy(col("cos").desc, col("id"))))
      .filter(col("rk") <= k)
      .select(col("anchor"), col("id"), col("cos"), col("rk"))
  }

  /** Scalar int8 quantization of an embedding column: adds a per-vector
    * `qscale` (max|x| / 127) and `qvec` (`array<tinyint>` codes) — the 4×
    * storage/shuffle shrink that makes 100 TB ANN serving fit executor
    * memory, at the cost of bounded per-element error ≤ scale/2. Rounding
    * is `floor(x/scale + 0.5)` IN SO MANY WORDS: round-half-up has one
    * portable definition, where "round" is half-even in some engines and
    * half-away in others — the codes are persisted data, so their
    * construction must be engine-reproducible. An all-zero vector keeps
    * scale 0 and all-zero codes (guarded division). */
  def quantizeInt8(df: DataFrame, vec: Column): DataFrame = {
    val scale = (array_max(transform(vec, x => abs(x))).cast("double") / 127.0)
    df.withColumn("qscale", scale)
      .withColumn("qvec", transform(vec, x =>
        when(col("qscale") === 0.0, lit(0))
          .otherwise(floor(x.cast("double") / col("qscale") + 0.5))
          .cast("tinyint")))
  }

  /** Dequantized double vector from int8 codes: `q_i * scale`. */
  def dequant(qvec: Column, qscale: Column): Column =
    transform(qvec, q => q.cast("double") * qscale)

  /** Brute-force top-k over QUANTIZED vectors: cosine on the dequantized
    * codes (a codegen'd lambda — the fp32 originals never load). Serving
    * from codes is the point: the scan reads ~1/4 the bytes. Recall loss
    * is data-dependent; measure with [[recallAtK]] before trusting a
    * budget (q141 pins the bound on the synthetic corpus). */
  def quantizedBruteTopK(df: DataFrame, id: Column, qvec: Column,
      qscale: Column, query: DataFrame, queryVec: Column, k: Int): DataFrame = {
    val joined = df.crossJoin(broadcast(query.select(queryVec.as("__q"))))
    joined.select(id.as("id"),
        cosine(dequant(qvec, qscale), asDouble(col("__q"))).as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }

  /** Sign-LSH bucketed top-k: evaluate cosine only inside the query's bucket. */
  def lshTopK(df: DataFrame, id: Column, vec: Column, query: DataFrame,
      queryVec: Column, bits: Int, k: Int, native: Boolean = true): DataFrame = {
    val joined = df.withColumn("__bucket", signBucket(vec, bits))
      .crossJoin(broadcast(query.select(queryVec.as("__q"),
        signBucket(queryVec, bits).as("__qbucket"))))
      .filter(col("__bucket") === col("__qbucket"))
    val cos =
      if (native) cosineNative(df, vec, col("__q"))
      else cosine(asDouble(vec), asDouble(col("__q")))
    joined.select(id.as("id"), cos.as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }

  /** Recall@k of an approximate top-k result against the exact one: the
    * fraction of true top-k ids the ANN surfaced. BOTH inputs are expected
    * in the `(id, cos)` shape every topK operator here returns — at most k
    * rows each, so the id sets are collected and compared on the driver
    * (one action per input, no join, no double evaluation of the exact
    * plan). An empty truth set means recall is vacuously 1.0 (never NaN).
    * The tuning metric for bits/probes/centroids — an ANN path without a
    * recall measurement can't be trusted after any parameter change. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): Double = {
    val truth = exact.limit(k).select(col("id")).collect().map(_.get(0)).toSet
    if (truth.isEmpty) return 1.0
    val hits = approx.limit(k).select(col("id")).collect().map(_.get(0)).toSet
    truth.intersect(hits).size.toDouble / truth.size
  }

  /** Deterministic hash-ordered centroid sample: one TakeOrdered pass, no
    * count()/stride scan. Driver-sized by design (nCentroids ~ √n is
    * thousands even at 100 TB). */
  private def sampleCentroids(df: DataFrame, id: Column, vec: Column,
      nCentroids: Int): Array[(Long, Array[Float])] = {
    val cents = df.select(id.cast("long").as("cid"), vec.as("cvec"))
      .orderBy(xxhash64(col("cid")), col("cid")).limit(nCentroids)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    require(cents.nonEmpty, "ivf: input has no vectors to sample centroids from")
    cents
  }

  /** Lloyd-refined centroids (spherical k-means): seeded from the
    * deterministic hash sample, then `iters` rounds of
    * assign-to-nearest-by-cosine → per-cluster mean. Each round is ONE
    * DataFrame aggregation: assignment is the same zero-shuffle argmax
    * projection the probe path uses, and the update is a groupBy(cluster)
    * with d partial-aggregated element sums — the shuffle carries only
    * nCentroids × (d+1) doubles, never vectors. Centroid means need no
    * normalization: cosine is scale-invariant in the centroid argument, so
    * the mean's direction is all that matters (spherical k-means).
    * Empty clusters keep their previous centroid; early-exits when no
    * centroid moves more than 1e-9 per element. Driver holds only the
    * centroid table (driver-sized by design, like [[sampleCentroids]]). */
  private[graft] def kmeansCentroids(df: DataFrame, id: Column, vec: Column,
      nCentroids: Int, iters: Int): Array[(Long, Array[Float])] = {
    // re-id 0..C-1: stable, independent of which rows seeded the sample
    var cents = sampleCentroids(df, id, vec, nCentroids)
      .zipWithIndex.map { case ((_, cv), i) => (i.toLong, cv) }
    val dim = cents(0)._2.length
    // one source scan for the whole training loop: every Lloyd round reads
    // the persisted vector column, not the parquet files again (at full
    // scale MEMORY_AND_DISK spills rather than OOMs; training on a sampled
    // subset is the standard IVF practice if even that is too big)
    val vecs = df.select(vec.as("__v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    var it = 0
    var moved = true
    while (it < iters && moved) {
      val aggs = count(lit(1)).cast("double").as("__n") +:
        (0 until dim).map(i =>
          sum(element_at(col("__v"), i + 1).cast("double")).as(s"__s$i"))
      val rows = vecs
        .withColumn("__c", assignExpr(vecs, cents, col("__v")))
        .groupBy("__c").agg(aggs.head, aggs.tail: _*)
        .collect()
      val byCluster = rows.map { r =>
        val n = r.getDouble(1)
        r.getLong(0) -> Array.tabulate(dim)(i => (r.getDouble(i + 2) / n).toFloat)
      }.toMap
      moved = false
      cents = cents.map { case (cid, old) =>
        byCluster.get(cid) match {
          case Some(nc) =>
            if (!moved) moved = old.indices.exists(i =>
              math.abs(nc(i) - old(i)) > 1e-9f)
            (cid, nc)
          case None => (cid, old) // empty cluster keeps its centroid
        }
      }
      it += 1
    }
    cents
    } finally vecs.unpersist(blocking = false)
  }

  /** Session-scoped centroid memo: an IVF index is built ONCE and probed by
    * many queries, so repeated `ivfTopK`/`ivfWritePartitioned` calls over
    * the same (source plan, nCentroids, kmeansIters) reuse the trained
    * centroids instead of re-running sampling + Lloyd rounds. The key is
    * the canonicalized analyzed plan of the (id, vector) projection
    * (source paths, filters, the id — which seeds the sample — and the
    * vector expression all participate), so two
    * different inputs can never share an entry; like any index, a cached
    * entry goes stale if the files under an identical plan are rewritten —
    * call [[clearCentroidCache]] after replacing data in place. Bounded
    * (whole-map reset beyond 64 entries; each entry is a driver-sized
    * centroid table by design). */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[(Any, Int, Int), Array[(Long, Array[Float])]]()

  def clearCentroidCache(): Unit = centroidCache.clear()

  private def centroidsFor(df: DataFrame, id: Column, vec: Column,
      nCentroids: Int, kmeansIters: Int): Array[(Long, Array[Float])] = {
    // key on the canonicalized plan OBJECT of the (id, vec) projection —
    // structural equality, no truncated-toString collisions, and the id
    // column participates because sampleCentroids seeds by xxhash64(id)
    val key = (df.select(id, vec).queryExecution.analyzed.canonicalized,
      nCentroids, kmeansIters)
    if (centroidCache.size > 64) centroidCache.clear()
    centroidCache.computeIfAbsent(key, _ =>
      if (kmeansIters > 0) kmeansCentroids(df, id, vec, nCentroids, kmeansIters)
      else sampleCentroids(df, id, vec, nCentroids))
  }

  /** Nearest-centroid argmax as ONE projection: max over (cos, cid) structs
    * built from centroid literals — no join, no shuffle. */
  private def assignExpr(df: DataFrame,
      cents: Array[(Long, Array[Float])], vec: Column): Column =
    array_max(array(cents.toIndexedSeq.map { case (cid, cv) =>
      struct(cosineNative(df, vec, typedlit(cv)).as("ccos"),
        lit(cid).as("cid")) }: _*)).getField("cid")

  /** Public nearest-centroid (topic/cluster) assignment against a FIXED
    * centroid table: `(id, topic)` with topic = argmax-cosine centroid,
    * ties to the LOWEST centroid id (the repo's min-struct total order —
    * [[assignExpr]]'s internal tie prefers the highest id, which is fine
    * for IVF routing but not for an oracle-pinned report). One per-row
    * projection over centroid LITERALS — no join, no shuffle; the
    * centroid table is driver-sized by the same contract as
    * [[kmeansCentroids]] (whose output plugs in here directly at
    * production; a planted lattice plugs in for cross-engine pins). */
  def assignCentroids(df: DataFrame, id: Column, vec: Column,
      cents: Seq[(Long, Array[Float])]): DataFrame = {
    require(cents.nonEmpty, "assignCentroids needs at least one centroid")
    val arg = array_min(array(cents.toIndexedSeq.map { case (cid, cv) =>
      struct((-cosineNative(df, vec, typedlit(cv))).as("nc"),
        lit(cid).as("cid")) }: _*)).getField("cid")
    df.select(id.as("id"), arg.as("topic"))
  }

  /** Per-group topic-share DRIFT between two release snapshots — the
    * monitoring composition next to [[assignCentroids]]: given two
    * row-level `(g, topic)` frames (one row per document; typically each
    * snapshot's [[assignCentroids]] output joined to its source column),
    * emits one row per `(g, topic)` seen in EITHER release with both
    * releases' doc counts, both shares on the integer permille grid
    * ([[ExactRound.halfUpDivCol]] — the q271 discipline, so the deltas
    * replay cross-engine exactly), and `delta_permille = share_b −
    * share_a`. A topic absent from one release reports 0 there (full
    * outer join), so appearing/vanishing topics are visible, not dropped.
    *
    * Scale shape: two hash aggregations per snapshot (per-(g, topic) and
    * per-g totals, both partial-aggregable) + one join on the
    * groups×topics-sized result — the group axis is sources/languages by
    * contract (driver-sized totals, broadcast), so nothing here scales
    * with documents beyond the two counting passes. */
  def shareDrift(a: DataFrame, b: DataFrame): DataFrame = {
    def shares(df: DataFrame, nCol: String, sCol: String): DataFrame = {
      val per = df.groupBy("g", "topic").agg(count(lit(1)).as(nCol))
      val tot = df.groupBy("g").agg(count(lit(1)).as("__tot"))
      per.join(broadcast(tot), "g")
        .select(col("g"), col("topic"), col(nCol),
          ExactRound.halfUpDivCol(col(nCol) * lit(1000L), col("__tot"))
            .as(sCol))
    }
    shares(a, "n_a", "__sa")
      .join(shares(b, "n_b", "__sb"), Seq("g", "topic"), "full_outer")
      .select(col("g"), col("topic"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("__sa"), lit(0L)).as("share_a_permille"),
        coalesce(col("__sb"), lit(0L)).as("share_b_permille"),
        (coalesce(col("__sb"), lit(0L)) - coalesce(col("__sa"), lit(0L)))
          .as("delta_permille"))
  }

  /** Exactly-one-row query vector, with a clear error instead of head()'s
    * NoSuchElementException (empty) or a partition-order-dependent pick
    * (several rows). */
  private def singleQueryVec(query: DataFrame, queryVec: Column): Array[Float] = {
    val rows = query.select(queryVec).take(2)
    if (rows.length != 1)
      throw new graft.core.BadCallException(
        s"expected exactly one query row, got ${if (rows.isEmpty) 0 else "several"}")
    rows(0).getSeq[Float](0).toArray
  }

  private def cosDriver(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def nearestCentroids(cents: Array[(Long, Array[Float])],
      qv: Array[Float], nProbe: Int): Seq[Long] =
    cents.map { case (cid, cv) => (cosDriver(cv, qv), cid) }
      .sortBy { case (c, cid) => (-c, cid) }.take(nProbe).map(_._2).toSeq

  /** IVF-style ANN: partition vectors into `nCentroids` inverted lists by
    * nearest centroid; a query probes only the `nProbe` nearest lists.
    *
    * Centroids are a deterministic hash-ordered sample, Lloyd-refined when
    * `kmeansIters > 0` ([[kmeansCentroids]] — better recall on clustered
    * data at the same probe budget), and MEMOIZED per session ([[centroidsFor]]):
    * index build runs once, every subsequent query over the same source
    * pays only the probe. With `nProbe == nCentroids` this degrades to
    * exact brute force (spec-pinned).
    *
    * Scale shape: the centroid table is driver-sized BY DESIGN (even at
    * 100 TB, nCentroids ~ √n is thousands of rows), so it is collected once
    * at plan-build time and folded into the plan as literals. Assignment is
    * then a single projection — an argmax over nCentroids fused codegen'd
    * cosines — and probing is a `cluster IN (probe set)` filter computed on
    * the driver: ZERO joins, zero shuffles, and the table's vectors never
    * leave their scan partitions. With the table written partitioned by
    * `cluster`, the probe filter partition-prunes the scan itself. (Round 1
    * ran a `count()` in the query path and shuffled all n×C vector-carrying
    * rows through a groupBy — both gone.) */
  def ivfTopK(df: DataFrame, id: Column, vec: Column, query: DataFrame,
      queryVec: Column, nCentroids: Int, nProbe: Int, k: Int,
      kmeansIters: Int = 0): DataFrame = {
    val cents = centroidsFor(df, id, vec, nCentroids, kmeansIters)
    val qv = singleQueryVec(query, queryVec)
    val probe = nearestCentroids(cents, qv, nProbe)
    df.select(id.as("id"), vec.as("v"),
        assignExpr(df, cents, vec).as("cluster"))
      .filter(col("cluster").isin(probe: _*))
      .select(col("id"), cosineNative(df, col("v"), typedlit(qv)).as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }

  /** BATCHED IVF probe: top-k neighbours for EVERY row of a query batch in
    * one pass over the table — the serving shape (embedding a request batch
    * and probing once beats one job per query by the batch size).
    *
    * The query batch is driver-sized BY DESIGN (a serving batch is
    * thousands of rows, same contract as the centroid table): per-query
    * probe sets are computed on the driver exactly like [[ivfTopK]], the
    * scan filters to the UNION of all probed lists (still
    * partition-prunable), and the query batch broadcast-joins on
    * list membership — no shuffle of table vectors. The only Exchange is
    * the per-query top-k window, keyed on qid over candidate rows
    * (bounded by probed-list sizes × batch size). Per query, the result is
    * IDENTICAL to [[ivfTopK]] (spec-pinned). */
  def ivfTopKBatch(df: DataFrame, id: Column, vec: Column,
      queries: DataFrame, qid: Column, qvec: Column,
      nCentroids: Int, nProbe: Int, k: Int, kmeansIters: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = centroidsFor(df, id, vec, nCentroids, kmeansIters)
    val qrows = queries.select(qid.cast("long").as("qid"), qvec.as("qv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    require(qrows.nonEmpty, "ivfTopKBatch: empty query batch")
    val probed = qrows.map { case (q, v) =>
      (q, v, nearestCentroids(cents, v, nProbe)) }
    val allProbed = probed.flatMap(_._3).distinct.toSeq
    val spark = df.sparkSession
    import spark.implicits._
    val qdf = broadcast(probed.toSeq.toDF("qid", "qv", "probes"))
    df.select(id.as("id"), vec.as("v"),
        assignExpr(df, cents, vec).as("cluster"))
      .filter(col("cluster").isin(allProbed: _*))
      .join(qdf, array_contains(col("probes"), col("cluster")))
      .select(col("qid"), col("id"),
        cosineNative(df, col("v"), col("qv")).as("cos"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("id"))))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Offline half of IVF at scale: assign every vector its inverted list and
    * write the table hive-partitioned by `cluster` (plus the centroid sample
    * to a sibling dir, so the online half probes the SAME lists). This is
    * what turns probing into PARTITION PRUNING: the online filter
    * `cluster IN (probe set)` never opens the other lists' files — at 100 TB
    * the scan itself shrinks by nProbe/nCentroids. */
  def ivfWritePartitioned(df: DataFrame, id: Column, vec: Column,
      nCentroids: Int, path: String, kmeansIters: Int = 0,
      quantize: Boolean = false): Unit = {
    val cents = centroidsFor(df, id, vec, nCentroids, kmeansIters)
    val assigned = df.select(id.cast("long").as("id"), vec.as("v"),
      assignExpr(df, cents, vec).as("cluster"))
    // quantize=true: the inverted lists hold int8 codes + a per-vector
    // scale instead of fp32 — the probe scan reads ~1/4 the bytes, the
    // composition that makes 100 TB serving fit. The centroid sidecar
    // stays fp32 (thousands of rows; quantizing it would only hurt the
    // probe-list choice).
    val listed =
      if (quantize) quantizeInt8(assigned, col("v")).drop("v")
      else assigned
    listed.write.mode("overwrite").partitionBy("cluster").parquet(path)
    val spark = df.sparkSession
    import spark.implicits._
    cents.toSeq.toDF("cid", "cvec").coalesce(1)
      .write.mode("overwrite").parquet(s"$path.centroids")
    // manifest sidecar: the index's build parameters, written LAST so its
    // presence marks a complete build (lists + centroids both landed). The
    // probe side validates against it instead of failing obscurely —
    // dimension mismatches and over-probing surface as typed errors, and a
    // different tool (or a human) can read what the index IS without
    // opening parquet footers. Hadoop FS API, so it lands next to the
    // lists on any supported filesystem (local, s3a, abfss).
    val manifest =
      s"""{"format":"graft-ivf","formatVersion":1,"metric":"cosine",
         |"nCentroids":${cents.length},"dim":${cents.head._2.length},
         |"kmeansIters":$kmeansIters,"quantized":$quantize}"""
        .stripMargin.replace("\n", "")
    val mp = new org.apache.hadoop.fs.Path(s"$path.manifest.json")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(mp, true)
    try out.write(manifest.getBytes("UTF-8")) finally out.close()
  }

  /** Append a batch to an existing [[ivfWritePartitioned]] index WITHOUT
    * retraining: incoming vectors are assigned to the PERSISTED centroids
    * (the same argmax projection the probe uses) and their rows land in the
    * same cluster partitions via a parquet append — the standard streaming
    * index-maintenance contract (FAISS `add` after `train`). Probes see old
    * and new rows identically; recall degrades only as the data
    * distribution drifts from the trained centroids, at which point the
    * index is re-trained and rewritten. Quantized indexes (manifest
    * `quantized: true`) get their codes built with the same rounding rule,
    * so appended lists stay schema-compatible. Dimension mismatches raise
    * typed errors: a driver-side fast-fail on the first row, plus an
    * in-pass guard on EVERY row (a `when(size ≠ dim, raise_error)` wrap of
    * the vector column, free in the same write scan) so a mixed-dimension
    * batch can never corrupt the index — the expected dim comes from the
    * centroid sidecar, which exists for manifest-less legacy indexes too. */
  def ivfAppendPartitioned(df: DataFrame, id: Column, vec: Column,
      path: String): Unit = {
    val spark = df.sparkSession
    val cents = spark.read.parquet(s"$path.centroids")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    require(cents.nonEmpty, s"ivfAppendPartitioned: no centroids at $path.centroids")
    val quantized = ivfReadManifest(spark, path)
      .exists(_.path("quantized").asBoolean(false))
    val dim = ivfReadManifest(spark, path)
      .map(_.path("dim").asInt()).getOrElse(cents.head._2.length)
    df.select(size(vec)).take(1).headOption.map(_.getInt(0))
      .filter(_ != dim).foreach { bd =>
        throw new graft.core.BadCallException(
          s"ivf index at $path holds $dim-dim vectors; append batch has $bd")
      }
    val checkedVec = when(size(vec) === dim, vec).otherwise(raise_error(
      concat(lit(s"ivf index at $path holds $dim-dim vectors; append row has "),
        size(vec).cast("string"))))
    val assigned = df.select(id.cast("long").as("id"), checkedVec.as("v"),
      assignExpr(df, cents, vec).as("cluster"))
    val listed =
      if (quantized) quantizeInt8(assigned, col("v")).drop("v")
      else assigned
    listed.write.mode("append").partitionBy("cluster").parquet(path)
  }

  /** IVF-PQ composed index (Jégou et al. TPAMI'11, the standard billion-
    * scale serving layout): inverted lists hive-partitioned by nearest
    * centroid, each row carrying BOTH the fp32 vector and its PQ codes.
    * The probe then stacks all three scan reducers Spark gives us:
    *  - PARTITION pruning: `cluster IN (probe set)` skips unprobed lists;
    *  - COLUMN pruning: the ADC candidate pass projects only (id, codes) —
    *    parquet never materializes the fp32 column for it;
    *  - POINT re-rank: only the driver-sized ADC candidate set re-reads
    *    the fp32 vectors (same pruned partitions, id filter pushed down).
    * At 100 TB the candidate pass reads nProbe/nCentroids of the rows × m
    * bytes each — the fp32 bytes surface only for a few hundred rows. */
  def ivfPqWritePartitioned(df: DataFrame, id: Column, vec: Column,
      nCentroids: Int, model: PqModel, path: String,
      kmeansIters: Int = 0): Unit = {
    val cents = centroidsFor(df, id, vec, nCentroids, kmeansIters)
    val assigned = df.select(id.cast("long").as("id"), vec.as("v"),
      assignExpr(df, cents, vec).as("cluster"))
    pqEncode(assigned, col("v"), model)
      .select(col("id"), col("v"), col("codes"), col("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(path)
    val spark = df.sparkSession
    import spark.implicits._
    cents.toSeq.toDF("cid", "cvec").coalesce(1)
      .write.mode("overwrite").parquet(s"$path.centroids")
    model.codebooks.zipWithIndex.flatMap { case (cs, j) =>
      cs.zipWithIndex.map { case (cv, c) => (j, c, cv.toSeq) }
    }.toSeq.toDF("subspace", "code", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(s"$path.codebooks")
    val manifest =
      s"""{"format":"graft-ivfpq","formatVersion":1,"metric":"cosine",
         |"nCentroids":${cents.length},"dim":${cents.head._2.length},
         |"kmeansIters":$kmeansIters,
         |"m":${model.m},"ds":${model.ds},"ks":${model.ks}}"""
        .stripMargin.replace("\n", "")
    val mp = new org.apache.hadoop.fs.Path(s"$path.manifest.json")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(mp, true)
    try out.write(manifest.getBytes("UTF-8")) finally out.close()
  }

  /** RESIDUAL IVF-PQ writer — the full IVFADC recipe (Jégou TPAMI'11 §IV):
    * codes quantize the residual `normalize(v) − anchor(cluster)` instead
    * of the vector itself. Because ADC subtracts the SAME per-cluster
    * anchor from the query, `‖q_n − v_n‖² = ‖q_res − v_res‖²` holds
    * EXACTLY for ANY anchor — so the anchor is chosen to MINIMIZE residual
    * norms: the per-cluster MEAN of the normalized member vectors (the
    * L2-optimal choice; one extra agg in the write pass, persisted as the
    * `.anchors` sidecar). Using the assignment centroid re-scaled to unit
    * length instead is measurably WRONG on spread clusters — it can sit
    * farther from the members than the origin does and GROW the residuals
    * (measured here: recall@10 0.5 vs 0.9 at m=8, sf0.1). The
    * quantization error is only the residual's, whose norm is a fraction
    * of the vector's on clustered data and never worse than centered data
    * otherwise; OpsSpec pins residual ≥ raw at halved m. Serving shape is
    * UNCHANGED from [[ivfPqWritePartitioned]]: partition-pruned probe ×
    * codes-only ADC scan × exact fp32 re-rank — the only delta is one ADC
    * LUT per PROBED CLUSTER (nProbe driver-sized LUTs, broadcast) instead
    * of one global LUT. The manifest records `residual: true`;
    * [[ivfPqTopKPartitioned]] dispatches on it, so old indexes keep
    * serving unchanged. */
  def ivfPqWriteResidualPartitioned(df: DataFrame, id: Column, vec: Column,
      nCentroids: Int, m: Int, ks: Int, path: String, kmeansIters: Int = 0,
      pqIters: Int = 10, sampleSize: Int = 4096): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val cents = centroidsFor(df, id, vec, nCentroids, kmeansIters)
    val assigned = df.select(id.cast("long").as("id"), vec.as("v"),
      assignExpr(df, cents, vec).as("cluster"))
      .withColumn("__n", norm(asDouble(col("v"))))
      .withColumn("__nv", transform(col("v"),
        x => when(col("__n") === 0.0, lit(0.0))
          .otherwise(x.cast("double") / col("__n"))))
    val dim = cents.head._2.length
    // residual anchors: per-cluster mean of the normalized vectors —
    // driver-sized (nCentroids × dim), like the centroid table itself
    val anchors = assigned.groupBy("cluster")
      .agg(array((0 until dim).map(i =>
        avg(element_at(col("__nv"), i + 1))): _*).as("__anchor"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val anchorDf = broadcast(anchors.map { case (cid, a) => (cid, a.toSeq) }
      .toSeq.toDF("cluster", "__an"))
    val withRes = assigned.join(anchorDf, Seq("cluster"))
      .withColumn("__res", zip_with(col("__nv"), col("__an"), (x, y) => x - y))
    // residual sample for training — NOT re-normalized (pqLloyd direct)
    val sample = withRes.select(col("id"), col("__res"))
      .orderBy(xxhash64(col("id")), col("id")).limit(sampleSize)
      .collect().map(_.getSeq[Double](1).toArray)
    val model = pqLloyd(sample, m, ks, pqIters)
    val encoded = withRes.withColumn("codes",
      org.apache.spark.sql.GraftColumnBridge.column(graft.functions.PqEncode(
        org.apache.spark.sql.GraftColumnBridge.expression(col("__res")),
        model.codebooks, normalize = false)))
    encoded.select(col("id"), col("v"), col("codes"), col("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(path)
    cents.toSeq.toDF("cid", "cvec").coalesce(1)
      .write.mode("overwrite").parquet(s"$path.centroids")
    anchors.map { case (cid, a) => (cid, a.toSeq) }.toSeq
      .toDF("cid", "anchor").coalesce(1)
      .write.mode("overwrite").parquet(s"$path.anchors")
    model.codebooks.zipWithIndex.flatMap { case (cs, j) =>
      cs.zipWithIndex.map { case (cv, c) => (j, c, cv.toSeq) }
    }.toSeq.toDF("subspace", "code", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(s"$path.codebooks")
    val manifest =
      s"""{"format":"graft-ivfpq","formatVersion":1,"metric":"cosine",
         |"nCentroids":${cents.length},"dim":${cents.head._2.length},
         |"kmeansIters":$kmeansIters,
         |"m":${model.m},"ds":${model.ds},"ks":${model.ks},"residual":true}"""
        .stripMargin.replace("\n", "")
    val mp = new org.apache.hadoop.fs.Path(s"$path.manifest.json")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(mp, true)
    try out.write(manifest.getBytes("UTF-8")) finally out.close()
  }

  /** Online half of [[ivfPqWritePartitioned]]: probe `nProbe` lists by the
    * persisted centroids, ADC-score the codes (partition- AND column-pruned
    * scan), then re-rank the `nCandidates` best exactly from the fp32
    * column of the same pruned lists. Typed errors on dim/probe mismatches
    * via the manifest. Residual indexes ([[ivfPqWriteResidualPartitioned]])
    * score with one LUT per probed cluster — built from `q_n − centroid_n`
    * and broadcast-joined on the cluster column. */
  def ivfPqTopKPartitioned(spark: org.apache.spark.sql.SparkSession,
      path: String, query: DataFrame, queryVec: Column, nProbe: Int,
      nCandidates: Int, k: Int): DataFrame = {
    val mp = new org.apache.hadoop.fs.Path(s"$path.manifest.json")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(mp))
      throw new graft.core.BadCallException(s"no IVF-PQ manifest at $path.manifest.json")
    val in = fs.open(mp)
    val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
      finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new String(bytes, "UTF-8"))
    if (node.path("format").asText() != "graft-ivfpq")
      throw new graft.core.BadCallException(s"$path.manifest.json is not a graft-ivfpq manifest")
    val qv = singleQueryVec(query, queryVec)
    val dim = node.path("dim").asInt(); val nc = node.path("nCentroids").asInt()
    if (dim != qv.length) throw new graft.core.BadCallException(
      s"ivfpq index at $path holds $dim-dim vectors; query vector has ${qv.length}")
    if (nProbe > nc) throw new graft.core.BadCallException(
      s"nProbe=$nProbe exceeds the index's $nc inverted lists")
    val m = node.path("m").asInt(); val ds = node.path("ds").asInt()
    val ks = node.path("ks").asInt()
    val books = Array.fill(m)(new Array[Array[Double]](ks))
    spark.read.parquet(s"$path.codebooks").collect().foreach { r =>
      books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    val model = PqModel(m, ds, ks, books)
    val cents = spark.read.parquet(s"$path.centroids")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val probe = nearestCentroids(cents, qv, nProbe)
    val residual = node.path("residual").asBoolean(false)
    val table = spark.read.parquet(path)
    val pruned = table.filter(col("cluster").isin(probe: _*))
    val candIds = (if (!residual) {
      val luts = adcLuts(model, normalizeDriver(qv))
      pruned.select(col("id"), adcScoreExpr(col("codes"), luts).as("adc"))
    } else {
      // one LUT per probed cluster, from the query's residual against THAT
      // cluster's anchor — driver-sized (nProbe × m × ks doubles), broadcast
      import spark.implicits._
      val qn = normalizeDriver(qv)
      val anchorMap = spark.read.parquet(s"$path.anchors")
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
      // a probed cluster can be EMPTY (k-means drops a centroid when no
      // vector assigns to it — routinely at scale): it has no anchor row
      // and nothing to scan, so it simply contributes no LUT (a hard
      // lookup here failed the 10× bench run with `key not found`)
      val lutDf = broadcast(probe.flatMap { cid =>
        anchorMap.get(cid).map { an =>
          val qres = Array.tabulate(qn.length)(i => qn(i) - an(i))
          (cid, adcLuts(model, qres).map(_.toSeq).toSeq)
        }
      }.toSeq.toDF("cluster", "__luts"))
      pruned.join(lutDf, Seq("cluster"))
        .select(col("id"), (0 until model.m).map { j =>
          element_at(element_at(col("__luts"), j + 1),
            element_at(col("codes"), j + 1).cast("int") + 1)
        }.reduce(_ + _).as("adc"))
    }).orderBy(col("adc").asc, col("id")).limit(nCandidates)
      .collect().map(_.getLong(0)).toSeq
    pruned.filter(col("id").isin(candIds: _*))
      .select(col("id"), cosineNative(table, col("v"), typedlit(qv)).as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }

  /** Read an index's manifest sidecar, or None for a pre-manifest index
    * (probing stays backward-compatible with indexes written before the
    * manifest existed). */
  def ivfReadManifest(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[com.fasterxml.jackson.databind.JsonNode] = {
    val mp = new org.apache.hadoop.fs.Path(s"$path.manifest.json")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(mp)) None
    else {
      val in = fs.open(mp)
      val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
        finally in.close()
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new String(bytes, "UTF-8"))
      if (node.path("format").asText() != "graft-ivf")
        throw new graft.core.BadCallException(
          s"$path.manifest.json is not a graft-ivf manifest")
      Some(node)
    }
  }

  /** Online half: probe a table written by [[ivfWritePartitioned]]. One
    * partition-pruned scan → fused cosine → TakeOrdered; zero shuffles.
    * When the index carries a manifest, the query vector's dimension and
    * the probe budget are validated against it up front. */
  def ivfTopKPartitioned(spark: org.apache.spark.sql.SparkSession, path: String,
      query: DataFrame, queryVec: Column, nProbe: Int, k: Int): DataFrame = {
    val cents = spark.read.parquet(s"$path.centroids")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val qv = singleQueryVec(query, queryVec)
    ivfReadManifest(spark, path).foreach { m =>
      val dim = m.path("dim").asInt(); val nc = m.path("nCentroids").asInt()
      if (dim != qv.length) throw new graft.core.BadCallException(
        s"ivf index at $path holds $dim-dim vectors; query vector has ${qv.length}")
      if (nProbe > nc) throw new graft.core.BadCallException(
        s"nProbe=$nProbe exceeds the index's $nc inverted lists")
    }
    val probe = nearestCentroids(cents, qv, nProbe)
    val table = spark.read.parquet(path)
    // quantized lists are detected by SCHEMA (qvec/qscale columns), so
    // even a manifest-less legacy index probes correctly either way
    val cos =
      if (table.columns.contains("qvec"))
        cosine(dequant(col("qvec"), col("qscale")),
          asDouble(typedlit(qv)))
      else cosineNative(table, col("v"), typedlit(qv))
    table.filter(col("cluster").isin(probe: _*))
      .select(col("id"), cos.as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }

  /** Multiprobe sign-LSH top-k: probe the query's bucket plus neighbouring
    * buckets in increasing perturbation cost — the cost of a bucket is the
    * summed margin |q_d| of the sign bits flipped to reach it (a bit whose
    * hyperplane decision was nearly a coin flip is cheap to flip; the
    * nearest neighbours most likely sit just across those). This is the
    * standard perturbation-set ordering (Lv et al., VLDB'07 multi-probe
    * LSH), so `nProbe = 2^bits` degrades gracefully to an exhaustive scan
    * (recall 1.0 — pinned in StreamingSpec). The classic recall-multiplier
    * for bucketed ANN: nProbe trades scan width for recall without
    * re-bucketing the table, and the probe set is computed on the driver,
    * so the plan stays a single bucket-IN filter over the scan —
    * partition-prunable when the table is written bucketed. */
  def lshTopKMultiprobe(df: DataFrame, id: Column, vec: Column,
      query: DataFrame, queryVec: Column, bits: Int, nProbe: Int,
      k: Int): DataFrame = {
    require(bits >= 1 && bits <= 62, s"bits must be in [1, 62], got $bits")
    val qv = singleQueryVec(query, queryVec)
    require(qv.length >= bits, s"query vector shorter than $bits dims")
    val qbucket = (0 until bits).map(i => if (qv(i) >= 0f) 1L << i else 0L).sum
    val margins = (0 until bits).map(i => math.abs(qv(i).toDouble)).toArray
    val probes = probeSequence(margins, math.max(nProbe, 1))
      .map(qbucket ^ _)
    df.withColumn("__bucket", signBucket(vec, bits))
      .filter(col("__bucket").isin(probes: _*))
      .select(id.as("id"), cosineNative(df, vec, typedlit(qv)).as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }

  /** First `n` flip masks in nondecreasing summed-margin cost, WITHOUT
    * enumerating the 2^bits mask space: best-first expansion over flip
    * sets ordered by cheapest margins (the add/shift successor rule of
    * Lv et al.'s multi-probe sequence — each subset of sorted positions is
    * generated exactly once, heap holds O(n) states). n = 2^bits yields
    * every mask, so an exhaustive probe stays reachable at small bits
    * while bits = 62 with a few hundred probes is just as cheap. */
  private def probeSequence(margins: Array[Double], n: Int): Seq[Long] = {
    val bits = margins.length
    // sorted-space index -> (margin, original bit position)
    val order = margins.zipWithIndex.sortBy(_._1)
    val out = scala.collection.mutable.ArrayBuffer[Long](0L) // no-flip first
    val pq = scala.collection.mutable.PriorityQueue
      .empty[(Double, Long, Int)](Ordering.by(s => -s._1))
    if (bits > 0) pq.enqueue((order(0)._1, 1L << order(0)._2, 0))
    while (out.size < n && pq.nonEmpty) {
      val (cost, mask, last) = pq.dequeue()
      out += mask
      if (last + 1 < bits) {
        val (mNext, bNext) = order(last + 1)
        val (mLast, bLast) = order(last)
        // add the next-cheapest position; or shift the newest flip to it
        pq.enqueue((cost + mNext, mask | (1L << bNext), last + 1))
        pq.enqueue((cost - mLast + mNext,
          (mask & ~(1L << bLast)) | (1L << bNext), last + 1))
      }
    }
    out.toSeq
  }

  /** Adds a `cluster` column: nearest trained centroid by cosine — the same
    * memoized training ([[centroidsFor]]) and zero-shuffle argmax projection
    * the IVF probe path uses, exposed for cluster-blocked operators
    * (SemDeDup-style semantic dedup, per-cluster stats). Identical vectors
    * always land in the same cluster (the argmax is a pure function of the
    * vector). */
  def withClusterAssignment(df: DataFrame, id: Column, vec: Column,
      nCentroids: Int, kmeansIters: Int = 0): DataFrame = {
    val cents = centroidsFor(df, id, vec, nCentroids, kmeansIters)
    df.withColumn("cluster", assignExpr(df, cents, vec))
  }

  /** Cluster assignment against a PERSISTED index's centroid sidecar —
    * the same zero-shuffle argmax projection the probe and
    * [[ivfAppendPartitioned]] use, exposed so incremental operators
    * (batch-vs-index dedup, streaming routers) can block new rows into
    * the EXISTING clusters without retraining. */
  def withPersistedClusterAssignment(df: DataFrame, vec: Column,
      path: String): DataFrame = {
    val spark = df.sparkSession
    val cents = spark.read.parquet(s"$path.centroids")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    require(cents.nonEmpty,
      s"withPersistedClusterAssignment: no centroids at $path.centroids")
    df.withColumn("cluster", assignExpr(df, cents, vec))
  }

  // ------------------------------------------------------------------
  // Product quantization (PQ): the 100 TB ANN compression path.
  //
  // A d-dim fp32 vector is 4d bytes; its PQ code is m bytes (one codebook
  // index per subspace). At d=64, m=8 that is a 32× smaller serving scan —
  // the difference between "the index fits in executor memory" and "it
  // doesn't" at 100 TB. The design follows the public IVF-PQ literature
  // (Jégou et al., TPAMI'11 "Product quantization for nearest neighbor
  // search") and the standard serving split:
  //  - TRAIN on a deterministic driver-sized sample (hash-ordered, like
  //    [[sampleCentroids]]): per-subspace Lloyd k-means — FAISS-style
  //    sample-based training, the codebooks are a few KB;
  //  - ENCODE the full table in one projection (argmin over codebook
  //    literals — no join, no shuffle, no UDF);
  //  - SERVE with ADC (asymmetric distance computation): the query builds
  //    per-subspace lookup tables on the driver, candidate scoring is m
  //    array lookups per row reading ONLY the codes column, then a
  //    driver-sized candidate set is re-ranked exactly against the fp32
  //    vectors. Vectors are L2-normalized before encoding, so squared-L2
  //    ADC ranking and cosine ranking agree: ||q−x||² = 2 − 2·cos(q,x).
  // ------------------------------------------------------------------

  /** Trained PQ codebooks: `m` subspaces of `ds` dims, `ks` centroids each.
    * `codebooks(j)(c)` is centroid c of subspace j (over NORMALIZED
    * subvectors). Driver-sized by design (m·ks·ds floats — a few KB). */
  case class PqModel(m: Int, ds: Int, ks: Int,
      codebooks: Array[Array[Array[Double]]]) {
    def dim: Int = m * ds
  }

  private def normalizeDriver(v: Array[Float]): Array[Double] = {
    var n2 = 0.0; var i = 0
    while (i < v.length) { n2 += v(i).toDouble * v(i).toDouble; i += 1 }
    val n = math.sqrt(n2)
    if (n == 0.0) new Array[Double](v.length)
    else Array.tabulate(v.length)(k => v(k).toDouble / n)
  }

  /** Train PQ codebooks on a deterministic hash-ordered sample collected to
    * the driver (≤ `sampleSize` vectors) — sample-based training is the
    * standard PQ practice at scale (the codebook is a statistic of the
    * distribution, not of every row; FAISS trains on ~100k samples for
    * billion-vector indexes). Per-subspace Lloyd k-means, seeded by the
    * first `ks` sample subvectors in hash order; empty clusters keep their
    * centroid. Fully deterministic: same data + params → same model. */
  /** Session-scoped PQ model memo, same contract as [[centroidsFor]]: a
    * codebook is trained ONCE and serves many encode/probe calls, keyed on
    * the canonicalized (id, vec) projection plan + params. Stale after
    * in-place data rewrites — [[clearPqCache]] then. Bounded like the
    * centroid memo. */
  private val pqCache =
    new java.util.concurrent.ConcurrentHashMap[(Any, Int, Int, Int, Int), PqModel]()

  def clearPqCache(): Unit = pqCache.clear()

  def pqTrain(df: DataFrame, id: Column, vec: Column, m: Int, ks: Int = 16,
      iters: Int = 10, sampleSize: Int = 4096): PqModel = {
    val key = (df.select(id, vec).queryExecution.analyzed.canonicalized,
      m, ks, iters, sampleSize)
    if (pqCache.size > 64) pqCache.clear()
    pqCache.computeIfAbsent(key, _ =>
      pqTrainUncached(df, id, vec, m, ks, iters, sampleSize))
  }

  private def pqTrainUncached(df: DataFrame, id: Column, vec: Column, m: Int,
      ks: Int, iters: Int, sampleSize: Int): PqModel = {
    val sample = df.select(id.cast("long").as("sid"), vec.as("sv"))
      .orderBy(xxhash64(col("sid")), col("sid")).limit(sampleSize)
      .collect().map(r => normalizeDriver(r.getSeq[Float](1).toArray))
    pqLloyd(sample, m, ks, iters)
  }

  /** The per-subspace Lloyd loop over an already-prepared driver sample —
    * shared by [[pqTrain]] (normalized vectors) and the residual trainer
    * (residuals must NOT be re-normalized). Deterministic: seeded by the
    * first ks subvectors in sample order, empty clusters keep their
    * centroid. */
  private def pqLloyd(sample: Array[Array[Double]], m: Int,
      ks: Int, iters: Int): PqModel = {
    require(sample.nonEmpty, "pqTrain: input has no vectors")
    val dim = sample(0).length
    require(dim % m == 0, s"pqTrain: dim $dim not divisible by m=$m")
    require(ks >= 1 && ks <= 127, s"pqTrain: ks must be in [1,127], got $ks")
    val ds = dim / m
    val codebooks = Array.tabulate(m) { j =>
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, j * ds, (j + 1) * ds))
      // seed: first ks subvectors in sample (hash) order
      var cents = Array.tabulate(math.min(ks, subs.length))(c => subs(c).clone())
      var it = 0
      var moved = true
      while (it < iters && moved) {
        val sums = Array.fill(cents.length)(new Array[Double](ds))
        val counts = new Array[Long](cents.length)
        subs.foreach { sv =>
          var best = 0; var bestD = Double.MaxValue; var c = 0
          while (c < cents.length) {
            var dist = 0.0; var i = 0
            val cv = cents(c)
            while (i < ds) { val t = sv(i) - cv(i); dist += t * t; i += 1 }
            if (dist < bestD) { bestD = dist; best = c }
            c += 1
          }
          var i = 0
          while (i < ds) { sums(best)(i) += sv(i); i += 1 }
          counts(best) += 1
        }
        moved = false
        cents = cents.zipWithIndex.map { case (old, c) =>
          if (counts(c) == 0L) old
          else {
            val nc = Array.tabulate(ds)(i => sums(c)(i) / counts(c))
            if (!moved) moved = old.indices.exists(i => math.abs(nc(i) - old(i)) > 1e-12)
            nc
          }
        }
        it += 1
      }
      cents
    }
    PqModel(m, ds, codebooks(0).length, codebooks)
  }

  /** Squared L2 between a sliced subvector column and a codebook-centroid
    * literal — a codegen'd fold, no UDF. */
  private def sqDistExpr(sub: Column, cent: Array[Double]): Column =
    aggregate(zip_with(sub, typedlit(cent), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** Encode: adds a `codes` column (`array<tinyint>`, length m) — nearest
    * codebook centroid per subspace of the NORMALIZED vector (ties break to
    * the lowest code, deterministic). One map stage over the table; this is
    * the offline half, run once and persisted ([[pqWriteEncoded]]).
    * Default is the fused codegen'd [[graft.functions.PqEncode]] expression
    * (one pass, zero per-row allocation beyond the code array — measured
    * ~4× on the encode-bound queries); `native = false` is the composable
    * lambda twin kept as its executable spec (OpsSpec pins bit-equality). */
  def pqEncode(df: DataFrame, vec: Column, model: PqModel,
      native: Boolean = true): DataFrame =
    if (native)
      df.withColumn("codes", org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.PqEncode(
          org.apache.spark.sql.GraftColumnBridge.expression(vec),
          model.codebooks)))
    else pqEncodeComposable(df, vec, model)

  private[graft] def pqEncodeComposable(df: DataFrame, vec: Column,
      model: PqModel): DataFrame = {
    val withNv = df
      .withColumn("__n", norm(asDouble(vec)))
      .withColumn("__nv", transform(vec,
        x => when(col("__n") === 0.0, lit(0.0)).otherwise(x.cast("double") / col("__n"))))
    val codeCols = (0 until model.m).map { j =>
      val sub = slice(col("__nv"), j * model.ds + 1, model.ds)
      array_min(array(model.codebooks(j).zipWithIndex.toIndexedSeq.map {
        case (cent, c) =>
          struct(sqDistExpr(sub, cent).as("d"), lit(c).as("c"))
      }: _*)).getField("c").cast("tinyint")
    }
    withNv.withColumn("codes", array(codeCols: _*)).drop("__n", "__nv")
  }

  /** ADC score (squared-L2 to the query, up to the query-norm constant):
    * m lookups into per-subspace LUT literals — reads ONLY the codes. */
  private def adcScoreExpr(codes: Column, luts: Array[Array[Double]]): Column =
    luts.zipWithIndex.map { case (lut, j) =>
      element_at(typedlit(lut), element_at(codes, j + 1).cast("int") + 1)
    }.reduce(_ + _)

  private def adcLuts(model: PqModel, qn: Array[Double]): Array[Array[Double]] =
    Array.tabulate(model.m) { j =>
      Array.tabulate(model.ks) { c =>
        val cent = model.codebooks(j)(c)
        var dist = 0.0; var i = 0
        while (i < model.ds) {
          val t = qn(j * model.ds + i) - cent(i); dist += t * t; i += 1
        }
        dist
      }
    }

  /** PQ top-k over a pre-encoded table (the serving shape): ADC scores the
    * codes column (m byte-lookups per row — the scan never touches fp32
    * vectors), keeps the `nCandidates` best (TakeOrdered, driver-sized by
    * design like the centroid table), then re-ranks EXACTLY: the candidate
    * ids filter the base table (at 100 TB: a few hundred point lookups vs a
    * full fp32 scan) and the true cosine orders the final k. With
    * `nCandidates >= |table|` this degrades to exact brute force
    * (spec-pinned identity, same contract as IVF's full probe). */
  def pqTopKOnCodes(codesDf: DataFrame, id: Column, codes: Column,
      base: DataFrame, baseId: Column, baseVec: Column,
      query: DataFrame, queryVec: Column, model: PqModel,
      nCandidates: Int, k: Int): DataFrame = {
    val qv = singleQueryVec(query, queryVec)
    if (qv.length != model.dim)
      throw new graft.core.BadCallException(
        s"pqTopKOnCodes: query dim ${qv.length} != model dim ${model.dim}")
    val luts = adcLuts(model, normalizeDriver(qv))
    val candIds = codesDf
      .select(id.cast("long").as("id"), adcScoreExpr(codes, luts).as("adc"))
      .orderBy(col("adc").asc, col("id")).limit(nCandidates)
      .collect().map(_.getLong(0)).toSeq
    base.filter(baseId.cast("long").isin(candIds: _*))
      .select(baseId.as("id"), cosineNative(base, baseVec, typedlit(qv)).as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }

  /** BATCHED PQ serving: ADC-score a whole query batch in ONE pass over the
    * codes (the q125/ivfTopKBatch contract, PQ edition). Per-query LUTs are
    * computed on the driver (the batch is driver-sized by design, same as
    * the centroid table) and broadcast as an `array<array<double>>` column;
    * scoring stays m array lookups per (row, query) — independent of batch
    * size, no per-query expression blowup. Candidates per query come from
    * one window top-C over the fanned-out scores (the only Exchange, keyed
    * on qid); the exact re-rank touches only candidate ids. Per query the
    * result is IDENTICAL to [[pqTopKOnCodes]] (spec-pinned). */
  def pqTopKBatchOnCodes(codesDf: DataFrame, id: Column, codes: Column,
      base: DataFrame, baseId: Column, baseVec: Column,
      queries: DataFrame, qid: Column, qvec: Column, model: PqModel,
      nCandidates: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = codesDf.sparkSession
    import spark.implicits._
    val qrows = queries.select(qid.cast("long").as("qid"), qvec.as("qv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    require(qrows.nonEmpty, "pqTopKBatchOnCodes: empty query batch")
    qrows.find(_._2.length != model.dim).foreach { case (q, v) =>
      throw new graft.core.BadCallException(
        s"pqTopKBatchOnCodes: query $q dim ${v.length} != model dim ${model.dim}")
    }
    val lutRows = qrows.map { case (q, v) =>
      (q, adcLuts(model, normalizeDriver(v)).map(_.toSeq).toSeq) }
    val qdf = broadcast(lutRows.toSeq.toDF("qid", "luts"))
    val candIds = codesDf.select(id.cast("long").as("id"), codes.as("__codes"))
      .crossJoin(qdf)
      .select(col("qid"), col("id"),
        (0 until model.m).map { j =>
          element_at(element_at(col("luts"), j + 1),
            element_at(col("__codes"), j + 1).cast("int") + 1)
        }.reduce(_ + _).as("adc"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("adc").asc, col("id"))))
      .filter(col("__rn") <= nCandidates)
      .select(col("qid"), col("id"))
    val qvecs = broadcast(qrows.map { case (q, v) => (q, v.toSeq) }
      .toSeq.toDF("qid", "qv"))
    base.select(baseId.cast("long").as("id"), baseVec.as("__v"))
      .join(broadcast(candIds), Seq("id"))
      .join(qvecs, Seq("qid"))
      .select(col("qid"), col("id"),
        cosineNative(base, col("__v"), col("qv")).as("cos"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("id"))))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Convenience: encode + serve in one call (bench/correctness path; the
    * serving path persists codes once via [[pqWriteEncoded]] instead of
    * re-encoding per query). */
  def pqTopK(df: DataFrame, id: Column, vec: Column, query: DataFrame,
      queryVec: Column, model: PqModel, nCandidates: Int, k: Int): DataFrame = {
    val encoded = pqEncode(df.select(id.as("__id"), vec.as("__v")), col("__v"), model)
    pqTopKOnCodes(encoded, col("__id"), col("codes"),
      df, id, vec, query, queryVec, model, nCandidates, k)
  }

  /** Offline half: encode and persist `(id, codes)` plus the model sidecars
    * (codebooks as parquet, params as a manifest JSON written LAST — same
    * complete-build marker convention as [[ivfWritePartitioned]]). The
    * serving scan then reads m bytes per row instead of 4·dim. */
  def pqWriteEncoded(df: DataFrame, id: Column, vec: Column, model: PqModel,
      path: String): Unit = {
    pqEncode(df.select(id.cast("long").as("id"), vec.as("__v")), col("__v"), model)
      .select(col("id"), col("codes"))
      .write.mode("overwrite").parquet(path)
    val spark = df.sparkSession
    import spark.implicits._
    model.codebooks.zipWithIndex.flatMap { case (cents, j) =>
      cents.zipWithIndex.map { case (cv, c) => (j, c, cv.toSeq) }
    }.toSeq.toDF("subspace", "code", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(s"$path.codebooks")
    val manifest =
      s"""{"format":"graft-pq","formatVersion":1,"metric":"cosine",
         |"m":${model.m},"ds":${model.ds},"ks":${model.ks}}"""
        .stripMargin.replace("\n", "")
    val mp = new org.apache.hadoop.fs.Path(s"$path.manifest.json")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(mp, true)
    try out.write(manifest.getBytes("UTF-8")) finally out.close()
  }

  /** Read back a [[pqWriteEncoded]] model sidecar; typed errors for a
    * missing or foreign manifest. */
  def pqReadModel(spark: org.apache.spark.sql.SparkSession, path: String): PqModel = {
    val mp = new org.apache.hadoop.fs.Path(s"$path.manifest.json")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(mp))
      throw new graft.core.BadCallException(s"no PQ manifest at $path.manifest.json")
    val in = fs.open(mp)
    val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
      finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new String(bytes, "UTF-8"))
    if (node.path("format").asText() != "graft-pq")
      throw new graft.core.BadCallException(s"$path.manifest.json is not a graft-pq manifest")
    val m = node.path("m").asInt(); val ds = node.path("ds").asInt()
    val ks = node.path("ks").asInt()
    val rows = spark.read.parquet(s"$path.codebooks").collect()
    val books = Array.fill(m)(new Array[Array[Double]](ks))
    rows.foreach { r =>
      books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    PqModel(m, ds, ks, books)
  }

  /** Blocked all-pairs similarity: cosine only within sign-LSH buckets —
    * the scalable skeleton for embedding near-dup mining (bucket sizes bound
    * the quadratic term). */
  def bucketedPairs(df: DataFrame, id: Column, vec: Column, bits: Int,
      native: Boolean = true): DataFrame = {
    val b = df.select(id.as("vid"), vec.as("v"))
      .withColumn("bucket", signBucket(col("v"), bits))
    val cos =
      if (native) cosineNative(df, col("a.v"), col("b.v"))
      else cosine(asDouble(col("a.v")), asDouble(col("b.v")))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("i"), col("b.vid").as("j"), col("a.bucket").as("bucket"),
        cos.as("cos"))
  }

  /** k-NN graph over the corpus — each vector's k most-similar neighbors
    * among its sign-LSH bucket candidates: the input structure of
    * graph-based near-dup clustering, SemDeDup-style diversity pruning
    * and label propagation. Candidate generation is [[bucketedPairs]]
    * (quadratic strictly within buckets), or — when `maxBucket` is set —
    * [[bucketedPairsCapped]], whose re-bucketing of any bucket larger than
    * `maxBucket` with `extraBits` extra sign bits bounds the self-join
    * fan-out: at 100 TB a degenerate embedding region (the classic
    * all-positive-coordinates cluster) lands in one LSH bucket and an
    * uncapped graph build goes quadratic on that one join key. The capped
    * candidate set is a SUBSET of the uncapped one (refinement only splits
    * buckets), so edges can only be lost, never invented — the standard
    * LSH recall trade, ScaleSpec-pinned with a planted fat bucket.
    * Symmetrized by a projection union (each undirected pair feeds BOTH
    * endpoints' neighbor lists — no second join), then a per-vector
    * `row_number ≤ k` which two-phases under InferWindowGroupLimit
    * (partition key `i` is high-cardinality here anyway). A vector alone
    * in its bucket has no candidates and is absent from the graph —
    * callers union an IVF/brute fallback for isolated points if totality
    * matters. Returns (i, j, cos, rk). Default `maxBucket = Long.MaxValue`
    * keeps the exact uncapped behavior (and skips the bucket-size agg). */
  def knnGraph(df: DataFrame, id: Column, vec: Column, bits: Int, k: Int,
      native: Boolean = true, maxBucket: Long = Long.MaxValue,
      extraBits: Int = 8): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val cand =
      if (maxBucket == Long.MaxValue) bucketedPairs(df, id, vec, bits, native)
      else bucketedPairsCapped(df, id, vec, bits, maxBucket, extraBits, native)
    val pairs = cand.select("i", "j", "cos")
    val sym = pairs.union(
      pairs.select(col("j").as("i"), col("i").as("j"), col("cos")))
    sym.withColumn("rk", row_number().over(
        Window.partitionBy(col("i")).orderBy(col("cos").desc, col("j"))))
      .filter(col("rk") <= k)
  }

  /** Reciprocal (mutual) nearest neighbors: undirected pairs where EACH
    * endpoint ranks the other in its top-k — the strict high-precision
    * match rule (RNN bitext mining, exemplar dedup) that kills hub
    * vectors structurally: a hub may rank many neighbors, but few rank it
    * back. One self-join of the ≤ k·|V| [[knnGraph]] edge list on the
    * reversed key — bounded by construction, no new pair generation.
    * Returns (i, j, cos, rk_ij, rk_ji) with i < j. */
  def mutualNearestNeighbors(df: DataFrame, id: Column, vec: Column,
      bits: Int, k: Int, maxBucket: Long = Long.MaxValue,
      extraBits: Int = 8): DataFrame = {
    val g = knnGraph(df, id, vec, bits, k, maxBucket = maxBucket,
      extraBits = extraBits)
    g.as("a").join(g.as("b"),
        col("a.i") === col("b.j") && col("a.j") === col("b.i"))
      .filter(col("a.i") < col("a.j"))
      .select(col("a.i").as("i"), col("a.j").as("j"), col("a.cos").as("cos"),
        col("a.rk").as("rk_ij"), col("b.rk").as("rk_ji"))
  }

  /** Incremental k-NN graph maintenance: fold a NEW batch of vectors into
    * an existing [[knnGraph]] edge list without re-pairing the corpus.
    * Candidate pairs touch the batch only — batch×(corpus ∪ batch) within
    * shared LSH buckets — and re-ranking is EXACT by a subset argument: a
    * true union-top-k neighbor of any node is either a batch vector (in
    * the new candidates) or ranked ≤ k already (in the old edge list), so
    * ranking `old edges ∪ new edges` per node reproduces
    * `knnGraph(corpus ∪ batch)` bit-for-bit — the invariant the oracle
    * pins. The corpus is re-SCANNED (one bucket projection) but never
    * re-PAIRED: pair generation, the quadratic-risk stage, is
    * batch-proportional, the q113/q158 incremental contract.
    *
    * `oldEdges` must be the (i, j, cos, rk) output of [[knnGraph]] with
    * the same `bits`/`k`/cosine path over `corpus`.
    *
    * Fat-bucket valve (`maxBucket`/`extraBits`, threaded from
    * [[knnGraph]]): the batch×all candidate join refines any bucket
    * whose UNION population exceeds the cap with extra sign bits — the
    * identical rule a capped full rebuild applies, so the append path
    * cannot re-open the quadratic fan-out the valve exists for. The
    * bit-for-bit `append ≡ rebuild` invariant holds whenever NO bucket
    * crosses the cap (then refinement is a no-op on both paths —
    * `maxBucket = Long.MaxValue`, the default, always qualifies); when a
    * bucket grew past the cap between the corpus build and the append,
    * `oldEdges` was computed against pre-refinement buckets and the
    * result degrades to the standard LSH subset/recall trade (candidates
    * can only be lost, never invented — edges are a subset of the
    * corresponding uncapped append, ScaleSpec-pinned). */
  def knnGraphAppend(oldEdges: DataFrame, corpus: DataFrame, batch: DataFrame,
      id: Column, vec: Column, bits: Int, k: Int,
      maxBucket: Long = Long.MaxValue, extraBits: Int = 8): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    def keyed(df: DataFrame) = df.select(id.as("vid"), vec.as("v"))
      .withColumn("bucket", signBucket(col("v"), bits))
    val all0 = keyed(corpus.select(id, vec).unionByName(batch.select(id, vec)))
    val b0 = keyed(batch)
    val (all, b) =
      if (maxBucket == Long.MaxValue) (all0, b0)
      else {
        // sizes over the UNION — the same census a capped rebuild takes,
        // so both paths refine the same buckets the same way
        val sizes = all0.groupBy("bucket").agg(count(lit(1)).as("__bn"))
        def refine(df: DataFrame): DataFrame =
          df.join(broadcast(sizes), "bucket")
            .withColumn("bucket",
              when(col("__bn") > maxBucket,
                signBucket(col("v"), bits + extraBits) * 2 + 1)
                .otherwise(col("bucket") * 2))
            .drop("__bn")
        (refine(all0), refine(b0))
      }
    // batch×all bucket pairs, deduped of the batch×batch double match
    val cos = cosineNative(all, col("a.v"), col("b.v"))
    val newPairs = b.as("a").join(all.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vid") =!= col("b.vid"))
      .select(least(col("a.vid"), col("b.vid")).as("i"),
        greatest(col("a.vid"), col("b.vid")).as("j"), cos.as("cos"))
      .distinct()
    val newSym = newPairs.union(
      newPairs.select(col("j").as("i"), col("i").as("j"), col("cos")))
    oldEdges.select("i", "j", "cos").union(newSym)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("i")).orderBy(col("cos").desc, col("j"))))
      .filter(col("rk") <= k)
  }

  /** Graph-based semantic clustering: connected components over the
    * [[knnGraph]] thresholded at `minCos` — the grouping SemDeDup-style
    * pipelines use when near-dup sets CHAIN (A≈B≈C with cos(A,C) below
    * threshold still belong to one cluster; the pairwise-only dedup
    * misses the chain). Edges are the graph's undirected pairs kept when
    * EITHER endpoint ranks the other in its top-k; components come from
    * [[Dedup.dupClusters]] (pointer-halving label propagation,
    * checkpointable). Returns `(node, cluster)` with cluster = the
    * component's minimum id; vectors with no qualifying edge are absent
    * (singletons — callers left-join if totality matters).
    *
    * Scale shape: inherits knnGraph's bounded candidate generation (set
    * `maxBucket` against degenerate regions); the edge list is ≤ k·|V|
    * rows BY CONSTRUCTION, so the CC iterations shuffle a bounded graph,
    * never the vectors. `minIter`/`checkpointDir` pass through to the CC
    * loop for 100 TB runs. */
  def semanticClusters(df: DataFrame, id: Column, vec: Column, bits: Int,
      k: Int, minCos: Double, maxBucket: Long = Long.MaxValue,
      extraBits: Int = 8, checkpointDir: Option[String] = None): DataFrame = {
    // canonicalize AFTER the rank filter (an i<j filter instead would drop
    // edges where only the higher-id endpoint ranked the lower one top-k)
    val edges = knnGraph(df, id, vec, bits, k,
        maxBucket = maxBucket, extraBits = extraBits)
      .filter(col("cos") >= minCos)
      .select(least(col("i"), col("j")).as("i"),
        greatest(col("i"), col("j")).as("j"))
      .distinct()
    Dedup.dupClusters(edges, checkpointDir = checkpointDir)
  }

  /** One-hop k-NN label propagation — the semi-supervised labeling step
    * of embedding-space curation (spread a small human/classifier-labeled
    * seed set over the whole corpus by nearest-neighbor majority vote;
    * the cheap alternative to training a classifier per taxonomy change).
    * For every NON-seed vector: its `k` most-similar SEED vectors among
    * the sign-LSH bucket candidates vote with their labels; the winner is
    * the label with the most votes, ties broken by the smaller label
    * (integer votes only — never a float score sum, which would be
    * cross-engine summation-order-hazardous). Ranking happens AFTER the
    * restriction to seed targets, so the contract is "k nearest LABELED
    * neighbors", not "labeled members of the k nearest".
    *
    * Returns (id, label, votes, deg): winning label, its vote count, and
    * deg = total seed votes cast (≤ k). Non-seeds with no seed candidate
    * in their bucket are absent — callers union an IVF fallback if
    * totality matters (same contract as [[knnGraph]] isolates).
    *
    * Scale shape: candidates are [[bucketedPairs]] (or the capped variant
    * when `maxBucket` is set — same valve as [[knnGraph]]); the per-source
    * `row_number ≤ k` two-phases under InferWindowGroupLimit on the
    * high-cardinality key; the vote is a partial-aggregable count on ≤
    * k·|V| rows. Label metadata joins onto the EDGE list (bounded), never
    * fanned into the pair join. */
  def labelPropagate(df: DataFrame, id: Column, vec: Column, label: Column,
      isSeed: Column, bits: Int, k: Int, maxBucket: Long = Long.MaxValue,
      extraBits: Int = 8): DataFrame =
    knnVote(df, id, vec, label, isSeed, bits, k, maxBucket, extraBits,
      predictSeeds = false)

  /** Leave-one-out k-NN confusion matrix — the standard label-free-ish
    * audit of EMBEDDING quality: predict every labeled vector's label from
    * its k nearest OTHER labeled vectors ([[labelPropagate]] machinery
    * with every vector a seed; self-pairs never exist in the candidate
    * set) and cross-tabulate truth vs prediction. A strong embedding
    * concentrates mass on the diagonal; the off-diagonal cells name the
    * label pairs the space confuses — the report that decides whether
    * [[labelPropagate]] can be trusted before running it. Returns
    * (true_label, pred_label, n) counts, partial-aggregable. */
  def knnConfusion(df: DataFrame, id: Column, vec: Column, label: Column,
      bits: Int, k: Int, maxBucket: Long = Long.MaxValue,
      extraBits: Int = 8): DataFrame = {
    val preds = knnVote(df, id, vec, label, lit(true), bits, k, maxBucket,
      extraBits, predictSeeds = true)
    val truth = df.select(id.as("id"), label.as("true_label"))
    preds.join(truth, "id")
      .groupBy(col("true_label"), col("label").as("pred_label"))
      .agg(count(lit(1)).as("n"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, the CCMatrix
    * scoring rule): cross-side candidate pairs scored by the RATIO margin
    *
    *   margin(x,y) = cos(x,y) / ((nnavg(x) + nnavg(y)) / 2)
    *
    * where `nnavg(v)` averages v's k best cross-side candidate cosines —
    * the normalization that kills hub vectors (a vector similar to
    * EVERYTHING scores high raw cosine against anything; dividing by its
    * neighborhood average restores contrast). `side` partitions the corpus
    * (two languages for bitext, two snapshots for alignment); only
    * cross-side pairs are candidates and each side's neighborhood is
    * cross-side by construction, exactly the paper's setup.
    *
    * Returns undirected pairs (i, j, cos, margin) with margin on the
    * 6-decimal grid (nnavg is one sum ÷ count per node; summation-order
    * noise is ulps, far below the grid — the repo's standard ratio
    * discipline). Callers threshold/rank on the ROUNDED margin.
    *
    * Scale shape: candidates are [[bucketedPairs]] (or capped via
    * `maxBucket` — the [[knnGraph]] valve); the per-node top-k two-phases
    * under WindowGroupLimit; nnavg is a partial-aggregable sum/count;
    * metadata joins touch only the bounded edge list. */
  def marginBitextPairs(df: DataFrame, id: Column, vec: Column, side: Column,
      bits: Int, k: Int, maxBucket: Long = Long.MaxValue,
      extraBits: Int = 8): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val cand =
      (if (maxBucket == Long.MaxValue) bucketedPairs(df, id, vec, bits)
       else bucketedPairsCapped(df, id, vec, bits, maxBucket, extraBits))
        .select("i", "j", "cos")
    val meta = df.select(id.as("__nid"), side.cast("string").as("__side"))
    val si = meta.select(col("__nid").as("i"), col("__side").as("__si"))
    val sj = meta.select(col("__nid").as("j"), col("__side").as("__sj"))
    val cross = cand.join(si, "i").join(sj, "j")
      .filter(col("__si") =!= col("__sj"))
      .select("i", "j", "cos")
    val sym = cross.union(
      cross.select(col("j").as("i"), col("i").as("j"), col("cos")))
    val nnavg = sym
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("i")).orderBy(col("cos").desc, col("j"))))
      .filter(col("rk") <= k)
      .groupBy("i")
      .agg((sum("cos") / count(lit(1))).as("__avg"))
    cross
      .join(nnavg.select(col("i"), col("__avg").as("__ai")), "i")
      .join(nnavg.select(col("i").as("j"), col("__avg").as("__aj")), "j")
      .select(col("i"), col("j"), col("cos"),
        round(col("cos") / ((col("__ai") + col("__aj")) / 2), 6).as("margin"))
  }

  /** Fixed-iteration PageRank over a directed edge list, in INTEGER
    * arithmetic — graph centrality for embedding-space data selection
    * (rank corpus items by how often the neighborhood structure points at
    * them: central items anchor diverse subsets, orphans are candidates
    * for down-sampling). Scores live on an integer grid of `scale` units:
    *
    *   pr₀(v) = scale
    *   prₜ₊₁(v) = scale·(100−dampPct) DIV 100
    *              + dampPct · Σ_{u→v} (prₜ(u) DIV deg(u)) DIV 100
    *
    * Every operation is integer add / multiply / floor-divide, and the
    * per-target Σ is a sum of integers — order-free, so the result is
    * bit-identical across engines, partitionings and retries (float
    * PageRank is NOT: its Σ is summation-order-dependent). The DIV-floor
    * mass leak is deterministic and harmless for RANKING use. Input
    * contract: every node that appears must have ≥ 1 outgoing edge
    * ([[knnGraph]] output satisfies this by construction — a node enters
    * the graph only via its own ranked neighbor list); in-degree-less
    * nodes correctly decay toward the base term.
    *
    * Scale shape: each iteration is one join of the edge list (≤ k·|V| by
    * construction when fed from [[knnGraph]]) against the score table plus
    * one partial-aggregable sum — no window, no global sort; `iters` is a
    * small constant. Long chains at 100 TB: `checkpointDir` cuts every
    * iteration as a reliable [[Waist]] there (the [[Dedup.dupClusters]]
    * discipline); the caller owns the directory. */
  def pagerank(edges: DataFrame, iters: Int, dampPct: Long = 85,
      scale: Long = 1000000L, checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampPct >= 0 && dampPct <= 100, s"dampPct must be 0..100")
    val e = edges.select(col("i"), col("j"))
    val deg = e.groupBy("i").agg(count(lit(1)).as("__dg"))
    val nodes = e.select(col("i").as("v")).distinct()
    val base = scale * (100 - dampPct) / 100
    var pr = nodes.withColumn("pr", lit(scale))
    for (t <- 1 to iters) {
      val contrib = e
        .join(pr.withColumnRenamed("v", "i"), "i")
        .join(deg, "i")
        .select(col("j").as("v"), expr("pr DIV __dg").as("__sh"))
        .groupBy("v").agg(sum("__sh").as("__s"))
      pr = nodes.join(contrib, Seq("v"), "left")
        .select(col("v"),
          (lit(base) + expr(s"$dampPct * coalesce(__s, 0L) DIV 100"))
            .as("pr"))
      if (checkpointDir.isDefined) pr = Waist.cut(pr, checkpointDir)
    }
    pr
  }

  /** [[labelPropagate]] with MULTIPROBE candidate generation: each
    * non-seed also probes every bucket at Hamming distance 1 from its own
    * (flip one sign bit — the q49 multiprobe rule applied to the
    * propagation problem), so a non-seed whose own bucket has no seed
    * still finds labeled neighbors one hyperplane away. Closes most of
    * the isolate gap the strict-bucket contract leaves (q197 labels
    * 126/400 non-seeds at sf0.01; this labels 385/400) at the cost of
    * `bits + 1` probe keys per row — still a bounded equi-join on the
    * bucket key, never a scan of the seed set, and fully distributed
    * (nothing collects, unlike a driver-batched IVF probe). Vote
    * semantics, tie-break, and return shape are exactly
    * [[labelPropagate]]'s.
    *
    * Fat-bucket valve (`maxBucket`, the [[knnGraph]] trade): the probe
    * fan-out is `(bits + 1) probe keys × seeds in the probed bucket`, so
    * a degenerate SEED region (one bucket holding a large share of the
    * seed set) multiplies every nearby non-seed by that bucket's size.
    * When set, any probe key whose SEED population exceeds `maxBucket`
    * is refined with `extraBits` extra sign bits ON BOTH SIDES — the
    * non-seed contributes the extra sign bits of its OWN vector, so a
    * pair survives refinement only when the two vectors agree on them:
    * the same only-ever-splits subset argument as
    * [[bucketedPairsCapped]], ScaleSpec-pinned with a planted fat seed
    * bucket. Seed-bucket sizes travel as one broadcast agg. */
  def labelPropagateMultiprobe(df: DataFrame, id: Column, vec: Column,
      label: Column, isSeed: Column, bits: Int, k: Int,
      maxBucket: Long = Long.MaxValue, extraBits: Int = 8): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val nodes = df.select(id.as("__nid"), vec.as("__v"), label.as("__lbl"),
        isSeed.cast("boolean").as("__seed"))
      .withColumn("__b", signBucket(col("__v"), bits))
    val probes = array(col("__b") +:
      (0 until bits).map(b => col("__b").bitwiseXOR(lit(1L << b))): _*)
    val src0 = nodes.filter(!col("__seed"))
      .select(col("__nid").as("i"), col("__v").as("__vi"),
        explode(probes).as("__pb"))
    val dst0 = nodes.filter(col("__seed"))
      .select(col("__nid").as("j"), col("__b").as("__pb"),
        col("__lbl"), col("__v").as("__vj"))
    val (src, dst) =
      if (maxBucket == Long.MaxValue) (src0, dst0)
      else {
        val sizes = dst0.groupBy("__pb").agg(count(lit(1)).as("__bn"))
        // fat probe key → append the row's OWN extra sign bits (for a
        // seed, __pb + extra ≡ signBucket(v, bits + extraBits)); the ×2
        // level tag keeps refined keys from colliding with slim ones
        def refine(d: DataFrame, v: Column): DataFrame =
          d.join(broadcast(sizes.withColumnRenamed("__bn", "__sbn")),
              Seq("__pb"), "left")
            .withColumn("__pb",
              when(coalesce(col("__sbn"), lit(0L)) > maxBucket,
                (col("__pb") + signBucket(v, bits + extraBits)
                  - signBucket(v, bits)) * 2 + 1)
                .otherwise(col("__pb") * 2))
            .drop("__sbn")
        (refine(src0, col("__vi")), refine(dst0, col("__vj")))
      }
    val edges = src.join(dst, "__pb")
      .select(col("i"), col("j"),
        cosineNative(df, col("__vi"), col("__vj")).as("cos"), col("__lbl"))
    edges
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("i")).orderBy(col("cos").desc, col("j"))))
      .filter(col("rk") <= k)
      .groupBy(col("i"), col("__lbl"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("deg", sum(col("votes")).over(Window.partitionBy(col("i"))))
      .withColumn("vrk", row_number().over(
        Window.partitionBy(col("i")).orderBy(col("votes").desc, col("__lbl"))))
      .filter(col("vrk") === 1)
      .select(col("i").as("id"), col("__lbl").as("label"),
        col("votes"), col("deg"))
  }

  private def knnVote(df: DataFrame, id: Column, vec: Column, label: Column,
      isSeed: Column, bits: Int, k: Int, maxBucket: Long, extraBits: Int,
      predictSeeds: Boolean): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val cand =
      if (maxBucket == Long.MaxValue) bucketedPairs(df, id, vec, bits)
      else bucketedPairsCapped(df, id, vec, bits, maxBucket, extraBits)
    val pairs = cand.select("i", "j", "cos")
    val sym = pairs.union(
      pairs.select(col("j").as("i"), col("i").as("j"), col("cos")))
    val meta = df.select(id.as("__nid"), label.as("__lbl"),
      isSeed.cast("boolean").as("__seed"))
    // seed-target labels join on j; the non-seed source filter joins on i —
    // both against the bounded edge list, metadata never enters the pair join
    val dst = meta.filter(col("__seed"))
      .select(col("__nid").as("j"), col("__lbl"))
    val edges0 = sym.join(dst, "j")
    val edges =
      if (predictSeeds) edges0
      else edges0.join(
        meta.select(col("__nid").as("i"), col("__seed")), "i")
        .filter(!col("__seed"))
    val votes = edges
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("i")).orderBy(col("cos").desc, col("j"))))
      .filter(col("rk") <= k)
      .groupBy(col("i"), col("__lbl"))
      .agg(count(lit(1)).as("votes"))
    votes
      .withColumn("deg", sum(col("votes")).over(Window.partitionBy(col("i"))))
      .withColumn("vrk", row_number().over(
        Window.partitionBy(col("i")).orderBy(col("votes").desc, col("__lbl"))))
      .filter(col("vrk") === 1)
      .select(col("i").as("id"), col("__lbl").as("label"),
        col("votes"), col("deg"))
  }

  /** [[bucketedPairs]] with a per-bucket size cap: any bucket larger than
    * `maxBucket` is re-bucketed with `extraBits` additional sign bits, so a
    * single fat bucket (all-positive embeddings, a degenerate region of the
    * space) cannot go quadratic — the self-join fan-out per key is bounded
    * by the refined bucket sizes. Refinement only ever SPLITS a bucket
    * (agreeing on bits+extraBits sign bits implies agreeing on the first
    * bits), so the output is a subset of [[bucketedPairs]]' — the standard
    * recall-for-bound trade of every LSH scheme, spec-pinned with a planted
    * fat bucket. Bucket sizes travel via a broadcast join (one small agg,
    * no extra shuffle of vectors). */
  def bucketedPairsCapped(df: DataFrame, id: Column, vec: Column, bits: Int,
      maxBucket: Long, extraBits: Int = 8, native: Boolean = true): DataFrame = {
    val b = df.select(id.as("vid"), vec.as("v"))
      .withColumn("bucket", signBucket(col("v"), bits))
    val sizes = b.groupBy("bucket").agg(count(lit(1)).as("__bn"))
    // refined key space: shift leaves room for the level tag (fat buckets
    // re-keyed with more bits can collide numerically with slim ones)
    val refined = b.join(broadcast(sizes), "bucket")
      .withColumn("bucket",
        when(col("__bn") > maxBucket,
          signBucket(col("v"), bits + extraBits) * 2 + 1)
          .otherwise(col("bucket") * 2))
      .drop("__bn")
    val cos =
      if (native) cosineNative(df, col("a.v"), col("b.v"))
      else cosine(asDouble(col("a.v")), asDouble(col("b.v")))
    refined.as("a").join(refined.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("i"), col("b.vid").as("j"),
        col("a.bucket").as("bucket"), cos.as("cos"))
  }

  /** Cross-table approximate k-NN JOIN — for every LEFT row, its top-k
    * most-similar RIGHT rows among sign-LSH bucket candidates: the
    * retrieval join (query↔document matching, cross-corpus semantic
    * enrichment, hard-negative mining between corpora) for when BOTH
    * sides are too big to broadcast and per-query probing
    * ([[ivfTopKBatch]]) stops scaling with the query side. Both sides
    * bucket under the SAME deterministic hyperplanes ([[signBucket]] on
    * the first `bits` dims), candidates come from a bucket-equality hash
    * join — shuffle is by bucket key, never a cross product — and the
    * per-left-row `row_number ≤ k` two-phases under
    * InferWindowGroupLimit (the left id is high-cardinality).
    *
    * Fat-bucket valve, same trade as [[knnGraph]]: when `maxBucket` is
    * set, any bucket whose COMBINED (left + right) population exceeds it
    * re-buckets BOTH sides with `extraBits` extra sign bits (the
    * refinement decision must agree across sides, so sizes are counted
    * on the union and broadcast). Refinement only splits buckets, so the
    * candidate set is a subset of the uncapped one — edges can only be
    * lost, never invented (ScaleSpec-pinned). A left row alone in its
    * bucket is absent from the output — union an IVF/brute fallback for
    * totality. Same-id self-pairs are NOT filtered (the two tables are
    * arbitrary); callers joining a table to itself filter `i =!= j`.
    * Returns (i, j, cos, rk). */
  def annJoin(left: DataFrame, lId: Column, lVec: Column,
      right: DataFrame, rId: Column, rVec: Column, bits: Int, k: Int,
      maxBucket: Long = Long.MaxValue, extraBits: Int = 8): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val lb = left.select(lId.as("i"), lVec.as("__lv"))
      .withColumn("bucket", signBucket(col("__lv"), bits))
    val rb = right.select(rId.as("j"), rVec.as("__rv"))
      .withColumn("bucket", signBucket(col("__rv"), bits))
    val (lf, rf) =
      if (maxBucket == Long.MaxValue) (lb, rb)
      else {
        val sizes = lb.select("bucket").unionAll(rb.select("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("__bn"))
        def refine(df: DataFrame, v: Column): DataFrame =
          df.join(broadcast(sizes), "bucket")
            .withColumn("bucket",
              when(col("__bn") > maxBucket,
                signBucket(v, bits + extraBits) * 2 + 1)
                .otherwise(col("bucket") * 2))
            .drop("__bn")
        (refine(lb, col("__lv")), refine(rb, col("__rv")))
      }
    lf.join(rf, "bucket")
      .select(col("i"), col("j"),
        cosineNative(left, col("__lv"), col("__rv")).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("i")).orderBy(col("cos").desc, col("j"))))
      .filter(col("rk") <= k)
  }
}
