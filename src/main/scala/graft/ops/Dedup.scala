package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.PortableHash
import graft.ops.ExactRound

/** Deduplication operators for training-data pipelines, smallest-to-largest
  * hammer: exact → fingerprint → SimHash → signature filter →
  * shingle-Jaccard → directed containment → MinHash-LSH → transitive
  * clusters.
  *
  * Scale design (100 TB):
  *  - exact/fingerprint dedup is one hash-shuffle on a 16-byte key — the
  *    cheapest possible distributed dedup; prefer it whenever content is
  *    byte-identical after normalization.
  *  - pairwise Jaccard is never run all-pairs: candidates come either from a
  *    shared-shingle join (sparse when shingles are informative) or from
  *    MinHash-LSH banding, which bounds the join fan-out by bucket.
  *  - MinHash signatures are computed as k conditional-min aggregates in ONE
  *    groupBy pass (no seed explosion, map-side partial aggregation), so the
  *    shuffle carries one row of k longs per document.
  *  - all hashes are [[PortableHash]] md5-derived → reproducible anywhere.
  */
object Dedup {

  /** Exact duplicate statistics over a normalized key. */
  def exactDupStats(df: DataFrame, key: Column): DataFrame =
    df.groupBy(key.as("dup_key")).agg(count(lit(1)).as("copies"))
      .filter(col("copies") > 1)

  /** Keep one row per exact key (first by `tieBreak` — deterministic, unlike
    * dropDuplicates which keeps an arbitrary row). */
  def dedupExact(df: DataFrame, key: Column, tieBreak: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("__rn",
        row_number().over(Window.partitionBy(key).orderBy(tieBreak)))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Anti-join with a broadcast BLOOM pre-filter: keep the `incoming` rows
    * whose `key` is NOT in `corpus` — bit-identical to a plain left_anti
    * join (spec-pinned; the oracle replays it as SQL `NOT IN`) but with the
    * 100 TB shape: a Bloom filter built from the corpus keys (one
    * aggregation, driver-sized bit array) broadcasts to every task, and
    * rows the filter proves DEFINITELY ABSENT (Bloom has no false
    * negatives) skip the shuffle join entirely. Only the "might contain"
    * remainder — true matches plus the `fpp` sliver of false positives —
    * pays the exact verify join, so the join's probe side shrinks from
    * |incoming| to |matches|/(1-fpp)-ish. This is the standard
    * decontamination / incremental-ingest fast path when the corpus key
    * set is too big to broadcast as a hash set but its Bloom bits are not
    * (1 GB of bits covers ~10^9 keys at 1% fpp).
    *
    * `expectedItems` sizes the filter — overshoot only wastes bits,
    * undershoot inflates fpp (never correctness, the verify join catches
    * every false positive). The membership probe is a native codegen
    * expression over the broadcast sketch
    * ([[graft.functions.BloomMightContainKey]]): one bit-test fused into
    * the scan's WholeStageCodegen, no per-row SerDe (the r9 formulation
    * was a Scala UDF — correct but an opaque invoke with UTF8String→String
    * conversion per row on the path whose whole point is cheap dismissal).
    *
    * One-scan shape: the probe is evaluated once into a NULL-GATED join
    * key — suspects carry the key, definite-absents carry null, and a
    * null key can never equal anything, so the left_anti join passes
    * those rows through untouched while suspects pay the exact verify.
    * `incoming` is read exactly once (PlanSpec-pinned); the earlier
    * two-branch filter∪filter shape re-scanned the source, 2× the I/O of
    * the operator it accelerates at 100 TB. The gated rows do hash to the
    * verify exchange's single null partition; AQE's OptimizeSkewedJoin
    * splits the left side of a LeftAnti join and the matching corpus-side
    * partition holds no nulls (filtered at build), so the null partition
    * splits into trivially-empty probes at scale.
    *
    * Key contract: BOTH the Bloom probe and the verify join compare the
    * key's canonical string rendering, so filter and join can never
    * disagree (a typed join with a string probe would wrongly keep a
    * mixed-type row whose typed equality holds while renderings differ —
    * INT 5 vs DOUBLE 5.0). Same-typed keys are asserted at call time;
    * for them string equality coincides with native equality (every
    * in-repo caller joins md5 strings), keeping the spec-pinned
    * bit-identity with the plain left_anti join. */
  def antiJoinWithBloom(incoming: DataFrame, key: Column, corpus: DataFrame,
      corpusKey: Column, expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val spark = incoming.sparkSession
    val kt = incoming.select(key).schema.head.dataType
    val ct = corpus.select(corpusKey).schema.head.dataType
    require(kt == ct,
      s"antiJoinWithBloom: key type $kt must equal corpus key type $ct — " +
      "the probe and join compare canonical string renderings, which only " +
      "coincide with typed equality for same-typed keys")
    val keyed = corpus.select(corpusKey.cast("string").as("__k"))
      .where(col("__k").isNotNull)
    // empty corpus: nothing can match, the anti join keeps everything —
    // and Spark's stat.bloomFilter NPEs on an empty aggregation, so the
    // guard is correctness, not just a fast path (limit-1 probe, cheap)
    if (keyed.isEmpty) return incoming
    val bf = keyed.stat.bloomFilter("__k", math.max(expectedItems, 1L), fpp)
    val bc = spark.sparkContext.broadcast(bf)
    val sKey = key.cast("string")
    val might = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.BloomMightContainKey(
        org.apache.spark.sql.GraftColumnBridge.expression(sKey), bc))
    incoming
      .withColumn("__bloom_jk", when(might, sKey))
      .join(keyed.select(col("__k").as("__ck")).distinct(),
        col("__bloom_jk") === col("__ck"), "left_anti")
      .drop("__bloom_jk")
  }

  /** N-gram-overlap benchmark decontamination — the published eval-leakage
    * rule (GPT-3's 13-gram filter, Brown et al. NeurIPS'20 App. C; PaLM and
    * Llama use the same shape): for each incoming document, the fraction of
    * its DISTINCT word n-grams that appear anywhere in the benchmark
    * corpus, plus a `contaminated` flag at `threshold`. Where
    * [[antiJoinWithBloom]] removes EXACT key matches, this catches partial
    * containment — an eval question quoted inside an otherwise-novel page.
    *
    * Scale shape: benchmarks are small by definition (MBs of eval sets vs
    * a 100 TB corpus), so the benchmark's distinct n-gram set BROADCASTS
    * (`broadcastBench`, default true) and the only shuffle is the per-doc
    * hit count's hash aggregation — the corpus text itself never shuffles.
    * Set `broadcastBench = false` for a pathological benchmark too big to
    * broadcast; the membership join then shuffles on the gram. The overlap
    * ratio is one IEEE division of two exact counts (cross-engine
    * bit-stable); the flag compares the UNROUNDED ratio.
    *
    * One-scan shape: `incoming` is read ONCE — its exploded grams LEFT-join
    * the benchmark set with a match indicator, and a single per-doc
    * aggregation counts total and matched grams together (PlanSpec-pinned:
    * one shuffle). A semi-join formulation would drop the non-matching
    * grams and force a second scan plus an id-to-id join to recover the
    * denominator. `shingles()` first-occurrence-dedups per doc, so both
    * counts are over DISTINCT grams. Rows with NULL `text` produce no
    * grams and are absent from the output. */
  def ngramOverlap(incoming: DataFrame, id: Column, text: Column,
      benchmark: DataFrame, benchText: Column, n: Int, threshold: Double,
      broadcastBench: Boolean = true): DataFrame = {
    val benchGrams = benchmark
      .select(explode(shingles(benchText, n)).as("__g")).distinct()
      .withColumn("__in", lit(1))
    val bg = if (broadcastBench) broadcast(benchGrams) else benchGrams
    val ratio = col("__hit") / col("__tot")
    incoming.select(id.as("id"), explode(shingles(text, n)).as("__g"))
      .join(bg, Seq("__g"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("__tot"), count(col("__in")).as("__hit"))
      // overlap is an exact count rational: round half-up in integer
      // space (ExactRound), never round() the IEEE quotient — the q169
      // tie class. The threshold compare keeps the raw single-division
      // quotient (one correctly-rounded IEEE op, engine-identical).
      .select(col("id"),
        ExactRound.ratioRounded("__hit", "__tot", 6).as("overlap"),
        (ratio >= threshold).as("contaminated"))
  }

  /** MOSS-grade FUZZY decontamination flags: how many winnowed
    * fingerprints ([[TextAnalysis.winnowedPrints]] — k-gram hashes,
    * w-window min selection) each incoming document shares with the
    * benchmark's print set. The exact-n-gram rule ([[ngramOverlap]],
    * GPT-3's 13-gram filter) misses lightly-edited contamination; the
    * winnowing guarantee (any shared token run ≥ w+k−1 contributes at
    * least one shared print) catches a benchmark passage pasted into an
    * otherwise-rewritten page, while comparing print sets ~w× smaller
    * than gram sets.
    *
    * Scale shape: identical to [[ngramOverlap]] — the benchmark is small
    * by definition, so its distinct print set BROADCASTS; the corpus side
    * is one per-row print projection + explode + broadcast left join +
    * one per-doc aggregation. The corpus text itself never shuffles.
    * Prints are distinct per doc (winnowedPrints dedups), so `n_shared`
    * counts distinct shared prints. Docs with fewer than k tokens have
    * no prints and are ABSENT from the output (same convention as
    * ngramOverlap — treat absent as clean). */
  def printOverlap(incoming: DataFrame, id: Column, text: Column,
      benchmark: DataFrame, benchText: Column, k: Int, w: Int,
      minShared: Long, broadcastBench: Boolean = true): DataFrame = {
    require(minShared >= 1L, s"minShared must be >= 1, got $minShared")
    val benchPrints = benchmark
      .select(explode(TextAnalysis.winnowedPrints(benchText, k, w)).as("__p"))
      .distinct().withColumn("__in", lit(1))
    val bp = if (broadcastBench) broadcast(benchPrints) else benchPrints
    incoming
      .select(id.as("id"), explode(TextAnalysis.winnowedPrints(text, k, w)).as("__p"))
      .join(bp, Seq("__p"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_prints"), count(col("__in")).as("n_shared"))
      .select(col("id"), col("n_prints"), col("n_shared"),
        (col("n_shared") >= minShared).as("contaminated"))
  }

  /** SEMANTIC decontamination — drop every incoming document whose
    * EMBEDDING is ≥ `minCos` similar to any benchmark embedding: catches
    * paraphrased/translated eval contamination that no lexical rule
    * (exact 13-grams q130, winnowed prints q183) can see, at the cost of
    * trusting the embedding space. The benchmark is small by definition,
    * so the plan is ONE broadcast nested-loop ANTI join with the fused
    * codegen cosine as its condition — the corpus streams through in a
    * single pass, nothing shuffles, no index required. (For benchmark
    * sets too big to broadcast, block both sides through
    * [[graft.ops.Similarity.annJoin]] instead and anti-join its hits.) */
  def semanticDecontaminate(incoming: DataFrame, vec: Column,
      benchmark: DataFrame, benchVec: Column, minCos: Double): DataFrame = {
    val bench = broadcast(benchmark.select(benchVec.as("__bv")))
    incoming.join(bench,
      Similarity.cosineNative(incoming, vec, col("__bv")) >= minCos,
      "left_anti")
  }

  /** Survivor half of [[printOverlap]]: the incoming rows whose document
    * does NOT share ≥ `minShared` winnowed prints with the benchmark.
    * The flagged-id set is the anti-join's build side; it is bounded by
    * the contamination rate, and AQE turns the anti join into a
    * broadcast when it is small (the healthy case). */
  def decontaminateByPrints(incoming: DataFrame, id: Column, text: Column,
      benchmark: DataFrame, benchText: Column, k: Int, w: Int,
      minShared: Long): DataFrame = {
    val flagged = printOverlap(incoming, id, text, benchmark, benchText,
        k, w, minShared)
      .filter(col("contaminated")).select(col("id").as("__cid"))
    incoming.join(flagged, id === col("__cid"), "left_anti")
  }

  /** Word n-gram shingles of `text`, distinct — the native one-pass
    * [[graft.functions.WordShingles]] expression (first-occurrence dedup,
    * `<n`-token texts shingle to `[text]`). Built directly from the
    * expression, NOT via the function registry, so it resolves on ANY
    * session — a bare Column carries no session to register against. */
  def shingles(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.WordShingles(
        org.apache.spark.sql.GraftColumnBridge.expression(text), n))

  /** The composable-functions formulation of [[shingles]] — value-identical
    * (property-tested in OpsSpec), kept as the executable spec of the native
    * expression. NOT used in query paths: the lambda body's free-variable
    * `split` is re-evaluated per shingle (O(L²) string work per doc,
    * measured 10× slower than [[WordShingles]]'s single pass). */
  def shinglesComposable(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array(text)))
  }

  /** DuckDB twin of [[shingles]] (oracle construction; assumes len>=n as the
    * corpus guarantees). */
  def shinglesSql(col: String, n: Int): String =
    s"""list_distinct(list_transform(generate_series(1, len(str_split($col,' ')) - ${n - 1}),
       | i -> array_to_string((str_split($col,' '))[i:i+${n - 1}], ' ')))""".stripMargin

  /** (id, shingle) exploded pairs. */
  def shingleSets(df: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    df.select(id.as("doc"), explode(shingles(text, n)).as("shingle"))

  /** |A ∩ B| over the sorted per-doc shingle-hash arrays — the native
    * zero-allocation merge ([[graft.functions.SortedIntersectCount]]),
    * value-identical to `size(array_intersect(a, b))` on its inputs
    * (OpsSpec property pin). The verify kernel of every pair stage. */
  private def intersectCount(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.SortedIntersectCount(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  /** Per-document shingle profile: `doc`, `hs` (sorted shingle-hash array —
    * the exact-verify input), `n` (set size), `pre` (the rarest-first
    * prefix of length |S| − ⌈t·|S|⌉ + 1, df-capped — the candidate-join
    * input).
    *
    * NO caching of the exploded set: with the native shingle expression the
    * explode is cheaper to recompute than to materialize (measured at
    * sf0.1: cold run 3.2 s uncached vs 11.1 s cached), Spark's
    * ReusedExchange covers the shared shuffles, and zero storage footprint
    * means an iterative caller can't accumulate blocks.
    *
    * ONE groupBy(doc) replaces a window pass: the (df, h)-sorted struct
    * array IS the rarest-first ranking (array_sort on structs is
    * lexicographic), so the verify array, the set size, and the prefix all
    * project straight out of it — one shuffle of the exploded set, no
    * per-partition window sort. Document frequency comes from a partial-agg
    * groupBy + join back: the map-side combine shuffles ~|vocab| partial
    * rows instead of the full exploded set, and AQE turns the join-back
    * into a broadcast when the df table is small. */
  private def shingleProfile(df: DataFrame, id: Column, text: Column, n: Int,
      t: Double, maxDf: Long): DataFrame = {
    val sets = shingleSets(df, id, text, n)
      .select(col("doc"), xxhash64(col("shingle")).as("h"))
    val dfreq = sets.groupBy("h").agg(count(lit(1)).as("df"))
    val profile = sets.join(dfreq, "h")
      .groupBy("doc")
      .agg(array_sort(collect_list(struct(col("df"), col("h")))).as("a"))
    // α = ⌈t·|S|⌉ is the minimum overlap the threshold implies, so the
    // first |S| − α + 1 rarest shingles must witness any qualifying pair;
    // the 1e-9 guards FP ceil overshoot (a longer prefix is always safe, a
    // shorter one can miss pairs). maxDf prunes inside the prefix only —
    // identical selection to ranking-then-filtering
    val prefixLen = (size(col("a")) -
      ceil(lit(t) * size(col("a")) - lit(1e-9)) + 1).cast("int")
    profile.select(col("doc"),
      array_sort(transform(col("a"), x => x.getField("h"))).as("hs"),
      size(col("a")).as("n"),
      transform(
        filter(slice(col("a"), lit(1), prefixLen),
          x => x.getField("df") <= maxDf),
        x => x.getField("h")).as("pre"))
  }

  /** All pairs with shingle-Jaccard ≥ `minJaccard` — exact, via a
    * prefix-filtered set-similarity join (the AllPairs/PPJoin family:
    * Bayardo et al. WWW'07, Xiao et al. WWW'08).
    *
    * Under one global rarest-first shingle ordering, two sets with
    * J ≥ t MUST share a shingle among their first |S| − ⌈t·|S|⌉ + 1
    * shingles (prefix-filtering lemma), so only those prefixes enter the
    * candidate join. At t=0.8 that is ~1/5 of each set, shrinking the
    * quadratic term ~25×; hot stop-shingles sort to the END of the rarest-
    * first order and stay out of the join entirely unless a document is
    * made of nothing else. Verification then computes exact Jaccard from
    * one sorted hash array per document (`array_intersect`), so candidates
    * cost one tiny join each instead of re-shuffling the exploded shingle
    * table. Join/array keys are `xxhash64(shingle)` — an 8-byte key; a
    * 2^-64 collision could merge two shingles, noise at any corpus size.
    *
    * `maxDf` (default: no cap) additionally drops shingles with document
    * frequency > maxDf from candidate generation — the skew valve for
    * adversarial corpora (a boilerplate line shared by millions of docs
    * would otherwise be a quadratic join key at 100 TB). Output is
    * unchanged whenever maxDf ≥ the corpus's true max prefix-shingle df
    * (property-tested in OpsSpec); below that it trades recall for a hard
    * bound on per-key join fan-out. */
  def jaccardPairs(df: DataFrame, id: Column, text: Column, n: Int,
      minJaccard: Double, maxDf: Long = Long.MaxValue): DataFrame = {
    val docsets = shingleProfile(df, id, text, n, minJaccard, maxDf)
    val prefix = docsets.select(col("doc"), col("n"),
      posexplode(col("pre")).as(Seq("p", "h")))
    // AllPairs length filter: J ≥ t forces t·|A| ≤ |B| ≤ |A|/t (|∩| ≤
    // min(|A|,|B|), |∪| ≥ max(|A|,|B|)), so size-incompatible candidates
    // leave the join before the distinct + exact verify (measured 2.7×
    // fewer candidates at t=0.8, sf0.1). The 1e-9 slack absorbs FP
    // overshoot in t·n (0.8·5 > 4 in doubles) — prune-only, never drops a
    // qualifying pair.
    // PPJoin positional filter (Xiao WWW'08): a match at 0-based rank
    // position p bounds the overlap by 1 + min(|A|−p_a−1, |B|−p_b−1); J ≥ t
    // needs overlap ≥ α = ⌈t/(1+t)·(|A|+|B|)⌉, so positions too deep to
    // reach α are pruned in the same join. Under a maxDf cap the prefix is
    // position-SHIFTED left, which only loosens the bound — still
    // prune-only. The 1e-9 here guards ceil overshoot in the OTHER
    // direction (a too-large α would over-prune).
    val alpha = ceil(
      (lit(minJaccard) / (1 + minJaccard)) * (col("a.n") + col("b.n")) - lit(1e-9))
    val overlapBound =
      lit(1) + least(col("a.n") - col("a.p") - 1, col("b.n") - col("b.p") - 1)
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.doc") < col("b.doc") &&
          col("a.n") * minJaccard <= col("b.n") + lit(1e-9) &&
          col("b.n") * minJaccard <= col("a.n") + lit(1e-9) &&
          overlapBound >= alpha)
      .select(col("a.doc").as("i"), col("b.doc").as("j"))
      .distinct()
    verifyPairs(cands, docsets.select("doc", "hs", "n"), minJaccard)
  }

  /** All DIRECTED pairs with shingle-containment
    * `|S_i ∩ S_j| / |S_i| ≥ minContainment` — quote/boilerplate detection:
    * i is the contained side, so a short document pasted inside a long one
    * scores ~1.0 here while its Jaccard is tiny. Exact, via the asymmetric
    * prefix filter: if containment ≥ t then S_j must hit one of S_i's
    * rarest |S_i| − ⌈t·|S_i|⌉ + 1 shingles (at most (1−t)·|S_i| of S_i can
    * be missed), so only i-side PREFIXES join against j-side FULL sets —
    * j-side keys only materialize where an i-prefix key exists, which also
    * bounds the fan-out by the same `maxDf` cap. */
  def containmentPairs(df: DataFrame, id: Column, text: Column, n: Int,
      minContainment: Double, maxDf: Long = Long.MaxValue): DataFrame = {
    val docsets = shingleProfile(df, id, text, n, minContainment, maxDf)
    val aPre = docsets.select(col("doc"), col("n"),
      posexplode(col("pre")).as(Seq("p", "h")))
    val bAll = docsets.select(col("doc"), col("n"), explode(col("hs")).as("h"))
    // asymmetric length filter: containment ≥ t forces |B| ≥ |A∩B| ≥ t·|A|
    // (one direction only — B may be arbitrarily larger). Same prune-only
    // 1e-9 FP-overshoot slack as [[jaccardPairs]]. The positional bound
    // applies on the i side only (b explodes `hs`, hash-ordered, so b
    // positions carry no rank meaning): a match at rank position p_a caps
    // the overlap at |A| − p_a, which must still reach ⌈t·|A|⌉
    val cands = aPre.as("a")
      .join(bAll.as("b"),
        col("a.h") === col("b.h") && col("a.doc") =!= col("b.doc") &&
          col("a.n") * minContainment <= col("b.n") + lit(1e-9) &&
          col("a.n") - col("a.p") >=
            ceil(col("a.n") * minContainment - lit(1e-9)))
      .select(col("a.doc").as("i"), col("b.doc").as("j"))
      .distinct()
    cands
      .join(docsets.as("da"), col("i") === col("da.doc"))
      .join(docsets.as("db"), col("j") === col("db.doc"))
      // same contract as [[verifyPairs]]: raw quotient for thresholding,
      // ExactRound 1e-6-grid BIGINT for any rounded OUTPUT
      .select(col("i"), col("j"),
        (intersectCount(col("da.hs"), col("db.hs")).cast("double") /
          col("da.n")).as("containment"),
        ExactRound.gridMicroCol(
          intersectCount(col("da.hs"), col("db.hs")),
          col("da.n"), 6).as("cont_micro"))
      .filter(col("containment") >= minContainment)
  }

  /** Exact Jaccard for candidate (i, j) pairs against a one-row-per-doc
    * table of sorted shingle-hash arrays: two slim joins on doc id +
    * `array_intersect`, never touching the exploded shingle table. */
  private def verifyPairs(cands: DataFrame, docsets: DataFrame,
      minJaccard: Double): DataFrame =
    cands
      .join(docsets.as("da"), col("i") === col("da.doc"))
      .join(docsets.as("db"), col("j") === col("db.doc"))
      .select(col("i"), col("j"),
        intersectCount(col("da.hs"), col("db.hs")).as("inter"),
        col("da.n").as("na"), col("db.n").as("nb"))
      // `jaccard` stays the raw single-division quotient (threshold
      // compares are engine-safe on it); `jacc_micro` is the half-up
      // 1e-6-grid BIGINT (ExactRound) — any OUTPUT of a rounded jaccard
      // must derive from it, never from round(jaccard, 6), whose exact
      // .5 ties flip across engines (the q169 class)
      .select(col("i"), col("j"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jaccard"),
        ExactRound.gridMicroCol(col("inter"),
          col("na") + col("nb") - col("inter"), 6).as("jacc_micro"))
      .filter(col("jaccard") >= minJaccard)

  /** MinHash signature: k min-hashes over `n`-shingles in ONE aggregation
    * pass — one md5 per shingle, k affine-derived hash functions
    * ([[PortableHash.derivedHash]]). Output: `doc`, `s0..s{k-1}`. */
  def minhashSignatures(df: DataFrame, id: Column, text: Column, n: Int,
      k: Int): DataFrame = {
    val sets = shingleSets(df, id, text, n)
      .withColumn("h", PortableHash.baseHash(col("shingle")))
    val hashes = (0 until k).map(j =>
      min(PortableHash.derivedHash(col("h"), j)).as(s"s$j"))
    sets.groupBy("doc").agg(hashes.head, hashes.tail: _*)
  }

  /** MinHash signature via the single-buffer [[graft.functions.MinHashSketch]]
    * typed imperative aggregate (one k-long buffer per group with partial
    * merge, instead of k separate min aggregates). Bit-equal output to
    * [[minhashSignatures]]. */
  def minhashSignaturesSketch(df: DataFrame, id: Column, text: Column, n: Int,
      k: Int): DataFrame = {
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    shingleSets(df, id, text, n)
      .groupBy("doc")
      .agg(call_function("minhash_sketch", col("shingle"), lit(k)).as("sig"))
      .select(col("doc") +: (0 until k).map(j =>
        element_at(col("sig"), j + 1).as(s"s$j")): _*)
  }

  /** MinHash signature as a pure per-row projection — the
    * [[graft.functions.MinHashSignature]] native expression. Bit-equal to
    * [[minhashSignatures]]/[[minhashSignaturesSketch]] but with NO explode,
    * NO shuffle, NO aggregation state: a map stage fused into the scan, the
    * shape signature-only consumers (banding, fingerprint columns,
    * streaming dedup) want at 100 TB. */
  def minhashSignaturesRowwise(df: DataFrame, id: Column, text: Column,
      n: Int, k: Int): DataFrame = {
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    // the aggregation forms DROP null-text docs (explode of null emits no
    // row); filter here so all three formulations stay bit-equal
    df.where(text.isNotNull)
      .select(id.as("doc"),
        call_function("minhash_signature", text, lit(n), lit(k)).as("sig"))
      .select(col("doc") +: (0 until k).map(j =>
        element_at(col("sig"), j + 1).as(s"s$j")): _*)
  }

  /** Fuzzy dedup on the full MinHash signature: keep ONE document per
    * signature. Because the signature is a stateless projection
    * ([[minhashSignaturesRowwise]]), this composes with stateful dedup on
    * an append-mode stream — an explode+groupBy signature could not run
    * pre-dedup there. Exact-duplicate and heavily-overlapping texts
    * (collision probability ≈ J^k for Jaccard J) collapse; k tunes the
    * strictness.
    *
    * Keep policy: batch keeps the MINIMUM `id` per signature (rerun-
    * deterministic, matching the library's dedup discipline); a streaming
    * input keeps the first arrival (the only option without a shuffle-able
    * history, and deterministic in arrival order). Null-text rows are
    * never collapsed with each other — each gets a per-id key. */
  def nearDupFilterBySignature(df: DataFrame, id: Column, text: Column,
      n: Int, k: Int): DataFrame = {
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    val keyed = df.withColumn("__sig",
      coalesce(
        call_function("minhash_signature", text, lit(n), lit(k)).cast("string"),
        concat(lit("null-text:"), id.cast("string"))))
    val kept =
      if (df.isStreaming) keyed.dropDuplicates("__sig")
      else dedupExact(keyed, col("__sig"), id)
    kept.drop("__sig")
  }

  /** INCREMENTAL corpus dedup: drop incoming rows that (near-)duplicate an
    * EXISTING corpus, touching only the corpus's MinHash signature index —
    * never its text. The production shape for continuous ingestion at
    * 100 TB: the corpus side is k longs per document (its signature table,
    * built once by any of the bit-equal signature formulations —
    * [[minhashSignaturesRowwise]] at write time, typically — and stored;
    * pair it with [[graft.ops.Layout.writeBucketed]] on `doc` for
    * shuffle-free recurring runs), the incoming batch computes its own
    * signatures in a map stage, LSH banding bounds the candidate join
    * exactly as in [[minhashLshPairs]], and the verify is the standard
    * unbiased MinHash Jaccard estimate — the number of agreeing signature
    * components — compared as an INTEGER (`agree ≥ ⌈t·k⌉`, no cross-engine
    * float boundary). Exact duplicates agree on all k components, so the
    * exact case needs no separate pass. Null-text incoming rows carry no
    * signature and always survive. */
  def dedupAgainstCorpus(incoming: DataFrame, id: Column, text: Column,
      corpusIndex: DataFrame, n: Int, k: Int, bands: Int,
      minEstJaccard: Double): DataFrame = {
    val minAgree = math.ceil(minEstJaccard * k - 1e-9).toInt
    val inSig = minhashSignaturesRowwise(incoming, id, text, n, k)
    val cands = lshBands(inSig, k, bands).as("a")
      .join(lshBands(corpusIndex, k, bands).as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(col("a.doc").as("i"), col("b.doc").as("j"))
      .distinct()
    val agree = (0 until k)
      .map(j => when(col(s"ai.s$j") === col(s"ci.s$j"), 1).otherwise(0))
      .reduce(_ + _)
    val dropped = cands
      .join(inSig.as("ai"), col("i") === col("ai.doc"))
      .join(corpusIndex.as("ci"), col("j") === col("ci.doc"))
      .filter(agree >= minAgree)
      .select(col("i")).distinct()
    incoming.join(dropped, id === col("i"), "left_anti")
  }

  /** Symmetric RELEASE MERGE — the composition a quarterly re-crawl runs:
    * union two already-internally-deduped releases, resolving CROSS-release
    * (near-)duplicates by keeping the EARLIER release's canonical (the
    * keep-first discipline at release granularity). `earlier` survives
    * unconditionally; a row of `later` survives iff no LSH-banded
    * candidate in `earlier` agrees on ≥ ⌈t·k⌉ MinHash components —
    * exactly [[dedupAgainstCorpus]] with the earlier release as the
    * corpus, so the contract carries over: the earlier release
    * participates ONLY through its signature index (`earlierIndex`, built
    * once at release-write time by any bit-equal signature formulation
    * and stored — its text is never re-read, never re-paired), the later
    * release computes its own signatures in a map stage, and banding
    * bounds the candidate join. Later-vs-later pairs are NOT examined:
    * internal dedup of each input is the stated precondition (run
    * [[nearDupFilterBySignature]]/[[dedupFuzzy]] per release first).
    *
    * Both frames must share the output schema (`unionByName`) and ids
    * must be globally unique across releases (offset one side if the
    * release pipelines number independently). Scale shape: the merged
    * output is written once per release cycle; nothing here shuffles more
    * than the banded candidate set, so the merge costs one incremental
    * dedup of the SMALLER (new) release — never a re-dedup of the
    * accumulated corpus. */
  def mergeReleases(earlier: DataFrame, later: DataFrame, id: Column,
      text: Column, earlierIndex: DataFrame, n: Int, k: Int, bands: Int,
      minEstJaccard: Double): DataFrame = {
    val keptLater = dedupAgainstCorpus(later, id, text, earlierIndex,
      n, k, bands, minEstJaccard)
    earlier.unionByName(keptLater)
  }

  /** One admission STEP of the evolving-index gate ([[admitWaves]] and
    * [[graft.streaming.TextStream.evolvingGate]] share it — batch ≡ stream
    * from one code path): admit `batch` against (a) its own wave-mates and
    * (b) the accumulated ADMITTED-signature `index`.
    *
    * Within the wave the rule is ANY-SMALLER-ID-KILLS: a doc dies iff some
    * smaller-id wave-mate band-collides and agrees on ≥ ⌈t·k⌉ MinHash
    * components. For exact duplicates (identical signatures) this is
    * exactly [[dedupExact]]'s min-id survivor; for near-dup CHAINS it is
    * deliberately CONSERVATIVE — a doc whose killer itself died still dies
    * (batch-expressible as one self-join, no sequential scan, no connected
    * components; the survivor set is the collision graph's LOCAL minima,
    * which never keeps two mutually-similar docs). Against the index only
    * ADMITTED docs kill — the index holds admitted signatures only (the
    * corpus-dedup contract), so a rejected arrival never suppresses a
    * later one across waves. Null-text rows carry no signature and always
    * survive (feed tokenizable documents — the [[dedupAgainstCorpus]]
    * caveat).
    *
    * Scale shape: both kill passes are LSH-banded equi joins
    * ([[lshBands]]), so the quadratic term is bounded by band-bucket
    * occupancy, never by wave or corpus size. */
  def admitStep(batch: DataFrame, id: Column, text: Column,
      index: DataFrame, n: Int, k: Int, bands: Int,
      minEstJaccard: Double): DataFrame = {
    // signatures persist only while the dead-id waist is cut: the kill
    // passes reference them six times (recomputing the MinHash per
    // reference was measured at >100 cpu-s per wave at sf0.1). The
    // returned plan is one anti hash join against that waist.
    val sig = minhashSignaturesRowwise(batch, id, text, n, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dead =
      try Waist.cut(deadIdsWithSig(sig, index, k, bands,
        math.ceil(minEstJaccard * k - 1e-9).toInt))
      finally sig.unpersist(false)
    batch.join(dead, id === col("i"), "left_anti")
  }

  /** [[admitStep]]'s core over a PRE-MATERIALIZED signature frame —
    * callers that also need the signatures (the wave fold's index
    * increment, the streaming gate's parquet increment) persist `sig`
    * once and share it here. */
  private[graft] def admitWithSig(batch: DataFrame, id: Column,
      sig: DataFrame, index: DataFrame, k: Int, bands: Int,
      minAgree: Int): DataFrame =
    batch.join(deadIdsWithSig(sig, index, k, bands, minAgree),
      id === col("i"), "left_anti")

  /** The ids KILLED by one admission step (within-wave any-smaller-id +
    * against-index), over a pre-materialized signature frame — the two
    * LSH-banded kill passes shared by [[admitStep]] / [[admitWithSig]]. */
  private[graft] def deadIdsWithSig(sig: DataFrame, index: DataFrame,
      k: Int, bands: Int, minAgree: Int): DataFrame = {
    val bnd = lshBands(sig, k, bands)
    val agree = (0 until k)
      .map(j => when(col(s"ai.s$j") === col(s"ci.s$j"), 1).otherwise(0))
      .reduce(_ + _)
    val droppedWithin = bnd.as("a")
      .join(bnd.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc") > col("b.doc"))
      .select(col("a.doc").as("i"), col("b.doc").as("j")).distinct()
      .join(sig.as("ai"), col("i") === col("ai.doc"))
      .join(sig.as("ci"), col("j") === col("ci.doc"))
      .filter(agree >= minAgree)
      .select("i").distinct()
    val survSig = sig.join(droppedWithin, col("doc") === col("i"),
      "left_anti")
    val droppedIdx = lshBands(survSig, k, bands).as("a")
      .join(lshBands(index, k, bands).as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(col("a.doc").as("i"), col("b.doc").as("j")).distinct()
      .join(survSig.as("ai"), col("i") === col("ai.doc"))
      .join(index.as("ci"), col("j") === col("ci.doc"))
      .filter(agree >= minAgree)
      .select("i").distinct()
    droppedWithin.unionByName(droppedIdx).distinct()
  }

  /** EVOLVING-index admission over ORDERED arrival waves — the batch twin
    * of [[graft.streaming.TextStream.evolvingGate]] and the composition a
    * backfill replay runs: arrivals grouped into waves (release snapshots
    * / microbatches — a CONTRACT-BOUNDED handful, never data-sized; the
    * valve raises), each wave admitted by [[admitStep]] against the index
    * as of the PREVIOUS wave, and every admitted doc's signature joins the
    * index before the next wave — so a near-duplicate arriving ten waves
    * after its original dies, which [[graft.streaming.TextStream.corpusGate]]
    * (frozen index, exact-signature state only) documents as its non-goal.
    *
    * Each wave's survivors and index increment are one [[Waist]] (the
    * dupClusters iteration hygiene): the index for wave w+1 references
    * them, and a lazy fold nests every earlier wave's admission tree in
    * the next wave's plan. They are leaves of the returned plan, so the
    * caller's `Waist.release` of the result frees them; at production
    * each increment is WRITTEN per wave instead (the streaming form's
    * parquet increments).
    *
    * `corpusIndex` seeds the index (`doc, s0..s{k-1}`; pass an empty frame
    * for a cold start). Returns admitted rows with original columns.
    *
    * Cost model honesty: at TEST scale the fold is dominated by FIXED
    * per-wave overhead (fresh plan optimization + whole-stage codegen of
    * the k-term agree expressions per wave, plus two eager checkpoint
    * jobs — the embedding twin pays ~5 cpu-s/wave on a 500-row input,
    * which is overhead by definition); at 100 TB wave data dwarfs it and
    * the scaling factor (q288: 2.49× for 10× data) is what matters. */
  def admitWaves(arrivals: DataFrame, id: Column, text: Column,
      wave: Column, corpusIndex: DataFrame, n: Int, k: Int, bands: Int,
      minEstJaccard: Double, maxWaves: Int = 64): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val minAgree = math.ceil(minEstJaccard * k - 1e-9).toInt
    val parts = foldWaves(arrivals, wave, maxWaves, "admitWaves",
        corpusIndex) { (idx, batch) =>
      val sig = minhashSignaturesRowwise(batch, id, text, n, k)
        .persist(lvl)
      // ONE eager checkpoint job per wave (r16 ran two — the fixed
      // per-wave overhead the r16 verdict flagged as ~1/3 of q288's
      // cost): the checkpointed frame carries BOTH outputs — the
      // surviving ids (anti join against the dead-id list; null-text
      // rows survive with NULL signature columns through the left
      // join) and, on rows that carry one, the signature that joins
      // the index for the next wave. Only ids + k longs per admitted
      // doc serialize — admitted text still re-attaches by one semi
      // join at the end.
      val dead = deadIdsWithSig(sig, idx, k, bands, minAgree)
      val chk =
        try Waist.cut(batch.select(id.as("__id"))
          .join(dead, col("__id") === col("i"), "left_anti")
          .join(sig, col("__id") === col("doc"), "left"))
        finally sig.unpersist(false)
      val inc = chk.filter(col("doc").isNotNull)
        .select(("doc" +: (0 until k).map(j => s"s$j")).map(col): _*)
      (idx.unionByName(inc), chk.select("__id"))
    }
    val allIds = parts.reduce(_.unionByName(_))
    arrivals.join(allIds, id === col("__id"), "left_semi")
  }

  /** The shared WAVE-FOLD skeleton of the three evolving-admission batch
    * drivers ([[admitWaves]] / [[admitWavesEmbed]] / [[admitWavesMedia]]
    * — the r18 verdict's unification ask: one place for the wave valve,
    * the ordered wave listing, and the fold, so the next admission kind
    * or a checkpoint-policy fix lands ONCE): `step(index, batch)` admits
    * one wave against the running index and returns the grown index and
    * the wave's admitted part; each step is responsible for its own
    * EAGER lineage truncation ([[Waist.cut]] — the dupClusters
    * lazy-chaining trap: a lazy fold nests every earlier wave's
    * admission tree inside the next wave's plan, >200 driver cpu-s at
    * sf0.1 before eager truncation; persist alone does not truncate the
    * LOGICAL plan). The batch handed to `step` carries a `__w` wave tag
    * column — steps that forward original columns drop it. */
  private def foldWaves(arrivals: DataFrame, wave: Column, maxWaves: Int,
      caller: String, seed: DataFrame)(
      step: (DataFrame, DataFrame) => (DataFrame, DataFrame)): Seq[DataFrame] = {
    // Two waists, cut once before the per-wave loop (r19):
    //  - `tagged` (the wave-keyed arrivals) is re-read by the wave listing
    //    AND every per-wave `filter(__w = w)` — for the media gate that
    //    re-ran the FULL codec decode once per wave (q300);
    //  - `seed` is referenced by every wave's kill joins — q288
    //    recomputed the seed-corpus MinHash ~6× per call.
    // Both are dead weight once the fold is done; each wave's part is the
    // step's own waist, returned — or released here if the fold fails.
    val tagged = Waist.cut(arrivals.withColumn("__w", wave.cast("long")))
    var held = Seq(tagged)
    var parts = Seq.empty[DataFrame]
    try {
      val waves = tagged.select(col("__w")).distinct()
        .orderBy("__w").collect().map(_.getLong(0)).toSeq
      require(waves.nonEmpty, s"$caller: no arrival waves")
      require(waves.size <= maxWaves,
        s"$caller: ${waves.size} waves exceed the $maxWaves valve — " +
          "waves are release snapshots or microbatch replays, never data-sized")
      held :+= Waist.cut(seed)
      waves.foldLeft(held.last) { (idx, w) =>
        val (grown, part) = step(idx, tagged.filter(col("__w") === w))
        parts :+= part
        grown
      }
      parts
    } catch {
      case e: Throwable => parts.foreach(Waist.release); throw e
    } finally held.foreach(Waist.release)
  }

  /** [[admitStep]]'s EMBEDDING twin — one admission step of the evolving
    * vector gate ([[admitWavesEmbed]] and
    * [[graft.streaming.EmbedStream.evolvingGate]] share it): admit
    * `batch` (`id`, `vec`) against its own wave-mates and the accumulated
    * ADMITTED-vector `index` (`bucket`, `vec` — sign-LSH bucket plus the
    * vector itself, which the cosine verify needs; built by
    * [[embedIndexOf]] at admission time). Same semantics as the text
    * form: within the wave any SMALLER-id same-bucket neighbor with
    * native cosine ≥ `minCosine` kills (dead or alive — the conservative
    * local-minima rule); across waves only admitted vectors kill. The
    * cosine threshold is a single-comparison float gate (engine-safe by
    * the repo's one-division rule), the buckets bound both joins exactly
    * as in [[dedupByEmbedding]]. */
  def admitStepEmbed(batch: DataFrame, id: Column, vec: Column,
      index: DataFrame, bits: Int, minCosine: Double): DataFrame = {
    require(bits >= 1 && bits <= 62, s"bits must be in [1, 62], got $bits")
    val b = batch.select(id.as("__i"), vec.as("__v"),
      graft.ops.Similarity.signBucket(vec, bits).as("__bk"))
    val within = b.as("a").join(b.as("b"),
        col("a.__bk") === col("b.__bk") && col("a.__i") > col("b.__i"))
      .filter(graft.ops.Similarity.cosineNative(batch,
        col("a.__v"), col("b.__v")) >= minCosine)
      .select(col("a.__i").as("__dead")).distinct()
    val surv = batch.join(within, id === col("__dead"), "left_anti")
    val sb = surv.select(id.as("__i"), vec.as("__v"),
      graft.ops.Similarity.signBucket(vec, bits).as("__bk"))
    val deadIdx = sb.as("a")
      .join(index.select(col("bucket").as("__rbk"), col("vec").as("__rv")),
        col("a.__bk") === col("__rbk"))
      .filter(graft.ops.Similarity.cosineNative(surv,
        col("a.__v"), col("__rv")) >= minCosine)
      .select(col("a.__i").as("__dead")).distinct()
    surv.join(deadIdx, id === col("__dead"), "left_anti")
  }

  /** The evolving embedding index's row shape: `(bucket, vec, doc)` of
    * every admitted vector — what [[admitStepEmbed]] consumes (it reads
    * only `bucket`/`vec`; kill semantics never touch the id) and each
    * wave/microbatch appends. `doc` exists for GOVERNANCE, not
    * admission: [[graft.streaming.EmbedStream.forgetDocs]] filters index
    * rows by it, the right-to-be-forgotten the r17 verdict flagged as
    * impossible on the old (bucket, vec) layout without a full rebuild. */
  def embedIndexOf(df: DataFrame, id: Column, vec: Column,
      bits: Int): DataFrame =
    df.select(graft.ops.Similarity.signBucket(vec, bits).as("bucket"),
      vec.as("vec"), id.cast("long").as("doc"))

  /** [[admitWaves]]'s EMBEDDING twin: evolving-index vector admission
    * over ordered arrival waves — closes
    * [[graft.streaming.EmbedStream.gate]]'s documented non-goal (near-dup
    * detection WITHIN the arrival stream) the same way the text form
    * closes corpusGate's: every admitted vector joins the index before
    * the next wave. Same wave valve, same per-wave persistence, same
    * survivors-kill-across / any-smaller-kills-within semantics. */
  def admitWavesEmbed(arrivals: DataFrame, id: Column, vec: Column,
      wave: Column, refIndex: DataFrame, bits: Int, minCosine: Double,
      maxWaves: Int = 64): DataFrame = {
    // a pre-r18 seed index carries no doc column (the old (bucket, vec)
    // layout) — normalize so the per-wave unions line up; admission
    // never reads the id, so a null-doc seed admits identically (it
    // just cannot be forgotten by id, the documented migration trade)
    val seed =
      if (refIndex.columns.contains("doc")) refIndex
      else refIndex.withColumn("doc", lit(null).cast("long"))
    val parts = foldWaves(arrivals, wave, maxWaves, "admitWavesEmbed",
        seed) { (idx, batch) =>
      val adm = Waist.cut(
        admitStepEmbed(batch, id, vec, idx, bits, minCosine))
      (idx.unionByName(embedIndexOf(adm, id, vec, bits)), adm)
    }
    parts.reduce(_.unionByName(_)).drop("__w")
  }

  /** [[admitStep]]'s PERCEPTUAL-HASH twin — one admission step of the
    * evolving MEDIA gate ([[admitWavesMedia]] and
    * [[graft.streaming.MediaStream.evolvingGate]] share it; closes the
    * r16/r17 verdict gap: a near-dup image/video/audio arriving waves
    * later only died against a FROZEN corpus,
    * [[graft.ops.Curation.dedupByMediaHash]]'s form): admit `batch`
    * (`doc`, `kind`, `phash` — [[graft.ops.Multimodal.perceptualHashes]]
    * rows) against its own wave-mates and the accumulated ADMITTED-hash
    * `index` (same shape). Same semantics as the text/embedding forms:
    * within the wave any SMALLER-id same-kind row within Hamming
    * `maxHamming` kills (dead or alive — the conservative local-minima
    * rule); across waves only admitted rows kill. Candidates come from
    * the Manku pigeonhole bands ([[hammingPairs]]' blocking — two hashes
    * within the budget must agree on ≥ 1 of maxHamming+1 bands), with
    * `kind` IN the band key: the three hash spaces are unrelated, a
    * video hash must never compete with an audio hash even on a 64-bit
    * collision (the [[graft.ops.Curation.dedupByMediaHash]] rule). The
    * exact `bit_count(xor)` verifies every candidate — blocking is
    * lossless, never a heuristic. */
  def admitStepMedia(batch: DataFrame, index: DataFrame,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"need 0 <= maxHamming < 64, got $maxHamming")
    val nBands = maxHamming + 1
    def bandOf(sim: Column, j: Int): Column = {
      val lo = j * 64 / nBands
      val hi = (j + 1) * 64 / nBands
      val mask = if (hi - lo == 64) -1L else (1L << (hi - lo)) - 1L
      shiftright(sim, lo).bitwiseAND(lit(mask))
    }
    def banded(df: DataFrame): DataFrame = {
      val bandCols = (0 until nBands).map(j =>
        struct(lit(j).as("band"), bandOf(col("phash"), j).as("bval")))
      df.select(col("doc"), col("kind"), col("phash"),
          explode(array(bandCols: _*)).as("bk"))
        .select(col("doc"), col("kind"), col("phash"),
          col("bk.band").as("band"), col("bk.bval").as("bval"))
    }
    val b = batch.select(col("doc"), col("kind"), col("phash"))
    val bb = banded(b)
    val ham = bit_count(col("a.phash").bitwiseXOR(col("b.phash")))
    val withinDead = bb.as("a")
      .join(bb.as("b"),
        col("a.kind") === col("b.kind") && col("a.band") === col("b.band") &&
          col("a.bval") === col("b.bval") && col("a.doc") > col("b.doc"))
      .filter(ham <= maxHamming)
      .select(col("a.doc").as("__dead")).distinct()
    val surv = b.join(withinDead, col("doc") === col("__dead"), "left_anti")
    val idxDead = banded(surv).as("a")
      .join(banded(index.select(col("doc"), col("kind"), col("phash")))
          .as("b"),
        col("a.kind") === col("b.kind") && col("a.band") === col("b.band") &&
          col("a.bval") === col("b.bval"))
      .filter(ham <= maxHamming)
      .select(col("a.doc").as("__dead")).distinct()
    surv.join(idxDead, col("doc") === col("__dead"), "left_anti")
  }

  /** [[admitWaves]]' MEDIA twin: evolving-index perceptual-hash
    * admission over ordered arrival waves — the batch twin of
    * [[graft.streaming.MediaStream.evolvingGate]] and the q288/q290
    * discipline on [[graft.ops.Multimodal.perceptualHashes]] rows. Same
    * wave valve, same eager per-wave lineage truncation, same
    * survivors-kill-across / any-smaller-kills-within semantics.
    * `hashes` must expose `doc`, `kind`, `phash`; `refIndex` seeds the
    * index (same shape; empty frame = cold start). Returns the admitted
    * hash rows (doc, kind, phash). */
  def admitWavesMedia(hashes: DataFrame, wave: Column,
      refIndex: DataFrame, maxHamming: Int, maxWaves: Int = 64)
      : DataFrame = {
    val seed = refIndex.select(col("doc"), col("kind"), col("phash"))
    val parts = foldWaves(hashes, wave, maxWaves, "admitWavesMedia",
        seed) { (idx, batch) =>
      val adm = Waist.cut(admitStepMedia(batch.drop("__w"), idx, maxHamming))
      (idx.unionByName(adm), adm)
    }
    parts.reduce(_.unionByName(_))
  }

  /** LSH banding: (doc, band, key) where key concatenates the band's
    * signature rows; docs sharing any (band, key) are candidates. */
  def lshBands(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"bands must divide k evenly (got k=$k, bands=$bands): otherwise band " +
        "keys drop signature components or degenerate to empty strings")
    val rows = k / bands
    val bandStructs = (0 until bands).map { b =>
      val key = concat_ws(",",
        (b * rows until (b + 1) * rows).map(j => col(s"s$j").cast("string")): _*)
      struct(lit(b).as("band"), key.as("bkey"))
    }
    sig.select(col("doc"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** Candidate pairs from LSH banding (distinct, i < j). */
  def lshCandidates(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    val b = lshBands(sig, k, bands)
    b.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("i"), col("b.doc").as("j"))
      .distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: band candidates, then true
    * shingle-Jaccard computed ONLY for candidate pairs — the quadratic term
    * is bounded by band-bucket sizes, never by the corpus.
    *
    * One shingle explosion feeds ONE groupBy that emits, per document: the
    * k-long MinHash signature (banding input), the set size, and the sorted
    * shingle-hash array (exact-verify input). Everything downstream —
    * banding, the candidate self-join, verification — works from that
    * one-row-per-doc table; the exploded shingle set is aggregated once and
    * never shuffled again. */
  def minhashLshPairs(df: DataFrame, id: Column, text: Column, n: Int, k: Int,
      bands: Int, minJaccard: Double): DataFrame = {
    val sets = shingleSets(df, id, text, n)
      .select(col("doc"), xxhash64(col("shingle")).as("xh"),
        PortableHash.baseHash(col("shingle")).as("h"))
    val aggs = Seq(
      sort_array(collect_list(col("xh"))).as("hs"),
      count(lit(1)).as("n")) ++
      (0 until k).map(j => min(PortableHash.derivedHash(col("h"), j)).as(s"s$j"))
    // uncached on purpose: the one-row-per-doc aggregate is referenced four
    // times, but ReusedExchange shares its shuffle and re-running the (now
    // cheap) explode+agg beats paying cache materialization + storage churn
    // (measured at sf0.1: cold 4.5 s vs 6.0 s cached, steady 0.9 s vs 1.3 s)
    val docsigs = sets.groupBy("doc").agg(aggs.head, aggs.tail: _*)
    val cands = lshCandidates(docsigs, k, bands)
    verifyPairs(cands, docsigs.select("doc", "hs", "n"), minJaccard)
  }

  /** LSH quality AUDIT — "measure, don't guess" for a (k, bands) choice:
    * the exact Jaccard-pair truth set vs the banded candidate set, as one
    * report row `(n_true, n_cand, n_tp, n_fn, n_fp, recall, precision)`.
    * `n_fn` are real misses the banding trades away (S-curve tail);
    * `precision` is the verify stage's hit rate — its join-size budget.
    * Truth comes from the prefix-filtered exact join (never all-pairs);
    * candidates from the very banding the production dedup runs, so the
    * audit measures the shipped configuration. At 100 TB run it on a
    * sampled slice — it is a config diagnostic, not a per-corpus pass. */
  def lshAudit(df: DataFrame, id: Column, text: Column, n: Int, k: Int,
      bands: Int, minJaccard: Double): DataFrame = {
    val truth = auditTruth(df, id, text, n, minJaccard)
    val sig = auditSignatures(df, id, text, n, k)
    auditReport(truth, lshCandidates(sig, k, bands).withColumn("__c", lit(1)))
  }

  /** [[lshAudit]] across a FAMILY of band configs with the expensive
    * passes shared: the exact-Jaccard truth join and the k-min signature
    * table are computed ONCE, each cut as a [[Waist]], and each config
    * re-bands the materialized signatures and re-runs only the (cheap)
    * candidate self-join + audit join. The
    * r12 bench measured three independent `lshAudit` calls at 13.5 cpu-s
    * and a LINEAR 10.6× scale factor for q223 — the truth pass is ~2/3 of
    * that work and this shares it at any scale. Output: one [[lshAudit]]
    * row per config, prefixed with its `bands` value, ordered as given. */
  def lshAuditSweep(df: DataFrame, id: Column, text: Column, n: Int, k: Int,
      bandsList: Seq[Int], minJaccard: Double): DataFrame = {
    require(bandsList.nonEmpty, "need at least one band config")
    val truth = Waist.cut(auditTruth(df, id, text, n, minJaccard))
    val sig = Waist.cut(auditSignatures(df, id, text, n, k))
    bandsList.map { b =>
      auditReport(truth,
          lshCandidates(sig, k, b).withColumn("__c", lit(1)))
        .select(lit(b).as("bands"), col("*"))
    }.reduce(_ unionByName _)
  }

  private def auditTruth(df: DataFrame, id: Column, text: Column, n: Int,
      minJaccard: Double): DataFrame =
    jaccardPairs(df, id, text, n, minJaccard)
      .select(col("i"), col("j")).withColumn("__t", lit(1))

  private def auditSignatures(df: DataFrame, id: Column, text: Column,
      n: Int, k: Int): DataFrame =
    shingleSets(df, id, text, n)
      .select(col("doc"), PortableHash.baseHash(col("shingle")).as("h"))
      .groupBy("doc")
      .agg(min(PortableHash.derivedHash(col("h"), 0)).as("s0"),
        (1 until k).map(j =>
          min(PortableHash.derivedHash(col("h"), j)).as(s"s$j")): _*)

  private def auditReport(truth: DataFrame, cand: DataFrame): DataFrame =
    truth.join(cand, Seq("i", "j"), "full_outer")
      .agg(
        sum(coalesce(col("__t"), lit(0))).cast("long").as("n_true"),
        sum(coalesce(col("__c"), lit(0))).cast("long").as("n_cand"),
        sum(when(col("__t") === 1 && col("__c") === 1, 1L).otherwise(0L))
          .as("n_tp"))
      .select(col("n_true"), col("n_cand"), col("n_tp"),
        (col("n_true") - col("n_tp")).as("n_fn"),
        (col("n_cand") - col("n_tp")).as("n_fp"),
        // exact count rationals → ExactRound; a 0 denominator (no true
        // pairs / no candidates) is a DEFINED 0.0 sentinel in BOTH twins
        // (r13 / ADVICE — previously NULL, guarded only by q223's caller)
        coalesce(ExactRound.ratioRoundedCol(col("n_tp"), col("n_true"), 6),
          lit(0.0)).as("recall"),
        coalesce(ExactRound.ratioRoundedCol(col("n_tp"), col("n_cand"), 6),
          lit(0.0)).as("precision"))

  /** Embedding-cosine near-dup removal: mine within-LSH-bucket pairs with
    * cosine ≥ `minCosine` ([[Similarity.bucketedPairs]]), then keep the
    * lowest id of each near-dup pair. One greedy pass (drop any row that is
    * the higher id of some pair) — the standard first-cut for training-data
    * dedup; transitive-closure clustering is a follow-up iteration of the
    * same join if needed. */
  def embeddingNearDupes(df: DataFrame, id: Column, vec: Column, bits: Int,
      minCosine: Double): DataFrame =
    Similarity.bucketedPairs(df, id, vec, bits)
      .filter(col("cos") >= minCosine)

  def dedupByEmbedding(df: DataFrame, id: Column, vec: Column, bits: Int,
      minCosine: Double): DataFrame = {
    val losers = embeddingNearDupes(df, id, vec, bits, minCosine)
      .select(col("j").as("__loser")).distinct()
    df.join(losers, id === col("__loser"), "left_anti")
  }

  /** Cross-document repeated n-gram span mining — the corpus-internal
    * repetition signal behind exact-substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better": substrings
    * repeated verbatim across documents are memorization fuel and should be
    * collapsed). The full suffix-array construction doesn't map to a
    * shuffle-friendly plan; the standard distributed proxy is fixed-width
    * token windows: every L-token window occurring in ≥ `minDocs` distinct
    * documents is a repeated span. One explode → one aggregation
    * (map-side partial combine carries (gram → count, docs-seen) partials);
    * no joins, nothing driver-side. Downstream: join the spans back to
    * flag/cut the covered regions, or feed [[ngramOverlap]]-style
    * decontamination with the mined set. */
  def repeatedSpans(df: DataFrame, id: Column, text: Column, L: Int,
      minDocs: Long = 2L): DataFrame =
    spansOfSlots(df.select(id.as("id"),
      explode(graft.ops.TextAnalysis.ngramSlots(text, L)).as("gram")), minDocs)

  /** Span aggregation over an already-exploded `(id, gram)` slot frame —
    * two-level form (per-(gram, doc) partial, then per-gram) instead of
    * `count + countDistinct` in one agg, which would Expand-duplicate every
    * slot row; the first level partial-aggregates before its shuffle. */
  private def spansOfSlots(slots: DataFrame, minDocs: Long): DataFrame =
    slots.groupBy("gram", "id").agg(count(lit(1)).as("__occ"))
      .groupBy("gram")
      .agg(count(lit(1)).as("n_docs"), sum("__occ").as("n_occ"))
      .filter(col("n_docs") >= minDocs)

  /** Per-document repeated-span coverage: the fraction of a document's
    * L-token windows that occur verbatim in OTHER documents — the decision
    * signal exact-substring dedup cuts on (a doc that is mostly shared
    * spans is a template/mirror; Lee et al. 2022 remove the spans, corpus
    * policies often drop the doc past a coverage threshold). "Other
    * documents" matters: a window repeated only WITHIN the doc is q127's
    * (duplicate n-gram fraction) signal, not this one, so the span set is
    * mined with `n_docs ≥ 2` and the join keeps per-doc containment.
    * Shape: the [[repeatedSpans]] aggregation, then one semi-ish join of
    * the exploded slots against the mined set (broadcast when small, hash
    * otherwise) and a per-doc count — no driver-side state. Docs shorter
    * than L tokens have no slots and score 0. */
  def repeatedSpanCoverage(df: DataFrame, id: Column, text: Column, L: Int,
      minDocs: Long = 2L): DataFrame = {
    // ONE explode feeds both the span mining and the containment join —
    // the exploded slot table is the expensive frame here, never built twice
    val slots = df.select(id.as("id"),
      explode(graft.ops.TextAnalysis.ngramSlots(text, L)).as("gram"))
    val spans = spansOfSlots(slots, minDocs).select("gram")
    val hits = slots.join(spans, Seq("gram"))
      .groupBy("id").agg(count(lit(1)).as("__n_rep"))
    df.select(id.as("id"),
        greatest(size(graft.ops.TextAnalysis.tokens(text)) - (L - 1), lit(0))
          .cast("long").as("n_slots"))
      .join(hits, Seq("id"), "left")
      .select(col("id"), col("n_slots"),
        coalesce(col("__n_rep"), lit(0L)).as("n_repeated"),
        when(col("n_slots") === 0L, lit(0.0))
          .otherwise(ExactRound.ratioRoundedCol(
            coalesce(col("__n_rep"), lit(0L)), col("n_slots"), 6))
          .as("coverage"))
  }

  /** Maximal repeated spans — Lee et al. 2022's actual span semantics on
    * top of the fixed-L window proxy: overlapping/adjacent repeated
    * L-windows within a document MERGE into one maximal span (a 200-token
    * verbatim run is ONE span of 200 tokens, not 196 overlapping windows),
    * which is what "remove duplicated substrings ≥ 50 tokens" needs —
    * window-granularity artifacts at span boundaries disappear. Returns
    * one row per maximal span: `(id, span_start, span_end, span_len,
    * n_windows)` (token positions, inclusive).
    *
    * Shape: mined repeated slots ([[repeatedSpans]]' agg + containment
    * join) → gaps-and-islands merge: a window partitioned by DOC ID
    * (high-cardinality — no hot-group risk) flags breaks where the gap
    * between consecutive repeated positions exceeds L, a running sum
    * numbers the islands, and one agg (reusing the window's partitioning)
    * emits each island's extent. Per-doc merge is the sort inside that
    * window — linear scan, bounded by doc length. */
  def maximalRepeatedSpans(df: DataFrame, id: Column, text: Column, L: Int,
      minDocs: Long = 2L): DataFrame = {
    val slots = df.select(id.as("id"),
      posexplode(graft.ops.TextAnalysis.ngramSlots(text, L))
        .as(Seq("spos", "gram")))
    val spans = spansOfSlots(
      slots.select(col("id"), col("gram")), minDocs).select("gram")
    mergeWindows(slots.join(spans, Seq("gram")).select("id", "spos"), L)
  }

  /** Gaps-and-islands interval merge of repeated L-window positions:
    * consecutive positions ≤ L apart chain into one maximal span (window
    * [p', p'+L−1] and [p, p+L−1] overlap or touch iff p ≤ p'+L). Output
    * intervals are DISJOINT per doc — the property [[cutRepeatedSpans]]
    * exploits to skip a distinct. */
  private def mergeWindows(rep: DataFrame, L: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("id").orderBy("spos")
    rep
      .withColumn("__brk",
        when(col("spos") - lag("spos", 1).over(w) > L, 1).otherwise(0))
      .withColumn("__isl", sum("__brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("id", "__isl")
      .agg(min("spos").cast("long").as("span_start"),
        (max("spos") + lit(L - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"),
        col("n_windows"))
  }

  /** Cut the repeated spans OUT of the documents — the transformation half
    * of exact-substring dedup (Lee et al. 2022 remove every duplicated
    * substring from all but one occurrence; the simpler corpus-hygiene
    * variant shipped here removes COVERED TOKENS everywhere, which is the
    * conservative choice for decontamination-grade cleaning). A token is
    * covered iff some L-window containing it is a cross-document repeated
    * span ([[repeatedSpans]], n_docs ≥ minDocs); surviving tokens rejoin in
    * order. Returns `(id, text, n_tokens, n_tokens_kept)`.
    *
    * Shape: one explode to slots (positions kept) → span-set join →
    * [[mergeWindows]] maximal-span merge → ONE `sequence(start, end)`
    * explode of the DISJOINT merged intervals → anti join against the
    * token table → order-restoring rebuild, the same sort-structs
    * aggregation [[graft.ops.TextAnalysis.removeLines]] uses. The merge
    * (r9) replaced the per-slot L× position expansion + `distinct`: the
    * covered-position exchange used to carry L rows per repeated WINDOW
    * into a dedup shuffle; it now carries one row per covered POSITION,
    * produced map-side after the merge, no distinct needed (merged
    * intervals are disjoint). Everything is hash-partitioned on the doc id
    * or the gram; nothing driver-side. */
  def cutRepeatedSpans(df: DataFrame, id: Column, text: Column, L: Int,
      minDocs: Long = 2L): DataFrame = {
    val toks = df.select(id.as("id"),
      posexplode(graft.ops.TextAnalysis.tokens(text)).as(Seq("pos", "tok")))
    val slots = df.select(id.as("id"),
      posexplode(graft.ops.TextAnalysis.ngramSlots(text, L))
        .as(Seq("spos", "gram")))
    val spans = spansOfSlots(
      slots.select(col("id"), col("gram")), minDocs).select("gram")
    val covered = mergeWindows(slots.join(spans, Seq("gram"))
        .select("id", "spos"), L)
      .select(col("id"),
        explode(sequence(col("span_start").cast("int"),
          col("span_end").cast("int"))).as("pos"))
    rebuildWithout(df, id, text, toks, covered)
  }

  /** Shared rebuild tail of the span-cut ops: drop `cutPositions` from the
    * token table, rejoin survivors in order (the [[graft.ops.TextAnalysis
    * .removeLines]] sort-structs aggregation), right-join back so
    * fully-cut documents survive as empty text. */
  private def rebuildWithout(df: DataFrame, id: Column, text: Column,
      toks: DataFrame, cutPositions: DataFrame): DataFrame =
    toks.join(cutPositions, Seq("id", "pos"), "left_anti")
      .groupBy("id")
      .agg(
        array_join(transform(array_sort(
            collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("text"),
        count(lit(1)).as("__kept"))
      .join(df.select(id.as("id"),
        size(graft.ops.TextAnalysis.tokens(text)).cast("long").as("n_tokens")),
        Seq("id"), "right")
      .select(col("id"), coalesce(col("text"), lit("")).as("text"),
        col("n_tokens"), coalesce(col("__kept"), lit(0L)).as("n_tokens_kept"))

  /** The KEEP-FIRST cut — Lee et al. 2022's actual removal rule: every
    * duplicated substring survives in EXACTLY ONE place (its canonical
    * occurrence) and is cut everywhere else, where [[cutRepeatedSpans]]
    * removes covered tokens unconditionally (the decontamination-grade
    * variant). Canonical = the globally first occurrence of each repeated
    * L-gram, (min id, min position) — deterministic and oracle-replayable.
    * A position is cut iff some NON-canonical repeated window covers it
    * and no canonical window does (canonical coverage wins overlaps, so
    * the kept occurrence is never chewed by a different gram's duplicate
    * elsewhere on the same tokens).
    *
    * Shape: one slot explode → span-set join → the canonical occurrence
    * per gram comes from a `min(struct(id, spos))` AGGREGATE, not a rank:
    * a window rank would ship every occurrence of a hot gram (a
    * boilerplate sentence repeated millions of times) to one reducer to
    * sort, while the min partial-aggregates map-side to one row per task,
    * and the join back on the gram is a plain hash join AQE's skew split
    * can divide (PlanSpec pins the rank's absence). Each side then runs
    * the [[mergeWindows]] interval merge, expands to one row per covered
    * position (disjoint intervals — no distinct), and one anti join
    * subtracts kept coverage from cut coverage before the token anti join
    * + order-restoring rebuild. Returns `(id, text, n_tokens,
    * n_tokens_kept)`. */
  def cutRepeatedSpansKeepFirst(df: DataFrame, id: Column, text: Column,
      L: Int, minDocs: Long = 2L): DataFrame = {
    val toks = df.select(id.as("id"),
      posexplode(graft.ops.TextAnalysis.tokens(text)).as(Seq("pos", "tok")))
    val slots = df.select(id.as("id"),
      posexplode(graft.ops.TextAnalysis.ngramSlots(text, L))
        .as(Seq("spos", "gram")))
    val spans = spansOfSlots(
      slots.select(col("id"), col("gram")), minDocs).select("gram")
    val rep = slots.join(spans, Seq("gram"))
    val firsts = rep.groupBy("gram")
      .agg(min(struct(col("id"), col("spos"))).as("__first"))
    val flagged = rep.join(firsts, Seq("gram"))
      .withColumn("__canon",
        struct(col("id"), col("spos")) === col("__first"))
    def positions(w: DataFrame) = mergeWindows(w.select("id", "spos"), L)
      .select(col("id"),
        explode(sequence(col("span_start").cast("int"),
          col("span_end").cast("int"))).as("pos"))
    val cutPos = positions(flagged.filter(!col("__canon")))
      .join(positions(flagged.filter(col("__canon"))),
        Seq("id", "pos"), "left_anti")
    rebuildWithout(df, id, text, toks, cutPos)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * k-means clusters block the pairwise search instead of LSH sign buckets
    * — the published recipe for web-scale embedding dedup. Reuses the IVF
    * machinery end to end ([[Similarity.withClusterAssignment]]): centroid
    * training is memoized/sample-seeded, assignment is a zero-shuffle argmax
    * projection, and the quadratic term is bounded by cluster sizes (~n/C on
    * k-means-balanced data; a pathological fat cluster gets the same valve
    * story as [[Similarity.bucketedPairsCapped]] — raise nCentroids or
    * pre-split). Within-cluster pairs with cosine ≥ `minCosine` mark the
    * higher id a loser; survivors keep the lowest id per near-dup pair,
    * the same greedy convention as [[dedupByEmbedding]]. Identical vectors
    * always share a cluster, so exact copies can never escape the block. */
  def semanticPairs(df: DataFrame, id: Column, vec: Column, nCentroids: Int,
      minCosine: Double, kmeansIters: Int = 0): DataFrame = {
    val b = Similarity.withClusterAssignment(
      df.select(id.as("vid"), vec.as("v")), col("vid"), col("v"),
      nCentroids, kmeansIters)
    b.as("a").join(b.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("i"), col("b.vid").as("j"),
        col("a.cluster").as("cluster"),
        Similarity.cosineNative(df, col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= minCosine)
  }

  def semanticDedup(df: DataFrame, id: Column, vec: Column, nCentroids: Int,
      minCosine: Double, kmeansIters: Int = 0): DataFrame = {
    val losers = semanticPairs(df, id, vec, nCentroids, minCosine, kmeansIters)
      .select(col("j").as("__loser")).distinct()
    df.join(losers, id === col("__loser"), "left_anti")
  }

  /** INCREMENTAL SemDeDup — dedup an incoming batch against a PERSISTED
    * cluster index ([[Similarity.ivfWritePartitioned]]'s layout: centroids
    * sidecar + cluster-partitioned members) WITHOUT re-pairing the corpus:
    * the embedding analogue of [[dedupAgainstCorpus]]. Batch rows are
    * assigned to the EXISTING clusters (the persisted-centroid argmax —
    * no retraining), joined only against index members of the SAME
    * cluster, and dropped when any member scores cosine ≥ `minCosine`.
    * An identical copy of an indexed vector provably shares its cluster
    * (same argmax), so exact cross-batch duplicates can never escape —
    * the q143 contract, incrementally. Batch-INTERNAL duplicates are
    * [[semanticDedup]]'s job, mirroring [[dedupAgainstCorpus]]'s contract;
    * grow the index with accepted survivors via
    * [[Similarity.ivfAppendPartitioned]] and the next batch dedups against
    * them too (ScaleSpec pins that appended members catch later copies).
    *
    * Scale shape: corpus never re-paired with itself — the quadratic term
    * is (batch rows per cluster) × (index rows per cluster), the SemDeDup
    * block bound with a batch-sized left side; centroids broadcast in the
    * argmax literal; one hash join on the cluster key. Quantized (int8)
    * indexes are refused with a typed error — the cosine decision needs
    * the fp32 members. */
  def semanticDedupAgainstIndex(incoming: DataFrame, id: Column, vec: Column,
      path: String, minCosine: Double): DataFrame = {
    val spark = incoming.sparkSession
    if (Similarity.ivfReadManifest(spark, path)
        .exists(_.path("quantized").asBoolean(false)))
      throw new graft.core.BadCallException(
        s"semanticDedupAgainstIndex needs an fp32 index; $path is quantized")
    val assigned = Similarity.withPersistedClusterAssignment(
      incoming.select(id.cast("long").as("__bid"), vec.as("__bv")),
      col("__bv"), path)
    val index = spark.read.parquet(path)
      .select(col("v").as("__cv"), col("cluster"))
    val losers = assigned.join(index, Seq("cluster"))
      .filter(Similarity.cosineNative(incoming, col("__bv"), col("__cv"))
        >= minCosine)
      .select(col("__bid")).distinct()
    incoming.join(losers, id.cast("long") === col("__bid"), "left_anti")
  }

  /** Transitive near-dup clusters from a pair list: connected components by
    * min-label propagation with pointer halving — each round takes the min
    * over neighbours' labels, then jumps to the label's own label
    * (path-halving), so convergence is O(log diameter) rounds instead of
    * O(diameter). Output: (node, cluster) where cluster is the component's
    * minimum id — the canonical representative each duplicate collapses to.
    *
    * Iteration hygiene (the round-1 lessons, each load-bearing):
    *  - the pair list and each round's labels are [[Waist]]s: every round
    *    joins materialized edges, and lazy chaining would reference the
    *    previous round twice and grow the plan exponentially;
    *  - the PREVIOUS round's waist is released as soon as the next one
    *    materializes, and the edges on every exit: a run holds at most two
    *    rounds of labels (round 1 held every round of every pass and died
    *    of block-manager bloat, not compute). The result is the caller's;
    *  - convergence detection rides INSIDE the materialization job: a
    *    side-effect accumulator column tallies `cluster != prev` rows, so
    *    each round is exactly ONE Spark job (a separate `isEmpty` probe was
    *    50 % of q74's wall time at sf0.1). Task retries can only
    *    over-count, which at worst costs one extra (idempotent) round;
    *  - TWO pointer-halving hops are batched per materialization (label
    *    ~ parent^4 per round), roughly halving the round count; the
    *    identical hop subtrees collapse to one Exchange via ReuseExchange.
    *
    * Fault-tolerance modes: the default local waist truncates lineage
    * into EXECUTOR memory/disk — fastest, but an executor loss mid-iteration
    * kills the job (restart, never wrong answers). Passing `checkpointDir`
    * cuts every round as a RELIABLE waist under that (HDFS/object-store)
    * directory, so the computation survives executor loss. The caller owns
    * the directory (the returned DataFrame reads from its files); set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` for GC cleanup. */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20,
      checkpointDir: Option[String] = None): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    def snap(df: DataFrame): DataFrame = Waist.cut(df, checkpointDir)
    val edges = snap(pairs.select(col("i").as("a"), col("j").as("b"))
      .union(pairs.select(col("j").as("a"), col("i").as("b")))
      .distinct())
    var labels: DataFrame = null
    try {
      // init = identity labels with the first neighbour-min round fused in
      // (one groupBy): pair-shaped clusters are already final here and the
      // loop only has to confirm convergence
      labels = snap(edges.groupBy(col("a").as("node"))
        .agg(min("b").as("nbr_min"))
        .select(col("node"), least(col("node"), col("nbr_min")).as("cluster")))
      var converged = false
      var iter = 0
      while (!converged && iter < maxIter) {
        val changed = sc.longAccumulator(s"dupClusters changed (round $iter)")
        // nondeterministic so Catalyst never elides, duplicates, or reorders
        // the side effect; the column itself is materialized with the
        // checkpoint (1 byte/row) and pruned on read afterwards
        val tally = udf { (c: Boolean) => if (c) changed.add(1L); c }
          .asNondeterministic()
        val nbrMin = edges.join(labels, col("b") === col("node"))
          .groupBy(col("a")).agg(min("cluster").as("nbr_min"))
        val once = labels.join(nbrMin, col("node") === col("a"), "left")
          .select(col("node"), col("cluster").as("prev"),
            least(col("cluster"), coalesce(col("nbr_min"), col("cluster"))).as("mid"))
        val hop1 = once.as("l")
          .join(once.select(col("node").as("rnode"), col("mid").as("rmid")).as("r"),
            col("mid") === col("rnode"), "left")
          .select(col("node"), col("prev"),
            least(col("mid"), coalesce(col("rmid"), col("mid"))).as("mid2"))
        val clusterExpr =
          least(col("mid2"), coalesce(col("r2mid"), col("mid2")))
        val next = snap(hop1.as("h")
          .join(hop1.select(col("node").as("r2node"), col("mid2").as("r2mid")).as("r2"),
            col("mid2") === col("r2node"), "left")
          .select(col("node"), clusterExpr.as("cluster"),
            // coalesce guard: a NULL comparison (only possible if node ids /
            // labels ever became nullable) must count as "changed" — Spark
            // skips primitive-arg UDFs on null input, so an unguarded null
            // here would silently not tally and could converge prematurely
            tally(coalesce(col("prev") =!= clusterExpr, lit(true))).as("chg")))
        converged = changed.value == 0L
        Waist.release(labels)
        labels = next.select("node", "cluster")
        iter += 1
      }
      labels
    } catch {
      case e: Throwable => Option(labels).foreach(Waist.release); throw e
    } finally Waist.release(edges)
  }

  /** Quality-aware survivor selection over transitive dup clusters: keep
    * the HIGHEST-`quality` member of each cluster (tie-break lowest id)
    * instead of the minimum id — the realistic curation policy (keep the
    * longest / cleanest copy, drop the rest).
    *
    * Scale shape: only CLUSTER MEMBERS compete — the slim `(id, quality)`
    * projection joins the cluster table (pair-connected docs only, tiny
    * next to the corpus), one window ranks within each cluster, and the
    * resulting LOSER id set anti-joins back. The corpus itself never
    * shuffles: losers ≈ the duplicate fraction, a broadcast-sized side at
    * any realistic dup rate. */
  def dedupBestPerCluster(df: DataFrame, id: Column, pairs: DataFrame,
      quality: Column, maxIter: Int = 20,
      checkpointDir: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = dupClusters(pairs, maxIter, checkpointDir)
    val slim = df.select(id.as("__id"), quality.as("__q"))
      .join(clusters, col("__id") === col("node"))
    val losers = slim.withColumn("__rn", row_number().over(
        Window.partitionBy("cluster").orderBy(col("__q").desc, col("__id"))))
      .filter(col("__rn") =!= 1).select(col("__id").as("__loser"))
    df.join(losers, id === col("__loser"), "left_anti")
  }

  /** SOFT dedup — duplicate-aware DOWNWEIGHTING instead of dropping
    * (the SoftDeDup policy: reweight repeated content, don't delete it):
    * every member of a transitive near-dup cluster keeps sampling weight
    * 1/|cluster|, so repeated CONTENT carries exactly one document's
    * worth of expected training mass while no individual copy (with its
    * own metadata, formatting, surrounding context) is lost — the policy
    * axis hard dedup (q79 min-id, q121 keep-best) cannot express. Emits
    * the input rows plus `(cluster, n_cluster, w_micro)`: `cluster` =
    * the transitive cluster's canonical min id (a singleton is its own
    * cluster), `n_cluster` its size, `w_micro` the exact half-up
    * `1e6 / n_cluster` integer weight a weighted sampler
    * ([[graft.ops.Sampling]]'s A-ES machinery, q131) consumes directly.
    * Per cluster the weights sum to 1e6 up to the rounding grid — the
    * one-document-of-mass invariant q297 pins per source.
    *
    * Scale shape: [[dupClusters]] over the PAIR table (pair-connected
    * docs only, tiny next to the corpus) + one count per cluster, then
    * one left join back on id — the corpus never shuffles; cluster
    * metadata is duplicate-fraction-sized. */
  def softDedupWeights(df: DataFrame, id: Column, pairs: DataFrame,
      maxIter: Int = 20,
      checkpointDir: Option[String] = None): DataFrame = {
    val clusters = dupClusters(pairs, maxIter, checkpointDir)
    val sized = clusters.join(
      clusters.groupBy("cluster").agg(count(lit(1)).as("__n")), "cluster")
    df.join(sized, id === col("node"), "left")
      .withColumn("n_cluster", coalesce(col("__n"), lit(1L)))
      .withColumn("cluster", coalesce(col("cluster"), id))
      .withColumn("w_micro",
        ExactRound.halfUpDivCol(lit(1000000L), col("n_cluster")))
      .drop("node", "__n")
  }

  /** SimHash as a pure per-row projection — the
    * [[graft.functions.SimHash64]] native expression. Bit-equal to
    * [[simhash]] (OpsSpec) with no token explode, no shuffle: the map-stage
    * shape for fingerprint columns and streaming Hamming-bucket dedup. */
  def simhashRowwise(df: DataFrame, id: Column, text: Column,
      bits: Int): DataFrame = {
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    // null-text filter: bit-equality with the aggregation form (see
    // minhashSignaturesRowwise)
    df.where(text.isNotNull)
      .select(id.as("doc"),
        call_function("simhash64", text, lit(bits)).as("simhash"))
  }

  /** All pairs within Hamming distance `maxHamming` of each other's
    * SimHash — the SimHash dedup CLOSER (the fingerprint alone finds
    * nothing; this pairs them). Pigeonhole blocking: split the `bits`-wide
    * hash into `maxHamming + 1` bands — two hashes differing in ≤
    * maxHamming bits MUST agree on at least one whole band, so only
    * band-bucket neighbours are candidates (never all-pairs), then the
    * exact `bit_count(xor)` verifies. The standard near-dup blocking for
    * web-scale SimHash (Manku et al., WWW'07). Output: (i, j, hamming),
    * i < j. */
  def simhashPairs(df: DataFrame, id: Column, text: Column, bits: Int,
      maxHamming: Int): DataFrame =
    hammingPairs(simhashRowwise(df, id, text, bits), bits, maxHamming)

  /** Per-distance pair CENSUS of [[simhashPairs]] — value-identical to
    * `simhashPairs(...).groupBy(hamming).agg(count, min(i), max(j))`
    * (OpsSpec-pinned), computed in the shape that survives 100 TB: the
    * corpus collapses FIRST to one row per distinct fingerprint VALUE
    * (`groupBy(simhash)` — partial-aggregable, one linear pass), and the
    * band-blocked self-join then runs over the VALUE table, whose size is
    * capped by the 2^bits fingerprint space no matter the corpus. The
    * doc-level pair list is quadratic by construction on a dense hash
    * population (r19 SCALING: q93 cpu 46× at 10× data — every doc-level
    * candidate row re-verified a hash comparison the value census makes
    * once); per value pair the census contributes `cnt_u · cnt_v` pairs,
    * `least(min_u, min_v)` / `greatest(max_u, max_v)` witnesses (the
    * global min doc of the union is the smaller element of at least one
    * cross pair, the global max the larger), and equal-value duplicates
    * land at distance 0 with `C(cnt, 2)` pairs and their own min/max.
    * Distances with no pairs emit no row, exactly like the groupBy. */
  def simhashCensus(df: DataFrame, id: Column, text: Column, bits: Int,
      maxHamming: Int): DataFrame = {
    val vals = simhashRowwise(df, id, text, bits)
      .groupBy("simhash")
      .agg(count(lit(1)).as("__c"), min("doc").as("__mn"),
        max("doc").as("__mx"))
    // value-level mining reuses the pigeonhole core verbatim: the value
    // IS its own join id (strict u < v gives each unordered value pair
    // once, and equal values never join — they are the distance-0 branch)
    val vpairs = hammingPairs(
      vals.select(col("simhash").as("doc"), col("simhash")),
      bits, maxHamming)
    val cross = vpairs
      .join(vals.select(col("simhash").as("__u"), col("__c").as("__cu"),
        col("__mn").as("__mnu"), col("__mx").as("__mxu")),
        col("i") === col("__u"))
      .join(vals.select(col("simhash").as("__v"), col("__c").as("__cv"),
        col("__mn").as("__mnv"), col("__mx").as("__mxv")),
        col("j") === col("__v"))
      .select(col("hamming"),
        (col("__cu") * col("__cv")).as("__np"),
        least(col("__mnu"), col("__mnv")).as("__pmn"),
        greatest(col("__mxu"), col("__mxv")).as("__pmx"))
    // hamming is INT (bit_count's type) and C(c,2) stays in exact LONG
    // arithmetic (a `/ 2` would be double division in the column algebra)
    val within = vals.filter(col("__c") >= 2)
      .select(lit(0).cast("int").as("hamming"),
        shiftright(col("__c") * (col("__c") - 1), 1).as("__np"),
        col("__mn").as("__pmn"), col("__mx").as("__pmx"))
    cross.unionByName(within)
      .groupBy("hamming")
      // coalesce keeps n_pairs non-nullable, the exact schema the
      // doc-level groupBy census (count) produced
      .agg(coalesce(sum("__np"), lit(0L)).as("n_pairs"),
        min("__pmn").as("min_i"), max("__pmx").as("max_j"))
  }

  /** Hamming-distance pair mining over ANY 64-bit-or-narrower signature
    * frame `(doc, simhash)` — the pigeonhole band-blocking core
    * (Manku WWW'07) shared by text SimHash ([[simhashPairs]]) and image
    * perceptual hashes ([[graft.ops.Multimodal.imageDHashes]]): split the
    * signature into `maxHamming + 1` bands; any pair within the distance
    * budget must agree exactly on ≥ 1 band (lossless blocking, proven in
    * OpsSpec), so candidates come from band-value equi-joins, never all
    * pairs. */
  def hammingPairs(sigs: DataFrame, bits: Int, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < bits,
      s"need 0 <= maxHamming < bits, got $maxHamming/$bits")
    val nBands = maxHamming + 1
    def bandOf(sim: Column, j: Int): Column = {
      val lo = j * bits / nBands
      val hi = (j + 1) * bits / nBands // last band absorbs the remainder
      // JVM shifts are mod 64: (1L << 64) - 1 == 0 would collapse every
      // band value to 0 (all-pairs!) for bits=64, maxHamming=0
      val mask = if (hi - lo == 64) -1L else (1L << (hi - lo)) - 1L
      shiftright(sim, lo).bitwiseAND(lit(mask))
    }
    val bandCols = (0 until nBands).map(j =>
      struct(lit(j).as("band"), bandOf(col("simhash"), j).as("bval")))
    val banded = sigs.select(col("doc"), col("simhash"),
        explode(array(bandCols: _*)).as("bk"))
      .select(col("doc"), col("simhash"),
        col("bk.band").as("band"), col("bk.bval").as("bval"))
    // a pair agreeing on several bands would surface once per band; instead
    // of a distinct() (a full shuffle of the duplicated candidate set),
    // keep a pair only in its FIRST agreeing band — checkable as a plain
    // filter because both full hashes ride along with the join
    val firstBandOnly = (1 until nBands).map(j =>
      col("a.band") < j ||
        bandOf(col("a.simhash"), j - 1) =!= bandOf(col("b.simhash"), j - 1))
      .reduceOption(_ && _).getOrElse(lit(true))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.doc") < col("b.doc"))
      .filter(firstBandOnly)
      .select(col("a.doc").as("i"), col("b.doc").as("j"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash (`bits`-wide) over distinct tokens: per-bit ±1 votes summed in
    * one aggregation pass, then bits assembled. */
  def simhash(df: DataFrame, id: Column, text: Column, bits: Int): DataFrame = {
    val toks = df.select(id.as("doc"),
      explode(array_distinct(split(text, " "))).as("tok"))
      .withColumn("h", PortableHash.md5Long(col("tok"), 0))
    val votes = (0 until bits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"v$b"))
    toks.groupBy("doc").agg(votes.head, votes.tail: _*)
      .select(col("doc"),
        (0 until bits).map(b =>
          when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** CCNet-style cross-corpus PARAGRAPH dedup with KEEP-FIRST semantics —
    * the reference pipeline's first stage (CCNet dedups at paragraph
    * granularity BEFORE any LM scoring: shared headers/footers/license
    * blocks are the bulk of web duplication and they poison LM stats):
    * every duplicated paragraph survives only at its canonical first
    * occurrence `min(struct(id, pos))` and is dropped from every other
    * document (and from later positions of the SAME document); unique
    * paragraphs are their own canonical and always survive. This differs
    * from [[graft.ops.TextAnalysis.removeBoilerplateLines]] on both
    * sides of the trade: boilerplate removal drops frequent lines
    * EVERYWHERE (no canonical survivor) and only above a frequency
    * threshold, while this keeps exactly one copy of every repeated
    * paragraph — the q168 span-cut keep rule, one granularity up.
    *
    * Scale shape, identical to q168's discipline: the canonical
    * occurrence is a partial-aggregable `min(struct)` AGGREGATE keyed by
    * paragraph content — never a per-paragraph rank, so a header
    * repeated 10⁶× ships one struct per map task, not 10⁶ rows to one
    * reducer; the join back is by the same content key; the ordered
    * rebuild is the shared sort-structs aggregation. Join/agg key is
    * `md5(para)` (fixed 32-char cap vs unbounded paragraph bytes as the
    * shuffle/sort key) and `para` itself rides only on the slot side.
    * Documents whose every paragraph loses
    * elsewhere come back as empty text, not missing.
    * Returns (id, n_paras, n_kept, text). */
  def dedupParagraphsKeepFirst(df: DataFrame, id: Column, text: Column,
      sep: String = "\n"): DataFrame = {
    // Canonical slot via the partial-aggregable min-struct AGGREGATE +
    // join-back (the r19 window rewrite is reverted: Window.partitionBy
    // materializes a hot paragraph's every occurrence on ONE reducer with
    // no map-side combine — the exact skew this operator exists to
    // survive). The shuffle/join key is md5(para) per the scaladoc: a
    // fixed 32-char key instead of unbounded paragraph bytes on both
    // sides of the agg and the join; `para` itself rides only on the
    // slot side.
    val slots = df.select(id.as("id"),
      posexplode(split(text, java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "para")))
      .withColumn("__k", md5(col("para")))
    val canon = slots.groupBy(col("__k"))
      .agg(min(struct(col("id"), col("pos"))).as("__c"))
    val kept = slots.join(canon, Seq("__k"))
      .filter(struct(col("id"), col("pos")) === col("__c"))
      .drop("__k", "__c")
    kept.groupBy("id")
      .agg(
        array_join(transform(array_sort(
            collect_list(struct(col("pos"), col("para")))),
          x => x.getField("para")), sep).as("text"),
        count(lit(1)).as("__kept"))
      .join(df.select(id.as("id"),
        size(split(text, java.util.regex.Pattern.quote(sep)))
          .cast("long").as("n_paras")), Seq("id"), "right")
      .select(col("id"), col("n_paras"),
        coalesce(col("__kept"), lit(0L)).as("n_kept"),
        coalesce(col("text"), lit("")).as("text"))
  }
}
