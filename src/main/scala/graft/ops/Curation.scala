package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation: the composed pipeline a training-data team
  * ships — quality filter → language rebalance → exact dedup → fuzzy dedup
  * → split assignment → chunking → context packing. Every stage is one of
  * the library's individually-tested operators; this facade fixes the
  * composition order and column threading, and q91 pins the WHOLE
  * composition against a single DuckDB oracle.
  *
  * Both dedup stages keep the MINIMUM id per key (deterministic), not
  * `dropDuplicates`' arbitrary row — an end-to-end pipeline must be
  * re-runnable to the byte, and an oracle can't reproduce an arbitrary
  * choice. Scale shape: every stage is a map stage, a hash-partitioned
  * window, or a broadcast-joinable projection; nothing quadratic, nothing
  * driver-side. */
object Curation {

  /** @param langFracs   per-language keep rates (empty = keep every language)
    * @param chunkWidth  tokens per chunk; `chunkStride` < width ⇒ overlap
    * @param ctx         context length chunks are packed into (per split)
    * @param ffdPack     true = first-fit-decreasing whole-chunk bins
    *                    ([[Chunking.packFFD]] — no chunk straddles a bin);
    *                    false = concat-and-cut ([[Chunking.pack]], the
    *                    GPT-style continuous token stream) */
  case class Config(
      langFracs: Map[String, Double] = Map.empty,
      shingleN: Int = 3,
      sigK: Int = 16,
      splitNames: Seq[String] = Seq("train", "val", "test"),
      splitWeights: Seq[Double] = Seq(0.8, 0.1, 0.1),
      chunkWidth: Int = 64,
      chunkStride: Int = 48,
      ctx: Int = 512,
      sampleSeed: Int = 7,
      splitSeed: Int = 42,
      ffdPack: Boolean = false,
      mediaMaxHamming: Int = 4,
      dsirBuckets: Int = 1 << 16,
      dsirSeed: Int = 7,
      dsirMinWeightU: Long = 0L,
      gopherGate: Boolean = false,
      gopherMinWords: Int = 50,
      mlMaxMicro: Long = 0L,
      mlOrder: Int = 3)

  /** Runs the full pipeline; returns one row per packed chunk:
    * `doc, chunk_idx, chunk, n_tok, split, bin`.
    * @param media optional media payloads (image/video/audio) keyed by doc
    *   id — when present, kind-dispatched perceptual dedup runs as the
    *   FIRST stage (see [[dedupByMediaHash]]). */
  def curate(docs: DataFrame, id: Column, text: Column, lang: Column,
      cfg: Config = Config(),
      media: Option[org.apache.spark.sql.Dataset[Multimodal.MediaRecord]] = None,
      dsirTarget: Option[DataFrame] = None,
      mlRefs: Option[(DataFrame, Column, DataFrame, Column)] = None)
      : DataFrame = {
    val chunks =
      curateChunks(docs, id, text, lang, cfg, media, dsirTarget, mlRefs)
    if (cfg.ffdPack)
      Chunking.packFFD(chunks, col("split"), cfg.ctx)
        .withColumnRenamed("grp", "split")
        .select("doc", "chunk_idx", "chunk", "n_tok", "split", "bin")
    else Chunking.pack(chunks, col("split"), cfg.ctx)
  }

  /** C4 + encoding HYGIENE pre-stage — the crawl cleanup C4/CCNet run
    * before any statistics ever see the text: encoding gate (strict C0 /
    * U+FFFD-ratio rules, [[TextAnalysis.encodingOk]]) → page-level C4
    * drops (lorem-ipsum / curly-brace pages, [[TextAnalysis.c4DocOk]];
    * plus the §2.2 badword blocklist when `blockPhrases` is non-empty —
    * one Aho–Corasick pass, [[TextAnalysis.blockedByPhrases]]) →
    * line-level C4 rewrite (terminal punctuation + min words + javascript,
    * [[TextAnalysis.c4CleanText]]) → drop pages whose every line fell.
    * Returns the surviving rows with the cleaned text in column `textOut`.
    *
    * Compose UPSTREAM of [[curate]] (the q180 pattern — a text-REWRITING
    * stage must run before the pipeline fixes its text expression).
    * Scale shape: every rule is a fused per-row expression over the scan —
    * zero shuffle, zero state; the same projection composes on streams
    * as-is. */
  def hygiene(docs: DataFrame, text: Column, textOut: String,
      minWordsPerLine: Int = 3, maxReplRatio: Double = 0.01,
      sep: String = "\n", nfc: Boolean = false,
      blockPhrases: Seq[String] = Nil): DataFrame = {
    // `nfc` runs Unicode canonical composition FIRST (the one crawl
    // cleanup C4/CCNet apply that the gates below don't): composed and
    // decomposed encodings of a glyph must look identical to every rule
    // and every downstream hash. Another fused per-row projection —
    // the stage stays zero-shuffle, zero-state.
    val t0 = if (nfc) TextAnalysis.normalizeText(text, "NFC") else text
    // `blockPhrases` adds C4 §2.2's FIRST page rule — drop any page
    // containing a blocklisted phrase (case-insensitive, word-boundary) —
    // as one Aho–Corasick pass fused into the same scan as the other
    // page gates ([[TextAnalysis.blockedByPhrases]]); empty list = off.
    val notBlocked =
      if (blockPhrases.isEmpty) lit(true)
      else !TextAnalysis.blockedByPhrases(t0, blockPhrases)
    docs.filter(TextAnalysis.encodingOk(t0, maxReplRatio) &&
        TextAnalysis.c4DocOk(t0) && notBlocked)
      .withColumn(textOut,
        TextAnalysis.c4CleanText(t0, minWordsPerLine, sep))
      .filter(length(col(textOut)) > 0)
  }

  /** Perceptual IMAGE dedup as a curation stage — drops every document
    * whose image is a near-duplicate (dHash Hamming ≤ `maxHamming`) of a
    * LOWER-id document's image; docs without a media row pass through
    * untouched. Runs FIRST in [[curate]] when media is supplied: the
    * decision key is 8 bytes per document (vs shingle signatures for the
    * text stages), mirror/re-encode/resize copies collapse before any text
    * work is spent on them, and the text dedups then run on the smaller
    * survivor set. Composition: [[Multimodal.imageDHashes]] (per-partition
    * codec amortization, corrupt payloads drop) → the pigeonhole-banded
    * [[Dedup.hammingPairs]] (lossless blocking, never all-pairs) → the
    * same greedy min-id keep as [[Dedup.dedupByEmbedding]]. */
  def dedupByImageHash(docs: DataFrame, id: Column,
      media: org.apache.spark.sql.Dataset[Multimodal.MediaRecord],
      maxHamming: Int): DataFrame = {
    val hashes = Multimodal.imageDHashes(media).toDF()
      .select(col("media_id").as("doc"), col("dhash").as("simhash"))
    val losers = Dedup.hammingPairs(hashes, bits = 64, maxHamming = maxHamming)
      .select(col("j").as("__iloser")).distinct()
    docs.join(losers, id === col("__iloser"), "left_anti")
  }

  /** Perceptual MEDIA dedup — [[dedupByImageHash]] generalized to every
    * media kind via the kind-dispatched [[Multimodal.perceptualHashes]]
    * column (image dHash / video first-frame dHash / audio envelope hash).
    * Near-dup mining runs PER KIND — the three hash spaces are unrelated,
    * so a video hash must never compete with an audio hash even when the
    * 64-bit values collide — and each kind's mining is the same
    * pigeonhole-banded [[Dedup.hammingPairs]] + greedy min-id keep as the
    * image stage. Docs without a decodable media row pass through
    * untouched. The hash table is 8 bytes + kind per doc; re-scanning it
    * once per kind is noise next to the decode pass that built it. */
  def dedupByMediaHash(docs: DataFrame, id: Column,
      media: org.apache.spark.sql.Dataset[Multimodal.MediaRecord],
      maxHamming: Int): DataFrame = {
    val hashes = Multimodal.perceptualHashes(media).toDF()
    val losers = Seq("image", "video", "audio").map { kind =>
      Dedup.hammingPairs(
          hashes.filter(col("kind") === kind)
            .select(col("media_id").as("doc"), col("phash").as("simhash")),
          bits = 64, maxHamming = maxHamming)
        .select(col("j").as("__mloser"))
    }.reduce(_ unionByName _).distinct()
    docs.join(losers, id === col("__mloser"), "left_anti")
  }

  /** The pipeline up to (but excluding) context packing: one row per chunk,
    * `doc, chunk_idx, chunk, n_tok, split`. This is the part that is a pure
    * composition of filters, stateless projections, and keyed dedups — the
    * shape that also runs on a stream ([[curateStream]]). */
  /** The document-level stage chain of [[curateChunks]], each stage paired
    * with its name in pipeline order — shared by the pipeline itself and
    * the [[funnel]] yield report so the two can never drift. */
  private def docStages(docs: DataFrame, id: Column, text: Column,
      lang: Column, cfg: Config,
      media: Option[org.apache.spark.sql.Dataset[Multimodal.MediaRecord]],
      dsirTarget: Option[DataFrame],
      mlRefs: Option[(DataFrame, Column, DataFrame, Column)] = None)
      : Seq[(String, DataFrame)] = {
    graft.GraftExtensions.ensureRegistered(docs.sparkSession)
    val input = Seq("input" -> docs)
    val mediaStage = media.map(m =>
      "media_dedup" -> dedupByMediaHash(docs, id, m, cfg.mediaMaxHamming))
    val base = mediaStage.map(_._2).getOrElse(docs)
    val quality = base.filter(TextAnalysis.qualityClass(text) === "ok")
    // optional DSIR data-selection stage: keep documents at least as
    // target-like as `dsirMinWeightU` micro-nats (0 = "more target-like
    // than not"). Runs AFTER the cheap per-row quality gate (no point
    // fitting the raw distribution on rows a regex drops) and BEFORE
    // rebalance/dedup, the paper's select-then-clean order. The caller's
    // target frame should be drawn from the same post-quality population
    // (or an external exemplar corpus) so the oracle can replay both
    // distributions from one table expression.
    // optional full Gopher gate (Table A1 quality + line-repetition rules)
    // — a strictly per-row filter, so it commutes with the cheap quality
    // class above (both run fused in one scan projection)
    val gopherStage =
      if (!cfg.gopherGate) None
      else Some("gopher_quality" -> quality.filter(
        TextAnalysis.gopherQualityOk(text, minWords = cfg.gopherMinWords) &&
          TextAnalysis.gopherLineRepetitionOk(text)))
    val gated = gopherStage.map(_._2).getOrElse(quality)
    val dsirStage = dsirTarget.map { tgt =>
      "dsir_select" -> Sampling.dsirWeights(gated, id, text, tgt, text,
          cfg.dsirBuckets, cfg.dsirSeed)
        .filter(col("dsir_weight_u") >= cfg.dsirMinWeightU)
        .drop("n_grams", "dsir_weight_u")
    }
    val selected = dsirStage.map(_._2).getOrElse(gated)
    // optional MOORE-LEWIS contrastive selection stage (the q295 filter
    // composed into the funnel — r17 verdict #8): keep documents whose
    // in-domain-minus-general cross-entropy difference sits under
    // `mlMaxMicro` micro-nats (0 = "reads more like the target domain
    // than like average crawl text"). A doc too short to carry an
    // order-n slot scores NULL in BOTH LMs and is DROPPED — a
    // domain-selection gate keeps only what it can judge (the CCNet
    // discipline; the length floor upstream should make this rare).
    // Runs after DSIR (both are selection; ML is the sharper, costlier
    // filter) and before rebalance/dedup, the select-then-clean order.
    // The kept-id DECISION TABLE is one Waist (id-only, the slimmest
    // intermediate; a leaf of every later stage, so the consumer's
    // release of the result frees it). Left lazy, the 2·(2·order−1)-join
    // double-LM ladder re-ran inside EVERY downstream stage's lineage
    // (q301's plan was 200 KB and Catalyst time dominated the query).
    val mlStage = mlRefs.map { case (inRef, inTxt, genRef, genTxt) =>
      "moore_lewis" -> selected.join(
        Waist.cut(TextAnalysis.mooreLewis(selected, id, text, inRef, inTxt,
            genRef, genTxt, order = cfg.mlOrder)
          .filter(col("ml_micro") < cfg.mlMaxMicro)
          .select(col("id").as("__mlk"))),
        id === col("__mlk"), "left_semi")
    }
    val mlSelected = mlStage.map(_._2).getOrElse(selected)
    val rebalStage =
      if (cfg.langFracs.isEmpty) None
      else Some("rebalance" -> Sampling.stratifiedSample(mlSelected, id,
        lang, cfg.langFracs, cfg.sampleSeed))
    val rebalanced = rebalStage.map(_._2).getOrElse(mlSelected)
    val exact = Dedup.dedupExact(rebalanced,
      TextAnalysis.fingerprint(text), id)
    val fuzzy = Dedup.dedupExact(exact,
      call_function("minhash_signature", text,
        lit(cfg.shingleN), lit(cfg.sigK)),
      id)
    input ++ mediaStage ++ Seq("quality" -> quality) ++ gopherStage ++
      dsirStage ++ mlStage ++ rebalStage ++
      Seq("exact_dedup" -> exact, "fuzzy_dedup" -> fuzzy)
  }

  def curateChunks(docs: DataFrame, id: Column, text: Column, lang: Column,
      cfg: Config = Config(),
      media: Option[org.apache.spark.sql.Dataset[Multimodal.MediaRecord]] = None,
      dsirTarget: Option[DataFrame] = None,
      mlRefs: Option[(DataFrame, Column, DataFrame, Column)] = None)
      : DataFrame = {
    val fuzzy =
      docStages(docs, id, text, lang, cfg, media, dsirTarget, mlRefs).last._2
    // split is a pure hash of the id, so it is RE-DERIVED on the chunk
    // output (whose `doc` IS the id) instead of joined back — a join here
    // would re-evaluate the whole quality→sample→dedup lineage a second
    // time (none of it is cached, by design) and add a shuffle for a value
    // the hash recomputes in-place, byte-identically
    Chunking.chunk(fuzzy, id, text, cfg.chunkWidth, cfg.chunkStride)
      .withColumn("split",
        Sampling.splitColumn(col("doc"), cfg.splitNames, cfg.splitWeights,
          cfg.splitSeed))
  }

  /** Stage-by-stage survivor FUNNEL — the yield report a production
    * pipeline publishes next to every run (where did the corpus go?): one
    * row per document-level stage in pipeline order,
    * `(stage_idx, stage, n_docs)`. Built from the SAME stage chain the
    * pipeline executes ([[docStages]]), so the report cannot drift from
    * the code.
    *
    * Scale shape: one lazy union of per-stage count aggregates — a single
    * job; each branch re-derives its lineage (the stages are deliberately
    * uncached — counts don't justify materializing 100 TB intermediates),
    * so the cost is one extra pipeline evaluation per stage counted. Run
    * it beside the real pipeline, not inside it. */
  def funnel(docs: DataFrame, id: Column, text: Column, lang: Column,
      cfg: Config = Config(),
      media: Option[org.apache.spark.sql.Dataset[Multimodal.MediaRecord]] = None,
      dsirTarget: Option[DataFrame] = None,
      mlRefs: Option[(DataFrame, Column, DataFrame, Column)] = None)
      : DataFrame =
    docStages(docs, id, text, lang, cfg, media, dsirTarget, mlRefs).zipWithIndex
      .map { case ((name, df), i) =>
        df.agg(count(lit(1)).as("n_docs"))
          .select(lit(i).as("stage_idx"), lit(name).as("stage"),
            col("n_docs"))
      }
      .reduce(_ unionByName _)

  /** Quality-filter THRESHOLD decision table — [[funnel]]'s sibling for
    * PICKING the knob instead of auditing a fixed one: for each candidate
    * threshold, what survives a `score >= thr` gate (documents, weight —
    * typically tokens — and their permille shares of the full corpus, plus
    * the survivors' mean score). The table a curation team reads before
    * committing a quality floor, exactly as [[Chunking.packEfficiency]] is
    * read before committing a context length.
    *
    * All-integer output: feed an integer score (e.g.
    * [[TextAnalysis.typeTokenRatioMicro]] on the 1e-6 grid) and integer
    * weight; shares and the mean land on the half-up grid via
    * [[ExactRound]], so every cell replays bit-exactly cross-engine.
    *
    * Scale shape: ONE corpus pass by construction — each row is assigned
    * its HIGHEST passed threshold (a fused CASE, zero shuffle), one
    * partial-aggregable groupBy collapses the corpus to ≤ |thresholds|+1
    * bucket rows (zero rows unioned in for swept-but-empty buckets), and
    * both the per-threshold suffix sums and the corpus totals are windows
    * over that TINY frame — a single-partition window over |thresholds|+1
    * rows, never a second corpus scan or a per-candidate re-scan (the
    * decision table costs the same as one filter census, however many
    * thresholds are swept; PlanSpec pins the single scan). Null scores
    * (e.g. null text) count toward the corpus totals but never toward a
    * survivor row. */
  def thresholdSweep(df: DataFrame, score: Column, weight: Column,
      thresholds: Seq[Long]): DataFrame = {
    require(thresholds.nonEmpty, "thresholdSweep needs at least one threshold")
    require(thresholds == thresholds.sorted && thresholds.distinct == thresholds,
      s"thresholds must be strictly ascending, got $thresholds")
    // highest threshold passed; the foldLeft nests so the LAST (highest)
    // candidate is tested first and lower ones fall through
    val bucket = thresholds.foldLeft(lit(null).cast("long")) { (acc, t) =>
      when(score >= t, lit(t)).otherwise(acc)
    }
    val zeros = df.sparkSession.range(1)
      .select(explode(typedLit(thresholds)).as("__b"),
        lit(0L).as("__n"), lit(0L).as("__wt"), lit(0L).as("__ss"))
    val perBucket = df
      .select(bucket.as("__b"), score.cast("long").as("__s"),
        weight.cast("long").as("__w"))
      .groupBy("__b")
      .agg(count(lit(1)).as("__n"), sum("__w").as("__wt"),
        sum("__s").as("__ss"))
      .unionByName(zeros)
      .groupBy("__b")
      .agg(sum("__n").as("__n"), sum("__wt").as("__wt"),
        sum("__ss").as("__ss"))
    // survivors at thr t = Σ buckets ≥ t (desc suffix window, the null
    // below-all bucket ordered last); totals = the whole-frame window —
    // both over the ≤ |thresholds|+1-row frame, so the single partition
    // is a constant, not a scale hazard
    val suffix = org.apache.spark.sql.expressions.Window
      .orderBy(col("__b").desc_nulls_last)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val whole = org.apache.spark.sql.expressions.Window
      .orderBy(col("__b").desc_nulls_last)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    perBucket
      .select(col("__b").as("thr"),
        sum("__n").over(suffix).as("n_docs"),
        sum("__wt").over(suffix).as("n_weight"),
        sum("__ss").over(suffix).as("__sscore"),
        sum("__n").over(whole).as("__tn"),
        sum("__wt").over(whole).as("__tw"))
      .filter(col("thr").isNotNull)
      .select(col("thr"), col("n_docs"), col("n_weight"),
        ExactRound.halfUpDivCol(col("n_docs") * 1000L, col("__tn"))
          .as("docs_permille"),
        ExactRound.halfUpDivCol(col("n_weight") * 1000L, col("__tw"))
          .as("weight_permille"),
        ExactRound.halfUpDivCol(col("__sscore"), col("n_docs"))
          .as("mean_score"))
  }

  /** [[curateChunks]] over an APPEND-MODE STREAM — continuous curation of
    * arriving documents. Every stage composes on a stream as-is: quality
    * filter and stratified sampling are stateless row predicates, split is
    * a pure hash, chunking is a stateless one-to-many projection, and both
    * dedup stages become Structured Streaming `dropDuplicates` over the
    * same keys (state-store-backed, one entry per distinct key).
    *
    * Keep-policy difference vs batch, by necessity: a stream keeps each
    * key's FIRST ARRIVAL (deterministic in arrival order — there is no
    * shuffle-able history to take a min over), while batch keeps the
    * MINIMUM id. On dedup-free input the two pipelines are bit-identical
    * (StreamingSpec pins this); on duplicated input they keep the same
    * NUMBER of survivors from the same groups. State at 100 TB: the dedup
    * state is one fingerprint/signature per distinct document — bound it
    * with a watermark on an event-time column before the filters if the
    * corpus is unbounded.
    *
    * Packing is deliberately absent: it is a per-window-ORDER cumsum (a
    * window over everything seen so far), which append streams cannot
    * express incrementally — pack each micro-batch via `foreachBatch`
    * (`Chunking.pack` on the batch DataFrame) when bin assignment is
    * needed online. DSIR selection is also absent HERE because fitting
    * needs two corpus passes; its online form is
    * [[graft.streaming.DsirStream.admit]] (fit offline via
    * [[Sampling.dsirScoreTable]], score statelessly per row with the same
    * `≥ dsirMinWeightU` rule) — compose it upstream of this pipeline.
    *
    * @param eventTime optional `(tsColumn, delayThreshold)` — when set, the
    *   dedup state is WATERMARK-BOUNDED (`dropDuplicatesWithinWatermark`):
    *   a duplicate arriving within the delay of its first sighting is
    *   dropped, and state for keys older than the watermark is reclaimed.
    *   This is the 100 TB unbounded-corpus mode — without it, dedup state
    *   grows with one entry per distinct document forever. */
  def curateStream(docs: DataFrame, id: Column, text: Column, lang: Column,
      cfg: Config = Config(),
      eventTime: Option[(Column, String)] = None): DataFrame = {
    require(docs.isStreaming, "curateStream expects a streaming DataFrame")
    graft.GraftExtensions.ensureRegistered(docs.sparkSession)
    val watermarked = eventTime match {
      case Some((ts, delay)) =>
        docs.withColumn("__ts", ts).withWatermark("__ts", delay)
      case None => docs
    }
    def dedupOn(df: DataFrame, key: String): DataFrame = eventTime match {
      case Some(_) => df.dropDuplicatesWithinWatermark(key)
      case None    => df.dropDuplicates(key)
    }
    val quality = watermarked.filter(TextAnalysis.qualityClass(text) === "ok")
    val rebalanced =
      if (cfg.langFracs.isEmpty) quality
      else Sampling.stratifiedSample(quality, id, lang, cfg.langFracs,
        cfg.sampleSeed)
    // exact dedup: first arrival per content fingerprint (null-text rows
    // never reach here — qualityClass(null) is not "ok" — but the per-id
    // fallback keeps the key total like nearDupFilterBySignature's)
    val exact = dedupOn(rebalanced
      .withColumn("__fp", coalesce(TextAnalysis.fingerprint(text),
        concat(lit("null-text:"), id.cast("string")))), "__fp")
      .drop("__fp")
    // fuzzy dedup on the row-wise MinHash signature (same key
    // nearDupFilterBySignature uses), state-bounded the same way
    val fuzzy = dedupOn(exact
      .withColumn("__sig", coalesce(
        call_function("minhash_signature", text,
          lit(cfg.shingleN), lit(cfg.sigK)).cast("string"),
        concat(lit("null-text:"), id.cast("string")))), "__sig")
      .drop("__sig")
    Chunking.chunk(fuzzy.drop("__ts"), id, text, cfg.chunkWidth, cfg.chunkStride)
      .withColumn("split",
        Sampling.splitColumn(col("doc"), cfg.splitNames, cfg.splitWeights,
          cfg.splitSeed))
  }
}
