package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.PortableHash
import graft.ops.{Chunking, Curation, Dedup, ExactRound, Layout, Preference, Sampling, TextAnalysis => TA, Waist}
import QueryUtil._

/** Deterministic sampling/splitting over the `documents` table — the
  * dataset-assembly half of a training-data pipeline (the dedup/quality half
  * lives in [[TextQueries]]). Both queries aggregate the selected rows, so
  * the oracle pins every membership decision, not just counts. */
object SamplingQueries {

  private val SplitNames = Seq("train", "val", "test")
  private val SplitWeights = Seq(0.8, 0.1, 0.1)

  /** Per-language keep rates: upsample-free rebalance (zh deliberately
    * absent → dropped, pinning the "stratum not in map" semantics). */
  private val LangFracs =
    Map("en" -> 0.5, "de" -> 0.25, "es" -> 0.1, "fr" -> 1.0)

  /** The standard `curate()` replay, parameterized by the input relation
    * (`doc_id, text, lang`): quality → stratified rebalance → exact dedup
    * → 16-hash MinHash fuzzy dedup → split → chunk → pack, aggregated to
    * the per-split report. CTE list (no leading WITH) + final SELECT —
    * shared by the q91/q180/q187 capstone oracles. */
  private def curationTailSql(inputTable: String): String = {
    val mins = (0 until 16)
      .map(j => s"min(${PortableHash.derivedHashSql("h", j)}) s$j")
      .mkString(", ")
    val sigCols = (0 until 16).map(j => s"s$j").mkString(", ")
    s"""q AS (SELECT * FROM $inputTable
         WHERE ${TA.qualityClassSql("text")} = 'ok'
           AND (${Sampling.stratifiedSampleSql("doc_id", "lang", LangFracs)})),
       e1 AS (SELECT * FROM q
         QUALIFY row_number() OVER (PARTITION BY md5(lower(trim(text)))
           ORDER BY doc_id) = 1),
       sh AS (SELECT doc_id, ${Dedup.shinglesSql("text", 3)} sgs FROM e1),
       ex AS (SELECT doc_id AS doc, unnest(sgs) sg FROM sh),
       hashed AS (SELECT doc, ${PortableHash.baseHashSql("sg")} h FROM ex),
       sig AS (SELECT doc, $mins FROM hashed GROUP BY doc),
       e2 AS (SELECT e1.* FROM e1 JOIN sig ON doc_id = sig.doc
         QUALIFY row_number() OVER (PARTITION BY $sigCols ORDER BY doc_id) = 1),
       spl AS (SELECT *,
         ${Sampling.splitSql("doc_id", SplitNames, SplitWeights)} AS split
         FROM e2),
       ch AS (${Chunking.chunkSql("doc_id", "text", 64, 48, table = "spl")}),
       j AS (SELECT ch.*, spl.split FROM ch JOIN spl ON ch.doc = spl.doc_id),
       p AS (SELECT split, doc, n_tok,
         sum(n_tok) OVER (PARTITION BY split ORDER BY doc, chunk_idx
           ROWS UNBOUNDED PRECEDING) AS cum FROM j)
       SELECT split, count(DISTINCT doc) AS n_docs, count(*) AS n_chunks,
         count(DISTINCT (cum - n_tok) // 512) AS n_bins,
         CAST(sum(n_tok) AS BIGINT) AS sum_tok
       FROM p GROUP BY 1 ORDER BY 1"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q77_hash_split" -> ((s, d) => {
      t(s, d, "documents")
        .select(
          Sampling.splitColumn(col("doc_id"), SplitNames, SplitWeights)
            .as("split"),
          TA.tokenCount(col("text")).as("ntok"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum("ntok").cast("long").as("sum_tokens"))
        .orderBy("split")
    }),

    // SFT example assembly (the Alpaca-class template) + the LOSS-MASK
    // boundary: each doc's tokens split at the midpoint into
    // instruction/response, serialized as "### Instruction:\n{i}\n###
    // Response: {r}"; resp_start_tok = whitespace tokens of the prompt
    // segment — the index a trainer masks up to (prompt tokens carry no
    // loss). The template glues its header onto adjacent words, so the
    // boundary is COMPUTED from the serialized prompt, never assumed —
    // pure per-row projection, byte-pinned example stream
    "q252_sft_template" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val k = (size(toks) / lit(2)).cast("int")
      val instr = array_join(slice(toks, lit(1), k), " ")
      val resp = array_join(slice(toks, k + 1, size(toks) - k), " ")
      val promptPart = concat(lit("### Instruction:\n"), instr,
        lit("\n### Response:"))
      t(s, d, "documents").filter(col("doc_id") < 30)
        .select(col("doc_id"),
          k.cast("long").as("n_instr_words"),
          (size(toks) - k).cast("long").as("n_resp_words"),
          size(split(promptPart, " ")).cast("long").as("resp_start_tok"),
          md5(concat(promptPart, lit(" "), resp)).as("fp"))
        .orderBy("doc_id")
    }),

    // SFT/loss-mask-aware PACKING — q252's serialized examples composed
    // through packOrdered's concat-and-cut into ctx=128 windows, emitting
    // the per-window (mask_start, mask_end) span table an instruction-
    // tuning loader consumes. The response boundary is COMPUTED from the
    // serialized prompt (template glue accounted), examples straddle
    // windows (one row per overlapped window, spans clipped), and a
    // window segment holding only prompt tokens carries NULL mask. Every
    // span is integer arithmetic on the window cumsum — byte-pinned
    "q276_sft_pack_mask" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val k = (size(toks) / lit(2)).cast("int")
      val instr = array_join(slice(toks, lit(1), k), " ")
      val resp = array_join(slice(toks, k + 1, size(toks) - k), " ")
      val promptPart = concat(lit("### Instruction:\n"), instr,
        lit("\n### Response:"))
      val fullText = concat(promptPart, lit(" "), resp)
      val ex = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          size(split(fullText, " ")).cast("long").as("n_tok"),
          size(split(promptPart, " ")).cast("long").as("resp_start"))
      Chunking.sftMaskWindows(ex, col("source"), ctx = 128,
          Seq(col("doc_id")))
        .select(col("source"), col("win").cast("long").as("win"),
          col("doc_id"), col("bin").cast("long").as("bin"),
          col("n_tok"), col("seg_start"), col("seg_end"),
          col("mask_start"), col("mask_end"))
        .orderBy("source", "win", "seg_start")
    }),

    // multi-turn (chat-SFT) loss-mask packing — q276 generalized from ONE
    // response boundary to a per-example LIST of assistant-turn loss
    // spans: each doc becomes a 2/4/6-turn conversation (turn count from
    // doc_id, boundaries on the exact integer grid i·n DIV T), assistant
    // = odd turns, packed concat-and-cut at ctx=128. One row per
    // (example, window) with EVERY span clipped to the window — a turn
    // straddling the cut contributes to both windows, a user-only window
    // carries an EMPTY span list (mask_str ''), adjacent spans never
    // merge. Spans serialize to an exact integer string — byte-pinned
    "q281_sft_multiturn_mask" -> ((s, d) => {
      val base = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          (lit(2L) * (lit(1L) + pmod(col("doc_id"), lit(3)))).as("nt"))
      val ex = base.withColumn("spans", transform(
          filter(sequence(lit(0L), col("nt") - 1),
            i => pmod(i, lit(2L)) === 1),
          i => struct(
            call_function("div", i * col("n_tok"), col("nt")).as("s"),
            call_function("div", (i + lit(1L)) * col("n_tok"), col("nt"))
              .as("e"))))
        .drop("nt")
      Chunking.sftMaskSpans(ex, col("source"), ctx = 128,
          Seq(col("doc_id")))
        .select(col("source"), col("win").cast("long").as("win"),
          col("doc_id"), col("bin").cast("long").as("bin"),
          col("n_tok"), col("seg_start"), col("seg_end"),
          size(col("mask_spans")).as("n_mask_spans"),
          aggregate(col("mask_spans"), lit(0L),
            (a, y) => a + y("me").cast("long") - y("ms").cast("long"))
            .as("mask_tok"),
          concat_ws(";", transform(col("mask_spans"),
            y => concat(y("ms").cast("string"), lit("-"),
              y("me").cast("string")))).as("mask_str"))
        .orderBy("source", "win", "seg_start")
    }),

    // interleaved MULTIMODAL sequence packing (the MMC4/OBELICS assembly
    // step): each doc becomes text chunks interleaved with doc_id%3
    // image slots (image k after chunk k, media_id = doc*4+k), an image
    // costs a fixed 64-token patch budget, and whole docs FFD-pack into
    // ctx=512 windows so no image ever splits across a window. Every
    // span is integer arithmetic (FFD replayed recursively, offsets via
    // cumsums); the image rows carry the REAL decoded pixel count of
    // their synthetic PNG (the q94 codec path), which the oracle replays
    // as pure media_id arithmetic — byte-pinned
    "q282_interleaved_pack" -> ((s, d) => {
      import s.implicits._
      import graft.ops.Multimodal
      val docs = t(s, d, "documents").filter(col("doc_id") < 60)
      val chunks = Chunking.chunk(docs, col("doc_id"), col("text"),
        width = 32, stride = 32)
      val textItems = chunks.select(col("doc"),
        (col("chunk_idx").cast("long") +
          least(col("chunk_idx").cast("long"), pmod(col("doc"), lit(3L))))
          .as("item_idx"),
        lit("text").as("modality"), col("n_tok"),
        lit(null).cast("long").as("media_id"))
      val imgItems = docs
        .select(col("doc_id").as("doc"),
          explode(when(pmod(col("doc_id"), lit(3L)) > 0,
            sequence(lit(0L), pmod(col("doc_id"), lit(3L)) - 1))
            .otherwise(array().cast("array<bigint>"))).as("k"))
        .select(col("doc"), (lit(2L) * col("k") + 1).as("item_idx"),
          lit("image").as("modality"), lit(null).cast("int").as("n_tok"),
          (col("doc") * 4 + col("k")).as("media_id"))
      val items = textItems.unionByName(imgItems)
        .join(docs.select(col("doc_id").as("doc"), col("source")), "doc")
      val packedItems = Chunking.packInterleaved(items, col("source"),
        ctx = 512, patchBudget = 64)
      val media = imgItems.select(col("media_id")).as[Long].map { m =>
        Multimodal.MediaRecord(m, "image", Multimodal.syntheticPng(
          4 + (m % 8).toInt, 4 + (m % 5).toInt,
          (m % 256).toInt, ((m * 7) % 256).toInt, ((m * 11) % 256).toInt),
          "synth")
      }
      val px = Multimodal.decodeImageStats(media).toDF()
        .select(col("media_id"), col("n_pixels"))
      packedItems.join(px, Seq("media_id"), "left")
        .select(col("grp").as("source"), col("bin"), col("doc"),
          col("item_idx").cast("long").as("item_idx"), col("modality"),
          col("media_id"), col("span_start"), col("span_end"),
          col("n_pixels").as("px"))
        .orderBy("source", "bin", "span_start")
    }),

    // DPO/RLHF preference-pair assembly: DETERMINISTIC pairing key
    // (pair i = docs 2i/2i+1), the shared prompt from the even doc's
    // first half, candidate responses from both docs' second halves,
    // chosen = higher vocabulary-richness reward (distinct response
    // tokens; tie keeps the even doc — total order). Every 7th pair
    // gets a PLANTED template prompt so prompt-level dedup ACROSS pairs
    // (dedupExact on the prompt fingerprint, keep lowest pair_id)
    // provably fires. Pure per-row projections + one keep-first window
    // on the prompt hash; the surviving pair stream is byte-pinned
    "q256_preference_pairs" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val half = (size(toks) / lit(2)).cast("int")
      val base = t(s, d, "documents").select(col("doc_id"),
        array_join(slice(toks, lit(1), half), " ").as("fh"),
        array_join(slice(toks, half + 1, size(toks) - half), " ").as("sh"))
      val a = base.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(expr("doc_id DIV 2").as("pair_id"),
          col("doc_id").as("src_a"), col("fh"), col("sh").as("resp_a"))
        .withColumn("prompt",
          when(pmod(col("pair_id"), lit(7)) === 0,
            lit("write a short story about data")).otherwise(col("fh")))
      val b = base.filter(pmod(col("doc_id"), lit(2)) === 1)
        .select(expr("doc_id DIV 2").as("pair_id"),
          col("doc_id").as("src_b"), col("sh").as("resp_b"))
      // score/orient/dedup via the shared batch-or-stream gate (r13:
      // graft.streaming.PreferenceStream — StreamStaticSpec pins the
      // streaming twin against exactly this batch path)
      graft.streaming.PreferenceStream.gate(a.join(b, "pair_id"))
        .filter(col("pair_id") < 40)
        .orderBy("pair_id")
    }),

    // best-of-n / rejection-sampling assembly (q256's pairing generalized
    // to n = 4 candidates per prompt): keep the argmax by reward with the
    // established total tie-break (reward DESC, src ASC), margin =
    // best − second best. Every 5th prompt plants an exact TOP tie: two
    // candidates share a 40-distinct-token response (organic rewards top
    // out at 28 at both SFs), so the argmax TIE-BREAK provably decides
    // the winner; the chosen (prompt, response) pair is byte-pinned
    "q270_best_of_n" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val half = (size(toks) / lit(2)).cast("int")
      val base = t(s, d, "documents").select(col("doc_id"),
        array_join(slice(toks, lit(1), half), " ").as("fh"),
        array_join(slice(toks, half + 1, size(toks) - half), " ").as("sh"))
      val anchors = base.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(expr("doc_id DIV 4").as("prompt_id"), col("fh").as("prompt"))
      val cands = base
        .select(expr("doc_id DIV 4").as("prompt_id"),
          col("doc_id").as("src"), col("sh").as("resp"))
        .join(anchors, "prompt_id")
        .withColumn("resp",
          when(pmod(col("prompt_id"), lit(5)) === 0 &&
              pmod(col("src"), lit(4)).isin(1, 2),
            array_join(transform(sequence(lit(1), lit(40)),
              i => concat(lit("tok"), i)), " "))
            .otherwise(col("resp")))
      graft.streaming.PreferenceStream.bestOfN(cands)
        .orderBy("prompt_id")
    }),

    // global Bradley-Terry leaderboard (Preference.bradleyTerry): 8
    // "models" (doc_id % 8) with PLANTED BT strengths m+1 — each doc is
    // one game between ma = doc_id % 8 and mb = (doc_id DIV 8) % 8,
    // winner drawn by the seeded md5 uniform mod (sa+sb) against sa, so
    // the data IS a Bradley-Terry sample the MM fit must recover; the
    // oracle replays the pair-count table, every HUGEINT MM iterate and
    // every largest-remainder re-grid (list-state recursive CTE)
    "q310_bt_leaderboard" -> ((s, d) => {
      val g = t(s, d, "documents").select(col("doc_id"),
          pmod(col("doc_id"), lit(8)).as("ma"),
          pmod(expr("doc_id DIV 8"), lit(8)).as("mb"))
        .filter(col("ma") =!= col("mb"))
        .withColumn("__h", pmod(PortableHash.md5Long(
            col("doc_id").cast("string"), 91),
          col("ma") + col("mb") + lit(2)))
        .withColumn("winner",
          when(col("__h") < col("ma") + 1, col("ma")).otherwise(col("mb")))
      Preference.bradleyTerry(g, col("ma"), col("mb"), col("winner"),
          iters = 15)
        .orderBy("model")
    }),

    // leakage audit of the q256 PROMPTS against the eval splits (q167's
    // shape pointed at the pair table): a prompt whose 5-grams overlap a
    // non-train document >= 50 % would leak eval content into reward
    // training. Prompts derive from even docs, the split is hash-based,
    // so genuinely contaminated prompts exist (their source doc landed
    // in val/test); the planted template prompts never hit. The census
    // pins every pair's verdict (counts + pair-id sums + overlap range)
    "q257_preference_leakage" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val half = (size(toks) / lit(2)).cast("int")
      val docs = t(s, d, "documents").withColumn("split",
        Sampling.splitColumn(col("doc_id"), SplitNames, SplitWeights))
      val prompts = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(expr("doc_id DIV 2").as("pair_id"),
          array_join(slice(toks, lit(1), half), " ").as("__fh"))
        .select(col("pair_id"),
          when(pmod(col("pair_id"), lit(7)) === 0,
            lit("write a short story about data")).otherwise(col("__fh"))
            .as("prompt"))
      val bench = docs.filter(col("split") =!= "train").select(col("text"))
      Dedup.ngramOverlap(prompts, col("pair_id"), col("prompt"),
          bench, col("text"), n = 5, threshold = 0.5)
        .groupBy("contaminated")
        .agg(count(lit(1)).as("n_pairs"), sum("id").as("sum_pair_ids"),
          min("overlap").as("min_overlap"), max("overlap").as("max_overlap"))
        .orderBy("contaminated")
    }),

    // group-integrity split for the PAIR table (q216's GroupKFold
    // discipline keyed on the PROMPT): reward-model train/eval must
    // split by prompt fingerprint, never by pair id — two pairs sharing
    // a prompt (the q256 template family, pre-dedup) on opposite sides
    // would leak the prompt into eval. Split hashes md5(prompt); the
    // per-(split, family) census pins every assignment and the
    // max-splits-per-prompt = 1 row pins the no-straddle contract
    "q258_pair_group_split" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val half = (size(toks) / lit(2)).cast("int")
      val pairs = t(s, d, "documents")
        .filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(expr("doc_id DIV 2").as("pair_id"),
          array_join(slice(toks, lit(1), half), " ").as("__fh"))
        .select(col("pair_id"),
          when(pmod(col("pair_id"), lit(7)) === 0,
            lit("write a short story about data")).otherwise(col("__fh"))
            .as("prompt"))
      val withSplit = pairs.withColumn("split",
        Sampling.splitColumn(md5(col("prompt")), SplitNames, SplitWeights))
      val integrity = withSplit.groupBy(md5(col("prompt")).as("__fp"))
        .agg(countDistinct("split").as("k"))
        .agg(max("k").as("max_splits_per_prompt"))
      withSplit.groupBy("split")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(md5(col("prompt"))).as("n_prompts"),
          sum("pair_id").as("sum_pair_ids"))
        .crossJoin(broadcast(integrity))
        .orderBy("split")
    }),

    // epoch/repeat mixture recipe (the LLaMA-class data card): target
    // sampling weights per language + a fixed token budget → each
    // group's target tokens, full epochs over its corpus, leftover
    // tokens for the partial epoch, and a milli-precision repeat factor
    // — ALL integer DIV arithmetic on exact token sums, so the recipe
    // table pins bit-exact; the per-doc expansion composes from
    // trainingShards/splitColumn downstream
    "q250_epoch_mixture" -> ((s, d) => {
      val wmap = Seq("en" -> 5L, "de" -> 2L, "es" -> 2L, "fr" -> 2L,
        "zh" -> 1L)
      val sumW = wmap.map(_._2).sum
      val budget = 1000000L
      val wcol = wmap.tail.foldLeft(
        when(col("lang") === wmap.head._1, wmap.head._2)) {
        case (acc, (k, v)) => acc.when(col("lang") === k, v)
      }.otherwise(lit(0L))
      t(s, d, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(TA.tokenCount(col("text"))).cast("long").as("tokens"))
        .withColumn("weight", wcol)
        .withColumn("target_tok", expr(s"weight * $budget DIV $sumW"))
        .withColumn("full_epochs", expr("target_tok DIV tokens"))
        .withColumn("rem_tok",
          expr("target_tok - full_epochs * tokens"))
        .withColumn("repeat_milli", expr("target_tok * 1000 DIV tokens"))
        .orderBy("lang")
    }),

    // data-constrained repetition allocation (Sampling.repetitionAllocate,
    // Muennighoff et al. 2023): per-source unique-token counts, a 150 %
    // budget, and the exact-integer geometric decay table; the greedy
    // utility-prefix allocation (sort ALL domain×epoch chunks by
    // U·d(e) DESC, split the boundary chunk) solves for epochs per
    // domain — q250/q272 take weights as GIVEN, this op derives them
    "q305_repetition_alloc" -> ((s, d) => {
      Sampling.repetitionAllocate(t(s, d, "documents"),
          TA.tokenCount(col("text")), col("source"),
          budgetPct = 150, maxEpochs = 8, decayMicro = 840000L)
        .orderBy("domain")
    }),

    // epoch/repeat EXPANSION — q250's recipe composed into the per-doc
    // training-stream multiplicity: full epochs replay the whole group,
    // the partial epoch takes the deterministic hash-priority prefix of
    // the leftover budget (budgetPerGroup's exact rule), weightless
    // groups get 0 copies. Census pins the plan integers, the partial
    // SET (XOR checksum) and the copy totals per lang
    "q272_epoch_expansion" -> ((s, d) => {
      val wmap = Seq("en" -> 5L, "de" -> 2L, "es" -> 2L, "fr" -> 2L,
        "zh" -> 1L)
      val ex = Sampling.epochExpansion(
        t(s, d, "documents")
          .withColumn("__ntok", TA.tokenCount(col("text")).cast("long")),
        col("doc_id"), col("__ntok"), col("lang"), wmap,
        totalBudget = 1000000L)
      ex.withColumn("__h", PortableHash.md5Long(
          col("doc_id").cast("string"), 99))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("__ntok").cast("long").as("tokens"),
          min("full_epochs").as("fe_min"),
          max("full_epochs").as("fe_max"),
          sum(col("in_partial").cast("long")).as("n_partial"),
          sum(when(col("in_partial"), col("__ntok")).otherwise(0L))
            .cast("long").as("partial_tok"),
          coalesce(expr("bit_xor(CASE WHEN in_partial THEN __h END)"),
            lit(0L)).as("partial_checksum"),
          sum("n_copies").cast("long").as("sum_copies"))
        .orderBy("lang")
    }),

    // the ASSEMBLY CAPSTONE: recipe → training stream. epochExpansion's
    // multiplicity materializes through expandCopies (valved explode) and
    // every (doc, copy) lands a deterministic shard + in-shard position
    // via trainingShards keyed on the copy key — the complete path from
    // mixture weights to shardable stream, every row's (shard, pos)
    // pinned by one XOR fold over (key, shard, pos) triples
    "q273_mixture_stream" -> ((s, d) => {
      val wmap = Seq("en" -> 5L, "de" -> 2L, "es" -> 2L, "fr" -> 2L,
        "zh" -> 1L)
      val ex = Sampling.epochExpansion(
        t(s, d, "documents")
          .withColumn("__ntok", TA.tokenCount(col("text")).cast("long")),
        col("doc_id"), col("__ntok"), col("lang"), wmap,
        totalBudget = 300000L)
      val copies = Sampling.expandCopies(
        ex.select(col("doc_id"), col("lang"), col("__ntok"),
          col("n_copies")), col("n_copies"))
        .withColumn("ckey",
          concat(col("doc_id"), lit("#"), col("copy")))
      Sampling.trainingShards(copies, col("ckey"), nShards = 8, seed = 7)
        .withColumn("__rh", PortableHash.md5Long(
          concat_ws("|", col("ckey"), col("shard"), col("pos")), 99))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct("doc_id").as("n_docs"),
          sum("__ntok").cast("long").as("stream_tokens"),
          expr("bit_xor(__rh)").as("placement_checksum"))
        .orderBy("shard")
    }),

    // the MULTI-EPOCH assembly capstone: q273's recipe → copies stream
    // composed through the r16 per-epoch reshuffle — every (doc, copy)
    // lands a FIXED shard (hash of the copy key, epoch-invariant data
    // locality) while its read order is an independent deterministic
    // permutation per epoch (epochStream over the copy key). The per-
    // (epoch, shard) census pins both halves: multiset_xor is constant
    // ACROSS epochs for each shard (same copies every epoch), while
    // placement_xor differs (the reshuffle provably moved them)
    "q285_multiepoch_stream" -> ((s, d) => {
      val wmap = Seq("en" -> 5L, "de" -> 2L, "es" -> 2L, "fr" -> 2L,
        "zh" -> 1L)
      val ex = Sampling.epochExpansion(
        t(s, d, "documents")
          .withColumn("__ntok", TA.tokenCount(col("text")).cast("long")),
        col("doc_id"), col("__ntok"), col("lang"), wmap,
        totalBudget = 300000L)
      val copies = Sampling.expandCopies(
        ex.select(col("doc_id"), col("lang"), col("__ntok"),
          col("n_copies")), col("n_copies"))
        .withColumn("ckey",
          concat(col("doc_id"), lit("#"), col("copy")))
      Sampling.epochStream(copies, col("ckey"), Seq(0, 1), seed = 11)
        .withColumn("shard",
          pmod(PortableHash.md5Long(col("ckey"), 7), lit(8L)).cast("int"))
        .withColumn("__mk", PortableHash.md5Long(col("ckey"), 5))
        .withColumn("__pk", PortableHash.md5Long(
          concat_ws("|", col("ckey"), col("epoch"), col("pos")), 99))
        .groupBy("epoch", "shard")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct("doc_id").as("n_docs"),
          sum("__ntok").cast("long").as("stream_tokens"),
          expr("bit_xor(__mk)").as("multiset_xor"),
          expr("bit_xor(__pk)").as("placement_xor"))
        .orderBy("epoch", "shard")
    }),

    // pairwise-preference TOURNAMENT ranking (reward-modeling prep between
    // raw judgments and a per-prompt candidate order): 4 candidates per
    // prompt (q270's grouping), all 6 unordered pairs judged by 3 judges —
    // judge 2 deterministically flips every pair with (a+b) % 7 = 0 (noise
    // the per-pair MAJORITY absorbs: 2 honest votes still win 2-1), and
    // every 6th prompt plants a Condorcet CYCLE among its first three
    // candidates (0>1, 1>2, 2>0, ALL judges) so Copeland scoring provably
    // diverges from naive win counts and the deterministic tie-break
    // (copeland DESC, j_wins DESC, cand ASC) decides. The per-(cyc, rnk)
    // census pins every ranking decision via the membership checksum
    "q286_preference_rank" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val half = (size(toks) / lit(2)).cast("int")
      // null text coalesces to '' ON BOTH ENGINES (the oracle already
      // does) — parity must not depend on the fixture never growing a
      // null-text row (r16 ADVICE)
      val cands = t(s, d, "documents").select(
        expr("doc_id DIV 4").as("prompt_id"), col("doc_id").as("src"),
        coalesce(array_join(slice(toks, half + 1, size(toks) - half), " "),
          lit("")).as("resp"))
      val scored = cands.select(col("prompt_id"), col("src"),
        size(array_distinct(split(col("resp"), " "))).cast("long").as("r"))
      val pairs = scored.select(col("prompt_id"), col("src").as("ca"),
          col("r").as("ra"))
        .join(scored.select(col("prompt_id").as("__pb"),
          col("src").as("cb"), col("r").as("rb")),
          col("prompt_id") === col("__pb") && col("ca") < col("cb"))
      val m4 = (c: org.apache.spark.sql.Column) => pmod(c, lit(4))
      val judged = pairs
        .withColumn("judge", explode(array(lit(0), lit(1), lit(2))))
        .withColumn("__base", when(col("ra") > col("rb"), col("ca"))
          .when(col("rb") > col("ra"), col("cb")).otherwise(col("ca")))
        .withColumn("__cw",
          when(m4(col("ca")) === 0 && m4(col("cb")) === 1, col("ca"))
            .when(m4(col("ca")) === 1 && m4(col("cb")) === 2, col("ca"))
            .when(m4(col("ca")) === 0 && m4(col("cb")) === 2, col("cb")))
        .withColumn("winner",
          when(pmod(col("prompt_id"), lit(6)) === 0 && col("__cw").isNotNull,
            col("__cw"))
            .otherwise(when(
              col("judge") === 2 && pmod(col("ca") + col("cb"), lit(7)) === 0,
              col("ca") + col("cb") - col("__base")).otherwise(col("__base"))))
      graft.ops.Preference.rankCandidates(judged, col("prompt_id"),
          col("ca"), col("cb"), col("winner"))
        .withColumn("cyc", (pmod(col("prompt"), lit(6)) === 0).cast("int"))
        .withColumn("__h", PortableHash.md5Long(
          concat_ws(":", col("prompt"), col("cand")), 77))
        .groupBy("cyc", "rnk")
        .agg(count(lit(1)).as("n"),
          sum("copeland").as("sum_cope"),
          min("copeland").as("min_cope"), max("copeland").as("max_cope"),
          sum("j_wins").as("sum_jwins"),
          sum("win_permille").as("sum_win_pm"),
          expr("bit_xor(__h)").as("rank_checksum"))
        .orderBy("cyc", "rnk")
    }),

    // padding-waste DECISION table for fixed-row inference batching
    // (Chunking.padWasteReport): per (source, policy) the exact padded vs
    // real token cost of R=8 batches under arrival order vs length-sorted
    // order — the serving-side sibling of q279's ctx sweep; every cell
    // integer arithmetic on the half-up permille grid
    "q292_pad_waste" -> ((s, d) => {
      Chunking.padWasteReport(t(s, d, "documents"), col("source"),
          col("doc_id"), TA.tokenCount(col("text")).cast("long"),
          rowsPerBatch = 8)
        .orderBy("grp", "policy")
    }),

    // PREFIX-CACHE savings table (Chunking.prefixCacheReport): the q256
    // prompt table (with its every-7th planted template duplicates —
    // guaranteed full-prefix hits) scheduled lexicographically per
    // source; cached tokens = token-boundary LCP with the sorted
    // predecessor, the KV-reuse a prefix-caching server gets from that
    // schedule. All-integer, half-up permille savings
    "q293_prefix_cache" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val half = (size(toks) / lit(2)).cast("int")
      val prompts = t(s, d, "documents")
        .filter(pmod(col("doc_id"), lit(2)) === 0)
        // null-text coalesce matches the oracle's (r16 ADVICE parity rule)
        .select(col("source"), expr("doc_id DIV 2").as("pair_id"),
          coalesce(array_join(slice(toks, lit(1), half), " "), lit(""))
            .as("__fh"))
        .select(col("source"),
          when(pmod(col("pair_id"), lit(7)) === 0,
            lit("write a short story about data")).otherwise(col("__fh"))
            .as("prompt"))
      Chunking.prefixCacheReport(prompts, col("source"), col("prompt"))
        .withColumnRenamed("grp", "source")
        .orderBy("source")
    }),

    // PREFIX-CACHE serving SCHEDULE (Chunking.prefixCacheSchedule — the
    // r17 verdict's "emit the schedule itself" gap): q293's prompt table
    // served per source in lexicographic order, one row per prompt with
    // its serve position and cached/computed token split; conservation
    // cached + computed = n_tokens holds per row by construction and the
    // oracle replays every cell
    "q298_prefix_schedule" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val half = (size(toks) / lit(2)).cast("int")
      val prompts = t(s, d, "documents")
        .filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("source"), expr("doc_id DIV 2").as("pair_id"),
          coalesce(array_join(slice(toks, lit(1), half), " "), lit(""))
            .as("__fh"))
        .select(col("source"),
          when(pmod(col("pair_id"), lit(7)) === 0,
            lit("write a short story about data")).otherwise(col("__fh"))
            .as("prompt"))
      Chunking.prefixCacheSchedule(prompts, col("source"), col("prompt"))
        .withColumnRenamed("grp", "source")
        .select(col("source"), col("serve_order"),
          md5(col("prompt")).as("prompt_fp"), col("n_tokens"),
          col("cached_tokens"), col("computed_tokens"))
        .orderBy("source", "serve_order")
    }),

    // deterministic PER-EPOCH reshuffle + resumable cursor: epoch e's
    // stream order = rank of md5(doc_id + "#e") — an independent
    // deterministic permutation of the SAME multiset per epoch. The row
    // per epoch pins (a) multiset invariance (multiset_xor constant
    // across epochs), (b) that consecutive epochs' orders genuinely
    // differ (n_moved replayed exactly), and (c) the resume contract:
    // resume_xor/n_resumed are computed on a FRESH re-derivation of the
    // stream filtered at cursor (epoch 1, pos 100) — recomputation
    // stability makes them equal the oracle's uninterrupted suffix
    "q283_epoch_reshuffle" -> ((s, d) => {
      def docsDf = t(s, d, "documents").select(col("doc_id"))
      def oh(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        PortableHash.md5Long(concat_ws("@", col("doc_id"), c), 5)
      val stream = Sampling.epochStream(docsDf, col("doc_id"),
        Seq(0, 1, 2), seed = 11)
      val tagged = stream
        .withColumn("__kh",
          PortableHash.md5Long(col("doc_id").cast("string"), 5))
        .withColumn("__oh", oh(col("pos")))
      val perEpoch = tagged.groupBy("epoch")
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(__kh)").as("multiset_xor"),
          expr("bit_xor(__oh)").as("order_xor"))
      val prev = stream.select((col("epoch") + 1).as("epoch"),
        col("doc_id"), col("pos").as("__prev"))
      val moved = stream.join(prev, Seq("epoch", "doc_id"), "left")
        .groupBy("epoch")
        .agg(sum(when(col("pos") =!= col("__prev"), 1L).otherwise(0L))
          .as("n_moved"))
      val resumed = Sampling.resumeAt(
          Sampling.epochStream(docsDf, col("doc_id"), Seq(1, 2), seed = 11),
          epoch = 1, pos = 100L)
        .withColumn("__oh", oh(col("pos")))
        .groupBy("epoch")
        .agg(count(lit(1)).as("n_resumed"),
          expr("bit_xor(__oh)").as("resume_xor"))
      perEpoch.join(moved, Seq("epoch"))
        .join(resumed, Seq("epoch"), "left")
        .orderBy("epoch")
    }),

    // context-length DECISION table: the q97 FFD packing swept over three
    // candidate bin capacities, one all-integer report row per ctx —
    // bins, utilization on the exact permille grid, padding waste,
    // fullest/emptiest bin. The numbers a trainer picks ctx from; every
    // cell replayed by three side-by-side recursive FFD CTEs
    "q279_pack_efficiency" -> ((s, d) => {
      val chunks = Chunking.chunk(
        t(s, d, "documents").filter(col("doc_id") < 60),
        col("doc_id"), col("text"), width = 32, stride = 32)
      Chunking.packEfficiency(chunks, pmod(col("doc"), lit(3)),
          ctxs = Seq(64, 128, 256))
        .orderBy("ctx")
    }),

    // packed-batch sample offsets: where each chunk STARTS inside its
    // q97 FFD bin — the attention-mask/sample-boundary table a trainer
    // needs next to the packed batch. Offset = running token sum in the
    // bin's INSERTION order (n_tok DESC, doc, chunk_idx — FFD's own
    // order restricted to the bin); the window partitions by (grp, bin),
    // a high-cardinality key
    "q251_pack_offsets" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val chunks = Chunking.chunk(
        t(s, d, "documents").filter(col("doc_id") < 60),
        col("doc_id"), col("text"), width = 32, stride = 32)
      val packed = Chunking.packFFD(chunks, pmod(col("doc"), lit(3)),
        ctx = 128)
      val w = Window.partitionBy("grp", "bin")
        .orderBy(col("n_tok").desc, col("doc"), col("chunk_idx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      packed
        .withColumn("offset",
          (sum("n_tok").over(w) - col("n_tok")).cast("int"))
        .select(col("grp"), col("bin"), col("doc"), col("chunk_idx"),
          col("n_tok"), col("offset"))
        .orderBy("grp", "bin", "doc", "chunk_idx")
    }),

    // TAKEDOWN / REBUILD audit (Chunking.takedownAudit): the q251 FFD
    // pack with a planted removal list (doc % 7 = 3 — the
    // right-to-be-forgotten requests), per-group blast radius: bins
    // dirtied by >= 1 removed chunk, surviving rows and tokens that must
    // repack, all on the half-up permille grid
    "q296_takedown_audit" -> ((s, d) => {
      val chunks = Chunking.chunk(
        t(s, d, "documents").filter(col("doc_id") < 60),
        col("doc_id"), col("text"), width = 32, stride = 32)
      val packed = Chunking.packFFD(chunks, pmod(col("doc"), lit(3)),
        ctx = 128)
      Chunking.takedownAudit(packed, col("grp"), col("bin"), col("n_tok"),
          pmod(col("doc"), lit(7)) === 3)
        .orderBy("grp")
    }),

    // TAKEDOWN repack EXECUTOR (Chunking.repackDirty — q296 priced the
    // blast radius, this rebuilds it): the same pack and removal plant;
    // clean bins return bit-identical under their original ids, removed
    // rows are gone, dirty-bin survivors re-pack by the same FFD rule
    // into fresh ids offset past max(original bin) per group — the
    // oracle replays BOTH recursions (original + repack) cell for cell
    "q299_takedown_repack" -> ((s, d) => {
      val chunks = Chunking.chunk(
        t(s, d, "documents").filter(col("doc_id") < 60),
        col("doc_id"), col("text"), width = 32, stride = 32)
      val packed = Chunking.packFFD(chunks, pmod(col("doc"), lit(3)),
        ctx = 128)
      Chunking.repackDirty(packed, col("grp"), col("bin"),
          pmod(col("doc"), lit(7)) === 3, ctx = 128)
        .select(col("grp"), col("bin"), col("doc"), col("chunk_idx"),
          col("n_tok"), col("repacked"))
        .orderBy("grp", "bin", "doc", "chunk_idx")
    }),

    // TAKEDOWN output ERASURE (streaming.Erasure.forgetRows +
    // erasureAudit — the r18 verdict's ask: the loop's batch surface
    // under the DuckDB oracle, not only spec pins): an admitted store
    // of 4 `batch=` directories (batch = doc_id % 4) built from
    // documents, removal list doc_id % 37 = 0. forgetRows rewrites
    // ONLY the dirty directories in place (count pinned as a column);
    // survivors are read BACK FROM THE REWRITTEN STORE and pinned per
    // batch (count + order-free XOR membership checksum + a re-derived
    // per-batch residual), and the audit certificate's totals ride
    // along as replayable scalars. The file transaction itself (crash
    // sims, bit-identical clean dirs) stays in StreamStaticSpec /
    // OpsSpecR19 where it belongs.
    "q302_erasure_forget" -> ((s, d) => {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft-erase302-${d.hashCode.toHexString}/adm"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true) // in-place op: fresh store per run
      val docs = t(s, d, "documents").select(col("doc_id"))
      // r19 (optimization round): four independent single-file fixture
      // writes to disjoint batch dirs — concurrent submission (guide
      // §2.6) instead of four serial driver actions; contents unchanged
      locally {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        (0 until 4).map { b => Future {
          docs.filter(pmod(col("doc_id"), lit(4)) === b)
            .coalesce(1).write.mode("overwrite").parquet(s"$dir/batch=$b")
        } }.foreach(Await.result(_, Duration.Inf))
      }
      val removed = docs.filter(pmod(col("doc_id"), lit(37)) === 0)
        .collect().map(_.getLong(0)).toSeq.sorted
      val nRewritten =
        graft.streaming.Erasure.forgetRows(s, dir, "doc_id", removed)
      val cert = graft.streaming.Erasure.erasureAudit(s, removed,
        Seq(("adm", dir, "doc_id"))).collect()(0)
      s.read.option("recursiveFileLookup", "true").parquet(dir)
        .withColumn("__h",
          PortableHash.md5Long(col("doc_id").cast("string"), 99))
        .groupBy(pmod(col("doc_id"), lit(4)).as("batch"))
        .agg(count(lit(1)).as("n_kept"),
          coalesce(expr("bit_xor(__h)"), lit(0L)).as("kept_checksum"),
          sum(when(pmod(col("doc_id"), lit(37)) === 0, 1L).otherwise(0L))
            .as("n_residual"))
        .withColumn("n_rewritten", lit(nRewritten.toLong))
        .withColumn("audit_rows", lit(cert.getLong(1)))
        .withColumn("audit_residual", lit(cert.getLong(2)))
        .orderBy("batch")
    }),

    // GOVERNANCE composite certificate (streaming.Governance.execute —
    // the r18 verdict's top ask, here under the DuckDB oracle): ONE
    // registry holding all six store kinds — text MinHash index (even
    // docs, 2 increments), embed index (every vector), media index
    // (docs % 5 = 0, synthetic phash — forget semantics read only the
    // id), a 3-batch admitted store, the q296 FFD pack published
    // through the manifest, and an External store already erased by
    // its owner — executed against removal list doc_id % 41 = 0. The
    // certificate's n_rows column is re-derived per store from the
    // source tables (survivor counts), n_residual from the same
    // predicate (0 by construction after a loop that RAISES otherwise)
    "q303_governance_certificate" -> ((s, d) => {
      import graft.streaming.{Governance => G}
      val root = s"${System.getProperty("java.io.tmpdir")}/graft-gov303-${d.hashCode.toHexString}"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true) // in-place ops: fresh stores per run
      val docs = t(s, d, "documents")
      val removed = docs.filter(pmod(col("doc_id"), lit(41)) === 0)
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      // r19 (optimization round): the eight store-fixture builds are
      // independent single-file writes to disjoint directories that ran
      // as serial driver actions — the wall cost of this query was the
      // idle gaps between ~10 tiny jobs, not compute (3.9 s wall at
      // 5.6 cpu-s on 32 cores). Submit them concurrently (guide §2.6)
      // and await all before the orchestrator runs; contents unchanged.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val evens = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      val builds = Seq[() => Unit](
        // text index: signatures of even docs across two increments
        () => Dedup.minhashSignaturesRowwise(
            evens.filter(pmod(col("doc_id"), lit(4)) === 0),
            col("doc_id"), col("text"), n = 3, k = 16)
          .coalesce(1).write.mode("overwrite").parquet(s"$root/tidx/inc=0"),
        () => Dedup.minhashSignaturesRowwise(
            evens.filter(pmod(col("doc_id"), lit(4)) === 2),
            col("doc_id"), col("text"), n = 3, k = 16)
          .coalesce(1).write.mode("overwrite").parquet(s"$root/tidx/inc=1"),
        // embed index: every vector, (bucket, vec, doc)
        () => Dedup.embedIndexOf(t(s, d, "embeddings"), col("vec_id"),
            col("embedding"), bits = 8)
          .coalesce(1).write.mode("overwrite").parquet(s"$root/eidx/inc=0"),
        // media index: synthetic deterministic phash (never compared
        // here; xxhash64 — a multiply by a large constant overflows ANSI
        // Long on the scaled-SF doc_id offsets)
        () => docs.filter(pmod(col("doc_id"), lit(5)) === 0)
          .select(col("doc_id").as("doc"), lit("image").as("kind"),
            xxhash64(col("doc_id")).as("phash"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/midx/inc=0"),
        // admitted outputs: 3 batches over all docs
        () => docs.select("doc_id").filter(pmod(col("doc_id"), lit(3)) === 0)
          .coalesce(1).write.mode("overwrite").parquet(s"$root/adm/batch=0"),
        () => docs.select("doc_id").filter(pmod(col("doc_id"), lit(3)) === 1)
          .coalesce(1).write.mode("overwrite").parquet(s"$root/adm/batch=1"),
        () => docs.select("doc_id").filter(pmod(col("doc_id"), lit(3)) === 2)
          .coalesce(1).write.mode("overwrite").parquet(s"$root/adm/batch=2"),
        // pack: the q296 FFD fixture, atomically published
        () => {
          val chunks = Chunking.chunk(docs.filter(col("doc_id") < 60),
            col("doc_id"), col("text"), width = 32, stride = 32)
          graft.core.Ingest.atomicPublish(
            Chunking.packFFD(chunks, pmod(col("doc"), lit(3)), ctx = 128),
            s"$root/pack")
          ()
        },
        // External store: erased out-of-band (already clean)
        () => docs.select("doc_id").filter(pmod(col("doc_id"), lit(41)) =!= 0)
          .coalesce(1).write.mode("overwrite").parquet(s"$root/ext/part=0"))
      builds.map(b => Future(b())).foreach(Await.result(_, Duration.Inf))
      G.execute(s, removed, Seq(
          G.Registry.TextIndex("text_index", s"$root/tidx", upToBatchId = 2),
          G.Registry.EmbedIndex("embed_index", s"$root/eidx", upToBatchId = 1),
          G.Registry.MediaIndex("media_index", s"$root/midx", upToBatchId = 1),
          G.Registry.Admitted("admitted", s"$root/adm", "doc_id"),
          G.Registry.Pack("pack", s"$root/pack", ctx = 128),
          G.Registry.External("partner_store", s"$root/ext", "doc_id")))
        .orderBy("store")
    }),

    // quality-phased curriculum schedule: phase 0 = clean docs, then
    // repetitive, then short (train on the cleanest slice first — the
    // curriculum canon); within a phase the order is a deterministic
    // hash shuffle. The GLOBAL position comes from the scale-safe
    // distributed rank (Sampling.globalRowNumber — range repartition +
    // partition-local rank + broadcast offsets; the oracle's
    // row_number() window is the executable spec it must match bit for
    // bit, never the execution plan)
    "q247_curriculum_order" -> ((s, d) => {
      val qc = TA.qualityClass(col("text"))
      val staged = t(s, d, "documents")
        .withColumn("phase",
          when(qc === "ok", 0).when(qc === "repetitive", 1).otherwise(2))
        .withColumn("ord_hash", Sampling.hashBucket(col("doc_id"), 23))
      Sampling.globalRowNumber(staged,
          Seq(col("phase").asc, col("ord_hash").asc, col("doc_id").asc),
          "pos")
        .filter(col("doc_id") < 40)
        .select(col("doc_id"), col("phase"), col("ord_hash"), col("pos"))
        .orderBy("doc_id")
    }),

    // fill-in-the-middle transform (the code/infill pretraining
    // objective): the apply coin and both cut points are pure functions
    // of the doc id, the document re-serializes in PSM sentinel order,
    // untransformed docs pass through raw — per-doc cuts and the full
    // transformed byte stream pinned
    "q244_fim_transform" -> ((s, d) => {
      import graft.ops.Chunking
      Chunking.fimTransform(
          t(s, d, "documents").filter(col("doc_id") < 40),
          col("doc_id"), col("text"), rate = 0.5, seed = 17)
        .select(col("id").as("doc_id"), col("n_tokens"), col("applied"),
          col("cut_lo"), col("cut_hi"), md5(col("fim_text")).as("fp"))
        .orderBy("doc_id")
    }),

    // deterministic training shuffle: every doc's shard + in-shard position
    // is a pure function of (id, seed) — the full order pinned row-by-row
    "q199_training_shards" -> ((s, d) => {
      Sampling.trainingShards(t(s, d, "documents"), col("doc_id"),
          nShards = 8, seed = 7)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("shard", "pos")
    }),

    // dataset release manifest: per split, the counts a release is
    // reproduced against PLUS an order-free membership checksum (XOR-fold
    // of the portable id hashes — commutative, associative and CLOSED on
    // int64, so any engine, any partitioning, any row order, any split
    // SIZE re-derives the same fingerprint; a summation fold would
    // saturate BIGINT after ~9.2M rows per split even on a 1e12 grid,
    // at which point Spark wraps while DuckDB widens to HUGEINT — the
    // silent cross-engine divergence XOR cannot have. A single
    // membership change flips its hash's bits; ids are distinct by
    // contract so changes cannot pairwise cancel). The release audit
    // q193 diffs between snapshots, this PINS within one
    "q231_release_manifest" -> ((s, d) => {
      t(s, d, "documents")
        .withColumn("split",
          Sampling.splitColumn(col("doc_id"), SplitNames, SplitWeights))
        .withColumn("__h", graft.functions.PortableHash.md5Long(
          col("doc_id").cast("string"), 99))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(TA.tokenCount(col("text"))).cast("long").as("sum_tokens"),
          expr("bit_xor(__h)").as("membership_checksum"))
        .orderBy("split")
    }),

    // source-concentration report: Gini coefficient + top-source share of
    // the corpus token mass — the diversity diagnostic behind mixture
    // decisions (a Gini near 1 means one domain owns the corpus). Exact
    // integer arithmetic until two final divisions: Σ(2·rank − n − 1)·x
    // over ranked integer token sums. The rank window runs over the
    // SOURCE-level aggregate (domains, not documents — a driver-sized
    // relation by the same contract as every per-source broadcast here)
    "q222_source_concentration" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val per = t(s, d, "documents")
        .groupBy("source")
        .agg(sum(TA.tokenCount(col("text"))).cast("long").as("ntok"))
      val ranked = per.withColumn("rk",
        row_number().over(Window.orderBy(col("ntok"), col("source"))))
      ranked
        .agg(count(lit(1)).as("n_sources"),
          sum("ntok").as("total_tokens"),
          sum((lit(2) * col("rk") - lit(1)) * col("ntok")).as("__num"),
          max("ntok").as("__top"))
        .select(col("n_sources"), col("total_tokens"),
          // ExactRound: gini and top_share are exact BIGINT rationals —
          // round half-up in integer space, never round the IEEE
          // quotient (the q169 tie class); products stay in DECIMAL(38,0)
          // so n·total cannot overflow int64 at corpus scale
          ExactRound.ratioRounded(
            "CAST(__num AS DECIMAL(38,0)) " +
              "- CAST(n_sources AS DECIMAL(38,0)) * total_tokens",
            "CAST(n_sources AS DECIMAL(38,0)) * total_tokens", 6)
            .as("gini"),
          ExactRound.ratioRounded("__top", "total_tokens", 6)
            .as("top_share"))
    }),

    // group-integrity split (GroupKFold discipline): hash the SOURCE, not
    // the doc, so a source can never straddle train/test — the structural
    // fix for the near-dup leakage q167 audits. Per (split, source) rows
    // pin every assignment; the distinct-splits-per-source maximum pins
    // the no-straddle contract itself as a checkable 1
    "q216_group_split" -> ((s, d) => {
      val withSplit = t(s, d, "documents")
        .withColumn("split",
          Sampling.splitColumn(col("source"), SplitNames, SplitWeights))
      val per = withSplit.groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"))
      val integrity = per.groupBy("source")
        .agg(countDistinct("split").as("k"))
        .agg(max("k").cast("long").as("max_splits_per_source"))
      per.crossJoin(broadcast(integrity))
        .orderBy("split", "source")
    }),

    "q78_stratified_sample" -> ((s, d) => {
      Sampling.stratifiedSample(t(s, d, "documents"), col("doc_id"),
          col("lang"), LangFracs)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(TA.tokenCount(col("text"))).cast("long").as("sum_tokens"))
        .orderBy("lang")
    }),

    // EXACT-k deterministic per-group sample: 3 exemplar docs per language
    // by portable-hash rank — membership fully pinned (sum of kept ids)
    "q124_sample_k_per_group" -> ((s, d) => {
      Sampling.sampleKPerGroup(t(s, d, "documents"), col("doc_id"),
          col("lang"), k = 3)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
        .orderBy("lang")
    }),

    // weighted sampling WITHOUT replacement (Efraimidis–Spirakis via the
    // max-of-w-hashes identity — no transcendentals, so the rank order is
    // bit-reproducible cross-engine): 3 docs per language, weight = token
    // count clamped to 64 — the domain-mixing / quality-weighted-subset
    // primitive. Membership fully pinned (sum of kept ids).
    "q131_weighted_sample" -> ((s, d) => {
      Sampling.weightedSampleKPerGroup(t(s, d, "documents"), col("doc_id"),
          TA.tokenCount(col("text")), col("lang"), k = 3, maxWeight = 64)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
        .orderBy("lang")
    }),

    // token-budget mixture assembly: at most 2000 tokens per source, rows
    // taken in deterministic hash order (an unbiased uniform prefix at
    // every budget level) — membership fully pinned (sum of kept ids +
    // exact token total per source)
    "q134_budget_per_group" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("ntok", TA.tokenCount(col("text")))
      Sampling.budgetPerGroup(docs, col("doc_id"), col("ntok"),
          col("source"), budget = 2000)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"),
          sum("ntok").cast("long").as("sum_tokens"))
        .orderBy("source")
    }),

    // deterministic pre-training shuffle: the head of the reproducible
    // global permutation (portable hash order, tie-broken by key) — the
    // oracle replays the same order; OpsSpec pins that the op's partition
    // layout realizes exactly this order end to end
    "q151_train_shuffle" -> ((s, d) => {
      Sampling.deterministicShuffle(t(s, d, "documents"), col("doc_id"),
          nPartitions = 4)
        .orderBy(col("shuffle_ord"), col("doc_id").cast("string"))
        .limit(20)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // square-root temperature mixture: per-source budgets ∝ isqrt(source
    // tokens) — the α=0.5 rebalancing rule, bit-portable integer budget
    // arithmetic, then the q134 deterministic hash-prefix take
    "q149_sqrt_mixture" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("ntok", TA.tokenCount(col("text")))
      Sampling.sqrtTemperatureMixture(docs, col("doc_id"), col("ntok"),
          col("source"), totalBudget = 3000)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"),
          sum("ntok").cast("long").as("sum_tokens"))
        .orderBy("source")
    }),

    // overlapping token windows (width 64, stride 48): per window-index
    // stats + content fingerprints pin both the windowing arithmetic and
    // the chunk text byte-for-byte
    // T5 span-corruption target budget: hash-seeded deterministic mask
    // spans, overlaps merged into sentinel islands — every count AND the
    // exact mask set (position checksum) pinned per document
    "q201_span_corruption" -> ((s, d) => {
      Chunking.spanCorruptionStats(t(s, d, "documents"), col("doc_id"),
          col("text"))
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_spans"),
          col("n_masked"), col("masked_pos_sum"), col("input_len"),
          col("target_len"))
        .orderBy("doc_id")
    }),

    "q86_chunk" -> ((s, d) => {
      Chunking.chunk(t(s, d, "documents"), col("doc_id"), col("text"),
          width = 64, stride = 48)
        .groupBy("chunk_idx")
        .agg(count(lit(1)).as("n_chunks"),
          sum("n_tok").cast("long").as("sum_tok"),
          min("n_tok").cast("int").as("min_tok"),
          max("n_tok").cast("int").as("max_tok"),
          min(md5(col("chunk"))).as("min_h"),
          max(md5(col("chunk"))).as("max_h"))
        .orderBy("chunk_idx")
    }),

    // concat-and-cut packing into 512-token context bins, packed per
    // source (parallel pack groups — no global sort at scale)
    "q87_pack" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val chunks = Chunking.chunk(docs, col("doc_id"), col("text"),
        width = 64, stride = 48)
        .join(broadcast(docs.select(col("doc_id").as("doc"), col("source"))),
          "doc")
      Chunking.pack(chunks, col("source"), ctx = 512)
        .groupBy("source")
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct("bin").as("n_bins"),
          sum("n_tok").cast("long").as("sum_tok"))
        .orderBy("source")
    }),

    // first-fit-decreasing packing: whole chunks into 128-token bins, no
    // chunk straddles a boundary. Deterministic (n_tok DESC, doc, chunk_idx
    // order + first fit), so the full per-chunk bin assignment is pinned
    // bit-exact against a recursive-CTE FFD in the oracle.
    "q97_pack_ffd" -> ((s, d) => {
      val chunks = Chunking.chunk(
        t(s, d, "documents").filter(col("doc_id") < 60),
        col("doc_id"), col("text"), width = 32, stride = 32)
      Chunking.packFFD(chunks, pmod(col("doc"), lit(3)), ctx = 128)
        .select(col("grp"), col("bin"), col("doc"), col("chunk_idx"),
          col("n_tok"))
        .orderBy("grp", "bin", "doc", "chunk_idx")
    }),

    // Morton interleave arithmetic (the multi-dim data-skipping sort key):
    // per z-prefix bucket, the (custkey, day) rectangle must be compact —
    // pins every bit of the spread/interleave ladder
    "q92_zorder" -> ((s, d) => {
      val o = t(s, d, "orders")
        .select(pmod(col("o_custkey"), lit(65536L)).as("a"),
          pmod(datediff(col("o_orderdate"), to_date(lit("1995-01-01"))),
            lit(65536)).cast("long").as("b"))
      o.select(col("a"), col("b"), Layout.zValue(col("a"), col("b")).as("z"))
        .groupBy(shiftright(col("z"), 20).as("zbucket"))
        .agg(count(lit(1)).as("n"),
          min("a").as("min_a"), max("a").as("max_a"),
          min("b").as("min_b"), max("b").as("max_b"),
          sum("z").cast("long").as("sum_z"))
        .orderBy("zbucket")
    }),

    // the capstone: the ENTIRE curation pipeline (quality → language
    // rebalance → exact dedup → fuzzy dedup → split → chunk → pack) pinned
    // end-to-end by one oracle — every keep/drop/cut decision must agree
    "q91_curation_pipeline" -> ((s, d) => {
      Curation.curate(t(s, d, "documents"), col("doc_id"), col("text"),
          col("lang"), Curation.Config(langFracs = LangFracs))
        .groupBy("split")
        .agg(countDistinct("doc").as("n_docs"),
          count(lit(1)).as("n_chunks"),
          countDistinct("bin").as("n_bins"),
          sum("n_tok").cast("long").as("sum_tok"))
        .orderBy("split")
    }),

    // q91's pipeline with the FULL Gopher gate wired in as a curate()
    // stage (quality + line-repetition rules between the cheap class
    // filter and rebalance) — the FineWeb-style rule stack as one Config
    // flag; per-split report pinned through the whole chain
    "q227_curation_gopher" -> ((s, d) => {
      Curation.curate(t(s, d, "documents"), col("doc_id"), col("text"),
          col("lang"), Curation.Config(langFracs = LangFracs,
            gopherGate = true, gopherMinWords = 20))
        .groupBy("split")
        .agg(countDistinct("doc").as("n_docs"),
          count(lit(1)).as("n_chunks"),
          countDistinct("bin").as("n_bins"),
          sum("n_tok").cast("long").as("sum_tok"))
        .orderBy("split")
    }),

    // the multimodal capstone: q91's pipeline with the perceptual IMAGE
    // dedup stage in front. The planted media runs the REAL PNG decode →
    // dHash path: gradient images (every 31st doc, differing payloads,
    // hash exactly -1) and solid images (every 37th, hash exactly 0) form
    // two near-dup clusters; only each cluster's min id survives the image
    // stage, and the oracle replays that drop set as doc_id arithmetic
    // before replaying the full text pipeline
    "q159_curation_multimodal" -> ((s, d) => {
      import s.implicits._
      import graft.ops.Multimodal
      val media = t(s, d, "documents").select(col("doc_id")).as[Long]
        .filter(id => id % 31 == 0 || id % 37 == 0)
        .map { id =>
          val payload =
            if (id % 31 == 0)
              Multimodal.syntheticGradientPng(16, 8, (id % 7).toInt * 10, 10)
            else Multimodal.syntheticPng(4 + (id % 8).toInt, 4 + (id % 5).toInt,
              (id % 256).toInt, ((id * 7) % 256).toInt, ((id * 11) % 256).toInt)
          Multimodal.MediaRecord(id, "image", payload, "synth")
        }
      Curation.curate(t(s, d, "documents"), col("doc_id"), col("text"),
          col("lang"), Curation.Config(langFracs = LangFracs),
          media = Some(media))
        .groupBy("split")
        .agg(countDistinct("doc").as("n_docs"),
          count(lit(1)).as("n_chunks"),
          countDistinct("bin").as("n_bins"),
          sum("n_tok").cast("long").as("sum_tok"))
        .orderBy("split")
    }),

    // the ALL-MEDIA capstone: q159 generalized to the kind-dispatched
    // hash — three disjoint planted near-dup clusters run the three REAL
    // codec paths (PNG decode → dHash; AVI demux → frame-0 decode → dHash,
    // frame 1 deliberately different so any other frame breaks the
    // cluster; WAV decode → rising-envelope hash), each collapsing to its
    // min id BEFORE the text stages; the oracle replays all three drop
    // sets as doc_id arithmetic then the full text pipeline
    "q171_curation_media" -> ((s, d) => {
      import s.implicits._
      import graft.ops.Multimodal
      val media = t(s, d, "documents").select(col("doc_id")).as[Long]
        .filter(id => id % 31 == 0 || id % 37 == 0 || id % 41 == 0)
        .map { id =>
          if (id % 31 == 0)
            Multimodal.MediaRecord(id, "image",
              Multimodal.syntheticGradientPng(16, 8, (id % 7).toInt * 10, 10),
              "synth")
          else if (id % 37 == 0) {
            val solid = new java.awt.image.BufferedImage(16, 8,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val v = (id % 200).toInt
            for (y <- 0 until 8; x <- 0 until 16)
              solid.setRGB(x, y, (v << 16) | (v << 8) | v)
            Multimodal.MediaRecord(id, "video",
              Multimodal.encodeAviRgb(Seq(
                Multimodal.gradientImage(16, 8, (id % 5).toInt * 10, 10),
                solid)),
              "synth")
          }
          else
            Multimodal.MediaRecord(id, "audio",
              Multimodal.syntheticEnvelopeWav(650, lo = 50 + (id % 40).toInt,
                slope = 2),
              "synth")
        }
      Curation.curate(t(s, d, "documents"), col("doc_id"), col("text"),
          col("lang"), Curation.Config(langFracs = LangFracs),
          media = Some(media))
        .groupBy("split")
        .agg(countDistinct("doc").as("n_docs"),
          count(lit(1)).as("n_chunks"),
          countDistinct("bin").as("n_bins"),
          sum("n_tok").cast("long").as("sum_tok"))
        .orderBy("split")
    }),

    // the CCNet-ordered capstone: paragraph dedup (keep-first, q177's
    // rule) runs UPSTREAM of curate() — shared headers collapse to one
    // canonical copy BEFORE quality/LM/dedup see them (the ordering CCNet
    // uses so duplicated boilerplate can't poison corpus statistics);
    // rebuilt text rejoins on spaces and flows through the whole q91
    // pipeline, all replayed by one oracle
    // hygiene-first curation: q181's planted C4 lines + q186's planted
    // encoding damage, scrubbed by Curation.hygiene() UPSTREAM of the
    // full curate() pipeline (C4/CCNet's actual stage order — crawl
    // cleanup before any statistics); one composed oracle replays the
    // gates, the line rewrite and every downstream stage
    "q187_curation_hygiene" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val segs = transform(
        sequence(lit(0), ((size(toks) - 1) / 7).cast("int")),
        i => concat(array_join(slice(toks, i * 7 + 1, lit(7)), " "),
          when(pmod(col("doc_id") + i, lit(3)) === 0, lit(""))
            .otherwise(lit("."))))
      val headed = when(pmod(col("doc_id"), lit(40)) === 0,
          concat(array(lit("lorem ipsum dolor sit amet.")), segs))
        .when(pmod(col("doc_id"), lit(50)) === 0,
          concat(array(lit("if (x) { alert(1); }.")), segs))
        .otherwise(segs)
      val lines = when(pmod(col("doc_id"), lit(7)) === 0,
          concat(headed, array(lit("please enable javascript to continue."))))
        .otherwise(headed)
      val joined = array_join(lines, "\n")
      val withRepl = when(pmod(col("doc_id"), lit(9)) === 0,
        concat(joined, lit(" \ufffd\ufffd\ufffd"))).otherwise(joined)
      val damaged = when(pmod(col("doc_id"), lit(13)) === 0,
        concat(withRepl, lit("\u0001\u0007"))).otherwise(withRepl)
      val planted = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), damaged.as("text2"))
      val clean = Waist.cut(Curation.hygiene(planted, col("text2"), "text3",
          minWordsPerLine = 4, maxReplRatio = 0.004)
        .select(col("doc_id"), col("lang"),
          regexp_replace(col("text3"), "\n", " ").as("text")))
        // r20 (guide §3.3/§5, the q185 pattern): eager plan truncation at
        // the hygiene/curate waist. The planted-damage expression plus the
        // full hygiene regex chain is a huge expression TREE, and every
        // curate() stage that references `text` (quality class, both dedup
        // keys, chunking) re-inlines it — a 147 KB plan whose Catalyst +
        // codegen + JIT time dominated the query (StageProbe: wall 3.6 s,
        // stage time 1.0 s). Checkpointing the slim cleaned frame makes
        // downstream plans reference a plain column instead.
      Curation.curate(clean, col("doc_id"), col("text"), col("lang"),
          Curation.Config(langFracs = LangFracs))
        .groupBy("split")
        .agg(countDistinct("doc").as("n_docs"),
          count(lit(1)).as("n_chunks"),
          countDistinct("bin").as("n_bins"),
          sum("n_tok").cast("long").as("sum_tok"))
        .orderBy("split")
    }),

    // the curation FUNNEL: per-stage survivor counts in pipeline order —
    // the yield report built from the pipeline's own stage chain, so the
    // oracle re-deriving each stage pins that report against the code
    "q189_curation_funnel" -> ((s, d) => {
      Curation.funnel(t(s, d, "documents"), col("doc_id"), col("text"),
          col("lang"), Curation.Config(langFracs = LangFracs))
        .orderBy("stage_idx")
    }),

    "q180_curation_paradedup" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val segs = transform(
        sequence(lit(0), ((size(toks) - 1) / 8).cast("int")),
        i => array_join(slice(toks, i * 8 + 1, lit(8)), " "))
      val paras = when(pmod(col("doc_id"), lit(4)) === 0,
          concat(array(lit("shared boilerplate header")), segs))
        .otherwise(segs)
      val planted = t(s, d, "documents")
        .select(col("doc_id"), array_join(paras, "\n").as("text2"),
          col("lang"))
      val pd = Dedup.dedupParagraphsKeepFirst(planted, col("doc_id"),
          col("text2"))
        .select(col("id").as("doc_id"),
          regexp_replace(col("text"), "\n", " ").as("text"))
      val docs2 = pd.join(planted.select(col("doc_id"), col("lang")),
        "doc_id")
      Curation.curate(docs2, col("doc_id"), col("text"), col("lang"),
          Curation.Config(langFracs = LangFracs))
        .groupBy("split")
        .agg(countDistinct("doc").as("n_docs"),
          count(lit(1)).as("n_chunks"),
          countDistinct("bin").as("n_bins"),
          sum("n_tok").cast("long").as("sum_tok"))
        .orderBy("split")
    }),

    // the DSIR-selected pipeline: curate() with the data-selection stage
    // between the quality gate and the rebalance — target = quality-passing
    // src0 docs, keep weight >= 0 ("more target-like than not"). The whole
    // composition (quality → DSIR → rebalance → exact+fuzzy dedup → split →
    // chunk → pack) pins against ONE oracle
    "q162_curation_dsir" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val target = docs.filter(TA.qualityClass(col("text")) === "ok" &&
        col("source") === "src0")
      Curation.curate(docs, col("doc_id"), col("text"), col("lang"),
          Curation.Config(langFracs = LangFracs, dsirBuckets = 64),
          dsirTarget = Some(target))
        .groupBy("split")
        .agg(countDistinct("doc").as("n_docs"),
          count(lit(1)).as("n_chunks"),
          countDistinct("bin").as("n_bins"),
          sum("n_tok").cast("long").as("sum_tok"))
        .orderBy("split")
    }),

    // split-leakage audit — the QA pass after split assignment: for every
    // TRAIN document, the fraction of its distinct 5-grams that appear
    // anywhere in the held-out splits (the GPT-3 overlap rule pointed at
    // the pipeline's own eval data). The held-out side plays q130's
    // benchmark role; at 100 TB scale flip broadcastBench=false since a
    // 20 % split is no MB-sized eval set. Per-flag census pins every doc's
    // overlap decision (counts + id sums + min/max witness)
    "q167_split_leakage" -> ((s, d) => {
      val docs = t(s, d, "documents").withColumn("split",
        Sampling.splitColumn(col("doc_id"), SplitNames, SplitWeights))
      Dedup.ngramOverlap(docs.filter(col("split") === "train"),
          col("doc_id"), col("text"),
          docs.filter(col("split") =!= "train"), col("text"),
          n = 5, threshold = 0.5)
        .groupBy("contaminated")
        .agg(count(lit(1)).as("n_docs"), sum("id").as("sum_ids"),
          min("overlap").as("min_overlap"), max("overlap").as("max_overlap"))
        .orderBy("contaminated")
    }),

    // DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    // log-likelihood ratios against a target slice (source = src0), in
    // integer micro-nats so every doc weight is an exact BIGINT. The
    // per-source aggregate pins EVERY document's weight (sum + max per
    // source), and src0 itself must surface as the most target-like mass
    "q160_dsir_weights" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Sampling.dsirWeights(docs, col("doc_id"), col("text"),
          docs.filter(col("source") === "src0"), col("text"),
          nBuckets = 64)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_grams").cast("long").as("sum_grams"),
          sum("dsir_weight_u").as("sum_weight_u"),
          max("dsir_weight_u").as("max_weight_u"))
        .orderBy("source")
    }),

    // the DSIR resampling step: micro-nat weights → integer [1,64] via the
    // exact affine map → Efraimidis–Spirakis weighted sample, 3 docs per
    // language. Membership fully pinned (sum of kept ids per language)
    "q161_dsir_resample" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Sampling.dsirResample(docs, col("doc_id"), col("text"),
          docs.filter(col("source") === "src0"), col("text"),
          col("lang"), k = 3, nBuckets = 64)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"),
          sum("w_es").cast("long").as("sum_w"))
        .orderBy("lang")
    })
  )

  /** Shared recursive-CTE FFD replay (q97/q251): `ffd(grp, rn, doc,
    * chunk_idx, n_tok, bin, loads)` in insertion order. */
  /** The q97 FFD replay as a parameterized CTE LIST (no leading WITH;
    * caller opens WITH RECURSIVE): relations `chunks$sfx / ordered$sfx /
    * ffd$sfx` with bin capacity `ctx` — the state row carries per-bin
    * remaining capacities as a LIST, each step places the next chunk (in
    * n_tok DESC, doc, chunk_idx order) into the first bin with room
    * (list_position = 0 → open a new bin). Suffixing lets q279 replay
    * several capacities side by side in ONE recursive WITH. */
  private def ffdCtes(ctx: Int, sfx: String): String =
    s"""chunks$sfx AS (
           SELECT doc_id AS doc, (s - 1) // 32 AS chunk_idx,
                  least(32, len(str_split(text, ' ')) - s + 1) AS n_tok,
                  CAST(doc_id % 3 AS VARCHAR) AS grp
           FROM documents, LATERAL (
             SELECT unnest(generate_series(1, greatest(len(str_split(text, ' ')), 1), 32)) s)
           WHERE doc_id < 60
         ), ordered$sfx AS (
           SELECT *, row_number() OVER (PARTITION BY grp ORDER BY n_tok DESC, doc, chunk_idx) rn
           FROM chunks$sfx
         ), ffd$sfx AS (
           SELECT grp, rn, doc, chunk_idx, n_tok,
                  CAST(0 AS BIGINT) AS bin, [$ctx - n_tok] AS loads
           FROM ordered$sfx WHERE rn = 1
           UNION ALL
           SELECT o.grp, o.rn, o.doc, o.chunk_idx, o.n_tok,
                  CASE WHEN list_position(list_transform(f.loads, b -> b >= o.n_tok), true) = 0
                       THEN len(f.loads)
                       ELSE list_position(list_transform(f.loads, b -> b >= o.n_tok), true) - 1 END,
                  CASE WHEN list_position(list_transform(f.loads, b -> b >= o.n_tok), true) = 0
                       THEN list_append(f.loads, $ctx - o.n_tok)
                       ELSE list_transform(f.loads, (b, i) ->
                         CASE WHEN i = list_position(list_transform(f.loads, x -> x >= o.n_tok), true)
                              THEN b - o.n_tok ELSE b END) END
           FROM ffd$sfx f JOIN ordered$sfx o ON o.grp = f.grp AND o.rn = f.rn + 1
         )"""

  private val FfdCte: String = "WITH RECURSIVE " + ffdCtes(128, "")

  val oracleSql: Map[String, String] = Map(

    "q77_hash_split" ->
      s"""SELECT ${Sampling.splitSql("doc_id", SplitNames, SplitWeights)} AS split,
         count(*) AS n_docs,
         CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS sum_tokens
         FROM documents GROUP BY 1 ORDER BY 1""",

    // identical phase CASE, identical order hash, the ntile-free rank's
    // executable spec as a plain window
    "q247_curriculum_order" ->
      s"""WITH q AS (SELECT doc_id,
           CASE WHEN (${TA.qualityClassSql("text")}) = 'ok' THEN 0
                WHEN (${TA.qualityClassSql("text")}) = 'repetitive' THEN 1
                ELSE 2 END AS phase,
           (${Sampling.hashBucketSql("doc_id::VARCHAR", 23)}) AS ord_hash
           FROM documents),
         r AS (SELECT doc_id, phase, ord_hash,
             row_number() OVER (ORDER BY phase, ord_hash, doc_id) AS pos
           FROM q)
         SELECT doc_id, CAST(phase AS INTEGER) AS phase,
           CAST(ord_hash AS BIGINT) AS ord_hash, CAST(pos AS BIGINT) AS pos
         FROM r WHERE doc_id < 40 ORDER BY doc_id""",

    // identical apply coin, identical cut hashes, identical PSM assembly
    "q244_fim_transform" ->
      s"""WITH ${graft.ops.Chunking.fimTransformSql("doc_id", "text",
          "(SELECT * FROM documents WHERE doc_id < 40)", rate = 0.5,
          seed = 17)}
         SELECT id AS doc_id, n_tokens, applied, cut_lo, cut_hi,
           md5(fim_text) AS fp
         FROM fim ORDER BY doc_id""",

    "q231_release_manifest" ->
      s"""SELECT ${Sampling.splitSql("doc_id", SplitNames, SplitWeights)}
           AS split,
         count(*) AS n_docs,
         CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS sum_tokens,
         CAST(bit_xor(${graft.functions.PortableHash.md5LongSql(
        "doc_id::VARCHAR", 99)}) AS BIGINT)
           AS membership_checksum
         FROM documents GROUP BY 1 ORDER BY 1""",

    "q222_source_concentration" ->
      s"""WITH per AS (SELECT source,
           CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS ntok
           FROM documents GROUP BY 1),
         ranked AS (SELECT ntok,
             row_number() OVER (ORDER BY ntok, source) AS rk FROM per),
         agg AS (SELECT count(*) AS n_sources,
             CAST(sum(ntok) AS BIGINT) AS total_tokens,
             CAST(sum((2 * rk - 1) * ntok) AS BIGINT) AS num,
             CAST(max(ntok) AS BIGINT) AS top FROM ranked)
         SELECT n_sources, total_tokens,
           ${graft.ops.ExactRound.ratioRoundedSql(
             "CAST(num AS HUGEINT) - CAST(n_sources AS HUGEINT) * total_tokens",
             "CAST(n_sources AS HUGEINT) * total_tokens", 6)} AS gini,
           ${graft.ops.ExactRound.ratioRoundedSql("top", "total_tokens", 6)}
             AS top_share
         FROM agg""",

    "q216_group_split" ->
      s"""WITH ws AS (SELECT source,
           ${Sampling.splitSql("source", SplitNames, SplitWeights)} AS split
           FROM documents),
         per AS (SELECT split, source, count(*) AS n_docs
           FROM ws GROUP BY 1, 2),
         integ AS (SELECT CAST(max(k) AS BIGINT) AS max_splits_per_source
           FROM (SELECT source, count(DISTINCT split) AS k
             FROM per GROUP BY 1))
         SELECT split, source, n_docs, max_splits_per_source
         FROM per, integ ORDER BY split, source""",

    "q199_training_shards" -> {
      val (shardSql, posSql) = Sampling.trainingShardsSql("doc_id", 8, 7)
      s"""SELECT doc_id, $shardSql AS shard, $posSql AS pos
         FROM documents ORDER BY shard, pos"""
    },

    "q78_stratified_sample" ->
      s"""SELECT lang, count(*) AS n_docs,
         CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS sum_tokens
         FROM documents
         WHERE ${Sampling.stratifiedSampleSql("doc_id", "lang", LangFracs)}
         GROUP BY 1 ORDER BY 1""",

    "q124_sample_k_per_group" ->
      s"""WITH r AS (SELECT lang, doc_id,
           ${Sampling.sampleKRankSql("doc_id", "lang")} AS rn
           FROM documents)
         SELECT lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         FROM r WHERE rn <= 3 GROUP BY 1 ORDER BY 1""",

    "q131_weighted_sample" ->
      s"""WITH r AS (SELECT lang, doc_id,
           row_number() OVER (PARTITION BY lang
             ORDER BY ${Sampling.weightedPrioritySql("doc_id",
               "len(str_split(text, ' '))", 11, 64)} DESC,
             doc_id::VARCHAR) AS rn
           FROM documents)
         SELECT lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         FROM r WHERE rn <= 3 GROUP BY 1 ORDER BY 1""",

    "q134_budget_per_group" ->
      s"""WITH c AS (SELECT source, doc_id, len(str_split(text, ' ')) AS ntok,
           ${Sampling.budgetCumSql("doc_id", "len(str_split(text, ' '))", "source")} AS cum
           FROM documents)
         SELECT source, count(*) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids,
           CAST(sum(ntok) AS BIGINT) AS sum_tokens
         FROM c WHERE cum <= 2000 GROUP BY 1 ORDER BY 1""",

    // identical hash order replayed; final presentation order by doc_id
    "q151_train_shuffle" ->
      s"""WITH h AS (SELECT doc_id, source,
           ${PortableHash.md5LongSql("doc_id::VARCHAR", 11)} AS ord
           FROM documents),
         top AS (SELECT doc_id, source FROM h
           ORDER BY ord, CAST(doc_id AS VARCHAR) LIMIT 20)
         SELECT doc_id, source FROM top ORDER BY doc_id""",

    // identical integer budget arithmetic (floor∘sqrt is exact in any IEEE
    // engine; DIV ≡ // integer division), identical prefix take
    "q149_sqrt_mixture" ->
      s"""WITH tot AS (SELECT source,
             CAST(floor(sqrt(sum(len(str_split(text, ' '))))) AS BIGINT) AS w
           FROM documents GROUP BY 1),
         bud AS (SELECT source,
             CAST(3000 * w // (SELECT sum(w) FROM tot) AS BIGINT) AS b
           FROM tot),
         c AS (SELECT source, doc_id, len(str_split(text, ' ')) AS ntok,
           ${Sampling.budgetCumSql("doc_id", "len(str_split(text, ' '))", "source")} AS cum
           FROM documents)
         SELECT c.source, count(*) AS n_docs,
           CAST(sum(c.doc_id) AS BIGINT) AS sum_ids,
           CAST(sum(c.ntok) AS BIGINT) AS sum_tokens
         FROM c JOIN bud USING (source)
         WHERE c.cum <= bud.b GROUP BY 1 ORDER BY 1""",

    // the q272 plan replay at budget 300000, copies materialized via a
    // correlated LATERAL generate_series (empty when n_copies = 0 — the
    // Spark side guards sequence(1,0) explicitly), then the identical
    // shard/pos hash window over the copy key; every row's placement
    // pinned by the XOR fold over (ckey, shard, pos)
    // q273's expansion CTEs verbatim, then the identical epoch-derived
    // order hash ranked per epoch, the identical fixed-shard hash, and
    // the identical XOR folds — multiset per (epoch, shard) constant
    // across epochs, placement not
    "q285_multiepoch_stream" -> {
      val ordSql = PortableHash.md5LongSql(
        "(ckey || '#' || e.epoch::VARCHAR)", 11)
      s"""WITH c AS (SELECT doc_id, lang,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS ntok
           FROM documents),
         tot AS (SELECT lang, CAST(sum(ntok) AS BIGINT) AS T
           FROM c GROUP BY 1),
         pl AS (SELECT lang, T,
             CASE lang WHEN 'en' THEN 5 WHEN 'de' THEN 2 WHEN 'es' THEN 2
               WHEN 'fr' THEN 2 WHEN 'zh' THEN 1 ELSE 0 END AS w
           FROM tot),
         pl3 AS (SELECT lang, T, CAST(w * 300000 // 12 AS BIGINT) AS tgt,
             CAST(CASE WHEN T = 0 THEN 0
               ELSE (w * 300000 // 12) // T END AS BIGINT) AS fe
           FROM pl),
         pl4 AS (SELECT lang, T, tgt, fe, tgt - fe * T AS rem FROM pl3),
         cm AS (SELECT doc_id, lang, ntok,
             ${Sampling.budgetCumSql("doc_id", "ntok", "lang")} AS cum
           FROM c),
         mk AS (SELECT m.doc_id, m.lang, m.ntok,
             p.fe + CASE WHEN m.cum <= p.rem THEN 1 ELSE 0 END AS nc
           FROM cm m JOIN pl4 p USING (lang)),
         cp AS (SELECT m.doc_id, m.ntok,
             m.doc_id || '#' || cc.copy AS ckey
           FROM mk m, LATERAL (SELECT unnest(generate_series(1, m.nc))
             AS copy) cc),
         es AS (SELECT e.epoch, cp.*, ($ordSql) AS ord
           FROM cp, (SELECT unnest([0, 1]) AS epoch) e),
         r AS (SELECT epoch, doc_id, ntok, ckey,
             row_number() OVER (PARTITION BY epoch
               ORDER BY ord, ckey) - 1 AS pos
           FROM es),
         hx AS (SELECT epoch, doc_id, ntok,
             CAST((${PortableHash.md5LongSql("ckey", 7)}) % 8 AS INTEGER)
               AS shard,
             (${PortableHash.md5LongSql("ckey", 5)}) AS mk,
             (${PortableHash.md5LongSql(
        "(ckey || '|' || epoch::VARCHAR || '|' || pos::VARCHAR)", 99)}) AS pk
           FROM r)
         SELECT CAST(epoch AS INTEGER) AS epoch, shard, count(*) AS n_rows,
           count(DISTINCT doc_id) AS n_docs,
           CAST(sum(ntok) AS BIGINT) AS stream_tokens,
           CAST(bit_xor(mk) AS BIGINT) AS multiset_xor,
           CAST(bit_xor(pk) AS BIGINT) AS placement_xor
         FROM hx GROUP BY 1, 2 ORDER BY 1, 2"""
    },

    // identical pairing (src < src within doc_id // 4 groups), identical
    // 3-judge verdict CASE (cycle override, judge-2 flip, reward compare
    // with tie -> lower id), majority/Copeland/tie-break replayed verbatim
    "q286_preference_rank" -> {
      val hSql = PortableHash.md5LongSql(
        "(prompt::VARCHAR || ':' || cand::VARCHAR)", 77)
      s"""WITH b AS (SELECT doc_id, str_split(text, ' ') AS ts
           FROM documents),
         c AS (SELECT doc_id, len(ts) // 2 AS k, len(ts) AS n, ts FROM b),
         h AS (SELECT doc_id // 4 AS prompt_id, doc_id AS src,
             coalesce(array_to_string(ts[k+1:n], ' '), '') AS resp FROM c),
         sc AS (SELECT prompt_id, src,
             CAST(len(list_distinct(str_split(resp, ' '))) AS BIGINT) AS r
           FROM h),
         p AS (SELECT a.prompt_id, a.src AS ca, b.src AS cb,
             a.r AS ra, b.r AS rb
           FROM sc a JOIN sc b
             ON a.prompt_id = b.prompt_id AND a.src < b.src),
         j AS (SELECT p.*, judge
           FROM p, (SELECT unnest([0, 1, 2]) AS judge)),
         w AS (SELECT prompt_id, ca, cb,
             CASE
               WHEN prompt_id % 6 = 0 AND ca % 4 = 0 AND cb % 4 = 1 THEN ca
               WHEN prompt_id % 6 = 0 AND ca % 4 = 1 AND cb % 4 = 2 THEN ca
               WHEN prompt_id % 6 = 0 AND ca % 4 = 0 AND cb % 4 = 2 THEN cb
               WHEN judge = 2 AND (ca + cb) % 7 = 0 THEN ca + cb -
                 (CASE WHEN ra > rb THEN ca WHEN rb > ra THEN cb ELSE ca END)
               ELSE
                 (CASE WHEN ra > rb THEN ca WHEN rb > ra THEN cb ELSE ca END)
             END AS winner
           FROM j),
         pm AS (SELECT prompt_id, ca AS lo, cb AS hi,
             CAST(sum(CASE WHEN winner = ca THEN 1 ELSE 0 END) AS BIGINT)
               AS wins_lo,
             CAST(sum(CASE WHEN winner = cb THEN 1 ELSE 0 END) AS BIGINT)
               AS wins_hi
           FROM w GROUP BY 1, 2, 3),
         pmm AS (SELECT *, CASE WHEN wins_lo > wins_hi THEN lo
             WHEN wins_hi > wins_lo THEN hi END AS maj FROM pm),
         sides AS (
           SELECT prompt_id, lo AS cand,
             CASE WHEN maj = lo THEN 1 ELSE 0 END AS won,
             CASE WHEN maj = hi THEN 1 ELSE 0 END AS lost,
             wins_lo AS jw, wins_lo + wins_hi AS jn FROM pmm
           UNION ALL
           SELECT prompt_id, hi,
             CASE WHEN maj = hi THEN 1 ELSE 0 END,
             CASE WHEN maj = lo THEN 1 ELSE 0 END,
             wins_hi, wins_lo + wins_hi FROM pmm),
         sc2 AS (SELECT prompt_id AS prompt, cand,
             CAST(sum(won) - sum(lost) AS BIGINT) AS copeland,
             CAST(sum(jw) AS BIGINT) AS j_wins,
             CAST(sum(jn) AS BIGINT) AS n_j
           FROM sides GROUP BY 1, 2),
         rk AS (SELECT *,
             ${graft.ops.ExactRound.halfUpDivSql("j_wins * 1000", "n_j")}
               AS win_pm,
             CAST(row_number() OVER (PARTITION BY prompt
               ORDER BY copeland DESC, j_wins DESC, cand) AS INTEGER) AS rnk,
             ($hSql) AS hh
           FROM sc2)
         SELECT CAST(CASE WHEN prompt % 6 = 0 THEN 1 ELSE 0 END AS INTEGER)
             AS cyc,
           rnk, count(*) AS n,
           CAST(sum(copeland) AS BIGINT) AS sum_cope,
           min(copeland) AS min_cope, max(copeland) AS max_cope,
           CAST(sum(j_wins) AS BIGINT) AS sum_jwins,
           CAST(sum(win_pm) AS BIGINT) AS sum_win_pm,
           CAST(bit_xor(hh) AS BIGINT) AS rank_checksum
         FROM rk GROUP BY 1, 2 ORDER BY 1, 2"""
    },

    // identical prompt construction, identical lexicographic lag window
    // per source, identical first-mismatch LCP and half-up permille
    "q293_prefix_cache" -> {
      val lcp = """CASE WHEN pv IS NULL THEN 0 ELSE
        coalesce((list_filter(generate_series(1,
            least(len(tk), len(pv))),
          i -> tk[i] IS DISTINCT FROM pv[i]))[1] - 1,
          least(len(tk), len(pv))) END"""
      s"""WITH b AS (SELECT doc_id, source, str_split(text, ' ') AS ts
           FROM documents WHERE doc_id % 2 = 0),
         pr AS (SELECT source,
             CASE WHEN (doc_id // 2) % 7 = 0
               THEN 'write a short story about data'
               ELSE coalesce(array_to_string(ts[1:len(ts) // 2], ' '), '')
               END AS p
           FROM b),
         t AS (SELECT source, str_split(p, ' ') AS tk,
             lag(str_split(p, ' ')) OVER (PARTITION BY source
               ORDER BY p) AS pv
           FROM pr),
         l AS (SELECT source, CAST(len(tk) AS BIGINT) AS n,
             CAST(($lcp) AS BIGINT) AS sv
           FROM t)
         SELECT source, count(*) AS n_prompts,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           CAST(sum(sv) AS BIGINT) AS cached_tokens,
           ${graft.ops.ExactRound.halfUpDivSql("sum(sv) * 1000", "sum(n)")}
             AS savings_permille
         FROM l GROUP BY 1 ORDER BY 1"""
    },

    // identical seeded-uniform winner draw, identical pair-count table,
    // then the whole MM loop as a list-state recursive CTE: HUGEINT
    // per-pair terms, per-model raws, largest-remainder re-grid — every
    // iterate sums to exactly 1e6 in both engines
    "q310_bt_leaderboard" -> {
      val h = PortableHash.md5LongSql("doc_id::VARCHAR", 91)
      val games =
        s"""SELECT ga, gb,
             CASE WHEN h < ga + 1 THEN ga ELSE gb END AS winner
           FROM (SELECT doc_id % 8 AS ga, (doc_id // 8) % 8 AS gb,
               ($h) % (doc_id % 8 + (doc_id // 8) % 8 + 2) AS h
             FROM documents
             WHERE doc_id % 8 <> (doc_id // 8) % 8)"""
      s"""SELECT * FROM (${Preference.bradleyTerrySql(games, iters = 15)})
         ORDER BY model"""
    },

    // identical prompt construction and lag window as q293, plus the
    // serve-order rank; cached/computed per prompt, conservation exact
    "q298_prefix_schedule" -> {
      val lcp = """CASE WHEN pv IS NULL THEN 0 ELSE
        coalesce((list_filter(generate_series(1,
            least(len(tk), len(pv))),
          i -> tk[i] IS DISTINCT FROM pv[i]))[1] - 1,
          least(len(tk), len(pv))) END"""
      s"""WITH b AS (SELECT doc_id, source, str_split(text, ' ') AS ts
           FROM documents WHERE doc_id % 2 = 0),
         pr AS (SELECT source,
             CASE WHEN (doc_id // 2) % 7 = 0
               THEN 'write a short story about data'
               ELSE coalesce(array_to_string(ts[1:len(ts) // 2], ' '), '')
               END AS p
           FROM b),
         t AS (SELECT source, p, str_split(p, ' ') AS tk,
             row_number() OVER (PARTITION BY source ORDER BY p)
               AS serve_order,
             lag(str_split(p, ' ')) OVER (PARTITION BY source
               ORDER BY p) AS pv
           FROM pr)
         SELECT source, CAST(serve_order AS BIGINT) AS serve_order,
           md5(p) AS prompt_fp,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           CAST(($lcp) AS BIGINT) AS cached_tokens,
           CAST(len(tk) - ($lcp) AS BIGINT) AS computed_tokens
         FROM t ORDER BY source, serve_order"""
    },

    // identical rank-window batching under both policies (arrival = id
    // order, sorted = n DESC NULLS LAST like Spark's desc), identical
    // rows×max padded cost and half-up permille waste
    "q292_pad_waste" -> {
      def pol(name: String, order: String) =
        s"""SELECT grp, '$name' AS policy,
           |  CAST(count(*) AS BIGINT) AS n_batches,
           |  CAST(sum(r * mx) AS BIGINT) AS padded_tokens,
           |  CAST(sum(rl) AS BIGINT) AS real_tokens,
           |  ${graft.ops.ExactRound.halfUpDivSql(
                "(sum(r * mx) - sum(rl)) * 1000", "sum(r * mx)")}
           |    AS waste_permille
           |FROM (SELECT grp, b, CAST(count(*) AS BIGINT) AS r,
           |    max(n) AS mx, sum(n) AS rl
           |  FROM (SELECT grp,
           |      (row_number() OVER (PARTITION BY grp ORDER BY $order)
           |        - 1) // 8 AS b, n
           |    FROM d) GROUP BY 1, 2)
           |GROUP BY 1""".stripMargin
      s"""WITH d AS (SELECT source AS grp, doc_id,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS n FROM documents)
         SELECT * FROM (${pol("arrival", "doc_id")}
           UNION ALL ${pol("sorted", "n DESC NULLS LAST, doc_id")})
         ORDER BY grp, policy"""
    },

    // identical epoch-derived order hash, per-epoch rank windows, the
    // identical prev-epoch join for n_moved, and the identical cursor
    // filter (epoch 1, pos 100) — the oracle computes the suffix from
    // its single uninterrupted order table, pinning resume ≡ suffix
    "q283_epoch_reshuffle" -> {
      val ordSql = PortableHash.md5LongSql(
        "(d.doc_id::VARCHAR || '#' || e.epoch::VARCHAR)", 11)
      val khSql = PortableHash.md5LongSql("doc_id::VARCHAR", 5)
      val ohSql = PortableHash.md5LongSql(
        "(doc_id::VARCHAR || '@' || pos::VARCHAR)", 5)
      s"""WITH e AS (SELECT unnest([0, 1, 2]) AS epoch),
         s AS (SELECT e.epoch, d.doc_id, ($ordSql) AS ord
           FROM documents d, e),
         r AS (SELECT epoch, doc_id, ord,
             row_number() OVER (PARTITION BY epoch
               ORDER BY ord, doc_id::VARCHAR) - 1 AS pos
           FROM s),
         h AS (SELECT epoch, doc_id, pos,
             ($khSql) AS kh, ($ohSql) AS oh
           FROM r),
         pe AS (SELECT epoch, count(*) AS n_rows,
             bit_xor(kh) AS multiset_xor, bit_xor(oh) AS order_xor
           FROM h GROUP BY 1),
         mv AS (SELECT a.epoch,
             CAST(coalesce(sum(CASE WHEN a.pos <> b.pos THEN 1 ELSE 0 END),
               0) AS BIGINT) AS n_moved
           FROM r a LEFT JOIN r b
             ON b.epoch = a.epoch - 1 AND b.doc_id = a.doc_id
           GROUP BY 1),
         rs AS (SELECT epoch, count(*) AS n_resumed,
             bit_xor(oh) AS resume_xor
           FROM h WHERE epoch > 1 OR (epoch = 1 AND pos >= 100)
           GROUP BY 1)
         SELECT CAST(pe.epoch AS INTEGER) AS epoch, pe.n_rows,
           pe.multiset_xor, pe.order_xor, mv.n_moved, rs.n_resumed,
           rs.resume_xor
         FROM pe JOIN mv USING (epoch) LEFT JOIN rs USING (epoch)
         ORDER BY epoch"""
    },

    "q273_mixture_stream" -> {
      val (shardSql, posSql) = Sampling.trainingShardsSql("ckey", 8, 7)
      s"""WITH c AS (SELECT doc_id, lang,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS ntok
           FROM documents),
         tot AS (SELECT lang, CAST(sum(ntok) AS BIGINT) AS T
           FROM c GROUP BY 1),
         pl AS (SELECT lang, T,
             CASE lang WHEN 'en' THEN 5 WHEN 'de' THEN 2 WHEN 'es' THEN 2
               WHEN 'fr' THEN 2 WHEN 'zh' THEN 1 ELSE 0 END AS w
           FROM tot),
         pl3 AS (SELECT lang, T, CAST(w * 300000 // 12 AS BIGINT) AS tgt,
             CAST(CASE WHEN T = 0 THEN 0
               ELSE (w * 300000 // 12) // T END AS BIGINT) AS fe
           FROM pl),
         pl4 AS (SELECT lang, T, tgt, fe, tgt - fe * T AS rem FROM pl3),
         cm AS (SELECT doc_id, lang, ntok,
             ${Sampling.budgetCumSql("doc_id", "ntok", "lang")} AS cum
           FROM c),
         mk AS (SELECT m.doc_id, m.lang, m.ntok,
             p.fe + CASE WHEN m.cum <= p.rem THEN 1 ELSE 0 END AS nc
           FROM cm m JOIN pl4 p USING (lang)),
         cp AS (SELECT m.doc_id, m.ntok,
             m.doc_id || '#' || cc.copy AS ckey
           FROM mk m, LATERAL (SELECT unnest(generate_series(1, m.nc))
             AS copy) cc),
         sh AS (SELECT doc_id, ntok, ckey, $shardSql AS shard, $posSql AS pos
           FROM cp),
         hx AS (SELECT shard, doc_id, ntok,
             ${PortableHash.md5LongSql(
        "(ckey || '|' || shard || '|' || pos)", 99)} AS rh
           FROM sh)
         SELECT shard, count(*) AS n_rows,
           count(DISTINCT doc_id) AS n_docs,
           CAST(sum(ntok) AS BIGINT) AS stream_tokens,
           CAST(bit_xor(rh) AS BIGINT) AS placement_checksum
         FROM hx GROUP BY 1 ORDER BY 1"""
    },

    // identical integer plan arithmetic (w·budget // Σw, tgt // T), the
    // partial prefix replayed with the budgetCum window (identical hash
    // order + tie), membership pinned by the XOR fold
    "q272_epoch_expansion" ->
      s"""WITH c AS (SELECT doc_id, lang,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS ntok
           FROM documents),
         tot AS (SELECT lang, CAST(sum(ntok) AS BIGINT) AS T
           FROM c GROUP BY 1),
         pl AS (SELECT lang, T,
             CASE lang WHEN 'en' THEN 5 WHEN 'de' THEN 2 WHEN 'es' THEN 2
               WHEN 'fr' THEN 2 WHEN 'zh' THEN 1 ELSE 0 END AS w
           FROM tot),
         pl3 AS (SELECT lang, T, CAST(w * 1000000 // 12 AS BIGINT) AS tgt,
             CAST(CASE WHEN T = 0 THEN 0
               ELSE (w * 1000000 // 12) // T END AS BIGINT) AS fe
           FROM pl),
         pl4 AS (SELECT lang, T, tgt, fe, tgt - fe * T AS rem FROM pl3),
         cm AS (SELECT doc_id, lang, ntok,
             ${Sampling.budgetCumSql("doc_id", "ntok", "lang")} AS cum
           FROM c),
         mk AS (SELECT m.doc_id, m.lang, m.ntok, (m.cum <= p.rem) AS inp,
             p.fe
           FROM cm m JOIN pl4 p USING (lang))
         SELECT lang, count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS tokens,
           CAST(min(fe) AS BIGINT) AS fe_min,
           CAST(max(fe) AS BIGINT) AS fe_max,
           CAST(sum(CASE WHEN inp THEN 1 ELSE 0 END) AS BIGINT) AS n_partial,
           CAST(sum(CASE WHEN inp THEN ntok ELSE 0 END) AS BIGINT)
             AS partial_tok,
           CAST(coalesce(bit_xor(CASE WHEN inp THEN
             ${PortableHash.md5LongSql("doc_id::VARCHAR", 99)} END), 0)
             AS BIGINT) AS partial_checksum,
           CAST(sum(fe) + sum(CASE WHEN inp THEN 1 ELSE 0 END) AS BIGINT)
             AS sum_copies
         FROM mk GROUP BY 1 ORDER BY 1""",

    "q201_span_corruption" ->
      s"""WITH ${Chunking.spanCorruptionSql("doc_id", "text", "documents")}
         SELECT id AS doc_id, n_tokens, n_spans, n_masked, masked_pos_sum,
           input_len, target_len FROM spanstats ORDER BY doc_id""",

    "q86_chunk" ->
      s"""WITH ch AS (${Chunking.chunkSql("doc_id", "text", 64, 48)})
         SELECT CAST(chunk_idx AS INT) AS chunk_idx, count(*) AS n_chunks,
           CAST(sum(n_tok) AS BIGINT) AS sum_tok,
           CAST(min(n_tok) AS INT) AS min_tok,
           CAST(max(n_tok) AS INT) AS max_tok,
           min(md5(chunk)) AS min_h, max(md5(chunk)) AS max_h
         FROM ch GROUP BY 1 ORDER BY 1""",

    "q87_pack" ->
      s"""WITH ch AS (${Chunking.chunkSql("doc_id", "text", 64, 48)}),
         j AS (SELECT ch.*, source FROM ch JOIN documents ON doc = doc_id),
         p AS (SELECT source, n_tok,
           sum(n_tok) OVER (PARTITION BY source ORDER BY doc, chunk_idx
             ROWS UNBOUNDED PRECEDING) AS cum FROM j)
         SELECT source, count(*) AS n_chunks,
           count(DISTINCT (cum - n_tok) // 512) AS n_bins,
           CAST(sum(n_tok) AS BIGINT) AS sum_tok
         FROM p GROUP BY 1 ORDER BY 1""",

    // FFD as a recursive CTE: the state row carries the per-bin remaining
    // capacities as a LIST; each step places the next chunk (in the same
    // n_tok DESC, doc, chunk_idx order) into the first bin with room
    // (list_position returns 0 when none fits → open a new bin)
    "q97_pack_ffd" ->
      s"""$FfdCte
         SELECT grp, bin, CAST(doc AS BIGINT) AS doc,
                CAST(chunk_idx AS INT) AS chunk_idx, CAST(n_tok AS INT) AS n_tok
         FROM ffd ORDER BY grp, bin, doc, chunk_idx""",

    // the identical FFD recursion replayed at each capacity (suffixed
    // relations in ONE recursive WITH), reduced by the identical
    // integer-grid report arithmetic
    "q279_pack_efficiency" -> {
      def rep(ctx: Int): String =
        s"""SELECT $ctx AS ctx, CAST(count(*) AS BIGINT) AS n_bins,
           |  CAST(sum(bc) AS BIGINT) AS n_chunks,
           |  CAST(sum(bt) AS BIGINT) AS total_tok,
           |  ${graft.ops.ExactRound.halfUpDivSql("sum(bt) * 1000", s"count(*) * $ctx")}
           |    AS util_permille,
           |  CAST(count(*) * $ctx - sum(bt) AS BIGINT) AS waste_tok,
           |  CAST(max(bt) AS BIGINT) AS max_bin_fill,
           |  CAST(min(bt) AS BIGINT) AS min_bin_fill
           |FROM (SELECT grp, bin, CAST(sum(n_tok) AS BIGINT) bt, count(*) bc
           |  FROM ffd$ctx GROUP BY 1, 2)""".stripMargin
      s"""WITH RECURSIVE ${ffdCtes(64, "64")},
         ${ffdCtes(128, "128")},
         ${ffdCtes(256, "256")}
         SELECT * FROM (${rep(64)} UNION ALL ${rep(128)} UNION ALL ${rep(256)})
         ORDER BY ctx"""
    },

    // the same FFD replay; dirty = any chunk of a removed doc in the
    // bin, per-group rollup on the identical half-up permille grid
    "q296_takedown_audit" ->
      s"""$FfdCte,
         pb AS (SELECT grp, bin, count(*) AS rws,
             CAST(sum(n_tok) AS BIGINT) AS tok,
             CAST(sum(CASE WHEN doc % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS nrm
           FROM ffd GROUP BY 1, 2)
         SELECT grp, count(*) AS n_bins,
           CAST(sum(CASE WHEN nrm > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dirty_bins,
           CAST(sum(rws) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN nrm > 0 THEN rws - nrm ELSE 0 END) AS BIGINT)
             AS n_rows_to_repack,
           CAST(sum(nrm) AS BIGINT) AS n_removed_rows,
           CAST(sum(tok) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN nrm > 0 THEN tok ELSE 0 END) AS BIGINT)
             AS tokens_to_repack,
           ${graft.ops.ExactRound.halfUpDivSql(
          "sum(CASE WHEN nrm > 0 THEN tok ELSE 0 END) * 1000", "sum(tok)")}
             AS repack_permille
         FROM pb GROUP BY 1 ORDER BY 1""",

    // the same FFD replay, then the SECOND recursion over dirty-bin
    // survivors (identical first-fit rule, fresh ids offset past the
    // original max bin per group) — clean rows pass through untouched
    "q299_takedown_repack" -> {
      val recur2 = """ordered2 AS (
           SELECT grp, doc, chunk_idx, n_tok,
                  row_number() OVER (PARTITION BY grp
                    ORDER BY n_tok DESC, doc, chunk_idx) rn
           FROM surv
         ), ffd2 AS (
           SELECT grp, rn, doc, chunk_idx, n_tok,
                  CAST(0 AS BIGINT) AS bin, [128 - n_tok] AS loads
           FROM ordered2 WHERE rn = 1
           UNION ALL
           SELECT o.grp, o.rn, o.doc, o.chunk_idx, o.n_tok,
                  CASE WHEN list_position(list_transform(f.loads, b -> b >= o.n_tok), true) = 0
                       THEN len(f.loads)
                       ELSE list_position(list_transform(f.loads, b -> b >= o.n_tok), true) - 1 END,
                  CASE WHEN list_position(list_transform(f.loads, b -> b >= o.n_tok), true) = 0
                       THEN list_append(f.loads, 128 - o.n_tok)
                       ELSE list_transform(f.loads, (b, i) ->
                         CASE WHEN i = list_position(list_transform(f.loads, x -> x >= o.n_tok), true)
                              THEN b - o.n_tok ELSE b END) END
           FROM ffd2 f JOIN ordered2 o ON o.grp = f.grp AND o.rn = f.rn + 1
         )"""
      s"""$FfdCte,
         rm AS (SELECT grp, bin, doc, chunk_idx, n_tok,
             (doc % 7 = 3) AS is_rm FROM ffd),
         dirty AS (SELECT DISTINCT grp, bin FROM rm WHERE is_rm),
         surv AS (SELECT r.grp, r.doc, r.chunk_idx, r.n_tok
           FROM rm r JOIN dirty d ON r.grp = d.grp AND r.bin = d.bin
           WHERE NOT r.is_rm),
         off AS (SELECT grp, max(bin) + 1 AS o FROM ffd GROUP BY grp),
         $recur2
         SELECT grp, CAST(bin AS BIGINT) AS bin, CAST(doc AS BIGINT) AS doc,
           CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(n_tok AS INT) AS n_tok, repacked
         FROM (
           SELECT r.grp, r.bin, r.doc, r.chunk_idx, r.n_tok,
             false AS repacked
           FROM rm r LEFT JOIN dirty d ON r.grp = d.grp AND r.bin = d.bin
           WHERE d.grp IS NULL
           UNION ALL
           SELECT f2.grp, off.o + f2.bin, f2.doc, f2.chunk_idx, f2.n_tok,
             true AS repacked
           FROM ffd2 f2 JOIN off ON f2.grp = off.grp
         ) ORDER BY grp, bin, doc, chunk_idx"""
    },

    // the erasure semantics replayed row for row: survivors = documents
    // not on the removal list, per-batch membership via the same
    // order-free XOR checksum; the rewrite count = number of distinct
    // batches holding a removed id; the audit totals re-derive from the
    // survivor set (residual 0 by the same predicate the store was
    // filtered with)
    "q302_erasure_forget" -> {
      val hid = PortableHash.md5LongSql("doc_id::VARCHAR", 99)
      s"""WITH kept AS (SELECT doc_id FROM documents WHERE doc_id % 37 <> 0),
         g AS (SELECT CAST(doc_id % 4 AS BIGINT) AS batch,
             count(*) AS n_kept,
             bit_xor($hid) AS kept_checksum,
             CAST(sum(CASE WHEN doc_id % 37 = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_residual
           FROM kept GROUP BY 1)
         SELECT batch, n_kept, kept_checksum, n_residual,
           (SELECT CAST(count(DISTINCT doc_id % 4) AS BIGINT)
              FROM documents WHERE doc_id % 37 = 0) AS n_rewritten,
           (SELECT count(*) FROM kept) AS audit_rows,
           (SELECT CAST(coalesce(sum(CASE WHEN doc_id % 37 = 0
                THEN 1 ELSE 0 END), 0) AS BIGINT) FROM kept)
             AS audit_residual
         FROM g ORDER BY batch"""
    },

    // each store's survivor count re-derived from the source tables;
    // the residual column re-applies the removal predicate to each
    // survivor set (0 everywhere — the certificate the orchestrator
    // would have REFUSED to file otherwise). The pack row counts chunks
    // of surviving docs (repack drops removed rows, moves survivors —
    // never duplicates or merges), so no FFD recursion is needed for a
    // COUNT certificate (q299 pins the repack cell for cell).
    "q303_governance_certificate" ->
      s"""WITH rm AS (SELECT doc_id FROM documents WHERE doc_id % 41 = 0),
         surv AS (SELECT doc_id FROM documents WHERE doc_id % 41 <> 0),
         res AS (SELECT CAST(coalesce(sum(CASE WHEN doc_id % 41 = 0
               THEN 1 ELSE 0 END), 0) AS BIGINT) r FROM surv),
         chunkcnt AS (SELECT
             CAST(coalesce(sum(len(generate_series(1,
               greatest(len(str_split(text, ' ')), 1), 32))), 0) AS BIGINT) n,
             CAST(coalesce(sum(CASE WHEN doc_id % 41 = 0
               THEN len(generate_series(1,
                 greatest(len(str_split(text, ' ')), 1), 32))
               ELSE 0 END), 0) AS BIGINT) r
           FROM documents WHERE doc_id < 60 AND doc_id % 41 <> 0)
         SELECT store, n_rows, n_residual FROM (
           SELECT 'text_index' AS store,
             (SELECT count(*) FROM surv WHERE doc_id % 2 = 0) AS n_rows,
             (SELECT CAST(coalesce(sum(CASE WHEN doc_id % 41 = 0 THEN 1
                ELSE 0 END), 0) AS BIGINT) FROM surv WHERE doc_id % 2 = 0)
               AS n_residual
           UNION ALL
           SELECT 'embed_index',
             (SELECT count(*) FROM embeddings
                WHERE vec_id NOT IN (SELECT doc_id FROM rm)),
             (SELECT count(*) FROM embeddings
                WHERE vec_id NOT IN (SELECT doc_id FROM rm)
                  AND vec_id IN (SELECT doc_id FROM rm))
           UNION ALL
           SELECT 'media_index',
             (SELECT count(*) FROM surv WHERE doc_id % 5 = 0),
             (SELECT CAST(coalesce(sum(CASE WHEN doc_id % 41 = 0 THEN 1
                ELSE 0 END), 0) AS BIGINT) FROM surv WHERE doc_id % 5 = 0)
           UNION ALL
           SELECT 'admitted', (SELECT count(*) FROM surv),
             (SELECT r FROM res)
           UNION ALL
           SELECT 'pack', (SELECT n FROM chunkcnt),
             (SELECT r FROM chunkcnt)
           UNION ALL
           SELECT 'partner_store', (SELECT count(*) FROM surv),
             (SELECT r FROM res)
         ) ORDER BY store""",

    // the same FFD replay, plus the within-bin running token sum in
    // insertion (rn) order — FFD's own order restricted to the bin
    "q251_pack_offsets" ->
      s"""$FfdCte
         SELECT grp, bin, CAST(doc AS BIGINT) AS doc,
                CAST(chunk_idx AS INT) AS chunk_idx,
                CAST(n_tok AS INT) AS n_tok,
                CAST(sum(n_tok) OVER (PARTITION BY grp, bin ORDER BY rn
                  ROWS UNBOUNDED PRECEDING) - n_tok AS INT) AS "offset"
         FROM ffd ORDER BY grp, bin, doc, chunk_idx""",

    // identical midpoint split, template glue (chr(10) for the newlines)
    // and serialized-prompt token count
    "q252_sft_template" ->
      """WITH b AS (SELECT doc_id, str_split(text, ' ') AS ts
           FROM documents WHERE doc_id < 30),
         c AS (SELECT doc_id, len(ts) // 2 AS k, len(ts) AS n, ts FROM b),
         p AS (SELECT doc_id, k, n,
             '### Instruction:' || chr(10)
               || coalesce(array_to_string(ts[1:k], ' '), '')
               || chr(10) || '### Response:' AS pp,
             coalesce(array_to_string(ts[k+1:n], ' '), '') AS resp
           FROM c)
         SELECT doc_id, CAST(k AS BIGINT) AS n_instr_words,
           CAST(n - k AS BIGINT) AS n_resp_words,
           CAST(len(str_split(pp, ' ')) AS BIGINT) AS resp_start_tok,
           md5(pp || ' ' || resp) AS fp
         FROM p ORDER BY doc_id""",

    // identical serialization (chr(10) newlines), identical per-source
    // cumsum in doc_id order, windows via LATERAL generate_series over
    // the straddle range, spans as the identical clip arithmetic
    "q276_sft_pack_mask" ->
      """WITH b AS (SELECT doc_id, source, str_split(text, ' ') AS ts
           FROM documents),
         c AS (SELECT doc_id, source, len(ts) // 2 AS k, len(ts) AS n, ts
           FROM b),
         p AS (SELECT doc_id, source,
             '### Instruction:' || chr(10)
               || coalesce(array_to_string(ts[1:k], ' '), '')
               || chr(10) || '### Response:' AS pp,
             coalesce(array_to_string(ts[k+1:n], ' '), '') AS resp
           FROM c),
         s AS (SELECT doc_id, source AS g,
             CAST(len(str_split(pp, ' ')) AS BIGINT) AS rs,
             CAST(len(str_split(pp || ' ' || resp, ' ')) AS BIGINT) AS nt
           FROM p),
         cum AS (SELECT *, CAST(sum(nt) OVER (PARTITION BY g ORDER BY doc_id
             ROWS UNBOUNDED PRECEDING) - nt AS BIGINT) AS st FROM s),
         w AS (SELECT cum.*, win FROM cum, LATERAL (SELECT
             unnest(generate_series(st // 128, (st + nt - 1) // 128)) AS win) ww)
         SELECT g AS source, CAST(win AS BIGINT) AS win, doc_id,
           CAST(st // 128 AS BIGINT) AS bin, nt AS n_tok,
           CAST(greatest(st, win * 128) - win * 128 AS INT) AS seg_start,
           CAST(least(st + nt, (win + 1) * 128) - win * 128 AS INT) AS seg_end,
           CAST(CASE WHEN greatest(st + rs, win * 128)
               < least(st + nt, (win + 1) * 128)
             THEN greatest(st + rs, win * 128) - win * 128 END AS INT)
             AS mask_start,
           CAST(CASE WHEN greatest(st + rs, win * 128)
               < least(st + nt, (win + 1) * 128)
             THEN least(st + nt, (win + 1) * 128) - win * 128 END AS INT)
             AS mask_end
         FROM w ORDER BY source, win, seg_start""",

    // identical turn-boundary grid (i·n // nt), identical per-source
    // cumsum and LATERAL window range, spans clipped by the identical
    // greatest/least arithmetic and serialized to the same string
    // (array_to_string coalesced — DuckDB returns NULL on empty lists)
    "q281_sft_multiturn_mask" ->
      """WITH b AS (SELECT doc_id, source,
             CAST(len(str_split(text, ' ')) AS BIGINT) AS n,
             CAST(2 * (1 + doc_id % 3) AS BIGINT) AS nt FROM documents),
         sp AS (SELECT doc_id, source, n,
             list_transform(
               list_filter(generate_series(0, nt - 1), i -> i % 2 = 1),
               i -> {'s': (i * n) // nt, 'e': ((i + 1) * n) // nt}) AS spans
           FROM b),
         cum AS (SELECT *, CAST(sum(n) OVER (PARTITION BY source
             ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS st
           FROM sp),
         w AS (SELECT cum.*, win FROM cum, LATERAL (SELECT
             unnest(generate_series(st // 128, (st + n - 1) // 128)) AS win) ww),
         cl AS (SELECT doc_id, source, n, st, win,
             list_filter(list_transform(spans, x ->
               {'ms': greatest(st + x.s, win * 128) - win * 128,
                'me': least(st + x.e, (win + 1) * 128) - win * 128}),
               y -> y.ms < y.me) AS mspans FROM w)
         SELECT source, CAST(win AS BIGINT) AS win, doc_id,
           CAST(st // 128 AS BIGINT) AS bin, n AS n_tok,
           CAST(greatest(st, win * 128) - win * 128 AS INT) AS seg_start,
           CAST(least(st + n, (win + 1) * 128) - win * 128 AS INT) AS seg_end,
           CAST(len(mspans) AS INT) AS n_mask_spans,
           CAST(coalesce(list_sum(list_transform(mspans, y -> y.me - y.ms)), 0)
             AS BIGINT) AS mask_tok,
           coalesce(array_to_string(list_transform(mspans, y ->
             CAST(y.ms AS INT) || '-' || CAST(y.me AS INT)), ';'), '')
             AS mask_str
         FROM cl ORDER BY source, win, seg_start""",

    // identical doc-level FFD recursion (size DESC, doc order; first-fit
    // over a remaining-capacity list), identical interleave arithmetic
    // (chunk c -> item c + min(c, nimg); image k -> 2k+1), offsets as the
    // identical window cumsums, px as pure media_id arithmetic (solid
    // PNGs decode to exactly w*h pixels — the q94 pin)
    "q282_interleaved_pack" ->
      """WITH RECURSIVE
         b AS (SELECT doc_id AS doc, source,
             CAST(len(str_split(text, ' ')) AS BIGINT) AS L,
             CAST(doc_id % 3 AS BIGINT) AS nimg
           FROM documents WHERE doc_id < 60),
         ds AS (SELECT doc, source AS grp, L + 64 * nimg AS n_tok, L, nimg
           FROM b),
         ordered AS (SELECT *, row_number() OVER (PARTITION BY grp
             ORDER BY n_tok DESC, doc) rn FROM ds),
         ffd AS (
           SELECT grp, rn, doc, n_tok, CAST(0 AS BIGINT) AS bin,
                  [512 - n_tok] AS loads
           FROM ordered WHERE rn = 1
           UNION ALL
           SELECT o.grp, o.rn, o.doc, o.n_tok,
                  CASE WHEN list_position(list_transform(f.loads,
                         x -> x >= o.n_tok), true) = 0
                       THEN len(f.loads)
                       ELSE list_position(list_transform(f.loads,
                         x -> x >= o.n_tok), true) - 1 END,
                  CASE WHEN list_position(list_transform(f.loads,
                         x -> x >= o.n_tok), true) = 0
                       THEN list_append(f.loads, 512 - o.n_tok)
                       ELSE list_transform(f.loads, (x, i) ->
                         CASE WHEN i = list_position(list_transform(f.loads,
                           y -> y >= o.n_tok), true)
                         THEN x - o.n_tok ELSE x END) END
           FROM ffd f JOIN ordered o ON o.grp = f.grp AND o.rn = f.rn + 1),
         doff AS (SELECT grp, bin, doc,
             CAST(sum(n_tok) OVER (PARTITION BY grp, bin
               ORDER BY n_tok DESC, doc ROWS UNBOUNDED PRECEDING) - n_tok
               AS BIGINT) AS doff
           FROM ffd),
         titems AS (SELECT doc, c + least(c, nimg) AS item_idx,
             'text' AS modality, least(32, L - 32 * c) AS ilen,
             CAST(NULL AS BIGINT) AS media_id
           FROM b, LATERAL (SELECT
             unnest(generate_series(0, (greatest(L, 1) - 1) // 32)) AS c) cc),
         iitems AS (SELECT doc, 2 * k + 1 AS item_idx, 'image' AS modality,
             CAST(64 AS BIGINT) AS ilen, doc * 4 + k AS media_id
           FROM b, LATERAL (SELECT
             unnest(generate_series(0, nimg - 1)) AS k) kk
           WHERE nimg > 0),
         items AS (SELECT * FROM titems UNION ALL SELECT * FROM iitems),
         icum AS (SELECT *, CAST(sum(ilen) OVER (PARTITION BY doc
             ORDER BY item_idx ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ic
           FROM items)
         SELECT d.grp AS source, CAST(d.bin AS BIGINT) AS bin, i.doc,
           CAST(i.item_idx AS BIGINT) AS item_idx, i.modality, i.media_id,
           CAST(d.doff + i.ic - i.ilen AS BIGINT) AS span_start,
           CAST(d.doff + i.ic AS BIGINT) AS span_end,
           CASE WHEN i.modality = 'image' THEN
             CAST((4 + i.media_id % 8) * (4 + i.media_id % 5) AS BIGINT)
           END AS px
         FROM icum i JOIN doff d ON i.doc = d.doc
         ORDER BY source, bin, span_start""",

    // identical pairing arithmetic (doc_id // 2), identical planted
    // template prompt, reward and tie-break, and the identical
    // keep-lowest-pair_id dedup window on the prompt hash
    "q256_preference_pairs" ->
      """WITH b AS (SELECT doc_id, str_split(text, ' ') AS ts FROM documents),
         c AS (SELECT doc_id, len(ts) // 2 AS k, len(ts) AS n, ts FROM b),
         h AS (SELECT doc_id,
             coalesce(array_to_string(ts[1:k], ' '), '') AS fh,
             coalesce(array_to_string(ts[k+1:n], ' '), '') AS sh FROM c),
         a AS (SELECT doc_id // 2 AS pair_id, doc_id AS src_a,
             CASE WHEN (doc_id // 2) % 7 = 0
               THEN 'write a short story about data' ELSE fh END AS prompt,
             sh AS resp_a FROM h WHERE doc_id % 2 = 0),
         bb AS (SELECT doc_id // 2 AS pair_id, doc_id AS src_b,
             sh AS resp_b FROM h WHERE doc_id % 2 = 1),
         p AS (SELECT a.pair_id, a.src_a, bb.src_b, a.prompt,
             a.resp_a, bb.resp_b,
             len(list_distinct(str_split(a.resp_a, ' '))) AS ra,
             len(list_distinct(str_split(bb.resp_b, ' '))) AS rb
           FROM a JOIN bb USING (pair_id)),
         ch AS (SELECT *,
             CASE WHEN rb > ra THEN resp_b ELSE resp_a END AS chosen,
             CASE WHEN rb > ra THEN resp_a ELSE resp_b END AS rejected,
             CASE WHEN rb > ra THEN src_b ELSE src_a END AS chosen_src
           FROM p),
         dd AS (SELECT *, row_number() OVER (
             PARTITION BY md5(prompt) ORDER BY pair_id) AS rn FROM ch)
         SELECT CAST(pair_id AS BIGINT) AS pair_id,
           md5(prompt) AS prompt_fp,
           CAST(chosen_src AS BIGINT) AS chosen_src,
           CAST(src_a + src_b - chosen_src AS BIGINT) AS rejected_src,
           CAST(greatest(ra, rb) AS BIGINT) AS reward_chosen,
           CAST(abs(ra - rb) AS BIGINT) AS reward_margin,
           md5(prompt || ' ||| ' || chosen || ' ||| ' || rejected) AS fp
         FROM dd WHERE rn = 1 AND pair_id < 40 ORDER BY pair_id""",

    // identical grouping arithmetic (doc_id // 4), identical anchor
    // prompt, planted tie and reward; the argmax and the margin replayed
    // as rank-1/rank-2 rows of the identical (reward DESC, src) window
    "q270_best_of_n" ->
      """WITH b AS (SELECT doc_id, str_split(text, ' ') AS ts FROM documents),
         c AS (SELECT doc_id, len(ts) // 2 AS k, len(ts) AS n, ts FROM b),
         h AS (SELECT doc_id,
             coalesce(array_to_string(ts[1:k], ' '), '') AS fh,
             coalesce(array_to_string(ts[k+1:n], ' '), '') AS sh FROM c),
         anchors AS (SELECT doc_id // 4 AS prompt_id, fh AS prompt
           FROM h WHERE doc_id % 4 = 0),
         cand AS (SELECT c0.prompt_id, c0.src,
             CASE WHEN c0.prompt_id % 5 = 0 AND (c0.src % 4) IN (1, 2)
               THEN array_to_string(list_transform(generate_series(1, 40),
                 i -> 'tok' || i), ' ')
               ELSE c0.resp END AS resp, a.prompt
           FROM (SELECT doc_id // 4 AS prompt_id, doc_id AS src, sh AS resp
             FROM h) c0 JOIN anchors a USING (prompt_id)),
         scored AS (SELECT *,
             CAST(len(list_distinct(str_split(resp, ' '))) AS BIGINT) AS r
           FROM cand),
         rk AS (SELECT *,
             row_number() OVER (PARTITION BY prompt_id
               ORDER BY r DESC, src) AS rk,
             count(*) OVER (PARTITION BY prompt_id) AS n,
             lead(r) OVER (PARTITION BY prompt_id
               ORDER BY r DESC, src) AS r2
           FROM scored)
         SELECT CAST(prompt_id AS BIGINT) AS prompt_id,
           CAST(n AS BIGINT) AS n_candidates,
           CAST(src AS BIGINT) AS chosen_src,
           r AS reward_chosen,
           CAST(r - coalesce(r2, r) AS BIGINT) AS reward_margin,
           md5(prompt || ' ||| ' || resp) AS fp
         FROM rk WHERE rk = 1 ORDER BY prompt_id""",

    // identical prompt construction, identical 5-gram benchmark set from
    // the non-train splits, identical overlap rational on the integer
    // grid and raw-quotient threshold
    "q257_preference_leakage" ->
      s"""WITH b AS (SELECT doc_id, str_split(text, ' ') AS ts, text,
           ${Sampling.splitSql("doc_id", SplitNames, SplitWeights)} AS split
           FROM documents),
         pr AS (SELECT doc_id // 2 AS pair_id,
             CASE WHEN (doc_id // 2) % 7 = 0
               THEN 'write a short story about data'
               ELSE coalesce(array_to_string(ts[1:len(ts) // 2], ' '), '')
               END AS prompt
           FROM b WHERE doc_id % 2 = 0),
         bench AS (SELECT DISTINCT g FROM (SELECT
             unnest(${Dedup.shinglesSql("text", 5)}) AS g
           FROM b WHERE split <> 'train') t),
         inc AS (SELECT pair_id,
             unnest(${Dedup.shinglesSql("prompt", 5)}) AS g FROM pr),
         ov AS (SELECT inc.pair_id, count(*) AS tot, count(bench.g) AS hit
           FROM inc LEFT JOIN bench ON inc.g = bench.g GROUP BY 1),
         sc AS (SELECT pair_id,
             ${graft.ops.ExactRound.ratioRoundedSql("hit", "tot", 6)}
               AS overlap,
             (hit::DOUBLE / tot::DOUBLE) >= 0.5 AS contaminated
           FROM ov)
         SELECT contaminated, count(*) AS n_pairs,
           CAST(sum(pair_id) AS BIGINT) AS sum_pair_ids,
           min(overlap) AS min_overlap, max(overlap) AS max_overlap
         FROM sc GROUP BY 1 ORDER BY 1""",

    // identical prompt construction and md5-keyed split CASE; the
    // no-straddle max replayed over the same distinct-split census
    "q258_pair_group_split" ->
      s"""WITH b AS (SELECT doc_id, str_split(text, ' ') AS ts
           FROM documents WHERE doc_id % 2 = 0),
         pr AS (SELECT doc_id // 2 AS pair_id,
             CASE WHEN (doc_id // 2) % 7 = 0
               THEN 'write a short story about data'
               ELSE coalesce(array_to_string(ts[1:len(ts) // 2], ' '), '')
               END AS prompt
           FROM b),
         ws AS (SELECT pair_id, prompt,
             ${Sampling.splitSql("md5(prompt)", SplitNames, SplitWeights)}
               AS split
           FROM pr),
         integ AS (SELECT CAST(max(k) AS BIGINT) AS max_splits_per_prompt
           FROM (SELECT md5(prompt) AS fp, count(DISTINCT split) AS k
             FROM ws GROUP BY 1))
         SELECT split, count(*) AS n_pairs,
           CAST(count(DISTINCT md5(prompt)) AS BIGINT) AS n_prompts,
           CAST(sum(pair_id) AS BIGINT) AS sum_pair_ids,
           max_splits_per_prompt
         FROM ws, integ GROUP BY split, max_splits_per_prompt
         ORDER BY split""",

    // identical per-language aggregates, weight CASE and integer-DIV
    // recipe arithmetic
    "q250_epoch_mixture" ->
      """WITH a AS (SELECT lang, count(*) AS n_docs,
           CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS tokens
           FROM documents GROUP BY 1),
         w AS (SELECT lang, n_docs, tokens,
             CAST(CASE lang WHEN 'en' THEN 5 WHEN 'de' THEN 2
               WHEN 'es' THEN 2 WHEN 'fr' THEN 2 WHEN 'zh' THEN 1
               ELSE 0 END AS BIGINT) AS weight
           FROM a),
         t AS (SELECT lang, n_docs, tokens, weight,
             weight * 1000000 // 12 AS target_tok FROM w)
         SELECT lang, n_docs, tokens, weight,
           CAST(target_tok AS BIGINT) AS target_tok,
           CAST(target_tok // tokens AS BIGINT) AS full_epochs,
           CAST(target_tok - (target_tok // tokens) * tokens AS BIGINT)
             AS rem_tok,
           CAST(target_tok * 1000 // tokens AS BIGINT) AS repeat_milli
         FROM t ORDER BY lang""",

    // identical integer decay recurrence (8-step recursive CTE), the
    // identical DECIMAL utility sort key, one budget-prefix window over
    // the domain×epoch chunk grid, boundary chunk split with least()
    "q305_repetition_alloc" ->
      """WITH RECURSIVE dec(epoch, d_micro) AS (
           SELECT 1, CAST(1000000 AS BIGINT)
           UNION ALL SELECT epoch + 1, (d_micro * 840000) // 1000000
           FROM dec WHERE epoch < 8),
         dt AS (SELECT source AS domain,
             CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS tokens
           FROM documents GROUP BY 1),
         tot AS (SELECT CAST((sum(tokens) * 150) // 100 AS BIGINT)
             AS budget FROM dt),
         ch AS (SELECT domain, tokens, epoch, d_micro,
             tokens::DECIMAL(30,0) * d_micro::DECIMAL(8,0) AS util
           FROM dt CROSS JOIN dec),
         cc AS (SELECT *, sum(tokens) OVER (ORDER BY util DESC, domain,
             epoch ROWS UNBOUNDED PRECEDING) AS cum FROM ch),
         fl AS (SELECT domain, tokens, epoch, d_micro,
             cum <= budget AS is_full,
             CASE WHEN cum > budget AND cum - tokens < budget
               THEN least(tokens, budget - (cum - tokens))
               ELSE 0 END AS part
           FROM cc CROSS JOIN tot)
         SELECT domain, max(tokens) AS tokens,
           CAST(sum(CASE WHEN is_full THEN 1 ELSE 0 END) AS BIGINT)
             AS full_epochs,
           CAST(max(part) AS BIGINT) AS partial_tokens,
           CAST(sum(CASE WHEN is_full THEN 1 ELSE 0 END) * max(tokens)
             + max(part) AS BIGINT) AS alloc_tokens,
           CAST(sum(CASE WHEN is_full THEN tokens * d_micro
             ELSE part * d_micro END) AS BIGINT) AS effective_micro
         FROM fl GROUP BY 1 ORDER BY 1""",

    "q92_zorder" -> {
      val z = Layout.zValueSql("a", "b")
      // DuckDB % keeps the dividend's sign; Spark pmod is always
      // non-negative — spell out pmod in SQL so an order date BEFORE the
      // 1995-01-01 anchor (none in this data, but real TPC-H has them)
      // could not silently diverge min_b/max_b between the engines
      def pmodSql(x: String) = s"((($x) % 65536 + 65536) % 65536)"
      s"""WITH dims AS (SELECT ${pmodSql("o_custkey")} AS a,
           ${pmodSql("date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)")} AS b
           FROM orders),
         zs AS (SELECT a, b, $z AS z FROM dims)
         SELECT (z >> 20) AS zbucket, count(*) AS n,
           min(a) AS min_a, max(a) AS max_a,
           min(b) AS min_b, max(b) AS max_b,
           CAST(sum(z) AS BIGINT) AS sum_z
         FROM zs GROUP BY 1 ORDER BY 1"""
    },

    "q159_curation_multimodal" -> {
      val mins = (0 until 16)
        .map(j => s"min(${PortableHash.derivedHashSql("h", j)}) s$j")
        .mkString(", ")
      val sigCols = (0 until 16).map(j => s"s$j").mkString(", ")
      s"""WITH idrop AS (
           SELECT doc_id FROM documents
           WHERE (doc_id % 31 = 0 AND doc_id > (SELECT min(doc_id)
               FROM documents WHERE doc_id % 31 = 0))
             OR (doc_id % 37 = 0 AND doc_id % 31 <> 0
               AND doc_id > (SELECT min(doc_id) FROM documents
                 WHERE doc_id % 37 = 0 AND doc_id % 31 <> 0))),
         base AS (SELECT * FROM documents
           WHERE doc_id NOT IN (SELECT doc_id FROM idrop)),
         q AS (SELECT * FROM base
           WHERE ${TA.qualityClassSql("text")} = 'ok'
             AND (${Sampling.stratifiedSampleSql("doc_id", "lang", LangFracs)})),
         e1 AS (SELECT * FROM q
           QUALIFY row_number() OVER (PARTITION BY md5(lower(trim(text)))
             ORDER BY doc_id) = 1),
         sh AS (SELECT doc_id, ${Dedup.shinglesSql("text", 3)} sgs FROM e1),
         ex AS (SELECT doc_id AS doc, unnest(sgs) sg FROM sh),
         hashed AS (SELECT doc, ${PortableHash.baseHashSql("sg")} h FROM ex),
         sig AS (SELECT doc, $mins FROM hashed GROUP BY doc),
         e2 AS (SELECT e1.* FROM e1 JOIN sig ON doc_id = sig.doc
           QUALIFY row_number() OVER (PARTITION BY $sigCols ORDER BY doc_id) = 1),
         spl AS (SELECT *,
           ${Sampling.splitSql("doc_id", SplitNames, SplitWeights)} AS split
           FROM e2),
         ch AS (${Chunking.chunkSql("doc_id", "text", 64, 48, table = "spl")}),
         j AS (SELECT ch.*, spl.split FROM ch JOIN spl ON ch.doc = spl.doc_id),
         p AS (SELECT split, doc, n_tok,
           sum(n_tok) OVER (PARTITION BY split ORDER BY doc, chunk_idx
             ROWS UNBOUNDED PRECEDING) AS cum FROM j)
         SELECT split, count(DISTINCT doc) AS n_docs, count(*) AS n_chunks,
           count(DISTINCT (cum - n_tok) // 512) AS n_bins,
           CAST(sum(n_tok) AS BIGINT) AS sum_tok
         FROM p GROUP BY 1 ORDER BY 1"""
    },

    "q171_curation_media" -> {
      val mins = (0 until 16)
        .map(j => s"min(${PortableHash.derivedHashSql("h", j)}) s$j")
        .mkString(", ")
      val sigCols = (0 until 16).map(j => s"s$j").mkString(", ")
      s"""WITH mdrop AS (
           SELECT doc_id FROM documents
           WHERE (doc_id % 31 = 0 AND doc_id > (SELECT min(doc_id)
               FROM documents WHERE doc_id % 31 = 0))
             OR (doc_id % 37 = 0 AND doc_id % 31 <> 0
               AND doc_id > (SELECT min(doc_id) FROM documents
                 WHERE doc_id % 37 = 0 AND doc_id % 31 <> 0))
             OR (doc_id % 41 = 0 AND doc_id % 31 <> 0 AND doc_id % 37 <> 0
               AND doc_id > (SELECT min(doc_id) FROM documents
                 WHERE doc_id % 41 = 0 AND doc_id % 31 <> 0
                   AND doc_id % 37 <> 0))),
         base AS (SELECT * FROM documents
           WHERE doc_id NOT IN (SELECT doc_id FROM mdrop)),
         q AS (SELECT * FROM base
           WHERE ${TA.qualityClassSql("text")} = 'ok'
             AND (${Sampling.stratifiedSampleSql("doc_id", "lang", LangFracs)})),
         e1 AS (SELECT * FROM q
           QUALIFY row_number() OVER (PARTITION BY md5(lower(trim(text)))
             ORDER BY doc_id) = 1),
         sh AS (SELECT doc_id, ${Dedup.shinglesSql("text", 3)} sgs FROM e1),
         ex AS (SELECT doc_id AS doc, unnest(sgs) sg FROM sh),
         hashed AS (SELECT doc, ${PortableHash.baseHashSql("sg")} h FROM ex),
         sig AS (SELECT doc, $mins FROM hashed GROUP BY doc),
         e2 AS (SELECT e1.* FROM e1 JOIN sig ON doc_id = sig.doc
           QUALIFY row_number() OVER (PARTITION BY $sigCols ORDER BY doc_id) = 1),
         spl AS (SELECT *,
           ${Sampling.splitSql("doc_id", SplitNames, SplitWeights)} AS split
           FROM e2),
         ch AS (${Chunking.chunkSql("doc_id", "text", 64, 48, table = "spl")}),
         j AS (SELECT ch.*, spl.split FROM ch JOIN spl ON ch.doc = spl.doc_id),
         p AS (SELECT split, doc, n_tok,
           sum(n_tok) OVER (PARTITION BY split ORDER BY doc, chunk_idx
             ROWS UNBOUNDED PRECEDING) AS cum FROM j)
         SELECT split, count(DISTINCT doc) AS n_docs, count(*) AS n_chunks,
           count(DISTINCT (cum - n_tok) // 512) AS n_bins,
           CAST(sum(n_tok) AS BIGINT) AS sum_tok
         FROM p GROUP BY 1 ORDER BY 1"""
    },

    "q180_curation_paradedup" -> {
      s"""WITH base0 AS (SELECT doc_id, str_split(text, ' ') AS ts, lang
           FROM documents),
         segs AS (SELECT doc_id, lang, list_transform(
             generate_series(0, (len(ts) - 1) // 8),
             i -> array_to_string(ts[i*8+1:i*8+8], ' ')) AS sg FROM base0),
         pl AS (SELECT doc_id, lang, CASE WHEN doc_id % 4 = 0
             THEN list_concat(['shared boilerplate header'], sg)
             ELSE sg END AS ps FROM segs),
         slots AS (SELECT doc_id, x.i - 1 AS pos, ps[x.i] AS para FROM pl,
           LATERAL (SELECT unnest(generate_series(1, len(ps))) AS i) x),
         keepp AS (SELECT doc_id, pos, para,
             row_number() OVER (PARTITION BY para
               ORDER BY doc_id, pos) AS rn FROM slots),
         reb AS (SELECT doc_id, string_agg(para, ' ' ORDER BY pos) AS text
           FROM keepp WHERE rn = 1 GROUP BY 1),
         docs2 AS (SELECT p.doc_id, coalesce(r.text, '') AS text, p.lang
           FROM pl p LEFT JOIN reb r USING (doc_id)),
         ${curationTailSql("docs2")}"""
    },

    "q91_curation_pipeline" ->
      s"""WITH ${curationTailSql("documents")}""",

    // gate prefilter commutes with the tail's per-row quality stage, so
    // the replay applies it to the input table and reuses the shared chain
    "q227_curation_gopher" ->
      s"""WITH gg AS (SELECT * FROM documents
           WHERE ${TA.gopherQualityOkSql("text", minWords = 20)}
             AND ${TA.gopherLineRepetitionOkSql("text")}),
         ${curationTailSql("gg")}""",

    // each stage re-derived independently; the count chain pins every
    // stage's survivor set size in order
    "q189_curation_funnel" -> {
      val mins = (0 until 16)
        .map(j => s"min(${PortableHash.derivedHashSql("h", j)}) s$j")
        .mkString(", ")
      val sigCols = (0 until 16).map(j => s"s$j").mkString(", ")
      s"""WITH q0 AS (SELECT * FROM documents
           WHERE ${TA.qualityClassSql("text")} = 'ok'),
         rb AS (SELECT * FROM q0
           WHERE ${Sampling.stratifiedSampleSql("doc_id", "lang", LangFracs)}),
         e1 AS (SELECT * FROM rb
           QUALIFY row_number() OVER (PARTITION BY md5(lower(trim(text)))
             ORDER BY doc_id) = 1),
         sh AS (SELECT doc_id, ${Dedup.shinglesSql("text", 3)} sgs FROM e1),
         ex AS (SELECT doc_id AS doc, unnest(sgs) sg FROM sh),
         hashed AS (SELECT doc, ${PortableHash.baseHashSql("sg")} h FROM ex),
         sig AS (SELECT doc, $mins FROM hashed GROUP BY doc),
         e2 AS (SELECT e1.* FROM e1 JOIN sig ON doc_id = sig.doc
           QUALIFY row_number() OVER (PARTITION BY $sigCols ORDER BY doc_id) = 1)
         SELECT 0 AS stage_idx, 'input' AS stage,
           (SELECT count(*) FROM documents) AS n_docs
         UNION ALL SELECT 1, 'quality', (SELECT count(*) FROM q0)
         UNION ALL SELECT 2, 'rebalance', (SELECT count(*) FROM rb)
         UNION ALL SELECT 3, 'exact_dedup', (SELECT count(*) FROM e1)
         UNION ALL SELECT 4, 'fuzzy_dedup', (SELECT count(*) FROM e2)
         ORDER BY stage_idx"""
    },

    // identical line/damage plants; the hygiene gates and rewrite replay
    // through the documented twins, then the standard curate() tail
    "q187_curation_hygiene" -> {
      val keep = TA.c4KeepLineSql("l", 4)
      s"""WITH lbase AS (SELECT doc_id, lang, str_split(text, ' ') AS ts
           FROM documents),
         lsegs AS (SELECT doc_id, lang, list_transform(
             generate_series(0, (len(ts) - 1) // 7),
             i -> array_to_string(ts[i*7+1:i*7+7], ' ') ||
               CASE WHEN (doc_id + i) % 3 = 0 THEN '' ELSE '.' END) AS sg
           FROM lbase),
         lheaded AS (SELECT doc_id, lang,
             CASE WHEN doc_id % 40 = 0
               THEN list_concat(['lorem ipsum dolor sit amet.'], sg)
             WHEN doc_id % 50 = 0
               THEN list_concat(['if (x) { alert(1); }.'], sg)
             ELSE sg END AS lh FROM lsegs),
         llines AS (SELECT doc_id, lang,
             CASE WHEN doc_id % 7 = 0
               THEN list_concat(lh, ['please enable javascript to continue.'])
             ELSE lh END AS ls FROM lheaded),
         ltxt AS (SELECT doc_id, lang,
             array_to_string(ls, chr(10))
             || CASE WHEN doc_id % 9 = 0
                  THEN ' ' || repeat(chr(65533), 3) ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                  THEN chr(1) || chr(7) ELSE '' END AS text2
           FROM llines),
         hg AS (SELECT doc_id, lang,
             replace(array_to_string(list_filter(str_split(text2, chr(10)),
               l -> $keep), chr(10)), chr(10), ' ') AS text
           FROM ltxt
           WHERE ${TA.encodingOkSql("text2", 0.004)}
             AND ${TA.c4DocOkSql("text2")}),
         h2 AS (SELECT * FROM hg WHERE length(text) > 0),
         ${curationTailSql("h2")}"""
    },

    "q167_split_leakage" ->
      s"""WITH spl AS (SELECT doc_id, text,
           ${Sampling.splitSql("doc_id", SplitNames, SplitWeights)} AS split
           FROM documents),
         bench AS (SELECT DISTINCT g FROM (SELECT
             unnest(${Dedup.shinglesSql("text", 5)}) AS g
           FROM spl WHERE split <> 'train') t),
         inc AS (SELECT doc_id, unnest(${Dedup.shinglesSql("text", 5)}) AS g
           FROM spl WHERE split = 'train'),
         ov AS (SELECT inc.doc_id, count(*) AS tot, count(bench.g) AS hit
           FROM inc LEFT JOIN bench ON inc.g = bench.g GROUP BY 1),
         sc AS (SELECT doc_id,
             ${graft.ops.ExactRound.ratioRoundedSql("hit", "tot", 6)}
               AS overlap,
             (hit::DOUBLE / tot::DOUBLE) >= 0.5 AS contaminated
           FROM ov)
         SELECT contaminated, count(*) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids,
           min(overlap) AS min_overlap, max(overlap) AS max_overlap
         FROM sc GROUP BY 1 ORDER BY 1""",

    "q160_dsir_weights" ->
      s"""WITH ${Sampling.dsirSql("doc_id", "text", "documents",
            "source = 'src0'", nBuckets = 64)},
         src AS (SELECT doc_id, source FROM documents)
         SELECT src.source, count(*) AS n_docs,
           CAST(sum(w.n_grams) AS BIGINT) AS sum_grams,
           CAST(sum(w.wu) AS BIGINT) AS sum_weight_u,
           CAST(max(w.wu) AS BIGINT) AS max_weight_u
         FROM dsir_w w JOIN src ON w.id = src.doc_id
         GROUP BY 1 ORDER BY 1""",

    "q161_dsir_resample" -> {
      s"""WITH ${Sampling.dsirSql("doc_id", "text", "documents",
            "source = 'src0'", nBuckets = 64)},
         bounds AS (SELECT min(wu) AS lo, max(wu) AS hi FROM dsir_w),
         es AS (SELECT w.id AS doc_id, d.lang,
             1 + ((w.wu - b.lo) * 63) // greatest(b.hi - b.lo, 1) AS w_es
           FROM dsir_w w JOIN documents d ON w.id = d.doc_id, bounds b),
         r AS (SELECT lang, doc_id, w_es,
             row_number() OVER (PARTITION BY lang
               ORDER BY ${Sampling.weightedPrioritySql("doc_id", "w_es",
                 maxWeight = 64)} DESC,
               doc_id::VARCHAR) AS rn
           FROM es)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids,
           CAST(sum(w_es) AS BIGINT) AS sum_w
         FROM r WHERE rn <= 3 GROUP BY 1 ORDER BY 1"""
    },

    "q162_curation_dsir" -> {
      val mins = (0 until 16)
        .map(j => s"min(${PortableHash.derivedHashSql("h", j)}) s$j")
        .mkString(", ")
      val sigCols = (0 until 16).map(j => s"s$j").mkString(", ")
      s"""WITH qq AS (SELECT * FROM documents
           WHERE ${TA.qualityClassSql("text")} = 'ok'),
         ${Sampling.dsirSql("doc_id", "text", "qq", "source = 'src0'",
            nBuckets = 64)},
         q AS (SELECT qq.* FROM qq JOIN dsir_w w ON qq.doc_id = w.id
           WHERE w.wu >= 0
             AND (${Sampling.stratifiedSampleSql("doc_id", "lang", LangFracs)})),
         e1 AS (SELECT * FROM q
           QUALIFY row_number() OVER (PARTITION BY md5(lower(trim(text)))
             ORDER BY doc_id) = 1),
         sh AS (SELECT doc_id, ${Dedup.shinglesSql("text", 3)} sgs FROM e1),
         ex AS (SELECT doc_id AS doc, unnest(sgs) sg FROM sh),
         hashed AS (SELECT doc, ${PortableHash.baseHashSql("sg")} h FROM ex),
         sig AS (SELECT doc, $mins FROM hashed GROUP BY doc),
         e2 AS (SELECT e1.* FROM e1 JOIN sig ON doc_id = sig.doc
           QUALIFY row_number() OVER (PARTITION BY $sigCols ORDER BY doc_id) = 1),
         spl AS (SELECT *,
           ${Sampling.splitSql("doc_id", SplitNames, SplitWeights)} AS split
           FROM e2),
         ch AS (${Chunking.chunkSql("doc_id", "text", 64, 48, table = "spl")}),
         j AS (SELECT ch.*, spl.split FROM ch JOIN spl ON ch.doc = spl.doc_id),
         p AS (SELECT split, doc, n_tok,
           sum(n_tok) OVER (PARTITION BY split ORDER BY doc, chunk_idx
             ROWS UNBOUNDED PRECEDING) AS cum FROM j)
         SELECT split, count(DISTINCT doc) AS n_docs, count(*) AS n_chunks,
           count(DISTINCT (cum - n_tok) // 512) AS n_bins,
           CAST(sum(n_tok) AS BIGINT) AS sum_tok
         FROM p GROUP BY 1 ORDER BY 1"""
    }
  )
}
