package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.PortableHash

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality metrics, language-ID heuristics, fingerprints.
  *
  * Everything is built-in expression composition (array lambdas, no UDFs) so
  * it stays inside whole-stage codegen — at 100 TB these run as a single
  * fused map stage over the scan, no shuffle until the final aggregation.
  */
object TextAnalysis {

  /** Whitespace tokenization. `sep` defaults to single-space (the corpus
    * convention); use `"\\s+"` for general text. */
  def tokens(c: Column, sep: String = " "): Column = split(c, sep)

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-style pre-tokenization: letter runs, digit runs, and single
    * punctuation marks — the split GPT-2-family pre-tokenizers apply before
    * byte-pair merges, and a far better LLM-token-cost estimate than
    * whitespace counting (punctuation and numbers tokenize separately).
    * The whitespace class is spelled out explicitly: Java's `\s` includes
    * vertical tab (\x0B) but RE2's does not, so a bare `\s` would make the
    * Spark and DuckDB (RE2) oracles diverge on documents containing \x0B. */
  val BpeTokenPattern: String = graft.functions.BpeApply.TokenPatternString

  def tokensBpe(c: Column): Column =
    regexp_extract_all(c, lit(BpeTokenPattern), lit(0))

  def tokenCountBpe(c: Column): Column = size(tokensBpe(c))

  /** DuckDB twin of [[tokenCountBpe]] (oracle construction). */
  def tokenCountBpeSql(col: String): String =
    s"len(regexp_extract_all($col, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]'))"

  /** Subword tokens under a TRAINED BPE vocabulary — the native
    * [[graft.functions.BpeApply]] merge loop (pre-tokenize, then merge the
    * lowest-rank adjacent pair until none remains), built directly from
    * the expression so it resolves on any session (same rule as
    * [[rollingFingerprint]]). Where [[tokensBpe]] estimates token cost
    * from the PRE-tokenizer alone, this is the production count: packing
    * and budget admission metered with the same merges table the training
    * tokenizer uses sees identical token totals. The merge list validates
    * as well-formed at construction ([[graft.functions.BpeModel]]).
    * `byteLevel = true` merges over GPT-2's byte alphabet instead of
    * codepoints (the [[graft.functions.BpeApply.ByteAlphabet]] mapping) —
    * the mode that matches real GPT-2/Llama tokenizer budgets on
    * non-ASCII text. */
  def bpeTokens(c: Column, merges: Seq[(String, String)],
      byteLevel: Boolean = false): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.BpeApply(
        org.apache.spark.sql.GraftColumnBridge.expression(c),
        new graft.functions.BpeModel(merges.toArray, byteLevel)))

  def bpeTokenCount(c: Column, merges: Seq[(String, String)],
      byteLevel: Boolean = false): Column =
    size(bpeTokens(c, merges, byteLevel))

  /** BPE TRAINING over a corpus — the classic learn loop (Sennrich et al.
    * 2016), distributed: each round segments the distinct-word table under
    * the merges so far (one [[bpeTokens]] projection — no shuffle), counts
    * adjacent symbol pairs weighted by word frequency (one partial-
    * aggregable groupBy), and collects exactly ONE row (the argmax pair,
    * ties broken by pair text for determinism) to append to the merge
    * list. `nMerges` rounds ⇒ `nMerges` passes over the distinct-word
    * table — BPE training is inherently sequential in the merge list; the
    * word table is distinct-word-sized (Heaps' law, ≪ corpus) and the
    * only driver state is the merge list itself (the [[BpeModel]]
    * driver-size contract). Words shorter than 2 symbols never pair and
    * drop out of the scan via a cheap length filter (BYTE length in
    * byte-level mode — a one-codepoint non-ASCII word still has ≥ 2 byte
    * symbols to merge). `byteLevel` trains over GPT-2's byte alphabet;
    * the trained list applies via `bpeTokens(_, merges, byteLevel =
    * true)`. */
  def bpeTrain(df: DataFrame, text: Column, nMerges: Int,
      byteLevel: Boolean = false): Seq[(String, String)] = {
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    val words = df.select(explode(tokensBpe(text)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .filter(if (byteLevel) octet_length(col("w")) >= 2
              else length(col("w")) >= 2)
    words.cache()
    try {
      val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
      var exhausted = false
      while (merges.length < nMerges && !exhausted) {
        // round 0 (empty merges) segments to codepoints (bytes in
        // byte-level mode) — same expression, so trainer and apply can
        // never disagree on symbol boundaries
        val segmented =
          words.select(col("wc"),
            bpeTokens(col("w"), merges.toSeq, byteLevel).as("syms"))
        val top = segmented
          .filter(size(col("syms")) >= 2)
          .select(col("wc"), explode(
            transform(sequence(lit(1), size(col("syms")) - 1),
              i => struct(element_at(col("syms"), i).as("a"),
                element_at(col("syms"), i + 1).as("b")))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("wc")).as("n"))
          .orderBy(col("n").desc, col("a"), col("b"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else merges += ((top(0).getString(0), top(0).getString(1)))
      }
      merges.toSeq
    } finally words.unpersist()
  }

  /** Persist a trained BPE as a VERSIONED ARTIFACT TABLE
    * `(rank, left, right, byte_level)` via [[graft.core.Ingest
    * .atomicPublish]] — the serving shape a real pipeline needs around
    * [[bpeTrain]]: the trainer runs once, then every apply/metering job
    * (and every retry, on any cluster) cold-loads the SAME artifact
    * instead of holding merges in one driver's memory. Re-publishing a
    * retrained model flips readers atomically (the moveparquet barrier
    * semantics); the artifact is merge-list-sized, i.e. driver-small by
    * the [[graft.functions.BpeModel]] contract. Returns the version id. */
  def bpeSave(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[(String, String)], byteLevel: Boolean,
      tableDir: String): String = {
    import spark.implicits._
    val df = merges.zipWithIndex
      .map { case ((a, b), r) => (r.toLong, a, b, byteLevel) }
      .toDF("rank", "left", "right", "byte_level")
    graft.core.Ingest.atomicPublish(df.coalesce(1), tableDir)
  }

  /** Cold-reload the published BPE artifact: resolve the manifest, read
    * the current version, rebuild `(merges in rank order, byteLevel)` —
    * [[bpeTokens]] on the result is bit-equal to the trainer's own
    * in-memory list (ServiceSpec pins the round trip). */
  def bpeLoad(spark: org.apache.spark.sql.SparkSession,
      tableDir: String): (Seq[(String, String)], Boolean) = {
    val rows = graft.core.Ingest.readPublished(spark, tableDir)
      .orderBy("rank").collect()
    (rows.map(r => (r.getAs[String]("left"), r.getAs[String]("right")))
       .toSeq,
     rows.headOption.exists(_.getAs[Boolean]("byte_level")))
  }

  // ---- unigram-LM (SentencePiece-style) tokenizer --------------------------

  /** Viterbi subword tokens under a trained [[graft.functions
    * .UnigramModel]] — the unigram-LM counterpart of [[bpeTokens]], same
    * pre-tokenizer, same zero-shuffle native-projection shape (see
    * [[graft.functions.UnigramApply]] for the exact argmax and tie-break
    * contract the DuckDB twin replays). Real pipelines choose between BPE
    * and unigram; with both native, the choice is one column swap. */
  def unigramTokens(c: Column, model: graft.functions.UnigramModel): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.UnigramApply(
        org.apache.spark.sql.GraftColumnBridge.expression(c), model))

  def unigramTokenCount(c: Column, model: graft.functions.UnigramModel): Column =
    size(unigramTokens(c, model))

  private def unigramEStepCol(c: Column,
      model: graft.functions.UnigramModel): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.UnigramEStep(
        org.apache.spark.sql.GraftColumnBridge.expression(c), model))

  /** Unigram-LM TRAINING (Kudo 2018, SentencePiece's unigram mode),
    * distributed in the [[bpeTrain]] shape — every stage is one scan over
    * the distinct-word table and the only driver state is the vocab:
    *
    *  1. SEED: all ≤ `maxPieceLen`-char substrings of the distinct words,
    *     weighted by word frequency; every single corpus char enters the
    *     vocab unconditionally (they are never pruned — the connectivity
    *     guarantee), plus the `seedSize` best multi-char substrings by
    *     the paper's `freq · len` heuristic (ties by piece text).
    *  2. EM: `emRounds` rounds of expectation–maximization. The E-step is
    *     ONE native projection per round ([[graft.functions.UnigramEStep]]
    *     — per-word lattice forward–backward, expected counts quantized
    *     to the 1e-6 grid inside the word) followed by an ORDER-FREE
    *     BIGINT aggregation; the M-step renormalizes on the driver with
    *     `StrictMath.log` over the collected vocab-sized count table.
    *     Everything is deterministic: integer sums, strict math, total
    *     ordering at every selection point — retrain on any cluster
    *     layout and the model is bit-identical (OpsSpecR13 pins this).
    *  3. PRUNE: drop the weakest multi-char pieces (lowest expected
    *     count, ties by piece text) down to `max(vocabSize_target,
    *     shrink · current)`, re-run EM, repeat until `vocabSize` holds.
    *     This expected-count ranking is a documented simplification of
    *     the paper's per-piece likelihood-loss ranking (§3.2 step 3) —
    *     same monotone signal on the lattice, one aggregation instead of
    *     a second Viterbi pass per candidate.
    *
    * Final scores are log-probs on the micro-nat grid; `unk` prices 10
    * nats below the weakest piece. Returns a canonical model (pieces
    * sorted, so artifacts and retrains compare byte-for-byte). */
  def unigramTrain(df: DataFrame, text: Column, vocabSize: Int,
      seedSize: Int = 1000, emRounds: Int = 2, shrink: Double = 0.75,
      maxPieceLen: Int = 4): graft.functions.UnigramModel = {
    require(vocabSize >= 2, s"vocabSize must be >= 2, got $vocabSize")
    require(maxPieceLen >= 1 &&
      maxPieceLen <= graft.functions.UnigramApply.MaxPieceLen,
      s"maxPieceLen must be in [1, ${graft.functions.UnigramApply.MaxPieceLen}]")
    require(shrink > 0 && shrink < 1, s"shrink must be in (0,1), got $shrink")
    val words = df.select(explode(tokensBpe(text)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
    words.cache()
    try {
      // seed: substring explosion — one scan, partial-agg groupBy
      val subs = words.select(col("wc"), explode(flatten(transform(
          sequence(lit(1), length(col("w"))),
          i => transform(
            sequence(lit(1), least(lit(maxPieceLen), length(col("w")) - i + 1)),
            l => col("w").substr(i, l))))).as("p"))
        .groupBy("p").agg(sum("wc").as("c"))
      val singles = subs.filter(length(col("p")) === 1)
        .orderBy("p").collect().map(r => (r.getString(0), r.getLong(1)))
      val multis = subs.filter(length(col("p")) >= 2)
        .orderBy((col("c") * length(col("p"))).desc, col("p"))
        .limit(seedSize).collect().map(r => (r.getString(0), r.getLong(1)))
      require(singles.nonEmpty, "empty corpus: no characters to seed from")
      // counts → canonical log-prob micro scores
      def mStep(counts: Seq[(String, Long)]): graft.functions.UnigramModel = {
        val total = counts.map(_._2).sum.max(1L)
        // a zero-count piece (possible after EM starves it) keeps a floor
        // price of half a count — stays segmentable, sorts to the bottom
        def micro(c: Long): Long = StrictMath.round(
          StrictMath.log(math.max(c.toDouble, 0.5) / total.toDouble) * 1e6)
        val sorted = counts.sortBy(_._1)
        val scores = sorted.map(kv => micro(kv._2))
        new graft.functions.UnigramModel(sorted.map(_._1).toArray,
          scores.toArray, unkScoreMicro = scores.min - 10_000_000L)
      }
      var model = mStep((singles ++ multis).toSeq)
      val singleSet = singles.map(_._1).toSet
      def emPass(m: graft.functions.UnigramModel): Seq[(String, Long)] = {
        // DECIMAL(38,0)-staged product: micro-count × word-frequency can
        // brush int64 on a crawl-scale corpus; the M-step only needs the
        // table driver-side, where longValueExact fails LOUDLY (never
        // wraps) if a corpus ever outgrows the grid
        val got = words
          .select(col("wc"), explode(unigramEStepCol(col("w"), m)).as("e"))
          .groupBy(col("e.piece").as("p"))
          .agg(sum(col("e.cmicro").cast("decimal(38,0)") * col("wc"))
            .as("cm"))
          .collect()
          .map(r => (r.getString(0),
            r.getDecimal(1).toBigInteger.longValueExact())).toMap
        // micro expected counts stand in for counts; absent pieces -> 0
        m.pieces.toSeq.map(p => (p, got.getOrElse(p, 0L)))
      }
      var done = false
      while (!done) {
        var counts: Seq[(String, Long)] = Seq.empty
        (1 to emRounds).foreach { _ =>
          counts = emPass(model)
          model = mStep(counts)
        }
        val nMulti = model.pieces.count(p => !singleSet(p))
        val targetMulti = math.max(vocabSize - singleSet.size,
          0).min(nMulti)
        if (nMulti <= targetMulti || model.pieces.length <= vocabSize) {
          done = true
        } else {
          val keepMulti = math.max(targetMulti,
            StrictMath.ceil(nMulti * shrink).toInt.min(nMulti - 1))
          val byCount = counts.toMap
          val kept = model.pieces.toSeq.filter(p => !singleSet(p))
            .sortBy(p => (-byCount.getOrElse(p, 0L), p)).take(keepMulti)
          val next = (singleSet.toSeq ++ kept).map(p =>
            (p, byCount.getOrElse(p, 0L)))
          model = mStep(next)
        }
      }
      model
    } finally { words.unpersist(); () }
  }

  /** Persist a trained unigram model as a VERSIONED ARTIFACT TABLE
    * `(piece, score_micro, unk_score_micro)` through the same
    * [[graft.core.Ingest.atomicPublish]] barrier as [[bpeSave]]; the
    * artifact is vocab-sized (driver-small by the [[graft.functions
    * .UnigramModel]] contract). Returns the version id. */
  def unigramSave(spark: org.apache.spark.sql.SparkSession,
      model: graft.functions.UnigramModel, tableDir: String): String = {
    import spark.implicits._
    val df = model.pieces.zip(model.scoresMicro)
      .map { case (p, sm) => (p, sm, model.unkScoreMicro) }.toSeq
      .toDF("piece", "score_micro", "unk_score_micro")
    graft.core.Ingest.atomicPublish(df.coalesce(1), tableDir)
  }

  /** Cold-reload the published unigram artifact — canonical piece order,
    * so the round trip is bit-equal to the trainer's model. */
  def unigramLoad(spark: org.apache.spark.sql.SparkSession,
      tableDir: String): graft.functions.UnigramModel = {
    val rows = graft.core.Ingest.readPublished(spark, tableDir)
      .orderBy("piece").collect()
    new graft.functions.UnigramModel(
      rows.map(_.getAs[String]("piece")),
      rows.map(_.getAs[Long]("score_micro")),
      rows.head.getAs[Long]("unk_score_micro"))
  }

  /** DuckDB twin of the Viterbi segmentation: CTE list over `wordsRel`
    * (a relation exposing DISTINCT words in column `w`, none longer than
    * `maxWordLen` chars) ending in `useg(w, ntok, wtoks)` — `wtoks` is
    * the piece sequence space-joined. The DP unrolls one CTE per char
    * position (bounded corpora only — this is an ORACLE device; the
    * production path is the native expression): dp_j keeps, per word,
    * the best `(score, seg)` reaching position j under exactly the
    * native tie-break (`ORDER BY sc DESC, seg DESC` on the US-separated
    * seg string — binary vs Java char comparison agree on ASCII). */
  def unigramViterbiSql(wordsRel: String, pieces: Seq[(String, Long)],
      unkScoreMicro: Long, maxWordLen: Int): String = {
    require(pieces.nonEmpty && maxWordLen >= 1)
    val maxPl = pieces.map(_._1.length).max
    val vals = pieces.sortBy(_._1)
      .map { case (p, sm) => s"('$p', CAST($sm AS BIGINT))" }.mkString(", ")
    val dps = (1 to maxWordLen).map { j =>
      val branches = (math.max(0, j - maxPl) until j).map { i =>
        s"""SELECT d.w, d.sc + c.sm AS sc,
           CASE WHEN d.seg = '' THEN c.piece
             ELSE d.seg || chr(31) || c.piece END AS seg
           FROM __u_d$i d JOIN __u_cand c
             ON c.w = d.w AND c.i = ${i + 1} AND c.pl = ${j - i}"""
      }.mkString(" UNION ALL ")
      s"""__u_d$j AS (SELECT w, sc, seg FROM (
           SELECT w, sc, seg, row_number() OVER (
             PARTITION BY w ORDER BY sc DESC, seg DESC) AS rn
           FROM ($branches)) WHERE rn = 1)"""
    }.mkString(",\n         ")
    val allDp = (1 to maxWordLen)
      .map(j => s"SELECT $j AS pos, w, seg FROM __u_d$j")
      .mkString(" UNION ALL ")
    s"""__u_p(piece, sm) AS (VALUES $vals),
       __u_w AS (SELECT DISTINCT w FROM $wordsRel),
       __u_cand AS (
         SELECT w, i, piece, sm, length(piece) AS pl FROM (
           SELECT uw.w, x.i, up.piece, up.sm
           FROM __u_w uw,
             LATERAL (SELECT unnest(generate_series(1, length(uw.w))) AS i) x
           JOIN __u_p up ON up.piece = substr(uw.w, x.i, length(up.piece))
           UNION ALL
           SELECT uw.w, x.i, substr(uw.w, x.i, 1) AS piece,
             CAST($unkScoreMicro AS BIGINT) AS sm
           FROM __u_w uw,
             LATERAL (SELECT unnest(generate_series(1, length(uw.w))) AS i) x
           WHERE NOT EXISTS (SELECT 1 FROM __u_p p2
             WHERE p2.piece = substr(uw.w, x.i, 1)))),
       __u_d0 AS (SELECT w, CAST(0 AS BIGINT) AS sc, '' AS seg FROM __u_w),
       $dps,
       useg AS (SELECT a.w,
           (length(a.seg) - length(replace(a.seg, chr(31), ''))) + 1 AS ntok,
           replace(a.seg, chr(31), ' ') AS wtoks
         FROM ($allDp) a JOIN __u_w uw
           ON uw.w = a.w AND length(uw.w) = a.pos)"""
  }

  // ---- WordPiece (BERT-style) tokenizer ------------------------------------

  /** Subword tokens under a TRAINED WordPiece vocabulary — the native
    * [[graft.functions.WordPieceApply]] greedy longest-match-first pass
    * (the unigram/BPE counterpart: same pre-tokenizer, so all three meter
    * the same word stream and a tokenizer bakeoff is one column swap). */
  def wordPieceTokens(c: Column, model: graft.functions.WordPieceModel): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.WordPieceApply(
        org.apache.spark.sql.GraftColumnBridge.expression(c), model))

  def wordPieceTokenCount(c: Column, model: graft.functions.WordPieceModel): Column =
    size(wordPieceTokens(c, model))

  private def wordPieceSegCol(c: Column,
      merges: Seq[(String, String)]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.WordPieceSegment(
        org.apache.spark.sql.GraftColumnBridge.expression(c),
        new graft.functions.WordPieceMergeModel(merges.toArray)))

  /** WordPiece TRAINING (Schuster & Nakajima 2012; the HuggingFace
    * `WordPieceTrainer` algorithm): the [[bpeTrain]] merge loop over the
    * MARKED alphabet (`c₀, ##c₁ …` — [[graft.functions.WordPieceSegment]]),
    * but each round's winner maximizes the LIKELIHOOD score
    * `count(ab) / (count(a)·count(b))` instead of raw pair count. Each
    * round: one segmentation projection over the distinct-word table (no
    * shuffle), one partial-aggregable pair count, one symbol count, a
    * broadcast-sized join of the two, and exactly ONE collected row.
    *
    * Determinism: the score is ranked as `(n_ab·10¹²) / (n_a·n_b)` in
    * DECIMAL(38,0)-staged arithmetic (products bounded: counts ≤ 10¹² at
    * 100 TB keep every intermediate under 38 digits) — a fixed-grid
    * quantization of the exact rational, with ties broken by
    * `(n_ab DESC, a, b)`; retrains are bit-identical. The trainer is
    * spec-pinned (like [[bpeTrain]]), not oracle-replayed — only the
    * APPLY path needs the cross-engine twin ([[wordPieceSql]]).
    *
    * Returns the finished [[graft.functions.WordPieceModel]]: round-0
    * alphabet (sorted) ++ merge products in rank order, with `[UNK]`.
    * Merges whose product would span more than [[graft.functions
    * .WordPieceApply.MaxPieceSpan]] raw chars are never candidates (the
    * cap that bounds serving-side scans and the oracle's unroll). */
  def wordPieceTrain(df: DataFrame, text: Column, nMerges: Int):
      graft.functions.WordPieceModel = {
    require(nMerges >= 0, s"nMerges must be non-negative, got $nMerges")
    val words = df.select(explode(tokensBpe(text)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
    words.cache()
    try {
      val alphabet = words
        .select(explode(wordPieceSegCol(col("w"), Nil)).as("s"))
        .distinct().collect().map(_.getString(0)).sorted
      val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
      var exhausted = false
      while (merges.length < nMerges && !exhausted) {
        val segmented = words.filter(length(col("w")) >= 2)
          .select(col("wc"), wordPieceSegCol(col("w"), merges.toSeq).as("syms"))
        val pairs = segmented
          .filter(size(col("syms")) >= 2)
          .select(col("wc"), explode(
            transform(sequence(lit(1), size(col("syms")) - 1),
              i => struct(element_at(col("syms"), i).as("a"),
                element_at(col("syms"), i + 1).as("b")))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("wc")).as("n_ab"))
          // the merged product's raw span must stay under the serving cap
          .filter(length(col("a"))
            - when(col("a").startsWith("##"), lit(2)).otherwise(lit(0))
            + length(col("b")) - lit(2)
            <= graft.functions.WordPieceApply.MaxPieceSpan)
        val syms = segmented
          .select(col("wc"), explode(col("syms")).as("s"))
          .groupBy("s").agg(sum(col("wc")).as("n_s"))
        val top = pairs
          .join(broadcast(syms.select(col("s").as("a"), col("n_s").as("n_a"))), "a")
          .join(broadcast(syms.select(col("s").as("b"), col("n_s").as("n_b"))), "b")
          .withColumn("score", expr(
            """(CAST(n_ab AS DECIMAL(38,0)) * 1000000000000)
               / (CAST(n_a AS DECIMAL(38,0)) * CAST(n_b AS DECIMAL(38,0)))"""))
          .orderBy(col("score").desc, col("n_ab").desc, col("a"), col("b"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else merges += ((top(0).getAs[String]("a"), top(0).getAs[String]("b")))
      }
      // distinct products: two different pairs can build the same string
      // (("a","##bc") and ("ab","##c") both yield "abc")
      val products = merges.map { case (a, b) => a + b.substring(2) }.distinct
      new graft.functions.WordPieceModel(
        (alphabet ++ products.filterNot(alphabet.contains)).toArray, "[UNK]")
    } finally words.unpersist()
  }

  /** Persist a trained WordPiece vocab as a VERSIONED ARTIFACT TABLE
    * `(rank, piece)` (+ the unk token at rank −1) via
    * [[graft.core.Ingest.atomicPublish]] — same serving contract as
    * [[bpeSave]]/[[unigramSave]]. Returns the version id. */
  def wordPieceSave(spark: org.apache.spark.sql.SparkSession,
      model: graft.functions.WordPieceModel, tableDir: String): String = {
    import spark.implicits._
    val rows = (-1L, model.unkToken) +:
      model.pieces.zipWithIndex.map { case (p, r) => (r.toLong, p) }.toSeq
    graft.core.Ingest.atomicPublish(
      rows.toDF("rank", "piece").coalesce(1), tableDir)
  }

  /** Cold-reload the published WordPiece artifact — canonical piece
    * order, bit-equal apply (ServiceSpec pins the round trip). */
  def wordPieceLoad(spark: org.apache.spark.sql.SparkSession,
      tableDir: String): graft.functions.WordPieceModel = {
    val rows = graft.core.Ingest.readPublished(spark, tableDir)
      .orderBy("rank").collect()
    new graft.functions.WordPieceModel(
      rows.tail.map(_.getAs[String]("piece")),
      rows.head.getAs[String]("piece"))
  }

  /** DuckDB twin of the greedy WordPiece segmentation: CTE list over
    * `wordsRel` (DISTINCT words in column `w`, none longer than
    * `maxWordLen` chars) ending in `wpseg(w, ntok, wtoks)`. The greedy
    * cursor unrolls one CTE per step (each step consumes ≥ 1 char, so
    * `maxWordLen` steps always finish) — at each position the LONGEST
    * matching candidate is unique (equal-length candidates at one
    * position are the same substring), words that get stuck drop out of
    * the chain and resurface as one `unkToken`. An ORACLE device, like
    * [[unigramViterbiSql]]; the production path is the native
    * expression. */
  def wordPieceSql(wordsRel: String, pieces: Seq[String], unkToken: String,
      maxWordLen: Int): String = {
    require(pieces.nonEmpty && maxWordLen >= 1)
    val vals = pieces.sorted.map(p => s"('$p')").mkString(", ")
    val steps = (1 to maxWordLen).map { t =>
      s"""__wp_c$t AS (
           SELECT c.w,
             CASE WHEN c.pos > length(c.w) THEN c.pos
               ELSE c.pos + b.pl END AS pos,
             CASE WHEN c.pos > length(c.w) THEN c.seg
               WHEN c.seg = '' THEN b.piece
               ELSE c.seg || chr(31) || b.piece END AS seg
           FROM __wp_c${t - 1} c
           LEFT JOIN __wp_best b ON b.w = c.w AND b.i = c.pos
           WHERE c.pos > length(c.w) OR b.piece IS NOT NULL)"""
    }.mkString(",\n         ")
    s"""__wp_p(piece) AS (VALUES $vals),
       __wp_w AS (SELECT DISTINCT w FROM $wordsRel),
       __wp_cand AS (
         SELECT uw.w, 1 AS i, p.piece, length(p.piece) AS pl
         FROM __wp_w uw JOIN __wp_p p
           ON p.piece NOT LIKE '##%'
          AND p.piece = substr(uw.w, 1, length(p.piece))
         UNION ALL
         SELECT uw.w, x.i, p.piece, length(p.piece) - 2 AS pl
         FROM __wp_w uw,
           LATERAL (SELECT unnest(generate_series(2, length(uw.w))) AS i) x
         JOIN __wp_p p
           ON p.piece LIKE '##%'
          AND substr(p.piece, 3) = substr(uw.w, x.i, length(p.piece) - 2)),
       __wp_best AS (SELECT w, i, piece, pl FROM (
         SELECT w, i, piece, pl,
           row_number() OVER (PARTITION BY w, i ORDER BY pl DESC) AS rn
         FROM __wp_cand) WHERE rn = 1),
       __wp_c0 AS (SELECT w, 1 AS pos, '' AS seg FROM __wp_w),
       $steps,
       __wp_fin AS (SELECT w, seg FROM __wp_c$maxWordLen
         WHERE pos = length(w) + 1),
       wpseg AS (SELECT uw.w,
           CASE WHEN f.w IS NULL THEN 1
             ELSE (length(f.seg) - length(replace(f.seg, chr(31), ''))) + 1
           END AS ntok,
           CASE WHEN f.w IS NULL THEN '$unkToken'
             ELSE replace(f.seg, chr(31), ' ') END AS wtoks
         FROM __wp_w uw LEFT JOIN __wp_fin f ON f.w = uw.w)"""
  }

  /** Unicode normalization via the native [[graft.functions
    * .UnicodeNormalize]] projection (NFC default — the web-canonical
    * composed form with a DuckDB `nfc_normalize` twin; NFKC folds
    * compatibility forms and is spec-pinned, DuckDB has no NFKC). Run it
    * AHEAD of the hygiene/statistics stages ([[Curation.hygiene]]'s
    * `nfc` flag): composed and decomposed encodings of one glyph must
    * hash/shingle/dedup/count identically or every downstream gate sees
    * phantom distinctions. */
  def normalizeText(c: Column, form: String = "NFC"): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.UnicodeNormalize(
        org.apache.spark.sql.GraftColumnBridge.expression(c), form))

  /** Markup stripping — the boilerplate-removal step for crawl text that
    * arrives as raw HTML: drop `<...>` tag spans, decode the six
    * ubiquitous entities (`&amp;` LAST so `&amp;lt;` cannot double-
    * decode), collapse runs of whitespace, trim. A rule chain, not a
    * parser — the jusText/trafilatura class of extraction is a modeling
    * choice; this is the deterministic, cross-engine-replayable floor
    * both engines agree on byte for byte (the whitespace class is
    * spelled `[ \t\n]` explicitly because Java's `\s` and RE2's
    * disagree on \x0B). Pure per-row projection: zero shuffle. */
  /** The three markup-span removal passes shared by [[stripMarkup]] and
    * [[markupRatio]]: whole `<script>`/`<style>` ELEMENTS first (their
    * text content is code, not prose — a tags-only pass would leak it),
    * then any remaining `<...>` tag. Lowercase-tag rule, documented. */
  private def dropMarkupSpans(c: Column, repl: String): Column =
    regexp_replace(regexp_replace(regexp_replace(c,
      "(?s)<script[^>]*>.*?</script>", repl),
      "(?s)<style[^>]*>.*?</style>", repl),
      "<[^>]*>", repl)

  private def dropMarkupSpansSql(col: String, repl: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace($col,
       | '(?s)<script[^>]*>.*?</script>', '$repl', 'g'),
       | '(?s)<style[^>]*>.*?</style>', '$repl', 'g'),
       | '<[^>]*>', '$repl', 'g')""".stripMargin

  def stripMarkup(c: Column): Column = {
    val noTags = dropMarkupSpans(c, " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (acc, (e, r)) => replace(acc, lit(e), lit(r)) }
    trim(regexp_replace(decoded, "[ \t\n]+", " "))
  }

  def stripMarkupSql(col: String): String = {
    val decoded = Seq("&lt;" -> "'<'", "&gt;" -> "'>'",
      "&quot;" -> "'\"'", "&#39;" -> "chr(39)", "&nbsp;" -> "' '",
      "&amp;" -> "'&'")
      .foldLeft(dropMarkupSpansSql(col, " ")) {
        case (acc, (e, r)) => s"replace($acc, '$e', $r)"
      }
    s"trim(regexp_replace($decoded, '[ \\t\\n]+', ' ', 'g'))"
  }

  /** Fraction of codepoints living inside markup spans (script/style
    * elements + `<...>` tags) — the markup-heaviness gate (a page that
    * is mostly tags is a script/nav shell, not prose; C4 drops
    * curly-brace pages by the same logic). One deterministic division on
    * the 6-decimal grid. */
  def markupRatio(c: Column): Column = {
    val tagless = dropMarkupSpans(c, "")
    when(length(c) === 0, lit(0.0))
      .otherwise(ExactRound.ratioRoundedCol(
        length(c) - length(tagless), length(c), 6))
  }

  def markupRatioSql(col: String): String =
    s"""CASE WHEN length($col) = 0 THEN 0.0
       | ELSE ${ExactRound.ratioRoundedSql(
         s"length($col) - length(${dropMarkupSpansSql(col, "")})",
         s"length($col)", 6)} END""".stripMargin

  /** Host of a URL (the `://`-to-delimiter span, lowercased; empty when
    * the string is not a URL) and its REGISTRABLE domain (last two dot
    * labels — the blocklist key C4-class curation filters on: a
    * blocklist entry must catch every subdomain serving the same
    * content). A public-suffix list refines multi-label TLDs; the
    * two-label rule is the deterministic floor. */
  def urlHost(c: Column): Column =
    lower(regexp_extract(c, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]+)", 1))

  def urlDomain(c: Column): Column = {
    val parts = split(urlHost(c), "\\.")
    when(size(parts) >= 2,
      concat_ws(".", element_at(parts, -2), element_at(parts, -1)))
      .otherwise(urlHost(c))
  }

  def urlHostSql(col: String): String =
    s"lower(regexp_extract($col, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]+)', 1))"

  def urlDomainSql(col: String): String = {
    val h = urlHostSql(col)
    s"""CASE WHEN len(str_split($h, '.')) >= 2
       | THEN str_split($h, '.')[-2] || '.' || str_split($h, '.')[-1]
       | ELSE $h END""".stripMargin
  }

  def distinctTokens(c: Column): Column = array_distinct(tokens(c))

  /** Collocation mining: pointwise mutual information of adjacent token
    * pairs, PMI = ln(P(ab)) − ln(P(a)) − ln(P(b)) with unigram/bigram
    * probabilities from corpus counts — the classic vocabulary-induction /
    * multi-word-expression signal. Two explode+count aggregations (both
    * map-side partial), the scalar totals broadcast, and the bigram table
    * joins the unigram counts twice; `minCount` floors the pair count
    * (PMI of rare pairs is noise). PMI is a sum of five ln() terms —
    * libm differences across engines are ~1e-15, so the 6-decimal rounding
    * grid makes it oracle-exact. Output: (bigram, n_pair, pmi).
    *
    * The bigram lambda transforms over a MATERIALIZED token-array column
    * (element_at on `__toks`), never re-splitting per element — the O(L²)
    * trap [[graft.ops.Dedup.shinglesComposable]] documents. */
  def pmiBigrams(df: DataFrame, text: Column, minCount: Long): DataFrame = {
    val toked = df.select(tokens(text).as("__toks"))
    val uni = toked.select(explode(col("__toks")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c1"))
    val bg = toked.select(explode(
        when(size(col("__toks")) >= 2,
          transform(sequence(lit(1), size(col("__toks")) - 1),
            i => concat_ws(" ", element_at(col("__toks"), i),
              element_at(col("__toks"), i + 1))))
          .otherwise(array().cast("array<string>"))).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c2"))
    val n1 = uni.agg(sum("c1").cast("double").as("n1"))
    val n2 = bg.agg(sum("c2").cast("double").as("n2"))
    bg.filter(col("c2") >= minCount)
      .withColumn("t1", split(col("b"), " ").getItem(0))
      .withColumn("t2", split(col("b"), " ").getItem(1))
      .join(uni.select(col("t").as("t1"), col("c1").as("ca")), "t1")
      .join(uni.select(col("t").as("t2"), col("c1").as("cb")), "t2")
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(col("b").as("bigram"), col("c2").as("n_pair"),
        round(log(col("c2").cast("double")) + lit(2.0) * log(col("n1"))
          - log(col("n2")) - log(col("ca").cast("double"))
          - log(col("cb").cast("double")), 6).as("pmi"))
  }

  /** Curation scrub: lowercase → redact emails → redact NNN-NNN-NNNN phone
    * shapes → collapse whitespace runs → trim. The normalization every
    * corpus pass runs before dedup/fingerprinting, fused into the scan as
    * pure codegen'd regexp projection (no UDF, no shuffle). Patterns stay
    * inside the Java∩RE2 common syntax so the DuckDB oracle ([[scrubSql]])
    * applies the IDENTICAL transformation — the whitespace class is spelled
    * out because Java's `\s` and RE2's disagree on \x0B (same caveat as
    * [[BpeTokenPattern]]). Redaction first, collapse second: collapsing can
    * merge tokens and must not create new redactable shapes. */
  private val EmailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhonePattern = "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"
  private val SpaceRunPattern = "[ \\t\\n\\x0B\\f\\r]+"

  def scrub(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(lower(text), EmailPattern, "<email>"),
        PhonePattern, "<phone>"),
      SpaceRunPattern, " "))

  /** PII incidence counters — the AUDIT side of [[scrub]]: how many
    * redactable shapes a text contains, per pattern (the per-source PII
    * rate report compliance reviews ask for before release). Same
    * Java∩RE2 patterns as the scrub so "counted" and "redacted" can never
    * disagree; pure codegen'd regexp projections. */
  def emailCount(c: Column): Column = regexp_count(lower(c), lit(EmailPattern))

  def phoneCount(c: Column): Column = regexp_count(lower(c), lit(PhonePattern))

  /** DuckDB twins of [[emailCount]] / [[phoneCount]]. */
  def emailCountSql(col: String): String =
    s"len(regexp_extract_all(lower($col), '$EmailPattern'))"

  def phoneCountSql(col: String): String =
    s"len(regexp_extract_all(lower($col), '$PhonePattern'))"

  /** DuckDB twin of [[scrub]] (oracle construction). */
  def scrubSql(col: String): String =
    s"""trim(regexp_replace(regexp_replace(regexp_replace(lower($col),
       | '$EmailPattern', '<email>', 'g'),
       | '$PhonePattern', '<phone>', 'g'),
       | '$SpaceRunPattern', ' ', 'g'))""".stripMargin.replace("\n", "")

  // ---- C4-style rule-based line cleaning (Raffel et al., JMLR 2020 §2.2;
  // the reference has no text surface at all — extension scope, same family
  // as scrub/removeBoilerplateLines) -------------------------------------

  private val TerminalPunctPattern = "[.!?\"]$"
  private val C4LineBlockWord = "javascript"
  private val C4DocBlockPhrase = "lorem ipsum"

  /** C4's per-line retention rule: keep a line only if it ends in terminal
    * punctuation ('.', '!', '?', '"'), carries at least `minWords`
    * whitespace words, and does not mention "javascript" (the tell of
    * scraped script/noscript bodies). Both tests run on the TRIMMED line
    * (trailing-whitespace artifacts must not mask the punctuation); the
    * kept line itself is returned verbatim. Pure per-line predicate. */
  def c4KeepLine(line: Column, minWords: Int): Column =
    trim(line).rlike(TerminalPunctPattern) &&
      size(split(trim(line), " ")) >= minWords &&
      !lower(line).contains(C4LineBlockWord)

  /** C4's page-level rule: drop the whole document when it contains the
    * "lorem ipsum" placeholder or a curly brace (the code-leak tell). */
  def c4DocOk(text: Column): Column =
    !lower(text).contains(C4DocBlockPhrase) && !text.contains("{")

  /** Line-filtered rebuild: surviving lines in original order, joined with
    * `sep`. A document can come back empty (every line failed); page-level
    * drops are the caller's `c4DocOk` filter — kept separate so the query
    * can report both counts.
    *
    * Scale shape: one per-row projection — split, lambda filter, join —
    * fused into the scan, zero shuffle, zero state. The filter lambda
    * evaluates interpreted per LINE (not per char/gram), a few dozen evals
    * per document; unlike the per-gram HOF paths this is nowhere near the
    * hot loop, so the composable form is the right trade vs a native
    * expression. */
  def c4CleanText(text: Column, minWords: Int = 3, sep: String = "\n"): Column =
    array_join(
      filter(split(text, java.util.regex.Pattern.quote(sep)),
        l => c4KeepLine(l, minWords)),
      sep)

  /** DuckDB twins of the C4 rules (oracle construction). */
  def c4KeepLineSql(l: String, minWords: Int): String =
    s"""(regexp_matches(trim($l), '[.!?"]$$') AND
       | len(str_split(trim($l), ' ')) >= $minWords AND
       | NOT contains(lower($l), '$C4LineBlockWord'))"""
      .stripMargin.replace("\n", "")

  def c4DocOkSql(col: String): String =
    s"(NOT contains(lower($col), '$C4DocBlockPhrase') AND NOT contains($col, '{'))"

  def c4CleanTextSql(col: String, minWords: Int = 3): String =
    // coalesce: DuckDB array_to_string([]) is NULL where Spark
    // array_join([]) is '' — bit at sf0.001, where a doc loses every line
    s"coalesce(array_to_string(list_filter(str_split($col, chr(10)), " +
      s"l -> ${c4KeepLineSql("l", minWords)}), chr(10)), '')"

  // ---- content blocklist (C4 §2.2 badword gate) ---------------------------

  /** Every blocklist phrase occurring in `text`, as `array<string>` of
    * DISTINCT matches in blocklist order — ONE Aho–Corasick pass
    * ([[graft.functions.PhraseMatches]]) instead of N `contains` scans.
    * Matching is case-exact with ASCII word-boundary semantics (see the
    * automaton's Scaladoc); pass `lower(text)` + lowercase phrases for the
    * C4 case-insensitive rule, or [[blockedByPhrases]] which does so. */
  def phraseMatches(text: Column, phrases: Seq[String],
      wordBoundary: Boolean = true): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.PhraseMatches(
        org.apache.spark.sql.GraftColumnBridge.expression(text),
        new graft.functions.PhraseAutomaton(phrases.toArray, wordBoundary)))

  /** C4 §2.2's first page rule ("contains any word on the blocklist"):
    * TRUE when the document matches ANY phrase case-insensitively on word
    * boundaries. Phrases must arrive lowercase `[a-z0-9 ]` (validated) so
    * the lowercase fold happens exactly once, on the text — and so the
    * DuckDB twin needs no regex escaping. */
  def blockedByPhrases(text: Column, phrases: Seq[String]): Column = {
    phrases.foreach(p => require(p.matches("[a-z0-9 ]+"),
      s"blocklist phrase must be lowercase [a-z0-9 ]: '$p'"))
    size(phraseMatches(lower(text), phrases)) > 0
  }

  /** RefinedWeb/CCNet-style boilerplate removal: drop every line that
    * appears in at least `minDocs` DISTINCT documents (nav bars, cookie
    * banners, license footers — the lines that repeat verbatim across a
    * crawl), preserving the order of surviving lines. Returns
    * `(id, text, n_lines, n_lines_kept)`; a document whose every line is
    * boilerplate keeps an empty text (curation decides whether to drop it).
    *
    * Scale shape: one explode → one count-distinct agg over lines (the
    * frequent-line set is small by definition — boilerplate is what
    * repeats) → one anti join → one rebuild agg keyed on the doc id.
    * Nothing is driver-side; the rebuild's per-doc state is the document's
    * own lines, bounded by document length. Line order is restored by
    * sorting (pos, line) structs — pos is unique per doc, so the rebuild is
    * deterministic under any partitioning. */
  def removeBoilerplateLines(df: DataFrame, id: Column, text: Column,
      minDocs: Long, sep: String = "\n"): DataFrame =
    removeLines(df, id, text, mineFrequentLines(df, id, text, minDocs, sep), sep)

  /** Mining half of [[removeBoilerplateLines]]: the distinct lines present
    * in ≥ `minDocs` documents (one `line` column). Run this OFFLINE over
    * the static corpus; the apply half is then stateless per row batch —
    * the production split for continuous ingest. */
  def mineFrequentLines(df: DataFrame, id: Column, text: Column,
      minDocs: Long, sep: String = "\n"): DataFrame =
    df.select(id.as("__id"),
        explode(split(text, java.util.regex.Pattern.quote(sep))).as("line"))
      .groupBy("line")
      .agg(countDistinct(col("__id")).as("__nd"))
      .filter(col("__nd") >= minDocs).select("line")

  /** Apply half: remove every line found in `badLines` (a one-column frame;
    * de-duplicated here, so callers can pass raw mining output), rebuilding
    * each document's surviving lines in order. Structured so the document
    * side carries ONE stateful aggregation and the `badLines` side joins as
    * a static (broadcastable) relation — exactly the stream-static shape,
    * so the same code runs over `readStream` microbatches
    * (StreamStaticSpec pins streaming ≡ batch). A document whose every
    * line is boilerplate comes back with empty text, not missing. */
  def removeLines(df: DataFrame, id: Column, text: Column,
      badLines: DataFrame, sep: String = "\n"): DataFrame = {
    val quoted = java.util.regex.Pattern.quote(sep)
    val lines = df.select(id.as("__id"),
      size(split(text, quoted)).cast("long").as("__nl"),
      posexplode(split(text, quoted)).as(Seq("__pos", "__line")))
    val bad = badLines.select(col(badLines.columns.head).as("__line"))
      .distinct().withColumn("__bad", lit(1))
    lines.join(bad, Seq("__line"), "left")
      .groupBy("__id")
      .agg(
        max(col("__nl")).as("n_lines"),
        sum(when(col("__bad").isNull, 1L).otherwise(0L)).as("n_lines_kept"),
        array_join(transform(array_sort(
            collect_list(when(col("__bad").isNull,
              struct(col("__pos"), col("__line"))))),
          x => x.getField("__line")), sep).as("__t"))
      .select(col("__id").as("id"), col("__t").as("text"),
        col("n_lines"), col("n_lines_kept"))
  }

  // ---- encoding-damage (mojibake) detection ------------------------------

  private val ReplacementChar = "�"
  private val ControlCharPattern = "[\\x00-\\x08\\x0e-\\x1f\\x7f]"

  /** U+FFFD replacement-character count — the tell of UTF-8 decode damage
    * upstream (a crawler that transcoded lossily). Plain (non-regex)
    * replace, length difference: one fused per-row expression. */
  def replacementCharCount(c: Column): Column =
    (length(c) - length(replace(c, lit(ReplacementChar), lit("")))).cast("long")

  /** C0/DEL control characters (tab/newline/CR excluded) — binary garbage
    * leaking into a text column. */
  def controlCharCount(c: Column): Column =
    (length(c) - length(regexp_replace(c, ControlCharPattern, ""))).cast("long")

  /** Encoding gate: a document passes when replacement chars stay under
    * `maxReplRatio` of its characters and it carries no control chars at
    * all (the strict rule — any C0 byte means the column was never really
    * text). Empty texts pass (nothing to be damaged). */
  def encodingOk(c: Column, maxReplRatio: Double): Column =
    (length(c) === 0) ||
      (replacementCharCount(c).cast("double") <= lit(maxReplRatio) * length(c) &&
        controlCharCount(c) === 0)

  /** DuckDB twins (oracle construction). U+FFFD is spelled via chr() so
    * the SQL stays 7-bit clean. */
  def replacementCharCountSql(col: String): String =
    s"CAST(length($col) - length(replace($col, chr(65533), '')) AS BIGINT)"

  def controlCharCountSql(col: String): String =
    s"CAST(length($col) - length(regexp_replace($col, " +
      s"'$ControlCharPattern', '', 'g')) AS BIGINT)"

  def encodingOkSql(col: String, maxReplRatio: Double): String =
    s"(length($col) = 0 OR (${replacementCharCountSql(col)}::DOUBLE " +
      s"<= $maxReplRatio * length($col) AND ${controlCharCountSql(col)} = 0))"

  // ---- BM25 lexical retrieval --------------------------------------------

  /** BM25 top-k retrieval (Robertson/Lucene form): for every query, the k
    * highest-scoring corpus documents under
    * `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` with
    * `idf = ln(1 + (N−df+0.5)/(df+0.5))` — the lexical side of the
    * retrieval stack (the vector side is [[Similarity]]), and the standard
    * source of BM25-hard negatives for retriever training. Scores are
    * rounded to 6 decimals and the rank orders by the ROUNDED score (doc
    * id tie-break), so ranking is cross-engine deterministic.
    *
    * Scale shape: the query set is small by definition → its distinct
    * term set BROADCASTS and prunes the corpus postings FIRST (only
    * query-term postings are ever aggregated); document lengths and N /
    * avgdl are one partial-agg pass; df comes from the pruned postings.
    * The per-(query, doc) score sum partial-aggregates, and the top-k is
    * a two-phase `row_number ≤ k` on the high-cardinality query key.
    * Returns `(qid, doc, score, rk)`. */
  def bm25TopK(corpus: DataFrame, id: Column, text: Column,
      queries: DataFrame, qid: Column, qtext: Column, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k must be positive, got $k")
    val q = queries.select(qid.as("qid"), explode(tokens(qtext)).as("t"))
      .distinct()
    val qb = broadcast(q)
    val qterms = broadcast(q.select("t").distinct())
    // postings for query terms only: (t, doc, tf) — pruned BEFORE any agg
    val postings = corpus.select(id.as("doc"), explode(tokens(text)).as("t"))
      .join(qterms, Seq("t"))
      .groupBy("t", "doc").agg(count(lit(1)).as("tf"))
    val lens = corpus.select(id.as("doc"),
      size(tokens(text)).cast("double").as("dl"))
    val stats = broadcast(lens.agg(count(lit(1)).cast("double").as("nn"),
      avg(col("dl")).as("avgdl")))
    val dfreq = broadcast(postings.groupBy("t")
      .agg(countDistinct(col("doc")).cast("double").as("df")))
    val idf = log(lit(1.0) +
      (col("nn") - col("df") + 0.5) / (col("df") + 0.5))
    val tfNorm = col("tf") * (lit(k1) + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    postings
      .join(lens, Seq("doc"))
      .crossJoin(stats)
      .join(dfreq, Seq("t"))
      .join(qb, Seq("t"))
      .groupBy("qid", "doc")
      .agg(round(sum(idf * tfNorm), 6).as("score"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("doc"))))
      .filter(col("rk") <= k)
  }

  /** Reciprocal Rank Fusion (Cormack et al. 2009) — the standard hybrid-
    * retrieval combiner: given two ranked candidate lists per query (e.g.
    * [[bm25TopK]] lexical and [[graft.ops.Similarity.annJoin]] vector),
    * fuse by `Σ_lists 1/(c + rank)` and re-rank. Rank-based, so the two
    * lists' incomparable score scales never meet; c=60 is the paper's
    * constant. Both inputs carry `(qid, doc, rk)`; a doc present in one
    * list only contributes that list's term (the standard convention).
    * Fused scores are 6-decimal rounded and the final rank orders by the
    * ROUNDED score (doc tie-break) — cross-engine deterministic.
    *
    * Scale shape: inputs are already top-k-per-query sized (k·|Q| rows);
    * one union + one per-(query,doc) partial agg + the two-phase rank. */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, c: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0 && c > 0, s"k and c must be positive, got k=$k c=$c")
    def side(df: DataFrame) = df.select(col("qid"), col("doc"), col("rk"))
    // each 1/(c+rank) term quantizes to the 1e-6 integer grid BEFORE the
    // sum (ExactRound): the raw double Σ is summation-order-dependent
    // (the q157/q169 hazard class) and rounding it rounds an IEEE sum —
    // the integer path is order-free and engine-exact
    side(a).unionByName(side(b))
      .groupBy("qid", "doc")
      .agg(sum(ExactRound.gridMicroCol(lit(1L), lit(c.toLong) + col("rk"), 6))
        .as("__su"))
      .select(col("qid"), col("doc"),
        (col("__su").cast("double") / 1e6).as("score"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("doc"))))
      .filter(col("rk") <= k)
  }

  /** Type-token ratio: vocabulary richness, low values = repetitive text. */
  def typeTokenRatio(c: Column): Column =
    size(distinctTokens(c)).cast("double") / size(tokens(c))

  /** [[typeTokenRatio]] on the exact 1e-6 integer grid ([[ExactRound]]) —
    * sum/average THIS (order-free BIGINT), never a double ratio. */
  def typeTokenRatioMicro(c: Column): Column =
    ExactRound.gridMicroCol(size(distinctTokens(c)), size(tokens(c)), 6)

  /** Mean token length in characters. */
  def avgWordLen(c: Column): Column =
    aggregate(tokens(c), lit(0L), (acc, w) => acc + length(w)).cast("double") /
      size(tokens(c))

  /** Number of tokens found in `words`. */
  def countInSet(c: Column, words: Seq[String]): Column =
    size(filter(tokens(c), t => t.isin(words.map(x => x: Any): _*)))

  val EnglishStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  // ---- Gopher document-quality rules (Rae et al. 2021, Table A1 — the
  // non-repetition half; the repetition half is dupNgramFraction /
  // dupLineFraction / topNgramCharFraction) ------------------------------

  /** Occurrences of literal `sym` per word — Gopher's symbol-to-word rule
    * (hash and ellipsis screens). Pure codegen'd counting: occurrence
    * count = length delta / |sym|, one division. */
  def symbolWordRatio(c: Column, sym: String): Column =
    ((length(c) - length(regexp_replace(c,
      java.util.regex.Pattern.quote(sym), ""))) / lit(sym.length))
      .cast("double") / size(tokens(c))

  /** DuckDB twin of [[symbolWordRatio]] (non-regex replace — same count). */
  def symbolWordRatioSql(col: String, sym: String): String =
    s"""((length($col) - length(replace($col, '$sym', ''))) // ${sym.length})::DOUBLE
       | / len(str_split($col, ' '))""".stripMargin.replace("\n", "")

  /** Fraction of words containing at least one ASCII letter — Gopher's
    * "80 % of words must have an alphabetic character" screen. */
  def alphaWordFraction(c: Column): Column =
    size(filter(tokens(c), w => w.rlike("[a-zA-Z]"))).cast("double") /
      size(tokens(c))

  def alphaWordFractionSql(col: String): String =
    s"""len(list_filter(str_split($col, ' '),
       | w -> regexp_matches(w, '[a-zA-Z]')))::DOUBLE
       | / len(str_split($col, ' '))""".stripMargin.replace("\n", "")

  // ---- ExactRound (r12) twins: same ratios rounded half-up in integer
  // space — use THESE whenever the fraction reaches a query OUTPUT; the
  // raw-double forms above stay for threshold gates (single-division
  // comparisons are engine-safe, round() over the quotient is not) ------

  /** [[avgWordLen]] on the exact 1e-6 integer grid ([[ExactRound]]) —
    * sum/average THIS (order-free BIGINT), never a double ratio; the
    * per-row twin of [[typeTokenRatioMicro]]. */
  def avgWordLenMicro(c: Column): Column =
    ExactRound.gridMicroCol(
      aggregate(tokens(c), lit(0L), (acc, w) => acc + length(w)),
      size(tokens(c)), 6)

  /** DuckDB twin of [[avgWordLenMicro]]. */
  def avgWordLenMicroSql(col: String): String =
    ExactRound.gridMicroSql(
      s"list_sum(list_transform(str_split($col, ' '), w -> length(w)::BIGINT))",
      s"len(str_split($col, ' '))", 6)

  /** DuckDB twin of [[typeTokenRatioMicro]]. */
  def typeTokenRatioMicroSql(col: String): String =
    ExactRound.gridMicroSql(
      s"len(list_distinct(str_split($col, ' ')))",
      s"len(str_split($col, ' '))", 6)

  def avgWordLenR6(c: Column): Column =
    ExactRound.ratioRoundedCol(
      aggregate(tokens(c), lit(0L), (acc, w) => acc + length(w)),
      size(tokens(c)), 6)

  def avgWordLenR6Sql(col: String): String =
    ExactRound.ratioRoundedSql(
      s"list_sum(list_transform(str_split($col, ' '), w -> length(w)::BIGINT))",
      s"len(str_split($col, ' '))", 6)

  def symbolWordRatioR6(c: Column, sym: String): Column =
    ExactRound.ratioRoundedCol(
      call_function("div",
        (length(c) - length(regexp_replace(c,
          java.util.regex.Pattern.quote(sym), ""))).cast("long"),
        lit(sym.length.toLong)),
      size(tokens(c)), 6)

  def symbolWordRatioR6Sql(col: String, sym: String): String =
    ExactRound.ratioRoundedSql(
      s"(length($col) - length(replace($col, '$sym', ''))) // ${sym.length}",
      s"len(str_split($col, ' '))", 6)

  def alphaWordFractionR6(c: Column): Column =
    ExactRound.ratioRoundedCol(
      size(filter(tokens(c), w => w.rlike("[a-zA-Z]"))),
      size(tokens(c)), 6)

  def alphaWordFractionR6Sql(col: String): String =
    ExactRound.ratioRoundedSql(
      s"len(list_filter(str_split($col, ' '), w -> regexp_matches(w, '[a-zA-Z]')))",
      s"len(str_split($col, ' '))", 6)

  /** Fraction of lines starting with a bullet glyph (Gopher: drop when
    * > 90 % — listing pages). */
  def bulletLineFraction(c: Column, sep: String = "\n"): Column =
    size(filter(split(c, sep), l => trim(l).rlike("^[-*•]")))
      .cast("double") / size(split(c, sep))

  def bulletLineFractionSql(col: String, sepSql: String = "chr(10)"): String =
    s"""len(list_filter(str_split($col, $sepSql),
       | l -> regexp_matches(trim(l), '^[-*•]')))::DOUBLE
       | / len(str_split($col, $sepSql))""".stripMargin.replace("\n", "")

  /** Fraction of lines ending in an ellipsis (Gopher: drop when > 30 % —
    * truncated-preview pages). */
  def ellipsisLineFraction(c: Column, sep: String = "\n"): Column =
    size(filter(split(c, sep), l => trim(l).rlike("(\\.\\.\\.|…)$")))
      .cast("double") / size(split(c, sep))

  def ellipsisLineFractionSql(col: String, sepSql: String = "chr(10)"): String =
    s"""len(list_filter(str_split($col, $sepSql),
       | l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$')))::DOUBLE
       | / len(str_split($col, $sepSql))""".stripMargin.replace("\n", "")

  /** The composed Gopher document gate — every Table A1 non-repetition
    * rule ANDed, thresholds parameterized (paper defaults; `minWords` is
    * the knob test-scale corpora lower). Word count, mean word length,
    * '#' and '…' symbol ratios, bullet/ellipsis line fractions, alphabetic
    * word share, and the stop-word floor ([[countInSet]] over
    * [[EnglishStopwords]]). Each input is a fused per-row expression, so
    * the whole gate is one codegen'd CASE — zero shuffle. */
  def gopherQualityOk(c: Column, minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
      minStopWords: Int = 2): Column =
    tokenCount(c).between(minWords, maxWords) &&
      avgWordLen(c).between(minMeanLen, maxMeanLen) &&
      symbolWordRatio(c, "#") <= maxSymbolRatio &&
      symbolWordRatio(c, "…") <= maxSymbolRatio &&
      bulletLineFraction(c) <= maxBulletFrac &&
      ellipsisLineFraction(c) <= maxEllipsisFrac &&
      alphaWordFraction(c) >= minAlphaFrac &&
      countInSet(c, EnglishStopwords) >= minStopWords

  /** DuckDB twin of [[gopherQualityOk]]. */
  def gopherQualityOkSql(col: String, minWords: Int = 50,
      maxWords: Int = 100000, minMeanLen: Double = 3.0,
      maxMeanLen: Double = 10.0, maxSymbolRatio: Double = 0.1,
      maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
      minAlphaFrac: Double = 0.8, minStopWords: Int = 2): String = {
    val n = s"len(str_split($col, ' '))"
    val meanLen = s"(list_sum(list_transform(str_split($col, ' '), " +
      s"w -> length(w)::BIGINT))::DOUBLE / $n)"
    val stops = EnglishStopwords.map(w => s"'$w'").mkString(", ")
    val nStop = s"len(list_filter(str_split($col, ' '), w -> w IN ($stops)))"
    s"""($n BETWEEN $minWords AND $maxWords
       | AND $meanLen BETWEEN $minMeanLen AND $maxMeanLen
       | AND (${symbolWordRatioSql(col, "#")}) <= $maxSymbolRatio
       | AND (${symbolWordRatioSql(col, "…")}) <= $maxSymbolRatio
       | AND (${bulletLineFractionSql(col)}) <= $maxBulletFrac
       | AND (${ellipsisLineFractionSql(col)}) <= $maxEllipsisFrac
       | AND (${alphaWordFractionSql(col)}) >= $minAlphaFrac
       | AND $nStop >= $minStopWords)""".stripMargin.replace("\n", "")
  }

  /** Language markers for the n-gram/stopword language-ID heuristic. Order is
    * the deterministic tie-break (first wins). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a"),
    "es" -> Seq("el", "la", "los"),
    "de" -> Seq("der", "die", "das"),
    "fr" -> Seq("le", "les", "des"))

  /** Heuristic language-ID: argmax of marker-word hit counts, `und` when no
    * marker hits. Deterministic tie-break by [[LangMarkers]] order. */
  def langId(c: Column): Column = {
    val scores = LangMarkers.map { case (lang, words) => lang -> countInSet(c, words) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((lang, score), acc) =>
      when(score === best && score > 0, lang).otherwise(acc)
    }
  }

  /** DuckDB twin of [[langId]] (oracle construction). */
  def langIdSql(col: String): String = {
    def score(words: Seq[String]) =
      s"len(list_filter(str_split($col, ' '), t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))"
    val defs = TextAnalysis.LangMarkers.map { case (l, ws) => l -> score(ws) }
    val best = s"greatest(${defs.map(_._2).mkString(", ")})"
    defs.foldRight("'und'") { case ((lang, s), acc) =>
      s"CASE WHEN $s = $best AND $s > 0 THEN '$lang' ELSE $acc END"
    }
  }

  // ---- trained hashed Naive Bayes classifier (the CCNet/LLaMA fastText
  // gate re-expressed: supervised lang-ID / quality classification from a
  // labeled seed — distinct from the marker heuristic [[langId]] and from
  // DSIR's binary importance weights) --------------------------------------

  /** Fitted model: per-class priors, per-(bucket,class) token
    * log-likelihoods and per-class unseen-bucket scores, all rounded ONCE
    * to integer micro-nats (the [[graft.ops.Sampling.dsirScoreTable]]
    * discipline — document scores become exact BIGINT sums, order- and
    * partition-independent; the residual ln-ulp hazard is the same and
    * documented there). Driver-sized BY CONSTRUCTION: ≤ nBuckets·|classes|
    * entries (feature hashing's fixed-size-model property; same contract
    * as centroids/codebooks/DSIR tables). */
  final case class NbModel(labels: Seq[String], priorsU: Map[String, Long],
      scoresU: Map[Long, Map[String, Long]], missU: Map[String, Long],
      nBuckets: Int, seed: Int)

  /** Fit a hashed multinomial Naive Bayes classifier on a labeled corpus:
    * tokens hash into `nBuckets` buckets; per class c and bucket b the
    * model stores add-one-smoothed `ln((count(b,c)+1)/(N_c+B))`, plus the
    * unseen-bucket score `ln(1/(N_c+B))` and the doc-frequency prior
    * `ln(n_c/n)`.
    *
    * Scale shape: ONE corpus scan — the count aggregation collapses
    * map-side into ≤ nBuckets·|classes| partial rows (the hashing cap is
    * the driver-memory contract, enforced), plus a per-class doc count.
    * Fit offline, then score batches ([[nbPredict]]) or streams (the
    * model is a broadcast constant — stateless scoring, the
    * [[graft.streaming.DsirStream]] shape). */
  def nbFit(df: DataFrame, label: Column, text: Column,
      nBuckets: Int = 1 << 18, seed: Int = 11): NbModel = {
    require(nBuckets > 0 && nBuckets <= (1 << 22),
      s"nBuckets must be in [1, 2^22], got $nBuckets")
    val B = nBuckets.toLong
    def u(x: Double): Long =
      BigDecimal(1e6 * x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val counts = df
      .select(label.cast("string").as("__l"), explode(tokens(text)).as("__t"))
      .groupBy(col("__l"),
        pmod(PortableHash.md5Long(col("__t"), seed), lit(B)).as("__b"))
      .agg(count(lit(1)).as("__c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val docCounts = df.groupBy(label.cast("string").as("__l"))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // UTF-8 BYTE order, not Java's UTF-16 code-unit sort: the batch twin
    // tie-breaks via sort_array over UTF8String structs (binary UTF-8
    // comparison), and the two orders disagree for labels containing
    // U+E000..U+FFFF vs supplementary-plane characters — one collation
    // for every path (advisor, r11)
    val labels = docCounts.keys.toSeq.sortWith { (a, b) =>
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      var r = 0
      while (r == 0 && i < x.length && i < y.length) {
        r = (x(i) & 0xff) - (y(i) & 0xff); i += 1
      }
      if (r != 0) r < 0 else x.length < y.length
    }
    val nDocs = docCounts.valuesIterator.sum.toDouble
    val totals = counts.groupBy(_._1).map { case (l, xs) => l -> xs.map(_._3).sum }
    val priorsU = docCounts.map { case (l, n) => l -> u(math.log(n / nDocs)) }
    val missU = labels.map(l =>
      l -> u(math.log(1.0 / (totals.getOrElse(l, 0L) + B)))).toMap
    val scoresU = counts.groupBy(_._2).map { case (b, xs) =>
      b -> xs.map { case (l, _, c) =>
        l -> u(math.log((c + 1.0) / (totals(l) + B))) }.toMap
    }
    NbModel(labels, priorsU, scoresU, missU, nBuckets, seed)
  }

  /** Score + argmax under a fitted [[NbModel]]: per document,
    * `prior(c) + Σ_tokens score(bucket, c)` (unseen buckets contribute the
    * per-class miss score), predicted class = argmax with deterministic
    * (score desc, label asc) tie-break. Returns `(id, pred)`. Total for
    * every non-NULL text (an empty string still tokenizes to one unseen
    * token and scores by prior + miss); NULL-text rows produce no grams
    * and are absent (the repo's standard convention).
    *
    * Scale shape: one scan, ZERO non-broadcast joins — explode grams ×
    * (broadcast constant-size class list), broadcast LEFT join against
    * the dense model folds the miss score via coalesce, then two partial
    * aggregations: per-(doc, class) score sum, per-doc argmax as the
    * partial-aggregable `min(struct(-score, label))` — never a window,
    * never a sort-merge join (PlanSpec-pinned). The shuffle carries at
    * most |classes| partial rows per document. */
  /** Per-(doc, label) integer micro-nat scores — the shared scoring chain
    * of [[nbPredict]] / [[nbPredictWithMargin]]. Returns (id, __l,
    * __score). */
  private def nbScores(docs: DataFrame, id: Column, text: Column,
      m: NbModel): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val B = m.nBuckets.toLong
    val dense = m.scoresU.toSeq.flatMap { case (b, per) =>
      m.labels.map(l => (b, l, per.getOrElse(l, m.missU(l)))) }
    val model = broadcast(dense.toDF("__b", "__l", "__w"))
    val labelsDf = broadcast(
      m.labels.map(l => (l, m.priorsU(l), m.missU(l)))
        .toDF("__l", "__prior", "__miss"))
    docs.select(id.as("id"), explode(tokens(text)).as("__t"))
      .select(col("id"),
        pmod(PortableHash.md5Long(col("__t"), m.seed), lit(B)).as("__b"))
      .crossJoin(labelsDf.select("__l", "__miss"))
      .join(model, Seq("__b", "__l"), "left")
      .groupBy("id", "__l")
      .agg(sum(coalesce(col("__w"), col("__miss"))).as("__sw"))
      .join(labelsDf.select("__l", "__prior"), Seq("__l"))
      .select(col("id"), col("__l"),
        (col("__prior") + col("__sw")).as("__score"))
  }

  def nbPredict(docs: DataFrame, id: Column, text: Column,
      m: NbModel): DataFrame =
    nbScores(docs, id, text, m)
      .groupBy("id")
      .agg(min(struct((-col("__score")).as("n"), col("__l").as("l"))).as("__best"))
      .select(col("id"), col("__best").getField("l").as("pred"))

  /** [[nbPredict]] plus the CONFIDENCE MARGIN — best minus second-best
    * class score in exact integer micro-nats. This is the number CCNet's
    * fastText gate thresholds (drop/route-to-"und" documents the
    * classifier isn't sure about): unlike a softmax probability it needs
    * no exp() (cross-engine transcendental hazard) and orders candidates
    * identically. `margin_u` is NULL for a single-label model. The final
    * agg collects |labels| structs per doc (labels are few by the
    * model's contract — the same bound the broadcast model already
    * assumes) and sorts them — partials combine by concatenation, no
    * window. */
  def nbPredictWithMargin(docs: DataFrame, id: Column, text: Column,
      m: NbModel): DataFrame =
    nbScores(docs, id, text, m)
      .groupBy("id")
      .agg(sort_array(collect_list(struct((-col("__score")).as("n"),
        col("__l").as("l")))).as("__ss"))
      .select(col("id"),
        element_at(col("__ss"), 1).getField("l").as("pred"),
        when(size(col("__ss")) >= 2,
          element_at(col("__ss"), 2).getField("n")
            - element_at(col("__ss"), 1).getField("n"))
          .otherwise(lit(null).cast("long")).as("margin_u"))

  /** Per-row JVM twin of [[nbPredict]] for streaming scoring
    * ([[graft.streaming.NbStream]]): identical bucket hashing, identical
    * integer micro-nat sums (commutative BIGINT addition — order cannot
    * matter), identical (score desc, label asc) argmax. Returns null for
    * null text (the batch op's absent-row convention — stream callers
    * filter). */
  def nbPredictTextJvm(text: String, m: NbModel): String = {
    if (text == null) return null
    val labels = m.labels
    val scores = new Array[Long](labels.length)
    var i = 0
    while (i < labels.length) { scores(i) = m.priorsU(labels(i)); i += 1 }
    val miss = labels.map(m.missU).toArray
    val toks = text.split(" ", -1)
    var t = 0
    while (t < toks.length) {
      val b = PortableHash.Jvm.md5Long60(toks(t), m.seed) % m.nBuckets
      m.scoresU.get(b) match {
        case Some(per) =>
          var j = 0
          while (j < labels.length) {
            scores(j) += per.getOrElse(labels(j), miss(j)); j += 1
          }
        case None =>
          var j = 0
          while (j < labels.length) { scores(j) += miss(j); j += 1 }
      }
      t += 1
    }
    // labels are sorted asc; strict > keeps the first (asc) on ties
    var best = 0
    var j = 1
    while (j < labels.length) { if (scores(j) > scores(best)) best = j; j += 1 }
    labels(best)
  }

  /** Per-row JVM twin of [[nbPredictWithMargin]] — identical scoring to
    * [[nbPredictTextJvm]] plus the best-vs-second micro-nat gap under the
    * same (score desc, label asc) order; `None` margin for a single-label
    * model, null text → null (the streaming caller filters). */
  def nbPredictMarginTextJvm(text: String,
      m: NbModel): (String, Option[Long]) = {
    if (text == null) return null
    val labels = m.labels
    val scores = new Array[Long](labels.length)
    var i = 0
    while (i < labels.length) { scores(i) = m.priorsU(labels(i)); i += 1 }
    val miss = labels.map(m.missU).toArray
    val toks = text.split(" ", -1)
    var t = 0
    while (t < toks.length) {
      val b = PortableHash.Jvm.md5Long60(toks(t), m.seed) % m.nBuckets
      m.scoresU.get(b) match {
        case Some(per) =>
          var j = 0
          while (j < labels.length) {
            scores(j) += per.getOrElse(labels(j), miss(j)); j += 1
          }
        case None =>
          var j = 0
          while (j < labels.length) { scores(j) += miss(j); j += 1 }
      }
      t += 1
    }
    var best = 0
    var j = 1
    while (j < labels.length) { if (scores(j) > scores(best)) best = j; j += 1 }
    if (labels.length < 2) (labels(best), None)
    else {
      // second = the (score desc, label asc) order's next element: strict >
      // among the non-best keeps the smaller label on ties, matching the
      // Column path's sorted struct array exactly
      var second = if (best == 0) 1 else 0
      j = 0
      while (j < labels.length) {
        if (j != best && scores(j) > scores(second)) second = j
        j += 1
      }
      (labels(best), Some(scores(best) - scores(second)))
    }
  }

  /** DuckDB twin of [[nbFit]] + [[nbPredict]] (oracle construction): a CTE
    * chain ending in `nb_pred(id, pred)`. Identical count, smoothing,
    * micro-nat rounding and (score desc, label asc) argmax arithmetic. */
  def nbSql(trainTable: String, labelCol: String, textCol: String,
      testTable: String, idCol: String, nBuckets: Int,
      seed: Int = 11): String =
    s"""__nbtt AS (SELECT $labelCol AS l, u.t AS t
         FROM $trainTable,
         LATERAL (SELECT unnest(str_split($textCol, ' ')) AS t) u),
       __nbcnt AS (SELECT l, (${PortableHash.md5LongSql("t", seed)}) % $nBuckets AS b,
           count(*) AS c
         FROM __nbtt GROUP BY 1, 2),
       __nbtot AS (SELECT l, sum(c) AS nc FROM __nbcnt GROUP BY 1),
       __nbdc AS (SELECT $labelCol AS l, count(*) AS n
         FROM $trainTable GROUP BY 1),
       __nbn AS (SELECT sum(n) AS n FROM __nbdc),
       __nblb AS (SELECT d.l,
           CAST(round(1e6 * ln(d.n::DOUBLE
             / (SELECT n FROM __nbn)::DOUBLE)) AS BIGINT) AS pu,
           CAST(round(1e6 * ln(1::DOUBLE
             / (coalesce(t.nc, 0) + $nBuckets)::DOUBLE)) AS BIGINT) AS mu
         FROM __nbdc d LEFT JOIN __nbtot t USING (l)),
       __nbw AS (SELECT c.b, c.l,
           CAST(round(1e6 * ln((c.c + 1)::DOUBLE
             / (t.nc + $nBuckets)::DOUBLE)) AS BIGINT) AS wu
         FROM __nbcnt c JOIN __nbtot t USING (l)),
       __nbtb AS (SELECT $idCol AS id,
           (${PortableHash.md5LongSql("u.t", seed)}) % $nBuckets AS b
         FROM $testTable,
         LATERAL (SELECT unnest(str_split($textCol, ' ')) AS t) u),
       __nbsc AS (SELECT tb.id, lb.l, lb.pu + sum(coalesce(w.wu, lb.mu)) AS score
         FROM __nbtb tb CROSS JOIN __nblb lb
         LEFT JOIN __nbw w ON w.b = tb.b AND w.l = lb.l
         GROUP BY tb.id, lb.l, lb.pu),
       nb_pred AS (SELECT id, l AS pred FROM (
           SELECT id, l,
             row_number() OVER (PARTITION BY id ORDER BY score DESC, l) AS rn
           FROM __nbsc) WHERE rn = 1)"""

  /** Normalized-content fingerprint (exact-dup key): md5 of lowercased,
    * trimmed text. */
  def fingerprint(c: Column): Column = md5(lower(trim(c)))

  /** Character-order-sensitive rolling-hash fingerprint — the native
    * codegen'd [[graft.functions.RollingHash]]: one O(L) codepoint pass
    * (the composable fold it replaced did O(L²) per-char substrs). Built
    * directly from the expression, NOT via the function registry — a bare
    * Column carries no session to register against, so this must resolve
    * on ANY session (same rule as [[graft.ops.Dedup.shingles]]). */
  def rollingFingerprint(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.RollingHash(
        org.apache.spark.sql.GraftColumnBridge.expression(c)))

  /** Duplicate n-gram fraction — the phrase-level repetition signal the
    * unigram [[typeTokenRatio]] misses (a document alternating two long
    * sentences has healthy TTR but ~1.0 here): 1 − distinct/total n-gram
    * slots. The standard boilerplate/spam quality rule for corpus
    * filtering. Texts shorter than n tokens have no n-gram slots and score
    * 0 by convention (both twins guard this explicitly — the Spark shingle
    * expression falls back to [text] there while the SQL twin yields an
    * empty list, which would otherwise disagree). Pure codegen'd
    * projection over the scan. */
  def dupNgramFraction(c: Column, n: Int): Column = {
    val ntok = tokenCount(c)
    when(ntok < n, lit(0.0)).otherwise(
      lit(1.0) - size(graft.ops.Dedup.shingles(c, n)).cast("double")
        / (ntok - (n - 1)).cast("double"))
  }

  /** [[dupNgramFraction]] on the exact 1e-6 integer grid ([[ExactRound]]):
    * `(slots − distinct)/slots` half-up in BIGINT — sum/avg/max THIS when
    * the fraction reaches an output. */
  def dupNgramFractionMicro(c: Column, n: Int): Column = {
    val slots = tokenCount(c) - (n - 1)
    when(tokenCount(c) < n, lit(0L)).otherwise(
      ExactRound.gridMicroCol(
        slots - size(graft.ops.Dedup.shingles(c, n)), slots, 6))
  }

  /** DuckDB twin of [[dupNgramFractionMicro]]. */
  def dupNgramFractionMicroSql(col: String, n: Int): String = {
    val slots = s"(len(str_split($col, ' ')) - ${n - 1})"
    s"""CASE WHEN len(str_split($col, ' ')) < $n THEN 0
       | ELSE ${ExactRound.gridMicroSql(
            s"$slots - len(${graft.ops.Dedup.shinglesSql(col, n)})",
            slots, 6)} END""".stripMargin.replace("\n", "")
  }

  /** DuckDB twin of [[dupNgramFraction]] (oracle construction). */
  def dupNgramFractionSql(col: String, n: Int): String =
    s"""CASE WHEN len(str_split($col, ' ')) < $n THEN 0.0
       | ELSE 1.0 - len(${graft.ops.Dedup.shinglesSql(col, n)})::DOUBLE
       |   / (len(str_split($col, ' ')) - ${n - 1}) END""".stripMargin
      .replace("\n", "")

  /** Duplicate LINE fraction — Gopher's structural repetition signal (Rae
    * et al. 2021, Table A1): the share of a document's lines that are
    * repeats of an earlier line, `(n_lines − n_distinct) / n_lines`
    * ("occurrences beyond the first" — a line appearing 3× contributes 2).
    * Catches templated/scraped pages whose repetition is line-granular
    * (navigation, headers, listings) and invisible to word-n-gram rules
    * once the lines are long. Pure codegen'd projection; a text with no
    * separator is one line and scores 0. */
  def dupLineFraction(c: Column, sep: String = "\n"): Column = {
    val lines = split(c, sep)
    (size(lines) - size(array_distinct(lines))).cast("double") /
      size(lines).cast("double")
  }

  /** DuckDB twin of [[dupLineFraction]]; `sepSql` is a SQL expression
    * (default the newline char — DuckDB literals don't escape `\n`). */
  def dupLineFractionSql(col: String, sepSql: String = "chr(10)"): String =
    s"""(len(str_split($col, $sepSql)) -
       | len(list_distinct(str_split($col, $sepSql))))::DOUBLE
       | / len(str_split($col, $sepSql))""".stripMargin.replace("\n", "")

  /** Duplicate line CHARACTER fraction — Gopher's char-weighted companion
    * to [[dupLineFraction]]: chars inside repeated line occurrences over
    * all line chars, `(Σ len(line) − Σ len(distinct lines)) / Σ len(line)`.
    * Weighting by length separates a page that repeats one short divider
    * (harmless) from one that repeats whole paragraphs (boilerplate). Text
    * whose lines are all empty has no line chars and scores 0 by
    * convention (both twins guard the 0/0). Integer sums, one final IEEE
    * division — cross-engine exact. */
  def dupLineCharFraction(c: Column, sep: String = "\n"): Column = {
    val lines = split(c, sep)
    val tot = aggregate(transform(lines, l => length(l).cast("long")),
      lit(0L), _ + _)
    val dis = aggregate(
      transform(array_distinct(lines), l => length(l).cast("long")),
      lit(0L), _ + _)
    when(tot === 0, lit(0.0))
      .otherwise((tot - dis).cast("double") / tot.cast("double"))
  }

  /** DuckDB twin of [[dupLineCharFraction]]. */
  def dupLineCharFractionSql(col: String, sepSql: String = "chr(10)"): String = {
    def chars(l: String) =
      s"list_sum(list_transform($l, x -> length(x)::BIGINT))"
    val tot = chars(s"str_split($col, $sepSql)")
    val dis = chars(s"list_distinct(str_split($col, $sepSql))")
    s"""CASE WHEN coalesce($tot, 0) = 0 THEN 0.0
       | ELSE ($tot - $dis)::DOUBLE / $tot END""".stripMargin.replace("\n", "")
  }

  /** [[dupLineFraction]] ROUNDED on the 10^k grid in integer space
    * (ExactRound — the count rationals must never round an IEEE quotient;
    * r13 census migration of q200). `str_split` never returns an empty
    * list, so the denominator is always positive. */
  def dupLineFractionRounded(c: Column, sep: String = "\n",
      k: Int = 6): Column = {
    val lines = split(c, sep)
    ExactRound.ratioRoundedCol(
      (size(lines) - size(array_distinct(lines))).cast("long"),
      size(lines).cast("long"), k)
  }

  /** DuckDB twin of [[dupLineFractionRounded]]. */
  def dupLineFractionRoundedSql(col: String, sepSql: String = "chr(10)",
      k: Int = 6): String =
    ExactRound.ratioRoundedSql(
      s"(len(str_split($col, $sepSql)) - " +
        s"len(list_distinct(str_split($col, $sepSql))))",
      s"len(str_split($col, $sepSql))", k)

  /** [[dupLineCharFraction]] ROUNDED on the 10^k grid in integer space;
    * the all-empty-lines 0/0 keeps the op's 0.0 convention. */
  def dupLineCharFractionRounded(c: Column, sep: String = "\n",
      k: Int = 6): Column = {
    val lines = split(c, sep)
    val tot = aggregate(transform(lines, l => length(l).cast("long")),
      lit(0L), _ + _)
    val dis = aggregate(
      transform(array_distinct(lines), l => length(l).cast("long")),
      lit(0L), _ + _)
    coalesce(ExactRound.ratioRoundedCol(tot - dis, tot, k), lit(0.0))
  }

  /** DuckDB twin of [[dupLineCharFractionRounded]]. */
  def dupLineCharFractionRoundedSql(col: String,
      sepSql: String = "chr(10)", k: Int = 6): String = {
    def chars(l: String) =
      s"coalesce(list_sum(list_transform($l, x -> length(x)::BIGINT)), 0)"
    val tot = chars(s"str_split($col, $sepSql)")
    val dis = chars(s"list_distinct(str_split($col, $sepSql))")
    s"COALESCE(${ExactRound.ratioRoundedSql(s"($tot - $dis)", tot, k)}, 0.0)"
  }

  /** Gopher's line-repetition gate: keep when duplicate-line fraction ≤
    * 0.30 AND duplicate-line char fraction ≤ 0.20 (the paper's removal
    * thresholds). Composes with [[dupNgramFraction]] /
    * [[topNgramCharFraction]] for the full repetition rule set. */
  def gopherLineRepetitionOk(c: Column, sep: String = "\n"): Column =
    dupLineFraction(c, sep) <= 0.30 && dupLineCharFraction(c, sep) <= 0.20

  /** DuckDB twin of [[gopherLineRepetitionOk]]. */
  def gopherLineRepetitionOkSql(col: String, sepSql: String = "chr(10)"): String =
    s"(${dupLineFractionSql(col, sepSql)}) <= 0.30 AND " +
      s"(${dupLineCharFractionSql(col, sepSql)}) <= 0.20"

  /** All word n-gram SLOTS of a text (with duplicates, in order) — the
    * occurrence-counting companion to [[graft.ops.Dedup.shingles]]' distinct
    * sets. Texts shorter than n tokens have no slots (empty array).
    * Native one-pass expression by default ([[graft.functions.NgramSlots]]
    * — each slot is a substring of the source, no per-token concat; the
    * composable lambda twin re-splits the text per slot, the same
    * higher-order-function trap `word_shingles` documents). Built directly
    * from the expression so it resolves on any session. */
  def ngramSlots(c: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.NgramSlots(
        org.apache.spark.sql.GraftColumnBridge.expression(c), n))

  /** WINNOWING fingerprint selection (Schleimer et al., SIGMOD'03 — the
    * MOSS algorithm): hash every token k-gram, slide a w-wide window over
    * the hash sequence, select each window's MINIMUM hash, dedup. The
    * guarantee that makes it the partial-overlap primitive: any shared
    * token run of length ≥ w+k−1 contributes at least one SHARED
    * selected print, so overlap detection runs on the ~|grams|/w-sized
    * print sets instead of full gram sets (spec-pinned on a planted
    * shared run). Tie rule: value-min rather than Schleimer's
    * rightmost-min — 60-bit md5-derived hashes tie with probability
    * ~2⁻⁶⁰ and BOTH engines apply the same rule, so the cross-engine
    * contract stays exact either way.
    *
    * Scale shape: one per-row projection — the gram array is the native
    * `ngram_slots` expression, hashing and the window-min run as array
    * lambdas over it (document-bounded O(grams·w) work, no shuffle, no
    * explode). Fewer than k tokens → no grams → empty print set (the
    * ngramSlots convention); w wider than the gram count → the global
    * min (one print). */
  def winnowedPrints(c: Column, k: Int, w: Int): Column = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(w >= 1, s"w must be >= 1, got $w")
    val hsExpr = transform(ngramSlots(c, k),
      g => graft.functions.PortableHash.md5Long(g, 0))
    // LET-BIND the hash array via a one-element outer transform: a free
    // EXPRESSION inside a lambda re-evaluates per element (the repo's
    // documented higher-order-function trap — as a free variable, the
    // grams×md5 pass would rerun per WINDOW, O(n²·w) per row; measured
    // 3.8 s → 0.6 s on q179 at sf0.1), while a lambda VARIABLE is bound
    // once. The inner lambdas then do O(w) work per window.
    element_at(transform(array(hsExpr), h => {
      val n = size(h)
      when(n === 0, array().cast("array<bigint>"))
        .otherwise(array_distinct(transform(
          sequence(lit(0), greatest(n - w, lit(0))),
          i => array_min(slice(h, i + 1, lit(w))))))
    }), 1)
  }

  /** DuckDB twin of [[winnowedPrints]] (oracle construction). */
  def winnowedPrintsSql(col: String, k: Int, w: Int): String = {
    val ts = s"str_split($col, ' ')"
    val grams = s"CASE WHEN len($ts) >= $k THEN list_transform(" +
      s"generate_series(1, len($ts) - ${k - 1}), " +
      s"i -> array_to_string(($ts)[i:i+${k - 1}], ' ')) " +
      s"ELSE [] END"
    val hs = s"list_transform($grams, g -> " +
      graft.functions.PortableHash.md5LongSql("g", 0) + ")"
    s"""CASE WHEN len($hs) = 0 THEN CAST([] AS BIGINT[])
       | ELSE list_distinct(list_transform(
       |   generate_series(0, greatest(len($hs) - $w, 0)),
       |   i -> list_min(($hs)[i+1:i+$w]))) END""".stripMargin
      .replace("\n", "")
  }

  /** The MOSS overlap MINER over [[winnowedPrints]] — which document
    * pairs share ≥ `minShared` selected prints: plagiarism/quote/mirror
    * detection at print-set scale (~w× smaller than gram sets) instead
    * of gram scale. Blocking is BY PRINT (exactly the LSH-bucket
    * discipline: quadratic only within a print's posting list), and
    * `maxDocsPerPrint` is the stop-print valve — a print appearing in
    * more documents than that is boilerplate by definition and is
    * dropped BEFORE pairing (the q145/q144 frequent-item rule; without
    * it one viral footer pairs the whole corpus). The frequency filter
    * joins on the same key the pairing shuffles on, so it adds no new
    * exchange pattern. Returns (i, j, n_shared), i < j. */
  def winnowedOverlapPairs(df: DataFrame, id: Column, text: Column,
      k: Int, w: Int, minShared: Long = 1L,
      maxDocsPerPrint: Long = Long.MaxValue): DataFrame = {
    require(minShared >= 1L, s"minShared must be >= 1, got $minShared")
    val prints = df.select(id.as("doc"),
      explode(winnowedPrints(text, k, w)).as("p"))
    val keep =
      if (maxDocsPerPrint == Long.MaxValue) prints
      else {
        // prints are distinct per doc (winnowedPrints dedups), so the
        // count IS the document frequency
        val freq = prints.groupBy("p").agg(count(lit(1)).as("__f"))
          .filter(col("__f") <= maxDocsPerPrint).select("p")
        prints.join(freq, "p")
      }
    keep.as("a").join(keep.as("b"),
        col("a.p") === col("b.p") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("i"), col("b.doc").as("j"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Composable twin of [[ngramSlots]] — the executable spec (OpsSpec pins
    * bit-equality); NOT for pipelines (O(L²) re-split per slot). */
  def ngramSlotsComposable(c: Column, n: Int): Column = {
    val toks = tokens(c)
    when(size(toks) < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
  }

  /** DuckDB twin of [[ngramSlots]] construction, as a FROM-clause fragment:
    * callers join `LATERAL (SELECT unnest(generate_series(1, len(ts) - ${n-1})) AS i)`
    * and take `array_to_string(ts[i:i+${n-1}], ' ')`. Kept here as doc —
    * the n-gram string must be built identically in both engines. */

  /** Gopher-style repetition rule: fraction of characters covered by the
    * most frequent word n-gram (count × n-gram length / total chars — the
    * standard simple form; overlapping occurrences can push it past 1 on
    * degenerate inputs, which only strengthens the signal). Returns one row
    * per document: `(id, top_ngram, top_count, frac)`; the top n-gram
    * tie-breaks to the lexicographically smallest, so the answer is
    * deterministic. Distributed shape: ONE zero-shuffle map stage — the
    * per-document gram table is bounded by document size, so the native
    * [[graft.functions.NgramTop]] expression computes (gram, count) in the
    * scan's codegen span; the exploded/windowed formulation survives as
    * [[topNgramCharFractionComposable]], the executable spec (OpsSpec pins
    * equality; speedup measured there too — see the expression's doc). */
  def topNgramCharFraction(df: DataFrame, id: Column, text: Column,
      n: Int): DataFrame = {
    val top = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.NgramTop(
        org.apache.spark.sql.GraftColumnBridge.expression(text), n))
    df.select(id.as("id"), length(text).as("__nc"), top.as("__top"))
      .select(col("id"),
        col("__top.gram").as("top_ngram"),
        col("__top.cnt").as("top_count"),
        when(col("__nc") === 0, lit(0.0)).otherwise(
          ExactRound.ratioRoundedCol(when(col("__top.cnt") === 0, lit(0L))
            .otherwise(col("__top.cnt") * length(col("__top.gram"))),
            col("__nc"), 6)).as("frac"))
  }

  /** The explode → count → top-1-window form of [[topNgramCharFraction]] —
    * the executable spec the native expression is pinned against; NOT the
    * pipeline path (a full exchange + agg + window for per-row-computable
    * state). */
  def topNgramCharFractionComposable(df: DataFrame, id: Column, text: Column,
      n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(id.as("id"), explode(ngramSlots(text, n)).as("gram"))
      .groupBy("id", "gram").agg(count(lit(1)).as("cnt"))
    val top = counts.withColumn("__rn", row_number().over(
        Window.partitionBy("id").orderBy(col("cnt").desc, col("gram"))))
      .filter(col("__rn") === 1).drop("__rn")
    df.select(id.as("id"), length(text).as("__nc"))
      .join(top, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("gram"), lit("")).as("top_ngram"),
        coalesce(col("cnt"), lit(0L)).as("top_count"),
        when(col("__nc") === 0, lit(0.0)).otherwise(
          ExactRound.ratioRoundedCol(
            coalesce(col("cnt") * length(col("gram")), lit(0L)),
            col("__nc"), 6)).as("frac"))
  }

  /** Shannon character entropy per document (bits/char) — the gibberish /
    * encoding-junk / binary-blob detector the length- and word-level
    * quality rules miss (mojibake and base64 walls score normal token
    * counts but extreme entropy; repeated-char padding scores near 0).
    * H = (ln L − Σ c·ln c / L) / ln 2 over per-character counts c — ONE
    * zero-shuffle map stage: per-document counts are bounded state
    * (≤ alphabet size), so the native [[graft.functions.CharEntropy]]
    * expression computes H inside the scan's codegen span; the exploded
    * two-level-agg form survives as [[charEntropyComposable]], the
    * executable spec (OpsSpec pins the rounded equality; speedup measured
    * there — see the expression's doc).
    * Same cross-engine float discipline as [[pmiBigrams]]: natural log +
    * round-6 (log noise is ulps, far below the rounding grid). Empty texts
    * emit NO row, matching the generate_series-based DuckDB twin. */
  def charEntropy(df: DataFrame, id: Column, text: Column): DataFrame = {
    val h = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.CharEntropy(
        org.apache.spark.sql.GraftColumnBridge.expression(text)))
    df.where(length(text) > 0)
      .select(id.as("id"), length(text).cast("long").as("n_chars"),
        round(h, 6).as("entropy"))
  }

  /** The explode-per-character → two-level-agg form of [[charEntropy]] —
    * the executable spec the native expression is pinned against; NOT the
    * pipeline path (an exchange + two agg passes for per-row-computable
    * state). Zero-length characters are filtered so empty texts emit no
    * row (Spark's `split('', '')` yields `['']`). */
  def charEntropyComposable(df: DataFrame, id: Column, text: Column): DataFrame = {
    val counts = df
      .select(id.as("id"), explode(split(text, "")).as("ch"))
      .where(length(col("ch")) > 0)
      .groupBy("id", "ch").agg(count(lit(1)).as("c"))
    counts.groupBy("id")
      .agg(sum("c").as("n_chars"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("__clc"))
      .select(col("id"), col("n_chars"),
        when(col("n_chars") === 0, lit(0.0)).otherwise(
          round((log(col("n_chars").cast("double"))
            - col("__clc") / col("n_chars")) / math.log(2.0), 6)).as("entropy"))
  }

  /** CCNet-style n-gram LM quality scoring (Wenzek et al. 2020 filter web
    * text by the perplexity of a reference-corpus LM; the full system uses
    * a KenLM 5-gram — the shipped 2-gram keeps the identical pipeline shape
    * with cross-engine-exact arithmetic): train an add-k-smoothed bigram LM
    * on `ref`, score every document by per-bigram cross-entropy
    * −Σ ln p(w₂|w₁) / n, and bucket into head/middle/tail terciles (CCNet's
    * split: head = most reference-like, tail = junk candidates).
    *
    * p(w₂|w₁) = (c(w₁w₂) + k) / (c(w₁) + k·V), V = reference vocabulary;
    * unseen bigrams and unseen left-words degrade smoothly to the smoothing
    * floor. Docs with < 2 tokens carry no bigram evidence and score NULL
    * (callers decide; the tercile window ranks them last, deterministically).
    *
    * Shape: two reference count aggs (partial map-side) + one broadcast
    * scalar (V) + one hash join of document bigrams against the bigram
    * table keyed on the pair + one against unigrams — the LM "model" IS
    * those two count tables, distributed, never driver-side; at 100 TB
    * train on a sampled/curated reference slice exactly as CCNet does.
    * Returns per-doc scores only; tercile BUCKETING is the caller's
    * presentation step (q154 uses exact ntile for the oracle — at 100 TB
    * compute the two cutoffs with percentile_approx and CASE-assign
    * instead, the q132/q133 exact-vs-sketch regime). Each slot's
    * log-prob quantizes to integer micro-nats before the per-doc sum
    * (order-free exact BIGINT — the [[stupidBackoff]]/[[klPerGroup]]
    * discipline), then one IEEE division rounds to 6 decimals. */
  def bigramCrossEntropy(docs: DataFrame, id: Column, text: Column,
      ref: DataFrame, refText: Column, k: Double = 1.0): DataFrame = {
    def pairs(df: DataFrame, cols: Seq[Column], t: Column): DataFrame = {
      val base = df.select(cols :+ tokens(t).as("__toks"): _*)
      val keep = base.columns.dropRight(1).toIndexedSeq.map(col)
      base.select(keep :+ explode(
          when(size(col("__toks")) >= 2,
            transform(sequence(lit(1), size(col("__toks")) - 1),
              i => struct(element_at(col("__toks"), i).as("w1"),
                element_at(col("__toks"), i + 1).as("w2"))))
            .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
          .as("__p"): _*)
        .select(keep ++ Seq(col("__p.w1").as("w1"), col("__p.w2").as("w2")): _*)
    }
    val refUni = ref.select(explode(tokens(refText)).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("__c1"))
    val refBi = pairs(ref, Seq.empty, refText)
      .groupBy("w1", "w2").agg(count(lit(1)).as("__c2"))
    val vocab = refUni.agg(count(lit(1)).cast("double").as("__v"))
    val docPairs = pairs(docs, Seq(id.as("id")), text)
    // per-slot micro-nat quantization (the stupidBackoff/klPerGroup
    // discipline): an order-free exact BIGINT sum replaces the raw
    // double Σ whose 6th decimal could flip with partition scheduling —
    // the exact hazard class that bit q169 (driver) and q157
    // (in-session) in round 10/11
    val scored = docPairs
      .join(refBi, Seq("w1", "w2"), "left")
      .join(refUni, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("id"),
        round(lit(1e6) *
          (log(coalesce(col("__c2"), lit(0L)).cast("double") + k)
            - log(coalesce(col("__c1"), lit(0L)).cast("double")
              + lit(k) * col("__v")))).cast("long")
          .as("__lpu"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"), (-sum(col("__lpu"))).as("__S"))
      // round BEFORE dividing (ExactRound discipline — the r11 driver
      // flip came from rounding the IEEE quotient's exact .5 ties):
      // xent_micro = half-up(S / n) in BIGINT, then one exact
      // integer-by-1e6 division — identical on every engine
      .withColumn("xent_micro", ExactRound.halfUpDiv("__S", "n_bigrams"))
      .select(col("id"), col("n_bigrams"),
        (col("xent_micro").cast("double") / 1e6).as("cross_entropy"),
        col("xent_micro"))
    docs.select(id.as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("cross_entropy"), col("xent_micro"))
  }

  /** Trigram LM quality scoring with STUPID BACKOFF (Brants et al. 2007,
    * "Large Language Models in Machine Translation" — the web-scale LM
    * score that skips normalization entirely because ranking is all a
    * quality filter needs): one order up from [[bigramCrossEntropy]],
    * closing most of the bigram-vs-KenLM-5-gram gap CCNet documents.
    *
    *   S(w₃|w₁w₂) = c(w₁w₂w₃)/c(w₁w₂)          when the trigram was seen,
    *              = α · c(w₂w₃)/c(w₂)           backing off to the bigram,
    *              = α² · (c(w₃)+1)/(N+V)        at the floor (add-1 unigram
    *                                            — stupid backoff has no OOV
    *                                            story of its own; the floor
    *                                            keeps ln defined for unseen
    *                                            words, deterministically).
    *
    * Every ln argument is an integer count (plus the integer N+V), and the
    * per-slot micro-nat quantization is inherited from [[stupidBackoff]]
    * (order-free BIGINT sums), so the score is cross-engine exact; α
    * enters as `ln α` added per backoff level — the CASE picks a branch
    * on integer comparisons, never on float thresholds.
    *
    * Scale shape, identical to the bigram pipeline: the "model" is three
    * distributed count tables (uni/bi/tri) joined to the document trigram
    * slots — never driver-side; N and V broadcast as one row. Docs shorter
    * than 3 tokens score `(0, null)` through the final left join. */
  def trigramStupidBackoff(docs: DataFrame, id: Column, text: Column,
      ref: DataFrame, refText: Column, alpha: Double = 0.4): DataFrame =
    stupidBackoff(docs, id, text, ref, refText, order = 3, alpha = alpha)
      .withColumnRenamed("n_ngrams", "n_trigrams")

  /** MOORE–LEWIS contrastive data selection (Moore & Lewis 2010, the
    * cross-entropy-difference filter CCNet/fastText-era pipelines use to
    * pull target-domain text out of a general crawl): per document,
    * in-domain cross-entropy MINUS general-domain cross-entropy under
    * the SAME [[stupidBackoff]] ladder — a NEGATIVE difference means the
    * in-domain LM is less surprised than the general LM, i.e. the doc
    * reads more like the target domain than like average crawl text, and
    * the absolute in-domain entropy (which q169's plain filter ranks by)
    * stops punishing rare-but-on-domain documents.
    *
    * Exactness: both entropies are the established integer micro-nat
    * per-doc means, so `ml_micro` is an exact BIGINT difference — no
    * float subtraction crosses the engine boundary; a doc too short to
    * carry an order-n slot scores NULL in BOTH LMs (identical slot
    * grids) and NULL ml. Scale shape: two ladder passes over the same
    * document slots (2·(2·order−1) hash joins against two count-table
    * sets, each built by [[ngramCountTables]]) + one id join. */
  def mooreLewis(docs: DataFrame, id: Column, text: Column,
      inRef: DataFrame, inRefText: Column,
      genRef: DataFrame, genRefText: Column,
      order: Int = 3, alpha: Double = 0.4, minCount: Long = 1L,
      deriveCounts: Boolean = false): DataFrame = {
    val inS = stupidBackoff(docs, id, text, inRef, inRefText, order,
        alpha, minCount, deriveCounts)
      .select(col("id"), col("n_ngrams"),
        col("xent_micro").as("xent_in_micro"))
    val genS = stupidBackoff(docs, id, text, genRef, genRefText, order,
        alpha, minCount, deriveCounts)
      .select(col("id").as("__gid"), col("xent_micro").as("xent_gen_micro"))
    inS.join(genS, col("id") === col("__gid")).drop("__gid")
      .withColumn("ml_micro", col("xent_in_micro") - col("xent_gen_micro"))
  }

  /** One row per n-gram slot, columns `w1..wn` (plus `cols` carried through).
    * Shared slot constructor for the backoff-LM family. */
  private def gramSlots(df: DataFrame, cols: Seq[Column], t: Column,
      n: Int): DataFrame = {
    val base = df.select(cols :+ tokens(t).as("__toks"): _*)
    val keep = base.columns.dropRight(1).toIndexedSeq.map(col)
    val ws = (1 to n).map(j => s"w$j")
    val slotType = s"array<struct<${ws.map(w => s"$w:string").mkString(",")}>>"
    base.select(keep :+ explode(
        when(size(col("__toks")) >= n,
          transform(sequence(lit(1), size(col("__toks")) - (n - 1)),
            i => struct(ws.zipWithIndex.map { case (w, o) =>
              element_at(col("__toks"), i + o).as(w) }: _*)))
          .otherwise(array().cast(slotType))).as("__g"): _*)
      .select(keep ++ ws.map(w => col(s"__g.$w").as(w)): _*)
  }

  /** The `order` corpus n-gram count tables (columns `w1..wm`, `__c`),
    * built as lazy plans: nothing is persisted, so the calling query owns
    * whatever it materializes. Direct mode: one gramSlots explode +
    * groupBy per order (m corpus scans). Derived mode: ONE explode at the
    * top order, then each lower table = prefix-aggregate of the one above
    * + per-doc tail grams — identical counts (for a doc of L ≥ m+1 tokens
    * the m-gram slots are the L−m prefixes of its (m+1)-grams plus the
    * single tail at position L−m+1; for L = m the tail is the only slot). */
  private[graft] def ngramCountTables(ref: DataFrame, refText: Column,
      order: Int, derive: Boolean): Map[Int, DataFrame] = {
    def direct(m: Int) = gramSlots(ref, Seq.empty, refText, m)
      .groupBy((1 to m).map(j => col(s"w$j")): _*)
      .agg(count(lit(1)).as("__c"))
    if (!derive) (1 to order).map(m => m -> direct(m)).toMap
    else {
      val out = scala.collection.mutable.Map[Int, DataFrame](
        order -> direct(order))
      for (m <- (order - 1) to 1 by -1) {
        val ws = (1 to m).map(j => s"w$j")
        val fromAbove = out(m + 1)
          .groupBy(ws.map(col): _*).agg(sum("__c").as("__c"))
        val tails = ref.select(tokens(refText).as("__toks"))
          .filter(size(col("__toks")) >= m)
          .select((1 to m).map(j => element_at(col("__toks"),
            size(col("__toks")) - m + j).as(s"w$j")): _*)
          .groupBy(ws.map(col): _*).agg(count(lit(1)).as("__c"))
        out(m) = fromAbove.unionByName(tails)
          .groupBy(ws.map(col): _*).agg(sum("__c").as("__c"))
      }
      out.toMap
    }
  }

  /** Order-n STUPID BACKOFF LM scoring (Brants et al. 2007) — the general
    * ladder [[trigramStupidBackoff]] is the n=3 instance of. `order = 5`
    * is the CCNet-grade configuration (CCNet filters on a KenLM 5-gram;
    * stupid backoff is the web-scale scoring rule that skips normalization
    * because a quality filter only needs the ranking):
    *
    *   S(wₙ|w₁..wₙ₋₁) = c(w₁..wₙ)/c(w₁..wₙ₋₁)        highest seen order,
    *                  = α   · c(w₂..wₙ)/c(w₂..wₙ₋₁)   one level down,
    *                    ...                             (one α per level)
    *                  = αⁿ⁻¹ · (c(wₙ)+1)/(N+V)         add-1 unigram floor.
    *
    * Every ln argument is an integer count (plus integer N+V), the CASE
    * branches on integer comparisons, each slot's log-prob quantizes to
    * integer MICRO-NATS before the per-doc sum (order-free exact BIGINT —
    * the [[klPerGroup]] discipline; the r10 driver proved a double Σ here
    * flips the 6th decimal under scheduler reordering), and the mean is
    * one IEEE division rounded to 6 decimals — replayable in DuckDB at
    * any order. Whenever the level-L
    * numerator (w_{n-L+1}..wₙ) was seen in ref, its (L−1)-prefix
    * (w_{n-L+1}..wₙ₋₁) was too, so no branch ever takes ln(0).
    *
    * Scale shape: the "model" is `order` DISTRIBUTED count tables (the
    * corpus n-gram tables, partial-aggregable — the q146 span-mining
    * shuffle shape, one per order) joined to the document n-gram slots;
    * 2·order−1 hash joins total, all on string-tuple keys, no windows, no
    * driver state; N and V broadcast as one row.
    *
    * `minCount` is KenLM-style COUNT PRUNING, the knob that makes the
    * count-table shuffle survive 100 TB: orders ≥ 2 keep only grams seen
    * ≥ `minCount` times (on web corpora the singleton tail is the
    * overwhelming majority of distinct n-grams — Brants et al. prune it
    * for exactly this reason). A pruned-away gram simply backs off one
    * level, which is stupid backoff's own semantics; the UNIGRAM table is
    * never pruned (it is the floor, and its N/V totals are the true
    * corpus totals either way). The no-ln(0) guarantee survives pruning:
    * a surviving numerator's prefix has count ≥ the numerator's ≥
    * minCount, so the same-threshold denominator table keeps it.
    *
    * `deriveCounts = true` builds the lower-order tables FROM the
    * top-order one instead of re-scanning the corpus per order: cnt(m) =
    * prefix-aggregate of cnt(m+1) + the per-doc TAIL m-gram (the one slot
    * no (m+1)-gram extends — exactly one per doc with ≥ m tokens).
    * Counts are provably identical (OpsSpec pins table equality and
    * score equality). The trade: `order−1` fewer full corpus
    * scans+explodes — the dominant cost when the corpus is 100 TB and
    * the count tables are Zipf-small — paid for with two extra
    * aggregations per level over the (much smaller) count tables; at
    * test scale, where gram tables are nearly slot-sized, the default
    * direct mode is the faster plan. */
  def stupidBackoff(docs: DataFrame, id: Column, text: Column,
      ref: DataFrame, refText: Column, order: Int = 5,
      alpha: Double = 0.4, minCount: Long = 1L,
      deriveCounts: Boolean = false): DataFrame = {
    require(order >= 2 && order <= 8, s"order must be in [2,8], got $order")
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1), got $alpha")
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    // cnt(m): the ref m-gram count table, columns w1..wm, __c; orders >= 2
    // prune AFTER aggregation — the prune reads the aggregated table,
    // never the slot stream. Built by [[ngramCountTables]] (derived mode
    // scans the corpus once instead of `order` times).
    val cnt: Map[Int, DataFrame] =
      ngramCountTables(ref, refText, order, deriveCounts).map { case (m, t) =>
        m -> (if (m >= 2 && minCount > 1L) t.filter(col("__c") >= minCount)
              else t)
      }
    val totals = cnt(1).agg(sum("__c").cast("double").as("__n"),
      count(lit(1)).cast("double").as("__v"))
    val slots = gramSlots(docs, Seq(id.as("id")), text, order)
    val lnA = math.log(alpha)
    // join cnt(m) against slot positions (from..from+m-1), count as `as`.
    // r19 (optimization round): the join key is the SPACE-JOINED gram
    // string, not m separate token columns — tokens are split on the
    // single-space regex so they cannot contain ' ', making concat_ws
    // injective per arity (both sides non-null by construction: slots
    // and count tables come from the same bounded element_at window).
    // Why: the count-table exchanges then carry (1 string + 1 long) rows
    // instead of m token columns (≈half the shuffle bytes at order 5 —
    // guide §2.3), the sort/hash key is ONE comparison instead of m
    // (the SMJ sorts on long-string tuples dominated q185's ladder
    // stages), and the slimmer build side lets AQE's size-based
    // SMJ→broadcast conversion fire where the fat rows stayed over the
    // threshold.
    def joined(df: DataFrame, m: Int, from: Int, as: String): DataFrame = {
      // r20: the r19 concat_ws key is now MEASURED (VERDICT item 3) — a
      // clean-canary A/B at sf0.1 against the pre-r19 m-column key:
      // cpu-s q169 9.49→6.25, q175 8.76→5.70, q185 19.52→16.94,
      // q295 6.57→5.51, q301 6.78→4.71 (suite of five: 51.1→39.1,
      // −23.5%); walls moved the same direction. The injectivity
      // invariant the key leans on (tokens split on a single space —
      // never null, never space-carrying, empty-string tokens fine) is
      // spec-pinned in OpsSpecR20 on adversarial double-space text.
      val tbl = cnt(m).select(
        concat_ws(" ", (1 to m).map(j => col(s"w$j")): _*).as(s"__g_$as"),
        col("__c").as(as))
      val key = concat_ws(" ", (from until from + m).map(j => col(s"w$j")): _*)
      df.join(tbl, key === col(s"__g_$as"), "left").drop(s"__g_$as")
    }
    // level L (order down to 2): numerator cnt(L) at (order-L+1..order),
    // denominator cnt(L-1) at (order-L+1..order-1); floor cnt(1) at order
    val withCounts = (order to 2 by -1).foldLeft(slots) { (df, l) =>
      joined(joined(df, l, order - l + 1, s"__n$l"),
        l - 1, order - l + 1, s"__d$l")
    }
    // the floor needs c(w_order): cnt(1) at position `order` (__d2 sits at
    // order-1, so it cannot serve) — join it explicitly as __f
    val withFloor = joined(withCounts, 1, order, "__f")
      .crossJoin(broadcast(totals))
    val lp = (order to 2 by -1).foldLeft(null.asInstanceOf[Column]) {
      (acc, l) =>
        val branch = lit((order - l) * lnA) +
          log(col(s"__n$l").cast("double")) -
          log(col(s"__d$l").cast("double"))
        val cond = coalesce(col(s"__n$l"), lit(0L)) > 0L
        if (acc == null) when(cond, branch) else acc.when(cond, branch)
    }.otherwise(lit((order - 1) * lnA)
      + log(coalesce(col("__f"), lit(0L)).cast("double") + 1.0)
      - log(col("__n") + col("__v")))
    // Each slot's log-prob quantizes ONCE to integer micro-nats (the
    // [[klPerGroup]] discipline), so the per-doc sum is exact, order-free
    // BIGINT arithmetic — a plain double Σ here is partition-/scheduler-
    // order-dependent, and round-10's driver observed a real 6th-decimal
    // flip vs the oracle from exactly that (q169). The mean then rounds
    // IN INTEGER SPACE ([[ExactRound.halfUpDiv]]): the r11 driver flip
    // was the residual `round(S/(n·1e6), 6)` landing on exact .5 ties of
    // the 6-decimal grid (10 tie docs at sf0.01, 5 engine-divergent) —
    // half-up the BIGINT quotient first, then ONE exact /1e6 IEEE op.
    // `xent_micro` is also the deterministic tercile sort key.
    val scored = withFloor
      .select(col("id"), round(lit(1e6) * lp).cast("long").as("__lpu"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_ngrams"), (-sum(col("__lpu"))).as("__S"))
      .withColumn("xent_micro", ExactRound.halfUpDiv("__S", "n_ngrams"))
      .select(col("id"), col("n_ngrams"),
        (col("xent_micro").cast("double") / 1e6).as("cross_entropy"),
        col("xent_micro"))
    docs.select(id.as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        col("cross_entropy"), col("xent_micro"))
  }

  /** A stupid-backoff LM packaged for SERVING — the KenLM analogy: count
    * tables pruned small enough to broadcast and score per row in
    * process, the fit-offline / score-online split [[NbModel]]
    * established. `tables(m-1)` maps the space-joined m-gram to its
    * count; totals are the unpruned unigram sums the add-1 floor needs. */
  final case class LmModel(order: Int, alpha: Double,
      tables: IndexedSeq[Map[String, Long]], nTotal: Double, vocab: Double)

  /** Fit a SERVING [[LmModel]] from a reference corpus — the offline
    * half of the CCNet-at-ingest quality gate
    * ([[graft.streaming.LmStream]] is the online half): the [[stupidBackoff]]
    * count tables, KenLM-pruned at `minCount` on every order ≥ 2
    * (unigram floor untouched — its N/V are the true corpus totals),
    * collected and returned as plain maps. The `maxEntries` VALVE
    * raises BEFORE any collect when the pruned tables are not
    * serving-sized — an unpruned web-scale model must stay distributed
    * (q169's shape), never broadcast; raise `minCount`, not the valve.
    * Scoring against this model is bit-identical to
    * [[stupidBackoff]](…, minCount, …) by construction
    * ([[lmScoreTextJvm]] replays the same CASE ladder, the same ln call
    * order, the same half-up micro-nat quantization — StreamStaticSpec
    * pins per-doc equality). */
  def lmFit(ref: DataFrame, refText: Column, order: Int = 5,
      alpha: Double = 0.4, minCount: Long = 2L,
      maxEntries: Long = 2000000L): LmModel = {
    require(order >= 2 && order <= 8, s"order must be in [2,8], got $order")
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1), got $alpha")
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    val cnt = ngramCountTables(ref, refText, order, derive = false)
      .map { case (m, t) =>
        m -> (if (m >= 2 && minCount > 1L) t.filter(col("__c") >= minCount)
              else t)
      }
    val total = (1 to order).map(m => cnt(m).count()).sum
    if (total > maxEntries)
      throw new graft.core.BadCallException(
        s"lmFit: pruned model holds $total n-gram entries, over the " +
          s"$maxEntries-entry serving valve — a broadcast LM must be " +
          "KenLM-pruned to serving size (raise minCount); an unpruned " +
          "corpus LM stays distributed via stupidBackoff")
    val tables = (1 to order).map { m =>
      cnt(m).collect().map(r =>
        (0 until m).map(r.getString).mkString(" ") -> r.getLong(m)).toMap
    }
    LmModel(order, alpha, tables,
      tables.head.values.sum.toDouble, tables.head.size.toDouble)
  }

  /** Per-row JVM twin of [[stupidBackoff]] over a served [[LmModel]]:
    * returns `(n_ngrams, xent_micro)` for one document — the identical
    * backoff CASE, the identical `(offset + ln num) − ln den`
    * evaluation order, the identical `BigDecimal.valueOf(…).setScale(0,
    * HALF_UP)` micro-nat quantization Spark's `round` applies to
    * doubles, and the identical half-up integer mean — so per-row
    * streaming scores cannot diverge from the distributed aggregation
    * (the [[nbPredictTextJvm]] discipline). */
  def lmScoreTextJvm(text: String, m: LmModel): (Long, Option[Long]) = {
    if (text == null) return (0L, None)
    val toks = text.split(" ", -1)
    val n = m.order
    if (toks.length < n) return (0L, None)
    val lnA = math.log(m.alpha)
    var slots = 0L
    var s = 0L
    var i = 0
    while (i <= toks.length - n) {
      var lp = 0.0
      var matched = false
      var l = n
      while (!matched && l >= 2) {
        val numKey = toks.slice(i + n - l, i + n).mkString(" ")
        m.tables(l - 1).get(numKey) match {
          case Some(num) if num > 0L =>
            // a surviving numerator's prefix survives the same-threshold
            // denominator table (the stupidBackoff no-ln(0) argument)
            val den = m.tables(l - 2)(
              toks.slice(i + n - l, i + n - 1).mkString(" "))
            lp = ((n - l) * lnA + math.log(num.toDouble)) -
              math.log(den.toDouble)
            matched = true
          case _ => l -= 1
        }
      }
      if (!matched) {
        val f = m.tables.head.getOrElse(toks(i + n - 1), 0L)
        lp = ((n - 1) * lnA + math.log(f.toDouble + 1.0)) -
          math.log(m.nTotal + m.vocab)
      }
      val lpu = java.math.BigDecimal.valueOf(1e6 * lp)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
      s -= lpu
      slots += 1L
      i += 1
    }
    (slots, Some(ExactRound.halfUpDivJvm(s, slots)))
  }

  /** Simple quality class from length + repetitiveness, one codegen'd CASE. */
  /** Format-mix tag — code / prose / table from deterministic char-class
    * signals on the 10⁶ integer grid (q266; format is a first-class
    * mixture axis next to source/lang): code-punct (`{};`) density per
    * char ≥ 0.008, else pipe-table lines (≥ 2 `|`) ≥ 30 % of lines, else
    * indented lines ≥ 50 %, else prose. CASE order is part of the
    * contract. Pure stateless projection — batch and stream share it. */
  def formatClass(c: Column): Column = {
    def nChar(x: Column, ch: String): Column =
      (length(x) - length(translate(x, ch, ""))).cast("long")
    val lines = split(c, "\n")
    val nLines = size(lines).cast("long")
    val codePunct = nChar(c, "{") + nChar(c, "}") + nChar(c, ";")
    val nIndent = size(filter(lines,
      l => substring(l, 1, 2) === "  ")).cast("long")
    val nPipe = size(filter(lines, l => nChar(l, "|") >= 2)).cast("long")
    when(ExactRound.gridMicroCol(codePunct, length(c).cast("long"), 6)
        >= 8000L, lit("code"))
      .when(ExactRound.gridMicroCol(nPipe, nLines, 6) >= 300000L,
        lit("table"))
      .when(ExactRound.gridMicroCol(nIndent, nLines, 6) >= 500000L,
        lit("code"))
      .otherwise(lit("prose"))
  }

  /** DuckDB twin of [[formatClass]]. */
  def formatClassSql(col: String): String = {
    def nc(x: String, ch: String) =
      s"(length($x) - length(replace($x, '$ch', '')))::BIGINT"
    val nLines = s"len(str_split($col, chr(10)))::BIGINT"
    val codePunct = s"${nc(col, "{")} + ${nc(col, "}")} + ${nc(col, ";")}"
    val nIndent = s"len(list_filter(str_split($col, chr(10)), " +
      s"l -> substring(l, 1, 2) = '  '))::BIGINT"
    val nPipe = s"len(list_filter(str_split($col, chr(10)), " +
      s"l -> length(l) - length(replace(l, '|', '')) >= 2))::BIGINT"
    s"""CASE WHEN ${ExactRound.gridMicroSql(codePunct,
          s"length($col)::BIGINT", 6)} >= 8000 THEN 'code'
       | WHEN ${ExactRound.gridMicroSql(nPipe, nLines, 6)} >= 300000
       |   THEN 'table'
       | WHEN ${ExactRound.gridMicroSql(nIndent, nLines, 6)} >= 500000
       |   THEN 'code'
       | ELSE 'prose' END""".stripMargin.replace("\n", "")
  }

  def qualityClass(c: Column): Column =
    when(tokenCount(c) < 30, "short")
      .when(typeTokenRatio(c) < 0.35, "repetitive")
      .otherwise("ok")

  def qualityClassSql(col: String): String =
    s"""CASE WHEN len(str_split($col, ' ')) < 30 THEN 'short'
       | WHEN len(list_distinct(str_split($col, ' ')))::DOUBLE / len(str_split($col, ' ')) < 0.35 THEN 'repetitive'
       | ELSE 'ok' END""".stripMargin

  /** Per-(doc, token) TF-IDF over whitespace tokens:
    * `tf(doc, tok) * ln(n_docs / df(tok))` — the keyword-extraction /
    * salience primitive (what distinguishes THIS document from the corpus).
    *
    * Scale shape: one explode feeding one (doc, tok) groupBy; document
    * frequency is a second map-side-combined aggregate over the tf table
    * (already one row per (doc, tok), so df costs a ~|vocab|-row shuffle);
    * the corpus doc count joins in as a broadcast single row. No windows,
    * no collects.
    *
    * Output columns: doc, tok, tf (long), df (long), tfidf (double). Ranking
    * consumers should order by `round(tfidf, 6)` with a token tie-break: the
    * raw double can differ by 1 ulp across engines (ln is not a correctly-
    * rounded operation in every libm), and the rounded grid collapses that. */
  def tfidf(df: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = df.select(id.as("doc"), explode(tokens(text)).as("tok"))
    val tf = toks.groupBy("doc", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = df.select(countDistinct(id).as("n_docs"))
    tf.join(dfreq, "tok")
      .crossJoin(broadcast(nDocs))
      .select(col("doc"), col("tok"), col("tf"), col("df"),
        (col("tf") * log(col("n_docs").cast("double") / col("df")))
          .as("tfidf"))
  }

  /** Per-group KL divergence of token distributions — mixture-drift
    * diagnostics: KL(P_group ‖ P_corpus) over unigram frequencies answers
    * "which source/snapshot has drifted furthest from the corpus blend",
    * the number a mixture designer watches across versions (and the
    * quantity DSIR-style selection implicitly optimizes). Tokens are the
    * raw [[graft.functions.NgramSlots]] n=1 spans (= `str_split`, the
    * cross-engine convention).
    *
    * Portability discipline: each (group, token) term
    * `p·ln(p/q), p = c/n_g, q = c_t/N` rounds ONCE to integer micro-nats,
    * so per-group sums are exact BIGINT arithmetic — order-independent and
    * bit-identical to the DuckDB replay. The two ln arguments stay as
    * separate small-magnitude quotients (`ln(p) − ln(q)`) so no product
    * ever approaches int64/double-exactness limits at corpus scale.
    * Rounding per term bounds the drift from true KL by ±0.5e-6·|vocab_g|
    * — diagnostics-grade, and deterministic, which is the point.
    *
    * Residual cross-ENGINE hazard (per-term rounding removes summation-
    * order drift, not implementation drift): `ln` here is JVM `Math.log`,
    * in the oracle DuckDB's libm — neither is correctly rounded, so a
    * 1-ulp disagreement can flip `round()` when a term's micro-nat value
    * lands within ~1 ulp of an exact .5 boundary. No term in the synthetic
    * corpus does (the gate would catch it), and a flip costs exactly 1
    * micro-nat — harmless for diagnostics; callers needing a HARD
    * bit-exact guarantee across engines should quantize the log-ratio
    * inputs to a coarser grid first (the weighted-sampler docs discuss the
    * same transcendental hazard).
    *
    * Scale shape: one explode → (group, token) partial-agg counts (the
    * heavy shuffle, map-side collapsed), corpus totals re-aggregate from
    * THAT table (never a second corpus scan), group totals broadcast
    * (groups are few by contract), the token join is distributed
    * (vocab-sized, never driver), final per-group agg is tiny. Returns
    * `(group, n_tokens, n_distinct, kl_u)` sorted by group. */
  def klPerGroup(df: DataFrame, group: Column, text: Column): DataFrame = {
    val gtok = df.select(group.as("grp"), explode(ngramSlots(text, 1)).as("__t"))
    val gc = gtok.groupBy("grp", "__t").agg(count(lit(1)).as("__c"))
    val tc = gc.groupBy("__t").agg(sum("__c").as("__ct"))
    val gn = gc.groupBy("grp").agg(sum("__c").as("__n"))
    // NB "__N" would collide with "__n" under Spark's case-insensitive
    // resolution — hence "__nn"
    val tot = gc.agg(sum("__c").as("__nn"))
    // both ratios quantize to the micro grid as EXACT integers FIRST
    // (ExactRound — the mean-of-ratios discipline; the r18 census
    // widening caught the previous form multiplying a raw int/int
    // quotient into the transcendental), then one deterministic
    // double product per term: 1e6·p·(ln p − ln q) ≈ pµ·(ln pµ − ln qµ)
    // since the 1e6 factors cancel inside the log difference. A GROUP
    // ratio that quantizes to 0 contributes 0 (sub-micro tail terms of
    // P, which true KL also weights to ~0) — but a CORPUS ratio that
    // quantizes to 0 under a large pm must NOT zero the term (the r18
    // ADVICE finding: a token common in a small group yet globally
    // rarer than 0.5e-6 has an unboundedly LARGE true contribution
    // p·(ln p − ln q), not a tail term); qm clamps to the grid floor
    // of 1 instead, the divergence a micro-grid measurement can attest.
    val pm = ExactRound.gridMicroCol(col("__c"), col("__n"), 6)
    val qm = ExactRound.gridMicroCol(col("__ct"), col("__nn"), 6)
    gc.join(tc, "__t")
      .join(broadcast(gn), "grp")
      .crossJoin(broadcast(tot))
      .withColumn("__u",
        when(pm <= 0L, lit(0L)).otherwise(
          round(pm.cast("double") *
            (log(pm.cast("double")) - log(greatest(qm, lit(1L)).cast("double"))))
            .cast("long")))
      .groupBy("grp")
      .agg(sum("__c").cast("long").as("n_tokens"),
        count(lit(1)).as("n_distinct"), sum("__u").as("kl_u"))
      .orderBy("grp")
  }

  /** DuckDB twin of [[klPerGroup]] (oracle construction): WITH-clause body
    * ending in `kl(grp, n_tokens, n_distinct, kl_u)`. */
  def klPerGroupSql(groupCol: String, textCol: String, table: String): String =
    s"""__tok AS (SELECT $groupCol AS grp, unnest(str_split($textCol, ' ')) AS t
         FROM $table),
       __gc AS (SELECT grp, t, count(*) AS c FROM __tok GROUP BY 1, 2),
       __tc AS (SELECT t, sum(c) AS ct FROM __gc GROUP BY 1),
       __gn AS (SELECT grp, sum(c) AS n FROM __gc GROUP BY 1),
       __tot AS (SELECT sum(c) AS nn FROM __gc),
       kl AS (SELECT grp,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           count(*) AS n_distinct,
           CAST(sum(CASE WHEN pm <= 0 THEN 0
             ELSE CAST(round(pm::DOUBLE *
               (ln(pm::DOUBLE) - ln(greatest(qm, 1)::DOUBLE)))
               AS BIGINT) END) AS BIGINT) AS kl_u
         FROM (SELECT __gc.grp, __gc.c,
             ${ExactRound.gridMicroSql("__gc.c", "__gn.n", 6)} AS pm,
             ${ExactRound.gridMicroSql("__tc.ct", "__tot.nn", 6)} AS qm
           FROM __gc JOIN __tc USING (t) JOIN __gn USING (grp), __tot)
         GROUP BY 1)""".stripMargin

  /** Per-group top-k heavy hitters over a string column via the
    * [[graft.functions.SpaceSavingSketch]] bounded-memory aggregate — the
    * token/boilerplate census that an exact groupBy(term) cannot afford at
    * 100 TB: memory is `capacity` counters per group, partials combine
    * map-side, and the shuffle carries one summary per group instead of the
    * term universe. Counts are overestimates with an error bound (`cnt`,
    * `err`: true ∈ [cnt − err, cnt]); with capacity ≥ the per-partition
    * distinct-term count they are exact (err = 0) — the DuckDB-checkable
    * regime q115 pins. Output: (grp, rank, term, cnt, err), rank 1..k by
    * (cnt DESC, term ASC). */
  def heavyHitters(df: DataFrame, group: Column, term: Column, capacity: Int,
      k: Int): DataFrame = {
    require(k > 0 && capacity >= k, s"need 0 < k <= capacity, got k=$k capacity=$capacity")
    graft.GraftExtensions.ensureRegistered(df.sparkSession)
    df.groupBy(group.as("grp"))
      .agg(call_function("space_saving", term, lit(capacity)).as("hh"))
      .select(col("grp"), posexplode(slice(col("hh"), 1, k)))
      .select(col("grp"), (col("pos") + 1).as("rank"),
        col("col.term").as("term"), col("col.cnt").as("cnt"),
        col("col.err").as("err"))
  }
}
