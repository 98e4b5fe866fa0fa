package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.PortableHash
import graft.ops.{Dedup, ExactRound, Sampling, Similarity => Sim, TextAnalysis => TA, Waist}
import QueryUtil._

/** Training-data text operators over the `documents` table: exact/fuzzy
  * dedup, fingerprints, token statistics, quality scoring, language-ID.
  * Each runs through the graft.ops library and is pinned by a DuckDB oracle
  * built from the ops' documented SQL twins. */
object TextQueries {

  /** q172's planted trained vocabulary — rank-ordered merges exercising
    * every apply-loop behavior: multi-level chains ((t,a)→(ta,b)→(tab,le)
    * builds "table" in 4 steps), a merge whose operand is an earlier
    * PRODUCT ((d,at) then (dat,a) — the well-formedness case), and rank
    * priority races ((a,t) at rank 0 beats (t,a) at rank 1 inside "data"). */
  private val BpeMerges: Seq[(String, String)] = Seq(
    "a" -> "t", "t" -> "a", "ta" -> "b", "l" -> "e", "tab" -> "le",
    "s" -> "c", "sc" -> "a", "a" -> "n", "r" -> "o", "w" -> "i",
    "e" -> "r", "d" -> "at", "dat" -> "a")

  /** The mapped char for byte `b` under GPT-2's byte alphabet — the
    * symbol domain of q241's byte-level merges. */
  private def bch(b: Int): String =
    String.valueOf(graft.functions.BpeApply.byteChar(b))

  /** q241's planted BYTE-LEVEL vocabulary: merges over the GPT-2 byte
    * alphabet exercising the paths codepoint-level BPE cannot see — a
    * 2-byte codepoint reassembled from its UTF-8 bytes (0xC3 0xA9 = é,
    * 0xC3 0xBC = ü), a 3-byte codepoint built through a 2-step chain
    * (0xE2 0x82 0xAC = €, with the second merge consuming the first's
    * product), a codepoint left UNmerged (ß stays two byte symbols —
    * the budget-drift case), and ASCII merges that ride through the
    * identity half of the byte map. */
  private val ByteMerges: Seq[(String, String)] = Seq(
    bch(0xC3) -> bch(0xA9),               // "é" from its two bytes
    bch(0xC3) -> bch(0xBC),               // "ü"
    bch(0xE2) -> bch(0x82),               // "€" bytes 1-2
    (bch(0xE2) + bch(0x82)) -> bch(0xAC), // full 3-byte "€" (chained)
    "t" -> "a", "ta" -> "b",              // ASCII chain (bytes self-map)
    "4" -> "2")

  /** SQL single-quote escape for merge/alphabet literals (byte 0x27 maps
    * to itself, so ' CAN appear in the byte map). */
  private def sqlq(s: String): String = s.replace("'", "''")

  /** A DuckDB string expression for `s` with every non-ASCII codepoint
    * spelled as `chr(n)` — combining marks survive any tooling that
    * would silently re-compose them in source or JSON transit. */
  private def sqlLit(s: String): String = {
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    val run = new StringBuilder
    def flush(): Unit =
      if (run.nonEmpty) { parts += s"'${sqlq(run.toString)}'"; run.clear() }
    s.foreach { ch =>
      if (ch >= ' ' && ch < 127.toChar) run.append(ch)
      else { flush(); parts += s"chr(${ch.toInt})" }
    }
    flush()
    if (parts.isEmpty) "''" else parts.mkString(" || ")
  }

  /** The planted non-ASCII suffix shared by q241's Spark side and oracle:
    * 2-byte merged (é, ü), 2-byte unmerged (ß), 3-byte chained (€),
    * plus ASCII words hitting the t/a/b and 4/2 merges. */
  private val BytePlant = " café über große table €42"

  /** q255's planted eval run (q183's 15-token sequence) and its EDITED
    * twin — one token inserted after the 10th, so the longest intact
    * shared run (10 tokens) defeats the exact 13-gram rule while still
    * clearing winnowing's w+k−1 = 8-token shared-print guarantee. */
  private val DecontamRun =
    " alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron"
  private val DecontamEdited = {
    val tk = DecontamRun.trim.split(" ")
    " " + (tk.take(10) ++ Array("edited") ++ tk.drop(10)).mkString(" ")
  }

  /** q259's blocklist — deliberately NOT alphabetical, so the result
    * array's blocklist-order contract is pinned (≠ lexicographic). */
  private val BlockPhrases = Seq("zzqx", "dark pattern", "forbidden fruit")

  /** q260/q261's handcrafted unigram vocabulary (micro-nat scores),
    * planted to exercise every Viterbi behavior on the corpus words:
    * an EXACT tie ("join" = "jo"+"in" = −2.0 nats — the tie-break must
    * pick the single piece), a chained tie inside "data" ({da,ta} =
    * {dat,a} = −3.0 — longer-first wins: dat|a), a strict split win
    * ("scan" −3.0 loses to "sc"+"an" −2.4), and unk fallback (digits
    * carry no pieces). Singles cover a–z so only plants hit unk. */
  private val UniPieces: Seq[(String, Long)] = Seq(
    "join" -> -2000000L, "jo" -> -1000000L, "in" -> -1000000L,
    "scan" -> -3000000L, "sc" -> -1200000L, "an" -> -1200000L,
    "da" -> -1500000L, "ta" -> -1500000L, "dat" -> -2200000L,
    "a" -> -800000L, "b" -> -1500000L, "c" -> -1350000L, "d" -> -1450000L,
    "e" -> -900000L, "f" -> -1600000L, "g" -> -1650000L, "h" -> -1300000L,
    "i" -> -1020000L, "j" -> -1800000L, "k" -> -1850000L, "l" -> -1150000L,
    "m" -> -1250000L, "n" -> -1050000L, "o" -> -1100000L, "p" -> -1900000L,
    "q" -> -1750000L, "r" -> -900000L, "s" -> -1200000L, "t" -> -1000000L,
    "u" -> -1400000L, "v" -> -1700000L, "w" -> -1550000L, "x" -> -1950000L,
    "y" -> -1990000L, "z" -> -1995000L)

  private val UniUnkMicro = -20000000L

  private lazy val UniModel = new graft.functions.UnigramModel(
    UniPieces.map(_._1).toArray, UniPieces.map(_._2).toArray, UniUnkMicro)

  /** q262/q263's handcrafted WordPiece vocabulary, planted to exercise
    * every greedy behavior on the corpus words: longest-match-first at
    * position 0 ("join" beats "jo", "the" beats "th") and mid-word
    * ("line" → l|##in|##e via "##in" over "##i"), multi-piece chains
    * ("batch" → b|##at|##ch, "table" → ta|##ble), the greedy-not-optimal
    * contract ("value" → val|##u|##e, 3 pieces, even though va|##lue
    * would be 2 — greedy commits to "val" and never sees "##lue"), and
    * the all-or-nothing unk rule three ways: no initial match ("query" —
    * 'q' is the one missing initial single), STUCK MID-WORD after
    * partial progress ("row"/"slow"/"window" — '##w' is the one missing
    * continuation single), and unpriced digit runs. */
  private val WpPieces: Seq[String] = {
    val initials = ('a' to 'z').filterNot(_ == 'q').map(_.toString) ++
      Seq("jo", "join", "sc", "th", "the", "ta", "va", "val", "dat")
    val conts = ('a' to 'z').filterNot(_ == 'w').map(c => "##" + c) ++
      Seq("##in", "##an", "##ash", "##at", "##ch", "##ble", "##lue")
    initials ++ conts
  }

  private val WpUnk = "[UNK]"

  private lazy val WpModel =
    new graft.functions.WordPieceModel(WpPieces.toArray, WpUnk)

  /** q242's canonical-equivalence twins: the same three glyphs (é ü Å ö)
    * in DECOMPOSED (base char + combining mark) and COMPOSED (single
    * codepoint) encodings — NFC must collapse both onto one byte stream. */
  private val NfcDecomposed = " café über Ångström"
  private val NfcComposed = " café über Ångström"

  /** One builder for the q169/q175 oracles: the full 5-gram stupid-backoff
    * ladder replay, with an optional KenLM-style `HAVING count(*) >=
    * minCount` prune on every order ≥ 2 table (the unigram floor and its
    * N/V totals never prune) — exactly [[graft.ops.TextAnalysis
    * .stupidBackoff]]'s `minCount` semantics. */
  /** Table-parameterized core of the 5-gram ladder replay: CTE list (no
    * leading WITH) over `$table(doc_id, $textCol)`, ending in
    * `sc(doc_id, nt, xm)` — per-doc backoff cross-entropy in integer
    * MICRO-NATS. Each slot's log-prob quantizes to integer micro-nats
    * before the per-doc sum (order-free exact BIGINT, mirroring
    * [[graft.ops.TextAnalysis.stupidBackoff]] bit for bit), and the mean
    * rounds IN INTEGER SPACE ([[graft.ops.ExactRound.halfUpDivSql]] —
    * never `round()` over an IEEE quotient, whose exact .5 ties flip
    * across engines; the r11 driver's q169 red row). Consumers divide
    * `xm` by 1e6 once (exact-int-by-power-of-ten — one correctly-rounded
    * IEEE op) and ORDER terciles BY `xm`. Shared by the q169/q175
    * oracles and the q185 capstone. */
  private def ladderXentCore(table: String, textCol: String,
      minCount: Int): String = {
    val hv = if (minCount > 1) s" HAVING count(*) >= $minCount" else ""
    s"""toks AS (SELECT doc_id, str_split($textCol, ' ') AS ts FROM $table),
       g1 AS (SELECT ts[x.i] AS w1, count(*) AS c
         FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts))) AS i) x
         GROUP BY 1),
       g2 AS (SELECT ts[x.i] AS w1, ts[x.i+1] AS w2, count(*) AS c
         FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 1)) AS i) x
         WHERE len(ts) >= 2 GROUP BY 1, 2$hv),
       g3 AS (SELECT ts[x.i] AS w1, ts[x.i+1] AS w2, ts[x.i+2] AS w3, count(*) AS c
         FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 2)) AS i) x
         WHERE len(ts) >= 3 GROUP BY 1, 2, 3$hv),
       g4 AS (SELECT ts[x.i] AS w1, ts[x.i+1] AS w2, ts[x.i+2] AS w3,
           ts[x.i+3] AS w4, count(*) AS c
         FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 3)) AS i) x
         WHERE len(ts) >= 4 GROUP BY 1, 2, 3, 4$hv),
       g5 AS (SELECT ts[x.i] AS w1, ts[x.i+1] AS w2, ts[x.i+2] AS w3,
           ts[x.i+3] AS w4, ts[x.i+4] AS w5, count(*) AS c
         FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 4)) AS i) x
         WHERE len(ts) >= 5 GROUP BY 1, 2, 3, 4, 5$hv),
       tot AS (SELECT sum(c)::DOUBLE AS n, count(*)::DOUBLE AS v FROM g1),
       dp AS (SELECT doc_id, ts[x.i] AS w1, ts[x.i+1] AS w2, ts[x.i+2] AS w3,
           ts[x.i+3] AS w4, ts[x.i+4] AS w5
         FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 4)) AS i) x
         WHERE len(ts) >= 5),
       sc AS (SELECT dp.doc_id, count(*) AS nt,
           ${graft.ops.ExactRound.halfUpDivSql(
             """-sum(CAST(round(1e6 * CASE
             WHEN coalesce(n5.c, 0) > 0
               THEN ln(n5.c::DOUBLE) - ln(d5.c::DOUBLE)
             WHEN coalesce(n4.c, 0) > 0
               THEN ln(0.4) + ln(n4.c::DOUBLE) - ln(d4.c::DOUBLE)
             WHEN coalesce(n3.c, 0) > 0
               THEN 2 * ln(0.4) + ln(n3.c::DOUBLE) - ln(d3.c::DOUBLE)
             WHEN coalesce(n2.c, 0) > 0
               THEN 3 * ln(0.4) + ln(n2.c::DOUBLE) - ln(d2.c::DOUBLE)
             ELSE 4 * ln(0.4) + ln(coalesce(f.c, 0)::DOUBLE + 1.0)
               - ln(tot.n + tot.v) END) AS BIGINT))""", "count(*)")} AS xm
         FROM dp
         LEFT JOIN g5 n5 ON dp.w1 = n5.w1 AND dp.w2 = n5.w2
           AND dp.w3 = n5.w3 AND dp.w4 = n5.w4 AND dp.w5 = n5.w5
         LEFT JOIN g4 d5 ON dp.w1 = d5.w1 AND dp.w2 = d5.w2
           AND dp.w3 = d5.w3 AND dp.w4 = d5.w4
         LEFT JOIN g4 n4 ON dp.w2 = n4.w1 AND dp.w3 = n4.w2
           AND dp.w4 = n4.w3 AND dp.w5 = n4.w4
         LEFT JOIN g3 d4 ON dp.w2 = d4.w1 AND dp.w3 = d4.w2
           AND dp.w4 = d4.w3
         LEFT JOIN g3 n3 ON dp.w3 = n3.w1 AND dp.w4 = n3.w2
           AND dp.w5 = n3.w3
         LEFT JOIN g2 d3 ON dp.w3 = d3.w1 AND dp.w4 = d3.w2
         LEFT JOIN g2 n2 ON dp.w4 = n2.w1 AND dp.w5 = n2.w2
         LEFT JOIN g1 d2 ON dp.w4 = d2.w1
         LEFT JOIN g1 f ON dp.w5 = f.w1
         CROSS JOIN tot GROUP BY 1)"""
  }

  /** Trigram stupid-backoff scoring CTE chain against a PARAMETERIZED
    * reference relation, CTE names suffixed `_p` — the q157 ladder with
    * the count tables decoupled from the scored side (the shared
    * `toks`/`dp` CTEs), so q295 replays two LMs in one statement. The xm
    * rounding is the exact q157 form (half-up of the negated micro-nat
    * sum over the slot count). */
  private def triXentCoreSql(p: String, refFrom: String): String =
    s"""rt_$p AS (SELECT str_split(text, ' ') AS ts FROM ($refFrom)),
       uni_$p AS (SELECT ts[x.i] AS w1, count(*) AS c1
         FROM rt_$p, LATERAL (SELECT unnest(generate_series(1, len(ts))) AS i) x
         GROUP BY 1),
       bi_$p AS (SELECT ts[x.i] AS w1, ts[x.i+1] AS w2, count(*) AS c2
         FROM rt_$p, LATERAL (SELECT unnest(generate_series(1, len(ts) - 1)) AS i) x
         WHERE len(ts) >= 2 GROUP BY 1, 2),
       tri_$p AS (SELECT ts[x.i] AS w1, ts[x.i+1] AS w2, ts[x.i+2] AS w3,
           count(*) AS c3
         FROM rt_$p, LATERAL (SELECT unnest(generate_series(1, len(ts) - 2)) AS i) x
         WHERE len(ts) >= 3 GROUP BY 1, 2, 3),
       tot_$p AS (SELECT sum(c1)::DOUBLE AS n, count(*)::DOUBLE AS v
         FROM uni_$p),
       sc_$p AS (SELECT dp.doc_id, count(*) AS nt,
           CAST((2 * (-sum(CAST(round(1e6 * CASE
             WHEN coalesce(t3.c3, 0) > 0
               THEN ln(t3.c3::DOUBLE) - ln(b12.c2::DOUBLE)
             WHEN coalesce(b23.c2, 0) > 0
               THEN ln(0.4) + ln(b23.c2::DOUBLE) - ln(u2.c1::DOUBLE)
             ELSE 2 * ln(0.4) + ln(coalesce(u3.c1, 0)::DOUBLE + 1.0)
               - ln(tot.n + tot.v) END) AS BIGINT))) + count(*))
             // (2 * count(*)) AS BIGINT) AS xm
         FROM dp
         LEFT JOIN tri_$p t3 USING (w1, w2, w3)
         LEFT JOIN bi_$p b12 ON dp.w1 = b12.w1 AND dp.w2 = b12.w2
         LEFT JOIN bi_$p b23 ON dp.w2 = b23.w1 AND dp.w3 = b23.w2
         LEFT JOIN uni_$p u2 ON dp.w2 = u2.w1
         LEFT JOIN uni_$p u3 ON dp.w3 = u3.w1
         CROSS JOIN tot_$p tot GROUP BY 1)"""

  private def fiveGramLadderSql(minCount: Int): String =
    s"""WITH ${ladderXentCore("documents", "text", minCount)},
       b AS (SELECT t.doc_id,
           CAST(coalesce(sc.nt, 0) AS BIGINT) AS n_ngrams,
           sc.xm::DOUBLE / 1e6 AS cross_entropy,
           (['head', 'middle', 'tail'])[ntile(3) OVER (
             ORDER BY sc.xm ASC NULLS LAST, t.doc_id)] AS bucket
         FROM toks t LEFT JOIN sc USING (doc_id))
       SELECT doc_id, n_ngrams, cross_entropy, bucket FROM b
       WHERE doc_id < 20 ORDER BY doc_id"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // edit-distance VERIFY stage (the exact refinement every LSH/shingle
    // candidate pipeline ends with): bounded candidate pairs from the
    // jaccard miner, then true Levenshtein similarity 1 − d/max(|a|,|b|)
    // on the pair list only — never all-pairs; the verdict compares the
    // ROUNDED similarity so the boundary is cross-engine deterministic
    "q246_edit_verify" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val m = greatest(length(col("ta")), length(col("tb")))
      val sim = ExactRound.ratioRoundedCol(
        m - levenshtein(col("ta"), col("tb")), m, 6)
      Waist.cut(Dedup.jaccardPairs(docs, col("doc_id"), col("text"),
          n = 3, minJaccard = 0.5)
        .select("i", "j", "jacc_micro")
        .join(docs.select(col("doc_id").as("i"), col("text").as("ta")), "i")
        .join(docs.select(col("doc_id").as("j"), col("text").as("tb")), "j")
        .select(col("i"), col("j"),
          (col("jacc_micro").cast("double") / 1e6).as("jaccard"),
          levenshtein(col("ta"), col("tb")).cast("long").as("edit_dist"),
          sim.as("edit_sim"), (sim >= 0.8).as("verified")))
        // r20 (guide §2.4 remove recomputation): orderBy's range-partition
        // SAMPLING pass re-executes its child, so the O(len²) Levenshtein
        // projection ran TWICE (StageProbe: two identical 2.1 s stages
        // over the same 5000-pair exchange). Materialize the verified
        // pair table (pair-sized, slim) once; the sort reads blocks.
        .orderBy("i", "j")
    }),

    // HTML boilerplate stripping + markup-heaviness gate: every 3rd doc
    // arrives wrapped in tags/entities, every 9th is a pure script/style
    // shell (whole-element removal — a tags-only pass would leak the
    // code as prose; the shell's ratio ≈ 1 trips the gate). Tag spans,
    // six-entity decode (&amp; last), whitespace collapse — all fused
    // per-row regexp/replace chains, zero shuffle, byte-pinned clean text
    "q243_markup_strip" -> ((s, d) => {
      val planted = t(s, d, "documents").filter(col("doc_id") < 40)
        .withColumn("t2",
          when(pmod(col("doc_id"), lit(9)) === 0, lit(
            "<script>var x = 1;</script><style>.a{color:red}</style><div></div>"))
          .when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit("<html><body><p class=\"m\">"), col("text"),
              lit("</p><div>footer&nbsp;&amp; <a href=\"/x\">link</a>" +
                "&#39;s &lt;tag&gt;</div></body></html>")))
          .otherwise(col("text")))
      planted.select(col("doc_id"),
          length(col("t2")).cast("long").as("n_raw"),
          TA.stripMarkup(col("t2")).as("clean"),
          TA.markupRatio(col("t2")).as("markup_ratio"))
        .select(col("doc_id"), col("n_raw"),
          length(col("clean")).cast("long").as("n_clean"),
          col("markup_ratio"),
          (col("markup_ratio") <= 0.9).as("keep"),
          md5(col("clean")).as("fp"))
        .orderBy("doc_id")
    }),

    // URL host/registrable-domain extraction + blocklist gate (the
    // C4-class URL filter): synthesized per-doc URLs with rotating
    // subdomains must collapse onto their registrable domain (the
    // blocklist key — an entry must catch every subdomain), per-domain
    // rollup + the block verdict pinned
    "q245_url_blocklist" -> ((s, d) => {
      val name = element_at(array(lit("adnet"), lit("goodnews"),
        lit("blogger"), lit("spamco"), lit("docs")),
        pmod(col("doc_id"), lit(5)).cast("int") + 1)
      val sub = element_at(array(lit("www"), lit("cdn"), lit("m")),
        pmod(col("doc_id"), lit(3)).cast("int") + 1)
      t(s, d, "documents").filter(col("doc_id") < 300)
        .withColumn("url", concat(lit("https://"), sub, lit("."), name,
          lit(".com/p/"), col("doc_id"), lit("?ref="), col("source")))
        .withColumn("host", TA.urlHost(col("url")))
        .withColumn("domain", TA.urlDomain(col("url")))
        .groupBy("domain")
        .agg(countDistinct("host").as("n_hosts"),
          count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
        .withColumn("blocked",
          col("domain").isin("adnet.com", "spamco.com"))
        .orderBy("domain")
    }),

    // unigram-LM (SentencePiece-style) Viterbi segmentation under the
    // handcrafted tie-exercising vocabulary: max-score subword split per
    // pre-token, exact integer-tie resolution (join / dat|a), a strict
    // split win (sc|an), and digit plants through the unk fallback —
    // per-doc token counts + the ordered full-token fingerprint, replayed
    // in DuckDB by an unrolled per-position DP with the identical
    // (score DESC, seg DESC) tie rule
    "q260_unigram_viterbi" -> ((s, d) => {
      val t2 = when(pmod(col("doc_id"), lit(3)) === 0,
        concat(col("text"), lit(" data77 join"))).otherwise(col("text"))
      t(s, d, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"), TA.unigramTokens(t2, UniModel).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          md5(array_join(col("toks"), " ")).as("fp"))
        .orderBy("doc_id")
    }),

    // the q176 fertility report under the UNIGRAM tokenizer — chars and
    // whitespace words per language against Viterbi subword counts, the
    // BPE-vs-unigram comparison a real pipeline runs before picking its
    // tokenizer; same exact-rational rounding discipline
    "q261_unigram_fertility" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("lang"),
          length(regexp_replace(col("text"), lit(" "), lit(""))).as("nchars"),
          TA.tokenCount(col("text")).as("nws"),
          TA.unigramTokenCount(col("text"), UniModel).as("nuni"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("nchars").cast("long").as("sum_chars"),
          sum("nws").cast("long").as("sum_words"),
          sum("nuni").cast("long").as("sum_uni_tokens"))
        .select(col("lang"), col("n_docs"), col("sum_chars"),
          col("sum_words"), col("sum_uni_tokens"),
          ExactRound.ratioRounded("sum_chars", "sum_uni_tokens", 6)
            .as("chars_per_token"),
          ExactRound.ratioRounded("sum_uni_tokens", "sum_words", 6)
            .as("fertility"))
        .orderBy("lang")
    }),

    // WordPiece (BERT-style) greedy longest-match segmentation under the
    // handcrafted vocabulary: longest-match wins at word start and
    // mid-word, the greedy-not-optimal case is pinned (value → val ##u
    // ##e), and the all-or-nothing [UNK] rule fires three ways (no
    // initial match, stuck mid-word, digit plants) — per-doc token
    // counts + the ordered full-token fingerprint, replayed in DuckDB by
    // an unrolled greedy-cursor chain with the identical vocab
    "q262_wordpiece_apply" -> ((s, d) => {
      val t2 = when(pmod(col("doc_id"), lit(3)) === 0,
        concat(col("text"), lit(" value42 table"))).otherwise(col("text"))
      t(s, d, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"), TA.wordPieceTokens(t2, WpModel).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          md5(array_join(col("toks"), " ")).as("fp"))
        .orderBy("doc_id")
    }),

    // the tokenizer BAKEOFF a real pipeline runs before committing a
    // vocab: the SAME word stream (shared pre-tokenizer) metered under
    // all three trained tokenizers — BPE merge loop, unigram Viterbi,
    // WordPiece greedy — per-lang totals and fertility side by side; one
    // fused projection per doc, zero shuffle until the final per-lang agg.
    // 100 TB note (the q194/q223 rule): this is char-linear ×3 tokenizers
    // (measured 10.7× at 10× data — three full-corpus applies). It is a
    // CONFIG diagnostic, not a per-corpus pass: a vocab decision needs
    // fertility on a representative slice, so at 100 TB run it on a
    // hash-sampled slice (Sampling.splitColumn at ~0.1%) — the per-lang
    // ratios it reports converge long before the corpus does.
    "q263_tokenizer_bakeoff" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("lang"),
          TA.tokenCount(col("text")).as("nws"),
          TA.bpeTokenCount(col("text"), BpeMerges).as("nbpe"),
          TA.unigramTokenCount(col("text"), UniModel).as("nuni"),
          TA.wordPieceTokenCount(col("text"), WpModel).as("nwp"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("nws").cast("long").as("sum_words"),
          sum("nbpe").cast("long").as("sum_bpe"),
          sum("nuni").cast("long").as("sum_uni"),
          sum("nwp").cast("long").as("sum_wp"))
        .select(col("lang"), col("n_docs"), col("sum_words"),
          col("sum_bpe"), col("sum_uni"), col("sum_wp"),
          ExactRound.ratioRounded("sum_bpe", "sum_words", 6).as("fert_bpe"),
          ExactRound.ratioRounded("sum_uni", "sum_words", 6).as("fert_uni"),
          ExactRound.ratioRounded("sum_wp", "sum_words", 6).as("fert_wp"))
        .orderBy("lang")
    }),

    // content blocklist gate (C4 §2.2's first page rule): ONE native
    // Aho–Corasick pass reports every blocked phrase per page. Plants
    // cover case-folding (Dark PATTERN.), string-edge and punctuation
    // boundaries, multi-phrase pages (the blocklist-ORDER array contract
    // — the list is deliberately non-alphabetical), duplicate occurrences
    // (distinctness), and EMBEDDED occurrences (xforbidden fruit /
    // forbidden fruitx) that the word-boundary rule must reject even when
    // two rejected spans sit adjacent; DuckDB replays each phrase as one
    // RE2 word-boundary regexp over the identical plant
    "q259_blocklist_filter" -> ((s, d) => {
      val t2 = concat(
        when(pmod(col("doc_id"), lit(19)) === 0, lit("zzqx "))
          .otherwise(lit("")),
        col("text"),
        when(pmod(col("doc_id"), lit(11)) === 0, lit(" Dark PATTERN."))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(13)) === 0, lit(" xforbidden fruit"))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(17)) === 0, lit(" forbidden fruitx"))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 0, lit(" and zzqx"))
          .otherwise(lit("")))
      t(s, d, "documents").filter(col("doc_id") < 150)
        .select(col("doc_id"),
          TA.phraseMatches(lower(t2), BlockPhrases).as("__m"))
        .select(col("doc_id"),
          array_join(col("__m"), "|").as("matched"),
          size(col("__m")).cast("long").as("n_matched"),
          (size(col("__m")) > 0).as("blocked"))
        .orderBy("doc_id")
    }),

    // Unicode NFC normalization gate: the same glyphs planted in
    // DECOMPOSED (base + combining mark) and COMPOSED (single codepoint)
    // encodings must collapse onto ONE byte stream — codepoint counts
    // shrink on the decomposed rows, stay put elsewhere, and the
    // normalized-suffix fingerprint is IDENTICAL across the two plant
    // variants (the twin pin); native java.text.Normalizer projection vs
    // DuckDB's nfc_normalize, full-text md5s hash-pinned
    "q242_unicode_nfc" -> ((s, d) => {
      val m3 = pmod(col("doc_id"), lit(3))
      val sfx = when(m3 === 0, lit(NfcDecomposed))
        .when(m3 === 1, lit(NfcComposed)).otherwise(lit(""))
      t(s, d, "documents").filter(col("doc_id") < 30)
        .select(col("doc_id"), concat(col("text"), sfx).as("t2"),
          sfx.as("sfx"))
        .select(col("doc_id"),
          length(col("t2")).cast("long").as("n_raw"),
          length(TA.normalizeText(col("t2"))).cast("long").as("n_nfc"),
          md5(TA.normalizeText(col("t2"))).as("fp"),
          md5(TA.normalizeText(col("sfx"))).as("sfx_fp"))
        .orderBy("doc_id")
    }),

    // BYTE-level BPE apply (GPT-2's actual alphabet): the same native
    // merge loop with initial symbols = UTF-8 bytes mapped through the
    // bytes-to-unicode table, against planted non-ASCII text — a 2-byte
    // é/ü reassembled by merges, a 3-byte € built through a chained
    // merge, an unmerged ß costing two symbols (the codepoint-mode
    // budget drift this closes), ASCII merges riding the identity map.
    // The oracle re-derives every word's byte sequence via hex(encode())
    // against an embedded 256-row byte-to-char table and replays the
    // identical rank-sweep merge loop (the q172 RECURSIVE-CTE discipline)
    "q241_bpe_byte_level" -> ((s, d) => {
      t(s, d, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"), concat(col("text"), lit(BytePlant)).as("t2"))
        .select(col("doc_id"),
          TA.bpeTokens(col("t2"), ByteMerges, byteLevel = true).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          md5(array_join(col("toks"), " ")).as("fp"))
        .orderBy("doc_id")
    }),

    // trained-vocab BPE apply: the native merge-loop expression against
    // the planted rank-ordered vocabulary — per-doc subword count and a
    // byte-pinned fingerprint of the full subword stream (order included)
    "q172_bpe_apply" -> ((s, d) => {
      t(s, d, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"),
          TA.bpeTokens(col("text"), BpeMerges).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          md5(array_join(col("toks"), " ")).as("fp"))
        .orderBy("doc_id")
    }),

    // the MOSS overlap miner end-to-end: planted shared runs on every
    // 25th doc must pair up through print-blocked mining (never
    // all-pairs); every surviving pair and its shared-print count pinned
    "q179_winnow_overlap" -> ((s, d) => {
      val planted = t(s, d, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(25)) === 0,
            concat(col("text"),
              lit(" shared overlap run alpha beta gamma delta epsilon")))
            .otherwise(col("text")).as("text2"))
      TA.winnowedOverlapPairs(planted, col("doc_id"), col("text2"),
          k = 4, w = 5, minShared = 1L, maxDocsPerPrint = 50L)
        .orderBy(col("n_shared").desc, col("i"), col("j"))
        .limit(20)
        .select(col("i"), col("j"), col("n_shared"))
        .orderBy(col("n_shared").desc, col("i"), col("j"))
    }),

    // winnowing fingerprints (MOSS): k=4-gram hashes, w=5 window-min
    // selection — every print value pinned via count/min/max and an
    // order-insensitive fingerprint of the sorted print set
    "q178_winnowing" -> ((s, d) => {
      t(s, d, "documents").filter(col("doc_id") < 30)
        .select(col("doc_id"),
          size(TA.ngramSlots(col("text"), 4)).cast("long").as("n_grams"),
          TA.winnowedPrints(col("text"), k = 4, w = 5).as("pr"))
        .select(col("doc_id"), col("n_grams"),
          size(col("pr")).cast("long").as("n_prints"),
          array_min(col("pr")).as("min_print"),
          array_max(col("pr")).as("max_print"),
          md5(array_join(transform(array_sort(col("pr")),
            x => x.cast("string")), ",")).as("fp"))
        .orderBy("doc_id")
    }),

    // CCNet-style paragraph dedup, keep-first: documents re-segmented
    // into 8-token paragraphs with a shared boilerplate header planted on
    // every 4th doc — the header must survive ONLY at its globally first
    // occurrence (doc 0, position 0) and vanish from every other doc;
    // per-doc counts and a rebuilt-text fingerprint pin every decision
    "q177_paragraph_dedup" -> ((s, d) => {
      import graft.ops.Dedup
      val toks = split(col("text"), " ")
      val segs = transform(
        sequence(lit(0), ((size(toks) - 1) / 8).cast("int")),
        i => array_join(slice(toks, i * 8 + 1, lit(8)), " "))
      val paras = when(pmod(col("doc_id"), lit(4)) === 0,
          concat(array(lit("shared boilerplate header")), segs))
        .otherwise(segs)
      val planted = t(s, d, "documents")
        .select(col("doc_id"), array_join(paras, "\n").as("text2"))
      Dedup.dedupParagraphsKeepFirst(planted, col("doc_id"), col("text2"))
        .filter(col("id") < 30)
        .select(col("id").as("doc_id"), col("n_paras"), col("n_kept"),
          md5(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // Gopher's line-repetition gate (Rae et al. 2021 Table A1): duplicate-
    // line and duplicate-line-char fractions over a planted line structure —
    // heavy repeats (every 7th doc: first 3 lines duplicated wholesale) fail
    // the 0.30/0.20 thresholds, mild repeats (every 3rd doc: 2 lines
    // re-appended) ride the boundary; every fraction and verdict pinned
    "q200_gopher_line_repetition" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val segs = transform(
        sequence(lit(0), ((size(toks) - 1) / 8).cast("int")),
        i => array_join(slice(toks, i * 8 + 1, lit(8)), " "))
      val paras = when(pmod(col("doc_id"), lit(7)) === 0,
          concat(slice(segs, 1, 3), slice(segs, 1, 3)))
        .otherwise(when(pmod(col("doc_id"), lit(3)) === 0,
          concat(segs, slice(segs, 1, 2))).otherwise(segs))
      // explode(array(...)) is a Generate barrier: the plant construction
      // is referenced by 6 downstream expressions and would otherwise
      // re-evaluate per reference after CollapseProject (the q201 trap)
      t(s, d, "documents")
        .select(col("doc_id"), explode(array(array_join(paras, "\n"))).as("text2"))
        .select(col("doc_id"),
          size(split(col("text2"), "\n")).as("n_lines"),
          // exact-count rationals round IN INTEGER SPACE (r13 census —
          // the InventorySpec sweep flagged the old round(frac, 6) here)
          TA.dupLineFractionRounded(col("text2")).as("dup_line_frac"),
          TA.dupLineCharFractionRounded(col("text2")).as("dup_char_frac"),
          TA.gopherLineRepetitionOk(col("text2")).as("ok"))
        .orderBy("doc_id")
    }),

    // pruned inverted-index build: per term, the top-3 postings by (tf,
    // doc) — the impact-ordered index materialization behind serving-time
    // BM25 (q195 builds postings per query; this PERSISTS the structure,
    // champion-list pruning bounding each list). Two-phase rank on the
    // term key; every surviving posting pinned for 8 probe terms
    "q236_posting_lists" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val terms = Seq("table", "row", "scan", "join", "key", "window",
        "fast", "slow")
      t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w").isin(terms: _*))
        .groupBy("w", "doc_id").agg(count(lit(1)).as("tf"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("w").orderBy(col("tf").desc, col("doc_id"))))
        .filter(col("rk") <= 3)
        .select(col("w").as("term"), col("doc_id"), col("tf"), col("rk"))
        .orderBy("term", "rk")
    }),

    // word2phrase mining (Mikolov et al. 2013 §4): bigram score
    // (c_ab − δ)·N / (c_a·c_b) — ALL integer counts, one final division,
    // so scores are cross-engine exact before rounding (the PMI twin q112
    // needs ln; this is the rational formulation real word2vec ships).
    // Adjacent-pair counts come from the native slot array; top-15 by the
    // rounded score with min-count floors
    "q234_word2phrase" -> ((s, d) => {
      graft.GraftExtensions.ensureRegistered(s)
      val docs = t(s, d, "documents")
      val toks = docs.select(explode(split(col("text"), " ")).as("w"))
      val uni = toks.groupBy("w").agg(count(lit(1)).as("c1"))
      val bi = docs
        .select(explode(call_function("ngram_slots", col("text"), lit(2)))
          .as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("cab"))
        .filter(col("cab") >= 5)
      val n = toks.agg(count(lit(1)).as("nn"))
      bi.withColumn("wa", split(col("bg"), " ").getItem(0))
        .withColumn("wb", split(col("bg"), " ").getItem(1))
        .join(uni.select(col("w").as("wa"), col("c1").as("ca")), "wa")
        .join(uni.select(col("w").as("wb"), col("c1").as("cb")), "wb")
        .crossJoin(broadcast(n))
        .select(col("bg").as("bigram"), col("cab"), col("ca"), col("cb"),
          ExactRound.ratioRoundedCol(
            (col("cab") - lit(3L)).cast("decimal(38,0)") * col("nn"),
            col("ca").cast("decimal(38,0)") * col("cb"), 6).as("score"))
        .orderBy(col("score").desc, col("bigram"))
        .limit(15)
    }),

    // deterministic DRAWS from q232's distribution: inverse-CDF sampling
    // with a portable hash as the uniform — negatives are a pure function
    // of (anchor, draw index), so every engine/run/retry draws the same
    // words. The cumulative table is vocabulary-sized (driver-small by
    // contract) and broadcasts into a range join; the running Σ's order is
    // fixed by the window frame, so the CDF is cross-engine identical
    "q233_negative_draws" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import graft.ops.Sampling
      val toks = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
      val cum = toks.groupBy("w").agg(count(lit(1)).as("n"))
        .withColumn("wgt", col("n") / sqrt(sqrt(col("n"))))
        .withColumn("cumw", sum("wgt").over(Window.orderBy("w")))
        .withColumn("prev",
          coalesce(lag("cumw", 1).over(Window.orderBy("w")), lit(0.0)))
      val tot = cum.agg(max("cumw").as("tot"))
      t(s, d, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"), explode(sequence(lit(1), lit(4))).as("draw"))
        .crossJoin(broadcast(tot))
        .withColumn("u",
          (Sampling.hashBucket(concat(col("doc_id").cast("string"), lit(":"),
            col("draw").cast("string")), 5) + 1).cast("double")
            / lit(1000000.0) * col("tot"))
        .join(broadcast(cum), col("u") > col("prev") && col("u") <= col("cumw"))
        .select(col("doc_id"), col("draw"), col("w").as("word"))
        .orderBy("doc_id", "draw")
    }),

    // word2vec negative-sampling distribution: p(w) ∝ count^(3/4) — the
    // smoothing computed as n / sqrt(sqrt(n)), a chain of CORRECTLY-
    // ROUNDED IEEE ops (sqrt is exact-rounded; pow(x, 0.75) is not and
    // differs across libms), so every weight is cross-engine bit-identical
    // before the rounding grid even matters
    "q232_negative_sampling" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
      val weighted = toks.groupBy("w").agg(count(lit(1)).as("n"))
        .withColumn("wgt", col("n") / sqrt(sqrt(col("n"))))
      weighted.crossJoin(broadcast(weighted.agg(sum("wgt").as("tot"))))
        .select(col("w").as("word"), col("n"),
          round(col("wgt"), 6).as("weight"),
          round(col("wgt") / col("tot"), 6).as("p_neg"))
        .orderBy("word")
    }),

    // per-source percentile-rank score normalization: heterogeneous
    // quality scores (char entropy here) made comparable ACROSS sources by
    // mapping each to its within-source percent_rank — the calibration
    // step before any cross-source quality cut (a CCNet-style per-group
    // discipline; absolute thresholds mean different things per domain).
    // Window partitions by the source key — per-entity at scale, never a
    // global sort; ranks ordered by the ROUNDED score (deterministic
    // boundary), percentiles exact rational (rank−1)/(n−1)
    "q229_score_normalize" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      graft.GraftExtensions.ensureRegistered(s)
      // empty texts are excluded IDENTICALLY on both sides: the oracle's
      // per-char unnest yields no rows for '' (the doc would silently
      // vanish from its source's rank denominator there while being
      // scored 0.0 here — a latent divergence the generated corpus never
      // exercises, flagged by the r10 advisor)
      val scored = t(s, d, "documents")
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), col("source"),
          round(call_function("char_entropy", col("text")), 6).as("e6"))
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy(col("e6"), col("doc_id"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
        .select(col("doc_id"), col("source"), col("e6"),
          when(col("n") === 1, lit(0.0))
            .otherwise(ExactRound.ratioRoundedCol(
              col("rn") - 1, col("n") - 1, 6)).as("pctl"))
        .orderBy("doc_id")
    }),

    // the full Gopher document-quality gate (Rae et al. Table A1, the
    // non-repetition half — q200 carries the repetition half): word-count
    // band, mean word length, symbol ratios, alpha-word share, stop-word
    // floor, all one codegen'd CASE. Plants flip specific rules: every 6th
    // doc gains '#' symbols (symbol ratio), every 17th becomes digits-only
    // (alpha + stop-word rules); signals AND the verdict pinned per doc
    "q225_gopher_quality" -> ((s, d) => {
      val digits = (1 to 21).mkString(" ")
      val planted = t(s, d, "documents")
        .withColumn("t2",
          when(pmod(col("doc_id"), lit(6)) === 0,
            concat(col("text"), lit(" # # # # # # # #")))
          .when(pmod(col("doc_id"), lit(17)) === 0, lit(digits))
          .otherwise(col("text")))
      planted.select(col("doc_id"),
          TA.tokenCount(col("t2")).as("n_words"),
          TA.avgWordLenR6(col("t2")).as("mean_word_len"),
          TA.symbolWordRatioR6(col("t2"), "#").as("hash_ratio"),
          TA.alphaWordFractionR6(col("t2")).as("alpha_frac"),
          TA.countInSet(col("t2"), TA.EnglishStopwords).as("n_stop"),
          TA.gopherQualityOk(col("t2"), minWords = 20).as("ok"))
        .orderBy("doc_id")
    }),

    // cross-source duplication matrix: which sources copy from each other
    // — near-dup pairs rolled up to unordered (source, source) cells with
    // exact counts and mean overlap; the provenance diagnostic that
    // decides which feeds to dedup against each other first
    "q226_cross_source_dup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.jaccardPairs(docs, col("doc_id"), col("text"),
          n = 3, minJaccard = 0.5)
        .join(docs.select(col("doc_id").as("i"), col("source").as("src_i")),
          "i")
        .join(docs.select(col("doc_id").as("j"), col("source").as("src_j")),
          "j")
        .groupBy(least(col("src_i"), col("src_j")).as("src_a"),
          greatest(col("src_i"), col("src_j")).as("src_b"))
        .agg(count(lit(1)).as("n_pairs"), sum("jacc_micro").as("__jm"))
        .select(col("src_a"), col("src_b"), col("n_pairs"),
          (ExactRound.halfUpDiv("__jm", "n_pairs").cast("double") / 1e6)
            .as("mean_jaccard"))
        .orderBy("src_a", "src_b")
    }),

    // near-dup EXPLANATION: every q45 pair decision made reviewable — the
    // shared-shingle count plus a deterministic 3-fingerprint evidence
    // sample (sorted md5s of the overlap). Texts join back onto the
    // bounded PAIR list only; the explanation never touches non-candidates
    "q221_dedup_explain" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      Dedup.jaccardPairs(docs, col("doc_id"), col("text"),
          n = 3, minJaccard = 0.8)
        .select("i", "j", "jacc_micro")
        .join(docs.select(col("doc_id").as("i"), col("text").as("ta")), "i")
        .join(docs.select(col("doc_id").as("j"), col("text").as("tb")), "j")
        .withColumn("sg", array_intersect(
          Dedup.shingles(col("ta"), 3), Dedup.shingles(col("tb"), 3)))
        .select(col("i"), col("j"),
          (col("jacc_micro").cast("double") / 1e6).as("jaccard"),
          size(col("sg")).as("n_shared"),
          array_join(slice(sort_array(
            transform(col("sg"), g => md5(g))), 1, 3), ",").as("evidence"))
        .orderBy("i", "j")
    }),

    // pure-SQL client surface: the quality gate expressed ENTIRELY in
    // spark.sql over a temp view with the registered NATIVE expressions
    // (char_entropy, simhash64) — a SQL-first user needs no Scala at all,
    // and the natives keep the whole gate inside whole-stage codegen
    "q220_sql_surface" -> ((s, d) => {
      graft.GraftExtensions.ensureRegistered(s)
      t(s, d, "documents").createOrReplaceTempView("docs_v")
      // length(text) > 0 mirrors the oracle, whose per-char unnest drops
      // empty-text docs from its entropy CTE (and so from its inner
      // join) while this side would score them — the r10-advisor latent
      // divergence, closed by filtering identically on both engines
      s.sql("""
        SELECT source, count(*) AS n_docs,
          CAST(sum(CASE WHEN round(char_entropy(text), 6) >= 3.5
            AND size(split(text, ' ')) >= 20 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_keep,
          CAST(sum(simhash64(text, 16)) AS BIGINT) AS sim_check
        FROM docs_v WHERE length(text) > 0
        GROUP BY source ORDER BY source""")
    }),

    // per-source PII incidence report — the compliance audit run before a
    // release: email/phone shape counts per source over planted PII (every
    // 5th doc gains an email, every 11th a phone), using the SAME patterns
    // the scrub redacts so "counted" and "redacted" can never disagree
    "q206_pii_report" -> ((s, d) => {
      val planted = t(s, d, "documents")
        .withColumn("t2", when(pmod(col("doc_id"), lit(5)) === 0,
            concat(col("text"), lit(" contact bob@example.com now")))
          .otherwise(col("text")))
        .withColumn("t2", when(pmod(col("doc_id"), lit(11)) === 0,
            concat(col("t2"), lit(" call 555-123-4567 today")))
          .otherwise(col("t2")))
      planted.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(TA.emailCount(col("t2"))).cast("long").as("n_emails"),
          sum(TA.phoneCount(col("t2"))).cast("long").as("n_phones"),
          sum(when(TA.emailCount(col("t2")) > 0 || TA.phoneCount(col("t2")) > 0,
            1).otherwise(0)).cast("long").as("n_pii_docs"))
        .orderBy("source")
    }),

    // tokenizer-evaluation report: per language, chars-per-token and
    // FERTILITY (subword tokens per whitespace word) under the trained
    // vocab — the two numbers a tokenizer/vocab choice is judged by
    // (a high-fertility language pays more context budget per word).
    // Sums are exact integers; each ratio is ONE deterministic division
    // rounded to 6 (the revenue discipline)
    "q176_tokenizer_fertility" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("lang"),
          length(regexp_replace(col("text"), lit(" "), lit(""))).as("nchars"),
          TA.tokenCount(col("text")).as("nws"),
          TA.bpeTokenCount(col("text"), BpeMerges).as("nbpe"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("nchars").cast("long").as("sum_chars"),
          sum("nws").cast("long").as("sum_words"),
          sum("nbpe").cast("long").as("sum_bpe_tokens"))
        .select(col("lang"), col("n_docs"), col("sum_chars"),
          col("sum_words"), col("sum_bpe_tokens"),
          ExactRound.ratioRounded("sum_chars", "sum_bpe_tokens", 6)
            .as("chars_per_token"),
          ExactRound.ratioRounded("sum_bpe_tokens", "sum_words", 6)
            .as("fertility"))
        .orderBy("lang")
    }),

    // token-budget admission metered by the TRAINED tokenizer: q134's
    // scale-safe hash-prefix budget take, with the cost column coming from
    // the native BPE merge loop instead of the whitespace estimate — the
    // budget now counts the tokens the training run will actually see
    "q173_bpe_budget" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("ntok", TA.bpeTokenCount(col("text"), BpeMerges))
      graft.ops.Sampling.budgetPerGroup(docs, col("doc_id"), col("ntok"),
          col("source"), budget = 2000)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"),
          sum("ntok").cast("long").as("sum_tokens"))
        .orderBy("source")
    }),

    // C4 rule-based cleaning (Raffel et al. §2.2): documents re-segmented
    // into 7-token lines with terminal punctuation planted on 2 of every 3
    // lines, a "lorem ipsum" page on every 40th doc, a curly-brace code
    // leak on every 50th, a javascript boilerplate line on every 7th —
    // line retention (punctuation + ≥4 words + no "javascript") and
    // page-level drops pinned per doc via counts and a cleaned-text md5
    "q181_c4_line_filter" -> ((s, d) => {
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
      t(s, d, "documents")
        .select(col("doc_id"), array_join(lines, "\n").as("text2"))
        .filter(col("doc_id") < 60)
        .select(col("doc_id"),
          size(split(col("text2"), "\n")).cast("long").as("n_lines"),
          TA.c4DocOk(col("text2")).as("doc_ok"),
          size(filter(split(col("text2"), "\n"),
            l => TA.c4KeepLine(l, minWords = 4))).cast("long").as("n_kept"),
          md5(TA.c4CleanText(col("text2"), minWords = 4)).as("fp"))
        .orderBy("doc_id")
    }),

    // the CCNet head pipeline in CCNet's own stage ORDER and output shape
    // (Wenzek et al. 2020: paragraph dedup → lang-ID → per-language LM
    // terciles): q177's paragraph plant + keep-first dedup, the q184 NB
    // lang classifier (marker-planted, trained on the 4/5 slice, applied
    // to ALL docs), the q169 5-gram backoff LM over the deduped text, and
    // head/middle/tail terciles PER PREDICTED LANGUAGE — the (lang,
    // bucket) cell counts CCNet actually publishes, id-sum-pinned
    "q185_ccnet_head" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = split(col("text"), " ")
      val segs = transform(
        sequence(lit(0), ((size(toks) - 1) / 8).cast("int")),
        i => array_join(slice(toks, i * 8 + 1, lit(8)), " "))
      val paras = when(pmod(col("doc_id"), lit(4)) === 0,
          concat(array(lit("shared boilerplate header")), segs))
        .otherwise(segs)
      val planted = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), array_join(paras, "\n").as("ptext"))
      val deduped = Dedup.dedupParagraphsKeepFirst(planted, col("doc_id"),
          col("ptext"))
        .select(col("id").as("doc_id"), col("text").as("rb"))
      // materialize the deduped corpus ONCE: the LM derives 5 count tables
      // and the classifier fits+scores from this frame — uncached, the
      // paragraph-dedup lineage would re-execute under each (measured
      // 9.8 s → 6.0 s at sf0.1; the remainder IS the 5-gram ladder, the
      // same ~3.6 s q169 pays on this corpus size). The 100 TB analogue is
      // checkpointing the deduped corpus before the statistics passes —
      // CCNet's own layout.
      // r19 (optimization round): cache() → eager checkpoint (a Waist). cache
      // cuts EXECUTION but leaves the full paragraph-dedup lineage inside
      // every consumer's LOGICAL plan — with ~8 references (nbFit's two
      // collects, nbPredict, the 5 count tables, the slot stream) the
      // optimizer re-traversed a ~250 KB plan per reference and codegen'd
      // against it (the suite's largest plan). The checkpoint truncates
      // lineage to an in-memory scan: same materialize-once semantics,
      // driver-side planning drops with it (guide §3.3: very wide plans —
      // materialize the intermediate to truncate).
      val withLang = Waist.cut(deduped
        .join(planted.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"),
          when(pmod(col("doc_id"), lit(7)) =!= 1,
            concat(col("rb"), lit(" lm_"), col("lang")))
            .otherwise(col("rb")).as("mtext")))
      val model = TA.nbFit(withLang.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        col("lang"), col("mtext"), nBuckets = 64, seed = 11)
      val pred = TA.nbPredict(withLang, col("doc_id"), col("mtext"), model)
      val lm = TA.stupidBackoff(withLang, col("doc_id"), col("mtext"),
        withLang, col("mtext"), order = 5)
      pred.join(lm.select(col("id"), col("xent_micro")), Seq("id"))
        .withColumn("bucket",
          array(lit("head"), lit("middle"), lit("tail"))(
            ntile(3).over(Window.partitionBy(col("pred")).orderBy(
              col("xent_micro").asc_nulls_last, col("id"))) - 1))
        .groupBy("pred", "bucket")
        .agg(count(lit(1)).as("n_docs"), sum("id").as("sum_ids"))
        .orderBy("pred", "bucket")
    }),

    // BM25 lexical retrieval: 3 fixed queries against the corpus, top-5
    // each — every score (6-decimal grid) and rank pinned; ranking orders
    // by the ROUNDED score so the boundary is cross-engine deterministic
    "q195_bm25" -> ((s, d) => {
      import s.implicits._
      val qs = Seq(("q1", "table scan fast"), ("q2", "merge join slow"),
        ("q3", "vector spark stream")).toDF("qid", "qtext")
      TA.bm25TopK(t(s, d, "documents"), col("doc_id"), col("text"),
          qs, col("qid"), col("qtext"), k = 5)
        .orderBy("qid", "rk")
    }),

    // two-stage retrieve-then-rerank (the standard serving shape next to
    // q196's rank fusion): BM25 generates 20 lexical candidates per query,
    // the query's anchor embedding reranks them by fused codegen cosine,
    // top-5 survive — both stages' ranks pinned
    "q208_retrieve_rerank" -> ((s, d) => {
      import s.implicits._
      import graft.ops.{Similarity => Sim}
      val qs = Seq(("q1", "table scan fast", 1L), ("q2", "merge join slow", 2L),
        ("q3", "vector spark stream", 3L)).toDF("qid", "qtext", "avid")
      val lex = TA.bm25TopK(t(s, d, "documents"), col("doc_id"), col("text"),
        qs, col("qid"), col("qtext"), k = 20)
      val e = t(s, d, "embeddings")
      val cand = lex.select(col("qid"), col("doc"), col("rk").as("lex_rk"))
        .join(qs.select("qid", "avid"), "qid")
        .join(e.select(col("vec_id").as("doc"), col("embedding").as("dvec")),
          "doc")
        .join(e.select(col("vec_id").as("avid"), col("embedding").as("qvec")),
          "avid")
      val scored = cand.withColumn("c",
        Sim.cosineNative(cand, col("dvec"), col("qvec")))
      scored
        .withColumn("rrk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
            .orderBy(col("c").desc, col("doc"))))
        .filter(col("rrk") <= 5)
        .select(col("qid"), col("doc"), col("lex_rk"),
          round(col("c"), 6).as("cos"), col("rrk"))
        .orderBy("qid", "rrk")
    }),

    // hybrid retrieval: q195's BM25 lexical list fused with a sign-LSH
    // vector list (anchors 1-3 ↔ q1-q3) by Reciprocal Rank Fusion —
    // every fused score and rank pinned
    "q196_hybrid_rrf" -> ((s, d) => {
      import s.implicits._
      import graft.ops.{Similarity => Sim}
      val qs = Seq(("q1", "table scan fast"), ("q2", "merge join slow"),
        ("q3", "vector spark stream")).toDF("qid", "qtext")
      val lex = TA.bm25TopK(t(s, d, "documents"), col("doc_id"), col("text"),
        qs, col("qid"), col("qtext"), k = 5)
      val e = t(s, d, "embeddings")
      val vec = Sim.annJoin(
          e.filter(col("vec_id").isin(1L, 2L, 3L)), col("vec_id"),
          col("embedding"),
          e.filter(!col("vec_id").isin(1L, 2L, 3L)), col("vec_id"),
          col("embedding"), bits = 4, k = 5)
        .select(concat(lit("q"), col("i").cast("string")).as("qid"),
          col("j").as("doc"), col("rk"))
      TA.rrfFuse(lex.select(col("qid"), col("doc"), col("rk")), vec, k = 5)
        .orderBy("qid", "rk")
    }),

    // LSH banding audit: the q46 production configuration (k=16, 4 bands
    // of 4) measured against exact Jaccard truth at τ=0.4, with PARTIAL
    // near-dups planted (70% prefix kept + per-doc junk suffix ⇒
    // jaccard ≈ 0.5 — squarely in the banding S-curve's miss zone, so
    // the report shows REAL false negatives, not a degenerate 1.0/1.0);
    // every count and both derived rates pinned exactly
    // LSH banding SWEEP: q194's audit across the (k=16, bands ∈ {2,4,8})
    // S-curve family on the same planted mid-similarity corpus — the
    // measured recall/precision trade that picks a production config
    // instead of guessing it. One SHARED truth+signature pass for all
    // configs (r13); at 100 TB run on a sampled slice like q194
    "q223_lsh_sweep" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val toks = split(col("text"), " ")
      val keepN = ((size(toks) * 7) / 10).cast("int")
      val junk = array_join(transform(sequence(lit(1), size(toks) - keepN),
        i => concat(lit("zz"), (col("doc_id") + i).cast("string"))), " ")
      val copies = docs.filter(pmod(col("doc_id"), lit(43)) === 0)
        .withColumn("text",
          concat(array_join(slice(toks, lit(1), keepN), " "), lit(" "), junk))
        .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
      val planted = docs.select(col("doc_id"), col("text")).unionByName(copies)
      // r13: ONE truth pass + ONE signature pass shared across the three
      // bandings (lshAuditSweep) — was three full lshAudit calls, whose
      // repeated exact-Jaccard truth join made q223 the suite's most
      // linear scaler (10.6× at 10× data); the 0.0 sentinel for empty
      // denominators now lives inside the op, not this caller
      Dedup.lshAuditSweep(planted, col("doc_id"), col("text"),
          n = 3, k = 16, bandsList = Seq(2, 4, 8), minJaccard = 0.4)
        .orderBy("bands")
    }),

    "q194_lsh_audit" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val toks = split(col("text"), " ")
      val keepN = ((size(toks) * 7) / 10).cast("int")
      val junk = array_join(transform(sequence(lit(1), size(toks) - keepN),
        i => concat(lit("zz"), (col("doc_id") + i).cast("string"))), " ")
      // two steps, NOT one select: a single select list aliasing "doc_id"
      // would make junk's col("doc_id") resolve to the LATERAL alias (the
      // +500000 value) instead of the child column — Spark's implicit
      // lateral-column-alias rule shadows same-name child attributes
      val copies = docs.filter(pmod(col("doc_id"), lit(43)) === 0)
        .withColumn("text",
          concat(array_join(slice(toks, lit(1), keepN), " "), lit(" "), junk))
        .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
      val planted = docs.select(col("doc_id"), col("text")).unionByName(copies)
      Dedup.lshAudit(planted, col("doc_id"), col("text"),
        n = 3, k = 16, bands = 4, minJaccard = 0.4)
    }),

    // quantile-gated quality filtering: keep docs at or below the approx
    // 70th-percentile char entropy (one GK-sketch threshold, no global
    // sort). Bound-check contract (the q118 discipline): the sketch
    // threshold and the op's survivor count must land inside the exact
    // p±0.02 rank band — booleans computed honestly Spark-side, pinned
    // TRUE by the oracle next to the exact doc total
    "q191_quantile_gate" -> ((s, d) => {
      val scored = TA.charEntropy(t(s, d, "documents"), col("doc_id"),
        col("text"))
      val keptN = broadcast(
        graft.ops.Sampling.quantileGate(scored, col("entropy"), p = 0.7,
            accuracy = 1000)
          .agg(count(lit(1)).as("n_kept")))
      val thr = broadcast(scored.agg(
        percentile_approx(col("entropy"), lit(0.7), lit(1000)).as("tv")))
      val exact = broadcast(scored.agg(
        expr("percentile(entropy, 0.68)").as("lov"),
        expr("percentile(entropy, 0.72)").as("hiv")))
      scored.crossJoin(thr).crossJoin(exact)
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(col("entropy") <= col("lov"), 1L).otherwise(0L)).as("n_lo"),
          sum(when(col("entropy") <= col("hiv"), 1L).otherwise(0L)).as("n_hi"),
          first(col("tv")).as("tv"),
          first(col("lov")).as("lov"), first(col("hiv")).as("hiv"))
        .crossJoin(keptN)
        .select(lit(0.7).as("p"),
          (col("tv") >= col("lov") && col("tv") <= col("hiv"))
            .as("thr_in_band"),
          (col("n_kept") >= col("n_lo") && col("n_kept") <= col("n_hi"))
            .as("kept_in_band"),
          col("n_total"))
    }),

    // CCNet's actual per-LANGUAGE cut: the q191 gate grouped by lang —
    // per-group GK thresholds broadcast-joined into the filter; the same
    // honest band booleans pinned TRUE per language
    "q192_quantile_gate_per_lang" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val scored = TA.charEntropy(docs, col("doc_id"), col("text"))
        .join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id"))
      val keptN = graft.ops.Sampling.quantileGatePerGroup(scored,
          col("entropy"), col("lang"), p = 0.7, accuracy = 1000)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
      val thr = scored.groupBy("lang").agg(
        percentile_approx(col("entropy"), lit(0.7), lit(1000)).as("tv"))
      val exact = scored.groupBy("lang").agg(
        expr("percentile(entropy, 0.68)").as("lov"),
        expr("percentile(entropy, 0.72)").as("hiv"))
      scored.join(broadcast(exact), "lang")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("entropy") <= col("lov"), 1L).otherwise(0L)).as("n_lo"),
          sum(when(col("entropy") <= col("hiv"), 1L).otherwise(0L)).as("n_hi"),
          first(col("lov")).as("lov"), first(col("hiv")).as("hiv"))
        .join(broadcast(thr), "lang").join(broadcast(keptN), "lang")
        .select(col("lang"),
          (col("tv") >= col("lov") && col("tv") <= col("hiv"))
            .as("thr_in_band"),
          (col("n_kept") >= col("n_lo") && col("n_kept") <= col("n_hi"))
            .as("kept_in_band"),
          col("n_total"))
        .orderBy("lang")
    }),

    // encoding-damage gate: U+FFFD runs planted on every 9th doc, C0
    // control bytes on every 13th (both on 117) — replacement counts,
    // control counts and the strict pass/fail verdict pinned per doc
    "q186_encoding_filter" -> ((s, d) => {
      val withRepl = when(pmod(col("doc_id"), lit(9)) === 0,
        concat(col("text"), lit(" \ufffd\ufffd\ufffd"))).otherwise(col("text"))
      val damaged = when(pmod(col("doc_id"), lit(13)) === 0,
        concat(withRepl, lit("\u0001\u0007"))).otherwise(withRepl)
      t(s, d, "documents")
        .select(col("doc_id"), damaged.as("t2"))
        .filter(col("doc_id") < 120)
        .select(col("doc_id"),
          TA.replacementCharCount(col("t2")).as("n_repl"),
          TA.controlCharCount(col("t2")).as("n_ctrl"),
          TA.encodingOk(col("t2"), maxReplRatio = 0.005).as("ok"))
        .orderBy("doc_id")
    }),

    // MOSS-grade fuzzy decontamination: a 15-token benchmark run planted
    // into every eval doc (doc_id ≡ 0 mod 97) AND into corpus docs ≡ 0
    // mod 31 — the winnowing guarantee (shared run ≥ w+k−1 ⇒ ≥1 shared
    // print) must flag every planted corpus doc; survivors pinned per
    // source via count + id-sum
    "q183_winnow_decontam" -> ((s, d) => {
      val run = " alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron"
      val docs = t(s, d, "documents").select(col("doc_id"), col("source"),
        when(pmod(col("doc_id"), lit(97)) === 0 ||
            pmod(col("doc_id"), lit(31)) === 0,
          concat(col("text"), lit(run))).otherwise(col("text")).as("text2"))
      val corpus = docs.filter(pmod(col("doc_id"), lit(97)) =!= 0)
      val ev = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      Dedup.decontaminateByPrints(corpus, col("doc_id"), col("text2"),
          ev, col("text2"), k = 4, w = 5, minShared = 1L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("sum_ids"))
        .orderBy("source")
    }),

    // crawl-to-clean CAPSTONE: the round-11 hygiene chain end-to-end —
    // every page arrives as markup (tags + a script element) with
    // composed/decomposed encoding variants planted per doc, then
    // stripMarkup → NFC → the Gopher quality verdict per source, with an
    // order-free XOR content checksum (the q231 discipline) pinning the
    // full cleaned byte stream; decomposed and composed plants MUST land
    // on identical checksums or the NFC stage leaked
    "q253_crawl_to_clean" -> ((s, d) => {
      val m3 = pmod(col("doc_id"), lit(3))
      val raw = concat(lit("<html><p class=\"x\">"), col("text"),
        when(m3 === 0, lit(NfcDecomposed))
          .when(m3 === 1, lit(NfcComposed)).otherwise(lit("")),
        lit("</p><script>track();</script></html>"))
      t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          TA.normalizeText(TA.stripMarkup(raw)).as("clean"))
        .withColumn("__h",
          graft.functions.PortableHash.md5Long(col("clean"), 7))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(TA.gopherQualityOk(col("clean"), minWords = 20), 1)
            .otherwise(0)).cast("long").as("n_ok"),
          sum(TA.tokenCount(col("clean"))).cast("long").as("sum_tokens"),
          expr("bit_xor(__h)").as("content_xor"))
        .orderBy("source")
    }),

    // decontamination DASHBOARD: both lexical contamination rules run
    // side-by-side per source — GPT-3's exact 13-gram collision rule and
    // the MOSS winnowed-print rule — with the disagreement column
    // (n_fuzzy_only) that justifies running the fuzzy pass at all. The
    // plant makes the disagreement REAL: %31 docs carry the eval run
    // verbatim (both rules hit), %41 docs carry it with one token
    // inserted mid-run (the longest intact run is 10 < 13 tokens, so the
    // exact rule goes blind while winnowing's ≥ w+k−1 guarantee still
    // fires on the 10-token half)
    "q255_decontam_dashboard" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("source"),
        when(pmod(col("doc_id"), lit(97)) === 0 ||
            pmod(col("doc_id"), lit(31)) === 0,
          concat(col("text"), lit(DecontamRun)))
        .when(pmod(col("doc_id"), lit(41)) === 0,
          concat(col("text"), lit(DecontamEdited)))
        .otherwise(col("text")).as("text2"))
      val corpus = docs.filter(pmod(col("doc_id"), lit(97)) =!= 0)
      val ev = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      val exact = Dedup.ngramOverlap(corpus, col("doc_id"), col("text2"),
          ev, col("text2"), n = 13, threshold = 1e-9)
        .select(col("id"), col("contaminated").as("exact_hit"))
      val fuzzy = Dedup.printOverlap(corpus, col("doc_id"), col("text2"),
          ev, col("text2"), k = 4, w = 5, minShared = 1L)
        .select(col("id"), col("contaminated").as("fuzzy_hit"))
      corpus.select(col("doc_id").as("id"), col("source"))
        .join(exact, Seq("id"), "left")
        .join(fuzzy, Seq("id"), "left")
        .select(col("source"),
          coalesce(col("exact_hit"), lit(false)).as("e"),
          coalesce(col("fuzzy_hit"), lit(false)).as("f"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("e"), 1).otherwise(0)).cast("long").as("n_exact"),
          sum(when(col("f"), 1).otherwise(0)).cast("long").as("n_fuzzy"),
          sum(when(col("f") && !col("e"), 1).otherwise(0)).cast("long")
            .as("n_fuzzy_only"),
          sum(when(col("e") || col("f"), 1).otherwise(0)).cast("long")
            .as("n_flagged"))
        .orderBy("source")
    }),

    // trained hashed Naive Bayes classifier (the CCNet/LLaMA fastText
    // gate): fit on the 4/5 train slice with `lang` as the label, predict
    // the held-out 1/5. The corpus vocabulary is lang-independent word
    // soup, so a class-indicative marker token is planted on 6 of every 7
    // docs (both slices) — marked docs must classify by the learned
    // marker likelihoods, unmarked ones fall back to shared-token/prior
    // evidence; the full confusion matrix pinned (counts + id-sums per
    // true×predicted cell)
    "q184_nb_classifier" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"),
        when(pmod(col("doc_id"), lit(7)) =!= 1,
          concat(col("text"), lit(" lm_"), col("lang")))
          .otherwise(col("text")).as("text2"))
      val model = TA.nbFit(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        col("lang"), col("text2"), nBuckets = 64, seed = 11)
      val test = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      TA.nbPredict(test, col("doc_id"), col("text2"), model)
        .join(test.select(col("doc_id").as("id"), col("lang")), Seq("id"))
        .groupBy("lang", "pred")
        .agg(count(lit(1)).as("n"), sum("id").as("sum_ids"))
        .orderBy("lang", "pred")
    }),

    // language-ID CONFIDENCE gate (the CCNet/fastText rule the plain
    // argmax lacks): per test doc, the best-vs-second-best margin in
    // exact integer micro-nats — no exp()/softmax, so the gate is
    // cross-engine exact; docs under the threshold route to review
    // instead of silently taking a shaky label. Same plant/split as
    // q184 (markers on 6/7 of docs → both confident and shaky rows)
    "q254_langid_confidence" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"),
        when(pmod(col("doc_id"), lit(7)) =!= 1,
          concat(col("text"), lit(" lm_"), col("lang")))
          .otherwise(col("text")).as("text2"))
      val model = TA.nbFit(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        col("lang"), col("text2"), nBuckets = 64, seed = 11)
      val test = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      TA.nbPredictWithMargin(test, col("doc_id"), col("text2"), model)
        .filter(col("id") < 200)
        .select(col("id").as("doc_id"), col("pred"), col("margin_u"),
          (col("margin_u") >= 500000L).as("confident"))
        .orderBy("doc_id")
    }),

    "q40_dedup_exact" -> ((s, d) => {
      t(s, d, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("text")).as("n_distinct_text"),
          countDistinct(TA.fingerprint(col("text"))).as("n_distinct_fp"))
        .orderBy("source")
    }),

    "q41_fingerprint" -> ((s, d) => {
      // rolling hash is order-sensitive: sum over docs pins every value
      t(s, d, "documents")
        .select(col("source"), TA.fingerprint(col("text")).as("fp"),
          TA.rollingFingerprint(col("text")).as("rh"))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum("rh").cast("long").as("sum_rh"),
          min("fp").as("min_fp"), max("fp").as("max_fp"))
        .orderBy("source")
    }),

    "q42_token_count" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("lang"), TA.tokenCount(col("text")).as("ntok"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("ntok").cast("long").as("sum_tokens"),
          avg("ntok").as("avg_tokens"),
          min("ntok").cast("int").as("min_tokens"),
          max("ntok").cast("int").as("max_tokens"))
        .orderBy("lang")
    }),

    // mean-of-ratios on the exact micro grid (r15: the extended census
    // flagged the old avg(double ratio) — the q102 class): per-row ttr/awl
    // quantize to 1e-6 BIGINTs, the group mean is an order-free integer
    // sum + one halfUpDiv, and ONE final IEEE division emits the double
    "q43_quality" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("source"), TA.qualityClass(col("text")).as("qclass"),
          TA.typeTokenRatioMicro(col("text")).as("__ttr_u"),
          TA.avgWordLenMicro(col("text")).as("__awl_u"))
        .groupBy("source", "qclass")
        .agg(count(lit(1)).as("n"),
          (ExactRound.halfUpDivCol(sum("__ttr_u"), count(lit(1)))
            .cast("double") / 1e6).as("avg_ttr"),
          (ExactRound.halfUpDivCol(sum("__awl_u"), count(lit(1)))
            .cast("double") / 1e6).as("avg_awl"))
        .orderBy("source", "qclass")
    }),

    "q44_langid" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("lang"), TA.langId(col("text")).as("predicted"))
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted")
    }),

    "q45_shingle_jaccard" -> ((s, d) => {
      Dedup.jaccardPairs(t(s, d, "documents"), col("doc_id"), col("text"),
          n = 3, minJaccard = 0.8)
        .select(col("i"), col("j"),
          (col("jacc_micro").cast("double") / 1e6).as("jaccard"))
        .orderBy(col("jaccard").desc, col("i"), col("j"))
    }),

    // bounded-memory heavy hitters: per-language top-10 tokens via the
    // SpaceSaving sketch. Capacity (64) exceeds the corpus vocabulary, so
    // every count is exact (err = 0) and the DuckDB oracle replays it as an
    // exact count + rank — the same query under pressure degrades to
    // bounded-error estimates instead of failing (spec-tested)
    "q115_heavy_hitters" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      TA.heavyHitters(toks, col("lang"), col("tok"), capacity = 64, k = 10)
        .select(col("grp").as("lang"), col("rank"), col("term"), col("cnt"))
        .orderBy("lang", "rank")
    }),

    // incremental corpus dedup: a new batch filtered against the EXISTING
    // corpus's signature index only (never its text) — the continuous-
    // ingestion shape. Corpus = doc_id ≡ 0 (mod 3), incoming = the rest;
    // integer agree-count verify (≥ ⌈0.5·16⌉ = 8 of 16 components)
    "q113_incremental_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val corpusIdx = Dedup.minhashSignaturesRowwise(
        docs.filter(col("doc_id") % 3 === 0), col("doc_id"), col("text"),
        n = 3, k = 16)
      Dedup.dedupAgainstCorpus(docs.filter(col("doc_id") % 3 =!= 0),
          col("doc_id"), col("text"), corpusIdx,
          n = 3, k = 16, bands = 4, minEstJaccard = 0.5)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_ids"))
        .orderBy("source")
    }),

    // online text-admission gate (q113's corpus dedup as an INGESTION
    // gate, batch≡stream from one code path — TextStream.corpusGate):
    // within-arrival dedup on the row-wise MinHash signature (planted
    // exact-dup arrivals under +1e6 ids provably lose to their min-id
    // organics) + per-band anti joins against the corpus signature index
    // (corpus text never read). Census pins the admitted SET by category
    "q280_text_admission" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val corpusIdx = Dedup.minhashSignaturesRowwise(
        docs.filter(col("doc_id") % 3 === 0), col("doc_id"), col("text"),
        n = 3, k = 16)
      val organic = docs.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), col("source"), col("text"))
      val plants = organic.filter(pmod(col("doc_id"), lit(8)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
          col("text"))
      val arrivals = organic.unionByName(plants)
      val admitted = graft.streaming.TextStream.corpusGate(arrivals,
        corpusIdx, n = 3, k = 16, bands = 4, minEstJaccard = 0.5)
      arrivals.select(col("doc_id"),
          when(col("doc_id") >= 1000000L, lit("dup_plant"))
            .otherwise(lit("organic")).as("category"))
        .join(admitted.select(col("doc_id"), lit(1L).as("__a")),
          Seq("doc_id"), "left")
        .withColumn("__h", PortableHash.md5Long(
          col("doc_id").cast("string"), 99))
        .groupBy("category")
        .agg(count(lit(1)).as("n_in"),
          sum(coalesce(col("__a"), lit(0L))).as("n_admitted"),
          coalesce(expr("bit_xor(CASE WHEN __a IS NOT NULL THEN __h END)"),
            lit(0L)).as("admitted_checksum"))
        .orderBy("category")
    }),

    // symmetric RELEASE MERGE (q113's incremental dedup at release
    // granularity): release A = even ids (earlier), release B = odd ids
    // + PLANTED exact copies of every 10th A doc under +1e6 ids. The
    // merge keeps all of A and drops B rows that near-dup A — resolved
    // against A's SIGNATURE INDEX only (its text never re-paired, the
    // q158 contract); plants agree on all 16 MinHash components so the
    // keep-earlier rule provably fires, and the survivor SET per release
    // category is pinned by the order-free XOR membership checksum
    "q277_release_merge" -> ((s, d) => {
      val base = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val relA = base.filter(pmod(col("doc_id"), lit(2)) === 0)
      val plants = relA.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
          col("text"))
      val relB = base.filter(pmod(col("doc_id"), lit(2)) =!= 0)
        .unionByName(plants)
      val aIdx = Dedup.minhashSignaturesRowwise(relA, col("doc_id"),
        col("text"), n = 3, k = 16)
      val merged = Dedup.mergeReleases(relA, relB, col("doc_id"),
        col("text"), aIdx, n = 3, k = 16, bands = 4, minEstJaccard = 0.5)
      relA.unionByName(relB).select(col("doc_id"),
          when(col("doc_id") >= 1000000L, lit("plant_b"))
            .when(pmod(col("doc_id"), lit(2)) === 0, lit("release_a"))
            .otherwise(lit("organic_b")).as("category"))
        .join(merged.select(col("doc_id"), lit(1L).as("__k")),
          Seq("doc_id"), "left")
        .withColumn("__h", PortableHash.md5Long(
          col("doc_id").cast("string"), 99))
        .groupBy("category")
        .agg(count(lit(1)).as("n_in"),
          sum(coalesce(col("__k"), lit(0L))).as("n_kept"),
          coalesce(expr("bit_xor(CASE WHEN __k IS NOT NULL THEN __h END)"),
            lit(0L)).as("kept_checksum"))
        .orderBy("category")
    }),

    // cross-document repeated 5-gram spans (Lee et al. exact-substring
    // dedup signal): the most widely shared verbatim windows in the corpus
    "q146_repeated_spans" -> ((s, d) => {
      graft.ops.Dedup.repeatedSpans(t(s, d, "documents"),
          col("doc_id"), col("text"), L = 5, minDocs = 2L)
        .orderBy(col("n_docs").desc, col("n_occ").desc, col("gram"))
        .limit(20)
        .select(col("gram"), col("n_docs"), col("n_occ"))
        .orderBy(col("n_docs").desc, col("n_occ").desc, col("gram"))
    }),

    // CCNet-style LM quality scoring: add-1 bigram LM trained on the
    // corpus, every doc scored by per-bigram cross-entropy, then the
    // head/middle/tail tercile split (exact ntile here for the oracle; the
    // 100 TB path CASE-assigns against percentile_approx cutoffs)
    "q154_lm_quality" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      graft.ops.TextAnalysis.bigramCrossEntropy(docs, col("doc_id"),
          col("text"), docs, col("text"))
        .withColumn("bucket",
          array(lit("head"), lit("middle"), lit("tail"))(
            ntile(3).over(Window.orderBy(
              col("xent_micro").asc_nulls_last, col("id"))) - 1))
        .filter(col("id") < 20)
        .select(col("id").as("doc_id"), col("n_bigrams"),
          col("cross_entropy"), col("bucket"))
        .orderBy("doc_id")
    }),

    // trigram LM quality with stupid backoff (Brants 2007): one order up
    // from q154's bigram — seen trigram ratio, else α·bigram ratio, else
    // α²·add-1 unigram floor; every ln argument is an integer count so the
    // backoff replays cross-engine exactly
    "q157_lm_quality_trigram" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      graft.ops.TextAnalysis.trigramStupidBackoff(docs, col("doc_id"),
          col("text"), docs, col("text"))
        .withColumn("bucket",
          array(lit("head"), lit("middle"), lit("tail"))(
            ntile(3).over(Window.orderBy(
              col("xent_micro").asc_nulls_last, col("id"))) - 1))
        .filter(col("id") < 20)
        .select(col("id").as("doc_id"), col("n_trigrams"),
          col("cross_entropy"), col("bucket"))
        .orderBy("doc_id")
    }),

    // CCNet-grade 5-gram stupid backoff: the full KenLM-order ladder —
    // seen 5-gram ratio, else α·4-gram, α²·trigram, α³·bigram, else
    // α⁴·add-1 unigram floor; 9 count-table joins, every ln argument an
    // integer count and every slot quantized to micro-nats so the whole
    // ladder replays cross-engine exactly. The tercile is the SCALE-SAFE
    // exact ntile (Sampling.ntileExact: range-repartition + partition-
    // local rank + broadcast offsets — no single-partition window over
    // the corpus-sized score table; the oracle keeps the ntile form as
    // the executable spec and must agree bit for bit)
    "q169_lm_quality_5gram" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val scored = graft.ops.TextAnalysis.stupidBackoff(docs, col("doc_id"),
        col("text"), docs, col("text"), order = 5)
      graft.ops.Sampling.ntileExact(scored,
          Seq(col("xent_micro").asc_nulls_last, col("id").asc), 3, "__t")
        .withColumn("bucket",
          array(lit("head"), lit("middle"), lit("tail"))(col("__t") - 1))
        .filter(col("id") < 20)
        .select(col("id").as("doc_id"), col("n_ngrams"),
          col("cross_entropy"), col("bucket"))
        .orderBy("doc_id")
    }),

    // the PRUNED 5-gram ladder (KenLM-style minCount=2 on orders >= 2):
    // the 100 TB configuration — singleton grams drop from every count
    // table and scoring backs off through them; the oracle prunes with
    // the same HAVING threshold and must land on identical scores.
    // Tercile via the same scale-safe exact ntile as q169
    "q175_lm_5gram_pruned" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val scored = graft.ops.TextAnalysis.stupidBackoff(docs, col("doc_id"),
        col("text"), docs, col("text"), order = 5, minCount = 2L)
      graft.ops.Sampling.ntileExact(scored,
          Seq(col("xent_micro").asc_nulls_last, col("id").asc), 3, "__t")
        .withColumn("bucket",
          array(lit("head"), lit("middle"), lit("tail"))(col("__t") - 1))
        .filter(col("id") < 20)
        .select(col("id").as("doc_id"), col("n_ngrams"),
          col("cross_entropy"), col("bucket"))
        .orderBy("doc_id")
    }),

    // MOORE-LEWIS contrastive selection (TA.mooreLewis): in-domain
    // (src1+src2 documents) trigram cross-entropy MINUS general-corpus
    // cross-entropy, both on the exact micro-nat grid so the difference
    // is an exact BIGINT — negative = reads more like the target domain;
    // per-source census of the kept set (the in-domain sources must keep
    // a clear majority of their own docs — that's the planted signal:
    // their text IS the in-domain distribution) + membership checksum
    "q295_moore_lewis" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val inRef = docs.filter(col("source").isin("src1", "src2"))
      val ml = TA.mooreLewis(docs, col("doc_id"), col("text"),
        inRef, col("text"), docs, col("text"), order = 3)
      docs.select(col("doc_id"), col("source"))
        .join(ml, col("doc_id") === col("id"), "left")
        .withColumn("keep", col("ml_micro") < 0L)
        .withColumn("__h", PortableHash.md5Long(
          col("doc_id").cast("string"), 41))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(col("ml_micro")).as("n_scored"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
          sum("ml_micro").as("sum_ml"),
          min("ml_micro").as("min_ml"),
          max("ml_micro").as("max_ml"),
          coalesce(expr("bit_xor(CASE WHEN keep THEN __h END)"), lit(0L))
            .as("keep_checksum"))
        .orderBy("source")
    }),

    // MOORE-LEWIS composed into the curation FUNNEL (r17 verdict #8 —
    // q295 standalone becomes a Curation.Config selection stage next to
    // quality/dedup): per-stage survivor counts with the contrastive
    // filter between quality and exact dedup; built from the pipeline's
    // OWN stage chain, so the oracle re-deriving each stage pins the
    // composition against the code
    "q301_ml_curate_funnel" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val inRef = docs.filter(col("source").isin("src1", "src2"))
      graft.ops.Curation.funnel(docs, col("doc_id"), col("text"),
          col("lang"), graft.ops.Curation.Config(),
          mlRefs = Some((inRef, col("text"), docs, col("text"))))
        .orderBy("stage_idx")
    }),

    // DoReMi domain-weight optimization (Sampling.doremiWeights): proxy
    // LM = quarter-slice trigram ladder (the undertrained model),
    // reference LM = full-corpus ladder; per-source excess loss
    // max(0, xent_proxy − xent_ref) token-weighted onto the micro grid,
    // then 10 exponentiated-gradient steps with largest-remainder
    // re-gridding and 20 % uniform smoothing — every iterate sums to
    // exactly 1e6, and the oracle replays the whole loop as a list-state
    // recursive CTE (the FFD discipline), not just the final vector
    "q304_doremi_mixture" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val proxyRef = docs.filter(col("doc_id") % 4 === 0)
      graft.ops.Sampling.doremiWeights(docs, col("doc_id"), col("text"),
          col("source"), proxyRef, col("text"), docs, col("text"),
          iters = 10, etaPct = 100, smoothPct = 20, order = 3)
        .orderBy("domain")
    }),

    // character entropy: the gibberish/binary-junk quality signal —
    // planted low-entropy (one repeated char) and high-entropy (full
    // alphabet cycle) rows pin both tails through the same arithmetic
    "q153_char_entropy" -> ((s, d) => {
      val planted = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0, lit("aaaaaaaaaaaaaaaaaaaa"))
          .when(col("doc_id") % 7 === 1,
            lit("abcdefghijklmnopqrstuvwxyz0123456789"))
          .otherwise(col("text")).as("text"))
      graft.ops.TextAnalysis.charEntropy(planted, col("doc_id"), col("text"))
        .filter(col("id") < 20)
        .select(col("id").as("doc_id"), col("n_chars"), col("entropy"))
        .orderBy("doc_id")
    }),

    // span cutting: tokens covered by any cross-document repeated 5-gram
    // are removed everywhere, survivors rejoin in order — the
    // transformation half of exact-substring dedup; the oracle replays the
    // cut and fingerprints the rebuilt text byte-for-byte
    "q152_span_cut" -> ((s, d) => {
      graft.ops.Dedup.cutRepeatedSpans(t(s, d, "documents"),
          col("doc_id"), col("text"), L = 5, minDocs = 2L)
        .filter(col("id") < 10)
        .select(col("id").as("doc_id"), col("n_tokens"),
          col("n_tokens_kept"), md5(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // Lee et al.'s keep-first cut: every duplicated substring survives in
    // exactly its canonical (globally first) occurrence; rebuilt text
    // byte-pinned per doc
    "q168_span_cut_keep_first" -> ((s, d) => {
      graft.ops.Dedup.cutRepeatedSpansKeepFirst(t(s, d, "documents"),
          col("doc_id"), col("text"), L = 5, minDocs = 2L)
        .filter(col("id") < 10)
        .select(col("id").as("doc_id"), col("n_tokens"),
          col("n_tokens_kept"), md5(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // maximal repeated spans (Lee et al. span semantics): overlapping/
    // adjacent repeated 5-gram windows merge per doc into disjoint maximal
    // spans — the oracle replays the gaps-and-islands interval merge
    "q155_maximal_spans" -> ((s, d) => {
      graft.ops.Dedup.maximalRepeatedSpans(t(s, d, "documents"),
          col("doc_id"), col("text"), L = 5, minDocs = 2L)
        .filter(col("id") < 30)
        .select(col("id").as("doc_id"), col("span_start"), col("span_end"),
          col("span_len"), col("n_windows"))
        .orderBy("doc_id", "span_start")
    }),

    // per-document repeated-span coverage: fraction of a doc's 3-gram
    // windows shared verbatim with other docs — the cut signal built on
    // q146's mined span set
    "q148_span_coverage" -> ((s, d) => {
      graft.ops.Dedup.repeatedSpanCoverage(t(s, d, "documents"),
          col("doc_id"), col("text"), L = 3, minDocs = 2L)
        .filter(col("id") < 20)
        .select(col("id").as("doc_id"), col("n_slots"), col("n_repeated"),
          col("coverage"))
        .orderBy("doc_id")
    }),

    // Gopher repetition rule: fraction of characters covered by the most
    // frequent bigram, deterministic lexicographic tie-break — the
    // occurrence-level companion to q127's distinct-slot fraction
    "q145_top_ngram_frac" -> ((s, d) => {
      graft.ops.TextAnalysis.topNgramCharFraction(
          t(s, d, "documents"), col("doc_id"), col("text"), n = 2)
        .filter(col("id") < 20)
        .select(col("id").as("doc_id"), col("top_ngram"), col("top_count"),
          col("frac"))
        .orderBy("doc_id")
    }),

    // duplicated-line boilerplate removal (RefinedWeb/CCNet stage): lines
    // shared verbatim by >= 5 distinct docs are dropped, survivor order
    // preserved. The testdata has no newlines, so the fixture derives a
    // deterministic line structure first (every ' table ' becomes a line
    // break — both engines replay the identical rewrite); the oracle then
    // recomputes the full remove-and-rebuild and fingerprints the cleaned
    // text, pinning the reassembly byte-for-byte.
    "q144_boilerplate_lines" -> ((s, d) => {
      val lined = t(s, d, "documents").select(col("doc_id"),
        regexp_replace(col("text"), " table ", "\n").as("text"))
      graft.ops.TextAnalysis.removeBoilerplateLines(
          lined, col("doc_id"), col("text"), minDocs = 5L)
        .filter(col("id") < 10)
        .select(col("id").as("doc_id"), col("n_lines"), col("n_lines_kept"),
          md5(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // curation scrub: normalization + PII redaction as one fused regexp
    // projection. PII is PLANTED deterministically (an email and a phone
    // derived from doc_id appended to each text) so redaction provably
    // fires on every row; the oracle applies the identical transformation
    // in DuckDB and recomputes the post-scrub fingerprint census.
    "q120_scrub" -> ((s, d) => {
      val planted = t(s, d, "documents").select(col("doc_id"), col("source"),
        concat(col("text"),
          lit(" Contact USER"), col("doc_id"), lit("@Example.COM  or "),
          (col("doc_id") % 900 + 100).cast("string"), lit("-555-01"),
          lpad((col("doc_id") % 100).cast("string"), 2, "0"),
          lit("  now")).as("text"))
      planted.select(col("doc_id"), col("source"),
          graft.ops.TextAnalysis.scrub(col("text")).as("clean"))
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          countDistinct(md5(col("clean"))).as("n_distinct_clean"),
          sum(length(col("clean"))).cast("long").as("sum_len"),
          sum(when(col("clean").contains("<email>"), 1).otherwise(0))
            .cast("long").as("n_email"),
          sum(when(col("clean").contains("<phone>"), 1).otherwise(0))
            .cast("long").as("n_phone"))
        .orderBy("source")
    }),

    // bloom-prefiltered exact decontamination: incoming batch anti-joined
    // against the corpus's md5 fingerprints, with a broadcast Bloom filter
    // proving most non-matches DEFINITELY absent before the verify join —
    // the exact-dedup fast path when the corpus key set outgrows a hash-set
    // broadcast. Result is bit-identical to a plain anti join (Bloom has no
    // false negatives; false positives die in the verify join), which is
    // exactly what the oracle replays.
    "q119_bloom_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val corpus = docs.filter(col("doc_id") % 3 === 0)
        .select(md5(col("text")).as("fp"))
      val incoming = docs.filter(col("doc_id") % 3 =!= 0)
        .withColumn("fp", md5(col("text")))
      Dedup.antiJoinWithBloom(incoming, col("fp"), corpus, col("fp"),
          expectedItems = 10000)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_ids"))
        .orderBy("source")
    }),

    // n-gram-overlap decontamination (the GPT-3 13-gram rule at n=3 for
    // this corpus's short docs): per incoming doc, the fraction of its
    // distinct 3-grams that appear anywhere in the "benchmark" slice
    // (doc_id ≡ 0 mod 10), flagged at 0.5 — catches an eval question
    // QUOTED inside an otherwise-novel page, where exact-match q119 cannot
    "q130_ngram_decontam" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.ngramOverlap(docs.filter(col("doc_id") % 10 =!= 0),
          col("doc_id"), col("text"),
          docs.filter(col("doc_id") % 10 === 0), col("text"),
          n = 3, threshold = 0.5)
        .orderBy("id")
    }),

    "q46_minhash_lsh" -> ((s, d) => {
      Dedup.minhashLshPairs(t(s, d, "documents"), col("doc_id"), col("text"),
          n = 3, k = 16, bands = 4, minJaccard = 0.9)
        .select(col("i"), col("j"),
          (col("jacc_micro").cast("double") / 1e6).as("jaccard"))
        .orderBy("i", "j")
    }),

    // transitive dup clusters: pairwise near-dups → connected components
    // (iterative min-label propagation vs the oracle's recursive CTE)
    "q74_dup_clusters" -> ((s, d) => {
      val pairs = Dedup.jaccardPairs(t(s, d, "documents"), col("doc_id"),
        col("text"), n = 3, minJaccard = 0.9)
      Dedup.dupClusters(pairs)
        .orderBy("node")
    }),

    // SOFT dedup (Dedup.softDedupWeights): the q74 transitive clusters
    // reweighted instead of dropped — every cluster member keeps exact
    // half-up weight 1e6/|cluster|, singletons weight 1e6. Per-source
    // census pins the one-document-of-mass invariant (sum_w over a
    // cluster = 1e6 ± the rounding grid) plus the downweighted member
    // set by checksum
    "q297_soft_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.jaccardPairs(docs, col("doc_id"), col("text"),
        n = 3, minJaccard = 0.9)
      Dedup.softDedupWeights(docs.select(col("doc_id"), col("source")),
          col("doc_id"), pairs)
        .withColumn("__h", PortableHash.md5Long(
          col("doc_id").cast("string"), 53))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_cluster") > 1L, 1L).otherwise(0L))
            .as("n_downweighted"),
          max("n_cluster").as("max_cluster"),
          sum("w_micro").as("sum_w_micro"),
          min("w_micro").as("min_w_micro"),
          coalesce(expr(
            "bit_xor(CASE WHEN n_cluster > 1 THEN __h END)"), lit(0L))
            .as("dw_checksum"))
        .orderBy("source")
    }),

    // leakage-safe split (Sampling.splitByCluster): train/val/test hashed
    // on the q74 CLUSTER REPRESENTATIVE, so a near-duplicate of a
    // training doc can never land in eval (the Lee et al. 2022 §6
    // contamination channel — decontamination filters can't see your own
    // held-out split). Census per split + the structural invariant
    // n_straddle = 0 (clusters spanning >1 split) pinned as a column; the
    // second cc join is the straddle AUDIT instrumentation, not op cost
    "q307_cluster_split" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.jaccardPairs(docs, col("doc_id"), col("text"),
        n = 3, minJaccard = 0.9)
      val cc = Dedup.dupClusters(pairs)
      val j = Sampling.splitByCluster(docs.select(col("doc_id")),
          col("doc_id"), cc)
        .join(cc.select(col("node"), col("cluster")),
          col("doc_id") === col("node"), "left")
        .withColumn("__h", PortableHash.md5Long(
          col("doc_id").cast("string"), 61))
      val strad = j
        .groupBy(coalesce(col("cluster"), col("doc_id")).as("rep"))
        .agg(countDistinct("split").as("__ns"))
        .agg(coalesce(sum(when(col("__ns") > 1, 1L)), lit(0L))
          .as("n_straddle"))
      j.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("cluster").isNotNull, 1L).otherwise(0L))
            .as("n_dup_docs"),
          coalesce(expr(
            "bit_xor(CASE WHEN cluster IS NOT NULL THEN __h END)"),
            lit(0L)).as("dup_checksum"))
        .crossJoin(strad)
        .orderBy("split")
    }),

    // the TypedImperativeAggregate sketch path: full 16-hash signature
    // matrix, pinned value-by-value against the oracle's affine-min CTE
    "q66_minhash_sketch" -> ((s, d) => {
      Dedup.minhashSignaturesSketch(t(s, d, "documents"), col("doc_id"),
          col("text"), n = 3, k = 16)
        .withColumnRenamed("doc", "doc_id")
        .orderBy("doc_id")
    }),

    // same signature, zero-shuffle shape: the per-row native expression
    // (no explode, no aggregation) — pinned by the IDENTICAL oracle as q66
    "q84_minhash_rowwise" -> ((s, d) => {
      Dedup.minhashSignaturesRowwise(t(s, d, "documents"), col("doc_id"),
          col("text"), n = 3, k = 16)
        .withColumnRenamed("doc", "doc_id")
        .orderBy("doc_id")
    }),

    "q47_simhash" -> ((s, d) => {
      Dedup.simhash(t(s, d, "documents"), col("doc_id"), col("text"), bits = 16)
        .select(col("doc").as("doc_id"), col("simhash"))
        .orderBy("doc_id")
    }),

    // SimHash dedup closed end-to-end: pigeonhole band blocking + exact
    // Hamming verify, vs the oracle's brute-force O(n²) xor scan. The
    // shared-vocabulary corpus makes LOTS of docs genuinely simhash-close,
    // so the pin is the per-distance pair census plus min/max witness ids —
    // any missed or phantom candidate shifts a count
    "q93_simhash_pairs" -> ((s, d) => {
      // r20 (guide §2.5/§8): the census is computed value-collapsed
      // (Dedup.simhashCensus — groupBy the 2^16 fingerprint VALUES first,
      // then band-join the bounded value table with pair-count products)
      // instead of materializing the doc-level pair list, which is
      // quadratic on a dense hash population (r19 SCALING measured 46×
      // cpu at 10× data). Same rows, OpsSpec+oracle-pinned.
      Dedup.simhashCensus(t(s, d, "documents"), col("doc_id"), col("text"),
          bits = 16, maxHamming = 3)
        .select(col("hamming").cast("int").as("hamming"),
          col("n_pairs"), col("min_i"), col("max_j"))
        .orderBy("hamming")
    }),

    // same fingerprint, zero-shuffle shape (per-row native expression) —
    // pinned by the IDENTICAL oracle as q47
    "q85_simhash_rowwise" -> ((s, d) => {
      Dedup.simhashRowwise(t(s, d, "documents"), col("doc_id"), col("text"),
          bits = 16)
        .select(col("doc").as("doc_id"), col("simhash"))
        .orderBy("doc_id")
    }),

    // end-to-end dedup: transitive clusters → keep each cluster's minimum
    // id → surviving corpus stats. The full "what actually ships to
    // training" pipeline, pinned per source
    "q79_dedup_survivors" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.jaccardPairs(docs, col("doc_id"), col("text"),
        n = 3, minJaccard = 0.9)
      val losers = Dedup.dupClusters(pairs)
        .filter(col("node") =!= col("cluster"))
        .select(col("node").as("loser"))
      docs.join(losers, col("doc_id") === col("loser"), "left_anti")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(TA.tokenCount(col("text"))).cast("long").as("sum_tokens"))
        .orderBy("source")
    }),

    // duplicate 3-gram fraction census: the Gopher/C4 phrase-repetition
    // quality rule, per source — with a PLANTED repetitive tail (text
    // doubled for doc_id % 11 == 0) so the signal provably fires
    "q127_dup_ngrams" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val planted = docs.select(col("doc_id"), col("source"),
        when(pmod(col("doc_id"), lit(11)) === 0,
          concat(col("text"), lit(" "), col("text")))
          .otherwise(col("text")).as("text"))
      planted.select(col("source"),
          TA.dupNgramFraction(col("text"), 3).as("f"),
          TA.dupNgramFractionMicro(col("text"), 3).as("fm"))
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum("fm").as("__fs"), max("fm").as("__fx"),
          sum(when(col("f") > 0.2, 1).otherwise(0)).cast("long")
            .as("n_repetitive"))
        .select(col("source"), col("n"),
          (ExactRound.halfUpDiv("__fs", "n").cast("double") / 1e6)
            .as("avg_dup3"),
          (col("__fx").cast("double") / 1e6).as("max_dup3"),
          col("n_repetitive"))
        .orderBy("source")
    }),

    // collocation mining: top-20 adjacent-pair PMI over the corpus —
    // vocabulary-induction / multi-word-expression detection
    "q123_pmi_bigrams" -> ((s, d) => {
      TA.pmiBigrams(t(s, d, "documents"), col("text"), minCount = 5)
        .orderBy(col("pmi").desc, col("bigram")).limit(20)
        .select(col("bigram"), col("n_pair"), col("pmi"))
        .orderBy(col("pmi").desc, col("bigram"))
    }),

    // quality-aware dedup: same transitive clusters as q79, but each
    // cluster keeps its LONGEST member (token count, tie-break lowest id)
    // instead of the minimum id — the curation policy that keeps the best
    // copy. Only cluster members compete; the corpus never shuffles.
    "q121_dedup_best" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.jaccardPairs(docs, col("doc_id"), col("text"),
        n = 3, minJaccard = 0.9)
      Dedup.dedupBestPerCluster(docs, col("doc_id"), pairs,
          TA.tokenCount(col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(TA.tokenCount(col("text"))).cast("long").as("sum_tokens"))
        .orderBy("source")
    }),

    // directed containment (|Si∩Sj|/|Si|): the quote/boilerplate detector —
    // a short doc pasted inside a long one scores ~1 here, invisible to
    // symmetric Jaccard
    "q83_containment" -> ((s, d) => {
      Dedup.containmentPairs(t(s, d, "documents"), col("doc_id"), col("text"),
          n = 3, minContainment = 0.9)
        .select(col("i"), col("j"),
          (col("cont_micro").cast("double") / 1e6).as("containment"))
        .orderBy(col("containment").desc, col("i"), col("j"))
    }),

    // TF-IDF keyword extraction: each document's most distinctive token.
    // Rank key is round(tfidf, 6) + token tie-break — see TextAnalysis.tfidf
    // scaladoc for why the raw double must not be the sort key
    "q80_tfidf_top" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val scored = TA.tfidf(docs, col("doc_id"), col("text"))
        .select(col("doc"), col("tok"), round(col("tfidf"), 6).as("score"))
      val w = Window.partitionBy("doc").orderBy(col("score").desc, col("tok"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("doc") < 20)
        .select(col("doc").as("doc_id"), col("tok"), col("score"))
        .orderBy("doc_id")
    }),

    // BPE-style pre-tokenizer cost estimate vs whitespace count (q42's twin
    // with the tokenizer an LLM-data pipeline actually budgets with)
    "q75_token_bpe" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("lang"), TA.tokenCountBpe(col("text")).as("ntok"),
          TA.tokenCount(col("text")).as("nws"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("ntok").cast("long").as("sum_bpe"),
          min("ntok").cast("int").as("min_bpe"),
          max("ntok").cast("int").as("max_bpe"),
          sum("nws").cast("long").as("sum_ws"))
        .orderBy("lang")
    }),

    // per-source KL divergence of token distributions vs the corpus blend
    // (mixture-drift diagnostics) — every (source, token) term pinned via
    // exact integer micro-nat sums
    "q163_kl_mixture" -> ((s, d) => {
      TA.klPerGroup(t(s, d, "documents"), col("source"), col("text"))
        .withColumnRenamed("grp", "source")
    }),

    // diversity-aware subsampling: at most 2 docs per CONTENT bucket (the
    // 16-bit SimHash fingerprint), deterministic hash rank — near-identical
    // docs compete for the same 2 slots while distinct content survives
    // untouched. Membership pinned globally (count + id sum + bucket count)
    "q166_diversity_sample" -> ((s, d) => {
      val hashed = Dedup.simhash(t(s, d, "documents"), col("doc_id"),
        col("text"), bits = 16)
      graft.ops.Sampling.sampleKPerGroup(hashed, col("doc"),
          col("simhash"), k = 2)
        .agg(count(lit(1)).as("n_kept"), sum("doc").as("sum_ids"),
          countDistinct("simhash").as("n_buckets"))
    }),

    // data-capacity ladder — the planning table a token-budget decision
    // reads ("how many tokens survive at quality ≥ X, after dedup?"):
    // docs band by type-token ratio on the 10⁶ integer grid (fixed 0.1-wide
    // bands, NOT data-adaptive deciles — absolute quality levels, no global
    // sort), exact-dedup survivors (md5 min-id) counted next to raw, and
    // dedup-surviving tokens accumulate from the best band DOWN. The one
    // unpartitioned window runs over the ≤10-row band aggregate, never the
    // corpus
    "q265_data_ladder" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = split(col("text"), " ")
      // every 13th doc is replayed under a fresh id (a crawl-overlap
      // plant) so the raw and dedup-surviving columns provably diverge
      val base = t(s, d, "documents").select(col("doc_id"), col("text"))
      val docs = base.unionByName(
          base.filter(pmod(col("doc_id"), lit(13)) === 0)
            .select((col("doc_id") + 500000L).as("doc_id"), col("text")))
        .withColumn("n_tokens", size(toks).cast("long"))
        .withColumn("ttr_micro", ExactRound.gridMicroCol(
          size(array_distinct(toks)).cast("long"),
          size(toks).cast("long"), 6))
        .withColumn("band", least(
          call_function("div", col("ttr_micro"), lit(100000L)), lit(9L)))
      val surv = Dedup.dedupExact(docs.select(col("doc_id"),
            md5(col("text")).as("fp")), col("fp"), col("doc_id"))
        .select(col("doc_id"), lit(1L).as("__surv"))
      val w = Window.orderBy(col("band").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.join(surv, Seq("doc_id"), "left")
        .groupBy("band")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("n_tokens"),
          sum(coalesce(col("__surv"), lit(0L))).as("n_docs_dedup"),
          sum(when(col("__surv").isNotNull, col("n_tokens")).otherwise(0L))
            .as("n_tokens_dedup"))
        .withColumn("cum_tokens_dedup", sum("n_tokens_dedup").over(w))
        .orderBy(col("band").desc)
    }),

    // format-mix tagging — the code/prose/table segmentation a mixture
    // schedule reads (format is a first-class mixture axis next to source
    // and lang): deterministic char-class signals on the 10⁶ integer grid —
    // code-punct density ({};) per char, indented-line share, pipe-table
    // line share — CASE-ordered code → table → prose. Plants (every 17th
    // doc gains brace/semicolon lines, every 19th a pipe table) guarantee
    // all three classes fire; explode(array(…)) is the q200 Generate
    // barrier so the plant builds once, not once per downstream signal
    "q266_format_mix" -> ((s, d) => {
      val codeTail = "\nif (x) { y = 1; z = 2; }\nwhile (k) { n = n + 1; }"
      val tableTail = "\n| col_a | col_b |\n| 1 | 2 |\n| 3 | 4 |"
      val t2 = when(pmod(col("doc_id"), lit(17)) === 0,
          concat(col("text"), lit(codeTail)))
        .when(pmod(col("doc_id"), lit(19)) === 0,
          concat(col("text"), lit(tableTail)))
        .otherwise(col("text"))
      t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          explode(array(t2)).as("t2"))
        .select(col("source"),
          size(split(col("t2"), " ")).cast("long").as("n_tokens"),
          TA.formatClass(col("t2")).as("format"))
        .groupBy("source", "format")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("sum_tokens"))
        .orderBy("source", "format")
    }),

    // q93's PRODUCTION-WIDTH twin: the same Manku banding at bits = 60
    // (the portable-hash max — 15-bit band keys at maxHamming 3), now
    // ORACLE-PINNED instead of probe-measured: the brute-force all-pairs
    // replay proves the pigeonhole blocking is lossless at the width the
    // 100 TB config runs (README's q93 outlier row points here). Exact
    // copies planted every 31st doc make the ≤3 census non-empty at a
    // width where organic 0.5-jaccard pairs sit far outside the budget
    "q267_simhash_pairs_wide" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val planted = docs.unionByName(
        docs.filter(pmod(col("doc_id"), lit(31)) === 0)
          .select((col("doc_id") + 700000L).as("doc_id"), col("text")))
      Dedup.simhashPairs(planted, col("doc_id"), col("text"),
          bits = 60, maxHamming = 3)
        .groupBy(col("hamming").cast("int").as("hamming"))
        .agg(count(lit(1)).as("n_pairs"),
          min("i").as("min_i"), max("j").as("max_j"))
        .orderBy("hamming")
    }),

    // quality-floor DECISION table (Curation.thresholdSweep): for each
    // candidate type-token-ratio floor on the exact 1e-6 grid, what
    // survives — docs, tokens, permille shares of the corpus, survivor
    // mean score. ONE corpus pass (highest-passed-threshold bucketing +
    // a tiny broadcast suffix join), never a re-scan per candidate —
    // the knob-picking sibling of q91's funnel and q279's ctx sweep
    "q287_threshold_sweep" -> ((s, d) => {
      graft.ops.Curation.thresholdSweep(t(s, d, "documents"),
          TA.typeTokenRatioMicro(col("text")),
          TA.tokenCount(col("text")).cast("long"),
          Seq(300000L, 500000L, 700000L, 900000L))
        .withColumnRenamed("n_weight", "n_tokens")
        .withColumnRenamed("weight_permille", "tokens_permille")
        .orderBy("thr")
    }),

    // EVOLVING-index admission (Dedup.admitWaves — the batch twin of
    // TextStream.evolvingGate): three arrival waves against a frozen seed
    // corpus, where every admitted doc's signature joins the index before
    // the next wave. Plants exercise each kill path: exact_plant = exact
    // copy in its source's OWN wave (min-id rule), near_plant = wave-0
    // text + ' zq' arriving at wave 2 (dies only because wave-0 admissions
    // ENTERED the index — corpusGate's documented non-goal), corpus_plant
    // = seed-corpus copy (frozen-index kill). The per-(wave, category)
    // census pins every admission via the membership checksum
    "q288_evolving_admission" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val corpusIdx = Dedup.minhashSignaturesRowwise(
        docs.filter(col("doc_id") % 5 === 0), col("doc_id"), col("text"),
        n = 3, k = 16)
      val organic = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"), col("text"),
          pmod(col("doc_id"), lit(3L)).as("wave"),
          lit("organic").as("category"))
      val exactP = organic.filter(pmod(col("doc_id"), lit(7)) === 2)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          col("wave"), lit("exact_plant").as("category"))
      val nearP = organic
        .filter(col("wave") === 0 && pmod(col("doc_id"), lit(7)) === 1)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" zq")).as("text"), lit(2L).as("wave"),
          lit("near_plant").as("category"))
      val corpusP = docs
        .filter(col("doc_id") % 5 === 0 && pmod(col("doc_id"), lit(7)) === 3)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text"),
          pmod(col("doc_id"), lit(3L)).as("wave"),
          lit("corpus_plant").as("category"))
      val arrivals = organic.unionByName(exactP).unionByName(nearP)
        .unionByName(corpusP)
      val admitted = Dedup.admitWaves(arrivals, col("doc_id"), col("text"),
        col("wave"), corpusIdx, n = 3, k = 16, bands = 4,
        minEstJaccard = 0.5)
      arrivals
        .select(col("doc_id"), col("wave").cast("int").as("wave"),
          col("category"))
        .join(admitted.select(col("doc_id"), lit(1L).as("__a")),
          Seq("doc_id"), "left")
        .withColumn("__h",
          PortableHash.md5Long(col("doc_id").cast("string"), 99))
        .groupBy("wave", "category")
        .agg(count(lit(1)).as("n_in"),
          sum(coalesce(col("__a"), lit(0L))).as("n_admitted"),
          coalesce(expr("bit_xor(CASE WHEN __a IS NOT NULL THEN __h END)"),
            lit(0L)).as("admitted_checksum"))
        .orderBy("wave", "category")
    })
  )

  // ---- oracle SQL, built from the ops' documented DuckDB twins ----

  private val sh3 = Dedup.shinglesSql("text", 3)

  private def jaccardCteBody(table: String): String =
    s"""sh AS (SELECT doc_id, $sh3 s FROM $table),
       |e AS (SELECT doc_id AS doc, unnest(s) sg FROM sh),
       |sizes AS (SELECT doc_id AS doc, len(s) n FROM sh),
       |inter AS (SELECT a.doc i, b.doc j, count(*) ninter FROM e a
       |  JOIN e b ON a.sg = b.sg AND a.doc < b.doc GROUP BY 1, 2),
       |pairs AS (SELECT i, j, ninter * 1.0 / (sa.n + sb.n - ninter) jaccard,
       |  ${graft.ops.ExactRound.gridMicroSql("ninter",
           "sa.n + sb.n - ninter", 6)} jacc_micro
       |  FROM inter JOIN sizes sa ON sa.doc = i JOIN sizes sb ON sb.doc = j)""".stripMargin

  private def jaccardCte: String = "WITH " + jaccardCteBody("documents")

  private val minhashSig: String = {
    val mins = (0 until 16)
      .map(j => s"min(${PortableHash.derivedHashSql("h", j)}) s$j").mkString(", ")
    val bands = (0 until 4).map { b =>
      val key = (b * 4 until b * 4 + 4).map(j => s"s$j").mkString(" || ',' || ")
      s"SELECT doc, $b band, $key bkey FROM sig"
    }.mkString(" UNION ALL ")
    s"""hashed AS (SELECT doc, ${PortableHash.baseHashSql("sg")} h FROM e),
       |sig AS (SELECT doc, $mins FROM hashed GROUP BY doc),
       |bands AS ($bands),
       |cand AS (SELECT DISTINCT a.doc i, b.doc j FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc < b.doc)""".stripMargin
  }

  /** CTE body computing `(doc_id, simhash)` at `bits` width over `table`
    * — the vote loop is width-parametric so the 16-bit oracle config
    * (q47/q85/q93) and the production 60-bit width (q267) share one
    * builder. */
  private def simhashCte(bits: Int, table: String): String = {
    val votes = (0 until bits)
      .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) v$b")
      .mkString(", ")
    val assemble = (0 until bits)
      .map(b => s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""tk AS (SELECT doc_id AS doc, unnest(list_distinct(str_split(text, ' '))) tok
       |  FROM $table),
       |h AS (SELECT doc, ${PortableHash.md5LongSql("tok", 0)} h FROM tk),
       |v AS (SELECT doc, $votes FROM h GROUP BY doc),
       |sh AS (SELECT doc AS doc_id, CAST($assemble AS BIGINT) AS simhash FROM v)""".stripMargin
  }

  private val simhashSql: String =
    s"""WITH ${simhashCte(16, "documents")}
       |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(

    // the merge loop replayed as a RECURSIVE CTE on a chr(31)-delimited
    // symbol string: each step picks the lowest-rank pair PRESENT
    // (position() probe, ORDER BY rk LIMIT 1) and replace() merges all
    // its occurrences left-to-right — exactly the expression's loop; the
    // fixpoint rows (no pattern present) are the final segmentations
    // identical candidate mining, DuckDB's levenshtein as the twin of
    // Spark's, identical rounded-similarity verdict
    "q246_edit_verify" -> {
      val sim = graft.ops.ExactRound.ratioRoundedSql(
        "greatest(length(da.text), length(db.text))" +
          " - levenshtein(da.text, db.text)",
        "greatest(length(da.text), length(db.text))", 6)
      s"""$jaccardCte
         SELECT p.i, p.j, p.jacc_micro::DOUBLE / 1e6 AS jaccard,
           CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
           $sim AS edit_sim,
           $sim >= 0.8 AS verified
         FROM pairs p JOIN documents da ON da.doc_id = p.i
         JOIN documents db ON db.doc_id = p.j
         WHERE p.jaccard >= 0.5 ORDER BY i, j"""
    },

    // identical plant, identical three-pass span removal / entity decode
    // order / collapse, identical ratio arithmetic
    "q243_markup_strip" ->
      s"""WITH pl AS (SELECT doc_id,
           CASE WHEN doc_id % 9 = 0 THEN
             '<script>var x = 1;</script><style>.a{color:red}</style><div></div>'
           WHEN doc_id % 3 = 0 THEN
             '<html><body><p class="m">' || text ||
             '</p><div>footer&nbsp;&amp; <a href="/x">link</a>' ||
             '&#39;s &lt;tag&gt;</div></body></html>'
           ELSE text END AS t2
           FROM documents WHERE doc_id < 40)
         SELECT doc_id, CAST(length(t2) AS BIGINT) AS n_raw,
           CAST(length(${TA.stripMarkupSql("t2")}) AS BIGINT) AS n_clean,
           ${TA.markupRatioSql("t2")} AS markup_ratio,
           ${TA.markupRatioSql("t2")} <= 0.9 AS keep,
           md5(${TA.stripMarkupSql("t2")}) AS fp
         FROM pl ORDER BY doc_id""",

    // identical URL synthesis, identical host regexp and two-label
    // registrable-domain rule, identical rollup
    "q245_url_blocklist" ->
      s"""WITH u AS (SELECT doc_id,
           'https://' || (['www','cdn','m'])[doc_id % 3 + 1] || '.' ||
           (['adnet','goodnews','blogger','spamco','docs'])[doc_id % 5 + 1] ||
           '.com/p/' || doc_id || '?ref=' || source AS url
           FROM documents WHERE doc_id < 300),
         h AS (SELECT doc_id, ${TA.urlHostSql("url")} AS host,
           ${TA.urlDomainSql("url")} AS domain FROM u)
         SELECT domain, CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
           count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
           domain IN ('adnet.com', 'spamco.com') AS blocked
         FROM h GROUP BY 1 ORDER BY 1""",

    // identical plant; the Viterbi DP replays position-by-position with
    // the identical integer scores and (score DESC, seg DESC) tie rule,
    // then reassembles each doc's ordered token stream like q172
    "q260_unigram_viterbi" ->
      s"""WITH base AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
             THEN text || ' data77 join' ELSE text END AS t2
           FROM documents WHERE doc_id < 20),
         tl AS (SELECT doc_id, regexp_extract_all(t2,
           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]') AS ws
           FROM base),
         toks AS (SELECT doc_id, x.i, ws[x.i] AS w FROM tl,
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) x),
         ${TA.unigramViterbiSql("toks", UniPieces, UniUnkMicro,
            maxWordLen = 8)}
         SELECT t.doc_id, CAST(sum(u.ntok) AS BIGINT) AS n_tokens,
           md5(string_agg(u.wtoks, ' ' ORDER BY t.i)) AS fp
         FROM toks t JOIN useg u ON t.w = u.w
         GROUP BY 1 ORDER BY 1""",

    // the q176 oracle shape with the merge-loop CTE swapped for the
    // Viterbi DP CTE; per-word subword counts join back onto every doc
    "q261_unigram_fertility" ->
      s"""WITH tl AS (SELECT doc_id, regexp_extract_all(text,
           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]') AS ws
           FROM documents),
         toks AS (SELECT doc_id, ws[x.i] AS w FROM tl,
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) x),
         ${TA.unigramViterbiSql("toks", UniPieces, UniUnkMicro,
            maxWordLen = 8)},
         per AS (SELECT t.doc_id, sum(u.ntok) AS nuni
           FROM toks t JOIN useg u ON t.w = u.w GROUP BY 1),
         dc AS (SELECT d.lang,
             length(replace(d.text, ' ', '')) AS nchars,
             len(str_split(d.text, ' ')) AS nws,
             coalesce(p.nuni, 0) AS nuni
           FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(nchars) AS BIGINT) AS sum_chars,
           CAST(sum(nws) AS BIGINT) AS sum_words,
           CAST(sum(nuni) AS BIGINT) AS sum_uni_tokens,
           ${graft.ops.ExactRound.ratioRoundedSql("sum(nchars)",
              "sum(nuni)", 6)} AS chars_per_token,
           ${graft.ops.ExactRound.ratioRoundedSql("sum(nuni)",
              "sum(nws)", 6)} AS fertility
         FROM dc GROUP BY 1 ORDER BY 1""",

    // identical plant; the greedy cursor replays step-by-step (longest
    // candidate per position is unique, stuck words resurface as [UNK]),
    // then each doc's ordered token stream reassembles like q260
    "q262_wordpiece_apply" ->
      s"""WITH base AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
             THEN text || ' value42 table' ELSE text END AS t2
           FROM documents WHERE doc_id < 20),
         tl AS (SELECT doc_id, regexp_extract_all(t2,
           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]') AS ws
           FROM base),
         toks AS (SELECT doc_id, x.i, ws[x.i] AS w FROM tl,
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) x),
         ${TA.wordPieceSql("toks", WpPieces, WpUnk, maxWordLen = 8)}
         SELECT t.doc_id, CAST(sum(wp.ntok) AS BIGINT) AS n_tokens,
           md5(string_agg(wp.wtoks, ' ' ORDER BY t.i)) AS fp
         FROM toks t JOIN wpseg wp ON t.w = wp.w
         GROUP BY 1 ORDER BY 1""",

    // all three per-word machines — the q172 BPE rank-sweep, the q260
    // unigram Viterbi DP, the q262 greedy cursor — run over ONE shared
    // word table and join back per doc; totals and fertility per lang
    "q263_tokenizer_bakeoff" -> {
      val vals = BpeMerges.zipWithIndex
        .map { case ((a, b), i) => s"($i,'$a','$b')" }.mkString(",")
      s"""WITH RECURSIVE
         merges(rk, a, b) AS (SELECT * FROM (VALUES $vals) v(rk, a, b)),
         tl AS (SELECT doc_id, regexp_extract_all(text,
           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]') AS ws
           FROM documents),
         toks AS (SELECT doc_id, ws[x.i] AS w FROM tl,
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) x),
         words AS (SELECT DISTINCT w FROM toks),
         enc AS (
           SELECT w, regexp_replace(w, '(.)', chr(31)||'\\1'||chr(31), 'g') AS seq
           FROM words
           UNION ALL
           SELECT e.w, replace(e.seq,
               chr(31)||m.a||chr(31)||chr(31)||m.b||chr(31),
               chr(31)||m.a||m.b||chr(31)) AS seq
           FROM enc e, LATERAL (SELECT a, b FROM merges
              WHERE position(chr(31)||merges.a||chr(31)||chr(31)||merges.b||chr(31)
                IN e.seq) > 0
              ORDER BY rk LIMIT 1) m(a, b)),
         fin AS (SELECT w, seq FROM enc e WHERE NOT EXISTS (
           SELECT 1 FROM merges m
           WHERE position(chr(31)||m.a||chr(31)||chr(31)||m.b||chr(31)
             IN e.seq) > 0)),
         wtok AS (SELECT w,
           (length(seq) - length(replace(seq, chr(31), ''))) // 2 AS ntok
           FROM fin),
         ${TA.unigramViterbiSql("toks", UniPieces, UniUnkMicro,
            maxWordLen = 8)},
         ${TA.wordPieceSql("toks", WpPieces, WpUnk, maxWordLen = 8)},
         per AS (SELECT t.doc_id, sum(wt.ntok) AS nbpe,
             sum(u.ntok) AS nuni, sum(wp.ntok) AS nwp
           FROM toks t JOIN wtok wt ON t.w = wt.w
             JOIN useg u ON t.w = u.w
             JOIN wpseg wp ON t.w = wp.w
           GROUP BY 1),
         dc AS (SELECT d.lang,
             len(str_split(d.text, ' ')) AS nws,
             coalesce(p.nbpe, 0) AS nbpe,
             coalesce(p.nuni, 0) AS nuni,
             coalesce(p.nwp, 0) AS nwp
           FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(nws) AS BIGINT) AS sum_words,
           CAST(sum(nbpe) AS BIGINT) AS sum_bpe,
           CAST(sum(nuni) AS BIGINT) AS sum_uni,
           CAST(sum(nwp) AS BIGINT) AS sum_wp,
           ${graft.ops.ExactRound.ratioRoundedSql("sum(nbpe)",
              "sum(nws)", 6)} AS fert_bpe,
           ${graft.ops.ExactRound.ratioRoundedSql("sum(nuni)",
              "sum(nws)", 6)} AS fert_uni,
           ${graft.ops.ExactRound.ratioRoundedSql("sum(nwp)",
              "sum(nws)", 6)} AS fert_wp
         FROM dc GROUP BY 1 ORDER BY 1"""
    },

    // identical plant; the automaton's word-boundary rule replays as one
    // RE2 regexp per phrase (the N-pass shape the native expression
    // replaces), re-assembled in blocklist order via the idx join key
    "q259_blocklist_filter" ->
      s"""WITH pl AS (SELECT doc_id, lower(
           CASE WHEN doc_id % 19 = 0 THEN 'zzqx ' ELSE '' END || text
           || CASE WHEN doc_id % 11 = 0 THEN ' Dark PATTERN.' ELSE '' END
           || CASE WHEN doc_id % 13 = 0 THEN ' xforbidden fruit' ELSE '' END
           || CASE WHEN doc_id % 17 = 0 THEN ' forbidden fruitx' ELSE '' END
           || CASE WHEN doc_id % 7 = 0 THEN ' and zzqx' ELSE '' END) AS t
           FROM documents WHERE doc_id < 150),
         ph(idx, p) AS (VALUES ${BlockPhrases.zipWithIndex
            .map { case (p, i) => s"(${i + 1}, '$p')" }.mkString(", ")}),
         m AS (SELECT pl.doc_id, ph.idx, ph.p FROM pl JOIN ph
           ON regexp_matches(pl.t,
             '(^|[^a-z0-9])' || ph.p || '($$|[^a-z0-9])')),
         ag AS (SELECT doc_id, string_agg(p, '|' ORDER BY idx) AS matched,
           count(*) AS n_matched FROM m GROUP BY doc_id)
         SELECT pl.doc_id, coalesce(ag.matched, '') AS matched,
           CAST(coalesce(ag.n_matched, 0) AS BIGINT) AS n_matched,
           ag.n_matched IS NOT NULL AS blocked
         FROM pl LEFT JOIN ag USING (doc_id) ORDER BY pl.doc_id""",

    // identical plant (combining marks spelled chr(n) so nothing between
    // here and DuckDB can re-compose them), nfc_normalize as the twin of
    // the native Normalizer projection
    "q242_unicode_nfc" -> {
      val dec = sqlLit(NfcDecomposed)
      val comp = sqlLit(NfcComposed)
      s"""WITH p AS (SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN text || $dec
                WHEN doc_id % 3 = 1 THEN text || $comp ELSE text END AS t2,
           CASE WHEN doc_id % 3 = 0 THEN $dec
                WHEN doc_id % 3 = 1 THEN $comp ELSE '' END AS sfx
         FROM documents WHERE doc_id < 30)
         SELECT doc_id, CAST(length(t2) AS BIGINT) AS n_raw,
           CAST(length(nfc_normalize(t2)) AS BIGINT) AS n_nfc,
           md5(nfc_normalize(t2)) AS fp,
           md5(nfc_normalize(sfx)) AS sfx_fp
         FROM p ORDER BY doc_id"""
    },

    // byte-level replay: every distinct word's UTF-8 bytes come back via
    // hex(encode(w)) joined through an embedded 256-row byte→mapped-char
    // table (the same GPT-2 bytes_to_unicode the native expression
    // carries), then the identical chr(31)-sentinel rank-sweep loop as
    // q172 — initial symbols are mapped BYTES, everything downstream is
    // shared discipline
    "q241_bpe_byte_level" -> {
      val vals = ByteMerges.zipWithIndex
        .map { case ((a, b), i) => s"($i,'${sqlq(a)}','${sqlq(b)}')" }
        .mkString(",")
      val bvals = (0 until 256)
        .map(b => f"('$b%02X','${sqlq(bch(b))}')").mkString(",")
      s"""WITH RECURSIVE
         merges(rk, a, b) AS (SELECT * FROM (VALUES $vals) v(rk, a, b)),
         bmap(hx, mc) AS (SELECT * FROM (VALUES $bvals) v(hx, mc)),
         base AS (SELECT doc_id, text || '${sqlq(BytePlant)}' AS t2
           FROM documents WHERE doc_id < 20),
         tl AS (SELECT doc_id, regexp_extract_all(t2,
           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]') AS ws FROM base),
         toks AS (SELECT doc_id, x.i, ws[x.i] AS w FROM tl,
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) x),
         words AS (SELECT DISTINCT w FROM toks),
         wb AS (SELECT w, hex(encode(w)) AS hx FROM words),
         seq0 AS (SELECT wb.w,
             string_agg(chr(31)||bm.mc||chr(31), '' ORDER BY x.i) AS seq
           FROM wb, LATERAL (SELECT
             unnest(generate_series(1, length(wb.hx)//2)) AS i) x, bmap bm
           WHERE bm.hx = substr(wb.hx, 2*x.i-1, 2)
           GROUP BY wb.w),
         enc AS (SELECT w, seq FROM seq0
           UNION ALL
           SELECT e.w, replace(e.seq,
               chr(31)||m.a||chr(31)||chr(31)||m.b||chr(31),
               chr(31)||m.a||m.b||chr(31)) AS seq
           FROM enc e, LATERAL (SELECT a, b FROM merges
              WHERE position(chr(31)||merges.a||chr(31)||chr(31)||merges.b||chr(31)
                IN e.seq) > 0
              ORDER BY rk LIMIT 1) m(a, b)),
         fin AS (SELECT w, seq FROM enc e WHERE NOT EXISTS (
           SELECT 1 FROM merges m
           WHERE position(chr(31)||m.a||chr(31)||chr(31)||m.b||chr(31)
             IN e.seq) > 0)),
         wtok AS (SELECT w,
           (length(seq) - length(replace(seq, chr(31), ''))) // 2 AS ntok,
           trim(replace(seq, chr(31)||chr(31), ' '), chr(31)) AS wtoks
           FROM fin)
         SELECT t.doc_id, CAST(sum(wt.ntok) AS BIGINT) AS n_tokens,
           md5(string_agg(wt.wtoks, ' ' ORDER BY t.i)) AS fp
         FROM toks t JOIN wtok wt ON t.w = wt.w
         GROUP BY 1 ORDER BY 1"""
    },

    "q172_bpe_apply" -> {
      val vals = BpeMerges.zipWithIndex
        .map { case ((a, b), i) => s"($i,'$a','$b')" }.mkString(",")
      s"""WITH RECURSIVE
         merges(rk, a, b) AS (SELECT * FROM (VALUES $vals) v(rk, a, b)),
         base AS (SELECT doc_id, text FROM documents WHERE doc_id < 20),
         tl AS (SELECT doc_id, regexp_extract_all(text,
           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]') AS ws FROM base),
         toks AS (SELECT doc_id, x.i, ws[x.i] AS w FROM tl,
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) x),
         words AS (SELECT DISTINCT w FROM toks),
         enc AS (
           SELECT w, regexp_replace(w, '(.)', chr(31)||'\\1'||chr(31), 'g') AS seq
           FROM words
           UNION ALL
           SELECT e.w, replace(e.seq,
               chr(31)||m.a||chr(31)||chr(31)||m.b||chr(31),
               chr(31)||m.a||m.b||chr(31)) AS seq
           FROM enc e, LATERAL (SELECT a, b FROM merges
              WHERE position(chr(31)||merges.a||chr(31)||chr(31)||merges.b||chr(31)
                IN e.seq) > 0
              ORDER BY rk LIMIT 1) m(a, b)),
         fin AS (SELECT w, seq FROM enc e WHERE NOT EXISTS (
           SELECT 1 FROM merges m
           WHERE position(chr(31)||m.a||chr(31)||chr(31)||m.b||chr(31)
             IN e.seq) > 0)),
         wtok AS (SELECT w,
           (length(seq) - length(replace(seq, chr(31), ''))) // 2 AS ntok,
           trim(replace(seq, chr(31)||chr(31), ' '), chr(31)) AS wtoks
           FROM fin)
         SELECT t.doc_id, CAST(sum(wt.ntok) AS BIGINT) AS n_tokens,
           md5(string_agg(wt.wtoks, ' ' ORDER BY t.i)) AS fp
         FROM toks t JOIN wtok wt ON t.w = wt.w
         GROUP BY 1 ORDER BY 1"""
    },

    // identical plant, identical print selection, identical stop-print
    // threshold and pair counting
    "q179_winnow_overlap" -> {
      val pr = TA.winnowedPrintsSql("text2", 4, 5)
      s"""WITH pl AS (SELECT doc_id, CASE WHEN doc_id % 25 = 0
             THEN text || ' shared overlap run alpha beta gamma delta epsilon'
             ELSE text END AS text2
           FROM documents WHERE doc_id < 300),
         pr AS (SELECT doc_id AS doc, unnest($pr) AS p FROM pl),
         freq AS (SELECT p FROM pr GROUP BY p HAVING count(*) <= 50),
         keep AS (SELECT pr.doc, pr.p FROM pr JOIN freq USING (p)),
         pairs AS (SELECT a.doc AS i, b.doc AS j, count(*) AS n_shared
           FROM keep a JOIN keep b ON a.p = b.p AND a.doc < b.doc
           GROUP BY 1, 2 HAVING count(*) >= 1),
         top AS (SELECT * FROM pairs
           ORDER BY n_shared DESC, i, j LIMIT 20)
         SELECT i, j, n_shared FROM top ORDER BY n_shared DESC, i, j"""
    },

    // identical gram/hash/window-min arithmetic via the documented twin;
    // the fp pins the full print SET, not just its extremes
    "q178_winnowing" -> {
      val pr = TA.winnowedPrintsSql("text", 4, 5)
      s"""WITH w AS (SELECT doc_id, $pr AS pr,
           CASE WHEN len(str_split(text, ' ')) >= 4
             THEN len(str_split(text, ' ')) - 3 ELSE 0 END AS n_grams
           FROM documents WHERE doc_id < 30)
         SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(len(pr) AS BIGINT) AS n_prints,
           list_min(pr) AS min_print, list_max(pr) AS max_print,
           md5(array_to_string(list_sort(pr), ',')) AS fp
         FROM w ORDER BY doc_id"""
    },

    // identical segmentation + plant, the keep rule replayed as a
    // first-occurrence window (the oracle may window; the op's
    // min-struct agg must land on the same canonical), identical
    // order-restoring rebuild
    "q177_paragraph_dedup" ->
      """WITH base AS (SELECT doc_id, str_split(text, ' ') AS ts FROM documents),
         segs AS (SELECT doc_id, list_transform(
             generate_series(0, (len(ts) - 1) // 8),
             i -> array_to_string(ts[i*8+1:i*8+8], ' ')) AS sg FROM base),
         pl AS (SELECT doc_id, CASE WHEN doc_id % 4 = 0
             THEN list_concat(['shared boilerplate header'], sg)
             ELSE sg END AS ps FROM segs),
         slots AS (SELECT doc_id, x.i - 1 AS pos, ps[x.i] AS para FROM pl,
           LATERAL (SELECT unnest(generate_series(1, len(ps))) AS i) x),
         keep AS (SELECT doc_id, pos, para,
             row_number() OVER (PARTITION BY para
               ORDER BY doc_id, pos) AS rn FROM slots),
         reb AS (SELECT doc_id, count(*) AS n_kept,
             md5(string_agg(para, chr(10) ORDER BY pos)) AS fp
           FROM keep WHERE rn = 1 GROUP BY 1)
         SELECT p.doc_id, CAST(len(p.ps) AS BIGINT) AS n_paras,
           CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(r.fp, md5('')) AS fp
         FROM pl p LEFT JOIN reb r USING (doc_id)
         WHERE p.doc_id < 30 ORDER BY p.doc_id""",

    "q226_cross_source_dup" ->
      s"""$jaccardCte,
         src AS (SELECT p.i, p.j, p.jacc_micro,
             least(da.source, db.source) AS src_a,
             greatest(da.source, db.source) AS src_b
           FROM pairs p JOIN documents da ON da.doc_id = p.i
           JOIN documents db ON db.doc_id = p.j
           WHERE p.jaccard >= 0.5)
         SELECT src_a, src_b, count(*) AS n_pairs,
           ${graft.ops.ExactRound.halfUpDivSql("sum(jacc_micro)",
             "count(*)")}::DOUBLE / 1e6 AS mean_jaccard
         FROM src GROUP BY 1, 2 ORDER BY 1, 2""",

    "q236_posting_lists" -> {
      val terms = Seq("table", "row", "scan", "join", "key", "window",
        "fast", "slow").map(t => s"'$t'").mkString(", ")
      s"""WITH tk AS (SELECT doc_id, unnest(str_split(text, ' ')) AS w
           FROM documents),
         tf AS (SELECT w, doc_id, count(*) AS tf FROM tk
           WHERE w IN ($terms) GROUP BY 1, 2),
         rk AS (SELECT w, doc_id, tf, row_number() OVER (
             PARTITION BY w ORDER BY tf DESC, doc_id) AS rk FROM tf)
         SELECT w AS term, doc_id, tf, rk FROM rk
         WHERE rk <= 3 ORDER BY term, rk"""
    },

    "q234_word2phrase" ->
      """WITH ts AS (SELECT str_split(text, ' ') AS t FROM documents),
         bgs AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
             i -> t[i] || ' ' || t[i+1])) AS bg FROM ts),
         bgc AS (SELECT bg, count(*) AS cab FROM bgs GROUP BY 1
           HAVING count(*) >= 5),
         toks AS (SELECT unnest(t) AS w FROM ts),
         uni AS (SELECT w, count(*) AS c1 FROM toks GROUP BY 1),
         n AS (SELECT count(*) AS nn FROM toks)
         SELECT bgc.bg AS bigram, cab, ua.c1 AS ca, ub.c1 AS cb,
           (CAST((2 * CAST((cab - 3) AS HUGEINT) * nn * 1000000
             + CAST(ua.c1 AS HUGEINT) * ub.c1)
             // (2 * CAST(ua.c1 AS HUGEINT) * ub.c1) AS BIGINT)::DOUBLE
             / 1000000.0) AS score
         FROM bgc JOIN uni ua ON ua.w = str_split(bgc.bg, ' ')[1]
         JOIN uni ub ON ub.w = str_split(bgc.bg, ' ')[2], n
         ORDER BY score DESC, bigram LIMIT 15""",

    "q233_negative_draws" -> {
      import graft.ops.Sampling
      val u = s"((${Sampling.hashBucketSql(
        "(doc_id::VARCHAR || ':' || draw)", 5)}) + 1)::DOUBLE / 1000000.0"
      s"""WITH c AS (SELECT w, count(*) AS n FROM
           (SELECT unnest(str_split(text, ' ')) AS w FROM documents)
           GROUP BY 1),
         wt AS (SELECT w, n, n / sqrt(sqrt(n::DOUBLE)) AS wgt FROM c),
         cum0 AS (SELECT w, wgt,
             sum(wgt) OVER (ORDER BY w) AS cumw FROM wt),
         cum AS (SELECT w, wgt, cumw,
             coalesce(lag(cumw, 1) OVER (ORDER BY w), 0.0) AS prev
           FROM cum0),
         t AS (SELECT max(cumw) AS tot FROM cum),
         dr AS (SELECT doc_id, unnest(generate_series(1, 4)) AS draw
           FROM documents WHERE doc_id < 20),
         uu AS (SELECT doc_id, draw, ($u) * t.tot AS u FROM dr, t)
         SELECT uu.doc_id, uu.draw, cum.w AS word
         FROM uu JOIN cum ON uu.u > cum.prev AND uu.u <= cum.cumw
         ORDER BY doc_id, draw"""
    },

    "q232_negative_sampling" ->
      """WITH c AS (SELECT w, count(*) AS n FROM
           (SELECT unnest(str_split(text, ' ')) AS w FROM documents)
           GROUP BY 1),
         wt AS (SELECT w, n, n / sqrt(sqrt(n::DOUBLE)) AS wgt FROM c),
         t AS (SELECT sum(wgt) AS tot FROM wt)
         SELECT w AS word, n, round(wgt, 6) AS weight,
           round(wgt / tot, 6) AS p_neg
         FROM wt, t ORDER BY word""",

    // entropy chain = q153's CTEs (rounded to the same grid the Spark rank
    // orders by), then the exact rational percentile per source; empty
    // texts filtered identically to the Spark side (the char unnest
    // yields no rows for them — they would otherwise vanish from the
    // rank denominator here only)
    "q229_score_normalize" ->
      s"""WITH chars AS (SELECT doc_id, substr(text, x.i, 1) AS ch
           FROM documents, LATERAL (SELECT
             unnest(generate_series(1, length(text))) AS i) x
           WHERE length(text) > 0),
         counts AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY 1, 2),
         eagg AS (SELECT doc_id, sum(c) AS n_chars,
             sum(c::DOUBLE * ln(c::DOUBLE)) AS clc FROM counts GROUP BY 1),
         ent AS (SELECT doc_id,
             round((ln(n_chars::DOUBLE) - clc / n_chars) / ln(2.0), 6) AS e6
           FROM eagg),
         j AS (SELECT d.doc_id, d.source, ent.e6
           FROM documents d JOIN ent USING (doc_id)
           WHERE length(d.text) > 0),
         rk AS (SELECT doc_id, source, e6,
             row_number() OVER (PARTITION BY source ORDER BY e6, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS n FROM j)
         SELECT doc_id, source, e6,
           CASE WHEN n = 1 THEN 0.0
             ELSE ${graft.ops.ExactRound.ratioRoundedSql(
               "rn - 1", "n - 1", 6)} END AS pctl
         FROM rk ORDER BY doc_id""",

    "q225_gopher_quality" -> {
      val digits = (1 to 21).mkString(" ")
      val stops = TA.EnglishStopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH pl AS (SELECT doc_id,
           CASE WHEN doc_id % 6 = 0 THEN text || ' # # # # # # # #'
             WHEN doc_id % 17 = 0 THEN '$digits'
             ELSE text END AS t2
           FROM documents)
         SELECT doc_id,
           CAST(len(str_split(t2, ' ')) AS INT) AS n_words,
           ${TA.avgWordLenR6Sql("t2")} AS mean_word_len,
           ${TA.symbolWordRatioR6Sql("t2", "#")} AS hash_ratio,
           ${TA.alphaWordFractionR6Sql("t2")} AS alpha_frac,
           CAST(len(list_filter(str_split(t2, ' '), w -> w IN ($stops)))
             AS INT) AS n_stop,
           ${TA.gopherQualityOkSql("t2", minWords = 20)} AS ok
         FROM pl ORDER BY doc_id"""
    },

    "q221_dedup_explain" ->
      s"""$jaccardCte,
         shared AS (SELECT p.i, p.j, p.jacc_micro,
             list_intersect(sa.s, sb.s) AS sg
           FROM pairs p JOIN sh sa ON sa.doc_id = p.i
           JOIN sh sb ON sb.doc_id = p.j
           WHERE p.jaccard >= 0.8)
         SELECT i, j, jacc_micro::DOUBLE / 1e6 AS jaccard,
           CAST(len(sg) AS INT) AS n_shared,
           array_to_string(list_sort(list_transform(sg, g -> md5(g)))[1:3],
             ',') AS evidence
         FROM shared ORDER BY i, j""",

    // entropy chain = q153's CTEs over all docs; simhash = q47's vote
    // assembly; gate + sum replayed per source
    "q220_sql_surface" -> {
      val votes = (0 until 16)
        .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) v$b")
        .mkString(", ")
      val assemble = (0 until 16)
        .map(b => s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH chars AS (SELECT doc_id, substr(text, x.i, 1) AS ch
           FROM documents, LATERAL (SELECT
             unnest(generate_series(1, length(text))) AS i) x
           WHERE length(text) > 0),
         counts AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY 1, 2),
         eagg AS (SELECT doc_id, sum(c) AS n_chars,
             sum(c::DOUBLE * ln(c::DOUBLE)) AS clc FROM counts GROUP BY 1),
         ent AS (SELECT doc_id, CASE WHEN n_chars = 0 THEN 0.0
             ELSE round((ln(n_chars::DOUBLE) - clc / n_chars) / ln(2.0), 6)
           END AS e6 FROM eagg),
         tk AS (SELECT doc_id, unnest(list_distinct(str_split(text, ' ')))
           AS tok FROM documents WHERE length(text) > 0),
         hh AS (SELECT doc_id, ${PortableHash.md5LongSql("tok", 0)} AS h
           FROM tk),
         vv AS (SELECT doc_id, $votes FROM hh GROUP BY doc_id),
         sh AS (SELECT doc_id, CAST($assemble AS BIGINT) AS simhash FROM vv)
         SELECT d.source, count(*) AS n_docs,
           CAST(sum(CASE WHEN ent.e6 >= 3.5
             AND len(str_split(d.text, ' ')) >= 20 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_keep,
           CAST(sum(sh.simhash) AS BIGINT) AS sim_check
         FROM documents d JOIN ent ON d.doc_id = ent.doc_id
         JOIN sh ON d.doc_id = sh.doc_id
         WHERE length(d.text) > 0
         GROUP BY 1 ORDER BY 1"""
    },

    "q206_pii_report" ->
      s"""WITH p1 AS (SELECT source, doc_id,
           CASE WHEN doc_id % 5 = 0
             THEN text || ' contact bob@example.com now' ELSE text END AS t1
           FROM documents),
         p2 AS (SELECT source,
           CASE WHEN doc_id % 11 = 0
             THEN t1 || ' call 555-123-4567 today' ELSE t1 END AS t2
           FROM p1)
         SELECT source, count(*) AS n_docs,
           CAST(sum(${TA.emailCountSql("t2")}) AS BIGINT) AS n_emails,
           CAST(sum(${TA.phoneCountSql("t2")}) AS BIGINT) AS n_phones,
           CAST(sum(CASE WHEN ${TA.emailCountSql("t2")} > 0
               OR ${TA.phoneCountSql("t2")} > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pii_docs
         FROM p2 GROUP BY 1 ORDER BY 1""",

    "q200_gopher_line_repetition" ->
      s"""WITH base AS (SELECT doc_id, str_split(text, ' ') AS ts FROM documents),
         segs AS (SELECT doc_id, list_transform(
             generate_series(0, (len(ts) - 1) // 8),
             i -> array_to_string(ts[i*8+1:i*8+8], ' ')) AS sg FROM base),
         pl AS (SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN list_concat(sg[1:3], sg[1:3])
               WHEN doc_id % 3 = 0 THEN list_concat(sg, sg[1:2])
               ELSE sg END AS ls FROM segs),
         txt AS (SELECT doc_id, array_to_string(ls, chr(10)) AS text2 FROM pl)
         SELECT doc_id,
           CAST(len(str_split(text2, chr(10))) AS INTEGER) AS n_lines,
           ${TA.dupLineFractionRoundedSql("text2")} AS dup_line_frac,
           ${TA.dupLineCharFractionRoundedSql("text2")} AS dup_char_frac,
           ${TA.gopherLineRepetitionOkSql("text2")} AS ok
         FROM txt ORDER BY doc_id""",

    // same merge-loop replay, aggregated to the per-lang report; ratios
    // are single divisions of exact BIGINT sums
    "q176_tokenizer_fertility" -> {
      val vals = BpeMerges.zipWithIndex
        .map { case ((a, b), i) => s"($i,'$a','$b')" }.mkString(",")
      s"""WITH RECURSIVE
         merges(rk, a, b) AS (SELECT * FROM (VALUES $vals) v(rk, a, b)),
         tl AS (SELECT doc_id, regexp_extract_all(text,
           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]') AS ws
           FROM documents),
         toks AS (SELECT doc_id, ws[x.i] AS w FROM tl,
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) x),
         words AS (SELECT DISTINCT w FROM toks),
         enc AS (
           SELECT w, regexp_replace(w, '(.)', chr(31)||'\\1'||chr(31), 'g') AS seq
           FROM words
           UNION ALL
           SELECT e.w, replace(e.seq,
               chr(31)||m.a||chr(31)||chr(31)||m.b||chr(31),
               chr(31)||m.a||m.b||chr(31)) AS seq
           FROM enc e, LATERAL (SELECT a, b FROM merges
              WHERE position(chr(31)||merges.a||chr(31)||chr(31)||merges.b||chr(31)
                IN e.seq) > 0
              ORDER BY rk LIMIT 1) m(a, b)),
         fin AS (SELECT w, seq FROM enc e WHERE NOT EXISTS (
           SELECT 1 FROM merges m
           WHERE position(chr(31)||m.a||chr(31)||chr(31)||m.b||chr(31)
             IN e.seq) > 0)),
         wtok AS (SELECT w,
           (length(seq) - length(replace(seq, chr(31), ''))) // 2 AS ntok
           FROM fin),
         per AS (SELECT t.doc_id, sum(wt.ntok) AS nbpe
           FROM toks t JOIN wtok wt ON t.w = wt.w GROUP BY 1),
         dc AS (SELECT d.lang,
             length(replace(d.text, ' ', '')) AS nchars,
             len(str_split(d.text, ' ')) AS nws,
             coalesce(p.nbpe, 0) AS nbpe
           FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(nchars) AS BIGINT) AS sum_chars,
           CAST(sum(nws) AS BIGINT) AS sum_words,
           CAST(sum(nbpe) AS BIGINT) AS sum_bpe_tokens,
           ${graft.ops.ExactRound.ratioRoundedSql(
             "sum(nchars)", "sum(nbpe)", 6)} AS chars_per_token,
           ${graft.ops.ExactRound.ratioRoundedSql(
             "sum(nbpe)", "sum(nws)", 6)} AS fertility
         FROM dc GROUP BY 1 ORDER BY 1"""
    },

    // same merge-loop replay building the per-doc cost column, then q134's
    // exact hash-ordered cumulative budget take over it
    "q173_bpe_budget" -> {
      val vals = BpeMerges.zipWithIndex
        .map { case ((a, b), i) => s"($i,'$a','$b')" }.mkString(",")
      s"""WITH RECURSIVE
         merges(rk, a, b) AS (SELECT * FROM (VALUES $vals) v(rk, a, b)),
         tl AS (SELECT doc_id, regexp_extract_all(text,
           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]') AS ws
           FROM documents),
         toks AS (SELECT doc_id, ws[x.i] AS w FROM tl,
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) x),
         words AS (SELECT DISTINCT w FROM toks),
         enc AS (
           SELECT w, regexp_replace(w, '(.)', chr(31)||'\\1'||chr(31), 'g') AS seq
           FROM words
           UNION ALL
           SELECT e.w, replace(e.seq,
               chr(31)||m.a||chr(31)||chr(31)||m.b||chr(31),
               chr(31)||m.a||m.b||chr(31)) AS seq
           FROM enc e, LATERAL (SELECT a, b FROM merges
              WHERE position(chr(31)||merges.a||chr(31)||chr(31)||merges.b||chr(31)
                IN e.seq) > 0
              ORDER BY rk LIMIT 1) m(a, b)),
         fin AS (SELECT w, seq FROM enc e WHERE NOT EXISTS (
           SELECT 1 FROM merges m
           WHERE position(chr(31)||m.a||chr(31)||chr(31)||m.b||chr(31)
             IN e.seq) > 0)),
         wtok AS (SELECT w,
           (length(seq) - length(replace(seq, chr(31), ''))) // 2 AS ntok
           FROM fin),
         per AS (SELECT t.doc_id, sum(wt.ntok) AS nt
           FROM toks t JOIN wtok wt ON t.w = wt.w GROUP BY 1),
         dc AS (SELECT d.doc_id, d.source,
             CAST(coalesce(p.nt, 0) AS BIGINT) AS ntok
           FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id),
         c AS (SELECT source, doc_id, ntok,
           ${graft.ops.Sampling.budgetCumSql("doc_id", "ntok", "source")} AS cum
           FROM dc)
         SELECT source, count(*) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids,
           CAST(sum(ntok) AS BIGINT) AS sum_tokens
         FROM c WHERE cum <= 2000 GROUP BY 1 ORDER BY 1"""
    },

    // identical LM counts, identical add-1 smoothed log-prob with the
    // identical per-slot micro-nat quantization (order-free BIGINT sums)
    // and tercile window (ntile agrees cross-engine on the rounded score
    // + id order)
    "q154_lm_quality" ->
      """WITH toks AS (SELECT doc_id, str_split(text, ' ') AS ts FROM documents),
         uni AS (SELECT ts[x.i] AS w1, count(*) AS c1
           FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts))) AS i) x
           GROUP BY 1),
         bi AS (SELECT ts[x.i] AS w1, ts[x.i+1] AS w2, count(*) AS c2
           FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 1)) AS i) x
           WHERE len(ts) >= 2 GROUP BY 1, 2),
         v AS (SELECT count(*)::DOUBLE AS v FROM uni),
         dp AS (SELECT doc_id, ts[x.i] AS w1, ts[x.i+1] AS w2
           FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 1)) AS i) x
           WHERE len(ts) >= 2),
         sc AS (SELECT dp.doc_id, count(*) AS nb,
             CAST((2 * (-sum(CAST(round(1e6 * (ln(coalesce(bi.c2, 0) + 1.0)
               - ln(coalesce(uni.c1, 0) + v.v))) AS BIGINT))) + count(*))
               // (2 * count(*)) AS BIGINT) AS xm
           FROM dp LEFT JOIN bi USING (w1, w2) LEFT JOIN uni USING (w1)
           CROSS JOIN v GROUP BY 1),
         b AS (SELECT t.doc_id,
             CAST(coalesce(sc.nb, 0) AS BIGINT) AS n_bigrams,
             sc.xm::DOUBLE / 1e6 AS cross_entropy,
             (['head', 'middle', 'tail'])[ntile(3) OVER (
               ORDER BY sc.xm ASC NULLS LAST, t.doc_id)] AS bucket
           FROM toks t LEFT JOIN sc USING (doc_id))
         SELECT doc_id, n_bigrams, cross_entropy, bucket FROM b
         WHERE doc_id < 20 ORDER BY doc_id""",

    // the stupid backoff replayed: same integer-count CASE ladder, same
    // α=0.4 ln offsets, same add-1 unigram floor, the same per-slot
    // micro-nat quantization (order-free BIGINT sums) and tercile
    // assignment
    "q157_lm_quality_trigram" ->
      """WITH toks AS (SELECT doc_id, str_split(text, ' ') AS ts FROM documents),
         uni AS (SELECT ts[x.i] AS w1, count(*) AS c1
           FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts))) AS i) x
           GROUP BY 1),
         bi AS (SELECT ts[x.i] AS w1, ts[x.i+1] AS w2, count(*) AS c2
           FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 1)) AS i) x
           WHERE len(ts) >= 2 GROUP BY 1, 2),
         tri AS (SELECT ts[x.i] AS w1, ts[x.i+1] AS w2, ts[x.i+2] AS w3,
             count(*) AS c3
           FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 2)) AS i) x
           WHERE len(ts) >= 3 GROUP BY 1, 2, 3),
         tot AS (SELECT sum(c1)::DOUBLE AS n, count(*)::DOUBLE AS v FROM uni),
         dp AS (SELECT doc_id, ts[x.i] AS w1, ts[x.i+1] AS w2, ts[x.i+2] AS w3
           FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 2)) AS i) x
           WHERE len(ts) >= 3),
         sc AS (SELECT dp.doc_id, count(*) AS nt,
             CAST((2 * (-sum(CAST(round(1e6 * CASE
               WHEN coalesce(tri.c3, 0) > 0
                 THEN ln(tri.c3::DOUBLE) - ln(b12.c2::DOUBLE)
               WHEN coalesce(b23.c2, 0) > 0
                 THEN ln(0.4) + ln(b23.c2::DOUBLE) - ln(u2.c1::DOUBLE)
               ELSE 2 * ln(0.4) + ln(coalesce(u3.c1, 0)::DOUBLE + 1.0)
                 - ln(tot.n + tot.v) END) AS BIGINT))) + count(*))
               // (2 * count(*)) AS BIGINT) AS xm
           FROM dp
           LEFT JOIN tri USING (w1, w2, w3)
           LEFT JOIN bi b12 ON dp.w1 = b12.w1 AND dp.w2 = b12.w2
           LEFT JOIN bi b23 ON dp.w2 = b23.w1 AND dp.w3 = b23.w2
           LEFT JOIN uni u2 ON dp.w2 = u2.w1
           LEFT JOIN uni u3 ON dp.w3 = u3.w1
           CROSS JOIN tot GROUP BY 1),
         b AS (SELECT t.doc_id,
             CAST(coalesce(sc.nt, 0) AS BIGINT) AS n_trigrams,
             sc.xm::DOUBLE / 1e6 AS cross_entropy,
             (['head', 'middle', 'tail'])[ntile(3) OVER (
               ORDER BY sc.xm ASC NULLS LAST, t.doc_id)] AS bucket
           FROM toks t LEFT JOIN sc USING (doc_id))
         SELECT doc_id, n_trigrams, cross_entropy, bucket FROM b
         WHERE doc_id < 20 ORDER BY doc_id""",

    // the full 5-gram ladder replayed: numerator/denominator count tables
    // at every order, the same α=0.4 per-level offsets, the same add-1
    // unigram floor and tercile assignment
    "q169_lm_quality_5gram" -> fiveGramLadderSql(minCount = 1),

    // two trigram ladders in one statement (in-domain = src1+src2,
    // general = everything) over SHARED document slots; ml = exact
    // BIGINT xm difference; keep rule and checksum replayed on the grid
    "q295_moore_lewis" -> {
      val hSql = PortableHash.md5LongSql("doc_id::VARCHAR", 41)
      s"""WITH toks AS (SELECT doc_id, str_split(text, ' ') AS ts
           FROM documents),
         dp AS (SELECT doc_id, ts[x.i] AS w1, ts[x.i+1] AS w2,
             ts[x.i+2] AS w3
           FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 2)) AS i) x
           WHERE len(ts) >= 3),
         ${triXentCoreSql("ind",
          "SELECT text FROM documents WHERE source IN ('src1', 'src2')")},
         ${triXentCoreSql("gen", "SELECT text FROM documents")},
         ml AS (SELECT d.doc_id, d.source, si.xm - sg.xm AS ml
           FROM documents d
           LEFT JOIN sc_ind si USING (doc_id)
           LEFT JOIN sc_gen sg USING (doc_id))
         SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN ml IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_scored,
           CAST(sum(CASE WHEN ml < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keep,
           CAST(sum(ml) AS BIGINT) AS sum_ml,
           CAST(min(ml) AS BIGINT) AS min_ml,
           CAST(max(ml) AS BIGINT) AS max_ml,
           CAST(coalesce(bit_xor(CASE WHEN ml < 0 THEN $hSql END), 0)
             AS BIGINT) AS keep_checksum
         FROM ml GROUP BY 1 ORDER BY 1"""
    },

    // identical ladder with the identical KenLM-style HAVING prune on
    // every order >= 2 table (unigram floor untouched)
    "q175_lm_5gram_pruned" -> fiveGramLadderSql(minCount = 2),

    // the q189 funnel stages with the q295 double ladder between quality
    // and exact dedup: ML scores over the QUALITY SURVIVORS (the stage's
    // own input), refs unchanged from q295 (in-domain = src1+src2,
    // general = all documents); unscored (slotless) docs drop at the
    // ML stage — the gate keeps only what it can judge
    "q301_ml_curate_funnel" -> {
      val mins = (0 until 16)
        .map(j => s"min(${PortableHash.derivedHashSql("h", j)}) s$j")
        .mkString(", ")
      val sigCols = (0 until 16).map(j => s"s$j").mkString(", ")
      s"""WITH q0 AS (SELECT * FROM documents
           WHERE ${TA.qualityClassSql("text")} = 'ok'),
         toks AS (SELECT doc_id, str_split(text, ' ') AS ts FROM q0),
         dp AS (SELECT doc_id, ts[x.i] AS w1, ts[x.i+1] AS w2,
             ts[x.i+2] AS w3
           FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 2)) AS i) x
           WHERE len(ts) >= 3),
         ${triXentCoreSql("ind",
          "SELECT text FROM documents WHERE source IN ('src1', 'src2')")},
         ${triXentCoreSql("gen", "SELECT text FROM documents")},
         mlq AS (SELECT q0.* FROM q0
           JOIN sc_ind si USING (doc_id)
           JOIN sc_gen sg USING (doc_id)
           WHERE si.xm - sg.xm < 0),
         e1 AS (SELECT * FROM mlq
           QUALIFY row_number() OVER (PARTITION BY md5(lower(trim(text)))
             ORDER BY doc_id) = 1),
         sh AS (SELECT doc_id, ${graft.ops.Dedup.shinglesSql("text", 3)} sgs
           FROM e1),
         ex AS (SELECT doc_id AS doc, unnest(sgs) sg FROM sh),
         hashed AS (SELECT doc, ${PortableHash.baseHashSql("sg")} h FROM ex),
         sig AS (SELECT doc, $mins FROM hashed GROUP BY doc),
         e2 AS (SELECT e1.* FROM e1 JOIN sig ON doc_id = sig.doc
           QUALIFY row_number() OVER (PARTITION BY $sigCols ORDER BY doc_id) = 1)
         SELECT CAST(0 AS INTEGER) AS stage_idx, 'input' AS stage,
           (SELECT count(*) FROM documents) AS n_docs
         UNION ALL SELECT 1, 'quality', (SELECT count(*) FROM q0)
         UNION ALL SELECT 2, 'moore_lewis', (SELECT count(*) FROM mlq)
         UNION ALL SELECT 3, 'exact_dedup', (SELECT count(*) FROM e1)
         UNION ALL SELECT 4, 'fuzzy_dedup', (SELECT count(*) FROM e2)
         ORDER BY stage_idx"""
    },

    // the two ladders (proxy = quarter slice, reference = everything)
    // replayed like q295, the per-domain excess aggregate on the
    // half-up micro grid, THEN the whole exponentiated-gradient loop as
    // a list-state recursive CTE: exact HUGEINT multiply → largest-
    // remainder re-grid (rank by remainder desc, domain order asc) →
    // 80/20 uniform smoothing re-grid — every iterate, not just the
    // final weights, is pinned by construction
    "q304_doremi_mixture" -> {
      val n = "c.n"
      def rankOf(rem: String): String =
        s"""list_transform(range(1, $n + 1), i ->
           len(list_filter(range(1, $n + 1), j ->
             $rem[j] > $rem[i] OR ($rem[j] = $rem[i] AND j < i))))"""
      s"""WITH RECURSIVE toks AS (SELECT doc_id, str_split(text, ' ') AS ts
           FROM documents),
         dp AS (SELECT doc_id, ts[x.i] AS w1, ts[x.i+1] AS w2,
             ts[x.i+2] AS w3
           FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 2)) AS i) x
           WHERE len(ts) >= 3),
         ${triXentCoreSql("px",
          "SELECT text FROM documents WHERE doc_id % 4 = 0")},
         ${triXentCoreSql("gen", "SELECT text FROM documents")},
         dom AS (SELECT d.source AS domain, count(*) AS n_docs,
             CAST(coalesce(sum(CASE WHEN sp.xm IS NOT NULL
               THEN sp.nt END), 0) AS BIGINT) AS n_slots,
             coalesce(sum(CASE WHEN sp.xm IS NOT NULL
               THEN greatest(sp.xm - sg.xm, 0) * sp.nt END), 0) AS num
           FROM documents d
           LEFT JOIN sc_px sp USING (doc_id)
           LEFT JOIN sc_gen sg USING (doc_id)
           GROUP BY 1),
         dml AS (SELECT domain, n_docs, n_slots,
             CASE WHEN n_slots > 0
               THEN ${ExactRound.halfUpDivSql("num", "n_slots")}
               ELSE 0 END AS lambda_micro
           FROM dom),
         cons AS (SELECT list(domain ORDER BY domain) AS doms,
             list(CAST(round(1e6 * exp(least(
                 (100 * lambda_micro)::DOUBLE / 1e8, 20.0))) AS HUGEINT)
               ORDER BY domain) AS es,
             count(*)::INTEGER AS n
           FROM dml),
         useed AS (SELECT n, es, doms,
             list_transform(range(1, n + 1), i ->
               (1000000 // n + CASE WHEN i <= 1000000 % n THEN 1 ELSE 0 END)::HUGEINT) AS u,
             list_transform(range(1, n + 1), i -> 0::HUGEINT) AS zs
           FROM cons),
         eg AS (
           SELECT 0 AS t, u AS alpha, zs AS acc FROM useed
           UNION ALL
           SELECT e.t + 1, z5.alpha2,
             list_transform(e.acc, (a, i) -> a + z5.alpha2[i])
           FROM eg e
           CROSS JOIN useed c
           CROSS JOIN LATERAL (SELECT
             list_transform(e.alpha, (a, i) -> a * c.es[i]) AS s) z1
           CROSS JOIN LATERAL (SELECT list_sum(z1.s) AS ssum) z1b
           CROSS JOIN LATERAL (SELECT
             list_transform(z1.s, x -> (x * 1000000) // z1b.ssum) AS b1,
             list_transform(z1.s, x -> (x * 1000000) % z1b.ssum) AS r1) z2
           CROSS JOIN LATERAL (SELECT
             1000000 - list_sum(z2.b1) AS l1,
             ${rankOf("z2.r1")} AS k1) z2b
           CROSS JOIN LATERAL (SELECT
             list_transform(z2.b1, (b, i) ->
               b + CASE WHEN z2b.k1[i] < z2b.l1 THEN 1 ELSE 0 END) AS norm) z3
           CROSS JOIN LATERAL (SELECT
             list_transform(z3.norm, (x, i) -> 80 * x + 20 * c.u[i]) AS v) z4
           CROSS JOIN LATERAL (SELECT
             list_transform(z4.v, x -> x // 100) AS b2,
             list_transform(z4.v, x -> x % 100) AS r2) z4b
           CROSS JOIN LATERAL (SELECT
             1000000 - list_sum(z4b.b2) AS l2,
             ${rankOf("z4b.r2")} AS k2) z4c
           CROSS JOIN LATERAL (SELECT
             list_transform(z4b.b2, (b, i) ->
               b + CASE WHEN z4c.k2[i] < z4c.l2 THEN 1 ELSE 0 END) AS alpha2) z5
           WHERE e.t < 10),
         fin AS (SELECT f.alpha AS w_last, z7.w_avg
           FROM eg f
           CROSS JOIN useed c
           CROSS JOIN LATERAL (SELECT
             list_transform(f.acc, x -> x // 10) AS b3,
             list_transform(f.acc, x -> x % 10) AS r3) z6
           CROSS JOIN LATERAL (SELECT
             1000000 - list_sum(z6.b3) AS l3,
             ${rankOf("z6.r3")} AS k3) z6b
           CROSS JOIN LATERAL (SELECT
             list_transform(z6.b3, (b, i) ->
               b + CASE WHEN z6b.k3[i] < z6b.l3 THEN 1 ELSE 0 END) AS w_avg) z7
           WHERE f.t = 10)
         SELECT m.domain, m.n_docs, m.n_slots,
           CAST(m.lambda_micro AS BIGINT) AS lambda_micro,
           CAST(c.es[x.i] AS BIGINT) AS e_micro,
           CAST(f.w_last[x.i] AS BIGINT) AS w_last_micro,
           CAST(f.w_avg[x.i] AS BIGINT) AS w_avg_micro
         FROM fin f CROSS JOIN cons c
         CROSS JOIN LATERAL (SELECT unnest(range(1, c.n + 1)) AS i) x
         JOIN dml m ON m.domain = c.doms[x.i]
         ORDER BY domain"""
    },

    // identical plant, identical per-char counting

    // identical plant, identical per-char counting (1-based substr series)
    // and the identical factored entropy formula
    "q153_char_entropy" ->
      """WITH planted AS (SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN 'aaaaaaaaaaaaaaaaaaaa'
                WHEN doc_id % 7 = 1 THEN 'abcdefghijklmnopqrstuvwxyz0123456789'
                ELSE text END AS text
           FROM documents WHERE doc_id < 20),
         chars AS (SELECT doc_id, substr(text, x.i, 1) AS ch
           FROM planted, LATERAL (SELECT unnest(generate_series(1, length(text))) AS i) x),
         counts AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY 1, 2),
         agg AS (SELECT doc_id, sum(c) AS n_chars,
             sum(c::DOUBLE * ln(c::DOUBLE)) AS clc
           FROM counts GROUP BY 1)
         SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CASE WHEN n_chars = 0 THEN 0.0
             ELSE round((ln(n_chars::DOUBLE) - clc / n_chars) / ln(2.0), 6)
           END AS entropy
         FROM agg ORDER BY doc_id""",

    // identical slot/position construction (0-based), identical covered-
    // position expansion and order-restoring rebuild
    "q152_span_cut" ->
      """WITH toks AS (SELECT doc_id, str_split(text, ' ') AS ts FROM documents),
         tok AS (SELECT doc_id, x.i - 1 AS pos, ts[x.i] AS tok
           FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts))) AS i) x),
         slots AS (SELECT doc_id, x.i - 1 AS spos,
             array_to_string(ts[x.i:x.i+4], ' ') AS gram
           FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 4)) AS i) x
           WHERE len(ts) >= 5),
         spans AS (SELECT gram FROM slots
           GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
         cov AS (SELECT DISTINCT s.doc_id, s.spos + o.o AS pos
           FROM slots s JOIN spans USING (gram),
           LATERAL (SELECT unnest(generate_series(0, 4)) AS o) o),
         kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t
           ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos),
         reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS t2,
             count(*) AS kept
           FROM kept GROUP BY 1)
         SELECT d.doc_id, CAST(len(d.ts) AS BIGINT) AS n_tokens,
           CAST(coalesce(r.kept, 0) AS BIGINT) AS n_tokens_kept,
           md5(coalesce(r.t2, '')) AS fp
         FROM toks d LEFT JOIN reb r USING (doc_id)
         WHERE d.doc_id < 10 ORDER BY d.doc_id""",

    // q152's replay with the canonical split: rank repeated windows per
    // gram by (doc, position); cut coverage = non-canonical expansion
    // minus canonical expansion
    "q168_span_cut_keep_first" ->
      """WITH toks AS (SELECT doc_id, str_split(text, ' ') AS ts FROM documents),
         tok AS (SELECT doc_id, x.i - 1 AS pos, ts[x.i] AS tok
           FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts))) AS i) x),
         slots AS (SELECT doc_id, x.i - 1 AS spos,
             array_to_string(ts[x.i:x.i+4], ' ') AS gram
           FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 4)) AS i) x
           WHERE len(ts) >= 5),
         spans AS (SELECT gram FROM slots
           GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
         can AS (SELECT s.doc_id, s.spos,
             row_number() OVER (PARTITION BY gram
               ORDER BY s.doc_id, s.spos) AS rk
           FROM slots s JOIN spans USING (gram)),
         cutpos AS (SELECT DISTINCT c.doc_id, c.spos + o.o AS pos
           FROM can c, LATERAL (SELECT unnest(generate_series(0, 4)) AS o) o
           WHERE c.rk > 1),
         keeppos AS (SELECT DISTINCT c.doc_id, c.spos + o.o AS pos
           FROM can c, LATERAL (SELECT unnest(generate_series(0, 4)) AS o) o
           WHERE c.rk = 1),
         cut AS (SELECT c.doc_id, c.pos FROM cutpos c
           ANTI JOIN keeppos k ON c.doc_id = k.doc_id AND c.pos = k.pos),
         kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t
           ANTI JOIN cut c ON t.doc_id = c.doc_id AND t.pos = c.pos),
         reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS t2,
             count(*) AS kept
           FROM kept GROUP BY 1)
         SELECT d.doc_id, CAST(len(d.ts) AS BIGINT) AS n_tokens,
           CAST(coalesce(r.kept, 0) AS BIGINT) AS n_tokens_kept,
           md5(coalesce(r.t2, '')) AS fp
         FROM toks d LEFT JOIN reb r USING (doc_id)
         WHERE d.doc_id < 10 ORDER BY d.doc_id""",

    // identical slot construction; the gaps-and-islands interval merge
    // replayed (break when the gap between consecutive repeated positions
    // exceeds L, islands grouped to their extents)
    "q155_maximal_spans" ->
      """WITH toks AS (SELECT doc_id, str_split(text, ' ') AS ts FROM documents),
         slots AS (SELECT doc_id, x.i - 1 AS spos,
             array_to_string(ts[x.i:x.i+4], ' ') AS gram
           FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 4)) AS i) x
           WHERE len(ts) >= 5),
         spans AS (SELECT gram FROM slots
           GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
         rep AS (SELECT s.doc_id, s.spos FROM slots s JOIN spans USING (gram)),
         flag AS (SELECT doc_id, spos,
             CASE WHEN spos - lag(spos) OVER (PARTITION BY doc_id ORDER BY spos) > 5
               THEN 1 ELSE 0 END AS brk
           FROM rep),
         isl AS (SELECT doc_id, spos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY spos
               ROWS UNBOUNDED PRECEDING) AS g
           FROM flag),
         merged AS (SELECT doc_id, CAST(min(spos) AS BIGINT) AS span_start,
             CAST(max(spos) + 4 AS BIGINT) AS span_end,
             CAST(count(*) AS BIGINT) AS n_windows
           FROM isl GROUP BY doc_id, g)
         SELECT doc_id, span_start, span_end,
           span_end - span_start + 1 AS span_len, n_windows
         FROM merged WHERE doc_id < 30 ORDER BY doc_id, span_start""",

    // identical slot construction; the mined span set and the per-doc
    // containment join replayed
    "q148_span_coverage" ->
      s"""WITH toks AS (SELECT doc_id, str_split(text, ' ') AS ts FROM documents),
         grams AS (SELECT doc_id, array_to_string(ts[x.i:x.i+2], ' ') AS gram
           FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 2)) AS i) x
           WHERE len(ts) >= 3),
         spans AS (SELECT gram FROM grams
           GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
         hits AS (SELECT g.doc_id, count(*) AS n_rep
           FROM grams g JOIN spans s USING (gram) GROUP BY 1),
         base AS (SELECT doc_id,
             CAST(greatest(len(ts) - 2, 0) AS BIGINT) AS n_slots
           FROM toks)
         SELECT b.doc_id, b.n_slots,
           CAST(coalesce(h.n_rep, 0) AS BIGINT) AS n_repeated,
           CASE WHEN b.n_slots = 0 THEN 0.0
             ELSE ${graft.ops.ExactRound.ratioRoundedSql(
               "coalesce(h.n_rep, 0)", "b.n_slots", 6)} END AS coverage
         FROM base b LEFT JOIN hits h USING (doc_id)
         WHERE b.doc_id < 20 ORDER BY b.doc_id""",

    // identical slot construction; count(DISTINCT doc) / count(*) replayed
    "q146_repeated_spans" ->
      """WITH toks AS (SELECT doc_id, str_split(text, ' ') AS ts FROM documents),
         grams AS (SELECT doc_id, array_to_string(ts[x.i:x.i+4], ' ') AS gram
           FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 4)) AS i) x
           WHERE len(ts) >= 5),
         spans AS (SELECT gram, count(DISTINCT doc_id) AS n_docs,
             count(*) AS n_occ
           FROM grams GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
         top AS (SELECT * FROM spans
           ORDER BY n_docs DESC, n_occ DESC, gram LIMIT 20)
         SELECT gram, n_docs, n_occ FROM top
         ORDER BY n_docs DESC, n_occ DESC, gram""",

    // identical slot construction (1-based inclusive list slice ≡ Spark's
    // slice+concat_ws), identical (count DESC, gram ASC) top-1
    "q145_top_ngram_frac" ->
      s"""WITH toks AS (SELECT doc_id, str_split(text, ' ') AS ts,
             length(text) AS nc FROM documents WHERE doc_id < 20),
         grams AS (SELECT doc_id, nc, array_to_string(ts[x.i:x.i+1], ' ') AS gram
           FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 1)) AS i) x
           WHERE len(ts) >= 2),
         counts AS (SELECT doc_id, nc, gram, count(*) AS cnt
           FROM grams GROUP BY 1, 2, 3),
         top AS (SELECT doc_id, nc, gram, cnt,
             row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
           FROM counts)
         SELECT t.doc_id, coalesce(p.gram, '') AS top_ngram,
           CAST(coalesce(p.cnt, 0) AS BIGINT) AS top_count,
           CASE WHEN t.nc = 0 THEN 0.0
             ELSE ${graft.ops.ExactRound.ratioRoundedSql(
               "coalesce(p.cnt * length(p.gram), 0)", "t.nc", 6)}
           END AS frac
         FROM toks t LEFT JOIN (SELECT * FROM top WHERE rn = 1) p USING (doc_id)
         ORDER BY t.doc_id""",

    // identical line fixture + identical remove-and-rebuild, replayed in
    // DuckDB (LATERAL series gives each line its position; string_agg
    // ORDER BY pos restores survivor order exactly like the array_sort
    // rebuild)
    "q144_boilerplate_lines" ->
      """WITH lined AS (SELECT doc_id, replace(text, ' table ', chr(10)) AS t
           FROM documents),
         parts AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM lined),
         lines AS (SELECT doc_id, x.i AS pos, ls[x.i] AS line
           FROM parts, LATERAL (SELECT unnest(generate_series(1, len(ls))) AS i) x),
         freq AS (SELECT line FROM lines
           GROUP BY 1 HAVING count(DISTINCT doc_id) >= 5),
         kept AS (SELECT * FROM lines WHERE line NOT IN (SELECT line FROM freq)),
         reb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS t2,
             count(*) AS n_kept
           FROM kept GROUP BY 1)
         SELECT l.doc_id,
           CAST(len(string_split(l.t, chr(10))) AS BIGINT) AS n_lines,
           CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_lines_kept,
           md5(coalesce(r.t2, '')) AS fp
         FROM lined l LEFT JOIN reb r USING (doc_id)
         WHERE l.doc_id < 10 ORDER BY l.doc_id""",

    // identical plant + identical scrub, replayed in DuckDB
    "q120_scrub" -> {
      import graft.ops.TextAnalysis.scrubSql
      s"""WITH planted AS (SELECT doc_id, source,
           text || ' Contact USER' || CAST(doc_id AS VARCHAR) || '@Example.COM  or '
             || CAST(doc_id % 900 + 100 AS VARCHAR) || '-555-01'
             || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '  now' AS text
           FROM documents),
         c AS (SELECT doc_id, source, ${scrubSql("text")} AS clean FROM planted)
         SELECT source, count(*) AS n,
           count(DISTINCT md5(clean)) AS n_distinct_clean,
           CAST(sum(length(clean)) AS BIGINT) AS sum_len,
           CAST(sum(CASE WHEN clean LIKE '%<email>%' THEN 1 ELSE 0 END) AS BIGINT) AS n_email,
           CAST(sum(CASE WHEN clean LIKE '%<phone>%' THEN 1 ELSE 0 END) AS BIGINT) AS n_phone
         FROM c GROUP BY 1 ORDER BY 1"""
    },

    // the Bloom pre-filter is invisible to the result by contract: the
    // oracle is the plain anti join it must equal
    "q119_bloom_dedup" ->
      """WITH corpus AS (SELECT md5(text) AS fp FROM documents WHERE doc_id % 3 = 0)
         SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         FROM documents
         WHERE doc_id % 3 <> 0 AND md5(text) NOT IN (SELECT fp FROM corpus)
         GROUP BY 1 ORDER BY 1""",

    "q130_ngram_decontam" ->
      s"""WITH bg AS (SELECT DISTINCT unnest($sh3) g FROM documents WHERE doc_id % 10 = 0),
         |inc AS (SELECT doc_id, $sh3 s FROM documents WHERE doc_id % 10 <> 0),
         |ig AS (SELECT doc_id, unnest(s) g FROM inc),
         |hit AS (SELECT doc_id, count(*) h FROM ig
         |  WHERE g IN (SELECT g FROM bg) GROUP BY 1),
         |tot AS (SELECT doc_id, len(s) t FROM inc)
         |SELECT tot.doc_id AS id,
         |  ${graft.ops.ExactRound.ratioRoundedSql("coalesce(h, 0)", "t", 6)}
         |  AS overlap,
         |  (coalesce(h, 0) / t) >= 0.5 AS contaminated
         |FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
         |ORDER BY id""".stripMargin,

    "q40_dedup_exact" ->
      """SELECT source, count(*) AS n, count(DISTINCT text) AS n_distinct_text,
         count(DISTINCT md5(lower(trim(text)))) AS n_distinct_fp
         FROM documents GROUP BY 1 ORDER BY 1""",

    "q41_fingerprint" ->
      s"""SELECT source, count(*) AS n,
         CAST(sum(${PortableHash.rollingHashSql("text")}) AS BIGINT) AS sum_rh,
         min(md5(lower(trim(text)))) AS min_fp,
         max(md5(lower(trim(text)))) AS max_fp
         FROM documents GROUP BY 1 ORDER BY 1""",

    "q42_token_count" ->
      """SELECT lang, count(*) AS n_docs,
         CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS sum_tokens,
         avg(len(str_split(text, ' '))) AS avg_tokens,
         CAST(min(len(str_split(text, ' '))) AS INT) AS min_tokens,
         CAST(max(len(str_split(text, ' '))) AS INT) AS max_tokens
         FROM documents GROUP BY 1 ORDER BY 1""",

    // identical per-row micro-grid quantization, integer mean, one final
    // IEEE division (the r15 mean-of-ratios migration)
    "q43_quality" ->
      s"""WITH m AS (SELECT source, ${TA.qualityClassSql("text")} qclass,
         ${TA.typeTokenRatioMicroSql("text")} ttr_u,
         ${TA.avgWordLenMicroSql("text")} awl_u
         FROM documents)
         SELECT source, qclass, count(*) AS n,
         ${ExactRound.halfUpDivSql("sum(ttr_u)", "count(*)")}::DOUBLE / 1e6
           AS avg_ttr,
         ${ExactRound.halfUpDivSql("sum(awl_u)", "count(*)")}::DOUBLE / 1e6
           AS avg_awl
         FROM m GROUP BY 1, 2 ORDER BY 1, 2""",

    "q44_langid" ->
      s"""SELECT lang, ${TA.langIdSql("text")} AS predicted, count(*) AS n
         FROM documents GROUP BY 1, 2 ORDER BY 1, 2""",

    "q45_shingle_jaccard" ->
      s"""$jaccardCte
         SELECT i, j, jacc_micro::DOUBLE / 1e6 AS jaccard
         FROM pairs WHERE jaccard >= 0.8
         ORDER BY jacc_micro DESC, i, j""",

    "q115_heavy_hitters" ->
      """WITH toks AS (SELECT lang, unnest(str_split(text, ' ')) tok FROM documents),
         cnt AS (SELECT lang, tok, count(*) c FROM toks GROUP BY 1, 2),
         r AS (SELECT lang, tok, c,
             row_number() OVER (PARTITION BY lang ORDER BY c DESC, tok) rn
           FROM cnt)
         SELECT lang, CAST(rn AS INT) AS rank, tok AS term, c AS cnt
         FROM r WHERE rn <= 10 ORDER BY lang, rank""",

    "q113_incremental_dedup" -> {
      val mins = (0 until 16)
        .map(j => s"min(${PortableHash.derivedHashSql("h", j)}) s$j").mkString(", ")
      val bandsSel = (0 until 4).map { b =>
        val key = (b * 4 until b * 4 + 4).map(j => s"s$j").mkString(" || ',' || ")
        s"SELECT doc, $b band, $key bkey FROM sig"
      }.mkString(" UNION ALL ")
      val agree = (0 until 16)
        .map(j => s"CASE WHEN ai.s$j = ci.s$j THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH sh AS (SELECT doc_id, $sh3 s FROM documents),
         |e AS (SELECT doc_id AS doc, unnest(s) sg FROM sh),
         |hashed AS (SELECT doc, ${PortableHash.baseHashSql("sg")} h FROM e),
         |sig AS (SELECT doc, $mins FROM hashed GROUP BY doc),
         |bands AS ($bandsSel),
         |cand AS (SELECT DISTINCT a.doc i, b.doc j FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bkey = b.bkey
         |  WHERE a.doc % 3 <> 0 AND b.doc % 3 = 0),
         |dropped AS (SELECT DISTINCT c.i FROM cand c
         |  JOIN sig ai ON ai.doc = c.i JOIN sig ci ON ci.doc = c.j
         |  WHERE $agree >= 8)
         |SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM documents WHERE doc_id % 3 <> 0
         |  AND doc_id NOT IN (SELECT i FROM dropped)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q280_text_admission" -> {
      val mins = (0 until 16)
        .map(j => s"min(${PortableHash.derivedHashSql("h", j)}) s$j").mkString(", ")
      val sigCols = (0 until 16).map(j => s"s$j").mkString(", ")
      val bandsSel = (0 until 4).map { b =>
        val key = (b * 4 until b * 4 + 4).map(j => s"s$j").mkString(" || ',' || ")
        s"SELECT doc, $b band, $key bkey FROM sig"
      }.mkString(" UNION ALL ")
      val agree = (0 until 16)
        .map(j => s"CASE WHEN ai.s$j = ci.s$j THEN 1 ELSE 0 END").mkString(" + ")
      val hid = PortableHash.md5LongSql("doc_id::VARCHAR", 99)
      // arrival ids: doc_id % 3 <> 0 under 1e6, or >= 1e6 (the plants)
      val isArr = "(doc >= 1000000 OR doc % 3 <> 0)"
      s"""WITH rel AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
         |  UNION ALL SELECT doc_id + 1000000 AS doc_id, text
         |    FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 8 = 0),
         |allr AS (SELECT doc_id, text FROM rel
         |  UNION ALL SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
         |sh AS (SELECT doc_id, $sh3 s FROM allr),
         |e AS (SELECT doc_id AS doc, unnest(s) sg FROM sh),
         |hashed AS (SELECT doc, ${PortableHash.baseHashSql("sg")} h FROM e),
         |sig AS (SELECT doc, $mins FROM hashed GROUP BY doc),
         |surv AS (SELECT doc FROM (SELECT doc, row_number() OVER (
         |    PARTITION BY $sigCols ORDER BY doc) rn
         |  FROM sig WHERE $isArr) WHERE rn = 1),
         |bands AS ($bandsSel),
         |cand AS (SELECT DISTINCT a.doc i, b.doc j FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bkey = b.bkey
         |  WHERE a.doc IN (SELECT doc FROM surv)
         |    AND (b.doc < 1000000 AND b.doc % 3 = 0)),
         |dropped AS (SELECT DISTINCT c.i FROM cand c
         |  JOIN sig ai ON ai.doc = c.i JOIN sig ci ON ci.doc = c.j
         |  WHERE $agree >= 8),
         |adm AS (SELECT doc FROM surv
         |  WHERE doc NOT IN (SELECT i FROM dropped)),
         |cat AS (SELECT doc_id,
         |  CASE WHEN doc_id >= 1000000 THEN 'dup_plant'
         |    ELSE 'organic' END AS category,
         |  CASE WHEN doc_id IN (SELECT doc FROM adm) THEN 1 ELSE 0 END AS a
         |  FROM rel)
         |SELECT category, count(*) AS n_in,
         |  CAST(sum(a) AS BIGINT) AS n_admitted,
         |  CAST(coalesce(bit_xor(CASE WHEN a = 1 THEN $hid END), 0)
         |    AS BIGINT) AS admitted_checksum
         |FROM cat GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q277_release_merge" -> {
      val mins = (0 until 16)
        .map(j => s"min(${PortableHash.derivedHashSql("h", j)}) s$j").mkString(", ")
      val bandsSel = (0 until 4).map { b =>
        val key = (b * 4 until b * 4 + 4).map(j => s"s$j").mkString(" || ',' || ")
        s"SELECT doc, $b band, $key bkey FROM sig"
      }.mkString(" UNION ALL ")
      val agree = (0 until 16)
        .map(j => s"CASE WHEN ai.s$j = ci.s$j THEN 1 ELSE 0 END").mkString(" + ")
      val hid = PortableHash.md5LongSql("doc_id::VARCHAR", 99)
      s"""WITH rel AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
         |  UNION ALL SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
         |  UNION ALL SELECT doc_id + 1000000 AS doc_id, text
         |    FROM documents WHERE doc_id % 10 = 0),
         |sh AS (SELECT doc_id, $sh3 s FROM rel),
         |e AS (SELECT doc_id AS doc, unnest(s) sg FROM sh),
         |hashed AS (SELECT doc, ${PortableHash.baseHashSql("sg")} h FROM e),
         |sig AS (SELECT doc, $mins FROM hashed GROUP BY doc),
         |bands AS ($bandsSel),
         |cand AS (SELECT DISTINCT a.doc i, b.doc j FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bkey = b.bkey
         |  WHERE (a.doc >= 1000000 OR a.doc % 2 = 1)
         |    AND (b.doc < 1000000 AND b.doc % 2 = 0)),
         |dropped AS (SELECT DISTINCT c.i FROM cand c
         |  JOIN sig ai ON ai.doc = c.i JOIN sig ci ON ci.doc = c.j
         |  WHERE $agree >= 8),
         |cat AS (SELECT doc_id,
         |  CASE WHEN doc_id >= 1000000 THEN 'plant_b'
         |    WHEN doc_id % 2 = 0 THEN 'release_a'
         |    ELSE 'organic_b' END AS category,
         |  CASE WHEN (doc_id % 2 = 0 AND doc_id < 1000000)
         |      OR doc_id NOT IN (SELECT i FROM dropped)
         |    THEN 1 ELSE 0 END AS kept
         |  FROM rel)
         |SELECT category, count(*) AS n_in,
         |  CAST(sum(kept) AS BIGINT) AS n_kept,
         |  CAST(coalesce(bit_xor(CASE WHEN kept = 1 THEN $hid END), 0)
         |    AS BIGINT) AS kept_checksum
         |FROM cat GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q46_minhash_lsh" ->
      s"""$jaccardCte,
         $minhashSig
         SELECT c.i, c.j, p.jacc_micro::DOUBLE / 1e6 AS jaccard FROM cand c
         JOIN pairs p ON p.i = c.i AND p.j = c.j
         WHERE p.jaccard >= 0.9 ORDER BY c.i, c.j""",

    "q47_simhash" -> simhashSql,

    "q85_simhash_rowwise" -> simhashSql,

    "q93_simhash_pairs" ->
      s"""WITH s AS ($simhashSql),
         p AS (SELECT a.doc_id AS i, b.doc_id AS j,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
           FROM s a JOIN s b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.simhash, b.simhash)) <= 3)
         SELECT hamming, count(*) AS n_pairs, min(i) AS min_i, max(j) AS max_j
         FROM p GROUP BY 1 ORDER BY 1""",

    "q74_dup_clusters" ->
      s"""${jaccardCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         hi AS (SELECT i, j FROM pairs WHERE jaccard >= 0.9),
         edges AS (SELECT i a, j b FROM hi UNION SELECT j, i FROM hi),
         reach AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         SELECT a AS node, least(a, min(b)) AS cluster
         FROM reach GROUP BY a ORDER BY node""",

    // identical reach closure; weights as the identical half-up
    // 1e6/|cluster| grid, singletons filled with weight 1e6
    "q297_soft_dedup" -> {
      val hSql = PortableHash.md5LongSql("doc_id::VARCHAR", 53)
      s"""${jaccardCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         hi AS (SELECT i, j FROM pairs WHERE jaccard >= 0.9),
         edges AS (SELECT i a, j b FROM hi UNION SELECT j, i FROM hi),
         reach AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         cc AS (SELECT a AS node, least(a, min(b)) AS cluster
           FROM reach GROUP BY a),
         sz AS (SELECT cluster, count(*) AS n FROM cc GROUP BY 1),
         w AS (SELECT d.doc_id, d.source,
             coalesce(sz.n, 1) AS n_cluster,
             ${graft.ops.ExactRound.halfUpDivSql("1000000",
            "coalesce(sz.n, 1)")} AS w_micro
           FROM documents d
           LEFT JOIN cc ON d.doc_id = cc.node
           LEFT JOIN sz ON cc.cluster = sz.cluster)
         SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN n_cluster > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_downweighted,
           CAST(max(n_cluster) AS BIGINT) AS max_cluster,
           CAST(sum(w_micro) AS BIGINT) AS sum_w_micro,
           CAST(min(w_micro) AS BIGINT) AS min_w_micro,
           CAST(coalesce(bit_xor(CASE WHEN n_cluster > 1
             THEN $hSql END), 0) AS BIGINT) AS dw_checksum
         FROM w GROUP BY 1 ORDER BY 1"""
    },

    // identical reach closure; split = the identical hash-threshold CASE
    // over the cluster representative; straddle census over (rep, split)
    "q307_cluster_split" -> {
      val splitCase = Sampling.splitSql("coalesce(cc.cluster, d.doc_id)",
        Seq("train", "val", "test"), Seq(0.8, 0.1, 0.1), 42)
      val hSql = PortableHash.md5LongSql("doc_id::VARCHAR", 61)
      s"""${jaccardCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         hi AS (SELECT i, j FROM pairs WHERE jaccard >= 0.9),
         edges AS (SELECT i a, j b FROM hi UNION SELECT j, i FROM hi),
         reach AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         cc AS (SELECT a AS node, least(a, min(b)) AS cluster
           FROM reach GROUP BY a),
         sp AS (SELECT d.doc_id, cc.node IS NOT NULL AS is_dup,
             coalesce(cc.cluster, d.doc_id) AS rep,
             $splitCase AS split
           FROM documents d LEFT JOIN cc ON d.doc_id = cc.node),
         st AS (SELECT CAST(coalesce(sum(CASE WHEN ns > 1 THEN 1 END), 0)
             AS BIGINT) AS n_straddle
           FROM (SELECT rep, count(DISTINCT split) AS ns
             FROM sp GROUP BY 1))
         SELECT split, count(*) AS n_docs,
           CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           CAST(coalesce(bit_xor(CASE WHEN is_dup THEN $hSql END), 0)
             AS BIGINT) AS dup_checksum,
           st.n_straddle
         FROM sp CROSS JOIN st
         GROUP BY split, st.n_straddle ORDER BY split"""
    },

    "q79_dedup_survivors" ->
      s"""${jaccardCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         hi AS (SELECT i, j FROM pairs WHERE jaccard >= 0.9),
         edges AS (SELECT i a, j b FROM hi UNION SELECT j, i FROM hi),
         reach AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         cc AS (SELECT a AS node, least(a, min(b)) AS cluster
           FROM reach GROUP BY a)
         SELECT source, count(*) AS n_docs,
         CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS sum_tokens
         FROM documents
         WHERE doc_id NOT IN (SELECT node FROM cc WHERE cluster < node)
         GROUP BY 1 ORDER BY 1""",

    // identical plant + identical fraction arithmetic
    // identical segmentation + plants; line rule and page rule replayed
    // through the documented SQL twins
    "q181_c4_line_filter" -> {
      val keep = TA.c4KeepLineSql("l", 4)
      s"""WITH base AS (SELECT doc_id, str_split(text, ' ') AS ts
           FROM documents WHERE doc_id < 60),
         segs AS (SELECT doc_id, list_transform(
             generate_series(0, (len(ts) - 1) // 7),
             i -> array_to_string(ts[i*7+1:i*7+7], ' ') ||
               CASE WHEN (doc_id + i) % 3 = 0 THEN '' ELSE '.' END) AS sg
           FROM base),
         headed AS (SELECT doc_id,
             CASE WHEN doc_id % 40 = 0
               THEN list_concat(['lorem ipsum dolor sit amet.'], sg)
             WHEN doc_id % 50 = 0
               THEN list_concat(['if (x) { alert(1); }.'], sg)
             ELSE sg END AS lh FROM segs),
         pl AS (SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
               THEN list_concat(lh, ['please enable javascript to continue.'])
             ELSE lh END AS ls FROM headed),
         txt AS (SELECT doc_id, array_to_string(ls, chr(10)) AS text2 FROM pl)
         SELECT doc_id,
           CAST(len(str_split(text2, chr(10))) AS BIGINT) AS n_lines,
           ${TA.c4DocOkSql("text2")} AS doc_ok,
           CAST(len(list_filter(str_split(text2, chr(10)), l -> $keep))
             AS BIGINT) AS n_kept,
           md5(${TA.c4CleanTextSql("text2", 4)}) AS fp
         FROM txt ORDER BY doc_id"""
    },

    // identical paragraph plant/dedup (q177's CTEs), identical NB replay
    // (nbSql twin), identical 5-gram ladder (the parameterized core) over
    // the same rebuilt+marked text, identical per-language terciles
    "q185_ccnet_head" ->
      s"""WITH pbase AS (SELECT doc_id, str_split(text, ' ') AS ts FROM documents),
         psegs AS (SELECT doc_id, list_transform(
             generate_series(0, (len(ts) - 1) // 8),
             i -> array_to_string(ts[i*8+1:i*8+8], ' ')) AS sg FROM pbase),
         ppl AS (SELECT doc_id, CASE WHEN doc_id % 4 = 0
             THEN list_concat(['shared boilerplate header'], sg)
             ELSE sg END AS ps FROM psegs),
         pslots AS (SELECT doc_id, x.i - 1 AS pos, ps[x.i] AS para FROM ppl,
           LATERAL (SELECT unnest(generate_series(1, len(ps))) AS i) x),
         pkeep AS (SELECT doc_id, pos, para,
             row_number() OVER (PARTITION BY para
               ORDER BY doc_id, pos) AS rn FROM pslots),
         preb AS (SELECT doc_id,
             string_agg(para, chr(10) ORDER BY pos) AS rb
           FROM pkeep WHERE rn = 1 GROUP BY 1),
         pm AS (SELECT p.doc_id, d.lang,
             CASE WHEN p.doc_id % 7 <> 1
               THEN coalesce(r.rb, '') || ' lm_' || d.lang
               ELSE coalesce(r.rb, '') END AS mtext
           FROM ppl p JOIN documents d USING (doc_id)
           LEFT JOIN preb r USING (doc_id)),
         tr AS (SELECT lang, mtext FROM pm WHERE doc_id % 5 <> 0),
         te AS (SELECT doc_id, lang, mtext FROM pm),
         ${TA.nbSql("tr", "lang", "mtext", "te", "doc_id", nBuckets = 64,
            seed = 11)},
         ${ladderXentCore("pm", "mtext", minCount = 1)},
         b AS (SELECT t.doc_id, p.pred,
             (['head', 'middle', 'tail'])[ntile(3) OVER (
               PARTITION BY p.pred
               ORDER BY sc.xm ASC NULLS LAST, t.doc_id)] AS bucket
           FROM pm t JOIN nb_pred p ON t.doc_id = p.id
           LEFT JOIN sc ON sc.doc_id = t.doc_id)
         SELECT pred, bucket, count(*) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids
         FROM b GROUP BY 1, 2 ORDER BY 1, 2""",

    // lexical replay = the q195 chain; vector replay = the q174 bucket
    // discipline; the fusion is exact-rank arithmetic on the grid
    "q196_hybrid_rrf" -> {
      val bucket4 = graft.ops.Similarity.signBucketSql("embedding", 4)
      val cos = graft.ops.Similarity.cosineSql("a.embedding", "r.embedding")
      """WITH q(qid, qtext) AS (VALUES ('q1', 'table scan fast'),
           ('q2', 'merge join slow'), ('q3', 'vector spark stream')),
         qt AS (SELECT DISTINCT qid, unnest(str_split(qtext, ' ')) AS t FROM q),
         terms AS (SELECT DISTINCT t FROM qt),
         post AS (SELECT x.t, x.doc_id AS doc, count(*) AS tf
           FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS t
             FROM documents) x
           JOIN terms USING (t) GROUP BY 1, 2),
         lens AS (SELECT doc_id AS doc,
             len(str_split(text, ' '))::DOUBLE AS dl FROM documents),
         stats AS (SELECT count(*)::DOUBLE AS nn, avg(dl) AS avgdl FROM lens),
         dfq AS (SELECT t, count(DISTINCT doc)::DOUBLE AS df
           FROM post GROUP BY 1),
         sc AS (SELECT qt.qid, post.doc,
             round(sum(ln(1 + (stats.nn - dfq.df + 0.5) / (dfq.df + 0.5))
               * (post.tf * (1.2 + 1.0))
               / (post.tf + 1.2 * (0.25 + 0.75 * lens.dl / stats.avgdl))), 6)
               AS score
           FROM post JOIN lens USING (doc) JOIN dfq USING (t)
           JOIN qt USING (t), stats
           GROUP BY 1, 2),
         lrk AS (SELECT qid, doc, row_number() OVER (
             PARTITION BY qid ORDER BY score DESC, doc) AS rk FROM sc),
         l AS (SELECT qid, doc, rk FROM lrk WHERE rk <= 5),
         """ +
      s"""va AS (SELECT vec_id AS i, embedding, $bucket4 AS b
           FROM embeddings WHERE vec_id IN (1, 2, 3)),
         vr0 AS (SELECT vec_id AS j, embedding, $bucket4 AS b
           FROM embeddings WHERE vec_id NOT IN (1, 2, 3)),
         p AS (SELECT a.i, r.j, $cos AS cos
           FROM va a JOIN vr0 r ON a.b = r.b),
         vrk AS (SELECT i, j, row_number() OVER (
             PARTITION BY i ORDER BY cos DESC, j) AS rk FROM p),
         v AS (SELECT 'q' || i AS qid, j AS doc, rk FROM vrk WHERE rk <= 5),
         u AS (SELECT * FROM l UNION ALL SELECT * FROM v),
         f AS (SELECT qid, doc,
             sum(${graft.ops.ExactRound.gridMicroSql("1", "60 + rk", 6)}
               )::DOUBLE / 1e6 AS score
           FROM u GROUP BY 1, 2),
         fr AS (SELECT qid, doc, score, row_number() OVER (
             PARTITION BY qid ORDER BY score DESC, doc) AS rk FROM f)
         SELECT qid, doc, score, rk FROM fr WHERE rk <= 5
         ORDER BY qid, rk"""
    },

    // identical postings/df/length/idf/tf-norm arithmetic; ranks order by
    // the rounded score with doc tie-break on both sides
    // q195's BM25 chain widened to 20 candidates, then the cosine rerank
    "q208_retrieve_rerank" ->
      s"""WITH q(qid, qtext, avid) AS (VALUES ('q1', 'table scan fast', 1),
           ('q2', 'merge join slow', 2), ('q3', 'vector spark stream', 3)),
         qt AS (SELECT DISTINCT qid, unnest(str_split(qtext, ' ')) AS t FROM q),
         terms AS (SELECT DISTINCT t FROM qt),
         post AS (SELECT x.t, x.doc_id AS doc, count(*) AS tf
           FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS t
             FROM documents) x
           JOIN terms USING (t) GROUP BY 1, 2),
         lens AS (SELECT doc_id AS doc,
             len(str_split(text, ' '))::DOUBLE AS dl FROM documents),
         stats AS (SELECT count(*)::DOUBLE AS nn, avg(dl) AS avgdl FROM lens),
         dfq AS (SELECT t, count(DISTINCT doc)::DOUBLE AS df
           FROM post GROUP BY 1),
         sc AS (SELECT qt.qid, post.doc,
             round(sum(ln(1 + (stats.nn - dfq.df + 0.5) / (dfq.df + 0.5))
               * (post.tf * (1.2 + 1.0))
               / (post.tf + 1.2 * (0.25 + 0.75 * lens.dl / stats.avgdl))), 6)
               AS score
           FROM post JOIN lens USING (doc) JOIN dfq USING (t)
           JOIN qt USING (t), stats
           GROUP BY 1, 2),
         rk AS (SELECT qid, doc, score, row_number() OVER (
             PARTITION BY qid ORDER BY score DESC, doc) AS rk FROM sc),
         cand AS (SELECT qid, doc, rk AS lex_rk FROM rk WHERE rk <= 20),
         withv AS (SELECT c.qid, c.doc, c.lex_rk,
             ${Sim.cosineSql("de.embedding", "qe.embedding")} AS c
           FROM cand c JOIN q USING (qid)
           JOIN embeddings de ON de.vec_id = c.doc
           JOIN embeddings qe ON qe.vec_id = q.avid),
         rr AS (SELECT qid, doc, lex_rk, c, row_number() OVER (
             PARTITION BY qid ORDER BY c DESC, doc) AS rrk FROM withv)
         SELECT qid, doc, lex_rk, round(c, 6) AS cos, rrk
         FROM rr WHERE rrk <= 5 ORDER BY qid, rrk""",

    "q195_bm25" ->
      """WITH q(qid, qtext) AS (VALUES ('q1', 'table scan fast'),
           ('q2', 'merge join slow'), ('q3', 'vector spark stream')),
         qt AS (SELECT DISTINCT qid, unnest(str_split(qtext, ' ')) AS t FROM q),
         terms AS (SELECT DISTINCT t FROM qt),
         post AS (SELECT x.t, x.doc_id AS doc, count(*) AS tf
           FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS t
             FROM documents) x
           JOIN terms USING (t) GROUP BY 1, 2),
         lens AS (SELECT doc_id AS doc,
             len(str_split(text, ' '))::DOUBLE AS dl FROM documents),
         stats AS (SELECT count(*)::DOUBLE AS nn, avg(dl) AS avgdl FROM lens),
         dfq AS (SELECT t, count(DISTINCT doc)::DOUBLE AS df
           FROM post GROUP BY 1),
         sc AS (SELECT qt.qid, post.doc,
             round(sum(ln(1 + (stats.nn - dfq.df + 0.5) / (dfq.df + 0.5))
               * (post.tf * (1.2 + 1.0))
               / (post.tf + 1.2 * (0.25 + 0.75 * lens.dl / stats.avgdl))), 6)
               AS score
           FROM post JOIN lens USING (doc) JOIN dfq USING (t)
           JOIN qt USING (t), stats
           GROUP BY 1, 2),
         rk AS (SELECT qid, doc, score, row_number() OVER (
             PARTITION BY qid ORDER BY score DESC, doc) AS rk FROM sc)
         SELECT qid, doc, score, rk FROM rk WHERE rk <= 5
         ORDER BY qid, rk""",

    // identical plant, identical truth (pairs CTE over the planted
    // table) and candidates (banding CTE); the report arithmetic is
    // exact-count division rounded on the grid
    "q223_lsh_sweep" -> {
      def bandsCand(bands: Int): String = {
        val r = 16 / bands
        val sel = (0 until bands).map { b =>
          val key = (b * r until b * r + r).map(j => s"s$j")
            .mkString(" || ',' || ")
          s"SELECT doc, $b band, $key bkey FROM sig"
        }.mkString(" UNION ALL ")
        s"""bands_$bands AS ($sel),
           cand_$bands AS (SELECT DISTINCT a.doc i, b.doc j
             FROM bands_$bands a JOIN bands_$bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc < b.doc)"""
      }
      val mins = (0 until 16)
        .map(j => s"min(${PortableHash.derivedHashSql("h", j)}) s$j")
        .mkString(", ")
      def audit(bands: Int): String =
        s"""SELECT $bands AS bands,
           (SELECT count(*) FROM tr) AS n_true,
           (SELECT count(*) FROM cand_$bands) AS n_cand,
           (SELECT count(*) FROM tr JOIN cand_$bands USING (i, j)) AS n_tp"""
      s"""WITH pl AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 500000,
             array_to_string((str_split(text, ' '))[1:(len(str_split(text, ' ')) * 7) // 10], ' ')
             || ' ' ||
             array_to_string(list_transform(
               generate_series(1, len(str_split(text, ' '))
                 - (len(str_split(text, ' ')) * 7) // 10),
               i -> 'zz' || (doc_id + i)), ' ')
           FROM documents WHERE doc_id % 43 = 0),
         ${jaccardCteBody("pl")},
         hashed AS (SELECT doc, ${PortableHash.baseHashSql("sg")} h FROM e),
         sig AS (SELECT doc, $mins FROM hashed GROUP BY doc),
         ${bandsCand(2)},
         ${bandsCand(4)},
         ${bandsCand(8)},
         tr AS (SELECT i, j FROM pairs WHERE jaccard >= 0.4),
         raw AS (${audit(2)} UNION ALL ${audit(4)} UNION ALL ${audit(8)})
         SELECT bands, n_true, n_cand, n_tp,
           n_true - n_tp AS n_fn, n_cand - n_tp AS n_fp,
           COALESCE(${graft.ops.ExactRound.ratioRoundedSql(
             "n_tp", "n_true", 6)}, 0.0) AS recall,
           COALESCE(${graft.ops.ExactRound.ratioRoundedSql(
             "n_tp", "n_cand", 6)}, 0.0) AS precision
         FROM raw ORDER BY bands"""
    },

    "q194_lsh_audit" ->
      s"""WITH pl AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 500000,
             array_to_string((str_split(text, ' '))[1:(len(str_split(text, ' ')) * 7) // 10], ' ')
             || ' ' ||
             array_to_string(list_transform(
               generate_series(1, len(str_split(text, ' '))
                 - (len(str_split(text, ' ')) * 7) // 10),
               i -> 'zz' || (doc_id + i)), ' ')
           FROM documents WHERE doc_id % 43 = 0),
         ${jaccardCteBody("pl")},
         $minhashSig,
         tr AS (SELECT i, j FROM pairs WHERE jaccard >= 0.4),
         tp AS (SELECT count(*) AS c FROM tr JOIN cand USING (i, j)),
         nt AS (SELECT count(*) AS c FROM tr),
         nc AS (SELECT count(*) AS c FROM cand)
         SELECT nt.c AS n_true, nc.c AS n_cand, tp.c AS n_tp,
           nt.c - tp.c AS n_fn, nc.c - tp.c AS n_fp,
           COALESCE(${graft.ops.ExactRound.ratioRoundedSql(
             "tp.c", "nt.c", 6)}, 0.0) AS recall,
           COALESCE(${graft.ops.ExactRound.ratioRoundedSql(
             "tp.c", "nc.c", 6)}, 0.0) AS precision
         FROM nt, nc, tp""",

    "q192_quantile_gate_per_lang" ->
      """SELECT lang, TRUE AS thr_in_band, TRUE AS kept_in_band,
         count(*) AS n_total FROM documents WHERE length(text) > 0
         GROUP BY lang ORDER BY lang""",

    // the estimates never reach the output — the oracle pins the honest
    // band booleans TRUE and recomputes the exact population size
    "q191_quantile_gate" ->
      """SELECT CAST(0.7 AS DOUBLE) AS p, TRUE AS thr_in_band,
         TRUE AS kept_in_band,
         (SELECT count(*) FROM documents WHERE length(text) > 0) AS n_total""",

    // identical plant spelled via chr(); counts and the verdict replayed
    // through the documented twins
    "q186_encoding_filter" ->
      s"""WITH pl AS (SELECT doc_id,
           (CASE WHEN doc_id % 9 = 0
              THEN text || ' ' || repeat(chr(65533), 3) ELSE text END)
           || (CASE WHEN doc_id % 13 = 0 THEN chr(1) || chr(7) ELSE '' END)
             AS t2
           FROM documents WHERE doc_id < 120)
         SELECT doc_id,
           ${TA.replacementCharCountSql("t2")} AS n_repl,
           ${TA.controlCharCountSql("t2")} AS n_ctrl,
           ${TA.encodingOkSql("t2", 0.005)} AS ok
         FROM pl ORDER BY doc_id""",

    // identical plant; prints replayed through the documented winnowing
    // twin on both sides, shared counts and the survivor anti-join exact
    "q183_winnow_decontam" -> {
      val pr = TA.winnowedPrintsSql("text2", 4, 5)
      s"""WITH pl AS (SELECT doc_id, source,
             CASE WHEN doc_id % 97 = 0 OR doc_id % 31 = 0
               THEN text || ' alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron'
               ELSE text END AS text2
           FROM documents),
         corpus AS (SELECT * FROM pl WHERE doc_id % 97 <> 0),
         ev AS (SELECT * FROM pl WHERE doc_id % 97 = 0),
         bp AS (SELECT DISTINCT u.p FROM ev,
           LATERAL (SELECT unnest($pr) AS p) u),
         cp AS (SELECT doc_id, u.p FROM corpus,
           LATERAL (SELECT unnest($pr) AS p) u),
         flag AS (SELECT cp.doc_id FROM cp JOIN bp USING (p)
           GROUP BY 1 HAVING count(*) >= 1)
         SELECT source, count(*) AS n_kept,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids
         FROM corpus WHERE doc_id NOT IN (SELECT doc_id FROM flag)
         GROUP BY 1 ORDER BY 1"""
    },

    // identical hash/count/smoothing/micro-nat/argmax arithmetic via the
    // documented nbSql twin; confusion cells pinned with id-sums
    "q184_nb_classifier" ->
      s"""WITH pl AS (SELECT doc_id, lang,
             CASE WHEN doc_id % 7 <> 1 THEN text || ' lm_' || lang
               ELSE text END AS text2
           FROM documents),
         tr AS (SELECT lang, text2 FROM pl WHERE doc_id % 5 <> 0),
         te AS (SELECT doc_id, lang, text2 FROM pl WHERE doc_id % 5 = 0),
         ${TA.nbSql("tr", "lang", "text2", "te", "doc_id", nBuckets = 64,
            seed = 11)}
         SELECT te.lang, p.pred, count(*) AS n,
           CAST(sum(te.doc_id) AS BIGINT) AS sum_ids
         FROM te JOIN nb_pred p ON te.doc_id = p.id
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // identical plants (chr()-spelled combining marks), identical
    // strip → nfc_normalize chain, identical Gopher CASE and XOR checksum
    "q253_crawl_to_clean" -> {
      val dec = sqlLit(NfcDecomposed)
      val comp = sqlLit(NfcComposed)
      s"""WITH pl AS (SELECT doc_id, source,
           '<html><p class="x">' || text ||
             CASE WHEN doc_id % 3 = 0 THEN $dec
                  WHEN doc_id % 3 = 1 THEN $comp ELSE '' END ||
             '</p><script>track();</script></html>' AS raw
           FROM documents),
         cl AS (SELECT doc_id, source,
             nfc_normalize(${TA.stripMarkupSql("raw")}) AS clean FROM pl)
         SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN ${TA.gopherQualityOkSql("clean", minWords = 20)}
             THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
           CAST(sum(len(str_split(clean, ' '))) AS BIGINT) AS sum_tokens,
           CAST(bit_xor(${graft.functions.PortableHash.md5LongSql(
        "clean", 7)}) AS BIGINT) AS content_xor
         FROM cl GROUP BY 1 ORDER BY 1"""
    },

    // identical plants, identical 13-gram sets and winnowed prints, the
    // two hit sets intersected per source exactly as the Spark side does
    "q255_decontam_dashboard" -> {
      val pr = TA.winnowedPrintsSql("text2", 4, 5)
      val sh13 = Dedup.shinglesSql("text2", 13)
      s"""WITH pl AS (SELECT doc_id, source,
             CASE WHEN doc_id % 97 = 0 OR doc_id % 31 = 0
                 THEN text || '$DecontamRun'
               WHEN doc_id % 41 = 0 THEN text || '$DecontamEdited'
               ELSE text END AS text2
           FROM documents),
         corpus AS (SELECT * FROM pl WHERE doc_id % 97 <> 0),
         ev AS (SELECT * FROM pl WHERE doc_id % 97 = 0),
         bg AS (SELECT DISTINCT u.g FROM ev,
           LATERAL (SELECT unnest($sh13) AS g) u),
         eh AS (SELECT cg.doc_id FROM (SELECT doc_id, u.g FROM corpus,
             LATERAL (SELECT unnest($sh13) AS g) u) cg
           JOIN bg USING (g) GROUP BY 1),
         bp AS (SELECT DISTINCT u.p FROM ev,
           LATERAL (SELECT unnest($pr) AS p) u),
         fh AS (SELECT cp.doc_id FROM (SELECT doc_id, u.p FROM corpus,
             LATERAL (SELECT unnest($pr) AS p) u) cp
           JOIN bp USING (p) GROUP BY 1 HAVING count(*) >= 1),
         fl AS (SELECT c.source,
             c.doc_id IN (SELECT doc_id FROM eh) AS e,
             c.doc_id IN (SELECT doc_id FROM fh) AS f
           FROM corpus c)
         SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN f THEN 1 ELSE 0 END) AS BIGINT) AS n_fuzzy,
           CAST(sum(CASE WHEN f AND NOT e THEN 1 ELSE 0 END) AS BIGINT)
             AS n_fuzzy_only,
           CAST(sum(CASE WHEN e OR f THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged
         FROM fl GROUP BY 1 ORDER BY 1"""
    },

    // identical plant/split/scoring chain; the margin ranks the per-doc
    // score table (micro-nat integers) instead of taking only the argmax
    "q254_langid_confidence" ->
      s"""WITH pl AS (SELECT doc_id, lang,
             CASE WHEN doc_id % 7 <> 1 THEN text || ' lm_' || lang
               ELSE text END AS text2
           FROM documents),
         tr AS (SELECT lang, text2 FROM pl WHERE doc_id % 5 <> 0),
         te AS (SELECT doc_id, lang, text2 FROM pl WHERE doc_id % 5 = 0),
         ${TA.nbSql("tr", "lang", "text2", "te", "doc_id", nBuckets = 64,
            seed = 11)},
         __rk AS (SELECT id, l, score,
             row_number() OVER (PARTITION BY id ORDER BY score DESC, l) AS rn
           FROM __nbsc)
         SELECT a.id AS doc_id, a.l AS pred,
           CAST(a.score - b.score AS BIGINT) AS margin_u,
           CASE WHEN b.score IS NULL THEN NULL
             ELSE (a.score - b.score) >= 500000 END AS confident
         FROM __rk a LEFT JOIN __rk b ON b.id = a.id AND b.rn = 2
         WHERE a.rn = 1 AND a.id < 200 ORDER BY doc_id""",

    "q127_dup_ngrams" -> {
      val frac = TA.dupNgramFractionSql("text", 3)
      val fracM = TA.dupNgramFractionMicroSql("text", 3)
      """WITH planted AS (SELECT doc_id, source,
           CASE WHEN doc_id % 11 = 0 THEN text || ' ' || text ELSE text END AS text
           FROM documents),
         f AS (SELECT source, """ + frac + """ AS f, """ + fracM +
        """ AS fm FROM planted)
         SELECT source, count(*) AS n,
           """ + graft.ops.ExactRound.halfUpDivSql("sum(fm)", "count(*)") +
        """::DOUBLE / 1e6 AS avg_dup3,
           max(fm)::DOUBLE / 1e6 AS max_dup3,
           CAST(sum(CASE WHEN f > 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
         FROM f GROUP BY 1 ORDER BY 1"""
    },

    // identical count+ln arithmetic; the 6-decimal grid absorbs libm noise
    "q123_pmi_bigrams" ->
      """WITH tk AS (SELECT str_split(text, ' ') s FROM documents),
         uni AS (SELECT unnest(s) t FROM tk),
         uc AS (SELECT t, count(*) c1 FROM uni GROUP BY 1),
         n1 AS (SELECT CAST(count(*) AS DOUBLE) n FROM uni),
         bgl AS (SELECT list_transform(generate_series(1, len(s) - 1),
             i -> s[i] || ' ' || s[i+1]) bs FROM tk),
         bg AS (SELECT unnest(bs) b FROM bgl),
         bc AS (SELECT b, count(*) c2 FROM bg GROUP BY 1),
         n2 AS (SELECT CAST(count(*) AS DOUBLE) n FROM bg),
         j AS (SELECT bc.b, bc.c2, a.c1 ca, z.c1 cb FROM bc
           JOIN uc a ON a.t = str_split(bc.b, ' ')[1]
           JOIN uc z ON z.t = str_split(bc.b, ' ')[2]
           WHERE bc.c2 >= 5)
         SELECT b AS bigram, c2 AS n_pair,
           round(ln(CAST(c2 AS DOUBLE)) + 2.0 * ln(n1.n) - ln(n2.n)
             - ln(CAST(ca AS DOUBLE)) - ln(CAST(cb AS DOUBLE)), 6) AS pmi
         FROM j, n1, n2
         ORDER BY pmi DESC, bigram LIMIT 20""",

    // same recursive-CTE clusters as q79; the survivor is the row_number-1
    // member under (token count DESC, id ASC) — losers are everyone else
    "q121_dedup_best" ->
      s"""${jaccardCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         hi AS (SELECT i, j FROM pairs WHERE jaccard >= 0.9),
         edges AS (SELECT i a, j b FROM hi UNION SELECT j, i FROM hi),
         reach AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         cc AS (SELECT a AS node, least(a, min(b)) AS cluster
           FROM reach GROUP BY a),
         m AS (SELECT cc.node, cc.cluster, len(str_split(d.text, ' ')) AS q
           FROM cc JOIN documents d ON d.doc_id = cc.node),
         r AS (SELECT node, row_number() OVER (PARTITION BY cluster
             ORDER BY q DESC, node) AS rn FROM m)
         SELECT source, count(*) AS n_docs,
           CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS sum_tokens
         FROM documents
         WHERE doc_id NOT IN (SELECT node FROM r WHERE rn > 1)
         GROUP BY 1 ORDER BY 1""",

    "q83_containment" ->
      s"""WITH sh AS (SELECT doc_id, $sh3 s FROM documents),
         e AS (SELECT doc_id AS doc, unnest(s) sg FROM sh),
         sizes AS (SELECT doc_id AS doc, len(s) n FROM sh),
         inter AS (SELECT a.doc i, b.doc j, count(*) ninter FROM e a
           JOIN e b ON a.sg = b.sg AND a.doc < b.doc GROUP BY 1, 2),
         cont AS (
           SELECT i, j, ninter * 1.0 / sa.n c,
             ${graft.ops.ExactRound.gridMicroSql("ninter", "sa.n", 6)} cm
           FROM inter JOIN sizes sa ON sa.doc = i
           UNION ALL
           SELECT j, i, ninter * 1.0 / sb.n c,
             ${graft.ops.ExactRound.gridMicroSql("ninter", "sb.n", 6)} cm
           FROM inter JOIN sizes sb ON sb.doc = j)
         SELECT i, j, cm::DOUBLE / 1e6 AS containment
         FROM cont WHERE c >= 0.9
         ORDER BY cm DESC, i, j""",

    "q80_tfidf_top" ->
      """WITH toks AS (SELECT doc_id AS doc, unnest(str_split(text, ' ')) tok
           FROM documents),
         tf AS (SELECT doc, tok, count(*) tf FROM toks GROUP BY 1, 2),
         dfq AS (SELECT tok, count(*) df FROM tf GROUP BY 1),
         n AS (SELECT count(DISTINCT doc_id) n_docs FROM documents),
         scored AS (SELECT doc, tok,
           round(tf * ln(n_docs::DOUBLE / df), 6) score
           FROM tf JOIN dfq USING (tok) CROSS JOIN n),
         rk AS (SELECT doc, tok, score,
           row_number() OVER (PARTITION BY doc ORDER BY score DESC, tok) rn
           FROM scored)
         SELECT doc AS doc_id, tok, score FROM rk
         WHERE rn = 1 AND doc < 20 ORDER BY doc_id""",

    "q75_token_bpe" ->
      s"""SELECT lang, count(*) AS n_docs,
         CAST(sum(${TA.tokenCountBpeSql("text")}) AS BIGINT) AS sum_bpe,
         CAST(min(${TA.tokenCountBpeSql("text")}) AS INT) AS min_bpe,
         CAST(max(${TA.tokenCountBpeSql("text")}) AS INT) AS max_bpe,
         CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS sum_ws
         FROM documents GROUP BY 1 ORDER BY 1""",

    "q66_minhash_sketch" -> minhashSigOracle,

    "q84_minhash_rowwise" -> minhashSigOracle,

    "q163_kl_mixture" ->
      s"""WITH ${TA.klPerGroupSql("source", "text", "documents")}
         SELECT grp AS source, n_tokens, n_distinct, kl_u
         FROM kl ORDER BY 1""",

    "q166_diversity_sample" ->
      s"""WITH s AS ($simhashSql),
         r AS (SELECT doc_id, simhash,
             ${graft.ops.Sampling.sampleKRankSql("doc_id", "simhash")} AS rn
           FROM s)
         SELECT count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
           count(DISTINCT simhash) AS n_buckets
         FROM r WHERE rn <= 2""",

    // identical integer-grid TTR banding; dedup survivors replay as md5
    // min-id; the cumulative runs over the same ≤10-row band table
    "q265_data_ladder" ->
      s"""WITH feed AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 500000, text FROM documents
           WHERE doc_id % 13 = 0),
         sc AS (SELECT doc_id, md5(text) AS fp,
             len(str_split(text, ' '))::BIGINT AS n_tokens,
             ${ExactRound.gridMicroSql(
               "len(list_distinct(str_split(text, ' ')))",
               "len(str_split(text, ' '))", 6)} AS ttr_micro
           FROM feed),
         b AS (SELECT doc_id, n_tokens, fp,
             least(ttr_micro // 100000, 9) AS band FROM sc),
         surv AS (SELECT min(doc_id) AS doc_id FROM b GROUP BY fp),
         per AS (SELECT band, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_docs_dedup,
             CAST(sum(CASE WHEN s.doc_id IS NOT NULL THEN n_tokens
               ELSE 0 END) AS BIGINT) AS n_tokens_dedup
           FROM b LEFT JOIN surv s USING (doc_id) GROUP BY 1)
         SELECT band, n_docs, n_tokens, n_docs_dedup, n_tokens_dedup,
           CAST(sum(n_tokens_dedup) OVER (ORDER BY band DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_tokens_dedup
         FROM per ORDER BY band DESC""",

    // identical plants and signals; single-char counts replay as
    // length-diff under replace, line filters as list_filter lambdas
    "q266_format_mix" ->
      s"""WITH p AS (SELECT doc_id, source,
             CASE WHEN doc_id % 17 = 0 THEN text || e'\\nif (x) { y = 1; z = 2; }\\nwhile (k) { n = n + 1; }'
               WHEN doc_id % 19 = 0 THEN text || e'\\n| col_a | col_b |\\n| 1 | 2 |\\n| 3 | 4 |'
               ELSE text END AS t2
           FROM documents),
         cls AS (SELECT source,
             len(str_split(t2, ' '))::BIGINT AS n_tokens,
             ${TA.formatClassSql("t2")} AS format
           FROM p)
         SELECT source, format, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         FROM cls GROUP BY 1, 2 ORDER BY 1, 2""",

    // identical plant; the oracle is BRUTE-FORCE all-pairs at 60 bits —
    // any pair the banding misses or invents shifts a census count
    "q267_simhash_pairs_wide" ->
      s"""WITH feed AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 700000, text FROM documents
           WHERE doc_id % 31 = 0),
         ${simhashCte(60, "feed")},
         p AS (SELECT a.doc_id AS i, b.doc_id AS j,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.simhash, b.simhash)) <= 3)
         SELECT hamming, count(*) AS n_pairs, min(i) AS min_i, max(j) AS max_j
         FROM p GROUP BY 1 ORDER BY 1""",

    // identical TTR-micro score, highest-passed-threshold semantics
    // replayed as a plain per-threshold >= join, identical half-up
    // permille/mean arithmetic
    "q287_threshold_sweep" ->
      s"""WITH sc AS (SELECT ${TA.typeTokenRatioMicroSql("text")} AS s,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS w FROM documents),
         tot AS (SELECT count(*) AS tn, CAST(sum(w) AS BIGINT) AS tw
           FROM sc),
         th AS (SELECT CAST(unnest([300000, 500000, 700000, 900000])
           AS BIGINT) AS thr),
         f AS (SELECT thr, CAST(count(sc.s) AS BIGINT) AS n_docs,
             CAST(coalesce(sum(sc.w), 0) AS BIGINT) AS n_tokens,
             CAST(coalesce(sum(sc.s), 0) AS BIGINT) AS ss
           FROM th LEFT JOIN sc ON sc.s >= thr GROUP BY 1)
         SELECT thr, n_docs, n_tokens,
           ${ExactRound.halfUpDivSql("n_docs * 1000", "tn")}
             AS docs_permille,
           ${ExactRound.halfUpDivSql("n_tokens * 1000", "tw")}
             AS tokens_permille,
           ${ExactRound.halfUpDivSql("ss", "n_docs")} AS mean_score
         FROM f, tot ORDER BY thr""",

    // identical plant construction and wave assignment; the three waves
    // unrolled as idx/drop/adm CTE triples — within-wave kills join
    // smaller-id wave-mates (dead or alive), cross-wave kills join the
    // ADMITTED index only, exactly admitStep's two passes
    "q288_evolving_admission" -> {
      val mins = (0 until 16)
        .map(j => s"min(${PortableHash.derivedHashSql("h", j)}) s$j")
        .mkString(", ")
      val bandsSel = (0 until 4).map { b =>
        val key = (b * 4 until b * 4 + 4).map(j => s"s$j")
          .mkString(" || ',' || ")
        s"SELECT doc, $b band, $key bkey FROM sig"
      }.mkString(" UNION ALL ")
      val agree = (0 until 16)
        .map(j => s"CASE WHEN ai.s$j = ci.s$j THEN 1 ELSE 0 END")
        .mkString(" + ")
      val hid = PortableHash.md5LongSql("doc_id::VARCHAR", 99)
      val waveCtes = (0 to 2).map { w =>
        val idxDef =
          if (w == 0) "SELECT doc_id AS doc FROM seedrel"
          else s"SELECT doc FROM idx${w - 1} UNION ALL " +
            s"SELECT doc FROM adm${w - 1}"
        s"""idx$w AS ($idxDef),
           |drop$w AS (SELECT DISTINCT a.doc FROM bands a
           |  JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
           |  JOIN sig ai ON ai.doc = a.doc JOIN sig ci ON ci.doc = b.doc
           |  WHERE a.doc IN (SELECT doc_id FROM rel WHERE wave = $w)
           |    AND (b.doc IN (SELECT doc FROM idx$w)
           |      OR (b.doc IN (SELECT doc_id FROM rel WHERE wave = $w)
           |        AND b.doc < a.doc))
           |    AND $agree >= 8),
           |adm$w AS (SELECT doc_id AS doc FROM rel WHERE wave = $w
           |  AND doc_id NOT IN (SELECT doc FROM drop$w))""".stripMargin
      }.mkString(",\n")
      s"""WITH rel AS (
         |  SELECT doc_id, text, doc_id % 3 AS wave, 'organic' AS category
         |    FROM documents WHERE doc_id % 5 <> 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, text, doc_id % 3, 'exact_plant'
         |    FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 7 = 2
         |  UNION ALL
         |  SELECT doc_id + 2000000, text || ' zq', 2, 'near_plant'
         |    FROM documents
         |    WHERE doc_id % 5 <> 0 AND doc_id % 3 = 0 AND doc_id % 7 = 1
         |  UNION ALL
         |  SELECT doc_id + 3000000, text, doc_id % 3, 'corpus_plant'
         |    FROM documents WHERE doc_id % 5 = 0 AND doc_id % 7 = 3),
         |seedrel AS (SELECT doc_id, text FROM documents
         |  WHERE doc_id % 5 = 0),
         |allr AS (SELECT doc_id, text FROM rel
         |  UNION ALL SELECT doc_id, text FROM seedrel),
         |sh AS (SELECT doc_id, $sh3 s FROM allr),
         |e AS (SELECT doc_id AS doc, unnest(s) sg FROM sh),
         |hashed AS (SELECT doc, ${PortableHash.baseHashSql("sg")} h FROM e),
         |sig AS (SELECT doc, $mins FROM hashed GROUP BY doc),
         |bands AS ($bandsSel),
         |$waveCtes,
         |admAll AS (SELECT doc FROM adm0 UNION ALL SELECT doc FROM adm1
         |  UNION ALL SELECT doc FROM adm2)
         |SELECT CAST(wave AS INTEGER) AS wave, category,
         |  count(*) AS n_in,
         |  CAST(sum(CASE WHEN doc_id IN (SELECT doc FROM admAll)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
         |  CAST(coalesce(bit_xor(CASE WHEN doc_id IN
         |    (SELECT doc FROM admAll) THEN $hid END), 0) AS BIGINT)
         |    AS admitted_checksum
         |FROM rel GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    }
  )

  /** One oracle, three formulations: the conditional-min aggregation, the
    * TypedImperativeAggregate sketch (q66), and the per-row native
    * expression (q84) must all be bit-equal to this affine-min CTE. */
  private lazy val minhashSigOracle: String = {
    val mins = (0 until 16)
      .map(j => s"min(${PortableHash.derivedHashSql("h", j)}) s$j").mkString(", ")
    s"""WITH sh AS (SELECT doc_id, $sh3 s FROM documents),
       e AS (SELECT doc_id AS doc, unnest(s) sg FROM sh),
       hashed AS (SELECT doc, ${PortableHash.baseHashSql("sg")} h FROM e)
       SELECT doc AS doc_id, $mins FROM hashed GROUP BY doc ORDER BY doc"""
  }
}
