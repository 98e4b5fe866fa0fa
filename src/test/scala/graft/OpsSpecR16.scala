package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Chunking

/** Round-16 operator specs: multi-turn (chat-SFT) loss-mask packing and
  * the loud n_tok/span guards on the SFT packers. */
class OpsSpecR16 extends AnyFunSuite {
  import SparkTestSession._

  private def spansDf(rows: Seq[(String, Long, Long, Seq[(Long, Long)])]) = {
    import spark.implicits._
    rows.toDF("g", "doc_id", "n_tok", "__sp")
      .withColumn("spans", transform(col("__sp"),
        p => struct(p("_1").as("s"), p("_2").as("e"))))
      .drop("__sp")
  }

  private def runMask(ex: org.apache.spark.sql.DataFrame, ctx: Int) =
    Chunking.sftMaskSpans(ex, col("g"), ctx, Seq(col("doc_id")))
      .orderBy("doc_id", "win")
      .select(col("doc_id"), col("win"), col("bin"),
        col("seg_start"), col("seg_end"),
        transform(col("mask_spans"),
          y => concat(y("ms").cast("string"), lit("-"),
            y("me").cast("string"))).as("m"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getInt(4), r.getSeq[String](5).toList))

  test("sftMaskSpans: an assistant turn STRADDLING a window boundary is " +
    "clipped into both windows; a user-only window carries an EMPTY span " +
    "list; bin = first window") {
    // ctx=10. doc 1: 12 tokens, assistant turn [4, 9) — entirely inside
    // window 0; its window-1 segment [10, 12) holds user tokens only.
    // doc 2: 8 tokens starting at stream offset 12, assistant turn [2, 8)
    // = stream [14, 20) — STRADDLES the window-1/2 cut at stream 20? No:
    // stream [14, 20) ends exactly at the cut; use [2, 8) over a doc
    // placed at offset 12 spanning stream [12, 20) → assistant stream
    // [14, 20) clips to window 1 only. Make it straddle: turn [2, 8) on
    // doc 2 gives stream [14, 20); the doc itself ends at 20 = window
    // boundary. Shift: doc 2 n_tok=9, turn [2, 9) → stream [14, 21):
    // window 1 gets [14, 20) → local [4, 10), window 2 gets [20, 21) →
    // local [0, 1).
    val ex = spansDf(Seq(
      ("s", 1L, 12L, Seq(4L -> 9L)),
      ("s", 2L, 9L, Seq(2L -> 9L))))
    val got = runMask(ex, 10)
    assert(got === Seq(
      // doc 1 spans stream [0, 12): window 0 seg [0, 10) with the turn,
      // window 1 seg [0, 2) user-only → EMPTY mask list (row kept!)
      (1L, 0L, 0L, 0, 10, List("4-9")),
      (1L, 1L, 0L, 0, 2, List()),
      // doc 2 spans stream [12, 21): window 1 seg [2, 10), turn clipped
      // to [4, 10); window 2 seg [0, 1), turn tail [0, 1)
      (2L, 1L, 1L, 2, 10, List("4-10")),
      (2L, 2L, 1L, 0, 1, List("0-1"))))
  }

  test("sftMaskSpans: ADJACENT assistant turns stay separate entries — " +
    "span identity is turn identity, [3,5)+[5,8) never merges to [3,8)") {
    val ex = spansDf(Seq(("s", 1L, 10L, Seq(3L -> 5L, 5L -> 8L))))
    val got = runMask(ex, 16)
    assert(got === Seq((1L, 0L, 0L, 0, 10, List("3-5", "5-8"))))
  }

  test("sftMaskSpans: multiple turns clip INDEPENDENTLY per window and " +
    "empty spans vanish") {
    // ctx=6, one 14-token doc, turns [1,3), [5,5) (empty), [4,9), [12,14)
    // — window 0 = [0,6): [1,3) whole + [4,9)→[4,6); window 1 = [6,12):
    // [4,9)→[0,3) local; window 2 = [12,14): [12,14)→[0,2)
    val ex = spansDf(Seq(
      ("s", 1L, 14L, Seq(1L -> 3L, 5L -> 5L, 4L -> 9L, 12L -> 14L))))
    val got = runMask(ex, 6)
    assert(got === Seq(
      (1L, 0L, 0L, 0, 6, List("1-3", "4-6")),
      (1L, 1L, 0L, 0, 6, List("0-3")),
      (1L, 2L, 0L, 0, 2, List("0-2"))))
  }

  private def msgChain(t: Throwable): String = {
    val sb = new StringBuilder
    var cur: Throwable = t
    while (cur != null) {
      sb.append(Option(cur.getMessage).getOrElse("")).append(" | ")
      cur = cur.getCause
    }
    sb.toString
  }

  test("SFT packers fail LOUDLY on n_tok < 1 and out-of-range spans " +
    "instead of silently corrupting the window explode") {
    import spark.implicits._
    val bad = Seq(("s", 1L, 10L, 4L), ("s", 2L, 0L, 0L))
      .toDF("g", "doc_id", "n_tok", "resp_start")
    val e1 = intercept[Exception] {
      Chunking.sftMaskWindows(bad, col("g"), ctx = 10,
        Seq(col("doc_id"))).collect()
    }
    assert(msgChain(e1).contains("n_tok must be >= 1"),
      s"unexpected error: ${msgChain(e1)}")
    val badSpan = spansDf(Seq(("s", 1L, 10L, Seq(4L -> 12L))))
    val e2 = intercept[Exception] {
      Chunking.sftMaskSpans(badSpan, col("g"), ctx = 10,
        Seq(col("doc_id"))).collect()
    }
    assert(msgChain(e2).contains("span outside"),
      s"unexpected error: ${msgChain(e2)}")
    val badSpan2 = spansDf(Seq(("s", 1L, 10L, Seq(6L -> 4L))))
    val e3 = intercept[Exception] {
      Chunking.sftMaskSpans(badSpan2, col("g"), ctx = 10,
        Seq(col("doc_id"))).collect()
    }
    assert(msgChain(e3).contains("span outside"),
      s"unexpected error: ${msgChain(e3)}")
  }

  test("n-gram count tables: cold ≡ warm ≡ re-cold bit-equality over " +
    "FRESH read plans of the same corpus, and a REWRITTEN corpus is " +
    "rescanned, never served stale") {
    import graft.ops.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("gramTables").toString
    val path = s"$dir/docs.parquet"
    import spark.implicits._
    Seq((1L, "a b c a b"), (2L, "b c a"), (3L, "c c a b a"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(path)
    def score() = TextAnalysis.stupidBackoff(
        spark.read.parquet(path), col("doc_id"), col("text"),
        spark.read.parquet(path), col("text"), order = 2)
      .orderBy("id").collect().toSeq
    // each scoring pass builds its OWN spark.read plans
    val cold = score()
    val warm = score()
    assert(cold === warm)
    val recold = score()
    assert(cold === recold)
    // REWRITE the corpus in place: same path, different content — the
    // scores must come from the new files; the old tables would score
    // doc 9 against the stale corpus
    Seq((9L, "x y x y"), (10L, "y x"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(path)
    val rewritten = score()
    assert(rewritten.map(_.getLong(0)) === Seq(9L, 10L))
    assert(rewritten !== cold)
  }

  test("packInterleaved: whole docs FFD-pack (no image ever straddles a " +
    "window), image slots cost the patch budget, spans replay placement " +
    "order, groups pack independently") {
    import spark.implicits._
    // ctx=16, patch=4. Group s: doc 1 = text(3), image(m=11), text(5) —
    // size 12; doc 2 = text(4) — size 4; doc 3 = text(10), image(m=31) —
    // size 14. FFD (size DESC, doc): doc3→bin0 (room 2), doc1→bin1
    // (room 4), doc2→bin1 (fits exactly). Group t: doc 4 = text(2)→bin0.
    val items = Seq(
      ("s", 1L, 0L, "text", Some(3), None: Option[Long]),
      ("s", 1L, 1L, "image", None, Some(11L)),
      ("s", 1L, 2L, "text", Some(5), None),
      ("s", 2L, 0L, "text", Some(4), None),
      ("s", 3L, 0L, "text", Some(10), None),
      ("s", 3L, 1L, "image", None, Some(31L)),
      ("t", 4L, 0L, "text", Some(2), None))
      .toDF("g", "doc", "item_idx", "modality", "n_tok", "media_id")
    val got = graft.ops.Chunking.packInterleaved(items, col("g"),
        ctx = 16, patchBudget = 4)
      .orderBy("grp", "bin", "span_start")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(4), Option(r.get(5)).map(_.asInstanceOf[Long]),
        r.getLong(6), r.getLong(7)))
    assert(got.toSeq === Seq(
      ("s", 0L, 3L, "text", None, 0L, 10L),
      ("s", 0L, 3L, "image", Some(31L), 10L, 14L),
      ("s", 1L, 1L, "text", None, 0L, 3L),
      ("s", 1L, 1L, "image", Some(11L), 3L, 7L),
      ("s", 1L, 1L, "text", None, 7L, 12L),
      ("s", 1L, 2L, "text", None, 12L, 16L),
      ("t", 0L, 4L, "text", None, 0L, 2L)))
    // no span crosses the window boundary and no image is ever split —
    // every span lies inside [0, ctx]
    assert(got.forall { case (_, _, _, _, _, s0, e0) =>
      s0 >= 0 && e0 <= 16 && s0 < e0 })
  }

  test("epochOrder/resumeAt: each epoch is a dense permutation of the " +
    "same multiset, epochs provably differ, and resuming from a FRESH " +
    "re-derivation at an (epoch, pos) cursor equals the uninterrupted " +
    "suffix bit for bit") {
    import spark.implicits._
    import graft.ops.Sampling
    def docs = (1L to 40L).toDF("id")
    val stream = Sampling.epochStream(docs, col("id"), Seq(0, 1), seed = 3)
      .select("epoch", "id", "pos")
    val byEpoch = stream.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    // dense 0..n-1 positions over the identical key multiset, per epoch
    byEpoch.values.foreach { rows =>
      assert(rows.map(_._3).sorted.toSeq === (0L until 40L))
      assert(rows.map(_._2).sorted.toSeq === (1L to 40L))
    }
    // the two epochs' orders genuinely differ
    val pos0 = byEpoch(0).map(r => r._2 -> r._3).toMap
    val pos1 = byEpoch(1).map(r => r._2 -> r._3).toMap
    assert((1L to 40L).count(k => pos0(k) != pos1(k)) > 0)
    // resume: fresh derivation + cursor filter == uninterrupted suffix
    val full = stream.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val suffix = full.filter { case (e, _, p) => e > 0 || p >= 17L }
    val resumed = Sampling.resumeAt(
        Sampling.epochStream(docs, col("id"), Seq(0, 1), seed = 3),
        epoch = 0, pos = 17L)
      .select("epoch", "id", "pos").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(resumed === suffix)
    // a different seed is a different permutation family
    val other = Sampling.epochOrder(docs, col("id"), 0, seed = 4)
      .select("id", "pos").collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert((1L to 40L).count(k => pos0(k) != other(k)) > 0)
  }

  test("sftMaskSpans conservation laws over a deterministic corpus: " +
    "segments tile every non-final window exactly, per-example segment " +
    "tokens sum to n_tok, and clipped mask tokens sum to the span total") {
    import spark.implicits._
    // 60 examples, sizes/turns from id arithmetic (no randomness — the
    // repo's reproducibility contract), 3 groups, ctx = 32
    val rows = (1L to 60L).map { i =>
      val n = 1L + (i * 7) % 50
      val nt = 2 * (1 + (i % 3)) // 2/4/6 alternating turns
      val spans = (0L until nt).filter(_ % 2 == 1)
        .map(t => (t * n / nt, (t + 1) * n / nt))
      (s"g${i % 3}", i, n, spans)
    }
    val ex = spansDf(rows)
    val out = graft.ops.Chunking.sftMaskSpans(ex, col("g"), ctx = 32,
        Seq(col("doc_id")))
      .select(col("g"), col("doc_id"), col("win"),
        col("seg_start"), col("seg_end"),
        aggregate(col("mask_spans"), lit(0L),
          (a, y) => a + y("me").cast("long") - y("ms").cast("long"))
          .as("mask_tok"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getInt(4), r.getLong(5)))
    // (1) per-example segment tokens conserve n_tok
    val segByDoc = out.groupBy(_._2)
      .map { case (d, rs) => d -> rs.map(r => (r._5 - r._4).toLong).sum }
    rows.foreach { case (_, i, n, _) => assert(segByDoc(i) === n,
      s"doc $i: segments must sum to n_tok=$n") }
    // (2) clipped mask tokens conserve the span total
    val maskByDoc = out.groupBy(_._2)
      .map { case (d, rs) => d -> rs.map(_._6).sum }
    rows.foreach { case (_, i, _, spans) =>
      assert(maskByDoc(i) === spans.map(s => s._2 - s._1).sum,
        s"doc $i: clipped masks must sum to the span total") }
    // (3) every non-final window of each group is tiled exactly to ctx
    out.groupBy(r => (r._1, r._3)).foreach { case ((g, win), rs) =>
      val lastWin = out.filter(_._1 == g).map(_._3).max
      val covered = rs.map(r => (r._5 - r._4).toLong).sum
      if (win < lastWin)
        assert(covered === 32L, s"($g, window $win) must tile to ctx")
      else assert(covered <= 32L)
    }
  }

  test("sftMaskSpans degenerates to sftMaskWindows when every example " +
    "has ONE span [resp_start, n_tok)") {
    import spark.implicits._
    val base = Seq(("s", 1L, 6L, 4L), ("s", 2L, 8L, 5L), ("s", 3L, 5L, 4L))
      .toDF("g", "doc_id", "n_tok", "resp_start")
    val single = Chunking.sftMaskWindows(base, col("g"), ctx = 10,
        Seq(col("doc_id")))
      .select(col("doc_id"), col("win"), col("seg_start"), col("seg_end"),
        col("mask_start"), col("mask_end"))
      .orderBy("doc_id", "win").collect().toSeq
    val multi = Chunking.sftMaskSpans(
        base.withColumn("spans",
          array(struct(col("resp_start").as("s"), col("n_tok").as("e")))),
        col("g"), ctx = 10, Seq(col("doc_id")))
      .select(col("doc_id"), col("win"), col("seg_start"), col("seg_end"),
        get(col("mask_spans"), lit(0))("ms").as("mask_start"),
        get(col("mask_spans"), lit(0))("me").as("mask_end"))
      .orderBy("doc_id", "win").collect().toSeq
    assert(single === multi)
  }

  // ---- Preference: pairwise-judgment tournament ranking -------------------

  private def judgeDf(rows: Seq[(Long, Long, Long, Long)]) = {
    import spark.implicits._
    rows.toDF("p", "a", "b", "w")
  }

  private def ranks(j: org.apache.spark.sql.DataFrame) =
    graft.ops.Preference.rankCandidates(j, col("p"), col("a"), col("b"),
        col("w"))
      .orderBy("prompt", "rnk")
      .select("prompt", "cand", "copeland", "j_wins", "n_judgments",
        "win_permille", "rnk")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getInt(6)))

  test("Preference: per-pair MAJORITY absorbs a single noisy judge — " +
    "2-1 still elects the honest winner; an exact 1-1 tie yields NO " +
    "Copeland edge for either side") {
    val got = ranks(judgeDf(Seq(
      // prompt 0: pair (1,2) judged 3x, one flipped vote → majority 1
      (0L, 1L, 2L, 1L), (0L, 2L, 1L, 1L), (0L, 1L, 2L, 2L),
      // prompt 1: pair (1,2) judged 2x, split → tie, copeland 0 both;
      // raw j_wins breaks the rank (1 and 2 equal → cand ASC decides)
      (1L, 1L, 2L, 1L), (1L, 1L, 2L, 2L))))
    assert(got === Seq(
      (0L, 1L, 1L, 2L, 3L, 667L, 1), (0L, 2L, -1L, 1L, 3L, 333L, 2),
      (1L, 1L, 0L, 1L, 2L, 500L, 1), (1L, 2L, 0L, 1L, 2L, 500L, 2)))
  }

  test("Preference: a Condorcet 3-cycle leaves all copeland 0 (1 win, " +
    "1 loss each) and the deterministic tie-break ranks by raw judgment " +
    "wins then id — NEVER by naive transitivity") {
    // 10>20, 20>30, 30>10; pair (10,20) judged twice (both 10) so 10
    // leads raw wins; the rest once each
    val got = ranks(judgeDf(Seq(
      (7L, 10L, 20L, 10L), (7L, 20L, 10L, 10L),
      (7L, 20L, 30L, 20L), (7L, 30L, 10L, 30L))))
    assert(got.map(t => (t._2, t._3, t._7)) ===
      Seq((10L, 0L, 1), (20L, 0L, 2), (30L, 0L, 3)))
    // 10: 2 raw wins; 20 and 30: 1 each → 20 before 30 by cand ASC
    assert(got.map(_._4) === Seq(2L, 1L, 1L))
  }

  test("Preference: pair orientation is normalized — (a=5,b=3) and " +
    "(a=3,b=5) aggregate into ONE (lo,hi) pair") {
    val got = ranks(judgeDf(Seq(
      (0L, 5L, 3L, 5L), (0L, 3L, 5L, 5L), (0L, 3L, 5L, 3L))))
    // one pair, majority 5 (2-1)
    assert(got === Seq(
      (0L, 5L, 1L, 2L, 3L, 667L, 1), (0L, 3L, -1L, 1L, 3L, 333L, 2)))
  }

  test("Preference: a judgment whose winner is NEITHER side raises " +
    "loudly, never silently drops") {
    val ex = intercept[Exception] {
      ranks(judgeDf(Seq((0L, 1L, 2L, 9L))))
    }
    assert(ex.getMessage.contains("winner outside"))
  }

  // ---- Curation.thresholdSweep: the quality-floor decision table ----------

  test("thresholdSweep: hand-computed decision rows — survivors are " +
    "score >= thr, null scores count toward totals only, an " +
    "above-everything threshold reports 0 docs and NULL mean") {
    import spark.implicits._
    // scores 10, 20, 30, null; weights 1, 2, 3, 4 → totals: 4 docs, 10 wt
    val df = Seq((Some(10L), 1L), (Some(20L), 2L), (Some(30L), 3L),
      (None: Option[Long], 4L)).toDF("s", "w")
    val got = graft.ops.Curation.thresholdSweep(df, col("s"), col("w"),
        Seq(15L, 30L, 99L))
      .orderBy("thr")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) -1L else r.getLong(5)))
    assert(got === Seq(
      // thr 15: docs {20, 30} → 2 docs, wt 5, 500‰ docs, 500‰ wt, mean 25
      (15L, 2L, 5L, 500L, 500L, 25L),
      // thr 30: {30} → 1 doc, wt 3, 250‰, 300‰, mean 30
      (30L, 1L, 3L, 250L, 300L, 30L),
      // thr 99: nothing survives → zeros and NULL mean
      (99L, 0L, 0L, 0L, 0L, -1L)))
  }

  test("thresholdSweep: thresholds must be strictly ascending — " +
    "unsorted or duplicated candidates raise at build time") {
    import spark.implicits._
    val df = Seq((1L, 1L)).toDF("s", "w")
    intercept[IllegalArgumentException] {
      graft.ops.Curation.thresholdSweep(df, col("s"), col("w"), Seq(5L, 2L))
    }
    intercept[IllegalArgumentException] {
      graft.ops.Curation.thresholdSweep(df, col("s"), col("w"), Seq(2L, 2L))
    }
  }

  // ---- Dedup.admitWaves: evolving-index admission semantics ---------------

  private val admitN = 1
  private val admitK = 16
  private val admitBands = 16
  private val admitJ = 0.25 // minAgree = 4 of 16

  private def emptyIdx = spark.range(0).select(
    (col("id").as("doc") +: (0 until admitK).map(j =>
      col("id").as(s"s$j"))): _*)

  private def admitFixture() = {
    import spark.implicits._
    val ta = (1 to 10).map(i => s"a$i").mkString(" ")
    val tb = ((1 to 10).map(i => s"a$i") ++ (1 to 10).map(i => s"b$i"))
      .mkString(" ")
    val tc = (1 to 10).map(i => s"b$i").mkString(" ")
    (ta, tb, tc)
  }

  private def agreeOf(x: String, y: String): Int = {
    import spark.implicits._
    val sig = graft.ops.Dedup.minhashSignaturesRowwise(
        Seq((1L, x), (2L, y)).toDF("doc_id", "text"),
        col("doc_id"), col("text"), admitN, admitK)
      .orderBy("doc").collect()
    (0 until admitK).count(j => sig(0).getLong(j + 1) == sig(1).getLong(j + 1))
  }

  test("admitWaves: within a wave ANY smaller-id near-dup kills — even a " +
    "killer that itself died (A~B, B~C, A!~C: only A survives); the SAME " +
    "chain split across waves admits C, because only ADMITTED docs enter " +
    "the index") {
    import spark.implicits._
    val (ta, tb, tc) = admitFixture()
    // the fixture's collision structure must actually hold for the
    // planted jaccards (0.5 / 0.5 / 0.0) at minAgree 4 — checked, not
    // assumed (signature agreement is deterministic but not hand-derivable)
    assert(agreeOf(ta, tb) >= 4 && agreeOf(tb, tc) >= 4 &&
      agreeOf(ta, tc) < 4, "fixture collision preconditions")
    def run(waves: Seq[(Long, String, Long)]) =
      graft.ops.Dedup.admitWaves(
          waves.toDF("doc_id", "text", "w"),
          col("doc_id"), col("text"), col("w"), emptyIdx,
          admitN, admitK, admitBands, admitJ)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // one wave: B dies to A; C dies to B although B is already dead
    assert(run(Seq((1L, ta, 0L), (2L, tb, 0L), (3L, tc, 0L))) === Seq(1L))
    // C arrives a wave later: the index holds only A (admitted), and
    // A !~ C, so C is admitted — rejected docs never suppress later ones
    assert(run(Seq((1L, ta, 0L), (2L, tb, 0L), (3L, tc, 1L))) ===
      Seq(1L, 3L))
  }

  test("admitWaves: a seed corpus index kills near-dup arrivals; " +
    "null-text rows always survive; the wave valve raises loudly") {
    import spark.implicits._
    val (ta, tb, _) = admitFixture()
    val seed = graft.ops.Dedup.minhashSignaturesRowwise(
      Seq((100L, ta)).toDF("doc_id", "text"),
      col("doc_id"), col("text"), admitN, admitK)
    val arr = Seq((1L, Some(tb), 0L), (2L, None: Option[String], 0L))
      .toDF("doc_id", "text", "w")
    val got = graft.ops.Dedup.admitWaves(arr, col("doc_id"), col("text"),
        col("w"), seed, admitN, admitK, admitBands, admitJ)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === Seq(2L),
      "B near-dups the seed corpus and dies; the null-text row survives")
    val three = Seq((1L, ta, 0L), (2L, tb, 1L), (3L, ta, 2L))
      .toDF("doc_id", "text", "w")
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Dedup.admitWaves(three, col("doc_id"), col("text"),
        col("w"), seed, admitN, admitK, admitBands, admitJ, maxWaves = 2)
    }
    assert(ex.getMessage.contains("valve"))
  }

  // ---- Similarity.marginMine: ratio-margin cross-corpus mining ------------

  private def vecDf(rows: Seq[(Long, Seq[Float])]) = {
    import spark.implicits._
    rows.toDF("id", "v")
  }

  test("marginMine: hand-computed margins on orthogonal plants — an exact " +
    "copy scores 2000 permille mutual, an orphan scores 0 with the " +
    "cm-desc/tid-asc tie-break, and a nonpositive neighborhood drops") {
    val src = vecDf(Seq(
      (10L, Seq(1f, 0f, 0f, 0f)), (20L, Seq(0f, 1f, 0f, 0f))))
    val tgt = vecDf(Seq(
      (1L, Seq(1f, 0f, 0f, 0f)), (3L, Seq(0f, 0f, 1f, 0f))))
    val got = graft.ops.Similarity.marginMine(src, col("id"), col("v"),
        tgt, col("id"), col("v"), k = 2)
      .orderBy("sid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    // x10 ↔ y1 exact copy: cm 1e6; ss = 1e6+0, st = 1e6+0, ks = kt = 2 →
    // margin = 2000·1e6·4 / (1e6·2 + 1e6·2) = 2000; mutual.
    // x20: all cosines 0 → best = lowest tid (1); margin 0, not mutual
    assert(got.toSeq === Seq(
      (10L, 1L, 1000000L, 2000L, true),
      (20L, 1L, 0L, 0L, false)))
    // antipodal 1-vs-1: den = −2e6 ≤ 0 → margin NULL → dropped even at
    // minMarginPermille = Long.MinValue
    val dropped = graft.ops.Similarity.marginMine(
      vecDf(Seq((1L, Seq(1f, 0f)))), col("id"), col("v"),
      vecDf(Seq((2L, Seq(-1f, 0f)))), col("id"), col("v"),
      k = 1, minMarginPermille = Long.MinValue)
    assert(dropped.count() === 0L)
  }

  test("marginMine: a negative best cosine takes the SIGNED half-up " +
    "mirror, never floor-truncation") {
    // src x1=(1,0) anchors tgt y's neighborhood at +1e6; src x2=(−1,1)
    // has cos(x2,y) = −1/√2 → cm −707107; den = −707107 + 1e6 > 0
    val src = vecDf(Seq((1L, Seq(1f, 0f)), (2L, Seq(-1f, 1f))))
    val tgt = vecDf(Seq((9L, Seq(1f, 0f))))
    val got = graft.ops.Similarity.marginMine(src, col("id"), col("v"),
        tgt, col("id"), col("v"), k = 1,
        minMarginPermille = Long.MinValue)
      .orderBy("sid").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val cm = -707107L
    val den = BigInt(cm) + BigInt(1000000L)
    val num = BigInt(-cm) * 2000
    val mirrored = -((2 * num + den) / (2 * den)).toLong
    assert(got.toSeq === Seq((1L, 1000000L, 1000L), (2L, cm, mirrored)))
    assert(mirrored < 0 && mirrored != (2 * -num + den) / (2 * den),
      "the mirror must round away from zero, not floor")
  }

  // ---- Similarity.retrievalEval: exact recall/precision/MRR ---------------

  test("retrievalEval: hand-computed metrics — rows beyond k are ignored, " +
    "an empty truth set reports NULL recall (not 0), a no-hit query " +
    "reports NULL reciprocal rank") {
    import spark.implicits._
    // q1: truth {10, 20, 30}; retrieved ranks 1→10(hit) 2→99 3→20(hit),
    // rank 4→30 is BEYOND k=3 and must not count
    // q2: truth {50}; retrieved all misses
    // q3: truth EMPTY; retrieved something
    val retrieved = Seq(
      (1L, 10L, 1L), (1L, 99L, 2L), (1L, 20L, 3L), (1L, 30L, 4L),
      (2L, 7L, 1L), (2L, 8L, 2L),
      (3L, 5L, 1L)).toDF("qid", "id", "rk")
    val truth = Seq((1L, 10L), (1L, 20L), (1L, 30L), (2L, 50L))
      .toDF("qid", "id")
    val got = graft.ops.Similarity.retrievalEval(retrieved, col("qid"),
        col("id"), col("rk"), truth, col("qid"), col("id"), k = 3)
      .orderBy("qid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5),
        if (r.isNullAt(6)) -1L else r.getLong(6)))
    assert(got.toSeq === Seq(
      // 2 of 3 truths found → recall 667‰, precision 2/3 of k=3 → 667‰,
      // first hit at rank 1 → rr 1e6
      (1L, 3L, 2L, 667L, 667L, 1L, 1000000L),
      // all misses: recall 0, rr NULL
      (2L, 1L, 0L, 0L, 0L, -1L, -1L),
      // empty truth: recall NULL (0/0 unknowable), not 0
      (3L, 0L, 0L, -1L, 0L, -1L, -1L)))
  }

  // ---- Chunking.padWasteReport: fixed-row batching waste ------------------

  test("padWasteReport: hand-computed arrival vs sorted waste — sorting " +
    "co-locates long rows so padded cost drops; the trailing short batch " +
    "costs its true rows, never R") {
    import spark.implicits._
    // one group, R=2, lengths by id order: 10, 2, 9, 1, 8
    // arrival: [10,2] pad 20, [9,1] pad 18, [8] pad 8 → padded 46, real 30
    // sorted (desc): [10,9] 20, [8,2] 16, [1] 1 → padded 37, real 30
    val df = Seq((1L, 10L), (2L, 2L), (3L, 9L), (4L, 1L), (5L, 8L))
      .toDF("id", "n").withColumn("g", lit("s"))
    val got = Chunking.padWasteReport(df, col("g"), col("id"), col("n"),
        rowsPerBatch = 2)
      .orderBy("policy").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)))
    assert(got.toSeq === Seq(
      ("arrival", 3L, 46L, 30L, 348L), // 16/46 → 347.8 → 348‰
      ("sorted", 3L, 37L, 30L, 189L))) // 7/37 → 189.2 → 189‰
  }

  // ---- Chunking.prefixCacheReport: KV prefix-sharing savings --------------

  test("prefixCacheReport: hand-computed lexicographic LCP savings — an " +
    "identical prompt saves its FULL length, a partial prefix saves the " +
    "shared tokens, the first prompt saves 0, groups are independent") {
    import spark.implicits._
    // group g sorted lexicographically: "a b c", "a b c", "a b d e", "x y"
    // saves: 0 (first), 3 (identical), 2 (shares "a b"), 0 (no prefix)
    // → total 12 tokens, cached 5, 417‰
    val df = Seq(
      ("g", "a b d e"), ("g", "x y"), ("g", "a b c"), ("g", "a b c"),
      ("h", "a b c")).toDF("grp", "p")
    val got = Chunking.prefixCacheReport(df, col("grp"), col("p"))
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq === Seq(
      ("g", 4L, 12L, 5L, 417L), // 5/12 → 416.7 → 417‰
      // h's single prompt shares nothing with g — groups are independent
      ("h", 1L, 3L, 0L, 0L)))
  }
}
