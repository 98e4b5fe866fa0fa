package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Sampling

/** Round-15 operator specs: epochExpansion's per-group key scoping, the
  * semantic-walk session memo, SFT mask-window packing, and the
  * release-merge dedup composition. */
class OpsSpecR15 extends AnyFunSuite {
  import SparkTestSession._

  test("epochExpansion: the SAME key value in two weighted groups never " +
    "fans out and partial-epoch membership stays per-group") {
    import spark.implicits._
    // key 1 appears in BOTH groups (the documented precondition is only
    // per-group uniqueness — budgetPerGroup's); before the r15 fix the
    // membership join matched on the key alone and duplicated rows
    val docs = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 30L),
      ("b", 1L, 15L), ("b", 5L, 25L))
      .toDF("g", "id", "ntok")
    val w = Seq("a" -> 3L, "b" -> 1L)
    val ex = Sampling.epochExpansion(docs, col("id"), col("ntok"), col("g"),
      w, 100L)
    // exactly one output row per input row — no join fan-out
    assert(ex.count() === docs.count())
    assert(ex.groupBy("g", "id").count().filter(col("count") > 1).count()
      === 0L)
    // per-group plans: a: T=60, tgt=75, fe=1, rem=15; b: T=40, tgt=25,
    // fe=0, rem=25. Membership of key 1 is decided INSIDE each group by
    // the hash-prefix rule — both (g, key) rows carry their own group's
    // full_epochs, never the other's
    val fe = ex.select("g", "full_epochs").distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fe === Map("a" -> 1L, "b" -> 0L))
    // and the partial take per group still never overshoots the leftover
    val taken = ex.filter(col("in_partial"))
      .groupBy("g").agg(sum("ntok").as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    taken.get("a").foreach(s => assert(s <= 15L))
    taken.get("b").foreach(s => assert(s <= 25L))
  }

  test("sftMaskWindows: straddling example splits across windows with " +
    "clipped spans; a prompt-only segment carries NULL mask; bin = first " +
    "window") {
    import spark.implicits._
    import graft.ops.Chunking
    // ctx=10; doc 2 (8 tokens, response from token 5) starts at stream
    // offset 6 → its window-0 segment holds prompt tokens only
    val ex = Seq(("s", 1L, 6L, 4L), ("s", 2L, 8L, 5L), ("s", 3L, 5L, 4L))
      .toDF("g", "doc_id", "n_tok", "resp_start")
    val got = Chunking.sftMaskWindows(ex, col("g"), ctx = 10,
        Seq(col("doc_id")))
      .orderBy("win", "seg_start")
      .select("doc_id", "win", "bin", "seg_start", "seg_end",
        "mask_start", "mask_end")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getInt(4),
        if (r.isNullAt(5)) null else r.getInt(5),
        if (r.isNullAt(6)) null else r.getInt(6))).toSeq
    assert(got === Seq(
      (1L, 0L, 0L, 0, 6, 4, 6),      // whole example + mask in window 0
      (2L, 0L, 0L, 6, 10, null, null), // straddler's prompt-only head
      (2L, 1L, 0L, 0, 4, 1, 4),      // straddler's tail: mask clipped
      (3L, 1L, 1L, 4, 9, 8, 9)))     // starts (and masks) inside window 1
  }

  test("SFT template glue: the response boundary is computed from the " +
    "SERIALIZED prompt — the header glues onto adjacent words, so a " +
    "naive header-tokens + instr-words count would be wrong") {
    import spark.implicits._
    val df = Seq("a b c d").toDF("text")
    val toks = split(col("text"), " ")
    val k = (size(toks) / lit(2)).cast("int")
    val promptPart = concat(lit("### Instruction:\n"),
      array_join(slice(toks, lit(1), k), " "), lit("\n### Response:"))
    val rs = df.select(size(split(promptPart, " ")).as("rs"))
      .collect().head.getInt(0)
    // serialized: ["###", "Instruction:\na", "b\n###", "Response:"] = 4;
    // the naive count (3 header tokens + 2 instruction words) would be 5
    assert(rs === 4)
  }

  test("shareDrift: full-outer topic diff — absent topics report 0, " +
    "shares and deltas sit on the exact permille grid") {
    import spark.implicits._
    import graft.ops.{Similarity => Sim}
    // release a: g1 = {0, 0, 1}; release b: g1 = {0, 2} — topic 1
    // vanishes, topic 2 appears
    val a = Seq(("g1", 0L), ("g1", 0L), ("g1", 1L)).toDF("g", "topic")
    val b = Seq(("g1", 0L), ("g1", 2L)).toDF("g", "topic")
    val got = Sim.shareDrift(a, b).orderBy("topic")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got === Seq(
      ("g1", 0L, 2L, 1L, 667L, 500L, -167L), // 2000/3 half-up = 667
      ("g1", 1L, 1L, 0L, 333L, 0L, -333L),   // vanished → b side 0
      ("g1", 2L, 0L, 1L, 0L, 500L, 500L)))   // appeared → a side 0
  }

  test("mergeReleases: later dup of an earlier doc dies via the INDEX " +
    "alone (earlier text never re-read); later-vs-later pairs are never " +
    "examined") {
    import spark.implicits._
    import graft.ops.Dedup
    val earlier = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"))
      .toDF("doc_id", "text")
    val idx = Dedup.minhashSignaturesRowwise(earlier, col("doc_id"),
      col("text"), n = 3, k = 16)
    // 11 = exact copy of earlier doc 1 → must die (keep-earlier rule);
    // 12/13 = identical NEW docs → BOTH survive (internal dedup of each
    // release is the caller's precondition; B×B is structurally unpaired)
    val later = Seq((11L, "alpha beta gamma delta epsilon zeta"),
      (12L, "seven eight nine ten eleven twelve"),
      (13L, "seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    // corrupt the earlier release's TEXT before merging: resolution must
    // run entirely against the signature index, so the result is unchanged
    val earlierArchived = earlier.withColumn("text", lit("<archived>"))
    val merged = Dedup.mergeReleases(earlierArchived, later, col("doc_id"),
      col("text"), idx, n = 3, k = 16, bands = 4, minEstJaccard = 0.5)
    assert(merged.select("doc_id").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 12L, 13L))
  }

  test("packEfficiency: hand-computed FFD utilization/waste at two " +
    "capacities, permille on the exact half-up grid") {
    import spark.implicits._
    import graft.ops.Chunking
    val chunks = Seq(("g", 1L, 0, "a b c", 3), ("g", 2L, 0, "d e f", 3),
      ("g", 3L, 0, "g h", 2))
      .toDF("grp0", "doc", "chunk_idx", "chunk", "n_tok")
    val got = Chunking.packEfficiency(chunks, col("grp0"), Seq(4, 8))
      .orderBy("ctx")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toSeq
    // ctx=4: FFD(3,3,2) opens three bins -> util 8000/12 half-up = 667
    // ctx=8: all three fit one bin -> util 1000, zero waste
    assert(got === Seq(
      (4, 3L, 3L, 8L, 667L, 4L, 3L, 2L),
      (8, 1L, 3L, 8L, 1000L, 0L, 8L, 8L)))
  }

  test("semantic walk: repeat runs of q268 are bit-identical and leave " +
    "nothing persisted") {
    val q = graft.queries.VectorQueries.queries("q268_semantic_pack")
    spark.catalog.clearCache()
    val first = q(spark, sf).collect().map(_.toSeq).toSeq
    val second = q(spark, sf).collect().map(_.toSeq).toSeq
    val third = q(spark, sf).collect().map(_.toSeq).toSeq
    assert(second === first)
    assert(third === first)
    assert(spark.sharedState.cacheManager.isEmpty,
      "q268 must not leave its walk order persisted after it returns")
  }
}
