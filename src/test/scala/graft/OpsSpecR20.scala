package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-20 (optimization round) specs: the native sorted-intersect verify
  * kernel, the guarded GRAFT_SPARK_EXTRA_CONF passthrough, the space-join
  * gram-key injectivity invariant, and paragraph-dedup md5-key equivalence. */
class OpsSpecR20 extends AnyFunSuite {
  import SparkTestSession._

  test("SortedIntersectCount == size(array_intersect) on sorted long " +
    "arrays, duplicates and disjoint/empty cases included (the " +
    "pair-verify kernel swap must be value-identical)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20L)
    val rows = (0 until 200).map { i =>
      def arr() = Seq.fill(rnd.nextInt(40))(rnd.nextInt(30).toLong)
        .sorted // duplicates on purpose: set semantics must match
      (i.toLong, arr(), arr())
    }
    val df = rows.toDF("id", "a", "b")
    val native = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.SortedIntersectCount(
        org.apache.spark.sql.GraftColumnBridge.expression(col("a")),
        org.apache.spark.sql.GraftColumnBridge.expression(col("b"))))
    val bad = df.select(col("id"), native.as("n"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .filter(col("n") =!= col("ref"))
    assert(bad.count() === 0, bad.collect().mkString("\n"))
    // empty arrays
    val empty = Seq((1L, Seq.empty[Long], Seq(1L, 2L))).toDF("id", "a", "b")
    assert(empty.select(org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.SortedIntersectCount(
        org.apache.spark.sql.GraftColumnBridge.expression(col("a")),
        org.apache.spark.sql.GraftColumnBridge.expression(col("b")))))
      .head.getInt(0) === 0)
  }

  test("GRAFT_SPARK_EXTRA_CONF guard: correctness-critical confs are " +
    "rejected, perf confs pass through (VERDICT r19 #10)") {
    val (applied, rejected) = GraftSession.partitionExtraConf(
      "spark.sql.session.timeZone=America/New_York;" +
        "spark.sql.shuffle.partitions=64;" +
        "spark.sql.ansi.enabled=true;" +
        "spark.io.compression.codec=zstd")
    assert(rejected.map(_._1).toSet ===
      Set("spark.sql.session.timeZone", "spark.sql.ansi.enabled"))
    assert(applied ===
      Seq("spark.sql.shuffle.partitions" -> "64",
        "spark.io.compression.codec" -> "zstd"))
    // malformed fragments (no '=', empty key) are dropped, not crashed on
    val (a2, r2) = GraftSession.partitionExtraConf(";;novalue; =x;k=v")
    assert((a2, r2) === (Seq("k" -> "v"), Seq.empty))
  }

  test("stupidBackoff's space-joined gram key is injective on the real " +
    "tokenizer: tokens never contain a space and never come out null, so " +
    "concat_ws(\" \", w1..wm) collides iff the token tuples are equal — " +
    "pinned on adversarial text with empty tokens (double spaces)") {
    import spark.implicits._
    // double/triple spaces produce EMPTY-STRING tokens; the space-joined
    // key must still separate ("a","","b") from ("a","b") arities apart
    val ref = Seq((1L, "a  b a  b x"), (2L, "a b  x  a b"), (3L, "x  x  x"))
      .toDF("doc_id", "text")
    val tables = graft.ops.TextAnalysis.ngramCountTables(
      ref, col("text"), order = 3, derive = false)
    (1 to 3).foreach { m =>
      val t = tables(m)
      val byCols = t.count()
      val byKey = t.select(
        concat_ws(" ", (1 to m).map(j => col(s"w$j")): _*)).distinct().count()
      assert(byCols === byKey,
        s"order-$m gram table: ${byCols} distinct token tuples but " +
          s"$byKey distinct space-joined keys — key aliasing would " +
          "merge counts (null or space-carrying token?)")
      // and no token is ever null (concat_ws SKIPS nulls — a null token
      // would alias ("a", null, "b") with ("a", "b") one arity down)
      val nulls = t.filter((1 to m).map(j => col(s"w$j").isNull)
        .reduce(_ || _)).count()
      assert(nulls === 0L, s"order-$m gram table carries null tokens")
    }
  }

  test("klPerGroup clamps a zero-quantized CORPUS ratio to the grid floor " +
    "instead of zeroing the term (r18 ADVICE; VERDICT r19 #9): a token " +
    "common in a small group but globally rarer than 0.5e-6 must " +
    "contribute a large positive divergence") {
    import spark.implicits._
    // corpus of ~2.2M tokens so the lone 'raretok' quantizes to qm = 0
    // (1e6 * 1/2200004 rounds to 0); in the small group its pm = 250000.
    // With the greatest(qm, 1) clamp the term is pm * ln(pm) ≈ 3.1e6
    // micro-nats; a zeroing implementation would report kl_u ≈ tiny.
    val big = ("x " * 2199999) + "x"
    val small = "raretok x x x"
    val df = Seq(("big", big), ("small", small)).toDF("g", "text")
    val rows = graft.ops.TextAnalysis.klPerGroup(df, col("g"), col("text"))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(rows("small") >= 2000000L,
      s"small-group kl_u = ${rows("small")} — the rare-token term was " +
        "zeroed instead of clamped to the micro-grid floor")
  }

  test("simhashCensus == simhashPairs groupBy census — value-collapsed " +
    "formulation is row-identical (duplicated hashes, dense value space)") {
    import spark.implicits._
    // shared vocabulary over few tokens → lots of genuinely close hashes,
    // plus planted exact duplicates (distance-0 branch) and a lonely doc
    val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val rnd = new scala.util.Random(93L)
    val docs = ((0 until 300).map { i =>
      (i.toLong, Seq.fill(6 + rnd.nextInt(6))(words(rnd.nextInt(words.size)))
        .mkString(" "))
    } ++ Seq((1000L, "alpha beta gamma"), (1001L, "alpha beta gamma"),
      (1002L, "alpha beta gamma"), (2000L, "unique solitary document")))
      .toDF("doc_id", "text")
    val ref = graft.ops.Dedup.simhashPairs(docs, col("doc_id"), col("text"),
        bits = 16, maxHamming = 3)
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"),
        min("i").as("min_i"), max("j").as("max_j"))
      .orderBy("hamming").collect().map(_.toSeq)
    val got = graft.ops.Dedup.simhashCensus(docs, col("doc_id"), col("text"),
        bits = 16, maxHamming = 3)
      .orderBy("hamming").collect().map(_.toSeq)
    assert(got.toSeq === ref.toSeq)
    assert(ref.nonEmpty && ref.map(_.head.asInstanceOf[Int]).contains(0),
      "fixture must exercise the distance-0 (duplicate-hash) branch")
  }

  test("dedupParagraphsKeepFirst md5 join key: identical output to the " +
    "paragraph-string formulation on shared/unique/empty paragraphs") {
    import spark.implicits._
    val docs = Seq(
      (10L, "shared header\nunique ten\nshared header"),
      (20L, "shared header\nunique twenty"),
      (30L, "unique thirty\nshared header\n\nunique thirty"),
      (40L, ""),
      (50L, "shared header")
    ).toDF("id", "text")
    val got = graft.ops.Dedup.dedupParagraphsKeepFirst(
        docs, col("id"), col("text"))
      .orderBy("id").collect()
    // keep-first: a paragraph survives only at its (id, pos)-minimal slot
    val expect = Seq(
      (10L, 3L, 3L, "shared header\nunique ten"), // dup para in SAME doc drops
      (20L, 2L, 1L, "unique twenty"),
      (30L, 4L, 3L, "unique thirty\n"),            // empty para at pos 2 first seen in doc 40? no: doc 30 pos 2
      (40L, 1L, 0L, ""),
      (50L, 1L, 0L, ""))
    // derive the truth independently instead of hand-maintaining it:
    val slots = docs.select(col("id"),
        posexplode(split(col("text"), "\n")).as(Seq("pos", "para")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val canon = slots.groupBy(_._3).map { case (p, xs) =>
      p -> xs.map(x => (x._1, x._2)).min }
    val keptByDoc = slots.filter(x => canon(x._3) == ((x._1, x._2)))
      .groupBy(_._1).map { case (id, xs) =>
        id -> xs.sortBy(_._2).map(_._3).toSeq }
    got.foreach { r =>
      val id = r.getLong(0)
      val kept = keptByDoc.getOrElse(id, Seq.empty[String])
      assert(r.getLong(2) === kept.size.toLong, s"n_kept for doc $id")
      assert(r.getString(3) === kept.mkString("\n"), s"text for doc $id")
    }
    assert(got.map(_.getLong(0)).toSeq === Seq(10L, 20L, 30L, 40L, 50L))
    assert(expect.size === 5) // silence unused warning; truth is derived above
  }
}
