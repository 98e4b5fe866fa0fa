package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._

/** Round-12 operator specs: the ExactRound integer-rounding discipline
  * that closes the q169 rational-half-tie class (r11 judge root cause:
  * `round(S/n, 6)` over an IEEE quotient rounds exact .5 ties of the
  * 6-decimal grid differently across engines — half-up the BIGINT
  * quotient FIRST, divide by the power of ten ONCE). */
class OpsSpecR12 extends AnyFunSuite {
  import SparkTestSession._

  // ---- ExactRound primitives --------------------------------------------

  test("halfUpDiv is half-up integer rounding of num/den: exact ties go " +
    "up, non-ties to nearest, exact quotients untouched") {
    import spark.implicits._
    val rows = Seq(
      (1L, 2L, 1L),   // 0.5  -> 1 (tie up)
      (3L, 2L, 2L),   // 1.5  -> 2 (tie up)
      (5L, 2L, 3L),   // 2.5  -> 3 (tie up, never half-even's 2)
      (7L, 3L, 2L),   // 2.33 -> 2
      (8L, 3L, 3L),   // 2.67 -> 3
      (6L, 3L, 2L),   // exact
      (0L, 7L, 0L),   // zero numerator
      (2639057L, 2L, 1319529L)) // the measured q169-class tie shape
      .toDF("num", "den", "want")
    val got = rows.withColumn("got", ExactRound.halfUpDiv("num", "den"))
      .collect()
    got.foreach(r => assert(r.getAs[Long]("got") === r.getAs[Long]("want"),
      s"${r.getLong(0)}/${r.getLong(1)}"))
  }

  test("ratioRounded matches round(num/den, k) away from ties, resolves " +
    "exact .5 ties half-up, and survives magnitudes where 2*num*10^k " +
    "overflows int64") {
    import spark.implicits._
    val rows = Seq(
      // (num, den, k, want): 1/3 at k=6 -> 0.333333
      (1L, 3L, 6, 0.333333),
      (2L, 3L, 6, 0.666667),
      // exact tie at the k=2 grid: 1/8 = 0.125 -> 0.13 half-up
      (1L, 8L, 2, 0.13),
      // exact tie at k=6: 1/2000000 = 0.0000005 -> 0.000001
      (1L, 2000000L, 6, 1e-6),
      // overflow guard: num ~ 4.6e18 (2*num*10^6 >> int64) — stages
      // through DECIMAL(38,0); 4600000000000000000/9200000000000000000
      // = exactly 0.5 -> 0.500000
      (4600000000000000000L, 9200000000000000000L, 6, 0.5))
      .toDF("num", "den", "k", "want")
    rows.collect().foreach { r =>
      val got = rows.filter(col("num") === r.getLong(0) &&
          col("den") === r.getLong(1))
        .select(ExactRound.ratioRounded("num", "den", r.getInt(2)).as("g"))
        .head().getDouble(0)
      assert(got === r.getDouble(3), s"${r.getLong(0)}/${r.getLong(1)}")
    }
  }

  // ---- the forced q169-class tie, end-to-end through the LM family ------

  test("bigramCrossEntropy on a forced half-tie doc (odd S, even nt): the " +
    "exact .5 micro-nat tie resolves half-up through the integer path") {
    import spark.implicits._
    // Handcrafted corpus (searched offline): doc 2 'c b a' has TWO bigram
    // slots — (c,b): ln(1+1)−ln(3+5) → −1386294 µnat, (b,a):
    // ln(1+1)−ln(2+5) → −1252763 µnat — so S = 2639057 (ODD) over nt = 2:
    // the mean 1319528.5 µnats sits EXACTLY on the 6-decimal grid's .5
    // boundary, the shape whose IEEE-quotient round flipped q169 between
    // engines. The integer path must give half-up 1319529 deterministically.
    val docs = Seq((0L, "a c e d d"), (1L, "d c e b"), (2L, "c b a"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramCrossEntropy(docs, col("doc_id"),
        col("text"), docs, col("text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(got(2L)._1 === 2L)
    assert(got(2L)._3 === 1319529L, "tie must round half-up in BIGINT")
    assert(got(2L)._2 === 1.319529)
    // and the non-tie docs keep plain nearest-integer means
    // (doc 0: S = 4872649 over nt = 4 -> 1218162; doc 1: S = 3619886
    // over nt = 3 -> 1206629)
    assert(got(0L)._3 === 1218162L && got(0L)._2 === 1.218162)
    assert(got(1L)._3 === 1206629L && got(1L)._2 === 1.206629)
  }

  // ---- checkpoint statistics hygiene -------------------------------------

  test("Waist.cut generations size their leaf by stored bytes, not a " +
    "compounding estimate") {
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.execution.LogicalRDD
    var df = (0L until 50L).map(i => (i, i % 7)).toDF("a", "b")
    val gens = (1 to 4).map { g =>
      val joined = df.as("x")
        .join(df.select(col("a").as("a2"), col("b").as("b2")).as("y"),
          col("b") === col("b2"))
        .groupBy("a").agg(min("b2").as("b"))
      df = Waist.cut(joined)
      // the leaf's estimate is this generation's materialized bytes: a
      // Spark checkpoint would inherit the join's estimate, a product of
      // the previous leaf's, and its digit count grows geometrically
      // (the q215 10x-scale driver hang)
      val stored = GraftColumnBridge.storedBytes(
        Some(df.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id))
      val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(stored > 0 && size === BigInt(stored), s"generation $g")
      assert(size < (1 << 20), s"generation $g estimate $size")
      df
    }
    // and the data itself round-trips the cut untouched
    assert(df.count() === 50L)
    gens.foreach(Waist.release)
  }

  // ---- preference-pair assembly invariants ------------------------------

  test("q256 preference pairs: template prompts collapse to ONE survivor " +
    "(lowest pair_id), chosen always carries the max reward, and " +
    "chosen/rejected sources partition the pair") {
    val spark0 = spark
    val sf = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("q256_preference_pairs")(spark0, sf)
      .collect()
    // every 7th pair shares the planted template prompt -> dedupExact
    // must keep exactly one of them, and it must be pair 0
    val byFp = out.groupBy(_.getAs[String]("prompt_fp"))
    byFp.foreach { case (fp, rows) =>
      assert(rows.length === 1, s"prompt_fp $fp survived ${rows.length}×")
    }
    val ids = out.map(_.getAs[Long]("pair_id")).toSet
    assert(ids.contains(0L), "template family must keep pair 0")
    assert(!ids.exists(i => i != 0L && i % 7 == 0 && i < 40),
      "all later template pairs must dedup away")
    out.foreach { r =>
      val (c, rj) = (r.getAs[Long]("chosen_src"), r.getAs[Long]("rejected_src"))
      val p = r.getAs[Long]("pair_id")
      assert(Set(c, rj) === Set(2 * p, 2 * p + 1), s"pair $p sources")
      assert(r.getAs[Long]("reward_margin") >= 0L)
    }
  }

  test("stupidBackoff exposes xent_micro and cross_entropy = xm/1e6 " +
    "exactly (one exact-int-by-1e6 division, no round())") {
    import spark.implicits._
    val ref = Seq((0L, "a b c d e f")).toDF("doc_id", "text")
    val probes = Seq((1L, "a b c d e z")).toDF("doc_id", "text")
    val r = TextAnalysis.stupidBackoff(probes, col("doc_id"), col("text"),
        ref, col("text"), order = 5)
      .select("id", "n_ngrams", "cross_entropy", "xent_micro").head()
    assert(r.getDouble(2) === r.getLong(3).toDouble / 1e6)
  }
}
