package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._

/** Round-10 operator specs: C4 line rules, winnowed-print decontamination,
  * graph-based semantic clustering, the hashed Naive Bayes classifier. */
class OpsSpecR10 extends AnyFunSuite {
  import SparkTestSession._

  // ---- C4 line cleaning -------------------------------------------------

  test("c4 line rules: punctuation, min words, javascript line, page-level drops (q181)") {
    import spark.implicits._
    val doc = Seq(
      // (text, expected cleaned, expected docOk)
      ("Good long sentence here.\nno punct line\nshort one.\n" +
        "please enable javascript now.\nAnother fine sentence stays!",
        "Good long sentence here.\nAnother fine sentence stays!", true),
      ("lorem ipsum dolor sit amet.\nA perfectly fine sentence.",
        "lorem ipsum dolor sit amet.\nA perfectly fine sentence.", false),
      ("var f = function() { return 1; }\nGood long sentence here.",
        "Good long sentence here.", false),
      ("Ends with quote he said.\"\nBang ending three words!", // quote + bang both terminal
        "Ends with quote he said.\"\nBang ending three words!", true),
      ("", "", true)
    ).toDF("text", "wantClean", "wantOk")
    val got = doc.select(
      TextAnalysis.c4CleanText(col("text"), minWords = 4).as("clean"),
      TextAnalysis.c4DocOk(col("text")).as("ok"),
      col("wantClean"), col("wantOk")).collect()
    got.foreach { r =>
      assert(r.getString(0) === r.getString(2), s"clean mismatch: $r")
      assert(r.getBoolean(1) === r.getBoolean(3), s"docOk mismatch: $r")
    }
  }

  test("c4 keep-line counts words AFTER trim; short last segment drops") {
    import spark.implicits._
    val got = Seq("  one two three four.  \nx y.").toDF("t")
      .select(size(filter(split(col("t"), "\n"),
        l => TextAnalysis.c4KeepLine(l, minWords = 4))).as("n"))
      .head.getInt(0)
    assert(got === 1) // first line has 4 words after trim; second only 2
  }

  // ---- winnowed-print decontamination -----------------------------------

  test("printOverlap flags a planted shared run, spares clean docs (q183)") {
    import spark.implicits._
    val run = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq(
      (1L, s"totally unrelated words here now $run and a tail"),
      (2L, "nothing shared with the benchmark at all in this document"),
      (3L, "short")).toDF("id", "text")
    val bench = Seq(s"benchmark question prefix $run suffix words").toDF("text")
    val flags = Dedup.printOverlap(corpus, col("id"), col("text"),
      bench, col("text"), k = 4, w = 5, minShared = 1L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    // winnowing guarantee: the 8-token shared run (= w+k−1) yields ≥1
    // shared print for doc 1; doc 2 shares nothing; doc 3 has no grams
    // (absent from output — the ngramOverlap convention)
    assert(flags(1L), "planted doc must be flagged")
    assert(!flags(2L), "clean doc must not be flagged")
    assert(!flags.contains(3L), "gram-free doc is absent")
    val surv = Dedup.decontaminateByPrints(corpus, col("id"), col("text"),
      bench, col("text"), k = 4, w = 5, minShared = 1L)
      .select("id").as[Long].collect().sorted
    assert(surv === Array(2L, 3L))
  }

  // ---- graph-based semantic clustering ----------------------------------

  test("semanticClusters closes chains: A≈B≈C one component though cos(A,C) < τ") {
    import spark.implicits._
    // 2-D unit vectors at 0°, 17°, 34°: cos(17°)=0.956 ≥ 0.95 links the
    // adjacent pairs, cos(34°)=0.829 < 0.95 — only transitive closure puts
    // all three in one cluster. bits=1 on the positive arc keeps one bucket
    // (deterministic hash projections; asserted via the edge set itself).
    def v(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val vecs = Seq((0L, v(0)), (1L, v(17)), (2L, v(34)),
      (10L, v(200))).toDF("id", "vec")
    val cc = Similarity.semanticClusters(vecs, col("id"), col("vec"),
      bits = 1, k = 2, minCos = 0.95)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.get(0L).contains(0L) && cc.get(1L).contains(0L) &&
      cc.get(2L).contains(0L),
      s"chain 0-1-2 must collapse to one component, got $cc")
    assert(!cc.contains(10L), "far vector stays a singleton (absent)")
  }

  test("semanticClusters keeps edges ranked top-k by EITTHER endpoint") {
    import spark.implicits._
    // regression for the i<j-after-rank bug: identical copies pin edges
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 4)
    val copies = base.select((col("vec_id") + 100L).as("vec_id"), col("embedding"))
    val all = base.select(col("vec_id"), col("embedding")).unionByName(copies)
    val cc = Similarity.semanticClusters(all, col("vec_id"), col("embedding"),
      bits = 4, k = 2, minCos = 0.99)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 4L).foreach { i =>
      assert(cc.get(i).contains(i) && cc.get(i + 100L).contains(i),
        s"copy pair $i must form a component rooted at $i: $cc")
    }
  }

  // ---- embedding preprocessing ------------------------------------------

  test("l2Normalize/center/truncateDims: unit norms, zero-vector safety, exact centering") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(3f, 4f)),        // norm 5 → (0.6, 0.8)
      (2L, Array(0f, 0f)),        // zero vector stays zero
      (3L, Array(1f, 1f))).toDF("id", "vec")
    val got = vecs.select(col("id"),
        Similarity.l2Normalize(col("vec")).as("u"),
        Similarity.center(col("vec"), Array(1.0, 2.0)).as("c"),
        Similarity.truncateDims(col("vec"), 1).as("t"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Double](1), r.getSeq[Double](2), r.getSeq[Double](3))).toMap
    assert(got(1L)._1.map(x => math.round(x * 1e9) / 1e9) === Seq(0.6, 0.8))
    assert(got(2L)._1 === Seq(0.0, 0.0))
    assert(got(1L)._2 === Seq(2.0, 2.0)) // (3,4) − (1,2)
    assert(got(1L)._3 === Seq(1.0))      // prefix (3) renormalized
    assert(got(2L)._3 === Seq(0.0))      // zero prefix stays zero
    // meanVector is the exact per-dimension average
    val m = Similarity.meanVector(vecs, col("vec"))
    assert(m.toSeq === Seq((3.0 + 0 + 1) / 3, (4.0 + 0 + 1) / 3))
  }

  // ---- hashed Naive Bayes -----------------------------------------------

  test("nbFit/nbPredict: learns class-indicative tokens, smoothing + priors exact") {
    import spark.implicits._
    val train = Seq(
      ("spam", "buy cheap pills now"), ("spam", "cheap pills online buy"),
      ("spam", "buy buy cheap offer"),
      ("ham", "meeting notes for today"), ("ham", "notes about the meeting"))
      .toDF("label", "text")
    val m = TextAnalysis.nbFit(train, col("label"), col("text"),
      nBuckets = 1 << 16, seed = 11)
    assert(m.labels === Seq("ham", "spam"))
    // priors: ln(2/5), ln(3/5) rounded to micro-nats
    assert(m.priorsU("ham") ===
      BigDecimal(1e6 * math.log(2.0 / 5)).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    val test = Seq((1L, "cheap pills"), (2L, "meeting today"),
      (3L, "zz unseen tokens only")).toDF("id", "text")
    val pred = TextAnalysis.nbPredict(test, col("id"), col("text"), m)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pred(1L) === "spam")
    assert(pred(2L) === "ham")
    // all-unseen doc (4 tokens): per-token miss ln(1/(N_c+B)) differs only
    // via N_c (ham 8 training tokens, spam 12), priors favor spam —
    // verify the exact integer arithmetic picks the same winner
    val wantU = {
      def u(x: Double) = BigDecimal(1e6 * x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      val b = (1 << 16).toLong
      val sHam = u(math.log(2.0 / 5)) + 4 * u(math.log(1.0 / (8 + b)))
      val sSpam = u(math.log(3.0 / 5)) + 4 * u(math.log(1.0 / (12 + b)))
      if (sHam >= sSpam) "ham" else "spam"
    }
    assert(pred(3L) === wantU)
  }

  test("nbPredict tie-break is deterministic (score tie → label asc)") {
    import spark.implicits._
    // perfectly symmetric classes: identical token multisets per class
    val train = Seq(("b", "x y"), ("a", "x y")).toDF("label", "text")
    val m = TextAnalysis.nbFit(train, col("label"), col("text"),
      nBuckets = 256, seed = 11)
    val pred = TextAnalysis.nbPredict(Seq((1L, "x y")).toDF("id", "text"),
      col("id"), col("text"), m).head.getString(1)
    assert(pred === "a")
  }

  test("nbPredict is total: token-free doc gets the prior argmax") {
    import spark.implicits._
    val train = Seq(("big", "a b c"), ("big", "a c"), ("small", "d e"))
      .toDF("label", "text")
    val m = TextAnalysis.nbFit(train, col("label"), col("text"),
      nBuckets = 256, seed = 11)
    // "" tokenizes to [""], an UNSEEN token — still scored, never dropped
    val pred = TextAnalysis.nbPredict(Seq((9L, "")).toDF("id", "text"),
      col("id"), col("text"), m).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(pred.length === 1)
    assert(pred.head._2 === "big")
  }

  // ---- k-NN label propagation (q197/q198) -------------------------------

  test("labelPropagate: majority vote over k nearest seeds, vote-count " +
      "tie breaks to the smaller label, isolates absent, seeds never predicted") {
    import spark.implicits._
    // bits=2 bucket = sign of dims 1-2: all vectors below share (+,+) except
    // the planted isolate. Seeds s1..s4; non-seeds u1,u2 + decoy u4 near u1
    // (non-seed neighbors must never vote).
    val rows = Seq(
      (1L, Array(1f, 1f, 1f, 0f), 1, true),       // s1
      (2L, Array(1f, 1f, 0.9f, 0.1f), 1, true),   // s2
      (3L, Array(1f, 1f, 0f, 1f), 2, true),       // s3
      (4L, Array(1f, 1f, 0.1f, 0.9f), 2, true),   // s4
      (10L, Array(1f, 1f, 1f, 0.05f), 0, false),  // u1 → label-1 side
      (11L, Array(1f, 1f, 0.05f, 1f), 0, false),  // u2 → label-2 side
      (12L, Array(1f, 1f, 1f, 0.01f), 0, false),  // u4 decoy near u1
      (20L, Array(-1f, 1f, 0f, 0f), 0, false))    // isolate: own bucket
      .toDF("vec_id", "embedding", "label", "seed")
    def run(k: Int) = Similarity.labelPropagate(rows, col("vec_id"),
        col("embedding"), col("label"), col("seed"), bits = 2, k = k)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSeq.sortBy(_._1)
    // k=3: u1 sees s1,s2,s4 → label 1 by 2/3; u2 sees s3,s4,s2 → label 2 by
    // 2/3; the decoy u4 is u1's nearest neighbor but casts no vote
    assert(run(3) === Seq((10L, 1, 2L, 3L), (11L, 2, 2L, 3L), (12L, 1, 2L, 3L)))
    // k=4: all four seeds vote on u1 → 2/2 tie → smaller label wins
    val k4 = run(4)
    assert(k4.find(_._1 == 10L).get === ((10L, 1, 2L, 4L)))
    // the isolate (20) and the seeds (1-4) never appear
    assert(k4.map(_._1).toSet === Set(10L, 11L, 12L))
  }

  // ---- Gopher document-quality gate (q225) ------------------------------

  test("gopherQualityOk: each rule flips the gate independently; bullet and " +
      "ellipsis line rules fire on planted line structure") {
    import spark.implicits._
    val good = "the quick brown fox jumps over a lazy dog and runs to the " +
      "hills in the morning light with great speed and then rests a while"
    val rows = Seq(
      (good, true),
      ("short words only", false),                       // word-count floor
      (good + " ####################", false),           // '#' symbol ratio
      ((1 to 30).mkString(" "), false),                  // alpha + stop rules
      // 10 lines, 10 bullet-started → fraction 1.0 > 0.9
      ((1 to 10).map(_ => "- " + good).mkString("\n"), false),
      // 10 lines, 4 ellipsis-ended → 0.4 > 0.3
      (((1 to 4).map(_ => good + " ...") ++ (1 to 6).map(_ => good))
        .mkString("\n"), false))
      .toDF("text", "want")
    rows.select(
        TextAnalysis.gopherQualityOk(col("text"), minWords = 10).as("ok"),
        col("want"))
      .collect().foreach(r =>
        assert(r.getBoolean(0) === r.getBoolean(1), s"row: $r"))
    // the line-rule signals themselves
    val fr = Seq(("- a\n- b\nplain", 1.0 / 3 * 2), ("x ...\ny", 0.5))
      .toDF("text", "ignore")
    val got = fr.select(
        TextAnalysis.bulletLineFraction(col("text")),
        TextAnalysis.ellipsisLineFraction(col("text")))
      .collect()
    assert(got(0).getDouble(0) === 2.0 / 3 && got(1).getDouble(1) === 0.5)
  }

  // ---- count-min sketch (q203) ------------------------------------------

  test("count-min sketch: exact on collision-free widths, saturates to N at " +
      "width 1, shard sketches merge into the corpus sketch") {
    import spark.implicits._
    val occ = Seq("a", "a", "a", "b", "b", "c").toDF("w")
    def est(sk: org.apache.spark.sql.DataFrame, width: Int) =
      Profiling.cmsEstimate(sk, Seq("a", "b", "c", "x").toDF("w"), col("w"),
          depth = 3, width = width)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val wide = Profiling.cmsBuild(occ, col("w"), depth = 3, width = 1024)
    assert(est(wide, 1024) === Map("a" -> 3L, "b" -> 2L, "c" -> 1L, "x" -> 0L))
    // width 1: every key collides into the single cell → every estimate = N
    val narrow = Profiling.cmsBuild(occ, col("w"), depth = 3, width = 1)
    assert(est(narrow, 1) === Map("a" -> 6L, "b" -> 6L, "c" -> 6L, "x" -> 6L))
    // mergeability: union of shard sketches re-summed ≡ corpus sketch
    val s1 = Profiling.cmsBuild(occ.limit(3), col("w"), 3, 1024)
    val s2 = Profiling.cmsBuild(occ.offset(3), col("w"), 3, 1024)
    val merged = s1.union(s2).groupBy("row", "cell")
      .agg(sum("cnt").as("cnt"))
    assert(est(merged, 1024) === est(wide, 1024))
  }

  // ---- KMV distinct sketch (q209) ---------------------------------------

  test("kmvDistinct: exact below k, estimate within the standard-error band " +
      "above k, duplicates never inflate, layout-independent") {
    import spark.implicits._
    val small = (0 until 10).flatMap(i => Seq(s"v$i", s"v$i")).toDF("x")
    val sm = Profiling.kmvDistinct(small, col("x"), k = 64).collect().head
    // 10 distinct values, each duplicated: sketch is exact
    assert(sm.getLong(0) === 10L && sm.getDouble(1) === 10.0)
    val big = (0 until 20000).map(i => s"item$i").toDF("x")
    val bg = Profiling.kmvDistinct(big, col("x"), k = 256).collect().head
    assert(bg.getLong(0) === 256L)
    val est = bg.getDouble(1)
    // 3σ at k=256 ≈ 19 %
    assert(math.abs(est - 20000.0) / 20000.0 < 0.2, s"est=$est")
    // determinism across partitionings (heap merge ≡ single-task k-min)
    val re = Profiling.kmvDistinct(big.repartition(13), col("x"), k = 256)
      .collect().head
    assert(re.getDouble(1) === est)
  }

  // ---- T5 span corruption (q201) ----------------------------------------

  test("spanCorruptionStats: island accounting invariants, degenerate rates, " +
      "layout independence") {
    import spark.implicits._
    val docs = (0L until 40L)
      .map(i => (i, (0 until (5 + (i % 17).toInt)).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    def stats(rate: Double, len: Int, df: org.apache.spark.sql.DataFrame = docs) =
      Chunking.spanCorruptionStats(df, col("doc_id"), col("text"),
          spanLen = len, startRate = rate)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          r.getInt(3), r.getLong(4), r.getInt(5), r.getInt(6))).toSeq.sorted
    val base = stats(0.3, 3)
    base.foreach { case (id, n, spans, masked, posSum, inLen, tgtLen) =>
      // an island has ≥ 1 slot; merged islands may exceed spanLen, but the
      // mask can never outgrow the document
      assert(masked >= spans && masked <= n, s"doc $id")
      assert(inLen === n - masked + spans && tgtLen === masked + spans)
      // position checksum bounded by the full-mask sum
      assert(posSum <= n.toLong * (n + 1) / 2)
    }
    // layout independence: identical output from a repartitioned input
    assert(stats(0.3, 3, docs.repartition(7)) === base)
    // spanLen=1: the mask IS the start set (islands still merge adjacent
    // starts into one sentinel, so spans ≤ masked)
    val thr = math.round(0.3 * Sampling.Buckets)
    val startCounts = docs.select(col("doc_id"),
        size(filter(sequence(lit(1), size(split(col("text"), " "))), i =>
          Sampling.hashBucket(concat(col("doc_id").cast("string"), lit(":"),
            i.cast("string")), 13) < thr)).as("ns"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    stats(0.3, 1).foreach { case (id, _, spans, masked, _, _, _) =>
      assert(masked === startCounts(id), s"doc $id")
      assert(spans <= masked)
    }
    // startRate=1: every slot starts a span → one island covering the doc
    stats(1.0, 3).foreach { case (_, n, spans, masked, posSum, _, _) =>
      assert(spans === 1 && masked === n &&
        posSum === n.toLong * (n + 1) / 2)
    }
  }

  // ---- Gopher line repetition (q200) ------------------------------------

  test("dupLineFraction / dupLineCharFraction: exact fractions, separator-free " +
      "text scores 0, all-empty-lines text guards the 0/0") {
    import spark.implicits._
    val rows = Seq(
      // 4 lines, "ab" repeated once → line frac 1/4; chars 2+1+2+3=8, dup 2 → 1/4
      ("ab\nc\nab\nxyz", 0.25, 0.25),
      // one long line repeated among short ones: line frac 1/4, char frac 6/14
      ("abcdef\nx\nabcdef\ny", 0.25, 6.0 / 14.0),
      ("no newline here", 0.0, 0.0),
      ("\n\n", 0.6666666666666666, 0.0), // 3 empty lines: 2 dups, zero chars
      ("", 0.0, 0.0))
      .toDF("text", "wantLine", "wantChar")
    rows.select(
        TextAnalysis.dupLineFraction(col("text")).as("lf"),
        TextAnalysis.dupLineCharFraction(col("text")).as("cf"),
        col("wantLine"), col("wantChar"))
      .collect().foreach { r =>
        assert(r.getDouble(0) === r.getDouble(2), s"line frac: $r")
        assert(r.getDouble(1) === r.getDouble(3), s"char frac: $r")
      }
    // gate: heavy repetition fails, clean text passes
    val gate = Seq("para one\npara one\npara one\nunique", "a\nb\nc")
      .toDF("text")
      .select(TextAnalysis.gopherLineRepetitionOk(col("text")))
      .collect().map(_.getBoolean(0)).toSeq
    assert(gate === Seq(false, true))
  }

  // ---- deterministic training shuffle (q199) ----------------------------

  test("trainingShards: positions dense per shard, invariant under " +
      "repartitioning, epoch seed reshuffles") {
    import spark.implicits._
    val ids = (0L until 97L).toDF("id")
    def runOn(df: org.apache.spark.sql.DataFrame, seed: Int) =
      Sampling.trainingShards(df, col("id"), nShards = 4, seed = seed)
        .select("id", "shard", "pos").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq.sorted
    val base = runOn(ids, seed = 1)
    // total order: every row assigned, positions dense 0..n-1 within shard
    assert(base.length === 97)
    base.groupBy(_._2).foreach { case (sh, rows) =>
      assert(rows.map(_._3).sorted === (0 until rows.length),
        s"shard $sh positions not dense")
    }
    // cluster-layout independence: same assignment after a repartition
    assert(runOn(ids.repartition(7), seed = 1) === base)
    // epoch reshuffle: a different seed produces a different order
    assert(runOn(ids, seed = 2) !== base)
  }

  test("marginBitextPairs: cross-side pairs only, ratio margin replays from " +
      "the emitted cosines") {
    import spark.implicits._
    // six vectors in one (+,+) bucket, alternating sides
    val rows = (0 until 6).map { i =>
      (i.toLong, Array(1f, 1f, 0.2f * i - 0.5f, 1f - 0.15f * i),
        if (i % 2 == 0) "A" else "B")
    }
    val df = rows.toDF("vec_id", "embedding", "side")
    val got = Similarity.marginBitextPairs(df, col("vec_id"),
        col("embedding"), col("side"), bits = 2, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    val sideOf = rows.map(r => r._1 -> r._3).toMap
    assert(got.nonEmpty)
    got.foreach { case (i, j, _, _) =>
      assert(sideOf(i) !== sideOf(j), s"same-side pair ($i,$j) emitted")
    }
    // replay the ratio margin from the emitted pair cosines themselves
    val sym = got.flatMap { case (i, j, c, _) => Seq((i, j, c), (j, i, c)) }
    val nnavg = sym.groupBy(_._1).map { case (v, es) =>
      val top = es.sortBy(e => (-e._3, e._2)).take(2).map(_._3)
      v -> top.sum / top.length
    }
    got.foreach { case (i, j, c, m) =>
      val want = BigDecimal(c / ((nnavg(i) + nnavg(j)) / 2))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(m - want) < 1e-9, s"pair ($i,$j): $m vs $want")
    }
  }

  test("pagerank: hand-computed star graph, integer grid, two iterations") {
    import spark.implicits._
    // a,b,c → h and h → a; deg 1 everywhere; scale 1e6, damp 85
    val edges = Seq((1L, 99L), (2L, 99L), (3L, 99L), (99L, 1L)).toDF("i", "j")
    def prAt(iters: Int) = Similarity.pagerank(edges, iters)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // it1: h ← 3·1e6 → 150000 + 2550000; a ← 1e6 → 1e6; b,c base only
    assert(prAt(1) === Map(1L -> 1000000L, 2L -> 150000L, 3L -> 150000L,
      99L -> 2700000L))
    // it2: h ← (1e6 + 150000 + 150000) = 1.3e6 → 150000 + 1105000;
    //      a ← 2700000 → 150000 + 2295000
    assert(prAt(2) === Map(1L -> 2445000L, 2L -> 150000L, 3L -> 150000L,
      99L -> 1255000L))
  }

  test("pagerank reliable-checkpoint mode: same scores, files under the " +
    "given dir, the context's checkpoint dir left as it was") {
    import spark.implicits._
    val sc = spark.sparkContext
    val edges = Seq((1L, 99L), (2L, 99L), (3L, 99L), (99L, 1L), (1L, 2L))
      .toDF("i", "j")
    def scores(dir: Option[String]) =
      Similarity.pagerank(edges, 3, checkpointDir = dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val local = scores(None)
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    def files(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(files).sum else 1
    // no context dir before the call: none after it
    org.apache.spark.sql.GraftColumnBridge.restoreCheckpointDir(sc, None)
    val dir1 = tmp("graft-pr-reliable")
    assert(scores(Some(dir1)) === local, "both modes must agree")
    assert(sc.getCheckpointDir.isEmpty, sc.getCheckpointDir)
    assert(files(new java.io.File(dir1)) > 0, "no checkpoint files written")
    // a context dir set beforehand survives the call
    val prevDir = tmp("graft-pr-prev")
    sc.setCheckpointDir(prevDir)
    val before = sc.getCheckpointDir
    val dir2 = tmp("graft-pr-reliable")
    assert(scores(Some(dir2)) === local)
    assert(sc.getCheckpointDir === before)
    assert(files(new java.io.File(dir2)) > 0, "no checkpoint files written")
    assert(files(new java.io.File(prevDir)) === 0,
      "checkpoint files leaked into the context's dir")
  }

  test("knnConfusion: well-separated label clusters land on the diagonal") {
    import spark.implicits._
    // two tight clusters in one (+,+) bucket, 3 vectors each
    val rows = (0 until 3).map(i =>
        (i.toLong, Array(1f, 1f, 1f, 0.01f * i), 7)) ++
      (3 until 6).map(i =>
        (i.toLong, Array(1f, 1f, -1f, 0.01f * i), 9))
    val got = Similarity.knnConfusion(rows.toDF("vec_id", "embedding", "label"),
        col("vec_id"), col("embedding"), col("label"), bits = 2, k = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === Set((7, 7, 3L), (9, 9, 3L)))
  }
}
