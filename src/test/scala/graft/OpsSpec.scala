package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._

/** Specs for the LLM-data-pipeline operators (dedup, similarity, text,
  * multimodal) on sf0.001. */
class OpsSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val embs = spark.read.parquet(s"$sf/embeddings.parquet")

  test("shingles produce n-grams in order") {
    import spark.implicits._
    val got = Seq("a b c d").toDF("t")
      .select(Dedup.shingles(col("t"), 3).as("s")).head.getSeq[String](0)
    assert(got === Seq("a b c", "b c d"))
  }

  test("native word_shingles ≡ composable formulation (corpus + edges)") {
    import spark.implicits._
    // edge cases the corpus won't cover: empty tokens from doubled/leading/
    // trailing spaces, texts shorter than n, exactly n, duplicate shingles
    val edges = Seq("", " ", "a", "a b", "a b c", "a  b c ", " a b c",
      "x y x y x y x y", "a b c a b c d").toDF("text")
    for ((df, n) <- Seq((edges, 1), (edges, 2), (edges, 3),
        (docs.select("text"), 3), (docs.select("text"), 5))) {
      val diff = df.select(
          Dedup.shingles(col("text"), n).as("fast"),
          Dedup.shinglesComposable(col("text"), n).as("slow"))
        .filter(not(col("fast") <=> col("slow")))
      assert(diff.isEmpty, s"n=$n mismatch: ${diff.head(3).mkString("; ")}")
    }
  }

  test("jaccard pairs are symmetric-free (i<j), bounded in [0,1]") {
    val pairs = Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 3, 0.0)
      .limit(1000).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      val j = r.getDouble(2)
      assert(j >= 0.0 && j <= 1.0)
    }
  }

  test("minhash sketch aggregate is bit-equal to conditional-min signatures") {
    val viaMins = Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 3, 16)
      .orderBy("doc").collect()
    val viaSketch = Dedup.minhashSignaturesSketch(docs, col("doc_id"), col("text"), 3, 16)
      .orderBy("doc").collect()
    assert(viaSketch.map(_.toSeq).toSeq === viaMins.map(_.toSeq).toSeq)
  }

  test("minhash LSH candidates superset high-jaccard pairs") {
    val truth = Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 3, 0.9)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cands = Dedup.lshCandidates(
        Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 3, 16), 16, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.subsetOf(cands), s"missing: ${truth -- cands}")
  }

  test("dup clusters equal union-find components of the pair graph") {
    val pairs = Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 3, 0.9)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // reference: plain union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (i, j) =>
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    val want = parent.keys.map(n => n -> find(n)).toMap
    val got = Dedup.dupClusters(
        Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 3, 0.9))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("dupClusters releases every intermediate checkpoint (only the result persists)") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("i", "j")
    val out = Dedup.dupClusters(pairs)
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // iteration hygiene: edges + every superseded round were released
    // inside the call; only the result's own waist remains, and the
    // consumer's one release frees it
    def held = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(held.size === 1, s"checkpoint RDDs held after the call: $held")
    Waist.release(out)
    assert(held.isEmpty, s"leaked checkpoint RDDs: $held")
  }

  test("scrub: redaction and normalization edge cases") {
    import spark.implicits._
    val cases = Seq(
      // email at start, mixed case, trailing punctuation kept
      ("User.Name+tag@EXAMPLE.co.uk wrote this", "<email> wrote this"),
      // two emails in one text
      ("a@b.io and c@d.org", "<email> and <email>"),
      // phone with dots and with spaces; digits elsewhere untouched
      ("call 555.123.4567 or 555 123 4567 in 2024", "call <phone> or <phone> in 2024"),
      // 2-2-4 digit shapes must NOT match the 3-3-4 pattern
      ("ref 55-12-4567 stays", "ref 55-12-4567 stays"),
      // whitespace runs (tab, newline, vertical tab ) collapse; trim
      ("  A\tB\nCD  ", "a b c d"),
      // plain text only lowercases
      ("Hello World", "hello world"))
    val got = cases.map(_._1).toDF("text")
      .select(graft.ops.TextAnalysis.scrub(col("text")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(got === cases.map(_._2))
    // null propagates (drop-don't-invent)
    val n = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "text")
      .select(graft.ops.TextAnalysis.scrub(col("text")).as("c"))
      .collect()(0)
    assert(n.isNullAt(0))
  }

  test("dedupBestPerCluster keeps the highest-quality member per cluster, singletons untouched") {
    import spark.implicits._
    // clusters {1,2,3} and {10,11}; 20 is a singleton (appears in no pair)
    val rows = Seq((1L, 5.0), (2L, 9.0), (3L, 7.0), (10L, 4.0), (11L, 4.0),
      (20L, 1.0)).toDF("id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("i", "j")
    val got = graft.ops.Dedup.dedupBestPerCluster(rows, col("id"), pairs, col("q"))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    // 2 wins {1,2,3} on quality; 10 wins {10,11} on the id tie-break;
    // 20 survives without ever entering the window
    assert(got === Seq(2L, 10L, 20L))
  }

  test("bloom anti-join pre-filter is bit-identical to the plain anti join") {
    import spark.implicits._
    val corpus = (0 until 200).map(i => s"doc-$i").toDF("k")
    val incoming = (150 until 400).map(i => (i.toLong, s"doc-$i")).toDF("id", "k")
    val plain = incoming.join(corpus.select(col("k").as("__ck")),
        col("k") === col("__ck"), "left_anti")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    // healthy fpp AND a deliberately undersized filter (high fpp → many
    // false positives forced through the verify join): equality must hold
    // in both regimes because the verify join kills every false positive
    for ((items, fpp) <- Seq((1000L, 0.01), (5L, 0.5))) {
      val got = graft.ops.Dedup.antiJoinWithBloom(incoming, col("k"),
          corpus, col("k"), expectedItems = items, fpp = fpp)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got === plain, s"items=$items fpp=$fpp")
    }
    assert(plain === (200L until 400L))
    // edge cases: an EMPTY corpus keeps everything (bloom proves all rows
    // absent); a null incoming key never matches, exactly like the anti join
    val empty = corpus.filter(lit(false))
    val keptAll = graft.ops.Dedup.antiJoinWithBloom(incoming, col("k"),
        empty, col("k"), expectedItems = 1)
      .count()
    assert(keptAll === incoming.count())
    val withNull = incoming.union(Seq((999L, null.asInstanceOf[String])).toDF("id", "k"))
    val gotNull = graft.ops.Dedup.antiJoinWithBloom(withNull, col("k"),
        corpus, col("k"), expectedItems = 1000)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(gotNull === ((200L until 400L) :+ 999L))
  }

  test("native bloom probe expression is bit-equal to the UDF it replaced, " +
      "including the NULL→false contract") {
    import spark.implicits._
    val corpus = (0 until 200).map(i => s"doc-$i").toDF("k")
    val bf = corpus.stat.bloomFilter("k", 1000L, 0.01)
    val bc = spark.sparkContext.broadcast(bf)
    // probe set straddles members, non-members, and NULL
    val probes = ((0 until 400 by 7).map(i => (i.toLong, s"doc-$i")) :+
      (999L, null.asInstanceOf[String])).toDF("id", "k")
    val udfProbe = udf((k: String) => k != null && bc.value.mightContainString(k))
    val native = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.BloomMightContainKey(
        org.apache.spark.sql.GraftColumnBridge.expression(col("k")), bc))
    val rows = probes.select(col("id"), udfProbe(col("k")).as("u"), native.as("n"))
      .collect()
    rows.foreach { r =>
      assert(!r.isNullAt(1) && !r.isNullAt(2), s"probe must be non-nullable: $r")
      assert(r.getBoolean(1) === r.getBoolean(2),
        s"UDF ≠ native expression on id=${r.getLong(0)}")
    }
    // every true member probes true (no false negatives through the
    // bytes-vs-String hash path: putString(s) ≡ putBinary(utf8(s)))
    val members = probes.filter(col("id") < 200 && col("k").isNotNull)
      .select(native.as("n")).collect().map(_.getBoolean(0))
    assert(members.forall(identity), "a member probed false — hash path broken")
  }

  test("dupClusters reliable-checkpoint mode: identical clusters, checkpoint files on disk") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (20L, 21L), (21L, 22L)).toDF("i", "j")
    val local = Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-reliable").toString
    // a pre-existing context-level checkpoint dir must survive the call —
    // dupClusters sets its own dir only for the duration (all its
    // checkpoints are eager) and restores the previous one on exit
    val prevDir = java.nio.file.Files.createTempDirectory("graft-cc-prev").toString
    spark.sparkContext.setCheckpointDir(prevDir)
    // reliable mode: every round persists to the checkpoint dir, so lineage
    // survives executor loss (localCheckpoint blocks die with the executor)
    val reliable = Dedup.dupClusters(pairs, checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable === local, "both fault-tolerance modes must agree")
    assert(spark.sparkContext.getCheckpointDir.exists(_.contains(
        new java.io.File(prevDir).getName)),
      "previous checkpoint dir must be restored after dupClusters")
    // the mode actually engaged: checkpoint data landed under the dir
    def count(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(count).sum else 1
    assert(count(new java.io.File(dir)) > 0, "no reliable checkpoint files written")
  }

  test("ngramOverlap: self-benchmark is fully contaminated, disjoint corpus is clean, " +
    "broadcast and shuffle paths agree") {
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val incoming = docs.filter(col("doc_id") % 10 =!= 0)
    // every doc overlaps 100% with a benchmark containing itself
    val self = Dedup.ngramOverlap(docs, col("doc_id"), col("text"),
      docs, col("text"), n = 3, threshold = 0.5)
    assert(self.filter(!col("contaminated") || col("overlap") =!= 1.0).count() === 0)
    // a benchmark sharing no vocabulary yields overlap 0 everywhere
    import spark.implicits._
    val alien = Seq("zzq qqz zqq zzz qqq").toDF("text")
    val clean = Dedup.ngramOverlap(docs, col("doc_id"), col("text"),
      alien, col("text"), n = 3, threshold = 0.5)
    assert(clean.filter(col("contaminated") || col("overlap") =!= 0.0).count() === 0)
    // the broadcast hint must not change a single row
    def rows(b: Boolean) = Dedup.ngramOverlap(incoming, col("doc_id"),
        col("text"), bench, col("text"), n = 3, threshold = 0.5,
        broadcastBench = b)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
      .sortBy(_._1).toSeq
    assert(rows(true) === rows(false))
  }

  test("histogramEquiDepth: exact mode is ntile arithmetic; approx mode within sketch bound") {
    val df = spark.range(1, 1001).toDF("v")
    val exact = Profiling.histogramEquiDepth(df, col("v"), 8, approx = false)
      .collect()
    assert(exact.map(_.getLong(1)).sum === 1000L)
    assert(exact.map(_.getLong(1)).toSet === Set(125L), "1000 rows / 8 bins = 125 each")
    // bins tile the value range: next lo is the successor of previous hi
    val his = exact.map(_.getDouble(3)); val los = exact.map(_.getDouble(2))
    assert(los.head === 1.0 && his.last === 1000.0)
    (1 until 8).foreach(i => assert(los(i) === his(i - 1) + 1.0))
    // accuracy > n makes the GK sketch rank-exact → every bin within ±1
    val approx = Profiling.histogramEquiDepth(df, col("v"), 8,
      approx = true, accuracy = 10000).collect()
    assert(approx.map(_.getLong(1)).sum === 1000L)
    assert(approx.forall(r => math.abs(r.getLong(1) - 125L) <= 1),
      s"approx bins ${approx.map(_.getLong(1)).mkString(",")} not within ±1 of 125")
    // empty input: no bins, no crash (percentile_approx returns null)
    assert(Profiling.histogramEquiDepth(df.filter(col("v") < 0), col("v"), 8)
      .count() === 0)
  }

  test("jaccard maxDf cap: identical above true max df, prunes a planted stop-shingle") {
    import spark.implicits._
    // 30 docs all share one boilerplate shingle ("common stop shingle",
    // df=30); docs 0 and 1 additionally share their entire unique tail
    val mk = (i: Int, tail: String) => (i.toLong, s"common stop shingle $tail")
    val rows = mk(0, "w0a w0b w0c w0d") +: mk(1, "w0a w0b w0c w0d extra") +:
      (2 until 30).map(i => mk(i, s"w${i}a w${i}b w${i}c w${i}d"))
    val docs2 = rows.toDF("doc_id", "text")
    def pairs(cap: Long) =
      Dedup.jaccardPairs(docs2, col("doc_id"), col("text"), 3, 0.0, maxDf = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = pairs(Long.MaxValue)
    // property: any cap at or above the true max df changes nothing
    assert(pairs(30) === uncapped)
    // all 30*29/2 pairs share the stop shingle → quadratic candidate set
    assert(uncapped.size === 30 * 29 / 2)
    // cap below the stop shingle's df: only genuinely similar docs survive
    // (bounded join fan-out); the (0,1) near-dup pair is kept intact
    val capped = pairs(5)
    assert(capped.subsetOf(uncapped))
    assert(capped.size < 5, s"capped=${capped.size}")
    assert(capped.exists { case (i, j, jac) => i == 0 && j == 1 && jac > 0.5 })
  }

  test("bucketedPairsCapped splits a planted fat bucket, subset of uncapped") {
    import spark.implicits._
    // 64 vectors, all positive in the first 4 dims → ONE fat sign-bucket at
    // bits=4; dims 5..12 get id-dependent signs so extraBits=8 can split it
    val fat = (0 until 64).map { i =>
      val v = Array.tabulate(16) { d =>
        if (d < 4) 1.0f
        else if (d < 12) (if (((i >> (d - 4)) & 1) == 1) 1.0f else -1.0f)
        else 0.1f * ((i * 7 + d) % 5 - 2)
      }
      (i.toLong, v)
    }
    // plus a SMALL bucket (first dim negative, size 3 ≤ cap): must survive
    val slim = (100 until 103).map(i =>
      (i.toLong, Array.tabulate(16)(d => if (d == 0) -1.0f else 1.0f)))
    val embs2 = (fat ++ slim).toDF("vec_id", "embedding")
    def pset(d: org.apache.spark.sql.DataFrame) =
      d.select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pset(Similarity.bucketedPairs(embs2, col("vec_id"),
      col("embedding"), bits = 4))
    val capped = pset(Similarity.bucketedPairsCapped(embs2, col("vec_id"),
      col("embedding"), bits = 4, maxBucket = 10, extraBits = 8))
    assert(uncapped.size === 64 * 63 / 2 + 3) // the fat bucket IS quadratic
    assert(capped.subsetOf(uncapped))
    // the 8 refinement bits are exactly the 8 id bits → every fat-bucket
    // vector lands alone; the quadratic term is gone, the slim bucket intact
    assert(capped === Set((100L, 101L), (100L, 102L), (101L, 102L)),
      s"capped=$capped")
  }

  test("simhash hamming distance separates near-dups from random pairs") {
    val nearDups = Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 3, 0.95)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1)))
    val sh = Dedup.simhash(docs, col("doc_id"), col("text"), 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh.size === docs.count())
    def ham(p: (Long, Long)) = java.lang.Long.bitCount(sh(p._1) ^ sh(p._2))
    val dupAvg = nearDups.map(ham).sum.toDouble / math.max(nearDups.length, 1)
    val ids = sh.keys.toArray.sorted
    val randomPairs = ids.take(60).flatMap(i => ids.takeRight(60).map(j => (i, j)))
      .filter(p => p._1 < p._2)
    val rndAvg = randomPairs.map(ham).sum.toDouble / randomPairs.length
    // near-dups cluster tightly in hamming space; random pairs sit near bits/2
    assert(nearDups.isEmpty || dupAvg <= 3.0, s"dupAvg=$dupAvg")
    assert(dupAvg < rndAvg / 2, s"dupAvg=$dupAvg rndAvg=$rndAvg")
  }

  test("dedupExact keeps exactly one row per key, deterministically") {
    val deduped = Dedup.dedupExact(docs, TextAnalysis.fingerprint(col("text")),
      col("doc_id"))
    assert(deduped.count() ===
      docs.select(TextAnalysis.fingerprint(col("text"))).distinct().count())
  }

  test("cosine is 1 for identical vectors, symmetric bound") {
    val self = embs.select(
      Similarity.cosine(Similarity.asDouble(col("embedding")),
        Similarity.asDouble(col("embedding"))).as("c"))
      .agg(min("c"), max("c")).head
    assert(math.abs(self.getDouble(0) - 1.0) < 1e-9)
    assert(math.abs(self.getDouble(1) - 1.0) < 1e-9)
  }

  test("int8 quantization: per-element error ≤ scale/2, zero-vector safe, " +
    "serving recall near-lossless") {
    import spark.implicits._
    val codes = Similarity.quantizeInt8(embs, col("embedding"))
      .select(col("vec_id"), col("embedding"), col("qscale"),
        Similarity.dequant(col("qvec"), col("qscale")).as("deq"))
    // round-half-up at scale granularity: |x − q·s| ≤ s/2 (+ fp slack)
    val worst = codes.select(max(expr(
      "aggregate(zip_with(embedding, deq, (a, b) -> abs(a - b) / qscale), " +
        "0D, (acc, e) -> greatest(acc, e))"))).head.getDouble(0)
    assert(worst <= 0.5 + 1e-6, s"worst normalized error $worst exceeds half-ulp")
    // all-zero vector: scale 0, codes 0, no division blowup
    val z = Similarity.quantizeInt8(
      Seq((1L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding"), col("embedding"))
    val zr = z.select(col("qscale"), col("qvec")).head
    assert(zr.getDouble(0) === 0.0 && zr.getSeq[Byte](1).forall(_ == 0))
    // serving recall vs fp32 truth on the corpus (q141 pins ≥ 0.9 at
    // sf0.01/sf0.1; print the margin so a regression is visible here)
    val q = embs.filter(col("vec_id") === 0)
    val base = embs.filter(col("vec_id") =!= 0)
    val approx = Similarity.quantizedBruteTopK(
      Similarity.quantizeInt8(base, col("embedding")), col("vec_id"),
      col("qvec"), col("qscale"), q, col("embedding"), k = 10)
    val truth = Similarity.bruteForceTopK(base, col("vec_id"),
      col("embedding"), q, col("embedding"), k = 10)
    val recall = Similarity.recallAtK(approx, truth, 10)
    info(s"int8 serving recall@10 = $recall")
    assert(recall >= 0.9, s"recall@10 $recall below the q141 bound")
  }

  test("brute-force top-k returns k descending rows") {
    val q = embs.filter(col("vec_id") === 0)
    val top = Similarity.bruteForceTopK(embs.filter(col("vec_id") =!= 0),
      col("vec_id"), col("embedding"), q, col("embedding"), 5).collect()
    assert(top.length === 5)
    val cs = top.map(_.getDouble(1))
    assert(cs.sameElements(cs.sorted.reverse))
  }

  test("lsh top-k is a subset of brute-force ordering within the bucket") {
    val q = embs.filter(col("vec_id") === 0)
    val lsh = Similarity.lshTopK(embs.filter(col("vec_id") =!= 0),
      col("vec_id"), col("embedding"), q, col("embedding"), 4, 10).collect()
    assert(lsh.nonEmpty)
    val cs = lsh.map(_.getDouble(1))
    assert(cs.sameElements(cs.sorted.reverse))
  }

  test("bpe-ish tokenizer splits words, numbers, and punctuation") {
    import spark.implicits._
    val got = Seq("Hello, world42! x3.14").toDF("t")
      .select(TextAnalysis.tokensBpe(col("t")).as("tk")).head.getSeq[String](0)
    assert(got === Seq("Hello", ",", "world", "42", "!", "x", "3", ".", "14"))
  }

  test("language id returns a known label") {
    val langs = docs.select(TextAnalysis.langId(col("text")).as("l"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("en", "es", "de", "fr", "und")))
  }

  test("embedding dedup removes exactly the higher-id side of near-dup pairs") {
    // no true near-dups in the corpus: low threshold manufactures pairs
    val pairs = Dedup.embeddingNearDupes(embs, col("vec_id"), col("embedding"),
      bits = 4, minCosine = 0.25).collect()
    val losers = pairs.map(_.getLong(1)).toSet
    val kept = Dedup.dedupByEmbedding(embs, col("vec_id"), col("embedding"),
      bits = 4, minCosine = 0.25)
    assert(pairs.nonEmpty)
    assert(kept.count() === embs.count() - losers.size)
    val keptIds = kept.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(losers.forall(l => !keptIds.contains(l)))
  }

  test("image dHash: anchors, scale invariance, 1-bit near-dups via generic " +
    "hamming pair mining") {
    import java.awt.image.BufferedImage
    def gray(v: Int) = (v << 16) | (v << 8) | v
    // anchors through the real codec: solid → 0, strict gradient → -1
    assert(Multimodal.dHash64(Multimodal.decodeImage(
      Multimodal.syntheticPng(7, 5, 120, 120, 120)).get) === 0L)
    assert(Multimodal.dHash64(Multimodal.decodeImage(
      Multimodal.syntheticGradientPng(16, 8, 0, 10)).get) === -1L)
    // perceptual: the same gradient at other dims and a global luma shift
    // hash IDENTICALLY (gradient structure, not pixels, is the key)
    assert(Multimodal.dHash64(Multimodal.decodeImage(
      Multimodal.syntheticGradientPng(27, 16, 5, 9)).get) === -1L)
    // a 1-cell defect (one grid row, cell 4 copies cell 3) flips exactly
    // bit y*8+3: cell3 < cell4 becomes false there, every other gradient
    // comparison is untouched
    def planted(defect: Boolean): BufferedImage = {
      val img = new BufferedImage(9, 8, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 9) {
        val v = if (defect && x == 4 && y == 0) 30 * 3 else 30 * x
        img.setRGB(x, y, gray(math.min(v, 255)))
      }
      img
    }
    val a = Multimodal.dHash64(planted(false))
    val b = Multimodal.dHash64(planted(true))
    assert(java.lang.Long.bitCount(a ^ b) === 1,
      s"defect must flip exactly bit 3: ${java.lang.Long.toBinaryString(a ^ b)}")
    // generic hamming mining finds the near-dup pair, rejects the solid
    import spark.implicits._
    val sigs = Seq((1L, a), (2L, b), (3L, 0L)).toDF("doc", "simhash")
    val pairs = Dedup.hammingPairs(sigs, bits = 64, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 1)),
      s"expected exactly the planted near-dup pair, got ${pairs.toSeq}")
  }

  test("video first-frame dHash and audio envelope hash: anchors and invariances") {
    // video: hash = frame 0's image dHash, later frames irrelevant
    val grad = Multimodal.gradientImage(16, 8, 0, 10)
    val solid = Multimodal.gradientImage(16, 8, 0, 10) // overwritten below
    for (y <- 0 until 8; x <- 0 until 16) solid.setRGB(x, y, 0x505050)
    val aviGradFirst = Multimodal.encodeAviRgb(Seq(grad, solid))
    val aviSolidFirst = Multimodal.encodeAviRgb(Seq(solid, grad))
    def vHash(payload: Array[Byte]): Long =
      Multimodal.dHash64(Multimodal.demuxAvi(payload).get.decodeFrame(0).get)
    assert(vHash(aviGradFirst) === -1L)
    assert(vHash(aviSolidFirst) === 0L)
    // audio: constant envelope → 0; strictly rising → -1; rising at other
    // length/gain → same hash (contour, not samples, is the key)
    def aHash(payload: Array[Byte]): Long =
      Multimodal.audioEnvelopeHash64(Multimodal.decodeAudio(payload).get._2)
    assert(aHash(Multimodal.syntheticEnvelopeWav(400, lo = 300, slope = 0)) === 0L)
    assert(aHash(Multimodal.syntheticEnvelopeWav(650, lo = 50, slope = 2)) === -1L)
    assert(aHash(Multimodal.syntheticEnvelopeWav(1300, lo = 10, slope = 5)) === -1L)
    // short-clip clamp: fewer samples than windows still hashes (no crash)
    Multimodal.audioEnvelopeHash64(Array[Short](5, -3, 9))
  }

  test("multimodal feature extraction preserves rows and emits fixed dims") {
    val media = Multimodal.fromText(docs.limit(20), "doc_id", "text", "source")
    val feats = Multimodal.extractFeatures(media, dim = 8).collect()
    assert(feats.length === 20)
    feats.foreach { f =>
      assert(f.features.length === 8)
      assert(f.n_bytes > 0 && f.checksum.length === 32)
    }
  }

  test("multimodal frame sampling is bounded and deterministic; resize is exact-width") {
    val media = Multimodal.fromText(docs.limit(20), "doc_id", "text", "source")
    val frames = Multimodal.sampleFrames(media, frameLen = 64, stride = 2,
      maxFrames = 3).collect()
    val byDoc = frames.groupBy(_.media_id)
    assert(byDoc.size === 20)
    byDoc.values.foreach { fs =>
      assert(fs.length <= 3) // the explosion bound
      assert(fs.map(_.frame_idx).distinct.length === fs.length)
      fs.foreach(f => assert(f.frame_bytes.length <= 64 && f.frame_bytes.nonEmpty))
    }
    val again = Multimodal.sampleFrames(media, frameLen = 64, stride = 2,
      maxFrames = 3).collect()
    assert(again.map(f => (f.media_id, f.frame_idx, f.frame_bytes.toSeq)).toSet ===
      frames.map(f => (f.media_id, f.frame_idx, f.frame_bytes.toSeq)).toSet)
    val resized = Multimodal.resize(media, targetBytes = 100).collect()
    assert(resized.length === 20 && resized.forall(_.payload.length === 100))
  }

  test("image codec: PNG decode recovers exact pixels, corrupt payloads drop") {
    import spark.implicits._
    // non-solid gradient: pins per-pixel positions, not just aggregates
    val w = 7; val h = 5
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 30) << 16) | ((y * 40) << 8) | (x + y))
    val png = Multimodal.encodePng(img)
    val back = Multimodal.decodeImage(png).get
    assert(back.getWidth === w && back.getHeight === h)
    for (y <- 0 until h; x <- 0 until w)
      assert((back.getRGB(x, y) & 0xffffff) === ((x * 30) << 16 | (y * 40) << 8 | (x + y)),
        s"pixel ($x,$y)")
    // stats are the exact per-channel sums
    val st = Multimodal.imageStats(1L, back)
    val expR = (for (y <- 0 until h; x <- 0 until w) yield x * 30).sum.toLong
    val expG = (for (y <- 0 until h; x <- 0 until w) yield y * 40).sum.toLong
    val expB = (for (y <- 0 until h; x <- 0 until w) yield x + y).sum.toLong
    assert((st.width, st.height, st.n_pixels) === ((w, h, w.toLong * h)))
    assert((st.sum_r, st.sum_g, st.sum_b) === ((expR, expG, expB)))
    // dataset path: one good PNG, one corrupt payload → corrupt row drops
    val media = Seq(
      Multimodal.MediaRecord(1L, "image", png, "s"),
      Multimodal.MediaRecord(2L, "image", Array[Byte](1, 2, 3, 4), "s"))
      .toDS()
    val stats = Multimodal.decodeImageStats(media).collect()
    assert(stats.map(_.media_id).toSeq === Seq(1L))
    assert(stats.head.sum_r === expR)
  }

  test("image resize hits exact target dims and preserves solid fill exactly") {
    import spark.implicits._
    val png = Multimodal.syntheticPng(16, 10, 200, 60, 7)
    val media = Seq(Multimodal.MediaRecord(9L, "image", png, "s")).toDS()
    val out = Multimodal.resizeImages(media, w = 4, h = 6).collect()
    assert(out.length === 1)
    val img = Multimodal.decodeImage(out.head.payload).get
    assert(img.getWidth === 4 && img.getHeight === 6)
    // solid fill is exact under any interpolation
    for (y <- 0 until 6; x <- 0 until 4)
      assert((img.getRGB(x, y) & 0xffffff) === ((200 << 16) | (60 << 8) | 7))
    // upscale too
    val up = Multimodal.resizeImage(Multimodal.decodeImage(png).get, 32, 40)
    assert(up.getWidth === 32 && up.getHeight === 40)
    assert((up.getRGB(31, 39) & 0xffffff) === ((200 << 16) | (60 << 8) | 7))
  }

  test("curate with ffdPack keeps the same chunks, whole-chunk bins within ctx") {
    import graft.ops.Curation
    val cfg = Curation.Config(ctx = 256)
    val cut = Curation.curate(docs, col("doc_id"), col("text"), col("lang"), cfg)
      .collect()
    val ffd = Curation.curate(docs, col("doc_id"), col("text"), col("lang"),
      cfg.copy(ffdPack = true)).collect()
    assert(ffd.map(_.schema.fieldNames.toSeq).headOption ===
      cut.map(_.schema.fieldNames.toSeq).headOption)
    def chunkKey(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getString(2))
    assert(ffd.map(chunkKey).toSet === cut.map(chunkKey).toSet)
    // FFD bins never exceed ctx (cut bins may straddle by design)
    ffd.groupBy(r => (r.getString(4), r.getLong(5))).foreach { case (k, rs) =>
      assert(rs.map(_.getInt(3)).sum <= cfg.ctx, s"bin $k overflows")
    }
  }

  test("extractFeatures routes decodable media to real codec features") {
    import spark.implicits._
    // solid mid-gray image → all histogram mass in one luminance bucket
    val png = Multimodal.syntheticPng(8, 8, 100, 100, 100)
    // constant-amplitude audio → every band has the same mean |amplitude|
    val pcm = new Array[Byte](400 * 2)
    for (i <- 0 until 400) { pcm(2 * i) = 0x00; pcm(2 * i + 1) = 0x10 } // 4096
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED, 8000f, 16, 1, 2, 8000f, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 400L),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val media = Seq(
      Multimodal.MediaRecord(1L, "image", png, "s"),
      Multimodal.MediaRecord(2L, "audio", bos.toByteArray, "s"),
      Multimodal.MediaRecord(3L, "image", Array[Byte](1, 2, 3), "s")) // undecodable → stub
      .toDS()
    val f = Multimodal.extractFeatures(media, dim = 8).collect()
      .map(x => x.media_id -> x.features).toMap
    // lum 100 → bucket 100*8/256 = 3, fraction 1.0
    assert(f(1L)(3) === 1.0f && f(1L).sum === 1.0f)
    // all bands equal 4096/32768 = 0.125
    f(2L).foreach(b => assert(math.abs(b - 0.125f) < 1e-6f))
    // stub fallback is the byte-fold, not all-zero
    assert(f(3L).exists(_ != 0f))
  }

  test("audio codec: WAV decode recovers exact PCM16 samples, corrupt drops") {
    import spark.implicits._
    val n = 777; val seed = 123
    val wav = Multimodal.syntheticWav(n, seed)
    val (fmt, samples) = Multimodal.decodeAudio(wav).get
    assert(fmt.getChannels === 1 && fmt.getSampleRate === 8000f)
    assert(samples.length === n)
    for (i <- 0 until n)
      assert(samples(i) === (((seed.toLong + 7L * i) % 2003L) - 1001L).toShort,
        s"sample $i")
    // dataset path: corrupt payload drops, stats are the exact sums
    val media = Seq(
      Multimodal.MediaRecord(1L, "audio", wav, "s"),
      Multimodal.MediaRecord(2L, "audio", Array[Byte](9, 9, 9), "s")).toDS()
    val stats = Multimodal.decodeAudioStats(media).collect()
    assert(stats.map(_.media_id).toSeq === Seq(1L))
    val expAbs = (0 until n).map(i => math.abs((seed.toLong + 7L * i) % 2003L - 1001L)).sum
    assert(stats.head.n_samples === n.toLong)
    assert(stats.head.sum_abs === expAbs)
    assert(stats.head.max_abs === (0 until n)
      .map(i => math.abs((seed.toLong + 7L * i) % 2003L - 1001L)).max.toInt)
  }

  test("space-saving heavy hitters: exact when capacity covers the vocab; " +
    "overestimates with honest error bounds under pressure") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    // skewed stream: term01 dominates (×800), terms 2..20 appear ×20 each
    val rows = Seq.fill(800)(("g", "term01")) ++
      (2 to 20).flatMap(i => Seq.fill(20)(("g", f"term$i%02d")))
    val df = spark.createDataset(rows).toDF("g", "tok").repartition(7)
    val truth = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    // capacity >= vocab: exact counts, zero error, exact ranking
    val exact = TextAnalysis.heavyHitters(df, col("g"), col("tok"), 32, 5).collect()
    assert(exact.map(r => (r.getString(2), r.getLong(3), r.getLong(4))).toSeq ===
      ("term01", 800L, 0L) +:
        (2 to 5).map(i => (f"term$i%02d", 20L, 0L)))
    // capacity < vocab (8 < 20, merged across 7 partitions): every reported
    // count is an overestimate whose error band contains the true count,
    // and any term with true frequency > N/capacity is guaranteed present
    val tight = TextAnalysis.heavyHitters(df, col("g"), col("tok"), 8, 8).collect()
    tight.foreach { r =>
      val (t, c, e) = (r.getString(2), r.getLong(3), r.getLong(4))
      val tru = truth.getOrElse(t, 0L)
      assert(c >= tru && c - e <= tru, s"$t: cnt=$c err=$e true=$tru")
    }
    val n = rows.size // term01: 800 > 1180/8, must be present
    assert(truth("term01") > n / 8)
    assert(tight.exists(_.getString(2) === "term01"))
    // determinism: same result regardless of physical partitioning
    val single = TextAnalysis.heavyHitters(df.coalesce(1), col("g"), col("tok"), 32, 5)
      .collect().map(_.toSeq).toSeq
    assert(single === exact.map(_.toSeq).toSeq)
  }

  test("profiling: one-pass per-column stats with exact counts and typed slots") {
    import spark.implicits._
    import graft.ops.Profiling
    val df = Seq(
      (1L, Some(2.5), Some("ab")),
      (2L, None, Some("abcd")),
      (2L, Some(7.5), None)
    ).toDF("k", "v", "s")
    val p = Profiling.profile(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p.keySet === Set("k", "v", "s"))
    val k = p("k"); val v = p("v"); val s = p("s")
    assert(k.getLong(1) === 3L && k.getLong(2) === 0L && k.getLong(3) === 2L)
    assert(k.getDouble(4) === 1.0 && k.getDouble(5) === 2.0)
    assert(v.getLong(2) === 1L && v.getLong(3) === 2L) // one null, 2 distinct
    assert(v.getDouble(4) === 2.5 && v.getDouble(5) === 7.5 && v.getDouble(6) === 5.0)
    assert(k.isNullAt(7) && v.isNullAt(7)) // length slots: strings only
    assert(s.getLong(2) === 1L && s.getInt(7) === 2 && s.getInt(8) === 4)
    assert(s.isNullAt(4) && s.isNullAt(5)) // numeric slots: null for strings
    // approx mode keeps the same shape, estimates in a sane range
    val a = Profiling.profile(df, approxDistinct = true).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(a("k") >= 1L && a("k") <= 3L)
    // column subset selection
    assert(Profiling.profile(df, cols = Seq("k")).collect().map(_.getString(0))
      .toSeq === Seq("k"))
    // empty input still reports one row per column with n_rows = 0 in BOTH
    // distinct modes (exact mode left-joins its empty distinct counts)
    for (approx <- Seq(false, true)) {
      val er = Profiling.profile(df.filter(lit(false)), approxDistinct = approx)
        .collect()
      assert(er.length === 3, s"approx=$approx")
      er.foreach(r => assert(r.getLong(1) === 0L && r.getLong(3) === 0L,
        s"approx=$approx row=$r"))
    }
  }

  test("outlierStats: NULL group is a census row; approx ≡ exact when the " +
    "sketch is in its exact regime (accuracy ≥ n, odd groups)") {
    import spark.implicits._
    import graft.ops.Profiling
    val df = Seq(
      ("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", 100.0),
      (null.asInstanceOf[String], 10.0), (null.asInstanceOf[String], 20.0),
      (null.asInstanceOf[String], 30.0)
    ).toDF("g", "x").repartition(4)
    val exact = Profiling.outlierStats(df, col("g"), col("x"), k = 3.0)
      .orderBy(asc_nulls_first("group")).collect()
    // NULL group survives the two internal joins (null-safe <=>):
    // x = (10,20,30) → median 20, ad = (10,0,10) → mad 10, no |ad| > 30
    val nr = exact.head
    assert(nr.isNullAt(0) && nr.getLong(1) === 3L &&
      nr.getDouble(2) === 20.0 && nr.getDouble(3) === 10.0 &&
      nr.getLong(4) === 0L)
    // "a": median 3, ad sorted (0,1,1,2,97) → mad 1, one point > 3·MAD
    val ar = exact(1)
    assert(ar.getLong(1) === 5L && ar.getDouble(2) === 3.0 &&
      ar.getDouble(3) === 1.0 && ar.getLong(4) === 1L)
    // GK with accuracy ≥ n has rank error < 1 ⇒ returns the exact middle
    // element; odd group sizes make the exact interpolated median an
    // element too ⇒ the modes must agree bit-for-bit, null group included
    val approx = Profiling.outlierStats(df, col("g"), col("x"), k = 3.0,
        approxMedian = true, accuracy = 1000)
      .orderBy(asc_nulls_first("group")).collect()
    assert(approx.map(_.toSeq).toSeq === exact.map(_.toSeq).toSeq)
  }

  test("incremental corpus dedup: exact + near dups drop via the corpus " +
    "signature index; unrelated and null-text rows survive") {
    import spark.implicits._
    import graft.ops.Dedup
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val corpus = Seq(
      (1L, base),
      (2L, "completely different corpus text about spark engines and scale")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, base),                       // exact duplicate of corpus doc 1
      (11L, base + " extratok"),         // near duplicate (J ≈ 58/59)
      (12L, (100 to 160).map(i => s"other$i").mkString(" ")), // unrelated
      (13L, null.asInstanceOf[String])   // null text: no signature, survives
    ).toDF("doc_id", "text")
    val idx = Dedup.minhashSignaturesRowwise(
      corpus, col("doc_id"), col("text"), n = 3, k = 16)
    val kept = Dedup.dedupAgainstCorpus(incoming, col("doc_id"), col("text"),
        idx, n = 3, k = 16, bands = 4, minEstJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(12L, 13L))
    // rerun-deterministic (same signatures, same bands, same verdicts)
    val again = Dedup.dedupAgainstCorpus(incoming, col("doc_id"), col("text"),
        idx, n = 3, k = 16, bands = 4, minEstJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again === kept)
  }

  test("video codec: AVI RIFF demux recovers exact BI_RGB frames, corrupt drops") {
    import spark.implicits._
    val colors = Seq((200, 60, 7), (0, 255, 128), (33, 44, 55))
    val avi = Multimodal.syntheticAvi(5, 3, colors) // odd width exercises DIB row padding
    val v = Multimodal.demuxAvi(avi).get
    assert(v.width === 5 && v.height === 3 && v.nFrames === 3 && v.codec === "rgb")
    for ((c, i) <- colors.zipWithIndex) {
      val img = v.decodeFrame(i).get
      assert(img.getWidth === 5 && img.getHeight === 3)
      for (y <- 0 until 3; x <- 0 until 5)
        assert((img.getRGB(x, y) & 0xffffff) === ((c._1 << 16) | (c._2 << 8) | c._3),
          s"frame $i pixel ($x,$y)")
    }
    assert(Multimodal.demuxAvi(Array[Byte](1, 2, 3, 4)) === None)
    assert(Multimodal.demuxAvi("RIFF1234AVI corrupt".getBytes("US-ASCII")) === None)
    // dataset path: exact channel sums across all frames; non-AVI drops
    val media = Seq(
      Multimodal.MediaRecord(1L, "video", avi, "s"),
      Multimodal.MediaRecord(2L, "video", Array[Byte](9, 9), "s")).toDS()
    val st = Multimodal.decodeVideoStats(media).collect()
    assert(st.map(_.media_id).toSeq === Seq(1L))
    assert(st.head.width === 5 && st.head.height === 3)
    assert(st.head.n_frames === 3 && st.head.n_pixels === 45L)
    assert(st.head.sum_r === 15L * (200 + 0 + 33))
    assert(st.head.sum_g === 15L * (60 + 255 + 44))
    assert(st.head.sum_b === 15L * (7 + 128 + 55))
  }

  test("video codec: MJPEG via ImageIO; frame sampling real, bounded, lossless") {
    import spark.implicits._
    def solid(rgb: Int) = {
      val im = new java.awt.image.BufferedImage(8, 6,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 6; x <- 0 until 8) im.setRGB(x, y, rgb)
      im
    }
    // MJPEG 00dc frames must decode exactly as ImageIO decodes the same
    // JPEG bytes (JPEG is lossy vs the source, but demux adds nothing)
    val mj = Multimodal.encodeAviMjpeg(Seq(solid(0x808080), solid(0x4060a0)))
    val vm = Multimodal.demuxAvi(mj).get
    assert(vm.codec === "mjpg" && vm.nFrames === 2 &&
      vm.width === 8 && vm.height === 6)
    val direct = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(vm.frameChunks(0)))
    val dec = vm.decodeFrame(0).get
    for (y <- 0 until 6; x <- 0 until 8)
      assert(dec.getRGB(x, y) === direct.getRGB(x, y), s"pixel ($x,$y)")
    // sampleVideoFrames: stride 2 + maxFrames 2 over 5 frames → frames 0, 2
    val avi = Multimodal.syntheticAvi(4, 4,
      Seq((10, 20, 30), (40, 50, 60), (70, 80, 90), (1, 2, 3), (4, 5, 6)))
    val media = Seq(Multimodal.MediaRecord(7L, "video", avi, "s")).toDS()
    val fs = Multimodal.sampleVideoFrames(media, stride = 2, maxFrames = 2)
      .collect().sortBy(_.frame_idx)
    assert(fs.map(_.frame_idx).toSeq === Seq(0, 2))
    // sampled frames are lossless PNGs consumable by the image stages
    val f2 = Multimodal.decodeImage(fs(1).frame_bytes).get
    assert(f2.getWidth === 4 && f2.getHeight === 4)
    assert((f2.getRGB(3, 3) & 0xffffff) === ((70 << 16) | (80 << 8) | 90))
    // extractFeatures routes video to the real frame histogram:
    // solid gray frames (lum 100 → bucket 3) put all mass in one bucket
    val feats = Multimodal.extractFeatures(
      Seq(Multimodal.MediaRecord(9L, "video",
        Multimodal.syntheticAvi(6, 6, Seq((100, 100, 100), (100, 100, 100))),
        "s")).toDS(), dim = 8).collect()
    assert(feats.head.features(3) === 1.0f)
  }

  test("native rolling_hash ≡ composable formulation (corpus + edges)") {
    import spark.implicits._
    import graft.functions.PortableHash
    // edges: empty, single char, non-ASCII codepoints (Spark ascii = Duck
    // ord = codepoint, the native loop must walk codepoints not chars),
    // whitespace runs, a long string
    val edges = Seq("", "a", " ", "中文 漢字", "éàü", "a b  c", "x" * 500,
      "mixed 中 ascii é end").toDF("text")
    for (df <- Seq(edges, docs.select("text"))) {
      val diff = df
        .select(graft.ops.TextAnalysis.rollingFingerprint(col("text")).as("fast"),
          PortableHash.rollingHashComposable(col("text")).as("slow"))
        .filter(not(col("fast") <=> col("slow")))
      assert(diff.isEmpty, s"mismatch: ${diff.head(3).mkString("; ")}")
    }
    // null text → null, like the composable fold
    val nulls = Seq[Option[String]](None).toDF("text")
      .select(graft.ops.TextAnalysis.rollingFingerprint(col("text")).as("h"))
    assert(nulls.head.isNullAt(0))
  }

  test("ffd packing: bins within ctx, nothing lost, fill ≥ non-splitting greedy") {
    import graft.ops.Chunking
    val ctx = 128
    val chunks = Chunking.chunk(docs, col("doc_id"), col("text"), 32, 32)
    val packed = Chunking.packFFD(chunks, pmod(col("doc"), lit(3)), ctx).collect()
    // nothing lost or duplicated
    assert(packed.length === chunks.count())
    // no bin over capacity; bins densely numbered from 0 per group
    val byBin = packed.groupBy(r => (r.getString(4), r.getLong(5)))
    byBin.foreach { case ((g, b), rs) =>
      assert(rs.map(_.getInt(3)).sum <= ctx, s"bin ($g,$b) overflows")
    }
    packed.groupBy(_.getString(4)).foreach { case (g, rs) =>
      val bins = rs.map(_.getLong(5)).distinct.sorted
      assert(bins === (0L until bins.length).toArray, s"group $g bins not dense")
    }
    // FFD uses no more bins than the next-fit baseline (greedy in arrival
    // order, no splitting) — the apples-to-apples whole-chunk comparison;
    // concat-and-cut "bins" split chunks across boundaries, a different op
    val ffdBins = byBin.size
    val nextFitBins = packed.groupBy(_.getString(4)).map { case (_, rs) =>
      var bins = 0; var load = ctx + 1 // force-open first bin
      rs.sortBy(r => (r.getLong(0), r.getInt(1))).foreach { r =>
        val t = r.getInt(3)
        if (load + t > ctx) { bins += 1; load = t } else load += t
      }
      bins
    }.sum
    assert(ffdBins <= nextFitBins, s"FFD $ffdBins bins > next-fit $nextFitBins")
  }

  test("minhash signature: rowwise expression ≡ sketch agg ≡ conditional-min") {
    val byAgg = Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 3, 8)
      .orderBy("doc").collect().map(_.toSeq)
    val bySketch = Dedup.minhashSignaturesSketch(docs, col("doc_id"), col("text"), 3, 8)
      .orderBy("doc").collect().map(_.toSeq)
    val byRow = Dedup.minhashSignaturesRowwise(docs, col("doc_id"), col("text"), 3, 8)
      .orderBy("doc").collect().map(_.toSeq)
    assert(byRow.nonEmpty && byRow.toSeq === byAgg.toSeq)
    assert(byRow.toSeq === bySketch.toSeq)
  }

  test("simhash band blocking finds exactly the brute-force Hamming pairs") {
    val sample = docs.filter(col("doc_id") < 100)
    val got = Dedup.simhashPairs(sample, col("doc_id"), col("text"), 16, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sigs = Dedup.simhashRowwise(sample, col("doc_id"), col("text"), 16)
    val brute = sigs.as("a").join(sigs.as("b"), col("a.doc") < col("b.doc"))
      .select(col("a.doc"), col("b.doc"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("h"))
      .filter(col("h") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === brute && brute.nonEmpty) // pigeonhole blocking is lossless
  }

  test("simhash: rowwise expression ≡ explode+groupBy aggregation") {
    val byAgg = Dedup.simhash(docs, col("doc_id"), col("text"), 16)
      .orderBy("doc").collect().map(_.toSeq)
    val byRow = Dedup.simhashRowwise(docs, col("doc_id"), col("text"), 16)
      .orderBy("doc").collect().map(_.toSeq)
    assert(byRow.nonEmpty && byRow.toSeq === byAgg.toSeq)
  }

  test("signature near-dup filter keeps one doc per signature") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"), // exact dup
      (3L, "x y z w v u t")).toDF("id", "text")
    val kept = Dedup.nearDupFilterBySignature(df, col("id"), col("text"), 3, 16)
    assert(kept.count() === 2)
    assert(kept.select("text").distinct().count() === 2)
  }

  test("containment detects quote inclusion and is properly asymmetric") {
    import spark.implicits._
    val long = (1 to 60).map(i => s"w$i").mkString(" ")
    val short = (10 to 25).map(i => s"w$i").mkString(" ") // inside `long`
    val other = (100 to 160).map(i => s"x$i").mkString(" ")
    val df = Seq((1L, long), (2L, short), (3L, other)).toDF("id", "text")
    val got = Dedup.containmentPairs(df, col("id"), col("text"), 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the short doc is fully contained in the long one; the reverse
    // direction (and the unrelated doc) must NOT qualify — and this pair is
    // invisible to symmetric Jaccard at the same threshold
    assert(got.toSeq === Seq((2L, 1L, 1.0)))
    assert(Dedup.jaccardPairs(df, col("id"), col("text"), 3, 0.9).isEmpty)
  }

  test("native word_chunks ≡ composable chunking; null text chunks to nothing") {
    import spark.implicits._
    val edges = Seq("", " ", "a", "a b", (1 to 63).map(i => s"w$i").mkString(" "),
      (1 to 64).map(i => s"w$i").mkString(" "),
      (1 to 65).map(i => s"w$i").mkString(" "),
      (1 to 200).map(i => s"w$i").mkString(" "))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (df <- Seq(edges, docs.select(col("doc_id").as("id"), col("text")))) {
      val fast = Chunking.chunk(df, col("id"), col("text"), 64, 48)
      val slow = Chunking.chunkComposable(df, col("id"), col("text"), 64, 48)
      assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty)
    }
    // null text: the native path emits NO chunk (the composable form's
    // phantom width-token chunk was a bug — least/greatest skip nulls)
    val withNull = Seq((1L, Option("a b c")), (2L, None))
      .toDF("id", "text")
    assert(Chunking.chunk(withNull, col("id"), col("text"), 64, 48)
      .filter(col("doc") === 2L).isEmpty)
  }

  test("chunking covers every token with the right overlap; packing fills bins") {
    import spark.implicits._
    val text = (1 to 100).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, text)).toDF("id", "text")
    val chunks = Chunking.chunk(df, col("id"), col("text"), width = 64,
      stride = 48).orderBy("chunk_idx").collect()
    // starts at 1, 49, 97 → lengths 64, 52, 4; overlap region re-covered
    assert(chunks.map(_.getInt(3)).toSeq === Seq(64, 52, 4))
    val texts = chunks.map(_.getString(2))
    assert(texts(0).startsWith("t1 ") && texts(1).startsWith("t49 ") &&
      texts(2) === "t97 t98 t99 t100")
    // every token appears in at least one chunk
    val covered = texts.flatMap(_.split(" ")).toSet
    assert(covered === (1 to 100).map(i => s"t$i").toSet)
    // packing: 3 chunks of 120 total tokens into ctx=64 bins, one group
    val packed = Chunking.pack(
        Chunking.chunk(df, col("id"), col("text"), 64, 48).withColumn("g", lit("a")),
        col("g"), ctx = 64)
      .orderBy("chunk_idx").collect().map(_.getAs[Long]("bin"))
    assert(packed.toSeq === Seq(0L, 1L, 1L)) // cum-before: 0, 64, 116
  }

  test("hash split is total, deterministic, and near the target weights") {
    val split = docs.select(col("doc_id"),
      Sampling.trainValTest(col("doc_id")).as("s"))
    val counts = split.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet === Set("train", "val", "test")) // total, no nulls
    val n = counts.values.sum.toDouble
    assert(counts("train") / n > 0.7 && counts("train") / n < 0.9)
    // determinism: same assignment on a re-read and under repartition
    val again = docs.repartition(7).select(col("doc_id"),
      Sampling.trainValTest(col("doc_id")).as("s"))
    assert(split.except(again).isEmpty && again.except(split).isEmpty)
  }

  test("stratified sample keeps only mapped strata at bounded rates") {
    val fracs = Map("en" -> 0.5, "de" -> 0.2)
    val kept = Sampling.stratifiedSample(docs, col("doc_id"), col("lang"), fracs)
    val byLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang.keySet.subsetOf(fracs.keySet)) // unmapped strata dropped
    val total = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // a deterministic hash sample can deviate from the rate, but never by
    // more than the binomial tail at fixture size
    assert(byLang("en").toDouble / total("en") > 0.3 &&
      byLang("en").toDouble / total("en") < 0.7)
    // sampled rows are a subset of the originals
    assert(kept.select("doc_id").except(docs.select("doc_id")).isEmpty)
  }

  test("curation pipeline: invariants hold end-to-end") {
    val packed = Curation.curate(docs, col("doc_id"), col("text"),
      col("lang"), Curation.Config(langFracs =
        Map("en" -> 1.0, "de" -> 1.0, "es" -> 1.0, "fr" -> 1.0, "zh" -> 1.0)))
    assert(packed.count() > 0)
    // splits are total over the configured names; bins start at 0 per split
    val splits = packed.select("split").distinct()
      .collect().map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "val", "test")))
    val minBins = packed.groupBy("split").agg(min("bin").as("m"))
      .collect().map(_.getLong(1))
    assert(minBins.forall(_ === 0L))
    // surviving docs have unique content fingerprints (exact dedup held)
    val docsKept = packed.select("doc").distinct()
      .join(docs, col("doc") === col("doc_id"))
    val nDocs = docsKept.count()
    assert(nDocs ===
      docsKept.select(TextAnalysis.fingerprint(col("text"))).distinct().count())
    // deterministic: a rerun reproduces the identical packing
    val again = Curation.curate(docs, col("doc_id"), col("text"),
      col("lang"), Curation.Config(langFracs =
        Map("en" -> 1.0, "de" -> 1.0, "es" -> 1.0, "fr" -> 1.0, "zh" -> 1.0)))
    assert(packed.exceptAll(again).isEmpty && again.exceptAll(packed).isEmpty)
  }

  test("semantic dedup: planted copies removed via shared cluster, min-id keep, losers are exactly the removed set") {
    import org.apache.spark.sql.DataFrame
    val base = embs.limit(50)
    // plant exact copies of three vectors at higher ids
    val planted = base.filter(col("vec_id").isin(1L, 2L, 3L))
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"), col("label"))
    val all = base.unionByName(planted)
    val survivors = Dedup.semanticDedup(all, col("vec_id"), col("embedding"),
      nCentroids = 4, minCosine = 0.9, kmeansIters = 2)
    def ids(d: DataFrame) = d.select("vec_id").collect().map(_.getLong(0)).toSet
    val kept = ids(survivors)
    // every planted copy shares its original's cluster at cos ~1 → removed;
    // min-id keep means the ORIGINAL survives
    assert(Set(1001L, 1002L, 1003L).intersect(kept).isEmpty)
    assert(Set(1L, 2L, 3L).subsetOf(kept))
    // survivors = all minus the distinct loser set (partition, no leakage)
    val losers = Dedup.semanticPairs(all, col("vec_id"), col("embedding"),
      nCentroids = 4, minCosine = 0.9, kmeansIters = 2)
      .select(col("j")).collect().map(_.getLong(0)).toSet
    assert(kept === ids(all) -- losers)
  }

  test("boilerplate line removal: planted banner removed at threshold, rare lines kept, order preserved") {
    import spark.implicits._
    val banner = "ACCEPT COOKIES"
    // banner in 6 docs (>= minDocs 5), a rare line in 2 (< 5)
    val docs = (0L until 8L).map { i =>
      val mid = if (i < 6) banner else s"unique middle $i"
      val rare = if (i < 2) "\nrare footer" else ""
      (i, s"intro $i\n$mid\noutro $i$rare")
    }.toDF("doc_id", "text")
    val out = TextAnalysis.removeBoilerplateLines(docs, col("doc_id"),
        col("text"), minDocs = 5L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    // banner gone, surviving lines keep their order
    assert(out(0L) === "intro 0\noutro 0\nrare footer")
    assert(out(5L) === "intro 5\noutro 5")
    // below-threshold lines survive everywhere
    assert(out(7L) === "intro 7\nunique middle 7\noutro 7")
    // a doc that is ALL boilerplate comes back empty, not missing
    val allBp = docs.unionByName(Seq((100L, banner)).toDF("doc_id", "text"))
    val out2 = TextAnalysis.removeBoilerplateLines(allBp, col("doc_id"),
        col("text"), minDocs = 5L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out2(100L) === "")
  }

  test("deterministic shuffle: partition-concatenated order IS the global permutation, reproducible, seed-sensitive") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id")
    val shuffled = Sampling.deterministicShuffle(docs, col("doc_id"), nPartitions = 4)
    // collect() concatenates partitions in order: with range partitioning +
    // within-partition sorts that must BE the global hash order
    val got = shuffled.collect().map(_.getLong(0)).toSeq
    val want = shuffled.orderBy(col("shuffle_ord"), col("doc_id").cast("string"))
      .collect().map(_.getLong(0)).toSeq
    assert(got === want, "partition layout must realize the global permutation")
    assert(got.sorted === docs.collect().map(_.getLong(0)).toSeq.sorted,
      "shuffle must be a permutation — no rows lost or duplicated")
    // reproducible across evaluations; different seed ⇒ different order
    val again = Sampling.deterministicShuffle(docs, col("doc_id"), 4)
      .collect().map(_.getLong(0)).toSeq
    assert(again === got)
    val other = Sampling.deterministicShuffle(docs, col("doc_id"), 4, seed = 12)
      .collect().map(_.getLong(0)).toSeq
    assert(other != got)
    assert(other.sorted === got.sorted)
  }

  test("ngram_slots is callable from SQL; removeLines is idempotent against a fixed line set") {
    graft.GraftExtensions.ensureRegistered(spark)
    val fromSql = spark.sql("SELECT ngram_slots('a b c d', 2) AS g")
      .head.getSeq[String](0).toSeq
    assert(fromSql === Seq("a b", "b c", "c d"))
    import spark.implicits._
    val docs = Seq((1L, "keep\nBANNER\nalso keep"), (2L, "BANNER\nBANNER\nx"))
      .toDF("doc_id", "text")
    val bad = Seq("BANNER").toDF("line")
    val once = TextAnalysis.removeLines(docs, col("doc_id"), col("text"), bad)
    val twice = TextAnalysis.removeLines(once, col("id"), col("text"), bad)
    assert(twice.select("id", "text").collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      === once.select("id", "text").collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq)
  }

  test("span cutting: a shared 5-gram is cut from every occurrence, unique text survives verbatim") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (1L, s"one two $shared three four"),
      (2L, s"$shared five six seven eight nine"),
      (3L, "ten eleven twelve thirteen fourteen fifteen")).toDF("doc_id", "text")
    val out = Dedup.cutRepeatedSpans(docs, col("doc_id"), col("text"), L = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out(0)._2 === "one two three four")
    assert(out(1)._2 === "five six seven eight nine")
    assert(out(2)._2 === "ten eleven twelve thirteen fourteen fifteen")
    assert(out.map(t => (t._3, t._4)).toSeq === Seq((9L, 4L), (10L, 5L), (6L, 6L)))
  }

  test("maximal spans: adjacent windows chain, disjoint runs stay split, " +
    "and the cut matches the covered union") {
    import spark.implicits._
    // d1/d2 share the run "p q r s" (three overlapping 2-gram windows →
    // one maximal span) and the isolated "u v" (one window, separated by
    // a unique token so the gap > L forces a new island)
    val docs = Seq(
      (1L, "p q r s junk1 u v w junk2"),
      (2L, "p q r s junk3 u v junk4")).toDF("doc_id", "text")
    val spans = Dedup.maximalRepeatedSpans(docs, col("doc_id"), col("text"),
        L = 2, minDocs = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(t => (t._1, t._2)).toSeq
    assert(spans === Seq(
      (1L, 0L, 3L, 4L, 3L), (1L, 5L, 6L, 2L, 1L),
      (2L, 0L, 3L, 4L, 3L), (2L, 5L, 6L, 2L, 1L)), spans.toString)
    // the cut removes exactly the merged intervals' tokens
    val cut = Dedup.cutRepeatedSpans(docs, col("doc_id"), col("text"),
        L = 2, minDocs = 2L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(cut(0)._2 === "junk1 w junk2" && cut(0)._3 === 9L && cut(0)._4 === 3L)
    assert(cut(1)._2 === "junk3 junk4" && cut(1)._3 === 8L && cut(1)._4 === 2L)
  }

  test("native ngram_slots is bit-equal to the composable lambda form") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    for (n <- Seq(2, 3, 5)) {
      val native = docs.select(col("doc_id"),
          TextAnalysis.ngramSlots(col("text"), n).as("g"))
        .collect().map(r => (r.getLong(0), r.getSeq[String](1).toSeq)).sortBy(_._1).toSeq
      val comp = docs.select(col("doc_id"),
          TextAnalysis.ngramSlotsComposable(col("text"), n).as("g"))
        .collect().map(r => (r.getLong(0), r.getSeq[String](1).toSeq)).sortBy(_._1).toSeq
      assert(native === comp, s"n=$n")
    }
    // edge rows: short text (no slots), empty string, consecutive spaces
    import spark.implicits._
    val edge = Seq((1L, "one two"), (2L, ""), (3L, "a  b c")).toDF("doc_id", "text")
    val nat = edge.select(col("doc_id"), TextAnalysis.ngramSlots(col("text"), 3).as("g"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toSeq)).sortBy(_._1).toSeq
    val cmp = edge.select(col("doc_id"), TextAnalysis.ngramSlotsComposable(col("text"), 3).as("g"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toSeq)).sortBy(_._1).toSeq
    assert(nat === cmp)
  }

  test("native pq encode is bit-equal to the composable lambda form") {
    val body = embs.filter(col("vec_id") =!= 0)
    val model = Similarity.pqTrain(body, col("vec_id"), col("embedding"), m = 16, ks = 16)
    def codes(native: Boolean) =
      Similarity.pqEncode(body.select(col("vec_id"), col("embedding")),
          col("embedding"), model, native = native)
        .select(col("vec_id"), col("codes"))
        .collect().map(r => (r.getLong(0), r.getSeq[Byte](1).toSeq)).sortBy(_._1).toSeq
    assert(codes(native = true) === codes(native = false))
    // a mis-dimensioned vector raises the typed error, not an opaque
    // ArrayIndexOutOfBounds from generated code
    import spark.implicits._
    val bad = Seq((1L, Array(1f, 2f, 3f))).toDF("vec_id", "embedding")
    val err = intercept[Exception] {
      Similarity.pqEncode(bad, col("embedding"), model, native = true)
        .collect()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: rootMessages(e.getCause))
    assert(rootMessages(err).exists(m =>
        m != null && m.contains("codebook expects 64")),
      s"want a typed dim error, got: ${err.getMessage}")
  }

  test("char entropy emits no row for an empty text") {
    import spark.implicits._
    val df = Seq((1L, "aabb"), (2L, ""), (3L, "zzzz")).toDF("doc_id", "text")
    val got = TextAnalysis.charEntropy(df, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got.map(_._1).toSeq === Seq(1L, 3L), s"empty doc must emit no row: ${got.toSeq}")
    assert(got.find(_._1 == 1L).get._3 === 1.0) // two symbols, equal counts
    assert(got.find(_._1 == 3L).get._3 === 0.0) // single repeated symbol
  }

  test("native char_entropy and ngram_top equal their exploded-agg twins " +
    "on the corpus, with zero shuffles in the native plans") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def entRows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    val entN = TextAnalysis.charEntropy(docs, col("doc_id"), col("text"))
    val entC = TextAnalysis.charEntropyComposable(docs, col("doc_id"), col("text"))
    assert(entRows(entN) === entRows(entC))
    assert(!entN.queryExecution.executedPlan.toString.contains("Exchange"),
      "native char entropy must plan with zero shuffles")
    def topRows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .sortBy(_._1).toSeq
    for (n <- Seq(2, 3)) {
      val topN = TextAnalysis.topNgramCharFraction(docs, col("doc_id"), col("text"), n)
      val topC = TextAnalysis.topNgramCharFractionComposable(docs, col("doc_id"), col("text"), n)
      assert(topRows(topN) === topRows(topC), s"n=$n")
    }
    assert(!TextAnalysis.topNgramCharFraction(docs, col("doc_id"), col("text"), 3)
        .queryExecution.executedPlan.toString.contains("Exchange"),
      "native top-ngram must plan with zero shuffles")
    // edges: short text (no slots), single repeated token, tie-break
    import spark.implicits._
    val edge = Seq((1L, "one"), (2L, "b a b a c"), (3L, "x x x x"),
      (4L, "a b a")).toDF("doc_id", "text")
    val gotEdge = topRows(TextAnalysis.topNgramCharFraction(edge, col("doc_id"), col("text"), 2))
    val wantEdge = topRows(TextAnalysis.topNgramCharFractionComposable(edge, col("doc_id"), col("text"), 2))
    assert(gotEdge === wantEdge)
    assert(gotEdge.find(_._1 == 1L).get._2 === "") // no slots → empty gram
    assert(gotEdge.find(_._1 == 2L).get._2 === "b a") // clear 2-1 winner
    assert(gotEdge.find(_._1 == 4L).get._2 === "a b") // 1-1 tie breaks low
    // SQL surface resolves
    assert(spark.sql("SELECT char_entropy('aabb') AS h").head.getDouble(0) === 1.0)
    assert(spark.sql("SELECT ngram_top('a b a b', 2).gram AS g").head.getString(0) === "a b")
  }

  test("residual IVF-PQ dominates raw encoding on clustered data at tight " +
    "candidate budgets; recall bound holds at half q147's code bytes") {
    import java.nio.file.Files
    // plant real cluster structure (boost dim `label`) — the regime the
    // IVFADC residual trick exists for; unclustered data leaves anchors
    // near the origin and residual ≈ raw (measured, documented in-code)
    val clustered = embs.select(col("vec_id"),
      zip_with(col("embedding"), sequence(lit(0), lit(63)).cast("array<float>"),
        (x, i) => when(i.cast("int") === col("label"), x + 4.0f).otherwise(x))
        .cast("array<float>").as("embedding"))
    val qids = 0L until 5L
    val base = clustered.filter(!col("vec_id").isin(qids: _*))
    // m=4 (not q156's m=8): at 500 vectors the coarser codes are what
    // makes the tight-budget sweep discriminate — m=8 saturates near 1.0
    // everywhere and the comparison measures noise
    val root = Files.createTempDirectory("graft-ivfpq-res").toString
    val model = Similarity.pqTrain(base, col("vec_id"), col("embedding"), m = 4, ks = 16)
    Similarity.ivfPqWritePartitioned(base, col("vec_id"), col("embedding"),
      nCentroids = 10, model, s"$root/raw/emb", kmeansIters = 4)
    Similarity.ivfPqWriteResidualPartitioned(base, col("vec_id"), col("embedding"),
      nCentroids = 10, m = 4, ks = 16, s"$root/res/emb", kmeansIters = 4)
    def recall(dir: String, cand: Int, qid: Long): Double = {
      val q = clustered.filter(col("vec_id") === qid).select(col("embedding"))
      val truth = Similarity.bruteForceTopK(base, col("vec_id"), col("embedding"),
        q, col("embedding"), k = 10).collect().map(_.getLong(0)).toSet
      val got = Similarity.ivfPqTopKPartitioned(spark, dir, q, col("embedding"),
        nProbe = 6, nCandidates = cand, k = 10).collect().map(_.getLong(0)).toSet
      got.intersect(truth).size / 10.0
    }
    // 5 queries × 3 tight budgets: a single query's recall at 500 vectors
    // is noisy (one lucky codebook cell flips 0.1), so the pin is the
    // aggregate — residual must win the sweep overall, never collapse
    val sweep = for (cand <- Seq(10, 25, 50); qid <- qids)
      yield (recall(s"$root/raw/emb", cand, qid), recall(s"$root/res/emb", cand, qid))
    val (rawTotal, resTotal) = (sweep.map(_._1).sum, sweep.map(_._2).sum)
    assert(resTotal > rawTotal,
      s"residual must beat raw over the sweep: res=$resTotal raw=$rawTotal")
    // the q156 contract: full candidate budget clears the 0.9 bound
    assert(recall(s"$root/res/emb", 250, 0L) >= 0.9)
  }

  test("sqrt temperature mixture: never overshoots the budget and upweights the small source") {
    import spark.implicits._
    // A dominates 100:1 in tokens; sqrt weights temper that to 10:1
    val rows = (0L until 200L).map(i => (i, "A", 50L)) ++
      (1000L until 1002L).map(i => (i, "B", 50L))
    val df = rows.toDF("doc_id", "source", "ntok")
    val total = 1100L
    val kept = Sampling.sqrtTemperatureMixture(df, col("doc_id"), col("ntok"),
      col("source"), totalBudget = total)
    val byGroup = kept.groupBy("source").agg(sum("ntok").as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byGroup.values.sum <= total, "mixture must never overshoot the total budget")
    // proportional (α=1) would give B ~1% of the budget (≈11 tokens → 0
    // whole docs); sqrt weights give B ~9% (≈100 tokens → both its docs)
    assert(byGroup.getOrElse("B", 0L) === 100L,
      s"small source must be upweighted to its full 100 tokens: $byGroup")
    assert(byGroup("A") <= total - 100L)
  }

  test("tfidf ranks stratum-exclusive tokens above corpus-wide ones") {
    import spark.implicits._
    val tiny = Seq(
      (0L, "common common rare0"),
      (1L, "common common rare1"),
      (2L, "common common rare2")).toDF("id", "text")
    val scored = TextAnalysis.tfidf(tiny, col("id"), col("text"))
    // 'common' appears in every doc => idf = ln(1) = 0
    assert(scored.filter(col("tok") === "common" && col("tfidf") =!= 0.0).isEmpty)
    val top = scored.filter(col("doc") === 0L)
      .orderBy(col("tfidf").desc, col("tok")).head()
    assert(top.getString(1) === "rare0")
  }

  test("dsir weights: target-like docs outrank the rest, planted corpus") {
    import spark.implicits._
    // target vocabulary {alpha beta gamma}; raw = 10 target-like docs +
    // 30 off-distribution docs. Every target-like doc must outweigh every
    // off-distribution doc. Slot semantics: " " tokenizes to two empty
    // tokens → 2 unigram slots + 1 bigram slot = 3 grams (the raw-span
    // convention the DuckDB twin shares).
    val raw = ((0L until 10L).map(i => (i, s"alpha beta gamma alpha beta")) ++
      (100L until 130L).map(i => (i, s"delta${i % 7} epsilon${i % 5} zeta kappa")) ++
      Seq((999L, " "))).toDF("doc_id", "text")
    val target = Seq("alpha beta gamma", "beta gamma alpha alpha")
      .toDF("text")
    val w = Sampling.dsirWeights(raw, col("doc_id"), col("text"),
        target, col("text"), nBuckets = 256)
      .select("doc_id", "n_grams", "dsir_weight_u")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val minTargetLike = (0L until 10L).map(w(_)._2).min
    val maxOff = (100L until 130L).map(w(_)._2).max
    assert(minTargetLike > maxOff,
      s"target-like docs must outweigh off-distribution: $minTargetLike <= $maxOff")
    assert(w(999L)._1 === 3L, "' ' carries 2 empty unigram slots + 1 bigram slot")
  }

  test("dsir weights are repartition-stable (exact integer sums)") {
    val target = docs.filter(col("source") === "src0")
    val a = Sampling.dsirWeights(docs, col("doc_id"), col("text"),
        target, col("text"), nBuckets = 64)
      .select("doc_id", "dsir_weight_u").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Sampling.dsirWeights(docs.repartition(7), col("doc_id"),
        col("text"), target.repartition(3), col("text"), nBuckets = 64)
      .select("doc_id", "dsir_weight_u").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b, "weights must be independent of partition layout")
  }

  test("dsir ES-weight affine map is monotone, bounded, degenerate-safe") {
    import spark.implicits._
    val df = Seq(-5000L, -1L, 0L, 3L, 9999L).toDF("wu")
    val mapped = df.select(col("wu"),
        Sampling.dsirEsWeight(col("wu"), lit(-5000L), lit(9999L), 64).as("w"))
      .orderBy("wu").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(mapped.head._2 === 1L && mapped.last._2 === 64L)
    assert(mapped.map(_._2).sorted === mapped.map(_._2).toSeq,
      "affine map must be monotone")
    // all-equal weights: hi == lo == wu → everything maps to 1, no div-by-zero
    val degen = Seq(7L, 7L, 7L).toDF("wu").select(
      Sampling.dsirEsWeight(col("wu"), lit(7L), lit(7L), 64).as("w"))
      .distinct().collect().map(_.getLong(0)).toSeq
    assert(degen === Seq(1L))
  }

  test("keep-first span cut: canonical occurrence survives, later copies cut") {
    import spark.implicits._
    val shared = "one two three four five"
    val docs = Seq(
      (1L, s"alpha $shared omega"),
      (2L, s"beta $shared gamma")).toDF("doc_id", "text")
    def run(f: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.Column,
        org.apache.spark.sql.Column, Int, Long) => org.apache.spark.sql.DataFrame) =
      f(docs, col("doc_id"), col("text"), 5, 2L).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val cutAll = run(Dedup.cutRepeatedSpans)
    assert(cutAll(1L) === "alpha omega" && cutAll(2L) === "beta gamma",
      "cut-all must remove the shared run from BOTH docs")
    val keepFirst = run(Dedup.cutRepeatedSpansKeepFirst)
    assert(keepFirst(1L) === s"alpha $shared omega",
      "the canonical (min doc id) occurrence must survive verbatim")
    assert(keepFirst(2L) === "beta gamma",
      "the later copy must still be cut")
  }

  test("klPerGroup: exactly zero on the corpus itself, ranks skew") {
    import spark.implicits._
    // one group == corpus blend: p == q per token → every micro-nat term
    // rounds from exactly 0.0, so kl_u is EXACTLY 0
    val one = Seq((1L, "a b c a"), (2L, "b c a b")).toDF("id", "text")
    val z = TextAnalysis.klPerGroup(one, lit("all"), col("text")).collect()
    assert(z.length === 1 && z.head.getAs[Long]("kl_u") === 0L)
    // A ≈ blend, B dominated by one token: KL(B) > KL(A) > 0
    val two = Seq(("A", "a b a b"), ("A", "b a c d"),
      ("B", "a a a a"), ("B", "a a a z")).toDF("g", "text")
    val m = TextAnalysis.klPerGroup(two, col("g"), col("text")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("kl_u")).toMap
    assert(m("B") > m("A") && m("A") > 0L, s"expected KL(B) > KL(A) > 0: $m")
  }

  test("dsir JVM scoring twin ≡ column path on adversarial texts") {
    import spark.implicits._
    // edge shapes the corpus can't produce: empty, whitespace runs,
    // leading/trailing separators, single token, unicode (multi-byte
    // UTF-8 must hash identically through Column md5 and JVM md5),
    // repeated grams, and an all-separator string
    val texts = Seq(
      "", " ", "  ", "a", " a", "a ", "a  b", "a b a b a b",
      "naïve café über 日本語 テスト", "emoji 🙂 mixed ascii",
      "tab\tis one token", "x y", "x y z")
    val raw = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val target = Seq("a b", "naïve café").toDF("text")
    val nBuckets = 32
    val table = Sampling.dsirScoreTable(raw, col("text"),
      target, col("text"), nBuckets)
    val batch = Sampling.dsirWeights(raw, col("doc_id"), col("text"),
        target, col("text"), nBuckets)
      .select("doc_id", "n_grams", "dsir_weight_u").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val (n, w) = Sampling.dsirScoreTextJvm(t, table, nBuckets, seed = 7)
      assert(batch(i.toLong) === ((n, w)),
        s"doc $i '$t': jvm ($n,$w) != column ${batch(i.toLong)}")
    }
    // null text: the batch path's explode-drops + left-join-coalesce
    // convention is (0, 0); the JVM twin must agree, not throw
    assert(Sampling.dsirScoreTextJvm(null, table, nBuckets, 7) === ((0L, 0L)))
  }

  test("dsirResample ≡ composable bounds→map→sample (single-pass twin)") {
    val target = docs.filter(col("source") === "src0")
    def picks(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "w_es").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = picks(Sampling.dsirResample(docs, col("doc_id"), col("text"),
      target, col("text"), col("lang"), k = 3, nBuckets = 64))
    val weighted = Sampling.dsirWeights(docs, col("doc_id"), col("text"),
      target, col("text"), nBuckets = 64)
    val b = weighted.agg(min("dsir_weight_u"), max("dsir_weight_u")).head
    val wEs = weighted.withColumn("w_es", Sampling.dsirEsWeight(
      col("dsir_weight_u"), lit(b.getLong(0)), lit(b.getLong(1)), 64))
    val slow = picks(Sampling.weightedSampleKPerGroup(wEs, col("doc_id"),
      col("w_es"), col("lang"), k = 3, seed = 11, maxWeight = 64))
    assert(fast === slow, "checkpointed single-pass must pick identical rows")
    assert(fast.nonEmpty)
  }

  test("dedupByMediaHash never pairs across kinds: a video and an audio " +
    "sharing hash -1 both survive; a same-kind twin drops") {
    import spark.implicits._
    import graft.ops.Multimodal
    // docs 1,3 = gradient-first-frame videos (both dHash -1); doc 2 =
    // rising-envelope audio (envelope hash -1). Same 64-bit value across
    // kinds — only the same-kind duplicate (doc 3) may drop.
    val media = Seq(1L, 2L, 3L).toDS().map { id =>
      if (id == 2L)
        Multimodal.MediaRecord(id, "audio",
          Multimodal.syntheticEnvelopeWav(650, lo = 50, slope = 2), "t")
      else
        Multimodal.MediaRecord(id, "video",
          Multimodal.encodeAviRgb(Seq(
            Multimodal.gradientImage(16, 8, (id % 5).toInt * 10, 10))), "t")
    }
    val hashes = Multimodal.perceptualHashes(media).collect()
      .map(h => h.media_id -> ((h.kind, h.phash))).toMap
    assert(hashes(1L) === (("video", -1L)) && hashes(2L) === (("audio", -1L))
      && hashes(3L) === (("video", -1L)))
    val docs = Seq(1L, 2L, 3L).toDF("doc_id")
    val kept = Curation.dedupByMediaHash(docs, col("doc_id"), media,
      maxHamming = 4).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L),
      "cross-kind hash collision must not pair; same-kind twin must drop")
  }

  test("hardNegativesFromIndex probes a QUANTIZED index via the " +
    "schema-detected dequant path (full probe ≡ brute id set)") {
    import spark.implicits._
    // 20 unit vectors fanned 0.1 rad apart in the (d0,d1) plane, groups
    // alternating — anchor 0's hard negatives from g1 are the nearest odd
    // ids 1,3,5 with ≥ 2% cosine margins (int8 error is ~0.4%, so the
    // quantized ranking cannot flip the set)
    val data = (0 until 20).map { i =>
      val th = i * 0.1
      val v = Array.tabulate(8)(d =>
        if (d == 0) math.cos(th).toFloat
        else if (d == 1) math.sin(th).toFloat else 0f)
      (i.toLong, v, s"g${i % 2}")
    }
    val df = data.toDF("vec_id", "embedding", "src")
    val dir = java.nio.file.Files.createTempDirectory("graft-hnq")
      .toString + "/emb"
    Similarity.ivfWritePartitioned(df, col("vec_id"), col("embedding"),
      nCentroids = 2, dir, kmeansIters = 2, quantize = true)
    val anchors = df.filter(col("vec_id") === 0)
    val got = Similarity.hardNegativesFromIndex(spark, dir,
        df, col("vec_id"), col("src"),
        anchors, col("vec_id"), col("embedding"), col("src"),
        nProbe = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got === Set((0L, 1L, 1), (0L, 3L, 2), (0L, 5L, 3)), s"got=$got")
  }

  test("bpeTrain learns the classic corpus merges; bpeTokens applies " +
    "them; ill-formed lists are rejected; empty list = codepoint split") {
    import spark.implicits._
    // Sennrich et al.'s running example: low×3 lower×2 newest×2.
    // Weighted pair counts: (l,o)=5 (o,w)=5 tie → 'l'<'o'; then (lo,w)=5;
    // then all-2 tie → smallest a then b: (e,r).
    val corpus = Seq("low low low lower lower newest newest").toDF("text")
    val merges = TextAnalysis.bpeTrain(corpus, col("text"), 3)
    assert(merges === Seq("l" -> "o", "lo" -> "w", "e" -> "r"))
    val toks = Seq("lower newest low").toDF("text")
      .select(TextAnalysis.bpeTokens(col("text"), merges).as("t"))
      .head.getSeq[String](0)
    assert(toks === Seq("low", "er", "n", "e", "w", "e", "s", "t", "low"))
    // operand "ab" exists only via the LATER merge — must be rejected
    intercept[IllegalArgumentException] {
      TextAnalysis.bpeTokens(col("text"), Seq("x" -> "ab", "a" -> "b"))
    }
    val bare = Seq("ab c.").toDF("text")
      .select(TextAnalysis.bpeTokens(col("text"), Seq.empty).as("t"))
      .head.getSeq[String](0)
    assert(bare === Seq("a", "b", "c", "."))
  }

  test("winnowing coverage guarantee: docs sharing a >= w+k-1 token run " +
    "share a print; prints ⊆ gram hashes; short docs empty") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // 8 = w+k-1
    val docs = Seq(
      (1L, s"one two three $shared four five six"),
      (2L, s"$shared red blue green yellow purple"),
      (3L, "completely different words entirely here now today maybe"),
      (4L, "a b c") // < k tokens -> no grams -> no prints
    ).toDF("doc_id", "text")
    def prints(idv: Long) = docs.filter(col("doc_id") === idv)
      .select(TextAnalysis.winnowedPrints(col("text"), 4, 5).as("p"))
      .head.getSeq[Long](0).toSet
    val (p1, p2, p3, p4) = (prints(1L), prints(2L), prints(3L), prints(4L))
    assert((p1 & p2).nonEmpty, "shared 8-token run must yield a shared print")
    assert((p1 & p3).isEmpty && (p2 & p3).isEmpty,
      "disjoint texts must not share prints (2^-60 hash collisions aside)")
    assert(p4.isEmpty, "sub-k docs have no grams and no prints")
    // prints are a subset of the doc's gram hashes, and at most |windows|
    val hashes1 = docs.filter(col("doc_id") === 1L)
      .select(transform(TextAnalysis.ngramSlots(col("text"), 4),
        g => graft.functions.PortableHash.md5Long(g, 0)).as("h"))
      .head.getSeq[Long](0).toSet
    assert(p1.subsetOf(hashes1))
  }

  test("dedupParagraphsKeepFirst: canonical survives, cross-doc and " +
    "within-doc copies drop, fully-duplicated doc comes back empty") {
    import spark.implicits._
    val docs = Seq(
      (0L, "H\nalpha\nH"),   // canonical H at (0,0); its (0,2) copy drops
      (1L, "H\nbeta"),       // cross-doc H copy drops
      (2L, "H"),             // fully duplicated -> empty text, kept 0
      (3L, "gamma\nalpha")   // alpha's canonical is (0,1) -> drops here
    ).toDF("doc_id", "text")
    val got = Dedup.dedupParagraphsKeepFirst(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(0L) === ((3L, 2L, "H\nalpha")))
    assert(got(1L) === ((2L, 1L, "beta")))
    assert(got(2L) === ((1L, 0L, "")))
    assert(got(3L) === ((2L, 1L, "gamma")))
  }

  test("derived n-gram count tables ≡ direct per-order counting " +
    "(every order, incl. short/empty docs), and scores agree exactly") {
    import spark.implicits._
    // corpus exercising every tail case: long docs, exactly-order docs,
    // shorter-than-order docs, repeated grams, an empty text
    val ref = Seq("a b c d e f g", "a b c d e", "b c d", "a", "",
      "a b c d e f g", "c d").toDF("text")
    val direct = TextAnalysis.ngramCountTables(ref, col("text"), 5, derive = false)
    val derived = TextAnalysis.ngramCountTables(ref, col("text"), 5, derive = true)
    for (m <- 1 to 5) {
      val cols = (1 to m).map(j => s"w$j") :+ "__c"
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(cols.map(col): _*).collect()
          .map(r => cols.indices.map(r.get).toVector).toSet
      assert(rows(direct(m)) === rows(derived(m)), s"order $m diverged")
    }
    // and through the full ladder on real data: identical scores
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def score(dc: Boolean) =
      TextAnalysis.stupidBackoff(docs, col("doc_id"), col("text"),
          docs, col("text"), order = 5, deriveCounts = dc)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).sortBy(_._1)
    val (a, b) = (score(false), score(true))
    assert(a.length === b.length)
    a.zip(b).foreach { case ((i1, n1, x1), (i2, n2, x2)) =>
      assert(i1 === i2 && n1 === n2 &&
        (x1 == x2 || (x1.isNaN && x2.isNaN)), s"doc $i1 diverged")
    }
  }

  test("stupidBackoff minCount pruning: singleton grams back off to the " +
    "floor; repeated grams keep their unpruned scores exactly") {
    import spark.implicits._
    // ref: "a b c d e" ONCE (every gram of order >= 2 is a singleton) and
    // "x y z w v" TWICE (every gram survives minCount=2).
    val ref = Seq((0L, "a b c d e"), (1L, "x y z w v"), (2L, "x y z w v"))
      .toDF("doc_id", "text")
    val probes = Seq(3L -> "a b c d e", 4L -> "x y z w v").toDF("doc_id", "text")
    def score(minCount: Long) =
      TextAnalysis.stupidBackoff(probes, col("doc_id"), col("text"),
          ref, col("text"), order = 5, minCount = minCount)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val lnA = math.log(0.4)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val unpruned = score(1L)
    // both docs' 5-grams are seen in ref: ln(c5/c4) = ln(1/1) or ln(2/2)
    assert(unpruned(3L) === 0.0 && unpruned(4L) === 0.0)
    val pruned = score(2L)
    // the singleton doc falls through every pruned level to the add-1
    // unigram floor: 4lnα + ln(1+1) − ln(N+V), N=15 tokens, V=10 distinct
    assert(pruned(3L) === r6(-(4 * lnA + math.log(2.0) - math.log(25.0))))
    // the repeated doc's counts are all ≥ 2 — pruning must not move it
    assert(pruned(4L) === 0.0)
  }

  test("stupidBackoff order-5 ladder: every level's exact value on a " +
    "handcrafted corpus (seen, α, α², α³, floor seen/unseen, short doc)") {
    import spark.implicits._
    // ref = one doc "a b c d e": N = 5 tokens, V = 5 distinct
    val ref = Seq((0L, "a b c d e")).toDF("doc_id", "text")
    val probes = Seq(
      1L -> "a b c d e", // 5-gram seen: ln(1/1) = 0
      2L -> "z b c d e", // backoff to 4-gram bcde: lnα + ln(1/1)
      3L -> "z y c d e", // backoff to trigram cde: 2lnα + ln(1/1)
      4L -> "z y x d e", // backoff to bigram de: 3lnα + ln(1/1)
      5L -> "z y x w e", // floor, e seen: 4lnα + ln(1+1) − ln(5+5)
      6L -> "z y x w v", // floor, v unseen: 4lnα + ln(0+1) − ln(10)
      7L -> "a b c"      // shorter than order: (0, null)
    ).toDF("doc_id", "text")
    val got = TextAnalysis.stupidBackoff(probes, col("doc_id"), col("text"),
        ref, col("text"), order = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))).toMap
    val lnA = math.log(0.4)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(got(1L) === ((1L, 0.0)))
    assert(got(2L) === ((1L, r6(-lnA))))
    assert(got(3L) === ((1L, r6(-2 * lnA))))
    assert(got(4L) === ((1L, r6(-3 * lnA))))
    assert(got(5L) === ((1L, r6(-(4 * lnA + math.log(2.0) - math.log(10.0))))))
    assert(got(6L) === ((1L, r6(-(4 * lnA - math.log(10.0))))))
    assert(got(7L)._1 === 0L && got(7L)._2.isNaN)
  }
}
