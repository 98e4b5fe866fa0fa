package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Similarity => Sim}

/** Round-17 operator specs: the margin-mining kernel valve + the
  * index-bounded miners, the retrievalEval every-query contract, and the
  * deferred-persist gram memo. */
class OpsSpecR17 extends AnyFunSuite {
  import SparkTestSession._

  private def msgChain(t: Throwable): String = {
    val sb = new StringBuilder
    var cur: Throwable = t
    while (cur != null) { sb.append(cur.getMessage).append(" | "); cur = cur.getCause }
    sb.toString
  }

  test("marginMine: the brute kernel VALVES — sides bigger than maxPairs " +
    "raise a typed error before any cross join runs (the maxWaves " +
    "discipline); a raised valve admits the same kernel") {
    import spark.implicits._
    val big = spark.range(0, 10000).select(col("id").as("vid"),
      array(lit(1.0f), lit(0.5f)).as("v"))
    val e = intercept[Exception] {
      Sim.marginMine(big, col("vid"), col("v"), big, col("vid"), col("v"),
        k = 2)
    }
    assert(msgChain(e).contains("kernel valve"),
      s"unexpected error: ${msgChain(e)}")
    // a deliberately raised valve still mines (tiny slices here)
    val s = Seq((0L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vid", "v")
    val t = Seq((1L, Array(1.0f, 0.0f)), (3L, Array(0.6f, 0.8f)))
      .toDF("vid", "v")
    val mined = Sim.marginMine(s, col("vid"), col("v"), t, col("vid"),
      col("v"), k = 2, minMarginPermille = 0L, maxPairs = 4L)
    assert(mined.count() >= 1)
  }

  test("marginMineFromIndex mines the same pairs as marginMineFromCentroids " +
    "run with the index's own trained centroids (shared probe order, " +
    "shared margin tail)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 500)
    val srcS = emb.filter(col("vec_id") % 2 === 0)
    val tgtS = emb.filter(col("vec_id") % 2 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("mmEq").toString
    Sim.ivfWritePartitioned(tgtS, col("vec_id"), col("embedding"), 4,
      s"$dir/idx")
    val cents = spark.read.parquet(s"$dir/idx.centroids")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val fromIdx = Sim.marginMineFromIndex(spark, s"$dir/idx", srcS,
        col("vec_id"), col("embedding"), nProbe = 2, k = 4)
      .orderBy("sid").collect().toSeq
    val fromCents = Sim.marginMineFromCentroids(srcS, col("vec_id"),
        col("embedding"), tgtS, col("vec_id"), col("embedding"), cents,
        nProbe = 2, k = 4)
      .orderBy("sid").collect().toSeq
    assert(fromIdx.nonEmpty)
    assert(fromIdx === fromCents,
      "ivf-probed mining must equal centroid-bucket mining on the same " +
        "centroids (exact-tie assignment aside, which organic floats " +
        "never hit)")
  }

  test("retrievalEval seeds from retrieved ∪ truth: a query with ZERO " +
    "retrieved rows still emits its hits=0 / NULL-rank row (the r16 " +
    "ADVICE contract — suite MRR must not silently drop the worst " +
    "queries)") {
    import spark.implicits._
    val retrieved = Seq((1L, 10L, 1L), (1L, 11L, 2L))
      .toDF("qid", "id", "rk")
    val truth = Seq((1L, 10L), (2L, 20L), (2L, 21L))
      .toDF("qid", "id")
    val out = Sim.retrievalEval(retrieved, col("qid"), col("id"),
        col("rk"), truth, col("qid"), col("id"), k = 10)
      .orderBy("qid").collect()
    assert(out.length === 2, "both qids must emit")
    val q2 = out(1)
    assert(q2.getLong(0) === 2L)
    assert(q2.getLong(1) === 2L, "n_truth")
    assert(q2.getLong(2) === 0L, "hits must be 0, not a dropped row")
    assert(q2.getLong(3) === 0L, "recall 0, not NULL — truth is known")
    assert(q2.isNullAt(5) && q2.isNullAt(6),
      "no hit → NULL first_hit_rank and rr_micro")
  }

  test("mooreLewis: ml_micro is the exact integer entropy difference — " +
    "identical references give ml = 0 on every scored doc, and a doc too " +
    "short for an order-n slot scores NULL in both LMs") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val docs = Seq((1L, "a b c a b c"), (2L, "c b a"), (3L, "a b"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.mooreLewis(docs, col("doc_id"), col("text"),
        docs, col("text"), docs, col("text"), order = 3)
      .orderBy("id").collect()
    assert(out.length === 3)
    assert(out(0).getLong(4) === 0L && out(1).getLong(4) === 0L,
      "same in/gen reference must difference to exactly zero")
    assert(out(2).isNullAt(2) && out(2).isNullAt(3) && out(2).isNullAt(4),
      "a 2-token doc has no trigram slot in EITHER ladder → NULL ml")
  }

  test("takedownAudit: hand-computed blast radius — a bin is dirty iff " +
    "it holds a removed row, survivors of dirty bins repack, clean bins " +
    "are untouched, permille on the half-up grid") {
    import spark.implicits._
    import graft.ops.Chunking
    // group g: bin 0 = rows (1 clean, 2 REMOVED, 3 clean), bin 1 = row 4
    // clean → 1 dirty bin, 2 surviving rows to repack, 30 of 70 tokens.
    // group h: bin 0 all clean → zero blast radius
    val packed = Seq(
      ("g", 0L, 1L, 10L, false), ("g", 0L, 2L, 15L, true),
      ("g", 0L, 3L, 5L, false), ("g", 1L, 4L, 40L, false),
      ("h", 0L, 5L, 20L, false))
      .toDF("grp", "bin", "doc", "n_tok", "rm")
    val out = Chunking.takedownAudit(packed, col("grp"), col("bin"),
        col("n_tok"), col("rm"))
      .orderBy("grp").collect()
    assert(out(0).toSeq === Seq("g", 2L, 1L, 4L, 2L, 1L, 70L, 30L, 429L))
    assert(out(1).toSeq === Seq("h", 1L, 0L, 1L, 0L, 0L, 20L, 0L, 0L))
  }

  test("softDedupWeights: cluster members weigh exactly " +
    "halfUp(1e6/|cluster|), singletons weigh 1e6, and each cluster " +
    "carries one document of mass up to the rounding grid") {
    import spark.implicits._
    import graft.ops.Dedup
    val docs = (1L to 5L).toDF("doc_id")
    // pairs chain 1-2-3 into one cluster; 4 and 5 stay singletons
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("i", "j")
    val out = Dedup.softDedupWeights(docs, col("doc_id"), pairs)
      .orderBy("doc_id")
      .select("doc_id", "cluster", "n_cluster", "w_micro").collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(1L, 1L, 1L, 4L, 5L))
    assert(out.map(_.getLong(2)).toSeq === Seq(3L, 3L, 3L, 1L, 1L))
    assert(out.map(_.getLong(3)).toSeq ===
      Seq(333333L, 333333L, 333333L, 1000000L, 1000000L))
    val clusterMass = out.filter(_.getLong(1) === 1L).map(_.getLong(3)).sum
    assert(math.abs(clusterMass - 1000000L) <= 3L,
      "a cluster's weights must sum to one document of mass (grid-close)")
  }

  test("stupidBackoff persists nothing: after clearCache, two scorings " +
    "of the same corpus leave the cache manager empty and agree") {
    import graft.ops.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("gramNoPersist").toString
    val path = s"$dir/docs.parquet"
    import spark.implicits._
    Seq((1L, "a b c a b"), (2L, "b c a"), (3L, "c c a b a"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(path)
    def score() = TextAnalysis.stupidBackoff(
        spark.read.parquet(path), col("doc_id"), col("text"),
        spark.read.parquet(path), col("text"), order = 2)
      .orderBy("id").collect().toSeq
    spark.catalog.clearCache()
    val first = score()
    val second = score()
    assert(spark.sharedState.cacheManager.isEmpty,
      "scoring must not leave the count tables persisted: the query that " +
        "builds them owns them, and no later query may find them cached")
    assert(first === second)
  }
}
