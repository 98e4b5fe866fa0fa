package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.GraftColumnBridge.storedBytes
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Waist
import scala.jdk.CollectionConverters._

/** graft.ops.Waist: the one way to materialize and release a plan waist,
  * the ownership rule over the queries that reach one, and the source
  * guard that keeps it the only way. */
class WaistSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Every SparkEntry query that reaches a waist (a census of
    * `Waist.cut` calls over all queries on sf0.001; the same 24 left
    * storage behind under the harness before waists had an owner). Each
    * returns at least one waist in its result plan. */
  private val WaistQueries = Seq(
    "q74_dup_clusters", "q79_dedup_survivors", "q121_dedup_best",
    "q126_pipeline_v2", "q161_dsir_resample", "q169_lm_quality_5gram",
    "q175_lm_5gram_pruned", "q182_semantic_clusters", "q185_ccnet_head",
    "q187_curation_hygiene", "q215_central_select", "q223_lsh_sweep",
    "q246_edit_verify", "q247_curriculum_order", "q283_epoch_reshuffle",
    "q285_multiepoch_stream", "q288_evolving_admission",
    "q290_embed_evolving", "q297_soft_dedup", "q300_media_evolving",
    "q301_ml_curate_funnel", "q304_doremi_mixture", "q307_cluster_split",
    "q310_bt_leaderboard")

  test("cut materializes once, keeps rows and partitioning, and sizes the " +
    "leaf by its stored bytes; release frees waists only") {
    val src = spark.range(0, 1000, 1, 4)
      .select(col("id"), (col("id") % 13).as("k"))
    val w = Waist.cut(src)
    val lr = w.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    assert(lr.rdd.getStorageLevel.isValid)
    assert(lr.outputPartitioning.numPartitions === 4)
    val stored = storedBytes(Some(lr.rdd.id))
    assert(stored > 0)
    assert(w.queryExecution.optimizedPlan.stats.sizeInBytes === BigInt(stored))
    assert(w.count() === 1000L)
    // a caller's own checkpoint in the same plan is not a waist
    val own = spark.range(0, 10).toDF("id").localCheckpoint(true)
    val ownRdd = own.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
    val both = w.join(own, "id")
    assert(both.count() === 10L)
    Waist.release(both)
    assert(storedBytes(Some(lr.rdd.id)) === 0L)
    assert(!lr.rdd.getStorageLevel.isValid)
    assert(ownRdd.getStorageLevel.isValid)
    ownRdd.unpersist(blocking = true)
  }

  test("every waist-reaching query holds storage until one release of its " +
    "result returns it to the pre-query level") {
    WaistQueries.foreach { q =>
      val before = storedBytes()
      val mark = spark.sparkContext.emptyRDD[Int].id
      val out = SparkEntry.queries(q)(spark, sf)
      Bench.materialize(out)
      // the query's own storage: blocks of RDDs it persisted (earlier
      // suites' garbage may be cleaned meanwhile, so totals only fall)
      val made = spark.sparkContext.getPersistentRDDs.keys.filter(_ > mark)
      def held = made.toSeq.map(id => storedBytes(Some(id))).sum
      assert(held > 0, s"$q made no waist")
      Waist.release(out)
      assert(held === 0L, s"$q left $held bytes behind")
      assert(storedBytes() <= before, s"$q: storage above its pre-query level")
    }
  }

  test("no checkpoint, checkpoint dir or persistent-RDD sweep in src/main " +
    "outside ops/Waist.scala and Bench.purgeStorage") {
    val banned = Seq("""\blocalCheckpoint\(""", """\.checkpoint\(""",
      """\bsetCheckpointDir\(""", """\bgetPersistentRDDs\b""").map(_.r)
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"scanned only ${files.size} files under $root")
    def rel(p: Path) = root.relativize(p).toString
    val hits = for {
      f <- files if rel(f) != "graft/ops/Waist.scala"
      lines = Files.readAllLines(f).asScala.toIndexedSeq
      purge = lines.indexWhere(_.contains("def purgeStorage("))
      (line, i) <- lines.zipWithIndex
      t = line.trim if !(t.startsWith("//") || t.startsWith("*") ||
        t.startsWith("/*"))
      b <- banned if b.findFirstIn(line).isDefined
      if !(rel(f) == "graft/Bench.scala" && purge >= 0 && i > purge &&
        i <= purge + 3)
    } yield s"${rel(f)}:${i + 1}: $b"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
