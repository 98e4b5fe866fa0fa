package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import scala.jdk.CollectionConverters._

/** graft.core's one way to resolve a shard set's schema: footers read on
  * the driver, widened, one scan. No Spark job runs before the action, the
  * schema of a set without drift is the one Spark's own merge gives, and a
  * source guard keeps the merge read from coming back. */
class ShardReadSpec extends AnyFunSuite {
  import SparkTestSession._

  /** `body`'s result and the Spark jobs it started on this thread. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val (out, reading) = TaggedJobs.of(body)
    (out, reading.jobs)
  }

  private def mergeRead(paths: String*) =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** A groupby over `n` lineitem copies starts no job before its action
    * and answers as Spark's own read of the same files. */
  private def groupbyStartsNoJob(n: Int): Unit = {
    val dir = Files.createTempDirectory("graft-resolve")
    val shards = (0 until n).map { i =>
      Files.copy(Paths.get(s"$sf/lineitem.parquet"), dir.resolve(f"s$i%03d.parquet")).toString
    }
    val aggs = Seq(AggSpec("l_quantity", "sum", "q"), AggSpec("l_orderkey", "count", "n"))
    val (df, jobs) = jobsOf(GraftService.groupby(spark,
      GraftService.GroupByCall(shards, Seq("l_returnflag"), aggs)).get)
    assert(jobs === 0)
    val want = mergeRead(shards: _*).groupBy("l_returnflag")
      .agg(sum("l_quantity"), count("l_orderkey"))
    assert(df.orderBy("l_returnflag").collect().toSeq ===
      want.orderBy("l_returnflag").collect().toSeq)
  }

  test("GraftService.groupby over two lineitem shard files starts no job " +
    "before its action") {
    groupbyStartsNoJob(2)
  }

  // above spark.sql.sources.parallelPartitionDiscovery.threshold (32) a
  // spark.read lists its paths in a Spark job
  test("groupby over 40 shard files starts no job before its action") {
    groupbyStartsNoJob(40)
  }

  test("readSharded over two drifted directories starts no job before its " +
    "action and still widens") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-resolve-drift").toString
    Seq((1, "a"), (2, "b")).toDF("k", "v").coalesce(1).write.parquet(s"$dir/s1")
    Seq((10L, "c", 1.5)).toDF("k", "v", "extra").coalesce(1).write.parquet(s"$dir/s2")
    val (df, jobs) = jobsOf(SchemaDrift.readSharded(spark, Seq(s"$dir/s1", s"$dir/s2")))
    assert(jobs === 0)
    assert(df.schema.fieldNames.toSeq === Seq("k", "v", "extra"))
    assert(df.schema("k").dataType === org.apache.spark.sql.types.LongType)
    assert(df.orderBy("k").collect().map(r => (r.getLong(0), r.isNullAt(2))).toSeq ===
      Seq((1L, true), (2L, true), (10L, false)))
  }

  test("Ingest.readPublished starts no job before its action") {
    val table = Files.createTempDirectory("graft-resolve-pub").toString
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    Ingest.atomicPublish(nation.repartition(2), table)
    val (df, jobs) = jobsOf(Ingest.readPublished(spark, table))
    assert(jobs === 0)
    assert(df.count() === nation.count())
  }

  test("a set with no drift resolves to the schema of Spark's own merge: " +
    "fixture shards and Spark-written directories with _SUCCESS and .crc") {
    val fixtures = Files.list(Paths.get(sf)).iterator.asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    assert(fixtures.size >= 5, fixtures)
    fixtures.foreach { f =>
      assert(SchemaDrift.readSharded(spark, Seq(f)).schema === mergeRead(f).schema, f)
    }
    val copy = Files.createTempDirectory("graft-resolve-copy").resolve("li2.parquet")
    Files.copy(Paths.get(s"$sf/lineitem.parquet"), copy)
    val pair = Seq(s"$sf/lineitem.parquet", copy.toString)
    assert(SchemaDrift.readSharded(spark, pair).schema === mergeRead(pair: _*).schema)

    val dir = Files.createTempDirectory("graft-resolve-spark").toString
    val rich = spark.range(0, 40).select(
      col("id"),
      (col("id") % 3).cast("int").as("i"),
      (col("id") / 7).cast("decimal(12,3)").as("d"),
      date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("day"),
      col("id").cast("timestamp").as("ts"),
      array(col("id"), col("id") + 1).as("arr"),
      struct(col("id").as("x"), col("id").cast("string").as("y")).as("st"),
      map(col("id").cast("string"), col("id")).as("m"),
      lit(null).cast("string").as("empty"))
    Seq("a", "b").foreach(n => rich.repartition(3).write.parquet(s"$dir/$n"))
    rich.write.partitionBy("i").parquet(s"$dir/hive")
    val names = Files.list(Paths.get(s"$dir/a")).iterator.asScala
      .map(_.getFileName.toString).toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    assert(Files.isDirectory(Paths.get(s"$dir/hive/i=0")))
    Seq(Seq(s"$dir/a"), Seq(s"$dir/a", s"$dir/b"), Seq(s"$dir/hive")).foreach { set =>
      val got = SchemaDrift.readSharded(spark, set)
      assert(got.schema === mergeRead(set: _*).schema, set)
      assert(got.count() === 40L * set.size)
    }
  }

  test("no mergeSchema read and no CANNOT_MERGE_SCHEMAS match in src/main") {
    val banned = Seq("mergeSchema", "CANNOT_MERGE_SCHEMAS")
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"scanned only ${files.size} files under $root")
    def rel(p: Path) = root.relativize(p).toString
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      t = line.trim if !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))
      b <- banned if line.contains(b)
    } yield s"${rel(f)}:${i + 1}: $b"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
