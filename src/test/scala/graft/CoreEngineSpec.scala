package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftExtensions.ensureRegistered(s)
    s
  }
  val sf = "/root/testdata/sf0.001"
}

class CoreEngineSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val li = spark.read.parquet(s"$sf/lineitem.parquet")

  test("filter translator covers all ops and ANDs terms") {
    val terms = Seq(
      FilterTerm("l_quantity", ">=", 10.0),
      FilterTerm("l_quantity", "<", 20.0),
      FilterTerm("l_returnflag", "in", Seq("A", "N")),
      FilterTerm("l_linestatus", "!=", "ZZZ"))
    val got = li.filter(Translator.filterColumn(terms).get).count()
    val want = li.filter(
      col("l_quantity") >= 10.0 && col("l_quantity") < 20.0 &&
        col("l_returnflag").isin("A", "N") && col("l_linestatus") =!= "ZZZ").count()
    assert(got === want && got > 0)
  }

  test("unknown ops are rejected") {
    intercept[IllegalArgumentException] {
      Translator.filterColumn(Seq(FilterTerm("x", "like", "%a%")))
    }
    intercept[IllegalArgumentException] {
      Translator.aggColumn(AggSpec("x", "median", "m"))
    }
  }

  test("groupby merged equals direct groupBy") {
    val got = GroupByEngine.groupbyDf(li, Seq("l_returnflag"),
      Seq(AggSpec("l_quantity", "sum", "s"), AggSpec("l_quantity", "count", "c")))
      .orderBy("l_returnflag").collect()
    val want = li.groupBy("l_returnflag")
      .agg(sum("l_quantity").as("s"), count("l_quantity").as("c"))
      .orderBy("l_returnflag").collect()
    assert(got.toSeq === want.toSeq)
  }

  test("concat-combine then re-aggregate equals direct groupBy (sum/count)") {
    // property from SURVEY §5: concat ∘ re-aggregate ≡ direct groupBy
    val concat = GroupByEngine.groupbyDfSharded(li, pmod(col("l_orderkey"), lit(4)),
      Seq("l_returnflag"), Seq(AggSpec("l_quantity", "sum", "s")))
    assert(concat.count() > 3) // duplicate keys survive concat
    val remerged = concat.groupBy("l_returnflag").agg(sum("s").as("s"))
      .orderBy("l_returnflag").collect().map(r => (r.getString(0), r.getDouble(1)))
    val direct = li.groupBy("l_returnflag").agg(sum("l_quantity").as("s"))
      .orderBy("l_returnflag").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(remerged.toSeq === direct.toSeq)
  }

  test("aggregate=false projects without grouping") {
    val df = GroupByEngine.groupbyDf(li, Seq("l_orderkey"),
      Seq(AggSpec("l_quantity", "sum", "l_quantity")),
      where = Seq(FilterTerm("l_returnflag", "==", "A")), aggregate = false)
    assert(df.columns.toSeq === Seq("l_orderkey", "l_quantity"))
    assert(df.count() === li.filter(col("l_returnflag") === "A").count())
  }

  test("missing shards are pruned; all-missing yields None") {
    val good = s"$sf/lineitem.parquet"
    val bad = s"$sf/nope_does_not_exist.parquet"
    val some = GroupByEngine.groupby(spark, Seq(good, bad), Seq("l_returnflag"),
      Seq(AggSpec("l_quantity", "sum", "s")))
    assert(some.isDefined && some.get.count() > 0)
    val none = GroupByEngine.groupby(spark, Seq(bad, s"$sf/missing_dir/x.parquet"),
      Seq("l_returnflag"), Seq(AggSpec("l_quantity", "sum", "s")))
    assert(none.isEmpty)
  }

  test("bare-column agg shorthand defaults to sum with same output name") {
    // reference README.md:105 shorthand: groupby(files, keys, ['fare_amount'])
    val short = GroupByEngine.groupbyDf(li, Seq("l_returnflag"),
      Seq(AggSpec("l_quantity"))).orderBy("l_returnflag").collect()
    val full = GroupByEngine.groupbyDf(li, Seq("l_returnflag"),
      Seq(AggSpec("l_quantity", "sum", "l_quantity"))).orderBy("l_returnflag").collect()
    assert(short.toSeq === full.toSeq)
  }

  test("ops api answers ping and info") {
    assert(OpsApi.ping(spark) === "pong")
    val info = OpsApi.info(spark)
    assert(info.defaultParallelism > 0 && info.appName === "graft-test")
  }

  test("entry smoke: rows > 0") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has matching column sets with its oracle declaration") {
    // every oracle key must exist in queries
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("schema drift: added column reads as null, widened int reads as long") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-drift").toString
    // shard 1: k int, v string          (the original producer)
    Seq((1, "a"), (2, "b")).toDF("k", "v")
      .coalesce(1).write.parquet(s"$dir/s1")
    // shard 2: k LONG (widened), v, extra double (new producer)
    Seq((10L, "c", 1.5), (20L, "d", 2.5)).toDF("k", "v", "extra")
      .coalesce(1).write.parquet(s"$dir/s2")
    val df = SchemaDrift.readSharded(spark, Seq(s"$dir/s1", s"$dir/s2"))
    assert(df.schema("k").dataType === org.apache.spark.sql.types.LongType)
    assert(df.schema("extra").dataType === org.apache.spark.sql.types.DoubleType)
    val rows = df.orderBy("k").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 10L, 20L))
    // missing-column→null contract for the shard written before `extra`
    assert(rows.take(2).forall(_.isNullAt(2)))
    assert(rows.drop(2).map(_.getDouble(2)).toSeq === Seq(1.5, 2.5))
    // the full groupby() verb path answers over the drifted set
    val got = GroupByEngine.groupby(spark,
        Seq(s"$dir/s1", s"$dir/s2"),
        keys = Seq("v"),
        aggs = Seq(AggSpec("k", "sum", "sum_k"))).get
      .orderBy("v").collect()
    assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("a", 1L), ("b", 2L), ("c", 10L), ("d", 20L)))
    // concat combine (per-shard kernels) still sees shard identity through
    // the widened-schema read: input_file_name survives the explicit schema
    val concat = GroupByEngine.groupby(spark,
        Seq(s"$dir/s1", s"$dir/s2"),
        keys = Nil,
        aggs = Seq(AggSpec("k", "sum", "sum_k")),
        combine = CombineMode.Concat).get
      .collect().map(_.getLong(0)).sorted
    assert(concat.toSeq === Seq(3L, 30L)) // one row per shard, not merged
  }

  test("schema drift: added-column-only drift merges distributed; corruption raises typed error") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-drift2").toString
    Seq((1, "a")).toDF("k", "v").coalesce(1).write.parquet(s"$dir/s1")
    Seq((2, "b", 9L)).toDF("k", "v", "n").coalesce(1).write.parquet(s"$dir/s2")
    // same int width + added column → the footer schemas union, one scan
    val df = SchemaDrift.readSharded(spark, Seq(s"$dir/s1", s"$dir/s2"))
    assert(df.count() === 2 && df.schema.fieldNames.contains("n"))
    // string vs int on the same field is corruption, not widening
    Seq(("oops", "c")).toDF("k", "v").coalesce(1).write.parquet(s"$dir/s3")
    intercept[SchemaDrift.SchemaDriftException] {
      SchemaDrift.readSharded(spark, Seq(s"$dir/s1", s"$dir/s3")).schema
    }
  }

  test("schema drift widening lattice: int⊔float→double, decimal widens, nested arrays recurse") {
    import org.apache.spark.sql.types._
    def w(a: DataType, b: DataType) = SchemaDrift.widenType("f", a, b)
    assert(w(IntegerType, LongType) === LongType)
    assert(w(ByteType, ShortType) === ShortType)
    assert(w(IntegerType, FloatType) === DoubleType) // never float: int32 ⊄ float24
    assert(w(LongType, DoubleType) === DoubleType)
    assert(w(DecimalType(10, 2), DecimalType(12, 4)) === DecimalType(12, 4))
    assert(w(ArrayType(IntegerType), ArrayType(LongType)) === ArrayType(LongType, true))
    // NTZ on purpose: the Parquet reader upcasts INT32 date only to NTZ
    assert(w(DateType, TimestampType) === TimestampNTZType)
    assert(w(TimestampNTZType, DateType) === TimestampNTZType)
    intercept[SchemaDrift.SchemaDriftException] { w(StringType, IntegerType) }
  }

  test("schema drift: date shard ⊔ timestamp shard reads as midnight-expanded timestamps") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-drift-date").toString
    // old producer records a DATE; the new one started carrying time-of-day
    Seq((1, java.sql.Date.valueOf("2024-03-05")),
        (2, java.sql.Date.valueOf("2024-03-06"))).toDF("k", "t")
      .coalesce(1).write.parquet(s"$dir/s1")
    Seq((3, java.sql.Timestamp.valueOf("2024-03-07 10:30:00"))).toDF("k", "t")
      .coalesce(1).write.parquet(s"$dir/s2")
    val df = SchemaDrift.readSharded(spark, Seq(s"$dir/s1", s"$dir/s2"))
    // NTZ target: dates midnight-expand; the LTZ shard reads as its UTC
    // wall clock (sessions pin UTC, so the instant is preserved verbatim)
    assert(df.schema("t").dataType === org.apache.spark.sql.types.TimestampNTZType)
    val got = df.orderBy("k").collect()
      .map(_.getAs[java.time.LocalDateTime](1).toString)
    assert(got.toSeq === Seq("2024-03-05T00:00", "2024-03-06T00:00",
      "2024-03-07T10:30"))
  }
}
