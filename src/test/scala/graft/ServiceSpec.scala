package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.ops.Similarity

/** Specs for the service facade, ingest/publish, and the native cosine
  * expression. */
class ServiceSpec extends AnyFunSuite {
  import SparkTestSession._

  test("service groupby verb answers the reference's taxi-style call") {
    val out = GraftService.groupby(spark, GraftService.GroupByCall(
      filenames = Seq(s"$sf/lineitem.parquet"),
      groupby = Seq("l_returnflag"),
      aggs = Seq(AggSpec("l_quantity", "sum", "sum_qty"))))
    assert(out.isDefined && out.get.count() === 3)
  }

  test("service rejects bad specs and unknown verbs with reference wording") {
    intercept[BadCallException] {
      GraftService.groupby(spark, GraftService.GroupByCall(
        Seq(s"$sf/lineitem.parquet"), Seq("l_returnflag"),
        Seq(AggSpec("l_quantity", "median", "m"))))
    }
    val e = intercept[UnknownVerbException] { GraftService.call(spark, "distribute") }
    assert(e.getMessage.contains("Sorry, I don't understand you"))
    assert(GraftService.call(spark, "ping") === "pong")
    // killworkers aborts in-flight work but the controller stays alive
    assert(GraftService.call(spark, "killworkers") === "workers stopped")
    assert(GraftService.call(spark, "ping") === "pong")
  }

  test("csv ingest parses timestamps, atomic publish flips versions") {
    val dir = Files.createTempDirectory("graft-ingest").toString
    val csv = s"$dir/in.csv"
    Files.writeString(java.nio.file.Paths.get(csv),
      "id,ts,v\n1,2024-01-01 00:00:00,1.5\n2,2024-01-02 12:30:00,2.5\n")
    Ingest.csvToParquet(spark, csv, s"$dir/out", timestampCols = Seq("ts"))
    val got = spark.read.parquet(s"$dir/out")
    assert(got.count() === 2)
    assert(got.schema("ts").dataType.typeName === "timestamp")

    val table = s"$dir/table"
    Ingest.atomicPublish(got, table)
    assert(Ingest.readPublished(spark, table).count() === 2)
    // publish v2: readers atomically see the new complete version
    Ingest.atomicPublish(got.limit(1), table)
    assert(Ingest.readPublished(spark, table).count() === 1)
  }

  test("jsonl ingest: explicit schema, malformed lines dropped or audited") {
    val dir = Files.createTempDirectory("graft-jsonl").toString
    val jl = s"$dir/in.jsonl"
    Files.writeString(java.nio.file.Paths.get(jl),
      """{"doc_id": 1, "text": "hello world", "ts": "2024-01-01 00:00:00"}
        |{"doc_id": 2, "text": "zweite zeile", "ts": "2024-01-02 12:30:00"}
        |{"doc_id": 3 "text": THIS IS NOT JSON
        |{"doc_id": 4, "text": "after the bad line", "ts": "2024-01-03 06:00:00"}
        |""".stripMargin)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("ts", StringType)))
    // the 100 TB path: explicit schema, bad line dropped, job survives
    Ingest.jsonlToParquet(spark, jl, s"$dir/out", Some(schema),
      timestampCols = Seq("ts"))
    val got = spark.read.parquet(s"$dir/out")
    assert(got.count() === 3)
    assert(got.schema("ts").dataType.typeName === "timestamp")
    assert(got.select(sum("doc_id")).head.getLong(0) === 7L)
    // audit mode: the corrupt line is KEPT as a _corrupt_record row
    val auditSchema = schema.add("_corrupt_record", StringType)
    Ingest.jsonlToParquet(spark, jl, s"$dir/out_audit", Some(auditSchema),
      dropMalformed = false)
    val audit = spark.read.parquet(s"$dir/out_audit")
    assert(audit.count() === 4)
    assert(audit.filter(col("_corrupt_record").isNotNull).count() === 1)
    // inference-mode exploration works too (schema-free)
    Ingest.jsonlToParquet(spark, jl, s"$dir/out_inferred")
    assert(spark.read.parquet(s"$dir/out_inferred").count() === 3)
  }

  test("deleteByKeys: forget-pass republishes without the keys, old version intact") {
    val dir = Files.createTempDirectory("graft-forget").toString
    val table = s"$dir/table"
    import spark.implicits._
    val v1 = (1L to 10L).map(i => (i, s"doc-$i")).toDF("doc_id", "text")
    Ingest.atomicPublish(v1, table)
    Ingest.deleteByKeys(spark, table, "doc_id", Seq(3L, 7L, 999L))
    val after = Ingest.readPublished(spark, table)
    assert(after.count() === 8)
    assert(after.filter(col("doc_id").isin(3L, 7L)).count() === 0)
    // non-destructive flip: both version dirs still on disk for audit
    val versions = new java.io.File(s"$table/data").listFiles()
    assert(versions.length === 2, "old version must survive until vacuumed")
    // idempotent: forgetting already-absent keys is a clean no-op republish
    Ingest.deleteByKeys(spark, table, "doc_id", Seq(3L))
    assert(Ingest.readPublished(spark, table).count() === 8)
  }

  test("vacuum reclaims unreferenced versions, never the published one") {
    val dir = Files.createTempDirectory("graft-vacuum").toString
    val table = s"$dir/table"
    import spark.implicits._
    val df = (1L to 5L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    Ingest.atomicPublish(df, table)
    Ingest.atomicPublish(df.limit(3), table)
    Ingest.atomicPublish(df.limit(1), table)
    assert(new java.io.File(s"$table/data").listFiles().length === 3)
    // grace window protects recent versions even when unreferenced
    assert(Ingest.vacuum(spark, table, graceMs = 60000).isEmpty)
    val deleted = Ingest.vacuum(spark, table, graceMs = 0)
    assert(deleted.length === 2, s"expected 2 reclaimed, got $deleted")
    assert(new java.io.File(s"$table/data").listFiles().length === 1)
    assert(Ingest.readPublished(spark, table).count() === 1,
      "the published version must survive vacuum")
    // idempotent
    assert(Ingest.vacuum(spark, table, graceMs = 0).isEmpty)
  }

  test("compaction rewrites files and preserves content through re-publish") {
    val dir = Files.createTempDirectory("graft-compact").toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    Ingest.atomicPublish(li.repartition(16), dir) // simulate small-file buildup
    Ingest.compact(spark, dir, targetFileMB = 128)
    val compacted = Ingest.readPublished(spark, dir)
    assert(compacted.count() === li.count())
    assert(compacted.rdd.getNumPartitions < 16)
  }

  test("streaming micro-batches publish atomically via foreachBatch") {
    val srcDir = Files.createTempDirectory("graft-pubsrc")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      srcDir.resolve("events.parquet"))
    val tableDir = Files.createTempDirectory("graft-pubtable").toString
    val stream = graft.streaming.EventsStream.readEvents(spark, srcDir.toString)
    val q = Ingest.publishStream(stream, tableDir)
    try q.processAllAvailable() finally q.stop()
    assert(Ingest.readPublished(spark, tableDir).count() ===
      graft.queries.QueryUtil.events(spark, sf).count())
  }

  test("streaming: each micro-batch replaces the table, so two batches " +
    "publish exactly the second batch's rows") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-pubsrc2")
    val stage = Files.createTempDirectory("graft-pubstage").toString
    val tableDir = Files.createTempDirectory("graft-pubtable2").toString
    // each batch lands in the watched dir by one rename, never half-written
    def land(i: Int, ids: Seq[Long]): Unit = {
      ids.toDF("id").coalesce(1).write.parquet(s"$stage/b$i")
      val part = new java.io.File(s"$stage/b$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      Files.move(part, srcDir.resolve(s"b$i.parquet"))
    }
    land(1, Seq(1L, 2L, 3L))
    val stream = spark.readStream.schema("id long").parquet(srcDir.toString)
    val q = Ingest.publishStream(stream, tableDir)
    try {
      q.processAllAvailable()
      land(2, Seq(10L, 11L))
      q.processAllAvailable()
    } finally q.stop()
    assert(Ingest.readPublished(spark, tableDir).as[Long].collect().sorted.toSeq ===
      Seq(10L, 11L))
  }

  /** A 20,000-row table published over three files, and a 10-row batch. */
  private def appendFixture(name: String): (String, DataFrame, DataFrame) = {
    def rows(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id"), sha2(col("id").cast("string"), 256).as("text"))
    val table = Files.createTempDirectory(name).toString
    val v1 = rows(0, 20000).repartition(3)
    Ingest.atomicPublish(v1, table)
    (table, rows(0, 20000), rows(20000, 20010))
  }

  private def manifest(table: String): String =
    Files.readString(Paths.get(table, "_MANIFEST")).trim

  private def parquetFiles(versionDir: String): Seq[java.nio.file.Path] =
    Files.list(Paths.get(versionDir)).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq

  private def sharedFiles(a: String, b: String): Seq[java.nio.file.Path] =
    parquetFiles(a).filter(f => parquetFiles(b).exists(Files.isSameFile(f, _)))

  private def rowsOf(df: DataFrame): Seq[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  test("an append hard-links every file of v1 into v2 and writes only the " +
    "batch's rows") {
    val (table, v1, batch) = appendFixture("graft-append")
    val v1Dir = manifest(table)
    val v1Bytes = parquetFiles(v1Dir).map(Files.size).sum
    assert(parquetFiles(v1Dir).size > 1)
    val (_, reading) = TaggedJobs.of(Ingest.atomicPublish(
      Ingest.readPublished(spark, table).unionByName(batch), table))
    val written = reading.bytesWritten
    val v2Dir = manifest(table)
    assert(v2Dir !== v1Dir)
    assert(sharedFiles(v1Dir, v2Dir).size === parquetFiles(v1Dir).size)
    assert(rowsOf(Ingest.readPublished(spark, table)) === rowsOf(v1.union(batch)))
    assert(written > 0 && written < v1Bytes, s"append wrote $written of $v1Bytes bytes")
  }

  test("a frame resolved before an append still reads exactly v1 after the flip") {
    val (table, v1, batch) = appendFixture("graft-append-reader")
    val before = Ingest.readPublished(spark, table)
    Ingest.atomicPublish(Ingest.readPublished(spark, table).unionByName(batch), table)
    assert(rowsOf(before) === rowsOf(v1))
  }

  test("vacuum after an append keeps every current row and every file the " +
    "current version lists") {
    val (table, v1, batch) = appendFixture("graft-append-vacuum")
    Ingest.atomicPublish(Ingest.readPublished(spark, table).unionByName(batch), table)
    val current = parquetFiles(manifest(table)).map(f => f -> Files.size(f))
    assert(Ingest.vacuum(spark, table, graceMs = 0).size === 1)
    current.foreach { case (f, size) =>
      assert(Files.exists(f) && Files.size(f) === size, s"vacuum touched $f")
    }
    assert(rowsOf(Ingest.readPublished(spark, table)) === rowsOf(v1.union(batch)))
  }

  test("a filtered scan, a scan outside the data root and a scan under a " +
    "narrower schema are written in full, with the right rows") {
    val (table, v1, batch) = appendFixture("graft-append-full")
    val v1Dir = manifest(table)
    def publishShares(df: DataFrame, want: DataFrame): Unit = {
      Ingest.atomicPublish(df, table)
      assert(sharedFiles(v1Dir, manifest(table)).isEmpty)
      assert(Ingest.readPublished(spark, table).collect().toSeq.sortBy(_.toString) ===
        want.collect().toSeq.sortBy(_.toString))
    }
    val cur = Ingest.readPublished(spark, table)
    publishShares(cur.filter(col("id") < 100).unionByName(batch),
      v1.filter(col("id") < 100).union(batch))
    val outside = Files.createTempDirectory("graft-append-outside")
    parquetFiles(v1Dir).foreach(f => Files.copy(f, outside.resolve(f.getFileName)))
    publishShares(spark.read.parquet(outside.toString).unionByName(batch), v1.union(batch))
    publishShares(spark.read.schema("id long").parquet(v1Dir).unionByName(batch.select("id")),
      v1.select("id").union(batch.select("id")))
  }

  test("a failed publish leaves only the published version in data/ and " +
    "the manifest unchanged, on the full and the append path") {
    val (table, _, batch) = appendFixture("graft-publish-fail")
    val v1Dir = manifest(table)
    def boom(df: DataFrame) =
      df.withColumn("id", when(col("id") % 10000 === 5, raise_error(lit("boom")))
        .otherwise(col("id")))
    Seq(boom(Ingest.readPublished(spark, table)),
      Ingest.readPublished(spark, table).unionByName(boom(batch))).foreach { df =>
      intercept[Exception](Ingest.atomicPublish(df, table))
      assert(manifest(table) === v1Dir)
      assert(Files.list(Paths.get(table, "data")).iterator.asScala
        .map(_.toString).toSeq === Seq(Paths.get(v1Dir).toString))
    }
  }

  test("ticket lifecycle: submit → list → cancel → terminal; fast job → DONE") {
    def await(id: String, want: Set[Tickets.State], ms: Int = 60000): Tickets.Ticket = {
      val deadline = System.currentTimeMillis() + ms
      var t = Tickets.get(id).get
      while (!want(t.state) && System.currentTimeMillis() < deadline) {
        Thread.sleep(100); t = Tickets.get(id).get
      }
      t
    }
    // fast ticket completes; await BEFORE submitting the slow one so the
    // slow job can't starve it out of the shared local scheduler
    val fast = Tickets.submit(spark, "fast count") { s => s.range(1000).count(); () }
    assert(await(fast, Set(Tickets.Done)).state === Tickets.Done)
    // slow ticket: many tiny sleeping tasks — long-running but each task
    // finishes fast, so a missed cancel can't wedge the shared session
    val slow = Tickets.submit(spark, "slow sum") { s =>
      import org.apache.spark.sql.functions._
      val nap = udf((x: Long) => { Thread.sleep(50); x })
      s.range(0, 2000, 1, 2000).select(sum(nap(col("id")))).collect(); ()
    }
    try {
      val ids = Tickets.list().map(_.id)
      assert(ids.contains(fast) && ids.contains(slow))
      await(slow, Set(Tickets.Running))
      assert(Tickets.cancel(spark, slow))
      val cancelled = await(slow, Set(Tickets.Cancelled))
      assert(cancelled.state === Tickets.Cancelled && cancelled.terminal)
      // cancel is sticky: the provoked job failure must not flip it to FAILED
      Thread.sleep(500)
      assert(Tickets.get(slow).get.state === Tickets.Cancelled)
      assert(!Tickets.cancel(spark, slow)) // terminal → no-op
      // verb surface mirrors the reference wording
      assert(GraftService.call(spark, "downloads").contains(slow))
      assert(GraftService.call(spark, "delete_download",
        Map("ticket" -> slow)) === "not_found_or_done")
      assert(Tickets.prune() >= 2)
    } finally Tickets.cancel(spark, slow)
  }

  test("ticketed download publishes atomically and reports DONE") {
    val dir = Files.createTempDirectory("graft-dl").toString
    val id = Ingest.downloadTicketed(spark, s"$sf/region.parquet", s"$dir/t")
    // latch-based await: returns the instant the ticket goes terminal (the
    // old fixed 30 s poll deadline flaked under full-suite load)
    val t = Tickets.await(id, timeoutMs = 300000).get
    assert(t.state === Tickets.Done)
    assert(Ingest.readPublished(spark, s"$dir/t").count() ===
      spark.read.parquet(s"$sf/region.parquet").count())
  }

  test("multi-file ingest tracks per-file slots; downloads verb lists them") {
    val dir = Files.createTempDirectory("graft-mf").toString
    // three same-schema shard files (the reference's multi-file ingest shape)
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val srcDir = Files.createTempDirectory("graft-mfsrc").toString
    def partFile(d: String): String =
      new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet"))
        .head.getAbsolutePath
    val srcs = (0 to 2).map { i =>
      nation.filter(col("n_nationkey") % 3 === i).coalesce(1)
        .write.parquet(s"$srcDir/p$i")
      partFile(s"$srcDir/p$i")
    }
    val id = Ingest.downloadTicketedFiles(spark, srcs, s"$dir/t")
    val t = Tickets.await(id, timeoutMs = 300000).get
    assert(t.state === Tickets.Done)
    val fs = Tickets.fileSlots(id)
    assert(fs.map(_.path).toSet === srcs.toSet)
    // every slot reached DONE with the source file's actual byte count
    fs.foreach { s =>
      assert(s.state === Tickets.Done, s"slot ${s.path}")
      assert(s.bytes === new java.io.File(s.path).length(), s"bytes of ${s.path}")
    }
    // published table is the union of the copied shards
    assert(Ingest.readPublished(spark, s"$dir/t").count() === nation.count())
    // the verb surface shows one line per file under the ticket
    val listing = GraftService.call(spark, "downloads")
    assert(listing.contains(id))
    srcs.foreach(src => assert(listing.contains(src), s"listing missing $src"))
    // a failing file marks its slot FAILED and the ticket FAILED, no publish
    val bad = Ingest.downloadTicketedFiles(spark,
      Seq(s"$sf/region.parquet", s"$dir/definitely-missing.parquet"), s"$dir/t2")
    val tb = Tickets.await(bad, timeoutMs = 300000).get
    assert(tb.state === Tickets.Failed)
    val badSlots = Tickets.fileSlots(bad).sortBy(_.path)
    assert(badSlots.exists(_.state === Tickets.Failed))
    assert(badSlots.exists(_.state === Tickets.Done))
    assert(!new java.io.File(s"$dir/t2/_MANIFEST").exists())
    // ...and the failed ingest's staged version dir is cleaned up, not
    // left orphaned on disk
    val t2data = new java.io.File(s"$dir/t2/data")
    assert(!t2data.exists() || t2data.listFiles().isEmpty,
      s"orphaned staging: ${Option(t2data.listFiles()).map(_.toSeq)}")
  }

  test("multi-file ingest: same-basename sources do not overwrite each other") {
    val dir = Files.createTempDirectory("graft-dup").toString
    val srcDir = Files.createTempDirectory("graft-dupsrc").toString
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    def partFile(d: String): String =
      new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet"))
        .head.getAbsolutePath
    // two shards that Spark names identically (part-00000-*.parquet is the
    // standard multi-part layout) staged from different directories
    nation.filter(col("n_nationkey") < 10).coalesce(1).write.parquet(s"$srcDir/a")
    nation.filter(col("n_nationkey") >= 10).coalesce(1).write.parquet(s"$srcDir/b")
    val pa = new java.io.File(partFile(s"$srcDir/a"))
    val pb0 = new java.io.File(partFile(s"$srcDir/b"))
    // force the SAME basename for both sources
    val pb = new java.io.File(pb0.getParent, pa.getName)
    assert(pb0.renameTo(pb))
    val id = Ingest.downloadTicketedFiles(spark,
      Seq(pa.getAbsolutePath, pb.getAbsolutePath), s"$dir/t")
    assert(Tickets.await(id, timeoutMs = 300000).get.state === Tickets.Done)
    assert(Ingest.readPublished(spark, s"$dir/t").count() === nation.count())
  }

  test("callWithRetry: transient failure retried, hard timeout cancels and raises") {
    // fails on attempt 0, succeeds on attempt 1 — the redial-and-retry path
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val got = GraftService.callWithRetry(spark, "flaky", timeoutMs = 30000) {
      if (attempts.getAndIncrement() == 0) throw new RuntimeException("transient")
      spark.range(10).count()
    }
    assert(got === 10L && attempts.get() === 2)
    // deterministic application errors surface immediately, unretried
    val badTries = new java.util.concurrent.atomic.AtomicInteger(0)
    intercept[BadCallException] {
      GraftService.callWithRetry(spark, "invalid") {
        badTries.getAndIncrement()
        throw new BadCallException("unsupported agg op")
      }
    }
    assert(badTries.get() === 1)
    // every attempt times out → CallTimeoutException after retries+1 tries
    val tries = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[CallTimeoutException] {
      GraftService.callWithRetry(spark, "stuck", timeoutMs = 300, retries = 2) {
        tries.getAndIncrement(); Thread.sleep(60000); 0L
      }
    }
    assert(e.getMessage.contains("3 attempts") && tries.get() === 3)
  }

  test("one generated class serves every filter value: calls that differ " +
    "only in comparison values compile nothing and return their own rows") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val files = Seq(s"$sf/lineitem.parquet")
    val keys = Seq("l_returnflag", "l_linestatus")
    val aggs = Seq(AggSpec("l_quantity", "sum", "sum_qty"),
      AggSpec("l_extendedprice", "max", "max_price"),
      AggSpec("l_orderkey", "count", "n"))
    def call(price: Double, order: Long) =
      GraftService.groupby(spark, GraftService.GroupByCall(files, keys, aggs,
        Seq(FilterTerm("l_extendedprice", ">", price),
          FilterTerm("l_orderkey", "<", order)))).get
        .orderBy(keys.map(col): _*).collect().toSeq
    def plain(price: Double, order: Long) =
      spark.read.parquet(files: _*)
        .filter(col("l_extendedprice") > price && col("l_orderkey") < order)
        .groupBy(keys.map(col): _*)
        .agg(sum("l_quantity"), max("l_extendedprice"), count("l_orderkey"))
        .orderBy(keys.map(col): _*).collect().toSeq
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    call(20000.5, 1200L) // warm: the shape compiles here, once
    val c0 = compiles()
    val second = call(35000.25, 900L)
    val c1 = compiles()
    val third = call(50000.75, 600L)
    val c2 = compiles()
    assert(c1 - c0 === 0L, "the second value compiled new code")
    assert(c2 - c1 === 0L, "the third value compiled new code")
    assert(second === plain(35000.25, 900L))
    assert(third === plain(50000.75, 600L))
    assert(second.nonEmpty && third.nonEmpty && second != third)
  }

  test("a bad column or value at the service boundary is a BadCallException, " +
    "raised on the first attempt inside callWithRetry") {
    def call(keys: Seq[String], aggs: Seq[AggSpec], where: Seq[FilterTerm]) =
      GraftService.groupby(spark, GraftService.GroupByCall(
        Seq(s"$sf/lineitem.parquet"), keys, aggs, where))
    val qty = Seq(AggSpec("l_quantity", "sum", "q"))
    val cases = Seq[(String, () => Any)](
      "no_such_key" -> (() => call(Seq("no_such_key"), qty, Nil)),
      "no_such_input" -> (() => call(Seq("l_returnflag"),
        Seq(AggSpec("no_such_input", "sum", "s")), Nil)),
      "no_such_filter_col" -> (() => call(Seq("l_returnflag"), qty,
        Seq(FilterTerm("no_such_filter_col", ">", 1.0)))),
      "l_shipdate" -> (() => call(Seq("l_returnflag"), qty,
        Seq(FilterTerm("l_shipdate", ">", true)))))
    cases.foreach { case (column, run) =>
      val e = intercept[BadCallException](run())
      assert(e.getMessage.contains(s"'$column'"), e.getMessage)
    }
    // not transient: callWithRetry surfaces it on the first attempt
    val tries = new java.util.concurrent.atomic.AtomicInteger(0)
    intercept[BadCallException] {
      GraftService.callWithRetry(spark, "bad filter column") {
        tries.incrementAndGet()
        call(Seq("l_returnflag"), qty, Seq(FilterTerm("no_such_filter_col", "<", 3L)))
      }
    }
    assert(tries.get() === 1)
    // a read failure is not a bad call: the files, not the spec, are at fault
    val dir = Files.createTempDirectory("graft-badread")
    val junk = dir.resolve("junk.parquet")
    Files.writeString(junk, "not parquet")
    val readErr = intercept[Throwable](GraftService.groupby(spark,
      GraftService.GroupByCall(Seq(junk.toString), Seq("a"), qty)))
    assert(!readErr.isInstanceOf[BadCallException], readErr)
    // ...but it is typed, names the file, keeps the cause, and is not retried
    assert(readErr.isInstanceOf[ShardFaultException], readErr)
    assert(readErr.getMessage.contains("junk.parquet") && readErr.getCause != null,
      readErr.getMessage)
    val junkTries = new java.util.concurrent.atomic.AtomicInteger(0)
    intercept[ShardFaultException] {
      GraftService.callWithRetry(spark, "junk shard") {
        junkTries.incrementAndGet()
        GraftService.groupby(spark,
          GraftService.GroupByCall(Seq(junk.toString), Seq("a"), qty))
      }
    }
    assert(junkTries.get() === 1)
  }

  test("shards whose field types do not widen raise a typed ShardFaultException " +
    "naming the field, raised on the first attempt inside callWithRetry") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-conflict").toString
    Seq((1, "a")).toDF("k", "v").coalesce(1).write.parquet(s"$dir/s1")
    Seq(("oops", "b")).toDF("k", "v").coalesce(1).write.parquet(s"$dir/s2")
    val shards = Seq(s"$dir/s1", s"$dir/s2")
    val tries = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[ShardFaultException] {
      GraftService.callWithRetry(spark, "conflicting shards") {
        tries.incrementAndGet()
        GraftService.groupby(spark, GraftService.GroupByCall(shards, Seq("v"),
          Seq(AggSpec("k", "count", "n"))))
      }
    }
    assert(tries.get() === 1)
    assert(!e.isInstanceOf[BadCallException])
    assert(e.getMessage.contains("'k'"), e.getMessage)
  }

  test("a shard whose footer does not decode raises a typed ShardFaultException " +
    "naming the file, raised on the first attempt inside callWithRetry") {
    // a copy of a fixture file with valid magic bytes and footer length,
    // its footer bytes overwritten with 0xFF: the thrift decode of the file
    // metadata fails (an IOException over a TProtocolException)
    val dir = Files.createTempDirectory("graft-badfooter")
    val bad = dir.resolve("badfooter.parquet")
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(s"$sf/lineitem.parquet"))
    val footerLen = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    java.util.Arrays.fill(bytes, bytes.length - 8 - footerLen, bytes.length - 8, 0xFF.toByte)
    Files.write(bad, bytes)
    val tries = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[ShardFaultException] {
      GraftService.callWithRetry(spark, "corrupt footer") {
        tries.incrementAndGet()
        GraftService.groupby(spark, GraftService.GroupByCall(Seq(bad.toString),
          Seq("l_returnflag"), Seq(AggSpec("l_quantity", "sum", "q"))))
      }
    }
    assert(tries.get() === 1)
    assert(e.getMessage.contains("badfooter.parquet") && e.getCause != null, e.getMessage)
  }

  test("sleep with a non-numeric 'seconds' is a BadCallException naming it") {
    val e = intercept[BadCallException] {
      GraftService.call(spark, "sleep", Map("seconds" -> "soon"))
    }
    assert(e.getMessage.contains("'seconds'") && e.getMessage.contains("soon"), e.getMessage)
    assert(GraftService.call(spark, "sleep", Map("seconds" -> "0.001")) === "done")
  }

  test("sleep with a negative 'seconds' is a BadCallException naming it") {
    val e = intercept[BadCallException] {
      GraftService.call(spark, "sleep", Map("seconds" -> "-1"))
    }
    assert(e.getMessage.contains("'seconds'") && e.getMessage.contains("-1"), e.getMessage)
  }

  test("loglevel with an unknown level is a BadCallException naming it") {
    val e = intercept[BadCallException] {
      GraftService.call(spark, "loglevel", Map("level" -> "chatty"))
    }
    assert(e.getMessage.contains("'level'") && e.getMessage.contains("chatty"), e.getMessage)
    assert(GraftService.call(spark, "loglevel", Map("level" -> "warn")) === "ok")
  }

  test("oversized results raise the typed ResultTooBigException") {
    // pre-flight cap: a whole-table collect against a tiny cap fails before
    // any task runs (the reference's FileTooBigError pre-check semantics)
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val e = intercept[ResultTooBigException] {
      GraftService.collectResult(li, maxResultBytes = 1024L)
    }
    assert(e.getMessage.contains("exceeds the configured cap"))
    // the same cap passes a result that fits
    assert(GraftService.collectResult(li.limit(1).select(col("l_orderkey")),
      maxResultBytes = 1L << 20).length === 1)
    // aggregates are NOT pre-flight-rejected: Catalyst estimates them from
    // their input (GBs), but the result is 6 rows — only the post-hoc
    // backstop applies to such plans
    assert(GraftService.collectResult(
      li.groupBy("l_returnflag", "l_linestatus").count(),
      maxResultBytes = 1024L).length > 0)
    // Arrow wire applies the cap too
    intercept[ResultTooBigException] {
      ArrowResult.toArrowBytes(li.select(col("l_orderkey")), maxResultBytes = 16L)
    }
    // post-hoc: the scheduler's own maxResultSize abort (raised as a nested
    // SparkException) classifies into the same typed error
    val sparkAbort = new org.apache.spark.SparkException(
      "Job aborted due to stage failure: Total size of serialized results " +
        "of 3 tasks (2.0 GiB) is bigger than spark.driver.maxResultSize (1.0 GiB)")
    assert(GraftService.isResultCapAbort(new RuntimeException("wrap", sparkAbort)))
    assert(!GraftService.isResultCapAbort(new RuntimeException("unrelated")))
  }

  test("affinity kwarg routes the calling thread to a scheduler pool") {
    val out = GraftService.groupby(spark, GraftService.GroupByCall(
      filenames = Seq(s"$sf/lineitem.parquet"),
      groupby = Seq("l_returnflag"),
      aggs = Seq(AggSpec("l_quantity", "sum", "s")),
      affinity = Some("batch_pool")))
    assert(out.get.count() === 3) // action runs under the pool
    assert(spark.sparkContext.getLocalProperty("spark.scheduler.pool") === "batch_pool")
    // a following call WITHOUT affinity must restore the default pool, not
    // silently inherit batch_pool
    GraftService.groupby(spark, GraftService.GroupByCall(
      filenames = Seq(s"$sf/lineitem.parquet"),
      groupby = Seq("l_returnflag"),
      aggs = Seq(AggSpec("l_quantity", "sum", "s"))))
    assert(spark.sparkContext.getLocalProperty("spark.scheduler.pool") == null)
  }

  test("info reports queue depth per affinity pool while a pooled job runs") {
    import org.apache.spark.sql.functions.udf
    OpsApi.ensurePoolMonitor(spark)
    // a deliberately slow job under a named pool, on its own thread (pool
    // tagging is thread-local) — each task sleeps so the job stays active
    // long enough for info() to observe it
    val slow = udf { (x: Long) => Thread.sleep(400); x }
    val t = new Thread(() => {
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", "probe_pool")
      try spark.range(0, 8, 1, 8).select(slow(col("id"))).collect()
      finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
    })
    t.start()
    try {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var seen: Option[OpsApi.PoolStats] = None
      while (seen.isEmpty && System.nanoTime() < deadline) {
        seen = OpsApi.info(spark).pools.get("probe_pool")
        if (seen.isEmpty) Thread.sleep(25)
      }
      assert(seen.nonEmpty, "pooled job never surfaced in info().pools")
      assert(seen.get.activeJobs >= 1)
      // task-level depth is non-negative and bounded by the job's size
      assert(seen.get.pendingTasks + seen.get.runningTasks <= 8)
    } finally t.join()
    // after completion the pool drains from the registry
    val after = OpsApi.info(spark).pools.get("probe_pool")
    assert(after.isEmpty || after.get.activeJobs === 0)
  }

  test("pool monitor self-evicts when the application ends (no cross-context leak)") {
    OpsApi.ensurePoolMonitor(spark)
    val appId = spark.sparkContext.applicationId
    val m = OpsApi.poolMonitorFor(appId)
    assert(m.nonEmpty, "monitor must be registered")
    // fire the lifecycle event directly (stopping the shared test context
    // would kill every other suite): the listener must drop its static map
    // entry, clear its jobs state, and deregister itself
    m.get.onApplicationEnd(
      org.apache.spark.scheduler.SparkListenerApplicationEnd(0L))
    assert(!OpsApi.hasPoolMonitor(appId), "entry must evict on app end")
    assert(m.get.jobs.isEmpty, "job state must clear on app end")
    // a live context can re-register afterwards (idempotent ensure)
    OpsApi.ensurePoolMonitor(spark)
    assert(OpsApi.hasPoolMonitor(appId))
  }

  test("BPE artifact round-trip: train -> versioned publish -> cold " +
    "reload -> bit-equal tokenization; re-publish flips atomically") {
    import spark.implicits._
    import graft.ops.{TextAnalysis => TA}
    val dir = Files.createTempDirectory("graft-bpe").toString + "/bpe"
    val corpus = Seq("low lower lowest", "low low slow slower",
      "newer newest lower low", "café ueber café").toDF("text")
    val merges = TA.bpeTrain(corpus, col("text"), nMerges = 6,
      byteLevel = true)
    assert(merges.nonEmpty)
    TA.bpeSave(spark, merges, byteLevel = true, dir)
    val (loaded, byteLevel) = TA.bpeLoad(spark, dir)
    assert(loaded === merges && byteLevel)
    // the reloaded artifact must tokenize EVERY probe bit-identically to
    // the trainer's in-memory list (q173's metering contract)
    val probes = Seq("lowest slow café zz", "newer low", "").toDF("t")
    val both = probes.select(
      TA.bpeTokens(col("t"), merges, byteLevel = true).as("mem"),
      TA.bpeTokens(col("t"), loaded, byteLevel).as("cold")).collect()
    both.foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1)))
    // retrain deeper, re-publish: readers flip to the new version whole
    val merges2 = TA.bpeTrain(corpus, col("text"), nMerges = 10,
      byteLevel = true)
    TA.bpeSave(spark, merges2, byteLevel = true, dir)
    val (loaded2, _) = TA.bpeLoad(spark, dir)
    assert(loaded2 === merges2 && loaded2.length > loaded.length)
  }

  test("prefix-cache schedule publishes through the atomic manifest and " +
    "reloads bit-equal; a re-publish flips readers to the new version " +
    "whole (r18 verdict #7 — serving teams consume FILES)") {
    import spark.implicits._
    import graft.ops.Chunking
    val dir = Files.createTempDirectory("graft-sched").toString + "/sched"
    val prompts = Seq(("g", "a b c"), ("g", "a b d"), ("g", "a b c"),
      ("h", "x y")).toDF("grp", "p")
    val sched = Chunking.prefixCacheSchedule(prompts, col("grp"), col("p"))
    Chunking.prefixCacheScheduleSave(sched, dir)
    val cold = Chunking.prefixCacheScheduleLoad(spark, dir)
    val key = Seq("grp", "serve_order")
    assert(cold.orderBy(key.map(col): _*).collect().toSeq ===
      sched.orderBy(key.map(col): _*).collect().toSeq,
      "cold reload must be bit-equal to the published schedule")
    // conservation survives the round-trip per row
    cold.collect().foreach(r =>
      assert(r.getLong(3) === r.getLong(4) + r.getLong(5)))
    // new prompt set, re-publish: readers see the NEW version whole
    val prompts2 = prompts.union(Seq(("g", "a b c e")).toDF("grp", "p"))
    val sched2 = Chunking.prefixCacheSchedule(prompts2, col("grp"), col("p"))
    Chunking.prefixCacheScheduleSave(sched2, dir)
    val cold2 = Chunking.prefixCacheScheduleLoad(spark, dir)
    assert(cold2.count() === 5 &&
      cold2.orderBy(key.map(col): _*).collect().toSeq ===
        sched2.orderBy(key.map(col): _*).collect().toSeq)
    // the wrong shape is rejected before anything publishes
    intercept[IllegalArgumentException] {
      Chunking.prefixCacheScheduleSave(prompts, dir)
    }
    ()
  }

  test("arrow result round-trips every wire type including nulls") {
    val df = spark.sql(
      """SELECT * FROM VALUES
           (1, CAST(10 AS BIGINT), CAST(1.5 AS FLOAT), CAST(2.5 AS DOUBLE),
            true, 'alpha', CAST('ab' AS BINARY),
            DATE'2024-02-29', TIMESTAMP'2024-02-29 12:34:56.789012'),
           (2, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)
         AS t(i, l, f, d, b, s, bin, dt, ts)""")
    val bytes = ArrowResult.toArrowBytes(df)
    assert(bytes.length > 0)
    val back = ArrowResult.fromArrowBytes(spark, bytes)
    assert(back.schema.map(_.dataType) === df.schema.map(_.dataType))
    val a = df.orderBy("i").collect().map(r =>
      r.toSeq.map { case x: Array[Byte] => x.toSeq; case x => x })
    val b = back.orderBy("i").collect().map(r =>
      r.toSeq.map { case x: Array[Byte] => x.toSeq; case x => x })
    assert(a.toSeq === b.toSeq)
  }

  test("arrow wire round-trips nested array/struct outputs (sketch + profile shapes)") {
    import org.apache.spark.sql.functions.{call_function, lit => flit}
    graft.GraftExtensions.ensureRegistered(spark)
    // the real SpaceSaving shape: grp -> array<struct<term,cnt,err>> — the
    // exact output the round-6 wire could not ship without flattening
    import spark.implicits._
    val toks = Seq(("en", "a"), ("en", "a"), ("en", "b"), ("de", "x"))
      .toDF("lang", "tok")
    val sketch = toks.groupBy("lang")
      .agg(call_function("space_saving", col("tok"), flit(4)).as("hh"))
    val back = ArrowResult.fromArrowBytes(spark, ArrowResult.toArrowBytes(sketch))
    // the wire is all-nullable by design; types and values must be identical
    import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}
    def nn(dt: DataType): DataType = dt match {
      case s: StructType =>
        StructType(s.fields.map(f => StructField(f.name, nn(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nn(a.elementType), containsNull = true)
      case d => d
    }
    assert(nn(back.schema) === nn(sketch.schema))
    assert(back.orderBy("lang").collect().toSeq ===
      sketch.orderBy("lang").collect().toSeq)
    // nested nulls + empty list + NTZ timestamps survive the wire
    val tricky = spark.sql(
      """SELECT * FROM VALUES
           (1, array(named_struct('t', 'a', 'n', CAST(3 AS BIGINT)),
                     CAST(NULL AS STRUCT<t: STRING, n: BIGINT>)),
            array(CAST(1.5 AS DOUBLE), NULL),
            TIMESTAMP_NTZ'2024-02-29 12:34:56.789012'),
           (2, NULL, array(), NULL)
         AS t(i, hh, xs, ts)""")
    val back2 = ArrowResult.fromArrowBytes(spark, ArrowResult.toArrowBytes(tricky))
    assert(back2.schema.map(_.dataType) === tricky.schema.map(_.dataType))
    assert(back2.orderBy("i").collect().toSeq ===
      tricky.orderBy("i").collect().toSeq)
    // the q114 profile report ships whole (flat but mixed-typed)
    val prof = graft.ops.Profiling.profile(
      spark.read.parquet(s"$sf/lineitem.parquet"), Seq("l_returnflag", "l_quantity"))
    val back3 = ArrowResult.fromArrowBytes(spark, ArrowResult.toArrowBytes(prof))
    assert(back3.orderBy("column").collect().toSeq ===
      prof.orderBy("column").collect().toSeq)
  }

  test("arrow wire round-trips map columns (incl. null values, empty and null maps)") {
    // map<string,bigint> with a null value, an empty map, a NULL map, and a
    // nested map<string,array<int>> value. Entries keep the result's order,
    // so re-serializing the decoded frame is byte-equal (pinned below).
    val df = spark.sql(
      """SELECT * FROM VALUES
           (1, map('b', CAST(2 AS BIGINT), 'a', CAST(1 AS BIGINT),
                   'z', CAST(NULL AS BIGINT)),
            map('k', array(1, 2), 'e', array())),
           (2, map(), CAST(NULL AS MAP<STRING, ARRAY<INT>>)),
           (3, CAST(NULL AS MAP<STRING, BIGINT>), map('x', array(CAST(NULL AS INT))))
         AS t(i, m, nested)""")
    val bytes = ArrowResult.toArrowBytes(df)
    val back = ArrowResult.fromArrowBytes(spark, bytes)
    assert(back.schema.map(_.dataType) === df.schema.map(_.dataType))
    assert(back.orderBy("i").collect().toSeq === df.orderBy("i").collect().toSeq)
    // deterministic wire: re-serializing the deserialized frame is byte-equal
    assert(ArrowResult.toArrowBytes(back.orderBy("i")).toSeq ===
      ArrowResult.toArrowBytes(df.orderBy("i")).toSeq)
    // non-scalar map keys ship too
    val arrayKey = spark.sql("SELECT map(array(1), 'v') AS m")
    val backKey = ArrowResult.fromArrowBytes(spark, ArrowResult.toArrowBytes(arrayKey))
    assert(backKey.schema.map(_.dataType) === arrayKey.schema.map(_.dataType))
    assert(backKey.collect().toSeq === arrayKey.collect().toSeq)
  }

  test("arrow wire round-trips decimal(38,10), tinyint, smallint and a " +
    "day-time interval with identical types") {
    val df = spark.sql(
      """SELECT * FROM VALUES
           (1, CAST('12345678901234567890.0123456789' AS DECIMAL(38,10)),
            CAST(-7 AS TINYINT), CAST(300 AS SMALLINT),
            INTERVAL '1 02:03:04.5' DAY TO SECOND),
           (2, NULL, NULL, NULL, NULL)
         AS t(i, dec, ti, si, iv)""")
    val back = ArrowResult.fromArrowBytes(spark, ArrowResult.toArrowBytes(df))
    assert(back.schema.map(_.dataType) === df.schema.map(_.dataType))
    assert(back.orderBy("i").collect().toSeq === df.orderBy("i").collect().toSeq)
  }

  test("a result over 3 partitions ships as exactly one record batch") {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.ipc.ArrowStreamReader
    val df = spark.range(0, 30).toDF().repartition(3)
    assert(df.rdd.getNumPartitions === 3)
    val bytes = ArrowResult.toArrowBytes(df)
    val allocator = new RootAllocator()
    val reader = new ArrowStreamReader(new java.io.ByteArrayInputStream(bytes), allocator)
    val rows = try Iterator.continually(reader.loadNextBatch()).takeWhile(identity)
      .map(_ => reader.getVectorSchemaRoot.getRowCount).toList
    finally { reader.close(); allocator.close() }
    assert(rows === List(30))
    assert(ArrowResult.fromArrowBytes(spark, bytes).orderBy("id").collect().toSeq ===
      df.orderBy("id").collect().toSeq)
  }

  test("an empty result decodes to 0 rows with its schema") {
    val df = spark.sql("SELECT 1 AS a, 'x' AS b, array(1.5) AS c").filter("a > 1")
    val back = ArrowResult.fromArrowBytes(spark, ArrowResult.toArrowBytes(df))
    assert(back.schema === df.schema)
    assert(back.count() === 0L)
  }

  test("toArrowBytes is one SQL execution: exactly one " +
    "QueryExecutionListener.onSuccess") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val queries = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(s"failed: $funcName")
    }
    // a one-task marker job: the shared listener queue delivers its start
    // after every event posted before it, the query events included
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicReference
    val tag = "graft.test.marker"
    val marker = new AtomicReference(new CountDownLatch(1))
    val markers = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(tag) != null)) marker.get.countDown()
    }
    def drain(): Unit = {
      val latch = new CountDownLatch(1)
      marker.set(latch)
      sc.setLocalProperty(tag, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(tag, null)
      assert(latch.await(30, TimeUnit.SECONDS), "listener bus did not drain")
    }
    spark.listenerManager.register(queries)
    sc.addSparkListener(markers)
    try {
      drain()
      seen.clear()
      ArrowResult.toArrowBytes(spark.range(0, 10).groupBy(col("id") % 3).count())
      drain()
      assert(seen.toArray.toSeq === Seq("toArrowBytes"))
    } finally {
      sc.removeSparkListener(markers)
      spark.listenerManager.unregister(queries)
    }
  }

  test("no org.apache.arrow import in src/main: the wire is Spark's own " +
    "Arrow codec") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"scanned only ${files.size} files under $root")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      t = line.trim if !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))
      if line.contains("org.apache.arrow")
    } yield s"${root.relativize(f)}:${i + 1}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("native cosine expression is bit-identical to the composable form") {
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = embs.filter(col("vec_id") === 0)
    val native = Similarity.bruteForceTopK(embs, col("vec_id"), col("embedding"),
      q, col("embedding"), 50, native = true).collect()
    val composed = Similarity.bruteForceTopK(embs, col("vec_id"), col("embedding"),
      q, col("embedding"), 50, native = false).collect()
    assert(native.map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      composed.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("native cosine yields null on null elements, like the composable form") {
    GraftExtensions.ensureRegistered(spark)
    val df = spark.sql(
      """SELECT cast(array(1.0, null) as array<float>) a,
                cast(array(1.0, 2.0) as array<float>) b""")
    val native = df.selectExpr("cosine_sim(a, b)").head
    assert(native.isNullAt(0))
    val composed = df.select(
      Similarity.cosine(Similarity.asDouble(col("a")),
        Similarity.asDouble(col("b")))).head
    assert(composed.isNullAt(0))
  }

  test("SQL function builders: descriptive arity errors, foldable int sizes accepted") {
    graft.GraftExtensions.ensureRegistered(spark)
    // wrong arg count surfaces the function's own message, not an
    // IndexOutOfBoundsException from blind exprs(1) access
    val e = intercept[Throwable] {
      spark.sql("SELECT space_saving(x) FROM VALUES ('a') t(x)").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("space_saving expects 2")),
      s"got: ${messages(e)}")
    // a foldable (non-literal) capacity is a constant too: 16+16 works
    val hh = spark.sql(
      """SELECT space_saving(x, 16+16) AS hh
         FROM VALUES ('a'), ('a'), ('b') t(x)""").collect()
    val top = hh(0).getSeq[org.apache.spark.sql.Row](0)
    assert(top.head.getString(0) === "a" && top.head.getLong(1) === 2L)
  }

  test("cosine_sim is callable from SQL once registered") {
    GraftExtensions.ensureRegistered(spark)
    spark.read.parquet(s"$sf/embeddings.parquet").createOrReplaceTempView("emb")
    val ok = spark.sql(
      """SELECT count(*) FROM emb a JOIN emb b ON a.vec_id = b.vec_id
         WHERE cosine_sim(a.embedding, b.embedding) > 0.999999""").head.getLong(0)
    assert(ok === spark.read.parquet(s"$sf/embeddings.parquet").count())
  }
}
