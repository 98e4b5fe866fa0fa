package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core._

/** A groupby call as the checks need it: the spec, the shipped Arrow
  * bytes, and what `ArrowResult.fromArrowBytes` decodes them to. */
final case class Call(files: Seq[String], keys: Seq[String], aggs: Seq[AggSpec],
    where: Seq[FilterTerm], var bytes: Array[Byte] = null) {
  def json(decoded: Seq[Any]): Map[String, Any] = Map(
    "files" -> files.map(f => new File(f).getName),
    "keys" -> keys,
    "aggs" -> aggs.map(a => Seq(a.input, a.op, a.output)),
    "where" -> where.map(t => Seq(t.col, t.op, t.value)),
    "rows" -> decoded)
}

object Calls {
  /** One client call: GraftService.groupby, then ship with toArrowBytes. */
  def run(spark: SparkSession, rec: Recorder, c: Call): Unit = {
    val df = rec.span("resolve") {
      GraftService.groupby(spark, GraftService.GroupByCall(c.files, c.keys, c.aggs, c.where))
        .getOrElse(throw new IllegalStateException("no shard of the call exists"))
    }
    c.bytes = rec.span("result") {
      val bytes = ArrowResult.toArrowBytes(df)
      rec.mark("bytes", bytes.length)
      bytes
    }
  }

  /** Write each call's spec, its Arrow bytes and the rows
    * `ArrowResult.fromArrowBytes` reads back from them. */
  def dump(spark: SparkSession, calls: Seq[Call], out: String, name: String): Unit = {
    new File(s"$out/arrow").mkdirs()
    val lines = calls.zipWithIndex.filter(_._1.bytes != null).map { case (c, i) =>
      Files.write(Paths.get(s"$out/arrow/$name-$i.arrow"), c.bytes)
      val rows = ArrowResult.fromArrowBytes(spark, c.bytes).collect().toSeq
      Json(c.json(rows) + ("arrow" -> s"arrow/$name-$i.arrow"))
    }
    Files.writeString(Paths.get(s"$out/$name.jsonl"), lines.mkString("\n"))
  }
}

/** `serve`: one closed-loop client of GraftService.groupby over lineitem
  * shards. Each pass calls every shape of a seeded repertoire once; every
  * call carries a filter literal no earlier call used, so each call plans
  * and compiles afresh and the codegen cache never hits. */
final class Serve(spark: SparkSession, rec: Recorder, o: Opts) extends Workload {
  val opSpan = "call"
  val nominalPassS = 3.5
  private val shards = new File(s"${o.data}/shards").listFiles()
    .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted.toSeq
  private val rng = new scala.util.Random(o.seed)
  val ShardsPerCall = 2
  private val keyCols = Seq("l_returnflag", "l_linestatus", "l_linenumber", "l_tax", "l_discount")
  private val aggChoices = Seq(("l_quantity", "sum"), ("l_extendedprice", "mean"),
    ("l_orderkey", "count"), ("l_discount", "min"), ("l_tax", "max"), ("l_quantity", "std"))
  /** Repertoire filter terms. None touches a group key and each keeps
    * most rows, so every shape scans and groups alike. */
  private def term(family: Int): FilterTerm = family match {
    case 0 => FilterTerm("l_quantity", ">=", (1 + rng.nextInt(4)).toDouble)
    case 1 => FilterTerm("l_orderkey", "<", 150000L - rng.nextInt(5000))
    case 2 => FilterTerm("l_orderkey", ">=", rng.nextInt(5000).toLong)
    case 3 => FilterTerm("l_partkey", "<", 19000L + rng.nextInt(1000))
    case _ => FilterTerm("l_suppkey", "!=", rng.nextInt(1000).toLong)
  }
  /** The repertoire: one shape per pair of group keys. Over the pass every
    * aggregate is used five times and every filter family twice, so the
    * seed changes which shape gets what, not how much work a pass does. */
  private val repertoire: Seq[(Seq[String], Seq[AggSpec], FilterTerm, Seq[String])] = {
    val pairs = keyCols.combinations(2).toSeq
    val aggs = Iterator.continually(rng.shuffle(Seq.fill(5)(aggChoices).flatten).grouped(3).toSeq)
      .find(_.forall(g => g.distinct.length == 3)).get
    val terms = rng.shuffle((0 until pairs.length).map(_ % 5))
    pairs.indices.map { i =>
      (pairs(i), aggs(i).zipWithIndex.map { case ((c, op), j) => AggSpec(c, op, s"a${j}_${op}_$c") },
        term(terms(i)), rng.shuffle(shards).take(ShardsPerCall).sorted)
    }
  }
  val Shapes = repertoire.length
  private var calls = 0
  private val done = ArrayBuffer.empty[Call]

  /** The next call of a shape, with a never-used literal that keeps every
    * row (l_extendedprice is at least 900). */
  private def call(shape: Int): Call = {
    val (keys, aggs, term, files) = repertoire(shape)
    calls += 1
    val fresh = FilterTerm("l_extendedprice", ">", 899.5 + calls * 1e-4 + (o.seed % 97) * 1e-7)
    Call(files, keys, aggs, Seq(term, fresh))
  }

  private def runPass(p: Int, keep: Boolean): Unit =
    new scala.util.Random(o.seed * 1000 + p).shuffle((0 until Shapes).toList).foreach { s =>
      val c = call(s)
      attempt(s"call $s") {
        rec.span(opSpan, s.toString)(Calls.run(spark, rec, c))
        if (keep) done += c
      }
    }

  def setup(): Unit = (1 to 2).foreach(p => runPass(-p, keep = false))
  def pass(p: Int): Unit = runPass(p, keep = true)
  def finish(out: String): Unit = Calls.dump(spark, done.toSeq, out, "serve")
  def layerMetrics(traced: Seq[Span]): Map[String, Double] = Layers.service(rec, traced)
}

/** `ingest`: a client cycling copy-on-write writes and reads on a table
  * published with Ingest. One cycle appends a batch (atomicPublish of the
  * current rows plus the batch), deletes a seeded key set (deleteByKeys)
  * and runs a groupby over the files of the current version; every pass
  * ends with a vacuum. */
final class IngestCycle(spark: SparkSession, rec: Recorder, o: Opts) extends Workload {
  val opSpan = "cycle"
  val nominalPassS = 5.0
  val Initial = 20000L
  val Batch = 2000L
  val CyclesPerPass = 5
  /** A live key is deleted in cycle k when mix(id, k) % DeleteMod == 0;
    * with DeleteMod = Initial / Batch the table stays near Initial rows. */
  val DeleteMod = 10L
  private val table = s"${o.data}/table"
  private var nextId = Initial
  private val live = mutable.LinkedHashSet.empty[Long] ++ (0L until Initial)
  private var cycle = 0
  private val log = ArrayBuffer.empty[Map[String, Any]]
  private val queries = ArrayBuffer.empty[Call]

  private val rng = new scala.util.Random(o.seed)
  private val discountCap = 0.05 + rng.nextInt(5) / 100.0
  private val groupKeys = rng.shuffle(Seq("l_returnflag", "l_linestatus")).take(1 + rng.nextInt(2))

  /** Rows [lo, hi): every column is integer arithmetic on the id, so an
    * independent engine can rebuild them exactly. */
  private def rows(lo: Long, hi: Long): DataFrame = {
    val id = col("id")
    val s = o.seed
    spark.range(lo, hi).select(
      id.as("l_id"),
      element_at(array(lit("A"), lit("N"), lit("R")), ((id * 31 + s) % 3 + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), ((id * 17 + s) % 2 + 1).cast("int")).as("l_linestatus"),
      ((id * 7919 + s) % 50 + 1).cast("double").as("l_quantity"),
      (lit(900.0) + ((id * 104729 + s) % 1041000).cast("double") / 100.0).as("l_extendedprice"),
      (((id * 13 + s) % 11).cast("double") / 100.0).as("l_discount"))
  }

  private def mix(id: Long, k: Int): Long =
    ((id * 2654435761L + o.seed * 97L + k * 1000003L) & 0xffffffffL) % DeleteMod

  private def versionFiles(): Seq[String] = {
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(table, "_MANIFEST"))
    val dir = try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
    fs.listStatus(new Path(dir)).map(_.getPath.toString).filter(_.endsWith(".parquet")).sorted.toSeq
  }

  private def runCycle(): Unit = {
    val k = cycle
    cycle += 1
    val lo = nextId
    nextId += Batch
    val doomed = live.iterator.filter(id => mix(id, k) == 0).toVector
    val q = Call(Nil, groupKeys, Seq(AggSpec("l_id", "count", "n"), AggSpec("l_id", "sum", "id_sum"),
      AggSpec("l_extendedprice", "sum", "revenue"), AggSpec("l_quantity", "mean", "avg_qty")),
      Seq(FilterTerm("l_discount", "<=", discountCap)))
    attempt(s"cycle $k") {
      rec.span(opSpan, k.toString) {
        rec.span("append") {
          Ingest.atomicPublish(Ingest.readPublished(spark, table).unionByName(rows(lo, nextId)), table)
        }
        rec.span("delete")(Ingest.deleteByKeys(spark, table, "l_id", doomed))
        rec.span("query") {
          val call = q.copy(files = versionFiles())
          rec.mark("files", call.files.length)
          Calls.run(spark, rec, call)
          queries += call
        }
      }
    }
    (lo until nextId).foreach(live += _)
    doomed.foreach(live -= _)
    log += Map("cycle" -> k, "appended" -> Seq(lo, nextId), "deleted" -> doomed,
      "live" -> live.size)
  }

  private def runPass(): Unit = {
    (0 until CyclesPerPass).foreach(_ => runCycle())
    attempt("vacuum")(rec.span("vacuum")(Ingest.vacuum(spark, table, graceMs = 0L)))
  }

  def setup(): Unit = {
    Ingest.atomicPublish(rows(0, Initial), table)
    runPass()
  }
  def pass(p: Int): Unit = runPass()

  def finish(out: String): Unit = {
    Calls.dump(spark, queries.toSeq, out, "ingest")
    Json.write(s"$out/ingest.json", Map(
      "seed" -> o.seed, "initial" -> Initial, "log" -> log.toSeq,
      "final_files" -> versionFiles().map(f => new Path(f).toUri.getPath)))
  }

  def layerMetrics(traced: Seq[Span]): Map[String, Double] = {
    def meanMs(name: String) = Stats.mean(traced.flatMap(p => rec.within(p, name)).map(_.ms))
    val cycles = traced.flatMap(p => rec.within(p, opSpan))
    // bytes written by the two copy-on-write steps per byte of the rows the
    // batch added, sized at the table's own stored bytes per row
    val amp = cycles.map { c =>
      val writes = rec.childrenOf(c).filter(s => s.name == "append" || s.name == "delete")
        .flatMap(rec.tasksIn).map(_.written).sum.toDouble
      val tableBytes = versionFiles().map(f => new File(new Path(f).toUri.getPath).length).sum
      writes / (Batch * tableBytes.toDouble / live.size)
    }
    Layers.service(rec, traced) ++ Map(
      "ingest.append_ms" -> meanMs("append"),
      "ingest.delete_ms" -> meanMs("delete"),
      "ingest.query_ms" -> meanMs("query"),
      "ingest.vacuum_ms" -> meanMs("vacuum"),
      "ingest.write_amp" -> Stats.mean(amp),
      "ingest.files" -> Stats.mean(traced.flatMap(p => rec.within(p, "query"))
        .map(_.extra.getOrElse("files", 0.0))))
  }
}

/** `inventory`: a fixed slice of SparkEntry.queries, each run once in
  * set-up (its result kept for the oracle check) and then timed as a full
  * materialization through the noop sink, in a seeded order per pass. The
  * service layer is not involved. */
final class Inventory(spark: SparkSession, rec: Recorder, o: Opts) extends Workload {
  val opSpan = "query"
  val nominalPassS = 5.0
  /** Each query's median needs three samples to shrug off one slow pass. */
  override val minPasses = 3
  private val retained = mutable.Map.empty[String, ArrayBuffer[Double]]

  private def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
  private def storageMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Each query once, its result kept for the check, then one untimed
    * pass: the first timed pass would otherwise still be warming the JIT. */
  def setup(): Unit = {
    Inventory.Slice.foreach { q =>
      attempt(q) {
        SparkEntry.queries(q)(spark, o.data).coalesce(1).write.parquet(s"${o.out}/results/$q")
      }
      release()
    }
    pass(-1)
  }

  def pass(p: Int): Unit =
    new scala.util.Random(o.seed * 1000 + p).shuffle(Inventory.Slice).foreach { q =>
      attempt(q) {
        rec.span(opSpan, q) {
          SparkEntry.queries(q)(spark, o.data).write.format("noop").mode("overwrite").save()
        }
      }
      if (rec.detail) retained.getOrElseUpdate(q, ArrayBuffer.empty) += storageMb()
      release()
    }

  def finish(out: String): Unit =
    Json.write(s"$out/inventory.json", Inventory.Slice.map(q => q -> SparkEntry.oracleSql(q)).toMap)

  def layerMetrics(traced: Seq[Span]): Map[String, Double] = {
    val queries = traced.flatMap(p => rec.within(p, opSpan))
    val perQuery = Inventory.Slice.flatMap { q =>
      val ss = queries.filter(_.label == q)
      Seq(s"q.$q.s" -> Stats.mean(ss.map(_.ms / 1000)),
        s"q.$q.task_cpu_s" -> Stats.mean(ss.map(s => rec.tasksIn(s).map(_.cpuNs).sum / 1e9)))
    }
    perQuery.toMap ++ Map("ops.retained_mb" ->
      Inventory.Slice.map(q => Stats.mean(retained.getOrElse(q, ArrayBuffer.empty[Double]).toSeq)).sum)
  }
}

object Inventory {
  val Slice: List[String] = List(
    "q301_ml_curate_funnel", "q177_paragraph_dedup",
    "q46_minhash_lsh", "q47_simhash", "q78_stratified_sample", "q16_tpch_q3",
    "q48_ann_brute")
}
