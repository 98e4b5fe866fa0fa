package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Dev-only per-query profiler, the one runner behind the SCALING
  * artifact and the per-stage view this UI-less engine has instead of the
  * Spark UI. Each query runs once to warm up and once measured, storage
  * purged before each (Bench's noop-write materialization). The measured
  * run yields one JSON record: `wall` and `cpu` (process cpu-seconds, the
  * load-immune figure `tools/scale_report.py` joins) plus the layer
  * readings, named as `BENCHMARK.json`'s `per_layer` metrics where
  * perfbench takes the same reading:
  *
  *  - `jvm.gc_ms`, `jvm.jit_ms`: collector and JIT compiler time;
  *  - `codegen.compiles`: Janino compiles;
  *  - `stages`, `stage_run_s`: completed stages and their summed
  *    executor run time;
  *  - `exec.tasks`, `exec.task_cpu_s`, `exec.scan_mb`, `exec.shuffle_mb`:
  *    tasks, executor cpu, input bytes and shuffle-write bytes;
  *  - `ops.retained_mb`: block-manager storage the measured run leaves
  *    behind, read before Profile's purge releases it;
  *  - `plan.analysis_ms`, `plan.optimization_ms`, `plan.planning_ms`:
  *    the `QueryExecution.tracker` phases of the query's DataFrame and of
  *    every query execution the measured run completed.
  *
  * The measured run's stages, slowest first, go to stderr.
  *
  * Usage: runMain graft.Profile <sfDir> <outJson> [query ...]
  * (no query names: every SparkEntry query). A dev tool: Bench is the
  * benchmark entry point. */
object Profile {

  /** Local property that tags the jobs of one measured run, so stages
    * of the warm-up run or of another caller never count. */
  private val Tag = "graft.profile"

  private final case class StageRow(id: Int, name: String, tasks: Int,
    runMs: Long, cpuNs: Long, srBytes: Long, swBytes: Long, inBytes: Long)

  /** Collects the completed stages of tagged jobs. Spark delivers events
    * on its listener-bus thread, in order. */
  private final class StageListener extends SparkListener {
    private val tagOf = new ConcurrentHashMap[Int, String]()
    private val rows = new ConcurrentLinkedQueue[(String, StageRow)]()

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Tag)))
        .foreach(tagOf.put(e.stageInfo.stageId, _))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(tagOf.remove(e.stageInfo.stageId)).foreach { t =>
        val si = e.stageInfo
        val m = si.taskMetrics
        rows.add(t -> StageRow(si.stageId, si.name.takeWhile(_ != '\n'),
          si.numTasks, m.executorRunTime, m.executorCpuTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead))
      }

    /** Removes and returns the stages tagged `tag`. */
    def take(tag: String): Seq[StageRow] = {
      val got = rows.asScala.filter(_._1 == tag).toSeq
      got.foreach(rows.remove)
      got.map(_._2)
    }

    /** Blocks until every event posted before now is delivered: a
      * one-task marker job's stage completes after all earlier events. */
    def drain(spark: SparkSession, marker: String): Unit = {
      tagged(spark, marker)(spark.sparkContext.parallelize(Seq(1), 1).count())
      val deadline = System.currentTimeMillis() + 30000
      while (!rows.asScala.exists(_._1 == marker) &&
        System.currentTimeMillis() < deadline) Thread.sleep(1)
      take(marker)
      ()
    }
  }

  /** Keeps the planning tracker of every query execution that ends.
    * Callbacks run on the listener-bus thread. */
  private final class PhaseListener extends QueryExecutionListener {
    private val seen = new ConcurrentLinkedQueue[QueryPlanningTracker]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      seen.add(qe.tracker)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      seen.add(qe.tracker)

    /** Removes and returns every tracker seen so far. */
    def take(): Seq[QueryPlanningTracker] =
      Iterator.continually(seen.poll()).takeWhile(_ != null).toSeq
  }

  private def tagged[T](spark: SparkSession, tag: String)(body: => T): T = {
    spark.sparkContext.setLocalProperty(Tag, tag)
    try body finally spark.sparkContext.setLocalProperty(Tag, null)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <outJson> [query ...]")
    val spark = GraftSession.create("graft-profile")
    try {
      val failed = run(spark, args(0), args(1), args.drop(2).toSeq)
      if (failed.nonEmpty)
        System.err.println(s"[profile] failed: ${failed.mkString(", ")}")
    } finally spark.stop()
  }

  /** Profiles `names` (empty: every SparkEntry query, sorted) and writes
    * `{"sf":…,"queries":{name:record,…}}` to `outJson`. Crash-resumable:
    * each finished query appends `{"q":name,…record}` to
    * `<outJson>.progress`, and a later call skips every name already
    * there, so a multi-hour run at 10× data never restarts from zero. A
    * query that throws is logged, skipped and returned among the failed
    * names. The listeners are removed on return; the session stays open. */
  def run(spark: SparkSession, sfDir: String, outJson: String,
      names: Seq[String]): Seq[String] = {
    val todo = if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names
    val progress = Paths.get(outJson + ".progress")
    val done = scala.collection.mutable.LinkedHashMap.empty[String, String]
    if (Files.exists(progress)) {
      val Line = """\{"q":"([^"]+)",(.*)\}""".r
      Files.readAllLines(progress).asScala.foreach {
        case Line(n, body) => done(n) = body
        case _             => ()
      }
      System.err.println(s"[profile] resuming: ${done.size} queries already recorded")
    }
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new StageListener
    val phases = new PhaseListener
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(phases)
    try todo.filterNot(done.contains).foreach { n =>
      try {
        val body = measure(spark, listener, phases, sfDir, n)
        done(n) = body
        Files.writeString(progress, s"""{"q":"$n",$body}""" + "\n",
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      } catch {
        case e: Throwable =>
          System.err.println(s"[profile] $n FAILED: ${e.getMessage}")
          failed += n
      }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(phases)
    }
    val json = todo.flatMap(n => done.get(n).map(b => s""""$n":{$b}"""))
      .mkString(s"""{"sf":"$sfDir","queries":{""", ",", "}}")
    Files.writeString(Paths.get(outJson), json + "\n")
    System.err.println(s"[profile] wrote ${todo.count(done.contains)} records to $outJson")
    failed.toSeq
  }

  /** One warm-up and one measured run of `name`; returns the record's
    * JSON body (no braces) and prints the stage table. */
  private def measure(spark: SparkSession, listener: StageListener,
      phases: PhaseListener, sfDir: String, name: String): String = {
    def once(): DataFrame = {
      val df = SparkEntry.queries(name)(spark, sfDir)
      Bench.materialize(df)
      df
    }
    Bench.purgeStorage(spark)
    once()
    Bench.purgeStorage(spark)
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    val gc0 = gcMs(); val jit0 = jit.getTotalCompilationTime
    val cg0 = compiles.getCount
    val c0 = Bench.cpuSeconds()
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val df = tagged(spark, name)(once())
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Bench.cpuSeconds() - c0
    val gc = gcMs() - gc0
    val jitMs = jit.getTotalCompilationTime - jit0
    val cg = compiles.getCount - cg0
    val retained = org.apache.spark.sql.GraftColumnBridge.storedBytes()
    listener.drain(spark, s"$name/drain")
    val st = listener.take(name)
    // the warm-up's trackers may arrive late; they started before `start`.
    // A tracker has reference equality, so `distinct` drops a shared one.
    val trackers = (df.queryExecution.tracker +: phases.take())
      .filter(_.phases.values.forall(_.startTimeMs >= start)).distinct
    def phaseMs(p: String): Long = trackers.flatMap(_.phases.get(p)).map(_.durationMs).sum
    def r3(v: Double): Double = (v * 1000).round / 1000.0
    val mb = 1048576.0
    val rec = Seq(
      "wall" -> r3(wall), "cpu" -> r3(cpu),
      "jvm.gc_ms" -> gc, "jvm.jit_ms" -> jitMs, "codegen.compiles" -> cg,
      "stages" -> st.length, "stage_run_s" -> r3(st.map(_.runMs).sum / 1e3),
      "exec.tasks" -> st.map(_.tasks).sum,
      "exec.task_cpu_s" -> r3(st.map(_.cpuNs).sum / 1e9),
      "exec.scan_mb" -> r3(st.map(_.inBytes).sum / mb),
      "exec.shuffle_mb" -> r3(st.map(_.swBytes).sum / mb),
      "ops.retained_mb" -> r3(retained / mb),
      "plan.analysis_ms" -> phaseMs(QueryPlanningTracker.ANALYSIS),
      "plan.optimization_ms" -> phaseMs(QueryPlanningTracker.OPTIMIZATION),
      "plan.planning_ms" -> phaseMs(QueryPlanningTracker.PLANNING))
    System.err.println(s"[profile] $name " +
      rec.map { case (k, v) => s"$k=$v" }.mkString(" "))
    System.err.println("  runS  cpuS tasks shufReadMB shufWriteMB  inputMB  stage")
    st.sortBy(-_.runMs).take(25).foreach { r =>
      System.err.println(f"  ${r.runMs / 1e3}%5.2f ${r.cpuNs / 1e9}%5.2f " +
        f"${r.tasks}%5d ${r.srBytes / mb}%10.1f ${r.swBytes / mb}%11.1f " +
        f"${r.inBytes / mb}%8.1f  [${r.id}] ${r.name.take(90)}")
    }
    rec.map { case (k, v) => s""""$k":$v""" }.mkString(",")
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
}
