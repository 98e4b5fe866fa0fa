package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Command-line options, as run.py passes them. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, out: String, cores: Int)

/** One workload: set-up (input preparation plus warm-up), then passes of a
  * fixed list of operations, then the material for the output checks. */
trait Workload {
  /** Span name of one operation; op latency percentiles are taken over it. */
  def opSpan: String
  /** Wall seconds one pass takes on the reference machine (see README). */
  def nominalPassS: Double
  /** Fewest timed passes an untraced run makes. */
  def minPasses: Int = 2
  def setup(): Unit
  def pass(p: Int): Unit
  /** Write the check material under `out` (after the timed region). */
  def finish(out: String): Unit
  /** Per-layer metrics this workload adds, from its traced passes. */
  def layerMetrics(traced: Seq[Span]): Map[String, Double]
  /** Operations attempted and failed so far. */
  var attempted = 0L
  var failed = 0L
  /** Run one operation; a failure is counted and the pass goes on. */
  protected def attempt(what: String)(body: => Unit): Unit = {
    attempted += 1
    try body
    catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] $what failed: $e")
    }
  }
}

final case class PassStat(span: Span, traced: Boolean, cpuS: Double,
    gcMs: Double, jitMs: Double)

object Harness {

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("out"), kv("cores").toInt)
    val mainStart = Clock.nowMs
    val spark = GraftSession.create("perfbench", cores = o.cores,
      extraConf = Map("spark.sql.warehouse.dir" -> s"${o.out}/warehouse"))
    val rec = new Recorder(spark)
    val w: Workload = o.workload match {
      case "serve" => new Serve(spark, rec, o)
      case "inventory" => new Inventory(spark, rec, o)
      case "ingest" => new IngestCycle(spark, rec, o)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val sessionUp = Clock.nowMs
    w.setup()
    rec.events.drain(spark)
    val setupAttempted = w.attempted
    val setupFailed = w.failed
    w.attempted = 0; w.failed = 0

    val timedStart = Clock.nowMs
    val passes = ArrayBuffer.empty[PassStat]
    // A fixed number of whole passes: the run length over the workload's
    // nominal pass time, at least the workload's minimum. Every run of a
    // workload then does the same work, whatever the seed and however fast
    // the tree is. A traced
    // run interleaves untraced and traced passes (U T T U) so it can report
    // its own overhead without the JVM's warming favouring either kind.
    val nPasses = math.max(if (o.trace) 4 else w.minPasses, math.round(o.seconds / w.nominalPassS).toInt)
    while (passes.length < nPasses) {
      val traced = o.trace && Set(1, 2)(passes.length % 4)
      rec.setDetail(traced)
      val cpu0 = Jvm.cpuNs; val gc0 = Jvm.gcMs; val jit0 = Jvm.jitMs
      val p = passes.length
      rec.span("pass", p.toString)(w.pass(p))
      passes += PassStat(rec.spans.reverseIterator.find(_.name == "pass").get, traced,
        (Jvm.cpuNs - cpu0) / 1e9, (Jvm.gcMs - gc0).toDouble, (Jvm.jitMs - jit0).toDouble)
      if (traced) { rec.events.drain(spark); rec.setDetail(false) }
    }
    val timedEnd = Clock.nowMs
    rec.events.drain(spark)
    val heapMb = Jvm.liveHeapMb()

    val plain = passes.filterNot(_.traced).toSeq
    def writtenMb(s: Span): Double = w match {
      // serve stores nothing: what it writes is the Arrow bytes it ships
      case _: Serve => rec.within(s, "result").map(_.extra.getOrElse("bytes", 0.0)).sum / 1048576.0
      case _ => rec.tasksIn(s).map(_.written).sum / 1048576.0
    }
    val opMs = plain.flatMap(p => rec.within(p.span, w.opSpan)).map(_.ms)
    val opMsByLabel = plain.flatMap(p => rec.within(p.span, w.opSpan))
      .groupBy(_.label).map { case (l, s) => l -> Stats.median(s.map(_.ms)) }
    val opP50 = w match {
      // Unlike queries: the geometric mean over the slice of each query's
      // median, so every query counts alike. A median across the slice is
      // one query's figure and jumps between queries of similar cost.
      case _: Inventory => Stats.geomean(opMsByLabel.values.toSeq)
      case _ => Stats.median(opMs)
    }
    val metrics = Map(
      "pass_s" -> Stats.median(plain.map(_.span.ms / 1000)),
      "cpu_s" -> Stats.median(plain.map(_.cpuS)),
      "op_p50_ms" -> opP50,
      "heap_mb" -> heapMb,
      "written_mb" -> Stats.median(plain.map(p => writtenMb(p.span))))

    val traced = passes.filter(_.traced).toSeq
    val layer = if (!o.trace) Map.empty[String, Double] else {
      val common = Layers.common(rec, traced.map(_.span), w.opSpan) ++ Map(
        "jvm.jit_ms" -> Stats.mean(traced.map(_.jitMs)),
        "jvm.gc_ms" -> Stats.mean(traced.map(_.gcMs)),
        "trace.overhead_pct" -> 100 * (Stats.median(traced.map(_.span.ms)) /
          Stats.median(plain.map(_.span.ms)) - 1),
        "trace.overhead_cpu_pct" -> 100 * (Stats.median(traced.map(_.cpuS)) /
          Stats.median(plain.map(_.cpuS)) - 1))
      common ++ w.layerMetrics(traced.map(_.span))
    }

    w.finish(o.out)
    val result = Map(
      "timed_start_ms" -> timedStart,
      "setup_parts_s" -> Map(
        "jvm_start" -> (mainStart - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000,
        "session" -> (sessionUp - mainStart) / 1000,
        "workload" -> (timedStart - sessionUp) / 1000),
      "timed_s" -> (timedEnd - timedStart) / 1000,
      "passes" -> passes.length,
      "ops_per_pass" -> (w.attempted.toDouble / passes.length),
      "attempted" -> w.attempted,
      "failed" -> w.failed,
      "setup_attempted" -> setupAttempted,
      "setup_failed" -> setupFailed,
      "op_count" -> opMs.length,
      "op_ms_by_label" -> opMsByLabel,
      "metrics" -> metrics,
      "layer" -> layer,
      "spans" -> (if (o.trace) Layers.spanSummary(rec, traced.map(_.span)) else Map.empty),
      "pass_ms" -> passes.map(p => Seq(p.span.ms, p.cpuS, if (p.traced) 1 else 0)))
    Json.write(s"${o.out}/result.json", result)
    spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.length)
}

/** Per-layer figures shared by every workload, all from traced passes. */
object Layers {
  private def stageIv(rec: Recorder): Seq[(Double, Double)] =
    rec.events.stages.asScala.toSeq
      .map { case (a, b) => (a.toDouble, b.toDouble) }
  private def planIv(rec: Recorder): Seq[(Double, Double)] =
    rec.events.phases.asScala.toSeq
      .collect { case (p, a, b) if p == "optimization" || p == "planning" =>
        (a.toDouble, b.toDouble) }

  def common(rec: Recorder, passes: Seq[Span], opSpan: String): Map[String, Double] = {
    val stages = stageIv(rec)
    val plans = planIv(rec)
    val ops = passes.flatMap(p => rec.within(p, opSpan))
    val execMs = ops.map(s => Intervals.covered(stages, s.startMs, s.endMs))
    val tasks = passes.flatMap(rec.tasksIn)
    val perPass = (x: Double) => x / math.max(1, passes.length)
    Map(
      "plan.ms" -> Stats.mean(ops.map(s => Intervals.covered(plans, s.startMs, s.endMs))),
      "codegen.compiles" -> Stats.mean(ops.map(_.extra.getOrElse("codegen.compiles", 0.0))),
      "codegen.ms" -> Stats.mean(ops.map(_.extra.getOrElse("codegen.ms", 0.0))),
      "exec.ms" -> Stats.mean(execMs),
      "exec.idle_ms" -> Stats.mean(ops.zip(execMs).map { case (s, e) => s.ms - e }),
      "exec.tasks" -> Stats.mean(ops.map(s => rec.tasksIn(s).length.toDouble)),
      "exec.task_cpu_s" -> perPass(tasks.map(_.cpuNs).sum / 1e9),
      "exec.scan_mb" -> perPass(tasks.map(_.inBytes).sum / 1048576.0),
      "exec.shuffle_mb" -> perPass(tasks.map(_.shuffleWrite).sum / 1048576.0),
      "exec.spill_mb" -> perPass(tasks.map(_.spill).sum / 1048576.0))
  }

  /** `resolve.*` and `result.*`: the GraftService.groupby call and the
    * ArrowResult encoding, for the workloads that make those calls. */
  def service(rec: Recorder, passes: Seq[Span]): Map[String, Double] = {
    val stages = stageIv(rec)
    val plans = planIv(rec)
    val resolves = passes.flatMap(p => rec.within(p, "resolve"))
    val results = passes.flatMap(p => rec.within(p, "result"))
    val jobs = rec.events.jobs.asScala.toSeq.map(_.toDouble)
    Map(
      "resolve.ms" -> Stats.mean(resolves.map(_.ms)),
      "resolve.jobs" -> Stats.mean(resolves.map(s =>
        jobs.count(t => t >= math.floor(s.startMs) && t <= s.endMs).toDouble)),
      // self time: the call minus the planning and stage time inside it
      "result.ms" -> Stats.mean(results.map(s =>
        s.ms - Intervals.covered(stages ++ plans, s.startMs, s.endMs))),
      "result.kb" -> Stats.mean(results.map(_.extra.getOrElse("bytes", 0.0) / 1024)))
  }

  /** Per span name over the traced passes: count, total and self time.
    * Self time is the duration minus what child spans cover; Spark stages
    * and planning phases count as children of the span they ran in. */
  def spanSummary(rec: Recorder, passes: Seq[Span]): Map[String, Map[String, Double]] = {
    val leaves = stageIv(rec) ++ planIv(rec)
    val all = passes ++ passes.flatMap(rec.descendants)
    all.groupBy(_.name).map { case (name, ss) =>
      val self = ss.map { s =>
        val kids = rec.childrenOf(s).map(c => (c.startMs, c.endMs))
        s.ms - Intervals.covered(kids ++ leaves, s.startMs, s.endMs)
      }
      name -> Map("count" -> ss.length.toDouble, "total_ms" -> ss.map(_.ms).sum,
        "self_ms" -> self.sum)
    } ++ Map(
      "spark.stage" -> leafSummary(stageIv(rec), passes),
      "spark.plan" -> leafSummary(planIv(rec), passes))
  }

  private def leafSummary(iv: Seq[(Double, Double)], passes: Seq[Span]): Map[String, Double] = {
    val in = iv.filter { case (a, _) => passes.exists(p => a >= math.floor(p.startMs) && a <= p.endMs) }
    Map("count" -> in.length.toDouble, "total_ms" -> in.map { case (a, b) => b - a }.sum,
      "self_ms" -> in.map { case (a, b) => b - a }.sum)
  }
}
