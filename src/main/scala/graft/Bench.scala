package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, prints the full per-query JSON line followed by a
  * sub-1.5 KB summary line (totals, canary health, contamination verdict,
  * 10 slowest queries) — the LAST line is complete within a ~2,000-char
  * output-tail capture, which the full line outgrew at 240 queries.
  *
  * Each query is executed once untimed (JVM/codegen/scan warmup — otherwise
  * whichever query runs first absorbs ~5 s of cold-start and the numbers are
  * noise), then timed over multiple passes.
  *
  * Ambient-load hardening (this box is shared; round 5's single-order run
  * fabricated a contiguous q59–q68 "regression" block that never existed,
  * round 8's artifact drifted ~1.6× uniformly, and round 9's ran under ~1.9×
  * sustained load — all pure box contention):
  *  - a PRE-PROBE: before any timed work, the canary kernel is sampled and
  *    if its median exceeds [[QuietCeilingSec]] (quiet floor on this box is
  *    0.19–0.22 s) the bench SLEEPS and re-probes up to [[PreProbeRetries]]
  *    times — catching sustained load in ~30 s instead of discovering it
  *    after an 8-minute contaminated run;
  *  - ≥2 timed passes, each in a DIFFERENT deterministic shuffled order, so
  *    a 30–60 s ambient load spike cannot elevate the same alphabetical
  *    block in every pass;
  *  - a CANARY — a fixed, IO-free, ~0.4 s compute kernel — runs every
  *    [[CanaryEvery]] queries; a canary sample > [[CanaryDriftRatio]] × the
  *    session-wide canary MEDIAN proves the box was contended during that
  *    SEGMENT, and every query sample bracketed by a drifted canary is
  *    QUARANTINED (excluded from the min) rather than allowed to fabricate
  *    a regression; canary min/median/samples ride in the JSON so
  *    SUSTAINED load (which shifts the median and escapes the in-session
  *    gate) is caught by dividing rounds' canaries against each other;
  *  - per-query process-CPU seconds next to wall seconds: ambient load
  *    stretches wall time but not the CPU-seconds the query itself burns,
  *    so a wall/CPU divergence on a re-read separates "code got slower"
  *    from "box was busy" without rerunning anything;
  *  - per-query MIN across valid passes (the min of storage-cold runs is
  *    the query's actual cost — noise is strictly additive);
  *  - queries whose surviving samples disagree > 2× (or that lost all
  *    samples to quarantine) get targeted re-time passes IN THIS SESSION —
  *    up to [[SuspectRetimes]] rounds, each preceded by a short settle
  *    sleep — and the clean numbers merge into the same artifact; only
  *    queries still single-sample-supported after that are reported in
  *    `suspect` with `"contaminated": true`.
  *
  * The JSON line is deliberately COMPACT (seconds rounded to 3 decimals,
  * wall map before cpu map): round 9's full-precision doubles made the line
  * long enough that the driver's output capture kept only the tail and
  * recorded `parsed: null` — an unreadable artifact is a wasted round. */
object Bench {

  /** Drop ALL persisted storage between queries: `clearCache()` releases
    * `cache()`d plans but NOT `localCheckpoint` blocks (they belong to RDDs,
    * not the plan cache). Round 1 skipped this and the blocks of every
    * iterative query accumulated for the session's lifetime — by q74 (which
    * sorts last) the block manager was the bottleneck, not the query. Each
    * timed query starts storage-cold and pays its own cache build. The
    * one purge every harness (Bench, Verify, Profile) uses — the backstop
    * behind the ownership rule of [[graft.ops.Waist]] (ops free the
    * waists they do not return; the consumer frees the rest with one
    * `Waist.release(result)`), not what keeps a session healthy. */
  private[graft] def purgeStorage(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Materialize the FULL result (all columns through the final projection)
    * via the noop sink — `.count()` would let Catalyst prune everything the
    * count doesn't need and under-time projection-heavy queries. */
  private[graft] def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Spread threshold for "this query's samples disagree enough to be load
    * noise"; tiny queries are exempt (scheduler jitter dominates below it). */
  private val SpreadRatio = 2.0
  private val MinSuspectSec = 0.15

  /** Canary cadence and drift gate: one canary per [[CanaryEvery]] timed
    * queries; a canary > [[CanaryDriftRatio]] × the session MEDIAN flags
    * its segment as contended. 1.5× is deliberately tighter than the 2×
    * per-query spread gate — the canary is noise-free by construction
    * (no IO, no storage, fixed work), so smaller drift is already signal. */
  private val CanaryEvery = 10
  private val CanaryDriftRatio = 1.5

  /** Pre-probe gate: quiet floor on this box is 0.19–0.22 s canary median;
    * above [[QuietCeilingSec]] the box is measurably contended, so wait
    * [[PreProbeSleepSec]] and re-probe, up to [[PreProbeRetries]] times,
    * before committing to the full run. If the box never quiets we run
    * anyway (an honestly-flagged artifact beats none) with the pre-probe
    * history in the JSON. */
  private val QuietCeilingSec = 0.27
  private val PreProbeRetries = 8
  private val PreProbeSleepSec = 30

  /** In-session suspect re-time rounds (merged into the same artifact). */
  private val SuspectRetimes = 2

  /** Cross-round quiet-box canary floor: every clean run since r8 has
    * measured a 0.19–0.20 s canary on an idle box, so the floor is
    * PERSISTED here as a constant rather than re-derived per session.
    * It closes the r10 blind spot: sustained whole-session load shifts
    * the session median AND the per-segment samples together, so the
    * median-relative drift gate self-declared `contaminated: false`
    * while the run's own canary said min 0.196 / median 0.409 — a ~2×
    * loaded box for most of the run. */
  /** (r12, advisor) The floor is this box's measured constant, not a
    * universal one — on a slower host every run would read as
    * contaminated and the gate would lose all signal, so it is
    * overridable via GRAFT_BENCH_QUIET_FLOOR_SEC (calibrate once on an
    * idle target box with the canary, then export). */
  private[graft] val QuietFloorSec: Double =
    sys.env.get("GRAFT_BENCH_QUIET_FLOOR_SEC")
      .flatMap(s => scala.util.Try(s.toDouble).toOption)
      .filter(f => f > 0 && f < 60)
      .getOrElse(0.19)

  /** Sustained-load detector, gated on the two signals the in-session
    * median gate cannot fake: the canary MEDIAN against the same run's
    * canary MIN (sustained load inflates the median long before the
    * min — transient spikes are the segment gate's job), and against
    * the cross-round [[QuietFloorSec]] (catches the whole-run-loaded
    * case where even the min is inflated). Either beyond the drift
    * ratio marks the artifact contaminated. */
  private[graft] def sustainedLoad(canaryMin: Double,
      canaryMedian: Double): Boolean =
    canaryMedian > CanaryDriftRatio * canaryMin ||
      canaryMedian > CanaryDriftRatio * QuietFloorSec

  /** Whole-process CPU seconds (all Spark threads) — the denominator that
    * ambient load CANNOT inflate: contention stretches wall time while
    * cpu-seconds stay ≈ the work the query actually did. */
  private[graft] def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** The canary kernel: pure distributed compute (hash + sum over a range),
    * zero IO, zero storage, fixed size — its wall time moves ONLY with box
    * contention, which is exactly what it is there to measure. */
  private def canaryOnce(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(0L, 256L * 1000 * 1000, 1L, 32)
      .select(sum(pmod(xxhash64(col("id")), lit(1000000L)))).collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** One timed sample: wall seconds, process-cpu seconds, and the canary
    * segment (epoch) the sample ran inside. */
  private final case class QSample(wall: Double, cpu: Double, epoch: Int)

  private def r3(v: Double): Double = (v * 1000).round / 1000.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create("graft-bench")
    // SPARK_GRAFT_BENCH_ONLY=q45,q160 → targeted re-time of a comma-listed
    // subset (perf triage after a suspect flag); unset OR empty (the
    // driver's mode) runs the full inventory. A token matches a query name
    // exactly or as the segment before its first '_' — "q16" selects
    // q16_sort_limit but NOT q160_dsir_weights (bare startsWith did, and an
    // empty env var used to silently select nothing).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(p => n == p || n.startsWith(p + "_"))))
    require(names.nonEmpty,
      s"SPARK_GRAFT_BENCH_ONLY=${only.mkString(",")} matched zero of ${SparkEntry.queries.size} queries")

    // ---- pre-probe: refuse to start a full run on a visibly loaded box ----
    canaryOnce(spark) // canary pays its own codegen warmup here, not in a pass
    def probeMedian(): Double = {
      val xs = Seq.fill(5)(canaryOnce(spark)).sorted
      xs(xs.length / 2)
    }
    val preProbe = Vector.newBuilder[Double]
    var probed = probeMedian()
    preProbe += probed
    var waits = 0
    while (probed > QuietCeilingSec && waits < PreProbeRetries) {
      Thread.sleep(PreProbeSleepSec * 1000L)
      waits += 1
      probed = probeMedian()
      preProbe += probed
    }

    names.foreach { name => // warmup pass
      purgeStorage(spark)
      try materialize(SparkEntry.queries(name)(spark, sfDir))
      catch { case _: Throwable => () }
    }

    // a failed run must not win the min(): its time-to-crash would make a
    // flaky query look like the fastest in the suite
    def timeOne(name: String): (Double, Double) = {
      purgeStorage(spark)
      val c0 = cpuSeconds()
      val t0 = System.nanoTime()
      val ok =
        try { materialize(SparkEntry.queries(name)(spark, sfDir)); true }
        catch { case _: Throwable => false }
      if (ok) ((System.nanoTime() - t0) / 1e9, cpuSeconds() - c0)
      else (Double.MaxValue, Double.MaxValue)
    }

    /** Runs one pass; epoch e's queries are bracketed by canaries(e) and
      * canaries(e+1), so drift on EITHER side quarantines the segment. */
    def timedPass(order: Seq[String]): (Map[String, QSample], Vector[Double]) = {
      val canaries = Vector.newBuilder[Double]
      val out = Map.newBuilder[String, QSample]
      var epoch = 0
      canaries += canaryOnce(spark)
      order.zipWithIndex.foreach { case (n, i) =>
        if (i > 0 && i % CanaryEvery == 0) {
          canaries += canaryOnce(spark); epoch += 1
        }
        val (wall, cpu) = timeOne(n)
        out += n -> QSample(wall, cpu, epoch)
      }
      canaries += canaryOnce(spark)
      (out.result(), canaries.result())
    }

    def shuffled(seed: Long, xs: Seq[String]): Seq[String] =
      new scala.util.Random(seed).shuffle(xs)

    var passes = Seq(timedPass(shuffled(1L, names)), timedPass(shuffled(2L, names)))

    // All contamination math is a function of the pass list so the suspect
    // re-time loop below can merge passes and recompute from scratch. The
    // drift gate is vs the session MEDIAN, not the min: the min lands at
    // quiet pass boundaries, so a min-based gate flags the bench's own
    // steady-state as drift (measured: 33/36 segments false-quarantined).
    // The median gate catches TRANSIENT spikes (the r5 contiguous-block
    // signature); SUSTAINED whole-session load (the r8/r9 signature) shifts
    // the median itself and is caught by the pre-probe above and across
    // rounds by dividing canary medians.
    def canaryMedianOf(ps: Seq[(Map[String, QSample], Vector[Double])]): Double = {
      val all = ps.flatMap(_._2)
      all.sorted.apply(all.length / 2)
    }
    def segmentClean(cs: Vector[Double], epoch: Int, median: Double): Boolean =
      cs(epoch) <= CanaryDriftRatio * median &&
        cs(epoch + 1) <= CanaryDriftRatio * median
    def samplesOf(ps: Seq[(Map[String, QSample], Vector[Double])],
                  n: String, validOnly: Boolean): Seq[QSample] = {
      val median = canaryMedianOf(ps)
      ps.flatMap { case (m, cs) =>
        m.get(n).filter(s => !validOnly || segmentClean(cs, s.epoch, median))
      }
    }
    // suspect = min supported by a single surviving sample (or none): trust
    // the min, but mark it so a "regression" here is re-measured before
    // anyone optimizes against it
    def suspectsOf(ps: Seq[(Map[String, QSample], Vector[Double])]): Seq[String] =
      names.filter { n =>
        val s = samplesOf(ps, n, validOnly = true).map(_.wall).sorted
        s.isEmpty || (s.head > MinSuspectSec &&
          (s.length < 2 || s(1) / s.head > SpreadRatio))
      }

    // targeted in-session re-time of anything still suspect, clean numbers
    // merged into the same artifact (VERDICT r9 Next #1c) — a short settle
    // sleep first so a transient spike that caused the suspicion can pass
    var suspect = suspectsOf(passes)
    var retimes = 0
    while (suspect.nonEmpty && retimes < SuspectRetimes) {
      Thread.sleep(10000L)
      passes = passes :+ timedPass(shuffled(4L + retimes, suspect))
      retimes += 1
      suspect = suspectsOf(passes)
    }

    val canaryAll = passes.flatMap(_._2)
    val canaryMedian = canaryMedianOf(passes)
    val quarantinedSegments = passes.map { case (_, cs) =>
      (0 until cs.length - 1).count(e => !segmentClean(cs, e, canaryMedian))
    }.sum

    // valid samples = quarantine-surviving; raw = everything (fallback so a
    // fully-contended run still reports numbers — flagged, never silent)
    val results = names.map { n =>
      val valid = samplesOf(passes, n, validOnly = true)
      val pool = if (valid.nonEmpty) valid else samplesOf(passes, n, validOnly = false)
      n -> pool.minBy(_.wall)
    }
    val allQuarantined = names.filter(samplesOf(passes, _, validOnly = true).isEmpty)

    purgeStorage(spark)
    def jmap(f: ((String, QSample)) => Double): String =
      results.map { case (k, v) => "\"" + k + "\":" + r3(f((k, v))) }
        .mkString("{", ",", "}")
    val total = r3(results.map(_._2.wall).sum)
    val totalCpu = r3(results.map(_._2.cpu).sum)
    val suspectJson = suspect.map("\"" + _ + "\"").mkString("[", ",", "]")
    // "timing" documents the r6 method change for cross-round comparison:
    // earlier rounds timed `.count()`, which let Catalyst prune all
    // projection work a query's output columns carried (md5s, string ops);
    // noop-write times the FULL result, so projection-heavy queries read
    // higher here than in BENCH_r5 and earlier without having regressed.
    val sustained = sustainedLoad(canaryAll.min, canaryMedian)
    val contaminated =
      suspect.nonEmpty || allQuarantined.nonEmpty || sustained
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(_._2.wall)},""" +
      s""""queries_cpu":${jmap(_._2.cpu)},"cpu_total":$totalCpu,""" +
      s""""canary":{"min":${r3(canaryAll.min)},"median":${r3(canaryMedian)},"max_drift":${r3(canaryAll.max / canaryMedian)},"samples":${canaryAll.length},""" +
      s""""preprobe_sec":${preProbe.result().map(r3).mkString("[", ",", "]")},"preprobe_waits":$waits,""" +
      s""""quarantined_segments":$quarantinedSegments,"drift_gate":$CanaryDriftRatio,""" +
      s""""floor_sec":$QuietFloorSec,"sustained_load":$sustained},""" +
      s""""passes":${passes.length},"contaminated":$contaminated,""" +
      s""""suspect":$suspectJson,"timing":"noop-write full materialization (r5 and earlier: count())",""" +
      s""""sf":"$sfDir"}"""
    // Second, SUB-1.5 KB summary line: the driver's output capture keeps
    // only the final ~2,000 chars, and the full per-query line above has
    // outgrown that three rounds running (8.7 KB at 240 queries → the
    // artifact recorded `parsed: null`). Everything a round-over-round
    // comparison needs — totals, canary health, contamination verdict,
    // the 10 slowest queries — re-prints compactly LAST so the tail
    // window always contains one complete parseable JSON object.
    val top10 = results.sortBy(-_._2.wall).take(10)
    def jmapOf(xs: Seq[(String, QSample)], f: QSample => Double): String =
      xs.map { case (k, v) => "\"" + k + "\":" + r3(f(v)) }
        .mkString("{", ",", "}")
    val suspectCapped = suspect.take(10).map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val summary =
      s"""{"metric":"summary","value":$total,"unit":"sec","cpu_total":$totalCpu,""" +
      s""""n_queries":${names.length},"passes":${passes.length},""" +
      s""""canary":{"min":${r3(canaryAll.min)},"median":${r3(canaryMedian)},"max_drift":${r3(canaryAll.max / canaryMedian)},""" +
      s""""floor_sec":$QuietFloorSec,"sustained_load":$sustained,"preprobe_waits":$waits,"quarantined_segments":$quarantinedSegments},""" +
      s""""contaminated":$contaminated,"n_suspect":${suspect.length},"suspect":$suspectCapped,""" +
      s""""top10_wall":${jmapOf(top10, _.wall)},"top10_cpu":${jmapOf(top10, _.cpu)},"sf":"$sfDir"}"""
    // Belt and suspenders against the driver's tail-capture parsing: the
    // identical JSON lands in BENCH_SUMMARY.json at the repo root.
    // Path resolution (r13 / ADVICE): the JVM working directory is the
    // launcher's choice, not ours — honor GRAFT_BENCH_SUMMARY_PATH when
    // set, else walk up from cwd to the nearest directory holding
    // build.sbt (the repo root) so `sbt runMain` from a subproject or a
    // wrapper script still lands the artifact where the driver reads it.
    // A failed write is WARNED on stderr, never fatal (the same JSON
    // still goes to stdout below).
    val summaryPath = sys.env.get("GRAFT_BENCH_SUMMARY_PATH")
      .map(java.nio.file.Paths.get(_))
      .getOrElse {
        val cwd = java.nio.file.Paths.get("").toAbsolutePath
        Iterator.iterate(cwd)(_.getParent).takeWhile(_ != null)
          .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
          .getOrElse(cwd).resolve("BENCH_SUMMARY.json")
      }
    try java.nio.file.Files.writeString(summaryPath, summary + "\n")
    catch { case t: Throwable => System.err.println(
      s"[bench] WARN could not write $summaryPath: ${t.getMessage}") }
    // r20 (BENCH_r18/r19 `parsed: null` fix): the JSON must be the LAST
    // stdout the run produces, with nothing after it. Previously the
    // summary went out a second time on stderr as the process's final
    // words — but sbt prefixes forked stderr with "[error] ", and that
    // duplicate plus sbt's "[success] Total time..." footer filled the
    // driver's ~2 KB tail capture, pushing the one parseable line out of
    // the window. Now: stop Spark FIRST (so its shutdown logging on
    // stderr cannot land after the JSON), print the full per-query line,
    // then the sub-1.5 KB summary as the true last stdout line; the sbt
    // footer itself is suppressed via `showSuccess := false` in build.sbt.
    spark.stop()
    println(fullLine)
    println(summary)
    System.out.flush()
  }
}
