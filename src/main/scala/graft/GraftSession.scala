package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: a SparkSession tuned for the graft engine.
  *
  * One Spark application replaces the reference's entire
  * controller/worker/downloader topology (SURVEY.md §7.1): driver = planner,
  * executors = per-split workers, shuffle = the gather, S3A/HDFS = the
  * download subsystem.
  *
  * Tuning stance for 100 TB (values here are the local-mode projection):
  *  - `shuffle.partitions` sized to cores (cluster: ~2-3× total cores, or
  *    AQE coalesce from a high ceiling);
  *  - AQE on: runtime skew-join splitting + partition coalescing;
  *  - 128 MB scan splits (`files.maxPartitionBytes`, the default) balance
  *    task overhead vs memory; decode-heavy binary pipelines should lower it.
  */
object GraftSession {

  /** Confs the DuckDB-oracle parity depends on: an environment override of
    * any of these would make Verify/Bench results diverge with no code
    * change and no trace, so the GRAFT_SPARK_EXTRA_CONF passthrough
    * rejects them (spec-pinned). Perf confs (shuffle, AQE sizing, codegen,
    * memory) pass through — those are what the knob exists for. */
  private[graft] val ProtectedConfs: Set[String] = Set(
    "spark.sql.session.timeZone",
    "spark.sql.ansi.enabled",
    "spark.sql.legacy.timeParserPolicy",
    "spark.sql.parquet.datetimeRebaseModeInRead",
    "spark.sql.parquet.int96RebaseModeInRead",
    "spark.master")

  /** Parses "k=v;k=v" into (applied, rejected) per [[ProtectedConfs]];
    * fragments without `=` or with an empty key are dropped. */
  private[graft] def partitionExtraConf(s: String)
      : (Seq[(String, String)], Seq[(String, String)]) = {
    val pairs = s.split(";").map(_.trim).filter(_.contains("=")).toSeq
      .map { kv =>
        val i = kv.indexOf('=')
        (kv.take(i).trim, kv.drop(i + 1).trim)
      }
      .filter(_._1.nonEmpty)
    val (rejected, applied) = pairs.partition(p => ProtectedConfs(p._1))
    (applied, rejected)
  }

  /** `cores` defaults to `SPARK_GRAFT_CPUS`, else the cores this JVM may
    * use: an oversized `local[N]` with N shuffle partitions costs task
    * overhead on every query and buys nothing on a smaller machine. */
  def create(
      appName: String = "graft",
      cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors),
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // r19 (optimization round): the generated-class cache defaults to
      // 100 entries; a session that cycles through the full 311-query
      // inventory holds thousands of distinct codegen units, so every
      // re-run of a query paid a fresh Janino compile (driver cpu, wall
      // on the critical path — guide §1.2 "per-task work" at the driver).
      // 8192 entries lets a long-lived multi-query session (the bench's
      // repeated passes, a production query service) reuse compiled
      // classes; memory cost is a few KB per entry. Static conf — must be
      // set before the first session of the JVM; a memory-constrained
      // deployment lowers it through GRAFT_SPARK_EXTRA_CONF below.
      // Filter values are bound as parameters (GraftExtensions'
      // BindFilterValues), so a new value does not add an entry.
      .config("spark.sql.codegen.cache.maxEntries", 8192L)
      // Generated class names embed the codegen stage id by default; AQE
      // materializes broadcast stages from racing futures, so the same
      // operator can get a different stage id (→ different class name →
      // different source → codegen-cache MISS) on every run. Dropping the
      // id from the name makes re-runs byte-identical: a repeat run of
      // q169 compiled 10-12 Janino classes without this conf and 0 with
      // it (`codegen.compiles` in graft.Profile's record). Class names
      // are a debugging aid only.
      .config("spark.sql.codegen.useIdInClassName", "false")
    extraConf.foreach { case (k, v) => b.config(k, v) }
    // r19 (optimization round): generic env passthrough so a deployment
    // (or a perf experiment) can override any spark conf without a
    // rebuild — "k=v;k=v" pairs, applied AFTER extraConf. Scale-dependent
    // settings stay parameterised per the optimization-round contract.
    // r20 (ADVICE/VERDICT): the passthrough is GUARDED — a stale or
    // inherited env var must never silently flip a conf the DuckDB-oracle
    // parity depends on (ANSI mode, session timezone, rebase policies),
    // and every pair it DOES apply is logged loudly at session creation
    // so a diverging Verify/Bench run carries its own explanation.
    sys.env.get("GRAFT_SPARK_EXTRA_CONF").foreach { s =>
      val (applied, rejected) = partitionExtraConf(s)
      rejected.foreach { case (k, v) => System.err.println(
        s"[graft-session] REJECTED env conf override $k=$v " +
          "(correctness-critical; set it in code, not GRAFT_SPARK_EXTRA_CONF)") }
      applied.foreach { case (k, v) =>
        System.err.println(s"[graft-session] env conf override: $k=$v")
        b.config(k, v)
      }
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
