package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Error taxonomy mirroring the reference's exceptions module
  * (reference parqueryd/exceptions.py: RPCError hierarchy + retry/timeout
  * classes). The 2 GB `FileTooBigError` worker-suicide cap
  * (exceptions.py:4,20-21) is deliberately NOT reproduced — Spark's
  * UnifiedMemoryManager spills instead of killing workers. */
sealed abstract class GraftException(msg: String) extends RuntimeException(msg)
final class UnknownVerbException(verb: String)
  extends GraftException(s"Sorry, I don't understand you: '$verb'") // controller.py:495 wording
final class BadCallException(msg: String) extends GraftException(msg)
/** A shard the call names cannot be read as part of one table: a file
  * that is not Parquet, or a field whose types across shards do not widen
  * ([[SchemaDrift]]). The data, not the call, is at fault, and another
  * attempt reads the same bytes. */
final class ShardFaultException(msg: String, cause: Throwable = null)
  extends GraftException(msg) { if (cause != null) initCause(cause) }
final class CallTimeoutException(msg: String, cause: Throwable)
  extends GraftException(msg) { initCause(cause) } // rpc.py:136-149 RPCError('Timeout')
/** The reference's `FileTooBigError` re-aimed at the failure a DRIVER
  * actually has (exceptions.py:4,20-21: the worker refuses any single
  * result over a hard byte cap instead of dying): a result set too large
  * to collect surfaces as this typed error — both our own pre-flight cap
  * and Spark's native `spark.driver.maxResultSize` abort map to it. */
final class ResultTooBigException(msg: String, cause: Throwable = null)
  extends GraftException(msg) { if (cause != null) initCause(cause) }

/** Service facade: the reference's generic RPC verb dispatch
  * (rpc.py:96-190 `__getattr__` → controller.py:493-549 `handle_rpc`),
  * re-expressed as a typed verb router over the engine.
  *
  * Deliberate deviations (SURVEY.md §7.4): no `execute_code` / `readfile`
  * (arbitrary remote code/file access — the reference itself calls them a
  * security risk, README.md:121); `download`/`movebcolz` subsumed by
  * [[Ingest]] since executors read object storage directly.
  */
object GraftService {

  final case class GroupByCall(
      filenames: Seq[String],
      groupby: Seq[String],
      aggs: Seq[AggSpec],
      where: Seq[FilterTerm] = Nil,
      aggregate: Boolean = true,
      combine: CombineMode = CombineMode.Merged,
      affinity: Option[String] = None)

  /** The analytical verb: scatter/gather collapses into one Spark plan.
    * Arity/spec validation mirrors controller.py:611-615.
    *
    * `affinity` (reference: the `affinity` kwarg routing a call to a
    * dedicated worker queue, controller.py:315-338,609) maps to a Spark
    * FAIR-scheduler pool: the calling thread's subsequent actions are tagged
    * `spark.scheduler.pool = affinity`, so with `spark.scheduler.mode=FAIR`
    * an interactive pool is not starved by a batch pool — the same isolation
    * the reference buys with per-affinity queues. */
  def groupby(spark: SparkSession, call: GroupByCall): Option[DataFrame] = {
    if (call.filenames.isEmpty)
      throw new BadCallException("groupby: filenames must be non-empty")
    if (call.aggregate && call.aggs.isEmpty)
      throw new BadCallException("groupby: agg_list must be non-empty")
    call.aggs.find(a => !AggSpec.SupportedOps(a.op)).foreach(a =>
      throw new BadCallException(s"groupby: unsupported agg op '${a.op}'"))
    call.where.find(t => !FilterTerm.SupportedOps(t.op)).foreach(t =>
      throw new BadCallException(s"groupby: unsupported filter op '${t.op}'"))
    // unconditional: affinity=None must RESTORE the default pool, or the
    // thread silently inherits the previous call's pool forever
    OpsApi.ensurePoolMonitor(spark) // info() attributes this call's jobs
    spark.sparkContext.setLocalProperty("spark.scheduler.pool",
      call.affinity.orNull)
    GroupByEngine.groupby(spark, call.filenames, call.groupby, call.aggs,
      call.where, call.aggregate, call.combine)
  }

  /** Client-side timeout + retry envelope, mirroring the reference RPC's
    * contract (parqueryd/rpc.py:32-34 default 120 s timeout, :136-149 retry
    * loop that tears down and redials the controller): each attempt runs on
    * its own thread under its own job group; a timed-out attempt has its
    * in-flight Spark jobs cancelled (the redial analogue — otherwise the
    * zombie attempt keeps burning the cluster), then the call is retried up
    * to `retries` times before [[CallTimeoutException]]. Spark's task
    * retries handle executor failure; this knob is the driver-API timeout
    * the reference exposes to callers. */
  def callWithRetry[T](spark: SparkSession, what: String,
      timeoutMs: Long = 120000L, retries: Int = 2)(body: => T): T = {
    val group = s"graft-call-${java.util.UUID.randomUUID().toString.take(8)}"
    var last: Throwable = null
    (0 to retries).foreach { attempt =>
      val task = new java.util.concurrent.FutureTask[T](() => {
        spark.sparkContext.setJobGroup(s"$group-$attempt", what,
          interruptOnCancel = true)
        try body finally spark.sparkContext.clearJobGroup()
      })
      val runner = new Thread(task, s"$group-$attempt")
      runner.setDaemon(true)
      runner.start()
      try return task.get(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      catch {
        case e: java.util.concurrent.TimeoutException =>
          // kill the zombie attempt as far as possible: cancel its Spark
          // jobs AND interrupt the runner (non-Spark body code); a body
          // that ignores interrupts can still overlap the retry — callers
          // with non-idempotent bodies must make them ticket-guarded
          spark.sparkContext.cancelJobGroup(s"$group-$attempt")
          runner.interrupt()
          last = e
        case e: java.util.concurrent.ExecutionException =>
          e.getCause match {
            // deterministic application errors surface immediately — the
            // reference only redials on timeout/connection loss, and
            // retrying a validation failure just repeats it 3× and then
            // misreports it as a timeout
            case g: GraftException => throw g
            case c => last = c // transient → redial-and-retry, like rpc.py
          }
      }
    }
    throw new CallTimeoutException(
      s"$what: no result after ${retries + 1} attempts (timeout ${timeoutMs} ms)", last)
  }

  /** Collect a result with the memory-cap taxonomy applied. Two guards:
    *  - pre-flight: Catalyst's size estimate for the plan is checked
    *    against `maxResultBytes` BEFORE any task runs (the reference
    *    checks the file size before downloading, exceptions.py:20-21) —
    *    a caller typo like "select the whole lineitem table" fails in
    *    milliseconds, not after shipping gigabytes to the driver;
    *  - post-hoc: Spark's own `spark.driver.maxResultSize` abort (raised
    *    mid-collect by the scheduler) is re-thrown as the same typed
    *    [[ResultTooBigException]] instead of a generic SparkException.
    * `maxResultBytes <= 0` disables the pre-flight cap. Estimates are
    * estimates: the pre-flight guard is advisory sizing, the post-hoc one
    * is the hard backstop. The pre-flight only fires for plans whose size
    * statistic tracks the RESULT (scan/filter/project/limit shapes):
    * Catalyst estimates aggregates and joins from their INPUTS, so a
    * 3-row groupBy over a 10 GB table would be spuriously rejected —
    * those shapes rely on the post-hoc backstop alone. */
  def collectResult(df: DataFrame, maxResultBytes: Long = 0L): Array[org.apache.spark.sql.Row] =
    capped(df, maxResultBytes)(df.collect())

  /** `collect`, a collect of `df`'s result, under [[collectResult]]'s two
    * guards. */
  private[graft] def capped[T](df: DataFrame, maxResultBytes: Long)(collect: => T): T = {
    val plan = df.queryExecution.optimizedPlan
    val resultSized = plan.collectFirst {
      case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => ()
      case _: org.apache.spark.sql.catalyst.plans.logical.Join => ()
    }.isEmpty
    if (maxResultBytes > 0 && resultSized) {
      val est = plan.stats.sizeInBytes
      if (est > BigInt(maxResultBytes))
        throw new ResultTooBigException(
          s"estimated result size $est B exceeds the configured cap " +
            s"$maxResultBytes B (reference FileTooBigError semantics)")
    }
    try collect
    catch {
      case e: Throwable if isResultCapAbort(e) =>
        throw new ResultTooBigException(
          "result exceeded spark.driver.maxResultSize while collecting", e)
    }
  }

  /** Recognize the scheduler's maxResultSize abort anywhere in the cause
    * chain (Spark raises it as a SparkException with this phrasing /
    * error class). */
  private[graft] def isResultCapAbort(e: Throwable): Boolean = {
    var t = e
    while (t != null) {
      val m = Option(t.getMessage).getOrElse("")
      if (m.contains("maxResultSize") ||
          m.contains("MAX_RESULT_SIZE_EXCEEDED")) return true
      t = t.getCause
    }
    false
  }

  /** Ops verbs (reference controller.py:493-549 dispatch table). */
  def call(spark: SparkSession, verb: String, args: Map[String, String] = Map.empty): String =
    verb match {
      case "ping"     => OpsApi.ping(spark)
      case "info"     => OpsApi.info(spark).toString
      case "loglevel" => OpsApi.logLevel(spark, args.getOrElse("level", "info")); "ok"
      case "sleep"    =>
        val s = args.getOrElse("seconds", "0")
        val seconds = s.toDoubleOption.filter(d => d >= 0 && !d.isInfinite).getOrElse(
          throw new BadCallException(s"sleep: 'seconds' must be a non-negative number, got '$s'"))
        Thread.sleep((seconds * 1000).toLong); "done"
      case "kill" | "killall" => OpsApi.shutdown(spark); "stopped"
      case "killworkers" => // ref: stop workers, controller survives
        spark.sparkContext.cancelAllJobs(); "workers stopped"
      case "downloads" => // reference rpc.py:210-231: list tickets + state,
        // with per-file slots indented under multi-file tickets
        Tickets.list().map { t =>
          val head = s"${t.id} ${t.state} ${t.what}${t.error.map(" err=" + _).getOrElse("")}"
          val files = Tickets.fileSlots(t.id)
            .map(f => s"  ${f.state} ${f.bytes}B ${f.path}")
          (head +: files).mkString("\n")
        }.mkString("\n")
      case "delete_download" => // reference rpc.py:233-254: cancel by ticket
        val id = args.getOrElse("ticket",
          throw new BadCallException("delete_download: 'ticket' required"))
        if (Tickets.cancel(spark, id)) "cancelled" else "not_found_or_done"
      case other      => throw new UnknownVerbException(other)
    }
}
