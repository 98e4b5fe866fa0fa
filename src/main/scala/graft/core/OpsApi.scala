package graft.core

import org.apache.spark.sql.SparkSession

/** Cluster-ops verb surface (reference §2.11) on Spark-native status APIs.
  * The reference's controller answers these from in-memory registries fed by
  * worker heartbeats (parqueryd/controller.py:511-512,683-701); here the
  * Spark scheduler already tracks all of it.
  *
  * Deliberate omissions (documented deviations, SURVEY.md §7.4):
  * `execute_code` / `readfile` are arbitrary-remote-code/file-read verbs the
  * reference itself flags as security holes (README.md:119-125) — not
  * reproduced.
  */
object OpsApi {

  /** Liveness probe (reference: controller.py:496-497). */
  def ping(spark: SparkSession): String =
    if (!spark.sparkContext.isStopped) "pong" else "stopped"

  /** Depth of one scheduler (affinity) pool: jobs currently attributed to
    * the pool, plus their task-level backlog split into waiting vs running
    * — the per-affinity-queue depth the reference's `info` payload reports
    * (controller.py:683-701, per-node `queue` lengths). */
  final case class PoolStats(activeJobs: Int, pendingTasks: Int, runningTasks: Int)

  final case class ClusterInfo(
      appId: String,
      appName: String,
      master: String,
      uptimeMs: Long,
      defaultParallelism: Int,
      activeJobs: Int,
      executors: Map[String, (Long, Long)], // id -> (maxMem, remainingMem)
      pools: Map[String, PoolStats])

  /** Pool attribution listener: Spark's status tracker knows active jobs
    * and stages but not which scheduler pool a job was submitted under —
    * that rides only on the submitting thread's local properties, which the
    * listener captures at job start. One registration per context
    * (idempotent); state is two bounded maps of ACTIVE job ids. */
  private[graft] final class PoolMonitor(sc: org.apache.spark.SparkContext)
      extends org.apache.spark.scheduler.SparkListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Seq[Int])]()
    override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      val pool = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.scheduler.pool")))
        .getOrElse("default")
      jobs.put(js.jobId, (pool, js.stageIds))
    }
    override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
      jobs.remove(je.jobId)
    // self-evict when the context stops: without this, the static map entry
    // (and the listener plus its jobs map) outlives every stopped context
    // in a JVM that restarts sessions — a slow leak keyed by applicationId
    override def onApplicationEnd(
        e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
      monitors.remove(sc.applicationId)
      jobs.clear()
      try sc.removeSparkListener(this)
      catch { case _: IllegalStateException => () } // bus already stopped
    }
  }

  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, PoolMonitor]()

  /** Test hook: is a monitor currently registered for this app id? */
  private[graft] def hasPoolMonitor(appId: String): Boolean =
    monitors.containsKey(appId)

  private[graft] def poolMonitorFor(appId: String): Option[PoolMonitor] =
    Option(monitors.get(appId))

  /** Install the pool monitor on this session's context (idempotent). Must
    * run before the jobs whose pools `info` should attribute — GraftService
    * calls it at verb-dispatch time, so any service-driven job is covered. */
  def ensurePoolMonitor(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    monitors.computeIfAbsent(sc.applicationId, _ => {
      val m = new PoolMonitor(sc)
      sc.addSparkListener(m)
      m
    })
  }

  /** Cluster snapshot (reference `info` verb: controller.py:683-701),
    * including per-affinity-pool queue depths. */
  def info(spark: SparkSession): ClusterInfo = {
    val sc = spark.sparkContext
    ensurePoolMonitor(spark)
    val tracker = sc.statusTracker
    val pools = Option(monitors.get(sc.applicationId)).map { m =>
      import scala.jdk.CollectionConverters._
      m.jobs.asScala.toSeq.groupBy(_._2._1).map { case (pool, entries) =>
        var pending = 0; var running = 0
        for ((_, (_, stageIds)) <- entries; sid <- stageIds;
             si <- tracker.getStageInfo(sid)) {
          running += si.numActiveTasks
          pending += math.max(0,
            si.numTasks - si.numActiveTasks - si.numCompletedTasks - si.numFailedTasks)
        }
        pool -> PoolStats(entries.size, pending, running)
      }
    }.getOrElse(Map.empty)
    ClusterInfo(
      appId = sc.applicationId,
      appName = sc.appName,
      master = sc.master,
      uptimeMs = System.currentTimeMillis() - sc.startTime,
      defaultParallelism = sc.defaultParallelism,
      activeJobs = tracker.getActiveJobIds().length,
      executors = sc.getExecutorMemoryStatus.map { case (k, v) => k -> v }.toMap,
      pools = pools)
  }

  /** Broadcast log level (reference `loglevel` verb: controller.py:498-510).
    * A level `SparkContext.setLogLevel` rejects is a [[BadCallException]]. */
  def logLevel(spark: SparkSession, level: String): Unit =
    try spark.sparkContext.setLogLevel(level.toUpperCase)
    catch { case e: IllegalArgumentException =>
      throw new BadCallException(s"loglevel: unknown 'level' '$level'").initCause(e) }

  /** Cancel a running query group (reference `delete_download`/kill verbs). */
  def cancelJobGroup(spark: SparkSession, group: String): Unit =
    spark.sparkContext.cancelJobGroup(group)

  /** Shutdown (reference `kill`/`killall`: controller.py:513-518,648-681). */
  def shutdown(spark: SparkSession): Unit = spark.stop()
}
