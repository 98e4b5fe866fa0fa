package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import scala.collection.mutable

/** Dev-only per-stage profiler (the Spark-UI substitute on this UI-less
  * box — guide §7.1): runs each named query once warm, once measured, and
  * prints every stage's executor run time, shuffle read/write bytes and
  * record counts, so the expensive exchange/join in a multi-stage plan can
  * be IDENTIFIED before anything is changed (guide §1: measure first).
  *
  * Usage: runMain graft.StageProbe <sfDir> <query ...>
  * Not part of the driver contract — Bench is. */
object StageProbe {

  private final case class StageRow(id: Int, name: String, tasks: Int,
    runMs: Long, cpuNs: Long, srBytes: Long, srRows: Long, swBytes: Long,
    swRows: Long, inBytes: Long, outRows: Long)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StageProbe <sfDir> <query ...>")
    val sfDir = args.head
    val names = args.drop(1).toSeq
    val spark = GraftSession.create("graft-stageprobe")
    // `collecting` is written on the main thread and read on the
    // listener-bus thread; `rows` is appended on the bus thread and
    // cleared and read on main — @volatile keeps warmup stages out of the
    // measured set, and every access to `rows` holds its lock (main reads
    // a snapshot taken under it, after the drain sleep).
    val rows = mutable.ArrayBuffer.empty[StageRow]
    @volatile var collecting = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (collecting) {
          val si = e.stageInfo
          val m = si.taskMetrics
          rows.synchronized {
            rows += StageRow(si.stageId, si.name.takeWhile(_ != '\n'),
              si.numTasks, m.executorRunTime, m.executorCpuTime,
              m.shuffleReadMetrics.totalBytesRead,
              m.shuffleReadMetrics.recordsRead,
              m.shuffleWriteMetrics.bytesWritten,
              m.shuffleWriteMetrics.recordsWritten,
              m.inputMetrics.bytesRead, m.outputMetrics.recordsWritten)
          }
        }
    })
    def run(name: String): Unit =
      Bench.materialize(SparkEntry.queries(name)(spark, sfDir))
    names.foreach { name =>
      Bench.purgeStorage(spark); run(name) // warmup
      Bench.purgeStorage(spark)
      rows.synchronized(rows.clear())
      collecting = true
      val cg = org.apache.spark.metrics.source.CodegenMetrics
      val gc0 = gcMs(); val cgt0 = cg.METRIC_COMPILATION_TIME.getCount
      val cgn0 = cg.METRIC_SOURCE_CODE_SIZE.getCount
      val jit0 = java.lang.management.ManagementFactory
        .getCompilationMXBean.getTotalCompilationTime
      val c0 = Bench.cpuSeconds()
      val t0 = System.nanoTime()
      run(name)
      val wall = (System.nanoTime() - t0) / 1e9
      val dcpu = Bench.cpuSeconds() - c0
      val dgc = (gcMs() - gc0) / 1e3
      val dcgt = cg.METRIC_COMPILATION_TIME.getCount - cgt0
      val dcgn = cg.METRIC_SOURCE_CODE_SIZE.getCount - cgn0
      collecting = false
      // give the listener bus a moment to drain
      Thread.sleep(500)
      val snap = rows.synchronized(rows.toIndexedSeq)
      val sorted = snap.sortBy(-_.runMs)
      println(f"%nSTAGEPROBE $name  wall=$wall%.2f s  proc-cpu=$dcpu%.2f s  " +
        f"stages=${snap.length}  sum-stage-run=${snap.map(_.runMs).sum / 1e3}%.2f s  " +
        f"sum-stage-cpu=${snap.map(_.cpuNs).sum / 1e9}%.2f s  " +
        f"gc=$dgc%.2f s  janino-compiles=$dcgn (histo-count=$dcgt)  " +
        f"jit=${(java.lang.management.ManagementFactory.getCompilationMXBean
          .getTotalCompilationTime - jit0) / 1e3}%.2f s")
      println("  runS cpuS tasks  shufRead(MB/rows)  shufWrite(MB/rows)  input(MB)  stage")
      sorted.take(25).foreach { r =>
        println(f"  ${r.runMs / 1e3}%5.2f ${r.cpuNs / 1e9}%5.2f ${r.tasks}%5d  " +
          f"${r.srBytes / 1e6}%8.1f/${r.srRows}%-9d ${r.swBytes / 1e6}%8.1f/${r.swRows}%-9d " +
          f"${r.inBytes / 1e6}%8.1f  [${r.id}] ${r.name.take(90)}")
      }
    }
    spark.stop()
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }
}
