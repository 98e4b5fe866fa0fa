package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.scalatest.Assertions._

/** What the Spark jobs a block starts on the calling thread did. Jobs are
  * tagged by a local property; a one-task marker job, whose start the
  * listener bus delivers after every earlier event, drains the bus before
  * the readings are taken (as graft.Profile drains it). */
object TaggedJobs {

  /** The jobs started, and the bytes their tasks wrote. */
  final case class Reading(jobs: Int, bytesWritten: Long)

  def of[T](body: => T): (T, Reading) = {
    val sc = SparkTestSession.spark.sparkContext
    val tag = "graft.test.jobs"
    val jobs = new AtomicInteger(0)
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val written = new AtomicLong(0)
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(tag)) match {
          case Some("body") =>
            jobs.incrementAndGet()
            e.stageIds.foreach(stages.add)
          case Some("marker") => drained.countDown()
          case _ => ()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          written.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      val out = try body finally sc.setLocalProperty(tag, null)
      sc.setLocalProperty(tag, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(tag, null)
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus did not drain")
      (out, Reading(jobs.get, written.get))
    } finally sc.removeSparkListener(listener)
  }
}
