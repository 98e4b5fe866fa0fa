package graft

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The dev harnesses on the shared session: graft.Profile's record,
  * resume and clean-up, and Verify's failure report. */
class HarnessSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Listeners on the session's bus (`listenerBus` is Spark-internal). */
  private def listenerCount(): Int = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[_]].size
  }

  /** Query-execution listeners (`listListeners` is Spark-internal). */
  private def queryListenerCount(): Int = {
    val m = spark.listenerManager
    m.getClass.getMethod("listListeners").invoke(m).asInstanceOf[Array[_]].length
  }

  test("Profile.run writes wall, cpu and the layer readings per query, " +
    "a second call resumes from .progress and times nothing, and the " +
    "session keeps no listener and stays usable") {
    val out = Files.createTempDirectory("graft-profile").resolve("p.json")
    val progress = Paths.get(s"$out.progress")
    val names = Seq("q01_groupby_sum", "q16_tpch_q3")
    // the session's query-execution listener bus is created on the first
    // registration and stays on the Spark bus; create it before counting
    val probe = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = ()
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(probe)
    spark.listenerManager.unregister(probe)
    val listeners = listenerCount()
    val queryListeners = queryListenerCount()

    assert(Profile.run(spark, sf, out.toString, names).isEmpty)
    val first = Files.readString(out)
    val queries = new ObjectMapper().readTree(first).get("queries")
    assert(queries.size === 2)
    names.foreach { n =>
      val rec = queries.get(n)
      assert(rec != null, n)
      Seq("wall", "cpu", "jvm.gc_ms", "jvm.jit_ms", "codegen.compiles",
        "stages", "stage_run_s", "exec.tasks", "exec.task_cpu_s",
        "exec.scan_mb", "exec.shuffle_mb", "ops.retained_mb",
        "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms").foreach { k =>
        assert(rec.has(k) && rec.get(k).isNumber, s"$n.$k")
      }
      assert(rec.get("wall").asDouble > 0, n)
      // the measured run's own stages were attributed to it
      assert(rec.get("stages").asInt > 0 && rec.get("exec.tasks").asInt > 0, n)
      assert(rec.get("exec.scan_mb").asDouble > 0, n)
      // the noop write's query execution was optimized and planned
      assert(rec.get("plan.optimization_ms").asLong +
        rec.get("plan.planning_ms").asLong > 0, n)
    }
    val recorded = Files.readAllLines(progress)
    assert(recorded.size === 2)

    assert(Profile.run(spark, sf, out.toString, names).isEmpty)
    assert(Files.readAllLines(progress) === recorded)
    assert(Files.readString(out) === first)

    assert(listenerCount() === listeners)
    assert(queryListenerCount() === queryListeners)
    assert(spark.sparkContext.getLocalProperty("graft.profile") == null)
    assert(spark.range(10).count() === 10)
  }

  test("Verify.dump writes the requested queries and returns those that " +
    "threw") {
    val out = Files.createTempDirectory("graft-verify").toString
    val q = "q01_groupby_sum"
    assert(Verify.dump(spark, "/nonexistent/sf", out, Some(Set(q))) === Seq(q))
    assert(Verify.dump(spark, sf, out, Some(Set(q))).isEmpty)
    assert(Files.isDirectory(Paths.get(out, q)))
  }
}
