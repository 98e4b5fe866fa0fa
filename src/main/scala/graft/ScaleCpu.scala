package graft

import java.nio.file.{Files, Paths}

/** Dev-only harness behind the README's full-suite scaling table:
  * `runMain graft.ScaleCpu <sfDir> <outJson>` times EVERY query once
  * (noop-write materialization, Bench's methodology) after a warmup
  * execution, recording wall AND process-cpu seconds per query. One
  * timed pass per query keeps a 10×-scale full-suite run affordable;
  * cpu-seconds — the load-immune metric — are what the sf0.1 → sf1.0
  * factor table compares (Bench's multi-pass machinery exists for the
  * driver's WALL artifact; factors of cpu need no canary gate).
  * Not part of the driver contract — Bench is. */
object ScaleCpu {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleCpu <sfDir> <outJson>")
    val sfDir = args(0)
    val outPath = args(1)
    // Crash-resumable: each finished query appends one JSONL line to
    // <outJson>.progress; a restarted run skips names already present
    // (a multi-hour 10×-scale pass must not restart from zero).
    val progressPath = Paths.get(outPath + ".progress")
    def r3(v: Double): Double = (v * 1000).round / 1000.0
    val done = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    if (Files.exists(progressPath)) {
      val Line = """\{"q":"([^"]+)","wall":([0-9.]+),"cpu":([0-9.]+)\}""".r
      Files.readAllLines(progressPath).forEach {
        case Line(n, w, c) => done(n) = (w.toDouble, c.toDouble)
        case _             => ()
      }
      System.err.println(s"[scalecpu] resuming: ${done.size} queries already recorded")
    }
    val spark = GraftSession.create("graft-scalecpu")
    val names = SparkEntry.queries.keys.toSeq.sorted
    names.filterNot(done.contains).foreach { n =>
      def run(): Unit = Bench.materialize(SparkEntry.queries(n)(spark, sfDir))
      Bench.purgeStorage(spark)
      val warm = try { run(); true } catch {
        case e: Throwable =>
          System.err.println(s"[scalecpu] $n FAILED: ${e.getMessage}")
          false
      }
      if (warm) {
        Bench.purgeStorage(spark)
        val c0 = Bench.cpuSeconds()
        val t0 = System.nanoTime()
        run()
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = Bench.cpuSeconds() - c0
        System.err.println(f"[scalecpu] $n%-28s wall=$wall%8.3f cpu=$cpu%8.3f")
        done(n) = (wall, cpu)
        Files.writeString(progressPath,
          s"""{"q":"$n","wall":${r3(wall)},"cpu":${r3(cpu)}}""" + "\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      }
    }
    val json = names.flatMap(n => done.get(n).map(n -> _))
      .map { case (n, (w, c)) => s""""$n":{"wall":${r3(w)},"cpu":${r3(c)}}""" }
      .mkString(s"""{"sf":"$sfDir","queries":{""", ",", "}}")
    Files.writeString(Paths.get(outPath), json + "\n")
    println(json)
    spark.stop()
  }
}
