package graft

/** Plan auditor: prints the formatted physical plan of selected queries
  * (default: all) so scan pruning (ReadSchema), predicate pushdown
  * (PushedFilters), join strategies (BroadcastHashJoin vs SortMergeJoin) and
  * WholeStageCodegen spans can be reviewed.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    // Bench's and Verify's session confs (extensions, AQE, codegen), so
    // the printed plans are shaped like the ones they run
    val spark = GraftSession.create("graft-explain", cores = 4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      try SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
