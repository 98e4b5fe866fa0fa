package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Exits non-zero when any requested query threw, after dumping the
    * rest and writing oracle_sql.json. */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.create("graft-verify")
    // dev-loop filter: comma-separated query names; unset (the driver's
    // mode) dumps everything
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val failed = try dump(spark, sfDir, outDir, only) finally spark.stop()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }

  /** Writes each SparkEntry query (those in `only`, if given) to
    * `outDir/<name>` as parquet and returns the names that threw. */
  private[graft] def dump(spark: SparkSession, sfDir: String,
      outDir: String, only: Option[Set[String]]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        val failed =
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            None
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            Some(name)
          }
        // ops like jaccardPairs cache intermediates and dupClusters leaves
        // its result checkpoint; release both between queries
        Bench.purgeStorage(spark)
        failed
      }
  }
}
