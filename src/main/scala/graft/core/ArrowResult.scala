package graft.core

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}

/** Arrow-IPC result wire: the reference's interchange contract is a
  * serialized Arrow table shipped back to the caller (parqueryd/worker.py:28
  * `serialize_arrow`, controller.py:289-305 gather+concat), so a non-JVM
  * client can consume results zero-copy. [[toArrowBytes]] renders a FINAL
  * query result (driver-sized by definition — it is what the reference
  * collects to its controller anyway) as one Arrow record batch in an IPC
  * stream; [[fromArrowBytes]] is the inverse, giving a round-trip equality
  * gate. Bulk data movement stays on the parquet/manifest path ([[Ingest]]);
  * this is only the last-hop result contract.
  *
  * Both directions are Spark's own Arrow codec, the one PySpark and Spark
  * Connect ship results with, so the wire carries every type that codec
  * does: all scalar types (decimal, tinyint/smallint, intervals and variant
  * included) and nested `array` / `struct` / `map` at any depth, map keys
  * of any type. Timestamps ride as `Timestamp(MICROSECOND, "UTC")`,
  * timestamp_ntz without a zone; field nullability follows the result
  * schema; map entries keep the result's order.
  */
object ArrowResult {

  /** Serialize a (small, final) result as one Arrow IPC stream.
    * `maxResultBytes > 0` applies the typed memory-cap taxonomy
    * ([[GraftService.collectResult]]): oversized results raise
    * [[ResultTooBigException]] instead of flooding the driver. */
  def toArrowBytes(df: DataFrame, maxResultBytes: Long = 0L): Array[Byte] =
    GraftService.capped(df, maxResultBytes)(GraftColumnBridge.toArrowStream(df))

  /** Deserialize an Arrow IPC stream back into a local DataFrame (the
    * round-trip gate; a real non-JVM client would stop at the Arrow table). */
  def fromArrowBytes(spark: SparkSession, bytes: Array[Byte]): DataFrame =
    GraftColumnBridge.fromArrowStream(spark, bytes)
}
