package graft.core

import scala.util.control.NonFatal
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types._
import shaded.parquet.org.apache.thrift.TException

/** Schema-on-read over independently written shard files — the reference's
  * contract (parqueryd/worker.py:381-397, README.md:25-28): shard sets
  * drift over time (a column added by a new producer, an int widened to
  * long) and a query over the union must still answer.
  *
  * One path: the driver reads every shard's Parquet footer (schema only,
  * no row groups, no Spark job), takes the Spark schema the writer stored
  * there or else converts the Parquet one, folds the schemas through the
  * widening lattice below, and scans once under that EXPLICIT schema —
  * Spark 4's Parquet reader upcasts per file (int→long, int/long/float→
  * double, date→timestamp_ntz) and fills absent columns with null, so the
  * result is a single FileSourceScan: no per-shard DataFrame unions, no
  * N-way plan blowup at 100k shards. The scan's file index is answered
  * from the same listing the footers came from, so the files are listed
  * once per call and no listing job starts, at any shard count (a
  * `spark.read` lists them again, in a Spark job above 32 paths). Footers
  * are read on a few threads
  * (Spark's own fan-out, as its footer reader uses); a hung read is
  * bounded by the caller's `callWithRetry` timeout.
  *
  * Widening lattice (both engines' SQL semantics agree with it):
  * byte < short < int < long; float < double; any integral ⊔ any
  * fractional = double (never float — int32 doesn't fit float exactly).
  * Decimals widen to max integral digits + max scale. Equal types pass
  * through; anything else (string vs int) is real corruption and raises a
  * typed error naming the field. A file that is not Parquet, or whose
  * footer does not decode, raises the same typed [[ShardFaultException]]
  * naming the file; an `IOException` from storage propagates as it is
  * (transient, worth a retry).
  */
object SchemaDrift {

  /** The name callers catch a schema conflict by. */
  type SchemaDriftException = ShardFaultException

  /** Read a drifting shard set (files or directories) as one DataFrame. */
  def readSharded(spark: SparkSession, paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "readSharded needs at least one path")
    val conf = spark.sparkContext.hadoopConfiguration
    readListed(spark, paths.map(new Path(_)).map(p => p.getFileSystem(conf).getFileStatus(p)))
  }

  /** [[readSharded]] over shards already listed (e.g. by
    * `GroupByEngine.pruneMissing`), in the caller's order: the footer
    * schemas of their data files, widened in order, drive one scan of
    * exactly those files. */
  private[graft] def readListed(spark: SparkSession, shards: Seq[FileStatus]): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    // one file's schema from its footer alone: the Spark schema its writer
    // stored, else the converted Parquet schema
    def schemaOf(f: FileStatus): StructType =
      try ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, ParquetFooterReader
        .readFooter(HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS)), converter)
      catch {
        // parquet-mr raises a footer that does not decode as an
        // IOException over a thrift error: a fault of the file, not storage
        case e: java.io.IOException if !e.getCause.isInstanceOf[TException] => throw e
        case NonFatal(e) => throw new ShardFaultException(
          s"shard ${f.getPath} is not a readable Parquet file: ${e.getMessage}", e)
      }
    val leaves = shards.map(s => s.getPath -> dataFiles(s.getPath.getFileSystem(conf), s))
    val files = leaves.flatMap(_._2).distinct
    // 8 threads, as Spark's own footer reader uses; parmap wraps a failure
    // in SparkException, so each result comes back as a Try and the first
    // failure is rethrown here with its own type
    val schemas = GraftColumnBridge.parmap(files, "graft-footer", 8)(f =>
      scala.util.Try(schemaOf(f))).map(_.get)
    val widened = schemas.reduceOption(widen).getOrElse(throw new ShardFaultException(
      s"no Parquet data file under ${shards.map(_.getPath).mkString(", ")}"))
    GraftColumnBridge.parquetScan(spark, shards.map(_.getPath), leaves.toMap, widened)
  }

  /** A file is itself; a directory contributes its leaf files, by name,
    * skipping names that start with `_` or `.` (`_SUCCESS`, `.crc`). */
  private def dataFiles(fs: FileSystem, s: FileStatus): Seq[FileStatus] =
    if (!s.isDirectory) Seq(s)
    else fs.listStatus(s.getPath).toSeq.sortBy(_.getPath.getName)
      .filterNot(c => Seq("_", ".").exists(c.getPath.getName.startsWith))
      .flatMap(dataFiles(fs, _))

  /** Union of fields (first-seen order), types widened; all nullable —
    * a field absent from any shard is null there by contract. */
  private[graft] def widen(a: StructType, b: StructType): StructType = {
    val bByName = b.fields.map(f => f.name -> f).toMap
    val merged = a.fields.map { fa =>
      bByName.get(fa.name) match {
        case Some(fb) => StructField(fa.name, widenType(fa.name, fa.dataType, fb.dataType))
        case None     => fa.copy(nullable = true)
      }
    }
    val aNames = a.fieldNames.toSet
    val added = b.fields.filterNot(f => aNames(f.name)).map(_.copy(nullable = true))
    StructType(merged ++ added)
  }

  private[graft] def widenType(field: String, a: DataType, b: DataType): DataType = (a, b) match {
    case _ if a == b => a
    case (x, y) if integral(x) && integral(y) =>
      if (rank(x) >= rank(y)) x else y
    case (FloatType, DoubleType) | (DoubleType, FloatType) => DoubleType
    case (x, y) if (integral(x) && fractional(y)) || (fractional(x) && integral(y)) =>
      DoubleType // never float: int32 doesn't fit float exactly
    // date ⊔ timestamp = timestamp_ntz (midnight expansion): the common
    // producer drift when an upstream starts carrying time-of-day on a date
    // column. NTZ specifically — Spark's Parquet reader upcasts INT32 date
    // only to TimestampNTZ, never to LTZ, and an LTZ-written shard reads
    // under an NTZ target as its UTC wall clock (sessions here pin
    // session.timeZone=UTC, so instants are preserved verbatim).
    case (DateType, t) if timestampLike(t) => TimestampNTZType
    case (t, DateType) if timestampLike(t) => TimestampNTZType
    case (x: DecimalType, y: DecimalType) =>
      val intDigits = math.max(x.precision - x.scale, y.precision - y.scale)
      val scale = math.max(x.scale, y.scale)
      DecimalType(math.min(DecimalType.MAX_PRECISION, intDigits + scale), scale)
    case (x: ArrayType, y: ArrayType) =>
      ArrayType(widenType(field, x.elementType, y.elementType), containsNull = true)
    case (x: StructType, y: StructType) => widen(x, y)
    case _ =>
      throw new ShardFaultException(
        s"shard schema conflict on field '$field': ${a.sql} vs ${b.sql} is not a widening")
  }

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true; case _ => false
  }
  private def fractional(t: DataType): Boolean = t match {
    case FloatType | DoubleType => true; case _ => false
  }
  private def timestampLike(t: DataType): Boolean = t match {
    case TimestampType | TimestampNTZType => true; case _ => false
  }
  private def rank(t: DataType): Int = t match {
    case ByteType => 1; case ShortType => 2; case IntegerType => 3; case LongType => 4
    case _ => 0
  }
}
