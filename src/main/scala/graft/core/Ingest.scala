package graft.core

import java.nio.file.{Files, Paths}
import java.util.UUID
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Union}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._

/** Ingestion + data distribution, replacing the reference's
  * downloader/moveparquet subsystem (SURVEY.md §3.2).
  *
  * The reference's one genuinely interesting invariant is the all-nodes
  * barrier: staged files flip into the data dir only when every node is DONE,
  * so readers never see a half-updated shard set (worker.py:689-779,
  * README.md:145). On shared storage that barrier collapses to an atomic
  * MANIFEST pointer swap: writers stage a complete new file set, then one
  * rename publishes it; readers resolve the manifest first.
  *
  * A version dir always holds every data file of its version, so the
  * manifest names one directory. Files are immutable once published, so
  * versions share them: an append hard-links the published version's
  * files into the new dir and writes only the new rows (see
  * [[atomicPublish]]). An append-only table therefore gains one file per
  * batch partition per append; [[compact]] re-packs them.
  */
object Ingest {

  /** CSV → Parquet with timestamp parsing — the reference's documented
    * getting-started workflow (README.md:25-28: pandas read_csv with
    * parse_dates, then df_to_parquet). */
  def csvToParquet(spark: SparkSession, in: String, out: String,
      timestampCols: Seq[String] = Nil, header: Boolean = true): Unit = {
    val raw = spark.read
      .option("header", header.toString)
      .option("inferSchema", "true")
      .csv(in)
    val withTs = timestampCols.foldLeft(raw)((df, c) =>
      df.withColumn(c, to_timestamp(col(c))))
    withTs.write.mode("overwrite").parquet(out)
  }

  /** JSONL → Parquet — the de-facto LLM-corpus interchange format (one
    * JSON document per line: crawl dumps, dataset releases, annotation
    * exports). Pass `schema` on real runs — at 100 TB, inference reads the
    * data twice and silently unions drifting shapes; inference is for
    * exploration only. `dropMalformed = true` (default) survives the bad
    * lines a crawl WILL contain instead of letting one of them kill the
    * job; set it false to keep a `_corrupt_record` audit column
    * (PERMISSIVE mode) when the bad lines themselves are the question. */
  def jsonlToParquet(spark: SparkSession, in: String, out: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      timestampCols: Seq[String] = Nil,
      dropMalformed: Boolean = true): Unit = {
    val reader = spark.read
      .option("mode", if (dropMalformed) "DROPMALFORMED" else "PERMISSIVE")
    val raw = schema.map(reader.schema).getOrElse(reader).json(in)
    val withTs = timestampCols.foldLeft(raw)((df, c) =>
      df.withColumn(c, to_timestamp(col(c))))
    withTs.write.mode("overwrite").parquet(out)
  }

  /** The reference's `distribute(filenames, bucket)` verb — documented but
    * unimplemented there (README.md:129-141 vs controller.py:495 fall-through;
    * SURVEY.md §2.11). Here: write a table to a target prefix, optionally
    * hive-partitioned (cluster-wide distribution is the filesystem's job). */
  def distribute(df: DataFrame, target: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(target)
  }

  private val ManifestName = "_MANIFEST"

  /** Atomically publish a new version of `tableDir`: stage a complete new
    * file set under `data/<uuid>/`, then swap the manifest pointer with one
    * rename. Readers via [[readPublished]] always see exactly one complete
    * version — the moveparquet barrier semantics without any coordination
    * service. If the write fails, the staged dir is deleted and the
    * manifest is unchanged.
    *
    * Appends share files. When `df`'s analyzed plan is a `Union` with a
    * child that is a bare Parquet scan of this table's own files — what
    * `readPublished(spark, tableDir).unionByName(batch)` builds — only the
    * other children are written, and each scanned file (with its `.crc`)
    * is hard-linked into the staged dir. The scan child qualifies when its
    * relation has no partition columns and no bucket spec, every file it
    * lists is under `<tableDir>/data/` with a distinct name, its column
    * names are the union's, its data schema equals (ignoring nullability)
    * the schema [[SchemaDrift]] resolves for those files, and `tableDir` is
    * on the local (`file:`) filesystem. Anything else — a filtered or
    * projected scan, a scan under a narrower schema, files outside the
    * data root, HDFS or an object store — is written in full. Either way
    * the new version holds the same rows; only file boundaries differ. */
  def atomicPublish(df: DataFrame, tableDir: String): String =
    staged(df.sparkSession, tableDir) { dataDir =>
      appendShape(df, tableDir) match {
        case Some((added, shared)) =>
          added.write.parquet(dataDir.toString)
          shared.foreach(link(_, dataDir))
        case None => df.write.parquet(dataDir.toString)
      }
    }

  /** Stage a fresh version dir under `<tableDir>/data/`, have `fill` write
    * it, then flip the manifest to it. If `fill` fails, the staged dir is
    * deleted before the failure surfaces: the manifest never named it, so
    * no reader saw it. */
  private def staged(spark: SparkSession, tableDir: String)(fill: Path => Unit): String = {
    val fs = new Path(tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // never an existing dir's name: a failed fill deletes the dir it names
    val version = Iterator.continually(UUID.randomUUID().toString.take(8))
      .find(v => !fs.exists(new Path(s"$tableDir/data/$v"))).get
    val dataDir = new Path(s"$tableDir/data/$version")
    try fill(dataDir) catch {
      case e: Throwable =>
        try fs.delete(dataDir, true) catch { case _: Throwable => () }
        throw e
    }
    publishManifest(spark, tableDir, dataDir.toString, version)
  }

  /** `df` split for an append (the rule in [[atomicPublish]]): the union
    * of the children to write, under the union's column names, and the
    * files of the one child that scans `tableDir`'s own data. None when
    * `df` is not that shape. */
  private def appendShape(df: DataFrame, tableDir: String): Option[(DataFrame, Seq[Path])] = {
    val spark = df.sparkSession
    val fs = new Path(tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataRoot = fs.makeQualified(new Path(tableDir, "data"))
    def ownFiles(u: Union, child: LogicalPlan): Option[Seq[FileStatus]] = child match {
      case lr: LogicalRelation if !lr.isStreaming &&
          lr.output.map(_.name) == u.output.map(_.name) => lr.relation match {
        case HadoopFsRelation(index: PartitioningAwareFileIndex, parts, data, None,
            _: ParquetFileFormat, _) if parts.isEmpty =>
          val files = index.allFiles()
          val own = files.nonEmpty &&
            files.forall(f => fs.makeQualified(f.getPath).toString
              .startsWith(s"$dataRoot/")) &&
            files.map(_.getPath.getName).distinct.size == files.size &&
            SchemaDrift.resolve(spark, files)
              .exists(DataTypeUtils.equalsIgnoreNullability(data, _))
          Option.when(own)(files)
        case _ => None
      }
      case _ => None
    }
    df.queryExecution.analyzed match {
      case u: Union if dataRoot.toUri.getScheme == "file" =>
        u.children.indices.iterator
          .flatMap(i => ownFiles(u, u.children(i)).map(i -> _)).nextOption()
          .map { case (i, files) =>
            val rest = u.children.patch(i, Nil, 1)
            (GraftColumnBridge.unionOf(spark, rest).toDF(u.output.map(_.name): _*),
              files.map(_.getPath))
          }
      case _ => None
    }
  }

  /** Hard-link the local file `f`, and its checksum sibling where one
    * exists, into the directory `dir` under the same name. */
  private def link(f: Path, dir: Path): Unit = {
    val src = Paths.get(f.toUri.getPath)
    val dst = Paths.get(dir.toUri.getPath)
    Files.createLink(dst.resolve(src.getFileName), src)
    val crc = src.resolveSibling(s".${src.getFileName}.crc")
    if (Files.exists(crc)) Files.createLink(dst.resolve(crc.getFileName), crc)
  }

  /** The manifest commit point, shared by every publish path: write the
    * pointer beside the table, then one overwrite-rename flips readers to
    * the new complete version. Atomic on HDFS/posix; on S3 use a
    * conditional-put manifest or a catalog (Delta/Iceberg) instead. */
  private def publishManifest(spark: SparkSession, tableDir: String,
      dataDir: String, version: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(tableDir).getFileSystem(conf)
    val tmp = new Path(tableDir, s".$ManifestName.$version.tmp")
    val out = fs.create(tmp, true)
    out.write(dataDir.getBytes("UTF-8"))
    out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(new Path(tableDir).toUri, conf)
    fc.rename(tmp, new Path(tableDir, ManifestName),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    version
  }

  /** Compact a table directory: rewrite into ~`targetFileMB`-sized files and
    * atomically re-publish. Small-file proliferation is the dominant
    * metadata/scan-overhead tax at 100 TB (every file costs a listing entry,
    * a footer read, and a task); periodic compaction keeps scans at
    * full-split efficiency. Returns the new version id. */
  def compact(spark: SparkSession, tableDir: String, targetFileMB: Int = 128): String = {
    val df = readPublished(spark, tableDir)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val nFiles = math.max(1, (bytes / (targetFileMB.toLong << 20)).toInt)
    atomicPublish(df.repartition(nFiles), tableDir)
  }

  /** Forget-pass: atomically republish `tableDir` WITHOUT the rows whose
    * `keyCol` appears in `keys` — the right-to-be-forgotten / takedown /
    * opt-out primitive a corpus under data-protection law needs. One
    * broadcast anti join over the current published version (takedown key
    * sets are thousands of ids, never fact-table-sized), staged to a fresh
    * version dir, then the same one-rename manifest flip every publish
    * uses: readers see the old complete version until the instant the new
    * complete one exists, and the old files remain for audit until
    * explicitly vacuumed. Returns the new version id. */
  def deleteByKeys(spark: SparkSession, tableDir: String, keyCol: String,
      keys: DataFrame): String = {
    val cur = readPublished(spark, tableDir)
    val keyed = keys.toDF("__del_key")
    atomicPublish(
      cur.join(broadcast(keyed), col(keyCol) === col("__del_key"), "left_anti"),
      tableDir)
  }

  /** Convenience overload for a driver-side key list. */
  def deleteByKeys(spark: SparkSession, tableDir: String, keyCol: String,
      keys: Seq[Long]): String = {
    import spark.implicits._
    deleteByKeys(spark, tableDir, keyCol, keys.toDF("__del_key"))
  }

  /** Publish each streaming micro-batch as a new complete table version —
    * `foreachBatch` bridge from Structured Streaming into the atomic
    * manifest protocol (readers always see exactly one full snapshot).
    * Each batch REPLACES the table; it is not appended. `foreachBatch` can
    * run a batch again after a restart, and replacement is idempotent
    * under that replay where an append would publish its rows twice. */
  def publishStream(df: DataFrame, tableDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      atomicPublish(batch, tableDir); ()
    }.start()

  /** Ticketed bulk ingest: the reference's `download` verb returns a ticket
    * and moves data in the background (rpc.py:210-254, controller.py:555-597);
    * here the background work is read-source → atomic-publish, tracked and
    * cancellable through [[Tickets]]. */
  def downloadTicketed(spark: SparkSession, source: String, tableDir: String): String =
    Tickets.submit(spark, s"download $source -> $tableDir") { s =>
      atomicPublish(s.read.parquet(source), tableDir); ()
    }

  /** Multi-file ticketed bulk ingest with PER-FILE progress slots — the
    * reference tracks node×file download slots with byte counts
    * (controller.py:580-590, worker.py:492-519); a 10k-file ingest here is
    * likewise never one opaque RUNNING. Each source file is byte-copied
    * into one freshly staged version dir (its slot flips PENDING → RUNNING
    * → DONE with the copied byte count, or FAILED); the manifest flips ONCE
    * after every file landed, so readers keep all-or-nothing visibility
    * (the moveparquet barrier). Cancellation is honored at file
    * boundaries — already-terminal slots stay, unstarted ones stay PENDING,
    * and nothing publishes. */
  def downloadTicketedFiles(spark: SparkSession, sources: Seq[String],
      tableDir: String): String =
    Tickets.submitWithFiles(spark,
        s"download ${sources.size} files -> $tableDir", sources) { (s, id) =>
      val conf = s.sparkContext.hadoopConfiguration
      // failed or cancelled: staged deletes the unreferenced version dir
      staged(s, tableDir) { dataDir =>
        val fs = dataDir.getFileSystem(conf)
        fs.mkdirs(dataDir)
        sources.zipWithIndex.foreach { case (src, i) =>
          if (!Tickets.get(id).exists(_.state == Tickets.Running))
            throw new InterruptedException("cancelled mid-ingest")
          Tickets.fileUpdate(id, src, 0L, Tickets.Running)
          try {
            val srcPath = new Path(src)
            val sfs = srcPath.getFileSystem(conf)
            // index-prefixed staging name: two sources sharing a basename
            // (part-00000.parquet from different dirs — the common multi-part
            // layout) must NOT overwrite each other in the staged version
            org.apache.hadoop.fs.FileUtil.copy(
              sfs, srcPath, fs, new Path(dataDir, f"f$i%05d-${srcPath.getName}"),
              false, conf)
            Tickets.fileUpdate(id, src, sfs.getFileStatus(srcPath).getLen, Tickets.Done)
          } catch {
            case e: Throwable =>
              Tickets.fileUpdate(id, src, 0L, Tickets.Failed)
              throw e
          }
        }
      }
      ()
    }

  /** Reclaim version dirs no longer referenced by the manifest. Every
    * publish ([[atomicPublish]], [[compact]], [[deleteByKeys]],
    * [[publishStream]]) stages a NEW complete version and leaves the old
    * one for audit and in-flight readers — vacuum is the explicit,
    * separate reclamation step (the Delta/Iceberg discipline: never
    * garbage-collect inside the write path). Keeps the currently-published
    * version unconditionally plus any version modified within `graceMs`
    * (readers that resolved the manifest just before a flip finish their
    * scan inside the grace window). A version dir that shares files with
    * a newer one (an append's hard links) only drops its links: a file's
    * data goes when the last dir naming it goes, so vacuum never deletes a
    * file the current version lists. Returns the deleted dirs. */
  def vacuum(spark: SparkSession, tableDir: String,
      graceMs: Long = 24L * 3600 * 1000): Seq[String] = {
    val fs = new Path(tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val currentPath = fs.makeQualified(new Path(publishedDir(spark, tableDir)))
    val dataRoot = new Path(tableDir, "data")
    if (!fs.exists(dataRoot)) return Nil
    val cutoff = System.currentTimeMillis() - graceMs
    fs.listStatus(dataRoot).toSeq
      .filter(s => s.isDirectory &&
        fs.makeQualified(s.getPath) != currentPath &&
        s.getModificationTime < cutoff)
      .map { s => fs.delete(s.getPath, true); s.getPath.toString }
  }

  /** Read the currently-published version: resolve the manifest, then
    * scan its files as one shard set ([[SchemaDrift.readSharded]]). */
  def readPublished(spark: SparkSession, tableDir: String): DataFrame =
    SchemaDrift.readSharded(spark, Seq(publishedDir(spark, tableDir)))

  /** The version dir the manifest of `tableDir` points at. */
  private def publishedDir(spark: SparkSession, tableDir: String): String = {
    val fs = new Path(tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(tableDir, ManifestName))
    try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
  }
}
