package org.apache.spark.sql.graft

import graft.delta.{AddFile, DeltaRead}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, EvalMode, Expression, Literal, Predicate}
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructType}

/** A `FileIndex` over the file list a Delta snapshot already holds: one
  * `FileStatus(add.size, add.modificationTime, path)` per add, partition
  * values cast from `add.partitionValues`. Planning a scan over it runs
  * no listing job and makes no `getFileStatus`/`listStatus` call on a
  * data file, and partition values come from the log whatever directory
  * layout the files sit in. A missing file fails when the scan opens it.
  *
  * Paths qualify through their `FileSystem` exactly as `DataSource`
  * qualifies `load(paths)`, so `inputFiles`, `input_file_name()` and
  * `_metadata.file_path` are the strings a listed scan would give.
  * `partitionKeys` names each partition field's `partitionValues` key
  * (the physical name under column mapping); values cast with the
  * session time zone, as a hive partition directory's string would. */
final class LogFileIndex(
    spark: SparkSession,
    tablePath: String,
    files: Seq[AddFile],
    override val partitionSchema: StructType,
    partitionKeys: Seq[String]) extends FileIndex {

  private val hadoopConf = spark.sessionState.newHadoopConf()

  private def qualified(p: Path): Path = {
    val fs = p.getFileSystem(hadoopConf)
    p.makeQualified(fs.getUri, fs.getWorkingDirectory)
  }

  /** One directory per distinct partition-value tuple, in first-seen
    * order; files keep the caller's order within it. */
  private val directories: Seq[PartitionDirectory] = {
    val conf = spark.sessionState.conf
    val casts = partitionSchema.fields.toSeq.map(f =>
      (v: String) => Cast(Literal.create(v, StringType), f.dataType,
        Some(conf.sessionLocalTimeZone), EvalMode.fromSQLConf(conf)).eval())
    def valuesOf(f: AddFile): Seq[String] =
      partitionKeys.map(k => f.partitionValues.get(k).flatMap(Option(_)).orNull)
    val byValues = files.groupBy(valuesOf)
    files.map(valuesOf).distinct.map { v =>
      PartitionDirectory(InternalRow.fromSeq(casts.zip(v).map { case (c, s) => c(s) }),
        byValues(v).map(f => FileStatusWithMetadata(new FileStatus(
          f.size, /* isdir */ false, /* block_replication */ 0, /* blocksize */ 1,
          f.modificationTime, qualified(new Path(DeltaRead.resolvePath(tablePath, f.path)))))))
    }
  }

  override def rootPaths: Seq[Path] = Seq(qualified(new Path(tablePath)))

  override def listFiles(
      partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) directories
    else {
      val keep = Predicate.createInterpreted(partitionFilters.reduce(And).transform {
        case a: AttributeReference =>
          val i = partitionSchema.indexWhere(_.name == a.name)
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
      })
      directories.filter(d => keep.eval(d.values))
    }

  override def inputFiles: Array[String] =
    directories.flatMap(_.files.map(_.getPath.toUri.toString)).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_.size).sum
}

object LogFileIndex {

  /** The parquet scan over `files` as a DataFrame rooted in `spark`:
    * `dataSchema` columns read from the files, then the partition
    * columns; `isStreaming` tags the relation as a micro-batch (the
    * DSv1 `Source.getBatch` contract). */
  def scan(
      spark: SparkSession,
      tablePath: String,
      files: Seq[AddFile],
      dataSchema: StructType,
      partitionSchema: StructType,
      partitionKeys: Seq[String],
      isStreaming: Boolean): DataFrame = {
    val cs = spark.asInstanceOf[ClassicSparkSession]
    val index = new LogFileIndex(spark, tablePath, files, partitionSchema.asNullable, partitionKeys)
    val relation = HadoopFsRelation(index, index.partitionSchema, dataSchema.asNullable,
      bucketSpec = None, new ParquetFileFormat, Map.empty)(cs)
    Dataset.ofRows(cs, LogicalRelation(relation, isStreaming))
  }
}
