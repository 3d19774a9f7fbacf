package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Control-plane parquet (checkpoints, sidecars, data-file footers) read
  * and written in-process with the caller's Hadoop conf: no Spark job and
  * no fresh `Configuration` per file. Rows go through Spark's own
  * `ParquetFileFormat` reader and writer, so a file's bytes, its footer's
  * Spark schema and the decoded `Row`s are what a `DataFrame` read or
  * write of the same rows gives. */
object LogParquet {

  /** The footer of `file`, row groups included, opened with `conf`.
    * Parquet's default read options would build a fresh `Configuration`
    * and re-parse Hadoop's XML defaults for every file (~15 ms against
    * ~0.4 ms). */
  def footer(conf: Configuration, file: Path): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf, file).build())
    try reader.getFooter finally reader.close()
  }

  /** The rows of `files`, file after file, holding those of the top-level
    * `columns` each file has (in the file's column order; a file with
    * none of them yields nothing). Each row carries its file's Spark
    * schema for those columns, as `spark.read.parquet` infers it. Lazy:
    * one file is open at a time. */
  def read(spark: SparkSession, files: Seq[Path], columns: Seq[String]): Iterator[Row] = {
    val conf = spark.sessionState.newHadoopConf()
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    val readers = mutable.Map.empty[(StructType, StructType), PartitionedFile => Iterator[InternalRow]]
    files.iterator.flatMap { file =>
      val meta = footer(conf, file)
      val fileSchema = ParquetFileFormat.readSchemaFromFooter(new Footer(file, meta), converter)
      val wanted = StructType(fileSchema.filter(f => columns.contains(f.name)))
      if (wanted.isEmpty) Iterator.empty
      else {
        val readFile = readers.getOrElseUpdate((fileSchema, wanted),
          new ParquetFileFormat().buildReaderWithPartitionValues(spark, fileSchema,
            new StructType(), wanted, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
            new Configuration(conf)))
        val len = file.getFileSystem(conf).getFileStatus(file).getLen
        val toRow = CatalystTypeConverters.createToScalaConverter(wanted)
        readFile(PartitionedFile(InternalRow.empty, SparkPath.fromPath(file), 0L, len,
          fileSize = len)).map(r => toRow(r).asInstanceOf[Row])
      }
    }
  }

  /** A writer of `schema` rows made by [[writer]]: Spark's parquet output
    * writer with the settings `ParquetFileFormat.prepareWrite` chose on
    * the driver. Serializable, so parts can be written in a Spark job. */
  final class Writer private[LogParquet] (
      schema: StructType, factory: OutputWriterFactory, settings: Map[String, String])
      extends Serializable {

    /** Writes `rows` to `file` under `conf` plus the write settings. */
    def write(conf: Configuration, file: Path, rows: Iterator[Row]): Unit = {
      val taskConf = new Configuration(conf)
      settings.foreach { case (k, v) => taskConf.set(k, v) }
      val context = new TaskAttemptContextImpl(taskConf,
        new TaskAttemptID("graft", 0, TaskType.MAP, 0, 0))
      val out = factory.newInstance(file.toString, schema, context)
      val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
      try rows.foreach(r => out.write(toInternal(r).asInstanceOf[InternalRow]))
      finally out.close()
    }
  }

  /** A [[Writer]] of `schema` rows with the session's parquet settings
    * (codec, timestamp type, legacy format), as a `DataFrame` write
    * would use. */
  def writer(spark: SparkSession, schema: StructType): Writer = {
    // prepared over an empty conf, so the job conf holds exactly the keys
    // prepareWrite sets; they are laid over the caller's conf per file
    val job = Job.getInstance(new Configuration(false))
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val settings = job.getConfiguration.iterator.asScala.map(e => e.getKey -> e.getValue).toMap
    new Writer(schema, factory, settings)
  }
}
