package graft.delta

import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path, RawLocalFileSystem, RemoteIterator}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

/** A RawLocalFileSystem under scheme `countfs:` that counts metadata
  * calls (`getFileStatus`, `listStatus`, `listLocatedStatus`) on paths
  * outside `_delta_log` — the calls a listing file index makes on data
  * files. */
class CountingFs extends RawLocalFileSystem {
  override def getScheme: String = "countfs"
  override def getUri: URI = URI.create("countfs:///")
  private def count(p: Path): Unit =
    if (!p.toUri.getPath.contains("/_delta_log")) CountingFs.dataCalls.incrementAndGet()
  override def getFileStatus(p: Path): FileStatus = { count(p); super.getFileStatus(p) }
  override def listStatus(p: Path): Array[FileStatus] = { count(p); super.listStatus(p) }
  override def listLocatedStatus(p: Path): RemoteIterator[LocatedFileStatus] = {
    count(p); super.listLocatedStatus(p)
  }
}

object CountingFs {
  val dataCalls = new AtomicLong(0)
}

/** Scans plan from the log's file list ([[org.apache.spark.sql.graft.LogFileIndex]]):
  * partition values come from `add.partitionValues` whatever the
  * directory layout, and planning never lists or stats a data file. */
class LogFileIndexSpec extends GraftSuite with AdaptiveSparkPlanHelper {

  private def tmp(): String = {
    val d = Files.createTempDirectory("graft_logindex")
    d.toFile.deleteOnExit()
    d.toString
  }

  /** One parquet file of `ids` (column `id` only) at `root/rel`, written
    * by plain Spark; returns its size. */
  private def dataFile(root: String, rel: String, ids: Seq[Long]): Long = {
    import spark.implicits._
    val staging = s"${tmp()}/out"
    ids.toDF("id").coalesce(1).write.parquet(staging)
    val part = new java.io.File(staging).listFiles().filter(_.getName.endsWith(".parquet")).head
    val dest = new java.io.File(s"$root/$rel")
    dest.getParentFile.mkdirs()
    Files.move(part.toPath, dest.toPath)
    dest.length()
  }

  /** A commit JSON written as literal text, not through `Actions`. */
  private def commit(root: String, version: Long, lines: String*): Unit = {
    val log = new java.io.File(s"$root/_delta_log")
    log.mkdirs()
    Files.write(new java.io.File(log, f"$version%020d.json").toPath,
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  private def add(rel: String, p: Int, size: Long): String =
    s"""{"add":{"path":"$rel","partitionValues":{"p":"$p"},"size":$size,""" +
      s""""modificationTime":1700000000000,"dataChange":true}}"""

  private val header = Seq(
    """{"commitInfo":{"timestamp":1700000000000,"operation":"WRITE","operationParameters":{"mode":"ErrorIfExists","partitionBy":"[\"p\"]"}}}""",
    """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
    """{"metaData":{"id":"log-index-spec","format":{"provider":"parquet","options":{}},""" +
      """"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"p\",\"type\":\"integer\",\"nullable\":true,\"metadata\":{}}]}",""" +
      """"partitionColumns":["p"],"configuration":{},"createdTime":1700000000000}}""")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int)] =
    df.select(col("id"), col("p")).collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sortBy(_._1)

  test("partition values come from the log, not from directory names") {
    // delta.randomizeFilePrefixes layout: no col=value directories at all
    val root = tmp()
    val s1 = dataFile(root, "ab/part-00000-one.snappy.parquet", Seq(1L, 2L, 3L))
    val s2 = dataFile(root, "cd/part-00000-two.snappy.parquet", Seq(10L, 11L))
    commit(root, 0L, header ++ Seq(
      add("ab/part-00000-one.snappy.parquet", 1, s1),
      add("cd/part-00000-two.snappy.parquet", 2, s2)): _*)

    assert(rows(GraftDelta.readDelta(spark, root)) ==
      Seq((1L, 1), (2L, 1), (3L, 1), (10L, 2), (11L, 2)))
    // log-level pruning on the partition value
    val logPruned = GraftDelta.readDelta(spark, root, filters = Seq(Seq(Predicate("p", "==", 2))))
    assert(rows(logPruned) == Seq((10L, 2), (11L, 2)))
    assert(logPruned.inputFiles.toSeq.map(f => f.substring(f.lastIndexOf('/') + 1)) ==
      Seq("part-00000-two.snappy.parquet"))
    // Catalyst partition pruning through the index's listFiles
    val catalystPruned = GraftDelta.readDelta(spark, root).filter(col("p") === 2)
    assert(catalystPruned.collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("p"))).toSeq
      .sortBy(_._1) == Seq((10L, 2), (11L, 2)))
    val scanned = collect(catalystPruned.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }
    assert(scanned == Seq(1L), s"partition filter must select one file, scanned $scanned")
  }

  test("a table mixing hive directories and prefixed files reads every partition") {
    val root = tmp()
    val s1 = dataFile(root, "p=1/part-00000-one.snappy.parquet", Seq(1L))
    val s2 = dataFile(root, "cd/part-00000-two.snappy.parquet", Seq(2L))
    commit(root, 0L, header ++ Seq(
      add("p=1/part-00000-one.snappy.parquet", 1, s1),
      add("cd/part-00000-two.snappy.parquet", 2, s2)): _*)
    assert(rows(GraftDelta.readDelta(spark, root)) == Seq((1L, 1), (2L, 2)))
  }

  test("two partition columns ordered unlike the schema keep their values and layout order") {
    import spark.implicits._
    val root = s"${tmp()}/tbl"
    val df = (1 to 12).map(i => (i.toLong, s"b${i % 2}", i % 3, s"v$i")).toDF("k", "b", "a", "v")
    DeltaWrite.write(df, root, mode = "error", partitionBy = Seq("a", "b"))
    val read = GraftDelta.readDelta(spark, root)
    // data columns, then partition columns in partitionBy (directory) order
    assert(read.columns.toSeq == Seq("k", "v", "a", "b"))
    assert(read.select("k", "b", "a", "v").as[(Long, String, Int, String)].collect().sortBy(_._1).toSeq ==
      df.as[(Long, String, Int, String)].collect().toSeq)
    assert(read.filter(col("a") === 1 && col("b") === "b0").select("k").as[Long].collect().sorted.toSeq ==
      Seq(4L, 10L))
  }

  test("planning a scan lists and stats no data file, past Spark's parallel-listing threshold") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl", classOf[CountingFs].getName)
    val table = s"countfs:${tmp()}/tbl"
    // 10 partitions x 4 appends = 40 active files (> 32)
    (0 until 4).foreach { a =>
      val df = (0 until 100).map(i => (a * 100L + i, i % 10)).toDF("id", "p").repartition(col("p"))
      DeltaWrite.write(df, table, mode = if (a == 0) "error" else "append", partitionBy = Seq("p"))
    }
    val log = DeltaLog.forTable(spark, table)
    val latest = log.snapshot(None)
    assert(latest.activeFiles.size == 40)
    for ((version, rowCount, files) <- Seq((None, 400L, 40), (Some(1L), 200L, 20))) {
      CountingFs.dataCalls.set(0)
      val df = DeltaRead.load(spark, table, version = version)
      df.queryExecution.executedPlan
      assert(CountingFs.dataCalls.get() == 0L,
        s"version $version: planning made ${CountingFs.dataCalls.get()} data-file metadata calls")
      assert(df.count() == rowCount)
      assert(df.inputFiles.length == files)
    }
  }
}
