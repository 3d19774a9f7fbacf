package graft.delta

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkException
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Paths}

/** [[FanOut]]: its serial and job sides agree on results and errors, and
  * each table operation that fans out per file has a pin just above the
  * threshold. The job side is where a per-item closure that captures
  * something non-serializable fails, so every site runs it once. */
class FanOutSpec extends GraftSuite {
  private def tmp(): String = {
    val d = Files.createTempDirectory("graft_fanout")
    d.toFile.deleteOnExit()
    s"$d/tbl"
  }
  private val n = FanOut.Threshold + 1

  /** 20 rows per file of one `id` column, hashed into `files` parquet files. */
  private def frame(files: Int) =
    spark.range(0, 20L * files).toDF().repartition(files, col("id"))

  private def bytesOf(path: String): Array[Byte] =
    Files.readAllBytes(Paths.get(new Path(path).toUri.getPath))

  test("results come back in item order, equal on both sides of the threshold") {
    val items = (0 until n).map(i => s"item-$i")
    val f = (c: Configuration, s: String) => s"$s:${c.get("fs.defaultFS") != null}"
    val (serial, serialJobs) = TestBase.jobsDuring(FanOut(spark, items, threshold = n)(f))
    val (job, jobJobs) = TestBase.jobsDuring(FanOut(spark, items, threshold = n - 1)(f))
    assert(serial == items.map(_ + ":true"))
    assert(job == serial)
    assert(TestBase.fanOutJobs(serialJobs) == 0 && TestBase.fanOutJobs(jobJobs) == 1)
  }

  test("an item's exception surfaces with the same class and message on both sides") {
    def failure(threshold: Int): Throwable = intercept[Exception] {
      FanOut(spark, 0 until n, threshold) { (_, i) =>
        if (i == 7) throw new java.io.IOException(s"item $i unreadable") else i
      }
    }
    val (serial, job) = (failure(n), failure(0))
    assert(serial.getClass == classOf[java.io.IOException] && serial.getMessage == "item 7 unreadable")
    assert(job.getClass == serial.getClass && job.getMessage == serial.getMessage, job)
  }

  test("a job that fails with no cause rethrows Spark's exception as is") {
    // items that cannot be serialized into tasks abort the job before any
    // item runs, and Spark's abort carries no cause to unwrap
    final class Opaque(val i: Int)
    val e = intercept[SparkException] {
      FanOut(spark, (0 until n).map(new Opaque(_)), 0)((_, o) => o.i)
    }
    assert(e.getCause == null && e.getMessage.contains("serialize"), e)
  }

  test("deepClone above the threshold copies every file in one fan-out job") {
    val (src, cln) = (tmp(), tmp())
    GraftDelta.toDelta(frame(n), src)
    val (r, jobs) = TestBase.jobsDuring(GraftDelta.deepClone(spark, src, cln))
    assert(TestBase.fanOutJobs(jobs) == 1, jobs.map(_.jobId))
    val srcAdds = DeltaLog.forTable(spark, src).snapshot(None).activeFiles
    val clnAdds = DeltaLog.forTable(spark, cln).snapshot(None).activeFiles
    assert(r.clonedFiles == n && clnAdds.map(_.path).sorted == srcAdds.map(_.path).sorted)
    srcAdds.foreach(a => assert(java.util.Arrays.equals(
      bytesOf(DeltaRead.resolvePath(cln, a.path)), bytesOf(DeltaRead.resolvePath(src, a.path))),
      a.path))
    assert(GraftDelta.readDelta(spark, cln).count() == 20L * n)
  }

  test("fsckRepair above the threshold finds the missing files in one fan-out job") {
    val path = tmp()
    GraftDelta.toDelta(frame(n), path)
    val gone = DeltaLog.forTable(spark, path).snapshot(None).activeFiles.take(3).map(_.path)
    gone.foreach(p => Files.delete(Paths.get(DeltaRead.resolvePath(path, p))))
    val (dry, jobs) = TestBase.jobsDuring(DeltaTableOps.fsckRepair(spark, path, dryRun = true))
    assert(TestBase.fanOutJobs(jobs) == 1, jobs.map(_.jobId))
    assert(dry.removedEntries == 3L)
    assert(DeltaTableOps.fsckRepair(spark, path).removedEntries == 3L)
    val left = DeltaLog.forTable(spark, path).snapshot(None).activeFiles.map(_.path).toSet
    assert(left.size == n - 3 && !gone.exists(left.contains))
  }

  test("convertToDelta above the threshold harvests every footer in one fan-out job") {
    val path = tmp()
    frame(n).write.parquet(path)
    val (res, jobs) = TestBase.jobsDuring(GraftDelta.convertToDelta(spark, path))
    assert(TestBase.fanOutJobs(jobs) == 1, jobs.map(_.jobId))
    assert(res.numFiles == n)
    // the serial result: each file's own footer stats, in listing order
    val root = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val statsSchema = DeltaWrite.statsSchemaOf(spark.read.parquet(path).schema, Nil, Map.empty)
    val expect = DeltaWrite.listParquetFiles(root.getFileSystem(conf), root).map(st =>
      DeltaWrite.relativize(root, st.getPath) -> DeltaWrite.harvestStats(conf, st.getPath, statsSchema))
    val log = DeltaLog.forTable(spark, path)
    val adds = log.readCommitActions(0L).collect { case a: AddFile => a.path -> a.stats.get }
    assert(adds == expect)
  }

  test("restore's exists check above its threshold runs one fan-out job and refuses alike") {
    val path = tmp()
    GraftDelta.toDelta(frame(4), path)                                          // v0
    GraftDelta.toDelta(spark.range(0, 10L).toDF(), path, mode = "overwrite")    // v1
    val (_, jobs) = TestBase.jobsDuring(
      DeltaTableOps.restore(spark, path, 0L, existsCheckThreshold = 0))         // v2
    assert(TestBase.fanOutJobs(jobs) == 1, jobs.map(_.jobId))
    assert(GraftDelta.readDelta(spark, path).count() == 80L)
    // v1's files are gone from storage: restoring to v1 must refuse on
    // both sides of the threshold with the same message
    DeltaLog.forTable(spark, path).snapshot(Some(1L)).activeFiles
      .foreach(a => Files.delete(Paths.get(DeltaRead.resolvePath(path, a.path))))
    def refusal(threshold: Int): String = intercept[IllegalStateException](
      DeltaTableOps.restore(spark, path, 1L, existsCheckThreshold = threshold)).getMessage
    val serial = refusal(1000)
    assert(serial.contains("were vacuumed") && refusal(0) == serial, serial)
  }

  test("dvByteMap above the threshold loads every carrier in one fan-out job") {
    val path = tmp()
    GraftDelta.toDelta(frame(n), path)
    GraftDelta.deleteWhereWithDv(spark, path, Seq(Seq(Predicate("id", "<", 10L * n))))
    val files = DeltaLog.forTable(spark, path).snapshot(None).activeFiles
    assert(files.count(_.deletionVector.isDefined) == n)
    val root = new Path(path)
    val (bytes, jobs) = TestBase.jobsDuring(DeletionVectors.dvByteMap(spark, root, files))
    assert(TestBase.fanOutJobs(jobs) == 1, jobs.map(_.jobId))
    val (head, tail) = files.splitAt(FanOut.Threshold)
    val serial = DeletionVectors.dvByteMap(spark, root, head) ++
      DeletionVectors.dvByteMap(spark, root, tail)
    assert(bytes.keySet == serial.keySet &&
      bytes.forall { case (k, b) => java.util.Arrays.equals(b, serial(k)) })
    assert(GraftDelta.readDelta(spark, path).count() == 10L * n)
  }
}
