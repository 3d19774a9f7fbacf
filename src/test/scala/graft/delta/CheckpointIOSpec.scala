package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.types.DataType

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Checkpoint parquet read and written on the driver: every checkpoint
  * kind keeps the parquet and Spark schema a `DataFrame` write gave it,
  * no checkpoint read or write runs a Spark job, a file another writer
  * produced with Spark decodes to the same actions, a failed cadence
  * checkpoint leaves its commit standing, and checkpoint temps take the
  * `.<name>.tmp-<uuid8>` shape log cleanup sweeps. */
class CheckpointIOSpec extends GraftSuite {

  import CheckpointIOSpec._
  import TestBase.spark
  import spark.implicits._

  private def tmp(): String = {
    val d = Files.createTempDirectory("graft_cpio")
    d.toFile.deleteOnExit()
    s"$d/tbl"
  }

  private def logFiles(path: String): Seq[File] =
    new File(s"$path/_delta_log").listFiles().toSeq.filterNot(_.getName.startsWith("."))
      .sortBy(_.getName)

  private def v2Top(path: String): File =
    logFiles(path).filter(_.getName.matches("""\d{20}\.checkpoint\.[0-9a-f-]{36}\.parquet""")).head

  private def sidecars(path: String): Seq[File] =
    new File(s"$path/_delta_log/_sidecars").listFiles().toSeq
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))

  /** Temps left in `_delta_log` (the `.crc` siblings excluded). */
  private def temps(path: String): Seq[String] =
    new File(s"$path/_delta_log").list().toSeq.filter(n => n.contains(".tmp-") && !n.endsWith(".crc"))

  /** Upgrade a table's protocol to reader-3/writer-7 with v2Checkpoint. */
  private def enableV2(path: String): Unit = {
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    val rf = (snap.protocol.readerFeatures.getOrElse(Nil) :+ "v2Checkpoint").distinct
    log.writeCommit(snap.version + 1, Seq(
      CommitInfo(System.currentTimeMillis(), "UPGRADE PROTOCOL"),
      Protocol(3, 7, readerFeatures = Some(rf),
        writerFeatures = Some(DeltaLog.legacyWriterFeatures(snap.protocol)))))
  }

  /** A table at v1 with 4 active files over two partitions, a tombstone
    * and a SetTransaction. */
  private def twoVersions(path: String): Unit = {
    GraftDelta.toDelta((1L to 6L).map(i => (i, (i % 2).toString)).toDF("k", "p").repartition(2),
      path, partitionBy = Seq("p"))                                       // v0
    GraftDelta.toDelta((7L to 9L).map(i => (i, "0")).toDF("k", "p").repartition(2),
      path, mode = "overwrite", txn = Some(SetTransaction("app", 1L)))    // v1
  }

  /** Part 1 of 2 of a torn multi-part checkpoint at `v`: not a listed
    * checkpoint version, but a checkpoint write at `v` must clear it. */
  private def blockerAt(path: String, v: Long): File =
    new File(s"$path/_delta_log/" + f"$v%020d.checkpoint.${1}%010d.${2}%010d.parquet")

  private def assertFrozen(f: File, message: String, rowMeta: String): Unit = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(f.getPath), spark.sessionState.newHadoopConf()))
    val meta = try r.getFooter.getFileMetaData finally r.close()
    assert(meta.getSchema.toString == message, s"${f.getName}: ${meta.getSchema}")
    val compact = rowMeta.linesIterator.map(_.trim).mkString
    assert(meta.getKeyValueMetaData.get(RowMetaKey) == compact, f.getName)
    assert(spark.read.parquet(f.getPath).schema == DataType.fromJson(compact), f.getName)
  }

  test("checkpoint parquet keeps the parquet and Spark schema a DataFrame write gave it") {
    val classic = tmp()
    twoVersions(classic)
    DeltaLog.forTable(spark, classic).writeCheckpoint(1L)
    assertFrozen(new File(s"$classic/_delta_log/${"%020d".format(1L)}.checkpoint.parquet"),
      ClassicMessage, ClassicRowMeta)

    val multi = tmp()
    twoVersions(multi)
    DeltaLog.forTable(spark, multi).writeCheckpoint(1L, maxActionsPerPart = 2)
    val parts = logFiles(multi).filter(_.getName.contains(".checkpoint."))
    assert(parts.size > 1 && parts.map(_.getName.drop(20)) == (1 to parts.size).map(i =>
      f".checkpoint.$i%010d.${parts.size}%010d.parquet"), parts.map(_.getName))
    assertFrozen(parts.head, ClassicMessage, ClassicRowMeta)

    val v2 = tmp()
    GraftDelta.toDelta((1L to 12L).toDF("k").repartition(2), v2)          // v0
    enableV2(v2)                                                          // v1
    DeltaLog.forTable(spark, v2).writeCheckpoint(1L)
    assertFrozen(v2Top(v2), V2TopMessage, V2TopRowMeta)
    assertFrozen(sidecars(v2).head, SidecarMessage, SidecarRowMeta)
    Seq(classic, multi, v2).foreach(p => assert(temps(p).isEmpty, temps(p)))
  }

  test("a cold snapshot reads every checkpoint kind with no Spark job") {
    def coldRead(path: String, v: Long): Unit = {
      val want = DeltaLog.forTable(spark, path).snapshot(Some(v))
      // the JSON commits up to v are gone: only the checkpoint can serve v
      (0L to v).foreach(i => new File(s"$path/_delta_log/" + f"$i%020d.json").delete())
      val reads = DeltaLog.checkpointReadCount.get()
      val (got, jobs) = TestBase.jobsDuring(new DeltaLog(spark, path).snapshot(Some(v)))
      assert(jobs.map(_.jobId).isEmpty, path)
      assert(DeltaLog.checkpointReadCount.get() > reads)
      assert(got.activeFiles.map(_.path).sorted == want.activeFiles.map(_.path).sorted)
      assert(got.tombstones.map(_.path).sorted == want.tombstones.map(_.path).sorted)
      assert(got.setTransactions == want.setTransactions && got.metadata == want.metadata)
    }
    val classic = tmp()
    twoVersions(classic)
    DeltaLog.forTable(spark, classic).writeCheckpoint(1L)
    coldRead(classic, 1L)

    val multi = tmp()
    twoVersions(multi)
    DeltaLog.forTable(spark, multi).writeCheckpoint(1L, maxActionsPerPart = 2)
    coldRead(multi, 1L)

    val v2 = tmp()
    GraftDelta.toDelta((1L to 12L).toDF("k").repartition(3), v2)          // v0
    enableV2(v2)                                                          // v1
    DeltaLog.forTable(spark, v2).writeCheckpoint(1L, maxActionsPerPart = 2)
    assert(sidecars(v2).size == 2)
    coldRead(v2, 1L)

    // the JSON flavor of a V2 top file, over the same sidecars
    val v2json = tmp()
    GraftDelta.toDelta((1L to 12L).toDF("k").repartition(3), v2json)      // v0
    enableV2(v2json)                                                      // v1
    val log = DeltaLog.forTable(spark, v2json)
    log.writeCheckpoint(1L)
    val snap = log.snapshot(Some(1L))
    v2Top(v2json).delete()
    val lines = ActionCodec.toJsonLine(CheckpointMetadata(1L)) +:
      ActionCodec.toJsonLine(snap.protocol) +: ActionCodec.toJsonLine(snap.metadata) +:
      sidecars(v2json).map(f => ActionCodec.toJsonLine(Sidecar(f.getName, f.length(), f.lastModified())))
    Files.write(java.nio.file.Paths.get(s"$v2json/_delta_log/" +
      f"${1L}%020d.checkpoint.${java.util.UUID.randomUUID()}.json"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    coldRead(v2json, 1L)
  }

  test("writeCheckpoint runs no Spark job, classic or V2") {
    val classic = tmp()
    twoVersions(classic)
    DeltaLog.forTable(spark, classic).writeCheckpoint(0L)
    val (_, jobs) = TestBase.jobsDuring(DeltaLog.forTable(spark, classic).writeCheckpoint(1L))
    assert(jobs.map(_.jobId).isEmpty)
    assert(new File(s"$classic/_delta_log/${"%020d".format(1L)}.checkpoint.parquet").isFile)

    val v2 = tmp()
    GraftDelta.toDelta((1L to 12L).toDF("k").repartition(2), v2)          // v0
    enableV2(v2)                                                          // v1
    val (_, v2Jobs) = TestBase.jobsDuring(DeltaLog.forTable(spark, v2).writeCheckpoint(1L))
    assert(v2Jobs.map(_.jobId).isEmpty)
    assert(sidecars(v2).nonEmpty && v2Top(v2).isFile)
  }

  test("a checkpointing append runs one Spark job, the data write") {
    val path = tmp()
    GraftDelta.toDelta((1L to 10L).toDF("k"), path, checkpointInterval = 2)            // v0
    GraftDelta.toDelta((11L to 20L).toDF("k"), path, mode = "append",
      checkpointInterval = 2)                                                          // v1
    val (_, jobs) = TestBase.jobsDuring(GraftDelta.toDelta((21L to 30L).toDF("k"), path,
      mode = "append", checkpointInterval = 2))                                        // v2
    assert(jobs.map(_.jobId).size == 1)
    assert(DeltaLog.forTable(spark, path).readLastCheckpoint().map(_.version).contains(2L))
    assert(GraftDelta.readDelta(spark, path).count() == 30)
  }

  test("a checkpoint Spark's DataFrame writer wrote decodes to the same actions") {
    val path = tmp()
    twoVersions(path)
    val log = DeltaLog.forTable(spark, path)
    log.writeCheckpoint(1L)
    val ours = log.readCheckpointActions(1L)
    // rewrite it the way a foreign Spark-based writer would: DataFrame
    // rows, three part files, installed as a multi-part checkpoint
    val single = new File(s"$path/_delta_log/${"%020d".format(1L)}.checkpoint.parquet")
    val out = s"${Files.createTempDirectory("graft_cpio_foreign")}/cp"
    spark.read.parquet(single.getPath).repartition(3).write.parquet(out)
    val written = new File(out).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(written.length == 3)
    single.delete()
    written.zipWithIndex.foreach { case (f, i) =>
      Files.move(f.toPath, java.nio.file.Paths.get(s"$path/_delta_log/" +
        f"${1L}%020d.checkpoint.${i + 1}%010d.${3}%010d.parquet"))
    }
    val foreign = new DeltaLog(spark, path).readCheckpointActions(1L)
    assert(foreign.size == ours.size && foreign.toSet == ours.toSet)
    assert(ours.exists(_.isInstanceOf[RemoveFile]) && ours.exists(_.isInstanceOf[SetTransaction]))
  }

  test("a failed cadence checkpoint leaves the committed append standing") {
    val path = tmp()
    (0L to 3L).foreach(v => GraftDelta.toDelta(Seq(v).toDF("k"), path,
      mode = if (v == 0) "error" else "append", checkpointInterval = 2))  // v0..v3, checkpoint v2
    val log = DeltaLog.forTable(spark, path)
    val lastCp = new File(s"$path/_delta_log/_last_checkpoint")
    val before = new String(Files.readAllBytes(lastCp.toPath), StandardCharsets.UTF_8)
    assert(before.contains("\"version\":2"), before)
    // a stale part of a torn multi-part v4 checkpoint that cannot be
    // deleted (a non-empty directory): v4's checkpoint write fails
    assert(new File(blockerAt(path, 4L), "x").mkdirs())
    GraftDelta.toDelta(Seq(4L).toDF("k"), path, mode = "append", checkpointInterval = 2)
    assert(log.latestVersion == 4L)
    assert(GraftDelta.readDelta(spark, path).as[Long].collect().sorted.toSeq == (0L to 4L))
    assert(new DeltaLog(spark, path).snapshot(None).activeFiles.size == 5)
    assert(new String(Files.readAllBytes(lastCp.toPath), StandardCharsets.UTF_8) == before)
    assert(temps(path).isEmpty, temps(path))
  }

  test("a directory named like a checkpoint is no checkpoint and no head") {
    val path = tmp()
    (0L to 3L).foreach(v => GraftDelta.toDelta(Seq(v).toDF("k"), path,
      mode = if (v == 0) "error" else "append"))                          // v0..v3
    assert(new File(s"$path/_delta_log/" + f"${4L}%020d.checkpoint.parquet", "x").mkdirs())
    val log = new DeltaLog(spark, path)
    assert(log.latestVersion == 3L && log.listCheckpointVersions.isEmpty)
    assert(log.snapshot(None).version == 3L)
    assert(GraftDelta.readDelta(spark, path).as[Long].collect().sorted.toSeq == (0L to 3L))
    GraftDelta.toDelta(Seq(4L).toDF("k"), path, mode = "append")          // v4
    assert(new DeltaLog(spark, path).snapshot(None).version == 4L)
    assert(GraftDelta.readDelta(spark, path).as[Long].collect().sorted.toSeq == (0L to 4L))
  }

  test("an explicit checkpoint failure still fails DROP FEATURE") {
    val path = tmp()
    GraftDelta.toDelta((1L to 5L).toDF("k"), path)                        // v0
    GraftDelta.enableInCommitTimestamps(spark, path)                      // v1
    DeltaTableOps.setTableProperties(spark, path,
      Map("delta.enableInCommitTimestamps" -> "false"))                   // v2
    assert(new File(blockerAt(path, 3L), "x").mkdirs())
    intercept[java.io.IOException](DeltaTableOps.dropFeature(spark, path, "inCommitTimestamp"))
    assert(temps(path).isEmpty, temps(path))
  }

  test("checkpoint temps take LogStore's temp shape; cleanupLog sweeps aged ones only") {
    // the writers name every temp through LogStore.tempName
    val path = tmp()
    GraftDelta.toDelta((1L to 5L).toDF("k"), path)
    val logDir = new File(path, "_delta_log")
    val aged = Seq(LogStore.tempName(f"${1L}%020d.checkpoint.parquet"),
      LogStore.tempName("_last_checkpoint"), LogStore.tempName("0123abcd.parquet"))
      .map(new File(logDir, _))
    val young = new File(logDir, LogStore.tempName(f"${2L}%020d.checkpoint.parquet"))
    (aged :+ young).foreach(f => Files.write(f.toPath, Array[Byte](1)))
    aged.foreach(f => assert(f.setLastModified(System.currentTimeMillis() - 10L * 24 * 3600 * 1000)))
    val gone = DeltaMaintenance.cleanupLog(spark, path, retentionHours = 168.0, dryRun = false)
    assert(gone == aged.map(_.getName).sorted, gone)
    assert(aged.forall(!_.exists()) && young.exists())
  }
}

object CheckpointIOSpec {

  private val RowMetaKey = "org.apache.spark.sql.parquet.row.metadata"

  // Footer schemas of checkpoint files Spark's DataFrame writer produced
  // (classic and multi-part share one); `*RowMeta` is the RowMetaKey
  // value with one field per line.

  private val ClassicMessage =
    """message spark_schema {
      |  optional group protocol {
      |    optional int32 minReaderVersion;
      |    optional int32 minWriterVersion;
      |    optional group readerFeatures (LIST) {
      |      repeated group list {
      |        optional binary element (STRING);
      |      }
      |    }
      |    optional group writerFeatures (LIST) {
      |      repeated group list {
      |        optional binary element (STRING);
      |      }
      |    }
      |  }
      |  optional group metaData {
      |    optional binary id (STRING);
      |    optional binary name (STRING);
      |    optional binary description (STRING);
      |    optional group format {
      |      optional binary provider (STRING);
      |      optional group options (MAP) {
      |        repeated group key_value {
      |          required binary key (STRING);
      |          optional binary value (STRING);
      |        }
      |      }
      |    }
      |    optional binary schemaString (STRING);
      |    optional group partitionColumns (LIST) {
      |      repeated group list {
      |        optional binary element (STRING);
      |      }
      |    }
      |    optional group configuration (MAP) {
      |      repeated group key_value {
      |        required binary key (STRING);
      |        optional binary value (STRING);
      |      }
      |    }
      |    optional int64 createdTime;
      |  }
      |  optional group add {
      |    optional binary path (STRING);
      |    optional group partitionValues (MAP) {
      |      repeated group key_value {
      |        required binary key (STRING);
      |        optional binary value (STRING);
      |      }
      |    }
      |    optional int64 size;
      |    optional int64 modificationTime;
      |    optional boolean dataChange;
      |    optional binary stats (STRING);
      |    optional group deletionVector {
      |      optional binary storageType (STRING);
      |      optional binary pathOrInlineDv (STRING);
      |      optional int32 offset;
      |      optional int32 sizeInBytes;
      |      optional int64 cardinality;
      |    }
      |    optional int64 baseRowId;
      |    optional int64 defaultRowCommitVersion;
      |  }
      |  optional group remove {
      |    optional binary path (STRING);
      |    optional int64 deletionTimestamp;
      |    optional boolean dataChange;
      |    optional boolean extendedFileMetadata;
      |    optional group partitionValues (MAP) {
      |      repeated group key_value {
      |        required binary key (STRING);
      |        optional binary value (STRING);
      |      }
      |    }
      |    optional int64 size;
      |    optional group deletionVector {
      |      optional binary storageType (STRING);
      |      optional binary pathOrInlineDv (STRING);
      |      optional int32 offset;
      |      optional int32 sizeInBytes;
      |      optional int64 cardinality;
      |    }
      |  }
      |  optional group txn {
      |    optional binary appId (STRING);
      |    optional int64 version;
      |    optional int64 lastUpdated;
      |  }
      |  optional group domainMetadata {
      |    optional binary domain (STRING);
      |    optional binary configuration (STRING);
      |    optional boolean removed;
      |  }
      |}
      |""".stripMargin

  private val ClassicRowMeta =
    """{"type":"struct","fields":[
      |  {"name":"protocol","type":{"type":"struct","fields":[
      |    {"name":"minReaderVersion","type":"integer","nullable":true,"metadata":{}},
      |    {"name":"minWriterVersion","type":"integer","nullable":true,"metadata":{}},
      |    {"name":"readerFeatures","type":{"type":"array","elementType":"string","containsNull":true},"nullable":true,"metadata":{}},
      |    {"name":"writerFeatures","type":{"type":"array","elementType":"string","containsNull":true},"nullable":true,"metadata":{}}
      |  ]},"nullable":true,"metadata":{}},
      |  {"name":"metaData","type":{"type":"struct","fields":[
      |    {"name":"id","type":"string","nullable":true,"metadata":{}},
      |    {"name":"name","type":"string","nullable":true,"metadata":{}},
      |    {"name":"description","type":"string","nullable":true,"metadata":{}},
      |    {"name":"format","type":{"type":"struct","fields":[
      |      {"name":"provider","type":"string","nullable":true,"metadata":{}},
      |      {"name":"options","type":{"type":"map","keyType":"string","valueType":"string","valueContainsNull":true},"nullable":true,"metadata":{}}
      |    ]},"nullable":true,"metadata":{}},
      |    {"name":"schemaString","type":"string","nullable":true,"metadata":{}},
      |    {"name":"partitionColumns","type":{"type":"array","elementType":"string","containsNull":true},"nullable":true,"metadata":{}},
      |    {"name":"configuration","type":{"type":"map","keyType":"string","valueType":"string","valueContainsNull":true},"nullable":true,"metadata":{}},
      |    {"name":"createdTime","type":"long","nullable":true,"metadata":{}}
      |  ]},"nullable":true,"metadata":{}},
      |  {"name":"add","type":{"type":"struct","fields":[
      |    {"name":"path","type":"string","nullable":true,"metadata":{}},
      |    {"name":"partitionValues","type":{"type":"map","keyType":"string","valueType":"string","valueContainsNull":true},"nullable":true,"metadata":{}},
      |    {"name":"size","type":"long","nullable":true,"metadata":{}},
      |    {"name":"modificationTime","type":"long","nullable":true,"metadata":{}},
      |    {"name":"dataChange","type":"boolean","nullable":true,"metadata":{}},
      |    {"name":"stats","type":"string","nullable":true,"metadata":{}},
      |    {"name":"deletionVector","type":{"type":"struct","fields":[
      |      {"name":"storageType","type":"string","nullable":true,"metadata":{}},
      |      {"name":"pathOrInlineDv","type":"string","nullable":true,"metadata":{}},
      |      {"name":"offset","type":"integer","nullable":true,"metadata":{}},
      |      {"name":"sizeInBytes","type":"integer","nullable":true,"metadata":{}},
      |      {"name":"cardinality","type":"long","nullable":true,"metadata":{}}
      |    ]},"nullable":true,"metadata":{}},
      |    {"name":"baseRowId","type":"long","nullable":true,"metadata":{}},
      |    {"name":"defaultRowCommitVersion","type":"long","nullable":true,"metadata":{}}
      |  ]},"nullable":true,"metadata":{}},
      |  {"name":"remove","type":{"type":"struct","fields":[
      |    {"name":"path","type":"string","nullable":true,"metadata":{}},
      |    {"name":"deletionTimestamp","type":"long","nullable":true,"metadata":{}},
      |    {"name":"dataChange","type":"boolean","nullable":true,"metadata":{}},
      |    {"name":"extendedFileMetadata","type":"boolean","nullable":true,"metadata":{}},
      |    {"name":"partitionValues","type":{"type":"map","keyType":"string","valueType":"string","valueContainsNull":true},"nullable":true,"metadata":{}},
      |    {"name":"size","type":"long","nullable":true,"metadata":{}},
      |    {"name":"deletionVector","type":{"type":"struct","fields":[
      |      {"name":"storageType","type":"string","nullable":true,"metadata":{}},
      |      {"name":"pathOrInlineDv","type":"string","nullable":true,"metadata":{}},
      |      {"name":"offset","type":"integer","nullable":true,"metadata":{}},
      |      {"name":"sizeInBytes","type":"integer","nullable":true,"metadata":{}},
      |      {"name":"cardinality","type":"long","nullable":true,"metadata":{}}
      |    ]},"nullable":true,"metadata":{}}
      |  ]},"nullable":true,"metadata":{}},
      |  {"name":"txn","type":{"type":"struct","fields":[
      |    {"name":"appId","type":"string","nullable":true,"metadata":{}},
      |    {"name":"version","type":"long","nullable":true,"metadata":{}},
      |    {"name":"lastUpdated","type":"long","nullable":true,"metadata":{}}
      |  ]},"nullable":true,"metadata":{}},
      |  {"name":"domainMetadata","type":{"type":"struct","fields":[
      |    {"name":"domain","type":"string","nullable":true,"metadata":{}},
      |    {"name":"configuration","type":"string","nullable":true,"metadata":{}},
      |    {"name":"removed","type":"boolean","nullable":true,"metadata":{}}
      |  ]},"nullable":true,"metadata":{}}
      |]}""".stripMargin

  private val V2TopMessage =
    """message spark_schema {
      |  optional group protocol {
      |    optional int32 minReaderVersion;
      |    optional int32 minWriterVersion;
      |    optional group readerFeatures (LIST) {
      |      repeated group list {
      |        optional binary element (STRING);
      |      }
      |    }
      |    optional group writerFeatures (LIST) {
      |      repeated group list {
      |        optional binary element (STRING);
      |      }
      |    }
      |  }
      |  optional group metaData {
      |    optional binary id (STRING);
      |    optional binary name (STRING);
      |    optional binary description (STRING);
      |    optional group format {
      |      optional binary provider (STRING);
      |      optional group options (MAP) {
      |        repeated group key_value {
      |          required binary key (STRING);
      |          optional binary value (STRING);
      |        }
      |      }
      |    }
      |    optional binary schemaString (STRING);
      |    optional group partitionColumns (LIST) {
      |      repeated group list {
      |        optional binary element (STRING);
      |      }
      |    }
      |    optional group configuration (MAP) {
      |      repeated group key_value {
      |        required binary key (STRING);
      |        optional binary value (STRING);
      |      }
      |    }
      |    optional int64 createdTime;
      |  }
      |  optional group add {
      |    optional binary path (STRING);
      |    optional group partitionValues (MAP) {
      |      repeated group key_value {
      |        required binary key (STRING);
      |        optional binary value (STRING);
      |      }
      |    }
      |    optional int64 size;
      |    optional int64 modificationTime;
      |    optional boolean dataChange;
      |    optional binary stats (STRING);
      |    optional group deletionVector {
      |      optional binary storageType (STRING);
      |      optional binary pathOrInlineDv (STRING);
      |      optional int32 offset;
      |      optional int32 sizeInBytes;
      |      optional int64 cardinality;
      |    }
      |    optional int64 baseRowId;
      |    optional int64 defaultRowCommitVersion;
      |  }
      |  optional group remove {
      |    optional binary path (STRING);
      |    optional int64 deletionTimestamp;
      |    optional boolean dataChange;
      |    optional boolean extendedFileMetadata;
      |    optional group partitionValues (MAP) {
      |      repeated group key_value {
      |        required binary key (STRING);
      |        optional binary value (STRING);
      |      }
      |    }
      |    optional int64 size;
      |    optional group deletionVector {
      |      optional binary storageType (STRING);
      |      optional binary pathOrInlineDv (STRING);
      |      optional int32 offset;
      |      optional int32 sizeInBytes;
      |      optional int64 cardinality;
      |    }
      |  }
      |  optional group txn {
      |    optional binary appId (STRING);
      |    optional int64 version;
      |    optional int64 lastUpdated;
      |  }
      |  optional group domainMetadata {
      |    optional binary domain (STRING);
      |    optional binary configuration (STRING);
      |    optional boolean removed;
      |  }
      |  optional group checkpointMetadata {
      |    optional int64 version;
      |    optional group tags (MAP) {
      |      repeated group key_value {
      |        required binary key (STRING);
      |        optional binary value (STRING);
      |      }
      |    }
      |  }
      |  optional group sidecar {
      |    optional binary path (STRING);
      |    optional int64 sizeInBytes;
      |    optional int64 modificationTime;
      |    optional group tags (MAP) {
      |      repeated group key_value {
      |        required binary key (STRING);
      |        optional binary value (STRING);
      |      }
      |    }
      |  }
      |}
      |""".stripMargin

  private val V2TopRowMeta =
    """{"type":"struct","fields":[
      |  {"name":"protocol","type":{"type":"struct","fields":[
      |    {"name":"minReaderVersion","type":"integer","nullable":true,"metadata":{}},
      |    {"name":"minWriterVersion","type":"integer","nullable":true,"metadata":{}},
      |    {"name":"readerFeatures","type":{"type":"array","elementType":"string","containsNull":true},"nullable":true,"metadata":{}},
      |    {"name":"writerFeatures","type":{"type":"array","elementType":"string","containsNull":true},"nullable":true,"metadata":{}}
      |  ]},"nullable":true,"metadata":{}},
      |  {"name":"metaData","type":{"type":"struct","fields":[
      |    {"name":"id","type":"string","nullable":true,"metadata":{}},
      |    {"name":"name","type":"string","nullable":true,"metadata":{}},
      |    {"name":"description","type":"string","nullable":true,"metadata":{}},
      |    {"name":"format","type":{"type":"struct","fields":[
      |      {"name":"provider","type":"string","nullable":true,"metadata":{}},
      |      {"name":"options","type":{"type":"map","keyType":"string","valueType":"string","valueContainsNull":true},"nullable":true,"metadata":{}}
      |    ]},"nullable":true,"metadata":{}},
      |    {"name":"schemaString","type":"string","nullable":true,"metadata":{}},
      |    {"name":"partitionColumns","type":{"type":"array","elementType":"string","containsNull":true},"nullable":true,"metadata":{}},
      |    {"name":"configuration","type":{"type":"map","keyType":"string","valueType":"string","valueContainsNull":true},"nullable":true,"metadata":{}},
      |    {"name":"createdTime","type":"long","nullable":true,"metadata":{}}
      |  ]},"nullable":true,"metadata":{}},
      |  {"name":"add","type":{"type":"struct","fields":[
      |    {"name":"path","type":"string","nullable":true,"metadata":{}},
      |    {"name":"partitionValues","type":{"type":"map","keyType":"string","valueType":"string","valueContainsNull":true},"nullable":true,"metadata":{}},
      |    {"name":"size","type":"long","nullable":true,"metadata":{}},
      |    {"name":"modificationTime","type":"long","nullable":true,"metadata":{}},
      |    {"name":"dataChange","type":"boolean","nullable":true,"metadata":{}},
      |    {"name":"stats","type":"string","nullable":true,"metadata":{}},
      |    {"name":"deletionVector","type":{"type":"struct","fields":[
      |      {"name":"storageType","type":"string","nullable":true,"metadata":{}},
      |      {"name":"pathOrInlineDv","type":"string","nullable":true,"metadata":{}},
      |      {"name":"offset","type":"integer","nullable":true,"metadata":{}},
      |      {"name":"sizeInBytes","type":"integer","nullable":true,"metadata":{}},
      |      {"name":"cardinality","type":"long","nullable":true,"metadata":{}}
      |    ]},"nullable":true,"metadata":{}},
      |    {"name":"baseRowId","type":"long","nullable":true,"metadata":{}},
      |    {"name":"defaultRowCommitVersion","type":"long","nullable":true,"metadata":{}}
      |  ]},"nullable":true,"metadata":{}},
      |  {"name":"remove","type":{"type":"struct","fields":[
      |    {"name":"path","type":"string","nullable":true,"metadata":{}},
      |    {"name":"deletionTimestamp","type":"long","nullable":true,"metadata":{}},
      |    {"name":"dataChange","type":"boolean","nullable":true,"metadata":{}},
      |    {"name":"extendedFileMetadata","type":"boolean","nullable":true,"metadata":{}},
      |    {"name":"partitionValues","type":{"type":"map","keyType":"string","valueType":"string","valueContainsNull":true},"nullable":true,"metadata":{}},
      |    {"name":"size","type":"long","nullable":true,"metadata":{}},
      |    {"name":"deletionVector","type":{"type":"struct","fields":[
      |      {"name":"storageType","type":"string","nullable":true,"metadata":{}},
      |      {"name":"pathOrInlineDv","type":"string","nullable":true,"metadata":{}},
      |      {"name":"offset","type":"integer","nullable":true,"metadata":{}},
      |      {"name":"sizeInBytes","type":"integer","nullable":true,"metadata":{}},
      |      {"name":"cardinality","type":"long","nullable":true,"metadata":{}}
      |    ]},"nullable":true,"metadata":{}}
      |  ]},"nullable":true,"metadata":{}},
      |  {"name":"txn","type":{"type":"struct","fields":[
      |    {"name":"appId","type":"string","nullable":true,"metadata":{}},
      |    {"name":"version","type":"long","nullable":true,"metadata":{}},
      |    {"name":"lastUpdated","type":"long","nullable":true,"metadata":{}}
      |  ]},"nullable":true,"metadata":{}},
      |  {"name":"domainMetadata","type":{"type":"struct","fields":[
      |    {"name":"domain","type":"string","nullable":true,"metadata":{}},
      |    {"name":"configuration","type":"string","nullable":true,"metadata":{}},
      |    {"name":"removed","type":"boolean","nullable":true,"metadata":{}}
      |  ]},"nullable":true,"metadata":{}},
      |  {"name":"checkpointMetadata","type":{"type":"struct","fields":[
      |    {"name":"version","type":"long","nullable":true,"metadata":{}},
      |    {"name":"tags","type":{"type":"map","keyType":"string","valueType":"string","valueContainsNull":true},"nullable":true,"metadata":{}}
      |  ]},"nullable":true,"metadata":{}},
      |  {"name":"sidecar","type":{"type":"struct","fields":[
      |    {"name":"path","type":"string","nullable":true,"metadata":{}},
      |    {"name":"sizeInBytes","type":"long","nullable":true,"metadata":{}},
      |    {"name":"modificationTime","type":"long","nullable":true,"metadata":{}},
      |    {"name":"tags","type":{"type":"map","keyType":"string","valueType":"string","valueContainsNull":true},"nullable":true,"metadata":{}}
      |  ]},"nullable":true,"metadata":{}}
      |]}""".stripMargin

  private val SidecarMessage =
    """message spark_schema {
      |  optional group add {
      |    optional binary path (STRING);
      |    optional group partitionValues (MAP) {
      |      repeated group key_value {
      |        required binary key (STRING);
      |        optional binary value (STRING);
      |      }
      |    }
      |    optional int64 size;
      |    optional int64 modificationTime;
      |    optional boolean dataChange;
      |    optional binary stats (STRING);
      |    optional group deletionVector {
      |      optional binary storageType (STRING);
      |      optional binary pathOrInlineDv (STRING);
      |      optional int32 offset;
      |      optional int32 sizeInBytes;
      |      optional int64 cardinality;
      |    }
      |    optional int64 baseRowId;
      |    optional int64 defaultRowCommitVersion;
      |  }
      |  optional group remove {
      |    optional binary path (STRING);
      |    optional int64 deletionTimestamp;
      |    optional boolean dataChange;
      |    optional boolean extendedFileMetadata;
      |    optional group partitionValues (MAP) {
      |      repeated group key_value {
      |        required binary key (STRING);
      |        optional binary value (STRING);
      |      }
      |    }
      |    optional int64 size;
      |    optional group deletionVector {
      |      optional binary storageType (STRING);
      |      optional binary pathOrInlineDv (STRING);
      |      optional int32 offset;
      |      optional int32 sizeInBytes;
      |      optional int64 cardinality;
      |    }
      |  }
      |}
      |""".stripMargin

  private val SidecarRowMeta =
    """{"type":"struct","fields":[
      |  {"name":"add","type":{"type":"struct","fields":[
      |    {"name":"path","type":"string","nullable":true,"metadata":{}},
      |    {"name":"partitionValues","type":{"type":"map","keyType":"string","valueType":"string","valueContainsNull":true},"nullable":true,"metadata":{}},
      |    {"name":"size","type":"long","nullable":true,"metadata":{}},
      |    {"name":"modificationTime","type":"long","nullable":true,"metadata":{}},
      |    {"name":"dataChange","type":"boolean","nullable":true,"metadata":{}},
      |    {"name":"stats","type":"string","nullable":true,"metadata":{}},
      |    {"name":"deletionVector","type":{"type":"struct","fields":[
      |      {"name":"storageType","type":"string","nullable":true,"metadata":{}},
      |      {"name":"pathOrInlineDv","type":"string","nullable":true,"metadata":{}},
      |      {"name":"offset","type":"integer","nullable":true,"metadata":{}},
      |      {"name":"sizeInBytes","type":"integer","nullable":true,"metadata":{}},
      |      {"name":"cardinality","type":"long","nullable":true,"metadata":{}}
      |    ]},"nullable":true,"metadata":{}},
      |    {"name":"baseRowId","type":"long","nullable":true,"metadata":{}},
      |    {"name":"defaultRowCommitVersion","type":"long","nullable":true,"metadata":{}}
      |  ]},"nullable":true,"metadata":{}},
      |  {"name":"remove","type":{"type":"struct","fields":[
      |    {"name":"path","type":"string","nullable":true,"metadata":{}},
      |    {"name":"deletionTimestamp","type":"long","nullable":true,"metadata":{}},
      |    {"name":"dataChange","type":"boolean","nullable":true,"metadata":{}},
      |    {"name":"extendedFileMetadata","type":"boolean","nullable":true,"metadata":{}},
      |    {"name":"partitionValues","type":{"type":"map","keyType":"string","valueType":"string","valueContainsNull":true},"nullable":true,"metadata":{}},
      |    {"name":"size","type":"long","nullable":true,"metadata":{}},
      |    {"name":"deletionVector","type":{"type":"struct","fields":[
      |      {"name":"storageType","type":"string","nullable":true,"metadata":{}},
      |      {"name":"pathOrInlineDv","type":"string","nullable":true,"metadata":{}},
      |      {"name":"offset","type":"integer","nullable":true,"metadata":{}},
      |      {"name":"sizeInBytes","type":"integer","nullable":true,"metadata":{}},
      |      {"name":"cardinality","type":"long","nullable":true,"metadata":{}}
      |    ]},"nullable":true,"metadata":{}}
      |  ]},"nullable":true,"metadata":{}}
      |]}""".stripMargin
}
