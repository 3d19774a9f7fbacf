package graft.delta

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.types.{DataType, StructType}

import scala.jdk.CollectionConverters._

/** Delta Lake transaction-log actions.
  *
  * Mirrors the Delta protocol actions the reference relies on delta-rs for
  * (reference: dask_deltalake/core.py:29-70 snapshot construction,
  * dask_deltalake/writer.py:96-131 AddAction assembly). Modelled as plain
  * case classes with a hand-rolled Jackson codec so that log JSON we emit is
  * byte-compatible with what Spark/delta writers produce and what the
  * reference's own golden fixtures contain.
  *
  * Scale note: these are driver-side control-plane objects. The data plane
  * (parquet scan/write) never materializes them per-row on executors; at
  * 100 TB the bounded JSON tail between checkpoints keeps the driver-side
  * set small, and checkpoint state is scanned as a DataFrame (see
  * [[DeltaLog]]).
  */
sealed trait Action

/** `metaData` action — table id, schema, partitioning.
  * schemaString is byte-for-byte Spark StructType JSON (SURVEY.md §1.2). */
final case class MetadataAction(
    id: String,
    name: Option[String] = None,
    description: Option[String] = None,
    formatProvider: String = "parquet",
    formatOptions: Map[String, String] = Map.empty,
    schemaString: String = "",
    partitionColumns: Seq[String] = Nil,
    configuration: Map[String, String] = Map.empty,
    createdTime: Option[Long] = None
) extends Action {
  lazy val schema: StructType = DataType.fromJson(schemaString).asInstanceOf[StructType]
}

/** `protocol` action. The reference refuses writer versions > 2
  * (writer.py:254-259); we enforce the same gate, extended with the
  * table-features form (reader 3 / writer 7): explicit feature lists the
  * replay checks against what it actually implements, instead of the
  * version number alone. */
final case class Protocol(
    minReaderVersion: Int = 1, minWriterVersion: Int = 2,
    readerFeatures: Option[Seq[String]] = None,
    writerFeatures: Option[Seq[String]] = None) extends Action

/** `add.deletionVector` — positions of soft-deleted rows of the file.
  * storageType "i" = inline (Z85 bitmap bytes in pathOrInlineDv),
  * "u" = UUID-named sibling file (pathOrInlineDv = Z85 of the 16-byte
  * UUID, optionally prefix-prepended), "p" = absolute path. offset =
  * byte position of this DV's blob inside the DV file; sizeInBytes =
  * serialized bitmap length; cardinality = number of deleted rows. */
final case class DeletionVectorDescriptor(
    storageType: String,
    pathOrInlineDv: String,
    offset: Option[Int] = None,
    sizeInBytes: Int = 0,
    cardinality: Long = 0L)

/** `add` action — one active data file. partitionValues values may be null
  * (hive `__HIVE_DEFAULT_PARTITION__` sentinel). stats is a JSON string of
  * {numRecords, minValues, maxValues, nullCount}. */
final case class AddFile(
    path: String,
    partitionValues: Map[String, String] = Map.empty,
    size: Long = 0L,
    modificationTime: Long = 0L,
    dataChange: Boolean = true,
    stats: Option[String] = None,
    tags: Map[String, String] = Map.empty,
    deletionVector: Option[DeletionVectorDescriptor] = None,
    baseRowId: Option[Long] = None,
    defaultRowCommitVersion: Option[Long] = None
) extends Action {
  /** Rows of THIS file its deletion vector deletes; live rows are
    * [[StatsPruning.liveRows]]. */
  def dvCardinality: Long = deletionVector.map(_.cardinality).getOrElse(0L)

  /** The tombstone retiring this file: its partition values, size and
    * deletion vector ride along (extended file metadata). */
  def remove(timestamp: Long, dataChange: Boolean = true): RemoveFile =
    RemoveFile(path, Some(timestamp), dataChange, extendedFileMetadata = Some(true),
      partitionValues, Some(size), deletionVector)
}

/** `remove` action — a tombstone. Carries the removed add's deletion
  * vector (when it had one) so vacuum can reclaim the DV file on the
  * same retention clock as the data file it belonged to. */
final case class RemoveFile(
    path: String,
    deletionTimestamp: Option[Long] = None,
    dataChange: Boolean = true,
    extendedFileMetadata: Option[Boolean] = None,
    partitionValues: Map[String, String] = Map.empty,
    size: Option[Long] = None,
    deletionVector: Option[DeletionVectorDescriptor] = None
) extends Action

/** `cdc` action — one change-data file under `_change_data/`, holding a
  * commit's row-level changes with a physical `_change_type` column
  * ('insert' | 'update_preimage' | 'update_postimage' | 'delete').
  * Never contributes to table state (replay ignores it); CDF readers
  * use a commit's cdc files EXCLUSIVELY when any are present — the
  * add/remove fallback interpretation applies only to cdc-less commits
  * (Delta protocol, Add CDC File). */
final case class AddCDCFile(
    path: String,
    partitionValues: Map[String, String] = Map.empty,
    size: Long = 0L,
    tags: Map[String, String] = Map.empty
) extends Action

/** `txn` action — idempotent writer bookkeeping. */
final case class SetTransaction(appId: String, version: Long, lastUpdated: Option[Long] = None)
    extends Action

/** `domainMetadata` action — named per-table system metadata (writer
  * feature `domainMetadata`): replay keeps the LATEST configuration per
  * domain; `removed=true` evicts it. Row tracking stores its id high
  * watermark under the `delta.rowTracking` domain. */
final case class DomainMetadata(
    domain: String,
    configuration: String,
    removed: Boolean = false
) extends Action

/** `checkpointMetadata` action — a V2 checkpoint's self-description
  * (reader feature `v2Checkpoint`): the version the checkpoint
  * captures. Lives only inside checkpoint files, never in commits;
  * replay ignores it. */
final case class CheckpointMetadata(
    version: Long,
    tags: Map[String, String] = Map.empty
) extends Action

/** `sidecar` action — one sidecar parquet under `_delta_log/_sidecars/`
  * holding part of a V2 checkpoint's add/remove actions. Paths are file
  * names relative to the `_sidecars/` directory per the protocol. */
final case class Sidecar(
    path: String,
    sizeInBytes: Long = 0L,
    modificationTime: Long = 0L,
    tags: Map[String, String] = Map.empty
) extends Action

/** `commitInfo` — free-form operation metadata; the 9-column history
  * projection (core.py:88-108) is derived from these fields.
  * `inCommitTimestamp` is the table-feature clock (delta
  * .enableInCommitTimestamps): strictly monotonic across commits and
  * authoritative over file mtimes for timestamp travel, history, and
  * the change feed. Stamped by DeltaLog.writeCommit. */
final case class CommitInfo(
    timestamp: Long,
    operation: String,
    operationParameters: Map[String, String] = Map.empty,
    operationMetrics: Map[String, String] = Map.empty,
    readVersion: Option[Long] = None,
    isBlindAppend: Option[Boolean] = None,
    inCommitTimestamp: Option[Long] = None,
    engineInfo: Option[String] = None
) extends Action

object ActionCodec {
  private val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }
  private val nf = JsonNodeFactory.instance

  private def strMap(node: JsonNode): Map[String, String] =
    if (node == null || node.isNull) Map.empty
    else
      node.properties().asScala.map { e =>
        val v = e.getValue
        e.getKey -> (if (v.isNull) null else v.asText())
      }.toMap

  private def optStr(node: JsonNode): Option[String] =
    Option(node).filterNot(_.isNull).map(_.asText())
  private def optLong(node: JsonNode): Option[Long] =
    Option(node).filterNot(_.isNull).map(_.asLong())
  private def optBool(node: JsonNode): Option[Boolean] =
    Option(node).filterNot(_.isNull).map(_.asBoolean())

  /** Parse one line of a `_delta_log/N.json` commit file. Unknown action
    * types are ignored for forward compat. */
  def fromJsonLine(line: String): Option[Action] = {
    val root = mapper.readTree(line)
    if (root.has("add")) {
      val n = root.get("add")
      Some(
        AddFile(
          path = n.get("path").asText(),
          partitionValues = strMap(n.get("partitionValues")),
          size = optLong(n.get("size")).getOrElse(0L),
          modificationTime = optLong(n.get("modificationTime")).getOrElse(0L),
          dataChange = optBool(n.get("dataChange")).getOrElse(true),
          stats = optStr(n.get("stats")),
          tags = strMap(n.get("tags")),
          deletionVector = Option(n.get("deletionVector"))
            .filterNot(_.isNull)
            .map(d => DeletionVectorDescriptor(
              storageType = d.get("storageType").asText(),
              pathOrInlineDv = d.get("pathOrInlineDv").asText(),
              offset = optLong(d.get("offset")).map(_.toInt),
              sizeInBytes = optLong(d.get("sizeInBytes")).getOrElse(0L).toInt,
              cardinality = optLong(d.get("cardinality")).getOrElse(0L))),
          baseRowId = optLong(n.get("baseRowId")),
          defaultRowCommitVersion = optLong(n.get("defaultRowCommitVersion"))
        ))
    } else if (root.has("remove")) {
      val n = root.get("remove")
      Some(
        RemoveFile(
          path = n.get("path").asText(),
          deletionTimestamp = optLong(n.get("deletionTimestamp")),
          dataChange = optBool(n.get("dataChange")).getOrElse(true),
          extendedFileMetadata = optBool(n.get("extendedFileMetadata")),
          partitionValues = strMap(n.get("partitionValues")),
          size = optLong(n.get("size")),
          deletionVector = Option(n.get("deletionVector"))
            .filterNot(_.isNull)
            .map(d => DeletionVectorDescriptor(
              storageType = d.get("storageType").asText(),
              pathOrInlineDv = d.get("pathOrInlineDv").asText(),
              offset = optLong(d.get("offset")).map(_.toInt),
              sizeInBytes = optLong(d.get("sizeInBytes")).getOrElse(0L).toInt,
              cardinality = optLong(d.get("cardinality")).getOrElse(0L)))
        ))
    } else if (root.has("metaData")) {
      val n = root.get("metaData")
      val fmt = n.get("format")
      Some(
        MetadataAction(
          id = optStr(n.get("id")).getOrElse(""),
          name = optStr(n.get("name")),
          description = optStr(n.get("description")),
          formatProvider =
            if (fmt != null && fmt.has("provider")) fmt.get("provider").asText() else "parquet",
          formatOptions = if (fmt != null) strMap(fmt.get("options")) else Map.empty,
          schemaString = optStr(n.get("schemaString")).getOrElse(""),
          partitionColumns = Option(n.get("partitionColumns"))
            .map(_.elements().asScala.map(_.asText()).toSeq)
            .getOrElse(Nil),
          configuration = strMap(n.get("configuration")),
          createdTime = optLong(n.get("createdTime"))
        ))
    } else if (root.has("protocol")) {
      val n = root.get("protocol")
      Some(
        Protocol(
          minReaderVersion = optLong(n.get("minReaderVersion")).getOrElse(1L).toInt,
          minWriterVersion = optLong(n.get("minWriterVersion")).getOrElse(2L).toInt,
          readerFeatures = Option(n.get("readerFeatures")).filterNot(_.isNull)
            .map(_.elements().asScala.map(_.asText()).toSeq),
          writerFeatures = Option(n.get("writerFeatures")).filterNot(_.isNull)
            .map(_.elements().asScala.map(_.asText()).toSeq)
        ))
    } else if (root.has("cdc")) {
      val n = root.get("cdc")
      Some(
        AddCDCFile(
          path = n.get("path").asText(),
          partitionValues = strMap(n.get("partitionValues")),
          size = optLong(n.get("size")).getOrElse(0L),
          tags = strMap(n.get("tags"))
        ))
    } else if (root.has("txn")) {
      val n = root.get("txn")
      Some(
        SetTransaction(
          appId = n.get("appId").asText(),
          version = optLong(n.get("version")).getOrElse(0L),
          lastUpdated = optLong(n.get("lastUpdated"))
        ))
    } else if (root.has("domainMetadata")) {
      val n = root.get("domainMetadata")
      Some(
        DomainMetadata(
          domain = n.get("domain").asText(),
          configuration = optStr(n.get("configuration")).getOrElse(""),
          removed = optBool(n.get("removed")).getOrElse(false)
        ))
    } else if (root.has("checkpointMetadata")) {
      val n = root.get("checkpointMetadata")
      Some(
        CheckpointMetadata(
          version = optLong(n.get("version")).getOrElse(-1L),
          tags = strMap(n.get("tags"))
        ))
    } else if (root.has("sidecar")) {
      val n = root.get("sidecar")
      Some(
        Sidecar(
          path = n.get("path").asText(),
          sizeInBytes = optLong(n.get("sizeInBytes")).getOrElse(0L),
          modificationTime = optLong(n.get("modificationTime")).getOrElse(0L),
          tags = strMap(n.get("tags"))
        ))
    } else if (root.has("commitInfo")) {
      val n = root.get("commitInfo")
      Some(
        CommitInfo(
          timestamp = optLong(n.get("timestamp")).getOrElse(0L),
          operation = optStr(n.get("operation")).getOrElse(""),
          operationParameters = anyMapToStr(n.get("operationParameters")),
          operationMetrics = anyMapToStr(n.get("operationMetrics")),
          readVersion = optLong(n.get("readVersion")),
          isBlindAppend = optBool(n.get("isBlindAppend")),
          inCommitTimestamp = optLong(n.get("inCommitTimestamp")),
          engineInfo = optStr(n.get("engineInfo"))
        ))
    } else None
  }

  /** operationParameters values may be non-string JSON (lists, numbers);
    * normalize to their JSON text like delta writers do. */
  private def anyMapToStr(node: JsonNode): Map[String, String] =
    if (node == null || node.isNull) Map.empty
    else
      node.properties().asScala.map { e =>
        val v = e.getValue
        e.getKey -> (if (v.isNull) null
                     else if (v.isTextual) v.asText()
                     else mapper.writeValueAsString(v))
      }.toMap

  private def putStrMap(o: ObjectNode, field: String, m: Map[String, String]): Unit = {
    val mn = o.putObject(field)
    m.foreach { case (k, v) => if (v == null) mn.putNull(k) else mn.put(k, v) }
  }

  /** Serialize one action to a single JSON line for a commit file. */
  def toJsonLine(a: Action): String = {
    val root = nf.objectNode()
    a match {
      case f: AddFile =>
        val n = root.putObject("add")
        n.put("path", f.path)
        putStrMap(n, "partitionValues", f.partitionValues)
        n.put("size", f.size)
        n.put("modificationTime", f.modificationTime)
        n.put("dataChange", f.dataChange)
        f.stats.foreach(n.put("stats", _))
        if (f.tags.nonEmpty) putStrMap(n, "tags", f.tags)
        f.deletionVector.foreach { dv =>
          val d = n.putObject("deletionVector")
          d.put("storageType", dv.storageType)
          d.put("pathOrInlineDv", dv.pathOrInlineDv)
          dv.offset.foreach(d.put("offset", _))
          d.put("sizeInBytes", dv.sizeInBytes)
          d.put("cardinality", dv.cardinality)
        }
        f.baseRowId.foreach(n.put("baseRowId", _))
        f.defaultRowCommitVersion.foreach(n.put("defaultRowCommitVersion", _))
      case f: RemoveFile =>
        val n = root.putObject("remove")
        n.put("path", f.path)
        f.deletionTimestamp.foreach(n.put("deletionTimestamp", _))
        n.put("dataChange", f.dataChange)
        f.extendedFileMetadata.foreach(n.put("extendedFileMetadata", _))
        if (f.partitionValues.nonEmpty) putStrMap(n, "partitionValues", f.partitionValues)
        f.size.foreach(n.put("size", _))
        f.deletionVector.foreach { dv =>
          val d = n.putObject("deletionVector")
          d.put("storageType", dv.storageType)
          d.put("pathOrInlineDv", dv.pathOrInlineDv)
          dv.offset.foreach(d.put("offset", _))
          d.put("sizeInBytes", dv.sizeInBytes)
          d.put("cardinality", dv.cardinality)
        }
      case m: MetadataAction =>
        val n = root.putObject("metaData")
        n.put("id", m.id)
        m.name.foreach(n.put("name", _))
        m.description.foreach(n.put("description", _))
        val fmt = n.putObject("format")
        fmt.put("provider", m.formatProvider)
        val fo = fmt.putObject("options")
        m.formatOptions.foreach { case (k, v) => fo.put(k, v) }
        n.put("schemaString", m.schemaString)
        val pc = n.putArray("partitionColumns")
        m.partitionColumns.foreach(pc.add)
        putStrMap(n, "configuration", m.configuration)
        m.createdTime.foreach(n.put("createdTime", _))
      case p: Protocol =>
        val n = root.putObject("protocol")
        n.put("minReaderVersion", p.minReaderVersion)
        n.put("minWriterVersion", p.minWriterVersion)
        p.readerFeatures.foreach { fs =>
          val a = n.putArray("readerFeatures"); fs.foreach(a.add)
        }
        p.writerFeatures.foreach { fs =>
          val a = n.putArray("writerFeatures"); fs.foreach(a.add)
        }
      case c: AddCDCFile =>
        val n = root.putObject("cdc")
        n.put("path", c.path)
        putStrMap(n, "partitionValues", c.partitionValues)
        n.put("size", c.size)
        n.put("dataChange", false) // by spec: cdc never changes table state
        if (c.tags.nonEmpty) putStrMap(n, "tags", c.tags)
      case t: SetTransaction =>
        val n = root.putObject("txn")
        n.put("appId", t.appId)
        n.put("version", t.version)
        t.lastUpdated.foreach(n.put("lastUpdated", _))
      case d: DomainMetadata =>
        val n = root.putObject("domainMetadata")
        n.put("domain", d.domain)
        n.put("configuration", d.configuration)
        n.put("removed", d.removed)
      case c: CheckpointMetadata =>
        val n = root.putObject("checkpointMetadata")
        n.put("version", c.version)
        if (c.tags.nonEmpty) putStrMap(n, "tags", c.tags)
      case s: Sidecar =>
        val n = root.putObject("sidecar")
        n.put("path", s.path)
        n.put("sizeInBytes", s.sizeInBytes)
        n.put("modificationTime", s.modificationTime)
        if (s.tags.nonEmpty) putStrMap(n, "tags", s.tags)
      case c: CommitInfo =>
        val n = root.putObject("commitInfo")
        n.put("timestamp", c.timestamp)
        n.put("operation", c.operation)
        putStrMap(n, "operationParameters", c.operationParameters)
        if (c.operationMetrics.nonEmpty) putStrMap(n, "operationMetrics", c.operationMetrics)
        c.readVersion.foreach(n.put("readVersion", _))
        c.isBlindAppend.foreach(n.put("isBlindAppend", _))
        c.inCommitTimestamp.foreach(n.put("inCommitTimestamp", _))
        c.engineInfo.foreach(n.put("engineInfo", _))
    }
    mapper.writeValueAsString(root)
  }
}
