package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Row tracking (Delta writer feature `rowTracking` + `domainMetadata`):
  * every data file carries a `baseRowId`, and row i of the file has
  * fresh row id `baseRowId + i` — a stable, table-unique identity for
  * append/DV workloads (deletion vectors hide rows WITHOUT rewriting
  * files, so ids survive DV DELETE/UPDATE untouched). The id high
  * watermark lives in the `delta.rowTracking` domain-metadata action and
  * advances in the same commit as the adds it covers.
  *
  * Preservation: OPTIMIZE (a dataChange=false copy) preserves every
  * surviving row's id and commit version through the protocol's
  * MATERIALIZED columns — the compacted files carry physical
  * `delta.rowTracking.materializedRowIdColumnName` /
  * `...materializedRowCommitVersionColumnName` columns holding the old
  * values, and readers coalesce(materialized, baseRowId + row_index).
  * Scope (documented): rewriting DML (rewrite-flavor DELETE/UPDATE,
  * MERGE on matched files) still re-assigns ids to the rows it
  * rewrites; readers needing stable ids under DML should use the DV
  * flavor, whose scans never re-home a row.
  *
  * Scale: allocation is driver-side arithmetic over the commit's adds
  * (cumulative numRecords from footer stats — zero data I/O); the scan
  * surface broadcasts two longs per file and materializes ids inside
  * whole-stage codegen ([[org.apache.spark.sql.graft.RowIdOf]]). */
object RowTracking {

  val Domain = "delta.rowTracking"
  val Prop = "delta.enableRowTracking"
  val MaterializedRowIdProp = "delta.rowTracking.materializedRowIdColumnName"
  val MaterializedCommitVersionProp =
    "delta.rowTracking.materializedRowCommitVersionColumnName"

  /** Physical column names used to materialize preserved row ids in
    * copied files (set lazily by the first preserving OPTIMIZE). */
  def materializedColNames(snap: Snapshot): Option[(String, String)] =
    for {
      rid <- snap.metadata.configuration.get(MaterializedRowIdProp)
      rcv <- snap.metadata.configuration.get(MaterializedCommitVersionProp)
    } yield (rid, rcv)

  def enabled(snap: Snapshot): Boolean = enabledIn(snap.metadata.configuration)

  def enabledIn(configuration: Map[String, String]): Boolean =
    configuration.get(Prop).exists(_.trim.equalsIgnoreCase("true"))

  /** Last allocated row id (−1 before any allocation). */
  def highWaterMark(snap: Snapshot): Long =
    snap.domainMetadata.get(Domain).flatMap(parseWaterMark).getOrElse(-1L)

  private[delta] def parseWaterMark(cfg: String): Option[Long] = {
    val m = java.util.regex.Pattern
      .compile("\"rowIdHighWaterMark\"\\s*:\\s*(-?\\d+)").matcher(cfg)
    if (m.find()) Some(m.group(1).toLong) else None
  }

  private[delta] def formatWaterMark(w: Long): String =
    s"""{"rowIdHighWaterMark":$w}"""

  /** Assign base row ids to a commit's fresh adds: file i's rows get
    * [next, next + numRecords). Adds that already carry a baseRowId
    * (DV re-adds, RESTORE/clone re-adds) keep it — same file, same
    * rows, same ids. Footer stats are required for allocation; a
    * stats-less add refuses loudly (silently guessing would corrupt the
    * id space for every future reader). Returns the assigned adds plus
    * the watermark domain action to commit alongside them. */
  def assign(
      enabled: Boolean, waterMark: Long, adds: Seq[AddFile],
      commitVersion: Long): (Seq[AddFile], Seq[Action]) =
    if (!enabled || adds.isEmpty) (adds, Nil)
    else {
      var next = waterMark + 1
      val assigned = adds.map { a =>
        if (a.baseRowId.isDefined) a
        else {
          val n = StatsPruning.parse(a.stats).flatMap(_.numRecords).getOrElse(
            throw new IllegalStateException(
              s"Row tracking cannot allocate ids for ${a.path}: no numRecords stats"))
          val out = a.copy(baseRowId = Some(next),
            defaultRowCommitVersion = Some(commitVersion))
          next += n
          out
        }
      }
      if (next - 1 > waterMark)
        (assigned, Seq(DomainMetadata(Domain, formatWaterMark(next - 1))))
      else (assigned, Nil)
    }

  /** assign() for the common shape: an existing table's snapshot, or a
    * brand-new table whose create configuration asks for tracking. */
  def assignForCommit(
      snapOpt: Option[Snapshot], createConfig: Map[String, String],
      adds: Seq[AddFile], commitVersion: Long): (Seq[AddFile], Seq[Action]) =
    snapOpt match {
      case Some(snap) => assign(enabled(snap), highWaterMark(snap), adds, commitVersion)
      case None => assign(enabledIn(createConfig), -1L, adds, commitVersion)
    }

  /** Enable row tracking: one commit that (a) sets the property,
    * (b) upgrades the protocol to writer-7 features (+rowTracking,
    * +domainMetadata — the watermark needs it), and (c) BACKFILLS every
    * active file with a baseRowId (dataChange=false re-adds) so ids are
    * readable immediately. Idempotent. */
  def enable(spark: SparkSession, path: String): Long = {
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    DeltaWrite.requireWriterSupported(snap)
    if (enabled(snap)) return snap.version
    val version = snap.version + 1
    val (backfilled, domainActs) =
      assign(enabled = true, waterMark = highWaterMark(snap),
        snap.activeFiles.map(_.copy(dataChange = false)), version)
    val meta = snap.metadata.copy(configuration =
      snap.metadata.configuration + (Prop -> "true"))
    val proto = DeltaLog.withFeatures(snap.protocol, Seq("rowTracking", "domainMetadata"))
    val ci = CommitInfo(System.currentTimeMillis(), "SET TBLPROPERTIES",
      operationParameters =
        Map("properties" -> s"""{"$Prop":"true"}"""),
      readVersion = Some(snap.version), isBlindAppend = Some(false))
    log.optimisticCommit(Some(snap),
      _ => Seq(ci) ++ proto ++ Seq(meta) ++ domainActs ++ backfilled, retriable = false)
  }

  /** Snapshot scan with `_row_id` and `_row_commit_version` columns.
    * DV bitmaps apply first (a soft-deleted row's id never surfaces);
    * the id columns are codegen'd broadcast lookups keyed by file name
    * + `_metadata.row_index` — no join, no shuffle, scan-speed. */
  def readWithRowIds(spark: SparkSession, path: String): DataFrame = {
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    require(enabled(snap), s"Row tracking is not enabled on $path ($Prop)")
    val files = snap.activeFiles
    files.find(_.baseRowId.isEmpty).foreach(f =>
      throw new IllegalStateException(
        s"Active file ${f.path} has no baseRowId — a foreign writer added it " +
          "without honoring rowTracking; re-run enable() to backfill"))
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(snap.schema.fields :+
          org.apache.spark.sql.types.StructField("_row_id",
            org.apache.spark.sql.types.LongType, nullable = false) :+
          org.apache.spark.sql.types.StructField("_row_commit_version",
            org.apache.spark.sql.types.LongType, nullable = false)))
    val byName: Map[String, (Long, Long)] = files.map { f =>
      val resolved = DeltaRead.resolvePath(path, f.path)
      val name = resolved.substring(resolved.lastIndexOf('/') + 1)
      name -> (f.baseRowId.get, f.defaultRowCommitVersion.getOrElse(-1L))
    }.toMap
    val bcast = spark.sparkContext.broadcast(new RowIdIndex(byName))
    val root = new Path(path)
    val dvBytes = DeletionVectors.dvByteMap(spark, root, files)
    // OPTIMIZE-compacted files carry materialized id columns (preserved
    // ids of copied rows); older files read them as null and fall back
    // to the baseRowId arithmetic via coalesce — one read schema for all.
    // They ride the shared scan as unmapped extraPhysical fields (never
    // schema columns, so renames can't re-bind them — binding is by
    // physical parquet name)
    val matCols = materializedColNames(snap)
    val matPhys = matCols.toSeq.flatMap { case (rid, rcv) => Seq(
      org.apache.spark.sql.types.StructField(rid,
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField(rcv,
        org.apache.spark.sql.types.LongType, nullable = true)) }
    val live = DeltaRead.scan(spark, path, snap.metadata, files, dvBytes,
      keepMeta = true, extraPhysical = matPhys)
      .withColumn("__rt_path", col("_metadata.file_path"))
      .withColumn("__rt_idx", col("_metadata.row_index"))
      .drop("_metadata")
    val freshId = org.apache.spark.sql.graft.RowIdExpressions
      .rowId(bcast, col("__rt_path"), col("__rt_idx"))
    val freshVer = org.apache.spark.sql.graft.RowIdExpressions
      .commitVersion(bcast, col("__rt_path"))
    val (idCol, verCol) = matCols match {
      case Some((rid, rcv)) =>
        (org.apache.spark.sql.functions.coalesce(col(rid), freshId),
          org.apache.spark.sql.functions.coalesce(col(rcv), freshVer))
      case None => (freshId, freshVer)
    }
    live
      .withColumn("_row_id", idCol)
      .withColumn("_row_commit_version", verCol)
      .drop("__rt_path" +: "__rt_idx" +:
        matCols.toSeq.flatMap(c => Seq(c._1, c._2)): _*)
  }
}
