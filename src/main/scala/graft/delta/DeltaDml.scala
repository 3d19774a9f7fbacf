package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.time.Instant
import java.util.UUID

/** Predicate DML — DELETE and UPDATE on a Delta table. Beyond the
  * reference's surface (delta-rs 0.6.4 exposes neither to the Python
  * binding), but a training-data pipeline needs targeted removal
  * (contamination purges, takedown requests) and in-place correction
  * without rewriting the whole table.
  *
  * Scale shape (the same two-phase plan delta-spark uses):
  *   phase 0 (driver, O(#files) metadata): partition values + per-file
  *     min/max stats prune the candidate file list — files that provably
  *     contain no matching row are never read or rewritten. Files whose
  *     partition values prove EVERY row matches are removed wholly
  *     without reading (delete only).
  *   phase 1 (one distributed scan of the remaining candidates, with the
  *     predicate pushed to parquet): per-file matched-row counts via
  *     input_file_name(). Files with zero matches are left untouched;
  *     delete drops fully-matched files without rewrite.
  *   phase 2 (one distributed rewrite job over partially-matched files
  *     only): keep/transform rows, stage, move, and commit remove+add
  *     with dataChange=true.
  *
  * Row semantics are SQL DELETE/UPDATE: rows where the predicate is NULL
  * are NOT matched (kept / left unmodified).
  */
object DeltaDml {

  final case class DmlResult(
      affectedRows: Long,
      removedFiles: Int,
      rewrittenFiles: Int,
      addedFiles: Int)

  /** DELETE FROM table WHERE <filters>. Returns counts; the commit is a
    * single atomic remove+add version with operation "DELETE". */
  def delete(
      spark: SparkSession,
      path: String,
      filters: Seq[Seq[Predicate]],
      checkpointInterval: Int = 10): DmlResult =
    mutate(spark, path, filters, assignments = Map.empty, checkpointInterval)

  /** DELETE with an arbitrary Spark boolean `condition` — the fallback
    * for WHERE clauses outside the DNF predicate language (e.g.
    * `NOT (a = 1 AND b = 2)`, arithmetic, IS NULL). No log-level file
    * pruning happens (the DNF drives that), every active file is
    * scanned and the condition filters rows scan-side — correct, just
    * not prune-accelerated. Conflict rebase stays conservative: any
    * concurrent add is treated as potentially overlapping. */
  def deleteExpr(
      spark: SparkSession,
      path: String,
      condition: Column,
      checkpointInterval: Int = 10): DmlResult =
    mutate(spark, path, Seq(Seq.empty), assignments = Map.empty,
      checkpointInterval, condOverride = Some(condition))

  /** UPDATE flavor of [[deleteExpr]] — scan-side condition, no pruning. */
  def updateExpr(
      spark: SparkSession,
      path: String,
      condition: Column,
      assignments: Map[String, Column],
      checkpointInterval: Int = 10): DmlResult = {
    require(assignments.nonEmpty, "UPDATE requires at least one assignment")
    mutate(spark, path, Seq(Seq.empty), assignments, checkpointInterval,
      condOverride = Some(condition))
  }

  /** DV flavor of [[deleteExpr]] — scan-side condition, no pruning. */
  def deleteWithDvExpr(
      spark: SparkSession,
      path: String,
      condition: Column,
      checkpointInterval: Int = 10): DmlResult =
    dvMutate(spark, path, Seq(Seq.empty), assignments = Map.empty,
      checkpointInterval, condOverride = Some(condition))

  /** DV flavor of [[updateExpr]] — scan-side condition, no pruning. */
  def updateWithDvExpr(
      spark: SparkSession,
      path: String,
      condition: Column,
      assignments: Map[String, Column],
      checkpointInterval: Int = 10): DmlResult = {
    require(assignments.nonEmpty, "UPDATE requires at least one assignment")
    dvMutate(spark, path, Seq(Seq.empty), assignments, checkpointInterval,
      condOverride = Some(condition))
  }

  /** DELETE FROM … WHERE, deletion-vector flavor: instead of rewriting
    * partially-matched files, write a per-file bitmap of the matched row
    * positions and re-add each file with the DV attached — a selective
    * delete over range-clustered files costs one DV file of a few KB
    * per commit instead of rewriting terabytes of parquet. Files whose
    * every LIVE row matches are fully removed (no DV needed); existing
    * DVs are unioned in, and the protocol is upgraded in the SAME commit
    * to reader 3 / writer 7 with the deletionVectors feature (legacy
    * version-implied features enumerated, per the table-features rules).
    *
    * Same SQL semantics as [[delete]] — NULL predicates keep rows; the
    * two flavors are interchangeable result-wise (spec-pinned). */
  def deleteWithDv(
      spark: SparkSession,
      path: String,
      filters: Seq[Seq[Predicate]],
      checkpointInterval: Int = 10): DmlResult =
    dvMutate(spark, path, filters, assignments = Map.empty, checkpointInterval)

  /** UPDATE via deletion vectors: the matched rows are DV'd out of their
    * files and their UPDATED versions are appended as new files — the
    * write cost is O(matched rows), not O(touched files): a 10-row
    * update of a terabyte of range-clustered parquet appends one tiny
    * file plus a KB of bitmap. Same SQL semantics as [[update]]
    * (assignments see the pre-update row; NULL predicates keep rows). */
  def updateWithDv(
      spark: SparkSession,
      path: String,
      filters: Seq[Seq[Predicate]],
      assignments: Map[String, Column],
      checkpointInterval: Int = 10): DmlResult = {
    require(assignments.nonEmpty, "UPDATE requires at least one assignment")
    dvMutate(spark, path, filters, assignments, checkpointInterval)
  }

  private def dvMutate(
      spark: SparkSession,
      path: String,
      filters: Seq[Seq[Predicate]],
      assignments: Map[String, Column],
      checkpointInterval: Int,
      condOverride: Option[Column] = None): DmlResult = {
    require(condOverride.isDefined || (filters.nonEmpty && filters.forall(_.nonEmpty)),
      "DML requires a non-empty predicate (refusing an implicit full-table operation)")
    val isDelete = assignments.isEmpty
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    DeltaWrite.requireWriterSupported(snap)
    DeltaWrite.requireNotAppendOnly(snap, if (isDelete) "DELETE" else "UPDATE")
    val generatedCols = DeltaWrite.generatedColumnsOf(snap.schema).map(_._1).toSet
    val identityCols = DeltaWrite.identityColumnsOf(snap.schema).map(_.name).toSet
    assignments.keys.foreach { c =>
      require(snap.schema.fieldNames.contains(c), s"Unknown column in SET: $c")
      require(!snap.partitionColumns.contains(c),
        s"Updating partition column $c is not supported (would move rows across files)")
      require(!generatedCols.contains(c),
        s"Column $c is generated (delta.generationExpression) — it re-derives " +
          "from its expression and cannot be SET directly")
      require(!identityCols.contains(c),
        s"Column $c is an identity column (delta.identity.*) — its values are " +
          "writer-allocated and cannot be SET")
    }
    val partCols = snap.partitionColumns.toSet
    val fieldTypes = snap.schema.fields.map(f => f.name -> f.dataType).toMap

    // condOverride (non-DNF WHERE fallback): no log pruning, no
    // partition-full proof — every active file scans, the condition
    // filters rows
    val candidates =
      if (condOverride.isDefined) snap.activeFiles
      else DeltaRead.prunedFiles(snap, filters)
    if (candidates.isEmpty) return DmlResult(0, 0, 0, 0)

    // partition-full matches drop whole files unread — a DV would only
    // slow the read side down for no write saving (update still reads
    // them once below, to produce the rewritten rows)
    // partitionValues are physical-keyed under column mapping
    val physOf = snap.schema.fields.map(f => f.name -> DeltaRead.physicalNameOf(f)).toMap
    def partitionFullMatch(f: AddFile): Boolean =
      filters.exists { conj =>
        conj.forall(p => partCols.contains(p.column) &&
          DeltaRead.evalPredicate(
            f.partitionValues.get(physOf.getOrElse(p.column, p.column)).flatMap(Option(_)),
            fieldTypes.getOrElse(p.column, org.apache.spark.sql.types.StringType), p))
      }
    val (provenFull, toScan) =
      if (condOverride.isDefined) (Seq.empty[AddFile], candidates)
      else candidates.partition(partitionFullMatch)

    // one scan: LIVE matched positions per file (readFiles applies any
    // existing DVs, so already-deleted rows can't re-match). Positions
    // fold into per-file Roaring bitmaps ON THE EXECUTORS
    // (PositionBitmapAgg, map-side combine); the driver collects one
    // compressed blob + count per touched file — O(#files × KB), never
    // O(matched rows).
    val cond = condOverride.getOrElse(DeltaRead.dnfToColumn(filters))
    val matched: Map[String, (Array[Byte], Long)] =
      if (toScan.isEmpty) Map.empty
      else matchedBitmapFrame(
          readFiles(spark, path, snap, toScan, keepMeta = true)
            .filter(coalesce(cond, lit(false))))
        .collect()
        .map(r => scanFileKey(r.getString(0)) -> ((r.getAs[Array[Byte]](1), r.getLong(2))))
        .toMap
    def fileKey(f: AddFile): String = normalizePath(DeltaRead.resolvePath(path, f.path))
    def countOf(f: AddFile): Long = matched.get(fileKey(f)).fold(0L)(_._2)
    def numRecords(f: AddFile): Option[Long] =
      StatsPruning.parse(f.stats).flatMap(_.numRecords)

    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val root = new Path(path)
    val touched = toScan.filter(countOf(_) > 0)
    // a file whose every live row matched is a full remove, not a DV
    val (dvTargets, scannedFull) = touched.partition { f =>
      numRecords(f) match {
        case Some(n) => countOf(f) < n - f.dvCardinality
        case None => true // stats-less: keep via DV, exactness over guessing
      }
    }
    val fullRemoves = provenFull ++ scannedFull
    if (fullRemoves.isEmpty && dvTargets.isEmpty) return DmlResult(0, 0, 0, 0)

    val provenRows: Long = {
      val (withStats, statless) = provenFull.partition(f => numRecords(f).isDefined)
      withStats.map(f => numRecords(f).get - f.dvCardinality).sum +
        (if (statless.isEmpty) 0L else readFiles(spark, path, snap, statless).count())
    }
    val affected = provenRows + touched.map(countOf).sum

    // merge fresh positions into any existing bitmap; ONE dv file per commit
    val bitmaps = dvTargets.map { f =>
      val rb = DeletionVectors.deserializeBitmap(matched(fileKey(f))._1)
      f.path -> DeletionVectors.merged(fs, root, f, rb)
    }
    val descriptors: Map[String, DeletionVectorDescriptor] =
      if (bitmaps.isEmpty) Map.empty
      else DeletionVectors.writeDvFile(fs, root, bitmaps)

    val version = snap.version + 1
    // The matched LIVE rows (existing DVs applied inside readFiles).
    // UPDATE staging, the cdc preimage, and the cdc postimage each
    // consume this frame — persist it when more than one consumer
    // exists so the touched files are scanned ONCE, not up to 3×
    // (the frame is O(matched rows); MEMORY_AND_DISK spills rather
    // than recomputing a 100 TB-scale rescan).
    val matchedUses =
      (if (isDelete) 0 else 1) + (if (DeltaWrite.cdfEnabled(snap)) { if (isDelete) 1 else 2 } else 0)
    lazy val matchedCached: DataFrame = {
      val m = readFiles(spark, path, snap, provenFull ++ touched)
        .filter(coalesce(cond, lit(false)))
      if (matchedUses > 1)
        m.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else m
    }
    def matchedRows(): DataFrame = matchedCached
    // Shadow columns keep cross-column SETs (a = b, b = a)
    // order-independent, like the rewrite flavor.
    def withAssignments(src: DataFrame): DataFrame = {
      val shadowed = assignments.zipWithIndex.foldLeft(src) {
        case (d, ((_, e), i)) => d.withColumn(s"__set_$i", e)
      }
      val swapped = assignments.zipWithIndex.foldLeft(shadowed) {
        case (d, ((c, _), i)) => d.withColumn(c, col(s"__set_$i"))
      }
      swapped.select(snap.schema.fieldNames.map(col).toSeq: _*)
    }
    // UPDATE: the matched rows (now DV'd out of their files) come back as
    // NEW files with the assignments applied — O(matched rows) written,
    // not O(touched files).
    val newAdds: Seq[AddFile] =
      if (isDelete || (provenFull.isEmpty && touched.isEmpty)) Nil
      else {
        val stagingDir = new Path(path, s".graft_dml_${UUID.randomUUID().toString.take(12)}")
        try stageDml(withAssignments(matchedRows()), spark, fs, path, stagingDir, snap, version)
        finally if (fs.exists(stagingDir)) fs.delete(stagingDir, true)
      }

    // CDF: the DV flavor's row-level changes are exactly the matched
    // live rows — one extra scan of the touched files, the price of
    // change capture, paid only on CDF tables
    val cdcActions: Seq[AddCDCFile] =
      if (!DeltaWrite.cdfEnabled(snap)) Nil
      else {
        val ct = ChangeFeed.ChangeTypeCol
        val changes =
          if (isDelete) matchedRows().withColumn(ct, lit("delete"))
          else matchedRows().withColumn(ct, lit("update_preimage")).unionByName(
            withAssignments(matchedRows()).withColumn(ct, lit("update_postimage")))
        // postimages re-derive generated columns exactly like stageDml
        // (identity on every already-valid pre/delete row)
        DeltaWrite.stageCdc(DeltaWrite.withGeneratedRecomputed(changes, snap.schema),
          spark, fs, path, version, snap)
      }
    if (matchedUses > 1) matchedCached.unpersist(blocking = false)

    val now = Instant.now().toEpochMilli
    val removes = (fullRemoves ++ dvTargets).map(f =>
      RemoveFile(f.path, deletionTimestamp = Some(now), dataChange = true,
        extendedFileMetadata = Some(true), partitionValues = f.partitionValues,
        size = Some(f.size), deletionVector = f.deletionVector))
    val readds = dvTargets.map(f =>
      f.copy(dataChange = true, deletionVector = Some(descriptors(f.path))))
    val protocolUpgrade = dvProtocolUpgrade(snap.protocol)

    val op = if (isDelete) "DELETE" else "UPDATE"
    def mkActions(readVersion: Long): Seq[Action] = (CommitInfo(
      timestamp = now,
      operation = op,
      operationParameters = Map("predicate" -> condOverride.map(_.toString)
        .getOrElse(filters.map(_.map(p =>
          s"${p.column} ${p.op} ${p.value}").mkString("(", " AND ", ")")).mkString(" OR "))),
      operationMetrics = Map(
        (if (isDelete) "numDeletedRows" else "numUpdatedRows") -> affected.toString,
        "numRemovedFiles" -> fullRemoves.size.toString,
        "numDeletionVectorsAdded" -> readds.size.toString,
        "numAddedFiles" -> newAdds.size.toString),
      readVersion = Some(readVersion),
      isBlindAppend = Some(false)): Action) +: {
      // row tracking: UPDATE's appended rows get fresh ids; the DV
      // re-adds keep theirs (same file, same rows — the DV flavor is
      // exactly the DML shape under which row ids are stable)
      val (rtAdds, rtDomain) = RowTracking.assign(RowTracking.enabled(snap),
        RowTracking.highWaterMark(snap), newAdds, readVersion + 1)
      // removes BEFORE the re-adds: replay is sequential, and the re-add
      // must end the commit active (it also clears the tombstone)
      protocolUpgrade.toSeq ++ rtDomain ++ cdcActions ++ removes ++ readds ++ rtAdds
    }

    val committed =
      try commitDmlWithRetry(log, path, version, mkActions,
        removes.map(_.path).toSet, addMatcher(snap, filters))
      catch {
        case e: java.util.ConcurrentModificationException =>
          descriptors.headOption.foreach { case (_, d) =>
            fs.delete(new Path(root,
              DeletionVectors.dvFileName(DeletionVectors.uuidOfDescriptor(d))), false)
          }
          newAdds.foreach(a =>
            fs.delete(new Path(DeltaRead.resolvePath(path, a.path)), false))
          DeltaWrite.deleteCdc(fs, path, cdcActions)
          throw e
      }
    if (checkpointInterval > 0 && committed %
      DeltaLog.checkpointIntervalOf(snap.metadata, checkpointInterval) == 0)
      log.writeCheckpoint(committed)
    // DML rewrites produce files too — a delta.autoOptimize.autoCompact
    // table compacts after DML exactly like after appends (delta-spark
    // behavior); a separate dataChange=false commit, inert without the
    // property
    DeltaWrite.autoCompactIfNeeded(spark, path, snap.metadata.configuration)
    DmlResult(affected, fullRemoves.size, 0, readds.size + newAdds.size)
  }

  /** Protocol action upgrading to reader 3 / writer 7 + deletionVectors,
    * enumerating the features the current version numbers imply (the
    * table-features upgrade rule); None when already sufficient. */
  private def dvProtocolUpgrade(p: Protocol): Option[Protocol] = {
    val hasReader = p.minReaderVersion >= 3 &&
      p.readerFeatures.exists(_.contains("deletionVectors"))
    val hasWriter = p.minWriterVersion >= 7 &&
      p.writerFeatures.exists(_.contains("deletionVectors"))
    if (hasReader && hasWriter) None
    else {
      // the table-features upgrade rule: enumerate EVERY feature the
      // legacy version implied, or a feature-aware foreign writer could
      // legally skip an obligation the version used to carry
      val legacyWriter = DeltaLog.legacyWriterFeatures(p)
      val legacyReader =
        if (p.minReaderVersion >= 3) p.readerFeatures.getOrElse(Nil)
        else if (p.minReaderVersion == 2) Seq("columnMapping")
        else Nil
      Some(Protocol(3, 7,
        readerFeatures = Some((legacyReader :+ "deletionVectors").distinct),
        writerFeatures = Some((legacyWriter :+ "deletionVectors").distinct)))
    }
  }

  /** UPDATE table SET <assignments> WHERE <filters>. Each assignment's
    * expression is evaluated against the pre-update row; non-matching
    * rows pass through byte-identical semantics. */
  def update(
      spark: SparkSession,
      path: String,
      filters: Seq[Seq[Predicate]],
      assignments: Map[String, Column],
      checkpointInterval: Int = 10): DmlResult = {
    require(assignments.nonEmpty, "UPDATE requires at least one assignment")
    mutate(spark, path, filters, assignments, checkpointInterval)
  }

  private def mutate(
      spark: SparkSession,
      path: String,
      filters: Seq[Seq[Predicate]],
      assignments: Map[String, Column],
      checkpointInterval: Int,
      condOverride: Option[Column] = None): DmlResult = {
    require(condOverride.isDefined || (filters.nonEmpty && filters.forall(_.nonEmpty)),
      "DML requires a non-empty predicate (refusing an implicit full-table operation)")
    val isDelete = assignments.isEmpty
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    DeltaWrite.requireWriterSupported(snap)
    DeltaWrite.requireNotAppendOnly(snap, if (isDelete) "DELETE" else "UPDATE")
    val generatedCols = DeltaWrite.generatedColumnsOf(snap.schema).map(_._1).toSet
    val identityCols = DeltaWrite.identityColumnsOf(snap.schema).map(_.name).toSet
    assignments.keys.foreach { c =>
      require(snap.schema.fieldNames.contains(c), s"Unknown column in SET: $c")
      require(!snap.partitionColumns.contains(c),
        s"Updating partition column $c is not supported (would move rows across files)")
      require(!generatedCols.contains(c),
        s"Column $c is generated (delta.generationExpression) — it re-derives " +
          "from its expression and cannot be SET directly")
      require(!identityCols.contains(c),
        s"Column $c is an identity column (delta.identity.*) — its values are " +
          "writer-allocated and cannot be SET")
    }

    val partCols = snap.partitionColumns.toSet
    val fieldTypes = snap.schema.fields.map(f => f.name -> f.dataType).toMap

    // ---- phase 0: metadata-only pruning ---------------------------------
    // condOverride (non-DNF WHERE fallback): no log pruning — every
    // active file is a candidate and the condition filters scan-side
    val candidates =
      if (condOverride.isDefined) snap.activeFiles
      else DeltaRead.prunedFiles(snap, filters)
    if (candidates.isEmpty) return DmlResult(0, 0, 0, 0)

    // Files whose partition values satisfy a whole OR-branch of
    // partition-only conjuncts match on EVERY row — a delete removes them
    // without ever reading them (the partition-drop fast path).
    // partitionValues are physical-keyed under column mapping
    val physOf = snap.schema.fields.map(f => f.name -> DeltaRead.physicalNameOf(f)).toMap
    def partitionFullMatch(f: AddFile): Boolean =
      filters.exists { conj =>
        conj.forall(p => partCols.contains(p.column) &&
          DeltaRead.evalPredicate(
            f.partitionValues.get(physOf.getOrElse(p.column, p.column)).flatMap(Option(_)),
            fieldTypes.getOrElse(p.column, org.apache.spark.sql.types.StringType), p))
      }
    val (provenFull, toScan) =
      if (isDelete && condOverride.isEmpty) candidates.partition(partitionFullMatch)
      else (Seq.empty[AddFile], candidates)

    // ---- phase 1: one scan for per-file matched-row counts --------------
    val cond = condOverride.getOrElse(DeltaRead.dnfToColumn(filters))
    val matchedByFile: Map[String, Long] =
      if (toScan.isEmpty) Map.empty
      else readFiles(spark, path, snap, toScan)
        .filter(cond)
        .groupBy(input_file_name().as("__f"))
        .agg(count(lit(1)).as("__n"))
        .collect()
        .map(r => scanFileKey(r.getString(0)) -> r.getLong(1))
        .toMap
    def matchedOf(f: AddFile): Long =
      matchedByFile.getOrElse(normalizePath(DeltaRead.resolvePath(path, f.path)), 0L)

    def numRecords(f: AddFile): Option[Long] =
      StatsPruning.parse(f.stats).flatMap(_.numRecords)

    val touchedScanned = toScan.filter(matchedOf(_) > 0L)
    // delete: fully-matched files (every row matches) need no rewrite
    val (scannedFull, partial) =
      if (isDelete) touchedScanned.partition(f => numRecords(f).contains(matchedOf(f)))
      else (Seq.empty[AddFile], touchedScanned)
    val fullRemoves = provenFull ++ scannedFull

    if (fullRemoves.isEmpty && partial.isEmpty) return DmlResult(0, 0, 0, 0)

    // Affected rows: counted for scanned files; proven-full files use
    // stats.numRecords, falling back to a count-only scan of just those
    // files (stats can be absent on foreign-written tables).
    val provenRows: Long = {
      val (withStats, statless) = provenFull.partition(f => numRecords(f).isDefined)
      withStats.map(f => numRecords(f).get).sum +
        (if (statless.isEmpty) 0L else readFiles(spark, path, snap, statless).count())
    }
    val affected = provenRows + touchedScanned.map(matchedOf).sum

    // ---- phase 2: rewrite partially-matched files -----------------------
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val version = snap.version + 1
    // On CDF tables the partial files feed BOTH the rewrite staging and
    // the cdc capture — persist the scan so they're read once, not twice
    // (O(touched-file rows), spills rather than rescanning at scale).
    val partialSrc: Option[DataFrame] =
      if (partial.isEmpty) None
      else {
        val s = readFiles(spark, path, snap, partial)
        Some(if (DeltaWrite.cdfEnabled(snap))
          s.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else s)
      }
    val adds: Seq[AddFile] =
      if (partial.isEmpty) Nil
      else {
        val src = partialSrc.get
        val matched = coalesce(cond, lit(false)) // NULL predicate = no match
        val rewritten =
          if (isDelete) src.filter(!matched)
          else {
            // all assignments see the PRE-update row: compute into shadow
            // columns first, then swap — self-referencing and cross-column
            // SETs (a = b, b = a) stay order-independent
            val shadowed = assignments.zipWithIndex.foldLeft(src) {
              case (d, ((c, expr), i)) =>
                d.withColumn(s"__set_$i", when(matched, expr).otherwise(col(c)))
            }
            val swapped = assignments.zipWithIndex.foldLeft(shadowed) {
              case (d, ((c, _), i)) => d.withColumn(c, col(s"__set_$i"))
            }
            swapped.select(snap.schema.fieldNames.map(col).toSeq: _*)
          }
        val stagingDir = new Path(path, s".graft_dml_${UUID.randomUUID().toString.take(12)}")
        try stageDml(rewritten, spark, fs, path, stagingDir, snap, version)
        finally if (fs.exists(stagingDir)) fs.delete(stagingDir, true)
      }

    // CDF: record exactly the matched rows (proven-full files are read
    // HERE for the first time — change capture needs their content, the
    // one case where a CDF delete costs more than a plain one)
    val cdcActions: Seq[AddCDCFile] =
      if (!DeltaWrite.cdfEnabled(snap)) Nil
      else {
        val ct = ChangeFeed.ChangeTypeCol
        // partial files come from the persisted scan (filtered to the
        // matched rows); fully-matched files are read here for the first
        // time and need no filter — stats/counts proved every row matches
        val fullRows =
          if (fullRemoves.isEmpty) None
          else Some(readFiles(spark, path, snap, fullRemoves))
        val partRows = partialSrc.map(_.filter(coalesce(cond, lit(false))))
        val matchedRows = (fullRows, partRows) match {
          case (Some(a), Some(b)) => a.unionByName(b)
          case (Some(a), None) => a
          case (None, Some(b)) => b
          case (None, None) =>
            readFiles(spark, path, snap, Nil).filter(lit(false))
        }
        val changes =
          if (isDelete) matchedRows.withColumn(ct, lit("delete"))
          else {
            val shadowed = assignments.zipWithIndex.foldLeft(matchedRows) {
              case (d, ((_, e), i)) => d.withColumn(s"__set_$i", e)
            }
            val post = assignments.zipWithIndex.foldLeft(shadowed) {
              case (d, ((c, _), i)) => d.withColumn(c, col(s"__set_$i"))
            }.select(snap.schema.fieldNames.map(col).toSeq: _*)
            matchedRows.withColumn(ct, lit("update_preimage"))
              .unionByName(post.withColumn(ct, lit("update_postimage")))
          }
        // postimages re-derive generated columns exactly like stageDml
        DeltaWrite.stageCdc(DeltaWrite.withGeneratedRecomputed(changes, snap.schema),
          spark, fs, path, version, snap)
      }
    if (DeltaWrite.cdfEnabled(snap))
      partialSrc.foreach(_.unpersist(blocking = false))

    // ---- commit ---------------------------------------------------------
    val now = Instant.now().toEpochMilli
    val removes = (fullRemoves ++ partial).map(f =>
      RemoveFile(f.path, deletionTimestamp = Some(now), dataChange = true,
        extendedFileMetadata = Some(true), partitionValues = f.partitionValues,
        size = Some(f.size), deletionVector = f.deletionVector))
    val op = if (isDelete) "DELETE" else "UPDATE"
    def mkActions(readVersion: Long): Seq[Action] = CommitInfo(
      timestamp = now,
      operation = op,
      operationParameters = Map("predicate" -> condOverride.map(_.toString)
        .getOrElse(filters.map(_.map(p =>
          s"${p.column} ${p.op} ${p.value}").mkString("(", " AND ", ")")).mkString(" OR "))),
      operationMetrics = Map(
        (if (isDelete) "numDeletedRows" else "numUpdatedRows") -> affected.toString,
        "numRemovedFiles" -> removes.size.toString,
        "numAddedFiles" -> adds.size.toString),
      readVersion = Some(readVersion),
      isBlindAppend = Some(false)) +: {
      // rewrite-flavor DML re-homes surviving rows into new files — they
      // get FRESH row ids (no materialized-column preservation; the DV
      // flavor is the stable-id path)
      val (rtAdds, rtDomain) = RowTracking.assign(RowTracking.enabled(snap),
        RowTracking.highWaterMark(snap), adds, readVersion + 1)
      rtDomain ++ cdcActions ++ rtAdds ++ removes
    }

    val committed =
      try commitDmlWithRetry(log, path, version, mkActions,
        removes.map(_.path).toSet, addMatcher(snap, filters))
      catch {
        case e: java.util.ConcurrentModificationException =>
          adds.foreach(a => fs.delete(new Path(DeltaRead.resolvePath(path, a.path)), false))
          DeltaWrite.deleteCdc(fs, path, cdcActions)
          throw e
      }
    if (checkpointInterval > 0 && committed %
      DeltaLog.checkpointIntervalOf(snap.metadata, checkpointInterval) == 0)
      log.writeCheckpoint(committed)
    DeltaWrite.autoCompactIfNeeded(spark, path, snap.metadata.configuration)
    DmlResult(affected, removes.size, partial.size, adds.size)
  }

  // ---- MERGE ------------------------------------------------------------

  /** What to do with target rows whose key matches a source row. */
  sealed trait WhenMatched
  object WhenMatched {
    /** Replace every column with the source row's value (upsert). */
    case object UpdateAll extends WhenMatched
    /** Apply assignments; expressions see target columns by name and
      * source columns via [[DeltaDml.src]]. */
    final case class Update(set: Map[String, Column]) extends WhenMatched
    /** Drop the matched target row. */
    case object Delete extends WhenMatched
    /** Leave matched rows untouched (insert-only merge). */
    case object Ignore extends WhenMatched
  }

  /** Reference a SOURCE column inside WhenMatched.Update assignments. */
  def src(name: String): Column = col(s"$SrcPrefix$name")
  private val SrcPrefix = "__graft_src_"

  /** One ordered `WHEN MATCHED [AND condition] THEN action` clause
    * (delta-spark's multi-clause builder shape): clauses evaluate in
    * order, the FIRST whose condition holds applies, a matched row no
    * clause accepts is kept unchanged. Conditions see target columns by
    * name and source columns via [[DeltaDml.src]]. */
  final case class MatchedClause(
      action: WhenMatched, condition: Option[Column] = None) {
    require(action != WhenMatched.Ignore,
      "Ignore is expressed by omitting the clause, not by a clause")
  }

  /** `WHEN NOT MATCHED BY SOURCE [AND condition] THEN UPDATE/DELETE` —
    * applies to TARGET rows no source key matches (the CDC-apply /
    * full-sync shape: delete or age-out rows the feed no longer
    * carries). Conditions and assignments see target columns only.
    * NOTE the scan scope: these rows can live in ANY file, so a merge
    * carrying by-source clauses rewrites every candidate file, not just
    * key-matched ones — the full-synchronization cost, same as
    * delta-spark. */
  sealed trait BySourceAction
  object BySourceAction {
    case object Delete extends BySourceAction
    final case class Update(set: Map[String, Column]) extends BySourceAction
  }
  final case class BySourceClause(
      action: BySourceAction, condition: Option[Column] = None)

  final case class MergeResult(
      matchedRows: Long,
      insertedRows: Long,
      removedFiles: Int,
      addedFiles: Int)

  /** MERGE INTO target USING source ON equi-keys — the incremental-
    * refresh primitive (upsert a day's crawl into the corpus, apply a
    * revision feed). Same pruned two-phase shape as delete/update:
    *
    *   phase 0: the source's key min/max (one small agg) range-prunes the
    *     target file list via per-file stats — a merge of a day's delta
    *     into a key-clustered 100 TB table touches only overlapping files.
    *   phase 1: one semi-join scan finds files with ≥1 key match.
    *   phase 2: touched files are rewritten with a left join against the
    *     source; unmatched source rows are appended. One atomic commit.
    *
    * Source keys must be unique (the protocol's multiple-match error).
    * NULL keys never match and therefore insert. */
  def merge(
      spark: SparkSession,
      path: String,
      source: DataFrame,
      on: Seq[String],
      whenMatched: WhenMatched = WhenMatched.UpdateAll,
      insertNotMatched: Boolean = true,
      checkpointInterval: Int = 10): MergeResult =
    mergeClauses(spark, path, source, on,
      matched = if (whenMatched == WhenMatched.Ignore) Nil
                else Seq(MatchedClause(whenMatched)),
      insertNotMatched = insertNotMatched,
      bySource = Nil,
      checkpointInterval = checkpointInterval)

  /** The full delta-spark clause surface: ordered conditioned WHEN
    * MATCHED clauses (first-match-wins) + WHEN NOT MATCHED [BY TARGET]
    * insert + ordered WHEN NOT MATCHED BY SOURCE clauses. The
    * single-clause [[merge]] is the degenerate call. */
  def mergeClauses(
      spark: SparkSession,
      path: String,
      source0: DataFrame,
      on: Seq[String],
      matched: Seq[MatchedClause],
      insertNotMatched: Boolean = true,
      bySource: Seq[BySourceClause] = Nil,
      checkpointInterval: Int = 10,
      schemaEvolution: Boolean = false): MergeResult = {
    require(on.nonEmpty, "MERGE requires at least one join key")
    val log = DeltaLog.forTable(spark, path)
    val snap0 = log.snapshot(None)
    DeltaWrite.requireWriterSupported(snap0)
    // Resolve source columns against the target CASE-INSENSITIVELY once
    // (Spark's default resolver): a source column differing from a
    // target column only in case binds to the existing column — it
    // updates/inserts into it rather than being silently neither evolved
    // (the evolution check was already case-insensitive) nor consumed
    // (the downstream srcHas/insert-fill sets are exact-case).
    val source = {
      val byLower = snap0.schema.fieldNames.map(n => n.toLowerCase -> n).toMap
      val renames = source0.schema.fieldNames.toSeq.collect {
        case n if byLower.get(n.toLowerCase).exists(_ != n) => n -> byLower(n.toLowerCase)
      }
      renames.foldLeft(source0) { case (d, (from, to)) => d.withColumnRenamed(from, to) }
    }
    // WITH SCHEMA EVOLUTION: source-only top-level columns extend the
    // target schema (appended, forced nullable), the merge plans against
    // the evolved snapshot, and the evolved metaData commits atomically
    // with the data swap. Existing files read null for the new fields
    // (the d08 schema-evolution read), so only touched files rewrite —
    // evolution itself costs zero data movement. Under column mapping
    // the new fields get fresh ids/physical names and maxColumnId
    // advances (shared ADD COLUMN seam). UpdateAll/insert additionally
    // tolerate source frames MISSING target columns: updates keep the
    // target's value, inserts fill null (the delta-spark semantics).
    val evolutionMeta: Option[MetadataAction] =
      if (!schemaEvolution) None
      else {
        val newFields = source.schema.fields.toSeq
          .filterNot(f => snap0.schema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
          .map(f => org.apache.spark.sql.types.StructField(
            f.name, f.dataType, nullable = true))
        if (newFields.isEmpty) None
        else Some(DeltaTableOps.evolvedMetadata(snap0, newFields))
      }
    val snap = evolutionMeta.map(m => snap0.copy(metadata = m)).getOrElse(snap0)
    // matched-row mutation / by-source clauses remove committed rows; an
    // insert-only merge (no clauses) is a legal append
    if (matched.nonEmpty || bySource.nonEmpty)
      DeltaWrite.requireNotAppendOnly(snap, "MERGE with matched/by-source clauses")
    val targetCols = snap.schema.fieldNames.toSeq
    on.foreach { k =>
      require(targetCols.contains(k), s"Join key $k missing from target")
      require(source.schema.fieldNames.contains(k), s"Join key $k missing from source")
    }
    // identity columns: a source that CARRIES a GENERATED ALWAYS column
    // refuses (explicit values are illegal); one that OMITS an identity
    // column is fine — inserts allocate fresh values, UpdateAll keeps the
    // target's (identity is stable under update by contract)
    val identityInfo = DeltaWrite.identityColumnsOf(snap.schema)
    identityInfo.filter(ic => source.schema.fieldNames.contains(ic.name))
      .filterNot(_.allowExplicitInsert).foreach { ic =>
        throw new IllegalStateException(
          s"MERGE source carries GENERATED ALWAYS AS IDENTITY column ${ic.name} — " +
            "explicit values refuse; omit the column and the writer allocates " +
            "(inserts) or keeps (updates) its values")
      }
    val needsFullSource =
      insertNotMatched || matched.exists(_.action == WhenMatched.UpdateAll)
    val identityOmitted = identityInfo.map(_.name)
      .filterNot(source.schema.fieldNames.contains).toSet
    // under schema evolution a partial source is legal: UpdateAll keeps
    // the target's value for missing columns, inserts fill null
    if (needsFullSource && !schemaEvolution)
      require(targetCols.filterNot(identityOmitted).forall(source.schema.fieldNames.contains),
        s"Source must carry every target column for UpdateAll/insert; missing " +
          targetCols.filterNot(identityOmitted)
            .filterNot(source.schema.fieldNames.contains).mkString(", "))
    def validateSet(set: Map[String, Column]): Unit = {
      val generatedCols = DeltaWrite.generatedColumnsOf(snap.schema).map(_._1).toSet
      val identityCols = DeltaWrite.identityColumnsOf(snap.schema).map(_.name).toSet
      set.keys.foreach { c =>
        require(targetCols.contains(c), s"Unknown column in SET: $c")
        require(!snap.partitionColumns.contains(c),
          s"Updating partition column $c is not supported")
        require(!generatedCols.contains(c),
          s"Column $c is generated (delta.generationExpression) — it re-derives " +
            "from its expression and cannot be SET directly")
        require(!identityCols.contains(c),
          s"Column $c is an identity column (delta.identity.*) — its values are " +
            "writer-allocated and cannot be SET")
      }
    }
    matched.foreach {
      case MatchedClause(WhenMatched.Update(set), _) => validateSet(set)
      case _ => ()
    }
    bySource.foreach {
      case BySourceClause(BySourceAction.Update(set), _) => validateSet(set)
      case _ => ()
    }

    // the merge consults the source ~4× (fused guard+span agg, match
    // scan, rewrite join, insert anti-join); at scale it is a real query
    // — materialize it once for the merge's lifetime
    val src = source.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try mergeImpl(spark, path, src, on, matched, insertNotMatched, bySource,
      checkpointInterval, log, snap, targetCols, evolutionMeta)
    finally src.unpersist()
  }

  /** A clause condition as DNF predicates over plain target columns,
    * when expressible: comparisons of a bare attribute against a
    * foldable literal, composed with AND/OR (plus literal IN-lists).
    * None = not stats-expressible — the caller must assume the clause
    * can apply anywhere. The bridge from MERGE by-source conditions to
    * the d16 file-stats pruning machinery (VERDICT r17 #6).
    *
    * The condition is ANALYZED against the target schema first: a raw
    * Column tree is api-level (unresolved function nodes), and
    * resolution both yields proper Catalyst comparisons and type-coerces
    * literals to the column type. An attribute that resolution had to
    * CAST (e.g. a string column compared to a number) stays
    * inexpressible — pruning through a cast would need monotonicity
    * reasoning the stats layer does not do. */
  private[delta] def conditionToDnf(
      spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      c: Column): Option[Seq[Seq[Predicate]]] = {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
      EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan,
      LessThanOrEqual, Or}
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    val resolved: Option[Expression] =
      try {
        spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
          .filter(c).queryExecution.analyzed.collectFirst {
            case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
          }
      } catch { case scala.util.control.NonFatal(_) => None }
    def attrName(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def litVal(e: Expression): Option[Any] =
      if (e.foldable)
        Option(e.eval(null)).map(v => CatalystTypeConverters.convertToScala(v, e.dataType))
      else None
    def flip(op: String): String = op match {
      case "<" => ">"
      case ">" => "<"
      case "<=" => ">="
      case ">=" => "<="
      case o => o
    }
    def mk(op: String, l: Expression, r: Expression): Option[Predicate] =
      (attrName(l), litVal(r)) match {
        case (Some(a), Some(v)) => Some(Predicate(a, op, v))
        case _ => (attrName(r), litVal(l)) match {
          case (Some(a), Some(v)) => Some(Predicate(a, flip(op), v))
          case _ => None
        }
      }
    def leaf(e: Expression): Option[Predicate] = e match {
      case EqualTo(l, r) => mk("==", l, r)
      case LessThan(l, r) => mk("<", l, r)
      case GreaterThan(l, r) => mk(">", l, r)
      case LessThanOrEqual(l, r) => mk("<=", l, r)
      case GreaterThanOrEqual(l, r) => mk(">=", l, r)
      case In(v, list) if list.nonEmpty =>
        val vs = list.map(litVal)
        attrName(v).filter(_ => vs.forall(_.isDefined))
          .map(a => Predicate(a, "in", vs.map(_.get)))
      case _ => None
    }
    def conj(e: Expression): Option[Seq[Predicate]] = e match {
      case And(l, r) => for { a <- conj(l); b <- conj(r) } yield a ++ b
      case other => leaf(other).map(Seq(_))
    }
    def dnf(e: Expression): Option[Seq[Seq[Predicate]]] = e match {
      case Or(l, r) => for { a <- dnf(l); b <- dnf(r) } yield a ++ b
      case other => conj(other).map(Seq(_))
    }
    resolved.flatMap(dnf)
  }

  /** The fused phase-0 source aggregation: row count, distinct key-tuple
    * count, and per-key min/max — one pass over the source (exposed so
    * the plan shape is spec-pinnable). */
  private[delta] def mergeGuardFrame(source: DataFrame, on: Seq[String]): DataFrame = {
    val aggs = Seq(
      count(lit(1)).as("__cnt"),
      countDistinct(struct(on.map(col): _*)).as("__dk")) ++
      on.flatMap(k => Seq(min(col(k)).as(s"mn_$k"), max(col(k)).as(s"mx_$k")))
    source.agg(aggs.head, aggs.tail: _*)
  }

  private def mergeImpl(
      spark: SparkSession,
      path: String,
      source: DataFrame,
      on: Seq[String],
      matched: Seq[MatchedClause],
      insertNotMatched: Boolean,
      bySource: Seq[BySourceClause],
      checkpointInterval: Int,
      log: DeltaLog,
      snap: Snapshot,
      targetCols: Seq[String],
      evolutionMeta: Option[MetadataAction] = None): MergeResult = {
    // schema-evolution: which target columns the source actually carries
    // (UpdateAll falls back to the target value for the rest; inserts
    // fill null). Without evolution srcHas covers every non-identity
    // target column (validated by the caller), so the guards are inert.
    val srcHas: Set[String] = source.schema.fieldNames.toSet
    // ---- phase 0: ONE aggregation over the source fuses the protocol's
    // unique-source-match guard with the key-span harvest (r9 VERDICT:
    // separate guard + span passes made a large-source merge pay an
    // extra scan). Duplicates exist iff count(*) > countDistinct of the
    // key TUPLE — struct() keeps all-null tuples countable, matching the
    // old groupBy semantics where duplicate null-key rows also refuse.
    // The per-key min/max range-prunes target files via per-file stats.
    val guardRow = mergeGuardFrame(source, on).collect()(0)
    if (guardRow.getAs[Long]("__cnt") > guardRow.getAs[Long]("__dk")) {
      // failure path only: a second scan may name an offending key
      val dupKeys = source.groupBy(on.map(col): _*).count()
        .filter(col("count") > 1).limit(1).collect()
      throw new IllegalStateException(
        s"MERGE source has duplicate join keys, e.g. ${dupKeys.headOption.getOrElse("?")}")
    }
    val keyRanges: Seq[Seq[Predicate]] = {
      val conj = on.flatMap { k =>
        (Option(guardRow.getAs[Any](s"mn_$k")), Option(guardRow.getAs[Any](s"mx_$k"))) match {
          case (Some(mn), Some(mx)) =>
            Seq(Predicate(k, ">=", mn), Predicate(k, "<=", mx))
          case _ => Nil // all-null key column: no matches possible
        }
      }
      if (conj.isEmpty) Nil else Seq(conj)
    }
    val candidates =
      if (keyRanges.isEmpty) Seq.empty[AddFile]
      else DeltaRead.prunedFiles(snap, keyRanges)

    val srcKeyed = source.select(
      source.schema.fieldNames.map(n => col(n).as(s"$SrcPrefix$n")).toSeq: _*)
    val joinCond = on.map(k => col(k) === col(s"$SrcPrefix$k")).reduce(_ && _)

    // ---- phase 1: which candidate files contain ≥1 matching key? -------
    val matchedByFile: Map[String, Long] =
      if (candidates.isEmpty) Map.empty
      else readFiles(spark, path, snap, candidates)
        // stamp the file name on the scan side: input_file_name() is
        // ambiguous once a second file source joins the plan
        .withColumn("__f", input_file_name())
        .join(srcKeyed.select(on.map(k => col(s"$SrcPrefix$k")): _*), joinCond, "left_semi")
        .groupBy(col("__f"))
        .agg(count(lit(1)).as("__n"))
        .collect()
        .map(r => scanFileKey(r.getString(0)) -> r.getLong(1))
        .toMap
    val touched = candidates.filter(f =>
      matchedByFile.contains(normalizePath(DeltaRead.resolvePath(path, f.path))))
    val matchedRows = matchedByFile.values.sum

    // by-source clauses apply to target rows NO source key matches —
    // those can live in ANY file, so the baseline rewrite set is the
    // whole active set (the full-synchronization cost, same as
    // delta-spark). NARROWED when EVERY by-source condition is a
    // stats-expressible bound (VERDICT r17 #6): a row changes under a
    // by-source clause only if some clause condition holds, so a file
    // whose stats prove no row can satisfy ANY condition has no
    // by-source-eligible rows and survives by identity — the d16
    // key-span machinery pointed at the clause bounds. An unconditional
    // clause (or an inexpressible condition) keeps the full set.
    val bySourceDnf: Option[Seq[Seq[Predicate]]] =
      if (bySource.isEmpty) None
      else {
        val per = bySource.map(
          _.condition.flatMap(c => conditionToDnf(spark, snap.schema, c)))
        if (per.forall(_.isDefined)) Some(per.flatMap(_.get)) else None
      }
    val rewriteFiles: Seq[AddFile] =
      if (bySource.nonEmpty) bySourceDnf match {
        case Some(dnf) =>
          val possible = DeltaRead.prunedFiles(snap, dnf)
          val touchedPaths = touched.map(_.path).toSet
          touched ++ possible.filterNot(f => touchedPaths.contains(f.path))
        case None => snap.activeFiles
      }
      else if (matched.nonEmpty) touched
      else Nil
    val rewriteNeeded = rewriteFiles.nonEmpty &&
      (bySource.nonEmpty || (matched.nonEmpty && touched.nonEmpty))

    // On CDF tables the rewrite files feed BOTH the rewrite join and the
    // cdc capture join — persist the scan so they're read once, not twice
    val touchedSrc: Option[DataFrame] =
      if (!rewriteNeeded) None
      else {
        val s = readFiles(spark, path, snap, rewriteFiles)
        Some(if (DeltaWrite.cdfEnabled(snap))
          s.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else s)
      }

    // identity columns the source omits: UpdateAll keeps the target's
    // values (identity is stable under update), inserts allocate fresh
    // ones above the watermark
    val identityOmitted: Set[String] = DeltaWrite.identityColumnsOf(snap.schema)
      .map(_.name).filterNot(source.schema.fieldNames.contains).toSet

    // ---- phase 2: rewrite files + append unmatched inserts --------------
    // Clause dispatch: every row of the rewrite scan is tagged with the
    // index of the FIRST matched clause (or by-source clause) whose
    // condition holds — first-match-wins, the delta-spark contract. All
    // value expressions evaluate against the PRE-merge row inside one
    // select, so cross-column swaps keep update semantics.
    val isMatchCol = col(s"$SrcPrefix${on.head}").isNotNull
    def firstMatchIdx(conds: Seq[Option[Column]]): Column =
      conds.zipWithIndex.foldRight(lit(-1): Column) { case ((cond, i), els) =>
        when(cond.getOrElse(lit(true)), lit(i)).otherwise(els)
      }
    val MIdx = "__graft_m_idx"
    val BIdx = "__graft_b_idx"
    def tagClauses(joined: DataFrame): DataFrame =
      joined
        .withColumn(MIdx,
          if (matched.isEmpty) lit(-1)
          else when(isMatchCol, firstMatchIdx(matched.map(_.condition))).otherwise(lit(-1)))
        .withColumn(BIdx,
          if (bySource.isEmpty) lit(-1)
          else when(!isMatchCol, firstMatchIdx(bySource.map(_.condition))).otherwise(lit(-1)))
    val matchedDeleteIdx = matched.zipWithIndex.collect {
      case (MatchedClause(WhenMatched.Delete, _), i) => i }
    val bySourceDeleteIdx = bySource.zipWithIndex.collect {
      case (BySourceClause(BySourceAction.Delete, _), i) => i }
    def deleteCond: Column =
      (matchedDeleteIdx.map(i => col(MIdx) === i) ++
        bySourceDeleteIdx.map(i => col(BIdx) === i))
        .foldLeft(lit(false))(_ || _)
    /** The post-merge value of target column `c` on a tagged row. */
    def valueFor(c: String): Column = {
      val matchedBranches = matched.zipWithIndex.flatMap {
        case (MatchedClause(WhenMatched.UpdateAll, _), i)
            if !identityOmitted(c) && srcHas(c) =>
          Some(i -> col(s"$SrcPrefix$c"))
        case (MatchedClause(WhenMatched.Update(set), _), i) if set.contains(c) =>
          Some(i -> set(c))
        case _ => None
      }
      val bySourceBranches = bySource.zipWithIndex.flatMap {
        case (BySourceClause(BySourceAction.Update(set), _), i) if set.contains(c) =>
          Some(i -> set(c))
        case _ => None
      }
      (matchedBranches.map { case (i, e) => (col(MIdx) === i, e) } ++
        bySourceBranches.map { case (i, e) => (col(BIdx) === i, e) })
        .foldRight(col(c)) { case ((cond, e), els) => when(cond, e).otherwise(els) }
    }
    val rewritten: Option[DataFrame] =
      if (!rewriteNeeded) None
      else {
        val tagged = tagClauses(touchedSrc.get.join(srcKeyed, joinCond, "left"))
        Some(tagged.filter(!deleteCond)
          .select(targetCols.map(c => valueFor(c).as(c)): _*))
      }

    val inserts: Option[DataFrame] =
      if (!insertNotMatched) None
      else {
        // a source row matching ANY target row matches inside a candidate
        // file (phase-0 pruning is key-range-conservative), so the anti
        // join only needs the candidates' key columns
        val targetKeys =
          if (candidates.isEmpty) null
          else readFiles(spark, path, snap, candidates).select(on.map(col): _*)
        val unmatched =
          if (targetKeys == null) source
          else source.join(targetKeys, on, "left_anti")
        val withIds = DeltaWrite.identityColumnsOf(snap.schema)
          .filter(ic => identityOmitted(ic.name))
          .foldLeft(unmatched)((d, ic) => d.withColumn(ic.name, DeltaWrite.identityAlloc(ic)))
        val withIdsCols = withIds.schema.fieldNames.toSet
        val frame = withIds.select(targetCols.map { c =>
          if (withIdsCols(c)) col(c)
          else lit(null).cast(snap.schema(c).dataType).as(c) // evolution null-fill
        }: _*)
        // on CDF tables the inserts feed staging, the cdc capture, and
        // (stats-less tables) the inserted-count — compute the anti-join
        // once. Allocated identity values are NONDETERMINISTIC, so any
        // potential second consumer must read the cached evaluation.
        Some(if (DeltaWrite.cdfEnabled(snap) || identityOmitted.nonEmpty)
          frame.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else frame)
      }

    val toWrite: Option[DataFrame] = (rewritten, inserts) match {
      case (Some(r), Some(i)) => Some(r.unionByName(i))
      case (Some(r), None) => Some(r)
      case (None, Some(i)) => Some(i)
      case (None, None) => None
    }

    val removes0 = if (rewriteNeeded) rewriteFiles else Seq.empty[AddFile]
    if (toWrite.isEmpty && removes0.isEmpty) return MergeResult(matchedRows, 0, 0, 0)

    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val version = snap.version + 1
    val adds: Seq[AddFile] = toWrite match {
      case None => Nil
      case Some(df) =>
        val stagingDir = new Path(path, s".graft_dml_${UUID.randomUUID().toString.take(12)}")
        try stageDml(df, spark, fs, path, stagingDir, snap, version)
        finally if (fs.exists(stagingDir)) fs.delete(stagingDir, true)
    }

    // CDF: one frame per change kind, every branch conformed to the
    // target schema (source-typed columns must not fork the cdc file
    // schema). The matched join re-runs against the persisted source —
    // bounded by the touched files, the change-capture price.
    val cdcActions: Seq[AddCDCFile] =
      if (!DeltaWrite.cdfEnabled(snap)) Nil
      else {
        val ct = ChangeFeed.ChangeTypeCol
        def conform(d: DataFrame): DataFrame =
          d.select(snap.schema.fields.map(f =>
            col(f.name).cast(f.dataType).as(f.name)).toSeq :+ col(ct): _*)
        val frames = Seq.newBuilder[DataFrame]
        if (rewriteNeeded) {
          val tagged = tagClauses(touchedSrc.get.join(srcKeyed, joinCond, "left"))
          def preRows(idxCol: String, i: Int): DataFrame =
            tagged.filter(col(idxCol) === i).select(targetCols.map(col): _*)
          def postRows(idxCol: String, i: Int): DataFrame =
            tagged.filter(col(idxCol) === i)
              .select(targetCols.map(c => valueFor(c).as(c)): _*)
          matched.zipWithIndex.foreach { case (cl, i) =>
            cl.action match {
              case WhenMatched.Delete =>
                frames += conform(preRows(MIdx, i).withColumn(ct, lit("delete")))
              case WhenMatched.UpdateAll | WhenMatched.Update(_) =>
                frames += conform(preRows(MIdx, i).withColumn(ct, lit("update_preimage")))
                frames += conform(postRows(MIdx, i).withColumn(ct, lit("update_postimage")))
              case WhenMatched.Ignore => ()
            }
          }
          bySource.zipWithIndex.foreach { case (cl, j) =>
            cl.action match {
              case BySourceAction.Delete =>
                frames += conform(preRows(BIdx, j).withColumn(ct, lit("delete")))
              case BySourceAction.Update(_) =>
                frames += conform(preRows(BIdx, j).withColumn(ct, lit("update_preimage")))
                frames += conform(postRows(BIdx, j).withColumn(ct, lit("update_postimage")))
            }
          }
        }
        inserts.foreach(i => frames += conform(i.withColumn(ct, lit("insert"))))
        val all = frames.result()
        if (all.isEmpty) Nil
        else DeltaWrite.stageCdc(
          DeltaWrite.withGeneratedRecomputed(all.reduce(_ unionByName _), snap.schema),
          spark, fs, path, version, snap)
      }

    // inserted = rows added minus rows carried over from rewrites (stats
    // arithmetic, no extra job; falls back to 0-safe math when stats are
    // absent on foreign-written files). Live rows only: a rewritten file's
    // DV-deleted rows are in its numRecords but were never carried over.
    def rowsOf(fl: Seq[AddFile]): Option[Long] = {
      val counts = fl.map(f => StatsPruning.parse(f.stats).flatMap(_.numRecords))
      if (counts.forall(_.isDefined)) Some(counts.flatten.sum - fl.map(_.dvCardinality).sum)
      else None
    }
    // stats arithmetic needs the exact deleted-row count; it is knowable
    // without a job only when deletion is all-or-nothing of the matched
    // set (the single unconditional clause shapes). Conditional or
    // by-source deletes count the inserts frame directly instead — one
    // extra job on the multi-clause path only.
    val deletesKnowable =
      matched.forall(_.condition.isEmpty) &&
        bySource.isEmpty &&
        (matchedDeleteIdx.isEmpty || matched.size == 1)
    val inserted =
      if (!deletesKnowable) inserts.map(_.count()).getOrElse(0L)
      else {
        val deleted = if (matchedDeleteIdx.nonEmpty) matchedRows else 0L
        (rowsOf(adds), rowsOf(removes0)) match {
          case (Some(a), Some(r)) => a - (r - deleted)
          // stats-less (foreign-written) removes: count the already-
          // computed inserts frame directly — rare path only
          case _ => inserts.map(_.count()).getOrElse(0L)
        }
      }
    if (DeltaWrite.cdfEnabled(snap))
      touchedSrc.foreach(_.unpersist(blocking = false))
    if (DeltaWrite.cdfEnabled(snap) || identityOmitted.nonEmpty)
      inserts.foreach(_.unpersist(blocking = false))

    if (adds.isEmpty && removes0.isEmpty) {
      DeltaWrite.deleteCdc(fs, path, cdcActions) // no commit will reference them
      return MergeResult(matchedRows, 0, 0, 0)
    }

    // identity values observed in this commit's adds advance the table's
    // high watermark in the same commit (harvested from footer stats).
    // This must run whenever the schema has identity columns — not only
    // for merge-ALLOCATED values: a source that carries the identity
    // column explicitly can insert (or UpdateAll in) values above the
    // stale watermark, and write()'s identityRebase policy is "cover
    // provided values too" so later appends never allocate collisions.
    // identityRebase itself returns None when nothing advanced (e.g. a
    // rewrite that only re-staged existing at-or-below values).
    val identityMeta: Option[MetadataAction] =
      if (DeltaWrite.identityColumnsOf(snap.schema).isEmpty) None
      else DeltaWrite.identityRebase(spark, path, snap.schema, adds)
        .map(s => snap.metadata.copy(schemaString = s.json))

    val now = Instant.now().toEpochMilli
    val removes = removes0.map(f =>
      RemoveFile(f.path, deletionTimestamp = Some(now), dataChange = true,
        extendedFileMetadata = Some(true), partitionValues = f.partitionValues,
        size = Some(f.size), deletionVector = f.deletionVector))
    def mkActions(readVersion: Long): Seq[Action] = CommitInfo(
      timestamp = now,
      operation = "MERGE",
      operationParameters = Map(
        "predicate" -> on.mkString("[", ",", "]"),
        "matchedAction" -> (if (matched.isEmpty) "Ignore"
          else matched.map(c =>
            c.action.toString + c.condition.map(_ => "[cond]").getOrElse(""))
            .mkString(";")),
        "notMatchedAction" -> (if (insertNotMatched) "insert" else "ignore"),
        "notMatchedBySourceAction" -> (if (bySource.isEmpty) "ignore"
          else bySource.map(c =>
            c.action.toString + c.condition.map(_ => "[cond]").getOrElse(""))
            .mkString(";"))),
      operationMetrics = Map(
        "numTargetRowsMatched" -> matchedRows.toString,
        "numTargetRowsInserted" -> inserted.toString,
        "numTargetFilesRemoved" -> removes.size.toString,
        "numTargetFilesAdded" -> adds.size.toString),
      readVersion = Some(readVersion),
      isBlindAppend = Some(false)) +: {
      val (rtAdds, rtDomain) = RowTracking.assign(RowTracking.enabled(snap),
        RowTracking.highWaterMark(snap), adds, readVersion + 1)
      // identityMeta already embeds the evolved schema (it copies the
      // evolved snap's metadata), so at most ONE metaData action commits
      identityMeta.orElse(evolutionMeta).toSeq ++
        rtDomain ++ cdcActions ++ rtAdds ++ removes
    }

    // phantom check for merge: a concurrent add conflicts iff it may
    // hold keys inside the source's key span (keyRanges) — the same
    // range the target pruning used. An all-null-key source (empty
    // keyRanges) equality-matches nothing, so no add conflicts.
    // by-source clauses read EVERY unmatched target row, so any
    // concurrently added file is a phantom; otherwise only adds that may
    // hold keys inside the source's span conflict
    val mergeAddMatcher: AddFile => Boolean =
      if (bySource.nonEmpty) _ => true
      else if (keyRanges.isEmpty) _ => false
      else addMatcher(snap, keyRanges)
    val committed =
      try commitDmlWithRetry(log, path, version, mkActions,
        removes.map(_.path).toSet, mergeAddMatcher)
      catch {
        case e: java.util.ConcurrentModificationException =>
          adds.foreach(a => fs.delete(new Path(DeltaRead.resolvePath(path, a.path)), false))
          DeltaWrite.deleteCdc(fs, path, cdcActions)
          throw e
      }
    if (checkpointInterval > 0 && committed %
      DeltaLog.checkpointIntervalOf(snap.metadata, checkpointInterval) == 0)
      log.writeCheckpoint(committed)
    DeltaWrite.autoCompactIfNeeded(spark, path, snap.metadata.configuration)
    MergeResult(matchedRows, math.max(inserted, 0L), removes.size, adds.size)
  }

  /** Conflict-aware optimistic commit for DML — the DML twin of
    * DeltaWrite.commitWithRetry. Losing the race no longer aborts
    * unconditionally: each interleaved winner is checked for a LOGICAL
    * conflict with this DML's read/write sets, and disjoint winners
    * (appends to other partitions/key ranges, OPTIMIZE rewrites of
    * untouched files, other DML on non-overlapping files) are rebased
    * past by re-committing the same actions at the new head.
    *
    * Conflict matrix (serializable semantics, conservative):
    *   - metadata / protocol change        → abort (plan is stale)
    *   - remove of a file THIS DML removes → abort (write-write: the
    *     file was concurrently rewritten or deleted)
    *   - dataChange add that MAY contain rows matching this DML's
    *     predicate (partition values + file stats cannot exclude it)
    *     → abort (phantom: a serial execution would have processed
    *     those rows). dataChange=false adds (compactions) carry no new
    *     rows and never conflict by themselves — their paired removes
    *     are caught by the write-write rule when they touch our files.
    *
    * Returns the version that committed. On abort the staged add files
    * are the caller's to clean up (same contract as before). */
  private[delta] def commitDmlWithRetry(
      log: DeltaLog,
      path: String,
      firstVersion: Long,
      mkActions: Long => Seq[Action], // readVersion → full action list
      ourRemovedPaths: Set[String],
      addMayConflict: AddFile => Boolean,
      maxAttempts: Int = 20): Long = {
    var v = firstVersion
    var attempt = 0
    while (true) {
      attempt += 1
      try {
        log.writeCommit(v, mkActions(v - 1))
        return v
      } catch {
        case e: java.util.ConcurrentModificationException =>
          if (attempt >= maxAttempts) throw e
          val head = log.latestVersion
          (v to head).foreach { w =>
            log.readCommitActions(w).foreach {
              case _: MetadataAction | _: Protocol =>
                throw new java.util.ConcurrentModificationException(
                  s"DML conflicts with a metadata/protocol change at version $w in $path", e)
              // a concurrent domain-metadata change (e.g. a row-id
              // allocation moving the delta.rowTracking watermark) makes
              // our pre-computed domain state stale — abort, don't rebase
              case _: DomainMetadata =>
                throw new java.util.ConcurrentModificationException(
                  s"DML conflicts with a domain-metadata change at version $w in $path", e)
              case r: RemoveFile if ourRemovedPaths.contains(r.path) =>
                throw new java.util.ConcurrentModificationException(
                  s"Write-write conflict: ${r.path} was concurrently removed at version $w in $path", e)
              case a: AddFile if a.dataChange && addMayConflict(a) =>
                throw new java.util.ConcurrentModificationException(
                  s"Phantom conflict: version $w added rows this DML's predicate may match in $path", e)
              case _ => ()
            }
          }
          v = head + 1
      }
    }
    -1L // unreachable
  }

  /** File-level "may this add contain predicate-matching rows?" check —
    * the same partition-exact + stats-range test prunedFiles applies,
    * evaluated on a single foreign add. Conservative: missing stats or
    * untranslatable predicates conflict. */
  private[delta] def addMatcher(snap: Snapshot, filters: Seq[Seq[Predicate]]): AddFile => Boolean = {
    if (filters.isEmpty) return _ => true
    val partCols = snap.partitionColumns.toSet
    val fieldTypes: Map[String, org.apache.spark.sql.types.DataType] =
      snap.schema.fields.map(f => f.name -> f.dataType).toMap
    f => {
      lazy val stats = StatsPruning.parse(f.stats)
      filters.exists { conj =>
        conj.forall { p =>
          if (partCols.contains(p.column))
            DeltaRead.evalPredicate(f.partitionValues.get(p.column).flatMap(Option(_)),
              fieldTypes.getOrElse(p.column, org.apache.spark.sql.types.StringType), p)
          else StatsPruning.mayMatch(stats, p)
        }
      }
    }
  }

  /** Scan a specific subset of the snapshot's files with the snapshot
    * schema and hive partition columns restored. Deletion vectors are
    * applied so a rewrite of a DV-carrying file can never resurrect its
    * soft-deleted rows. */
  /** Physical partition-column names of a (possibly mapped) snapshot. */
  private def stagePartCols(snap: Snapshot): Seq[String] = {
    val physOf = snap.schema.fields.map(f => f.name -> DeltaRead.physicalNameOf(f)).toMap
    if (DeltaRead.mappingModeOf(snap) == "none") snap.partitionColumns
    else snap.partitionColumns.map(c => physOf.getOrElse(c, c))
  }

  /** Stage a LOGICAL rewrite/insert frame for this table: constraints and
    * invariants enforce against logical names, then column-mapped tables
    * rename/stamp to their physical on-disk shape (DeltaWrite
    * .physicalizeForWrite) and partition by physical dir names — the DML
    * twin of the plain write path's mapped staging. */
  private def stageDml(
      df0: DataFrame, spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      path: String, stagingDir: Path, snap: Snapshot, version: Long): Seq[AddFile] = {
    // generated columns re-derive from the post-update row — an UPDATE
    // of a dependency can't leave them stale (the generatedEqualityOf
    // constraint below then holds trivially)
    val df = DeltaWrite.withGeneratedRecomputed(df0, snap.schema)
    val constraints = DeltaWrite.checkConstraintsOf(snap.metadata)
    if (DeltaRead.mappingModeOf(snap) == "none")
      DeltaWrite.stageAndMove(df, spark, fs, path, stagingDir,
        snap.partitionColumns, version, constraints,
        snap.metadata.configuration)
    else
      DeltaWrite.stageAndMove(
        DeltaWrite.physicalizeForWrite(
          DeltaWrite.withConstraintsEnforced(df, constraints), snap),
        spark, fs, path, stagingDir, stagePartCols(snap), version, Nil,
        snap.metadata.configuration)
  }

  /** Per-file matched positions aggregated executor-side into serialized
    * Roaring bitmaps plus counts: (file_path, dv_blob, n). Exposed as a
    * FRAME (collected by dvMutate) so specs can pin the plan shape — the
    * aggregate is a partial ObjectHashAggregate over
    * [[DeletionVectors.PositionBitmapAgg]]; no collect_list of positions
    * appears anywhere in the plan. Input must carry `_metadata`
    * (readFiles with keepMeta = true). */
  private[delta] def matchedBitmapFrame(matchedScan: DataFrame): DataFrame =
    matchedScan
      .select(col("_metadata.file_path").as("__f"), col("_metadata.row_index").as("__i"))
      .groupBy(col("__f"))
      .agg(
        udaf(DeletionVectors.PositionBitmapAgg).apply(col("__i")).as("__dv"),
        count(lit(1)).as("__n"))

  private[delta] def readFiles(
      spark: SparkSession, path: String, snap: Snapshot, files: Seq[AddFile],
      keepMeta: Boolean = false): DataFrame = {
    val dvFiles = files.filter(_.deletionVector.isDefined)
    val dvBytes =
      if (dvFiles.isEmpty) Map.empty[String, Array[Byte]]
      else DeletionVectors.dvByteMap(spark, new Path(path), dvFiles)
    if (DeltaRead.mappingModeOf(snap) != "none")
      // mapped tables read physical names + log-sourced partition values,
      // renamed back to the logical schema (DV bitmaps apply on the raw
      // scan inside); DML's predicates/assignments stay logical
      DeltaRead.mappedScan(spark, path, snap, files, dvBytes, keepMeta)
    else {
      val absolute = files.map(f => DeltaRead.resolvePath(path, f.path))
      val rootPrefix = path.stripSuffix("/") + "/"
      if (absolute.forall(_.startsWith(rootPrefix)))
        DeletionVectors.applyFilter(
          spark.read
            .format("parquet")
            .schema(snap.schema)
            .option("basePath", path)
            .load(absolute: _*),
          dvBytes)
      else if (snap.partitionColumns.isEmpty)
        // shallow-clone DML: absolute add paths under ANOTHER table's
        // root — basePath would refuse the cross-root file index
        DeletionVectors.applyFilter(
          spark.read.format("parquet").schema(snap.schema).load(absolute: _*),
          dvBytes)
      else {
        // partitioned clone DML: hive discovery can't span roots; the
        // LOG carries the partition values — per-group scan with typed
        // literals (mirrors DeltaRead's clone read branch). `_metadata`
        // materializes as a regular column because Union does not
        // propagate hidden metadata columns; dropped again when the
        // caller didn't ask for it (a staging write must never see it).
        val partCols = snap.partitionColumns.toSet
        val partFields = snap.schema.fields.filter(f => partCols.contains(f.name))
        val dataSchema = org.apache.spark.sql.types.StructType(
          snap.schema.fields.filterNot(f => partCols.contains(f.name)))
        val ordered = snap.schema.fieldNames.toSeq :+ "_metadata"
        val union = files.groupBy(_.partitionValues).map { case (pv, group) =>
          val g = spark.read.format("parquet").schema(dataSchema)
            .load(group.map(f => DeltaRead.resolvePath(path, f.path)): _*)
          partFields.foldLeft(g) { (d, f) =>
            d.withColumn(f.name,
              lit(pv.get(f.name).flatMap(Option(_)).orNull).cast(f.dataType))
          }.withColumn("_metadata", col("_metadata"))
            .select(ordered.map(col): _*)
        }.reduce(_ unionByName _)
        val filtered = DeletionVectors.applyFilter(union, dvBytes)
        if (keepMeta) filtered else filtered.drop("_metadata")
      }
    }
  }

  /** Normalizes a resolvePath output (ALREADY URI-decoded, possibly
    * scheme-qualified) to a bare scheme-less path. `Path.toUri` re-encodes
    * then `getPath` decodes, so literal `%`/space round-trip unchanged —
    * never double-decoded. */
  private def normalizePath(p: String): String =
    new Path(p).toUri.getPath

  /** input_file_name() yields a URL-ENCODED scheme-qualified URI (space →
    * %20); the file-side keys from resolvePath are decoded. Decode the
    * scan-side key so both compare equal for tables whose partition
    * values contain URL-encodable characters — otherwise DELETE/UPDATE
    * silently affect 0 rows and MERGE skips matched updates. */
  private def scanFileKey(p: String): String =
    try Option(new java.net.URI(p).getPath).filter(_.nonEmpty)
      .getOrElse(normalizePath(p))
    catch { case _: java.net.URISyntaxException => normalizePath(p) }
}
