package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import java.time.Instant
import scala.util.{Failure, Try}

/** Table maintenance beyond the reference's surface: small-file
  * compaction (OPTIMIZE). Many streaming/append workloads fragment a
  * table into thousands of tiny files; compaction rewrites each
  * partition's files into ~targetFileSize outputs and commits the swap
  * as remove+add with dataChange=false (readers see identical rows;
  * concurrent appends are not invalidated).
  *
  * Scale: the rewrite is an ordinary distributed Spark job per
  * partition-group; the commit is O(#files) control-plane like any
  * delta commit. Vacuum later reclaims the replaced files.
  */
object DeltaMaintenance {

  /** REORG TABLE ... APPLY (PURGE): rewrite exactly the files that carry
    * a deletion vector, materializing the DV away (soft-deleted rows
    * physically disappear; the new files carry no DV). Visible rows are
    * unchanged, so the swap commits with dataChange=false like OPTIMIZE.
    *
    * Scale: scoped to DV-carrying files only — on a 100 TB table where
    * DML touched one partition, REORG rewrites that partition's DV files
    * and nothing else; `where` narrows it further by partition predicate.
    * This is the GDPR-style physical-erasure companion to DV DML: the
    * O(matched) soft delete happens at request time, the rewrite is
    * deferred to one scoped maintenance pass. */
  def reorgPurge(
      spark: SparkSession,
      path: String,
      where: Seq[Seq[Predicate]] = Nil): (Int, Int) =
    compact(spark, path, minFilesToCompact = 1, where = where, purge = true)

  /** Compact the current snapshot's files. Returns (filesBefore,
    * filesAfter). Partition boundaries are preserved.
    *
    * @param sortBy optional clustering columns: the rewrite range-
    *   partitions and sorts each partition group by these, so the
    *   compacted files carry disjoint min/max ranges and later scans
    *   with predicates on them prune whole files (StatsPruning) — the
    *   OPTIMIZE ... ZORDER role for single-dimension keys.
    * @param zorder with ≥2 numeric sortBy columns: cluster by the
    *   interleaved-bit z-value of per-column quantile buckets instead of
    *   lexicographic order, so predicates on EVERY clustered column
    *   prune files, not just the leading one.
    *
    * Each partition group stages through DeltaWrite.stageFiles on a
    * bounded pool. A failed group fails the compaction only after every
    * group's job has ended, and the files the finished groups moved are
    * deleted: a failed OPTIMIZE leaves the table tree and the log as
    * they were. */
  def compact(
      spark: SparkSession,
      path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      minFilesToCompact: Int = 2,
      sortBy: Seq[String] = Nil,
      zorder: Boolean = false,
      where: Seq[Seq[Predicate]] = Nil,
      purge: Boolean = false): (Int, Int) = {
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    // liquid clustering: a table carrying stored clustering columns
    // (delta.clustering domain) OPTIMIZEs by them when the caller names
    // no explicit layout — Z-order for ≥2 columns, range for one; an
    // explicit sortBy always wins (the delta-spark override contract)
    val (effSortBy, effZorder) = DeltaTableOps.clusteringColumnsOf(snap) match {
      case cols if sortBy.isEmpty && cols.nonEmpty => (cols, cols.size >= 2)
      case _ => (sortBy, zorder)
    }
    effSortBy.foreach { c =>
      require(snap.schema.fieldNames.contains(c), s"Unknown sortBy column: $c")
      require(!snap.partitionColumns.contains(c),
        s"sortBy column $c is a partition column (constant within a group)")
    }
    // OPTIMIZE WHERE: partition predicates scope the compaction — on a
    // 100 TB table only the hot partition (today's ingest) rewrites, the
    // cold history is untouched. Exact evaluation on log-carried
    // partition values (the replaceWhere contract); data-column
    // predicates refuse loudly.
    if (where.nonEmpty) {
      val pc = snap.partitionColumns.toSet
      val bad = where.flatten.map(_.column).distinct.filterNot(pc.contains)
      require(bad.isEmpty,
        s"OPTIMIZE WHERE supports partition columns only; non-partition: ${bad.mkString(", ")}")
    }
    val fieldTypes = snap.schema.fields.map(f => f.name -> f.dataType).toMap
    val byPartition = snap.activeFiles.groupBy(_.partitionValues)
    val inScope =
      if (where.isEmpty) byPartition
      else byPartition.filter { case (pv, _) =>
        where.exists(_.forall(p => DeltaRead.evalPredicate(
          pv.get(p.column).flatMap(Option(_)),
          fieldTypes.getOrElse(p.column, org.apache.spark.sql.types.StringType), p)))
      }
    // purge mode scopes the rewrite to DV-carrying files ONLY and drops
    // compact's small-file heuristics: a lone 1 GB file with a DV still
    // rewrites (that is the point), a DV-less partition never does.
    val toCompact =
      if (purge)
        inScope.map { case (pv, fs) => pv -> fs.filter(_.deletionVector.isDefined) }
          .filter(_._2.nonEmpty)
      else inScope.filter { case (_, fs) =>
        fs.size >= minFilesToCompact && fs.map(_.size).sum <= targetFileBytes * fs.size
      }
    if (toCompact.isEmpty) return (snap.activeFiles.size, snap.activeFiles.size)

    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val now = Instant.now().toEpochMilli
    // Row tracking: OPTIMIZE only COPIES rows (dataChange=false), so the
    // protocol requires each surviving row to keep its id. The compacted
    // files carry physical materialized columns (names minted once and
    // pinned in table config) holding the old id/commit-version; readers
    // coalesce(materialized, baseRowId + row_index). Fresh baseRowIds
    // are still assigned to the new files (spec-required on every add)
    // but never surface for copied rows.
    // (composes with column mapping: the materialized columns are
    // unmapped PHYSICAL parquet names pinned in table config, read and
    // written through DeltaRead.scan's extraPhysical seam)
    val rtEnabled = RowTracking.enabled(snap)
    val matCols: Option[(String, String)] =
      if (!rtEnabled) None
      else Some(RowTracking.materializedColNames(snap).getOrElse {
        val sfx = java.util.UUID.randomUUID().toString
        (s"_row-id-col-$sfx", s"_row-commit-version-col-$sfx")
      })
    val mintedMatCols = rtEnabled && RowTracking.materializedColNames(snap).isEmpty
    val rtBcast = if (!rtEnabled) None else {
      val inScopeFiles = toCompact.values.flatten.toSeq
      inScopeFiles.find(_.baseRowId.isEmpty).foreach(f =>
        throw new IllegalStateException(
          s"OPTIMIZE with row tracking: active file ${f.path} has no baseRowId — " +
            "re-run RowTracking.enable() to backfill"))
      // same loudness for a missing commit version (possible from a
      // foreign writer): materializing the -1 read-time sentinel would
      // bake "unknown" into the compacted file forever
      inScopeFiles.find(_.defaultRowCommitVersion.isEmpty).foreach(f =>
        throw new IllegalStateException(
          s"OPTIMIZE with row tracking: active file ${f.path} has no " +
            "defaultRowCommitVersion — re-run RowTracking.enable() to backfill"))
      Some(spark.sparkContext.broadcast(new RowIdIndex(inScopeFiles.map { f =>
        val resolved = DeltaRead.resolvePath(path, f.path)
        val name = resolved.substring(resolved.lastIndexOf('/') + 1)
        name -> (f.baseRowId.get, f.defaultRowCommitVersion.getOrElse(-1L))
      }.toMap)))
    }
    val matFields = matCols.toSeq.flatMap { case (rid, rcv) => Seq(
      org.apache.spark.sql.types.StructField(rid,
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField(rcv,
        org.apache.spark.sql.types.LongType, nullable = true)) }

    // Each partition group rewrites as its OWN Spark job; running them
    // from one driver thread serializes the cluster. A bounded pool
    // submits groups concurrently — with many small partitions the jobs
    // overlap and OPTIMIZE wall time approaches the largest group, not
    // the sum (the delta-spark thread-pool shape).
    def rewriteGroup(pv: Map[String, String], files: Seq[AddFile]): Seq[AddFile] = {
      val numOut = math.max(1, (files.map(_.size).sum / targetFileBytes).toInt)
      // rewrite: read only this partition's files, keep partition columns
      // out of the data (they live in the path). Deletion vectors are
      // applied — OPTIMIZE is exactly where DVs get materialized away
      // (the compacted files carry no DV and no deleted rows).
      val dvBytes = DeletionVectors.dvByteMap(spark, new Path(path), files)
      // logical-name frame (physical read + rename inside for mapped
      // tables); partition values are dropped — they live in the output
      // path. A previous OPTIMIZE's materialized row-id columns ride
      // along as unmapped extraPhysical fields
      val scan = DeltaRead.scan(spark, path, snap.metadata, files, dvBytes,
        keepMeta = rtBcast.isDefined, extraPhysical = matFields)
      val df = (matCols, rtBcast) match {
        case (Some((rid, rcv)), Some(bcast)) =>
          import org.apache.spark.sql.functions.coalesce
          // preserved id = materialized value if a previous OPTIMIZE
          // already stamped one, else the file's baseRowId arithmetic
          scan
            .withColumn("__rt_path", col("_metadata.file_path"))
            .withColumn("__rt_idx", col("_metadata.row_index"))
            .withColumn(rid, coalesce(col(rid),
              org.apache.spark.sql.graft.RowIdExpressions
                .rowId(bcast, col("__rt_path"), col("__rt_idx"))))
            .withColumn(rcv, coalesce(col(rcv),
              org.apache.spark.sql.graft.RowIdExpressions
                .commitVersion(bcast, col("__rt_path"))))
            .drop("__rt_path" +: "__rt_idx" +: "_metadata" +: snap.partitionColumns: _*)
        case _ => scan.drop(snap.partitionColumns: _*)
      }
      val clustered =
        if (effSortBy.isEmpty) df.coalesce(numOut)
        else if (effZorder && effSortBy.size >= 2) {
          val z = zValueColumn(df, effSortBy)
          df.withColumn("__z", z)
            .repartitionByRange(numOut, col("__z"))
            .sortWithinPartitions(col("__z"))
            .drop("__z")
        } else {
          val cols = effSortBy.map(col)
          df.repartitionByRange(numOut, cols: _*).sortWithinPartitions(cols: _*)
        }
      // the materialized row-id columns are already physical — staged
      // verbatim, never renamed
      DeltaWrite.stageFiles(clustered, path, snap.version + 1, snap.metadata,
        DeltaWrite.CompactedFiles(pv))
    }

    val groups = toCompact.toSeq
    val parallelism = math.max(1, math.min(8, groups.size))
    val outcomes: Seq[Try[Seq[AddFile]]] =
      if (parallelism == 1) groups.map { case (pv, files) => Try(rewriteGroup(pv, files)) }
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
        try {
          import scala.concurrent.{Await, ExecutionContext, Future}
          implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
          Await.result(Future.traverse(groups) { case (pv, files) =>
            Future(Try(rewriteGroup(pv, files))) }, scala.concurrent.duration.Duration.Inf)
        } finally pool.shutdown()
      }
    val adds = outcomes.flatMap(_.getOrElse(Nil))
    outcomes.collectFirst { case Failure(e) =>
      DeltaWrite.deleteStaged(fs, path, adds.map(_.path))
      throw e
    }
    val removes = groups.flatMap(_._2).map(_.remove(now, dataChange = false))

    val commitInfo = CommitInfo(
      timestamp = now,
      operation = if (purge) "REORG" else "OPTIMIZE",
      operationParameters =
        (if (purge) Map("applyPurge" -> "true")
         else Map("targetFileBytes" -> targetFileBytes.toString)) ++
        (if (effSortBy.isEmpty) Map.empty
         else Map("sortBy" -> effSortBy.mkString("[\"", "\",\"", "\"]"),
           "zorder" -> (effZorder && effSortBy.size >= 2).toString)),
      operationMetrics = Map(
        "numRemovedFiles" -> removes.size.toString,
        "numAddedFiles" -> adds.size.toString),
      readVersion = Some(snap.version),
      isBlindAppend = Some(false))
    // row tracking: compacted files are NEW physical files and get fresh
    // baseRowIds (spec-required on every add; watermark advances), but
    // every copied row's OLD id rides the materialized columns written
    // above, so reader-visible ids are preserved. First preserving
    // OPTIMIZE also pins the minted column names in table config.
    val metaActs = if (!mintedMatCols) Nil else {
      val (rid, rcv) = matCols.get
      Seq(snap.metadata.copy(configuration = snap.metadata.configuration +
        (RowTracking.MaterializedRowIdProp -> rid) +
        (RowTracking.MaterializedCommitVersionProp -> rcv)))
    }
    // OPTIMIZE/REORG is dataChange=false: it makes no claim about rows it
    // did not read, so its read predicate matches nothing and a concurrent
    // APPEND never conflicts — the new files simply stay uncompacted.
    // Genuine conflicts — a winner removing one of OUR input files
    // (concurrent DML/OPTIMIZE on the same files), or a
    // metadata/protocol/domain change (stale plan, stale row-id
    // watermark) — abort, and the staged rewrites are deleted.
    // Versioned bits (readVersion, row-id assignment) recompute per
    // attempt; the watermark BASE from `snap` stays valid because any
    // winner that moved it carries a DomainMetadata action, which aborts.
    def actionsAt(v: Long): Seq[Action] = {
      val (rtAdds, rtDomain) = RowTracking.assign(rtEnabled,
        RowTracking.highWaterMark(snap), adds, v)
      Seq(commitInfo.copy(readVersion = Some(v - 1))) ++
        metaActs ++ rtDomain ++ rtAdds ++ removes
    }
    log.optimisticCommit(Some(snap), actionsAt, _ => false, staged = adds.map(_.path))
    (snap.activeFiles.size, snap.activeFiles.size - removes.size + adds.size)
  }

  /** Interleaved-bit z-value over quantile buckets: each column maps to
    * a `bits`-bit bucket id via its own approx-quantile boundaries
    * (skew-robust, unlike min/max-uniform buckets), then bucket bits
    * interleave so locality is preserved in every dimension. The
    * boundary arrays are tiny driver-side literals; the per-row mapping
    * is a codegen'd array-filter count — one narrow projection, no
    * shuffle beyond the range partition the rewrite needs anyway. */
  private[delta] def zValueColumn(
      df: org.apache.spark.sql.DataFrame,
      cols: Seq[String],
      bits: Int = 8): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val nBuckets = 1 << bits
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    val buckets: Seq[org.apache.spark.sql.Column] = cols.map { c =>
      val bnds = df.stat.approxQuantile(c, probs, 0.01)
      val arr = array(bnds.toSeq.map(lit): _*)
      // bucket id = #boundaries ≤ value (0..nBuckets-1); nulls → bucket 0
      size(filter(arr, b => b <= col(c).cast("double"))).cast("long")
    }
    val k = cols.size
    val terms = for {
      (b, j) <- buckets.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), i * k + (k - 1 - j))
    terms.reduce(_ + _) // disjoint bit positions: sum == bitwise OR
  }

  /** Log-retention cleanup — the `_delta_log` twin of vacuum (delta's
    * `delta.logRetentionDuration`). Deletes commit JSONs and checkpoint
    * files that are BOTH superseded by a newer checkpoint (replay never
    * needs them: snapshots start from the newest checkpoint ≤ the pinned
    * version) and older than the retention window by file mtime. Time
    * travel to cleaned versions stops working — that is the documented
    * contract, and the reason a retention window exists at all.
    *
    * Keeps, always: every commit > the newest checkpoint, the newest
    * checkpoint itself (all parts), and `_last_checkpoint`. Returns the
    * deleted (or, with dryRun, deletable) log-file names. Driver-side
    * deletes: the log directory is control-plane-sized (bounded by the
    * checkpoint interval × retention), never 100 TB. */
  /** Parse delta's duration-property encoding ("interval 30 days",
    * "interval 12 hours", bare "7 days") into hours; None (→ caller
    * fallback) on anything unrecognized rather than a guessed unit. */
  private[graft] def parseRetentionHours(s: String): Option[Double] = {
    val Re = """(?i)\s*(?:interval\s+)?(\d+)\s*(days?|hours?|weeks?)\s*""".r
    s match {
      case Re(n, unit) => unit.toLowerCase match {
        case u if u.startsWith("day") => Some(n.toDouble * 24)
        case u if u.startsWith("hour") => Some(n.toDouble)
        case u if u.startsWith("week") => Some(n.toDouble * 168)
        case _ => None
      }
      case _ => None
    }
  }

  /** `ignoreRetention = true` is the DROP FEATURE … TRUNCATE HISTORY
    * mode: truncation is the POINT of that command, so neither the
    * table's `delta.logRetentionDuration` property nor the file-mtime
    * age filter may veto it — otherwise the drop would commit the
    * downgraded protocol while feature-bearing commits stay
    * time-travelable, and a feature-unaware reader could misread them.
    * Regular retention cleanup never sets it. */
  def cleanupLog(
      spark: SparkSession,
      path: String,
      retentionHours: Double = 720.0,
      dryRun: Boolean = true,
      ignoreRetention: Boolean = false): Seq[String] = {
    val log = DeltaLog.forTable(spark, path)
    val cps = log.listCheckpointVersions
    // the delta.logRetentionDuration table property is the authority
    // when present (the delta-spark contract — log retention is a table
    // attribute, not a caller choice); the parameter is the fallback
    val tableConfig = log.snapshot(None).metadata.configuration
    val effectiveHours = tableConfig
      .get("delta.logRetentionDuration").flatMap(parseRetentionHours)
      .getOrElse(retentionHours)
    val cutoff =
      if (ignoreRetention) Long.MaxValue
      else System.currentTimeMillis() - (effectiveHours * 3600 * 1000).toLong
    val fs = log.fs
    val CommitRe = """(\d{20})\.json""".r
    val CpRe = """(\d{20})\.checkpoint(\..*)?\.parquet""".r
    val V2JsonRe = """(\d{20})\.checkpoint\.[0-9a-fA-F-]{36}\.json""".r
    val V2AnyRe = """(\d{20})\.checkpoint\.[0-9a-fA-F-]{36}\.(?:parquet|json)""".r
    // version checksums (ours or delta-spark's) age out WITH their commit
    val CrcRe = """(\d{20})\.crc""".r
    val allLog = fs.listStatus(log.logPath).toSeq
    // Crash debris: LogStore's content-atomic publish and the checkpoint
    // writers stage hidden `.<name>.tmp-<uuid8>` files
    // (`LogStore.tempName`); a crash between staging and publish leaves
    // them forever (the commit/checkpoint regexes below never
    // match, orphan vacuum skips hidden trees). Sweep them once aged past
    // the retention window — a LIVE temp is mid-publish (seconds old) and
    // survives any sane retention.
    val TmpRe = """\..*\.tmp-[0-9a-fA-F]{8}""".r
    val agedTmps = allLog.iterator.filter { st =>
      TmpRe.pattern.matcher(st.getPath.getName).matches() &&
        st.getModificationTime < cutoff
    }.map(_.getPath).toSeq
    if (cps.isEmpty) { // nothing supersedes the JSON tail; tmps still go
      if (!dryRun) agedTmps.foreach(p => fs.delete(p, false))
      return agedTmps.map(_.getName).sorted
    }
    val keepFrom = cps.max
    val candidates = allLog.iterator.filter { st =>
      val old = st.getModificationTime < cutoff
      st.getPath.getName match {
        case CommitRe(v) => v.toLong < keepFrom && old
        case CpRe(v, _) => v.toLong < keepFrom && old
        case V2JsonRe(v) => v.toLong < keepFrom && old
        case CrcRe(v) => v.toLong < keepFrom && old
        case _ => false
      }
    }.map(_.getPath).toSeq
    // checkpointProtection (Delta 4.x, VERDICT r15 #5): versions below
    // delta.requireCheckpointProtectionBeforeVersion are protected from
    // PARTIAL truncation — cleanup is allowed only when its surviving
    // checkpoint boundary (keepFrom) has reached the protected version,
    // i.e. the whole protected range goes in one pass with a checkpoint
    // at (or past) the boundary — the protocol's escape hatch for
    // writers; a boundary inside the protected range refuses by name
    // (this applies to DROP FEATURE ... TRUNCATE HISTORY too: a
    // protection-carrying table's history must not half-vanish).
    val protectBefore = tableConfig
      .get("delta.requireCheckpointProtectionBeforeVersion")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .getOrElse(0L)
    if (keepFrom < protectBefore && candidates.nonEmpty)
      throw new IllegalStateException(
        s"checkpointProtection: table protects history below version " +
          s"$protectBefore (delta.requireCheckpointProtectionBeforeVersion) and " +
          s"the newest checkpoint is at $keepFrom — truncating inside the " +
          s"protected range is forbidden; write a checkpoint at version ≥ " +
          s"$protectBefore first, then clean up the range in one pass")
    // v2 sidecar GC: sidecars referenced by any SURVIVING top file stay
    // (the live checkpoint reads through them); the rest, aged past
    // retention, are orphans of superseded checkpoints. Classic-NAMED
    // checkpoints count as tops too — a compat-mode V2 checkpoint keeps
    // its sidecar refs under a classic name.
    val candidateNames = candidates.map(_.getName).toSet
    val survivingTops = allLog.map(_.getPath).filter(p => p.getName match {
      case V2AnyRe(_) => !candidateNames.contains(p.getName)
      case CpRe(_, _) => !candidateNames.contains(p.getName)
      case _ => false
    })
    val referenced: Set[String] =
      survivingTops.flatMap(t => log.v2SidecarRefs(t)).toSet
    val sidecarDir = new org.apache.hadoop.fs.Path(log.logPath, "_sidecars")
    val orphanSidecars =
      if (!fs.exists(sidecarDir)) Nil
      else fs.listStatus(sidecarDir).toSeq
        .filter(st => st.getModificationTime < cutoff &&
          !referenced.contains(st.getPath.getName))
        .map(_.getPath)
    val all = candidates ++ orphanSidecars ++ agedTmps
    if (!dryRun) all.foreach(p => fs.delete(p, false))
    all.map(p =>
      if (p.getParent.getName == "_sidecars") s"_sidecars/${p.getName}"
      else p.getName).sorted
  }
}
