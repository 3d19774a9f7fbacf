package graft.streaming

import graft.delta.{AddFile, DeltaLog, DeltaRead, RemoveFile}
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.types.StructType

/** `spark.readStream.format("graft").load(path)` — a Structured
  * Streaming source over the Delta transaction-log tail. Offsets are log
  * versions; each micro-batch is the set of dataChange `add` files
  * committed in `(start, end]`, read through the ordinary vectorized
  * parquet scan. Deterministic replay: a batch is a pure function of the
  * log, so checkpoint recovery re-reads identical data.
  *
  * Options (case-insensitive):
  *  - `startingVersion` — first commit to stream (`"latest"` = only new
  *    commits; default 0, i.e. the table's whole history of appends)
  *  - `ignoreChanges`   — tolerate data-changing removes
  *    (overwrite/DELETE/UPDATE/MERGE rewrites); their `add` side streams,
  *    so downstream may see rewritten rows again (delta-spark contract).
  *    Without it a non-append commit fails the stream loudly.
  *  - `skipChangeCommits` — skip data-changing commits WHOLESALE (their
  *    adds are rewritten old rows, not new data) — the delta-spark
  *    appends-only contract; takes precedence over `ignoreChanges`.
  *  - `changeFeed` — CDC mode: rows carry `_change_type`
  *    ('insert' | 'delete') and `_commit_version`. Deletion-vector
  *    commits emit exactly the soft-deleted rows (the `newDV ∖ oldDV`
  *    bitmap diff, graft.delta.ChangeFeed) as deletes and any appended
  *    files as inserts — no ignoreChanges needed for DV DML. Rewrite
  *    commits still surface only their add side (append-CDC stance)
  *    and keep requiring ignoreChanges/skipChangeCommits.
  *  - `maxVersionsPerTrigger` — bound how many commits one micro-batch
  *    covers (backfill pacing).
  *  - `maxFilesPerTrigger` — bound how many data FILES one micro-batch
  *    reads, splitting a large commit across batches when needed (a
  *    10k-file backfill commit must not become one giant batch).
  *    Offsets become `{"v":L,"k":n}` — commits ≤ L fully served plus
  *    the first n eligible adds of L+1; plain-long offsets from older
  *    checkpoints keep parsing (k=0). Ignored in changeFeed mode (a
  *    commit's change semantics never split).
  *  - `maxBytesPerTrigger` — same admission control budgeted on the
  *    adds' log-carried sizes instead of their count (file counts are a
  *    crude proxy when sizes vary 1 MB–1 GB); a batch always admits at
  *    least one file so the stream can never stall on an oversized
  *    file. Composes with maxFilesPerTrigger (both bounds hold).
  *  - `availableNow` — bounded backfill: the stream serves the table
  *    only up to its head version AT SUBSCRIPTION TIME (source
  *    construction), in as many admission-paced micro-batches as the
  *    per-trigger limits dictate, then reports no further offsets —
  *    `processAllAvailable()` returns once the backfill is drained and
  *    commits landing after subscription are never served. This is the
  *    "drain the table as of now, then stop" batch-backfill contract of
  *    `Trigger.AvailableNow`, expressed as a source option so pacing
  *    still applies (the DSv1 AvailableNow wrapper takes one snapshot
  *    offset up front, which would collapse the whole backfill into a
  *    single giant batch and defeat maxFiles/BytesPerTrigger).
  *
  * Scale: per trigger only the JSON commits past the cursor are parsed
  * (bounded by checkpoint cadence for any reasonable lag); file scans
  * cover exactly the new files. OPTIMIZE rewrites (dataChange=false) are
  * skipped — compaction never re-streams the table.
  */
class GraftStreamSource(
    sqlContext: SQLContext,
    path: String,
    options: Map[String, String]) extends Source {

  private val spark = sqlContext.sparkSession
  private def log = DeltaLog.forTable(spark, path)
  private def opt(key: String): Option[String] =
    options.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }

  /** Schema and the log version it was captured at. Commits ≤ this
    * version are already reflected in the schema (backfill replays them
    * with schema-evolution read semantics: absent columns read as null);
    * a metadata change AFTER it invalidates the running stream. */
  private val initSnap: graft.delta.Snapshot = log.snapshot(None)
  private val (initSchema, schemaVersion): (StructType, Long) =
    (initSnap.schema, initSnap.version)
  override val schema: StructType =
    if (opt("changeFeed").exists(_.toBoolean))
      StructType(initSchema.fields :+
        org.apache.spark.sql.types.StructField(
          graft.delta.ChangeFeed.ChangeTypeCol,
          org.apache.spark.sql.types.StringType, nullable = false) :+
        org.apache.spark.sql.types.StructField(
          graft.delta.ChangeFeed.CommitVersionCol,
          org.apache.spark.sql.types.LongType, nullable = false) :+
        org.apache.spark.sql.types.StructField(
          graft.delta.ChangeFeed.CommitTimestampCol,
          org.apache.spark.sql.types.TimestampType, nullable = false))
    else initSchema

  private val ignoreChanges = opt("ignoreChanges").exists(_.toBoolean)
  private val skipChangeCommits = opt("skipChangeCommits").exists(_.toBoolean)
  private val changeFeed = opt("changeFeed").exists(_.toBoolean)
  private val maxVersionsPerTrigger = opt("maxVersionsPerTrigger").map(_.toLong)
  private val maxFilesPerTrigger: Option[Long] =
    opt("maxFilesPerTrigger").map(_.toLong).filterNot(_ => changeFeed)
  private val maxBytesPerTrigger: Option[Long] =
    opt("maxBytesPerTrigger").map(_.toLong).filterNot(_ => changeFeed)

  /** Backfill ceiling under `availableNow`: the head version captured at
    * source construction. The schema snapshot above reads the same head,
    * so the whole backfill replays under one schema — a post-subscription
    * schema change can't abort the drain (it is simply never reached). */
  private val availableNowCeiling: Option[Long] =
    if (opt("availableNow").exists(_.toBoolean)) Some(schemaVersion) else None

  /** File-granular stream position: commits ≤ `v` fully served, plus the
    * first `k` eligible adds of commit v+1. k=0 is the canonical commit
    * boundary and serializes as a legacy plain-long offset, so
    * checkpoints stay interchangeable until a partial commit occurs. */
  private[streaming] case class FilePos(v: Long, k: Long) extends Offset {
    override def json: String = if (k == 0L) v.toString else s"""{"v":$v,"k":$k}"""
  }
  private object FilePos {
    def parse(o: Offset): FilePos = o match {
      case fp: FilePos => fp
      case LongOffset(v) => FilePos(v, 0L)
      case other =>
        val s = other.json.trim
        if (s.startsWith("{")) {
          val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
          FilePos(node.get("v").asLong(), node.get("k").asLong())
        } else FilePos(s.toLong, 0L)
    }
  }
  private implicit val filePosOrdering: Ordering[FilePos] =
    Ordering.by(fp => (fp.v, fp.k))

  /** Eligible (streamable) adds of one commit, in action order — the
    * unit admission control and batch slicing count in. Commits are
    * immutable, so the per-file sizes memoize. */
  private[streaming] val eligibleSizesCache =
    scala.collection.concurrent.TrieMap.empty[Long, IndexedSeq[Long]]
  private def eligibleAdds(actions: Seq[graft.delta.Action]): Seq[AddFile] = {
    val changed = actions.exists {
      case r: RemoveFile if r.dataChange => true
      case _ => false
    }
    if (changed && skipChangeCommits) Nil
    else actions.collect { case a: AddFile if a.dataChange => a }
  }
  private def eligibleSizes(v: Long): IndexedSeq[Long] =
    eligibleSizesCache.getOrElseUpdate(v,
      eligibleAdds(log.readCommitActions(v)).map(_.size).toIndexedSeq)

  /** Versions ≤ this are excluded from the stream. `startingTimestamp`
    * resolves on the SAME per-commit clock as time travel (the monotonic
    * in-commit timestamp when the table carries one): the stream begins
    * at the first commit whose clock is at or after the bound. */
  private val startExclusive: Long = (opt("startingVersion"), opt("startingTimestamp")) match {
    case (Some(_), Some(_)) =>
      throw new IllegalArgumentException(
        "Set startingVersion OR startingTimestamp, not both")
    case (Some(v), None) if v.equalsIgnoreCase("latest") => log.latestVersion
    case (Some(v), None) => v.toLong - 1
    case (None, Some(ts)) =>
      val bound = graft.delta.DeltaRead.parseTimestampMillis(ts)
      log.commitTimestamps.filter(_._2 >= bound).map(_._1).minOption
        .map(_ - 1)
        .getOrElse(log.latestVersion) // nothing at/after the bound: only new commits
    case (None, None) => -1L
  }

  /** Highest position already handed out via getBatch (advances on
    * recovery replay too, keeping rate-limited getOffset monotonic). */
  @volatile private var servedThrough: FilePos = FilePos(startExclusive, 0L)

  override def getOffset: Option[Offset] = {
    val latestAll = availableNowCeiling match {
      case Some(head) => head // bounded backfill: never look past subscription
      case None => log.latestVersion
    }
    val cur = filePosOrdering.max(servedThrough, FilePos(startExclusive, 0L))
    val latest = maxVersionsPerTrigger match {
      case Some(m) => math.min(latestAll, cur.v + m)
      case None => latestAll
    }
    val next = (maxFilesPerTrigger, maxBytesPerTrigger) match {
      case (None, None) => FilePos(latest, 0L)
      case (fLim, bLim) =>
        // walk pending files spending both budgets; zero-eligible
        // commits advance for free, an oversized commit splits, and the
        // FIRST file always admits so an oversized file can't stall
        var lastFull = cur.v
        var extra = cur.k
        var files = fLim.getOrElse(Long.MaxValue)
        var bytes = bLim.getOrElse(Long.MaxValue)
        var admitted = 0L
        var full = false
        while (!full && lastFull < latest) {
          val sizes = eligibleSizes(lastFull + 1)
          var i = extra
          while (!full && i < sizes.length) {
            val sz = sizes(i.toInt)
            if (files >= 1 && (bytes >= sz || admitted == 0)) {
              files -= 1; bytes -= sz; admitted += 1; i += 1
            } else full = true
          }
          if (!full) { lastFull += 1; extra = 0L } else extra = i
        }
        FilePos(lastFull, extra)
    }
    if (filePosOrdering.lteq(next, FilePos(startExclusive, 0L)) ||
        filePosOrdering.lteq(next, cur)) None
    else Some(next)
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(FilePos.parse).getOrElse(FilePos(startExclusive, 0L))
    val to = FilePos.parse(end)
    servedThrough = filePosOrdering.max(servedThrough, to)
    // commits ≤ servedThrough.v are fully served and never re-planned —
    // drop their memoized size vectors so a long-running stream's cache
    // stays bounded by the in-flight window (commit v+1 may be partially
    // served and keeps its entry)
    eligibleSizesCache.keys.filter(_ <= servedThrough.v)
      .foreach(eligibleSizesCache.remove)
    if (changeFeed) {
      require(from.k == 0L && to.k == 0L,
        "changeFeed offsets are version-granular; found a mid-commit position " +
          s"(from=$from, to=$to) — was the checkpoint written with maxFilesPerTrigger " +
          "in append mode?")
      getChangeFeedBatch(from.v, to.v)
    } else getAppendBatch(from, to)
  }

  /** A mergeSchema append (or any metadata rewrite) AFTER the captured
    * snapshot changes the table schema mid-stream; new files would be
    * read with the stale schema, silently dropping the new columns.
    * Fail loudly instead — restarting the stream picks up the new
    * schema (same contract as delta-spark). Commits ≤ schemaVersion are
    * backfill and already reflected in the captured schema.
    *
    * Comparison strips VOLATILE per-field metadata first: every
    * identity-allocating append commits a MetadataAction that differs
    * only in delta.identity.highWaterMark — bookkeeping that changes how
    * the NEXT writer allocates, not how any existing file reads. Without
    * the strip, a running stream over an identity table would abort
    * spuriously after each allocating append. Metadata that does affect
    * reads (column-mapping ids/physical names, generation expressions)
    * still participates via full equality of the stripped schemas. */
  private def stripVolatileFieldMetadata(s: StructType): StructType = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType}
    def stripType(dt: DataType): DataType = dt match {
      case st: StructType => stripVolatileFieldMetadata(st)
      case ArrayType(et, n) => ArrayType(stripType(et), n)
      case MapType(k, v, n) => MapType(stripType(k), stripType(v), n)
      case other => other
    }
    StructType(s.fields.map { f =>
      val cleaned = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .remove("delta.identity.highWaterMark")
        .build()
      f.copy(metadata = cleaned, dataType = stripType(f.dataType))
    })
  }
  private lazy val initSchemaStable = stripVolatileFieldMetadata(initSchema)
  private def checkSchemaStable(v: Long, actions: Seq[graft.delta.Action]): Unit =
    if (v > schemaVersion) actions.collectFirst {
      case m: graft.delta.MetadataAction
        if stripVolatileFieldMetadata(m.schema) != initSchemaStable => m
    }.foreach { m =>
      throw new IllegalStateException(
        s"Commit $v of $path changes the table schema from ${initSchema.simpleString} " +
          s"to ${m.schema.simpleString}. Restart the stream to pick up the new schema.")
    }

  private def getAppendBatch(from: FilePos, to: FilePos): DataFrame = {
    // the batch covers (from, to] at FILE granularity: the unserved tail
    // of commit from.v+1, every commit in between, and the first to.k
    // eligible adds of commit to.v+1
    def commitAdds(v: Long): Seq[AddFile] = {
      val actions = log.readCommitActions(v)
      checkSchemaStable(v, actions)
      val changed = actions.exists {
        case r: RemoveFile if r.dataChange => true
        case _ => false
      }
      if (changed && skipChangeCommits)
        // delta-spark's skipChangeCommits: a commit that rewrites data
        // contributes NOTHING to the stream (its adds are rewritten old
        // rows, not new data) — appends-only consumers skip it wholesale
        Seq.empty[AddFile]
      else {
        if (changed && !ignoreChanges) throw new IllegalStateException(
          s"Commit $v of $path removes data (overwrite/DELETE/UPDATE/MERGE). " +
            "Streaming a non-append table requires ignoreChanges=true " +
            "(re-emit rewritten rows), skipChangeCommits=true (skip such " +
            "commits entirely), or changeFeed=true (emit per-row changes).")
        actions.collect { case a: AddFile if a.dataChange => a }
      }
    }
    val adds: Seq[AddFile] =
      if (from.v == to.v) {
        if (to.k <= from.k) Nil
        else commitAdds(from.v + 1).slice(from.k.toInt, to.k.toInt)
      } else {
        commitAdds(from.v + 1).drop(from.k.toInt) ++
          ((from.v + 2) to to.v).flatMap(commitAdds) ++
          (if (to.k == 0L) Nil else commitAdds(to.v + 1).take(to.k.toInt))
      }
    if (adds.isEmpty)
      org.apache.spark.sql.graft.StreamingBridge.emptyStreamingBatch(spark, schema)
    else {
      // A DV-carrying add re-emitted under ignoreChanges must not leak
      // its soft-deleted rows — apply the bitmap exactly like batch scans
      DeltaRead.scan(spark, path, initSnap.metadata, adds,
        graft.delta.DeletionVectors.dvByteMap(
          spark, new org.apache.hadoop.fs.Path(path), adds), streaming = true)
    }
  }

  /** CDC batches: one frame per version carrying inserts (plain
    * dataChange adds) and deletes (DV bitmap diffs, graft.delta
    * .ChangeFeed). A DV supersede's remove is fully expressed by the
    * diff; any OTHER dataChange remove is a rewrite, which this
    * append-CDC feed cannot express per-row — the usual
    * ignoreChanges/skipChangeCommits escape hatches apply to those. */
  private def getChangeFeedBatch(from: Long, to: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    // a change-feed batch replays COMMIT JSONs (from, to] — if any were
    // removed underneath a subscribed stream (log-retention cleanup or
    // DROP FEATURE … TRUNCATE HISTORY), the feed for those versions is
    // unreconstructable. Name the condition instead of surfacing a
    // downstream FileNotFoundException mid-plan.
    {
      val have = log.listCommitVersions.toSet
      val missing = ((from + 1) to to).filterNot(have)
      if (missing.nonEmpty)
        throw new IllegalStateException(
          s"GraftStreamSource[changeFeed] at $path: checkpoint offset $from predates " +
            s"the retained log — commit(s) ${missing.mkString(", ")} no longer exist " +
            "(log retention cleanup or DROP FEATURE … TRUNCATE HISTORY ran since the " +
            "last trigger). The change feed for those versions cannot be " +
            "reconstructed; restart the stream with a fresh checkpoint " +
            "(startingVersion at or after the truncation point).")
    }
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def scan(files: Seq[AddFile]) =
      DeltaRead.scan(spark, path, initSnap.metadata, files, streaming = true)
    def scanDeleteCarriers(files: Seq[AddFile]) =
      DeltaRead.scan(spark, path, initSnap.metadata, files, keepMeta = true, streaming = true)
    val commits = ((from + 1) to to).map { v =>
      val actions = log.readCommitActions(v)
      checkSchemaStable(v, actions)
      v -> actions
    }
    // batched DV-diff loading across the whole batch range (a wide
    // backfill batch over a DV-heavy history plans in one Spark job)
    val plans = graft.delta.ChangeFeed.planRange(spark, root, commits)
      .map(p => p.version -> p).toMap
    val frames: Seq[DataFrame] = commits.flatMap { case (v, actions) =>
      val plan = plans(v)
      if (plan.cdcFiles.nonEmpty) {
        // a CDF writer recorded this commit's exact row changes — serve
        // them exclusively; no rewrite guard applies (the cdc files ARE
        // the per-row expression of the rewrite)
        Seq(DeltaRead.scanCdc(spark, path, initSnap.metadata, plan.cdcFiles, streaming = true)
          .withColumn(graft.delta.ChangeFeed.CommitVersionCol, lit(v))
          .withColumn(graft.delta.ChangeFeed.CommitTimestampCol,
            lit(graft.delta.ChangeFeed.commitTimestamp(fs, log.commitFile(v), actions))))
      } else {
      val dvReadds = actions.collect {
        case a: AddFile if a.dataChange && a.deletionVector.isDefined => a.path
      }.toSet
      val rewrite = actions.exists {
        case r: RemoveFile if r.dataChange && !dvReadds.contains(r.path) => true
        case _ => false
      }
      if (rewrite && skipChangeCommits) Nil
      else {
        if (rewrite && !ignoreChanges) throw new IllegalStateException(
          s"Commit $v of $path rewrites data files (overwrite/rewrite DML); the " +
            "change feed can only express deletion-vector commits per-row. Use " +
            "ignoreChanges=true (rewritten rows re-emit as inserts) or " +
            "skipChangeCommits=true, or run DML in the deletion-vector flavor.")
        val ts = graft.delta.ChangeFeed.commitTimestamp(fs, log.commitFile(v), actions)
        val inserts =
          if (plan.insertFiles.isEmpty) None
          else Some(scan(plan.insertFiles)
            .withColumn(graft.delta.ChangeFeed.ChangeTypeCol, lit("insert"))
            .withColumn(graft.delta.ChangeFeed.CommitVersionCol, lit(v))
            .withColumn(graft.delta.ChangeFeed.CommitTimestampCol, lit(ts)))
        val deletes =
          if (plan.deleteCarriers.isEmpty) None
          else Some(
            graft.delta.DeletionVectors.selectDeleted(
              scanDeleteCarriers(plan.deleteCarriers), plan.deleteDiffs)
              .select(initSchema.fieldNames.map(
                org.apache.spark.sql.functions.col).toIndexedSeq: _*)
              .withColumn(graft.delta.ChangeFeed.ChangeTypeCol, lit("delete"))
              .withColumn(graft.delta.ChangeFeed.CommitVersionCol, lit(v))
              .withColumn(graft.delta.ChangeFeed.CommitTimestampCol, lit(ts)))
        inserts.toSeq ++ deletes.toSeq
      }
      }
    }
    if (frames.isEmpty)
      org.apache.spark.sql.graft.StreamingBridge.emptyStreamingBatch(spark, schema)
    else frames.reduce(_ unionByName _)
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftStreamSource[$path]"
}
