package graft.delta

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.graft.LogParquet
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets
import scala.collection.mutable
import scala.io.Source
import scala.util.control.NonFatal

/** A snapshot of a Delta table pinned at `version`.
  *
  * Equivalent of the delta-rs snapshot the reference builds in
  * DeltaTableWrapper.__init__ (reference core.py:50-57): active file set +
  * latest metaData/protocol at-or-before the pinned version, plus the
  * tombstone set (needed by vacuum, core.py:121-141).
  */
final case class Snapshot(
    version: Long,
    metadata: MetadataAction,
    protocol: Protocol,
    activeFiles: Seq[AddFile],
    tombstones: Seq[RemoveFile],
    setTransactions: Seq[SetTransaction] = Nil,
    domainMetadata: Map[String, String] = Map.empty
) {
  def schema: StructType = metadata.schema
  def partitionColumns: Seq[String] = metadata.partitionColumns
}

final case class LastCheckpoint(version: Long, size: Long, parts: Option[Int])

/** Delta transaction-log reader/writer.
  *
  * This is the engine the reference outsources to delta-rs (Rust): list
  * `_delta_log/`, bound replay with `_last_checkpoint` + parquet
  * checkpoints, apply newer JSON commits, reconcile add/remove, pin
  * version/timestamp, and commit new versions atomically
  * (reference core.py:50-56, writer.py:295-313).
  *
  * Scale design: checkpoint parquet (potentially millions of add actions at
  * 100 TB) streams through Spark's parquet reader on the driver (the rows
  * end there anyway, so a Spark job would only add scheduling and
  * serialization), and the JSON tail between checkpoints is bounded by
  * the checkpoint interval, so driver-side state stays O(active files) —
  * the same planning-time cost delta-spark itself pays. Partition pruning happens against
  * `add.partitionValues` *before* any scan is constructed, so pruned files
  * are never listed, planned, or opened (SURVEY.md §2 ⑦).
  */
class DeltaLog(val spark: SparkSession, val tablePath: String) {
  import DeltaLog._

  private val hconf = spark.sessionState.newHadoopConf()
  val logPath = new Path(tablePath, "_delta_log")
  def fs: FileSystem = logPath.getFileSystem(hconf)

  def tableExists: Boolean =
    fs.exists(logPath) && listCommitVersions.nonEmpty

  /** One `_delta_log` listing, counted — the cache-hit cost unit the
    * scale pins assert on. Missing directory → empty. */
  private def listLogStatuses(): Seq[org.apache.hadoop.fs.FileStatus] = {
    DeltaLog.logListCount.incrementAndGet()
    try fs.listStatus(logPath).toSeq
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** Versions of JSON commit files present in the log directory. */
  def listCommitVersions: Seq[Long] =
    listLogStatuses()
      .iterator
      .map(_.getPath.getName)
      .collect { case CommitFileRe(v) => v.toLong }
      .toSeq
      .sorted

  /** Checkpoint versions in a log-directory listing: classic
    * single-file, multi-part (`N.checkpoint.i.n.parquet`) when every
    * declared part exists, and V2 uuid-named. Only regular files count: a
    * directory under a checkpoint's name is no checkpoint, and must not
    * move the table's head past its last commit. */
  private def checkpointVersionsIn(statuses: Seq[org.apache.hadoop.fs.FileStatus]): Seq[Long] = {
    val names = statuses.filter(_.isFile).map(_.getPath.getName)
    val single = names.collect { case CheckpointFileRe(v) => v.toLong }
    val multi = names
      .collect { case MultiPartCheckpointRe(v, _, n) => (v.toLong, n.toInt) }
      .groupBy(identity)
      .collect { case ((v, n), parts) if parts.size == n => v }
    val v2 = names.collect { case V2CheckpointFileRe(v, _, _) => v.toLong }
    (single ++ multi ++ v2).distinct.sorted
  }

  /** Checkpoint versions present: classic single-file, multi-part
    * (`N.checkpoint.i.n.parquet`) when every declared part exists, and
    * V2 uuid-named (`N.checkpoint.<uuid>.parquet|json`). */
  def listCheckpointVersions: Seq[Long] =
    checkpointVersionsIn(listLogStatuses())

  /** V2 top-level checkpoint files for `v` (several uuids possible when
    * writers raced — any one is a complete, equivalent checkpoint). */
  private[delta] def v2CheckpointFiles(v: Long): Seq[Path] =
    if (!fs.exists(logPath)) Nil
    else fs.listStatus(logPath).iterator.map(_.getPath).filter(_.getName match {
      case V2CheckpointFileRe(cv, _, _) => cv.toLong == v
      case _ => false
    }).toSeq.sortBy(_.getName)

  /** All parquet files making up the checkpoint at `v` (1 or N parts). */
  def checkpointPartFiles(v: Long): Seq[Path] = {
    val single = checkpointFile(v)
    if (fs.exists(single)) Seq(single)
    else
      fs.listStatus(logPath)
        .iterator
        .map(_.getPath)
        .filter(p => p.getName match {
          case MultiPartCheckpointRe(cv, _, _) => cv.toLong == v
          case _ => false
        })
        .toSeq
        .sortBy(_.getName)
  }

  /** Torn-read tolerant: `_last_checkpoint` is rewritten by every
    * checkpointing writer, so a concurrent reader can catch an
    * empty/partial body (or lose the exists→open race). The pointer is
    * an OPTIMIZATION — any unreadable state falls back to listed
    * checkpoints / JSON replay with a WARN, never an error. */
  def readLastCheckpoint(): Option[LastCheckpoint] =
    try {
      val p = new Path(logPath, "_last_checkpoint")
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val txt =
          try Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
        if (node == null || node.get("version") == null) {
          DeltaLog.logger.warn(
            s"_last_checkpoint in $logPath is torn/unparsable ('${txt.take(80)}') — " +
              "likely a concurrent checkpoint write; falling back to listed checkpoints")
          None
        } else Some(
          LastCheckpoint(
            node.get("version").asLong(),
            if (node.has("size")) node.get("size").asLong() else -1L,
            if (node.has("parts") && !node.get("parts").isNull) Some(node.get("parts").asInt())
            else None
          ))
      }
    } catch {
      case e: java.io.IOException =>
        DeltaLog.logger.warn(
          s"_last_checkpoint in $logPath unreadable (${e.getMessage}) — " +
            "falling back to listed checkpoints")
        None
    }

  def latestVersion: Long = {
    // one listing, not two — this sits in every commit-retry loop
    val statuses = listLogStatuses()
    val vs = statuses.map(_.getPath.getName).collect { case CommitFileRe(v) => v.toLong }
    val cps = checkpointVersionsIn(statuses)
    if (vs.isEmpty && cps.isEmpty)
      throw new IllegalArgumentException(s"Not a Delta table (no commits): $tablePath")
    (vs ++ cps).max
  }

  /** Commit timestamps for timestamp time travel. The reference (delta-rs
    * 0.6.4) keys on log-file mtime; we use commitInfo.timestamp — the
    * protocol-sanctioned clock — falling back to file modification time
    * when a commit carries no commitInfo (SURVEY.md §2 ③). */
  def commitTimestamps: Seq[(Long, Long)] =
    listCommitVersions.map { v =>
      // the in-commit clock (monotonic by construction) is authoritative
      // over the commitInfo wall clock, which beats the file mtime
      val ts = commitInfoOf(v).map(ci => ci.inCommitTimestamp.getOrElse(ci.timestamp))
        .getOrElse(fs.getFileStatus(commitFile(v)).getModificationTime)
      (v, ts)
    }

  /** Commit files whose commitInfo this instance has parsed — test
    * instrumentation pinning history's limit pushdown. */
  private[delta] var commitInfoReads: Int = 0

  /** Parse ONLY the commitInfo line of a commit (one line per file) —
    * timestamp travel and history must not pay for parsing every add
    * action of every commit. */
  def commitInfoOf(v: Long): Option[CommitInfo] = {
    commitInfoReads += 1
    val in = fs.open(commitFile(v))
    val lines =
      try Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    lines.iterator
      .filter(_.contains("\"commitInfo\""))
      .flatMap(ActionCodec.fromJsonLine)
      .collectFirst { case c: CommitInfo => c }
  }

  /** Latest version created at or before the timestamp. A timestamp
    * before the first commit clamps to the earliest version — the
    * reference's behavior (delta-rs 0.6.4, exercised by
    * tests/test_core.py:173-199 with a pre-log datetime expecting v0). */
  def versionAtOrBefore(timestampMillis: Long): Long = {
    val ts = commitTimestamps
    if (ts.isEmpty)
      throw new IllegalArgumentException(s"No commits in $tablePath")
    val eligible = ts.filter(_._2 <= timestampMillis).map(_._1)
    if (eligible.isEmpty) ts.map(_._1).min else eligible.max
  }

  def commitFile(v: Long): Path = new Path(logPath, f"$v%020d.json")
  def checkpointFile(v: Long): Path = new Path(logPath, f"$v%020d.checkpoint.parquet")

  def readCommitActions(v: Long): Seq[Action] = {
    DeltaLog.commitReadCount.incrementAndGet()
    val in = fs.open(commitFile(v))
    val lines =
      try Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    val actions = lines.filter(_.trim.nonEmpty).flatMap(ActionCodec.fromJsonLine)
    // a legal Delta commit always carries ≥1 action — an empty parse is
    // a torn/truncated body (or foreign corruption) and replaying it as
    // "no actions" would silently drop its effects from snapshots AND
    // from any checkpoint written off them (durable corruption). The
    // write side publishes all-or-nothing (LogStore temp+rename), so
    // this should never fire for our own writer; it guards foreign ones.
    if (actions.isEmpty)
      throw new IllegalStateException(
        s"Commit ${commitFile(v)} parses to ZERO actions — torn, truncated, " +
          "or corrupt; refusing to replay it as an empty commit")
    actions
  }

  /** Read a checkpoint parquet into actions, in-process on the driver
    * ([[LogParquet.read]]: no Spark job); only the action columns are read.
    * Multi-part checkpoints are validated against the part count declared
    * in the filenames (and `_last_checkpoint.parts` when it points here):
    * a missing part would otherwise silently drop that part's add actions
    * — an incomplete snapshot a later writeCheckpoint would persist. */
  def readCheckpointActions(v: Long): Seq[Action] = {
    DeltaLog.checkpointReadCount.incrementAndGet()
    val parts = checkpointPartFiles(v)
    if (parts.isEmpty) {
      val v2 = v2CheckpointFiles(v)
      if (v2.nonEmpty) return readV2CheckpointActions(v, v2.head)
    }
    require(parts.nonEmpty, s"No checkpoint files for version $v in $logPath")
    val declared: Set[Int] = parts.flatMap(_.getName match {
      case MultiPartCheckpointRe(_, _, n) => Some(n.toInt)
      case _ => None
    }).toSet
    if (declared.nonEmpty) {
      require(declared.size == 1,
        s"Inconsistent multi-part checkpoint for v$v in $logPath: declared part counts $declared")
      require(parts.length == declared.head,
        s"Incomplete multi-part checkpoint for v$v in $logPath: " +
          s"found ${parts.length} of ${declared.head} parts")
      readLastCheckpoint().filter(_.version == v).flatMap(_.parts).foreach { n =>
        require(parts.length == n,
          s"Checkpoint v$v in $logPath has ${parts.length} parts but _last_checkpoint declares $n")
      }
    }
    val parsed = readParquetActions(parts)
    // A classic-NAMED checkpoint can still be V2-structured — spec-valid
    // when the v2Checkpoint feature is set (delta-spark's compat mode
    // writes exactly this shape). The checkpointMetadata action is the
    // tell: add/remove actions may then live in sidecars, and replaying
    // only the inline actions would build a silently-wrong snapshot.
    if (parsed.exists(_.isInstanceOf[CheckpointMetadata]))
      resolveV2Actions(v, parts.map(_.getName).mkString(","), parsed)
    else parsed
  }

  /** Read a V2 (uuid-named) checkpoint: the top-level file carries the
    * non-file actions plus `checkpointMetadata` and `sidecar` refs; the
    * add/remove actions live in sidecar parquets under
    * `_delta_log/_sidecars/` (or inline when the writer chose to).
    * The declared checkpointMetadata.version must match — a top file
    * copied across versions would silently replay the wrong state. */
  private def readV2CheckpointActions(v: Long, top: Path): Seq[Action] = {
    val topActions: Seq[Action] =
      if (top.getName.endsWith(".json")) {
        val in = fs.open(top)
        val lines =
          try Source.fromInputStream(in, "UTF-8").getLines().toList
          finally in.close()
        lines.filter(_.trim.nonEmpty).flatMap(ActionCodec.fromJsonLine)
      } else readParquetActions(Seq(top))
    val cm = topActions.collectFirst { case c: CheckpointMetadata => c }
    require(cm.nonEmpty,
      s"V2 checkpoint ${top.getName} carries no checkpointMetadata action")
    resolveV2Actions(v, top.getName, topActions)
  }

  /** Resolve a V2-structured checkpoint's full action set from its
    * top-level actions: validate the declared version, load referenced
    * sidecars, and strip the structural actions. Shared by the uuid-named
    * V2 path and classic-named V2 checkpoints (compat mode). */
  private def resolveV2Actions(
      v: Long, name: String, topActions: Seq[Action]): Seq[Action] = {
    topActions.collectFirst { case c: CheckpointMetadata => c }.foreach { cm =>
      require(cm.version == v,
        s"V2 checkpoint $name declares version ${cm.version}, expected $v")
    }
    val sidecars = topActions.collect { case s: Sidecar => s }
    val sidecarActions: Seq[Action] =
      if (sidecars.isEmpty) Nil
      else {
        val dir = new Path(logPath, "_sidecars")
        val paths = sidecars.map { s =>
          val p = new Path(s.path)
          if (p.isAbsolute) p else new Path(dir, s.path)
        }
        paths.foreach(p => require(fs.exists(p),
          s"V2 checkpoint $name references missing sidecar $p"))
        readParquetActions(paths)
      }
    (topActions ++ sidecarActions).filter {
      case _: CheckpointMetadata | _: Sidecar => false
      case _ => true
    }
  }

  /** Sidecar file names referenced by a v2 top-level checkpoint file —
    * log-cleanup needs them to GC orphaned sidecars without touching
    * the live checkpoint's. */
  private[delta] def v2SidecarRefs(top: Path): Seq[String] = {
    if (top.getName.endsWith(".json")) {
      val in = fs.open(top)
      val lines =
        try Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      lines.filter(_.trim.nonEmpty).flatMap(ActionCodec.fromJsonLine)
        .collect { case s: Sidecar => new Path(s.path).getName }
    } else {
      // only the sidecar column is read — a classic-named top can be a
      // full-size checkpoint, and decoding its add actions here would cost
      // O(#files) driver memory per cleanup just to learn the (usually
      // empty) sidecar refs
      LogParquet.read(spark, Seq(top), Seq("sidecar")).flatMap { r =>
        Option(r.getStruct(0)).flatMap(strField(_, "path")).map(new Path(_).getName)
      }.toSeq
    }
  }

  // ---- snapshot cache: incremental tail replay (r14) -------------------
  /** Replay state retained across `snapshot()` calls, so a repeat query
    * of an unchanged table pays ONE `_delta_log` listing instead of a
    * full checkpoint + JSON-tail re-read, and a query after an append
    * applies exactly the new tail commits (delta-spark caches snapshots
    * per (path, session) the same way — at 1M-file width a cold replay
    * costs ~17 s of driver time PER QUERY without this).
    *
    * Stats are compacted AT INSERT (`compact = true`) with the keep-set
    * of the metadata in force when the file's action replays — the state
    * then retains the same < 200 B/file bound a built snapshot does
    * (holding raw verbose foreign stats would cost ~1 KB/file, a GB at
    * 1M files). Compaction only DROPS stats (kept bounds stay verbatim),
    * so pruning stays sound whichever metadata generation compacted a
    * file. Checkpoint writes need VERBATIM stats and therefore bypass
    * this state entirely (throwaway uncompacted full replay).
    * Guarded by the log's monitor. */
  private final class ReplayState(val compact: Boolean) {
    var version: Long = -1L
    // (len, mtime) of `version`'s commit file when the state last
    // advanced — a cheap staleness tripwire for foreign history surgery
    // (rm-rf + re-create landing on the same version). -1 = the version
    // had no commit JSON (checkpoint-only tail after log cleanup).
    var tailLen: Long = -1L
    var tailMtime: Long = -1L
    // the last N.crc file validated against this state, by (len, mtime) —
    // re-validation only when the sibling checksum file changes
    var crcLen: Long = -1L
    var crcMtime: Long = -1L
    val active = mutable.LinkedHashMap.empty[String, AddFile]
    val removed = mutable.LinkedHashMap.empty[(String, String), RemoveFile]
    val txns = mutable.LinkedHashMap.empty[String, SetTransaction]
    val domains = mutable.LinkedHashMap.empty[String, String]
    var metadata: Option[MetadataAction] = None
    var protocol: Protocol = Protocol()
    /** Built compactStats=true Snapshot at `version` (null = not built). */
    var built: Snapshot = null
    // per-metadata-generation stats keep-set, derived lazily
    private var keepForMeta: MetadataAction = null
    private var keepSet: String => Boolean = _ => true
    def statsKeep(): String => Boolean = metadata match {
      case Some(m) =>
        if (m ne keepForMeta) {
          val prefix = DeltaWrite.statsSchemaOf(
            m.schema, m.partitionColumns, m.configuration)
          // logical AND physical names: foreign writers key stats
          // physically under mapping, but a sloppy one may key logically
          keepSet = (prefix.fieldNames ++
            prefix.fields.map(DeltaRead.physicalNameOf)).toSet
          keepForMeta = m
        }
        keepSet
      case None => _ => true // adds before any metaData: keep verbatim
    }
  }
  private var replay: ReplayState = null

  /** Drop the retained replay state — foreign surgery on the log dir
    * that preserves (version, len, mtime) is otherwise undetectable. */
  def invalidateCache(): Unit = synchronized { replay = null }

  private def dvIdOf(d: Option[DeletionVectorDescriptor]): String =
    d.map(DeltaLog.dvUniqueId).getOrElse("")

  // With deletion vectors a path can have several INCARNATIONS (same
  // data file, different bitmap): reconciliation is keyed by
  // (path, DV uniqueId) — the protocol's logical-file identity. Each
  // commit (and the checkpoint) is reconciled as a BATCH, removes
  // before adds, because the protocol declares actions within a commit
  // unordered: a DV-supersede commit (remove old incarnation + re-add
  // with the union bitmap) must keep the new add active whichever order
  // a writer emitted the lines in, and a checkpoint's tombstones must
  // never cancel the reconciled adds beside them. A remove WITH a
  // descriptor evicts only the same incarnation; a remove WITHOUT one
  // (a foreign full-file delete that didn't copy the DV descriptor)
  // evicts the path outright — leaving it active would silently
  // resurrect deleted rows. Superseded incarnations' tombstones
  // survive for vacuum's DV-file reclamation.
  private def applyBatch(st: ReplayState, actions: Seq[Action]): Unit = {
    actions.foreach {
      case f: RemoveFile =>
        val rid = dvIdOf(f.deletionVector)
        if (f.deletionVector.isEmpty ||
            st.active.get(f.path).exists(a0 => dvIdOf(a0.deletionVector) == rid))
          st.active.remove(f.path)
        st.removed((f.path, rid)) = f
      case m: MetadataAction => st.metadata = Some(m)
      case p: Protocol => st.protocol = p
      // latest per appId — idempotent-writer state (e.g. streaming sinks)
      // must survive replay and checkpointing or writers re-apply batches
      case t: SetTransaction => st.txns(t.appId) = t
      // latest per domain; removed=true evicts (row tracking's id
      // watermark and any foreign system metadata ride these)
      case d: DomainMetadata =>
        if (d.removed) st.domains.remove(d.domain)
        else st.domains(d.domain) = d.configuration
      case _ => ()
    }
    actions.foreach {
      case f: AddFile =>
        st.removed.remove((f.path, dvIdOf(f.deletionVector)))
        // Bound the driver bytes retained per active file: verbose
        // foreign stats strings (pretty-printed logs, stats over
        // hundreds of non-indexed columns, unbounded string bounds)
        // canonicalize down to the indexed-column prefix. Our own
        // writer's stats are already minimal and skip this entirely
        // (CompactThreshold).
        st.active(f.path) = f.stats match {
          case Some(s) if st.compact && s.length > StatsPruning.CompactThreshold =>
            f.copy(stats = Some(StatsPruning.compactStats(s, st.statsKeep())))
          case _ => f
        }
      case _ => ()
    }
  }

  /** Build the snapshot at `version` (None = latest).
    *
    * `compactStats = false` retains every add's stats string VERBATIM —
    * used by checkpoint writes only, so a checkpoint never bakes the
    * driver-side compaction (indexed-prefix projection, string-bound
    * truncation) into the durable log: foreign readers and a later
    * increase of dataSkippingNumIndexedCols keep the full stats, like
    * delta-spark. The verbatim copy lives only for the duration of the
    * checkpoint write; steady-state snapshots stay compacted.
    *
    * Serving discipline (all under the log's monitor):
    *  1. one listing decides everything — latest version, tail presence,
    *     checkpoint availability, staleness fingerprint;
    *  2. cached state at `target` with a matching fingerprint → the
    *     already-built Snapshot, zero action reads;
    *  3. cached state BEHIND `target` with every intermediate commit
    *     JSON present → apply exactly the tail commits;
    *  4. anything else — version regression (foreign truncation /
    *     re-create), a missing tail commit (log cleaned past us), a
    *     fingerprint mismatch — falls back to full checkpoint + tail
    *     replay and re-seeds the state. */
  def snapshot(version: Option[Long] = None, compactStats: Boolean = true): Snapshot = synchronized {
    val statuses = listLogStatuses()
    val commitSt: Map[Long, org.apache.hadoop.fs.FileStatus] =
      statuses.flatMap(s => s.getPath.getName match {
        case CommitFileRe(v) => Some(v.toLong -> s)
        case _ => None
      }).toMap
    val cpVs = checkpointVersionsIn(statuses)
    if (commitSt.isEmpty && cpVs.isEmpty)
      throw new IllegalArgumentException(s"Not a Delta table (no commits): $tablePath")
    val latest = (commitSt.keysIterator ++ cpVs.iterator).max
    val target = version.getOrElse(latest)
    if (target > latest || target < 0)
      throw new IllegalArgumentException(
        s"Invalid version $target for $tablePath (latest: $latest)")

    def fingerprintOk(st: ReplayState): Boolean =
      st.tailLen < 0 || commitSt.get(st.version).forall(c =>
        c.getLen == st.tailLen && c.getModificationTime == st.tailMtime)
    def stamp(st: ReplayState, v: Long): Unit = {
      st.version = v
      commitSt.get(v) match {
        case Some(c) => st.tailLen = c.getLen; st.tailMtime = c.getModificationTime
        case None => st.tailLen = -1L; st.tailMtime = -1L
      }
    }

    // the sibling version checksum (`N.crc`, ours or delta-spark's): the
    // cache's EXTERNAL corruption tripwire. A cached state that disagrees
    // with it is discarded and replayed cold; a crc that disagrees even
    // with the cold replay is the liar (stale/corrupt) and only warns —
    // the log is the authority. Validation is per (len, mtime) of the crc
    // file, so steady-state cache hits never re-read it.
    val crcSt = statuses.find(_.getPath.getName == f"$target%020d.crc")
    def crcTrips(st: ReplayState, snap: Snapshot): Boolean = crcSt match {
      case None => false
      case Some(c) =>
        if (c.getLen == st.crcLen && c.getModificationTime == st.crcMtime) false
        else DeltaLog.crcMismatch(readSmallFile(c.getPath), snap) match {
          case Some(why) =>
            DeltaLog.logger.warn(
              s"Version checksum ${c.getPath.getName} in $logPath disagrees with " +
                s"the cached state ($why) — discarding the snapshot cache and " +
                "replaying cold")
            true
          case None =>
            st.crcLen = c.getLen; st.crcMtime = c.getModificationTime
            false
        }
    }

    // compactStats=false (checkpoint writes) needs VERBATIM stats: the
    // cached state compacts at insert, so it can neither serve nor be
    // seeded here — fall straight through to an uncached full replay
    var st0 = if (compactStats) replay else null
    // (2) exact hit: nothing to read at all
    if (st0 != null && st0.version == target &&
        st0.built != null && fingerprintOk(st0)) {
      if (!crcTrips(st0, st0.built)) return st0.built
      replay = null; st0 = null
    }
    // (3) incremental: extend the retained state along the JSON tail
    if (st0 != null && st0.version >= 0 && target > st0.version && fingerprintOk(st0) &&
        ((st0.version + 1) to target).forall(commitSt.contains)) {
      ((st0.version + 1) to target).foreach { v =>
        // readCommitActions throws on a torn body — the state then still
        // sits consistently at v-1 and the next call retries the tail
        applyBatch(st0, readCommitActions(v))
        stamp(st0, v)
        st0.built = null
      }
      // a long-lived handle advancing along the tail must not retain
      // tombstones/txns forever: a checkpoint written under the same
      // retention windows drops them, so the cached state does too —
      // otherwise state (and every Snapshot built from it) grows without
      // bound on a high-churn table
      pruneExpired(st0)
      val snap = buildSnapshot(st0, target)
      if (!crcTrips(st0, snap)) {
        st0.built = snap
        return snap
      }
      replay = null; st0 = null // fall through to the cold replay below
    }

    // (4) full replay. Checkpoint-accelerated (SURVEY.md §2 ④): prefer
    // _last_checkpoint, fall back to listed checkpoints ≤ target.
    // Candidates are tried NEWEST-FIRST and an unreadable one (a
    // concurrent writer's clear-then-rename install window, or genuine
    // damage) degrades to the next candidate / scratch JSON replay with
    // a WARN — the replay below still fails loudly if a needed commit
    // JSON is missing, so a damaged checkpoint plus a cleaned log can
    // never yield a silently smaller table, it errors.
    // `cpLoaded` is a var so the materialized O(#files) action list can be
    // dropped the moment it is replayed (below): holding it across the
    // JSON-tail replay would keep the full checkpoint list AND the
    // near-complete active map live simultaneously — ~2× peak driver
    // memory at 1M-file widths.
    var cpLoaded: (Long, Seq[Action]) = {
      val listed = cpVs.filter(_ <= target).sorted(Ordering[Long].reverse)
      val cands =
        (readLastCheckpoint().map(_.version).filter(_ <= target).toSeq ++ listed).distinct
      cands.iterator.flatMap { cv =>
        try Iterator.single(cv -> readCheckpointActions(cv))
        catch {
          case scala.util.control.NonFatal(e) =>
            DeltaLog.logger.warn(
              s"Checkpoint v$cv in $logPath unreadable (${e.getMessage}) — possibly a " +
                "concurrent checkpoint install; trying an older checkpoint / JSON replay")
            Iterator.empty
        }
      }.nextOption().orNull
    }
    val cpVersion: Option[Long] = Option(cpLoaded).map(_._1)

    val st = new ReplayState(compact = compactStats)
    if (cpLoaded != null) {
      applyBatch(st, cpLoaded._2)
      cpLoaded = null // drop the checkpoint action list before the JSON tail
    }
    val startV = cpVersion.map(_ + 1).getOrElse(0L)
    (startV to target).foreach { v =>
      if (commitSt.contains(v)) applyBatch(st, readCommitActions(v))
      else if (cpVersion.isEmpty || v > cpVersion.get)
        throw new IllegalStateException(
          s"Missing commit file version $v in $tablePath/_delta_log")
    }
    stamp(st, target)
    val snap = buildSnapshot(st, target)
    // cold replay is the authority: a crc that still disagrees only warns
    crcSt.foreach { c =>
      DeltaLog.crcMismatch(readSmallFile(c.getPath), snap).foreach { why =>
        DeltaLog.logger.warn(
          s"Version checksum ${c.getPath.getName} in $logPath still disagrees " +
            s"after a cold replay ($why) — the checksum is stale or corrupt; " +
            "serving the log-derived state")
      }
      st.crcLen = c.getLen; st.crcMtime = c.getModificationTime
    }
    if (compactStats) {
      st.built = snap
      // never let a TIME-TRAVEL read evict a newer still-valid cached
      // state — re-seeding with the historical state would force the next
      // latest-version query to re-apply (or full-replay) the whole tail
      // from the old version. A newer state that failed its fingerprint
      // IS replaced: it is suspect, the historical state is not.
      val keepNewer = replay != null && replay.version > target && fingerprintOk(replay)
      if (!keepNewer) replay = st
    }
    snap
  }

  /** Expire aged bookkeeping from a cached replay state so a long-lived
    * handle stays bounded: tombstones past `deletedFileRetentionDuration`
    * PLUS `logRetentionDuration` (once the remove's commit JSON itself
    * ages out of the log, no replay could rebuild the tombstone — the
    * natural retention horizon), and SetTransactions past
    * `setTransactionRetentionDuration` (retained forever when unset, the
    * protocol default). The log-retention LAG — unlike the checkpoint's
    * exact-window drop — keeps expired-but-unreclaimed tombstones visible
    * to vacuum's tombstone mode for the whole log-retention window.
    * Removes without a deletionTimestamp are kept — their age cannot be
    * proven, and vacuum treats a missing timestamp as expired, so pruning
    * them here would hide them from reclamation. */
  private def pruneExpired(st: ReplayState): Unit = {
    val now = System.currentTimeMillis()
    val logW = st.metadata
      .flatMap(_.configuration.get("delta.logRetentionDuration"))
      .flatMap(DeltaMaintenance.parseRetentionHours).getOrElse(720.0)
    val tombCut = now - DeltaLog.tombstoneWindowMs(st.metadata) -
      (logW * 3600 * 1000).toLong
    st.removed.filterInPlace((_, r) => r.deletionTimestamp.forall(_ >= tombCut))
    DeltaLog.txnWindowMs(st.metadata).foreach { w =>
      st.txns.filterInPlace((_, t) => t.lastUpdated.forall(_ >= now - w))
    }
  }

  /** Validate the reader gate and materialize an immutable Snapshot from
    * replay state (stats were already compacted at insert for cached
    * states; verbatim for checkpoint-write replays). */
  private def buildSnapshot(st: ReplayState, target: Long): Snapshot = {
    val metadata = st.metadata
    val protocol = st.protocol
    val meta = metadata.getOrElse(
      throw new IllegalStateException(s"No metaData action found for $tablePath @ v$target"))
    // Reader-version gate: reader 2 = column mapping, which this replay
    // implements for mode `name` (physical-name scan + rename projection)
    // and mode `id` (Spark's parquet field-id matching). Reader 3 = table
    // features: the version number says nothing by itself — the
    // readerFeatures list is checked against what the scan actually
    // implements (deletion vectors, column mapping). An UNKNOWN feature
    // still refuses loudly: reading anyway would silently return wrong
    // rows, the worst failure mode.
    val mappingMode =
      meta.configuration.getOrElse("delta.columnMapping.mode", "none")
    val mappingOk =
      mappingMode == "none" || mappingMode == "name" || mappingMode == "id"
    // NAMED read refusals (VERDICT r17 #2) ahead of the generic
    // unknown-feature message — each explains WHY a filesystem-only
    // replay cannot serve the table, not just that a name is unknown:
    //
    //  - catalogOwned / coordinatedCommits (Delta 4.x managed commits):
    //    the table's commit sequence is owned by a commit coordinator /
    //    owning catalog, and the newest commits may exist ONLY in the
    //    coordinator (as unbackfilled uuid-named staged commits) — a
    //    replay of `_delta_log` alone can present a STALE version as
    //    latest, silently missing acknowledged writes. This is the one
    //    place the read gate deliberately consults writerFeatures too:
    //    coordinatedCommits is writer-scoped in the protocol, but its
    //    staleness hazard is a READ hazard.
    //  - redirectReaderWriter (table redirect): the log at this path is
    //    a tombstone pointing at the table's new location; serving rows
    //    from it would read a frozen, possibly truncated copy.
    val managedCommitFeatures =
      (protocol.readerFeatures.toSeq.flatten ++ protocol.writerFeatures.toSeq.flatten)
        .filter(f => f.startsWith("catalogOwned") || f.startsWith("coordinatedCommits"))
        .distinct.sorted
    if (managedCommitFeatures.nonEmpty)
      throw new IllegalStateException(
        s"Table $tablePath carries the '${managedCommitFeatures.mkString("', '")}' " +
          "feature(s): its commits are managed by a commit coordinator / owning " +
          "catalog, and the latest commits may not be backfilled into _delta_log — " +
          "a filesystem-only replay could serve a stale snapshot as latest. This " +
          "engine does not speak the coordinator protocol; refusing to read or write")
    val redirectFeatures = protocol.readerFeatures.toSeq.flatten
      .filter(_.startsWith("redirectReaderWriter")).distinct.sorted
    if (redirectFeatures.nonEmpty)
      throw new IllegalStateException(
        s"Table $tablePath carries the '${redirectFeatures.mkString("', '")}' " +
          "feature(s): this log is a redirect stub — the live table has moved and " +
          "rows served from here would come from a frozen copy. This engine does " +
          "not resolve redirect metadata; read the table at its target location")
    val readerSupported = protocol.minReaderVersion match {
      case v if v <= 1 => true
      case 2 => mappingOk
      case 3 =>
        // a v3 protocol MUST carry its readerFeatures list; absent =
        // malformed (or a writer older than table features) — refuse
        mappingOk && protocol.readerFeatures.exists(
          _.forall(DeltaLog.SupportedReaderFeatures.contains))
      case _ => false
    }
    if (!readerSupported) {
      throw new IllegalStateException(
        s"Table $tablePath requires reader version ${protocol.minReaderVersion} " +
          s"(columnMapping.mode=$mappingMode, readerFeatures=" +
          s"${protocol.readerFeatures.getOrElse(Nil).mkString(",")}) — supported: " +
          s"reader ≤ 2 with mapping mode none/name/id, or reader 3 whose features " +
          s"are all in ${DeltaLog.SupportedReaderFeatures.mkString("{", ",", "}")}")
    }
    Snapshot(target, meta, protocol, st.active.values.toSeq,
      st.removed.values.toSeq, st.txns.values.toSeq, st.domains.toMap)
  }

  /** CommitInfo actions, newest version first — the history surface
    * (reference core.py:88-108). Reads only JSON commit files, like
    * delta-rs `history()`. With `limit=Some(n)` only the newest n commit
    * files are OPENED at all (limit pushdown): commit timestamps are
    * monotone in version under the protocol, so newest-n-by-version is
    * newest-n-by-timestamp — at 10^5 commits, history(5) must not parse
    * the whole log directory. */
  def commitInfos(limit: Option[Int] = None): Seq[(Long, Option[CommitInfo])] = {
    val versions = listCommitVersions.sorted(Ordering[Long].reverse)
    limit.map(versions.take).getOrElse(versions).map(v => (v, commitInfoOf(v)))
  }

  /** File-mtime fallback clock for commits lacking commitInfo — the same
    * clock commitTimestamps uses, so history ordering always matches
    * time-travel resolution. */
  def commitFallbackTimestamp(v: Long): Long =
    fs.getFileStatus(commitFile(v)).getModificationTime

  /** Atomically write commit `version`: create-if-absent so two writers
    * racing on the same version cannot both succeed (SURVEY.md §7 "What's
    * hard").
    *
    * `file:` scheme gets a dedicated path: Hadoop's RawLocalFileSystem
    * implements create(overwrite=false) as exists-check-then-create — a
    * TOCTOU window in which two racing committers BOTH pass the check
    * and the loser's stream truncates the winner's commit (observed as
    * a lost append under heavy load). java.nio CREATE_NEW maps to
    * O_CREAT|O_EXCL — the kernel arbitrates, exactly one creator wins.
    * Other schemes keep FileSystem.create(overwrite=false), which HDFS
    * enforces atomically server-side (object stores need their own
    * log-store arbitration, same as every Delta implementation). */
  /** Is the in-commit-timestamp clock live for the commit about to be
    * written at `version`? Decided without a snapshot replay: a metadata
    * action IN the commit is authoritative (covers create-with-config
    * and the enable/disable commits); otherwise the previous commit's
    * commitInfo tells — once enabled, every commit carries the stamp, so
    * presence chains forward. One small file read, only on metadata-less
    * commits. */
  private def ictLive(version: Long, actions: Seq[Action]): Boolean =
    actions.collectFirst { case m: MetadataAction => m } match {
      case Some(m) => m.configuration.get("delta.enableInCommitTimestamps")
        .exists(_.trim.equalsIgnoreCase("true"))
      case None =>
        version > 0 && commitInfoOf(version - 1).exists(_.inCommitTimestamp.isDefined)
    }

  def writeCommit(version: Long, actions0: Seq[Action]): Unit = {
    // in-commit timestamps: strictly monotonic — max(wall clock,
    // previous ICT + 1) — so travel-by-timestamp stays correct even when
    // the committing host's clock regresses
    val stamped = actions0.map {
      // identify this writer in the log (protocol engineInfo field) —
      // the evidence the multi-writer hazard warning below keys off
      case ci: CommitInfo if ci.engineInfo.isEmpty =>
        ci.copy(engineInfo = Some(DeltaLog.engineId))
      case a => a
    }
    val actions =
      if (!stamped.exists(_.isInstanceOf[CommitInfo]) || !ictLive(version, stamped)) stamped
      else {
        val prev =
          if (version == 0) None
          else commitInfoOf(version - 1).flatMap(_.inCommitTimestamp)
        val ict = math.max(System.currentTimeMillis(), prev.map(_ + 1L).getOrElse(Long.MinValue))
        stamped.map {
          case ci: CommitInfo => ci.copy(inCommitTimestamp = Some(ict))
          case a => a
        }
      }
    fs.mkdirs(logPath)
    val target = commitFile(version)
    val body = actions.map(ActionCodec.toJsonLine).mkString("", "\n", "\n")
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    def conflict(e: Throwable) = throw new java.util.ConcurrentModificationException(
      s"Concurrent commit: version $version already exists in $tablePath", e)
    // mutual exclusion on the version file is a per-scheme property —
    // delegated to the LogStore seam (POSIX CREATE_NEW locally,
    // create-no-overwrite on transactional namespaces, documented
    // check-then-put on S3A unless a locked/conditional store is
    // registered — see LogStore's scaladoc)
    val scheme = Option(target.toUri.getScheme).getOrElse(fs.getUri.getScheme)
    val store = LogStore.forScheme(scheme)
    // non-atomic store + evidence of a second writer in the log = the
    // lost-update hazard is LIVE on this table; warn once per table.
    // Evidence check is the previous commit's engineInfo only (one small
    // file read, and interleaving writers are adjacent within a few
    // commits); a missing engineInfo means an unknown (foreign) writer.
    if (!store.atomicPutIfAbsent && version > 0 &&
        !DeltaLog.nonAtomicWarned.contains(tablePath)) {
      val prevEngine = commitInfoOf(version - 1).flatMap(_.engineInfo)
      if (!prevEngine.contains(DeltaLog.engineId)) {
        DeltaLog.nonAtomicWarned.add(tablePath)
        val msg = s"Table $tablePath commits through a NON-ATOMIC LogStore " +
          s"(scheme '$scheme', check-then-put) and shows another writer at version " +
          s"${version - 1} (engineInfo=${prevEngine.getOrElse("<unknown>")}): " +
          "concurrent commits can silently LOSE updates. Register a " +
          "LogStore.Locked (e.g. with LogStore.FileLease) or LogStore.ConditionalPut " +
          s"for scheme '$scheme' via LogStore.register."
        DeltaLog.multiWriterWarnings.put(tablePath, msg)
        DeltaLog.logger.warn(msg)
      }
    }
    try store.writePutIfAbsent(fs, target, bytes)
    catch {
      case e: java.nio.file.FileAlreadyExistsException => conflict(e)
      case e: org.apache.hadoop.fs.FileAlreadyExistsException => conflict(e)
      case e: java.io.IOException if fs.exists(target) => conflict(e)
    }
    // per-version checksum (delta-spark's `N.crc` sibling files): table
    // size, file count, protocol, metadata id — the snapshot cache's
    // external corruption tripwire, and what foreign delta-spark logs
    // carry next to every commit. Strictly best-effort: the commit is
    // already durable, and a crc failure (reader-gated protocol, torn
    // concurrent state, FS hiccup) must never fail it. The snapshot call
    // is the cheap cached tail apply when this writer is current.
    try {
      val snap = snapshot(Some(version))
      val out = fs.create(crcFile(version), /*overwrite=*/ true)
      try out.write(DeltaLog.crcJson(snap).getBytes(StandardCharsets.UTF_8))
      finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  def crcFile(v: Long): Path = new Path(logPath, f"$v%020d.crc")

  /** The one commit every table operation goes through: WRITE,
    * DELETE/UPDATE in both flavors, MERGE and OPTIMIZE retry past
    * compatible winners; the metadata and maintenance operations
    * (ALTER, clone, FSCK, CONVERT, TRUNCATE, RESTORE, DROP FEATURE, row
    * tracking's enable) commit once with `retriable = false`.
    * `actionsAt(v)` is committed at the version after `read` (0 for a
    * create). On a lost race, when `retriable`, each interleaved winner is
    * checked against this commit and the actions re-commit at the new
    * head unless a winner carries
    *   - a metadata or protocol change (the plan is stale);
    *   - a SetTransaction for one of our appIds (a duplicate batch);
    *   - a remove of a file we remove ("Write-write");
    *   - a dataChange add `readPredicate` may match ("Phantom": a serial
    *     execution would have read those rows); dataChange=false adds
    *     (compactions) never conflict by themselves;
    *   - a domain-metadata change, unless we are a blind append (a
    *     row-id watermark or clustering domain our actions assumed moved).
    * Our removed paths, appIds and blind-append flag are read from the
    * actions. A commit that loses for good deletes the `staged` files
    * (table-relative paths as the actions spell them; never the adds,
    * which may re-add live files under a new DV) and rethrows the
    * ConcurrentModificationException. A committed version that is a
    * multiple of the table's checkpoint interval (this commit's metadata,
    * else `read`'s; `checkpointInterval` is the default, ≤ 0 disables)
    * writes a checkpoint. Returns the committed version. */
  private[delta] def optimisticCommit(
      read: Option[Snapshot],
      actionsAt: Long => Seq[Action],
      readPredicate: AddFile => Boolean = _ => false,
      staged: Seq[String] = Nil,
      checkpointInterval: Int = 10,
      retriable: Boolean = true): Long = {
    def lose(w: Long, why: String, cause: Throwable): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"$why at version $w in $tablePath; commit aborted", cause)
    var v = read.fold(0L)(_.version + 1)
    var attempt = 0
    var actions = actionsAt(v)
    try {
      val removed = actions.collect { case r: RemoveFile => r.path }.toSet
      val appIds = actions.collect { case t: SetTransaction => t.appId }.toSet
      val blindAppend = actions.exists {
        case ci: CommitInfo => ci.isBlindAppend.contains(true)
        case _ => false
      }
      var committed = false
      while (!committed) {
        attempt += 1
        try { writeCommit(v, actions); committed = true }
        catch {
          case e: java.util.ConcurrentModificationException =>
            if (!retriable || attempt >= MaxCommitAttempts) throw e
            val head = latestVersion
            (v to head).foreach(w => readCommitActions(w).foreach {
              case _: MetadataAction | _: Protocol =>
                lose(w, "Concurrent metadata/protocol change", e)
              case t: SetTransaction if appIds(t.appId) =>
                lose(w, s"Concurrent transaction for appId ${t.appId}", e)
              case _: DomainMetadata if !blindAppend =>
                lose(w, "Concurrent domain-metadata change", e)
              case r: RemoveFile if removed(r.path) =>
                lose(w, s"Write-write conflict: ${r.path} was concurrently removed", e)
              case a: AddFile if a.dataChange && readPredicate(a) =>
                lose(w, "Phantom conflict: added rows our read predicate may match", e)
              case _ => ()
            })
            v = head + 1
            actions = actionsAt(v)
        }
      }
    } catch {
      case e: java.util.ConcurrentModificationException =>
        DeltaWrite.deleteStaged(fs, tablePath, staged)
        throw e
    }
    val meta = actions.collectFirst { case m: MetadataAction => m }.orElse(read.map(_.metadata))
    if (checkpointInterval > 0 && v > 0 &&
      v % meta.fold(checkpointInterval)(checkpointIntervalOf(_, checkpointInterval)) == 0)
      // version v is published: a failed checkpoint must not fail the
      // write (a retrying caller would commit its rows twice); replay
      // reaches v through the JSON tail until the next checkpoint
      try writeCheckpoint(v)
      catch {
        case NonFatal(e) =>
          DeltaLog.logger.warn(
            s"Checkpoint of committed version $v in $tablePath failed ($e); the commit stands", e)
      }
    v
  }

  private def readSmallFile(p: Path): String = {
    val in = fs.open(p)
    try Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Write a checkpoint for `version` plus `_last_checkpoint`, bounding
    * future replays (SURVEY.md §2 ④). Small snapshots emit the classic
    * single file; above `maxActionsPerPart` actions the write becomes
    * multi-part (`N.checkpoint.i.n.parquet`) in near-equal contiguous
    * parts ([[slices]]). Parts are written on the driver with
    * no Spark job ([[publishParquet]]). A failed write throws and leaves
    * no file behind. */
  def writeCheckpoint(version: Long, maxActionsPerPart: Int = 500000): Unit = {
    // verbatim stats: the checkpoint must not make the in-memory
    // compaction durable (see snapshot()'s compactStats contract)
    val snap0 = snapshot(Some(version), compactStats = false)
    // expired bookkeeping does NOT carry into the checkpoint (delta-spark
    // behavior): tombstones past deletedFileRetentionDuration and txns
    // past setTransactionRetentionDuration drop here — otherwise every
    // checkpoint of a high-churn table grows without bound. Removes
    // without a deletionTimestamp are kept (age unprovable).
    val snap = {
      val now = System.currentTimeMillis()
      val tombCut = now - DeltaLog.tombstoneWindowMs(Some(snap0.metadata))
      val txnW = DeltaLog.txnWindowMs(Some(snap0.metadata))
      snap0.copy(
        tombstones = snap0.tombstones.filter(_.deletionTimestamp.forall(_ >= tombCut)),
        setTransactions = snap0.setTransactions.filter(t =>
          txnW.forall(w => t.lastUpdated.forall(_ >= now - w))))
    }
    // a table carrying the v2Checkpoint reader feature obliges writers
    // to emit V2 checkpoints only — a classic one would be read by
    // v2-only readers as authoritative without its sidecar contract
    if (snap.protocol.readerFeatures.exists(_.contains("v2Checkpoint"))) {
      writeV2Checkpoint(version, snap, maxActionsPerPart)
      return
    }
    val rows: Seq[Row] =
      Row(Row(snap.protocol.minReaderVersion, snap.protocol.minWriterVersion,
        snap.protocol.readerFeatures.orNull, snap.protocol.writerFeatures.orNull),
        null, null, null, null, null) +:
        Row(null, metadataToRow(snap.metadata), null, null, null, null) +:
        (snap.activeFiles.map(f => Row(null, null, addToRow(f), null, null, null)) ++
          snap.tombstones.map(f => Row(null, null, null, removeToRow(f), null, null)) ++
          snap.setTransactions.map(t => Row(null, null, null, null,
            Row(t.appId, t.version, t.lastUpdated.map(Long.box).orNull), null)) ++
          snap.domainMetadata.toSeq.map { case (dom, cfg) =>
            Row(null, null, null, null, null, Row(dom, cfg, false)) })
    val parts = slices(rows, maxActionsPerPart)
    val n = parts.length
    val files =
      if (n == 1) Seq(checkpointFile(version))
      else (1 to n).map(i => new Path(logPath, f"$version%020d.checkpoint.$i%010d.$n%010d.parquet"))
    publishParquet(checkpointSchema, files.zip(parts))(clearStale(version))
    val partsField = if (n == 1) "" else s""","parts":$n"""
    writeLastCheckpoint(s"""{"version":$version,"size":${rows.size}$partsField}""")
  }

  /** Delete any checkpoint files already at `version` (a rewrite). */
  private def clearStale(version: Long): Unit =
    checkpointPartFiles(version).foreach(fs.delete(_, false))

  /** `rows` cut into ceil(n / `perPart`) (at most 64) contiguous parts
    * of near-equal size: part i holds rows [i*n/parts, (i+1)*n/parts),
    * the split Spark gives a local list. */
  private def slices(rows: Seq[Row], perPart: Int): Seq[Seq[Row]] = {
    val all = rows.toIndexedSeq
    val n = math.min(64, 1 + (all.size - 1) / math.max(1, perPart))
    (0 until n).map(i => all.slice((i.toLong * all.size / n).toInt,
      ((i + 1).toLong * all.size / n).toInt))
  }

  /** Write each `(file, rows)` of `files` as `schema` parquet to a hidden
    * `_delta_log/.<name>.tmp-<uuid8>` temp (through [[FanOut]]), run
    * `beforeInstall`, then rename every temp to its file. On failure the
    * temps and any file already renamed are deleted and the error
    * rethrown, so a failed write leaves nothing behind. */
  private def publishParquet(schema: StructType, files: Seq[(Path, Seq[Row])])(
      beforeInstall: => Unit): Unit = {
    val writer = LogParquet.writer(spark, schema)
    val temps = files.map { case (dest, _) => new Path(logPath, LogStore.tempName(dest.getName)) }
    val installed = mutable.ArrayBuffer.empty[Path]
    try {
      FanOut(spark, temps.map(_.toString).zip(files.map(_._2))) { case (conf, (tmp, rows)) =>
        writer.write(conf, new Path(tmp), rows.iterator)
      }
      beforeInstall
      temps.zip(files).foreach { case (tmp, (dest, _)) =>
        if (!fs.rename(tmp, dest)) throw new java.io.IOException(s"Failed to move $tmp -> $dest")
        installed += dest
      }
    } catch {
      case NonFatal(e) =>
        (temps ++ installed).foreach(p =>
          try fs.delete(p, false) catch { case NonFatal(_) => () })
        throw e
    }
  }

  /** Install `_last_checkpoint` via temp-file + rename where the
    * filesystem supports replace-rename (local POSIX), narrowing the
    * torn-read window a plain truncating overwrite leaves; falls back to
    * the overwrite create elsewhere. Readers tolerate torn content
    * either way ([[readLastCheckpoint]]) — this is belt to that braces. */
  private def writeLastCheckpoint(lc: String): Unit = {
    val lcPath = new Path(logPath, "_last_checkpoint")
    val tmp = new Path(logPath, LogStore.tempName(lcPath.getName))
    try {
      val out = fs.create(tmp, true)
      try out.write(lc.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      val renamed = try fs.rename(tmp, lcPath) catch { case _: java.io.IOException => false }
      if (!renamed) {
        val out2 = fs.create(lcPath, true)
        try out2.write(lc.getBytes(StandardCharsets.UTF_8))
        finally out2.close()
      }
    } finally if (fs.exists(tmp)) fs.delete(tmp, false)
  }

  /** V2 checkpoint write: add/remove actions go to sidecar parquet(s)
    * under `_delta_log/_sidecars/`, the uuid-named top-level file keeps
    * the non-file actions plus checkpointMetadata and the sidecar refs.
    * Sidecars split at `maxActionsPerPart` exactly like multi-part
    * classic checkpoints (the file actions ARE the bulk at scale). */
  private def writeV2Checkpoint(
      version: Long, snap: Snapshot, maxActionsPerPart: Int): Unit = {
    val sidecarDir = new Path(logPath, "_sidecars")
    fs.mkdirs(sidecarDir)
    val fileRows: Seq[Row] =
      snap.activeFiles.map(f => Row(addToRow(f), null)) ++
        snap.tombstones.map(f => Row(null, removeToRow(f)))
    val sidecarSchema = StructType(
      checkpointSchema.fields.filter(f => f.name == "add" || f.name == "remove"))
    val sidecarRefs: Seq[Sidecar] =
      if (fileRows.isEmpty) Nil
      else {
        val parts = slices(fileRows, maxActionsPerPart)
          .map(p => new Path(sidecarDir, s"${java.util.UUID.randomUUID()}.parquet") -> p)
        publishParquet(sidecarSchema, parts)(())
        parts.map { case (dest, _) =>
          val st = fs.getFileStatus(dest)
          Sidecar(dest.getName, st.getLen, st.getModificationTime)
        }
      }
    val v2Schema = StructType(checkpointSchema.fields ++ Seq(
      StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType),
        StructField("tags", strMapType)))),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType),
        StructField("modificationTime", LongType),
        StructField("tags", strMapType))))))
    def topRow(proto: Row = null, meta: Row = null, txn: Row = null,
        domain: Row = null, cm: Row = null, sc: Row = null): Row =
      Row(proto, meta, null, null, txn, domain, cm, sc)
    val topRows: Seq[Row] =
      topRow(cm = Row(version, Map.empty[String, String])) +:
        topRow(proto = Row(snap.protocol.minReaderVersion, snap.protocol.minWriterVersion,
          snap.protocol.readerFeatures.orNull, snap.protocol.writerFeatures.orNull)) +:
        topRow(meta = metadataToRow(snap.metadata)) +:
        (snap.setTransactions.map(t => topRow(txn =
          Row(t.appId, t.version, t.lastUpdated.map(Long.box).orNull))) ++
          snap.domainMetadata.toSeq.map { case (dom, cfg) =>
            topRow(domain = Row(dom, cfg, false)) } ++
          sidecarRefs.map(s => topRow(sc =
            Row(s.path, s.sizeInBytes, s.modificationTime, Map.empty[String, String]))))
    publishParquet(v2Schema, Seq(new Path(logPath,
      f"$version%020d.checkpoint.${java.util.UUID.randomUUID()}.parquet") -> topRows))(())
    writeLastCheckpoint(s"""{"version":$version,"size":${topRows.size + fileRows.size}}""")
  }

  // ---- checkpoint schema / row conversions ------------------------------

  private def strMapType = MapType(StringType, StringType, valueContainsNull = true)

  private lazy val checkpointSchema: StructType = StructType(Seq(
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("name", StringType),
      StructField("description", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType),
        StructField("options", strMapType)))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", strMapType),
      StructField("createdTime", LongType)))),
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", strMapType),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("deletionVector", StructType(Seq(
        StructField("storageType", StringType),
        StructField("pathOrInlineDv", StringType),
        StructField("offset", IntegerType),
        StructField("sizeInBytes", IntegerType),
        StructField("cardinality", LongType)))),
      StructField("baseRowId", LongType),
      StructField("defaultRowCommitVersion", LongType)))),
    StructField("remove", StructType(Seq(
      StructField("path", StringType),
      StructField("deletionTimestamp", LongType),
      StructField("dataChange", BooleanType),
      StructField("extendedFileMetadata", BooleanType),
      StructField("partitionValues", strMapType),
      StructField("size", LongType),
      StructField("deletionVector", StructType(Seq(
        StructField("storageType", StringType),
        StructField("pathOrInlineDv", StringType),
        StructField("offset", IntegerType),
        StructField("sizeInBytes", IntegerType),
        StructField("cardinality", LongType))))))),
    StructField("txn", StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType),
      StructField("lastUpdated", LongType)))),
    StructField("domainMetadata", StructType(Seq(
      StructField("domain", StringType),
      StructField("configuration", StringType),
      StructField("removed", BooleanType))))
  ))

  private def metadataToRow(m: MetadataAction): Row =
    Row(m.id, m.name.orNull, m.description.orNull, Row(m.formatProvider, m.formatOptions),
      m.schemaString, m.partitionColumns, m.configuration,
      m.createdTime.map(Long.box).orNull)

  private def addToRow(f: AddFile): Row =
    Row(f.path, f.partitionValues, f.size, f.modificationTime, f.dataChange, f.stats.orNull,
      f.deletionVector.map(d => Row(d.storageType, d.pathOrInlineDv,
        d.offset.map(Int.box).orNull, d.sizeInBytes, d.cardinality)).orNull,
      f.baseRowId.map(Long.box).orNull,
      f.defaultRowCommitVersion.map(Long.box).orNull)

  private def removeToRow(f: RemoveFile): Row =
    Row(f.path, f.deletionTimestamp.map(Long.box).orNull, f.dataChange,
      f.extendedFileMetadata.map(Boolean.box).orNull, f.partitionValues,
      f.size.map(Long.box).orNull,
      f.deletionVector.map(d => Row(d.storageType, d.pathOrInlineDv,
        d.offset.map(Int.box).orNull, d.sizeInBytes, d.cardinality)).orNull)

  /** The actions in checkpoint parquet `files` (any writer's field
    * superset): only the action columns are read, and rows stream from
    * the reader into the decoder — at millions of checkpoint rows a
    * materialized row list would double the active set in memory. */
  private def readParquetActions(files: Seq[Path]): Seq[Action] =
    checkpointRowsToActions(LogParquet.read(spark, files, CheckpointActionColumns))

  /** Decode checkpoint rows (one action column set per row, any subset
    * of [[CheckpointActionColumns]]) into actions. */
  private def checkpointRowsToActions(rows: Iterator[Row]): Seq[Action] =
    rows.flatMap { row =>
      row.schema.fieldNames.toSeq.zipWithIndex.flatMap {
        case (name, i) if !row.isNullAt(i) =>
          val r = row.getStruct(i)
          name match {
            case "protocol" =>
              Some(Protocol(intField(r, "minReaderVersion", 1), intField(r, "minWriterVersion", 2),
                readerFeatures = optSeqField(r, "readerFeatures"),
                writerFeatures = optSeqField(r, "writerFeatures")))
            case "metaData" =>
              val fmt = structField(r, "format")
              Some(MetadataAction(
                id = strField(r, "id").getOrElse(""),
                name = strField(r, "name"),
                description = strField(r, "description"),
                formatProvider = fmt.flatMap(strField(_, "provider")).getOrElse("parquet"),
                formatOptions = fmt.map(mapField(_, "options")).getOrElse(Map.empty),
                schemaString = strField(r, "schemaString").getOrElse(""),
                partitionColumns = seqField(r, "partitionColumns"),
                configuration = mapField(r, "configuration"),
                createdTime = longField(r, "createdTime")
              ))
            case "add" =>
              Some(AddFile(
                path = strField(r, "path").getOrElse(""),
                partitionValues = mapField(r, "partitionValues"),
                size = longField(r, "size").getOrElse(0L),
                modificationTime = longField(r, "modificationTime").getOrElse(0L),
                dataChange = boolField(r, "dataChange").getOrElse(true),
                stats = strField(r, "stats"),
                deletionVector = structField(r, "deletionVector").map(d =>
                  DeletionVectorDescriptor(
                    storageType = strField(d, "storageType").getOrElse(""),
                    pathOrInlineDv = strField(d, "pathOrInlineDv").getOrElse(""),
                    offset = intOptField(d, "offset"),
                    sizeInBytes = intField(d, "sizeInBytes", 0),
                    cardinality = longField(d, "cardinality").getOrElse(0L))),
                baseRowId = longField(r, "baseRowId"),
                defaultRowCommitVersion = longField(r, "defaultRowCommitVersion")
              ))
            case "remove" =>
              Some(RemoveFile(
                path = strField(r, "path").getOrElse(""),
                deletionTimestamp = longField(r, "deletionTimestamp"),
                dataChange = boolField(r, "dataChange").getOrElse(true),
                extendedFileMetadata = boolField(r, "extendedFileMetadata"),
                partitionValues = mapField(r, "partitionValues"),
                size = longField(r, "size"),
                deletionVector = structField(r, "deletionVector").map(d =>
                  DeletionVectorDescriptor(
                    storageType = strField(d, "storageType").getOrElse(""),
                    pathOrInlineDv = strField(d, "pathOrInlineDv").getOrElse(""),
                    offset = intOptField(d, "offset"),
                    sizeInBytes = intField(d, "sizeInBytes", 0),
                    cardinality = longField(d, "cardinality").getOrElse(0L)))
              ))
            case "txn" =>
              Some(SetTransaction(
                appId = strField(r, "appId").getOrElse(""),
                version = longField(r, "version").getOrElse(0L),
                lastUpdated = longField(r, "lastUpdated")
              ))
            case "domainMetadata" =>
              Some(DomainMetadata(
                domain = strField(r, "domain").getOrElse(""),
                configuration = strField(r, "configuration").getOrElse(""),
                removed = boolField(r, "removed").getOrElse(false)
              ))
            case "checkpointMetadata" =>
              Some(CheckpointMetadata(
                version = longField(r, "version").getOrElse(-1L),
                tags = mapField(r, "tags")))
            case "sidecar" =>
              Some(Sidecar(
                path = strField(r, "path").getOrElse(""),
                sizeInBytes = longField(r, "sizeInBytes").getOrElse(0L),
                modificationTime = longField(r, "modificationTime").getOrElse(0L),
                tags = mapField(r, "tags")))
            case _ => None
          }
        case _ => None
      }
    }.toSeq

  // Null-safe field access tolerant of absent columns in foreign checkpoints.
  private def idx(r: Row, name: String): Option[Int] = {
    val i = r.schema.fieldNames.indexOf(name)
    if (i >= 0 && !r.isNullAt(i)) Some(i) else None
  }
  private def strField(r: Row, n: String): Option[String] = idx(r, n).map(r.getString)
  private def longField(r: Row, n: String): Option[Long] = idx(r, n).map(i => r.getLong(i))
  private def intField(r: Row, n: String, d: Int): Int =
    idx(r, n).map(i => r.getInt(i)).getOrElse(d)
  private def boolField(r: Row, n: String): Option[Boolean] = idx(r, n).map(r.getBoolean)
  private def structField(r: Row, n: String): Option[Row] = idx(r, n).map(r.getStruct)
  private def mapField(r: Row, n: String): Map[String, String] =
    idx(r, n).map(i => r.getMap[String, String](i).toMap).getOrElse(Map.empty)
  private def seqField(r: Row, n: String): Seq[String] =
    idx(r, n).map(i => r.getSeq[String](i)).getOrElse(Nil)
  private def optSeqField(r: Row, n: String): Option[Seq[String]] =
    idx(r, n).map(i => r.getSeq[String](i))
  private def intOptField(r: Row, n: String): Option[Int] =
    idx(r, n).map(i => r.getInt(i))
}

object DeltaLog {

  private lazy val logger = org.slf4j.LoggerFactory.getLogger("graft.delta")

  /** The top-level checkpoint columns that hold actions. */
  private val CheckpointActionColumns = Seq("protocol", "metaData", "add", "remove", "txn",
    "domainMetadata", "checkpointMetadata", "sidecar")

  /** Attempts [[DeltaLog.optimisticCommit]] makes before a lost race aborts. */
  private val MaxCommitAttempts = 20

  /** The `N.crc` version-checksum body for a snapshot — the delta-spark
    * sibling-file convention (table size, file count, protocol, metadata
    * id). One JSON line; integers only, so any engine can re-derive it. */
  private[delta] def crcJson(snap: Snapshot): String = {
    val sizeBytes = snap.activeFiles.iterator.map(_.size).sum
    s"""{"tableSizeBytes":$sizeBytes,"numFiles":${snap.activeFiles.size},""" +
      s""""numMetadata":1,"numProtocol":1,""" +
      s""""protocol":{"minReaderVersion":${snap.protocol.minReaderVersion},""" +
      s""""minWriterVersion":${snap.protocol.minWriterVersion}},""" +
      s""""metadataId":"${snap.metadata.id}"}"""
  }

  /** Compare a (possibly foreign) crc body against a snapshot. Lenient by
    * design: only fields BOTH sides can state are compared (tableSizeBytes,
    * numFiles, protocol versions), unknown fields and unparseable bodies
    * are tolerated — a foreign writer's crc conventions must never brick a
    * readable table. Returns Some(reason) on a genuine disagreement. */
  private[delta] def crcMismatch(body: String, snap: Snapshot): Option[String] =
    try {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
      def lng(f: String): Option[Long] =
        Option(node.get(f)).filter(_.isNumber).map(_.asLong())
      val sizeBytes = snap.activeFiles.iterator.map(_.size).sum
      lng("numFiles").filter(_ != snap.activeFiles.size.toLong)
        .map(n => s"numFiles $n vs ${snap.activeFiles.size}")
        .orElse(lng("tableSizeBytes").filter(_ != sizeBytes)
          .map(n => s"tableSizeBytes $n vs $sizeBytes"))
        .orElse(Option(node.get("protocol")).flatMap { pn =>
          def iv(f: String): Option[Int] =
            Option(pn.get(f)).filter(_.isNumber).map(_.asInt())
          iv("minReaderVersion").filter(_ != snap.protocol.minReaderVersion)
            .map(v => s"minReaderVersion $v vs ${snap.protocol.minReaderVersion}")
            .orElse(iv("minWriterVersion").filter(_ != snap.protocol.minWriterVersion)
              .map(v => s"minWriterVersion $v vs ${snap.protocol.minWriterVersion}"))
        })
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The table's tombstone-retention window
    * (`delta.deletedFileRetentionDuration`, default 7 days) in millis. */
  private[delta] def tombstoneWindowMs(meta: Option[MetadataAction]): Long = {
    val hours = meta.flatMap(_.configuration.get("delta.deletedFileRetentionDuration"))
      .flatMap(DeltaMaintenance.parseRetentionHours).getOrElse(168.0)
    (hours * 3600 * 1000).toLong
  }

  /** `delta.setTransactionRetentionDuration` in millis — None (retain
    * forever) when the property is unset, the protocol default. */
  private[delta] def txnWindowMs(meta: Option[MetadataAction]): Option[Long] =
    meta.flatMap(_.configuration.get("delta.setTransactionRetentionDuration"))
      .flatMap(DeltaMaintenance.parseRetentionHours)
      .map(h => (h * 3600 * 1000).toLong)

  /** This writer's identity, stamped into every commitInfo (the protocol's
    * free-form `engineInfo` field, as delta-spark and delta-rs both do).
    * The writer token is what makes "has another writer touched this
    * table?" decidable from the log alone.
    *
    * Identity is keyed on the STABLEST signal available (ADVICE r11: a
    * random per-JVM UUID makes a single restarting application look like
    * a different writer and fire the multi-writer warning spuriously):
    * an explicit `graft.writer.id` system property / `GRAFT_WRITER_ID`
    * env var first, then the active session's `spark.app.name`, and a
    * per-JVM UUID only as the last resort. Two genuinely-different
    * writers sharing an app name are then indistinguishable — the
    * deployment that needs that distinction sets `graft.writer.id`. */
  lazy val engineId: String = {
    val stable = sys.props.get("graft.writer.id")
      .orElse(sys.env.get("GRAFT_WRITER_ID"))
      // active first, but fall back to the default session: this lazy val
      // is JVM-wide and may first be forced on a thread with no inherited
      // active session (a pool built before the session existed) — without
      // the fallback the identity would nondeterministically degrade to
      // the per-JVM UUID and re-fire the restart warning this exists to fix
      .orElse(org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .map(_.sparkContext.appName).map(_.trim).filter(_.nonEmpty))
      .getOrElse("writer-" + java.util.UUID.randomUUID().toString.take(8))
    s"Graft-Spark/0.1 ${stable.replaceAll("\\s+", "_").take(64)}"
  }

  /** Tables already warned about the non-atomic-store × multi-writer
    * hazard (one WARN per table per JVM). The message map exists so specs
    * can pin the warning without scraping log output. */
  private val nonAtomicWarned = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  val multiWriterWarnings =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Highest protocol reader version this replay implements: 2 = column
    * mapping (mode `name` — physical↔logical rename at scan time; `id`
    * mode refused loudly), 3 = table features when every listed
    * readerFeature is in [[SupportedReaderFeatures]] (unknown features
    * refuse loudly — version 3 alone proves nothing). The reference's
    * delta-rs 0.6.4 is reader-1-only. */
  val MaxSupportedReaderVersion = 3

  /** The protocol's DV uniqueId — `storageType + pathOrInlineDv [@offset]`
    * — with the canonical default offset 0, so a writer that omits a zero
    * offset and one that writes it explicitly name the same incarnation. */
  def dvUniqueId(d: DeletionVectorDescriptor): String =
    s"${d.storageType}${d.pathOrInlineDv}@${d.offset.getOrElse(0)}"

  /** Reader-3 table features the scan implements.
    *
    *  - `vacuumProtocolCheck` imposes no read-time semantics at all (it
    *    exists to force VACUUM implementations through a protocol check,
    *    which [[graft.delta.DeltaTableOps]] vacuum already does per-table)
    *    — allowlisted as a no-op.
    *  - `typeWidening` is honored structurally: the scan always passes
    *    the CURRENT table schema to the parquet reader, and Spark 4's
    *    vectorized reader performs the protocol's allowed widenings
    *    (byte→short→int→long, int→double, float→double, decimal
    *    precision growth, date→timestampNtz) when a file's physical type
    *    is narrower than the declared one. Per-field
    *    `delta.typeChanges` metadata rides inside the schemaString and
    *    survives replay untouched.
    *  - `variantType` is first-class: Delta's `variant` schemaString type
    *    IS Spark 4's `VariantType` (`DataType.fromJson("\"variant\"")`),
    *    and the physical parquet encoding (a group of `metadata`/`value`
    *    binaries) is exactly what Spark's vectorized reader decodes —
    *    the scan surfaces real VARIANT values that `variant_get`/
    *    `to_json` consume, never opaque bytes. */
  val SupportedReaderFeatures: Set[String] =
    Set("deletionVectors", "columnMapping", "v2Checkpoint", "timestampNtz",
      "vacuumProtocolCheck", "typeWidening", "variantType")

  /** Writer-7 table features our write surfaces understand — each is
    * honored, not merely tolerated: cdc staging (changeDataFeed),
    * compute/validate/recompute (generatedColumns), watermarked
    * allocation (identityColumns), in-flight asserts (checkConstraints,
    * invariants), row-removal refusal (appendOnly), physicalized staging
    * (columnMapping), bitmap scans + incarnation replay
    * (deletionVectors). */
  val SupportedWriterFeatures: Set[String] =
    Set("deletionVectors", "checkConstraints", "appendOnly", "invariants",
      "columnMapping", "changeDataFeed", "generatedColumns", "identityColumns",
      "inCommitTimestamp", "domainMetadata", "rowTracking", "timestampNtz",
      // liquid clustering: the stored clustering columns are honored by
      // OPTIMIZE (DeltaMaintenance consults the delta.clustering domain);
      // appends never force a global sort — the delta-spark OSS contract
      "clustering",
      // type widening: widens commit through DeltaTableOps
      // .widenColumnType, which records every transition in the field's
      // delta.typeChanges metadata (the feature's writer obligation);
      // appends/DML go through the current (widened) schema and the scan
      // widens older narrow files
      "typeWidening",
      // v2 checkpoints: writeCheckpoint emits the uuid+sidecar form
      // whenever the reader feature is on — the writer obligation (only
      // V2 checkpoints on a v2Checkpoint table) is exactly what the
      // protocol asks of a feature-listing writer
      "v2Checkpoint",
      // VARIANT columns write through Spark's native parquet variant
      // encoder; the write path stamps the feature whenever the schema
      // carries a variant (DeltaWrite.typeFeaturesOf)
      "variantType",
      // column defaults (CURRENT_DEFAULT field metadata): the DataFrame
      // write surface always supplies every column, and the SQL INSERT
      // surface fills declared defaults for omitted columns — the
      // feature's writer obligation is honored on every path
      "allowColumnDefaults",
      // checkpointProtection (Delta 4.x, VERDICT r15 #5): the feature
      // constrains HISTORY REWRITERS only — a table property
      // (delta.requireCheckpointProtectionBeforeVersion = V) marks
      // versions below V as protected from partial log truncation.
      // Appends/DML/OPTIMIZE never truncate history, so every ordinary
      // write path is compliant by construction; the one obligated
      // surface, metadata cleanup, honors the contract in
      // DeltaMaintenance.cleanupLog — truncation whose checkpoint
      // boundary falls BELOW the protected version refuses by name
      // (cleanup that reaches a boundary ≥ V in one pass stays allowed,
      // the protocol's option for non-feature-aware writers). If a
      // malformed foreign log lists this under readerFeatures, the
      // generic reader refusal stands — the spec scopes it writer-side.
      "checkpointProtection")

  /** The checkpoint cadence a table asks for: the
    * `delta.checkpointInterval` table property when set (the delta-spark
    * knob — a property-carrying table expects its writers to honor it),
    * else the caller's default. Non-positive/unparseable values fall
    * back to the default rather than disabling checkpoints silently. */
  def checkpointIntervalOf(meta: MetadataAction, default: Int): Int =
    meta.configuration.get("delta.checkpointInterval")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .filter(_ > 0).getOrElse(default)

  /** The reader features a legacy protocol version IMPLIES (the
    * reader-side twin of [[legacyWriterFeatures]]). */
  def legacyReaderFeatures(p: Protocol): Seq[String] =
    if (p.minReaderVersion >= 3) p.readerFeatures.getOrElse(Nil)
    else if (p.minReaderVersion >= 2) Seq("columnMapping")
    else Nil

  /** The writer features a legacy protocol version IMPLIES — a
    * features-upgrade must enumerate every one, or a feature-aware
    * foreign writer could legally skip an obligation the version used
    * to carry. Already-featured protocols return their own list. */
  def legacyWriterFeatures(p: Protocol): Seq[String] =
    if (p.minWriterVersion >= 7) p.writerFeatures.getOrElse(Nil)
    else LegacyWriterVersions.collect { case (f, mv) if p.minWriterVersion >= mv => f }

  /** The lowest legacy writer version implying each feature that has one
    * (columnMapping also needs reader 2). */
  private val LegacyWriterVersions = Seq(
    "appendOnly" -> 2, "invariants" -> 2, "checkConstraints" -> 3,
    "changeDataFeed" -> 4, "generatedColumns" -> 4, "columnMapping" -> 5,
    "identityColumns" -> 6)

  /** The table-features upgrade rule: `p` raised to support `features`,
    * None when it already does. A legacy protocol first bumps to the
    * lowest version implying the features that have one (writer 4 for
    * changeDataFeed, reader 2 / writer 5 for columnMapping, …). Features
    * still missing convert it to writer 7 — reader 3 when one of them is a
    * reader-writer feature — listing every feature the bumped version
    * implied, or a feature-aware foreign writer could legally skip an
    * obligation the version used to carry. */
  def withFeatures(p: Protocol, features: Seq[String]): Option[Protocol] = {
    def missing(q: Protocol): Seq[String] = features.filterNot(f =>
      legacyWriterFeatures(q).contains(f) &&
        (!SupportedReaderFeatures(f) || legacyReaderFeatures(q).contains(f)))
    if (missing(p).isEmpty) return None
    val bumped =
      if (p.minWriterVersion >= 7) p
      else p.copy(
        minReaderVersion =
          if (features.contains("columnMapping")) math.max(2, p.minReaderVersion)
          else p.minReaderVersion,
        minWriterVersion = (p.minWriterVersion +:
          LegacyWriterVersions.collect { case (f, v) if features.contains(f) => v }).max)
    val rest = missing(bumped)
    if (rest.isEmpty) return Some(bumped)
    val readerRest = rest.filter(SupportedReaderFeatures)
    Some(Protocol(
      if (readerRest.isEmpty) bumped.minReaderVersion else 3, 7,
      readerFeatures =
        if (readerRest.isEmpty) bumped.readerFeatures
        else Some((legacyReaderFeatures(bumped) ++ readerRest).distinct),
      writerFeatures = Some((legacyWriterFeatures(bumped) ++ features).distinct)))
  }

  private val CommitFileRe = """(\d{20})\.json""".r
  private val CheckpointFileRe = """(\d{20})\.checkpoint\.parquet""".r
  private val MultiPartCheckpointRe = """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r
  /** V2 (uuid-named) checkpoint: `N.checkpoint.<uuid>.parquet|json`
    * (reader feature v2Checkpoint). The uuid's hyphens keep this
    * disjoint from the two-numeric-token multi-part form. */
  private val V2CheckpointFileRe =
    ("""(\d{20})\.checkpoint\.""" +
      """([0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12})""" +
      """\.(parquet|json)""").r

  /** Observability for the scale pins: every commit-JSON body read,
    * every checkpoint action read, every `_delta_log` listing. The
    * snapshot-cache contract is asserted in these units — a second
    * snapshot of an unchanged table must cost ONE listing and ZERO
    * action reads; a post-append snapshot exactly the tail's commits. */
  val commitReadCount = new java.util.concurrent.atomic.AtomicLong
  val checkpointReadCount = new java.util.concurrent.atomic.AtomicLong
  val logListCount = new java.util.concurrent.atomic.AtomicLong

  /** Handle cache: ONE DeltaLog — hence one retained replay state — per
    * (session, normalized path). Bounded LRU (access-order): a session
    * touching many tables evicts the coldest handle, which simply
    * full-replays on next use. 16 tables ≈ the interactive working set;
    * `spark.graft.snapshotCache.tables` overrides. */
  private val handles =
    new java.util.LinkedHashMap[(SparkSession, String), DeltaLog](32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), DeltaLog]): Boolean =
        size() > maxHandles
    }
  @volatile private var maxHandles = 16

  def forTable(spark: SparkSession, path: String): DeltaLog = {
    val key = (spark, new Path(path).toString)
    handles.synchronized {
      maxHandles =
        try spark.conf.get("spark.graft.snapshotCache.tables", "16").toInt
        catch { case scala.util.control.NonFatal(_) => 16 }
      if (maxHandles <= 0) return new DeltaLog(spark, path) // cache disabled
      val cur = handles.get(key)
      if (cur != null) cur
      else {
        val log = new DeltaLog(spark, path)
        handles.put(key, log)
        log
      }
    }
  }

  /** Drop every cached handle and its replay state (tests; foreign
    * surgery on log directories this process can't observe). */
  def clearCache(): Unit = handles.synchronized(handles.clear())
}
