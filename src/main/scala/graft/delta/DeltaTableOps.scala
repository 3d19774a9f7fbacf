package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.LogParquet
import org.apache.spark.sql.types._

/** Table-maintenance surface: history + vacuum
  * (reference core.py:88-151, 268-324). */
object DeltaTableOps {

  /** Result of [[statsAggregate]]: a one-row frame plus whether it was
    * answered from log metadata alone (false = exact scan fallback). */
  final case class StatsAggResult(df: DataFrame, metadataOnly: Boolean)

  /** Metadata-only aggregate: COUNT(*) plus per-column MIN / MAX /
    * null-count answered from the log's per-file stats without opening a
    * single data file — the 100 TB shape: O(active-files) log metadata
    * already resident from snapshot construction vs an O(data) scan.
    *
    * Exactness over cleverness — falls back to a real scan (same schema,
    * same values) whenever the metadata answer could be inexact:
    *  - a requested column is not integral/floating/decimal (string
    *    min/max in foreign-written logs may be TRUNCATED; delta-spark
    *    truncates at 32 chars) or is a partition column;
    *  - any active file lacks numRecords, nullCount(c), or — unless the
    *    file is all-null for c (nullCount == numRecords) — min/max(c).
    *
    * Output columns: `n_rows` BIGINT, then `min_<c>`, `max_<c>` (the
    * column's own type), `nulls_<c>` BIGINT per requested column; MIN/MAX
    * are NULL when every row is NULL (SQL semantics). */
  def statsAggregate(
      spark: SparkSession, path: String, cols: Seq[String],
      version: Option[Long] = None): StatsAggResult = {
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(version)
    val schema = snap.schema
    val fieldOf = schema.fields.map(f => f.name -> f).toMap

    def numericField(c: String): Boolean = fieldOf.get(c).exists(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType => true
      case _: DecimalType => true // r13: exact scaled decimal stats exist
      case _ => false
    }) && !snap.partitionColumns.contains(c)

    // stats are PHYSICAL-keyed under column mapping; the requested
    // columns arrive logical — translate for every stats lookup
    val physOf = schema.fields
      .map(f => f.name -> DeltaRead.physicalNameOf(f)).toMap
    def physName(c: String): String = physOf.getOrElse(c, c)
    val parsed = snap.activeFiles.map(f => StatsPruning.parse(f.stats))
    // a deletion vector invalidates per-file min/max/null-counts for the
    // LIVE rows (the deleted row may have been the extreme) → scan
    val metaComplete = cols.forall(numericField) &&
      snap.activeFiles.forall(_.deletionVector.isEmpty) &&
      parsed.forall(_.exists { st =>
        st.numRecords.isDefined && cols.map(physName).forall { c =>
          st.nullCount.contains(c) &&
            (st.nullCount(c) == st.numRecords.get ||
              (st.min.contains(c) && st.max.contains(c)))
        }
      })

    val outSchema = StructType(
      StructField("n_rows", LongType, nullable = false) +:
        cols.flatMap(c => Seq(
          StructField(s"min_$c", fieldOf(c).dataType),
          StructField(s"max_$c", fieldOf(c).dataType),
          StructField(s"nulls_$c", LongType, nullable = false))))

    if (metaComplete) {
      val sts = parsed.map(_.get)
      val nRows = sts.map(_.numRecords.get).sum
      // stats decode integral JSON as Long and floating as EXACT
      // BigDecimal (the r13 pruning-precision change); a floating column
      // whose file-extreme is integral can legally arrive as Long —
      // coerce through the schema type, refuse the reverse.
      def typed(c: String, v: Any): Any = (fieldOf(c).dataType, v) match {
        case (ByteType, l: Long) => l.toByte
        case (ShortType, l: Long) => l.toShort
        case (IntegerType, l: Long) => l.toInt
        case (LongType, l: Long) => l
        case (FloatType, l: Long) => l.toFloat
        case (FloatType, d: Double) => d.toFloat
        case (FloatType, b: java.math.BigDecimal) => b.floatValue()
        case (DoubleType, l: Long) => l.toDouble
        case (DoubleType, d: Double) => d
        case (DoubleType, b: java.math.BigDecimal) => b.doubleValue()
        // decimal: rescale to the COLUMN's scale — exact by construction
        // (the harvest writes the column's own values; trailing-zero
        // normalization only ever LOWERS the stored scale). setScale
        // without a rounding mode throws on any lossy rescale: loud, not
        // silently wrong.
        case (dt: DecimalType, l: Long) =>
          java.math.BigDecimal.valueOf(l).setScale(dt.scale)
        case (dt: DecimalType, b: java.math.BigDecimal) => b.setScale(dt.scale)
        case (t, x) => throw new IllegalStateException(s"stats value $x for $t")
      }
      def ordered(c: String): Ordering[Any] = {
        val ord: Ordering[_] = fieldOf(c).dataType match {
          case ByteType => Ordering.Byte
          case ShortType => Ordering.Short
          case IntegerType => Ordering.Int
          case LongType => Ordering.Long
          case FloatType => Ordering.Float.TotalOrdering
          case DoubleType => Ordering.Double.TotalOrdering
          case _: DecimalType =>
            new Ordering[java.math.BigDecimal] {
              def compare(a: java.math.BigDecimal, b: java.math.BigDecimal): Int =
                a.compareTo(b)
            }
          case t => throw new IllegalStateException(s"unexpected $t")
        }
        ord.asInstanceOf[Ordering[Any]]
      }
      val vals = cols.flatMap { c =>
        val pc = physName(c)
        val withData = sts.filter(s => s.nullCount(pc) < s.numRecords.get)
        val mins = withData.map(s => typed(c, s.min(pc)))
        val maxs = withData.map(s => typed(c, s.max(pc)))
        val o = ordered(c)
        Seq(
          if (mins.isEmpty) null else mins.min(o),
          if (maxs.isEmpty) null else maxs.max(o),
          sts.map(_.nullCount(pc)).sum)
      }
      val row = Row.fromSeq(nRows +: vals)
      StatsAggResult(
        spark.createDataFrame(
          java.util.Collections.singletonList(row), outSchema),
        metadataOnly = true)
    } else {
      val df = GraftDelta.readDelta(spark, path, version = version)
      val aggs = count(lit(1)).cast("long").as("n_rows") +:
        cols.flatMap(c => Seq(
          min(col(c)).as(s"min_$c"),
          max(col(c)).as(s"max_$c"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).cast("long").as(s"nulls_$c")))
      StatsAggResult(df.agg(aggs.head, aggs.tail: _*), metadataOnly = false)
    }
  }

  /** Per-partition row counts answered from the log alone: one row per
    * active partition, `n_rows` summed from per-file numRecords — the
    * `SELECT pcols, COUNT(*) GROUP BY pcols` a 100 TB pipeline asks
    * before deciding how to split work, for the cost of metadata already
    * resident from snapshot construction. Partition values are cast from
    * their log string form through the table schema (hive semantics, the
    * same conversion the scan path applies), so the frame is typed
    * exactly like the scan answer. Falls back to a real grouped scan when
    * any active file lacks numRecords. */
  def partitionCounts(
      spark: SparkSession, path: String,
      version: Option[Long] = None): StatsAggResult = {
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(version)
    val pcols = snap.partitionColumns
    require(pcols.nonEmpty, s"table at $path is not partitioned")
    val typeOf = snap.schema.fields.map(f => f.name -> f.dataType).toMap
    // partitionValues are PHYSICAL-keyed under column mapping — look up
    // by physical name or a mapped table's partitions would all read null
    val physOf = snap.schema.fields
      .map(f => f.name -> DeltaRead.physicalNameOf(f)).toMap
    // DV cardinality is exactly the file's deleted-row count, so live
    // rows = numRecords − cardinality stays metadata-exact
    val counts = snap.activeFiles.map(f =>
      f.partitionValues ->
        StatsPruning.parse(f.stats).flatMap(_.numRecords).map(_ - f.dvCardinality))
    if (counts.forall(_._2.isDefined)) {
      val grouped = counts
        .groupBy(_._1)
        .map { case (pv, fs) => pv -> fs.map(_._2.get).sum }
        .toSeq
      val raw = StructType(
        pcols.map(c => StructField(c, StringType)) :+
          StructField("n_rows", LongType, nullable = false))
      val rows = grouped.map { case (pv, n) =>
        Row.fromSeq(pcols.map(c =>
          pv.get(physOf.getOrElse(c, c)).flatMap(Option(_)).orNull) :+ n)
      }
      import scala.jdk.CollectionConverters._
      val df = spark.createDataFrame(rows.asJava, raw)
        .select(pcols.map(c => col(c).cast(typeOf(c)).as(c)) :+ col("n_rows"): _*)
      StatsAggResult(df, metadataOnly = true)
    } else
      StatsAggResult(
        GraftDelta.readDelta(spark, path, version = version)
          .groupBy(pcols.map(col): _*)
          .agg(count(lit(1)).cast("long").as("n_rows")),
        metadataOnly = false)
  }

  /** Result of [[countWhere]]: the exact count plus how each active file
    * was settled — `filesExcluded` pruned by may-match, `filesFromStats`
    * proven fully-matching and counted from numRecords, `filesScanned`
    * boundary files that needed a real read. */
  final case class CountWhereResult(
      count: Long, filesTotal: Int, filesExcluded: Int,
      filesFromStats: Int, filesScanned: Int)

  /** Predicate-scoped COUNT(*) as a hybrid metadata/scan query: files the
    * per-file stats PROVE fully inside the predicate contribute their
    * numRecords with zero I/O; files provably outside are skipped; only
    * the boundary files — the ones straddling a predicate edge — are
    * scanned (with the predicate applied row-level). On a range-clustered
    * 100 TB table a selective range predicate touches O(boundary) files
    * instead of O(matching) — the count is exact either way, the proof
    * obligations (no nulls, stats present, sound under foreign writers'
    * outward-truncated string stats) live in StatsPruning.mustMatch.
    * Column-mapped tables take the scan path wholesale (their stats are
    * keyed physically; correctness first). */
  def countWhere(
      spark: SparkSession, path: String, filters: Seq[Seq[Predicate]],
      version: Option[Long] = None): CountWhereResult = {
    require(filters.nonEmpty, "countWhere needs a predicate; use statsAggregate for totals")
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(version)
    val partCols = snap.partitionColumns.toSet
    val fieldTypes = snap.schema.fields.map(f => f.name -> f.dataType).toMap

    val may = DeltaRead.prunedFiles(snap, filters)
    // partitionValues and stats are PHYSICAL-keyed under column mapping;
    // predicates arrive logical — translate (the prunedFiles contract)
    val physOf = snap.schema.fields
      .map(f => f.name -> DeltaRead.physicalNameOf(f)).toMap
    def physName(c: String): String = physOf.getOrElse(c, c)
    val (proven, boundary) =
      may.partition { f =>
        lazy val stats = StatsPruning.parse(f.stats)
        stats.exists(_.numRecords.isDefined) && filters.exists(_.forall { p =>
          if (partCols.contains(p.column))
            DeltaRead.evalPredicate(
              f.partitionValues.get(physName(p.column)).flatMap(Option(_)),
              fieldTypes.getOrElse(p.column, StringType), p)
          else StatsPruning.mustMatch(stats, p.copy(column = physName(p.column)))
        })
      }
    // proven files with a DV: every LIVE row still matches (live ⊆ all,
    // and stats proved all) — contribute numRecords − cardinality
    val statsCount = proven
      .map(f => StatsPruning.parse(f.stats).flatMap(_.numRecords).get - f.dvCardinality).sum
    val scanCount =
      if (boundary.isEmpty) 0L
      else DeltaRead.fromSnapshot(
        spark, path, snap.copy(activeFiles = boundary), filters = filters).count()
    CountWhereResult(
      count = statsCount + scanCount,
      filesTotal = snap.activeFiles.size,
      filesExcluded = snap.activeFiles.size - may.size,
      filesFromStats = proven.size,
      filesScanned = boundary.size)
  }

  /** The reference's fixed 9-column history projection (core.py:99-107),
    * commitInfo of every commit, timestamp-descending, optional limit.
    * Returns a real (small) DataFrame. */
  def history(spark: SparkSession, path: String, limit: Option[Int] = None): DataFrame = {
    val log = DeltaLog.forTable(spark, path)
    if (!log.fs.exists(new Path(path)))
      throw new IllegalArgumentException(s"Path does not exist: $path")
    historyOf(log, limit)
  }

  /** History over an existing log handle (limit pushed down: only the
    * newest n commit files are parsed — pinned by GoldenReadSpec). */
  def historyOf(log: DeltaLog, limit: Option[Int]): DataFrame = {
    val spark = log.spark
    val rows = log.commitInfos(limit).map { case (v, ciOpt) =>
      // commits without commitInfo use the same file-mtime fallback clock
      // as time travel, so the two surfaces order identically
      val ci = ciOpt.getOrElse(CommitInfo(log.commitFallbackTimestamp(v), ""))
      Row(
        // the monotonic in-commit clock is authoritative when present,
        // matching time travel and the change feed
        new java.sql.Timestamp(ci.inCommitTimestamp.getOrElse(ci.timestamp)),
        ci.operation,
        ci.operationParameters.get("mode").orNull,
        ci.operationMetrics.get("numFiles").orNull,
        ci.operationMetrics.get("numOutputBytes").orNull,
        ci.operationMetrics.get("numOutputRows").orNull,
        ci.operationParameters.get("partitionBy").orNull,
        ci.readVersion.map(Long.box).orNull,
        ci.isBlindAppend.map(Boolean.box).orNull,
        v
      )
    }
    val schema = StructType(Seq(
      StructField("timestamp", TimestampType),
      StructField("operation", StringType),
      StructField("operationParameters_mode", StringType),
      StructField("operationMetrics_numFiles", StringType),
      StructField("operationMetrics_numOutputBytes", StringType),
      StructField("operationMetrics_numOutputRows", StringType),
      StructField("operationParameters_partitionBy", StringType),
      StructField("readVersion", LongType),
      StructField("isBlindAppend", BooleanType),
      StructField("version", LongType)
    ))
    val df = spark
      .createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .orderBy(desc("timestamp"), desc("version"))
    limit.map(df.limit).getOrElse(df)
  }

  final case class RestoreResult(
      tableVersion: Long, restoredFiles: Long, removedFiles: Long)

  final case class CloneResult(tableVersion: Long, clonedFiles: Long)

  /** SHALLOW CLONE: create a new Delta table at `targetPath` whose
    * commit 0 re-adds every active file of the source snapshot by
    * ABSOLUTE path — metadata-only, no byte of data is copied, O(files)
    * not O(bytes) (the delta-spark `CREATE TABLE … SHALLOW CLONE`
    * contract; the Delta protocol sanctions absolute `add.path`).
    * The clone's history, schema and configuration evolve independently
    * from commit 0 on; files the clone itself writes (appends, DML
    * rewrites, OPTIMIZE) land under the clone's root, and [[vacuum]]
    * never deletes outside a table's own root — so no operation on the
    * clone can corrupt the source.
    *
    * At 100 TB this is what makes experiment forks practical: cloning a
    * petabyte table is one driver-side log write. */
  def shallowClone(
      spark: SparkSession, sourcePath: String, targetPath: String,
      version: Option[Long] = None, replace: Boolean = false): CloneResult = {
    val srcLog = DeltaLog.forTable(spark, sourcePath)
    val snap = srcLog.snapshot(version)
    val tgtLog = DeltaLog.forTable(spark, targetPath)
    val exists =
      try { tgtLog.latestVersion; true }
      catch { case _: IllegalArgumentException => false }
    require(!exists || replace,
      s"Cannot clone into $targetPath: already a Delta table (use OR REPLACE)")
    // CREATE OR REPLACE ... CLONE: one history-preserving commit swaps
    // the whole snapshot — the prior actives tombstone beside the
    // clone's adds, metadata/protocol replace wholesale, the table id
    // stays (it is the same table, replaced)
    val tgtSnap = if (exists) Some(tgtLog.snapshot(None)) else None
    val commitV = tgtSnap.map(_.version + 1).getOrElse(0L)
    val now = System.currentTimeMillis()
    val adds = snap.activeFiles.map { f =>
      val abs = DeltaRead.resolvePath(sourcePath, f.path)
      // store scheme-qualified URIs as-is (already URI form); encode the
      // segments of bare absolute paths so decode on read round-trips
      val stored =
        if (hasScheme(abs)) abs
        else "/" + DeltaWrite.uriEncodePath(abs.stripPrefix("/"))
      // a UUID-relative deletion vector resolves against the SOURCE root;
      // pin it absolute ("p") so the clone can never mis-resolve it
      val dv = f.deletionVector.map { d =>
        if (d.storageType == "u")
          d.copy(storageType = "p",
            pathOrInlineDv = new Path(sourcePath,
              DeletionVectors.dvFileName(
                DeletionVectors.uuidOfDescriptor(d))).toString)
        else d
      }
      f.copy(path = stored, dataChange = true, deletionVector = dv)
    }
    val meta = snap.metadata.copy(
      id = tgtSnap.map(_.metadata.id)
        .getOrElse(java.util.UUID.randomUUID().toString),
      createdTime = Some(now))
    val ci = CommitInfo(now, "CLONE",
      operationParameters = Map(
        "source" -> sourcePath,
        "sourceVersion" -> snap.version.toString),
      operationMetrics = Map(
        "numClonedFiles" -> adds.size.toString,
        "numOutputRows" -> "0"),
      readVersion = tgtSnap.map(_.version),
      isBlindAppend = Some(false))
    // a clone of a row-tracking table carries the id watermark too —
    // without it the clone's next append would re-allocate ids the
    // cloned files already hold
    val domainActs = snap.domainMetadata.toSeq.map { case (d, cfg) =>
      DomainMetadata(d, cfg)
    }
    val removes = tgtSnap.toSeq.flatMap(_.activeFiles).map(_.remove(now))
    tgtLog.writeCommit(commitV, Seq(ci, snap.protocol, meta) ++ domainActs ++ adds ++ removes)
    CloneResult(commitV, adds.size)
  }

  private def hasScheme(p: String): Boolean =
    try new java.net.URI(p).isAbsolute
    catch { case _: java.net.URISyntaxException => false }

  /** DEEP CLONE: an independent physical copy of the pinned snapshot —
    * every active data file copies under the target root (its original
    * relative layout when relative; a flat unique name when the source
    * add is absolute, e.g. deep-cloning a shallow clone to materialize
    * it), and commit 0 re-adds them with the same stats, partition
    * values, and row-tracking watermark. Deletion vectors are loaded
    * from the source and re-written as ONE fresh DV file under the
    * target, so the clone shares zero storage with the source: vacuum
    * on either side can never touch the other (the shallow-clone
    * guarantee, without the source-lifetime dependency).
    *
    * File copies go through [[FanOut]] (one Spark job above its
    * threshold) — the data plane of the clone is distributed; the commit
    * is one driver-side control-plane write like every other commit. */
  def deepClone(
      spark: SparkSession, sourcePath: String, targetPath: String,
      version: Option[Long] = None, replace: Boolean = false): CloneResult = {
    val srcLog = DeltaLog.forTable(spark, sourcePath)
    val snap = srcLog.snapshot(version)
    val tgtLog = DeltaLog.forTable(spark, targetPath)
    val exists =
      try { tgtLog.latestVersion; true }
      catch { case _: IllegalArgumentException => false }
    require(!exists || replace,
      s"Cannot clone into $targetPath: already a Delta table (use OR REPLACE)")
    val tgtSnap = if (exists) Some(tgtLog.snapshot(None)) else None
    val commitV = tgtSnap.map(_.version + 1).getOrElse(0L)
    val conf = spark.sessionState.newHadoopConf()
    val srcRoot = new Path(sourcePath)
    val tgtRoot = new Path(targetPath)
    val tgtFs = tgtRoot.getFileSystem(conf)
    tgtFs.mkdirs(tgtRoot)

    // (source absolute path, stored target add.path URI) per file
    val plan: Seq[(String, String)] = snap.activeFiles.zipWithIndex.map { case (f, i) =>
      val abs = DeltaRead.resolvePath(sourcePath, f.path)
      val stored =
        if (tgtSnap.isDefined)
          // REPLACE: the prior snapshot's files stay live for time travel
          // until vacuum — copies take commit-versioned unique names so
          // they can never overwrite a still-referenced file
          f"deep-v$commitV-$i%05d-${new Path(abs).getName}"
        else if (hasScheme(f.path) || f.path.startsWith("/"))
          f"deep-$i%05d-${new Path(abs).getName}"
        else f.path // keep the original relative (encoded) layout
      (abs, stored)
    }
    FanOut(spark, plan) { case (c, (src, storedRel)) =>
      val from = new Path(src)
      val to = new Path(targetPath, DeltaWrite.unescapePathName(storedRel))
      // overwrite=true: the copy is deterministic, so a retried or
      // speculative task re-copying the same bytes must succeed, not
      // fail on its predecessor's output
      org.apache.hadoop.fs.FileUtil.copy(from.getFileSystem(c), from, to.getFileSystem(c), to,
        /*deleteSource=*/ false, /*overwrite=*/ true, c)
    }

    // DVs re-materialize as one fresh file under the TARGET root:
    // O(#dv-carrying files) driver-side bitmap loads (KB each — the
    // same blobs-only control-plane shape as DV DML)
    val srcFs = srcRoot.getFileSystem(conf)
    val dvCarriers = snap.activeFiles.filter(_.deletionVector.isDefined)
    val freshDvs: Map[String, DeletionVectorDescriptor] =
      if (dvCarriers.isEmpty) Map.empty
      else DeletionVectors.writeDvFile(tgtFs, tgtRoot,
        dvCarriers.map(f => f.path ->
          DeletionVectors.loadBitmap(srcFs, srcRoot, f.deletionVector.get)))

    val now = System.currentTimeMillis()
    val storedByPath = plan.toMap.map { case (abs, rel) => abs -> rel }
    val adds = snap.activeFiles.zipWithIndex.map { case (f, i) =>
      val abs = DeltaRead.resolvePath(sourcePath, f.path)
      f.copy(path = storedByPath(abs), dataChange = true,
        modificationTime = now,
        deletionVector = f.deletionVector.map(_ => freshDvs(f.path)))
    }
    val meta = snap.metadata.copy(
      id = tgtSnap.map(_.metadata.id)
        .getOrElse(java.util.UUID.randomUUID().toString),
      createdTime = Some(now))
    val ci = CommitInfo(now, "CLONE",
      operationParameters = Map(
        "source" -> sourcePath,
        "sourceVersion" -> snap.version.toString,
        "isShallow" -> "false"),
      operationMetrics = Map(
        "numClonedFiles" -> adds.size.toString,
        "numCopiedBytes" -> adds.map(_.size).sum.toString),
      readVersion = tgtSnap.map(_.version),
      isBlindAppend = Some(false))
    val domainActs = snap.domainMetadata.toSeq.map { case (d, cfg) =>
      DomainMetadata(d, cfg)
    }
    val removes = tgtSnap.toSeq.flatMap(_.activeFiles).map(_.remove(now))
    tgtLog.writeCommit(commitV, Seq(ci, snap.protocol, meta) ++ domainActs ++ adds ++ removes)
    CloneResult(commitV, adds.size)
  }

  final case class FsckResult(tableVersion: Long, removedEntries: Long)

  /** FSCK REPAIR TABLE: drop log entries whose data files no longer
    * exist on storage (manual deletion, a botched lifecycle policy) —
    * one commit of removes, so scans stop failing on the missing files
    * while every surviving row stays untouched. `dryRun` reports without
    * committing. The existence check goes through [[FanOut]] (one Spark
    * job above its threshold) — O(#files) control-plane, zero data I/O. */
  def fsckRepair(
      spark: SparkSession, path: String, dryRun: Boolean = false): FsckResult = {
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    val exists = FanOut(spark, snap.activeFiles.map(_.path)) { (c, rel) =>
      val p = new Path(DeltaRead.resolvePath(path, rel))
      p.getFileSystem(c).exists(p)
    }
    val missing = snap.activeFiles.zip(exists).collect { case (f, false) => f }
    if (missing.isEmpty || dryRun)
      return FsckResult(snap.version, missing.size.toLong)
    val now = System.currentTimeMillis()
    val removes = missing.map(_.remove(now))
    val ci = CommitInfo(now, "FSCK",
      operationMetrics = Map("numRemovedFiles" -> removes.size.toString),
      readVersion = Some(snap.version), isBlindAppend = Some(false))
    log.writeCommit(snap.version + 1, Seq(ci) ++ removes)
    FsckResult(snap.version + 1, removes.size.toLong)
  }

  final case class ConvertResult(numFiles: Long, partitionColumns: Seq[String])

  /** CONVERT TO DELTA: turn an existing plain-parquet directory (flat or
    * hive-partitioned) into a Delta table IN PLACE — no data is moved or
    * rewritten; commit 0 `add`s every parquet file with footer-harvested
    * stats, so data skipping works from the first query. Schema and
    * partition-column types come from Spark's own parquet/hive discovery
    * (one schema-inference pass); partition columns are parsed from the
    * first file's `col=val` path segments.
    *
    * Scale: the data plane is untouched (converting a petabyte lake is
    * metadata work); stats harvesting opens footers only and goes
    * through [[FanOut]] like the writer's move phase. */
  def convertToDelta(spark: SparkSession, path: String): ConvertResult = {
    val log = DeltaLog.forTable(spark, path)
    require(!log.tableExists, s"$path is already a Delta table")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(root), s"Path does not exist: $path")
    val files = DeltaWrite.listParquetFiles(fs, root)
    require(files.nonEmpty, s"No parquet files under $path")

    // schema via Spark's discovery (typed partition columns included)
    val schema = spark.read.option("basePath", path).parquet(path).schema
    val rel0 = DeltaWrite.relativize(root, files.head.getPath)
    val partCols: Seq[String] = rel0.split('/').dropRight(1).toSeq
      .filter(_.contains('=')).map(seg =>
        DeltaWrite.unescapePathName(seg.split("=", 2)(0)))
    val statsSchema = DeltaWrite.statsSchemaOf(schema, partCols, Map.empty)

    val rootStr = path // executor-side closures capture the string, not the Path
    def toAdd(conf: org.apache.hadoop.conf.Configuration,
        filePath: String, size: Long, mtime: Long): AddFile = {
      val p = new Path(filePath)
      val rel = DeltaWrite.relativize(new Path(rootStr), p)
      AddFile(
        path = DeltaWrite.uriEncodePath(rel),
        partitionValues = DeltaWrite.partitionValuesFromPath(rel, partCols),
        size = size, modificationTime = mtime, dataChange = true,
        stats = Some(DeltaWrite.harvestStats(conf, p, statsSchema)))
    }
    val adds = FanOut(spark, files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime))) {
      case (conf, (p, sz, mt)) => toAdd(conf, p, sz, mt)
    }

    val now = System.currentTimeMillis()
    val meta = MetadataAction(
      id = java.util.UUID.randomUUID().toString,
      schemaString = DeltaWrite.normalize(schema).json,
      partitionColumns = partCols,
      createdTime = Some(now))
    val ci = CommitInfo(now, "CONVERT",
      operationParameters = Map(
        "numFiles" -> adds.size.toString,
        "partitionBy" -> (if (partCols.isEmpty) "[]"
                          else partCols.mkString("[\"", "\",\"", "\"]"))),
      isBlindAppend = Some(false))
    // a discovered TIMESTAMP_NTZ / VARIANT column carries the same
    // protocol obligation as a written one (see DeltaWrite)
    val typeFeats = DeltaWrite.typeFeaturesOf(DeltaWrite.normalize(schema))
    val proto =
      if (typeFeats.nonEmpty)
        Protocol(3, 7,
          readerFeatures = Some(typeFeats),
          writerFeatures = Some(
            (DeltaLog.legacyWriterFeatures(Protocol(1, 2)) ++ typeFeats).distinct))
      else Protocol(1, 2)
    log.writeCommit(0L, Seq(ci, proto, meta) ++ adds)
    ConvertResult(adds.size, partCols)
  }

  final case class ConstraintResult(tableVersion: Long, name: String)

  /** ALTER TABLE … ADD CONSTRAINT … CHECK (expr): validates the whole
    * current table against the predicate (one distributed scan counting
    * violations — the delta-spark contract), then commits the constraint
    * into metadata configuration (`delta.constraints.<name>`) and raises
    * the protocol to writer version 3. Every subsequent write — append,
    * overwrite, DML rewrite — re-validates in-flight
    * (DeltaWrite.withConstraintsEnforced). */
  /** ALTER TABLE … SET TBLPROPERTIES (delta.enableChangeDataFeed=true):
    * metadata-only commit; from the NEXT commit on, every row-removing
    * write records its exact changes as `cdc` actions (DeltaWrite
    * .stageFiles) and [[tableChanges]] serves them per-row. Upgrades the
    * protocol the addCheckConstraint way: legacy writers bump to 4,
    * table-features writers list 'changeDataFeed' explicitly. Refused on
    * column-mapped tables (the cdc plane is not mapped-aware) and on
    * schemas that collide with the feed's reserved column names. */
  def enableChangeDataFeed(spark: SparkSession, path: String): Long = {
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    DeltaWrite.requireWriterSupported(snap)
    val reserved =
      Set(ChangeFeed.ChangeTypeCol, ChangeFeed.CommitVersionCol, "_commit_timestamp")
    val clash = snap.schema.fieldNames.filter(reserved.contains)
    require(clash.isEmpty,
      s"Cannot enable the change data feed: column(s) ${clash.mkString(", ")} " +
        "collide with the feed's reserved names")
    if (DeltaWrite.cdfEnabled(snap)) return snap.version // idempotent
    val meta = snap.metadata.copy(configuration =
      snap.metadata.configuration + ("delta.enableChangeDataFeed" -> "true"))
    val proto =
      if (snap.protocol.minWriterVersion >= 7) {
        val feats = snap.protocol.writerFeatures.getOrElse(Nil)
        if (feats.contains("changeDataFeed")) Nil
        else Seq(snap.protocol.copy(writerFeatures = Some(feats :+ "changeDataFeed")))
      } else if (snap.protocol.minWriterVersion >= 4) Nil
      else Seq(snap.protocol.copy(minWriterVersion = 4))
    val ci = CommitInfo(System.currentTimeMillis(), "SET TBLPROPERTIES",
      operationParameters =
        Map("properties" -> """{"delta.enableChangeDataFeed":"true"}"""),
      readVersion = Some(snap.version), isBlindAppend = Some(false))
    log.writeCommit(snap.version + 1, Seq(ci) ++ proto ++ Seq(meta))
    snap.version + 1
  }

  /** ALTER TABLE … SET TBLPROPERTIES (generic): merge the given
    * properties into the table configuration as one metadata-only
    * commit. Properties whose enablement carries protocol upgrades or
    * backfill work (column mapping, CDF, row tracking, ICT) refuse here
    * with a pointer at their dedicated path — a bare config flip would
    * skip the obligations those features impose. */
  def setTableProperties(
      spark: SparkSession, path: String, props: Map[String, String]): Long = {
    require(props.nonEmpty, "SET TBLPROPERTIES requires at least one property")
    val dedicated = Map(
      "delta.columnMapping.mode" -> "enableColumnMapping",
      "delta.enableChangeDataFeed" -> "enableChangeDataFeed",
      "delta.enableRowTracking" -> "RowTracking.enable",
      "delta.enableInCommitTimestamps" -> "enableInCommitTimestamps")
    // ENABLING carries feature obligations (protocol upgrade, backfill)
    // → the dedicated API; DISABLING a boolean enablement property is a
    // plain metadata flip and is the documented prerequisite of DROP
    // FEATURE. columnMapping.mode has no safe "off" — always dedicated.
    val disableOk = Set("delta.enableChangeDataFeed", "delta.enableRowTracking",
      "delta.enableInCommitTimestamps")
    props.find { case (k, v) =>
      dedicated.contains(k) && !(disableOk(k) && v.trim.equalsIgnoreCase("false"))
    }.foreach { case (k, _) =>
      throw new IllegalArgumentException(
        s"Property $k has feature obligations — use ${dedicated(k)} instead")
    }
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    DeltaWrite.requireWriterSupported(snap)
    val meta = snap.metadata.copy(configuration = snap.metadata.configuration ++ props)
    val ci = CommitInfo(System.currentTimeMillis(), "SET TBLPROPERTIES",
      operationParameters = Map("properties" ->
        props.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")),
      readVersion = Some(snap.version), isBlindAppend = Some(false))
    log.writeCommit(snap.version + 1, Seq(ci, meta))
    snap.version + 1
  }

  /** ALTER TABLE … ALTER COLUMN … TYPE — type widening (the
    * `typeWidening` reader+writer feature): one metadata-only commit
    * flips the declared type and records the transition in the field's
    * `delta.typeChanges` metadata; files written before the change keep
    * their narrow physical type and the scan widens them (Spark's
    * vectorized reader performs the protocol's allowed conversions — the
    * read side of this feature shipped first, `DeltaLog
    * .SupportedReaderFeatures`). Only the protocol's widenings are
    * legal; anything else refuses — a narrowing or a cross-family cast
    * would corrupt files already on disk. */
  def widenColumnType(
      spark: SparkSession, path: String, column: String,
      newType: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.types._
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    val field = snap.schema.fields.find(_.name.equalsIgnoreCase(column))
      .getOrElse(throw new IllegalArgumentException(
        s"Unknown column $column in ${snap.schema.fieldNames.mkString(", ")}"))
    def widens(from: DataType, to: DataType): Boolean = (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (IntegerType | ByteType | ShortType, DoubleType) => true
      case (DateType, TimestampNTZType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale
      case _ => false
    }
    require(widens(field.dataType, newType),
      s"ALTER COLUMN $column TYPE: ${field.dataType.simpleString} → " +
        s"${newType.simpleString} is not a protocol type widening " +
        "(byte→short→int→long, float→double, int→double, date→timestamp_ntz, " +
        "decimal precision/scale growth)")
    def protoName(dt: DataType): String = dt match {
      case ByteType => "byte"
      case ShortType => "short"
      case IntegerType => "integer"
      case LongType => "long"
      case FloatType => "float"
      case DoubleType => "double"
      case DateType => "date"
      case TimestampNTZType => "timestampNtz"
      case d: DecimalType => s"decimal(${d.precision},${d.scale})"
      case other => other.typeName
    }
    val prior: Array[Metadata] =
      if (field.metadata.contains("delta.typeChanges"))
        field.metadata.getMetadataArray("delta.typeChanges")
      else Array.empty
    val widened = StructType(snap.schema.fields.map { f =>
      if (f.name.equalsIgnoreCase(column))
        StructField(f.name, newType, f.nullable,
          new MetadataBuilder().withMetadata(f.metadata)
            .putMetadataArray("delta.typeChanges", prior :+
              new MetadataBuilder()
                .putString("fromType", protoName(field.dataType))
                .putString("toType", protoName(newType)).build())
            .build())
      else f
    })
    val cur = snap.protocol
    val needsFeature = !cur.readerFeatures.exists(_.contains("typeWidening"))
    val protocol =
      if (!needsFeature) None
      else Some(Protocol(3, 7,
        readerFeatures = Some(
          (DeltaLog.legacyReaderFeatures(cur) :+ "typeWidening").distinct),
        writerFeatures = Some(
          (DeltaLog.legacyWriterFeatures(cur) :+ "typeWidening").distinct)))
    val ci = CommitInfo(System.currentTimeMillis(), "ALTER COLUMN TYPE",
      operationParameters = Map("column" -> column,
        "fromType" -> field.dataType.simpleString,
        "toType" -> newType.simpleString),
      readVersion = Some(snap.version), isBlindAppend = Some(false))
    log.writeCommit(snap.version + 1,
      Seq(ci) ++ protocol.toSeq ++
        Seq(snap.metadata.copy(schemaString = widened.json)))
    snap.version + 1
  }

  /** Liquid clustering (writer feature `clustering` + the
    * `delta.clustering` domain): store the clustering columns so OPTIMIZE
    * lays data out by them without the caller re-naming the layout each
    * run — Z-order for ≥2 columns, range for one. Writes stay unclustered
    * (the delta-spark OSS contract: clustering is OPTIMIZE's job, appends
    * are never forced through a global sort). One metadata-only commit:
    * protocol → writer 7 with `clustering` + `domainMetadata` enumerating
    * every legacy-implied feature, plus the domain carrying the columns.
    * Clustered tables must be unpartitioned (delta's own constraint —
    * two competing physical layouts). `Nil` removes the clustering spec. */
  def clusterBy(spark: SparkSession, path: String, columns: Seq[String]): Long = {
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    require(snap.partitionColumns.isEmpty,
      s"CLUSTER BY on a partitioned table (${snap.partitionColumns.mkString(",")}) " +
        "— clustering and hive partitioning are competing physical layouts")
    columns.foreach(c => require(snap.schema.fieldNames.contains(c),
      s"Unknown clustering column: $c"))
    val cur = snap.protocol
    val needsUpgrade = !cur.writerFeatures.exists(_.contains("clustering"))
    val protocol =
      if (!needsUpgrade) None
      else Some(Protocol(cur.minReaderVersion, 7,
        readerFeatures = cur.readerFeatures,
        writerFeatures = Some((DeltaLog.legacyWriterFeatures(cur) ++
          Seq("clustering", "domainMetadata")).distinct)))
    val domain =
      if (columns.isEmpty)
        // CLUSTER BY NONE: evict the domain — replay keeps the latest
        // per-domain state, so a removed entry unclusters the table
        DomainMetadata(ClusteringDomain, "{}", removed = true)
      else DomainMetadata(ClusteringDomain,
        s"""{"clusteringColumns":${columns.map(c => s"""["$c"]""").mkString("[", ",", "]")}}""",
        removed = false)
    val ci = CommitInfo(System.currentTimeMillis(), "CLUSTER BY",
      operationParameters = Map("clusterBy" -> columns.mkString(",")),
      readVersion = Some(snap.version), isBlindAppend = Some(false))
    log.writeCommit(snap.version + 1, Seq(ci) ++ protocol.toSeq ++ Seq(domain))
    snap.version + 1
  }

  private[delta] val ClusteringDomain = "delta.clustering"

  /** The stored clustering column names of a snapshot (top-level columns;
    * the domain encodes each as a single-element name path), Nil when the
    * table is unclustered. */
  private[graft] def clusteringColumnsOf(snap: Snapshot): Seq[String] =
    snap.domainMetadata.get(ClusteringDomain).toSeq.flatMap { cfg =>
      try {
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(cfg)
        val arr = node.get("clusteringColumns")
        if (arr == null || !arr.isArray) Nil
        else (0 until arr.size()).map { i =>
          val p = arr.get(i)
          if (p.isArray) (0 until p.size()).map(p.get(_).asText()).mkString(".")
          else p.asText()
        }.toSeq
      } catch { case _: Exception =>
        throw new IllegalStateException(
          s"Unparseable $ClusteringDomain domain configuration: $cfg")
      }
    }

  /** GENERATE symlink_format_manifest — Presto/Trino/Athena interop: one
    * `manifest` text file per partition under
    * `_symlink_format_manifest/`, each line the absolute URI of an
    * active data file. Refuses DV-carrying snapshots loudly (a manifest
    * names whole files; symlink readers would resurrect soft-deleted
    * rows) — OPTIMIZE purges DVs first. Manifests are O(#files)
    * control-plane text, same cardinality as any log replay; the
    * manifest tree is rebuilt from scratch so dropped partitions can't
    * leave stale manifests behind. Returns the manifest (partition)
    * count. */
  def generateSymlinkManifest(spark: SparkSession, path: String): Long = {
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    require(snap.activeFiles.forall(_.deletionVector.isEmpty),
      "symlink manifests cannot express deletion vectors — a manifest-based " +
        "reader would see soft-deleted rows; OPTIMIZE the table first (it " +
        "purges DVs), then GENERATE")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val manifestRoot = new Path(root, "_symlink_format_manifest")
    fs.delete(manifestRoot, true)
    val groups = snap.activeFiles.groupBy(_.partitionValues)
    groups.foreach { case (pv, files) =>
      val dir =
        if (snap.partitionColumns.isEmpty) manifestRoot
        else new Path(manifestRoot, snap.partitionColumns.map { c =>
          // hive path escaping, same convention as data-file partition
          // dirs — a value containing '/' or '=' must not fork the tree
          val v = pv.get(c).flatMap(Option(_)).map(
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName)
          s"$c=${v.getOrElse("__HIVE_DEFAULT_PARTITION__")}"
        }.mkString("/"))
      fs.mkdirs(dir)
      val out = fs.create(new Path(dir, "manifest"), true)
      try files.foreach { f =>
        val abs = DeltaRead.resolvePath(path, f.path)
        val uri = fs.makeQualified(new Path(abs)).toUri.toString
        out.write((uri + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } finally out.close()
    }
    groups.size.toLong
  }

  /** Protocol upgrade (delta-spark `upgradeTableProtocol`): one commit
    * raising the version floor; downgrades refuse (readers relying on
    * the old floor could mis-read), and crossing into the
    * table-features versions (reader 3 / writer 7) enumerates every
    * legacy-implied feature — a feature-aware client may legally skip
    * any obligation the enumeration omits. */
  def upgradeTableProtocol(
      spark: SparkSession, path: String, minReader: Int, minWriter: Int): Long = {
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    val cur = snap.protocol
    require(minReader >= cur.minReaderVersion && minWriter >= cur.minWriterVersion,
      s"Protocol downgrade refused: ($minReader,$minWriter) < " +
        s"(${cur.minReaderVersion},${cur.minWriterVersion})")
    require(minReader <= 3 && minWriter <= 7,
      s"Unknown protocol versions ($minReader,$minWriter): max supported (3,7)")
    val next = Protocol(minReader, minWriter,
      readerFeatures =
        if (minReader >= 3) Some(DeltaLog.legacyReaderFeatures(cur).distinct) else None,
      writerFeatures =
        if (minWriter >= 7) Some(DeltaLog.legacyWriterFeatures(cur).distinct) else None)
    val ci = CommitInfo(System.currentTimeMillis(), "UPGRADE PROTOCOL",
      operationParameters = Map(
        "minReaderVersion" -> minReader.toString,
        "minWriterVersion" -> minWriter.toString),
      readVersion = Some(snap.version), isBlindAppend = Some(false))
    log.writeCommit(snap.version + 1, Seq(ci, next))
    snap.version + 1
  }

  /** ALTER TABLE … UNSET TBLPROPERTIES: remove configuration keys in one
    * metadata-only commit. Keys whose ENABLEMENT carried protocol or
    * backfill obligations (column mapping, CDF, row tracking, ICT)
    * refuse — removing the config flag would leave the table half-in a
    * feature (mapped physical names, materialized row ids, ICT clocks)
    * with no disable protocol behind the flip. Without `ifExists` every
    * key must currently be set (the IF EXISTS contract). */
  def unsetTableProperties(
      spark: SparkSession, path: String, keys: Seq[String],
      ifExists: Boolean = false): Long = {
    require(keys.nonEmpty, "UNSET TBLPROPERTIES requires at least one key")
    val guarded = Set("delta.columnMapping.mode", "delta.enableChangeDataFeed",
      "delta.enableRowTracking", "delta.enableInCommitTimestamps")
    keys.find(guarded.contains).foreach(k =>
      throw new IllegalArgumentException(
        s"Property $k carries feature obligations — unsetting it is not supported"))
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    DeltaWrite.requireWriterSupported(snap)
    if (!ifExists) {
      val missing = keys.filterNot(snap.metadata.configuration.contains)
      require(missing.isEmpty,
        s"UNSET TBLPROPERTIES: not set: ${missing.mkString(", ")} (use IF EXISTS)")
    }
    val meta = snap.metadata.copy(configuration = snap.metadata.configuration -- keys)
    val ci = CommitInfo(System.currentTimeMillis(), "UNSET TBLPROPERTIES",
      operationParameters = Map("properties" -> keys.mkString("[", ",", "]")),
      readVersion = Some(snap.version), isBlindAppend = Some(false))
    log.writeCommit(snap.version + 1, Seq(ci, meta))
    snap.version + 1
  }

  /** DESCRIBE DETAIL: a one-row table summary straight from the snapshot
    * — table identity, location, partitioning, file count and bytes,
    * properties, protocol (features included). O(log replay) driver
    * work, zero data I/O at any table size. */
  def tableDetail(spark: SparkSession, path: String): DataFrame = {
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    val row = Row(
      "delta",
      snap.metadata.id,
      snap.metadata.name.orNull,
      snap.metadata.description.orNull,
      path,
      snap.metadata.createdTime.map(new java.sql.Timestamp(_)).orNull,
      snap.partitionColumns,
      snap.activeFiles.size.toLong,
      snap.activeFiles.map(_.size).sum,
      snap.metadata.configuration,
      snap.protocol.minReaderVersion,
      snap.protocol.minWriterVersion,
      snap.protocol.readerFeatures.getOrElse(Nil),
      snap.protocol.writerFeatures.getOrElse(Nil))
    val schema = StructType(Seq(
      StructField("format", StringType),
      StructField("id", StringType),
      StructField("name", StringType),
      StructField("description", StringType),
      StructField("location", StringType),
      StructField("createdAt", TimestampType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("numFiles", LongType),
      StructField("sizeInBytes", LongType),
      StructField("properties", MapType(StringType, StringType)),
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row), 1), schema)
  }

  /** Enable in-commit timestamps (delta.enableInCommitTimestamps): from
    * this commit on, every commitInfo carries a strictly monotonic
    * `inCommitTimestamp` (stamped in DeltaLog.writeCommit) that time
    * travel, history, and the change feed treat as authoritative over
    * file mtimes — the clock survives log copies/restores that rewrite
    * mtimes. Metadata-only; the enablement commit itself is the first
    * stamped one, and its version/clock are recorded as the provenance
    * properties the spec defines for mixed-history tables. ICT is a
    * writer-7 table feature (no legacy version), so enabling upgrades
    * the protocol, enumerating every legacy-implied feature. */
  def enableInCommitTimestamps(spark: SparkSession, path: String): Long = {
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    DeltaWrite.requireWriterSupported(snap)
    if (snap.metadata.configuration.get("delta.enableInCommitTimestamps")
        .exists(_.trim.equalsIgnoreCase("true")))
      return snap.version // idempotent
    val version = snap.version + 1
    val now = System.currentTimeMillis()
    val meta = snap.metadata.copy(configuration =
      snap.metadata.configuration +
        ("delta.enableInCommitTimestamps" -> "true") +
        ("delta.inCommitTimestampEnablementVersion" -> version.toString) +
        ("delta.inCommitTimestampEnablementTimestamp" -> now.toString))
    val proto = {
      val feats = DeltaLog.legacyWriterFeatures(snap.protocol)
      if (feats.contains("inCommitTimestamp")) Nil
      else Seq(snap.protocol.copy(minWriterVersion = 7,
        writerFeatures = Some((feats :+ "inCommitTimestamp").distinct)))
    }
    val ci = CommitInfo(now, "SET TBLPROPERTIES",
      operationParameters =
        Map("properties" -> """{"delta.enableInCommitTimestamps":"true"}"""),
      readVersion = Some(snap.version), isBlindAppend = Some(false))
    log.writeCommit(version, Seq(ci) ++ proto ++ Seq(meta))
    version
  }

  def addCheckConstraint(
      spark: SparkSession, path: String, name: String, exprSql: String): ConstraintResult = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"Constraint name must be alphanumeric/underscore: '$name'")
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    val key = s"delta.constraints.${name.toLowerCase(java.util.Locale.ROOT)}"
    require(!snap.metadata.configuration.contains(key),
      s"Constraint $name already exists on $path")
    val violations = DeltaRead.load(spark, path)
      .filter(!coalesce(expr(exprSql), lit(true))).count()
    if (violations > 0)
      throw new IllegalArgumentException(
        s"Cannot add CHECK constraint $name ($exprSql): " +
          s"$violations existing row(s) violate it")
    val now = System.currentTimeMillis()
    val meta = snap.metadata.copy(
      configuration = snap.metadata.configuration + (key -> exprSql))
    // Legacy protocols: writer ≥ 3 implies constraints. Table-features
    // protocols (writer 7) imply NOTHING by version — the feature must be
    // listed, or a feature-aware foreign writer that supports writer 7
    // but not checkConstraints would legally write unvalidated rows.
    val proto =
      if (snap.protocol.minWriterVersion >= 7) {
        val feats = snap.protocol.writerFeatures.getOrElse(Nil)
        if (feats.contains("checkConstraints")) Nil
        else Seq(snap.protocol.copy(writerFeatures = Some(feats :+ "checkConstraints")))
      } else if (snap.protocol.minWriterVersion >= 3) Nil
      else Seq(snap.protocol.copy(minWriterVersion = 3))
    val ci = CommitInfo(now, "ADD CONSTRAINT",
      operationParameters = Map("name" -> name, "expr" -> exprSql),
      readVersion = Some(snap.version), isBlindAppend = Some(false))
    log.writeCommit(snap.version + 1, Seq(ci) ++ proto ++ Seq(meta))
    ConstraintResult(snap.version + 1, name)
  }

  /** ALTER TABLE … DROP CONSTRAINT. Protocol is never downgraded (the
    * delta contract — other constraints or historical commits may still
    * require it). */
  def dropConstraint(
      spark: SparkSession, path: String, name: String): ConstraintResult = {
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    val key = s"delta.constraints.${name.toLowerCase(java.util.Locale.ROOT)}"
    require(snap.metadata.configuration.contains(key),
      s"No constraint named $name on $path")
    val meta = snap.metadata.copy(
      configuration = snap.metadata.configuration - key)
    val ci = CommitInfo(System.currentTimeMillis(), "DROP CONSTRAINT",
      operationParameters = Map("name" -> name),
      readVersion = Some(snap.version), isBlindAppend = Some(false))
    log.writeCommit(snap.version + 1, Seq(ci, meta))
    ConstraintResult(snap.version + 1, name)
  }

  final case class MappingResult(tableVersion: Long, maxColumnId: Long)

  /** ALTER TABLE … SET TBLPROPERTIES delta.columnMapping.mode=name — the
    * upgrade that makes RENAME/DROP COLUMN legal. Stamps every field
    * (nested included) with a columnMapping id and physicalName = its
    * CURRENT name (existing parquet files store today's names, so the
    * identity mapping keeps them readable — the delta-spark upgrade
    * contract), records maxColumnId, and raises the protocol to
    * reader 2 / writer 5 (or lists the columnMapping feature when the
    * table already runs table features). Metadata-only: no data file is
    * touched, at any table size. */
  def enableColumnMapping(spark: SparkSession, path: String): MappingResult = {
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    require(DeltaRead.mappingModeOf(snap) == "none",
      s"columnMapping.mode is already '${DeltaRead.mappingModeOf(snap)}' on $path")
    // row tracking composes: the materialized row-id columns are never
    // schema fields — they bind by PHYSICAL parquet name (stored in table
    // config), which renames under mapping can't re-bind; the row-id scan
    // reads them through DeltaRead.scan's extraPhysical seam
    // identity columns compose: the watermark harvest translates to
    // physical stats keys (DeltaWrite.identityRebase)
    // mapped scans apply DVs on the raw physical scan (bitmaps are keyed
    // by file name, independent of mapping) — live DVs are fine here
    var nextId = 0L
    def stampType(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
      dt match {
        case st: StructType => StructType(st.fields.map(stampField))
        case ArrayType(et, n) => ArrayType(stampType(et), n)
        case MapType(k, v, n) => MapType(stampType(k), stampType(v), n)
        case other => other
      }
    def stampField(f: StructField): StructField = {
      nextId += 1
      val id = nextId
      StructField(f.name, stampType(f.dataType), f.nullable,
        new MetadataBuilder().withMetadata(f.metadata)
          .putLong("delta.columnMapping.id", id)
          .putString("delta.columnMapping.physicalName", f.name)
          .build())
    }
    val newSchema = StructType(snap.schema.fields.map(stampField))
    val meta = snap.metadata.copy(
      schemaString = newSchema.json,
      configuration = snap.metadata.configuration ++ Map(
        "delta.columnMapping.mode" -> "name",
        "delta.columnMapping.maxColumnId" -> nextId.toString))
    val proto: Seq[Action] = {
      val p = snap.protocol
      if (p.minReaderVersion >= 3 || p.minWriterVersion >= 7) {
        val rf = p.readerFeatures.getOrElse(Nil)
        val wf = p.writerFeatures.getOrElse(Nil)
        if (rf.contains("columnMapping") && wf.contains("columnMapping")) Nil
        else Seq(Protocol(3, 7,
          readerFeatures = Some((rf :+ "columnMapping").distinct),
          writerFeatures = Some((wf :+ "columnMapping").distinct)))
      } else if (p.minReaderVersion >= 2 && p.minWriterVersion >= 5) Nil
      else Seq(p.copy(
        minReaderVersion = math.max(2, p.minReaderVersion),
        minWriterVersion = math.max(5, p.minWriterVersion)))
    }
    val ci = CommitInfo(System.currentTimeMillis(), "SET TBLPROPERTIES",
      operationParameters = Map("delta.columnMapping.mode" -> "name"),
      readVersion = Some(snap.version), isBlindAppend = Some(false))
    log.writeCommit(snap.version + 1, Seq(ci) ++ proto ++ Seq(meta))
    MappingResult(snap.version + 1, nextId)
  }

  /** ALTER TABLE … RENAME COLUMN — metadata-only under column mapping:
    * the field keeps its id and physicalName, so no data file changes;
    * a renamed partition column also updates partitionColumns (the
    * partitionValues stay physical-keyed). Refuses unmapped tables
    * loudly (a raw rename would orphan every existing file's column). */
  def renameColumn(
      spark: SparkSession, path: String, oldName: String, newName: String): MappingResult = {
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    require(DeltaRead.mappingModeOf(snap) != "none",
      s"RENAME COLUMN requires column mapping — run enableColumnMapping($path) first")
    require(snap.schema.fieldNames.contains(oldName),
      s"No column $oldName in ${snap.schema.fieldNames.mkString(", ")}")
    require(!snap.schema.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"Column $newName already exists")
    val newSchema = StructType(snap.schema.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    val meta = snap.metadata.copy(
      schemaString = newSchema.json,
      partitionColumns = snap.metadata.partitionColumns
        .map(c => if (c == oldName) newName else c))
    val ci = CommitInfo(System.currentTimeMillis(), "RENAME COLUMN",
      operationParameters = Map("from" -> oldName, "to" -> newName),
      readVersion = Some(snap.version), isBlindAppend = Some(false))
    log.writeCommit(snap.version + 1, Seq(ci, meta))
    MappingResult(snap.version + 1,
      snap.metadata.configuration.get("delta.columnMapping.maxColumnId")
        .map(_.toLong).getOrElse(0L))
  }

  /** ALTER TABLE … DROP COLUMN — metadata-only under column mapping: the
    * field leaves the logical schema, existing files keep the physical
    * column and every read projects it away. Partition columns refuse
    * (their values live in the file layout, not a droppable column). */
  def dropColumn(spark: SparkSession, path: String, name: String): MappingResult = {
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    require(DeltaRead.mappingModeOf(snap) != "none",
      s"DROP COLUMN requires column mapping — run enableColumnMapping($path) first")
    require(snap.schema.fieldNames.contains(name),
      s"No column $name in ${snap.schema.fieldNames.mkString(", ")}")
    require(!snap.partitionColumns.contains(name),
      s"Cannot drop partition column $name")
    require(snap.schema.fields.length > 1,
      s"Cannot drop the last column of $path")
    val newSchema = StructType(snap.schema.fields.filterNot(_.name == name))
    val meta = snap.metadata.copy(schemaString = newSchema.json)
    val ci = CommitInfo(System.currentTimeMillis(), "DROP COLUMN",
      operationParameters = Map("column" -> name),
      readVersion = Some(snap.version), isBlindAppend = Some(false))
    log.writeCommit(snap.version + 1, Seq(ci, meta))
    MappingResult(snap.version + 1,
      snap.metadata.configuration.get("delta.columnMapping.maxColumnId")
        .map(_.toLong).getOrElse(0L))
  }

  /** ALTER TABLE … ADD COLUMN — metadata-only at any table size: the new
    * field joins the logical schema as nullable, files written before the
    * change simply lack the physical column, and the scan already
    * surfaces absent columns as nulls (the schema-evolution read path ⑧).
    * Works with or without column mapping; under mapping the new field
    * (nested fields included) gets fresh column ids and a UUID physical
    * name so it can never collide with a previously-dropped column still
    * physically present in old files (the delta-spark convention).
    * `after` / `first` order the field; default appends at the end. */
  final case class TruncateResult(tableVersion: Long, removedFiles: Long, removedRows: Long)

  /** TRUNCATE TABLE — the explicit-intent full-table delete: one commit
    * tombstones every active file (schema, history, and properties
    * survive; time travel to pre-truncate versions still works). The
    * engine's DML surfaces deliberately refuse conditionless operations,
    * so the full wipe is reachable only by naming it.
    *
    * O(#files) metadata at any table size — EXCEPT on a CDF-enabled
    * table, where the change feed's contract requires the dropped rows
    * as explicit 'delete' cdc records (remove-only commits plan nothing
    * in the feed, correctly, because rewrites re-add survivors); there
    * the current table is read once and staged under `_change_data/`.
    * Exactness over speed: the row metric comes from per-file stats when
    * every file carries them, else one counting scan. */
  def truncateTable(spark: SparkSession, path: String): TruncateResult = {
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    DeltaWrite.requireWriterSupported(snap)
    DeltaWrite.requireNotAppendOnly(snap, "TRUNCATE")
    if (snap.activeFiles.isEmpty) return TruncateResult(snap.version, 0L, 0L)
    val now = System.currentTimeMillis()
    val removes = snap.activeFiles.map(_.remove(now))
    val statRows = snap.activeFiles.map(f =>
      StatsPruning.parse(f.stats).flatMap(_.numRecords).map(_ - f.dvCardinality))
    val removedRows: Long =
      if (statRows.forall(_.isDefined)) statRows.flatten.sum
      else DeltaRead.load(spark, path).count()
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val cdcActions =
      if (!DeltaWrite.cdfEnabled(snap)) Nil
      else DeltaWrite.stageFiles(
        DeltaRead.load(spark, path).withColumn("_change_type", lit("delete")),
        path, snap.version + 1, snap.metadata, DeltaWrite.CdcFiles)
    val ci = CommitInfo(now, "TRUNCATE",
      operationParameters = Map.empty,
      operationMetrics = Map(
        "numRemovedFiles" -> removes.size.toString,
        "numDeletedRows" -> removedRows.toString),
      readVersion = Some(snap.version), isBlindAppend = Some(false))
    try log.writeCommit(snap.version + 1, Seq(ci) ++ cdcActions ++ removes)
    catch {
      case e: Throwable =>
        DeltaWrite.deleteStaged(fs, path, cdcActions.map(_.path))
        throw e
    }
    TruncateResult(snap.version + 1, removes.size.toLong, removedRows)
  }

  /** ALTER TABLE … ALTER COLUMN c SET DEFAULT expr — column defaults
    * (writer feature `allowColumnDefaults`, writer-only: readers are
    * unaffected because defaults apply at WRITE time to inserts that
    * omit the column; existing rows never change). The default rides in
    * the field's `CURRENT_DEFAULT` metadata (the delta-spark key), must
    * be a CONSTANT deterministic expression castable to the column type
    * (the protocol's literal-only stance — a row-dependent default would
    * make the same INSERT non-reproducible), and is honored by the SQL
    * INSERT surface when a column list omits the column. One
    * metadata-only commit; partition columns refuse (their values come
    * from the partition spec, never a filler). */
  def setColumnDefault(
      spark: SparkSession, path: String, column: String, exprSql: String): Long = {
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    val field = snap.schema.fields.find(_.name.equalsIgnoreCase(column)).getOrElse(
      throw new IllegalArgumentException(
        s"Column $column not found in ${snap.schema.fieldNames.mkString(", ")}"))
    require(!snap.partitionColumns.exists(_.equalsIgnoreCase(column)),
      s"SET DEFAULT on partition column $column")
    // validate against a ZERO-column relation: any column reference
    // fails analysis (a probe with columns could silently capture them),
    // then determinism is checked on the ANALYZED expression (parse-level
    // UnresolvedFunction claims deterministic), then one evaluation
    // proves the cast to the column type
    val probe =
      try spark.sql(s"SELECT CAST(($exprSql) AS ${field.dataType.sql}) AS d")
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getCondition).exists(_.contains("UNRESOLVED_COLUMN")) =>
          throw new IllegalArgumentException(
            s"DEFAULT must be a constant expression (no column references): $exprSql", e)
      }
    require(probe.queryExecution.analyzed.expressions.forall(_.deterministic),
      s"DEFAULT must be deterministic: $exprSql")
    // the cast must actually PRODUCE a value: under non-ANSI mode an
    // uncastable constant ('abc' AS BIGINT) casts to NULL silently —
    // accepting it would make later INSERTs fill NULL where the user
    // declared a default. A literal NULL default is still legal.
    val casted = probe.collect()(0).isNullAt(0)
    if (casted) {
      val rawIsNull = spark.sql(s"SELECT ($exprSql) IS NULL AS n").collect()(0).getBoolean(0)
      require(rawIsNull,
        s"DEFAULT $exprSql does not cast to ${field.dataType.sql} " +
          "(the cast yields NULL); declare a castable constant")
    }
    val updated = StructType(snap.schema.fields.map { f =>
      if (f.name.equalsIgnoreCase(column))
        StructField(f.name, f.dataType, f.nullable,
          new MetadataBuilder().withMetadata(f.metadata)
            .putString("CURRENT_DEFAULT", exprSql).build())
      else f
    })
    // allowColumnDefaults is features-only (no legacy writer version
    // implies it): list it, or jump to writer 7 enumerating the implied set
    val proto =
      if (snap.protocol.writerFeatures.exists(_.contains("allowColumnDefaults"))) Nil
      else if (snap.protocol.minWriterVersion >= 7)
        Seq(snap.protocol.copy(writerFeatures = Some(
          (snap.protocol.writerFeatures.getOrElse(Nil) :+ "allowColumnDefaults").distinct)))
      else Seq(Protocol(snap.protocol.minReaderVersion, 7,
        readerFeatures = snap.protocol.readerFeatures,
        writerFeatures = Some(
          (DeltaLog.legacyWriterFeatures(snap.protocol) :+ "allowColumnDefaults").distinct)))
    val ci = CommitInfo(System.currentTimeMillis(), "SET DEFAULT",
      operationParameters = Map("column" -> field.name, "expr" -> exprSql),
      readVersion = Some(snap.version), isBlindAppend = Some(false))
    log.writeCommit(snap.version + 1,
      Seq(ci) ++ proto ++ Seq(snap.metadata.copy(schemaString = updated.json)))
    snap.version + 1
  }

  /** ALTER TABLE … ALTER COLUMN c DROP DEFAULT — removes the
    * `CURRENT_DEFAULT` metadata (inserts omitting the column fill null
    * again). The feature flag stays on the protocol: features never
    * retract. Idempotent on a default-less column. */
  def dropColumnDefault(
      spark: SparkSession, path: String, column: String): Long = {
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    require(snap.schema.fields.exists(_.name.equalsIgnoreCase(column)),
      s"Column $column not found in ${snap.schema.fieldNames.mkString(", ")}")
    val updated = StructType(snap.schema.fields.map { f =>
      if (f.name.equalsIgnoreCase(column) && f.metadata.contains("CURRENT_DEFAULT")) {
        val mb = new MetadataBuilder().withMetadata(f.metadata)
        mb.remove("CURRENT_DEFAULT")
        StructField(f.name, f.dataType, f.nullable, mb.build())
      } else f
    })
    val ci = CommitInfo(System.currentTimeMillis(), "DROP DEFAULT",
      operationParameters = Map("column" -> column),
      readVersion = Some(snap.version), isBlindAppend = Some(false))
    log.writeCommit(snap.version + 1,
      Seq(ci, snap.metadata.copy(schemaString = updated.json)))
    snap.version + 1
  }

  /** The per-column default expressions a snapshot declares
    * (CURRENT_DEFAULT field metadata), in schema order. */
  def columnDefaultsOf(snap: Snapshot): Seq[(String, String)] =
    snap.schema.fields.toSeq.collect {
      case f if f.metadata.contains("CURRENT_DEFAULT") =>
        f.name -> f.metadata.getString("CURRENT_DEFAULT")
    }

  /** Columns the WRITE PATH computes when absent from an incoming frame
    * (generated + identity columns) — surfaces building partial frames
    * (SQL INSERT with a column list) leave these out instead of filling
    * null, so compute/allocate semantics stay in one place. */
  def writerComputedColumnsOf(snap: Snapshot): Set[String] =
    (DeltaWrite.generatedColumnsOf(snap.schema).map(_._1) ++
      DeltaWrite.identityColumnsOf(snap.schema).map(_.name)).toSet

  final case class DropFeatureResult(
      tableVersion: Long, checkpointed: Boolean, removedLogFiles: Int)

  /** ALTER TABLE … DROP FEATURE — the protocol DOWNGRADE that completes
    * a feature's lifecycle. Supported: `deletionVectors` (enable → DV
    * DML → REORG APPLY (PURGE) → drop), plus the metadata-only removals
    * `changeDataFeed`, `inCommitTimestamps`, and `rowTracking` (disable
    * the table property, then drop — the enablement/marker properties
    * strip and the row-tracking watermark domain evicts atomically with
    * the downgrade). Contract:
    *
    *  - the feature must be listed by the protocol and no longer IN USE
    *    by the head snapshot (deletionVectors: no active file carries a
    *    DV — REORG first; property-gated features: the property is off;
    *    rowTracking additionally refuses while materialized row-id
    *    columns exist; each error says so).
    *  - retained history may still carry DV file actions; a foreign
    *    DV-unaware reader time-traveling there would misread. Without
    *    `truncateHistory` the drop refuses while any retained commit
    *    references a DV. With `truncateHistory` it commits the
    *    downgraded protocol, writes a checkpoint at that version (a
    *    from-scratch replay starts there and never sees a DV action),
    *    and deletes the superseded log — time travel to pre-drop
    *    versions stops working, the documented price (the delta-spark
    *    TRUNCATE HISTORY contract).
    *
    * Version numbers downgrade when the feature lists empty out
    * ((3,7) → (1,2) legacy); otherwise the lists just shrink. Scale:
    * control-plane only — one log scan, one commit, one checkpoint. */
  def dropFeature(
      spark: SparkSession, path: String, feature0: String,
      truncateHistory: Boolean = false): DropFeatureResult = {
    // the PROTOCOL feature is `inCommitTimestamp` (singular) while the
    // enablement property is delta.enableInCommitTimestampS — accept the
    // property-style plural as an alias rather than punishing the
    // near-universal confusion
    val feature =
      if (feature0 == "inCommitTimestamps") "inCommitTimestamp" else feature0
    // named refusal (not an unknown-feature error): dropping column
    // mapping would strand data files whose parquet columns are keyed by
    // mapped physical names/ids — every file would need a rewrite to
    // logical names before a mapping-unaware reader could match columns.
    // No rewrite path is provided; delta-spark gates the same drop behind
    // its own full-rewrite machinery.
    require(feature != "columnMapping",
      "DROP FEATURE columnMapping is not supported: data files are keyed " +
        "by mapped physical column names/ids and would all need rewriting " +
        "to logical names first. Create a mapping-free copy instead " +
        "(CREATE TABLE … AS SELECT, or DEEP CLONE into a fresh table).")
    val supported = Set("deletionVectors", "changeDataFeed", "inCommitTimestamp",
      "rowTracking", "v2Checkpoint", "typeWidening")
    require(supported.contains(feature),
      s"DROP FEATURE supports: ${supported.toSeq.sorted.mkString(", ")} (got '$feature0')")
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    val p = snap.protocol
    // EFFECTIVE feature lists: a legacy protocol version IMPLIES its
    // features (minWriter 4 ⇒ changeDataFeed without ever listing it) —
    // dropping one from a legacy protocol enumerates the version's
    // implied set and removes from that, exactly the conversion a
    // features-upgrade performs
    val effReader: Seq[String] = DeltaLog.legacyReaderFeatures(p)
    val effWriter: Seq[String] = DeltaLog.legacyWriterFeatures(p)
    val listed = effReader.contains(feature) || effWriter.contains(feature)
    require(listed, s"Feature $feature is not present on ${path}: $p")
    def propOff(prop: String, hint: String): Unit =
      require(!snap.metadata.configuration.get(prop).exists(_.trim.equalsIgnoreCase("true")),
        s"Feature $feature is still enabled ($prop=true) — $hint first")
    // feature-specific IN-USE gates: the head snapshot must no longer
    // depend on the feature before its protocol entry can go
    feature match {
      case "deletionVectors" =>
        val inUse = snap.activeFiles.filter(_.deletionVector.isDefined)
        require(inUse.isEmpty,
          s"Feature $feature is in use by ${inUse.size} active file(s) — run " +
            s"REORG TABLE delta.`$path` APPLY (PURGE) first")
      case "changeDataFeed" =>
        propOff("delta.enableChangeDataFeed",
          "ALTER TABLE … SET TBLPROPERTIES('delta.enableChangeDataFeed'='false')")
      case "inCommitTimestamp" =>
        propOff("delta.enableInCommitTimestamps",
          "ALTER TABLE … SET TBLPROPERTIES('delta.enableInCommitTimestamps'='false')")
      case "rowTracking" =>
        propOff(RowTracking.Prop,
          s"ALTER TABLE … SET TBLPROPERTIES('${RowTracking.Prop}'='false')")
        require(RowTracking.materializedColNames(snap).isEmpty,
          s"Feature $feature has materialized row-id columns " +
            s"(${RowTracking.MaterializedRowIdProp}) — files carry physical id " +
            "columns a feature-less writer would corrupt; rewrite them first")
      // v2Checkpoint is a capability, never baked into data files: the
      // drop commits the downgrade and the checkpoint written right after
      // it is CLASSIC (writeCheckpoint keys on the new protocol), so a
      // feature-less reader replays the head without ever touching a
      // uuid-named file. Superseded v2 checkpoints below the drop stay
      // until log cleanup; a feature-less time-traveler that cannot read
      // them falls back to plain JSON replay — availability at worst,
      // never a misread (checkpoints are an optimization).
      case "v2Checkpoint" => ()
      // typeWidening IS baked into data files: a file written before the
      // widening keeps its narrow physical type, and only the feature
      // tells a reader to upcast. The gate proves no active file is
      // narrow-backed — a footer probe through FanOut (one small-footer
      // read per file; never a data scan).
      case "typeWidening" =>
        // a foreign writer may record type changes ANYWHERE in the schema
        // tree: on nested struct fields (metadata on the StructField at
        // depth) or inside array/map types (a `fieldPath` entry on the
        // nearest named field, or typeChanges on a collection-typed field).
        // Nested struct paths probe like top-level ones — struct nesting
        // maps 1:1 to parquet group paths — but collection elements hide
        // behind writer-dependent repetition wrappers (list.element /
        // key_value.*); refuse those conservatively rather than risk a
        // mis-probe passing a narrow-backed file.
        val changed = collectTypeChangedFields(snap.schema)
        val inCollection = changed.filter { case (_, _, c) => c }
        require(inCollection.isEmpty,
          s"Feature $feature records type changes inside array/map types " +
            s"(${inCollection.map(_._1.mkString(".")).mkString(", ")}) — the " +
            "footer probe cannot verify collection-element backing; rewrite " +
            s"the files first (OPTIMIZE delta.`$path` after a full " +
            "compaction, or REORG), then retry")
        val widened = changed.map { case (segs, dt, _) => segs -> dt }
        if (widened.nonEmpty && snap.activeFiles.nonEmpty) {
          val files = snap.activeFiles.map(f => DeltaRead.resolvePath(path, f.path))
          val narrow = FanOut(spark, files) { (conf, fp) =>
            val p = new Path(fp)
            val msg = LogParquet.footer(conf, p).getFileMetaData.getSchema
            widened.flatMap { case (segs, dt) =>
              // walk the group nesting to the leaf; a primitive where the
              // schema expects more nesting is a shape divergence — flag
              // it as suspect rather than pass it
              var cur: org.apache.parquet.schema.Type = msg
              var absent = false
              var diverged = false
              for (seg <- segs if !absent && !diverged) {
                if (cur.isPrimitive) diverged = true
                else {
                  val g = cur.asGroupType()
                  if (!g.containsField(seg)) absent = true
                  else cur = g.getType(seg)
                }
              }
              if (absent) None // absent → null-filled, wide-safe
              else {
                val ok = !diverged && cur.isPrimitive &&
                  physicalMatchesDeclared(cur.asPrimitiveType(), dt)
                if (ok) None else Some(p.getName)
              }
            }.headOption
          }.flatten.take(5)
          require(narrow.isEmpty,
            s"Feature $feature is in use: active file(s) still carry " +
              s"pre-widening physical types (e.g. ${narrow.mkString(", ")}) — " +
              s"rewrite them first (OPTIMIZE delta.`$path` after a full " +
              "compaction, or REORG), then retry")
        }
    }
    // retained-history trace gates — only traces a FOREIGN consumer could
    // misread require truncation:
    //  - deletionVectors: DV-bearing adds/removes in commits, and DV
    //    adds in any RETAINED CHECKPOINT (log retention may already have
    //    cleaned the originating commit JSONs, but a replay anchored at
    //    that checkpoint reconstructs those adds — a DV-unaware reader
    //    time-traveling there reads soft-deleted rows as live; checkpoint
    //    REMOVE tombstones are liveness-inert for readers).
    //  - changeDataFeed: cdc file actions in retained commits — a feed
    //    consumer without the feature would misread the change plane.
    //  - inCommitTimestamps / rowTracking: writer-only bookkeeping
    //    (commitInfo timestamps, baseRowId fields, domain watermarks) is
    //    benign to any reader — no truncation needed.
    val traceVersions: Seq[Long] = feature match {
      case "deletionVectors" =>
        val commitTraces = log.listCommitVersions.filter(v =>
          log.readCommitActions(v).exists {
            case a: AddFile => a.deletionVector.isDefined
            case r: RemoveFile => r.deletionVector.isDefined
            case _ => false
          })
        val dvClip = StructType(Seq(StructField("add", StructType(Seq(
          StructField("deletionVector", StructType(Seq(
            StructField("storageType", StringType)))))))))
        val checkpointTraces = checkpointTraceVersions(spark, log, dvClip,
          col("add.deletionVector.storageType").isNotNull)
        (commitTraces ++ checkpointTraces).distinct.sorted
      case "changeDataFeed" =>
        log.listCommitVersions.filter(v =>
          log.readCommitActions(v).exists(_.isInstanceOf[AddCDCFile]))
      //  - typeWidening: any retained metaData whose schema carries
      //    `delta.typeChanges` (the widening commit itself, every commit
      //    after it, and any checkpoint of that span) — a feature-less
      //    reader time-traveling there sees a schema obliging upcasts it
      //    does not implement. The head's metadata is stripped by THIS
      //    drop, so post-truncation replay is trace-free.
      case "typeWidening" =>
        val commitTraces = log.listCommitVersions.filter(v =>
          log.readCommitActions(v).exists {
            case m: MetadataAction => m.schemaString.contains("delta.typeChanges")
            case _ => false
          })
        val twClip = StructType(Seq(StructField("metaData", StructType(Seq(
          StructField("schemaString", StringType))))))
        val checkpointTraces = checkpointTraceVersions(spark, log, twClip,
          col("metaData.schemaString").contains("delta.typeChanges"))
        (commitTraces ++ checkpointTraces).distinct.sorted
      case _ => Nil
    }
    require(traceVersions.isEmpty || truncateHistory,
      s"Feature $feature still appears in retained history (versions " +
        s"${traceVersions.mkString(", ")}) — a reader without it could not " +
        "time-travel there. Re-run with TRUNCATE HISTORY to drop the " +
        "history along with the feature, or wait for log retention cleanup.")
    // feature bookkeeping leaves WITH the protocol entry, atomically:
    // enablement/marker properties strip from the metadata and the row-
    // tracking watermark domain is evicted — a later re-enable starts
    // the feature's lifecycle clean
    val strippedProps: Seq[String] = feature match {
      case "changeDataFeed" => Seq("delta.enableChangeDataFeed")
      case "inCommitTimestamp" => Seq("delta.enableInCommitTimestamps",
        "delta.inCommitTimestampEnablementVersion",
        "delta.inCommitTimestampEnablementTimestamp")
      case "rowTracking" => Seq(RowTracking.Prop,
        RowTracking.MaterializedRowIdProp, RowTracking.MaterializedCommitVersionProp)
      case _ => Nil
    }
    val newConfig = snap.metadata.configuration -- strippedProps
    // typeWidening's bookkeeping lives in the SCHEMA (per-field
    // delta.typeChanges metadata), not in table properties — strip it in
    // the same commit so the downgraded table reads foreign-plain
    val strippedSchema: Option[StructType] =
      if (feature != "typeWidening") None
      else Some(stripTypeChanges(snap.schema)).filter(_ != snap.schema)
    val metaAction: Option[MetadataAction] =
      if (newConfig == snap.metadata.configuration && strippedSchema.isEmpty) None
      else Some(snap.metadata.copy(
        configuration = newConfig,
        schemaString = strippedSchema.map(_.json).getOrElse(snap.metadata.schemaString)))
    val domainAction: Option[DomainMetadata] =
      if (feature == "rowTracking" && snap.domainMetadata.contains(RowTracking.Domain))
        Some(DomainMetadata(RowTracking.Domain, "", removed = true))
      else None
    val newReader = Some(effReader.filterNot(_ == feature)).filter(_.nonEmpty)
    val newWriter = Some(effWriter.filterNot(_ == feature)).filter(_.nonEmpty)
    // a feature upgrade enumerated the LEGACY-IMPLIED features (appendOnly,
    // invariants, …); when nothing beyond a legacy version's implication
    // remains, the downgrade returns to that plain version instead of
    // keeping a featured protocol that lists only what the version implies
    val legacy2 = Protocol(1, 2)
    val writerIsLegacy2 = newWriter.forall(
      _.toSet.subsetOf(DeltaLog.legacyWriterFeatures(legacy2).toSet))
    val newProtocol =
      if (newReader.isEmpty && writerIsLegacy2) legacy2
      else Protocol(
        // the features FORM: reader 3 only when reader features remain,
        // writer 7 always (a legacy source protocol converts here — its
        // remaining implied features stay enumerated as obligations)
        if (newReader.isEmpty) 1 else 3,
        7, newReader, newWriter)
    val version = snap.version + 1
    val ci = CommitInfo(System.currentTimeMillis(), "DROP FEATURE",
      operationParameters = Map("feature" -> feature,
        "truncateHistory" -> truncateHistory.toString),
      readVersion = Some(snap.version), isBlindAppend = Some(false))
    log.writeCommit(version,
      Seq(ci, newProtocol) ++ metaAction.toSeq ++ domainAction.toSeq)
    // checkpoint the downgraded state so replay never crosses a DV action
    log.writeCheckpoint(version)
    val removed =
      if (!truncateHistory) 0
      else {
        // ignoreRetention: the table's delta.logRetentionDuration (and
        // the mtime age filter) must not veto the truncation — TRUNCATE
        // HISTORY's whole contract is that pre-drop commits stop being
        // time-travelable the moment the downgrade commits
        val n = DeltaMaintenance.cleanupLog(spark, path,
          retentionHours = 0.0, dryRun = false, ignoreRetention = true).size
        val survivors = log.listCommitVersions.filter(_ < version)
        require(survivors.isEmpty,
          s"DROP FEATURE $feature TRUNCATE HISTORY: pre-drop commit JSON(s) " +
            s"survived cleanup (versions ${survivors.mkString(", ")}) — " +
            "refusing to report success while the history remains readable")
        n
      }
    DropFeatureResult(version, checkpointed = true, removed)
  }

  /** Versions of retained checkpoints whose action set satisfies `cond`,
    * decided EXECUTOR-side: each probe reads the checkpoint's parquet
    * parts / V2 tops / sidecars (and json-flavor V2 manifests) through
    * Spark's own sources with a CLIPPED requested schema and stops at
    * the first hit — never materializing O(#files) checkpoint actions on
    * the driver. A full checkpoint at 10M-file width is GBs of driver
    * actions; a trace CHECK needs one boolean per checkpoint. */
  private def checkpointTraceVersions(
      spark: SparkSession, log: DeltaLog,
      clipped: StructType, cond: org.apache.spark.sql.Column): Seq[Long] =
    log.listCheckpointVersions.filter { v =>
      val parts = log.checkpointPartFiles(v)
      val v2Tops = log.v2CheckpointFiles(v)
      val (v2Json, v2Pq) = v2Tops.partition(_.getName.endsWith(".json"))
      val sidecarDir = new Path(log.logPath, "_sidecars")
      val sidecars = (parts ++ v2Tops).flatMap(log.v2SidecarRefs)
        .distinct.map(n => new Path(sidecarDir, n))
      val pq = (parts ++ v2Pq ++ sidecars).map(_.toString)
      val js = v2Json.map(_.toString)
      (pq.nonEmpty && !spark.read.schema(clipped).parquet(pq: _*)
        .where(cond).isEmpty) ||
        (js.nonEmpty && !spark.read.schema(clipped).json(js: _*)
          .where(cond).isEmpty)
    }

  /** Does a parquet footer column already match the declared (widened)
    * Spark type — i.e. would a typeWidening-unaware reader read it
    * natively, no protocol upcast needed? Conservative: anything
    * unrecognized counts as a mismatch for widening-target types, and
    * decimals require the exact annotation (precision AND scale) — a
    * smaller-precision backing may ride a different physical width. */
  /** Recursively collect schema fields carrying `delta.typeChanges`
    * bookkeeping, as (physical path segments, declared type,
    * insideCollection). `insideCollection` marks changes the footer probe
    * cannot address by a plain group path: the field sits under an
    * ArrayType/MapType, the field's own type is a collection, or a change
    * entry names a `fieldPath` into one (the protocol's encoding for
    * element/key/value widenings). */
  private[delta] def collectTypeChangedFields(schema: StructType)
      : Seq[(Seq[String], org.apache.spark.sql.types.DataType, Boolean)] = {
    import org.apache.spark.sql.types._
    def hasFieldPathEntry(f: StructField): Boolean =
      f.metadata.getMetadataArray("delta.typeChanges").exists(_.contains("fieldPath"))
    def walkType(dt: DataType, prefix: Seq[String], underColl: Boolean)
        : Seq[(Seq[String], DataType, Boolean)] = dt match {
      case s: StructType => walkStruct(s, prefix, underColl)
      case a: ArrayType => walkType(a.elementType, prefix :+ "element", underColl = true)
      case m: MapType =>
        walkType(m.keyType, prefix :+ "key", underColl = true) ++
          walkType(m.valueType, prefix :+ "value", underColl = true)
      case _ => Nil
    }
    def walkStruct(st: StructType, prefix: Seq[String], underColl: Boolean)
        : Seq[(Seq[String], DataType, Boolean)] =
      st.fields.toSeq.flatMap { f =>
        val p = prefix :+ DeltaRead.physicalNameOf(f)
        val here =
          if (!f.metadata.contains("delta.typeChanges")) Nil
          else {
            val collTyped = f.dataType.isInstanceOf[ArrayType] ||
              f.dataType.isInstanceOf[MapType]
            Seq((p, f.dataType, underColl || collTyped || hasFieldPathEntry(f)))
          }
        here ++ walkType(f.dataType, p, underColl)
      }
    walkStruct(schema, Nil, underColl = false)
  }

  /** Strip `delta.typeChanges` bookkeeping from every field at any depth
    * (struct nesting AND fields inside array/map element types) — the
    * widened types themselves stay. */
  private[delta] def stripTypeChanges(schema: StructType): StructType = {
    import org.apache.spark.sql.types._
    def stripDt(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(stripField))
      case a: ArrayType => a.copy(elementType = stripDt(a.elementType))
      case m: MapType =>
        m.copy(keyType = stripDt(m.keyType), valueType = stripDt(m.valueType))
      case other => other
    }
    def stripField(f: StructField): StructField = {
      val md =
        if (!f.metadata.contains("delta.typeChanges")) f.metadata
        else new MetadataBuilder().withMetadata(f.metadata)
          .remove("delta.typeChanges").build()
      StructField(f.name, stripDt(f.dataType), f.nullable, md)
    }
    StructType(schema.fields.map(stripField))
  }

  private[delta] def physicalMatchesDeclared(
      pt: org.apache.parquet.schema.PrimitiveType,
      dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val prim = pt.getPrimitiveTypeName
    val ann = pt.getLogicalTypeAnnotation
    def plainInt = ann == null ||
      ann.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation]
    dt match {
      case d: DecimalType => ann match {
        case a: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          a.getPrecision == d.precision && a.getScale == d.scale
        case _ => false
      }
      case LongType => prim == INT64 && plainInt
      case IntegerType | ShortType | ByteType => prim == INT32 && plainInt
      case DoubleType => prim == DOUBLE
      case FloatType => prim == FLOAT
      case DateType => prim == INT32 &&
        ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation]
      case TimestampNTZType => prim == INT64 &&
        ann.isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]
      case _ => true // not a widening-target family: never blocks a drop
    }
  }

  /** Stamp fresh column-mapping ids + physical names onto new fields
    * (recursing into nested types), starting above the table's current
    * maxColumnId. Returns the stamped fields and the advanced id — the
    * shared seam for ADD COLUMN and MERGE schema evolution. */
  private[delta] def stampMappedFields(
      snap: Snapshot, fields: Seq[StructField]): (Seq[StructField], Long) = {
    var nextId = snap.metadata.configuration
      .get("delta.columnMapping.maxColumnId").map(_.toLong).getOrElse(0L)
    def stampType(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
      dt match {
        case st: StructType => StructType(st.fields.map(stampField))
        case ArrayType(et, n) => ArrayType(stampType(et), n)
        case MapType(k, v, n) => MapType(stampType(k), stampType(v), n)
        case other => other
      }
    def stampField(f: StructField): StructField = {
      nextId += 1
      val id = nextId
      StructField(f.name, stampType(f.dataType), f.nullable,
        new MetadataBuilder().withMetadata(f.metadata)
          .putLong("delta.columnMapping.id", id)
          .putString("delta.columnMapping.physicalName",
            s"col-${java.util.UUID.randomUUID()}")
          .build())
    }
    (fields.map(stampField), nextId)
  }

  /** Target metadata with `newFields` appended at the end — the MERGE
    * WITH SCHEMA EVOLUTION seam. Mapped tables stamp fresh ids/physical
    * names and advance maxColumnId (the ADD COLUMN contract); existing
    * files read null for the new fields (the d08 schema-evolution read). */
  private[delta] def evolvedMetadata(
      snap: Snapshot, newFields: Seq[StructField]): MetadataAction = {
    val mapped = DeltaRead.mappingModeOf(snap) != "none"
    val (stamped, nextId) =
      if (mapped) stampMappedFields(snap, newFields) else (newFields, 0L)
    snap.metadata.copy(
      schemaString = StructType(snap.schema.fields ++ stamped).json,
      configuration =
        if (mapped) snap.metadata.configuration +
          ("delta.columnMapping.maxColumnId" -> nextId.toString)
        else snap.metadata.configuration)
  }

  def addColumn(
      spark: SparkSession, path: String, name: String,
      dataType: org.apache.spark.sql.types.DataType,
      after: Option[String] = None, first: Boolean = false): MappingResult = {
    require(!(first && after.nonEmpty), "ADD COLUMN takes FIRST or AFTER, not both")
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    require(!snap.schema.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"Column $name already exists in ${snap.schema.fieldNames.mkString(", ")}")
    val mapped = DeltaRead.mappingModeOf(snap) != "none"
    val bare = StructField(name, dataType, nullable = true)
    val (field, nextId) =
      if (mapped) { val (fs, id) = stampMappedFields(snap, Seq(bare)); (fs.head, id) }
      else (bare, 0L)
    val fields = snap.schema.fields
    val ordered: Array[StructField] =
      if (first) field +: fields
      else after match {
        case Some(a) =>
          require(fields.exists(_.name == a),
            s"AFTER column $a not found in ${snap.schema.fieldNames.mkString(", ")}")
          fields.flatMap(f => if (f.name == a) Seq(f, field) else Seq(f))
        case None => fields :+ field
      }
    val meta = snap.metadata.copy(
      schemaString = StructType(ordered).json,
      configuration =
        if (mapped) snap.metadata.configuration +
          ("delta.columnMapping.maxColumnId" -> nextId.toString)
        else snap.metadata.configuration)
    val ci = CommitInfo(System.currentTimeMillis(), "ADD COLUMN",
      operationParameters = Map("column" -> name, "type" -> dataType.simpleString),
      readVersion = Some(snap.version), isBlindAppend = Some(false))
    log.writeCommit(snap.version + 1, Seq(ci, meta))
    MappingResult(snap.version + 1, nextId)
  }

  /** RESTORE TABLE … TO VERSION: one new commit that returns the table's
    * data to what version `toVersion` held, preserving history (the
    * delta-spark RESTORE contract — not a log rewind). The commit
    * re-adds the target snapshot's file incarnations — (path, DV id) —
    * missing from the head, removes head incarnations the target lacks
    * (so a DV DELETE is undone by re-adding the DV-free incarnation),
    * and re-emits the target's metadata if
    * the schema/partitioning changed in between. Protocol is never
    * downgraded. Fails fast if any file to restore was already vacuumed
    * ([[FanOut]] with `existsCheckThreshold`, like vacuum's delete).
    *
    * Control-plane cost is O(|target files| + |head files|) driver-side
    * — identical to the snapshot replay every read already does. */
  def restore(
      spark: SparkSession, path: String, toVersion: Long,
      existsCheckThreshold: Int = 1000): RestoreResult = {
    val log = DeltaLog.forTable(spark, path)
    val latest = log.latestVersion
    require(toVersion >= 0 && toVersion <= latest,
      s"Cannot restore $path to version $toVersion: log has versions 0..$latest")
    val target = log.snapshot(Some(toVersion))
    val current = log.snapshot(None)
    val now = System.currentTimeMillis()

    // Diff by INCARNATION — (path, DV uniqueId) — not by path: after a
    // DV DELETE/UPDATE the same path is active in both snapshots with
    // different bitmaps, and a path-only diff would silently keep the
    // soft-deleted rows hidden. A changed incarnation restores as
    // remove(current) + add(target); replay reconciles removes-first so
    // the re-add ends the commit active.
    def incarnation(p: String, d: Option[DeletionVectorDescriptor]): (String, String) =
      (p, d.map(DeltaLog.dvUniqueId).getOrElse(""))
    val currentIncs = current.activeFiles.map(f => incarnation(f.path, f.deletionVector)).toSet
    val targetIncs = target.activeFiles.map(f => incarnation(f.path, f.deletionVector)).toSet
    val adds = target.activeFiles
      .filterNot(f => currentIncs.contains(incarnation(f.path, f.deletionVector)))
      .map(_.copy(dataChange = true))
    val removes = current.activeFiles
      .filterNot(f => targetIncs.contains(incarnation(f.path, f.deletionVector)))
      .map(_.remove(now))
    if (removes.nonEmpty) DeltaWrite.requireNotAppendOnly(current, "RESTORE")

    // a restored file — or its target incarnation's DV file — may have
    // been vacuumed since its remove: check before committing a snapshot
    // that cannot be read back
    val checkPaths: Seq[String] =
      adds.map(a => DeltaRead.resolvePath(path, a.path)) ++
        adds.flatMap(_.deletionVector).flatMap(d => d.storageType match {
          case "u" => Some(DeltaRead.resolvePath(path,
            DeletionVectors.relativeDvName(d.pathOrInlineDv)))
          case "p" => Some(DeltaRead.resolvePath(path, d.pathOrInlineDv))
          case _ => None
        }).distinct
    val missing = FanOut(spark, checkPaths, existsCheckThreshold) { (conf, p) =>
      val hp = new Path(p)
      if (hp.getFileSystem(conf).exists(hp)) None else Some(p)
    }.flatten
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"Cannot restore $path to version $toVersion: ${missing.size} data " +
          s"file(s) were vacuumed, e.g. ${missing.take(3).mkString(", ")}")

    val metaChanged =
      target.metadata.schemaString != current.metadata.schemaString ||
        target.metadata.partitionColumns != current.metadata.partitionColumns ||
        target.metadata.configuration != current.metadata.configuration

    // CDF restore: the feed's add/remove fallback would read the
    // re-added incarnations as plain inserts and miss the removals —
    // record exact row changes instead: each removed current
    // incarnation's live rows as deletes, each re-added target
    // incarnation's live rows as inserts. An incarnation swap of one
    // path emits delete(old live) + insert(new live): coarse per-file
    // churn, exact final state per row (the delta-spark CDC stance for
    // rewrites). Files are immutable, so scanning both sides now is
    // exact regardless of when the feed is read.
    val cdcActions: Seq[AddCDCFile] =
      if (!DeltaWrite.cdfEnabled(current) || (adds.isEmpty && removes.isEmpty)) Nil
      else {
        require(target.metadata.schemaString == current.metadata.schemaString,
          "Cannot RESTORE a change-data-feed table across a schema change " +
            "(the feed cannot mix pre- and post-schema rows in one commit)")
        val ct = ChangeFeed.ChangeTypeCol
        val removedAdds = current.activeFiles
          .filterNot(f => targetIncs.contains(incarnation(f.path, f.deletionVector)))
        val frames = Seq.newBuilder[DataFrame]
        if (removedAdds.nonEmpty)
          frames += DeltaDml.readFiles(spark, path, current, removedAdds)
            .withColumn(ct, lit("delete"))
        if (adds.nonEmpty)
          frames += DeltaDml.readFiles(spark, path, target, adds)
            .withColumn(ct, lit("insert"))
        DeltaWrite.stageFiles(frames.result().reduce(_ unionByName _),
          path, latest + 1, current.metadata, DeltaWrite.CdcFiles)
      }
    val ci = CommitInfo(now, "RESTORE",
      operationParameters = Map("version" -> toVersion.toString),
      operationMetrics = Map(
        "numRestoredFiles" -> adds.size.toString,
        "numRemovedFiles" -> removes.size.toString),
      readVersion = Some(latest), isBlindAppend = Some(false))
    val meta = if (metaChanged) Seq(target.metadata) else Nil
    log.writeCommit(latest + 1, Seq(ci) ++ meta ++ cdcActions ++ adds ++ removes)
    RestoreResult(latest + 1, adds.size, removes.size)
  }

  /** Batch change feed over a commit range: per version in
    * (fromVersion, toVersion], the rows ADDED (`_change_type='insert'`)
    * and the rows a deletion-vector commit soft-deleted
    * (`_change_type='delete'` — the `newDV ∖ oldDV` bitmap diff, scanned
    * back out of the immutable data file at those `_metadata.row_index`
    * positions; see [[ChangeFeed]]), each stamped with
    * `_commit_version`. Rewrite DML / overwrite / restore surface only
    * their add side (append-oriented CDC, the delta-spark
    * non-CDF-stream contract); dataChange=false rewrites — OPTIMIZE —
    * contribute nothing.
    *
    * Scale: parses only the commits in the range (never a snapshot
    * replay) and scans only their files; per-commit file groups become
    * one union of vectorized parquet scans, and DV diffs probe through
    * the broadcast codegen'd DvProbe. */
  /** tableChanges with TIMESTAMP bounds: the window covers every commit
    * whose clock falls in [startingTs, endingTs]. Resolution uses the
    * same per-commit clock as time travel — the monotonic in-commit
    * timestamp when the table carries one, commitInfo/mtime otherwise —
    * so the three surfaces can never disagree about what happened when.
    * O(#commits) small commitInfo reads, no data I/O. */
  def tableChangesByTimestamp(
      spark: SparkSession, path: String, startingTs: Long,
      endingTs: Option[Long] = None): DataFrame = {
    val log = DeltaLog.forTable(spark, path)
    val ts = log.commitTimestamps
    require(ts.nonEmpty, s"No commits in $path")
    // first version with clock >= startingTs; the exclusive from-version
    // is its predecessor
    val firstIn = ts.filter(_._2 >= startingTs).map(_._1).minOption
      .getOrElse(throw new IllegalArgumentException(
        s"No commit at or after timestamp $startingTs in $path"))
    val hi = endingTs match {
      case None => None
      case Some(e) =>
        require(e >= startingTs, s"endingTs $e < startingTs $startingTs")
        Some(ts.filter(_._2 <= e).map(_._1).maxOption.getOrElse(
          throw new IllegalArgumentException(
            s"No commit at or before timestamp $e in $path")))
    }
    tableChanges(spark, path, firstIn - 1, hi)
  }

  def tableChanges(
      spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val log = DeltaLog.forTable(spark, path)
    val hi = toVersion.getOrElse(log.latestVersion)
    require(fromVersion <= hi,
      s"tableChanges range is empty: ($fromVersion, $hi]")
    val hiSnap = log.snapshot(Some(hi))
    val schema = hiSnap.schema
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // both planes (data adds, cdc files) scan with hi's schema, from the
    // log's file lists
    def scan(files: Seq[AddFile]) = DeltaRead.scan(spark, path, hiSnap.metadata, files)
    def scanWithMeta(files: Seq[AddFile]) =
      DeltaRead.scan(spark, path, hiSnap.metadata, files, keepMeta = true)
    def scanCdc(files: Seq[AddCDCFile]) = DeltaRead.scanCdc(spark, path, hiSnap.metadata, files)
    val commits = ((fromVersion + 1) to hi).map(v => v -> log.readCommitActions(v))
    // all DV bitmap diffs across the range load in one batched pass
    // (one Spark job beyond the threshold) instead of per-commit
    // driver-side loops
    val plans = ChangeFeed.planRange(spark, root, commits).map(p => p.version -> p).toMap
    val actionsByV = commits.toMap
    val perCommit: Seq[DataFrame] = ((fromVersion + 1) to hi).flatMap { v =>
      val actions = actionsByV(v)
      val plan = plans(v)
      val ts = ChangeFeed.commitTimestamp(fs, log.commitFile(v), actions)
      def stamp(d: DataFrame) = d
        .withColumn(ChangeFeed.CommitVersionCol, lit(v))
        .withColumn(ChangeFeed.CommitTimestampCol, lit(ts))
      if (plan.cdcFiles.nonEmpty)
        // a CDF writer recorded this commit's exact changes — use them
        // EXCLUSIVELY (the add/remove reading of a rewrite commit would
        // double-count its surviving rows)
        Seq(stamp(scanCdc(plan.cdcFiles)))
      else {
        val inserts =
          if (plan.insertFiles.isEmpty) None
          else Some(stamp(scan(plan.insertFiles)
            .withColumn(ChangeFeed.ChangeTypeCol, lit("insert"))))
        val deletes =
          if (plan.deleteCarriers.isEmpty) None
          else Some(stamp(
            DeletionVectors.selectDeleted(
                scanWithMeta(plan.deleteCarriers), plan.deleteDiffs)
              .select(schema.fieldNames.map(col).toIndexedSeq: _*)
              .withColumn(ChangeFeed.ChangeTypeCol, lit("delete"))))
        inserts.toSeq ++ deletes.toSeq
      }
    }
    if (perCommit.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        StructType(schema.fields :+
          StructField(ChangeFeed.ChangeTypeCol, StringType, nullable = false) :+
          StructField(ChangeFeed.CommitVersionCol, LongType, nullable = false) :+
          StructField(ChangeFeed.CommitTimestampCol, TimestampType, nullable = false)))
    else perCommit.reduce(_ unionByName _)
  }

  /** Tombstoned file paths older than the retention window
    * (reference core.py:121-151). dryRun returns the list; otherwise the
    * deletes go through [[FanOut]] with `distributedDeleteThreshold`: one
    * Spark job when the list is large (the reference's delayed-per-file
    * pattern), driver-side at or below it.
    *
    * `includeOrphans = true` additionally reclaims UNTRACKED files — the
    * delta-spark directory-listing mode the reference lacks: a crashed
    * write job (files staged, commit never written) leaves parquet on
    * disk that no log action references, and at 100 TB with task retries
    * that is the most common real leak. Orphan mode lists the table root
    * (per-directory [[FanOut.rdd]] job above `distributedListThreshold`
    * visible directories), subtracts every
    * path ANY retained log file references (commit JSONs and checkpoints
    * alike, adds and removes, data and DV files), and deletes the
    * unreferenced remainder whose mtime is past the retention window —
    * in-retention orphans survive, because a concurrent writer's staged
    * files look exactly like young orphans. Hidden trees (`_delta_log`,
    * `_change_data`, `_`/`.`-prefixed anything) are never orphan
    * candidates, and shallow-clone sources are structurally safe: their
    * files live outside this table's root, which is the only tree
    * listed. Default-off — the reference-parity tombstone mode is
    * unchanged. */
  def vacuum(
      spark: SparkSession,
      path: String,
      retentionHours: Double = 168.0,
      dryRun: Boolean = true,
      distributedDeleteThreshold: Int = 1000,
      includeOrphans: Boolean = false,
      distributedListThreshold: Int = 64
  ): Seq[String] = {
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    val cutoff = System.currentTimeMillis() - (retentionHours * 3600 * 1000).toLong
    // a DV-superseded incarnation tombstones the OLD bitmap while the
    // data file itself stays active under a new incarnation — its data
    // path must never be deleted, only its DV file is reclaimable
    val activePaths = snap.activeFiles.map(_.path).toSet
    val expired = snap.tombstones
      .filter(_.deletionTimestamp.forall(_ < cutoff))
      .map(_.path)
      .filterNot(activePaths.contains)
      .distinct
    // Files OUTSIDE the table root are never vacuum's to delete — they
    // belong to another table (shallow-clone sources reference the
    // original's files by absolute path; deleting them here would
    // corrupt the source). Same contract as delta-spark's vacuum, which
    // only ever lists under the table directory. Logged, not silent.
    val rootFs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val rootPrefix = rootFs.makeQualified(new Path(path)).toString.stripSuffix("/") + "/"
    val (tombstones0, foreign) = expired.partition { p =>
      rootFs.makeQualified(new Path(DeltaRead.resolvePath(path, p))).toString
        .startsWith(rootPrefix)
    }
    // Deletion-vector files expire on the SAME retention clock: a remove
    // carries its add's descriptor, so an expired tombstone releases its
    // DV file — unless a still-active add shares it (one DV file per
    // commit serves many adds) or a not-yet-expired tombstone does (time
    // travel within retention still needs it). Inline DVs hold no file.
    val dvOf: DeletionVectorDescriptor => Option[String] = d => d.storageType match {
      case "u" => Some(DeletionVectors.relativeDvName(d.pathOrInlineDv))
      case "p" => Some(d.pathOrInlineDv)
      case _ => None
    }
    val liveDvRefs: Set[String] =
      (snap.activeFiles.flatMap(_.deletionVector).flatMap(dvOf(_)) ++
        snap.tombstones.filterNot(_.deletionTimestamp.forall(_ < cutoff))
          .flatMap(_.deletionVector).flatMap(dvOf(_))).toSet
    val expiredDvFiles = snap.tombstones
      .filter(_.deletionTimestamp.forall(_ < cutoff))
      .flatMap(_.deletionVector).flatMap(dvOf(_))
      .distinct
      .filterNot(liveDvRefs.contains)
      .filter(p => rootFs.makeQualified(new Path(DeltaRead.resolvePath(path, p)))
        .toString.startsWith(rootPrefix))
    // Change-data files age out on the SAME retention clock, by
    // modification time: they are never referenced by table state (only
    // by the feed), so once a cdc file is older than the window — i.e.
    // tableChanges over its commit is no longer retention-guaranteed —
    // it is reclaimable, mirroring delta-spark's vacuum of _change_data.
    val expiredCdc: Seq[String] = {
      val cdcDir = new Path(path, "_change_data")
      if (!rootFs.exists(cdcDir)) Nil
      else {
        val it = rootFs.listFiles(cdcDir, true)
        val out = Seq.newBuilder[String]
        while (it.hasNext) {
          val st = it.next()
          if (st.isFile && st.getPath.getName.endsWith(".parquet") &&
            st.getModificationTime < cutoff)
            out += DeltaWrite.uriEncodePath(
              rootFs.makeQualified(st.getPath).toString.stripPrefix(rootPrefix))
        }
        out.result()
      }
    }
    // ---- orphan mode: directory listing minus everything the log knows --
    val orphans: Seq[String] =
      if (!includeOrphans) Nil
      else {
        // Retention floor (delta-spark's retentionDurationCheck
        // analogue): in orphan mode the mtime window is the ONLY guard
        // against deleting a concurrent writer's staged-but-uncommitted
        // files — they are indistinguishable from crash debris. RETAIN 0
        // HOURS would reclaim them mid-write; refuse anything under an
        // hour unless the operator explicitly disables the check.
        val floorCheck = spark.conf.get(
          "spark.graft.vacuum.orphanRetentionCheck", "true").toBoolean
        if (floorCheck && retentionHours < 1.0)
          throw new IllegalArgumentException(
            s"VACUUM INCLUDE ORPHANS with retention $retentionHours h (< 1 h) " +
              "would delete a concurrent writer's staged-but-uncommitted files " +
              "(mtime age is orphan mode's only concurrency guard). Set " +
              "spark.graft.vacuum.orphanRetentionCheck=false to override.")
        def visible(n: String): Boolean = !n.startsWith("_") && !n.startsWith(".")
        // visible directories, breadth-first, driver-side: O(partition
        // directories) — control plane. The O(#files) per-directory
        // listing fans out as a Spark job above the threshold.
        val dirs = scala.collection.mutable.ArrayBuffer(
          rootFs.makeQualified(new Path(path)))
        var i = 0
        while (i < dirs.size) {
          dirs ++= rootFs.listStatus(dirs(i)).iterator
            .filter(st => st.isDirectory && visible(st.getPath.getName))
            .map(_.getPath)
          i += 1
        }
        if (dirs.size <= distributedListThreshold) {
          // Small-table path: referenced = every data/DV path ANY
          // retained log file mentions — adds AND removes, commit JSONs
          // AND checkpoints: a file visible to any time-travelable
          // version is not an orphan. Driver-sided here by design
          // (control-plane-sized at this width).
          val referenced: Set[String] =
            (log.listCommitVersions.iterator.flatMap(log.readCommitActions) ++
              log.listCheckpointVersions.iterator.flatMap(log.readCheckpointActions))
              .flatMap {
                case a: AddFile => Iterator(a.path) ++ a.deletionVector.flatMap(dvOf).iterator
                case r: RemoveFile => Iterator(r.path) ++ r.deletionVector.flatMap(dvOf).iterator
                case _ => Iterator.empty
              }
              .map(p => rootFs.makeQualified(new Path(DeltaRead.resolvePath(path, p))).toString)
              .toSet
          dirs.toSeq.flatMap(d => rootFs.listStatus(d).iterator
              .filter(st => st.isFile && visible(st.getPath.getName))
              .map(st => (st.getPath.toString, st.getModificationTime)))
            .filter { case (p, mtime) => mtime < cutoff && !referenced.contains(p) }
            .map { case (p, _) => DeltaWrite.uriEncodePath(p.stripPrefix(rootPrefix)) }
            .sorted
        } else {
          // 100 TB path: the listing AND the subtraction are distributed
          // — nothing O(#table-files) ever returns to the driver. The
          // listed frame stays on executors; the referenced frame is read
          // by Spark's own sources (commit JSONs + V2 json manifests via
          // the json reader with an explicit minimal schema — no
          // inference pass; checkpoint parts + V2 parquet tops + sidecars
          // via the parquet reader, the requested schema clipping each
          // file to the add/remove path+DV fields); a left-anti join does
          // the subtraction; only the orphan list itself — the function's
          // return value, O(actual debris) — is collected. Driver memory:
          // O(dirs + log file names + orphans).
          import spark.implicits._
          val listed = FanOut.rdd(spark, dirs.toSeq.map(_.toString)) { (conf, d) =>
            val dp = new Path(d)
            dp.getFileSystem(conf).listStatus(dp).toSeq
              .filter(st => st.isFile && visible(st.getPath.getName))
              .map(st => (st.getPath.toString, st.getModificationTime))
          }.flatMap(identity).toDF("p", "mtime")
          val dvT = StructType(Seq(
            StructField("storageType", StringType),
            StructField("pathOrInlineDv", StringType)))
          val fileT = StructType(Seq(
            StructField("path", StringType),
            StructField("deletionVector", dvT)))
          val actT = StructType(Seq(
            StructField("add", fileT), StructField("remove", fileT)))
          val cpVersions = log.listCheckpointVersions
          val cpParts = cpVersions.flatMap(log.checkpointPartFiles)
          val v2Tops = cpVersions.flatMap(log.v2CheckpointFiles)
          val (v2JsonTops, v2PqTops) = v2Tops.partition(_.getName.endsWith(".json"))
          // sidecar refs resolved per top (V2 tops AND classic-named
          // compat-mode tops carry them); the ref read is projection-
          // pruned, control-plane-sized
          val sidecarDir = new Path(log.logPath, "_sidecars")
          val sidecars = (cpParts ++ v2Tops).flatMap(log.v2SidecarRefs)
            .distinct.map(n => new Path(sidecarDir, n))
          val jsonPaths = log.listCommitVersions.map(v => log.commitFile(v).toString) ++
            v2JsonTops.map(_.toString)
          val pqPaths = (cpParts ++ v2PqTops ++ sidecars).map(_.toString)
          def refsOf(df: DataFrame): DataFrame = df
            .select(explode(array(
              struct($"add.path".as("rp"),
                $"add.deletionVector.storageType".as("st"),
                $"add.deletionVector.pathOrInlineDv".as("dvp")),
              struct($"remove.path".as("rp"),
                $"remove.deletionVector.storageType".as("st"),
                $"remove.deletionVector.pathOrInlineDv".as("dvp")))).as("f"))
            .select($"f.rp".as("rp"), $"f.st".as("st"), $"f.dvp".as("dvp"))
            .where($"rp".isNotNull)
          // FAILFAST, not the default PERMISSIVE: a malformed/torn commit
          // line must ABORT the vacuum, not silently become an all-null
          // row whose add/remove refs drop out of the referenced set —
          // that would name still-referenced data files as orphans. The
          // driver-side branch (readCommitActions) throws on the same
          // corruption; the distributed branch must too. Likewise the
          // checkpoint reads must not skip corrupt parts.
          val jsonRefs = refsOf(spark.read.schema(actT)
            .option("mode", "FAILFAST").json(jsonPaths: _*))
          val allRefs =
            if (pqPaths.isEmpty) jsonRefs
            else jsonRefs.unionByName(
              refsOf(spark.read.schema(actT)
                .option("ignoreCorruptFiles", "false").parquet(pqPaths: _*)))
          // qualified as rootFs.makeQualified does, from the root FS's
          // URI and working dir (both serializable)
          val (tablePath0, fsUri, fsWd) = (path, rootFs.getUri, rootFs.getWorkingDirectory.toString)
          val referencedDf = allRefs
            .as[(String, Option[String], Option[String])]
            .mapPartitions { it =>
              // control-plane metadata pass, not a data hot path: the DV
              // name needs the z85 uuid decode no builtin expresses
              val wd = new Path(fsWd)
              def abs(rel: String): String =
                new Path(DeltaRead.resolvePath(tablePath0, rel)).makeQualified(fsUri, wd).toString
              it.flatMap { case (rp, st, dvp) =>
                val dv = (st, dvp) match {
                  case (Some("u"), Some(d)) =>
                    Some(DeletionVectors.relativeDvName(d))
                  case (Some("p"), Some(d)) => Some(d)
                  case _ => None
                }
                (Iterator(rp) ++ dv.iterator).map(abs)
              }
            }
            .toDF("p").distinct()
          listed.where($"mtime" < cutoff)
            .join(referencedDf, Seq("p"), "left_anti")
            .select($"p").as[String]
            .collect().toSeq
            .map(p => DeltaWrite.uriEncodePath(p.stripPrefix(rootPrefix)))
            .sorted
        }
      }
    val tombstones = tombstones0 ++ expiredDvFiles ++ expiredCdc ++ orphans
    if (foreign.nonEmpty)
      org.slf4j.LoggerFactory.getLogger("graft.delta").info(
        s"vacuum($path): skipping ${foreign.size} expired tombstone(s) outside " +
          s"the table root (shallow-clone references), e.g. ${foreign.take(3).mkString(", ")}")
    if (!dryRun)
      FanOut(spark, tombstones, distributedDeleteThreshold) { (conf, p) =>
        val hp = new Path(DeltaRead.resolvePath(path, p))
        hp.getFileSystem(conf).delete(hp, false)
      }
    tombstones
  }
}
