package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

/** One DNF predicate: (column, op, value). Ops mirror pyarrow's
  * filters_to_expression contract used by the reference (core.py:75-77,
  * docstring core.py:209-212): ==, =, !=, <, >, <=, >=, in, not in. */
final case class Predicate(column: String, op: String, value: Any)

/** Delta snapshot scan — the Spark-native successor of `read_delta`
  * (reference core.py:158-265).
  *
  * Differences by design (SURVEY.md §3.1): the reference drains the whole
  * scan into client memory at graph-construction time; ours stays lazy —
  * log replay yields a partition-pruned file list, and Spark's
  * FileSourceScanExec does distributed, vectorized execution with
  * projection/predicate pushdown handled by Catalyst. At 100 TB the driver
  * only ever holds the pruned add-file list, never data.
  */
object DeltaRead {

  /** Read a Delta table as a DataFrame.
    *
    * @param version    time travel by version (SURVEY.md §2 ②)
    * @param timestamp  time travel by RFC-3339-ish timestamp string (③)
    * @param columns    projection pushdown (⑤)
    * @param filters    DNF: outer Seq = OR of inner AND-lists (⑥ ⑦);
    *                   partition-column predicates prune the file list
    *                   before any scan exists, the rest are applied as a
    *                   Catalyst filter (and pushed to parquet row groups).
    */
  def load(
      spark: SparkSession,
      path: String,
      version: Option[Long] = None,
      timestamp: Option[String] = None,
      columns: Seq[String] = Nil,
      filters: Seq[Seq[Predicate]] = Nil
  ): DataFrame = {
    val log = DeltaLog.forTable(spark, path)
    val pinned: Option[Long] = (version, timestamp) match {
      case (Some(v), _) => Some(v)
      case (None, Some(ts)) => Some(log.versionAtOrBefore(parseTimestampMillis(ts)))
      case _ => None
    }
    val snap = log.snapshot(pinned)
    fromSnapshot(spark, path, snap, columns, filters)
  }

  def fromSnapshot(
      spark: SparkSession,
      path: String,
      snap: Snapshot,
      columns: Seq[String] = Nil,
      filters: Seq[Seq[Predicate]] = Nil
  ): DataFrame = {
    // (a) log-level partition pruning: evaluate partition predicates
    // against add.partitionValues so pruned files are never planned —
    // the layer that keeps 100 TB plans small (SURVEY.md §4).
    val files = prunedFiles(snap, filters)

    // Deletion vectors: bitmap bytes per DV-carrying file, applied right
    // on each parquet scan (where `_metadata.row_index` resolves); files
    // without a DV pay nothing.
    val dvBytes = DeletionVectors.dvByteMap(spark, new Path(path), files)

    finishProjection(scan(spark, path, snap.metadata, files, dvBytes),
      snap.partitionColumns.toSet, columns, filters)
  }

  /** (b) residual row-level filter → Catalyst → parquet row-group
    * pushdown, then the projection. */
  private def finishProjection(
      base: DataFrame, partCols: Set[String],
      columns: Seq[String], filters: Seq[Seq[Predicate]]): DataFrame = {
    val dataFilters = filters
      .map(_.filterNot(p => partCols.contains(p.column)))
      .filter(_.nonEmpty)
    val filtered =
      if (filters.isEmpty) base
      else if (dataFilters.isEmpty && filters.forall(_.forall(p => partCols.contains(p.column))))
        base // fully satisfied by pruning
      else base.filter(dnfToColumn(filters))

    if (columns.isEmpty) filtered else filtered.select(columns.map(col): _*)
  }

  // ---- Column mapping (delta.columnMapping.mode = name) ------------------

  private[graft] def mappingModeOf(snap: Snapshot): String = mappingModeOf(snap.metadata)

  private[delta] def mappingModeOf(meta: MetadataAction): String =
    meta.configuration.getOrElse("delta.columnMapping.mode", "none")

  /** A field's on-disk (parquet) name under column mapping. */
  private[delta] def physicalNameOf(f: StructField): String =
    if (f.metadata.contains("delta.columnMapping.physicalName"))
      f.metadata.getString("delta.columnMapping.physicalName")
    else f.name

  /** A field's column-mapping id (mode `id` matches parquet field ids). */
  private[delta] def mappingIdOf(f: StructField): Option[Long] =
    if (f.metadata.contains("delta.columnMapping.id"))
      Some(f.metadata.getLong("delta.columnMapping.id"))
    else None

  /** Recursively rename a logical type to its physical (on-disk) shape. */
  private[delta] def physicalize(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      StructField(physicalNameOf(f), physicalize(f.dataType), f.nullable)))
    case ArrayType(et, n) => ArrayType(physicalize(et), n)
    case MapType(k, v, n) => MapType(physicalize(k), physicalize(v), n)
    case other => other
  }

  /** Recursively stamp `parquet.field.id` metadata from the mapping ids,
    * keeping LOGICAL names: with `spark.sql.parquet.fieldId.read.enabled`
    * Spark's vectorized reader matches requested fields to parquet
    * columns by FIELD ID, ignoring names — exactly the `id`-mode
    * contract, with no rename projection needed. A mapped field missing
    * its id refuses (reading by name would silently mis-bind after a
    * foreign rename). */
  private def fieldIdSchema(st: StructType): StructType =
    StructType(st.fields.map { f =>
      val id = mappingIdOf(f).getOrElse(throw new IllegalStateException(
        s"column-mapping mode 'id' but field ${f.name} carries no delta.columnMapping.id"))
      val dt = f.dataType match {
        case s: StructType => fieldIdSchema(s)
        case other => other
      }
      StructField(f.name, dt, f.nullable,
        new MetadataBuilder().putLong("parquet.field.id", id).build())
    })

  /** A sibling session (same SparkContext, shared SharedState/cache) that
    * mirrors the caller's runtime conf plus field-id parquet matching.
    * Scans rooted here keep the flag for their whole lifetime without
    * mutating the caller's session. Static/read-only keys that refuse
    * runtime assignment are skipped — they are identical across sessions
    * of one context anyway. */
  private def fieldIdReadSession(spark: SparkSession): SparkSession = {
    val s2 = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      try s2.conf.set(k, v) catch { case _: Exception => () }
    }
    s2.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    s2
  }

  /** The one scan over data files the log names: a parquet relation on
    * [[org.apache.spark.sql.graft.LogFileIndex]] (no listing, partition
    * values from the log) with the DV bitmaps in `dvBytes` applied on it,
    * where `_metadata` resolves.
    *
    * Unmapped tables surface the relation itself: data columns, then
    * partition columns. Column-mapped tables read physical names and
    * rename back to the logical schema, in schema order. Mode `name`:
    * parquet files carry PHYSICAL field names (col-<uuid>) at every
    * nesting level — read with the physical schema, then rename in one
    * projection (nested renames ride on struct cast-by-position). Mode
    * `id`: parquet files carry FIELD IDS — read with the logical schema
    * stamped with `parquet.field.id` in a field-id read session, no
    * rename needed. Partition values are keyed by physical names in the
    * log and sit under `__graft_pv_` names inside the relation, since a
    * logical partition name may equal some data field's physical name.
    *
    * `keepMeta` surfaces `_metadata` as a regular column through the
    * rename (unmapped scans keep it as the relation's hidden column).
    * `streaming` tags the relation as a micro-batch. `extraPhysical`
    * surfaces columns that exist ONLY in the parquet files under unmapped
    * physical names (the row-tracking materialized id columns, cdc's
    * `_change_type`): appended to the read schema verbatim, matched by
    * name, never renamed — files lacking them read null. Under mode `id`
    * this yields a MIXED read schema (field-id data columns + id-less
    * extras); Spark's fieldId.read matches per-field — id-carrying fields
    * bind by id, id-less fields fall back to name — pinned by
    * RowTrackingSpec "row tracking composes with ID-mode column mapping". */
  private[graft] def scan(
      spark: SparkSession, path: String, meta: MetadataAction,
      files: Seq[AddFile], dvBytes: Map[String, Array[Byte]] = Map.empty,
      keepMeta: Boolean = false,
      streaming: Boolean = false,
      extraPhysical: Seq[StructField] = Nil): DataFrame = {
    val schema = meta.schema
    val mode = mappingModeOf(meta)
    val partCols = meta.partitionColumns
    val dataFields = schema.fields.toSeq.filterNot(f => partCols.contains(f.name))
    // partitionColumns order: the hive directory order of the layout
    val partFields = partCols.flatMap(c => schema.fields.find(_.name == c))
    if (mode == "none")
      return DeletionVectors.applyFilter(
        org.apache.spark.sql.graft.LogFileIndex.scan(spark, path, files,
          StructType(dataFields ++ extraPhysical), StructType(partFields),
          partFields.map(_.name), streaming),
        dvBytes)
    val byId = mode == "id"
    // Field-id matching must be ON when this scan's parquet reader is
    // built (at physical planning, from the scan relation's session conf)
    // — but flipping the caller's session conf as a read side effect
    // would leak. Instead the scan is rooted in a derived session carrying
    // the flag: HadoopFsRelation captures its SparkSession at read time,
    // so the flag travels with the plan even when the frame is later
    // combined and executed under the caller's session.
    val readSession = if (byId) fieldIdReadSession(spark) else spark
    val readSchema =
      (if (byId) fieldIdSchema(StructType(dataFields)).fields.toSeq
       else dataFields.map(f =>
         StructField(physicalNameOf(f), physicalize(f.dataType), f.nullable))) ++ extraPhysical
    val pvFields = partFields.map(f => f.copy(name = s"__graft_pv_${f.name}"))
    val g = DeletionVectors.applyFilter(
      org.apache.spark.sql.graft.LogFileIndex.scan(readSession, path, files,
        StructType(readSchema), StructType(pvFields), partFields.map(physicalNameOf), streaming),
      dvBytes)
    val renamed = dataFields.map(f =>
      (if (byId) col(f.name) else col(physicalNameOf(f)).cast(f.dataType)).as(f.name)) ++
      partFields.map(f => col(s"__graft_pv_${f.name}").as(f.name)) ++
      extraPhysical.map(f => col(f.name)) ++
      (if (keepMeta) Seq(col("_metadata").as("_metadata")) else Nil)
    val ordered = schema.fieldNames.toSeq ++ extraPhysical.map(_.name) ++
      (if (keepMeta) Seq("_metadata") else Nil)
    g.select(renamed: _*).select(ordered.map(col): _*)
  }

  /** [[scan]] over `_change_data` files: the data columns plus the
    * protocol's `_change_type` (no mapping id, bound by its own name). */
  private[graft] def scanCdc(
      spark: SparkSession, path: String, meta: MetadataAction,
      files: Seq[AddCDCFile], streaming: Boolean = false): DataFrame =
    scan(spark, path, meta, files.map(c => AddFile(c.path, c.partitionValues, c.size)),
      streaming = streaming,
      extraPhysical = Seq(StructField(ChangeFeed.ChangeTypeCol, StringType, nullable = false)))

  /** Two-level log-side file pruning, before any scan exists:
    * (1) partition-column conjuncts evaluated exactly against each add's
    * partitionValues; (2) data-column conjuncts range-checked against the
    * per-file min/max stats harvested at write time (data skipping). A
    * file survives if ANY OR-branch's conjuncts could all hold in it.
    * Missing stats / untranslatable predicates never prune (conservative).
    */
  // ---- partition pruning THROUGH generated columns ----------------------
  private val YearGenRe = """(?i)^\s*year\s*\(\s*`?([A-Za-z0-9_]+)`?\s*\)\s*$""".r
  private val DateGenRe =
    ("""(?i)^\s*(?:CAST\s*\(\s*`?([A-Za-z0-9_]+)`?\s+AS\s+DATE\s*\)""" +
      """|to_date\s*\(\s*`?([A-Za-z0-9_]+)`?\s*\)""" +
      """|date\s*\(\s*`?([A-Za-z0-9_]+)`?\s*\))\s*$""").r
  private val MonthGenRe = """(?i)^\s*month\s*\(\s*`?([A-Za-z0-9_]+)`?\s*\)\s*$""".r
  private val DayGenRe =
    """(?i)^\s*(?:day|dayofmonth)\s*\(\s*`?([A-Za-z0-9_]+)`?\s*\)\s*$""".r
  // NO hour(x) kernel: the timezone-safety window (±26 h) spans more
  // than a day, so every hour value is reachable from any instant —
  // nothing derives soundly. Hour-grained layouts prune through the
  // monotone date_format('yyyy-MM-dd-HH') / date_trunc('hour') kernels.
  private val DateTruncRe =
    """(?i)^\s*date_trunc\s*\(\s*['"](year|quarter|month|week|day|hour|minute|second)['"]\s*,\s*`?([A-Za-z0-9_]+)`?\s*\)\s*$""".r
  private val TruncRe =
    """(?i)^\s*trunc\s*\(\s*`?([A-Za-z0-9_]+)`?\s*,\s*['"](year|yyyy|yy|quarter|month|mon|mm|week)['"]\s*\)\s*$""".r
  private val DateFormatRe =
    """(?i)^\s*date_format\s*\(\s*`?([A-Za-z0-9_]+)`?\s*,\s*['"]([^'"]+)['"]\s*\)\s*$""".r
  /** date_format patterns whose output sorts lexicographically in time
    * order — exactly the prefixes of the ISO-ish layout. */
  private val MonotoneFormats = Set(
    "yyyy", "yyyy-MM", "yyyy-MM-dd", "yyyy-MM-dd HH", "yyyy-MM-dd-HH",
    "yyyy-MM-dd HH:mm", "yyyy-MM-dd HH:mm:ss", "yyyy/MM/dd", "yyyyMMdd", "yyyyMM")

  /** Widening slack for the trunc/format/month kernels: larger than any
    * UTC offset (±14 h) plus DST shifts, so a derivation computed in UTC
    * bounds a partition value computed under ANY writer session
    * timezone. (The year/date kernels above predate this and widen by a
    * full unit instead — also safe, ≥ 1 day.) */
  private val SlackMs = 26L * 3600 * 1000

  private def utcAt(ms: Long): java.time.ZonedDateTime =
    java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC)

  private def truncUtc(unit: String, ms: Long): java.time.ZonedDateTime = {
    val z = utcAt(ms)
    unit match {
      case "year" => z.toLocalDate.withDayOfYear(1)
        .atStartOfDay(java.time.ZoneOffset.UTC)
      case "quarter" => z.toLocalDate.withDayOfMonth(1)
        .withMonth(((z.getMonthValue - 1) / 3) * 3 + 1)
        .atStartOfDay(java.time.ZoneOffset.UTC)
      case "month" => z.toLocalDate.withDayOfMonth(1)
        .atStartOfDay(java.time.ZoneOffset.UTC)
      case "week" => z.toLocalDate
        .`with`(java.time.temporal.TemporalAdjusters
          .previousOrSame(java.time.DayOfWeek.MONDAY))
        .atStartOfDay(java.time.ZoneOffset.UTC)
      case "day" => z.toLocalDate.atStartOfDay(java.time.ZoneOffset.UTC)
      case "hour" => z.truncatedTo(java.time.temporal.ChronoUnit.HOURS)
      case "minute" => z.truncatedTo(java.time.temporal.ChronoUnit.MINUTES)
      case "second" => z.truncatedTo(java.time.temporal.ChronoUnit.SECONDS)
    }
  }

  /** One derivation kernel: partition conjuncts implied by a data-column
    * comparison at epoch-millis `ms` through the generation expression. */
  private sealed trait GenKernel {
    def derive(partCol: String, op: String, ms: Long): Seq[Predicate]
  }
  /** Monotone g: ranges and equality both derive (bounds widened by
    * [[SlackMs]] in the conservative direction). */
  private final case class MonotoneKernel(g: Long => Any) extends GenKernel {
    def derive(p: String, op: String, ms: Long): Seq[Predicate] = op match {
      case ">" | ">=" => Seq(Predicate(p, ">=", g(ms - SlackMs)))
      case "<" | "<=" => Seq(Predicate(p, "<=", g(ms + SlackMs)))
      case "==" | "=" =>
        Seq(Predicate(p, ">=", g(ms - SlackMs)), Predicate(p, "<=", g(ms + SlackMs)))
      case _ => Nil
    }
  }
  /** Wrapping extractors (month / day-of-month) are not monotone in x,
    * so only EQUALITY derives — and only when the slack window doesn't
    * wrap the unit (no Dec→Jan, 31st→1st). Sound because the window
    * (±26 h) is far shorter than the unit's period, so reachable values
    * form the contiguous range [g(ms−slack), g(ms+slack)] whenever that
    * range doesn't wrap. (No hour kernel — see above.) */
  private final case class WrappingKernel(part: java.time.ZonedDateTime => Long)
      extends GenKernel {
    def derive(p: String, op: String, ms: Long): Seq[Predicate] = op match {
      case "==" | "=" =>
        val lo = part(utcAt(ms - SlackMs))
        val hi = part(utcAt(ms + SlackMs))
        if (lo <= hi) Seq(Predicate(p, ">=", lo), Predicate(p, "<=", hi)) else Nil
      case _ => Nil
    }
  }
  private val MonthKernel = WrappingKernel(_.getMonthValue.toLong)
  private val DayKernel = WrappingKernel(_.getDayOfMonth.toLong)

  /** Partition conjuncts IMPLIED by data-column predicates through
    * MONOTONE generation expressions — the pattern that makes
    * `WHERE event_ts > T` prune date/year partitions generated from the
    * timestamp. Whitelist: `year(x)` and the date truncations
    * `CAST(x AS DATE)` / `to_date(x)` / `date(x)` (monotone
    * non-decreasing; `month`/`day` alone wrap and derive nothing).
    * Derived bounds are WIDENED by one unit in the conservative
    * direction, so the implication holds under any session timezone
    * (offsets are < 1 day < 1 unit) — at scale the pruning still drops
    * all but the boundary partitions, and correctness never depends on
    * the derivation (pruning-only). */
  private[delta] def derivedPartitionConjuncts(
      snap: Snapshot, conj: Seq[Predicate]): Seq[Predicate] = {
    val partCols = snap.partitionColumns.toSet
    // year/date keep their original one-unit widening; the newer kernels
    // (month / date_trunc / trunc / date_format) widen by SlackMs
    def yearKernel: GenKernel = new GenKernel {
      def derive(p: String, op: String, ms: Long): Seq[Predicate] = {
        def y(m: Long, d: Long) = utcAt(m).getYear.toLong + d
        op match {
          case ">" | ">=" => Seq(Predicate(p, ">=", y(ms, -1L)))
          case "<" | "<=" => Seq(Predicate(p, "<=", y(ms, 1L)))
          case "==" | "=" => Seq(Predicate(p, ">=", y(ms, -1L)), Predicate(p, "<=", y(ms, 1L)))
          case _ => Nil
        }
      }
    }
    def dateKernel: GenKernel = new GenKernel {
      def derive(p: String, op: String, ms: Long): Seq[Predicate] = {
        def d(m: Long, delta: Long) = java.sql.Date.valueOf(
          java.time.LocalDate.ofEpochDay(Math.floorDiv(m, 86400000L) + delta))
        op match {
          case ">" | ">=" => Seq(Predicate(p, ">=", d(ms, -1L)))
          case "<" | "<=" => Seq(Predicate(p, "<=", d(ms, 1L)))
          case "==" | "=" => Seq(Predicate(p, ">=", d(ms, -1L)), Predicate(p, "<=", d(ms, 1L)))
          case _ => Nil
        }
      }
    }
    val gens: Seq[(String, String, GenKernel)] =
      DeltaWrite.generatedColumnsOf(snap.schema).flatMap { case (p, sql) =>
        if (!partCols.contains(p)) None
        else sql match {
          case YearGenRe(src) => Some((p, src, yearKernel))
          case DateGenRe(a, b, c) =>
            Some((p, Seq(a, b, c).find(_ != null).get, dateKernel))
          case MonthGenRe(src) => Some((p, src, MonthKernel))
          case DayGenRe(src) => Some((p, src, DayKernel))
          case DateTruncRe(unit, src) =>
            val u = unit.toLowerCase
            Some((p, src, MonotoneKernel(ms =>
              new java.sql.Timestamp(truncUtc(u, ms).toInstant.toEpochMilli))))
          case TruncRe(src, fmt) =>
            // trunc() returns DATE; yyyy/yy → year, mon/mm → month
            val u = fmt.toLowerCase match {
              case "yyyy" | "yy" | "year" => "year"
              case "mon" | "mm" | "month" => "month"
              case other => other
            }
            Some((p, src, MonotoneKernel(ms =>
              java.sql.Date.valueOf(truncUtc(u, ms).toLocalDate))))
          case DateFormatRe(src, fmt) if MonotoneFormats.contains(fmt) =>
            val formatter = java.time.format.DateTimeFormatter.ofPattern(fmt)
            Some((p, src, MonotoneKernel(ms => utcAt(ms).format(formatter))))
          case _ => None
        }
      }
    if (gens.isEmpty) return Nil
    def millisOf(v: Any): Option[Long] = v match {
      case t: java.sql.Timestamp => Some(t.getTime)
      case d: java.sql.Date => Some(d.toLocalDate.toEpochDay * 86400000L)
      case d: java.time.LocalDate => Some(d.toEpochDay * 86400000L)
      case i: java.time.Instant => Some(i.toEpochMilli)
      case n: Number => Some(n.longValue())
      case s: String =>
        try Some(parseTimestampMillis(s)) catch { case _: Exception => None }
      case _ => None
    }
    gens.flatMap { case (p, src, kernel) =>
      conj.filter(_.column == src).flatMap { q =>
        millisOf(q.value).toSeq.flatMap(ms => kernel.derive(p, q.op, ms))
      }
    }
  }

  /** The active files some row of which may satisfy `filters`, judged
    * from the log alone ([[StatsPruning.fileTest]] at `May`). */
  private[graft] def prunedFiles(snap: Snapshot, filters: Seq[Seq[Predicate]]): Seq[AddFile] =
    if (filters.isEmpty) snap.activeFiles
    else snap.activeFiles.filter(StatsPruning.fileTest(snap, filters, StatsPruning.May))

  private[delta] def evalPredicate(raw: Option[String], dt: DataType, p: Predicate): Boolean = {
    def castRaw(s: String): Any = dt match {
      case LongType | IntegerType | ShortType | ByteType => s.toLong
      case DoubleType | FloatType => s.toDouble
      case BooleanType => s.toBoolean
      case _: DecimalType => BigDecimal(s)
      // partition strings "2020-05-01" / "2020-05-01 00:00:00[.SSS]"
      case DateType => java.time.LocalDate.parse(s).toEpochDay
      case TimestampType | TimestampNTZType => parseTimestampMillis(s)
      case _ => s
    }
    def toComparable(v: Any): Any = v match {
      case d: java.sql.Date => d.toLocalDate.toEpochDay
      case d: java.time.LocalDate => d.toEpochDay
      case t: java.sql.Timestamp => t.getTime
      case t: java.time.Instant => t.toEpochMilli
      case n: Number if dt.isInstanceOf[NumericType] => castNum(n)
      case n: Number if dt == DateType || dt == TimestampType => n.longValue()
      case s: String => castRaw(s)
      case other => other
    }
    def castNum(n: Number): Any = dt match {
      case LongType | IntegerType | ShortType | ByteType => n.longValue()
      case DoubleType | FloatType => n.doubleValue()
      // decimal partition column: normalize ANY numeric predicate value
      // to scala BigDecimal so it compares value-wise against the parsed
      // partition string ("2.00" == 2 == 2.0) instead of failing on
      // class mismatch
      case _: DecimalType => n match {
        case b: java.math.BigDecimal => BigDecimal(b)
        case _: java.lang.Long | _: java.lang.Integer |
             _: java.lang.Short | _: java.lang.Byte => BigDecimal(n.longValue())
        case _ => BigDecimal(n.doubleValue())
      }
      case _ => n
    }
    raw match {
      case None =>
        // null partition value: only `!=`/`not in` can be satisfied… by
        // SQL semantics nulls fail all comparisons; mirror arrow behavior
        // of excluding nulls from comparisons.
        false
      case Some(s) =>
        val lhs = castRaw(s)
        p.op match {
          case "==" | "=" => lhs == toComparable(p.value)
          case "!=" => lhs != toComparable(p.value)
          case "<" => cmp(lhs, toComparable(p.value)) < 0
          case ">" => cmp(lhs, toComparable(p.value)) > 0
          case "<=" => cmp(lhs, toComparable(p.value)) <= 0
          case ">=" => cmp(lhs, toComparable(p.value)) >= 0
          case "in" => seqOf(p.value).map(toComparable).contains(lhs)
          case "not in" => !seqOf(p.value).map(toComparable).contains(lhs)
          case other => throw new IllegalArgumentException(s"Unsupported filter op: $other")
        }
    }
  }

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: BigDecimal, y: BigDecimal) => x.compare(y)
    case (x: String, y: String) => x.compareTo(y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case _ => throw new IllegalArgumentException(s"Cannot compare $a with $b")
  }

  private def seqOf(v: Any): Seq[Any] = v match {
    case s: Seq[_] => s
    case a: Array[_] => a.toSeq
    case i: java.lang.Iterable[_] => scala.jdk.CollectionConverters.IterableHasAsScala(i).asScala.toSeq
    case other => Seq(other)
  }

  /** DNF tuples → one Catalyst Column (OR of ANDs), the row-level
    * equivalent of pyarrow's filters_to_expression. */
  def dnfToColumn(filters: Seq[Seq[Predicate]]): Column =
    filters
      .map(conj => conj.map(predToColumn).reduce(_ && _))
      .reduce(_ || _)

  private def predToColumn(p: Predicate): Column = {
    val c = col(p.column)
    p.op match {
      case "==" | "=" => c === lit(p.value)
      case "!=" => c =!= lit(p.value)
      case "<" => c < lit(p.value)
      case ">" => c > lit(p.value)
      case "<=" => c <= lit(p.value)
      case ">=" => c >= lit(p.value)
      case "in" => c.isin(seqOf(p.value): _*)
      case "not in" => !c.isin(seqOf(p.value): _*)
      case other => throw new IllegalArgumentException(s"Unsupported filter op: $other")
    }
  }

  /** `add.path` is URI-encoded per the Delta protocol (delta-spark
    * behavior) — decode before resolving against the table root. Paths
    * that fail URI parsing (legacy writers storing raw paths) fall back
    * to the literal string. */
  def resolvePath(tablePath: String, filePath: String): String = {
    val decoded =
      try {
        val u = new java.net.URI(filePath)
        if (u.isAbsolute) filePath // scheme-qualified: keep as-is
        else Option(u.getPath).filter(_.nonEmpty).getOrElse(filePath)
      } catch { case _: java.net.URISyntaxException => filePath }
    val p = new Path(decoded)
    if (p.isAbsolute) decoded
    else new Path(tablePath, decoded).toString
  }

  private[graft] def parseTimestampMillis(ts: String): Long =
    parseTimestampInstant(ts)
      .getOrElse(throw new IllegalArgumentException(s"Cannot parse timestamp: $ts"))
      .toEpochMilli

  /** Full-precision variant: the Instant a timestamp/date string denotes
    * (ISO instant, offset, "yyyy-MM-dd HH:mm:ss", ISO local, bare date —
    * zone-less forms read as UTC), or None if unparseable. */
  private[graft] def parseTimestampInstant(ts: String): Option[Instant] = {
    val trimmed = ts.trim
    val attempts: Seq[() => Instant] = Seq(
      () => Instant.parse(trimmed),
      () => java.time.OffsetDateTime.parse(trimmed).toInstant,
      () => LocalDateTime
        .parse(trimmed, DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
        .toInstant(ZoneOffset.UTC),
      // space-separated with fractional seconds (java.sql.Timestamp
      // .toString's shape, "2026-08-15 11:26:20.084"): ISO-ify the
      // separator and let the full-precision ISO parser take it
      () => LocalDateTime.parse(trimmed.replaceFirst(" ", "T")).toInstant(ZoneOffset.UTC),
      () => LocalDateTime.parse(trimmed).toInstant(ZoneOffset.UTC),
      () => LocalDateTime.parse(trimmed + "T00:00:00").toInstant(ZoneOffset.UTC)
    )
    attempts.view
      .flatMap(f => try Some(f()) catch { case _: Exception => None })
      .headOption
  }
}
