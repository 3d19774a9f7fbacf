package graft.delta

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.types.StringType

/** Data skipping from per-file column statistics: the read-side consumer
  * of the min/max/nullCount stats the writer harvests from parquet
  * footers (reference analog: delta-rs stores the same stats JSON,
  * writer.py:99-117; delta-spark uses them for data skipping).
  *
  * Everything is conservative: a file is skipped ONLY when its stats
  * prove no row can satisfy the predicate. Missing stats, unknown ops,
  * or type mismatches keep the file. At 100 TB this prunes whole files
  * at snapshot-construction time — before Spark lists or plans them.
  */
object StatsPruning {

  final case class FileStats(
      numRecords: Option[Long],
      min: Map[String, Any],
      max: Map[String, Any],
      nullCount: Map[String, Long])

  // BigDecimal floats: a DECIMAL(38,x) bound re-read as a double would
  // lose digits past 17 and could flip a boundary comparison — exact
  // decimal parse keeps pruning proofs sound at any precision
  private val mapper = new ObjectMapper().configure(
    com.fasterxml.jackson.databind.DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS, true)

  /** Stats strings longer than this get canonicalized at snapshot
    * construction (compactStats); shorter ones — everything our own
    * writer emits on typical schemas — are retained verbatim, so the
    * common path pays zero parse CPU. */
  private[delta] val CompactThreshold = 512

  /** Canonical compact re-serialization of a verbose foreign stats
    * string, bounding the bytes the DRIVER retains per active file at
    * any table size: keeps only the five protocol-meaningful fields
    * (numRecords, minValues, maxValues, nullCount, tightBounds), filters
    * per-column entries to `keep` (the table's indexed-stats prefix —
    * physical names under column mapping), truncates oversized string
    * MIN bounds to a 64-char prefix (lexicographically ≤ the true min:
    * still a sound lower bound) and DROPS oversized string MAX bounds
    * (a prefix would shrink the bound — no evidence is the only sound
    * compaction). Value-faithful for everything retained, so checkpoints
    * written from the snapshot stay correct; anything unparseable is
    * kept verbatim. */
  private[delta] def compactStats(json: String, keep: String => Boolean): String = {
    try {
      val root = mapper.readTree(json)
      if (root == null || !root.isObject) return json
      val out = mapper.createObjectNode()
      Option(root.get("numRecords")).filter(_.isNumber)
        .foreach(n => out.set[JsonNode]("numRecords", n))
      def bound(v: JsonNode, maxSide: Boolean): Option[JsonNode] =
        if (v.isTextual && v.asText().length > 64) {
          if (maxSide) None
          else Some(mapper.getNodeFactory.textNode(v.asText().substring(0, 64)))
        } else if (v.isObject) {
          // nested struct stats: canonicalize recursively, same bounds
          val o = mapper.createObjectNode()
          v.properties().forEach { e =>
            bound(e.getValue, maxSide).foreach(b => o.set[JsonNode](e.getKey, b))
          }
          Some(o)
        } else Some(v)
      def copyCols(field: String, maxSide: Boolean): Unit =
        Option(root.get(field)).filter(_.isObject).foreach { src =>
          val dst = mapper.createObjectNode()
          src.properties().forEach { e =>
            if (keep(e.getKey))
              bound(e.getValue, maxSide).foreach(b => dst.set[JsonNode](e.getKey, b))
          }
          out.set[JsonNode](field, dst)
        }
      copyCols("minValues", maxSide = false)
      copyCols("maxValues", maxSide = true)
      copyCols("nullCount", maxSide = false)
      Option(root.get("tightBounds")).filter(_.isBoolean)
        .foreach(n => out.set[JsonNode]("tightBounds", n))
      mapper.writeValueAsString(out)
    } catch { case _: Exception => json }
  }

  def parse(statsJson: Option[String]): Option[FileStats] =
    statsJson.flatMap { s =>
      try {
        val root = mapper.readTree(s)
        def vals(field: String): Map[String, Any] =
          Option(root.get(field)).map { n =>
            import scala.jdk.CollectionConverters._
            n.properties().asScala.flatMap { e =>
              decode(e.getValue).map(e.getKey -> _)
            }.toMap
          }.getOrElse(Map.empty)
        def longs(field: String): Map[String, Long] =
          Option(root.get(field)).map { n =>
            import scala.jdk.CollectionConverters._
            n.properties().asScala
              .filter(_.getValue.isNumber)
              .map(e => e.getKey -> e.getValue.asLong())
              .toMap
          }.getOrElse(Map.empty)
        Some(FileStats(
          numRecords = Option(root.get("numRecords")).filter(_.isNumber).map(_.asLong()),
          min = vals("minValues"),
          max = vals("maxValues"),
          nullCount = longs("nullCount")))
      } catch { case _: Exception => None }
    }

  private def decode(n: JsonNode): Option[Any] =
    if (n == null || n.isNull) None
    // asLong() silently WRAPS for integral values beyond Long range —
    // reachable since DECIMAL(p>18, scale 0) stats serialize as big
    // integral JSON numbers (BigIntegerNode on re-read). Keep those as
    // BigDecimal so the exact-BigDecimal comparison paths handle them.
    else if (n.isIntegralNumber) {
      if (n.canConvertToLong) Some(n.asLong())
      else Some(new java.math.BigDecimal(n.bigIntegerValue()))
    }
    // exact: decimalValue() of a DecimalNode (USE_BIG_DECIMAL_FOR_FLOATS)
    // is the digits as written — no double round-trip. The node factory
    // normalizes trailing zeros ("1.0" parses as decimal 1), so an
    // integral-VALUED decimal decodes as Long exactly like its
    // re-serialized form would — compactStats round-trips stay
    // structurally equal, not just value-equal.
    else if (n.isFloatingPointNumber) {
      val bd = n.decimalValue()
      if (bd.scale <= 0)
        try Some(bd.longValueExact()) catch { case _: ArithmeticException => Some(bd) }
      else Some(bd)
    }
    else if (n.isTextual) Some(n.asText())
    else if (n.isBoolean) Some(n.asBoolean())
    else None

  /** How much a file's log entry must prove about a DNF ([[fileTest]]). */
  sealed trait Strength
  /** Some row may match: scan pruning and the commit conflict check. */
  case object May extends Strength
  /** Every row matches, data conjuncts proven from stats: countWhere. */
  case object Must extends Strength
  /** Every row matches by partition values alone: the DML full-file
    * proof, replaceWhere and OPTIMIZE WHERE. */
  case object PartitionOnly extends Strength

  /** What a file's log entry says about a DNF: true when some
    * conjunction holds for the file at `strength`. Partition conjuncts
    * evaluate exactly on the logged partition values (a null value
    * satisfies nothing); data conjuncts go to [[mayMatch]] / [[mustMatch]]
    * on the stats, and never hold under `PartitionOnly`. Under column
    * mapping the log is keyed by physical names while predicates arrive
    * logical, so names are translated here. `May` also applies the
    * partition bounds that generated partition columns derive from data
    * conjuncts. An empty DNF is no predicate: every file holds. */
  private[delta] def fileTest(
      snap: Snapshot, dnf: Seq[Seq[Predicate]], strength: Strength): AddFile => Boolean = {
    if (dnf.isEmpty) return _ => true
    val partCols = snap.partitionColumns.toSet
    val fieldTypes = snap.schema.fields.map(f => f.name -> f.dataType).toMap
    val physOf: Map[String, String] =
      if (DeltaRead.mappingModeOf(snap) == "none") Map.empty
      else snap.schema.fields.map(f => f.name -> DeltaRead.physicalNameOf(f)).toMap
    val conjs =
      if (strength == May) dnf.map(c => c ++ DeltaRead.derivedPartitionConjuncts(snap, c))
      else dnf
    // each conjunct resolved once per call: on its physical name, with
    // its column type when it is a partition column
    val resolved = conjs.map(_.map { p =>
      val partType =
        if (partCols.contains(p.column)) Some(fieldTypes.getOrElse(p.column, StringType))
        else None
      (p.copy(column = physOf.getOrElse(p.column, p.column)), partType)
    })
    f => {
      lazy val stats = parse(f.stats)
      resolved.exists(_.forall {
        case (p, Some(dt)) =>
          DeltaRead.evalPredicate(f.partitionValues.get(p.column).flatMap(Option(_)), dt, p)
        case (p, None) => strength match {
          case May => mayMatch(stats, p)
          case Must => mustMatch(stats, p)
          case PartitionOnly => false
        }
      })
    }
  }

  /** A file's live rows: its stats' numRecords minus its deletion
    * vector's cardinality (DV positions are deleted rows of this file).
    * None when the stats carry no numRecords. */
  private[delta] def liveRows(f: AddFile): Option[Long] =
    parse(f.stats).flatMap(_.numRecords).map(_ - f.dvCardinality)

  /** Could any row of a file with these stats satisfy the predicate?
    * `None` stats → always true (no pruning evidence). */
  def mayMatch(stats: Option[FileStats], p: Predicate): Boolean = stats match {
    case None => true
    case Some(st) =>
      // all-null column can satisfy nothing in our comparison op set
      val allNull = (st.numRecords, st.nullCount.get(p.column)) match {
        case (Some(n), Some(nulls)) => n > 0 && nulls >= n
        case _ => false
      }
      if (allNull) return false
      (st.min.get(p.column), st.max.get(p.column)) match {
        case (Some(mn), Some(mx)) => rangeMayMatch(mn, mx, p)
        case _ => true
      }
  }

  /** Must EVERY row of a file with these stats satisfy the predicate?
    * Sound under widened stats (foreign writers may truncate string
    * min/max, but only outward: truncated min ≤ true min, truncated max
    * ≥ true max — a widened range inside the predicate region still
    * proves inclusion). Requires nullCount known-zero: a NULL row
    * satisfies no comparison, so any possible null forfeits the proof.
    * `false` = no proof (file must be scanned), never an answer. */
  def mustMatch(stats: Option[FileStats], p: Predicate): Boolean = stats match {
    case None => false
    case Some(st) =>
      val vacuous = st.numRecords.contains(0L)
      val noNulls = (st.numRecords, st.nullCount.get(p.column)) match {
        case (Some(_), Some(z)) => z == 0L
        case _ => false
      }
      if (vacuous) true
      else if (!noNulls) false
      else (st.min.get(p.column), st.max.get(p.column)) match {
        case (Some(mn), Some(mx)) => rangeMustMatch(mn, mx, p)
        case _ => false
      }
  }

  /** Micros-precision clock value of a predicate-side time object —
    * None marks "not a time value". */
  private def timeMicros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp =>
      Some(t.getTime * 1000L + (t.getNanos.toLong / 1000L) % 1000L)
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay * 86400000000L)
    case d: java.time.LocalDate => Some(d.toEpochDay * 86400000000L)
    case i: java.time.Instant =>
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case _ => None
  }

  /** Stats-vs-predicate comparison. Timestamp/date predicates compare on
    * the micros clock against the stats JSON's ISO strings (the Delta
    * encoding for time min/max) — without this, every time-typed
    * predicate was "incomparable" and time columns never data-skipped.
    * The protocol contract that stats only WIDEN (min ≤ true min ≤ true
    * max ≤ max) makes the parsed bounds trustworthy in both directions;
    * an unparseable string is simply incomparable (no pruning, no
    * proof). Everything else keeps the numeric/string/boolean rules. */
  private def cmp(a: Any, b: Any): Option[Int] = {
    def parsed(v: Any): Option[Long] = timeMicros(v).orElse(v match {
      case s: String => DeltaRead.parseTimestampInstant(s)
        .map(i => i.getEpochSecond * 1000000L + i.getNano / 1000L)
      case _ => None
    })
    (timeMicros(a), timeMicros(b)) match {
      case (Some(x), None) => parsed(b).map(java.lang.Long.compare(x, _))
      case (None, Some(y)) => parsed(a).map(java.lang.Long.compare(_, y))
      case (Some(x), Some(y)) => Some(java.lang.Long.compare(x, y))
      case (None, None) => (norm(a), norm(b)) match {
        // finite numerics normalize to BigDecimal: exact at any scale
        // and precision (a double round-trip of a DECIMAL(38,x) bound
        // could flip an equality/boundary comparison and prune wrong)
        case (x: java.math.BigDecimal, y: java.math.BigDecimal) => Some(x.compareTo(y))
        // a surviving Double is NaN/±Inf (norm keeps them): NaN is
        // incomparable (no pruning proof), infinities bound everything
        case (x: Double, y: Double) => Some(java.lang.Double.compare(x, y))
        case (_: java.math.BigDecimal, y: Double) =>
          if (y.isNaN) None else Some(if (y.isPosInfinity) -1 else 1)
        case (x: Double, _: java.math.BigDecimal) =>
          if (x.isNaN) None else Some(if (x.isPosInfinity) 1 else -1)
        case (x: String, y: String) => Some(x.compareTo(y))
        case (x: Boolean, y: Boolean) => Some(java.lang.Boolean.compare(x, y))
        case _ => None
      }
    }
  }

  private def rangeMustMatch(mn: Any, mx: Any, p: Predicate): Boolean = {
    def values(v: Any): Seq[Any] = v match {
      case s: Seq[_] => s
      case a: Array[_] => a.toSeq
      case i: java.lang.Iterable[_] =>
        scala.jdk.CollectionConverters.IterableHasAsScala(i).asScala.toSeq
      case other => Seq(other)
    }
    p.op match {
      case "==" | "=" =>
        cmp(mn, p.value).contains(0) && cmp(mx, p.value).contains(0)
      case ">" => cmp(mn, p.value).exists(_ > 0)
      case ">=" => cmp(mn, p.value).exists(_ >= 0)
      case "<" => cmp(mx, p.value).exists(_ < 0)
      case "<=" => cmp(mx, p.value).exists(_ <= 0)
      case "in" =>
        cmp(mn, mx).contains(0) && values(p.value).exists(v => cmp(mn, v).contains(0))
      case "!=" =>
        cmp(mx, p.value).exists(_ < 0) || cmp(mn, p.value).exists(_ > 0)
      case "not in" =>
        values(p.value).forall(v =>
          cmp(mx, v).exists(_ < 0) || cmp(mn, v).exists(_ > 0))
      case _ => false
    }
  }

  private def rangeMayMatch(mn: Any, mx: Any, p: Predicate): Boolean = {
    def values(v: Any): Seq[Any] = v match {
      case s: Seq[_] => s
      case a: Array[_] => a.toSeq
      case i: java.lang.Iterable[_] =>
        scala.jdk.CollectionConverters.IterableHasAsScala(i).asScala.toSeq
      case other => Seq(other)
    }
    p.op match {
      case "==" | "=" =>
        (cmp(p.value, mn), cmp(p.value, mx)) match {
          case (Some(a), Some(b)) => a >= 0 && b <= 0
          case _ => true
        }
      case ">" => cmp(mx, p.value).forall(_ > 0)
      case ">=" => cmp(mx, p.value).forall(_ >= 0)
      case "<" => cmp(mn, p.value).forall(_ < 0)
      case "<=" => cmp(mn, p.value).forall(_ <= 0)
      case "in" =>
        values(p.value).exists { v =>
          (cmp(v, mn), cmp(v, mx)) match {
            case (Some(a), Some(b)) => a >= 0 && b <= 0
            case _ => true
          }
        }
      // != / not in: only min==max==v proves emptiness; rarely worth it
      case "!=" | "not in" =>
        true
      case _ => true
    }
  }

  /** Normalize finite numerics to BigDecimal for EXACT range comparison
    * (stats JSON longs/decimals vs predicate ints/doubles/decimals — a
    * shared double representation rounded 19-digit longs and high-
    * precision decimals, so a boundary comparison could prune a file
    * that held matching rows). NaN/±Inf stay Double; strings/booleans
    * stay as-is; mixed types → incomparable → no pruning. */
  private def norm(v: Any): Any = v match {
    case n: Byte => java.math.BigDecimal.valueOf(n.toLong)
    case n: Short => java.math.BigDecimal.valueOf(n.toLong)
    case n: Int => java.math.BigDecimal.valueOf(n.toLong)
    case n: Long => java.math.BigDecimal.valueOf(n)
    // floats widen THROUGH DOUBLE (0.1f → 0.10000000149…), matching the
    // harvest's float→double stats encode, so float equality still meets
    case n: Float =>
      if (n.isNaN || n.isInfinite) n.toDouble
      else java.math.BigDecimal.valueOf(n.toDouble)
    case n: Double =>
      if (n.isNaN || n.isInfinite) n else java.math.BigDecimal.valueOf(n)
    case n: BigDecimal => n.bigDecimal
    case n: java.math.BigDecimal => n
    case other => other
  }
}
