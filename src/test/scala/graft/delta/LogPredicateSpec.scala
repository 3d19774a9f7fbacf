package graft.delta

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files
import java.sql.Timestamp

/** Differential pin for the one log-entry predicate test
  * ([[StatsPruning.fileTest]]) and the one live-row count
  * ([[StatsPruning.liveRows]]). A predicate corpus over partition and
  * data columns runs against three tables and pins, per case, which
  * files each reader of the log keeps:
  *  - `pruned`: scan pruning (`DeltaRead.prunedFiles`);
  *  - `conflict`: the files a concurrent writer could add that DELETE,
  *    UPDATE and MERGE treat as phantoms;
  *  - `proof`: the partition-only full-file proof (DML, replaceWhere,
  *    OPTIMIZE WHERE);
  *  - `must`: the files `countWhere` counts from stats;
  *  - `countWhere`'s count and its excluded / from-stats / scanned split.
  *
  * The tables cover null partition values, all-null and partly-null
  * data columns, a file without stats, DECIMAL(38,2), TIMESTAMP_NTZ, a
  * generated partition column derived from a timestamp, and a
  * column-mapped table whose partition and data columns were renamed.
  * The expected sets are the values the per-operation copies of this
  * test produced before they were folded into one, except where the
  * copies were wrong; those rows say so. */
class LogPredicateSpec extends GraftSuite {

  private def tmp(): String = {
    val d = Files.createTempDirectory("graft_logpred")
    d.toFile.deleteOnExit()
    s"$d/tbl"
  }

  private type Dnf = Seq[Seq[Predicate]]
  private def P(c: String, op: String, v: Any): Predicate = Predicate(c, op, v)

  /** A table whose active files carry test labels, in write order. */
  private final case class Table(path: String, labels: Map[String, String]) {
    def snap: Snapshot = DeltaLog.forTable(spark, path).snapshot(None)
    def kept(test: AddFile => Boolean): String =
      snap.activeFiles.filter(test).map(f => labels(f.path)).sorted.mkString(",")
  }

  /** Writes each labelled frame as one file and returns the table. */
  private def build(partitionBy: Seq[String], files: Seq[(String, DataFrame)]): Table = {
    val path = tmp()
    val labels = files.zipWithIndex.map { case ((label, df), i) =>
      val before = if (i == 0) Set.empty[String]
        else DeltaLog.forTable(spark, path).snapshot(None).activeFiles.map(_.path).toSet
      GraftDelta.toDelta(df.coalesce(1), path,
        mode = if (i == 0) "error" else "append", partitionBy = partitionBy)
      val added = DeltaLog.forTable(spark, path).snapshot(None).activeFiles
        .map(_.path).filterNot(before)
      assert(added.size == 1, s"$label wrote ${added.size} files")
      added.head -> label
    }.toMap
    Table(path, labels)
  }

  /** Re-adds the labelled file without stats, as a foreign writer may. */
  private def dropStats(t: Table, label: String): Unit = {
    val log = DeltaLog.forTable(spark, t.path)
    val snap = log.snapshot(None)
    val f = snap.activeFiles.find(a => t.labels(a.path) == label).get
    log.writeCommit(snap.version + 1, Seq(
      CommitInfo(System.currentTimeMillis(), "WRITE", readVersion = Some(snap.version),
        isBlindAppend = Some(false)),
      f.copy(stats = None)))
  }

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** p STRING partition (a, b, null, c); id BIGINT; d DECIMAL(38,2);
    * t TIMESTAMP_NTZ. a2 is all-null in its data columns, b2 has no
    * stats, c1 has one null id. */
  private lazy val plain: Table = {
    def rows(lo: Long, p: Column): DataFrame =
      spark.range(lo, lo + 10).select(
        col("id"),
        (col("id") + lit(0.5)).cast(DecimalType(38, 2)).as("d"),
        expr("timestamp_ntz '2021-01-01 00:00:00' + make_interval(0, 0, 0, cast(id as int))")
          .as("t"),
        p.as("p"))
    val t = build(Seq("p"), Seq(
      "a1" -> rows(0, lit("a")),
      "b1" -> rows(10, lit("b")),
      "n1" -> rows(20, lit(null).cast(StringType)),
      "a2" -> rows(30, lit("a")).select(
        lit(null).cast(LongType).as("id"), lit(null).cast(DecimalType(38, 2)).as("d"),
        lit(null).cast(TimestampNTZType).as("t"), col("p")),
      "b2" -> rows(40, lit("b")),
      "c1" -> rows(50, lit("c")).withColumn("id",
        when(col("id") === 55L, lit(null).cast(LongType)).otherwise(col("id")))))
    dropStats(t, "b2")
    t
  }

  /** yr = year(ts) generated partition; y2 has no stats, so only the
    * derived partition bound can prune it. */
  private lazy val generated: Table = {
    val yearMeta = new MetadataBuilder()
      .putString("delta.generationExpression", "year(ts)").build()
    def rows(y: Int): DataFrame =
      spark.range(0, 10).select(
        (col("id") + lit((y - 2000) * 10L)).as("id"),
        expr(s"timestamp '$y-06-01 00:00:00' + make_interval(0, 0, 0, cast(id as int))").as("ts"))
        .withColumn("yr", year(col("ts")).as("yr", yearMeta))
    val t = build(Seq("yr"), Seq("y0" -> rows(2000), "y1" -> rows(2001),
      "y2" -> rows(2002), "y3" -> rows(2003)))
    dropStats(t, "y2")
    t
  }

  /** Column mapping enabled after the writes, then part → lang and
    * k → key renamed: the log keeps the physical names part and k. */
  private lazy val mapped: Table = {
    def rows(lo: Long, part: String): DataFrame =
      spark.range(lo, lo + 10).select(col("id").as("k"),
        concat(lit("v"), col("id").cast(StringType)).as("v"), lit(part).as("part"))
    val t = build(Seq("part"), Seq("x1" -> rows(0, "x"), "y1" -> rows(10, "y"),
      "x2" -> rows(20, "x")))
    GraftDelta.enableColumnMapping(spark, t.path)
    GraftDelta.renameColumn(spark, t.path, "part", "lang")
    GraftDelta.renameColumn(spark, t.path, "k", "key")
    t
  }

  /** One corpus row: the table, the DNF, and the expected kept sets and
    * countWhere (count, excluded, from stats, scanned). */
  private final case class Case(
      name: String, table: () => Table, dnf: Dnf,
      pruned: String, conflict: String, proof: String, must: String,
      countWhere: (Long, Int, Int, Int))

  private val corpus: Seq[Case] = Seq(
    Case("p == a", () => plain,
      Seq(Seq(P("p", "==", "a"))),
      "a1,a2", "a1,a2", "a1,a2", "a1,a2", (20, 4, 2, 0)),
    Case("p != a", () => plain,
      Seq(Seq(P("p", "!=", "a"))),
      "b1,b2,c1", "b1,b2,c1", "b1,b2,c1", "b1,c1", (30, 3, 2, 1)),
    Case("p in (a, c)", () => plain,
      Seq(Seq(P("p", "in", Seq("a", "c")))),
      "a1,a2,c1", "a1,a2,c1", "a1,a2,c1", "a1,a2,c1", (30, 3, 3, 0)),
    Case("10 <= id < 20", () => plain,
      Seq(Seq(P("id", ">=", 10L), P("id", "<", 20L))),
      "b1,b2", "b1,b2", "", "b1", (10, 4, 1, 1)),
    Case("id == 25 or p == c", () => plain,
      Seq(Seq(P("id", "==", 25L)), Seq(P("p", "==", "c"))),
      "b2,c1,n1", "b2,c1,n1", "c1", "c1", (11, 3, 1, 2)),
    Case("id > 100", () => plain,
      Seq(Seq(P("id", ">", 100L))),
      "b2", "b2", "", "", (0, 5, 0, 1)),
    Case("id != 3", () => plain,
      Seq(Seq(P("id", "!=", 3L))),
      "a1,b1,b2,c1,n1", "a1,b1,b2,c1,n1", "", "b1,n1", (48, 1, 2, 3)),
    Case("d >= 5.00 (decimal)", () => plain,
      Seq(Seq(P("d", ">=", BigDecimal("5.00")))),
      "a1,b1,b2,c1,n1", "a1,b1,b2,c1,n1", "", "b1,c1,n1", (45, 1, 3, 2)),
    Case("d < 0.75 (decimal)", () => plain,
      Seq(Seq(P("d", "<", BigDecimal("0.75")))),
      "a1,b2", "a1,b2", "", "", (1, 4, 0, 2)),
    Case("t < 2021-01-05 (NTZ)", () => plain,
      Seq(Seq(P("t", "<", ts("2021-01-05 00:00:00")))),
      "a1,b2", "a1,b2", "", "", (4, 4, 0, 2)),
    Case("t >= 2021-02-10 (NTZ)", () => plain,
      Seq(Seq(P("t", ">=", ts("2021-02-10 00:00:00")))),
      "b2,c1", "b2,c1", "", "c1", (20, 4, 1, 1)),
    Case("p == a and id <= 5", () => plain,
      Seq(Seq(P("p", "==", "a"), P("id", "<=", 5L))),
      "a1", "a1", "", "", (6, 5, 0, 1)),
    Case("p == b and d > 100", () => plain,
      Seq(Seq(P("p", "==", "b"), P("d", ">", BigDecimal(100)))),
      "b2", "b2", "", "", (0, 5, 0, 1)),
    Case("ts >= 2002-01-01 (generated)", () => generated,
      Seq(Seq(P("ts", ">=", ts("2002-01-01 00:00:00")))),
      "y2,y3", "y2,y3", "", "y3", (20, 2, 1, 1)),
    Case("ts >= 2004-01-01 (generated)", () => generated,
      Seq(Seq(P("ts", ">=", ts("2004-01-01 00:00:00")))),
      // the conflict copy kept "y2": it skipped the derived yr bound
      "", "", "", "", (0, 4, 0, 0)),
    Case("yr == 2001 (generated)", () => generated,
      Seq(Seq(P("yr", "==", 2001))),
      "y1", "y1", "y1", "y1", (10, 3, 1, 0)),
    Case("ts < 2001-01-01 and id >= 0 (generated)", () => generated,
      Seq(Seq(P("ts", "<", ts("2001-01-01 00:00:00")), P("id", ">=", 0L))),
      "y0,y2", "y0,y2", "", "y0", (10, 2, 1, 1)),
    Case("lang == x (mapped)", () => mapped,
      Seq(Seq(P("lang", "==", "x"))),
      // the conflict copy kept "": it looked lang up by its logical name
      "x1,x2", "x1,x2", "x1,x2", "x1,x2", (20, 1, 2, 0)),
    Case("key >= 10 (mapped)", () => mapped,
      Seq(Seq(P("key", ">=", 10L))),
      // the conflict copy kept "x1,x2,y1": it read key's stats by its logical name
      "x2,y1", "x2,y1", "", "x2,y1", (20, 1, 2, 0)),
    Case("lang == y and key < 15 (mapped)", () => mapped,
      Seq(Seq(P("lang", "==", "y"), P("key", "<", 15L))),
      // the conflict copy kept "": it looked lang up by its logical name
      "y1", "y1", "", "", (5, 2, 0, 1)),
    Case("key == 5 or lang == y (mapped)", () => mapped,
      Seq(Seq(P("key", "==", 5L)), Seq(P("lang", "==", "y"))),
      // the conflict copy kept "x1,x2,y1": it read key's stats by its logical name
      "x1,y1", "x1,y1", "y1", "y1", (11, 1, 1, 1)))

  // ---- the readers of the log under test --------------------------------
  private def prunedOf(snap: Snapshot, dnf: Dnf): AddFile => Boolean = {
    val keep = DeltaRead.prunedFiles(snap, dnf).map(_.path).toSet
    f => keep(f.path)
  }
  private def conflictOf(snap: Snapshot, dnf: Dnf): AddFile => Boolean =
    StatsPruning.fileTest(snap, dnf, StatsPruning.May)
  private def proofOf(snap: Snapshot, dnf: Dnf): AddFile => Boolean =
    StatsPruning.fileTest(snap, dnf, StatsPruning.PartitionOnly)
  private def mustOf(snap: Snapshot, dnf: Dnf): AddFile => Boolean = {
    val must = StatsPruning.fileTest(snap, dnf, StatsPruning.Must)
    f => StatsPruning.liveRows(f).isDefined && must(f)
  }
  // ------------------------------------------------------------------------

  corpus.foreach { c =>
    test(s"log predicate: ${c.name}") {
      val t = c.table()
      val snap = t.snap
      val got = (t.kept(prunedOf(snap, c.dnf)), t.kept(conflictOf(snap, c.dnf)),
        t.kept(proofOf(snap, c.dnf)), t.kept(mustOf(snap, c.dnf)))
      val cw = DeltaTableOps.countWhere(spark, t.path, c.dnf)
      val gotCw = (cw.count, cw.filesExcluded, cw.filesFromStats, cw.filesScanned)
      val exact = GraftDelta.readDelta(spark, t.path).filter(DeltaRead.dnfToColumn(c.dnf)).count()
      assert(got == ((c.pruned, c.conflict, c.proof, c.must)), c.name)
      assert(gotCw == c.countWhere, c.name)
      assert(cw.count == exact, s"${c.name}: countWhere must be exact")
    }
  }
}
