package graft.perfbench

import graft.delta.{DeltaMaintenance, GraftDelta, Predicate}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.File

/** Warehouse table: staged rows over [[LakeDml.Parts]]
  * partitions, ingest-ordered by `id` so files carry narrow id ranges.
  * The loop mixes partition and key-range reads, a full-table group-by,
  * DV deletes and updates, MERGE upserts and one compaction, so parquet
  * scans, pruning, DV filtering, shuffles and rewrites dominate while the
  * log stays short. */
final class LakeDml(run: Run, dir: File, seed: Long, sz: LakeDml.Sizes)
    extends Workload(run, dir, seed) {
  import LakeDml._

  val table = new File(dir, "lake_dml")
  private val path = table.getAbsolutePath
  private val draws = new Draws(seed, 17)

  // model: liveness and value per id, plus per-partition running totals
  private val cap = sz.rows + sz.maxMerges * sz.mergeRows
  private val alive = new java.util.BitSet(cap)
  private val value = new Array[Long](cap)
  private val partCount = new Array[Long](Parts)
  private val partSum = new Array[Long](Parts)
  private var nextId = sz.rows.toLong
  private var merges = 0
  private var live = 0L
  private var mergeInsertMisreports = 0

  private def part(id: Long): Int = Gen.below(seed, 11, id, Parts).toInt
  private def initValue(id: Long): Long = Gen.below(seed, 12, id, 1000)

  private def put(id: Long, v: Long): Unit = {
    val i = id.toInt
    val p = part(id)
    if (alive.get(i)) partSum(p) -= value(i)
    else { alive.set(i); partCount(p) += 1; live += 1 }
    value(i) = v
    partSum(p) += v
  }
  private def kill(id: Long): Unit = {
    val i = id.toInt
    if (alive.get(i)) {
      alive.clear(i); live -= 1
      partCount(part(id)) -= 1; partSum(part(id)) -= value(i)
    }
  }
  private def rangeOf(lo: Long, hi: Long): (Long, Long) = {
    var n = 0L; var s = 0L; var i = alive.nextSetBit(lo.toInt)
    while (i >= 0 && i < hi) { n += 1; s += value(i); i = alive.nextSetBit(i + 1) }
    (n, s)
  }
  /** Start of a seeded id range of `width` inside one staging task's id
    * block, so every range of a kind touches the same number of files.
    * MERGE keys come from block 0 and DV deletes and updates from the
    * blocks above it: the files a MERGE must read (every file whose ids
    * reach its smallest key) are then the same set whatever the seed. */
  private def rangeStart(width: Int, blocks: Range): Long = {
    val block = sz.rows / sz.stageTasks
    (blocks.start + draws.below(blocks.size)) * block + draws.below(block - width)
  }
  private def anyBlock = 0 until sz.stageTasks
  private def dvBlocks = 1 until sz.stageTasks
  private def mergeBlocks = 0 until 1
  private def idRange(lo: Long, hi: Long): Seq[Seq[Predicate]] =
    Seq(Seq(Predicate("id", ">=", lo), Predicate("id", "<", hi)))

  def stage(): Unit = {
    val s = seed
    val partUdf = udf((id: Long) => Gen.below(s, 11, id, Parts).toInt)
    val valueUdf = udf((id: Long) => Gen.below(s, 12, id, 1000))
    val df = spark.range(0, sz.rows, 1, sz.stageTasks)
      .select(col("id"), partUdf(col("id")).as("part"), valueUdf(col("id")).as("v"),
        (col("id") % 97).cast("int").as("qty"))
    GraftDelta.toDelta(df, path, partitionBy = Seq("part"))
    (0L until sz.rows).foreach(id => put(id, initValue(id)))
  }

  private def partAgg(): Boolean = run.op("part_read") {
    val p = draws.below(Parts).toInt
    val df = read(path, filters = Seq(Seq(Predicate("part", "==", p))))
    val got = rowsOf(exec(df.agg(count(lit(1)), sum("v")).head()))
    tr.attr("rows_returned", got._1)
    run.check(s"part_read part=$p", got, (partCount(p), partSum(p)))
  }

  private def keyRange(): Boolean = run.op("range_read") {
    val lo = rangeStart(sz.rangeWidth, anyBlock)
    val df = read(path, filters = idRange(lo, lo + sz.rangeWidth))
    val got = rowsOf(exec(df.agg(count(lit(1)), sum("v")).head()))
    tr.attr("rows_returned", got._1)
    run.check(s"range_read [$lo, ${lo + sz.rangeWidth})", got, rangeOf(lo, lo + sz.rangeWidth))
  }

  private def scan(): Boolean = run.op("scan") {
    val got = exec(read(path).groupBy("part").agg(count(lit(1)), sum("v")).collect())
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    tr.attr("rows_returned", got.values.map(_._1).sum)
    val want = (0 until Parts).filter(partCount(_) > 0)
      .map(p => p -> ((partCount(p), partSum(p)))).toMap
    run.check("scan", got, want)
  }

  private def dvDelete(): Boolean = run.op("dv_delete") {
    val lo = rangeStart(sz.dmlWidth, dvBlocks)
    val hi = lo + sz.dmlWidth
    val want = rangeOf(lo, hi)._1
    val res = run.span("delta.dml.dv_delete") {
      GraftDelta.deleteWhereWithDv(spark, path, idRange(lo, hi))
    }
    tr.attr("rows_affected", res.affectedRows)
    tr.attr("files_rewritten", res.rewrittenFiles)
    var i = alive.nextSetBit(lo.toInt)
    while (i >= 0 && i < hi) { kill(i); i = alive.nextSetBit(i + 1) }
    run.check(s"dv_delete [$lo, $hi)", res.affectedRows, want)
  }

  private def dvUpdate(): Boolean = run.op("dv_update") {
    val lo = rangeStart(sz.dmlWidth, dvBlocks)
    val hi = lo + sz.dmlWidth
    val want = rangeOf(lo, hi)._1
    val res = run.span("delta.dml.dv_update") {
      GraftDelta.updateWhereWithDv(spark, path, idRange(lo, hi), Map("v" -> (col("v") + 1)))
    }
    tr.attr("rows_affected", res.affectedRows)
    tr.attr("files_rewritten", res.rewrittenFiles)
    var i = alive.nextSetBit(lo.toInt)
    while (i >= 0 && i < hi) { put(i, value(i) + 1); i = alive.nextSetBit(i + 1) }
    run.check(s"dv_update [$lo, $hi)", res.affectedRows, want)
  }

  /** Upsert: half the source rows hit a seeded id range (live or
    * deleted), half are new ids. */
  private def merge(): Boolean = run.op("merge") {
    require(merges < sz.maxMerges, "merge budget of the model exhausted")
    merges += 1
    val half = sz.mergeRows / 2
    val lo = rangeStart(half, mergeBlocks)
    val ids = (lo until lo + half) ++ (nextId until nextId + half)
    nextId += half
    val rows = ids.map(id => Row(id, part(id), 1000L + draws.below(1000), 1))
    val src = spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schema)
    val wantMatched = rangeOf(lo, lo + half)._1
    val res = run.span("delta.dml.merge") { GraftDelta.mergeInto(spark, path, src, Seq("id")) }
    tr.attr("rows_affected", res.matchedRows + res.insertedRows)
    tr.attr("files_rewritten", res.removedFiles)
    rows.foreach(r => put(r.getLong(0), r.getLong(2)))
    // Known defect: insertedRows subtracts the rewritten files' physical
    // row counts, DV-deleted rows included, so it comes out short when the
    // merge rewrites a file that carries a DV. The merged rows themselves
    // are checked by every later read; the short count is kept visible.
    if (res.insertedRows != sz.mergeRows - wantMatched) mergeInsertMisreports += 1
    run.check("merge matched", res.matchedRows, wantMatched)
  }

  private def compact(): Boolean = run.op("compact") {
    val (before, after) = run.span("delta.maint.compact") {
      DeltaMaintenance.compact(spark, path, targetFileBytes = sz.compactTargetBytes)
    }
    tr.attr("files_before_compact", before)
    tr.attr("files_after_compact", after)
    run.check("compact files", before >= after && after > 0, true)
  }

  private val cycle: Seq[() => Boolean] = Seq(partAgg _, keyRange _, dvDelete _, partAgg _,
    keyRange _, dvUpdate _, scan _, merge _)
  /** The loop compacts the table once per run, as the last step of the
    * first round, after the merge: every read and DML of the round runs on
    * the staged block layout (narrow id ranges per file), and the space
    * figures, taken after the round, see the compaction. */
  private def compactAt = cycle.size

  val mix: Map[String, Int] = Map("part_read" -> 2, "range_read" -> 2, "dv_delete" -> 1,
    "dv_update" -> 1, "scan" -> 1, "merge" -> 1)
  val reads = Seq("part_read", "range_read")
  val writes = Seq("dv_delete", "dv_update", "merge")

  def step(i: Int): Unit =
    if (i == compactAt) compact()
    else cycle((if (i > compactAt) i - 1 else i) % cycle.size)()
  def minSteps: Int = cycle.size + 1
  override def prime(): Unit = { partAgg(); keyRange() }
  /** The compaction, which runs once a run, is left out of the warm-up. */
  override def warmUp(): Unit = Seq(partAgg _, keyRange _, dvDelete _, dvUpdate _, scan _,
    merge _).foreach(_())

  def liveRows: Long = live
  override def counters: Map[String, Double] =
    Map("merge_inserted_misreports" -> mergeInsertMisreports.toDouble)

  def corrupt(): Unit = (0 until Parts).foreach(p => partCount(p) += 1)

  def inputBytes(): Iterator[String] = {
    val staged = Iterator.range(0, sz.rows).map(id => s"$id,${part(id)},${initValue(id)}")
    staged ++ Iterator.fill(64)(draws.below(sz.rows).toString)
  }
}

object LakeDml {
  final case class Sizes(rows: Int, stageTasks: Int, rangeWidth: Int, dmlWidth: Int,
      mergeRows: Int, maxMerges: Int, compactTargetBytes: Long)
  val Full = Sizes(rows = 100000, stageTasks = 4, rangeWidth = 10000, dmlWidth = 2000,
    mergeRows = 2000, maxMerges = 400, compactTargetBytes = 8L << 20)
  val Small = Sizes(rows = 20000, stageTasks = 4, rangeWidth = 500, dmlWidth = 50,
    mergeRows = 40, maxMerges = 400, compactTargetBytes = 1L << 20)
  val Parts = 30
  val Schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("part", IntegerType, nullable = false),
    StructField("v", LongType, nullable = false),
    StructField("qty", IntegerType, nullable = false)))
}
