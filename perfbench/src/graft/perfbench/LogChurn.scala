package graft.perfbench

import graft.delta.{GraftDelta, Predicate}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.File
import scala.collection.mutable.ArrayBuffer

/** Streaming ingest: each step appends a small batch spread over
  * [[LogChurn.Parts]] partitions, then reads the latest version through a
  * partition filter. Every few steps it also time-travels to a seeded
  * earlier version, reads the change feed of the last commits and the
  * history tail. Rows per op are tiny and the log grows all run, so the
  * time goes to the log, read planning and commits. */
final class LogChurn(run: Run, dir: File, seed: Long, sz: LogChurn.Sizes)
    extends Workload(run, dir, seed) {
  import LogChurn._

  val table = new File(dir, "log_churn")
  private val path = table.getAbsolutePath
  // model: per committed version, cumulative row count then value sum per partition
  private val cum = ArrayBuffer[Array[Long]]()
  private def version: Long = cum.size - 1L
  private val draws = new Draws(seed, 7)

  private def part(id: Long): Int = Gen.below(seed, 1, id, Parts).toInt
  private def value(id: Long): Long = Gen.below(seed, 2, id, 1000)
  private def row(id: Long): Row =
    Row(id, part(id), value(id), java.lang.Long.toString(Gen.mix(seed, 3, id) >>> 1, 36))
  private def batch(v: Long): Seq[Row] = (v * sz.batch until (v + 1) * sz.batch).map(row)

  private def total(v: Long, from: Int): Long = cum(v.toInt).slice(from, from + Parts).sum

  private def append(): Boolean = run.op("append") {
    val rows = batch(version + 1)
    // one micro-batch is one input partition: one file per table partition
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Schema)
    val before = if (tr.on) run.span("bench.inspect")(activeFiles(path)) else 0
    run.span("delta.write.append") {
      GraftDelta.toDelta(df, path, mode = "append", partitionBy = Seq("p"))
    }
    val next = cum.lastOption.fold(new Array[Long](2 * Parts))(_.clone())
    rows.foreach { r => next(r.getInt(1)) += 1; next(Parts + r.getInt(1)) += r.getLong(2) }
    cum += next
    run.span("bench.inspect") {
      tr.attr("files_added", activeFiles(path) - before)
      tr.attr("checkpoint", if (version % CheckpointInterval == 0) 1 else 0)
    }
    true
  }

  private def latestRead(): Boolean = run.op("read") {
    val p = draws.below(Parts).toInt
    val df = read(path, filters = Seq(Seq(Predicate("p", "==", p))))
    val got = rowsOf(exec(df.agg(count(lit(1)), sum("v")).head()))
    tr.attr("rows_returned", got._1)
    run.check(s"read v$version p=$p", got, (cum(version.toInt)(p), cum(version.toInt)(Parts + p)))
  }

  /** Travel targets a seeded version the loop itself appended, so every
    * target holds more files than the staged table. */
  private def travel(): Boolean = run.op("travel") {
    val lo = math.min(sz.preCommits + 1L, version - 1)
    val v = lo + draws.below(version - lo)
    val df = read(path, version = Some(v))
    val got = rowsOf(exec(df.agg(count(lit(1)), sum("v")).head()))
    tr.attr("rows_returned", got._1)
    run.check(s"travel v$v", got, (total(v, 0), total(v, Parts)))
  }

  private def changes(): Boolean = run.op("cdf") {
    val from = math.max(0L, version - sz.cdfCommits)
    val df = run.span("delta.maint.cdf_plan") {
      GraftDelta.tableChanges(spark, path, from, Some(version))
    }
    val r = run.span("delta.maint.cdf_exec") {
      df.agg(count(lit(1)), sum("v"),
        sum(when(col("_change_type") === "insert", 1L).otherwise(0L))).head()
    }
    val want = (total(version, 0) - total(from, 0), total(version, Parts) - total(from, Parts))
    run.check(s"cdf ($from, $version]", (r.getLong(0), r.getLong(1), r.getLong(2)),
      (want._1, want._2, want._1))
  }

  private def history(): Boolean = run.op("history") {
    val got = run.span("delta.maint.history") {
      GraftDelta.readDeltaHistory(spark, path, Some(sz.historyLimit))
        .select("version").collect().map(_.getLong(0)).toSeq
    }
    run.check(s"history v$version", got,
      (version to math.max(0L, version - sz.historyLimit + 1) by -1L).toSeq)
  }

  def stage(): Unit = (0 to sz.preCommits).foreach(_ => append())
  /** Staging makes 37 commits, about as long as the rest of set-up, so it
    * runs once. */
  override def stageReps: Int = 1
  def minSteps: Int = ExtrasEvery
  override def prime(): Unit = latestRead()
  override def warmUp(): Unit = { append(); latestRead(); travel(); changes(); history() }

  val mix: Map[String, Int] = Map("append" -> ExtrasEvery, "read" -> ExtrasEvery,
    "travel" -> 1, "cdf" -> 1, "history" -> 1)
  val reads = Seq("read")
  val writes = Seq("append")

  def step(i: Int): Unit = {
    append()
    latestRead()
    if (i % ExtrasEvery == ExtrasEvery - 1) { travel(); changes(); history() }
  }

  def liveRows: Long = total(version, 0)

  def corrupt(): Unit = (0 until Parts).foreach(p => cum.last(p) += 1)

  def inputBytes(): Iterator[String] =
    (0L until sz.preCommits + 8L).iterator.flatMap(batch).map(_.mkString(",")) ++
      Iterator.fill(64)(draws.below(1000).toString)
}

object LogChurn {
  final case class Sizes(batch: Int, preCommits: Int, cdfCommits: Int, historyLimit: Int)
  /** Staged with commits 0..36: every partition then holds 37 files, more
    * than the 32 paths Spark lists on the driver, so every read (latest
    * and travel) plans through the file index's parallel listing job; and
    * the loop's fourth append (inside its first round) lands on version 40
    * and writes a checkpoint. */
  val Full = Sizes(batch = 500, preCommits = 36, cdfCommits = 4, historyLimit = 10)
  val Small = Sizes(batch = 40, preCommits = 2, cdfCommits = 3, historyLimit = 3)
  val Parts = 10
  /** Travel, change feed and history run on every this-many-th step. */
  val ExtrasEvery = 4
  /** `toDelta`'s default checkpoint interval, which the workload keeps. */
  val CheckpointInterval = 10
  val Schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("p", IntegerType, nullable = false),
    StructField("v", LongType, nullable = false),
    StructField("pad", StringType, nullable = false)))
}
