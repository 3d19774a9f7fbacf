package graft.perfbench

import graft.delta.{DeltaLog, DeltaRead, GraftDelta, Predicate}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.io.File
import java.security.MessageDigest

/** One closed-loop workload: one client, a fixed op sequence drawn from
  * the seed, every result checked against a driver-side model. */
abstract class Workload(val run: Run, val dir: File, val seed: Long) {
  def spark: SparkSession = run.spark
  def tr: Tracer = run.tr

  /** Generate the inputs and stage them. */
  def stage(): Unit
  /** Times set-up stages the inputs per run, each into a fresh directory;
    * `setup_s` takes their median. */
  def stageReps: Int = 3
  /** One step of the loop; `i` counts steps from 0. */
  def step(i: Int): Unit
  /** Steps of one full round of the mix; the loop runs at least these. */
  def minSteps: Int
  def round(): Unit = (0 until minSteps).foreach(step)
  /** Every op kind of the loop once, on a self-test-size copy, so each
    * code path is loaded and JIT-compiled before the loop. */
  def warmUp(): Unit = round()
  /** Checked reads that fill the per-table caches (snapshot, stats) of
    * the freshly staged table before the loop starts. */
  def prime(): Unit = ()
  /** Ops of each kind per round of the loop, the weights of the closed
    * loop's steady mix. */
  def mix: Map[String, Int]
  /** The op kinds behind `read_ms` and `write_ms`. */
  def reads: Seq[String]
  def writes: Seq[String]
  /** The Delta table whose bytes `stored_bytes_per_row` divides. */
  def table: File
  /** Live rows of [[table]], from the model (every read checked it). */
  def liveRows: Long
  /** Workload-specific counts (recall, sizes), reported as-is. */
  def counters: Map[String, Double] = Map.empty
  /** Make the model wrong by one row, so the next checked op must fail. */
  def corrupt(): Unit
  /** The generated inputs in a canonical byte form (self-test scale). */
  def inputBytes(): Iterator[String]

  def digest(): String = {
    val md = MessageDigest.getInstance("SHA-256")
    inputBytes().foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** A table read through the public API. Traced, it makes the two calls
    * `DeltaRead.load` makes — log snapshot, then planning — so their
    * spans split the read exactly. */
  def read(path: String, version: Option[Long] = None,
      filters: Seq[Seq[Predicate]] = Nil): DataFrame =
    if (!tr.on) GraftDelta.readDelta(spark, path, version, filters = filters)
    else {
      val snap = run.span(if (version.isEmpty) "delta.log.snapshot_latest"
                          else "delta.log.snapshot_travel") {
        DeltaLog.forTable(spark, path).snapshot(version)
      }
      val df = run.span("delta.read.plan") {
        DeltaRead.fromSnapshot(spark, path, snap, Nil, filters)
      }
      run.span("bench.inspect") {
        tr.attr("files_active", snap.activeFiles.size)
        tr.attr("files_scanned", df.inputFiles.length)
      }
      df
    }

  /** Run a DataFrame action; traced, its jobs land in a `spark.exec` span. */
  def exec[T](body: => T): T = run.span("spark.exec")(body)

  def activeFiles(path: String): Int =
    DeltaLog.forTable(spark, path).snapshot(None).activeFiles.size

  def rowsOf(r: Row): (Long, Long) =
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
}

object Workload {
  def apply(name: String, run: Run, dir: File, seed: Long, small: Boolean): Workload =
    name match {
      case "log_churn" => new LogChurn(run, dir, seed,
        if (small) LogChurn.Small else LogChurn.Full)
      case "lake_dml" => new LakeDml(run, dir, seed,
        if (small) LakeDml.Small else LakeDml.Full)
      case "corpus_dedup" => new CorpusDedup(run, dir, seed,
        if (small) CorpusDedup.Small else CorpusDedup.Full)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
  val Names = Seq("log_churn", "lake_dml", "corpus_dedup")
}
