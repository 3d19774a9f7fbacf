package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Seeded pure generators: every input value is a function of
  * (seed, stream, index), so the driver-side model and the executor-side
  * generator compute the same value without sharing state. */
object Gen {
  def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def mix(seed: Long, stream: Long, i: Long): Long =
    splitmix64(splitmix64(seed * 0x632BE59BD9B4E019L + stream) + i)
  def below(seed: Long, stream: Long, i: Long, n: Long): Long =
    java.lang.Long.remainderUnsigned(mix(seed, stream, i), n)
  def unit(seed: Long, stream: Long, i: Long): Double =
    (mix(seed, stream, i) >>> 11) * (1.0 / (1L << 53))
}

/** A seeded draw sequence for one workload's op parameters. */
final class Draws(seed: Long, stream: Long) {
  private var i = 0L
  def below(n: Long): Long = { i += 1; Gen.below(seed, stream, i, n) }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case p: Product => p.productIterator.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** In-memory spans, recorded only around calls the benchmark itself
  * makes. The open span's id rides a Spark local property so the
  * listener can attribute each job and stage to it. */
final class Tracer(sc: SparkContext) {
  final class Span(val id: Int, val parent: Int, val name: String, val start: Double) {
    var end: Double = Double.NaN
    val attrs = mutable.LinkedHashMap[String, Double]()
  }
  var on = false
  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private val t0Ms = System.currentTimeMillis()
  private val t0Ns = System.nanoTime()
  /** Epoch milliseconds on the monotonic clock, comparable with the
    * listener's event times. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), name, nowMs)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try body
      finally {
        s.end = nowMs
        stack = stack.tail
        sc.setLocalProperty(Tracer.Key, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Attach a count to the innermost open span. */
  def attr(key: String, value: => Double): Unit =
    if (on) stack.headOption.foreach(_.attrs(key) = value)

  def rows: Seq[Seq[Any]] =
    spans.toSeq.map(s => Seq(s.id, s.parent, s.name, s.start, s.end, s.attrs))
}

object Tracer { val Key = "perfbench.span" }

/** Collects every job's interval and every stage's task totals, keyed by
  * the span that was open when Spark submitted it. */
final class SpanListener extends SparkListener {
  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Key))).fold(-1)(_.toInt)

  val jobs = mutable.LinkedHashMap[Int, Array[Double]]()   // span, start, end
  val stages = mutable.LinkedHashMap[Int, Array[Double]]()
  private val submitted = mutable.HashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Array(spanOf(e.properties), e.time.toDouble, Double.NaN)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_(2) = e.time.toDouble)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    submitted(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stages.getOrElseUpdate(id, {
      val a = new Array[Double](SpanListener.StageCols.size)
      a(0) = spanOf(e.properties)
      a
    })
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, {
      val x = new Array[Double](SpanListener.StageCols.size); x(0) = -1; x
    })
    a(1) += 1
    a(4) += math.max(0L, e.taskInfo.launchTime - submitted.getOrElse(e.stageId, e.taskInfo.launchTime))
    val m = e.taskMetrics
    if (m != null) {
      a(2) += m.executorRunTime
      a(3) += m.executorCpuTime / 1e6
      a(5) += m.shuffleReadMetrics.totalBytesRead
      a(6) += m.shuffleWriteMetrics.bytesWritten
      a(7) += m.memoryBytesSpilled + m.diskBytesSpilled
      a(8) += m.inputMetrics.bytesRead
      a(9) += m.inputMetrics.recordsRead
      a(10) += m.outputMetrics.bytesWritten
      a(11) += m.jvmGCTime
    }
  }
  def jobRows: Seq[Seq[Any]] = synchronized {
    jobs.toSeq.map { case (id, a) => Seq(id, a(0).toInt, a(1), a(2)) }
  }
  def stageRows: Seq[Seq[Any]] = synchronized {
    stages.toSeq.map { case (id, a) => (id.toDouble +: a.toSeq) }
  }
}

object SpanListener {
  val StageCols = Seq("span", "tasks", "run_ms", "cpu_ms", "sched_delay_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
    "input_records", "output_bytes", "gc_ms")
}

/** The closed loop's op recorder: times each op, counts a thrown error or
  * a failed check as a failed op, and keeps going. */
final class Run(val spark: SparkSession, val tr: Tracer) {
  var phase = "setup"
  var step = -1
  /** (phase, kind, wall ms, ok, step, root span id or -1 untraced) */
  val samples = ArrayBuffer[(String, String, Double, Boolean, Int, Int)]()
  val errors = ArrayBuffer[String]()

  def op(kind: String)(body: => Boolean): Boolean = {
    val root = if (tr.on) tr.spans.size else -1
    // the op's wall time has its own clock reads, taken outside the root
    // span, so comparing it with the spans' self times checks the tracing
    val t0 = System.nanoTime()
    val ok =
      try tr.span("op." + kind)(body)
      catch {
        case NonFatal(e) =>
          errors += s"$kind: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          false
      }
    val ms = (System.nanoTime() - t0) / 1e6
    samples += ((phase, kind, ms, ok, step, root))
    ok
  }

  /** Compare one result with the model's expectation. */
  def check(what: String, got: Any, want: Any): Boolean = {
    val ok = got == want
    if (!ok && errors.size < 50) errors += s"$what: got $got, want $want"
    ok
  }
  def failed: Int = samples.count(!_._4)

  def span[T](name: String)(body: => T): T = tr.span(name)(body)
}

object Files {
  /** Driver heap in use once garbage collection has nothing more to free:
    * Spark's cleaner releases broadcasts and shuffles after a GC has
    * enqueued their references, so collect until the figure stops falling. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    var best = Double.MaxValue
    var i = 0
    var falling = true
    while (falling && i < 5) {
      System.gc()
      Thread.sleep(100)
      val used = mem.getHeapMemoryUsage.getUsed / 1048576.0
      falling = used < best - 0.5
      best = math.min(best, used)
      i += 1
    }
    best
  }
  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(du).sum) else f.length()
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }
  def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
    catch { case NonFatal(_) => "" }
  /** Counts of the `_delta_log` directory: all files, commit JSONs and
    * checkpoint parts. */
  def logCounts(table: File): Map[String, Double] = {
    val names = Option(new File(table, "_delta_log").listFiles()).fold(Seq.empty[String])(
      _.toSeq.filter(_.isFile).map(_.getName))
    Map("log_files" -> names.size.toDouble,
      "commits" -> names.count(_.matches("\\d{20}\\.json")).toDouble,
      "checkpoints" -> names.count(_.contains(".checkpoint.")).toDouble)
  }
  def dataFiles(table: File): Int =
    if (table.isDirectory) Option(table.listFiles()).fold(0)(_.toSeq.map { f =>
      if (f.getName == "_delta_log") 0 else if (f.isDirectory) dataFiles(f)
      else if (f.getName.endsWith(".parquet")) 1 else 0
    }.sum)
    else 0
}
