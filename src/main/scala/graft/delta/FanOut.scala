package graft.delta

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkException
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

import scala.reflect.ClassTag

/** The one per-file fan-out: a per-item action over a Hadoop
  * `Configuration` (rename, copy, footer read, exists check, DV load,
  * delete, directory listing) runs serially on the driver for a few
  * items and as one Spark job for many. Every table operation that does
  * per-file work goes through here, so the threshold, the conf
  * broadcast, the partition count and the error surface exist once.
  *
  * Where the two sides cross (median of 5 timed calls after one warm-up,
  * ms per call; local FS, `local[4]` on a 4-vCPU VM; hypervisor steal
  * was 9 ticks over the move rows' 10 s run and 328 ticks over the other
  * rows' 285 s):
  *
  * {{{
  *   items               16      64      256     1024
  *   rename + footer stat
  *     serial            42      85      203      472
  *     job              164     125      177      301
  *   DV byte load
  *     serial             3.7     9.7     42      173
  *     job               41      42       67      112
  *   exists check
  *     serial             1.2     2.3      6.1     17
  *     job               41      37       34       48
  * }}}
  *
  * A job costs ~40-120 ms to schedule here. The move crosses between
  * 64 and 256 items, DV loads near 500 and exists checks above 1024, so
  * [[Threshold]] stays at 64: the move and every DV load in the lake_dml
  * benchmark's read planning run serially up to it, and callers with a
  * cheaper action pass their own (`restore`, `vacuum`). */
private[delta] object FanOut {

  /** Default item count at or below which the action runs serially on
    * the driver. */
  val Threshold = 64

  /** Name of the job-side RDD, so a listener can tell fan-out jobs from
    * the rest. */
  val RddName = "graft.fanOut"

  /** `f` over `items`, in item order. At or below `threshold` items it
    * runs on the driver with a fresh session Hadoop conf; above it, one
    * Spark job runs it on executors and collects. Either way an item's
    * exception surfaces as itself: the job path rethrows the task
    * failure's cause (or Spark's exception when it carries none). `f`
    * and the items must be serializable: capture strings and case
    * classes, never a `FileSystem` or a `Configuration`. */
  def apply[A: ClassTag, B: ClassTag](
      spark: SparkSession, items: Seq[A], threshold: Int = Threshold)(
      f: (Configuration, A) => B): Seq[B] =
    if (items.isEmpty) Nil
    else if (items.size <= threshold) {
      val conf = spark.sessionState.newHadoopConf()
      items.map(f(conf, _))
    } else
      try rdd(spark, items)(f).collect().toSeq
      catch { case e: SparkException if e.getCause != null => throw e.getCause }

  /** The job side of [[apply]] without the `collect`: for output that
    * must stay on executors (vacuum's distributed listing feeds an
    * anti-join). Runs min(#items, `defaultParallelism`) tasks. */
  def rdd[A: ClassTag, B: ClassTag](spark: SparkSession, items: Seq[A])(
      f: (Configuration, A) => B): RDD[B] = {
    val sc = spark.sparkContext
    val confBc = sc.broadcast(new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    sc.parallelize(items, math.max(1, math.min(items.size, sc.defaultParallelism)))
      .setName(RddName)
      .map(a => f(confBc.value.value, a))
  }
}
