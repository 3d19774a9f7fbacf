package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Measurement tooling (optimization guide §1/§7): run ONE query in bench
  * mode and print every Spark job's wall time + call site, so a slow query
  * can be attributed to its specific actions (fit, checkpoint round,
  * staging write, final noop) without the UI.
  *
  * Usage: runMain graft.Profile <queryName> [sfDir]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    System.setProperty("graft.bench.skipInQueryOracles", "true")
    val cpus = SparkEntry.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        starts.put(js.jobId, (js.time, desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.get(je.jobId)).foreach { case (t0, desc) =>
          rows.add((je.jobId, (je.time - t0) / 1000.0, desc))
        }
      }
    })
    // warmup at the smallest sibling SF of the profiled dir (JIT/codegen),
    // mirroring Bench; failures are LOGGED, not swallowed (ADVICE r18)
    val fn = SparkEntry.queries.getOrElse(name, {
      System.err.println(s"unknown query '$name'; available: " +
        SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    })
    val warmDir = {
      val sib = new java.io.File(sfDir).getParentFile
      val cand = new java.io.File(sib, "sf0.001")
      if (cand.isDirectory) cand.getPath else sfDir
    }
    try fn(spark, warmDir).write.mode("overwrite").format("noop").save()
    catch { case e: Throwable =>
      System.err.println(s"[profile] warmup failed (continuing): $e") }
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
    rows.clear()
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.mode("overwrite").format("noop").save()
    val total = (System.nanoTime() - t0) / 1e9
    Thread.sleep(300) // let listener events drain
    import scala.jdk.CollectionConverters._
    val all = rows.asScala.toSeq.sortBy(_._1)
    println(f"== $name total ${total}%.2f s, ${all.size} jobs, job-time sum ${all.map(_._2).sum}%.2f s")
    all.foreach { case (id, secs, desc) =>
      println(f"job $id%4d ${secs}%7.3f s  ${desc.take(120)}")
    }
    spark.stop()
  }
}
