package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

object CcProfile {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(3000000L)
    val spark = SparkSession.builder().master(s"local[${SparkEntry.cpus}]")
      .config("spark.sql.shuffle.partitions", SparkEntry.cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.enabled", sys.env.getOrElse("CC_COALESCE", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        starts.put(js.jobId, (js.time, desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.get(je.jobId)).foreach { case (t0, desc) =>
          rows.add((je.jobId, (je.time - t0) / 1000.0, desc))
        }
      }
    })
    val chain = spark.range(1L, n + 1).select(col("id").as("doc_a"), (col("id") + 1L).as("doc_b"))
    val t0 = System.nanoTime()
    val (labels, rounds) = operators.Dedup.nearDupClustersWithRounds(chain, localPairs = 0)
    val cnt = labels.count()
    val total = (System.nanoTime() - t0) / 1e9
    Thread.sleep(300)
    import scala.jdk.CollectionConverters._
    val all = rows.asScala.toSeq.sortBy(_._1)
    println(f"== cc n=$n rounds=$rounds result=$cnt total ${total}%.2f s, ${all.size} jobs, job sum ${all.map(_._2).sum}%.2f s")
    all.foreach { case (id, secs, desc) => println(f"job $id%4d ${secs}%7.3f s  ${desc.take(80)}") }
    spark.stop()
  }
}
