package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Measurement tooling (optimization guide §1.1/§7.2): dump
  * `.explain("formatted")` for every declared query to one file per query
  * so plan claims (Exchange count, join strategy, PushedFilters) are
  * checkable offline. Bench-mode plans: the in-query O(N²) truth sets are
  * skipped exactly as graft.Bench skips them, so the dumped plan is the
  * plan the bench times.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [suffix]
  *   writes <outDir>/<query>_<suffix>.txt (suffix defaults to "before").
  * SPARK_GRAFT_PLAN_ONLY: comma-separated substrings select a subset.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = if (args.length > 2) args(2) else "before"
    System.setProperty("graft.bench.skipInQueryOracles", "true")
    val cpus = SparkEntry.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val only = sys.env.get("SPARK_GRAFT_PLAN_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, _) =>
      only.forall(_.exists(name.contains)) }
    selected.foreach { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"plandump: $name")
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        System.err.println(s"[plandump] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
