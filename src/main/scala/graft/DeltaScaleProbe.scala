package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Delta CONTROL-PLANE scale probes (r14 VERDICT #5): the pipeline
  * operators got their sf10 decade in r14 (`BENCH_sf10.json`); this
  * gives the Delta surface the same treatment — the six most expensive
  * d-operations over one staged table built from `<sfDir>/orders.parquet`:
  * multi-clause MERGE, DV DELETE, DV UPDATE, CDF feed, OPTIMIZE Z-order,
  * DEEP CLONE. Run at the base dir and at an sfN dir (scripts/gen_sfN.py)
  * and compare the printed seconds; results land in BENCH_sf10.json's
  * delta_surface section.
  *
  * Usage: runMain graft.DeltaScaleProbe <sfDir> [probe,...]
  */
object DeltaScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val only = args.drop(1).headOption.map(_.split(",").toSet)
    val spark = SparkSession.builder().master(s"local[${SparkEntry.cpus}]")
      .config("spark.sql.shuffle.partitions", SparkEntry.cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import graft.delta.{DeltaDml, DeltaLog, DeltaMaintenance, GraftDelta, Predicate}

    val base = java.nio.file.Files.createTempDirectory("graft_dscale")
    base.toFile.deleteOnExit()
    val path = s"$base/orders"
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select($"o_orderkey".cast("long").as("o_orderkey"),
        $"o_custkey".cast("long").as("o_custkey"),
        $"o_orderstatus",
        $"o_totalprice".cast("double").as("o_totalprice"))
    val n = orders.count()
    val maxKey = orders.agg(max($"o_orderkey")).head().getLong(0)
    println(s"[delta-scale] $dir: $n orders rows (maxKey $maxKey)")

    def time(name: String)(f: => Long): Unit =
      if (only.forall(_.contains(name))) {
        val t0 = System.nanoTime()
        val r = f
        println(f"[delta-scale] $name: result=$r%,d in " +
          f"${(System.nanoTime() - t0) / 1e9}%.1f s")
      }

    // v0: staged with CDF ON so every DML below also pays the change-plane
    time("stage_write") {
      GraftDelta.toDelta(orders.repartition(64), path,
        configuration = Map("delta.enableChangeDataFeed" -> "true"))
      n
    }
    // v1: 3-clause MERGE over a ~15% source (delete a slice, update the
    // rest, insert brand-new keys past maxKey)
    time("merge_multi") {
      val srcDf = orders.filter($"o_orderkey" % 7 === 0)
        .unionByName(orders.filter($"o_orderkey" % 13 === 0)
          .withColumn("o_orderkey", $"o_orderkey" + maxKey))
      val r = DeltaDml.mergeClauses(spark, path, srcDf, Seq("o_orderkey"),
        matched = Seq(
          DeltaDml.MatchedClause(DeltaDml.WhenMatched.Delete,
            Some(col("o_orderkey") % 21 === 0)),
          DeltaDml.MatchedClause(DeltaDml.WhenMatched.Update(
            Map("o_totalprice" -> (DeltaDml.src("o_totalprice") + 1.0))))),
        insertNotMatched = true)
      r.matchedRows + r.insertedRows
    }
    // v2: DV DELETE of a ~5% key range (soft-delete bitmaps, no rewrite)
    time("dv_delete") {
      DeltaDml.deleteWithDv(spark, path, Seq(Seq(
        Predicate("o_orderkey", ">=", 1L),
        Predicate("o_orderkey", "<", maxKey / 20)))).affectedRows
    }
    // v3: DV UPDATE of another ~5% range (DV old rows + append new)
    time("dv_update") {
      DeltaDml.updateWithDv(spark, path, Seq(Seq(
        Predicate("o_orderkey", ">=", maxKey / 20),
        Predicate("o_orderkey", "<", maxKey / 10))),
        Map("o_totalprice" -> (col("o_totalprice") * 1.1))).affectedRows
    }
    // the whole change feed (0, head] — insert/update/delete change rows
    // across the staged history, DV flavors included
    time("cdf_feed") {
      GraftDelta.tableChanges(spark, path, 0L).count()
    }
    // v4: OPTIMIZE Z-ORDER BY (o_custkey, o_totalprice) — full rewrite,
    // DVs materialize away, quantile-bucketed z-values
    time("optimize_zorder") {
      val (before, after) = DeltaMaintenance.compact(spark, path,
        minFilesToCompact = 1, sortBy = Seq("o_custkey", "o_totalprice"),
        zorder = true)
      (before - after).toLong
    }
    // independent physical copy (data files + log)
    time("deep_clone") {
      GraftDelta.deepClone(spark, path, s"$base/clone").clonedFiles
    }
    // staged-table health after the gauntlet (also defeats lazy cheating:
    // every probe's effect is visible in the final count)
    val finalCount = GraftDelta.readDelta(spark, path).count()
    val head = DeltaLog.forTable(spark, path).latestVersion
    println(s"[delta-scale] final: $finalCount rows at v$head")
    spark.stop()
  }
}
