package graft.delta

import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Change data feed (`delta.enableChangeDataFeed=true`): cdc actions,
  * _change_data files, exact pre/postimages for every DML flavor, the
  * cdc-exclusive reader stance, restore/overwrite capture, vacuum
  * lifecycle, and streaming consumption. */
class ChangeDataFeedSpec extends GraftSuite {

  import TestBase.spark
  import spark.implicits._

  private def tmp(): String = {
    val d = Files.createTempDirectory("graft_cdf")
    d.toFile.deleteOnExit()
    s"$d/tbl"
  }

  private def cdcActionsOf(path: String, v: Long): Seq[AddCDCFile] =
    DeltaLog.forTable(spark, path).readCommitActions(v)
      .collect { case c: AddCDCFile => c }

  private def feed(path: String, from: Long): Seq[(Long, String, Long)] =
    GraftDelta.tableChanges(spark, path, from)
      .select(col("k"), col("_change_type"), col("_commit_version"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq.sorted

  test("enable is idempotent, stamps the property, and upgrades the protocol") {
    val path = tmp()
    GraftDelta.toDelta((1L to 10L).toDF("k"), path)                       // v0
    assert(GraftDelta.enableChangeDataFeed(spark, path) == 1L)            // v1
    assert(GraftDelta.enableChangeDataFeed(spark, path) == 1L)            // no-op
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    assert(DeltaWrite.cdfEnabled(snap))
    assert(snap.protocol.minWriterVersion == 4)

    // table-features protocol (writer 7 after a DV upgrade): the feature
    // must be LISTED — the version alone implies nothing
    val p2 = tmp()
    GraftDelta.toDelta((1L to 100L).toDF("k").repartition(2), p2)
    GraftDelta.deleteWhereWithDv(spark, p2, Seq(Seq(Predicate("k", "==", 1L))))
    GraftDelta.enableChangeDataFeed(spark, p2)
    val s2 = DeltaLog.forTable(spark, p2).snapshot(None)
    assert(s2.protocol.minWriterVersion == 7 &&
      s2.protocol.writerFeatures.exists(_.contains("changeDataFeed")))

    // reserved column names refuse
    val p3 = tmp()
    GraftDelta.toDelta(Seq((1L, "x")).toDF("k", "_change_type"), p3)
    val e = intercept[IllegalArgumentException] {
      GraftDelta.enableChangeDataFeed(spark, p3)
    }
    assert(e.getMessage.contains("_change_type"))
  }

  test("rewrite DELETE records exact deletes; the feed uses cdc exclusively") {
    val path = tmp()
    GraftDelta.toDelta((1L to 100L).toDF("k").repartition(4), path)       // v0
    GraftDelta.enableChangeDataFeed(spark, path)                          // v1
    GraftDelta.deleteWhere(spark, path, Seq(Seq(Predicate("k", "<=", 10L)))) // v2
    assert(cdcActionsOf(path, 2L).nonEmpty)
    val chg = feed(path, 1L)
    // exactly the 10 deleted rows — and NO inserts: a cdc-less reading of
    // the rewrite commit would have surfaced the rewritten survivors
    assert(chg == (1L to 10L).map(k => (k, "delete", 2L)))
    // the table itself still reads correctly
    assert(GraftDelta.readDelta(spark, path).count() == 90L)
    // _commit_timestamp rides along, carrying the commitInfo clock
    val tsRows = GraftDelta.tableChanges(spark, path, 1L)
      .select(col("_commit_version"), col("_commit_timestamp")).distinct().collect()
    val ciTs = DeltaLog.forTable(spark, path).commitInfoOf(2L).get.timestamp
    assert(tsRows.map(r => (r.getLong(0), r.getTimestamp(1).getTime)).toSeq
      == Seq((2L, ciTs)))
  }

  test("UPDATE emits pre/postimages in both rewrite and DV flavors") {
    for (dv <- Seq(false, true)) {
      val path = tmp()
      GraftDelta.toDelta(
        (1L to 50L).map(k => (k, k * 10L)).toDF("k", "v").repartition(2), path)
      GraftDelta.enableChangeDataFeed(spark, path)
      val filters = Seq(Seq(Predicate("k", "<=", 5L)))
      val set = Map("v" -> (col("v") + 1L))
      if (dv) GraftDelta.updateWhereWithDv(spark, path, filters, set)
      else GraftDelta.updateWhere(spark, path, filters, set)
      val rows = GraftDelta.tableChanges(spark, path, 1L)
        .select(col("k"), col("v"), col("_change_type"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sorted
      val expect = ((1L to 5L).map(k => (k, k * 10L, "update_preimage")) ++
        (1L to 5L).map(k => (k, k * 10L + 1L, "update_postimage"))).sorted
      assert(rows == expect, s"dv=$dv")
    }
  }

  test("MERGE mixes update pre/post and inserts; plain appends need no cdc") {
    val path = tmp()
    GraftDelta.toDelta((1L to 20L).map(k => (k, k)).toDF("k", "v"), path) // v0
    GraftDelta.enableChangeDataFeed(spark, path)                          // v1
    // append: blind-insert commits carry no cdc, the fallback reads adds
    GraftDelta.toDelta((21L to 25L).map(k => (k, k)).toDF("k", "v"),
      path, mode = "append")                                              // v2
    assert(cdcActionsOf(path, 2L).isEmpty)
    // merge: upsert keys 1-3 (v -> 99), insert keys 31-32
    GraftDelta.mergeInto(spark, path,
      (Seq((1L, 99L), (2L, 99L), (3L, 99L), (31L, 31L), (32L, 32L))).toDF("k", "v"),
      on = Seq("k"))                                                      // v3
    assert(cdcActionsOf(path, 3L).nonEmpty)
    val chg = GraftDelta.tableChanges(spark, path, 2L)
      .select(col("k"), col("v"), col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sorted
    val expect = (Seq((1L, 1L), (2L, 2L), (3L, 3L)).map { case (k, v) => (k, v, "update_preimage") } ++
      Seq((1L, 99L), (2L, 99L), (3L, 99L)).map { case (k, v) => (k, v, "update_postimage") } ++
      Seq((31L, 31L), (32L, 32L)).map { case (k, v) => (k, v, "insert") }).sorted
    assert(chg == expect)
  }

  test("overwrite and replaceWhere capture delete+insert; empty replace needs no cdc") {
    val path = tmp()
    GraftDelta.toDelta((1L to 6L).map(k => (k, k % 2L)).toDF("k", "p"),
      path, partitionBy = Seq("p"))                                       // v0
    GraftDelta.enableChangeDataFeed(spark, path)                          // v1
    // replaceWhere p=1: its 3 rows delete, the incoming 2 insert
    GraftDelta.toDelta(Seq((100L, 1L), (101L, 1L)).toDF("k", "p"), path,
      mode = "overwrite", replaceWhere = Seq(Seq(Predicate("p", "==", 1L)))) // v2
    val cdc = cdcActionsOf(path, 2L)
    assert(cdc.nonEmpty)
    // partitioned cdc files: hive dir + partitionValues, like the data plane
    assert(cdc.forall(c => c.path.startsWith("_change_data/") &&
      c.partitionValues.get("p").isDefined))
    val chg = feed(path, 1L)
    val expect = (Seq(1L, 3L, 5L).map(k => (k, "delete", 2L)) ++
      Seq(100L, 101L).map(k => (k, "insert", 2L))).sorted
    assert(chg == expect)
    // full overwrite: everything deletes, new rows insert
    GraftDelta.toDelta(Seq((7L, 0L)).toDF("k", "p"), path, mode = "overwrite") // v3
    val chg3 = feed(path, 2L)
    assert(chg3.count(_._2 == "delete") == 5 && chg3.contains((7L, "insert", 3L)))
  }

  test("RESTORE on a CDF table emits exact per-row changes") {
    val path = tmp()
    GraftDelta.toDelta((1L to 30L).toDF("k").repartition(2), path)        // v0
    GraftDelta.enableChangeDataFeed(spark, path)                          // v1
    GraftDelta.deleteWhere(spark, path, Seq(Seq(Predicate("k", "<=", 4L)))) // v2
    GraftDelta.restore(spark, path, 1L)                                   // v3
    assert(cdcActionsOf(path, 3L).nonEmpty)
    val back = feed(path, 2L).filter(_._3 == 3L)
    // the restore's inserts must re-surface the 4 deleted rows; the
    // rewritten survivors churn as delete+insert pairs (coarse per-file
    // capture, exact final state)
    val inserts = back.filter(_._2 == "insert").map(_._1).toSet
    val deletes = back.filter(_._2 == "delete").map(_._1).toSet
    assert((1L to 4L).forall(inserts.contains))
    assert(deletes.subsetOf(inserts), "every churned delete re-inserts")
    assert(GraftDelta.readDelta(spark, path).count() == 30L)
  }

  test("streaming changeFeed serves cdc commits per-row") {
    val path = tmp()
    GraftDelta.toDelta((1L to 40L).toDF("k").repartition(2), path)        // v0
    GraftDelta.enableChangeDataFeed(spark, path)                          // v1
    val q = spark.readStream.format("graft").option("changeFeed", "true")
      .option("startingVersion", "latest").load(path)
      .writeStream.format("memory").queryName("graft_cdf_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      GraftDelta.deleteWhere(spark, path, Seq(Seq(Predicate("k", "<=", 3L)))) // v2
      q.processAllAvailable()
      val got = spark.table("graft_cdf_stream")
        .select(col("k"), col("_change_type"), col("_commit_version"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
      assert(got == (1L to 3L).map(k => (k, "delete", 2L)))
    } finally q.stop()
  }

  test("CDC replication: changeFeed stream + foreachBatch MERGE keeps a replica in sync") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    val src = tmp()
    val replica = tmp()
    GraftDelta.toDelta((1L to 5L).map(i => (i, s"v$i")).toDF("id", "v"), src,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))        // v0
    GraftDelta.toDelta(spark.emptyDataFrame
      .select(lit(0L).as("id"), lit("").as("v")).limit(0), replica)
    val q = spark.readStream.format("graft").option("changeFeed", "true").load(src)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // apply the LAST change per key: postimages/inserts upsert,
        // deletes delete — the standard CDC-apply recipe over the feed
        val w = Window.partitionBy("id").orderBy(col("_commit_version").desc,
          when(col("_change_type").isin("insert", "update_postimage"), 1)
            .otherwise(0).desc)
        val last = batch.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
        val ups = last.filter(col("_change_type").isin("insert", "update_postimage"))
          .select("id", "v")
        val dels = last.filter(col("_change_type") === "delete")
          .select("id").collect().map(_.getLong(0)).toSeq
        if (ups.head(1).nonEmpty) GraftDelta.mergeInto(spark, replica, ups, Seq("id"))
        if (dels.nonEmpty) GraftDelta.deleteWhere(spark, replica,
          dels.map(d => Seq(Predicate("id", "==", d))))
        ()
      }.start()
    try {
      q.processAllAvailable()
      GraftDelta.toDelta(Seq((6L, "v6"), (7L, "v7")).toDF("id", "v"), src,
        mode = "append")                                                  // v1
      GraftDelta.updateWhere(spark, src,
        Seq(Seq(Predicate("id", "==", 2L))), Map("v" -> lit("UPDATED")))  // v2
      GraftDelta.deleteWhere(spark, src, Seq(Seq(Predicate("id", "==", 4L)))) // v3
      q.processAllAvailable()
      val want = GraftDelta.readDelta(spark, src)
        .as[(Long, String)].collect().toSet
      val got = GraftDelta.readDelta(spark, replica)
        .as[(Long, String)].collect().toSet
      assert(got == want, s"replica drifted: got $got want $want")
      assert(got.contains((2L, "UPDATED")) && !got.exists(_._1 == 4L))
    } finally q.stop()
  }

  test("vacuum reclaims aged change-data files on the retention clock") {
    val path = tmp()
    GraftDelta.toDelta((1L to 20L).toDF("k").repartition(2), path)
    GraftDelta.enableChangeDataFeed(spark, path)
    GraftDelta.deleteWhere(spark, path, Seq(Seq(Predicate("k", "<=", 2L))))
    val fresh = GraftDelta.vacuum(spark, path, retentionHours = 1.0, dryRun = true)
    assert(!fresh.exists(_.startsWith("_change_data/")), "fresh cdc files stay")
    // age the cdc files past the window
    val cdcDir = new java.io.File(s"$path/_change_data")
    def age(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(age)
      else f.setLastModified(System.currentTimeMillis() - 8L * 24 * 3600 * 1000)
    }
    age(cdcDir)
    val aged = GraftDelta.vacuum(spark, path, retentionHours = 168.0, dryRun = false)
    assert(aged.exists(_.startsWith("_change_data/")))
    // the files are gone, the table still reads
    def parquets(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(parquets)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    assert(!cdcDir.exists() || parquets(cdcDir).isEmpty)
    assert(GraftDelta.readDelta(spark, path).count() == 18L)
  }

  test("planRange distributed DV-diff loading matches the driver-side path") {
    val path = tmp()
    GraftDelta.toDelta((1L to 30L).toDF("k").repartition(1), path)       // v0
    // three DV commits on the same incarnation chain: each diff is only
    // that commit's newly-deleted positions
    GraftDelta.deleteWhereWithDv(spark, path, Seq(Seq(Predicate("k", "<=", 3L))))  // v1
    GraftDelta.deleteWhereWithDv(spark, path, Seq(Seq(Predicate("k", "<=", 6L))))  // v2
    GraftDelta.deleteWhereWithDv(spark, path, Seq(Seq(Predicate("k", "<=", 9L))))  // v3
    val log = DeltaLog.forTable(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val commits = (1L to 3L).map(v => v -> log.readCommitActions(v))
    val driverSide = commits.map { case (v, a) => ChangeFeed.planVersion(fs, root, v, a) }
    // threshold 0 forces the Spark-job branch on the same range
    val (distributed, jobs) = TestBase.jobsDuring(
      ChangeFeed.planRange(spark, root, commits, distributedThreshold = 0))
    assert(TestBase.fanOutJobs(jobs) == 1, jobs.map(_.jobId))
    assert(distributed.map(_.version) == driverSide.map(_.version))
    driverSide.zip(distributed).foreach { case (d, x) =>
      assert(x.insertFiles.map(_.path) == d.insertFiles.map(_.path))
      assert(x.deleteCarriers.map(_.path) == d.deleteCarriers.map(_.path))
      assert(x.deleteDiffs.keySet == d.deleteDiffs.keySet)
      x.deleteDiffs.foreach { case (name, bytes) =>
        assert(java.util.Arrays.equals(bytes, d.deleteDiffs(name)),
          s"diff bitmap for $name differs between the two paths")
      }
    }
  }
}
