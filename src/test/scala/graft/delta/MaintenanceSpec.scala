package graft.delta

import graft.streaming.DeltaSink
import org.apache.spark.sql.functions._

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Data skipping, compaction, and the exactly-once streaming sink. */
class MaintenanceSpec extends GraftSuite {

  private def tmp(): String = {
    val d = Files.createTempDirectory("graft_m")
    d.toFile.deleteOnExit()
    s"$d/tbl"
  }

  test("metadata-only aggregate matches the scan answer and opens no data file") {
    import spark.implicits._
    val path = tmp()
    // 3 files with disjoint ranges; column `d` is ALL-NULL in one file's
    // rows (ids 1..10 → null) to hit the all-null-file min/max edge
    val df = (1 to 30).map { i =>
      (i.toLong, if (i <= 10) None else Some(i * 1.5), s"s$i")
    }.toDF("id", "d", "s")
    GraftDelta.toDelta(df.repartitionByRange(3, col("id")), path)

    val meta = DeltaTableOps.statsAggregate(spark, path, Seq("id", "d"))
    assert(meta.metadataOnly, "stats-complete numeric cols must use metadata")
    // the metadata answer executes without touching ANY table data file
    val plan = meta.df.queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan") && !plan.contains("Scan parquet"),
      s"metadata path scanned files:\n$plan")
    val m = meta.df.collect().head
    assert(m.getLong(0) == 30L)
    assert(m.getLong(1) == 1L && m.getLong(2) == 30L && m.getLong(3) == 0L)
    assert(m.getDouble(4) == 16.5 && m.getDouble(5) == 45.0 && m.getLong(6) == 10L)

    // scan fallback (forced: string col is out of metadata scope) agrees
    val scan = DeltaTableOps.statsAggregate(spark, path, Seq("id", "d", "s"))
    assert(!scan.metadataOnly)
    val sRow = scan.df.select("n_rows", "min_id", "max_id", "nulls_id",
      "min_d", "max_d", "nulls_d").collect().head
    assert(sRow.getLong(0) == 30L && sRow.getLong(1) == 1L && sRow.getLong(2) == 30L &&
      sRow.getLong(3) == 0L && sRow.getDouble(4) == 16.5 && sRow.getDouble(5) == 45.0 &&
      sRow.getLong(6) == 10L)

    // a stats-less (foreign-written) table falls back and stays correct
    // (decimal coverage: see the r13 test below)
    val log = DeltaLog.forTable(spark, path)
    log.writeCommit(1L, Seq(CommitInfo(
      timestamp = java.time.Instant.now().toEpochMilli, operation = "WRITE",
      operationParameters = Map("mode" -> "Append"),
      operationMetrics = Map.empty, readVersion = Some(0L),
      isBlindAppend = Some(true))) ++
      log.snapshot(None).activeFiles.map(_.copy(stats = None)))
    val foreign = DeltaTableOps.statsAggregate(spark, path, Seq("id", "d"))
    assert(!foreign.metadataOnly, "stats-less table must fall back to a scan")
    val f = foreign.df.collect().head
    assert(f.getLong(0) == 30L && f.getDouble(4) == 16.5 && f.getLong(6) == 10L)
  }

  test("metadata-only aggregate covers decimal columns (r13 scaled stats)") {
    import spark.implicits._
    val path = tmp()
    val df = (1 to 30).map(i => (i.toLong, BigDecimal(i * 150L, 2))) // 1.50 … 45.00
      .toDF("id", "dec")
      .select($"id", $"dec".cast("decimal(18,2)").as("dec"),     // int64-backed
        ($"id" % 3).cast("decimal(38,6)").as("wide"))            // binary-backed
    GraftDelta.toDelta(df.repartitionByRange(3, col("id")), path)
    val meta = DeltaTableOps.statsAggregate(spark, path, Seq("dec", "wide"))
    assert(meta.metadataOnly, "decimal columns with scaled stats answer from metadata")
    val plan = meta.df.queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan") && !plan.contains("Scan parquet"), plan)
    assert(meta.df.schema("min_dec").dataType ==
      org.apache.spark.sql.types.DecimalType(18, 2))
    assert(meta.df.schema("max_wide").dataType ==
      org.apache.spark.sql.types.DecimalType(38, 6))
    val m = meta.df.collect().head
    assert(m.getDecimal(1).compareTo(new java.math.BigDecimal("1.50")) == 0, m.toString)
    assert(m.getDecimal(2).compareTo(new java.math.BigDecimal("45.00")) == 0, m.toString)
    assert(m.getLong(3) == 0L)
    assert(m.getDecimal(4).compareTo(java.math.BigDecimal.ZERO) == 0, m.toString)
    assert(m.getDecimal(5).compareTo(new java.math.BigDecimal("2")) == 0, m.toString)
    // the real scan agrees exactly
    val scan = GraftDelta.readDelta(spark, path)
      .agg(min($"dec"), max($"dec"), min($"wide"), max($"wide")).collect().head
    assert(scan.getDecimal(0).compareTo(m.getDecimal(1)) == 0 &&
      scan.getDecimal(1).compareTo(m.getDecimal(2)) == 0 &&
      scan.getDecimal(2).compareTo(m.getDecimal(4)) == 0 &&
      scan.getDecimal(3).compareTo(m.getDecimal(5)) == 0)
  }

  test("partitionCounts answers GROUP BY partition from the log, typed, nulls included") {
    import spark.implicits._
    val path = tmp()
    // int partition col incl. a NULL partition (hive default-partition path)
    val df = (1 to 20).map(i => (i.toLong, if (i % 5 == 0) None else Some(i % 3)))
      .toDF("id", "b")
    GraftDelta.toDelta(df, path, partitionBy = Seq("b"))
    val r = DeltaTableOps.partitionCounts(spark, path)
    assert(r.metadataOnly)
    val plan = r.df.queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan") && !plan.contains("Scan parquet"),
      s"metadata path scanned files:\n$plan")
    assert(r.df.schema("b").dataType == org.apache.spark.sql.types.IntegerType,
      "partition col must come back typed through the table schema")
    val got = r.df.collect()
      .map(x => (if (x.isNullAt(0)) -1 else x.getInt(0)) -> x.getLong(1)).toMap
    val want = GraftDelta.readDelta(spark, path).groupBy($"b").count().collect()
      .map(x => (if (x.isNullAt(0)) -1 else x.getInt(0)) -> x.getLong(1)).toMap
    assert(got == want, s"metadata $got vs scan $want")
  }

  test("countWhere proves interior files from stats and scans only the boundary") {
    import spark.implicits._
    val path = tmp()
    // ids 1..100 in 5 disjoint-range files of 20 rows each
    val df = (1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "v")
    GraftDelta.toDelta(df.repartitionByRange(5, col("id")), path)
    // id > 30: file(1..20) excluded, file(21..40) boundary, 3 files proven
    val r = DeltaTableOps.countWhere(spark, path,
      Seq(Seq(Predicate("id", ">", 30L))))
    assert(r.count == 70L, s"$r")
    assert(r.filesTotal == 5 && r.filesExcluded == 1 &&
      r.filesFromStats == 3 && r.filesScanned == 1, s"$r")

    // nulls forfeit the inclusion proof: that file scans, count stays exact
    val path2 = tmp()
    val df2 = (1 to 40).map(i =>
      (i.toLong, if (i % 10 == 0) None else Some(i.toLong))).toDF("id", "m")
    GraftDelta.toDelta(df2.repartitionByRange(2, col("id")), path2)
    val r2 = DeltaTableOps.countWhere(spark, path2,
      Seq(Seq(Predicate("m", ">=", 1L))))
    assert(r2.count == 36L, s"$r2")
    assert(r2.filesFromStats == 0 && r2.filesScanned == 2,
      s"files with possible nulls must be scanned, not proven: $r2")

    // partition predicates prove whole partitions without data stats
    val path3 = tmp()
    val df3 = (1 to 60).map(i => (i.toLong, i % 3)).toDF("id", "p")
    GraftDelta.toDelta(df3, path3, partitionBy = Seq("p"))
    val r3 = DeltaTableOps.countWhere(spark, path3,
      Seq(Seq(Predicate("p", "==", 1))))
    assert(r3.count == 20L && r3.filesScanned == 0, s"$r3")

    // DNF across proof regimes: (id <= 20) OR (id > 80) — two proven
    // extremes, interior excluded
    val r4 = DeltaTableOps.countWhere(spark, path,
      Seq(Seq(Predicate("id", "<=", 20L)), Seq(Predicate("id", ">", 80L))))
    assert(r4.count == 40L, s"$r4")
    assert(r4.filesFromStats == 2 && r4.filesScanned == 0 && r4.filesExcluded == 3, s"$r4")
  }

  test("stats-based data skipping prunes files whose range excludes the filter") {
    import spark.implicits._
    // repartitionByRange → files with disjoint id ranges → min/max stats prune
    val path = tmp()
    val df = (0 until 10000).map(i => (i.toLong, i % 7)).toDF("id", "grp")
      .repartitionByRange(10, $"id")
    GraftDelta.toDelta(df, path)
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    assert(snap.activeFiles.size == 10)
    val hi = DeltaRead.prunedFiles(snap, Seq(Seq(Predicate("id", ">", 9000))))
    assert(hi.size < snap.activeFiles.size && hi.nonEmpty, s"pruned to ${hi.size}")
    val eq = DeltaRead.prunedFiles(snap, Seq(Seq(Predicate("id", "==", 5))))
    assert(eq.size == 1)
    // correctness preserved end-to-end
    val out = GraftDelta.readDelta(spark, path, filters = Seq(Seq(Predicate("id", ">", 9000))))
    assert(out.count() == 999)
    assert(out.inputFiles.length == hi.size)
    // conservative: unknown column op / missing stats never prune
    assert(DeltaRead.prunedFiles(snap, Seq(Seq(Predicate("id", "!=", 1)))).size == 10)
  }

  test("compaction merges small files, preserves rows, logs OPTIMIZE") {
    import spark.implicits._
    val path = tmp()
    val df = (0 until 1000).map(i => (i.toLong, s"k${i % 2}")).toDF("v", "k")
    GraftDelta.toDelta(df.repartition(8), path, partitionBy = Seq("k"))
    GraftDelta.toDelta(df.repartition(8), path, mode = "append", partitionBy = Seq("k"))
    val before = DeltaLog.forTable(spark, path).snapshot(None)
    assert(before.activeFiles.size >= 16)
    val (nBefore, nAfter) = DeltaMaintenance.compact(spark, path)
    assert(nAfter < nBefore, s"$nBefore -> $nAfter")
    val after = DeltaLog.forTable(spark, path).snapshot(None)
    assert(after.activeFiles.size == nAfter)
    assert(after.activeFiles.forall(!_.dataChange))
    val out = GraftDelta.readDelta(spark, path)
    assert(out.count() == 2000)
    assert(out.agg(sum($"v")).head().getLong(0) == 2L * (0 until 1000).sum)
    val h = GraftDelta.readDeltaHistory(spark, path).collect()
    assert(h.head.getString(1) == "OPTIMIZE")
    // time travel to the pre-compaction version still reads old files
    assert(GraftDelta.readDelta(spark, path, version = Some(1)).count() == 2000)
  }

  test("OPTIMIZE preserves columns past the dataSkippingNumIndexedCols bound") {
    import spark.implicits._
    // 40 columns with the default 32-column stats bound: the rewrite must
    // copy every column (stats harvest, not the data read, is bounded)
    val path = tmp()
    val wide = spark.range(0, 100).select(
      (0 until 40).map(i => ($"id" * (i + 1)).as(s"c$i")): _*)
    GraftDelta.toDelta(wide.repartition(3), path)
    GraftDelta.toDelta(wide.repartition(3), path, mode = "append")
    val (nBefore, nAfter) = DeltaMaintenance.compact(spark, path)
    assert(nAfter < nBefore, s"$nBefore -> $nAfter")
    val out = GraftDelta.readDelta(spark, path)
    assert(out.columns.length == 40)
    assert(out.agg(sum($"c39")).head().getLong(0) == 2L * 40 * (0 until 100).sum,
      "the 40th column's values must survive compaction")
    // stats stayed bounded: the compacted adds carry ≤ 32 stats columns
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    val stats = snap.activeFiles.head.stats.get
    assert(stats.contains("\"c31\"") && !stats.contains("\"c32\""), stats)
  }

  test("OPTIMIZE stages timestamps as INT64 TIMESTAMP(MICROS) with min/max; ts predicates prune after it") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import spark.implicits._
    val path = tmp()
    // two partitions, so the two groups stage concurrently: k=0 holds
    // 2020 timestamps, k=1 holds 2021 ones
    def batch(i: Int) = (0 until 20).map { j =>
      (i * 100L + j, java.sql.Timestamp.valueOf(s"${2020 + j % 2}-0${i + 1}-01 00:00:00"), j % 2)
    }.toDF("id", "ts", "k").repartition(2)
    GraftDelta.toDelta(batch(0), path, partitionBy = Seq("k"))
    GraftDelta.toDelta(batch(1), path, mode = "append", partitionBy = Seq("k"))
    GraftDelta.toDelta(batch(2), path, mode = "append", partitionBy = Seq("k"))
    val (nBefore, nAfter) = DeltaMaintenance.compact(spark, path)
    assert(nBefore > 2 && nAfter == 2, s"$nBefore -> $nAfter")
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    val conf = spark.sessionState.newHadoopConf()
    snap.activeFiles.foreach { f =>
      val file = new org.apache.hadoop.fs.Path(DeltaRead.resolvePath(path, f.path))
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      val ts =
        try reader.getFooter.getFileMetaData.getSchema.getFields.asScala.find(_.getName == "ts").get.asPrimitiveType
        finally reader.close()
      assert(ts.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
        ts.getLogicalTypeAnnotation == LogicalTypeAnnotation.timestampType(
          true, LogicalTypeAnnotation.TimeUnit.MICROS), s"${f.path}: $ts")
      val st = StatsPruning.parse(f.stats)
      assert(st.exists(s => s.min.contains("ts") && s.max.contains("ts")), s"${f.path}: ${f.stats}")
    }
    // ts is not a partition column: only the compacted files' stats can
    // exclude the 2020 partition
    val late = Seq(Seq(Predicate("ts", ">=", java.sql.Timestamp.valueOf("2021-01-01 00:00:00"))))
    val kept = DeltaRead.prunedFiles(snap, late)
    assert(kept.map(_.partitionValues("k")) == Seq("1"), kept)
    assert(GraftDelta.readDelta(spark, path, filters = late).count() == 30L)
  }

  test("a failed OPTIMIZE ends every group's job, then leaves the tree and the log as they were") {
    import spark.implicits._
    val path = tmp()
    val df = (0 until 400).map(i => (i.toLong, s"v$i", i % 2)).toDF("id", "v", "k")
    GraftDelta.toDelta(df.repartition(4), path, partitionBy = Seq("k"))
    GraftDelta.toDelta(df.repartition(4), path, mode = "append", partitionBy = Seq("k"))
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    // truncate one input file of k=0: that group's read fails, k=1's succeeds
    val victim = java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(DeltaRead.resolvePath(path,
      snap.activeFiles.find(_.partitionValues("k") == "0").get.path)).toUri.getPath)
    val bytes = Files.readAllBytes(victim)
    Files.write(victim, java.util.Arrays.copyOf(bytes, bytes.length / 2))
    val treeBefore = TestBase.tableTree(path)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.putIfAbsent(e.jobId, -1L)
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobs.put(e.jobId, e.time)
    }
    spark.sparkContext.addSparkListener(listener)
    val thrownAt =
      try {
        intercept[Exception](DeltaMaintenance.compact(spark, path))
        System.currentTimeMillis()
      } finally {
        // listener events arrive asynchronously; wait for every job's end
        val deadline = System.currentTimeMillis() + 60000
        while (jobs.containsValue(-1L) && System.currentTimeMillis() < deadline) Thread.sleep(20)
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(jobs.size >= 2, s"both groups must have run a job: $jobs")
    assert(jobs.asScala.values.forall(t => t >= 0 && t <= thrownAt),
      s"a group's job ended after compact threw at $thrownAt: $jobs")
    val treeAfter = TestBase.tableTree(path)
    assert(!treeAfter.exists(_.split('/').exists(_.startsWith(".graft_"))),
      s"staging dirs leaked: $treeAfter")
    assert(treeAfter == treeBefore,
      s"new ${treeAfter -- treeBefore}, gone ${treeBefore -- treeAfter}")
    assert(log.latestVersion == snap.version)
  }

  test("verbose foreign stats compact at replay; bounds stay sound, small stats verbatim") {
    import spark.implicits._
    val path = tmp()
    Seq((1L, "a"), (50L, "b")).toDF("v", "s").coalesce(1).write.parquet(s"$path/data")
    val f = new java.io.File(s"$path/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val longMin = "m" * 100
    val longMax = "z" * 100
    // pretty-printed, extra fields, a column outside the schema, and
    // oversized string bounds — the foreign-log worst case
    val verbose =
      s"""{
         |  "numRecords" : 2,
         |  "tightBounds" : false,
         |  "minValues" : { "v" : 1, "s" : "$longMin", "ghost" : 7 },
         |  "maxValues" : { "v" : 50, "s" : "$longMax", "ghost" : 9 },
         |  "nullCount" : { "v" : 0, "s" : 0, "ghost" : 0 },
         |  "someVendorField" : { "x" : "${"y" * 300}" }
         |}""".stripMargin
    assert(verbose.length > 512)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType)))
    DeltaLog.forTable(spark, path).writeCommit(0L, Seq(
      CommitInfo(System.currentTimeMillis(), "CREATE"),
      Protocol(1, 2),
      MetadataAction(id = "stats-compact", schemaString = schema.json),
      AddFile(path = s"data/${f.getName}", size = f.length(),
        modificationTime = f.lastModified(), dataChange = true,
        stats = Some(verbose))))
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    val kept = snap.activeFiles.head.stats.get
    assert(kept.length < 200, s"retained ${kept.length}B: $kept")
    assert(!kept.contains("ghost") && !kept.contains("someVendorField"), kept)
    assert(kept.contains("\"tightBounds\":false"), kept)
    // min truncated to a sound 64-char prefix; oversized max DROPPED
    val st = StatsPruning.parse(Some(kept)).get
    assert(st.numRecords.contains(2L))
    assert(st.min("s") == "m" * 64 && !st.max.contains("s"), st)
    assert(st.min("v") == 1L && st.max("v") == 50L)
    // consumers stay correct: numeric pruning bites, metadata count exact
    assert(DeltaRead.load(spark, path,
      filters = Seq(Seq(Predicate("v", ">", 100L)))).count() == 0)
    assert(DeltaTableOps.countWhere(spark, path,
      Seq(Seq(Predicate("v", ">=", 0L)))).count == 2L)
    // a string predicate past the truncated min cannot prune unsoundly
    assert(DeltaRead.load(spark, path,
      filters = Seq(Seq(Predicate("s", ">", "y")))).count() ==
      Seq("a", "b").count(_ > "y"))
    // our own minimal stats stay verbatim (no parse on the common path)
    val own = tmp()
    GraftDelta.toDelta(Seq((1L, "a")).toDF("v", "s"), own)
    val ownStats = DeltaLog.forTable(spark, own).snapshot(None).activeFiles.head.stats.get
    assert(ownStats.length <= 512, ownStats)

    // the compaction is an IN-MEMORY bound only — a checkpoint persists
    // the foreign stats string VERBATIM (dropping columns/bounds there
    // would be irreversible for foreign readers and for a later increase
    // of dataSkippingNumIndexedCols); the post-checkpoint replay then
    // re-compacts in memory from the verbatim copy
    val log = DeltaLog.forTable(spark, path)
    log.writeCheckpoint(0L)
    log.fs.delete(log.commitFile(0L), false)
    val cp = spark.read.parquet(s"$path/_delta_log/00000000000000000000.checkpoint.parquet")
    val cpStats = cp.select("add.stats").where(cp.col("add").isNotNull)
      .collect().head.getString(0)
    assert(cpStats == verbose,
      s"checkpoint must carry the original stats verbatim, got: $cpStats")
    DeltaLog.clearCache() // the pin is the CHECKPOINT-ONLY replay's compaction
    val replayed = DeltaLog.forTable(spark, path).snapshot(None).activeFiles.head.stats.get
    assert(replayed.length < 200 && !replayed.contains("ghost"),
      s"checkpoint-only replay must still compact in memory: $replayed")
  }

  test("tableDetail summarizes the snapshot from the log alone") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(
      (0 until 100).map(i => (i.toLong, s"k${i % 2}")).toDF("v", "k").repartition(4),
      path, partitionBy = Seq("k"),
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    val d = GraftDelta.tableDetail(spark, path).collect()(0)
    assert(d.getAs[String]("format") == "delta")
    assert(d.getAs[String]("id") == snap.metadata.id)
    assert(d.getAs[scala.collection.Seq[String]]("partitionColumns").toSeq == Seq("k"))
    assert(d.getAs[Long]("numFiles") == snap.activeFiles.size.toLong)
    assert(d.getAs[Long]("sizeInBytes") == snap.activeFiles.map(_.size).sum)
    assert(d.getAs[Map[String, String]]("properties")
      .get("delta.enableChangeDataFeed").contains("true"))
    assert(d.getAs[Int]("minWriterVersion") == 4)
  }

  test("OPTIMIZE WHERE compacts only the matching partitions") {
    import spark.implicits._
    val path = tmp()
    val df = (0 until 1000).map(i => (i.toLong, s"k${i % 2}")).toDF("v", "k")
    GraftDelta.toDelta(df.repartition(8), path, partitionBy = Seq("k"))
    GraftDelta.toDelta(df.repartition(8), path, mode = "append", partitionBy = Seq("k"))
    val before = DeltaLog.forTable(spark, path).snapshot(None)
    val untouchedBefore = before.activeFiles
      .filter(_.partitionValues.get("k").contains("k1")).map(_.path).toSet
    DeltaMaintenance.compact(spark, path,
      where = Seq(Seq(Predicate("k", "==", "k0"))))
    val after = DeltaLog.forTable(spark, path).snapshot(None)
    // k0 compacted, k1 keeps its EXACT file set
    assert(after.activeFiles.count(_.partitionValues.get("k").contains("k0")) <
      before.activeFiles.count(_.partitionValues.get("k").contains("k0")))
    assert(after.activeFiles.filter(_.partitionValues.get("k").contains("k1"))
      .map(_.path).toSet == untouchedBefore)
    assert(GraftDelta.readDelta(spark, path).count() == 2000)
    // data-column predicates refuse
    intercept[IllegalArgumentException] {
      DeltaMaintenance.compact(spark, path, where = Seq(Seq(Predicate("v", ">", 10L))))
    }
  }

  test("sorted compaction clusters files so stats pruning bites afterwards") {
    import spark.implicits._
    val path = tmp()
    // round-robin layout: every file spans the full id range → stats
    // can't prune anything before compaction
    val df = (0 until 8000).map(i => (i.toLong, i % 13)).toDF("id", "x")
      .repartition(8, $"x")
    GraftDelta.toDelta(df, path, configuration = Map.empty)
    val snapBefore = DeltaLog.forTable(spark, path).snapshot(None)
    val pred = Seq(Seq(Predicate("id", "<", 500)))
    assert(DeltaRead.prunedFiles(snapBefore, pred).size == snapBefore.activeFiles.size,
      "interleaved files must not prune")

    val (_, nAfter) = DeltaMaintenance.compact(spark, path,
      targetFileBytes = 16L * 1024, sortBy = Seq("id"))
    val snapAfter = DeltaLog.forTable(spark, path).snapshot(None)
    assert(nAfter > 1, s"need multiple output files to show pruning, got $nAfter")
    val pruned = DeltaRead.prunedFiles(snapAfter, pred)
    assert(pruned.size < snapAfter.activeFiles.size,
      s"sorted files must prune: ${pruned.size} of ${snapAfter.activeFiles.size}")
    // rows intact
    assert(GraftDelta.readDelta(spark, path).agg(sum($"id")).head().getLong(0) ==
      (0 until 8000).map(_.toLong).sum)
    // guards: unknown / partition sortBy refused
    intercept[IllegalArgumentException] {
      DeltaMaintenance.compact(spark, path, sortBy = Seq("nope"))
    }
  }

  test("z-order compaction prunes on BOTH clustered dimensions") {
    import spark.implicits._
    // 64x64 grid, shuffled round-robin: before clustering no predicate
    // prunes anything; z-ordering must localize x AND y
    def freshGrid(): String = {
      val p = tmp()
      val df = (0 until 4096).map { i => (i % 64.toLong, (i / 64).toLong, i.toLong) }
        .toDF("x", "y", "payload")
        .repartition(8, $"payload")
      GraftDelta.toDelta(df, p)
      p
    }
    def prunedCount(p: String, c: String): (Int, Int) = {
      val snap = DeltaLog.forTable(spark, p).snapshot(None)
      (DeltaRead.prunedFiles(snap, Seq(Seq(Predicate(c, "<", 8)))).size,
        snap.activeFiles.size)
    }

    val zPath = freshGrid()
    val (_, nz) = DeltaMaintenance.compact(spark, zPath,
      targetFileBytes = 6L * 1024, sortBy = Seq("x", "y"), zorder = true)
    assert(nz >= 4, s"need several output files, got $nz")
    val (zx, zTotal) = prunedCount(zPath, "x")
    val (zy, _) = prunedCount(zPath, "y")
    assert(zx < zTotal && zy < zTotal,
      s"z-order must prune both dims: x $zx/$zTotal, y $zy/$zTotal")

    // contrast: lexicographic (x, y) sorting cannot prune on y alone
    val lexPath = freshGrid()
    DeltaMaintenance.compact(spark, lexPath,
      targetFileBytes = 6L * 1024, sortBy = Seq("x", "y"))
    val (ly, lTotal) = prunedCount(lexPath, "y")
    assert(ly == lTotal, s"lexicographic files all span y: $ly/$lTotal")

    // rows intact after the z-order rewrite
    assert(GraftDelta.readDelta(spark, zPath).agg(sum($"payload")).head().getLong(0) ==
      (0 until 4096).map(_.toLong).sum)
  }

  /** Liquid clustering: stored columns drive a bare OPTIMIZE (Z-order
    * for ≥2), explicit sortBy overrides, CLUSTER BY NONE unclusters,
    * partitioned tables refuse, and the SQL route lands the same state. */
  test("clusterBy stores columns that a bare OPTIMIZE lays data out by") {
    import spark.implicits._
    val path = tmp()
    val df = (0 until 4096).map { i => (i % 64.toLong, (i / 64).toLong, i.toLong) }
      .toDF("x", "y", "payload")
      .repartition(8, $"payload")
    GraftDelta.toDelta(df, path)
    graft.sql.GraftSql.sql(spark,
      s"ALTER TABLE delta.`$path` CLUSTER BY (x, y)")
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    assert(snap.protocol.writerFeatures.exists(_.contains("clustering")),
      snap.protocol.toString)
    assert(DeltaTableOps.clusteringColumnsOf(snap) == Seq("x", "y"))
    // a bare OPTIMIZE (no sortBy) must Z-order by the stored columns:
    // both dimensions prune afterwards
    val (_, n) = DeltaMaintenance.compact(spark, path, targetFileBytes = 6L * 1024)
    assert(n >= 4, s"need several output files, got $n")
    def pruned(c: String): (Int, Int) = {
      val s = DeltaLog.forTable(spark, path).snapshot(None)
      (DeltaRead.prunedFiles(s, Seq(Seq(Predicate(c, "<", 8)))).size,
        s.activeFiles.size)
    }
    val (px, total) = pruned("x")
    val (py, _) = pruned("y")
    assert(px < total && py < total,
      s"clustered OPTIMIZE must prune both dims: x $px/$total, y $py/$total")
    // the commit records the layout it used
    val log = DeltaLog.forTable(spark, path)
    val params = log.readCommitActions(log.latestVersion).collectFirst {
      case ci: CommitInfo => ci.operationParameters
    }.getOrElse(Map.empty[String, String])
    assert(params.get("sortBy").exists(_.contains("x")) &&
      params.get("zorder").contains("true"), params.toString)
    // rows intact
    assert(GraftDelta.readDelta(spark, path).agg(sum($"payload")).head().getLong(0) ==
      (0 until 4096).map(_.toLong).sum)
    // CLUSTER BY NONE unclusters: next OPTIMIZE coalesces (no sortBy param)
    graft.sql.GraftSql.sql(spark, s"ALTER TABLE delta.`$path` CLUSTER BY NONE")
    assert(DeltaTableOps.clusteringColumnsOf(
      DeltaLog.forTable(spark, path).snapshot(None)).isEmpty)
    // partitioned tables refuse
    val pPath = tmp()
    GraftDelta.toDelta(Seq((1L, "a"), (2L, "b")).toDF("v", "k"),
      pPath, partitionBy = Seq("k"))
    val e = intercept[IllegalArgumentException](
      DeltaTableOps.clusterBy(spark, pPath, Seq("v")))
    assert(e.getMessage.contains("partitioned"), e.getMessage)
  }

  test("streaming sink is exactly-once: replayed batch ids are skipped") {
    import spark.implicits._
    val path = tmp()
    val batch = (0 until 50).map(i => (i.toLong, s"b$i")).toDF("id", "v")
    assert(DeltaSink.addBatch(batch, path, "app-1", 0L))
    assert(DeltaSink.addBatch(batch, path, "app-1", 1L))
    // replay of batch 1 (post-failure rerun) must be a no-op
    assert(!DeltaSink.addBatch(batch, path, "app-1", 1L))
    assert(GraftDelta.readDelta(spark, path).count() == 100)
    // a different appId is an independent writer
    assert(DeltaSink.addBatch(batch, path, "app-2", 0L))
    assert(GraftDelta.readDelta(spark, path).count() == 150)
    // txn state survives a checkpoint + commit deletion (replay from cp)
    val log = DeltaLog.forTable(spark, path)
    log.writeCheckpoint(log.latestVersion)
    val snap = log.snapshot(None)
    assert(snap.setTransactions.map(t => t.appId -> t.version).toMap ==
      Map("app-1" -> 1L, "app-2" -> 0L))
  }

  test("autoCompact debounce: checks run at the commit interval, one compaction per crossing (VERDICT r16 #6)") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.minNumFiles", "8") // debounce interval = 4 commits
    try {
      val path = tmp()
      def append(i: Int): Unit = GraftDelta.toDelta(
        Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1), path,
        mode = if (i == 0) "error" else "append",
        configuration = if (i == 0)
          Map("delta.autoOptimize.autoCompact" -> "true") else Map.empty)
      def optimizes(): Int = DeltaTableOps.history(spark, path)
        .select("operation").collect().count(_.getString(0) == "OPTIMIZE")
      // v0..v7 accrete 8 small files; the threshold is crossed at v7 but
      // the debounced hook does NOT re-qualify on every commit (its last
      // check fell at v4), so no OPTIMIZE lands yet — the undebounced
      // shape compacted here
      (0 until 8).foreach(append)
      assert(optimizes() == 0, "mid-interval commits must not re-qualify the table")
      // the next check boundary (v8) catches the crossing: exactly one
      // compaction, at most half a threshold late
      append(8)
      assert(optimizes() == 1, "the crossing must compact at the next check boundary")
      assert(DeltaLog.forTable(spark, path).snapshot(None).activeFiles.size == 1)
      // further sub-threshold appends never re-compact
      (9 until 13).foreach(append)
      assert(optimizes() == 1, "sub-threshold accretion must not re-compact")
      assert(GraftDelta.readDelta(spark, path).count() == 13)
    } finally spark.conf.unset("spark.graft.autoCompact.minNumFiles")
  }

  test("micro-batch sink with autoCompact: compaction commits stay bounded, not per-trigger (VERDICT r16 #6)") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.minNumFiles", "6") // debounce interval = 3 commits
    try {
      val path = tmp()
      GraftDelta.toDelta(Seq((-1L, "seed")).toDF("id", "v").coalesce(1), path,
        configuration = Map("delta.autoOptimize.autoCompact" -> "true"))
      (0 until 18).foreach { b =>
        val batch = Seq((b.toLong, s"b$b")).toDF("id", "v").coalesce(1)
        assert(DeltaSink.addBatch(batch, path, "compact-app", b.toLong))
      }
      val ops = DeltaTableOps.history(spark, path).select("operation")
        .collect().map(_.getString(0))
      val nOpt = ops.count(_ == "OPTIMIZE")
      // 19 data commits at threshold 6: compaction still happens, but the
      // hook fires at check boundaries only — never once per trigger
      assert(nOpt >= 1, s"compaction must still happen: ${ops.mkString(", ")}")
      assert(nOpt <= 4, s"compaction must be debounced: $nOpt OPTIMIZE in ${ops.length} commits")
      assert(GraftDelta.readDelta(spark, path).count() == 19)
      // exactly-once survives the interleaved maintenance commits
      assert(!DeltaSink.addBatch(Seq((99L, "dup")).toDF("id", "v"), path,
        "compact-app", 17L))
      assert(GraftDelta.readDelta(spark, path).count() == 19)
    } finally spark.conf.unset("spark.graft.autoCompact.minNumFiles")
  }

  test("FSCK REPAIR drops entries for manually-deleted files, keeps the rest") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(
      (1L to 40L).map(i => (i, i % 4)).toDF("k", "g").repartition(4), path)
    val before = DeltaLog.forTable(spark, path).snapshot(None).activeFiles
    assert(before.size >= 2)
    // sabotage: delete one data file from storage directly
    val victim = before.head
    new java.io.File(graft.delta.DeltaRead.resolvePath(path, victim.path)).delete()
    intercept[Exception](GraftDelta.readDelta(spark, path).count())
    // dry run reports, commits nothing
    val dry = graft.sql.GraftSql.sql(spark, s"FSCK REPAIR TABLE delta.`$path` DRY RUN")
    assert(dry.select("removedEntries").head().getLong(0) == 1L)
    assert(DeltaLog.forTable(spark, path).latestVersion == 0L)
    // repair: the table reads again, missing only the victim's rows
    val r = graft.sql.GraftSql.sql(spark, s"FSCK REPAIR TABLE delta.`$path`")
    assert(r.select("removedEntries").head().getLong(0) == 1L)
    val survivors = GraftDelta.readDelta(spark, path).count()
    val victimRows = StatsPruning.parse(victim.stats).flatMap(_.numRecords).get
    assert(survivors == 40L - victimRows)
    // idempotent: a second repair finds nothing
    assert(DeltaTableOps.fsckRepair(spark, path).removedEntries == 0L)
  }

  test("delta.deletedFileRetentionDuration drives SQL VACUUM's default clock") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path,
      configuration = Map("delta.deletedFileRetentionDuration" -> "interval 0 hours"))
    GraftDelta.toDelta(Seq((9L, "z")).toDF("k", "v"), path, mode = "overwrite")
    // no RETAIN clause: the property's 0-hour clock makes the overwrite
    // tombstones immediately reclaimable (default 168h would keep them)
    val dropped = graft.sql.GraftSql.sql(spark,
      s"VACUUM delta.`$path` DRY RUN").as[String].collect()
    assert(dropped.nonEmpty, "property must drive the default retention")
    // an explicit RETAIN overrides the property
    val kept = graft.sql.GraftSql.sql(spark,
      s"VACUUM delta.`$path` RETAIN 168 HOURS DRY RUN").as[String].collect()
    assert(kept.isEmpty, "RETAIN must override the property")
  }

  test("delta.logRetentionDuration property drives cleanupLog's clock") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(Seq((1L, "a")).toDF("k", "v"), path,
      configuration = Map("delta.logRetentionDuration" -> "interval 0 hours"))
    GraftDelta.toDelta(Seq((2L, "b")).toDF("k", "v"), path, mode = "append")
    val log = DeltaLog.forTable(spark, path)
    log.writeCheckpoint(1L)
    // caller default is 720h, but the property says 0: superseded
    // commits are reclaimable immediately
    val dry = DeltaMaintenance.cleanupLog(spark, path, dryRun = true)
    assert(dry.exists(_.contains("00000000000000000000.json")),
      s"property must override the caller default: $dry")
    // parse pins
    assert(DeltaMaintenance.parseRetentionHours("interval 30 days").contains(720.0))
    assert(DeltaMaintenance.parseRetentionHours("7 days").contains(168.0))
    assert(DeltaMaintenance.parseRetentionHours("interval 2 weeks").contains(336.0))
    assert(DeltaMaintenance.parseRetentionHours("soon").isEmpty)
  }

  test("cleanupLog sweeps aged version checksums with their commits") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(Seq((1L, "a")).toDF("k", "v"), path,
      configuration = Map("delta.logRetentionDuration" -> "interval 0 hours"))
    GraftDelta.toDelta(Seq((2L, "b")).toDF("k", "v"), path, mode = "append")
    val log = DeltaLog.forTable(spark, path)
    log.writeCheckpoint(1L)
    assert(log.fs.exists(log.crcFile(0L)) && log.fs.exists(log.crcFile(1L)),
      "commits must write sibling N.crc files")
    val swept = DeltaMaintenance.cleanupLog(spark, path, dryRun = false)
    assert(swept.contains("00000000000000000000.json") &&
      swept.contains("00000000000000000000.crc"),
      s"the aged crc must age out WITH its commit: $swept")
    assert(!log.fs.exists(log.crcFile(0L)))
    // the checkpoint-version crc survives (still time-travelable)
    assert(log.fs.exists(log.crcFile(1L)))
    log.invalidateCache()
    assert(GraftDelta.readDelta(spark, path).count() == 2)
  }

  test("delta.checkpointInterval table property drives the checkpoint cadence") {
    import spark.implicits._
    val path = tmp()
    // property-carrying table: interval 2 beats the caller default of 10
    GraftDelta.toDelta(Seq((1L, "a")).toDF("id", "v"), path,
      configuration = Map("delta.checkpointInterval" -> "2"))              // v0
    (1 to 4).foreach { i =>
      GraftDelta.toDelta(Seq((i.toLong * 10, "b")).toDF("id", "v"), path,
        mode = "append")                                                   // v1..v4
    }
    val log = DeltaLog.forTable(spark, path)
    assert(log.listCheckpointVersions == Seq(2L, 4L),
      "property interval 2 must checkpoint at v2 and v4")
    // DML honors it too: v6 lands a checkpoint (caller default is 10)
    GraftDelta.toDelta(Seq((999L, "z")).toDF("id", "v"), path, mode = "append") // v5
    GraftDelta.deleteWhere(spark, path, Seq(Seq(Predicate("id", "==", 999L))))  // v6
    assert(log.listCheckpointVersions.contains(6L),
      s"DML at v6 must checkpoint under interval 2: ${log.listCheckpointVersions}")
    // unparseable / non-positive property falls back to the caller default
    assert(DeltaLog.checkpointIntervalOf(
      log.snapshot(None).metadata.copy(configuration =
        Map("delta.checkpointInterval" -> "nope")), 10) == 10)
    assert(DeltaLog.checkpointIntervalOf(
      log.snapshot(None).metadata.copy(configuration =
        Map("delta.checkpointInterval" -> "0")), 10) == 10)
  }

  test("OPTIMIZE honors the delta.checkpointInterval cadence") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(Seq((1L, "a")).toDF("id", "v"), path,
      configuration = Map("delta.checkpointInterval" -> "2"))               // v0
    GraftDelta.toDelta(Seq((2L, "b")).toDF("id", "v"), path, mode = "append") // v1
    assert(DeltaMaintenance.compact(spark, path) == ((2, 1)))                // v2
    val log = DeltaLog.forTable(spark, path)
    assert(log.latestVersion == 2L)
    assert(log.listCheckpointVersions == Seq(2L),
      s"OPTIMIZE at v2 must checkpoint under interval 2: ${log.listCheckpointVersions}")
  }

  test("metadata, TRUNCATE and RESTORE commits honor the checkpoint cadence") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(Seq((1L, "a")).toDF("id", "v"), path,
      configuration = Map("delta.checkpointInterval" -> "2"))               // v0
    GraftDelta.toDelta(Seq((2L, "b")).toDF("id", "v"), path, mode = "append") // v1
    DeltaTableOps.setTableProperties(spark, path, Map("owner" -> "ops"))   // v2
    GraftDelta.toDelta(Seq((3L, "c")).toDF("id", "v"), path, mode = "append") // v3
    DeltaTableOps.truncateTable(spark, path)                                // v4
    GraftDelta.toDelta(Seq((4L, "d")).toDF("id", "v"), path, mode = "append") // v5
    DeltaTableOps.restore(spark, path, 3L)                                  // v6
    val log = DeltaLog.forTable(spark, path)
    assert(log.listCheckpointVersions == Seq(2L, 4L, 6L),
      s"each even-version commit must checkpoint under interval 2: ${log.listCheckpointVersions}")
    def rows(v: Long): Seq[Long] = GraftDelta.readDelta(spark, path, version = Some(v))
      .select($"id").as[Long].collect().sorted.toSeq
    val warm = Seq(2L, 4L, 6L).map(rows)
    assert(warm == Seq(Seq(1L, 2L), Nil, Seq(1L, 2L, 3L)), warm.toString)
    DeltaLog.clearCache()
    assert(Seq(2L, 4L, 6L).map(rows) == warm, "a cold replay from the checkpoints")
  }

  test("multi-part checkpoints replay like single-file ones (foreign writers)") {
    import spark.implicits._
    val path = tmp()
    (0 until 4).foreach { i =>
      GraftDelta.toDelta((0 until 25).map(j => (i * 25L + j, s"r$j")).toDF("id", "v"), path,
        mode = if (i == 0) "error" else "append", checkpointInterval = 3)
    }
    val log = DeltaLog.forTable(spark, path)
    assert(log.listCheckpointVersions == Seq(3L))
    // split the single-file checkpoint into 2 parts, as a foreign
    // multi-part writer would lay it out
    val single = log.checkpointFile(3L)
    val cp = spark.read.parquet(single.toString)
    val rows = cp.collect()
    val (h1, h2) = rows.splitAt(rows.length / 2)
    def part(i: Int): String =
      f"${log.logPath}/${3L}%020d.checkpoint.${i}%010d.${2}%010d.parquet"
    spark.createDataFrame(spark.sparkContext.parallelize(h1.toSeq, 1), cp.schema)
      .coalesce(1).write.mode("overwrite").parquet(part(1) + ".tmp")
    spark.createDataFrame(spark.sparkContext.parallelize(h2.toSeq, 1), cp.schema)
      .coalesce(1).write.mode("overwrite").parquet(part(2) + ".tmp")
    Seq(1, 2).foreach { i =>
      val dir = new org.apache.hadoop.fs.Path(part(i) + ".tmp")
      val pf = log.fs.listStatus(dir).map(_.getPath)
        .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet")).get
      log.fs.rename(pf, new org.apache.hadoop.fs.Path(part(i)))
      log.fs.delete(dir, true)
    }
    log.fs.delete(single, false)
    // update _last_checkpoint to declare 2 parts
    val lc = new org.apache.hadoop.fs.Path(log.logPath, "_last_checkpoint")
    val out = log.fs.create(lc, true)
    out.write(s"""{"version":3,"size":${rows.length},"parts":2}""".getBytes("UTF-8"))
    out.close()
    // delete commits covered by the checkpoint: replay MUST use the parts
    (0L to 2L).foreach(v => log.fs.delete(log.commitFile(v), false))
    DeltaLog.clearCache() // the pin is a COLD multi-part replay, not a cache hit
    assert(DeltaLog.forTable(spark, path).listCheckpointVersions == Seq(3L))
    assert(GraftDelta.readDelta(spark, path).count() == 100)
  }

  test("large snapshots checkpoint as multi-part and replay after commit deletion") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((0 until 200).map(i => (i.toLong, s"x$i")).toDF("id", "v")
      .repartition(10), path, checkpointInterval = 0)
    GraftDelta.toDelta((200 until 300).map(i => (i.toLong, s"x$i")).toDF("id", "v")
      .repartition(5), path, mode = "append", checkpointInterval = 0)
    val log = DeltaLog.forTable(spark, path)
    // 15 adds + protocol + metaData = 17 rows; 5 per part -> 4 parts
    log.writeCheckpoint(1L, maxActionsPerPart = 5)
    assert(log.checkpointPartFiles(1L).size > 1)
    assert(log.readLastCheckpoint().exists(_.parts.exists(_ > 1)))
    (0L to 1L).foreach(v => log.fs.delete(log.commitFile(v), false))
    DeltaLog.clearCache() // cold replay through the parts, not a cache hit
    val back = GraftDelta.readDelta(spark, path)
    assert(back.count() == 300)
    assert(back.agg(sum($"id")).head().getLong(0) == (0 until 300).map(_.toLong).sum)
  }

  test("a missing multi-part checkpoint piece fails loudly, not silently") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((0 until 200).map(i => (i.toLong, s"x$i")).toDF("id", "v")
      .repartition(10), path, checkpointInterval = 0)
    val log = DeltaLog.forTable(spark, path)
    log.writeCheckpoint(0L, maxActionsPerPart = 3)
    val parts = log.checkpointPartFiles(0L)
    assert(parts.size > 1)
    // sever one part: the raw read refuses rather than silently losing
    // that part's adds
    log.fs.delete(parts.head, false)
    val e = intercept[IllegalArgumentException] {
      DeltaLog.forTable(spark, path).readCheckpointActions(0L)
    }
    assert(e.getMessage.contains("Incomplete multi-part checkpoint"), e.getMessage)
    // snapshots routed through the _last_checkpoint pointer DEGRADE to
    // JSON replay (r12: an unreadable checkpoint is indistinguishable
    // from a concurrent writer's clear-then-rename install window, so
    // replay falls back with a WARN) — the FULL table, never a silently
    // smaller one
    assert(GraftDelta.readDelta(spark, path).count() == 200)
    // and when the fallback is impossible too (JSON tail gone), the
    // failure is loud — a damaged checkpoint plus a cleaned log can
    // never serve a smaller table
    log.fs.delete(log.commitFile(0L), false)
    val e2 = intercept[Exception] {
      DeltaLog.forTable(spark, path).snapshot(None)
    }
    assert(e2.getMessage.contains("Missing commit") ||
      e2.getMessage.contains("Not a Delta table") ||
      e2.getMessage.contains("No metaData"), e2.getMessage)
  }

  test("a torn _last_checkpoint never breaks reads (concurrent-writer window)") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((0 until 50).map(i => (i.toLong, s"x$i")).toDF("id", "v"),
      path, checkpointInterval = 0)
    val log = DeltaLog.forTable(spark, path)
    log.writeCheckpoint(0L)
    val lcPath = new org.apache.hadoop.fs.Path(log.logPath, "_last_checkpoint")
    // every torn shape a reader can catch mid-rewrite: empty (between
    // truncate and write), a partial JSON prefix, and non-JSON bytes
    for (torn <- Seq("", """{"ver""", "garbage")) {
      val out = log.fs.create(lcPath, true)
      out.write(torn.getBytes("UTF-8")); out.close()
      assert(DeltaLog.forTable(spark, path).readLastCheckpoint().isEmpty,
        s"torn pointer '$torn' must parse as absent")
      // replay still finds the checkpoint by listing — and the table reads
      val snap = DeltaLog.forTable(spark, path).snapshot(None)
      assert(snap.activeFiles.nonEmpty)
      assert(GraftDelta.readDelta(spark, path).count() == 50)
    }
  }

  test("end-to-end micro-batch stream lands in a delta table exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = tmp()
    val ckpt = Files.createTempDirectory("graft_ck").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = DeltaSink.writeStream(mem.toDF().toDF("id", "v"), path, ckpt, "stream-app").start()
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((3L, "c"))
      q.processAllAvailable()
      assert(GraftDelta.readDelta(spark, path).count() == 3)
    } finally q.stop()
  }

  test("cleanupLog deletes checkpoint-superseded commits; replay and head reads survive") {
    import spark.implicits._
    val path = tmp()
    // 13 commits with checkpoints every 4 → checkpoints at v4, v8, v12
    GraftDelta.toDelta(Seq((0L, "v0")).toDF("id", "v"), path, checkpointInterval = 4)
    (1 to 12).foreach { i =>
      GraftDelta.toDelta(Seq((i.toLong, s"v$i")).toDF("id", "v"), path,
        mode = "append", checkpointInterval = 4)
    }
    val log = DeltaLog.forTable(spark, path)
    assert(log.listCheckpointVersions == Seq(4L, 8L, 12L))

    // dry run lists but deletes nothing
    val dry = DeltaMaintenance.cleanupLog(spark, path, retentionHours = 0.0)
    assert(dry.nonEmpty && log.listCommitVersions.size == 13)
    // commits 0-11 and checkpoints 4, 8 are superseded by checkpoint 12
    val gone = DeltaMaintenance.cleanupLog(spark, path, retentionHours = 0.0, dryRun = false)
    assert(gone == dry)
    assert(gone.count(_.endsWith(".json")) == 12, gone.toString)
    assert(gone.count(_.contains("checkpoint")) == 2, gone.toString)
    assert(log.listCommitVersions == Seq(12L))
    assert(log.listCheckpointVersions == Seq(12L))

    // head reads replay from the surviving checkpoint — all rows intact
    assert(GraftDelta.readDelta(spark, path).count() == 13)
    // time travel at/after the checkpoint works; before it raises
    assert(GraftDelta.readDelta(spark, path, version = Some(12L)).count() == 13)
    intercept[Exception] {
      GraftDelta.readDelta(spark, path, version = Some(3L)).count()
    }
    // a fresh retention window keeps everything
    GraftDelta.toDelta(Seq((13L, "v13")).toDF("id", "v"), path,
      mode = "append", checkpointInterval = 4)
    assert(DeltaMaintenance.cleanupLog(spark, path, retentionHours = 168.0).isEmpty)
  }

  test("cleanupLog sweeps aged publish-temp debris, keeps live temps") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(Seq((0L, "v0")).toDF("id", "v"), path)
    // LogStore's content-atomic publish stages `.<name>.tmp-<uuid8>`
    // siblings; a crash between staging and publish leaks them — the
    // commit/checkpoint regexes never match and orphan vacuum skips
    // hidden trees, so cleanupLog is the sweeper of record
    val logDir = new java.io.File(path, "_delta_log")
    val aged = new java.io.File(logDir, ".00000000000000000001.json.tmp-deadbeef")
    val young = new java.io.File(logDir, ".00000000000000000002.json.tmp-cafebabe")
    Seq(aged, young).foreach { f =>
      val out = new java.io.FileOutputStream(f); out.write(1); out.close()
    }
    assert(aged.setLastModified(System.currentTimeMillis() - 10L * 24 * 3600 * 1000))
    // no checkpoint exists yet — the tmp sweep must still run
    val dry = DeltaMaintenance.cleanupLog(spark, path, retentionHours = 168.0)
    assert(dry == Seq(aged.getName), dry.toString)
    assert(aged.exists(), "dry run deletes nothing")
    val gone = DeltaMaintenance.cleanupLog(spark, path,
      retentionHours = 168.0, dryRun = false)
    assert(gone == Seq(aged.getName) && !aged.exists())
    assert(young.exists(), "an in-retention temp may be a live mid-publish stage")
    assert(GraftDelta.readDelta(spark, path).count() == 1)
  }

  test("stats decode keeps beyond-Long integral bounds exact (no silent wrap)") {
    // DECIMAL(38,0) stats serialize as big integral JSON numbers; an
    // asLong() decode WRAPS them (ADVICE r13) — bounds then compare in
    // the wrong value space and a file holding matches gets pruned
    val big = new java.math.BigDecimal("99999999999999999999999999999999999999")
    val json =
      s"""{"numRecords":3,"minValues":{"d":1},"maxValues":{"d":$big},"nullCount":{"d":0}}"""
    val st = StatsPruning.parse(Some(json))
    assert(st.get.max("d") == big, st.get.max("d").toString)
    // d > 9.3e18 (beyond Long.MaxValue): the true max qualifies, so the
    // file MUST stay scannable; a wrapped max would wrongly prune it
    val p = Predicate("d", ">", new java.math.BigDecimal("9300000000000000000"))
    assert(StatsPruning.mayMatch(st, p), "wrapped decode would prune a matching file")
    assert(!StatsPruning.mayMatch(st,
      Predicate("d", ">", big)), "exclusive bound above max must prune")
  }

  test("REORG APPLY (PURGE) rewrites exactly the DV files and drops their DVs") {
    import spark.implicits._
    val path = tmp()
    // 4 disjoint-range files; the delete hits ids 1..15 → files 1-2 gain
    // DVs, files 3-4 provably contain no match
    val df = (1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    GraftDelta.toDelta(df.repartitionByRange(4, col("id")), path)        // v0
    val del = GraftDelta.deleteWhereWithDv(spark, path,
      Seq(Seq(Predicate("id", "<=", 15L))))                              // v1
    assert(del.rewrittenFiles == 0 && del.affectedRows == 15)
    val log = DeltaLog.forTable(spark, path)
    val pre = log.snapshot(None)
    val (dvF, cleanF) = pre.activeFiles.partition(_.deletionVector.isDefined)
    assert(dvF.nonEmpty && cleanF.nonEmpty, s"${dvF.size} dv / ${cleanF.size}")

    val (before, after) = DeltaMaintenance.reorgPurge(spark, path)       // v2
    val post = log.snapshot(None)
    assert(before == pre.activeFiles.size && after == post.activeFiles.size,
      s"$before -> $after")
    assert(post.version == 2L)
    assert(post.activeFiles.forall(_.deletionVector.isEmpty))
    val postPaths = post.activeFiles.map(_.path).toSet
    assert(cleanF.forall(f => postPaths.contains(f.path)),
      "clean files must survive by identity")
    assert(dvF.forall(f => !postPaths.contains(f.path)),
      "every DV file must be replaced")
    // visible rows unchanged; the purge is copy-only: every add/remove
    // in the REORG commit carries dataChange=false
    assert(GraftDelta.readDelta(spark, path).as[(Long, String)].collect().sortBy(_._1)
      .map(_._1).toSeq == (16L to 40L))
    val hist = GraftDelta.readDeltaHistory(spark, path, Some(1)).collect().head
    assert(hist.getAs[String]("operation") == "REORG")
    assert(log.readCommitActions(2L).forall {
      case a: AddFile => !a.dataChange
      case r: RemoveFile => !r.dataChange
      case _ => true
    }, "copy-only purge must commit with dataChange=false")

    // idempotent: nothing left to purge → no-op, no new commit
    val (b2, a2) = DeltaMaintenance.reorgPurge(spark, path)
    assert(b2 == a2 && log.snapshot(None).version == 2L)
  }

  test("REORG WHERE purges only the matching partition") {
    import spark.implicits._
    val path = tmp()
    val df = (1 to 40).map(i => (i.toLong, (i % 2).toLong, s"v$i")).toDF("id", "p", "v")
    GraftDelta.toDelta(df.repartition(2), path, partitionBy = Seq("p"))  // v0
    GraftDelta.deleteWhereWithDv(spark, path,
      Seq(Seq(Predicate("id", "<=", 10L))))                              // v1 (DVs in both partitions)
    val log = DeltaLog.forTable(spark, path)
    val pre = log.snapshot(None)
    assert(pre.activeFiles.count(_.deletionVector.isDefined) >= 2)

    val res = graft.sql.GraftSql.sql(spark,
      s"REORG TABLE delta.`$path` WHERE p = 0 APPLY (PURGE)").collect().head
    assert(res.getAs[String]("operation") == "REORG")
    val post = log.snapshot(None)
    // p=0 purged; p=1 still carries its DV (out of scope)
    assert(post.activeFiles.filter(_.partitionValues.get("p").contains("0"))
      .forall(_.deletionVector.isEmpty), "scoped partition must be purged")
    assert(post.activeFiles.filter(_.partitionValues.get("p").contains("1"))
      .exists(_.deletionVector.isDefined), "out-of-scope partition untouched")
    // rows still correct through the mixed DV/purged snapshot
    assert(GraftDelta.readDelta(spark, path).count() == 30)
  }
}
