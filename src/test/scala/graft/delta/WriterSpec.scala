package graft.delta

import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Write-path pins mirroring tests/test_writer.py plus the protocol
  * guards of writer.py:233-259 and overwrite/checkpoint semantics. */
class WriterSpec extends GraftSuite {

  private def tmp(): String = {
    val d = Files.createTempDirectory("graft_w")
    d.toFile.deleteOnExit()
    s"$d/tbl"
  }

  private def sample = {
    import spark.implicits._
    (0 until 100).map(i => (i.toLong, i * 1.5, s"name_$i")).toDF("ints", "floats", "strings")
  }

  test("delta.dataSkippingNumIndexedCols bounds per-file stats to the leading columns") {
    import spark.implicits._
    def wideFrame = {
      val base = (1 to 10).map(i => i.toLong).toDF("c0")
      (1 until 40).foldLeft(base)((d, i) => d.withColumn(s"c$i", col("c0") + i))
    }
    // default: the first 32 schema columns harvest stats, the rest none
    val p1 = tmp()
    GraftDelta.toDelta(wideFrame.coalesce(1), p1)
    val s1 = DeltaLog.forTable(spark, p1).snapshot(None).activeFiles.head.stats.get
    assert(s1.contains("\"c31\":") && !s1.contains("\"c32\":"),
      s"default must stop at 32 leading columns: $s1")
    assert(s1.contains("\"numRecords\":10"))
    // explicit property: only the first 3
    val p2 = tmp()
    GraftDelta.toDelta(wideFrame.coalesce(1), p2,
      configuration = Map("delta.dataSkippingNumIndexedCols" -> "3"))
    val s2 = DeltaLog.forTable(spark, p2).snapshot(None).activeFiles.head.stats.get
    assert(s2.contains("\"c2\":") && !s2.contains("\"c3\":"), s2)
    // -1 = every column
    val p3 = tmp()
    GraftDelta.toDelta(wideFrame.coalesce(1), p3,
      configuration = Map("delta.dataSkippingNumIndexedCols" -> "-1"))
    val s3 = DeltaLog.forTable(spark, p3).snapshot(None).activeFiles.head.stats.get
    assert(s3.contains("\"c39\":"), s3)
    // appends to the property-carrying table keep honoring it
    GraftDelta.toDelta(wideFrame.coalesce(1), p2, mode = "append")
    val s2b = DeltaLog.forTable(spark, p2).snapshot(None).activeFiles
      .flatMap(_.stats).mkString
    assert(!s2b.contains("\"c3\":"), "append must honor the stored property")
  }

  test("the stats bound counts LEAF columns (nested structs consume per leaf)") {
    import org.apache.spark.sql.types._
    val inner = StructType(Seq(
      StructField("x", LongType), StructField("y", LongType), StructField("z", LongType)))
    val schema = StructType(Seq(
      StructField("a", LongType),        // 1 leaf  (budget 4 -> 3)
      StructField("s", inner),           // 3 leaves (budget 3 -> 0)
      StructField("b", LongType),        // over budget
      StructField("c", LongType)))
    val bounded = DeltaWrite.statsSchemaOf(schema, Nil,
      Map("delta.dataSkippingNumIndexedCols" -> "4"))
    assert(bounded.fieldNames.toSeq == Seq("a", "s"), bounded.fieldNames.toSeq)
    // a struct that CROSSES the boundary is excluded whole (no partial
    // truncation — harvest is per top-level column), and later scalars
    // never leapfrog it
    val tight = DeltaWrite.statsSchemaOf(schema, Nil,
      Map("delta.dataSkippingNumIndexedCols" -> "3"))
    assert(tight.fieldNames.toSeq == Seq("a"), tight.fieldNames.toSeq)
    // -1 keeps everything; partition columns still consume budget
    assert(DeltaWrite.statsSchemaOf(schema, Nil,
      Map("delta.dataSkippingNumIndexedCols" -> "-1")).fields.length == 4)
    assert(DeltaWrite.statsSchemaOf(schema, Seq("a"),
      Map("delta.dataSkippingNumIndexedCols" -> "4")).fieldNames.toSeq == Seq("s"))
  }

  test("roundtrip: commit 0 exists and data reads back (test_writer.py:19-27)") {
    val path = tmp()
    GraftDelta.toDelta(sample, path)
    assert(new java.io.File(s"$path/_delta_log/${"0" * 20}.json").exists())
    val out = GraftDelta.readDelta(spark, path)
    assert(out.count() == 100)
    assert(out.columns.sorted.toSeq == Seq("floats", "ints", "strings"))
    assert(out.agg(sum("ints")).head().getLong(0) == (0 until 100).sum)
  }

  test("append accumulates, versions pin (writer.py mode=append)") {
    val path = tmp()
    GraftDelta.toDelta(sample, path)
    GraftDelta.toDelta(sample, path, mode = "append")
    assert(GraftDelta.readDelta(spark, path).count() == 200)
    assert(GraftDelta.readDelta(spark, path, version = Some(0)).count() == 100)
  }

  test("overwrite tombstones prior files (protocol-correct remove+add)") {
    val path = tmp()
    GraftDelta.toDelta(sample, path)
    GraftDelta.toDelta(sample.limit(10), path, mode = "overwrite")
    assert(GraftDelta.readDelta(spark, path).count() == 10)
    assert(GraftDelta.readDelta(spark, path, version = Some(0)).count() == 100)
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    assert(snap.tombstones.nonEmpty)
  }

  test("mode=error refuses, mode=ignore no-ops (writer.py:244-247)") {
    val path = tmp()
    GraftDelta.toDelta(sample, path)
    intercept[IllegalStateException] { GraftDelta.toDelta(sample, path) }
    GraftDelta.toDelta(sample, path, mode = "ignore")
    assert(GraftDelta.readDelta(spark, path).count() == 100)
  }

  test("schema mismatch refused unless overwriteSchema (writer.py:236-242)") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(sample, path)
    val other = Seq((1, "x")).toDF("a", "b")
    intercept[IllegalArgumentException] {
      GraftDelta.toDelta(other, path, mode = "append")
    }
    GraftDelta.toDelta(other, path, mode = "overwrite", overwriteSchema = true)
    assert(GraftDelta.readDelta(spark, path).columns.sorted.toSeq == Seq("a", "b"))
  }

  test("partitioned write records partitionValues; null partition sentinel") {
    import spark.implicits._
    val path = tmp()
    val df = Seq((1L, "a"), (2L, "b"), (3L, null.asInstanceOf[String]))
      .toDF("v", "k")
    GraftDelta.toDelta(df, path, partitionBy = Seq("k"))
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    assert(snap.partitionColumns == Seq("k"))
    val pvs = snap.activeFiles.map(_.partitionValues("k")).toSet
    assert(pvs == Set("a", "b", null))
    val out = GraftDelta.readDelta(spark, path)
    assert(out.count() == 3)
    assert(out.filter(col("k").isNull).select("v").head().getLong(0) == 3L)
    // partition pruning on our own table
    val pruned = DeltaRead.prunedFiles(snap, Seq(Seq(Predicate("k", "==", "a"))))
    assert(pruned.size == 1 && pruned.head.partitionValues("k") == "a")
  }

  test("date-typed partition values filter with Date/LocalDate/string operands") {
    import spark.implicits._
    val path = tmp()
    val df = Seq(
      (1L, java.sql.Date.valueOf("2024-01-01")),
      (2L, java.sql.Date.valueOf("2024-02-01")),
      (3L, java.sql.Date.valueOf("2024-03-01"))).toDF("v", "d")
    GraftDelta.toDelta(df, path, partitionBy = Seq("d"))
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    def prune(value: Any, op: String = ">") =
      DeltaRead.prunedFiles(snap, Seq(Seq(Predicate("d", op, value))))
    assert(prune(java.sql.Date.valueOf("2024-01-15")).size == 2)
    assert(prune(java.time.LocalDate.parse("2024-02-15")).size == 1)
    assert(prune("2024-01-01", "==").size == 1)
    val out = GraftDelta.readDelta(spark, path,
      filters = Seq(Seq(Predicate("d", ">", java.sql.Date.valueOf("2024-01-15")))))
    assert(out.select("v").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
  }

  test("partition-column mismatch refused (writer.py:251-252)") {
    val path = tmp()
    GraftDelta.toDelta(sample, path, partitionBy = Seq("strings"))
    intercept[IllegalArgumentException] {
      GraftDelta.toDelta(sample, path, mode = "append", partitionBy = Seq("ints"))
    }
  }

  test("per-file stats harvested from footers (writer.py:99-117)") {
    val path = tmp()
    GraftDelta.toDelta(sample, path)
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    val statsJson = snap.activeFiles.flatMap(_.stats)
    assert(statsJson.nonEmpty)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(statsJson.head)
    assert(node.has("numRecords") && node.has("minValues") && node.has("maxValues")
      && node.has("nullCount"))
    val total = snap.activeFiles.flatMap(_.stats).map(s =>
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(s).get("numRecords").asLong()).sum
    assert(total == 100)
  }

  test("above DistributedMoveThreshold staged files move and stat in one Spark job") {
    val path = tmp()
    val n = DeltaWrite.DistributedMoveThreshold + 8
    GraftDelta.toDelta(spark.range(0, 20L * n).toDF().repartition(n, col("id")), path)
    val adds = DeltaLog.forTable(spark, path).snapshot(None).activeFiles
    assert(adds.size == n, s"${adds.size} files")
    assert(adds.map(_.path).distinct.size == n && adds.forall(_.path.startsWith("part-00000-")))
    val rows = adds.map(a => StatsPruning.parse(a.stats).flatMap(_.numRecords))
    assert(rows.forall(_.isDefined) && rows.flatten.sum == 20L * n, rows)
    assert(adds.forall(a => a.size == new java.io.File(s"$path/${a.path}").length()))
    assert(GraftDelta.readDelta(spark, path).count() == 20L * n)
    assert(!TestBase.tableTree(path).exists(_.startsWith(".graft_")))
  }

  test("failed write leaves no staging dir and no orphan data files") {
    import org.apache.spark.sql.functions.udf
    val path = tmp()
    GraftDelta.toDelta(sample, path)
    val before = new java.io.File(path).listFiles().map(_.getName).toSet
    // a dataset that explodes mid-job: the staging dir exists by then and
    // must be torn down on the way out
    val boom = udf((i: Long) => { if (i >= 0) throw new RuntimeException("boom"); i })
    intercept[Exception] {
      GraftDelta.toDelta(sample.withColumn("ints", boom(col("ints"))), path,
        mode = "append")
    }
    val after = new java.io.File(path).listFiles().map(_.getName).toSet
    assert(!after.exists(_.startsWith(".graft_staging")), s"staging leaked: $after")
    assert(after == before, s"orphans: ${after -- before}")
    // the table still reads at its pre-failure version
    assert(GraftDelta.readDelta(spark, path).count() == 100)
  }

  test("checkpoint write bounds replay: commits before it can be deleted") {
    val path = tmp()
    (0 until 7).foreach { i =>
      GraftDelta.toDelta(sample.limit(10), path,
        mode = if (i == 0) "error" else "append", checkpointInterval = 3)
    }
    val log = DeltaLog.forTable(spark, path)
    assert(log.listCheckpointVersions == Seq(3L, 6L))
    (0L to 5L).foreach(v => log.fs.delete(log.commitFile(v), false))
    DeltaLog.clearCache() // cold checkpoint replay, not a cache hit
    assert(GraftDelta.readDelta(spark, path).count() == 70)
  }

  test("our checkpoint round-trips through our reader after more appends") {
    val path = tmp()
    (0 until 4).foreach { i =>
      GraftDelta.toDelta(sample.limit(5), path,
        mode = if (i == 0) "error" else "append", checkpointInterval = 3)
    }
    // snapshot at checkpoint version itself
    assert(GraftDelta.readDelta(spark, path, version = Some(3)).count() == 20)
  }

  test("history of our own writes reports operations and metrics") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(sample.repartition(1), path)
    GraftDelta.toDelta(sample.repartition(1), path, mode = "append")
    val h = GraftDelta.readDeltaHistory(spark, path).collect()
    assert(h.length == 2)
    assert(h.map(_.getString(1)).toSeq == Seq("WRITE", "CREATE TABLE AS SELECT"))
    assert(h.head.getString(3) == "1") // numFiles of the append
    assert(h.head.getString(5) == "100") // numOutputRows
  }

  test("concurrent commit loses the race cleanly") {
    val path = tmp()
    GraftDelta.toDelta(sample, path)
    val log = DeltaLog.forTable(spark, path)
    // simulate a racing writer that already claimed version 1
    log.writeCommit(1L, Seq(CommitInfo(System.currentTimeMillis(), "WRITE")))
    intercept[java.util.ConcurrentModificationException] {
      log.writeCommit(1L, Seq(CommitInfo(System.currentTimeMillis(), "WRITE")))
    }
  }

  test("writer-version protocol gate (writer.py:254-259)") {
    val path = tmp()
    GraftDelta.toDelta(sample, path)
    val log = DeltaLog.forTable(spark, path)
    // version 8 doesn't exist in the spec — far above anything supported
    log.writeCommit(1L, Seq(Protocol(1, 8)))
    intercept[IllegalStateException] {
      GraftDelta.toDelta(sample, path, mode = "append")
    }
  }

  test("generated-column metadata is HONORED on writes (v4 obligation)") {
    import org.apache.spark.sql.types._
    val path = tmp()
    GraftDelta.toDelta(sample, path)
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    // a foreign writer stamps ints with a generation expression
    val schema = StructType(snap.schema.fields.map { f =>
      if (f.name == "ints")
        f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putString("delta.generationExpression", "CAST(floats / 1.5 AS BIGINT)").build())
      else f
    })
    log.writeCommit(1L, Seq(Protocol(1, 4),
      snap.metadata.copy(schemaString = schema.json)))
    // provided-and-consistent values append cleanly (sample satisfies
    // ints = floats/1.5 by construction)...
    GraftDelta.toDelta(sample, path, mode = "append")
    // ...inconsistent ones fail the in-flight validation (r5: the
    // obligation is computed/validated, no longer a refusal)...
    import spark.implicits._
    intercept[Exception] {
      GraftDelta.toDelta(Seq((999L, 1.5, "x")).toDF("ints", "floats", "strings"),
        path, mode = "append")
    }
    // ...and an absent generated column is computed by the writer
    GraftDelta.toDelta(Seq((3.0, "computed")).toDF("floats", "strings"),
      path, mode = "append")
    val got = GraftDelta.readDelta(spark, path)
      .filter($"strings" === "computed").select($"ints").as[Long].collect()
    assert(got.toSeq == Seq(2L))
  }

  test("reader-version protocol gate: reader>=3 tables refuse to read") {
    val path = tmp()
    GraftDelta.toDelta(sample, path)
    val log = DeltaLog.forTable(spark, path)
    log.writeCommit(1L, Seq(Protocol(3, 7))) // e.g. deletion vectors
    val e = intercept[IllegalStateException] {
      GraftDelta.readDelta(spark, path).count()
    }
    assert(e.getMessage.contains("reader version"),
      s"must fail loudly, not misread: ${e.getMessage}")
    // pinned pre-upgrade versions still read fine
    assert(GraftDelta.readDelta(spark, path, version = Some(0L)).count() == sample.count())
    // reader 2 WITHOUT column mapping is plain data — reads fine now
    val path2 = tmp()
    GraftDelta.toDelta(sample, path2)
    DeltaLog.forTable(spark, path2).writeCommit(1L, Seq(Protocol(2, 2)))
    assert(GraftDelta.readDelta(spark, path2).count() == sample.count())
  }

  test("timestamp travel on our own commits") {
    val path = tmp()
    GraftDelta.toDelta(sample.limit(10), path)
    Thread.sleep(20)
    GraftDelta.toDelta(sample.limit(10), path, mode = "append")
    val ts0 = DeltaLog.forTable(spark, path).commitTimestamps.head._2
    val df = GraftDelta.readDelta(spark, path,
      timestamp = Some(java.time.Instant.ofEpochMilli(ts0).toString))
    assert(df.count() == 10)
  }

  test("vacuum's distributed delete branch removes tombstones via a Spark job") {
    val path = tmp()
    GraftDelta.toDelta(sample.repartition(4), path)
    GraftDelta.toDelta(sample.repartition(2), path, mode = "overwrite")
    // threshold 1 forces the executor-fan-out branch with 4 tombstones
    val gone = DeltaTableOps.vacuum(spark, path, retentionHours = -0.01,
      dryRun = false, distributedDeleteThreshold = 1)
    assert(gone.size == 4)
    def pq(): Int = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(pq() == 2)
    assert(GraftDelta.readDelta(spark, path).count() == 100)
  }

  test("vacuum our own overwrite tombstones") {
    val path = tmp()
    GraftDelta.toDelta(sample.repartition(2), path)
    GraftDelta.toDelta(sample.repartition(3), path, mode = "overwrite")
    assert(GraftDelta.vacuum(spark, path, retentionHours = -0.01, dryRun = true).size == 2)
    GraftDelta.vacuum(spark, path, retentionHours = -0.01, dryRun = false)
    def pq(): Int = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(pq() == 3)
    assert(GraftDelta.readDelta(spark, path).count() == 100)
  }

  test("autoOptimize.optimizeWrite coalesces staged files; absent property is inert (VERDICT r15 #3)") {
    import spark.implicits._
    val df = (0 until 200).map(i => (i.toLong, s"v_$i")).toDF("k", "v")
    // property OFF: a 12-task plan lands 12 files — the writer must not
    // reshape anything unasked
    val plain = tmp()
    GraftDelta.toDelta(df.repartition(12), plain)
    assert(DeltaLog.forTable(spark, plain).snapshot(None).activeFiles.size == 12)
    // property ON at create: same plan lands ONE coalesced file, and
    // appends inherit the stored property without the caller re-passing it
    val opt = tmp()
    GraftDelta.toDelta(df.repartition(12), opt,
      configuration = Map("delta.autoOptimize.optimizeWrite" -> "true"))
    assert(DeltaLog.forTable(spark, opt).snapshot(None).activeFiles.size == 1)
    GraftDelta.toDelta(df.repartition(9), opt, mode = "append")
    assert(DeltaLog.forTable(spark, opt).snapshot(None).activeFiles.size == 2,
      "append must inherit optimizeWrite from stored table properties")
    // content untouched by the reshaping
    assert(GraftDelta.readDelta(spark, opt).count() == 400)
    // partitioned table: the coalesce repartitions ON the partition
    // columns — one file per partition value, not per upstream task
    val part = tmp()
    GraftDelta.toDelta(
      df.withColumn("p", ($"k" % 3).cast("string")).repartition(12),
      part, partitionBy = Seq("p"),
      configuration = Map("delta.autoOptimize.optimizeWrite" -> "true"))
    val byPart = DeltaLog.forTable(spark, part).snapshot(None)
      .activeFiles.groupBy(_.partitionValues)
    assert(byPart.size == 3 && byPart.values.forall(_.size == 1),
      s"expected one file per partition value: ${byPart.view.mapValues(_.size).toMap}")
  }

  test("optimizeWrite under skew: a hot hive partition splits across files at the target size (VERDICT r16 #5)") {
    import spark.implicits._
    // 10:1-skewed partitioned frame with compression-resistant payloads
    // (concatenated hashes) so shuffle bytes track the real mass: the hot
    // partition 'h' carries ~20k rows × 256 chars, nine cold partitions
    // ~200 rows each; 16 upstream tasks give the skew-splitter its
    // map-side block boundaries
    val payload = concat((0 until 8).map(i => md5(concat($"k".cast("string"), lit(s"_$i")))): _*)
    val hot = spark.range(20000).select($"id".as("k"), lit("h").as("p"))
    val cold = spark.range(1800).select(($"id" + 100000L).as("k"),
      concat(lit("c"), ($"id" % 9).cast("string")).as("p"))
    val df = hot.union(cold).withColumn("v", payload).repartition(16)
    val path = tmp()
    GraftDelta.toDelta(df, path, partitionBy = Seq("p"),
      configuration = Map(
        "delta.autoOptimize.optimizeWrite" -> "true",
        // small target so the ~2-4 MB hot partition must split
        "delta.targetFileSize" -> "262144"))
    val byPart = DeltaLog.forTable(spark, path).snapshot(None)
      .activeFiles.groupBy(_.partitionValues.get("p").flatMap(Option(_)))
    val hotFiles = byPart(Some("h"))
    assert(hotFiles.size >= 3,
      s"hot partition must split across tasks, got ${hotFiles.size} file(s)")
    // the splits are BALANCED bins, not one giant file + slivers (the
    // absolute parquet size differs from the shuffle-byte advisory by the
    // codec ratio, so balance is the stable pin)
    val hotSizes = hotFiles.map(_.size)
    assert(hotSizes.max <= 2 * hotSizes.min,
      s"hot files should be near-equal bins: ${hotSizes.sorted.reverse}")
    // cold partitions stay coalesced — rebalance must not shard them
    byPart.filterNot(_._1.contains("h")).foreach { case (p, fs) =>
      assert(fs.size <= 2, s"cold partition $p sharded into ${fs.size} files")
    }
    // content is untouched by the reshaping
    assert(GraftDelta.readDelta(spark, path).count() == 21800)
    assert(GraftDelta.readDelta(spark, path).agg(sum($"k")).head().getLong(0) ==
      (0L until 20000L).sum + (100000L until 101800L).sum)
  }

  test("autoOptimize.autoCompact compacts past minNumFiles with dataChange=false; off stays inert") {
    import spark.implicits._
    val df = (0 until 50).map(i => (i.toLong, s"v_$i")).toDF("k", "v")
    spark.conf.set("spark.graft.autoCompact.minNumFiles", "3")
    try {
      // OFF: small files accrete freely
      val plain = tmp()
      (0 until 4).foreach(i => GraftDelta.toDelta(df.filter($"k" % 4 === i),
        plain, mode = if (i == 0) "error" else "append"))
      assert(DeltaLog.forTable(spark, plain).snapshot(None).activeFiles.size >= 4)
      // ON: crossing minNumFiles triggers a dataChange=false OPTIMIZE
      val auto = tmp()
      (0 until 4).foreach(i => GraftDelta.toDelta(
        df.filter($"k" % 4 === i).coalesce(1), auto,
        mode = if (i == 0) "error" else "append",
        configuration = if (i == 0)
          Map("delta.autoOptimize.autoCompact" -> "true") else Map.empty))
      val log = DeltaLog.forTable(spark, auto)
      assert(log.snapshot(None).activeFiles.size < 4,
        "autoCompact must have compacted the accreted small files")
      val hist = DeltaTableOps.history(spark, auto)
        .select("operation").collect().map(_.getString(0))
      assert(hist.contains("OPTIMIZE"), hist.mkString(", "))
      // rows survive the compaction exactly
      assert(GraftDelta.readDelta(spark, auto).count() == 50)
    } finally spark.conf.unset("spark.graft.autoCompact.minNumFiles")
  }

  test("autoCompact triggers after DML too (MERGE inserts cross the threshold)") {
    import spark.implicits._
    spark.conf.set("spark.graft.autoCompact.minNumFiles", "4")
    try {
      val p = tmp()
      val base = (0 until 20).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      GraftDelta.toDelta(base.coalesce(1), p,
        configuration = Map("delta.autoOptimize.autoCompact" -> "true"))
      // an 8-task insert-only MERGE lands many small files, crossing
      // minNumFiles — the post-DML hook must compact them
      val src = (100 until 140).map(i => (i.toLong, s"n$i")).toDF("k", "v").repartition(8)
      GraftDelta.mergeInto(spark, p, src, on = Seq("k"))
      val log = DeltaLog.forTable(spark, p)
      assert(log.snapshot(None).activeFiles.size <= 2,
        s"post-MERGE autoCompact must collapse the inserts: " +
          s"${log.snapshot(None).activeFiles.size} files")
      val hist = DeltaTableOps.history(spark, p)
        .select("operation").collect().map(_.getString(0))
      assert(hist.contains("OPTIMIZE") && hist.contains("MERGE"), hist.mkString(", "))
      assert(GraftDelta.readDelta(spark, p).count() == 60)
    } finally spark.conf.unset("spark.graft.autoCompact.minNumFiles")
  }

  test("replaceWhere overwrites only the matching partitions' files") {
    import spark.implicits._
    val path = tmp()
    val df = (0 until 100).map(i => (i.toLong, (i % 4).toLong)).toDF("id", "p")
    GraftDelta.toDelta(df, path, partitionBy = Seq("p"))
    def logFiles(pv: String => Boolean): Set[String] =
      DeltaLog.forTable(spark, path).snapshot(None).activeFiles
        .filter(f => pv(f.partitionValues("p"))).map(_.path).toSet
    val untouchedBefore = logFiles(_ != "1")
    val p1Before = logFiles(_ == "1")
    GraftDelta.toDelta(
      (1000 until 1010).map(i => (i.toLong, 1L)).toDF("id", "p"),
      path, mode = "overwrite",
      replaceWhere = Seq(Seq(Predicate("p", "==", 1L))))
    val after = GraftDelta.readDelta(spark, path)
    // partition 1 fully replaced, others byte-identical (same log files)
    assert(after.filter($"p" === 1L).select("id").collect().map(_.getLong(0)).toSet ==
      (1000L until 1010L).toSet)
    assert(after.filter($"p" =!= 1L).count() == 75)
    assert(logFiles(_ != "1") == untouchedBefore,
      "untouched partitions must keep their exact files")
    assert(logFiles(_ == "1").intersect(p1Before).isEmpty,
      "replaced partition must carry only new files")
    // out-of-predicate rows fail BEFORE any commit
    val v = DeltaLog.forTable(spark, path).latestVersion
    intercept[Exception] {
      GraftDelta.toDelta(Seq((1L, 2L)).toDF("id", "p"), path, mode = "overwrite",
        replaceWhere = Seq(Seq(Predicate("p", "==", 1L))))
    }
    assert(DeltaLog.forTable(spark, path).latestVersion == v)
    // non-partition predicate columns are refused loudly
    intercept[IllegalArgumentException] {
      GraftDelta.toDelta(Seq((1L, 1L)).toDF("id", "p"), path, mode = "overwrite",
        replaceWhere = Seq(Seq(Predicate("id", ">", 0L))))
    }
  }

  test("convertToDelta adopts a parquet dir in place with stats-backed skipping") {
    import spark.implicits._
    val path = tmp()
    (0 until 1000).map(i => (i.toLong, s"p${i % 4}", i * 2.0)).toDF("id", "part", "v")
      .repartition(2, $"id")
      .write.partitionBy("part").parquet(path)
    val res = GraftDelta.convertToDelta(spark, path)
    assert(res.partitionColumns == Seq("part"))
    assert(res.numFiles == 8) // 4 partitions x 2 files
    val all = GraftDelta.readDelta(spark, path)
    assert(all.count() == 1000)
    assert(all.schema.fieldNames.toSet == Set("id", "part", "v"))
    // partition pruning through the converted log
    val pruned = DeltaRead.load(spark, path,
      filters = Seq(Seq(Predicate("part", "==", "p1"))))
    assert(pruned.count() == 250 && pruned.inputFiles.length == 2,
      s"partition pruning: ${pruned.inputFiles.length} files")
    // data skipping through harvested footer stats: id is clustered by
    // repartition(2) only per value-range? use v: every file spans most
    // values, so pin instead that stats exist on every add
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    assert(snap.activeFiles.forall(_.stats.exists(_.contains("numRecords"))),
      "every converted file must carry footer stats")
    // in-place: converting again refuses; the original files are intact
    intercept[IllegalArgumentException] {
      GraftDelta.convertToDelta(spark, path)
    }
    // and the table behaves like any delta table afterwards (append works;
    // discovery orders partition columns last, so the table schema is
    // (id, v, part))
    GraftDelta.toDelta(Seq((5000L, 1.0, "p0")).toDF("id", "v", "part"),
      path, mode = "append")
    assert(GraftDelta.readDelta(spark, path).count() == 1001)
  }

  /** NOT NULL schema fields (the invariants feature's other obligation)
    * refuse null rows on append — and the check folds away when the
    * incoming frame is provably non-null. Nested NOT NULL is vacuous
    * while the parent struct itself is null. */
  test("nullable=false columns reject null rows on write; nested guarded by parent") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val path = tmp()
    // our own creates normalize to nullable (incidental toDF tightness
    // must not freeze into the table contract) — a NOT NULL column comes
    // from a FOREIGN writer's DDL; stage one via a raw metadata commit
    GraftDelta.toDelta((1L to 5L).map(i => (i, s"v$i")).toDF("k", "v"), path)
    val log = DeltaLog.forTable(spark, path)
    val snap0 = log.snapshot(None)
    val notNullSchema = StructType(snap0.schema.fields.map(f =>
      if (f.name == "k") f.copy(nullable = false) else f))
    log.writeCommit(snap0.version + 1, Seq(
      CommitInfo(System.currentTimeMillis(), "SET NOT NULL"),
      snap0.metadata.copy(schemaString = notNullSchema.json)))
    val declared = log.snapshot(None).schema("k").nullable
    assert(!declared, "staged schema must declare k non-nullable for this pin")
    // nullable incoming frame with an actual null k: refused in-flight
    val nullK = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(null, "x")),
      StructType(Seq(StructField("k", LongType, nullable = true),
        StructField("v", StringType, nullable = true))))
    val e = intercept[Exception] {
      GraftDelta.toDelta(nullK, path, mode = "append")
    }
    assert(e.getMessage.toLowerCase.contains("notnull") ||
      Option(e.getCause).exists(_.getMessage.toLowerCase.contains("notnull")),
      s"${e.getMessage} / ${Option(e.getCause).map(_.getMessage)}")
    assert(GraftDelta.readDelta(spark, path).count() == 5L, "failed write must not commit")
    // non-null rows through the SAME nullable frame land fine
    val okK = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(6L: java.lang.Long, "x")),
      nullK.schema)
    GraftDelta.toDelta(okK, path, mode = "append")
    assert(GraftDelta.readDelta(spark, path).count() == 6L)
    // nested: inner NOT NULL (foreign-staged) is vacuous when the
    // nullable parent struct is itself null
    val nestedPath = tmp()
    val relaxed = StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("s", StructType(Seq(
        StructField("a", LongType, nullable = true))), nullable = true)))
    val seedRows = java.util.List.of(
      org.apache.spark.sql.Row(1L: java.lang.Long, org.apache.spark.sql.Row(7L: java.lang.Long)))
    GraftDelta.toDelta(spark.createDataFrame(seedRows, relaxed), nestedPath)
    val nlog = DeltaLog.forTable(spark, nestedPath)
    val nsnap = nlog.snapshot(None)
    val innerNotNull = StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("s", StructType(Seq(
        StructField("a", LongType, nullable = false))), nullable = true)))
    nlog.writeCommit(nsnap.version + 1, Seq(
      CommitInfo(System.currentTimeMillis(), "SET NOT NULL"),
      nsnap.metadata.copy(schemaString = innerNotNull.json)))
    // parent-null row: inner NOT NULL is vacuous, append lands
    GraftDelta.toDelta(spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(2L: java.lang.Long, null)), relaxed),
      nestedPath, mode = "append")
    assert(GraftDelta.readDelta(spark, nestedPath).count() == 2L)
    // present parent with a null inner field refuses
    intercept[Exception] {
      GraftDelta.toDelta(spark.createDataFrame(
        java.util.List.of(
          org.apache.spark.sql.Row(3L: java.lang.Long, org.apache.spark.sql.Row(null))),
        relaxed), nestedPath, mode = "append")
    }
    assert(GraftDelta.readDelta(spark, nestedPath).count() == 2L)
  }
}
