package graft.delta

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files

/** Column-mapping (reader protocol 2, `delta.columnMapping.mode=name`)
  * pins against hand-crafted foreign tables: parquet files carry
  * physical `col-<tag>` names at every nesting level, the log carries
  * the logical schema with physicalName field metadata, and
  * partitionValues / hive dirs are physical-keyed. Reads must surface
  * logical names and values; every data-writing surface must refuse
  * loudly (it would emit logical names and corrupt the table); `id`
  * mode and reader ≥ 3 must refuse. */
class ColumnMappingSpec extends GraftSuite {

  private def tmp(): String = {
    val d = Files.createTempDirectory("graft_cm")
    d.toFile.deleteOnExit()
    s"$d/tbl"
  }

  import ColumnMappingSpec.mappedField

  /** Hand-craft an UNPARTITIONED mapped table: 2 data files with
    * physical names, one nested struct whose inner field is mapped too. */
  private def stageUnpartitioned(): String = {
    import spark.implicits._
    val path = tmp()
    val physInner = StructType(Seq(StructField("col-i1", LongType)))
    val phys = spark.createDataFrame(
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
        .toDF("k", "v", "i").rdd.map(r =>
          org.apache.spark.sql.Row(r.getLong(0), r.getString(1),
            org.apache.spark.sql.Row(r.getLong(2)))),
      StructType(Seq(
        StructField("col-k1", LongType), StructField("col-v2", StringType),
        StructField("col-s3", physInner))))
    phys.coalesce(1).write.parquet(s"$path/data")
    val file = new java.io.File(s"$path/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val logicalInner = StructType(Seq(
      mappedField("inner", "col-i1", LongType, 4)))
    val logical = StructType(Seq(
      mappedField("key", "col-k1", LongType, 1),
      mappedField("value", "col-v2", StringType, 2),
      mappedField("nested", "col-s3", logicalInner, 3)))
    val log = DeltaLog.forTable(spark, path)
    log.writeCommit(0L, Seq(
      CommitInfo(System.currentTimeMillis(), "CREATE"),
      Protocol(2, 5),
      MetadataAction(id = "cm-test-1", schemaString = logical.json,
        configuration = Map("delta.columnMapping.mode" -> "name",
          "delta.columnMapping.maxColumnId" -> "4")),
      AddFile(path = s"data/${file.getName}", size = file.length(),
        modificationTime = file.lastModified(), dataChange = true)))
    path
  }

  /** Hand-craft a PARTITIONED mapped table: hive dirs + partitionValues
    * keyed by the PHYSICAL partition name, partitionColumns logical. */
  private def stagePartitioned(): String = ColumnMappingSpec.stagePartitioned(spark, tmp())

  test("mapped read surfaces logical names and values, nested included") {
    val path = stageUnpartitioned()
    val df = GraftDelta.readDelta(spark, path)
    assert(df.columns.toSeq == Seq("key", "value", "nested"))
    assert(df.schema("nested").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("inner"))
    val rows = df.selectExpr("key", "value", "nested.inner")
      .orderBy("key").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))
  }

  test("mapped partitioned read attaches logical partition values; log-level pruning prunes") {
    val path = stagePartitioned()
    val df = GraftDelta.readDelta(spark, path).orderBy("key")
    assert(df.columns.toSeq == Seq("key", "value", "lang"))
    assert(df.select("key", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "en"), (2L, "en"), (3L, "de")))
    // partition predicate on the LOGICAL name prunes at the log level:
    // only the en file is planned
    val pruned = DeltaRead.load(spark, path,
      filters = Seq(Seq(Predicate("lang", "==", "en"))))
    assert(pruned.count() == 2)
    assert(pruned.inputFiles.length == 1,
      s"log-level pruning must plan 1 file, planned ${pruned.inputFiles.toSeq}")
  }

  test("rewriting surfaces refuse mapped tables; plain writes are mapped-aware") {
    import spark.implicits._
    val path = stageUnpartitioned()
    // log-tail CDC reads the mapped files back to the logical schema
    val tail = graft.streaming.DeltaTail.changesSince(spark, path, -1L)
    assert(tail.data.columns.toSeq == Seq("key", "value", "nested"))
    assert(tail.data.count() == 3L)
    // schema-changing writes refuse (new columns would need fresh ids)
    intercept[IllegalStateException] {
      GraftDelta.toDelta(GraftDelta.readDelta(spark, path).withColumn("extra", lit(1)),
        path, mode = "append", mergeSchema = true)
    }
    // creating a mapped table directly refuses (fields would lack ids)
    intercept[IllegalStateException] {
      GraftDelta.toDelta(Seq((1L, "x")).toDF("k", "v"), tmp(),
        configuration = Map("delta.columnMapping.mode" -> "name"))
    }
  }

  test("append to a foreign name-mode table writes physical names, nested included") {
    import spark.implicits._
    val path = stageUnpartitioned()
    val add = GraftDelta.readDelta(spark, path)
      .filter($"key" === 1L)
      .withColumn("key", $"key" + 100L) // (101, "a", {110}) with nested struct
      .withColumn("nested", struct(($"nested.inner" + 100L).as("inner")))
    GraftDelta.toDelta(add, path, mode = "append")

    val df = GraftDelta.readDelta(spark, path)
    assert(df.count() == 4)
    assert(df.filter($"key" === 101L).selectExpr("nested.inner")
      .as[Long].head() == 110L)
    // the staged file itself carries PHYSICAL names at both levels
    val newAdd = DeltaLog.forTable(spark, path).snapshot(None)
      .activeFiles.sortBy(_.modificationTime).last
    val raw = spark.read.parquet(s"$path/${newAdd.path}")
    assert(raw.columns.toSeq == Seq("col-k1", "col-v2", "col-s3"), raw.columns.toSeq)
    assert(raw.schema("col-s3").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("col-i1"))
    // stats harvested from the physical footer still prune logically
    val pruned = DeltaRead.load(spark, path,
      filters = Seq(Seq(Predicate("key", ">", 100L))))
    assert(pruned.count() == 1)
  }

  test("DML on mapped tables: rewrite + DV flavors, merge, logical predicates") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(
      (1 to 20).map(i => (i.toLong, s"v$i", i * 10L)).toDF("k", "v", "w"), path)
    GraftDelta.enableColumnMapping(spark, path)
    GraftDelta.renameColumn(spark, path, "k", "id")

    // UPDATE with logical predicate + assignment on the renamed column
    val up = GraftDelta.updateWhere(spark, path,
      Seq(Seq(Predicate("id", "<=", 5L))), Map("v" -> lit("updated")))
    assert(up.affectedRows == 5L, s"$up")
    assert(GraftDelta.readDelta(spark, path).filter($"v" === "updated").count() == 5L)
    // rewritten files carry PHYSICAL names ("k" was the physical name of "id")
    val lastAdd = DeltaLog.forTable(spark, path).snapshot(None)
      .activeFiles.sortBy(_.modificationTime).last
    assert(spark.read.parquet(s"$path/${lastAdd.path}").columns.toSeq == Seq("k", "v", "w"))

    // DELETE
    val del = GraftDelta.deleteWhere(spark, path, Seq(Seq(Predicate("id", "<=", 3L))))
    assert(del.affectedRows == 3L, s"$del")
    assert(GraftDelta.readDelta(spark, path).count() == 17L)

    // MERGE upsert through the mapped path
    val src = Seq((10L, "merged", 0L), (100L, "inserted", 0L)).toDF("id", "v", "w")
    val m = GraftDelta.mergeInto(spark, path, src, Seq("id"))
    assert(m.matchedRows == 1L && m.insertedRows == 1L, s"$m")
    assert(GraftDelta.readDelta(spark, path).filter($"v" === "merged").count() == 1L)

    // DV DELETE: bitmap soft-delete on the mapped table; protocol grows
    // to table features enumerating the legacy writer-5 obligations
    val dv = GraftDelta.deleteWhereWithDv(spark, path, Seq(Seq(Predicate("id", "==", 7L))))
    assert(dv.affectedRows == 1L && dv.rewrittenFiles == 0, s"$dv")
    assert(GraftDelta.readDelta(spark, path).filter($"id" === 7L).count() == 0L)
    val p = DeltaLog.forTable(spark, path).snapshot(None).protocol
    assert(p.writerFeatures.get.toSet.intersect(
      Set("deletionVectors", "columnMapping", "checkConstraints", "changeDataFeed",
        "generatedColumns")).size == 5, s"$p")
  }

  test("partition-scoped DELETE on a mapped partitioned table drops files unread") {
    import spark.implicits._
    val path = stagePartitioned()
    val del = GraftDelta.deleteWhere(spark, path, Seq(Seq(Predicate("lang", "==", "en"))))
    assert(del.affectedRows == 2L && del.rewrittenFiles == 0, s"$del")
    val left = GraftDelta.readDelta(spark, path)
    assert(left.select($"key").as[Long].collect().toSeq == Seq(3L))
  }

  test("OPTIMIZE compacts name-mapped tables: physical files, logical sortBy, DV materialization") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1 to 4).map(i => (i.toLong, s"v$i")).toDF("k", "v"), path)
    GraftDelta.enableColumnMapping(spark, path)
    GraftDelta.renameColumn(spark, path, "k", "id")
    GraftDelta.toDelta(Seq((5L, "v5")).toDF("id", "v"), path, mode = "append")
    GraftDelta.toDelta(Seq((6L, "v6")).toDF("id", "v"), path, mode = "append")
    // a live DV: OPTIMIZE must materialize it away, not resurrect the row
    val dv = GraftDelta.deleteWhereWithDv(spark, path, Seq(Seq(Predicate("id", "==", 2L))))
    assert(dv.affectedRows == 1L && dv.rewrittenFiles == 0, s"$dv")
    val before = GraftDelta.readDelta(spark, path).orderBy("id").collect().toSeq

    val (nBefore, nAfter) = DeltaMaintenance.compact(spark, path, sortBy = Seq("id"))
    assert(nAfter < nBefore, s"$nBefore -> $nAfter")
    assert(GraftDelta.readDelta(spark, path).orderBy("id").collect().toSeq == before)
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    assert(snap.activeFiles.forall(_.deletionVector.isEmpty), "DVs materialized away")
    // compacted files carry PHYSICAL names ("k" was the physical of "id")
    snap.activeFiles.foreach { a =>
      assert(spark.read.parquet(s"$path/${a.path}").columns.toSeq == Seq("k", "v"))
    }
    // stats harvested on physical footers still prune logically
    assert(DeltaRead.load(spark, path,
      filters = Seq(Seq(Predicate("id", ">=", 6L)))).count() == 1L)
  }

  test("OPTIMIZE on a partitioned mapped table keeps physical hive dirs and cold groups") {
    import spark.implicits._
    val path = stagePartitioned()
    // grow the en partition to 2 files via the mapped-aware append
    GraftDelta.toDelta(Seq((4L, "w", "en")).toDF("key", "value", "lang"), path,
      mode = "append")
    val deFile = DeltaLog.forTable(spark, path).snapshot(None)
      .activeFiles.filter(_.partitionValues.get("col-p9").contains("de")).map(_.path).toSet
    val (_, nAfter) = DeltaMaintenance.compact(spark, path)
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    assert(snap.activeFiles.size == nAfter)
    // en compacted into ONE file under the PHYSICAL dir; de kept its exact file
    val en = snap.activeFiles.filter(_.partitionValues.get("col-p9").contains("en"))
    assert(en.size == 1 && en.head.path.startsWith("col-p9=en/"), en.map(_.path))
    assert(snap.activeFiles.filter(_.partitionValues.get("col-p9").contains("de"))
      .map(_.path).toSet == deFile, "cold partition group untouched")
    val df = GraftDelta.readDelta(spark, path)
    assert(df.orderBy("key").select($"key", $"value", $"lang").as[(Long, String, String)]
      .collect().toSeq == Seq((1L, "x", "en"), (2L, "y", "en"), (3L, "z", "de"), (4L, "w", "en")))
  }

  test("OPTIMIZE WHERE on a mapped partition column compacts that partition only") {
    import spark.implicits._
    val path = stagePartitioned()
    GraftDelta.toDelta(Seq((4L, "w", "en")).toDF("key", "value", "lang"), path,
      mode = "append")
    val log = DeltaLog.forTable(spark, path)
    def files(lang: String): Seq[AddFile] =
      log.snapshot(None).activeFiles.filter(_.partitionValues.get("col-p9").contains(lang))
    val de = files("de")
    assert(files("en").size == 2)
    // partition values are logged under the physical name col-p9
    assert(DeltaMaintenance.compact(spark, path,
      where = Seq(Seq(Predicate("lang", "==", "en")))) == ((3, 2)))
    assert(files("en").size == 1, files("en").map(_.path))
    assert(files("de") == de, "the out-of-scope partition keeps its exact file")
    assert(GraftDelta.readDelta(spark, path).orderBy("key").select($"key").as[Long]
      .collect().toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("OPTIMIZE compacts id-mode tables; output readable by field id alone") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1 to 3).map(i => (i.toLong, s"v$i")).toDF("k", "v"), path)
    GraftDelta.enableColumnMapping(spark, path)
    val log = DeltaLog.forTable(spark, path)
    val snap0 = log.snapshot(None)
    log.writeCommit(snap0.version + 1, Seq(snap0.metadata.copy(
      configuration = snap0.metadata.configuration +
        ("delta.columnMapping.mode" -> "id"))))
    // overwrite so EVERY active file carries field ids (the id contract)
    GraftDelta.toDelta((1 to 3).map(i => (i.toLong, s"v$i")).toDF("k", "v"), path,
      mode = "overwrite")
    GraftDelta.toDelta(Seq((4L, "v4")).toDF("k", "v"), path, mode = "append")
    val before = GraftDelta.readDelta(spark, path).orderBy("k").collect().toSeq
    val (nBefore, nAfter) = DeltaMaintenance.compact(spark, path)
    assert(nAfter < nBefore, s"$nBefore -> $nAfter")
    assert(GraftDelta.readDelta(spark, path).orderBy("k").collect().toSeq == before)
    // the compacted footer binds by FIELD ID regardless of its on-disk names
    val add = DeltaLog.forTable(spark, path).snapshot(None).activeFiles.head
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    try {
      val idSchema = StructType(Seq(
        StructField("whatever", LongType, nullable = true,
          new MetadataBuilder().putLong("parquet.field.id", 1).build())))
      assert(spark.read.schema(idSchema).parquet(s"$path/${add.path}")
        .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    } finally spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "false")
  }

  test("change data feed composes with column mapping: physical cdc plane, logical feed") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1 to 10).map(i => (i.toLong, s"v$i", s"g${i % 2}"))
      .toDF("k", "v", "g"), path, partitionBy = Seq("g"),
      configuration = Map("delta.enableChangeDataFeed" -> "true"))          // v0
    GraftDelta.enableColumnMapping(spark, path)                             // v1
    GraftDelta.renameColumn(spark, path, "k", "id")                         // v2
    // rewrite DELETE records exact per-row cdc deletes; DV UPDATE records
    // pre/post images — both through the PHYSICAL cdc plane
    GraftDelta.deleteWhere(spark, path, Seq(Seq(Predicate("id", "<=", 2L))))  // v3
    GraftDelta.updateWhereWithDv(spark, path, Seq(Seq(Predicate("id", "==", 5L))),
      Map("v" -> lit("up")))                                                // v4
    // cdc files on disk carry PHYSICAL names + physical hive dirs
    val log = DeltaLog.forTable(spark, path)
    val cdc3 = log.readCommitActions(3L).collect { case c: AddCDCFile => c }
    assert(cdc3.nonEmpty)
    assert(cdc3.forall(_.partitionValues.keySet == Set("g")),
      cdc3.map(_.partitionValues).toString) // physicalName of g == "g" (upgrade identity)
    val raw = spark.read.parquet(s"$path/${cdc3.head.path}")
    assert(raw.columns.toSet == Set("k", "v", "_change_type"),
      s"physical data names + _change_type: ${raw.columns.toSeq}")
    // the feed surfaces the LOGICAL schema across pre- and post-mapping commits
    val feed = GraftDelta.tableChanges(spark, path, fromVersion = 2L)
      .select($"id", $"v", $"g", $"_change_type", $"_commit_version")
      .as[(Long, String, String, String, Long)].collect().toSet
    assert(feed == Set(
      (1L, "v1", "g1", "delete", 3L), (2L, "v2", "g0", "delete", 3L),
      (5L, "v5", "g1", "update_preimage", 4L), (5L, "up", "g1", "update_postimage", 4L)),
      feed.toString)
    // the insert fallback (cdc-less commit 0) also reads; a range ENDING
    // before the rename serves the range-end schema (pre-rename "k")
    val v0 = GraftDelta.tableChanges(spark, path, fromVersion = -1L, toVersion = Some(0L))
    assert(v0.filter($"_change_type" === "insert").count() == 10L)
    assert(v0.columns.contains("k"), v0.columns.toSeq.toString)
    // the same commit through a MAPPED range end re-surfaces as "id"
    val v0mapped = GraftDelta.tableChanges(spark, path, fromVersion = -1L,
      toVersion = Some(2L))
    assert(v0mapped.columns.contains("id"), v0mapped.columns.toSeq.toString)
    assert(v0mapped.filter($"_change_type" === "insert").count() == 10L)
    // enabling CDF on an ALREADY-mapped table works too
    val p2 = tmp()
    GraftDelta.toDelta(Seq((1L, "a")).toDF("k", "v"), p2)
    GraftDelta.enableColumnMapping(spark, p2)
    GraftDelta.renameColumn(spark, p2, "k", "id")
    GraftDelta.enableChangeDataFeed(spark, p2)
    GraftDelta.deleteWhere(spark, p2, Seq(Seq(Predicate("id", "==", 1L))))
    val f2 = GraftDelta.tableChanges(spark, p2, fromVersion = 3L)
      .select($"id", $"_change_type").as[(Long, String)].collect().toSet
    assert(f2 == Set((1L, "delete")), f2.toString)
  }

  test("metadata-only surfaces translate to physical stats keys on mapped tables") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1 to 20).map(i => (i.toLong, s"g${i % 2}"))
      .toDF("k", "g"), path, partitionBy = Seq("g"))
    GraftDelta.enableColumnMapping(spark, path)
    GraftDelta.renameColumn(spark, path, "k", "id")
    GraftDelta.renameColumn(spark, path, "g", "grp")
    // SHOW PARTITIONS / partitionCounts: physical-keyed pv resolves —
    // previously every partition value read back null on mapped tables
    val pc = DeltaTableOps.partitionCounts(spark, path)
    assert(pc.metadataOnly, "must answer from the log")
    val parts = pc.df.select($"grp", $"n_rows").as[(String, Long)].collect().toMap
    assert(parts == Map("g0" -> 10L, "g1" -> 10L), parts.toString)
    // statsAggregate: metadata-only through physical stats keys
    val agg = DeltaTableOps.statsAggregate(spark, path, Seq("id"))
    assert(agg.metadataOnly, "stats keys must translate, not force a scan")
    val r = agg.df.head()
    assert(r.getAs[Long]("n_rows") == 20L && r.getAs[Long]("min_id") == 1L &&
      r.getAs[Long]("max_id") == 20L && r.getAs[Long]("nulls_id") == 0L, r.toString)
    // countWhere: interior files PROVE from stats (logical predicate name)
    val cw = DeltaTableOps.countWhere(spark, path, Seq(Seq(Predicate("id", ">=", 1L))))
    assert(cw.count == 20L)
    assert(cw.filesFromStats > 0 && cw.filesScanned == 0,
      s"fully-matching files must settle from stats: $cw")
  }

  test("deletion vectors apply on mapped scans; mapping can enable over live DVs") {
    import spark.implicits._
    // (a) foreign shape: a name-mapped add carrying an inline DV
    val path = stageUnpartitioned()
    val log = DeltaLog.forTable(spark, path)
    val add0 = log.snapshot(None).activeFiles.head
    val bm = new org.roaringbitmap.longlong.Roaring64NavigableMap()
    bm.addLong(1L) // kill row index 1 → key==2
    log.writeCommit(1L, Seq(
      Protocol(3, 7,
        readerFeatures = Some(Seq("deletionVectors", "columnMapping")),
        writerFeatures = Some(Seq("deletionVectors", "columnMapping"))),
      add0.copy(dataChange = true,
        deletionVector = Some(DeletionVectors.inlineDescriptor(bm))),
      RemoveFile(add0.path, Some(1L), dataChange = true)))
    val got = GraftDelta.readDelta(spark, path).select($"key").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 3L), s"DV must apply under column mapping: ${got.toSeq}")

    // (b) our table: DV delete first, then enable mapping + rename
    val p2 = tmp()
    GraftDelta.toDelta((1 to 20).map(i => (i.toLong, s"v$i")).toDF("k", "v"), p2)
    GraftDelta.deleteWhereWithDv(spark, p2, Seq(Seq(Predicate("k", "<=", 3L))))
    GraftDelta.enableColumnMapping(spark, p2)
    GraftDelta.renameColumn(spark, p2, "k", "id")
    val df = GraftDelta.readDelta(spark, p2)
    assert(df.columns.toSeq == Seq("id", "v"))
    assert(df.select($"id").as[Long].collect().sorted.toSeq == (4L to 20L))
  }

  test("append to an id-mode table stamps parquet field ids") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1 to 5).map(i => (i.toLong, s"v$i")).toDF("k", "v"), path)
    GraftDelta.enableColumnMapping(spark, path)
    // switch the upgraded table to id mode (files carry no ids yet, but
    // physicalName == logical keeps name-based access working for them —
    // this test only reads back the NEW file through the id path)
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    log.writeCommit(snap.version + 1, Seq(snap.metadata.copy(
      configuration = snap.metadata.configuration +
        ("delta.columnMapping.mode" -> "id"))))
    GraftDelta.toDelta(Seq((6L, "v6")).toDF("k", "v"), path, mode = "append")
    val newAdd = DeltaLog.forTable(spark, path).snapshot(None)
      .activeFiles.sortBy(_.modificationTime).last
    // the new footer carries field ids (read it back by id alone) —
    // restore the conf afterwards so no other test inherits it
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    try {
      val idSchema = StructType(Seq(
        StructField("anything", LongType, nullable = true,
          new MetadataBuilder().putLong("parquet.field.id", 1).build())))
      val byId = spark.read.schema(idSchema).parquet(s"$path/${newAdd.path}")
      assert(byId.as[Long].collect().toSeq == Seq(6L),
        "new file must be readable by field id regardless of names")
    } finally spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "false")
  }

  test("id mapping mode reads through parquet field ids, rename-proof") {
    import spark.implicits._
    val path = tmp()
    // physical files: arbitrary on-disk names, FIELD IDS are the contract
    val writeSchema = StructType(Seq(
      StructField("col-a", LongType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 1).build()),
      StructField("col-b", StringType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 2).build())))
    val phys = spark.createDataFrame(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("x", "y").rdd, writeSchema)
    phys.coalesce(1).write.parquet(s"$path/data")
    val file = new java.io.File(s"$path/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val logical = StructType(Seq(
      mappedField("key", "col-a", LongType, 1),
      mappedField("value", "col-b", StringType, 2)))
    DeltaLog.forTable(spark, path).writeCommit(0L, Seq(
      CommitInfo(System.currentTimeMillis(), "CREATE"),
      Protocol(2, 5),
      MetadataAction(id = "cm-test-id", schemaString = logical.json,
        configuration = Map("delta.columnMapping.mode" -> "id",
          "delta.columnMapping.maxColumnId" -> "2")),
      AddFile(path = s"data/${file.getName}", size = file.length(),
        modificationTime = file.lastModified(), dataChange = true)))

    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "false")
    val df = GraftDelta.readDelta(spark, path)
    assert(df.columns.toSeq == Seq("key", "value"))
    assert(df.orderBy("key").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // the id-mode scan must not leak its field-id conf into this session
    assert(spark.conf.get("spark.sql.parquet.fieldId.read.enabled") == "false",
      "id-mode read mutated the caller's session conf")
    // a foreign logical rename is metadata-only: the field id still binds
    GraftDelta.renameColumn(spark, path, "value", "name")
    val df2 = GraftDelta.readDelta(spark, path)
    assert(df2.columns.toSeq == Seq("key", "name"))
    assert(df2.filter($"name" === "b").count() == 1)
  }

  test("enable + rename + drop column are metadata-only; time travel keeps old names") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(
      (1 to 10).map(i => (i.toLong, s"v$i", i * 2L)).toDF("k", "v", "w"), path) // v0
    val filesBefore = DeltaLog.forTable(spark, path).snapshot(None)
      .activeFiles.map(_.path).toSet

    // rename without mapping refuses with a pointer to the upgrade
    val e = intercept[IllegalArgumentException](
      GraftDelta.renameColumn(spark, path, "k", "id"))
    assert(e.getMessage.contains("enableColumnMapping"), e.getMessage)

    val up = GraftDelta.enableColumnMapping(spark, path)                  // v1
    assert(up.maxColumnId == 3L)
    val p1 = DeltaLog.forTable(spark, path).snapshot(None).protocol
    assert(p1.minReaderVersion == 2 && p1.minWriterVersion == 5)
    // physicalName = old name keeps existing files readable unchanged
    assert(GraftDelta.readDelta(spark, path).columns.toSeq == Seq("k", "v", "w"))

    GraftDelta.renameColumn(spark, path, "k", "id")                       // v2
    GraftDelta.dropColumn(spark, path, "w")                               // v3
    val df = GraftDelta.readDelta(spark, path)
    assert(df.columns.toSeq == Seq("id", "v"))
    assert(df.orderBy("id").select("id").as[Long].collect().toSeq == (1L to 10L))
    // metadata-only: the SAME data files are active, none rewritten
    val snap3 = DeltaLog.forTable(spark, path).snapshot(None)
    assert(snap3.activeFiles.map(_.path).toSet == filesBefore)
    // pre-upgrade versions still read with their own schema
    assert(GraftDelta.readDelta(spark, path, version = Some(0L)).columns.toSeq ==
      Seq("k", "v", "w"))
    // dropped-column data is projected away, not destroyed: restore sees it
    GraftDelta.restore(spark, path, 1L)                                   // v4
    assert(GraftDelta.readDelta(spark, path).columns.toSeq == Seq("k", "v", "w"))
  }

  test("enableColumnMapping composes with row tracking in BOTH directions") {
    import spark.implicits._
    // tracking first, mapping second: ids must read identically through
    // the mapped scan after the upgrade + a rename
    val path = tmp()
    GraftDelta.toDelta((1 to 12).map(i => (i.toLong, s"v$i")).toDF("k", "v"), path)
    RowTracking.enable(spark, path)
    def ids(): Map[Long, Long] = GraftDelta.readDeltaWithRowIds(spark, path)
      .select($"k", $"_row_id").as[(Long, Long)].collect().toMap
    val before = ids()
    GraftDelta.enableColumnMapping(spark, path)
    assert(ids() == before, "mapping upgrade must not re-home a row id")
    GraftDelta.renameColumn(spark, path, "v", "w")
    val renamed = GraftDelta.readDeltaWithRowIds(spark, path)
    assert(renamed.columns.toSet == Set("k", "w", "_row_id", "_row_commit_version"))
    assert(renamed.select($"k", $"_row_id").as[(Long, Long)].collect().toMap == before)
  }

  test("identity columns compose with mapping: watermark harvests physical stats") {
    import spark.implicits._
    val path = tmp()
    val ident = new MetadataBuilder()
      .putLong("delta.identity.start", 1L)
      .putLong("delta.identity.step", 1L)
      .putBoolean("delta.identity.allowExplicitInsert", true).build()
    GraftDelta.toDelta(
      (1 to 5).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .withColumn("id", col("id").as("id", ident)), path)               // v0
    GraftDelta.enableColumnMapping(spark, path)                           // v1
    GraftDelta.renameColumn(spark, path, "id", "row_no")                  // v2
    // the explicit seed values covered the watermark at v0; an append
    // OMITTING the (renamed) identity column allocates ABOVE them — the
    // harvest must read the PHYSICAL stats key or it would silently
    // re-allocate colliding ids
    GraftDelta.toDelta((1 to 3).map(i => s"n$i").toDF("v"), path, mode = "append") // v3
    val ids = GraftDelta.readDelta(spark, path).select($"row_no").as[Long].collect()
    assert(ids.length == 8 && ids.distinct.length == 8,
      s"allocated ids must not collide with the seeded 1..5: ${ids.sorted.toSeq}")
    assert(ids.count(_ > 5L) == 3, ids.sorted.toSeq.toString)
    // the watermark advanced in the mapped schema's field metadata
    val hwm = DeltaLog.forTable(spark, path).snapshot(None)
      .schema("row_no").metadata.getLong("delta.identity.highWaterMark")
    assert(hwm == ids.max, s"hwm=$hwm max=${ids.max}")
    // a second omitting append keeps allocating above — no collisions
    GraftDelta.toDelta(Seq("x").toDF("v"), path, mode = "append")         // v4
    val ids2 = GraftDelta.readDelta(spark, path).select($"row_no").as[Long].collect()
    assert(ids2.length == 9 && ids2.distinct.length == 9, ids2.sorted.toSeq.toString)
  }
}

object ColumnMappingSpec {

  def mappedField(logical: String, physical: String, dt: DataType,
      id: Long): StructField =
    StructField(logical, dt, nullable = true,
      new MetadataBuilder()
        .putLong("delta.columnMapping.id", id)
        .putString("delta.columnMapping.physicalName", physical)
        .build())

  /** Writes `rows` as one stats-less parquet file with physical column
    * names into `lang`'s physical hive dir (which may already hold
    * files) and returns its add, uncommitted. */
  def stagePart(spark: SparkSession, path: String, lang: String,
      rows: Seq[(Long, String)]): AddFile = {
    import spark.implicits._
    val tmpDir = Files.createTempDirectory("graft_cm_part")
    rows.toDF("col-k1", "col-v2").coalesce(1).write.mode("overwrite").parquet(s"$tmpDir/p")
    val written = new java.io.File(s"$tmpDir/p").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dir = new java.io.File(s"$path/col-p9=$lang")
    dir.mkdirs()
    val f = new java.io.File(dir, written.getName)
    Files.move(written.toPath, f.toPath)
    AddFile(path = s"col-p9=$lang/${f.getName}",
      partitionValues = Map("col-p9" -> lang),
      size = f.length(), modificationTime = f.lastModified(), dataChange = true)
  }

  /** Hand-craft a name-mapped table partitioned by `lang` (physical
    * `col-p9`) at `path`: en holds keys 1 and 2, de holds key 3. */
  def stagePartitioned(spark: SparkSession, path: String): String = {
    val a1 = stagePart(spark, path, "en", Seq((1L, "x"), (2L, "y")))
    val a2 = stagePart(spark, path, "de", Seq((3L, "z")))
    val logical = StructType(Seq(
      mappedField("key", "col-k1", LongType, 1),
      mappedField("value", "col-v2", StringType, 2),
      mappedField("lang", "col-p9", StringType, 3)))
    DeltaLog.forTable(spark, path).writeCommit(0L, Seq(
      CommitInfo(System.currentTimeMillis(), "CREATE"),
      Protocol(2, 5),
      MetadataAction(id = "cm-test-2", schemaString = logical.json,
        partitionColumns = Seq("lang"),
        configuration = Map("delta.columnMapping.mode" -> "name",
          "delta.columnMapping.maxColumnId" -> "3")),
      a1, a2))
    path
  }
}
