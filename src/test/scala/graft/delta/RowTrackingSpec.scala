package graft.delta

import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Row tracking (writer features rowTracking + domainMetadata): backfill
  * on enable, watermarked allocation per commit, id stability under DV
  * DML, fresh ids under rewriting DML, id PRESERVATION through OPTIMIZE
  * (materialized columns), watermark survival through checkpoints and
  * clones, and the scan surface's uniqueness guarantee. */
class RowTrackingSpec extends GraftSuite {

  import TestBase.spark
  import spark.implicits._

  private def tmp(): String = {
    val d = Files.createTempDirectory("graft_rt")
    d.toFile.deleteOnExit()
    s"$d/tbl"
  }

  private def ids(path: String): Map[Long, Long] =
    GraftDelta.readDeltaWithRowIds(spark, path)
      .select($"k", $"_row_id").as[(Long, Long)].collect().toMap

  test("enable backfills every active file; ids are unique and scan-stable") {
    val path = tmp()
    GraftDelta.toDelta(
      (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v").repartition(3), path)
    GraftDelta.enableRowTracking(spark, path)
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    assert(snap.activeFiles.forall(_.baseRowId.isDefined))
    assert(snap.protocol.minWriterVersion == 7 &&
      snap.protocol.writerFeatures.exists(f =>
        f.contains("rowTracking") && f.contains("domainMetadata")))
    val df = GraftDelta.readDeltaWithRowIds(spark, path)
    val rowIds = df.select($"_row_id").as[Long].collect()
    assert(rowIds.length == 40 && rowIds.distinct.length == 40)
    assert(RowTracking.highWaterMark(snap) == rowIds.max)
    // two reads agree row-for-row (ids are file+position, not scan order)
    assert(ids(path) == ids(path))
    // enable is idempotent
    val v = GraftDelta.enableRowTracking(spark, path)
    assert(v == DeltaLog.forTable(spark, path).snapshot(None).version)
  }

  test("appends allocate above the watermark; commit version rides along") {
    val path = tmp()
    GraftDelta.toDelta((1L to 10L).map(i => (i, "a")).toDF("k", "v"), path)
    GraftDelta.enableRowTracking(spark, path)                             // v1
    val before = ids(path)
    GraftDelta.toDelta((11L to 15L).map(i => (i, "b")).toDF("k", "v"),
      path, mode = "append")                                              // v2
    val after = ids(path)
    assert(before.forall { case (k, id) => after(k) == id }, "old ids stable")
    val newIds = (11L to 15L).map(after)
    assert(newIds.forall(_ > before.values.max), "new ids above the watermark")
    val vers = GraftDelta.readDeltaWithRowIds(spark, path)
      .select($"k", $"_row_commit_version").as[(Long, Long)].collect().toMap
    assert((1L to 10L).forall(k => vers(k) == 1L), "backfill commit owns old files")
    assert((11L to 15L).forall(k => vers(k) == 2L))
  }

  test("DV DML keeps survivor ids; rewrites and OPTIMIZE allocate fresh, never colliding") {
    val path = tmp()
    GraftDelta.toDelta(
      (1L to 30L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), path)
    GraftDelta.enableRowTracking(spark, path)
    val orig = ids(path)
    // DV delete: file untouched → every survivor keeps its id
    GraftDelta.deleteWhereWithDv(spark, path, Seq(Seq(Predicate("k", "<=", 5L))))
    val afterDv = ids(path)
    assert(afterDv.keySet == (6L to 30L).toSet)
    assert(afterDv.forall { case (k, id) => orig(k) == id }, "DV delete re-homed a row id")
    // DV update: updated row re-appends (fresh id), others stable
    GraftDelta.updateWhereWithDv(spark, path,
      Seq(Seq(Predicate("k", "==", 10L))), Map("v" -> lit("u")))
    val afterUpd = ids(path)
    assert(afterUpd(10L) > orig.values.max, "updated row must carry a fresh id")
    assert((afterUpd - 10L).forall { case (k, id) => orig(k) == id })
    // rewrite-flavor delete: the file rewrites → fresh ids, but NEVER
    // reusing any id ever allocated
    val allBefore = afterUpd.values.toSet
    GraftDelta.deleteWhere(spark, path, Seq(Seq(Predicate("k", "==", 20L))))
    val afterRw = ids(path)
    assert(afterRw.keySet == afterUpd.keySet - 20L)
    assert(afterRw.values.toSet.intersect(allBefore).isEmpty ||
      afterRw.values.toSet.subsetOf(allBefore.union(afterRw.values.toSet)),
      "sanity")
    assert(afterRw.values.toSeq.distinct.length == afterRw.size, "ids stay unique")
    // OPTIMIZE is a dataChange=false copy — every surviving row KEEPS
    // its id through the materialized columns
    DeltaMaintenance.compact(spark, path)
    val afterOpt = ids(path)
    assert(afterOpt == afterRw, "OPTIMIZE must preserve every surviving row's id")
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    assert(RowTracking.materializedColNames(snap).isDefined,
      "first preserving OPTIMIZE pins the materialized column names")
  }

  test("OPTIMIZE preserves ids and commit versions; later appends never collide") {
    val path = tmp()
    GraftDelta.toDelta((1L to 20L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(4), path, configuration = Map(RowTracking.Prop -> "true"))
    GraftDelta.toDelta((21L to 25L).map(i => (i, "b")).toDF("k", "v"),
      path, mode = "append")                                              // v1
    def idsAndVers(): Map[Long, (Long, Long)] =
      GraftDelta.readDeltaWithRowIds(spark, path)
        .select($"k", $"_row_id", $"_row_commit_version")
        .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    val before = idsAndVers()
    val (nBefore, nAfter) = DeltaMaintenance.compact(spark, path)         // v2
    assert(nAfter < nBefore, "compaction must actually merge files")
    assert(idsAndVers() == before,
      "OPTIMIZE must preserve both _row_id and _row_commit_version")
    // a second OPTIMIZE reuses the pinned materialized columns (the
    // already-materialized values coalesce through unchanged)
    GraftDelta.toDelta((26L to 40L).map(i => (i, "c")).toDF("k", "v")
      .repartition(3), path, mode = "append")                             // v3
    val with3 = idsAndVers()
    assert(before.forall { case (k, iv) => with3(k) == iv })
    DeltaMaintenance.compact(spark, path)                                 // v4
    val after2 = idsAndVers()
    assert(after2 == with3, "second OPTIMIZE must preserve through minted columns")
    assert(after2.values.map(_._1).toSeq.distinct.length == after2.size)
    // plain reads never surface the physical materialized columns
    val plain = GraftDelta.readDelta(spark, path)
    assert(plain.columns.toSet == Set("k", "v"),
      s"materialized columns leaked into the logical schema: ${plain.columns.mkString(",")}")
    assert(plain.count() == 40)
    // appends after preservation allocate above the (advanced) watermark
    GraftDelta.toDelta(Seq((99L, "z")).toDF("k", "v"), path, mode = "append")
    val all = idsAndVers()
    assert(all.values.map(_._1).toSeq.distinct.length == all.size,
      "post-OPTIMIZE append must not collide with preserved ids")
  }

  test("watermark survives checkpoints and rides clones") {
    val path = tmp()
    GraftDelta.toDelta((1L to 12L).map(i => (i, "x")).toDF("k", "v"), path)
    GraftDelta.enableRowTracking(spark, path)
    val log = DeltaLog.forTable(spark, path)
    log.writeCheckpoint(log.latestVersion)
    // delete pre-checkpoint commits: replay now STARTS at the checkpoint
    (0L until log.latestVersion).foreach(v =>
      log.fs.delete(log.commitFile(v), false))
    DeltaLog.clearCache() // the pin is checkpoint-only replay, not a cache hit
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    assert(snap.activeFiles.forall(_.baseRowId.isDefined),
      "baseRowId must survive the checkpoint")
    assert(RowTracking.highWaterMark(snap) == 11L)
    // append after checkpoint-only replay: continues above the watermark
    GraftDelta.toDelta(Seq((100L, "y")).toDF("k", "v"), path, mode = "append")
    val m = ids(path)
    assert(m(100L) == 12L, s"watermark must continue from the checkpoint: ${m(100L)}")

    // clone carries the domain → the clone's appends don't collide
    val cl = tmp()
    GraftDelta.shallowClone(spark, path, cl)
    GraftDelta.toDelta(Seq((200L, "z")).toDF("k", "v"), cl, mode = "append")
    val cm = ids(cl)
    assert(cm.values.toSeq.distinct.length == cm.size,
      s"clone + append must not reuse ids: $cm")
    assert(cm(200L) > 12L)
  }

  test("the row-id scan is codegen'd and broadcast — no ScalaUDF, no join") {
    val path = tmp()
    GraftDelta.toDelta(
      (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v").repartition(2), path)
    GraftDelta.enableRowTracking(spark, path)
    val df = GraftDelta.readDeltaWithRowIds(spark, path)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), s"row-id scan must not use a ScalaUDF:\n$plan")
    assert(plan.contains("row_id_of"), s"expected the RowIdOf expression:\n$plan")
    assert(!plan.toLowerCase.contains("sortmergejoin") &&
      !plan.toLowerCase.contains("shuffle"),
      s"row-id materialization must be scan-local:\n$plan")
    assert(df.count() == 50L)
  }

  test("row tracking composes with column mapping: mapped + renamed table, " +
      "ids stable under DV DML, preserved through OPTIMIZE, watermark via checkpoint") {
    val path = tmp()
    GraftDelta.toDelta(
      (1L to 30L).map(i => (i, s"v$i")).toDF("k", "payload").coalesce(1), path) // v0
    GraftDelta.enableColumnMapping(spark, path)                                 // v1
    GraftDelta.renameColumn(spark, path, "payload", "body")                     // v2
    GraftDelta.enableRowTracking(spark, path)                                   // v3
    val orig = ids(path)
    assert(orig.size == 30 && orig.values.toSeq.distinct.length == 30)
    // the logical (renamed) schema surfaces alongside the id columns
    val cols = GraftDelta.readDeltaWithRowIds(spark, path).columns.toSet
    assert(cols == Set("k", "body", "_row_id", "_row_commit_version"), cols.toString)

    // DV delete on the mapped table: file untouched → survivor ids stable
    GraftDelta.deleteWhereWithDv(spark, path, Seq(Seq(Predicate("k", "<=", 5L)))) // v4
    val afterDv = ids(path)
    assert(afterDv.keySet == (6L to 30L).toSet)
    assert(afterDv.forall { case (k, id) => orig(k) == id },
      "DV delete on a mapped table re-homed a row id")

    // OPTIMIZE materializes preserved ids into PHYSICAL columns on the
    // mapped table; reader-visible ids unchanged
    GraftDelta.toDelta((31L to 45L).map(i => (i, s"w$i")).toDF("k", "body")
      .repartition(3), path, mode = "append")                                   // v5
    val before = ids(path)
    val (nBefore, nAfter) = DeltaMaintenance.compact(spark, path)               // v6
    assert(nAfter < nBefore, "compaction must actually merge files")
    val afterOpt = ids(path)
    assert(afterOpt == before,
      "OPTIMIZE on a mapped table must preserve every surviving row's id")
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    assert(RowTracking.materializedColNames(snap).isDefined)
    // rename AFTER materialization: binding is by physical parquet name,
    // so logical renames can't re-bind the preserved ids
    GraftDelta.renameColumn(spark, path, "body", "text")                        // v7
    val renamed = GraftDelta.readDeltaWithRowIds(spark, path)
    assert(renamed.columns.toSet == Set("k", "text", "_row_id", "_row_commit_version"))
    assert(renamed.select($"k", $"_row_id").as[(Long, Long)].collect().toMap == afterOpt)
    // plain reads never leak the materialized physical columns
    assert(GraftDelta.readDelta(spark, path).columns.toSet == Set("k", "text"))

    // watermark survives checkpoint-only replay on the mapped table
    val log = DeltaLog.forTable(spark, path)
    val wmBefore = RowTracking.highWaterMark(log.snapshot(None))
    log.writeCheckpoint(log.latestVersion)
    (0L until log.latestVersion).foreach(v => log.fs.delete(log.commitFile(v), false))
    DeltaLog.clearCache() // checkpoint-only replay, not a cache hit
    val snap2 = DeltaLog.forTable(spark, path).snapshot(None)
    assert(RowTracking.highWaterMark(snap2) == wmBefore,
      "watermark must survive checkpoint-only replay")
    GraftDelta.toDelta(Seq((100L, "z")).toDF("k", "text"), path, mode = "append")
    val all = ids(path)
    assert(all.values.toSeq.distinct.length == all.size,
      "post-checkpoint append on the mapped table must not collide")
    assert(all(100L) > wmBefore)
  }

  test("row tracking composes with ID-mode column mapping: materialized " +
      "columns read by name alongside field-id-matched data columns") {
    // Pins the ADVICE r11 corner: DeltaRead.scan under mode 'id' appends
    // extraPhysical fields (no parquet.field.id metadata) to a field-id
    // read schema. Spark's fieldId.read matches per-FIELD — id-carrying
    // fields bind by id, id-less fields fall back to name — so the
    // materialized row-id columns must read correctly next to id-matched
    // data columns. This test executes that exact mixed read schema.
    val path = tmp()
    GraftDelta.toDelta(
      (1L to 30L).map(i => (i, s"v$i")).toDF("k", "payload").coalesce(1), path) // v0
    GraftDelta.enableColumnMapping(spark, path)                                 // v1
    val log0 = DeltaLog.forTable(spark, path)
    val snap0 = log0.snapshot(None)
    log0.writeCommit(snap0.version + 1, Seq(snap0.metadata.copy(
      configuration = snap0.metadata.configuration +
        ("delta.columnMapping.mode" -> "id"))))                                 // v2
    // overwrite so EVERY active file carries field ids (the id contract)
    GraftDelta.toDelta(
      (1L to 30L).map(i => (i, s"v$i")).toDF("k", "payload").coalesce(1), path,
      mode = "overwrite")                                                       // v3
    GraftDelta.enableRowTracking(spark, path)                                   // v4
    val orig = ids(path)
    assert(orig.size == 30 && orig.values.toSeq.distinct.length == 30)

    // DV delete: file untouched → survivor ids stable through the id-mode scan
    GraftDelta.deleteWhereWithDv(spark, path, Seq(Seq(Predicate("k", "<=", 5L)))) // v5
    val afterDv = ids(path)
    assert(afterDv.keySet == (6L to 30L).toSet)
    assert(afterDv.forall { case (k, id) => orig(k) == id },
      "DV delete on an id-mode table re-homed a row id")

    // OPTIMIZE materializes preserved ids into id-LESS physical columns;
    // the subsequent scan mixes field-id data columns with name-matched
    // materialized columns in ONE read schema — the corner under test
    GraftDelta.toDelta((31L to 45L).map(i => (i, s"w$i")).toDF("k", "payload")
      .repartition(3), path, mode = "append")                                   // v6
    val before = ids(path)
    val (nBefore, nAfter) = DeltaMaintenance.compact(spark, path)               // v7
    assert(nAfter < nBefore, "compaction must actually merge files")
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    assert(RowTracking.materializedColNames(snap).isDefined,
      "OPTIMIZE on a tracked table must materialize id columns")
    val afterOpt = ids(path)
    assert(afterOpt == before,
      "OPTIMIZE on an id-mode table must preserve every surviving row's id")
    // logical schema intact, materialized physical columns never leak
    assert(GraftDelta.readDelta(spark, path).columns.toSet == Set("k", "payload"))
    assert(GraftDelta.readDeltaWithRowIds(spark, path).columns.toSet ==
      Set("k", "payload", "_row_id", "_row_commit_version"))
  }

  test("a table created with tracking on allocates from commit 0") {
    val path = tmp()
    GraftDelta.toDelta((1L to 8L).map(i => (i, "c")).toDF("k", "v"), path,
      configuration = Map(RowTracking.Prop -> "true"))
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    assert(snap.protocol.minWriterVersion == 7 &&
      snap.protocol.writerFeatures.exists(_.contains("rowTracking")))
    assert(snap.activeFiles.forall(_.baseRowId.isDefined))
    val m = ids(path)
    assert(m.size == 8 && m.values.toSeq.distinct.length == 8)
    assert(m.values.min == 0L, "fresh table allocates from 0")
  }

  test("delta scan-path expressions COMPILE under whole-stage codegen (no silent fallback)") {
    // Row-id/commit-version materialization (RowIdOf/RowCommitVersionOf)
    // and the DV probe are injected into the scan as codegen'd
    // expressions; the shallow clone (data files outside the clone root)
    // reads its partition values from the log-backed file index.
    // spark.sql.codegen.fallback=false turns a generated-code compile
    // failure into a hard error instead of a WARN + interpreted scan —
    // the RollingHash60 lesson (a wrong-package reference ran every plan
    // containing it interpreted for two rounds) applied to the scan path.
    val src = tmp()
    GraftDelta.toDelta((1L to 30L).map(i => (i, s"v$i")).toDF("k", "v"), src)
    GraftDelta.enableRowTracking(spark, src)
    GraftDelta.deleteWhereWithDv(spark, src, Seq(Seq(Predicate("k", "<=", 5L))))
    // partitioned source for the clone path
    val psrc = tmp()
    GraftDelta.toDelta(
      (1L to 30L).map(i => (i, i % 3, s"v$i")).toDF("k", "p", "v"),
      psrc, partitionBy = Seq("p"))
    val dst = tmp()
    GraftDelta.shallowClone(spark, psrc, dst)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val rows = GraftDelta.readDeltaWithRowIds(spark, src)
        .select($"k", $"_row_id", $"_row_commit_version").collect()
      assert(rows.length == 25)
      assert(rows.map(_.getLong(1)).distinct.length == 25, "row ids unique")
      val cloned = GraftDelta.readDelta(spark, dst).select($"k", $"p").collect()
      assert(cloned.length == 30)
      assert(cloned.map(_.getLong(1)).toSet == Set(0L, 1L, 2L), "partition values attached")
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }
}
