package graft.delta

import org.apache.spark.sql.functions._
import org.roaringbitmap.longlong.Roaring64NavigableMap

import java.nio.file.Files

/** Round-5 protocol-surface pins: RESTORE over deletion-vector
  * incarnations, append-only / invariant writer-feature enforcement,
  * checkConstraints on table-features protocols, order-independent
  * replay reconciliation, and foreign DV descriptor shapes. */
class ProtocolFeatureSpec extends GraftSuite {

  private def tmp(): String = {
    val d = Files.createTempDirectory("graft_pf")
    d.toFile.deleteOnExit()
    s"$d/tbl"
  }

  // ---- RESTORE over DV incarnations (r4 ADVICE high) ----------------------

  test("restore to a pre-DV-delete version resurrects soft-deleted rows") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(
      (1 to 50).map(i => (i.toLong, s"v$i")).toDF("k", "v").repartitionByRange(2, $"k"),
      path)                                                               // v0
    GraftDelta.deleteWhereWithDv(spark, path, Seq(Seq(Predicate("k", "<=", 5L)))) // v1
    assert(GraftDelta.readDelta(spark, path).count() == 45L)

    val res = GraftDelta.restore(spark, path, 0L)                         // v2
    assert(res.restoredFiles > 0 && res.removedFiles > 0,
      s"a changed incarnation must emit remove+add: $res")
    assert(GraftDelta.readDelta(spark, path).count() == 50L,
      "restore must resurrect DV-soft-deleted rows")
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    assert(snap.activeFiles.forall(_.deletionVector.isEmpty),
      "restored incarnations are the DV-free ones")
    // pre-restore DV state still reachable by version
    assert(GraftDelta.readDelta(spark, path, version = Some(1L)).count() == 45L)
  }

  test("restore forward onto a DV incarnation re-applies its bitmap") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(
      (1 to 40).map(i => (i.toLong, "x")).toDF("k", "v").repartitionByRange(2, $"k"),
      path)                                                               // v0
    GraftDelta.deleteWhereWithDv(spark, path, Seq(Seq(Predicate("k", "==", 3L)))) // v1
    GraftDelta.deleteWhereWithDv(spark, path, Seq(Seq(Predicate("k", "==", 7L)))) // v2
    assert(GraftDelta.readDelta(spark, path).count() == 38L)
    // rewind to the one-deletion incarnation, then forward again
    GraftDelta.restore(spark, path, 1L)                                   // v3
    assert(GraftDelta.readDelta(spark, path).count() == 39L)
    GraftDelta.restore(spark, path, 2L)                                   // v4
    assert(GraftDelta.readDelta(spark, path).count() == 38L)
    // restoring to the state we are already at moves nothing
    val noop = GraftDelta.restore(spark, path, 4L)
    assert(noop.restoredFiles == 0L && noop.removedFiles == 0L)
  }

  test("restore refuses when a target incarnation's DV file was vacuumed") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(
      (1 to 30).map(i => (i.toLong, "x")).toDF("k", "v").repartitionByRange(2, $"k"),
      path)                                                               // v0
    GraftDelta.deleteWhereWithDv(spark, path, Seq(Seq(Predicate("k", "==", 2L)))) // v1
    // supersede v1's DV so its file becomes a reclaimable tombstone
    GraftDelta.deleteWhereWithDv(spark, path, Seq(Seq(Predicate("k", "==", 9L)))) // v2
    DeltaTableOps.vacuum(spark, path, retentionHours = 0.0, dryRun = false)
    val e = intercept[IllegalStateException](GraftDelta.restore(spark, path, 1L))
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    // the head still reads fine
    assert(GraftDelta.readDelta(spark, path).count() == 28L)
  }

  // ---- delta.appendOnly enforcement (r4 ADVICE medium) --------------------

  test("delta.appendOnly=true: appends pass, row-removing surfaces refuse") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1 to 10).map(i => (i.toLong, "x")).toDF("k", "v"), path,
      configuration = Map("delta.appendOnly" -> "true"))                  // v0
    GraftDelta.toDelta((11 to 15).map(i => (i.toLong, "y")).toDF("k", "v"), path,
      mode = "append")                                                    // v1
    assert(GraftDelta.readDelta(spark, path).count() == 15L)

    def refused(op: => Any): String =
      intercept[IllegalStateException](op).getMessage
    assert(refused(GraftDelta.deleteWhere(spark, path,
      Seq(Seq(Predicate("k", "==", 1L))))).contains("append-only"))
    assert(refused(GraftDelta.deleteWhereWithDv(spark, path,
      Seq(Seq(Predicate("k", "==", 1L))))).contains("append-only"))
    assert(refused(GraftDelta.updateWhere(spark, path,
      Seq(Seq(Predicate("k", "==", 1L))), Map("v" -> lit("z")))).contains("append-only"))
    assert(refused(GraftDelta.toDelta((1 to 3).map(i => (i.toLong, "z")).toDF("k", "v"),
      path, mode = "overwrite")).contains("append-only"))
    assert(refused(GraftDelta.mergeInto(spark, path,
      Seq((1L, "m")).toDF("k", "v"), Seq("k"))).contains("append-only"))
    // insert-only merge is a legal append
    val m = GraftDelta.mergeInto(spark, path, Seq((16L, "m"), (1L, "dup")).toDF("k", "v"),
      Seq("k"), whenMatched = DeltaDml.WhenMatched.Ignore)
    assert(m.insertedRows == 1L, s"$m")
    assert(refused(GraftDelta.restore(spark, path, 0L)).contains("append-only"))
    // OPTIMIZE (dataChange=false) stays legal on an append-only table
    DeltaMaintenance.compact(spark, path)
    assert(GraftDelta.readDelta(spark, path).count() == 16L)
  }

  // ---- column invariants enforcement (r4 ADVICE medium) -------------------

  test("column invariants in schema metadata are enforced on every write") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1 to 5).map(i => (i.toLong, "x")).toDF("k", "v"), path)
    // stamp an invariant into the schema the way a foreign writer-2 does
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    val schema = org.apache.spark.sql.types.StructType(snap.schema.fields.map { f =>
      if (f.name == "k")
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putString("delta.invariants", """{"expression":{"expression":"k > 0"}}""")
          .build())
      else f
    })
    log.writeCommit(1L, Seq(
      snap.metadata.copy(schemaString = schema.json), Protocol(1, 2)))

    // conforming append passes
    GraftDelta.toDelta(Seq((6L, "y")).toDF("k", "v"), path, mode = "append")
    assert(GraftDelta.readDelta(spark, path).count() == 6L)
    // violating append fails before any commit
    val before = DeltaLog.forTable(spark, path).latestVersion
    intercept[Exception] {
      GraftDelta.toDelta(Seq((-1L, "bad")).toDF("k", "v"), path, mode = "append")
    }
    assert(DeltaLog.forTable(spark, path).latestVersion == before,
      "failed write must not commit")
    assert(GraftDelta.readDelta(spark, path).count() == 6L)
  }

  // ---- checkConstraints on table-features protocols (r4 ADVICE medium) ----

  test("addCheckConstraint on a writer-7 table lists the feature in the protocol") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1 to 10).map(i => (i.toLong, "x")).toDF("k", "v"), path)
    // DV delete upgrades to table features (reader 3 / writer 7)
    GraftDelta.deleteWhereWithDv(spark, path, Seq(Seq(Predicate("k", "==", 1L))))
    val p1 = DeltaLog.forTable(spark, path).snapshot(None).protocol
    assert(p1.minWriterVersion == 7 && !p1.writerFeatures.get.contains("checkConstraints"))

    GraftDelta.addCheckConstraint(spark, path, "k_pos", "k > 0")
    val p2 = DeltaLog.forTable(spark, path).snapshot(None).protocol
    assert(p2.writerFeatures.get.contains("checkConstraints"),
      s"writer-7 protocol must list checkConstraints: $p2")
    // and the constraint actually enforces
    intercept[Exception] {
      GraftDelta.toDelta(Seq((-5L, "bad")).toDF("k", "v"), path, mode = "append")
    }
    // legacy path unchanged: fresh table bumps to writer 3, no features
    val path2 = tmp()
    GraftDelta.toDelta((1 to 3).map(i => (i.toLong, "x")).toDF("k", "v"), path2)
    GraftDelta.addCheckConstraint(spark, path2, "k_pos", "k > 0")
    val p3 = DeltaLog.forTable(spark, path2).snapshot(None).protocol
    assert(p3.minWriterVersion == 3 && p3.writerFeatures.isEmpty)
  }

  // ---- reader-feature closure (r7 verdict #3) -----------------------------

  test("vacuumProtocolCheck is a read-side no-op; unknown features refuse") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1 to 12).map(i => (i.toLong, "x")).toDF("k", "v"), path) // v0
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    log.writeCommit(1L, Seq(
      CommitInfo(System.currentTimeMillis(), "UPGRADE PROTOCOL"),
      Protocol(3, 7,
        readerFeatures = Some(Seq("vacuumProtocolCheck")),
        writerFeatures = Some(
          (DeltaLog.legacyWriterFeatures(snap.protocol) :+ "vacuumProtocolCheck").distinct))))
    assert(GraftDelta.readDelta(spark, path).count() == 12L,
      "vacuumProtocolCheck imposes no read semantics")
    // vacuum still runs its (protocol-aware) path on such a table
    assert(DeltaTableOps.vacuum(spark, path, retentionHours = 0.0, dryRun = true).isEmpty)

    // a genuinely unknown reader feature still refuses loudly — reading
    // anyway would silently return wrong rows
    val p2 = tmp()
    GraftDelta.toDelta((1 to 3).map(i => (i.toLong, "x")).toDF("k", "v"), p2)
    val log2 = DeltaLog.forTable(spark, p2)
    log2.writeCommit(1L, Seq(Protocol(3, 7,
      readerFeatures = Some(Seq("collations-preview")),
      writerFeatures = Some(Seq("collations-preview")))))
    val e = intercept[IllegalStateException](GraftDelta.readDelta(spark, p2).count())
    assert(e.getMessage.contains("collations-preview"), e.getMessage)
  }

  test("collations: reads stay open, writes refuse BY NAME (VERDICT r15 #5)") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1 to 9).map(i => (i.toLong, s"s$i")).toDF("k", "v"), path) // v0
    val log = DeltaLog.forTable(spark, path)
    // foreign upgrade: writer-7 with the collations feature (correctly
    // writer-scoped — readerFeatures untouched)
    log.writeCommit(1L, Seq(
      CommitInfo(System.currentTimeMillis(), "UPGRADE PROTOCOL"),
      Protocol(1, 7, writerFeatures = Some(
        (DeltaLog.legacyWriterFeatures(log.snapshot(None).protocol) :+ "collations")
          .distinct))))
    // read side: collation metadata never changes the parquet bytes
    assert(GraftDelta.readDelta(spark, path).count() == 9L,
      "collations is writer-scoped; reads must stay open")
    // write side: a NAMED refusal explaining the comparison-semantics
    // hazard, not the generic unknown-feature message
    val e = intercept[IllegalStateException] {
      GraftDelta.toDelta(Seq((100L, "x")).toDF("k", "v"), path, mode = "append")
    }
    assert(e.getMessage.contains("collations") &&
      e.getMessage.contains("binary"), e.getMessage)
    val e2 = intercept[IllegalStateException](
      GraftDelta.deleteWhere(spark, path, Seq(Seq(Predicate("k", "<", 5L)))))
    assert(e2.getMessage.contains("collations"), e2.getMessage)
  }

  test("icebergCompatV1/V2/V3 (UniForm): reads stay open, writes refuse BY NAME " +
      "(VERDICT r16 #3; V3 r17 #2)") {
    import spark.implicits._
    Seq("icebergCompatV1", "icebergCompatV2", "icebergCompatV3").foreach { feature =>
      val path = tmp()
      GraftDelta.toDelta((1 to 7).map(i => (i.toLong, s"s$i")).toDF("k", "v"), path) // v0
      val log = DeltaLog.forTable(spark, path)
      // foreign upgrade: writer-7 with the UniForm feature (correctly
      // writer-scoped — readerFeatures untouched; a real UniForm table
      // also lists columnMapping, which the engine supports, so the
      // NAMED refusal must fire even when every other feature is known)
      log.writeCommit(1L, Seq(
        CommitInfo(System.currentTimeMillis(), "UPGRADE PROTOCOL"),
        Protocol(1, 7, writerFeatures = Some(
          (DeltaLog.legacyWriterFeatures(log.snapshot(None).protocol) :+ feature)
            .distinct))))
      // read side: the data files are ordinary parquet
      assert(GraftDelta.readDelta(spark, path).count() == 7L,
        s"$feature is writer-scoped; reads must stay open")
      // write side: NAMED refusal citing the Iceberg-metadata sync
      // obligation, not the generic unknown-feature message
      val e = intercept[IllegalStateException] {
        GraftDelta.toDelta(Seq((100L, "x")).toDF("k", "v"), path, mode = "append")
      }
      assert(e.getMessage.contains(feature) &&
        e.getMessage.contains("Iceberg"), e.getMessage)
      val e2 = intercept[IllegalStateException](
        GraftDelta.deleteWhere(spark, path, Seq(Seq(Predicate("k", "<", 5L)))))
      assert(e2.getMessage.contains(feature), e2.getMessage)
    }
  }

  test("checkpointProtection: writes pass, partial log truncation refuses by name") {
    import spark.implicits._
    val path = tmp()
    val df = (1 to 6).map(i => (i.toLong, s"s$i")).toDF("k", "v")
    GraftDelta.toDelta(df, path)                                           // v0
    val log = DeltaLog.forTable(spark, path)
    // foreign upgrade: writer-7 + checkpointProtection, history below
    // version 4 protected
    val meta0 = log.snapshot(None).metadata
    log.writeCommit(1L, Seq(
      CommitInfo(System.currentTimeMillis(), "UPGRADE PROTOCOL"),
      Protocol(1, 7, writerFeatures = Some(
        (DeltaLog.legacyWriterFeatures(log.snapshot(None).protocol) :+
          "checkpointProtection").distinct)),
      meta0.copy(configuration = meta0.configuration +
        ("delta.requireCheckpointProtectionBeforeVersion" -> "4"))))       // v1
    // ordinary writes never truncate history → they pass the gate
    GraftDelta.toDelta(df.withColumn("k", $"k" + 100L), path, mode = "append") // v2
    GraftDelta.toDelta(df.withColumn("k", $"k" + 200L), path, mode = "append") // v3
    assert(GraftDelta.readDelta(spark, path).count() == 18L)
    // a checkpoint INSIDE the protected range (< 4) must not authorize
    // truncating below it — named refusal, both retention modes
    log.writeCheckpoint(2L)
    val e = intercept[IllegalStateException](
      DeltaMaintenance.cleanupLog(spark, path, retentionHours = 0.0, dryRun = true))
    assert(e.getMessage.contains("checkpointProtection") &&
      e.getMessage.contains("4"), e.getMessage)
    val eTrunc = intercept[IllegalStateException](
      DeltaMaintenance.cleanupLog(spark, path, retentionHours = 0.0,
        dryRun = false, ignoreRetention = true))
    assert(eTrunc.getMessage.contains("checkpointProtection"), eTrunc.getMessage)
    // nothing was deleted by the refused calls
    assert(log.listCommitVersions.min == 0L, "protected commits must survive")
    // the protocol's escape hatch: a checkpoint AT/PAST the protected
    // version lets the whole range clean up in one pass
    GraftDelta.toDelta(df.withColumn("k", $"k" + 300L), path, mode = "append") // v4
    log.writeCheckpoint(4L)
    Thread.sleep(5) // ms-granularity mtimes must fall strictly below the cutoff
    val removed = DeltaMaintenance.cleanupLog(spark, path,
      retentionHours = 0.0, dryRun = false)
    assert(removed.exists(_.startsWith("00000000000000000000")),
      s"one-pass cleanup past the boundary must proceed: $removed")
    assert(GraftDelta.readDelta(spark, path).count() == 24L,
      "table reads fine from the post-boundary checkpoint")
  }

  test("typeWidening tables read files through the current (widened) schema") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(
      (1 to 10).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), path)   // v0: k int
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    assert(snap.schema("k").dataType == IntegerType)
    // widen k→long the way delta-spark records it: new schemaString with
    // the wide type + per-field delta.typeChanges metadata, protocol
    // gains the typeWidening feature
    val widened = StructType(snap.schema.fields.map { f =>
      if (f.name == "k")
        StructField("k", LongType, nullable = true,
          new MetadataBuilder().withMetadata(f.metadata)
            .putMetadataArray("delta.typeChanges", Array(
              new MetadataBuilder()
                .putString("fromType", "integer")
                .putString("toType", "long").build()))
            .build())
      else f
    })
    log.writeCommit(1L, Seq(
      CommitInfo(System.currentTimeMillis(), "WIDEN"),
      Protocol(3, 7,
        readerFeatures = Some(Seq("typeWidening")),
        writerFeatures = Some(
          (DeltaLog.legacyWriterFeatures(snap.protocol) :+ "typeWidening").distinct)),
      snap.metadata.copy(schemaString = widened.json)))                   // v1
    // post-widening file with a PHYSICALLY long k, hand-committed the way
    // a feature-native foreign writer would
    val stage = Files.createTempDirectory("graft_widen_stage")
    stage.toFile.deleteOnExit()
    Seq((100L, "w1"), (101L, "w2")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(stage.toString)
    val part = new java.io.File(stage.toString).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val destName = "part-widened.parquet"
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(path, destName))
    log.writeCommit(2L, Seq(
      CommitInfo(System.currentTimeMillis(), "WRITE"),
      AddFile(destName, Map.empty, new java.io.File(path, destName).length(),
        System.currentTimeMillis(), dataChange = true)))                  // v2
    // read: the v0 file's physical int32 k widens to the declared long
    val got = GraftDelta.readDelta(spark, path)
    assert(got.schema("k").dataType == LongType)
    assert(got.select("k").as[Long].collect().sorted.toSeq ==
      ((1L to 10L) ++ Seq(100L, 101L)))
    // predicate across narrow and wide files, through stats pruning
    assert(GraftDelta.readDelta(spark, path,
      filters = Seq(Seq(Predicate("k", ">", 8L))))
      .select("k").as[Long].collect().sorted.toSeq == Seq(9L, 10L, 100L, 101L))
    // pre-widening version still reads with its own (narrow) schema
    assert(GraftDelta.readDelta(spark, path, version = Some(0L))
      .schema("k").dataType == IntegerType)
  }

  // ---- replay reconciliation (r4 ADVICE low) ------------------------------

  test("replay is order-independent within a commit and honors descriptor-less removes") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(
      (1 to 20).map(i => (i.toLong, "x")).toDF("k", "v").coalesce(1), path) // v0
    val log = DeltaLog.forTable(spark, path)
    val add0 = log.snapshot(None).activeFiles.head

    // v1: a foreign DV-supersede commit written ADD-BEFORE-REMOVE (the
    // protocol declares intra-commit order meaningless)
    val bm = new Roaring64NavigableMap(); bm.addLong(0L)
    val dvAdd = add0.copy(dataChange = true,
      deletionVector = Some(DeletionVectors.inlineDescriptor(bm)))
    log.writeCommit(1L, Seq(
      Protocol(3, 7, readerFeatures = Some(Seq("deletionVectors")),
        writerFeatures = Some(Seq("deletionVectors"))),
      dvAdd,
      RemoveFile(add0.path, Some(1L), dataChange = true)))
    assert(GraftDelta.readDelta(spark, path).count() == 19L,
      "add-before-remove DV supersede must keep the DV incarnation active")

    // v2: a foreign full remove WITHOUT the DV descriptor must still
    // evict the DV-carrying incarnation (no silent resurrection)
    log.writeCommit(2L, Seq(RemoveFile(add0.path, Some(2L), dataChange = true)))
    assert(DeltaLog.forTable(spark, path).snapshot(None).activeFiles.isEmpty,
      "descriptor-less remove must evict the path outright")
  }

  test("offset-absent and offset-0 descriptors name the same incarnation") {
    val d0 = DeletionVectorDescriptor("u", "0" * 20, offset = None,
      sizeInBytes = 8, cardinality = 1L)
    assert(DeltaLog.dvUniqueId(d0) == DeltaLog.dvUniqueId(d0.copy(offset = Some(0))))
    assert(DeltaLog.dvUniqueId(d0) != DeltaLog.dvUniqueId(d0.copy(offset = Some(1))))
  }

  // ---- storageType "u" with a random path prefix (r4 ADVICE low) ----------

  test("a prefixed storageType-u descriptor resolves under the table root") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(
      (1 to 10).map(i => (i.toLong, "x")).toDF("k", "v").coalesce(1), path) // v0
    val log = DeltaLog.forTable(spark, path)
    val add0 = log.snapshot(None).activeFiles.head

    // write the DV file under ab/cd/ the way a spreading foreign writer does
    val bm = new Roaring64NavigableMap(); bm.addLong(1L); bm.addLong(3L)
    val fs = log.fs
    val prefixDir = new org.apache.hadoop.fs.Path(path, "ab/cd")
    fs.mkdirs(prefixDir)
    val descByKey = DeletionVectors.writeDvFile(fs, prefixDir, Seq("f" -> bm))
    val plain = descByKey("f")
    val prefixed = plain.copy(pathOrInlineDv = "ab/cd/" + plain.pathOrInlineDv)
    log.writeCommit(1L, Seq(
      Protocol(3, 7, readerFeatures = Some(Seq("deletionVectors")),
        writerFeatures = Some(Seq("deletionVectors"))),
      add0.copy(dataChange = true, deletionVector = Some(prefixed)),
      RemoveFile(add0.path, Some(1L), dataChange = true)))

    assert(GraftDelta.readDelta(spark, path).count() == 8L,
      "prefixed u-descriptor must resolve <root>/<prefix>/deletion_vector_<uuid>.bin")
    // vacuum resolves the same prefixed path for reclamation bookkeeping
    val dry = DeltaTableOps.vacuum(spark, path, retentionHours = 0.0, dryRun = true)
    assert(!dry.exists(_.contains("deletion_vector")),
      s"the live prefixed DV file must never be reclaimable: $dry")
  }

  /** Writer-side type widening (ALTER COLUMN … TYPE): metadata-only —
    * narrow old files widen on read, new appends land wide, the
    * transition records in delta.typeChanges, narrowings refuse. */
  test("widenColumnType flips the declared type; old narrow files still read") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val path = tmp()
    GraftDelta.toDelta(
      (1 to 10).map(i => (i, s"v$i")).toDF("k", "v")
        .select($"k".cast("int").as("k"), $"v"), path)               // v0: INT k
    graft.sql.GraftSql.sql(spark,
      s"ALTER TABLE delta.`$path` ALTER COLUMN k TYPE BIGINT")       // v1
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    assert(snap.schema("k").dataType == LongType)
    assert(snap.protocol.readerFeatures.exists(_.contains("typeWidening")),
      snap.protocol.toString)
    val tc = snap.schema("k").metadata.getMetadataArray("delta.typeChanges")
    assert(tc.length == 1 &&
      tc.head.getString("fromType") == "integer" &&
      tc.head.getString("toType") == "long", tc.mkString(","))
    // a LONG append lands next to the narrow v0 file; both read widened
    GraftDelta.toDelta(Seq((100L, "wide")).toDF("k", "v"), path, mode = "append")
    val got = GraftDelta.readDelta(spark, path)
    assert(got.schema("k").dataType == LongType)
    assert(got.agg(org.apache.spark.sql.functions.sum($"k")).head().getLong(0) ==
      (1 to 10).sum.toLong + 100L)
    // DML through the widened schema still works on the narrow file
    GraftDelta.deleteWhere(spark, path, Seq(Seq(Predicate("k", "<=", 3L))))
    assert(GraftDelta.readDelta(spark, path).count() == 8L)
    // narrowing / cross-family refuse
    val e = intercept[IllegalArgumentException](
      DeltaTableOps.widenColumnType(spark, path, "k", IntegerType))
    assert(e.getMessage.contains("not a protocol type widening"), e.getMessage)
    intercept[IllegalArgumentException](
      DeltaTableOps.widenColumnType(spark, path, "v", LongType))
    intercept[IllegalArgumentException](
      DeltaTableOps.widenColumnType(spark, path, "nope", LongType))
  }

  test("DROP FEATURE deletionVectors walks the full lifecycle gate by gate") {
    import spark.implicits._
    val path = tmp()
    val df = (1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    GraftDelta.toDelta(df.repartitionByRange(4, org.apache.spark.sql.functions.col("id")),
      path)                                                              // v0
    // not listed yet → refuse
    val e0 = intercept[IllegalArgumentException](
      DeltaTableOps.dropFeature(spark, path, "deletionVectors"))
    assert(e0.getMessage.contains("not present"))
    // unsupported feature name → refuse
    intercept[IllegalArgumentException](
      DeltaTableOps.dropFeature(spark, path, "columnMapping"))

    // id<=15 straddles a file boundary, so at least one file is PARTIALLY
    // matched and carries a real DV (a fully-matched file just drops)
    GraftDelta.deleteWhereWithDv(spark, path,
      Seq(Seq(Predicate("id", "<=", 15L))))                              // v1
    assert(DeltaLog.forTable(spark, path).snapshot(None)
      .activeFiles.exists(_.deletionVector.isDefined), "staging needs a DV")
    // in use by active files → refuse, pointing at REORG
    val e1 = intercept[IllegalArgumentException](
      DeltaTableOps.dropFeature(spark, path, "deletionVectors"))
    assert(e1.getMessage.contains("REORG"))

    DeltaMaintenance.reorgPurge(spark, path)                             // v2
    // purged, but history still carries DV actions → refuse w/o TRUNCATE
    val e2 = intercept[IllegalArgumentException](
      DeltaTableOps.dropFeature(spark, path, "deletionVectors"))
    assert(e2.getMessage.contains("TRUNCATE HISTORY"))

    val r = DeltaTableOps.dropFeature(spark, path, "deletionVectors",
      truncateHistory = true)                                            // v3
    assert(r.tableVersion == 3L && r.checkpointed && r.removedLogFiles > 0)
    val log = DeltaLog.forTable(spark, path)
    val p = log.snapshot(None).protocol
    assert(!p.readerFeatures.exists(_.contains("deletionVectors")))
    assert(!p.writerFeatures.exists(_.contains("deletionVectors")))
    // DV was the only table feature → versions downgrade to legacy (1,2)
    assert(p.minReaderVersion == 1 && p.minWriterVersion == 2, p.toString)
    // replay starts at the checkpoint; pre-drop history is gone
    assert(log.listCommitVersions == Seq(3L))
    assert(GraftDelta.readDelta(spark, path).count() == 25)
    intercept[Exception](
      GraftDelta.readDelta(spark, path, version = Some(1L)).count())
    // the table still writes and DMLs normally after the downgrade
    GraftDelta.toDelta(Seq((100L, "x")).toDF("id", "v"), path, mode = "append")
    assert(GraftDelta.readDelta(spark, path).count() == 26)
  }

  test("DROP FEATURE keeps other table features and their versions") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(
      (1 to 20).map(i => (i.toLong, s"v$i")).toDF("id", "v"), path)      // v0
    GraftDelta.enableColumnMapping(spark, path)                          // v1 (reader 3 feature)
    GraftDelta.deleteWhereWithDv(spark, path,
      Seq(Seq(Predicate("id", "<=", 5L))))                               // v2
    DeltaMaintenance.reorgPurge(spark, path)                             // v3
    val r = DeltaTableOps.dropFeature(spark, path, "deletionVectors",
      truncateHistory = true)                                            // v4
    val p = DeltaLog.forTable(spark, path).snapshot(None).protocol
    assert(p.readerFeatures.exists(_.contains("columnMapping")), p.toString)
    assert(!p.readerFeatures.exists(_.contains("deletionVectors")))
    assert(p.minReaderVersion == 3 && p.minWriterVersion == 7, p.toString)
    // the mapped table reads correctly through the post-drop checkpoint
    assert(GraftDelta.readDelta(spark, path).count() == 15)
    assert(r.removedLogFiles > 0)
  }

  test("TRUNCATE HISTORY overrides delta.logRetentionDuration (r12 ADVICE)") {
    import spark.implicits._
    val path = tmp()
    // id<=15 straddles a file boundary so at least one file carries a
    // real DV (a boundary-aligned delete would just drop whole files and
    // REORG would no-op, shifting version numbers)
    GraftDelta.toDelta(
      (1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartitionByRange(4, $"id"), path)                             // v0
    // the table property that used to silently veto the truncation:
    // cleanupLog gave it precedence over the caller's retentionHours, so
    // the drop reported success while DV-bearing commits stayed
    // time-travelable by a DV-unaware reader
    DeltaTableOps.setTableProperties(spark, path,
      Map("delta.logRetentionDuration" -> "interval 30 days"))           // v1
    GraftDelta.deleteWhereWithDv(spark, path,
      Seq(Seq(Predicate("id", "<=", 15L))))                              // v2
    assert(DeltaLog.forTable(spark, path).snapshot(None)
      .activeFiles.exists(_.deletionVector.isDefined), "staging needs a DV")
    DeltaMaintenance.reorgPurge(spark, path)                             // v3
    val r = DeltaTableOps.dropFeature(spark, path, "deletionVectors",
      truncateHistory = true)                                            // v4
    assert(r.tableVersion == 4L && r.removedLogFiles > 0, r.toString)
    val log = DeltaLog.forTable(spark, path)
    assert(log.listCommitVersions == Seq(4L),
      s"retention property must not keep pre-drop history alive: " +
        log.listCommitVersions.mkString(", "))
    intercept[Exception](
      GraftDelta.readDelta(spark, path, version = Some(2L)).count())
    assert(GraftDelta.readDelta(spark, path).count() == 25)
  }

  test("DROP FEATURE changeDataFeed: property gate, cdc-trace gate, legacy downgrade") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1 to 20).map(i => (i.toLong, s"v$i")).toDF("id", "v"), path) // v0
    GraftDelta.enableChangeDataFeed(spark, path)                         // v1
    // enabled property → refuse with the disable hint
    val e0 = intercept[IllegalArgumentException](
      DeltaTableOps.dropFeature(spark, path, "changeDataFeed"))
    assert(e0.getMessage.contains("still enabled"), e0.getMessage)
    // use the feed: a delete writes cdc actions
    GraftDelta.deleteWhere(spark, path, Seq(Seq(Predicate("id", "<=", 3L)))) // v2
    DeltaTableOps.setTableProperties(spark, path,
      Map("delta.enableChangeDataFeed" -> "false"))                      // v3
    // cdc in retained history → refuse without TRUNCATE HISTORY
    val e1 = intercept[IllegalArgumentException](
      DeltaTableOps.dropFeature(spark, path, "changeDataFeed"))
    assert(e1.getMessage.contains("TRUNCATE HISTORY") && e1.getMessage.contains("2"),
      e1.getMessage)
    val r = DeltaTableOps.dropFeature(spark, path, "changeDataFeed",
      truncateHistory = true)                                            // v4
    assert(r.removedLogFiles > 0)
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    // the drop came from a LEGACY (1,4) protocol — the downgrade converts
    // to the features form, enumerating the version's other implied
    // features, with changeDataFeed gone and reader version still 1
    assert(!DeltaLog.legacyWriterFeatures(snap.protocol).contains("changeDataFeed"),
      snap.protocol.toString)
    assert(snap.protocol.minReaderVersion == 1, snap.protocol.toString)
    assert(!snap.metadata.configuration.contains("delta.enableChangeDataFeed"),
      "enablement property strips with the feature")
    assert(GraftDelta.readDelta(spark, path).count() == 17)
  }

  test("DROP FEATURE inCommitTimestamps and rowTracking: no truncation needed") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1 to 20).map(i => (i.toLong, s"v$i")).toDF("id", "v"), path) // v0
    GraftDelta.enableRowTracking(spark, path)
    GraftDelta.enableInCommitTimestamps(spark, path)
    GraftDelta.toDelta(Seq((100L, "x")).toDF("id", "v"), path, mode = "append")
    val preVersions = DeltaLog.forTable(spark, path).listCommitVersions
    DeltaTableOps.setTableProperties(spark, path,
      Map("delta.enableRowTracking" -> "false"))
    DeltaTableOps.setTableProperties(spark, path,
      Map("delta.enableInCommitTimestamps" -> "false"))
    // writer-only bookkeeping in history is benign: both drop plainly
    DeltaTableOps.dropFeature(spark, path, "rowTracking")
    DeltaTableOps.dropFeature(spark, path, "inCommitTimestamps")
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    val feats = snap.protocol.readerFeatures.toSeq.flatten ++
      snap.protocol.writerFeatures.toSeq.flatten
    assert(!feats.contains("rowTracking") && !feats.contains("inCommitTimestamps"),
      feats.toString)
    // history SURVIVES (no truncation): every pre-drop version still lists
    assert(preVersions.toSet.subsetOf(log.listCommitVersions.toSet))
    assert(!snap.domainMetadata.contains("delta.rowTracking"),
      "watermark domain evicts with the feature")
    assert(!snap.metadata.configuration.keys.exists(_.startsWith("delta.inCommitTimestamp")),
      snap.metadata.configuration.toString)
    assert(GraftDelta.readDelta(spark, path, version = Some(0L)).count() == 20,
      "time travel keeps working — nothing was truncated")
  }

  test("DROP FEATURE rowTracking refuses while materialized row-id columns exist") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v"), path)
    GraftDelta.enableRowTracking(spark, path)
    DeltaTableOps.setTableProperties(spark, path, Map(
      RowTracking.MaterializedRowIdProp -> "_row_id_phys",
      RowTracking.MaterializedCommitVersionProp -> "_row_cv_phys"))
    DeltaTableOps.setTableProperties(spark, path,
      Map("delta.enableRowTracking" -> "false"))
    val e = intercept[IllegalArgumentException](
      DeltaTableOps.dropFeature(spark, path, "rowTracking"))
    assert(e.getMessage.contains("materialized"), e.getMessage)
  }

  test("non-truncating drop refuses on DV adds retained only in a checkpoint") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(
      (1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartitionByRange(4, $"id"), path)                             // v0
    GraftDelta.deleteWhereWithDv(spark, path,
      Seq(Seq(Predicate("id", "<=", 15L))))                              // v1: DV adds
    val log = DeltaLog.forTable(spark, path)
    log.writeCheckpoint(1L)            // checkpoint whose adds carry DVs
    DeltaMaintenance.reorgPurge(spark, path)                             // v2
    GraftDelta.toDelta(Seq((100L, "x")).toDF("id", "v"), path, mode = "append") // v3
    log.writeCheckpoint(3L)            // head checkpoint, no DV adds
    // simulate log-retention cleanup having already aged out the commit
    // JSONs: the only remaining DV trace is checkpoint v1's add actions
    val logDir = new java.io.File(path, "_delta_log")
    (0L to 2L).foreach { v =>
      assert(new java.io.File(logDir, f"$v%020d.json").delete(), s"delete $v.json")
    }
    assert(log.listCommitVersions == Seq(3L))
    // a commit-JSON-only scan sees nothing — but time travel to v1
    // replays checkpoint v1 and surfaces its DV adds to a DV-unaware
    // reader, so the non-truncating drop must refuse
    val e = intercept[IllegalArgumentException](
      DeltaTableOps.dropFeature(spark, path, "deletionVectors"))
    assert(e.getMessage.contains("TRUNCATE HISTORY") && e.getMessage.contains("1"),
      e.getMessage)
    // TRUNCATE HISTORY removes the checkpoint along with the history
    val r = DeltaTableOps.dropFeature(spark, path, "deletionVectors",
      truncateHistory = true)                                            // v4
    assert(r.removedLogFiles > 0)
    assert(log.listCheckpointVersions == Seq(4L), log.listCheckpointVersions.toString)
    intercept[Exception](
      GraftDelta.readDelta(spark, path, version = Some(1L)).count())
    assert(GraftDelta.readDelta(spark, path).count() == 26)
  }

  test("DROP FEATURE v2Checkpoint: downgrade checkpoints CLASSIC, reads survive") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1 to 30).map(i => (i.toLong, s"v$i")).toDF("id", "v"), path)
    val log0 = DeltaLog.forTable(spark, path)
    val sn0 = log0.snapshot(None)
    log0.writeCommit(sn0.version + 1, Seq(
      CommitInfo(System.currentTimeMillis(), "UPGRADE PROTOCOL"),
      Protocol(3, 7,
        readerFeatures = Some(Seq("v2Checkpoint")),
        writerFeatures = Some(
          (DeltaLog.legacyWriterFeatures(sn0.protocol) :+ "v2Checkpoint").distinct))))
    log0.writeCheckpoint(1L) // obligation: V2 while the feature is on
    def names(): Seq[String] =
      new java.io.File(path, "_delta_log").listFiles().map(_.getName).toSeq
    val UuidRe = """\d{20}\.checkpoint\.[0-9a-fA-F-]{36}\.(parquet|json)""".r
    assert(names().exists(n => UuidRe.pattern.matcher(n).matches()),
      "v2 table must write uuid-named checkpoints")
    val r = DeltaTableOps.dropFeature(spark, path, "v2Checkpoint")       // v2
    assert(r.checkpointed)
    // the drop's checkpoint is CLASSIC — writeCheckpoint keys on the new
    // protocol — so a feature-less reader replays the head without ever
    // touching a uuid-named file
    assert(names().contains(f"${2L}%020d.checkpoint.parquet"),
      s"drop must checkpoint classic: ${names().sorted}")
    val p = DeltaLog.forTable(spark, path).snapshot(None).protocol
    assert(!(p.readerFeatures.toSeq.flatten ++ p.writerFeatures.toSeq.flatten)
      .contains("v2Checkpoint"), p.toString)
    assert(GraftDelta.readDelta(spark, path).count() == 30)
    // later checkpoints stay classic
    GraftDelta.toDelta(Seq((100L, "x")).toDF("id", "v"), path, mode = "append")
    DeltaLog.forTable(spark, path).writeCheckpoint(3L)
    assert(names().contains(f"${3L}%020d.checkpoint.parquet"))
    assert(GraftDelta.readDelta(spark, path).count() == 31)
  }

  test("DROP FEATURE typeWidening: footer gate, trace gate, metadata strip") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1 to 20).map(i => (i, s"v$i")).toDF("id", "v"), path) // v0: int
    DeltaTableOps.widenColumnType(spark, path, "id",
      org.apache.spark.sql.types.LongType)                               // v1
    // narrow-backed v0 files still active → the distributed footer probe
    // must refuse and name the rewrite
    val e0 = intercept[IllegalArgumentException](
      DeltaTableOps.dropFeature(spark, path, "typeWidening"))
    assert(e0.getMessage.contains("pre-widening physical types"), e0.getMessage)
    DeltaMaintenance.compact(spark, path, minFilesToCompact = 1)         // v2: rewrite
    // rewritten long-backed, but retained metaData still carries
    // delta.typeChanges → refuse without TRUNCATE HISTORY
    val e1 = intercept[IllegalArgumentException](
      DeltaTableOps.dropFeature(spark, path, "typeWidening"))
    assert(e1.getMessage.contains("TRUNCATE HISTORY"), e1.getMessage)
    val r = DeltaTableOps.dropFeature(spark, path, "typeWidening",
      truncateHistory = true)                                            // v3
    assert(r.removedLogFiles > 0)
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    assert(!(snap.protocol.readerFeatures.toSeq.flatten ++
      snap.protocol.writerFeatures.toSeq.flatten).contains("typeWidening"))
    assert(!snap.metadata.schemaString.contains("delta.typeChanges"),
      "the drop must strip the per-field bookkeeping")
    assert(snap.schema("id").dataType == org.apache.spark.sql.types.LongType,
      "the widened type itself survives")
    assert(GraftDelta.readDelta(spark, path).agg(
      org.apache.spark.sql.functions.sum($"id")).head().getLong(0) == 210L)
  }

  test("DROP FEATURE typeWidening gates and strips NESTED struct fields (ADVICE r14)") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val path = tmp()
    // v0: s.k written physically int
    GraftDelta.toDelta(
      (1 to 10).map(i => (i, s"v$i")).toDF("k0", "v")
        .select(struct($"k0".as("k")).as("s"), $"v").coalesce(1), path)
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    // a foreign writer widens the NESTED s.k int→long: typeChanges
    // metadata on the nested StructField, feature on the protocol
    val widened = StructType(snap.schema.fields.map {
      case f if f.name == "s" =>
        val inner = f.dataType.asInstanceOf[StructType]
        StructField("s", StructType(inner.fields.map {
          case g if g.name == "k" =>
            StructField("k", LongType, nullable = true,
              new MetadataBuilder().withMetadata(g.metadata)
                .putMetadataArray("delta.typeChanges", Array(
                  new MetadataBuilder().putString("fromType", "integer")
                    .putString("toType", "long").build())).build())
          case g => g
        }), f.nullable, f.metadata)
      case f => f
    })
    log.writeCommit(1L, Seq(
      CommitInfo(System.currentTimeMillis(), "WIDEN"),
      Protocol(3, 7,
        readerFeatures = Some(Seq("typeWidening")),
        writerFeatures = Some(
          (DeltaLog.legacyWriterFeatures(snap.protocol) :+ "typeWidening").distinct)),
      snap.metadata.copy(schemaString = widened.json)))                   // v1
    // narrow-backed v0 file still active → the footer probe must walk the
    // nested group path and refuse (pre-fix it passed: only top-level
    // fields were collected)
    val e0 = intercept[IllegalArgumentException](
      DeltaTableOps.dropFeature(spark, path, "typeWidening"))
    assert(e0.getMessage.contains("pre-widening physical types"), e0.getMessage)
    // rewrite through the widened schema, then drop with history truncated
    DeltaMaintenance.compact(spark, path, minFilesToCompact = 1)          // v2
    DeltaTableOps.dropFeature(spark, path, "typeWidening",
      truncateHistory = true)                                             // v3
    val snap2 = DeltaLog.forTable(spark, path).snapshot(None)
    assert(!snap2.metadata.schemaString.contains("delta.typeChanges"),
      "the drop must strip NESTED per-field bookkeeping too")
    assert(snap2.schema("s").dataType.asInstanceOf[StructType]("k").dataType == LongType)
    assert(GraftDelta.readDelta(spark, path)
      .agg(org.apache.spark.sql.functions.sum($"s.k")).head().getLong(0) == 55L)
  }

  test("DROP FEATURE typeWidening refuses changes recorded inside array/map types") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(Seq((Seq(1L, 2L), "a"), (Seq(3L), "b")).toDF("arr", "v"), path)
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    // foreign writer records an ELEMENT widening: typeChanges with a
    // fieldPath entry on the array-typed field (the protocol's encoding)
    val widened = StructType(snap.schema.fields.map {
      case f if f.name == "arr" =>
        StructField("arr", f.dataType, f.nullable,
          new MetadataBuilder().withMetadata(f.metadata)
            .putMetadataArray("delta.typeChanges", Array(
              new MetadataBuilder().putString("fromType", "integer")
                .putString("toType", "long")
                .putString("fieldPath", "element").build())).build())
      case f => f
    })
    log.writeCommit(1L, Seq(
      CommitInfo(System.currentTimeMillis(), "WIDEN"),
      Protocol(3, 7,
        readerFeatures = Some(Seq("typeWidening")),
        writerFeatures = Some(
          (DeltaLog.legacyWriterFeatures(snap.protocol) :+ "typeWidening").distinct)),
      snap.metadata.copy(schemaString = widened.json)))
    // the footer probe cannot verify collection-element backing — the
    // drop must refuse conservatively, never pass a narrow-backed file
    val e = intercept[IllegalArgumentException](
      DeltaTableOps.dropFeature(spark, path, "typeWidening"))
    assert(e.getMessage.contains("inside array/map types"), e.getMessage)
  }

  test("DROP FEATURE columnMapping refuses by name with the structural reason") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1 to 5).map(i => (i.toLong, s"v$i")).toDF("id", "v"), path)
    val e = intercept[IllegalArgumentException](
      DeltaTableOps.dropFeature(spark, path, "columnMapping"))
    assert(e.getMessage.contains("not supported") &&
      e.getMessage.contains("physical column names"), e.getMessage)
  }

  // ---- Delta 4.x managed commits + redirects (VERDICT r17 #2) -------------

  test("catalogOwned: reads AND writes refuse BY NAME with the coordinator reason") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1 to 5).map(i => (i.toLong, s"s$i")).toDF("k", "v"), path)
    val log = DeltaLog.forTable(spark, path)
    // foreign upgrade: catalogOwned is a reader+writer feature pair
    log.writeCommit(1L, Seq(
      CommitInfo(System.currentTimeMillis(), "UPGRADE PROTOCOL"),
      Protocol(3, 7,
        readerFeatures = Some(Seq("catalogOwned-preview")),
        writerFeatures = Some(
          (DeltaLog.legacyWriterFeatures(log.snapshot(None).protocol) :+
            "catalogOwned-preview").distinct))))
    val e = intercept[IllegalStateException](GraftDelta.readDelta(spark, path).count())
    assert(e.getMessage.contains("catalogOwned-preview") &&
      e.getMessage.contains("coordinator") && e.getMessage.contains("stale"),
      s"named refusal must explain the coordinator staleness hazard: ${e.getMessage}")
    val e2 = intercept[IllegalStateException] {
      GraftDelta.toDelta(Seq((100L, "x")).toDF("k", "v"), path, mode = "append")
    }
    assert(e2.getMessage.contains("catalogOwned-preview"), e2.getMessage)
  }

  test("coordinatedCommits (writer-scoped): READS refuse too — unbackfilled commits " +
      "make a filesystem snapshot stale") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1 to 5).map(i => (i.toLong, s"s$i")).toDF("k", "v"), path)
    val log = DeltaLog.forTable(spark, path)
    // correctly writer-scoped: readerFeatures untouched — the read gate
    // must still refuse, because the newest commits may live only in the
    // coordinator (this is the one deliberate writerFeatures consult on
    // the read path)
    log.writeCommit(1L, Seq(
      CommitInfo(System.currentTimeMillis(), "UPGRADE PROTOCOL"),
      Protocol(1, 7, writerFeatures = Some(
        (DeltaLog.legacyWriterFeatures(log.snapshot(None).protocol) :+
          "coordinatedCommits-preview").distinct))))
    val e = intercept[IllegalStateException](GraftDelta.readDelta(spark, path).count())
    assert(e.getMessage.contains("coordinatedCommits-preview") &&
      e.getMessage.contains("backfilled"),
      s"named refusal must explain unbackfilled commits: ${e.getMessage}")
    val e2 = intercept[IllegalStateException] {
      GraftDelta.toDelta(Seq((100L, "x")).toDF("k", "v"), path, mode = "append")
    }
    assert(e2.getMessage.contains("coordinatedCommits-preview"), e2.getMessage)
  }

  test("redirectReaderWriter: reads refuse BY NAME with the moved-table reason") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1 to 5).map(i => (i.toLong, s"s$i")).toDF("k", "v"), path)
    val log = DeltaLog.forTable(spark, path)
    log.writeCommit(1L, Seq(
      CommitInfo(System.currentTimeMillis(), "UPGRADE PROTOCOL"),
      Protocol(3, 7,
        readerFeatures = Some(Seq("redirectReaderWriter-preview")),
        writerFeatures = Some(
          (DeltaLog.legacyWriterFeatures(log.snapshot(None).protocol) :+
            "redirectReaderWriter-preview").distinct))))
    val e = intercept[IllegalStateException](GraftDelta.readDelta(spark, path).count())
    assert(e.getMessage.contains("redirectReaderWriter-preview") &&
      e.getMessage.contains("moved"),
      s"named refusal must explain the redirect: ${e.getMessage}")
  }

  test("redirectWriterOnly: reads stay OPEN, writes refuse BY NAME") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1 to 8).map(i => (i.toLong, s"s$i")).toDF("k", "v"), path)
    val log = DeltaLog.forTable(spark, path)
    // writer-scoped: the data at this path is still live for readers;
    // only writes must land at the redirect target
    log.writeCommit(1L, Seq(
      CommitInfo(System.currentTimeMillis(), "UPGRADE PROTOCOL"),
      Protocol(1, 7, writerFeatures = Some(
        (DeltaLog.legacyWriterFeatures(log.snapshot(None).protocol) :+
          "redirectWriterOnly-preview").distinct))))
    assert(GraftDelta.readDelta(spark, path).count() == 8L,
      "redirectWriterOnly is writer-scoped; reads at this path must stay open")
    val e = intercept[IllegalStateException] {
      GraftDelta.toDelta(Seq((100L, "x")).toDF("k", "v"), path, mode = "append")
    }
    assert(e.getMessage.contains("redirectWriterOnly-preview") &&
      e.getMessage.contains("redirect") &&
      e.getMessage.contains("reads at this path remain supported"), e.getMessage)
    val e2 = intercept[IllegalStateException](
      GraftDelta.deleteWhere(spark, path, Seq(Seq(Predicate("k", "<", 5L)))))
    assert(e2.getMessage.contains("redirectWriterOnly-preview"), e2.getMessage)
  }

  // ---- the feature-upgrade rule, op by op --------------------------------

  /** Every feature-enabling operation from three starting protocols, and
    * the three create paths that carry features: each commit's `protocol`
    * action (None: the commit carries none) is pinned to the literal the
    * per-operation upgrade code wrote before the rule was shared. */
  test("every feature-enabling op commits the pinned protocol from (1,2), (2,5) and (3,7)") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, MetadataBuilder}
    val ao = Seq("appendOnly", "invariants")
    val v5 = ao ++ Seq("checkConstraints", "changeDataFeed", "generatedColumns", "columnMapping")
    val dv = Seq("deletionVectors")
    def p(r: Int, w: Int, rf: Seq[String] = null, wf: Seq[String] = null) =
      Some(Protocol(r, w, Option(rf), Option(wf)))
    val starts: Seq[(String, Option[Protocol])] = Seq(
      "(1,2)" -> None,
      "(2,5)" -> Some(Protocol(2, 5)),
      "(3,7)+DV" -> Some(Protocol(3, 7, Some(dv), Some(ao ++ dv))))
    val ops: Seq[(String, String => Unit)] = Seq(
      "CDF" -> (t => DeltaTableOps.enableChangeDataFeed(spark, t)),
      "CHECK" -> (t => DeltaTableOps.addCheckConstraint(spark, t, "pos", "id > 0")),
      "columnMapping" -> (t => DeltaTableOps.enableColumnMapping(spark, t)),
      "CLUSTER BY" -> (t => DeltaTableOps.clusterBy(spark, t, Seq("id"))),
      "typeWidening" -> (t => DeltaTableOps.widenColumnType(spark, t, "n", LongType)),
      "ICT" -> (t => DeltaTableOps.enableInCommitTimestamps(spark, t)),
      "rowTracking" -> (t => RowTracking.enable(spark, t)),
      "SET DEFAULT" -> (t => DeltaTableOps.setColumnDefault(spark, t, "v", "'x'")),
      "DV DELETE" -> (t => GraftDelta.deleteWhereWithDv(spark, t,
        Seq(Seq(Predicate("id", "==", 1L))))))
    val expected: Map[(String, String), Option[Protocol]] = Map(
      ("(1,2)", "CDF") -> p(1, 4),
      ("(1,2)", "CHECK") -> p(1, 3),
      ("(1,2)", "columnMapping") -> p(2, 5),
      ("(1,2)", "CLUSTER BY") -> p(1, 7, wf = ao ++ Seq("clustering", "domainMetadata")),
      ("(1,2)", "typeWidening") -> p(3, 7, Seq("typeWidening"), ao :+ "typeWidening"),
      ("(1,2)", "ICT") -> p(1, 7, wf = ao :+ "inCommitTimestamp"),
      ("(1,2)", "rowTracking") -> p(1, 7, wf = ao ++ Seq("rowTracking", "domainMetadata")),
      ("(1,2)", "SET DEFAULT") -> p(1, 7, wf = ao :+ "allowColumnDefaults"),
      ("(1,2)", "DV DELETE") -> p(3, 7, dv, ao ++ dv),
      ("(2,5)", "CDF") -> None,
      ("(2,5)", "CHECK") -> None,
      ("(2,5)", "columnMapping") -> None,
      ("(2,5)", "CLUSTER BY") -> p(2, 7, wf = v5 ++ Seq("clustering", "domainMetadata")),
      ("(2,5)", "typeWidening") ->
        p(3, 7, Seq("columnMapping", "typeWidening"), v5 :+ "typeWidening"),
      ("(2,5)", "ICT") -> p(2, 7, wf = v5 :+ "inCommitTimestamp"),
      ("(2,5)", "rowTracking") -> p(2, 7, wf = v5 ++ Seq("rowTracking", "domainMetadata")),
      ("(2,5)", "SET DEFAULT") -> p(2, 7, wf = v5 :+ "allowColumnDefaults"),
      ("(2,5)", "DV DELETE") -> p(3, 7, Seq("columnMapping") ++ dv, v5 ++ dv),
      ("(3,7)+DV", "CDF") -> p(3, 7, dv, ao ++ dv :+ "changeDataFeed"),
      ("(3,7)+DV", "CHECK") -> p(3, 7, dv, ao ++ dv :+ "checkConstraints"),
      ("(3,7)+DV", "columnMapping") -> p(3, 7, dv :+ "columnMapping", ao ++ dv :+ "columnMapping"),
      ("(3,7)+DV", "CLUSTER BY") ->
        p(3, 7, dv, ao ++ dv ++ Seq("clustering", "domainMetadata")),
      ("(3,7)+DV", "typeWidening") -> p(3, 7, dv :+ "typeWidening", ao ++ dv :+ "typeWidening"),
      ("(3,7)+DV", "ICT") -> p(3, 7, dv, ao ++ dv :+ "inCommitTimestamp"),
      ("(3,7)+DV", "rowTracking") -> p(3, 7, dv, ao ++ dv ++ Seq("rowTracking", "domainMetadata")),
      ("(3,7)+DV", "SET DEFAULT") -> p(3, 7, dv, ao ++ dv :+ "allowColumnDefaults"),
      ("(3,7)+DV", "DV DELETE") -> None)
    def committed(t: String): Option[Protocol] = {
      val log = DeltaLog.forTable(spark, t)
      log.readCommitActions(log.latestVersion).collectFirst { case q: Protocol => q }
    }
    val got = for ((start, proto) <- starts; (op, run) <- ops) yield {
      val t = tmp()
      GraftDelta.toDelta(Seq((1L, 1, "a"), (2L, 2, "b")).toDF("id", "n", "v"), t)
      proto.foreach(q => DeltaLog.forTable(spark, t).writeCommit(1L,
        Seq(CommitInfo(System.currentTimeMillis(), "UPGRADE PROTOCOL"), q)))
      run(t)
      (start, op) -> committed(t)
    }

    // the create paths: identity + row tracking, a TIMESTAMP_NTZ column,
    // and CONVERT of a lake with one
    val ntz = Seq((1L, java.time.LocalDateTime.parse("2021-03-01T10:30:00"))).toDF("k", "ts")
    val identity = new MetadataBuilder().putLong("delta.identity.start", 1L)
      .putLong("delta.identity.step", 1L)
      .putBoolean("delta.identity.allowExplicitInsert", true).build()
    val idRt = tmp()
    GraftDelta.toDelta(Seq((1L, "a")).toDF("id", "v")
      .withColumn("id", col("id").as("id", identity)), idRt,
      configuration = Map(RowTracking.Prop -> "true"))
    val ntzT = tmp()
    GraftDelta.toDelta(ntz, ntzT)
    val lake = tmp()
    ntz.write.parquet(lake)
    GraftDelta.convertToDelta(spark, lake)
    val creates = Seq(
      ("create", "identity + rowTracking") -> committed(idRt),
      ("create", "TIMESTAMP_NTZ") -> committed(ntzT),
      ("create", "CONVERT TIMESTAMP_NTZ") -> committed(lake))
    val ntzProto = p(3, 7, Seq("timestampNtz"), ao :+ "timestampNtz")
    val expectedCreates = Map(
      ("create", "identity + rowTracking") -> p(1, 7, wf = v5 ++
        Seq("identityColumns", "rowTracking", "domainMetadata")),
      ("create", "TIMESTAMP_NTZ") -> ntzProto,
      ("create", "CONVERT TIMESTAMP_NTZ") -> ntzProto)

    val wrong = (got ++ creates).filter { case (k, v) => (expected ++ expectedCreates)(k) != v }
    assert(wrong.isEmpty, wrong.map { case (k, v) =>
      s"$k: committed $v, pinned ${(expected ++ expectedCreates)(k)}" }.mkString("\n", "\n", ""))
  }
}
