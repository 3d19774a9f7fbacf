package graft.delta

import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Orphan-file vacuum (r12 VERDICT next-round #1): directory-listing
  * mode reclaims crashed-write debris no log action references, while
  * everything any retained version knows — active files, in-retention
  * tombstones, DV files, shallow-clone sources, hidden trees — is
  * untouchable. */
class VacuumOrphanSpec extends GraftSuite {

  private def tmp(): String = {
    val d = Files.createTempDirectory("graft_vo")
    d.toFile.deleteOnExit()
    s"$d/tbl"
  }

  private val OldMs = 10L * 24 * 3600 * 1000 // 10 days

  private def age(path: String): Unit = {
    val f = new java.io.File(path)
    assert(f.exists(), s"cannot age missing file $path")
    assert(f.setLastModified(System.currentTimeMillis() - OldMs))
  }

  private def plant(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val out = new java.io.FileOutputStream(f)
    out.write("debris".getBytes); out.close()
  }

  test("orphan mode deletes aged debris, keeps young/referenced/hidden files") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(
      (1 to 60).map(i => (i.toLong, s"v$i", i % 3)).toDF("id", "v", "g"),
      path, partitionBy = Seq("g"))                                      // v0
    // a DV delete so a live deletion-vector file exists at the root
    GraftDelta.deleteWhereWithDv(spark, path,
      Seq(Seq(Predicate("id", "<=", 10L))))                              // v1
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    val dvRel = snap.activeFiles.flatMap(_.deletionVector)
      .filter(_.storageType == "u")
      .map(d => DeletionVectors.relativeDvName(d.pathOrInlineDv)).head
    val dvAbs = s"$path/$dvRel"
    // crashed-write debris: aged orphans at the root and inside a
    // partition directory → reclaim; a YOUNG orphan (a concurrent
    // writer's staged file looks exactly like this) → keep; debris in
    // hidden trees → never a candidate
    plant(s"$path/part-crashed-root.snappy.parquet"); age(s"$path/part-crashed-root.snappy.parquet")
    plant(s"$path/g=1/part-crashed-part.snappy.parquet"); age(s"$path/g=1/part-crashed-part.snappy.parquet")
    plant(s"$path/part-staged-young.snappy.parquet")
    plant(s"$path/_staging/leftover.parquet"); age(s"$path/_staging/leftover.parquet")
    plant(s"$path/.hidden-debris"); age(s"$path/.hidden-debris")
    // an ACTIVE data file and the LIVE DV file with ancient mtimes:
    // reference-protection, not age, is what keeps them alive
    val activeAbs = s"$path/${snap.activeFiles.head.path}"
    age(activeAbs)
    age(dvAbs)

    // default-off: the reference-parity tombstone mode must not list them
    assert(DeltaTableOps.vacuum(spark, path, retentionHours = 168.0).isEmpty)
    // dry run names exactly the two aged orphans and deletes nothing
    val dry = DeltaTableOps.vacuum(spark, path, retentionHours = 168.0,
      includeOrphans = true)
    assert(dry.map(p => DeltaRead.resolvePath(path, p)).toSet == Set(
      s"$path/part-crashed-root.snappy.parquet",
      s"$path/g=1/part-crashed-part.snappy.parquet"), dry.toString)
    assert(new java.io.File(s"$path/part-crashed-root.snappy.parquet").exists())

    val deleted = DeltaTableOps.vacuum(spark, path, retentionHours = 168.0,
      dryRun = false, includeOrphans = true)
    assert(deleted.toSet == dry.toSet)
    assert(!new java.io.File(s"$path/part-crashed-root.snappy.parquet").exists())
    assert(!new java.io.File(s"$path/g=1/part-crashed-part.snappy.parquet").exists())
    assert(new java.io.File(s"$path/part-staged-young.snappy.parquet").exists(),
      "in-retention orphan must survive (could be a concurrent writer's staging)")
    assert(new java.io.File(s"$path/_staging/leftover.parquet").exists(),
      "hidden trees are never orphan candidates")
    assert(new java.io.File(s"$path/.hidden-debris").exists())
    assert(new java.io.File(activeAbs).exists(), "active file survives any age")
    assert(new java.io.File(dvAbs).exists(), "live DV file survives any age")
    assert(GraftDelta.readDelta(spark, path).count() == 50)
  }

  test("files referenced only by retained history survive; clone sources are safe") {
    import spark.implicits._
    val src = tmp()
    GraftDelta.toDelta((1L to 30L).toDF("k"), src)                       // v0
    val v0Files = DeltaLog.forTable(spark, src).snapshot(None)
      .activeFiles.map(f => s"$src/${f.path}")
    // overwrite: v0's files become in-retention tombstones — referenced
    // by the retained log, so orphan mode must keep them even when aged
    GraftDelta.toDelta((31L to 40L).toDF("k"), src, mode = "overwrite")  // v1
    v0Files.foreach(age)
    val out = DeltaTableOps.vacuum(spark, src, retentionHours = 168.0,
      dryRun = false, includeOrphans = true)
    assert(out.isEmpty, out.toString)
    v0Files.foreach(p => assert(new java.io.File(p).exists(),
      s"tombstoned-in-retention file must survive orphan vacuum: $p"))
    assert(GraftDelta.readDelta(spark, src, version = Some(0L)).count() == 30)

    // a shallow clone references the source's files by absolute path —
    // vacuuming the CLONE lists only the clone's root, so the source
    // tree is structurally unreachable
    val target = s"${Files.createTempDirectory("graft_vo_clone")}/clone"
    GraftDelta.shallowClone(spark, src, target)
    // RETAIN 0 in orphan mode needs the explicit retention-check override
    // (exercised here on purpose — the clone's root holds no orphans)
    spark.conf.set("spark.graft.vacuum.orphanRetentionCheck", "false")
    val cloneOut =
      try DeltaTableOps.vacuum(spark, target, retentionHours = 0.0,
        dryRun = false, includeOrphans = true)
      finally spark.conf.unset("spark.graft.vacuum.orphanRetentionCheck")
    assert(cloneOut.isEmpty, cloneOut.toString)
    assert(GraftDelta.readDelta(spark, target).count() == 10)
    assert(GraftDelta.readDelta(spark, src).count() == 10)
  }

  test("orphan mode refuses sub-hour retention unless the check is disabled") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1L to 10L).toDF("k"), path)
    // a concurrent writer's freshly-staged file is indistinguishable from
    // an orphan — only the mtime window protects it, so RETAIN 0 HOURS
    // must refuse (delta-spark's retentionDurationCheck analogue)
    val e = intercept[IllegalArgumentException] {
      DeltaTableOps.vacuum(spark, path, retentionHours = 0.0,
        includeOrphans = true)
    }
    assert(e.getMessage.contains("orphanRetentionCheck"), e.getMessage)
    // tombstone-only mode is unaffected (reference parity: retention is
    // the caller's choice there; removes carry explicit timestamps)
    assert(DeltaTableOps.vacuum(spark, path, retentionHours = 0.0).isEmpty)
    // explicit override is honored
    spark.conf.set("spark.graft.vacuum.orphanRetentionCheck", "false")
    try assert(DeltaTableOps.vacuum(spark, path, retentionHours = 0.0,
      includeOrphans = true).isEmpty)
    finally spark.conf.unset("spark.graft.vacuum.orphanRetentionCheck")
  }

  test("distributed orphan vacuum ABORTS on a torn commit body (ADVICE r14)") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1L to 20L).toDF("k"), path)                       // v0
    GraftDelta.toDelta((21L to 30L).toDF("k"), path, mode = "append")     // v1
    val log = DeltaLog.forTable(spark, path)
    log.writeCheckpoint(1L)
    GraftDelta.toDelta((31L to 40L).toDF("k"), path, mode = "append")     // v2
    // tear v0's body: the driver replay anchors at the checkpoint and
    // never reads it, but the distributed reference read scans EVERY
    // commit JSON — in PERMISSIVE mode the torn line silently became an
    // all-null row and v0's add dropped out of the referenced set,
    // naming a still-referenced file an orphan
    val v0 = new java.io.File(log.commitFile(0L).toUri.getPath)
    val out = new java.io.FileOutputStream(v0, /*append=*/ true)
    try out.write("{\"add\":{\"pa".getBytes) finally out.close()
    log.invalidateCache()
    val e = intercept[Exception] {
      DeltaTableOps.vacuum(spark, path, retentionHours = 168.0,
        dryRun = true, includeOrphans = true, distributedListThreshold = 0)
    }
    val msg = (e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse(""))
      .toLowerCase
    assert(msg.contains("malformed") || msg.contains("failfast") ||
      msg.contains("parse"), s"expected a FAILFAST parse abort, got: $e")
  }

  test("distributed listing (threshold 0) finds the same orphans as driver-side") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(
      (1 to 40).map(i => (i.toLong, i % 4)).toDF("id", "g"),
      path, partitionBy = Seq("g"))
    plant(s"$path/g=2/part-crashed.snappy.parquet"); age(s"$path/g=2/part-crashed.snappy.parquet")
    val driver = DeltaTableOps.vacuum(spark, path, retentionHours = 168.0,
      includeOrphans = true)
    val (dist, jobs) = TestBase.jobsDuring(DeltaTableOps.vacuum(spark, path,
      retentionHours = 168.0, includeOrphans = true, distributedListThreshold = 0))
    assert(TestBase.fanOutJobs(jobs) == 1, jobs.map(_.jobId))
    assert(driver == dist &&
      driver.map(p => DeltaRead.resolvePath(path, p)) ==
        Seq(s"$path/g=2/part-crashed.snappy.parquet"),
      s"driver=$driver dist=$dist")
    // SQL surface: INCLUDE ORPHANS + DRY RUN round-trips the same list
    val viaSql = graft.sql.GraftSql.sql(spark,
      s"VACUUM delta.`$path` RETAIN 168 HOURS INCLUDE ORPHANS DRY RUN")
      .as[String].collect().toSeq
    assert(viaSql == driver, viaSql.toString)
  }
}
