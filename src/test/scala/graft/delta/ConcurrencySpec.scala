package graft.delta

import java.nio.file.Files
import java.time.Instant
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** Optimistic concurrency: blind appends retry past concurrent winners;
  * logical conflicts (schema/protocol/txn) abort. */
class ConcurrencySpec extends GraftSuite {

  private def tmp(): String = {
    val d = Files.createTempDirectory("graft_cc")
    d.toFile.deleteOnExit()
    s"$d/tbl"
  }

  private def plainCommit(log: DeltaLog, v: Long, extra: Seq[Action] = Nil): Unit =
    log.writeCommit(v, Seq(CommitInfo(
      timestamp = Instant.now().toEpochMilli, operation = "WRITE",
      operationParameters = Map("mode" -> "Append"),
      operationMetrics = Map.empty, readVersion = Some(v - 1),
      isBlindAppend = Some(true))) ++ extra)

  test("a lost append race re-commits at the new head") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(Seq((1L, "a")).toDF("id", "v"), path)
    val log = DeltaLog.forTable(spark, path)
    plainCommit(log, 1) // someone else won version 1
    val got = log.optimisticCommit(Some(log.snapshot(Some(0L))),
      v => Seq(CommitInfo(Instant.now().toEpochMilli, "WRITE",
        Map("mode" -> "Append"), Map.empty, Some(v - 1), Some(true))),
      _ => false, staged = Nil)
    assert(got == 2L, s"retry must land at version 2, got $got")
    assert(log.latestVersion == 2L)
  }

  test("interleaved schema/protocol/txn changes abort the retry") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(Seq((1L, "a")).toDF("id", "v"), path)
    val log = DeltaLog.forTable(spark, path)
    val meta = log.snapshot(None)
    plainCommit(log, 1, Seq(MetadataAction(
      id = "x", name = None, description = None,
      schemaString = meta.schema.json, partitionColumns = Nil,
      configuration = Map.empty, createdTime = None)))
    intercept[java.util.ConcurrentModificationException] {
      log.optimisticCommit(Some(log.snapshot(Some(0L))),
        v => Seq(CommitInfo(Instant.now().toEpochMilli, "WRITE",
          Map("mode" -> "Append"), Map.empty, Some(v - 1), Some(true))),
        _ => false, staged = Nil)
    }

    val path2 = tmp()
    GraftDelta.toDelta(Seq((1L, "a")).toDF("id", "v"), path2)
    val log2 = DeltaLog.forTable(spark, path2)
    plainCommit(log2, 1, Seq(SetTransaction("sink-app", 7L)))
    intercept[java.util.ConcurrentModificationException] {
      log2.optimisticCommit(Some(log2.snapshot(Some(0L))),
        v => Seq(CommitInfo(Instant.now().toEpochMilli, "WRITE",
          Map("mode" -> "Append"), Map.empty, Some(v - 1), Some(true)),
          SetTransaction("sink-app", 8L)),
        _ => false, staged = Nil)
    }
    // a different appId does not conflict
    val ok = log2.optimisticCommit(Some(log2.snapshot(Some(0L))),
      v => Seq(CommitInfo(Instant.now().toEpochMilli, "WRITE",
        Map("mode" -> "Append"), Map.empty, Some(v - 1), Some(true)),
        SetTransaction("other-app", 1L)),
      _ => false, staged = Nil)
    assert(ok == 2L)
  }

  test("concurrent appends from many threads all land; no rows lost") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(Seq((-1L, "seed")).toDF("id", "v").repartition(1), path)
    val writers = 6
    val futures = (0 until writers).map { w =>
      Future {
        val rows = (0 until 10).map(i => ((w * 100 + i).toLong, s"w$w"))
        GraftDelta.toDelta(rows.toDF("id", "v").repartition(1), path, mode = "append")
      }
    }
    Await.result(Future.sequence(futures), 300.seconds)
    val log = DeltaLog.forTable(spark, path)
    assert(log.latestVersion == writers.toLong,
      s"expected ${writers + 1} contiguous commits, head=${log.latestVersion}")
    val back = GraftDelta.readDelta(spark, path)
    assert(back.count() == 1 + writers * 10, "every append's rows must survive the race")
    // all appends committed exactly once
    val ids = back.select("id").as[Long].collect().toSet
    assert((0 until writers).forall(w => ids.contains(w * 100L + 9L)))
  }

  /** DML optimistic concurrency: a lost race re-commits at the new head
    * when every interleaved winner is logically disjoint (appends to
    * other partitions, OPTIMIZE rewrites of untouched files), and
    * aborts on write-write overlap, predicate-matching phantom adds, or
    * metadata/protocol changes. Exercised at the arbitration level so
    * each branch of the conflict matrix is deterministic. */
  test("DML commit rebases past disjoint winners; aborts on real conflicts") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(Seq((1L, "a"), (2L, "b")).toDF("id", "p"), path,
      partitionBy = Seq("p"))
    val log = DeltaLog.forTable(spark, path)
    val snap = log.snapshot(None)
    val fileA = snap.activeFiles.find(_.partitionValues.get("p").contains("a")).get
    val filters = Seq(Seq(Predicate("p", "==", "a")))
    val matcher = StatsPruning.fileTest(snap, filters, StatsPruning.May)
    def ourActions(rv: Long): Seq[Action] = Seq(
      CommitInfo(1L, "DELETE", readVersion = Some(rv), isBlindAppend = Some(false)),
      RemoveFile(fileA.path, Some(1L), dataChange = true,
        partitionValues = fileA.partitionValues))
    def attempt(v: Long) = log.optimisticCommit(
      Some(log.snapshot(Some(v - 1))), cv => ourActions(cv - 1), matcher, staged = Nil)

    // disjoint blind append to partition b → rebase succeeds at head+1
    plainCommit(log, 1, Seq(AddFile("p=b/w1.parquet", Map("p" -> "b"))))
    assert(attempt(1) == 2L)

    // phantom: winner adds rows in partition a (matches our predicate)
    plainCommit(log, 3, Seq(AddFile("p=a/w2.parquet", Map("p" -> "a"))))
    val e1 = intercept[java.util.ConcurrentModificationException](attempt(3))
    assert(e1.getMessage.contains("Phantom"), e1.getMessage)

    // write-write: winner removed the same file we remove
    plainCommit(log, 4, Seq(RemoveFile(fileA.path, Some(2L), dataChange = true)))
    val e2 = intercept[java.util.ConcurrentModificationException](attempt(4))
    assert(e2.getMessage.contains("Write-write"), e2.getMessage)

    // metadata change → stale plan, abort
    plainCommit(log, 5, Seq(MetadataAction(id = "m2",
      schemaString = snap.schema.json, partitionColumns = Seq("p"))))
    val e3 = intercept[java.util.ConcurrentModificationException](attempt(5))
    assert(e3.getMessage.contains("metadata"), e3.getMessage)

    // OPTIMIZE of an untouched file (dataChange=false rewrite) → rebase
    plainCommit(log, 6, Seq(
      AddFile("p=b/compact.parquet", Map("p" -> "b"), dataChange = false),
      RemoveFile("p=b/w1.parquet", Some(3L), dataChange = false)))
    assert(attempt(6) == 7L)
  }

  /** Start a watcher that fires `winner` the moment an operation's staging
    * dir (named `prefix`…) appears under the table root — i.e.
    * deterministically INSIDE the window between the operation's snapshot
    * and its commit attempt. */
  private def raceIntoStagingWindow(path: String, prefix: String)(winner: => Unit): Thread = {
    val t = new Thread(() => {
      val root = new java.io.File(path)
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline &&
        !Option(root.listFiles()).exists(_.exists(
          _.getName.startsWith(prefix)))) Thread.sleep(1)
      winner
    })
    t.start()
    t
  }

  test("mapped-partition DELETE and UPDATE abort on a phantom add into their partition") {
    import org.apache.spark.sql.functions.lit
    Seq("DELETE", "UPDATE").foreach { op =>
      // lang is logged under its physical name col-p9
      val path = ColumnMappingSpec.stagePartitioned(spark, tmp())
      val log = DeltaLog.forTable(spark, path)
      // the winner's file (key 9 in en), staged before the race
      val phantom = ColumnMappingSpec.stagePart(spark, path, "en", Seq((9L, "w")))
      // both operations rewrite the en file: the winner commits while
      // they stage it, after they read v0
      val watcher = raceIntoStagingWindow(path, ".graft_dml_") {
        log.writeCommit(1L, Seq(
          CommitInfo(Instant.now().toEpochMilli, "WRITE",
            operationParameters = Map("mode" -> "Append"),
            readVersion = Some(0L), isBlindAppend = Some(true)),
          phantom))
      }
      val e = intercept[java.util.ConcurrentModificationException] {
        if (op == "DELETE")
          GraftDelta.deleteWhere(spark, path,
            Seq(Seq(Predicate("lang", "==", "en"), Predicate("key", ">=", 2L))))
        else
          GraftDelta.updateWhere(spark, path, Seq(Seq(Predicate("lang", "==", "en"))),
            Map("value" -> lit("u")))
      }
      watcher.join()
      assert(e.getMessage.contains("Phantom"), s"$op: ${e.getMessage}")
      assert(log.latestVersion == 1L, s"$op must not commit past the phantom")
      assert(GraftDelta.readDelta(spark, path).filter("key = 9 AND value = 'w'").count() == 1L)
    }
  }

  test("OPTIMIZE rebases past a concurrent disjoint append; BOTH commit (VERDICT r14 #1)") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(Seq((1L, "a")).toDF("id", "v"), path)               // v0
    GraftDelta.toDelta(Seq((2L, "b")).toDF("id", "v"), path, mode = "append") // v1
    GraftDelta.toDelta(Seq((3L, "c")).toDF("id", "v"), path, mode = "append") // v2
    val log = DeltaLog.forTable(spark, path)
    // a REAL parquet file for the winner's append, staged before the race
    val stage = Files.createTempDirectory("graft_cc_app")
    Seq((100L, "x")).toDF("id", "v").coalesce(1).write.parquet(s"$stage/p")
    val part = new java.io.File(s"$stage/p").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val appended = new java.io.File(path, "appended.parquet")
    Files.move(part.toPath, appended.toPath)
    val watcher = raceIntoStagingWindow(path, ".graft_compact_") {
      log.writeCommit(3L, Seq(
        CommitInfo(Instant.now().toEpochMilli, "WRITE",
          operationParameters = Map("mode" -> "Append"),
          readVersion = Some(2L), isBlindAppend = Some(true)),
        AddFile("appended.parquet", Map.empty, size = appended.length(),
          modificationTime = appended.lastModified(), dataChange = true)))
    }
    // OPTIMIZE snapshots at v2, loses v3 to the append, REBASES to v4:
    // dataChange=false makes the concurrent append a non-conflict — the
    // new file simply stays uncompacted
    DeltaMaintenance.compact(spark, path, minFilesToCompact = 1)
    watcher.join()
    assert(log.latestVersion == 4L,
      s"append at v3 and rebased OPTIMIZE at v4 must BOTH commit (head=${log.latestVersion})")
    val hist = DeltaTableOps.history(spark, path)
      .select("version", "operation").as[(Long, String)].collect().toMap
    assert(hist(3L) == "WRITE" && hist(4L) == "OPTIMIZE", hist.toString)
    assert(GraftDelta.readDelta(spark, path)
      .select(org.apache.spark.sql.functions.sum($"id")).head().getLong(0) == 106L,
      "no rows lost on either side of the race")
  }

  test("OPTIMIZE aborts when a winner removes one of its input files (incl. DV re-add)") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(Seq((1L, "a")).toDF("id", "v"), path)               // v0
    GraftDelta.toDelta(Seq((2L, "b")).toDF("id", "v"), path, mode = "append") // v1
    val log = DeltaLog.forTable(spark, path)
    val victim = log.snapshot(None).activeFiles.head
    // the winner DVs the victim: remove + same-path re-add with a DV
    // descriptor — the protocol shape of a concurrent DV DELETE. The
    // write-write rule must catch the remove of OPTIMIZE's input file.
    val treeBefore = TestBase.tableTree(path)
    val watcher = raceIntoStagingWindow(path, ".graft_compact_") {
      log.writeCommit(2L, Seq(
        CommitInfo(Instant.now().toEpochMilli, "DELETE",
          readVersion = Some(1L), isBlindAppend = Some(false)),
        RemoveFile(victim.path, Some(Instant.now().toEpochMilli),
          dataChange = true, partitionValues = victim.partitionValues),
        AddFile(victim.path, victim.partitionValues, size = victim.size,
          modificationTime = victim.modificationTime, dataChange = true,
          deletionVector = Some(DeletionVectorDescriptor(
            storageType = "i", pathOrInlineDv = "EAEAAAE=",
            sizeInBytes = 5, cardinality = 1)))))
    }
    val e = intercept[java.util.ConcurrentModificationException](
      DeltaMaintenance.compact(spark, path, minFilesToCompact = 1))
    watcher.join()
    assert(e.getMessage.contains("Write-write") ||
      Option(e.getCause).exists(_.getMessage.contains("Write-write")), e.toString)
    // staged rewrites were cleaned up: the tree outside the log is what
    // it was, and its data files are exactly the ones the log references
    val treeAfter = TestBase.tableTree(path)
    assert(treeAfter == treeBefore, "aborted OPTIMIZE must clean its staged files: " +
      s"new ${treeAfter -- treeBefore}, gone ${treeBefore -- treeAfter}")
    assert(log.latestVersion == 2L)
    val logged = log.snapshot(None).activeFiles
      .map(f => new org.apache.hadoop.fs.Path(DeltaRead.resolvePath(path, f.path)).toUri.getPath)
    assert(treeAfter.filter(_.endsWith(".parquet")).map(r => s"$path/$r") == logged.toSet,
      s"data files on disk vs log: $treeAfter vs $logged")
  }

  /** A domain-metadata winner aborts only commits that are not blind
    * appends: an append's actions assume nothing about a clustering
    * domain, a DML's plan does. The winner is the CLUSTER BY commit shape
    * on a table already at writer 7 with `clustering`: commitInfo plus
    * the `delta.clustering` domain, no protocol action. */
  test("a blind append rebases past a clustering-domain winner; DML aborts on it") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), path) // v0
    DeltaTableOps.clusterBy(spark, path, Seq("id"))                                  // v1
    val log = DeltaLog.forTable(spark, path)
    val w1 = raceIntoStagingWindow(path, ".graft_staging_") {
      DeltaTableOps.clusterBy(spark, path, Seq("v"))                                 // v2
    }
    GraftDelta.toDelta(Seq((3L, "c")).toDF("id", "v"), path, mode = "append")        // v3
    w1.join()
    assert(log.readCommitActions(2L).collect { case p: Protocol => p }.isEmpty)
    val hist = DeltaTableOps.history(spark, path)
      .select("version", "operation").as[(Long, String)].collect().toMap
    assert(hist(2L) == "CLUSTER BY" && hist(3L) == "WRITE", hist.toString)

    val w2 = raceIntoStagingWindow(path, ".graft_dml_") {
      DeltaTableOps.clusterBy(spark, path, Seq("id"))                                // v4
    }
    val e = intercept[java.util.ConcurrentModificationException](
      DeltaDml.delete(spark, path, Seq(Seq(Predicate("id", "==", 1L)))))
    w2.join()
    assert(e.getMessage.contains("domain-metadata"), e.getMessage)
    assert(log.latestVersion == 4L)
    assert(GraftDelta.readDelta(spark, path).select($"id").as[Long].collect().sorted
      .sameElements(Seq(1L, 2L, 3L)), "the appended row committed; the aborted delete did not")
  }

  test("a DV UPDATE on a CDF table that loses a write-write race leaves no staged files") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1L to 4L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1), path,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))                 // v0
    val log = DeltaLog.forTable(spark, path)
    val victim = log.snapshot(None).activeFiles.head
    val root = new java.io.File(path)
    def files(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
          .filterNot(_.getName == "_delta_log").flatMap(walk)
        else Seq(f)
      walk(root).map(_.getPath.stripPrefix(root.getPath)).toSet
    }
    val before = files()
    // the winner removes the file the UPDATE DVs, once the UPDATE has
    // written its DV file and is staging its postimage rows
    val watcher = raceIntoStagingWindow(path, ".graft_dml_") {
      log.writeCommit(1L, Seq(
        CommitInfo(Instant.now().toEpochMilli, "DELETE",
          readVersion = Some(0L), isBlindAppend = Some(false)),
        RemoveFile(victim.path, Some(Instant.now().toEpochMilli),
          dataChange = true, partitionValues = victim.partitionValues)))
    }
    val e = intercept[java.util.ConcurrentModificationException](
      DeltaDml.updateWithDv(spark, path, Seq(Seq(Predicate("id", "==", 2L))),
        Map("v" -> org.apache.spark.sql.functions.lit("x"))))
    watcher.join()
    assert(e.getMessage.contains("Write-write"), e.getMessage)
    assert(log.latestVersion == 1L, "the head is the winner's version")
    val debris = files() -- before
    assert(debris.isEmpty,
      s"the lost UPDATE must delete its DV, staged parquet and _change_data files: $debris")
  }

  test("a RESTORE on a CDF table that loses the race leaves no change-data files") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1L to 4L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1), path,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))                 // v0
    GraftDelta.toDelta(Seq((5L, "r5")).toDF("id", "v"), path, mode = "append")     // v1
    val log = DeltaLog.forTable(spark, path)
    // the winner takes v2 once the RESTORE stages its change-data rows
    val watcher = raceIntoStagingWindow(path, ".graft_cdc_")(plainCommit(log, 2L))
    intercept[java.util.ConcurrentModificationException](
      DeltaTableOps.restore(spark, path, 0L))
    watcher.join()
    assert(log.latestVersion == 2L, "the head is the winner's version")
    val logged = log.listCommitVersions.flatMap(log.readCommitActions)
      .collect { case c: AddCDCFile => c.path }.toSet
    val onDisk = TestBase.tableTree(path).filter(f =>
      f.startsWith("_change_data/") && f.endsWith(".parquet"))
    assert(onDisk.subsetOf(logged),
      s"the lost RESTORE must delete its staged change-data files: ${onDisk -- logged}")
    assert(GraftDelta.readDelta(spark, path).count() == 5L)
  }

  /** Identity allocation and row-id allocation are version-dependent and
    * watermark-based, so their appends are NON-retriable by design: a
    * racing allocator either wins its version or aborts loudly — it can
    * never rebase past a winner and hand out the same ids twice. The
    * invariant pinned here is the one that matters downstream: whatever
    * subset of racers commits, every id in the table is unique and the
    * watermark covers the maximum. */
  test("racing identity and row-tracking appends never duplicate an id") {
    import spark.implicits._
    import org.apache.spark.sql.types.MetadataBuilder
    val idMeta = new MetadataBuilder()
      .putLong("delta.identity.start", 1L).putLong("delta.identity.step", 1L)
      .build()
    val path = tmp()
    GraftDelta.toDelta(
      (1L to 10L).map(i => (i, s"seed$i")).toDF("row_no", "v")
        .withColumn("row_no", org.apache.spark.sql.functions.col("row_no").as("row_no", idMeta)),
      path)
    val threads = 6
    val outcomes = Await.result(Future.sequence((0 until threads).map { t =>
      Future {
        try {
          GraftDelta.toDelta(
            (1 to 5).map(i => s"w$t-$i").toDF("v"), path, mode = "append")
          1
        } catch { case _: java.util.ConcurrentModificationException => 0 }
      }
    }), 300.seconds).sum
    assert(outcomes >= 1, "at least one racer must win")
    val got = GraftDelta.readDelta(spark, path).select($"row_no").as[Long].collect()
    assert(got.length == 10 + outcomes * 5)
    assert(got.distinct.length == got.length, s"duplicate identity ids: ${got.sorted.toSeq}")
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    assert(DeltaWrite.identityColumnsOf(snap.schema).head.highWaterMark.contains(got.max))

    // row tracking: same race, same invariant on _row_id
    val rt = tmp()
    GraftDelta.toDelta((1L to 10L).map(i => (i, "s")).toDF("k", "v"), rt)
    GraftDelta.enableRowTracking(spark, rt)
    val rtWins = Await.result(Future.sequence((0 until threads).map { t =>
      Future {
        try {
          GraftDelta.toDelta(
            (1 to 5).map(i => (100L * t + i, "w")).toDF("k", "v"), rt, mode = "append")
          1
        } catch { case _: java.util.ConcurrentModificationException => 0 }
      }
    }), 300.seconds).sum
    assert(rtWins >= 1)
    val rowIds = GraftDelta.readDeltaWithRowIds(spark, rt)
      .select($"_row_id").as[Long].collect()
    assert(rowIds.length == 10 + rtWins * 5)
    assert(rowIds.distinct.length == rowIds.length,
      s"duplicate row ids under race: ${rowIds.sorted.toSeq}")
  }

  /** The commit primitive itself must arbitrate atomically: Hadoop's
    * RawLocalFileSystem.create(overwrite=false) is exists-then-create
    * (TOCTOU) — under contention two writers could both "win" a version
    * and the loser's truncate destroyed the winner's commit. writeCommit
    * now uses O_EXCL on file: URIs; this pins exactly-one-winner and
    * intact bodies under a much hotter race than the end-to-end test
    * above (16 threads × every version, no Spark jobs between). */
  test("writeCommit: exactly one winner per version, winner's body intact") {
    val path = tmp()
    new java.io.File(path).mkdirs()
    val log = DeltaLog.forTable(spark, path)
    val threads = 16
    val versions = 30
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val futures = (0 until threads).map { t =>
      Future {
        var won = 0
        (0L until versions.toLong).foreach { v =>
          try {
            log.writeCommit(v, Seq(CommitInfo(
              timestamp = v, operation = s"W$t",
              operationParameters = Map("writer" -> t.toString))))
            won += 1
          } catch { case _: java.util.ConcurrentModificationException => () }
        }
        wins.addAndGet(won)
      }
    }
    Await.result(Future.sequence(futures), 300.seconds)
    assert(wins.get() == versions, s"expected $versions total wins, got ${wins.get()}")
    // every commit file parses back to exactly one intact CommitInfo
    (0L until versions.toLong).foreach { v =>
      val actions = log.readCommitActions(v)
      val cis = actions.collect { case ci: CommitInfo => ci }
      assert(cis.length == 1, s"version $v: ${cis.length} commitInfos")
      assert(cis.head.timestamp == v, s"version $v: torn body")
    }
  }
}
