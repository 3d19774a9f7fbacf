package graft.delta

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

import java.net.URI
import scala.collection.mutable
import scala.io.Source
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** A RawLocalFileSystem under scheme `fuzzcno:` — exercises the
  * CreateNoOverwrite store (HDFS/ABFS-shaped atomic create). */
class FuzzCnoFs extends RawLocalFileSystem {
  override def getScheme: String = "fuzzcno"
  override def getUri: URI = URI.create("fuzzcno:///")
}

/** A RawLocalFileSystem under scheme `fuzzracy:` — its
  * `create(overwrite=false)` is genuinely exists-check-then-truncating-open
  * (the S3 anomaly), so commits are safe ONLY through external arbitration
  * (the Locked + FileLease config under test). */
class FuzzRacyFs extends RawLocalFileSystem {
  override def getScheme: String = "fuzzracy"
  override def getUri: URI = URI.create("fuzzracy:///")
}

/** Concurrent-writer fuzz over the LogStore matrix (r10/r11 VERDICT item):
  * N threads drive seeded-random mixed operations — appends, predicate
  * DELETEs (rewriting AND deletion-vector), OPTIMIZE, REORG purges,
  * checkpoints — against ONE table through each commit
  * arbitration config:
  *
  *   - `Posix` (`file:` — `O_CREAT|O_EXCL`)
  *   - `CreateNoOverwrite` (HDFS/ABFS-shaped atomic create)
  *   - `Locked(CheckThenPut, FileLease)` (object-store shape: the commit
  *     put is a blind truncate; mutual exclusion comes ONLY from the
  *     shipped lease provider — the config that would have caught the r11
  *     FileLease atomicity bug)
  *
  * Invariants asserted per config:
  *   1. **No lost rows**: each thread owns a disjoint key space and only
  *      ever deletes its own keys, so the expected final row set is the
  *      exact union of per-thread successful appends minus successful
  *      deletes — any arbitration failure (two committers both "winning"
  *      a version, a truncated commit body) loses or resurrects rows.
  *   2. **Replayable log**: the versions are contiguous from 0 to head,
  *      every commit body parses, and a checkpoint written at head
  *      replays to the same active set with the JSON tail deleted.
  *
  * DML/OPTIMIZE losing a conflict race aborts with
  * ConcurrentModificationException by design — those are counted, their
  * effects excluded from the expectation, and the invariants hold across
  * whichever interleaving the scheduler produced. Appends are retriable
  * (optimisticCommit rebases past disjoint winners) so they virtually
  * always land; the seed guarantees the op MIX is reproducible even
  * though the interleaving is not.
  */
class LogStoreFuzzSpec extends GraftSuite {

  import TestBase.spark

  private val Threads = 4
  private val OpsPerThread = 6

  private def freshDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  /** Drive the fuzz against `table`; returns (expected ids, CME count). */
  private def fuzz(table: String, seed: Long): (Set[Long], Int) = {
    import spark.implicits._
    GraftDelta.toDelta(Seq((-1L, -1)).toDF("id", "t"), table) // v0 seed row
    val aborted = new java.util.concurrent.atomic.AtomicInteger(0)
    val futures = (0 until Threads).map { t =>
      Future {
        val rnd = new scala.util.Random(seed * 31 + t)
        // thread-local ledger: ops are sequential within a thread and no
        // other thread touches this key space, so live = appended ∖ deleted
        // is exact regardless of cross-thread interleaving
        val live = mutable.SortedSet.empty[Long]
        var nextId = (t + 1) * 1000000L
        (0 until OpsPerThread).foreach { _ =>
          rnd.nextInt(9) match {
            case 0 | 1 | 2 => // append a batch of 10 owned keys
              val ids = (nextId until nextId + 10L); nextId += 10
              try {
                GraftDelta.toDelta(ids.map(i => (i, t)).toDF("id", "t"),
                  table, mode = "append")
                live ++= ids
              } catch {
                case _: java.util.ConcurrentModificationException =>
                  aborted.incrementAndGet()
              }
            case 3 => // delete the OLDEST live batch of our own keys
              if (live.nonEmpty) {
                val lo = live.head
                try {
                  GraftDelta.deleteWhere(spark, table, Seq(Seq(
                    Predicate("id", ">=", lo), Predicate("id", "<", lo + 10L),
                    Predicate("t", "==", t))))
                  live --= (lo until lo + 10L)
                } catch {
                  case _: java.util.ConcurrentModificationException =>
                    aborted.incrementAndGet()
                }
              }
            case 4 => // OPTIMIZE (dataChange=false rewrite)
              try DeltaMaintenance.compact(spark, table)
              catch {
                case _: java.util.ConcurrentModificationException =>
                  aborted.incrementAndGet()
                case _: IllegalStateException => () // nothing to compact
              }
            case 5 => // checkpoint at the current head (best-effort: a
              // concurrent commit can advance past it; another thread can
              // be writing the same version's parts)
              try {
                val log = DeltaLog.forTable(spark, table)
                log.writeCheckpoint(log.latestVersion)
              } catch { case _: java.io.IOException => () }
            case 6 => // DV (soft) delete of the oldest live owned batch —
              // races REORG purges and rewriting DMLs on the same files
              if (live.nonEmpty) {
                val lo = live.head
                try {
                  GraftDelta.deleteWhereWithDv(spark, table, Seq(Seq(
                    Predicate("id", ">=", lo), Predicate("id", "<", lo + 10L),
                    Predicate("t", "==", t))))
                  live --= (lo until lo + 10L)
                } catch {
                  case _: java.util.ConcurrentModificationException =>
                    aborted.incrementAndGet()
                }
              }
            case 7 => // REORG purge: copy-only DV materialization; a lost
              // race aborts with CME like any maintenance rewrite
              try DeltaMaintenance.reorgPurge(spark, table)
              catch {
                case _: java.util.ConcurrentModificationException =>
                  aborted.incrementAndGet()
                case _: IllegalStateException => ()
              }
            case 8 => // UPDATE rewrite of the oldest live owned batch —
              // a REBASING DML (r15): value-idempotent (t := t), so the
              // ledger is untouched whichever interleaving lands, but the
              // commit is a genuine dataChange rewrite racing everything
              if (live.nonEmpty) {
                val lo = live.head
                try GraftDelta.updateWhere(spark, table, Seq(Seq(
                  Predicate("id", ">=", lo), Predicate("id", "<", lo + 10L),
                  Predicate("t", "==", t))),
                  Map("t" -> org.apache.spark.sql.functions.lit(t)))
                catch {
                  case _: java.util.ConcurrentModificationException =>
                    aborted.incrementAndGet()
                }
              }
          }
        }
        live.toSet
      }
    }
    val perThread = Await.result(Future.sequence(futures), 600.seconds)
    (perThread.reduce(_ ++ _) + -1L, aborted.get())
  }

  private def assertInvariants(table: String, expect: Set[Long], cmes: Int): Unit = {
    import spark.implicits._
    // 1. no lost rows, no resurrected rows
    val got = GraftDelta.readDelta(spark, table).select($"id").as[Long].collect().toSet
    assert(got == expect,
      s"lost=${(expect -- got).take(5)} resurrected=${(got -- expect).take(5)} " +
        s"(|expect|=${expect.size}, |got|=${got.size}, DML aborts=$cmes)")
    // 2. replayable: contiguous versions, every body parses
    val log = DeltaLog.forTable(spark, table)
    val head = log.latestVersion
    (0L to head).foreach { v =>
      assert(log.readCommitActions(v).nonEmpty, s"version $v must parse")
    }
    // 3. checkpoint at head survives deleting the whole JSON tail —
    // caches cleared: the pin is the COLD checkpoint-only replay
    log.writeCheckpoint(head)
    (0L to head).foreach(v => log.fs.delete(log.commitFile(v), false))
    DeltaLog.clearCache()
    val viaCp = DeltaLog.forTable(spark, table).snapshot(None)
    assert(viaCp.version == head, s"checkpoint replay at $head, got ${viaCp.version}")
    val gotCp = GraftDelta.readDelta(spark, table).select($"id").as[Long].collect().toSet
    assert(gotCp == expect, "checkpoint-only replay must serve the same rows")
  }

  test("commit publish is all-or-nothing, exclusive, and leaves no temp debris") {
    val dir = freshDir("graft_pub")
    val fs = new Path(s"file:$dir").getFileSystem(
      TestBase.spark.sessionState.newHadoopConf())
    val bytes = "line1\nline2\n".getBytes("UTF-8")
    Seq(("posix", LogStore.Posix), ("cno", LogStore.CreateNoOverwrite),
        ("ctp", LogStore.CheckThenPut)).foreach { case (tag, store) =>
      val target = new Path(s"file:$dir/$tag.json")
      store.writePutIfAbsent(fs, target, bytes)
      val in = fs.open(target)
      val got = try Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      assert(got == "line1\nline2\n", s"$tag content")
      // exclusive: a second put of the same target refuses
      val refused =
        try { store.writePutIfAbsent(fs, target, "other\n".getBytes("UTF-8")); false }
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => true
          case _: java.nio.file.FileAlreadyExistsException => true
        }
      assert(refused, s"$tag must refuse an existing target")
      val in2 = fs.open(target)
      val got2 = try Source.fromInputStream(in2, "UTF-8").mkString finally in2.close()
      assert(got2 == "line1\nline2\n", s"$tag refused put must not damage the body")
    }
    // no .tmp siblings survive any of the above
    val leftovers = fs.listStatus(new Path(s"file:$dir"))
      .map(_.getPath.getName).filter(_.contains(".tmp-"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
  }

  test("a torn (zero-action) commit body refuses to replay as an empty commit") {
    import TestBase.spark.implicits._
    val table = s"${freshDir("graft_torn")}/tbl"
    GraftDelta.toDelta(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), table)  // v0
    GraftDelta.toDelta(Seq((3L, "c")).toDF("id", "v"), table, mode = "append") // v1
    // simulate the pre-r13 torn-visibility window (or foreign-writer
    // truncation): version 2 exists but its body is empty
    val torn = new java.io.File(s"$table/_delta_log", f"${2L}%020d.json")
    assert(torn.createNewFile())
    val log = DeltaLog.forTable(TestBase.spark, table)
    val e = intercept[IllegalStateException](log.readCommitActions(2L))
    assert(e.getMessage.contains("ZERO actions"), e.getMessage)
    // replay must surface the corruption, not serve a state that
    // silently drops v2's (unknown) effects — and a checkpoint written
    // off such a replay would have made the damage durable
    intercept[Exception](log.snapshot(None))
    intercept[Exception](log.writeCheckpoint(2L))
    // the table below the tear still reads when pinned
    assert(GraftDelta.readDelta(TestBase.spark, table, version = Some(1L)).count() == 3)
  }

  test("fuzz: mixed append/DML/OPTIMIZE/checkpoint through Posix (file:)") {
    val table = s"${freshDir("graft_fuzz_posix")}/tbl"
    val (expect, cmes) = fuzz(table, seed = 101L)
    assertInvariants(table, expect, cmes)
  }

  test("fuzz: mixed ops through CreateNoOverwrite (HDFS/ABFS shape)") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.fuzzcno.impl", classOf[FuzzCnoFs].getName)
    LogStore.register("fuzzcno", LogStore.CreateNoOverwrite)
    val table = s"fuzzcno:${freshDir("graft_fuzz_cno")}/tbl"
    val (expect, cmes) = fuzz(table, seed = 202L)
    assertInvariants(table, expect, cmes)
  }

  test("fuzz: mixed ops through Locked(CheckThenPut, FileLease) — the " +
      "object-store config whose safety rests entirely on the lease") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.fuzzracy.impl", classOf[FuzzRacyFs].getName)
    val leaseDir = new Path(s"file:${freshDir("graft_fuzz_lease")}")
    val leaseFs = leaseDir.getFileSystem(spark.sessionState.newHadoopConf())
    val lease = new LogStore.FileLease(leaseFs, leaseDir)
    LogStore.register("fuzzracy",
      new LogStore.Locked(LogStore.CheckThenPut, lease.withLock))
    try {
      val table = s"fuzzracy:${freshDir("graft_fuzz_racy")}/tbl"
      val (expect, cmes) = fuzz(table, seed = 303L)
      assertInvariants(table, expect, cmes)
      assert(lease.ownershipLostCount.get() == 0,
        "no commit body should outlive its lease in this fuzz")
      // every lease released, no tombstone debris
      assert(leaseFs.listStatus(leaseDir).forall(s =>
        !s.getPath.getName.endsWith(".lease") &&
          !s.getPath.getName.contains(".reap.")))
    } finally LogStore.register("fuzzracy", LogStore.CreateNoOverwrite)
  }
}
