package graft.delta

import org.apache.spark.sql.functions._

import java.nio.file.Files

/** DELETE / UPDATE semantics and file-level behavior (DeltaDml). */
class DmlSpec extends GraftSuite {

  private def tmp(): String = {
    val d = Files.createTempDirectory("graft_dml")
    d.toFile.deleteOnExit()
    s"$d/tbl"
  }

  private def activePaths(path: String): Set[String] =
    DeltaLog.forTable(spark, path).snapshot(None).activeFiles.map(_.path).toSet

  test("delete rewrites only touched files; untouched files keep their add entries") {
    import spark.implicits._
    val path = tmp()
    // disjoint id ranges per file → stats confine the predicate to one file
    val df = (0 until 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartitionByRange(5, $"id")
    GraftDelta.toDelta(df, path)
    val before = activePaths(path)
    assert(before.size == 5)

    val res = GraftDelta.deleteWhere(spark, path, Seq(Seq(
      Predicate("id", ">=", 100), Predicate("id", "<", 150))))
    assert(res.affectedRows == 50)
    assert(res.removedFiles == 1 && res.rewrittenFiles == 1 && res.addedFiles >= 1)

    val after = activePaths(path)
    assert((before & after).size == 4, "4 untouched files must survive byte-identical")
    assert(GraftDelta.readDelta(spark, path).count() == 950)
    assert(GraftDelta.readDelta(spark, path)
      .filter($"id" >= 100 && $"id" < 150).count() == 0)
    // time travel still sees the pre-delete version
    assert(GraftDelta.readDelta(spark, path, version = Some(0L)).count() == 1000)
  }

  test("delete with zero matches is a no-op commit-wise") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((0 until 100).map(i => (i.toLong, i % 3)).toDF("id", "g"), path)
    val v0 = DeltaLog.forTable(spark, path).snapshot(None).version
    val res = GraftDelta.deleteWhere(spark, path, Seq(Seq(Predicate("id", ">", 10000))))
    assert(res == DeltaDml.DmlResult(0, 0, 0, 0))
    assert(DeltaLog.forTable(spark, path).snapshot(None).version == v0, "no new version")
  }

  test("partition-drop fast path removes whole files without adding any") {
    import spark.implicits._
    val path = tmp()
    val df = (0 until 300).map(i => (i.toLong, (i % 3).toString)).toDF("id", "p")
    GraftDelta.toDelta(df.repartition(1), path, partitionBy = Seq("p"))
    val res = GraftDelta.deleteWhere(spark, path, Seq(Seq(Predicate("p", "==", "1"))))
    assert(res.affectedRows == 100)
    assert(res.rewrittenFiles == 0 && res.addedFiles == 0,
      "partition-only predicate must not rewrite or read data files")
    assert(GraftDelta.readDelta(spark, path).count() == 200)
    assert(GraftDelta.readDelta(spark, path).filter($"p" === "1").count() == 0)
  }

  test("rows where the predicate is NULL are kept by delete and skipped by update") {
    import spark.implicits._
    val path = tmp()
    val df = Seq[(java.lang.Long, String)]((1L, "a"), (null, "b"), (3L, "c"))
      .toDF("k", "v")
    GraftDelta.toDelta(df, path)
    val res = GraftDelta.deleteWhere(spark, path, Seq(Seq(Predicate("k", ">", 0))))
    assert(res.affectedRows == 2)
    val left = GraftDelta.readDelta(spark, path).collect()
    assert(left.length == 1 && left(0).getString(1) == "b", "NULL-predicate row survives")

    val path2 = tmp()
    GraftDelta.toDelta(df, path2)
    val up = GraftDelta.updateWhere(spark, path2,
      Seq(Seq(Predicate("k", ">", 0))), Map("v" -> lit("hit")))
    assert(up.affectedRows == 2)
    val rows = GraftDelta.readDelta(spark, path2).orderBy($"v").collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("b", "hit", "hit"),
      "NULL-predicate row keeps its original value")
  }

  test("delete everything leaves a readable empty table with its schema") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((0 until 50).map(i => (i.toLong, s"x$i")).toDF("id", "v"), path)
    val res = GraftDelta.deleteWhere(spark, path, Seq(Seq(Predicate("id", ">=", 0))))
    assert(res.affectedRows == 50 && res.addedFiles == 0)
    val out = GraftDelta.readDelta(spark, path)
    assert(out.count() == 0)
    assert(out.schema.fieldNames.toSeq == Seq("id", "v"))
  }

  test("update applies assignments from the pre-update row and logs UPDATE") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(
      (1 to 10).map(i => (i.toLong, i.toLong * 10, "keep")).toDF("a", "b", "c"), path)
    // cross-referencing SET: a = b, b = a must swap, not chain
    val res = GraftDelta.updateWhere(spark, path,
      Seq(Seq(Predicate("a", "<=", 3))),
      Map("a" -> col("b"), "b" -> col("a")))
    assert(res.affectedRows == 3)
    val got = GraftDelta.readDelta(spark, path).filter($"b" <= 3)
      .orderBy($"b").select($"a", $"b").as[(Long, Long)].collect().toSeq
    assert(got == Seq((10L, 1L), (20L, 2L), (30L, 3L)), s"swap broken: $got")

    val ops = GraftDelta.readDeltaHistory(spark, path)
      .select($"operation").as[String].collect().toSeq
    assert(ops.contains("UPDATE"))
  }

  test("update refuses partition columns and unknown columns") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((0 until 30).map(i => (i.toLong, (i % 2).toString)).toDF("id", "p"),
      path, partitionBy = Seq("p"))
    intercept[IllegalArgumentException] {
      GraftDelta.updateWhere(spark, path,
        Seq(Seq(Predicate("id", ">", 0))), Map("p" -> lit("9")))
    }
    intercept[IllegalArgumentException] {
      GraftDelta.updateWhere(spark, path,
        Seq(Seq(Predicate("id", ">", 0))), Map("nope" -> lit(1)))
    }
    // empty predicate refused — no implicit full-table DML
    intercept[IllegalArgumentException] {
      GraftDelta.deleteWhere(spark, path, Nil)
    }
  }

  test("DML matches rows in partitions with URL-encodable values (space/unicode/percent)") {
    import spark.implicits._
    val path = tmp()
    // partition values that URL-encode differently than they print: the
    // scan-side input_file_name() key is %-encoded while the log-side
    // resolvePath key is decoded — regression for the silent 0-row DML
    val parts = Seq("a b", "café", "100%")
    val df = (0 until 300).map(i => (i.toLong, parts(i % 3), i * 2L)).toDF("id", "p", "v")
    GraftDelta.toDelta(df.repartition(1), path, partitionBy = Seq("p"))

    // data-column predicate (not partition-only) so the phase-1 scan —
    // the buggy path — decides which files are touched
    val del = GraftDelta.deleteWhere(spark, path, Seq(Seq(
      Predicate("p", "==", "a b"), Predicate("id", "<", 30))))
    assert(del.affectedRows == 10, s"expected 10 deleted, got ${del.affectedRows}")
    assert(GraftDelta.readDelta(spark, path).filter($"p" === "a b").count() == 90)

    val upd = GraftDelta.updateWhere(spark, path,
      Seq(Seq(Predicate("p", "==", "café"), Predicate("id", "<", 30))),
      Map("v" -> lit(-1L)))
    assert(upd.affectedRows == 10, s"expected 10 updated, got ${upd.affectedRows}")
    assert(GraftDelta.readDelta(spark, path).filter($"v" === -1L).count() == 10)

    // merge matched-update across the encoded partitions
    val src = Seq((2L, "100%", 999L), (33L, "a b", 998L)).toDF("id", "p", "v")
    val mr = GraftDelta.mergeInto(spark, path, src, on = Seq("id", "p"),
      whenMatched = DeltaDml.WhenMatched.UpdateAll, insertNotMatched = false)
    assert(mr.matchedRows == 2, s"expected 2 matched, got ${mr.matchedRows}")
    assert(GraftDelta.readDelta(spark, path).filter($"v" >= 998L).count() == 2)
    assert(GraftDelta.readDelta(spark, path).count() == 290)
  }

  test("delete commit is vacuumable: removed files become tombstones") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((0 until 200).map(i => (i.toLong, i % 5)).toDF("id", "g")
      .repartitionByRange(4, $"id"), path)
    GraftDelta.deleteWhere(spark, path, Seq(Seq(Predicate("id", "<", 50))))
    val dry = GraftDelta.vacuum(spark, path, retentionHours = -0.01, dryRun = true)
    assert(dry.nonEmpty, "deleted files must be eligible tombstones")
    GraftDelta.vacuum(spark, path, retentionHours = -0.01, dryRun = false)
    assert(GraftDelta.readDelta(spark, path).count() == 150, "vacuum must not break the snapshot")
  }

  /** The numDeletedRows the DELETE commit at `version` logged. */
  private def loggedDeletedRows(path: String, version: Long): String =
    DeltaLog.forTable(spark, path).readCommitActions(version).collectFirst {
      case ci: CommitInfo => ci.operationMetrics("numDeletedRows")
    }.get

  test("rewrite DELETE of a whole partition counts its live rows, not its DV'd ones") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((0 until 10).map(i => (i.toLong, 1)).toDF("id", "p").repartition(1),
      path, partitionBy = Seq("p"))
    GraftDelta.deleteWhereWithDv(spark, path, Seq(Seq(Predicate("id", "==", 3L))))
    val res = GraftDelta.deleteWhere(spark, path, Seq(Seq(Predicate("p", "==", 1))))
    assert(res == DeltaDml.DmlResult(9, 1, 0, 0))
    assert(loggedDeletedRows(path, 2L) == "9")
    assert(GraftDelta.readDelta(spark, path).count() == 0L)
  }

  test("rewrite DELETE matching every live row of a DV file removes it and adds none") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((0 until 10).map(_.toLong).toDF("id").repartition(1), path)
    GraftDelta.deleteWhereWithDv(spark, path, Seq(Seq(Predicate("id", "==", 3L))))
    val res = GraftDelta.deleteWhere(spark, path, Seq(Seq(Predicate("id", "<=", 100L))))
    assert(res == DeltaDml.DmlResult(9, 1, 0, 0))
    assert(loggedDeletedRows(path, 2L) == "9")
    assert(activePaths(path).isEmpty, "no 0-row file may stay active")
  }
}
