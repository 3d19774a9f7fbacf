package graft.delta

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The fluent `GraftTable` handle must be a pure veneer: every method
  * lands on the same engine path as the functional / SQL surfaces and
  * returns the same state. */
class GraftTableSpec extends GraftSuite {
  import spark.implicits._

  private def tmp(): String = {
    val d = Files.createTempDirectory("graft_tbl")
    d.toFile.deleteOnExit()
    s"$d/tbl"
  }

  private def seed(path: String): Unit =
    GraftDelta.toDelta(
      (1L to 20L).map(i => (i, s"v$i", i % 4)).toDF("k", "v", "g"), path)

  test("forPath validates; isDeltaTable distinguishes tables from plain dirs") {
    val path = tmp()
    assert(!GraftTable.isDeltaTable(spark, path))
    val e = intercept[IllegalArgumentException](GraftTable.forPath(spark, path))
    assert(e.getMessage.contains("not a Delta table"))
    seed(path)
    assert(GraftTable.isDeltaTable(spark, path))
    assert(GraftTable.forPath(spark, path).toDF.count() == 20L)
  }

  test("truncate and column defaults route through the engine") {
    val path = tmp()
    seed(path)
    val t = GraftTable.forPath(spark, path)
    assert(t.setColumnDefault("v", "'D'") == 1L)
    graft.sql.GraftSql.sql(spark, s"INSERT INTO delta.`$path` (k, g) VALUES (99, 0)")
    assert(t.toDF.where($"k" === 99L).select("v").head().getString(0) == "D")
    assert(t.dropColumnDefault("v") == 3L)
    val r = t.truncate()
    assert(r.removedRows == 21L && t.toDF.count() == 0L)
    assert(t.asOf(2L).count() == 21L, "pre-truncate versions still read")
  }

  test("delete / updateExpr / history / time travel route through the engine") {
    val path = tmp()
    seed(path)
    val t = GraftTable.forPath(spark, path)
    t.delete("k > 15")                                         // v1
    assert(t.toDF.count() == 15L)
    t.updateExpr("g = 0", Map("v" -> "'zero'"))                // v2
    assert(t.toDF.filter($"v" === "zero").count() ===
      t.toDF.filter($"g" === 0).count())
    assert(t.history().count() == 3L)
    assert(t.asOf(0L).count() == 20L)
    assert(t.detail().select("numFiles").head().getLong(0) > 0L)
    // WHERE 1 = 1 is an EXPLICIT full-table predicate: outside the DNF
    // language, so the scan-side fallback executes it — delta-spark
    // parity (the engine still refuses an EMPTY predicate, pinned in
    // DmlSpec)
    t.delete("1 = 1")                                          // v3
    assert(t.toDF.count() == 0L)
    assert(t.asOf(2L).count() == 15L, "time travel still sees the pre-delete rows")
  }

  test("merge builder: updateAll+insertAll, updateExpr with source refs, delete") {
    val path = tmp()
    seed(path)
    val t = GraftTable.forPath(spark, path)
    val src = Seq((1L, "patched", 9L), (99L, "new", 9L)).toDF("k", "v", "g")
    val r = t.merge(src, Seq("k"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    assert(r.matchedRows == 1L && r.insertedRows == 1L)
    assert(t.toDF.filter($"k" === 1L).select("v").as[String].head() == "patched")
    assert(t.toDF.filter($"k" === 99L).count() == 1L)
    // expression update with a source-column reference
    t.merge(src.filter($"k" === 1L), Seq("k"))
      .whenMatchedUpdateExpr(Map("v" -> "concat(source.v, '!')"))
      .execute()
    assert(t.toDF.filter($"k" === 1L).select("v").as[String].head() == "patched!")
    // matched-delete removes the matched keys only
    t.merge(src, Seq("k")).whenMatchedDelete().execute()
    assert(t.toDF.filter($"k".isin(1L, 99L)).count() == 0L)
    assert(t.toDF.count() == 19L)
  }

  test("merge builder: insert-only merge leaves matched rows untouched") {
    val path = tmp()
    seed(path) // k=1..20
    val t = GraftTable.forPath(spark, path)
    val src = Seq((1L, "SHOULD_NOT_LAND", 9L), (99L, "new", 9L)).toDF("k", "v", "g")
    // whenNotMatchedInsertAll ALONE must not inject the legacy UpdateAll
    // default — matched row k=1 keeps its value, only k=99 inserts
    val r = t.merge(src, Seq("k")).whenNotMatchedInsertAll().execute()
    assert(r.insertedRows == 1L, s"$r")
    assert(t.toDF.filter($"k" === 1L).select("v").as[String].head() == "v1",
      "insert-only merge must not rewrite matched rows")
    assert(t.toDF.filter($"k" === 99L).count() == 1L)
    assert(t.toDF.count() == 21L)
    // and it is a legal blind append on an append-only table
    val p2 = tmp()
    seed(p2)
    DeltaTableOps.setTableProperties(spark, p2, Map("delta.appendOnly" -> "true"))
    val t2 = GraftTable.forPath(spark, p2)
    t2.merge(Seq((100L, "x", 0L)).toDF("k", "v", "g"), Seq("k"))
      .whenNotMatchedInsertAll().execute()
    assert(t2.toDF.count() == 21L)
  }

  test("merge builder: ordered conditioned clauses + by-source, first-match-wins") {
    val path = tmp()
    seed(path) // k=1..20, v=v<k>, g=k%4
    val t = GraftTable.forPath(spark, path)
    val src = Seq((2L, "zero", 0L), (3L, "big", 99L), (7L, "mid", 50L)).toDF("k", "v", "g")
    val r = t.merge(src, Seq("k"))
      .whenMatchedDelete(condition = "s.g = 0")
      .whenMatchedUpdateExpr(Map("v" -> "source.v"), condition = "source.g > 60")
      .whenMatchedUpdateExpr(Map("v" -> "'fallback'"))
      .whenNotMatchedBySourceDelete(condition = "k > 18")
      .whenNotMatchedBySourceUpdateExpr(Map("v" -> "'aged'"), condition = "g = 1")
      .execute()
    assert(r.matchedRows == 3L, s"$r")
    val out = t.toDF.select($"k", $"v").as[(Long, String)].collect().toMap
    assert(!out.contains(2L) && out(3L) == "big" && out(7L) == "fallback")
    assert(!out.contains(19L) && !out.contains(20L))
    assert(out(5L) == "aged" && out(4L) == "v4")
  }

  test("optimize compaction and zorder; restore round-trips") {
    val path = tmp()
    GraftDelta.toDelta(
      (1L to 400L).map(i => (i, i % 7)).toDF("k", "b").repartition(8), path)
    val t = GraftTable.forPath(spark, path)
    val before = DeltaLog.forTable(spark, path).snapshot(None).activeFiles.size
    val res = t.optimize().executeCompaction()
    val after = DeltaLog.forTable(spark, path).snapshot(None).activeFiles.size
    assert(before == 8 && after < before, s"$before -> $after")
    assert(res.columns.contains("filesBefore"))
    t.optimize().executeZOrderBy("k", "b")
    assert(t.toDF.count() == 400L)
    t.restoreToVersion(0L)
    assert(DeltaLog.forTable(spark, path).snapshot(None).activeFiles.size == 8)
    assert(t.toDF.count() == 400L)
  }

  test("shallowClone returns a handle on an independent metadata clone") {
    val path = tmp()
    seed(path)
    val clonePath = tmp()
    val c = GraftTable.forPath(spark, path).shallowClone(clonePath)
    assert(c.toDF.count() == 20L)
    // DML on a clone reads cross-root files (no basePath) — this used to
    // crash in DeltaDml.readFiles
    c.delete("k <= 10")
    assert(c.toDF.count() == 10L)
    assert(GraftTable.forPath(spark, path).toDF.count() == 20L,
      "DML on the clone must not touch the source")
  }

  /** Partitioned-clone DML reads files outside the clone root:
    * log-sourced partition values, `_metadata` for the DV bitmap path,
    * and partition-column predicates. */
  test("DML on a PARTITIONED shallow clone: rewrite and DV flavors, both scoped") {
    val srcPath = tmp()
    GraftDelta.toDelta(
      (1L to 40L).map(i => (i, s"g${i % 4}")).toDF("k", "g"),
      srcPath, partitionBy = Seq("g"))
    val clonePath = tmp()
    val c = GraftTable.forPath(spark, srcPath).shallowClone(clonePath)
    // rewrite flavor, data-column predicate (scans clone files cross-root)
    c.delete("k <= 8")
    assert(c.toDF.count() == 32L)
    // DV flavor (keepMeta bitmap path) on the cloned files
    GraftDelta.deleteWhereWithDv(spark, clonePath,
      Seq(Seq(Predicate("k", ">", 36L))))
    assert(c.toDF.count() == 28L)
    // partition-column predicate on the clone
    c.delete("g = 'g1'")
    assert(c.toDF.filter($"g" === "g1").count() == 0L)
    assert(c.toDF.count() == 21L)
    assert(GraftTable.forPath(spark, srcPath).toDF.count() == 40L,
      "clone DML must never touch the source table")
  }

  /** GENERATE symlink_format_manifest: per-partition manifests whose
    * line sets are exactly the active files; regeneration drops stale
    * partition manifests; DV snapshots refuse. */
  test("generate symlink manifests; DV tables refuse until optimized") {
    val path = tmp()
    GraftDelta.toDelta(
      (1L to 30L).map(i => (i, s"g${i % 3}")).toDF("k", "g"),
      path, partitionBy = Seq("g"))
    val t = GraftTable.forPath(spark, path)
    assert(t.generate("symlink_format_manifest") == 3L)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def manifestFiles(): Seq[String] = {
      val it = fs.listFiles(
        new org.apache.hadoop.fs.Path(path, "_symlink_format_manifest"), true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) { val f = it.next(); if (f.getPath.getName == "manifest") b += f.getPath.toString }
      b.result()
    }
    assert(manifestFiles().size == 3)
    // the union of manifest lines reads back as exactly the table
    val listed = manifestFiles().flatMap { m =>
      val in = fs.open(new org.apache.hadoop.fs.Path(m))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    assert(spark.read.parquet(listed: _*).count() == 30L)
    // delete a whole partition, regenerate: its manifest disappears
    t.delete("g = 'g1'")
    assert(t.generate("symlink_format_manifest") == 2L)
    assert(manifestFiles().size == 2)
    // a DV-carrying snapshot refuses (symlink readers can't apply DVs)
    GraftDelta.deleteWhereWithDv(spark, path, Seq(Seq(Predicate("k", "==", 3L))))
    val e = intercept[IllegalArgumentException](t.generate("symlink_format_manifest"))
    assert(e.getMessage.contains("OPTIMIZE"), e.getMessage)
    val bad = intercept[IllegalArgumentException](t.generate("nope"))
    assert(bad.getMessage.contains("symlink_format_manifest"))
    // partition values with path-hostile characters hive-escape into ONE
    // manifest dir instead of forking the tree
    val weird = tmp()
    GraftDelta.toDelta(Seq((1L, "a/b=c"), (2L, "a/b=c")).toDF("k", "g"),
      weird, partitionBy = Seq("g"))
    assert(GraftTable.forPath(spark, weird).generate("symlink_format_manifest") == 1L)
    val wfs = new org.apache.hadoop.fs.Path(weird)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val sub = wfs.listStatus(
      new org.apache.hadoop.fs.Path(weird, "_symlink_format_manifest"))
    assert(sub.length == 1 && sub.head.getPath.getName.startsWith("g="),
      sub.map(_.getPath.getName).mkString(","))
  }

  /** Protocol upgrade: version floor rises with legacy-implied feature
    * enumeration; downgrades refuse; the table stays read/writable. */
  test("upgradeTableProtocol raises the floor and enumerates legacy features") {
    val path = tmp()
    seed(path)
    val t = GraftTable.forPath(spark, path)
    val v = t.upgradeTableProtocol(3, 7)
    val p = DeltaLog.forTable(spark, path).snapshot(None).protocol
    assert(p.minReaderVersion == 3 && p.minWriterVersion == 7)
    assert(p.writerFeatures.exists(_.contains("appendOnly")),
      s"legacy-implied features must enumerate: ${p.writerFeatures}")
    assert(v == 1L)
    val down = intercept[IllegalArgumentException](t.upgradeTableProtocol(1, 2))
    assert(down.getMessage.contains("downgrade"), down.getMessage)
    // still fully usable after the upgrade
    t.delete("k > 18")
    assert(t.toDF.count() == 18L)
    GraftDelta.toDelta(Seq((100L, "x", 0L)).toDF("k", "v", "g"), path, mode = "append")
    assert(t.toDF.count() == 19L)
  }

  test("forName resolves a catalog-named graft table to the same handle") {
    val path = tmp()
    seed(path)
    spark.sql("DROP TABLE IF EXISTS graft_tbl_spec")
    spark.sql(s"CREATE TABLE graft_tbl_spec USING graft LOCATION '$path'")
    try {
      val t = GraftTable.forName(spark, "graft_tbl_spec")
      assert(t.path.stripPrefix("file:") == path)
      t.delete("k <= 5")
      assert(spark.table("graft_tbl_spec").count() == 15L)
    } finally spark.sql("DROP TABLE IF EXISTS graft_tbl_spec")
  }
}
