package graft.delta

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import java.nio.file.{Files, Path, Paths}
import java.util.zip.ZipInputStream

/** Shared local SparkSession + golden-fixture extraction.
  *
  * The fixtures are the reference's own test corpus — the zip archives
  * under /root/reference/tests/data (Spark/delta-written tables), the
  * exact tables its pytest suite pins (tests/test_core.py:17-84). */
object TestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Fixture zip → inner table dir name (as shipped in each archive). */
  private val innerDir = Map(
    "simple" -> "test1",
    "simple2" -> "simple_table",
    "partition" -> "test2",
    "empty1" -> "empty",
    "empty2" -> "empty2",
    "checkpoint" -> "checkpoint",
    "vacuum" -> "vaccum_table")

  /** Extract a fixture into a fresh temp dir; returns the table path.
    * Always fresh — some tests mutate the table (vacuum, mtimes). */
  def fixture(name: String): String = {
    val out = Files.createTempDirectory(s"graft_fix_$name")
    out.toFile.deleteOnExit()
    val zin = new ZipInputStream(
      Files.newInputStream(Paths.get(s"/root/reference/tests/data/$name.zip")))
    try {
      var e = zin.getNextEntry
      while (e != null) {
        val target = out.resolve(e.getName).normalize()
        require(target.startsWith(out), s"zip entry escapes dir: ${e.getName}")
        if (e.isDirectory) Files.createDirectories(target)
        else {
          Files.createDirectories(target.getParent)
          Files.copy(zin, target)
        }
        zin.closeEntry()
        e = zin.getNextEntry
      }
    } finally zin.close()
    out.resolve(innerDir(name)).toString
  }

  /** Every file and directory under a table root outside `_delta_log`,
    * as root-relative paths (hidden ones included). */
  def tableTree(path: String): Set[String] = {
    val root = Paths.get(path)
    val walk = Files.walk(root)
    try {
      val it = walk.iterator()
      var out = Set.empty[String]
      while (it.hasNext) {
        val rel = root.relativize(it.next()).toString
        if (rel.nonEmpty && !rel.startsWith("_delta_log")) out += rel
      }
      out
    } finally walk.close()
  }
}

abstract class GraftSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestBase.spark
  def fixture(name: String): String = TestBase.fixture(name)

  /** The shared-session full-suite JVM accumulates SQL-cache entries and
    * localCheckpoint-backed RDDs across ~40 Spark-heavy suites; without
    * per-suite release the heap pressure lands on whichever suite runs
    * last (observed as a spurious OOM abort there). */
  override protected def afterAll(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    super.afterAll()
  }
}
