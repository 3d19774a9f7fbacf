package graft.queries

import graft.delta.GraftSuite

/** The bench-mode switch (`graft.bench.skipInQueryOracles`) must be
  * output-invisible: the four ANN queries emit the SAME pinned rows with
  * the in-query exact-truth oracles skipped as with them running — the
  * switch may only remove verification cost, never change results. */
class QueryModeSpec extends GraftSuite {

  private val sf = "/root/testdata/sf0.001"
  private val annQueries =
    Seq("t06_sim_lsh", "t13_sim_ivf", "t40_sim_ivfpq", "t31_semantic_dedup",
      "t47_groupaware_split")

  test("bench mode skips only the in-query oracles; outputs are identical") {
    assert(new java.io.File(sf).isDirectory, s"$sf testdata missing")
    annQueries.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val verified = fn(spark, sf).collect().toSeq
      System.setProperty("graft.bench.skipInQueryOracles", "true")
      val benched =
        try fn(spark, sf).collect().toSeq
        finally System.clearProperty("graft.bench.skipInQueryOracles")
      assert(benched == verified,
        s"$name: bench-mode output diverged: $benched vs $verified")
    }
  }
}
