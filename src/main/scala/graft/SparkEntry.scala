package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{DeltaQ, PipelineQ, Relational}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator claimed done in SURVEY.md §2 has an entry in `queries`
  * and (when SQL-expressible) a DuckDB oracle in `oracleSql`. Column names
  * and types are aliased identically on both sides — the driver sorts
  * columns by name before hashing values.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.queries("q02_join_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ DeltaQ.queries ++ PipelineQ.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ DeltaQ.oracles ++ PipelineQ.oracles

  /** All queries, benched: the Delta queries (d*) stage temp tables, so
    * their timings include the staging write — that cost is part of the
    * operator under test (write path + read path), accepted and uniform
    * across rounds. Bench clears the SQL cache between queries so one
    * query's persisted frames can't inflate the next. */
  def benchQueries: Seq[String] = queries.keys.toSeq.sorted

  /** Local core count of the harness mains: SPARK_GRAFT_CPUS, else the
    * host's available processors. */
  def cpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
}
