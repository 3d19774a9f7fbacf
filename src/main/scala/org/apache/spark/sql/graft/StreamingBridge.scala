package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.types.StructType

/** Streaming-plan internals, isolated in an `org.apache.spark.sql`
  * subpackage the way Spark's own connectors do it. A DSv1 streaming
  * `Source.getBatch` must return a DataFrame whose logical plan is
  * already resolved and tagged `isStreaming = true` (MicroBatchExecution
  * asserts this); file batches get that from [[LogFileIndex.scan]]. */
object StreamingBridge {

  /** Re-plan a sink-delivered micro-batch as a BATCH DataFrame: DSv1
    * `Sink.addBatch` hands over an incremental-execution frame that
    * batch writers refuse (`write` on a streaming Dataset). Mirror the
    * standard sink pattern — take the executed internal-row RDD and
    * rebuild a non-streaming frame over it. */
  def asBatchFrame(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[ClassicSparkSession]
    cs.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** Zero-row streaming-tagged batch with the given schema. */
  def emptyStreamingBatch(spark: SparkSession, schema: StructType): DataFrame = {
    val cs = spark.asInstanceOf[ClassicSparkSession]
    val empty = org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
      Nil, isStreaming = true)
    Dataset.ofRows(cs, empty)
  }
}
