package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.delta.{AddFile, DeltaLog, DeltaRead}

/** Incremental consumption of a Delta table's transaction-log tail:
  * each pull returns the rows ADDED strictly after a version cursor —
  * the micro-batch primitive a streaming source over the log needs
  * (change capture for blind-append pipelines).
  *
  * Scale: only the JSON commits after the cursor are parsed (bounded by
  * the checkpoint interval for any reasonable lag), and only the new
  * files are scanned — never a snapshot replay of the whole table.
  */
object DeltaTail {

  final case class Batch(fromVersion: Long, toVersion: Long, data: DataFrame)

  /** Rows added in versions (fromVersion, latest]. Returns the new
    * cursor; an unchanged cursor means an empty batch. Overwrites and
    * deletes surface only their `add` side — tail-following is
    * append-oriented CDC, matching blind-append ingestion pipelines. */
  def changesSince(spark: SparkSession, path: String, fromVersion: Long): Batch = {
    val log = DeltaLog.forTable(spark, path)
    val latest = log.latestVersion
    if (latest <= fromVersion)
      return Batch(fromVersion, fromVersion,
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          log.snapshot(None).schema))
    val snap = log.snapshot(Some(latest)) // schema as of the head
    // dataChange=false adds (OPTIMIZE/compaction rewrites) carry no new
    // rows — re-ingesting them would duplicate the entire compacted data.
    // Delta streaming sources skip them for exactly this reason.
    val newAdds: Seq[AddFile] = ((fromVersion + 1) to latest).flatMap { v =>
      log.readCommitActions(v).collect { case a: AddFile if a.dataChange => a }
    }
    val df =
      if (newAdds.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema)
      else {
        // a DV-carrying re-add must not leak its soft-deleted rows —
        // apply the bitmap exactly like batch scans do
        DeltaRead.scan(spark, path, snap.metadata, newAdds,
          graft.delta.DeletionVectors.dvByteMap(
            spark, new org.apache.hadoop.fs.Path(path), newAdds))
      }
    Batch(fromVersion, latest, df)
  }

  /** Drive a callback over successive tail batches — a minimal
    * micro-batch loop for tests and embedded use; production would wrap
    * this in a ForeachBatch writer or a DSv2 MicroBatchStream. */
  def follow(spark: SparkSession, path: String, fromVersion: Long, maxBatches: Int)(
      f: Batch => Unit): Long = {
    var cursor = fromVersion
    var i = 0
    while (i < maxBatches) {
      val b = changesSince(spark, path, cursor)
      if (b.toVersion != cursor) f(b)
      cursor = b.toVersion
      i += 1
    }
    cursor
  }
}
