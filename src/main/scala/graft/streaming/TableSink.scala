package graft.streaming

import graft.sources.TableLoader
import graft.sources.TableLoader.{DeltaFormat, PlainParquet, TableFormat}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** Structured-Streaming sink INTO an external Delta, Iceberg or Hudi
  * table, with EXACTLY-ONCE batch delivery built from the format's
  * OWN commit metadata, never a side-channel, so idempotence is atomic
  * with the data it describes:
  *
  *  - Delta: every append commits a `txn {appId, version=batchId}`
  *    action beside its adds — how Delta's own streaming sink achieves
  *    exactly-once (PROTOCOL.md "Transaction Identifiers");
  *  - Iceberg: the snapshot SUMMARY carries (app-id, batch-id) — the
  *    Flink-connector pattern; summaries re-serialize VERBATIM across
  *    later commits, so the watermark survives the table's lifecycle;
  *  - Hudi: each `.commit`'s `extraMetadata` carries it — Hudi's own
  *    deltastreamer checkpoint pattern.
  *
  * A replayed batch at or below the table's watermark for its app id
  * ([[TableFormat.lastBatchId]]) is skipped, so any number of
  * at-least-once redeliveries land each batch once. The first batch
  * creates the table, its own commit carrying the watermark, so even a
  * crash right after the create replays as a no-op.
  *
  * Scale shape per batch: one distributed parquet write + one
  * driver-side metadata commit + one watermark probe (log-bounded
  * driver metadata). State is zero: the table is the state.
  */
object TableSink {

  /** Idempotently append one micro-batch into the `format` table at
    * `path`: true when the batch landed, false when the table's
    * watermark for `appId` proves it already did (replay → no-op).
    * [[TableLoader.detectFormat]] decides create or append; a path
    * already holding ANOTHER format's table refuses.
    */
  def appendBatch(batch: DataFrame, path: String, format: TableFormat, appId: String,
      batchId: Long): Boolean = {
    val spark = batch.sparkSession
    val found = TableLoader.detectFormat(spark, path)
    if (found == PlainParquet) {
      format.create(batch, path, transaction = Some((appId, batchId)))
      true
    } else {
      require(found == format,
        s"$path already holds a $found table — refusing to land a $format stream batch in it")
      if (format.lastBatchId(spark, path, appId).exists(_ >= batchId)) false
      else {
        format.append(batch, path, (appId, batchId))
        true
      }
    }
  }

  /** Drive a file-source event stream into the `format` table at
    * `tablePath`, one idempotent append per micro-batch (AvailableNow
    * — drains the source and stops, the test/bench harness shape).
    * The Delta table lands `ts` as TIMESTAMP_NTZ; Iceberg and Hudi
    * land it as the event source serves it.
    */
  def streamEvents(spark: SparkSession, path: String, tablePath: String,
      format: TableFormat, appId: String, queryName: String = "graft_table_sink"): Unit = {
    val source = EventStream.eventSource(spark, path, maxFilesPerTrigger = Some(1))
    val events =
      if (format == DeltaFormat) source.withColumn("ts", col("ts").cast("timestamp_ntz"))
      else source
    val q = events.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        appendBatch(batch.toDF(), tablePath, format, appId, id): Unit
      }
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
