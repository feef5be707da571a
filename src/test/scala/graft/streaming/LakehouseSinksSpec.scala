package graft.streaming

import graft.SparkSpec
import graft.sources.{HudiTableReader, HudiTableWriter, IcebergTableReader, IcebergTableWriter}
import org.apache.spark.sql.functions._

/** Exactly-once streaming sinks into Iceberg and Hudi: the watermark
  * rides the format's OWN metadata (snapshot summary / commit
  * extraMetadata), so replays no-op off the table itself.
  */
class LakehouseSinksSpec extends SparkSpec {

  private def df(r: Range) = {
    val s = spark
    import s.implicits._
    r.map(i => (i.toLong, s"k$i", i * 2L)).toDF("id", "key", "v")
  }

  test("iceberg sink: snapshot-summary watermark; replays no-op; summaries survive later commits") {
    val table = tmpDir("isink") + "/t"
    assert(LakehouseSinks.appendBatchIceberg(df(1 to 20), table, "app", 0L))
    assert(LakehouseSinks.appendBatchIceberg(df(21 to 30), table, "app", 1L))
    assert(IcebergTableWriter.lastBatchId(spark, table, "app").contains(1L))
    assert(IcebergTableWriter.lastBatchId(spark, table, "other").isEmpty,
      "watermarks are per appId")
    // at-least-once redelivery of BOTH batches (batch 0 = the create
    // itself — its summary carries the watermark too): no-ops
    assert(!LakehouseSinks.appendBatchIceberg(df(1 to 20), table, "app", 0L))
    assert(!LakehouseSinks.appendBatchIceberg(df(21 to 30), table, "app", 1L))
    assert(IcebergTableReader.snapshot(spark, table).count() == 30L)
    // a NEW batch lands after replays
    assert(LakehouseSinks.appendBatchIceberg(df(31 to 35), table, "app", 2L))
    assert(IcebergTableReader.snapshot(spark, table).count() == 35L)
    // the watermark survives UNRELATED later commits (summaries
    // re-serialize verbatim — a delete snapshot must not erase it)
    IcebergTableWriter.delete(spark, table, col("id") === 33L): Unit
    assert(IcebergTableWriter.lastBatchId(spark, table, "app").contains(2L))
    assert(!LakehouseSinks.appendBatchIceberg(df(31 to 35), table, "app", 2L),
      "replay after an unrelated commit must still no-op")
  }

  test("hudi sink: commit extraMetadata watermark; replays no-op including batch 0") {
    val table = tmpDir("hsink") + "/t"
    assert(LakehouseSinks.appendBatchHudi(df(1 to 20), table, "app", 0L))
    assert(LakehouseSinks.appendBatchHudi(df(21 to 30), table, "app", 1L))
    assert(HudiTableWriter.lastBatchId(spark, table, "app").contains(1L))
    assert(HudiTableWriter.lastBatchId(spark, table, "other").isEmpty)
    assert(!LakehouseSinks.appendBatchHudi(df(1 to 20), table, "app", 0L))
    assert(!LakehouseSinks.appendBatchHudi(df(21 to 30), table, "app", 1L))
    assert(HudiTableReader.snapshot(spark, table).count() == 30L)
    assert(LakehouseSinks.appendBatchHudi(df(31 to 35), table, "app", 2L))
    assert(HudiTableReader.snapshot(spark, table).count() == 35L)
    // the extraMetadata is IN the commit file (deltastreamer shape)
    val commits = new java.io.File(s"$table/.hoodie").listFiles()
      .filter(_.getName.endsWith(".commit")).map(f =>
        scala.io.Source.fromFile(f).mkString)
    assert(commits.count(_.contains(""""graft.sink.batch-id"""")) == 3)
  }

  test("hudi sink: the watermark and replays survive timeline archival") {
    val table = tmpDir("hsink-arch") + "/t"
    assert(LakehouseSinks.appendBatchHudi(df(1 to 20), table, "app", 0L))
    assert(LakehouseSinks.appendBatchHudi(df(21 to 30), table, "app", 1L))
    assert(LakehouseSinks.appendBatchHudi(df(31 to 35), table, "app", 2L))
    assert(HudiTableWriter.archiveTimeline(spark, table, keepLast = 1) == 2)
    assert(HudiTableWriter.lastBatchId(spark, table, "app").contains(2L))
    assert(!LakehouseSinks.appendBatchHudi(df(21 to 30), table, "app", 1L))
    assert(LakehouseSinks.appendBatchHudi(df(36 to 40), table, "app", 3L))
    assert(HudiTableWriter.lastBatchId(spark, table, "app").contains(3L))
    assert(HudiTableReader.snapshot(spark, table).count() == 40L)
  }

  test("streamEventsTo{Iceberg,Hudi}: a file-source drain lands every event exactly once") {
    val s = spark
    import s.implicits._
    val srcDir = tmpDir("sink-src")
    (1 to 3).foreach { i =>
      Seq(((i * 10) + 1, s"e$i", i * 1.5,
        java.sql.Timestamp.valueOf(s"2024-01-0$i 00:00:00")))
        .toDF("event_id", "event_type", "value", "ts")
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    def eventsOf(path: String) = spark.read.parquet(path)
    val ice = tmpDir("sink-ice") + "/t"
    LakehouseSinks.streamEventsToIceberg(spark, srcDir, ice, "iapp",
      queryName = "isink_" + java.util.UUID.randomUUID().toString.replace("-", ""))
    assert(IcebergTableReader.snapshot(spark, ice).count() == eventsOf(srcDir).count())
    val hudi = tmpDir("sink-hudi") + "/t"
    LakehouseSinks.streamEventsToHudi(spark, srcDir, hudi, "happ",
      queryName = "hsink_" + java.util.UUID.randomUUID().toString.replace("-", ""))
    assert(HudiTableReader.snapshot(spark, hudi)
      .select("event_id", "event_type", "value").count() == eventsOf(srcDir).count())
  }
}
