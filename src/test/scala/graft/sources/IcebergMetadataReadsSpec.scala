package graft.sources

import graft.{FsCalls, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** An Iceberg operation resolves its table's current metadata once
  * ([[IcebergMetadata.load]]) and passes that value through, so the
  * version hint and the metadata JSON are opened once however many
  * helpers the operation calls; counted with [[FsCalls]]. */
class IcebergMetadataReadsSpec extends SparkSpec {

  private def rows(from: Long, until: Long): DataFrame =
    spark.range(from, until, 1, 2).select(col("id"), (col("id") % 3).cast("string").as("grp"),
      lit(1L).as("v"))

  /** A table of 6 snapshots: a create, then 5 appends of 10 rows. */
  private def sixSnapshots(): String = {
    val t = tmpDir("ice-reads") + "/t"
    IcebergTableWriter.create(rows(0, 50), t): Unit
    (1 to 5).foreach(i => IcebergTableWriter.append(rows(40L + i * 10, 50L + i * 10), t): Unit)
    assert(IcebergTableReader.snapshotLog(spark, t)._1.size == 6)
    t
  }

  /** (opens of `version-hint.text`, opens of any `.metadata.json`). */
  private def metadataOpens(calls: FsCalls, t: String): (Int, Int) =
    (calls.count("open", s"$t/metadata/version-hint.text"),
      calls.calls.count { case (c, p) =>
        c == "open" && p.startsWith(s"$t/metadata/") && p.endsWith(".metadata.json") })

  test("an append, delete, upsert and rename each open the hint and the metadata JSON once") {
    val t = sixSnapshots()
    val ops: Seq[(String, () => Unit)] = Seq(
      "append" -> (() => IcebergTableWriter.append(rows(100, 110), t): Unit),
      "delete" -> (() => IcebergTableWriter.delete(spark, t, col("id") === 7L): Unit),
      // after the delete: position deletes refuse a table with equality deletes
      "upsert" -> (() => IcebergTableWriter.upsert(rows(5, 15), t, Seq("id")): Unit),
      "renameColumn" -> (() => IcebergTableWriter.renameColumn(spark, t, "v", "w")))
    ops.foreach { case (name, op) =>
      val calls = FsCalls.of(spark)(op())
      assert(metadataOpens(calls, t) == ((1, 1)),
        s"$name: ${calls.calls.filter(_._2.contains(".metadata.json"))}")
    }
    assert(IcebergTableReader.snapshot(spark, t).count() == 110L) // the upsert re-inserts id 7
  }

  test("a snapshot read and an incremental pull each open the hint and the metadata JSON once") {
    val t = sixSnapshots()
    var n = 0L
    val snap = FsCalls.of(spark) { n = IcebergTableReader.snapshot(spark, t).count() }
    assert(n == 100L)
    assert(metadataOpens(snap, t) == ((1, 1)))
    val since = IcebergTableReader.snapshotLog(spark, t)._1(2).id
    val pull = FsCalls.of(spark) { n = IcebergTableReader.incrementalSince(spark, t, since).count() }
    assert(n == 30L)
    assert(metadataOpens(pull, t) == ((1, 1)))
  }
}
