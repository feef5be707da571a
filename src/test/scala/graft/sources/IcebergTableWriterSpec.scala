package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Interop contract: what the writer lands must be a spec-true
  * Iceberg v2 table — the round trip goes through
  * [[IcebergTableReader]], itself locked against hand-built Avro
  * manifest fixtures.
  */
class IcebergTableWriterSpec extends SparkSpec {

  private def df(r: Range) = {
    val s = spark
    import s.implicits._
    r.map(i => (i.toLong, s"g${i % 4}", i * 2L)).toDF("id", "grp", "v")
  }

  test("create + append round-trip; incremental and time travel ride the parent chain") {
    val table = tmpDir("iwr-basic") + "/t"
    val s1 = IcebergTableWriter.create(df(1 to 100), table)
    assert(s1 == 1L)
    assert(IcebergTableReader.snapshot(spark, table).count() == 100L)
    assert(TableLoader.detectFormat(spark, table) == TableLoader.IcebergFormat)
    val s2 = IcebergTableWriter.append(df(101 to 130), table)
    assert(s2 == 2L)
    assert(IcebergTableReader.snapshot(spark, table).count() == 130L)
    // incremental since s1: exactly the appended snapshot's rows
    // (the reused s1 manifest must be excluded by added_snapshot_id)
    val inc = IcebergTableReader.incrementalSince(spark, table, s1)
    assert(inc.count() == 30L)
    assert(inc.agg(min("id"), max("id")).head().toSeq == Seq(101L, 130L))
    // format-agnostic dispatch
    assert(TableLoader.openIncremental(spark, table, s1.toString).count() == 30L)
    // time travel back to snapshot 1
    assert(IcebergTableReader.snapshotAsOf(spark, table, s1).count() == 100L)
    // refusals
    val s = spark
    import s.implicits._
    val e = intercept[IllegalArgumentException](
      IcebergTableWriter.append(Seq((1L, "x")).toDF("id", "grp"), table))
    assert(e.getMessage.contains("columns"))
    val e2 = intercept[IllegalArgumentException](IcebergTableWriter.create(df(1 to 5), table))
    assert(e2.getMessage.contains("already"))
  }

  test("manifest metadata is real: footer record counts, manifest reuse, CAS version bump") {
    val table = tmpDir("iwr-meta") + "/t"
    IcebergTableWriter.create(df(1 to 50), table): Unit
    IcebergTableWriter.append(df(51 to 70), table): Unit
    // record_count in manifests must sum to the true row count
    val (snaps, currentId) = IcebergTableReader.snapshotLog(spark, table)
    val current = snaps.find(_.id == currentId).get
    val manifests = IcebergTableReader.manifestListEntries(spark, table, current.manifestList)
    assert(manifests.size >= 2, "the append's list must REUSE the create's manifest")
    assert(manifests.map(_._2).distinct.sorted == Seq(1L, 2L))
    // list rows carry sequence_number (the inheritance source); the
    // REUSED manifest keeps its original sequence, not the append's
    assert(manifests.map(_._4).sortBy(_.getOrElse(0L)) == Seq(Some(1L), Some(2L)),
      "manifest-list sequence numbers: reused verbatim, new = commit sequence")
    // a racing writer already holds v3: the CAS bumps to v4
    val w = new java.io.PrintWriter(
      new java.io.File(s"$table/metadata", "v3.metadata.json"), "UTF-8")
    // the squatter is a full valid metadata copy (a real racer's
    // commit), pointing at the current state
    try w.println(scala.io.Source.fromFile(
      s"$table/metadata/v2.metadata.json").mkString) finally w.close()
    // drop the Hadoop CRC sidecar before rewriting the hint out-of-band
    new java.io.File(s"$table/metadata", ".version-hint.text.crc").delete(): Unit
    val hint = new java.io.PrintWriter(
      new java.io.File(s"$table/metadata", "version-hint.text"), "UTF-8")
    try hint.println("3") finally hint.close()
    IcebergTableWriter.append(df(71 to 80), table): Unit
    assert(new java.io.File(s"$table/metadata", "v4.metadata.json").exists(),
      "the CAS loser must land at the next free version, not overwrite")
    assert(IcebergTableReader.snapshot(spark, table).count() == 80L)
  }

  test("position-delete writer: rows vanish without file rewrites; deletes accumulate; incremental refuses across") {
    import org.apache.spark.sql.functions._
    val table = tmpDir("iwr-del") + "/t"
    IcebergTableWriter.create(df(1 to 100), table): Unit
    val dataBefore = IcebergTableReader.planFiles(spark, table).data.toSet
    IcebergTableWriter.delete(spark, table, col("id") <= 10L): Unit
    val snap1 = IcebergTableReader.snapshot(spark, table)
    assert(snap1.count() == 90L)
    assert(snap1.agg(min("id")).head().getLong(0) == 11L)
    val plan1 = IcebergTableReader.planFiles(spark, table)
    assert(plan1.data.toSet == dataBefore, "no data file may be rewritten or dropped")
    assert(plan1.positionDeletes.size == 1)
    // a second delete ACCUMULATES (evaluated on live rows only)
    IcebergTableWriter.delete(spark, table, col("id") <= 25L): Unit
    val snap2 = IcebergTableReader.snapshot(spark, table)
    assert(snap2.count() == 75L)
    assert(snap2.agg(min("id")).head().getLong(0) == 26L)
    assert(IcebergTableReader.planFiles(spark, table).positionDeletes.size == 2)
    // the delete snapshot's operation is 'delete': incremental refuses across it
    val (snaps, _) = IcebergTableReader.snapshotLog(spark, table)
    assert(snaps.count(_.operation == "delete") == 2)
    val e = intercept[IllegalStateException](
      IcebergTableReader.incrementalSince(spark, table, 1L))
    assert(e.getMessage.contains("not an append"))
    // appends after a delete still work, and prior operations survive
    // the metadata rewrite verbatim
    IcebergTableWriter.append(df(101 to 110), table): Unit
    assert(IcebergTableReader.snapshot(spark, table).count() == 85L)
    val (snaps2, _) = IcebergTableReader.snapshotLog(spark, table)
    assert(snaps2.count(_.operation == "delete") == 2,
      "a later commit must not rewrite prior snapshots' operations")
    // no-match predicate refuses
    val e2 = intercept[IllegalArgumentException](
      IcebergTableWriter.delete(spark, table, col("id") > 100000L))
    assert(e2.getMessage.contains("no live rows"))
  }

  test("stats-based skipping: manifest bounds cut the file set; non-numeric and boundless stay") {
    val s = spark
    import s.implicits._
    val table = tmpDir("iwr-skip") + "/t"
    val df = (1 to 400).map(i => (i.toLong, s"g${i % 3}", i * 2L)).toDF("id", "grp", "v")
    IcebergTableWriter.create(df.repartitionByRange(8, col("id")), table): Unit
    val plan = IcebergTableReader.planFiles(spark, table)
    assert(plan.bounds.nonEmpty, "the writer must record manifest bounds")
    // a narrow range provably cuts the file set
    val pruned = IcebergTableReader.planFilesSkipping(spark, table, "id", 0.0, 40.0)
    assert(pruned.data.size < plan.data.size,
      s"skipping must cut files (${pruned.data.size} of ${plan.data.size})")
    // pruning is conservative: the kept set still covers the range exactly
    val got = IcebergTableReader.snapshotSkipping(spark, table, "id", 0.0, 40.0)
      .where(col("id") <= 40L)
    assert(got.count() == 40L)
    assert(got.agg(sum("v")).head().getLong(0) == (1 to 40).map(_ * 2L).sum)
    // a string column decodes no numeric bounds — every file kept
    val strPruned = IcebergTableReader.planFilesSkipping(spark, table, "grp", 0.0, 1.0)
    assert(strPruned.data.size == plan.data.size,
      "non-numeric bound types must keep files conservatively")
    // an undeclared column refuses
    val e = intercept[IllegalArgumentException](
      IcebergTableReader.planFilesSkipping(spark, table, "nope", 0.0, 1.0))
    assert(e.getMessage.contains("not a declared"))
  }

  test("partitioned create/append: values ride the manifests, pruning skips files, columns stay in data") {
    import org.apache.spark.sql.functions._
    val table = tmpDir("iwr-part") + "/t"
    IcebergTableWriter.create(df(1 to 80), table, partitionBy = Seq("grp")): Unit
    // identity-partition columns stay IN the data files (Iceberg does
    // not strip them) — any data file must carry grp
    val aData = new java.io.File(s"$table/data").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    assert(spark.read.parquet(aData.toString).columns.contains("grp"))
    // full snapshot reads everything
    val snap = IcebergTableReader.snapshot(spark, table)
    assert(snap.count() == 80L)
    assert(snap.where(col("grp") === "g1").count() == 20L)
    // appends derive the partitioning from the TABLE's declared spec
    IcebergTableWriter.append(df(81 to 100), table): Unit
    assert(IcebergTableReader.snapshot(spark, table).count() == 100L)
    assert(IcebergTableWriter.declaredPartitionBy(spark, table) == Seq("grp"))
    // manifest-level pruning: only g1's files reach the scan
    val all = IcebergTableReader.planFiles(spark, table).data.size
    val prunedPlan = IcebergTableReader.planFilesPruned(spark, table,
      pv => pv.get("grp").contains("g1"))
    assert(prunedPlan.data.nonEmpty && prunedPlan.data.size < all,
      s"pruning must cut the FILE set (got ${prunedPlan.data.size} of $all)")
    val pruned = IcebergTableReader.snapshotPruned(spark, table,
      pv => pv.get("grp").contains("g1"))
    assert(pruned.count() == 25L)
    assert(pruned.inputFiles.length == prunedPlan.data.size,
      "the scan must touch exactly the pruned file set")
  }

  test("an append to a table without version-hint.text keeps its partition spec, field ids and sort order") {
    val s = spark
    import s.implicits._
    def rows(r: Range) = r.map(i => (i.toLong, s"p${i % 2}", i * 2L)).toDF("id", "p", "v")
    val table = tmpDir("iwr-hintless") + "/t"
    IcebergTableWriter.create(rows(1 to 40), table, partitionBy = Seq("p"), sortBy = Seq("id")): Unit
    val idsBefore = IcebergMetadata.load(spark, table).fieldNames
    // the hint is advisory: without it the highest-numbered metadata is current
    Seq("version-hint.text", ".version-hint.text.crc").foreach(n =>
      assert(new java.io.File(s"$table/metadata", n).delete(), n))
    IcebergTableWriter.append(rows(41 to 50), table): Unit
    assert(IcebergTableWriter.declaredPartitionBy(spark, table) == Seq("p"))
    assert(IcebergMetadata.load(spark, table).fieldNames == idsBefore)
    assert(IcebergTableReader.sortOrder(spark, table) == Seq(("id", "asc", "nulls-first")))
    assert(IcebergTableReader.snapshot(spark, table).count() == 50L)
  }
}
