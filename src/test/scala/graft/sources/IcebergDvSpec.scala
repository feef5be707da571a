package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Iceberg v3 DELETION VECTORS (iceberg.apache.org spec v3 +
  * puffin-spec): write through [[IcebergTableWriter.deleteDv]], read
  * through the snapshot's executor-side blob decode. The DV blob
  * framing is Delta's sidecar entry byte-for-byte (the spec adopted
  * it so one vector serves both formats), so corruption refusals come
  * from the same CRC/magic checks [[DeltaDv]] is spec-locked on.
  */
class IcebergDvSpec extends SparkSpec {

  private def df(r: Range) = {
    val s = spark
    import s.implicits._
    r.map(i => (i.toLong, s"g${i % 3}", i * 2L)).toDF("id", "grp", "v")
  }

  private def conf = spark.sparkContext.hadoopConfiguration

  test("deleteDv: rows vanish with no data-file rewrite; format-version floors at 3; puffin metadata is spec-shaped") {
    val table = tmpDir("dv-basic") + "/t"
    IcebergTableWriter.create(df(1 to 60), table): Unit
    IcebergTableWriter.append(df(61 to 100), table): Unit
    val before = IcebergTableReader.planFiles(spark, table)
    assert(IcebergMetadata.load(spark, table).formatVersion == 2)
    IcebergTableWriter.deleteDv(spark, table, col("id") % 10 === 0): Unit
    val plan = IcebergTableReader.planFiles(spark, table)
    assert(plan.data.toSet == before.data.toSet, "no data file rewritten or dropped")
    assert(plan.deletionVectors.nonEmpty && plan.positionDeletes.isEmpty)
    assert(IcebergMetadata.load(spark, table).formatVersion == 3,
      "a DV commit must declare format-version 3")
    val snap = IcebergTableReader.snapshot(spark, table)
    assert(snap.count() == 90L)
    assert(snap.where(col("id") % 10 === 0).count() == 0L)
    // an unrelated append keeps v3 (no version regression)
    IcebergTableWriter.append(df(101 to 110), table): Unit
    assert(IcebergMetadata.load(spark, table).formatVersion == 3)
    assert(IcebergTableReader.snapshot(spark, table).count() == 100L)
    // puffin file: footer parses, blob metadata carries the spec's
    // required DV properties
    val dv = plan.deletionVectors.head
    val json = IcebergPuffin.footerJson(conf, new Path(s"$table/${dv.puffinPath}"))
    assert(json.contains("\"deletion-vector-v1\""))
    assert(json.contains("referenced-data-file") && json.contains("cardinality"))
    // the bare file list refuses under DVs
    val e = intercept[IllegalStateException](IcebergTableReader.activeFiles(spark, table))
    assert(e.getMessage.contains("row-level delete"))
  }

  test("supersede: a second deleteDv folds prior deletes in and rewrites old DV entries out — one DV per file") {
    val table = tmpDir("dv-supersede") + "/t"
    IcebergTableWriter.create(df(1 to 90), table): Unit
    IcebergTableWriter.deleteDv(spark, table, col("id") % 7 === 0): Unit
    val mid = IcebergTableReader.planFiles(spark, table)
    IcebergTableWriter.deleteDv(spark, table, col("id") % 11 === 0): Unit
    val plan = IcebergTableReader.planFiles(spark, table)
    // every re-vectored file has exactly ONE live DV entry
    val refs = plan.deletionVectors.map(_.referencedDataFile)
    assert(refs.distinct.size == refs.size,
      s"one DV per data file, got duplicate refs among $refs")
    // the new vector carries the OLD deletes too (supersede), so the
    // snapshot is exact with the old entries rewritten out
    val snap = IcebergTableReader.snapshot(spark, table)
    assert(snap.count() == (1 to 90).count(i => i % 7 != 0 && i % 11 != 0).toLong)
    assert(snap.where(col("id") % 7 === 0 || col("id") % 11 === 0).count() == 0L)
    // the superseded vector's positions are a subset of the new one's
    val touchedBoth = mid.deletionVectors.map(_.referencedDataFile).toSet
      .intersect(plan.deletionVectors.map(_.referencedDataFile).toSet)
    touchedBoth.foreach { f =>
      val oldDv = mid.deletionVectors.find(_.referencedDataFile == f).get
      val newDv = plan.deletionVectors.find(_.referencedDataFile == f).get
      val oldPos = IcebergPuffin.readDvPositions(conf,
        s"$table/${oldDv.puffinPath}", oldDv.offset, oldDv.length).toSet
      val newPos = IcebergPuffin.readDvPositions(conf,
        s"$table/${newDv.puffinPath}", newDv.offset, newDv.length).toSet
      assert(oldPos.subsetOf(newPos), s"$f: new DV must fold the old one in")
    }
  }

  test("the first DV commit vectorizes EVERY v2 position delete — the committed table is v3-legal throughout") {
    val table = tmpDir("dv-coexist") + "/t"
    // two disjoint data-file sets so the v2 delete and the DV delete
    // touch DIFFERENT files — the untouched files' v2 rows must fold
    // too (the v3 spec forbids position-delete files outright)
    IcebergTableWriter.create(df(1 to 80), table): Unit
    IcebergTableWriter.append(df(81 to 160), table): Unit
    IcebergTableWriter.delete(spark, table, col("id") % 5 === 0): Unit // v2 parquet
    IcebergTableWriter.deleteDv(spark, table,
      col("id") % 8 === 0 && col("id") > 80): Unit // v3 puffin, second batch only
    val plan = IcebergTableReader.planFiles(spark, table)
    assert(plan.positionDeletes.isEmpty,
      "v3 forbids position-delete files — the DV commit must fold and drop them ALL")
    assert(plan.deletionVectors.nonEmpty)
    val snap = IcebergTableReader.snapshot(spark, table)
    assert(snap.count() ==
      (1 to 160).count(i => i % 5 != 0 && !(i % 8 == 0 && i > 80)).toLong)
    assert(snap.where(col("id") % 5 === 0).count() == 0L,
      "folded v2 deletes must still apply through their DVs")
    // decoding any DV yields positions (the %5 rows of its file)
    val anyDv = plan.deletionVectors.head
    val pos = IcebergPuffin.readDvPositions(conf,
      s"$table/${anyDv.puffinPath}", anyDv.offset, anyDv.length)
    assert(pos.nonEmpty)
    // delete() on the now-v3 table AUTO-VECTORIZES — no v2 shape can
    // ever land again
    assert(IcebergMetadata.load(spark, table).formatVersion == 3)
    IcebergTableWriter.delete(spark, table, col("id") === 3L): Unit
    val plan2 = IcebergTableReader.planFiles(spark, table)
    assert(plan2.positionDeletes.isEmpty,
      "delete() on a v3 table must route through the DV writer")
    assert(IcebergTableReader.snapshot(spark, table).where(col("id") === 3L).isEmpty)
  }

  test("change feed diffs DVs: each snapshot serves ONLY its newly-deleted pre-images; the fold reproduces the snapshot") {
    val table = tmpDir("dv-feed") + "/t"
    val s1 = IcebergTableWriter.create(df(1 to 60), table)
    IcebergTableWriter.deleteDv(spark, table, col("id") % 6 === 0): Unit  // s2: 10 rows
    IcebergTableWriter.deleteDv(spark, table, col("id") % 10 === 0): Unit // s3: 4 NEW rows
    val feed = IcebergTableReader.changeFeedSince(spark, table, s1)
    feed.cache()
    val d2 = feed.where(col("_snapshot_id") === s1 + 1)
    assert(d2.count() == 10L &&
      d2.where(col("_change_type") =!= "delete").count() == 0L)
    // s3's delta excludes the already-deleted %6 rows (30 and 60)
    val d3 = feed.where(col("_snapshot_id") === s1 + 2)
    assert(d3.select("id").collect().map(_.getLong(0)).toSet == Set(10L, 20L, 40L, 50L),
      "the diff must exclude positions the previous DV already deleted")
    assert(d3.where(col("v").isNull).count() == 0L, "pre-images carry the full row")
    // fold: bootstrap minus all fed deletes == current snapshot
    val mirror = IcebergTableReader.snapshotAsOf(spark, table, s1)
      .select("id", "grp", "v")
      .join(feed.select("id"), Seq("id"), "left_anti")
    val now = IcebergTableReader.snapshot(spark, table).select("id", "grp", "v")
    assert(mirror.exceptAll(now).isEmpty && now.exceptAll(mirror).isEmpty)
    feed.unpersist()
  }

  test("refusals: corrupt blob CRC, empty match") {
    val table = tmpDir("dv-refuse") + "/t"
    IcebergTableWriter.create(df(1 to 40), table): Unit
    IcebergTableWriter.deleteDv(spark, table, col("id") <= 4): Unit
    // an empty match refuses rather than committing an empty snapshot
    val e2 = intercept[IllegalArgumentException](
      IcebergTableWriter.deleteDv(spark, table, col("id") === -1L))
    assert(e2.getMessage.contains("matched no live rows"))
    // flip one byte inside the blob: OUR CRC check must catch it
    val dv = IcebergTableReader.planFiles(spark, table).deletionVectors.head
    corruptByte(s"$table/${dv.puffinPath}", dv.offset + 6)
    val e3 = intercept[Exception](IcebergTableReader.snapshot(spark, table).count())
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .flatMap(x => Option(x.getMessage)).toSeq
    assert(messages(e3).exists(_.contains("CRC")),
      s"corrupt DV must refuse via CRC, got: ${messages(e3).mkString(" | ")}")
  }

  /** Flip one byte in place and drop Hadoop's local-FS `.crc`
    * sidecar, so the refusal under test is OURS, not the
    * filesystem's. */
  private def corruptByte(path: String, at: Long): Unit = {
    val raf = new java.io.RandomAccessFile(path, "rw")
    try {
      raf.seek(at); val b = raf.read(); raf.seek(at); raf.write(b ^ 0x7f)
    } finally raf.close()
    val f = new java.io.File(path)
    new java.io.File(f.getParentFile, s".${f.getName}.crc").delete(): Unit
  }

  test("puffin codec: footer round-trip, header/trailing magic checks") {
    val dir = tmpDir("dv-codec")
    val p = new Path(s"$dir/x.puffin")
    val refs = IcebergPuffin.writeFile(conf, p, Seq(
      IcebergPuffin.DvBlob.ofPositions("data/a.parquet", Seq(1L, 5L, 99L), 7L, 3L),
      IcebergPuffin.DvBlob.ofPositions("data/b.parquet", Seq(2L), 7L, 3L)))
    assert(refs.size == 2 && refs.map(_.cardinality) == Seq(3L, 1L))
    refs.zip(Seq(Seq(1L, 5L, 99L), Seq(2L))).foreach { case (r, expect) =>
      assert(IcebergPuffin.readDvPositions(conf, p.toString, r.offset, r.length).toSeq
        == expect)
    }
    val json = IcebergPuffin.footerJson(conf, p)
    assert(json.contains("\"snapshot-id\":7") && json.contains("\"sequence-number\":3"))
    // clobber the trailing magic: the footer parse must refuse
    val fileLen = new java.io.File(s"$dir/x.puffin").length()
    corruptByte(s"$dir/x.puffin", fileLen - 1)
    val e = intercept[IllegalArgumentException](IcebergPuffin.footerJson(conf, p))
    assert(e.getMessage.contains("magic"))
  }
}
