package graft.sources

import graft.{BeforeOpen, FsCalls, SparkSpec}
import org.apache.spark.sql.functions._

/** Iceberg OPTIMISTIC CONCURRENCY for stale-sensitive commits
  * (iceberg.apache.org spec, commit validation): deletes/rewrites
  * whose manifests were computed against a PLANNED snapshot may
  * rebase over interleaved APPENDS (appends never conflict — the
  * re-read loop carries their manifests forward), but any interleaved
  * delete/replace/overwrite refuses loudly — it may have removed or
  * re-deleted the very rows the stale manifests were computed from.
  */
class IcebergOccSpec extends SparkSpec {

  private def df(r: Range) = {
    val s = spark
    import s.implicits._
    r.map(i => (i.toLong, s"g${i % 3}", i * 2L)).toDF("id", "grp", "v")
  }

  test("a stale-planned delete rebases over an interleaved APPEND") {
    val table = tmpDir("iocc-append") + "/t"
    IcebergTableWriter.create(df(1 to 40), table): Unit
    val planned = IcebergMetadata.load(spark, table)
    // a concurrent append lands after the plan
    IcebergTableWriter.append(df(41 to 80), table): Unit
    // the planned-against delete (no-op content: the validation is
    // what's under test) lands at the NEXT snapshot
    val newId = IcebergTableWriter.commitSnapshotGroups(spark, planned,
      IcebergTableReader.snapshot(spark, table).schema, Nil,
      groups = Nil, operation = "delete")
    assert(newId > planned.currentSnapshotId + 1)
    // both effects visible: the append's rows survive
    assert(IcebergTableReader.snapshot(spark, table).count() == 80L)
  }

  test("a stale-planned delete REFUSES over an interleaved DELETE") {
    val table = tmpDir("iocc-delete") + "/t"
    IcebergTableWriter.create(df(1 to 40), table): Unit
    val planned = IcebergMetadata.load(spark, table)
    IcebergTableWriter.deleteDv(spark, table, col("id") <= 5): Unit
    val e = intercept[java.util.ConcurrentModificationException](
      IcebergTableWriter.commitSnapshotGroups(spark, planned,
        IcebergTableReader.snapshot(spark, table).schema, Nil,
        groups = Nil, operation = "delete"))
    assert(e.getMessage.contains("concurrent") && e.getMessage.contains("stale"))
    // the winner's effect is intact
    assert(IcebergTableReader.snapshot(spark, table).count() == 35L)
  }

  test("the real ops still land back-to-back: each plans against the head it commits on") {
    val table = tmpDir("iocc-seq") + "/t"
    IcebergTableWriter.create(df(1 to 60), table): Unit
    IcebergTableWriter.deleteDv(spark, table, col("id") % 10 === 0): Unit
    IcebergTableWriter.deleteDv(spark, table, col("id") % 7 === 0): Unit
    val snap = IcebergTableReader.snapshot(spark, table)
    assert(snap.count() == (1 to 60).count(i => i % 10 != 0 && i % 7 != 0).toLong)
  }

  /** Runs `op` once uncontended, then once per read it makes of the
    * version hint or of a metadata Avro file (manifest list or
    * manifest), each time on a fresh table with a racer `append` of
    * 10 rows fired just before that read; `check` sees each contended
    * table. The Avro reads fall between the op's metadata load and its
    * commit, where a lost CAS must reload rather than drop the racer. */
  private def racedAtEveryRead(fresh: () => String, op: String => Unit)(
      check: (String, String) => Unit): Unit = {
    val t0 = fresh()
    val calls = FsCalls.of(spark)(op(t0))
    val reads: Seq[(String, String => Boolean)] = Seq(
      "version-hint.text" -> (_.endsWith("/metadata/version-hint.text")),
      "metadata .avro" -> (p => p.contains("/metadata/") && p.endsWith(".avro")))
    reads.foreach { case (what, file) =>
      val n = calls.calls.count { case (c, p) => c == "open" && p.startsWith(t0) && file(p) }
      assert(n >= 1, s"no $what read")
      (1 to n).foreach { k =>
        val t = fresh()
        FsCalls.of(spark, Some(BeforeOpen(p => p.startsWith(t) && file(p), k,
          () => IcebergTableWriter.append(df(1001 to 1010), t): Unit)))(op(t))
        check(t, s"racer at $what read $k of $n")
      }
    }
  }

  test("a racer append at any metadata read of an append is never lost") {
    racedAtEveryRead(
      () => { val t = tmpDir("iocc-race") + "/t"; IcebergTableWriter.create(df(1 to 40), t); t },
      t => IcebergTableWriter.append(df(41 to 80), t): Unit) { (t, at) =>
      assert(IcebergTableReader.snapshot(spark, t).count() == 90L, at)
      assert(IcebergTableReader.snapshotLog(spark, t)._1.size == 3, at)
    }
  }

  test("a racer append at any metadata read of expireSnapshots is never lost") {
    racedAtEveryRead(
      () => {
        val t = tmpDir("iocc-expire") + "/t"
        IcebergTableWriter.create(df(1 to 40), t): Unit
        IcebergTableWriter.append(df(41 to 60), t): Unit
        IcebergTableWriter.append(df(61 to 80), t): Unit
        t
      },
      t => IcebergTableWriter.expireSnapshots(spark, t, keepLast = 2): Unit) { (t, at) =>
      val (snaps, currentId) = IcebergTableReader.snapshotLog(spark, t)
      assert(snaps.exists(_.id == currentId), s"$at: current snapshot $currentId was expired")
      assert(snaps.exists(_.summary.get("added-records").contains("10")), s"$at: racer lost")
      assert(IcebergTableReader.snapshot(spark, t).count() == 90L, at)
    }
  }
}
