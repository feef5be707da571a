package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixture tables reproduce the external writer's on-disk COW layout
  * (hudi.apache.org timeline/file-layout docs): immutable base
  * parquet files named per file group, `.hoodie/<instant>.commit`
  * JSON timelines, `_hoodie_commit_time` meta columns stamped the way
  * a COW writer stamps them — no Hudi library exists in this sandbox,
  * so the layout itself is the contract under test.
  */
class HudiTableReaderSpec extends SparkSpec {

  private def withMeta(df: DataFrame, instant: String): DataFrame =
    df.withColumn("_hoodie_commit_time", lit(instant))

  private def writeBaseFile(df: DataFrame, table: String, relPath: String): Unit = {
    val tmp = tmpDir("hudi-stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val src = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(table, relPath)
    dst.getParentFile.mkdirs()
    java.nio.file.Files.copy(src.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  private def writeCommit(table: String, instant: String,
      writes: Seq[(String, String, String)]): Unit = { // (partition, fileId, path)
    val dir = new java.io.File(table, ".hoodie")
    dir.mkdirs()
    val byPart = writes.groupBy(_._1).map { case (p, ws) =>
      s""""$p":[${ws.map { case (_, fid, path) =>
        s"""{"fileId":"$fid","path":"$path","numWrites":1,"numUpdateWrites":0,""" +
          s""""totalWriteBytes":1024,"prevCommit":"null"}"""
      }.mkString(",")}]"""
    }.mkString(",")
    val w = new java.io.PrintWriter(new java.io.File(dir, s"$instant.commit"), "UTF-8")
    try w.println(s"""{"partitionToWriteStats":{$byPart},"operationType":"UPSERT"}""")
    finally w.close()
  }

  private def rows(r: Range, instant: String) = {
    val s = spark
    import s.implicits._
    withMeta(r.map(i => (i.toLong, s"k$i", i * 2L)).toDF("id", "key", "v"), instant)
  }

  test("snapshot = latest file slice per group; incremental filters carried-forward rows out") {
    val table = tmpDir("hudi-cow")
    // commit c1: two file groups
    writeBaseFile(rows(1 to 50, "20240101090000"), table, "g1_0-0-0_20240101090000.parquet")
    writeBaseFile(rows(51 to 100, "20240101090000"), table, "g2_0-0-0_20240101090000.parquet")
    writeCommit(table, "20240101090000", Seq(
      ("", "g1", "g1_0-0-0_20240101090000.parquet"),
      ("", "g2", "g2_0-0-0_20240101090000.parquet")))
    // commit c2: REWRITES group g1 (ids 1..10 updated, stamped c2;
    // ids 11..50 carried forward keeping c1's stamp) + inserts g3
    val s = spark
    import s.implicits._
    val g1v2 = withMeta((1 to 10).map(i => (i.toLong, s"k$i", i * 200L)).toDF("id", "key", "v"),
      "20240102090000")
      .unionByName(rows(11 to 50, "20240101090000"))
    writeBaseFile(g1v2, table, "g1_0-0-1_20240102090000.parquet")
    writeBaseFile(rows(101 to 120, "20240102090000"), table, "g3_0-0-0_20240102090000.parquet")
    writeCommit(table, "20240102090000", Seq(
      ("", "g1", "g1_0-0-1_20240102090000.parquet"),
      ("", "g3", "g3_0-0-0_20240102090000.parquet")))

    assert(HudiTableReader.commits(spark, table) ==
      Seq("20240101090000", "20240102090000"))
    val snap = HudiTableReader.snapshot(spark, table)
    assert(snap.count() == 120L)
    // the updated rows come from the NEW slice only
    assert(snap.where(col("id") === 5L).select("v").head().getLong(0) == 1000L)
    // incremental since c1: exactly the c2-stamped rows (10 updates + 20 inserts),
    // NOT the 40 carried-forward g1 rows
    val inc = HudiTableReader.incrementalSince(spark, table, "20240101090000")
    assert(inc.count() == 30L)
    assert(inc.agg(min("id"), max("id")).head().toSeq == Seq(1L, 120L))
    assert(inc.where(col("id") === 20L).isEmpty,
      "carried-forward rows keep their old commit stamp and must drop out")
    // nothing after the latest commit: loud refusal
    val e = intercept[IllegalArgumentException](
      HudiTableReader.incrementalSince(spark, table, "20240102090000"))
    assert(e.getMessage.contains("no commits after"))
    // point-in-time: as of c1 the g1 rewrite and the g3 insert are invisible
    val asOf = HudiTableReader.snapshotAsOf(spark, table, "20240101090000")
    assert(asOf.count() == 100L)
    assert(asOf.where(col("id") === 5L).select("v").head().getLong(0) == 10L,
      "as-of c1 must serve the pre-update slice of g1")
    val eAsOf = intercept[IllegalArgumentException](
      HudiTableReader.snapshotAsOf(spark, table, "20230101000000"))
    assert(eAsOf.getMessage.contains("at or before"))
  }

  test("in-flight instants are invisible; MOR timelines refuse; not-a-table refuses") {
    val table = tmpDir("hudi-inflight")
    writeBaseFile(rows(1 to 30, "20240101090000"), table, "g1_0-0-0_20240101090000.parquet")
    writeCommit(table, "20240101090000", Seq(("", "g1", "g1_0-0-0_20240101090000.parquet")))
    // an in-flight commit: requested + inflight markers, data file present
    writeBaseFile(rows(31 to 60, "20240103090000"), table, "g9_0-0-0_20240103090000.parquet")
    new java.io.File(s"$table/.hoodie/20240103090000.commit.requested").createNewFile()
    new java.io.File(s"$table/.hoodie/20240103090000.inflight").createNewFile()
    assert(HudiTableReader.snapshot(spark, table).count() == 30L,
      "an uncommitted instant's files must be invisible")
    // a deltacommit makes it MOR: the COW-only point-in-time path
    // refuses, and an EMPTY commit meta file refuses the MOR replay
    // loudly (its writes cannot be reconstructed)
    new java.io.File(s"$table/.hoodie/20240104090000.deltacommit")
      .createNewFile(): Unit
    val eAsOf2 = intercept[IllegalStateException](
      HudiTableReader.snapshotAsOf(spark, table, "20240105090000"))
    assert(eAsOf2.getMessage.contains("no commit metadata"))
    val e = intercept[IllegalStateException](
      HudiTableReader.incrementalSince(spark, table, "20240101090000"))
    assert(e.getMessage.contains("no commit metadata"))
    // a DECLARED MOR table with no logs: snapshot serves the base
    // state (real-time with nothing to merge); COW paths still refuse
    val t2 = tmpDir("hudi-declared-mor")
    writeBaseFile(rows(1 to 10, "20240101090000"), t2, "g1_0-0-0_20240101090000.parquet")
    writeCommit(t2, "20240101090000", Seq(("", "g1", "g1_0-0-0_20240101090000.parquet")))
    val pw = new java.io.PrintWriter(new java.io.File(s"$t2/.hoodie", "hoodie.properties"), "UTF-8")
    try {
      pw.println("hoodie.table.name=fixture")
      pw.println("hoodie.table.type=MERGE_ON_READ")
    } finally pw.close()
    assert(HudiTableReader.snapshot(spark, t2).count() == 10L)
    // point-in-time on MOR serves the realtime cut (here = the base)
    assert(HudiTableReader.snapshotAsOf(spark, t2, "20240101090000").count() == 10L)
    // the COW-only instants listing still refuses MOR
    val eDecl = intercept[IllegalStateException](HudiTableReader.commits(spark, t2))
    assert(eDecl.getMessage.contains("hoodie.table.type"))
    val notTable = tmpDir("hudi-none")
    val e2 = intercept[IllegalArgumentException](HudiTableReader.snapshot(spark, notTable))
    assert(e2.getMessage.contains(".hoodie"))
  }

  test("clustering replacecommit: replaced groups vanish, clustered files serve; incremental stays exact across it") {
    val table = tmpDir("hudi-cluster")
    val s = spark
    import s.implicits._
    // c1: two small groups
    writeBaseFile(rows(1 to 40, "20240101090000"), table, "g1_0-0-0_20240101090000.parquet")
    writeBaseFile(rows(41 to 80, "20240101090000"), table, "g2_0-0-0_20240101090000.parquet")
    writeCommit(table, "20240101090000", Seq(
      ("", "g1", "g1_0-0-0_20240101090000.parquet"),
      ("", "g2", "g2_0-0-0_20240101090000.parquet")))
    // c2: ordinary commit inserts g3
    writeBaseFile(rows(81 to 100, "20240102090000"), table, "g3_0-0-0_20240102090000.parquet")
    writeCommit(table, "20240102090000", Seq(("", "g3", "g3_0-0-0_20240102090000.parquet")))
    // c3: clustering replacecommit — g1+g2 rewritten into gc, STAMPS PRESERVED
    writeBaseFile(rows(1 to 80, "20240101090000"), table, "gc_0-0-0_20240103090000.parquet")
    val dir = new java.io.File(table, ".hoodie")
    val w = new java.io.PrintWriter(new java.io.File(dir, "20240103090000.replacecommit"), "UTF-8")
    try w.println(
      """{"partitionToWriteStats":{"":[{"fileId":"gc","path":"gc_0-0-0_20240103090000.parquet","numWrites":80,"numUpdateWrites":0,"totalWriteBytes":1,"prevCommit":"null"}]},""" +
        """"partitionToReplaceFileIds":{"":["g1","g2"]},"operationType":"CLUSTER"}""")
    finally w.close()
    val snap = HudiTableReader.snapshot(spark, table)
    assert(snap.count() == 100L,
      "clustered inputs must vanish or every clustered row doubles")
    // incremental since c1 crosses the replacecommit: per-group pruning
    // is rewired, so the stamp filter over all active slices must still
    // surface EXACTLY c2's rows (clustering preserves stamps)
    val inc = HudiTableReader.incrementalSince(spark, table, "20240101090000")
    assert(inc.count() == 20L)
    assert(inc.agg(min("id"), max("id")).head().toSeq == Seq(81L, 100L))
  }

  private def writeDeltaCommitMeta(table: String, instant: String,
      writes: Seq[(String, String, String)]): Unit = { // (partition, fileId, path)
    val dir = new java.io.File(table, ".hoodie")
    dir.mkdirs()
    val byPart = writes.groupBy(_._1).map { case (p, ws) =>
      s""""$p":[${ws.map { case (_, fid, path) =>
        s"""{"fileId":"$fid","path":"$path","numWrites":1,"numUpdateWrites":1,""" +
          s""""totalWriteBytes":256,"prevCommit":"20240101090000"}"""
      }.mkString(",")}]"""
    }.mkString(",")
    val w = new java.io.PrintWriter(new java.io.File(dir, s"$instant.deltacommit"), "UTF-8")
    try w.println(s"""{"partitionToWriteStats":{$byPart},"operationType":"UPSERT"}""")
    finally w.close()
  }

  test("readOptimized: base files only on MOR (log writes invisible), equals snapshot on COW") {
    // COW: readOptimized == snapshot (every slice is a base file)
    val cow = tmpDir("hudi-ro-cow")
    writeBaseFile(rows(1 to 30, "20240101090000"), cow, "g1_0-0-0_20240101090000.parquet")
    writeCommit(cow, "20240101090000", Seq(("", "g1", "g1_0-0-0_20240101090000.parquet")))
    assert(HudiTableReader.readOptimized(spark, cow).count() ==
      HudiTableReader.snapshot(spark, cow).count())

    // MOR: declared type + deltacommit log writes
    val table = tmpDir("hudi-ro-mor")
    writeBaseFile(rows(1 to 50, "20240101090000"), table, "g1_0-0-0_20240101090000.parquet")
    writeCommit(table, "20240101090000", Seq(("", "g1", "g1_0-0-0_20240101090000.parquet")))
    val pw = new java.io.PrintWriter(new java.io.File(s"$table/.hoodie", "hoodie.properties"), "UTF-8")
    try {
      pw.println("hoodie.table.name=fixture")
      pw.println("hoodie.table.type=MERGE_ON_READ")
    } finally pw.close()
    // dc2: updates land in a LOG file for g1 (invisible to RO) and a
    // brand-new group g2 gets its first BASE file (visible — Hudi
    // MOR inserts may write base parquet via deltacommit)
    new java.io.File(table, ".g1_20240102090000.log.1_0-0-0").createNewFile()
    writeBaseFile(rows(51 to 70, "20240102090000"), table, "g2_0-0-0_20240102090000.parquet")
    writeDeltaCommitMeta(table, "20240102090000", Seq(
      ("", "g1", ".g1_20240102090000.log.1_0-0-0"),
      ("", "g2", "g2_0-0-0_20240102090000.parquet")))
    // snapshot serves the real-time view — but THIS fixture's base
    // files carry no _hoodie_record_key, so the log merge has no
    // record identity and refuses loudly (RO below still serves)
    val eKey = intercept[IllegalStateException](HudiTableReader.snapshot(spark, table))
    assert(eKey.getMessage.contains("_hoodie_record_key"))
    // readOptimized serves base files only: g1's ORIGINAL rows + g2
    val ro = HudiTableReader.readOptimized(spark, table)
    assert(ro.count() == 70L)
    assert(ro.where(col("_hoodie_commit_time") === "20240102090000").count() == 20L,
      "g1's log-file updates must be invisible to the read-optimized view")
    // c3: compaction = ordinary commit folding g1's logs into a new base
    val s = spark
    import s.implicits._
    val g1v2 = withMeta((1 to 10).map(i => (i.toLong, s"k$i", i * 500L)).toDF("id", "key", "v"),
      "20240103090000")
      .unionByName(rows(11 to 50, "20240101090000"))
    writeBaseFile(g1v2, table, "g1_0-0-1_20240103090000.parquet")
    writeCommit(table, "20240103090000", Seq(("", "g1", "g1_0-0-1_20240103090000.parquet")))
    val ro2 = HudiTableReader.readOptimized(spark, table)
    assert(ro2.count() == 70L)
    assert(ro2.where(col("id") === 5L).select("v").head().getLong(0) == 2500L,
      "compaction must repoint the read-optimized slice to the new base file")
  }

  test("archived timeline refuses; replacecommit-only tail yields an EMPTY incremental, not an error") {
    // replacecommit-only tail: clustering after the checkpoint moved
    // rows but changed none — zero new rows is the correct answer
    val table = tmpDir("hudi-rc-tail")
    writeBaseFile(rows(1 to 40, "20240101090000"), table, "g1_0-0-0_20240101090000.parquet")
    writeCommit(table, "20240101090000", Seq(("", "g1", "g1_0-0-0_20240101090000.parquet")))
    writeBaseFile(rows(1 to 40, "20240101090000"), table, "gc_0-0-0_20240102090000.parquet")
    val w = new java.io.PrintWriter(
      new java.io.File(s"$table/.hoodie", "20240102090000.replacecommit"), "UTF-8")
    try w.println(
      """{"partitionToWriteStats":{"":[{"fileId":"gc","path":"gc_0-0-0_20240102090000.parquet","numWrites":40,"numUpdateWrites":0,"totalWriteBytes":1,"prevCommit":"null"}]},""" +
        """"partitionToReplaceFileIds":{"":["g1"]},"operationType":"CLUSTER"}""")
    finally w.close()
    val inc = HudiTableReader.incrementalSince(spark, table, "20240101090000")
    assert(inc.count() == 0L,
      "a replacecommit-only tail pulls zero rows (stamps preserved), not an error")
    // nothing at all after the checkpoint still refuses loudly
    val e0 = intercept[IllegalArgumentException](
      HudiTableReader.incrementalSince(spark, table, "20240102090000"))
    assert(e0.getMessage.contains("no commits after"))
    // archived timelines REPLAY under the active listing now
    // (HudiArchiveSpec): an empty archive artifact contributes no
    // instants and reads keep serving; a CORRUPT one refuses loudly
    // via the log codec rather than silently missing file groups
    val dir = new java.io.File(table, ".hoodie/archived")
    dir.mkdirs()
    new java.io.File(dir, ".commits_.archive.1").createNewFile()
    assert(HudiTableReader.snapshot(spark, table).count() == 40L)
    java.nio.file.Files.write(
      new java.io.File(dir, ".commits_.archive.1").toPath,
      "not a hudi log".getBytes("UTF-8"))
    intercept[Exception](HudiTableReader.snapshot(spark, table).count())
  }

  test("partitioned layout: commit paths under partition dirs resolve; schema rides the data files") {
    val table = tmpDir("hudi-part")
    val s = spark
    import s.implicits._
    def pr(r: Range, day: String, instant: String) = withMeta(
      r.map(i => (i.toLong, day, i * 3L)).toDF("id", "day", "v"), instant)
    writeBaseFile(pr(1 to 40, "2024-01-01", "20240101090000"),
      table, "day=2024-01-01/gA_0-0-0_20240101090000.parquet")
    writeBaseFile(pr(41 to 90, "2024-01-02", "20240101090000"),
      table, "day=2024-01-02/gB_0-0-0_20240101090000.parquet")
    writeCommit(table, "20240101090000", Seq(
      ("day=2024-01-01", "gA", "day=2024-01-01/gA_0-0-0_20240101090000.parquet"),
      ("day=2024-01-02", "gB", "day=2024-01-02/gB_0-0-0_20240101090000.parquet")))
    val snap = HudiTableReader.snapshot(spark, table)
    assert(snap.count() == 90L)
    assert(snap.where(col("day") === "2024-01-02").count() == 50L,
      "partition columns ride the data files in Hudi COW — no reconstruction needed")
  }

  test("driver footer schema equals Spark's inference: graft-written, nested, TIMESTAMP(NANOS)") {
    val table = tmpDir("hrd-footer") + "/t"
    val s = spark
    import s.implicits._
    HudiTableWriter.create(Seq((1L, "a", 2.5)).toDF("id", "k", "x"), table,
      recordKeys = Seq("id")): Unit
    val base = HudiTableReader.activeSlices(spark, table).map(sl => s"$table/${sl.path}").head
    assert(HudiTableReader.footerSchema(spark, base) == spark.read.parquet(base).schema)
    // non-null nested fields come back nullable at every depth, as a scan serves them
    val nested = tmpDir("hrd-nested") + "/n"
    spark.range(3).select(struct(col("id"), lit("s").as("s")).as("st"),
        array(col("id")).as("arr"), map(lit("k"), col("id")).as("m"))
      .coalesce(1).write.parquet(nested)
    val file = new java.io.File(nested).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).head
    assert(HudiTableReader.footerSchema(spark, file) == spark.read.parquet(file).schema)
    // TIMESTAMP(NANOS) converts under the session's nanosAsLong, as inference does
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val events = s"$sfDir/events.parquet"
    assert(HudiTableReader.footerSchema(spark, events) == spark.read.parquet(events).schema)
  }
}
