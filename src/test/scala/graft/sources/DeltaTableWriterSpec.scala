package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The writer's contract is INTEROP: what it lands on disk must be a
  * protocol-conformant Delta table. The round trip goes through
  * [[DeltaTableReader]] — which is itself spec-locked against
  * hand-built protocol fixtures — and through [[TableLoader.open]]'s
  * format auto-detection.
  */
class DeltaTableWriterSpec extends SparkSpec {

  private def df(r: Range) = {
    val s = spark
    import s.implicits._
    r.map(i => (i.toLong, s"g${i % 4}", i * 2L)).toDF("id", "grp", "v")
  }

  test("create + append round-trip through the reader; versions and incrementals line up") {
    val table = tmpDir("dwr-basic") + "/t"
    val v0 = DeltaTableWriter.create(df(1 to 100), table)
    assert(v0 == 0L)
    val snap0 = DeltaTableReader.snapshot(spark, table)
    assert(snap0.count() == 100L)
    assert(snap0.columns.toSeq == Seq("id", "grp", "v"))
    // append lands as version 1 and surfaces as exactly its rows
    val v1 = DeltaTableWriter.append(df(101 to 130), table)
    assert(v1 == 1L)
    assert(DeltaTableReader.snapshot(spark, table).count() == 130L)
    val inc = DeltaTableReader.incrementalSince(spark, table, 0L)
    assert(inc.count() == 30L)
    assert(inc.agg(min("id"), max("id")).head().toSeq == Seq(101L, 130L))
    // format auto-detection opens it
    assert(TableLoader.detectFormat(spark, table) == TableLoader.DeltaFormat)
    assert(TableLoader.open(spark, table).count() == 130L)
    // appended columns may arrive in any order; a different SET refuses
    val s = spark
    import s.implicits._
    DeltaTableWriter.append(
      df(131 to 140).select("v", "id", "grp"), table): Unit
    assert(DeltaTableReader.snapshot(spark, table).count() == 140L)
    val e = intercept[IllegalArgumentException](
      DeltaTableWriter.append(Seq((1L, "x")).toDF("id", "grp"), table))
    assert(e.getMessage.contains("schema"))
    // create on an existing table refuses
    val e2 = intercept[IllegalArgumentException](DeltaTableWriter.create(df(1 to 5), table))
    assert(e2.getMessage.contains("already"))
  }

  test("upsert through a RELATIVE table path: matched rows resolve against the active set") {
    val abs = java.nio.file.Paths.get(tmpDir("dwr-relative"), "t")
    val table = java.nio.file.Paths.get("").toAbsolutePath.relativize(abs).toString
    assert(!table.startsWith("/"))
    DeltaTableWriter.create(df(1 to 40), table): Unit
    val s = spark
    import s.implicits._
    val batch = Seq((5L, "g1", 500L), (41L, "g1", 82L)).toDF("id", "grp", "v")
    val v = DeltaTableWriter.upsert(batch, table, Seq("id"))
    assert(v == 1L)
    val snap = DeltaTableReader.snapshot(spark, abs.toString)
    assert(snap.count() == 41L)
    assert(snap.where(col("id") === 5L).select("v").as[Long].collect().toSeq == Seq(500L))
  }

  test("partitioned create: hive dirs land, partition values ride the log, reader re-attaches them") {
    val table = tmpDir("dwr-part") + "/t"
    DeltaTableWriter.create(df(1 to 80), table, partitionBy = Seq("grp")): Unit
    val snap = DeltaTableReader.snapshot(spark, table)
    assert(snap.count() == 80L)
    assert(snap.columns.toSeq == Seq("id", "grp", "v"),
      "column order must follow the declared schema, partition column in place")
    assert(snap.schema("grp").dataType == org.apache.spark.sql.types.StringType)
    assert(snap.where(col("grp") === "g1").count() == 20L)
    assert(snap.where(col("grp").isNull).count() == 0L)
    // the data files themselves must NOT carry the partition column
    // (the protocol strips it; values live in the log)
    val aFile = DeltaTableReader.activeFiles(spark, table).head
    assert(aFile.partitionValues.contains("grp"))
    val raw = spark.read.parquet(s"$table/${aFile.path}")
    assert(!raw.columns.contains("grp"))
    // appends inherit the table's partitioning
    DeltaTableWriter.append(df(81 to 100), table): Unit
    assert(DeltaTableReader.snapshot(spark, table).where(col("grp") === "g0").count() == 25L)
  }

  test("null partition values round-trip as protocol nulls") {
    val s = spark
    import s.implicits._
    val table = tmpDir("dwr-null") + "/t"
    val data = Seq((1L, Some("a"), 10L), (2L, None, 20L), (3L, Some("b"), 30L))
      .toDF("id", "grp", "v")
    DeltaTableWriter.create(data, table, partitionBy = Seq("grp")): Unit
    val snap = DeltaTableReader.snapshot(spark, table)
    assert(snap.count() == 3L)
    assert(snap.where(col("grp").isNull).select("id").head().getLong(0) == 2L)
  }

  test("partition values with spaces survive the encode/decode round trip") {
    val s = spark
    import s.implicits._
    val table = tmpDir("dwr-space") + "/t"
    val data = Seq((1L, "1-URGENT", 10L), (2L, "4-NOT SPECIFIED", 20L),
      (3L, "4-NOT SPECIFIED", 30L)).toDF("id", "prio", "v")
    DeltaTableWriter.create(data, table, partitionBy = Seq("prio")): Unit
    val snap = DeltaTableReader.snapshot(spark, table)
    assert(snap.where(col("prio") === "4-NOT SPECIFIED").count() == 2L,
      "the scan's URI-encoded file_path must still match the partition-values map")
    assert(snap.where(col("prio").isNull).count() == 0L)
  }

  test("txn actions: transaction watermark reads back; DeltaSink batch replay is a no-op") {
    val table = tmpDir("dwr-txn") + "/t"
    assert(DeltaTableReader.lastTransactionVersion(spark, table, "app").isEmpty,
      "no table yet = no watermark")
    assert(graft.streaming.TableSink.appendBatch(df(1 to 20), table, TableLoader.DeltaFormat, "app", 0L))
    assert(graft.streaming.TableSink.appendBatch(df(21 to 30), table, TableLoader.DeltaFormat, "app", 1L))
    assert(DeltaTableReader.lastTransactionVersion(spark, table, "app").contains(1L))
    assert(DeltaTableReader.lastTransactionVersion(spark, table, "other").isEmpty,
      "watermarks are per appId")
    // at-least-once redelivery of both batches: no-ops, table unchanged
    assert(!graft.streaming.TableSink.appendBatch(df(1 to 20), table, TableLoader.DeltaFormat, "app", 0L))
    assert(!graft.streaming.TableSink.appendBatch(df(21 to 30), table, TableLoader.DeltaFormat, "app", 1L))
    assert(DeltaTableReader.snapshot(spark, table).count() == 30L)
    // a NEW batch still lands after replays
    assert(graft.streaming.TableSink.appendBatch(df(31 to 35), table, TableLoader.DeltaFormat, "app", 2L))
    assert(DeltaTableReader.snapshot(spark, table).count() == 35L)
  }

  private def rawCommit(table: String, version: Long, lines: Seq[String]): Unit = {
    val dir = new java.io.File(table, "_delta_log"); dir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, f"$version%020d.json"), "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  private def jsonQ(s: String): String =
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(s)

  test("CDF obligation: upserts/deletes on enableChangeDataFeed tables land explicit cdc files") {
    import org.apache.spark.sql.functions._
    val table = tmpDir("dwr-cdf") + "/t"
    DeltaTableWriter.create(df(1 to 30), table): Unit
    // an external engine enables CDF on the existing table
    val schemaStr = df(1 to 1).schema.json
    rawCommit(table, 1L, Seq(
      s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jsonQ(schemaStr)},"partitionColumns":[],""" +
        s""""configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":0}}"""))
    // upsert: updates 5..8, inserts 31..33 — cdc files must land
    val s = spark
    import s.implicits._
    val batch = (5 to 8).map(i => (i.toLong, "upd", 999L))
      .union((31 to 33).map(i => (i.toLong, s"g${i % 4}", i * 2L))).toDF("id", "grp", "v")
    DeltaTableWriter.upsert(batch, table, Seq("id")): Unit
    assert(new java.io.File(s"$table/_change_data").listFiles()
      .exists(_.getName.endsWith(".parquet")), "cdc files must land under _change_data/")
    // the feed serves the commit's cdc files VERBATIM — pre/post/insert images
    val feed = DeltaTableReader.changeFeedSince(spark, table, 1L)
    assert(feed.where(col("_change_type") === "update_preimage").count() == 4L)
    assert(feed.where(col("_change_type") === "update_preimage" && col("id") === 5L)
      .head().getAs[Long]("v") == 10L, "pre-image carries the OLD value")
    assert(feed.where(col("_change_type") === "update_postimage").count() == 4L)
    assert(feed.where(col("_change_type") === "update_postimage" && col("id") === 5L)
      .head().getAs[Long]("v") == 999L)
    assert(feed.where(col("_change_type") === "insert").count() == 3L)
    // delete: pre-images in cdc
    DeltaTableWriter.delete(spark, table, col("id") === 2L): Unit
    val feed2 = DeltaTableReader.changeFeedSince(spark, table, 2L)
    val del = feed2.where(col("_change_type") === "delete")
    assert(del.count() == 1L && del.head().getAs[Long]("v") == 4L)
    // the snapshot itself is unaffected by cdc files (dataChange=false)
    assert(DeltaTableReader.snapshot(spark, table).count() == 32L)
    // restore on a CDF table lands its change images: the two-snapshot
    // diff — resurrected rows as inserts, re-dropped rows as deletes
    val preRestore = DeltaTableReader.latestVersion(spark, table)
    DeltaTableWriter.restore(spark, table, 0L): Unit
    val rFeed = DeltaTableReader.changeFeedSince(spark, table, preRestore)
    assert(rFeed.where(col("_change_type") === "insert").count() == 5L,
      "v0-only rows (the pre-upsert 5..8 and deleted 2) come back as inserts")
    assert(rFeed.where(col("_change_type") === "delete").count() == 7L,
      "current-only rows (updated 5..8 and appended 31..33) go out as deletes")
    assert(DeltaTableReader.snapshot(spark, table).count() == 30L)

    // PARTITIONED CDF: change data partitions alike — hive dirs under
    // _change_data/, values on the cdc action, columns restored by the
    // reader's partition join
    val tp = tmpDir("dwr-cdf-part") + "/t"
    DeltaTableWriter.create(df(1 to 20), tp, partitionBy = Seq("grp")): Unit
    rawCommit(tp, 1L, Seq(
      s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jsonQ(schemaStr)},"partitionColumns":["grp"],""" +
        s""""configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":0}}"""))
    DeltaTableWriter.upsert(
      (5 to 6).map(i => (i.toLong, s"g${i % 4}", 777L)).toDF("id", "grp", "v"),
      tp, Seq("id")): Unit
    val cdcDirs = new java.io.File(s"$tp/_change_data").listFiles()
    assert(cdcDirs.exists(d => d.isDirectory && d.getName.startsWith("grp=")),
      "partitioned change data must land under hive dirs")
    val pFeed = DeltaTableReader.changeFeedSince(spark, tp, 1L)
    assert(pFeed.where(col("_change_type") === "update_postimage").count() == 2L)
    assert(pFeed.where(col("_change_type") === "update_postimage" && col("id") === 5L)
      .head().getAs[String]("grp") == "g1",
      "the partition column must restore from the cdc action's values")

    // vacuum reclaims change-data files past retention (they are
    // never tombstoned — without this they accumulate forever)
    val vacuumed = DeltaTableWriter.vacuum(spark, table, retentionMs = 0L,
      nowMs = System.currentTimeMillis() + 60000L)
    assert(vacuumed.exists(_.startsWith("_change_data/")),
      s"vacuum must reclaim expired cdc files, got: ${vacuumed.mkString(", ")}")
    assert(!new java.io.File(s"$table/_change_data").listFiles()
      .exists(_.getName.endsWith(".parquet")))
    assert(DeltaTableReader.snapshot(spark, table).count() == 30L,
      "the snapshot never depended on the cdc files")
  }

  test("append refuses writer obligations it cannot honor — loudly, never corruptingly") {
    // feature protocol with an unsupported writer feature
    val table = tmpDir("dwr-wfeat") + "/t"
    DeltaTableWriter.create(df(1 to 10), table): Unit
    rawCommit(table, 1L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],""" +
        """"writerFeatures":["deletionVectors","rowTracking"]}}"""))
    val e = intercept[IllegalStateException](DeltaTableWriter.append(df(11 to 20), table))
    assert(e.getMessage.contains("rowTracking"))
    // legacy bundled writer versions refuse — except 5 (column
    // mapping), whose obligations an append honors once the CHECK/
    // generated-column/invariant guards pass (columnMapping=name
    // appends are supported; SchemaEvolutionSpec)
    val t2 = tmpDir("dwr-wlegacy") + "/t"
    DeltaTableWriter.create(df(1 to 10), t2): Unit
    rawCommit(t2, 1L, Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":6}}"""))
    val e2 = intercept[IllegalStateException](DeltaTableWriter.append(df(11 to 20), t2))
    assert(e2.getMessage.contains("minWriterVersion"))
    val t2b = tmpDir("dwr-w5ok") + "/t"
    DeltaTableWriter.create(df(1 to 10), t2b): Unit
    rawCommit(t2b, 1L, Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":5}}"""))
    DeltaTableWriter.append(df(11 to 20), t2b): Unit
    assert(DeltaTableReader.snapshot(spark, t2b).count() == 20L)
    // CHECK constraints in the configuration refuse even at version 2
    val t3 = tmpDir("dwr-wconstraint") + "/t"
    DeltaTableWriter.create(df(1 to 10), t3): Unit
    val schema3 = DeltaTableReader.snapshotState(spark, t3).schemaJson.get
    rawCommit(t3, 1L, Seq(
      s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jsonQ(schema3)},"partitionColumns":[],""" +
        s""""configuration":{"delta.constraints.positive":"v > 0"}}}"""))
    val e3 = intercept[IllegalStateException](DeltaTableWriter.append(df(11 to 20), t3))
    assert(e3.getMessage.contains("CHECK constraints"))
    // a fully-supported feature set still appends
    val t4 = tmpDir("dwr-wok") + "/t"
    DeltaTableWriter.create(df(1 to 10), t4): Unit
    rawCommit(t4, 1L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],""" +
        """"writerFeatures":["deletionVectors","appendOnly"]}}"""))
    DeltaTableWriter.append(df(11 to 20), t4): Unit
    assert(DeltaTableReader.snapshot(spark, t4).count() == 20L)
  }

  test("checkpoint preserves the original protocol and metaData — the only copy after cleanup") {
    val table = tmpDir("dwr-ckptfid") + "/t"
    DeltaTableWriter.create(df(1 to 10), table): Unit
    val before = DeltaTableReader.snapshotState(spark, table)
    val origId = before.metaDataId.get
    // a protocol upgrade + a configuration external engines must keep seeing
    rawCommit(table, 1L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["timestampNtz"],"writerFeatures":["timestampNtz","appendOnly"]}}""",
      s"""{"metaData":{"id":${jsonQ(origId)},"format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jsonQ(before.schemaJson.get)},"partitionColumns":[],""" +
        s""""configuration":{"delta.appendOnly":"true"},"createdTime":1700000000123}}"""))
    DeltaTableWriter.append(df(11 to 20), table): Unit
    DeltaTableWriter.writeCheckpoint(spark, table): Unit
    // standard log cleanup: the JSON commits vanish, the checkpoint remains
    val logDir = new java.io.File(table, "_delta_log")
    logDir.listFiles().filter(_.getName.endsWith(".json")).foreach(f => assert(f.delete()))
    val state = DeltaTableReader.snapshotState(spark, table)
    assert(state.protocol.contains(DeltaTableReader.Protocol(3, 7,
      Seq("timestampNtz"), Seq("timestampNtz", "appendOnly"))),
      s"checkpoint must carry the ORIGINAL protocol, got ${state.protocol}")
    assert(state.metaDataId.contains(origId), "metaData id must survive, not become a fabricated one")
    assert(state.configuration.get("delta.appendOnly").contains("true"))
    assert(state.createdTime.contains(1700000000123L))
    assert(DeltaTableReader.snapshot(spark, table).count() == 20L)
  }

  test("create stamps the timestampNtz feature protocol when the schema requires it") {
    val s = spark
    import s.implicits._
    val data = Seq((1L, "2024-01-01 00:00:00"), (2L, "2024-01-02 00:00:00")).toDF("id", "raw")
      .withColumn("ts", col("raw").cast("timestamp_ntz")).drop("raw")
    val table = tmpDir("dwr-ntz") + "/t"
    DeltaTableWriter.create(data, table): Unit
    val state = DeltaTableReader.snapshotState(spark, table)
    assert(state.protocol.contains(DeltaTableReader.Protocol(3, 7,
      Seq("timestampNtz"), Seq("timestampNtz"))),
      s"TIMESTAMP_NTZ requires the feature protocol per PROTOCOL.md, got ${state.protocol}")
    // the feature is in the writer allowlist: appends still land
    DeltaTableWriter.append(data, table): Unit
    assert(DeltaTableReader.snapshot(spark, table).count() == 4L)
    // an ntz-free schema keeps the legacy 1/2 protocol
    val plain = tmpDir("dwr-plain") + "/t"
    DeltaTableWriter.create(df(1 to 5), plain): Unit
    assert(DeltaTableReader.snapshotState(spark, plain).protocol
      .contains(DeltaTableReader.Protocol(1, 2, Nil, Nil)))
  }

  test("DV delete: masks rows without rewriting files, merges vectors, upgrades the protocol") {
    import org.apache.spark.sql.functions._
    val table = tmpDir("dwr-dvdel") + "/t"
    DeltaTableWriter.create(df(1 to 100), table, partitionBy = Seq("grp")): Unit
    val filesBefore = DeltaTableReader.activeFiles(spark, table).map(_.path).toSet
    // first delete: ids 1..10
    val v = DeltaTableWriter.delete(spark, table, col("id") <= 10L)
    assert(v == 1L)
    val snap1 = DeltaTableReader.snapshot(spark, table)
    assert(snap1.count() == 90L)
    assert(snap1.select(min("id")).head().getLong(0) == 11L)
    // same data files, now carrying descriptors; protocol upgraded
    val state = DeltaTableReader.snapshotState(spark, table)
    assert(state.active.map(_.path).toSet == filesBefore, "no data file may be rewritten")
    assert(state.active.exists(_.dv.isDefined))
    assert(state.protocol.exists(p => p.minReaderVersion == 3 &&
      p.readerFeatures.contains("deletionVectors")))
    // second delete on overlapping files: vectors MERGE (old ∪ new)
    DeltaTableWriter.delete(spark, table, col("id") > 10L && col("id") <= 25L): Unit
    val snap2 = DeltaTableReader.snapshot(spark, table)
    assert(snap2.count() == 75L)
    assert(snap2.select(min("id")).head().getLong(0) == 26L)
    // partition-column predicates work (values come off the log)
    DeltaTableWriter.delete(spark, table, col("grp") === "g0"): Unit
    assert(DeltaTableReader.snapshot(spark, table).where(col("grp") === "g0").count() == 0L)
    // a predicate matching nothing refuses
    val e = intercept[IllegalArgumentException](
      DeltaTableWriter.delete(spark, table, col("id") > 10000L))
    assert(e.getMessage.contains("no live rows"))
    // appends still land after the protocol upgrade (deletionVectors
    // is in the writer allowlist)
    DeltaTableWriter.append(df(101 to 110), table): Unit
    assert(DeltaTableReader.snapshot(spark, table).count() > 0L)
    // the append-scoped incremental refuses across the delete commits
    val e2 = intercept[IllegalStateException](
      DeltaTableReader.incrementalSince(spark, table, 0L))
    assert(e2.getMessage.contains("not an append"))
    // ... but the change feed represents them
    val feed = DeltaTableReader.changeFeedSince(spark, table, 0L)
    assert(feed.where(col("_change_type") === "delete" && col("_commit_version") === 1L)
      .count() == 10L)
  }

  test("add.stats land from parquet footers; stats-based skipping prunes files, never rows") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val table = tmpDir("dwr-stats") + "/t"
    // range-clustered files: each part file holds a distinct id range
    val data = (1 to 1000).map(i => (i.toLong, s"g${i % 4}", i * 2L)).toDF("id", "grp", "v")
      .repartitionByRange(4, col("id"))
    DeltaTableWriter.create(data, table): Unit
    // every add carries footer-true stats
    val log = scala.io.Source.fromFile(s"$table/_delta_log/${"%020d".format(0)}.json").mkString
    assert(log.contains("\\\"numRecords\\\"") && log.contains("\\\"minValues\\\""), log.take(500))
    assert(log.contains("\\\"id\\\""))
    // skipping: a narrow id range plans in a strict subset of files
    val full = DeltaTableReader.snapshot(spark, table)
    val skipped = DeltaTableReader.snapshotSkipping(spark, table, "id", 100.0, 120.0)
    assert(skipped.inputFiles.length < full.inputFiles.length,
      s"skipping must cut the FILE set (${skipped.inputFiles.length} of ${full.inputFiles.length})")
    // ... and NEVER rows: the row filter over the skipped scan equals
    // the filter over the full scan
    assert(skipped.where(col("id").between(100L, 120L)).count() == 21L)
    assert(full.where(col("id").between(100L, 120L)).count() == 21L)
    // string stats land too (min/max of grp)
    assert(log.contains("\\\"grp\\\""))
    // a column with no stats keeps everything (conservative)
    val noStats = DeltaTableReader.snapshotSkipping(spark, table, "nope", 0.0, 1.0)
    assert(noStats.count() == 1000L)
    // stats SURVIVE a DV delete: the re-add carries them verbatim (a
    // DV only masks rows — recorded ranges stay conservative-valid),
    // so skipping keeps pruning deleted-from files
    DeltaTableWriter.delete(spark, table, col("id") === 110L): Unit
    val afterDv = DeltaTableReader.snapshotSkipping(spark, table, "id", 100.0, 120.0)
    assert(afterDv.inputFiles.length == skipped.inputFiles.length,
      s"DV re-adds must keep stats (${afterDv.inputFiles.length} vs " +
        s"${skipped.inputFiles.length})")
    assert(afterDv.where(col("id").between(100L, 120L)).count() == 20L)
    // add.stats SURVIVE checkpoint + log cleanup (PROTOCOL.md's
    // checkpoint schema carries them): the same narrow range keeps
    // pruning the same file subset when the checkpoint is the only
    // copy of the log
    DeltaTableWriter.writeCheckpoint(spark, table): Unit
    new java.io.File(s"$table/_delta_log").listFiles()
      .filter(_.getName.endsWith(".json")).foreach(f => assert(f.delete()))
    val postCkpt = DeltaTableReader.snapshotSkipping(spark, table, "id", 100.0, 120.0)
    assert(postCkpt.where(col("id").between(100L, 120L)).count() == 20L)
    assert(postCkpt.inputFiles.length == skipped.inputFiles.length,
      s"checkpointed stats must prune like the JSON log did " +
        s"(${postCkpt.inputFiles.length} vs ${skipped.inputFiles.length})")
  }

  test("multi-part checkpoints: parts land per protocol, replay reads them as one") {
    val table = tmpDir("dwr-mpckpt") + "/t"
    DeltaTableWriter.create(df(1 to 40), table): Unit
    DeltaTableWriter.append(df(41 to 60), table): Unit
    graft.streaming.TableSink.appendBatch(df(61 to 70), table, TableLoader.DeltaFormat, "app", 0L)
    // tiny partRows forces the multi-part form
    DeltaTableWriter.writeCheckpoint(spark, table, partRows = 3): Unit
    val logFiles = new java.io.File(s"$table/_delta_log").listFiles().map(_.getName)
    val parts = logFiles.filter(n => n.contains(".checkpoint.") && n.endsWith(".parquet"))
    assert(parts.length > 1, s"expected multiple parts, got ${parts.toSeq}")
    assert(parts.forall(_.matches("""\d{20}\.checkpoint\.\d{10}\.\d{10}\.parquet""")),
      s"part names must follow the protocol form, got ${parts.toSeq}")
    val last = scala.io.Source.fromFile(s"$table/_delta_log/_last_checkpoint").mkString
    assert(last.contains("\"parts\":"), last)
    // cleanup: all JSONs gone, the parts are the only copy
    new java.io.File(s"$table/_delta_log").listFiles()
      .filter(_.getName.endsWith(".json")).foreach(f => assert(f.delete()))
    assert(DeltaTableReader.snapshot(spark, table).count() == 70L)
    assert(DeltaTableReader.lastTransactionVersion(spark, table, "app").contains(0L),
      "txn watermarks must survive into the multi-part checkpoint")
    // appends keep working on top of the multi-part base
    DeltaTableWriter.append(df(71 to 80), table): Unit
    assert(DeltaTableReader.snapshot(spark, table).count() == 80L)
  }

  test("commit CAS: an occupied version slot bumps the writer to the next one") {
    val table = tmpDir("dwr-cas") + "/t"
    DeltaTableWriter.create(df(1 to 10), table): Unit
    // a racing writer already holds version 1
    val w = new java.io.PrintWriter(
      new java.io.File(s"$table/_delta_log", f"${1L}%020d.json"), "UTF-8")
    try w.print("") finally w.close()
    val v = DeltaTableWriter.append(df(11 to 20), table)
    assert(v == 2L, "the CAS must skip the occupied slot, not overwrite it")
    assert(DeltaTableReader.snapshot(spark, table).count() == 20L)
  }

  test("V2 checkpoint WRITE: uuid manifest + _sidecars add set; survives log cleanup; version mismatch refuses") {
    import org.apache.spark.sql.functions._
    val table = tmpDir("dwr-v2ckpt") + "/t"
    DeltaTableWriter.create(df(1 to 40).repartition(4), table): Unit
    DeltaTableWriter.append(df(41 to 60).repartition(2), table): Unit
    // v2Threshold=0 forces the V2 layout; partRows=3 shards sidecars
    DeltaTableWriter.writeCheckpoint(spark, table, partRows = 3, v2Threshold = 0): Unit
    val logDir = new java.io.File(s"$table/_delta_log")
    val manifest = logDir.listFiles().map(_.getName)
      .filter(n => n.contains(".checkpoint.") && n.endsWith(".parquet"))
    assert(manifest.length == 1 && manifest.head.split("\\.").length > 3,
      s"expected one uuid-form manifest, got ${manifest.mkString(",")}")
    val sidecars = new java.io.File(logDir, "_sidecars").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(sidecars.length >= 2, s"partRows=3 over 6 files must shard, got ${sidecars.length}")
    // the v2 READ path serves it: clean all JSON commits below the
    // checkpoint and the snapshot must reconstruct from manifest+sidecars
    logDir.listFiles().filter(f => f.getName.endsWith(".json"))
      .foreach(f => assert(f.delete()))
    val snap = DeltaTableReader.snapshot(spark, table)
    assert(snap.count() == 60L)
    assert(snap.where(col("id") === 50L).head().getAs[Long]("v") == 100L)
    // add.stats SURVIVE the v2 sidecar path: with the JSON commits
    // gone, skipping on id must still cut the file set (stats come
    // from the sidecar adds, nowhere else)
    val skipped = DeltaTableReader.snapshotSkipping(spark, table, "id", 1.0, 10.0)
    assert(skipped.inputFiles.length < snap.inputFiles.length,
      s"v2-checkpointed stats must keep pruning " +
        s"(${skipped.inputFiles.length} of ${snap.inputFiles.length})")
    assert(skipped.where(col("id") <= 10L).count() == 10L)
    // appends continue on top of the checkpointed state
    DeltaTableWriter.append(df(61 to 70), table): Unit
    assert(DeltaTableReader.snapshot(spark, table).count() == 70L)
    // version-mismatch refusal: _last_checkpoint pointing at a
    // different version than checkpointMetadata declares
    val lc = new java.io.File(logDir, "_last_checkpoint")
    java.nio.file.Files.write(lc.toPath, """{"version":0,"size":1}""".getBytes("UTF-8"))
    // the hadoop local fs keeps a crc — drop it so the rewrite reads
    val crc = new java.io.File(logDir, "._last_checkpoint.crc")
    if (crc.exists()) assert(crc.delete())
    // rename the manifest to version 0 so discovery finds it under the lie
    val man = logDir.listFiles().find(n => n.getName.contains(".checkpoint.") &&
      n.getName.endsWith(".parquet")).get
    val lied = new java.io.File(logDir,
      f"${0L}%020d" + man.getName.substring(20))
    assert(man.renameTo(lied))
    val e = intercept[IllegalStateException](DeltaTableReader.snapshot(spark, table))
    assert(e.getMessage.contains("inconsistent checkpoint"))
    // a protocol DECLARING v2Checkpoint gets the v2 layout at any size
    val t2 = tmpDir("dwr-v2feat") + "/t"
    DeltaTableWriter.create(df(1 to 10), t2): Unit
    rawCommit(t2, 1L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint","appendOnly"]}}"""))
    DeltaTableWriter.append(df(11 to 20), t2): Unit
    DeltaTableWriter.writeCheckpoint(spark, t2): Unit
    val man2 = new java.io.File(s"$t2/_delta_log").listFiles().map(_.getName)
      .filter(n => n.contains(".checkpoint.") && n.endsWith(".parquet"))
    assert(man2.length == 1 && man2.head.split("\\.").length > 3,
      s"v2Checkpoint-feature table must land the uuid manifest, got ${man2.mkString(",")}")
    assert(DeltaTableReader.snapshot(spark, t2).count() == 20L)
  }
}
