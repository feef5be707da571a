package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Additive schema evolution on the FOREIGN writers: a batch carrying
  * new columns commits updated metadata (Delta: new schemaString;
  * Iceberg: appended schemas node + bumped current-schema-id with
  * ids preserved), old files null-fill at read, and everything else
  * — missing columns, type changes — keeps refusing loudly per both
  * public specs' evolution rules.
  */
class SchemaEvolutionSpec extends SparkSpec {

  private def df(r: Range) = {
    val s = spark
    import s.implicits._
    r.map(i => (i.toLong, s"g${i % 4}", i * 2L)).toDF("id", "grp", "v")
  }

  private def dfWide(r: Range) = {
    val s = spark
    import s.implicits._
    r.map(i => (i.toLong, s"g${i % 4}", i * 2L, s"tag$i")).toDF("id", "grp", "v", "tag")
  }

  // ------------------------------------------------------------ Delta

  test("delta append: new nullable column evolves the schema; old rows null-fill") {
    val table = tmpDir("sev-delta") + "/t"
    DeltaTableWriter.create(df(1 to 40), table): Unit
    DeltaTableWriter.append(dfWide(41 to 60), table): Unit
    val snap = DeltaTableReader.snapshot(spark, table)
    assert(snap.columns.toSet == Set("id", "grp", "v", "tag"))
    assert(snap.count() == 60L)
    assert(snap.where(col("id") === 5L).head().getAs[String]("tag") == null,
      "pre-evolution rows must null-fill the new column")
    assert(snap.where(col("id") === 50L).head().getAs[String]("tag") == "tag50")
    // the declared schemaString now carries the column as nullable
    val state = DeltaTableReader.snapshotState(spark, table)
    assert(state.schemaJson.exists(_.contains("\"tag\"")))
    // further appends at the WIDENED schema are plain appends
    DeltaTableWriter.append(dfWide(61 to 70), table): Unit
    assert(DeltaTableReader.snapshot(spark, table).count() == 70L)
    // refusals: a batch missing a declared column, and a type change
    val s = spark
    import s.implicits._
    val e1 = intercept[IllegalArgumentException](
      DeltaTableWriter.append(Seq((1L, "x")).toDF("id", "grp"), table))
    assert(e1.getMessage.contains("schema"))
    val e2 = intercept[IllegalArgumentException](
      DeltaTableWriter.append(
        Seq((1L, "x", "not-a-long", "t")).toDF("id", "grp", "v", "tag"), table))
    assert(e2.getMessage.contains("cannot change column"))
  }

  test("delta upsert: evolution composes with the DV merge and the CDF obligation") {
    val s = spark
    import s.implicits._
    val table = tmpDir("sev-delta-up") + "/t"
    DeltaTableWriter.create(df(1 to 30), table): Unit
    // enable CDF via a fresh metaData commit (as an external engine
    // flipping the table property would)
    val schemaStr = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(df(1 to 1).schema.json)
    java.nio.file.Files.write(
      new java.io.File(s"$table/_delta_log", f"${1L}%020d.json").toPath,
      (s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":$schemaStr,"partitionColumns":[],""" +
        s""""configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":0}}""" +
        "\n").getBytes("UTF-8"))
    val batch = Seq((5L, "g1", 500L, "hot"), (31L, "g3", 62L, "new"))
      .toDF("id", "grp", "v", "tag")
    DeltaTableWriter.upsert(batch, table, Seq("id")): Unit
    val snap = DeltaTableReader.snapshot(spark, table)
    assert(snap.count() == 31L)
    assert(snap.where($"id" === 5L).head().getAs[Long]("v") == 500L)
    assert(snap.where($"id" === 5L).head().getAs[String]("tag") == "hot")
    assert(snap.where($"id" === 6L).head().getAs[String]("tag") == null)
    // the CDF feed serves the evolved commit's explicit change data
    val feed = DeltaTableReader.changeFeedSince(spark, table, 0L)
    val types = feed.select("_change_type").distinct().collect().map(_.getString(0)).toSet
    assert(types.contains("update_preimage") && types.contains("insert"))
  }

  // ---------------------------------------------------------- Iceberg

  test("iceberg append: schemas node appends with preserved ids; old rows null-fill") {
    val table = tmpDir("sev-ice") + "/t"
    IcebergTableWriter.create(df(1 to 40), table, partitionBy = Seq("grp")): Unit
    val idsBefore = IcebergMetadata.load(spark, table).fieldNames
    IcebergTableWriter.append(dfWide(41 to 60), table): Unit
    val snap = IcebergTableReader.snapshot(spark, table)
    assert(snap.columns.toSet == Set("id", "grp", "v", "tag"))
    assert(snap.count() == 60L)
    assert(snap.where(col("id") === 5L).head().getAs[String]("tag") == null)
    assert(snap.where(col("id") === 50L).head().getAs[String]("tag") == "tag50")
    // existing field ids preserved verbatim; the new column got a
    // fresh id past the old max
    val idsAfter = IcebergMetadata.load(spark, table).fieldNames
    idsBefore.foreach { case (id, n) => assert(idsAfter.get(id).contains(n)) }
    val tagId = idsAfter.collectFirst { case (id, "tag") => id }.get
    assert(tagId > idsBefore.keys.max)
    // partition pruning still resolves through the evolved schema
    val all = IcebergTableReader.planFiles(spark, table).data.size
    val pruned = IcebergTableReader.planFilesPruned(spark, table,
      pv => pv.get("grp").contains("g1"))
    assert(pruned.data.nonEmpty && pruned.data.size < all)
    // refusals: missing column, type change
    val s = spark
    import s.implicits._
    val e1 = intercept[IllegalArgumentException](
      IcebergTableWriter.append(Seq((1L, "x")).toDF("id", "grp"), table))
    assert(e1.getMessage.contains("additive"))
    val e2 = intercept[IllegalArgumentException](
      IcebergTableWriter.append(
        Seq((1L, "x", "nope", "t")).toDF("id", "grp", "v", "tag"), table))
    assert(e2.getMessage.contains("cannot change column"))
  }

  test("iceberg upsert after evolution: equality deletes keep their field ids") {
    val s = spark
    import s.implicits._
    val table = tmpDir("sev-ice-up") + "/t"
    IcebergTableWriter.create(df(1 to 20), table): Unit
    // the evolving batch IS the upsert: replaces id 5, inserts id 21
    val batch = Seq((5L, "g1", 555L, "hot"), (21L, "g1", 42L, "new"))
      .toDF("id", "grp", "v", "tag")
    IcebergTableWriter.upsert(batch, table, Seq("id")): Unit
    val snap = IcebergTableReader.snapshot(spark, table)
    assert(snap.count() == 21L)
    assert(snap.where($"id" === 5L).head().getAs[Long]("v") == 555L)
    assert(snap.where($"id" === 5L).head().getAs[String]("tag") == "hot")
    assert(snap.where($"id" === 7L).head().getAs[String]("tag") == null)
    // a second (non-evolving) upsert at the wide schema stacks
    IcebergTableWriter.upsert(
      Seq((7L, "g3", 70L, "later")).toDF("id", "grp", "v", "tag"), table, Seq("id")): Unit
    assert(IcebergTableReader.snapshot(spark, table)
      .where($"id" === 7L).head().getAs[Long]("v") == 70L)
  }

  // ------------------------------------- columnMapping=name appends

  test("delta columnMapping=name APPEND: physical names in the files, logical round-trip") {
    import org.apache.spark.sql.types._
    val table = tmpDir("sev-cmap") + "/t"
    new java.io.File(s"$table/_delta_log").mkdirs()
    // a name-mapped table as an external engine lands it: physical
    // parquet names, mapping in the schemaString metadata
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = true, new MetadataBuilder()
        .putLong("delta.columnMapping.id", 1L)
        .putString("delta.columnMapping.physicalName", "col-aaa").build()),
      StructField("grp", StringType, nullable = true, new MetadataBuilder()
        .putLong("delta.columnMapping.id", 2L)
        .putString("delta.columnMapping.physicalName", "col-bbb").build()),
      StructField("v", LongType, nullable = true, new MetadataBuilder()
        .putLong("delta.columnMapping.id", 3L)
        .putString("delta.columnMapping.physicalName", "col-ccc").build()))).json
    val sq = new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(schema)
    val stage = tmpDir("sev-cmap-stage") + "/out"
    df(1 to 20).select(col("id").as("col-aaa"), col("grp").as("col-bbb"),
      col("v").as("col-ccc")).coalesce(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dataRel = "part-0.parquet"
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(table, dataRel).toPath)
    val size = new java.io.File(table, dataRel).length()
    java.nio.file.Files.write(
      new java.io.File(s"$table/_delta_log", f"${0L}%020d.json").toPath,
      (Seq(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":$sq,"partitionColumns":[],""" +
          s""""configuration":{"delta.columnMapping.mode":"name",""" +
          s""""delta.columnMapping.maxColumnId":"3"},"createdTime":0}}""",
        s"""{"add":{"path":"$dataRel","partitionValues":{},"size":$size,""" +
          s""""modificationTime":0,"dataChange":true}}""").mkString("\n") + "\n")
        .getBytes("UTF-8"))
    assert(DeltaTableReader.snapshot(spark, table).count() == 20L)
    // the graft append arrives under LOGICAL names
    DeltaTableWriter.append(df(21 to 35), table): Unit
    val snap = DeltaTableReader.snapshot(spark, table)
    assert(snap.columns.toSeq == Seq("id", "grp", "v"))
    assert(snap.count() == 35L)
    assert(snap.where(col("id") === 30L).head().getAs[Long]("v") == 60L)
    // the appended data FILES carry the physical names (protocol
    // obligation — another engine's name-mode reader depends on it)
    val appended = new java.io.File(table).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f.getName != dataRel)
    assert(appended.nonEmpty)
    appended.foreach { f =>
      val cols = spark.read.parquet(f.toString).columns.toSet
      assert(cols == Set("col-aaa", "col-bbb", "col-ccc"),
        s"appended file must carry PHYSICAL names, got $cols")
    }
    // data-modifying ops WORK on mapped tables now (DeltaMappedWrite
    // Spec covers the depth): an exact-schema upsert merges in place
    DeltaTableWriter.upsert(df(1 to 2), table, Seq("id")): Unit
    assert(DeltaTableReader.snapshot(spark, table).count() == 35L)

    // RENAME is the op column mapping exists for: one metaData
    // commit, physical names untouched, every file keeps serving
    DeltaTableWriter.renameColumn(spark, table, "v", "value"): Unit
    val renamed = DeltaTableReader.snapshot(spark, table)
    assert(renamed.columns.toSeq == Seq("id", "grp", "value"))
    assert(renamed.count() == 35L)
    assert(renamed.where(col("id") === 30L).head().getAs[Long]("value") == 60L,
      "pre-rename files must serve under the new logical name")
    // appends after the rename arrive under the NEW logical name
    val s2 = spark
    import s2.implicits._
    DeltaTableWriter.append(
      (36 to 40).map(i => (i.toLong, s"g${i % 3}", i * 2L)).toDF("id", "grp", "value"),
      table): Unit
    assert(DeltaTableReader.snapshot(spark, table).count() == 40L)
    // rename refusals: collision, unknown, unmapped table
    val e3 = intercept[IllegalArgumentException](
      DeltaTableWriter.renameColumn(spark, table, "value", "grp"))
    assert(e3.getMessage.contains("collide"))
    val e4 = intercept[IllegalArgumentException](
      DeltaTableWriter.renameColumn(spark, table, "nope", "x"))
    assert(e4.getMessage.contains("no column"))
    val plain = tmpDir("sev-cmap-plain") + "/t"
    DeltaTableWriter.create(df(1 to 5), plain): Unit
    val e5 = intercept[IllegalArgumentException](
      DeltaTableWriter.renameColumn(spark, plain, "v", "value"))
    assert(e5.getMessage.contains("columnMapping"), e5.getMessage)

    // DROP: the physical column stays in the files, readers stop
    // projecting it — one metaData commit, zero data I/O
    val dataFilesBefore = new java.io.File(table).listFiles()
      .count(_.getName.endsWith(".parquet"))
    DeltaTableWriter.dropColumn(spark, table, "grp"): Unit
    val dropped = DeltaTableReader.snapshot(spark, table)
    assert(dropped.columns.toSeq == Seq("id", "value"))
    assert(dropped.count() == 40L)
    assert(new java.io.File(table).listFiles()
      .count(_.getName.endsWith(".parquet")) == dataFilesBefore,
      "a drop must not rewrite or add data files")
    // unmapped drop refuses like unmapped rename
    val e6 = intercept[IllegalArgumentException](
      DeltaTableWriter.dropColumn(spark, plain, "grp"))
    assert(e6.getMessage.contains("columnMapping"), e6.getMessage)

    // ADDITIVE EVOLUTION on the mapped table: the new column mints a
    // fresh physical name + field id and bumps maxColumnId in the
    // same commit (the protocol's rule — a logical-named landing
    // would break name-mode resolution for every other engine)
    DeltaTableWriter.append(
      (41 to 45).map(i => (i.toLong, i * 2L, s"t$i")).toDF("id", "value", "tag"),
      table): Unit
    val evolved = DeltaTableReader.snapshot(spark, table)
    assert(evolved.columns.toSeq == Seq("id", "value", "tag"))
    assert(evolved.count() == 45L)
    assert(evolved.where(col("id") === 43L).head().getAs[String]("tag") == "t43")
    assert(evolved.where(col("id") === 10L).select("tag").head().isNullAt(0),
      "pre-evolution files must null-fill the minted column")
    val stEvolved = DeltaTableReader.snapshotState(spark, table)
    assert(stEvolved.configuration.get("delta.columnMapping.maxColumnId").contains("4"))
    val newest = new java.io.File(table).listFiles()
      .filter(_.getName.endsWith(".parquet")).maxBy(_.lastModified())
    assert(!spark.read.parquet(newest.toString).columns.contains("tag"),
      "the evolved column must land under a MINTED physical name")
  }
}
