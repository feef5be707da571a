package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** How the Delta and Iceberg writers land their files through the
  * task-side landing every format shares ([[FileLanding]]): landed
  * files have the parquet shape Spark's own write of the same rows
  * gives, their recorded stats are what their footers say, no write
  * leaves staging behind, a failed write leaves its table as it was
  * and its landed files to the orphan sweeps, and the small writes
  * keep their Spark-job budgets.
  */
class DeltaIcebergLandingSpec extends SparkSpec {

  /** ids [from, until) in `parts` contiguous input partitions, with a
    * group column cycling over three values. */
  private def rows(from: Long, until: Long, parts: Int): DataFrame =
    spark.range(from, until, 1, parts).select(col("id"), (col("id") * 2).as("v"),
      concat(lit("g"), pmod(col("id"), lit(3L)).cast("string")).as("grp"))

  private def conf = spark.sparkContext.hadoopConfiguration

  /** The parquet message type of the file at `path` (field ids and
    * repetition included) and the Spark row schema its footer
    * carries. */
  private def parquetSchemaOf(path: String): (org.apache.parquet.schema.MessageType, String) = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(path), conf))
    try {
      val meta = r.getFooter.getFileMetaData
      (meta.getSchema, meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
    } finally r.close()
  }

  /** Every parquet file under `dir`, recursively, hidden ones aside. */
  private def parquetUnder(dir: String): Seq[String] =
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.toString).filter(p => p.endsWith(".parquet") &&
        !p.split('/').last.startsWith(".")).toSeq.sorted

  /** One part file of Spark's own parquet write of `df`, partitioned by
    * `partitionBy`, with field ids written when `fieldIds`. */
  private def sparkWritten(df: DataFrame, partitionBy: Seq[String] = Nil,
      fieldIds: Boolean = false): String = {
    val dir = tmpDir("dil-spark-write") + "/out"
    val key = "spark.sql.parquet.fieldId.write.enabled"
    val prior = spark.conf.getOption(key)
    if (fieldIds) spark.conf.set(key, "true")
    try (if (partitionBy.isEmpty) df.write else df.write.partitionBy(partitionBy: _*)).parquet(dir)
    finally if (fieldIds) prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    parquetUnder(dir).head
  }

  /** (absolute path, add.stats) of every active file of a Delta table. */
  private def deltaFiles(table: String): Seq[(String, Option[String])] =
    DeltaTableReader.snapshotState(spark, table, withStats = true).active
      .map(f => s"$table/${java.net.URLDecoder.decode(f.path.replace("+", "%2B"), "UTF-8")}" -> f.stats)

  /** Asserts every active file of `table` has the parquet shape of
    * Spark's own write at `expected` and the add.stats its footer
    * gives. */
  private def checkDelta(table: String, expected: String, what: String): Unit = {
    val files = deltaFiles(table)
    assert(files.nonEmpty, what)
    files.foreach { case (p, stats) =>
      assert(parquetSchemaOf(p) == parquetSchemaOf(expected), s"$what: $p")
      assert(stats.isDefined && stats == DeltaTableWriter.statsJsonOf(conf, new Path(p)),
        s"$what: add.stats of $p")
    }
  }

  private def jsonQ(s: String): String =
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(s)

  /** Commits `lines` as version `version` of the Delta table. */
  private def rawCommit(table: String, version: Long, lines: Seq[String]): Unit =
    java.nio.file.Files.write(
      new java.io.File(s"$table/_delta_log", f"$version%020d.json").toPath,
      (lines.mkString("\n") + "\n").getBytes("UTF-8")): Unit

  test("Delta files have the parquet shape Spark's own write of the same rows gives; add.stats match their footers") {
    val first = rows(1, 201, 4)
    val plain = tmpDir("dil-plain") + "/t"
    DeltaTableWriter.create(first, plain): Unit
    checkDelta(plain, sparkWritten(first), "unpartitioned")

    val parted = tmpDir("dil-parted") + "/t"
    DeltaTableWriter.create(first, parted, partitionBy = Seq("grp")): Unit
    checkDelta(parted, sparkWritten(first, Seq("grp")), "partitioned")

    // column mapping, id mode: physical names, parquet field ids
    val mapped = tmpDir("dil-mapped") + "/t"
    new java.io.File(s"$mapped/_delta_log").mkdirs()
    val phys = Seq("id" -> "col-m1", "v" -> "col-m2", "grp" -> "col-m3")
    val declared = StructType(phys.zipWithIndex.map { case ((l, p), i) =>
      StructField(l, first.schema(l).dataType, nullable = true, new MetadataBuilder()
        .putLong("delta.columnMapping.id", i + 1L)
        .putString("delta.columnMapping.physicalName", p).build())
    })
    rawCommit(mapped, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"dil-mapped","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jsonQ(declared.json)},"partitionColumns":[],""" +
        s""""configuration":{"delta.columnMapping.mode":"id",""" +
        s""""delta.columnMapping.maxColumnId":"3"},"createdTime":0}}"""))
    DeltaTableWriter.append(first, mapped): Unit
    val physical = first.select(phys.zipWithIndex.map { case ((l, p), i) =>
      col(l).as(p, new MetadataBuilder().putLong("parquet.field.id", i + 1L).build())
    }: _*)
    checkDelta(mapped, sparkWritten(physical, fieldIds = true), "id-mapped")
    assert(DeltaTableReader.snapshot(spark, mapped).count() == 200L)

    // change data: a delete's pre-images on a CDF-enabled table
    rawCommit(plain, 1L, Seq(
      s"""{"metaData":{"id":"dil-cdf","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jsonQ(first.schema.json)},"partitionColumns":[],""" +
        s""""configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":0}}"""))
    val preImages = sparkWritten(DeltaTableReader.snapshot(spark, plain).where(col("id") <= 3L)
      .withColumn("_change_type", lit("delete")))
    DeltaTableWriter.delete(spark, plain, col("id") <= 3L): Unit
    val cdc = parquetUnder(s"$plain/_change_data")
    assert(cdc.nonEmpty)
    cdc.foreach(p => assert(parquetSchemaOf(p) == parquetSchemaOf(preImages), s"change data: $p"))
    assert(DeltaTableReader.changeFeedSince(spark, plain, 1L).count() == 3L)
  }

  test("Iceberg data files have the parquet shape Spark's own write gives; bounds match their footers") {
    val table = tmpDir("dil-ice") + "/t"
    IcebergTableWriter.create(rows(1, 101, 2), table, partitionBy = Seq("grp")): Unit
    val batch = rows(101, 201, 4)
    IcebergTableWriter.append(batch, table): Unit
    val withIds = batch.select(batch.columns.zipWithIndex.map { case (c, i) =>
      col(c).as(c, new MetadataBuilder().putLong("parquet.field.id", i + 1L).build())
    }.toIndexedSeq: _*)
    val expected = sparkWritten(withIds, fieldIds = true)
    val fieldIds = IcebergTableReader.schemaFieldNames(spark, table).map(_.swap)
    val (snaps, current) = IcebergTableReader.snapshotLog(spark, table)
    val entries = IcebergTableReader.manifestListEntries(spark, table,
      snaps.find(_.id == current).get.manifestList).flatMap { case (mp, _, _, _) =>
        IcebergTableReader.manifestEntriesPublic(spark, table, mp) }
    assert(entries.size == 6, "one file per (write task, partition value)")
    entries.foreach { e =>
      val p = s"$table/${e.filePath}"
      assert(parquetSchemaOf(p) == parquetSchemaOf(expected), p)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(p), conf))
      val (lo, hi) = try IcebergTableWriter.footerBounds(r, fieldIds) finally r.close()
      def bytes(m: Map[Int, Array[Byte]]) = m.map { case (k, v) => k -> v.toSeq }
      assert(bytes(e.lowerBounds) == bytes(lo) && bytes(e.upperBounds) == bytes(hi), s"bounds of $p")
      assert(lo.nonEmpty)
      assert(e.recordCount.contains(spark.read.parquet(p).count()), s"record_count of $p")
    }
    assert(IcebergTableReader.snapshot(spark, table).count() == 200L)
  }

  /** Names under `table` that staging or Spark's commit protocol
    * leaves. */
  private def staging(table: String): Seq[String] =
    java.nio.file.Files.walk(java.nio.file.Paths.get(table)).iterator().asScala
      .map(_.getFileName.toString).filter(n => Seq(".graft-stage-", ".graft-cdc-", ".graft-del-",
        ".graft-ckpt-", ".graft-pstats-", ".graft-single-").exists(n.startsWith) ||
        n == "_temporary" || n == "_SUCCESS" || n == "._SUCCESS.crc" || n.endsWith(".tmp"))
      .toSeq

  test("Delta and Iceberg writes leave no staging entries under the table") {
    val s = spark
    import s.implicits._
    val delta = tmpDir("dil-clean-delta") + "/t"
    DeltaTableWriter.create(rows(1, 61, 2), delta, partitionBy = Seq("grp")): Unit
    assert(staging(delta).isEmpty, "create")
    DeltaTableWriter.append(rows(61, 91, 2), delta): Unit
    assert(staging(delta).isEmpty, "append")
    rawCommit(delta, 2L, Seq(
      s"""{"metaData":{"id":"dil-clean","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jsonQ(rows(1, 2, 1).schema.json)},"partitionColumns":["grp"],""" +
        s""""configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":0}}"""))
    DeltaTableWriter.upsert(Seq((5L, 77L, "g2"), (500L, 1L, "g2")).toDF("id", "v", "grp"),
      delta, Seq("id")): Unit
    assert(new java.io.File(s"$delta/_change_data").exists() && staging(delta).isEmpty, "upsert with CDC")
    DeltaTableWriter.writeCheckpoint(spark, delta): Unit
    assert(staging(delta).isEmpty, "checkpoint")
    assert(DeltaTableReader.snapshot(spark, delta).count() == 91L)

    val ice = tmpDir("dil-clean-ice") + "/t"
    IcebergTableWriter.create(rows(1, 61, 2), ice, partitionBy = Seq("grp")): Unit
    IcebergTableWriter.append(rows(61, 91, 2), ice): Unit
    assert(staging(ice).isEmpty, "append")
    IcebergTableWriter.delete(spark, ice, col("id") <= 5L): Unit
    assert(staging(ice).isEmpty, "position deletes")
    IcebergTableWriter.upsert(Seq((50L, 1L, "g2"), (900L, 2L, "g0")).toDF("id", "v", "grp"),
      ice, Seq("id")): Unit
    assert(staging(ice).isEmpty, "equality deletes")
    IcebergTableWriter.writePartitionStats(spark, ice): Unit
    assert(staging(ice).isEmpty, "partition stats")
    assert(IcebergTableReader.snapshot(spark, ice).count() == 86L)
  }

  test("a Delta write task that fails deletes its half-written file") {
    val table = tmpDir("dil-task-fail") + "/t"
    DeltaTableWriter.create(rows(1, 11, 1), table): Unit
    def hidden() = new java.io.File(table).list().filter(_.startsWith(".")).toSeq.sorted
    val (before, hiddenBefore) = (parquetUnder(table), hidden())
    val failing = spark.range(0, 1000, 1, 1).select(col("id"),
      when(col("id") === 900L, raise_error(lit("row 900 refuses"))).otherwise(col("id") * 2).as("v"),
      lit("g").as("grp"))
    val e = intercept[Exception](DeltaTableWriter.append(failing, table))
    assert(e.getMessage.contains("row 900 refuses"), e.toString)
    assert(parquetUnder(table) == before, "the failed task left its file behind")
    assert(hidden() == hiddenBefore, "hidden leftovers")
    assert(DeltaTableReader.snapshot(spark, table).count() == 10L)
  }

  /** Three write tasks: two of 10 rows that land their files, then
    * one of 100k rows whose last row fails the write. */
  private def failingBatch(from: Long): DataFrame = {
    val last = from + 299999L
    rows(from, last + 1, 3)
      .where(pmod(col("id"), lit(10000L)) === 0L || col("id") >= from + 200000L)
      .withColumn("v", when(col("id") === last, raise_error(lit("the last row refuses")))
        .otherwise(col("v")))
  }

  test("a failed append leaves the snapshot as it was; the orphan sweeps reclaim what it landed") {
    val delta = tmpDir("dil-debris-delta") + "/t"
    DeltaTableWriter.create(rows(1, 101, 2), delta): Unit
    DeltaTableWriter.append(rows(101, 201, 2), delta): Unit
    val committed = parquetUnder(delta)
    intercept[Exception](DeltaTableWriter.append(failingBatch(1000L), delta))
    assert(DeltaTableReader.latestVersion(spark, delta) == 1L)
    assert(DeltaTableReader.snapshot(spark, delta).count() == 200L)
    val debris = parquetUnder(delta).diff(committed)
    assert(debris.nonEmpty, "the finished tasks' files stay as uncommitted debris")
    val vacuumed = DeltaTableWriter.vacuum(spark, delta, retentionMs = 0L,
      nowMs = System.currentTimeMillis() + 1000L)
    assert(vacuumed.sorted == debris.map(_.stripPrefix(s"$delta/")).sorted)
    assert(parquetUnder(delta) == committed)
    assert(DeltaTableReader.snapshotAsOf(spark, delta, 0L).count() == 100L)
    assert(DeltaTableReader.snapshot(spark, delta).count() == 200L)

    val ice = tmpDir("dil-debris-ice") + "/t"
    val s0 = IcebergTableWriter.create(rows(1, 101, 2), ice)
    IcebergTableWriter.append(rows(101, 201, 2), ice): Unit
    val iceCommitted = parquetUnder(ice)
    intercept[Exception](IcebergTableWriter.append(failingBatch(1000L), ice))
    assert(IcebergTableReader.snapshot(spark, ice).count() == 200L)
    val iceDebris = parquetUnder(ice).diff(iceCommitted)
    assert(iceDebris.nonEmpty, "the finished tasks' files stay as uncommitted debris")
    val removed = IcebergTableWriter.removeOrphanFiles(spark, ice, graceMs = 0L,
      nowMs = System.currentTimeMillis() + 1000L)
    assert(removed.filter(_.endsWith(".parquet")).sorted ==
      iceDebris.map(_.stripPrefix(s"$ice/")).sorted)
    assert(parquetUnder(ice) == iceCommitted)
    assert(IcebergTableReader.snapshotAsOf(spark, ice, s0).count() == 100L)
    assert(IcebergTableReader.snapshot(spark, ice).count() == 200L)
  }

  test("job budgets: a small Delta create, append and CDC upsert; an Iceberg partitioned append and position delete") {
    val s = spark
    import s.implicits._
    val delta = tmpDir("dil-jobs-delta") + "/t"
    val createJobs = sparkJobs(DeltaTableWriter.create(rows(1, 201, 4), delta): Unit)
    val appendJobs = sparkJobs(DeltaTableWriter.append(rows(201, 261, 2), delta): Unit)
    rawCommit(delta, 2L, Seq(
      s"""{"metaData":{"id":"dil-jobs","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jsonQ(rows(1, 2, 1).schema.json)},"partitionColumns":[],""" +
        s""""configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":0}}"""))
    val upsertJobs = sparkJobs(DeltaTableWriter.upsert(
      Seq((5L, 77L, "g2"), (500L, 1L, "g2")).toDF("id", "v", "grp"), delta, Seq("id")): Unit)
    val ice = tmpDir("dil-jobs-ice") + "/t"
    IcebergTableWriter.create(rows(1, 101, 2), ice, partitionBy = Seq("grp")): Unit
    val iceAppendJobs = sparkJobs(IcebergTableWriter.append(rows(101, 201, 4), ice): Unit)
    val iceDeleteJobs = sparkJobs(IcebergTableWriter.delete(spark, ice, col("id") <= 5L): Unit)
    assert(createJobs <= 1, s"$createJobs Spark jobs for one small Delta create")
    assert(appendJobs <= 1, s"$appendJobs Spark jobs for one small Delta append")
    assert(upsertJobs <= 15, s"$upsertJobs Spark jobs for one small Delta CDC upsert")
    assert(iceAppendJobs <= 2, s"$iceAppendJobs Spark jobs for one small Iceberg partitioned append")
    assert(iceDeleteJobs <= 5, s"$iceDeleteJobs Spark jobs for one small Iceberg position delete")
  }
}
