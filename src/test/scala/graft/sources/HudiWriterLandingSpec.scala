package graft.sources

import graft.SparkSpec
import graft.streaming.TableSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** How the Hudi writer lands base files and publishes commits, across
  * every write that makes them: create/append, the COW and MOR
  * upserts, clustering and compaction. Each commit's write stats must
  * count the rows its files hold, new groups must follow the input's
  * layout (one per write task and table partition), file-group ids
  * must be unique, empty writes keep their documented outcome, and
  * the small writes keep their Spark-job budgets.
  */
class HudiWriterLandingSpec extends SparkSpec {

  private val regions = Vector("us", "eu", "ap")

  /** ids [from, until) in `parts` contiguous input partitions, with a
    * region column cycling over three values. */
  private def rows(from: Long, until: Long, parts: Int): DataFrame =
    spark.range(from, until, 1, parts).select(col("id"), (col("id") * 2).as("v"),
      element_at(typedLit(regions), (pmod(col("id"), lit(3)) + 1).cast("int")).as("region"))

  private def conf = spark.sparkContext.hadoopConfiguration

  private def footerCount(path: String): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), conf))
    try r.getRecordCount finally r.close()
  }

  /** Records one written file holds: footer count for a base file,
    * records or tombstones for a log file. */
  private def rowsIn(path: String): Long =
    if (path.endsWith(".parquet")) footerCount(path)
    else HudiLog.read(conf, path).map {
      case b: HudiLog.DataBlock => b.records.size.toLong
      case b: HudiLog.DeleteBlock => b.keys.size.toLong
    }.sum

  /** (partition, path, prevCommit) of every write stat of `instant`. */
  private def writesOf(table: String, instant: String, kind: String): Seq[(String, String, String)] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$table/.hoodie/$instant.$kind"))
    node.get("partitionToWriteStats").fields().asScala.toSeq.flatMap { e =>
      e.getValue.elements().asScala.map(w =>
        (e.getKey, w.get("path").asText(), w.get("prevCommit").asText()))
    }
  }

  /** Every instant's `num_writes` equals the rows its files hold. */
  private def checkTimeline(table: String, expectedOps: Seq[String]): Unit = {
    val tl = HudiTableReader.timelineView(spark, table).orderBy("instant").collect()
    assert(tl.map(_.getAs[String]("operation")).toSeq == expectedOps)
    tl.foreach { r =>
      val (instant, kind) = (r.getAs[String]("instant"), r.getAs[String]("action"))
      val held = writesOf(table, instant, kind).map { case (_, p, _) => rowsIn(s"$table/$p") }.sum
      assert(r.getAs[Long]("num_writes") == held,
        s"$kind $instant (${r.getAs[String]("operation")}): num_writes vs rows its files hold")
      assert(r.getAs[Long]("total_write_bytes") > 0L)
    }
  }

  /** Multiset of (table partition, rows) over the base files `instant`
    * landed. */
  private def landedLayout(table: String, instant: String): Seq[(String, Long)] =
    HudiTableReader.activeSlices(spark, table).filter(_.instant == instant)
      .map(s => (s.partition, footerCount(s"$table/${s.path}"))).sortBy(identity)

  /** Multiset of (table partition, rows) a plain parquet write of `df`
    * gives: one file per (input partition, table partition). */
  private def perTaskLayout(df: DataFrame, partitioned: Boolean): Seq[(String, Long)] = {
    val part = if (partitioned) concat(lit("region="), col("region")) else lit("")
    df.groupBy(spark_partition_id().as("task"), part.as("p")).count().collect()
      .map(r => (r.getString(1), r.getLong(2))).toSeq.sortBy(identity)
  }

  /** Asserts every file-group id is free of `_` and that no two new
    * groups ever took the same id (a compaction rewrites its groups
    * under their own ids and names the slices it compacts, so its
    * stats count as rewrites, not new groups). */
  private def checkGroupIds(table: String): Unit = {
    val tl = HudiTableReader.timelineView(spark, table).collect()
    val newIds = tl.toSeq.flatMap { r =>
      writesOf(table, r.getAs[String]("instant"), r.getAs[String]("action"))
        .collect { case (_, p, "null") => p.split('/').last.split('_').head }
    }
    assert(newIds.nonEmpty && newIds.forall(id => !id.contains('_') && id.nonEmpty))
    assert(newIds.distinct.size == newIds.size, s"a file-group id was minted twice: $newIds")
    val active = HudiTableReader.morGroups(HudiTimeline.load(spark, table)).map(_.fileId)
    assert(active.distinct.size == active.size)
  }

  test("timeline num_writes counts the rows each commit's files hold: insert, COW upsert, clustering") {
    val table = tmpDir("hland-tl-cow") + "/t"
    HudiTableWriter.create(rows(1, 201, 4), table, recordKeys = Seq("id"),
      partitionBy = Seq("region")): Unit
    HudiTableWriter.append(rows(201, 261, 2), table): Unit
    HudiTableWriter.upsert(rows(190, 231, 3).withColumn("v", col("v") + 1L), table): Unit
    HudiTableWriter.upsert(rows(261, 281, 2), table): Unit
    HudiTableWriter.cluster(spark, table, targetGroups = 2): Unit
    checkTimeline(table, Seq("INSERT", "INSERT", "UPSERT", "UPSERT", "CLUSTER"))
    assert(HudiTableReader.snapshot(spark, table).count() == 280L)
    val byPart = HudiTableReader.activeSlices(spark, table).groupBy(_.partition)
    assert(byPart.keySet == regions.map(r => s"region=$r").toSet &&
      byPart.values.forall(_.size <= 2), s"at most targetGroups groups per partition: $byPart")
    checkGroupIds(table)
  }

  test("timeline num_writes counts the rows each commit's files hold: MOR deltacommits and compaction") {
    val table = tmpDir("hland-tl-mor") + "/t"
    // two groups: ids 1..20 and 21..40
    val c0 = HudiTableWriter.createMor(rows(1, 41, 2), table, recordKeys = Seq("id"))
    // log updates for the second group plus four new keys
    HudiTableWriter.upsert(rows(25, 27, 1).unionByName(rows(41, 45, 1)), table): Unit
    // every row of the first group tombstoned: its compacted base is empty
    val s = spark
    import s.implicits._
    HudiTableWriter.deleteLog((1L to 20L).toDF("id"), table): Unit
    HudiTableWriter.updateLog(rows(30, 33, 1).withColumn("v", lit(-1L)), table): Unit
    val c = HudiTableWriter.compact(spark, table)
    checkTimeline(table, Seq("INSERT", "UPSERT", "UPSERT", "UPSERT", "COMPACT"))
    val compacted = writesOf(table, c, "commit").map { case (_, p, _) => footerCount(s"$table/$p") }
    assert(compacted.sorted == Seq(0L, 20L), "one empty base for the tombstoned group")
    assert(writesOf(table, c, "commit").map(_._3) == Seq(c0, c0),
      "each compaction stat names the base instant of the slice it compacts")
    assert(HudiTableReader.snapshot(spark, table).count() == 24L)
    assert(HudiTableReader.readOptimized(spark, table).count() == 24L)
    checkGroupIds(table)
  }

  test("create and append land one group per (input partition, table partition)") {
    Seq(false, true).foreach { partitioned =>
      val table = tmpDir("hland-layout") + "/t"
      val first = rows(1, 301, 4)
      val c1 = HudiTableWriter.create(first, table, recordKeys = Seq("id"),
        partitionBy = if (partitioned) Seq("region") else Nil)
      assert(landedLayout(table, c1) == perTaskLayout(first, partitioned), s"create, partitioned=$partitioned")
      val second = rows(301, 401, 4)
      val c2 = HudiTableWriter.append(second, table)
      assert(landedLayout(table, c2) == perTaskLayout(second, partitioned), s"append, partitioned=$partitioned")
      assert(landedLayout(table, c1).size == (if (partitioned) 12 else 4))
      checkGroupIds(table)
    }
  }

  test("a local-relation input lands one group per task of its local scan") {
    val s = spark
    import s.implicits._
    val local = (1 to 30).map(i => (i.toLong, s"k$i")).toDF("id", "key")
    val perTask = local.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect()
      .filter(_ > 0L).toSeq.sorted
    assert(perTask.size > 1, "the fixture needs a multi-task local scan")
    val table = tmpDir("hland-local") + "/t"
    val c = HudiTableWriter.create(local, table, recordKeys = Seq("id"))
    assert(landedLayout(table, c).map(_._2) == perTask)
    checkGroupIds(table)
  }

  test("MOR upsert inserts land one group per (input partition, table partition)") {
    Seq(false, true).foreach { partitioned =>
      val table = tmpDir("hland-mor-layout") + "/t"
      HudiTableWriter.createMor(rows(1, 101, 2), table, recordKeys = Seq("id"),
        partitionBy = if (partitioned) Seq("region") else Nil): Unit
      // 4 input partitions, each with updates (ids <= 100) and new keys:
      // 160 distinct ids scattered over 1..400
      val batch = spark.range(0, 160, 1, 4)
        .select((pmod(col("id") * 37, lit(400L)) + 1).as("id"))
        .select(col("id"), (col("id") * 3).as("v"),
          element_at(typedLit(regions), (pmod(col("id"), lit(3)) + 1).cast("int")).as("region"))
      val c = HudiTableWriter.upsert(batch, table)
      val newRows = batch.where(col("id") > 100L)
      val landed = writesOf(table, c, "deltacommit").collect {
        case (part, p, _) if p.endsWith(".parquet") => (part, footerCount(s"$table/$p"))
      }.sortBy(identity)
      assert(landed == perTaskLayout(newRows, partitioned), s"partitioned=$partitioned")
      assert(HudiTableReader.snapshot(spark, table).count() == 100L + newRows.count())
      checkGroupIds(table)
    }
  }

  test("an empty micro-batch into an unpartitioned table commits one schema-only group") {
    val table = tmpDir("hland-empty-sink") + "/t"
    val batch = rows(1, 31, 2).drop("region")
    assert(TableSink.appendBatch(batch, table, TableLoader.HudiFormat, "app", 0L))
    assert(TableSink.appendBatch(batch.limit(0), table, TableLoader.HudiFormat, "app", 1L))
    assert(HudiTableWriter.lastBatchId(spark, table, "app").contains(1L))
    assert(HudiTableReader.snapshot(spark, table).count() == 30L)
    val last = HudiTableReader.latestInstant(spark, table)
    val writes = writesOf(table, last, "commit")
    assert(writes.size == 1 && footerCount(s"$table/${writes.head._2}") == 0L)
    assert(!TableSink.appendBatch(batch.limit(0), table, TableLoader.HudiFormat, "app", 1L), "a replay no-ops")
    checkTimeline(table, Seq("INSERT", "INSERT"))
  }

  test("an empty create into a partitioned table refuses") {
    val e = intercept[IllegalArgumentException](
      HudiTableWriter.create(rows(1, 31, 2).limit(0), tmpDir("hland-empty-part") + "/t",
        recordKeys = Seq("id"), partitionBy = Seq("region")))
    assert(e.getMessage.contains("wrote no data files"))
  }

  test("job budgets: a small create, cluster and compact") {
    val cow = tmpDir("hland-jobs-cow") + "/t"
    val createJobs = sparkJobs(HudiTableWriter.create(rows(1, 201, 4), cow,
      recordKeys = Seq("id"), partitionBy = Seq("region")): Unit)
    HudiTableWriter.append(rows(201, 261, 2), cow): Unit
    val clusterJobs = sparkJobs(HudiTableWriter.cluster(spark, cow, targetGroups = 2): Unit)
    val mor = tmpDir("hland-jobs-mor") + "/t"
    HudiTableWriter.createMor(rows(1, 41, 2), mor, recordKeys = Seq("id")): Unit
    HudiTableWriter.updateLog(rows(3, 8, 1).withColumn("v", lit(0L)), mor): Unit
    val compactJobs = sparkJobs(HudiTableWriter.compact(spark, mor): Unit)
    assert(createJobs <= 1, s"$createJobs Spark jobs for one small create")
    assert(clusterJobs <= 2, s"$clusterJobs Spark jobs for one small clustering")
    assert(compactJobs <= 5, s"$compactJobs Spark jobs for one small compaction")
  }

  /** The parquet message type of the file at `path` (repetition
    * included) and the Spark row schema its footer carries. */
  private def parquetSchemaOf(path: String): (org.apache.parquet.schema.MessageType, String) = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), conf))
    try {
      val meta = r.getFooter.getFileMetaData
      (meta.getSchema, meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
    } finally r.close()
  }

  /** The path of one part file Spark's own parquet write of `df` gives. */
  private def sparkWritten(df: DataFrame): String = {
    val dir = tmpDir("hland-spark-write") + "/out"
    df.write.parquet(dir)
    new java.io.File(dir).listFiles().map(_.getPath)
      .find(p => p.split('/').last.startsWith("part-") && p.endsWith(".parquet")).get
  }

  /** The landed file at `path` has the parquet schema and the Spark
    * row schema of Spark's own write at `expected`, and reads back
    * with the same footer schema. */
  private def assertSameSchema(path: String, expected: String, what: String): Unit = {
    assert(parquetSchemaOf(path) == parquetSchemaOf(expected), what)
    assert(HudiTableReader.footerSchema(spark, path) ==
      HudiTableReader.footerSchema(spark, expected), what)
  }

  test("landed files have the parquet schema Spark's own write of the same rows gives") {
    val table = tmpDir("hland-schema-cow") + "/t"
    val first = rows(1, 301, 4)
    val c1 = HudiTableWriter.create(first, table, recordKeys = Seq("id"),
      partitionBy = Seq("region"))
    val created = sparkWritten(first.withColumn("_hoodie_commit_time", lit(c1))
      .withColumn("_hoodie_record_key", concat_ws(",", concat(lit("id:"), col("id").cast("string"))))
      .withColumn("_hoodie_partition_path", concat_ws("/",
        concat(lit("region="), coalesce(col("region").cast("string"),
          lit("__HIVE_DEFAULT_PARTITION__"))))))
    HudiTableReader.activeSlices(spark, table).foreach(s =>
      assertSameSchema(s"$table/${s.path}", created, s"create: ${s.path}"))

    // a COW upsert that adds a column: the rewritten slices hold carried
    // rows (a file scan, the new column null-filled) and batch rows
    val slices = HudiTableReader.activeSlices(spark, table)
    val scan = HudiTableReader.scanSchema(HudiTimeline.load(spark, table), slices)
    val batch = rows(295, 311, 2).withColumn("note", concat(lit("n"), col("id").cast("string")))
    val c2 = HudiTableWriter.upsert(batch, table)
    val outCols = scan.fieldNames.toSeq :+ "note"
    val carried = spark.read.schema(scan).parquet(slices.map(s => s"$table/${s.path}"): _*)
      .withColumn("note", lit(null).cast("string")).select(outCols.map(col): _*)
    val batchRows = batch.withColumn("_hoodie_commit_time", lit(c2))
      .withColumn("_hoodie_record_key", concat_ws(",", concat(lit("id:"), col("id").cast("string"))))
      .withColumn("_hoodie_partition_path", concat_ws("/", concat(lit("region="),
        coalesce(col("region").cast("string"), lit("__HIVE_DEFAULT_PARTITION__")))))
      .select(outCols.map(col): _*)
    val upserted = sparkWritten(carried.unionByName(batchRows))
    val landed = writesOf(table, c2, "commit")
    assert(landed.exists(_._3 != "null") && landed.exists(_._3 == "null"),
      "the upsert rewrites groups and lands new ones")
    landed.foreach { case (_, p, _) => assertSameSchema(s"$table/$p", upserted, s"upsert: $p") }

    // compaction: the merged rows, and a schema-only base for a group
    // whose every record is tombstoned
    val mor = tmpDir("hland-schema-mor") + "/t"
    HudiTableWriter.createMor(rows(1, 41, 2), mor, recordKeys = Seq("id")): Unit
    val s = spark
    import s.implicits._
    HudiTableWriter.deleteLog((1L to 20L).toDF("id"), mor): Unit
    HudiTableWriter.updateLog(rows(30, 33, 1).withColumn("v", lit(-1L)), mor): Unit
    val groups = HudiTableReader.morGroups(HudiTimeline.load(spark, mor))
    val morSchema = HudiTableReader.morSchema(HudiTimeline.load(spark, mor), groups)
    val merged = sparkWritten(HudiTableReader.mergeDirtyGroups(spark, mor,
      groups.filter(_.logs.nonEmpty), morSchema, keepFileId = true).drop("_g_fid"))
    val empty = sparkWritten(spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), morSchema).coalesce(1))
    val c = HudiTableWriter.compact(spark, mor)
    val compacted = writesOf(mor, c, "commit").map { case (_, p, _) => s"$mor/$p" }
    assert(compacted.size == 2)
    compacted.foreach { p =>
      assertSameSchema(p, if (footerCount(p) == 0L) empty else merged, s"compaction: $p")
    }
  }

  test("a file already at a landing path fails the write and is left as it is") {
    val table = tmpDir("hland-exclusive") + "/t"
    val instant = "20260101000000000"
    def group(from: Long, until: Long): DataFrame =
      rows(from, until, 1).withColumn("_g_fid", lit("g1")).withColumn("_g_part", lit("region=us"))
    val first = HudiTableWriter.landGroups(group(1, 21), table, instant)
    assert(first.map(w => (w.path, w.numWrites)) == Seq(("region=us/g1_0-0-0_" + instant + ".parquet", 20L)))
    val path = s"$table/${first.head.path}"
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val e = intercept[Exception](HudiTableWriter.landGroups(group(21, 41), table, instant))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException]), e.toString)
    assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), bytes))
    assert(spark.read.parquet(path).select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 20L))
  }

  test("a write task that fails deletes its half-written file") {
    val table = tmpDir("hland-task-fail") + "/t"
    val failing = spark.range(0, 1000, 1, 1).select(col("id"),
        when(col("id") === 900L, raise_error(lit("row 900 refuses"))).otherwise(col("id")).as("v"))
      .withColumn("_g_fid", lit("g1")).withColumn("_g_part", lit(""))
    val e = intercept[Exception](HudiTableWriter.landGroups(failing, table, "20260101000000000"))
    assert(e.getMessage.contains("row 900 refuses"), e.toString)
    val left = Option(new java.io.File(table).listFiles()).toSeq.flatten.map(_.getName)
    assert(left.isEmpty, s"left behind: $left")
  }

  test("a write task that fails mid-upsert leaves the table as it was; the next upsert succeeds") {
    val table = tmpDir("hland-upsert-fail") + "/t"
    // four groups: ids 1-100, 101-200, 201-300, 301-400
    val c1 = HudiTableWriter.create(rows(1, 401, 4), table, recordKeys = Seq("id"))
    def state() = (
      HudiTimeline.load(spark, table).instants,
      HudiTableReader.snapshot(spark, table).select("id", "v", "_hoodie_commit_time")
        .collect().map(_.toString).sorted.toSeq,
      HudiTableReader.incrementalSince(spark, table, "0").collect().map(_.toString).sorted.toSeq)
    val before = state()
    val slices = HudiTableReader.activeSlices(spark, table)
    // not the slice the upsert's scan schema is read from
    val target = slices.find(_ != slices.head).get
    val targetFile = java.nio.file.Paths.get(s"$table/${target.path}")
    val targetCrc = targetFile.resolveSibling(s".${targetFile.getFileName}.crc")
    val saved = Seq(targetFile, targetCrc).map(p => p -> java.nio.file.Files.readAllBytes(p))
    // the target slice with `v` stored as a string: the key scan that
    // tags the batch still reads it, the merge that rewrites it cannot
    val swapped = sparkWritten(spark.read.parquet(targetFile.toString)
      .withColumn("v", col("v").cast("string")).coalesce(1))
    java.nio.file.Files.copy(java.nio.file.Paths.get(swapped), targetFile,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    java.nio.file.Files.delete(targetCrc)
    // every group gets two updates
    val batch = rows(1, 401, 4).where(pmod(col("id"), lit(50L)) === 0L)
      .withColumn("v", col("v") + 1L)
    val e = intercept[org.apache.spark.SparkException](HudiTableWriter.upsert(batch, table))
    assert(e.getMessage.contains("[v]"), "fails in the merge, reading the slice")
    saved.foreach { case (p, b) => java.nio.file.Files.write(p, b) }
    assert(state() == before, "the failed upsert changed the timeline, snapshot or pull")
    val targetFiles = new java.io.File(table).listFiles().map(_.getName)
      .filter(n => n.startsWith(target.fileId + "_") && n.endsWith(".parquet"))
    assert(targetFiles.toSeq == Seq(targetFile.getFileName.toString),
      "the failed merge left no file in its group")
    val c2 = HudiTableWriter.upsert(batch, table)
    val updated = HudiTableReader.snapshot(spark, table).where(col("_hoodie_commit_time") === c2)
      .select("id", "v").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(updated == (50L to 400L by 50L).map(id => id -> (id * 2 + 1)).toMap)
    assert(HudiTableReader.snapshot(spark, table).count() == 400L)
  }

  test("clustering an evolved table keeps the added column") {
    val table = tmpDir("hland-cluster-evolved") + "/t"
    HudiTableWriter.create(rows(1, 201, 4), table, recordKeys = Seq("id")): Unit
    // `note` arrives with an upsert: only the touched group's new slice
    // and the new group's file carry it
    HudiTableWriter.upsert(rows(150, 151, 1).unionByName(rows(201, 203, 1))
      .withColumn("note", concat(lit("n"), col("id").cast("string"))), table): Unit
    HudiTableWriter.cluster(spark, table, targetGroups = 1): Unit
    val notes = HudiTableReader.snapshot(spark, table).where(col("note").isNotNull)
      .select("id", "note").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(notes == Map(150L -> "n150", 201L -> "n201", 202L -> "n202"))
    assert(HudiTableReader.snapshot(spark, table).count() == 202L)
  }

  test("the merge replaces the rows the tagging join matched: a -0.0 key replaces a 0.0 row") {
    val table = tmpDir("hland-float-key") + "/t"
    val s = spark
    import s.implicits._
    HudiTableWriter.create(Seq((0.0, 1L), (1.5, 2L), (2.5, 3L)).toDF("k", "v").coalesce(1),
      table, recordKeys = Seq("k")): Unit
    HudiTableWriter.upsert(Seq((-0.0, 10L)).toDF("k", "v"), table): Unit
    val rows = HudiTableReader.snapshot(spark, table).select("k", "v").collect()
      .map(r => (r.getDouble(0).abs, r.getLong(1))).sortBy(_._1).toSeq
    assert(rows == Seq((0.0, 10L), (1.5, 2L), (2.5, 3L)))
  }

  test("create, upsert, cluster and compact leave no staging entries under the table") {
    val cow = tmpDir("hland-clean-cow") + "/t"
    HudiTableWriter.create(rows(1, 201, 4), cow, recordKeys = Seq("id"),
      partitionBy = Seq("region")): Unit
    HudiTableWriter.upsert(rows(190, 221, 2).withColumn("v", col("v") + 1L), cow): Unit
    HudiTableWriter.cluster(spark, cow, targetGroups = 2): Unit
    val mor = tmpDir("hland-clean-mor") + "/t"
    HudiTableWriter.createMor(rows(1, 41, 2), mor, recordKeys = Seq("id")): Unit
    HudiTableWriter.updateLog(rows(3, 8, 1).withColumn("v", lit(0L)), mor): Unit
    HudiTableWriter.compact(spark, mor): Unit
    Seq(cow, mor).foreach { t =>
      val names = java.nio.file.Files.walk(java.nio.file.Paths.get(t)).iterator().asScala
        .map(_.getFileName.toString).toSeq
      val staged = names.filter(n => n.startsWith(".graft-stage-") || n == "_temporary" ||
        n == "_SUCCESS" || n == "._SUCCESS.crc")
      assert(staged.isEmpty, s"$t: $staged")
    }
  }
}
