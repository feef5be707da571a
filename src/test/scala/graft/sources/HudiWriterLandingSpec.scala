package graft.sources

import graft.SparkSpec
import graft.streaming.LakehouseSinks
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
    * under their own ids). */
  private def checkGroupIds(table: String): Unit = {
    val tl = HudiTableReader.timelineView(spark, table)
      .where(col("operation") =!= "COMPACT").collect()
    val newIds = tl.toSeq.flatMap { r =>
      writesOf(table, r.getAs[String]("instant"), r.getAs[String]("action"))
        .collect { case (_, p, "null") => p.split('/').last.split('_').head }
    }
    assert(newIds.nonEmpty && newIds.forall(id => !id.contains('_') && id.nonEmpty))
    assert(newIds.distinct.size == newIds.size, s"a file-group id was minted twice: $newIds")
    val active = HudiTableReader.morGroups(spark, table).map(_.fileId)
    assert(active.distinct.size == active.size)
  }

  private def sparkJobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get()
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
    HudiTableWriter.createMor(rows(1, 41, 2), table, recordKeys = Seq("id")): Unit
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
    assert(LakehouseSinks.appendBatchHudi(batch, table, "app", 0L))
    assert(LakehouseSinks.appendBatchHudi(batch.limit(0), table, "app", 1L))
    assert(HudiTableWriter.lastBatchId(spark, table, "app").contains(1L))
    assert(HudiTableReader.snapshot(spark, table).count() == 30L)
    val last = HudiTableReader.latestInstant(spark, table)
    val writes = writesOf(table, last, "commit")
    assert(writes.size == 1 && footerCount(s"$table/${writes.head._2}") == 0L)
    assert(!LakehouseSinks.appendBatchHudi(batch.limit(0), table, "app", 1L), "a replay no-ops")
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
    assert(clusterJobs <= 3, s"$clusterJobs Spark jobs for one small clustering")
    assert(compactJobs <= 5, s"$compactJobs Spark jobs for one small compaction")
  }
}
