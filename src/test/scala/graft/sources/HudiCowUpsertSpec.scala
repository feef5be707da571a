package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The COW upsert's one-pass shape: one base scan, the batch evaluated
  * once, rewritten and new file groups landed by one write. The table
  * it leaves must be exactly what a per-key model of the batch says,
  * with Hudi-true commit stats, and the layout of new groups (one per
  * key-hash bucket and table partition) must not drift.
  */
class HudiCowUpsertSpec extends SparkSpec {

  private val regions = Vector("us", "eu", "ap")
  private def regionOf(id: Long): String = regions((id % 3).toInt)

  /** 400 base rows in 4 contiguous-range input partitions: 4 file
    * groups unpartitioned, 12 partitioned by region. */
  private def baseDf: DataFrame =
    spark.range(1, 401, 1, 4).select(col("id"), lit(1L).as("updated_at"),
      (col("id") * 2).as("v"),
      element_at(typedLit(regions), (pmod(col("id"), lit(3)) + 1).cast("int")).as("region"))

  /** Updates 3, 50, 120, 250, 399 and inserts 401..412; key 50 and
    * key 405 each arrive twice, the older row losing on updated_at. */
  private val batchRows: Seq[(Long, Long, Long)] =
    Seq(3L, 50L, 120L, 250L, 399L).map(id => (id, 2L, id * 100)) ++
      Seq((50L, 3L, 5050L), (405L, 1L, -1L)) ++
      (401L to 412L).map(id => (id, 2L, id * 100))

  private val postImages: Map[Long, (Long, Long)] = // id -> (updated_at, v)
    batchRows.groupBy(_._1).map { case (id, rs) => id -> rs.maxBy(_._2) }
      .map { case (id, (_, ts, v)) => id -> ((ts, v)) }

  /** The batch as the daily job hands it over: a parquet input read back. */
  private def batchDf(rows: Seq[(Long, Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    val dir = tmpDir("hcow-batch") + "/in"
    rows.map { case (id, ts, v) => (id, ts, v, regionOf(id)) }
      .toDF("id", "updated_at", "v", "region").write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def fileIdOf(path: String): String = path.split('/').last.split('_').head

  /** id -> file group id of the row in the current snapshot. */
  private def groupOfKey(table: String): Map[Long, String] =
    HudiTableReader.snapshot(spark, table)
      .select(col("id"), col("_metadata.file_path")).collect()
      .map(r => r.getLong(0) -> fileIdOf(r.getString(1))).toMap

  private def footerCount(path: String): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), spark.sparkContext.hadoopConfiguration))
    try r.getRecordCount finally r.close()
  }

  /** Checks every `partitionToWriteStats` entry of `instant` against
    * the footers and the expected per-group update counts; rewritten
    * groups must name their previous slice's instant, new ones
    * "null". Returns the number of new groups. */
  private def checkStats(table: String, instant: String, prevOf: Map[String, String],
      updatesByGroup: Map[String, Long]): Int = {
    val commit = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$table/.hoodie/$instant.commit"))
    val writes = commit.get("partitionToWriteStats").fields().asScala.toSeq.flatMap { e =>
      e.getValue.elements().asScala.map(w => e.getKey -> w)
    }
    val rewritten = writes.collect { case (part, w) if w.get("prevCommit").asText() != "null" =>
      val fid = w.get("fileId").asText()
      assert(w.get("prevCommit").asText() == prevOf(fid), s"prevCommit of $fid")
      assert(w.get("numUpdateWrites").asLong() == updatesByGroup(fid), s"numUpdateWrites of $fid")
      fid
    }
    assert(rewritten.toSet == updatesByGroup.keySet, "exactly the touched groups are rewritten")
    writes.foreach { case (part, w) =>
      val path = w.get("path").asText()
      assert(path.startsWith(if (part.isEmpty) "" else s"$part/") && fileIdOf(path) ==
        w.get("fileId").asText(), s"path $path under partition '$part'")
      assert(w.get("numWrites").asLong() == footerCount(s"$table/$path"), s"numWrites of $path")
      if (w.get("prevCommit").asText() == "null") {
        assert(w.get("numUpdateWrites").asLong() == 0L)
        assert(!prevOf.contains(w.get("fileId").asText()), "a new group takes a new id")
      }
    }
    writes.size - rewritten.size
  }

  /** Upserts `rows` (as parquet input) and checks the snapshot, the
    * incremental pull and the commit stats against the model `before`
    * ⊕ batch. Returns (instant, new groups, model after). */
  private def upsertAndCheck(table: String, before: Map[Long, (Long, Long, String)],
      batch: DataFrame, post: Map[Long, (Long, Long)]): (String, Int, Map[Long, (Long, Long, String)]) = {
    val prevOf = HudiTableReader.activeSlices(spark, table).map(s => s.fileId -> s.instant).toMap
    val groupOf = groupOfKey(table)
    val instant = HudiTableWriter.upsert(batch, table)
    val after = before ++ post.map { case (id, (ts, v)) => id -> ((ts, v, instant)) }
    val snap = HudiTableReader.snapshot(spark, table)
      .select("id", "updated_at", "v", "region", "_hoodie_commit_time").collect()
    assert(snap.length == after.size, "one row per key")
    snap.foreach { r =>
      val id = r.getLong(0)
      assert((r.getLong(1), r.getLong(2), r.getString(4)) == after(id), s"snapshot row $id")
      assert(r.getString(3) == regionOf(id))
    }
    val inc = HudiTableReader.incrementalSince(spark, table, before.values.map(_._3).max)
      .select("id", "updated_at", "v").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(inc == post, "the pull returns exactly the batch's post-images")
    val updatesByGroup = post.keys.filter(groupOf.contains).groupBy(groupOf)
      .map { case (fid, ids) => fid -> ids.size.toLong }
    (instant, checkStats(table, instant, prevOf, updatesByGroup), after)
  }

  private def created(table: String, partitioned: Boolean): Map[Long, (Long, Long, String)] = {
    val c1 = HudiTableWriter.create(baseDf, table, recordKeys = Seq("id"),
      precombineField = Some("updated_at"),
      partitionBy = if (partitioned) Seq("region") else Nil)
    (1L to 400L).map(id => id -> ((1L, id * 2, c1))).toMap
  }

  test("COW upsert, unpartitioned: updates, inserts, in-batch duplicates; then an additive evolution") {
    val table = tmpDir("hcow-flat") + "/t"
    val model0 = created(table, partitioned = false)
    val (c2, newGroups, model1) = upsertAndCheck(table, model0, batchDf(batchRows), postImages)
    // the 12 new keys bucket by key hash into the session's 4 shuffle
    // partitions, one new group per bucket
    assert(newGroups == 4)

    // additive evolution: `note` arrives; carried and older rows read null
    val s = spark
    import s.implicits._
    val dir = tmpDir("hcow-evolve") + "/in"
    Seq((7L, 4L, 700L, regionOf(7L), "seven"), (413L, 4L, 41300L, regionOf(413L), "new"))
      .toDF("id", "updated_at", "v", "region", "note").write.parquet(dir)
    val post = Map(7L -> ((4L, 700L)), 413L -> ((4L, 41300L)))
    val (c3, evolvedNew, _) = upsertAndCheck(table, model1, spark.read.parquet(dir), post)
    assert(evolvedNew == 1, "one new key, one new group: buckets without inserts land nothing")
    val notes = HudiTableReader.snapshot(spark, table).where(col("note").isNotNull)
      .select("id", "note").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(notes == Map(7L -> "seven", 413L -> "new"))
    assert(HudiTableReader.incrementalSince(spark, table, c2).columns.contains("note"))
    assert(scala.io.Source.fromFile(s"$table/.hoodie/$c3.commit").mkString
      .contains("\"extraMetadata\":{\"schema\""), "the evolved schema rides the commit")
  }

  test("COW upsert, hive-partitioned: new groups land under their rows' partition") {
    val table = tmpDir("hcow-hive") + "/t"
    val model0 = created(table, partitioned = true)
    val (c2, newGroups, model1) = upsertAndCheck(table, model0, batchDf(batchRows), postImages)
    assert(newGroups == 9)
    // every base file of the commit sits in its rows' hive dir
    HudiTableReader.snapshot(spark, table).where(col("_hoodie_commit_time") === c2)
      .select(col("region"), col("_metadata.file_path")).collect().foreach { r =>
        assert(r.getString(1).contains(s"/region=${r.getString(0)}/"))
      }
    // a batch of new keys only rewrites nothing
    val inserts = (501L to 506L).map(id => (id, 5L, id * 100))
    val (_, insertGroups, _) = upsertAndCheck(table, model1, batchDf(inserts),
      inserts.map { case (id, ts, v) => id -> ((ts, v)) }.toMap)
    assert(insertGroups >= 3, "every region gets at least one new group")
  }

  test("a base file not named <fileId>_<writeToken>_<instant>.parquet refuses the upsert") {
    val table = tmpDir("hcow-names") + "/t"
    val c1 = HudiTableWriter.create(baseDf.coalesce(1), table, recordKeys = Seq("id"))
    val name = HudiTableReader.activeSlices(spark, table).head.path
    assert(new java.io.File(s"$table/$name").renameTo(new java.io.File(s"$table/odd.parquet")))
    val commit = java.nio.file.Paths.get(s"$table/.hoodie/$c1.commit")
    java.nio.file.Files.writeString(commit, java.nio.file.Files.readString(commit)
      .replace(name, "odd.parquet"))
    java.nio.file.Files.deleteIfExists(commit.resolveSibling(s".$c1.commit.crc"))
    assert(HudiTableReader.snapshot(spark, table).count() == 400L)
    val e = intercept[IllegalStateException](
      HudiTableWriter.upsert(batchDf(batchRows), table))
    assert(e.getMessage.contains("is not named"))
  }

  test("job budget: a small COW upsert runs at most 5 Spark jobs") {
    val table = tmpDir("hcow-jobs") + "/t"
    created(table, partitioned = false)
    val batch = batchDf(batchRows) // its schema inference is not the upsert's
    val jobs = sparkJobs(HudiTableWriter.upsert(batch, table): Unit)
    assert(jobs <= 5, s"$jobs Spark jobs for one small upsert")
  }
}
