package graft.pipeline

import graft.SparkSpec
import graft.sources.{HudiTableReader, HudiTableWriter}
import org.apache.spark.sql.functions._

import java.time.Instant

class PipelineSpecSuite extends SparkSpec {

  test("ReportWriter: date-partitioned single CSV, lossless roundtrip, expiring URL") {
    val fixed = Instant.parse("2026-03-05T10:00:00Z")
    val writer = new ReportWriter(tmpDir("graft-report-"), clock = () => fixed)
    val df = graft.sources.TableLoader.table(spark, sfDir, "orders").limit(100)
    val handle = writer.write(df, expiresInSeconds = 3600)

    assert(handle.path.contains("reports/year=2026/month=3/day=5/"))
    assert(handle.path.endsWith(".csv"))
    assert(handle.url == s"file://${handle.path}")
    assert(handle.expiresAt == fixed.plusSeconds(3600))

    val back = spark.read.schema(df.schema).option("header", "true").csv(handle.path)
    assert(back.count() == 100)
    assert(df.exceptAll(back).isEmpty)
  }

  test("ReportWriter: digest manifest verifies the delivered file and catches tampering") {
    val s = spark
    import s.implicits._
    val writer = new ReportWriter(tmpDir("graft-report-digest-"))
    val df = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("id", "name")
    val handle = writer.write(df, format = "parquet", digestManifest = true)
    val back = spark.read.parquet(handle.path)
    assert(writer.verifyDigest(back, handle.path), "delivered file must verify")
    // shuffled column/row order still verifies (order-independent digest)
    assert(writer.verifyDigest(back.orderBy(col("name").desc).repartition(3), handle.path))
    // a tampered row must fail
    val tampered = back.withColumn("name",
      when(col("id") === 2L, lit("BETA")).otherwise(col("name")))
    assert(!writer.verifyDigest(tampered, handle.path), "tampering must break the digest")
    assert(!writer.verifyDigest(back.limit(2), handle.path), "missing rows must break the count")
  }

  test("ReportWriter: JSON-lines format shares the layout and stays lossless") {
    val fixed = Instant.parse("2026-03-05T10:00:00Z")
    val writer = new ReportWriter(tmpDir("graft-report-json-"), clock = () => fixed)
    val df = graft.sources.TableLoader.table(spark, sfDir, "orders").limit(100)
    val handle = writer.write(df, format = "json")
    assert(handle.path.contains("reports/year=2026/month=3/day=5/"))
    assert(handle.path.endsWith(".json"))
    val back = spark.read.schema(df.schema).json(handle.path)
    assert(back.count() == 100)
    assert(df.exceptAll(back).isEmpty && back.exceptAll(df).isEmpty)
    intercept[IllegalArgumentException] { writer.write(df, format = "xml") }
  }

  /** Every column shape a report carries: text needing quotes
    * (commas, quotes, newlines), nulls, empty strings, decimals,
    * doubles, dates, timestamps with and without a zone, booleans —
    * over 3 partitions, so the file is stitched from several chunks.
    */
  private def awkwardFrame() = spark.range(0, 40, 1, 3).selectExpr(
    "id",
    """CASE id % 5 WHEN 0 THEN 'a,b' WHEN 1 THEN 'say "hi"' WHEN 2 THEN 'two\nlines'
      |  WHEN 3 THEN '' ELSE NULL END AS s""".stripMargin,
    "CAST(id * 1.25 AS DECIMAL(12, 3)) AS dec",
    "IF(id % 7 = 0, NULL, id / 3.0D) AS dbl",
    "date_add(DATE'2026-03-01', CAST(id AS INT)) AS d",
    "timestamp_micros(1772704800123456L + id * 3601000001L) AS ts",
    "CAST(timestamp_micros(1772704800654321L - id * 86399999999L) AS TIMESTAMP_NTZ) AS ntz",
    "IF(id % 3 = 0, NULL, id % 2 = 0) AS b")

  /** The part file Spark's own sink writes for `df` in one task. */
  private def sparkSinkBytes(df: org.apache.spark.sql.DataFrame, format: String): Array[Byte] = {
    val dir = tmpDir("graft-report-ref-") + "/out"
    val w = df.coalesce(1).write
    if (format == "csv") w.option("header", "true").csv(dir) else w.json(dir)
    val parts = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length == 1)
    java.nio.file.Files.readAllBytes(parts.head.toPath)
  }

  private def fileBytes(path: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))

  test("ReportWriter: CSV and JSON bytes equal Spark's own sink, empty results included") {
    val writer = new ReportWriter(tmpDir("graft-report-bytes-"))
    val df = awkwardFrame()
    // `id < 0` keeps 3 empty partitions; `limit(0)` plans an empty
    // relation with none, where Spark's sink still writes one file
    for (format <- Seq("csv", "json"); frame <- Seq(df, df.where("id < 0"), df.limit(0))) {
      val got = fileBytes(writer.write(frame, format = format).path)
      assert(got.sameElements(sparkSinkBytes(frame, format)),
        s"$format bytes differ from Spark's sink:\n${new String(got, "UTF-8")}")
    }
    val empty = fileBytes(writer.write(df.limit(0)).path)
    assert(new String(empty, "UTF-8") == "id,s,dec,dbl,d,ts,ntz,b\n", "an empty CSV is its header")
  }

  test("ReportWriter: an ORDER BY over several partitions keeps its order") {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, "false") // keep the sort's 4 output partitions apart
    try {
      val df = spark.range(0, 300, 1, 4).selectExpr("id", "(id * 7919) % 300 AS k").orderBy(desc("k"))
      val handle = new ReportWriter(tmpDir("graft-report-order-")).write(df)
      assert(df.queryExecution.toRdd.getNumPartitions >= 3)
      val ks = scala.io.Source.fromFile(handle.path, "UTF-8").getLines().drop(1).map(_.split(',')(1).toInt).toSeq
      assert(ks == (299 to 0 by -1))
    } finally spark.conf.set(key, before)
  }

  test("ReportWriter: every format lands one file per report and leaves no staging debris") {
    val fixed = Instant.parse("2026-03-05T10:00:00Z")
    val root = tmpDir("graft-report-debris-")
    val writer = new ReportWriter(root, clock = () => fixed)
    val names = Seq("csv", "json", "orc", "parquet")
      .map(f => new java.io.File(writer.write(awkwardFrame(), format = f).path).getName)
    val left = new java.io.File(s"$root/reports/year=2026/month=3/day=5").list().toSet
    // the local file system keeps a hidden checksum beside each file
    assert(left == names.flatMap(n => Seq(n, s".$n.crc")).toSet, s"left in the day directory: $left")
  }

  test("ReportWriter: a query that fails in a task leaves nothing at the target key") {
    val fixed = Instant.parse("2026-03-05T10:00:00Z")
    val root = tmpDir("graft-report-fail-")
    val writer = new ReportWriter(root, clock = () => fixed)
    val failing = spark.range(0, 30, 1, 3)
      .selectExpr("id", "IF(id = 17, raise_error('boom'), CAST(id AS STRING)) AS s")
    for (format <- Seq("csv", "parquet")) {
      val e = intercept[Exception](writer.write(failing, format = format))
      assert(e.getMessage.contains("boom"))
    }
    val day = new java.io.File(s"$root/reports/year=2026/month=3/day=5")
    assert(!day.exists() || day.list().isEmpty, s"left behind: ${Option(day.list()).map(_.toSeq)}")
  }

  test("ReportWriter: schemas Spark's sink refuses are still refused") {
    val writer = new ReportWriter(tmpDir("graft-report-refuse-"))
    val nested = spark.range(3).selectExpr("id", "named_struct('a', id) AS st")
    val e = intercept[org.apache.spark.sql.AnalysisException](writer.write(nested))
    assert(e.getMessage.contains("CSV") && e.getMessage.contains("st"))
    writer.write(nested, format = "json") // JSON carries nested columns
  }

  test("job budget: the flagship report over a 4-file table runs at most 2 Spark jobs, its scan in parallel") {
    val dir = tmpDir("graft-report-jobs-")
    spark.read.parquet(s"$sfDir/orders.parquet").repartition(4).write.parquet(s"$dir/orders.parquet")
    spark.read.parquet(s"$sfDir/customer.parquet").write.parquet(s"$dir/customer.parquet")
    assert(new java.io.File(s"$dir/orders.parquet").list().count(_.endsWith(".parquet")) >= 4)
    val df = graft.Queries.qReportUrgent.run(spark, dir)
    val budget = graft.JobBudget.of(spark)(new ReportWriter(tmpDir("graft-report-jobs-out-")).write(df): Unit)
    assert(budget.jobs <= 2, s"${budget.jobs} Spark jobs for one report")
    assert(budget.stageTasks.max > 1, s"stage task counts ${budget.stageTasks}: the scan ran in one task")
  }

  test("email template renders the reference card with the download link") {
    val html = DownloadReportEmailTemplate("file:///tmp/r.csv").render()
    assert(html.contains("""<a href="file:///tmp/r.csv""""))
    assert(html.contains("Download Report"))
    assert(html.contains("Thank you for using our service"))
  }

  test("ReportPipeline: a Hudi COW FULL source serves the snapshot, not every file slice") {
    val s = spark
    import s.implicits._
    val t = tmpDir("pipe-hudi") + "/t"
    HudiTableWriter.create((1 to 40).map(i => (i.toLong, i * 2L)).toDF("id", "v"), t,
      recordKeys = Seq("id")): Unit
    HudiTableWriter.upsert((1 to 10).map(i => (i.toLong, -1L)).toDF("id", "v"), t): Unit
    val pipeline = new ReportPipeline(spark, tmpDir("pipe-hudi-cp"))
    val full = pipeline.transform(PipelineSpec(Seq(SourceSpec("orders_h", t)),
      TransformSpec("SELECT id, v FROM orders_h")))
    assert(full.count() == HudiTableReader.snapshot(spark, t).count())
    assert(full.where(col("v") === -1L).count() == 10L)
  }

  test("ReportPipeline: an INC source on a Hudi table pulls by commit token") {
    val s = spark
    import s.implicits._
    val t = tmpDir("pipe-hudi-inc") + "/t"
    HudiTableWriter.create((1 to 40).map(i => (i.toLong, i * 2L)).toDF("id", "v"), t,
      recordKeys = Seq("id")): Unit
    val pipeline = new ReportPipeline(spark, tmpDir("pipe-hudi-inc-cp"))
    val spec = PipelineSpec(Seq(SourceSpec("orders_h", t, LoadMode.Incremental)),
      TransformSpec("SELECT id, v FROM orders_h"))
    assert(pipeline.transform(spec).count() == 40L, "the first pull bootstraps the snapshot")
    pipeline.commitPending()
    HudiTableWriter.upsert((1 to 10).map(i => (i.toLong, -1L)).toDF("id", "v"), t): Unit
    val inc = pipeline.transform(spec)
    assert(inc.count() == 10L && inc.where(col("v") === -1L).count() == 10L)
    assert(pipeline.pendingCommits.map(_._3) == Seq(HudiTableReader.latestInstant(spark, t)))
    pipeline.commitPending()
    assert(pipeline.transform(spec).count() == 0L, "nothing past the committed token")
  }

  test("ReportPipeline.run: FULL + INC sources -> SQL -> CSV -> email + topic") {
    val sender = new LoggingEmailSender
    val notifier = new LoggingNotifier
    val pipeline = new ReportPipeline(spark, tmpDir("graft-pipe-ckpt-"), sender, notifier)
    val spec = PipelineSpec(
      sources = Seq(
        SourceSpec("orders", s"$sfDir/orders.parquet"),
        SourceSpec("customer", s"$sfDir/customer.parquet"),
        SourceSpec("events", s"$sfDir/events.parquet", mode = LoadMode.Incremental, commitColumn = "ts")),
      transform = TransformSpec(
        """SELECT o.o_orderkey, c.c_name
          |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          |WHERE o.o_orderpriority = '1-URGENT'""".stripMargin),
      report = Some(ReportSpec("from@x", "to@x", "Your report", tmpDir("graft-pipe-report-"),
        notifyTopic = Some("graft-reports"))))

    val (result, handle) = pipeline.run(spec)
    assert(result.count() > 0)
    assert(handle.nonEmpty)
    assert(sender.sent.map(_.subject) == Seq("Your report"))
    assert(sender.sent.head.htmlBody.contains(handle.get.url))
    assert(notifier.published.map(_.topic) == Seq("graft-reports"))
    assert(notifier.published.head.message.contains(handle.get.url))
    // INC source registered too: second load yields an empty increment view
    pipeline.loadSources(spec)
    assert(spark.table("events").count() == 0)
  }

  test("quality gate: failing expectation aborts before report/email/watermark") {
    import graft.operators.QualityChecks._
    val sender = new LoggingEmailSender
    val ckpt = tmpDir("graft-pipe-gate-")
    def spec(maxPrice: Double) = PipelineSpec(
      sources = Seq(
        SourceSpec("orders", s"$sfDir/orders.parquet"),
        SourceSpec("events", s"$sfDir/events.parquet", mode = LoadMode.Incremental, commitColumn = "ts")),
      transform = TransformSpec("SELECT o_orderkey, o_totalprice FROM orders"),
      report = Some(ReportSpec("f@x", "t@x", "r", tmpDir("graft-pipe-gate-rep-"))),
      qualityGate = Some(result => Seq(
        notNull(result, "o_orderkey", "key_not_null"),
        inRange(result, "o_totalprice", 0.0, maxPrice, "price_range"))))

    val pipeline = new ReportPipeline(spark, ckpt, sender)
    val e = intercept[QualityGateFailed](pipeline.run(spec(maxPrice = 1.0)))
    assert(e.failures.exists(_.startsWith("price_range=")))
    assert(sender.sent.isEmpty, "no email on a gated run")
    assert(pipeline.pendingCommits.nonEmpty, "watermark must not be persisted")

    // relaxed gate: same checkpoint root still sees the full increment, then ships
    val (result, handle) = new ReportPipeline(spark, ckpt, sender).run(spec(maxPrice = 1e9))
    assert(result.count() > 0 && handle.nonEmpty)
    assert(sender.sent.size == 1)
  }

  test("a failed run leaves checkpoints untouched; the increment replays") {
    val failing = new EmailSender {
      override def send(m: EmailMessage): Boolean = throw new RuntimeException("smtp down")
    }
    val ckpt = tmpDir("graft-pipe-replay-")
    val spec = PipelineSpec(
      sources = Seq(
        SourceSpec("events", s"$sfDir/events.parquet", mode = LoadMode.Incremental, commitColumn = "ts")),
      transform = TransformSpec("SELECT count(*) AS n FROM events"),
      report = Some(ReportSpec("f@x", "t@x", "r", tmpDir("graft-pipe-replay-rep-"))))

    val broken = new ReportPipeline(spark, ckpt, failing)
    intercept[RuntimeException](broken.run(spec))
    assert(broken.pendingCommits.nonEmpty) // watermark pulled but NOT persisted

    // a healthy pipeline over the same checkpoint root sees the FULL increment
    val healthy = new ReportPipeline(spark, ckpt)
    val (result, _) = healthy.run(spec)
    assert(result.head.getLong(0) > 0)
    // and now the watermark is committed: next pull is empty
    healthy.loadSources(spec)
    assert(spark.table("events").count() == 0)
  }
}
