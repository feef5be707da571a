package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.catalyst.json.{JSONOptions, JacksonGenerator}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, FileFormat}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

import java.io.{ByteArrayOutputStream, OutputStreamWriter, Writer}
import java.nio.charset.{Charset, StandardCharsets}
import java.time.{Instant, LocalDate, ZoneOffset}
import java.util.UUID

/** Single-file report sink with a date-partitioned layout and a
  * download-URL token — the graft analog of the reference's pandas→S3
  * CSV upload + presigned URL (reference: template.py:451-467).
  *
  * Layout matches the reference:
  * `<root>/reports/year=Y/month=M/day=D/<uuid>.<ext>`.
  *
  * The frame's own physical plan runs once, in parallel. For CSV and
  * JSON lines every task encodes its partition with Spark's own
  * generator (options built as the formats' `prepareWrite` builds
  * them), so the file's bytes are what Spark's sink writes; the driver
  * appends the chunks in partition order, so an ORDER BY keeps its
  * order. ORC and Parquet cannot be concatenated: the driver writes the
  * collected rows through the format's own `OutputWriterFactory`.
  * Every format lands the same way: a hidden temp file beside the
  * target, closed, then renamed — no commit protocol, no staging
  * directory, nothing at the target key if the query fails.
  *
  * A report is human-sized by construction (the reference funnels it
  * through `toPandas()`): all of it passes through the driver, and a
  * result larger than `spark.driver.maxResultSize` fails the job.
  */
final case class ReportHandle(path: String, url: String, expiresAt: Instant)

class ReportWriter(reportRoot: String, clock: () => Instant = () => Instant.now()) {

  def datedKey(today: LocalDate, id: UUID, ext: String = "csv"): String =
    s"reports/year=${today.getYear}/month=${today.getMonthValue}/day=${today.getDayOfMonth}/$id.$ext"

  /** Write `df` as a one-file report; returns the path plus a
    * file://-scheme download URL with an expiry timestamp — the
    * local-FS stand-in for a presigned URL (the expiry is carried in
    * the handle; enforcement belongs to whatever serves the file).
    * `format` is `csv` (with a header), `json` (JSON lines: one object
    * per row, self-describing), or the columnar handoffs `orc` and
    * `parquet` — not for the emailed link, for the downstream system
    * the report also lands in.
    */
  def write(df: DataFrame, expiresInSeconds: Long = 86400L,
      format: String = "csv", digestManifest: Boolean = false): ReportHandle = {
    val fileFormat: FileFormat = format match {
      case "csv" => new CSVFileFormat
      case "json" => new JsonFileFormat
      case "orc" => new OrcFileFormat
      case "parquet" => new ParquetFileFormat
      case _ => throw new IllegalArgumentException(s"unsupported report format: $format")
    }
    val spark = df.sparkSession
    val conf = spark.sessionState.conf
    val schema = df.schema
    // the refusals Spark's file writer makes before it writes
    DataSourceUtils.verifySchema(fileFormat, schema)
    DataSourceUtils.checkFieldNames(fileFormat, schema)

    val now = clock()
    val key = datedKey(LocalDate.ofInstant(now, ZoneOffset.UTC), UUID.randomUUID(), ext = format)
    val path = s"$reportRoot/$key"
    val target = new Path(path)
    val tmp = new Path(target.getParent, s".${target.getName}.tmp")
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fs = target.getFileSystem(hadoopConf)
    val qe = df.queryExecution
    val sc = spark.sparkContext

    def land(chunks: Array[Array[Byte]]): Unit = {
      val out = fs.create(tmp)
      try chunks.foreach(out.write(_)) finally out.close()
    }
    try {
      SQLExecution.withNewExecutionId(qe, Some("report")) {
        fileFormat match {
          case _: CSVFileFormat =>
            val o = new CSVOptions(Map("header" -> "true"), conf.csvColumnPruning,
              conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
            val header = ReportWriter.csv(schema, o, header = true)(Iterator.empty)
            land(header +: sc.runJob(qe.toRdd, ReportWriter.csv(schema, o, header = false) _))
          case _: JsonFileFormat =>
            val o = new JSONOptions(Map.empty[String, String], conf.sessionLocalTimeZone,
              conf.columnNameOfCorruptRecord)
            land(sc.runJob(qe.toRdd, ReportWriter.json(schema, o) _))
          case columnar =>
            val rows = qe.executedPlan.executeCollect()
            val job = Job.getInstance(hadoopConf)
            val factory = columnar.prepareWrite(spark, job, Map.empty, schema)
            val ctx = new TaskAttemptContextImpl(job.getConfiguration,
              new TaskAttemptID("report", 0, TaskType.MAP, 0, 0))
            val writer = factory.newInstance(tmp.toString, schema, ctx)
            try rows.foreach(writer.write) finally writer.close()
        }
      }
      if (!fs.rename(tmp, target)) throw new java.io.IOException(s"failed to land $tmp as $target")
    } catch { case e: Throwable => fs.delete(tmp, false); throw e }

    if (digestManifest) writeDigestManifest(df, path)
    ReportHandle(path, s"file://$path", now.plusSeconds(expiresInSeconds))
  }

  /** Integrity manifest beside the report: `<report>.digest.json`
    * with the row count and the order-independent content digest
    * (Σ fnv64 of the canonical row string mod 2⁶³ —
    * [[graft.operators.Profiler.contentDigest]]). A downstream
    * consumer recomputes the digest over what it received and
    * compares two numbers instead of re-shipping rows — the same
    * anti-entropy primitive the table layer uses, applied to the
    * delivery edge. Canonical string = all columns cast to string in
    * schema order, US-separated; nulls hash as empty (concat_ws
    * skips them), which is part of the documented contract.
    */
  def writeDigestManifest(df: DataFrame, reportPath: String): Unit = {
    val (n, d) = digestOf(df)
    val manifest = s"""{"n_rows": $n, "digest": $d}"""
    val p = new Path(s"$reportPath.digest.json")
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(manifest.getBytes("UTF-8")) finally out.close()
  }

  /** Recompute and check a report's digest manifest against `df`
    * (what a consumer read back). True iff both row count and digest
    * match.
    */
  def verifyDigest(df: DataFrame, reportPath: String): Boolean = {
    val p = new Path(s"$reportPath.digest.json")
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val manifest =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val Pattern = """\{"n_rows": (\d+), "digest": (-?\d+)\}""".r
    manifest match {
      case Pattern(n, d) => digestOf(df) == ((n.toLong, d.toLong))
      case _ => false
    }
  }

  /** (row count, content digest) of `df` over the canonical row string. */
  private def digestOf(df: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.functions.{col, concat_ws, lit}
    val canonical = concat_ws("\u001f", df.columns.map(c => col(c).cast("string")).toIndexedSeq: _*)
    val row = graft.operators.Profiler
      .contentDigest(df.withColumn("_g", lit(1)), Seq("_g"), canonical)
      .collect()
    if (row.isEmpty) (0L, 0L) else (row(0).getLong(1), row(0).getLong(2))
  }
}

/** The task-side encoders: each turns one partition into the bytes the
  * format's own `OutputWriter` would write for it (`CsvOutputWriter`,
  * `JsonOutputWriter`). They live here, not in the class, so the
  * closures Spark ships carry only the schema and the options.
  */
private object ReportWriter {
  def csv(schema: StructType, options: CSVOptions, header: Boolean)(rows: Iterator[InternalRow]): Array[Byte] =
    encoded(Charset.forName(options.charset)) { w =>
      val gen = new UnivocityGenerator(schema, w, options)
      if (header) gen.writeHeaders()
      rows.foreach(gen.write)
      gen.close()
    }

  def json(schema: StructType, options: JSONOptions)(rows: Iterator[InternalRow]): Array[Byte] =
    encoded(options.encoding.map(Charset.forName).getOrElse(StandardCharsets.UTF_8)) { w =>
      val gen = new JacksonGenerator(schema, w, options)
      rows.foreach { r => gen.write(r); gen.writeLineEnding() }
      gen.close()
    }

  private def encoded(charset: Charset)(body: Writer => Unit): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val w = new OutputStreamWriter(bytes, charset)
    body(w)
    w.close()
    bytes.toByteArray
  }
}
