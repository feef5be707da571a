package graft.pipeline

import graft.sources.{CheckpointStore, IncrementalReader, TableLoader}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The end-to-end report pipeline: load sources (FULL or INC) as temp
  * views, run the transform SQL, write the CSV report, render + send
  * the notification email — graft's analog of the reference's
  * `load_hudi_tables` + `main` orchestration
  * (reference: template.py:297-322, 470-516).
  */
class ReportPipeline(
    spark: SparkSession,
    checkpointRoot: String,
    emailSender: EmailSender = new LoggingEmailSender,
    notifier: Notifier = new LoggingNotifier) {

  private lazy val store = new CheckpointStore(checkpointRoot, spark.sparkContext.hadoopConfiguration)
  private lazy val incremental = new IncrementalReader(spark, store)

  /** Watermarks pulled but not yet persisted — committed by `run`
    * AFTER the report is written, so a failed run replays its
    * increment instead of silently dropping it (at-least-once).
    */
  @volatile private var pending: Seq[(String, String, String)] = Nil
  def pendingCommits: Seq[(String, String, String)] = pending

  /** Persist the watermarks of the last `loadSources`/`transform`.
    * Call after the increment has been durably processed.
    */
  def commitPending(): Unit = this.synchronized {
    pending.foreach { case (table, path, wm) => incremental.commit(table, path, wm) }
    pending = Nil
  }

  /** Register every source as a temp view (reference: template.py:300-317).
    * A FULL source is the table's snapshot through [[TableLoader.open]],
    * whatever its layout. An INC source on a table format pulls since
    * its stored commit token ([[TableLoader.pullIncremental]]); on a
    * plain parquet directory it filters on its commit column
    * ([[IncrementalReader.pull]]). Checkpoints are NOT advanced here —
    * they accumulate in `pendingCommits` until `commitPending()` (which
    * `run` invokes after the report write succeeds).
    */
  def loadSources(spec: PipelineSpec): Unit = this.synchronized {
    val commits = Seq.newBuilder[(String, String, String)]
    spec.sources.foreach { src =>
      // Pipeline convention: a LONG commit column is epoch nanos and is
      // presented to the transform SQL as TIMESTAMP_NTZ. The
      // incremental filter runs on the raw column (pushed to the scan)
      // BEFORE this normalization.
      val df: DataFrame = src.mode match {
        case LoadMode.Full => TableLoader.open(spark, src.path)
        case LoadMode.Incremental
            if TableLoader.detectFormat(spark, src.path) != TableLoader.PlainParquet =>
          TableLoader.pullIncremental(spark, src.path, src.tableName, store) match {
            case Some((inc, token)) =>
              commits += ((src.tableName, src.path, token))
              inc
            // not advanced past the checkpoint: an empty increment
            case None => TableLoader.open(spark, src.path).limit(0)
          }
        case LoadMode.Incremental =>
          val (inc, wm) = incremental.pull(src.tableName, src.path, src.commitColumn)
          wm.foreach(w => commits += ((src.tableName, src.path, w)))
          inc
      }
      TableLoader.normalizeNanos(df, src.commitColumn)
        .createOrReplaceTempView(src.tableName)
    }
    pending = commits.result()
  }

  /** Run the transform SQL over the registered views. The caller owns
    * `commitPending()` when consuming increments directly.
    */
  def transform(spec: PipelineSpec): DataFrame = {
    loadSources(spec)
    spark.sql(spec.transform.query)
  }

  /** Full run: transform → CSV report → download URL → email, plus an
    * optional topic notification (the reference's "SNS OR SES" — both
    * channels carry the download link). Returns the result DataFrame
    * and the report handle.
    */
  def run(spec: PipelineSpec): (DataFrame, Option[ReportHandle]) = this.synchronized {
    val result = transform(spec)
    // Gate before anything is materialized: the verdict table is
    // O(expectations) rows, so the collect is bounded by config size.
    spec.qualityGate.foreach { gate =>
      val verdicts = graft.operators.QualityChecks.run(gate(result)).collect()
      val failed = verdicts.filterNot(_.getAs[Boolean]("passed"))
        .map(r => s"${r.getString(0)}=${r.getLong(1)}")
      if (failed.nonEmpty) throw new QualityGateFailed(failed.toSeq)
    }
    val handle = spec.report.map { rs =>
      val writer = new ReportWriter(rs.reportRoot)
      val h = writer.write(result, rs.fileExpiresInSeconds)
      emailSender.send(EmailMessage(
        sender = rs.senderEmail,
        recipient = rs.recipientEmail,
        subject = rs.subject,
        htmlBody = DownloadReportEmailTemplate(h.url).render()))
      rs.notifyTopic.foreach { topic =>
        notifier.publish(Notification(topic, rs.subject,
          s"Report ready: ${h.url} (expires ${h.expiresAt})"))
      }
      h
    }
    // Watermarks advance only after the report is durably written — a
    // failure above leaves the checkpoints untouched and the next run
    // replays the increment (at-least-once; the reference's own order
    // is advance-on-read, i.e. at-most-once). With no report spec,
    // nothing was materialized here, so the CALLER owns
    // commitPending() after consuming the returned DataFrame.
    if (spec.report.nonEmpty) commitPending()
    (result, handle)
  }
}
