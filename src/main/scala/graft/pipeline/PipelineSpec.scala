package graft.pipeline

/** Declarative pipeline configuration — graft's analog of the
  * reference's `loaders` dict (reference: template.py:471-500).
  *
  * A pipeline is: a list of sources (each FULL snapshot or INC
  * incremental), one SQL transform over the registered views, and a
  * report/notification spec.
  */
sealed trait LoadMode
object LoadMode {
  case object Full extends LoadMode
  case object Incremental extends LoadMode
}

/** One source table.
  *
  * @param tableName  view name the transform SQL refers to
  * @param path       path of the table, in any layout
  *                   [[graft.sources.TableLoader.detectFormat]] knows
  * @param mode       Full snapshot or Incremental-since-checkpoint
  * @param commitColumn for Incremental on a plain parquet directory:
  *                     the monotone commit/event-time column that
  *                     stands in for a lakehouse commit timestamp
  *                     (reference: `_hoodie_commit_time`); a Delta,
  *                     Hudi, Iceberg or graft versioned table pulls by
  *                     its own commit token instead
  */
final case class SourceSpec(
    tableName: String,
    path: String,
    mode: LoadMode = LoadMode.Full,
    commitColumn: String = "ts")

final case class TransformSpec(query: String)

/** Report + notification settings (reference: template.py:492-498).
  * `reportRoot` replaces the S3 bucket; expiry is carried through to
  * the generated download URL token.
  */
final case class ReportSpec(
    senderEmail: String,
    recipientEmail: String,
    subject: String,
    reportRoot: String,
    fileExpiresInSeconds: Long = 86400L,
    notifyTopic: Option[String] = None)

/** Declarative data-quality gate on the transform result: builds the
  * expectation frames (operators.QualityChecks.*) from the result;
  * any failed expectation aborts the run BEFORE the report is written
  * or watermarks advance — a bad increment replays after the fix
  * instead of shipping a bad report.
  */
final case class PipelineSpec(
    sources: Seq[SourceSpec],
    transform: TransformSpec,
    report: Option[ReportSpec] = None,
    qualityGate: Option[org.apache.spark.sql.DataFrame => Seq[org.apache.spark.sql.DataFrame]] = None)

/** Raised when the quality gate rejects a run; carries one
  * `name=violations` entry per failed expectation.
  */
final class QualityGateFailed(val failures: Seq[String])
  extends RuntimeException(s"quality gate failed: ${failures.mkString(", ")}")
