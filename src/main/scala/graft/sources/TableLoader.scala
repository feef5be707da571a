package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Snapshot ("FULL") table loading — the graft analog of the
  * reference's full Hudi load → temp view
  * (reference: template.py:304-305).
  *
  * Tables are parquet under `dir/<name>.parquet`. Loading is lazy and
  * declarative: Catalyst pushes filters/projections from downstream
  * operators into the scan, so registering every table in a pipeline
  * spec costs nothing until the transform actually reads it.
  */
object TableLoader {

  /** Read one table as a DataFrame. Nanosecond parquet timestamps
    * (which Spark reads as raw longs under
    * `spark.sql.legacy.parquet.nanosAsLong=true`) are normalized to
    * TIMESTAMP_NTZ at microsecond precision — the testdata `events.ts`
    * values are micro-aligned, so the narrowing is lossless.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(probedSchema(spark, path)).parquet(path)
    if (name == "events") normalizeNanos(df, "ts") else df
  }

  /** Footer schema probe, cached per (path, content fingerprint) —
    * what `table()` and [[graft.streaming.EventStream]]'s stream
    * sources open their scans with: without it EVERY load pays a
    * one-task schema-inference job before the real scan, a fixed
    * ~40-60 ms tax × ~400 loads per bench pass (r9 bench). One FS
    * listing (no footer I/O) fingerprints the content, so a rewritten
    * or grown path re-probes while repeat loads of the same bytes hit
    * the cache. The schema still always comes from the files' own
    * footers — this caches METADATA of an unchanged input, never
    * query results.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private[graft] def probedSchema(spark: SparkSession,
      path: String): org.apache.spark.sql.types.StructType = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val statuses = if (st.isDirectory) fs.listStatus(p).toSeq else Seq(st)
    val fp = statuses
      .map(s => s"${s.getPath.getName}@${s.getModificationTime}:${s.getLen}")
      .sorted.mkString(";")
    schemaCache.computeIfAbsent(s"$path|$fp", _ => spark.read.parquet(path).schema)
  }

  /** Convert a raw nanos-since-epoch long column into TIMESTAMP_NTZ.
    * Integer `div` (not `/`) — epoch nanos exceed 2^53 and would lose
    * precision through a double.
    */
  def normalizeNanos(df: DataFrame, column: String): DataFrame =
    if (df.schema.fieldNames.contains(column) && df.schema(column).dataType == LongType)
      df.withColumn(column, timestamp_micros(expr(s"$column div 1000")).cast("timestamp_ntz"))
    else df

  /** Epoch nanos of a UTC wall-clock timestamp string — for pushing a
    * timestamp watermark down onto a RAW nanos-long column (a filter
    * on the normalized column is post-scan; a filter on the raw long
    * reaches the parquet reader as a pushed predicate).
    */
  def toEpochNanos(timestamp: String): Long = {
    val t = java.time.LocalDateTime.parse(timestamp.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC)
    t.getEpochSecond * 1000000000L + t.getNano
  }

  /** Read a table and register it as a temp view under its own name,
    * mirroring the reference's `createOrReplaceTempView(table_name)`.
    */
  def register(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = table(spark, dir, name)
    df.createOrReplaceTempView(name)
    df
  }

  /** Commit-metadata keys carrying an exactly-once stream sink's
    * (app-id, batch-id) watermark where the format keeps a free-form
    * map beside each commit: the Iceberg snapshot summary (the
    * Flink-connector pattern) and the Hudi commit's `extraMetadata`
    * (the deltastreamer checkpoint pattern). Delta carries the same
    * pair as a protocol `txn` action instead.
    */
  val SinkAppKey = "graft.sink.app-id"
  val SinkBatchKey = "graft.sink.batch-id"

  /** The watermark entries of one sink transaction (none without one). */
  private[sources] def sinkWatermark(transaction: Option[(String, Long)]): Map[String, String] =
    transaction.fold(Map.empty[String, String]) { case (appId, batchId) =>
      Map(SinkAppKey -> appId, SinkBatchKey -> batchId.toString)
    }

  /** The on-disk layout of a table directory ([[detectFormat]]) and
    * the operations it serves. Tokens are format-native: graft/Delta a
    * version number, Hudi an instant time, Iceberg a snapshot id. An
    * operation a layout cannot serve refuses with one message per
    * operation, naming the layout.
    */
  sealed trait TableFormat {

    /** How a refusal names a table of this layout. */
    protected def label: String

    protected def refuse(path: String, why: String): Nothing =
      throw new IllegalArgumentException(s"$path is $label — $why")

    private def bindsToNames(path: String, op: String): Nothing =
      throw new IllegalArgumentException(
        s"$path ($this): data files bind to column NAMES in this layout — a $op is a " +
          "table rewrite, not a metadata commit; refusing")

    /** The snapshot ("FULL") read. */
    def snapshot(spark: SparkSession, path: String): DataFrame

    /** The table as of a token. */
    def asOf(spark: SparkSession, path: String, token: String): DataFrame =
      refuse(path, "no commit log to time-travel")

    /** The head token a checkpointed consumer records. */
    def latestToken(spark: SparkSession, path: String): String =
      refuse(path, "no commit log, no token")

    /** The append-scoped increment since a token. */
    def incremental(spark: SparkSession, path: String, since: String): DataFrame =
      refuse(path, "no commit log to read incrementally")

    /** The CDC-grade change feed since a token. */
    def changeFeed(spark: SparkSession, path: String, since: String): DataFrame =
      refuse(path, "no commit log to read a change feed from")

    /** One checkpointed pull ([[pullIncremental]]): the snapshot when
      * `since` is empty, None when the head is `since`, else the
      * increment up to the returned head token. */
    def pull(spark: SparkSession, path: String,
        since: Option[String]): Option[(DataFrame, String)] =
      pullFrom(latestToken(spark, path), since, snapshot(spark, path),
        incremental(spark, path, _), changeFeed(spark, path, _))

    /** Merge `df` on `keys`; returns the new head token. */
    def upsert(df: DataFrame, path: String, keys: Seq[String]): String =
      refuse(path, "no merge contract to upsert against " +
        "(write through one of the table formats)")

    /** Land `df` as a NEW table at `path` (each writer refuses an
      * existing one), stamping `transaction`'s sink watermark. */
    def create(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
        recordKeys: Seq[String] = Nil, transaction: Option[(String, Long)] = None): Unit

    def renameColumn(spark: SparkSession, path: String, from: String, to: String): Unit =
      bindsToNames(path, "rename")

    def dropColumn(spark: SparkSession, path: String, column: String): Unit =
      bindsToNames(path, "drop")

    /** The highest stream batch id `appId` committed into the table. */
    def lastBatchId(spark: SparkSession, path: String, appId: String): Option[Long] =
      refuse(path, NoWatermark)

    /** Append `df` as one commit carrying the sink watermark `transaction`. */
    def append(df: DataFrame, path: String, transaction: (String, Long)): Unit =
      refuse(path, NoWatermark)

    protected def noWatermark(path: String, transaction: Option[(String, Long)]): Unit =
      if (transaction.nonEmpty) refuse(path, NoWatermark)
  }

  private val NoWatermark = "no commit metadata to carry a stream batch watermark"

  /** A non-numeric Delta/Iceberg as-of token `ts:<epoch-millis>`. */
  private def timestampToken(token: String): Option[Long] =
    if (token.startsWith("ts:")) Some(token.stripPrefix("ts:").toLong) else None

  /** graft's own versioned layout: key-aware, so its increment IS a
    * change feed. Every upsert commit declares its record keys in the
    * commit metadata ([[UpsertWriter.RecordKeysKey]]), and the feed
    * between the checkpoint version and the head is
    * [[graft.operators.SnapshotDiff.changeFeed]] — pre/post images
    * with a `change_type` column. A table written before keys were
    * declared (or by the raw commitVersion services) refuses with
    * directions instead of guessing keys.
    */
  case object GraftVersioned extends TableFormat {
    protected def label = "a graft versioned table"
    def snapshot(spark: SparkSession, path: String): DataFrame = UpsertWriter.read(spark, path)
    override def asOf(spark: SparkSession, path: String, token: String): DataFrame =
      UpsertWriter.readVersion(spark, path, token.toInt)
    override def latestToken(spark: SparkSession, path: String): String =
      UpsertWriter.versions(spark, path).max.toString
    override def incremental(spark: SparkSession, path: String, since: String): DataFrame = {
      val keys = UpsertWriter.readMeta(spark, path).get(UpsertWriter.RecordKeysKey)
        .map(_.split(",").toSeq.filter(_.nonEmpty))
        .getOrElse(throw new IllegalArgumentException(
          s"$path declares no ${UpsertWriter.RecordKeysKey} in its commit metadata — " +
            "re-commit through UpsertWriter.upsert, or call " +
            "SnapshotDiff.changeFeed(readVersion(v), read(latest), keys) with explicit keys"))
      graft.operators.SnapshotDiff.changeFeed(
        UpsertWriter.readVersion(spark, path, since.toInt),
        UpsertWriter.read(spark, path),
        keys)
    }
    override def changeFeed(spark: SparkSession, path: String, since: String): DataFrame =
      incremental(spark, path, since)
    override def upsert(df: DataFrame, path: String, keys: Seq[String]): String = {
      UpsertWriter.upsert(df, path, keys, precombine = df.columns.head)
      latestToken(df.sparkSession, path)
    }
    def create(df: DataFrame, path: String, partitionBy: Seq[String],
        recordKeys: Seq[String], transaction: Option[(String, Long)]): Unit = {
      noWatermark(path, transaction)
      require(recordKeys.nonEmpty,
        "a graft versioned table needs record keys for its upsert commit")
      UpsertWriter.upsert(df, path, recordKeys, precombine = df.columns.head): Unit
    }
  }

  /** Delta: column RENAME/DROP are metadata commits under column
    * mapping, and the stream watermark is the protocol's own `txn`
    * action ([[DeltaTableReader.lastTransactionVersion]]). */
  case object DeltaFormat extends TableFormat {
    protected def label = "a Delta table"
    def snapshot(spark: SparkSession, path: String): DataFrame =
      DeltaTableReader.snapshot(spark, path)
    override def asOf(spark: SparkSession, path: String, token: String): DataFrame =
      timestampToken(token).fold(DeltaTableReader.snapshotAsOf(spark, path, token.toLong))(
        DeltaTableReader.snapshotAsOfTimestamp(spark, path, _))
    override def latestToken(spark: SparkSession, path: String): String =
      DeltaTableReader.latestVersion(spark, path).toString
    override def incremental(spark: SparkSession, path: String, since: String): DataFrame =
      DeltaTableReader.incrementalSince(spark, path, since.toLong)
    override def changeFeed(spark: SparkSession, path: String, since: String): DataFrame =
      DeltaTableReader.changeFeedSince(spark, path, since.toLong)
    override def upsert(df: DataFrame, path: String, keys: Seq[String]): String =
      DeltaTableWriter.upsert(df, path, keys).toString
    def create(df: DataFrame, path: String, partitionBy: Seq[String],
        recordKeys: Seq[String], transaction: Option[(String, Long)]): Unit =
      DeltaTableWriter.create(df, path, partitionBy, transaction = transaction): Unit
    override def renameColumn(spark: SparkSession, path: String, from: String,
        to: String): Unit = DeltaTableWriter.renameColumn(spark, path, from, to): Unit
    override def dropColumn(spark: SparkSession, path: String, column: String): Unit =
      DeltaTableWriter.dropColumn(spark, path, column): Unit
    override def lastBatchId(spark: SparkSession, path: String, appId: String): Option[Long] =
      DeltaTableReader.lastTransactionVersion(spark, path, appId)
    override def append(df: DataFrame, path: String, transaction: (String, Long)): Unit =
      DeltaTableWriter.append(df, path, transaction = Some(transaction)): Unit
  }

  /** Hudi: each operation loads `.hoodie` once ([[HudiTimeline.load]])
    * and reads everything it needs from that value. The table declares
    * its OWN record keys: an upsert keyed otherwise refuses. A plain
    * COW timeline carries no delete images, so its change feed refuses
    * ([[HudiTableReader.changeFeedSince]]).
    */
  case object HudiFormat extends TableFormat {
    protected def label = "a Hudi table"
    def snapshot(spark: SparkSession, path: String): DataFrame =
      HudiTableReader.snapshot(spark, path)
    override def asOf(spark: SparkSession, path: String, token: String): DataFrame =
      HudiTableReader.snapshotAsOf(spark, path, token)
    override def latestToken(spark: SparkSession, path: String): String =
      HudiTableReader.latestInstant(spark, path)
    override def incremental(spark: SparkSession, path: String, since: String): DataFrame =
      HudiTableReader.incrementalSince(spark, path, since)
    override def changeFeed(spark: SparkSession, path: String, since: String): DataFrame =
      HudiTableReader.changeFeedSince(spark, path, since)

    /** Head and increment come from one timeline, so the increment
      * ends exactly at the returned token. */
    override def pull(spark: SparkSession, path: String,
        since: Option[String]): Option[(DataFrame, String)] = {
      val tl = HudiTimeline.load(spark, path)
      pullFrom(tl.head, since, HudiTableReader.snapshot(tl),
        HudiTableReader.incrementalSince(tl, _), HudiTableReader.changeFeedSince(tl, _))
    }

    override def upsert(df: DataFrame, path: String, keys: Seq[String]): String = {
      val tl = HudiTimeline.load(df.sparkSession, path)
      val declared = HudiTableWriter.recordKeysOf(tl.properties)
      require(declared == keys,
        s"$path declares hoodie.table.recordkey.fields=${declared.mkString(",")} but " +
          s"the dispatch was asked to key on ${keys.mkString(",")} — the table " +
          "property wins; drop the disagreement")
      HudiTableWriter.upsert(tl, df, HudiTableWriter.MaxBroadcastUpsertKeys)
    }
    def create(df: DataFrame, path: String, partitionBy: Seq[String],
        recordKeys: Seq[String], transaction: Option[(String, Long)]): Unit =
      HudiTableWriter.create(df, path, recordKeys = recordKeys, partitionBy = partitionBy,
        transaction = transaction): Unit
    override def lastBatchId(spark: SparkSession, path: String, appId: String): Option[Long] =
      HudiTableWriter.lastBatchId(spark, path, appId)
    override def append(df: DataFrame, path: String, transaction: (String, Long)): Unit =
      HudiTableWriter.append(df, path, transaction = Some(transaction)): Unit
  }

  /** Iceberg: a non-numeric as-of token is a NAMED REF (branch/tag);
    * column RENAME/DROP are metadata commits (files bind to field
    * ids); the stream watermark rides the snapshot summary. */
  case object IcebergFormat extends TableFormat {
    protected def label = "an Iceberg table"
    def snapshot(spark: SparkSession, path: String): DataFrame =
      IcebergTableReader.snapshot(spark, path)
    override def asOf(spark: SparkSession, path: String, token: String): DataFrame =
      timestampToken(token).map(IcebergTableReader.snapshotAsOfTimestamp(spark, path, _))
        .getOrElse(
          if (token.forall(_.isDigit)) IcebergTableReader.snapshotAsOf(spark, path, token.toLong)
          else IcebergTableReader.snapshotAsOfRef(spark, path, token))
    override def latestToken(spark: SparkSession, path: String): String =
      IcebergTableReader.snapshotLog(spark, path)._2.toString
    override def incremental(spark: SparkSession, path: String, since: String): DataFrame =
      IcebergTableReader.incrementalSince(spark, path, since.toLong)
    override def changeFeed(spark: SparkSession, path: String, since: String): DataFrame =
      IcebergTableReader.changeFeedSince(spark, path, since.toLong)
    override def upsert(df: DataFrame, path: String, keys: Seq[String]): String =
      IcebergTableWriter.upsert(df, path, keys).toString
    def create(df: DataFrame, path: String, partitionBy: Seq[String],
        recordKeys: Seq[String], transaction: Option[(String, Long)]): Unit =
      IcebergTableWriter.create(df, path, partitionBy, transaction = transaction): Unit
    override def renameColumn(spark: SparkSession, path: String, from: String,
        to: String): Unit = IcebergTableWriter.renameColumn(spark, path, from, to)
    override def dropColumn(spark: SparkSession, path: String, column: String): Unit =
      IcebergTableWriter.dropColumn(spark, path, column)
    override def lastBatchId(spark: SparkSession, path: String, appId: String): Option[Long] =
      IcebergTableWriter.lastBatchId(spark, path, appId)
    override def append(df: DataFrame, path: String, transaction: (String, Long)): Unit =
      IcebergTableWriter.append(df, path, transaction = Some(transaction)): Unit
  }

  /** A directory of parquet files: a snapshot and nothing else. */
  case object PlainParquet extends TableFormat {
    protected def label = "a plain parquet directory"
    def snapshot(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)
    def create(df: DataFrame, path: String, partitionBy: Seq[String],
        recordKeys: Seq[String], transaction: Option[(String, Long)]): Unit = {
      noWatermark(path, transaction)
      df.write.parquet(path)
    }
  }

  /** The checkpointed pull over one format's head, snapshot, increment
    * and change feed. A range containing ROW-CHANGING commits makes
    * the append-scoped increment refuse with
    * [[AppendScopedRangeException]]; the pull follows that refusal to
    * the change feed. */
  private def pullFrom(head: String, since: Option[String], snapshot: => DataFrame,
      incremental: String => DataFrame,
      changeFeed: String => DataFrame): Option[(DataFrame, String)] =
    since match {
      case None => Some((snapshot, head))
      case Some(cp) if cp == head => None
      case Some(cp) =>
        val inc =
          try incremental(cp)
          catch { case _: AppendScopedRangeException => changeFeed(cp) }
        Some((inc, head))
    }

  /** Detect the layout of `path` from its on-disk markers — each
    * format's own self-identification: graft's `vNNNNNNNN` commit
    * dirs, Delta's `_delta_log`, Hudi's `.hoodie`, Iceberg's
    * `metadata` dir holding `.metadata.json` files; anything else
    * (a missing path included) is a plain parquet directory. Pure FS
    * metadata, no data I/O. The one place that decides a path's
    * format: every dispatch below, and the stream sink, ask it.
    */
  def detectFormat(spark: SparkSession, path: String): TableFormat = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(child: String) = fs.exists(new org.apache.hadoop.fs.Path(p, child))
    if (exists("_delta_log")) DeltaFormat
    else if (exists(".hoodie")) HudiFormat
    else if (exists("metadata") &&
        fs.listStatus(new org.apache.hadoop.fs.Path(p, "metadata"))
          .exists(_.getPath.getName.endsWith(".metadata.json"))) IcebergFormat
    else if (fs.exists(p) && fs.listStatus(p).exists(st =>
        st.isDirectory && st.getPath.getName.matches("v\\d{8}"))) GraftVersioned
    else PlainParquet
  }

  /** "Point the engine at an EXISTING table" — the reference's whole
    * entry point (template.py:207-217), format-agnostic: detect the
    * layout and snapshot-read it through the matching adapter. A user
    * of the reference switches by changing nothing but the path.
    */
  def open(spark: SparkSession, path: String): DataFrame =
    detectFormat(spark, path).snapshot(spark, path)

  /** Format-agnostic column RENAME — a metadata commit on the
    * formats whose files decouple from logical names (Iceberg field
    * ids; Delta column mapping). Formats where files BIND to names
    * (Hudi, graft versioned, plain parquet) refuse loudly: there a
    * rename is a table rewrite, and pretending otherwise would
    * null-fill the column.
    */
  def renameColumn(spark: SparkSession, path: String, from: String, to: String): Unit =
    detectFormat(spark, path).renameColumn(spark, path, from, to)

  /** Format-agnostic column DROP — same dispatch rule as
    * [[renameColumn]]: metadata-only where the format supports it,
    * loud refusal where the files bind to names. */
  def dropColumn(spark: SparkSession, path: String, column: String): Unit =
    detectFormat(spark, path).dropColumn(spark, path, column)

  /** Format-agnostic INCREMENTAL read since a format-native
    * checkpoint token. The append-scoped refusal contracts of each
    * adapter apply unchanged; graft versioned tables serve their full
    * CDC feed ([[GraftVersioned]]), the richest contract of the four
    * (graft holds both snapshots; the foreign formats only expose
    * their append logs).
    */
  def openIncremental(spark: SparkSession, path: String, since: String): DataFrame =
    detectFormat(spark, path).incremental(spark, path, since)

  /** Format-agnostic CDC-grade incremental open: the CHANGE FEED
    * since a format-native token, for consumers that must survive
    * upserts/deletes in the range (the append-scoped
    * [[openIncremental]] refuses those, by contract). graft versioned
    * tables serve pre/post images keyed by their declared record
    * keys; Delta serves the protocol's CDF (explicit cdc actions
    * verbatim, DV diffs reconstructed); Iceberg serves inserts +
    * position-delete pre-images + equality-delete key-images; Hudi
    * MOR serves upsert post-images + DELETE KEY-IMAGES, a cdc-enabled
    * Hudi COW table its landed images, and a plain Hudi COW table
    * refuses toward [[openIncremental]] ([[HudiFormat]]).
    */
  def openChangeFeed(spark: SparkSession, path: String, since: String): DataFrame =
    detectFormat(spark, path).changeFeed(spark, path, since)

  /** Format-agnostic TIME TRAVEL: read the table as of a
    * format-native token — graft/Delta: a version number; Iceberg: a
    * snapshot id, a named ref, or a `ts:<epoch-millis>` timestamp
    * token resolved from the snapshot log's `timestamp-ms` (Delta
    * takes the same token off commit-file mtimes); Hudi: an instant
    * time string. Each adapter's refusal contract (expired snapshots,
    * cleaned logs, pre-history instants) applies unchanged.
    */
  def openAsOf(spark: SparkSession, path: String, token: String): DataFrame =
    detectFormat(spark, path).asOf(spark, path, token)

  /** Latest commit token of a table, per its format — the head a
    * checkpointed consumer records after processing: graft/Delta a
    * version number, Hudi an instant time, Iceberg a snapshot id.
    */
  def latestToken(spark: SparkSession, path: String): String =
    detectFormat(spark, path).latestToken(spark, path)

  /** The reference's CHECKPOINTED CONSUMER loop (template.py:226-281),
    * format-agnostic and AT-LEAST-ONCE: read the stored token, pull
    * everything since it (first run bootstraps with the FULL
    * snapshot), and return the increment plus the head token the
    * caller commits AFTER materializing — via [[commitToken]] — so a
    * crash between pull and commit re-delivers, never skips. Returns
    * None when the table has not advanced past the checkpoint.
    *
    * Hudi takes the head and the increment from one timeline read, so
    * its increment ends exactly at the returned token. graft
    * versioned, Delta and Iceberg read the head first and the
    * increment after it: a write racing between the two can deliver
    * rows past the returned token, and they re-deliver on the next
    * pull — the documented at-least-once duplicates, same as
    * [[IncrementalReader.pull]].
    *
    * A range containing ROW-CHANGING commits (a mid-range
    * overwrite/delete — every production table eventually commits
    * one) makes the append-scoped pull refuse with
    * [[AppendScopedRangeException]]; the consumer AUTO-FOLLOWS that
    * refusal to the CDC-grade [[openChangeFeed]] instead of dying.
    * The increment then carries a `_change_type` column — the
    * explicit marker downstream uses to apply deletes/updates rather
    * than blind-appending (which would be wrong across an overwrite
    * no matter what this method returned). Formats with no CDC feed
    * to fall back to (Hudi COW without cdc.enabled) keep the loud
    * refusal.
    */
  def pullIncremental(spark: SparkSession, path: String, tableName: String,
      store: CheckpointStore): Option[(DataFrame, String)] =
    detectFormat(spark, path).pull(spark, path, store.read(tableName).map(_.lastProcessedCommit))

  /** Persist a processed token — AFTER materializing the increment. */
  def commitToken(path: String, tableName: String, store: CheckpointStore,
      token: String): Unit =
    store.write(Checkpoint(tableName, token, path))

  /** Format-agnostic UPSERT (merge) dispatch: land `df` into the
    * table at `path` keyed on `keys`, through whatever writer the
    * layout selects — graft versioned upsert, Delta DV-mask+append,
    * Hudi COW file-group rewrite, Iceberg equality-delete snapshot.
    * Hudi tables declare their OWN record keys; a `keys` argument
    * disagreeing with the declaration refuses (the table property
    * wins, same contract as the append). Returns the new head token
    * (the same token [[latestToken]]/[[pullIncremental]] speak).
    * Plain parquet refuses — a directory of files has no merge
    * contract.
    */
  def upsert(df: DataFrame, path: String, keys: Seq[String]): String = {
    require(keys.nonEmpty, s"$path: upsert needs at least one key column")
    detectFormat(df.sparkSession, path).upsert(df, path, keys)
  }

  /** Publish ICEBERG METADATA over an existing DELTA table's data
    * files — the UniForm shape: ONE copy of the data readable by both
    * formats' engines (the `metadata/` dir lands INSIDE the Delta
    * table; `_delta_log` stays primary — [[detectFormat]] still says
    * Delta — while [[IcebergTableReader]] pointed at the same path
    * serves the mirrored snapshot). Each call syncs the CURRENT Delta
    * snapshot: one fresh manifest referencing exactly the active
    * files under a `replace` snapshot, so a file the Delta log
    * dropped can never resurrect through a stale manifest.
    *
    * Refusals, loudly: partitioned tables (Delta strips partition
    * columns OUT of the data files; Iceberg expects identity-source
    * columns IN them — a mirrored read would silently lose the
    * columns), deletion vectors (the mask lives in Delta sidecars an
    * Iceberg reader cannot see — serving unmasked rows would
    * over-return), and columnMapping (data files carry physical
    * names the mirrored schema would mis-resolve). Record counts come
    * from the Delta adds' own stats when present, parquet footers
    * otherwise — |files| driver metadata either way. Returns the new
    * Iceberg snapshot id.
    */
  def publishIcebergMirror(spark: SparkSession, path: String): Long = {
    val format = detectFormat(spark, path)
    require(format == DeltaFormat,
      s"$path: the Iceberg mirror publishes over a DELTA table — detected $format")
    val state = DeltaTableReader.snapshotState(spark, path)
    require(state.partitionColumns.isEmpty,
      s"$path is partitioned — Delta strips partition columns from data files while " +
        "Iceberg expects them in the files; a mirrored read would silently lose the " +
        "partition columns; refusing")
    require(state.active.forall(_.dv.isEmpty),
      s"$path carries deletion vectors — an Iceberg reader cannot see the Delta mask " +
        "and would over-return deleted rows; compact the DVs away first; refusing")
    require(!state.configuration.get("delta.columnMapping.mode").exists(m => m != "none"),
      s"$path uses columnMapping — data files carry physical names the mirrored " +
        "schema would mis-resolve; refusing")
    val schema = state.schemaJson
      .flatMap(js => scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(js)).toOption)
      .collect { case st: org.apache.spark.sql.types.StructType => st }
      .getOrElse(throw new IllegalStateException(
        s"$path: table metadata carries no parseable schemaString"))
    val conf = spark.sparkContext.hadoopConfiguration
    val files = state.active.map { f =>
      val abs = DeltaTableReader.abs(path, f.path)
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(abs), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val n = try r.getRecordCount finally r.close()
      (abs, n)
    }
    IcebergTableWriter.publishMetadataOnly(spark, path, files, schema)
  }

  /** REPLICATE a table ACROSS FORMATS: snapshot-read `srcPath`
    * through whatever adapter its layout selects and land the rows at
    * `dstPath` in `dstFormat` through the matching writer — the
    * "switch engines by rewriting the table once" move the whole
    * interop surface exists for. Hudi meta columns are stripped on
    * the way out (the destination stamps its own); partitioning and
    * record keys are the destination writer's arguments, not
    * inferred. One distributed read + one distributed write; refuses
    * an existing destination (each writer's own create contract).
    */
  def replicate(spark: SparkSession, srcPath: String, dstPath: String,
      dstFormat: TableFormat, partitionBy: Seq[String] = Nil,
      recordKeys: Seq[String] = Nil): Unit = {
    val rows = open(spark, srcPath)
    val data = rows.columns.filterNot(_.startsWith("_hoodie_")) match {
      case cols if cols.length == rows.columns.length => rows
      case cols => rows.select(cols.map(col).toIndexedSeq: _*)
    }
    dstFormat.create(data, dstPath, partitionBy, recordKeys)
  }

  /** All driver testdata tables. */
  val AllTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every known table in `dir` as a temp view. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    AllTables.foreach(register(spark, dir, _))
}
