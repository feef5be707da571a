package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import HudiTimeline.hoodieDir

/** APPEND-ONLY writer for Apache Hudi COPY-ON-WRITE tables readable
  * by external engines — the graft counterpart of the reference's
  * table-producing job itself (generate_hudi_table.py:86-214 writes a
  * Hudi table; template.py:207-217 consumes it), implemented from the
  * PUBLIC Hudi layout the reader ([[HudiTableReader]]) is locked
  * against:
  *
  *  - data lands as immutable base parquet files named
  *    `<fileId>_<writeToken>_<instant>.parquet`; an insert makes one
  *    NEW file group per (write task, table partition) — the files a
  *    plain parquet write gives — and rewrites none;
  *  - rows carry the `_hoodie_commit_time` meta column stamped with
  *    the commit instant (what makes incremental pull a per-row
  *    filter) and, when record keys are declared,
  *    `_hoodie_record_key` in Hudi's `k1:v1,k2:v2` form;
  *  - the timeline gains one `.hoodie/<instant>.commit` JSON whose
  *    `partitionToWriteStats` lists the file groups written;
  *    `hoodie.properties` declares COPY_ON_WRITE.
  *
  * Scale shape: the data write is distributed; the commit is driver
  * metadata bounded by |files this commit|. Every write — insert,
  * upsert, clustering, compaction — lands its base files through the
  * task-side landing every format shares ([[FileLanding]]): each
  * write task creates its groups' files at their final paths and
  * counts rows and bytes as it writes them, so there is no staging
  * directory, rename or footer pass. Every write publishes through
  * one exclusive create (`publish`). Instant collision (two writers in
  * the same millisecond) is resolved by that exclusive create — an
  * insert that loses bumps to the next instant and retries, the same
  * instant-uniqueness Hudi's own timeline service enforces.
  *
  * Beyond inserts: [[upsert]] is the reference's own write operation
  * (COW file-group rewrite, carried rows keeping their stamps), and
  * the MOR half (createMor/updateLog/deleteLog/compact) lands
  * deltacommit log files the real-time reader merges.
  */
object HudiTableWriter {

  val MaxCommitAttempts: Int = 20

  /** Crossover between BROADCASTING the upsert batch's matched key set
    * into the CDC pre-image semi join and a plain SHUFFLE join — same
    * gate as [[DeltaTableWriter.MaxBroadcastUpsertKeys]]: CDC-sized
    * batches broadcast (zero base-row shuffle); a backfill-scale key
    * set past the gate degrades to a shuffle join rather than hitting
    * Spark's 8 GiB broadcast hard cap.
    */
  val MaxBroadcastUpsertKeys: Long = 4L * 1000 * 1000

  /** True when hoodie.properties obliges data-changing writes to land
    * CDC images (hoodie.table.cdc.enabled — Hudi's RFC-51 table
    * property). */
  private[sources] def cdcEnabled(props: Map[String, String]): Boolean =
    props.get("hoodie.table.cdc.enabled").contains("true")

  /** Land one instant's CDC images — full rows (meta columns
    * included) tagged `_change_type` (update_preimage /
    * update_postimage / insert / delete) — as DISTRIBUTED parquet
    * under `.hoodie/cdc/<instant>/`. The feed serves them VERBATIM
    * with precedence over post-image reconstruction (the Delta CDF
    * analog; Hudi's own cdc supplemental logging carries the same
    * before/after images). Readers only consult cdc dirs of
    * COMPLETED instants, so landing before the commit meta file is
    * crash-safe.
    */
  private def writeCdcImages(rows: DataFrame, tablePath: String, instant: String): Unit =
    rows.write.parquet(new Path(hoodieDir(tablePath), s"cdc/$instant").toString)

  private def instantNow(offsetMs: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmssSSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(System.currentTimeMillis() + offsetMs))

  private def writeProperties(spark: SparkSession, tablePath: String, name: String,
      recordKeys: Seq[String], precombineField: Option[String],
      tableType: String = "COPY_ON_WRITE", partitionBy: Seq[String] = Nil,
      cdcEnabled: Boolean = false): Unit = {
    val p = new Path(hoodieDir(tablePath), "hoodie.properties")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) {
      // record-key fields are TABLE properties (Hudi's own
      // hoodie.table.recordkey.fields), not per-write options: an
      // append that stamped different keys — or none — would land base
      // files whose schemas disagree on _hoodie_record_key, and the
      // snapshot union would surface or drop the column depending on
      // which footer Spark samples
      val keyLines =
        if (recordKeys.isEmpty) ""
        else s"hoodie.table.recordkey.fields=${recordKeys.mkString(",")}\n"
      val precombineLine =
        precombineField.map(f => s"hoodie.table.precombine.field=$f\n").getOrElse("")
      val partitionLine =
        if (partitionBy.isEmpty) ""
        else s"hoodie.table.partition.fields=${partitionBy.mkString(",")}\n"
      val cdcLine = if (cdcEnabled) "hoodie.table.cdc.enabled=true\n" else ""
      val out = fs.create(p, false)
      try out.write(
        (s"hoodie.table.name=$name\n" +
          s"hoodie.table.type=$tableType\n" +
          "hoodie.table.version=5\n" + keyLines + precombineLine + partitionLine + cdcLine)
          .getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** A comma-separated field list property (empty when absent). */
  private def listProperty(props: Map[String, String], key: String): Seq[String] =
    props.get(key).map(_.split(',').toIndexedSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)

  /** The record-key fields the TABLE declares (empty = keyless). */
  def declaredRecordKeys(spark: SparkSession, tablePath: String): Seq[String] =
    recordKeysOf(HudiTimeline.properties(spark, tablePath))

  private[sources] def recordKeysOf(props: Map[String, String]): Seq[String] =
    listProperty(props, "hoodie.table.recordkey.fields")

  /** Stamp the Hudi meta columns an external reader expects. */
  private def stamped(df: DataFrame, instant: String, recordKeys: Seq[String],
      partitionBy: Seq[String] = Nil): DataFrame = {
    val withTime = df.withColumn("_hoodie_commit_time", lit(instant))
    val withKey =
      if (recordKeys.isEmpty) withTime
      else withTime.withColumn("_hoodie_record_key",
        concat_ws(",", recordKeys.map(k => concat(lit(s"$k:"), col(k).cast("string"))): _*))
    partitionPathOf(partitionBy)
      .fold(withKey)(withKey.withColumn("_hoodie_partition_path", _))
  }

  /** A row's hive partition path `c1=v1/c2=v2` — what
    * `_hoodie_partition_path` carries (None when unpartitioned). */
  private def partitionPathOf(partitionBy: Seq[String]): Option[Column] =
    if (partitionBy.isEmpty) None
    else Some(concat_ws("/", partitionBy.map(c =>
      concat(lit(s"$c="), coalesce(col(c).cast("string"),
        lit("__HIVE_DEFAULT_PARTITION__")))): _*))

  /** The partition fields the TABLE declares (empty = unpartitioned). */
  def declaredPartitionFields(spark: SparkSession, tablePath: String): Seq[String] =
    partitionFieldsOf(HudiTimeline.properties(spark, tablePath))

  private def partitionFieldsOf(props: Map[String, String]): Seq[String] =
    listProperty(props, "hoodie.table.partition.fields")

  /** One written file's entry in a commit's `partitionToWriteStats`. */
  private[sources] final case class WriteStat(partition: String, fileId: String, path: String,
      numWrites: Long, numUpdateWrites: Long, totalWriteBytes: Long, prevCommit: String)

  /** `partitionToWriteStats` as JSON: the stats grouped by partition. */
  private def writeStatsJson(stats: Seq[WriteStat]): String =
    stats.groupBy(_.partition).map { case (part, ws) =>
      s""""$part":[""" + ws.map(w =>
        s"""{"fileId":"${w.fileId}","path":"${w.path}","numWrites":${w.numWrites},""" +
          s""""numUpdateWrites":${w.numUpdateWrites},"totalWriteBytes":${w.totalWriteBytes},""" +
          s""""prevCommit":"${w.prevCommit}"}""").mkString(",") + "]"
    }.mkString("{", ",", "}")

  /** Publish `instant` as `.hoodie/<instant>.<kind>` naming the files
    * in `stats` (and, for a clustering, the `replaced` group ids per
    * partition). The exclusive create is the instant-uniqueness CAS:
    * false means another writer already holds the instant, and the
    * caller's policy decides the fate of the files it landed.
    */
  private def publish(spark: SparkSession, tablePath: String, instant: String, kind: String,
      operationType: String, stats: Seq[WriteStat],
      extraMetadata: Map[String, String] = Map.empty,
      replaced: Map[String, Seq[String]] = Map.empty): Boolean = {
    val replacedJson =
      if (replaced.isEmpty) ""
      else ""","partitionToReplaceFileIds":""" + replaced.map { case (part, ids) =>
        s""""$part":[${ids.map(id => s""""$id"""").mkString(",")}]"""
      }.mkString("{", ",", "}")
    val json = s"""{"partitionToWriteStats":${writeStatsJson(stats)}$replacedJson""" +
      s""","operationType":"$operationType"""" + extraMetadataJson(extraMetadata) + "}\n"
    val p = new Path(hoodieDir(tablePath), s"$instant.$kind")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val out = fs.create(p, false)
      try out.write(json.getBytes("UTF-8")) finally out.close()
      true
    } catch { case _: java.io.IOException => false }
  }

  /** A base file's path in the table:
    * `<partition>/<fileId>_0-0-0_<instant>.parquet`. */
  private def baseFilePath(partition: String, fid: String, instant: String): String = {
    val name = s"${fid}_0-0-0_$instant.parquet"
    if (partition.isEmpty) name else s"$partition/$name"
  }

  /** Each row's NEW file-group id: a UUID-shaped md5 of (a random salt
    * drawn per call, `bucket`, the row's partition path) — one id per
    * (bucket, table partition) within a write; the salt keeps the ids
    * of different writes apart. */
  private def newGroupId(bucket: Column, partitionPath: Option[Column]): Column = {
    val hex = md5(concat_ws("/", (lit(java.util.UUID.randomUUID().toString) +:
      bucket.cast("string") +: partitionPath.toSeq): _*))
    concat_ws("-", Seq((1, 8), (9, 4), (13, 4), (17, 4), (21, 12))
      .map { case (pos, len) => substring(hex, pos, len) }: _*)
  }

  /** Land `rows` as NEW file groups, one per (write task, table
    * partition): the files a plain parquet write of `rows` gives, with
    * no added shuffle ([[FileLanding.landPerTask]]). `rows` must keep
    * its projections on the write tasks ([[FileLanding.onWriteTasks]]).
    * With no rows, a partitioned table lands nothing and an
    * unpartitioned one lands one schema-only group.
    */
  private def landTaskGroups(rows: DataFrame, tablePath: String, instant: String,
      partitionBy: Seq[String]): Seq[WriteStat] =
    FileLanding.landPerTask(rows.withColumn("_g_part", partitionDirOf(partitionBy)), tablePath,
      partitionBy.nonEmpty, basePathOf(instant),
      group = Some(newGroupId(spark_partition_id(), partitionPathOf(partitionBy))))
      .map(newGroupStat)

  /** Where a group's base file of `instant` lands. */
  private def basePathOf(instant: String): FileLanding.PathOf =
    (part, fid, _) => baseFilePath(part, fid, instant)

  /** A landed base file's stat, as a new group's: no update writes, no
    * previous commit. */
  private def newGroupStat(f: FileLanding.Landed[Any]): WriteStat =
    WriteStat(f.part, f.group, f.rel, f.rows, 0L, f.bytes, "null")

  /** A row's hive partition directory `c1=v1/c2=v2`, escaped the way
    * Spark's partitioned write names it; "" when unpartitioned. */
  private def partitionDirOf(partitionBy: Seq[String]): Column =
    FileLanding.partitionDirOf(partitionBy.map(c => c -> col(c)))

  /** Write one insert commit: `df` lands as NEW file groups, one per
    * (write task, table partition), named per the Hudi base-file
    * convention, and the `.commit` (or, on MOR tables, `.deltacommit`)
    * meta file publishes them — with `extraMetadata` (a stream sink's
    * watermark, an evolved schema) when given. Returns the commit
    * instant.
    */
  private def insertCommit(df: DataFrame, tablePath: String,
      recordKeys: Seq[String], kind: String = "commit",
      partitionBy: Seq[String] = Nil,
      extraMetadata: Map[String, String] = Map.empty): String = {
    val spark = df.sparkSession
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val input = FileLanding.onWriteTasks(df)
    var attempt = 0
    while (true) {
      val instant = instantNow(attempt.toLong)
      val stats = landTaskGroups(stamped(input, instant, recordKeys, partitionBy),
        tablePath, instant, partitionBy)
      if (stats.isEmpty) throw new IllegalArgumentException(
        s"$tablePath: the DataFrame wrote no data files (empty input?)")
      // a same-instant racer loses the exclusive create, abandons its
      // files as uncommitted debris (invisible to readers — the
      // timeline is the source of truth) and retries at the next instant
      if (publish(spark, tablePath, instant, kind, "INSERT", stats, extraMetadata)) return instant
      stats.foreach(w => fs.delete(new Path(tablePath, w.path), false))
      attempt += 1
      if (attempt >= MaxCommitAttempts) throw new IllegalStateException(
        s"$tablePath: lost the instant race $MaxCommitAttempts times")
    }
    throw new IllegalStateException("unreachable")
  }

  /** Create a NEW Hudi COW table at `tablePath` from `df`; refuses an
    * existing table (append to those). A `transaction` (app id, batch
    * id) rides the commit's `extraMetadata` as a stream sink's
    * watermark ([[lastBatchId]]). Returns the commit instant.
    */
  def create(df: DataFrame, tablePath: String, tableName: String = "graft_table",
      recordKeys: Seq[String] = Nil, precombineField: Option[String] = None,
      partitionBy: Seq[String] = Nil,
      transaction: Option[(String, Long)] = None,
      cdcEnabled: Boolean = false): String = {
    val spark = df.sparkSession
    val dir = hoodieDir(tablePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) throw new IllegalArgumentException(
      s"$tablePath is already a Hudi table — use append")
    recordKeys.foreach(k => require(df.columns.contains(k),
      s"record-key field $k is not in the DataFrame"))
    partitionBy.foreach(c => require(df.columns.contains(c),
      s"partition field $c is not in the DataFrame"))
    fs.mkdirs(dir)
    writeProperties(spark, tablePath, tableName, recordKeys, precombineField,
      partitionBy = partitionBy, cdcEnabled = cdcEnabled)
    insertCommit(df, tablePath, recordKeys, partitionBy = partitionBy,
      extraMetadata = TableLoader.sinkWatermark(transaction))
  }

  /** Append `df` as a new insert commit; columns must match the
    * table's existing data columns (order-free). The record-key
    * stamping comes from the TABLE's declared
    * `hoodie.table.recordkey.fields` — never a per-call choice, so
    * every base file agrees on whether `_hoodie_record_key` exists.
    * A non-empty `recordKeys` argument is validation only: it must
    * equal the declaration (callers asserting what they expect). A
    * `transaction` rides the commit as in [[create]].
    */
  def append(df: DataFrame, tablePath: String, recordKeys: Seq[String] = Nil,
      transaction: Option[(String, Long)] = None): String = {
    val tl = HudiTimeline.load(df.sparkSession, tablePath)
    val declared = recordKeysOf(tl.properties)
    require(recordKeys.isEmpty || recordKeys == declared,
      s"$tablePath: append asserts record keys ${recordKeys.mkString(",")} but the table " +
        s"declares hoodie.table.recordkey.fields=${declared.mkString(",")} — the table " +
        "property wins; drop the argument or fix the expectation")
    val evolved = evolutionOf(df, tablePath, HudiTableReader.snapshot(tl).schema)
    // MOR inserts land under deltacommits (Hudi's MOR write path —
    // an ordinary commit on a MOR timeline means compaction); the
    // partitioning comes from the TABLE's declaration, like the keys
    val kind = if (tl.isMor) "deltacommit" else "commit"
    insertCommit(df, tablePath, declared, kind,
      partitionBy = partitionFieldsOf(tl.properties),
      extraMetadata = TableLoader.sinkWatermark(transaction) ++ evolved.map("schema" -> _))
  }

  /** ADDITIVE SCHEMA EVOLUTION gate for a write batch against the
    * table's current columns: an exact match returns None (no
    * evolution); a batch that ADDS columns (and drops/retypes none)
    * returns the evolved schema's commit-metadata Avro JSON — the
    * `schema` key Hudi's own commits carry and
    * [[HudiTableReader.declaredDataSchema]] resolves, making old
    * files null-fill the new columns deterministically. Dropped
    * columns and TYPE CHANGES refuse loudly (rewrite-grade
    * migrations, not metadata commits). MOR tables evolve too: log
    * blocks name their write-time schema and the realtime decode
    * null-fills fields a block's writer never knew, so the declared
    * authority serves old bases, old logs and new writes alike.
    */
  private def evolutionOf(df: DataFrame, tablePath: String,
      existing: org.apache.spark.sql.types.StructType): Option[String] = {
    val dataFields = existing.fields.filterNot(_.name.startsWith("_hoodie_"))
    val dataCols = dataFields.map(_.name).toSet
    val missing = dataCols -- df.columns
    require(missing.isEmpty,
      s"$tablePath: batch drops table column(s) ${missing.toSeq.sorted.mkString(",")} — " +
        "evolution is ADDITIVE only; write the full column set")
    val batchTypes = df.schema.fields.map(f => f.name -> f.dataType).toMap
    dataFields.foreach { f =>
      require(batchTypes(f.name) == f.dataType,
        s"$tablePath: column ${f.name} arrives as ${batchTypes(f.name)} but the table " +
          s"declares ${f.dataType} — type changes are rewrite-grade migrations; refusing")
    }
    if (df.columns.toSet == dataCols) return None
    // evolved order: existing data columns verbatim, new ones after,
    // in batch order — what every later declared-schema scan serves
    val newFields = df.schema.fields.filterNot(f => dataCols.contains(f.name))
    val evolvedSchema = org.apache.spark.sql.types.StructType(
      dataFields.toIndexedSeq ++ newFields)
    Some(HudiSchema.toAvroJson(evolvedSchema))
  }

  /** OPTIMISTIC-CONCURRENCY validation for a COW upsert about to
    * publish: instants that landed after `plannedHead` (the head the
    * upsert's slices were read at) are safe iff they touched NONE of
    * `ourFids` and none is a clustering replacecommit (which rewires
    * groups wholesale). An overlap means this commit's rewritten
    * slices were computed from a now-stale snapshot — publishing
    * would silently clobber the winner, so it refuses loudly instead
    * (Hudi itself requires a lock provider for full multi-writer; the
    * residual check-to-create window is that provider's job). It loads
    * a fresh timeline: it exists to see the commits that landed after
    * the upsert's own load.
    */
  private[sources] def validateNoConcurrentOverlap(spark: SparkSession, tablePath: String,
      plannedHead: String, ourFids: Set[String]): Unit = {
    val tl = HudiTimeline.load(spark, tablePath)
    tl.cow.filter(_._1 > plannedHead).find { case (i, k) =>
      k == "replacecommit" || tl.writes(i, k).exists(w => ourFids.contains(w.fileId))
    }.foreach { case (i, k) =>
      throw new java.util.ConcurrentModificationException(
        s"$tablePath: concurrent $k at instant $i touched file groups this upsert " +
          s"rewrote from the now-stale snapshot $plannedHead — re-read and retry")
    }
  }

  private def extraMetadataJson(extra: Map[String, String]): String =
    if (extra.isEmpty) ""
    else {
      def jq(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      ""","extraMetadata":{""" + extra.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jq(k)}:${jq(v)}" }.mkString(",") + "}"
    }

  /** The highest batch id `appId` committed into the timeline's
    * extraMetadata — the streaming sink's replay watermark, Hudi's own
    * deltastreamer pattern (the checkpoint rides the commit, atomic
    * with the data it describes). Driver metadata, |completed
    * instants|-bounded.
    */
  def lastBatchId(spark: SparkSession, tablePath: String, appId: String): Option[Long] = {
    val tl = HudiTimeline.load(spark, tablePath)
    val ids = tl.instants
      .flatMap { case (instant, kind) =>
        val extra = tl.commitJson(instant, kind).get("extraMetadata")
        if (extra == null || !extra.isObject) None
        else if (!Option(extra.get(TableLoader.SinkAppKey)).exists(_.asText() == appId)) None
        else Option(extra.get(TableLoader.SinkBatchKey))
          .flatMap(v => scala.util.Try(v.asText().toLong).toOption)
      }
    if (ids.isEmpty) None else Some(ids.max)
  }

  /** The deferred duplicate-key gate: distinct-key cardinality as ONE
    * aggregation over the already-persisted routing frame (`tagged` /
    * `routed`), compared against its row count (in hand from the
    * routing counts). The routing join is 1:1 with the batch — base
    * keys are unique per well-formed table — so the check equals the
    * old eager batch-side gate without re-evaluating the batch plan.
    * Runs BEFORE any file lands.
    */
  private def dupGateCheck(frame: DataFrame, tablePath: String, keys: Seq[String],
      nRows: Long): Unit = {
    val nKeys = frame
      .agg(count_distinct(struct(keys.map(col): _*)).as("k")).head().getLong(0)
    require(nRows == nKeys,
      s"$tablePath: upsert batch carries ${nRows - nKeys} duplicate key row(s) and " +
        "the table declares no precombine field — the replacement row per key would " +
        "be ambiguous; pre-combine the batch first")
  }

  /** UPSERT into a Hudi COPY-ON-WRITE table — the operation the
    * reference's own generator runs (generate_hudi_table.py:97-115,
    * `hoodie.datasource.write.operation=upsert`): each batch row
    * whose record key exists REWRITES its file group (a new file
    * slice under the new instant, same fileId — unchanged rows
    * carried forward with their ORIGINAL `_hoodie_commit_time`,
    * replaced rows stamped with the new instant, exactly what keeps
    * incremental pulls exact); rows with unseen keys land as new
    * file groups. One `.commit` publishes both, with
    * `numUpdateWrites`/`prevCommit` per rewritten group.
    *
    * Key matching is PARTITION-SCOPED (record key + partition
    * values), Hudi's default non-global index: a known key arriving
    * under different partition values is an INSERT into that
    * partition, the old row stays — document-matched to
    * hoodie.index.type=SIMPLE semantics. When the table declares a
    * precombine field, in-batch duplicates per key resolve
    * latest-wins on it; otherwise the batch must be unique on the
    * keys (loudly required). MOR tables dispatch to [[morUpsert]] —
    * the format's OWN upsert shape: log blocks for matched keys, new
    * base groups for unseen keys, one deltacommit, nothing rewritten.
    *
    * Scale shape: one scan of the CURRENT base files' keys tags the
    * batch (the COW contract — an upsert rewrites matched groups), its
    * schema resolved on the driver from the declaration or one
    * footer; the batch is evaluated ONCE into a persisted key-tagged
    * frame that every later step reads (counts, gates, CDC images, the
    * write). Then only the BATCH rows shuffle, each to its group's
    * write task, and each task merges its groups (`landGroups`): a
    * touched group's task streams the group's current slice through
    * Spark's own parquet reader, drops the rows the batch replaces,
    * and writes the new slice at its final path, batch rows included;
    * a new group's task writes its batch rows. Carried rows never
    * leave the task that reads them. Driver state is |touched groups|
    * commit metadata, never row data. Returns the commit instant.
    * Single-writer: a lost instant race throws.
    */
  def upsert(df: DataFrame, tablePath: String,
      maxBroadcastKeys: Long = MaxBroadcastUpsertKeys): String =
    upsert(HudiTimeline.load(df.sparkSession, tablePath), df, maxBroadcastKeys)

  /** [[upsert]] against an already-loaded timeline. */
  private[sources] def upsert(tl: HudiTimeline, df: DataFrame,
      maxBroadcastKeys: Long): String = {
    val spark = df.sparkSession
    val tablePath = tl.tablePath
    val props = tl.properties
    val keys = recordKeysOf(props)
    require(keys.nonEmpty,
      s"$tablePath: upsert routes by record key — the table declares none " +
        "(hoodie.table.recordkey.fields)")
    val partitionBy = partitionFieldsOf(props)
    val precombine = props.get("hoodie.table.precombine.field")
    // in-batch combine: latest-wins on the declared precombine field,
    // or loudly require key-uniqueness when the table declares none
    def combined(): DataFrame = precombine match {
      case Some(pc) =>
        require(df.columns.contains(pc),
          s"$tablePath: declared precombine field $pc is not in the batch")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*).orderBy(col(pc).desc)
        df.withColumn("_g_rn", row_number().over(w))
          .where(col("_g_rn") === 1).drop("_g_rn")
      case None =>
        // duplicate-key gate DEFERRED to the routing pass: the check
        // runs as one cheap aggregation over the PERSISTED routed/
        // tagged frame (dupGateCheck below) instead of an eager
        // full evaluation of the batch plan — which, for a batch
        // derived from an expensive source (filter-over-shuffle),
        // re-ran that whole plan once per upsert just to count keys
        // (guide §1.2 / §5; measured ~0.25 s per upsert at sf0.1)
        df
    }
    val dupGate = precombine.isEmpty
    // MERGE_ON_READ: the upsert is MOR's OWN write shape — one
    // deltacommit carrying log blocks for matched keys and new base
    // files for unseen keys (no base rewritten)
    if (tl.isMor) {
      // additive evolution against the real-time view's columns
      val evolvedJson = evolutionOf(df, tablePath, HudiTableReader.snapshot(tl).schema)
      return morUpsert(tl, combined(), keys, partitionBy, evolvedJson, dupGate = dupGate)
    }
    val instant = instantNow(0L)
    // BLOOM-INDEX PRUNE: groups whose per-file filter proves every
    // batch key absent never join the key-matching scan (they can
    // only carry — untouched groups don't rewrite). Probe BOTH key
    // forms: graft's `field:value` stamp and the raw single-key form
    // real SimpleKeyGenerator tables carry — a bucket superset only
    // widens the scan, never misses an update. The combine keeps the
    // key set, so the probes read the batch as given.
    val graftKeyProbe = df.select(concat_ws(",",
      keys.map(k => concat(lit(s"$k:"), col(k).cast("string"))): _*).as("_g_probe"))
    val probes =
      if (keys.size == 1)
        graftKeyProbe.unionAll(df.select(col(keys.head).cast("string").as("_g_probe")))
      else graftKeyProbe
    // the timeline head this upsert is PLANNED against: the slices come
    // from the same load, so every instant that lands after planning
    // falls on the `> plannedHead` side of the publish-time overlap
    // validation
    val plannedHead = tl.head
    val slices = bloomPruneSlices(tl, HudiTableReader.activeSlices(tl), probes)
    val sliceByFid = slices.map(s => s.fileId -> s).toMap
    // the ONE base scan: its schema resolves on the driver (declared
    // once the table evolved — old base files null-fill — else a
    // footer) and is also the table schema the evolution gate checks
    val scanSchema = HudiTableReader.scanSchema(tl, slices)
    // additive evolution: a batch ADDING columns commits the evolved
    // schema; carried rows null-fill below. Drops/retypes refuse.
    val evolvedJson = evolutionOf(df, tablePath, scanSchema)
    val dataCols = scanSchema.fieldNames.filterNot(_.startsWith("_hoodie_")).toSet
    val newFields = df.schema.fields.filterNot(f => dataCols.contains(f.name)).toSeq
    val deduped = combined()
    // each base row's file-group id is its file name's first field:
    // Hudi names base files `<fileId>_<writeToken>_<instant>.parquet`
    slices.find(s => s.fileId.contains('_') ||
        !s.path.split('/').last.startsWith(s.fileId + "_")).foreach { s =>
      throw new IllegalStateException(s"$tablePath: base file ${s.path} of file group " +
        s"${s.fileId} is not named <fileId>_<writeToken>_<instant>.parquet")
    }
    val base = spark.read.schema(scanSchema)
      .parquet(slices.map(s => s"$tablePath/${s.path}"): _*)
      .withColumn("_g_fid", substring_index(col("_metadata.file_name"), "_", 1))
    val sliceCols = scanSchema.fieldNames.toSeq
    // evolved output: the base columns verbatim, new batch columns
    // after; base-sourced rows take deterministic nulls there
    val outCols = sliceCols ++ newFields.map(_.name)
    // partition-scoped key: record keys + partition values together
    val joinCols = (partitionBy ++ keys).distinct
    val keyFid = base.select(joinCols.map(col) :+ col("_g_fid"): _*)
    val batchStamped = stamped(deduped, instant, keys, partitionBy)
    // the batch is evaluated ONCE, here: every later consumer (counts,
    // gate, CDC images, the write) reads the persisted frame, never the
    // batch plan or its combine window
    val tagged = batchStamped.join(keyFid, joinCols, "left")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE grouped count (after the job that fills the cache) answers
      // both the batch-key cardinality (broadcast-vs-shuffle decision
      // for the CDC pre-image join) and the per-touched-group update
      // counts. None = insert rows; |groups|+1 entries of driver
      // metadata. The RDD count runs its shuffle inside one job, where
      // a DataFrame aggregation takes two.
      val fidCounts = tagged.select(col("_g_fid")).rdd
        .map(r => Option(r.getString(0))).countByValue().toMap
      val nBatchKeys = fidCounts.values.sum
      if (nBatchKeys == 0L) throw new IllegalArgumentException(
        s"$tablePath: empty upsert batch — nothing to write")
      // deferred duplicate-key gate: one aggregation over the
      // now-cached tagged frame (reads memory, never the batch plan),
      // before any file lands
      if (dupGate) dupGateCheck(tagged, tablePath, keys, nBatchKeys)
      // hoodie.table.cdc.enabled obligation: land this instant's
      // pre/post images BEFORE any data file lands — one distributed
      // parquet write under .hoodie/cdc/<instant>/. The pre-images are
      // the base rows whose keys match; SIZE-GATED: CDC-sized batches
      // broadcast their matched key set (no shuffle of the base rows),
      // past the gate a backfill-scale batch would blow the 8 GiB
      // broadcast cap, so it degrades to a shuffle join
      if (props.get("hoodie.table.cdc.enabled").contains("true")) {
        val updates = tagged.where(col("_g_fid").isNotNull)
        val matchedKeys = {
          val k = updates.select(joinCols.map(col): _*)
          if (nBatchKeys <= maxBroadcastKeys) broadcast(k) else k
        }
        val pre = newFields
          .foldLeft(base.join(matchedKeys, joinCols, "left_semi"))((acc, f) =>
            acc.withColumn(f.name, lit(null).cast(f.dataType)))
          .select(outCols.map(col): _*)
          .withColumn("_change_type", lit("update_preimage"))
        val post = updates.select(outCols.map(col): _*)
          .withColumn("_change_type", lit("update_postimage"))
        val ins = tagged.where(col("_g_fid").isNull).select(outCols.map(col): _*)
          .withColumn("_change_type", lit("insert"))
        writeCdcImages(pre.unionByName(post).unionByName(ins), tablePath, instant)
      }
      // per-touched-group update counts — |groups| driver metadata,
      // already in hand from the grouped count above
      val updCounts = fidCounts.collect { case (Some(fid), n) => fid -> n }
      // each group's write task follows from the batch, never from its
      // random id, so one batch fills the same number of tasks on every
      // run (the commit's filesystem calls repeat) and the groups
      // spread evenly: the k touched groups take tasks 0..k-1 round
      // robin, new groups the tasks after them by bucket and partition
      val nBuckets = spark.sessionState.conf.numShufflePartitions
      val touchedTask = typedLit(updCounts.keys.toSeq.sorted.zipWithIndex
        .map { case (fid, i) => fid -> i % nBuckets }.toMap)
      val touchedDir = typedLit(updCounts.keys.map(fid => fid -> sliceByFid(fid).partition).toMap)
      // insert rows take their NEW group's id before the write: one
      // group per (key-hash bucket, table partition), with at most
      // numShufflePartitions buckets, so a batch's inserts land in a
      // bounded number of new groups
      val bucket = pmod(hash(keys.map(col): _*), lit(nBuckets))
      val partPath = partitionPathOf(partitionBy)
      val newTask = pmod(lit(updCounts.size) + bucket +
        partPath.map(p => pmod(hash(p), lit(nBuckets))).getOrElse(lit(0)), lit(nBuckets))
      val touched = col("_g_fid").isNotNull
      val batchRows = tagged.select(outCols.map(col) :+
        coalesce(col("_g_fid"), newGroupId(bucket, partPath)).as("_g_fid") :+
        when(touched, element_at(touchedDir, col("_g_fid")))
          .otherwise(partitionDirOf(partitionBy)).as("_g_part") :+
        when(touched, element_at(touchedTask, col("_g_fid"))).otherwise(newTask).as("_g_task"): _*)
      // a rewritten slice unions the carried rows a file scan serves
      // (nullable throughout; added columns null-filled) with the batch
      // rows: the commit's files take that union's schema. An
      // insert-only upsert writes the batch rows as they are.
      val rewrite =
        if (updCounts.isEmpty) None
        else Some(GroupRewrite(spark, tablePath, updCounts.keys.map(sliceByFid).toSeq,
          scanSchema, joinCols, StructType(GraftBridge.asNullable(scanSchema).fields ++
            newFields.map(_.copy(nullable = true)))))
      val landed = landGroups(batchRows, tablePath, instant, rewrite, steerTo = nBuckets)
        .map(w => sliceByFid.get(w.fileId).fold(w)(old =>
          w.copy(numUpdateWrites = updCounts(w.fileId), prevCommit = old.instant)))
      // OPTIMISTIC CONCURRENCY: commits that landed while this upsert
      // computed may have rewritten the very groups whose slices fed
      // the merge. A DISJOINT interleave (appends, or upserts of other
      // groups) is safe — untouched groups never move; an overlap or a
      // clustering replacecommit would be silently clobbered, so it
      // refuses loudly. The landed slices stay as uncommitted debris —
      // invisible to readers, vacuumed later (the timeline is the
      // source of truth).
      validateNoConcurrentOverlap(spark, tablePath, plannedHead, updCounts.keySet)
      if (!publish(spark, tablePath, instant, "commit", "UPSERT", landed,
          evolvedJson.map("schema" -> _).toMap)) throw new IllegalStateException(
        s"$tablePath: instant $instant already committed by another writer — upserts are " +
          "single-writer per instant; the landed files must be rolled back manually")
      instant
    } finally tagged.unpersist()
  }

  /** What a write task needs to rewrite a touched file group: each
    * group's current slice (absolute path), a reader of it — Spark's
    * own parquet reader, built on the driver — the schema the new
    * slices are written with (the slice's columns first, then the
    * columns the batch adds), and the ordinals of the partition-scoped
    * key columns in the slice rows and in the landed rows. A group it
    * names lands merged ([[mergedSlice]]). */
  private[sources] final case class GroupRewrite(slices: Map[String, String],
      read: PartitionedFile => Iterator[InternalRow], sliceSchema: StructType,
      schema: StructType, sliceKeys: Seq[Int], rowKeys: Seq[Int]) extends FileLanding.GroupSource {
    def rowsOf(group: String, rows: Iterator[InternalRow],
        conf: org.apache.hadoop.conf.Configuration): Option[Iterator[InternalRow]] =
      slices.get(group).map(mergedSlice(this, _, rows, conf))
  }

  private[sources] object GroupRewrite {
    def apply(spark: SparkSession, tablePath: String, slices: Seq[HudiTableReader.SliceWrite],
        sliceSchema: StructType, keys: Seq[String], schema: StructType): GroupRewrite =
      GroupRewrite(slices.map(s => s.fileId -> s"$tablePath/${s.path}").toMap,
        new ParquetFileFormat().buildReaderWithPartitionValues(spark, sliceSchema,
          new StructType(), sliceSchema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
          spark.sessionState.newHadoopConf()),
        sliceSchema, schema, keys.map(sliceSchema.fieldIndex), keys.map(schema.fieldIndex))
  }

  /** Land `rows` as base files of `instant` ([[FileLanding.land]]) —
    * the way every base file with rows enters the table. Each row
    * carries its data columns, then its file group in `_g_fid` and the
    * group's partition directory in `_g_part`; each group becomes one
    * file, `<_g_part>/<fid>_0-0-0_<instant>.parquet`, written by one
    * write task straight at that path. With `steerTo` = n, `rows` also
    * carries `_g_task` and only its rows shuffle, to that task of n. A
    * group that `rewrite` names is MERGED in its task; every file is
    * then written with the rewrite's schema, else with the data
    * columns' own.
    *
    * Files are created exclusively, so a second writer on the same
    * instant fails instead of overwriting; a failed task deletes its
    * half-written file, and files of other tasks stay as uncommitted
    * debris the timeline never names. Every attempt of a task writes
    * the same paths (the write token is fixed), so a retry after an
    * attempt that died without cleaning up fails the write. Returns
    * one stat per group — rows and bytes — as a new group's.
    */
  private[sources] def landGroups(rows: DataFrame, tablePath: String, instant: String,
      rewrite: Option[GroupRewrite] = None, steerTo: Int = 0): Seq[WriteStat] =
    FileLanding.land(rows, tablePath, basePathOf(instant), source = rewrite, steerTo = steerTo)
      .map(newGroupStat)

  /** A touched group's new slice, in its write task: the group's batch
    * rows, then its current slice (`slice`) minus the rows whose
    * partition-scoped key a batch row carries, with the columns the
    * slice lacks null-filled. Keys compare as a join on them does
    * (floating-point zeros and NaNs normalized). */
  private def mergedSlice(rw: GroupRewrite, slice: String, batch: Iterator[InternalRow],
      conf: org.apache.hadoop.conf.Configuration): Iterator[InternalRow] = {
    def keyOf(s: StructType, ordinals: Seq[Int]) = UnsafeProjection.create(ordinals.map(i =>
      GraftBridge.normalizeFloats(BoundReference(i, s(i).dataType, nullable = true))))
    val rowKey = keyOf(rw.schema, rw.rowKeys)
    val sliceKey = keyOf(rw.sliceSchema, rw.sliceKeys)
    val fill = UnsafeProjection.create(
      rw.sliceSchema.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
        BoundReference(i, f.dataType, nullable = true) } ++
      rw.schema.fields.toIndexedSeq.drop(rw.sliceSchema.size).map(f => Literal(null, f.dataType)))
    // the batch rows of a touched group matched a slice row in the
    // tagging join, so none carries a null key
    val replaced = new java.util.HashSet[UnsafeRow]()
    batch.map { r => replaced.add(rowKey(r).copy()); r } ++ {
      // opened once the batch rows are written and their keys known
      val path = new Path(slice)
      val len = path.getFileSystem(conf).getFileStatus(path).getLen
      rw.read(PartitionedFile(InternalRow.empty, org.apache.spark.paths.SparkPath.fromPath(path),
          0L, len, Array.empty[String], 0L, len, Map.empty))
        .filterNot(r => replaced.contains(sliceKey(r)))
        .map(fill)
    }
  }

  // ----------------------------------------------------------------
  // MERGE-ON-READ: deltacommit log appends + compaction — the write
  // half of the real-time view HudiTableReader.realtime serves.
  // Updates/deletes land as [[HudiLog]] blocks appended to each key's
  // file group (no base file rewritten — MOR's whole point); compact
  // folds pending logs into new base files under an ordinary commit.
  // Log writes are SINGLE-WRITER per table (log-file names embed the
  // next version number; Hudi itself needs a lock provider for
  // concurrent log writers) — a lost instant race throws, loudly.
  // ----------------------------------------------------------------

  /** Create a NEW Hudi MERGE-ON-READ table: base files land under a
    * `.deltacommit` (the MOR insert path), `hoodie.properties`
    * declares MERGE_ON_READ + the record keys the log merge needs.
    */
  def createMor(df: DataFrame, tablePath: String, tableName: String = "graft_table",
      recordKeys: Seq[String] = Nil, precombineField: Option[String] = None,
      partitionBy: Seq[String] = Nil, cdcEnabled: Boolean = false): String = {
    require(recordKeys.nonEmpty,
      "a MOR table needs record keys — the log merge has no identity without them")
    val spark = df.sparkSession
    val dir = hoodieDir(tablePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) throw new IllegalArgumentException(
      s"$tablePath is already a Hudi table — use append/updateLog")
    recordKeys.foreach(k => require(df.columns.contains(k),
      s"record-key field $k is not in the DataFrame"))
    partitionBy.foreach(c => require(df.columns.contains(c),
      s"partition field $c is not in the DataFrame"))
    fs.mkdirs(dir)
    writeProperties(spark, tablePath, tableName, recordKeys, precombineField,
      tableType = "MERGE_ON_READ", partitionBy = partitionBy, cdcEnabled = cdcEnabled)
    insertCommit(df, tablePath, recordKeys, kind = "deltacommit",
      partitionBy = partitionBy)
  }

  /** MOR upsert: matched keys land as Avro log blocks appended to
    * their file groups, unseen keys as NEW base-file groups — BOTH
    * under ONE `.deltacommit` (Hudi's own MOR upsert shape; nothing
    * is rewritten). The real-time view serves the merge immediately;
    * compaction folds later. Scale shape: one base-key scan +
    * broadcast group map to split the batch, one log shuffle bounded
    * by |touched groups|; inserts land as new groups, one per (write
    * task, table partition), from one write with no added shuffle.
    */
  private def morUpsert(tl: HudiTimeline, deduped: DataFrame, keys: Seq[String],
      partitionBy: Seq[String], evolvedJson: Option[String], dupGate: Boolean): String = {
    val (spark, tablePath) = (tl.spark, tl.tablePath)
    val groups = HudiTableReader.morGroups(tl)
    val instant = instantNow(0L)
    val stampedDf = stamped(deduped, instant, keys, partitionBy)
    val recSchema = stampedDf.schema
    val avroJson = HudiLog.avroSchemaOf(recSchema).toString
    val routed = routeByKey(spark, tablePath,
      stampedDf.withColumn("_g_key", col("_hoodie_record_key")), groups,
      allowMissing = true)
    try {
      val updates = routed.where(col("_g_fid").isNotNull)
        .select(recSchema.fieldNames.map(col).toIndexedSeq :+ col("_g_fid"): _*)
      val inserts = routed.where(col("_g_fid").isNull)
        .select(recSchema.fieldNames.map(col).toIndexedSeq: _*)
      // ONE routing-side count materializes the persisted `routed`
      // and answers both emptiness probes (was updates.isEmpty +
      // inserts.isEmpty — two executeTake jobs over a cold cache);
      // runs BEFORE the CDC leg so those consumers read the cache
      val routedCounts = routed.groupBy(col("_g_fid").isNull.as("_g_ins"))
        .count().collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
      // deferred duplicate-key gate (one cached-frame aggregation),
      // before any file — CDC images included — lands
      if (dupGate) dupGateCheck(routed, tablePath, keys, routedCounts.values.sum)
      // cdc obligation: pre-images come from the CURRENT real-time
      // view (one key-matched scan — the extra read Hudi's own cdc
      // supplemental logging pays too), landed BEFORE any log file
      // appends so the scan still sees the pre-write state
      if (cdcEnabled(tl.properties)) {
        val rt0 = HudiTableReader.snapshot(tl)
        // an EVOLVING batch is wider than the pre-write view: the
        // pre-images null-fill the columns this very commit adds
        val rt = recSchema.fields.filterNot(f => rt0.columns.contains(f.name))
          .foldLeft(rt0)((acc, f) =>
            acc.withColumn(f.name, lit(null).cast(f.dataType)))
        val batchKeys = stampedDf.select(col("_hoodie_record_key")).distinct()
        val pre = rt
          .join(broadcast(batchKeys), Seq("_hoodie_record_key"), "left_semi")
          .select(recSchema.fieldNames.map(col).toIndexedSeq: _*)
          .withColumn("_change_type", lit("update_preimage"))
        val post = updates.drop("_g_fid")
          .withColumn("_change_type", lit("update_postimage"))
        val ins = inserts.withColumn("_change_type", lit("insert"))
        writeCdcImages(pre.unionByName(post).unionByName(ins), tablePath, instant)
      }
      val meta = logMetaOf(groups, instant)
      val logStats =
        if (routedCounts.getOrElse(false, 0L) == 0L) Nil
        else writeLogFiles(updates, tablePath, instant, recSchema.json, avroJson,
          meta, isDelete = false)
      val insertStats =
        if (routedCounts.getOrElse(true, 0L) == 0L) Nil
        else landTaskGroups(inserts, tablePath, instant, partitionBy)
      if (logStats.isEmpty && insertStats.isEmpty) throw new IllegalArgumentException(
        s"$tablePath: empty upsert batch — nothing to write")
      publishDeltacommit(spark, tablePath, instant, logStats ++ insertStats,
        extraMetadata = evolvedJson.map("schema" -> _).toMap)
      instant
    } finally routed.unpersist()
  }

  /** Route rows carrying `_g_key` to their file groups via the BASE
    * files' record keys (one scan + a broadcast file→group map), or
    * refuse loudly on keys no base file holds.
    */
  private def routeByKey(spark: SparkSession, tablePath: String, keyed: DataFrame,
      groups: Seq[HudiTableReader.GroupSlices],
      allowMissing: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val withBase = groups.filter(_.base.isDefined)
    require(withBase.nonEmpty, s"$tablePath: no base files to route log records against")
    val fidRows = withBase.map(g => org.apache.spark.sql.Row(
      ScanPaths.normalizeDriver(s"$tablePath/${g.base.get.path}"), g.fileId))
    import scala.jdk.CollectionConverters._
    val fidDf = spark.createDataFrame(fidRows.asJava, StructType(Seq(
      StructField("_g_file", StringType), StructField("_g_fid", StringType))))
    val baseKeys = spark.read
      .parquet(withBase.map(g => s"$tablePath/${g.base.get.path}"): _*)
      .withColumn("_g_file", ScanPaths.normalizeScan(col("_metadata.file_path")))
      .join(broadcast(fidDf), Seq("_g_file"))
      .select(col("_hoodie_record_key").as("_g_key"), col("_g_fid"))
    // persist: the routing join feeds BOTH the unknown-key check and
    // the log write — recomputing it would scan the base keys twice
    val routed = keyed.join(baseKeys, Seq("_g_key"), "left")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val missing = if (allowMissing) 0L else routed.where(col("_g_fid").isNull).count()
    if (missing > 0) {
      routed.unpersist()
      throw new IllegalArgumentException(
        s"$tablePath: $missing record(s) have keys no base file group holds — log appends " +
          "route by existing key; inserts take append/createMor (new file groups)")
    }
    routed
  }

  /** Per-group log metadata the write tasks need: the group's base
    * instant (log names embed it) and the next log version.
    */
  private def logMetaOf(groups: Seq[HudiTableReader.GroupSlices],
      fallbackInstant: String): Map[String, (String, Int, String)] =
    groups.map { g =>
      // a group's logs live NEXT TO its base — in the partition dir
      val partition = g.base
        .map(_.path.split('/').dropRight(1).mkString("/")).getOrElse("")
      g.fileId -> ((g.base.map(_.instant).getOrElse(fallbackInstant),
        g.logs.size + 1, partition))
    }.toMap

  /** Publish a `.deltacommit` naming the files written. A lost
    * instant race throws (the log files already carry version numbers
    * — a silent retry could double-apply them).
    */
  private def publishDeltacommit(spark: SparkSession, tablePath: String, instant: String,
      stats: Seq[WriteStat], extraMetadata: Map[String, String] = Map.empty): Unit =
    if (!publish(spark, tablePath, instant, "deltacommit", "UPSERT", stats, extraMetadata))
      throw new IllegalStateException(
        s"$tablePath: instant $instant already committed by another writer — log appends " +
          "are single-writer; the landed log files must be rolled back manually")

  /** UPDATE existing records: `df` (full data rows, record-key fields
    * included) lands as Avro data blocks appended to each key's file
    * group. Returns the deltacommit instant. The data write is
    * distributed (rows shuffle to their group's write task); the
    * commit is |groups-touched| driver metadata.
    */
  def updateLog(df: DataFrame, tablePath: String): String = {
    val spark = df.sparkSession
    val tl = HudiTimeline.load(spark, tablePath)
    val keys = recordKeysOf(tl.properties)
    require(keys.nonEmpty, s"$tablePath: log routing needs declared record keys")
    require(tl.isMor,
      s"$tablePath is COPY_ON_WRITE — log appends are MOR machinery; use append()")
    val groups = HudiTableReader.morGroups(tl)
    val instant = instantNow(0L)
    val stampedDf = stamped(df, instant, keys, partitionFieldsOf(tl.properties))
    val recSchema = stampedDf.schema
    val avroJson = HudiLog.avroSchemaOf(recSchema).toString
    val routedBase = routeByKey(spark, tablePath,
      stampedDf.withColumn("_g_key", col("_hoodie_record_key")), groups)
    val routed = routedBase
      .select(recSchema.fieldNames.map(col).toIndexedSeq :+ col("_g_fid"): _*)
    val meta = logMetaOf(groups, instant)
    val written = try writeLogFiles(routed, tablePath, instant, recSchema.json, avroJson,
      meta, isDelete = false) finally routedBase.unpersist()
    publishDeltacommit(spark, tablePath, instant, written)
    instant
  }

  /** DELETE records: `df` carries the record-key FIELDS; tombstone
    * delete blocks land in each key's file group. Returns the
    * deltacommit instant.
    */
  def deleteLog(df: DataFrame, tablePath: String): String = {
    val spark = df.sparkSession
    val tl = HudiTimeline.load(spark, tablePath)
    val keys = recordKeysOf(tl.properties)
    require(keys.nonEmpty, s"$tablePath: log routing needs declared record keys")
    require(tl.isMor,
      s"$tablePath is COPY_ON_WRITE — log deletes are MOR machinery")
    val groups = HudiTableReader.morGroups(tl)
    val instant = instantNow(0L)
    val keyed = df.withColumn("_g_key",
      concat_ws(",", keys.map(k => concat(lit(s"$k:"), col(k).cast("string"))): _*))
      .select("_g_key")
    // cdc obligation: a delete's image is the row it removes — the
    // PRE-image from the current real-time view, landed before any
    // tombstone block appends
    if (cdcEnabled(tl.properties)) {
      val rt = HudiTableReader.snapshot(tl)
      val del = rt.join(broadcast(keyed.withColumnRenamed("_g_key", "_hoodie_record_key")),
          Seq("_hoodie_record_key"), "left_semi")
        .withColumn("_change_type", lit("delete"))
      writeCdcImages(del, tablePath, instant)
    }
    val routedBase = routeByKey(spark, tablePath, keyed, groups)
    val routed = routedBase.select("_g_key", "_g_fid")
    val meta = logMetaOf(groups, instant)
    val written = try writeLogFiles(routed, tablePath, instant, schemaJson = "", avroJson = "",
      meta, isDelete = true) finally routedBase.unpersist()
    publishDeltacommit(spark, tablePath, instant, written)
    instant
  }

  /** Shuffle rows to their file group and write ONE log file per
    * group (a data block of the partition's records, or a delete
    * block of its keys). Returns one stat per file — records written
    * and bytes, each file's size read in parallel — bounded by |groups
    * touched|.
    */
  private def writeLogFiles(routed: DataFrame, tablePath: String, instant: String,
      schemaJson: String, avroJson: String, meta: Map[String, (String, Int, String)],
      isDelete: Boolean): Seq[WriteStat] = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val spark = routed.sparkSession
    val bcConf = spark.sparkContext.broadcast(
      new DeltaDv.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    val bcMeta = spark.sparkContext.broadcast(meta)
    val outSchema = StructType(Seq(StructField("fileId", StringType),
      StructField("path", StringType), StructField("n", LongType)))
    val table = tablePath
    // explicit count: an unsized keyed repartition AQE-coalesces a
    // small batch to one task, serializing the per-group log writes
    val written = routed.repartition(spark.sessionState.conf.numShufflePartitions, col("_g_fid"))
      .mapPartitions { it =>
        val schema =
          if (isDelete) null
          else org.apache.spark.sql.types.DataType.fromJson(schemaJson)
            .asInstanceOf[StructType]
        val avro = if (isDelete) null else new org.apache.avro.Schema.Parser().parse(avroJson)
        val nCore = if (isDelete) 1 else schema.size
        val byFid = scala.collection.mutable.LinkedHashMap
          .empty[String, scala.collection.mutable.ArrayBuffer[Any]]
        it.foreach { row =>
          val fid = row.getString(nCore)
          val payload: Any =
            if (isDelete) row.getString(0)
            else HudiLog.encodeRow(
              org.apache.spark.sql.Row.fromSeq((0 until nCore).map(row.get)), schema, avro)
          byFid.getOrElseUpdate(fid, scala.collection.mutable.ArrayBuffer.empty) += payload
        }
        byFid.iterator.map { case (fid, payloads) =>
          val (baseInstant, ver, partition) = bcMeta.value(fid)
          val name = HudiLog.logFileName(fid, baseInstant, ver)
          val rel = if (partition.isEmpty) name else s"$partition/$name"
          val block: HudiLog.Block =
            if (isDelete) HudiLog.DeleteBlock(instant, payloads.toSeq.map(_.asInstanceOf[String]))
            else HudiLog.DataBlock(instant, avroJson,
              payloads.toSeq.map(_.asInstanceOf[Array[Byte]]))
          HudiLog.write(bcConf.value.value, s"$table/$rel", Seq(block))
          org.apache.spark.sql.Row(fid, rel, payloads.size.toLong)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
      .collect()
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    import scala.collection.parallel.CollectionConverters._
    written.toIndexedSeq.par.map { r =>
      val (fid, rel, n) = (r.getString(0), r.getString(1), r.getLong(2))
      WriteStat(rel.split('/').dropRight(1).mkString("/"), fid, rel, n, n,
        fs.getFileStatus(new Path(tablePath, rel)).getLen, instant)
    }.seq
  }

  /** CLUSTERING (Hudi's replacecommit service): rewrite the COW
    * table's active file slices into at most `targetGroups` new file
    * groups per partition, published as a `.replacecommit` whose
    * `partitionToReplaceFileIds` drops every input group — the shape
    * the reader's replay is spec-locked against. One shuffle
    * re-buckets the rows and its write lands one group per (write
    * task, table partition). Row stamps (`_hoodie_commit_time`) are
    * PRESERVED verbatim, which is what keeps incremental pulls exact
    * across the clustering (carried rows keep their old stamps and
    * drop out of any later pull). MOR tables with pending logs
    * refuse — compact first. Returns the replacecommit instant.
    */
  def cluster(spark: SparkSession, tablePath: String, targetGroups: Int): String = {
    require(targetGroups >= 1, "targetGroups must be >= 1")
    val tl = HudiTimeline.load(spark, tablePath)
    val partitionBy = partitionFieldsOf(tl.properties)
    val groups = HudiTableReader.morGroups(tl)
    require(groups.forall(_.logs.isEmpty),
      s"$tablePath: file groups carry pending log files — compact before clustering")
    val slices = groups.flatMap(_.base)
    require(slices.nonEmpty, s"$tablePath: nothing to cluster")
    val instant = instantNow(0L)
    // stamps preserved: read the slices AS THEY ARE and re-bucket —
    // PER PARTITION on partitioned tables (Hudi's own clustering
    // plans per partition): a (partition, bucket) shuffle key gives
    // at most targetGroups write tasks per partition, one shuffle total
    val raw = spark.read.schema(HudiTableReader.scanSchema(tl, slices))
      .parquet(slices.map(s0 => s"$tablePath/${s0.path}"): _*)
    val bucketed =
      if (partitionBy.isEmpty) raw.repartition(targetGroups)
      else {
        val bucketCol =
          if (raw.columns.contains("_hoodie_record_key"))
            pmod(xxhash64(col("_hoodie_record_key")), lit(targetGroups))
          else pmod(xxhash64(raw.columns.map(col).toIndexedSeq: _*), lit(targetGroups))
        raw.withColumn("_g_bucket", bucketCol)
          .repartition(spark.sessionState.conf.numShufflePartitions,
            (partitionBy.map(col) :+ col("_g_bucket")): _*)
          .drop("_g_bucket")
      }
    val files = landTaskGroups(bucketed, tablePath, instant, partitionBy)
    require(files.nonEmpty, s"$tablePath: clustering landed no files")
    // replaced groups keyed by THEIR partition (the reader drops by
    // id; Hudi's own meta keys the replacement per partition)
    val replaced = groups.groupBy(_.base.map(_.partition).getOrElse(""))
      .map { case (part, gs) => part -> gs.map(_.fileId) }
    if (!publish(spark, tablePath, instant, "replacecommit", "CLUSTER", files,
        replaced = replaced)) throw new IllegalStateException(
      s"$tablePath: clustering instant $instant already taken — single-writer contract")
    instant
  }

  /** CLEANER (Hudi's KEEP_LATEST_COMMITS policy): physically delete
    * file slices and log files SUPERSEDED before the retention
    * horizon — the instant `retainLatestInstants` commits from the
    * timeline head. A slice is retained while it is the one serving
    * some as-of time inside the window (i.e. until its SUCCESSOR
    * slice is itself older than the horizon); logs follow their base
    * slice. Groups clustered away by a replacecommit older than the
    * horizon clean entirely. Point-in-time reads past the horizon
    * fail loudly AT SCAN — the contract the reader documents. Driver
    * work is timeline metadata; deletion is |expired files|. Returns
    * the deleted relative paths.
    */
  def clean(spark: SparkSession, tablePath: String,
      retainLatestInstants: Int): Seq[String] = {
    require(retainLatestInstants >= 1, "must retain at least the latest instant")
    val tl = HudiTimeline.load(spark, tablePath)
    val timeline = tl.instants
    if (timeline.size <= retainLatestInstants) return Nil
    val horizon = timeline(timeline.size - retainLatestInstants)._1
    // full write history per file group, in replay order
    final case class W(instant: String, path: String, isParquet: Boolean)
    val history = scala.collection.mutable.LinkedHashMap.empty[String, Vector[W]]
    val replacedAt = scala.collection.mutable.Map.empty[String, String]
    timeline.foreach { case (instant, kind) =>
      if (kind == "replacecommit") tl.replacedIds(instant).foreach(id => replacedAt(id) = instant)
      tl.writes(instant, kind).foreach { w =>
        history(w.fileId) = history.getOrElse(w.fileId, Vector.empty) :+
          W(instant, w.path, w.path.endsWith(".parquet"))
      }
    }
    val doomed = Seq.newBuilder[String]
    history.foreach { case (fid, writes) =>
      replacedAt.get(fid) match {
        case Some(ri) if ri <= horizon =>
          // the whole group stopped existing before the horizon
          writes.foreach(w => doomed += w.path)
        case _ =>
          // a write is superseded once a LATER parquet slice exists;
          // it cleans when that successor is itself at/before the
          // horizon (nothing inside the window is served by it)
          writes.zipWithIndex.foreach { case (w, i) =>
            val successor = writes.drop(i + 1).find(_.isParquet)
            if (successor.exists(_.instant <= horizon)) doomed += w.path
          }
      }
    }
    val deleted = doomed.result().distinct.sorted
    deleted.foreach { rel =>
      val f = new Path(tablePath, rel)
      if (tl.fs.exists(f)) { tl.fs.delete(f, false): Unit }
    }
    deleted
  }

  /** FILES INDEX (the graft form of Hudi's metadata-table `files`
    * partition): publish the CURRENT per-file-group state — base
    * slice + pending logs per group — as ONE parquet snapshot at
    * `.hoodie/metadata/files/<headInstant>.parquet`. Readers start
    * head-of-timeline planning FROM it and replay only the instants
    * after, so planning cost is O(commits since the index) and the
    * indexed instants' meta files are never opened — the listing
    * bottleneck Hudi's metadata table exists to remove at 100× file
    * counts. Safe by construction: the index names its instant, a
    * reader ignores any index whose instant is off the timeline, and
    * everything after it replays exactly. Returns the indexed
    * instant.
    */
  def writeFilesIndex(spark: SparkSession, tablePath: String): String = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val tl = HudiTimeline.load(spark, tablePath)
    val groups = HudiTableReader.morGroups(tl)
    val head = tl.head
    val schema = StructType(Seq(
      StructField("fileId", StringType),
      StructField("partition", StringType),
      StructField("baseInstant", StringType),
      StructField("basePath", StringType),
      StructField("logs", ArrayType(StructType(Seq(
        StructField("instant", StringType), StructField("path", StringType)))))))
    val rows = groups.map { g =>
      Row(g.fileId,
        g.base.map(_.partition).getOrElse(""),
        g.base.map(_.instant).orNull,
        g.base.map(_.path).orNull,
        g.logs.map { case (i, p) => Row(i, p) })
    }
    import scala.jdk.CollectionConverters._
    val dir = tl.metadataDir("files")
    tl.fs.mkdirs(dir)
    // SCHEMA SIDECAR: the index also snapshots the commit-metadata
    // schema authority as of its instant, so post-index reads resolve
    // evolution without re-opening pre-index metas (the listing-free
    // planning contract covers schema resolution too). Landed BEFORE
    // the parquet — an index without its sidecar falls back to the
    // full walk, never to a wrong schema.
    val sidecarBody = HudiTableReader.declaredDataSchema(tl)
      .map(HudiSchema.toAvroJson(_)).getOrElse("none")
    val sidecar = tl.fs.create(new Path(dir, s"$head.schema"), true)
    try sidecar.write((sidecarBody + "\n").getBytes("UTF-8")) finally sidecar.close()
    FileLanding.landFile(spark.createDataFrame(rows.asJava, schema),
      new Path(dir, s"$head.parquet")): Unit
    head
  }

  /** COLUMN-STATS INDEX (the metadata-table `col_stats` partition —
    * the third leg of the stats-based file-skipping triad beside
    * Delta add.stats and Iceberg manifest bounds): per ACTIVE base
    * file, min/max of `columns`, computed in ONE distributed scan
    * (groupBy on the scan's file path — stats never transit the
    * driver row-wise) and published as parquet at
    * `.hoodie/metadata/col_stats/<headInstant>.parquet`.
    * [[HudiTableReader.snapshotSkipping]] prunes files whose recorded
    * range provably misses the asked interval; files written AFTER
    * the index (or absent from it) are conservatively KEPT — skipping
    * cuts I/O, never semantics. COW only (a MOR group's log rows are
    * invisible to base-file stats — refused loudly). Returns the
    * indexed instant.
    */
  def writeColStatsIndex(spark: SparkSession, tablePath: String,
      columns: Seq[String]): String = {
    require(columns.nonEmpty, "writeColStatsIndex needs at least one column")
    val tl = HudiTimeline.load(spark, tablePath)
    // MOR builds GROUP-GRAINED and LOG-AWARE: per-file stats would be
    // blind to log rows, so dirty groups' ranges come from the
    // realtime merge and the prune unit is the file GROUP (rows key
    // `_g_file` by the group id; the reader's MOR branch matches)
    val stats =
      if (tl.isMor) morColStatsOf(tl, HudiTableReader.morGroups(tl), columns)
      else colStatsOf(spark, tablePath, HudiTableReader.activeSlices(tl), columns)
    landColStats(spark, tablePath, stats, tl.head)
    tl.head
  }

  /** Per-GROUP min/max over MOR `groups`, log-aware: log-free groups
    * scan their base; dirty groups aggregate the realtime merge.
    * Rows key `_g_file` by the GROUP id. */
  private def morColStatsOf(tl: HudiTimeline,
      groups: Seq[HudiTableReader.GroupSlices], columns: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, max => mx, min => mn}
    val (spark, tablePath) = (tl.spark, tl.tablePath)
    val clean = groups.filter(_.logs.isEmpty)
    val dirty = groups.filter(_.logs.nonEmpty)
    val cleanStats = {
      val slices = clean.flatMap(_.base)
      val perFile = colStatsOf(spark, tablePath, slices, columns)
      val fidOf = clean.flatMap(g => g.base.map(b => b.path -> g.fileId)).toMap
      remapFileCol(spark, perFile, fidOf, "_g_file")
    }
    if (dirty.isEmpty) return cleanStats
    val schema = HudiTableReader.morSchema(tl, groups)
    columns.foreach(cn => require(schema.fieldNames.contains(cn),
      s"$tablePath: col-stats column $cn is not a table column"))
    val aggs = columns.flatMap(cn =>
      Seq(mn(c(cn)).as(s"min_$cn"), mx(c(cn)).as(s"max_$cn")))
    val dirtyStats = HudiTableReader
      .mergeDirtyGroups(spark, tablePath, dirty, schema, keepFileId = true)
      .groupBy(c("_g_fid").as("_g_file"))
      .agg(aggs.head, aggs.tail: _*)
    if (clean.isEmpty) dirtyStats else cleanStats.unionByName(dirtyStats)
  }

  /** Replace `colName` string values through a driver-known
    * (|files|-bounded) mapping via a BROADCAST join — the uniform
    * post-aggregate path-remapping shape ([[recordEntriesOf]] set the
    * pattern for the hot path; these frames are |files|-row, but the
    * join keeps the plan UDF-free and codegen-clean everywhere).
    * Unmatched values pass through unchanged. */
  private def remapFileCol(spark: SparkSession, df: DataFrame,
      mapping: Map[String, String], colName: String): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, broadcast, coalesce}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    if (mapping.isEmpty) return df
    val rows = mapping.toSeq.map { case (k, v) => org.apache.spark.sql.Row(k, v) }
    val mapDf = spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("_g_map_from", StringType), StructField("_g_map_to", StringType))))
    df.join(broadcast(mapDf), df(colName) === mapDf("_g_map_from"), "left")
      .withColumn(colName, coalesce(c("_g_map_to"), c(colName)))
      .drop("_g_map_from", "_g_map_to")
  }

  /** Per-file min/max of `columns` over `slices`, in ONE distributed
    * scan (groupBy on the scan's file path — stats never transit the
    * driver row-wise). Empty slices produce an empty, schema-correct
    * frame without any scan job. */
  private def colStatsOf(spark: SparkSession, tablePath: String,
      slices: Seq[HudiTableReader.SliceWrite], columns: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, max => mx, min => mn}
    require(slices.nonEmpty || columns.nonEmpty, "colStatsOf needs columns")
    if (slices.isEmpty) {
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      // min/max types are unknown with no file to scan; stats land as
      // strings only when there is genuinely nothing to record —
      // callers union by NAME against a typed existing index, and an
      // EMPTY frame contributes no rows of any type
      val fields = StructField("_g_file", StringType) +: columns.flatMap(cn =>
        Seq(StructField(s"min_$cn", StringType), StructField(s"max_$cn", StringType)))
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(fields))
    }
    val absToRel = slices.map(s0 =>
      ScanPaths.normalizeDriver(s"$tablePath/${s0.path}") -> s0.path).toMap
    val scan = spark.read.parquet(slices.map(s0 => s"$tablePath/${s0.path}"): _*)
      .withColumn("_g_file", ScanPaths.normalizeScan(c("_metadata.file_path")))
    columns.foreach(cn => require(scan.columns.contains(cn),
      s"$tablePath: col-stats column $cn is not a table column"))
    val aggs = columns.flatMap(cn =>
      Seq(mn(c(cn)).as(s"min_$cn"), mx(c(cn)).as(s"max_$cn")))
    remapFileCol(spark,
      scan.groupBy(c("_g_file")).agg(aggs.head, aggs.tail: _*),
      absToRel, "_g_file")
  }

  private def landColStats(spark: SparkSession, tablePath: String,
      stats: DataFrame, head: String): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(hoodieDir(tablePath), "metadata/col_stats")
    fs.mkdirs(dir)
    FileLanding.landFile(stats, new Path(dir, s"$head.parquet")): Unit
  }

  /** INCREMENTAL col-stats maintenance (hudi.apache.org: the metadata
    * table maintains its indexes PER COMMIT, never by rescanning the
    * table). Data files are immutable, so existing per-file stats
    * carry forward verbatim: the refresh scans ONLY files absent from
    * the newest index (require-proven in-run against the scan's
    * inputFiles), drops entries for files no longer active, and lands
    * the union at the head instant — O(new files) data I/O +
    * O(|files|) metadata, flat in table size. The indexed column set
    * comes from the existing index's own schema. No usable index →
    * refuses (the column choice belongs to [[writeColStatsIndex]]).
    * Returns the indexed head instant.
    */
  def refreshColStatsIndex(spark: SparkSession, tablePath: String): String = {
    val tl = HudiTimeline.load(spark, tablePath)
    val pick = tl.newestGeneration("col_stats").getOrElse(throw new IllegalArgumentException(
      s"$tablePath: no col-stats index on the timeline to refresh — " +
        "writeColStatsIndex first"))
    val head = tl.head
    if (head == pick) return pick
    val old = spark.read.parquet(new Path(tl.metadataDir("col_stats"), s"$pick.parquet").toString)
    val columns = old.columns.toIndexedSeq
      .filter(_.startsWith("min_")).map(_.stripPrefix("min_"))
    // the old index's entry list is metadata-bounded driver work —
    // the same budget the slice/group listing itself already spends
    val known = old.select("_g_file").collect().map(_.getString(0)).toSet
    import org.apache.spark.sql.functions.{col => c}
    val (freshStats, allowed, current, freshKeys) =
      if (tl.isMor) {
        // a group with ANY activity after the index instant recomputes
        // through the log-aware merge; untouched groups carry forward
        val groups = HudiTableReader.morGroups(tl)
        val fresh = groups.filter { g =>
          val newest = (g.base.map(_.instant) ++ g.logs.map(_._1)).max
          !known.contains(g.fileId) || newest > pick
        }
        (morColStatsOf(tl, fresh, columns),
          fresh.flatMap(_.base).map(b =>
            ScanPaths.normalizeDriver(s"$tablePath/${b.path}")).toSet,
          groups.map(_.fileId).toSet,
          fresh.map(_.fileId).toSet)
      } else {
        val slices = HudiTableReader.activeSlices(tl)
        val fresh = slices.filterNot(s0 => known.contains(s0.path))
        (colStatsOf(spark, tablePath, fresh, columns),
          fresh.map(s0 =>
            ScanPaths.normalizeDriver(s"$tablePath/${s0.path}")).toSet,
          slices.map(_.path).toSet,
          fresh.map(_.path).toSet)
      }
    // the incremental contract: the refresh may read the NEW (or, on
    // MOR, the post-index-touched) files and nothing else — at 100 TB
    // a full rescan is the cost the index exists to remove
    val scanned = freshStats.inputFiles.map(ScanPaths.normalizeDriver).toSet
    require(scanned.subsetOf(allowed),
      s"$tablePath: col-stats refresh escaped the increment — " +
        s"scanned ${(scanned -- allowed).take(3).mkString(",")}")
    val carried = current -- freshKeys
    val keep = if (carried.isEmpty) old.limit(0)
      else old.where(c("_g_file").isInCollection(carried))
    val merged = if (freshKeys.isEmpty) keep else keep.unionByName(freshStats)
    landColStats(spark, tablePath, merged, head)
    head
  }

  /** BLOOM-FILTER INDEX (the metadata-table `bloom_filters`
    * partition — the fourth standard Hudi metadata partition beside
    * `files`/`col_stats`/`record_index`, the UPSERT-PROBE
    * accelerator): one k=1 Bloom filter per active base file over its
    * `_hoodie_record_key` values — `xxhash64(key) pmod m`, stored as
    * the sorted array of set bucket positions (bounded at m ints per
    * file, exact enough to re-derive cross-engine) — published at
    * `.hoodie/metadata/bloom_filters/<headInstant>.parquet` from ONE
    * distributed scan whose per-file collect_set partial combines
    * map-side. [[upsert]] consults it to skip file groups PROVABLY
    * holding none of the batch's keys (false positives cost extra
    * scan, never correctness; files absent from the index are
    * conservatively kept). COW only, like its sibling partitions.
    * Returns the indexed instant.
    */
  def writeBloomIndex(spark: SparkSession, tablePath: String,
      m: Int = 1 << 16): String = {
    require(m >= 2, s"m must be >= 2, got $m")
    val tl = HudiTimeline.load(spark, tablePath)
    require(!tl.isMor,
      s"$tablePath: the bloom index is COW machinery — MOR log rows are invisible " +
        "to base-file keys; compact first")
    require(recordKeysOf(tl.properties).nonEmpty,
      s"$tablePath: the bloom index filters record keys — the table declares none")
    landBloomIndex(spark, tablePath,
      bloomRowsOf(spark, tablePath, HudiTableReader.activeSlices(tl), m), tl.head)
    tl.head
  }

  /** INCREMENTAL bloom-index maintenance: per-file filters over
    * immutable files carry forward verbatim; the refresh scans ONLY
    * files absent from the newest index (require-proven), drops dead
    * entries, keeps the existing `m`. No index → refuses. Returns the
    * indexed head instant.
    */
  def refreshBloomIndex(spark: SparkSession, tablePath: String): String = {
    val tl = HudiTimeline.load(spark, tablePath)
    require(!tl.isMor, s"$tablePath: the bloom index is COW machinery; compact first")
    val pick = tl.newestGeneration("bloom_filters").getOrElse(throw new IllegalArgumentException(
      s"$tablePath: no bloom index on the timeline to refresh — " +
        "writeBloomIndex first"))
    val head = tl.head
    if (head == pick) return pick
    val old = spark.read.parquet(new Path(tl.metadataDir("bloom_filters"), s"$pick.parquet").toString)
    val mIdx = old.select("m").limit(1).collect()
      .headOption.map(_.getLong(0).toInt).getOrElse(1 << 16)
    val slices = HudiTableReader.activeSlices(tl)
    val known = old.select("_g_file").collect().map(_.getString(0)).toSet
    val currentPaths = slices.map(_.path).toSet
    val fresh = slices.filterNot(s0 => known.contains(s0.path))
    val freshRows = bloomRowsOf(spark, tablePath, fresh, mIdx)
    val allowed = fresh.map(s0 =>
      ScanPaths.normalizeDriver(s"$tablePath/${s0.path}")).toSet
    val scanned = freshRows.inputFiles.map(ScanPaths.normalizeDriver).toSet
    require(scanned.subsetOf(allowed),
      s"$tablePath: bloom-index refresh escaped the new-file set")
    import org.apache.spark.sql.functions.{col => c}
    val keep = old.where(c("_g_file").isInCollection(currentPaths))
    val merged = if (fresh.isEmpty) keep else keep.unionByName(freshRows)
    landBloomIndex(spark, tablePath, merged, head)
    head
  }

  private def bloomRowsOf(spark: SparkSession, tablePath: String,
      slices: Seq[HudiTableReader.SliceWrite], m: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, _}
    if (slices.isEmpty) {
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("_g_file", StringType),
          StructField("bits", ArrayType(LongType, containsNull = false)),
          StructField("m", LongType))))
    }
    val absToRel = slices.map(s0 =>
      ScanPaths.normalizeDriver(s"$tablePath/${s0.path}") -> s0.path).toMap
    remapFileCol(spark,
      spark.read.parquet(slices.map(s0 => s"$tablePath/${s0.path}"): _*)
        .select(c("_hoodie_record_key").as("_g_key"),
          ScanPaths.normalizeScan(c("_metadata.file_path")).as("_g_file"))
        .groupBy(c("_g_file"))
        .agg(sort_array(collect_set(
          pmod(xxhash64(c("_g_key")), lit(m.toLong)))).as("bits"))
        .withColumn("m", lit(m.toLong)),
      absToRel, "_g_file")
  }

  private def landBloomIndex(spark: SparkSession, tablePath: String,
      rows: DataFrame, head: String): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(hoodieDir(tablePath), "metadata/bloom_filters")
    fs.mkdirs(dir)
    FileLanding.landFile(rows, new Path(dir, s"$head.parquet")): Unit
  }

  /** The slices an UPSERT's key-matching scan must read, through the
    * newest usable bloom index: groups whose filter proves every
    * batch key absent drop out (their rows can only be carried, and
    * untouched groups never rewrite); files absent from the index —
    * or an index off the timeline — keep conservatively. `probes` is
    * one string column `_g_probe` of candidate `_hoodie_record_key`
    * forms (callers pass BOTH the `field:value` and raw single-key
    * forms — a superset of buckets can only widen the scan, never
    * miss an update). All-pruned returns one schema-keeping slice.
    */
  private[sources] def bloomPruneSlices(tl: HudiTimeline,
      slices: Seq[HudiTableReader.SliceWrite],
      probes: DataFrame): Seq[HudiTableReader.SliceWrite] = {
    import org.apache.spark.sql.functions.{col => c, _}
    val pick = tl.newestGeneration("bloom_filters") match {
      case Some(p) => p
      case None => return slices
    }
    val idx = tl.spark.read.parquet(new Path(tl.metadataDir("bloom_filters"), s"$pick.parquet").toString)
    val mRow = idx.select("m").limit(1).collect().headOption
    if (mRow.isEmpty) return slices
    val mIdx = mRow.get.getLong(0)
    // the probe BUCKET set is bounded by m, not by batch size
    val probeBuckets = probes
      .select(pmod(xxhash64(c("_g_probe")), lit(mIdx)).as("b"))
      .distinct().collect().map(_.getLong(0))
    val verdicts = idx.select(c("_g_file"),
        arrays_overlap(c("bits"), typedLit(probeBuckets)).as("hit"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    val kept = slices.filter(s0 => verdicts.getOrElse(s0.path, true))
    if (kept.nonEmpty) kept else slices.take(1)
  }

  /** RECORD-LEVEL INDEX (the metadata-table `record_index` partition
    * — the third leg beside `files` and `col_stats`): one distributed
    * scan of the active slices publishes (record key → file group id)
    * at `.hoodie/metadata/record_index/<headInstant>/` as a
    * key-range-clustered parquet DIRECTORY (row-per-record — a single
    * file would serialize the whole key space through one task; the
    * range clustering is what makes a point lookup's `key IN (…)`
    * prune to one or two index files via footer min/max).
    * [[HudiTableReader.pointLookup]] starts from it and adds only the
    * file groups post-index instants touched. MOR tables build
    * LOG-AWARE: dirty groups resolve through the realtime merge (log
    * inserts index, tombstones drop) with the group id threaded — no
    * compact-first migration. Returns the indexed instant.
    */
  def writeRecordIndex(spark: SparkSession, tablePath: String,
      indexFiles: Int = 0): String =
    writeRecordIndex(HudiTimeline.load(spark, tablePath), indexFiles)

  private def writeRecordIndex(tl: HudiTimeline, indexFiles: Int): String = {
    val (spark, tablePath, fs) = (tl.spark, tl.tablePath, tl.fs)
    require(recordKeysOf(tl.properties).nonEmpty,
      s"$tablePath: the record index maps record keys — the table declares none " +
        "(hoodie.table.recordkey.fields)")
    val head = tl.head
    import org.apache.spark.sql.functions.{col => c}
    // MOR builds LOG-AWARE: the realtime merge already resolves each
    // group's live keys (log inserts visible, tombstones dropped) and
    // threads the group id through — no compact-first migration
    val isMor = tl.isMor
    val morGroups = if (isMor) HudiTableReader.morGroups(tl) else Nil
    val cowSlices = if (isMor) Nil else HudiTableReader.activeSlices(tl)
    val entries =
      if (isMor) morRecordEntriesOf(tl, morGroups)
      else recordEntriesOf(spark, tablePath, cowSlices)
    // SCALE-ADAPTIVE file count (indexFiles = 0, the default): derive
    // the range-partition count from the table's base bytes — one
    // index file per ~256 MB of base data (entries are a fraction of
    // the base row width) — instead of a constant that writes 32
    // near-empty files on a small table and 32 oversized ones at
    // 100 TB (guide §2: partitioning must derive from input size).
    // An EXPLICIT indexFiles is honored verbatim.
    val nIdxFiles =
      if (indexFiles > 0) indexFiles
      else {
        val basePaths = (morGroups.flatMap(_.base) ++ cowSlices)
          .map(s0 => new Path(tablePath, s0.path))
        import scala.collection.parallel.CollectionConverters._
        val baseBytes = basePaths.par.map(p =>
          try fs.getFileStatus(p).getLen catch { case _: java.io.IOException => 0L }).sum
        math.max(1L, math.min(10000L, baseBytes / (256L * 1024 * 1024) + 1)).toInt
      }
    val dir = tl.metadataDir("record_index")
    fs.mkdirs(dir)
    val stage = new Path(tablePath, s".graft-ridx-${java.util.UUID.randomUUID()}")
    // persist across the range-partitioner's SAMPLING pass + the
    // write: without it the entries subtree (on MOR, the realtime
    // merge of every dirty group) evaluates twice per build
    entries.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try entries.repartitionByRange(nIdxFiles, c("key")).sortWithinPartitions(c("key"))
      .write.parquet(stage.toString)
    finally entries.unpersist()
    val dst = new Path(dir, head)
    fs.delete(dst, true)
    if (!fs.rename(stage, dst)) throw new IllegalStateException(
      s"$tablePath: failed to land record index $dst")
    // a full rebuild SUPERSEDES every older generation: deltas whose
    // instant precedes the new base are dead weight, and deltas AT
    // the same instant would double-serve — clear the chain
    fs.listStatus(dir).map(_.getPath).filter { p =>
      val n = p.getName
      n.endsWith(".delta") && n.stripSuffix(".delta") <= head
    }.foreach(p => fs.delete(p, true): Unit)
    head
  }

  /** (record key → file group id) over MOR `groups`, LOG-AWARE:
    * log-free groups scan their base like COW; dirty groups resolve
    * through the realtime merge with the group id threaded — log
    * inserts index, tombstoned keys drop. The shuffle is bounded by
    * the DIRTY groups' bytes. */
  private def morRecordEntriesOf(tl: HudiTimeline,
      groups: Seq[HudiTableReader.GroupSlices]): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    val (spark, tablePath) = (tl.spark, tl.tablePath)
    val clean = groups.filter(_.logs.isEmpty).flatMap(_.base)
    val dirty = groups.filter(_.logs.nonEmpty)
    val cleanE = recordEntriesOf(spark, tablePath, clean)
    if (dirty.isEmpty) return cleanE
    val schema = HudiTableReader.morSchema(tl, groups)
    require(schema.fieldNames.contains("_hoodie_record_key"),
      s"$tablePath: base/log schema carries no _hoodie_record_key — the log merge " +
        "has no record identity to index on")
    val dirtyE = HudiTableReader
      .mergeDirtyGroups(spark, tablePath, dirty, schema, keepFileId = true)
      .select(c("_hoodie_record_key").as("key"), c("_g_fid").as("fileId"))
    if (clean.isEmpty) dirtyE else cleanE.unionByName(dirtyE)
  }

  /** (record key → file group id) over `slices`' base files, one
    * distributed scan. The file→fileId mapping attaches via a
    * BROADCAST join of a (path, fileId) frame against
    * `_metadata.file_path` — |file groups|-bounded like the old
    * driver-map UDF, but the scan stays inside whole-stage codegen
    * (a Scala UDF on the hot path would break it for every record
    * scanned). Empty slices produce an empty, schema-correct frame
    * without any scan job. */
  private[sources] def recordEntriesOf(spark: SparkSession, tablePath: String,
      slices: Seq[HudiTableReader.SliceWrite]): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, broadcast}
    if (slices.isEmpty) {
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("key", StringType), StructField("fileId", StringType))))
    }
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val fidRows = slices.map(s0 => org.apache.spark.sql.Row(
      ScanPaths.normalizeDriver(s"$tablePath/${s0.path}"), s0.fileId))
    val fidDf = spark.createDataFrame(fidRows.asJava, StructType(Seq(
      StructField("_g_file", StringType), StructField("fileId", StringType))))
    spark.read.parquet(slices.map(s0 => s"$tablePath/${s0.path}"): _*)
      .select(c("_hoodie_record_key").as("key"),
        ScanPaths.normalizeScan(c("_metadata.file_path")).as("_g_file"))
      .join(broadcast(fidDf), Seq("_g_file"), "left")
      .select(c("key"), c("fileId"))
  }

  /** INCREMENTAL record-index maintenance (hudi.apache.org: the
    * metadata table maintains its indexes PER COMMIT — a full rebuild
    * is the O(table) scan the index exists to avoid). Folds every
    * commit after the newest indexed instant into the index as ONE
    * delta generation at `metadata/record_index/<head>.delta/`:
    * (key → fileId) re-enumerated for exactly the file groups those
    * commits touched — plus groups a clustering REPLACED — with a
    * `_covered` sidecar naming them. A reader treats a covered
    * group's older bindings as dead, so deleted keys never resurrect
    * and moved keys resolve to their new group (the mover's commit
    * wrote that group, so the same delta carries the new binding).
    * The refresh scans ONLY the touched groups' current slices,
    * require-proven in-run against the scan's inputFiles: O(commits
    * since the index), flat in table size. Crash-safe: the sidecar
    * lands inside the staged directory BEFORE the atomic rename, so
    * a visible delta is always complete. After `maxDeltas`
    * generations the refresh COMPACTS — one [[writeRecordIndex]]
    * rebuild resets the chain (the base+delta+compact lifecycle of
    * MOR itself, applied to the index). Returns the indexed instant.
    */
  def refreshRecordIndex(spark: SparkSession, tablePath: String,
      maxDeltas: Int = 16): String = {
    val tl = HudiTimeline.load(spark, tablePath)
    val fs = tl.fs
    // nothing to fold into, or a chain long enough that lookups pay
    // |deltas| probes: (re)build the base
    val base = tl.newestGeneration("record_index") match {
      case Some(b) => b
      case None => return writeRecordIndex(tl, 0)
    }
    val deltas = HudiTableReader.recordIndexDeltas(tl, base)
    if (deltas.size >= maxDeltas) return writeRecordIndex(tl, 0)
    val idxHead = (base +: deltas).max
    val newer = tl.instants.filter(_._1 > idxHead)
    if (newer.isEmpty) return idxHead
    val head = newer.map(_._1).max
    val covered: Set[String] = newer.flatMap { case (i, k) =>
      tl.writes(i, k).map(_.fileId) ++
        (if (k == "replacecommit") tl.replacedIds(i) else Set.empty[String])
    }.toSet
    // the fold re-enumerates ONLY the touched groups — on MOR through
    // the log-aware realtime merge of those groups (a deltacommit's
    // log append makes its whole group's binding set current again)
    val (entries, allowed, nCovered) =
      if (tl.isMor) {
        val groups = HudiTableReader.morGroups(tl)
          .filter(g => covered.contains(g.fileId))
        (morRecordEntriesOf(tl, groups),
          groups.flatMap(_.base).map(b =>
            ScanPaths.normalizeDriver(s"$tablePath/${b.path}")).toSet,
          groups.size)
      } else {
        val slices = HudiTableReader.activeSlices(tl)
          .filter(s0 => covered.contains(s0.fileId))
        (recordEntriesOf(spark, tablePath, slices),
          slices.map(s0 =>
            ScanPaths.normalizeDriver(s"$tablePath/${s0.path}")).toSet,
          slices.size)
      }
    // the incremental contract: the refresh reads the TOUCHED groups
    // and nothing else (MOR log blocks decode inside tasks; the plan's
    // inputFiles are the touched groups' base files)
    val scanned = entries.inputFiles.map(ScanPaths.normalizeDriver).toSet
    require(scanned.subsetOf(allowed),
      s"$tablePath: record-index refresh escaped the touched-group set — " +
        s"scanned ${(scanned -- allowed).take(3).mkString(",")}")
    import org.apache.spark.sql.functions.{col => c}
    val stage = new Path(tablePath, s".graft-ridxd-${java.util.UUID.randomUUID()}")
    // deltas are commit-sized: a handful of range-clustered files keep
    // the lookup's IN-filter footer pruning without tiny-file litter.
    // persist spans the range sampling + the write (same double-
    // evaluation hazard as the full build).
    entries.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try entries.repartitionByRange(math.min(8, math.max(1, nCovered)), c("key"))
      .sortWithinPartitions(c("key"))
      .write.parquet(stage.toString)
    finally entries.unpersist()
    val sidecar = fs.create(new Path(stage, "_covered"), true)
    try sidecar.write((covered.toSeq.sorted.mkString("\n") + "\n").getBytes("UTF-8"))
    finally sidecar.close()
    val dst = new Path(tl.metadataDir("record_index"), s"$head.delta")
    fs.delete(dst, true)
    if (!fs.rename(stage, dst)) throw new IllegalStateException(
      s"$tablePath: failed to land record-index delta $dst")
    head
  }

  /** TIMELINE ARCHIVAL (Hudi's own archival service move): rotate all
    * completed instants except the newest `keepLast` out of the
    * active `.hoodie` listing into `.hoodie/archived/` — what keeps
    * the active listing O(recent commits) on long-running tables
    * (the reference's own tables would cross the archival horizon in
    * weeks, template.py:304). The archive file is the PUBLIC Hudi
    * log-file container ([[HudiLog]] — same codec as MOR logs, how
    * Hudi's own service writes archives) holding one Avro data block
    * of (commitTime, actionType, metadata) entries;
    * [[HudiTimeline.archivedEntries]] replays them UNDER the
    * active timeline, so every read keeps seeing file groups written
    * only by archived instants. Crash-safe ordering: the archive
    * lands BEFORE active meta files are removed (a crash in between
    * leaves an instant in both places; the reader serves the active
    * copy and dedupes). Returns the number of instants archived.
    */
  def archiveTimeline(spark: SparkSession, tablePath: String, keepLast: Int): Int = {
    require(keepLast >= 1, "keepLast must be >= 1 — the timeline head stays active")
    val tl = HudiTimeline.load(spark, tablePath)
    val (dir, fs) = (hoodieDir(tablePath), tl.fs)
    val toArchive = tl.active.dropRight(keepLast)
    if (toArchive.isEmpty) return 0
    val schemaJson =
      """{"type":"record","name":"archived_instant","fields":[""" +
        """{"name":"commitTime","type":"string"},""" +
        """{"name":"actionType","type":"string"},""" +
        """{"name":"metadata","type":"string"}]}"""
    val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
    val writer = new org.apache.avro.generic.GenericDatumWriter[
      org.apache.avro.generic.GenericRecord](schema)
    val records = toArchive.map { case (instant, kind) =>
      val r = new org.apache.avro.generic.GenericData.Record(schema)
      r.put("commitTime", instant); r.put("actionType", kind)
      r.put("metadata", tl.metaText(instant, kind))
      val bos = new java.io.ByteArrayOutputStream()
      val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(bos, null)
      writer.write(r, enc); enc.flush()
      bos.toByteArray
    }
    val archDir = new Path(dir, "archived")
    fs.mkdirs(archDir)
    val seqNo = tl.entries("archived").count(_.startsWith(".commits_.archive.")) + 1
    HudiLog.write(spark.sparkContext.hadoopConfiguration,
      new Path(archDir, s".commits_.archive.$seqNo").toString,
      Seq(HudiLog.DataBlock(toArchive.last._1, schemaJson, records)))
    // only after the archive is durable do the active copies go
    toArchive.foreach { case (instant, kind) =>
      fs.delete(new Path(dir, s"$instant.$kind"), false): Unit
      Seq(s"$instant.$kind.requested", s"$instant.$kind.inflight",
        s"$instant.requested", s"$instant.inflight").foreach { leftover =>
        val p = new Path(dir, leftover)
        if (fs.exists(p)) { fs.delete(p, false): Unit }
      }
    }
    toArchive.size
  }

  /** COMPACTION: fold every file group's pending logs into a new base
    * file under an ordinary `.commit` — after it, the read-optimized
    * view equals the real-time view again. One distributed merge job
    * (bounded by the DIRTY groups' bytes), one driver commit bounded
    * by |dirty groups|. Returns the compaction instant.
    */
  def compact(spark: SparkSession, tablePath: String): String = {
    val tl = HudiTimeline.load(spark, tablePath)
    val groups = HudiTableReader.morGroups(tl)
    val dirty = groups.filter(_.logs.nonEmpty)
    if (dirty.isEmpty) throw new IllegalArgumentException(
      s"$tablePath: nothing to compact — no file group carries pending log files")
    val schema = HudiTableReader.morSchema(tl, groups)
    val merged = HudiTableReader.mergeDirtyGroups(spark, tablePath, dirty, schema,
      keepFileId = true)
    val instant = instantNow(0L)
    // each group's new base lands beside its old one
    val partitionOf = dirty.map(g => g.fileId ->
      g.base.map(_.path.split('/').dropRight(1).mkString("/")).getOrElse("")).toMap
    // each stat names the slice it compacts: the group's base instant
    val prevOf = dirty.map(g => g.fileId -> g.base.fold("null")(_.instant)).toMap
    // repartition by group and sort each task's rows by it: each group
    // lands from one task, in one file. Explicit count: without one
    // AQE coalesces a small compaction to one task that merges and
    // writes every group serially.
    val landed = landGroups(
      merged.withColumn("_g_part", element_at(typedLit(partitionOf), col("_g_fid")))
        .repartition(spark.sessionState.conf.numShufflePartitions, col("_g_fid"))
        .sortWithinPartitions("_g_fid"),
      tablePath, instant)
    // every record tombstoned: an explicit EMPTY base still repoints
    // the slice and clears the group's logs
    val landedIds = landed.map(_.fileId).toSet
    val empties = FileLanding.landEmpty(spark, schema, tablePath,
      dirty.filterNot(g => landedIds(g.fileId)).map(g => partitionOf(g.fileId) -> g.fileId),
      basePathOf(instant)).map(newGroupStat)
    val stats = (landed ++ empties).map(w => w.copy(prevCommit = prevOf(w.fileId)))
    if (!publish(spark, tablePath, instant, "commit", "COMPACT", stats))
      throw new IllegalStateException(
        s"$tablePath: compaction instant $instant already taken — single-writer contract")
    instant
  }
}
