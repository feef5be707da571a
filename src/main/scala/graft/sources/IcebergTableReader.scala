package graft.sources

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** READ-ONLY adapter for externally-written Apache Iceberg tables —
  * the third leg of the "point the engine at an existing lakehouse
  * table" interop surface (template.py:207-217's entry point, beside
  * [[DeltaTableReader]] and [[HudiTableReader]]), implemented from
  * the PUBLIC Iceberg table spec (iceberg.apache.org/spec):
  *
  *  - one [[IcebergMetadata]] value per operation holds the current
  *    metadata JSON: the snapshot log (`snapshots`: id, parent,
  *    operation summary, manifest-list), schemas, specs and refs;
  *  - a snapshot's MANIFEST LIST is a small Avro file of manifest
  *    paths (+ `added_snapshot_id`, and in v2 a `content` field
  *    separating data from delete manifests);
  *  - each MANIFEST is an Avro file of entries: `status`
  *    (1=added, 0=existing, 2=deleted) and a `data_file` struct
  *    (`file_path`, and in v2 `content`: 0=data, 1=position deletes,
  *    2=equality deletes).
  *
  * The snapshot is the union of live (status != deleted) data files
  * across the current snapshot's manifests, read as ONE distributed
  * parquet scan — identity-partition columns ride the data files in
  * Iceberg, so nothing needs reconstruction. Manifest/metadata
  * parsing is DRIVER-SIDE METADATA, bounded by manifest counts (the
  * same shape Iceberg's own planner has; at 100 TB the manifest list
  * is what makes planning O(manifests), not O(files-on-disk)).
  *
  * v2 POSITION DELETES are APPLIED: delete manifests' parquet files
  * of (file_path, pos) rows subtract from the data scan with an anti
  * join on `_metadata.file_path`/`row_index` — the same positional
  * identity graft's own DeletionVectors machinery uses, bounded by
  * |deletes|, never table bytes. EQUALITY deletes (content=2) are
  * applied too — one delete-file scan + a sequence-scoped null-safe
  * anti join on the declared key columns. Incremental reads
  * follow the snapshot log parent chain: appends-only between the
  * checkpoint and the current snapshot surface exactly the files
  * their snapshots ADDED (status=1, tagged `_snapshot_id`); an
  * overwrite/delete/replace snapshot in the range refuses — the same
  * append-scoped contract the Delta/Hudi adapters and graft's own
  * IncrementalReader hold — while [[changeFeedSince]] serves the
  * CDC-grade feed across all three delete shapes.
  */
object IcebergTableReader {

  final case class SnapshotInfo(
      id: Long,
      parentId: Option[Long],
      operation: String,
      manifestList: String,
      timestampMs: Long = 0L,
      summary: Map[String, String] = Map.empty) // extra keys beyond operation

  /** The snapshot log from the current metadata JSON, oldest first,
    * plus the current snapshot id.
    */
  def snapshotLog(spark: SparkSession, tablePath: String): (Seq[SnapshotInfo], Long) =
    IcebergMetadata.load(spark, tablePath).snapshotLog

  /** The table's DEFAULT sort order ([[IcebergMetadata.sortOrder]]). */
  def sortOrder(spark: SparkSession, tablePath: String): Seq[(String, String, String)] =
    IcebergMetadata.load(spark, tablePath).sortOrder

  /** The CURRENT snapshot's registered PARTITION STATISTICS file as a
    * DataFrame in the spec's schema (partition struct + per-partition
    * data/delete census). A metadata-only read — |partitions| rows
    * from one parquet file, never a manifest walk; refuses when no
    * stats are registered for the current snapshot (stale stats for
    * an older snapshot must not silently serve) — run
    * `IcebergTableWriter.writePartitionStats` first.
    */
  def partitionStats(spark: SparkSession, tablePath: String): org.apache.spark.sql.DataFrame = {
    val m = IcebergMetadata.load(spark, tablePath)
    val currentId = m.currentSnapshotId
    val path = m.partitionStatsPath(currentId).getOrElse(throw new IllegalStateException(
      s"$tablePath: no partition statistics registered for snapshot $currentId — " +
        "run IcebergTableWriter.writePartitionStats (stale stats for an older " +
        "snapshot never serve silently)"))
    spark.read.parquet(resolve(tablePath, path))
  }

  private def readAvro(spark: SparkSession, path: String): Seq[GenericRecord] = {
    val p = new Path(path)
    val in = new FsInput(p, spark.sparkContext.hadoopConfiguration)
    val reader = new DataFileReader[GenericRecord](in, new GenericDatumReader[GenericRecord]())
    try {
      val b = Seq.newBuilder[GenericRecord]
      while (reader.hasNext) b += reader.next()
      b.result()
    } finally reader.close()
  }

  private def fieldLong(r: GenericRecord, name: String): Option[Long] =
    if (r.getSchema.getField(name) == null) None
    else Option(r.get(name)).map(_.asInstanceOf[Number].longValue())

  private def fieldInt(r: GenericRecord, name: String, default: Int): Int =
    if (r.getSchema.getField(name) == null) default
    else Option(r.get(name)).map(_.asInstanceOf[Number].intValue()).getOrElse(default)

  /** One manifest entry: status, addedSnapshotId, data sequence
    * number (v2; None on v1 entries), the file path/content, its
    * equality field ids (content=2 files) and identity-partition
    * values (stringified, as the writer records them).
    */
  final case class ManifestEntry(status: Int, snapshotId: Option[Long],
      sequence: Option[Long], filePath: String, content: Int,
      equalityIds: Seq[Int] = Nil, partition: Map[String, String] = Map.empty,
      lowerBounds: Map[Int, Array[Byte]] = Map.empty,
      upperBounds: Map[Int, Array[Byte]] = Map.empty,
      referencedDataFile: Option[String] = None,
      contentOffset: Option[Long] = None,
      contentSize: Option[Long] = None,
      recordCount: Option[Long] = None)

  /** Manifest entries of `manifestPath` (relative-or-absolute),
    * resolved against the table — the snapshot-expiry service's
    * inventory hook. */
  private[sources] def manifestEntriesPublic(spark: SparkSession, tablePath: String,
      manifestPath: String): Seq[ManifestEntry] =
    manifestEntries(spark, resolve(tablePath, manifestPath))

  private def manifestEntries(spark: SparkSession, manifestPath: String): Seq[ManifestEntry] =
    readAvro(spark, manifestPath).map { r =>
      val df = r.get("data_file").asInstanceOf[GenericRecord]
      val eqIds: Seq[Int] =
        if (df.getSchema.getField("equality_ids") == null) Nil
        else Option(df.get("equality_ids")) match {
          case Some(l: java.util.List[_]) =>
            import scala.jdk.CollectionConverters._
            l.asScala.toSeq.map(_.asInstanceOf[Number].intValue())
          case _ => Nil
        }
      val partition: Map[String, String] =
        if (df.getSchema.getField("partition") == null) Map.empty
        else Option(df.get("partition")) match {
          case Some(p: GenericRecord) =>
            import scala.jdk.CollectionConverters._
            p.getSchema.getFields.asScala.flatMap { f =>
              Option(p.get(f.pos())).map(v => f.name() -> v.toString)
            }.toMap
          case _ => Map.empty
        }
      def boundsOf(field: String): Map[Int, Array[Byte]] =
        if (df.getSchema.getField(field) == null) Map.empty
        else Option(df.get(field)) match {
          case Some(l: java.util.List[_]) =>
            import scala.jdk.CollectionConverters._
            l.asScala.toSeq.collect { case kv: GenericRecord =>
              val bytes = kv.get("value") match {
                case bb: java.nio.ByteBuffer =>
                  val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
                case arr: Array[Byte] => arr
                case other => other.toString.getBytes("UTF-8")
              }
              kv.get("key").asInstanceOf[Number].intValue() -> bytes
            }.toMap
          case _ => Map.empty
        }
      def dfStr(name: String): Option[String] =
        if (df.getSchema.getField(name) == null) None
        else Option(df.get(name)).map(_.toString)
      def dfLong(name: String): Option[Long] =
        if (df.getSchema.getField(name) == null) None
        else Option(df.get(name)).map(_.asInstanceOf[Number].longValue())
      ManifestEntry(
        status = fieldInt(r, "status", 1),
        snapshotId = fieldLong(r, "snapshot_id"),
        sequence = fieldLong(r, "sequence_number"),
        filePath = df.get("file_path").toString,
        content = fieldInt(df, "content", 0),
        equalityIds = eqIds,
        partition = partition,
        lowerBounds = boundsOf("lower_bounds"),
        upperBounds = boundsOf("upper_bounds"),
        // v3 DELETION VECTORS: a content=1 entry whose file is a
        // puffin blob, not a parquet position-delete file
        referencedDataFile = dfStr("referenced_data_file"),
        contentOffset = dfLong("content_offset"),
        contentSize = dfLong("content_size_in_bytes"),
        recordCount = dfLong("record_count"))
    }

  /** (manifestPath, addedSnapshotId, manifestContent, listSequence)
    * rows of a snapshot's manifest list. v1 lists carry no content
    * field (all data manifests) and no sequence_number; v2 lists'
    * sequence_number is the INHERITANCE source for entries whose own
    * sequence_number is null (spec "Sequence Number Inheritance").
    */
  private def manifestsOf(spark: SparkSession,
      manifestList: String): Seq[(String, Option[Long], Int, Option[Long])] =
    readAvro(spark, manifestList).map { r =>
      (r.get("manifest_path").toString,
        fieldLong(r, "added_snapshot_id"),
        fieldInt(r, "content", 0),
        fieldLong(r, "sequence_number"))
    }

  /** The current snapshot's manifest-list rows as (manifestPath,
    * addedSnapshotId, content, listSequence) — exposed for the
    * writer's manifest-reuse commits, which must carry each reused
    * manifest's ORIGINAL list sequence forward verbatim (entries in
    * inheritance form resolve against it).
    */
  private[sources] def manifestListEntries(spark: SparkSession, tablePath: String,
      manifestList: String): Seq[(String, Long, Int, Option[Long])] =
    manifestsOf(spark, resolve(tablePath, manifestList)).map {
      case (p, added, content, listSeq) => (p, added.getOrElse(0L), content, listSeq)
    }

  /** Expand the plan's deletion vectors for the WRITER's live-row
    * computation — same executor-side decode as the read path. */
  private[sources] def dvPositionsOf(spark: SparkSession, tablePath: String,
      dvs: Seq[DvRef]): DataFrame = dvPositionsDf(spark, tablePath, dvs)

  /** One EQUALITY-delete file (content=2): its equality columns
    * (resolved from field ids) and the sequence number that scopes
    * which data files it applies to (strictly older, per spec).
    */
  final case class EqDelete(path: String, equalityColumns: Seq[String], sequence: Long)

  /** The current snapshot's live file plan: data files (with their
    * data sequence numbers and identity-partition values), v2
    * POSITION-DELETE files, and EQUALITY-delete files — all applied
    * by [[snapshot]].
    */
  /** One v3 DELETION VECTOR: the puffin blob location and the single
    * data file it masks (spec: exactly one DV per data file).
    */
  final case class DvRef(puffinPath: String, offset: Long, length: Long,
      referencedDataFile: String)

  final case class PlanFiles(
      data: Seq[String],
      positionDeletes: Seq[String],
      equalityDeletes: Seq[EqDelete] = Nil,
      dataSequences: Map[String, Long] = Map.empty,
      bounds: Map[String, (Map[Int, Array[Byte]], Map[Int, Array[Byte]])] = Map.empty,
      deletionVectors: Seq[DvRef] = Nil)

  def planFiles(spark: SparkSession, tablePath: String): PlanFiles =
    planFiles(spark, IcebergMetadata.load(spark, tablePath))

  /** The live file plan of `m`'s current snapshot. */
  private[sources] def planFiles(spark: SparkSession, m: IcebergMetadata): PlanFiles =
    planFilesOf(spark, m, m.currentSnapshot)

  /** [[planFiles]] with identity-partition pruning: entries whose
    * recorded partition values fail `pruner` never reach the scan —
    * metadata-only, before any data I/O (the manifest-level half of
    * Iceberg's own partition pruning).
    */
  def planFilesPruned(spark: SparkSession, tablePath: String,
      pruner: Map[String, String] => Boolean): PlanFiles =
    prunedPlan(spark, IcebergMetadata.load(spark, tablePath), pruner)

  private def prunedPlan(spark: SparkSession, m: IcebergMetadata,
      pruner: Map[String, String] => Boolean): PlanFiles =
    planFilesOf(spark, m, m.currentSnapshot, pruner)

  private def planFilesOf(spark: SparkSession, m: IcebergMetadata,
      snap: SnapshotInfo, pruner: Map[String, String] => Boolean = _ => true): PlanFiles = {
    val tablePath = m.tablePath
    val manifests = manifestsOf(spark, resolve(tablePath, snap.manifestList))
    val data = Seq.newBuilder[(String, Option[Long])]
    val posDeletes = Seq.newBuilder[String]
    val dvRefs = Seq.newBuilder[DvRef]
    val eqDeletes = Seq.newBuilder[EqDelete]
    val boundsB = Map.newBuilder[String, (Map[Int, Array[Byte]], Map[Int, Array[Byte]])]
    val idToName = m.fieldNames
    manifests.foreach { case (mpath, _, mcontent, mseq) =>
      manifestEntries(spark, resolve(tablePath, mpath)).foreach { e0 =>
        // SEQUENCE-NUMBER INHERITANCE (spec): an ADDED entry (status=1)
        // with null sequence_number inherits the manifest's own
        // sequence_number from the MANIFEST LIST — the form real
        // engines' writers produce. EXISTING entries (status=0) must
        // carry theirs explicitly (they predate the manifest).
        val e =
          if (e0.sequence.isEmpty && e0.status == 1 && mseq.isDefined)
            e0.copy(sequence = mseq)
          else e0
        if (e.status != 2) { // 2 = deleted entry
          (mcontent, e.content) match {
            case (0, 0) =>
              if (pruner(e.partition)) {
                data += ((e.filePath, e.sequence))
                if (e.lowerBounds.nonEmpty || e.upperBounds.nonEmpty)
                  boundsB += (e.filePath -> ((e.lowerBounds, e.upperBounds)))
              }
            case (1, 1) =>
              // v3 DELETION VECTOR (a puffin blob masking ONE data
              // file) vs v2 position-delete parquet: the spec keys on
              // the content_offset/referenced_data_file fields
              (e.contentOffset, e.contentSize, e.referencedDataFile) match {
                case (Some(off), Some(sz), Some(ref)) =>
                  dvRefs += DvRef(e.filePath, off, sz, ref)
                case (None, None, _) => posDeletes += e.filePath
                case _ => throw new IllegalStateException(
                  s"$tablePath: delete entry ${e.filePath} carries a PARTIAL deletion-" +
                    "vector reference (offset/size/referenced file must all be present); " +
                    "refusing")
              }
            case (1, 2) =>
              val names = e.equalityIds.map(id => idToName.getOrElse(id,
                throw new IllegalStateException(
                  s"$tablePath: equality-delete file ${e.filePath} names field id $id, " +
                    "which the table schema does not declare; refusing")))
              if (names.isEmpty) throw new IllegalStateException(
                s"$tablePath: equality-delete file ${e.filePath} declares no " +
                  "equality_ids — nothing to match on; refusing")
              val seq = e.sequence.getOrElse(throw new IllegalStateException(
                s"$tablePath: equality-delete file ${e.filePath} carries no sequence " +
                  "number — its scope (which data files it applies to) is undefined; refusing"))
              eqDeletes += EqDelete(e.filePath, names, seq)
            case (mc, ec) => throw new IllegalStateException(
              s"$tablePath: manifest $mpath (content=$mc) carries entry ${e.filePath} " +
                s"with content=$ec — inconsistent metadata; refusing")
          }
        }
      }
    }
    val dataFiles = data.result().distinct
    val eqs = eqDeletes.result().distinct
    // inheritance resolved above (ADDED entries take the manifest
    // list's sequence_number); an entry STILL without one here means
    // the list itself carries none (v1 list / spec-violating writer) —
    // with equality deletes in play a defaulted sequence would
    // mis-scope them (a post-delete data file treated as strictly
    // older silently LOSES matching rows), so refuse loudly
    if (eqs.nonEmpty) dataFiles.collectFirst { case (p, None) => p }.foreach { p =>
      throw new IllegalStateException(
        s"$tablePath: data file $p carries no sequence number (and its manifest-list " +
          "entry offers none to inherit) while equality deletes exist — their scope " +
          "over this file is undefined; refusing")
    }
    PlanFiles(dataFiles.map(_._1), posDeletes.result().distinct,
      eqs, dataFiles.collect { case (p, Some(s)) => p -> s }.toMap, boundsB.result(),
      dvRefs.result().distinct)
  }

  /** Iceberg single-value DEserialization for the numeric bound
    * types the skipping compare handles; None = not comparable
    * (readers keep the file conservatively). */
  private def decodeBound(tpe: String, bytes: Array[Byte]): Option[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    tpe match {
      case "int" if bytes.length >= 4 => Some(bb.getInt.toDouble)
      case "long" if bytes.length >= 8 => Some(bb.getLong.toDouble)
      case "double" if bytes.length >= 8 => Some(bb.getDouble)
      case _ => None
    }
  }

  /** [[planFiles]] with STATS-BASED FILE SKIPPING (Iceberg's own
    * planning move: manifests carry per-field lower/upper bounds, and
    * a file whose recorded range provably misses `[lo, hi]` on
    * `column` never reaches the scan). Bound-less files and
    * non-numeric bound types are conservatively KEPT — skipping
    * prunes I/O, never semantics. Metadata-only, before any data I/O.
    */
  def planFilesSkipping(spark: SparkSession, tablePath: String,
      column: String, lo: Double, hi: Double): PlanFiles =
    skippingPlan(spark, IcebergMetadata.load(spark, tablePath), column, lo, hi)

  private def skippingPlan(spark: SparkSession, m: IcebergMetadata,
      column: String, lo: Double, hi: Double): PlanFiles = {
    val plan = planFiles(spark, m)
    val fid = m.fieldNames.map(_.swap).getOrElse(column, throw new IllegalArgumentException(
      s"${m.tablePath}: skipping column $column is not a declared table column"))
    val tpe = m.fieldTypes.getOrElse(fid, "")
    val kept = plan.data.filter { f =>
      plan.bounds.get(f) match {
        case None => true
        case Some((lower, upper)) =>
          val mn = lower.get(fid).flatMap(decodeBound(tpe, _))
          val mx = upper.get(fid).flatMap(decodeBound(tpe, _))
          // keep unless the recorded range PROVABLY misses [lo, hi]
          !(mn.exists(_ > hi) || mx.exists(_ < lo))
      }
    }
    plan.copy(data = kept)
  }

  /** Snapshot read over the skipping-pruned file set — deletes still
    * applied (position deletes name pruned-away files harmlessly;
    * the anti joins are |delete rows|-bounded either way).
    */
  def snapshotSkipping(spark: SparkSession, tablePath: String,
      column: String, lo: Double, hi: Double): DataFrame = {
    val m = IcebergMetadata.load(spark, tablePath)
    readPlan(spark, m, skippingPlan(spark, m, column, lo, hi))
  }

  /** Live data files of the current snapshot. Refuses when the
    * snapshot carries row-level deletes — callers of the bare file
    * list would silently over-return deleted rows (use [[snapshot]],
    * which applies position AND equality deletes).
    */
  def activeFiles(spark: SparkSession, tablePath: String): Seq[String] = {
    val plan = planFiles(spark, tablePath)
    if (plan.positionDeletes.nonEmpty || plan.equalityDeletes.nonEmpty ||
        plan.deletionVectors.nonEmpty)
      throw new IllegalStateException(
        s"$tablePath: the current snapshot carries row-level delete files — the bare " +
          "file list would over-return deleted rows; read through snapshot() instead")
    plan.data
  }

  private def resolve(tablePath: String, p: String): String =
    if (p.contains("://") || p.startsWith("/")) p else s"$tablePath/$p"

  /** Snapshot read: one distributed parquet scan of the current
    * snapshot's live data files, v2 POSITION DELETES subtracted.
    * Per the spec, a position-delete file is parquet rows of
    * (file_path, pos) naming exact row positions in exact data
    * files — the same (file, row_index) identity graft's own
    * [[DeletionVectors]] and the Delta DV read use, so the subtract
    * is the same anti join on the scan's `_metadata` columns:
    * bounded by |deletes-since-rewrite|, never table bytes, and the
    * delete files are themselves read as one distributed scan.
    */
  def snapshot(spark: SparkSession, tablePath: String): DataFrame =
    snapshot(spark, IcebergMetadata.load(spark, tablePath))

  /** [[snapshot]] of `m`'s current snapshot. */
  private[sources] def snapshot(spark: SparkSession, m: IcebergMetadata): DataFrame =
    readPlan(spark, m, planFiles(spark, m))

  /** Snapshot read with identity-partition pruning — only data files
    * whose partition values pass `pruner` are scanned (proven by the
    * plan's input-file set, not just row counts).
    */
  def snapshotPruned(spark: SparkSession, tablePath: String,
      pruner: Map[String, String] => Boolean): DataFrame = {
    val m = IcebergMetadata.load(spark, tablePath)
    readPlan(spark, m, prunedPlan(spark, m, pruner))
  }

  /** The partition-spec fields the current metadata declares —
    * transforms included ([[IcebergTransforms]]); what the
    * TRANSFORM-AWARE pruning below resolves against.
    */
  def partitionSpecFields(spark: SparkSession,
      tablePath: String): Seq[IcebergTransforms.PartitionField] =
    IcebergMetadata.load(spark, tablePath).partitionFields

  /** Pruner for `column BETWEEN lo AND hi` THROUGH the table's
    * declared partition transforms — the inverse half of transform
    * partitioning: a `days(ts)`-partitioned table cuts to the day
    * range, `bucket(N, id)` cuts on equality (lo == hi), fields on
    * other columns keep everything. Conservative by construction
    * (unprunable shapes keep the file).
    */
  def transformPruner(spark: SparkSession, tablePath: String, column: String,
      lo: Any, hi: Any): Map[String, String] => Boolean =
    IcebergTransforms.prunerFor(partitionSpecFields(spark, tablePath), column, lo, hi)

  /** Snapshot read pruned by a SOURCE-column range through the
    * declared transforms — rows still need the residual filter (the
    * cut is file-level, e.g. a whole day for a timestamp range);
    * metadata-only before any data I/O, Iceberg's own planning move.
    */
  def snapshotPrunedRange(spark: SparkSession, tablePath: String, column: String,
      lo: Any, hi: Any): DataFrame = {
    val m = IcebergMetadata.load(spark, tablePath)
    readPlan(spark, m, prunedPlan(spark, m,
      IcebergTransforms.prunerFor(m.partitionFields, column, lo, hi)))
  }

  /** TIMESTAMP AS OF: the latest snapshot whose `timestamp-ms` is at
    * or before `timestampMs` — pure snapshot-log metadata, Iceberg's
    * own resolution rule. A timestamp before the first snapshot
    * refuses.
    */
  /** Named refs from the metadata's `refs` map — Iceberg branches and
    * tags: name → (snapshot id, "branch" | "tag"). Empty when the
    * table declares none (pre-refs metadata).
    */
  /** Iceberg METADATA TABLES — the `SELECT * FROM tbl.snapshots` /
    * `.files` / `.manifests` / `.refs` / `.history` inspection
    * surface every engine exposes (iceberg.apache.org "Inspecting
    * tables"): each is a DataFrame built from metadata graft already
    * parses — |snapshots|, |manifests| or |entries| rows of driver
    * metadata, ZERO data I/O (the files table reads manifest avro,
    * never the parquet it lists).
    */
  def metadataTable(spark: SparkSession, tablePath: String, name: String): DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    def mk(rows: Seq[Row], schema: StructType) =
      spark.createDataFrame(rows.asJava, schema)
    lazy val m = IcebergMetadata.load(spark, tablePath)
    lazy val (snaps, currentId) = m.snapshotLog
    name match {
      case "snapshots" =>
        mk(snaps.map(s => Row(new java.sql.Timestamp(s.timestampMs), s.id,
            s.parentId.map(java.lang.Long.valueOf).orNull, s.operation,
            resolve(tablePath, s.manifestList), s.summary)),
          StructType(Seq(
            StructField("committed_at", TimestampType),
            StructField("snapshot_id", LongType),
            StructField("parent_id", LongType),
            StructField("operation", StringType),
            StructField("manifest_list", StringType),
            StructField("summary", MapType(StringType, StringType)))))
      case "history" =>
        // is_current_ancestor = on the parent chain of the CURRENT
        // snapshot (rolled-back branches show false)
        val byId = snaps.map(s => s.id -> s).toMap
        val ancestors = Iterator.iterate(byId.get(currentId))(
            _.flatMap(s => s.parentId.flatMap(byId.get)))
          .takeWhile(_.isDefined).flatten.map(_.id).toSet
        mk(snaps.map(s => Row(new java.sql.Timestamp(s.timestampMs), s.id,
            s.parentId.map(java.lang.Long.valueOf).orNull, ancestors.contains(s.id))),
          StructType(Seq(
            StructField("made_current_at", TimestampType),
            StructField("snapshot_id", LongType),
            StructField("parent_id", LongType),
            StructField("is_current_ancestor", BooleanType))))
      case "refs" =>
        mk(m.refs.toSeq.sortBy(_._1).map { case (n, (id, t)) =>
            Row(n, t, id) },
          StructType(Seq(
            StructField("name", StringType),
            StructField("type", StringType),
            StructField("snapshot_id", LongType))))
      case "manifests" =>
        mk(manifestListEntries(spark, tablePath, m.currentSnapshot.manifestList)
            .map { case (p, added, content, seq) =>
              Row(resolve(tablePath, p), content, added,
                seq.map(java.lang.Long.valueOf).orNull) },
          StructType(Seq(
            StructField("path", StringType),
            StructField("content", IntegerType),
            StructField("added_snapshot_id", LongType),
            StructField("sequence_number", LongType))))
      case "files" =>
        val rows = manifestListEntries(spark, tablePath, m.currentSnapshot.manifestList)
          .flatMap { case (mp, _, content, _) =>
            manifestEntriesPublic(spark, tablePath, mp)
              .filter(_.status != 2) // deleted entries are not live
              .map(e => Row(content, resolve(tablePath, e.filePath),
                e.recordCount.map(java.lang.Long.valueOf).orNull,
                e.partition))
          }
        mk(rows,
          StructType(Seq(
            StructField("content", IntegerType),
            StructField("file_path", StringType),
            StructField("record_count", LongType),
            StructField("partition", MapType(StringType, StringType)))))
      case "partitions" =>
        val agg = scala.collection.mutable.LinkedHashMap
          .empty[Map[String, String], (Long, Long)]
        manifestListEntries(spark, tablePath, m.currentSnapshot.manifestList)
          .filter(_._3 == 0).foreach { case (mp, _, _, _) =>
            manifestEntriesPublic(spark, tablePath, mp)
              .filter(e => e.status != 2 && e.content == 0).foreach { e =>
                val (rc, fc) = agg.getOrElse(e.partition, (0L, 0L))
                agg(e.partition) = (rc + e.recordCount.getOrElse(0L), fc + 1L)
              }
          }
        mk(agg.toSeq.map { case (pv, (rc, fc)) => Row(pv, rc, fc) },
          StructType(Seq(
            StructField("partition", MapType(StringType, StringType)),
            StructField("record_count", LongType),
            StructField("file_count", LongType))))
      case other => throw new IllegalArgumentException(
        s"$tablePath: unknown metadata table '$other' — one of " +
          "snapshots/history/refs/manifests/files/partitions")
    }
  }

  def refs(spark: SparkSession, tablePath: String): Map[String, (Long, String)] =
    IcebergMetadata.load(spark, tablePath).refs

  /** Read the snapshot a named ref (branch or tag) points at —
    * `VERSION AS OF 'name'`, Iceberg's ref-based time travel. Unknown
    * names refuse with the declared ref list.
    */
  def snapshotAsOfRef(spark: SparkSession, tablePath: String, name: String): DataFrame = {
    val m = IcebergMetadata.load(spark, tablePath)
    val (sid, _) = m.refs.getOrElse(name, throw new IllegalArgumentException(
      s"$tablePath: no ref named '$name' (declared: " +
        s"${if (m.refs.isEmpty) "none" else m.refs.keys.toSeq.sorted.mkString(", ")})"))
    asOf(spark, m, sid)
  }

  def snapshotAsOfTimestamp(spark: SparkSession, tablePath: String,
      timestampMs: Long): DataFrame = {
    val m = IcebergMetadata.load(spark, tablePath)
    val eligible = m.snapshots.filter(_.timestampMs <= timestampMs)
    if (eligible.isEmpty) throw new IllegalArgumentException(
      s"$tablePath: no snapshot at or before timestamp $timestampMs " +
        s"(earliest: ${m.snapshots.map(_.timestampMs).minOption.getOrElse(-1L)})")
    asOf(spark, m, eligible.maxBy(_.timestampMs).id)
  }

  /** SNAPSHOT AS OF: read any snapshot still in the metadata's log by
    * id — Iceberg's own time travel; the manifest list IS the full
    * file inventory of that snapshot, so no replay is needed. An id
    * not in the log refuses (expired by snapshot cleanup).
    */
  def snapshotAsOf(spark: SparkSession, tablePath: String, snapshotId: Long): DataFrame =
    asOf(spark, IcebergMetadata.load(spark, tablePath), snapshotId)

  private def asOf(spark: SparkSession, m: IcebergMetadata, snapshotId: Long): DataFrame = {
    val snap = m.snapshots.find(_.id == snapshotId).getOrElse(throw new IllegalArgumentException(
      s"${m.tablePath}: snapshot $snapshotId is not in the metadata log " +
        "(expired by snapshot cleanup?)"))
    readPlan(spark, m, planFilesOf(spark, m, snap))
  }

  /** [[IcebergMetadata.declaredSparkSchema]]; renamed tables resolve
    * columns by FIELD ID (the spec's rule — engines stamp parquet field
    * ids), so the session flag turns id matching on, exactly the Delta
    * columnMapping=id machinery. */
  private def declaredSparkSchema(spark: SparkSession,
      m: IcebergMetadata): Option[org.apache.spark.sql.types.StructType] = {
    if (m.hasRenamedColumns && spark.conf.getOption("spark.sql.parquet.fieldId.read.enabled")
        .forall(_ != "true"))
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    m.declaredSparkSchema
  }

  /** Expand v3 deletion vectors into a (`_g_file`, `_g_pos`) frame —
    * decoded on executors from a broadcast Hadoop conf; the driver
    * holds only the |DVs| blob descriptors.
    */
  private def dvPositionsDf(spark: SparkSession, tablePath: String,
      dvs: Seq[DvRef]): DataFrame = {
    import org.apache.spark.sql.Encoders
    val bcConf = spark.sparkContext.broadcast(
      new DeltaDv.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    val tasks = dvs.map(d => (
      ScanPaths.normalizeDriver(resolve(tablePath, d.referencedDataFile)),
      resolve(tablePath, d.puffinPath), d.offset, d.length))
    spark.createDataset(tasks)(Encoders.product[(String, String, Long, Long)])
      .repartition(math.max(1, math.min(tasks.size, spark.sparkContext.defaultParallelism)))
      .flatMap { case (file, puffin, off, len) =>
        IcebergPuffin.readDvPositions(bcConf.value.value, puffin, off, len)
          .iterator.map(p => (file, p))
      }(Encoders.product[(String, Long)])
      .toDF("_g_file", "_g_pos")
  }

  private def readPlan(spark: SparkSession, m: IcebergMetadata, plan: PlanFiles): DataFrame = {
    val tablePath = m.tablePath
    if (plan.data.isEmpty) throw new IllegalArgumentException(
      s"$tablePath: current snapshot has no live data files")
    val base = declaredSparkSchema(spark, m) match {
      case Some(st) =>
        spark.read.schema(st).parquet(plan.data.map(resolve(tablePath, _)): _*)
      case None => spark.read.parquet(plan.data.map(resolve(tablePath, _)): _*)
    }
    if (plan.positionDeletes.isEmpty && plan.equalityDeletes.isEmpty &&
      plan.deletionVectors.isEmpty) return base
    // the scan's metadata columns attach ONCE, on the scan relation
    // itself (they do not resolve through later projections)
    val keyed0 = base
      .withColumn("_g_file", ScanPaths.normalizeScan(col("_metadata.file_path")))
      .withColumn("_g_pos", col("_metadata.row_index"))
    val afterParquetPos =
      if (plan.positionDeletes.isEmpty) keyed0
      else {
        val dels = spark.read.parquet(plan.positionDeletes.map(resolve(tablePath, _)): _*)
          .select(
            ScanPaths.normalizeMetaColumn(col("file_path"), tablePath).as("_g_file"),
            col("pos").cast("long").as("_g_pos"))
        keyed0.join(dels, Seq("_g_file", "_g_pos"), "left_anti")
      }
    // v3 DELETION VECTORS: each puffin blob masks one data file; the
    // blobs expand to (file, pos) ON EXECUTORS (|DVs| is metadata-
    // bounded; position sets never ride the driver) and subtract with
    // the same anti join. Applying DVs AND any surviving v2 position
    // deletes is always correct: the spec makes every new DV a
    // superset of the file's previous deletes, so the union is the DV.
    val afterPos =
      if (plan.deletionVectors.isEmpty) afterParquetPos
      else afterParquetPos.join(
        dvPositionsDf(spark, tablePath, plan.deletionVectors), Seq("_g_file", "_g_pos"),
        "left_anti")
    if (plan.equalityDeletes.isEmpty) afterPos.select(base.columns.map(col): _*)
    else {
      // EQUALITY deletes (content=2, the Flink-CDC shape): a delete
      // file's rows name key values; they remove matching rows from
      // data files STRICTLY OLDER (data sequence < delete sequence,
      // per spec). One delete-file scan + one anti join on the
      // equality columns (null-safe, as the spec requires) with the
      // sequence guard — bounded by |delete rows|, never table bytes.
      val eqSets = plan.equalityDeletes.map(_.equalityColumns).distinct
      if (eqSets.size > 1) throw new IllegalStateException(
        s"$tablePath: equality-delete files disagree on their equality columns " +
          s"(${eqSets.map(_.mkString("+")).mkString(" vs ")}) — applying mixed key " +
          "shapes in one scan is not implemented; refusing")
      val eqCols = eqSets.head
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      import scala.jdk.CollectionConverters._
      val delSeqDf = spark.createDataFrame(
        plan.equalityDeletes.map(d => org.apache.spark.sql.Row(
          ScanPaths.normalizeDriver(resolve(tablePath, d.path)), d.sequence)).asJava,
        StructType(Seq(StructField("_g_file", StringType), StructField("_g_dseq", LongType))))
      val dels = spark.read
        .parquet(plan.equalityDeletes.map(d => resolve(tablePath, d.path)): _*)
        .withColumn("_g_file", ScanPaths.normalizeScan(col("_metadata.file_path")))
        .join(broadcast(delSeqDf), Seq("_g_file"))
        .select(eqCols.map(c => col(c).as(s"_g_d_$c")) :+ col("_g_dseq"): _*)
      val dataSeqDf = spark.createDataFrame(
        plan.dataSequences.toSeq.map { case (p, s0) => org.apache.spark.sql.Row(
          ScanPaths.normalizeDriver(resolve(tablePath, p)), s0) }.asJava,
        StructType(Seq(StructField("_g_file", StringType), StructField("_g_seq", LongType))))
      val keyed = afterPos.join(broadcast(dataSeqDf), Seq("_g_file"), "left")
      val cond = eqCols.map(c => keyed(c) <=> dels(s"_g_d_$c")).reduce(_ && _) &&
        keyed("_g_seq") < dels("_g_dseq")
      keyed.join(broadcast(dels), cond, "left_anti")
        .select(base.columns.map(col): _*)
    }
  }

  /** Incremental read: rows ADDED by snapshots after `sinceSnapshotId`
    * on the current snapshot's parent chain, tagged `_snapshot_id`.
    * `replace` snapshots in the range (compaction / clustering
    * rewrites) are SKIPPED — Iceberg's own incremental-append scan
    * semantics: a replace adds no logical rows, and every production
    * table compacts, so a checkpointed consumer must survive one.
    * `overwrite` / `delete` snapshots still refuse loudly — they
    * change rows an append-scoped pull cannot represent. A checkpoint
    * id not on the chain refuses too (the table was rewritten under
    * the consumer). A range that turns out to be all-replace returns
    * the EMPTY frame in the table's shape: the consumer's checkpoint
    * still advances.
    */
  def incrementalSince(spark: SparkSession, tablePath: String, sinceSnapshotId: Long): DataFrame = {
    val m = IcebergMetadata.load(spark, tablePath)
    val range = chainSince(m, sinceSnapshotId)
    range.find(s => s.operation != "append" && s.operation != "replace").foreach { s =>
      throw new AppendScopedRangeException(
        s"$tablePath: snapshot ${s.id} is '${s.operation}', not an append — " +
          "an append-scoped incremental read cannot represent it; use " +
          "changeFeedSince (CDC-grade: overwrite/delete snapshots become " +
          "insert/delete images) or read the snapshot")
    }
    val appends = range.filter(_.operation == "append")
    val rangeIds = appends.map(_.id).toSet
    // added files per snapshot: each snapshot's manifest list, manifests
    // added BY that snapshot, entries with status=added
    val perSnapshot = appends.sortBy(_.id).map { s =>
      val added = manifestsOf(spark, resolve(tablePath, s.manifestList))
        .filter { case (_, addedBy, _, _) => addedBy.contains(s.id) }
        .flatMap { case (mpath, _, mcontent, _) =>
          if (mcontent != 0) throw new IllegalStateException(
            s"$tablePath: delete manifest in append snapshot ${s.id} — refusing")
          manifestEntries(spark, resolve(tablePath, mpath))
            .filter(e => e.status == 1 && e.snapshotId.forall(rangeIds.contains))
            .map(_.filePath)
        }.distinct
      (s.id, added)
    }.filter(_._2.nonEmpty)
    if (perSnapshot.isEmpty) {
      // nothing but rewrites (or empty appends) landed since the
      // checkpoint: an empty pull, NOT an error — shaped like the
      // table so downstream unions/schemas keep working
      if (range.exists(_.operation == "replace"))
        return snapshot(spark, m).where(lit(false))
          .withColumn("_snapshot_id", lit(null).cast("long"))
      throw new IllegalArgumentException(
        s"$tablePath: snapshots after $sinceSnapshotId added no data files")
    }
    // scan with the CURRENT declared schema (same rule as snapshot):
    // files written before a schema evolution null-fill new columns,
    // and files written before a TYPE PROMOTION widen at scan — a
    // footer-inferred pull would serve the narrow physical type and
    // type-wobble across pulls as the consumer's checkpoint advances
    val reader = declaredSparkSchema(spark, m) match {
      case Some(st) => spark.read.schema(st)
      case None => spark.read
    }
    perSnapshot.map { case (id, files) =>
      reader.parquet(files.map(resolve(tablePath, _)): _*)
        .withColumn("_snapshot_id", lit(id))
    }.reduce(_ unionByName _)
  }

  /** The parent chain (since, current], ascending. Refuses a `since`
    * that is not an ancestor of the current snapshot (the table
    * history was rewritten under the consumer) and an empty range.
    */
  private def chainSince(m: IcebergMetadata, sinceSnapshotId: Long): Seq[SnapshotInfo] = {
    val tablePath = m.tablePath
    val (snaps, currentId) = m.snapshotLog
    val byId = snaps.map(s => s.id -> s).toMap
    val chain = Seq.newBuilder[SnapshotInfo]
    var cursor: Option[Long] = Some(currentId)
    var found = false
    while (cursor.isDefined && !found) {
      if (cursor.get == sinceSnapshotId) found = true
      else {
        val s = byId.getOrElse(cursor.get, throw new IllegalArgumentException(
          s"$tablePath: snapshot ${cursor.get} missing from the log"))
        chain += s
        cursor = s.parentId
      }
    }
    if (!found) throw new IllegalArgumentException(
      s"$tablePath: snapshot $sinceSnapshotId is not an ancestor of the current " +
        s"snapshot $currentId — the table history was rewritten; re-bootstrap the consumer")
    val range = chain.result()
    if (range.isEmpty) throw new IllegalArgumentException(
      s"$tablePath: no snapshots after $sinceSnapshotId (current: $currentId)")
    range.sortBy(_.id)
  }

  /** CDC-grade incremental read — the change feed of snapshots after
    * `sinceSnapshotId`, the consumption half of the Flink-CDC shape
    * [[graft.sources.IcebergTableWriter.upsert]] writes:
    *
    *  - `append` snapshots → their added data files as `insert` rows;
    *  - `overwrite` snapshots (equality-delete upserts) → added data
    *    files as `insert` rows PLUS the content=2 delete file's key
    *    rows as `delete` KEY-IMAGES (non-key columns null — an
    *    equality delete names keys, not rows; consumers apply
    *    delete-by-key then insert, which reproduces the merge);
    *  - `delete` snapshots (position deletes) → full PRE-IMAGES, read
    *    from the targeted data files at exactly the deleted
    *    positions (data files are immutable, so the positions still
    *    hold the deleted rows);
    *  - `replace` snapshots (compaction/clustering rewrites) carry no
    *    logical change and emit NOTHING — the dataChange=false
    *    analog.
    *
    * Rows are tagged `_change_type` + `_snapshot_id`, ascending.
    * Folding the feed onto a checkpointed mirror (delete-by-key /
    * delete-by-row, then inserts, per snapshot) reproduces the
    * current snapshot exactly. Scale shape: per snapshot the feed
    * reads only that snapshot's added files; position-delete
    * pre-images scan only the TARGETED data files with a
    * |delete rows| join — never the table.
    */
  def changeFeedSince(spark: SparkSession, tablePath: String,
      sinceSnapshotId: Long): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val m = IcebergMetadata.load(spark, tablePath)
    val range = chainSince(m, sinceSnapshotId)
    val pieces = Seq.newBuilder[DataFrame]
    range.foreach { s =>
      if (s.operation != "replace") {
        val added = manifestsOf(spark, resolve(tablePath, s.manifestList))
          .filter { case (_, addedBy, _, _) => addedBy.contains(s.id) }
          .flatMap { case (mpath, _, _, _) =>
            manifestEntries(spark, resolve(tablePath, mpath)).filter(_.status == 1)
          }
        val dataFiles = added.filter(_.content == 0).map(_.filePath).distinct
        val eqFiles = added.filter(_.content == 2)
        // v3 DELETION VECTORS: a new DV is a SUPERSET of the file's
        // previous deletes (spec supersede rule), so this snapshot's
        // delta is the POSITION DIFF vs the parent snapshot's deletes
        // — exactly the Delta CDF DV-diff shape. Pre-images scan only
        // the TARGETED files at the diffed positions.
        val dvAdded = added.filter(e => e.content == 1 && e.contentOffset.isDefined)
        if (dvAdded.nonEmpty) {
          val parent = s.parentId.getOrElse(throw new IllegalStateException(
            s"$tablePath: snapshot ${s.id} adds deletion vectors but has no parent — " +
              "their pre-images are undefined; refusing"))
          val parentSnap = m.snapshots.find(_.id == parent).getOrElse(
            throw new IllegalStateException(
              s"$tablePath: parent snapshot $parent missing from the log"))
          val prevPlan = planFilesOf(spark, m, parentSnap)
          val newDvs = dvAdded.map(e => DvRef(e.filePath, e.contentOffset.get,
            e.contentSize.get, e.referencedDataFile.getOrElse(
              throw new IllegalStateException(
                s"$tablePath: DV ${e.filePath} names no referenced data file; refusing"))))
          val newPos = dvPositionsDf(spark, tablePath, newDvs)
          val prevDv =
            if (prevPlan.deletionVectors.isEmpty) None
            else Some(dvPositionsDf(spark, tablePath, prevPlan.deletionVectors))
          val prevParquet =
            if (prevPlan.positionDeletes.isEmpty) None
            else Some(spark.read
              .parquet(prevPlan.positionDeletes.map(resolve(tablePath, _)): _*)
              .select(
                ScanPaths.normalizeMetaColumn(col("file_path"), tablePath).as("_g_file"),
                col("pos").cast("long").as("_g_pos")))
          val prevDels = (prevDv, prevParquet) match {
            case (Some(a), Some(b)) => Some(a.unionByName(b))
            case (a, b) => a.orElse(b)
          }
          val delta = prevDels match {
            case Some(d) => newPos.join(d, Seq("_g_file", "_g_pos"), "left_anti")
            case None => newPos
          }
          val targeted = newDvs.map(_.referencedDataFile).distinct
          val rows = spark.read.parquet(targeted.map(resolve(tablePath, _)): _*)
            .withColumn("_g_file", ScanPaths.normalizeScan(col("_metadata.file_path")))
            .withColumn("_g_pos", col("_metadata.row_index").cast("long"))
            .join(delta, Seq("_g_file", "_g_pos"), "left_semi")
            .drop("_g_file", "_g_pos")
          pieces += rows
            .withColumn("_change_type", lit("delete"))
            .withColumn("_snapshot_id", lit(s.id))
        }
        val posFiles = added.filter(e => e.content == 1 && e.contentOffset.isEmpty)
          .map(_.filePath).distinct
        if (dataFiles.nonEmpty)
          pieces += spark.read.parquet(dataFiles.map(resolve(tablePath, _)): _*)
            .withColumn("_change_type", lit("insert"))
            .withColumn("_snapshot_id", lit(s.id))
        if (eqFiles.nonEmpty) {
          eqFiles.map(_.equalityIds).distinct.foreach { ids =>
            ids.foreach(id => if (!m.fieldNames.contains(id)) throw new IllegalStateException(
              s"$tablePath: equality-delete in snapshot ${s.id} names field id $id, " +
                "which the table schema does not declare; refusing"))
          }
          pieces += spark.read
            .parquet(eqFiles.map(e => resolve(tablePath, e.filePath)).distinct: _*)
            .withColumn("_change_type", lit("delete"))
            .withColumn("_snapshot_id", lit(s.id))
        }
        if (posFiles.nonEmpty) {
          // pre-images: scan only the TARGETED data files (the
          // manifest-recorded paths the delete file names), keep
          // exactly the deleted positions
          val delRaw = spark.read.parquet(posFiles.map(resolve(tablePath, _)): _*)
          val targeted = delRaw.select("file_path").distinct()
            .collect().map(_.getString(0)).toSeq
          if (targeted.nonEmpty) {
            val dels = delRaw.select(
              ScanPaths.normalizeMetaColumn(col("file_path"), tablePath).as("_g_file"),
              col("pos").cast("long").as("_g_pos"))
            val rows = spark.read.parquet(targeted.map(resolve(tablePath, _)): _*)
              .withColumn("_g_file", ScanPaths.normalizeScan(col("_metadata.file_path")))
              .withColumn("_g_pos", col("_metadata.row_index"))
              .join(broadcast(dels), Seq("_g_file", "_g_pos"), "left_semi")
              .drop("_g_file", "_g_pos")
            pieces += rows
              .withColumn("_change_type", lit("delete"))
              .withColumn("_snapshot_id", lit(s.id))
          }
        }
      }
    }
    val parts = pieces.result()
    if (parts.isEmpty) throw new IllegalArgumentException(
      s"$tablePath: snapshots after $sinceSnapshotId carry no logical changes")
    val feed = parts.reduce(_.unionByName(_, allowMissingColumns = true))
    // stable column order: data columns (schema order), then the tags
    val dataCols = feed.columns.filterNot(c => c == "_change_type" || c == "_snapshot_id")
    feed.select((dataCols :+ "_change_type" :+ "_snapshot_id").map(col).toIndexedSeq: _*)
  }
}
