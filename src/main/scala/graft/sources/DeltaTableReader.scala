package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** READ-ONLY adapter for externally-written Delta Lake tables — the
  * "point the engine at an EXISTING lakehouse table" entry point the
  * reference's loader provides for Hudi (template.py:207-217 reads an
  * existing table by path; generate_hudi_table.py writes one). graft's
  * own tables use the versioned-parquet layout; this reader closes the
  * interop gap for the one open format whose log is plain
  * parquet + JSON, implemented from the PUBLIC Delta transaction-log
  * protocol (delta.io PROTOCOL.md): commits are
  * `_delta_log/<version%020d>.json` files of line-delimited actions
  * (`add`/`remove`/`metaData`/`protocol`/`commitInfo`), optionally
  * compacted into `<version%020d>.checkpoint.parquet` referenced by
  * `_last_checkpoint`.
  *
  * Scale shape — the same one Delta itself has:
  *  - log replay is DRIVER-SIDE METADATA, bounded by commits since
  *    the last checkpoint; the checkpoint is read as parquet (one
  *    distributed scan of a files-count-sized table) and only the
  *    (path, partitionValues, deletionVector) triple of each add is
  *    pulled to the driver, AFTER the caller's partition pruner and
  *    under a loud `maxDriverFiles` bound — never the full add
  *    struct, never unbounded;
  *  - data reads are ONE distributed parquet scan of exactly the
  *    active files — partitioned tables attach their partition values
  *    by broadcast-joining a files-count-sized little map on the
  *    scan's `_metadata.file_path`, so plan size is O(1) in partition
  *    count (a per-partition union would make Catalyst itself the
  *    bottleneck at thousands of partitions);
  *  - DELETION VECTORS are applied, not refused: each add's
  *    descriptor (inline Z85 or RoaringBitmap sidecar, [[DeltaDv]])
  *    expands to (file, position) pairs ON EXECUTORS, and the scan
  *    subtracts them with the [[DeletionVectors]]-style anti join on
  *    `_metadata.row_index` — broadcast when the descriptor
  *    cardinalities say it fits, bounded by |deletes-since-rewrite|,
  *    never table bytes.
  *
  * Column mapping is honored in BOTH modes: `name` by renaming the
  * scan's physical columns back to the logical schema, `id` by
  * requesting a schema whose `parquet.field.id` metadata makes the
  * parquet reader match columns by FIELD ID (the mode's actual
  * resolution rule — physical names are not authoritative there).
  * What still REFUSES loudly: unknown mapping modes, nested mapped
  * fields, any reader feature outside the supported set, and a
  * cleaned log whose remaining JSON versions are not contiguous
  * (silently skipping missing commits would under-return).
  *
  * Snapshot semantics: replay checkpoint + JSON commits in version
  * order; `add` activates a path, `remove` deactivates it; the
  * snapshot is the active set. Incremental semantics (the Hudi
  * incremental-read analog the reference's checkpointed consumer
  * uses): files ADDED with `dataChange=true` in commits
  * `sinceVersion+1..latest` — a commit that removes data files with
  * `dataChange=true` OR attaches a deletion vector is a
  * rewrite/delete, which an append-scoped incremental read must
  * refuse LOUDLY rather than silently double-read or miss (same
  * contract as IncrementalReader on graft's own tables). Compaction
  * commits (`dataChange=false`) are correctly ignored.
  */
object DeltaTableReader {

  private val mapper = new ObjectMapper()

  /** One file action from the log. `partitionValues` are the raw
    * string-encoded values from the protocol; `dv` is the deletion
    * vector masking rows of this file, if any.
    */
  final case class FileAction(
      path: String,
      partitionValues: Map[String, String],
      dataChange: Boolean,
      dv: Option[DeltaDv.Descriptor] = None,
      stats: Option[String] = None,
      // PROTOCOL.md Row Tracking: the file's fresh row-id base and
      // the version that ADDED it — round-tripped verbatim through
      // DV re-adds, restores, and checkpoints (losing them would
      // re-identify every row in the file)
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None)

  /** The table's protocol action, preserved verbatim so writers can
    * refuse features they cannot honor and checkpoints can carry the
    * ORIGINAL protocol (a fabricated one corrupts the table for other
    * engines once log cleanup makes the checkpoint the only copy).
    */
  final case class Protocol(
      minReaderVersion: Int,
      minWriterVersion: Int,
      readerFeatures: Seq[String],
      writerFeatures: Seq[String])

  final case class Snapshot(
      version: Long,
      active: Seq[FileAction],
      partitionColumns: Seq[String],
      schemaJson: Option[String],
      protocol: Option[Protocol] = None,
      metaDataId: Option[String] = None,
      configuration: Map[String, String] = Map.empty,
      createdTime: Option[Long] = None,
      // PROTOCOL.md Domain Metadata: latest non-removed configuration
      // string per domain (system domains like delta.clustering and
      // any user domain ride through verbatim; a removed=true action
      // tombstones its domain out of the snapshot)
      domainMetadata: Map[String, String] = Map.empty)

  /** Checkpoint add row pulled to the driver — path + partition
    * values + DV descriptor JSON only, never the stats/tags payload.
    * (Not `private`: Spark codegen instantiates it from generated
    * Java, which cannot touch private Scala members.)
    */
  private[sources] final case class CkptAdd(
      path: String,
      partitionValues: Map[String, String],
      dvJson: String,
      stats: String,
      baseRowId: Option[Long],
      defaultRowCommitVersion: Option[Long])

  /** One DV-decode task shipped to executors. */
  private[sources] final case class DvTask(
      file: String,
      storageType: String,
      pathOrInlineDv: String,
      offset: Long,
      sizeInBytes: Int)

  /** Reader features a plain parquet scan CAN honor. deletionVectors
    * is honored by actually applying the vectors; timestampNtz and
    * variantType map onto Spark-native types in the data files;
    * columnMapping is honored in `name` mode by renaming the scan's
    * physical columns back to the table schema's logical names and in
    * `id` mode by parquet field-ID matching ([[fieldIdSchemaOf]]).
    */
  val SupportedReaderFeatures: Set[String] =
    Set("deletionVectors", "timestampNtz", "variantType", "columnMapping",
      "v2Checkpoint",
      // typeWidening (delta.io PROTOCOL.md): files written before a
      // type-widening evolution keep their narrow physical type and
      // readers widen at scan. This reader always scans with the
      // DECLARED schemaString, and Spark 4's vectorized parquet
      // reader performs the spec's widening conversions (int→long,
      // float→double, decimal precision growth) — so declaring the
      // feature is honored, not just tolerated.
      "typeWidening", "typeWidening-preview")

  /** Cap on add entries pulled to the driver per snapshot resolution.
    * FileActions retain their `stats` string ONLY when the caller
    * asks (`withStats = true` — checkpoint write, DV re-add, restore,
    * which must re-emit stats verbatim): the default envelope is
    * ~100 bytes per row (~100 MB at the cap); stats-carrying
    * resolutions grow to (100 bytes + stats bytes) per row — a few GB
    * worst-case for very wide schemas whose stats run 1-5 KB per
    * file. Wide tables near the cap should pass a partition pruner
    * (the same prune-first contract Delta's own reader meets with its
    * distributed file index) or lower the cap to their heap budget.
    */
  val MaxDriverFileActions: Int = 1000000

  /** Broadcast the DV position set below this many positions; above
    * it, shuffle the anti join (still bounded by |deletes|).
    */
  val DvBroadcastMaxPositions: Long = 4L * 1000 * 1000

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(tablePath: String): Path = new Path(tablePath, "_delta_log")

  private def versionOf(name: String): Option[Long] = {
    val base = name.stripSuffix(".json")
    if (name.endsWith(".json") && base.forall(_.isDigit)) Some(base.toLong) else None
  }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def partValuesOf(node: JsonNode): Map[String, String] = {
    val pv = node.get("partitionValues")
    if (pv == null || !pv.isObject) Map.empty
    else {
      val b = Map.newBuilder[String, String]
      val it = pv.fields()
      while (it.hasNext) {
        val e = it.next()
        if (!e.getValue.isNull) b += (e.getKey -> e.getValue.asText())
      }
      b.result()
    }
  }

  private def dvOf(node: JsonNode): Option[DeltaDv.Descriptor] = {
    val dv = node.get("deletionVector")
    if (dv == null || dv.isNull) None
    else Some(DeltaDv.Descriptor(
      storageType = dv.get("storageType").asText(),
      pathOrInlineDv = dv.get("pathOrInlineDv").asText(),
      offset = Option(dv.get("offset")).filterNot(_.isNull).map(_.asLong()).getOrElse(0L),
      sizeInBytes = dv.get("sizeInBytes").asInt(),
      cardinality = dv.get("cardinality").asLong()))
  }

  private def fileActionOf(node: JsonNode): FileAction = FileAction(
    path = node.get("path").asText(),
    partitionValues = partValuesOf(node),
    dataChange = Option(node.get("dataChange")).forall(_.asBoolean(true)),
    dv = dvOf(node),
    stats = Option(node.get("stats")).filterNot(_.isNull).map(_.asText()).filter(_.nonEmpty),
    baseRowId = Option(node.get("baseRowId")).filterNot(_.isNull).map(_.asLong()),
    defaultRowCommitVersion =
      Option(node.get("defaultRowCommitVersion")).filterNot(_.isNull).map(_.asLong()))

  /** Refusals a scan-based reader owes the caller: column mapping
    * renames physical parquet columns (scanning returns the wrong
    * schema), and an unknown reader feature means the protocol
    * requires behavior this reader does not implement.
    */
  private def refuseUnsupported(node: JsonNode, tablePath: String): Unit = {
    if (node.has("protocol")) {
      val rf = node.get("protocol").get("readerFeatures")
      if (rf != null && rf.isArray) {
        val feats = scala.collection.mutable.Set.empty[String]
        rf.forEach(f => feats += f.asText())
        refuseReaderFeatures(feats.toSet, tablePath)
      }
    }
    if (node.has("metaData")) {
      val conf = node.get("metaData").get("configuration")
      if (conf != null && conf.isObject) {
        val mode = Option(conf.get("delta.columnMapping.mode")).map(_.asText())
        refuseColumnMapping(mode, tablePath)
      }
    }
  }

  private def refuseReaderFeatures(feats: Set[String], tablePath: String): Unit = {
    val unsupported = feats -- SupportedReaderFeatures
    if (unsupported.nonEmpty) throw new IllegalStateException(
      s"$tablePath: protocol requires reader features ${unsupported.mkString(", ")} — " +
        "this reader cannot honor them; refusing")
  }

  private def refuseColumnMapping(mode: Option[String], tablePath: String): Unit =
    if (mode.exists(m => m != "none" && m != "name" && m != "id"))
      throw new IllegalStateException(
        s"$tablePath: delta.columnMapping.mode=${mode.get} — this reader honors 'name' " +
          "mode (physical names from delta.columnMapping.physicalName metadata) and " +
          "'id' mode (parquet field-ID matching); refusing an unknown mode")

  /** Read schema for columnMapping `id` mode: the LOGICAL field names
    * with `parquet.field.id` metadata from `delta.columnMapping.id`,
    * so the parquet scan matches columns by FIELD ID (what the mode
    * means — physical names are not authoritative there) and returns
    * logical names directly. Partition columns are excluded (Delta
    * keeps them out of the data files; the partition-value join adds
    * them back). Missing id metadata and NESTED mapped fields refuse.
    */
  private def fieldIdSchemaOf(schemaJson: Option[String], partitionColumns: Seq[String],
      tablePath: String): StructType = {
    val IdKey = "delta.columnMapping.id"
    val st = schemaJson
      .flatMap(js => scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(js)).toOption)
      .collect { case s: StructType => s }
      .getOrElse(throw new IllegalStateException(
        s"$tablePath: columnMapping id mode needs a parseable schemaString"))
    // NESTED resolution in id mode: TOP-LEVEL columns resolve by
    // field id (authoritative — names are decoys); INNER fields
    // resolve by their RECORDED PHYSICAL NAMES (the protocol records
    // delta.columnMapping.physicalName for every field in either
    // mode), requested via [[physInnerType]] with NO inner ids — the
    // final projection casts the struct back to the logical nested
    // shape positionally, exactly the name-mode machinery. Inner ids
    // deliberately do NOT ride the request: Spark's nested schema
    // pruning rebuilds pruned inner structs WITHOUT field metadata,
    // so an inner-id request silently nulls any query that selects a
    // nested field (probed on this Spark); physical inner NAMES
    // survive pruning.
    StructType(st.fields.filterNot(f => partitionColumns.contains(f.name)).map { f =>
      if (!f.metadata.contains(IdKey)) throw new IllegalStateException(
        s"$tablePath: column ${f.name} carries no delta.columnMapping.id — id-mode " +
          "field matching is undefined for it; refusing")
      StructField(f.name, physInnerType(f.dataType), nullable = true,
        new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id", f.metadata.getLong(IdKey)).build())
    })
  }

  private[sources] val PhysNameKey = "delta.columnMapping.physicalName"

  /** logical → physical TOP-LEVEL column names from the metaData
    * schemaString's `delta.columnMapping.physicalName` field metadata
    * (columnMapping `name` mode). Empty when the table carries no
    * mapping. NESTED physical names resolve through the TYPE system
    * instead: scans request [[physInnerType]] shapes and project back
    * with a positional struct cast to [[logicalCleanType]].
    */
  private[sources] def columnMappingOf(schemaJson: Option[String], tablePath: String): Map[String, String] =
    schemaJson
      .flatMap(js => scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(js)).toOption)
      .collect { case st: StructType => st } match {
      case None => Map.empty
      case Some(st) =>
        st.fields.collect {
          case f if f.metadata.contains(PhysNameKey) =>
            f.name -> f.metadata.getString(PhysNameKey)
        }.toMap
    }

  /** True when `dt` carries mapped INNER fields anywhere. */
  private[sources] def hasNestedMapping(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case s: StructType =>
        s.fields.exists(f => f.metadata.contains(PhysNameKey) || hasNestedMapping(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hasNestedMapping(a.elementType)
      case m: org.apache.spark.sql.types.MapType =>
        hasNestedMapping(m.keyType) || hasNestedMapping(m.valueType)
      case _ => false
    }

  /** `dt` with every INNER struct field renamed to its declared
    * physical name (recursive, metadata dropped) — the shape mapped
    * data files physically carry inside nested columns. */
  private[sources] def physInnerType(
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
    dt match {
      case s: StructType => StructType(s.fields.map { f =>
        val n = if (f.metadata.contains(PhysNameKey)) f.metadata.getString(PhysNameKey)
          else f.name
        StructField(n, physInnerType(f.dataType), nullable = true)
      })
      case a: org.apache.spark.sql.types.ArrayType =>
        org.apache.spark.sql.types.ArrayType(physInnerType(a.elementType), containsNull = true)
      case m: org.apache.spark.sql.types.MapType =>
        org.apache.spark.sql.types.MapType(m.keyType, physInnerType(m.valueType),
          valueContainsNull = true)
      case other => other
    }

  /** [[physInnerType]] PLUS `parquet.field.id` on every inner struct
    * field from its recorded `delta.columnMapping.id` — the
    * fully-annotated cast target id-mode WRITES stamp landed files
    * with, so the files are spec-true (ids at every nesting level)
    * for external id-mode engines. READS keep requesting the id-LESS
    * [[physInnerType]] shape (see [[fieldIdSchemaOf]] — Spark's
    * nested pruning drops inner metadata, so inner ids on the request
    * would null nested selects; on the WRITE side there is no pruning
    * and the ids ride into the parquet footer). An inner mapped field
    * LACKING an id refuses: landing id-less inner fields would make
    * the file unreadable to spec-compliant id-mode readers.
    */
  private[sources] def physInnerTypeWithIds(
      dt: org.apache.spark.sql.types.DataType,
      tablePath: String): org.apache.spark.sql.types.DataType = {
    val IdKey = "delta.columnMapping.id"
    dt match {
      case s: StructType => StructType(s.fields.map { f =>
        val n = if (f.metadata.contains(PhysNameKey)) f.metadata.getString(PhysNameKey)
          else f.name
        if (!f.metadata.contains(IdKey)) throw new IllegalStateException(
          s"$tablePath: nested field ${f.name} carries no delta.columnMapping.id — " +
            "an id-mode write cannot stamp its inner parquet field id; refusing " +
            "rather than landing files id-mode readers cannot resolve")
        StructField(n, physInnerTypeWithIds(f.dataType, tablePath), nullable = true,
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("parquet.field.id", f.metadata.getLong(IdKey)).build())
      })
      case a: org.apache.spark.sql.types.ArrayType =>
        org.apache.spark.sql.types.ArrayType(
          physInnerTypeWithIds(a.elementType, tablePath), containsNull = true)
      case m: org.apache.spark.sql.types.MapType =>
        org.apache.spark.sql.types.MapType(m.keyType,
          physInnerTypeWithIds(m.valueType, tablePath), valueContainsNull = true)
      case other => other
    }
  }

  /** `dt` with LOGICAL names at every level and metadata stripped —
    * the positional-cast target that renames a physically-named
    * nested value back to its declared shape. */
  private[sources] def logicalCleanType(
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        StructField(f.name, logicalCleanType(f.dataType), nullable = true)))
      case a: org.apache.spark.sql.types.ArrayType =>
        org.apache.spark.sql.types.ArrayType(logicalCleanType(a.elementType), containsNull = true)
      case m: org.apache.spark.sql.types.MapType =>
        org.apache.spark.sql.types.MapType(m.keyType, logicalCleanType(m.valueType),
          valueContainsNull = true)
      case other => other
    }

  /** DESCRIBE HISTORY for an external Delta table: one row per JSON
    * log version — action census (adds/removes/cdc), dataChange and
    * metadata/protocol flags, the commitInfo timestamp when the
    * commit carries one (ICT tables always do). Driver metadata
    * (|versions| commit JSONs), ZERO data I/O. Checkpointed-away
    * versions are absent — like Delta's own history after log
    * cleanup.
    */
  def historyView(spark: SparkSession, tablePath: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val dir = logDir(tablePath)
    val fs = fsOf(spark, dir)
    val rows = versions(spark, tablePath).map { v =>
      val nodes = readText(fs, new Path(dir, f"$v%020d.json"))
        .split('\n').filter(_.nonEmpty).map(mapper.readTree)
      var adds = 0L; var removes = 0L; var cdc = 0L
      var dataChange = false; var meta = false; var proto = false
      var ict: Option[Long] = None
      nodes.foreach { n =>
        if (n.has("add")) {
          adds += 1
          if (Option(n.get("add").get("dataChange")).exists(_.asBoolean())) dataChange = true
        }
        if (n.has("remove")) {
          removes += 1
          if (Option(n.get("remove").get("dataChange")).exists(_.asBoolean())) dataChange = true
        }
        if (n.has("cdc")) cdc += 1
        if (n.has("metaData")) meta = true
        if (n.has("protocol")) proto = true
        if (n.has("commitInfo") && n.get("commitInfo").has("inCommitTimestamp"))
          ict = Some(n.get("commitInfo").get("inCommitTimestamp").asLong())
      }
      Row(v, ict.map(java.lang.Long.valueOf).orNull, adds, removes, cdc,
        dataChange, meta, proto)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("version", LongType),
      StructField("in_commit_timestamp", LongType),
      StructField("num_added_files", LongType),
      StructField("num_removed_files", LongType),
      StructField("num_cdc_files", LongType),
      StructField("data_change", BooleanType),
      StructField("metadata_changed", BooleanType),
      StructField("protocol_changed", BooleanType))))
  }

  /** Committed log versions present as JSON files, ascending. */
  def versions(spark: SparkSession, tablePath: String): Seq[Long] = {
    val dir = logDir(tablePath)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) throw new IllegalArgumentException(
      s"$tablePath is not a Delta table: no _delta_log directory")
    fs.listStatus(dir).toIndexedSeq.flatMap(st => versionOf(st.getPath.getName)).sorted
  }

  private def requireContiguous(vs: Seq[Long], from: Long, tablePath: String, what: String): Unit =
    vs.zipWithIndex.foreach { case (v, i) =>
      if (v != from + i) throw new IllegalStateException(
        s"$tablePath: $what versions ${vs.mkString(",")} are not contiguous from $from " +
          s"(missing ${from + i}) — the log was cleaned past a commit this read needs; " +
          "refusing rather than silently skipping it")
    }

  /** Replay the log to the latest snapshot state: checkpoint (if any)
    * + JSON commits after it, in version order. `partitionPruner`
    * filters adds by their partition values BEFORE anything is pulled
    * to the driver (checkpoint adds filter distributedly); the
    * surviving add-set is bounded by `maxDriverFiles`, loudly.
    */
  def snapshotState(
      spark: SparkSession,
      tablePath: String,
      partitionPruner: Map[String, String] => Boolean = _ => true,
      maxDriverFiles: Int = MaxDriverFileActions,
      asOf: Option[Long] = None,
      statsPruner: Option[String => Boolean] = None,
      withStats: Boolean = false): Snapshot = {
    val dir = logDir(tablePath)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) throw new IllegalArgumentException(
      s"$tablePath is not a Delta table: no _delta_log directory")

    // checkpoint base, if advertised — usable for VERSION AS OF only
    // when it does not overshoot the requested version (a checkpoint
    // cannot be replayed backwards)
    val lastCkpt = new Path(dir, "_last_checkpoint")
    val ckptVersion: Option[Long] =
      (if (!fs.exists(lastCkpt)) None
       else Some(mapper.readTree(readText(fs, lastCkpt)).get("version").asLong()))
        .filter(cv => asOf.forall(cv <= _))

    val active = scala.collection.mutable.LinkedHashMap.empty[String, FileAction]
    val domains = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var partCols: Seq[String] = Nil
    var schemaJson: Option[String] = None
    var protocol: Option[Protocol] = None
    var metaId: Option[String] = None
    var configuration: Map[String, String] = Map.empty
    var createdTime: Option[Long] = None

    def applyMetaNode(md: JsonNode): Unit = {
      val pc = md.get("partitionColumns")
      if (pc != null && pc.isArray) {
        val b = Seq.newBuilder[String]
        pc.forEach(n => b += n.asText())
        partCols = b.result()
      }
      if (md.has("schemaString")) schemaJson = Some(md.get("schemaString").asText())
      Option(md.get("id")).filterNot(_.isNull).foreach(n => metaId = Some(n.asText()))
      Option(md.get("createdTime")).filterNot(_.isNull)
        .foreach(n => createdTime = Some(n.asLong()))
      val conf = md.get("configuration")
      if (conf != null && conf.isObject) {
        val b = Map.newBuilder[String, String]
        conf.fields().forEachRemaining(e =>
          if (!e.getValue.isNull) b += (e.getKey -> e.getValue.asText()))
        configuration = b.result()
      }
    }
    def applyProtocolNode(pn: JsonNode): Unit = {
      def seqOf(f: String): Seq[String] = {
        val arr = pn.get(f)
        if (arr == null || !arr.isArray) Nil
        else { val b = Seq.newBuilder[String]; arr.forEach(n => b += n.asText()); b.result() }
      }
      protocol = Some(Protocol(
        Option(pn.get("minReaderVersion")).map(_.asInt()).getOrElse(1),
        Option(pn.get("minWriterVersion")).map(_.asInt()).getOrElse(2),
        seqOf("readerFeatures"), seqOf("writerFeatures")))
    }
    def applyDomainNode(dn: JsonNode): Unit = {
      val domain = Option(dn.get("domain")).filterNot(_.isNull).map(_.asText())
        .getOrElse(throw new IllegalStateException(
          s"$tablePath: domainMetadata action without a domain name"))
      val removed = Option(dn.get("removed")).exists(n => !n.isNull && n.asBoolean(false))
      if (removed) domains.remove(domain): Unit
      else domains(domain) =
        Option(dn.get("configuration")).filterNot(_.isNull).map(_.asText()).getOrElse("")
    }

    ckptVersion.foreach { v =>
      // checkpoint naming, per PROTOCOL.md: classic single-file
      // `<v>.checkpoint.parquet`; MULTI-PART `<v>.checkpoint.<i>.<n>
      // .parquet` (all parts together, one scan); V2 `<v>.checkpoint
      // .<uuid>.{parquet,json}` — a MANIFEST holding protocol/
      // metaData/txn plus `sidecar` actions naming the parquet files
      // under _delta_log/_sidecars/ that carry the file actions
      val prefix = f"$v%020d.checkpoint."
      val classicName = f"$v%020d.checkpoint.parquet"
      val names = fs.listStatus(dir).toIndexedSeq.map(_.getPath.getName)
        .filter(_.startsWith(prefix))
      val partNames = names.filter(
        _.matches(java.util.regex.Pattern.quote(prefix) + "\\d+\\.\\d+\\.parquet"))
      val v2Parquet = names
        .filter(n => n.endsWith(".parquet") && n != classicName && !partNames.contains(n))
      val v2Json = names.filter(_.endsWith(".json"))

      def verifyCheckpointMetadata(df: DataFrame): Unit =
        if (df.columns.contains("checkpointMetadata")) {
          val declared = df.select(col("checkpointMetadata.version"))
            .where(col("checkpointMetadata.version").isNotNull)
            .collect().map(_.getLong(0))
          declared.find(_ != v).foreach(bad => throw new IllegalStateException(
            s"$tablePath: v2 checkpoint manifest declares version $bad but " +
              s"_last_checkpoint names $v — inconsistent checkpoint; refusing"))
        }
      def sidecarScan(df: DataFrame): Option[DataFrame] =
        if (!df.columns.contains("sidecar")) None
        else {
          val paths = df.select(col("sidecar.path"))
            .where(col("sidecar.path").isNotNull)
            .collect().map(_.getString(0))
          if (paths.isEmpty) None
          else Some(spark.read.parquet(paths.map(pp => s"$dir/_sidecars/$pp").toIndexedSeq: _*))
        }

      // (metadata source, file-action source) per naming form
      val (rowsOpt, addRowsOpt): (Option[DataFrame], Option[DataFrame]) =
        if (names.contains(classicName)) {
          val r = spark.read.parquet(new Path(dir, classicName).toString)
          (Some(r), Some(r))
        } else if (partNames.nonEmpty) {
          val r = spark.read.parquet(partNames.map(n => new Path(dir, n).toString): _*)
          (Some(r), Some(r))
        } else if (v2Parquet.nonEmpty) {
          val manifest = spark.read.parquet(new Path(dir, v2Parquet.max).toString)
          verifyCheckpointMetadata(manifest)
          (Some(manifest), sidecarScan(manifest).orElse(Some(manifest)))
        } else if (v2Json.nonEmpty) {
          // a V2 JSON manifest: metadata actions parse driver-side;
          // file actions MUST ride parquet sidecars (inline adds in a
          // json manifest would make the add-set a driver-side parse
          // of unbounded size — refuse loudly)
          val sidecars = Seq.newBuilder[String]
          readText(fs, new Path(dir, v2Json.max)).split('\n').filter(_.nonEmpty)
            .foreach { line =>
              val node = mapper.readTree(line)
              if (node.has("protocol")) {
                applyProtocolNode(node.get("protocol"))
                refuseReaderFeatures(protocol.get.readerFeatures.toSet, tablePath)
              } else if (node.has("metaData")) {
                applyMetaNode(node.get("metaData"))
                refuseColumnMapping(configuration.get("delta.columnMapping.mode"), tablePath)
              } else if (node.has("domainMetadata")) {
                applyDomainNode(node.get("domainMetadata"))
              } else if (node.has("sidecar")) {
                sidecars += node.get("sidecar").get("path").asText()
              } else if (node.has("checkpointMetadata")) {
                val declared = node.get("checkpointMetadata").get("version").asLong()
                if (declared != v) throw new IllegalStateException(
                  s"$tablePath: v2 checkpoint manifest declares version $declared but " +
                    s"_last_checkpoint names $v — inconsistent checkpoint; refusing")
              } else if (node.has("add") || node.has("remove")) {
                throw new IllegalStateException(
                  s"$tablePath: v2 JSON checkpoint manifest carries inline file actions — " +
                    "this reader expects them in parquet sidecars; refusing")
              }
            }
          val sc = sidecars.result()
          (None,
            if (sc.isEmpty) None
            else Some(spark.read.parquet(sc.map(pp => s"$dir/_sidecars/$pp"): _*)))
        } else throw new IllegalStateException(
          s"$tablePath: _last_checkpoint names version $v but no checkpoint parquet exists")

      val rows = rowsOpt.getOrElse(spark.emptyDataFrame)
      val cols = rowsOpt.map(_.columns.toSet).getOrElse(Set.empty[String])
      // After standard log cleanup the protocol/metaData actions may
      // exist ONLY in the checkpoint — the refusal contract must hold
      // on this path too, not just on JSON commits.
      if (cols.contains("protocol")) {
        rows.select("protocol").where(col("protocol").isNotNull).collect().foreach { r =>
          val p = r.getStruct(0)
          val names = p.schema.fieldNames
          def seqOf(f: String): Seq[String] = {
            val i = names.indexOf(f)
            if (i >= 0 && !p.isNullAt(i)) p.getSeq[String](i) else Nil
          }
          def intOf(f: String, dflt: Int): Int = {
            val i = names.indexOf(f)
            if (i >= 0 && !p.isNullAt(i)) p.getInt(i) else dflt
          }
          val proto = Protocol(intOf("minReaderVersion", 1), intOf("minWriterVersion", 2),
            seqOf("readerFeatures"), seqOf("writerFeatures"))
          refuseReaderFeatures(proto.readerFeatures.toSet, tablePath)
          protocol = Some(proto)
        }
      }
      if (cols.contains("metaData")) {
        rows.select("metaData").where(col("metaData").isNotNull).collect().foreach { r =>
          val md = r.getStruct(0)
          val names = md.schema.fieldNames
          val idx = names.indexOf("partitionColumns")
          if (idx >= 0 && !md.isNullAt(idx)) partCols = md.getSeq[String](idx)
          val sIdx = names.indexOf("schemaString")
          if (sIdx >= 0 && !md.isNullAt(sIdx)) schemaJson = Some(md.getString(sIdx))
          val iIdx = names.indexOf("id")
          if (iIdx >= 0 && !md.isNullAt(iIdx)) metaId = Some(md.getString(iIdx))
          val tIdx = names.indexOf("createdTime")
          if (tIdx >= 0 && !md.isNullAt(tIdx)) createdTime = Some(md.getLong(tIdx))
          val cIdx = names.indexOf("configuration")
          if (cIdx >= 0 && !md.isNullAt(cIdx)) {
            configuration = md.getMap[String, String](cIdx).toMap
            refuseColumnMapping(configuration.get("delta.columnMapping.mode"), tablePath)
          }
        }
      }
      if (cols.contains("domainMetadata")) {
        // one row per live domain (a checkpoint is a complete snapshot,
        // so removed domains are simply absent) — |domains| is small by
        // construction, a driver collect is the right shape
        rows.select("domainMetadata").where(col("domainMetadata").isNotNull)
          .collect().foreach { r =>
            val dm = r.getStruct(0)
            val names = dm.schema.fieldNames
            def strOf(f: String): Option[String] = {
              val i = names.indexOf(f)
              if (i >= 0 && !dm.isNullAt(i)) Some(dm.getString(i)) else None
            }
            val rIdx = names.indexOf("removed")
            val removed = rIdx >= 0 && !dm.isNullAt(rIdx) && dm.getBoolean(rIdx)
            strOf("domain").foreach { d =>
              if (removed) domains.remove(d): Unit
              else domains(d) = strOf("configuration").getOrElse("")
            }
          }
      }
      addRowsOpt.filter(_.columns.contains("add")).foreach { addRows =>
        def addFields: Set[String] = addRows.schema("add").dataType match {
          case st: StructType => st.fieldNames.toSet
          case _ => Set.empty[String]
        }
        val hasDv = addFields.contains("deletionVector")
        val dvCol =
          if (hasDv) to_json(col("add.deletionVector")) else lit(null).cast(StringType)
        // keep the add-set DISTRIBUTED through pruning; collect only
        // the surviving (path, partitionValues, dv, stats) tuples,
        // bounded — the stats string never reaches the driver for
        // files the pruners reject
        // the stats string rides off the executors only when retained
        // (withStats) or needed for the distributed prune filter —
        // otherwise the collect carries ~100-byte rows regardless of
        // how wide the table's stats are
        val statsCol =
          if (addFields.contains("stats") && (withStats || statsPruner.isDefined))
            coalesce(col("add.stats"), lit("")).as("stats")
          else lit("").as("stats")
        val rowIdCol =
          if (addFields.contains("baseRowId")) col("add.baseRowId")
          else lit(null).cast(org.apache.spark.sql.types.LongType)
        val dcvCol =
          if (addFields.contains("defaultRowCommitVersion"))
            col("add.defaultRowCommitVersion")
          else lit(null).cast(org.apache.spark.sql.types.LongType)
        val adds = addRows
          .select(col("add.path").as("path"),
            coalesce(col("add.partitionValues"), map()).as("partitionValues"),
            coalesce(dvCol, lit("")).as("dvJson"),
            statsCol,
            rowIdCol.as("baseRowId"),
            dcvCol.as("defaultRowCommitVersion"))
          .where(col("path").isNotNull)
          .as(Encoders.product[CkptAdd])
          .filter((a: CkptAdd) => partitionPruner(a.partitionValues) &&
            statsPruner.forall(p => a.stats.isEmpty || p(a.stats)))
          .limit(maxDriverFiles + 1)
          .collect()
        if (adds.length > maxDriverFiles) throw new IllegalStateException(
          s"$tablePath: checkpoint holds more than $maxDriverFiles active files after " +
            "pruning — pass a partitionPruner to cut the file set, or raise maxDriverFiles " +
            "if the driver has the heap for it")
        adds.foreach { a =>
          val dv = if (a.dvJson == null || a.dvJson.isEmpty) None
            else dvOf(mapper.readTree(s"""{"deletionVector":${a.dvJson}}"""))
          active(a.path) = FileAction(a.path, a.partitionValues, dataChange = true, dv = dv,
            stats = if (!withStats || a.stats == null || a.stats.isEmpty) None
              else Some(a.stats),
            baseRowId = a.baseRowId,
            defaultRowCommitVersion = a.defaultRowCommitVersion)
        }
      }
      // a checkpoint's remove actions are expired tombstones — files
      // already absent from its add set; nothing to subtract
    }

    val allVersions0 = versions(spark, tablePath)
    // LOG-COMPACTION files (`<x>.<y>.compacted.json` — delta-spark's
    // minor compactions): the RECONCILED actions of commits x..y in
    // one file; replay substitutes a span for its individual commits,
    // so post-checkpoint replay cost is O(compactions + residual
    // commits) instead of O(commits) — and a span still reads after
    // its covered JSONs are lost
    val compactedSpans: Seq[(Long, Long)] = fs.listStatus(dir).toIndexedSeq
      .map(_.getPath.getName)
      .filter(_.matches("""\d{20}\.\d{20}\.compacted\.json"""))
      .map { n =>
        val parts = n.stripSuffix(".compacted.json").split('.')
        (parts(0).toLong, parts(1).toLong)
      }
      .filter { case (x, y) => x <= y }
      .sorted
    asOf.foreach { v =>
      val known = allVersions0 ++ ckptVersion ++ compactedSpans.map(_._2)
      if (known.isEmpty || known.max < v) throw new IllegalArgumentException(
        s"$tablePath: VERSION AS OF $v does not exist (latest: " +
          s"${if (known.isEmpty) "none" else known.max.toString})")
    }
    val allVersions = allVersions0.filter(v => asOf.forall(v <= _))
    val tail = allVersions.filter(v => ckptVersion.forall(v > _))
    val start = ckptVersion.map(_ + 1L).getOrElse(0L)
    // usable spans: inside the replay window, bounded by asOf; the
    // LONGEST span starting at each version wins
    val spanAt: Map[Long, Long] = compactedSpans
      .filter { case (x, y) => x >= start && asOf.forall(y <= _) }
      .groupBy(_._1).map { case (x, ys) => x -> ys.map(_._2).max }
    val present = tail.toSet
    val target = (present ++ spanAt.values)
      .foldLeft(ckptVersion.getOrElse(-1L))(math.max)
    // a pinned version the plan cannot REACH (its commit cleaned, or
    // only covered by a span extending past it) refuses — serving the
    // highest reachable state would silently rewrite history
    asOf.foreach { a =>
      if (target < a) throw new IllegalStateException(
        s"$tablePath: VERSION AS OF $a cannot be reconstructed — versions after $target " +
          "are not contiguous (cleaned, or covered only by a compacted span extending " +
          s"past $a); refusing rather than silently serving version $target")
    }
    // replay plan: contiguity holds when every version from the base
    // is served by its own JSON or a compacted span — silently
    // skipping a cleaned commit would corrupt the replay
    val steps = Seq.newBuilder[(Path, Long)]
    var v0 = start
    while (v0 <= target) {
      spanAt.get(v0) match {
        case Some(y) =>
          steps += ((new Path(dir, f"$v0%020d.$y%020d.compacted.json"), y))
          v0 = y + 1
        case None if present(v0) =>
          steps += ((new Path(dir, f"$v0%020d.json"), v0))
          v0 += 1
        case None =>
          val what = ckptVersion match {
            case Some(cv) => s"post-checkpoint (checkpoint at $cv) versions"
            case None => "log versions (no checkpoint exists)"
          }
          throw new IllegalStateException(
            s"$tablePath: $what are not contiguous — commit $v0 is missing and no " +
              "compacted span covers it; the log was cleaned past a commit this read " +
              "needs; refusing rather than silently skipping it")
      }
    }
    var latest = ckptVersion.getOrElse(-1L)
    steps.result().foreach { case (p, upto) =>
      latest = upto
      readText(fs, p).split('\n').filter(_.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        refuseUnsupported(node, tablePath)
        if (node.has("add")) {
          val a0 = fileActionOf(node.get("add"))
          val a = if (withStats) a0 else a0.copy(stats = None)
          val statsOk = statsPruner.forall { p =>
            val st = node.get("add").get("stats")
            st == null || st.isNull || p(st.asText())
          }
          if (partitionPruner(a.partitionValues) && statsOk) active(a.path) = a
          else active.remove(a.path): Unit
        } else if (node.has("remove")) {
          active.remove(node.get("remove").get("path").asText()): Unit
        } else if (node.has("metaData")) {
          applyMetaNode(node.get("metaData"))
        } else if (node.has("protocol")) {
          applyProtocolNode(node.get("protocol"))
        } else if (node.has("domainMetadata")) {
          applyDomainNode(node.get("domainMetadata"))
        }
      }
      if (active.size > maxDriverFiles) throw new IllegalStateException(
        s"$tablePath: active file set exceeds $maxDriverFiles after replaying commit $upto — " +
          "pass a partitionPruner or raise maxDriverFiles")
    }
    if (latest < 0) throw new IllegalArgumentException(
      s"$tablePath: empty _delta_log (no checkpoint, no commits)")
    Snapshot(latest, active.values.toIndexedSeq, partCols, schemaJson,
      protocol, metaId, configuration, createdTime, domains.toMap)
  }

  /** Clustering columns a clustered table declares (PROTOCOL.md
    * Clustered Table: the `delta.clustering` metadata domain's
    * configuration carries `{"clusteringColumns":[["col"],…]}`, each
    * inner array a field-name path). Empty for unclustered tables;
    * a clustering domain whose configuration does not parse refuses
    * loudly rather than silently reporting "unclustered".
    */
  def clusteringColumns(spark: SparkSession, tablePath: String): Seq[Seq[String]] =
    clusteringColumnsOf(snapshotState(spark, tablePath), tablePath)

  private[sources] def clusteringColumnsOf(state: Snapshot,
      tablePath: String): Seq[Seq[String]] =
    state.domainMetadata.get("delta.clustering").map { conf =>
      val node = try mapper.readTree(conf) catch {
        case e: Exception => throw new IllegalStateException(
          s"$tablePath: delta.clustering domain configuration is not valid JSON: $conf", e)
      }
      val arr = node.get("clusteringColumns")
      if (arr == null || !arr.isArray) throw new IllegalStateException(
        s"$tablePath: delta.clustering domain configuration lacks clusteringColumns: $conf")
      val b = Seq.newBuilder[Seq[String]]
      arr.forEach { path =>
        val p = Seq.newBuilder[String]
        path.forEach(seg => p += seg.asText())
        b += p.result()
      }
      b.result()
    }.getOrElse(Nil)

  /** Latest committed version number — metadata only (no add-set
    * materialization): max of the advertised checkpoint version and
    * the last JSON commit.
    */
  def latestVersion(spark: SparkSession, tablePath: String): Long = {
    val dir = logDir(tablePath)
    val fs = fsOf(spark, dir)
    val lastCkpt = new Path(dir, "_last_checkpoint")
    val ckpt = if (fs.exists(lastCkpt))
      Some(mapper.readTree(readText(fs, lastCkpt)).get("version").asLong()) else None
    val vs = versions(spark, tablePath)
    (ckpt.toSeq ++ vs).sorted.lastOption.getOrElse(
      throw new IllegalArgumentException(s"$tablePath: empty _delta_log (no checkpoint, no commits)"))
  }

  /** The active file actions — exposed so partition-pruning callers
    * can filter on `partitionValues` BEFORE any data I/O.
    */
  def activeFiles(spark: SparkSession, tablePath: String): Seq[FileAction] =
    snapshotState(spark, tablePath).active

  /** Per-appId `txn` watermarks — the protocol's
    * application-transaction state, replayed from the checkpoint's
    * `txn` column (post-cleanup the only copy) plus the JSON tail.
    * Empty when the table does not exist yet.
    */
  def transactionWatermarks(spark: SparkSession, tablePath: String): Map[String, Long] = {
    val dir = logDir(tablePath)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) return Map.empty
    val best = scala.collection.mutable.Map.empty[String, Long]
    def consider(app: String, v: Long): Unit =
      if (best.get(app).forall(_ < v)) best(app) = v
    val lastCkpt = new Path(dir, "_last_checkpoint")
    val ckptVersion: Option[Long] =
      if (!fs.exists(lastCkpt)) None
      else Some(mapper.readTree(readText(fs, lastCkpt)).get("version").asLong())
    ckptVersion.foreach { v =>
      val single = new Path(dir, f"$v%020d.checkpoint.parquet")
      val ckptFiles: Seq[String] =
        if (fs.exists(single)) Seq(single.toString)
        else fs.listStatus(dir).toIndexedSeq.map(_.getPath)
          .filter(p => p.getName.startsWith(f"$v%020d.checkpoint.") &&
            p.getName.endsWith(".parquet"))
          .map(_.toString)
      if (ckptFiles.nonEmpty) {
        val rows = spark.read.parquet(ckptFiles: _*)
        if (rows.columns.contains("txn")) {
          rows.select(col("txn.appId").as("a"), col("txn.version").as("v"))
            .where(col("a").isNotNull)
            .groupBy(col("a")).agg(max(col("v")).as("v"))
            .collect()
            .foreach(r => consider(r.getString(0), r.getLong(1)))
        }
      }
      // V2 JSON manifests carry txn actions as lines
      fs.listStatus(dir).toIndexedSeq.map(_.getPath)
        .filter(p => p.getName.startsWith(f"$v%020d.checkpoint.") &&
          p.getName.endsWith(".json"))
        .foreach { p =>
          readText(fs, p).split('\n').filter(_.nonEmpty).foreach { line =>
            val node = mapper.readTree(line)
            if (node.has("txn")) {
              val t = node.get("txn")
              consider(t.get("appId").asText(), t.get("version").asLong())
            }
          }
        }
    }
    versions(spark, tablePath).filter(v => ckptVersion.forall(v > _)).foreach { v =>
      readText(fs, new Path(dir, f"$v%020d.json")).split('\n').filter(_.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        if (node.has("txn")) {
          val t = node.get("txn")
          consider(t.get("appId").asText(), t.get("version").asLong())
        }
      }
    }
    // COMPACTED log files carry each span's latest txn per appId —
    // fold them too, unconditionally: when a span's covered JSONs are
    // lost the span is the ONLY copy (silently dropping a watermark
    // would make an idempotent sink replay batches), and when the
    // singles exist the max-fold makes the extra read a no-op
    fs.listStatus(dir).toIndexedSeq.map(_.getPath)
      .filter(_.getName.matches("""\d{20}\.\d{20}\.compacted\.json"""))
      .foreach { p =>
        readText(fs, p).split('\n').filter(_.nonEmpty).foreach { line =>
          val node = mapper.readTree(line)
          if (node.has("txn")) {
            val t = node.get("txn")
            consider(t.get("appId").asText(), t.get("version").asLong())
          }
        }
      }
    best.toMap
  }

  /** Highest `txn` action version committed for `appId` — what makes
    * a streaming writer's micro-batch appends IDEMPOTENT (skip
    * batches at or below it on restart/replay). None when the table
    * does not exist yet or carries no transaction for the app.
    */
  def lastTransactionVersion(spark: SparkSession, tablePath: String,
      appId: String): Option[Long] =
    transactionWatermarks(spark, tablePath).get(appId)

  /** Spark type of a partition column, from the table's metaData
    * schemaString (a Spark-JSON struct). Falls back to string.
    */
  private def partitionType(schemaJson: Option[String], name: String): org.apache.spark.sql.types.DataType =
    schemaJson.flatMap { js =>
      scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(js)).toOption
    } match {
      case Some(st: StructType) if st.fieldNames.contains(name) => st(name).dataType
      case _ => StringType
    }

  /** Delta `add.path` is URI-percent-encoded per PROTOCOL.md — decode
    * before touching the filesystem ('+' is a literal plus in a URI
    * path, so it is shielded from URLDecoder's form-decoding).
    */
  private[sources] def decodePath(p: String): String =
    if (!p.contains('%')) p // fast path, nothing encoded
    else java.net.URLDecoder.decode(p.replace("+", "%2B"), "UTF-8")

  /** An `add.path`, decoded and absolute. */
  private[sources] def abs(tablePath: String, rel: String): String = {
    val p = decodePath(rel)
    if (p.startsWith("/") || p.contains("://")) p else s"$tablePath/$p"
  }

  /** Normalize a path to scheme-less DECODED form for joining
    * driver-side file lists against the scan's `_metadata.file_path`
    * — which reports a qualified, URI-percent-encoded path
    * (`file:///.../x%20y.parquet` for a file named `x y.parquet`).
    * Driver side already holds decoded paths; the scan side strips
    * the scheme and percent-decodes ('+' shielded first: it is a
    * literal plus in a URI path, not a form-encoded space).
    */
  private def normalizeDriverPath(p: String): String = ScanPaths.normalizeDriver(p)

  private def normalizeScanPath(c: Column): Column = ScanPaths.normalizeScan(c)

  /** Expand the DV descriptors of `files` into a (file, position)
    * DataFrame — decode runs ON EXECUTORS (sidecar reads through a
    * broadcast Hadoop conf), the driver never holds the positions.
    */
  /** The DV-diff/file-scan building blocks, shared with the WRITER's
    * restore CDF legs (the change images of a restore are exactly
    * file-set and DV-position diffs — never a whole-snapshot
    * exceptAll). */
  private[sources] def dvKeyOf(tablePath: String, f: FileAction): String =
    normalizeDriverPath(abs(tablePath, f.path))

  private[sources] def dvPositionsOf(spark: SparkSession, tablePath: String,
      dvFiles: Seq[(String, DeltaDv.Descriptor)]): DataFrame =
    dvPositions(spark, tablePath, dvFiles)

  private[sources] def readFileActions(spark: SparkSession, tablePath: String,
      files: Seq[FileAction], partitionColumns: Seq[String], schemaJson: Option[String],
      configuration: Map[String, String],
      keepPositions: Option[DataFrame] = None): DataFrame =
    readFiles(spark, tablePath, files, partitionColumns, schemaJson,
      keepPositions = keepPositions, configuration = configuration)

  private def dvPositions(
      spark: SparkSession,
      tablePath: String,
      dvFiles: Seq[(String, DeltaDv.Descriptor)]): DataFrame = {
    val bcConf = spark.sparkContext.broadcast(
      new DeltaDv.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    val tasks = dvFiles.map { case (file, d) =>
      DvTask(file, d.storageType, d.pathOrInlineDv, d.offset, d.sizeInBytes)
    }
    val table = tablePath // avoid capturing `this`
    spark.createDataset(tasks)(Encoders.product[DvTask])
      .repartition(math.max(1, math.min(tasks.size, spark.sparkContext.defaultParallelism)))
      .flatMap { t =>
        val d = DeltaDv.Descriptor(t.storageType, t.pathOrInlineDv, t.offset, t.sizeInBytes, 0L)
        DeltaDv.positionsOf(bcConf.value.value, table, d).iterator.map(p => (t.file, p))
      }(Encoders.product[(String, Long)])
      .toDF("_g_file", "_g_pos")
  }

  /** Read `files` as ONE distributed parquet scan; attach partition
    * values via a broadcast file→values map on `_metadata.file_path`;
    * subtract deletion-vector positions with a (broadcast when small)
    * anti join; restore the table-schema column order.
    */
  private def readFiles(
      spark: SparkSession,
      tablePath: String,
      files: Seq[FileAction],
      partitionColumns: Seq[String],
      schemaJson: Option[String],
      keepPositions: Option[DataFrame] = None,
      keepKeys: Boolean = false,
      configuration: Map[String, String] = Map.empty,
      changeData: Boolean = false,
      // physical columns OUTSIDE the table schema to request from the
      // scan and append to the result (row tracking's materialized
      // row-id columns live in file bytes but never in schemaString);
      // files lacking them null-fill. Unmapped tables only.
      extraScanCols: Seq[StructField] = Nil): DataFrame = {
    if (files.isEmpty)
      throw new IllegalArgumentException(s"$tablePath: snapshot has no active data files")
    val absOf: FileAction => String = f => abs(tablePath, f.path)
    val base = configuration.get("delta.columnMapping.mode") match {
      case Some("id") =>
        // field-ID matching needs the session flag; it only changes
        // scans whose REQUESTED schema carries parquet.field.id
        // metadata (this one), so enabling it is benign and must
        // outlive this call — the returned frame plans lazily
        if (spark.conf.getOption("spark.sql.parquet.fieldId.read.enabled")
            .forall(_ != "true"))
          spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        val idSchema = fieldIdSchemaOf(schemaJson, partitionColumns, tablePath)
        // change-data files: `_change_type` is a METADATA column
        // OUTSIDE the table schema (PROTOCOL.md, Change Data Files) —
        // it carries no field id by design and resolves by NAME
        // (Spark's field-id matcher falls back to name matching for
        // requested fields without an id), while the data columns
        // keep resolving by id
        val reqSchema =
          if (changeData) StructType(idSchema.fields :+ StructField(
            "_change_type", org.apache.spark.sql.types.StringType, nullable = true))
          else idSchema
        spark.read.schema(reqSchema).parquet(files.map(absOf): _*)
      case Some("name") =>
        // request the PHYSICAL schema from the declared schemaString:
        // footer inference samples ONE file, so a table evolved after
        // some files landed would serve or drop the new column
        // depending on which file Spark sampled — the declared scan
        // null-fills deterministically (dropped columns are naturally
        // excluded: the schemaString no longer names them)
        val physSchema = schemaJson
          .flatMap(js => scala.util.Try(
            org.apache.spark.sql.types.DataType.fromJson(js)).toOption)
          .collect { case st: org.apache.spark.sql.types.StructType =>
            val physOfDecl = columnMappingOf(schemaJson, tablePath)
            // inner fields request their PHYSICAL names too (the
            // files' shape); the final projection casts them back.
            // Change-data files additionally carry the protocol's
            // UNMAPPED `_change_type` column
            val extra =
              if (changeData) Seq(org.apache.spark.sql.types.StructField(
                "_change_type", org.apache.spark.sql.types.StringType, nullable = true))
              else Nil
            org.apache.spark.sql.types.StructType(
              st.fields.filterNot(f => partitionColumns.contains(f.name)).map(f =>
                org.apache.spark.sql.types.StructField(
                  physOfDecl.getOrElse(f.name, f.name), physInnerType(f.dataType),
                  nullable = true)) ++ extra)
          }
        physSchema match {
          case Some(st) if st.nonEmpty =>
            spark.read.schema(st).parquet(files.map(absOf): _*)
          case _ => spark.read.parquet(files.map(absOf): _*)
        }
      case _ =>
        // scan with the DECLARED schema (minus partition columns —
        // they live in the log, not the files): after an additive
        // schema evolution, files written earlier lack the new column
        // and must null-fill; footer inference would make the scanned
        // schema depend on which file Spark samples
        schemaJson
          .flatMap(js => scala.util.Try(
            org.apache.spark.sql.types.DataType.fromJson(js)).toOption)
          .collect { case st: org.apache.spark.sql.types.StructType =>
            // change-data files carry the table schema PLUS the
            // protocol's _change_type column
            val extra =
              if (changeData) Seq(org.apache.spark.sql.types.StructField(
                "_change_type", org.apache.spark.sql.types.StringType, nullable = true))
              else Nil
            org.apache.spark.sql.types.StructType(
              st.fields.filterNot(f => partitionColumns.contains(f.name))
                .map(_.copy(nullable = true)) ++ extra ++
                extraScanCols.map(_.copy(nullable = true)))
          } match {
          case Some(st) if st.nonEmpty =>
            spark.read.schema(st).parquet(files.map(absOf): _*)
          case _ => spark.read.parquet(files.map(absOf): _*)
        }
    }
    // columnMapping name mode: the scan returns PHYSICAL column names;
    // everything downstream keys on logical names, so translate the
    // scanned columns first and resolve partition values through the
    // logical→physical map (add.partitionValues keys are physical
    // names under column mapping, per PROTOCOL.md)
    val physOf = columnMappingOf(schemaJson, tablePath)
    val logOf = physOf.map(_.swap)
    // NAME mode: a physical column the schemaString no longer maps is
    // a DROPPED column — the files keep its bytes, readers must stop
    // projecting it (serving it under its physical name would leak)
    val isNameMode = configuration.get("delta.columnMapping.mode").contains("name")
    val dataCols =
      if (isNameMode) base.columns.toIndexedSeq.flatMap(c =>
        // `_change_type` is the protocol's own UNMAPPED column on
        // change-data files — it rides through the translation
        logOf.get(c).orElse(if (changeData && c == "_change_type") Some(c) else None))
      else base.columns.toIndexedSeq.map(c => logOf.getOrElse(c, c))
        .filterNot(extraScanCols.map(_.name).contains)
    val physKeyOf: String => String = c => physOf.getOrElse(c, c)

    val dvFiles = files.collect {
      case f if f.dv.isDefined => (normalizeDriverPath(absOf(f)), f.dv.get)
    }
    val needsMeta =
      partitionColumns.nonEmpty || dvFiles.nonEmpty || keepPositions.isDefined || keepKeys
    val keyed0 =
      if (!needsMeta) base
      else base.withColumn("_g_file", normalizeScanPath(col("_metadata.file_path")))
    val keyed =
      if (!keepKeys) keyed0
      else keyed0.withColumn("_g_pos", col("_metadata.row_index"))

    // keepPositions mode (the change feed's pre-image reads): serve
    // ONLY the rows at the named (file, position) pairs — the file's
    // own DV is the caller's business there, not subtracted again
    def posKeyed = if (keepKeys) keyed
      else keyed.withColumn("_g_pos", col("_metadata.row_index"))
    def dropPos(df: DataFrame) = if (keepKeys) df else df.drop("_g_pos")
    val afterDv = keepPositions match {
      case Some(pos) =>
        dropPos(posKeyed.join(pos, Seq("_g_file", "_g_pos"), "left_semi"))
      case None if dvFiles.isEmpty => keyed
      case None =>
        val positions0 = dvPositions(spark, tablePath, dvFiles)
        val totalCard = dvFiles.map(_._2.cardinality).sum
        val positions =
          if (totalCard <= DvBroadcastMaxPositions) broadcast(positions0) else positions0
        dropPos(posKeyed.join(positions, Seq("_g_file", "_g_pos"), "left_anti"))
    }

    val withParts =
      if (partitionColumns.isEmpty) afterDv
      else {
        val pvRows = files.map { f =>
          Row.fromSeq(normalizeDriverPath(absOf(f)) +:
            partitionColumns.map(c => f.partitionValues.get(physKeyOf(c)).orNull))
        }
        val pvSchema = StructType(
          StructField("_g_file", StringType, nullable = false) +:
            partitionColumns.map(c => StructField(s"_g_pv_$c", StringType, nullable = true)))
        import scala.jdk.CollectionConverters._
        val pvDf = spark.createDataFrame(pvRows.asJava, pvSchema)
        val joined = afterDv.join(broadcast(pvDf), Seq("_g_file"), "left")
        partitionColumns.foldLeft(joined) { (acc, c) =>
          acc.withColumn(c, col(s"_g_pv_$c").cast(partitionType(schemaJson, c)))
        }.drop(partitionColumns.map(c => s"_g_pv_$c"): _*)
      }

    val cleaned = if (needsMeta && !keepKeys) withParts.drop("_g_file") else withParts

    // column order: the table schema's, when it covers exactly the
    // physical + partition columns; otherwise data then partition
    val finalCols = dataCols ++ partitionColumns.filterNot(dataCols.contains)
    val ordered = schemaJson
      .flatMap(js => scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(js)).toOption)
      .collect {
        case st: StructType
          if st.fieldNames.nonEmpty && st.fieldNames.toSet == finalCols.toSet =>
            st.fieldNames.toIndexedSeq
      }
      .getOrElse(finalCols)
    // final projection translates physical data columns back to their
    // logical names (NAME mode only — id-mode scans already returned
    // logical names via field-ID matching); partition columns were
    // attached logically already. A column with mapped INNER fields
    // additionally casts to the logical nested shape — the positional
    // struct cast is the rename (applied ONLY where needed, so plain
    // columns keep their pushdown-friendly bare references)
    val isIdMode = configuration.get("delta.columnMapping.mode").contains("id")
    val declaredTypeOf: Map[String, org.apache.spark.sql.types.DataType] = schemaJson
      .flatMap(js => scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(js)).toOption)
      .collect { case st: StructType => st.fields.map(f => f.name -> f.dataType).toMap }
      .getOrElse(Map.empty)
    val projected = ordered.map { c =>
      val phys = physKeyOf(c)
      val nestedMapped = !partitionColumns.contains(c) &&
        declaredTypeOf.get(c).exists(hasNestedMapping)
      if (nestedMapped) {
        // BOTH modes scanned the physical inner shape; the positional
        // struct cast is the inner rename. In id mode the TOP name is
        // already logical (field-id matching served it); name mode
        // translates it here too.
        val src = if (isIdMode) col(c) else col(phys)
        src.cast(logicalCleanType(declaredTypeOf(c))).as(c)
      }
      else if (phys != c && !partitionColumns.contains(c) && !isIdMode) col(phys).as(c)
      else col(c)
    }
    val finalProjection =
      (if (keepKeys) projected ++ Seq(col("_g_file"), col("_g_pos")) else projected) ++
        extraScanCols.map(f => col(f.name))
    cleaned.select(finalProjection: _*)
  }

  /** Snapshot rows WITH their physical identity — normalized file
    * path (`_g_file`) and row position (`_g_pos`) appended to every
    * live row. The DV-delete writer's input: predicate evaluation
    * happens on exactly the rows a reader would serve, and the
    * surviving identity pair is what the new vectors mask.
    */
  private[sources] def snapshotWithKeys(spark: SparkSession,
      tablePath: String,
      extraScanCols: Seq[StructField] = Nil): (Snapshot, DataFrame) = {
    // DV delete/upsert re-adds must re-emit each file's stats
    // verbatim, so this resolution carries them
    val s = snapshotState(spark, tablePath, withStats = true)
    (s, readFiles(spark, tablePath, s.active, s.partitionColumns, s.schemaJson,
      keepKeys = true, configuration = s.configuration,
      extraScanCols = extraScanCols))
  }

  /** Row tracking's MATERIALIZED column names, when assigned
    * (PROTOCOL.md: rewritten files preserve each row's id/commit
    * version in physical columns OUTSIDE the table schema, named in
    * the table configuration). */
  private[sources] def materializedRowIdCols(
      configuration: Map[String, String]): Option[(String, String)] =
    for {
      idc <- configuration.get("delta.rowTracking.materializedRowIdColumnName")
      vc <- configuration.get("delta.rowTracking.materializedRowCommitVersionColumnName")
    } yield (idc, vc)

  /** Snapshot read: the latest version's active files as a DataFrame,
    * deletion vectors applied. `partitionPruner` prunes files by
    * partition values before ANY data I/O or driver materialization.
    */
  def snapshot(
      spark: SparkSession,
      tablePath: String,
      partitionPruner: Map[String, String] => Boolean = _ => true,
      maxDriverFiles: Int = MaxDriverFileActions): DataFrame = {
    val s = snapshotState(spark, tablePath, partitionPruner, maxDriverFiles)
    readFiles(spark, tablePath, s.active, s.partitionColumns, s.schemaJson,
      configuration = s.configuration)
  }

  /** Snapshot read with ROW TRACKING identity (PROTOCOL.md Row
    * Tracking): every live row carries `_row_id` (the file's
    * `baseRowId` + the row's physical index — fresh row ids, stable
    * across DV deletes because vectors mask positions without moving
    * rows) and `_row_commit_version` (the file's
    * `defaultRowCommitVersion` — the commit that added it). Refuses a
    * table whose protocol does not declare the feature, and refuses
    * loudly if any active file LACKS the fields (the spec obliges
    * every add under the feature — a silent null id would
    * re-identify rows). The per-file map is |files| driver rows,
    * broadcast; the id arithmetic is codegen'd column math.
    */
  def snapshotWithRowIds(spark: SparkSession, tablePath: String): DataFrame = {
    // materialized columns (file bytes, outside the schema) take
    // precedence over base+index — they are how a REWRITE preserved
    // the original ids; files lacking them null-fill and the base
    // arithmetic serves
    val matCols = {
      val st0 = snapshotState(spark, tablePath)
      materializedRowIdCols(st0.configuration)
    }
    val extraCols = matCols.toSeq.flatMap { case (idc, vc) =>
      Seq(StructField(idc, org.apache.spark.sql.types.LongType, nullable = true),
        StructField(vc, org.apache.spark.sql.types.LongType, nullable = true))
    }
    val (s, keyed) = snapshotWithKeys(spark, tablePath, extraScanCols = extraCols)
    if (!s.protocol.exists(_.writerFeatures.contains("rowTracking")))
      throw new IllegalStateException(
        s"$tablePath: protocol does not declare the rowTracking writer feature — " +
          "row ids were never assigned; refusing")
    val missing = s.active.filter(f =>
      f.baseRowId.isEmpty || f.defaultRowCommitVersion.isEmpty)
    if (missing.nonEmpty) throw new IllegalStateException(
      s"$tablePath: ${missing.size} active file(s) lack baseRowId/" +
        s"defaultRowCommitVersion (e.g. ${missing.head.path}) — the rowTracking " +
        "feature obliges them on every add; refusing rather than serving null ids")
    import scala.jdk.CollectionConverters._
    val rows = s.active.map { f =>
      org.apache.spark.sql.Row(normalizeDriverPath(abs(tablePath, f.path)),
        f.baseRowId.get, f.defaultRowCommitVersion.get)
    }
    val schema = StructType(Seq(
      StructField("_g_file", StringType, nullable = false),
      StructField("_g_base_row_id", org.apache.spark.sql.types.LongType, nullable = false),
      StructField("_g_dcv", org.apache.spark.sql.types.LongType, nullable = false)))
    val idMap = spark.createDataFrame(rows.asJava, schema)
    val joined = keyed.join(broadcast(idMap), Seq("_g_file"), "left")
    val (idExpr, vExpr) = matCols match {
      case Some((idc, vc)) =>
        (coalesce(col(idc), col("_g_base_row_id") + col("_g_pos")),
          coalesce(col(vc), col("_g_dcv")))
      case None =>
        (col("_g_base_row_id") + col("_g_pos"), col("_g_dcv"))
    }
    joined
      .withColumn("_row_id", idExpr)
      .withColumn("_row_commit_version", vExpr)
      .drop(Seq("_g_file", "_g_pos", "_g_base_row_id", "_g_dcv") ++
        matCols.toSeq.flatMap { case (a, b) => Seq(a, b) }: _*)
  }

  /** STATS-BASED FILE SKIPPING: a snapshot read pruned by the add
    * actions' `stats` min/max ranges for `column` against
    * `[lo, hi]` — a file provably outside the range (max < lo or
    * min > hi) never reaches the scan OR the driver's add set. Files
    * without usable stats for the column are conservatively KEPT, so
    * the result is always exactly the rows a full snapshot would
    * serve the same predicate (callers still apply their row filter;
    * this prunes I/O, not semantics). Numeric comparison; the same
    * data-skipping rule Delta's own reader applies.
    */
  def snapshotSkipping(spark: SparkSession, tablePath: String,
      column: String, lo: Double, hi: Double): DataFrame = {
    val pruner: String => Boolean = statsJson => {
      val parsed = scala.util.Try(mapper.readTree(statsJson)).toOption
      val minV = parsed.flatMap(n => Option(n.get("minValues")))
        .flatMap(n => Option(n.get(column))).filterNot(_.isNull)
        .flatMap(v => scala.util.Try(v.asDouble()).toOption.filter(_ => v.isNumber))
      val maxV = parsed.flatMap(n => Option(n.get("maxValues")))
        .flatMap(n => Option(n.get(column))).filterNot(_.isNull)
        .flatMap(v => scala.util.Try(v.asDouble()).toOption.filter(_ => v.isNumber))
      (minV, maxV) match {
        case (Some(mn), Some(mx)) => !(mx < lo || mn > hi)
        case _ => true // no usable stats → keep, conservatively
      }
    }
    val s = snapshotState(spark, tablePath, statsPruner = Some(pruner))
    readFiles(spark, tablePath, s.active, s.partitionColumns, s.schemaJson,
      configuration = s.configuration)
  }

  /** VERSION AS OF: the table exactly as of commit `version` — log
    * replay stops there (the advertised checkpoint is used only when
    * it does not overshoot; an overshooting checkpoint with cleaned
    * pre-checkpoint JSONs refuses via the contiguity check, never
    * silently serves a later state). Deletion vectors attached as of
    * that version apply; a non-existent version refuses.
    */
  def snapshotAsOf(spark: SparkSession, tablePath: String, version: Long): DataFrame = {
    val s = snapshotState(spark, tablePath, asOf = Some(version))
    readFiles(spark, tablePath, s.active, s.partitionColumns, s.schemaJson,
      configuration = s.configuration)
  }

  /** TIMESTAMP AS OF: resolve the latest version whose commit landed
    * at or before `timestampMs` — Delta's own rule (commit-file
    * modification times order the timeline) — and read that version.
    * A timestamp before the earliest available commit refuses.
    */
  def snapshotAsOfTimestamp(spark: SparkSession, tablePath: String,
      timestampMs: Long): DataFrame = {
    val dir = logDir(tablePath)
    val fs = fsOf(spark, dir)
    val stamped = versions(spark, tablePath).map { v =>
      // IN-COMMIT TIMESTAMPS (the inCommitTimestamp writer feature):
      // when a commit's commitInfo carries `inCommitTimestamp`, THAT
      // is the commit's time — exact and copy-stable, unlike file
      // mtimes (a log rsync'd to new storage would otherwise time-
      // travel to the copy date). File mtime stays the fallback, the
      // pre-ICT protocol rule.
      val text = readText(fs, new Path(dir, f"$v%020d.json"))
      val ict = text.split('\n').filter(_.nonEmpty).iterator.map(mapper.readTree)
        .collectFirst {
          case n if n.has("commitInfo") &&
            n.get("commitInfo").has("inCommitTimestamp") =>
            n.get("commitInfo").get("inCommitTimestamp").asLong()
        }
      v -> ict.getOrElse(
        fs.getFileStatus(new Path(dir, f"$v%020d.json")).getModificationTime)
    }
    val eligible = stamped.filter(_._2 <= timestampMs).map(_._1)
    if (eligible.isEmpty) throw new IllegalArgumentException(
      s"$tablePath: no commit at or before timestamp $timestampMs " +
        s"(earliest: ${stamped.headOption.map(_._2).getOrElse(-1L)})")
    snapshotAsOf(spark, tablePath, eligible.max)
  }

  /** Incremental read: rows ADDED by commits `sinceVersion+1..latest`
    * (`dataChange=true` adds), tagged with `_commit_version`. A commit
    * in that range that REMOVES data files (`dataChange=true`) or
    * attaches a DELETION VECTOR is a rewrite/delete and refuses
    * loudly — an append-scoped incremental read cannot represent it
    * (use [[snapshot]] or a CDC source). Compaction commits
    * (`dataChange=false`) are skipped entirely. A log whose JSONs do
    * not cover `sinceVersion+1..latest` contiguously refuses — a
    * cleaned commit would otherwise be silently skipped.
    */
  def incrementalSince(spark: SparkSession, tablePath: String, sinceVersion: Long): DataFrame = {
    val dir = logDir(tablePath)
    val fs = fsOf(spark, dir)
    val state = snapshotState(spark, tablePath) // partition cols + schema
    val vs = versions(spark, tablePath).filter(_ > sinceVersion)
    if (vs.nonEmpty) requireContiguous(vs, sinceVersion + 1, tablePath, "incremental-range")
    val adds = Seq.newBuilder[(Long, FileAction)]
    vs.foreach { v =>
      readText(fs, new Path(dir, f"$v%020d.json")).split('\n').filter(_.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        refuseUnsupported(node, tablePath)
        if (node.has("remove") &&
            Option(node.get("remove").get("dataChange")).forall(_.asBoolean(true)))
          throw new AppendScopedRangeException(
            s"$tablePath: commit $v removes data files — not an append; " +
              s"incremental read since $sinceVersion cannot represent rewrites/deletes " +
              "(read the snapshot instead, or consume a CDC feed)")
        if (node.has("add")) {
          val a = fileActionOf(node.get("add"))
          if (a.dv.isDefined) throw new AppendScopedRangeException(
            s"$tablePath: commit $v attaches a deletion vector to ${a.path} — a row " +
              s"delete, not an append; incremental read since $sinceVersion cannot " +
              "represent it (read the snapshot instead, or consume a CDC feed)")
          if (a.dataChange) adds += ((v, a))
        }
      }
    }
    val byVersion = adds.result().groupBy(_._1)
    if (byVersion.isEmpty)
      throw new IllegalArgumentException(
        s"$tablePath: no data-changing commits after version $sinceVersion " +
          s"(latest: ${state.version})")
    byVersion.toSeq.sortBy(_._1).map { case (v, fas) =>
      readFiles(spark, tablePath, fas.map(_._2), state.partitionColumns, state.schemaJson,
          configuration = state.configuration)
        .withColumn("_commit_version", lit(v))
    }.reduce(_ unionByName _)
  }

  /** CDC-grade incremental: the CHANGE FEED of commits
    * `sinceVersion+1..latest`, reconstructed from the file actions —
    * exactly Delta's own CDF fallback for commits that carry no
    * explicit cdc files:
    *
    *  - a `dataChange` add of a NEW path → `insert` images (the
    *    file's rows, minus any DV it arrives with);
    *  - a re-add of an ACTIVE path with a GROWN deletion vector (the
    *    protocol's remove+re-add DV attach) → `delete` images: the
    *    pre-image rows at exactly the newly-deleted positions (DV
    *    diff, decoded on executors);
    *  - a `dataChange` remove whose path is NOT re-added → `delete`
    *    images: the file's still-live rows (minus its old DV);
    *  - `dataChange=false` adds/removes (compaction) update the
    *    replay state but emit nothing.
    *
    * A SHRINKING deletion vector (a restore) refuses loudly — the
    * feed cannot represent resurrection. Output rows carry
    * `_change_type` ('insert'/'delete') + `_commit_version`; the
    * append-only path of [[incrementalSince]] stays byte-identical
    * for consumers that want refusal over reconstruction.
    */
  def changeFeedSince(spark: SparkSession, tablePath: String, sinceVersion: Long): DataFrame = {
    val dir = logDir(tablePath)
    val fs = fsOf(spark, dir)
    val endState = snapshotState(spark, tablePath) // schema + partition columns
    val startState = snapshotState(spark, tablePath, asOf = Some(sinceVersion))
    val vs = versions(spark, tablePath).filter(_ > sinceVersion)
    if (vs.isEmpty) throw new IllegalArgumentException(
      s"$tablePath: no commits after version $sinceVersion (latest: ${endState.version})")
    requireContiguous(vs, sinceVersion + 1, tablePath, "change-feed-range")
    val active = scala.collection.mutable.LinkedHashMap.empty[String, FileAction]
    startState.active.foreach(f => active(f.path) = f)
    val legs = Seq.newBuilder[DataFrame]
    def tag(df: DataFrame, change: String, v: Long): DataFrame =
      df.withColumn("_change_type", lit(change)).withColumn("_commit_version", lit(v))
    vs.foreach { v =>
      val adds = Seq.newBuilder[FileAction]
      val removes = Seq.newBuilder[(String, Boolean)] // (path, dataChange)
      val cdcFiles = Seq.newBuilder[FileAction]
      readText(fs, new Path(dir, f"$v%020d.json")).split('\n').filter(_.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        refuseUnsupported(node, tablePath)
        if (node.has("add")) adds += fileActionOf(node.get("add"))
        else if (node.has("remove")) {
          val r = node.get("remove")
          removes += ((r.get("path").asText(),
            Option(r.get("dataChange")).forall(_.asBoolean(true))))
        } else if (node.has("cdc")) cdcFiles += fileActionOf(node.get("cdc"))
      }
      val added = adds.result()
      val addedPaths = added.map(_.path).toSet
      val cdc = cdcFiles.result()
      if (cdc.nonEmpty) {
        // a CDF-enabled writer recorded this commit's change rows
        // EXPLICITLY (`cdc` actions → change-data parquet carrying
        // `_change_type`, update pre/post images included) — per
        // Delta's CDF rules the cdc files ARE the commit's feed and
        // the add/remove actions are NOT reconstructed (doing both
        // would double-count every changed row)
        val cdcDf = readFiles(spark, tablePath, cdc,
          endState.partitionColumns, endState.schemaJson,
          configuration = endState.configuration, changeData = true)
        require(cdcDf.columns.contains("_change_type"),
          s"$tablePath: commit $v's cdc files carry no _change_type column — corrupt " +
            "change data; refusing")
        legs += cdcDf.withColumn("_commit_version", lit(v))
        removes.result().foreach { case (p, _) => active.remove(p): Unit }
        added.foreach(a => active(a.path) = a)
      } else {
      // inserts: data-changing adds of paths not currently active
      val inserts = added.filter(a => a.dataChange && !active.contains(a.path))
      if (inserts.nonEmpty)
        legs += tag(readFiles(spark, tablePath, inserts,
          endState.partitionColumns, endState.schemaJson,
          configuration = endState.configuration), "insert", v)
      // DV growth: re-add of an active path — delete images at the
      // newly-masked positions
      val dvGrowth = added.filter(a => a.dataChange && active.contains(a.path))
      dvGrowth.foreach { a =>
        val before = active(a.path)
        val oldCard = before.dv.map(_.cardinality).getOrElse(0L)
        val newCard = a.dv.map(_.cardinality).getOrElse(0L)
        if (newCard < oldCard) throw new IllegalStateException(
          s"$tablePath: commit $v SHRINKS the deletion vector of ${a.path} " +
            s"($oldCard→$newCard) — a restore; the change feed cannot represent " +
            "resurrected rows; refusing")
        if (a.dv.isEmpty && before.dv.isEmpty)
          throw new IllegalStateException(
            s"$tablePath: commit $v re-adds active path ${a.path} with no deletion " +
              "vector on either side — not a DV delete and not an append; refusing")
        // equal cardinality with a DIFFERENT vector = delete+restore in
        // one step; the feed cannot represent the resurrected half
        if (newCard == oldCard && a.dv != before.dv)
          throw new IllegalStateException(
            s"$tablePath: commit $v swaps ${a.path}'s deletion vector for a different " +
              s"one of equal cardinality ($newCard) — a delete+restore; refusing")
      }
      val grown = dvGrowth.filter(a =>
        a.dv.map(_.cardinality).getOrElse(0L) > active(a.path).dv.map(_.cardinality).getOrElse(0L))
      if (grown.nonEmpty) {
        val file: FileAction => String = f => normalizeDriverPath(abs(tablePath, f.path))
        val newPos = dvPositions(spark, tablePath,
          grown.flatMap(a => a.dv.map(d => (file(a), d))))
        val oldDvs = grown.flatMap(a => active(a.path).dv.map(d => (file(a), d)))
        val diff =
          if (oldDvs.isEmpty) newPos
          else {
            val oldPos = dvPositions(spark, tablePath, oldDvs)
            // cardinality growth alone does not prove set growth: any
            // old position absent from the new vector is a silent
            // resurrection — refuse at the positions level
            if (oldPos.join(newPos, Seq("_g_file", "_g_pos"), "left_anti").limit(1).count() > 0)
              throw new IllegalStateException(
                s"$tablePath: commit $v's new deletion vector drops previously-deleted " +
                  "positions — a partial restore; the change feed cannot represent " +
                  "resurrected rows; refusing")
            newPos.join(oldPos, Seq("_g_file", "_g_pos"), "left_anti")
          }
        // the position set is DV-sized — broadcast the semi join when
        // the descriptor cardinalities say it fits (same rule as the
        // snapshot's DV anti join), never sort-merge small deletes
        val newCardSum = grown.flatMap(_.dv).map(_.cardinality).sum
        val diffHinted =
          if (newCardSum <= DvBroadcastMaxPositions) broadcast(diff) else diff
        legs += tag(readFiles(spark, tablePath, grown.map(_.copy(dv = None)),
          endState.partitionColumns, endState.schemaJson,
          keepPositions = Some(diffHinted),
          configuration = endState.configuration), "delete", v)
      }
      // whole-file deletes: data-changing removes not re-added — the
      // still-live rows (old DV already subtracted by readFiles)
      val wholeDeletes = removes.result()
        .collect { case (p, true) if active.contains(p) && !addedPaths.contains(p) => active(p) }
      if (wholeDeletes.nonEmpty)
        legs += tag(readFiles(spark, tablePath, wholeDeletes,
          endState.partitionColumns, endState.schemaJson,
          configuration = endState.configuration), "delete", v)
      // replay state forward (dataChange=false compaction included)
      removes.result().foreach { case (p, _) => active.remove(p): Unit }
      added.foreach(a => active(a.path) = a)
      }
    }
    val out = legs.result()
    if (out.isEmpty) throw new IllegalArgumentException(
      s"$tablePath: commits after $sinceVersion changed no data " +
        "(compaction only); nothing to feed")
    out.reduce(_ unionByName _)
  }
}
