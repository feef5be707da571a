package graft.sources

import DeltaTableReader.decodePath
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** APPEND-ONLY writer for Delta Lake tables readable by EXTERNAL
  * engines — the inverse of [[DeltaTableReader]], and the graft
  * counterpart of the reference's other half: generate_hudi_table.py
  * WRITES a lakehouse table for downstream consumers to point at
  * (template.py:207-217 being the consumer side). Implemented from
  * the PUBLIC Delta transaction-log protocol (delta.io PROTOCOL.md):
  * data parquet files plus `_delta_log/<version%020d>.json` commits
  * of line-delimited `protocol`/`metaData`/`add` actions, partition
  * values carried in the log (hive-style dirs on disk, stripped from
  * the data files — exactly what `partitionBy` parquet writes
  * produce).
  *
  * Scale shape: the data write is distributed — one file per (write
  * task, partition value), the files Spark's own partitioned write
  * gives — and lands through the task-side landing every format
  * shares ([[FileLanding]]): each write task creates its files at
  * their final paths and reads each footer it just wrote for the
  * file's `add.stats`, so no file is staged, renamed or reopened on
  * the driver. The commit is DRIVER-SIDE METADATA bounded by |files
  * written this commit| — never a rewrite of previous versions, never
  * a listing of the table. A failed write's landed files are debris
  * no version names, which [[vacuum]] reclaims past retention. Commit
  * publication is an atomic-rename compare-and-swap: the version JSON
  * is staged and renamed into place, and a concurrent writer that got
  * there first makes the rename fail, upon which the next version
  * number is retried — the same optimistic protocol Delta itself uses
  * (object stores without atomic rename need a coordination layer
  * there too; stated, not hidden).
  *
  * Beyond appends: [[delete]] masks rows with deletion vectors (no
  * file rewrite; driver-built sidecars for small matches, DISTRIBUTED
  * per-file-task builds past the bound), [[upsert]] is a key-matched
  * merge in ONE atomic commit (DV-mask + append), [[restore]]
  * re-points to a past version with history preserved, [[compact]] /
  * [[vacuum]] / [[writeCheckpoint]] are the table services, and every
  * commit to an inCommitTimestamp table carries a monotone stamp.
  * This writer exists so graft pipelines can HAND TABLES TO OTHER
  * ENGINES — each operation lands exactly the protocol shape external
  * readers consume.
  */
object DeltaTableWriter {

  /** Max CAS retries when racing another writer for a version slot. */
  val MaxCommitAttempts: Int = 20

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def readText(fs: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Writer features an append-only commit CAN honor without extra
    * behavior: appendOnly is exactly what this writer does;
    * timestampNtz/variantType are type-level (the appended files
    * carry the types); deletionVectors binds writers only when they
    * REMOVE data (an append adds fresh files with no vectors). Every
    * other feature — checkConstraints, invariants, generatedColumns,
    * rowTracking, columnMapping, identityColumns, … — obliges the
    * writer to do something this writer does not do, and appending
    * anyway would land protocol-violating commits that silently
    * corrupt the table for other engines.
    */
  val SupportedWriterFeatures: Set[String] =
    Set("appendOnly", "timestampNtz", "deletionVectors", "variantType",
      "inCommitTimestamp", "v2Checkpoint",
      // typeWidening's writer obligation — recording every widening in
      // the field's delta.typeChanges metadata — is implemented in
      // [[evolveSchemaIfNeeded]]; the -preview variant stays refused
      // (its entries carry a different shape: tableVersion bookkeeping)
      "typeWidening",
      // domainMetadata's writer obligation is PRESERVATION: live
      // domains replay through [[DeltaTableReader.snapshotState]] and
      // ride [[writeCheckpoint]] verbatim (including domains this
      // writer does not understand — a domain gated by a feature this
      // writer cannot honor refuses through that feature, not here);
      // clustering's obligation is advisory (PROTOCOL.md: writers are
      // not required to cluster on write) and [[append]] exceeds it by
      // range-clustering batches on the declared columns
      "domainMetadata", "clustering",
      // rowTracking's obligations: fresh baseRowId ranges +
      // defaultRowCommitVersion on every append's adds with the
      // watermark domain bumped in-commit, verbatim carriage through
      // DV re-adds/restores/checkpoints — and the ops that REWRITE
      // rows (compact/upsert) refuse on row-tracked tables because
      // the materialized-column preservation they would owe is not
      // implemented
      "rowTracking")

  /** Refuse an append the table's protocol or metadata makes unsafe.
    * Mirrors the reader's refuseReaderFeatures contract on the write
    * side: loud refusal beats a silently-corrupting commit.
    */
  private def refuseWriterUnsupported(state: DeltaTableReader.Snapshot,
      tablePath: String, allowColumnMapping: Boolean = false): Unit = {
    state.configuration.get("delta.columnMapping.mode").filter(_ != "none").foreach { m =>
      // mapped appends ARE supported in BOTH modes: the append
      // renames its columns to the declared physical names and stamps
      // parquet field ids from delta.columnMapping.id (all `id` mode
      // additionally requires of a blind appender). Every other
      // data-modifying operation (delete/upsert/restore/compact)
      // would have to rebuild its remove/re-add bookkeeping in
      // physical terms, so only appends opt in
      if (!(allowColumnMapping && (m == "name" || m == "id")))
        throw new IllegalStateException(
          s"$tablePath: delta.columnMapping.mode=$m — this operation cannot honor the " +
            "mode's physical-name/field-id obligations on written files; refusing")
    }
    val constraints = state.configuration.keys.filter(_.startsWith("delta.constraints."))
    if (constraints.nonEmpty) throw new IllegalStateException(
      s"$tablePath: table declares CHECK constraints (${constraints.mkString(", ")}) — " +
        "this writer does not evaluate them on appended rows; refusing")
    if (state.schemaJson.exists(_.contains("delta.invariants")))
      throw new IllegalStateException(
        s"$tablePath: table schema declares column invariants (delta.invariants) — " +
          "this writer does not enforce them on appended rows; refusing")
    state.protocol.foreach { p =>
      if (p.minWriterVersion > 2 && p.minWriterVersion != 7) {
        // legacy writer 5 = column mapping (cumulative with 3/4 whose
        // obligations — CHECK constraints, invariants — are checked
        // above; generated columns refuse here): a name-mode append
        // that renames to physical columns honors everything v5 adds
        val nameModeOk = allowColumnMapping && p.minWriterVersion == 5 &&
          !state.schemaJson.exists(_.contains("delta.generationExpression"))
        if (!nameModeOk) throw new IllegalStateException(
          s"$tablePath: protocol minWriterVersion=${p.minWriterVersion} bundles legacy " +
            "writer obligations (CHECK constraints / generated columns / column mapping / " +
            "identity columns) this writer does not implement; refusing")
      }
      if (p.minWriterVersion == 7) {
        val unsupported = p.writerFeatures.toSet --
          (if (allowColumnMapping) SupportedWriterFeatures + "columnMapping"
           else SupportedWriterFeatures)
        if (unsupported.nonEmpty) throw new IllegalStateException(
          s"$tablePath: protocol requires writer features ${unsupported.mkString(", ")} — " +
            "this writer cannot honor them; refusing")
      }
    }
  }

  /** Write a checkpoint every this many commits (0 disables). The
    * checkpoint is what keeps log replay — and therefore EVERY
    * subsequent read and append — bounded by commits-since-checkpoint
    * instead of the table's whole history: without it a streaming
    * sink's per-batch state probe is O(commits) and the ingest run
    * goes quadratic in batch count.
    */
  val DefaultCheckpointInterval: Int = 10

  private def logDir(tablePath: String): Path = new Path(tablePath, "_delta_log")

  /** Percent-encode a relative path for `add.path` per PROTOCOL.md
    * (URI-encoded; '/' kept as the separator).
    */
  private def encodePath(rel: String): String =
    new java.net.URI(null, null, rel, null).toASCIIString

  /** Hive-style dir name → (column, raw value); Spark writes nulls as
    * the default-partition sentinel, which the log records as null.
    */
  private def partitionValueOf(segment: String): Option[(String, Option[String])] = {
    val i = segment.indexOf('=')
    if (i <= 0) None
    else {
      val raw = java.net.URLDecoder.decode(
        segment.substring(i + 1).replace("+", "%2B"), "UTF-8")
      Some(segment.substring(0, i) ->
        (if (raw == "__HIVE_DEFAULT_PARTITION__") None else Some(raw)))
    }
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** `partitionValues` JSON from a file's hive dirs. */
  private def partitionValuesJson(dirs: Seq[String], partitionColumns: Seq[String]): String = {
    val values = dirs.flatMap(partitionValueOf).toMap
    partitionColumns.map(c => s"${jsonStr(c)}:${values.get(c).flatten.fold("null")(jsonStr)}")
      .mkString(",")
  }

  /** One `add` action line for a data file at `rel` (relative,
    * un-encoded), with partition values parsed from its hive dirs.
    */
  private def addLine(rel: String, size: Long, modTime: Long,
      partitionColumns: Seq[String], stats: Option[String] = None,
      dataChange: Boolean = true,
      rowId: Option[(Long, Long)] = None): String = {
    val pvJson = partitionValuesJson(rel.split('/').dropRight(1).toSeq, partitionColumns)
    val statsJson = stats.map(st => s""","stats":${jsonStr(st)}""").getOrElse("")
    // rowTracking: (baseRowId, defaultRowCommitVersion)
    val rowIdJson = rowId.map { case (b, v) =>
      s""","baseRowId":$b,"defaultRowCommitVersion":$v""" }.getOrElse("")
    s"""{"add":{"path":${jsonStr(encodePath(rel))},"partitionValues":{$pvJson},""" +
      s""""size":$size,"modificationTime":$modTime,"dataChange":$dataChange""" +
      s"""$statsJson$rowIdJson}}"""
  }

  /** Land `df` as data files, one per (write task, partition value)
    * — the files Spark's own partitioned write gives: the partition
    * columns move out of the rows into hive dirs, each file is named
    * the way Delta's own writer names it, and each write task reads
    * the footer it just wrote for the file's `add.stats`
    * ([[FileLanding]]). Field ids the columns carry land as parquet
    * field ids.
    */
  private def writeDataFiles(df: DataFrame, tablePath: String,
      partitionBy: Seq[String]): Seq[FileLanding.Landed[Option[String]]] = {
    val files = FileLanding.landPerTask(
      FileLanding.onWriteTasks(df).withColumn("_g_part", FileLanding.partitionDirOf(
        partitionBy.map(c => c -> org.apache.spark.sql.functions.col(c)))).drop(partitionBy: _*),
      tablePath, partitionBy.nonEmpty,
      (part, _, ext) => underDir(part,
        f"part-${org.apache.spark.TaskContext.getPartitionId()}%05d-${java.util.UUID.randomUUID()}.c000$ext"),
      Some((conf: org.apache.hadoop.conf.Configuration, p: Path) => statsJsonOf(conf, p)))
    if (files.isEmpty) throw new IllegalArgumentException(
      s"$tablePath: the DataFrame wrote no data files (empty input?)")
    files
  }

  /** `name` under the hive dirs `part` ("" = the table root). */
  private def underDir(part: String, name: String): String =
    if (part.isEmpty) name else s"$part/$name"

  /** The `add` line of a landed data file. */
  private def addLineOf(f: FileLanding.Landed[Option[String]], partitionColumns: Seq[String],
      dataChange: Boolean = true, rowId: Option[(Long, Long)] = None): String =
    addLine(f.rel, f.bytes, f.modTime, partitionColumns, f.stats.flatten, dataChange, rowId)

  /** Per-file `add.stats` JSON from the landed parquet FOOTER, read
    * by the write task that landed the file —
    * numRecords plus minValues/maxValues/nullCount for the top-level
    * primitive columns whose row-group statistics are present. This
    * is what makes stats-based FILE SKIPPING work for every engine
    * that reads the table (Delta's own readers included); columns
    * with unusable stats are simply omitted (readers keep the file).
    */
  private[sources] def statsJsonOf(conf: org.apache.hadoop.conf.Configuration,
      file: Path): Option[String] = scala.util.Try {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val footer = r.getFooter
      val schema = footer.getFileMetaData.getSchema
      val numRecords = r.getRecordCount
      val mins = scala.collection.mutable.LinkedHashMap.empty[String, String]
      val maxs = scala.collection.mutable.LinkedHashMap.empty[String, String]
      val nulls = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      schema.getFields.asScala.filter(_.isPrimitive).foreach { f =>
        val name = f.getName
        val prim = f.asPrimitiveType()
        val chunks = footer.getBlocks.asScala.flatMap(
          _.getColumns.asScala.filter(_.getPath.toDotString == name))
        val stats = chunks.map(_.getStatistics).filter(st =>
          st != null && !st.isEmpty && st.hasNonNullValue)
        if (stats.nonEmpty && stats.size == chunks.size) {
          val isString = prim.getPrimitiveTypeName ==
            org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BINARY &&
            prim.getLogicalTypeAnnotation ==
              org.apache.parquet.schema.LogicalTypeAnnotation.stringType()
          val numeric = Set(
            org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32,
            org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64,
            org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.FLOAT,
            org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.DOUBLE,
            org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BOOLEAN)
            .contains(prim.getPrimitiveTypeName) &&
            prim.getLogicalTypeAnnotation == null
          if (isString) {
            val minVals = stats.map(
              _.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
            val maxVals = stats.map(
              _.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
            mins(name) = jsonStr(minVals.min)
            maxs(name) = jsonStr(maxVals.max)
          } else if (numeric) {
            val minVals = stats.map(_.genericGetMin)
            val allIntegral = minVals.forall(v => v.isInstanceOf[java.lang.Integer] ||
              v.isInstanceOf[java.lang.Long] || v.isInstanceOf[java.lang.Boolean])
            if (minVals.exists(_.isInstanceOf[java.lang.Boolean])) {
              mins(name) = stats.map(_.genericGetMin.toString).min
              maxs(name) = stats.map(_.genericGetMax.toString).max
            } else if (allIntegral) {
              // Long arithmetic end-to-end: a Double round-trip loses
              // precision past 2^53 and a rounded-down max would make
              // skipping prune files that DO contain matching rows
              mins(name) = minVals.map(_.toString.toLong).min.toString
              maxs(name) = stats.map(_.genericGetMax.toString.toLong).max.toString
            } else {
              val minN = minVals.map(_.toString.toDouble).min
              val maxN = stats.map(_.genericGetMax.toString.toDouble).max
              mins(name) = minN.toString
              maxs(name) = maxN.toString
            }
          }
          nulls(name) = stats.map(_.getNumNulls).sum
        }
      }
      val minJson = mins.map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString(",")
      val maxJson = maxs.map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString(",")
      val nullJson = nulls.map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString(",")
      s"""{"numRecords":$numRecords,"minValues":{$minJson},""" +
        s""""maxValues":{$maxJson},"nullCount":{$nullJson}}"""
    } finally r.close()
  }.toOption

  /** Publish `lines` as the next commit ≥ `fromVersion` with an
    * atomic-rename CAS; returns the version that won.
    *
    * `rebaseSafe = false` marks commits whose action lines were
    * COMPUTED AGAINST the `fromVersion - 1` snapshot (delete, upsert,
    * restore, compact, create): a lost CAS means a concurrent writer
    * landed a commit we did not see, and blindly re-landing our stale
    * remove/re-add lines at the next version could clobber it (e.g.
    * resurrect rows it deleted via a DV on the same file).
    *
    * `rebaseDisjoint = true` adds Delta's OPTIMISTIC-CONCURRENCY
    * check for those commits (delta.io PROTOCOL.md, ConflictChecker
    * semantics under WriteSerializable): on a lost CAS the WINNING
    * commit is read back, and when it carries no metaData/protocol
    * change and its file set is DISJOINT from every file this commit
    * removes or DV-re-adds, the same action lines stay valid against
    * the new snapshot and the commit retries at the next version — a
    * concurrent blind append and a delete/upsert on different files
    * BOTH land. Overlap (or a concurrent schema/protocol change)
    * still fails loudly — callers re-read and rebuild. Pure appends
    * (`rebaseSafe = true`) carry only new files and always bump.
    * Whole-table re-pointings (restore) and metadata commits
    * (rename/drop/create) keep `rebaseDisjoint = false`: their intent
    * covers the WHOLE table state, so any concurrent commit
    * invalidates them regardless of file overlap.
    *
    * `opInfo = Some((operation, isBlindAppend))` stamps a commitInfo
    * head line (Delta's own operation marker — PROTOCOL.md Commit
    * Provenance Information). The marker is what lets a RACING
    * transactional writer classify this commit: file-set disjointness
    * alone cannot distinguish a blind append from an insert-only
    * MERGE, and only the former is rebase-transparent to key-keyed
    * writers.
    *
    * `winnerMustBeBlind = true` (upsert/MERGE commits): a lost CAS may
    * only rebase over a winner that IS a blind append — add-only,
    * dataChange, no metaData/protocol, and commitInfo.isBlindAppend
    * affirmatively true. Delta's ConflictChecker exempts exactly blind
    * appends from a MERGE's read-conflict check; an add-only winner
    * that was itself an upsert may have inserted this batch's keys, so
    * rebasing would double them — absent or false marker refuses.
    */
  private[sources] def commit(spark: SparkSession, tablePath: String, fromVersion: Long,
      lines: Seq[String], ictNeeded: Boolean = false,
      rebaseSafe: Boolean = true, rebaseDisjoint: Boolean = false,
      opInfo: Option[(String, Boolean)] = None,
      winnerMustBeBlind: Boolean = false,
      // VERSION-DEPENDENT action lines (rowTracking's
      // defaultRowCommitVersion must equal the version that lands):
      // regenerated per CAS attempt, exactly like the monotonic ICT
      linesFor: Option[Long => Seq[String]] = None): Long = {
    val dir = logDir(tablePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    // every file this commit removes (a DV update re-adds the same
    // path it removes, so removes ARE the touched-file set) — the
    // lines a concurrent commit can invalidate
    lazy val ourRemoves: Set[String] =
      linesFor.map(_(fromVersion)).getOrElse(lines).iterator.map(mapper.readTree)
        .flatMap(n =>
          Option(n.get("remove")).map(r => decodePath(r.get("path").asText()))).toSet
    // can our stale lines legally rebase OVER the commit that won
    // version v? yes iff it changed no metadata/protocol and touched
    // none of the files we remove
    def winnerDisjoint(v: Long): Boolean = {
      val p = new Path(dir, f"$v%020d.json")
      if (!fs.exists(p)) return false
      val nodes = readText(fs, p).split('\n').filter(_.nonEmpty).map(mapper.readTree)
      if (nodes.exists(n =>
        n.has("metaData") || n.has("protocol") || n.has("domainMetadata"))) return false
      if (winnerMustBeBlind) {
        // key-keyed commits rebase ONLY over affirmed blind appends:
        // a remove action, a missing commitInfo marker, or
        // isBlindAppend=false all mean the winner may have read (or
        // keyed on) table state this commit's lines were computed
        // without — refuse and let the caller re-read
        if (nodes.exists(_.has("remove"))) return false
        val blindAffirmed = nodes.exists { n =>
          n.has("commitInfo") && n.get("commitInfo").has("isBlindAppend") &&
            n.get("commitInfo").get("isBlindAppend").asBoolean()
        }
        if (!blindAffirmed) return false
      }
      val touched = nodes.iterator.flatMap { n =>
        Option(n.get("add")).map(a => decodePath(a.get("path").asText())) ++
          Option(n.get("remove")).map(r => decodePath(r.get("path").asText()))
      }.toSet
      touched.intersect(ourRemoves).isEmpty
    }
    // IN-COMMIT TIMESTAMPS: when the table declares the feature,
    // every commit's FIRST action must be a commitInfo carrying a
    // MONOTONIC inCommitTimestamp (> the previous commit's) — read
    // the predecessor's stamp per candidate version (a lost CAS race
    // moves the predecessor)
    def prevIct(v: Long): Option[Long] = {
      val p = new Path(dir, f"${v - 1}%020d.json")
      if (v <= 0 || !fs.exists(p)) None
      else readText(fs, p).split('\n').filter(_.nonEmpty).iterator.map(mapper.readTree)
        .collectFirst {
          case n if n.has("commitInfo") && n.get("commitInfo").has("inCommitTimestamp") =>
            n.get("commitInfo").get("inCommitTimestamp").asLong()
        }
    }
    def writeTmp(forVersion: Long): Path = {
      val tmp = new Path(dir, s".tmp-${java.util.UUID.randomUUID()}.json")
      // ONE commitInfo head line carrying whichever provenance fields
      // apply: the monotonic ICT (feature obligation) and/or the
      // operation marker racing writers classify this commit by
      val head =
        if (!ictNeeded && opInfo.isEmpty) Nil
        else {
          val fields = Seq.newBuilder[String]
          if (ictNeeded) {
            val ict = math.max(System.currentTimeMillis(),
              prevIct(forVersion).map(_ + 1L).getOrElse(Long.MinValue))
            fields += s""""inCommitTimestamp":$ict"""
          }
          opInfo.foreach { case (op, blind) =>
            fields += s""""operation":${jsonStr(op)}"""
            fields += s""""isBlindAppend":$blind"""
          }
          Seq(s"""{"commitInfo":{${fields.result().mkString(",")}}}""")
        }
      val out = fs.create(tmp, true)
      try (head ++ linesFor.map(_(forVersion)).getOrElse(lines))
        .foreach(l => out.write((l + "\n").getBytes("UTF-8")))
      finally out.close()
      tmp
    }
    var tmp = writeTmp(fromVersion)
    // FileContext.rename with Options.Rename.NONE is the real CAS:
    // it fails (FileAlreadyExistsException) when the destination
    // exists, on HDFS AND local filesystems — FileSystem.rename on
    // LocalFileSystem is POSIX rename(2), which silently OVERWRITES
    // an existing destination and would lose a racing writer's commit
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      dir.toUri, spark.sparkContext.hadoopConfiguration)
    try {
      var v = fromVersion
      val maxV =
        if (rebaseSafe || rebaseDisjoint) fromVersion + MaxCommitAttempts
        else fromVersion + 1
      while (v < maxV) {
        if ((ictNeeded || linesFor.isDefined) && v > fromVersion) {
          // re-stamp against the NEW predecessor/version after a lost race
          if (fs.exists(tmp)) { fs.delete(tmp, false): Unit }
          tmp = writeTmp(v)
        }
        val dst = new Path(dir, f"$v%020d.json")
        if (!fs.exists(dst)) { // cheap pre-check; the rename is the CAS
          try {
            fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.NONE)
            return v
          } catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException => // lost the race
            case _: java.nio.file.FileAlreadyExistsException => // local-FS flavor
          }
        }
        // version v went to a concurrent writer: stale-snapshot lines
        // may only rebase over a DISJOINT winner
        if (!rebaseSafe && !(rebaseDisjoint && winnerDisjoint(v)))
          throw new java.util.ConcurrentModificationException(
            s"$tablePath: version $v was taken by a concurrent writer whose commit " +
              "conflicts with this one (overlapping files or a metadata/protocol " +
              "change) and these remove/re-add lines were computed against snapshot " +
              s"${fromVersion - 1} — re-read the table and retry the operation")
        v += 1
      }
      throw new IllegalStateException(
        s"$tablePath: lost the commit race $MaxCommitAttempts times from version $fromVersion")
    } finally if (fs.exists(tmp)) { fs.delete(tmp, false); () }
  }

  /** True when the table's protocol or configuration obliges every
    * commit to carry an inCommitTimestamp. */
  private def ictNeededOf(state: DeltaTableReader.Snapshot): Boolean =
    state.protocol.exists(_.writerFeatures.contains("inCommitTimestamp")) ||
      state.configuration.get("delta.enableInCommitTimestamps").contains("true")

  /** True when delta.enableChangeDataFeed obliges data-modifying
    * commits to carry explicit change-data (cdc) files. */
  private def cdfEnabledOf(state: DeltaTableReader.Snapshot): Boolean =
    state.configuration.get("delta.enableChangeDataFeed").contains("true")

  /** Land `rows` (already tagged `_change_type`) as `_change_data/`
    * parquet and return the commit's `cdc` action lines — the
    * protocol's CHANGE DATA FILES, which CDF-enabled tables REQUIRE
    * on updates/deletes (readers then serve them VERBATIM and skip
    * reconstruction). dataChange=false per spec (the change data
    * describes the commit, it is not table data). Partitioned tables
    * partition their change data ALIKE: hive dirs under
    * `_change_data/`, values on the cdc action, columns kept in the
    * rows (the reader's partition-join restores them — same machinery
    * as data adds). Distributed write; |cdc files| driver metadata.
    */
  private def writeCdcFiles(rows: DataFrame, tablePath: String,
      partitionColumns: Seq[String] = Nil): Seq[String] = {
    // data-file convention: partition columns move OUT of the rows
    // and into the hive dirs / the cdc action's partitionValues; id-mode
    // change data keeps the field ids the projection stamped
    val landed = FileLanding.landPerTask(
      rows.withColumn("_g_part", FileLanding.partitionDirOf(
        partitionColumns.map(c => c -> org.apache.spark.sql.functions.col(c))))
        .drop(partitionColumns: _*),
      tablePath, partitionColumns.nonEmpty,
      (part, _, _) => underDir(s"_change_data${if (part.isEmpty) "" else "/" + part}",
        s"cdc-${java.util.UUID.randomUUID()}.parquet"))
    landed.map(f => s"""{"cdc":{"path":${jsonStr(encodePath(f.rel))},""" +
      s""""partitionValues":{${partitionValuesJson(f.part.split('/').toSeq, partitionColumns)}},""" +
      s""""size":${f.bytes},"dataChange":false}}""")
  }

  /** Create a NEW Delta table at `tablePath` from `df` — version 0
    * carries protocol, metaData (schema + partition columns) and the
    * adds. Refuses an existing table (append to those).
    */
  private def txnLine(t: (String, Long)): String =
    s"""{"txn":{"appId":${jsonStr(t._1)},"version":${t._2},""" +
      s""""lastUpdated":${System.currentTimeMillis()}}}"""

  def create(df: DataFrame, tablePath: String, partitionBy: Seq[String] = Nil,
      transaction: Option[(String, Long)] = None,
      clusterBy: Seq[String] = Nil,
      enableRowTracking: Boolean = false): Long = {
    val spark = df.sparkSession
    val dir = logDir(tablePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) throw new IllegalArgumentException(
      s"$tablePath is already a Delta table — use append")
    partitionBy.foreach(c => require(df.columns.contains(c),
      s"partition column $c is not in the DataFrame"))
    clusterBy.foreach(c => require(df.columns.contains(c),
      s"clustering column $c is not in the DataFrame"))
    require(clusterBy.intersect(partitionBy).isEmpty,
      "a column cannot be both a partition and a clustering column " +
        s"(${clusterBy.intersect(partitionBy).mkString(",")})")
    val files = writeDataFiles(clusterFrame(df, clusterBy), tablePath, partitionBy)
    // a TIMESTAMP_NTZ column requires the timestampNtz reader+writer
    // feature per PROTOCOL.md — stamping the legacy 1/2 protocol would
    // land a spec-violating table on the very engines this writer
    // exists to serve
    def hasNtz(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case org.apache.spark.sql.types.TimestampNTZType => true
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasNtz(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hasNtz(a.elementType)
      case m: org.apache.spark.sql.types.MapType => hasNtz(m.keyType) || hasNtz(m.valueType)
      case _ => false
    }
    // writer-only features compose: clustering + domainMetadata for a
    // clustered table, rowTracking + domainMetadata for row ids —
    // minReaderVersion stays at what the TYPES need (legacy readers
    // keep working); any feature at all moves the writer to v7
    val ntz = hasNtz(df.schema)
    val wf = ((if (ntz) Seq("timestampNtz") else Nil) ++
      (if (clusterBy.nonEmpty) Seq("domainMetadata", "clustering") else Nil) ++
      (if (enableRowTracking) Seq("domainMetadata", "rowTracking") else Nil)).distinct
    val protocol =
      if (wf.nonEmpty) {
        val rf = if (ntz) """"readerFeatures":["timestampNtz"],""" else ""
        s"""{"protocol":{"minReaderVersion":${if (ntz) 3 else 1},"minWriterVersion":7,""" +
          rf + s""""writerFeatures":[${wf.map(jsonStr).mkString(",")}]}}"""
      } else """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
    val confJson =
      if (enableRowTracking) {
        // the MATERIALIZED column names are assigned at enablement
        // (PROTOCOL.md): rewrites preserve each row's id/commit
        // version under them, in file bytes outside the table schema
        val idc = s"_row-id-col-${java.util.UUID.randomUUID()}"
        val vc = s"_row-commit-version-col-${java.util.UUID.randomUUID()}"
        s"""{"delta.enableRowTracking":"true",""" +
          s""""delta.rowTracking.materializedRowIdColumnName":${jsonStr(idc)},""" +
          s""""delta.rowTracking.materializedRowCommitVersionColumnName":${jsonStr(vc)}}"""
      } else "{}"
    val metaData =
      s"""{"metaData":{"id":${jsonStr(java.util.UUID.randomUUID().toString)},""" +
        s""""format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jsonStr(df.schema.json)},""" +
        s""""partitionColumns":[${partitionBy.map(jsonStr).mkString(",")}],""" +
        s""""configuration":$confJson,"createdTime":${System.currentTimeMillis()}}}"""
    // fresh ROW IDS (PROTOCOL.md Row Tracking): contiguous per-file
    // ranges from footer row counts; defaultRowCommitVersion is 0 —
    // a create commits at version 0 or refuses (rebaseSafe=false)
    var rowIdNext = 0L
    val rowIds: Map[String, (Long, Long)] =
      if (!enableRowTracking) Map.empty
      else files.map { f =>
        val b = rowIdNext; rowIdNext += f.rows; f.rel -> ((b, 0L))
      }.toMap
    val domainLines =
      (if (clusterBy.isEmpty) Nil else Seq(clusteringDomainLine(clusterBy))) ++
        (if (!enableRowTracking) Nil
         else Seq(rowTrackingDomainLine(rowIdNext - 1)))
    commit(spark, tablePath, 0L,
      protocol +: metaData +: (domainLines ++ transaction.map(txnLine).toSeq ++
        files.map(f => addLineOf(f, partitionBy, rowId = rowIds.get(f.rel)))),
      rebaseSafe = false)
  }

  /** OPTIMIZE on a row-tracked table (PROTOCOL.md Row Tracking,
    * rewrite obligation): every row's id and commit version are
    * PRESERVED through the rewrite by MATERIALIZING them into the
    * configured row-id/commit-version columns — physical columns in
    * the new files' bytes, outside the table schema, which
    * [[DeltaTableReader.snapshotWithRowIds]] prefers over the
    * base+index arithmetic. The new files still take fresh
    * `baseRowId` ranges (the spec's invariant on every add) and the
    * watermark bumps, but those ids are shadowed by the materialized
    * values. Clustered tables re-cluster on the declared columns,
    * like the untracked OPTIMIZE.
    */
  private def compactRowTracked(spark: SparkSession, tablePath: String,
      state: DeltaTableReader.Snapshot, targetFiles: Int): Long = {
    val (idc, vc) = DeltaTableReader.materializedRowIdCols(state.configuration)
      .getOrElse(throw new IllegalStateException(
        s"$tablePath: rowTracking is declared but the materialized row-id column " +
          "names are not configured — this rewrite cannot preserve ids; refusing"))
    val withIds = DeltaTableReader.snapshotWithRowIds(spark, tablePath)
      .withColumnRenamed("_row_id", idc)
      .withColumnRenamed("_row_commit_version", vc)
    val clusterCols = DeltaTableReader.clusteringColumnsOf(state, tablePath)
      .collect { case Seq(c) if withIds.columns.contains(c) => c }
    val reshaped =
      if (clusterCols.isEmpty) withIds.repartition(targetFiles)
      else {
        val cs = clusterCols.map(org.apache.spark.sql.functions.col)
        withIds.repartitionByRange(targetFiles, cs: _*).sortWithinPartitions(cs: _*)
      }
    val files = writeDataFiles(reshaped, tablePath, state.partitionColumns)
    var next = rowIdWatermarkOf(state, tablePath) + 1
    val baseOf = files.map { f => val b = next; next += f.rows; f.rel -> b }.toMap
    val now = System.currentTimeMillis()
    commit(spark, tablePath, state.version + 1, Nil,
      ictNeeded = ictNeededOf(state),
      rebaseSafe = false, rebaseDisjoint = true,
      opInfo = Some(("OPTIMIZE", false)),
      linesFor = Some(ver =>
        state.active.map(f =>
          s"""{"remove":{"path":${jsonStr(f.path)},"deletionTimestamp":$now,""" +
            s""""dataChange":false}}""") ++
          Seq(rowTrackingDomainLine(next - 1)) ++
          files.map(f => addLineOf(f, state.partitionColumns,
            dataChange = false, rowId = Some((baseOf(f.rel), ver))))))
  }

  /** The declared high watermark — missing on a feature-declaring
    * table means the id state is broken (minting blind could
    * collide); refuse loudly. */
  private def rowIdWatermarkOf(state: DeltaTableReader.Snapshot,
      tablePath: String): Long =
    state.domainMetadata.get("delta.rowTracking")
      .flatMap(c => scala.util.Try(
        mapper.readTree(c).get("rowIdHighWaterMark").asLong()).toOption)
      .getOrElse(throw new IllegalStateException(
        s"$tablePath: rowTracking is declared but the delta.rowTracking domain's " +
          "rowIdHighWaterMark is missing — the table's id state is broken; refusing"))

  /** The `delta.rowTracking` domain's high-watermark line. */
  private def rowTrackingDomainLine(highWaterMark: Long): String =
    s"""{"domainMetadata":{"domain":"delta.rowTracking",""" +
      s""""configuration":"{\\"rowIdHighWaterMark\\":$highWaterMark}","removed":false}}"""

  /** `{"domainMetadata":{"domain":"delta.clustering",…}}` — the
    * configuration is a JSON STRING per PROTOCOL.md, each clustering
    * column a single-element name path (top-level columns only here).
    */
  private def clusteringDomainLine(clusterBy: Seq[String]): String = {
    val conf =
      s"""{"clusteringColumns":[${clusterBy.map(c => s"[${jsonStr(c)}]").mkString(",")}]}"""
    s"""{"domainMetadata":{"domain":"delta.clustering",""" +
      s""""configuration":${jsonStr(conf)},"removed":false}}"""
  }

  /** Range-cluster `df` on `clusterBy` so each landed file covers a
    * narrow slice of the clustering key space — what makes the
    * recorded add.stats actually CUT file sets on clustered reads.
    * One range shuffle (session parallelism), in-partition sort for
    * tight per-file row-group bounds; no-op when unclustered.
    */
  private def clusterFrame(df: DataFrame, clusterBy: Seq[String]): DataFrame =
    if (clusterBy.isEmpty) df
    else {
      val cs = clusterBy.map(org.apache.spark.sql.functions.col)
      // EXPLICIT partition count: an unsized range shuffle is fair
      // game for AQE partition coalescing, which would merge the
      // carefully-ranged slices back into a handful of wide files and
      // void the clustering (one file spanning the whole key space
      // prunes nothing). Session parallelism is the file-count target;
      // at scale, size spark.sql.shuffle.partitions to the table.
      val n = df.sparkSession.sessionState.conf.numShufflePartitions
      df.repartitionByRange(n, cs: _*).sortWithinPartitions(cs: _*)
    }

  /** Append `df` to an existing table as a new commit; partitioning
    * and column set come from the TABLE's metadata (columns may be in
    * any order; a mismatched set refuses — silent schema drift is the
    * reader's problem forever after).
    */
  /** Write `<v>%020d.checkpoint.parquet` + `_last_checkpoint` for the
    * CURRENT snapshot: the active add set (deletion vectors AND
    * per-file `stats` preserved — PROTOCOL.md's checkpoint schema
    * carries add.stats, and after log cleanup the checkpoint is the
    * only copy, so dropping them would kill stats-based file skipping
    * forever after), the metaData/protocol actions, and every appId's
    * txn watermark — everything a reader needs when older JSON
    * commits are cleaned. Driver work is bounded by the
    * (already-bounded) active add set; the stats strings add
    * O(|files| × ~stats bytes), the same bound the checkpoint READER
    * already pays when it collects surviving adds.
    */
  /** Rows per checkpoint PART: above this, the checkpoint lands in
    * the protocol's MULTI-PART form `<v>.checkpoint.<i>.<n>.parquet`
    * (one coalesced file per slice) — huge tables should not funnel
    * their whole add set through one file write.
    */
  val CheckpointPartRows: Int = 100000

  /** Active-file count above which the checkpoint lands in the
    * protocol's V2 form — a `<v>.checkpoint.<uuid>.parquet` MANIFEST
    * (checkpointMetadata/sidecar/protocol/metaData/txn actions) plus
    * `_sidecars/<uuid>.parquet` files carrying the add set — the
    * modern layout v2Checkpoint-requiring readers expect. Classic
    * single-file/multi-part checkpoints stay the default below it
    * (universally readable).
    */
  val V2CheckpointFileThreshold: Int = 100000

  def writeCheckpoint(spark: SparkSession, tablePath: String,
      partRows: Int = CheckpointPartRows,
      v2Threshold: Int = V2CheckpointFileThreshold): Long = {
    // declared up front so the threshold choice below can also honor
    // a protocol that REQUIRES the v2 layout
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val state = DeltaTableReader.snapshotState(spark, tablePath, withStats = true)
    val txns = DeltaTableReader.transactionWatermarks(spark, tablePath)
    val fs = logDir(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvType = StructType(Seq(
      StructField("storageType", StringType), StructField("pathOrInlineDv", StringType),
      StructField("offset", LongType), StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType)))
    val schema = StructType(Seq(
      StructField("txn", StructType(Seq(
        StructField("appId", StringType), StructField("version", LongType)))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType), StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("deletionVector", dvType),
        StructField("stats", StringType),
        StructField("baseRowId", LongType),
        StructField("defaultRowCommitVersion", LongType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", MapType(StringType, StringType))))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType)),
        StructField("createdTime", LongType)))),
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("domainMetadata", StructType(Seq(
        StructField("domain", StringType),
        StructField("configuration", StringType),
        StructField("removed", BooleanType))))))
    def row(txn: Row = null, add: Row = null, md: Row = null, proto: Row = null,
        dm: Row = null) =
      Row(txn, add, md, proto, dm)
    val addRows = state.active.map { f =>
      val st = fs.getFileStatus(new Path(tablePath, decodePath(f.path)))
      val dv = f.dv.map(d =>
        Row(d.storageType, d.pathOrInlineDv, d.offset, d.sizeInBytes, d.cardinality)).orNull
      // add.stats ride into the checkpoint VERBATIM (PROTOCOL.md's
      // checkpoint schema carries them) — after log cleanup the
      // checkpoint is the only copy, and dropping them would silently
      // turn stats-based file skipping into keep-everything scans
      row(add = Row(f.path, f.partitionValues, st.getLen, st.getModificationTime, true, dv,
        f.stats.orNull,
        f.baseRowId.map(Long.box).orNull,
        f.defaultRowCommitVersion.map(Long.box).orNull))
    }
    val txnRows = txns.toSeq.sorted.map { case (app, v) => row(txn = Row(app, v)) }
    // LIVE metadata domains ride the checkpoint verbatim (a checkpoint
    // is a complete snapshot — after log cleanup it is the only copy,
    // and dropping a domain would silently un-cluster a clustered
    // table for every engine that plans from the domain); removed
    // domains are simply absent
    val domainRows = state.domainMetadata.toSeq.sorted.map { case (d, c) =>
      row(dm = Row(d, c, false))
    }
    // the table's ORIGINAL protocol and metaData, verbatim — after log
    // cleanup this checkpoint is the only copy, and a fabricated one
    // (wrong id, dropped configuration, missing readerFeatures) makes
    // external engines reject or misread the table. A DV-carrying
    // table with no recorded protocol (hand-built fixture) falls back
    // to a spec-VALID 3/7 protocol with the features declared.
    val hasDv = state.active.exists(_.dv.isDefined)
    val proto = state.protocol.getOrElse(DeltaTableReader.Protocol(
      if (hasDv) 3 else 1, if (hasDv) 7 else 2,
      if (hasDv) Seq("deletionVectors") else Nil,
      if (hasDv) Seq("deletionVectors") else Nil))
    val metaRow = row(md = Row(
      state.metaDataId.getOrElse("graft"),
      Row("parquet", Map.empty[String, String]),
      state.schemaJson.orNull,
      state.partitionColumns,
      state.configuration,
      state.createdTime.map(Long.box).orNull))
    val protoRow = row(proto = Row(
      proto.minReaderVersion, proto.minWriterVersion,
      if (proto.readerFeatures.nonEmpty) proto.readerFeatures else null,
      if (proto.writerFeatures.nonEmpty) proto.writerFeatures else null))
    import scala.jdk.CollectionConverters._
    val dir = logDir(tablePath)
    def landPart(rows0: Seq[Row], sch: StructType, dst: Path): Long =
      FileLanding.landFile(spark.createDataFrame(rows0.asJava, sch), dst)
    val allRows = Seq(protoRow, metaRow) ++ domainRows ++ txnRows ++ addRows
    // a protocol declaring the v2Checkpoint feature expects its
    // checkpoints in the v2 layout regardless of size
    val wantsV2 = state.protocol.exists(p =>
      p.readerFeatures.contains("v2Checkpoint") || p.writerFeatures.contains("v2Checkpoint"))
    if (wantsV2 || addRows.size > v2Threshold) {
      // V2 checkpoint: the manifest carries the metadata actions plus
      // `sidecar` pointers; the add set rides `_sidecars/` parquet
      // files (partRows-sized), exactly the layout the v2 read path
      // is locked against — checkpointMetadata.version must match
      val manifestSchema = StructType(schema.fields.toIndexedSeq ++ Seq(
        StructField("checkpointMetadata", StructType(Seq(
          StructField("version", LongType)))),
        StructField("sidecar", StructType(Seq(
          StructField("path", StringType),
          StructField("sizeInBytes", LongType))))))
      def mrow(r: Row): Row =
        Row(r.get(0), r.get(1), r.get(2), r.get(3), r.get(4), null, null)
      val sidecarDir = new Path(dir, "_sidecars")
      fs.mkdirs(sidecarDir)
      val sidecarRows = addRows.grouped(math.max(1, partRows)).map { rows0 =>
        val nm = s"${java.util.UUID.randomUUID()}.parquet"
        val len = landPart(rows0, schema, new Path(sidecarDir, nm))
        Row(null, null, null, null, null, null, Row(nm, len))
      }.toIndexedSeq
      val manifestRows =
        Row(null, null, null, null, null, Row(state.version), null) +:
          (Seq(protoRow, metaRow) ++ domainRows ++ txnRows).map(mrow) ++: sidecarRows
      landPart(manifestRows, manifestSchema,
        new Path(dir,
          f"${state.version}%020d.checkpoint.${java.util.UUID.randomUUID()}.parquet")): Unit
    } else {
      val slices: Seq[Seq[Row]] =
        if (allRows.size <= partRows) Seq(allRows)
        else allRows.grouped(partRows).toSeq
      val n = slices.size
      if (n == 1)
        landPart(slices.head, schema,
          new Path(dir, f"${state.version}%020d.checkpoint.parquet")): Unit
      else slices.zipWithIndex.foreach { case (rows0, i) =>
        landPart(rows0, schema,
          new Path(dir, f"${state.version}%020d.checkpoint.${i + 1}%010d.$n%010d.parquet")): Unit
      }
    }
    val partsField =
      if (wantsV2 || addRows.size > v2Threshold || allRows.size <= partRows) ""
      else s""","parts":${(allRows.size + partRows - 1) / partRows}"""
    val out = fs.create(new Path(dir, "_last_checkpoint"), true)
    try out.write(
      s"""{"version":${state.version},"size":${allRows.size}$partsField}\n"""
        .getBytes("UTF-8"))
    finally out.close()
    state.version
  }

  /** MINOR LOG COMPACTION (delta-spark's `<x>.<y>.compacted.json`):
    * reconcile the actions of commits x..y into ONE file the reader
    * substitutes for the span during replay — log-replay cost after a
    * checkpoint becomes O(compactions + residual commits) instead of
    * O(commits), without touching the checkpoint cadence. The
    * reconciliation is the protocol's replay rule applied once:
    * latest metaData/protocol, latest domainMetadata PER DOMAIN
    * (removed tombstones included — replay may start from a state
    * that still carries the domain), latest txn per appId, and the
    * net file state — an add superseded by a remove becomes a
    * tombstone, a remove superseded by a re-add (DV updates) drops
    * out; surviving add/remove lines carry VERBATIM (stats, DVs,
    * partition values untouched). commitInfo/cdc lines do not ride
    * (they are per-commit provenance, not state). The original JSONs
    * stay — compaction accelerates, cleanup remains the checkpoint's
    * contract. Driver work is O(actions in x..y).
    */
  def compactLog(spark: SparkSession, tablePath: String,
      startVersion: Long, endVersion: Long): Unit = {
    require(0 <= startVersion && startVersion < endVersion,
      s"need 0 <= start < end, got $startVersion..$endVersion (a single-commit span " +
        "compacts nothing)")
    val dir = logDir(tablePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val adds = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val removes = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val domains = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val txns = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var metaLine: Option[String] = None
    var protoLine: Option[String] = None
    (startVersion to endVersion).foreach { v =>
      val p = new Path(dir, f"$v%020d.json")
      if (!fs.exists(p)) throw new IllegalArgumentException(
        s"$tablePath: commit $v is missing — a compacted span must cover exactly the " +
          "commits it replaces")
      readText(fs, p).split('\n').filter(_.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        if (node.has("add")) {
          val path = node.get("add").get("path").asText()
          adds(path) = line; removes.remove(path): Unit
        } else if (node.has("remove")) {
          val path = node.get("remove").get("path").asText()
          removes(path) = line; adds.remove(path): Unit
        } else if (node.has("metaData")) metaLine = Some(line)
        else if (node.has("protocol")) protoLine = Some(line)
        else if (node.has("domainMetadata")) {
          domains(node.get("domainMetadata").get("domain").asText()) = line
        } else if (node.has("txn")) {
          txns(node.get("txn").get("appId").asText()) = line
        }
        // commitInfo / cdc lines are per-commit provenance — dropped
      }
    }
    val lines = protoLine.toSeq ++ metaLine.toSeq ++ domains.values ++
      txns.values ++ removes.values ++ adds.values
    val tmp = new Path(dir, s".tmp-compact-${java.util.UUID.randomUUID()}.json")
    val out = fs.create(tmp, true)
    try lines.foreach(l => out.write((l + "\n").getBytes("UTF-8")))
    finally out.close()
    val dst = new Path(dir, f"$startVersion%020d.$endVersion%020d.compacted.json")
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst)) throw new IllegalStateException(
      s"$tablePath: failed to land compacted log file $dst")
  }

  /** COMPACTION (Delta's OPTIMIZE shape): rewrite the active files
    * into `targetFiles` bigger ones under a `dataChange=false`
    * commit — snapshot-invisible to incremental readers and change
    * feeds (both skip dataChange=false, spec-locked), visible rows
    * bit-identical. Files carrying DELETION VECTORS are materialized
    * on the way (the rewrite reads the DV-applied snapshot, so the
    * new files are clean and the vectors retire) — Delta's own purge
    * move. One distributed read+write; the commit is |files| driver
    * metadata. Returns the committed version.
    */
  def compact(spark: SparkSession, tablePath: String, targetFiles: Int): Long = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    val state = DeltaTableReader.snapshotState(spark, tablePath)
    refuseWriterUnsupported(state, tablePath, allowColumnMapping = true)
    if (state.protocol.exists(_.writerFeatures.contains("rowTracking")))
      return compactRowTracked(spark, tablePath, state, targetFiles)
    val snap = DeltaTableReader.snapshot(spark, tablePath)
    // a CLUSTERED table's OPTIMIZE re-establishes the clustered layout
    // (Delta's own OPTIMIZE on clusterBy tables): range-repartition on
    // the declared columns instead of the blind row-count split, so
    // the rewritten files are prunable again even after unclustered
    // writers diluted the layout
    val clusterCols = DeltaTableReader.clusteringColumnsOf(state, tablePath)
      .collect { case Seq(c) if snap.columns.contains(c) => c }
    val reshaped =
      if (clusterCols.isEmpty) snap.repartition(targetFiles)
      else {
        val cs = clusterCols.map(org.apache.spark.sql.functions.col)
        snap.repartitionByRange(targetFiles, cs: _*).sortWithinPartitions(cs: _*)
      }
    val (physical, physPartCols) = mappedWriteProjection(state, tablePath, reshaped)
    val files = writeDataFiles(physical, tablePath, physPartCols)
    val now = System.currentTimeMillis()
    val lines =
      state.active.map(f =>
        s"""{"remove":{"path":${jsonStr(f.path)},"deletionTimestamp":$now,""" +
          s""""dataChange":false}}""") ++
      files.map(f => addLineOf(f, physPartCols, dataChange = false))
    commit(spark, tablePath, state.version + 1, lines,
      ictNeeded = ictNeededOf(state), rebaseSafe = false, rebaseDisjoint = true,
      opInfo = Some(("OPTIMIZE", false)))
  }

  /** VACUUM: physically delete data files TOMBSTONED (removed with
    * `dataChange` true or false) longer ago than `retentionMs` and no
    * longer in the active set — Delta's own vacuum semantics: time
    * travel to versions whose files fall inside retention still
    * works; travel past the horizon fails loudly AT SCAN (the honest
    * contract the reader documents). Tombstones come from replaying
    * the remove actions still present in JSON commits; driver work is
    * |actions| plus one listing of the table, deletion is |expired
    * files|. Change-data files go past retention too, and so does
    * every file under the table that no version names — the files a
    * failed write's finished tasks landed, crashed staging — once
    * its modification time is past retention (a file's hidden `.crc`
    * sidecar goes with it). `_delta_log` and a mirrored Iceberg
    * `metadata/` dir are never swept. Returns the deleted relative
    * paths.
    */
  def vacuum(spark: SparkSession, tablePath: String, retentionMs: Long,
      nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    val dir = logDir(tablePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val state = DeltaTableReader.snapshotState(spark, tablePath)
    val activePaths = state.active.map(f => decodePath(f.path)).toSet
    val root = fs.makeQualified(new Path(tablePath))
    val rootStr = root.toString.stripSuffix("/")
    // every file a version names — data, change data, DV sidecars — as
    // a qualified path
    val named = scala.collection.mutable.Set.empty[String]
    def name(p: String): Unit = {
      val dec = decodePath(p)
      named += (if (dec.startsWith("/") || dec.contains("://")) fs.makeQualified(new Path(dec)).toString
        else s"$rootStr/$dec")
    }
    def nameDv(dv: DeltaDv.Descriptor): Unit =
      DeltaDv.sidecarPath(tablePath, dv).foreach(p => named += fs.makeQualified(new Path(p)).toString)
    state.active.foreach { f => name(f.path); f.dv.foreach(nameDv) }
    val tombstones = scala.collection.mutable.Map.empty[String, Long]
    fs.listStatus(dir).map(_.getPath).filter(_.getName.endsWith(".json")).foreach { p =>
      readText(fs, p).split('\n').filter(_.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        Seq("add", "remove", "cdc").filter(node.has).foreach { k =>
          val a = node.get(k)
          name(a.get("path").asText())
          Option(a.get("deletionVector")).filterNot(_.isNull).foreach(d => nameDv(DeltaDv.Descriptor(
            d.get("storageType").asText(), d.get("pathOrInlineDv").asText(),
            Option(d.get("offset")).filterNot(_.isNull).map(_.asLong()).getOrElse(0L),
            d.get("sizeInBytes").asInt(), d.get("cardinality").asLong())))
        }
        if (node.has("remove")) {
          val r = node.get("remove")
          val path = decodePath(r.get("path").asText())
          val ts = Option(r.get("deletionTimestamp")).filterNot(_.isNull)
            .map(_.asLong()).getOrElse(0L)
          if (tombstones.get(path).forall(_ < ts)) tombstones(path) = ts
        }
      }
    }
    val horizon = nowMs - retentionMs
    val doomed = tombstones.toSeq
      .collect { case (p, ts) if ts <= horizon && !activePaths.contains(p) => p }
      .sorted
    doomed.foreach { rel =>
      val f = new Path(tablePath, rel)
      if (fs.exists(f)) { fs.delete(f, false): Unit }
    }
    // change-data files are never tombstoned (their cdc actions are
    // dataChange=false one-shots), so without this they accumulate
    // forever — Delta's own vacuum reclaims them past retention too,
    // aged by modification time (the cdc action carries no timestamp)
    val cdcDir = new Path(root, "_change_data")
    val doomedCdc =
      if (!fs.exists(cdcDir)) Nil
      else FileLanding.sweepUnnamed(fs, cdcDir, _ => false, horizon + 1).map("_change_data/" + _)
    val mirrored = IcebergMetadata.present(fs, root)
    val unnamed = FileLanding.sweepUnnamed(fs, root, named, horizon,
      n => n == "_delta_log" || n == "_change_data" || (mirrored && n == "metadata"))
    doomed ++ doomedCdc.sorted ++ unnamed.sorted
  }

  private def maybeCheckpoint(spark: SparkSession, tablePath: String, version: Long,
      interval: Int): Unit =
    if (interval > 0 && version > 0 && version % interval == 0) {
      writeCheckpoint(spark, tablePath): Unit
    }

  /** Crossover between the DRIVER and the DISTRIBUTED vector build:
    * matches at or under this land as one driver-built sidecar (16
    * bytes a pair ≈ 64 MB of heap, the cheap path); bigger matches
    * shuffle the positions to per-file tasks that each write their
    * own sidecar ([[dvMaskLinesDistributed]]) — positions never reach
    * the driver, so deletes/merges scale to any table size.
    */
  val MaxDeleteRowsDriver: Int = 4 * 1000 * 1000

  /** Crossover between BROADCASTING the upsert batch's key set into
    * the table-side semi join and a plain SHUFFLE semi join: at or
    * under this many distinct keys the broadcast (typically tens of
    * MB) wins — one hash probe per scan task, zero table shuffle;
    * past it (backfill-scale merges) broadcasting would approach
    * Spark's 8 GiB hard cap, so the join degrades gracefully to a
    * shuffle instead of failing outright.
    */
  val MaxBroadcastUpsertKeys: Long = 4L * 1000 * 1000

  /** Row-level DELETE on an external Delta table WITHOUT rewriting
    * data files: rows matching `predicate` (evaluated on exactly the
    * live rows a reader serves — existing vectors already applied)
    * are masked by DELETION VECTORS. Each affected file's old and new
    * positions merge into one fresh vector, landed in a single
    * RoaringBitmap sidecar ([[DeltaDv]]), and the commit re-adds the
    * SAME data file with the new descriptor (the protocol's
    * remove+re-add DV attach). A legacy 1/2 protocol upgrades to 3/7
    * with the deletionVectors feature in the same commit. Returns the
    * committed version.
    */
  def delete(spark: SparkSession, tablePath: String,
      predicate: org.apache.spark.sql.Column,
      maxDriverRows: Int = MaxDeleteRowsDriver): Long = {
    val (state, keyed) = DeltaTableReader.snapshotWithKeys(spark, tablePath)
    refuseWriterUnsupported(state, tablePath, allowColumnMapping = true)
    // DV deletes are PATH-level bookkeeping — mapped tables work: the
    // read resolves logical names, the remove/re-add lines re-emit
    // each file's own (physical-keyed) partitionValues; CDF change
    // data lands under physical names via mappedCdcProjection (id
    // mode additionally stamps field ids on the cdc data columns —
    // `_change_type` stays id-less and name-resolved per PROTOCOL.md)
    val matchedDf = keyed.where(predicate)
      .select(org.apache.spark.sql.functions.col("_g_file"),
        org.apache.spark.sql.functions.col("_g_pos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the driver-vs-distributed split is decided by a DISTRIBUTED
      // count — rows only come to the driver once known to fit (a
      // collect()-then-measure probe would itself hold maxDriverRows
      // full Rows of heap before the decision)
      val nMatched = matchedDf.limit(maxDriverRows + 1).count()
      if (nMatched == 0) throw new IllegalArgumentException(
        s"$tablePath: predicate matched no live rows — nothing to delete")
      // small matches build bitmaps on the driver (one sidecar for all
      // files); past the bound the build DISTRIBUTES — positions never
      // reach the driver ([[dvMaskLinesDistributed]])
      val lines =
        if (nMatched <= maxDriverRows)
          dvMaskLines(spark, tablePath, state, matchedDf.collect())
        else dvMaskLinesDistributed(spark, tablePath, state, matchedDf)
      // CDF obligation: a delete on an enableChangeDataFeed table
      // must land its pre-images as explicit change-data files
      val cdcLines =
        if (!cdfEnabledOf(state)) Nil
        else {
          val (cdcRows, cdcParts) = mappedCdcProjection(state, tablePath,
            keyed.where(predicate).drop("_g_file", "_g_pos")
              .withColumn("_change_type", org.apache.spark.sql.functions.lit("delete")))
          writeCdcFiles(cdcRows, tablePath, cdcParts)
        }
      commit(spark, tablePath, state.version + 1, cdcLines ++ lines,
        ictNeeded = ictNeededOf(state), rebaseSafe = false, rebaseDisjoint = true,
        opInfo = Some(("DELETE", false)))
    } finally matchedDf.unpersist()
  }

  /** The commit lines that mask `matched` (file, position) rows via
    * deletion vectors: per affected file, old ∪ new positions land in
    * one fresh sidecar vector and the file is removed+re-added with
    * the descriptor; a legacy 1/2 protocol upgrades to
    * 3/7+deletionVectors in the same lines. Shared by [[delete]] and
    * [[upsert]] (which appends the new rows in the SAME commit).
    */
  private def dvMaskLines(spark: SparkSession, tablePath: String,
      state: DeltaTableReader.Snapshot,
      matched: Array[org.apache.spark.sql.Row]): Seq[String] = {
    val byFile = matched.groupBy(_.getString(0))
      .map { case (f, rs) => f -> rs.map(_.getLong(1)).toIndexedSeq }
    val byNorm = normActive(state, tablePath)
    val conf = spark.sparkContext.hadoopConfiguration
    val affected = byFile.toSeq.sortBy(_._1).map { case (nf, newPos) =>
      val fa = byNorm.getOrElse(nf, throw new IllegalStateException(
        s"$tablePath: matched file $nf is not in the active set — racing writer?"))
      val old = fa.dv.map(d => DeltaDv.positionsOf(conf, tablePath, d).toSeq).getOrElse(Nil)
      (fa, (old ++ newPos).distinct.sorted)
    }
    val descriptors = DeltaDv.writeSidecar(conf, tablePath, affected.map(_._2))
    dvActionLines(spark, tablePath, state, affected.map(_._1).zip(descriptors))
  }

  private def normActive(state: DeltaTableReader.Snapshot,
      tablePath: String): Map[String, DeltaTableReader.FileAction] =
    state.active.map { f =>
      val p0 = decodePath(f.path)
      val absP = if (p0.startsWith("/") || p0.contains("://")) p0 else s"$tablePath/$p0"
      ScanPaths.normalizeDriver(absP) -> f
    }.toMap

  /** DISTRIBUTED DV build — the path past [[MaxDeleteRowsDriver]]:
    * matched (`_g_file`, `_g_pos`) rows shuffle to per-file tasks;
    * each task merges its files' OLD vectors (decoded on the
    * executor) with the new positions and writes ONE sidecar per
    * task. The driver receives only |affected files| descriptors —
    * never a position. Bounded by |deletes| on the wire, |files| on
    * the driver, at any table size.
    */
  private def dvMaskLinesDistributed(spark: SparkSession, tablePath: String,
      state: DeltaTableReader.Snapshot, matched: DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
    val byNorm = normActive(state, tablePath)
    val bcDv = spark.sparkContext.broadcast(
      byNorm.map { case (n, f) => n -> f.dv })
    val bcConf = spark.sparkContext.broadcast(
      new DeltaDv.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    val table = tablePath
    val outSchema = StructType(Seq(
      StructField("file", StringType), StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType), StructField("offset", LongType),
      StructField("sizeInBytes", IntegerType), StructField("cardinality", LongType)))
    val descs = matched.select(col("_g_file"), col("_g_pos"))
      // explicit count: an unsized keyed repartition AQE-coalesces a
      // small delete to one task, serializing the per-file DV builds
      .repartition(spark.sessionState.conf.numShufflePartitions, col("_g_file"))
      .mapPartitions { it =>
        val byFile = scala.collection.mutable.LinkedHashMap
          .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
        it.foreach { r =>
          byFile.getOrElseUpdate(r.getString(0),
            scala.collection.mutable.ArrayBuffer.empty[Long]) += r.getLong(1)
        }
        if (byFile.isEmpty) Iterator.empty
        else {
          val conf = bcConf.value.value
          val files = byFile.keys.toIndexedSeq
          val vectors = files.map { f =>
            val oldDv = bcDv.value.getOrElse(f, throw new IllegalStateException(
              s"$table: matched file $f is not in the active set — racing writer?"))
            val old = oldDv.map(d => DeltaDv.positionsOf(conf, table, d).toSeq).getOrElse(Nil)
            (old ++ byFile(f)).distinct.sorted
          }
          val ds = DeltaDv.writeSidecar(conf, table, vectors)
          files.iterator.zip(ds.iterator).map { case (f, d) =>
            org.apache.spark.sql.Row(f, d.storageType, d.pathOrInlineDv,
              d.offset, d.sizeInBytes, d.cardinality)
          }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
      .collect()
      .map(r => r.getString(0) -> DeltaDv.Descriptor(r.getString(1), r.getString(2),
        r.getLong(3), r.getInt(4), r.getLong(5)))
      .toIndexedSeq
    if (descs.isEmpty) throw new IllegalArgumentException(
      s"$tablePath: predicate matched no live rows — nothing to delete")
    dvActionLines(spark, tablePath, state,
      descs.sortBy(_._1).map { case (nf, d) => byNorm(nf) -> d })
  }

  /** Physical WRITE projection for a column-mapped table, exact
    * column set (evolution lives in [[append]]'s mapped branch):
    * logical → declared physical names, parquet field ids stamped in
    * `id` mode. Unmapped tables pass through. Returns (physical df,
    * physical partition columns).
    */
  private def mappedWriteProjection(state: DeltaTableReader.Snapshot,
      tablePath: String, df: DataFrame): (DataFrame, Seq[String]) = {
    val mode = state.configuration.getOrElse("delta.columnMapping.mode", "none")
    if (mode != "name" && mode != "id") return (df, state.partitionColumns)
    val declared = state.schemaJson
      .flatMap(js => scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(js)).toOption)
      .collect { case st: org.apache.spark.sql.types.StructType => st }
      .getOrElse(throw new IllegalStateException(
        s"$tablePath: table metadata carries no parseable schemaString"))
    val physOf = DeltaTableReader.columnMappingOf(state.schemaJson, tablePath)
    val IdKey = "delta.columnMapping.id"
    val idOf = declared.fields.collect {
      case f if f.metadata.contains(IdKey) => f.name -> f.metadata.getLong(IdKey)
    }.toMap
    val logicalCols = declared.fieldNames.toSeq
    require(df.columns.toSet == logicalCols.toSet,
      s"$tablePath: written columns ${df.columns.sorted.mkString(",")} != declared " +
        s"${logicalCols.sorted.mkString(",")} — mapped writes outside append carry the " +
        "exact declared set (evolve through append first)")
    val stampIds = mode == "id"
    val physical = df.select(logicalCols.map { c =>
      val md = idOf.get(c) match {
        case Some(id) if stampIds => new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id", id).build()
        case None if stampIds =>
          throw new IllegalStateException(s"$tablePath: column $c carries no " +
            "delta.columnMapping.id — an id-mode write cannot stamp its field id; refusing")
        case _ => org.apache.spark.sql.types.Metadata.empty
      }
      // mapped INNER fields land under physical names; id mode
      // additionally stamps inner parquet field ids through the
      // fully-annotated cast target
      val base =
        if (DeltaTableReader.hasNestedMapping(declared(c).dataType))
          org.apache.spark.sql.functions.col(c).cast(
            if (stampIds) DeltaTableReader.physInnerTypeWithIds(declared(c).dataType, tablePath)
            else DeltaTableReader.physInnerType(declared(c).dataType))
        else org.apache.spark.sql.functions.col(c)
      base.as(physOf.getOrElse(c, c), md)
    }: _*)
    (physical, state.partitionColumns.map(c => physOf.getOrElse(c, c)))
  }

  private def isMapped(state: DeltaTableReader.Snapshot): Boolean =
    state.configuration.get("delta.columnMapping.mode").exists(m => m == "name" || m == "id")

  /** Physical projection for CHANGE-DATA rows on a column-mapped
    * table: data columns rename (inner fields cast) to physical —
    * id mode additionally stamps their `parquet.field.id` so the
    * landed cdc files resolve by id like data files do — while the
    * protocol's `_change_type` rides through untouched and ID-LESS
    * (it is a metadata column outside the table schema; readers
    * resolve it by name). Unmapped tables pass through. Returns
    * (physical rows, physical partition columns). */
  private def mappedCdcProjection(state: DeltaTableReader.Snapshot,
      tablePath: String, rows: DataFrame): (DataFrame, Seq[String]) = {
    if (!isMapped(state)) return (rows, state.partitionColumns)
    val declared = state.schemaJson
      .flatMap(js => scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(js)).toOption)
      .collect { case st: org.apache.spark.sql.types.StructType => st }
      .getOrElse(throw new IllegalStateException(
        s"$tablePath: table metadata carries no parseable schemaString"))
    val physOf = DeltaTableReader.columnMappingOf(state.schemaJson, tablePath)
    val IdKey = "delta.columnMapping.id"
    val stampIds = state.configuration.get("delta.columnMapping.mode").contains("id")
    val physical = rows.select(declared.fieldNames.toIndexedSeq.map { c =>
      val md = declared(c).metadata match {
        case m if stampIds && m.contains(IdKey) =>
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("parquet.field.id", m.getLong(IdKey)).build()
        case _ if stampIds =>
          throw new IllegalStateException(s"$tablePath: column $c carries no " +
            "delta.columnMapping.id — id-mode change data cannot stamp its field id; refusing")
        case _ => org.apache.spark.sql.types.Metadata.empty
      }
      // same contract as the data-file writes: id-mode change data is
      // spec-true at every level — inner ids stamp via the annotated
      // cast target
      val base =
        if (DeltaTableReader.hasNestedMapping(declared(c).dataType))
          org.apache.spark.sql.functions.col(c).cast(
            if (stampIds) DeltaTableReader.physInnerTypeWithIds(declared(c).dataType, tablePath)
            else DeltaTableReader.physInnerType(declared(c).dataType))
        else org.apache.spark.sql.functions.col(c)
      base.as(physOf.getOrElse(c, c), md)
    } :+ org.apache.spark.sql.functions.col("_change_type"): _*)
    (physical, state.partitionColumns.map(c => physOf.getOrElse(c, c)))
  }

  /** Commit lines for per-file fresh vectors: protocol upgrade when
    * needed + remove/re-add with the new descriptors. */
  private def dvActionLines(spark: SparkSession, tablePath: String,
      state: DeltaTableReader.Snapshot,
      perFile: Seq[(DeltaTableReader.FileAction, DeltaDv.Descriptor)]): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(tablePath).getFileSystem(conf)
    val p = state.protocol.getOrElse(DeltaTableReader.Protocol(1, 2, Nil, Nil))
    val protoLine =
      if (p.minReaderVersion >= 3 && p.readerFeatures.contains("deletionVectors")) None
      else Some {
        val rf = (p.readerFeatures :+ "deletionVectors").distinct.map(jsonStr).mkString(",")
        val wf = (p.writerFeatures :+ "deletionVectors").distinct.map(jsonStr).mkString(",")
        s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          s""""readerFeatures":[$rf],"writerFeatures":[$wf]}}"""
      }
    val now = System.currentTimeMillis()
    // re-add the file's OWN partitionValues verbatim: on column-mapped
    // tables the keys are PHYSICAL names, and re-keying by the logical
    // partitionColumns would null them out
    def pvJson(pv: Map[String, String]): String =
      pv.toSeq.sortBy(_._1).map { case (k, v) =>
        s"${jsonStr(k)}:${if (v == null) "null" else jsonStr(v)}"
      }.mkString(",")
    protoLine.toSeq ++ perFile.flatMap { case (fa, d) =>
      val st = fs.getFileStatus(new Path(tablePath, decodePath(fa.path)))
      // the re-add CARRIES the file's stats verbatim: a DV only masks
      // rows, so the recorded min/max stay conservative-valid and
      // skipping keeps pruning DV-deleted files (dropping them here
      // would silently turn every deleted-from file into keep-always)
      val statsJson = fa.stats.map(s0 => s""","stats":${jsonStr(s0)}""").getOrElse("")
      // rowTracking: the re-add is the SAME file, so its row-id base
      // and adding commit carry verbatim — the vector masks positions
      // without moving rows, which is what keeps ids stable
      val rowIdJson = (fa.baseRowId, fa.defaultRowCommitVersion) match {
        case (Some(b), Some(v0)) =>
          s""","baseRowId":$b,"defaultRowCommitVersion":$v0"""
        case _ => ""
      }
      Seq(
        s"""{"remove":{"path":${jsonStr(fa.path)},"deletionTimestamp":$now,""" +
          s""""dataChange":true}}""",
        s"""{"add":{"path":${jsonStr(fa.path)},"partitionValues":{${pvJson(fa.partitionValues)}},""" +
          s""""size":${st.getLen},"modificationTime":${st.getModificationTime},""" +
          s""""dataChange":true,"deletionVector":${DeltaDv.descriptorJson(d)}""" +
          s"""$statsJson$rowIdJson}}""")
    }
  }

  /** UPSERT (merge) into an external Delta table, key-matched: live
    * rows whose `keys` values appear in `df` are masked by DELETION
    * VECTORS (no data-file rewrite — [[dvMaskLines]]), and the whole
    * batch lands as new data files, all in ONE commit, so readers see
    * the merge atomically: matched rows replaced, unmatched batch
    * rows inserted. The batch must be unique on `keys` (a duplicate
    * would make "the" replacement row ambiguous — pre-combine first,
    * loudly required). A batch that matches nothing degrades to a
    * pure append in the same single commit.
    *
    * Scale shape: the match is one semi join of the snapshot scan
    * against the BROADCAST batch keys; matched (file, pos) pairs
    * materialize on the driver under the same [[MaxDeleteRowsDriver]]
    * bound as [[delete]] (an upsert's matched set is the changed-row
    * set; a merge rewriting more than that should rewrite files).
    * Returns the committed version.
    */
  def upsert(df: DataFrame, path: String, keys: Seq[String],
      checkpointInterval: Int = DefaultCheckpointInterval,
      maxDriverRows: Int = MaxDeleteRowsDriver,
      maxBroadcastKeys: Long = MaxBroadcastUpsertKeys): Long = {
    val spark = df.sparkSession
    // matched rows come back as the scan's ABSOLUTE file paths; the
    // active set resolves its table-relative paths against this root,
    // so a relative root is qualified against the working directory
    val tablePath = {
      val p = new Path(path)
      if (p.isAbsolute) path
      else p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
    }
    require(keys.nonEmpty, s"$tablePath: upsert needs at least one key column")
    val (state, keyed) = DeltaTableReader.snapshotWithKeys(spark, tablePath)
    refuseWriterUnsupported(state, tablePath, allowColumnMapping = true)
    // an upsert REPLACES matched rows via DV-mask + append — the
    // replacement row would take a fresh id unless the merge
    // materialized the old one, a preservation this writer does not
    // implement (OPTIMIZE does, via [[compactRowTracked]]); refusing
    // beats silently re-identifying every updated row
    if (state.protocol.exists(_.writerFeatures.contains("rowTracking")))
      throw new IllegalStateException(
        s"$tablePath: upsert on a rowTracking table must preserve updated rows' " +
          "row ids through the rewrite (materialized columns on the merge), which " +
          "this writer does not implement; refusing")
    // mapped upserts carry the exact declared set (mappedWriteProjection
    // requires it below); evolution on mapped tables lives in append
    val (cols, metaLines) =
      if (isMapped(state)) {
        val declared = state.schemaJson
          .flatMap(js => scala.util.Try(
            org.apache.spark.sql.types.DataType.fromJson(js)).toOption)
          .collect { case st: org.apache.spark.sql.types.StructType =>
            st.fieldNames.toSeq }
          .getOrElse(throw new IllegalStateException(
            s"$tablePath: table metadata carries no parseable schemaString"))
        require(df.columns.toSet == declared.toSet,
          s"$tablePath: mapped upsert columns ${df.columns.sorted.mkString(",")} != " +
            s"declared ${declared.sorted.mkString(",")} — evolve through append first")
        (declared, Nil)
      } else evolveSchemaIfNeeded(state, tablePath, df)
    keys.foreach(k => require(cols.contains(k),
      s"$tablePath: upsert key $k is not a table column"))
    import org.apache.spark.sql.functions.{broadcast, col}
    val aligned = df.select(cols.map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val batchKeys = aligned.select(keys.map(col): _*)
      // ONE aggregation job for both cardinalities (was count() +
      // distinct().count() — two sequential jobs; the first also
      // materializes the `aligned` persist) — guide §1.2
      val card = aligned.agg(
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.count_distinct(
          org.apache.spark.sql.functions.struct(keys.map(col): _*)).as("k")).head()
      val nRows = card.getLong(0)
      val nKeys = card.getLong(1)
      require(nRows == nKeys,
        s"$tablePath: upsert batch carries ${nRows - nKeys} duplicate key row(s) — the " +
          "replacement row per key would be ambiguous; pre-combine the batch first")
      val distinctKeys = batchKeys.distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // SIZE-GATED key join: CDC-sized batches broadcast the key set
      // (one scan-side hash probe, no shuffle of the table); a
      // backfill-sized batch past the gate would blow Spark's 8 GiB
      // broadcast cap, so it degrades to a shuffle semi join instead
      // of failing outright
      val smallBatch = nKeys <= maxBroadcastKeys
      def semiAgainstBatch(left: DataFrame): DataFrame =
        if (smallBatch) left.join(broadcast(distinctKeys), keys, "left_semi")
        else left.join(distinctKeys, keys, "left_semi")
      val matchedDf = semiAgainstBatch(keyed)
        .select(col("_g_file"), col("_g_pos"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // driver-vs-distributed DV split decided by a DISTRIBUTED count;
      // rows reach the driver only once known to fit
      val nMatched = matchedDf.limit(maxDriverRows + 1).count()
      val dvLines =
        if (nMatched == 0) Nil
        else if (nMatched <= maxDriverRows)
          dvMaskLines(spark, tablePath, state, matchedDf.collect())
        else dvMaskLinesDistributed(spark, tablePath, state, matchedDf)
      // CDF obligation: an upsert on an enableChangeDataFeed table
      // lands update pre/post images + inserts as change-data files
      // (readers serve them VERBATIM for this commit)
      val cdcLines =
        if (!cdfEnabledOf(state)) Nil
        else {
          val tableKeys = keyed.select(keys.map(col): _*)
          val litCt = org.apache.spark.sql.functions.lit _
          val pre = semiAgainstBatch(keyed)
            .drop("_g_file", "_g_pos")
            .withColumn("_change_type", litCt("update_preimage"))
          val post = aligned.join(tableKeys, keys, "left_semi")
            .withColumn("_change_type", litCt("update_postimage"))
          val ins = aligned.join(tableKeys, keys, "left_anti")
            .withColumn("_change_type", litCt("insert"))
          val (cdcRows, cdcParts) = mappedCdcProjection(state, tablePath,
            pre.unionByName(post, allowMissingColumns = true)
              .unionByName(ins, allowMissingColumns = true))
          writeCdcFiles(cdcRows, tablePath, cdcParts)
        }
      matchedDf.unpersist(): Unit
      distinctKeys.unpersist(): Unit
      val (physical, physPartCols) = mappedWriteProjection(state, tablePath, aligned)
      val files = writeDataFiles(physical, tablePath, physPartCols)
      val v = commit(spark, tablePath, state.version + 1,
        metaLines ++ cdcLines ++ dvLines ++ files.map(addLineOf(_, physPartCols)),
        ictNeeded = ictNeededOf(state), rebaseSafe = false, rebaseDisjoint = true,
        opInfo = Some(("MERGE", false)), winnerMustBeBlind = true)
      maybeCheckpoint(spark, tablePath, v, checkpointInterval)
      v
    } finally aligned.unpersist()
  }

  /** RESTORE the table to `version` — Delta's own RESTORE shape: ONE
    * commit whose `remove` actions drop every file active now but not
    * then and whose `add` actions re-activate every file active then
    * but not now (original partition values and deletion vectors
    * re-attached verbatim), all `dataChange=true`. History is
    * preserved — the restore is a NEW version on top, so time travel
    * to the pre-restore state still works and incremental/CDC readers
    * refuse across it rather than silently double-reading (their
    * spec-locked contract). Restoring to a version whose DATA FILES
    * were since VACUUMED refuses loudly before committing anything
    * (DV sidecars are re-attached by descriptor; a vacuumed sidecar
    * surfaces at scan, the reader's own loud path). A no-op restore
    * (already at that state) refuses — nothing to commit. Returns the
    * committed version.
    */
  def restore(spark: SparkSession, tablePath: String, version: Long): Long = {
    val now = DeltaTableReader.snapshotState(spark, tablePath, withStats = true)
    refuseWriterUnsupported(now, tablePath)
    val then0 = DeltaTableReader.snapshotState(spark, tablePath, asOf = Some(version),
      withStats = true)
    val nowBy = now.active.map(f => f.path -> f).toMap
    val thenBy = then0.active.map(f => f.path -> f).toMap
    val toRemove = now.active.filterNot(f => thenBy.contains(f.path))
    // a file active in both but with a DIFFERENT deletion vector must
    // re-add with the old descriptor (remove+add, the DV re-attach)
    val toReAdd = then0.active.filter { f =>
      nowBy.get(f.path) match {
        case None => true
        case Some(cur) => cur.dv.map(_.pathOrInlineDv) != f.dv.map(_.pathOrInlineDv)
      }
    }
    if (toRemove.isEmpty && toReAdd.isEmpty) throw new IllegalArgumentException(
      s"$tablePath: already at the state of version $version — nothing to restore")
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    toReAdd.foreach { f =>
      val p = new Path(tablePath, decodePath(f.path))
      if (!fs.exists(p)) throw new IllegalStateException(
        s"$tablePath: restore to version $version needs ${f.path}, which was vacuumed " +
          "away — the restore cannot be served; refusing before committing anything")
    }
    val nowMs = System.currentTimeMillis()
    def pvJson(pv: Map[String, String]): String =
      now.partitionColumns.map { c =>
        pv.get(c) match {
          case Some(v) => s"${jsonStr(c)}:${jsonStr(v)}"
          case None => s"${jsonStr(c)}:null"
        }
      }.mkString(",")
    val lines =
      toRemove.map(f =>
        s"""{"remove":{"path":${jsonStr(f.path)},"deletionTimestamp":$nowMs,""" +
          s""""dataChange":true}}""") ++
      toReAdd.map { f =>
        val st = fs.getFileStatus(new Path(tablePath, decodePath(f.path)))
        val dvJson = f.dv.map(d => s""","deletionVector":${DeltaDv.descriptorJson(d)}""")
          .getOrElse("")
        // re-activated files keep their stats — a restore re-points,
        // it never rewrites bytes, so the recorded ranges still hold
        val statsJson = f.stats.map(s0 => s""","stats":${jsonStr(s0)}""").getOrElse("")
        // rowTracking: a restore re-points at the same bytes — the
        // re-activated file's row-id base and adding commit restore
        // verbatim with it
        val rowIdJson = (f.baseRowId, f.defaultRowCommitVersion) match {
          case (Some(b), Some(v0)) =>
            s""","baseRowId":$b,"defaultRowCommitVersion":$v0"""
          case _ => ""
        }
        val rm = nowBy.get(f.path).map(_ =>
          s"""{"remove":{"path":${jsonStr(f.path)},"deletionTimestamp":$nowMs,""" +
            s""""dataChange":true}}""").toSeq
        rm :+ (s"""{"add":{"path":${jsonStr(f.path)},""" +
          s""""partitionValues":{${pvJson(f.partitionValues)}},""" +
          s""""size":${st.getLen},"modificationTime":${st.getModificationTime},""" +
          s""""dataChange":true$dvJson$statsJson$rowIdJson}}""")
      }.flatten
    // CDF obligation: a restore's change images are FILE-SET and
    // DV-POSITION diffs — never a whole-snapshot exceptAll:
    //  - files dropped by the restore serve their live rows as
    //    deletes; files re-activated serve theirs (old DV applied)
    //    as inserts;
    //  - files active on both sides with a DIFFERENT vector diff at
    //    the POSITION level (executor-decoded, |DV|-sized): positions
    //    masked now but not then resurrect as inserts, the reverse
    //    go out as deletes.
    // Cost is O(changed files + DV sizes), not O(snapshots).
    val cdcLines =
      if (!cdfEnabledOf(now)) Nil
      else {
        val litCt = org.apache.spark.sql.functions.lit _
        val legs = Seq.newBuilder[DataFrame]
        def scan(files: Seq[DeltaTableReader.FileAction],
            keep: Option[DataFrame] = None): DataFrame =
          DeltaTableReader.readFileActions(spark, tablePath, files,
            now.partitionColumns, now.schemaJson, now.configuration, keep)
        if (toRemove.nonEmpty)
          legs += scan(toRemove).withColumn("_change_type", litCt("delete"))
        val addedBack = then0.active.filterNot(f => nowBy.contains(f.path))
        if (addedBack.nonEmpty)
          legs += scan(addedBack).withColumn("_change_type", litCt("insert"))
        val dvChanged = then0.active.filter(f => nowBy.get(f.path).exists(cur =>
          cur.dv.map(_.pathOrInlineDv) != f.dv.map(_.pathOrInlineDv)))
        if (dvChanged.nonEmpty) {
          val key: DeltaTableReader.FileAction => String =
            DeltaTableReader.dvKeyOf(tablePath, _)
          val thenDvs = dvChanged.flatMap(f => f.dv.map(d => (key(f), d)))
          val nowDvs = dvChanged.flatMap(f => nowBy(f.path).dv.map(d => (key(f), d)))
          val stripped = dvChanged.map(_.copy(dv = None))
          def posOf(dvs: Seq[(String, DeltaDv.Descriptor)]): Option[DataFrame] =
            if (dvs.isEmpty) None
            else Some(DeltaTableReader.dvPositionsOf(spark, tablePath, dvs))
          (posOf(nowDvs), posOf(thenDvs)) match {
            case (None, None) => ()
            case (pn, pt) =>
              val resurrect = (pn, pt) match {
                case (Some(n0), Some(t0)) => Some(n0.join(t0, Seq("_g_file", "_g_pos"), "left_anti"))
                case (Some(n0), None) => Some(n0)
                case (None, _) => None
              }
              val killed = (pn, pt) match {
                case (Some(n0), Some(t0)) => Some(t0.join(n0, Seq("_g_file", "_g_pos"), "left_anti"))
                case (None, Some(t0)) => Some(t0)
                case (_, None) => None
              }
              resurrect.foreach(r =>
                legs += scan(stripped, Some(r)).withColumn("_change_type", litCt("insert")))
              killed.foreach(k =>
                legs += scan(stripped, Some(k)).withColumn("_change_type", litCt("delete")))
          }
        }
        val parts = legs.result()
        if (parts.isEmpty) Nil
        else writeCdcFiles(parts.reduce(_.unionByName(_)), tablePath, now.partitionColumns)
      }
    commit(spark, tablePath, now.version + 1, cdcLines ++ lines,
      ictNeeded = ictNeededOf(now), rebaseSafe = false,
      opInfo = Some(("RESTORE", false)))
  }

  def append(df0: DataFrame, tablePath: String,
      transaction: Option[(String, Long)] = None,
      checkpointInterval: Int = DefaultCheckpointInterval): Long = {
    val spark = df0.sparkSession
    val state = DeltaTableReader.snapshotState(spark, tablePath)
    refuseWriterUnsupported(state, tablePath, allowColumnMapping = true)
    // a CLUSTERED table (delta.clustering domain): range-cluster the
    // batch on the declared columns — PROTOCOL.md makes clustering on
    // write advisory, so paths this writer cannot shuffle by (nested,
    // or absent from the batch) fall back to a legal unclustered
    // append instead of refusing
    val clusterCols = DeltaTableReader.clusteringColumnsOf(state, tablePath)
      .collect { case Seq(c) if df0.columns.contains(c) => c }
    val df = clusterFrame(df0, clusterCols)
    val rowTracked = state.protocol.exists(_.writerFeatures.contains("rowTracking"))
    val mappingMode = state.configuration.getOrElse("delta.columnMapping.mode", "none")
    if (rowTracked && mappingMode != "none") throw new IllegalStateException(
      s"$tablePath: rowTracking composed with columnMapping=$mappingMode is not " +
        "implemented by this writer; refusing rather than landing id-less adds")
    if (mappingMode == "name" || mappingMode == "id") {
      // COLUMN-MAPPED append (PROTOCOL.md Column Mapping): the batch
      // arrives under LOGICAL names; data files must carry the
      // declared PHYSICAL names, parquet FIELD IDS from each column's
      // delta.columnMapping.id (what `id` mode resolves by — UniForm/
      // converted tables are id-mode), and add.partitionValues keyed
      // physically. ADDITIVE EVOLUTION mints each new column a fresh
      // physical name + field id and bumps maxColumnId in the same
      // commit (the protocol's rule for mapped tables).
      val declared = state.schemaJson
        .flatMap(js => scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(js)).toOption)
        .collect { case st: org.apache.spark.sql.types.StructType => st }
        .getOrElse(throw new IllegalStateException(
          s"$tablePath: table metadata carries no parseable schemaString"))
      val physOf0 = DeltaTableReader.columnMappingOf(state.schemaJson, tablePath)
      val IdKey = "delta.columnMapping.id"
      val PhysKey = "delta.columnMapping.physicalName"
      val idOf0: Map[String, Long] = declared.fields.collect {
        case f if f.metadata.contains(IdKey) => f.name -> f.metadata.getLong(IdKey)
      }.toMap
      val logicalCols = declared.fieldNames.toSeq
      val missing = logicalCols.toSet -- df.columns.toSet
      require(missing.isEmpty,
        s"$tablePath: batch columns ${df.columns.sorted.mkString(",")} lack declared " +
          s"column(s) ${missing.toSeq.sorted.mkString(",")} — writes must carry the full " +
          "declared schema (additive evolution only adds columns)")
      logicalCols.foreach { c =>
        require(df.schema(c).dataType == declared(c).dataType,
          s"$tablePath: schema evolution cannot change column $c from " +
            s"${declared(c).dataType.simpleString} to ${df.schema(c).dataType.simpleString}")
      }
      val extras = df.columns.filterNot(logicalCols.contains).toSeq
      val maxId = (state.configuration.get("delta.columnMapping.maxColumnId")
        .map(_.toLong) ++ idOf0.values).foldLeft(0L)(math.max)
      val minted = extras.zipWithIndex.map { case (c, i) =>
        val id = maxId + i + 1
        (c, id, s"col-${java.util.UUID.randomUUID()}")
      }
      val metaLines =
        if (extras.isEmpty) Nil
        else {
          val newFields = minted.map { case (c, id, phys) =>
            org.apache.spark.sql.types.StructField(c, df.schema(c).dataType,
              nullable = true,
              new org.apache.spark.sql.types.MetadataBuilder()
                .putLong(IdKey, id).putString(PhysKey, phys).build())
          }
          val widened = org.apache.spark.sql.types.StructType(declared.fields ++ newFields)
          val conf = state.configuration +
            ("delta.columnMapping.maxColumnId" -> (maxId + extras.size).toString)
          Seq(metaLineOf(state, widened, conf))
        }
      val physOf = physOf0 ++ minted.map { case (c, _, phys) => c -> phys }
      val idOf = idOf0 ++ minted.map { case (c, id, _) => c -> id }
      val outCols = logicalCols ++ extras
      // field ids are an ID-mode obligation (the mode resolves by
      // them). NAME mode deliberately lands id-less files: its reader
      // resolves by physical name over footer-inferred schemas, and a
      // table MIXING id-carrying and id-less files breaks any engine
      // whose field-id read flag is on
      val stampIds = mappingMode == "id"
      val physical = df.select(outCols.map { c =>
        val md = idOf.get(c) match {
          case Some(id) if stampIds => new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("parquet.field.id", id).build()
          case None if mappingMode == "id" =>
            throw new IllegalStateException(s"$tablePath: column $c carries no " +
              "delta.columnMapping.id — an id-mode append cannot stamp its field id; refusing")
          case _ => org.apache.spark.sql.types.Metadata.empty
        }
        // mapped INNER fields land under their physical names too —
        // the positional struct cast is the rename; id mode's cast
        // target additionally carries inner parquet field ids
        val base =
          if (declared.fieldNames.contains(c) &&
              DeltaTableReader.hasNestedMapping(declared(c).dataType))
            org.apache.spark.sql.functions.col(c).cast(
              if (stampIds) DeltaTableReader.physInnerTypeWithIds(declared(c).dataType, tablePath)
              else DeltaTableReader.physInnerType(declared(c).dataType))
          else org.apache.spark.sql.functions.col(c)
        base.as(physOf.getOrElse(c, c), md)
      }: _*)
      val physPartCols = state.partitionColumns.map(c => physOf.getOrElse(c, c))
      val files = writeDataFiles(physical, tablePath, physPartCols)
      // an append CARRYING a metaData line (schema evolution) was
      // computed from this snapshot's schema/maxColumnId — a lost CAS
      // must not blindly re-land it over a concurrent evolution (last
      // metaData would win and colliding column ids could be minted),
      // so it rebases only over metaData-free disjoint winners
      val v = commit(spark, tablePath, state.version + 1,
        metaLines ++ transaction.map(txnLine).toSeq ++ files.map(addLineOf(_, physPartCols)),
        ictNeeded = ictNeededOf(state),
        rebaseSafe = metaLines.isEmpty, rebaseDisjoint = metaLines.nonEmpty,
        opInfo = Some(("WRITE", metaLines.isEmpty)))
      maybeCheckpoint(spark, tablePath, v, checkpointInterval)
      return v
    }
    val (cols, metaLines) = evolveSchemaIfNeeded(state, tablePath, df)
    val aligned = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
    val files = writeDataFiles(aligned, tablePath, state.partitionColumns)
    val v =
      if (rowTracked) {
        // ROW TRACKING (PROTOCOL.md): every add takes a fresh
        // contiguous baseRowId range past the domain's high watermark,
        // defaultRowCommitVersion = the version that LANDS (linesFor
        // regenerates per CAS attempt), and the bumped watermark
        // domain rides the same commit. Two concurrent row-tracked
        // appends would mint overlapping ids — the domain-carrying
        // winner makes the rebase refuse, which is the point.
        var next = rowIdWatermarkOf(state, tablePath) + 1
        val baseOf = files.map { f => val b = next; next += f.rows; f.rel -> b }.toMap
        commit(spark, tablePath, state.version + 1, Nil,
          ictNeeded = ictNeededOf(state),
          rebaseSafe = false, rebaseDisjoint = true,
          opInfo = Some(("WRITE", metaLines.isEmpty)),
          linesFor = Some(ver =>
            metaLines ++ transaction.map(txnLine).toSeq ++
              Seq(rowTrackingDomainLine(next - 1)) ++
              files.map(f => addLineOf(f, state.partitionColumns,
                rowId = Some((baseOf(f.rel), ver))))))
      } else
        // same evolution-rebase rule as the mapped branch above
        commit(spark, tablePath, state.version + 1,
          metaLines ++ transaction.map(txnLine).toSeq ++
            files.map(addLineOf(_, state.partitionColumns)),
          ictNeeded = ictNeededOf(state),
          rebaseSafe = metaLines.isEmpty, rebaseDisjoint = metaLines.nonEmpty,
          opInfo = Some(("WRITE", metaLines.isEmpty)))
    maybeCheckpoint(spark, tablePath, v, checkpointInterval)
    v
  }

  /** delta.io PROTOCOL.md primitive type names (the schema-JSON
    * grammar, also what `delta.typeChanges` entries record). */
  private def deltaTypeName(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType => "byte"
      case ShortType => "short"
      case IntegerType => "integer"
      case LongType => "long"
      case FloatType => "float"
      case DoubleType => "double"
      case d: DecimalType => s"decimal(${d.precision},${d.scale})"
      case other => other.typeName
    }
  }

  /** PROTOCOL.md Type Widening "Supported Type Changes", restricted
    * to the conversions the declared-schema parquet scan actually
    * serves (Spark 4's vectorized reader — the same set the Iceberg
    * adapter admits as promotions, plus the integral upcast chain):
    * byte→short→int→long, float→double, decimal precision growth at
    * the SAME scale. The spec also allows scale growth (k1 ≥ k2 ≥ 0)
    * and int→double/decimal, but those need value REWRITING at scan
    * time that the vectorized reader does not perform — admitting
    * them would widen the metadata while old files silently misread,
    * so they stay refused.
    */
  private[sources] def legalWidening(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision > f.precision
      case _ => false
    }
  }

  /** Additive schema evolution per PROTOCOL.md (Schema Evolution +
    * Type Widening): a batch carrying every declared column plus NEW
    * ones commits an updated `metaData` whose schemaString appends
    * the new columns as NULLABLE fields — files written before the
    * evolution simply lack them and readers null-fill (the reader
    * scans with the declared schema). A batch carrying a LEGALLY
    * WIDER type for an existing column ([[legalWidening]]) widens the
    * declared type in the same metaData commit, records the change in
    * the field's `delta.typeChanges` metadata (the typeWidening
    * writer obligation), and upgrades the protocol to declare the
    * feature when absent — old narrow files keep serving through the
    * declared-schema scan's widening conversions. Missing columns and
    * any OTHER type change refuse loudly (those are rewrite-grade
    * migrations, not metadata commits). Returns (column order for the
    * write, action lines — empty when nothing evolves).
    */
  private def evolveSchemaIfNeeded(state: DeltaTableReader.Snapshot,
      tablePath: String, df: DataFrame): (Seq[String], Seq[String]) = {
    import org.apache.spark.sql.types._
    val declared = state.schemaJson
      .flatMap(js => scala.util.Try(DataType.fromJson(js)).toOption)
      .collect { case st: StructType => st }
      .getOrElse(throw new IllegalStateException(
        s"$tablePath: table metadata carries no parseable schemaString"))
    val tableCols = declared.fieldNames.toSeq
    val missing = tableCols.toSet -- df.columns.toSet
    require(missing.isEmpty,
      s"$tablePath: batch columns ${df.columns.sorted.mkString(",")} lack declared " +
        s"column(s) ${missing.toSeq.sorted.mkString(",")} — writes must carry the full " +
        "declared schema (additive evolution only adds columns)")
    val widenings: Seq[(String, DataType, DataType)] = tableCols.flatMap { c =>
      val from = declared(c).dataType
      val to = df.schema(c).dataType
      if (to == from) None
      else if (legalWidening(from, to)) Some((c, from, to))
      else throw new IllegalArgumentException(
        s"$tablePath: schema evolution cannot change column $c from " +
          s"${from.simpleString} to ${to.simpleString} — only NEW nullable columns " +
          "and typeWidening's legal widenings (byte→short→int→long, float→double, " +
          "decimal precision growth at the same scale) are metadata commits; " +
          "other changes are rewrites")
    }
    val extras = df.columns.filterNot(tableCols.contains).toSeq
    if (extras.isEmpty && widenings.isEmpty) return (tableCols, Nil)
    val widenBy = widenings.map(w => w._1 -> w).toMap
    val evolvedFields = declared.fields.map { f =>
      widenBy.get(f.name) match {
        case Some((_, from, to)) =>
          // every widening APPENDS a delta.typeChanges entry — the
          // full chain stays recorded so engines can validate any
          // old file's physical type against it
          val prior: Seq[Metadata] =
            if (f.metadata.contains("delta.typeChanges"))
              f.metadata.getMetadataArray("delta.typeChanges").toSeq
            else Nil
          val entry = new MetadataBuilder()
            .putString("fromType", deltaTypeName(from))
            .putString("toType", deltaTypeName(to)).build()
          val md = new MetadataBuilder().withMetadata(f.metadata)
            .putMetadataArray("delta.typeChanges", (prior :+ entry).toArray).build()
          StructField(f.name, to, f.nullable, md)
        case None => f
      }
    } ++ extras.map(c => StructField(c, df.schema(c).dataType, nullable = true))
    val widened = StructType(evolvedFields)
    // a widening is gated by the typeWidening table feature — declare
    // it in the same commit when absent (same upgrade shape as the DV
    // writer: existing features preserved, the new one appended)
    val protoLine: Option[String] =
      if (widenings.isEmpty) None
      else {
        val p = state.protocol.getOrElse(DeltaTableReader.Protocol(1, 2, Nil, Nil))
        if (p.minReaderVersion >= 3 && p.readerFeatures.contains("typeWidening")) None
        else Some {
          val rf = (p.readerFeatures :+ "typeWidening").distinct.map(jsonStr).mkString(",")
          val wf = (p.writerFeatures :+ "typeWidening").distinct.map(jsonStr).mkString(",")
          s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
            s""""readerFeatures":[$rf],"writerFeatures":[$wf]}}"""
        }
      }
    (tableCols ++ extras,
      protoLine.toSeq :+ metaLineOf(state, widened, state.configuration))
  }

  /** One `metaData` action line: the snapshot's identity/partitioning
    * with a replacement schema and configuration (the evolution /
    * rename / drop commit shape). */
  private def metaLineOf(state: DeltaTableReader.Snapshot,
      schema: org.apache.spark.sql.types.StructType,
      configuration: Map[String, String]): String = {
    val confJson = configuration.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }.mkString(",")
    s"""{"metaData":{"id":${jsonStr(state.metaDataId.getOrElse(
      java.util.UUID.randomUUID().toString))},""" +
      s""""format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${jsonStr(schema.json)},""" +
      s""""partitionColumns":[${state.partitionColumns.map(jsonStr).mkString(",")}],""" +
      s""""configuration":{$confJson},""" +
      s""""createdTime":${state.createdTime.getOrElse(System.currentTimeMillis())}}}"""
  }

  /** RENAME a column — ONE metaData commit, no data move, on
    * COLUMN-MAPPED tables only (PROTOCOL.md Column Mapping: the
    * physical name in the data files stays, only the LOGICAL name in
    * the schemaString changes, so every existing file keeps serving).
    * Unmapped tables refuse: their files bind to logical names, and a
    * rename there is a table rewrite, not a metadata commit.
    * Partition columns rename in the metaData's partitionColumns too
    * (they are logical names). Returns the committed version.
    */
  def renameColumn(spark: SparkSession, tablePath: String,
      from: String, to: String): Long = {
    require(from != to, "rename to the same name is a no-op — refusing to commit one")
    val state = DeltaTableReader.snapshotState(spark, tablePath)
    val mode = state.configuration.getOrElse("delta.columnMapping.mode", "none")
    require(mode == "name" || mode == "id",
      s"$tablePath: delta.columnMapping.mode=$mode — a rename without column mapping " +
        "would have to rewrite every data file (they bind to logical names); refusing")
    val declared = state.schemaJson
      .flatMap(js => scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(js)).toOption)
      .collect { case st: org.apache.spark.sql.types.StructType => st }
      .getOrElse(throw new IllegalStateException(
        s"$tablePath: table metadata carries no parseable schemaString"))
    require(declared.fieldNames.contains(from),
      s"$tablePath: no column named $from to rename")
    require(!declared.fieldNames.contains(to),
      s"$tablePath: column $to already exists — rename would collide")
    // the field's METADATA (delta.columnMapping.physicalName + id)
    // carries over verbatim — that is the whole point of the mode
    val renamed = org.apache.spark.sql.types.StructType(declared.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    val partCols = state.partitionColumns.map(c => if (c == from) to else c)
    val confJson = state.configuration.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }.mkString(",")
    val metaLine =
      s"""{"metaData":{"id":${jsonStr(state.metaDataId.getOrElse(
        java.util.UUID.randomUUID().toString))},""" +
        s""""format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jsonStr(renamed.json)},""" +
        s""""partitionColumns":[${partCols.map(jsonStr).mkString(",")}],""" +
        s""""configuration":{$confJson},""" +
        s""""createdTime":${state.createdTime.getOrElse(System.currentTimeMillis())}}}"""
    commit(spark, tablePath, state.version + 1, Seq(metaLine),
      ictNeeded = ictNeededOf(state), rebaseSafe = false)
  }

  /** DROP a column — ONE metaData commit on a COLUMN-MAPPED table
    * (PROTOCOL.md Column Mapping: the physical column stays in the
    * data files, the schemaString stops declaring it, so readers stop
    * projecting it and no file rewrites). Partition columns refuse
    * (the log's partitionValues key on them); unmapped tables refuse
    * like [[renameColumn]]. Returns the committed version.
    */
  def dropColumn(spark: SparkSession, tablePath: String, column: String): Long = {
    val state = DeltaTableReader.snapshotState(spark, tablePath)
    val mode = state.configuration.getOrElse("delta.columnMapping.mode", "none")
    require(mode == "name" || mode == "id",
      s"$tablePath: delta.columnMapping.mode=$mode — a drop without column mapping " +
        "would have to rewrite every data file; refusing")
    val declared = state.schemaJson
      .flatMap(js => scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(js)).toOption)
      .collect { case st: org.apache.spark.sql.types.StructType => st }
      .getOrElse(throw new IllegalStateException(
        s"$tablePath: table metadata carries no parseable schemaString"))
    require(declared.fieldNames.contains(column),
      s"$tablePath: no column named $column to drop")
    require(declared.fields.length > 1, s"$tablePath: cannot drop the only column")
    require(!state.partitionColumns.contains(column),
      s"$tablePath: $column is a partition column — the log's partitionValues key on " +
        "it; repartition the table instead of dropping")
    val reduced = org.apache.spark.sql.types.StructType(
      declared.fields.filterNot(_.name == column))
    val confJson = state.configuration.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }.mkString(",")
    val metaLine =
      s"""{"metaData":{"id":${jsonStr(state.metaDataId.getOrElse(
        java.util.UUID.randomUUID().toString))},""" +
        s""""format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jsonStr(reduced.json)},""" +
        s""""partitionColumns":[${state.partitionColumns.map(jsonStr).mkString(",")}],""" +
        s""""configuration":{$confJson},""" +
        s""""createdTime":${state.createdTime.getOrElse(System.currentTimeMillis())}}}"""
    commit(spark, tablePath, state.version + 1, Seq(metaLine),
      ictNeeded = ictNeededOf(state), rebaseSafe = false)
  }
}
