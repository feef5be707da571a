package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import HudiTimeline.load

/** READ-ONLY adapter for externally-written Apache Hudi COPY-ON-WRITE
  * tables — the reference's OWN entry point: template.py:207-217
  * reads an existing Hudi table by path (snapshot) and
  * template.py:226-281 pulls it incrementally from a checkpointed
  * commit time. Implemented from the PUBLIC Hudi layout (hudi.apache.org
  * timeline + file-layout docs):
  *
  *  - `.hoodie/<instantTime>.commit` — one COMPLETED commit per file,
  *    JSON whose `partitionToWriteStats` lists, per partition, the
  *    file groups (`fileId`) and base-file `path`s the commit wrote;
  *    `.requested`/`.inflight` siblings are in-flight and ignored;
  *  - COW base files are immutable parquet; an update REWRITES the
  *    whole file group under the new instant, carrying unchanged rows
  *    forward with their ORIGINAL `_hoodie_commit_time` and stamping
  *    changed/new rows with the new instant — which is exactly what
  *    makes incremental pull a per-row filter;
  *  - the SNAPSHOT is, per file group, the base file of the LATEST
  *    completed instant that wrote it (the latest file slice);
  *  - the INCREMENTAL read since instant T is: file groups touched by
  *    commits > T, their latest slice, rows filtered to
  *    `_hoodie_commit_time > T` (rows merely carried forward keep
  *    their old stamp and drop out) — the contract the reference's
  *    `HUDIIncrementalReader` consumes.
  *
  * Scale shape — identical to Hudi's own planner: timeline replay is
  * driver-side metadata bounded by completed commits; data reads are
  * distributed parquet scans of exactly the active file slices (at
  * most one base file per file group), and the incremental read scans
  * only groups touched after the checkpoint. Partition columns need
  * no reconstruction: Hudi COW data files carry the full row schema
  * (plus the `_hoodie_*` meta columns).
  *
  * MERGE-ON-READ tables serve the REAL-TIME view: per file group, the
  * latest base file (if any) merged with the log files appended after
  * it ([[HudiLog]] blocks — upserts latest-wins by record key, delete
  * blocks honored), which is what `spark.read.format("hudi")` on a MOR
  * table means (template.py:304's entry point). Scale shape: only
  * file groups WITH pending logs pay the merge (a record-key window
  * over base+log rows of those groups); compacted groups stream
  * through as plain scans — the same split Hudi's own realtime reader
  * makes. COW-only paths (point-in-time, incremental) keep refusing
  * MOR timelines; `readOptimized` stays the explicit stale opt-in.
  *
  * Every public entry point reads `.hoodie` once, through
  * [[HudiTimeline.load]], and passes that value to its helpers.
  */
object HudiTableReader {

  /** One file-group write from a commit's stats; `partition` is the
    * partitionToWriteStats key the write landed under ("" for
    * unpartitioned tables). */
  final case class SliceWrite(instant: String, fileId: String, path: String,
      partition: String = "")

  /** Completed COW instants (`commit` / `replacecommit`), ascending,
    * archived ones included. Refuses MOR timelines — their snapshot
    * needs log-merge.
    */
  def instants(spark: SparkSession, tablePath: String): Seq[(String, String)] =
    load(spark, tablePath).cow

  /** Completed ordinary-commit instants, ascending. */
  def commits(spark: SparkSession, tablePath: String): Seq[String] =
    instants(spark, tablePath).filter(_._2 == "commit").map(_._1)

  /** The latest completed instant of ANY kind (deltacommits included)
    * — the head token a checkpointed consumer records. */
  def latestInstant(spark: SparkSession, tablePath: String): String =
    load(spark, tablePath).head

  /** The latest file slice per LIVE file group at the latest instant —
    * the COW snapshot's file set. Replay in instant order: an ordinary
    * commit repoints its groups' slices; a clustering replacecommit
    * DROPS the replaced groups and adds the clustered ones (reading
    * both would double every clustered row).
    */
  def activeSlices(spark: SparkSession, tablePath: String): Seq[SliceWrite] =
    activeSlices(load(spark, tablePath))

  private[sources] def activeSlices(tl: HudiTimeline): Seq[SliceWrite] = slicesUpTo(tl, None)

  private def slicesUpTo(tl: HudiTimeline, upTo: Option[String]): Seq[SliceWrite] = {
    val timeline = tl.cow
    val indexed = if (upTo.isDefined) None else indexState(tl)
    val latest = scala.collection.mutable.LinkedHashMap.empty[String, SliceWrite]
    indexed.foreach(_._2.foreach(g => g.base.foreach(b => latest(g.fileId) = b)))
    val from = indexed.map(_._1)
    timeline
      .filter { case (i, _) => upTo.forall(i <= _) && from.forall(i > _) }
      .foreach { case (instant, kind) =>
        if (kind == "replacecommit") tl.replacedIds(instant).foreach(latest.remove)
        tl.writes(instant, kind).foreach(w => latest(w.fileId) = w)
      }
    if (latest.isEmpty) throw new IllegalArgumentException(
      upTo match {
        case Some(i) => s"${tl.tablePath}: no completed commits at or before instant $i"
        case None => s"${tl.tablePath}: no completed commits in .hoodie"
      })
    latest.values.toIndexedSeq
  }

  /** The data schema the timeline DECLARES — the evolution authority
    * a scan must resolve against. Graft's own writer stamps the
    * commit-metadata `schema` key ONLY on additive-evolution commits
    * (namespace `hoodie.graft`), so any graft-authored key means the
    * files genuinely disagree and the newest key wins. REAL Hudi
    * writers stamp a schema on EVERY commit, so for external tables
    * the key's mere presence proves nothing: the declared scan
    * activates only when the stamped schemas actually DIVERGE across
    * the walked timeline (data fields compared, `_hoodie_` meta
    * fields ignored). Never-evolved tables — and declared schemas the
    * Avro mapping cannot express — return None: footer inference,
    * which on a uniform table is already exact.
    */
  def declaredDataSchema(spark: SparkSession,
      tablePath: String): Option[org.apache.spark.sql.types.StructType] =
    declaredDataSchema(load(spark, tablePath))

  private[sources] def declaredDataSchema(
      tl: HudiTimeline): Option[org.apache.spark.sql.types.StructType] = {
    def schemaKeyOf(instant: String, kind: String): Option[String] =
      // the walk is an ACCELERATION-ONLY authority (divergence
      // detection; None → footer inference): a meta that cannot be
      // read stamps nothing rather than killing the scan — planning
      // correctness never passes through here, and with an external
      // metadata-table index the pre-index metas are legitimately
      // archivable/unreadable while the table stays fully servable
      scala.util.Try {
        Option(tl.commitJson(instant, kind).get("extraMetadata"))
          .flatMap(em => Option(em.get("schema"))).map(_.asText())
      }.toOption.flatten
    // the FILES INDEX sidecar snapshots the authority as of the index
    // instant — only post-index metas open (the same O(delta) planning
    // contract the index gives file listing); an index without a
    // sidecar falls back to the full newest-first walk
    val indexed: Option[(String, Option[String])] = tl.newestGeneration("files")
      .filter(pick => tl.entries("metadata/files").contains(s"$pick.schema"))
      .map { pick =>
        (pick, HudiTimeline.readText(tl.fs, new Path(tl.metadataDir("files"), s"$pick.schema"))
          .trim match {
          case "none" | "" => None
          case json => Some(json)
        })
      }
    // newest-first list of every stamped schema in the walked range
    // (post-index commits + the sidecar's as-of-index authority, or
    // the full timeline when no index serves)
    val after = indexed.map(_._1)
    val stamped = tl.instants.reverseIterator.takeWhile(i => after.forall(i._1 > _))
      .flatMap { case (i, k) => schemaKeyOf(i, k) }.toSeq ++ indexed.flatMap(_._2)
    resolveDeclared(stamped)
  }

  /** Resolution rule shared by the timeline walk: the newest stamped
    * schema wins iff it is graft-authored (stamped only on evolution)
    * or the stamped set actually diverges; an unmappable winner falls
    * back to footer inference rather than refusing reads that worked
    * before the stamp appeared.
    */
  private[sources] def resolveDeclared(
      stamped: Seq[String]): Option[org.apache.spark.sql.types.StructType] = {
    if (stamped.isEmpty) return None
    // data-field signature: (name, avro type) pairs minus hoodie meta
    // fields — external writers include the meta quintet in some
    // commits and not others, which is not evolution
    def sig(json: String): Option[Seq[(String, String)]] =
      scala.util.Try {
        val avro = new org.apache.avro.Schema.Parser().parse(json)
        import scala.jdk.CollectionConverters._
        avro.getFields.asScala.toSeq
          .filterNot(_.name.startsWith("_hoodie_"))
          .map(f => f.name() -> f.schema().toString)
      }.toOption
    val graftAuthored = stamped.head.contains("\"hoodie.graft\"")
    val diverged = stamped.map(sig).distinct.size > 1
    if (!graftAuthored && !diverged) None
    else scala.util.Try(HudiSchema.fromAvroJson(stamped.head)).toOption
  }

  /** The schema `spark.read.parquet(path)` infers, read from the one
    * footer on the driver: the same converter settings (binary as
    * string, INT96, NTZ inference, nanos as long) and the Spark row
    * metadata when the file carries it, nullable as every file scan
    * serves it. Spark's own inference without schema merging samples
    * the first file too, but through a one-task Spark job; this is one
    * footer read, cheap enough that nothing caches it.
    */
  private[sources] def footerSchema(spark: SparkSession,
      path: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val p = new Path(path)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p,
        spark.sparkContext.hadoopConfiguration))
    val footer = try reader.getFooter finally reader.close()
    org.apache.spark.sql.GraftBridge.asNullable(ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(p, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
  }

  /** The schema a scan of `slices` serves, resolved on the driver
    * without a Spark job. A never-evolved table takes the first
    * slice's footer — the file Spark's own inference samples. Once the
    * table evolved: the declared data columns (old files null-fill the
    * new ones deterministically — footer inference would depend on
    * which file Spark samples) followed by the meta columns the FILES
    * themselves carry, from the NEWEST slice's footer (the most
    * complete meta set). The meta set comes from a footer, not the
    * table's key/partition declarations — real Hudi writers stamp the
    * full meta quintet (`_hoodie_commit_seqno`, `_hoodie_file_name`, …)
    * and a fixed declared list would silently drop them from external
    * snapshots.
    */
  private[sources] def scanSchema(tl: HudiTimeline,
      slices: Seq[SliceWrite]): org.apache.spark.sql.types.StructType = {
    val newest = slices.maxBy(_.instant)
    declaredDataSchema(tl) match {
      case Some(data) =>
        org.apache.spark.sql.types.StructType(
          data.fields.filterNot(_.name.startsWith("_hoodie_")) ++
            footerSchema(tl.spark, s"${tl.tablePath}/${newest.path}").fields
              .filter(_.name.startsWith("_hoodie_")))
      case None => footerSchema(tl.spark, s"${tl.tablePath}/${slices.head.path}")
    }
  }

  private def readPaths(tl: HudiTimeline, slices: Seq[SliceWrite]): DataFrame =
    tl.spark.read.schema(scanSchema(tl, slices))
      .parquet(slices.map(s => s"${tl.tablePath}/${s.path}"): _*)

  /** The TIMELINE as a DataFrame (Hudi's own `show commits`
    * inspection surface): one row per completed instant — instant,
    * action kind, operation type, per-commit write/update row counts
    * and bytes summed from partitionToWriteStats. Driver metadata
    * (|instants| rows + their meta JSONs, already-parsed machinery),
    * ZERO data I/O.
    */
  def timelineView(spark: SparkSession, tablePath: String): DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val tl = load(spark, tablePath)
    val rows = tl.instants.map { case (i, k) =>
      val node = tl.commitJson(i, k)
      val op = Option(node.get("operationType")).map(_.asText()).getOrElse("UNKNOWN")
      var writes = 0L; var updates = 0L; var bytes = 0L
      val stats = node.get("partitionToWriteStats")
      if (stats != null && stats.isObject) stats.fields().forEachRemaining { e =>
        e.getValue.forEach { w =>
          writes += Option(w.get("numWrites")).map(_.asLong()).getOrElse(0L)
          updates += Option(w.get("numUpdateWrites")).map(_.asLong()).getOrElse(0L)
          bytes += Option(w.get("totalWriteBytes")).map(_.asLong()).getOrElse(0L)
        }
      }
      Row(i, k, op, writes, updates, bytes)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("instant", StringType),
      StructField("action", StringType),
      StructField("operation", StringType),
      StructField("num_writes", LongType),
      StructField("num_update_writes", LongType),
      StructField("total_write_bytes", LongType))))
  }

  /** True when the timeline or hoodie.properties mark the table
    * MERGE-ON-READ (metadata listing only, no data I/O).
    */
  def isMor(spark: SparkSession, tablePath: String): Boolean = load(spark, tablePath).isMor

  /** One file group at the head of the timeline: its latest base file
    * (absent for log-only groups) and the log files appended AFTER
    * that base, in replay order.
    */
  final case class GroupSlices(fileId: String, base: Option[SliceWrite],
      logs: Seq[(String, String)]) // (instant, relPath)

  /** The newest FILES-INDEX snapshot — `.hoodie/metadata/files/
    * <instant>.parquet`, the graft form of Hudi's metadata-table
    * `files` partition ([[HudiTableWriter.writeFilesIndex]]): the
    * complete per-file-group state AS OF a recorded instant. Reads
    * replay only the instants AFTER it, so planning cost is
    * O(commits since the last index), not O(timeline) — and the
    * indexed instants' meta files are never opened at all. An index
    * whose instant is not on the timeline (rolled back, foreign) is
    * IGNORED — correctness never rides a stale shortcut.
    */
  private def filesIndexState(tl: HudiTimeline): Option[(String, Seq[GroupSlices])] =
    tl.newestGeneration("files").map { pick =>
      val rows = tl.spark.read.parquet(new Path(tl.metadataDir("files"), s"$pick.parquet").toString)
        .select("fileId", "partition", "baseInstant", "basePath", "logs").collect()
      (pick, rows.toIndexedSeq.map { r =>
        val fileId = r.getString(0)
        val base =
          if (r.isNullAt(2) || r.isNullAt(3)) None
          else Some(SliceWrite(r.getString(2), fileId, r.getString(3), r.getString(1)))
        val logs = r.getSeq[org.apache.spark.sql.Row](4)
          .map(lr => (lr.getString(0), lr.getString(1)))
        GroupSlices(fileId, base, logs)
      })
    }

  /** A REAL Hudi metadata table's `files` partition as a planning
    * start point — the external-table analog of [[filesIndexState]]
    * (hudi.apache.org: metadata table default-ON since 0.11, HFile
    * base files, [[HudiMetadataTable]]): file-group state derives
    * from the newest on-timeline `files` HFile's listing, then
    * file groups REPLACED by replacecommits at or before the index
    * instant drop (the listing keeps replaced files on disk until the
    * cleaner runs — real Hudi's view filters them through the active
    * timeline exactly like this, O(|replacecommits|) meta reads).
    * Unreadable/absent metadata degrades to None: the index
    * accelerates planning, it never gates a read.
    */
  private def externalFilesIndexState(tl: HudiTimeline): Option[(String, Seq[GroupSlices])] =
    HudiMetadataTable.filesListing(tl.spark, tl.tablePath, tl.onTimeline)
      .map { case (instant, listing) =>
        val groups = HudiMetadataTable.groupSlices(listing)
        val replaced = tl.instants
          .filter { case (i, k) => k == "replacecommit" && i <= instant }
          .flatMap { case (i, _) => tl.replacedIds(i) }.toSet
        (instant,
          if (replaced.isEmpty) groups else groups.filterNot(g => replaced.contains(g.fileId)))
      }

  /** The head-of-timeline planning start point: graft's parquet files
    * index first, a REAL Hudi metadata table's `files` HFile otherwise. */
  private def indexState(tl: HudiTimeline): Option[(String, Seq[GroupSlices])] =
    filesIndexState(tl).orElse(externalFilesIndexState(tl))

  /** Replay the FULL timeline (commits, deltacommits, replacecommits)
    * into per-file-group state: a parquet write repoints the group's
    * base and CLEARS its pending logs (an ordinary commit, a MOR
    * compaction, or a deltacommit's first base file); a log-file write
    * appends to the group's pending logs; a clustering replacecommit
    * drops its replaced groups. Head-of-timeline plans (upTo = None)
    * START from the newest files index when one exists
    * ([[indexState]]) and replay only the instants after it.
    */
  private[sources] def morGroups(tl: HudiTimeline,
      upTo: Option[String] = None): Seq[GroupSlices] = {
    val indexed = if (upTo.isDefined) None else indexState(tl)
    val state = scala.collection.mutable.LinkedHashMap.empty[String, GroupSlices]
    indexed.foreach(_._2.foreach(g => state(g.fileId) = g))
    val from = indexed.map(_._1)
    tl.instants
      .filter { case (i, _) => upTo.forall(i <= _) && from.forall(i > _) }
      .foreach { case (instant, kind) =>
      if (kind == "replacecommit") tl.replacedIds(instant).foreach(state.remove)
      tl.writes(instant, kind).foreach { w =>
        if (w.path.endsWith(".parquet")) state(w.fileId) = GroupSlices(w.fileId, Some(w), Nil)
        else {
          val cur = state.getOrElse(w.fileId, GroupSlices(w.fileId, None, Nil))
          state(w.fileId) = cur.copy(logs = cur.logs :+ ((instant, w.path)))
        }
      }
    }
    if (state.isEmpty) throw new IllegalArgumentException(upTo match {
      case Some(i) => s"${tl.tablePath}: no completed instants at or before $i"
      case None => s"${tl.tablePath}: no completed instants in .hoodie"
    })
    state.values.toIndexedSeq
  }

  /** One log-parse task shipped to executors. `ord` is the log file's
    * position in its group's replay order (1-based; base rows are 0).
    */
  private[sources] final case class LogTask(fileId: String, absPath: String, ord: Long)

  /** Record-level ordering: log file order, then block order within
    * the file, then record order within the block — later always wins
    * (Hudi's default overwrite-with-latest payload under commit-time
    * ordering). Base rows sit at ord 0.
    */
  private def recordOrd(fileOrd: Long, blockIdx: Int, recIdx: Int): Long = {
    require(blockIdx < (1 << 20) && recIdx < (1 << 20),
      s"log block/record index out of the 2^20 ordering envelope ($blockIdx/$recIdx)")
    (fileOrd << 40) | (blockIdx.toLong << 20) | recIdx.toLong
  }

  /** Parse the pending log files of `dirty` groups into rows shaped
    * by `schema` (+ `_g_ord`, `_g_del`, and `_g_fid` when `withFid`) —
    * parsing runs ON EXECUTORS through a broadcast Hadoop conf; the
    * driver never holds records.
    */
  private def logRows(spark: SparkSession, tablePath: String,
      dirty: Seq[GroupSlices], schema: org.apache.spark.sql.types.StructType,
      withFid: Boolean): DataFrame = {
    import org.apache.spark.sql.types.{BooleanType, LongType, StringType}
    val keyIdx = schema.fieldIndex("_hoodie_record_key")
    val outSchema0 = schema.add("_g_ord", LongType).add("_g_del", BooleanType)
    val outSchema = if (withFid) outSchema0.add("_g_fid", StringType) else outSchema0
    val tasks = dirty.flatMap { g =>
      g.logs.zipWithIndex.map { case ((_, rel), i) =>
        LogTask(g.fileId, s"$tablePath/$rel", (i + 1).toLong)
      }
    }
    val bcConf = spark.sparkContext.broadcast(
      new DeltaDv.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    val nFields = schema.size
    spark.createDataset(tasks)(Encoders.product[LogTask])
      .repartition(math.max(1, math.min(tasks.size, spark.sparkContext.defaultParallelism)))
      .flatMap { t =>
        def shape(core: Seq[Any], ord: Long, del: Boolean): org.apache.spark.sql.Row =
          org.apache.spark.sql.Row.fromSeq(
            if (withFid) core :+ ord :+ del :+ t.fileId else core :+ ord :+ del)
        HudiLog.read(bcConf.value.value, t.absPath).iterator.zipWithIndex.flatMap {
          case (HudiLog.DataBlock(_, schemaJson, records), bi) =>
            val writer = new org.apache.avro.Schema.Parser().parse(schemaJson)
            records.iterator.zipWithIndex.map { case (bytes, ri) =>
              shape(HudiLog.decodeRow(bytes, writer, schema).toSeq,
                recordOrd(t.ord, bi, ri), del = false)
            }
          case (HudiLog.DeleteBlock(_, keys), bi) =>
            keys.iterator.zipWithIndex.map { case (k, ri) =>
              val vals = Array.fill[Any](nFields)(null)
              vals(keyIdx) = k
              shape(vals.toIndexedSeq, recordOrd(t.ord, bi, ri), del = true)
            }
        }
      }(Encoders.row(outSchema))
      .toDF()
  }

  /** Merge `dirty` groups' base + log rows: latest record per
    * `_hoodie_record_key` wins, tombstones drop. `keepFileId` threads
    * a `_g_fid` column through for the compactor. The shuffle is
    * bounded by the DIRTY groups' bytes — compacted groups never
    * enter it.
    */
  private[sources] def mergeDirtyGroups(spark: SparkSession, tablePath: String,
      dirty: Seq[GroupSlices], schema: org.apache.spark.sql.types.StructType,
      keepFileId: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cols = schema.fieldNames.toIndexedSeq
    val basePaths = dirty.flatMap(_.base).map(b => s"$tablePath/${b.path}")
    // base files scan with the EXPLICIT merge schema: after additive
    // evolution old files null-fill the new columns (bare inference
    // would fail the select on whichever old file Spark sampled)
    def baseScan = spark.read.schema(schema).parquet(basePaths: _*)
    val tagged =
      if (!keepFileId) {
        val logs = logRows(spark, tablePath, dirty, schema, withFid = false)
        if (basePaths.isEmpty) logs
        else baseScan
          .withColumn("_g_ord", lit(0L)).withColumn("_g_del", lit(false))
          .select((cols :+ "_g_ord" :+ "_g_del").map(col): _*)
          .unionByName(logs)
      } else {
        // base rows resolve their group via the file→fileId broadcast
        // map on the scan's metadata; log rows carry it in the task
        val logsF = logRows(spark, tablePath, dirty, schema, withFid = true)
        if (basePaths.isEmpty) logsF
        else {
          val fidRows = dirty.flatMap(g => g.base.map(b =>
            org.apache.spark.sql.Row(
              ScanPaths.normalizeDriver(s"$tablePath/${b.path}"), g.fileId)))
          import scala.jdk.CollectionConverters._
          val fidDf = spark.createDataFrame(fidRows.asJava,
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("_g_file",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("_g_fid",
                org.apache.spark.sql.types.StringType))))
          baseScan
            .withColumn("_g_file", ScanPaths.normalizeScan(col("_metadata.file_path")))
            .join(broadcast(fidDf), Seq("_g_file"), "left")
            .drop("_g_file")
            .withColumn("_g_ord", lit(0L)).withColumn("_g_del", lit(false))
            .select((cols :+ "_g_ord" :+ "_g_del" :+ "_g_fid").map(col): _*)
            .unionByName(logsF)
        }
      }
    val w = Window.partitionBy(col("_hoodie_record_key")).orderBy(col("_g_ord").desc)
    val keep = if (keepFileId) cols :+ "_g_fid" else cols
    tagged
      .withColumn("_g_rn", row_number().over(w))
      .where(col("_g_rn") === 1 && !col("_g_del"))
      .select(keep.map(col): _*)
  }

  /** The table schema for a MOR merge: from the base files when any
    * exist, else from the first log data block's SCHEMA header (the
    * writer schema, driver-side metadata read of one small block).
    */
  private[sources] def morSchema(tl: HudiTimeline,
      groups: Seq[GroupSlices]): org.apache.spark.sql.types.StructType = {
    val bases = groups.flatMap(_.base)
    if (bases.nonEmpty) {
      // an EVOLVED table resolves the declared commit-schema authority
      // (old bases and old log blocks null-fill the added columns);
      // never-evolved tables keep exact footer inference
      scanSchema(tl, bases)
    } else {
      val firstLog = groups.flatMap(g => g.logs.headOption.map(l => s"${tl.tablePath}/${l._2}"))
        .headOption.getOrElse(throw new IllegalArgumentException(
          s"${tl.tablePath}: MOR table has neither base files nor log files"))
      val schemaJson = HudiLog.read(tl.spark.sparkContext.hadoopConfiguration, firstLog)
        .collectFirst { case HudiLog.DataBlock(_, js, _) => js }
        .getOrElse(throw new IllegalStateException(
          s"${tl.tablePath}: first log file carries no data block to derive a schema from"))
      val avro = new org.apache.avro.Schema.Parser().parse(schemaJson)
      avroToStruct(avro)
    }
  }

  private def avroToStruct(avro: org.apache.avro.Schema): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    def typeOf(s: org.apache.avro.Schema): DataType = s.getType match {
      case org.apache.avro.Schema.Type.UNION =>
        typeOf(s.getTypes.asScala.find(_.getType != org.apache.avro.Schema.Type.NULL).get)
      case org.apache.avro.Schema.Type.LONG =>
        if (s.getLogicalType != null && s.getLogicalType.getName == "timestamp-micros")
          TimestampType
        else LongType
      case org.apache.avro.Schema.Type.INT =>
        if (s.getLogicalType != null && s.getLogicalType.getName == "date") DateType
        else IntegerType
      case org.apache.avro.Schema.Type.DOUBLE => DoubleType
      case org.apache.avro.Schema.Type.FLOAT => FloatType
      case org.apache.avro.Schema.Type.BOOLEAN => BooleanType
      case org.apache.avro.Schema.Type.STRING => StringType
      case org.apache.avro.Schema.Type.BYTES => BinaryType
      case other => throw new IllegalStateException(s"Avro type $other has no Spark mapping here")
    }
    StructType(avro.getFields.asScala.map(f => StructField(f.name(), typeOf(f.schema()))).toSeq)
  }

  /** REAL-TIME view of a MERGE-ON-READ table: per file group, base +
    * pending logs merged (latest per record key wins, tombstones
    * drop); groups with no pending logs stream through unshuffled.
    */
  def realtime(spark: SparkSession, tablePath: String): DataFrame = {
    val tl = load(spark, tablePath)
    realtimeOf(tl, morGroups(tl))
  }

  /** POINT-IN-TIME real-time view of a MOR table: the timeline replay
    * cut at `asOfInstant` — each group serves its base as of the
    * instant merged with the log files appended up to it. Slices
    * later cleaned off disk fail loudly at scan time, the same
    * contract as the COW as-of.
    */
  def realtimeAsOf(spark: SparkSession, tablePath: String, asOfInstant: String): DataFrame = {
    val tl = load(spark, tablePath)
    realtimeOf(tl, morGroups(tl, Some(asOfInstant)))
  }

  private def realtimeOf(tl: HudiTimeline, groups: Seq[GroupSlices]): DataFrame = {
    val tablePath = tl.tablePath
    val clean = groups.filter(_.logs.isEmpty).flatMap(_.base)
    val dirty = groups.filter(_.logs.nonEmpty)
    if (dirty.isEmpty) {
      if (clean.isEmpty) throw new IllegalArgumentException(
        s"$tablePath: no base files and no log files on the timeline")
      return readPaths(tl, clean)
    }
    val schema = morSchema(tl, groups)
    if (!schema.fieldNames.contains("_hoodie_record_key"))
      throw new IllegalStateException(
        s"$tablePath: base files carry no _hoodie_record_key — the log merge has no " +
          "record identity to merge on; refusing (read readOptimized for base-only)")
    val merged = mergeDirtyGroups(tl.spark, tablePath, dirty, schema, keepFileId = false)
    if (clean.isEmpty) merged
    else readPaths(tl, clean).select(schema.fieldNames.toIndexedSeq.map(col): _*)
      .unionByName(merged)
  }

  /** Snapshot read — COW tables scan the latest file slices; MOR
    * tables serve the merged REAL-TIME view (meta columns included,
    * as Hudi's own snapshot query returns them).
    */
  def snapshot(spark: SparkSession, tablePath: String): DataFrame =
    snapshot(load(spark, tablePath))

  private[sources] def snapshot(tl: HudiTimeline): DataFrame =
    if (tl.isMor) realtimeOf(tl, morGroups(tl))
    else readPaths(tl, activeSlices(tl))

  /** Partition-pruned COW snapshot: only file slices whose
    * partitionToWriteStats key passes `pruner` reach the scan —
    * metadata-only, before any data I/O (the timeline-level half of
    * Hudi's own partition pruning; keys are hive-style `col=value`
    * paths). Refuses MOR tables — prune through `realtime`'s group
    * split instead.
    */
  def snapshotPruned(spark: SparkSession, tablePath: String,
      pruner: String => Boolean): DataFrame = {
    val tl = load(spark, tablePath)
    if (tl.isMor) throw new IllegalArgumentException(
      s"$tablePath is MERGE-ON-READ — partition-pruned reads are the COW path")
    val slices = activeSlices(tl).filter(s0 => pruner(s0.partition))
    if (slices.isEmpty) throw new IllegalArgumentException(
      s"$tablePath: the partition pruner rejected every active slice")
    readPaths(tl, slices)
  }

  /** POINT-IN-TIME query (Hudi's `as.of.instant`): the table exactly
    * as of `asOfInstant` — timeline replay stops there, so each file
    * group serves the latest slice committed at or before the
    * instant. Slices later cleaned off disk fail loudly at scan time
    * rather than silently serving a different state.
    */
  def snapshotAsOf(spark: SparkSession, tablePath: String, asOfInstant: String): DataFrame = {
    val tl = load(spark, tablePath)
    if (tl.isMor) realtimeOf(tl, morGroups(tl, Some(asOfInstant)))
    else readPaths(tl, slicesUpTo(tl, Some(asOfInstant)))
  }

  /** READ-OPTIMIZED view of an external MERGE-ON-READ table — Hudi's
    * own `_ro` contract, as an EXPLICIT opt-in: the latest BASE
    * (parquet) file per live file group, log files ignored, so the
    * result is the table AS OF ITS LAST COMPACTION per group. Updates
    * sitting only in log files are NOT visible — that staleness is
    * the view's documented semantics, which is why [[snapshot]] keeps
    * refusing MOR timelines (a caller who didn't ask for staleness
    * must not silently get it). Works on COW tables too, where it
    * equals the snapshot (every slice is a base file).
    *
    * Replay, in instant order over the FULL timeline (commits,
    * deltacommits, replacecommits): parquet writes repoint their file
    * group's base file — an ordinary commit, a MOR compaction, or a
    * deltacommit's first base file for a new group — while log-file
    * writes leave the base slice untouched; a clustering
    * replacecommit drops its replaced groups.
    */
  def readOptimized(spark: SparkSession, tablePath: String): DataFrame = {
    val tl = load(spark, tablePath)
    val latest = scala.collection.mutable.LinkedHashMap.empty[String, SliceWrite]
    tl.instants.foreach { case (instant, kind) =>
      if (kind == "replacecommit") tl.replacedIds(instant).foreach(latest.remove)
      tl.writes(instant, kind)
        .filter(_.path.endsWith(".parquet"))
        .foreach(w => latest(w.fileId) = w)
    }
    if (latest.isEmpty) throw new IllegalArgumentException(
      s"$tablePath: no base files on the timeline (nothing compacted yet?)")
    readPaths(tl, latest.values.toIndexedSeq)
  }

  /** Incremental pull on a MERGE-ON-READ table: the real-time merge
    * restricted to file groups TOUCHED after the checkpoint (a base
    * write or a log append with a newer instant), filtered to
    * `_hoodie_commit_time > sinceInstant` — carried-forward and
    * base-only rows keep their stamps and drop out, and rows
    * tombstoned after the checkpoint are simply absent (Hudi's own
    * non-CDC incremental semantics: deletes do not surface). Groups
    * untouched since the checkpoint are NEVER scanned — the pull is
    * bounded by the touched groups' bytes.
    */
  private def morIncrementalSince(tl: HudiTimeline, sinceInstant: String): DataFrame = {
    val tablePath = tl.tablePath
    val groups = morGroups(tl)
    val timeline = tl.instants
    if (!timeline.exists(_._1 > sinceInstant))
      throw new IllegalArgumentException(
        s"$tablePath: no instants after $sinceInstant " +
          s"(latest: ${timeline.lastOption.map(_._1).getOrElse("none")})")
    val touched = groups.filter(g =>
      g.base.exists(_.instant > sinceInstant) || g.logs.exists(_._1 > sinceInstant))
    if (touched.isEmpty)
      throw new IllegalArgumentException(
        s"$tablePath: instants after $sinceInstant touched no file group")
    val schema = morSchema(tl, groups)
    if (!schema.fieldNames.contains("_hoodie_record_key"))
      throw new IllegalStateException(
        s"$tablePath: base files carry no _hoodie_record_key — the log merge has no " +
          "record identity; refusing")
    val dirty = touched.filter(_.logs.nonEmpty)
    val clean = touched.filter(_.logs.isEmpty).flatMap(_.base)
    val legs = Seq(
      if (dirty.nonEmpty)
        Some(mergeDirtyGroups(tl.spark, tablePath, dirty, schema, keepFileId = false))
      else None,
      if (clean.nonEmpty)
        Some(readPaths(tl, clean)
          .select(schema.fieldNames.toIndexedSeq.map(col): _*))
      else None).flatten
    legs.reduce(_ unionByName _)
      .filter(col("_hoodie_commit_time") > lit(sinceInstant))
  }

  /** The operationType a commit meta file declares ("INSERT",
    * "UPSERT", "COMPACT", "CLUSTER", …; empty when absent). */
  private def operationTypeOf(tl: HudiTimeline, instant: String, kind: String): String =
    Option(tl.commitJson(instant, kind).get("operationType")).map(_.asText()).getOrElse("")

  /** CDC-grade incremental on a MERGE-ON-READ table — the change feed
    * of instants after `sinceInstant`: base files WRITTEN by a
    * data-changing instant serve their freshly-stamped rows as
    * `upsert` POST-IMAGES (inserts included — Hudi's non-CDC timeline
    * carries no pre-images, stated); log DATA blocks of the instant
    * serve `upsert` post-images too; log DELETE blocks serve `delete`
    * KEY-IMAGES (`_hoodie_record_key` set, data columns null — a
    * tombstone names a key, not a row). COMPACT commits and CLUSTER
    * replacecommits are SILENT (no logical change — the
    * dataChange=false analog). Rows tag `_change_type` +
    * `_commit_instant`. Folding the feed onto `realtimeAsOf(since)` —
    * per instant: delete-by-key, then upsert-by-key — reproduces the
    * head real-time view exactly (spec-proven). COW tables refuse
    * toward [[incrementalSince]]: their timelines carry no delete
    * images at all. Scale shape: per instant the feed reads only that
    * instant's written files/blocks.
    */
  def changeFeedSince(spark: SparkSession, tablePath: String,
      sinceInstant: String): DataFrame = {
    val tl = load(spark, tablePath)
    // instants with landed CDC images (`.hoodie/cdc/<instant>/` —
    // [[HudiTableWriter]]'s hoodie.table.cdc.enabled obligation)
    val cdcInstants = tl.entries("cdc").toSet
    if (!tl.isMor) {
      // a COW feed exists ONLY through landed cdc images — without
      // hoodie.table.cdc.enabled the timeline has no pre/delete images
      require(HudiTableWriter.cdcEnabled(tl.properties) || cdcInstants.nonEmpty,
        s"$tablePath is COPY_ON_WRITE — its timeline carries no delete images for a CDC " +
          "feed; use incrementalSince for the upsert-exact post-image pull")
      return cowChangeFeed(tl, sinceInstant, cdcInstants)
    }
    val groups = morGroups(tl)
    val schema = morSchema(tl, groups)
    if (!schema.fieldNames.contains("_hoodie_record_key"))
      throw new IllegalStateException(
        s"$tablePath: no _hoodie_record_key — the feed has no record identity; refusing")
    val range = tl.instants.filter { case (i, _) => i > sinceInstant }
    if (range.isEmpty) throw new IllegalArgumentException(
      s"$tablePath: no instants after $sinceInstant")
    val cols = schema.fieldNames.toIndexedSeq
    val keyIdx = schema.fieldIndex("_hoodie_record_key")
    val legs = Seq.newBuilder[DataFrame]
    val logTasks = Seq.newBuilder[(String, String)] // (instant, absPath)
    range.foreach { case (instant, kind) =>
      val op = operationTypeOf(tl, instant, kind)
      if (op != "COMPACT" && op != "CLUSTER") {
        if (cdcInstants.contains(instant)) {
          // hoodie.table.cdc.enabled precedence: the instant's landed
          // pre/post images ARE its feed, served VERBATIM —
          // reconstruction would lose the pre-images and double-count
          legs += spark.read
            .parquet(s"$tablePath/.hoodie/cdc/$instant")
            .select((cols :+ "_change_type").map(col): _*)
            .withColumn("_commit_instant", lit(instant))
        } else {
          val writes = tl.writes(instant, kind)
          val bases = writes.filter(_.path.endsWith(".parquet"))
          if (bases.nonEmpty)
            legs += readPaths(tl, bases)
              .where(col("_hoodie_commit_time") === lit(instant))
              .select(cols.map(col): _*)
              .withColumn("_change_type", lit("upsert"))
              .withColumn("_commit_instant", lit(instant))
          writes.filterNot(_.path.endsWith(".parquet"))
            .foreach(w => logTasks += ((instant, s"$tablePath/${w.path}")))
        }
      }
    }
    val tasks = logTasks.result()
    if (tasks.nonEmpty) {
      import org.apache.spark.sql.types.{StringType, StructType, StructField}
      val outSchema = StructType(schema.fields.toIndexedSeq
        :+ StructField("_change_type", StringType)
        :+ StructField("_commit_instant", StringType))
      val bcConf = spark.sparkContext.broadcast(
        new DeltaDv.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
      val nFields = schema.size
      val schemaJson = schema.json
      legs += spark.createDataset(tasks)(
          Encoders.tuple(Encoders.STRING, Encoders.STRING))
        .repartition(math.max(1, math.min(tasks.size,
          spark.sparkContext.defaultParallelism)))
        .flatMap { case (instant, absPath) =>
          val target = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
            .asInstanceOf[StructType]
          HudiLog.read(bcConf.value.value, absPath).iterator.flatMap {
            case HudiLog.DataBlock(i, writerSchemaJson, records) if i == instant =>
              val writer = new org.apache.avro.Schema.Parser().parse(writerSchemaJson)
              records.iterator.map { bytes =>
                org.apache.spark.sql.Row.fromSeq(
                  HudiLog.decodeRow(bytes, writer, target).toSeq :+ "upsert" :+ instant)
              }
            case HudiLog.DeleteBlock(i, keys) if i == instant =>
              keys.iterator.map { k =>
                val vals = Array.fill[Any](nFields)(null)
                vals(keyIdx) = k
                org.apache.spark.sql.Row.fromSeq(vals.toIndexedSeq :+ "delete" :+ instant)
              }
            case _ => Iterator.empty
          }
        }(Encoders.row(outSchema))
        .toDF()
    }
    val parts = legs.result()
    if (parts.isEmpty) throw new IllegalArgumentException(
      s"$tablePath: instants after $sinceInstant carry no logical changes")
    parts.reduce(_.unionByName(_))
  }

  /** The COW change feed — serves ONLY landed cdc images (plus
    * INSERT commits' freshly-stamped base rows as `insert` images,
    * which carry full fidelity without pre-images): per instant,
    * `.hoodie/cdc/<instant>/` verbatim; an UPSERT instant WITHOUT
    * images predates cdc enablement and refuses loudly (its
    * pre-images are unrecoverable — COW rewrote the file groups).
    */
  private def cowChangeFeed(tl: HudiTimeline, sinceInstant: String,
      cdcInstants: Set[String]): DataFrame = {
    val (spark, tablePath) = (tl.spark, tl.tablePath)
    val range = tl.cow.filter { case (i, _) => i > sinceInstant }
    if (range.isEmpty) throw new IllegalArgumentException(
      s"$tablePath: no instants after $sinceInstant")
    val legs = Seq.newBuilder[DataFrame]
    range.foreach { case (instant, kind) =>
      val op = operationTypeOf(tl, instant, kind)
      if (op != "COMPACT" && op != "CLUSTER") {
        if (cdcInstants.contains(instant))
          legs += spark.read.parquet(s"$tablePath/.hoodie/cdc/$instant")
            .withColumn("_commit_instant", lit(instant))
        else if (op == "INSERT")
          legs += readPaths(tl, tl.writes(instant, kind))
            .where(col("_hoodie_commit_time") === lit(instant))
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_instant", lit(instant))
        else throw new IllegalStateException(
          s"$tablePath: instant $instant ($op) landed no cdc images — it predates " +
            "hoodie.table.cdc.enabled, and a COW feed cannot reconstruct pre-images " +
            "(the upsert rewrote the file groups); use incrementalSince for post-images")
      }
    }
    val parts = legs.result()
    if (parts.isEmpty) throw new IllegalArgumentException(
      s"$tablePath: instants after $sinceInstant carry no logical changes")
    parts.reduce(_.unionByName(_))
  }

  /** The file groups a POINT LOOKUP must scan for `keyValues`, plus
    * the scan itself: the record index maps each key to its file
    * group, and every group touched AFTER the index instant is added
    * (new/updated/clustered keys live there) — so the lookup reads
    * |matched groups| + |post-index touched groups| files, never the
    * table. No usable index → the full slice set (correct, unpruned).
    * Single-declared-key COW tables only; the key column's values
    * arrive raw and match through Hudi's `col:value` key form.
    */
  def pointLookupFiles(spark: SparkSession, tablePath: String,
      keyValues: Seq[Any], maxKeys: Int = 100000): Seq[SliceWrite] = {
    val tl = load(spark, tablePath)
    lookupFiles(tl, keyValues, pointLookupKey(tl, keyValues, maxKeys))
  }

  private def lookupFiles(tl: HudiTimeline, keyValues: Seq[Any],
      declared: String): Seq[SliceWrite] = {
    val slices = activeSlices(tl) // COW-only path
    recordIndexFids(tl, keyValues, declared) match {
      case None => slices
      case Some((fids, touched)) =>
        val candidate = slices.filter(s0 =>
          fids.contains(s0.fileId) || touched.contains(s0.fileId))
        if (candidate.nonEmpty) candidate
        // no group can hold the keys: scan ONE file with an always-
        // false pushdown just to keep the schema (footers, not rows)
        else slices.take(1)
    }
  }

  private def pointLookupKey(tl: HudiTimeline, keyValues: Seq[Any], maxKeys: Int): String = {
    require(keyValues.nonEmpty && keyValues.size <= maxKeys,
      s"${tl.tablePath}: point lookup takes 1..$maxKeys keys, got ${keyValues.size}")
    val declared = tl.properties.get("hoodie.table.recordkey.fields")
      .map(_.split(',').toIndexedSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
    require(declared.size == 1,
      s"${tl.tablePath}: point lookup needs exactly one declared record key, " +
        s"got ${declared.mkString(",")}")
    declared.head
  }

  /** The on-timeline DELTA generations of the record index after its
    * base generation `base` ([[HudiTableWriter.refreshRecordIndex]]),
    * ascending. */
  private[sources] def recordIndexDeltas(tl: HudiTimeline, base: String): IndexedSeq[String] =
    tl.entries("metadata/record_index").filter(_.endsWith(".delta"))
      .map(_.stripSuffix(".delta"))
      .filter(i => tl.onTimeline(i) && i > base).sorted.toIndexedSeq

  /** The file groups written by the instants after `after`. */
  private def touchedAfter(tl: HudiTimeline, after: String): Set[String] =
    tl.instants.filter(_._1 > after).flatMap { case (i, k) => tl.writes(i, k).map(_.fileId) }.toSet

  /** (matched file-group ids, post-index touched ids) through the
    * newest usable record-index generation chain — None when no
    * usable base generation exists (callers fall back to the full
    * set). Works on COW and MOR timelines alike (deltacommits count
    * as touches).
    */
  private def recordIndexFids(tl: HudiTimeline, keyValues: Seq[Any],
      declaredKey: String): Option[(Set[String], Set[String])] = {
    val dir = tl.metadataDir("record_index")
    // the index stores `_hoodie_record_key` VERBATIM. Graft stamps
    // Hudi's `field:value` form, but real SimpleKeyGenerator
    // single-key tables stamp the RAW value — probing only one form
    // would prune away the other's file group and silently return no
    // rows for keys that exist. Probe BOTH: a candidate superset is
    // harmless (pointLookup's final key filter is exact), a missed
    // group is wrong.
    val keyStrings = keyValues.flatMap(v => Seq(s"$declaredKey:$v", s"$v"))
    val base = tl.newestGeneration("record_index") match {
      case Some(b) => b
      case None =>
        // no graft parquet generations: a REAL Hudi metadata table's
        // record_index (HFile shards) answers instead — seeked, not
        // scanned ([[HudiMetadataTable.recordIndexProbe]]), with the
        // same matched+post-index-touched contract
        return HudiMetadataTable.recordIndexProbe(tl.spark, tl.tablePath, tl.onTimeline,
            keyStrings)
          .map { case (idxInstant, bindings) =>
            (bindings.values.toSet, touchedAfter(tl, idxInstant))
          }
    }
    // DELTA generations after the base: each re-enumerates the groups
    // its commits touched and names them in a `_covered` sidecar. A
    // delta missing its sidecar is incomplete — it AND everything after
    // it are ignored (the touched-set fallback below covers their
    // instants exactly as if the refresh never ran).
    val coveredBy: IndexedSeq[(String, Set[String])] = recordIndexDeltas(tl, base)
      .takeWhile(i => tl.fs.exists(new Path(dir, s"$i.delta/_covered")))
      .map { i =>
        val cov = HudiTimeline.readText(tl.fs, new Path(dir, s"$i.delta/_covered"))
          .linesIterator.map(_.trim).filter(_.nonEmpty).toSet
        (i, cov)
      }
    val pick = (base +: coveredBy.map(_._1)).max
    // every generation is key-range-clustered, so each IN-filter
    // prunes to a couple of files via footer bounds; |keys| rows per
    // generation come back — newest binding per key wins, and a
    // binding is DEAD once a newer delta re-enumerated its group
    // without re-asserting it (deleted or moved key)
    val genPaths = (new Path(dir, base).toString, base) +:
      coveredBy.map { case (i, _) => (new Path(dir, s"$i.delta").toString, i) }
    val cand = genPaths.map { case (p, gen) =>
      tl.spark.read.parquet(p)
        .where(col("key").isin(keyStrings: _*))
        .select(col("key"), col("fileId"), lit(gen).as("gen"))
    }.reduce(_.unionByName(_)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val fids = cand.groupBy(_._1).values.map(_.maxBy(_._3)).collect {
      case (_, fid, gen)
        if !coveredBy.exists { case (i, cov) => i > gen && cov.contains(fid) } => fid
    }.toSet
    // groups written after the index head: new keys, rewritten
    // groups, clustering targets — all candidates on top of the
    // index's answer
    Some((fids, touchedAfter(tl, pick)))
  }

  /** Point lookup THROUGH the record index: scan only the matched +
    * post-index-touched file groups, then the exact key filter. MOR
    * tables serve the REAL-TIME merge of the matched groups only
    * (log-aware builds index log inserts; tombstoned keys dropped at
    * build never resurrect). */
  def pointLookup(spark: SparkSession, tablePath: String,
      keyValues: Seq[Any], maxKeys: Int = 100000): DataFrame = {
    val tl = load(spark, tablePath)
    val declared = pointLookupKey(tl, keyValues, maxKeys)
    val rows =
      if (tl.isMor) {
        val groups = morGroups(tl)
        realtimeOf(tl, recordIndexFids(tl, keyValues, declared) match {
          case None => groups
          case Some((fids, touched)) =>
            val cand = groups.filter(g =>
              fids.contains(g.fileId) || touched.contains(g.fileId))
            if (cand.nonEmpty) cand else groups.take(1)
        })
      } else readPaths(tl, lookupFiles(tl, keyValues, declared))
    rows.where(col(declared).isin(keyValues: _*))
  }

  /** Snapshot read with STATS-BASED FILE SKIPPING — the Hudi leg of
    * the triad beside Delta add.stats and Iceberg manifest bounds:
    * the newest `.hoodie/metadata/col_stats/<instant>.parquet` index
    * ([[HudiTableWriter.writeColStatsIndex]]) records per-file
    * min/max, and files whose recorded range provably misses
    * `[lo, hi]` on `column` never reach the scan. Files ABSENT from
    * the index (written after it, or never indexed) are
    * conservatively KEPT — skipping prunes I/O, never semantics; an
    * index whose instant left the timeline is ignored entirely.
    * Rows still need the caller's residual filter (the cut is
    * file-level). MOR tables prune by file group
    * ([[morSnapshotSkipping]]).
    */
  def snapshotSkipping(spark: SparkSession, tablePath: String,
      column: String, lo: Double, hi: Double): DataFrame =
    snapshotSkipping(load(spark, tablePath), column, lo, hi)

  private def snapshotSkipping(tl: HudiTimeline, column: String, lo: Double,
      hi: Double): DataFrame = {
    if (tl.isMor) return morSnapshotSkipping(tl, column, lo, hi)
    val slices = activeSlices(tl) // COW path
    val kept = colStatsMisses(tl, column, lo, hi) match {
      case Some((_, misses)) => slices.filterNot(s0 => misses.contains(s0.path))
      // a REAL Hudi metadata table's column_stats partition prunes when
      // graft's own parquet index is absent — file-name-keyed ranges,
      // provable misses drop, files absent from the index (post-index
      // writes, non-indexed columns) keep conservatively
      case None =>
        HudiMetadataTable.colStatsListing(tl.spark, tl.tablePath, tl.onTimeline) match {
          case None => slices
          case Some((_, stats)) =>
            val misses = stats.filter(_.column == column).flatMap(cs =>
              for { mn <- cs.min; mx <- cs.max if mn > hi || mx < lo }
                yield cs.fileName).toSet
            slices.filterNot(s0 =>
              misses.contains(s0.path.substring(s0.path.lastIndexOf('/') + 1)))
        }
    }
    if (kept.isEmpty) throw new IllegalArgumentException(
      s"${tl.tablePath}: every file provably misses [$lo, $hi] on $column — empty result " +
        "(read the snapshot if you wanted the unfiltered table)")
    readPaths(tl, kept)
  }

  /** The newest usable col-stats generation and the `_g_file` keys
    * whose recorded range on `column` provably misses `[lo, hi]`
    * (|files| driver metadata; none when the index does not carry
    * the column). None without a usable index. */
  private def colStatsMisses(tl: HudiTimeline, column: String, lo: Double,
      hi: Double): Option[(String, Set[String])] =
    tl.newestGeneration("col_stats").map { pick =>
      val idx = tl.spark.read.parquet(new Path(tl.metadataDir("col_stats"), s"$pick.parquet").toString)
      val mnC = s"min_$column"; val mxC = s"max_$column"
      if (!idx.columns.contains(mnC)) (pick, Set.empty[String])
      else {
        def num(v: Any): Option[Double] = v match {
          case n: java.lang.Number => Some(n.doubleValue())
          case _ => None
        }
        (pick, idx.select("_g_file", mnC, mxC).collect().flatMap { r =>
          val out = for {
            mn <- Option(r.get(1)).flatMap(num)
            mx <- Option(r.get(2)).flatMap(num)
          } yield mn > hi || mx < lo
          out.filter(identity).map(_ => r.getString(0))
        }.toSet)
      }
    }

  /** MOR skipping: the prune unit is the file GROUP (the index rows
    * key `_g_file` by group id — [[HudiTableWriter.writeColStatsIndex]]'s
    * log-aware build), and the kept groups serve through the REAL-TIME
    * merge. Groups with ANY activity after the index instant keep
    * conservatively — their indexed range is stale (a log block may
    * have widened it), and pruning on stale stats would lose rows.
    */
  private def morSnapshotSkipping(tl: HudiTimeline, column: String, lo: Double,
      hi: Double): DataFrame = {
    val groups = morGroups(tl)
    val kept = colStatsMisses(tl, column, lo, hi) match {
      case None => groups
      case Some((pick, misses)) =>
        groups.filter { g =>
          val newest = (g.base.map(_.instant) ++ g.logs.map(_._1)).max
          newest > pick || !misses.contains(g.fileId)
        }
    }
    if (kept.isEmpty) throw new IllegalArgumentException(
      s"${tl.tablePath}: every group provably misses [$lo, $hi] on $column — empty result " +
        "(read the snapshot if you wanted the unfiltered table)")
    realtimeOf(tl, kept)
  }

  /** The skipping plan's file count — what specs and queries prove
    * the cut with (metadata only, no data I/O). */
  def skippingPlanFiles(spark: SparkSession, tablePath: String,
      column: String, lo: Double, hi: Double): Int = {
    // same resolution as snapshotSkipping, counting instead of reading
    val tl = load(spark, tablePath)
    val before = activeSlices(tl).size
    val df = snapshotSkipping(tl, column, lo, hi)
    math.min(before, df.inputFiles.length)
  }

  /** Incremental pull: records inserted/updated by commits AFTER
    * `sinceInstant` — on COW, the latest slices of the file groups
    * those commits touched, rows filtered to
    * `_hoodie_commit_time > sinceInstant` (carried-forward rows keep
    * their original stamp and drop out); MOR tables dispatch to
    * [[morIncrementalSince]] (touched-group merge, same stamp
    * filter). Refuses loudly when nothing committed after the
    * checkpoint.
    */
  def incrementalSince(spark: SparkSession, tablePath: String, sinceInstant: String): DataFrame = {
    val tl = load(spark, tablePath)
    if (tl.isMor) return morIncrementalSince(tl, sinceInstant)
    // archived instants replay like active ones, so a checkpoint
    // older than the archival horizon still prunes to touched groups
    val timeline = tl.cow
    val newer = timeline.collect { case (i, "commit") if i > sinceInstant => i }
    if (!timeline.exists(_._1 > sinceInstant))
      throw new IllegalArgumentException(
        s"$tablePath: no commits after $sinceInstant " +
          s"(latest: ${timeline.lastOption.map(_._1).getOrElse("none")})")
    // a clustering replacecommit after the checkpoint REWIRES file
    // groups (touched ids may no longer exist — their rows moved into
    // clustered groups with their stamps preserved), so the per-group
    // pruning can't be trusted across it: scan all active slices and
    // let the stamp filter isolate the pulled rows — correct, just
    // less pruned, and Hudi's own incremental reader does the same.
    // A replacecommit-ONLY tail is the same scan and yields zero rows
    // (clustering preserves stamps), the correct answer — not an
    // error.
    val clusteredAfter = timeline
      .exists(i => i._2 == "replacecommit" && i._1 > sinceInstant)
    val active = activeSlices(tl)
    val slices =
      if (clusteredAfter || newer.isEmpty) active
      else {
        val touched = newer.flatMap(i => tl.writes(i, "commit").map(_.fileId)).toSet
        active.filter(s => touched.contains(s.fileId))
      }
    readPaths(tl, slices)
      .filter(col("_hoodie_commit_time") > lit(sinceInstant))
  }
}
