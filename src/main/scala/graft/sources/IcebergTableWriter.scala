package graft.sources

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

import IcebergMetadata.SchemaState
import IcebergTransforms.PartitionField

/** APPEND-ONLY writer for Apache Iceberg v2 tables readable by
  * external engines — the third leg of the writer-side interop
  * surface beside [[DeltaTableWriter]] and [[HudiTableWriter]],
  * implemented from the PUBLIC Iceberg table spec the reader is
  * locked against (iceberg.apache.org/spec):
  *
  *  - data parquet lands under `data/` with UUID names — identity
  *    PARTITION columns stay IN the data files (Iceberg does not
  *    strip them) while their values are recorded on each manifest
  *    entry's `partition` struct, which is what lets readers prune
  *    at the manifest level without touching data;
  *  - each commit writes ONE Avro manifest of `status=added` entries
  *    (real per-file `record_count` counted as each file is written,
  *    per-entry `sequence_number` for v2 delete scoping), a manifest
  *    LIST that reuses every previous manifest plus the new one (the
  *    manifest-reuse shape real writers produce, what makes
  *    incremental readers filter on `added_snapshot_id`), and a new
  *    `vN.metadata.json` carrying the snapshot log with parent links,
  *    the table `schemas` (field ids — what equality deletes resolve
  *    against) and the identity `partition-specs`;
  *  - commit publication is [[IcebergMetadata.commit]], an
  *    exclusive-create CAS on `vN.metadata.json` — the
  *    filesystem-catalog protocol (the racer that lost reloads and
  *    retries at N+1).
  *
  * Scale shape: the data write is distributed and lands through the
  * task-side landing every format shares ([[FileLanding]]): each
  * write task creates its files at their final paths and reads each
  * footer it just wrote for the file's bounds, so no file is staged,
  * renamed or reopened on the driver (a failed write's landed files
  * are orphans [[removeOrphanFiles]] reclaims). Manifest/metadata
  * writes are driver metadata bounded by |files this commit| and
  * |snapshots|. Beyond appends: [[delete]] writes v2 position-delete
  * files (distributed, no driver bitmaps), [[upsert]] is the
  * Flink-CDC shape (equality-delete + data files in ONE snapshot,
  * O(batch) — never scans the table), [[setRef]] pins branches/tags,
  * [[rewriteDataFiles]] / [[expireSnapshots]] are the table services
  * (expiry refuses past a pinning ref), and
  * [[publishMetadataOnly]] lands UniForm-style metadata over foreign
  * data files. Manifests carry footer-true record counts AND
  * per-field bounds — the stats readers file-skip on.
  */
object IcebergTableWriter {

  val MaxCommitAttempts: Int = 20

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private val listSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long","default":0},
      |{"name":"added_snapshot_id","type":["null","long"],"default":null},
      |{"name":"content","type":"int","default":0},
      |{"name":"sequence_number","type":["null","long"],"default":null}]}"""
      .stripMargin)

  /** Manifest-entry schema; partitioned tables extend `data_file`
    * with a `partition` record of the table's identity fields, and
    * equality-delete manifests with the spec's `equality_ids` list.
    */
  private def entrySchemaFor(pfields: Seq[PartitionField],
      withEqualityIds: Boolean = false,
      withBounds: Boolean = false,
      withSortOrder: Boolean = false): Schema = {
    val partField =
      if (pfields.isEmpty) ""
      else {
        // int-resulting transforms (bucket, year/month/day/hour) type
        // their partition values as the spec's int; identity/truncate
        // keep the writer's string convention
        val fields = pfields.map { f =>
          val t = if (IcebergTransforms.intResult(f.transform)) "int" else "string"
          s"""{"name":"${f.resultName}","type":["null","$t"],"default":null}"""
        }.mkString(",")
        s""",{"name":"partition","type":["null",{"type":"record","name":"r102",""" +
          s""""fields":[$fields]}],"default":null}"""
      }
    val eqField =
      if (!withEqualityIds) ""
      else """,{"name":"equality_ids","type":["null",{"type":"array","items":"int"}],""" +
        """"default":null}"""
    val kvArray = """{"type":"array","items":{"type":"record","name":"%s",""" +
      """"fields":[{"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}"""
    val boundsField =
      if (!withBounds) ""
      else s""",{"name":"lower_bounds","type":["null",${kvArray.format("k126")}],""" +
        s""""default":null},{"name":"upper_bounds","type":["null",${kvArray.format("k127")}],""" +
        s""""default":null}"""
    // the spec's data_file.sort_order_id (optional int, field 140):
    // which declared sort order the file's rows were written under
    val sortField =
      if (!withSortOrder) ""
      else """,{"name":"sort_order_id","type":["null","int"],"default":null}"""
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |{"name":"status","type":"int"},
         |{"name":"snapshot_id","type":["null","long"],"default":null},
         |{"name":"sequence_number","type":["null","long"],"default":null},
         |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
         |  {"name":"content","type":"int","default":0},
         |  {"name":"file_path","type":"string"},
         |  {"name":"file_format","type":"string","default":"PARQUET"},
         |  {"name":"record_count","type":"long","default":0}$partField$eqField$boundsField$sortField]}}]}"""
        .stripMargin)
  }

  private def writeAvro(conf: org.apache.hadoop.conf.Configuration, path: Path,
      schema: Schema, records: Seq[GenericRecord]): Unit = {
    val fs = path.getFileSystem(conf)
    val out = fs.create(path, true)
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, out)
    try records.foreach(w.append) finally w.close()
  }

  /** One landed data file: relative path, footer record count,
    * identity-partition values (null value = null partition), and
    * per-field-id column bounds (Iceberg single-value-serialized
    * min/max from the parquet footers — the spec's
    * lower_bounds/upper_bounds, what engines file-skip on).
    */
  private final case class Landed(rel: String, count: Long,
      partition: Map[String, Option[String]],
      lowerBounds: Map[Int, Array[Byte]] = Map.empty,
      upperBounds: Map[Int, Array[Byte]] = Map.empty)

  /** Iceberg single-value serialization (spec Appendix D) for the
    * bound types this writer records: int → 4-byte LE, long/double →
    * 8-byte LE, string → UTF-8 bytes. Other types record no bounds
    * (readers keep their files conservatively).
    */
  private def serializeBound(v: Any): Option[Array[Byte]] = v match {
    case i: java.lang.Integer =>
      Some(java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(i).array())
    case l: java.lang.Long =>
      Some(java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(l).array())
    case d: java.lang.Double =>
      Some(java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(d).array())
    case b: org.apache.parquet.io.api.Binary => Some(b.getBytes)
    case _ => None
  }

  /** Column min/max per FIELD ID from a landed file's footer row
    * groups, read by the write task that landed the file. Field ids
    * follow this writer's schema convention (position + 1 over the
    * table columns). Columns whose stats are absent in ANY row group
    * record no bounds (conservative).
    */
  private[sources] def footerBounds(footer: org.apache.parquet.hadoop.ParquetFileReader,
      fieldIdOf: Map[String, Int]): (Map[Int, Array[Byte]], Map[Int, Array[Byte]]) = {
    import scala.jdk.CollectionConverters._
    val lower = scala.collection.mutable.Map.empty[Int, Any]
    val upper = scala.collection.mutable.Map.empty[Int, Any]
    val dropped = scala.collection.mutable.Set.empty[Int]
    footer.getFooter.getBlocks.asScala.foreach { block =>
      block.getColumns.asScala.foreach { cc =>
        val path = cc.getPath.toDotString
        fieldIdOf.get(path).filterNot(dropped.contains).foreach { fid =>
          val st = cc.getStatistics
          // DECIMAL columns record no bounds: their footer stats come
          // back as raw unscaled ints or binaries whose serialization
          // does not match the spec's decimal single-value form — a
          // mis-serialized bound could make an external engine
          // mis-prune; bound-less is conservatively correct everywhere
          val isDecimal = cc.getPrimitiveType.getLogicalTypeAnnotation
            .isInstanceOf[org.apache.parquet.schema.LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
          if (isDecimal || st == null || st.isEmpty || !st.hasNonNullValue) {
            dropped += fid; lower.remove(fid); upper.remove(fid): Unit
          } else {
            val mn = st.genericGetMin; val mx = st.genericGetMax
            def lt(a: Any, b: Any): Boolean = (a, b) match {
              case (x: java.lang.Integer, y: java.lang.Integer) => x < y
              case (x: java.lang.Long, y: java.lang.Long) => x < y
              case (x: java.lang.Double, y: java.lang.Double) => x < y
              case (x: org.apache.parquet.io.api.Binary,
                  y: org.apache.parquet.io.api.Binary) => x.compareTo(y) < 0
              case _ => false
            }
            lower(fid) = lower.get(fid).filter(lt(_, mn)).getOrElse(mn)
            upper(fid) = upper.get(fid).filter(v => lt(mx, v)).getOrElse(mx)
          }
        }
      }
    }
    (lower.toMap.flatMap { case (k, v) => serializeBound(v).map(k -> _) },
      upper.toMap.flatMap { case (k, v) => serializeBound(v).map(k -> _) })
  }

  private def decodeHive(raw: String): Option[String] = {
    val v = java.net.URLDecoder.decode(raw.replace("+", "%2B"), "UTF-8")
    if (v == "__HIVE_DEFAULT_PARTITION__") None else Some(v)
  }

  /** Land `df` as data files under `data/`, one per (write task,
    * partition value) ([[FileLanding]]). Partition columns stay IN the
    * files (Iceberg-style); each partition value is derived through
    * its transform and carried to the manifest by the file's group.
    * Each file carries parquet field ids, and its write task reads the
    * footer it just wrote for the file's column bounds.
    */
  private def writeDataFiles(df: DataFrame, m: IcebergMetadata,
      pfields: Seq[PartitionField]): Seq[Landed] = {
    val (spark, tablePath) = (df.sparkSession, m.tablePath)
    // field ids must match what the metadata commit will declare —
    // existing columns keep their current ids, new ones take fresh
    // ids — so bounds resolve at read time even after evolution
    val fieldIds: Map[String, Int] = plannedFieldIds(m, df.schema)
    // stamp PARQUET FIELD IDS into the landed files (what real
    // engines do): columns bind to ids, so a later RENAME is a pure
    // metadata commit and the reader's id resolution serves old files
    // under the new name
    val withIds = FileLanding.onWriteTasks(df).select(df.columns.toIndexedSeq.map { c =>
      val md = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", fieldIds(c).toLong).build()
      org.apache.spark.sql.functions.col(c).as(c, md)
    }: _*)
    // each partition value is DERIVED through its transform (identity
    // passes the column through)
    val values = pfields.map(f =>
      f.resultName -> IcebergTransforms.column(f, df.schema(f.sourceCol).dataType))
    val placed =
      if (pfields.isEmpty) withIds
      // co-locate each partition value into ONE task: without this
      // every task writes a file for every value it holds —
      // task×|values| small files, superlinear file counts on
      // days()/bucket() layouts (one shuffle buys one file per
      // partition value per commit, the 100 TB-sane shape).
      // EXPLICIT partition count: a keyed repartition without one is
      // fair game for AQE partition coalescing, which merges a small
      // commit into ONE task that then writes every partition value's
      // file SERIALLY (measured: 2.5 s/commit on a 181-day layout vs
      // 0.5 s spread over session parallelism); the explicit count
      // keeps file-per-value (each value still hashes to exactly one
      // task) while the file writes run in parallel.
      else withIds.repartition(spark.sessionState.conf.numShufflePartitions,
        values.map(_._2): _*)
    val files = FileLanding.landPerTask(
      placed.withColumn("_g_part", FileLanding.partitionDirOf(values)), tablePath,
      pfields.nonEmpty, (_, _, _) => s"data/${java.util.UUID.randomUUID()}.parquet",
      Some { (conf: org.apache.hadoop.conf.Configuration, p: Path) =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
        try footerBounds(r, fieldIds) finally r.close()
      })
    if (files.isEmpty) throw new IllegalArgumentException(
      s"$tablePath: the DataFrame wrote no data files (empty input?)")
    files.map { f =>
      val partition = f.part.split('/').toSeq.filter(_.nonEmpty).map { seg =>
        val i = seg.indexOf('=')
        seg.substring(0, i) -> decodeHive(seg.substring(i + 1))
      }.toMap
      val (lo, hi) = f.stats.getOrElse((Map.empty[Int, Array[Byte]], Map.empty[Int, Array[Byte]]))
      Landed(f.rel, f.rows, partition, lo, hi)
    }
  }

  /** One v3 DELETION-VECTOR manifest row: the puffin file, the blob
    * location inside it, the single data file it masks, and the
    * snapshot/sequence stamps (explicit — graft never relies on
    * list-inheritance for its own entries).
    */
  private[sources] final case class DvManifestRow(puffinRel: String,
      referencedDataFile: String, offset: Long, size: Long, cardinality: Long,
      snapshotId: Long, sequence: Long)

  private val dvEntrySchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":["null","long"],"default":null},
      |{"name":"sequence_number","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |  {"name":"content","type":"int","default":0},
      |  {"name":"file_path","type":"string"},
      |  {"name":"file_format","type":"string","default":"PUFFIN"},
      |  {"name":"record_count","type":"long","default":0},
      |  {"name":"referenced_data_file","type":["null","string"],"default":null},
      |  {"name":"content_offset","type":["null","long"],"default":null},
      |  {"name":"content_size_in_bytes","type":["null","long"],"default":null}]}}]}"""
      .stripMargin)

  /** Write a deletes manifest of v3 DV entries (content=1, PUFFIN
    * file format, blob refs per the spec); returns the manifest's
    * table-relative path. Used for new DV commits AND for rewriting a
    * prior DV manifest minus its superseded entries.
    */
  private def writeDvManifest(conf: org.apache.hadoop.conf.Configuration,
      tablePath: String, rows: Seq[DvManifestRow]): String = {
    require(rows.nonEmpty, s"$tablePath: a DV manifest needs at least one entry")
    val rel = s"metadata/m-${rows.head.snapshotId}-${java.util.UUID.randomUUID()}.avro"
    val dfSchema = dvEntrySchema.getField("data_file").schema()
    val records = rows.map { r0 =>
      val dfr = new GenericData.Record(dfSchema)
      dfr.put("content", 1); dfr.put("file_path", r0.puffinRel)
      dfr.put("file_format", "PUFFIN"); dfr.put("record_count", r0.cardinality)
      dfr.put("referenced_data_file", r0.referencedDataFile)
      dfr.put("content_offset", java.lang.Long.valueOf(r0.offset))
      dfr.put("content_size_in_bytes", java.lang.Long.valueOf(r0.size))
      val r = new GenericData.Record(dvEntrySchema)
      r.put("status", 1); r.put("snapshot_id", r0.snapshotId)
      r.put("sequence_number", r0.sequence); r.put("data_file", dfr)
      r
    }
    writeAvro(conf, new Path(tablePath, rel), dvEntrySchema, records)
    rel
  }

  private def manifestOf(conf: org.apache.hadoop.conf.Configuration, tablePath: String,
      snapshotId: Long, sequence: Long, files: Seq[Landed],
      pfields: Seq[PartitionField], content: Int = 0,
      equalityIds: Seq[Int] = Nil,
      sortOrderId: Option[Int] = None): String = {
    val rel = s"metadata/m-$snapshotId-${java.util.UUID.randomUUID()}.avro"
    val withBounds = files.exists(f => f.lowerBounds.nonEmpty || f.upperBounds.nonEmpty)
    val entrySchema = entrySchemaFor(pfields,
      withEqualityIds = equalityIds.nonEmpty, withBounds = withBounds,
      withSortOrder = sortOrderId.nonEmpty)
    val dfSchema = entrySchema.getField("data_file").schema()
    def kvRecords(fieldName: String, m: Map[Int, Array[Byte]]): java.util.List[GenericRecord] = {
      val arrSchema = dfSchema.getField(fieldName).schema().getTypes.get(1)
      val itemSchema = arrSchema.getElementType
      val out = new java.util.ArrayList[GenericRecord](m.size)
      m.toSeq.sortBy(_._1).foreach { case (k, v) =>
        val r = new GenericData.Record(itemSchema)
        r.put("key", k); r.put("value", java.nio.ByteBuffer.wrap(v))
        out.add(r)
      }
      out
    }
    val records = files.map { f =>
      val dfr = new GenericData.Record(dfSchema)
      dfr.put("content", content); dfr.put("file_path", f.rel)
      if (withBounds && (f.lowerBounds.nonEmpty || f.upperBounds.nonEmpty)) {
        dfr.put("lower_bounds", kvRecords("lower_bounds", f.lowerBounds))
        dfr.put("upper_bounds", kvRecords("upper_bounds", f.upperBounds))
      }
      dfr.put("file_format", "PARQUET"); dfr.put("record_count", f.count)
      sortOrderId.foreach(id => dfr.put("sort_order_id", Integer.valueOf(id)))
      if (equalityIds.nonEmpty) {
        import scala.jdk.CollectionConverters._
        dfr.put("equality_ids", equalityIds.map(Integer.valueOf).asJava)
      }
      if (pfields.nonEmpty) {
        val pType = dfSchema.getField("partition").schema().getTypes.get(1)
        val p = new GenericData.Record(pType)
        pfields.foreach { pf =>
          val raw = f.partition.getOrElse(pf.resultName, None)
          val v: AnyRef =
            if (IcebergTransforms.intResult(pf.transform))
              raw.map(x => Integer.valueOf(x.trim.toInt)).orNull
            else raw.orNull
          p.put(pf.resultName, v)
        }
        dfr.put("partition", p)
      }
      val r = new GenericData.Record(entrySchema)
      r.put("status", 1); r.put("snapshot_id", snapshotId)
      r.put("sequence_number", sequence); r.put("data_file", dfr)
      r
    }
    writeAvro(conf, new Path(tablePath, rel), entrySchema, records)
    rel
  }

  private def snapshotJson(id: Long, parent: Option[Long], seq: Long,
      listRel: String, timestampMs: Long, operation: String,
      extraSummary: Map[String, String] = Map.empty): String = {
    val p = parent.map(v => s""""parent-snapshot-id":$v,""").getOrElse("")
    def jq(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val extras = extraSummary.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jq(k)}:${jq(v)}" }
      .map("," + _).mkString
    s"""{"snapshot-id":$id,$p"sequence-number":$seq,""" +
      s""""timestamp-ms":$timestampMs,""" +
      s""""summary":{"operation":"$operation"$extras},"manifest-list":"$listRel"}"""
  }

  /** Iceberg type name for a Spark type (the subset graft tables
    * carry) — what the metadata `schemas` declare, field ids included.
    */
  private def icebergTypeOf(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => "long"
      case IntegerType => "int"
      case DoubleType => "double"
      case FloatType => "float"
      case BooleanType => "boolean"
      case StringType => "string"
      case BinaryType => "binary"
      case DateType => "date"
      case TimestampType => "timestamptz"
      case TimestampNTZType => "timestamp"
      // faithful precision/scale (iceberg spec primitive form; the
      // java library's own toString shape) — collapsing to a fixed
      // decimal(38,18) would lie to every engine reading the metadata
      // and break the declared-schema scan against the files' real
      // physical type
      case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
      case other => throw new IllegalArgumentException(
        s"Spark type $other has no Iceberg metadata mapping in this writer; refusing")
    }
  }

  /** Iceberg type JSON for a Spark type — a quoted primitive name, or
    * the spec's nested object form (struct fields / list element /
    * map key+value each carry their own UNIQUE field id, minted from
    * `nextId`). Inner ids live only in the metadata; graft stamps
    * parquet field ids on TOP-LEVEL columns (what its readers
    * resolve), and nested columns read by name.
    */
  private def icebergTypeJson(dt: org.apache.spark.sql.types.DataType,
      nextId: () => Int): String = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType =>
        val fs = st.fields.map { f =>
          val id = nextId()
          s"""{"id":$id,"name":"${f.name}","required":false,""" +
            s""""type":${icebergTypeJson(f.dataType, nextId)}}"""
        }.mkString(",")
        s"""{"type":"struct","fields":[$fs]}"""
      case at: ArrayType =>
        val eid = nextId()
        s"""{"type":"list","element-id":$eid,""" +
          s""""element":${icebergTypeJson(at.elementType, nextId)},""" +
          s""""element-required":false}"""
      case mt: MapType =>
        val kid = nextId()
        val kJson = icebergTypeJson(mt.keyType, nextId)
        val vid = nextId()
        s"""{"type":"map","key-id":$kid,"key":$kJson,""" +
          s""""value-id":$vid,"value":${icebergTypeJson(mt.valueType, nextId)},""" +
          s""""value-required":false}"""
      case other => "\"" + icebergTypeOf(other) + "\""
    }
  }

  private def schemasJson(schema: org.apache.spark.sql.types.StructType): String = {
    // top-level ids 1..n (what landed files stamp); nested inner ids
    // mint AFTER them so every field id in the schema is unique
    var innerId = schema.fields.length
    val nextId = () => { innerId += 1; innerId }
    val fields = schema.fields.zipWithIndex.map { case (f, i) =>
      s"""{"id":${i + 1},"name":"${f.name}","required":false,""" +
        s""""type":${icebergTypeJson(f.dataType, nextId)}}"""
    }.mkString(",")
    s""""schemas":[{"schema-id":0,"type":"struct","fields":[$fields]}],""" +
      s""""current-schema-id":0"""
  }

  /** Resolve a commit's sort-order metadata (iceberg.apache.org spec
    * "Sort Orders": table metadata declares `sort-orders` +
    * `default-sort-order-id`; data files record which declared order
    * they were written under). Existing nodes carry verbatim; a
    * commit whose files were written sorted by `sortedBy` (identity
    * asc, nulls-first) reuses the existing order with those exact
    * fields or appends a fresh node past the max order-id and makes
    * it the default. Returns (nodes, default-id, id-to-stamp).
    */
  private def resolveSortOrders(m: IcebergMetadata,
      schema: org.apache.spark.sql.types.StructType,
      sortedBy: Seq[String]): (Seq[String], Int, Option[Int]) = {
    val prior = m.sortOrders
    // order-id 0 is the spec's reserved "unsorted" order
    val baseNodes = prior.map(_._1).getOrElse(Seq("""{"order-id":0,"fields":[]}"""))
    val baseDefault = prior.map(_._2).getOrElse(0)
    if (sortedBy.isEmpty) return (baseNodes, baseDefault, None)
    val ids = plannedFieldIds(m, schema)
    val wantFields = sortedBy.map { c =>
      val sid = ids.getOrElse(c, throw new IllegalArgumentException(
        s"${m.tablePath}: sort column $c is not in the commit schema"))
      s"""{"transform":"identity","source-id":$sid,"direction":"asc",""" +
        """"null-order":"nulls-first"}"""
    }
    val wantJson = mapper.readTree(s"[${wantFields.mkString(",")}]")
    val existing = baseNodes.flatMap { raw =>
      val n = mapper.readTree(raw)
      if (n.get("fields") == wantJson)
        Option(n.get("order-id")).map(_.asInt())
      else None
    }.headOption
    existing match {
      case Some(id) => (baseNodes, id, Some(id))
      case None =>
        val maxId = baseNodes.map(raw =>
          Option(mapper.readTree(raw).get("order-id")).map(_.asInt()).getOrElse(0)).max
        val newId = maxId + 1
        val node =
          s"""{"order-id":$newId,"fields":[${wantFields.mkString(",")}]}"""
        (baseNodes :+ node, newId, Some(newId))
    }
  }

  /** Range-cluster `df` on `sortBy` with an EXPLICIT partition count
    * (an unsized range shuffle is fair game for AQE coalescing, which
    * would merge the slices into key-space-wide files that prune
    * nothing); in-partition sort keeps per-file bounds tight.
    */
  private def sortFrame(df: DataFrame, sortBy: Seq[String]): DataFrame =
    if (sortBy.isEmpty) df
    else {
      val cs = sortBy.map(org.apache.spark.sql.functions.col)
      val n = df.sparkSession.sessionState.conf.numShufflePartitions
      df.repartitionByRange(n, cs: _*).sortWithinPartitions(cs: _*)
    }

  /** Field ids the commit writing `schema` will declare: existing
    * columns keep their CURRENT ids verbatim, new columns take fresh
    * ids past the global max (the spec's evolution rule); a fresh
    * table numbers by position. Shared by the data write (bounds key
    * on these ids) and the metadata commit — the two must agree.
    */
  private def plannedFieldIds(m: IcebergMetadata,
      schema: org.apache.spark.sql.types.StructType): Map[String, Int] =
    m.schemaState match {
      case None =>
        schema.fieldNames.zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap
      case Some(st) =>
        var nid = st.maxFieldId
        val existing = st.nameToId
        schema.fieldNames.map { n =>
          existing.get(n) match {
            case Some(id) => n -> id
            case None => nid += 1; n -> nid
          }
        }.toMap
    }

  /** The `schemas` + `current-schema-id` metadata fragment for a
    * commit writing `schema`, plus the name→field-id map it declares.
    * Unchanged column sets carry the existing schemas VERBATIM; an
    * additive superset appends a NEW schema node (existing field
    * nodes verbatim, new nullable fields with fresh ids) and bumps
    * current-schema-id — iceberg.apache.org spec "Schema Evolution".
    * A batch MISSING declared columns throws (drops are rewrite-grade
    * migrations, not metadata commits).
    */
  /** The spec's legal TYPE PROMOTIONS (iceberg.apache.org spec,
    * Schema Evolution — "Valid type promotions"): int→long,
    * float→double, decimal(P,S)→decimal(P',S) with P'>P. These are
    * METADATA-ONLY: old files keep their narrow physical type and
    * readers widen at scan (Spark 4's vectorized parquet reader
    * performs exactly these widening conversions). Everything else is
    * a rewrite-grade migration and keeps refusing.
    */
  private[sources] def legalPromotion(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) => t.scale == f.scale && t.precision > f.precision
      case _ => false
    }
  }

  /** Promotion on the metadata's OWN primitive type strings (decimal
    * grammar shared with the reader — [[IcebergTableReader.DecimalRe]]). */
  private def legalJsonPromotion(decl: String, tgt: String): Boolean = {
    val Dec = IcebergMetadata.DecimalRe
    (decl, tgt) match {
      case ("int", "long") => true
      case ("float", "double") => true
      case (Dec(p1, s1), Dec(p2, s2)) => s1 == s2 && p2.toInt > p1.toInt
      case _ => false
    }
  }

  /** Existing field nodes with any LEGAL type promotions toward
    * `schema` applied (field ids and names verbatim, only the
    * primitive type string swaps); non-promotion differences stay
    * verbatim — the append-level Spark-type check is the guard
    * against illegal changes, and exotic round-trip mismatches
    * (uuid↔string, timestamptz) must not churn schema nodes.
    */
  private def promotedFieldNodes(st: SchemaState,
      schema: org.apache.spark.sql.types.StructType): (Seq[String], Boolean) = {
    var any = false
    val nodes = st.fields.map { case (id, name, raw) =>
      val tgt = schema.find(_.name == name).flatMap(f =>
        scala.util.Try(icebergTypeOf(f.dataType)).toOption)
      val node = mapper.readTree(raw)
      val declT = Option(node.get("type")).filter(_.isTextual).map(_.asText())
      (declT, tgt) match {
        case (Some(d), Some(t)) if d.replace(" ", "") != t.replace(" ", "") &&
            legalJsonPromotion(d.replace(" ", ""), t.replace(" ", "")) =>
          any = true
          val obj = node.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          obj.put("type", t): Unit
          obj.toString
        case _ => raw
      }
    }
    (nodes, any)
  }

  private def schemasBlockFor(spark: org.apache.spark.sql.SparkSession, m: IcebergMetadata,
      schema: org.apache.spark.sql.types.StructType): (String, Map[String, Int]) =
    m.schemaState match {
      case None => (schemasJson(schema),
        schema.fieldNames.zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap)
      case Some(st) =>
        val curNames = st.fields.map(_._2)
        if (schema.fieldNames.toSet == curNames.toSet) {
          val (promotedNodes, promotedAny) = promotedFieldNodes(st, schema)
          if (!promotedAny)
            (s""""schemas":[${st.schemaNodesJson.mkString(",")}],""" +
              s""""current-schema-id":${st.currentSchemaId}""", st.nameToId)
          else {
            // a legal promotion is SCHEMA EVOLUTION: a new schemas
            // node with every field id/name verbatim and only the
            // promoted primitive widened, current-schema-id bumps
            val newSid = st.maxSchemaId + 1
            val newNode = s"""{"schema-id":$newSid,"type":"struct",""" +
              s""""fields":[${promotedNodes.mkString(",")}]}"""
            (s""""schemas":[${(st.schemaNodesJson :+ newNode).mkString(",")}],""" +
              s""""current-schema-id":$newSid""", st.nameToId)
          }
        } else {
          val missing = curNames.toSet -- schema.fieldNames.toSet
          if (missing.nonEmpty) throw new IllegalStateException(
            s"${m.tablePath}: commit schema lacks declared column(s) " +
              s"${missing.toSeq.sorted.mkString(",")} — additive evolution only")
          val ids = plannedFieldIds(m, schema)
          val extras = schema.fields.filterNot(f => curNames.contains(f.name))
          // RE-ADDING a name a PAST schema used (drop + re-add) makes
          // reads id-resolved — old files carry a same-named column
          // whose bytes belong to the dropped field; any live file
          // WITHOUT parquet field ids would then null out entirely
          val historyNames = st.schemaNodesJson.flatMap { sj =>
            val b = Seq.newBuilder[String]
            mapper.readTree(sj).path("fields").forEach(f => b += f.get("name").asText())
            b.result()
          }.toSet
          val reused = extras.map(_.name).filter(n =>
            historyNames.contains(n) && !curNames.contains(n))
          if (reused.nonEmpty) requireLiveFieldIds(spark, m,
            s"re-adding previously-dropped column(s) ${reused.mkString(",")}")
          // existing fields carry over with any legal promotions
          // applied (extras + promotion may ride one commit)
          val newFieldsJson = promotedFieldNodes(st, schema)._1 ++ extras.map { f =>
            s"""{"id":${ids(f.name)},"name":"${f.name}","required":false,""" +
              s""""type":"${icebergTypeOf(f.dataType)}"}"""
          }
          val newSid = st.maxSchemaId + 1
          val newNode = s"""{"schema-id":$newSid,"type":"struct",""" +
            s""""fields":[${newFieldsJson.mkString(",")}]}"""
          (s""""schemas":[${(st.schemaNodesJson :+ newNode).mkString(",")}],""" +
            s""""current-schema-id":$newSid""", ids)
        }
    }

  /** RENAME a column — a METADATA-ONLY commit, no snapshot, no data
    * move (iceberg.apache.org spec Schema Evolution: names may change
    * freely because data files bind to FIELD IDS): a new `schemas`
    * node appends with every field id preserved verbatim and only the
    * one name swapped, current-schema-id bumps, everything else in
    * the metadata (snapshots, refs, specs, sequence numbers) carries
    * over UNTOUCHED via a parse-mutate-rewrite of the current
    * metadata JSON. Reads then serve the NEW name over old parquet
    * files through the reader's field-id resolution; partition specs
    * and equality deletes keep working (they bind to ids, not names).
    */
  def renameColumn(spark: org.apache.spark.sql.SparkSession, tablePath: String,
      from: String, to: String): Unit = {
    require(from != to, "rename to the same name is a no-op — refusing to commit one")
    val m = IcebergMetadata.load(spark, tablePath)
    val st = m.schemaState.getOrElse(throw new IllegalArgumentException(
      s"$tablePath declares no schemas"))
    val names = st.fields.map(_._2)
    require(names.contains(from), s"$tablePath: no column named $from to rename")
    require(!names.contains(to),
      s"$tablePath: column $to already exists — rename would collide")
    // post-rename reads resolve by PARQUET FIELD ID; a live data file
    // without the renamed field's id would silently serve NULLs under
    // the new name
    val renamedId = st.fields.find(_._2 == from).get._1
    requireLiveFieldIds(spark, m, s"renaming column $from",
      fields => !fields.exists(f => f.getId != null && f.getId.intValue() == renamedId))
    commitSchemaNode(spark, m)(_.map { case (_, name, raw) =>
      if (name != from) raw
      else mapper.readTree(raw).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .put("name", to).toString
    })
  }

  /** DROP a column — like [[renameColumn]] a METADATA-ONLY commit
    * (iceberg.apache.org spec Schema Evolution): a new `schemas` node
    * appends WITHOUT the field, every other field id preserved,
    * current-schema-id bumps; data files keep the bytes, readers
    * simply stop projecting them, and the field id is never reused
    * (later additive evolution allocates past the global max, which
    * the dropped id still counts toward). Refuses dropping a
    * partition-spec SOURCE column or a column live equality-delete
    * files key on — both bind to the id and would break scoping.
    */
  def dropColumn(spark: org.apache.spark.sql.SparkSession, tablePath: String,
      column: String): Unit = {
    val m = IcebergMetadata.load(spark, tablePath)
    val st = m.schemaState.getOrElse(throw new IllegalArgumentException(
      s"$tablePath declares no schemas"))
    val names = st.fields.map(_._2)
    require(names.contains(column), s"$tablePath: no column named $column to drop")
    require(names.size > 1, s"$tablePath: cannot drop the only column")
    val droppedId = st.fields.find(_._2 == column).get._1
    m.partitionFields.foreach(pf =>
      require(pf.sourceCol != column,
        s"$tablePath: column $column is a partition-spec source — dropping it would " +
          "orphan the spec; refusing"))
    IcebergTableReader.planFiles(spark, m).equalityDeletes.foreach(eq =>
      require(!eq.equalityColumns.contains(column),
        s"$tablePath: live equality-delete file ${eq.path} keys on $column — dropping " +
          "it would break delete scoping; compact the deletes away first"))
    commitSchemaNode(spark, m)(_.collect { case (id, _, raw) if id != droppedId => raw })
  }

  /** Refuse unless no live data file's top-level footer fields are
    * `idless` — by default, unless EVERY live file stamps parquet field
    * ids on ALL its fields: the precondition for any evolution that
    * makes reads id-resolved (rename, drop + re-add); a file without
    * ids would silently serve nulls. Parallel footer check, driver
    * metadata, |live files|-bounded.
    */
  private def requireLiveFieldIds(spark: org.apache.spark.sql.SparkSession,
      m: IcebergMetadata, context: String,
      idless: Seq[org.apache.parquet.schema.Type] => Boolean = _.exists(_.getId == null)
  ): Unit = {
    val (tablePath, plan) = (m.tablePath, IcebergTableReader.planFiles(spark, m))
    val hconf = spark.sparkContext.hadoopConfiguration
    import scala.collection.parallel.CollectionConverters._
    val offending = plan.data.par.filter { rel =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new Path(resolveAbs(tablePath, rel)), hconf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        import scala.jdk.CollectionConverters._
        idless(r.getFooter.getFileMetaData.getSchema.getFields.asScala.toSeq)
      } finally r.close()
    }.seq
    require(offending.isEmpty,
      s"$tablePath: $context needs field-id resolution, but ${offending.size} live data " +
        s"file(s) carry no parquet field ids (e.g. ${offending.headOption.getOrElse("")}) — " +
        "they would silently serve nulls; rewrite them first (rewriteDataFiles)")
  }

  /** A manifest-recorded file path, absolute (relative ones resolve
    * under the table). */
  private def resolveAbs(tablePath: String, rel: String): String =
    if (rel.contains("://") || rel.startsWith("/")) rel else s"$tablePath/$rel"

  /** Append a new current schema node — the current fields passed
    * through `fields` (raw field JSON in, raw field JSON out) — and make
    * it current: the shared commit of the metadata-only evolution ops
    * (rename, drop), a parse-mutate-rewrite so snapshots/refs/specs/
    * sequence numbers carry over untouched. */
  private def commitSchemaNode(spark: org.apache.spark.sql.SparkSession, m: IcebergMetadata)(
      fields: Seq[(Int, String, String)] => Seq[String]): Unit =
    IcebergMetadata.commit(spark, m) { cur =>
      val st = cur.schemaState.getOrElse(throw new IllegalStateException(
        s"${cur.tablePath}: the metadata lost its schemas"))
      val newSid = st.maxSchemaId + 1
      val root = cur.tree
      root.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("schemas")
        .add(mapper.readTree(s"""{"schema-id":$newSid,"type":"struct",""" +
          s""""fields":[${fields(st.fields).mkString(",")}]}"""))
      root.put("current-schema-id", newSid).toString
    }: Unit

  private def specJson(idOf: Map[String, Int],
      pfields: Seq[PartitionField]): String = {
    val fields = pfields.zipWithIndex.map { case (f, i) =>
      val sourceId = idOf.getOrElse(f.sourceCol, throw new IllegalStateException(
        s"partition source column ${f.sourceCol} is not in the commit schema"))
      s"""{"name":"${f.resultName}","transform":""" +
        s""""${IcebergTransforms.specString(f.transform)}","source-id":$sourceId,""" +
        s""""field-id":${1000 + i}}"""
    }.mkString(",")
    s""""partition-specs":[{"spec-id":0,"fields":[$fields]}],"default-spec-id":0"""
  }

  /** The declared partition RESULT names (compat view). */
  private[sources] def declaredPartitionBy(spark: org.apache.spark.sql.SparkSession,
      tablePath: String): Seq[String] =
    IcebergMetadata.load(spark, tablePath).partitionFields.map(_.resultName)

  /** One commit: new manifest + manifest list (previous manifests
    * reused) + vN metadata under the exclusive-create CAS. Returns
    * the new snapshot id.
    */
  private def commit(df: DataFrame, m: IcebergMetadata, pfields: Seq[PartitionField],
      extraSummary: Map[String, String] = Map.empty,
      sortBy: Seq[String] = Nil): Long = {
    val files = writeDataFiles(sortFrame(df, sortBy), m, pfields)
    commitSnapshot(df.sparkSession, m, df.schema, pfields, files,
      content = 0, operation = "append", extraSummary = extraSummary,
      sortedBy = sortBy)
  }

  /** Publish one snapshot of `files` (content 0 = data, 1 = position
    * deletes) under the exclusive-create CAS. Prior snapshots
    * re-serialize with their ORIGINAL ids/parents/lists/timestamps
    * AND operations — a rewritten operation would let incremental
    * readers silently cross a delete snapshot.
    */
  private def commitSnapshot(spark: org.apache.spark.sql.SparkSession, m: IcebergMetadata,
      schema: org.apache.spark.sql.types.StructType, pfields: Seq[PartitionField],
      files: Seq[Landed], content: Int, operation: String,
      reuseManifests: Boolean = true,
      extraSummary: Map[String, String] = Map.empty,
      sortedBy: Seq[String] = Nil): Long =
    commitSnapshotGroups(spark, m, schema, pfields,
      Seq(ManifestGroup(files, content)), operation, reuseManifests, extraSummary,
      sortedBy = sortedBy)

  /** One new manifest's worth of files: `entryContent` is the spec's
    * data_file.content (0=data, 1=position deletes, 2=equality
    * deletes); equality-delete groups carry the key field ids.
    */
  private final case class ManifestGroup(files: Seq[Landed], entryContent: Int,
      equalityIds: Seq[Int] = Nil)

  /** [[commitSnapshot]] generalized to SEVERAL new manifests in ONE
    * snapshot — what an upsert needs (a data manifest plus an
    * equality-delete manifest, same sequence number, so the delete
    * scopes to strictly-older files and the new rows survive). `m` is
    * the value the op planned against: the first attempt builds on it,
    * a lost CAS reloads and rebases.
    */
  private[sources] def commitSnapshotGroups(spark: org.apache.spark.sql.SparkSession,
      m: IcebergMetadata,
      schema: org.apache.spark.sql.types.StructType, pfields: Seq[PartitionField],
      groups: Seq[ManifestGroup], operation: String,
      reuseManifests: Boolean = true,
      extraSummary: Map[String, String] = Map.empty,
      // v3 hooks: DV commits build per-attempt manifests (they embed
      // the attempt's snapshot/sequence ids), rewrite reused
      // manifests (supersede: one DV per data file), and floor the
      // metadata's format-version at 3
      minFormatVersion: Int = 2,
      extraManifests: (Long, Long) => Seq[(String, Int)] = (_, _) => Nil,
      transformBase: Seq[(String, Long, Int, Option[Long])] =>
        Seq[(String, Long, Int, Option[Long])] = identity,
      // columns the content-0 groups' files were WRITTEN sorted by
      // (identity asc): resolves/mints the declared sort order, makes
      // it the default, and stamps data_file.sort_order_id
      sortedBy: Seq[String] = Nil): Long = {
    val tablePath = m.tablePath
    val conf = spark.sparkContext.hadoopConfiguration
    // the snapshots the op was PLANNED against: a lost CAS rebases,
    // but commits whose content was computed from the planned state —
    // deletes, rewrites, overwrites — may only rebase over interleaved
    // APPENDS (Iceberg's own OCC validation: appends never conflict;
    // anything else may have removed or re-deleted the rows this
    // commit's manifests were computed from)
    val planned = m.snapshots.map(_.id).toSet
    var newId = 0L
    IcebergMetadata.commit(spark, m) { cur =>
      val (prevSnaps, prevManifests, parentId) =
        if (!cur.exists) (Nil, Nil, None)
        else {
          val current = cur.currentSnapshot
          if (operation != "append") cur.snapshots
            .find(s => !planned.contains(s.id) && s.operation != "append").foreach { c =>
              throw new java.util.ConcurrentModificationException(
                s"$tablePath: a concurrent ${c.operation} snapshot ${c.id} landed after " +
                  s"this $operation was planned against snapshot " +
                  s"${if (m.exists) m.currentSnapshotId else 0L} — its manifests may be " +
                  "stale; re-read the table and retry the operation")
            }
          (cur.snapshots, IcebergTableReader.manifestListEntries(spark, tablePath,
            current.manifestList), Some(current.id))
        }
      newId = parentId.getOrElse(0L) + 1L
      val seq = newId // sequence numbers follow snapshot ids
      val (sortNodes, defaultSortId, stampSortId) = resolveSortOrders(cur, schema, sortedBy)
      val newManifests = groups.map { g =>
        val rel = manifestOf(conf, tablePath, newId, seq, g.files, pfields,
          g.entryContent, g.equalityIds,
          sortOrderId = if (g.entryContent == 0) stampSortId else None)
        // manifest-LIST content: 0 = data manifest, 1 = deletes
        // manifest (position AND equality entries both live under 1)
        (rel, newId, if (g.entryContent == 0) 0 else 1, Option(seq))
      } ++ extraManifests(newId, seq).map { case (rel, content) =>
        (rel, newId, content, Option(seq))
      }
      val listRel = s"metadata/snap-$newId-${java.util.UUID.randomUUID()}.avro"
      val baseManifests = transformBase(if (reuseManifests) prevManifests else Nil)
      // reused manifests keep their ORIGINAL list sequence_number
      // verbatim — entries in the spec's inheritance form (null
      // sequence on ADDED rows) resolve against it, so re-stamping
      // would silently re-scope an external writer's deletes
      val listRecords = (baseManifests ++ newManifests)
        .map { case (mp, addedBy, content, mseq) =>
          val r = new GenericData.Record(listSchema)
          r.put("manifest_path", mp); r.put("manifest_length", 0L)
          r.put("added_snapshot_id", addedBy); r.put("content", content)
          mseq.foreach(s0 => r.put("sequence_number", java.lang.Long.valueOf(s0)))
          r
        }
      writeAvro(conf, new Path(tablePath, listRel), listSchema, listRecords)
      // the STANDARD summary fields real engines stamp and external
      // tools read — added-* from this commit's own data groups
      // (driver-known footer counts, no extra I/O)
      val dataGroups = groups.filter(_.entryContent == 0)
      val stdSummary = Map(
        "added-data-files" -> dataGroups.map(_.files.size).sum.toString,
        "added-records" -> dataGroups.flatMap(_.files).map(_.count).sum.toString)
      val snapsJson = (prevSnaps.map(s => snapshotJson(s.id, s.parentId, s.id, s.manifestList,
          s.timestampMs, s.operation, s.summary)) :+
        snapshotJson(newId, parentId, seq, listRel, System.currentTimeMillis(), operation,
          stdSummary ++ extraSummary))
        .mkString(",")
      // refs carry forward VERBATIM (tags keep pointing at their
      // snapshots); the main branch advances to the new snapshot —
      // Iceberg's own ref semantics
      val refsJson = (cur.refs + ("main" -> ((newId, "branch"))))
        .toSeq.sortBy(_._1)
        .map { case (n, (id, t)) =>
          val nq = n.replace("\\", "\\\\").replace("\"", "\\\"")
          s""""$nq":{"snapshot-id":$id,"type":"$t"}"""
        }.mkString(",")
      val (schemasPart, fieldIdOf) = schemasBlockFor(spark, cur, schema)
      // the format-version never regresses: once a table carries v3
      // artifacts (deletion vectors) every later commit keeps v3
      val formatVersion = math.max(minFormatVersion, cur.formatVersion)
      val pstatsNodes = cur.partitionStatsNodes
      val pstatsPart =
        if (pstatsNodes.isEmpty) ""
        else s""""partition-statistics":[${pstatsNodes.mkString(",")}],"""
      s"""{"format-version":$formatVersion,"table-uuid":"graft","location":"$tablePath",""" +
        s"""$schemasPart,${specJson(fieldIdOf, pfields)},""" +
        s""""sort-orders":[${sortNodes.mkString(",")}],""" +
        s""""default-sort-order-id":$defaultSortId,""" +
        pstatsPart +
        s""""last-sequence-number":$seq,"refs":{$refsJson},""" +
        s""""current-snapshot-id":$newId,"snapshots":[$snapsJson]}"""
    }
    newId
  }

  /** Create a NEW Iceberg table at `tablePath` (identity-partitioned
    * by `partitionBy` when given); refuses an existing one. Returns
    * the first snapshot id.
    */
  def create(df: DataFrame, tablePath: String, partitionBy: Seq[String] = Nil,
      transaction: Option[(String, Long)] = None,
      sortBy: Seq[String] = Nil): Long = {
    val m = IcebergMetadata.loadOrEmpty(df.sparkSession, tablePath)
    if (m.exists)
      throw new IllegalArgumentException(s"$tablePath is already an Iceberg table — use append")
    // each entry is a transform spec: a bare column = identity;
    // bucket(N, c) / truncate(W, c) / years|months|days|hours(c) are
    // the spec's partition transforms
    val pfields = partitionBy.map(IcebergTransforms.parse)
    pfields.foreach(f => require(df.columns.contains(f.sourceCol),
      s"partition source column ${f.sourceCol} is not in the DataFrame"))
    // a declared SORT ORDER (spec "Sort Orders", identity asc): files
    // land range-clustered so the recorded bounds actually cut scans
    sortBy.foreach(c => require(df.columns.contains(c),
      s"sort column $c is not in the DataFrame"))
    commit(df, m, pfields, extraSummary = TableLoader.sinkWatermark(transaction),
      sortBy = sortBy)
  }

  /** Append `df` as a new snapshot on the parent chain; columns must
    * match the table's existing data columns (order-free), and the
    * partitioning comes from the TABLE's declared spec.
    */
  def append(df: DataFrame, tablePath: String,
      transaction: Option[(String, Long)] = None): Long = {
    val m = IcebergMetadata.load(df.sparkSession, tablePath)
    val existing = IcebergTableReader.snapshot(df.sparkSession, m)
    val missing = existing.columns.toSet -- df.columns.toSet
    require(missing.isEmpty,
      s"$tablePath: appended columns ${df.columns.sorted.mkString(",")} lack declared " +
        s"column(s) ${missing.toSeq.sorted.mkString(",")} — writes must carry the full " +
        "declared schema (additive evolution only adds columns)")
    // additive evolution: NEW columns append to the schema (a new
    // schemas node + bumped current-schema-id land in the same
    // commit); existing columns keep their types OR take one of the
    // spec's legal promotions (int→long, float→double, decimal
    // precision widening at the same scale) — metadata-only, old
    // files widen at scan; anything else refuses
    val extras = df.columns.filterNot(existing.columns.contains).toSeq
    existing.columns.foreach { c =>
      val from = existing.schema(c).dataType
      val to = df.schema(c).dataType
      require(to == from || legalPromotion(from, to),
        s"$tablePath: schema evolution cannot change column $c from " +
          s"${from.simpleString} to ${to.simpleString} — only NEW nullable columns " +
          "and the spec's legal promotions (int→long, float→double, decimal " +
          "precision widening) are metadata commits; other changes are rewrites")
    }
    // a table declaring a default SORT ORDER gets its appends written
    // under it (identity asc orders only — [[IcebergMetadata
    // .sortOrder]] answers empty otherwise, and an unsorted append to
    // a sorted table is spec-legal, just unstamped)
    val order = m.sortOrder
    val sortBy =
      if (order.nonEmpty && order.forall { case (c, d, _) =>
          d == "asc" && df.columns.contains(c) })
        order.map(_._1)
      else Nil // partial sorting must not stamp the FULL order's id
    commit(df.select((existing.columns.toSeq ++ extras)
        .map(org.apache.spark.sql.functions.col): _*),
      m, m.partitionFields, extraSummary = TableLoader.sinkWatermark(transaction),
      sortBy = sortBy)
  }

  /** The highest batch id `appId` has committed into the table's
    * snapshot summaries, if any — the replay watermark the streaming
    * sink probes, the Flink-connector pattern (checkpoint id in the
    * snapshot summary, [[TableLoader.SinkAppKey]]). Summaries are
    * preserved verbatim across later commits (snapshot records
    * re-serialize with them). Driver metadata, |snapshots|-bounded.
    */
  def lastBatchId(spark: org.apache.spark.sql.SparkSession, tablePath: String,
      appId: String): Option[Long] = {
    val ids = IcebergMetadata.load(spark, tablePath).snapshots.flatMap { s =>
      if (s.summary.get(TableLoader.SinkAppKey).contains(appId))
        s.summary.get(TableLoader.SinkBatchKey).flatMap(v => scala.util.Try(v.toLong).toOption)
      else None
    }
    if (ids.isEmpty) None else Some(ids.max)
  }

  /** REWRITE DATA FILES (Iceberg's compaction service): the current
    * snapshot's rows — row-level deletes APPLIED — re-bucket into
    * `targetFiles` files under a `replace` snapshot whose manifest
    * list contains ONLY the fresh manifest (nothing reused: the old
    * data and delete files stop being referenced, and a later
    * [[expireSnapshots]] reclaims them). Incremental readers refuse
    * crossing the replace snapshot, the reader's spec-locked
    * contract. Returns the new snapshot id.
    */
  def rewriteDataFiles(spark: org.apache.spark.sql.SparkSession, tablePath: String,
      targetFiles: Int): Long = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    val m = IcebergMetadata.load(spark, tablePath)
    val snap = IcebergTableReader.snapshot(spark, m) // deletes applied
    // a table declaring a default SORT ORDER gets its rewrite written
    // under it (Iceberg's own rewrite-data-files sorts by the table
    // order) — the service RESTORES the clustered layout that
    // unsorted upserts/appends diluted, and the rewritten files stamp
    // the order id
    val order = m.sortOrder
    val sortBy =
      if (order.nonEmpty && order.forall { case (c, d, _) =>
          d == "asc" && snap.columns.contains(c) })
        order.map(_._1)
      else Nil
    val reshaped =
      if (sortBy.isEmpty) snap.repartition(targetFiles)
      else {
        val cs = sortBy.map(org.apache.spark.sql.functions.col)
        snap.repartitionByRange(targetFiles, cs: _*).sortWithinPartitions(cs: _*)
      }
    val files = writeDataFiles(reshaped, m, m.partitionFields)
    commitSnapshot(spark, m, snap.schema, m.partitionFields, files,
      content = 0, operation = "replace", reuseManifests = false,
      sortedBy = sortBy)
  }

  /** EXPIRE SNAPSHOTS (Iceberg's own retention service): rewrite the
    * metadata to keep only the LAST `keepLast` snapshots and
    * physically delete everything referenced ONLY by the expired ones
    * — manifest lists, manifests, data and delete files (the
    * retained snapshots' inventory is computed first; nothing they
    * reach is touched). The rest of the current metadata (schemas,
    * partition specs, retained snapshots' ids/parents/timestamps/
    * operations) carries over VERBATIM via JSON-tree rewrite. Expired
    * ids refuse time travel afterwards ("not in the metadata log") —
    * the reader's documented contract. Returns the expired ids.
    */
  /** Create or move a named REF (tag or branch) to `snapshotId` —
    * Iceberg's branch/tag machinery: a metadata-only commit (vN+1
    * carries the same snapshots with the refs map updated, under the
    * usual CAS). Tags pin snapshots for time travel by NAME
    * ([[IcebergTableReader.snapshotAsOfRef]]) and gate expiry. Ids
    * not in the snapshot log refuse.
    */
  def setRef(spark: org.apache.spark.sql.SparkSession, tablePath: String,
      name: String, snapshotId: Long, refType: String = "tag"): Unit = {
    require(refType == "tag" || refType == "branch",
      s"ref type must be 'tag' or 'branch', got $refType")
    IcebergMetadata.commit(spark, IcebergMetadata.load(spark, tablePath)) { cur =>
      require(cur.snapshots.exists(_.id == snapshotId),
        s"$tablePath: snapshot $snapshotId is not in the metadata log — a ref cannot " +
          "point outside history")
      val root = cur.tree
      if (!root.path("refs").isObject) root.putObject("refs")
      root.get("refs").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .putObject(name).put("snapshot-id", snapshotId).put("type", refType)
      root.toString
    }: Unit
  }

  /** PARTITION STATISTICS (iceberg.apache.org spec "Partition
    * Statistics"): one parquet file per stats snapshot with the
    * spec's per-partition census — data/delete record and file
    * counts, byte totals, last-updated provenance — registered in
    * table metadata's `partition-statistics` list. Planning-grade
    * numbers engines read INSTEAD of walking manifests: the census
    * here is computed once from the current snapshot's manifests
    * (driver work O(|entries|), the same bound planning already
    * pays) and served thereafter as a plain metadata read however
    * large the table grows. DV entries (content=1 with a referenced
    * file) count as position deletes, their record_count being the
    * vector cardinality per spec. Unpartitioned tables refuse — the
    * census has no grain. Returns the landed statistics path.
    */
  def writePartitionStats(spark: org.apache.spark.sql.SparkSession,
      tablePath: String): String = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = IcebergMetadata.load(spark, tablePath)
    val pfields = m.partitionFields
    require(pfields.nonEmpty,
      s"$tablePath: partition statistics need a partitioned table")
    val current = m.currentSnapshot
    val currentId = current.id
    val manifests = IcebergTableReader.manifestListEntries(spark, tablePath,
      current.manifestList)
    final case class Census(var drc: Long = 0L, var dfc: Int = 0, var bytes: Long = 0L,
      var pdrc: Long = 0L, var pdfc: Int = 0, var edrc: Long = 0L, var edfc: Int = 0,
      var lastSnap: Long = 0L)
    val byPartition = scala.collection.mutable.LinkedHashMap.empty[Seq[String], Census]
    manifests.foreach { case (mp, _, _, _) =>
      IcebergTableReader.manifestEntriesPublic(spark, tablePath, mp)
        .filter(_.status != 2).foreach { e =>
          val key = pfields.map(pf => e.partition.getOrElse(pf.resultName, null))
          val c = byPartition.getOrElseUpdate(key, Census())
          val abs = if (e.filePath.startsWith("/")) new Path(e.filePath)
            else new Path(tablePath, e.filePath)
          val size = fs.getFileStatus(abs).getLen
          val n = e.recordCount.getOrElse(throw new IllegalStateException(
            s"$tablePath: manifest entry ${e.filePath} records no record_count — " +
              "the census would be a guess; refusing"))
          e.content match {
            case 0 => c.drc += n; c.dfc += 1; c.bytes += size
            case 1 => c.pdrc += n; c.pdfc += 1
            case 2 => c.edrc += n; c.edfc += 1
            case other => throw new IllegalStateException(
              s"$tablePath: unknown manifest content $other for ${e.filePath}")
          }
          e.snapshotId.foreach(sid => if (sid > c.lastSnap) c.lastSnap = sid)
        }
    }
    val partType = StructType(pfields.map { pf =>
      StructField(pf.resultName,
        if (IcebergTransforms.intResult(pf.transform)) IntegerType else StringType,
        nullable = true)
    })
    val schema = StructType(Seq(
      StructField("partition", partType, nullable = false),
      StructField("spec_id", IntegerType, nullable = false),
      StructField("data_record_count", LongType, nullable = false),
      StructField("data_file_count", IntegerType, nullable = false),
      StructField("total_data_file_size_in_bytes", LongType, nullable = false),
      StructField("position_delete_record_count", LongType, nullable = false),
      StructField("position_delete_file_count", IntegerType, nullable = false),
      StructField("equality_delete_record_count", LongType, nullable = false),
      StructField("equality_delete_file_count", IntegerType, nullable = false),
      StructField("last_updated_at", LongType, nullable = false),
      StructField("last_updated_snapshot_id", LongType, nullable = false)))
    val now = System.currentTimeMillis()
    val rows = byPartition.toSeq.map { case (key, c) =>
      val pvals = pfields.zip(key).map { case (pf, raw) =>
        if (raw == null) null
        else if (IcebergTransforms.intResult(pf.transform)) Integer.valueOf(raw.trim.toInt)
        else raw
      }
      Row(Row(pvals: _*), 0, c.drc, c.dfc, c.bytes, c.pdrc, c.pdfc, c.edrc, c.edfc,
        now, if (c.lastSnap > 0) c.lastSnap else currentId)
    }
    import scala.jdk.CollectionConverters._
    val rel = s"metadata/partition-stats-$currentId-${java.util.UUID.randomUUID()}.parquet"
    val len = FileLanding.landFile(spark.createDataFrame(rows.asJava, schema),
      new Path(tablePath, rel))
    // register under the usual metadata CAS; an entry for the SAME
    // snapshot replaces (a re-run refreshes, never duplicates)
    IcebergMetadata.commit(spark, m) { cur =>
      val root = cur.tree
      val arr = root.withArray[com.fasterxml.jackson.databind.node.ArrayNode](
        "partition-statistics")
      var i = 0
      while (i < arr.size()) {
        if (Option(arr.get(i).get("snapshot-id")).exists(_.asLong() == currentId))
          { arr.remove(i): Unit } else i += 1
      }
      arr.addObject().put("snapshot-id", currentId).put("statistics-path", rel)
        .put("file-size-in-bytes", len)
      root.toString
    }
    rel
  }

  /** REMOVE ORPHAN FILES (Iceberg's own maintenance procedure): walk
    * the table directory, subtract everything ANY retained snapshot
    * or the metadata itself references — metadata JSONs and the
    * version hint, every snapshot's manifest list, every manifest,
    * every file path those manifests name (any status: a deleted
    * entry's file may still serve an older snapshot), DV puffins,
    * registered partition-statistics files — and physically delete
    * the unreferenced remainder older than `graceMs` (the files a
    * failed write's finished tasks landed, failed-CAS leftovers). The
    * grace period is what keeps a CONCURRENT writer's in-flight files
    * safe: never run with a grace shorter than the longest write you
    * could be racing.
    * Driver work is O(|files in table dir| + |manifest entries|);
    * returns the deleted paths (table-relative).
    */
  def removeOrphanFiles(spark: org.apache.spark.sql.SparkSession, tablePath: String,
      graceMs: Long, nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    require(graceMs >= 0, "graceMs must be >= 0")
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(tablePath)
    val fs = root.getFileSystem(conf)
    val rootStr = fs.makeQualified(root).toString.stripSuffix("/")
    def qualify(p: String): String =
      if (p.startsWith("/") || p.contains("://"))
        fs.makeQualified(new Path(p)).toString
      else s"$rootStr/$p"
    val referenced = scala.collection.mutable.Set.empty[String]
    // the metadata tree itself: every version JSON + the hint (expiry
    // owns metadata retention, not orphan removal)
    fs.listStatus(new Path(root, "metadata")).foreach { st =>
      if (IcebergMetadata.isMetadataFile(st.getPath.getName))
        referenced += fs.makeQualified(st.getPath).toString
    }
    val m = IcebergMetadata.load(spark, tablePath)
    m.snapshots.foreach { s0 =>
      referenced += qualify(s0.manifestList)
      IcebergTableReader.manifestListEntries(spark, tablePath, s0.manifestList)
        .foreach { case (mp, _, _, _) =>
          referenced += qualify(mp)
          IcebergTableReader.manifestEntriesPublic(spark, tablePath, mp)
            .foreach(e => referenced += qualify(e.filePath))
        }
    }
    // registered statistics files
    m.partitionStatsNodes.foreach(e =>
      Option(e.get("statistics-path")).foreach(p => referenced += qualify(p.asText())))
    FileLanding.sweepUnnamed(fs, root, referenced, nowMs - graceMs)
  }

  def expireSnapshots(spark: org.apache.spark.sql.SparkSession, tablePath: String,
      keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "must retain at least the current snapshot")
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = IcebergMetadata.load(spark, tablePath)
    if (m.snapshots.size <= keepLast) return Nil
    // (retained, expired) of one value's snapshot log
    def window(cur: IcebergMetadata)
        : (Seq[IcebergTableReader.SnapshotInfo], Seq[IcebergTableReader.SnapshotInfo]) = {
      val (snaps, currentId) = cur.snapshotLog
      val (expired, retained) = snaps.splitAt(snaps.size - keepLast)
      require(retained.exists(_.id == currentId),
        s"$tablePath: the current snapshot must be inside the retention window")
      // a TAGGED (or branched) snapshot cannot expire — refs pin
      // history, Iceberg's own retention rule
      val pinned = cur.refs
        .filter { case (n, (id, _)) => n != "main" && expired.exists(_.id == id) }
      require(pinned.isEmpty,
        s"$tablePath: refs ${pinned.keys.toSeq.sorted.mkString(", ")} pin snapshot(s) " +
          s"${pinned.values.map(_._1).toSeq.distinct.sorted.mkString(", ")} inside the " +
          "expiry window — drop the refs first or widen retention")
      (retained, expired)
    }
    // metadata rewrite: same tree, snapshots filtered to the retained
    val (retained, expired) = window(IcebergMetadata.commit(spark, m) { cur =>
      val keepIds = window(cur)._1.map(_.id).toSet
      val root = cur.tree
      val kept = mapper.createArrayNode()
      root.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("snapshots")
        .forEach(n => if (keepIds.contains(n.get("snapshot-id").asLong())) { kept.add(n); () })
      root.replace("snapshots", kept)
      root.toString
    })
    def inventory(ss: Seq[IcebergTableReader.SnapshotInfo])
        : (Set[String], Set[String], Set[String]) = { // (lists, manifests, files)
      val lists = ss.map(_.manifestList).toSet
      val manifests = scala.collection.mutable.Set.empty[String]
      val files = scala.collection.mutable.Set.empty[String]
      ss.foreach { s0 =>
        IcebergTableReader.manifestListEntries(spark, tablePath, s0.manifestList)
          .foreach { case (mp, _, _, _) =>
            manifests += mp
            IcebergTableReader.manifestEntriesPublic(spark, tablePath, mp)
              .filter(_.status != 2)
              .foreach(e => files += e.filePath)
          }
      }
      (lists, manifests.toSet, files.toSet)
    }
    val (rl, rm, rd) = inventory(retained)
    val (el, em, ed) = inventory(expired)
    // orphan removal: only what NO retained snapshot reaches
    ((el -- rl) ++ (em -- rm) ++ (ed -- rd)).toSeq.sorted.foreach { p =>
      val f = new Path(resolveAbs(tablePath, p))
      if (fs.exists(f)) { fs.delete(f, false): Unit }
    }
    expired.map(_.id)
  }

  /** Row-level DELETE on an external Iceberg table WITHOUT rewriting
    * data files: rows matching `predicate` (evaluated on exactly the
    * live rows — existing position deletes pre-applied) become a v2
    * POSITION-DELETE file of spec-shaped (file_path, pos) rows,
    * published as a delete-manifest (content=1) snapshot with
    * operation 'delete'. The position computation, the file-path
    * mapping back to the manifest-recorded relative paths, and the
    * delete-file write are all DISTRIBUTED — no driver
    * materialization of positions (unlike Delta's bitmap build, the
    * spec's delete file IS columnar). Tables carrying EQUALITY
    * deletes refuse — composing the two delete shapes in one
    * predicate evaluation is not implemented. Returns the new
    * snapshot id.
    */
  def delete(spark: org.apache.spark.sql.SparkSession, tablePath: String,
      predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions._
    // the value this delete is computed against — a racing
    // non-append between here and the commit CAS must refuse
    val m = IcebergMetadata.load(spark, tablePath)
    // the v3 spec FORBIDS position-delete files: once the table's
    // format-version reached 3 (a deleteDv ran), route row deletes
    // through the DV writer instead of landing a shape external v3
    // readers must reject
    if (m.formatVersion >= 3) return deleteDv(spark, m, predicate)
    val plan = IcebergTableReader.planFiles(spark, m)
    require(plan.equalityDeletes.isEmpty,
      s"$tablePath: table carries equality-delete files — position-deleting on top of " +
        "them would need composed delete semantics this writer does not implement; refusing")
    // live rows with their physical identity
    val keyed0 = spark.read.parquet(plan.data.map(resolveAbs(tablePath, _)): _*)
      .withColumn("_g_file", ScanPaths.normalizeScan(
        org.apache.spark.sql.functions.col("_metadata.file_path")))
      .withColumn("_g_pos", org.apache.spark.sql.functions.col("_metadata.row_index"))
    val keyed =
      if (plan.positionDeletes.isEmpty) keyed0
      else {
        val existing = spark.read.parquet(plan.positionDeletes.map(resolveAbs(tablePath, _)): _*)
          .select(ScanPaths.normalizeMetaColumn(col("file_path"), tablePath).as("_g_file"),
            col("pos").cast("long").as("_g_pos"))
        keyed0.join(existing, Seq("_g_file", "_g_pos"), "left_anti")
      }
    // map scan paths back to the manifest-recorded relative paths
    val relRows = plan.data.map(rel => org.apache.spark.sql.Row(
      ScanPaths.normalizeDriver(resolveAbs(tablePath, rel)), rel))
    import scala.jdk.CollectionConverters._
    val relDf = spark.createDataFrame(relRows.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_g_file",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("file_path",
          org.apache.spark.sql.types.StringType))))
    val deletes = keyed.where(predicate)
      .join(broadcast(relDf), Seq("_g_file"))
      .select(col("file_path"), col("_g_pos").cast("long").as("pos"))
      .sort("file_path", "pos")
    // land the delete file (one file — delete sets are small relative
    // to data; a huge delete should rewrite instead)
    val (rel, n) = landDeleteShards(spark, tablePath, deletes, "position-delete",
      emptyMsg = Some("predicate matched no live rows — nothing to delete")).head
    commitSnapshot(spark, m, IcebergTableReader.snapshot(spark, m).schema, m.partitionFields,
      Seq(Landed(rel, n, Map.empty)), content = 1, operation = "delete")
  }

  /** Driver-side cap on the COMPRESSED deletion-vector bytes a
    * [[deleteDv]] commit assembles into its puffin file (the blobs
    * are roaring-compressed on executors; only those bytes ride the
    * driver). Past it, rewrite the files instead of vectorizing. */
  val MaxDvBytesDriver: Long = 256L << 20

  /** Row-level delete via v3 DELETION VECTORS (iceberg.apache.org
    * spec v3 "Deletion Vectors"): matched live rows become per-file
    * puffin blobs — the portable 64-bit roaring bitmap in Delta's
    * sidecar framing, which the spec adopted byte-for-byte — landed
    * as ONE puffin file and committed as a content=1 deletes manifest
    * whose entries carry `referenced_data_file`/`content_offset`/
    * `content_size_in_bytes`. Per the spec's supersede rule each new
    * DV folds in ALL prior deletes of its file (existing DVs and v2
    * position-delete rows included), and prior DV entries for the
    * re-vectored files are REWRITTEN OUT of their manifests (one DV
    * per data file). Because v3 FORBIDS position-delete files, the
    * commit also re-vectorizes every file still carrying v2
    * position-delete rows and drops their manifests — the committed
    * table is v3-legal throughout, and [[delete]] auto-vectorizes
    * once the format-version is 3 so no later commit regresses it.
    * The commit floors `format-version` at 3. The
    * position computation and bitmap build are distributed; the
    * driver holds |touched files| compressed blobs, loudly bounded.
    * Equality-delete tables refuse (composed semantics), matching
    * [[delete]]. Returns the new snapshot id.
    */
  def deleteDv(spark: org.apache.spark.sql.SparkSession, tablePath: String,
      predicate: org.apache.spark.sql.Column): Long =
    deleteDv(spark, IcebergMetadata.load(spark, tablePath), predicate)

  private def deleteDv(spark: org.apache.spark.sql.SparkSession, m: IcebergMetadata,
      predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Encoders
    val tablePath = m.tablePath
    val plan = IcebergTableReader.planFiles(spark, m)
    require(plan.equalityDeletes.isEmpty,
      s"$tablePath: table carries equality-delete files — deletion-vectoring on top of " +
        "them would need composed delete semantics this writer does not implement; refusing")
    val conf = spark.sparkContext.hadoopConfiguration
    // live rows = data minus every existing delete shape
    val keyed0 = spark.read.parquet(plan.data.map(resolveAbs(tablePath, _)): _*)
      .withColumn("_g_file", ScanPaths.normalizeScan(col("_metadata.file_path")))
      .withColumn("_g_pos", col("_metadata.row_index").cast("long"))
    val posPrior: Option[org.apache.spark.sql.DataFrame] =
      if (plan.positionDeletes.isEmpty) None
      else Some(spark.read.parquet(plan.positionDeletes.map(resolveAbs(tablePath, _)): _*)
        .select(ScanPaths.normalizeMetaColumn(col("file_path"), tablePath).as("_g_file"),
          col("pos").cast("long").as("_g_pos")))
    val dvPrior: Option[org.apache.spark.sql.DataFrame] =
      if (plan.deletionVectors.isEmpty) None
      else Some(IcebergTableReader.dvPositionsOf(spark, tablePath, plan.deletionVectors))
    val priorDels: Option[org.apache.spark.sql.DataFrame] = (posPrior, dvPrior) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b) => a.orElse(b)
    }
    val keyed = priorDels match {
      case Some(d) => keyed0.join(d, Seq("_g_file", "_g_pos"), "left_anti")
      case None => keyed0
    }
    val matched = keyed.where(predicate).select(col("_g_file"), col("_g_pos"))
    if (matched.limit(1).isEmpty) throw new IllegalArgumentException(
      s"$tablePath: predicate matched no live rows — nothing to delete")
    // SUPERSEDE, spec-complete: the new DV for a touched file carries
    // every prior delete of that file — AND, because the v3 spec
    // FORBIDS position-delete files outright, every file still
    // carrying v2 position-delete rows re-vectorizes in this same
    // commit (their manifests drop below; untouched files' existing
    // DV entries stay in place, they are already v3-legal)
    val touched = (posPrior match {
      case Some(p) => matched.select("_g_file").unionByName(p.select("_g_file"))
      case None => matched.select("_g_file")
    }).distinct()
    val folded = priorDels match {
      case Some(d) => matched.unionByName(d.join(touched, Seq("_g_file"), "left_semi"))
      case None => matched
    }
    // per-file portable bitmaps, built and compressed ON EXECUTORS
    val blobs = folded
      .groupByKey(_.getString(0))(Encoders.STRING)
      .mapGroups { (f, it) =>
        val positions = it.map(_.getLong(1)).toArray.distinct.sorted
        (f, DeltaDv.serializePositions(positions.toIndexedSeq), positions.length.toLong)
      }(Encoders.tuple(Encoders.STRING, Encoders.BINARY, Encoders.scalaLong))
      .collect()
    require(blobs.nonEmpty,
      s"$tablePath: matched rows vanished between probe and fold — racing writer?")
    val totalBytes = blobs.map(_._2.length.toLong).sum
    require(totalBytes <= MaxDvBytesDriver,
      s"$tablePath: deletion vectors compress to $totalBytes bytes (> $MaxDvBytesDriver) " +
        "— a delete this large should rewrite its files, not vectorize them; refusing")
    // normalized scan path → the manifest-recorded relative path (the
    // form referenced_data_file must take so readers re-resolve it)
    val relByNorm = plan.data
      .map(rel => ScanPaths.normalizeDriver(resolveAbs(tablePath, rel)) -> rel).toMap
    val blobRels = blobs.map { case (norm, bytes, n) =>
      (relByNorm.getOrElse(norm, throw new IllegalStateException(
        s"$tablePath: matched file $norm is not in the plan — racing writer?")),
        bytes, n)
    }
    val supersededNorm: Set[String] = blobs.map(_._1).toSet
    commitSnapshotGroups(spark, m, IcebergTableReader.snapshot(spark, m).schema,
      m.partitionFields, groups = Nil, operation = "delete",
      minFormatVersion = 3,
      extraManifests = (newId, seq) => {
        val puffinRel = s"data/dv-$newId-${java.util.UUID.randomUUID()}.puffin"
        val refs = IcebergPuffin.writeFile(conf, new Path(tablePath, puffinRel),
          blobRels.toIndexedSeq.map { case (rel, bytes, n) =>
            IcebergPuffin.DvBlob(rel, bytes, n, newId, seq)
          })
        val rows = refs.map(r => DvManifestRow(puffinRel, r.referencedDataFile,
          r.offset, r.length, r.cardinality, newId, seq))
        Seq((writeDvManifest(conf, tablePath, rows), 1))
      },
      transformBase = base => base.flatMap { case m @ (mp, addedBy, content, mseq) =>
        if (content != 1) Some(m)
        else {
          val entries = IcebergTableReader.manifestEntriesPublic(spark, tablePath, mp)
          val (dvE, otherE) = entries.partition(_.contentOffset.isDefined)
          // v2 position-delete manifest: DROP — every one of its rows
          // was folded into this commit's DVs (the v3 spec forbids
          // position-delete files; keeping it would hand external v3
          // readers a shape they must reject)
          if (dvE.isEmpty) None
          else {
            require(otherE.isEmpty,
              s"$tablePath: manifest $mp mixes DV and non-DV delete entries; refusing")
            val kept = dvE.filterNot(e => e.referencedDataFile.exists(r =>
              supersededNorm.contains(ScanPaths.normalizeDriver(resolveAbs(tablePath, r)))))
            if (kept.size == dvE.size) Some(m)
            else if (kept.isEmpty) None // every DV superseded: drop the manifest
            else {
              // rewrite minus the superseded entries; stamps resolve
              // to explicit values (list inheritance folded in)
              val rows = kept.map { e =>
                DvManifestRow(e.filePath, e.referencedDataFile.get, e.contentOffset.get,
                  e.contentSize.get, e.recordCount.getOrElse(0L),
                  e.snapshotId.getOrElse(addedBy),
                  e.sequence.orElse(mseq).getOrElse(throw new IllegalStateException(
                    s"$tablePath: DV entry ${e.filePath} has no resolvable sequence")))
              }
              Some((writeDvManifest(conf, tablePath, rows), addedBy, 1, mseq))
            }
          }
        }
      })
  }

  /** Publish Iceberg metadata OVER existing parquet files — NO data
    * rewrite (the UniForm shape: one copy of the data, two formats'
    * metadata). `files` are (absolute path, record count) pairs; each
    * publish lands ONE fresh manifest referencing exactly them under
    * a `replace` snapshot (nothing reused — a republish must not
    * resurrect files the primary format dropped), so snapshot readers
    * serve the mirrored state and incremental readers refuse across
    * it (a mirror sync is not an append). Driver cost is |files|
    * metadata. Returns the new snapshot id.
    */
  def publishMetadataOnly(spark: org.apache.spark.sql.SparkSession, tablePath: String,
      files: Seq[(String, Long)],
      schema: org.apache.spark.sql.types.StructType): Long = {
    require(files.nonEmpty, s"$tablePath: nothing to publish — empty file set")
    files.foreach { case (p, _) => require(p.startsWith("/") || p.contains("://"),
      s"$tablePath: publishMetadataOnly takes ABSOLUTE data-file paths, got $p") }
    commitSnapshotGroups(spark, IcebergMetadata.loadOrEmpty(spark, tablePath), schema, Nil,
      Seq(ManifestGroup(files.map { case (p, n) => Landed(p, n, Map.empty) },
        entryContent = 0)),
      operation = "replace", reuseManifests = false)
  }

  /** Rows per delete file: small delete sets land as one file (the
    * common CDC shape); a backfill-scale upsert's key set SHARDS past
    * this so no single task serializes it (the spec allows several
    * delete files per snapshot).
    */
  val MaxDeleteFileRows: Long = 4L * 1000 * 1000

  /** Land delete-file parquet and return (relative path, row count)
    * per landed shard. One coalesced file at or under `maxRows`
    * expected rows; sharded `repartition` write past it; a task with
    * no rows lands no file. Refuses an empty frame.
    */
  private def landDeleteShards(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, df: DataFrame, what: String,
      emptyMsg: Option[String] = None,
      expectedRows: Option[Long] = None,
      maxRows: Long = MaxDeleteFileRows): Seq[(String, Long)] = {
    val shards = expectedRows.map(r => ((r + maxRows - 1) / maxRows).toInt).getOrElse(1)
    val placed = if (shards <= 1) df.coalesce(1) else df.repartition(shards)
    val landed = FileLanding.land(
      placed.withColumn("_g_fid", org.apache.spark.sql.functions.lit(""))
        .withColumn("_g_part", org.apache.spark.sql.functions.lit("")),
      tablePath, (_, _, _) => s"data/del-${java.util.UUID.randomUUID()}.parquet")
    if (landed.isEmpty) throw new IllegalArgumentException(
      s"$tablePath: " + emptyMsg.getOrElse(s"empty $what batch — nothing to write"))
    landed.map(f => (f.rel, f.rows))
  }

  /** UPSERT (merge) into an external Iceberg v2 table via EQUALITY
    * DELETES — the Flink-CDC write shape: the batch's key values land
    * as ONE content=2 delete file (spec `equality_ids` naming the key
    * field ids), the batch's rows land as new data files, and both
    * publish in ONE snapshot at the same sequence number — so, per
    * the spec's strictly-older scoping, the delete removes matching
    * rows from every PRIOR data file while the batch's own rows
    * survive. Readers see the merge atomically.
    *
    * Scale shape: the write path never scans the existing table —
    * cost is O(batch) regardless of table size (the read-side merge
    * is one broadcast anti join, |delete rows|-bounded). That is the
    * whole point of equality deletes over position deletes: no
    * locate-the-row scan at write time. The batch must be unique on
    * `keys` (an in-batch duplicate would be ambiguous); tables whose
    * existing equality deletes use a DIFFERENT key set refuse (the
    * reader applies one key shape per scan, spec-locked). Returns the
    * new snapshot id.
    */
  def upsert(df: DataFrame, tablePath: String, keys: Seq[String],
      maxDeleteFileRows: Long = MaxDeleteFileRows): Long = {
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession
    require(keys.nonEmpty, s"$tablePath: upsert needs at least one equality-key column")
    val m = IcebergMetadata.load(spark, tablePath)
    val nameToId = m.fieldNames.map(_.swap)
    val tableCols0 = m.fieldNames.toSeq.sortBy(_._1).map(_._2)
    val missingCols = tableCols0.toSet -- df.columns.toSet
    require(missingCols.isEmpty,
      s"$tablePath: upsert columns ${df.columns.sorted.mkString(",")} lack declared " +
        s"column(s) ${missingCols.toSeq.sorted.mkString(",")} — writes must carry the " +
        "full declared schema (additive evolution only adds columns)")
    val tableCols = tableCols0 ++ df.columns.filterNot(tableCols0.contains)
    val eqIds = keys.map(k => nameToId.getOrElse(k, throw new IllegalArgumentException(
      s"$tablePath: upsert key $k is not a declared table column")))
    IcebergTableReader.planFiles(spark, m).equalityDeletes.headOption.foreach { d =>
      require(d.equalityColumns.toSet == keys.toSet,
        s"$tablePath: existing equality deletes key on ${d.equalityColumns.mkString(",")} " +
          s"but this upsert keys on ${keys.mkString(",")} — mixed key shapes in one " +
          "table are not readable; refusing")
    }
    val aligned = df.select(tableCols.map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nRows = aligned.count()
      val nKeys = aligned.select(keys.map(col): _*).distinct().count()
      require(nRows == nKeys,
        s"$tablePath: upsert batch carries ${nRows - nKeys} duplicate key row(s) — the " +
          "replacement row per key would be ambiguous; pre-combine the batch first")
      val delShards = landDeleteShards(spark, tablePath,
        aligned.select(keys.map(col): _*), "equality-delete",
        expectedRows = Some(nRows), maxRows = maxDeleteFileRows)
      val files = writeDataFiles(aligned, m, m.partitionFields)
      commitSnapshotGroups(spark, m, aligned.schema, m.partitionFields,
        Seq(ManifestGroup(files, entryContent = 0),
          ManifestGroup(delShards.map { case (rel, n) => Landed(rel, n, Map.empty) },
            entryContent = 2, equalityIds = eqIds)),
        operation = "overwrite")
    } finally aligned.unpersist()
  }
}
