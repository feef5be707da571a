package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.DecoderFactory
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Reader for a REAL Apache Hudi METADATA TABLE's `files` partition
  * (hudi.apache.org: the metadata table is itself a MOR Hudi table at
  * `.hoodie/metadata/`, default-ON since 0.11; its base files are
  * HFiles — [[HudiHFile]] — holding one Avro `HoodieMetadataRecord`
  * per partition path whose `filesystemMetadata` map is the
  * partition's file listing). This is what lets graft's planner start
  * from an EXTERNALLY-written table's own index instead of replaying
  * the whole timeline's meta files — the listing cut that is the
  * metadata table's reason to exist on object storage.
  *
  * Planning contract (mirrors the graft-parquet files index,
  * [[HudiTableReader.filesIndexState]]): the newest `files` base
  * HFile whose instant is ON the data timeline provides the complete
  * file-group state AS OF that instant; instants after it replay
  * normally. Metadata-table LOG files (newer listings) are
  * deliberately ignored — the data-timeline replay after the base
  * instant already covers exactly what they would add, so correctness
  * never depends on merging the metadata MOR log. Anything this
  * reader cannot serve (compressed/encoded HFiles, multi-level
  * indexes, an off-timeline instant) degrades to `None` and planning
  * falls back to full meta-file replay — the metadata table
  * ACCELERATES, it never gates.
  *
  * Record shape (public HoodieMetadataRecord.avsc): `key` = partition
  * path (`.` for non-partitioned), or the `__all_partitions__`
  * partition-list record; `type` = 1 (partition list) / 2 (file
  * list); `filesystemMetadata` = map(file name → {size, isDeleted}).
  * Deleted entries and the partition-list record are filtered out.
  * The Avro writer schema rides the HFile file-info `schema` entry
  * and is decoded generically, so later schema revisions (extra
  * index fields) keep reading.
  */
object HudiMetadataTable {

  val AllPartitionsKey = "__all_partitions__"
  val NonPartitionedKey = "."

  /** Base-file name grammar `<fileId>_<writeToken>_<instant>.<ext>` —
    * fileIds carry dashes (uuid-like), so the token/instant anchor at
    * the END of the name. */
  private val BaseRe = "^(.+)_([0-9]+-[0-9]+-[0-9]+)_([0-9]+)\\.(\\w+)$".r
  /** Log-file name grammar `.<fileId>_<baseInstant>.log.<version>_<token>`. */
  private val LogRe = "^\\.(.+)_([0-9]+)\\.log\\.([0-9]+)(_.*)?$".r

  /** Per SHARD (file group — big tables hash a partition across
    * several) of `.hoodie/metadata/<partition>`, the newest base HFile
    * whose instant the data timeline actually committed, as (fileId,
    * instant, name), from the timeline's own listing (string order;
    * metadata-internal suffixed instants sort between their data
    * instant and the next). Off-timeline indexes are leftovers and are
    * ignored, same rule as the graft parquet index. Empty when there is
    * no such partition.
    */
  private def newestShards(tl: HudiTimeline,
      partition: String): Seq[(String, String, String)] =
    tl.entries(s"metadata/$partition").flatMap {
      case n @ BaseRe(fileId, _, instant, "hfile") if tl.onTimeline.contains(instant) =>
        Some((fileId, instant, n))
      case _ => None
    }.groupBy(_._1).map { case (_, vs) => vs.maxBy(_._2) }.toSeq.sortBy(_._3)

  /** The `files` partition's listing as of its newest usable base
    * HFile: (index instant, partition path → (file name, size)).
    * None when there is no metadata table, no usable HFile, or the
    * HFile needs features [[HudiHFile]] refuses — callers keep their
    * replay path.
    */
  def filesListing(tl: HudiTimeline): Option[(String, Map[String, Seq[(String, Long)]])] = {
    val (conf, tablePath) = (tl.spark.sparkContext.hadoopConfiguration, tl.tablePath)
    val dir = tl.metadataDir("files")
    // EVERY shard must read — a partition whose record lives in a
    // dropped shard would silently vanish from the listing, so one
    // unreadable shard degrades the whole answer to replay
    val shards = newestShards(tl, "files")
    if (shards.isEmpty) return None
    // the index point is the OLDEST shard instant: replaying the data
    // timeline after it re-covers anything a newer shard knew
    val instant = shards.map(_._2).min
    val parsed = scala.util.Try {
      val listing = scala.collection.mutable.Map.empty[String, Seq[(String, Long)]]
      shards.foreach { case (_, _, name) =>
        val (info, cells) = HudiHFile.read(conf, new Path(dir, name))
        val schemaBytes = info.getOrElse(HudiHFile.SchemaKey, throw new IllegalStateException(
          s"$tablePath: metadata HFile $name carries no '${HudiHFile.SchemaKey}' file-info " +
            "entry — cannot decode its records"))
        val schema = new Schema.Parser().parse(new String(schemaBytes, UTF_8))
        val reader = new GenericDatumReader[GenericRecord](schema)
        cells.foreach { case (key, value) =>
          if (key != AllPartitionsKey) {
            val rec = reader.read(null, DecoderFactory.get().binaryDecoder(value, null))
            val fsMeta = rec.get("filesystemMetadata")
            if (fsMeta != null) {
              val m = fsMeta.asInstanceOf[java.util.Map[AnyRef, AnyRef]]
              val files = Seq.newBuilder[(String, Long)]
              m.forEach { (fname, fi) =>
                val r = fi.asInstanceOf[GenericRecord]
                val deleted = Option(r.get("isDeleted")).exists(_.asInstanceOf[Boolean])
                if (!deleted)
                  files += ((fname.toString, r.get("size").asInstanceOf[Long]))
              }
              listing += (key -> (listing.getOrElse(key, Nil) ++ files.result()))
            }
          }
        }
      }
      listing.toMap
    }
    // a malformed/unsupported HFile must degrade to replay, loudly in
    // the logs but never failing the read — the index accelerates
    parsed.toOption.map(l => (instant, l))
  }

  /** The public HoodieMetadataRecord shape the `files` partition
    * carries (key / type / filesystemMetadata) — the subset every
    * Hudi release since 0.11 reads; decode stays generic so richer
    * schemas from real writers also parse. */
  val RecordAvsc: String =
    """{"type":"record","name":"HoodieMetadataRecord","namespace":"org.apache.hudi.avro.model","fields":[
      |{"name":"key","type":"string"},
      |{"name":"type","type":"int"},
      |{"name":"filesystemMetadata","type":["null",{"type":"map","values":
      |  {"type":"record","name":"HoodieMetadataFileInfo","fields":[
      |    {"name":"size","type":"long"},{"name":"isDeleted","type":"boolean"}]}}],
      | "default":null}]}""".stripMargin

  /** PUBLISH the table's current file-group state as a REAL Hudi
    * metadata-table `files` partition — one HFile base file in the
    * public format ([[HudiHFile]]) at
    * `.hoodie/metadata/files/files-0000_0-0-0_<head>.hfile`, records
    * per the public HoodieMetadataRecord shape — the interop OUT
    * leg: external Hudi readers (and graft's own
    * `externalFilesIndexState`) start planning from it instead of
    * replaying the timeline. Driver cost is |files| getFileStatus
    * calls (the same bound every index writer here carries). Returns
    * the index instant (the timeline head).
    */
  def writeFilesPartition(spark: SparkSession, tablePath: String): String = {
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.avro.io.EncoderFactory
    val conf = spark.sparkContext.hadoopConfiguration
    val tl = HudiTimeline.load(spark, tablePath)
    val groups = HudiTableReader.morGroups(tl)
    val head = tl.head
    val fs = new Path(tablePath).getFileSystem(conf)
    // (partition, file name, size) for every live base + pending log
    val entries: Seq[(String, String, Long)] = groups.flatMap { g =>
      val paths = g.base.map(_.path).toSeq ++ g.logs.map(_._2)
      paths.map { rel =>
        val slash = rel.lastIndexOf('/')
        val partition = if (slash < 0) NonPartitionedKey else rel.substring(0, slash)
        val name = if (slash < 0) rel else rel.substring(slash + 1)
        (partition, name, fs.getFileStatus(new Path(tablePath, rel)).getLen)
      }
    }
    val schema = new org.apache.avro.Schema.Parser().parse(RecordAvsc)
    val fiSchema = schema.getField("filesystemMetadata").schema().getTypes.get(1).getValueType
    def record(key: String, tpe: Int, files: Seq[(String, Long)]): (String, Array[Byte]) = {
      val r = new GenericData.Record(schema)
      r.put("key", key); r.put("type", tpe)
      val m = new java.util.HashMap[String, GenericData.Record]()
      files.foreach { case (n, sz) =>
        val fi = new GenericData.Record(fiSchema)
        fi.put("size", sz); fi.put("isDeleted", false)
        m.put(n, fi)
      }
      r.put("filesystemMetadata", m)
      val bos = new java.io.ByteArrayOutputStream()
      val e = EncoderFactory.get().binaryEncoder(bos, null)
      new GenericDatumWriter[GenericRecord](schema).write(r, e)
      e.flush()
      (key, bos.toByteArray)
    }
    val byPartition = entries.groupBy(_._1).toSeq.sortBy(_._1)
    val cells = (byPartition.map { case (p, fs0) =>
      record(p, 2, fs0.map(e => (e._2, e._3)).sortBy(_._1))
    } :+ record(AllPartitionsKey, 1, byPartition.map(_._1 -> 0L))).sortBy(_._1)
    val dir = tl.metadataDir("files")
    fs.mkdirs(dir)
    HudiHFile.write(conf, new Path(dir, s"files-0000_0-0-0_$head.hfile"), cells,
      Map(HudiHFile.SchemaKey -> RecordAvsc.getBytes(UTF_8)))
    head
  }

  /** One (file, column) range from the metadata table's
    * `column_stats` partition. min/max are None for non-numeric
    * wrapper types (string/bytes/etc.) — pruning on them is skipped
    * conservatively. */
  final case class ColStat(fileName: String, column: String,
      min: Option[Double], max: Option[Double])

  /** External `column_stats` partition (hudi.apache.org metadata
    * table): per-(file, column) min/max from the newest usable base
    * HFile. Records are HoodieMetadataRecords whose
    * `ColumnStatsMetadata` field carries fileName / columnName /
    * minValue / maxValue — min/max as the spec's typed WRAPPER
    * records (IntWrapper, LongWrapper, …), decoded generically by
    * their single `value` field; non-numeric wrappers yield None.
    * isDeleted entries drop. Same degradation contract as
    * [[filesListing]]: anything unreadable → None, the reader keeps
    * its unpruned path.
    */
  def colStatsListing(tl: HudiTimeline): Option[(String, Seq[ColStat])] = {
    val (conf, tablePath) = (tl.spark.sparkContext.hadoopConfiguration, tl.tablePath)
    val dir = tl.metadataDir("column_stats")
    // ALL shards read (stats key by immutable file NAMES, so a stale
    // or partial shard set is only ever conservative — fewer files
    // pruned, never a wrong prune)
    val shards = newestShards(tl, "column_stats")
    if (shards.isEmpty) return None
    val instant = shards.map(_._2).min
    val parsed = scala.util.Try {
      def num(v: AnyRef): Option[Double] = v match {
        case null => None
        case w: GenericRecord => Option(w.get("value")).flatMap {
          case n: java.lang.Number => Some(n.doubleValue())
          case _ => None // string/bytes/decimal-bytes wrappers — no numeric prune
        }
        case _ => None
      }
      shards.flatMap { case (_, _, name) =>
        val (info, cells) = HudiHFile.read(conf, new Path(dir, name))
        val schemaBytes = info.getOrElse(HudiHFile.SchemaKey, throw new IllegalStateException(
          s"$tablePath: column_stats HFile $name carries no schema file-info entry"))
        val schema = new Schema.Parser().parse(new String(schemaBytes, UTF_8))
        val reader = new GenericDatumReader[GenericRecord](schema)
        cells.flatMap { case (_, value) =>
          val rec = reader.read(null, DecoderFactory.get().binaryDecoder(value, null))
          Option(rec.get("ColumnStatsMetadata")).map(_.asInstanceOf[GenericRecord]).flatMap { cs =>
            val deleted = Option(cs.get("isDeleted")).exists(_.asInstanceOf[Boolean])
            if (deleted) None
            else Some(ColStat(cs.get("fileName").toString, cs.get("columnName").toString,
              num(cs.get("minValue")), num(cs.get("maxValue"))))
          }
        }
      }
    }
    parsed.toOption.map(stats => (instant, stats))
  }

  /** Reconstruct a file-group id from a HoodieRecordIndexInfo — the
    * public encoding (HoodieTableMetadataUtil): encoding 0 packs a
    * UUID in two longs plus a `-<fileIndex>` suffix; encoding 1
    * carries the raw fileId string. */
  private[sources] def fileIdOf(info: GenericRecord): Option[String] = {
    val enc = Option(info.get("fileIdEncoding")).map(_.asInstanceOf[Int]).getOrElse(0)
    if (enc == 1) Option(info.get("fileId")).map(_.toString)
    else for {
      hi <- Option(info.get("fileIdHighBits")).map(_.asInstanceOf[Long])
      lo <- Option(info.get("fileIdLowBits")).map(_.asInstanceOf[Long])
    } yield {
      val idx = Option(info.get("fileIndex")).map(_.asInstanceOf[Int]).getOrElse(-1)
      val uuid = new java.util.UUID(hi, lo).toString
      if (idx >= 0) s"$uuid-$idx" else uuid
    }
  }

  /** External `record_index` partition point probe: for each
    * requested key string, the file-group id its record lives in —
    * the newest usable base HFile per index shard is SEEKED
    * ([[HudiHFile.readKeysSeek]] — only the blocks whose root-index
    * range can hold a key are read), so the probe is O(|keys| blocks)
    * however big the index is. Returns (oldest shard instant, key →
    * fileId) or None (no metadata record index / unreadable —
    * callers keep their fallback).
    */
  def recordIndexProbe(tl: HudiTimeline,
      keyStrings: Seq[String]): Option[(String, Map[String, String])] = {
    val (conf, tablePath) = (tl.spark.sparkContext.hadoopConfiguration, tl.tablePath)
    val dir = tl.metadataDir("record_index")
    // every shard is probed (real record indexes hash keys across
    // several file groups) — a key lives in exactly one, and a miss
    // elsewhere costs one root-index read
    val shards = newestShards(tl, "record_index")
    if (shards.isEmpty) return None
    val out = scala.util.Try {
      val bindings = scala.collection.mutable.Map.empty[String, String]
      shards.foreach { case (_, _, name) =>
        val p = new Path(dir, name)
        val cells = HudiHFile.readKeysSeek(conf, p, keyStrings.toSet)
        if (cells.nonEmpty) {
          // the writer schema rides file info — one bounded read per
          // shard WITH hits; miss-only shards cost just the seek
          val schemaBytes = HudiHFile.readFileInfo(conf, p)
            .getOrElse(HudiHFile.SchemaKey,
              throw new IllegalStateException(s"$tablePath: record_index HFile $name " +
                "carries no schema file-info entry"))
          val schema = new Schema.Parser().parse(new String(schemaBytes, UTF_8))
          val reader = new GenericDatumReader[GenericRecord](schema)
          cells.foreach { case (key, value) =>
            val rec = reader.read(null, DecoderFactory.get().binaryDecoder(value, null))
            Option(rec.get("recordIndexMetadata"))
              .map(_.asInstanceOf[GenericRecord])
              .flatMap(fileIdOf)
              .foreach(fid => bindings(key) = fid)
          }
        }
      }
      bindings.toMap
    }
    out.toOption.map(b => (shards.map(_._2).min, b))
  }

  /** File-group state from a `files` listing — the same derivation
    * real Hudi's file-system view performs on its listing: base files
    * group by fileId with the NEWEST instant winning the slice; log
    * files attach to the slice whose baseInstant they name, replay-
    * ordered by log version. Hidden bookkeeping (crc, hoodie_partition
    * _metadata) is skipped. The returned instants on log entries are
    * their BASE instants — exactly how [[HudiTableReader.morGroups]]
    * orders intra-group replay.
    */
  def groupSlices(listing: Map[String, Seq[(String, Long)]]): Seq[HudiTableReader.GroupSlices] = {
    final case class B(instant: String, rel: String, partition: String)
    val bases = scala.collection.mutable.Map.empty[String, B]
    val logs = scala.collection.mutable.Map.empty[String, Vector[(String, Int, String)]]
    listing.toSeq.sortBy(_._1).foreach { case (partition, files) =>
      val prefix = if (partition == NonPartitionedKey || partition.isEmpty) "" else s"$partition/"
      files.sortBy(_._1).foreach { case (name, _) =>
        name match {
          case BaseRe(fileId, _, instant, "parquet") =>
            if (!bases.get(fileId).exists(_.instant >= instant))
              bases(fileId) = B(instant, s"$prefix$name", partition)
          case LogRe(fileId, baseInstant, version, _) =>
            logs(fileId) = logs.getOrElse(fileId, Vector.empty) :+
              ((baseInstant, version.toInt, s"$prefix$name"))
          case _ => () // partition metadata, checksums — not data
        }
      }
    }
    val ids = (bases.keySet ++ logs.keySet).toSeq.sorted
    ids.map { fileId =>
      val base = bases.get(fileId)
      val slice = base.map(b =>
        HudiTableReader.SliceWrite(b.instant, fileId, b.rel, b.partition))
      // only the CURRENT slice's logs replay: a log naming an older
      // baseInstant was compacted into a newer base file
      val live = logs.getOrElse(fileId, Vector.empty)
        .filter(l => base.forall(_.instant == l._1))
        .sortBy(l => (l._1, l._2))
        .map(l => (l._1, l._3))
      HudiTableReader.GroupSlices(fileId, slice, live)
    }.filter(g => g.base.isDefined || g.logs.nonEmpty)
  }
}
