package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import HudiTableReader.SliceWrite

/** One read of a Hudi table's `.hoodie` directory, taken by [[HudiTimeline.load]]:
  * the active listing, `hoodie.properties` and the archived timeline,
  * each read once. Every reader and writer operation loads one value and
  * passes it through, so an operation never re-derives the timeline; each
  * instant's commit JSON is opened at most once per value, and each
  * `metadata/<index>` directory listed at most once.
  *
  *  - `.hoodie/<instant>.<kind>` — one COMPLETED instant per file:
  *    ordinary `commit`s, clustering `replacecommit`s and MOR
  *    `deltacommit`s; `.requested`/`.inflight` siblings are in flight
  *    and ignored;
  *  - `.hoodie/archived/` — instants the archival service rotated out
  *    of the active listing ([[HudiTimeline.archivedEntries]]). They
  *    replay UNDER the active ones, so file groups written only by
  *    archived instants stay visible; an instant in both places (the
  *    archival crash window) serves its active copy once.
  */
final class HudiTimeline private (val spark: SparkSession, val tablePath: String,
    val fs: FileSystem, names: Set[String], val properties: Map[String, String],
    archived: Seq[(String, String, String)]) {
  import HudiTimeline._

  private val dir = hoodieDir(tablePath)

  /** Completed instants in the active listing, ascending. */
  private[sources] val active: Seq[(String, String)] = names.toSeq.flatMap { n =>
    Kinds.collectFirst { case k if n.endsWith(s".$k") => (n.stripSuffix(s".$k"), k) }
  }.sortBy(_._1)

  private val archivedMeta: Map[(String, String), String] =
    archived.reverseIterator.map { case (i, k, meta) => (i, k) -> meta }.toMap

  /** Every completed instant of any kind, archived ones included, ascending
    * (Hudi instant times are lexicographically ordered timestamps). */
  val instants: Seq[(String, String)] = {
    val activeInstants = active.map(_._1).toSet
    (archived.collect {
      case (i, k, _) if Kinds.contains(k) && !activeInstants.contains(i) => (i, k)
    } ++ active).sortBy(_._1)
  }

  private val hasDeltacommits = instants.exists(_._2 == "deltacommit")
  private val morDeclared = properties.get("hoodie.table.type").contains("MERGE_ON_READ")

  /** True when hoodie.properties declares MERGE_ON_READ or any instant is
    * a deltacommit. */
  val isMor: Boolean = morDeclared || hasDeltacommits

  /** The instants of a COPY-ON-WRITE table (`commit` / `replacecommit`).
    * Refuses MOR tables — a COW-only path cannot merge their log files. */
  def cow: Seq[(String, String)] = {
    if (hasDeltacommits) throw new IllegalStateException(
      s"$tablePath has deltacommit instants — a MERGE-ON-READ table; this COW-only " +
        "path cannot merge log files (a plain scan would silently miss updates); " +
        "use snapshot for the merged real-time view or readOptimized for the " +
        "explicit base-files-only view")
    // hoodie.properties declares the table type up front — a MOR table
    // with no deltacommits YET would otherwise slip through and start
    // silently missing updates on its first delta write
    if (morDeclared) throw new IllegalStateException(
      s"$tablePath declares hoodie.table.type=MERGE_ON_READ — this COW-only path " +
        "refuses (log files would be silently ignored); use snapshot for the merged " +
        "real-time view or readOptimized for the explicit base-files-only view")
    instants
  }

  lazy val onTimeline: Set[String] = instants.map(_._1).toSet

  /** The latest completed instant of any kind — the head token a
    * checkpointed consumer records. */
  def head: String = instants.lastOption.map(_._1).getOrElse(throw new IllegalArgumentException(
    s"$tablePath: no completed instants in .hoodie"))

  /** The commit-metadata text of one instant: its active file, else its
    * archived entry. Missing in both refuses. */
  private[sources] def metaText(instant: String, kind: String): String =
    if (names.contains(s"$instant.$kind")) readText(fs, new Path(dir, s"$instant.$kind"))
    else archivedMeta.getOrElse((instant, kind), throw new IllegalStateException(
      s"$tablePath: instant $instant.$kind is neither active nor archived — " +
        "its writes cannot be replayed; refusing"))

  private val parsed = new java.util.concurrent.ConcurrentHashMap[(String, String), JsonNode]()

  /** One instant's commit metadata, parsed on first use. */
  def commitJson(instant: String, kind: String): JsonNode =
    parsed.computeIfAbsent((instant, kind), _ => mapper.readTree(metaText(instant, kind)))

  /** Every file-group write of one completed instant. */
  def writes(instant: String, kind: String): Seq[SliceWrite] = {
    val node = commitJson(instant, kind)
    if (node == null || node.isMissingNode) throw new IllegalStateException(
      s"$tablePath: $instant.$kind carries no commit metadata (empty/corrupt file) — " +
        "its writes cannot be replayed; refusing rather than silently missing them")
    val stats = node.get("partitionToWriteStats")
    if (stats == null || !stats.isObject) Nil
    else {
      val b = Seq.newBuilder[SliceWrite]
      stats.fields().forEachRemaining { e =>
        e.getValue.forEach { (w: JsonNode) =>
          b += SliceWrite(instant, w.get("fileId").asText(), w.get("path").asText(), e.getKey)
        }
      }
      b.result()
    }
  }

  /** File-group ids a replacecommit REPLACED (clustering input groups —
    * they stop existing at that instant). */
  def replacedIds(instant: String): Set[String] = {
    val rep = commitJson(instant, "replacecommit").get("partitionToReplaceFileIds")
    if (rep == null || !rep.isObject) Set.empty
    else {
      val b = Set.newBuilder[String]
      rep.fields().forEachRemaining(e => e.getValue.forEach(id => b += id.asText()))
      b.result()
    }
  }

  private val listed = new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  /** The entry names of `.hoodie/<sub>` (empty when absent), listed
    * once per value. */
  private[sources] def entries(sub: String): Seq[String] =
    listed.computeIfAbsent(sub, _ =>
      if (!names.contains(sub.takeWhile(_ != '/'))) Nil
      else try fs.listStatus(new Path(dir, sub)).toSeq.map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => Nil })

  /** The newest generation of the index at `.hoodie/metadata/<index>`
    * (`files`, `col_stats`, `bloom_filters`, `record_index`): the newest
    * entry named `<instant>` or `<instant>.parquet` whose instant is on
    * the timeline. Every index names the instant it was built at, and one
    * off the timeline (rolled back, foreign) is ignored — correctness
    * never rides a stale shortcut. */
  def newestGeneration(index: String): Option[String] =
    entries(s"metadata/$index").map(_.stripSuffix(".parquet")).filter(onTimeline).maxOption

  /** `.hoodie/metadata/<index>` as a path. */
  def metadataDir(index: String): Path = new Path(dir, s"metadata/$index")
}

object HudiTimeline {

  private val mapper = new ObjectMapper()

  /** The completed-instant kinds a timeline serves. */
  private val Kinds = Seq("commit", "replacecommit", "deltacommit")

  private[sources] def hoodieDir(tablePath: String): Path = new Path(tablePath, ".hoodie")

  private[sources] def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** List `.hoodie` once, read `hoodie.properties` and merge the
    * archived timeline. Refuses a path with no `.hoodie` directory. */
  def load(spark: SparkSession, tablePath: String): HudiTimeline = {
    val dir = hoodieDir(tablePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names =
      try fs.listStatus(dir).iterator.map(_.getPath.getName).toSet
      catch { case _: java.io.FileNotFoundException => throw new IllegalArgumentException(
        s"$tablePath is not a Hudi table: no .hoodie directory") }
    new HudiTimeline(spark, tablePath, fs, names,
      if (names.contains("hoodie.properties")) readProperties(fs, tablePath) else Map.empty,
      if (names.contains("archived")) archivedEntries(fs, tablePath) else Nil)
  }

  /** Table properties from hoodie.properties, as key→value (empty when
    * the file is absent). */
  def properties(spark: SparkSession, tablePath: String): Map[String, String] =
    readProperties(hoodieDir(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration),
      tablePath)

  private def readProperties(fs: FileSystem, tablePath: String): Map[String, String] = {
    val text =
      try readText(fs, new Path(hoodieDir(tablePath), "hoodie.properties"))
      catch { case _: java.io.FileNotFoundException => "" }
    text.linesIterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#") && l.contains('='))
      .map { l => val i = l.indexOf('='); l.substring(0, i).trim -> l.substring(i + 1).trim }
      .toMap
  }

  /** (instant, actionType, commit-metadata JSON) from the ARCHIVED
    * timeline, oldest-first, as [[load]] merges it: each
    * `.hoodie/archived/.commits_.archive.N` file is a Hudi log-format
    * file ([[HudiLog]] — the PUBLIC container Hudi's own archival
    * service writes) holding one Avro data block of (commitTime,
    * actionType, metadata) entries. A corrupt or non-log archive file
    * refuses loudly via the codec's own magic/torn-block checks —
    * silently skipping one would make every read miss its file groups.
    * Results are memoized per (table, archive-file signature): archives
    * are immutable once rotated, so a load decodes only archives it has
    * not seen.
    */
  private val archivedCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String, String)]]()

  private[sources] def archivedEntries(fs: FileSystem,
      tablePath: String): Seq[(String, String, String)] = {
    val arch = new Path(hoodieDir(tablePath), "archived")
    val files =
      try fs.listStatus(arch).filter(_.isFile).sortBy(_.getPath.getName).toIndexedSeq
      catch { case _: java.io.FileNotFoundException => IndexedSeq.empty }
    if (files.isEmpty) return Nil
    // name+length alone is NOT a content signature: a table DELETED
    // and REBUILT at the same path (test reruns, scratch reuse) lands
    // archives whose names AND lengths collide -- instants are
    // fixed-width timestamps, fileIds fixed-width UUIDs -- and a stale
    // hit would replay the OLD table's timeline over the new files.
    // The modification time disambiguates rebuilds.
    val sig = tablePath + "\u0000" +
      files.map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
        .mkString(",")
    archivedCache.computeIfAbsent(sig, _ => {
      val out = Seq.newBuilder[(String, String, String)]
      files.foreach { f =>
        val blocks = HudiLog.read(fs.getConf, f.getPath.toString)
        blocks.foreach {
          case HudiLog.DataBlock(_, schemaJson, records) =>
            val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
            val reader =
              new org.apache.avro.generic.GenericDatumReader[
                org.apache.avro.generic.GenericRecord](schema)
            records.foreach { bytes =>
              val dec = org.apache.avro.io.DecoderFactory.get()
                .binaryDecoder(bytes, null)
              val r = reader.read(null, dec)
              out += ((String.valueOf(r.get("commitTime")),
                String.valueOf(r.get("actionType")),
                String.valueOf(r.get("metadata"))))
            }
          case other => throw new IllegalStateException(
            s"$tablePath: archive file ${f.getPath.getName} carries a " +
              s"${other.getClass.getSimpleName} — archived timelines hold Avro data " +
              "blocks of instant metadata; refusing")
        }
      }
      out.result().sortBy(_._1)
    })
  }
}
