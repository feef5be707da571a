package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import IcebergTableReader.SnapshotInfo
import IcebergTransforms.PartitionField

/** One read of an Iceberg table's current metadata, taken by
  * [[IcebergMetadata.load]]: `metadata/version-hint.text` names the
  * current `vN.metadata.json` (without a hint, the numerically highest
  * `vN` / `NNNNN-<uuid>` metadata file is current), and that JSON is
  * opened and parsed once. Every reader and writer operation loads one
  * value and passes it through, so an operation never re-resolves the
  * hint; [[IcebergMetadata.commit]] is the one compare-and-swap that
  * publishes the next version.
  */
final class IcebergMetadata private (val tablePath: String, fileName: Option[String],
    root: ObjectNode) {
  import IcebergMetadata._

  /** False for the empty value of a path holding no metadata yet. */
  def exists: Boolean = fileName.isDefined

  /** Numeric version of the current metadata file (0 when none) — the
    * next commit creates `v(version + 1).metadata.json`. */
  lazy val version: Long = fileName.fold(0L) { n =>
    numericVersion(n).getOrElse(throw new IllegalStateException(
      s"$tablePath: cannot parse a numeric version out of $n"))
  }

  /** The declared `format-version` (2 when the field is absent — v1
    * tables read fine under v2 rules here). */
  def formatVersion: Int = Option(root.get("format-version")).map(_.asInt()).getOrElse(2)

  /** A mutable copy of the metadata tree, for parse-mutate-rewrite
    * commits that carry every other field over untouched. */
  def tree: ObjectNode = root.deepCopy()

  /** The snapshot log, oldest first. */
  lazy val snapshots: Seq[SnapshotInfo] = {
    val snaps = Seq.newBuilder[SnapshotInfo]
    val arr = root.get("snapshots")
    if (arr != null && arr.isArray) arr.forEach { s =>
      val extra = Map.newBuilder[String, String]
      Option(s.get("summary")).foreach(sm => sm.fields().forEachRemaining { e =>
        if (e.getKey != "operation") extra += (e.getKey -> e.getValue.asText())
      })
      snaps += SnapshotInfo(
        id = s.get("snapshot-id").asLong(),
        parentId = Option(s.get("parent-snapshot-id")).map(_.asLong()),
        operation = Option(s.get("summary")).flatMap(x => Option(x.get("operation")))
          .map(_.asText()).getOrElse("append"),
        manifestList = s.get("manifest-list").asText(),
        timestampMs = Option(s.get("timestamp-ms")).map(_.asLong()).getOrElse(0L),
        summary = extra.result())
    }
    snaps.result()
  }

  /** The current snapshot id; refuses metadata without one and an
    * empty table. */
  def currentSnapshotId: Long = {
    val id = Option(root.get("current-snapshot-id")).map(_.asLong()).getOrElse(
      throw new IllegalArgumentException(s"$tablePath: metadata has no current-snapshot-id"))
    if (id < 0) throw new IllegalArgumentException(
      s"$tablePath: table has no current snapshot (empty table)")
    id
  }

  def snapshotLog: (Seq[SnapshotInfo], Long) = (snapshots, currentSnapshotId)

  def currentSnapshot: SnapshotInfo = {
    val id = currentSnapshotId
    snapshots.find(_.id == id).getOrElse(throw new IllegalArgumentException(
      s"$tablePath: current-snapshot-id $id not in the snapshot list"))
  }

  /** Named refs — Iceberg branches and tags: name → (snapshot id,
    * "branch" | "tag"). Empty when the table declares none. */
  lazy val refs: Map[String, (Long, String)] = {
    val node = root.get("refs")
    if (node == null || !node.isObject) Map.empty
    else {
      val b = Map.newBuilder[String, (Long, String)]
      node.fields().forEachRemaining { e =>
        val sid = Option(e.getValue.get("snapshot-id")).map(_.asLong())
        val tpe = Option(e.getValue.get("type")).map(_.asText()).getOrElse("branch")
        sid.foreach(id => b += (e.getKey -> ((id, tpe))))
      }
      b.result()
    }
  }

  /** The CURRENT schema node: `schemas[current-schema-id]` (falling
    * back to the first entry, then the legacy v1 `schema` field) —
    * shared by name AND type resolution so bound decoding reads at
    * the same width the names resolve against after evolution. */
  private lazy val currentSchemaNode: Option[JsonNode] = {
    val schemas = root.get("schemas")
    if (schemas != null && schemas.isArray) {
      val currentId = Option(root.get("current-schema-id")).map(_.asInt())
      var pick: JsonNode = null
      schemas.forEach { s =>
        if (pick == null ||
          currentId.exists(id => Option(s.get("schema-id")).exists(_.asInt() == id)))
          pick = s
      }
      Option(pick)
    } else Option(root.get("schema"))
  }

  private def currentFields: Seq[JsonNode] = {
    val b = Seq.newBuilder[JsonNode]
    currentSchemaNode.flatMap(n => Option(n.get("fields"))).filter(_.isArray)
      .foreach(_.forEach(f => b += f))
    b.result()
  }

  /** Field id → name of the current schema — what resolves
    * equality-delete `equality_ids`, sort orders and partition
    * sources to column names. */
  lazy val fieldNames: Map[Int, String] =
    currentFields.map(f => f.get("id").asInt() -> f.get("name").asText()).toMap

  /** Field id → Iceberg primitive type name — what decodes manifest
    * bound bytes. */
  lazy val fieldTypes: Map[Int, String] = currentFields.collect {
    case f if f.get("type") != null && f.get("type").isTextual =>
      f.get("id").asInt() -> f.get("type").asText()
  }.toMap

  /** The schema machinery additive evolution appends against: every
    * schema node verbatim (JSON text), the current schema's (id, name,
    * raw field JSON) in order, and the global max field/schema ids.
    * None without a `schemas` list. */
  lazy val schemaState: Option[SchemaState] = {
    val schemas = root.get("schemas")
    if (schemas == null || !schemas.isArray || schemas.isEmpty) None
    else {
      var maxSid = 0
      var maxFid = 0
      val nodes = Seq.newBuilder[String]
      // every field id counts toward the max — INNER ids too (struct
      // fields / list element-id / map key-id+value-id ride nested
      // type objects), or evolution would mint a colliding id
      def walkIds(x: JsonNode): Unit =
        if (x.isObject) x.fields().forEachRemaining { e =>
          val k = e.getKey
          if ((k == "id" || k == "element-id" || k == "key-id" || k == "value-id") &&
              e.getValue.isNumber) maxFid = math.max(maxFid, e.getValue.asInt())
          walkIds(e.getValue)
        }
        else if (x.isArray) x.forEach(walkIds(_))
      schemas.forEach { sn =>
        nodes += sn.toString
        maxSid = math.max(maxSid, Option(sn.get("schema-id")).map(_.asInt()).getOrElse(0))
        walkIds(sn)
      }
      Some(SchemaState(nodes.result(),
        Option(root.get("current-schema-id")).map(_.asInt()).getOrElse(0),
        currentFields.map(f => (f.get("id").asInt(), f.get("name").asText(), f.toString)),
        maxFid, maxSid))
    }
  }

  /** The partition-spec fields the metadata declares — transforms
    * parsed from the spec's own strings (`identity`, `bucket[N]`,
    * `truncate[W]`, `year`/`month`/`day`/`hour`; an unknown transform
    * like `void` refuses loudly), source columns resolved by source-id
    * against the current schema. */
  lazy val partitionFields: Seq[PartitionField] = {
    val specs = root.get("partition-specs")
    if (specs == null || !specs.isArray || specs.isEmpty) Nil
    else {
      val b = Seq.newBuilder[PartitionField]
      val fields = specs.get(0).get("fields")
      if (fields != null && fields.isArray) fields.forEach { f =>
        val transform = IcebergTransforms.parseSpecString(
          Option(f.get("transform")).map(_.asText()).getOrElse("identity"))
        val name = f.get("name").asText()
        val source = Option(f.get("source-id")).map(_.asInt())
          .flatMap(fieldNames.get)
          .getOrElse(name) // legacy specs without source-id: identity naming
        b += PartitionField(name, source, transform)
      }
      b.result()
    }
  }

  /** The raw `sort-orders` nodes + the default order id; None when the
    * metadata declares none. Nodes carry through commits VERBATIM,
    * like schema nodes and refs. */
  lazy val sortOrders: Option[(Seq[String], Int)] = {
    val orders = root.get("sort-orders")
    if (orders == null || !orders.isArray || orders.isEmpty) None
    else {
      val nodes = Seq.newBuilder[String]
      orders.forEach(o => nodes += o.toString)
      Some((nodes.result(),
        Option(root.get("default-sort-order-id")).map(_.asInt()).getOrElse(0)))
    }
  }

  /** The DEFAULT sort order as (column, direction, null-order) triples
    * (spec "Sort Orders"; source-ids resolve against the current
    * schema). Empty for unsorted tables (order 0), tables predating
    * the field, and non-identity transforms (the writer re-sorts
    * appends only on identity orders — sorting is advisory). */
  lazy val sortOrder: Seq[(String, String, String)] = {
    val orders = root.get("sort-orders")
    val defaultId = Option(root.get("default-sort-order-id")).map(_.asInt()).getOrElse(0)
    var fields: JsonNode = null
    if (orders != null && orders.isArray) orders.forEach { o =>
      if (Option(o.get("order-id")).exists(_.asInt() == defaultId)) fields = o.get("fields")
    }
    if (fields == null || !fields.isArray) Nil
    else {
      val b = Seq.newBuilder[(String, String, String)]
      var resolvable = true
      fields.forEach { f =>
        val transform = Option(f.get("transform")).map(_.asText()).getOrElse("identity")
        val name = Option(f.get("source-id")).map(_.asInt()).flatMap(fieldNames.get)
        if (transform != "identity" || name.isEmpty) resolvable = false
        else b += ((name.get,
          Option(f.get("direction")).map(_.asText()).getOrElse("asc"),
          Option(f.get("null-order")).map(_.asText()).getOrElse("nulls-first")))
      }
      if (resolvable) b.result() else Nil
    }
  }

  /** The raw `partition-statistics` entries — carried through commits
    * VERBATIM (entries persist until their snapshots expire). */
  lazy val partitionStatsNodes: Seq[JsonNode] = {
    val b = Seq.newBuilder[JsonNode]
    Option(root.get("partition-statistics")).filter(_.isArray).foreach(_.forEach(e => b += e))
    b.result()
  }

  /** The statistics file registered for `snapshotId`, if any. */
  def partitionStatsPath(snapshotId: Long): Option[String] =
    partitionStatsNodes.filter(e => Option(e.get("snapshot-id")).exists(_.asLong() == snapshotId))
      .lastOption.flatMap(e => Option(e.get("statistics-path"))).map(_.asText())

  /** True when the schema HISTORY diverges ids from names — either a
    * field id mapped to more than one name (a RENAME: pre-rename
    * files carry the old parquet name) or a name mapped to more than
    * one id (a DROP + RE-ADD: old files carry a SAME-NAMED column
    * whose bytes belong to the dropped field and must NOT leak into
    * the new one). Either way a name-keyed scan is wrong and field-id
    * resolution (the spec's actual rule) is the only safe read. */
  lazy val hasRenamedColumns: Boolean = {
    val schemas = root.get("schemas")
    val seenById = scala.collection.mutable.Map.empty[Int, String]
    val seenByName = scala.collection.mutable.Map.empty[String, Int]
    var diverged = false
    if (schemas != null && schemas.isArray) schemas.forEach { sn =>
      val fs0 = sn.get("fields")
      if (fs0 != null && fs0.isArray) fs0.forEach { f =>
        val id = f.get("id").asInt(); val n = f.get("name").asText()
        if (seenById.getOrElse(id, n) != n) diverged = true
        if (seenByName.getOrElse(n, id) != id) diverged = true
        seenById(id) = n
        seenByName(n) = id
      }
    }
    diverged
  }

  /** The CURRENT schema as a Spark StructType (fields in schema
    * order, all nullable), when every declared type maps — what lets
    * the scan NULL-FILL columns added by schema evolution in files
    * written before it (footer inference would make the scanned
    * schema depend on which file Spark samples). Tables with
    * [[hasRenamedColumns]] stamp each top-level field's
    * `parquet.field.id`, so the scan resolves columns by id. */
  lazy val declaredSparkSchema: Option[StructType] = {
    val fields = currentFields
    // nested columns resolve by NAME — a rename-affected table keeps
    // its inner fields un-id-stamped in graft-landed files, so nested
    // there falls back rather than mis-resolving
    val byId = hasRenamedColumns
    val st = fields.flatMap { f =>
      val tNode = f.get("type")
      val nested = tNode != null && !tNode.isTextual
      if (byId && nested) None
      else sparkTypeOfNode(tNode).map { dt =>
        val md =
          if (!byId) Metadata.empty
          else new MetadataBuilder().putLong("parquet.field.id", f.get("id").asLong()).build()
        StructField(f.get("name").asText(), dt, nullable = true, md)
      }
    }
    if (st.nonEmpty && st.size == fields.size) Some(StructType(st)) else None
  }
}

object IcebergMetadata {

  private val mapper = new ObjectMapper()
  private val HintName = "version-hint.text"

  /** The existing metadata's schema machinery ([[IcebergMetadata.schemaState]]). */
  private[sources] final case class SchemaState(schemaNodesJson: Seq[String],
      currentSchemaId: Int, fields: Seq[(Int, String, String)], maxFieldId: Int,
      maxSchemaId: Int) {
    def nameToId: Map[String, Int] = fields.map(f => f._2 -> f._1).toMap
  }

  private def fsOf(spark: SparkSession, tablePath: String): FileSystem =
    new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** The version a metadata file name carries: both public
    * filesystem-catalog names carry it as a number — `vN.metadata.json`
    * and the zero-padded `NNNNN-<uuid>.metadata.json`. */
  private def numericVersion(name: String): Option[Long] = {
    val base = name.stripSuffix(".metadata.json")
    if (base.startsWith("v") && base.length > 1 && base.drop(1).forall(_.isDigit))
      Some(base.drop(1).toLong)
    else {
      val digits = base.takeWhile(_.isDigit)
      if (digits.nonEmpty && base.lift(digits.length).contains('-')) Some(digits.toLong)
      else None
    }
  }

  /** The current metadata file's name, or why there is none. */
  private def currentFile(fs: FileSystem, tablePath: String): Either[String, String] = {
    val metaDir = new Path(tablePath, "metadata")
    try Right(s"v${readText(fs, new Path(metaDir, HintName)).trim}.metadata.json")
    catch {
      case _: java.io.FileNotFoundException =>
        val candidates =
          try fs.listStatus(metaDir).toIndexedSeq.map(_.getPath.getName)
            .filter(_.endsWith(".metadata.json"))
          catch { case _: java.io.FileNotFoundException => return Left(
            s"$tablePath is not an Iceberg table: no metadata directory") }
        if (candidates.isEmpty) Left(s"$tablePath: no *.metadata.json under metadata/")
        else {
          // NUMERIC max, not lexicographic: unpadded `v9.metadata.json`
          // sorts above `v10.metadata.json` as a string, which would
          // silently serve a stale snapshot past version 9
          val numbered = candidates.flatMap(n => numericVersion(n).map(v => (v, n)))
          Right(
            if (numbered.size == candidates.size) numbered.maxBy(_._1)._2
            else candidates.max) // unknown naming scheme: fall back, stated in spec
        }
    }
  }

  private def read(fs: FileSystem, tablePath: String, name: String): IcebergMetadata =
    new IcebergMetadata(tablePath, Some(name), mapper.readTree(
      readText(fs, new Path(tablePath, s"metadata/$name"))).asInstanceOf[ObjectNode])

  /** The table's current metadata; refuses a path that holds none. */
  def load(spark: SparkSession, tablePath: String): IcebergMetadata = {
    val fs = fsOf(spark, tablePath)
    currentFile(fs, tablePath) match {
      case Right(name) => read(fs, tablePath, name)
      case Left(why) => throw new IllegalArgumentException(why)
    }
  }

  /** [[load]], or the empty value (version 0, no snapshots) for a path
    * that holds no metadata yet — what a create commits against. */
  def loadOrEmpty(spark: SparkSession, tablePath: String): IcebergMetadata = {
    val fs = fsOf(spark, tablePath)
    currentFile(fs, tablePath) match {
      case Right(name) => read(fs, tablePath, name)
      case Left(_) => new IcebergMetadata(tablePath, None, mapper.createObjectNode())
    }
  }

  /** True when `tablePath` holds Iceberg metadata — a `metadata`
    * directory with at least one `.metadata.json`. */
  def present(fs: FileSystem, tablePath: Path): Boolean = {
    val metaDir = new Path(tablePath, "metadata")
    fs.exists(metaDir) && fs.listStatus(metaDir).exists(_.getPath.getName.endsWith(".metadata.json"))
  }

  /** A metadata version file or the version hint (what orphan removal
    * must never reclaim — expiry owns metadata retention). */
  private[sources] def isMetadataFile(name: String): Boolean =
    name.endsWith(".metadata.json") || name == HintName

  /** Exclusive-create `v<version>.metadata.json` holding `json`, then
    * point the hint at it (advisory, as in the spec); false when the
    * version is already taken. */
  private[graft] def publish(fs: FileSystem, tablePath: String, version: Long,
      json: String): Boolean = {
    val created = try {
      val out = fs.create(new Path(tablePath, s"metadata/v$version.metadata.json"), false)
      try out.write((json + "\n").getBytes("UTF-8")) finally out.close()
      true
    } catch { case _: java.io.IOException => false }
    if (created) {
      val hint = fs.create(new Path(tablePath, s"metadata/$HintName"), true)
      try hint.write(s"$version\n".getBytes("UTF-8")) finally hint.close()
    }
    created
  }

  /** The one metadata commit (spec "Commit Conflict Resolution and
    * Retry"): build the next metadata JSON from `first` and
    * exclusive-create `v(version + 1)`; a racer that took the version
    * wins, and the loser reloads and rebuilds, up to
    * [[IcebergTableWriter.MaxCommitAttempts]] times. Reusing the op's
    * planning value for the first attempt is safe: its create fails if
    * anything committed since. Returns the value the winning attempt
    * was built from. */
  def commit(spark: SparkSession, first: IcebergMetadata)(
      next: IcebergMetadata => String): IcebergMetadata = {
    val fs = fsOf(spark, first.tablePath)
    var base = first
    var attempt = 0
    while (attempt < IcebergTableWriter.MaxCommitAttempts) {
      if (publish(fs, first.tablePath, base.version + 1, next(base))) return base
      base = loadOrEmpty(spark, first.tablePath)
      attempt += 1
    }
    throw new IllegalStateException(
      s"${first.tablePath}: lost the metadata CAS ${IcebergTableWriter.MaxCommitAttempts} times")
  }

  /** The spec's `decimal(P, S)` primitive form (space optional) —
    * shared with the writer's promotion check so the two sides can
    * never drift on what parses as a decimal. */
  private[sources] val DecimalRe = """decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r

  /** Spark type for an Iceberg primitive type name — the subset the
    * declared-schema scan handles. None = fall back to footer
    * inference. */
  private def sparkTypeOf(t: String): Option[DataType] = t match {
    case "long" => Some(LongType)
    case "int" => Some(IntegerType)
    case "double" => Some(DoubleType)
    case "float" => Some(FloatType)
    case "boolean" => Some(BooleanType)
    case "string" => Some(StringType)
    case "binary" => Some(BinaryType)
    case "date" => Some(DateType)
    case "timestamptz" => Some(TimestampType)
    case "timestamp" => Some(TimestampNTZType)
    case DecimalRe(p, s) => Some(DecimalType(p.toInt, s.toInt))
    case _ => None
  }

  /** Recursive type mapping: primitives by name, nested struct/list/
    * map through the spec's object form. */
  private def sparkTypeOfNode(tNode: JsonNode): Option[DataType] =
    if (tNode == null) None
    else if (tNode.isTextual) sparkTypeOf(tNode.asText())
    else if (!tNode.isObject) None
    else Option(tNode.get("type")).map(_.asText()).flatMap {
      case "struct" =>
        val fns = tNode.get("fields")
        if (fns == null || !fns.isArray) None
        else {
          val inner = Seq.newBuilder[StructField]
          var innerOk = true
          fns.forEach { f =>
            sparkTypeOfNode(f.get("type")) match {
              case Some(dt) => inner += StructField(f.get("name").asText(), dt, nullable = true)
              case None => innerOk = false
            }
          }
          val got = inner.result()
          if (innerOk && got.nonEmpty) Some(StructType(got)) else None
        }
      case "list" =>
        sparkTypeOfNode(tNode.get("element")).map(ArrayType(_, containsNull = true))
      case "map" =>
        for {
          k <- sparkTypeOfNode(tNode.get("key"))
          v <- sparkTypeOfNode(tNode.get("value"))
        } yield MapType(k, v, valueContainsNull = true)
      case _ => None
    }
}
