package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{Partitioner, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** How every table-format writer (Hudi, Delta, Iceberg) lands its
  * parquet files: on the write tasks, each file created exclusively at
  * its final path through Spark's own parquet `OutputWriterFactory` —
  * what `df.write.parquet` writes through, so a landed file has the
  * footer Spark's own write of the same rows gives — with its rows,
  * bytes and modification time counted as it is written. There is no
  * staging directory, listing, rename or driver footer pass.
  *
  * Rows arrive grouped: each carries its data columns, then its group
  * in `_g_fid` and the group's partition directory in `_g_part`; each
  * group becomes one file. A format supplies two things:
  *  - the path of each group's file, relative to the table ([[PathOf]],
  *    evaluated in the write task once per file);
  *  - optionally, per-file stats ([[StatsOf]]), read in the write task
  *    right after the file is closed, from the footer it just wrote.
  * A group a [[GroupSource]] names is written from the rows it gives
  * (Hudi's file-group merge) instead of the group's own rows.
  *
  * A field's `parquet.field.id` metadata lands as its parquet field
  * id: the write job's Hadoop conf turns the id write on whenever the
  * schema carries ids (the session's setting is never touched).
  *
  * A failed task deletes its half-written file; files other tasks
  * landed stay as uncommitted debris no table version names, which
  * the formats' orphan sweeps (Delta `vacuum`, Iceberg
  * `removeOrphanFiles`) reclaim past their retention.
  */
object FileLanding {

  /** One landed file: its group's partition directory and id, its path
    * relative to the table, the rows and bytes written, its
    * modification time, and the stats the format asked for. */
  final case class Landed[+S](part: String, group: String, rel: String, rows: Long,
      bytes: Long, modTime: Long, stats: Option[S])

  /** (partition directory, group id, the extension Spark's parquet
    * writer gives, e.g. `.snappy.parquet`) => the file's path relative
    * to the table. */
  type PathOf = (String, String, String) => String

  /** Reads a landed file's stats from its footer, in the write task. */
  type StatsOf[S] = (Configuration, Path) => S

  /** Supplies the rows of the groups it rewrites, in the write task:
    * `rowsOf(group, rows, conf)` is None for a group written from its
    * own rows. Every file is written with `schema`. */
  trait GroupSource extends Serializable {
    def schema: StructType
    def rowsOf(group: String, rows: Iterator[InternalRow], conf: Configuration): Option[Iterator[InternalRow]]
  }

  /** Sends each row to the write task its key's first field names. */
  private final case class TaskPartitioner(numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[(Int, String)]._1
  }

  /** Writes parquet files of `schema` through Spark's own writer
    * factory, set up once on the driver and shipped to the tasks. */
  private final class FileWriter(factory: OutputWriterFactory,
      conf: org.apache.spark.broadcast.Broadcast[DeltaDv.SerializableHadoopConf],
      schema: StructType) extends Serializable {

    def hadoopConf: Configuration = conf.value.value

    /** Write `rows` as the file at `path`, created exclusively: a file
      * already there fails the write and is left as it is. A write
      * that fails after the create deletes its half-written file
      * before it rethrows. Returns (rows, bytes, modification time). */
    def write(path: Path, rows: Iterator[InternalRow], attempt: TaskAttemptID): (Long, Long, Long) = {
      val fs = path.getFileSystem(hadoopConf)
      val out = factory.newInstance(path.toString, schema, new TaskAttemptContextImpl(hadoopConf, attempt))
      var n = 0L
      try {
        rows.foreach { r => out.write(r); n += 1 }
        out.close()
      } catch {
        case e: Throwable =>
          try out.close() catch { case _: Throwable => }
          fs.delete(path, false)
          throw e
      }
      val st = fs.getFileStatus(path)
      (n, st.getLen, st.getModificationTime)
    }

    /** Land `rows` as group `group` of partition directory `part`. */
    def land[S](tablePath: String, part: String, group: String, rows: Iterator[InternalRow],
        attempt: TaskAttemptID, pathOf: PathOf, statsOf: Option[StatsOf[S]]): Landed[S] = {
      val ext = factory.getFileExtension(new TaskAttemptContextImpl(hadoopConf, attempt))
      val rel = pathOf(part, group, ext)
      val path = new Path(tablePath, rel)
      val (n, bytes, modTime) = write(path, rows, attempt)
      Landed(part, group, rel, n, bytes, modTime, statsOf.map(_(hadoopConf, path)))
    }
  }

  private object FileWriter {
    def apply(spark: SparkSession, schema: StructType): FileWriter = {
      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      // prepareWrite copies the session's field-id setting into the
      // job conf; ParquetWriteSupport reads it from there in the task
      val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
      if (ParquetUtils.hasFieldIds(schema))
        job.getConfiguration.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "true")
      new FileWriter(factory, spark.sparkContext.broadcast(
        new DeltaDv.SerializableHadoopConf(job.getConfiguration)), schema)
    }
  }

  private def attemptOf(ctx: TaskContext): TaskAttemptID =
    new TaskAttemptID("graft", ctx.stageId(), TaskType.MAP, ctx.partitionId(), ctx.attemptNumber())

  /** Land `rows` — data columns, then `_g_fid` and `_g_part` — as one
    * file per group, written by one write task straight at its final
    * path (`pathOf`), its stats read there (`statsOf`).
    *
    * Placement: by default each group's rows must already sit
    * together in one task of `rows` (the callers' repartitions and
    * local sorts); with `steerTo` = n, `rows` also carries `_g_task`
    * and only its rows shuffle, to that task of n, each task's rows
    * sorted by group. Every file is written with `source`'s schema
    * when given, else with the data columns' own. A task with no rows
    * lands nothing. Returns one [[Landed]] per file, in task order.
    */
  def land[S](rows: DataFrame, tablePath: String, pathOf: PathOf,
      statsOf: Option[StatsOf[S]] = None, source: Option[GroupSource] = None,
      steerTo: Int = 0): Seq[Landed[S]] = {
    val spark = rows.sparkSession
    val internal = Set("_g_fid", "_g_part", "_g_task")
    val dataCols = rows.columns.filterNot(internal).toSeq
    val placed = rows.select(dataCols.map(col) ++ Seq(col("_g_fid"), col("_g_part")) ++
      (if (steerTo > 0) Seq(col("_g_task")) else Nil): _*)
    val schema = source.fold(StructType(placed.schema.fields.take(dataCols.size)))(_.schema)
    val nData = dataCols.size
    val writer = FileWriter(spark, schema)
    val qe = placed.queryExecution
    val written = SQLExecution.withNewExecutionId(qe, Some(s"land files under $tablePath")) {
      val input: RDD[InternalRow] =
        if (steerTo == 0) qe.toRdd
        else new ShuffledRDD[(Int, String), InternalRow, InternalRow](
            qe.toRdd.map(r => ((r.getInt(nData + 2), r.getUTF8String(nData).toString), r.copy())),
            TaskPartitioner(steerTo))
          .setKeyOrdering(Ordering.by[(Int, String), String](_._2))
          .values
      spark.sparkContext.runJob(input, (ctx: TaskContext, it: Iterator[InternalRow]) => {
        val attempt = attemptOf(ctx)
        val toData = UnsafeProjection.create(schema.fields.toIndexedSeq.zipWithIndex.map {
          case (f, i) => BoundReference(i, f.dataType, nullable = true) })
        val landed = Seq.newBuilder[Landed[S]]
        val rowsIn = it.buffered
        while (rowsIn.hasNext) {
          val fid = rowsIn.head.getUTF8String(nData).clone()
          val part = rowsIn.head.getUTF8String(nData + 1).toString
          val group = new Iterator[InternalRow] {
            def hasNext: Boolean = rowsIn.hasNext && rowsIn.head.getUTF8String(nData) == fid
            def next(): InternalRow = rowsIn.next()
          }.map(toData)
          landed += (source.flatMap(_.rowsOf(fid.toString, group, writer.hadoopConf)) match {
            case None => writer.land(tablePath, part, fid.toString, group, attempt, pathOf, statsOf)
            case Some(merged) => GraftBridge.countingTaskInput(
              writer.land(tablePath, part, fid.toString, merged, attempt, pathOf, statsOf))
          })
        }
        landed.result()
      })
    }
    written.toSeq.flatten
  }

  /** Land `rows` — data columns, then each row's partition directory
    * in `_g_part` ("" when unpartitioned) — as one file per (write
    * task, group): the files Spark's own partitioned write of `rows`
    * gives, with no added shuffle. A group is a partition directory
    * unless `group` names another id per row. A task's rows may span
    * groups: each group's rows are put together, as Spark's own
    * partitioned write sorts them. `group` may read
    * `spark_partition_id()` when `rows` keeps its projections on the
    * write tasks ([[onWriteTasks]]). With no rows, a partitioned write
    * lands nothing and an unpartitioned one lands one schema-only
    * file, as Spark writes a schema-only part file for an empty
    * unpartitioned write.
    */
  def landPerTask[S](rows: DataFrame, tablePath: String, partitioned: Boolean, pathOf: PathOf,
      statsOf: Option[StatsOf[S]] = None, group: Option[Column] = None): Seq[Landed[S]] = {
    val grouped = rows.withColumn("_g_fid", group.getOrElse(col("_g_part")))
    val landed = land(if (partitioned) grouped.sortWithinPartitions("_g_fid") else grouped,
      tablePath, pathOf, statsOf)
    if (landed.nonEmpty || partitioned) landed
    else {
      val s = rows.sparkSession
      import s.implicits._
      // the empty group's id, from a one-row local relation the
      // optimizer folds on the driver
      val fid = Seq("").toDF("_g_part").select(group.getOrElse(col("_g_part"))).head().getString(0)
      landEmpty(s, StructType(rows.schema.filterNot(_.name == "_g_part")), tablePath,
        Seq("" -> fid), pathOf, statsOf)
    }
  }

  /** Land a schema-only file for each (partition directory, group) of
    * `groups` — what a write of no rows commits — from one write task. */
  def landEmpty[S](spark: SparkSession, schema: StructType, tablePath: String,
      groups: Seq[(String, String)], pathOf: PathOf,
      statsOf: Option[StatsOf[S]] = None): Seq[Landed[S]] =
    if (groups.isEmpty) Nil
    else {
      val writer = FileWriter(spark, schema)
      spark.sparkContext.runJob(spark.sparkContext.parallelize(groups, 1),
        (ctx: TaskContext, it: Iterator[(String, String)]) => it.map { case (part, fid) =>
          writer.land(tablePath, part, fid, Iterator.empty, attemptOf(ctx), pathOf, statsOf)
        }.toVector).toSeq.flatten
    }

  /** Land `df` as ONE parquet file at `dst`, replacing any file there:
    * one write task writes it under a hidden name beside `dst` and
    * renames it over `dst`. Returns the file's length. */
  def landFile(df: DataFrame, dst: Path): Long = {
    val spark = df.sparkSession
    val one = df.coalesce(1)
    val writer = FileWriter(spark, one.schema)
    val (dir, name) = (dst.getParent.toString, dst.getName)
    val qe = one.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(s"land $dst")) {
      val rdd = qe.toRdd
      spark.sparkContext.runJob(
        if (rdd.partitions.isEmpty) spark.sparkContext.parallelize(Seq.empty[InternalRow], 1) else rdd,
        (ctx: TaskContext, it: Iterator[InternalRow]) => {
          val (tmp, target) = (new Path(dir, s".$name.${java.util.UUID.randomUUID()}.tmp"), new Path(dir, name))
          val (_, bytes, _) = writer.write(tmp, it, attemptOf(ctx))
          val fs = target.getFileSystem(writer.hadoopConf)
          fs.delete(target, false)
          if (!fs.rename(tmp, target)) {
            fs.delete(tmp, false)
            throw new java.io.IOException(s"failed to land $tmp as $target")
          }
          bytes
        }).head
    }
  }

  /** A row's hive partition directory `c1=v1/c2=v2` over (name, value)
    * pairs, escaped the way Spark's partitioned write names it (null
    * and empty values take `__HIVE_DEFAULT_PARTITION__`); "" when
    * there are none. */
  def partitionDirOf(parts: Seq[(String, Column)]): Column =
    if (parts.isEmpty) lit("")
    else concat_ws("/", parts.map { case (name, value) =>
      val dir = udf((v: String) => ExternalCatalogUtils.getPartitionPathString(name, v))
      dir(value.cast("string"))
    }: _*)

  /** The orphan sweep under Delta `vacuum` and Iceberg
    * `removeOrphanFiles`: delete every file under `root` that `named`
    * (given its qualified path) does not claim and whose modification
    * time is before `horizon` — a hidden `.crc` sidecar counting as
    * part of its file — then every directory below `root` left empty.
    * Top-level entries `skip` names are left alone. Returns the
    * deleted paths, relative to `root`. */
  def sweepUnnamed(fs: FileSystem, root: Path, named: String => Boolean, horizon: Long,
      skip: String => Boolean = _ => false): Seq[String] = {
    val rootStr = fs.makeQualified(root).toString.stripSuffix("/")
    val deleted = Seq.newBuilder[String]
    def sweep(dir: Path, top: Boolean): Unit = fs.listStatus(dir).foreach { st =>
      val (p, n) = (fs.makeQualified(st.getPath), st.getPath.getName)
      if (top && skip(n)) ()
      else if (st.isDirectory) {
        sweep(p, top = false)
        if (fs.listStatus(p).isEmpty) fs.delete(p, false): Unit
      } else {
        val of = if (n.startsWith(".") && n.endsWith(".crc"))
          new Path(p.getParent, n.stripPrefix(".").stripSuffix(".crc")) else p
        if (!named(of.toString) && st.getModificationTime < horizon && fs.delete(p, false))
          deleted += p.toString.stripPrefix(rootStr + "/")
      }
    }
    sweep(root, top = true)
    deleted.result()
  }

  /** `df`, with the projections a writer adds kept on the write
    * tasks: a local relation (driver-side rows) gets a coalesce to no
    * fewer partitions than its local scan makes — no shuffle, the same
    * tasks — which stops the optimizer from folding later projections
    * into it on the driver, row by row and without codegen, where
    * `spark_partition_id()` is 0 for every row. */
  def onWriteTasks(df: DataFrame): DataFrame = df.queryExecution.optimizedPlan match {
    case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
      df.coalesce(math.max(l.data.length, 1))
    case _ => df
  }
}
