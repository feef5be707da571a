package graft.perfbench

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.{ListenerDrain, SparkContext}
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Spark engine counters of one operation instance. */
final class JobCounters {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var schedWaitMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  val jobIntervals = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall covered by at least one of the operation's jobs. */
  def jobWallMs: Long = Trace.union(jobIntervals.toSeq)
}

/** A SparkListener that attributes every job, stage and task to the
  * operation instance whose job group was set on the submitting
  * thread. Jobs without a group (a thread graft started from a pool
  * made before the group was set) are counted under "unattributed".
  */
final class Probe(sc: SparkContext) extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, JobCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  private val jobGroup = new ConcurrentHashMap[Int, (String, Long)]()

  private def counters(group: String) = byGroup.computeIfAbsent(group, _ => new JobCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(Probe.Unattributed)
    jobGroup.put(e.jobId, (group, e.time))
    e.stageIds.foreach(stageGroup.put(_, group))
    val c = counters(group)
    c.synchronized(c.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach { case (group, start) =>
      val c = counters(group)
      c.synchronized(c.jobIntervals += ((start, e.time)))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitted.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageGroup.getOrDefault(e.stageId, Probe.Unattributed))
    val submitted = stageSubmitted.getOrDefault(e.stageId, e.taskInfo.launchTime)
    c.synchronized {
      c.tasks += 1
      c.taskMs += e.taskInfo.duration
      c.schedWaitMs += math.max(0L, e.taskInfo.launchTime - submitted)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = counters(stageGroup.getOrDefault(e.stageInfo.stageId, Probe.Unattributed))
    // taskMetrics is null for a stage that never ran a task attempt
    Option(e.stageInfo.taskMetrics).foreach { m =>
      c.synchronized {
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Counters per job group, read after the listener bus has delivered
    * every event posted so far.
    */
  def snapshot(): Map[String, JobCounters] = {
    ListenerDrain(sc)
    byGroup.asScala.toMap
  }
}

object Probe {
  val Unattributed = "unattributed"
}

/** FileSystem calls and bytes written, process-wide, so a delta
  * belongs to one operation only while a single client runs. The calls
  * are those made through [[CountingLocalFileSystem]] (Hadoop's own
  * statistics count no calls on the local filesystem); the bytes come
  * from Hadoop's statistics.
  */
final case class FsStats(readOps: Long, writeOps: Long, bytesWritten: Long) {
  def -(o: FsStats): FsStats = FsStats(readOps - o.readOps, writeOps - o.writeOps,
    bytesWritten - o.bytesWritten)
}

object FsStats {
  def now(): FsStats = FsStats(CountingLocalFileSystem.reads.get, CountingLocalFileSystem.writes.get,
    FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum)
}

/** The local filesystem, counting the calls made through it: opens,
  * listings and status lookups as reads; creates, renames, deletes and
  * directory creations as writes. Installed as `fs.file.impl` in traced
  * runs only.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem.{reads, writes}

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    reads.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    reads.incrementAndGet(); super.getFileStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingLocalFileSystem {
  val reads = new AtomicLong()
  val writes = new AtomicLong()
}
