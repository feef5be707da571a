package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The local-filesystem calls a block of work made, as (call, path)
  * pairs: `open`, `listStatus` and `getFileStatus` (what `exists`
  * makes), the path without its scheme — what a test pins an
  * operation's metadata reads with. */
final case class FsCalls(calls: Seq[(String, String)]) {
  def count(call: String, path: String): Int = calls.count(_ == (call, path))
}

/** A callback [[FsCalls.of]] runs once, just before the `k`-th `open`
  * (counting from 1) of a path for which `file` holds — what a test
  * injects a racing writer at one read of an operation with. The
  * callback's own calls are neither recorded nor counted. */
final case class BeforeOpen(file: String => Boolean, k: Int, callback: () => Unit)

object FsCalls {

  /** Runs `body` with `file:` paths served by [[CountingLocalFileSystem]]:
    * the session's Hadoop conf names it as the `file` scheme's
    * filesystem, uncached so every lookup builds a counting instance,
    * and both settings are restored afterwards. Calls from filesystems
    * a caller already held are not seen. `beforeOpen`, when given,
    * fires at most once during `body`. */
  def of(spark: SparkSession, beforeOpen: Option[BeforeOpen] = None)(body: => Unit): FsCalls = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[CountingLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    CountingLocalFileSystem.calls.clear()
    CountingLocalFileSystem.opensSeen.set(0)
    CountingLocalFileSystem.beforeOpen = beforeOpen
    CountingLocalFileSystem.recording = true
    try body
    finally {
      CountingLocalFileSystem.recording = false
      CountingLocalFileSystem.beforeOpen = None
      saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
    import scala.jdk.CollectionConverters._
    FsCalls(CountingLocalFileSystem.calls.asScala.toSeq)
  }
}

/** The local filesystem, recording the reads made through it while
  * [[FsCalls.of]] runs, and running its [[BeforeOpen]] callback. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem.{record, runBeforeOpen}

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    record("open", f); runBeforeOpen(f); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    record("listStatus", f); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    record("getFileStatus", f); super.getFileStatus(f)
  }
}

object CountingLocalFileSystem {
  @volatile private[graft] var recording = false
  private[graft] val calls = new ConcurrentLinkedQueue[(String, String)]()
  @volatile private[graft] var beforeOpen: Option[BeforeOpen] = None
  private[graft] val opensSeen = new AtomicInteger(0)

  private def runBeforeOpen(f: Path): Unit = beforeOpen.foreach { b =>
    if (recording && b.file(f.toUri.getPath) && opensSeen.incrementAndGet() == b.k) {
      beforeOpen = None
      recording = false
      try b.callback() finally recording = true
    }
  }

  private def record(call: String, f: Path): Unit =
    if (recording) calls.add((call, f.toUri.getPath)): Unit
}
