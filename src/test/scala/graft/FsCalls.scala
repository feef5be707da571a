package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The local-filesystem calls a block of work made, as (call, path)
  * pairs: `open`, `listStatus` and `getFileStatus` (what `exists`
  * makes), the path without its scheme — what a test pins an
  * operation's metadata reads with. */
final case class FsCalls(calls: Seq[(String, String)]) {
  def count(call: String, path: String): Int = calls.count(_ == (call, path))
}

object FsCalls {

  /** Runs `body` with `file:` paths served by [[CountingLocalFileSystem]]:
    * the session's Hadoop conf names it as the `file` scheme's
    * filesystem, uncached so every lookup builds a counting instance,
    * and both settings are restored afterwards. Calls from filesystems
    * a caller already held are not seen. */
  def of(spark: SparkSession)(body: => Unit): FsCalls = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[CountingLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    CountingLocalFileSystem.calls.clear()
    CountingLocalFileSystem.recording = true
    try body
    finally {
      CountingLocalFileSystem.recording = false
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
  * [[FsCalls.of]] runs. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem.record

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    record("open", f); super.open(f, bufferSize)
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

  private def record(call: String, f: Path): Unit =
    if (recording) calls.add((call, f.toUri.getPath)): Unit
}
