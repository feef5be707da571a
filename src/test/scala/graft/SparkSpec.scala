package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite (JVM is forked once by
  * sbt; building a session per spec would dominate test time).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  val sfDir = "/root/testdata/sf0.001"

  def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  /** The Spark jobs `body` runs ([[JobBudget]]). */
  def sparkJobs(body: => Unit): Int = JobBudget.of(spark)(body).jobs

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }
}
