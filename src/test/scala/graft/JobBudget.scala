package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block of work ran, and the task count of each
  * stage that completed in it — what a test pins a write's or a
  * report's job budget with. */
final case class JobBudget(jobs: Int, stageTasks: Seq[Int])

object JobBudget {

  /** Runs `body` with a listener counting jobs and completed stages.
    * The listener bus is drained before the listener goes on and
    * before it comes off, so no earlier event counts and no event of
    * `body` is missed. */
  def of(spark: SparkSession)(body: => Unit): JobBudget = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageTasks.add(e.stageInfo.numTasks): Unit
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    JobBudget(jobs.get(), stageTasks.asScala.toSeq)
  }
}
