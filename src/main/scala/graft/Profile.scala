package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scratch profiling/plan-review main: timings and formatted plans for
  * queries under tuning. Not part of the driver contract.
  * Args: query names to explain+time (default: a headline set).
  *
  * Matches the Bench methodology (the whole QueryDef.run — fixture
  * lifecycle INCLUDED — plus the terminal count() inside the timer),
  * because for the lifecycle queries the fixture build IS the cost.
  * SPARK_GRAFT_JOBS=1 additionally prints a per-Spark-job breakdown
  * (duration + callsite) so time can be attributed to writer phases.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate()
    val explain = sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")
    val jobs = sys.env.get("SPARK_GRAFT_JOBS").contains("1")
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(2)

    final case class JobRec(id: Int, sec: Double, site: String, tasks: Int)
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
    if (jobs) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val site = js.stageInfos.lastOption.map(_.name.takeWhile(_ != '+').trim)
            .getOrElse("?")
          val nTasks = js.stageInfos.map(_.numTasks).sum
          starts.put(js.jobId, (System.nanoTime(), site, nTasks)): Unit
        }
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(starts.remove(je.jobId)).foreach { case (t0, site, nTasks) =>
            jobLog.add(JobRec(je.jobId, (System.nanoTime() - t0) / 1e9, site, nTasks)): Unit
          }
        }
      })
    // Per-SQL-execution attribution: eagerly-executed write commands
    // lose their callsite (jobs submitted from the command thread pool
    // all land on CompletableFuture.java) — a QueryExecutionListener
    // still sees every execution with its full wall time and the
    // write's destination path, which names the writer phase.
    // Stage-level view: task-time sum + launch->done wall per stage
    // name, catching where inside a multi-stage write the time goes.
    final case class StageRec(id: Int, name: String, wallSec: Double, taskSec: Double, tasks: Int)
    val stageLog = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
    if (jobs) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val wall = (for (a <- si.submissionTime; b <- si.completionTime)
            yield (b - a) / 1e3).getOrElse(0.0)
          // taskMetrics is null for a never-submitted stage (ADVICE r19)
          val taskSec = Option(si.taskMetrics).map(_.executorRunTime / 1e3).getOrElse(0.0)
          stageLog.add(StageRec(si.stageId, si.name.takeWhile(_ != '+').trim, wall, taskSec,
            si.numTasks)): Unit
        }
      })
    final case class ExecRec(sec: Double, what: String)
    val execLog = new java.util.concurrent.ConcurrentLinkedQueue[ExecRec]()
    if (jobs) spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        private def describe(qe: org.apache.spark.sql.execution.QueryExecution): String = {
          val plan = qe.executedPlan
          val cmd = qe.analyzed match {
            case c: org.apache.spark.sql.catalyst.plans.logical.Command => c.nodeName
            case _ => plan.nodeName
          }
          val dest = qe.analyzed.collectFirst {
            case i: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand =>
              val p = i.outputPath.toString
              p.split('/').takeRight(3).mkString("/")
          }
          cmd + dest.map(" -> " + _).getOrElse("")
        }
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          execLog.add(ExecRec(durationNs / 1e9, s"$funcName ${describe(qe)}")): Unit
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      })

    // Same untimed warm-up as Bench so first-query JIT does not land
    // on the first profiled query.
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      val w = spark.read.parquet(s"$sfDir/nation.parquet")
      w.join(w.selectExpr("n_nationkey as k"), w("n_nationkey") === col("k"))
        .groupBy("n_regionkey").count().collect()
    } catch { case _: Throwable => () }

    def hygiene(): Unit = try {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    } catch { case _: Throwable => () }

    def time(name: String): Unit = {
      val q = Queries.all(name)
      var best = Double.MaxValue
      for (rep <- 1 to reps) {
        // deliver every event of the previous rep (and its hygiene)
        // before the logs reset, so none lands in this rep's view
        if (jobs) org.apache.spark.ListenerBusDrain(spark.sparkContext)
        jobLog.clear()
        execLog.clear()
        stageLog.clear()
        val t0 = System.nanoTime()
        val d = q.run(spark, sfDir)
        val built = (System.nanoTime() - t0) / 1e9
        val n = d.count()
        val t1 = (System.nanoTime() - t0) / 1e9
        best = math.min(best, t1)
        println(f"[profile] $name%-26s rep=$rep total=$t1%7.2f s  build=$built%7.2f s  rows=$n")
        if (jobs && rep == reps) {
          // every job, stage and execution event of this rep delivered
          org.apache.spark.ListenerBusDrain(spark.sparkContext)
          // aggregate by callsite: the writer phases show up as sites
          val bySite = jobLog.toArray(Array.empty[JobRec]).groupBy(_.site)
            .map { case (s, rs) => (s, rs.map(_.sec).sum, rs.length, rs.map(_.tasks).sum) }
            .toSeq.sortBy(-_._2)
          bySite.take(25).foreach { case (s, sec, nj, nt) =>
            println(f"    [jobs] $sec%7.2f s  n=$nj%-3d tasks=$nt%-5d $s")
          }
          // individual jobs in submission order: multi-job operations
          // (AQE stage materialization, write commits) read as a
          // timeline instead of one collapsed callsite bucket
          jobLog.toArray(Array.empty[JobRec]).sortBy(_.id).foreach { j =>
            println(f"    [job] #${j.id}%-4d ${j.sec}%7.2f s tasks=${j.tasks}%-5d ${j.site}")
          }
          println(f"    [jobs] job-sum=${jobLog.toArray(Array.empty[JobRec]).map(_.sec).sum}%7.2f s of $t1%7.2f s")
          // the per-execution view (wall time incl. driver-side work)
          val byExec = execLog.toArray(Array.empty[ExecRec]).groupBy(_.what)
            .map { case (w, rs) => (w, rs.map(_.sec).sum, rs.length) }
            .toSeq.sortBy(-_._2)
          byExec.take(30).foreach { case (w, sec, ne) =>
            println(f"    [exec] $sec%7.2f s  n=$ne%-3d $w")
          }
          println(f"    [exec] exec-sum=${execLog.toArray(Array.empty[ExecRec]).map(_.sec).sum}%7.2f s of $t1%7.2f s")
          val byStage = stageLog.toArray(Array.empty[StageRec]).groupBy(_.name)
            .map { case (s, rs) =>
              (s, rs.map(_.wallSec).sum, rs.map(_.taskSec).sum, rs.length, rs.map(_.tasks).sum) }
            .toSeq.sortBy(-_._2)
          byStage.take(20).foreach { case (s, wall, task, ns, nt) =>
            println(f"    [stage] wall=$wall%7.2f s task-sum=$task%7.2f s  n=$ns%-3d tasks=$nt%-5d $s")
          }
          stageLog.toArray(Array.empty[StageRec]).sortBy(_.id).foreach { s =>
            println(f"    [st] #${s.id}%-4d wall=${s.wallSec}%6.2f task-sum=${s.taskSec}%6.2f tasks=${s.tasks}%-5d ${s.name.take(60)}")
          }
        }
        if (explain && rep == reps) { println(s"===== $name ====="); d.explain("formatted") }
        hygiene()
      }
      println(f"[profile] $name%-26s best=$best%7.2f s")
    }

    val names = if (args.nonEmpty) args.toSeq
      else Seq("q1_agg", "q3_top_orders", "q5_star_join", "dedup_minhash_lsh",
        "dedup_ngram_jaccard", "dedup_simhash", "q_upsert_merge", "sim_bruteforce_topk")
    names.foreach(time)
    spark.stop()
  }
}
