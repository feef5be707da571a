package graft.perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Entry point of the benchmark:
  * `--workload <report_full|ingest_hudi|ingest_daily|mixed_rw> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> [--spans <file>]`.
  *
  * Prints human-readable lines, then as its last stdout line one JSON
  * object: `correct`, `attempted`, `failed` and `metrics` — the
  * end-to-end metrics of an untraced run, or the per-layer metrics of a
  * traced one.
  */
object Main {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
    }
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt, trace, need("work"),
      Metrics.DefaultScale, kv.get("spans"))
    require(Metrics.Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be ≥ 1")
    a
  }

  /** graft's own session on `local[nproc]`; a traced run also counts
    * local filesystem calls.
    */
  def session(nproc: Int, traced: Boolean): SparkSession = {
    val b = GraftSession.builder(s"local[$nproc]", nproc)
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = session(Runtime.getRuntime.availableProcessors, args.trace)
    val result = try {
      val trace = new Trace
      val probe = if (args.trace) Some(new Probe(spark.sparkContext)) else None
      val bench = new Bench(spark, args, trace, probe)
      bench.run()
      args.spans.filter(_ => args.trace).foreach(trace.write)
      val conf = spark.conf.getAll.filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" }
      println(s"conf ${conf.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
      Metrics.summarize(args, bench, probe)
    } finally spark.stop()
    println(result)
  }

}

/** Turns a run's records into the printed metrics. Times are medians
  * over operation instances of the measured window.
  */
object Metrics {
  val Workloads: Seq[String] = Seq("report_full", "ingest_hudi", "ingest_daily", "mixed_rw")
  /** Base orders rows: sf0.01-sized (15k orders, 1.5k customers). */
  val DefaultScale = 15000

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cycle_s.p50" -> "s", "space_amp" -> "x", "heap_retained_mb" -> "MB")

  private val Fmts = Bench.Formats
  private def opsOf(fmts: Seq[String]): Seq[String] =
    Bench.FullOp +: (fmts.map(f => s"upsert.$f") ++ fmts.map(f => s"inc_report.$f"))
  private def reportOpsOf(fmts: Seq[String]) = Bench.FullOp +: fmts.map(f => s"inc_report.$f")
  private val Ops = opsOf(Fmts)
  private val ReportOps = reportOpsOf(Fmts)

  /** Every per-layer metric of the ops on tables of `fmts`. */
  private def perLayerOf(fmts: Seq[String]): Seq[(String, String)] = {
    val ops = opsOf(fmts)
    val reportOps = reportOpsOf(fmts)
    val writeOps = Bench.FullOp +: fmts.map(f => s"upsert.$f")
    Seq("jobs" -> "count", "tasks" -> "count", "task_s" -> "s", "job_wall_s" -> "s",
      "core_util" -> "frac", "sched_wait_s" -> "s").flatMap { case (m, u) => ops.map(o => s"spark.$m.$o" -> u) } ++
    Seq("shuffle_bytes", "input_bytes").flatMap(m => writeOps.map(o => s"spark.$m.$o" -> "B")) ++
    reportOps.map(o => s"plans.plan_s.$o" -> "s") ++
    Seq("sources.open_s.orders" -> "s", "sources.open_s.customer" -> "s") ++
    fmts.map(f => s"sources.pull_s.$f" -> "s") ++
    Seq("sources.commit_token_s" -> "s") ++
    fmts.map(f => s"sources.upsert_s.$f" -> "s") ++
    fmts.map(f => s"sources.upsert.driver_s.$f" -> "s") ++
    fmts.map(f => s"sources.files_written.$f" -> "count") ++
    fmts.map(f => s"sources.bytes_written.$f" -> "B") ++
    fmts.map(f => s"sources.fs_write_ops.$f" -> "count") ++
    ops.map(o => s"sources.fs_read_ops.$o" -> "count") ++
    fmts.map(f => s"sources.table_files.$f" -> "count") ++
    Seq("sources.write_amp" -> "x") ++
    reportOps.map(o => s"pipeline.report_write_s.$o" -> "s") ++
    reportOps.map(o => s"pipeline.report_bytes.$o" -> "B") ++
    Seq("pipeline.notify_s" -> "s", "trace.overhead_s" -> "s")
  }

  /** Every per-layer metric a traced run computes. */
  val AllPerLayer: Seq[(String, String)] = perLayerOf(Fmts)
  /** The per-layer metrics of the result line (BENCHMARK.json): those the
    * benchmark's workloads, report_full and ingest_hudi, can move. Hudi
    * is the only table format they write; the other formats' metrics
    * (ingest_daily) print on `layer <name> <value> <unit>` lines.
    */
  val PerLayer: Seq[(String, String)] = perLayerOf(Seq("hudi"))

  /** Units of the count metrics, which must repeat exactly on a seed. */
  val CountUnits: Set[String] = Set("count", "B")

  /** Count metrics that do not repeat on a seed, so they are not used as
    * counts. Hudi stamps every row with its commit instant and Delta and
    * Iceberg write commit times and snapshot ids into their metadata, so
    * their byte sizes move with the clock; Hudi's upsert also makes a
    * varying number of filesystem calls.
    */
  val NonRepeating: Set[String] = Set(
    "spark.shuffle_bytes.upsert.hudi", "spark.shuffle_bytes.upsert.delta",
    "spark.input_bytes.report_full",
    "spark.input_bytes.upsert.hudi", "spark.input_bytes.upsert.delta",
    "sources.bytes_written.hudi", "sources.bytes_written.delta", "sources.bytes_written.iceberg",
    "sources.fs_write_ops.hudi", "sources.fs_read_ops.upsert.hudi")

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** "p50 … pNN" line for a sample: the tail is the highest whole
    * percentile with at least ten samples beyond it, when there is one.
    */
  def distribution(name: String, xs: Seq[Double]): String = {
    val tail = Some(100 - math.ceil(1000.0 / math.max(xs.size, 1)).toInt).filter(_ >= 50)
      .map(p => f" p$p=${quantile(xs, p / 100.0)}%.4f").getOrElse(" (too few samples for a tail)")
    f"$name n=${xs.size} p50=${median(xs)}%.4f$tail"
  }

  def summarize(args: Args, bench: Bench, probe: Option[Probe]): String = {
    val rec = bench.rec
    val ops = rec.ops.asScala.toVector
    val okOps = ops.filter(_.ok)
    val failed = rec.failures.size
    ops.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, os) =>
      println(distribution(s"op $name wall_s", os.map(_.wall)))
    }
    val cycles = rec.cycles.asScala.toVector
    val traced = bench.cycleTraced.asScala.toVector
    val untracedCycles = cycles.zip(traced).collect { case (c, false) => c }
    println(distribution("cycle_s", untracedCycles))
    println(s"setup_s samples ${rec.setupSeconds.mkString(" ")}")
    println(f"host steal ${100 * rec.stealShare}%.1f%% of CPU time during the measured cycles")
    rec.failures.asScala.foreach(f => println(s"failed $f"))

    val metrics: Seq[(String, String, Double)] =
      if (!args.trace) endToEnd(args, rec, okOps, untracedCycles)
      else perLayer(bench, probe.get, okOps, cycles, traced)
    val body = metrics.map { case (name, unit, v) =>
      val value = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$name": {"value": $value, "unit": "$unit"}"""
    }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": ${math.max(1L, rec.attempted.get)}, "failed": $failed, "metrics": {$body}}"""
  }

  private def endToEnd(args: Args, rec: Record, ops: Seq[OpRecord],
      cycles: Seq[Double]): Seq[(String, String, Double)] = {
    // a closed loop's throughput: only mixed_rw's three readers make it
    // more than the inverse of the cycle time
    val reports = ops.count(o => o.name == Bench.FullOp || o.name.startsWith("inc_report."))
    val window = if (args.workload == "mixed_rw") rec.measuredSeconds else cycles.sum
    println(s"reports_per_min ${60.0 * reports / window}")
    val values = Map(
      "setup_s" -> median(rec.setupSeconds),
      "cycle_s.p50" -> median(cycles),
      "space_amp" -> rec.spaceAmp,
      "heap_retained_mb" -> rec.heapMb)
    EndToEnd.map { case (n, u) => (n, u, values(n)) }
  }

  private def perLayer(bench: Bench, probe: Probe, ops: Seq[OpRecord], cycles: Seq[Double],
      traced: Seq[Boolean]): Seq[(String, String, Double)] = {
    val trace = bench.trace
    val rec = bench.rec
    val tracedIds = trace.all.filter(_.parent == 0L).map(_.op).toSet
    val tops = ops.filter(o => tracedIds(o.id))
    val counters = probe.snapshot()
    println(s"spark.unattributed_jobs ${counters.get(Probe.Unattributed).map(_.jobs).getOrElse(0L)}")
    val none = new JobCounters
    def inst(op: String) =
      tops.filter(_.name == op).sortBy(_.id).map(o => (o, counters.getOrElse(o.group, none)))
    def extra(op: String, key: String, id: Long) =
      rec.extras.asScala.collectFirst { case (`op`, `key`, `id`, v) => v }
    def spans(op: String, name: String) = trace.callSeconds(op, name)
    val nproc = bench.nproc.toDouble

    val v = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var written, batch = 0.0
    Ops.foreach { o =>
      val is = inst(o)
      // counts come from the op's first traced instance, times are medians
      def first(f: ((OpRecord, JobCounters)) => Double) = is.headOption.map(f).getOrElse(0.0)
      def med(f: ((OpRecord, JobCounters)) => Double) = median(is.map(f))
      v(s"spark.jobs.$o") = first(_._2.jobs.toDouble)
      v(s"spark.tasks.$o") = first(_._2.tasks.toDouble)
      v(s"spark.task_s.$o") = med(_._2.taskMs / 1000.0)
      v(s"spark.job_wall_s.$o") = med(_._2.jobWallMs / 1000.0)
      v(s"spark.core_util.$o") = med { case (r, c) => c.taskMs / 1000.0 / (r.wall * nproc) }
      v(s"spark.sched_wait_s.$o") = med(_._2.schedWaitMs / 1000.0)
      v(s"spark.shuffle_bytes.$o") = first(_._2.shuffleBytes.toDouble)
      v(s"spark.input_bytes.$o") = first(_._2.inputBytes.toDouble)
      v(s"sources.fs_read_ops.$o") = first(_._1.fs.readOps.toDouble)
      if (o.startsWith("upsert.")) {
        val f = o.stripPrefix("upsert.")
        v(s"sources.upsert_s.$f") = med(_._1.wall)
        v(s"sources.upsert.driver_s.$f") = med { case (r, c) => r.wall - c.jobWallMs / 1000.0 }
        v(s"sources.bytes_written.$f") = first(_._1.fs.bytesWritten.toDouble)
        v(s"sources.fs_write_ops.$f") = first(_._1.fs.writeOps.toDouble)
        v(s"sources.files_written.$f") = is.headOption.flatMap(i => extra(o, "files_written", i._1.id)).getOrElse(0.0)
        written += is.map(_._1.fs.bytesWritten.toDouble).sum
        batch += is.flatMap(i => extra(o, "batch_bytes", i._1.id)).sum
      }
    }
    ReportOps.foreach { o =>
      val plan = tops.filter(_.name == o).map { r =>
        trace.all.filter(s => s.op == r.id && (s.name == "spark.sql" || s.name == "executedPlan"))
          .map(_.nanos).sum / 1e9
      }
      v(s"plans.plan_s.$o") = median(plan)
      v(s"pipeline.report_write_s.$o") = median(spans(o, "ReportWriter.write"))
      v(s"pipeline.report_bytes.$o") =
        inst(o).headOption.flatMap(i => extra(o, "report_bytes", i._1.id)).getOrElse(0.0)
    }
    v("sources.open_s.orders") = median(spans(Bench.FullOp, "TableLoader.open:orders"))
    v("sources.open_s.customer") =
      median(ReportOps.flatMap(o => spans(o, "TableLoader.open:customer")))
    v("sources.commit_token_s") =
      median(Fmts.flatMap(f => spans(s"inc_report.$f", "TableLoader.commitToken")))
    Fmts.foreach { f =>
      v(s"sources.pull_s.$f") = median(spans(s"inc_report.$f", "TableLoader.pullIncremental"))
      v(s"sources.table_files.$f") = rec.tableFiles.getOrElse(f, 0L).toDouble
    }
    v("sources.write_amp") = if (batch > 0) written / batch else 0.0
    v("pipeline.notify_s") = median(ReportOps.flatMap(o => spans(o, "email")))
    val (on, off) = cycles.zip(traced).partition(_._2)
    v("trace.overhead_s") = median(on.map(_._1)) - median(off.map(_._1))

    trace.selfTimes.foreach { case (op, wall, selfs) =>
      println(f"self-time $op wall=$wall%.4f s per instance")
      selfs.foreach { case (name, s) => println(f"  $name%-32s $s%.4f s") }
    }
    println(f"tracing overhead: traced cycle p50 ${median(on.map(_._1))}%.4f s - untraced ${median(off.map(_._1))}%.4f s")
    AllPerLayer.filterNot(PerLayer.contains).foreach { case (n, u) => println(s"layer $n ${v(n)} $u") }
    PerLayer.map { case (n, u) => (n, u, v(n)) }
  }
}
