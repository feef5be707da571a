package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory for graft: every graft session is built
  * here. `Verify`, `Bench` and the specs run on [[local]]; the
  * benchmark harness calls [[builder]] with its own master.
  *
  * The conf keys are what we'd set cluster-side (AQE with skew-join
  * handling, sane shuffle partitioning, UTC session time, generous
  * broadcast threshold for dimension tables).
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      // testdata events.parquet carries TIMESTAMP(NANOS); read as long
      // and normalize in TableLoader (Spark has no native nanos type)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the default threshold (32 root paths) launches a DISTRIBUTED
      // file-listing job — one task per path — for every multi-path
      // read; the table-format readers pass each live data FILE as a
      // root path, so a few-hundred-file snapshot pays a ~0.3-0.5 s
      // all-overhead Spark job per read (measured, r20) to stat files
      // the driver can stat in microseconds. 1024 keeps listing on the
      // driver for graft-sized file sets; on an object store with
      // many-thousand-file tables, lower it (or rely on the
      // manifest-carried listings) — the knob is per-session conf.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .config("spark.ui.enabled", "false")

  /** `SPARK_GRAFT_CPUS` (default 4): the local cores of `Verify` and
    * `Bench`. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** The one-JVM session: `local[cpus]`, one shuffle partition per
    * core, WARN logging. */
  def local(cpus: Int): SparkSession = {
    val spark = builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
