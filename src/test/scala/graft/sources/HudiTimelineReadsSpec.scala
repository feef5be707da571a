package graft.sources

import graft.{FsCalls, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A Hudi operation reads `.hoodie` once ([[HudiTimeline.load]]) and
  * passes that value through, so its metadata reads do not multiply
  * with the helpers it calls; counted with [[FsCalls]]. */
class HudiTimelineReadsSpec extends SparkSpec {

  private def rows(from: Long, until: Long, v: Long): DataFrame =
    spark.range(from, until, 1, 4).select(col("id"), lit(v).as("v"))

  /** A COW table of `commits` commits: a create, then small upserts. */
  private def cowTable(commits: Int): String = {
    val t = tmpDir("htl-reads") + "/t"
    HudiTableWriter.create(rows(0, 400, 0L), t, recordKeys = Seq("id")): Unit
    (1 until commits).foreach(i => HudiTableWriter.upsert(rows(i * 7L, i * 7L + 5, i.toLong), t): Unit)
    t
  }

  /** How often each `<instant>.<kind>` file was opened. */
  private def instantFileOpens(calls: FsCalls, hoodie: String): Map[String, Int] =
    calls.calls.collect {
      case ("open", p) if p.startsWith(hoodie + "/") &&
          p.substring(hoodie.length + 1).matches("[0-9]+\\.(commit|replacecommit|deltacommit)") => p
    }.groupBy(identity).map { case (p, ps) => p -> ps.size }

  Seq(5, 20).foreach { n =>
    test(s"COW table of $n commits: one upsert and one incremental pull each read .hoodie once") {
      val t = cowTable(n)
      val hoodie = s"$t/.hoodie"
      assert(HudiTableReader.commits(spark, t).size == n)

      // the upsert's load, then the optimistic-concurrency reload at publish
      val upsert = FsCalls.of(spark)(HudiTableWriter.upsert(rows(3, 8, 99L), t): Unit)
      assert(upsert.count("listStatus", hoodie) <= 2, upsert.calls.filter(_._2 == hoodie))
      assert(upsert.count("open", s"$hoodie/hoodie.properties") <= 2)
      val upsertOpens = instantFileOpens(upsert, hoodie)
      assert(upsertOpens.size == n && upsertOpens.values.forall(_ == 1), upsertOpens)

      val since = HudiTableReader.commits(spark, t)(n / 2)
      var pulled = 0L
      val pull = FsCalls.of(spark) {
        pulled = HudiTableReader.incrementalSince(spark, t, since).count()
      }
      assert(pulled > 0L)
      assert(pull.count("listStatus", hoodie) == 1, pull.calls.filter(_._2 == hoodie))
      assert(pull.count("open", s"$hoodie/hoodie.properties") <= 1)
      val pullOpens = instantFileOpens(pull, hoodie)
      assert(pullOpens.nonEmpty && pullOpens.values.forall(_ == 1), pullOpens)
    }
  }

  test("TableLoader on a COW table: a checkpointed pull and an upsert each load .hoodie once") {
    val t = cowTable(5)
    val hoodie = s"$t/.hoodie"
    val store = new CheckpointStore(tmpDir("htl-reads-cp"), spark.sparkContext.hadoopConfiguration)
    TableLoader.commitToken(t, "orders", store, HudiTableReader.commits(spark, t)(2))

    var pulled = 0L
    var token = ""
    val pull = FsCalls.of(spark) {
      val Some((inc, head)) = TableLoader.pullIncremental(spark, t, "orders", store): @unchecked
      pulled = inc.count()
      token = head
    }
    assert(pulled > 0L && token == HudiTableReader.latestInstant(spark, t))
    assert(pull.count("listStatus", hoodie) == 1, pull.calls.filter(_._2 == hoodie))
    assert(pull.count("open", s"$hoodie/hoodie.properties") == 1)
    // no metadata directory: the timeline's own listing says so
    assert(pull.count("getFileStatus", s"$hoodie/metadata/files") == 0)

    // the dispatch's key check reads the writer's own load; the
    // optimistic-concurrency reload at publish stays
    val upsert = FsCalls.of(spark)(TableLoader.upsert(rows(3, 8, 99L), t, Seq("id")): Unit)
    assert(upsert.count("open", s"$hoodie/hoodie.properties") <= 2,
      upsert.calls.filter(_._2.startsWith(hoodie)))
  }
}
