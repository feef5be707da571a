package graft

/** The specs run on `GraftSession.builder`'s conf, the session Verify
  * and Bench run on: a builder that drifts from it fails here. */
class GraftSessionSpec extends SparkSpec {

  test("test session carries GraftSession.builder's conf") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.extensions") == "graft.plans.GraftExtensions")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.autoBroadcastJoinThreshold") == (64L * 1024 * 1024).toString)
    assert(conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold") == "1024")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    assert(conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }
}
