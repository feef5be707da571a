package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The metadata-table BLOOM-FILTER INDEX (hudi.apache.org
  * `bloom_filters` partition, graft shape): one k=1 bloom per active
  * base file over its record keys, consulted by UPSERT's key-matching
  * scan to skip groups provably holding none of the batch's keys —
  * the upsert-probe accelerator. False positives widen the scan;
  * false negatives cannot happen (probe buckets are a superset across
  * both key forms).
  */
class HudiBloomIndexSpec extends SparkSpec {

  private def df(r: Range) = {
    val s = spark
    import s.implicits._
    r.map(i => (i.toLong, s"k${i % 5}", i * 2L)).toDF("id", "key", "v")
  }

  test("upsert's key-matching scan prunes to the bloom-positive groups; results stay exact") {
    val table = tmpDir("bloom-upsert") + "/t"
    val s = spark
    import s.implicits._
    // three file groups with disjoint id ranges
    HudiTableWriter.create(df(1 to 100), table, recordKeys = Seq("id")): Unit
    HudiTableWriter.append(df(101 to 200), table): Unit
    HudiTableWriter.append(df(201 to 300), table): Unit
    HudiTableWriter.writeBloomIndex(spark, table): Unit
    val all = HudiTableReader.activeSlices(spark, table)
    assert(all.size >= 3)
    // the probe set for keys living in ONE group must cut the scan
    val probes = Seq("id:42", "42").toDF("_g_probe")
    val pruned = HudiTableWriter.bloomPruneSlices(HudiTimeline.load(spark, table), all, probes)
    assert(pruned.size < all.size,
      s"bloom prune must cut the slice set (${pruned.size} of ${all.size})")
    // the upsert itself stays exact with the index present
    HudiTableWriter.upsert(Seq((42L, "k2", 9999L)).toDF("id", "key", "v"), table): Unit
    val snap = HudiTableReader.snapshot(spark, table)
    assert(snap.count() == 300L)
    assert(snap.where(col("id") === 42L).head().getAs[Long]("v") == 9999L)
    assert(snap.where(col("id") === 150L).head().getAs[Long]("v") == 300L,
      "rows in pruned groups must be untouched")
    // a pure-insert batch (absent keys) still lands through the prune
    HudiTableWriter.upsert(Seq((999L, "k0", 1L)).toDF("id", "key", "v"), table): Unit
    assert(HudiTableReader.snapshot(spark, table).count() == 301L)
  }

  test("refresh scans only NEW files; files absent from the index keep conservatively") {
    val table = tmpDir("bloom-refresh") + "/t"
    HudiTableWriter.create(df(1 to 80), table, recordKeys = Seq("id")): Unit
    HudiTableWriter.writeBloomIndex(spark, table): Unit
    // a post-index append: its group is ABSENT from the index and
    // must be kept for any probe
    HudiTableWriter.append(df(81 to 160), table): Unit
    val s = spark
    import s.implicits._
    val all = HudiTableReader.activeSlices(spark, table)
    val keptForNew = HudiTableWriter.bloomPruneSlices(HudiTimeline.load(spark, table), all,
      Seq("id:120", "120").toDF("_g_probe"))
    val newPaths = all.filterNot(s0 => s0.instant == all.map(_.instant).min).map(_.path).toSet
    assert(newPaths.subsetOf(keptForNew.map(_.path).toSet),
      "post-index files must survive every prune")
    // refresh folds the new files in; pruning then cuts them too when
    // the probe misses
    HudiTableWriter.refreshBloomIndex(spark, table): Unit
    val afterRefresh = HudiTableWriter.bloomPruneSlices(HudiTimeline.load(spark, table), all,
      Seq("id:42", "42").toDF("_g_probe"))
    assert(afterRefresh.size < all.size)
    assert(HudiTableWriter.refreshBloomIndex(spark, table) ==
      HudiTableReader.latestInstant(spark, table))
  }

  test("refusals: no index to refresh, keyless, MOR; all-pruned keeps one schema slice") {
    val bare = tmpDir("bloom-bare") + "/t"
    HudiTableWriter.create(df(1 to 10), bare, recordKeys = Seq("id")): Unit
    val e0 = intercept[IllegalArgumentException](
      HudiTableWriter.refreshBloomIndex(spark, bare))
    assert(e0.getMessage.contains("writeBloomIndex first"))
    val keyless = tmpDir("bloom-keyless") + "/t"
    HudiTableWriter.create(df(1 to 5), keyless): Unit
    val e1 = intercept[IllegalArgumentException](
      HudiTableWriter.writeBloomIndex(spark, keyless))
    assert(e1.getMessage.contains("record key"))
    val mor = tmpDir("bloom-mor") + "/t"
    HudiTableWriter.createMor(df(1 to 5), mor, recordKeys = Seq("id")): Unit
    val e2 = intercept[IllegalArgumentException](
      HudiTableWriter.writeBloomIndex(spark, mor))
    assert(e2.getMessage.contains("MOR") || e2.getMessage.contains("compact"))
    // a probe matching NOTHING prunes everything but one schema slice
    val s = spark
    import s.implicits._
    HudiTableWriter.writeBloomIndex(spark, bare): Unit
    val all = HudiTableReader.activeSlices(spark, bare)
    val none = HudiTableWriter.bloomPruneSlices(HudiTimeline.load(spark, bare), all,
      Seq("id:123456", "123456").toDF("_g_probe"))
    assert(none.size == 1)
  }
}
