package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Local iteration knobs (driver sets neither): SPARK_GRAFT_QUERIES
    // = comma-list subset; SPARK_GRAFT_REPS = best-of-N per query.
    val subset = sys.env.get("SPARK_GRAFT_QUERIES")
    val selected = Queries.select(subset)
    val cpus = GraftSession.envCpus
    val spark = GraftSession.local(cpus)
    // best-of-3 by default: single-shot timings roam ±5-10× under
    // transient host interference (GC, page cache, co-tenant load) —
    // measured as a contiguous "slow block" of queries that moves
    // between otherwise-identical runs, wide enough that BOTH of 2
    // reps can land inside it (six unexplained ≥2× outliers in the
    // round-10 driver run, all sub-3s queries). min-of-3 with
    // interleaved passes makes that coincidence a ~p³ event.
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(3)
    // Untimed warm-up: JIT/codegen/classloader/parquet-reader costs land
    // here instead of on whichever query happens to run first.
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      val w = spark.read.parquet(s"$sfDir/nation.parquet")
      w.join(w.selectExpr("n_nationkey as k"), w("n_nationkey") === org.apache.spark.sql.functions.col("k"))
        .groupBy("n_regionkey").count().collect()
      // Structured Streaming machinery (micro-batch engine, state
      // store, file source) loads lazily — absorb it here too.
      val tmp = java.nio.file.Files.createTempDirectory("graft-bench-warm-")
      tmp.toFile.deleteOnExit()
      spark.range(10L).write.mode("overwrite").parquet(tmp.toString)
      val q = spark.readStream.schema("id LONG").parquet(tmp.toString)
        .groupBy().count()
        .writeStream.outputMode("complete").format("memory")
        .queryName("graft_bench_warmup_stream")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      // foreachBatch + multi-file parquet source load a DIFFERENT set
      // of classes/codegen than the memory sink above (profiled: the
      // first foreachBatch stream of a run pays ~5s warmup the manual
      // equivalent does not) — absorb that here too, untimed
      val tmp2 = java.nio.file.Files.createTempDirectory("graft-bench-warm2-")
      tmp2.toFile.deleteOnExit()
      spark.range(4L).repartition(2).write.mode("overwrite").parquet(tmp2.toString)
      val q2 = spark.readStream.schema("id LONG")
        .option("maxFilesPerTrigger", "1").parquet(tmp2.toString)
        .writeStream
        .option("checkpointLocation", tmp2.toString + "_ckpt")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.persist(); b.count(): Unit; b.unpersist(): Unit
        }
        .queryName("graft_bench_warmup_feb")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q2.awaitTermination()
    } catch { case _: Throwable => () }
    // A failed query must be visible in the JSON (-1), never reported
    // as its (fast) time-to-exception. Reps run as INTERLEAVED passes
    // over the whole suite (pass 1 all queries, pass 2 all queries…):
    // host interference arrives as a contiguous multi-second slow
    // block, so back-to-back reps of one query can both land inside
    // it — minutes-apart reps almost never do.
    val names = selected.keys.toSeq
    val timesByName = collection.mutable.Map(names.map(_ -> List.empty[Double]): _*)
    // The standing watch list (kept in sync with the `watch` JSON
    // below): min+mean ride the committed artifact so regressions
    // separate from noise round-over-round.
    val watchList = Set("q_mor_read", "q_mor_ro", "q_partial_update", "q_stream_dedup",
      "q_inc_agg_cdc", "q_delta_snapshot", "q_delta_incremental", "q_hudi_snapshot",
      "q_hudi_incremental", "q_iceberg_snapshot", "q_iceberg_incremental",
      "q_stream_mv_cdc", "q_compact", "q_bloom_index",
      "text_bm25", "q_stream_neardup", "text_perplexity_inc")
    // UNTIMED hygiene barrier after heavy queries (and at pass
    // boundaries): the r17 driver run showed broad +30-100% mid-suite
    // interference (total_mean 666s vs min-sum 462s; three queries
    // ≥2× in ALL passes) that a quiesced tree-vs-tree A/B could not
    // reproduce (≤1.18×) — residue from the heavy lifecycle fixtures
    // sharing the JVM (leaked persisted blocks, cache manager
    // entries, GC debt), not plan regressions. Dropping that residue
    // OUTSIDE the timer keeps each query's measurement clean without
    // touching what is measured.
    def hygiene(): Unit = try {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    } catch { case _: Throwable => () }
    val HeavySec = 2.5
    // UNTIMED pass 0 over the WATCH-LISTED queries. Their mean rides
    // the committed artifact to separate real regressions from host
    // interference — and a first execution's JIT/codegen warmup is
    // NEITHER (profiled, r19: q_stream_mv_cdc's stream phase runs
    // 10.3s on its first execution vs 5.2s steady, entirely
    // class-load/codegen of that query's unique composition). Folding
    // cold-start into the mean would swamp exactly the signal the
    // watch list exists for, so watch queries get one steady-state
    // warmup run outside the timers; every timed pass then measures
    // the same thing. Cost: one extra run of ~17 queries.
    for (name <- names if watchList.contains(name)) {
      try { selected(name).run(spark, sfDir).count(): Unit }
      catch { case _: Throwable => () }
      hygiene()
    }
    for (_ <- 1 to reps) {
      for (name <- names) {
        val q = selected(name)
        val t0 = System.nanoTime()
        val t = try { q.run(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e"); -1.0 }
        timesByName(name) = t :: timesByName(name)
        if (t < 0 || t > HeavySec) hygiene()
      }
      hygiene()
    }
    val results = names.map { name =>
      val ok = timesByName(name).filter(_ >= 0)
      name -> (if (ok.nonEmpty) ok.min else -1.0)
    }.toMap
    // mean-of-reps alongside min: a query whose mean ≫ min hit
    // transient host interference in some pass; a real regression
    // moves min and mean together. (r8 post-mortem: untouched queries
    // "doubled" under a slow block that min-of-2 didn't fully absorb —
    // the spread is what tells the two cases apart.)
    val means = names.map { name =>
      val ok = timesByName(name).filter(_ >= 0)
      name -> (if (ok.nonEmpty) ok.sum / ok.size else -1.0)
    }.toMap
    def r3(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    // total = successes only; -1 sentinels stay visible per-query but
    // must not shrink the headline number
    val total = results.values.filter(_ >= 0).sum
    val totalMean = means.values.filter(_ >= 0).sum
    // The driver keeps only the last ~2000 chars of stdout; a JSON
    // line carrying all ~90 per-query times (~3.6 KB) gets its head
    // (metric/value) truncated away and the round's bench is recorded
    // unparsed. So: full per-query map goes to bench_full.json, and
    // the ONE stdout JSON line carries the headline plus as many of
    // the slowest queries as fit a 1600-char budget (slowest first —
    // they're the informative ones), with the rest summarized.
    val fullQs = names.sorted.map(n => "\"" + n + "\":" + r3(results(n)))
      .mkString("{", ",", "}")
    val fullMeans = names.sorted.map(n => "\"" + n + "\":" + r3(means(n)))
      .mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${names.size},"reps":$reps,"queries":$fullQs,"total_mean":${r3(totalMean)},"queries_mean":$fullMeans,"sf":"$sfDir"}"""
    // subset runs (local iteration) must never clobber the committed
    // full-suite artifact — a 4-query smoke overwriting the 231-query
    // snapshot silently rewrites SURVEY's source of truth. Same for
    // off-SF runs: an sf0.001 smoke is not the sf0.1 record.
    if (subset.isEmpty && new java.io.File(sfDir).getName == "sf0.1")
      try java.nio.file.Files.write(java.nio.file.Paths.get("bench_full.json"),
        (full + "\n").getBytes("UTF-8"))
      catch { case e: Throwable => System.err.println(s"[bench] bench_full.json write failed: $e") }
    // Standing watch list (round-9 verdict): the queries whose
    // round-over-round movement needed min AND mean in the committed
    // artifact to separate host noise from regression. Small and
    // fixed so the stdout line stays under the driver's ~2000-char
    // stdout retention.
    // q_inc_agg_cdc joined round 12: its stats-lie fragmentation fix
    // (UpsertWriter sizing) must hold — r12 bar 1.7s at sf0.1.
    // Round 14 (r13 verdict item 7): the external-adapter queries +
    // q_stream_mv_cdc join (r13 bars: delta 1.0/0.9, hudi 1.1/0.6,
    // iceberg 0.9/0.7, stream_mv_cdc 5.6), and the machine-confounded
    // r12→r13 pair q_compact (1.17) / q_bloom_index (0.94) joins for
    // a driver-comparable re-measure.
    // Round 18: the three r17 in-suite >=2x movers join (proven
    // suite interference by quiesced A/B — SCALE.md r18; min+mean in
    // the artifact is what shows the hygiene barrier worked).
    val watch = watchList.toSeq.sorted
      .filter(results.contains)
      .map(n => s""""$n":[${r3(results(n))},${r3(means(n))}]""")
      .mkString("{", ",", "}")
    val bySlow = stdoutOrder(names, results)
    // shrunk from 1450 when the watch list grew to 14 entries
    // (~420 chars) so the one stdout line stays under the driver's
    // ~2000-char retention
    val budget = 1150
    val picked = collection.mutable.ListBuffer.empty[String]
    var used = 0
    var full_ = false
    for (n <- bySlow if !full_) {
      val ent = "\"" + n + "\":" + r3(results(n))
      if (used + ent.length + 1 <= budget) { picked += ent; used += ent.length + 1 }
      else full_ = true // stop at first overflow so picked is a prefix of bySlow
    }
    val restN = names.size - picked.size
    val restSec = bySlow.drop(picked.size).map(results).filter(_ >= 0).sum
    // "cpus" (the honored $SPARK_GRAFT_CPUS) + effective default
    // parallelism ride the artifact so the driver's scaling check can
    // tell "honored but overhead-bound" from "ignored" (r19 verdict)
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${names.size},"cpus":$cpus,"parallelism":${spark.sparkContext.defaultParallelism},"total_mean":${r3(totalMean)},"watch":$watch,"queries":${picked.mkString("{", ",", "}")},"omitted":{"n":$restN,"sec":${r3(restSec)}},"sf":"$sfDir"}""")
    spark.stop()
  }

  /** The order the stdout line's `queries` budget takes the queries in:
    * failed ones (-1) first, so a failure never falls into `omitted`,
    * then the slowest first. */
  private[graft] def stdoutOrder(names: Seq[String], sec: String => Double): Seq[String] =
    names.sortBy(n => (sec(n) >= 0, -sec(n)))
}
