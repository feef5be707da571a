package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EventStreamSpec extends SparkSpec {

  test("streaming sessionization emits exactly the watermark-passed batch sessions") {
    val streamed = EventStream.runSessionsToBatch(spark, s"$sfDir/events.parquet",
      queryName = "spec_sessions")
    val events = graft.sources.TableLoader.table(spark, sfDir, "events")
    val batch = graft.operators.Sessionize.sessions(events, "user_id", "ts", "value")

    // final watermark = max event time (MILLISECOND-truncated, as the
    // engine tracks it) - 1h; append emits sessions the watermark
    // passed, holds the trailing ones in (discarded) state
    val cutoff = events.agg(max(col("ts"))).head.getAs[java.time.LocalDateTime](0)
      .truncatedTo(java.time.temporal.ChronoUnit.MILLIS).minusHours(1)
    val emitted = batch.filter(col("session_end") <= lit(cutoff))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty) // nothing invented
    assert(emitted.exceptAll(streamed).isEmpty, "every watermark-passed session emitted")
  }

  test("timer sessionization: out-of-order events ACROSS micro-batches (start-extend, pending merge, bridge)") {
    // adversarial directory: maxFilesPerTrigger=1 forces one file per
    // micro-batch, and later files carry events EARLIER than sessions
    // already in state (but above the watermark) — the cases a
    // split open/pending design mis-merges:
    //   user 1: batch B event 10:10 lands BEFORE the open session's
    //           10:30 start → start must extend back to 10:10
    //   user 2: batch B event 10:40 must merge into the LATER 11:00
    //           session (extending its start), not the 10:05 one
    //   user 3: batch B event 10:31 BRIDGES the 10:05 and 11:00
    //           sessions into one
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val dir = tmpDir("graft-ooo-sessions-")
    def writeBatch(name: String, mtime: Long, rows: Seq[(Long, Timestamp, Long, Double)]): Unit = {
      val s = spark; import s.implicits._
      val stage = tmpDir("graft-ooo-stage-")
      rows.toDF("event_id", "ts", "user_id", "value").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, name)
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(mtime) // the file source triggers oldest-mtime first
    }
    val t0 = 1700000000000L
    writeBatch("a.parquet", t0, Seq(
      (1L, ts("2024-01-01 10:30:00"), 1L, 1.0),
      (2L, ts("2024-01-01 10:05:00"), 2L, 1.0),
      (3L, ts("2024-01-01 11:00:00"), 2L, 1.0),
      (4L, ts("2024-01-01 10:05:00"), 3L, 1.0),
      (5L, ts("2024-01-01 11:00:00"), 3L, 1.0)))
    // watermark after batch A = 11:00 - 1h = 10:00; all batch-B times
    // are above it, so none of these are late-drops — they are the
    // legal out-of-order window the watermark contract promises
    writeBatch("b.parquet", t0 + 60000, Seq(
      (6L, ts("2024-01-01 10:10:00"), 1L, 1.0),
      (7L, ts("2024-01-01 10:40:00"), 2L, 1.0),
      (8L, ts("2024-01-01 10:31:00"), 3L, 1.0)))
    // batch C pushes the watermark to 19:00 so every session above emits
    writeBatch("c.parquet", t0 + 120000, Seq(
      (9L, ts("2024-01-01 20:00:00"), 99L, 1.0)))
    def uniq(tag: String) = tag + "_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val viaTimers = EventStream.runSessionsTimerToBatch(spark, dir,
      queryName = uniq("spec_ooo_t"), maxFilesPerTrigger = Some(1))
    val viaWindow = EventStream.runSessionsToBatch(spark, dir,
      queryName = uniq("spec_ooo_w"), maxFilesPerTrigger = Some(1))
      .select(viaTimers.columns.map(col).toIndexedSeq: _*)
    // explicit expectations, independent of the dual-route parity
    val got = viaTimers.orderBy(col("user_id"), col("session_start"))
      .collect().map(r => (r.getLong(0),
        r.getAs[java.time.LocalDateTime](1).toString,
        r.getAs[java.time.LocalDateTime](2).toString,
        r.getLong(3))).toSeq
    assert(got == Seq(
      (1L, "2024-01-01T10:10", "2024-01-01T11:00", 2L),
      (2L, "2024-01-01T10:05", "2024-01-01T10:35", 1L),
      (2L, "2024-01-01T10:40", "2024-01-01T11:30", 2L),
      (3L, "2024-01-01T10:05", "2024-01-01T11:30", 3L)),
      s"out-of-order cross-batch sessions mis-merged: $got")
    assert(viaTimers.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaTimers).isEmpty,
      "timer route must equal the session_window route on the adversarial directory")
  }

  test("timer-based sessionization equals the session_window route row for row") {
    val viaWindow = EventStream.runSessionsToBatch(spark, s"$sfDir/events.parquet",
      queryName = "spec_sessions_w")
    val viaTimers = EventStream.runSessionsTimerToBatch(spark, s"$sfDir/events.parquet",
      queryName = "spec_sessions_t")
      .select(viaWindow.columns.map(col).toIndexedSeq: _*)
    assert(viaTimers.count() > 0)
    assert(viaTimers.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaTimers).isEmpty,
      "the two state APIs must emit identical append-mode sessions")
  }

  test("timer sessionization's generated code compiles (no CodeGenerator error)") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("codegen-errors", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName == "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator" &&
            e.getLevel.isMoreSpecificThan(Level.ERROR))
          errors.add(e.getMessage.getFormattedMessage): Unit
    }
    appender.start()
    // on the root logger: an appender added to the CodeGenerator logger
    // itself saw none of its events
    val logger = LogManager.getRootLogger.asInstanceOf[Logger]
    logger.addAppender(appender)
    try assert(EventStream.runSessionsTimerToBatch(spark, s"$sfDir/events.parquet",
      queryName = "spec_sessions_codegen").count() > 0)
    finally { logger.removeAppender(appender); appender.stop() }
    assert(errors.isEmpty, s"${errors.size} CodeGenerator errors, first: ${errors.peek()}")
  }

  test("streaming hourly agg equals the batch equivalent") {
    val streamed = EventStream.runToBatch(spark, s"$sfDir/events.parquet", queryName = "spec_stream")
    val batch = graft.sources.TableLoader.table(spark, sfDir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("sum_value"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("stream-stream attribution join equals the batch binned range join") {
    val streamed = EventStream.runAttributionToBatch(spark, s"$sfDir/events.parquet",
      queryName = "spec_attr")
    val batch = graft.Queries.qRangeJoin.run(spark, sfDir)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("left-outer attribution: matches plus watermark-proven unmatched; global watermark is the MIN across sides") {
    val streamed = EventStream.runLeftAttributionToBatch(spark, s"$sfDir/events.parquet",
      queryName = "spec_lattr")
    val ev = graft.sources.TableLoader.table(spark, sfDir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"), col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
    val matched = purchases.join(clicks,
      col("c_user_id") === col("user_id") &&
        col("c_ts") >= col("p_ts") && col("c_ts") <= col("p_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("purchase_id"), col("click_id"))
    // engine watermark = min over the two sides' (ms-truncated max - 1h)
    def sideMax(df: org.apache.spark.sql.DataFrame, c: String) =
      df.agg(max(col(c))).head.getAs[java.time.LocalDateTime](0)
        .truncatedTo(java.time.temporal.ChronoUnit.MILLIS)
    val wm = Seq(sideMax(clicks, "c_ts"), sideMax(purchases, "p_ts"))
      .min(Ordering.fromLessThan[java.time.LocalDateTime](_ isBefore _)).minusHours(1)
    val unmatched = purchases
      .join(matched.select(col("purchase_id")), Seq("purchase_id"), "left_anti")
      .filter(col("p_ts") + expr("INTERVAL 30 MINUTES") < lit(wm))
      .select(col("user_id"), col("purchase_id"), lit(null).cast("long").as("click_id"))
    val batch = matched.unionByName(unmatched)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("hopping windows equal the exploded-batch equivalent (2 windows per event)") {
    val streamed = EventStream.runHoppingToBatch(spark, s"$sfDir/events.parquet",
      queryName = "spec_hopping")
    val ev = graft.sources.TableLoader.table(spark, sfDir, "events")
    val half = expr("INTERVAL 30 MINUTES")
    val fan = ev.select(
        explode(array(
          date_trunc("hour", col("ts")),
          when(minute(col("ts")) >= 30, date_trunc("hour", col("ts")) + half)
            .otherwise(date_trunc("hour", col("ts")) - half))).as("window_start"),
        col("event_type"), col("value"))
    val batch = fan.groupBy("window_start", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("sum_value"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("stream-static enrichment equals the batch join and plans stateless") {
    val customer = graft.sources.TableLoader.table(spark, sfDir, "customer")
    val nation = graft.sources.TableLoader.table(spark, sfDir, "nation")
    val streamed = EventStream.runEnrichToBatch(spark, s"$sfDir/events.parquet",
      customer, nation, queryName = "spec_enrich")
    val batch = graft.sources.TableLoader.table(spark, sfDir, "events")
      .join(customer, col("user_id") === col("c_custkey"))
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_name").as("customer_name"), col("n_name").as("nation_name"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // stateless: a per-batch broadcast join — no watermark, no
    // stateful operator in the logical plan
    val plan = EventStream.enriched(spark,
      EventStream.streamableDir(spark, s"$sfDir/events.parquet"),
      customer.select(col("c_custkey"), col("c_name")), "user_id", "c_custkey")
      .queryExecution.analyzed.toString
    assert(!plan.contains("EventTimeWatermark") && !plan.contains("Deduplicate"), plan)
  }

  test("streaming dedup over a doubled directory equals a single copy") {
    val streamed = EventStream.runDedupToBatch(spark, s"$sfDir/events.parquet", queryName = "spec_dedup")
    val batch = graft.sources.TableLoader.table(spark, sfDir, "events")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("stateful runs never mutate the caller session's shuffle partitions") {
    // the few-state-partitions override must be scoped to a cloned
    // session: a concurrent observer of the SHARED session conf must
    // never see the pinned value, even mid-run
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    @volatile var done = false
    val seen = scala.collection.mutable.Set[String]()
    val observer = new Thread(() => {
      while (!done) { seen.synchronized { seen += spark.conf.get(key) }; Thread.sleep(5) }
    })
    observer.start()
    try {
      val out = EventStream.runDedupToBatch(spark, s"$sfDir/events.parquet",
        queryName = "spec_dedup_conf")
      assert(out.count() > 0)
    } finally { done = true; observer.join() }
    assert(spark.conf.get(key) == before)
    assert(seen.synchronized(seen.toSet) == Set(before),
      s"shared conf observed mid-run: $seen")
  }

  test("milestone state carries across micro-batches (two time-split files)") {
    import org.apache.spark.sql.functions._
    val ev = graft.sources.TableLoader.table(spark, sfDir, "events")
    val cut = ev.agg(expr("percentile(CAST(unix_micros(CAST(ts AS TIMESTAMP)) AS DOUBLE), 0.5)"))
      .collect()(0).getDouble(0).toLong
    val dir = java.nio.file.Files.createTempDirectory("graft-ms-batches-")
    dir.toFile.deleteOnExit()
    val us = unix_micros(col("ts").cast("timestamp"))
    // raw nanos back in a LONG column: exercises eventSource's
    // nanos-long dispatch arm (the testdata itself is micros)
    def dump(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.withColumn("ts", (us * 1000).cast("long"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$dir/$name")
    dump(ev.filter(us <= cut), "a_first")
    Thread.sleep(1100) // distinct mtimes: oldest-first file ordering
    dump(ev.filter(us > cut), "b_second")
    val stageDir = dir.toString
    val files = new java.io.File(stageDir).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(f => f.getName.endsWith(".parquet"))
    val flat = java.nio.file.Files.createTempDirectory("graft-ms-flat-")
    flat.toFile.deleteOnExit()
    files.sortBy(_.getParentFile.getName).zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.copy(f.toPath, flat.resolve(f"part$i%02d.parquet"))
      Thread.sleep(1100)
    }
    val spark2 = spark
    import spark2.implicits._
    val streamed = {
      val events = EventStream.eventSource(spark, flat.toString, maxFilesPerTrigger = Some(1))
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
        .as[EventStream.Event]
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      val q = events.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (user: Long, it: Iterator[EventStream.Event], state: GroupState[Long]) =>
            val sorted = it.toIndexedSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var n = state.getOption.getOrElse(0L)
            val out = Seq.newBuilder[EventStream.Milestone]
            sorted.foreach { e =>
              n += 1
              if (n % 10 == 0) out += EventStream.Milestone(user, n / 10, n, e.ts)
            }
            state.update(n)
            out.result().iterator
        }.toDF().withColumn("ts", col("ts").cast("timestamp_ntz"))
        .writeStream.outputMode("append").format("memory")
        .queryName("spec_ms_batches")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table("spec_ms_batches")
    }
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val batch = ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") % 10 === 0)
      .select(col("user_id"), (col("rn") / 10).cast("long").as("milestone"),
        col("rn").cast("long").as("n_events"), col("ts"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming incremental agg over split micro-batches equals the batch groupBy") {
    import org.apache.spark.sql.functions._
    val statePath = tmpDir("graft-stream-inc-agg-")
    val split = EventStream.splitDir(spark, s"$sfDir/events.parquet", 4)
    // genuinely multiple micro-batches (maxFilesPerTrigger=1 per file)
    assert(new java.io.File(new java.net.URI(split)).listFiles()
      .count(_.getName.endsWith(".parquet")) == 4)
    EventStream.streamIncAgg(spark, split, statePath, Seq("event_type"), "value",
      queryName = "graft_sia_spec")
    // 4 commits happened (the cleaner trims the timeline to its
    // retained window, so check the head version id, not the count)
    assert(graft.sources.UpsertWriter.versions(spark, statePath).max == 4)
    val got = graft.operators.IncrementalAgg.read(spark, statePath, Seq("event_type"))
      .select(col("event_type"), col("n"), col("sum_dec").cast("double").as("sum"))
    val full = graft.sources.TableLoader.table(spark, sfDir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("sum"))
    assert(got.exceptAll(full).isEmpty && full.exceptAll(got).isEmpty)
    // exactly-once plumbing: the stream checkpointed its source
    // progress, and every applied batch id is recorded in the state
    // commit (hwm = last of batch ids 0..3) — so a crash-redelivered
    // batch is a no-op instead of a double-count
    val ckpt = new org.apache.hadoop.fs.Path(s"${statePath}_ckpt")
    assert(ckpt.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(ckpt))
    assert(graft.operators.IncrementalAgg.appliedBatchId(spark, statePath).contains(3L))
    val before = got.collect().toSet
    assert(!graft.operators.IncrementalAgg.refreshTable(spark, statePath,
      graft.sources.TableLoader.table(spark, sfDir, "events"),
      Seq("event_type"), "value", batchId = Some(2L)))
    val after = graft.operators.IncrementalAgg.read(spark, statePath, Seq("event_type"))
      .select(col("event_type"), col("n"), col("sum_dec").cast("double").as("sum"))
      .collect().toSet
    assert(after == before)
  }

  test("TableStream: delta commits stream as input; later commits surface on catch-up") {
    val s = spark
    import s.implicits._
    val table = tmpDir("graft-tablestream-") + "/t"
    graft.sources.MorTable.writeBase(Seq((1L, "base")).toDF("k", "v"), table)
    graft.sources.MorTable.appendLog(Seq((2L, "a"), (3L, "a")).toDF("k", "v"), table)
    val first = TableStream.runLogAggToBatch(spark, table,
      df => df.groupBy(col("v")).agg(count(lit(1)).as("n")), "spec_tablestream_1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(first == Map("a" -> 2L), "base rows must NOT flow through the log stream")
    graft.sources.MorTable.appendLog(Seq((4L, "b")).toDF("k", "v"), table)
    val second = TableStream.runLogAggToBatch(spark, table,
      df => df.groupBy(col("v")).agg(count(lit(1)).as("n")), "spec_tablestream_2")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(second == Map("a" -> 2L, "b" -> 1L))
  }

  test("late-data DLQ: batch 0 never late; DLQ = exactly the rows under the running per-batch watermark") {
    val n = 4
    val dlq = EventStream.lateDataDlq(spark, s"$sfDir/events.parquet",
      nBatches = n, delaySeconds = 3600L,
      queryName = "spec_dlq_" + java.util.UUID.randomUUID().toString.replace("-", ""))
    val got = dlq.select(col("event_id")).collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty, "the hash-batched event stream must produce late rows")
    assert(!got.exists(_ % n == 0), "batch 0 has no prior watermark - never late")
    // independent replay of the watermark rule in plain Scala —
    // event times as epoch micros of the NORMALIZED column, so the
    // replay is independent of the file's physical ts encoding
    val ev = graft.sources.TableLoader.table(spark, sfDir, "events")
      .select(col("event_id"), unix_micros(col("ts").cast("timestamp")).as("us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val delayUs = 3600L * 1000000L
    val batchMax = ev.groupBy(_._1 % n).view.mapValues(_.map(_._2).max).toMap
    val expected = ev.filter { case (id, ts) =>
      val k = id % n
      val prior = (0L until k).map(batchMax)
      // strict <: a row exactly at the watermark is on-time
      prior.nonEmpty && ts < prior.max - delayUs
    }.map(_._1).toSet
    assert(got == expected)
  }

  test("eventSource contract: micros-timestamp and nanos-long files give identical output through every ts-sensitive entry point; anything else fails loudly") {
    // the same 3000 events written under BOTH physical encodings the
    // source supports — the driver testdata has flipped between them,
    // and a silent mis-dispatch is 1000x wrong on every watermark
    val ev = graft.sources.TableLoader.table(spark, sfDir, "events")
      .orderBy(col("event_id")).limit(3000)
    val base = tmpDir("graft-enc-")
    val microsDir = s"$base/micros"
    val nanosDir = s"$base/nanos"
    ev.coalesce(1).write.parquet(microsDir) // ts: TIMESTAMP_NTZ -> TIMESTAMP(MICROS)
    ev.withColumn("ts", (unix_micros(col("ts").cast("timestamp")) * 1000).cast("long"))
      .coalesce(1).write.parquet(nanosDir) // ts: raw nanos INT64
    def uniq(tag: String): String =
      tag + "_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val entries: Seq[(String, String => org.apache.spark.sql.DataFrame)] = Seq(
      "hourly" -> (p => EventStream.runToBatch(spark, p, uniq("enc_hr"))),
      "hopping" -> (p => EventStream.runHoppingToBatch(spark, p, uniq("enc_hop"))),
      "sessions" -> (p => EventStream.runSessionsToBatch(spark, p, queryName = uniq("enc_sess"))),
      "dedup" -> (p => EventStream.runDedupToBatch(spark, p, uniq("enc_dd"))),
      "milestones" -> (p => EventStream.runMilestonesToBatch(spark, p, queryName = uniq("enc_ms"))),
      "milestones_v2" -> (p => EventStream.runMilestonesV2ToBatch(spark, p, queryName = uniq("enc_ms2"))),
      "attribution" -> (p => EventStream.runAttributionToBatch(spark, p, uniq("enc_attr"))),
      "dlq" -> (p => EventStream.lateDataDlq(spark, p, nBatches = 3, queryName = uniq("enc_dlq"))))
    entries.foreach { case (name, run) =>
      val a = run(microsDir)
      val b = run(nanosDir)
      assert(a.schema == b.schema, s"$name: schemas diverge across encodings")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$name: output differs between micros-timestamp and nanos-long encodings")
    }
    // a ts column that is neither encoding must be rejected, never guessed
    val badDir = s"$base/bad"
    ev.withColumn("ts", col("ts").cast("string")).coalesce(1).write.parquet(badDir)
    val e = intercept[IllegalArgumentException] { EventStream.eventSource(spark, badDir) }
    assert(e.getMessage.contains("refusing to guess"))
  }

  test("streamNearDup: union of batch emissions equals the one-shot LSH pair set; restart emits nothing new") {
    val docs = graft.sources.TableLoader.table(spark, sfDir, "documents")
    val statePath = tmpDir("graft-snd-state-") + "/state"
    val outPath = tmpDir("graft-snd-out-")
    val split = EventStream.splitDir(spark, s"$sfDir/documents.parquet", 4, keyCol = "doc_id")
    EventStream.streamNearDup(spark, split, statePath, outPath,
      queryName = "graft_snd_spec")
    def pairs(): Set[(Long, Long)] =
      spark.read.parquet(outPath).select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShot = graft.operators.Dedup.minhashLshPairs(docs, "doc_id", "text", 5, 64, 16, 0.5)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = pairs()
    assert(streamed == oneShot, "batch boundaries must not change the pair set")
    // each pair surfaced exactly once across the batch partitions
    val n = spark.read.parquet(outPath).count()
    assert(n == streamed.size.toLong, "a pair must be emitted by exactly one batch")
    // restart with the same durable checkpoint: no batches replay,
    // no state grows, output unchanged
    val versionsBefore = graft.sources.VersionedLog.committed(spark, statePath).length
    EventStream.streamNearDup(spark, split, statePath, outPath,
      queryName = "graft_snd_spec_restart")
    assert(graft.sources.VersionedLog.committed(spark, statePath).length == versionsBefore)
    assert(pairs() == oneShot)
  }

  test("streaming MV: per-batch folds equal a from-scratch define over the landed table") {
    val root = tmpDir("graft-smv-")
    val table = root + "/t"
    val mvPath = root + "/mv"
    val split = EventStream.splitDir(spark, s"$sfDir/events.parquet", 3, keyCol = "event_id")
    val d = EventStream.streamMaintainMv(
      spark, split, table, mvPath, Seq("user_id", "event_type"), Seq("value"),
      queryName = "graft_smv_spec")
    try {
      val folded = spark.read.parquet(d.dataDir)
      graft.plans.MaterializedViews.deregister(table)
      val rebuilt = graft.plans.MaterializedViews.define(
        spark, table, Seq("user_id", "event_type"), Seq("value"), mvPath + "2")
      val direct = spark.read.parquet(rebuilt.dataDir)
      assert(folded.count() > 0)
      // exact on everything except the double sum (fp addition order
      // differs between the incremental fold and the one-shot rollup
      // — the same nondeterminism every money-double aggregate has)
      val det = Seq("user_id", "event_type", "cnt_value", "min_value", "max_value", "cnt_rows")
      val fd = folded.select(det.map(org.apache.spark.sql.functions.col): _*)
      val dd = direct.select(det.map(org.apache.spark.sql.functions.col): _*)
      assert(fd.exceptAll(dd).isEmpty && dd.exceptAll(fd).isEmpty,
        "micro-batch folds must equal the one-shot rollup of the landed table")
      // sums agree to fp tolerance per group
      val sumDiff = folded.select(org.apache.spark.sql.functions.col("user_id"),
          org.apache.spark.sql.functions.col("event_type"),
          org.apache.spark.sql.functions.col("sum_value").as("sf"))
        .join(direct.select(org.apache.spark.sql.functions.col("user_id"),
          org.apache.spark.sql.functions.col("event_type"),
          org.apache.spark.sql.functions.col("sum_value").as("sd")),
          Seq("user_id", "event_type"))
        .filter(org.apache.spark.sql.functions.abs(
          org.apache.spark.sql.functions.col("sf") - org.apache.spark.sql.functions.col("sd")) > 1e-6)
        .count()
      assert(sumDiff == 0L, "per-group sums must agree to fp tolerance")
    } finally {
      graft.plans.MaterializedViews.deregister(table)
    }
  }

  test("streaming retraction MV: CDC folds equal a rebuild; a drained rerun is a no-op") {
    val s = spark
    import s.implicits._
    val root = tmpDir("graft-smvcdc-")
    val feedDir = root + "/feed"
    val mirror = root + "/mirror"
    val mvPath = root + "/mv"
    val v1 = (1L to 400L)
      .map(i => (i, i % 13, if (i % 3 == 0) "view" else if (i % 3 == 1) "click" else "purchase",
        (i % 29).toDouble, i))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
    // deletes (all views), extreme-touching updates (purchases doubled),
    // inserts (click clones with fresh ids)
    val v2 = v1.filter(org.apache.spark.sql.functions.col("event_type") =!= "view")
      .withColumn("value", org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.col("event_type") === "purchase",
        org.apache.spark.sql.functions.col("value") * 2)
        .otherwise(org.apache.spark.sql.functions.col("value")))
      .unionByName(v1.filter(org.apache.spark.sql.functions.col("event_type") === "click")
        .withColumn("event_id", org.apache.spark.sql.functions.col("event_id") + 9000L))
    // partition the feed BY KEY: an update's pre+post images must ride
    // the same micro-batch or the fold would retract in one batch and
    // re-add in another, leaving the view inconsistent with the mirror
    // BETWEEN those commits (and the dirty recompute double-counting)
    graft.operators.SnapshotDiff.changeFeed(v1, v2, Seq("event_id"))
      .repartition(3, org.apache.spark.sql.functions.col("event_id"))
      .write.mode("overwrite").parquet(feedDir)
    graft.sources.UpsertWriter.upsert(v1, mirror, Seq("event_id"), "ts")
    def run() = graft.streaming.TableStream.runCdcApplyWithMv(
      spark, feedDir, mirror, Seq("event_id"), "ts",
      groupCols = Seq("user_id", "event_type"), aggCols = Seq("value"),
      mvPath = mvPath, queryName = "graft_smvcdc_spec")
    val d = run()
    try {
      // mirror converged and the view equals a from-scratch rollup of it
      val live = graft.sources.UpsertWriter.latestVersion(spark, mirror).get
      assert(graft.plans.MaterializedViews.registered(live).exists(_.dataDir == d.dataDir),
        "the view must be keyed to the live snapshot after the stream drains")
      val folded = spark.read.parquet(d.dataDir)
      val want = graft.sources.UpsertWriter.read(spark, mirror)
        .groupBy("user_id", "event_type")
        .agg(
          org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions.col("value")).as("sum_value"),
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.col("value")).as("cnt_value"),
          org.apache.spark.sql.functions.min(org.apache.spark.sql.functions.col("value")).as("min_value"),
          org.apache.spark.sql.functions.max(org.apache.spark.sql.functions.col("value")).as("max_value"),
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("cnt_rows"))
      val det = Seq("user_id", "event_type", "cnt_value", "min_value", "max_value", "cnt_rows")
      val fd = folded.select(det.map(org.apache.spark.sql.functions.col): _*)
      val wd = want.select(det.map(org.apache.spark.sql.functions.col): _*)
      assert(fd.exceptAll(wd).isEmpty && wd.exceptAll(fd).isEmpty,
        "retraction folds must equal the direct rollup of the converged mirror")
      // no dead groups survive: 'view' groups retracted to zero are gone
      assert(folded.filter(org.apache.spark.sql.functions.col("event_type") === "view").count() == 0L,
        "groups whose rows were all deleted must drop from the view")
      // REPLAY: a second run over the drained checkpoint processes no
      // batch and returns the SAME registered view, bytes untouched
      val genBefore = d.dataDir
      val d2 = run()
      assert(d2.dataDir == genBefore && d2.basePath == d.basePath,
        "a drained rerun must be a no-op returning the registered view")
    } finally graft.plans.MaterializedViews.deregister(d.basePath)
  }
}
