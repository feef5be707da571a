package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming over the events table: watermarked, windowed
  * aggregation — the streaming face of the same engine (the
  * reference's INC loads are micro-batch by hand; this is the
  * Spark-native equivalent with state handled by the engine).
  */
object EventStream {

  /** Normalize the event-time column to TIMESTAMP (the instant type
    * watermarks require; the session runs UTC so the instant equals
    * the NTZ wall-clock), dispatching on the column's ACTUAL physical
    * type — never assuming an epoch encoding:
    *   - nanos-long (parquet TIMESTAMP(NANOS) under
    *     `spark.sql.legacy.parquet.nanosAsLong`) → integer `div 1000`
    *     to micros (epoch nanos exceed 2^53; a double would lose
    *     precision);
    *   - TIMESTAMP_NTZ (parquet TIMESTAMP_MICROS,
    *     isAdjustedToUTC=false) → cast to the instant;
    *   - TIMESTAMP → already the instant, untouched.
    * Anything else fails LOUDLY: a silently mis-scaled timestamp
    * (e.g. treating micros as nanos — 1000× off, every watermark
    * wrong) must be impossible. The batch reader
    * (TableLoader.normalizeNanos) dispatches the same way; the
    * reference likewise reads whatever physical schema its table
    * carries (template.py:304-305) and never assumes an encoding.
    */
  def normalizeEventTs(df: DataFrame, column: String = "ts"): DataFrame =
    df.schema(column).dataType match {
      case LongType =>
        df.withColumn(column, timestamp_micros(expr(s"$column div 1000")))
      case TimestampNTZType =>
        df.withColumn(column, col(column).cast("timestamp"))
      case TimestampType => df
      case other => throw new IllegalArgumentException(
        s"events.$column must be a nanos-long or a timestamp; found $other — " +
          "refusing to guess an epoch encoding (a wrong guess is silently 1000x off)")
    }

  /** The shared streaming source for the events table: the schema is
    * read from the files' own parquet footers (the cached batch-read
    * schema probe [[graft.sources.TableLoader.probedSchema]] — cheap:
    * footers only, no row groups), then the stream is
    * opened with exactly that schema and `ts` normalized by physical
    * type above. Every streaming entry point goes through here, so a
    * testdata re-encode (nanos-long ↔ micros-timestamp) changes
    * NOTHING downstream.
    */
  def eventSource(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = graft.sources.TableLoader.probedSchema(spark, path)
    val reader = spark.readStream.schema(schema)
    val withOpt = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
    normalizeEventTs(withOpt.parquet(path))
  }

  /** Hourly per-type counts/sums over a parquet directory consumed as
    * a stream. Watermark bounds state; window is epoch-aligned so the
    * batch equivalent is a plain date_trunc group-by.
    */
  def hourlyAgg(spark: SparkSession, path: String): DataFrame = {
    // Cast back to NTZ on the way out for parity with the batch tables.
    val events = eventSource(spark, path)
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("sum_value"))
      .select(
        col("w.start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))
  }

  /** Hopping (sliding) windowed aggregation: 1-hour windows every 30
    * minutes — each event lands in size/hop windows (2 here). State
    * stays (window, type)-keyed and watermark-bounded like the
    * tumbling variant; the fan-out is a local projection, not a
    * shuffle multiplier, because the window expression expands before
    * the aggregation exchange.
    */
  def hoppingAgg(spark: SparkSession, path: String,
      size: String = "1 hour", hop: String = "30 minutes"): DataFrame = {
    val events = eventSource(spark, path)
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), size, hop).as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("sum_value"))
      .select(
        col("w.start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))
  }

  /** Run the hopping agg over a finite directory (complete-mode
    * memory sink, like runToBatch, so trailing windows emit).
    */
  def runHoppingToBatch(spark: SparkSession, path: String,
      queryName: String = "graft_stream_hopping"): DataFrame =
    withFewStatePartitions(spark) { s =>
      collectToMemory(s, hoppingAgg(s, streamableDir(s, path)), "complete", queryName)
    }

  /** Streaming gap-based sessionization: the same merging
    * session_window as the batch operator (operators.Sessionize), with
    * the watermark bounding open-session state — a session is emitted
    * (append mode) once the watermark passes its end, and its state is
    * dropped. State per key = open sessions only; the watermark is
    * what keeps that bounded on an unbounded stream.
    */
  def sessionAgg(spark: SparkSession, path: String, gap: String = "30 minutes",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val events = eventSource(spark, path, maxFilesPerTrigger)
    // ONE session definition: delegate to the batch operator — the
    // watermark on ts rides through its session_window groupBy.
    graft.operators.Sessionize
      .sessions(events.withWatermark("ts", "1 hour"), "user_id", "ts", "value", gap)
      .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
      .withColumn("session_end", col("session_end").cast("timestamp_ntz"))
  }

  /** Run the streaming sessionization over a finite directory
    * (append mode): emits exactly the sessions the final watermark
    * passed. Trailing sessions remain in (discarded) state — that is
    * append-mode semantics, asserted against the batch operator in
    * EventStreamSpec.
    */
  def runSessionsToBatch(spark: SparkSession, path: String, gap: String = "30 minutes",
      queryName: String = "graft_stream_sessions",
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    collectToMemory(spark,
      sessionAgg(spark, streamableDir(spark, path), gap, maxFilesPerTrigger),
      "append", queryName)

  private def collectToMemory(spark: SparkSession, df: DataFrame,
      mode: String, queryName: String): DataFrame = {
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Spark's file stream source lists a DIRECTORY; the driver testdata
    * is one bare parquet file per table. Stage a file path into a
    * scratch directory (one hardlink/copy) so `readStream` can consume
    * it; real directories pass through untouched. Cluster deployments
    * stream directories natively — this shim only exists for the
    * single-file test layout.
    */
  private val stageCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def streamableDir(spark: SparkSession, path: String): String = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val p = new Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    if (fs.getFileStatus(p).isDirectory) path
    else {
      // cache key includes (mtime, length) so a rewritten source file
      // re-stages instead of serving a stale snapshot
      val st = fs.getFileStatus(p)
      val cacheKey = s"$path@${st.getModificationTime}:${st.getLen}"
      stageCache.computeIfAbsent(cacheKey, { _ =>
        val stage = java.nio.file.Files.createTempDirectory("graft-stream-stage-")
        val dst = new Path(stage.toUri.toString, p.getName)
        FileUtil.copy(fs, p, dst.getFileSystem(conf), dst, false, conf)
        // deleteOnExit runs LIFO: register the dir FIRST so the files
        // (incl. the Hadoop .crc sidecar) are deleted before it
        stage.toFile.deleteOnExit()
        new java.io.File(stage.toFile, p.getName).deleteOnExit()
        new java.io.File(stage.toFile, s".${p.getName}.crc").deleteOnExit()
        stage.toUri.toString
      })
    }
  }

  /** Streaming dedup on the record key with watermark-bounded state:
    * `dropDuplicatesWithinWatermark` keeps each key's state only until
    * the watermark passes it (an unbounded plain dropDuplicates would
    * accumulate every key ever seen — not a 100 TB shape). Duplicates
    * arriving after the watermark are dropped as late data, so each
    * event_id still emits exactly once.
    */
  def dedupStream(spark: SparkSession, path: String): DataFrame =
    eventSource(spark, path)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))

  /** Run the streaming dedup over the directory DOUBLED (two copies of
    * every file): the output must equal one copy. AvailableNow +
    * append-mode memory sink. Dedup state stores are pinned to few
    * partitions for the same reason as runToBatch: state here is keys
    * within one watermark, and 32 stores × per-batch commits cost more
    * than the state they hold.
    */
  def runDedupToBatch(spark: SparkSession, path: String,
      queryName: String = "graft_stream_dedup"): DataFrame = {
    val dir = streamableDir(spark, path)
    withFewStatePartitions(spark) { s =>
      collectToMemory(s, dedupStream(s, doubledDir(s, dir)), "append", queryName)
    }
  }

  /** Scoped shuffle-partition override (stateful-stream parallelism is
    * pinned at plan time from this conf). Runs the body against a
    * CLONED session (`newSession()` shares the SparkContext but owns
    * its SQLConf), so concurrent batch queries on the caller's session
    * never observe the override — mutating the shared conf and
    * restoring it around `awaitTermination` would race with them.
    */
  private def withFewStatePartitions[T](spark: SparkSession, n: Int = 8)(body: SparkSession => T): T = {
    val scoped = spark.newSession()
    scoped.conf.set("spark.sql.shuffle.partitions", n.toString)
    body(scoped)
  }

  /** A typed event row for the custom-state operators (ts as an
    * instant so watermarks and state timeouts apply).
    */
  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long, value: Double)

  final case class Milestone(user_id: Long, milestone: Long, n_events: Long, ts: java.sql.Timestamp)

  /** Custom arbitrary-state streaming via `flatMapGroupsWithState`:
    * emit a row each time a user crosses an every-`every`-events
    * milestone. State per key is ONE long (events seen so far) — the
    * canonical shape for logic the built-in windowed/session
    * aggregates can't express (milestones depend on the full history
    * count, not any window).
    *
    * Within a micro-batch the group iterator is unordered, so events
    * are sorted by (ts, event_id) before counting — memory per
    * (key, batch) is the batch's rows for that key, which trigger
    * sizing bounds. Batches themselves arrive in file order, so
    * event-time-ordered inputs get exact milestone timestamps.
    */
  def milestones(spark: SparkSession, path: String, every: Int = 10): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(every > 0, "every must be positive")
    val events = eventSource(spark, path)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .as[Event]
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[Event], state: GroupState[Long]) =>
          val sorted = it.toIndexedSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var n = state.getOption.getOrElse(0L)
          val out = Seq.newBuilder[Milestone]
          sorted.foreach { e =>
            n += 1
            if (n % every == 0) out += Milestone(user, n / every, n, e.ts)
          }
          state.update(n)
          out.result().iterator
      }
      .toDF()
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
  }

  /** Run milestone detection over a finite directory (AvailableNow,
    * append memory sink).
    */
  def runMilestonesToBatch(spark: SparkSession, path: String, every: Int = 10,
      queryName: String = "graft_stream_milestones"): DataFrame =
    withFewStatePartitions(spark) { s =>
      collectToMemory(s,
        milestones(s, streamableDir(s, path), every), "append", queryName)
    }

  /** The same milestone operator on Spark 4's `transformWithState`
    * API (StatefulProcessor + typed ValueState) — the successor to
    * `flatMapGroupsWithState` with explicit state handles, per-state
    * TTLs and timers. Kept alongside the classic version and gated by
    * the SAME oracle, proving the two state APIs compute identical
    * results over identical micro-batches.
    */
  private class MilestoneProcessor(every: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, Milestone] {
    @transient private var nSeen: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      nSeen = getHandle.getValueState[Long]("n_seen",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(
        key: Long,
        inputRows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[Milestone] = {
      val sorted = inputRows.toIndexedSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var n = if (nSeen.exists()) nSeen.get() else 0L
      val out = Seq.newBuilder[Milestone]
      sorted.foreach { e =>
        n += 1
        if (n % every == 0) out += Milestone(key, n / every, n, e.ts)
      }
      nSeen.update(n)
      out.result().iterator
    }
  }

  def milestonesV2(spark: SparkSession, path: String, every: Int = 10): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    require(every > 0, "every must be positive")
    val events = eventSource(spark, path)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .as[Event]
    events
      .groupByKey(_.user_id)
      .transformWithState(new MilestoneProcessor(every), TimeMode.None(), OutputMode.Append())
      .toDF()
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
  }

  /** transformWithState requires the RocksDB state store; scope the
    * provider override to this run and restore the session's prior
    * setting after.
    */
  def runMilestonesV2ToBatch(spark: SparkSession, path: String, every: Int = 10,
      queryName: String = "graft_stream_milestones_v2"): DataFrame =
    withFewStatePartitions(spark) { s =>
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try collectToMemory(s, milestonesV2(s, streamableDir(s, path), every), "append", queryName)
      finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    }

  private final case class SessAcc(startUs: Long, lastUs: Long, n: Long, cents: Long)
  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, sum_cents: Long)

  /** Gap-based sessionization re-implemented on Spark 4's
    * transformWithState with EVENT-TIME TIMERS — the third state
    * primitive after ValueState (milestones v2) and the built-in
    * session_window: a session is closed not by a successor event but
    * by the WATERMARK passing its end, which is exactly what a timer
    * expresses. Per key: one ListState holds every session the
    * watermark has not yet confirmed; each batch sweep-merges the
    * union of state and new events in start order (so out-of-order
    * events across batches — before the newest session's start,
    * inside an older session, or bridging two — land exactly as a
    * batch session_window would place them), and each session end
    * registers an event-time timer — `handleExpiredTimer` emits
    * everything whose end the watermark has passed. Emission
    * therefore equals append-mode session_window (the SAME oracle
    * gates both).
    *
    * Timer granularity is milliseconds while event time is micros:
    * expiries are registered at ⌈end⌉ms so a timer can never fire
    * before the true end — firing early would emit a session the
    * watermark hasn't confirmed, breaking append parity. Stale timers
    * (an open session later extended) fire harmlessly: the expiry
    * handler re-checks each candidate's end against the fired expiry
    * instead of trusting the timer.
    */
  private class SessionProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, SessionOut] {
    // ONE ListState of not-yet-watermark-confirmed sessions — not an
    // open/pending split. session_window's batch semantics merge ANY
    // two sessions within `gap` of each other, and an out-of-order
    // (but above-watermark) event in a later micro-batch can land
    // before the newest session's start, inside an older one, or
    // bridge two of them; a split design merges it into the wrong
    // side (or fabricates a new session) and silently diverges from
    // the oracle. Keeping every unconfirmed session in one list and
    // re-sweeping makes those cases the SAME case.
    @transient private var sessions: org.apache.spark.sql.streaming.ListState[SessAcc] = _

    private def ceilMs(us: Long): Long = (us + 999L) / 1000L
    private def tsOf(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(java.lang.Math.floorDiv(us, 1000L))
      t.setNanos((java.lang.Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
    private def usOf(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    private def emit(key: Long, s: SessAcc): SessionOut =
      SessionOut(key, tsOf(s.startUs), tsOf(s.lastUs + gapUs), s.n, s.cents)

    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      sessions = getHandle.getListState[SessAcc]("sessions",
        org.apache.spark.sql.Encoders.product[SessAcc],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long,
        inputRows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[SessionOut] = {
      // every event is a singleton session; sweep-merge the union of
      // state + batch in start order (the textbook interval merge —
      // n and cents are additive, so merge order can't change sums).
      // List size is bounded by the watermark delay / gap ratio, not
      // by history: confirmed sessions leave via their timers.
      val singletons = inputRows.map { e =>
        val us = usOf(e.ts)
        SessAcc(us, us, 1L, Math.round(e.value * 100))
      }.toIndexedSeq
      val all = (sessions.get().toIndexedSeq ++ singletons)
        .sortBy(s => (s.startUs, s.lastUs))
      val merged = scala.collection.mutable.ArrayBuffer.empty[SessAcc]
      all.foreach { s =>
        if (merged.nonEmpty && s.startUs <= merged.last.lastUs + gapUs) {
          val m = merged.last
          merged(merged.size - 1) =
            SessAcc(m.startUs, math.max(m.lastUs, s.lastUs), m.n + s.n, m.cents + s.cents)
        } else merged += s
      }
      sessions.put(merged.toArray)
      // one timer per session end; an extended/bridged session's old
      // timer fires harmlessly — expiry re-checks ends, never trusts
      // the timer (registering the same ms twice is idempotent)
      merged.foreach(s => getHandle.registerTimer(ceilMs(s.lastUs + gapUs)))
      Iterator.empty
    }

    override def handleExpiredTimer(
        key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionOut] = {
      val e = expiredTimerInfo.getExpiryTimeInMs()
      val out = Seq.newBuilder[SessionOut]
      val keep = Seq.newBuilder[SessAcc]
      sessions.get().foreach { s =>
        if (ceilMs(s.lastUs + gapUs) <= e) out += emit(key, s) else keep += s
      }
      val kept = keep.result()
      if (kept.isEmpty) sessions.clear() else sessions.put(kept.toArray)
      out.result().iterator
    }
  }

  /** The timer-based sessionization over a finite directory —
    * append-parity with runSessionsToBatch (same oracle): emits
    * exactly the sessions the final watermark passed.
    */
  def runSessionsTimerToBatch(spark: SparkSession, path: String, gap: String = "30 minutes",
      queryName: String = "graft_stream_sessions_timer",
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    withFewStatePartitions(spark) { s =>
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        import s.implicits._
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        val gapUs = org.apache.spark.sql.catalyst.util.IntervalUtils
          .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(gap)) match {
          case iv => iv.microseconds + iv.days * 86400000000L
        }
        val events = eventSource(s, streamableDir(s, path), maxFilesPerTrigger)
          .withWatermark("ts", "1 hour")
          .select(col("event_id"), col("ts"), col("user_id"), col("value"))
          .as[Event]
        val sessions = events
          .groupByKey(_.user_id)
          .transformWithState(new SessionProcessor(gapUs), TimeMode.EventTime(), OutputMode.Append())
          .toDF()
          .select(col("user_id"),
            col("session_start").cast("timestamp_ntz").as("session_start"),
            col("session_end").cast("timestamp_ntz").as("session_end"),
            col("n_events"),
            (col("sum_cents") / 100.0).as("sum_value"))
        collectToMemory(s, sessions, "append", queryName)
      } finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    }

  /** Streaming ingestion into the versioned upsert table — the graft
    * analog of Hudi streaming ingest (the reference's tables are fed
    * by exactly this shape: micro-batches upserted by record key with
    * latest-wins precombine). Each micro-batch lands as one committed
    * table version; readers always see a complete snapshot; a crashed
    * batch leaves only an uncommitted directory. `maxFilesPerTrigger=1`
    * forces multiple micro-batches so the merge-across-batches path
    * actually runs.
    */
  def streamUpsert(
      spark: SparkSession,
      path: String,
      targetPath: String,
      recordKeys: Seq[String],
      precombine: String,
      queryName: String = "graft_stream_upsert"): Unit = {
    val events = eventSource(spark, path, maxFilesPerTrigger = Some(1))
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
    val q = events.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sources.UpsertWriter.upsert(batch.toDF(), targetPath, recordKeys, precombine)
      }
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Stream-stream interval join: click→purchase attribution as TWO
    * live streams (the streaming face of q_range_join — same
    * semantics, same oracle). Both sides carry watermarks and the
    * join condition bounds click_ts to [purchase_ts, purchase_ts +
    * window], so the engine can size state from the time-range
    * analysis: a purchase row is evicted once the click watermark
    * passes its window end, a click row once the purchase watermark
    * passes its ts — state is one watermark-width slice of each
    * stream per key, not the stream's history. Inner-join rows emit
    * as soon as both sides arrive (no output holdback in append
    * mode); the watermark only governs eviction.
    */
  def attributionJoin(spark: SparkSession, path: String, window: String = "30 minutes"): DataFrame = {
    // ONE file source, self-joined: both branches share the source's
    // offset tracking and file listing (a second readStream would
    // re-list and re-index every file per micro-batch).
    val raw = eventSource(spark, path)
    def side(eventType: String, prefix: String): DataFrame =
      raw.filter(col("event_type") === eventType)
        .select(col("user_id").as(s"${prefix}_user_id"),
          col("event_id").as(s"${prefix}_event_id"),
          col("ts").as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", "1 hour")
    val clicks = side("click", "c")
    val purchases = side("purchase", "p")
    clicks.join(purchases,
      col("c_user_id") === col("p_user_id") &&
        col("c_ts") >= col("p_ts") &&
        col("c_ts") <= col("p_ts") + expr(s"INTERVAL $window"))
      .select(col("c_user_id").as("user_id"),
        col("p_event_id").as("purchase_id"),
        col("c_event_id").as("click_id"))
  }

  /** Run the streaming attribution join over a finite directory
    * (AvailableNow, append memory sink).
    */
  def runAttributionToBatch(spark: SparkSession, path: String,
      queryName: String = "graft_stream_attr"): DataFrame = {
    val dir = streamableDir(spark, path)
    withFewStatePartitions(spark) { s =>
      collectToMemory(s, attributionJoin(s, dir), "append", queryName)
    }
  }

  /** Stream-stream LEFT OUTER interval join: every purchase emits —
    * with its click when one lands inside [p_ts, p_ts + window],
    * null-padded otherwise. Matched rows emit as soon as both sides
    * arrive; an UNMATCHED purchase can only emit once the watermark
    * proves no future click can match (wm past p_ts + window) — so
    * append-mode output is matches ∪ {unmatched with p_ts + window
    * below the final watermark}, and that emission rule is itself
    * SQL (the oracle states it literally). State bounds exactly as
    * the inner join: one watermark-width slice per side.
    */
  def leftAttributionJoin(spark: SparkSession, path: String,
      window: String = "30 minutes"): DataFrame = {
    val raw = eventSource(spark, path)
    def side(eventType: String, prefix: String): DataFrame =
      raw.filter(col("event_type") === eventType)
        .select(col("user_id").as(s"${prefix}_user_id"),
          col("event_id").as(s"${prefix}_event_id"),
          col("ts").as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", "1 hour")
    val clicks = side("click", "c")
    val purchases = side("purchase", "p")
    purchases.join(clicks,
      col("c_user_id") === col("p_user_id") &&
        col("c_ts") >= col("p_ts") &&
        col("c_ts") <= col("p_ts") + expr(s"INTERVAL $window"),
      "left_outer")
      .select(col("p_user_id").as("user_id"),
        col("p_event_id").as("purchase_id"),
        col("c_event_id").as("click_id"))
  }

  /** Run the streaming left-outer attribution over a finite directory
    * (AvailableNow, append memory sink).
    */
  def runLeftAttributionToBatch(spark: SparkSession, path: String,
      queryName: String = "graft_stream_left_attr"): DataFrame = {
    val dir = streamableDir(spark, path)
    withFewStatePartitions(spark) { s =>
      collectToMemory(s, leftAttributionJoin(s, dir), "append", queryName)
    }
  }

  /** Stream-static enrichment: every streaming event picks up its
    * user's dimension attributes by joining the micro-batch against a
    * STATIC DataFrame — the streaming face of the flagship report
    * join. Stateless: no watermark, no state store; the static side
    * is explicitly broadcast, so each micro-batch enriches with a
    * map-side hash join (the dimension is read/planned once and
    * reused across batches, never shuffled against the stream).
    */
  def enriched(spark: SparkSession, path: String, dim: DataFrame,
      streamKey: String, dimKey: String): DataFrame = {
    val events = eventSource(spark, path)
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
    events.join(broadcast(dim), col(streamKey) === col(dimKey))
  }

  /** Run the enrichment over a finite directory (AvailableNow, append
    * memory sink): events decorated with customer name + nation name.
    */
  def runEnrichToBatch(spark: SparkSession, path: String,
      customer: DataFrame, nation: DataFrame,
      queryName: String = "graft_stream_enrich"): DataFrame = {
    val dim = customer.join(broadcast(nation),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name").as("customer_name"),
        col("n_name").as("nation_name"))
    val out = enriched(spark, streamableDir(spark, path), dim, "user_id", "c_custkey")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("customer_name"), col("nation_name"))
    collectToMemory(spark, out, "append", queryName)
  }

  /** Stage a single parquet file as `nFiles` hash-split parquet files
    * in a scratch dir — a deterministic multi-micro-batch stream input
    * (with `maxFilesPerTrigger=1`, each split file becomes one batch).
    * Split assignment is hash(event_id) — deterministic, and batch
    * ORDER must not matter to the consumer (commutative merges only).
    */
  def splitDir(spark: SparkSession, path: String, nFiles: Int,
      keyCol: String = "event_id"): String = {
    val st = {
      import org.apache.hadoop.fs.Path
      val p = new Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    }
    val key = s"split$nFiles:$keyCol:$path@${st.getModificationTime}:${st.getLen}"
    stageCache.computeIfAbsent(key, { _ =>
      val stage = java.nio.file.Files.createTempDirectory("graft-stream-split-")
      stage.toFile.deleteOnExit()
      spark.read.parquet(path)
        .repartition(nFiles, col(keyCol))
        .write.mode("overwrite").parquet(stage.toUri.toString)
      Option(stage.toFile.listFiles()).getOrElse(Array.empty)
        .foreach(_.deleteOnExit())
      stage.toUri.toString
    })
  }

  /** Streaming incremental-aggregate maintenance: each micro-batch is
    * folded into the versioned rollup state table by
    * `IncrementalAgg.refreshTable` — the streaming face of q_inc_agg
    * and the graft analog of a continuously-maintained materialized
    * view. Because the maintained aggregates (count + decimal sum)
    * are associative AND commutative, the final state is independent
    * of micro-batch boundaries and order, and equals the batch
    * groupBy bit-for-bit — which is exactly what the oracle checks.
    * State per refresh is O(touched keys), never O(history).
    */
  def streamIncAgg(
      spark: SparkSession,
      path: String,
      statePath: String,
      keys: Seq[String],
      valueCol: String,
      queryName: String = "graft_stream_inc_agg"): Unit =
    // the per-batch refresh shuffles a SMALL increment + state table;
    // scope shuffle partitions down like the stateful streaming ops
    withFewStatePartitions(spark) { s =>
      val events = eventSource(s, path, maxFilesPerTrigger = Some(1))
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
      // Exactly-once state: the source checkpoint (sibling of the
      // state table) makes batch ids durable across restarts, and the
      // refresh records the applied batch id inside the SAME atomic
      // state commit — a batch redelivered after a crash between
      // state upsert and checkpoint commit is recognized and skipped,
      // so the additive fold never double-counts (the Hudi
      // streaming-sink idempotence contract; reference
      // template.py:226-281).
      val q = events.writeStream
        .option("checkpointLocation", s"${statePath}_ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          graft.operators.IncrementalAgg.refreshTable(
            s, statePath, batch.toDF(), keys, valueCol, batchId = Some(batchId))
          ()
        }
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

  /** Streaming distinct-count sketch maintenance: each micro-batch
    * folds its per-key KMV sketch into the versioned O(k) state
    * ([[graft.operators.IncrementalAgg.refreshKmv]]) — continuous
    * approximate COUNT(DISTINCT) dashboards at O(batch) ingest cost,
    * with the same exactly-once contract as streamIncAgg: the source
    * checkpoint makes batch ids durable, and the applied-batch
    * high-water mark rides the atomic state commit, so a redelivered
    * batch is a recognized no-op (the sketch fold is idempotent per
    * VALUE but the guard also spares the state churn).
    */
  def streamKmv(
      spark: SparkSession,
      path: String,
      statePath: String,
      keys: Seq[String],
      valueCol: String,
      k: Int = 64,
      queryName: String = "graft_stream_kmv"): Unit =
    withFewStatePartitions(spark) { s =>
      val events = eventSource(s, path, maxFilesPerTrigger = Some(1))
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
      val q = events.writeStream
        .option("checkpointLocation", s"${statePath}_ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          graft.operators.IncrementalAgg.refreshKmv(
            s, statePath, batch.toDF(), keys, valueCol, k, batchId = Some(batchId))
          ()
        }
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

  /** Streaming frequent-items maintenance: each micro-batch's
    * Misra-Gries summary folds into the persisted constant-size
    * state ([[graft.operators.IncrementalAgg.refreshFreq]]) — a
    * continuously-current trending/heavy-hitter candidate list at
    * O(batch) ingest cost and O(capacity) state, with the mergeable-
    * summaries undercount bound holding across the stream's whole
    * life. Same exactly-once contract as streamIncAgg: the source
    * checkpoint makes batch ids durable and the applied-batch mark
    * rides the atomic state commit, so a redelivered batch is a
    * recognized no-op. Exact answers come from verifying the
    * candidates ([[graft.operators.HeavyHitters.verified]]).
    */
  def streamFreq(
      spark: SparkSession,
      path: String,
      statePath: String,
      valueCol: String,
      capacity: Int = 4096,
      queryName: String = "graft_stream_freq"): Unit =
    withFewStatePartitions(spark) { s =>
      val events = eventSource(s, path, maxFilesPerTrigger = Some(1))
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
      val q = events.writeStream
        .option("checkpointLocation", s"${statePath}_ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          graft.operators.IncrementalAgg.refreshFreq(
            s, statePath, batch.toDF(), valueCol, capacity, batchId = Some(batchId))
          ()
        }
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

  /** Streaming near-dup dedup-on-ingest: each micro-batch of
    * documents folds into the persisted MinHash-LSH band/set state
    * (`Dedup.minhashLshIncremental`) and emits the near-dup pairs
    * INVOLVING that batch — a pair surfaces exactly when its later
    * member arrives, so the union of emissions over the stream's life
    * equals the one-shot LSH pair set (which is what the oracle
    * checks). Exactly-once end to end: the source checkpoint makes
    * batch ids durable, the state append is the marker-committed
    * VersionedLog (a replayed id appends nothing and RE-DERIVES its
    * original emission), and the output lands per-batch at
    * `outPath/batch=<id>` with overwrite — a crash-retry rewrites
    * the same rows instead of appending duplicates.
    */
  def streamNearDup(
      spark: SparkSession,
      path: String,
      statePath: String,
      outPath: String,
      queryName: String = "graft_stream_neardup",
      // TRIGGER SIZING (guide §1.2 / the streaming per-batch tax): each
      // micro-batch pays a fixed fold cost — plan + state-log version +
      // eager emission checkpoint — that dwarfs its data work on small
      // files; the emission union is trigger-sizing-invariant (the
      // plan-locked contract above), so batching files per trigger is
      // the production amortization knob, not a semantics change.
      filesPerTrigger: Int = 1): Unit =
    withFewStatePartitions(spark) { s =>
      val schema = s.read.parquet(path).schema
      val raw = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", filesPerTrigger.toString)
        .parquet(path)
      val q = raw.writeStream
        .option("checkpointLocation", s"${statePath}_ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          graft.operators.Dedup.minhashLshIncremental(
              statePath, batch.toDF(), "doc_id", "text", batchId = Some(batchId))
            .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
          ()
        }
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

  /** Stage a directory's parquet files twice (suffix-renamed copies)
    * into a scratch dir — a deterministic duplicate-bearing stream
    * input for exercising dedup.
    */
  def doubledDir(spark: SparkSession, path: String): String = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val p = new Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    val files = fs.listStatus(p).filter(_.isFile)
      // skip hidden and metadata files (.crc sidecars, _SUCCESS markers)
      .filterNot(st => st.getPath.getName.startsWith(".") || st.getPath.getName.startsWith("_"))
    val key = s"doubled:$path@" + files.map(st => s"${st.getPath.getName}:${st.getModificationTime}:${st.getLen}").sorted.mkString(",")
    stageCache.computeIfAbsent(key, { _ =>
      val stage = java.nio.file.Files.createTempDirectory("graft-stream-double-")
      stage.toFile.deleteOnExit()
      files.foreach { st =>
        Seq("copy1_", "copy2_").foreach { prefix =>
          val dst = new Path(stage.toUri.toString, prefix + st.getPath.getName)
          FileUtil.copy(fs, st.getPath, dst.getFileSystem(conf), dst, false, conf)
          new java.io.File(stage.toFile, prefix + st.getPath.getName).deleteOnExit()
          new java.io.File(stage.toFile, s".${prefix}${st.getPath.getName}.crc").deleteOnExit()
        }
      }
      stage.toUri.toString
    })
  }

  /** Run the streaming agg to completion over the (finite) directory
    * with AvailableNow, collecting via a complete-mode memory sink,
    * and return the result as a batch DataFrame. Complete mode emits
    * trailing windows that append-mode watermarking would hold back.
    */
  def runToBatch(spark: SparkSession, path: String, queryName: String = "graft_stream_out"): DataFrame =
    // Windowed-agg state is tiny (one row per (window, type)); fewer
    // state stores means fewer per-batch checkpoint commits.
    withFewStatePartitions(spark) { s =>
      collectToMemory(s, hourlyAgg(s, streamableDir(s, path)), "complete", queryName)
    }

  /** Stage one parquet file as `n` ORDERED micro-batch inputs: file k
    * holds the rows with event_id % n == k, named and mtime-stamped
    * so the file source processes them in k order. Unlike `splitDir`
    * (hash split, order-free consumers only), the assignment AND the
    * order are plain SQL — which is what lets the late-data DLQ below
    * be oracled exactly.
    */
  def orderedModSplitDir(spark: SparkSession, path: String, n: Int): String = {
    import org.apache.hadoop.fs.Path
    require(n >= 1, "need at least one split")
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val key = s"modsplit$n:$path@${st.getModificationTime}:${st.getLen}"
    stageCache.computeIfAbsent(key, { _ =>
      val stage = java.nio.file.Files.createTempDirectory("graft-stream-modsplit-")
      stage.toFile.deleteOnExit()
      val base = spark.read.parquet(path)
      (0 until n).foreach { k =>
        val tmp = new Path(stage.toUri.toString, s"_tmp$k")
        base.filter(pmod(col("event_id"), lit(n.toLong)) === k)
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = fs.listStatus(tmp).map(_.getPath)
          .find(q => q.getName.startsWith("part-") && q.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
        val dst = new Path(stage.toUri.toString, f"split-$k%04d.parquet")
        fs.rename(part, dst)
        fs.delete(tmp, true)
        // distinct ascending mtimes: the file source's processing
        // order (mtime, then path — both increase with k)
        fs.setTimes(dst, 1000000000000L + k * 60000L, -1)
        new java.io.File(stage.toFile, dst.getName).deleteOnExit()
      }
      stage.toUri.toString
    })
  }

  /** Late-data dead-letter channel: rows that arrive BELOW the
    * watermark are not silently dropped (Structured Streaming's
    * default for stateful ops) but routed to a DLQ table for
    * reconciliation — the audit path a production pipeline needs
    * when "late" means "a corrected record we must not lose".
    *
    * The watermark is tracked explicitly per micro-batch with the
    * standard semantics: the threshold applied to batch k is
    * max(event time seen through batch k-1) − delay. Each batch's
    * sub-threshold rows append to the DLQ sink (one parquet append
    * per batch — at scale, a versioned-table append); on-time rows
    * would continue to the stateful operator. Returns the DLQ as a
    * batch DataFrame.
    *
    * Determinism contract (what the oracle replays): input staged by
    * `orderedModSplitDir`, one file per trigger, so batch k = rows
    * with event_id % n == k and the watermark sequence is a plain
    * running max over batch order.
    */
  def lateDataDlq(
      spark: SparkSession,
      path: String,
      nBatches: Int = 6,
      delaySeconds: Long = 3600L,
      queryName: String = "graft_stream_dlq"): DataFrame = {
    require(delaySeconds >= 0, "delay must be non-negative")
    val staged = orderedModSplitDir(spark, path, nBatches)
    val delayUs = delaySeconds * 1000000L
    val dlqDir = java.nio.file.Files.createTempDirectory("graft-dlq-").toUri.toString
    // watermark tracked as epoch MICROS of the normalized event time —
    // encoding-independent (eventSource already dispatched on the
    // file's physical ts type)
    val wm = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    val dlqSchema = withFewStatePartitions(spark) { s =>
      val events = eventSource(s, staged, maxFilesPerTrigger = Some(1))
      val q = events.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val cur = wm.get()
          // STRICT <: Structured Streaming's stateful operators drop
          // only event times strictly below the watermark — a row
          // exactly AT the threshold is still on-time, and must not
          // appear in both the real sink and the DLQ
          batch.toDF().filter(unix_micros(col("ts")) < lit(cur))
            .write.mode("append").parquet(dlqDir)
          val mx = batch.agg(max(unix_micros(col("ts")))).collect()(0)
          if (!mx.isNullAt(0)) {
            val cand = mx.getLong(0) - delayUs
            if (cand > wm.get()) wm.set(cand)
          }
        }
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      events.schema
    }
    // explicit schema: an all-on-time run leaves the DLQ dir empty,
    // where schema inference would fail
    spark.read.schema(dlqSchema).parquet(dlqDir)
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
  }

  /** Streaming append ingestion with PER-COMMIT Bloom-index
    * maintenance (SURVEY 22t — composes 22e-style foreachBatch
    * ingestion with the 10s3 incremental index): each micro-batch
    * lands as its own `batch=N` partition dir (mode=Overwrite per
    * dir, so a replayed batch id rewrites the same files instead of
    * duplicating — the checkpoint + deterministic-target pair is the
    * exactly-once contract every foreachBatch sink here rides), then
    * [[graft.operators.BloomFileIndex.refresh]] folds ONLY that
    * commit's files into the persisted index — the file-list diff is
    * pure FS metadata, so index maintenance costs O(commit) per
    * trigger however large the table has grown. Point lookups read
    * through the maintained index immediately; a crash between the
    * append and the refresh leaves the index stale-never-torn and
    * the next trigger's refresh catches the orphaned files up.
    * Returns per-batch refresh stats (the spec pins added == the
    * batch's file count and indexedFiles == the running total).
    */
  /** Streaming MATERIALIZED VIEW maintenance (SURVEY 22u — the
    * Materialize/streaming-MV shape composed from graft's own parts):
    * each micro-batch lands in the append table (batch=N dirs,
    * Overwrite-per-dir replay idempotence) and FOLDS into the
    * registered rollup — first batch defines the view, every later
    * one is an O(batch + groups) [[graft.plans.MaterializedViews
    * .refreshIncremental]]; after the stream drains, any covered
    * aggregate over the BASE table transparently answers from the
    * |groups|-row view via the Catalyst rewrite. Exactly-once: the
    * TABLE is the replay-safe truth (checkpoint + deterministic batch
    * dirs); the view is DERIVED state — an in-session applied-batch
    * guard skips same-session retries, and a restarted job re-defines
    * the view from the landed table (one rollup scan), which is the
    * same answer by construction. Returns the registered MvDef; the
    * caller deregisters when done.
    */
  def streamMaintainMv(
      spark: SparkSession,
      path: String,
      tablePath: String,
      mvPath: String,
      groupCols: Seq[String],
      aggCols: Seq[String],
      queryName: String = "graft_stream_mv"): graft.plans.MaterializedViews.MvDef = {
    val applied = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val dRef = new java.util.concurrent.atomic.AtomicReference[graft.plans.MaterializedViews.MvDef]()
    val events = eventSource(spark, path, maxFilesPerTrigger = Some(1))
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
    val q = events.writeStream
      .option("checkpointLocation", s"${tablePath}_ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (applied.add(batchId)) {
          batch.toDF().write.mode("overwrite").parquet(s"$tablePath/batch=$batchId")
          val d = dRef.get()
          if (d == null)
            dRef.set(graft.plans.MaterializedViews.define(
              spark, tablePath, groupCols, aggCols, mvPath))
          else
            dRef.set(graft.plans.MaterializedViews.refreshIncremental(
              spark, d, batch.toDF()))
        }
        ()
      }
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val d = dRef.get()
    require(d != null, "streamMaintainMv: no micro-batch ran — empty source?")
    d
  }

  def streamAppendBloomIndexed(
      spark: SparkSession,
      path: String,
      tablePath: String,
      indexPath: String,
      keyCol: String,
      m: Int = 4096,
      queryName: String = "graft_stream_bloom"): Seq[graft.operators.BloomFileIndex.RefreshStats] = {
    val stats = new java.util.concurrent.CopyOnWriteArrayList[graft.operators.BloomFileIndex.RefreshStats]()
    val events = eventSource(spark, path, maxFilesPerTrigger = Some(1))
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
    val q = events.writeStream
      .option("checkpointLocation", s"${tablePath}_ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.toDF().write.mode("overwrite").parquet(s"$tablePath/batch=$batchId")
        stats.add(graft.operators.BloomFileIndex.refresh(spark, tablePath, indexPath, keyCol, m))
        ()
      }
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    stats.asScala.toSeq
  }
}
