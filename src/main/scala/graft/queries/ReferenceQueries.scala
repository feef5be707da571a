package graft

import graft.pipeline._
import graft.sources.{IncrementalReader, TableLoader, UpsertWriter}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-surface slice of the query catalog (the reference pipeline's own shapes: loads, reports, upsert table, services) — one trait of the linear
  * [[Queries]] stack; see Queries.scala for the registry and the
  * catalog-wide numeric policy.
  */
trait ReferenceQueries extends QueryBase {

  // ---------------------------------------------------------------
  // Reference surface
  // ---------------------------------------------------------------

  /** #1 Full snapshot load (reference: template.py:304). */
  val qFullLoad: QueryDef = QueryDef(
    run = (s, dir) => t(s, dir, "orders"),
    oracle = Some("SELECT * FROM orders"))

  /** #2 Incremental read since a commit watermark
    * (reference: template.py:197-217). Fixed watermark so the check
    * is stateless; the checkpoint state machine is covered in specs.
    */
  val incWatermark = "2024-01-15 00:00:00"
  val qIncLoad: QueryDef = QueryDef(
    run = (s, dir) => {
      val rdr = new IncrementalReader(s, null) // readSince needs no store
      // filter the RAW nanos column so the watermark is a pushed
      // parquet predicate, then normalize (see readSinceNanos)
      rdr.readSinceNanos(s.read.parquet(s"$dir/events.parquet"), "ts", incWatermark)
    },
    oracle = Some(s"SELECT * FROM events WHERE ts > TIMESTAMP '$incWatermark'"))

  /** #4/#5 Flagship config-driven report transform — the reference's
    * own demo query re-grounded on TPC-H-ish tables
    * (reference: template.py:471-516: orders ⋈ customers, URGENT only).
    */
  val reportSql: String =
    """SELECT o.*, c.c_name AS customer_name
      |FROM orders AS o
      |JOIN customer AS c ON o.o_custkey = c.c_custkey
      |WHERE o.o_orderpriority = '1-URGENT'""".stripMargin

  def reportSpec(dir: String, reportRoot: Option[String] = None): PipelineSpec = PipelineSpec(
    sources = Seq(
      SourceSpec("orders", s"$dir/orders.parquet"),
      SourceSpec("customer", s"$dir/customer.parquet")),
    transform = TransformSpec(reportSql),
    report = reportRoot.map(root => ReportSpec(
      senderEmail = "reports@graft.local",
      recipientEmail = "customer@graft.local",
      subject = "Download Link for Data",
      reportRoot = root)))

  val qReportUrgent: QueryDef = QueryDef(
    run = (s, dir) => new ReportPipeline(s, scratch("ckpt-report")).transform(reportSpec(dir)),
    oracle = Some(reportSql))

  /** #6 CSV report sink roundtrip: run the flagship transform, write
    * it through ReportWriter (date-partitioned single CSV), read it
    * back with the declared schema. Oracle is the flagship query —
    * proving the CSV layer is lossless for this report shape.
    */
  val qCsvRoundtrip: QueryDef = QueryDef(
    run = (s, dir) => {
      val result = new ReportPipeline(s, scratch("ckpt-csv")).transform(reportSpec(dir))
      val writer = new ReportWriter(scratch("report-root"))
      val handle = writer.write(result)
      s.read.schema(result.schema).option("header", "true")
        .option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .csv(handle.path)
    },
    oracle = Some(reportSql))

  /** #6b JSON-lines report sink roundtrip: the flagship transform
    * written through ReportWriter as JSONL and read back with the
    * declared schema — same losslessness contract as the CSV path
    * (doubles survive via shortest-round-trip serialization; NTZ
    * timestamps via the declared read schema).
    */
  val qJsonlRoundtrip: QueryDef = QueryDef(
    run = (s, dir) => {
      val result = new ReportPipeline(s, scratch("ckpt-jsonl")).transform(reportSpec(dir))
      val writer = new ReportWriter(scratch("report-root-jsonl"))
      val handle = writer.write(result, format = "json")
      s.read.schema(result.schema).json(handle.path)
    },
    oracle = Some(reportSql))

  /** #2b Incremental aggregate maintenance: the per-(user, type)
    * rollup is built from TWO increments split at the incremental
    * watermark — history is never rescanned on the second refresh —
    * and must equal the full recompute bit-for-bit (count and decimal
    * sum are associative and exact).
    */
  val qIncAgg: QueryDef = QueryDef(
    run = (s, dir) => {
      val statePath = scratch("inc-agg-state")
      val ev = t(s, dir, "events")
      val keys = Seq("user_id", "event_type")
      graft.operators.IncrementalAgg.refreshTable(
        s, statePath, ev.filter(col("ts") <= lit(incWatermark).cast("timestamp_ntz")), keys, "value",
        batchId = Some(1L))
      graft.operators.IncrementalAgg.refreshTable(
        s, statePath, ev.filter(col("ts") > lit(incWatermark).cast("timestamp_ntz")), keys, "value",
        batchId = Some(2L))
      // at-least-once delivery replays batch 2: the applied-batch
      // high-water mark (committed atomically with the state) makes
      // the redelivery a no-op — if it double-counted, the oracle
      // hash below would catch it
      graft.operators.IncrementalAgg.refreshTable(
        s, statePath, ev.filter(col("ts") > lit(incWatermark).cast("timestamp_ntz")), keys, "value",
        batchId = Some(2L))
      graft.operators.IncrementalAgg.read(s, statePath, keys)
        .select(col("user_id"), col("event_type"), col("n"),
          col("sum_dec").cast("double").as("sum_value"))
    },
    oracle = Some(
      """SELECT user_id, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY user_id, event_type""".stripMargin))

  /** #2e Retraction-aware incremental aggregate maintenance
    * ([[graft.operators.IncrementalAgg.refreshFromChanges]]): the
    * rollup built from the base snapshot stays exact under a CDC
    * batch carrying INSERTS, DELETES and UPDATE pre/post images
    * (purchases doubled, errors deleted, clicks re-keyed — the
    * q_cdc_feed scenario) — pre-images subtract, post-images add,
    * fully-deleted groups tombstone to n=0 and readLive drops them.
    * The replayed batch proves the at-least-once guard. The oracle
    * recomputes the aggregate over the NEW snapshot directly.
    */
  val qIncAggCdc: QueryDef = QueryDef(
    run = (s, dir) => {
      val statePath = scratch("inc-agg-cdc-state")
      val base = t(s, dir, "events")
      val next = base
        .filter(col("event_type") =!= "error" && col("event_type") =!= "purchase")
        .unionByName(base.filter(col("event_type") === "purchase")
          .withColumn("value", col("value") * 2)
          .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR")))
        .unionByName(base.filter(col("event_type") === "click")
          .withColumn("event_id", col("event_id") + 20000000L))
      val keys = Seq("user_id", "event_type")
      graft.operators.IncrementalAgg.refreshTable(
        s, statePath, base, keys, "value", batchId = Some(1L))
      val feed = graft.operators.SnapshotDiff.changeFeed(base, next, keys = Seq("event_id"))
      graft.operators.IncrementalAgg.refreshFromChanges(
        s, statePath, feed, keys, "value", batchId = Some(2L))
      // at-least-once redelivery of the CDC batch must be a no-op
      graft.operators.IncrementalAgg.refreshFromChanges(
        s, statePath, feed, keys, "value", batchId = Some(2L))
      graft.operators.IncrementalAgg.readLive(s, statePath, keys)
        .select(col("user_id"), col("event_type"), col("n"),
          col("sum_dec").cast("double").as("sum_value"))
    },
    oracle = Some(
      """WITH next AS (
        |  SELECT * FROM events WHERE event_type NOT IN ('error', 'purchase')
        |  UNION ALL
        |  SELECT event_id, ts + INTERVAL 1 HOUR AS ts, user_id, event_type,
        |         value * 2 AS value, props
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT event_id + 20000000 AS event_id, ts, user_id, event_type, value, props
        |  FROM events WHERE event_type = 'click'
        |)
        |SELECT user_id, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM next GROUP BY user_id, event_type""".stripMargin))

  /** #2c Incremental JOIN-view maintenance: revenue by market segment
    * over orders ⋈ customer, with BOTH sides changing — orders arrive
    * as two increments split at a date watermark (fact history is
    * never rescanned; per-custkey partials fold), and the customer
    * dim is then patched (every custkey % 10 == 0 moves to segment
    * 'MOVED') as a latest-wins upsert. The read joins the two compact
    * states and must equal the full recompute over the final inputs
    * bit-for-bit.
    */
  val qIncJoin: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.operators.IncrementalJoinView
      val factState = scratch("inc-join-fact")
      val dimState = scratch("inc-join-dim")
      val o = t(s, dir, "orders")
      val cut = lit("1995-01-01").cast("timestamp_ntz")
      IncrementalJoinView.refreshFact(
        s, factState, o.filter(col("o_orderdate") <= cut), "o_custkey", "o_totalprice",
        batchId = Some(1L))
      IncrementalJoinView.refreshFact(
        s, factState, o.filter(col("o_orderdate") > cut), "o_custkey", "o_totalprice",
        batchId = Some(2L))
      // replayed fact increment: skipped by the high-water mark; a
      // double-count would fail the oracle hash
      IncrementalJoinView.refreshFact(
        s, factState, o.filter(col("o_orderdate") > cut), "o_custkey", "o_totalprice",
        batchId = Some(2L))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      IncrementalJoinView.refreshDim(
        s, dimState, c.withColumn("_ver", lit(1L)), "c_custkey", "_ver")
      IncrementalJoinView.refreshDim(
        s, dimState,
        c.filter(col("c_custkey") % 10 === 0)
          .withColumn("c_mktsegment", lit("MOVED")).withColumn("_ver", lit(2L)),
        "c_custkey", "_ver")
      IncrementalJoinView.read(s, factState, dimState,
          joinKey = "o_custkey", dimKey = "c_custkey", groupCol = "c_mktsegment")
        .select(col("c_mktsegment"), col("n").as("n_orders"),
          col("sum_dec").cast("double").as("revenue"))
    },
    oracle = Some(
      """WITH dim AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 10 = 0 THEN 'MOVED' ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer
        |)
        |SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders JOIN dim ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin))

  /** #10 Upsert merge: latest-wins by (record key, precombine)
    * (reference: generate_hudi_table.py:86-214). Purchases get a
    * doubled value one hour later; the merge must surface exactly
    * those updated rows plus untouched originals.
    */
  val qUpsertMerge: QueryDef = QueryDef(
    run = (s, dir) => {
      val base = t(s, dir, "events")
      val updates = base
        .filter(col("event_type") === "purchase")
        .withColumn("value", col("value") * 2)
        .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
      UpsertWriter.merge(base.unionByName(updates), Seq("event_id"), "ts")
    },
    oracle = Some(
      """WITH updates AS (
        |  SELECT event_id, ts + INTERVAL 1 HOUR AS ts, user_id, event_type, value * 2 AS value, props
        |  FROM events WHERE event_type = 'purchase'
        |), unioned AS (
        |  SELECT * FROM events UNION ALL SELECT * FROM updates
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts DESC) AS rn FROM unioned
        |)
        |SELECT event_id, ts, user_id, event_type, value, props FROM ranked WHERE rn = 1""".stripMargin))

  /** #10f Delete operation on the versioned table (Hudi DELETE
    * analog): ingest events, tombstone every 'view' event's key, read
    * the post-delete snapshot. The delete-key batch broadcasts; the
    * oracle is the surviving set.
    */
  val qUpsertDelete: QueryDef = QueryDef(
    run = (s, dir) => {
      val target = scratch("upsert-delete")
      val base = t(s, dir, "events")
      UpsertWriter.upsert(base, target, Seq("event_id"), "ts")
      UpsertWriter.delete(s, target,
        base.filter(col("event_type") === "view").select("event_id"), Seq("event_id"))
      UpsertWriter.read(s, target)
    },
    oracle = Some("SELECT * FROM events WHERE event_type <> 'view'"))

  /** #12d Compaction table service, oracled end-to-end: the events
    * table committed as many small files, compacted to target size as
    * a NEW version — the read-back must be content-identical to the
    * source (layout-only change; the file-count property is
    * spec-locked separately).
    */
  val qCompact: QueryDef = QueryDef(
    run = (s, dir) => {
      val target = scratch("compact-svc")
      UpsertWriter.upsert(t(s, dir, "events"), target,
        recordKeys = Seq("event_id"), precombine = "ts",
        targetFileBytes = 64L * 1024) // force a small-file version
      UpsertWriter.compact(s, target, targetFileBytes = 512L * 1024 * 1024)
      UpsertWriter.read(s, target)
    },
    oracle = Some("SELECT * FROM events"))

  /** #10l Savepoint restore, oracled end-to-end: v1 = events, v2
    * doubles purchase values, restore(v1) re-commits v1's CONTENT as
    * v3 — the live read must equal the original table (append-only
    * timeline; the timeline shape is spec-locked separately).
    */
  val qRestore: QueryDef = QueryDef(
    run = (s, dir) => {
      val target = scratch("restore-svc")
      val base = t(s, dir, "events")
      UpsertWriter.upsert(base, target, Seq("event_id"), "ts", keepVersions = 3)
      UpsertWriter.upsert(
        base.withColumn("value",
          when(col("event_type") === "purchase", col("value") * 2).otherwise(col("value"))),
        target, Seq("event_id"), "ts", keepVersions = 3)
      UpsertWriter.restore(s, target, version = 1, keepVersions = 3)
      UpsertWriter.read(s, target)
    },
    oracle = Some("SELECT * FROM events"))

  /** #12 Clustered (sorted-within-partition) file layout, oracled as
    * a lossless round-trip: clustering is layout-only, so the
    * read-back equals the source table (the per-file value-span
    * property is spec-locked separately).
    */
  val qClusteredRead: QueryDef = QueryDef(
    run = (s, dir) => {
      val target = scratch("clustered-read")
      UpsertWriter.upsert(t(s, dir, "events"), target,
        recordKeys = Seq("event_id"), precombine = "ts",
        clusterBy = Seq("value"))
      UpsertWriter.read(s, target)
    },
    oracle = Some("SELECT * FROM events"))

  /** #14n Catalog sync (the reference's hive_sync,
    * generate_hudi_table.py:121-130): upsert events into a versioned
    * table with catalog registration, then read it back BY NAME via
    * `spark.table` — no temp view, no path. Oracled as the full
    * snapshot: what the catalog name resolves to must be exactly the
    * committed version's content.
    */
  val qCatalogRead: QueryDef = QueryDef(
    run = (s, dir) => {
      val target = scratch("catalog-read")
      UpsertWriter.upsert(t(s, dir, "events"), target,
        recordKeys = Seq("event_id"), precombine = "ts",
        syncTable = Some("graft_catalog_events"))
      s.catalog.refreshTable("graft_catalog_events")
      s.table("graft_catalog_events")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    },
    oracle = Some("SELECT * FROM events"))

  /** #11 Hive-partitioned versioned write + partition-pruned read:
    * events upserted into a table partitioned by event_type, read
    * back filtered to ONE partition — the scan must touch only that
    * partition's files (PlanSpec asserts the PartitionFilters), and
    * the round-trip must be lossless vs the raw table.
    */
  val qPartitionPrune: QueryDef = QueryDef(
    run = (s, dir) => {
      val target = scratch("upsert-partitioned")
      UpsertWriter.upsert(t(s, dir, "events"), target,
        recordKeys = Seq("event_id"), precombine = "ts",
        partitionBy = Seq("event_type"))
      UpsertWriter.read(s, target)
        .filter(col("event_type") === "click")
        // partition columns come back string-typed and appended last;
        // restore the original column order and keep the value as-is
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    },
    oracle = Some("SELECT * FROM events WHERE event_type = 'click'"))

  /** #12b Bucketed co-located join: orders and lineitem bucketed on
    * the join key — the join plans with ZERO exchanges (PlanSpec
    * asserts it); this query checks the bucketed storage path is also
    * CORRECT end-to-end against the plain-join oracle.
    */
  protected val bucketedFor = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
  val qBucketedJoin: QueryDef = QueryDef(
    run = (s, dir) => {
      // table prep is ingest (one-time DDL per source dir), not the
      // query — memoize like the streaming dir staging, so reps and
      // repeat runs measure the exchange-free join itself
      // table names carry a dir hash: two source dirs in one JVM must
      // not share (or clobber) each other's bucketed tables
      val tag = java.lang.Long.toHexString(
        org.apache.spark.unsafe.types.UTF8String.fromString(dir).hashCode().toLong & 0xffffffffL)
      val (ordersTbl, lineitemTbl) = (s"graft_q_orders_b_$tag", s"graft_q_lineitem_b_$tag")
      bucketedFor.computeIfAbsent(dir, { _ =>
        graft.sources.Bucketing.writeBucketed(
          t(s, dir, "orders"), ordersTbl, Seq("o_orderkey"), buckets = 8)
        graft.sources.Bucketing.writeBucketed(
          t(s, dir, "lineitem"), lineitemTbl, Seq("l_orderkey"), buckets = 8)
        true
      })
      graft.sources.Bucketing.table(s, ordersTbl)
        .join(graft.sources.Bucketing.table(s, lineitemTbl),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          sum((col("l_extendedprice").cast("decimal(18,2)") * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))).cast("decimal(28,6)")).cast("double").as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderstatus, count(*) AS n_items,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus""".stripMargin))

  /** #10d Time travel: two upserts build a two-version timeline;
    * reading VERSION 1 must return the pre-update snapshot exactly
    * (the raw events — event_id is unique, so the first merge is an
    * identity), while the latest read reflects the update. The latest
    * read is q_upsert_merge's territory; here the oracle pins the
    * archived version.
    */
  val qTimeTravel: QueryDef = QueryDef(
    run = (s, dir) => {
      val target = scratch("upsert-timetravel")
      val base = t(s, dir, "events")
      UpsertWriter.upsert(base, target, Seq("event_id"), "ts", keepVersions = 3)
      val updates = base.filter(col("event_type") === "purchase")
        .withColumn("value", col("value") * 2)
        .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
      UpsertWriter.upsert(updates, target, Seq("event_id"), "ts", keepVersions = 3)
      UpsertWriter.readVersion(s, target, 1)
    },
    oracle = Some("SELECT * FROM events"))

  /** #10d2 Timestamp-based time travel ([[UpsertWriter.readAsOf]] —
    * the `TIMESTAMP AS OF` face of #10d): same 2-commit lifecycle,
    * but v1 is resolved by COMMIT INSTANT (the marker file's mtime —
    * marker-last makes it exactly when the version became visible)
    * instead of version number. Reading as-of one millisecond before
    * v2's instant must return the v1 snapshot — the same oracle as
    * the version route; two resolution mechanisms must agree on the
    * bytes.
    */
  val qTimeTravelTs: QueryDef = QueryDef(
    run = (s, dir) => {
      val target = scratch("upsert-timetravel-ts")
      val base = t(s, dir, "events")
      UpsertWriter.upsert(base, target, Seq("event_id"), "ts", keepVersions = 3)
      val updates = base.filter(col("event_type") === "purchase")
        .withColumn("value", col("value") * 2)
        .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
      UpsertWriter.upsert(updates, target, Seq("event_id"), "ts", keepVersions = 3)
      val instants = UpsertWriter.commitInstants(s, target).toMap
      require(instants(2) > instants(1),
        s"commit instants must be distinguishable, got $instants — " +
          "filesystem mtime granularity coarser than the inter-commit gap")
      UpsertWriter.readAsOf(s, target, instants(2) - 1)
    },
    oracle = Some("SELECT * FROM events"))

  /** #10t Deep clone ([[graft.sources.TableClone.deepClone]]): the
    * 2-version events table is physically copied — history and all —
    * and the CLONE then takes an upsert (purchases doubled) the
    * SOURCE must not see. Output: per-type rollups of the source
    * live, clone live, and clone's time-traveled v1, proving copy
    * fidelity, write isolation, and history portability in one
    * result; the oracle recomputes all three states.
    */
  val qClone: QueryDef = QueryDef(
    run = (s, dir) => {
      val src = scratch("clone-src")
      val dst = scratch("clone-dst")
      val base = t(s, dir, "events")
      UpsertWriter.upsert(
        base.filter(col("ts") <= lit(incWatermark).cast("timestamp_ntz")),
        src, Seq("event_id"), "ts", keepVersions = 3)
      UpsertWriter.upsert(
        base.filter(col("ts") > lit(incWatermark).cast("timestamp_ntz")),
        src, Seq("event_id"), "ts", keepVersions = 3)
      graft.sources.TableClone.deepClone(s, src, dst)
      UpsertWriter.upsert(
        base.filter(col("event_type") === "purchase")
          .withColumn("value", col("value") * 2)
          .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR")),
        dst, Seq("event_id"), "ts", keepVersions = 3)
      def rollup(df: DataFrame, side: String) = df
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,6)")).cast("double").as("sum_value"))
        .withColumn("side", lit(side))
      rollup(UpsertWriter.read(s, src), "source")
        .unionByName(rollup(UpsertWriter.read(s, dst), "clone"))
        .unionByName(rollup(UpsertWriter.readVersion(s, dst, 1), "clone_v1"))
    },
    oracle = Some(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
         |  'source' AS side
         |FROM events GROUP BY 1
         |UNION ALL
         |SELECT event_type, count(*),
         |  CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value * 2 ELSE value END
         |       AS DECIMAL(28,6))) AS DOUBLE), 'clone'
         |FROM events GROUP BY 1
         |UNION ALL
         |SELECT event_type, count(*),
         |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 'clone_v1'
         |FROM events WHERE ts <= TIMESTAMP '$incWatermark' GROUP BY 1""".stripMargin))

  /** #38d Right-to-be-forgotten purge
    * ([[graft.sources.UpsertWriter.purge]]): a 2-version events table
    * forgets every user whose id ≡ 0 (mod 97) — the subjects' rows
    * vanish from the LIVE snapshot AND the retained HISTORY (a plain
    * delete only advances the head; time travel would still leak the
    * subject). Output: per-version per-type counts over both
    * retained snapshots after the purge; the oracle recomputes each
    * version's post-erasure state from first principles.
    */
  val qPurge: QueryDef = QueryDef(
    run = (s, dir) => {
      val target = scratch("upsert-purge")
      val base = t(s, dir, "events")
      UpsertWriter.upsert(
        base.filter(col("ts") <= lit(incWatermark).cast("timestamp_ntz")),
        target, Seq("event_id"), "ts", keepVersions = 3)
      UpsertWriter.upsert(
        base.filter(col("ts") > lit(incWatermark).cast("timestamp_ntz")),
        target, Seq("event_id"), "ts", keepVersions = 3)
      val forget = base.filter(col("user_id") % 97L === 0L).select("user_id")
      UpsertWriter.purge(s, target, forget, Seq("user_id"))
      UpsertWriter.readVersion(s, target, 1).withColumn("version", lit(1))
        .unionByName(UpsertWriter.readVersion(s, target, 2).withColumn("version", lit(2)))
        .groupBy(col("version"), col("event_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
    },
    oracle = Some(
      s"""SELECT 1 AS version, event_type, count(*) AS n,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         |FROM events
         |WHERE ts <= TIMESTAMP '$incWatermark' AND user_id % 97 <> 0
         |GROUP BY 2
         |UNION ALL
         |SELECT 2, event_type, count(*), CAST(count(DISTINCT user_id) AS BIGINT)
         |FROM events WHERE user_id % 97 <> 0
         |GROUP BY 2""".stripMargin))

  /** #13/#21 KV/JSON scan: typed extraction from the events.props
    * JSON column (reference: template.py:284-294), then an aggregate
    * over the extracted field — no UDF, fully codegen'd from_json.
    */
  val qJsonExtract: QueryDef = QueryDef(
    run = (s, dir) =>
      t(s, dir, "events")
        .withColumn("k", from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType)))).getField("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).cast("long").as("sum_k"), max(col("k")).as("max_k")),
    oracle = Some(
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS sum_k,
        |       CAST(max(CAST(props->>'k' AS INTEGER)) AS INTEGER) AS max_k
        |FROM events GROUP BY event_type""".stripMargin))

  /** #13b Semi-structured VARIANT ingestion (Spark 4 native type):
    * props parsed once with `parse_json` into a VARIANT column, then
    * path-extracted with `variant_get` — the open-schema JSON path
    * that skips per-field from_json schemas (and shreds at the
    * storage layer at scale). Same rollup and oracle shape as the
    * schema-declared extraction in q_json_extract.
    */
  val qVariantExtract: QueryDef = QueryDef(
    run = (s, dir) =>
      t(s, dir, "events")
        .withColumn("_v", parse_json(col("props")))
        .withColumn("k", variant_get(col("_v"), "$.k", "int"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).cast("long").as("sum_k"),
          max(col("k")).as("max_k")),
    oracle = Some(
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS sum_k,
        |       CAST(max(CAST(props->>'k' AS INTEGER)) AS INTEGER) AS max_k
        |FROM events GROUP BY event_type""".stripMargin))

  /** #10u2 Zone-map-pruned read over a deletion-vectored table
    * ([[graft.sources.DeletionVectors.readPruned]]): the skipping
    * index and the position-delete vector COMPOSE — candidate files
    * from the zone map, the vector subtracted from just those files
    * (positions are per-file, so pruning can never resurrect a
    * deleted row), exact range predicate re-applied last. The oracle
    * recomputes the same visible range from the raw table; the spec
    * additionally locks candidate-file pruning and read≡read+filter.
    */
  val qDvPruned: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.DeletionVectors
      val root = scratch("dv-pruned")
      val table = root + "/t"
      val dv = root + "/v"
      t(s, dir, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(3)) === 1)
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"))
        .write.mode("overwrite").parquet(table)
      DeletionVectors.markDeleted(s, table, col("l_discount") > 0.07, dv)
      val zm = graft.operators.ZoneMaps.build(s, table, "l_orderkey")
      DeletionVectors.readPruned(s, table, dv, zm, "l_orderkey", 2000L, 9000L)
    },
    oracle = Some(
      """SELECT * FROM lineitem
        |WHERE l_orderkey % 3 = 1
        |  AND NOT (l_discount > 0.07)
        |  AND l_orderkey BETWEEN 2000 AND 9000""".stripMargin))

  /** #10u Deletion-vector deletes ([[graft.sources.DeletionVectors]]):
    * two delete batches mark POSITIONS only — (file, row_index) pairs
    * off the scan's `_metadata` columns, zero data files rewritten —
    * and the read subtracts them with a metadata-decided broadcast
    * anti join. The Delta DV / Iceberg v2 position-delete shape: at
    * 100 TB a 0.1% delete writes kilobytes instead of re-copying the
    * table, and compaction (spec-covered applyDeletes) amortizes many
    * vectors into one rewrite. The oracle recomputes the visible
    * state from the delete predicates on the raw table.
    */
  val qDeletionVectors: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.DeletionVectors
      val root = scratch("dv-query")
      val table = root + "/t"
      val dv = root + "/v"
      t(s, dir, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(3)) === 0)
        .repartition(8)
        .write.mode("overwrite").parquet(table)
      DeletionVectors.markDeleted(s, table, col("l_discount") > 0.07, dv)
      DeletionVectors.markDeleted(s, table, col("l_linenumber") >= 5, dv)
      DeletionVectors.read(s, table, dv)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).as("sum_qty"),
          countDistinct(col("l_orderkey")).as("n_orders"))
    },
    oracle = Some(
      """SELECT l_returnflag,
        |  count(*) AS n_rows,
        |  sum(l_quantity) AS sum_qty,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem
        |WHERE l_orderkey % 3 = 0
        |  AND NOT (l_discount > 0.07)
        |  AND NOT (l_linenumber >= 5)
        |GROUP BY l_returnflag""".stripMargin))

  // ---------------------------------------------------------------
  // External-format interop (#102): a Delta-layout table written by
  // an EXTERNAL writer (the fixture below reproduces the delta-io
  // on-disk protocol byte-for-byte: data parquet + _delta_log JSON
  // actions), read through graft.sources.DeltaTableReader — the
  // "point the engine at an existing lakehouse table" entry point
  // the reference has for Hudi (template.py:207-217).
  // ---------------------------------------------------------------

  /** Write `df` as one parquet data file named `name` inside the
    * fixture table dir — the shape an external Delta writer leaves.
    */
  private def writeDeltaDataFile(df: org.apache.spark.sql.DataFrame,
      table: String, name: String): Unit = {
    val tmp = table + s"/.stage-$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val stage = new java.io.File(tmp)
    val src = stage.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(src.toPath, new java.io.File(table, name).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    deleteRecursively(stage)
  }

  private def writeDeltaCommit(table: String, version: Long, lines: Seq[String]): Unit = {
    val dir = new java.io.File(table, "_delta_log")
    dir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, f"$version%020d.json"), "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  private def deltaAdd(path: String, dataChange: Boolean = true): String =
    s"""{"add":{"path":"$path","partitionValues":{},"size":1024,""" +
      s""""modificationTime":1700000000000,"dataChange":$dataChange}}"""

  private def deltaRemove(path: String): String =
    s"""{"remove":{"path":"$path","deletionTimestamp":1700000001000,"dataChange":true}}"""

  private val deltaProtocol = """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
  private val deltaMeta =
    """{"metaData":{"id":"fixture","format":{"provider":"parquet","options":{}},""" +
      """"schemaString":"{\"type\":\"struct\",\"fields\":[]}",""" +
      """"partitionColumns":[],"configuration":{},"createdTime":1700000000000}}"""

  /** Build the fixture: commit 0 adds slices %3=0 and %3=1 of orders;
    * commit 1 REWRITES the %3=0 file away and adds the %3=2 slice
    * (so the active set is exactly %3 IN (1,2)); commit 2 appends a
    * fresh copy of the %3=0 slice. Returns the table path.
    */
  private def buildDeltaFixture(s: SparkSession, dir: String, root: String): String = {
    val table = root + "/t"
    new java.io.File(table).mkdirs()
    val o = t(s, dir, "orders")
    writeDeltaDataFile(o.filter(pmod(col("o_orderkey"), lit(3)) === 0), table, "part-a.parquet")
    writeDeltaDataFile(o.filter(pmod(col("o_orderkey"), lit(3)) === 1), table, "part-b.parquet")
    writeDeltaCommit(table, 0L, Seq(deltaProtocol, deltaMeta,
      deltaAdd("part-a.parquet"), deltaAdd("part-b.parquet")))
    writeDeltaDataFile(o.filter(pmod(col("o_orderkey"), lit(3)) === 2), table, "part-c.parquet")
    writeDeltaCommit(table, 1L, Seq(deltaRemove("part-a.parquet"), deltaAdd("part-c.parquet")))
    writeDeltaDataFile(o.filter(pmod(col("o_orderkey"), lit(3)) === 0), table, "part-d.parquet")
    writeDeltaCommit(table, 2L, Seq(deltaAdd("part-d.parquet")))
    table
  }

  // Hudi COW fixture (#103): the external writer's layout — immutable
  // base files per file group, .hoodie/<instant>.commit timelines,
  // _hoodie_commit_time stamped the way a COW writer stamps it
  // (updates get the new instant, carried-forward rows keep theirs).

  private def writeHudiBaseFile(df: org.apache.spark.sql.DataFrame,
      table: String, relPath: String): Unit = {
    val tmp = table + "/.stage"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val src = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(table, relPath)
    dst.getParentFile.mkdirs()
    java.nio.file.Files.copy(src.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    deleteRecursively(new java.io.File(tmp))
  }

  private def writeHudiCommit(table: String, instant: String,
      writes: Seq[(String, String)]): Unit = { // (fileId, path)
    val dir = new java.io.File(table, ".hoodie")
    dir.mkdirs()
    val stats = writes.map { case (fid, path) =>
      s"""{"fileId":"$fid","path":"$path","numWrites":1,"numUpdateWrites":0,""" +
        s""""totalWriteBytes":1024,"prevCommit":"null"}"""
    }.mkString(",")
    val w = new java.io.PrintWriter(new java.io.File(dir, s"$instant.commit"), "UTF-8")
    try w.println(s"""{"partitionToWriteStats":{"":[$stats]},"operationType":"UPSERT"}""")
    finally w.close()
  }

  /** Commit c1 writes file groups g1 (%3=0) and g2 (%3=1); commit c2
    * REWRITES g1 — rows with o_orderkey%10=0 get o_totalprice doubled
    * and the c2 stamp, the rest carry forward with c1's stamp — and
    * inserts g3 (%3=2). Returns the table path.
    */
  private def buildHudiFixture(s: SparkSession, dir: String, root: String): String = {
    val table = root + "/t"
    new java.io.File(table).mkdirs()
    val c1 = "20240101090000"; val c2 = "20240102090000"
    val o = t(s, dir, "orders")
    def stamped(df: org.apache.spark.sql.DataFrame, instant: String) =
      df.withColumn("_hoodie_commit_time", lit(instant))
    val g1 = o.filter(pmod(col("o_orderkey"), lit(3)) === 0)
    writeHudiBaseFile(stamped(g1, c1), table, s"g1_0-0-0_$c1.parquet")
    writeHudiBaseFile(stamped(o.filter(pmod(col("o_orderkey"), lit(3)) === 1), c1),
      table, s"g2_0-0-0_$c1.parquet")
    writeHudiCommit(table, c1, Seq(
      ("g1", s"g1_0-0-0_$c1.parquet"), ("g2", s"g2_0-0-0_$c1.parquet")))
    val g1v2 = stamped(
      g1.filter(pmod(col("o_orderkey"), lit(10)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2), c2)
      .unionByName(stamped(g1.filter(pmod(col("o_orderkey"), lit(10)) =!= 0), c1))
    writeHudiBaseFile(g1v2, table, s"g1_0-0-1_$c2.parquet")
    writeHudiBaseFile(stamped(o.filter(pmod(col("o_orderkey"), lit(3)) === 2), c2),
      table, s"g3_0-0-0_$c2.parquet")
    writeHudiCommit(table, c2, Seq(
      ("g1", s"g1_0-0-1_$c2.parquet"), ("g3", s"g3_0-0-0_$c2.parquet")))
    table
  }

  /** #103 External Hudi COW table SNAPSHOT read
    * ([[graft.sources.HudiTableReader]]): the reference's literal
    * entry point — template.py:207-217 points Spark at an EXISTING
    * Hudi table — against a foreign-written COW layout: timeline
    * replay picks the latest file slice per group (the c2 rewrite of
    * g1 shadows c1's file), and the aggregate runs over exactly those
    * slices. The oracle recomputes the post-update state from the
    * slice predicates the commits encode.
    */
  val qHudiSnapshot: QueryDef = QueryDef(
    run = (s, dir) => {
      val table = buildHudiFixture(s, dir, scratch("hudi-snap"))
      graft.sources.HudiTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(
        |    CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 10 = 0
        |         THEN o_totalprice * 2 ELSE o_totalprice END
        |    AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY o_orderpriority""".stripMargin))

  /** #103y REAL Hudi METADATA TABLE interop
    * ([[graft.sources.HudiMetadataTable]] + [[graft.sources.HudiHFile]]):
    * the `files` partition publishes as an HFile base file in the
    * public HBase v3 format and planning STARTS from it — production
    * Hudi tables (metadata default-on since 0.11) carry exactly this
    * index, and the listing cut is its reason to exist on object
    * storage. In-run proof: every pre-index commit meta is corrupted
    * after the publish, so a plan that replayed (or listed through)
    * them would throw — serving the exact aggregate is the witness
    * that the listing came from the metadata table alone.
    */
  val qHudiMetadataTable: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{HudiMetadataTable, HudiTableReader, HudiTableWriter}
      val table = scratch("hudi-mdt") + "/t"
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      HudiTableWriter.create(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0).repartition(3),
        table, recordKeys = Seq("o_orderkey")): Unit
      HudiTableWriter.append(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 1), table): Unit
      HudiMetadataTable.writeFilesPartition(s, table): Unit
      new java.io.File(s"$table/.hoodie").listFiles()
        .filter(_.getName.endsWith(".commit"))
        .foreach(f => java.nio.file.Files.write(f.toPath, "x".getBytes("UTF-8")))
      HudiTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY o_orderpriority""".stripMargin))

  /** Build an external MERGE-ON-READ Hudi fixture: hoodie.properties
    * declares MERGE_ON_READ; commit c1 writes base files g1 (%3=0)
    * and g2 (%3=1); deltacommit dc2 lands updates for g1 in a LOG
    * file (opaque to a base-file reader) and inserts g3 (%3=2) as a
    * first base file; compaction commit c3 folds g1's log into a new
    * base (o_orderkey%10=0 rows doubled, stamped c3). Returns the
    * table path.
    */
  private def buildHudiMorFixture(s: SparkSession, dir: String, root: String): String = {
    val table = root + "/t"
    new java.io.File(table, ".hoodie").mkdirs()
    val pw = new java.io.PrintWriter(new java.io.File(s"$table/.hoodie", "hoodie.properties"), "UTF-8")
    try {
      pw.println("hoodie.table.name=fixture")
      pw.println("hoodie.table.type=MERGE_ON_READ")
    } finally pw.close()
    val c1 = "20240101090000"; val dc2 = "20240102090000"; val c3 = "20240103090000"
    val o = t(s, dir, "orders")
    def stamped(df: org.apache.spark.sql.DataFrame, instant: String) =
      df.withColumn("_hoodie_commit_time", lit(instant))
    val g1 = o.filter(pmod(col("o_orderkey"), lit(3)) === 0)
    writeHudiBaseFile(stamped(g1, c1), table, s"g1_0-0-0_$c1.parquet")
    writeHudiBaseFile(stamped(o.filter(pmod(col("o_orderkey"), lit(3)) === 1), c1),
      table, s"g2_0-0-0_$c1.parquet")
    writeHudiCommit(table, c1, Seq(
      ("g1", s"g1_0-0-0_$c1.parquet"), ("g2", s"g2_0-0-0_$c1.parquet")))
    // dc2: a log file for g1 (content opaque — the RO contract is that
    // it is NOT read) + g3's first base file
    new java.io.File(table, s".g1_${dc2}.log.1_0-0-0").createNewFile()
    writeHudiBaseFile(stamped(o.filter(pmod(col("o_orderkey"), lit(3)) === 2), dc2),
      table, s"g3_0-0-0_$dc2.parquet")
    val dcw = new java.io.PrintWriter(new java.io.File(s"$table/.hoodie", s"$dc2.deltacommit"), "UTF-8")
    try dcw.println(
      s"""{"partitionToWriteStats":{"":[""" +
        s"""{"fileId":"g1","path":".g1_$dc2.log.1_0-0-0","numWrites":1,"numUpdateWrites":1,"totalWriteBytes":256,"prevCommit":"$c1"},""" +
        s"""{"fileId":"g3","path":"g3_0-0-0_$dc2.parquet","numWrites":1,"numUpdateWrites":0,"totalWriteBytes":1024,"prevCommit":"null"}]},""" +
        s""""operationType":"UPSERT"}""")
    finally dcw.close()
    // c3: compaction — g1's log folded into a new base file
    val g1v2 = stamped(
      g1.filter(pmod(col("o_orderkey"), lit(10)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2), c3)
      .unionByName(stamped(g1.filter(pmod(col("o_orderkey"), lit(10)) =!= 0), c1))
    writeHudiBaseFile(g1v2, table, s"g1_0-0-1_$c3.parquet")
    writeHudiCommit(table, c3, Seq(("g1", s"g1_0-0-1_$c3.parquet")))
    table
  }

  /** #103c External Hudi MERGE-ON-READ table, READ-OPTIMIZED opt-in
    * ([[graft.sources.HudiTableReader.readOptimized]] — Hudi's own
    * `_ro` view): base files only, per-group as of the last
    * compaction; dc2's log-file updates are invisible BY CONTRACT
    * while its base-file insert and c3's compacted base serve. The
    * plain snapshot serves the merged REAL-TIME view (q_hudi_mor_snapshot)
    * — on this fully-compacted fixture the two agree, require-proven
    * in-run. The oracle recomputes the base-file state from the
    * predicates the timeline encodes.
    */
  val qHudiMorRo: QueryDef = QueryDef(
    run = (s, dir) => {
      val table = buildHudiMorFixture(s, dir, scratch("hudi-mor-ro"))
      // every log on this fixture is compacted away by c3, so the
      // real-time snapshot and the RO view agree — the in-run check
      // that RO is not silently serving something else
      require(graft.sources.HudiTableReader.snapshot(s, table).count() ==
        graft.sources.HudiTableReader.readOptimized(s, table).count(),
        "post-compaction, real-time and read-optimized views must agree")
      graft.sources.HudiTableReader.readOptimized(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(
        |    CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 10 = 0
        |         THEN o_totalprice * 2 ELSE o_totalprice END
        |    AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY o_orderpriority""".stripMargin))

  /** #103d External Hudi MERGE-ON-READ table, REAL-TIME snapshot
    * ([[graft.sources.HudiTableReader.realtime]] — what
    * `spark.read.format("hudi")` on a MOR table means,
    * template.py:304): a hand-built fixture in the public log-file
    * layout — base files g1/g2 under dc1, then a dc2 log file on g1
    * carrying an Avro DATA block (o_orderkey%10=0 rows doubled) and a
    * DELETE block (o_orderkey%7=0 keys tombstoned, the later block
    * winning on overlap), plus g3's first base file. The merge is
    * per-record-key latest-wins over the DIRTY group only; g2/g3
    * stream through unshuffled. The oracle recomputes the merged
    * state from the predicates the blocks encode.
    */
  val qHudiMorSnapshot: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.HudiLog
      val root = scratch("hudi-mor-rt")
      val table = root + "/t"
      new java.io.File(table, ".hoodie").mkdirs()
      val pw = new java.io.PrintWriter(
        new java.io.File(s"$table/.hoodie", "hoodie.properties"), "UTF-8")
      try {
        pw.println("hoodie.table.name=fixture")
        pw.println("hoodie.table.type=MERGE_ON_READ")
        pw.println("hoodie.table.recordkey.fields=o_orderkey")
      } finally pw.close()
      val c1 = "20240101090000"; val dc2 = "20240102090000"
      val o = t(s, dir, "orders")
      def keyed(df: DataFrame, instant: String) = df
        .withColumn("_hoodie_commit_time", lit(instant))
        .withColumn("_hoodie_record_key",
          concat(lit("o_orderkey:"), col("o_orderkey").cast("string")))
      val g1 = keyed(o.filter(pmod(col("o_orderkey"), lit(3)) === 0), c1)
      writeHudiBaseFile(g1, table, s"g1_0-0-0_$c1.parquet")
      writeHudiBaseFile(keyed(o.filter(pmod(col("o_orderkey"), lit(3)) === 1), c1),
        table, s"g2_0-0-0_$c1.parquet")
      val dcw1 = new java.io.PrintWriter(
        new java.io.File(s"$table/.hoodie", s"$c1.deltacommit"), "UTF-8")
      try dcw1.println(
        s"""{"partitionToWriteStats":{"":[""" +
          s"""{"fileId":"g1","path":"g1_0-0-0_$c1.parquet","numWrites":1,"numUpdateWrites":0,"totalWriteBytes":1024,"prevCommit":"null"},""" +
          s"""{"fileId":"g2","path":"g2_0-0-0_$c1.parquet","numWrites":1,"numUpdateWrites":0,"totalWriteBytes":1024,"prevCommit":"null"}]},""" +
          s""""operationType":"INSERT"}""")
      finally dcw1.close()
      // dc2: a REAL log file for g1 — updates then deletes — plus g3's base
      val schema = g1.schema
      val avro = HudiLog.avroSchemaOf(schema)
      val updRows = keyed(
        o.filter(pmod(col("o_orderkey"), lit(3)) === 0 && pmod(col("o_orderkey"), lit(10)) === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2), dc2)
        .select(schema.fieldNames.map(col): _*)
        .collect().toIndexedSeq.map(r => HudiLog.encodeRow(r, schema, avro))
      val delKeys = o
        .filter(pmod(col("o_orderkey"), lit(3)) === 0 && pmod(col("o_orderkey"), lit(7)) === 0)
        .select(concat(lit("o_orderkey:"), col("o_orderkey").cast("string")))
        .collect().toIndexedSeq.map(_.getString(0))
      val logRel = HudiLog.logFileName("g1", c1, 1)
      HudiLog.write(s.sparkContext.hadoopConfiguration, s"$table/$logRel", Seq(
        HudiLog.DataBlock(dc2, avro.toString, updRows),
        HudiLog.DeleteBlock(dc2, delKeys)))
      writeHudiBaseFile(keyed(o.filter(pmod(col("o_orderkey"), lit(3)) === 2), dc2),
        table, s"g3_0-0-0_$dc2.parquet")
      val dcw2 = new java.io.PrintWriter(
        new java.io.File(s"$table/.hoodie", s"$dc2.deltacommit"), "UTF-8")
      try dcw2.println(
        s"""{"partitionToWriteStats":{"":[""" +
          s"""{"fileId":"g1","path":"$logRel","numWrites":1,"numUpdateWrites":1,"totalWriteBytes":256,"prevCommit":"$c1"},""" +
          s"""{"fileId":"g3","path":"g3_0-0-0_$dc2.parquet","numWrites":1,"numUpdateWrites":0,"totalWriteBytes":1024,"prevCommit":"null"}]},""" +
          s""""operationType":"UPSERT"}""")
      finally dcw2.close()
      graft.sources.HudiTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(
        |    CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 10 = 0
        |         THEN o_totalprice * 2 ELSE o_totalprice END
        |    AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE NOT (o_orderkey % 3 = 0 AND o_orderkey % 7 = 0)
        |GROUP BY o_orderpriority""".stripMargin))

  /** #107b Hudi MERGE-ON-READ WRITER round-trip
    * ([[graft.sources.HudiTableWriter.createMor]]/`updateLog`/
    * `deleteLog`/`compact`): create lands base files under a
    * deltacommit; updates (%10=0 doubled) and deletes (%14=0) land as
    * log blocks routed to each key's file group — no base rewritten;
    * the real-time read merges them; compaction folds the logs into
    * new base files, after which the READ-OPTIMIZED view must equal
    * the pre-compaction real-time view (require-proven in-run, the
    * compaction-equivalence contract). The oracle recomputes the
    * final state.
    */
  val qHudiMorWrite: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{HudiTableReader, HudiTableWriter}
      val table = scratch("hudi-mor-write") + "/t"
      val o = t(s, dir, "orders")
      val base = o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      HudiTableWriter.createMor(base, table,
        tableName = "orders_mor", recordKeys = Seq("o_orderkey")): Unit
      HudiTableWriter.updateLog(
        base.filter(pmod(col("o_orderkey"), lit(10)) === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2), table): Unit
      HudiTableWriter.deleteLog(
        base.filter(pmod(col("o_orderkey"), lit(14)) === 0).select("o_orderkey"), table): Unit
      def roll(df: DataFrame) = df
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
      val preCompact = roll(HudiTableReader.realtime(s, table)).collect().toSet
      HudiTableWriter.compact(s, table): Unit
      val ro = roll(HudiTableReader.readOptimized(s, table))
      require(ro.collect().toSet == preCompact,
        "post-compaction read-optimized view must equal the pre-compaction real-time view")
      roll(HudiTableReader.snapshot(s, table))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(
        |    CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2 ELSE o_totalprice END
        |    AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_orderkey % 2 = 0 AND o_orderkey % 14 <> 0
        |GROUP BY o_orderpriority""".stripMargin))

  /** #103e External Hudi MOR INCREMENTAL read
    * ([[graft.sources.HudiTableReader.incrementalSince]] — the
    * reference's checkpointed consumer, template.py:226-281, pointed
    * at a MOR table): the real-time merge restricted to file groups
    * TOUCHED after the checkpoint (the %2=0 base group receiving log
    * updates), stamp-filtered so carried-forward rows drop out;
    * groups untouched since the checkpoint never enter the scan, and
    * post-checkpoint tombstones are absent (Hudi's own non-CDC
    * incremental semantics). The oracle recomputes the surfaced
    * update set.
    */
  val qHudiMorIncremental: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{HudiTableReader, HudiTableWriter}
      val table = scratch("hudi-mor-inc") + "/t"
      val o = t(s, dir, "orders")
      HudiTableWriter.createMor(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), table,
        tableName = "orders_mor_inc", recordKeys = Seq("o_orderkey")): Unit
      val checkpoint = HudiTableWriter.append(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 1), table)
      HudiTableWriter.updateLog(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0 &&
            pmod(col("o_orderkey"), lit(10)) === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2), table): Unit
      HudiTableWriter.deleteLog(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0 &&
          pmod(col("o_orderkey"), lit(14)) === 0).select("o_orderkey"), table): Unit
      HudiTableReader.incrementalSince(s, table, checkpoint)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice * 2 AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_orderkey % 2 = 0 AND o_orderkey % 10 = 0 AND o_orderkey % 14 <> 0
        |GROUP BY o_orderpriority""".stripMargin))

  /** #103b External Hudi COW table INCREMENTAL read: records
    * inserted/updated after the checkpoint instant — the c2-stamped
    * rows only (g1's doubled %10=0 subset + all of g3); g1's
    * carried-forward rows keep c1's stamp and drop out of the
    * per-row filter, exactly the semantics the reference's
    * `HUDIIncrementalReader` consumes (template.py:226-281).
    */
  val qHudiIncremental: QueryDef = QueryDef(
    run = (s, dir) => {
      val table = buildHudiFixture(s, dir, scratch("hudi-inc"))
      graft.sources.HudiTableReader.incrementalSince(s, table, "20240101090000")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(
        |    CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 10 = 0
        |         THEN o_totalprice * 2 ELSE o_totalprice END
        |    AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE (o_orderkey % 3 = 0 AND o_orderkey % 10 = 0) OR o_orderkey % 3 = 2
        |GROUP BY o_orderpriority""".stripMargin))

  // Iceberg fixture (#104): Avro manifests/manifest lists written
  // with the same avro library real writers use + vN.metadata.json.

  private lazy val iceListSchema = new org.apache.avro.Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long","default":0},
      |{"name":"added_snapshot_id","type":["null","long"],"default":null},
      |{"name":"content","type":"int","default":0}]}""".stripMargin)

  private lazy val iceEntrySchema = new org.apache.avro.Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |  {"name":"content","type":"int","default":0},
      |  {"name":"file_path","type":"string"},
      |  {"name":"file_format","type":"string","default":"PARQUET"},
      |  {"name":"record_count","type":"long","default":0}]}}]}""".stripMargin)

  private def iceWriteAvro(path: String, schema: org.apache.avro.Schema,
      records: Seq[org.apache.avro.generic.GenericRecord]): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new org.apache.avro.file.DataFileWriter[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](schema))
    w.create(schema, f)
    try records.foreach(w.append) finally w.close()
  }

  private def iceEntry(status: Int, snapId: Long, path: String): org.apache.avro.generic.GenericRecord = {
    val df = new org.apache.avro.generic.GenericData.Record(
      iceEntrySchema.getField("data_file").schema())
    df.put("content", 0); df.put("file_path", path)
    df.put("file_format", "PARQUET"); df.put("record_count", 1L)
    val r = new org.apache.avro.generic.GenericData.Record(iceEntrySchema)
    r.put("status", status); r.put("snapshot_id", snapId); r.put("data_file", df)
    r
  }

  /** Publish fixture metadata version `version` ([[graft.sources.IcebergMetadata.publish]]). */
  private def iceMetadata(s: SparkSession, table: String, version: Long, json: String): Unit =
    require(graft.sources.IcebergMetadata.publish(
      new org.apache.hadoop.fs.Path(table).getFileSystem(s.sparkContext.hadoopConfiguration),
      table, version, json), s"$table: fixture metadata v$version already exists")

  private def iceListRec(manifestPath: String, addedBy: Long): org.apache.avro.generic.GenericRecord = {
    val r = new org.apache.avro.generic.GenericData.Record(iceListSchema)
    r.put("manifest_path", manifestPath); r.put("manifest_length", 1024L)
    r.put("added_snapshot_id", addedBy); r.put("content", 0)
    r
  }

  /** Snapshot 1 appends the %3=0 and %3=1 slices of orders (manifest
    * m1); snapshot 2 appends the %3=2 slice (manifest m2, list reuses
    * m1 — the manifest-reuse shape real writers produce). Returns the
    * table path.
    */
  private def buildIcebergFixture(s: SparkSession, dir: String, root: String): String = {
    val table = root + "/t"
    val o = t(s, dir, "orders")
    def dataFile(df: org.apache.spark.sql.DataFrame, rel: String): Unit = {
      val tmp = table + "/.stage"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val src = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(table, rel)
      dst.getParentFile.mkdirs()
      java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      deleteRecursively(new java.io.File(tmp))
    }
    dataFile(o.filter(pmod(col("o_orderkey"), lit(3)) === 0), "data/fa.parquet")
    dataFile(o.filter(pmod(col("o_orderkey"), lit(3)) === 1), "data/fb.parquet")
    dataFile(o.filter(pmod(col("o_orderkey"), lit(3)) === 2), "data/fc.parquet")
    iceWriteAvro(s"$table/metadata/m1.avro", iceEntrySchema, Seq(
      iceEntry(1, 1L, "data/fa.parquet"), iceEntry(1, 1L, "data/fb.parquet")))
    iceWriteAvro(s"$table/metadata/m2.avro", iceEntrySchema,
      Seq(iceEntry(1, 2L, "data/fc.parquet")))
    iceWriteAvro(s"$table/metadata/snap-1.avro", iceListSchema,
      Seq(iceListRec("metadata/m1.avro", 1L)))
    iceWriteAvro(s"$table/metadata/snap-2.avro", iceListSchema, Seq(
      iceListRec("metadata/m1.avro", 1L), iceListRec("metadata/m2.avro", 2L)))
    iceMetadata(s, table, 2,
      s"""{"format-version":2,"table-uuid":"fixture","location":"$table","current-snapshot-id":2,""" +
        """"snapshots":[""" +
        """{"snapshot-id":1,"timestamp-ms":1700000000000,"summary":{"operation":"append"},"manifest-list":"metadata/snap-1.avro"},""" +
        """{"snapshot-id":2,"parent-snapshot-id":1,"timestamp-ms":1700000001000,"summary":{"operation":"append"},"manifest-list":"metadata/snap-2.avro"}]}""")
    table
  }

  /** #104c External Iceberg v2 table with POSITION DELETES: snapshot
    * 2 adds a delete manifest whose parquet file names (file_path,
    * pos) rows — o_orderkey%7=0 positions of the %3=0 data file —
    * and the snapshot read subtracts them via the `_metadata`
    * anti join, no data file rewritten. Equality deletes and the
    * bare file list keep refusing (spec-locked). The oracle
    * recomputes the visible rows from the predicate the delete file
    * encodes.
    */
  val qIcebergPosDelete: QueryDef = QueryDef(
    run = (s, dir) => {
      val root = scratch("ice-posdel")
      val table = buildIcebergFixture(s, dir, root)
      // positions of the doomed rows WITHIN the %3=0 data file, off
      // the scan's own row_index — layout-true like the Delta DV fixture
      val dels = s.read.parquet(s"$table/data/fa.parquet")
        .where(pmod(col("o_orderkey"), lit(7)) === 0)
        .select(lit("data/fa.parquet").as("file_path"),
          col("_metadata.row_index").as("pos"))
      val stage = root + "/stage"
      dels.coalesce(1).write.mode("overwrite").parquet(stage)
      val delSrc = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(delSrc.toPath,
        new java.io.File(s"$table/data", "del1.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      iceWriteAvro(s"$table/metadata/md.avro", iceEntrySchema, Seq({
        val e = iceEntry(1, 3L, "data/del1.parquet")
        e.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
          .put("content", 1)
        e
      }))
      iceWriteAvro(s"$table/metadata/snap-3.avro", iceListSchema, Seq(
        iceListRec("metadata/m1.avro", 1L), iceListRec("metadata/m2.avro", 2L), {
          val r = iceListRec("metadata/md.avro", 3L)
          r.put("content", 1)
          r
        }))
      iceMetadata(s, table, 3,
        s"""{"format-version":2,"table-uuid":"fixture","location":"$table","current-snapshot-id":3,""" +
          """"snapshots":[""" +
          """{"snapshot-id":1,"timestamp-ms":1700000000000,"summary":{"operation":"append"},"manifest-list":"metadata/snap-1.avro"},""" +
          """{"snapshot-id":2,"parent-snapshot-id":1,"timestamp-ms":1700000001000,"summary":{"operation":"append"},"manifest-list":"metadata/snap-2.avro"},""" +
          """{"snapshot-id":3,"parent-snapshot-id":2,"timestamp-ms":1700000002000,"summary":{"operation":"delete"},"manifest-list":"metadata/snap-3.avro"}]}""")
      graft.sources.IcebergTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE NOT (o_orderkey % 3 = 0 AND o_orderkey % 7 = 0)
        |GROUP BY o_orderpriority""".stripMargin))

  private lazy val iceV2EntrySchema = new org.apache.avro.Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":["null","long"],"default":null},
      |{"name":"sequence_number","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |  {"name":"content","type":"int","default":0},
      |  {"name":"file_path","type":"string"},
      |  {"name":"file_format","type":"string","default":"PARQUET"},
      |  {"name":"record_count","type":"long","default":0},
      |  {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null}
      |]}}]}""".stripMargin)

  private def iceV2Entry(status: Int, snapId: Long, seq: Long, path: String,
      content: Int = 0, eqIds: Seq[Int] = Nil): org.apache.avro.generic.GenericRecord = {
    val df = new org.apache.avro.generic.GenericData.Record(
      iceV2EntrySchema.getField("data_file").schema())
    df.put("content", content); df.put("file_path", path)
    df.put("file_format", "PARQUET"); df.put("record_count", 1L)
    if (eqIds.nonEmpty) {
      import scala.jdk.CollectionConverters._
      df.put("equality_ids", eqIds.map(Int.box).asJava)
    }
    val r = new org.apache.avro.generic.GenericData.Record(iceV2EntrySchema)
    r.put("status", status); r.put("snapshot_id", snapId)
    r.put("sequence_number", seq); r.put("data_file", df)
    r
  }

  /** #104d External Iceberg v2 EQUALITY-DELETE read (the Flink-CDC
    * shape: content=2 delete files whose rows name key VALUES, scoped
    * by sequence number to strictly-older data files): the fixture's
    * delete file names o_orderkey%13=0 keys at sequence 2, so the
    * seq-1 data files (%3∈{0,1}) lose those rows while the seq-3
    * append (%3=2) keeps them — one delete-file scan + one null-safe
    * anti join on the resolved equality columns, bounded by |delete
    * rows|. The oracle recomputes the visible set from the predicates.
    */
  val qIcebergEqDelete: QueryDef = QueryDef(
    run = (s, dir) => {
      val root = scratch("ice-eqdel")
      val table = root + "/t"
      val o = t(s, dir, "orders")
      def dataFile(df: DataFrame, rel: String): Unit = {
        val tmp = table + "/.stage"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val src = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(table, rel)
        dst.getParentFile.mkdirs()
        java.nio.file.Files.copy(src.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        deleteRecursively(new java.io.File(tmp))
      }
      dataFile(o.filter(pmod(col("o_orderkey"), lit(3)) === 0), "data/fa.parquet")
      dataFile(o.filter(pmod(col("o_orderkey"), lit(3)) === 1), "data/fb.parquet")
      dataFile(o.filter(pmod(col("o_orderkey"), lit(3)) === 2), "data/fc.parquet")
      // the delete file: o_orderkey values ≡0 mod 13, at sequence 2
      dataFile(o.filter(pmod(col("o_orderkey"), lit(13)) === 0).select("o_orderkey"),
        "data/eq1.parquet")
      iceWriteAvro(s"$table/metadata/m1.avro", iceV2EntrySchema, Seq(
        iceV2Entry(1, 1L, 1L, "data/fa.parquet"), iceV2Entry(1, 1L, 1L, "data/fb.parquet")))
      iceWriteAvro(s"$table/metadata/me.avro", iceV2EntrySchema, Seq(
        iceV2Entry(1, 2L, 2L, "data/eq1.parquet", content = 2, eqIds = Seq(1))))
      iceWriteAvro(s"$table/metadata/m2.avro", iceV2EntrySchema, Seq(
        iceV2Entry(1, 3L, 3L, "data/fc.parquet")))
      iceWriteAvro(s"$table/metadata/snap-3.avro", iceListSchema, Seq(
        iceListRec("metadata/m1.avro", 1L), {
          val r = iceListRec("metadata/me.avro", 2L); r.put("content", 1); r
        }, iceListRec("metadata/m2.avro", 3L)))
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      val schemaFields = cols.zipWithIndex.map { case (c, i) =>
        val tpe = c match {
          case "o_orderkey" | "o_custkey" => "long"
          case "o_totalprice" => "double"
          case "o_orderdate" => "timestamp"
          case _ => "string"
        }
        s"""{"id":${i + 1},"name":"$c","required":false,"type":"$tpe"}"""
      }.mkString(",")
      iceMetadata(s, table, 3,
        s"""{"format-version":2,"table-uuid":"fixture","location":"$table",""" +
          s""""schemas":[{"schema-id":0,"type":"struct","fields":[$schemaFields]}],""" +
          s""""current-schema-id":0,"current-snapshot-id":3,"snapshots":[""" +
          """{"snapshot-id":1,"timestamp-ms":1700000000000,"summary":{"operation":"append"},"manifest-list":"metadata/snap-3.avro"},""" +
          """{"snapshot-id":2,"parent-snapshot-id":1,"timestamp-ms":1700000001000,"summary":{"operation":"overwrite"},"manifest-list":"metadata/snap-3.avro"},""" +
          """{"snapshot-id":3,"parent-snapshot-id":2,"timestamp-ms":1700000002000,"summary":{"operation":"append"},"manifest-list":"metadata/snap-3.avro"}]}""")
      graft.sources.IcebergTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE NOT (o_orderkey % 3 IN (0, 1) AND o_orderkey % 13 = 0)
        |GROUP BY o_orderpriority""".stripMargin))

  /** #109b PARTITIONED Iceberg writer round-trip
    * ([[graft.sources.IcebergTableWriter]] with identity partition
    * fields): partition values ride each manifest entry's `partition`
    * struct (the columns stay IN the data files, Iceberg-style), the
    * metadata declares the spec, appends derive it, and
    * manifest-level pruning provably cuts the FILE set before any
    * data I/O (require-proven in-run). The result unions the full
    * rollup with one pruned slice; the oracle recomputes both.
    */
  val qIcebergPartWrite: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{IcebergTableReader, IcebergTableWriter}
      val table = scratch("ice-part-write") + "/t"
      val o = t(s, dir, "orders")
      IcebergTableWriter.create(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), table,
        partitionBy = Seq("o_orderpriority")): Unit
      IcebergTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), table): Unit
      val pruner = (pv: Map[String, String]) => pv.get("o_orderpriority").contains("1-URGENT")
      val allFiles = IcebergTableReader.planFiles(s, table).data.size
      val prunedFiles = IcebergTableReader.planFilesPruned(s, table, pruner).data.size
      require(prunedFiles > 0 && prunedFiles < allFiles,
        s"identity-partition pruning must cut the file set ($prunedFiles of $allFiles)")
      val full = IcebergTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .withColumn("slice", lit("all"))
      val pruned = IcebergTableReader.snapshotPruned(s, table, pruner)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .withColumn("slice", lit("pruned"))
      full.unionByName(pruned)
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        |  'all' AS slice
        |FROM orders GROUP BY o_orderpriority
        |UNION ALL
        |SELECT o_orderpriority, count(*),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 'pruned'
        |FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_orderpriority""".stripMargin))

  /** #106f Delta ADDITIVE SCHEMA EVOLUTION on append
    * ([[graft.sources.DeltaTableWriter]] evolveSchemaIfNeeded): the
    * table is created WITHOUT o_orderpriority; the second append
    * carries it, committing an updated metaData whose schemaString
    * appends the column as nullable — per PROTOCOL.md's evolution
    * rules — and the reader scans with the DECLARED schema, so
    * pre-evolution rows null-fill deterministically (footer inference
    * would depend on which file Spark samples). The rollup keys on
    * the evolved column with nulls made visible; the oracle recreates
    * the null pattern from the key parity. Type changes and dropped
    * columns keep refusing (SchemaEvolutionSpec).
    */
  val qDeltaSchemaEvolve: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{DeltaTableReader, DeltaTableWriter}
      val table = scratch("delta-evolve") + "/t"
      val o = t(s, dir, "orders")
      DeltaTableWriter.create(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0).drop("o_orderpriority"), table): Unit
      DeltaTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), table): Unit
      val state = DeltaTableReader.snapshotState(s, table)
      require(state.schemaJson.exists(_.contains("o_orderpriority")),
        "the evolved metaData must declare the new column")
      DeltaTableReader.snapshot(s, table)
        .groupBy(coalesce(col("o_orderpriority"), lit("(pre-evolution)")).as("priority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT coalesce(CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderpriority END,
        |                '(pre-evolution)') AS priority,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1""".stripMargin))

  /** #103n Hudi ADDITIVE SCHEMA EVOLUTION
    * ([[graft.sources.HudiTableWriter]] evolutionOf +
    * [[graft.sources.HudiTableReader]] declaredDataSchema): the COW
    * table is created WITHOUT o_orderpriority; the evolving append
    * carries it, committing Hudi's own `extraMetadata.schema` Avro
    * authority, and every later read scans with the DECLARED schema —
    * pre-evolution base files null-fill deterministically (footer
    * inference would depend on which file Spark samples). An evolving
    * UPSERT then patches a key slice, proving carried rows null-fill
    * while keeping their stamps (HudiSchemaEvolutionSpec); here the
    * rollup keys on the evolved column with nulls made visible, and
    * the oracle recreates the null pattern from the key parity.
    * Drops/type changes/MOR keep refusing (spec-gated).
    */
  val qHudiSchemaEvolve: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{HudiTableReader, HudiTableWriter}
      val table = scratch("hudi-evolve") + "/t"
      val o = t(s, dir, "orders")
      HudiTableWriter.create(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0).drop("o_orderpriority"), table,
        recordKeys = Seq("o_orderkey")): Unit
      HudiTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), table): Unit
      require(HudiTableReader.declaredDataSchema(s, table)
          .exists(_.fieldNames.contains("o_orderpriority")),
        "the evolution commit must declare the new column")
      HudiTableReader.snapshot(s, table)
        .groupBy(coalesce(col("o_orderpriority"), lit("(pre-evolution)")).as("priority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT coalesce(CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderpriority END,
        |                '(pre-evolution)') AS priority,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1""".stripMargin))

  /** #103v MOR ADDITIVE SCHEMA EVOLUTION (completes 103n for the
    * second table type — no compact-first migration): the evolving
    * write is a MOR UPSERT whose updates ride LOG BLOCKS at the wide
    * schema, the deltacommit stamps the commit-schema authority, and
    * the realtime merge null-fills the new column for old bases AND
    * pre-evolution log rows (the Avro decode drops to null on fields
    * a block's writer never knew).
    */
  val qHudiSchemaEvolveMor: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{HudiTableReader, HudiTableWriter}
      val table = scratch("hudi-evolve-mor") + "/t"
      val o = t(s, dir, "orders")
      HudiTableWriter.createMor(o.drop("o_orderpriority"), table,
        recordKeys = Seq("o_orderkey")): Unit
      // the odd half EVOLVES through a log upsert of EXISTING keys:
      // wide rows ride log blocks, the table stays uncompacted
      HudiTableWriter.upsert(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), table): Unit
      require(HudiTableReader.declaredDataSchema(s, table)
          .exists(_.fieldNames.contains("o_orderpriority")),
        "the evolving deltacommit must declare the new column")
      HudiTableReader.snapshot(s, table)
        .groupBy(coalesce(col("o_orderpriority"), lit("(pre-evolution)")).as("priority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT coalesce(CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderpriority END,
        |                '(pre-evolution)') AS priority,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1""".stripMargin))

  /** #103p Hudi RECORD-LEVEL INDEX point lookup
    * ([[graft.sources.HudiTableWriter.writeRecordIndex]] +
    * [[graft.sources.HudiTableReader.pointLookup]]): the
    * metadata-table `record_index` partition maps record key → file
    * group from one distributed scan (key-range-clustered parquet so
    * the lookup's IN-filter prunes index files by footer bounds);
    * the lookup scans ONLY the matched groups plus groups touched
    * after the index instant (where new/updated keys live) —
    * require-proven in-run by the scan's input-file cut. Keys are
    * derived per orderkey-mod-class min/max so pre- AND post-index
    * keys are exercised at every SF; the oracle recomputes the same
    * key set in SQL.
    */
  val qHudiRecordIndex: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{HudiTableReader, HudiTableWriter}
      val table = scratch("hudi-ridx") + "/t"
      // 4 file groups per commit (the lookup's cut needs a real
      // multi-group layout at every SF)
      val o = t(s, dir, "orders").repartition(4, col("o_orderkey"))
      HudiTableWriter.create(o.filter(pmod(col("o_orderkey"), lit(4)) === 0), table,
        recordKeys = Seq("o_orderkey")): Unit
      HudiTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(4)) === 1), table): Unit
      HudiTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(4)) === 2), table): Unit
      HudiTableWriter.writeRecordIndex(s, table): Unit
      // a post-index commit: its keys resolve through the touched set
      HudiTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(4)) === 3), table): Unit
      val keys = o.groupBy(pmod(col("o_orderkey"), lit(4)).as("m"))
        .agg(min(col("o_orderkey")).as("lo"), max(col("o_orderkey")).as("hi"))
        .collect().flatMap(r => Seq(r.getAs[Long]("lo"), r.getAs[Long]("hi"))).toSeq
      val looked = HudiTableReader.pointLookup(s, table, keys)
      require(looked.inputFiles.length <
          HudiTableReader.snapshot(s, table).inputFiles.length,
        "the record index must cut the lookup's file set below the full snapshot's")
      looked.select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").as("price"))
    },
    oracle = Some(
      """SELECT o_orderkey, o_orderpriority, o_totalprice AS price FROM orders
        |WHERE o_orderkey IN (
        |  SELECT min(o_orderkey) FROM orders GROUP BY o_orderkey % 4
        |  UNION ALL
        |  SELECT max(o_orderkey) FROM orders GROUP BY o_orderkey % 4)"""
        .stripMargin))

  /** #103q INCREMENTAL record-index maintenance
    * ([[graft.sources.HudiTableWriter.refreshRecordIndex]] — hudi
    * .apache.org metadata-table semantics: indexes fold per commit,
    * never by rescanning the table). Three post-index commits (two
    * appends + an upsert) each fold into the index as a DELTA
    * generation re-enumerating ONLY their touched file groups — the
    * refresh require-proves its scan stayed inside the touched set —
    * and the lookup resolves newest-generation-wins: the upserted
    * price serves, new keys resolve, the file cut survives.
    */
  val qHudiRecordIndexInc: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{HudiTableReader, HudiTableWriter}
      val table = scratch("hudi-ridx-inc") + "/t"
      val o = t(s, dir, "orders").repartition(4, col("o_orderkey"))
      val keyRows = o.groupBy(pmod(col("o_orderkey"), lit(4)).as("m"))
        .agg(min(col("o_orderkey")).as("lo"), max(col("o_orderkey")).as("hi"))
        .collect()
      val minKeys = keyRows.map(_.getAs[Long]("lo")).toSeq.distinct
      val allKeys = (minKeys ++ keyRows.map(_.getAs[Long]("hi"))).distinct
      HudiTableWriter.create(o.filter(pmod(col("o_orderkey"), lit(4)) === 0), table,
        recordKeys = Seq("o_orderkey")): Unit
      HudiTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(4)) === 1), table): Unit
      HudiTableWriter.writeRecordIndex(s, table): Unit
      // three incremental folds — appends, then an upsert repricing
      // the per-group minimum keys to CAST(o_orderkey AS DOUBLE)
      HudiTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(4)) === 2), table): Unit
      HudiTableWriter.refreshRecordIndex(s, table): Unit
      HudiTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(4)) === 3), table): Unit
      HudiTableWriter.refreshRecordIndex(s, table): Unit
      HudiTableWriter.upsert(
        o.filter(col("o_orderkey").isin(minKeys: _*))
          .withColumn("o_totalprice", col("o_orderkey").cast("double")), table): Unit
      HudiTableWriter.refreshRecordIndex(s, table): Unit
      val deltas = new org.apache.hadoop.fs.Path(s"$table/.hoodie/metadata/record_index")
      val fs = deltas.getFileSystem(s.sparkContext.hadoopConfiguration)
      require(fs.listStatus(deltas).count(_.getPath.getName.endsWith(".delta")) == 3,
        "three refreshes must land three delta generations")
      val looked = HudiTableReader.pointLookup(s, table, allKeys)
      require(looked.inputFiles.length <
          HudiTableReader.snapshot(s, table).inputFiles.length,
        "the incrementally-maintained index must keep cutting the lookup's file set")
      looked.select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").as("price"))
    },
    oracle = Some(
      """WITH mins AS (SELECT min(o_orderkey) AS k FROM orders GROUP BY o_orderkey % 4),
        |maxs AS (SELECT max(o_orderkey) AS k FROM orders GROUP BY o_orderkey % 4)
        |SELECT o_orderkey, o_orderpriority,
        |  CASE WHEN o_orderkey IN (SELECT k FROM mins)
        |       THEN CAST(o_orderkey AS DOUBLE) ELSE o_totalprice END AS price
        |FROM orders
        |WHERE o_orderkey IN (SELECT k FROM mins UNION SELECT k FROM maxs)"""
        .stripMargin))

  /** #103t MOR record index, LOG-AWARE build PRE-COMPACTION
    * ([[graft.sources.HudiTableWriter.writeRecordIndex]] on a MOR
    * table): dirty groups resolve through the realtime merge — log
    * upserts index at their current values, no compact-first
    * migration — and the lookup serves the merged view of ONLY the
    * matched groups (base-file cut require-proven in-run).
    */
  val qHudiRecordIndexMor: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{HudiTableReader, HudiTableWriter}
      val table = scratch("hudi-ridx-mor") + "/t"
      val o = t(s, dir, "orders").repartition(4, col("o_orderkey"))
      val keyRows = o.groupBy(pmod(col("o_orderkey"), lit(4)).as("m"))
        .agg(min(col("o_orderkey")).as("lo"), max(col("o_orderkey")).as("hi"))
        .collect()
      val minKeys = keyRows.map(_.getAs[Long]("lo")).toSeq.distinct
      val allKeys = (minKeys ++ keyRows.map(_.getAs[Long]("hi"))).distinct
      HudiTableWriter.createMor(o.filter(pmod(col("o_orderkey"), lit(4)) === 0), table,
        recordKeys = Seq("o_orderkey")): Unit
      (1 to 3).foreach(m => HudiTableWriter.upsert(
        o.filter(pmod(col("o_orderkey"), lit(4)) === m), table): Unit)
      // reprice the per-group minimum keys: EXISTING keys, so the
      // change rides LOG BLOCKS — the table stays uncompacted
      HudiTableWriter.upsert(
        o.filter(col("o_orderkey").isin(minKeys: _*))
          .withColumn("o_totalprice", col("o_orderkey").cast("double")), table): Unit
      HudiTableWriter.writeRecordIndex(s, table): Unit
      val looked = HudiTableReader.pointLookup(s, table, allKeys)
      require(looked.inputFiles.length <
          HudiTableReader.snapshot(s, table).inputFiles.length,
        "the MOR record index must cut the lookup's base-file set")
      looked.select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").as("price"))
    },
    oracle = Some(
      """WITH mins AS (SELECT min(o_orderkey) AS k FROM orders GROUP BY o_orderkey % 4),
        |maxs AS (SELECT max(o_orderkey) AS k FROM orders GROUP BY o_orderkey % 4)
        |SELECT o_orderkey, o_orderpriority,
        |  CASE WHEN o_orderkey IN (SELECT k FROM mins)
        |       THEN CAST(o_orderkey AS DOUBLE) ELSE o_totalprice END AS price
        |FROM orders
        |WHERE o_orderkey IN (SELECT k FROM mins UNION SELECT k FROM maxs)"""
        .stripMargin))

  /** #103r INCREMENTAL col-stats maintenance
    * ([[graft.sources.HudiTableWriter.refreshColStatsIndex]]): data
    * files are immutable, so a refresh carries existing per-file
    * stats forward verbatim and scans ONLY files absent from the
    * newest index (require-proven in the refresh itself) — O(new
    * files), flat in table size. Skipping through the refreshed
    * index still cuts the file set and stays exact.
    */
  val qHudiColStatsInc: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{HudiTableReader, HudiTableWriter}
      val table = scratch("hudi-cstats-inc") + "/t"
      val o = t(s, dir, "orders")
      HudiTableWriter.create(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
          .repartitionByRange(6, col("o_orderkey")),
        table, tableName = "orders_cstats", recordKeys = Seq("o_orderkey")): Unit
      HudiTableWriter.writeColStatsIndex(s, table,
        Seq("o_orderkey", "o_totalprice")): Unit
      HudiTableWriter.append(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 1)
          .repartitionByRange(6, col("o_orderkey")), table): Unit
      HudiTableWriter.refreshColStatsIndex(s, table): Unit
      val all = HudiTableReader.activeSlices(s, table).size
      val lo = 1000.0; val hi = 3000.0
      val skipped = HudiTableReader.snapshotSkipping(s, table, "o_orderkey", lo, hi)
      require(skipped.inputFiles.length > 0 && skipped.inputFiles.length < all,
        s"refreshed stats must cut the file set (${skipped.inputFiles.length} of $all)")
      val pruned = skipped
        .where(col("o_orderkey") >= lo && col("o_orderkey") <= hi)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .withColumn("slice", lit("skipped"))
      val full = HudiTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .withColumn("slice", lit("all"))
      full.unionByName(pruned)
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        |  'all' AS slice
        |FROM orders GROUP BY o_orderpriority
        |UNION ALL
        |SELECT o_orderpriority, count(*),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 'skipped'
        |FROM orders WHERE o_orderkey BETWEEN 1000 AND 3000
        |GROUP BY o_orderpriority""".stripMargin))

  // ---- NESTED columns across the three format adapters: struct,
  // array, and map columns round-trip through each format's own
  // writer and reader (snapshot AND incremental), flattened back to
  // the DuckDB-checkable rollup. Mapped/evolved/renamed INNER fields
  // keep refusing — this is the plain-path coverage real tables need.
  private def nestedOrders(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.select(col("o_orderkey"),
      struct(col("o_custkey").as("ck"), col("o_orderstatus").as("st")).as("cust"),
      array(col("o_totalprice")).as("prices"),
      map(lit("k"), col("o_totalprice")).as("attrs"),
      col("o_orderpriority").as("prio"))
  }

  private def nestedRollup(snap: DataFrame): DataFrame =
    snap.groupBy(col("cust.st").as("st"))
      .agg(count(lit(1)).as("n"),
        dsum(element_at(col("prices"), 1)).as("rev"),
        dsum(col("attrs").getItem("k")).as("mrev"),
        max(col("cust.ck")).as("ckmax"))

  private val nestedOracle: String =
    """SELECT o_orderstatus AS st, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS rev,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS mrev,
      |  max(o_custkey) AS ckmax
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  /** #103u MOR col-stats, GROUP-GRAINED and LOG-AWARE
    * ([[graft.sources.HudiTableWriter.writeColStatsIndex]] on an
    * uncompacted MOR table): dirty groups' ranges come from the
    * realtime merge — a log-block reprice WIDENS its group's range,
    * so the band that only the repriced value hits keeps exactly that
    * group (pruning on base-file stats would lose the row). The kept
    * groups serve through the realtime merge; the cut is
    * require-proven in-run.
    */
  val qHudiColStatsMor: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{HudiTableReader, HudiTableWriter}
      val table = scratch("hudi-cstats-mor") + "/t"
      val o = t(s, dir, "orders").repartitionByRange(6, col("o_orderkey"))
      HudiTableWriter.createMor(o, table, tableName = "orders_cstats_mor",
        recordKeys = Seq("o_orderkey")): Unit
      val minKey = o.agg(min(col("o_orderkey"))).head().getLong(0)
      // EXISTING key → the reprice rides a LOG BLOCK, uncompacted
      HudiTableWriter.upsert(
        o.filter(col("o_orderkey") === minKey)
          .withColumn("o_totalprice", lit(9999999.5)), table): Unit
      HudiTableWriter.writeColStatsIndex(s, table, Seq("o_totalprice")): Unit
      val all = HudiTableReader.snapshot(s, table).inputFiles.length
      val skipped = HudiTableReader.snapshotSkipping(s, table,
        "o_totalprice", 9000000.0, 10000000.0)
      require(skipped.inputFiles.length > 0 && skipped.inputFiles.length < all,
        s"log-aware group stats must cut the base-file set " +
          s"(${skipped.inputFiles.length} of $all)")
      val pruned = skipped
        .where(col("o_totalprice") >= 9000000.0)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .withColumn("slice", lit("skipped"))
      val full = HudiTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .withColumn("slice", lit("all"))
      full.unionByName(pruned)
    },
    oracle = Some(
      """WITH repriced AS (
        |  SELECT o_orderpriority,
        |    CASE WHEN o_orderkey = (SELECT min(o_orderkey) FROM orders)
        |         THEN 9999999.5 ELSE o_totalprice END AS price
        |  FROM orders)
        |SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(price AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        |  'all' AS slice
        |FROM repriced GROUP BY o_orderpriority
        |UNION ALL
        |SELECT o_orderpriority, count(*),
        |  CAST(sum(CAST(price AS DECIMAL(28,6))) AS DOUBLE), 'skipped'
        |FROM repriced WHERE price >= 9000000
        |GROUP BY o_orderpriority""".stripMargin))

  /** #104j Iceberg METADATA TABLES (iceberg.apache.org "Inspecting
    * tables" — the `SELECT * FROM tbl.files/.snapshots/...` surface):
    * each table is driver metadata, ZERO data I/O; the oracle checks
    * the stable facts — live data-file record counts sum to the
    * table's rows, delete-file record counts to the deleted rows,
    * the snapshot log carries exactly the operations committed, and
    * `main` is the one branch ref.
    */
  val qIcebergMetaTables: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{IcebergTableReader, IcebergTableWriter}
      val table = scratch("iceberg-meta") + "/t"
      val o = t(s, dir, "orders")
      IcebergTableWriter.create(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), table): Unit
      IcebergTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), table): Unit
      IcebergTableWriter.delete(s, table, pmod(col("o_orderkey"), lit(10)) === 0): Unit
      val files = IcebergTableReader.metadataTable(s, table, "files")
      val snaps = IcebergTableReader.metadataTable(s, table, "snapshots")
      val refsT = IcebergTableReader.metadataTable(s, table, "refs")
      val facts =
        files.groupBy(concat(lit("rows_content_"), col("content")).as("fact"))
          .agg(sum(col("record_count")).as("value"))
        .unionByName(snaps
          .groupBy(concat(lit("snapshots_"), col("operation")).as("fact"))
          .agg(count(lit(1)).as("value")))
        .unionByName(refsT.where(col("name") === "main")
          .agg(count(lit(1)).as("value"))
          .withColumn("fact", lit("refs_main"))
          .select("fact", "value"))
      facts
    },
    oracle = Some(
      """SELECT 'rows_content_0' AS fact, count(*)::BIGINT AS value FROM orders
        |UNION ALL
        |SELECT 'rows_content_1', count(*) FROM orders WHERE o_orderkey % 10 = 0
        |UNION ALL SELECT 'snapshots_append', 2
        |UNION ALL SELECT 'snapshots_delete', 1
        |UNION ALL SELECT 'refs_main', 1""".stripMargin))

  /** #103x Hudi TIMELINE inspection view
    * ([[graft.sources.HudiTableReader.timelineView]] — Hudi's own
    * `show commits` surface): one row per completed instant from the
    * commit metas graft already parses, zero data I/O; the oracle
    * checks the stable facts — per-operation instant census and the
    * row counts each operation committed.
    */
  val qHudiTimeline: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{HudiTableReader, HudiTableWriter}
      val table = scratch("hudi-timeline") + "/t"
      val o = t(s, dir, "orders")
      HudiTableWriter.create(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), table,
        recordKeys = Seq("o_orderkey")): Unit
      HudiTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), table): Unit
      val tl = HudiTableReader.timelineView(s, table)
      require(tl.inputFiles.isEmpty, "the timeline view must read no data files")
      tl.groupBy(col("action"), col("operation"))
        .agg(count(lit(1)).as("n_instants"), sum(col("num_writes")).as("rows_written"))
    },
    oracle = Some(
      """SELECT 'commit' AS action, 'INSERT' AS operation, 2::BIGINT AS n_instants,
        |       count(*)::BIGINT AS rows_written
        |FROM orders""".stripMargin))

  /** #102j Delta DESCRIBE HISTORY view
    * ([[graft.sources.DeltaTableReader.historyView]]): one row per
    * log version with the action census — zero data I/O; the oracle
    * checks the stable facts: a create, an append, and a DV delete
    * leave exactly their action shapes behind.
    */
  val qDeltaHistory: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{DeltaTableReader, DeltaTableWriter}
      val table = scratch("delta-history") + "/t"
      val o = t(s, dir, "orders")
      DeltaTableWriter.create(o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .coalesce(1), table): Unit
      DeltaTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(2)) === 1)
        .coalesce(1), table): Unit
      DeltaTableWriter.delete(s, table, pmod(col("o_orderkey"), lit(10)) === 0): Unit
      val h = DeltaTableReader.historyView(s, table)
      require(h.inputFiles.isEmpty, "the history view must read no data files")
      h.select(col("version"), col("num_added_files").as("adds"),
        col("num_removed_files").as("removes"),
        col("metadata_changed").as("meta"), col("protocol_changed").as("proto"))
    },
    oracle = Some(
      // v0 create: 1 coalesced add + metaData + protocol; v1 append:
      // 1 add; v2 DV delete: only the EVEN half matches %10=0, so ONE
      // file re-adds with its vector (remove+add) + the one-time DV
      // protocol upgrade
      """SELECT 0::BIGINT AS version, 1::BIGINT AS adds, 0::BIGINT AS removes,
        |       true AS meta, true AS proto
        |UNION ALL SELECT 1, 1, 0, false, false
        |UNION ALL SELECT 2, 1, 1, false, true""".stripMargin))

  /** #111 Delta NESTED columns (plain path): struct/array/map columns
    * land through graft's create+append and serve through the
    * declared-schema snapshot scan; the incremental read carries the
    * nested shape too. */
  val qDeltaNested: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{DeltaTableReader, DeltaTableWriter}
      val table = scratch("delta-nested") + "/t"
      val n = nestedOrders(s, dir)
      val v0 = DeltaTableWriter.create(n.filter(pmod(col("o_orderkey"), lit(2)) === 0), table)
      DeltaTableWriter.append(n.filter(pmod(col("o_orderkey"), lit(2)) === 1), table): Unit
      val inc = DeltaTableReader.incrementalSince(s, table, v0)
      require(inc.schema("cust").dataType.isInstanceOf[org.apache.spark.sql.types.StructType],
        "the incremental read must serve the nested shape")
      require(inc.where(pmod(col("o_orderkey"), lit(2)) === 0).isEmpty,
        "the incremental read must carry only the appended half")
      nestedRollup(DeltaTableReader.snapshot(s, table))
    },
    oracle = Some(nestedOracle))

  /** #111b Iceberg NESTED columns (plain path): the metadata
    * `schemas` node carries the spec's nested object types with
    * unique inner field ids; the declared-schema scan maps them back
    * and null-fill stays deterministic. */
  val qIcebergNested: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{IcebergTableReader, IcebergTableWriter}
      val table = scratch("iceberg-nested") + "/t"
      val n = nestedOrders(s, dir)
      val s0 = IcebergTableWriter.create(n.filter(pmod(col("o_orderkey"), lit(2)) === 0), table)
      IcebergTableWriter.append(n.filter(pmod(col("o_orderkey"), lit(2)) === 1), table): Unit
      val inc = IcebergTableReader.incrementalSince(s, table, s0)
      require(inc.schema("cust").dataType.isInstanceOf[org.apache.spark.sql.types.StructType],
        "the incremental read must serve the nested shape")
      require(inc.where(pmod(col("o_orderkey"), lit(2)) === 0).isEmpty,
        "the incremental read must carry only the appended half")
      nestedRollup(IcebergTableReader.snapshot(s, table))
    },
    oracle = Some(nestedOracle))

  /** #111c Hudi NESTED columns (plain path): nested payload columns
    * ride the COW create/append/incremental machinery untouched (the
    * record key stays scalar); the snapshot flattens back exactly. */
  val qHudiNested: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{HudiTableReader, HudiTableWriter}
      val table = scratch("hudi-nested") + "/t"
      val n = nestedOrders(s, dir)
      val i0 = HudiTableWriter.create(n.filter(pmod(col("o_orderkey"), lit(2)) === 0), table,
        recordKeys = Seq("o_orderkey"))
      HudiTableWriter.append(n.filter(pmod(col("o_orderkey"), lit(2)) === 1), table): Unit
      val inc = HudiTableReader.incrementalSince(s, table, i0)
      require(inc.schema("cust").dataType.isInstanceOf[org.apache.spark.sql.types.StructType],
        "the incremental read must serve the nested shape")
      require(inc.where(pmod(col("o_orderkey"), lit(2)) === 0).isEmpty,
        "the incremental read must carry only the appended half")
      nestedRollup(HudiTableReader.snapshot(s, table))
    },
    oracle = Some(nestedOracle))

  /** #109e Iceberg PARTITION-TRANSFORM writer + inverse prune
    * ([[graft.sources.IcebergTransforms]]): a `days(o_orderdate)`-
    * partitioned table — the shape most PRODUCTION Iceberg tables
    * take — created and appended with the spec's `day` transform in
    * `partition-specs` and transformed values on every manifest
    * entry, then range-pruned through the transform's INVERSE
    * (`transformPruner`: day range from the timestamp bounds).
    * The file-set cut is require-proven in-run before any data I/O;
    * the pruned leg carries the residual filter (the cut is
    * file-level), and the oracle recomputes both legs. Bucket and
    * truncate transforms (spec-vector-locked murmur3 hash included)
    * are spec-gated in IcebergTransformsSpec.
    */
  val qIcebergTransformWrite: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{IcebergTableReader, IcebergTableWriter}
      val table = scratch("ice-transform-write") + "/t"
      // two quarters of orders: enough distinct days for a real
      // per-day layout, bounded file count at any SF
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1995-07-01").cast("timestamp"))
      IcebergTableWriter.create(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), table,
        partitionBy = Seq("days(o_orderdate)")): Unit
      IcebergTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), table): Unit
      val lo = java.sql.Timestamp.valueOf("1995-02-01 00:00:00")
      val hi = java.sql.Timestamp.valueOf("1995-03-31 23:59:59")
      val pruner = IcebergTableReader.transformPruner(s, table, "o_orderdate", lo, hi)
      val allFiles = IcebergTableReader.planFiles(s, table).data.size
      val prunedFiles = IcebergTableReader.planFilesPruned(s, table, pruner).data.size
      require(prunedFiles > 0 && prunedFiles < allFiles,
        s"day-transform pruning must cut the file set ($prunedFiles of $allFiles)")
      val full = IcebergTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .withColumn("slice", lit("all"))
      val pruned = IcebergTableReader.snapshotPruned(s, table, pruner)
        .where(col("o_orderdate").between(lit(lo), lit(hi)))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .withColumn("slice", lit("pruned"))
      full.unionByName(pruned)
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        |  'all' AS slice
        |FROM orders WHERE o_orderdate < TIMESTAMP '1995-07-01'
        |GROUP BY o_orderpriority
        |UNION ALL
        |SELECT o_orderpriority, count(*),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 'pruned'
        |FROM orders
        |WHERE o_orderdate BETWEEN TIMESTAMP '1995-02-01'
        |  AND TIMESTAMP '1995-03-31 23:59:59'
        |GROUP BY o_orderpriority""".stripMargin))

  /** #109c Iceberg POSITION-DELETE writer
    * ([[graft.sources.IcebergTableWriter.delete]] — the third leg of
    * the row-level-delete writer triad beside Delta DV deletes and
    * Hudi MOR tombstones): matched rows become a spec-shaped v2
    * position-delete file published as a content=1 delete-manifest
    * snapshot with operation 'delete'; a second delete evaluates on
    * the already-masked live rows and ACCUMULATES. No data file is
    * rewritten (require-proven in-run); position computation and the
    * delete-file write are fully distributed. The oracle recomputes
    * the post-delete state.
    */
  val qIcebergDelWrite: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{IcebergTableReader, IcebergTableWriter}
      val table = scratch("ice-del-write") + "/t"
      val o = t(s, dir, "orders")
      IcebergTableWriter.create(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), table): Unit
      IcebergTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), table): Unit
      val before = IcebergTableReader.planFiles(s, table).data.toSet
      IcebergTableWriter.delete(s, table, pmod(col("o_orderkey"), lit(7)) === 0): Unit
      IcebergTableWriter.delete(s, table, pmod(col("o_orderkey"), lit(11)) === 0): Unit
      require(IcebergTableReader.planFiles(s, table).data.toSet == before,
        "a position delete must not rewrite or drop any data file")
      IcebergTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0
        |GROUP BY o_orderpriority""".stripMargin))

  /** #109f Iceberg v3 DELETION-VECTOR writer + read
    * ([[graft.sources.IcebergTableWriter.deleteDv]] +
    * [[graft.sources.IcebergPuffin]]): row deletes as per-file puffin
    * DV blobs — the v3 spec's shape, byte-compatible with Delta's
    * sidecar framing — committed as a content=1 deletes manifest with
    * `referenced_data_file`/`content_offset`/`content_size_in_bytes`
    * refs and format-version floored at 3. The second delete proves
    * the SUPERSEDE rule: each new DV folds in the file's prior
    * deletes and the old DV entries rewrite out, leaving exactly one
    * live DV per data file (require-proven in-run, as is
    * no-data-file-rewritten). Blobs decode on executors at read; the
    * oracle recomputes the post-delete state.
    */
  val qIcebergDvWrite: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{IcebergTableReader, IcebergTableWriter}
      val table = scratch("ice-dv-write") + "/t"
      val o = t(s, dir, "orders")
      IcebergTableWriter.create(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), table): Unit
      IcebergTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), table): Unit
      val before = IcebergTableReader.planFiles(s, table).data.toSet
      IcebergTableWriter.deleteDv(s, table, pmod(col("o_orderkey"), lit(7)) === 0): Unit
      IcebergTableWriter.deleteDv(s, table, pmod(col("o_orderkey"), lit(11)) === 0): Unit
      val plan = IcebergTableReader.planFiles(s, table)
      require(plan.data.toSet == before,
        "a deletion-vector delete must not rewrite or drop any data file")
      require(plan.deletionVectors.nonEmpty &&
          plan.deletionVectors.map(_.referencedDataFile).distinct.size ==
            plan.deletionVectors.size,
        "supersede rule: exactly one live DV per data file")
      IcebergTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0
        |GROUP BY o_orderpriority""".stripMargin))

  /** #109g Iceberg column RENAME
    * ([[graft.sources.IcebergTableWriter.renameColumn]]): a pure
    * metadata commit — a new `schemas` node with every FIELD ID
    * preserved and one name swapped, no snapshot, no data move — and
    * the reader serves pre-rename files under the NEW name through
    * parquet field-id resolution (the writer stamps ids on every
    * landed file for exactly this). The post-rename upsert proves
    * equality deletes bind to ids across the rename. In-run require:
    * the snapshot's columns carry the new name only.
    */
  val qIcebergRename: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{IcebergTableReader, IcebergTableWriter}
      val table = scratch("ice-rename") + "/t"
      val o = t(s, dir, "orders")
      IcebergTableWriter.create(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), table): Unit
      IcebergTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), table): Unit
      IcebergTableWriter.renameColumn(s, table, "o_totalprice", "price")
      val snap = IcebergTableReader.snapshot(s, table)
      require(snap.columns.contains("price") && !snap.columns.contains("o_totalprice"),
        "the renamed schema must serve")
      snap.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("price")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY o_orderpriority""".stripMargin))

  /** #109 Iceberg table WRITER round-trip
    * ([[graft.sources.IcebergTableWriter]] — the third leg of the
    * writer-side interop surface): create + append land spec-true v2
    * metadata (Avro manifests with real footer record counts,
    * manifest-reuse lists, parent-chained snapshot log, vN metadata
    * under the filesystem-catalog CAS). Read-back goes through the
    * snapshot AND the incremental pull since the first snapshot —
    * proving the added_snapshot_id bookkeeping, not just the bytes.
    */
  val qIcebergWrite: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{IcebergTableReader, IcebergTableWriter}
      val table = scratch("ice-write") + "/t"
      val o = t(s, dir, "orders")
      val s1 = IcebergTableWriter.create(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0), table)
      IcebergTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), table)
      val full = IcebergTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .withColumn("slice", lit("snapshot"))
      val pulled = IcebergTableReader.incrementalSince(s, table, s1)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .withColumn("slice", lit("incremental"))
      full.unionByName(pulled)
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        |  'snapshot' AS slice
        |FROM orders GROUP BY o_orderpriority
        |UNION ALL
        |SELECT o_orderpriority, count(*),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 'incremental'
        |FROM orders WHERE o_orderkey % 2 = 1 GROUP BY o_orderpriority""".stripMargin))

  /** #104j Iceberg TYPE PROMOTION as schema evolution (the spec's
    * "Valid type promotions": int→long, float→double, decimal
    * precision widening — METADATA-ONLY: a new schemas node with the
    * field ids verbatim and the primitive widened; files written
    * before it keep their narrow physical type and the
    * declared-schema scan widens them). The fixture creates the table
    * with o_orderkey as INT, appends the other half as LONG — the
    * promotion commit — and the snapshot serves BOTH halves as long;
    * the oracle recomputes from the source table.
    */
  val qIcebergPromote: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{IcebergTableReader, IcebergTableWriter}
      val table = scratch("ice-promote") + "/t"
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      IcebergTableWriter.create(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
          .withColumn("o_orderkey", col("o_orderkey").cast("int")), table): Unit
      IcebergTableWriter.append(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 1), table): Unit
      val snap = IcebergTableReader.snapshot(s, table)
      require(snap.schema("o_orderkey").dataType ==
        org.apache.spark.sql.types.LongType,
        "the promotion must widen the declared schema to long")
      snap.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"),
          dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY o_orderpriority""".stripMargin))

  /** #104j (Delta leg) typeWidening WRITE side (delta.io PROTOCOL.md
    * Type Widening): the table is created with o_orderkey as INT on a
    * legacy protocol; appending the other half as LONG is the
    * widening commit — metaData re-declares the column long WITH a
    * `delta.typeChanges` entry (the feature's writer obligation), the
    * protocol upgrades to declare typeWidening, and the snapshot
    * serves BOTH halves widened (old int32 files through the
    * declared-schema scan's conversion). In-run requires pin the
    * bookkeeping; the oracle recomputes from the source table.
    */
  val qDeltaPromote: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{DeltaTableReader, DeltaTableWriter}
      val table = scratch("delta-promote") + "/t"
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      DeltaTableWriter.create(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
          .withColumn("o_orderkey", col("o_orderkey").cast("int")), table): Unit
      DeltaTableWriter.append(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 1), table): Unit
      val state = DeltaTableReader.snapshotState(s, table)
      val declared = org.apache.spark.sql.types.DataType
        .fromJson(state.schemaJson.get)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      require(declared("o_orderkey").dataType ==
        org.apache.spark.sql.types.LongType,
        "the widening must re-declare o_orderkey as long")
      require(declared("o_orderkey").metadata.contains("delta.typeChanges") &&
        declared("o_orderkey").metadata.getMetadataArray("delta.typeChanges")
          .exists(m => m.getString("fromType") == "integer" &&
            m.getString("toType") == "long"),
        "the widening must record its delta.typeChanges entry")
      require(state.protocol.exists(p =>
        p.readerFeatures.contains("typeWidening") &&
          p.writerFeatures.contains("typeWidening")),
        "the widening must upgrade the protocol to declare typeWidening")
      DeltaTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"),
          dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY o_orderpriority""".stripMargin))

  /** #104 External Iceberg table SNAPSHOT read
    * ([[graft.sources.IcebergTableReader]]): current metadata
    * JSON → the current snapshot's Avro manifest list → live data
    * files, read as one distributed scan — the third leg of the
    * existing-lakehouse-table interop surface (template.py:207-217).
    */
  val qIcebergSnapshot: QueryDef = QueryDef(
    run = (s, dir) => {
      val table = buildIcebergFixture(s, dir, scratch("ice-snap"))
      graft.sources.IcebergTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY o_orderpriority""".stripMargin))

  /** #104b External Iceberg table INCREMENTAL read: the parent chain
    * from the checkpoint snapshot to the current one, appends only —
    * manifests ADDED by in-range snapshots, status=added entries,
    * tagged `_snapshot_id`; the reused m1 manifest is correctly
    * excluded by its added_snapshot_id. A mid-range
    * `rewriteDataFiles` (a `replace` snapshot — every production
    * table compacts) is SKIPPED by the pull, not refused: the result
    * is hash-identical to the pre-compaction pull.
    */
  val qIcebergIncremental: QueryDef = QueryDef(
    run = (s, dir) => {
      val table = buildIcebergFixture(s, dir, scratch("ice-inc"))
      // compact AFTER the checkpoint: the consumer's next pull must
      // serve snapshot 2's appended rows and ignore the rewrite
      graft.sources.IcebergTableWriter.rewriteDataFiles(s, table, targetFiles = 1): Unit
      graft.sources.IcebergTableReader.incrementalSince(s, table, 1L)
        .groupBy(col("_snapshot_id"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT CAST(2 AS BIGINT) AS _snapshot_id, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_orderkey % 3 = 2
        |GROUP BY o_orderpriority""".stripMargin))

  /** #107 Hudi COW table WRITER round-trip
    * ([[graft.sources.HudiTableWriter]] — the reference's own
    * write-side job, generate_hudi_table.py:86-214, re-expressed:
    * insert commits land base files named per the Hudi convention,
    * `_hoodie_commit_time`/`_hoodie_record_key` stamped, timeline
    * `.commit` metadata published under instant-uniqueness CAS).
    * orders lands as create + append; the read-back goes through the
    * INCREMENTAL pull since the first instant — proving the stamps,
    * not just the bytes — plus the full snapshot. The oracle
    * recomputes both slices.
    */
  val qHudiWrite: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{HudiTableReader, HudiTableWriter}
      val table = scratch("hudi-write") + "/t"
      val o = t(s, dir, "orders")
      val c1 = HudiTableWriter.create(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0), table,
        tableName = "orders_cow", recordKeys = Seq("o_orderkey"))
      HudiTableWriter.append(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 1), table,
        recordKeys = Seq("o_orderkey"))
      val full = HudiTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .withColumn("slice", lit("snapshot"))
      val pulled = HudiTableReader.incrementalSince(s, table, c1)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .withColumn("slice", lit("incremental"))
      full.unionByName(pulled)
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        |  'snapshot' AS slice
        |FROM orders GROUP BY o_orderpriority
        |UNION ALL
        |SELECT o_orderpriority, count(*),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 'incremental'
        |FROM orders WHERE o_orderkey % 2 = 1 GROUP BY o_orderpriority""".stripMargin))

  /** #103j Hudi ARCHIVED-TIMELINE read
    * ([[graft.sources.HudiTableWriter.archiveTimeline]] +
    * [[graft.sources.HudiTimeline.archivedEntries]]): the archival
    * service rotates all but the newest instants into
    * `.hoodie/archived` (Hudi-log-container archive files — the same
    * PUBLIC codec as MOR logs), after which the CREATE commit's file
    * groups are reachable ONLY through the archive; the reader
    * replays archived instants under the active timeline, so the
    * snapshot, the incremental pull from an ARCHIVED checkpoint and
    * point-in-time reads all stay exact. In-run require: the active
    * listing really rotated (the archived instants' meta files are
    * gone). The oracle recomputes both slices.
    */
  val qHudiArchived: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{HudiTableReader, HudiTableWriter}
      val table = scratch("hudi-archived") + "/t"
      val o = t(s, dir, "orders")
      val c1 = HudiTableWriter.create(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0), table,
        tableName = "orders_arch", recordKeys = Seq("o_orderkey"))
      HudiTableWriter.append(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 1), table,
        recordKeys = Seq("o_orderkey"))
      val archived = HudiTableWriter.archiveTimeline(s, table, keepLast = 1)
      require(archived == 1, s"the create instant must archive, got $archived")
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      require(!fs.exists(new org.apache.hadoop.fs.Path(table, s".hoodie/$c1.commit")),
        "the archived instant's active meta file must be gone")
      require(fs.exists(new org.apache.hadoop.fs.Path(table, ".hoodie/archived")),
        "the archive directory must exist")
      val full = HudiTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .withColumn("slice", lit("snapshot"))
      val pulled = HudiTableReader.incrementalSince(s, table, c1)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .withColumn("slice", lit("incremental"))
      full.unionByName(pulled)
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        |  'snapshot' AS slice
        |FROM orders GROUP BY o_orderpriority
        |UNION ALL
        |SELECT o_orderpriority, count(*),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 'incremental'
        |FROM orders WHERE o_orderkey % 2 = 1 GROUP BY o_orderpriority""".stripMargin))

  /** #103m Hudi STATS-BASED FILE SKIPPING (the third leg of the
    * skipping triad beside Delta add.stats (102f) and Iceberg
    * manifest bounds (104e)): `writeColStatsIndex` publishes the
    * metadata-table `col_stats` analog — per-file min/max from ONE
    * distributed scan — and `snapshotSkipping` prunes files whose
    * recorded range provably misses the asked interval, keeping
    * unindexed files conservatively. The table is range-clustered on
    * the skip key so files carry disjoint ranges (the layout that
    * makes skipping real); the file-set cut is require-proven in-run
    * and the pruned+residual leg recomputes against the full rollup.
    */
  val qHudiSkipping: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{HudiTableReader, HudiTableWriter}
      val table = scratch("hudi-skipping") + "/t"
      val o = t(s, dir, "orders")
      HudiTableWriter.create(o.repartitionByRange(8, col("o_orderkey")), table,
        tableName = "orders_skip", recordKeys = Seq("o_orderkey")): Unit
      HudiTableWriter.writeColStatsIndex(s, table,
        Seq("o_orderkey", "o_totalprice")): Unit
      val all = HudiTableReader.activeSlices(s, table).size
      val lo = 1000.0; val hi = 3000.0
      val skipped = HudiTableReader.snapshotSkipping(s, table, "o_orderkey", lo, hi)
      require(skipped.inputFiles.length > 0 && skipped.inputFiles.length < all,
        s"stats skipping must cut the file set (${skipped.inputFiles.length} of $all)")
      val pruned = skipped
        .where(col("o_orderkey") >= lo && col("o_orderkey") <= hi)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .withColumn("slice", lit("skipped"))
      val full = HudiTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .withColumn("slice", lit("all"))
      full.unionByName(pruned)
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        |  'all' AS slice
        |FROM orders GROUP BY o_orderpriority
        |UNION ALL
        |SELECT o_orderpriority, count(*),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 'skipped'
        |FROM orders WHERE o_orderkey BETWEEN 1000 AND 3000
        |GROUP BY o_orderpriority""".stripMargin))

  /** #103k Hudi CDC `_cdc` images — write AND serve
    * ([[graft.sources.HudiTableWriter]] writeCdcImages +
    * [[graft.sources.HudiTableReader.changeFeedSince]] precedence):
    * a `hoodie.table.cdc.enabled` COW table's upsert lands this
    * instant's pre/post/insert images under `.hoodie/cdc/<instant>/`
    * (distributed parquet — the RFC-51 before/after obligation), and
    * the change feed serves them VERBATIM — pre-images included,
    * which no COW reconstruction can recover (the exact analog of
    * the Delta CDF precedence, 106e). Both legs oracled: the feed's
    * per-change-type rollup recomputes from the key parities, the
    * pre-images carrying ORIGINAL values and the post-images the
    * update's.
    */
  val qHudiCdcWrite: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{HudiTableReader, HudiTableWriter}
      val table = scratch("hudi-cdc-write") + "/t"
      val o = t(s, dir, "orders")
      val c1 = HudiTableWriter.create(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0), table,
        tableName = "orders_cdc", recordKeys = Seq("o_orderkey"), cdcEnabled = true)
      val updates = o.filter(pmod(col("o_orderkey"), lit(10)) === 0)
        .withColumn("o_orderpriority", lit("X-CDC"))
      val inserts = o.filter(pmod(col("o_orderkey"), lit(2)) === 1 &&
        pmod(col("o_orderkey"), lit(9)) === 0)
      HudiTableWriter.upsert(updates.unionByName(inserts), table): Unit
      val feed = HudiTableReader.changeFeedSince(s, table, c1)
      feed.groupBy(col("_change_type"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT 'update_preimage' AS _change_type, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders WHERE o_orderkey % 10 = 0 GROUP BY o_orderpriority
        |UNION ALL
        |SELECT 'update_postimage', 'X-CDC', count(*),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
        |FROM orders WHERE o_orderkey % 10 = 0
        |UNION ALL
        |SELECT 'insert', o_orderpriority, count(*),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
        |FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey % 9 = 0
        |GROUP BY o_orderpriority""".stripMargin))

  /** #107c PARTITIONED Hudi COW writer
    * ([[graft.sources.HudiTableWriter.create]] with
    * `hoodie.table.partition.fields` — the reference's own job writes
    * date-partitioned tables, generate_hudi_table.py:86-214): base
    * files land under hive-style partition dirs, the commit's
    * partitionToWriteStats key BY PARTITION, rows carry
    * `_hoodie_partition_path`, partition columns stay in the data
    * files, and appends derive the fields from hoodie.properties.
    * Read-back goes through snapshot AND the incremental pull. The
    * oracle recomputes both slices.
    */
  val qHudiPartWrite: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{HudiTableReader, HudiTableWriter}
      val table = scratch("hudi-part-write") + "/t"
      val o = t(s, dir, "orders")
      val c1 = HudiTableWriter.create(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0), table,
        tableName = "orders_part", recordKeys = Seq("o_orderkey"),
        partitionBy = Seq("o_orderpriority"))
      HudiTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), table): Unit
      val full = HudiTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .withColumn("slice", lit("snapshot"))
      val pulled = HudiTableReader.incrementalSince(s, table, c1)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .withColumn("slice", lit("incremental"))
      full.unionByName(pulled)
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        |  'snapshot' AS slice
        |FROM orders GROUP BY o_orderpriority
        |UNION ALL
        |SELECT o_orderpriority, count(*),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 'incremental'
        |FROM orders WHERE o_orderkey % 2 = 1 GROUP BY o_orderpriority""".stripMargin))

  /** #22w Streaming ingestion INTO an external Delta table
    * ([[graft.streaming.TableSink]]): each micro-batch appends with a
    * protocol `txn {appId, version=batchId}` action, and a replayed
    * batch is skipped off the table's own transaction watermark —
    * exactly-once from the log itself, the mechanism Delta's own
    * streaming sink uses. The run replays a committed batch
    * explicitly (must no-op, in-run require) before the oracle
    * compares the final snapshot to the full source.
    */
  val qStreamDeltaSink: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.DeltaTableReader
      import graft.sources.TableLoader.DeltaFormat
      import graft.streaming.TableSink
      val table = scratch("stream-delta-sink") + "/t"
      val appId = "graft-delta-sink"
      val src = graft.streaming.EventStream.streamableDir(s, s"$dir/events.parquet")
      TableSink.streamEvents(s, src, table, DeltaFormat, appId,
        queryName = "graft_delta_sink_" + java.util.UUID.randomUUID().toString.replace("-", ""))
      // at-least-once redelivery: replaying batch 0 must be a no-op
      val replayBatch = t(s, dir, "events").limit(10)
      require(!TableSink.appendBatch(replayBatch, table, DeltaFormat, appId, batchId = 0L),
        "a replayed batch id at/below the txn watermark must not re-land")
      DeltaTableReader.snapshot(s, table)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,6)")).cast("double").as("sum_value"))
    },
    oracle = Some(
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin))

  /** #22x Streaming ingestion INTO an external Iceberg table
    * ([[graft.streaming.TableSink]]): each micro-batch appends a
    * snapshot whose SUMMARY carries (app-id, batch-id) — the
    * Flink-connector watermark pattern — and a replayed batch is
    * skipped off [[graft.sources.IcebergTableWriter.lastBatchId]].
    * The replay is proven a no-op in-run before the oracle compares
    * the final snapshot to the full source.
    */
  val qStreamIcebergSink: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.IcebergTableReader
      import graft.sources.TableLoader.IcebergFormat
      import graft.streaming.TableSink
      val table = scratch("stream-ice-sink") + "/t"
      val appId = "graft-iceberg-sink"
      val src = graft.streaming.EventStream.streamableDir(s, s"$dir/events.parquet")
      TableSink.streamEvents(s, src, table, IcebergFormat, appId,
        queryName = "graft_ice_sink_" + java.util.UUID.randomUUID().toString.replace("-", ""))
      val replayBatch = t(s, dir, "events").limit(10)
      require(!TableSink.appendBatch(replayBatch, table, IcebergFormat, appId, batchId = 0L),
        "a replayed batch id at/below the summary watermark must not re-land")
      IcebergTableReader.snapshot(s, table)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,6)")).cast("double").as("sum_value"))
    },
    oracle = Some(
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin))

  /** #22y Streaming ingestion INTO an external Hudi COW table
    * ([[graft.streaming.TableSink]]): the watermark rides each
    * commit's `extraMetadata` — Hudi's own deltastreamer checkpoint
    * pattern — and replays no-op off
    * [[graft.sources.HudiTableWriter.lastBatchId]]. Replay proven
    * in-run; the oracle compares the final snapshot to the source.
    */
  val qStreamHudiSink: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.HudiTableReader
      import graft.sources.TableLoader.HudiFormat
      import graft.streaming.TableSink
      val table = scratch("stream-hudi-sink") + "/t"
      val appId = "graft-hudi-sink"
      val src = graft.streaming.EventStream.streamableDir(s, s"$dir/events.parquet")
      TableSink.streamEvents(s, src, table, HudiFormat, appId,
        queryName = "graft_hudi_sink_" + java.util.UUID.randomUUID().toString.replace("-", ""))
      val replayBatch = t(s, dir, "events").limit(10)
      require(!TableSink.appendBatch(replayBatch, table, HudiFormat, appId, batchId = 0L),
        "a replayed batch id at/below the extraMetadata watermark must not re-land")
      HudiTableReader.snapshot(s, table)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,6)")).cast("double").as("sum_value"))
    },
    oracle = Some(
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin))

  /** #105b Format-agnostic incremental open on a GRAFT versioned
    * table ([[graft.sources.TableLoader.openIncremental]]): upsert
    * commits declare their record keys in commit metadata, so the
    * dispatch derives the full CDC feed (pre/post images) between the
    * checkpoint version and the head with nothing but (path, "1") —
    * the same call shape the Delta/Hudi/Iceberg adapters take. The
    * oracle recomputes both images of the purchase-doubling update
    * from the raw table.
    */
  val qOpenIncremental: QueryDef = QueryDef(
    run = (s, dir) => {
      val target = scratch("open-inc")
      val base = t(s, dir, "events")
      UpsertWriter.upsert(base, target, Seq("event_id"), "ts", keepVersions = 3)
      UpsertWriter.upsert(
        base.filter(col("event_type") === "purchase")
          .withColumn("value", col("value") * 2)
          .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR")),
        target, Seq("event_id"), "ts", keepVersions = 3)
      TableLoader.openIncremental(s, target, "1")
        .groupBy(col("change_type"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,6)")).cast("double").as("sum_value"))
    },
    oracle = Some(
      """SELECT 'update_preimage' AS change_type, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM events WHERE event_type = 'purchase' GROUP BY 2
        |UNION ALL
        |SELECT 'update_postimage', event_type, count(*),
        |  CAST(sum(CAST(value * 2 AS DECIMAL(28,6))) AS DOUBLE)
        |FROM events WHERE event_type = 'purchase' GROUP BY 2""".stripMargin))

  /** #106 Delta table WRITER round-trip
    * ([[graft.sources.DeltaTableWriter]] — the inverse of the
    * reader, and the analog of the reference's table-producing half,
    * generate_hudi_table.py:86-214): orders lands as a PARTITIONED
    * external-format Delta table (create %2=0, append %2=1 — two
    * protocol commits), then reads back through the format-agnostic
    * [[graft.sources.TableLoader.open]] auto-detection. The oracle is
    * the full source table: what external engines will see must be
    * exactly what was handed over.
    */
  val qDeltaWrite: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{DeltaTableWriter, TableLoader}
      val table = scratch("delta-write") + "/t"
      val o = t(s, dir, "orders")
      DeltaTableWriter.create(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), table,
        partitionBy = Seq("o_orderpriority"))
      DeltaTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), table)
      TableLoader.open(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY o_orderpriority""".stripMargin))

  /** Build a Delta fixture whose active files carry DELETION VECTORS
    * in both protocol forms: part-a (%3=0 slice) with a RoaringBitmap
    * SIDECAR masking rows where o_orderkey%7=0, part-b (%3=1 slice)
    * with an INLINE Z85 vector masking o_orderkey%11=0. The DV attach
    * is the protocol's remove+re-add of the same path. Returns the
    * table path.
    */
  private def buildDeltaDvFixture(s: SparkSession, dir: String, root: String): String = {
    import graft.sources.DeltaDv
    val table = root + "/t"
    new java.io.File(table).mkdirs()
    val o = t(s, dir, "orders")
    writeDeltaDataFile(o.filter(pmod(col("o_orderkey"), lit(3)) === 0), table, "part-a.parquet")
    writeDeltaDataFile(o.filter(pmod(col("o_orderkey"), lit(3)) === 1), table, "part-b.parquet")
    writeDeltaCommit(table, 0L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      deltaMeta, deltaAdd("part-a.parquet"), deltaAdd("part-b.parquet")))
    // positions are physical row indexes WITHIN each file — read them
    // off the scan's own metadata so the fixture is layout-true
    def positionsWhere(file: String, pred: Column): Seq[Long] =
      s.read.parquet(s"$table/$file")
        .where(pred)
        .select(col("_metadata.row_index"))
        .collect().map(_.getLong(0)).toIndexedSeq
    val conf = s.sparkContext.hadoopConfiguration
    val Seq(sidecar) = DeltaDv.writeSidecar(conf, table,
      Seq(positionsWhere("part-a.parquet", pmod(col("o_orderkey"), lit(7)) === 0)))
    val inline = DeltaDv.inlineDescriptor(
      positionsWhere("part-b.parquet", pmod(col("o_orderkey"), lit(11)) === 0))
    def addWithDv(path: String, d: DeltaDv.Descriptor): String =
      s"""{"add":{"path":"$path","partitionValues":{},"size":1024,""" +
        s""""modificationTime":1700000000000,"dataChange":true,""" +
        s""""deletionVector":${DeltaDv.descriptorJson(d)}}}"""
    writeDeltaCommit(table, 1L, Seq(
      deltaRemove("part-a.parquet"), addWithDv("part-a.parquet", sidecar),
      deltaRemove("part-b.parquet"), addWithDv("part-b.parquet", inline)))
    table
  }

  /** #102c External Delta table snapshot read WITH deletion vectors:
    * the add actions' DV descriptors (sidecar RoaringBitmap and
    * inline Z85 forms) expand to per-file positions on executors and
    * subtract from the ONE data scan via the `_metadata.row_index`
    * anti join — deleted rows never reach the aggregate, no data file
    * was rewritten. The oracle recomputes the visible set from the
    * predicates the vectors encode.
    */
  val qDeltaDv: QueryDef = QueryDef(
    run = (s, dir) => {
      val table = buildDeltaDvFixture(s, dir, scratch("delta-dv"))
      graft.sources.DeltaTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE (o_orderkey % 3 = 0 AND o_orderkey % 7 <> 0)
        |   OR (o_orderkey % 3 = 1 AND o_orderkey % 11 <> 0)
        |GROUP BY o_orderpriority""".stripMargin))

  /** #105d CROSS-FORMAT REPLICATION
    * ([[graft.sources.TableLoader.replicate]] — the move the whole
    * interop surface exists for): orders lands as a Hudi COW table
    * (the reference's own format), replicates to Delta, then to
    * Iceberg, then back into a graft versioned table — four engines,
    * one call shape, each hop a snapshot read through the source's
    * adapter + a create through the destination's writer. The final
    * graft read must still be bit-equal to the source (any meta-column
    * leak, row loss or double-read at ANY hop fails the hash).
    */
  val qFormatConvert: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{HudiTableWriter, TableLoader}
      val root = scratch("fmt-convert")
      val hudi = root + "/hudi"; val delta = root + "/delta"
      val ice = root + "/ice"; val graftT = root + "/graft"
      val o = t(s, dir, "orders")
      HudiTableWriter.create(o, hudi, tableName = "orders_src",
        recordKeys = Seq("o_orderkey")): Unit
      TableLoader.replicate(s, hudi, delta, TableLoader.DeltaFormat)
      TableLoader.replicate(s, delta, ice, TableLoader.IcebergFormat)
      TableLoader.replicate(s, ice, graftT, TableLoader.GraftVersioned,
        recordKeys = Seq("o_orderkey"))
      val n = o.count()
      Seq(delta, ice, graftT).foreach { p =>
        require(TableLoader.open(s, p).count() == n,
          s"replication hop to $p changed the row count")
      }
      TableLoader.open(s, graftT)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY o_orderpriority""".stripMargin))

  /** #102f Delta STATS-BASED FILE SKIPPING (both halves: the writer
    * lands `add.stats` — numRecords/minValues/maxValues/nullCount
    * read from the parquet FOOTERS, what every Delta engine skips on
    * — and the reader's snapshotSkipping prunes files whose recorded
    * range provably misses `[lo, hi]` BEFORE the scan or the driver
    * add-set; stat-less files are conservatively kept, so skipping
    * prunes I/O, never semantics). The fixture range-clusters orders
    * by key so the narrow range provably cuts the file set
    * (require-proven in-run); the oracle recomputes the filtered
    * aggregate.
    */
  val qDeltaSkipping: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{DeltaTableReader, DeltaTableWriter}
      val table = scratch("delta-skip") + "/t"
      val o = t(s, dir, "orders")
      DeltaTableWriter.create(o.repartitionByRange(8, col("o_orderkey")), table): Unit
      // orders keys run 0 .. 1500·(sf/0.001) − 1, so a bound under
      // 1500 cuts the file set at every scale the testdata ships
      val hi = 1000.0
      val skipped = DeltaTableReader.snapshotSkipping(s, table, "o_orderkey", 0.0, hi)
      val full = DeltaTableReader.snapshot(s, table)
      require(skipped.inputFiles.length < full.inputFiles.length,
        s"stats skipping must cut the file set " +
          s"(${skipped.inputFiles.length} of ${full.inputFiles.length})")
      // stats must SURVIVE the checkpoint (PROTOCOL.md: add.stats ride
      // the checkpoint schema): after writeCheckpoint + log cleanup
      // the checkpoint is the only copy, and skipping must still cut
      // the same file set — degrade-to-keep-all here is a 100×-scale
      // full-scan regression
      DeltaTableWriter.writeCheckpoint(s, table): Unit
      val ckptSkipped = DeltaTableReader.snapshotSkipping(s, table, "o_orderkey", 0.0, hi)
      require(ckptSkipped.inputFiles.length == skipped.inputFiles.length,
        s"add.stats must survive the checkpoint: pre ${skipped.inputFiles.length} vs " +
          s"post ${ckptSkipped.inputFiles.length} of ${full.inputFiles.length}")
      ckptSkipped.where(col("o_orderkey") <= hi.toLong)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_orderkey <= 1000
        |GROUP BY o_orderpriority""".stripMargin))

  /** #102n Delta ROW TRACKING (PROTOCOL.md: fresh `baseRowId` ranges
    * + `defaultRowCommitVersion` on every add, high watermark in the
    * `delta.rowTracking` domain, row id = base + physical row index —
    * stable across DV deletes because vectors mask positions without
    * moving rows). The fixture makes ids DETERMINISTIC (one
    * key-sorted file per commit), so DuckDB recomputes every row's id
    * with window functions: evens land at create (ids 0..n-1, commit
    * 0), odds append (ids n.., commit 1), then a DV delete masks the
    * %5 rows — survivors must keep their ORIGINAL ids, per-row exact.
    */
  val qDeltaRowIds: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{DeltaTableReader, DeltaTableWriter}
      val table = scratch("delta-rowids") + "/t"
      val o = t(s, dir, "orders")
      def half(m: Int) = o.filter(pmod(col("o_orderkey"), lit(2)) === m)
        .repartition(1).sortWithinPartitions("o_orderkey")
      DeltaTableWriter.create(half(0), table, enableRowTracking = true): Unit
      DeltaTableWriter.append(half(1), table): Unit
      DeltaTableWriter.delete(s, table, pmod(col("o_orderkey"), lit(5)) === 0): Unit
      // OPTIMIZE re-files every row; the MATERIALIZED ids must keep
      // serving the original per-row identity — the oracle below is
      // unchanged by this rewrite, which is the whole contract
      DeltaTableWriter.compact(s, table, targetFiles = 4): Unit
      val r = DeltaTableReader.snapshotWithRowIds(s, table)
      r.select(col("o_orderkey"), col("_row_id").as("row_id"),
        col("_row_commit_version").as("commit_version"))
    },
    oracle = Some(
      """WITH evens AS (
        |  SELECT o_orderkey,
        |         row_number() OVER (ORDER BY o_orderkey) - 1 AS row_id,
        |         CAST(0 AS BIGINT) AS commit_version
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |odds AS (
        |  SELECT o_orderkey,
        |         (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0)
        |           + row_number() OVER (ORDER BY o_orderkey) - 1 AS row_id,
        |         CAST(1 AS BIGINT) AS commit_version
        |  FROM orders WHERE o_orderkey % 2 = 1),
        |au AS (SELECT * FROM evens UNION ALL SELECT * FROM odds)
        |SELECT o_orderkey, row_id, commit_version
        |FROM au WHERE o_orderkey % 5 <> 0""".stripMargin))

  /** #102m Delta MINOR LOG COMPACTION (delta-spark's
    * `<x>.<y>.compacted.json`): the reconciled actions of a commit
    * span in one file the reader substitutes during replay — replay
    * cost becomes O(compactions + residual commits). The fixture
    * builds a 5-commit table (upsert-grade: one commit DV-deletes),
    * compacts commits 1..3, then DELETES the covered JSONs so the
    * read below can ONLY be served through the span — the in-run
    * proof the substitution happens. The oracle recomputes the final
    * state from the fixture predicates.
    */
  val qDeltaLogCompact: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{DeltaTableReader, DeltaTableWriter}
      val table = scratch("delta-logcompact") + "/t"
      val o = t(s, dir, "orders")
      DeltaTableWriter.create(o.filter(pmod(col("o_orderkey"), lit(4)) === 0), table): Unit
      DeltaTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(4)) === 1), table): Unit
      DeltaTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(4)) === 2), table): Unit
      DeltaTableWriter.delete(s, table, pmod(col("o_orderkey"), lit(7)) === 0): Unit
      DeltaTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(4)) === 3), table): Unit
      DeltaTableWriter.compactLog(s, table, 1L, 3L)
      (1L to 3L).foreach { v =>
        val f = new java.io.File(s"$table/_delta_log", f"$v%020d.json")
        require(f.delete(), s"fixture: could not delete commit $v")
        new java.io.File(s"$table/_delta_log", f".$v%020d.json.crc").delete()
      }
      DeltaTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE NOT (o_orderkey % 7 = 0 AND o_orderkey % 4 <> 3)
        |GROUP BY o_orderpriority""".stripMargin))

  /** #102l Delta CLUSTERED TABLE (PROTOCOL.md Clustered Table +
    * Domain Metadata — the liquid-clustering surface): `create` with
    * `clusterBy` range-clusters the data files, declares the
    * writer-only `clustering`+`domainMetadata` features and records
    * the columns in the `delta.clustering` metadata domain; `append`
    * re-clusters each batch (the spec's recommended write), and the
    * domain rides `writeCheckpoint` verbatim. In-run requires: the
    * clustered layout provably CUTS the file set under stats
    * skipping, and after the checkpoint the clustering declaration is
    * served FROM the checkpoint (the domain's only post-cleanup
    * copy — the replay tail behind it is empty). The oracle
    * recomputes the range aggregate.
    */
  val qDeltaCluster: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{DeltaTableReader, DeltaTableWriter}
      val table = scratch("delta-cluster") + "/t"
      val o = t(s, dir, "orders")
      DeltaTableWriter.create(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), table,
        clusterBy = Seq("o_orderkey")): Unit
      DeltaTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), table): Unit
      require(DeltaTableReader.clusteringColumns(s, table) == Seq(Seq("o_orderkey")),
        "the delta.clustering domain must declare the clustering column")
      // under 1500: cuts at every testdata scale (see qDeltaSkipping)
      val hi = 1000.0
      val skipped = DeltaTableReader.snapshotSkipping(s, table, "o_orderkey", 0.0, hi)
      val full = DeltaTableReader.snapshot(s, table)
      require(skipped.inputFiles.length < full.inputFiles.length,
        s"clustered files must prune under stats skipping " +
          s"(${skipped.inputFiles.length} of ${full.inputFiles.length})")
      // checkpoint at head: the replay tail behind it is empty, so the
      // clustering answer below necessarily comes from the checkpoint
      DeltaTableWriter.writeCheckpoint(s, table): Unit
      require(DeltaTableReader.clusteringColumns(s, table) == Seq(Seq("o_orderkey")),
        "the clustering domain must ride the checkpoint")
      skipped.where(col("o_orderkey") <= hi.toLong)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_orderkey <= 1000
        |GROUP BY o_orderstatus""".stripMargin))

  /** #106b Delta DV-DELETE writer
    * ([[graft.sources.DeltaTableWriter.delete]]): rows are deleted
    * from an external Delta table WITHOUT rewriting data files — the
    * matched (file, position) pairs become RoaringBitmap sidecar
    * vectors, the commit re-adds the same files with descriptors, and
    * a second delete MERGES into fresh vectors (old ∪ new per file).
    * The legacy 1/2 protocol upgrades to 3/7+deletionVectors in the
    * first delete commit. In-run require proves no data file was
    * rewritten. graft's own reader serves the post-delete state; the
    * oracle recomputes it from the predicates.
    */
  val qDeltaDvWrite: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{DeltaTableReader, DeltaTableWriter}
      val table = scratch("delta-dv-write") + "/t"
      val o = t(s, dir, "orders")
      DeltaTableWriter.create(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), table): Unit
      DeltaTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), table): Unit
      def dataFiles(): Set[String] = new java.io.File(table).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet ++
        Option(new java.io.File(table).listFiles()).get
          .filter(_.isDirectory).filterNot(_.getName.startsWith("_"))
          .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty)
            .filter(_.getName.endsWith(".parquet")).map(f => s"${d.getName}/${f.getName}"))
      val before = dataFiles()
      DeltaTableWriter.delete(s, table, pmod(col("o_orderkey"), lit(7)) === 0): Unit
      DeltaTableWriter.delete(s, table, pmod(col("o_orderkey"), lit(11)) === 0): Unit
      require(dataFiles() == before,
        "a DV delete must not rewrite or remove any data file")
      DeltaTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0
        |GROUP BY o_orderpriority""".stripMargin))

  /** #102d External Delta table with columnMapping=name: the shape any
    * table that ever RENAMED or DROPPED a column carries — data files
    * hold PHYSICAL column names (`col-…`), the metaData schemaString
    * maps them back via `delta.columnMapping.physicalName` field
    * metadata, and the reader serves the LOGICAL schema. The fixture's
    * physical names share no substring with the logical ones, so any
    * leak of the physical schema fails the hash. `id` mode and nested
    * physical names keep refusing (spec-locked).
    */
  val qDeltaColmap: QueryDef = QueryDef(
    run = (s, dir) => {
      val root = scratch("delta-colmap")
      val table = root + "/t"
      new java.io.File(table).mkdirs()
      val o = t(s, dir, "orders")
      val phys = Seq(
        "o_orderkey" -> "col-k1", "o_custkey" -> "col-k2", "o_orderstatus" -> "col-k3",
        "o_totalprice" -> "col-k4", "o_orderdate" -> "col-k5", "o_orderpriority" -> "col-k6")
      def physical(df: DataFrame) =
        df.select(phys.map { case (l, p) => col(l).as(p) }: _*)
      writeDeltaDataFile(physical(o.filter(pmod(col("o_orderkey"), lit(2)) === 0)),
        table, "part-a.parquet")
      writeDeltaDataFile(physical(o.filter(pmod(col("o_orderkey"), lit(2)) === 1)),
        table, "part-b.parquet")
      val schema = {
        import org.apache.spark.sql.types._
        StructType(phys.zipWithIndex.map { case ((l, p), i) =>
          StructField(l, o.schema(l).dataType, nullable = true,
            new MetadataBuilder()
              .putLong("delta.columnMapping.id", i + 1L)
              .putString("delta.columnMapping.physicalName", p)
              .build())
        }).json
      }
      val q = new com.fasterxml.jackson.databind.ObjectMapper()
      writeDeltaCommit(table, 0L, Seq(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"fixture","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${q.writeValueAsString(schema)},"partitionColumns":[],""" +
          s""""configuration":{"delta.columnMapping.mode":"name",""" +
          s""""delta.columnMapping.maxColumnId":"6"},"createdTime":1700000000000}}""",
        deltaAdd("part-a.parquet"), deltaAdd("part-b.parquet")))
      graft.sources.DeltaTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY o_orderpriority""".stripMargin))

  /** #106g Delta columnMapping=name APPEND (the write the UniForm /
    * renamed-column world actually needs: every converted table is
    * column-mapped, and a blind appender must land PHYSICAL column
    * names — delta.io PROTOCOL.md Column Mapping). The fixture is the
    * q_delta_colmap external shape (physical `col-k*` names sharing
    * no substring with the logical schema); graft appends the odd
    * half under LOGICAL names, the writer renames to the declared
    * physical names, and the round-trip serves the logical rollup —
    * any physical-name leak or mis-mapping fails the hash. Evolution
    * and data-modifying ops on mapped tables keep refusing
    * (SchemaEvolutionSpec).
    */
  val qDeltaColmapWrite: QueryDef = QueryDef(
    run = (s, dir) => {
      val root = scratch("delta-colmap-write")
      val table = root + "/t"
      new java.io.File(table).mkdirs()
      val o = t(s, dir, "orders")
      val phys = Seq(
        "o_orderkey" -> "col-k1", "o_custkey" -> "col-k2", "o_orderstatus" -> "col-k3",
        "o_totalprice" -> "col-k4", "o_orderdate" -> "col-k5", "o_orderpriority" -> "col-k6")
      def physical(df: DataFrame) =
        df.select(phys.map { case (l, p) => col(l).as(p) }: _*)
      writeDeltaDataFile(physical(o.filter(pmod(col("o_orderkey"), lit(2)) === 0)),
        table, "part-a.parquet")
      val schema = {
        import org.apache.spark.sql.types._
        StructType(phys.zipWithIndex.map { case ((l, p), i) =>
          StructField(l, o.schema(l).dataType, nullable = true,
            new MetadataBuilder()
              .putLong("delta.columnMapping.id", i + 1L)
              .putString("delta.columnMapping.physicalName", p)
              .build())
        }).json
      }
      val q = new com.fasterxml.jackson.databind.ObjectMapper()
      writeDeltaCommit(table, 0L, Seq(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"fixture","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${q.writeValueAsString(schema)},"partitionColumns":[],""" +
          s""""configuration":{"delta.columnMapping.mode":"name",""" +
          s""""delta.columnMapping.maxColumnId":"6"},"createdTime":1700000000000}}""",
        deltaAdd("part-a.parquet")))
      // the graft append arrives under LOGICAL names — and EVOLVES the
      // mapped table: o_flag is new, so the writer must mint it a
      // fresh physical name + field id and bump maxColumnId in the
      // same commit (the protocol's rule for mapped tables)
      graft.sources.DeltaTableWriter.append(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 1)
          .withColumn("o_flag", lit(1L)), table): Unit
      // the appended files must carry PHYSICAL names on disk
      val appended = new java.io.File(table).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && f.getName != "part-a.parquet")
      require(appended.nonEmpty, "the append landed no data files")
      appended.foreach { f =>
        val cols = s.read.parquet(f.toString).columns.toSet
        require(phys.map(_._2).toSet.subsetOf(cols) && !cols.contains("o_flag") &&
            cols.size == phys.size + 1,
          s"appended file must carry PHYSICAL names (minted one for o_flag too), " +
            s"got ${cols.mkString(",")}")
      }
      val evolvedState = graft.sources.DeltaTableReader.snapshotState(s, table)
      require(evolvedState.configuration.get("delta.columnMapping.maxColumnId")
          .contains("7"),
        "mapped evolution must bump delta.columnMapping.maxColumnId")
      val snap = graft.sources.DeltaTableReader.snapshot(s, table)
      require(snap.columns.contains("o_flag"), "the evolved logical column must serve")
      snap.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"),
          count(col("o_flag")).as("flagged"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        |  count(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS flagged
        |FROM orders
        |GROUP BY o_orderpriority""".stripMargin))

  /** #106h Delta column RENAME
    * ([[graft.sources.DeltaTableWriter.renameColumn]]): ONE metaData
    * commit on a COLUMN-MAPPED table — the schemaString's logical
    * name changes, the physical name (what the data files carry)
    * stays, so every existing file keeps serving under the new name;
    * unmapped tables refuse (their files bind to logical names — a
    * rename there is a rewrite). The fixture is the q_delta_colmap
    * external shape: physical parquet names, mapping in the
    * schemaString metadata. In-run require: the renamed schema
    * serves, the original name is gone.
    */
  val qDeltaRename: QueryDef = QueryDef(
    run = (s, dir) => {
      val root = scratch("delta-rename")
      val table = root + "/t"
      new java.io.File(table).mkdirs()
      val o = t(s, dir, "orders")
      val phys = Seq(
        "o_orderkey" -> "col-r1", "o_custkey" -> "col-r2", "o_orderstatus" -> "col-r3",
        "o_totalprice" -> "col-r4", "o_orderdate" -> "col-r5", "o_orderpriority" -> "col-r6")
      writeDeltaDataFile(o.select(phys.map { case (l, p) => col(l).as(p) }: _*),
        table, "part-a.parquet")
      val schema = {
        import org.apache.spark.sql.types._
        StructType(phys.zipWithIndex.map { case ((l, p), i) =>
          StructField(l, o.schema(l).dataType, nullable = true,
            new MetadataBuilder()
              .putLong("delta.columnMapping.id", i + 1L)
              .putString("delta.columnMapping.physicalName", p)
              .build())
        }).json
      }
      val q = new com.fasterxml.jackson.databind.ObjectMapper()
      writeDeltaCommit(table, 0L, Seq(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"fixture","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${q.writeValueAsString(schema)},"partitionColumns":[],""" +
          s""""configuration":{"delta.columnMapping.mode":"name",""" +
          s""""delta.columnMapping.maxColumnId":"6"},"createdTime":1700000000000}}""",
        deltaAdd("part-a.parquet")))
      graft.sources.DeltaTableWriter.renameColumn(s, table, "o_totalprice", "price"): Unit
      val snap = graft.sources.DeltaTableReader.snapshot(s, table)
      require(snap.columns.contains("price") && !snap.columns.contains("o_totalprice"),
        "the renamed logical schema must serve")
      snap.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("price")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY o_orderpriority""".stripMargin))

  /** #102g External Delta table with columnMapping=id (UniForm /
    * converted-table shape): resolution is by parquet FIELD ID, the
    * mode's actual rule — the fixture's data files carry column
    * names matching NEITHER the logical schema NOR the physicalName
    * metadata, in shuffled order, so any name-keyed read fails while
    * the field-ID scan ([[graft.sources.DeltaTableReader]] requesting
    * a `parquet.field.id` schema) serves the logical columns exactly.
    */
  val qDeltaColmapId: QueryDef = QueryDef(
    run = (s, dir) => {
      val root = scratch("delta-colmap-id")
      val table = root + "/t"
      new java.io.File(table).mkdirs()
      val o = t(s, dir, "orders")
      val logical = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      def fid(i: Long) = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", i).build()
      // decoy names qN, REVERSED column order — only field ids resolve
      def decoyed(df: DataFrame) = df.select(
        logical.zipWithIndex.reverse.map { case (c, i) =>
          col(c).as(s"q$i", fid(i + 1L)) }: _*)
      writeDeltaDataFile(decoyed(o.filter(pmod(col("o_orderkey"), lit(2)) === 0)),
        table, "part-a.parquet")
      val schema = {
        import org.apache.spark.sql.types._
        StructType(logical.zipWithIndex.map { case (c, i) =>
          StructField(c, o.schema(c).dataType, nullable = true,
            new MetadataBuilder()
              .putLong("delta.columnMapping.id", i + 1L)
              .putString("delta.columnMapping.physicalName", s"col-decoy-$i")
              .build())
        }).json
      }
      val q = new com.fasterxml.jackson.databind.ObjectMapper()
      writeDeltaCommit(table, 0L, Seq(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"fixture","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${q.writeValueAsString(schema)},"partitionColumns":[],""" +
          s""""configuration":{"delta.columnMapping.mode":"id",""" +
          s""""delta.columnMapping.maxColumnId":"6"},"createdTime":1700000000000}}""",
        deltaAdd("part-a.parquet")))
      // the odd half arrives through graft's APPEND under logical
      // names: the writer renames to the declared physical names AND
      // stamps parquet field ids — the id-mode reader then resolves
      // fixture and appended files alike by FIELD ID
      graft.sources.DeltaTableWriter.append(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 1).select(logical.map(col): _*),
        table): Unit
      val appended = new java.io.File(table).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && f.getName != "part-a.parquet")
      require(appended.nonEmpty, "the id-mode append landed no data files")
      appended.foreach { f =>
        val cols = s.read.parquet(f.toString).columns.toSet
        require(cols == logical.indices.map(i => s"col-decoy-$i").toSet,
          s"appended file must carry PHYSICAL names, got ${cols.mkString(",")}")
      }
      graft.sources.DeltaTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY o_orderpriority""".stripMargin))

  /** #102h Delta V2 CHECKPOINT read (the modern checkpoint layout:
    * `_last_checkpoint` names a version whose checkpoint is a
    * uuid-named MANIFEST — protocol/metaData/checkpointMetadata plus
    * `sidecar` actions naming the parquet files under
    * `_delta_log/_sidecars/` that carry the add actions; the reader
    * scans the sidecars as the add-set, one distributed read, and
    * later JSON commits replay on top). The fixture's sidecar-held
    * adds cover half of orders; a post-checkpoint JSON commit adds
    * the other half — leaking either layer fails the hash.
    */
  val qDeltaV2Checkpoint: QueryDef = QueryDef(
    run = (s, dir) => {
      import s.implicits._
      val root = scratch("delta-v2ck")
      val table = root + "/t"
      new java.io.File(table).mkdirs()
      val o = t(s, dir, "orders")
      writeDeltaDataFile(o.filter(pmod(col("o_orderkey"), lit(2)) === 0),
        table, "part-even.parquet")
      writeDeltaDataFile(o.filter(pmod(col("o_orderkey"), lit(2)) === 1),
        table, "part-odd.parquet")
      def landFile(df: DataFrame, dst: String): Unit = {
        val tmp = root + "/.stage-" + java.util.UUID.randomUUID()
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val src = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
        new java.io.File(dst).getParentFile.mkdirs()
        java.nio.file.Files.copy(src.toPath, new java.io.File(dst).toPath): Unit
        deleteRecursively(new java.io.File(tmp))
      }
      // sidecar holds the even half's add action
      landFile(Seq("part-even.parquet").toDF("p").select(
        struct(col("p").as("path"),
          map().cast("map<string,string>").as("partitionValues")).as("add")),
        s"$table/_delta_log/_sidecars/sc-1.parquet")
      val schemaStr = o.schema.json
      val manifest = Seq(1).toDF("x").select(
        struct(lit(3).as("minReaderVersion"), lit(7).as("minWriterVersion"),
          array(lit("v2Checkpoint")).as("readerFeatures"),
          array(lit("v2Checkpoint")).as("writerFeatures")).as("protocol"),
        struct(lit("fixture").as("id"), lit(schemaStr).as("schemaString"),
          array().cast("array<string>").as("partitionColumns")).as("metaData"),
        struct(lit(0L).as("version")).as("checkpointMetadata"))
        .unionByName(Seq("sc-1.parquet").toDF("p").select(
          struct(col("p").as("path"), lit(1024L).as("sizeInBytes")).as("sidecar")),
          allowMissingColumns = true)
      landFile(manifest, s"$table/_delta_log/${"%020d".format(0L)}.checkpoint.g5f1.parquet")
      val w = new java.io.PrintWriter(
        new java.io.File(s"$table/_delta_log", "_last_checkpoint"), "UTF-8")
      try w.println("""{"version":0,"size":4}""") finally w.close()
      // a post-checkpoint JSON commit adds the odd half
      writeDeltaCommit(table, 1L, Seq(deltaAdd("part-odd.parquet")))
      graft.sources.DeltaTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY o_orderpriority""".stripMargin))

  /** #108 External-format TIME TRAVEL, all three adapters: Delta
    * VERSION AS OF (replay stops at the commit; an overshooting
    * checkpoint refuses via contiguity, never serves a later state),
    * Iceberg SNAPSHOT AS OF (the requested snapshot's manifest list
    * IS its file inventory), Hudi point-in-time (`as.of.instant`
    * replay cut). Each fixture's later commits REWRITE data, so a
    * read that leaked any post-as-of state fails its slice of the
    * oracle — all three must independently reproduce the same
    * original %3∈{0,1} cut of orders.
    */
  val qExternalTimeTravel: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{DeltaTableReader, HudiTableReader, IcebergTableReader}
      val dt = buildDeltaFixture(s, dir, scratch("tt-delta"))
      val ht = buildHudiFixture(s, dir, scratch("tt-hudi"))
      val it = buildIcebergFixture(s, dir, scratch("tt-ice"))
      def roll(df: DataFrame, fmt: String) = df
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .withColumn("fmt", lit(fmt))
      roll(DeltaTableReader.snapshotAsOf(s, dt, version = 0L), "delta")
        .unionByName(roll(HudiTableReader.snapshotAsOf(s, ht, "20240101090000"), "hudi"))
        .unionByName(roll(IcebergTableReader.snapshotAsOf(s, it, snapshotId = 1L), "iceberg"))
    },
    oracle = Some(
      """WITH cut AS (
        |  SELECT o_orderpriority, count(*) AS n,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |  FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |  GROUP BY o_orderpriority
        |)
        |SELECT o_orderpriority, n, revenue, 'delta' AS fmt FROM cut
        |UNION ALL SELECT o_orderpriority, n, revenue, 'hudi' FROM cut
        |UNION ALL SELECT o_orderpriority, n, revenue, 'iceberg' FROM cut""".stripMargin))

  /** #102 External Delta table SNAPSHOT read: log replay (adds minus
    * removes across three commits — one of them a rewrite) resolves
    * the active file set, and the aggregate runs over exactly those
    * files. The oracle recomputes from the slice predicates the
    * commits encode.
    */
  val qDeltaSnapshot: QueryDef = QueryDef(
    run = (s, dir) => {
      val table = buildDeltaFixture(s, dir, scratch("delta-snap"))
      graft.sources.DeltaTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY o_orderpriority""".stripMargin))

  /** #102b External Delta table INCREMENTAL read: commits after the
    * caller's checkpoint version surface exactly their added rows
    * (commit 2's %3=0 append), tagged with the commit version — the
    * Hudi incremental-pull contract (template.py:226-281) against a
    * foreign table layout. Rewrite commits inside the range refuse
    * loudly (spec-locked); this query reads only past the rewrite.
    */
  /** #102e External Delta table CDC-GRADE incremental
    * ([[graft.sources.DeltaTableReader.changeFeedSince]] — Delta's
    * own CDF fallback semantics for commits without cdc files): the
    * fixture's post-checkpoint commits are a DV attach (v1 masks
    * %7=0 of the %3=0 file), an append (v2 adds the %3=2 slice), a
    * whole-file delete (v3 removes the %3=1 file), and a DV GROWTH
    * (v4 extends the mask to %11=0) — the feed reconstructs insert
    * images from adds and delete PRE-IMAGES from DV position diffs /
    * removed files' live rows, each tagged with its commit. The
    * oracle recomputes all four legs from the predicates the commits
    * encode.
    */
  val qDeltaCdc: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.DeltaDv
      val root = scratch("delta-cdc")
      val table = root + "/t"
      new java.io.File(table).mkdirs()
      val o = t(s, dir, "orders")
      writeDeltaDataFile(o.filter(pmod(col("o_orderkey"), lit(3)) === 0), table, "part-a.parquet")
      writeDeltaDataFile(o.filter(pmod(col("o_orderkey"), lit(3)) === 1), table, "part-b.parquet")
      writeDeltaCommit(table, 0L, Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
        deltaMeta, deltaAdd("part-a.parquet"), deltaAdd("part-b.parquet")))
      def positionsWhere(file: String, pred: Column): Seq[Long] =
        s.read.parquet(s"$table/$file").where(pred)
          .select(col("_metadata.row_index")).collect().map(_.getLong(0)).toIndexedSeq
      def addWithDv(path: String, d: DeltaDv.Descriptor): String =
        s"""{"add":{"path":"$path","partitionValues":{},"size":1024,""" +
          s""""modificationTime":1700000000000,"dataChange":true,""" +
          s""""deletionVector":${DeltaDv.descriptorJson(d)}}}"""
      // v1: DV attach on part-a — %7=0 masked
      val dv1 = DeltaDv.inlineDescriptor(
        positionsWhere("part-a.parquet", pmod(col("o_orderkey"), lit(7)) === 0))
      writeDeltaCommit(table, 1L, Seq(
        deltaRemove("part-a.parquet"), addWithDv("part-a.parquet", dv1)))
      // v2: plain append of the %3=2 slice
      writeDeltaDataFile(o.filter(pmod(col("o_orderkey"), lit(3)) === 2), table, "part-c.parquet")
      writeDeltaCommit(table, 2L, Seq(deltaAdd("part-c.parquet")))
      // v3: whole-file delete of part-b
      writeDeltaCommit(table, 3L, Seq(deltaRemove("part-b.parquet")))
      // v4: DV growth on part-a — mask extended to %7=0 ∪ %11=0
      val dv2 = DeltaDv.inlineDescriptor(
        positionsWhere("part-a.parquet",
          pmod(col("o_orderkey"), lit(7)) === 0 || pmod(col("o_orderkey"), lit(11)) === 0))
      writeDeltaCommit(table, 4L, Seq(
        deltaRemove("part-a.parquet"), addWithDv("part-a.parquet", dv2)))
      graft.sources.DeltaTableReader.changeFeedSince(s, table, sinceVersion = 0L)
        .groupBy(col("_change_type"), col("_commit_version"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT 'delete' AS _change_type, CAST(1 AS BIGINT) AS _commit_version,
        |  o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 7 = 0
        |GROUP BY o_orderpriority
        |UNION ALL
        |SELECT 'insert', CAST(2 AS BIGINT), o_orderpriority, count(*),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
        |FROM orders WHERE o_orderkey % 3 = 2 GROUP BY o_orderpriority
        |UNION ALL
        |SELECT 'delete', CAST(3 AS BIGINT), o_orderpriority, count(*),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
        |FROM orders WHERE o_orderkey % 3 = 1 GROUP BY o_orderpriority
        |UNION ALL
        |SELECT 'delete', CAST(4 AS BIGINT), o_orderpriority, count(*),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
        |FROM orders
        |WHERE o_orderkey % 3 = 0 AND o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0
        |GROUP BY o_orderpriority""".stripMargin))

  val qDeltaIncremental: QueryDef = QueryDef(
    run = (s, dir) => {
      val table = buildDeltaFixture(s, dir, scratch("delta-inc"))
      // a mid-range COMPACTION (dataChange=false remove+re-add — the
      // OPTIMIZE shape every production table runs) must be invisible
      // to the checkpointed consumer: the pull is hash-identical
      graft.sources.DeltaTableWriter.compact(s, table, targetFiles = 1): Unit
      graft.sources.DeltaTableReader.incrementalSince(s, table, sinceVersion = 1L)
        .groupBy(col("_commit_version"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT CAST(2 AS BIGINT) AS _commit_version, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_orderkey % 3 = 0
        |GROUP BY o_orderpriority""".stripMargin))

  // ------------------------------------------------------------------
  // UPSERT into foreign tables — the operation the reference's own
  // generator runs (generate_hudi_table.py:97-115, operation=upsert),
  // completed across the interop surface. One shared fixture shape:
  // base = orders missing every 7th key; batch = every 5th key with a
  // repriced total (so the batch is a genuine mix of UPDATES — keys in
  // base — and INSERTS — the %35 keys the base never had). The oracle
  // recomputes the merge in SQL; the engine's own reader serves it.
  // ------------------------------------------------------------------

  private val upsertMergeOracle =
    """WITH merged AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    o_totalprice + 100000.0 AS o_totalprice, o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 5 = 0
      |  UNION ALL
      |  SELECT * FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 5 <> 0)
      |SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
      |FROM merged GROUP BY o_orderpriority""".stripMargin

  private def upsertFixture(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val o = t(s, dir, "orders")
    (o.filter(col("o_orderkey") % 7 =!= 0),
      o.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 100000.0))
  }

  /** #106c Delta UPSERT writer
    * ([[graft.sources.DeltaTableWriter.upsert]]): matched rows are
    * masked by deletion vectors and the batch lands as new files in
    * ONE atomic commit — no pre-existing data file rewritten. The
    * engine's own reader serves the merged snapshot.
    */
  val qDeltaUpsert: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{DeltaTableReader, DeltaTableWriter}
      val table = scratch("delta-upsert") + "/t"
      val (base, batch) = upsertFixture(s, dir)
      DeltaTableWriter.create(base, table): Unit
      val v0 = DeltaTableReader.snapshotState(s, table).version
      val v1 = DeltaTableWriter.upsert(batch, table, Seq("o_orderkey"))
      require(v1 == v0 + 1, "the merge must be one atomic commit")
      DeltaTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(upsertMergeOracle))

  /** #107d Hudi COW UPSERT writer
    * ([[graft.sources.HudiTableWriter.upsert]] — the reference's own
    * write operation): matched file groups rewrite as new slices
    * under the SAME fileId (carried rows keep their original
    * `_hoodie_commit_time`), inserts land as new groups, one
    * `.commit` with per-group `numUpdateWrites`/`prevCommit` stats.
    * In-run proof: the incremental pull since the create returns
    * exactly |batch| rows (carried rows drop out by stamp — the
    * contract that keeps checkpointed consumers exact across
    * upserts).
    */
  val qHudiUpsert: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{HudiTableReader, HudiTableWriter}
      val table = scratch("hudi-upsert") + "/t"
      val (base, batch) = upsertFixture(s, dir)
      val c1 = HudiTableWriter.create(base, table, tableName = "orders_up",
        recordKeys = Seq("o_orderkey"))
      // the metadata-table bloom_filters partition: the upsert's
      // key-matching scan consults it to skip provably-absent groups
      HudiTableWriter.writeBloomIndex(s, table): Unit
      HudiTableWriter.upsert(batch, table): Unit
      val pulled = HudiTableReader.incrementalSince(s, table, c1).count()
      val nBatch = batch.count()
      require(pulled == nBatch,
        s"incremental pull after upsert must be exactly the batch ($pulled != $nBatch)")
      HudiTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(upsertMergeOracle))

  /** #106e Delta CDF WRITER (the enableChangeDataFeed obligation:
    * updates/deletes on a CDF table MUST land explicit `_change_data`
    * files — this upsert writes update pre/post images + inserts as
    * cdc actions in the SAME commit, and the reader serves them
    * VERBATIM, skipping reconstruction). The oracle recomputes every
    * image class from the fixture predicates.
    */
  val qDeltaCdfWrite: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{DeltaTableReader, DeltaTableWriter}
      val table = scratch("delta-cdf-write") + "/t"
      val (base, batch) = upsertFixture(s, dir)
      DeltaTableWriter.create(base, table): Unit
      // an external engine enables CDF on the existing table (v1)
      val q = new com.fasterxml.jackson.databind.ObjectMapper()
      writeDeltaCommit(table, 1L, Seq(
        s"""{"metaData":{"id":"fixture","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${q.writeValueAsString(base.schema.json)},""" +
          s""""partitionColumns":[],""" +
          s""""configuration":{"delta.enableChangeDataFeed":"true"},""" +
          s""""createdTime":1700000000000}}"""))
      DeltaTableWriter.upsert(batch, table, Seq("o_orderkey")): Unit
      require(new java.io.File(s"$table/_change_data").listFiles()
        .exists(_.getName.endsWith(".parquet")), "cdc files must land")
      val plainFeed = DeltaTableReader.changeFeedSince(s, table, sinceVersion = 1L)
        .groupBy(col("_change_type"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .withColumn("mode", lit("plain"))
      // the ID-MODE leg: same feed on a columnMapping=id table — data
      // columns in the cdc files resolve by stamped field id,
      // `_change_type` by name (a metadata column outside the table
      // schema per PROTOCOL.md). The table is built id-pure: metaData
      // commit first, data through graft's id-stamping append.
      val idTable = scratch("delta-cdf-write-id") + "/t"
      new java.io.File(s"$idTable/_delta_log").mkdirs()
      val mappedSchema = org.apache.spark.sql.types.StructType(
        base.schema.fields.zipWithIndex.map { case (f, i) =>
          f.copy(nullable = true,
            metadata = new org.apache.spark.sql.types.MetadataBuilder()
              .putLong("delta.columnMapping.id", i + 1L)
              .putString("delta.columnMapping.physicalName", s"p_${i + 1}").build())
        })
      writeDeltaCommit(idTable, 0L, Seq(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"fixture-id","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${q.writeValueAsString(mappedSchema.json)},""" +
          s""""partitionColumns":[],""" +
          s""""configuration":{"delta.columnMapping.mode":"id",""" +
          s""""delta.columnMapping.maxColumnId":"${base.schema.size}",""" +
          s""""delta.enableChangeDataFeed":"true"},""" +
          s""""createdTime":1700000000000}}"""))
      graft.sources.DeltaTableWriter.append(base, idTable): Unit
      DeltaTableWriter.upsert(batch, idTable, Seq("o_orderkey")): Unit
      val idFeed = DeltaTableReader.changeFeedSince(s, idTable, sinceVersion = 1L)
        .groupBy(col("_change_type"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .withColumn("mode", lit("id"))
      plainFeed.unionByName(idFeed)
    },
    oracle = Some(
      """WITH feed AS (
        |  SELECT 'update_preimage' AS _change_type, o_orderpriority, count(*) AS n,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |  FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
        |  GROUP BY o_orderpriority
        |  UNION ALL
        |  SELECT 'update_postimage', o_orderpriority, count(*),
        |    CAST(sum(CAST(o_totalprice + 100000.0 AS DECIMAL(28,6))) AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
        |  GROUP BY o_orderpriority
        |  UNION ALL
        |  SELECT 'insert', o_orderpriority, count(*),
        |    CAST(sum(CAST(o_totalprice + 100000.0 AS DECIMAL(28,6))) AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 7 = 0
        |  GROUP BY o_orderpriority)
        |SELECT *, 'plain' AS mode FROM feed
        |UNION ALL
        |SELECT *, 'id' AS mode FROM feed""".stripMargin))

  /** #107e Hudi MOR UPSERT ([[graft.sources.HudiTableWriter.upsert]]
    * on a MERGE_ON_READ table — the format's own upsert shape): the
    * batch splits by key existence into Avro LOG BLOCKS appended to
    * matched file groups and NEW base groups for unseen keys, both
    * under ONE deltacommit, nothing rewritten; the real-time view
    * serves the merge immediately (in-run require: no pre-existing
    * base file changed).
    */
  val qHudiMorUpsert: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{HudiTableReader, HudiTableWriter}
      val table = scratch("hudi-mor-upsert") + "/t"
      val (base, batch) = upsertFixture(s, dir)
      HudiTableWriter.createMor(base, table, tableName = "orders_mor",
        recordKeys = Seq("o_orderkey")): Unit
      def bases() = new java.io.File(table).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
      val before = bases()
      HudiTableWriter.upsert(batch, table): Unit
      require(before.subsetOf(bases()),
        "a MOR upsert must not rewrite or remove any base file")
      HudiTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(upsertMergeOracle))

  /** #103i Hudi MOR CDC-grade incremental
    * ([[graft.sources.HudiTableReader.changeFeedSince]]): log DATA
    * blocks and freshly-stamped base writes serve `upsert`
    * post-images, log DELETE blocks serve `delete` KEY-IMAGES —
    * the delete fidelity a MOR timeline actually has (COW refuses
    * toward the post-image pull). Compaction is silent. The oracle
    * recomputes both legs from the fixture predicates.
    */
  val qHudiCdc: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{HudiTableReader, HudiTableWriter}
      val table = scratch("hudi-cdc") + "/t"
      val o = t(s, dir, "orders")
      val base = o.filter(col("o_orderkey") % 7 =!= 0)
      val c1 = HudiTableWriter.createMor(base, table, tableName = "orders_cdc",
        recordKeys = Seq("o_orderkey"))
      HudiTableWriter.updateLog(
        base.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 100000.0), table): Unit
      HudiTableWriter.deleteLog(
        base.filter(col("o_orderkey") % 11 === 0).select("o_orderkey"), table): Unit
      HudiTableWriter.compact(s, table): Unit // must contribute NOTHING
      HudiTableReader.changeFeedSince(s, table, c1)
        .groupBy(col("_change_type"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT 'upsert' AS _change_type, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice + 100000.0 AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
        |GROUP BY o_orderpriority
        |UNION ALL
        |SELECT 'delete', CAST(NULL AS VARCHAR), count(*), CAST(NULL AS DOUBLE)
        |FROM orders WHERE o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0""".stripMargin))

  /** #109d Iceberg UPSERT writer
    * ([[graft.sources.IcebergTableWriter.upsert]], the Flink-CDC
    * shape): the batch's keys land as ONE content=2 equality-delete
    * file and its rows as new data files, both in ONE snapshot at the
    * same sequence number — strictly-older files lose matching rows,
    * the batch survives its own delete, and the write path never
    * scans the existing table (O(batch) at any table size).
    */
  val qIcebergUpsert: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{IcebergTableReader, IcebergTableWriter}
      val table = scratch("iceberg-upsert") + "/t"
      val (base, batch) = upsertFixture(s, dir)
      IcebergTableWriter.create(base, table): Unit
      IcebergTableWriter.upsert(batch, table, Seq("o_orderkey")): Unit
      val plan = IcebergTableReader.planFiles(s, table)
      require(plan.equalityDeletes.nonEmpty, "the merge must land an equality-delete file")
      IcebergTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(upsertMergeOracle))

  /** #104d Iceberg CDC-GRADE incremental
    * ([[graft.sources.IcebergTableReader.changeFeedSince]]) — the
    * consumption half of the Flink-CDC shape the upsert writer lands:
    * append snapshots serve inserts, position-delete snapshots serve
    * FULL pre-images (read from the targeted files at exactly the
    * deleted positions), equality-delete upsert snapshots serve
    * inserts plus delete KEY-images (non-key columns null — an
    * equality delete names keys, not rows). The oracle recomputes
    * every leg from the fixture predicates.
    */
  val qIcebergCdc: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{IcebergTableReader, IcebergTableWriter}
      val table = scratch("iceberg-cdc") + "/t"
      val (base, batch) = upsertFixture(s, dir)
      val s1 = IcebergTableWriter.create(base, table)
      IcebergTableWriter.delete(s, table, col("o_orderkey") % 11 === 0): Unit
      IcebergTableWriter.upsert(batch, table, Seq("o_orderkey")): Unit
      IcebergTableReader.changeFeedSince(s, table, s1)
        .groupBy(col("_change_type"), col("_snapshot_id"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"),
          sum(col("o_orderkey")).as("key_sum"))
    },
    oracle = Some(
      """WITH base AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 0)
        |SELECT 'delete' AS _change_type, CAST(2 AS BIGINT) AS _snapshot_id,
        |  o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM base WHERE o_orderkey % 11 = 0 GROUP BY o_orderpriority
        |UNION ALL
        |SELECT 'insert', CAST(3 AS BIGINT), o_orderpriority, count(*),
        |  CAST(sum(CAST(o_totalprice + 100000.0 AS DECIMAL(28,6))) AS DOUBLE),
        |  CAST(sum(o_orderkey) AS BIGINT)
        |FROM orders WHERE o_orderkey % 5 = 0 GROUP BY o_orderpriority
        |UNION ALL
        |SELECT 'delete', CAST(3 AS BIGINT), CAST(NULL AS VARCHAR), count(*),
        |  CAST(NULL AS DOUBLE), CAST(sum(o_orderkey) AS BIGINT)
        |FROM orders WHERE o_orderkey % 5 = 0""".stripMargin))

  /** #104e Iceberg STATS-BASED FILE SKIPPING (both halves: the writer
    * records per-field-id `lower_bounds`/`upper_bounds` in each
    * manifest entry — Iceberg single-value serialization, min/max
    * read from the parquet FOOTERS, the planning metadata engines
    * skip on — and the reader's `snapshotSkipping` prunes files whose
    * recorded range provably misses `[lo, hi]` BEFORE any data I/O;
    * bound-less files keep conservatively). Range-clustered fixture;
    * the in-run require proves the file set was cut; the oracle
    * recomputes the filtered aggregate.
    */
  val qIcebergSkipping: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{IcebergTableReader, IcebergTableWriter}
      val table = scratch("iceberg-skip") + "/t"
      val o = t(s, dir, "orders")
      IcebergTableWriter.create(o.repartitionByRange(8, col("o_orderkey")), table): Unit
      // under 1500: cuts at every testdata scale (see qDeltaSkipping)
      val hi = 1000.0
      val full = IcebergTableReader.planFiles(s, table)
      val pruned = IcebergTableReader.planFilesSkipping(s, table, "o_orderkey", 0.0, hi)
      require(pruned.data.size < full.data.size,
        s"stats skipping must cut the file set (${pruned.data.size} of ${full.data.size})")
      IcebergTableReader.snapshotSkipping(s, table, "o_orderkey", 0.0, hi)
        .where(col("o_orderkey") <= hi.toLong)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_orderkey <= 1000
        |GROUP BY o_orderpriority""".stripMargin))

  /** #104q Iceberg REMOVE ORPHAN FILES (Iceberg's maintenance
    * procedure: delete files in the table directory that no retained
    * snapshot or metadata references — crashed staging, failed-CAS
    * leftovers — older than a grace period that protects concurrent
    * in-flight writes). The fixture plants three orphan shapes (a
    * stray copy of a data file, an abandoned stage dir, a stray avro
    * under metadata/), runs the removal with the horizon past them,
    * and requires in-run that every plant is gone, every referenced
    * file survives (including DV puffins — the table reads
    * identically), and the aggregate matches the oracle.
    */
  val qIcebergOrphans: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{IcebergTableReader, IcebergTableWriter}
      val table = scratch("iceberg-orphans") + "/t"
      val o = t(s, dir, "orders")
      IcebergTableWriter.create(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), table): Unit
      IcebergTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), table): Unit
      IcebergTableWriter.deleteDv(s, table, pmod(col("o_orderkey"), lit(9)) === 0): Unit
      // plant the orphan shapes
      def findParquet(d: java.io.File): Option[java.io.File] =
        Option(d.listFiles()).getOrElse(Array.empty).sortBy(_.getName).collectFirst {
          case f if f.isFile && f.getName.endsWith(".parquet") &&
            !f.getPath.contains("/metadata/") => f
        }.orElse(Option(d.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName != "metadata")
          .sortBy(_.getName).iterator.flatMap(findParquet).nextOption())
      val dataFile = findParquet(new java.io.File(table))
        .getOrElse(throw new IllegalStateException("fixture: no data file found"))
      java.nio.file.Files.copy(dataFile.toPath,
        new java.io.File(table, "orphan-copy.parquet").toPath): Unit
      val stage = new java.io.File(table, ".graft-stage-dead")
      stage.mkdirs()
      java.nio.file.Files.copy(dataFile.toPath,
        new java.io.File(stage, "part-dead.parquet").toPath): Unit
      val strayAvro = new java.io.File(s"$table/metadata", "m-stray.avro")
      java.nio.file.Files.write(strayAvro.toPath, Array[Byte](79, 98, 106, 1)): Unit
      val before = IcebergTableReader.snapshot(s, table).count()
      val deleted = IcebergTableWriter.removeOrphanFiles(s, table, graceMs = 0L,
        nowMs = System.currentTimeMillis() + 60000L)
      require(deleted.exists(_.endsWith("orphan-copy.parquet")) &&
        deleted.exists(_.contains(".graft-stage-dead/")) &&
        deleted.exists(_.endsWith("m-stray.avro")),
        s"every planted orphan must delete: $deleted")
      require(!new java.io.File(table, "orphan-copy.parquet").exists() &&
        !new java.io.File(stage, "part-dead.parquet").exists() &&
        !strayAvro.exists(), "orphans must be physically gone")
      require(IcebergTableReader.snapshot(s, table).count() == before,
        "referenced files (DV puffins included) must survive the sweep")
      IcebergTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_orderkey % 9 <> 0
        |GROUP BY o_orderpriority""".stripMargin))

  /** #104p Iceberg PARTITION STATISTICS (spec "Partition Statistics":
    * a parquet census per stats snapshot — per-partition data/delete
    * record and file counts, byte totals, last-updated provenance —
    * registered in metadata's `partition-statistics` and served as a
    * METADATA-ONLY read instead of a manifest walk). The fixture
    * builds a partitioned table in two halves plus an equality-delete
    * upsert (physical data rows GROW — eq-deletes mask, never
    * remove), writes the census, and requires in-run that it serves
    * from the registered file and that the delete census is visible;
    * the oracle recomputes each partition's PHYSICAL row count.
    */
  val qIcebergPstats: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{IcebergTableReader, IcebergTableWriter}
      val table = scratch("iceberg-pstats") + "/t"
      val o = t(s, dir, "orders")
      IcebergTableWriter.create(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), table,
        partitionBy = Seq("o_orderpriority")): Unit
      IcebergTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), table): Unit
      IcebergTableWriter.upsert(
        o.filter(pmod(col("o_orderkey"), lit(97)) === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(1.0)),
        table, Seq("o_orderkey")): Unit
      val rel = IcebergTableWriter.writePartitionStats(s, table)
      val stats = IcebergTableReader.partitionStats(s, table)
      require(stats.inputFiles.length == 1 &&
        stats.inputFiles.head.endsWith(rel.split('/').last),
        "the census must serve from the one registered statistics file")
      val census = stats.agg(
        sum("equality_delete_record_count"), sum("data_file_count"),
        sum("total_data_file_size_in_bytes")).head()
      require(census.getLong(0) > 0, "the upsert's equality-delete census must show")
      require(census.getLong(1) > 0 && census.getLong(2) > 0,
        "file counts and byte totals must be real")
      // data census rows only: the unpartitioned delete files census
      // under a null partition, outside the data grain
      stats.where(col("data_file_count") > 0)
        .select(col("partition.o_orderpriority").as("o_orderpriority"),
          col("data_record_count").as("n_physical"))
    },
    oracle = Some(
      """SELECT o_orderpriority,
        |  count(*) + count(CASE WHEN o_orderkey % 97 = 0 THEN 1 END) AS n_physical
        |FROM orders
        |GROUP BY o_orderpriority""".stripMargin))

  /** #104o Iceberg SORT ORDERS (spec "Sort Orders" — the table-level
    * clustering declaration, the Iceberg face of the cross-format
    * triad beside Delta's delta.clustering domain (102l) and Hudi
    * clustering (103i)): `create(sortBy=…)` declares the order in
    * `sort-orders`/`default-sort-order-id`, range-clusters the files,
    * and stamps each data_file's `sort_order_id`; `append` reads the
    * DEFAULT order back and re-sorts its batch under the same id.
    * In-run requires: the declared order round-trips through the
    * reader, and the sorted layout provably CUTS the file set under
    * bounds skipping across BOTH generations. The oracle recomputes
    * the range aggregate.
    */
  val qIcebergSorted: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{IcebergTableReader, IcebergTableWriter}
      val table = scratch("iceberg-sorted") + "/t"
      val o = t(s, dir, "orders")
      IcebergTableWriter.create(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), table,
        sortBy = Seq("o_orderkey")): Unit
      IcebergTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), table): Unit
      require(IcebergTableReader.sortOrder(s, table) ==
        Seq(("o_orderkey", "asc", "nulls-first")),
        "the declared sort order must round-trip through the metadata")
      // under 1500: cuts at every testdata scale (see qDeltaSkipping)
      val hi = 1000.0
      val full = IcebergTableReader.planFiles(s, table)
      val pruned = IcebergTableReader.planFilesSkipping(s, table, "o_orderkey", 0.0, hi)
      require(pruned.data.size < full.data.size,
        s"the sorted layout must cut the file set " +
          s"(${pruned.data.size} of ${full.data.size})")
      IcebergTableReader.snapshotSkipping(s, table, "o_orderkey", 0.0, hi)
        .where(col("o_orderkey") <= hi.toLong)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_orderkey <= 1000
        |GROUP BY o_orderstatus""".stripMargin))

  /** #106d Delta RESTORE ([[graft.sources.DeltaTableWriter.restore]]):
    * one commit re-points the table to a past version — removes for
    * files active now but not then, re-adds (original partition
    * values and deletion vectors verbatim) for files active then but
    * not now — while HISTORY stays (the restore is a new version;
    * pre-restore states still time-travel, in-run require). The
    * fixture upserts then restores past the upsert; the oracle is the
    * pre-upsert base.
    */
  val qDeltaRestore: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{DeltaTableReader, DeltaTableWriter}
      val table = scratch("delta-restore") + "/t"
      val (base, batch) = upsertFixture(s, dir)
      DeltaTableWriter.create(base, table): Unit                       // v0
      DeltaTableWriter.upsert(batch, table, Seq("o_orderkey")): Unit   // v1
      DeltaTableWriter.restore(s, table, 0L): Unit                     // v2
      require(DeltaTableReader.snapshotAsOf(s, table, 1L)
        .where(col("o_orderkey") % 5 === 0).limit(1).count() == 1L,
        "the pre-restore state must still time-travel")
      DeltaTableReader.snapshot(s, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders WHERE o_orderkey % 7 <> 0
        |GROUP BY o_orderpriority""".stripMargin))

  /** #104f Iceberg TAGS ([[graft.sources.IcebergTableWriter.setRef]] +
    * `snapshotAsOfRef`): a named ref pins a snapshot for time travel
    * by NAME through the same `openAsOf` token slot, refs survive
    * later commits verbatim while `main` advances, and expiry refuses
    * while a tag pins an expiring snapshot. The tagged read must
    * serve the pre-upsert cut exactly.
    */
  val qIcebergTag: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{IcebergTableWriter, TableLoader}
      val table = scratch("iceberg-tag") + "/t"
      val (base, batch) = upsertFixture(s, dir)
      val s1 = IcebergTableWriter.create(base, table)
      IcebergTableWriter.setRef(s, table, "baseline", s1)
      IcebergTableWriter.upsert(batch, table, Seq("o_orderkey")): Unit
      TableLoader.openAsOf(s, table, "baseline")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders WHERE o_orderkey % 7 <> 0
        |GROUP BY o_orderpriority""".stripMargin))

  /** #110 UniForm-style DUAL-FORMAT publication
    * ([[graft.sources.TableLoader.publishIcebergMirror]]): Iceberg
    * metadata lands OVER the Delta table's own data files — one copy
    * of the data, two formats' readers. The run proves the mirror
    * references the SAME files (no rewrite), syncs a later Delta
    * append with a republish, and serves the aggregate through the
    * ICEBERG reader while format detection still says Delta.
    */
  val qUniformMirror: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{DeltaTableWriter, IcebergTableReader, TableLoader}
      val table = scratch("uniform") + "/t"
      val o = t(s, dir, "orders")
      DeltaTableWriter.create(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), table): Unit
      DeltaTableWriter.append(o.filter(pmod(col("o_orderkey"), lit(2)) === 1), table): Unit
      TableLoader.publishIcebergMirror(s, table): Unit
      require(TableLoader.detectFormat(s, table) == TableLoader.DeltaFormat,
        "Delta must stay the primary format")
      val ice = IcebergTableReader.snapshot(s, table)
      val delta = graft.sources.DeltaTableReader.snapshot(s, table)
      require(ice.inputFiles.map(_.split('/').last).toSet ==
        delta.inputFiles.map(_.split('/').last).toSet,
        "the mirror must reference the SAME data files — no copy")
      ice.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY o_orderpriority""".stripMargin))

  /** #105f CROSS-FORMAT MIRROR pipeline — the reference's whole job
    * (checkpointed incremental consume, template.py:226-281),
    * upgraded from CSV delivery to engine-grade delivery: pull 1
    * bootstraps a Delta MIRROR from the Hudi source's full snapshot;
    * the source then takes a COW upsert; pull 2 returns exactly the
    * changed rows (the stamp contract), which
    * [[graft.sources.TableLoader.upsert]] merges into the mirror
    * through the format dispatch; pull 3 proves the consumer
    * up-to-date. The aggregate is served FROM THE MIRROR, so the
    * oracle's merge recompute checks the whole loop: incremental
    * correctness × checkpoint discipline × the upsert writer. Scale
    * shape: each pull moves only the increment; the mirror merge is
    * the Delta upsert's broadcast-semi-join shape.
    */
  val qMirrorPipeline: QueryDef = QueryDef(
    run = (s, dir) => {
      import graft.sources.{CheckpointStore, DeltaTableReader, DeltaTableWriter,
        HudiTableWriter, TableLoader}
      val root = scratch("mirror")
      val src = root + "/hudi"; val dst = root + "/delta"
      val store = new CheckpointStore(root + "/ckpt",
        s.sparkContext.hadoopConfiguration)
      val (base, batch) = upsertFixture(s, dir)
      HudiTableWriter.create(base, src, tableName = "orders_src",
        recordKeys = Seq("o_orderkey")): Unit
      def stripMeta(df: DataFrame): DataFrame =
        df.select(df.columns.filterNot(_.startsWith("_hoodie_")).map(col).toIndexedSeq: _*)
      // pull 1: bootstrap the mirror with the full snapshot
      val (boot, tok1) = TableLoader.pullIncremental(s, src, "orders_src", store)
        .getOrElse(throw new IllegalStateException("bootstrap pull must deliver"))
      DeltaTableWriter.create(stripMeta(boot), dst): Unit
      TableLoader.commitToken(src, "orders_src", store, tok1)
      // the source takes a COW upsert
      HudiTableWriter.upsert(batch, src): Unit
      // pull 2: exactly the changed rows, merged into the mirror
      val (inc, tok2) = TableLoader.pullIncremental(s, src, "orders_src", store)
        .getOrElse(throw new IllegalStateException("the upsert must surface a pull"))
      TableLoader.upsert(stripMeta(inc), dst, Seq("o_orderkey")): Unit
      TableLoader.commitToken(src, "orders_src", store, tok2)
      // pull 3: up to date
      require(TableLoader.pullIncremental(s, src, "orders_src", store).isEmpty,
        "a committed consumer at head must see no increment")
      DeltaTableReader.snapshot(s, dst)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
    },
    oracle = Some(upsertMergeOracle))

}
