package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GQuery, Tables => T}
import graft.util.Scratch

/** Structured Streaming over the `events` table, with batch-equivalent
  * semantics so results are oracle-checkable: each query reads the same
  * parquet through `readStream`, runs the streaming transform to
  * completion (`processAllAvailable` on a memory sink), and returns the
  * final table. On a cluster the identical plan runs unbounded against a
  * live source — `readStream` is the only line that changes.
  *
  * Scale notes (100 TB / unbounded): every stateful query runs in
  * `append` mode behind a watermark, so state is evicted as windows /
  * sessions / dedup horizons close — nothing grows with stream length.
  * st01's live state is |event_type| × |open windows|; st02's is open
  * sessions only; st03/st05 hold keys inside the watermark horizon.
  * `complete` mode survives only in st04, where the result itself is a
  * bounded dim-sized table (|segment| × |event_type|) — the one shape
  * where complete-mode state is legitimately O(result). All queries
  * shuffle once on their state key, the minimum for stateful streaming.
  *
  * Append-mode batch equivalence: a bounded stream's append output is
  * the set of windows CLOSED at end-of-stream (window end ≤ final
  * watermark = max event time − delay). The oracles encode exactly that
  * predicate, so the parity check verifies Spark's eviction semantics
  * rather than papering over them with complete mode.
  */
object Streaming {

  /** Events as a bounded stream: same file, same dtype handling as the
    * batch reader (Tables.events — legacy nanos files truncate to
    * micros, current micros files cast NTZ→session-tz), so streaming
    * and batch answers are comparable bit-for-bit. The batch scan's
    * post-conversion dtype decides which path the stream takes.
    */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    val batch = T.events(s, d) // dtype-normalized reference schema
    val rawType = T(s, d, "events").schema("ts").dataType
    // File-stream sources list a directory; select just the events file
    // via glob (at production scale this is the events/ lake prefix).
    def stream(tsType: org.apache.spark.sql.types.DataType): DataFrame =
      s.readStream
        .schema(batch.schema.copy(fields = batch.schema.fields.map(f =>
          if (f.name == "ts") f.copy(dataType = tsType) else f)))
        .option(T.NanosAsLong, "true") // per-read, not session-mutating
        .option("pathGlobFilter", "events.parquet")
        .parquet(d)
    rawType match {
      case org.apache.spark.sql.types.LongType => // legacy TIMESTAMP(NANOS)
        stream(org.apache.spark.sql.types.LongType)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        stream(org.apache.spark.sql.types.TimestampNTZType)
          .withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => stream(org.apache.spark.sql.types.TimestampType)
    }
  }

  /** Run a streaming transform to completion on a memory sink and hand
    * back the final result — the batch-equivalence harness for bounded
    * sources (public: useful for any bounded-stream verification).
    * `complete` mode for aggregations (the final table IS the answer);
    * `append` for row streams.
    */
  def runToEnd(s: SparkSession, df: DataFrame, mode: String): DataFrame = {
    val name = s"mem_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val ckpt = Scratch.dir("ckpt") // deleted at JVM exit
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()
    s.table(name)
  }

  val all: Seq[GQuery] = Seq(

    // --------------------------------------------------------------- st01
    // Tumbling 1-hour window aggregation per event_type: the canonical
    // streaming agg, in append mode behind a 1-hour watermark — window
    // state is evicted (and emitted) as the watermark passes each
    // window's end, so state never grows with stream length. Oracle:
    // date_trunc buckets restricted to windows closed at end-of-stream
    // (window end ≤ max(ts) − 1 hour).
    GQuery("st01_windowed_agg", (s, d) => {
      val agg = eventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(20,6)")).cast("double").as("total"))
      runToEnd(s, agg, "append")
        .select(col("window.start").as("w_start"), col("event_type"),
          col("n"), col("total"))
        .orderBy(col("w_start"), col("event_type"))
    }, Some("""
      SELECT * FROM (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start, event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total
        FROM events GROUP BY 1, 2)
      WHERE w_start + INTERVAL 1 HOUR
              <= (SELECT MAX(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR FROM events)
      ORDER BY w_start, event_type""")),

    // --------------------------------------------------------------- st02
    // Gap-based sessionization: session_window(ts, 30 min) per user, in
    // append mode behind a 1-hour watermark — a session is emitted (and
    // its state dropped) once the watermark passes its end, so live
    // state is open sessions only. Oracle: the batch gaps-and-islands
    // formulation — a session starts where the gap from the previous
    // event is >= 30 min; session end is last event + gap (Spark's
    // session_window end semantics) — restricted to sessions closed at
    // end-of-stream (session end ≤ max(ts) − 1 hour).
    GQuery("st02_sessionize", (s, d) => {
      val sess = eventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(20,6)")).cast("double").as("session_value"))
      runToEnd(s, sess, "append")
        .select(col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"),
          col("user_id"), col("n_events"), col("session_value"))
        .orderBy(col("user_id"), col("s_start"))
    }, Some("""
      WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
               CASE WHEN CAST(ts AS TIMESTAMP)
                      - LAG(CAST(ts AS TIMESTAMP)) OVER
                        (PARTITION BY user_id ORDER BY ts)
                      >= INTERVAL 30 MINUTE OR
                    LAG(CAST(ts AS TIMESTAMP)) OVER
                        (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events),
      g AS (
        SELECT user_id, ts, value,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM e)
      SELECT * FROM (
        SELECT MIN(ts) AS s_start,
               MAX(ts) + INTERVAL 30 MINUTE AS s_end,
               user_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS session_value
        FROM g GROUP BY user_id, sess_id)
      WHERE s_end <= (SELECT MAX(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR
                      FROM events)
      ORDER BY user_id, s_start""")),

    // --------------------------------------------------------------- st03
    // Streaming dedup with watermark: dropDuplicates on the event key
    // holds state only within the watermark horizon. Output is the
    // distinct key set (deterministic regardless of which physical row
    // arrived first), so it hash-matches a batch DISTINCT.
    GQuery("st03_stateful_dedup", (s, d) => {
      val dedup = eventsStream(s, d)
        .withWatermark("ts", "1 day")
        .select(col("user_id"), col("event_type"), col("ts"))
        .dropDuplicates("user_id", "event_type", "ts")
      runToEnd(s, dedup, "append")
        .orderBy(col("user_id"), col("event_type"), col("ts"))
    }, Some("""
      SELECT DISTINCT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      FROM events ORDER BY user_id, event_type, ts""")),

    // --------------------------------------------------------------- st04
    // Stream–static join: the event stream enriched against the static
    // customer dim (planner broadcasts the dim into every micro-batch),
    // then aggregated per market segment. The canonical streaming
    // enrichment shape: dim lookup costs no stream-side shuffle.
    GQuery("st04_stream_static_join", (s, d) => {
      val dim = T.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      val joined = eventsStream(s, d)
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(20,6)")).cast("double").as("total"))
      runToEnd(s, joined, "complete")
        .orderBy(col("c_mktsegment"), col("event_type"))
    }, Some("""
      SELECT c_mktsegment, event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY c_mktsegment, event_type
      ORDER BY c_mktsegment, event_type""")),

    // --------------------------------------------------------------- st05
    // Bounded-state dedup: dropDuplicatesWithinWatermark keeps state
    // only inside the watermark horizon (unlike st03's exact-key state,
    // which this API lets the engine aggressively expire) — the shape
    // for unbounded high-cardinality keys. Distinct-key output is
    // deterministic, so it hash-matches batch DISTINCT.
    GQuery("st05_dedup_within_watermark", (s, d) => {
      val dedup = eventsStream(s, d)
        .withWatermark("ts", "1 day")
        .select(col("user_id"), col("event_type"), col("ts"))
        .dropDuplicatesWithinWatermark("user_id", "event_type", "ts")
      runToEnd(s, dedup, "append")
        .orderBy(col("user_id"), col("event_type"), col("ts"))
    }, Some("""
      SELECT DISTINCT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      FROM events ORDER BY user_id, event_type, ts""")),

    // --------------------------------------------------------------- st06
    // Streaming ingest into the open-table-format layer: each
    // micro-batch commits to a DeltaLite table via foreachBatch (create
    // on the first batch, append after), and the final snapshot is
    // hash-checked against the source. On a cluster this is the
    // continuous lake-ingestion shape — EXACTLY-once per batch: every
    // commit carries a `txn` action recording (queryId, batchId), so a
    // batch replayed after a crash between the Delta commit and the
    // streaming checkpoint is recognized in the log and skipped
    // (appendOnce), not re-appended. Readers see only whole commits
    // (the log's atomic claim carries the payload with it).
    GQuery("st06_stream_delta_sink", (s, d) => {
      import graft.sources.DeltaLite
      val table = s"${graft.util.Scratch.dir("st06")}/events_delta"
      val q = eventsStream(s, d)
        .select(col("user_id"), col("event_type"), col("ts"), col("value"))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          val appId = "st06_delta_sink"
          if (DeltaLite.latestVersion(s, table) < 0)
            DeltaLite.create(s, table, batch.toDF(),
              txn = Some((appId, batchId)))
          else DeltaLite.appendOnce(s, table, batch.toDF(), appId, batchId)
          ()
        }
        .option("checkpointLocation", graft.util.Scratch.dir("st06ckpt"))
        .start()
      q.processAllAvailable()
      q.stop()
      DeltaLite.snapshot(s, table)
        .orderBy(col("user_id"), col("event_type"), col("ts"), col("value"))
    }, Some("""
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events ORDER BY user_id, event_type, ts, value""")),

    // --------------------------------------------------------------- st07
    // Stream-stream self-join: purchases within 30 minutes of a click
    // by the same user. Both sides carry watermarks and the join
    // condition bounds event time on both ends, so each side's buffered
    // state is evicted once the other side's watermark passes the range
    // — bounded state on an unbounded stream, the attribution-join
    // shape. Inner joins emit matches as they form (no held-back
    // output), so the bounded run emits exactly the batch self-join.
    GQuery("st07_stream_stream_join", (s, d) => {
      val ev = eventsStream(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val joined = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") > col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
        .select(col("c_user"), col("c_ts"), col("p_ts"))
      runToEnd(s, joined, "append")
        .orderBy(col("c_user"), col("c_ts"), col("p_ts"))
    }, Some("""
      SELECT a.user_id AS c_user, CAST(a.ts AS TIMESTAMP) AS c_ts,
             CAST(b.ts AS TIMESTAMP) AS p_ts
      FROM events a JOIN events b
        ON a.user_id = b.user_id
       AND a.event_type = 'click' AND b.event_type = 'purchase'
       AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
      ORDER BY c_user, c_ts, p_ts""")),

    // --------------------------------------------------------------- st08
    // Custom state machine via flatMapGroupsWithState: per-user running
    // (count, exact-decimal total, last event time) kept in an explicit
    // GroupState. This is the escape hatch when windows/dedup built-ins
    // can't express the state logic; state lives in the state store,
    // keyed and incrementally checkpointed. On an unbounded stream each
    // batch emits the updated running row per touched user (a
    // changelog); the bounded harness reads the source in one batch, so
    // the emitted rows ARE the final per-user aggregates — which the
    // batch oracle checks. Decimal accumulation keeps the total
    // independent of iterator order, like every money sum here.
    GQuery("st08_custom_state", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      val typed = eventsStream(s, d)
        .select(col("user_id"),
          col("value").cast("decimal(20,6)").as("value"), col("ts"))
        .as[(Long, java.math.BigDecimal, java.sql.Timestamp)]
      val out = typed.groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (user: Long,
           rows: Iterator[(Long, java.math.BigDecimal, java.sql.Timestamp)],
           state: GroupState[UserRunning]) =>
            val prev = state.getOption
              .getOrElse(UserRunning(0L, java.math.BigDecimal.ZERO, 0L))
            val next = rows.foldLeft(prev) { case (acc, (_, v, ts)) =>
              UserRunning(acc.n + 1, acc.total.add(v),
                math.max(acc.lastMicros, tsToMicros(ts)))
            }
            state.update(next)
            Iterator.single((user, next.n,
              next.total.doubleValue(), microsToTs(next.lastMicros)))
        }
      runToEnd(s, out.toDF("user_id", "n_events", "total_value", "last_ts"),
        "append")
        .orderBy(col("user_id"))
    }, Some("""
      SELECT user_id, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value,
             MAX(CAST(ts AS TIMESTAMP)) AS last_ts
      FROM events GROUP BY user_id ORDER BY user_id""")),

    // --------------------------------------------------------------- st09
    // Spark 4's transformWithState — the successor API to
    // flatMapGroupsWithState (st08): typed composite state (here a
    // MapState of per-event-type counts under each user key) living in
    // the RocksDB state store, with explicit state handles instead of a
    // single GroupState value. Each batch emits the updated (user,
    // type, count) entries it touched — a changelog; the bounded
    // harness reads the source as one batch, so the emitted rows ARE
    // the final counts, which the batch oracle checks. Count merging is
    // commutative, so the undefined within-group iterator order cannot
    // affect results.
    GQuery("st09_transform_with_state", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val typed = eventsStream(s, d)
        .select(col("user_id"), col("event_type"))
        .as[(Long, String)]
      // transformWithState requires the RocksDB state store provider;
      // scope the session conf to this query and restore after.
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val out = typed.groupByKey(_._1)
          .transformWithState(new TypeCountProcessor, TimeMode.None(),
            OutputMode.Append())
        runToEnd(s, out.toDF("user_id", "event_type", "n"), "append")
          .orderBy(col("user_id"), col("event_type"))
      } finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    }, Some("""
      SELECT user_id, event_type, COUNT(*) AS n FROM events
      GROUP BY user_id, event_type ORDER BY user_id, event_type""")),

    // --------------------------------------------------------------- st10
    // Streaming ingest DRIVING downstream incremental view maintenance:
    // each micro-batch commits to the lake table exactly-once (st06's
    // txn idempotence), then the materialized aggregate folds in just
    // that batch's change-data-feed window (appends-only → it reads
    // only the new files). The continuous-pipeline shape at 100 TB:
    // stream → table format → O(batch)-cost derived views, no view
    // rebuild anywhere. The final view is hash-checked against a plain
    // batch aggregate of the whole source.
    GQuery("st10_stream_matview", (s, d) => {
      import graft.sources.{DeltaLite, MatView}
      val root = graft.util.Scratch.dir("st10")
      val table = s"$root/events_delta"
      val mv = s"$root/mv"
      val q = eventsStream(s, d)
        .select(col("user_id"), col("event_type"), col("ts"), col("value"))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          val appId = "st10_matview"
          if (DeltaLite.latestVersion(s, table) < 0) {
            DeltaLite.create(s, table, batch.toDF(),
              txn = Some((appId, batchId)))
            MatView.create(s, table, mv, Seq("event_type"), "value",
              valueDecimal = (20, 6))
          } else {
            DeltaLite.appendOnce(s, table, batch.toDF(), appId, batchId)
            MatView.refresh(s, mv)
            ()
          }
        }
        .option("checkpointLocation", graft.util.Scratch.dir("st10ckpt"))
        .start()
      q.processAllAvailable()
      q.stop()
      MatView.refresh(s, mv) // fold any final batch committed above
      MatView.read(s, mv)
        .select(col("event_type"),
          col("sum_val").cast("double").as("total_value"), col("n"))
        .orderBy(col("event_type"))
    }, Some("""
      SELECT event_type,
             CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
               AS total_value,
             COUNT(*) AS n
      FROM events GROUP BY event_type ORDER BY event_type""")),

    // --------------------------------------------------------------- st11
    // Streaming UPSERT into the lake: foreachBatch MERGE maintaining a
    // latest-event-per-user table. The source is staged as three
    // time-ranged files streamed one per micro-batch
    // (maxFilesPerTrigger=1), so the create + two real merges all
    // execute. DeltaLite.merge replaces matched rows, so the
    // whenMatched(newer-wins) condition is resolved first: the batch's
    // per-user argmax unions the CURRENT rows of the touched keys
    // (left-semi restricted — a keyed lookup, not a table copy) and
    // re-argmaxes on the unique (ts, event_id) order. Batch-order-
    // independent by construction, hence oracle-checkable; per-batch
    // cost is O(batch + touched rows), the streaming-CDC-into-lake
    // shape at any scale.
    GQuery("st11_stream_lake_upsert", (s, d) => {
      import graft.sources.DeltaLite
      val root = graft.util.Scratch.dir("st11")
      val table = s"$root/latest_delta"
      val stage = s"$root/staged_events"
      def latestPerUser(df: DataFrame): DataFrame =
        df.groupBy(col("user_id"))
          .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
            col("value"))).as("m"))
          .select(col("user_id"), col("m.ts").as("ts"),
            col("m.event_id").as("event_id"),
            col("m.event_type").as("event_type"),
            col("m.value").as("value"))
      val src = T.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"))
      src.repartitionByRange(3, col("ts")).write.mode("overwrite")
        .parquet(stage)
      val q = s.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val up = latestPerUser(batch.toDF())
          if (DeltaLite.latestVersion(s, table) < 0)
            DeltaLite.create(s, table, up)
          else {
            val touched = DeltaLite.snapshot(s, table)
              .join(up.select(col("user_id")), Seq("user_id"), "left_semi")
            DeltaLite.merge(s, table, latestPerUser(up.unionByName(touched)),
              Seq("user_id"))
          }
          ()
        }
        .option("checkpointLocation", graft.util.Scratch.dir("st11ckpt"))
        .start()
      q.processAllAvailable()
      q.stop()
      DeltaLite.snapshot(s, table)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts"), col("value"))
        .orderBy(col("user_id"))
    }, Some("""
      SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
             value
      FROM (
        SELECT user_id, event_id, event_type, ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
      WHERE rn = 1 ORDER BY user_id""")),

    // --------------------------------------------------------------- st12
    // The LAKE as a streaming source: a custom DSv2 MicroBatchStream
    // (DeltaLiteStreamSource.scala) tails the transaction log — offsets
    // are log versions, each micro-batch reads exactly the files the
    // new commits added, maxVersionsPerTrigger=1 forces one version per
    // batch so three commits replay as three batches. The memory-sink
    // union equals the table's full content (append-only source), which
    // the oracle checks against the raw table.
    GQuery("st12_stream_from_lake", (s, d) => {
      import graft.sources.DeltaLite
      val t = s"${graft.util.Scratch.dir("st12")}/orders_src"
      val o = T.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
      DeltaLite.create(s, t, o.filter(col("o_orderkey") % 3 === 0))
      DeltaLite.append(s, t, o.filter(col("o_orderkey") % 3 === 1))
      DeltaLite.append(s, t, o.filter(col("o_orderkey") % 3 === 2))
      val stream = s.readStream
        .format(classOf[DeltaLiteStreamProvider].getName)
        .option("path", t).option("maxVersionsPerTrigger", "1")
        .load()
      runToEnd(s, stream, "append").orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders ORDER BY o_orderkey""")),

    // --------------------------------------------------------------- st13
    // Streaming CHANGE DATA FEED from the lake (s20's batch CDF as a
    // stream): readChangeFeed mode emits each appended row tagged with
    // `_change_type`/`_commit_version`, injected per file by the DSv2
    // source (a file belongs to exactly one commit). The three commits
    // are keyed o_orderkey % 3 == version, so the oracle reconstructs
    // the full change feed — wrong version attribution anywhere breaks
    // the hash.
    GQuery("st13_stream_lake_cdf", (s, d) => {
      import graft.sources.DeltaLite
      val t = s"${graft.util.Scratch.dir("st13")}/orders_cdf"
      val o = T.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"))
      DeltaLite.create(s, t, o.filter(col("o_orderkey") % 3 === 0))
      DeltaLite.append(s, t, o.filter(col("o_orderkey") % 3 === 1))
      DeltaLite.append(s, t, o.filter(col("o_orderkey") % 3 === 2))
      val stream = s.readStream
        .format(classOf[DeltaLiteStreamProvider].getName)
        .option("path", t).option("readChangeFeed", "true")
        .option("maxVersionsPerTrigger", "1")
        .load()
      runToEnd(s, stream, "append").orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_custkey, o_totalprice,
             'insert' AS _change_type,
             CAST(o_orderkey % 3 AS BIGINT) AS _commit_version
      FROM orders ORDER BY o_orderkey""")),

    // --------------------------------------------------------------- st14
    // The ICEBERG table as a streaming source — same DSv2 machinery,
    // offsets are snapshot ids, each batch reads only the manifests the
    // new snapshot added (appends-only enforced at the manifest level).
    // Three snapshots stream as three per-snapshot batches.
    GQuery("st14_stream_from_iceberg", (s, d) => {
      import graft.sources.IcebergLite
      val t = s"${graft.util.Scratch.dir("st14")}/cust_src"
      val c = T.customer(s, d).select(col("c_custkey"), col("c_name"),
        col("c_acctbal"), col("c_mktsegment"))
      IcebergLite.create(s, t, c.filter(col("c_custkey") % 3 === 0))
      IcebergLite.append(s, t, c.filter(col("c_custkey") % 3 === 1))
      IcebergLite.append(s, t, c.filter(col("c_custkey") % 3 === 2))
      val stream = s.readStream
        .format(classOf[IcebergLiteStreamProvider].getName)
        .option("path", t).option("maxVersionsPerTrigger", "1")
        .load()
      runToEnd(s, stream, "append").orderBy(col("c_custkey"))
    }, Some("""
      SELECT c_custkey, c_name, c_acctbal, c_mktsegment
      FROM customer ORDER BY c_custkey""")),

    // --------------------------------------------------------------- st15
    // Stream-stream LEFT OUTER join: st07's attribution join, but
    // clicks with NO purchase inside the 30-minute window must still
    // emit (with nulls) — the row only materializes when the watermark
    // proves no match can ever arrive, i.e. at state eviction. Matches
    // emit immediately; null-rows emit as the watermark passes each
    // click's window end, so state stays bounded exactly as in the
    // inner join. Batch equivalence needs care at the stream's end:
    // clicks whose window is NOT yet closed by the final watermark
    // (min of both sides' max ts − 1 h) have emitted their matches but
    // not their verdict, so BOTH the stream result and the oracle
    // restrict to confidently-closed clicks — the same end-of-stream
    // closure predicate every append-mode oracle here encodes.
    GQuery("st15_stream_outer_join", (s, d) => {
      val ev = eventsStream(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val joined = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") > col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"),
        "left_outer")
        .select(col("c_user"), col("c_ts"), col("p_ts"))
      // Final global watermark of the bounded run: each side's max
      // event time − 1 h, min across sides (computed from the batch
      // table — same file, same values).
      val wmDf = T.events(s, d).agg(
        (least(max(when(col("event_type") === "click", col("ts"))),
          max(when(col("event_type") === "purchase", col("ts"))))
          - expr("INTERVAL 1 HOUR")).as("wm"))
      runToEnd(s, joined, "append")
        .crossJoin(broadcast(wmDf))
        .filter(col("c_ts") + expr("INTERVAL 30 MINUTES") < col("wm"))
        .select(col("c_user"), col("c_ts"), col("p_ts"))
        .orderBy(col("c_user"), col("c_ts"), col("p_ts"))
    }, Some("""
      WITH c AS (SELECT user_id AS c_user, CAST(ts AS TIMESTAMP) AS c_ts
                 FROM events WHERE event_type = 'click'),
      p AS (SELECT user_id AS p_user, CAST(ts AS TIMESTAMP) AS p_ts
            FROM events WHERE event_type = 'purchase'),
      wm AS (SELECT LEAST((SELECT MAX(c_ts) FROM c),
                          (SELECT MAX(p_ts) FROM p))
                    - INTERVAL 1 HOUR AS w)
      SELECT c_user, c_ts, p_ts
      FROM c LEFT JOIN p
        ON c_user = p_user AND p_ts > c_ts
       AND p_ts <= c_ts + INTERVAL 30 MINUTE
      WHERE c_ts + INTERVAL 30 MINUTE < (SELECT w FROM wm)
      ORDER BY c_user, c_ts, p_ts""")),

    // --------------------------------------------------------------- st16
    // Stream-stream FULL OUTER join: both sides get eviction-time null
    // verdicts — clicks that never converted AND purchases no click
    // preceded (organic buys), in one operator with one shared state
    // store. The end-of-stream closure is per SIDE: a click's verdict
    // is final when the watermark passes its 30-minute window's end; an
    // unmatched purchase's when the watermark passes its own timestamp
    // (any qualifying click would carry an earlier time, which the
    // watermark excludes). Stream and oracle restrict to the same
    // confidently-closed set — rows the bounded run's final watermark
    // has provably finished.
    GQuery("st16_stream_full_outer_join", (s, d) => {
      val ev = eventsStream(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val joined = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") > col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"),
        "full_outer")
        .select(col("c_user"), col("c_ts"), col("p_user"), col("p_ts"))
      val wmDf = T.events(s, d).agg(
        (least(max(when(col("event_type") === "click", col("ts"))),
          max(when(col("event_type") === "purchase", col("ts"))))
          - expr("INTERVAL 1 HOUR")).as("wm"))
      runToEnd(s, joined, "append")
        .crossJoin(broadcast(wmDf))
        .filter(
          (col("c_ts").isNotNull &&
            col("c_ts") + expr("INTERVAL 30 MINUTES") < col("wm")) ||
          (col("c_ts").isNull && col("p_ts") < col("wm")))
        .select(col("c_user"), col("c_ts"), col("p_user"), col("p_ts"))
        .orderBy(col("c_user"), col("c_ts"), col("p_user"), col("p_ts"))
    }, Some("""
      WITH c AS (SELECT user_id AS c_user, CAST(ts AS TIMESTAMP) AS c_ts
                 FROM events WHERE event_type = 'click'),
      p AS (SELECT user_id AS p_user, CAST(ts AS TIMESTAMP) AS p_ts
            FROM events WHERE event_type = 'purchase'),
      wm AS (SELECT LEAST((SELECT MAX(c_ts) FROM c),
                          (SELECT MAX(p_ts) FROM p))
                    - INTERVAL 1 HOUR AS w)
      SELECT c_user, c_ts, p_user, p_ts
      FROM c FULL OUTER JOIN p
        ON c_user = p_user AND p_ts > c_ts
       AND p_ts <= c_ts + INTERVAL 30 MINUTE
      WHERE (c_ts IS NOT NULL
             AND c_ts + INTERVAL 30 MINUTE < (SELECT w FROM wm))
         OR (c_ts IS NULL AND p_ts < (SELECT w FROM wm))
      ORDER BY c_user, c_ts, p_user, p_ts""")),

    // --------------------------------------------------------------- st17
    // Streaming write-audit-publish onto an Iceberg BRANCH: every
    // micro-batch lands as a branch append (s43's isolated-head
    // machinery), so the production `main` read NEVER sees a partial
    // stream — the driver verifies main stayed at the base snapshot
    // after the whole stream ran, then fast-forward publishes the
    // audited branch in one metadata-only pointer flip. This is the
    // streaming-scale WAP story: per-batch commit cost is O(batch)
    // manifest work, the publish is O(1) metadata, and a mid-stream
    // failure leaves main untouched (re-run lands on the branch again;
    // per-batch idempotence would ride a txn mark as in the Delta
    // sink's appendOnce — stated simplification here).
    GQuery("st17_stream_iceberg_branch_wap", (s, d) => {
      import graft.sources.IcebergLite
      val root = graft.util.Scratch.dir("st17")
      val t = s"$root/events_ice_wap"
      val stage = s"$root/staged"
      val ev = T.events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), col("value"))
      val base = ev.filter(col("event_id") % 4 === 0)
      val rest = ev.filter(col("event_id") % 4 =!= 0)
      IcebergLite.create(s, t, base)
      IcebergLite.createBranch(s, t, "ingest")
      rest.repartitionByRange(3, col("event_id")).write.mode("overwrite")
        .parquet(stage)
      val q = s.readStream.schema(rest.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
        .writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            IcebergLite.appendToBranch(s, t, "ingest", batch.toDF())
            ()
        }
        .option("checkpointLocation", graft.util.Scratch.dir("st17ckpt"))
        .start()
      q.processAllAvailable()
      q.stop()
      val mainIsolated = // the whole stream ran; main never moved
        IcebergLite.snapshot(s, t).count() == base.count()
      IcebergLite.fastForward(s, t, "ingest")
      IcebergLite.snapshot(s, t)
        .withColumn("main_isolated_during_stream", lit(mainIsolated))
        .orderBy(col("event_id"))
    }, Some("""
      SELECT event_id, user_id, event_type, value,
             TRUE AS main_isolated_during_stream
      FROM events ORDER BY event_id""")),

    // --------------------------------------------------------------- st18
    // Stream FROM an Iceberg BRANCH (`option("ref", …)`): offsets walk
    // the branch's parent-snapshot-id lineage, so a concurrent append
    // to MAIN — whose snapshot id falls right in the middle of the
    // branch's id range — is invisible to the stream. This is the read
    // side of s43/st17's isolation story, and it is exactly what the
    // lineage-aware incremental read (addedFilesForRef) buys over raw
    // id order.
    GQuery("st18_stream_from_iceberg_branch", (s, d) => {
      import graft.sources.IcebergLite
      val t = s"${graft.util.Scratch.dir("st18")}/events_ice_branch"
      val ev = T.events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), col("value"))
      IcebergLite.create(s, t, ev.filter(col("event_id") % 4 === 0))
      IcebergLite.createBranch(s, t, "feed")
      // Main advances — snapshot 2 sits BETWEEN the branch's 3 and 4.
      IcebergLite.append(s, t, ev.filter(col("event_id") % 4 === 3))
      IcebergLite.appendToBranch(s, t, "feed",
        ev.filter(col("event_id") % 4 === 1))
      IcebergLite.appendToBranch(s, t, "feed",
        ev.filter(col("event_id") % 4 === 2))
      val stream = s.readStream
        .format(classOf[IcebergLiteStreamProvider].getName)
        .option("path", t).option("ref", "feed")
        .option("maxVersionsPerTrigger", "1")
        .load()
      runToEnd(s, stream, "append").orderBy(col("event_id"))
    }, Some("""
      SELECT event_id, user_id, event_type, value
      FROM events WHERE event_id % 4 <> 3 ORDER BY event_id""")),

    // --------------------------------------------------------------- st19
    // CDC-APPLY sink: a Debezium-shaped change log (rows tagged
    // _op insert/update/delete, ordered by _seq) streams one source
    // commit per micro-batch into foreachBatch → DeltaLite.applyChanges,
    // which argmaxes the latest change per key and rewrites ONLY the
    // target files holding a touched key — the replicate-a-table-from-
    // its-change-feed pattern. Three staged commits (full insert load,
    // a status update wave, a delete wave) land as three applies; the
    // final replica equals the source's end state, which the oracle
    // reconstructs declaratively.
    GQuery("st19_stream_cdc_apply", (s, d) => {
      import graft.sources.DeltaLite
      val root = graft.util.Scratch.dir("st19")
      val table = s"$root/orders_replica"
      val stage = s"$root/changes"
      val o = T.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .filter(col("o_orderkey") <= 6000)
      def tag(df: DataFrame, op: String, seq: Int): DataFrame =
        df.withColumn("_op", lit(op)).withColumn("_seq", lit(seq))
      // Three source commits, staged as one file each IN ORDER (the
      // file stream source batches by modification time, so sequential
      // writes replay in commit order — the CDC delivery contract).
      tag(o, "insert", 1).coalesce(1)
        .write.mode("append").parquet(stage)
      tag(o.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_orderstatus", lit("U")), "update", 2)
        .coalesce(1).write.mode("append").parquet(stage)
      tag(o.filter(col("o_orderkey") % 7 === 0), "delete", 3)
        .coalesce(1).write.mode("append").parquet(stage)
      DeltaLite.create(s, table, o.limit(0))
      val changes = s.readStream
        .schema(tag(o, "insert", 1).schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
      val q = changes.writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            DeltaLite.applyChanges(s, table, batch.toDF(),
              Seq("o_orderkey"), "_op", "_seq")
        }
        .option("checkpointLocation", graft.util.Scratch.dir("st19ckpt"))
        .start()
      q.processAllAvailable()
      q.stop()
      DeltaLite.snapshot(s, table).orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 = 0 THEN 'U'
                  ELSE o_orderstatus END AS o_orderstatus,
             o_totalprice
      FROM orders
      WHERE o_orderkey <= 6000 AND o_orderkey % 7 <> 0
      ORDER BY o_orderkey""")),

    // --------------------------------------------------------------- st20
    // Streaming FROM the Hudi timeline (st12's third-format sibling):
    // the DSv2 source tails commit instants, each micro-batch exactly
    // one commit's new file slices (maxVersionsPerTrigger=1), offsets
    // checkpointed for exactly-once replay. Appends-only contract — a
    // COW rewrite fails the stream loudly (spec-asserted); the oracle
    // is the full three-commit content.
    GQuery("st20_stream_from_hudi", (s, d) => {
      import graft.sources.HudiLite
      val t = s"${graft.util.Scratch.dir("st20")}/orders_hudi_src"
      val o = T.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
      HudiLite.create(s, t, o.filter(col("o_orderkey") % 3 === 0),
        recordKey = "o_orderkey")
      HudiLite.upsert(s, t, o.filter(col("o_orderkey") % 3 === 1))
      HudiLite.upsert(s, t, o.filter(col("o_orderkey") % 3 === 2))
      val stream = s.readStream
        .format(classOf[HudiLiteStreamProvider].getName)
        .option("path", t).option("maxVersionsPerTrigger", "1")
        .load()
      runToEnd(s, stream, "append").orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders ORDER BY o_orderkey""")),

    // --------------------------------------------------------------- st21
    // The discovery column-sketch index maintained BY A STREAM (c04's
    // streaming twin): rows stream from the lake file, each micro-batch
    // explodes its (column, value) pairs, hashes (engine-neutral
    // charPoly31), and folds into a streaming MIN aggregate — MinHash
    // signatures are monotone under min, so streaming-update state IS
    // the index, and it is CONSTANT-SIZE: one row per (column, slot),
    // k×|columns| entries no matter how much data streams past. The
    // oracle recomputes the sketch from ALL rows in batch — hash
    // equality proves the streamed index equals a full rebuild.
    GQuery("st21_stream_column_sketch", (s, d) => {
      import graft.functions.TextHash
      import graft.operators.Discovery
      val batch = T.orders(s, d)
      val cols = Discovery.incrCandidates.map(_._2)
      val src = s.readStream.schema(batch.schema)
        .option("pathGlobFilter", "orders.parquet").parquet(d)
      val sig = src
        .select(explode(array(cols.map(c =>
          struct(lit(c).as("column_name"),
            col(c).cast("string").as("v"))): _*)).as("e"))
        .select(col("e.column_name"), col("e.v"))
        .where(col("v").isNotNull)
        .select(col("column_name"),
          graft.functions.FastText.charPoly31(col("v")).as("h"))
        .select(col("column_name"), posexplode(transform(
          sequence(lit(0), lit(Discovery.SketchK - 1)),
          i => pmod(
            pmod(lit(2654435761L) * (i * 2L + 1L), lit(TextHash.P))
              * col("h") + i * 40503L + 1L,
            lit(TextHash.P)))).as(Seq("i", "mv")))
        .groupBy(col("column_name"), col("i"))
        .agg(min(col("mv")).as("m"))
      runToEnd(s, sig, "complete")
        .select(lit("orders").as("table_name"), col("column_name"),
          col("i").cast("long").as("i"), col("m"))
        .orderBy(col("table_name"), col("column_name"), col("i"))
    }, Some(graft.operators.Discovery.sqlFullSketchRows(
      graft.operators.Discovery.incrCandidates))),

    // --------------------------------------------------------------- st22
    // Streaming FROM a Hudi MERGE-ON-READ table, update-inclusive
    // (withUpdates=true): each micro-batch delivers every record
    // WRITTEN by one commit — fresh base groups carry inserts, LOG
    // FILES carry that deltacommit's upserts (so an updated key is
    // re-emitted with its new content, the change-stream contract),
    // and the mid-stream COMPACTION is invisible: it folds logs into
    // a new base slice but writes no new records. The oracle is the
    // written-record multiset reconstructed from the source table.
    GQuery("st22_stream_from_hudi_mor", (s, d) => {
      import graft.sources.HudiLite
      val t = s"${graft.util.Scratch.dir("st22")}/orders_hudi_mor_src"
      val o = T.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
      HudiLite.create(s, t, o.filter(col("o_orderkey") % 3 === 0),
        recordKey = "o_orderkey", tableType = HudiLite.MergeOnRead)
      HudiLite.upsert(s, t,
        o.filter(col("o_orderkey") % 6 === 0)
          .withColumn("o_orderstatus", lit("U1"))
          .unionByName(o.filter(col("o_orderkey") % 3 === 1)))
      HudiLite.compact(s, t) // folds the U1 logs; writes no new records
      HudiLite.upsert(s, t,
        o.filter(col("o_orderkey") % 6 === 3)
          .withColumn("o_orderstatus", lit("U2")))
      val stream = s.readStream
        .format(classOf[HudiLiteStreamProvider].getName)
        .option("path", t).option("withUpdates", "true")
        .option("maxVersionsPerTrigger", "1")
        .load()
      runToEnd(s, stream, "append")
        .orderBy(col("o_orderkey"), col("o_orderstatus"))
    }, Some("""
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, 'U1' AS o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 6 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 3 = 1
      UNION ALL
      SELECT o_orderkey, o_custkey, 'U2' AS o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 6 = 3
      ORDER BY o_orderkey, o_orderstatus""")),

    // --------------------------------------------------------------- st23
    // A JOIN view maintained FROM A STREAM (st10's two-sided sibling,
    // s58's streaming twin): fact rows stream into the lake table in
    // three micro-batches (exactly-once via the txn-guarded append),
    // each batch folded into the fact⋈dim view by the delta-join
    // refresh; BETWEEN batches the DIM mutates (customers re-segmented)
    // and the SAME refresh absorbs it through the A_old⋈ΔB term — the
    // streaming pipeline never rebuilds the base join. Oracle = the
    // final-state join recomputed from the raw tables.
    GQuery("st23_stream_join_matview", (s, d) => {
      import graft.sources.{DeltaLite, JoinMatView}
      val root = graft.util.Scratch.dir("st23")
      val fact = s"$root/orders_delta"
      val dim = s"$root/cust_delta"
      val mv = s"$root/jmv"
      val stage = s"$root/staged_orders"
      val src = T.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      src.repartitionByRange(3, col("o_orderkey")).write.mode("overwrite")
        .parquet(stage)
      val appId = "st23_join_matview"
      val q = s.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
        .writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              batchId: Long) =>
            if (DeltaLite.latestVersion(s, fact) < 0) {
              DeltaLite.create(s, fact, batch.toDF(),
                txn = Some((appId, batchId)))
              DeltaLite.create(s, dim, T.customer(s, d)
                .select(col("c_custkey"), col("c_mktsegment")))
              JoinMatView.create(s, fact, dim, mv,
                "o_custkey", "c_custkey", Seq("c_mktsegment"),
                "o_totalprice")
            } else {
              DeltaLite.appendOnce(s, fact, batch.toDF(), appId, batchId)
              if (batchId == 1L)
                // Mid-stream dim mutation (idempotent under a batch
                // retry: re-setting the same segment is a no-op).
                DeltaLite.updateWhere(s, dim, col("c_custkey") % 10 === 0,
                  Map("c_mktsegment" -> lit("MOVED")))
              JoinMatView.refresh(s, mv)
              ()
            }
        }
        .option("checkpointLocation", graft.util.Scratch.dir("st23ckpt"))
        .start()
      q.processAllAvailable()
      q.stop()
      JoinMatView.refresh(s, mv) // fold any final committed batch
      JoinMatView.read(s, mv)
        .select(col("c_mktsegment"),
          col("sum_val").cast("double").as("total"), col("n"))
        .orderBy(col("c_mktsegment"))
    }, Some("""
      SELECT CASE WHEN c.c_custkey % 10 = 0 THEN 'MOVED'
                  ELSE c.c_mktsegment END AS c_mktsegment,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS total,
             COUNT(*) AS n
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1 ORDER BY c_mktsegment""")),

    // --------------------------------------------------------------- st24
    // Streaming CDC into ICEBERG via MERGE-ON-READ (st19's zero-rewrite
    // twin, s59's streaming application): each micro-batch of the
    // Debezium-shaped change log applies as ONE equality-delete
    // snapshot — a deletes manifest covering the batch's touched keys
    // plus a data manifest of the surviving latest rows, at the same
    // sequence number. NO commit ever reads or rewrites a data file
    // (st19's DeltaLite.applyChanges rewrites touched target files
    // every batch — at 100 TB with a hot update stream, copy-on-write
    // per batch is the write-amplification anti-pattern; MOR defers
    // the fold to one compaction). StreamingSpec asserts the data-file
    // set only ever GROWS across the stream and compact() equals the
    // merged read.
    GQuery("st24_stream_cdc_mor", (s, d) => {
      import graft.sources.IcebergLite
      val root = graft.util.Scratch.dir("st24")
      val table = s"$root/orders_ice_replica"
      val stage = s"$root/changes"
      val o = T.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .filter(col("o_orderkey") <= 6000)
      def tag(df: DataFrame, op: String, seq: Int): DataFrame =
        df.withColumn("_op", lit(op)).withColumn("_seq", lit(seq))
      // Three source commits staged IN ORDER (file mtime = replay
      // order, the CDC delivery contract — st19's shape).
      tag(o, "insert", 1).coalesce(1)
        .write.mode("append").parquet(stage)
      tag(o.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_orderstatus", lit("U")), "update", 2)
        .coalesce(1).write.mode("append").parquet(stage)
      tag(o.filter(col("o_orderkey") % 7 === 0), "delete", 3)
        .coalesce(1).write.mode("append").parquet(stage)
      IcebergLite.create(s, table, o.limit(0))
      val changes = s.readStream
        .schema(tag(o, "insert", 1).schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
      val q = changes.writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            IcebergLite.applyChangesMOR(s, table, batch.toDF(),
              Seq("o_orderkey"), "_op", "_seq")
            ()
        }
        .option("checkpointLocation", graft.util.Scratch.dir("st24ckpt"))
        .start()
      q.processAllAvailable()
      q.stop()
      IcebergLite.snapshot(s, table).orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 = 0 THEN 'U'
                  ELSE o_orderstatus END AS o_orderstatus,
             o_totalprice
      FROM orders
      WHERE o_orderkey <= 6000 AND o_orderkey % 7 <> 0
      ORDER BY o_orderkey""")),

    // --------------------------------------------------------------- st25
    // RESTART RECOVERY, exactly-once: a rate-limited stream from the
    // lake delivers two commits, STOPS (simulated shutdown), two more
    // commits land while it's down, and a new query resumes from the
    // SAME checkpoint into the same file sink. The oracle hashes the
    // sink's final content — a replayed version (the duplicate-
    // delivery bug this key pinned down: a restarted source whose
    // admission mark lagged the restored offset re-served committed
    // versions) or a skipped version both fail the hash. Admission is
    // computed from the engine's restored progress via
    // SupportsAdmissionControl, so exactly-once survives the restart
    // by construction.
    GQuery("st25_stream_restart", (s, d) => {
      import graft.sources.DeltaLite
      val root = graft.util.Scratch.dir("st25")
      val t = s"$root/src"
      val sink = s"$root/sink"
      val ckpt = s"$root/ckpt"
      val c = T.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      DeltaLite.create(s, t, c.filter(col("c_custkey") % 4 === 0))
      DeltaLite.append(s, t, c.filter(col("c_custkey") % 4 === 1))
      def runOnce(): Unit = {
        val q = s.readStream
          .format(classOf[DeltaLiteStreamProvider].getName)
          .option("path", t).option("maxVersionsPerTrigger", "1").load()
          .writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", ckpt)
          .start()
        q.processAllAvailable()
        q.stop()
      }
      runOnce() // delivers v0, v1; stream shuts down
      DeltaLite.append(s, t, c.filter(col("c_custkey") % 4 === 2))
      DeltaLite.append(s, t, c.filter(col("c_custkey") % 4 === 3))
      runOnce() // resumes from the checkpoint: exactly v2, v3
      s.read.parquet(sink).orderBy(col("c_custkey"))
    }, Some("""
      SELECT c_custkey, c_name, c_acctbal
      FROM customer ORDER BY c_custkey""")),

    // --------------------------------------------------------------- st26
    // Streaming FROM an ATTACHED catalog — the x71 multi-catalog
    // composed with st12's lake tailing: another team's lake root
    // attaches by alias, a feed table is created and loaded INTO it
    // entirely through qualified SQL (CTAS + two cross-catalog
    // INSERTs — each lands as one commit in the attached root's own
    // log), and the stream tails the table by resolving `alias.table`
    // through the attached catalog to the path the DSv2 source needs
    // (LakeSql.attachedLocation — a stream outlives any statement, so
    // it binds the location, not the alias). Three commits stream as
    // three rate-limited batches. Alias is run-unique so the key is
    // repeat-stable (ATTACH refuses duplicates by design).
    GQuery("st26_stream_from_attached", (s, d) => {
      import graft.LakeSql
      graft.Sql.open(s, d)
      val root = graft.util.Scratch.dir("st26_other")
      val alias = "feeds_" + java.util.UUID.randomUUID().toString
        .replace("-", "").take(8)
      // try/finally: a failure anywhere between ATTACH and DETACH must
      // not leak the alias into the session's attached-catalog map
      // (graft_catalogs would show it; x74's fixed oracle would break).
      try {
        LakeSql.script(s, s"""
          ATTACH '$root' AS $alias;
          CREATE TABLE $alias.orders_feed USING deltalite
            AS SELECT o_orderkey, o_custkey, o_totalprice FROM orders
               WHERE o_orderkey % 3 = 0;
          INSERT INTO $alias.orders_feed
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            WHERE o_orderkey % 3 = 1;
          INSERT INTO $alias.orders_feed
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            WHERE o_orderkey % 3 = 2""")
        val (_, path) = LakeSql.attachedLocation(s, alias, "orders_feed")
        val stream = s.readStream
          .format(classOf[DeltaLiteStreamProvider].getName)
          .option("path", path).option("maxVersionsPerTrigger", "1")
          .load()
        runToEnd(s, stream, "append").orderBy(col("o_orderkey"))
      } finally LakeSql.detachIfExists(s, alias)
    }, Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders ORDER BY o_orderkey""")),

    // --------------------------------------------------------------- st27
    // Tailing a JSON-LINES directory — the crawl-ingestion shape
    // (x75's raw format, streaming): new .jsonl drops land in a
    // directory and each file streams through as its own micro-batch
    // (maxFilesPerTrigger=1 over a 3-file stage), with the schema
    // declared up front (a streaming source cannot infer — the
    // production contract for a feed). The query is the standard
    // ingest-time quality gate: stateless filter + projection with a
    // derived column, so per-batch cost is O(new files) and state is
    // zero — the file-source checkpoint (processed-file log) is the
    // only bookkeeping, exactly what a 100 TB continuous crawl needs.
    // Oracle: the same filter over the documents table (net effect —
    // the directory IS the table).
    GQuery("st27_stream_json_tail", (s, d) => {
      val root = graft.util.Scratch.dir("st27")
      val stage = s"$root/docs_jsonl"
      val src = T.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      src.repartitionByRange(3, col("doc_id"))
        .write.mode("overwrite").json(stage)
      val stream = s.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1").json(stage)
        .filter(col("n_chars") >= 100)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          (col("n_chars") / 4).cast("long").as("approx_tokens"))
      runToEnd(s, stream, "append").orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, lang, source, n_chars,
             CAST(n_chars // 4 AS BIGINT) AS approx_tokens
      FROM documents WHERE n_chars >= 100
      ORDER BY doc_id""")),

    // --------------------------------------------------------------- st28
    // SLIDING window aggregation (2 h length / 30 min slide per
    // event_type) — the overlapping-window complement of st01's
    // tumbling windows: each event lands in length/slide = 4 open
    // windows, Spark expands the assignment with one Expand node and
    // keeps ONE state row per (window, type) — live state is bounded
    // by windows inside the watermark horizon × |event_type|, never by
    // stream length. Append mode emits a window when the watermark
    // passes its END, so overlapping windows close in slide-step
    // cadence. Oracle: epoch-aligned bucket arithmetic (time_bucket −
    // k·slide, k < 4 — exactly Spark's epoch-origin window assignment,
    // engine-neutral because the session runs UTC) restricted to
    // windows closed at end-of-stream.
    GQuery("st28_stream_sliding_window", (s, d) => {
      val agg = eventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "2 hours", "30 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(20,6)")).cast("double")
            .as("total"))
      runToEnd(s, agg, "append")
        .select(col("window.start").as("w_start"), col("event_type"),
          col("n"), col("total"))
        .orderBy(col("w_start"), col("event_type"))
    }, Some("""
      SELECT * FROM (
        SELECT time_bucket(INTERVAL 30 MINUTES, CAST(ts AS TIMESTAMP))
                 - k.k * (INTERVAL 30 MINUTES) AS w_start,
               event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total
        FROM events, UNNEST(range(0, 4)) AS k(k)
        GROUP BY 1, 2)
      WHERE w_start + INTERVAL 2 HOUR
              <= (SELECT MAX(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR
                  FROM events)
      ORDER BY w_start, event_type"""))
  )

  /** st09's stateful processor: per-user MapState[event_type → count].
    * State handles are acquired in init (per the transformWithState
    * lifecycle); handleInputRows folds the batch into the map and emits
    * the updated entries.
    */
  private class TypeCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), (Long, String, Long)] {
    @transient private var counts:
        org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long,
        rows: Iterator[(Long, String)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, String, Long)] = {
      val touched = scala.collection.mutable.LinkedHashMap[String, Long]()
      rows.foreach { case (_, et) =>
        val cur = touched.getOrElse(et,
          if (counts.containsKey(et)) counts.getValue(et) else 0L)
        touched(et) = cur + 1
      }
      touched.foreach { case (et, n) => counts.updateValue(et, n) }
      touched.iterator.map { case (et, n) => (user, et, n) }
    }
  }

  /** Explicit state for st08: running count / exact-decimal total /
    * max event time (micros) per user.
    */
  case class UserRunning(n: Long, total: java.math.BigDecimal,
      lastMicros: Long)

  // java.sql.Timestamp carries micros in its nanos field; getTime alone
  // is millis and silently truncates.
  private def tsToMicros(ts: java.sql.Timestamp): Long =
    ts.getTime / 1000L * 1000000L + ts.getNanos / 1000L
  private def microsToTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000000L * 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }
}
