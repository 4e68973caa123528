package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{GraftSession, Scaffold, Tables}
import graft.streaming.EventStreams

/** Batch-mode gate queries for the streaming operators: the SAME
  * transform functions (EventStreams.*) the streaming specs drive
  * through a file-source → memory-sink query, replayed here over the
  * events parquet so the DuckDB oracle can hash-check the windowing
  * semantics (tumbling/sliding alignment, session gap logic, dedup).
  */
object StreamingQueries {

  /** Memory-sink query name of gate `gate` over input `dir`: the sink
    * registers a temp view, so it must be an SQL identifier — no dots. */
  private def sinkName(gate: String, dir: String): String =
    gate + "_" + Scaffold.tag(dir).replace(".", "_")

  /** Start `df` into an append-mode memory sink named `name`. */
  private def toMemory(df: DataFrame, name: String, ck: String)
      : StreamingQuery =
    df.writeStream
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", ck)
      .outputMode("append")
      .start()

  def tumbling(s: SparkSession, dir: String): DataFrame =
    EventStreams.tumblingCounts(Tables.events(s, dir))
      .orderBy(col("window_start"), col("event_type"))

  val tumblingSql: String =
    """SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin

  def trending(s: SparkSession, dir: String): DataFrame =
    EventStreams.trendingTopK(Tables.events(s, dir))
      .orderBy(col("window_start"), col("rank"))

  val trendingSql: String =
    """WITH c AS (
      |  SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
      |    event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT window_start,
      |    ROW_NUMBER() OVER (PARTITION BY window_start
      |      ORDER BY n DESC, event_type) AS rank,
      |    event_type, n
      |  FROM c)
      |SELECT window_start, CAST(rank AS BIGINT) AS rank, event_type, n
      |FROM r WHERE rank <= 2
      |ORDER BY window_start, rank""".stripMargin

  def sliding(s: SparkSession, dir: String): DataFrame =
    EventStreams.slidingCounts(Tables.events(s, dir))
      .orderBy(col("window_start"), col("event_type"))

  /** An event in 10-min/5-min-slide windows belongs to exactly the
    * windows starting at floor5(ts) and floor5(ts)-5min. */
  val slidingSql: String =
    """SELECT window_start, event_type, COUNT(*) AS n FROM (
      |  SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
      |         event_type FROM events
      |  UNION ALL
      |  SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes',
      |         event_type FROM events)
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin

  def session(s: SparkSession, dir: String): DataFrame =
    EventStreams.sessionCounts(Tables.events(s, dir))
      .orderBy(col("user_id"), col("session_start"))

  /** Gaps-and-islands reconstruction of session_window semantics: a
    * gap of >= the session timeout starts a new session (Spark's
    * session end `last_ts + gap` is exclusive). */
  val sessionSql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |sessions AS (
      |  SELECT user_id, ts, value,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM marked)
      |SELECT MIN(ts) AS session_start, user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM sessions
      |GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** Dedup over a corpus with every event duplicated (union with
    * itself) — survivors must equal the original min-aggregates. */
  def dedup(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    EventStreams.dedupEvents(e.union(e)).orderBy(col("event_id"))
  }

  val dedupSql: String =
    """SELECT event_id, MIN(ts) AS ts, MIN(user_id) AS user_id,
      |  MIN(event_type) AS event_type, MIN(value) AS value
      |FROM events
      |GROUP BY event_id
      |ORDER BY event_id""".stripMargin

  /** Stream-stream funnel join (view → purchase within 4 h). */
  def interval(s: SparkSession, dir: String): DataFrame =
    EventStreams.intervalJoin(Tables.events(s, dir), "view", "purchase")
      .orderBy(col("user_id"), col("a_id"), col("b_id"))

  val intervalSql: String =
    """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
      |  a.ts AS a_ts, b.ts AS b_ts
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND a.event_type = 'view' AND b.event_type = 'purchase'
      | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '4 hours'
      |ORDER BY 1, 2, 3""".stripMargin

  /** Left-outer funnel join: every view, with its purchases within
    * 4 h OR one null row when none happened — the attribution-with-
    * misses shape (streaming mode emits the miss when the watermark
    * passes the window end; the batch gate replays the same plan).
    * Nullable sort key ⇒ oracle says NULLS FIRST (Spark's ASC
    * default). */
  def intervalOuter(s: SparkSession, dir: String): DataFrame =
    EventStreams.intervalJoin(Tables.events(s, dir), "view", "purchase",
        joinType = "left_outer")
      .orderBy(col("user_id"), col("a_id"), col("b_id"))

  val intervalOuterSql: String =
    """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
      |  a.ts AS a_ts, b.ts AS b_ts
      |FROM (SELECT * FROM events WHERE event_type = 'view') a
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      |  ON a.user_id = b.user_id
      | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '4 hours'
      |ORDER BY 1, 2, 3 NULLS FIRST""".stripMargin

  /** Stream-static enrichment (broadcast dim join + aggregation). */
  def enrich(s: SparkSession, dir: String): DataFrame =
    EventStreams.enrichedSegmentTotals(
        Tables.events(s, dir), Tables.customer(s, dir))
      .orderBy(col("c_mktsegment"))

  val enrichSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Custom keyed state (flatMapGroupsWithState) driven through a
    * REAL streaming query: events parquet → file stream → per-user
    * running (count, exact-scaled value total) state → memory sink,
    * processed to completion. The final state per user (the emitted
    * row with the highest n_events — Append mode emits one row per
    * user per micro-batch) must equal the batch totals, which is the
    * oracle's plain GROUP BY. Exact-long accumulation makes the
    * value total order-independent, so the gate is hash-checkable. */
  def running(s: SparkSession, dir: String): DataFrame = {
    val srcDir = Scaffold.scratch(dir, "stream_running_src")
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    Scaffold.setup {
      ev.repartition(4).write.mode("overwrite").parquet(srcDir)
    }
    val out = EventStreams.runAsStream(s, srcDir, ev.schema,
      sinkName("stream_running", dir),
      df => EventStreams.runningUserTotalsExact(df).toDF)
    out.groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("total_v4"))).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        (col("m.total_v4").cast(org.apache.spark.sql.types.DoubleType)
          / 10000.0).as("total_value"))
      .orderBy(col("user_id"))
  }

  val runningSql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(floor(value * 10000.0 + 0.5) AS BIGINT))
      |    AS DOUBLE) / 10000.0 AS total_value
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** [[running]] executed under the RocksDB state-store provider —
    * the 100 TB streaming answer to state that outgrows the JVM heap:
    * the default HDFS-backed store keeps every key in executor memory
    * (per-user state × 1e9 users OOMs), while RocksDB spills state to
    * local SSD with changelog checkpointing. Identical results under
    * both providers is exactly the contract this gate pins; the
    * oracle is the same batch GROUP BY as `stream_running`.
    *
    * The provider conf is captured by the streaming query AT START,
    * so setting and restoring it around the run scopes RocksDB to
    * this gate only. */
  def runningRocksDb(s: SparkSession, dir: String): DataFrame =
    rocksDbRunning(s, dir, "stream_rocksdb",
      df => EventStreams.runningUserTotalsExact(df).toDF)

  /** [[running]] on the arbitrary-state v2 API (`transformWithState`
    * — see [[EventStreams.RunningTotalsProcessor]]); v2 requires the
    * RocksDB provider, so it shares the wrapper. Same batch oracle:
    * identical final state is exactly the v1→v2 migration contract. */
  def runningTws(s: SparkSession, dir: String): DataFrame =
    rocksDbRunning(s, dir, "stream_tws",
      df => EventStreams.runningUserTotalsTws(df).toDF)

  private def rocksDbRunning(s: SparkSession, dir: String, name: String,
      transform: DataFrame => DataFrame): DataFrame = {
    val srcDir = Scaffold.scratch(dir, s"${name}_src")
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    Scaffold.setup {
      ev.repartition(4).write.mode("overwrite").parquet(srcDir)
    }
    val out = EventStreams.withRocksDb(s) {
      EventStreams.runAsStream(s, srcDir, ev.schema,
        sinkName(name, dir), transform)
    }
    out.groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("total_v4"))).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        (col("m.total_v4").cast(org.apache.spark.sql.types.DoubleType)
          / 10000.0).as("total_value"))
      .orderBy(col("user_id"))
  }

  /** Watermark-EVICTION gate: a real two-micro-batch replay proving a
    * too-late event is DROPPED, not silently aggregated. Batch 1
    * plays every event from 02:00 on (so the watermark advances to
    * max(ts) − 10 min ≈ Jan 30); batch 2 then replays the first two
    * hours of Jan 1 — weeks behind the watermark, so the 5-minute
    * windows those rows belong to were already finalized and their
    * state evicted, and Structured Streaming must discard them.
    *
    * The sink (append mode) therefore holds EXACTLY the windows of
    * the on-time rows whose end the watermark passed — the batch
    * oracle states that kept set declaratively. Failure modes this
    * pins: late rows resurrecting evicted windows (extra sink rows →
    * hash mismatch) and premature finalization (missing windows).
    * The un-emitted tail (windows still open at shutdown) is part of
    * the stated set: `window_end ≤ max(ts) − 10 min`. */
  def lateDrop(s: SparkSession, dir: String): DataFrame = {
    val name = sinkName("stream_late", dir)
    val cut = lit("2024-01-01 02:00:00").cast("timestamp")
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    GraftSession.withConf(s, EventStreams.GateStatePartitions) {
      EventStreams.replay(name, Scaffold.scratch(dir, "stream_late_src"),
          Seq(ev.filter(col("ts") >= cut).repartition(2),
            ev.filter(col("ts") < cut))) { (stream, ck) =>
        toMemory(EventStreams.tumblingCounts(stream), name, ck)
      }
    }
    s.table(name).orderBy(col("window_start"), col("event_type"))
  }

  /** Keyed-state EXPIRY via event-time timeout
    * ([[EventStreams.sessionTtlCloseouts]]): batch 1 streams the
    * whole corpus, batch 2 appends a single far-future nudge event
    * that drags the watermark past every user's `last_seen + gap`,
    * so every corpus user's state times out, emits its close-out
    * record exactly once, and is REMOVED. The nudge user itself
    * never times out and therefore never appears — which is itself
    * part of the contract. Oracle = plain per-user GROUP BY, since
    * each user's full history precedes its close. */
  def stateTtl(s: SparkSession, dir: String): DataFrame = {
    val name = sinkName("stream_ttl", dir)
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    // nudge: one event a year past the corpus drags the watermark
    // beyond every user's last_seen + gap
    val nudge = Scaffold.setup {
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      val nudgeTs = new java.sql.Timestamp(
        maxTs.getTime + 365L * 86400000L)
      import s.implicits._
      Seq((-1L, nudgeTs, -1L, "nudge", 0.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
    }
    GraftSession.withConf(s, EventStreams.GateStatePartitions) {
      EventStreams.replay(name, Scaffold.scratch(dir, "stream_ttl_src"),
          Seq(ev.repartition(2), nudge)) { (stream, ck) =>
        toMemory(EventStreams
          .sessionTtlCloseouts(stream, gapSec = 3600, delaySec = 60)
          .toDF, name, ck)
      }
    }
    s.table(name).orderBy(col("user_id"))
  }

  val stateTtlSql: String =
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(epoch_ms(MIN(ts)) AS BIGINT) AS first_ms,
      |  CAST(epoch_ms(MAX(ts)) AS BIGINT) AS last_ms
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  val lateDropSql: String =
    """WITH ontime AS (
      |  SELECT * FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-01 02:00:00'),
      |wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM ontime),
      |agg AS (
      |  SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
      |    event_type, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |  FROM ontime GROUP BY 1, 2)
      |SELECT window_start, event_type, n, total_value
      |FROM agg, wm
      |WHERE window_start + INTERVAL 5 MINUTE <= wm.w
      |ORDER BY window_start, event_type""".stripMargin

  /** Streaming left-outer join MISS emission, driven through a real
    * two-micro-batch query (the streaming-semantics corner
    * `stream_interval_join_outer`'s batch replay can NOT pin): a view
    * with no purchase inside its 4 h window emits its null row only
    * once the watermark passes `a_ts + 4 h` and join state is
    * evicted — and late input arriving after that can never resurrect
    * or re-match it.
    *
    * Batch 1 plays every on-time event (`ts >= cut`); its closing
    * watermark is `least(max view ts, max purchase ts) − 10 min` —
    * the GLOBAL watermark is the min across the two watermark
    * operators (default `multipleWatermarkPolicy=min`), a semantics
    * detail this gate deliberately encodes. Batch 2 appends only
    * pre-`cut`
    * (late) rows: they are dropped at the input watermark filter, so
    * the only thing batch 2 can do is evict expired view-side state
    * and emit the misses eligible under batch 1's watermark. The sink
    * therefore holds EXACTLY: all matched on-time pairs (emitted as
    * found) plus one null row per unmatched on-time view with
    * `a_ts + 4 h < wm` — the set the oracle states declaratively.
    * Failure modes pinned: premature miss emission (extra nulls),
    * state outliving its event-time bound (missing nulls), and late
    * rows re-entering the join (extra pairs). */
  def outerMiss(s: SparkSession, dir: String): DataFrame = {
    val name = sinkName("stream_outer", dir)
    val cut = lit("2024-01-01 02:00:00").cast("timestamp")
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    GraftSession.withConf(s, EventStreams.GateStatePartitions) {
      EventStreams.replay(name, Scaffold.scratch(dir, "stream_outer_src"),
          Seq(ev.filter(col("ts") >= cut).repartition(2),
            ev.filter(col("ts") < cut))) { (stream, ck) =>
        toMemory(EventStreams.intervalJoin(stream, "view", "purchase",
          joinType = "left_outer"), name, ck)
      }
    }
    s.table(name).orderBy(col("user_id"), col("a_id"), col("b_id"))
  }

  val outerMissSql: String =
    """WITH ontime AS (
      |  SELECT * FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-01 02:00:00'),
      |a AS (SELECT * FROM ontime WHERE event_type = 'view'),
      |b AS (SELECT * FROM ontime WHERE event_type = 'purchase'),
      |wm AS (SELECT least((SELECT max(ts) FROM a),
      |                    (SELECT max(ts) FROM b))
      |         - INTERVAL 10 MINUTE AS w),
      |m AS (
      |  SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
      |         a.ts AS a_ts, b.ts AS b_ts
      |  FROM a JOIN b ON a.user_id = b.user_id
      |   AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '4 hours'),
      |miss AS (
      |  SELECT a.user_id, a.event_id AS a_id, CAST(NULL AS BIGINT) AS b_id,
      |         a.ts AS a_ts, CAST(NULL AS TIMESTAMP) AS b_ts
      |  FROM a, wm
      |  WHERE a.ts + INTERVAL '4 hours' < wm.w
      |    AND NOT EXISTS (SELECT 1 FROM m WHERE m.a_id = a.event_id))
      |SELECT * FROM m
      |UNION ALL SELECT * FROM miss
      |ORDER BY user_id, a_id, b_id NULLS FIRST""".stripMargin

  /** Exact distinct users per tumbling window via the streamable
    * dedup-before-aggregate rewrite (COUNT(DISTINCT) itself is not a
    * streaming aggregate). Batch replay of the identical plan;
    * StreamingSpec drives the two chained stateful operators live. */
  def windowDistinct(s: SparkSession, dir: String): DataFrame =
    EventStreams.windowDistinctUsers(Tables.events(s, dir))
      .orderBy(col("window_start"), col("event_type"))

  val windowDistinctSql: String =
    """SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
      |  event_type, COUNT(DISTINCT user_id) AS n_users
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin

  /** The keyed-state transform behind [[streamAnomalyZ]], exposed
    * for the plan contract (TransformWithState, zero joins). */
  private[graft] def anomalyStateUpdates(events: DataFrame)
      : org.apache.spark.sql.Dataset[graft.streaming.UserAnomTotals] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import events.sparkSession.implicits._
    org.apache.spark.sql.GraftSqlBridge
      .ensureStateStoreCoordinator(events.sparkSession)
    events
      .select(col("user_id"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("x"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.AnomalyZProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming per-user anomaly screen — the control-chart z-test
    * maintained INCREMENTALLY: every arriving event value is judged
    * against the user's OWN history as of the previous micro-batch
    * (|z| > 3 in the cross-multiplied exact-integer form — no
    * division, no sqrt, so the flag decision is hash-exact and, by
    * judging against pre-batch state only, independent of
    * within-batch arrival order). Per-user (n, Σx, Σx², flags) live
    * in RocksDB `transformWithState` ValueState
    * ([[graft.streaming.AnomalyZProcessor]] — the keyed-store
    * pattern: per-batch I/O ∝ batch + touched users, changelog
    * checkpointing). Three micro-batches replay the events split by
    * event_id mod 3; the oracle states the SAME semantics in batch
    * SQL — each row tested against the stats of strictly earlier
    * batches via a RANGE window on the batch index. */
  def streamAnomalyZ(s: SparkSession, dir: String): DataFrame = {
    val outDir = Scaffold.scratch(dir, "anomstream/updates")
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"))
    Scaffold.setup(Scaffold.rm(s, outDir))
    val batches = (0 to 2).map(m =>
      ev.filter(col("event_id") % 3 === m).coalesce(2))
    EventStreams.withRocksDb(s, EventStreams.GateStatePartitions) {
      EventStreams.replay("anomstream_" + Scaffold.tag(dir),
          Scaffold.scratch(dir, "anomstream/src"), batches) { (stream, ck) =>
        EventStreams.toParquet(
          anomalyStateUpdates(stream).toDF(), outDir, ck)
      }
    }
    s.read.parquet(outDir)
      .groupBy(col("user_id"))
      .agg(max(struct(col("n"), col("sum"), col("sumsq"),
        col("flags"))).as("m"))
      .select(col("user_id"), col("m.n").as("n_events"),
        col("m.flags").as("n_flagged"),
        expr("m.sum div m.n").as("mean_cents"))
      .orderBy(col("user_id"))
  }

  val streamAnomalyZSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id % 3 AS b,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
      |  FROM events),
      |pre AS (
      |  SELECT user_id, x,
      |    COUNT(*) OVER w AS n0,
      |    SUM(x) OVER w AS s0,
      |    SUM(x * x) OVER w AS q0
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY b
      |    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CASE WHEN n0 >= 2
      |      AND (x * n0 - s0) * (x * n0 - s0)
      |        > 9 * (n0 * q0 - s0 * s0)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
      |  CAST(SUM(x) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
      |    AS mean_cents
      |FROM pre GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_anomaly_z" -> (streamAnomalyZ _),
    "stream_window_distinct" -> (windowDistinct _),
    "stream_running"  -> (running _),
    "stream_rocksdb"  -> (runningRocksDb _),
    "stream_tws"      -> (runningTws _),
    "stream_late_drop" -> (lateDrop _),
    "stream_state_ttl" -> (stateTtl _),
    "stream_outer_miss" -> (outerMiss _),
    "stream_tumbling" -> (tumbling _),
    "stream_trending" -> (trending _),
    "stream_sliding"  -> (sliding _),
    "stream_session"  -> (session _),
    "stream_dedup"    -> (dedup _),
    "stream_interval_join" -> (interval _),
    "stream_interval_join_outer" -> (intervalOuter _),
    "stream_enrich"   -> (enrich _))

  def oracle: Map[String, String] = Map(
    "stream_anomaly_z" -> streamAnomalyZSql,
    "stream_window_distinct" -> windowDistinctSql,
    "stream_running"  -> runningSql,
    "stream_rocksdb"  -> runningSql,
    "stream_tws"      -> runningSql,
    "stream_late_drop" -> lateDropSql,
    "stream_state_ttl" -> stateTtlSql,
    "stream_outer_miss" -> outerMissSql,
    "stream_tumbling" -> tumblingSql,
    "stream_trending" -> trendingSql,
    "stream_sliding"  -> slidingSql,
    "stream_session"  -> sessionSql,
    "stream_dedup"    -> dedupSql,
    "stream_interval_join" -> intervalSql,
    "stream_interval_join_outer" -> intervalOuterSql,
    "stream_enrich"   -> enrichSql)
}
