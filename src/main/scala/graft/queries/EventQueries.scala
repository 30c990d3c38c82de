package graft.queries

import graft.core._
import graft.incr._
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The events table: windows, sessions, as-of/interval joins and the
  * stream drains over it. */
object EventQueries {
  import Inputs._

  private val streamSinkSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private val hllStreamStores = scala.collection.concurrent.TrieMap.empty[String, String]

  /** events as a file stream (one parquet file → one micro-batch), with the
    * same ts-normalization contract as [[t]] (long ns since epoch). */
  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/events.parquet").schema
    // file-stream source takes a directory; select just the events table
    normalizeEventTs(s.readStream.schema(raw)
      .option("pathGlobFilter", "events.parquet").parquet(dir))
  }

  /** The stream-stream join pair's signup/error feeds. Both queries join
    * the SAME two feeds, so the staged file-stream inputs are shared per
    * scale dir (fixture staging happens once); every invocation of either
    * query still runs its full live state-store join drain. */
  private def ssJoinFrames(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = t(s, dir, "events").withColumn("us", expr("ts div 1000"))
    val su = ev.filter(col("event_type") === "signup")
      .select(col("event_id"), col("user_id"), col("us"))
    val er = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("us").as("ets"), col("value").as("err_value"))
    (su, er)
  }

  private val sessStateStage =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private val dedupStreamStage =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private val ssJoinStage =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]
  private def ssJoinDirs(s: SparkSession, dir: String): (String, String) =
    ssJoinStage.getOrElseUpdate(dir, {
      val (su, er) = ssJoinFrames(s, dir)
      val (l, r) = (TempDirs.create("graft_ssj_l"), TempDirs.create("graft_ssj_r"))
      graft.streaming.StatefulSessions.stageOrderedFiles(
        s, java.nio.file.Paths.get(l), su, Seq.empty)
      graft.streaming.StatefulSessions.stageOrderedFiles(
        s, java.nio.file.Paths.get(r), er, Seq.empty)
      (l, r)
    })

  val all: Seq[Query] = Seq(
    // Streaming-analog windowed aggregation over the events table
    // Gap-based session windows per user (Spark session_window; the same
    // code runs streaming with a watermark). Oracle = the classic
    // gaps-and-islands formulation.
    Query("events_sessions", (s, dir) =>
      graft.streaming.EventWindows.sessionAgg(t(s, dir, "events"), "ts", "user_id",
        gap = "10 minutes")
        .select(col("user_id"), col("session_start_us"), col("n_events"),
          round(col("sum_value"), 2).as("sum_value")), oracle =
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, value FROM events),
           o AS (SELECT user_id, us, value,
                 CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 600000000
                      THEN 1 ELSE 0 END AS brk
                 FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
           sess AS (SELECT user_id, us, value,
                    sum(brk) OVER (PARTITION BY user_id ORDER BY us
                      ROWS UNBOUNDED PRECEDING) AS sid
                    FROM o)
           SELECT user_id, CAST(min(us) AS BIGINT) AS session_start_us,
             count(*) AS n_events, round(sum(value), 2) AS sum_value
           FROM sess GROUP BY user_id, sid"""),

    // The same gap sessions computed by the GENERAL custom-state operator:
    // flatMapGroupsWithState with event-time timeouts, driven as a real
    // file stream (data batch + punctuation batches that advance the
    // watermark and flush open sessions). Must equal the gaps-and-islands
    // oracle — and therefore also the built-in session_window variant.
    Query("events_sessions_state", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("us"), col("value"))
      // staged feed shared ACROSS invocations (the ssJoinDirs discipline —
      // staging 600k rows per run was pure fixture cost); every drain still
      // runs live over the files with a FRESH checkpoint: reusing the
      // checkpoint would mark the files processed and drain nothing
      val staged = sessStateStage.getOrElseUpdate(dir, {
        val d = TempDirs.create("graft_sess_state")
        graft.streaming.StatefulSessions.stageSessionFeed(s, Seq(ev), d)
        d
      })
      graft.streaming.StatefulSessions
        .sessionizeDrained(ev, gapUs = 600000000L, watermarkDelay = "10 minutes",
          streamDir = staged, stage = false)
        .select(col("user_id"), col("session_start_us"), col("n_events"),
          round(col("sum_value"), 2).as("sum_value"))
    }, streaming = true, oracle =
      // identical session semantics to events_sessions, by construction
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, value FROM events),
           o AS (SELECT user_id, us, value,
                 CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 600000000
                      THEN 1 ELSE 0 END AS brk
                 FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
           sess AS (SELECT user_id, us, value,
                    sum(brk) OVER (PARTITION BY user_id ORDER BY us
                      ROWS UNBOUNDED PRECEDING) AS sid
                    FROM o)
           SELECT user_id, CAST(min(us) AS BIGINT) AS session_start_us,
             count(*) AS n_events, round(sum(value), 2) AS sum_value
           FROM sess GROUP BY user_id, sid"""),

    // Exactly-once delivery over an at-least-once feed: every event is
    // delivered TWICE (two micro-batches); dropDuplicatesWithinWatermark
    // keys state by event_id and expires it at the watermark horizon, so
    // the aggregate equals the batch oracle over the ORIGINAL events
    Query("events_dedup_stream", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), expr("ts div 1000").as("us"),
          col("event_type"), col("value"))
      // both delivery copies staged once per fixture dir (ssJoinDirs
      // discipline); the dedup drain runs live per invocation with a fresh
      // checkpoint — see events_sessions_state for why reuse is unsafe
      val staged = dedupStreamStage.getOrElseUpdate(dir, {
        val d = TempDirs.create("graft_dedup_stream")
        graft.streaming.StatefulSessions.stageDedupFeed(ev, d)
        d
      })
      graft.streaming.StatefulSessions.dedupDrained(ev, "1 hour", staged,
        stage = false)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    }, streaming = true, oracle =
      // the duplicated redelivery must collapse back to the plain batch agg
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
           FROM events GROUP BY event_type"""),

    // Backward as-of join (union+window form — one exchange, no range-join
    // explosion): each event picks up the most recent prior-or-equal
    // 'view' event of the same user. Oracle is DuckDB's native ASOF JOIN.
    Query("events_asof", (s, dir) => {
      val ev = t(s, dir, "events").withColumn("us", expr("ts div 1000"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("us").as("vus"), col("value").as("view_value"),
          col("event_id").as("vid"))
      // tieBreak pins equal-microsecond view collisions deterministically
      // (none exist in this corpus, but output must not be layout-dependent)
      graft.ops.AsOfJoin.asOf(
        ev.select(col("event_id"), col("user_id"), col("us")), views,
        "user_id", "us", "vus", Seq("view_value"), tieBreak = Some("vid"))
    }, oracle =
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us
                      FROM events),
           v AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, value FROM events
                 WHERE event_type = 'view')
           SELECT e.event_id, e.user_id, CAST(e.us AS BIGINT) AS us,
             CAST(v.us AS BIGINT) AS asof_ts, v.value AS view_value
           FROM e ASOF LEFT JOIN v
             ON e.user_id = v.user_id AND e.us >= v.us"""),

    // The SAME as-of join through the custom-plan tier: logical node +
    // planner strategy + sorted-merge exec (plans/AsOfJoinNative). Each
    // side shuffles only its own columns and the merge streams with O(1)
    // state — no window buffer, no union padding. Same oracle as
    // events_asof: the two forms must agree row for row
    Query("events_asof_native", (s, dir) => {
      val ev = t(s, dir, "events").withColumn("us", expr("ts div 1000"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("us").as("vus"), col("value").as("view_value"),
          col("event_id").as("vid"))
      graft.plans.AsOfJoinNative.asOf(
        ev.select(col("event_id"), col("user_id"), col("us")), views,
        "user_id", "us", "vus", Seq("view_value"), tieBreak = Some("vid"))
    }, oracle =
      // the custom-plan merge exec must reproduce the SAME asof semantics
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us
                      FROM events),
           v AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, value FROM events
                 WHERE event_type = 'view')
           SELECT e.event_id, e.user_id, CAST(e.us AS BIGINT) AS us,
             CAST(v.us AS BIGINT) AS asof_ts, v.value AS view_value
           FROM e ASOF LEFT JOIN v
             ON e.user_id = v.user_id AND e.us >= v.us"""),

    // Conversion funnel: signup → view → purchase, each stage's first
    // qualifying event within 1 h of the previous stage's timestamp —
    // keyed min-aggregates and user joins only, no windows
    Query("events_funnel", (s, dir) =>
      graft.ops.Funnel.funnel(
        t(s, dir, "events").withColumn("us", expr("ts div 1000")),
        "user_id", "us", "event_type",
        Seq("signup", "view", "purchase"), withinUs = 3600000000L), oracle =
      // Funnel.funnel: first-touch stage advancement within 1h, exact
      // integer-microsecond arithmetic
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, event_type
                      FROM events),
           s0 AS (SELECT user_id, min(us) AS t FROM e
                  WHERE event_type = 'signup' GROUP BY 1),
           s1 AS (SELECT e.user_id, min(e.us) AS t FROM e JOIN s0 USING (user_id)
                  WHERE e.event_type = 'view' AND e.us >= s0.t
                    AND e.us - s0.t <= 3600000000 GROUP BY 1),
           s2 AS (SELECT e.user_id, min(e.us) AS t FROM e JOIN s1 USING (user_id)
                  WHERE e.event_type = 'purchase' AND e.us >= s1.t
                    AND e.us - s1.t <= 3600000000 GROUP BY 1)
           SELECT 0 AS step, 'signup' AS event_type,
             (SELECT count(*) FROM s0) AS n_users
           UNION ALL SELECT 1, 'view', (SELECT count(*) FROM s1)
           UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2)"""),

    // Bucketized interval join (the Flink-interval-join shape as relational
    // algebra — window-width time buckets + equi-join + exact range prune,
    // never a nested-loop): errors within one hour after each signup of the
    // same user, aggregated per signup
    Query("events_interval_join", (s, dir) => {
      val ev = t(s, dir, "events").withColumn("us", expr("ts div 1000"))
      val su = ev.filter(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), col("us"))
      val er = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("us").as("ets"), col("value").as("err_value"))
      graft.ops.IntervalJoin.intervalJoin(su, er, Seq("user_id"),
          "us", "ets", lower = 0L, upper = 3600000000L)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_err"), round(sum(col("err_value")), 2).as("sum_err"))
    }, oracle =
      """WITH su AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us
                       FROM events WHERE event_type = 'signup'),
           er AS (SELECT user_id, epoch_ns(ts) // 1000 AS ets, value FROM events
                  WHERE event_type = 'error')
           SELECT su.event_id, count(*) AS n_err,
             round(sum(er.value), 2) AS sum_err
           FROM su JOIN er ON su.user_id = er.user_id
             AND er.ets BETWEEN su.us AND su.us + 3600000000
           GROUP BY su.event_id"""),

    // The SAME interval join as a stream-STREAM join: both sides replayed
    // through readStream with watermarks, paired in the join state store,
    // drained append-mode. Must equal the batch bucketized interval join —
    // they share one oracle
    Query("events_join_stream", (s, dir) => {
      val (su, er) = ssJoinFrames(s, dir)
      val (l, r) = ssJoinDirs(s, dir)
      graft.streaming.StreamJoins.intervalJoinDrained(su, er, "user_id",
          "us", "ets", window = "1 HOUR", watermarkDelay = "1 hour",
          l, r, stage = false)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_err"), round(sum(col("err_value")), 2).as("sum_err"))
    }, streaming = true, oracle =
      // identical semantics to events_interval_join, by construction
      """WITH su AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us
                       FROM events WHERE event_type = 'signup'),
           er AS (SELECT user_id, epoch_ns(ts) // 1000 AS ets, value FROM events
                  WHERE event_type = 'error')
           SELECT su.event_id, count(*) AS n_err,
             round(sum(er.value), 2) AS sum_err
           FROM su JOIN er ON su.user_id = er.user_id
             AND er.ets BETWEEN su.us AND su.us + 3600000000
           GROUP BY su.event_id"""),

    // LEFT-OUTER stream-stream interval join: signups with NO error inside
    // the hour window surface as n_err = 0 rows once the watermark closes
    // their window (state-store eviction emits the null-extended row);
    // signups whose window is still open at stream end stay buffered —
    // the durable resume semantics — so the drained set is matches plus
    // closed-window misses, both oracle-derivable
    Query("events_join_stream_outer", (s, dir) => {
      val (su, er) = ssJoinFrames(s, dir)
      val (l, r) = ssJoinDirs(s, dir)
      graft.streaming.StreamJoins.intervalJoinLeftOuterDrained(su, er, "user_id",
          "us", "ets", window = "1 HOUR", watermarkDelay = "1 hour",
          l, r, stage = false)
        .groupBy(col("event_id"))
        .agg(count(col("err_value")).as("n_err"),
          round(sum(col("err_value")), 2).as("sum_err"))
    }, streaming = true, oracle =
      // matches ∪ closed-window misses: an unmatched signup emits its
      // n_err = 0 row iff the final watermark (min of both sides' max
      // event time − 1 h delay) passed its window end
      """WITH su AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us
                       FROM events WHERE event_type = 'signup'),
           er AS (SELECT user_id, epoch_ns(ts) // 1000 AS ets, value FROM events
                  WHERE event_type = 'error'),
           wm AS (SELECT least((SELECT max(us) FROM su),
                               (SELECT max(ets) FROM er))
                    - 3600000000 AS w),
           m AS (SELECT su.event_id, count(*) AS n_err,
                   round(sum(er.value), 2) AS sum_err
                 FROM su JOIN er ON su.user_id = er.user_id
                   AND er.ets BETWEEN su.us AND su.us + 3600000000
                 GROUP BY su.event_id)
           SELECT * FROM m
           UNION ALL
           SELECT su.event_id, CAST(0 AS BIGINT) AS n_err,
             CAST(NULL AS DOUBLE) AS sum_err
           FROM su CROSS JOIN wm
           WHERE su.event_id NOT IN (SELECT event_id FROM m)
             AND su.us + 3600000000 < wm.w"""),

    // Schema-on-read JSON sidecar extraction: parse the props column with
    // an explicit DDL schema (from_json — codegen'd, no UDF, no inference
    // scan) and aggregate the typed field per event_type
    Query("events_props_agg", (s, dir) => {
      val k = graft.sources.SemiStructured.jsonField(col("props"), "k INT", "k")
      t(s, dir, "events")
        .select(col("event_type"), k.cast("long").as("k"))
        .filter(col("k").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
    }, oracle =
      raw"""SELECT event_type, count(*) AS n,
           CAST(sum(k) AS BIGINT) AS sum_k, CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k
           FROM (SELECT event_type,
             TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
             FROM events)
           WHERE k IS NOT NULL GROUP BY event_type"""),

    // Pivot to a wide per-user activity profile (explicit value list, so
    // the schema is static and the plan is one ordinary aggregation)
    Query("events_pivot", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      t(s, dir, "events").groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("user_id") +:
          types.map(c => coalesce(col(c), lit(0L)).as(s"n_$c")): _*)
    }, oracle =
      """SELECT user_id,
             count(*) FILTER (WHERE event_type = 'click') AS n_click,
             count(*) FILTER (WHERE event_type = 'error') AS n_error,
             count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
             count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
             count(*) FILTER (WHERE event_type = 'view') AS n_view
           FROM events GROUP BY user_id"""),

    Query("events_hourly", (s, dir) => {
      val ev = t(s, dir, "events") // ts is long ns (nanosAsLong)
      // integral div — FP division would lose precision on ~1e18 ns values
      ev.groupBy(expr("ts div 3600000000000").as("hour_idx"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .select((col("hour_idx") * 3600).as("hour"), col("event_type"), col("cnt"),
          col("sum_value"))
    }, oracle =
      """SELECT CAST(epoch_ns(ts) // 3600000000000 * 3600 AS BIGINT) AS hour,
           event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
           FROM events GROUP BY 1, 2"""),

    // Integer EWMA rate smoothing + spike count per event type: the
    // hourly series folds SEQUENTIALLY (s_t = (s_{t-1} + x_t) div 2 — a
    // half-life-one-hour exponential smoother in pure integer halving)
    // with spikes flagged where x_t > 4·s_{t-1}. Sequential state can't
    // be a window sum, so the fold runs IN-ROW over the per-type series
    // (bounded by the retention window, not corpus size) with the
    // (smoothed, spikes) state bit-packed into one long — the same fold
    // runs as DuckDB's list_reduce, so the nonlinear truncated recurrence
    // is bit-exact cross-engine
    Query("events_ewma", (s, dir) => {
      val ev = t(s, dir, "events")
      val hourly = ev
        .groupBy(expr("ts div 3600000000000").as("hour_idx"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      graft.streaming.EventWindows
        .ewmaSpikes(hourly, "event_type", "hour_idx", "cnt")
        .withColumnRenamed("n_buckets", "n_hours")
    }, oracle =
      // the bit-packed sequential fold replayed as list_reduce: acc >> 20
      // is the smoothed value, acc & (2^20-1) the spike count; prepended
      // 0 is the initial state (the recurrence is nonlinear — truncated
      // halving — so only an identical fold reproduces it)
      """WITH h AS (SELECT epoch_ns(ts) // 3600000000000 AS hour_idx,
               event_type, count(*)::BIGINT AS cnt
             FROM events GROUP BY 1, 2),
           s AS (SELECT event_type, list_transform(
               list_sort(list({'hour_idx': hour_idx, 'cnt': cnt})),
               r -> r.cnt) AS xs
             FROM h GROUP BY 1),
           f AS (SELECT event_type, len(xs) AS n_hours,
               list_reduce(list_prepend(0::BIGINT, xs), (acc, x) ->
                 ((((acc >> 20) + x) >> 1) << 20)
                 + (acc & 1048575)
                 + (CASE WHEN (acc >> 20) > 0 AND x > (acc >> 20) * 4
                    THEN 1 ELSE 0 END)) AS acc
             FROM s)
           SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours,
             CAST(acc >> 20 AS BIGINT) AS ewma_final,
             CAST(acc & 1048575 AS BIGINT) AS n_spikes
           FROM f"""),

    // A2/A23 driver-checked as a REAL streaming query: the same windowed
    // aggregation computed via readStream → watermark → AvailableNow drain
    // into a memory sink. One parquet file → one micro-batch, so the
    // watermark drops nothing and the result equals the batch oracle.
    Query("events_hourly_stream", (s, dir) => BatchConf.withBatchTuning(s) {
      val stream = eventsStream(s, dir)
      val agg = graft.streaming.EventWindows
        .typedWindowAgg(stream, "ts", watermark = "2 hours", window = "1 hour")
      // monotonic counter, not identityHashCode: hash collisions with a
      // still-registered sink are possible, and repeated runs must not leak
      // one temp view each
      val sink = s"events_hourly_stream_${streamSinkSeq.incrementAndGet()}"
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // Dataset analysis is eager, so the view can be dropped immediately —
      // the returned frame keeps the resolved memory-sink plan
      val out = s.table(sink)
        .select((unix_timestamp(col("window_start"))).as("hour"), col("event_type"),
          col("cnt"), round(col("sum_value"), 2).as("sum_value"))
      s.catalog.dropTempView(sink)
      out
    }, streaming = true, oracle =
      """SELECT CAST(epoch_ns(ts) // 3600000000000 * 3600 AS BIGINT) AS hour,
           event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
           FROM events GROUP BY 1, 2"""),

    // A23 forever mode (`-f`, worker.py:76-89) driver-checked: the SAME
    // windowed aggregation under a ProcessingTime trigger — the query keeps
    // polling after the data is drained (the reference's 0.5 s idle loop);
    // processAllAvailable() is the quiescent point, then the query is
    // stopped and the drained result must equal the batch oracle.
    Query("events_hourly_forever", (s, dir) => BatchConf.withBatchTuning(s) {
      val stream = eventsStream(s, dir)
      val agg = graft.streaming.EventWindows
        .typedWindowAgg(stream, "ts", watermark = "2 hours", window = "1 hour")
      val sink = s"events_hourly_forever_${streamSinkSeq.incrementAndGet()}"
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
        .start()
      q.processAllAvailable()
      q.stop()
      q.awaitTermination()
      val out = s.table(sink)
        .select((unix_timestamp(col("window_start"))).as("hour"), col("event_type"),
          col("cnt"), round(col("sum_value"), 2).as("sum_value"))
      s.catalog.dropTempView(sink)
      out
    }, streaming = true, oracle =
      """SELECT CAST(epoch_ns(ts) // 3600000000000 * 3600 AS BIGINT) AS hour,
           event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
           FROM events GROUP BY 1, 2"""),

    // Stream-STATIC enrichment — the standard streaming dimension join: the
    // event stream joins a broadcast static dimension (re-resolved per
    // micro-batch, so a slowly-changing dimension picks up updates) and
    // aggregates per dimension attribute. No state store involvement for
    // the join itself; the stream side never shuffles before the agg
    Query("events_enrich_stream", (s, dir) => BatchConf.withBatchTuning(s) {
      val stream = eventsStream(s, dir)
      val cust = broadcast(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey")))
      val agg = stream.join(cust, col("user_id") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sv"))
      val sink = s"events_enrich_stream_${streamSinkSeq.incrementAndGet()}"
      val q = agg.writeStream
        .outputMode("complete").format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val out = s.table(sink)
        .select(col("c_nationkey"), col("n_events"),
          round(col("sv"), 2).as("sum_value"))
      s.catalog.dropTempView(sink)
      out
    }, streaming = true, oracle =
      """SELECT c.c_nationkey, count(*) AS n_events,
             round(sum(e.value), 2) AS sum_value
           FROM events e JOIN customer c ON e.user_id = c.c_custkey
           GROUP BY c.c_nationkey"""),

    // The production sink shape for the same streaming aggregation: UPDATE
    // output mode drained through foreachBatch into the durable bucketed
    // store — per-batch IO tracks the changed key set and the result lives
    // in the store, not in driver memory (the complete-mode memory sink
    // above is the test-harness variant; this is what a 100 TB feed runs)
    Query("events_hourly_upsert", (s, dir) => BatchConf.withBatchTuning(s) {
      val stream = eventsStream(s, dir)
      val agg = graft.streaming.EventWindows
        .typedWindowAgg(stream, "ts", watermark = "2 hours", window = "1 hour")
      val store = new BucketedStateStore(
        TempDirs.create("graft_ev_upsert"),
        numBuckets = 16)
      graft.streaming.EventWindows.drainToStore(agg, store, "hourly",
        concat_ws("|", unix_timestamp(col("window_start")).cast("string"),
          col("event_type")))
      graft.streaming.EventWindows.storedTable(s, store, "hourly")
        .select(unix_timestamp(col("window_start")).as("hour"), col("event_type"),
          col("cnt"), round(col("sum_value"), 2).as("sum_value"))
    }, streaming = true, oracle =
      """SELECT CAST(epoch_ns(ts) // 3600000000000 * 3600 AS BIGINT) AS hour,
           event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
           FROM events GROUP BY 1, 2"""),

    // Per-key BURST detection on the event stream: hours where a user's
    // event count exceeds 2× their own median hourly rate — the robust
    // (median-based) outlier gate; per-user medians are a corpus-stat
    // aggregate over integer counts joined back, never a per-user sort of
    // raw events
    Query("events_rate_outliers", (s, dir) => {
      val ev = t(s, dir, "events")
      val hourly = graft.ops.Caches.track(
        ev.groupBy(col("user_id"), expr("ts div 3600000000000").as("hour_idx"))
          .agg(count(lit(1)).as("cnt")))
      val med = hourly.groupBy(col("user_id"))
        .agg(round(percentile(col("cnt"), lit(0.5)), 4).as("med"))
      hourly.join(med, Seq("user_id"))
        .filter(col("cnt") > col("med") * 2)
        .select(col("user_id"), (col("hour_idx") * 3600).as("hour"),
          col("cnt"), col("med"))
    }, oracle =
      """WITH h AS (SELECT user_id, epoch_ns(ts) // 3600000000000 AS hour_idx,
                count(*) AS cnt
              FROM events GROUP BY 1, 2),
            m AS (SELECT user_id, round(quantile_cont(cnt, 0.5), 4) AS med
                  FROM h GROUP BY user_id)
            SELECT h.user_id, CAST(hour_idx * 3600 AS BIGINT) AS hour, cnt, med
            FROM h JOIN m USING (user_id) WHERE cnt > med * 2"""),

    // STREAMING WINDOWED CARDINALITY: per-hour distinct users from HLL
    // registers folded forward under a real readStream — each micro-batch
    // sketches only its own events and max-merges into durable state; the
    // drained registers must equal the direct batch sketch (same
    // exact-integer oracle family as sketch_distinct_hll)
    Query("events_uniques_stream", (s, dir) => {
      val stateDir = hllStreamStores.getOrElseUpdate(dir, {
        val root = TempDirs.create("graft_hlls")
        val streamDir = TempDirs.create("graft_hlls_in")
        t(s, dir, "events")
          .select((expr("ts div 3600000000000") * 3600).as("hour"), col("user_id"))
          .repartition(4).write.mode("overwrite").parquet(streamDir)
        var cur: Option[String] = None
        val q = s.readStream.schema(s.read.parquet(streamDir).schema)
          .option("maxFilesPerTrigger", "1").parquet(streamDir)
          .writeStream
          .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
            val batchSketch = graft.text.Sketches.hllSketch(
              b.toDF(), Seq(col("hour")), col("user_id"))
            val merged = cur match {
              case Some(p) => s.read.parquet(p).unionByName(batchSketch)
                .groupBy(col("hour"), col("__reg")).agg(max(col("__mx")).as("__mx"))
              case None => batchSketch
            }
            val out = s"$root/b$id"
            merged.write.mode("overwrite").parquet(out)
            cur = Some(out)
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        cur.getOrElse(sys.error("empty stream"))
      })
      graft.text.Sketches.hllFold(s.read.parquet(stateDir), Seq(col("hour")))
    }, streaming = true, oracle =
      // drained per-hour registers == the direct batch sketch over events
      hllOracleSqlOver(
        "SELECT CAST(epoch_ns(ts) // 3600000000000 * 3600 AS BIGINT) AS hour, " +
          "md5('graft-hll:' || user_id::VARCHAR) AS h FROM events " +
          "WHERE user_id IS NOT NULL",
        Some("hour"))),

    // ---- behavioral time-series (events) --------------------------------

    // RFM segmentation: per-user recency / frequency / monetary plus
    // quartile scores. Scores come from EXACT percentile boundaries
    // (one agg → 3 doubles of control data, broadcast back as literals-
    // via-crossJoin) and a narrow comparison — NOT ntile, whose global
    // ordering is a single-partition sort at scale. Equal-to-boundary
    // lands in the lower bucket; both engines interpolate quantiles with
    // the same formula, so the scores hash-match
    Query("events_rfm", (s, dir) => {
      val base = t(s, dir, "events")
        .select(col("user_id"), expr("ts div 86400000000000").as("day"),
          col("value"))
        .groupBy(col("user_id"))
        .agg(max(col("day")).as("last_day"), count(lit(1)).as("frequency"),
          round(sum(col("value")), 2).as("monetary"))
      val qs = base.agg(
        percentile(col("last_day"), lit(0.25)).as("r1"),
        percentile(col("last_day"), lit(0.5)).as("r2"),
        percentile(col("last_day"), lit(0.75)).as("r3"),
        percentile(col("frequency"), lit(0.25)).as("f1"),
        percentile(col("frequency"), lit(0.5)).as("f2"),
        percentile(col("frequency"), lit(0.75)).as("f3"),
        percentile(col("monetary"), lit(0.25)).as("m1"),
        percentile(col("monetary"), lit(0.5)).as("m2"),
        percentile(col("monetary"), lit(0.75)).as("m3"))
      def score(m: Column, a: Column, b: Column, c: Column): Column =
        lit(1) + (m > a).cast("int") + (m > b).cast("int") + (m > c).cast("int")
      base.crossJoin(broadcast(qs)).select(col("user_id"),
        (lit(20512L) - col("last_day")).as("recency_days"), // fixed horizon
        col("frequency"), col("monetary"),
        score(col("last_day"), col("r1"), col("r2"), col("r3")).as("r_score"),
        score(col("frequency"), col("f1"), col("f2"), col("f3")).as("f_score"),
        score(col("monetary"), col("m1"), col("m2"), col("m3")).as("m_score"))
    }, oracle =
      """WITH base AS (SELECT user_id,
             max(epoch_ns(ts) // 86400000000000) AS last_day,
             count(*) AS frequency, round(sum(value), 2) AS monetary
             FROM events GROUP BY 1),
           q AS (SELECT
             quantile_cont(last_day, 0.25) AS r1,
             quantile_cont(last_day, 0.5) AS r2,
             quantile_cont(last_day, 0.75) AS r3,
             quantile_cont(frequency, 0.25) AS f1,
             quantile_cont(frequency, 0.5) AS f2,
             quantile_cont(frequency, 0.75) AS f3,
             quantile_cont(monetary, 0.25) AS m1,
             quantile_cont(monetary, 0.5) AS m2,
             quantile_cont(monetary, 0.75) AS m3 FROM base)
           SELECT user_id, 20512 - last_day AS recency_days,
             frequency, monetary,
             1 + (last_day > r1)::INT + (last_day > r2)::INT
               + (last_day > r3)::INT AS r_score,
             1 + (frequency > f1)::INT + (frequency > f2)::INT
               + (frequency > f3)::INT AS f_score,
             1 + (monetary > m1)::INT + (monetary > m2)::INT
               + (monetary > m3)::INT AS m_score
           FROM base CROSS JOIN q"""),

    // Cohort retention matrix: users grouped by first-seen day, distinct
    // actives per (cohort, day-offset) — integer counting, hash-exact.
    // Two shuffles (cohort min, matrix count); the user→cohort join
    // broadcasts at dimension scale and shuffles on user_id beyond it
    Query("events_retention", (s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      val cohort = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
      e.join(cohort, "user_id")
        .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("users"))
    }, oracle =
      """WITH e AS (SELECT user_id,
             epoch_ns(ts) // 86400000000000 AS day FROM events),
           c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1)
           SELECT c.cohort_day, e.day - c.cohort_day AS day_offset,
             count(DISTINCT e.user_id) AS users
           FROM e JOIN c ON c.user_id = e.user_id GROUP BY 1, 2"""),

    // Per-user sliding mean over the last 5 events (ROWS frame, ordered by
    // event time with id tiebreak) — the trailing-window smoothing of a
    // behavioral feature pipeline. Partition-local window, one shuffle on
    // user_id
    Query("events_moving_avg", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(-4, org.apache.spark.sql.expressions.Window.currentRow)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("us"), col("value"))
        .select(col("user_id"), col("event_id"), col("us"),
          round(avg(col("value")).over(w), 4).as("mov_avg"))
    }, oracle =
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us,
             value FROM events)
           SELECT user_id, event_id, us,
             round(avg(value) OVER (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS mov_avg
           FROM e""")
  )
}
