package graft.streaming

import graft.{Q, Tables, Module}
import graft.Exact._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** SURVEY §2.H — event-stream operators over `events`.
  *
  * Each operator has two twins sharing semantics: a *batch* plan (below,
  * oracle-checked by DuckDB) and a *Structured Streaming* plan
  * ([[Streaming]]) exercised with MemoryStream in StreamingSpec. The
  * batch window-agg transform is literally the same code applied to a
  * streaming DataFrame; sessionization swaps the lag/cumsum window for
  * flatMapGroupsWithState with an event-time gap timeout so state is
  * bounded per user and expires at the watermark.
  */
object StreamingH extends Module {

  // st_window_agg — tumbling 1h window × event_type: one shuffle, partial
  // aggregation; in streaming the same plan runs incrementally with a
  // watermark bounding state.
  private val stWindowAgg = Q(
    "st_window_agg",
    // NO trailing orderBy (r14): the aggregate needs exactly one
    // exchange; the output sort added a second (range) exchange over
    // the hours×types surface — which GROWS with the data's time span —
    // for an ordering nothing consumes (a streaming sink couldn't even
    // honor it). Multiset compare; oracle ORDER BY dropped too.
    (s, d) => Streaming.windowAgg(Tables.events(s, d)),
    Some("""SELECT date_trunc('hour', ts) AS window_start, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(ROUND(value * 1000.0) AS BIGINT)) AS DOUBLE) / 1000.0 AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin)
  )

  // st_sessionize — 30-minute-gap sessions per user: batch twin is a
  // single shuffle on user_id feeding both lag() and the running session
  // counter; deterministic tiebreak on event_id.
  private val stSessionize = Q(
    "st_sessionize",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("prev_us", unix_micros(lag(col("ts"), 1).over(w)))
        .withColumn("new_s",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_s")).over(wRun))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"))
    },
    Some("""WITH s AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sid AS (
      |  SELECT user_id, ts, CAST(SUM(new_s) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM s)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  MIN(ts) AS session_start, MAX(ts) AS session_end
      |FROM sid GROUP BY user_id, session_id
      |""".stripMargin)
  )

  // st_dedup — exactly-once ingest dedup by event_id (the standard
  // production readStream shape, tying sections D and H). The batch twin
  // is oracle-checked (event_id is unique in the synthetic feed, so the
  // deduped set is deterministic); StreamingSpec plants real duplicates
  // into a MemoryStream and asserts the watermark-bounded streaming twin
  // emits exactly the batch result.
  private val stDedup = Q(
    "st_dedup",
    (s, d) => Streaming.dedup(Tables.events(s, d)),
    Some("""SELECT event_id, ts, user_id, event_type, value
      |FROM events""".stripMargin)
  )

  // st_asof — as-of join: every click event carries the user's most
  // recent STRICTLY PRIOR purchase (value + event id). Implemented as one
  // shuffle on user_id + an ignore-nulls last_value window — the scalable
  // as-of shape (no range-join blowup, no per-key state larger than one
  // row). Deterministic tiebreak (ts, event_id) on both sides.
  private val stAsof = Q(
    "st_asof",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .withColumn("asof_value",
          last(when(col("event_type") === "purchase", col("value")), ignoreNulls = true).over(w))
        .withColumn("asof_event_id",
          last(when(col("event_type") === "purchase", col("event_id")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "asof_event_id", "asof_value")
    },
    Some("""WITH t AS (
      |  SELECT event_id, user_id, ts, event_type,
      |    last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
      |      OVER w AS asof_value,
      |    last_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
      |      OVER w AS asof_event_id
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT event_id, user_id, ts, asof_event_id, asof_value FROM t
      |WHERE event_type = 'click'""".stripMargin)
  )

  // st_interval_join — every (click, purchase) pair of the same user with
  // the purchase inside the 24 h window before the click. Batch plan: one
  // shuffle on user_id, sort-merge equi-join + range residual — never a
  // cartesian. The streaming twin is the watermarked STREAM-STREAM inner
  // join (Streaming.intervalJoinStream): both sides buffer state bounded
  // by watermark + join window, the canonical Structured Streaming shape.
  private val stIntervalJoin = Q(
    "st_interval_join",
    (s, d) => Streaming.intervalJoin(Tables.events(s, d)),
    Some("""SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
      |  p.event_id AS purchase_id, p.ts AS purchase_ts, p.value AS purchase_value
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND p.ts <= c.ts AND p.ts > c.ts - INTERVAL 24 HOUR
      |""".stripMargin)
  )

  // st_interval_join_left — st_interval_join's LEFT OUTER sibling: every
  // click with its prior-24h purchases, or ONE NULL-extended row when
  // there are none — the conversion-FAILURE surface the inner join
  // silently drops. Batch plan identical (equi join on user_id + range
  // residual; the outer side only adds the null fill). Streaming twin:
  // Spark's watermarked stream-stream LEFT OUTER join — matched pairs
  // emit as they join, a clickless row emits once the watermark expires
  // the click's buffered state, so state stays bounded exactly as in
  // the inner twin (StreamingSpec plants a purchase-less click and
  // watches its NULL row emit after the watermark passes).
  private val stIntervalJoinLeft = Q(
    "st_interval_join_left",
    (s, d) => Streaming.intervalJoinLeft(Tables.events(s, d)),
    Some("""SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
      |  p.event_id AS purchase_id,
      |  epoch_us(c.ts) - epoch_us(p.ts) AS purchase_age_us,
      |  p.value AS purchase_value
      |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
      |LEFT JOIN (SELECT event_id, user_id, ts, value FROM events
      |           WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id
      | AND p.ts <= c.ts AND p.ts > c.ts - INTERVAL 24 HOUR
      |""".stripMargin)
  )

  // st_topk — per-window heavy hitters (top-3 users by event count per 1h
  // window): the windowed frequency leaderboard every ingest pipeline
  // tracks. Scale shape: one (window, user) count aggregate, then the
  // grouped top-k operator (graft.plans.GraftOps.rankedTopK): map-side
  // heaps keep ≤ k users per (window, partition), one exchange on
  // window_start moves only those, and the final heaps plus the rank run
  // in its partitions — so per-window user cardinality can't funnel one
  // task. Streaming twin: the same watermarked (window, user) count
  // aggregate runs incrementally with bounded state; rank is a
  // per-closed-window post-pass (StreamingSpec asserts equality with
  // this batch twin).
  private val stTopk = Q(
    "st_topk",
    (s, d) =>
      graft.plans.GraftOps.rankedTopK(Streaming.userWindowCounts(Tables.events(s, d)),
          Seq("window_start"), Seq(col("n_events").desc, col("user_id")), k = 3)
        .select(col("window_start"), col("rank"), col("user_id"), col("n_events")),
    Some("""WITH c AS (
      |  SELECT date_trunc('hour', ts) AS window_start, user_id, COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT window_start, user_id, n_events,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY window_start
      |      ORDER BY n_events DESC, user_id) AS BIGINT) AS rank
      |  FROM c)
      |SELECT window_start, rank, user_id, n_events FROM r
      |WHERE rank <= 3""".stripMargin)
  )

  // st_cdc — CDC log compaction: the current snapshot per key, latest
  // event wins, with (event-time, event_id) ordering the changelog. The
  // batch twin is the grouped top-k (k = 1) on the HIGH-cardinality
  // user_id — map-side heaps, a single shuffle, parallelism scales with
  // keys.
  // The streaming twin ([[Streaming.cdcStream]]) holds exactly ONE row
  // of state per key (the winner so far) and re-emits the refreshed
  // snapshot row in Update mode each micro-batch the key appears in —
  // the mapGroupsWithState form of a key-compacted changelog (Kafka
  // log-compaction / upsert-sink semantics), state O(keys) by design.
  private val stCdc = Q(
    "st_cdc",
    (s, d) => {
      graft.plans.GraftOps.groupedTopK(
          Tables.events(s, d).select("user_id", "ts", "event_id", "event_type", "value"),
          Seq("user_id"), Seq(col("ts").desc, col("event_id").desc), k = 1)
        .select(col("user_id"), col("ts").as("last_ts"),
          col("event_id").as("last_event_id"),
          col("event_type").as("last_type"), col("value").as("last_value"))
    },
    Some("""SELECT user_id, ts AS last_ts, event_id AS last_event_id,
      |  event_type AS last_type, value AS last_value
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
      |WHERE rn = 1""".stripMargin)
  )

  // st_sliding — sliding-window agg (1h every 15min): the overlapping
  // sibling of st_window_agg. The oracle reproduces Spark's
  // epoch-aligned window assignment by unnesting the 4 slide offsets
  // per event — window starts are floor(us/slide)·slide − k·slide for
  // k ∈ 0..3, each trivially containing ts for a 4-slide window.
  private val stSliding = Q(
    "st_sliding",
    (s, d) => Streaming.slidingAgg(Tables.events(s, d)),
    Some("""WITH x AS (
      |  SELECT make_timestamp(
      |           (epoch_us(ts) // 900000000) * 900000000 - k.k * 900000000)
      |           AS window_start,
      |         event_type, value
      |  FROM events, (SELECT unnest(generate_series(0, 3)) AS k) k)
      |SELECT window_start, event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(ROUND(value * 1000.0) AS BIGINT)) AS DOUBLE) / 1000.0 AS sum_value
      |FROM x GROUP BY 1, 2""".stripMargin)
  )

  // st_sliding_distinct — EXACT distinct users per sliding 1h/15min
  // window (the overlap sibling of q51's tumbling distinct — "unique
  // visitors, trailing hour, every quarter hour"): the Expand fans each
  // event to its 4 windows BEFORE the two-phase distinct, so the
  // shuffle dedupes (window, user) partials and no task ever holds a
  // window's user set; the count then partial-aggregates the deduped
  // surface. The oracle unnests the same 4 epoch-aligned slide offsets.
  // At 100 TB the streaming path swaps the exact distinct for the
  // bounded KMV sketch per window (the kmvStream twin — spec pins
  // below-k exactness against this batch surface).
  private val stSlidingDistinct = Q(
    "st_sliding_distinct",
    (s, d) => {
      Tables.events(s, d)
        .select(window(col("ts"), "1 hour", "15 minutes").as("w"), col("user_id"))
        .distinct()
        .groupBy(col("w.start").as("window_start"))
        .agg(count(lit(1)).as("n_users"))
    },
    Some("""WITH x AS (
      |  SELECT DISTINCT make_timestamp(
      |           (epoch_us(ts) // 900000000) * 900000000 - k.k * 900000000)
      |           AS window_start,
      |         user_id
      |  FROM events, (SELECT unnest(generate_series(0, 3)) AS k) k)
      |SELECT window_start, CAST(COUNT(*) AS BIGINT) AS n_users
      |FROM x GROUP BY 1""".stripMargin)
  )

  // st_gap_fill — resample the stream to a regular hourly grid per type:
  // missing hours appear with n_events = 0 and carry the last observed
  // hourly value-sum forward (the time-series gap-fill / ffill pass
  // every metrics pipeline needs before charting or joining grids). The
  // spine is generated from the global [min,max] hour span (a 1-row
  // aggregate); the ffill window partitions on the low-cardinality
  // event_type, which is safe HERE because its input is the
  // pre-aggregated |hours|×|types| surface — never the fact rows.
  private val stGapFill = Q(
    "st_gap_fill",
    (s, d) => {
      val ev = Tables.events(s, d)
      val hourly = ev
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          (sum(graft.Exact.qzl(col("value"), 1000.0)).cast("double") / lit(1000.0)).as("sum_value"))
      val span = ev.agg(date_trunc("hour", min(col("ts"))).as("lo"),
        date_trunc("hour", max(col("ts"))).as("hi"))
      val spine = span
        .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("h"))
        .crossJoin(ev.select(col("event_type")).distinct())
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(hourly, Seq("h", "event_type"), "left")
        .select(col("h"), col("event_type"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          last(col("sum_value"), ignoreNulls = true).over(w).as("ffill_value"))
    },
    Some("""WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS h, event_type,
      |    CAST(COUNT(*) AS BIGINT) AS n_events,
      |    CAST(SUM(CAST(ROUND(value * 1000.0) AS BIGINT)) AS DOUBLE) / 1000.0 AS sum_value
      |  FROM events GROUP BY 1, 2),
      |span AS (
      |  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
      |  FROM events),
      |spine AS (
      |  SELECT g.h, t.event_type
      |  FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM span) g,
      |       (SELECT DISTINCT event_type FROM events) t)
      |SELECT s.h, s.event_type, COALESCE(n_events, 0) AS n_events,
      |  last_value(sum_value IGNORE NULLS) OVER (PARTITION BY s.event_type
      |    ORDER BY s.h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_value
      |FROM spine s LEFT JOIN hourly USING (h, event_type)
      |""".stripMargin)
  )

  // st_session_window — the same 30-minute-gap sessions through Spark's
  // BUILT-IN session_window aggregate (the plan Structured Streaming
  // runs natively with merging session state), cross-validated against
  // the declarative oracle. Boundary semantics differ from the custom
  // sessionizer by design: session_window merges an event iff the gap
  // is STRICTLY below the threshold (diff >= gap ⇒ new session), so the
  // oracle uses >= where st_sessionize's uses > — pinning exactly the
  // off-by-an-instant contract a user switching between the two needs
  // to know.
  private val stSessionWindow = Q(
    "st_session_window",
    (s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"))
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"))
    },
    Some("""WITH s AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sid AS (
      |  SELECT user_id, ts, CAST(SUM(new_s) OVER (
      |    PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM s)
      |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
      |  COUNT(*) AS n_events
      |FROM sid GROUP BY user_id, session_id
      |""".stripMargin)
  )

  // st_anomaly — z-score anomaly flags over the hourly count series per
  // event type: the metrics-alerting pass. Two-phase like q32 — the
  // per-type mean/std fit is a tiny aggregate over the ALREADY
  // pre-aggregated |hours|×|types| surface, broadcast back into a
  // narrow flag map; counts are integers so the z expression is the
  // same fixed IEEE arithmetic on both sides.
  private val stAnomaly = Q(
    "st_anomaly",
    (s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      val fit = hourly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          sum(col("n_events")).as("s1"),
          sum(col("n_events") * col("n_events")).as("s2"))
        .select(col("event_type"),
          (col("s1").cast("double") / col("n_hours").cast("double")).as("mu"),
          sqrt((col("s2").cast("double") -
            (col("s1").cast("double") * col("s1").cast("double")) / col("n_hours").cast("double")) /
            col("n_hours").cast("double")).as("sigma"))
      hourly.join(broadcast(fit), "event_type")
        .select(col("h"), col("event_type"), col("n_events"),
          ((col("n_events").cast("double") - col("mu")) / col("sigma")).as("z"))
        .withColumn("is_anomaly", abs(col("z")) > 3.0)
    },
    Some("""WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS h, event_type,
      |    CAST(COUNT(*) AS BIGINT) AS n_events
      |  FROM events GROUP BY 1, 2),
      |fit AS (
      |  SELECT event_type,
      |    CAST(SUM(n_events) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu,
      |    SQRT((CAST(SUM(n_events * n_events) AS DOUBLE) -
      |      (CAST(SUM(n_events) AS DOUBLE) * CAST(SUM(n_events) AS DOUBLE)) / CAST(COUNT(*) AS DOUBLE)) /
      |      CAST(COUNT(*) AS DOUBLE)) AS sigma
      |  FROM hourly GROUP BY event_type)
      |SELECT h, hourly.event_type, n_events,
      |  (CAST(n_events AS DOUBLE) - mu) / sigma AS z,
      |  ABS((CAST(n_events AS DOUBLE) - mu) / sigma) > 3.0 AS is_anomaly
      |FROM hourly JOIN fit ON hourly.event_type = fit.event_type
      |""".stripMargin)
  )

  // st_enrich — stream-static dimension enrichment (the canonical
  // streaming-ETL join: fact stream × broadcast dim table): hourly
  // purchase revenue by customer segment. The dim side is a broadcast
  // static table in BOTH modes — no stream state grows with customers;
  // unmatched users keep their rows (left join → UNKNOWN). Batch twin
  // below is oracle-checked; the streaming twin in [[Streaming
  // .enrichStream]] runs the same plan incrementally (spec-pinned).
  private val stEnrich = Q(
    "st_enrich",
    (s, d) => Streaming.enrich(Tables.events(s, d),
        Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))),
    Some("""SELECT date_trunc('hour', ts) AS h,
      |  COALESCE(c_mktsegment, 'UNKNOWN') AS segment,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM events LEFT JOIN customer ON user_id = c_custkey
      |WHERE event_type = 'purchase'
      |GROUP BY 1, 2""".stripMargin)
  )

  // st_scd2 — Slowly-Changing-Dimension Type-2 build from the event
  // stream (the warehouse-dimension sibling of st_cdc's latest-row
  // compaction: KEEP the history, one row per attribute VERSION with
  // its validity interval): consecutive same-type events collapse into
  // one version (gap-and-island on the change flag), valid_to is the
  // next version's start, the open version is current. Every window
  // keys on the HIGH-cardinality user_id with the (ts, event_id) total
  // order — the lag flag, the island cumsum and the valid_to lead all
  // share that one exchange, and the island collapse partial-aggregates
  // before the lead. At 100 TB parallelism scales with users; no
  // group-cardinality funnel anywhere.
  private val stScd2 = Q(
    "st_scd2",
    (s, d) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val ev = Tables.events(s, d)
        .withColumn("prev", lag(col("event_type"), 1).over(byUser))
        .withColumn("chg",
          when(col("prev").isNull || col("event_type") =!= col("prev"), 1L).otherwise(0L))
        .withColumn("version", sum(col("chg")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val byVersion = Window.partitionBy(col("user_id")).orderBy(col("version"))
      ev.groupBy(col("user_id"), col("version"))
        .agg(min(col("event_type")).as("attr"),
          min(col("ts")).as("valid_from"),
          count(lit(1)).as("n_events"))
        // warehouse high-date sentinel for the open version (also keeps
        // the dump free of NULL timestamps, which the driver's pandas
        // compare cannot equate — NaT != NaT). 2199 and not the classic
        // 9999: pandas datetime64[ns] tops out at 2262-04-11, so a
        // 9999 sentinel overflows ns-resolution readers while 2199
        // round-trips exactly through every engine in the compare path.
        .withColumn("valid_to", coalesce(lead(col("valid_from"), 1).over(byVersion),
          lit("2199-12-31 00:00:00").cast("timestamp")))
        .withColumn("is_current",
          col("valid_to") === lit("2199-12-31 00:00:00").cast("timestamp"))
    },
    Some("""WITH o AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |f AS (
      |  SELECT user_id, ts, event_type,
      |    SUM(CASE WHEN prev IS NULL OR event_type <> prev THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
      |  FROM o),
      |i AS (
      |  SELECT user_id, CAST(version AS BIGINT) AS version,
      |    MIN(event_type) AS attr, MIN(ts) AS valid_from,
      |    CAST(COUNT(*) AS BIGINT) AS n_events
      |  FROM f GROUP BY 1, 2)
      |SELECT user_id, version, attr, valid_from, n_events,
      |  COALESCE(LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version),
      |    TIMESTAMP '2199-12-31 00:00:00') AS valid_to,
      |  COALESCE(LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version),
      |    TIMESTAMP '2199-12-31 00:00:00') = TIMESTAMP '2199-12-31 00:00:00' AS is_current
      |FROM i""".stripMargin)
  )

  override val qs: Seq[Q] = Seq(stWindowAgg, stSessionize, stDedup, stAsof,
    stIntervalJoin, stIntervalJoinLeft, stTopk, stCdc, stSliding, stGapFill,
    stSessionWindow, stAnomaly, stEnrich, stScd2, stSlidingDistinct)
}

/** Streaming-capable transforms (work on both batch and streaming frames)
  * plus the stateful streaming sessionizer.
  */
object Streaming {

  /** Tumbling 1h window × event_type aggregate; same function
    * batch/stream, same results (StreamingSpec pins twin equality), two
    * grouping-key REPRESENTATIONS of the same key:
    *
    * - streaming groups on `window(ts, '1 hour')` — the struct key is
    *   what the watermark state machinery evicts on, non-negotiable;
    * - batch groups on the primitive epoch-floor LONG (µs − µs mod 1h)
    *   and converts to a timestamp only on the aggregated output
    *   surface. The struct key kept the hash aggregate off the
    *   primitive fast path: measured 1.69 s (struct) vs 1.06 s (long)
    *   for the identical 100M-row sf100 aggregate — the qzl grid-image
    *   discipline applied to the grouping key.
    *
    * Single-level long grid sum (codegen primitive adds): event values
    * are O(100), so even 10^13 rows per window-group stay within
    * int64 — streaming also can't chain two aggregations, so no
    * level-2 here.
    */
  def windowAgg(events: DataFrame): DataFrame = {
    val measures = Seq(count(lit(1)).as("n_events"),
      (sum(graft.Exact.qzl(col("value"), 1000.0)).cast("double") / lit(1000.0)).as("sum_value"))
    if (events.isStreaming)
      events.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(measures.head, measures.tail: _*)
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n_events"), col("sum_value"))
    else {
      val us = unix_micros(col("ts"))
      events.groupBy((us - pmod(us, lit(3600000000L))).as("wus"), col("event_type"))
        .agg(measures.head, measures.tail: _*)
        .select(timestamp_micros(col("wus")).as("window_start"), col("event_type"),
          col("n_events"), col("sum_value"))
    }
  }

  /** Watermarked streaming twin of windowAgg. */
  def windowAggStream(events: DataFrame): DataFrame =
    windowAgg(events.withWatermark("ts", "2 hours"))

  /** SLIDING 1h window every 15min × event_type: each event lands in
    * exactly 4 overlapping windows (Spark expands via Expand — a 4×
    * row multiply BEFORE the partial aggregate, so the shuffle still
    * moves only (window, type) partials, never 4× the data). Same plan
    * batch/stream; the overlap factor — not user cardinality — bounds
    * the state growth vs the tumbling twin.
    */
  def slidingAgg(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(graft.Exact.qzl(col("value"), 1000.0)).cast("double") / lit(1000.0)).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Watermarked streaming twin of slidingAgg. */
  def slidingAggStream(events: DataFrame): DataFrame =
    slidingAgg(events.withWatermark("ts", "2 hours"))

  /** (window_start, user_id, n_events) — the shared count surface of
    * st_topk's batch and streaming twins. Pure partial+final aggregate on
    * (window, user); the streaming variant below runs it incrementally.
    */
  def userWindowCounts(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("user_id"), col("n_events"))

  /** Watermarked streaming twin of userWindowCounts: state is bounded to
    * open windows; closed (window, user) counts emit in append mode and
    * the top-k rank is a cheap per-window post-pass downstream.
    */
  def userWindowCountsStream(events: DataFrame): DataFrame =
    userWindowCounts(events.withWatermark("ts", "2 hours"))

  /** Exactly-once ingest dedup by event_id — batch twin. One shuffle on
    * the id; at 100 TB this is the only full-data shuffle ingest needs.
    */
  def dedup(events: DataFrame): DataFrame =
    events.select("event_id", "ts", "user_id", "event_type", "value")
      .dropDuplicates("event_id")

  /** Streaming twin: dropDuplicatesWithinWatermark keeps per-id state only
    * until the watermark passes the event time — bounded state under
    * continuous ingest, unlike plain dropDuplicates whose key state never
    * expires when the dedup key excludes the event-time column.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events.select("event_id", "ts", "user_id", "event_type", "value")
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** File-source streaming read of the events table: the production
    * `readStream → transform → writeStream` path. The nanos-timestamp
    * parquet reads as LONG (same legacy conf as the batch loader) and is
    * narrowed to microseconds identically.
    */
  def eventsStream(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Probe the footer via a batch read: ts is LONG for the nanos
    // encoding and TIMESTAMP for the micros one; the stream's declared
    // schema and narrowing must match whichever shipped this round.
    val tsType = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", tsType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType)))
    val raw = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    tsType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Microseconds since the epoch: java.sql.Timestamp carries ms in
    * getTime and the full fractional second in getNanos.
    */
  private def us(t: java.sql.Timestamp): Long =
    (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L

  private def clicksAndPurchases(events: DataFrame): (DataFrame, DataFrame) = (
    events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts")),
    events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value")))

  private def intervalCond = expr(
    "user_id = p_user AND purchase_ts <= click_ts AND purchase_ts > click_ts - INTERVAL 24 HOURS")

  /** (click, purchase-within-24h-before) pairs — batch twin. Equi-join on
    * user_id with a range residual: shuffles once per side, never a
    * cartesian.
    */
  def intervalJoin(events: DataFrame): DataFrame =
    clicksAndPurchases(events) match { case (c, p) =>
      c.join(p, intervalCond)
        .select("click_id", "user_id", "click_ts", "purchase_id",
          "purchase_ts", "purchase_value")
    }

  /** Watermarked stream-stream inner join twin: the purchase side's
    * watermark covers the 24 h join window plus reordering slack, so both
    * sides' buffered state expires — bounded state under continuous
    * ingest.
    */
  def intervalJoinStream(events: DataFrame): DataFrame =
    clicksAndPurchases(events) match { case (c, p) =>
      c.withWatermark("click_ts", "2 hours")
        .join(p.withWatermark("purchase_ts", "26 hours"), intervalCond)
        .select("click_id", "user_id", "click_ts", "purchase_id",
          "purchase_ts", "purchase_value")
    }

  private def intervalLeftCols = Seq(col("click_id"), col("user_id"),
    col("click_ts"), col("purchase_id"),
    // the purchase timestamp rides as its age relative to the click —
    // NULL-able BIGINT/DOUBLE marker columns are driver-compare-proven
    // (st_asof), while a NULL TIMESTAMP column hits the pandas read
    // path's NaT representation split (the st_scd2 lesson class)
    (unix_micros(col("click_ts")) - unix_micros(col("purchase_ts")))
      .as("purchase_age_us"),
    col("purchase_value"))

  /** Left-outer batch twin of [[intervalJoin]]: unmatched clicks keep one
    * NULL-extended row. Same one-shuffle equi join + range residual.
    */
  def intervalJoinLeft(events: DataFrame): DataFrame =
    clicksAndPurchases(events) match { case (c, p) =>
      c.join(p, intervalCond, "left_outer").select(intervalLeftCols: _*)
    }

  /** Watermarked stream-stream LEFT OUTER twin: matched pairs emit as
    * they join; an unmatched click's NULL-extended row emits once the
    * watermark passes its buffered state (Spark's outer stream-stream
    * contract) — both sides' state expires exactly as in the inner twin.
    */
  def intervalJoinLeftStream(events: DataFrame): DataFrame =
    clicksAndPurchases(events) match { case (c, p) =>
      c.withWatermark("click_ts", "2 hours")
        .join(p.withWatermark("purchase_ts", "26 hours"), intervalCond, "left_outer")
        .select(intervalLeftCols: _*)
    }

  case class AsofEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class AsofOut(event_id: Long, user_id: Long, ts: java.sql.Timestamp,
      asof_event_id: Option[Long], asof_value: Option[Double])

  /** Streaming twin of st_asof: per-user state is exactly ONE row — the
    * most recent purchase seen so far (keyed by (event-time, event_id) so
    * in-batch ordering matches the batch window's tiebreak). Clicks emit
    * immediately with the state attached. State is O(users) and must not
    * expire: a purchase arbitrarily far in the past is still the "most
    * recent prior" — that retention is inherent to as-of semantics, not a
    * leak. Like all streaming as-of implementations, events arriving in a
    * later micro-batch than a click they precede in event time cannot
    * retro-correct it; the watermark bounds that reordering window.
    */
  def asofStream(events: Dataset[AsofEvent]): Dataset[AsofOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Double), AsofOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (_: Long, evs: Iterator[AsofEvent], state: GroupState[(Long, Long, Double)]) =>
          val sorted = evs.toSeq.sortBy(e => (us(e.ts), e.event_id))
          var last = state.getOption // (order-key us, purchase event_id, value)
          val out = scala.collection.mutable.ListBuffer[AsofOut]()
          sorted.foreach { e =>
            if (e.event_type == "click")
              out += AsofOut(e.event_id, e.user_id, e.ts,
                last.map(_._2), last.map(_._3))
            if (e.event_type == "purchase")
              last = Some((us(e.ts), e.event_id, e.value))
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  case class CdcEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class CdcRow(user_id: Long, last_ts: java.sql.Timestamp,
      last_event_id: Long, last_type: String, last_value: Double)

  /** Streaming twin of st_cdc: one row of state per key — the winning
    * record so far under the (event-time, event_id) order — re-emitted
    * as a refreshed snapshot row each micro-batch the key appears in
    * (Update-mode upsert sink). State never expires: a key's current
    * value stays current until overwritten — compaction retention, not
    * a leak.
    */
  def cdcStream(events: Dataset[CdcEvent]): Dataset[CdcRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[CdcRow, CdcRow](GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[CdcEvent], state: GroupState[CdcRow]) =>
          val best = (state.getOption.iterator ++ evs.map(e =>
              CdcRow(uid, e.ts, e.event_id, e.event_type, e.value)))
            .maxBy(r => (us(r.last_ts), r.last_event_id))
          state.update(best)
          best
      }
  }

  case class Scd2Row(user_id: Long, version: Long, attr: String,
      valid_from: java.sql.Timestamp, n_events: Long,
      valid_to: java.sql.Timestamp, is_current: Boolean)

  /** The UTC instant of the batch side's 2199-12-31 high-date sentinel
    * (computed from epoch so the twin is JVM-default-timezone-proof;
    * 2199 stays inside pandas datetime64[ns] range — see stScd2).
    */
  val Scd2HighDate = new java.sql.Timestamp(7258032000000L)

  /** Streaming twin of st_scd2: ONE open-version row of state per user.
    * Same-type events extend the open version (n_events), a type change
    * closes it (emit with valid_to = the new version's start) and opens
    * the next. Each batch re-emits the refreshed open version, so an
    * upsert-by-(user, version) sink converges to the batch SCD2 table
    * under the in-order delivery contract (cross-batch reordering is
    * the same watermark-bounded caveat as [[asofStream]]).
    */
  def scd2Stream(events: Dataset[CdcEvent]): Dataset[Scd2Row] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2Row, Scd2Row](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[CdcEvent], state: GroupState[Scd2Row]) =>
          var open = state.getOption
          val out = scala.collection.mutable.ListBuffer[Scd2Row]()
          evs.toSeq.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
            open match {
              case Some(o) if o.attr == e.event_type =>
                open = Some(o.copy(n_events = o.n_events + 1))
              case Some(o) =>
                out += o.copy(valid_to = e.ts, is_current = false)
                open = Some(Scd2Row(uid, o.version + 1, e.event_type, e.ts, 1L,
                  Scd2HighDate, is_current = true))
              case None =>
                open = Some(Scd2Row(uid, 1L, e.event_type, e.ts, 1L,
                  Scd2HighDate, is_current = true))
            }
          }
          open.foreach(state.update)
          out ++= open
          out.iterator
      }
  }

  case class GrowthRow(user_id: Long, day: java.sql.Date, cls: String)

  /** Streaming twin of q129's per-user-day classification: ONE
    * last-active-day per user of state. Each first-event-of-a-day
    * emits that (user, day)'s class — new / retained / resurrected —
    * exactly as the batch lag does; the batch identity
    * churned_t = DAU_{t−1} − retained_t then derives churn downstream
    * with no extra state. In-order delivery contract as elsewhere.
    */
  def growthStream(events: Dataset[CdcEvent]): Dataset[GrowthRow] = {
    import events.sparkSession.implicits._
    def dayOf(t: java.sql.Timestamp): Long = t.getTime / 86400000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, GrowthRow](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[CdcEvent], state: GroupState[Long]) =>
          var last = state.getOption // epoch day of last activity
          val out = scala.collection.mutable.ListBuffer[GrowthRow]()
          evs.toSeq.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
            val d = dayOf(e.ts)
            val isNewDay = last.forall(_ < d)
            if (isNewDay) {
              val cls = last match {
                case None => "new"
                case Some(p) if p == d - 1 => "retained"
                case Some(_) => "resurrected"
              }
              out += GrowthRow(uid, new java.sql.Date(d * 86400000L), cls)
              last = Some(d)
            }
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  case class GapRow(event_type: String, h: java.sql.Timestamp,
      n_events: Long, ffill_value: Double)

  case class GapState(curHour: Long, n: Long, sumMillis: Long)

  /** Streaming twin of st_gap_fill's per-type hourly resample+ffill:
    * ONE (current hour, count, exact milli-sum) state row per type.
    * When an event opens a later hour, the closed hour emits with its
    * own sum and every HOLE hour in between emits (0, carried sum) —
    * the forward fill happens at emission time, from state, with no
    * spine join. The open hour re-emits refreshed each batch, so an
    * upsert-by-(type, hour) sink converges to the batch surface over
    * each type's own observed span (the batch's global-span lead-in
    * rows before a type's first event need a global watermark a
    * per-key twin cannot see — the spec compares within-span). State is
    * O(types); a production deployment would pre-reduce events to
    * (type, hour) partials upstream of the stateful op.
    */
  def gapFillStream(events: Dataset[CdcEvent]): Dataset[GapRow] = {
    import events.sparkSession.implicits._
    def hourOf(t: java.sql.Timestamp): Long = t.getTime / 3600000L
    def tsOf(h: Long): java.sql.Timestamp = new java.sql.Timestamp(h * 3600000L)
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[GapState, GapRow](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (typ: String, evs: Iterator[CdcEvent], state: GroupState[GapState]) =>
          var st = state.getOption
          val out = scala.collection.mutable.ListBuffer[GapRow]()
          evs.toSeq.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
            val h = hourOf(e.ts)
            val v = math.round(e.value * 1000.0)
            st match {
              case Some(g) if h == g.curHour =>
                st = Some(g.copy(n = g.n + 1, sumMillis = g.sumMillis + v))
              case Some(g) if h > g.curHour =>
                out += GapRow(typ, tsOf(g.curHour), g.n, g.sumMillis.toDouble / 1000.0)
                ((g.curHour + 1) until h).foreach { hole =>
                  out += GapRow(typ, tsOf(hole), 0L, g.sumMillis.toDouble / 1000.0)
                }
                st = Some(GapState(h, 1L, v))
              case Some(_) => // late event before the open hour: in-order contract
              case None => st = Some(GapState(h, 1L, v))
            }
          }
          st.foreach { g =>
            state.update(g)
            out += GapRow(typ, tsOf(g.curHour), g.n, g.sumMillis.toDouble / 1000.0)
          }
          out.iterator
      }
  }

  case class FunnelRow(user_id: Long, t_view: Option[java.sql.Timestamp],
      t_click: Option[java.sql.Timestamp],
      t_purchase: Option[java.sql.Timestamp], stage: Int)

  /** Streaming twin of q44_funnel: ONE funnel row of state per user,
    * advanced greedily in (event-time, event_id) order. For in-order
    * delivery this reproduces the batch funnel exactly — the first view
    * IS min(view ts), and each stage only advances on events STRICTLY
    * after the previous stage's timestamp (same tiebreak the batch
    * windows use). Cross-batch reordering is bounded by the watermark,
    * with the same no-retro-correction caveat as [[asofStream]].
    */
  def funnelStream(events: Dataset[CdcEvent]): Dataset[FunnelRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelRow](GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[CdcEvent], state: GroupState[FunnelState]) =>
          val st0 = state.getOption.getOrElse(FunnelState(None, None, None))
          var (v, c, p) = (st0.v, st0.c, st0.p)
          evs.toSeq.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
            e.event_type match {
              case "view" if v.isEmpty => v = Some(e.ts)
              case "click" if v.nonEmpty && c.isEmpty && us(e.ts) > us(v.get) =>
                c = Some(e.ts)
              case "purchase" if c.nonEmpty && p.isEmpty && us(e.ts) > us(c.get) =>
                p = Some(e.ts)
              case _ =>
            }
          }
          state.update(FunnelState(v, c, p))
          FunnelRow(uid, v, c, p,
            if (p.nonEmpty) 3 else if (c.nonEmpty) 2 else if (v.nonEmpty) 1 else 0)
      }
  }

  case class FunnelState(v: Option[java.sql.Timestamp],
      c: Option[java.sql.Timestamp], p: Option[java.sql.Timestamp])

  case class TkEvent(ts: java.sql.Timestamp, user_id: Long)
  case class TkTop(window_start: java.sql.Timestamp, rank: Long, user_id: Long,
      est_count: Long)

  /** Streaming heavy hitters with BOUNDED per-window state. The exact
    * [[userWindowCountsStream]] twin keeps one state row per
    * (window, user) — per-window USER CARDINALITY is the unbounded
    * dimension at 100 TB. This twin keys by the hour window and keeps a
    * SpaceSaving summary of at most `cap` counters per window (the same
    * guarantee [[graft.operators.SpaceSaving]] documents: any key above
    * n_window/cap frequency survives, estimates only overestimate);
    * the event-time timeout at window end emits the summary's top-k once
    * the watermark closes the window and drops the state. State rows =
    * open windows, independent of user cardinality — StreamingSpec
    * asserts it against a 3000-user window. Top-k recovery carries the
    * SpaceSaving precondition (k-th key frequency within the window
    * > 1/cap), hence the skew-sized 50·k default rather than a constant.
    */
  def topkStateStream(events: Dataset[TkEvent], k: Int = 3,
      cap: Int = 150): Dataset[TkTop] = {
    import events.sparkSession.implicits._
    val hourUs = 3600L * 1000000L
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(e => (us(e.ts) / hourUs) * hourUs)
      .flatMapGroupsWithState[Map[Long, Long], TkTop](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (wUs: Long, evs: Iterator[TkEvent], state: GroupState[Map[Long, Long]]) =>
          if (state.hasTimedOut) {
            val counts = state.getOption.getOrElse(Map.empty)
            state.remove()
            counts.toSeq.sortBy { case (u, c) => (-c, u) }.take(k).zipWithIndex
              .map { case ((u, c), i) =>
                TkTop(new java.sql.Timestamp(wUs / 1000L), i + 1L, u, c)
              }.iterator
          } else {
            val counts = scala.collection.mutable.HashMap[Long, Long]() ++=
              state.getOption.getOrElse(Map.empty)
            evs.foreach { e =>
              counts.get(e.user_id) match {
                case Some(c) => counts(e.user_id) = c + 1L
                case None =>
                  if (counts.size < cap) counts(e.user_id) = 1L
                  else {
                    // deterministic eviction: min count, then min key
                    val (minU, minC) = counts.minBy { case (u, c) => (c, u) }
                    counts.remove(minU)
                    counts(e.user_id) = minC + 1L
                  }
              }
            }
            state.update(counts.toMap)
            state.setTimeoutTimestamp(wUs / 1000L + 3600L * 1000L) // window end
            Iterator.empty
          }
      }
  }

  case class SessEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long)
  case class SessAcc(start: Long, end: Long, n: Long)
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long)

  /** Gap-based sessionization with flatMapGroupsWithState: per-user state
    * is one open session; a 30-min event-time gap (or state timeout at the
    * watermark) closes and emits it. State is O(users), expiring — the
    * 100 TB streaming shape.
    */
  def sessionizeStream(events: Dataset[SessEvent], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessAcc], Session](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, evs: Iterator[SessEvent], state: GroupState[List[SessAcc]]) =>
          def ts(u: Long): java.sql.Timestamp = {
            val t = new java.sql.Timestamp((u / 1000000L) * 1000L)
            t.setNanos(((u % 1000000L) * 1000L).toInt)
            t
          }
          if (state.hasTimedOut) {
            val out = state.getOption.getOrElse(Nil)
              .map(a => Session(userId, ts(a.start), ts(a.end), a.n))
            state.remove()
            out.iterator
          } else {
            val sorted = evs.toSeq.sortBy(e => (us(e.ts), e.event_id))
            var open = state.getOption.getOrElse(Nil).headOption
            val closed = scala.collection.mutable.ListBuffer[SessAcc]()
            sorted.foreach { e =>
              val t = us(e.ts)
              open match {
                case Some(a) if t - a.end <= gapUs =>
                  open = Some(SessAcc(a.start, math.max(a.end, t), a.n + 1))
                case Some(a) =>
                  closed += a
                  open = Some(SessAcc(t, t, 1))
                case None =>
                  open = Some(SessAcc(t, t, 1))
              }
            }
            open.foreach { a =>
              state.update(List(a))
              state.setTimeoutTimestamp(a.end / 1000L + gapMinutes * 60L * 1000L)
            }
            closed.iterator.map(a => Session(userId, ts(a.start), ts(a.end), a.n))
          }
      }
  }

  /** Batch form of st_enrich: purchase facts left-joined to the
    * broadcast customer dim, hourly revenue per segment.
    */
  def enrich(events: DataFrame, dims: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .join(broadcast(dims), col("user_id") === col("c_custkey"), "left")
      .groupBy(date_trunc("hour", col("ts")).as("h"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
      .agg(count(lit(1)).as("n"), sumd(col("value")).as("revenue"))

  /** Streaming twin of st_enrich: the SAME broadcast stream-static left
    * join + watermarked tumbling aggregate, run incrementally. Dim
    * lookups add no stream state; window state expires at the
    * watermark.
    */
  def enrichStream(events: DataFrame, dims: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .withWatermark("ts", "1 hour")
      .join(broadcast(dims), col("user_id") === col("c_custkey"), "left")
      .groupBy(window(col("ts"), "1 hour"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
      .agg(count(lit(1)).as("n"), sumd(col("value")).as("revenue"))
      .select(col("window.start").as("h"), col("segment"), col("n"), col("revenue"))

  /** Idle-key eviction shared by the unbounded-KEY-SET twins (ewma,
    * late, transitions, expanding): per-key state is small, but with
    * NoTimeout the key set grows with every customer EVER seen — at
    * sf1 that is 150k dormant rows, at the 100 TB design point
    * billions. A watermark-based TTL on last activity bounds state by
    * ACTIVE keys instead. None (the default) = exact batch-twin
    * semantics, no watermark needed.
    */
  private def idleTimeout(ttl: Option[Long]): GroupStateTimeout =
    if (ttl.isDefined) GroupStateTimeout.EventTimeTimeout()
    else GroupStateTimeout.NoTimeout()

  /** Arm the event-time timeout at last-activity + TTL. Spark requires
    * the timeout timestamp to sit strictly ahead of the current
    * watermark, so a key whose newest event already trails the
    * watermark by more than the TTL arms one ms past it (evicts at the
    * next watermark advance).
    */
  private def armIdleTimeout[S](state: GroupState[S], ttl: Option[Long],
      batchEventMs: Seq[Long]): Unit =
    ttl.foreach { t =>
      if (batchEventMs.nonEmpty) {
        val wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(math.max(batchEventMs.max + t, wm + 1L))
      }
    }

  case class LateEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long)
  case class LateOut(event_id: Long, user_id: Long, late: Boolean,
      disorder_ms: Long)

  /** Streaming twin of q62_late_events' per-event surface: ONE long of
    * state per user — the arrival high-watermark (max event time over
    * prior arrivals in event_id order) — each event emitting its
    * lateness flag (10-minute tolerance) and disorder depth. The hourly
    * rollup downstream is the same partial-aggregable shape as batch.
    */
  def lateStream(events: Dataset[LateEvent],
      toleranceMs: Long = 600000L,
      idleTtlMs: Option[Long] = None): Dataset[LateOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, LateOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        idleTimeout(idleTtlMs)) {
        (uid: Long, evs: Iterator[LateEvent], state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var hwm = state.getOption.getOrElse(Long.MinValue)
            val sorted = evs.toSeq.sortBy(_.event_id)
            val out = sorted.map { e =>
              val tsMs = e.ts.getTime
              val o = LateOut(e.event_id, uid,
                hwm != Long.MinValue && tsMs < hwm - toleranceMs,
                if (hwm == Long.MinValue) 0L else math.max(hwm - tsMs, 0L))
              hwm = math.max(hwm, tsMs)
              o
            }
            state.update(hwm)
            armIdleTimeout(state, idleTtlMs, sorted.map(_.ts.getTime))
            out.iterator
          }
      }
  }

  case class TransEvent(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String)
  case class TransPair(user_id: Long, prev: String, next: String)

  /** Streaming twin of q65_transitions' pair stage: ONE state row per
    * user (the last event type seen), each arriving event emitting its
    * (prev → next) transition. The downstream count/normalize is the
    * same tiny-surface aggregate as batch; for in-order delivery the
    * emitted pair multiset is identical to the batch lag window's
    * (spec-asserted). Events within a micro-batch are applied in
    * (event-time, event_id) order — the batch window's sort key.
    */
  def transitionsStream(events: Dataset[TransEvent],
      idleTtlMs: Option[Long] = None): Dataset[TransPair] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[String, TransPair](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        idleTimeout(idleTtlMs)) {
        (uid: Long, evs: Iterator[TransEvent], state: GroupState[String]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var last = state.getOption.orNull
            val out = scala.collection.mutable.ListBuffer[TransPair]()
            val sorted = evs.toSeq.sortBy(e => (us(e.ts), e.event_id))
            sorted.foreach { e =>
              if (last != null) out += TransPair(uid, last, e.event_type)
              last = e.event_type
            }
            if (last != null) state.update(last)
            armIdleTimeout(state, idleTtlMs, sorted.map(_.ts.getTime))
            out.iterator
          }
      }
  }

  case class EwmaEvent(user_id: Long, order_id: Long,
      ts: java.sql.Timestamp, cents: Long)
  case class EwmaOut(user_id: Long, order_id: Long, ewma: Double)

  /** Streaming twin of q58_ewma: the 8-term truncation IS the state
    * bound — each customer holds at most 8 cent values (most recent
    * first), and every event emits the same exact-integer weighted sum
    * the batch window computes, so for in-order delivery the outputs
    * are bit-identical. Events within a micro-batch are applied in
    * (event-time, order_id) order — the batch window's sort key.
    *
    * `idleTtlMs` (r12): per-key state is bounded but the KEY SET is
    * not — one row per EVER-SEEN customer, dormant keys included. With
    * a TTL, a key idle (in EVENT time, watermark-driven) past the TTL
    * evicts; outputs are unchanged for keys that never return, and a
    * returning dormant key restarts its history — twin equality is
    * guaranteed exactly for keys whose inter-event gaps stay under the
    * TTL. Requires `.withWatermark("ts", ...)` on the input stream.
    */
  def ewmaStream(events: Dataset[EwmaEvent],
      idleTtlMs: Option[Long] = None): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Long], EwmaOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        idleTimeout(idleTtlMs)) {
        (uid: Long, evs: Iterator[EwmaEvent], state: GroupState[List[Long]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var hist = state.getOption.getOrElse(Nil) // most recent first, <= 8
            val sorted = evs.toSeq.sortBy(e => (us(e.ts), e.order_id))
            val out = sorted.map { e =>
              hist = (e.cents :: hist).take(8)
              val terms = hist.zipWithIndex.map { case (c, j) => (c, 1L << (7 - j)) }
              EwmaOut(uid, e.order_id,
                terms.map { case (c, w) => c * w }.sum.toDouble /
                  terms.map(_._2).sum.toDouble / 100.0)
            }
            state.update(hist)
            armIdleTimeout(state, idleTtlMs, sorted.map(_.ts.getTime))
            out.iterator
          }
      }
  }

  case class KmvEvent(event_id: Long, user_id: Long, event_type: String)
  case class KmvEst(event_type: String, n_min: Int, est_distinct: Double)

  /** Streaming twin of the KMV sketch ([[graft.operators.Kmv]]): the
    * per-group state is the k smallest distinct 63-bit hashes of the
    * user ids — bounded at k longs per event type no matter how many
    * users stream past — and each micro-batch emits the group's current
    * distinct estimate. KMV insertion is ORDER-INSENSITIVE, so after
    * any batch split the state equals the batch-computed sketch of the
    * same prefix exactly (the spec pins set equality, not tolerance).
    * Uses the same xxhash64(seed 42) & Long.MaxValue hash as the batch
    * aggregate.
    */
  def kmvStream(events: Dataset[KmvEvent], k: Int): Dataset[KmvEst] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .mapGroupsWithState[Seq[Long], KmvEst](
        GroupStateTimeout.NoTimeout()) {
        (t: String, evs: Iterator[KmvEvent], state: GroupState[Seq[Long]]) =>
          val buf = scala.collection.mutable.TreeSet.empty[Long]
          buf ++= state.getOption.getOrElse(Nil)
          evs.foreach { e =>
            val h = org.apache.spark.sql.catalyst.expressions.XXH64
              .hashLong(e.user_id, 42L) & Long.MaxValue
            if (buf.size < k) buf += h
            else if (h < buf.last && !buf.contains(h)) { buf += h; buf -= buf.last }
          }
          state.update(buf.toSeq)
          KmvEst(t, buf.size, graft.operators.Kmv.estimate(buf.toSeq, k))
      }
  }

  case class DriftEvent(event_id: Long, event_type: String, value: Double)
  case class DriftOut(event_type: String, n: Long, psi: Double)

  /** Streaming PSI drift monitor (the ml_psi semantics run
    * continuously): per-group state is the cumulative bin-count vector
    * over FIXED reference cuts — |cuts|+1 longs per event type, bounded
    * regardless of stream length — and each micro-batch emits the
    * population stability index of the observed distribution against
    * the supplied reference rates (same ε-guarded Σ(p−r)·ln(p/r) as
    * ml_psi). Counts are order-insensitive integers, so the final PSI
    * equals a batch computation over the same events exactly.
    */
  def psiStream(events: Dataset[DriftEvent], cuts: Seq[Double],
      refRates: Seq[Double]): Dataset[DriftOut] = {
    import events.sparkSession.implicits._
    require(refRates.length == cuts.length + 1, "one reference rate per bin")
    val eps = 1e-6
    events.groupByKey(_.event_type)
      .mapGroupsWithState[Array[Long], DriftOut](
        GroupStateTimeout.NoTimeout()) {
        (t: String, evs: Iterator[DriftEvent], state: GroupState[Array[Long]]) =>
          val counts = state.getOption.getOrElse(Array.fill(cuts.length + 1)(0L))
          evs.foreach { e =>
            val b = cuts.count(e.value > _)
            counts(b) += 1
          }
          state.update(counts)
          val n = counts.sum.toDouble
          val psi = refRates.indices.map { i =>
            val p = math.max(counts(i) / n, eps)
            val r = math.max(refRates(i), eps)
            (p - r) * math.log(p / r)
          }.sum
          DriftOut(t, counts.sum, psi)
      }
  }

  case class ExpEvent(user_id: Long, order_id: Long,
      ts: java.sql.Timestamp, cents: Long)
  case class ExpOut(user_id: Long, order_id: Long, n: Long,
      exp_mean: Double, exp_std: Option[Double])

  /** Streaming twin of q92_expanding: the running statistics ARE the
    * state — exactly (n, Σz, Σz²) per customer, three numbers no matter
    * how long the history — and every event emits the same fixed IEEE
    * mean/std expression the batch window computes over its cumulative
    * exact sums, so for in-order delivery the outputs are bit-identical
    * (Σz² accumulates in BigInt, mirroring the batch DECIMAL(38,0)).
    * Events within a micro-batch are applied in (event-time, order_id)
    * order — the batch window's sort key.
    */
  def expandingStream(events: Dataset[ExpEvent],
      idleTtlMs: Option[Long] = None): Dataset[ExpOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, BigDecimal), ExpOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        idleTimeout(idleTtlMs)) {
        (uid: Long, evs: Iterator[ExpEvent], state: GroupState[(Long, Long, BigDecimal)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var (n, s, ss) = state.getOption.getOrElse((0L, 0L, BigDecimal(0)))
            val sorted = evs.toSeq.sortBy(e => (us(e.ts), e.order_id))
            val out = sorted.map { e =>
              n += 1; s += e.cents; ss += BigDecimal(e.cents) * BigDecimal(e.cents)
              val nd = n.toDouble
              val cs = s.toDouble
              val css = ss.toDouble
              val mean = (cs / nd) / 100.0
              val std =
                if (n > 1) Some(math.sqrt((css - cs * cs / nd) / (nd - 1.0)) / 100.0)
                else None
              ExpOut(uid, e.order_id, n, mean, std)
            }
            state.update((n, s, ss))
            armIdleTimeout(state, idleTtlMs, sorted.map(_.ts.getTime))
            out.iterator
          }
      }
  }

  case class DocTok(doc_id: Long, n_w: Long)
  case class PackAssign(shard: Long, doc_id: Long, pack_id: Long, straddle: Boolean)

  /** Streaming twin of tx_pack's concat-and-chunk packer: per-shard
    * state is ONE running token counter, so a continuously-ingesting
    * curation pipeline can assign context-window packs on the fly with
    * O(shards) total state. Docs within a micro-batch are applied in
    * doc_id order — the batch window's sort key; cross-batch the
    * in-order delivery contract is the same as [[scd2Stream]]. Emits
    * the per-doc assignment (the batch op's pre-aggregation surface);
    * the (shard, pack) rollup downstream is a plain streaming
    * aggregate.
    */
  def packStream(docs: Dataset[DocTok]): Dataset[PackAssign] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(d => zmod(d.doc_id, 8L))
      .flatMapGroupsWithState[Long, PackAssign](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (shard: Long, ds: Iterator[DocTok], state: GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          val out = ds.toSeq.sortBy(_.doc_id).map { d =>
            val packId = cum / 512L
            val straddle = (cum + d.n_w - 1L) / 512L != packId
            cum += d.n_w
            PackAssign(shard, d.doc_id, packId, straddle)
          }
          state.update(cum)
          out.iterator
      }
  }
}
