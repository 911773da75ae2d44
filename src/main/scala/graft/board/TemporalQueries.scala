package graft
package board

import graft.operators.Temporal

/** The temporal family over events and transactions: as-of joins,
  * sessions, cohorts, funnels, frames, cubes and event-time windows
  * (`Temporal`). */
object TemporalQueries {

  lazy val defs: Seq[QueryDef] = Seq(
    // --- temporal operators (as-of join, sessions, frames, cube) ---
    QueryDef("q_asof_join", (s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, d)
      val left = ev.filter(col("event_id") % 10 === 0)
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("pvalue"))
      Temporal.asOfJoin(left, purchases, "user_id", "ts", "ts", "pvalue")
    },
      """WITH ev AS (SELECT event_id, user_id, ts, event_type, value FROM events),
        |l AS (SELECT event_id, user_id, ts FROM ev WHERE event_id % 10 = 0),
        |p AS (SELECT user_id, ts, max(value) AS pvalue FROM ev
        |      WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT l.event_id, l.user_id, l.ts, p.ts AS asof_ts, p.pvalue AS asof_val
        |FROM l ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.ts >= p.ts""".stripMargin),
    QueryDef("q_asof_join_forward", (s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, d)
      val left = ev.filter(col("event_id") % 10 === 0)
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("pvalue"))
      Temporal.asOfJoinForward(left, purchases, "user_id", "ts", "ts", "pvalue")
    },
      """WITH ev AS (SELECT event_id, user_id, ts, event_type, value FROM events),
        |l AS (SELECT event_id, user_id, ts FROM ev WHERE event_id % 10 = 0),
        |p AS (SELECT user_id, ts, max(value) AS pvalue FROM ev
        |      WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT l.event_id, l.user_id, l.ts, p.ts AS asof_ts, p.pvalue AS asof_val
        |FROM l ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.ts <= p.ts""".stripMargin),
    QueryDef("q_sessions", (s, d) =>
      Temporal.sessionStats(Tables.events(s, d), "user_id", "ts", "value", 30),
      """WITH s AS (SELECT user_id, ts, value,
        |                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |           FROM events),
        |n AS (SELECT user_id, ts, value,
        |             CASE WHEN prev_ts IS NULL
        |                    OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
        |                  THEN 1 ELSE 0 END AS ns
        |      FROM s),
        |t AS (SELECT user_id, ts, value,
        |             sum(ns) OVER (PARTITION BY user_id ORDER BY ts
        |                           ROWS UNBOUNDED PRECEDING) AS session_id
        |      FROM n)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events,
        |       cast(sum(cast(value AS DECIMAL(14,2))) AS double) AS session_value
        |FROM t GROUP BY user_id, session_id""".stripMargin),
    // weekly cohort retention matrix over events (single user-keyed
    // shuffle; cohort sizes are the offset-0 cells broadcast back)
    QueryDef("q_retention_cohorts", (s, d) =>
      Temporal.retentionCohorts(Tables.events(s, d)),
      """WITH e AS (SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
        |           FROM events),
        |pu AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id),
        |a AS (SELECT DISTINCT e.user_id, pu.cohort_week, e.week
        |      FROM e JOIN pu USING (user_id)),
        |c AS (SELECT cohort_week,
        |             CAST(date_diff('day', cohort_week, week) // 7 AS BIGINT)
        |               AS week_offset,
        |             count(*) AS n_active
        |      FROM a GROUP BY 1, 2)
        |SELECT c.cohort_week, c.week_offset, c.n_active, s.n_cohort,
        |       CAST(c.n_active AS DOUBLE) / s.n_cohort AS retention
        |FROM c JOIN (SELECT cohort_week, n_active AS n_cohort
        |             FROM c WHERE week_offset = 0) s USING (cohort_week)""".stripMargin),
    // strict-sequencing conversion funnel (chained running-min windows
    // over ONE user-keyed sort; steps add no exchange)
    QueryDef("q_funnel", (s, d) =>
      Temporal.funnel(Tables.events(s, d), Seq("view", "click", "purchase")),
      """WITH r0 AS (SELECT user_id, ts, event_type,
        |                   min(CASE WHEN event_type = 'view' THEN ts END)
        |                     OVER (PARTITION BY user_id ORDER BY ts, event_type
        |                           ROWS UNBOUNDED PRECEDING) AS _r0
        |            FROM events),
        |r1 AS (SELECT *, min(CASE WHEN event_type = 'click'
        |                          AND _r0 IS NOT NULL THEN ts END)
        |                   OVER (PARTITION BY user_id ORDER BY ts, event_type
        |                         ROWS UNBOUNDED PRECEDING) AS _r1
        |       FROM r0),
        |r2 AS (SELECT *, min(CASE WHEN event_type = 'purchase'
        |                          AND _r1 IS NOT NULL THEN ts END)
        |                   OVER (PARTITION BY user_id ORDER BY ts, event_type
        |                         ROWS UNBOUNDED PRECEDING) AS _r2
        |       FROM r1),
        |u AS (SELECT user_id, min(_r0) AS t0, min(_r1) AS t1, min(_r2) AS t2
        |      FROM r2 GROUP BY user_id),
        |c AS (SELECT count(t0) AS n0, count(t1) AS n1, count(t2) AS n2 FROM u)
        |SELECT CAST(0 AS BIGINT) AS step_idx, 'view' AS step, n0 AS n_users,
        |       CAST(n0 AS DOUBLE) / n0 AS frac_of_first,
        |       CAST(1.0 AS DOUBLE) AS frac_of_prev FROM c
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), 'click', n1,
        |       CAST(n1 AS DOUBLE) / n0, CAST(n1 AS DOUBLE) / n0 FROM c
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'purchase', n2,
        |       CAST(n2 AS DOUBLE) / n0, CAST(n2 AS DOUBLE) / n1 FROM c""".stripMargin),
    QueryDef("q_running_spend", (s, d) => Temporal.runningDailySpend(tx(s, d)),
      s"""WITH d AS (SELECT category, txn_date,
         |                  sum(cast(amount AS DECIMAL(14,2))) AS day_total
         |           FROM ($txSql) GROUP BY category, txn_date)
         |SELECT category, txn_date, cast(day_total AS double) AS day_total,
         |       cast(sum(day_total) OVER (PARTITION BY category ORDER BY txn_date
         |                                 ROWS UNBOUNDED PRECEDING) AS double) AS running_total
         |FROM d""".stripMargin),
    QueryDef("q_moving_spend", (s, d) => Temporal.movingDailySpend(tx(s, d), 3),
      s"""WITH d AS (SELECT category, txn_date,
         |                  sum(cast(amount AS DECIMAL(14,2))) AS day_total
         |           FROM ($txSql) GROUP BY category, txn_date)
         |SELECT category, txn_date, cast(day_total AS double) AS day_total,
         |       cast(sum(day_total) OVER (PARTITION BY category
         |              ORDER BY datediff('day', DATE '1970-01-01', txn_date)
         |              RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS double) AS moving_total
         |FROM d""".stripMargin),
    QueryDef("q_cube_spend", (s, d) => Temporal.cubeSpend(tx(s, d)),
      s"""SELECT category, txn_date,
         |       cast(sum(cast(amount AS DECIMAL(14,2))) AS double) AS total_spent,
         |       count(*) AS n
         |FROM ($txSql) GROUP BY CUBE(category, txn_date)""".stripMargin),
    QueryDef("q_grouping_sets", (s, d) => Temporal.groupingSetsSpend(tx(s, d)),
      s"""SELECT category, vendor,
         |       cast(sum(cast(amount AS DECIMAL(14,2))) AS double) AS total_spent,
         |       count(*) AS n
         |FROM ($txSql)
         |GROUP BY GROUPING SETS ((category), (vendor), (category, vendor), ())""".stripMargin),
    QueryDef("q_range_join", (s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, d)
      val intervals = ev.groupBy(col("user_id").as("ival_id"))
        .agg(min(col("ts")).as("ival_start"))
        .withColumn("ival_end", expr("ival_start + INTERVAL 1 DAY"))
      Temporal.countPointsInIntervals(ev, "ts", intervals, 2)
    },
      """WITH i AS (SELECT user_id AS ival_id, min(ts) AS ival_start,
        |                  min(ts) + INTERVAL 1 DAY AS ival_end
        |           FROM events GROUP BY user_id)
        |SELECT ival_id, ival_start, ival_end, count(*) AS n_points
        |FROM i JOIN events e ON e.ts >= i.ival_start AND e.ts < i.ival_end
        |GROUP BY ival_id, ival_start, ival_end""".stripMargin),
    // --- sliding event-time windows (batch form of the streaming
    // windowed agg; each event lands in 2 overlapping windows) ---
    QueryDef("q_sliding_window", (s, d) => {
      import org.apache.spark.sql.functions._
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 day", "12 hours"), col("event_type").as("category"))
        .agg(sum(col("value").cast("decimal(14,2)")).cast("double").as("total_spent"),
             count(lit(1)).as("n"))
        .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
                col("category"), col("total_spent"), col("n"))
    },
      """WITH w AS (SELECT event_type AS category, value, ts,
        |                  unnest([to_timestamp(floor(epoch(ts) / 43200) * 43200),
        |                          to_timestamp(floor(epoch(ts) / 43200) * 43200 - 43200)]) AS w_start
        |           FROM events)
        |SELECT CAST(w_start AS TIMESTAMP) AS w_start,
        |       CAST(w_start + INTERVAL 1 DAY AS TIMESTAMP) AS w_end,
        |       category,
        |       cast(sum(cast(value AS DECIMAL(14,2))) AS double) AS total_spent,
        |       count(*) AS n
        |FROM w
        |WHERE ts >= w_start AND ts < w_start + INTERVAL 1 DAY
        |GROUP BY w_start, category""".stripMargin),
    // --- semi-structured extraction over the real props JSON column
    // (P6/F7 on data, the VARIANT-analog path) ---
    QueryDef("q_props_extract", (s, d) => {
      import org.apache.spark.sql.functions._
      Tables.events(s, d)
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("user_id"))
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"),
             max(col("k")).as("max_k"))
    },
      """SELECT user_id, CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |       count(*) AS n, max(CAST(props->>'k' AS BIGINT)) AS max_k
        |FROM events GROUP BY user_id""".stripMargin),
    // LOCF gap-fill over the dense category x calendar grid
    QueryDef("q_locf_spend", (s, d) => Temporal.locfDailySpend(tx(s, d)),
      s"""WITH t AS ($txSql),
         |d AS (SELECT category, txn_date, sum(cast(amount AS DECIMAL(14,2))) AS day
         |      FROM t GROUP BY category, txn_date),
         |sp AS (SELECT min(txn_date) AS mn, max(txn_date) AS mx FROM t),
         |days AS (SELECT CAST(unnest(generate_series((SELECT mn FROM sp), (SELECT mx FROM sp), INTERVAL 1 DAY)) AS DATE) AS txn_date),
         |g AS (SELECT c.category, dd.txn_date
         |      FROM days dd CROSS JOIN (SELECT DISTINCT category FROM t) c)
         |SELECT g.category, g.txn_date,
         |       CAST(d.day AS DOUBLE) AS day_total,
         |       CAST(last_value(d.day IGNORE NULLS) OVER (
         |              PARTITION BY g.category ORDER BY g.txn_date
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS filled_total
         |FROM g LEFT JOIN d ON d.category = g.category AND d.txn_date = g.txn_date""".stripMargin),
    // irregular-sampling mean: value held until the next event, exact
    // µs durations weight it
    QueryDef("q_time_weighted_value", (s, d) =>
      Temporal.timeWeightedValue(Tables.events(s, d), "user_id", "ts", "value"),
      """WITH d AS (SELECT user_id, value,
        |                  (lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |                     ORDER BY ts, event_id) - epoch_us(ts)) // 1000 AS dur
        |           FROM events)
        |SELECT user_id,
        |       cast(sum(cast(value AS DECIMAL(14,2)) * dur) AS double)
        |         / cast(sum(dur) AS double) AS tw_avg,
        |       count(*) AS n_intervals
        |FROM d WHERE dur IS NOT NULL
        |GROUP BY user_id
        |HAVING sum(dur) > 0""".stripMargin),
    // growth curve: running ever-seen distinct users per day via the
    // first-seen identity (no windowed COUNT DISTINCT exists; this is
    // the scalable form). Output is day-cardinality; the running-sum
    // window is over that tiny frame, documented single-partition.
    QueryDef("q_cumulative_users", (s, d) =>
      Temporal.cumulativeDistinct(Tables.events(s, d), "user_id", "ts"),
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_day
        |           FROM events GROUP BY user_id),
        |d AS (SELECT first_day, count(*) AS n_new FROM f GROUP BY first_day)
        |SELECT first_day, n_new,
        |       CAST(sum(n_new) OVER (ORDER BY first_day ASC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_cumulative
        |FROM d""".stripMargin),
    // batch sibling of streaming/StreamingReport.sessionizedSpend: the
    // built-in session_window (merge at diff <= gap — spec-pinned edge;
    // end = last event + gap), gated against a DuckDB islands oracle
    QueryDef("q_session_window", (s, d) => {
      import org.apache.spark.sql.functions._
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(sum(col("value").cast("decimal(14,2)")).cast("double").as("total_value"),
             count(lit(1)).as("n_events"))
        .select(col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"),
          col("user_id"), col("total_value"), col("n_events"))
    },
      // islands form of session_window: break only when diff > gap
      // (exact-gap events merge — spec-pinned against the Spark
      // operator); session end = last event + gap. Equal timestamps
      // cannot break a session, so the lag order is tie-stable.
      """WITH x AS (SELECT user_id, ts, value,
        |                  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
        |                       THEN 1 ELSE 0 END AS brk
        |           FROM events),
        |g AS (SELECT user_id, ts, value,
        |             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM x)
        |SELECT min(ts) AS s_start,
        |       max(ts) + INTERVAL 30 MINUTE AS s_end,
        |       user_id,
        |       cast(sum(cast(value AS DECIMAL(14,2))) AS double) AS total_value,
        |       count(*) AS n_events
        |FROM g GROUP BY user_id, sid""".stripMargin),
    // association mining: event-type pairs co-occurring in the same
    // (user, day) basket, with exact-integer lift
    QueryDef("q_cooccurrence", (s, d) =>
      Temporal.basketCooccurrence(Tables.events(s, d), "user_id", "ts",
        "event_type"),
      // lift = ONE division of two exact BIGINT products, mirroring the
      // Spark expression operand-for-operand
      """WITH b AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
        |           FROM events),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_baskets
        |      FROM (SELECT DISTINCT user_id, day FROM b)),
        |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t FROM b GROUP BY 1),
        |p AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
        |             CAST(count(*) AS BIGINT) AS n_ab
        |      FROM b x JOIN b y ON x.user_id = y.user_id AND x.day = y.day
        |                        AND x.event_type < y.event_type
        |      GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, p.n_ab, sa.n_t AS n_a, sb.n_t AS n_b,
        |       n.n_baskets,
        |       CAST(p.n_ab * n.n_baskets AS DOUBLE) / CAST(sa.n_t * sb.n_t AS DOUBLE) AS lift
        |FROM p JOIN s sa ON sa.event_type = p.type_a
        |       JOIN s sb ON sb.event_type = p.type_b
        |       CROSS JOIN n""".stripMargin),
    // weekly-seasonality detector: lag-7 autocorrelation of each
    // category's daily series (calendar-aligned pairs only)
    QueryDef("q_autocorr", (s, d) =>
      Temporal.lagAutocorr(tx(s, d), "category", "txn_date", "amount", 7),
      // the q_corr_lineitem discipline over lag-7 calendar-aligned
      // pairs: decimal moment sums, VARCHAR-bridged doubles, mirrored
      // variance guard
      s"""WITH d AS (SELECT category, txn_date AS day,
         |                  CAST(sum(CAST(amount AS DECIMAL(14,2))) AS DECIMAL(14,2)) AS y
         |           FROM ($txSql) GROUP BY 1, 2),
         |p AS (SELECT category, day, y,
         |             lag(day, 7) OVER w AS xday,
         |             lag(y, 7) OVER w AS x
         |      FROM d WINDOW w AS (PARTITION BY category ORDER BY day ASC)),
         |f AS (SELECT category, x, y FROM p
         |      WHERE x IS NOT NULL AND date_diff('day', xday, day) = 7),
         |a AS (SELECT category, count(*) AS n_pairs,
         |             sum(x) AS sx, sum(y) AS sy,
         |             sum(CAST(x * y AS DECIMAL(34,4))) AS sxy,
         |             sum(CAST(x * x AS DECIMAL(34,4))) AS sxx,
         |             sum(CAST(y * y AS DECIMAL(34,4))) AS syy
         |      FROM f GROUP BY 1 HAVING count(*) >= 2)
         |SELECT category, n_pairs,
         |       CASE WHEN cast(n_pairs AS double) * cast(cast(sxx AS VARCHAR) AS double) - cast(cast(sx AS VARCHAR) AS double) * cast(cast(sx AS VARCHAR) AS double) > 0
         |             AND cast(n_pairs AS double) * cast(cast(syy AS VARCHAR) AS double) - cast(cast(sy AS VARCHAR) AS double) * cast(cast(sy AS VARCHAR) AS double) > 0
         |            THEN (cast(n_pairs AS double) * cast(cast(sxy AS VARCHAR) AS double) - cast(cast(sx AS VARCHAR) AS double) * cast(cast(sy AS VARCHAR) AS double))
         |                 / (sqrt(cast(n_pairs AS double) * cast(cast(sxx AS VARCHAR) AS double) - cast(cast(sx AS VARCHAR) AS double) * cast(cast(sx AS VARCHAR) AS double))
         |                    * sqrt(cast(n_pairs AS double) * cast(cast(syy AS VARCHAR) AS double) - cast(cast(sy AS VARCHAR) AS double) * cast(cast(sy AS VARCHAR) AS double)))
         |       END AS autocorr
         |FROM a""".stripMargin),
    // funnel timing: first-touch -> first conversion-at-or-after lag,
    // whole-day histogram with exact per-bucket mean
    QueryDef("q_conversion_lag", (s, d) =>
      Temporal.conversionLag(Tables.events(s, d), "user_id", "ts",
        "event_type", "view", "purchase"),
      // first-touch min, conversion-at-or-after min, then pure integer
      // µs -> sec -> day floor divisions; the mean is the only FP op
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu, event_type
        |           FROM events),
        |f AS (SELECT user_id, min(tsu) AS t0 FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, f.t0, min(e.tsu) AS t1
        |      FROM e JOIN f ON f.user_id = e.user_id
        |      WHERE e.event_type = 'purchase' AND e.tsu >= f.t0
        |      GROUP BY 1, 2),
        |l AS (SELECT (epoch_us(t1) - epoch_us(t0)) // 1000000 AS lag_sec FROM c)
        |SELECT CAST(lag_sec // 86400 AS BIGINT) AS lag_days,
        |       count(*) AS n_users,
        |       CAST(sum(lag_sec) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_lag_sec
        |FROM l GROUP BY 1""".stripMargin),
    // sequence mining: top-25 three-step consecutive event paths
    QueryDef("q_path_trigrams", (s, d) =>
      Temporal.pathTrigrams(Tables.events(s, d), "user_id", "ts",
        "event_type", 25),
      // two leads over the same total (µs-truncated ts, event_id) order;
      // deterministic top-k tie-break (n desc, path asc)
      """WITH e AS (SELECT user_id, event_id, event_type,
        |                  CAST(ts AS TIMESTAMP) AS tsu FROM events),
        |p AS (SELECT event_type AS t1,
        |             lead(event_type, 1) OVER w AS t2,
        |             lead(event_type, 2) OVER w AS t3
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
        |c AS (SELECT t1, t2, t3, count(*) AS n FROM p
        |      WHERE t3 IS NOT NULL GROUP BY 1, 2, 3)
        |SELECT t1, t2, t3, n FROM c
        |ORDER BY n DESC, t1 ASC, t2 ASC, t3 ASC LIMIT 25""".stripMargin),
    // Markov transition matrix over per-user event streams: counts +
    // empirical probabilities per (prev_type -> next_type) step
    QueryDef("q_event_transitions", (s, d) =>
      Temporal.eventTransitions(Tables.events(s, d), "user_id", "ts",
        "event_type"),
      // lag over the same total (µs-truncated ts, event_id) order; the
      // share division mirrors the exact-count operands
      """WITH e AS (SELECT user_id, event_id, event_type,
        |                  CAST(ts AS TIMESTAMP) AS tsu FROM events),
        |p AS (SELECT event_type AS next_type,
        |             lag(event_type) OVER (PARTITION BY user_id
        |               ORDER BY tsu, event_id) AS prev_type
        |      FROM e),
        |c AS (SELECT prev_type, next_type, count(*) AS n FROM p
        |      WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS tot
        |      FROM c GROUP BY 1)
        |SELECT c.prev_type, c.next_type, CAST(c.n AS BIGINT) AS n,
        |       CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS share
        |FROM c JOIN t ON c.prev_type = t.prev_type""".stripMargin),
    // sweep-line peak concurrency over the session_window intervals:
    // +1/-1 boundary deltas, distributed prefix sum (globalRank
    // pattern), per-day max level + session-start count
    QueryDef("q_peak_concurrency", (s, d) => {
      import org.apache.spark.sql.functions._
      val sw = Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("_n"))
        .select(col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"))
      Temporal.peakConcurrency(sw, "s_start", "s_end")
    },
      // same islands sessionization as q_session_window supplies the
      // intervals; the window cumsum in (t, delta) order stands in for
      // the engine's distributed prefix sum (-1 before +1 at shared
      // instants: level = intervals with start <= t < end)
      """WITH x AS (SELECT user_id, ts,
        |                  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
        |                       THEN 1 ELSE 0 END AS brk
        |           FROM events),
        |g AS (SELECT user_id, ts,
        |             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM x),
        |sess AS (SELECT min(ts) AS s_start, max(ts) + INTERVAL 30 MINUTE AS s_end
        |         FROM g GROUP BY user_id, sid),
        |deltas AS (SELECT s_start AS t, 1 AS dd FROM sess
        |           UNION ALL SELECT s_end, -1 FROM sess),
        |c AS (SELECT t, dd,
        |             sum(dd) OVER (ORDER BY t, dd
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lvl
        |      FROM deltas)
        |SELECT CAST(t AS DATE) AS day,
        |       CAST(max(lvl) AS BIGINT) AS peak_concurrent,
        |       CAST(sum(CASE WHEN dd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts
        |FROM c GROUP BY 1""".stripMargin),
    // time-series resample-to-bars (OHLC per user per day): one hash
    // agg, open/close via min_by/max_by over the total (ts, event_id)
    // order
    QueryDef("q_ohlc_bars", (s, d) =>
      Temporal.ohlcBars(Tables.events(s, d), "user_id", "ts", "value"),
      // dual row_numbers mirror min_by/max_by's (ts, event_id) tie-break
      """WITH e AS (SELECT user_id, event_id,
        |                  CAST(ts AS DATE) AS day,
        |                  CAST(ts AS TIMESTAMP) AS tsu,
        |                  CAST(value AS DECIMAL(14,2)) AS v
        |           FROM events),
        |r AS (SELECT *,
        |        row_number() OVER (PARTITION BY user_id, day
        |          ORDER BY tsu, event_id) AS ra,
        |        row_number() OVER (PARTITION BY user_id, day
        |          ORDER BY tsu DESC, event_id DESC) AS rd
        |      FROM e)
        |SELECT user_id, day,
        |       CAST(min(CASE WHEN ra=1 THEN v END) AS DOUBLE) AS open,
        |       CAST(max(v) AS DOUBLE) AS high,
        |       CAST(min(v) AS DOUBLE) AS low,
        |       CAST(min(CASE WHEN rd=1 THEN v END) AS DOUBLE) AS close,
        |       count(*) AS n_events,
        |       CAST(sum(v) AS DOUBLE) AS total_value
        |FROM r GROUP BY 1,2""".stripMargin),
  )
}
