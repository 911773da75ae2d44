package graft
package board

import graft.functions.DataQuality

/** The data-quality family: outliers, drift, duplicate rates, date gaps,
  * Benford, anomalies, referential integrity and concentration
  * (`DataQuality`). */
object QualityQueries {

  lazy val defs: Seq[QueryDef] = Seq(
    // --- corpus-health diagnostics (DataQuality.scala) ---
    QueryDef("q_outliers", (s, d) => DataQuality.outliers(tx(s, d), "category", "amount", 2.0),
      s"""WITH t AS (SELECT category, count(*) AS n,
         |                  sum(cast(amount AS DECIMAL(14,2))) AS s,
         |                  sum(cast(cast(amount AS DECIMAL(14,2)) * cast(amount AS DECIMAL(14,2)) AS DECIMAL(30,4))) AS ssq
         |           FROM ($txSql) GROUP BY category),
         |st AS (SELECT category,
         |              cast(s AS double) / cast(n AS double) AS mean,
         |              CASE WHEN n > 1 THEN
         |                sqrt((cast(n AS double) * cast(cast(ssq AS VARCHAR) AS double) - cast(s AS double) * cast(s AS double))
         |                  / (cast(n AS double) * (cast(n AS double) - 1.0))) END AS stddev
         |       FROM t)
         |SELECT x.category, x.amount, (x.amount - st.mean) / st.stddev AS z
         |FROM ($txSql) x JOIN st ON x.category = st.category
         |WHERE st.stddev > 0.0 AND abs((x.amount - st.mean) / st.stddev) > 2.0""".stripMargin),
    // robust sibling of q_outliers: exact median + MAD via the gated
    // ExactPercentiles aggregate; per-category outlier counts at 3·MAD
    QueryDef("q_mad_outliers", (s, d) =>
      DataQuality.madOutliers(tx(s, d), "category", "amount", 3.0),
      // quantile_cont matches ExactPercentiles' interpolation; the 3·MAD
      // flag is the same fixed IEEE expression on both sides
      s"""WITH t AS (SELECT category, CAST(amount AS DOUBLE) AS v FROM ($txSql)),
         |m AS (SELECT category, quantile_cont(v, 0.5) AS med
         |      FROM t GROUP BY category),
         |d AS (SELECT t.category, m.med, abs(t.v - m.med) AS ad
         |      FROM t JOIN m ON t.category = m.category),
         |st AS (SELECT category, med, quantile_cont(ad, 0.5) AS mad,
         |              count(*) AS n
         |       FROM d GROUP BY category, med)
         |SELECT d.category, st.med, st.mad, st.n,
         |       CAST(sum(CASE WHEN d.ad > st.mad * 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         |FROM d JOIN st ON d.category = st.category
         |GROUP BY d.category, st.med, st.mad, st.n""".stripMargin),
    QueryDef("q_drift", (s, d) => DataQuality.categoricalDrift(tx(s, d), "txn_date", "category"),
      s"""WITH b AS (SELECT min(txn_date) + CAST(floor(datediff('day', min(txn_date), max(txn_date)) / 2) AS INTEGER) AS cutoff
         |           FROM ($txSql)),
         |c AS (SELECT category,
         |             sum(CASE WHEN txn_date <= (SELECT cutoff FROM b) THEN 1 ELSE 0 END) AS n_early,
         |             sum(CASE WHEN txn_date <= (SELECT cutoff FROM b) THEN 0 ELSE 1 END) AS n_late
         |      FROM ($txSql) GROUP BY category)
         |SELECT category, cast(n_early AS BIGINT) AS n_early, cast(n_late AS BIGINT) AS n_late,
         |       cast(n_early AS double) / cast((SELECT sum(n_early) FROM c) AS double) AS share_early,
         |       cast(n_late AS double) / cast((SELECT sum(n_late) FROM c) AS double) AS share_late,
         |       abs(cast(n_early AS double) / cast((SELECT sum(n_early) FROM c) AS double)
         |           - cast(n_late AS double) / cast((SELECT sum(n_late) FROM c) AS double)) AS abs_diff
         |FROM c""".stripMargin),
    QueryDef("q_dup_rate", (s, d) => DataQuality.dupRate(Tables.documents(s, d), Seq("lang", "source"), "text"),
      """SELECT lang, source, count(*) AS n_rows,
        |       count(DISTINCT md5(text)) AS n_distinct,
        |       1.0 - cast(count(DISTINCT md5(text)) AS double) / cast(count(*) AS double) AS dup_rate
        |FROM documents GROUP BY lang, source""".stripMargin),
    QueryDef("q_date_gaps", (s, d) => DataQuality.dateGaps(tx(s, d), "txn_date", "vendor"),
      s"""WITH sp AS (SELECT min(txn_date) AS d0, max(txn_date) AS d1 FROM ($txSql)),
         |k AS (SELECT DISTINCT vendor FROM ($txSql)),
         |e AS (SELECT k.vendor, CAST(unnest(generate_series((SELECT d0 FROM sp), (SELECT d1 FROM sp), INTERVAL 1 DAY)) AS DATE) AS day
         |      FROM k),
         |o AS (SELECT DISTINCT vendor, txn_date AS day FROM ($txSql))
         |SELECT e.vendor, count(*) AS n_missing,
         |       min(e.day) AS first_missing, max(e.day) AS last_missing
         |FROM e LEFT JOIN o ON e.vendor = o.vendor AND e.day = o.day
         |WHERE o.vendor IS NULL
         |GROUP BY e.vendor""".stripMargin),
    // Benford first-digit audit over exact integer cents
    QueryDef("q_benford", (s, d) =>
      DataQuality.benfordDigits(Tables.lineitem(s, d), "l_extendedprice"),
      // first digit of exact integer cents; Benford expectation shipped
      // as identical integer-ppm literals on both sides (no log)
      """WITH c AS (SELECT CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100.0) AS BIGINT) AS cents
        |           FROM lineitem),
        |d AS (SELECT substring(CAST(cents AS VARCHAR), 1, 1) AS digit,
        |             count(*) AS n
        |      FROM c WHERE cents > 0 GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM d)
        |SELECT d.digit, d.n,
        |       CAST(d.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS share,
        |       CAST(CASE d.digit WHEN '1' THEN 301030 WHEN '2' THEN 176091
        |                         WHEN '3' THEN 124939 WHEN '4' THEN 96910
        |                         WHEN '5' THEN 79181 WHEN '6' THEN 66947
        |                         WHEN '7' THEN 57992 WHEN '8' THEN 51153
        |                         WHEN '9' THEN 45757 END AS BIGINT) AS expected_ppm
        |FROM d CROSS JOIN t""".stripMargin),
    // day-of-week seasonal baselines; scale-free exact multiply flag
    QueryDef("q_seasonal_anomalies", (s, d) =>
      DataQuality.seasonalAnomalies(tx(s, d), "vendor", "txn_date", "amount"),
      // exact multiply predicate (cents·n_days > 2·cents_total); the
      // ratio is the single mirrored FP division
      s"""WITH t AS (SELECT vendor, txn_date,
         |                  CAST(amount AS DECIMAL(14,2)) AS a FROM ($txSql)),
         |d AS (SELECT vendor, txn_date AS day,
         |             CAST(sum(a) AS DECIMAL(14,2)) AS tt,
         |             CAST(sum(a) * 100 AS BIGINT) AS c,
         |             CAST(isodow(txn_date) AS BIGINT) AS dow
         |      FROM t GROUP BY 1, 2),
         |b AS (SELECT vendor, dow, CAST(count(*) AS BIGINT) AS n_days,
         |             CAST(sum(c) AS BIGINT) AS ctot
         |      FROM d GROUP BY 1, 2)
         |SELECT d.vendor, d.day, d.dow,
         |       CAST(d.tt AS DOUBLE) AS day_total,
         |       CASE WHEN b.ctot <> 0
         |            THEN CAST(d.c * b.n_days AS DOUBLE) / CAST(b.ctot AS DOUBLE)
         |       END AS ratio,
         |       b.n_days
         |FROM d JOIN b ON b.vendor = d.vendor AND b.dow = d.dow
         |WHERE d.c * b.n_days > 2 * b.ctot""".stripMargin),
    QueryDef("q_rate_spikes", (s, d) =>
      DataQuality.rateSpikes(Tables.events(s, d), "event_type", "ts"),
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |                  count(*) AS n_events
        |           FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day, n_events,
        |             sum(n_events) OVER (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS trailing_sum,
        |             count(n_events) OVER (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS trailing_days
        |      FROM d)
        |SELECT event_type, day, CAST(n_events AS BIGINT) AS n_events,
        |       CAST(trailing_sum AS BIGINT) AS trailing_sum,
        |       CAST(trailing_days AS BIGINT) AS trailing_days,
        |       CAST(n_events * trailing_days AS double)
        |         / CAST(trailing_sum AS double) AS rate_ratio
        |FROM w WHERE trailing_days >= 3 AND trailing_sum > 0""".stripMargin),
    // lakehouse referential-integrity audit over the whole star schema
    QueryDef("q_ref_integrity", (s, d) =>
      graft.functions.DataQuality.referentialIntegrity(Seq(
        ("lineitem->orders", Tables.lineitem(s, d), "l_orderkey",
          Tables.orders(s, d), "o_orderkey"),
        ("lineitem->part", Tables.lineitem(s, d), "l_partkey",
          Tables.part(s, d), "p_partkey"),
        ("lineitem->supplier", Tables.lineitem(s, d), "l_suppkey",
          Tables.supplier(s, d), "s_suppkey"),
        ("orders->customer", Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey"),
        ("customer->nation", Tables.customer(s, d), "c_nationkey",
          Tables.nation(s, d), "n_nationkey"),
        ("supplier->nation", Tables.supplier(s, d), "s_nationkey",
          Tables.nation(s, d), "n_nationkey"),
        ("nation->region", Tables.nation(s, d), "n_regionkey",
          Tables.region(s, d), "r_regionkey"))),
      """SELECT 'lineitem->orders' AS relation,
        |       (SELECT count(*) FROM lineitem) AS n_child,
        |       (SELECT count(*) FROM lineitem l LEFT JOIN orders o
        |          ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL) AS n_orphans
        |UNION ALL
        |SELECT 'lineitem->part',
        |       (SELECT count(*) FROM lineitem),
        |       (SELECT count(*) FROM lineitem l LEFT JOIN part p
        |          ON l.l_partkey = p.p_partkey WHERE p.p_partkey IS NULL)
        |UNION ALL
        |SELECT 'lineitem->supplier',
        |       (SELECT count(*) FROM lineitem),
        |       (SELECT count(*) FROM lineitem l LEFT JOIN supplier s
        |          ON l.l_suppkey = s.s_suppkey WHERE s.s_suppkey IS NULL)
        |UNION ALL
        |SELECT 'orders->customer',
        |       (SELECT count(*) FROM orders),
        |       (SELECT count(*) FROM orders o LEFT JOIN customer c
        |          ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
        |UNION ALL
        |SELECT 'customer->nation',
        |       (SELECT count(*) FROM customer),
        |       (SELECT count(*) FROM customer c LEFT JOIN nation n
        |          ON c.c_nationkey = n.n_nationkey WHERE n.n_nationkey IS NULL)
        |UNION ALL
        |SELECT 'supplier->nation',
        |       (SELECT count(*) FROM supplier),
        |       (SELECT count(*) FROM supplier s LEFT JOIN nation n
        |          ON s.s_nationkey = n.n_nationkey WHERE n.n_nationkey IS NULL)
        |UNION ALL
        |SELECT 'nation->region',
        |       (SELECT count(*) FROM nation),
        |       (SELECT count(*) FROM nation n LEFT JOIN region r
        |          ON n.n_regionkey = r.r_regionkey WHERE r.r_regionkey IS NULL)""".stripMargin),
    // per-source categorical concentration (Gini impurity + HHI):
    // exact BIGINT squared-count sums; the one double division and the
    // truncating ppm div both run on exact integer operands
    QueryDef("q_concentration", (s, d) =>
      DataQuality.concentration(Tables.documents(s, d), "source", "lang"),
      // exact integer squared-count sums; DuckDB HUGEINT products cast
      // back to BIGINT/DOUBLE to match Spark's long arithmetic
      """WITH c AS (SELECT source, lang, count(*) AS c
        |           FROM documents GROUP BY 1, 2)
        |SELECT source,
        |       CAST(sum(c) AS BIGINT) AS n_rows,
        |       count(*) AS n_distinct,
        |       CAST(sum(c)*sum(c) - sum(c*c) AS DOUBLE)
        |         / CAST(sum(c)*sum(c) AS DOUBLE) AS gini_impurity,
        |       CAST((sum(c*c) * 1000000) // (sum(c)*sum(c)) AS BIGINT) AS hhi_ppm
        |FROM c GROUP BY source""".stripMargin),
  )
}
