package graft
package board

import graft.operators.{ReportUpsert, SpendingReport}

/** The spending-report family: the reference's period fold and its
  * building blocks over the transactions view (`SpendingReport`), the
  * reports table's upsert, range and JSON/VARIANT reads
  * (`ReportUpsert`), and plain aggregates over the same view. */
object SpendingQueries {

  lazy val defs: Seq[QueryDef] = Seq(
    // --- spending report core (SURVEY §2.4-§2.6) ---
    QueryDef("q_global_summary", (s, d) => SpendingReport.globalSummary(tx(s, d)),
      s"""SELECT cast(sum(cast(amount AS DECIMAL(14,2))) AS double) AS total_spent,
         |       count(*) AS total_transactions,
         |       min(txn_date) AS begin_date,
         |       max(txn_date) AS end_date
         |FROM ($txSql)""".stripMargin),
    QueryDef("q_category_totals", (s, d) => SpendingReport.keyTotals(tx(s, d), "category"),
      s"""WITH t AS (SELECT category, cast(sum(cast(amount AS DECIMAL(14,2))) AS double) AS total
         |           FROM ($txSql) GROUP BY category)
         |SELECT category, total,
         |       row_number() OVER (ORDER BY total ASC, category ASC) AS rank_asc
         |FROM t""".stripMargin),
    QueryDef("q_vendor_totals", (s, d) => SpendingReport.keyTotals(tx(s, d), "vendor"),
      s"""WITH t AS (SELECT vendor, cast(sum(cast(amount AS DECIMAL(14,2))) AS double) AS total
         |           FROM ($txSql) GROUP BY vendor)
         |SELECT vendor, total,
         |       row_number() OVER (ORDER BY total ASC, vendor ASC) AS rank_asc
         |FROM t""".stripMargin),
    QueryDef("q_distinct_categories", (s, d) => SpendingReport.distinctKeys(tx(s, d), "category"),
      s"SELECT DISTINCT category FROM ($txSql)"),
    QueryDef("q_unique_sets", (s, d) => SpendingReport.uniqueKeySetsDigest(tx(s, d)),
      s"""SELECT md5(array_to_string(list_sort(list(DISTINCT category)), '|')) AS categories_md5,
         |       count(DISTINCT category) AS n_categories,
         |       md5(array_to_string(list_sort(list(DISTINCT vendor)), '|')) AS vendors_md5,
         |       count(DISTINCT vendor) AS n_vendors
         |FROM ($txSql)""".stripMargin),
    QueryDef("q_mean_category", (s, d) => SpendingReport.zeroImputedMean(tx(s, d), "category"),
      s"""SELECT category,
         |       cast(sum(cast(amount AS DECIMAL(14,2))) AS double) /
         |             (SELECT cast(count(DISTINCT txn_date) AS double) FROM ($txSql))
         |         AS mean_amount
         |FROM ($txSql) GROUP BY category""".stripMargin),
    QueryDef("q_mean_vendor", (s, d) => SpendingReport.zeroImputedMean(tx(s, d), "vendor"),
      s"""SELECT vendor,
         |       cast(sum(cast(amount AS DECIMAL(14,2))) AS double) /
         |             (SELECT cast(count(DISTINCT txn_date) AS double) FROM ($txSql))
         |         AS mean_amount
         |FROM ($txSql) GROUP BY vendor""".stripMargin),
    QueryDef("q_pct_change_category", (s, d) => SpendingReport.pctChangeLatest(tx(s, d), "category"),
      pctChangeSql("category")),
    QueryDef("q_pct_change_vendor", (s, d) => SpendingReport.pctChangeLatest(tx(s, d), "vendor"),
      pctChangeSql("vendor")),
    QueryDef("q_top5_vendors_asc", (s, d) => SpendingReport.top5Asc(tx(s, d), "vendor"),
      s"""WITH t AS (SELECT vendor, cast(sum(cast(amount AS DECIMAL(14,2))) AS double) AS total
         |           FROM ($txSql) GROUP BY vendor)
         |SELECT vendor, total FROM t ORDER BY total ASC, vendor ASC LIMIT 5""".stripMargin),
    QueryDef("q_dates_catalog", (s, d) =>
      tx(s, d).select(org.apache.spark.sql.functions.col("txn_date").as("begin_date"),
                      org.apache.spark.sql.functions.col("txn_date").as("end_date")).distinct(),
      s"SELECT DISTINCT txn_date AS begin_date, txn_date AS end_date FROM ($txSql)"),
    // exact-moment dispersion stats: decimal sums of x and x² are
    // order-independent, and the double arithmetic on them is a fixed
    // operand-order formula — so variance/stddev hash-match across
    // engines (naive FP aggregation would not)
    QueryDef("q_spend_stats", (s, d) => {
      import org.apache.spark.sql.functions._
      val amt2 = col("amount").cast("decimal(14,2)")
      // n = 1 guard: Spark (non-ANSI) division yields NULL on the
      // n*(n-1)=0 divisor while DuckDB's IEEE division yields Inf/NaN —
      // an explicit CASE WHEN n > 1 in BOTH engines makes the
      // degenerate stratum NULL everywhere. The squared sum goes
      // decimal -> string -> double (correctly-rounded IEEE parse in
      // both engines) so the conversion stays bit-identical past 2^53
      // — see q_corr_lineitem.
      tx(s, d).groupBy(col("category"))
        .agg(count(lit(1)).as("n"), sum(amt2).as("_s"),
             sum((amt2 * amt2).cast("decimal(30,4)")).as("_ssq"))
        .select(col("category"), col("n"),
          (col("_s").cast("double") / col("n").cast("double")).as("mean_amount"),
          when(col("n") > 1,
            (col("n").cast("double") * col("_ssq").cast("string").cast("double")
               - col("_s").cast("double") * col("_s").cast("double"))
              / (col("n").cast("double") * (col("n").cast("double") - 1.0))).as("var_amount"))
        .withColumn("stddev_amount", sqrt(col("var_amount")))
    },
      s"""WITH t AS (SELECT category, count(*) AS n,
         |                  sum(cast(amount AS DECIMAL(14,2))) AS s,
         |                  sum(cast(cast(amount AS DECIMAL(14,2)) * cast(amount AS DECIMAL(14,2)) AS DECIMAL(30,4))) AS ssq
         |           FROM ($txSql) GROUP BY category)
         |SELECT category, n,
         |       cast(s AS double) / cast(n AS double) AS mean_amount,
         |       CASE WHEN n > 1 THEN
         |         (cast(n AS double) * cast(cast(ssq AS VARCHAR) AS double) - cast(s AS double) * cast(s AS double))
         |           / (cast(n AS double) * (cast(n AS double) - 1.0)) END AS var_amount,
         |       CASE WHEN n > 1 THEN
         |         sqrt((cast(n AS double) * cast(cast(ssq AS VARCHAR) AS double) - cast(s AS double) * cast(s AS double))
         |           / (cast(n AS double) * (cast(n AS double) - 1.0))) END AS stddev_amount
         |FROM t""".stripMargin),
    // --- upsert / reports surface (SURVEY §2.1 S3-S6, §2.3 J1, §2.2 P5) ---
    QueryDef("q_upsert_merge", (s, d) => {
      import org.apache.spark.sql.functions.{col, dayofmonth}
      val t = tx(s, d)
      val v1 = ReportUpsert.dailyReports(
        t.filter(dayofmonth(col("txn_date")) <= 15 || col("category") =!= "error"), "v1")
      val v2 = ReportUpsert.dailyReports(t, "v2")
      ReportUpsert.merge(v1, v2)
    },
      s"""WITH v1 AS (SELECT txn_date AS begin_date, txn_date AS end_date,
         |                   cast(sum(cast(amount AS DECIMAL(14,2))) AS double) AS total_spent,
         |                   'v1' AS version, count(*) AS total_transactions
         |            FROM ($txSql)
         |            WHERE day(txn_date) <= 15 OR category <> 'error'
         |            GROUP BY txn_date),
         |     v2 AS (SELECT txn_date AS begin_date, txn_date AS end_date,
         |                   cast(sum(cast(amount AS DECIMAL(14,2))) AS double) AS total_spent,
         |                   'v2' AS version, count(*) AS total_transactions
         |            FROM ($txSql) GROUP BY txn_date)
         |SELECT coalesce(v1.begin_date, v2.begin_date) AS begin_date,
         |       coalesce(v1.end_date, v2.end_date) AS end_date,
         |       CASE WHEN v1.total_transactions IS NULL
         |              OR v2.total_transactions > v1.total_transactions
         |            THEN v2.total_spent ELSE v1.total_spent END AS total_spent,
         |       CASE WHEN v1.total_transactions IS NULL
         |              OR v2.total_transactions > v1.total_transactions
         |            THEN v2.version ELSE v1.version END AS version,
         |       CASE WHEN v1.total_transactions IS NULL
         |              OR v2.total_transactions > v1.total_transactions
         |            THEN v2.total_transactions ELSE v1.total_transactions END AS total_transactions
         |FROM v1 FULL OUTER JOIN v2
         |  ON v1.begin_date = v2.begin_date AND v1.end_date = v2.end_date""".stripMargin),
    QueryDef("q_report_by_range", (s, d) =>
      ReportUpsert.dailyReports(tx(s, d), "v1")
        .orderBy(org.apache.spark.sql.functions.col("begin_date")).limit(1),
      s"""SELECT txn_date AS begin_date, txn_date AS end_date,
         |       cast(sum(cast(amount AS DECIMAL(14,2))) AS double) AS total_spent,
         |       'v1' AS version, count(*) AS total_transactions
         |FROM ($txSql) GROUP BY txn_date ORDER BY begin_date LIMIT 1""".stripMargin),
    // --- JSON VARIANT roundtrip (F6/F7/P6: to_json -> get_json_object) ---
    QueryDef("q_json_roundtrip", (s, d) => {
      import org.apache.spark.sql.functions._
      ReportUpsert.dailyReports(tx(s, d), "v")
        .withColumn("details", to_json(struct(col("total_spent"), col("total_transactions"))))
        .select(col("begin_date"),
          get_json_object(col("details"), "$.total_spent").cast("double").as("total_spent"),
          get_json_object(col("details"), "$.total_transactions").cast("long").as("total_transactions"))
    },
      s"""SELECT txn_date AS begin_date,
         |       cast(sum(cast(amount AS DECIMAL(14,2))) AS double) AS total_spent,
         |       count(*) AS total_transactions
         |FROM ($txSql) GROUP BY txn_date""".stripMargin),
    // --- true VARIANT path (Spark 4 VariantType — the literal analog
    // of the reference's Snowflake VARIANT details column,
    // README.md:44-52): build details JSON, parse_json -> VARIANT,
    // variant_get typed extraction. Output is scalar-only so the
    // DuckDB oracle gates it (same values as q_json_roundtrip). ---
    QueryDef("q_variant_extract", (s, d) => {
      import org.apache.spark.sql.functions._
      ReportUpsert.dailyReports(tx(s, d), "v")
        .withColumn("details",
          parse_json(to_json(struct(col("total_spent"), col("total_transactions")))))
        .select(col("begin_date"),
          variant_get(col("details"), "$.total_spent", "double").as("total_spent"),
          variant_get(col("details"), "$.total_transactions", "bigint").as("total_transactions"))
    },
      s"""SELECT txn_date AS begin_date,
         |       cast(sum(cast(amount AS DECIMAL(14,2))) AS double) AS total_spent,
         |       count(*) AS total_transactions
         |FROM ($txSql) GROUP BY txn_date""".stripMargin),
    // outlier-robust per-category mean over the [p05,p95] band (exact
    // interpolated bounds broadcast back; decimal-space kept-range sum)
    QueryDef("q_trimmed_mean", (s, d) =>
      SpendingReport.trimmedMean(tx(s, d)),
      s"""WITH b AS (SELECT category,
         |                  quantile_cont(amount, 0.05) AS lo,
         |                  quantile_cont(amount, 0.95) AS hi
         |           FROM ($txSql) GROUP BY category),
         |k AS (SELECT t.category, count(*) AS n_kept,
         |             sum(cast(amount AS DECIMAL(14,2))) AS s
         |      FROM ($txSql) t JOIN b ON t.category = b.category
         |      WHERE amount >= lo AND amount <= hi
         |      GROUP BY t.category)
         |SELECT k.category, b.lo, b.hi, k.n_kept,
         |       CAST(k.s AS DOUBLE) / k.n_kept AS trimmed_mean
         |FROM k JOIN b ON k.category = b.category""".stripMargin),
    // robust spread: median absolute deviation per category
    QueryDef("q_mad", (s, d) => SpendingReport.madByKey(tx(s, d)),
      s"""WITH m AS (SELECT category, quantile_cont(amount, 0.5) AS med
         |           FROM ($txSql) GROUP BY category)
         |SELECT t.category, m.med,
         |       quantile_cont(abs(amount - med), 0.5) AS mad,
         |       count(*) AS n
         |FROM ($txSql) t JOIN m ON t.category = m.category
         |GROUP BY t.category, m.med""".stripMargin),
    QueryDef("q_pivot_wide", (s, d) =>
      SpendingReport.pivotWide(tx(s, d), "category",
        Seq("click", "error", "purchase", "signup", "view")),
      {
      val cols = Seq("click", "error", "purchase", "signup", "view").map(c =>
        s"cast(coalesce(sum(cast(amount AS DECIMAL(14,2))) FILTER (WHERE category = '$c'), 0) AS double) AS $c")
        .mkString(",\n       ")
      s"""SELECT txn_date,
         |       $cols
         |FROM ($txSql) GROUP BY txn_date""".stripMargin
    }),
    QueryDef("q_unpivot_long", (s, d) =>
      SpendingReport.unpivotWide(
        SpendingReport.pivotWide(tx(s, d), "category",
          Seq("click", "error", "purchase", "signup", "view")),
        "category", Seq("click", "error", "purchase", "signup", "view")),
      s"""WITH s AS (SELECT txn_date, category,
         |                  cast(sum(cast(amount AS DECIMAL(14,2))) AS double) AS amount
         |           FROM ($txSql) GROUP BY txn_date, category),
         |d AS (SELECT DISTINCT txn_date FROM ($txSql)),
         |k AS (SELECT unnest(['click','error','purchase','signup','view']) AS category)
         |SELECT d.txn_date, k.category, coalesce(s.amount, 0.0) AS amount
         |FROM d CROSS JOIN k
         |LEFT JOIN s ON s.txn_date = d.txn_date AND s.category = k.category""".stripMargin),
    // calendar-month rollup (F1/F2 date family over A5): date_trunc is
    // engine-portable and the decimal sum exact
    QueryDef("q_monthly_spend", (s, d) => {
      import org.apache.spark.sql.functions._
      tx(s, d).groupBy(date_trunc("month", col("txn_date")).cast("date").as("month"),
          col("category"))
        .agg(sum(col("amount").cast("decimal(14,2)")).cast("double").as("total_spent"),
             count(lit(1)).as("n"))
    },
      s"""SELECT cast(date_trunc('month', txn_date) AS DATE) AS month, category,
         |       cast(sum(cast(amount AS DECIMAL(14,2))) AS double) AS total_spent,
         |       count(*) AS n
         |FROM ($txSql) GROUP BY 1, 2""".stripMargin),
    // ABC/Pareto cumulative contribution, distributed prefix sums
    QueryDef("q_pareto_vendors", (s, d) =>
      SpendingReport.paretoContribution(tx(s, d), "vendor"),
      s"""WITH t AS ($txSql),
         |tot AS (SELECT vendor, sum(cast(amount AS DECIMAL(14,2))) AS total
         |        FROM t GROUP BY vendor)
         |SELECT vendor,
         |       CAST(total AS DOUBLE) AS total_spent,
         |       CAST(sum(total) OVER w AS DOUBLE) AS cum_spent,
         |       CAST(sum(total) OVER w AS DOUBLE)
         |         / CAST((SELECT sum(total) FROM tot) AS DOUBLE) AS cum_share
         |FROM tot
         |WINDOW w AS (ORDER BY total DESC, vendor ASC
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),
    // spend concentration across vendors (rank-form Gini off exact
    // decimal sums, distributed rank)
    QueryDef("q_gini_vendors", (s, d) =>
      SpendingReport.giniConcentration(tx(s, d), "vendor"),
      s"""WITH tot AS (SELECT vendor, sum(cast(amount AS DECIMAL(14,2))) AS total
         |             FROM ($txSql) GROUP BY vendor),
         |r AS (SELECT vendor, total,
         |             row_number() OVER (ORDER BY total ASC, vendor ASC) AS rk
         |      FROM tot)
         |SELECT count(*) AS n_keys,
         |       cast(2 * sum(total * rk) - (count(*) + 1) * sum(total) AS double)
         |         / cast(count(*) * sum(total) AS double) AS gini
         |FROM r""".stripMargin),
  )

  /** W1/W2 oracle: dense date×key grid, 0-imputed, lag pct-change of the
    * latest date per key (SURVEY §2.5; engine semantics: 0/missing
    * predecessor -> 0.0). */
  private def pctChangeSql(key: String): String =
    s"""WITH d AS (SELECT DISTINCT txn_date FROM ($txSql)),
       |     k AS (SELECT DISTINCT $key FROM ($txSql)),
       |     s AS (SELECT txn_date, $key, cast(sum(cast(amount AS DECIMAL(14,2))) AS double) AS amount
       |           FROM ($txSql) GROUP BY txn_date, $key),
       |     g AS (SELECT d.txn_date, k.$key, coalesce(s.amount, 0.0) AS amount
       |           FROM d CROSS JOIN k
       |           LEFT JOIN s ON s.txn_date = d.txn_date AND s.$key = k.$key),
       |     p AS (SELECT $key, amount,
       |                  lag(amount) OVER (PARTITION BY $key ORDER BY txn_date) AS prev,
       |                  row_number() OVER (PARTITION BY $key ORDER BY txn_date DESC) AS rn
       |           FROM g)
       |SELECT $key,
       |       CASE WHEN prev IS NULL OR prev = 0.0 THEN 0.0
       |            ELSE (amount - prev) / prev END AS pct_change
       |FROM p WHERE rn = 1""".stripMargin
}
