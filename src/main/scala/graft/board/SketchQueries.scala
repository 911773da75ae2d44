package graft
package board

import org.apache.spark.sql.Column

/** The sketch family: approximate distinct counts, percentiles and
  * frequencies gated against their exact values (`Sketches`,
  * `HeavyHitters`, `ExactPercentiles`). */
object SketchQueries {

  lazy val defs: Seq[QueryDef] = Seq(
    // --- A7 at scale: HLL approximate-distinct toggle ---
    // HLL++ sketch promoted from rows-only to a BOUNDED-ERROR gate:
    // the row carries the exact counts plus a within-bound flag
    // (|approx-exact| <= 10% of exact — 5× the sketch's 2% rsd; the
    // sketch is deterministic per dataset, so the flag is stable), and
    // the oracle computes the exact counts with literal-1 flags — the
    // hash matches iff the sketch honors its documented bound.
    QueryDef("q_approx_distinct", (s, d) => {
      import org.apache.spark.sql.functions._
      def ok(approx: Column, exact: Column): Column =
        when(abs(approx - exact).cast("double") <= exact.cast("double") * 0.10, 1L)
          .otherwise(0L)
      tx(s, d).agg(
        countDistinct(col("vendor")).as("exact_vendors"),
        approx_count_distinct(col("vendor"), 0.02).as("_av"),
        countDistinct(col("category")).as("exact_categories"),
        approx_count_distinct(col("category"), 0.02).as("_ac"))
        .select(col("exact_vendors"),
          ok(col("_av"), col("exact_vendors")).as("vendors_ok"),
          col("exact_categories"),
          ok(col("_ac"), col("exact_categories")).as("categories_ok"))
    },
      // Bounded-error sketch gates: the oracle computes the EXACT side
      // plus literal-1 within-bound flags; the Spark row computes the
      // flags from the sketch's documented bound — hash matches iff the
      // sketch honors it (see the queries' comments for the bounds).
      s"""SELECT count(DISTINCT vendor) AS exact_vendors,
         |       CAST(1 AS BIGINT) AS vendors_ok,
         |       count(DISTINCT category) AS exact_categories,
         |       CAST(1 AS BIGINT) AS categories_ok
         |FROM ($txSql)""".stripMargin),
    // sketch ALGEBRA: per-day HLL sketches unioned into monthly
    // distinct-user counts — est_ok bounds the merged estimate,
    // merge_ok pins union-of-sketches ≡ sketch-of-union (the law that
    // licenses precomputing slice sketches at ingest)
    QueryDef("q_hll_merge", (s, d) => {
      import org.apache.spark.sql.functions._
      graft.functions.Sketches.mergedDistinct(Tables.events(s, d),
        to_date(col("ts")), trunc(col("ts"), "month"), col("user_id"))
    },
      // the merge gate: exact monthly distincts + literal-1 flags — the
      // hash matches iff the merged estimate honors its bound AND the
      // union-of-sketches equals the direct sketch on every range
      """SELECT CAST(date_trunc('month', ts) AS DATE) AS range_key,
        |       count(DISTINCT user_id) AS n_exact,
        |       CAST(1 AS BIGINT) AS est_ok,
        |       CAST(1 AS BIGINT) AS merge_ok
        |FROM events GROUP BY 1""".stripMargin),
    // Count-Min frequency sketch: per-type exact counts + the two CMS
    // laws as flags (never undercounts; overcount within 2·eps·N).
    // The probe key set is the event-type DICTIONARY (5 values) — the
    // regime CMS serves; fixed seed makes the flags deterministic
    QueryDef("q_cms_freq", (s, d) => {
      import org.apache.spark.sql.functions.col
      graft.functions.Sketches.cmsFrequencies(Tables.events(s, d),
        col("event_type"))
    },
      // exact per-type counts + literal-1 flags for both CMS laws; the
      // 5-value dictionary sits far under the probe cap, so truncated=0
      """SELECT CAST(event_type AS VARCHAR) AS key,
        |       count(*) AS n_exact,
        |       CAST(1 AS BIGINT) AS over_ok,
        |       CAST(1 AS BIGINT) AS bound_ok,
        |       CAST(0 AS BIGINT) AS truncated
        |FROM events GROUP BY 1""".stripMargin),
    // KLL quantile-sketch merge: per-day sketches of l_extendedprice
    // merged per month; flags check the returned quantiles' EXACT
    // ranks against the probe probabilities (the published guarantee)
    QueryDef("q_kll_merge", (s, d) => {
      import org.apache.spark.sql.functions._
      graft.functions.Sketches.mergedQuantiles(Tables.lineitem(s, d),
        to_date(col("l_shipdate")), trunc(col("l_shipdate"), "month"),
        col("l_extendedprice"), Seq(0.5, 0.9))
    },
      // exact monthly row counts + literal-1 rank flags
      """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS range_key,
        |       count(*) AS n_rows,
        |       CAST(1 AS BIGINT) AS ok_q50,
        |       CAST(1 AS BIGINT) AS ok_q90
        |FROM lineitem GROUP BY 1""".stripMargin),
    // theta-sketch SET ops: audience overlap/union/difference between
    // the purchase and view audiences — intersection is what HLL
    // cannot merge; exact counts gate, estimate flags bound
    QueryDef("q_theta_setops", (s, d) => {
      import org.apache.spark.sql.functions.col
      graft.functions.Sketches.thetaSetOps(Tables.events(s, d),
        col("user_id"),
        col("event_type") === "purchase", col("event_type") === "view")
    },
      // exact set arithmetic per distinct user sets; literal-1 flags
      // for the three theta estimates
      """SELECT count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS n_a,
        |       count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS n_b,
        |       count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END)
        |         + count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END)
        |         - count(DISTINCT CASE WHEN event_type IN ('purchase', 'view') THEN user_id END) AS n_inter,
        |       count(DISTINCT CASE WHEN event_type IN ('purchase', 'view') THEN user_id END) AS n_union,
        |       CAST(1 AS BIGINT) AS inter_ok,
        |       CAST(1 AS BIGINT) AS union_ok,
        |       CAST(1 AS BIGINT) AS diff_ok
        |FROM events""".stripMargin),
    // --- exact percentiles (A-extension) + heavy-hitters sketch ---
    QueryDef("q_percentiles", (s, d) => {
      import org.apache.spark.sql.functions._
      tx(s, d).groupBy(col("category"))
        .agg(expr("percentile(amount, 0.25)").as("q25"),
             expr("percentile(amount, 0.5)").as("q50"),
             expr("percentile(amount, 0.75)").as("q75"),
             count(lit(1)).as("n"))
    },
      s"""SELECT category,
         |       quantile_cont(amount, 0.25) AS q25,
         |       quantile_cont(amount, 0.5) AS q50,
         |       quantile_cont(amount, 0.75) AS q75,
         |       count(*) AS n
         |FROM ($txSql) GROUP BY category""".stripMargin),
    // same exact percentiles through the engine's own
    // TypedImperativeAggregate (custom partial/merge/eval lifecycle,
    // Spark-interpolation-identical) — gated by the SAME DuckDB
    // quantile_cont oracle as the built-in form above, plus a
    // merge-under-repartition ScalaCheck property.
    QueryDef("q_percentiles_custom", (s, d) => {
      import org.apache.spark.sql.functions._
      tx(s, d).groupBy(col("category"))
        .agg(graft.plans.ExactPercentiles.exact_percentiles(
               col("amount").cast("double"), Seq(0.25, 0.5, 0.75)).as("qs"),
             count(lit(1)).as("n"))
        .select(col("category"), col("qs").getItem(0).as("q25"),
          col("qs").getItem(1).as("q50"), col("qs").getItem(2).as("q75"), col("n"))
    },
      s"""SELECT category,
         |       quantile_cont(amount, 0.25) AS q25,
         |       quantile_cont(amount, 0.5) AS q50,
         |       quantile_cont(amount, 0.75) AS q75,
         |       count(*) AS n
         |FROM ($txSql) GROUP BY category""".stripMargin),
    // KLL-style approx_percentile promoted from rows-only to a
    // BOUNDED-ERROR gate: each returned quantile v must satisfy the
    // rank guarantee |rank(v) - p·n| <= δ·n (δ = 0.005, 5× the
    // sketch's 1/accuracy = 0.001) — verified as count(< v) <=
    // (p+δ)·n AND count(<= v) >= (p-δ)·n per category. The row
    // carries (category, n, ok-flags); the oracle computes n with
    // literal-1 flags, so the hash matches iff the sketch honors its
    // documented rank bound.
    QueryDef("q_approx_percentiles", (s, d) => {
      import org.apache.spark.sql.functions._
      val appr = tx(s, d).groupBy(col("category"))
        .agg(expr("approx_percentile(amount, array(0.25, 0.5, 0.75), 1000)").as("qs"))
      def okFlag(p: Double, q: Column): Column = {
        val delta = 0.005
        val le = sum(when(col("amount") <= q, 1L).otherwise(0L)).cast("double")
        val lt = sum(when(col("amount") < q, 1L).otherwise(0L)).cast("double")
        val n = count(lit(1)).cast("double")
        when(lt <= lit(p + delta) * n && le >= lit(p - delta) * n, 1L).otherwise(0L)
      }
      tx(s, d).join(broadcast(appr), Seq("category"))
        .groupBy(col("category"))
        .agg(count(lit(1)).as("n"),
          okFlag(0.25, col("qs").getItem(0)).as("ok25"),
          okFlag(0.50, col("qs").getItem(1)).as("ok50"),
          okFlag(0.75, col("qs").getItem(2)).as("ok75"))
    },
      s"""SELECT category, count(*) AS n,
         |       CAST(1 AS BIGINT) AS ok25,
         |       CAST(1 AS BIGINT) AS ok50,
         |       CAST(1 AS BIGINT) AS ok75
         |FROM ($txSql) GROUP BY category""".stripMargin),
    // SpaceSaving degenerates to exact counts while the vocabulary fits
    // the sketch capacity (this corpus: ~40 distinct tokens < 64 at
    // every sf, verified max_error=0) — which makes the top-k
    // oracle-expressible; the eviction regime is covered by specs.
    QueryDef("q_heavy_hitters", (s, d) =>
      graft.functions.HeavyHitters.topDocTerms(Tables.documents(s, d), 64, 20),
      raw"""WITH t AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
           |           FROM documents)
           |SELECT term, count(*) AS count, CAST(0 AS BIGINT) AS max_error
           |FROM t GROUP BY term ORDER BY count DESC, term ASC LIMIT 20""".stripMargin),
  )
}
