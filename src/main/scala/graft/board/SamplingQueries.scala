package graft
package board

import graft.functions.TextAnalysis

/** The sampling family: splits, stratified, bottom-k, PPS and
  * temperature samples and sequence packing (`Sampling`). */
object SamplingQueries {

  lazy val defs: Seq[QueryDef] = Seq(
    // context-window packing audit: per-language greedy packing into
    // 512-token bins (one partitioned window + one grouped agg)
    QueryDef("q_packing", (s, d) => {
      import org.apache.spark.sql.functions.col
      graft.functions.Sampling.packSequences(
        Tables.documents(s, d),
        org.apache.spark.sql.functions.size(
          TextAnalysis.tokens(col("text"))).cast("long"),
        "lang", "doc_id", 512L)
    },
      raw"""WITH t AS (SELECT doc_id, lang,
           |                  CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_toks
           |           FROM documents),
           |c AS (SELECT lang, doc_id, n_toks,
           |             coalesce(sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
           |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
           |      FROM t)
           |SELECT lang, CAST(cb // 512 AS BIGINT) AS bin_id, count(*) AS n_docs,
           |       CAST(sum(n_toks) AS BIGINT) AS sum_tokens
           |FROM c GROUP BY lang, cb // 512""".stripMargin),
    QueryDef("q_split_counts", (s, d) => {
      import org.apache.spark.sql.functions._
      graft.functions.Sampling.withSplit(Tables.documents(s, d), "doc_id", 10, 10)
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
    },
      """WITH s AS (SELECT lang, n_chars,
        |    CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 10 THEN 'val'
        |         WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 20 THEN 'test'
        |         ELSE 'train' END AS split
        |  FROM documents)
        |SELECT lang, split, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM s GROUP BY lang, split""".stripMargin),
    // per-stratum sampling fractions (training-mix rebalancing):
    // deterministic per-key rule, per-language percentages
    QueryDef("q_stratified_sample", (s, d) => {
      import org.apache.spark.sql.functions._
      graft.functions.Sampling.stratifiedSampleByFractions(
        Tables.documents(s, d), "doc_id", "lang",
        Map("en" -> 50, "es" -> 20, "fr" -> 10))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("bigint").as("sum_chars"))
    },
      """WITH s AS (SELECT lang, n_chars,
        |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS b
        |  FROM documents)
        |SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM s
        |WHERE b < CASE lang WHEN 'en' THEN 50 WHEN 'es' THEN 20 WHEN 'fr' THEN 10 ELSE 0 END
        |GROUP BY lang""".stripMargin),
    // exact-k deterministic sample: 50 lowest md5(doc_id) rows via
    // TakeOrderedAndProject (zero full shuffles at any scale)
    QueryDef("q_bottomk_sample", (s, d) =>
      graft.functions.Sampling.bottomK(Tables.documents(s, d), "doc_id", 50)
        .select("doc_id", "lang", "n_chars"),
      """SELECT doc_id, lang, n_chars FROM documents
        |ORDER BY md5(CAST(doc_id AS VARCHAR)) LIMIT 50""".stripMargin),
    // balanced eval carve-out: exactly 20 docs per language by the
    // same per-key rule (one stratum-keyed rank window)
    QueryDef("q_eval_sample", (s, d) =>
      graft.functions.Sampling.bottomKPerStratum(
        Tables.documents(s, d), "doc_id", "lang", 20)
        .select("doc_id", "lang", "n_chars"),
      """WITH r AS (SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
        |  FROM documents)
        |SELECT doc_id, lang, n_chars FROM r WHERE rk <= 20""".stripMargin),
    // training-mix sizing: per-language token budget -> epochs plan
    QueryDef("q_token_budget_mix", (s, d) =>
      graft.functions.Sampling.tokenBudgetMix(Tables.documents(s, d), "lang",
        Map("en" -> 0.5, "es" -> 0.2, "fr" -> 0.2, "de" -> 0.1), 1000000L),
      """WITH counts AS (
        |  SELECT lang, CAST(sum(n_toks) AS BIGINT) AS n_tokens
        |  FROM (SELECT lang,
        |               len(string_split_regex(trim(lower(text)), '\s+')) AS n_toks
        |        FROM documents)
        |  GROUP BY lang),
        |w AS (SELECT lang, CAST(weight AS DOUBLE) AS weight
        |      FROM (VALUES ('en', 0.5), ('es', 0.2), ('fr', 0.2),
        |                   ('de', 0.1)) AS t(lang, weight))
        |SELECT c.lang, c.n_tokens, w.weight,
        |       w.weight * 1000000.0 AS target_tokens,
        |       (w.weight * 1000000.0) / CAST(c.n_tokens AS DOUBLE) AS epochs
        |FROM counts c JOIN w ON w.lang = c.lang""".stripMargin),
    // multilingual training-mix rebalance (alpha=0.5 temperature
    // sampling): per-language keep fraction sqrt(n_min/n_l), md5
    // membership — the mix report is the gate shape
    QueryDef("q_temperature_mix", (s, d) =>
      graft.functions.Sampling.temperatureMixStats(
        Tables.documents(s, d), "doc_id", "lang"),
      """WITH c AS (SELECT lang, count(*) AS n_before FROM documents GROUP BY lang),
        |m AS (SELECT min(n_before) AS nmin FROM c),
        |p AS (SELECT lang, n_before,
        |             sqrt(CAST((SELECT nmin FROM m) AS DOUBLE) / CAST(n_before AS DOUBLE)) AS frac
        |      FROM c),
        |kept AS (SELECT d.lang, count(*) AS n_after
        |         FROM documents d JOIN p ON p.lang = d.lang
        |         WHERE CAST(CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)
        |                 < p.frac * 4294967296.0
        |         GROUP BY d.lang)
        |SELECT p.lang, p.n_before,
        |       CAST(COALESCE(kept.n_after, 0) AS BIGINT) AS n_after,
        |       p.frac
        |FROM p LEFT JOIN kept ON kept.lang = p.lang""".stripMargin),
    // deterministic weighted (PPS) sampling: ~16 docs proportional to
    // token count, selection marks in pure integer arithmetic
    QueryDef("q_pps_sample", (s, d) => {
      import org.apache.spark.sql.functions._
      graft.functions.Sampling.ppsSystematic(Tables.documents(s, d), "doc_id",
        size(split(trim(lower(col("text"))), "\\s+")), 16)
    },
      // same mark-counting integer arithmetic over the same md5 order;
      // the window cumsum stands in for the engine's partitioned prefix
      // sums
      """WITH w AS (
        |  SELECT doc_id,
        |         CAST(len(string_split_regex(trim(lower(text)),'\s+')) AS BIGINT) AS w,
        |         md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents
        |  WHERE len(string_split_regex(trim(lower(text)),'\s+')) > 0),
        |c AS (SELECT doc_id, w,
        |             CAST(sum(w) OVER (ORDER BY h, doc_id
        |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ci
        |      FROM w),
        |t AS (SELECT GREATEST(1, CAST(sum(w) AS BIGINT) // 16) AS step FROM w)
        |SELECT doc_id, w AS n_tokens
        |FROM c, t
        |WHERE (ci + step - 1) // step > (ci - w + step - 1) // step""".stripMargin),
  )
}
