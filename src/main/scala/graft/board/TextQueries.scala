package graft
package board

import graft.functions.{Dedup, TextAnalysis}

/** The text family over documents: token statistics, quality scoring
  * and filtering, BPE, n-gram language models and the curation ledger
  * (`TextAnalysis`). */
object TextQueries {

  lazy val defs: Seq[QueryDef] = Seq(
    // --- text analysis (training-data pipeline ops) ---
    QueryDef("q_token_stats", (s, d) => TextAnalysis.tokenStats(Tables.documents(s, d)),
      """SELECT doc_id, n_chars, cast(length(text) AS bigint) AS len_chars,
        |       cast(len(string_split_regex(trim(lower(text)), '\s+')) AS bigint) AS n_tokens,
        |       cast(length(regexp_replace(text, '\s', '', 'g')) AS bigint) AS n_nonspace_chars
        |FROM documents""".stripMargin),
    QueryDef("q_quality_score", (s, d) => TextAnalysis.qualityScore(Tables.documents(s, d)),
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks,
        |                  cast(length(regexp_replace(text, '\s', '', 'g')) AS double) AS nonspace,
        |                  cast(length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]-]', '', 'g')) AS bigint) AS n_punct
        |           FROM documents)
        |SELECT doc_id, cast(len(toks) AS bigint) AS n_tokens,
        |       cast(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on'))) AS double)
        |         / cast(len(toks) AS double) AS stopword_ratio,
        |       nonspace / cast(len(toks) AS double) AS avg_token_len,
        |       n_punct,
        |       ((cast(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on'))) AS double)
        |          / cast(len(toks) AS double)) * 0.4)
        |       + (least(cast(len(toks) AS double) / 100.0, 1.0) * 0.3)
        |       + (least((nonspace / cast(len(toks) AS double)) / 8.0, 1.0) * 0.3) AS quality_score
        |FROM t""".stripMargin),
    // per-source percentile calibration of the composite quality score
    QueryDef("q_quality_calibrated", (s, d) =>
      TextAnalysis.calibratedQuality(Tables.documents(s, d)),
      // the oracle's per-source window stands in for the engine's
      // range-partitioned global rank + broadcast offset correction
      """WITH t AS (SELECT source, doc_id,
        |                  string_split_regex(trim(lower(text)), '\s+') AS toks,
        |                  cast(length(regexp_replace(text, '\s', '', 'g')) AS double) AS nonspace
        |           FROM documents),
        |s AS (SELECT source, doc_id,
        |        ((cast(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on'))) AS double)
        |           / cast(len(toks) AS double)) * 0.4)
        |        + (least(cast(len(toks) AS double) / 100.0, 1.0) * 0.3)
        |        + (least((nonspace / cast(len(toks) AS double)) / 8.0, 1.0) * 0.3) AS quality_score
        |      FROM t),
        |r AS (SELECT source, doc_id, quality_score,
        |             row_number() OVER (PARTITION BY source
        |               ORDER BY quality_score, doc_id) AS r_in_source,
        |             count(*) OVER (PARTITION BY source) AS n
        |      FROM s)
        |SELECT source, doc_id, quality_score,
        |       CAST(r_in_source AS BIGINT) AS r_in_source,
        |       CASE WHEN n = 1 THEN 0.0
        |            ELSE CAST(r_in_source - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)
        |       END AS pctl
        |FROM r""".stripMargin),
    QueryDef("q_language_id", (s, d) => TextAnalysis.languageId(Tables.documents(s, d)),
      """WITH t AS (SELECT doc_id, lang,
        |    cast(len(regexp_extract_all(lower(text), '\bthe\b')) + len(regexp_extract_all(lower(text), '\band\b'))
        |       + len(regexp_extract_all(lower(text), '\bof\b')) + len(regexp_extract_all(lower(text), '\bis\b')) AS bigint) AS s_en,
        |    cast(len(regexp_extract_all(lower(text), '\bel\b')) + len(regexp_extract_all(lower(text), '\bla\b'))
        |       + len(regexp_extract_all(lower(text), '\bde\b')) + len(regexp_extract_all(lower(text), '\bque\b')) AS bigint) AS s_es,
        |    cast(len(regexp_extract_all(lower(text), '\ble\b')) + len(regexp_extract_all(lower(text), '\bla\b'))
        |       + len(regexp_extract_all(lower(text), '\bet\b')) + len(regexp_extract_all(lower(text), '\best\b')) AS bigint) AS s_fr
        |  FROM documents)
        |SELECT doc_id, lang, s_en, s_es, s_fr,
        |       CASE WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
        |            WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS lang_pred,
        |       (CASE WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
        |             WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END) = lang AS agrees
        |FROM t""".stripMargin),
    QueryDef("q_fingerprint", (s, d) => TextAnalysis.fingerprint(Tables.documents(s, d)),
      """SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents""".stripMargin),
    QueryDef("q_top_terms", (s, d) => TextAnalysis.topTerms(Tables.documents(s, d), 3),
      raw"""WITH tok AS (SELECT doc_id,
           |               unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
           |             FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
           |       WHERE term NOT IN ('the','a','of','and','to','in','is','on')
           |       GROUP BY doc_id, term),
           |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
           |r AS (SELECT doc_id, term, tf,
           |             row_number() OVER (PARTITION BY doc_id
           |               ORDER BY tf DESC, term ASC) AS rnk
           |      FROM tf)
           |SELECT r.doc_id, CAST(r.rnk AS BIGINT) AS rnk, r.term,
           |       CAST(r.tf AS BIGINT) AS tf, CAST(df.df AS BIGINT) AS df
           |FROM r JOIN df ON r.term = df.term WHERE r.rnk <= 3""".stripMargin),
    // keyword extraction: top-3 per doc by tf·idf (integer idf
    // surrogate scale div df — same discipline as q_doc_rarity)
    QueryDef("q_tfidf_keywords", (s, d) =>
      TextAnalysis.tfidfKeywords(Tables.documents(s, d), 3),
      // same token/stopword pipeline as q_top_terms; score is the exact
      // integer tf·(scale div df), `div` ⟷ DuckDB `//`
      raw"""WITH tok AS (SELECT doc_id,
           |               unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
           |             FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
           |       WHERE term NOT IN ('the','a','of','and','to','in','is','on')
           |       GROUP BY doc_id, term),
           |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
           |s AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
           |             CAST(tf.tf AS BIGINT) * (CAST(1000000 AS BIGINT) // CAST(df.df AS BIGINT)) AS score
           |      FROM tf JOIN df ON tf.term = df.term),
           |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
           |               ORDER BY score DESC, term ASC) AS rnk
           |      FROM s)
           |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term,
           |       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           |       CAST(score AS BIGINT) AS score
           |FROM r WHERE rnk <= 3""".stripMargin),
    QueryDef("q_doc_rarity", (s, d) => TextAnalysis.docRarity(Tables.documents(s, d)),
      raw"""WITH tok AS (SELECT DISTINCT doc_id, term FROM
           |               (SELECT doc_id,
           |                  unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
           |                FROM documents)
           |             WHERE term NOT IN ('the','a','of','and','to','in','is','on')),
           |df AS (SELECT term, count(*) AS df FROM tok GROUP BY term)
           |SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           |       CAST(sum(1000000 // df.df) AS BIGINT) AS rarity_score,
           |       CAST(CAST(sum(1000000 // df.df) AS BIGINT) AS double)
           |         / CAST(count(*) AS double) AS rarity_per_term
           |FROM tok JOIN df ON tok.term = df.term
           |GROUP BY tok.doc_id""".stripMargin),
    // repetition/boilerplate quality filters (C4/Gopher-style
    // duplicate-n-gram + most-common-token heuristics)
    QueryDef("q_repetition", (s, d) => TextAnalysis.repetitionStats(Tables.documents(s, d)),
      raw"""WITH tok AS (SELECT doc_id,
           |               unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
           |             FROM documents),
           |tf AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok),
           |t AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
           |             count(*) AS n_distinct_tokens, max(c) AS max_tf
           |      FROM tf GROUP BY doc_id),
           |b AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
           |      FROM documents),
           |gr AS (SELECT doc_id,
           |              unnest(list_transform(range(1, len(toks)),
           |                                    i -> toks[i] || ' ' || toks[i + 1])) AS g
           |       FROM b),
           |gf AS (SELECT doc_id, g, count(*) AS c FROM gr GROUP BY doc_id, g),
           |g2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2grams,
           |              count(*) AS n_distinct_2grams
           |       FROM gf GROUP BY doc_id)
           |SELECT t.doc_id, t.n_tokens, t.n_distinct_tokens,
           |       CAST(t.max_tf AS DOUBLE) / CAST(t.n_tokens AS DOUBLE) AS top_token_frac,
           |       CAST(1.0 AS DOUBLE) - CAST(t.n_distinct_tokens AS DOUBLE)
           |         / CAST(t.n_tokens AS DOUBLE) AS dup_token_ratio,
           |       CAST(coalesce(g2.n_2grams, 0) AS BIGINT) AS n_2grams,
           |       CAST(1.0 AS DOUBLE) - CAST(g2.n_distinct_2grams AS DOUBLE)
           |         / CAST(g2.n_2grams AS DOUBLE) AS dup_2gram_frac,
           |       (CAST(t.max_tf AS DOUBLE) / CAST(t.n_tokens AS DOUBLE) <= 0.2)
           |         AND coalesce(CAST(1.0 AS DOUBLE) - CAST(g2.n_distinct_2grams AS DOUBLE)
           |                        / CAST(g2.n_2grams AS DOUBLE) <= 0.2, TRUE)
           |         AS passes_repetition
           |FROM t LEFT JOIN g2 ON t.doc_id = g2.doc_id""".stripMargin),
    // corpus-hygiene funnel: per-doc keep / first-failing-rule over
    // length, language allowlist, repetition, and quality thresholds
    QueryDef("q_corpus_filter", (s, d) => TextAnalysis.corpusFilter(Tables.documents(s, d)),
      corpusFilterOracleSql),
    // per-stage attrition of the same cascade: where does the data die
    QueryDef("q_filter_attrition", (s, d) => TextAnalysis.filterAttrition(Tables.documents(s, d)),
      // attrition arithmetic over the SAME cascade oracle: stage i's
      // intake = total − Σ first-fail drops of earlier stages
      s"""WITH f AS (SELECT * FROM ($corpusFilterOracleSql)),
         |c AS (SELECT drop_reason, CAST(count(*) AS BIGINT) AS n FROM f
         |      WHERE drop_reason IS NOT NULL GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM f),
         |st AS (SELECT * FROM (VALUES ('too_short', CAST(1 AS BIGINT)),
         |                             ('lang', 2), ('repetition', 3),
         |                             ('low_quality', 4)) AS v(stage, stage_idx)),
         |x AS (SELECT st.stage, st.stage_idx,
         |             CAST(COALESCE(c.n, 0) AS BIGINT) AS n_dropped
         |      FROM st LEFT JOIN c ON c.drop_reason = st.stage),
         |y AS (SELECT stage, stage_idx, n_dropped,
         |             (SELECT n_total FROM tot)
         |               - CAST(COALESCE(sum(n_dropped) OVER (ORDER BY stage_idx
         |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_in
         |      FROM x)
         |SELECT stage, stage_idx, n_in, n_dropped, n_in - n_dropped AS n_out,
         |       CASE WHEN n_in > 0
         |            THEN CAST(n_dropped AS DOUBLE) / CAST(n_in AS DOUBLE) END AS drop_share
         |FROM y""".stripMargin),
    // sequence-length distribution for packing/max-seq-len tuning
    QueryDef("q_token_histogram", (s, d) =>
      TextAnalysis.tokenLengthHistogram(Tables.documents(s, d)),
      raw"""WITH t AS (SELECT lang,
           |             CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_toks
           |           FROM documents)
           |SELECT lang, n_toks // 16 * 16 AS bucket_lo, count(*) AS n_docs,
           |       CAST(sum(n_toks) AS BIGINT) AS sum_tokens,
           |       min(n_toks) AS min_tokens, max(n_toks) AS max_tokens
           |FROM t GROUP BY lang, n_toks // 16 * 16""".stripMargin),
    // bigram collocation mining: top-50 by lift (log-free PMI; one
    // fixed-order IEEE double expression, bit-identical both engines)
    QueryDef("q_collocations", (s, d) =>
      TextAnalysis.collocations(Tables.documents(s, d)),
      raw"""WITH b AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS toks
           |           FROM documents),
           |uni AS (SELECT tok, count(*) AS c
           |        FROM (SELECT unnest(toks) AS tok FROM b) GROUP BY tok),
           |big AS (SELECT sh, count(*) AS n_xy
           |        FROM (SELECT unnest(list_transform(range(1, greatest(len(toks), 1)),
           |                       i -> array_to_string(toks[i:i+1], ' '))) AS sh
           |              FROM b)
           |        GROUP BY sh),
           |tot AS (SELECT (SELECT sum(c) FROM uni) AS n_uni,
           |               (SELECT sum(n_xy) FROM big) AS n_big),
           |cand AS (SELECT string_split(sh, ' ')[1] AS w1,
           |                string_split(sh, ' ')[2] AS w2, n_xy
           |         FROM big WHERE n_xy >= 5)
           |SELECT w1, w2, n_xy, ux.c AS n_x, uy.c AS n_y,
           |       CAST(n_xy AS DOUBLE) * n_uni / ux.c * n_uni / uy.c / n_big AS lift
           |FROM cand
           |JOIN uni ux ON cand.w1 = ux.tok
           |JOIN uni uy ON cand.w2 = uy.tok
           |CROSS JOIN tot
           |ORDER BY lift DESC, w1, w2 LIMIT 50""".stripMargin),
    // pre-training segmentation: 64-token sliding windows, 16-token
    // overlap; chunk text emitted as md5 so the gate hashes content
    QueryDef("q_chunking", (s, d) => TextAnalysis.chunkDocs(Tables.documents(s, d), 64, 16),
      raw"""WITH b AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
           |           FROM documents),
           |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM b),
           |c AS (SELECT doc_id, toks, n,
           |             unnest(range(0, CASE WHEN n <= 64 THEN 1
           |                                  ELSE (n - 64 + 47) // 48 + 1 END)) AS chunk_id
           |      FROM n)
           |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           |       least(64, n - chunk_id * 48) AS n_chunk_tokens,
           |       md5(array_to_string(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' ')) AS chunk_md5
           |FROM c""".stripMargin),
    // PII redaction hygiene pass (emails/IPs/phones -> placeholders;
    // identical regex subset in both engines)
    QueryDef("q_redact_pii", (s, d) => TextAnalysis.redactPii(Tables.documents(s, d)),
      raw"""WITH s1 AS (SELECT doc_id,
           |              CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           |              regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
           |            FROM documents),
           |s2 AS (SELECT doc_id, n_emails,
           |              CAST(len(regexp_extract_all(t1, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
           |              regexp_replace(t1, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS t2
           |       FROM s1),
           |s3 AS (SELECT doc_id, n_emails, n_ips,
           |              CAST(len(regexp_extract_all(t2, '\+[0-9][0-9 ()./-]{6,}[0-9]')) AS BIGINT) AS n_phones,
           |              regexp_replace(t2, '\+[0-9][0-9 ()./-]{6,}[0-9]', '<PHONE>', 'g') AS t3
           |       FROM s2)
           |SELECT doc_id, n_emails, n_ips, n_phones, md5(t3) AS redacted_md5 FROM s3""".stripMargin),
    // END-TO-END curation ledger (r15, closes r14 verdict #6): the
    // production curation pipeline — rule filter → dedup APPLY →
    // benchmark decontamination → leakage-safe cluster split →
    // 512-token packing — gated as ONE row per stage with
    // docs_in/docs_out. The dedup and split stages apply the
    // CORPUS-WIDE dup closure (the suite-shared `componentsFor` memo —
    // at 100 TB the pair graph is mined once at ingest and every
    // filter change REUSES it, the signature-store discipline) rather
    // than re-mining the filtered subset: per cluster the smallest
    // FILTERED doc survives, so transitive chains through filtered-out
    // docs still collapse (A≈B≈C with B filtered: A survives, C
    // drops — a re-mine of the filtered corpus would silently keep C),
    // and the split buckets by the ORIGINAL cluster label, so no
    // near-dup pair straddles train/eval even across filter revisions.
    // The oracle replays the same chain from the per-stage gates' own
    // CTEs; rows reconcile with q_filter_attrition / q_dedup_savings
    // (monotone attrition; splits partition n3). `Smoke curate`
    // remains the sibling drive of the re-mine composition
    // (dedupCorpus/withClusterSplit over the filtered frames).
    QueryDef("q_curate_ledger", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      import graft.functions.{Dedup, IndexMemo, Sampling, TextAnalysis}
      val docs = Tables.documents(s, d)
      // the ledger is 7 literal rows derived from the corpus — memoize
      // it whole (the dupPairs-frame discipline): a repeat call costs
      // nothing instead of re-driving the five-stage pipeline
      IndexMemo("curate_ledger", docs, ()) {
      val nIn = docs.count()
      val kept1 = docs.join(
        TextAnalysis.corpusFilter(docs).filter(col("keep")).select("doc_id"),
        Seq("doc_id"), "left_semi").localCheckpoint()
      val n1 = kept1.count()
      // cluster label of every FILTERED doc under the corpus closure
      val lab = kept1.select(col("doc_id"))
        .join(Dedup.componentsFor(docs, 3, 8, 4, 0.5)
            .select(col("id").as("doc_id"), col("label")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("lbl"))
        .localCheckpoint()
      val reps = lab.groupBy(col("lbl")).agg(min(col("doc_id")).as("doc_id"))
      val kept2 = kept1.join(reps.select("doc_id"), Seq("doc_id"), "left_semi")
        .localCheckpoint()
      val n2 = kept2.count()
      val benchmark = docs.filter(col("doc_id") % 97 === 0)
      val kept3 = kept2.join(
        Dedup.decontaminate(kept2, benchmark, 5, 3L)
          .filter(!col("contaminated")).select("doc_id"),
        Seq("doc_id"), "left_semi").localCheckpoint()
      val n3 = kept3.count()
      val sp = kept3.select(col("doc_id"), col("text"))
        .join(lab, Seq("doc_id"))
        .withColumn("split", {
          val b = Sampling.hashBucket(col("lbl"), 100)
          when(b < 10, lit("val")).when(b < 20, lit("test"))
            .otherwise(lit("train"))
        }).localCheckpoint()
      val sc = sp.groupBy(col("split")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val nBins = Sampling.packSequences(
        sp.withColumn("_nt",
          size(TextAnalysis.tokens(col("text"))).cast("long")),
        col("_nt"), "split", "doc_id", 512L).count()
      Seq(
        ("filter", 1L, nIn, n1),
        ("dedup", 2L, n1, n2),
        ("decontaminate", 3L, n2, n3),
        ("split_train", 4L, n3, sc.getOrElse("train", 0L)),
        ("split_val", 5L, n3, sc.getOrElse("val", 0L)),
        ("split_test", 6L, n3, sc.getOrElse("test", 0L)),
        ("pack_bins", 7L, n3, nBins)
      ).toDF("stage", "stage_idx", "docs_in", "docs_out")
      }
    },
      // the composed curation pipeline, one row per stage (see
      // curateLedgerSql)
      curateLedgerSql),
    // BPE trainer inner loop: top adjacent within-word char pairs
    QueryDef("q_bpe_pairs", (s, d) =>
      TextAnalysis.bpePairCounts(Tables.documents(s, d), 50),
      raw"""WITH t AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS toks
           |           FROM documents),
           |wd AS (SELECT unnest(toks) AS w FROM t),
           |p AS (SELECT unnest(list_transform(range(1, greatest(length(w), 1)),
           |                    i -> w[i : i + 1])) AS pair
           |      FROM wd)
           |SELECT pair, CAST(count(*) AS BIGINT) AS n
           |FROM p GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 50""".stripMargin),
    // the FULL greedy BPE merge loop (4 rounds) over the word-frequency
    // table: learned merge rules in rank order
    QueryDef("q_bpe_train", (s, d) =>
      TextAnalysis.bpeTrain(Tables.documents(s, d), 4),
      bpeTrainSql(4)),
    // apply-side of the trained tokenizer: per-doc token budget under
    // the 4-merge vocab
    QueryDef("q_bpe_apply", (s, d) =>
      TextAnalysis.bpeApply(Tables.documents(s, d), 4),
      bpeApplySql(4)),
    // tokenizer fertility per language (bpe-tokens per word under the
    // corpus-trained vocab) — the tokenizer-fairness diagnostic; the
    // ratio is ONE double division of exact integer sums
    QueryDef("q_bpe_fertility", (s, d) => {
      import org.apache.spark.sql.functions.{col, sum}
      TextAnalysis.bpeApply(Tables.documents(s, d), 4, extraCols = Seq("lang"))
        .groupBy(col("lang"))
        .agg(sum(col("n_words")).as("n_words"),
          sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
        .withColumn("fertility",
          col("n_bpe_tokens").cast("double") / col("n_words").cast("double"))
    },
      bpeFertilitySql(4)),
    // corpus-trained bigram-LM typicality score (the portable form of
    // perplexity-bucket quality filtering): mean quantized P(w2|w1)
    QueryDef("q_bigram_lm", (s, d) =>
      TextAnalysis.bigramLmScore(Tables.documents(s, d)),
      // corpus-trained bigram LM: per-bigram P(w2|w1) from exact counts,
      // quantized to floor(1e9·p) BEFORE summation so the per-doc sum is
      // an order-free integer (ln-based perplexity would hash-diverge)
      raw"""WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
           |           FROM documents),
           |bg AS (SELECT doc_id,
           |              unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
           |              unnest(list_transform(range(1, len(toks)), i -> toks[i + 1])) AS w2
           |       FROM t),
           |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
           |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
           |p AS (SELECT c12.w1, c12.w2,
           |             CAST(floor(1000000000.0 *
           |               (CAST(c12.c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE))) AS BIGINT) AS pq
           |      FROM c12 JOIN c1 USING (w1)),
           |sc AS (SELECT bg.doc_id, count(*) AS n_bigrams,
           |              CAST(sum(p.pq) AS BIGINT) AS sum_pq
           |       FROM bg JOIN p ON bg.w1 = p.w1 AND bg.w2 = p.w2
           |       GROUP BY 1)
           |SELECT d.doc_id,
           |       COALESCE(sc.n_bigrams, 0) AS n_bigrams,
           |       COALESCE(sc.sum_pq, 0) AS sum_pq,
           |       CASE WHEN sc.n_bigrams IS NOT NULL
           |            THEN CAST(sc.sum_pq AS DOUBLE)
           |                   / (CAST(sc.n_bigrams AS DOUBLE) * 1000000000.0)
           |       END AS lm_score
           |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin),
    // CCNet shape: LM trained on the 'en' reference slice scores the
    // whole corpus; reference-unseen bigrams count as OOV
    QueryDef("q_bigram_lm_ref", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      TextAnalysis.bigramLmScoreAgainst(docs.filter(col("lang") === "en"), docs)
    },
      // reference-trained LM: counts from the 'en' slice only; target
      // bigrams unseen in the reference contribute 0 and count as oov
      raw"""WITH t AS (SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\s+') AS toks
           |           FROM documents),
           |bg AS (SELECT doc_id, lang,
           |              unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
           |              unnest(list_transform(range(1, len(toks)), i -> toks[i + 1])) AS w2
           |       FROM t),
           |rbg AS (SELECT * FROM bg WHERE lang = 'en'),
           |c12 AS (SELECT w1, w2, count(*) AS c12 FROM rbg GROUP BY 1, 2),
           |c1 AS (SELECT w1, count(*) AS c1 FROM rbg GROUP BY 1),
           |p AS (SELECT c12.w1, c12.w2,
           |             CAST(floor(1000000000.0 *
           |               (CAST(c12.c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE))) AS BIGINT) AS pq
           |      FROM c12 JOIN c1 USING (w1)),
           |sc AS (SELECT bg.doc_id, count(*) AS n_bigrams,
           |              CAST(sum(CASE WHEN p.pq IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           |              CAST(sum(COALESCE(p.pq, 0)) AS BIGINT) AS sum_pq
           |       FROM bg LEFT JOIN p ON bg.w1 = p.w1 AND bg.w2 = p.w2
           |       GROUP BY 1)
           |SELECT d.doc_id,
           |       COALESCE(sc.n_bigrams, 0) AS n_bigrams,
           |       COALESCE(sc.n_oov, 0) AS n_oov,
           |       COALESCE(sc.sum_pq, 0) AS sum_pq,
           |       CASE WHEN sc.n_bigrams IS NOT NULL
           |            THEN CAST(sc.sum_pq AS DOUBLE)
           |                   / (CAST(sc.n_bigrams AS DOUBLE) * 1000000000.0)
           |       END AS lm_score
           |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin),
    // unicode/control hygiene pass: md5-gated normalized text + counters
    QueryDef("q_normalize_text", (s, d) =>
      TextAnalysis.normalizeText(Tables.documents(s, d)),
      raw"""WITH n AS (SELECT doc_id, text,
           |    trim(regexp_replace(
           |      regexp_replace(
           |        regexp_replace(text, '[\x{200B}\x{200C}\x{200D}\x{FEFF}]', '', 'g'),
           |        '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
           |      '\s+', ' ', 'g')) AS t
           |  FROM documents)
           |SELECT doc_id, md5(t) AS norm_md5,
           |       CAST(length(t) AS BIGINT) AS n_chars_norm,
           |       CAST(length(text) - length(t) AS BIGINT) AS n_removed
           |FROM n""".stripMargin),
    // C4-style boilerplate removal (common 3-grams across >= minDf
    // docs), reported as kept/removed tokens per source
    QueryDef("q_boilerplate", (s, d) =>
      TextAnalysis.boilerplateNgrams(Tables.documents(s, d), 5),
      """WITH toks AS (
        |  SELECT doc_id, source,
        |         generate_subscripts(string_split_regex(trim(lower(text)),'\s+'),1) - 1 AS pos,
        |         unnest(string_split_regex(trim(lower(text)),'\s+')) AS tok
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, pos,
        |         tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w AS gram
        |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY lead(tok,2) OVER w IS NOT NULL),
        |common AS (SELECT gram FROM grams GROUP BY gram
        |           HAVING count(DISTINCT doc_id) >= 5),
        |cov AS (SELECT DISTINCT g.doc_id, g.pos + off.o AS covpos
        |        FROM grams g JOIN common USING (gram)
        |        CROSS JOIN (SELECT unnest([0,1,2]) AS o) off),
        |rem AS (SELECT doc_id, count(*) AS removed FROM cov GROUP BY 1),
        |per_doc AS (SELECT t.doc_id, any_value(t.source) AS source,
        |                   count(*) AS n_tok
        |            FROM toks t GROUP BY 1),
        |pd AS (SELECT p.source, p.n_tok, coalesce(r.removed,0) AS removed
        |       FROM per_doc p LEFT JOIN rem r USING (doc_id))
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |       CAST(sum(removed) AS BIGINT) AS removed_tokens,
        |       CAST(sum(CASE WHEN removed>0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_touched,
        |       CAST(sum(n_tok)-sum(removed) AS DOUBLE)/CAST(sum(n_tok) AS DOUBLE) AS keep_ratio
        |FROM pd GROUP BY source""".stripMargin),
    // Gopher-style multi-rule quality gate: per-source rule-failure
    // counts + all-rules pass rate, every rule an exact integer compare
    QueryDef("q_gopher_filter", (s, d) =>
      TextAnalysis.gopherFilter(Tables.documents(s, d)),
      """WITH t AS (SELECT doc_id, source,
        |                  string_split_regex(trim(lower(text)),'\s+') AS toks,
        |                  CAST(length(regexp_replace(text,'\s','','g')) AS BIGINT) AS nonspace
        |           FROM documents),
        |base AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tok, nonspace,
        |                CAST(len(list_distinct(list_filter(toks,
        |                  x -> x IN ('the','a','of','and','to','in','is','on')))) AS BIGINT) AS n_stop
        |         FROM t),
        |tok AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)),'\s+')) AS tok
        |        FROM documents),
        |mt AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS max_tok
        |       FROM (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1,2) GROUP BY 1),
        |flags AS (SELECT b.source,
        |    CASE WHEN n_tok < 20 THEN 1 ELSE 0 END AS f_short,
        |    CASE WHEN nonspace < n_tok*3 OR nonspace > n_tok*12 THEN 1 ELSE 0 END AS f_avg,
        |    CASE WHEN n_stop < 2 THEN 1 ELSE 0 END AS f_stop,
        |    CASE WHEN max_tok*5 > n_tok THEN 1 ELSE 0 END AS f_repeat
        |  FROM base b JOIN mt USING (doc_id))
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(f_short) AS BIGINT) AS fail_short,
        |  CAST(sum(f_avg) AS BIGINT) AS fail_avg_len,
        |  CAST(sum(f_stop) AS BIGINT) AS fail_stop,
        |  CAST(sum(f_repeat) AS BIGINT) AS fail_repeat,
        |  CAST(sum(CASE WHEN f_short+f_avg+f_stop+f_repeat=0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |  CAST(sum(CASE WHEN f_short+f_avg+f_stop+f_repeat=0 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS pass_rate
        |FROM flags GROUP BY source""".stripMargin),
    // fastText/CCNet-style hashed linear quality classifier: unigram +
    // bigram hashing trick, md5-derived integer stub weights (the seam
    // a trained vector plugs into), whole score computed INSIDE the
    // row — 0 exchanges at any corpus size
    QueryDef("q_quality_classifier", (s, d) =>
      TextAnalysis.hashedQualityScore(Tables.documents(s, d)),
      // hashing-trick replay: same md5 bucket, same md5 centi-weight,
      // exact integer sum, one final double division
      """WITH t AS (SELECT doc_id, lang,
        |             generate_subscripts(string_split_regex(trim(lower(text)),'\s+'),1)-1 AS pos,
        |             unnest(string_split_regex(trim(lower(text)),'\s+')) AS tok
        |           FROM documents),
        |f AS (
        |  SELECT doc_id, lang, tok AS feat FROM t
        |  UNION ALL
        |  SELECT doc_id, lang, tok || ' ' || lead(tok) OVER w AS feat
        |  FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY lead(tok) OVER w IS NOT NULL),
        |wts AS (SELECT doc_id, lang,
        |          CAST('0x'||substring(md5('w' ||
        |            CAST(CAST('0x'||substring(md5(feat),1,8) AS BIGINT) % 1048576 AS VARCHAR)
        |          ),1,8) AS BIGINT) % 2001 - 1000 AS w
        |        FROM f)
        |SELECT doc_id, lang, count(*) AS n_feats,
        |       CAST(sum(w) AS BIGINT) AS w_sum,
        |       CAST(sum(w) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000.0) AS score,
        |       CASE WHEN sum(w) >= 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep
        |FROM wts GROUP BY doc_id, lang""".stripMargin),
    // the TRAINED-weight seam exercised end-to-end: a nontrivial
    // (bucket, w) table (salt "w2" — a different weight vector than
    // the in-row stub) routed through the broadcast-lookup overload;
    // the oracle re-derives the same table and replays the join path
    QueryDef("q_quality_weighted", (s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.hashedQualityScoreWith(docs,
        TextAnalysis.stubWeightTable(docs, "w2"))
    },
      // trained-weight overload under the salt-"w2" table: same feature
      // CTE, weight = md5('w2' || bucket) centi-units — replaying the
      // broadcast-lookup path's arithmetic exactly (missing buckets
      // cannot occur here: the table covers every corpus bucket)
      """WITH t AS (SELECT doc_id, lang,
        |             generate_subscripts(string_split_regex(trim(lower(text)),'\s+'),1)-1 AS pos,
        |             unnest(string_split_regex(trim(lower(text)),'\s+')) AS tok
        |           FROM documents),
        |f AS (
        |  SELECT doc_id, lang, tok AS feat FROM t
        |  UNION ALL
        |  SELECT doc_id, lang, tok || ' ' || lead(tok) OVER w AS feat
        |  FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY lead(tok) OVER w IS NOT NULL),
        |wts AS (SELECT doc_id, lang,
        |          CAST('0x'||substring(md5('w2' ||
        |            CAST(CAST('0x'||substring(md5(feat),1,8) AS BIGINT) % 1048576 AS VARCHAR)
        |          ),1,8) AS BIGINT) % 2001 - 1000 AS w
        |        FROM f)
        |SELECT doc_id, lang, count(*) AS n_feats,
        |       CAST(sum(w) AS BIGINT) AS w_sum,
        |       CAST(sum(w) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000.0) AS score,
        |       CASE WHEN sum(w) >= 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep
        |FROM wts GROUP BY doc_id, lang""".stripMargin),
    // the boilerplate TRANSFORM hash-certified: per-doc md5 of the
    // cleaned (common-3-gram-stripped) text rebuilt in position order
    QueryDef("q_boilerplate_apply", (s, d) =>
      TextAnalysis.boilerplateApply(Tables.documents(s, d), 5),
      // rebuilds the identical cleaned string and hashes it — certifies
      // the transform, not just its stats; empty result coalesces to
      // md5('') exactly as the Spark side does
      """WITH toks AS (
        |  SELECT doc_id, source,
        |         generate_subscripts(string_split_regex(trim(lower(text)),'\s+'),1) - 1 AS pos,
        |         unnest(string_split_regex(trim(lower(text)),'\s+')) AS tok
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, pos,
        |         tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w AS gram
        |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY lead(tok,2) OVER w IS NOT NULL),
        |common AS (SELECT gram FROM grams GROUP BY gram
        |           HAVING count(DISTINCT doc_id) >= 5),
        |cov AS (SELECT DISTINCT g.doc_id, g.pos + off.o AS covpos
        |        FROM grams g JOIN common USING (gram)
        |        CROSS JOIN (SELECT unnest([0,1,2]) AS o) off)
        |SELECT t.doc_id,
        |       md5(coalesce(string_agg(t.tok, ' ' ORDER BY t.pos)
        |         FILTER (WHERE c.covpos IS NULL), '')) AS clean_md5,
        |       CAST(count(*) FILTER (WHERE c.covpos IS NULL) AS BIGINT) AS n_kept
        |FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.covpos
        |GROUP BY t.doc_id""".stripMargin),
  )

  // cascade oracle shared by q_corpus_filter (row-level) and
  // q_filter_attrition (per-stage funnel arithmetic)
  private lazy val corpusFilterOracleSql: String =
    raw"""WITH t AS (SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\s+') AS toks,
           |                  cast(length(regexp_replace(text, '\s', '', 'g')) AS double) AS nonspace
           |           FROM documents),
           |q AS (SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
           |             cast(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on'))) AS double)
           |               / cast(len(toks) AS double) * 0.4
           |             + least(cast(len(toks) AS double) / 100.0, 1.0) * 0.3
           |             + least((nonspace / cast(len(toks) AS double)) / 8.0, 1.0) * 0.3 AS quality_score
           |      FROM t),
           |gr AS (SELECT doc_id,
           |              unnest(list_transform(range(1, len(toks)),
           |                                    i -> toks[i] || ' ' || toks[i + 1])) AS g
           |       FROM t),
           |gf AS (SELECT doc_id, g, count(*) AS c FROM gr GROUP BY doc_id, g),
           |g2 AS (SELECT doc_id,
           |              CAST(1.0 AS DOUBLE) - CAST(count(*) AS DOUBLE)
           |                / CAST(sum(c) AS DOUBLE) AS dup_2gram_frac
           |       FROM gf GROUP BY doc_id),
           |j AS (SELECT q.doc_id, q.lang, q.n_tokens,
           |             CASE WHEN q.n_tokens < 20 THEN 'too_short'
           |                  WHEN q.lang NOT IN ('en','fr','es','de') THEN 'lang'
           |                  WHEN g2.dup_2gram_frac > 0.05 THEN 'repetition'
           |                  WHEN q.quality_score < 0.30 THEN 'low_quality' END AS drop_reason
           |      FROM q LEFT JOIN g2 ON q.doc_id = g2.doc_id)
           |SELECT doc_id, lang, n_tokens, drop_reason,
           |       drop_reason IS NULL AS keep
           |FROM j""".stripMargin

  /** DuckDB replay of the k-round greedy BPE merge loop
    * (TextAnalysis.bpeMerges): the word-frequency table, then per
    * round a pair-count CTE (p_i), the argmax merge rule (b_i — count
    * DESC, pair ASC on binary collation, LIMIT 1), and the merged
    * state (s_{i+1}) via the same literal left-to-right replace() on
    * the space-wrapped symbol strings. Emits w, s0..sk, p0..p{k-1},
    * b0..b{k-1}. */
  private def bpeStagesSql(k: Int): String = {
    val stages = (0 until k).map { i =>
      raw"""p$i AS (
           |  SELECT l, r, CAST(sum(freq) AS BIGINT) AS n
           |  FROM (SELECT freq, string_split(trim(sym), '  ') AS syms FROM s$i),
           |       UNNEST(range(1, len(syms))) AS u(i),
           |       LATERAL (SELECT syms[i] AS l, syms[i+1] AS r)
           |  GROUP BY l, r),
           |b$i AS (SELECT l, r, n FROM p$i ORDER BY n DESC, l ASC, r ASC LIMIT 1),
           |s${i + 1} AS (SELECT replace(sym,
           |    coalesce(' ' || (SELECT l FROM b$i) || '  ' || (SELECT r FROM b$i) || ' ', chr(1)),
           |    coalesce(' ' || (SELECT l FROM b$i) || (SELECT r FROM b$i) || ' ', chr(1))) AS sym, freq FROM s$i)"""
        .stripMargin
    }
    raw"""WITH w AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
         |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w FROM documents) GROUP BY w),
         |s0 AS (SELECT regexp_replace(w, '(?s)(.)', ' \1 ', 'g') AS sym, freq FROM w),
         |""".stripMargin + stages.mkString(",\n")
  }

  private def bpeTrainSql(k: Int): String =
    bpeStagesSql(k) + "\n" +
      (0 until k).map(i => s"""SELECT ${i + 1} AS "rank", l AS lhs, r AS rhs, n FROM b$i""")
        .mkString(" UNION ALL ") + """ ORDER BY "rank""""

  /** The nested literal-replace chain applying merges b0..b{k-1} in
    * rank order to the whole-text wrap (mirror of `bpeApply`). A dry
    * round (empty b_i — the corpus merged out before k rounds, which
    * Spark's trainer handles by stopping early) must be a NO-OP here,
    * not a NULL: the scalar subqueries go NULL and replace(x, NULL, …)
    * would NULL-poison every doc, so each level coalesces to the
    * identity replace (search == replacement == chr(1)). */
  private def bpeMergedExprSql(k: Int): String =
    (0 until k).foldLeft(raw"regexp_replace(lower(text), '(\S)', ' \1 ', 'g')") { (acc, i) =>
      s"replace($acc, coalesce(' ' || (SELECT l FROM b$i) || '  ' || (SELECT r FROM b$i) || ' ', chr(1)), " +
        s"coalesce(' ' || (SELECT l FROM b$i) || (SELECT r FROM b$i) || ' ', chr(1)))"
    }

  private def bpeApplySql(k: Int): String =
    bpeStagesSql(k) +
      raw"""
          |SELECT doc_id,
          |  CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_words,
          |  CAST(len(string_split_regex(trim(${bpeMergedExprSql(k)}), '\s+')) AS BIGINT) AS n_bpe_tokens
          |FROM documents""".stripMargin

  private def bpeFertilitySql(k: Int): String =
    bpeStagesSql(k) +
      raw"""
          |SELECT lang,
          |  CAST(sum(w) AS BIGINT) AS n_words,
          |  CAST(sum(b) AS BIGINT) AS n_bpe_tokens,
          |  CAST(sum(b) AS DOUBLE) / CAST(sum(w) AS DOUBLE) AS fertility
          |FROM (SELECT lang,
          |        len(string_split_regex(trim(lower(text)), '\s+')) AS w,
          |        len(string_split_regex(trim(${bpeMergedExprSql(k)}), '\s+')) AS b
          |      FROM documents)
          |GROUP BY lang""".stripMargin

  /** DuckDB replay of the WHOLE curation pipeline (`q_curate_ledger`,
    * r15): filter verdicts → the corpus-wide dedup closure APPLIED to
    * the filtered set (smallest filtered doc per cluster survives) →
    * 5-gram decontamination vs the doc_id%97 benchmark slice → the
    * SAME closure's labels keying the leakage-safe split →
    * cumulative 512-token packing. One dedup chain — the identical
    * CTEs q_dedup_corpus gates — consumed by two stages. */
  private lazy val curateLedgerSql = {
    def grams5(src: String): String =
      raw"""SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 3, 1)),
           |         i -> array_to_string(toks[i:i+4], ' '))) AS sh
           |FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM $src)""".stripMargin
    val bucket =
      "CAST('0x' || substring(md5(CAST(lab.lbl AS VARCHAR)), 1, 8) AS BIGINT) % 100"
    raw"""WITH fv AS MATERIALIZED (SELECT doc_id, keep FROM ($corpusFilterOracleSql)),
         |k1 AS MATERIALIZED (SELECT d.* FROM documents d JOIN fv ON fv.doc_id = d.doc_id WHERE fv.keep),
         |$dedupEdgesCtes,
         |${reachCteFrom("")},
         |lab AS MATERIALIZED (SELECT k1.doc_id, COALESCE(r.label, k1.doc_id) AS lbl
         |       FROM k1 LEFT JOIN reach r ON r.id = k1.doc_id),
         |rep AS (SELECT lbl, min(doc_id) AS doc_id FROM lab GROUP BY 1),
         |k2 AS MATERIALIZED (SELECT k1.* FROM k1 JOIN rep USING (doc_id)),
         |tr5 AS (SELECT DISTINCT doc_id, sh FROM (${grams5("k2")})),
         |be5 AS (SELECT DISTINCT sh FROM (${grams5("(SELECT * FROM documents WHERE doc_id % 97 = 0)")})),
         |c5 AS (SELECT tr5.doc_id, count(*) AS n FROM tr5 JOIN be5 USING (sh) GROUP BY 1),
         |k3 AS MATERIALIZED (SELECT k2.* FROM k2 LEFT JOIN c5 ON c5.doc_id = k2.doc_id
         |       WHERE coalesce(c5.n, 0) < 3),
         |sp AS MATERIALIZED (SELECT k3.doc_id,
         |         CASE WHEN $bucket < 10 THEN 'val'
         |              WHEN $bucket < 20 THEN 'test'
         |              ELSE 'train' END AS split,
         |         CAST(len(string_split_regex(trim(lower(k3.text)), '\s+')) AS BIGINT) AS n_toks
         |       FROM k3 JOIN lab ON lab.doc_id = k3.doc_id),
         |pc AS (SELECT split, doc_id, n_toks,
         |         coalesce(sum(n_toks) OVER (PARTITION BY split ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
         |       FROM sp),
         |bins AS (SELECT count(*) AS n FROM (SELECT DISTINCT split, cb // 512 FROM pc)),
         |nn AS (SELECT
         |   (SELECT count(*) FROM documents) AS n_in,
         |   (SELECT count(*) FROM k1) AS n1,
         |   (SELECT count(*) FROM k2) AS n2,
         |   (SELECT count(*) FROM k3) AS n3,
         |   (SELECT count(*) FROM sp WHERE split = 'train') AS n_train,
         |   (SELECT count(*) FROM sp WHERE split = 'val') AS n_val,
         |   (SELECT count(*) FROM sp WHERE split = 'test') AS n_test,
         |   (SELECT n FROM bins) AS n_bins)
         |SELECT 'filter' AS stage, CAST(1 AS BIGINT) AS stage_idx, n_in AS docs_in, n1 AS docs_out FROM nn
         |UNION ALL SELECT 'dedup', CAST(2 AS BIGINT), n1, n2 FROM nn
         |UNION ALL SELECT 'decontaminate', CAST(3 AS BIGINT), n2, n3 FROM nn
         |UNION ALL SELECT 'split_train', CAST(4 AS BIGINT), n3, n_train FROM nn
         |UNION ALL SELECT 'split_val', CAST(5 AS BIGINT), n3, n_val FROM nn
         |UNION ALL SELECT 'split_test', CAST(6 AS BIGINT), n3, n_test FROM nn
         |UNION ALL SELECT 'pack_bins', CAST(7 AS BIGINT), n3, n_bins FROM nn""".stripMargin
  }
}
