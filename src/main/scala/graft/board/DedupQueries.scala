package graft
package board

import graft.functions.Dedup

/** The dedup family over documents and events: exact, n-gram, MinHash
  * and SimHash duplicates, connected components and the dup graph
  * (`Dedup`). */
object DedupQueries {

  lazy val defs: Seq[QueryDef] = Seq(
    // --- dedup ---
    QueryDef("q_exact_dedup_docs", (s, d) => Dedup.exactDedupDocs(Tables.documents(s, d)),
      """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
        |       min(doc_id) AS keeper_doc_id, count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin),
    QueryDef("q_exact_dup_events", (s, d) => Dedup.exactDupEvents(Tables.events(s, d)),
      """SELECT user_id, event_type, value, count(*) AS n_occurrences
        |FROM events GROUP BY 1, 2, 3 HAVING count(*) > 1""".stripMargin),
    QueryDef("q_ngram_jaccard", (s, d) => Dedup.ngramJaccardPairsInverted(Tables.documents(s, d), 3, 0.5),
      ngramJaccardSql),
    QueryDef("q_ngram_containment", (s, d) => Dedup.ngramContainmentPairs(Tables.documents(s, d), 3, 0.6),
      s"""WITH s AS ($shinglesSql),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |             cast(len(list_intersect(a.sh, b.sh)) AS bigint) AS inter,
         |             cast(least(len(a.sh), len(b.sh)) AS bigint) AS min_size
         |      FROM s a JOIN s b
         |        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, inter, min_size,
         |       cast(inter AS double) / min_size AS containment
         |FROM p WHERE cast(inter AS double) / min_size >= 0.6""".stripMargin),
    QueryDef("q_source_overlap", (s, d) => Dedup.sourceOverlap(Tables.documents(s, d)),
      sourceOverlapSql),
    QueryDef("q_minhash_lsh", (s, d) => Dedup.minhashLshPairs(Tables.documents(s, d), 3, 8, 4, 0.5),
      minhashLshSql),
    QueryDef("q_simhash16", (s, d) => Dedup.simhash16(Tables.documents(s, d)),
      simhash16Sql),
    // benchmark decontamination: docs with doc_id % 50 == 0 stand in
    // for a held-out eval set; every other doc reports its shared
    // distinct-3-gram count against that set + the contamination flag
    QueryDef("q_decontaminate", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), 3, 5L)
    },
      s"""WITH s AS ($shinglesSql),
         |tr AS (SELECT doc_id, unnest(sh) AS sh FROM s WHERE doc_id % 50 <> 0),
         |be AS (SELECT DISTINCT unnest(sh) AS sh FROM s WHERE doc_id % 50 = 0),
         |c AS (SELECT tr.doc_id, count(*) AS n_shared FROM tr
         |      JOIN be ON tr.sh = be.sh GROUP BY tr.doc_id)
         |SELECT d.doc_id,
         |       CAST(coalesce(c.n_shared, 0) AS BIGINT) AS n_shared_shingles,
         |       coalesce(c.n_shared, 0) >= 5 AS contaminated
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
         |LEFT JOIN c ON d.doc_id = c.doc_id""".stripMargin),
    // exact-substring dedup diagnostic: per-doc token positions covered
    // by 5-grams shared with other docs (merged spans, true union)
    QueryDef("q_dup_spans", (s, d) => Dedup.duplicatedSpans(Tables.documents(s, d), 5),
      raw"""WITH b AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
           |           FROM documents),
           |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM b),
           |kg AS (SELECT doc_id, CAST(unnest(range(1, n - 5 + 2)) AS BIGINT) AS pos, toks
           |       FROM n WHERE n >= 5),
           |g AS (SELECT doc_id, pos,
           |             md5(array_to_string(toks[pos : pos + 4], ' ')) AS m
           |      FROM kg),
           |hot AS (SELECT m FROM (SELECT m, count(DISTINCT doc_id) AS df
           |                       FROM g GROUP BY m) WHERE df >= 2),
           |sp AS (SELECT doc_id, pos AS s, pos + 4 AS e,
           |              max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
           |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
           |       FROM g JOIN hot USING (m)),
           |cov AS (SELECT doc_id,
           |               CAST(sum(greatest(e - greatest(s - 1, coalesce(pmax, 0)), 0)) AS BIGINT)
           |                 AS covered_tokens,
           |               count(*) AS n_dup_kgrams
           |        FROM sp GROUP BY doc_id),
           |tot AS (SELECT doc_id, CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT)
           |               AS n_tokens
           |        FROM documents)
           |SELECT t.doc_id, t.n_tokens,
           |       CAST(coalesce(c.n_dup_kgrams, 0) AS BIGINT) AS n_dup_kgrams,
           |       CAST(coalesce(c.covered_tokens, 0) AS BIGINT) AS covered_tokens,
           |       CAST(coalesce(c.covered_tokens, 0) AS DOUBLE) / CAST(t.n_tokens AS DOUBLE)
           |         AS dup_token_frac
           |FROM tot t LEFT JOIN cov c ON t.doc_id = c.doc_id""".stripMargin),
    // the APPLY to the q_dup_spans diagnostic: removes the covered
    // spans and hash-certifies the rebuilt text; removed_tokens
    // reconciles with q_dup_spans.covered_tokens per doc (spec-pinned)
    QueryDef("q_dup_spans_apply", (s, d) =>
      Dedup.duplicatedSpansApply(Tables.documents(s, d), 5),
      // same hot-gram CTE as q_dup_spans + the boilerplate_apply rebuild:
      // the oracle reconstructs the identical cleaned string (1-based
      // positions, k=5 offsets) and hashes it; a fully-covered doc
      // coalesces to md5('') exactly as the Spark side does
      raw"""WITH b AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
           |           FROM documents),
           |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM b),
           |kg AS (SELECT doc_id, CAST(unnest(range(1, n - 5 + 2)) AS BIGINT) AS pos, toks
           |       FROM n WHERE n >= 5),
           |g AS (SELECT doc_id, pos,
           |             md5(array_to_string(toks[pos : pos + 4], ' ')) AS m
           |      FROM kg),
           |hot AS (SELECT m FROM (SELECT m, count(DISTINCT doc_id) AS df
           |                       FROM g GROUP BY m) WHERE df >= 2),
           |cov AS (SELECT DISTINCT g.doc_id, g.pos + off.o AS covpos
           |        FROM g JOIN hot USING (m)
           |        CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4]) AS o) off),
           |t AS (SELECT doc_id, CAST(generate_subscripts(toks, 1) AS BIGINT) AS pos,
           |             unnest(toks) AS tok
           |      FROM b)
           |SELECT t.doc_id,
           |       CAST(count(*) AS BIGINT) AS n_tokens,
           |       CAST(count(*) FILTER (WHERE c.covpos IS NULL) AS BIGINT) AS n_kept,
           |       CAST(count(*) FILTER (WHERE c.covpos IS NOT NULL) AS BIGINT) AS removed_tokens,
           |       md5(coalesce(string_agg(t.tok, ' ' ORDER BY t.pos)
           |         FILTER (WHERE c.covpos IS NULL), '')) AS clean_md5
           |FROM t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.covpos
           |GROUP BY t.doc_id""".stripMargin),
    // per-source governance rollup of the span APPLY (one aggregation
    // over the same per-doc frame — no second corpus scan)
    QueryDef("q_dup_spans_savings", (s, d) =>
      Dedup.duplicatedSpansAttrition(Tables.documents(s, d), 5),
      // the per-source rollup of the SAME apply computation: per-doc
      // kept/removed counts re-derived, then one grouped ledger
      raw"""WITH b AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
           |           FROM documents),
           |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM b),
           |kg AS (SELECT doc_id, CAST(unnest(range(1, n - 5 + 2)) AS BIGINT) AS pos, toks
           |       FROM n WHERE n >= 5),
           |g AS (SELECT doc_id, pos,
           |             md5(array_to_string(toks[pos : pos + 4], ' ')) AS m
           |      FROM kg),
           |hot AS (SELECT m FROM (SELECT m, count(DISTINCT doc_id) AS df
           |                       FROM g GROUP BY m) WHERE df >= 2),
           |cov AS (SELECT DISTINCT g.doc_id, g.pos + off.o AS covpos
           |        FROM g JOIN hot USING (m)
           |        CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4]) AS o) off),
           |t AS (SELECT doc_id, CAST(generate_subscripts(toks, 1) AS BIGINT) AS pos
           |      FROM b),
           |a AS (SELECT t.doc_id,
           |             CAST(count(*) AS BIGINT) AS n_tokens,
           |             CAST(count(*) FILTER (WHERE c.covpos IS NULL) AS BIGINT) AS n_kept,
           |             CAST(count(*) FILTER (WHERE c.covpos IS NOT NULL) AS BIGINT) AS removed
           |      FROM t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.covpos
           |      GROUP BY t.doc_id)
           |SELECT d.source,
           |       CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(CASE WHEN a.removed > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_touched,
           |       CAST(sum(a.n_tokens) AS BIGINT) AS tokens_in,
           |       CAST(sum(a.n_kept) AS BIGINT) AS tokens_kept,
           |       CAST(sum(a.removed) AS BIGINT) AS tokens_removed,
           |       CAST(sum(a.n_kept) AS DOUBLE) / CAST(sum(a.n_tokens) AS DOUBLE) AS keep_ratio
           |FROM a JOIN documents d USING (doc_id)
           |GROUP BY d.source""".stripMargin),
    // temporal 5-gram novelty per doc (first occurrence by arrival order)
    QueryDef("q_ngram_novelty", (s, d) => Dedup.gramNovelty(Tables.documents(s, d), 5),
      // same gram construction as q_dup_spans; ownership = min doc_id
      raw"""WITH b AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
           |           FROM documents),
           |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM b),
           |kg AS (SELECT doc_id, CAST(unnest(range(1, n - 5 + 2)) AS BIGINT) AS pos, toks
           |       FROM n WHERE n >= 5),
           |g AS (SELECT DISTINCT doc_id,
           |             md5(array_to_string(toks[pos : pos + 4], ' ')) AS m
           |      FROM kg),
           |f AS (SELECT m, min(doc_id) AS first_doc FROM g GROUP BY m)
           |SELECT g.doc_id,
           |       CAST(count(*) AS BIGINT) AS n_grams,
           |       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           |       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
           |         / CAST(count(*) AS DOUBLE) AS novelty
           |FROM g JOIN f USING (m) GROUP BY g.doc_id""".stripMargin),
    // incremental ingestion dedup: the doc_id % 5 "new batch" against
    // the doc_id % 3 "already-ingested corpus" (text overlap at
    // multiples of 15); bloom prefilter + exact broadcast verify, the
    // corpus never shuffles
    QueryDef("q_incremental_dedup", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      Dedup.incrementalDedup(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 5 === 0))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    },
      raw"""WITH fp AS (SELECT doc_id, lang, source, n_chars,
           |              md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
           |            FROM documents)
           |SELECT b.doc_id, b.lang, b.source, b.n_chars
           |FROM fp b
           |WHERE b.doc_id % 5 = 0
           |  AND NOT EXISTS (SELECT 1 FROM fp c
           |                  WHERE c.doc_id % 3 = 0 AND c.fp = b.fp)""".stripMargin),
    // INCREMENTAL connected components via the merge law (r14): the
    // dup-pair graph splits into a "first ingest" slice (both
    // endpoints even ids) and "the rest" (the later batch's internal +
    // cross edges); each slice gets its own fixpoint and
    // Dedup.mergeComponents contracts them — the output labeling must
    // hash-equal the ONE-SHOT closure over all edges (the oracle), so
    // the law that makes batch-incremental cluster maintenance legal
    // at 100 TB is driver-gated on real corpus data, not just
    // spec-planted graphs. Rides the suite-shared dupPairs memo.
    QueryDef("q_cc_incremental", (s, d) => {
      import org.apache.spark.sql.functions.col
      val pairs = Dedup.dupPairs(Tables.documents(s, d), 3, 8, 4, 0.5)
      val firstSlice = col("doc_a") % 2 === 0 && col("doc_b") % 2 === 0
      // the merged labeling memoizes on the pair-graph plan like every
      // other derived index — reps and future consumers skip the two
      // slice fixpoints (the first run still exercises them all)
      graft.functions.IndexMemo("ccinc", pairs, ()) {
        // The two slice fixpoints are independent driver-blocking
        // iteration loops over one shared pair graph — run them
        // CONCURRENTLY (the crossModalDedup discipline): the first
        // evaluation trains the minhash_pairs memo once behind its
        // per-key lock, then both pointer-jumping loops interleave
        // their small jobs on the idle cores. Results awaited before
        // the merge, so the labeling is order-independent.
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        val (ccA, ccB) = try {
          implicit val ec: scala.concurrent.ExecutionContextExecutorService =
            scala.concurrent.ExecutionContext.fromExecutorService(pool)
          import scala.concurrent.{Await, Future}
          import scala.concurrent.duration.Duration
          val fa = Future { Dedup.connectedComponents(pairs.filter(firstSlice)) }
          val fb = Future { Dedup.connectedComponents(pairs.filter(!firstSlice)) }
          (Await.result(fa, Duration(30, "minutes")),
            Await.result(fb, Duration(30, "minutes")))
        } finally pool.shutdown()
        Dedup.flatCheckpoint(Dedup.mergeComponents(ccA, ccB)
          .select(col("id"), col("label")))
      }
    },
      // the one-shot closure — the engine computes the SAME labeling
      // incrementally (two per-slice fixpoints + the merge contraction),
      // so a hash match certifies the merge law on the real dup graph
      s"""$dedupCorpusBaseSql
         |SELECT id, label FROM reach""".stripMargin),
    QueryDef("q_dedup_corpus", (s, d) =>
      Dedup.dedupCorpus(Tables.documents(s, d), 3, 8, 4, 0.5)
        .select(org.apache.spark.sql.functions.col("doc_id"),
                org.apache.spark.sql.functions.col("n_chars")),
      s"""$dedupCorpusBaseSql,
         |losers AS (SELECT id AS doc_id FROM reach WHERE label < id)
         |SELECT d.doc_id, d.n_chars FROM documents d
         |LEFT JOIN losers l ON l.doc_id = d.doc_id WHERE l.doc_id IS NULL""".stripMargin),
    // dup-graph BFS: hop distance from each clustered doc to its
    // component's surviving representative (rides the same memoized
    // pair graph + CC fixpoint)
    QueryDef("q_dup_hops", (s, d) =>
      Dedup.dupClusterHops(Tables.documents(s, d), 3, 8, 4, 0.5),
      // bounded-walk recursive CTE + min(hops) certifies the BFS: edges
      // already holds both orientations, reps seed at hop 0
      s"""$dedupCorpusBaseSql,
         |labs AS (SELECT DISTINCT label FROM reach),
         |sp AS (
         |  WITH RECURSIVE w(doc_id, label, hops) AS (
         |    SELECT label, label, 0 FROM labs
         |    UNION
         |    SELECT e.doc_b, w.label, w.hops + 1
         |    FROM w JOIN edges e ON e.doc_a = w.doc_id
         |    WHERE w.hops < 8
         |  ) SELECT doc_id, label, CAST(min(hops) AS BIGINT) AS hops
         |    FROM w GROUP BY 1, 2)
         |SELECT doc_id, label, hops FROM sp""".stripMargin),
    // dedup governance ledger: per-source docs/chars in vs kept after
    // the APPLY step — rides the same memoized pair graph + CC
    QueryDef("q_dedup_savings", (s, d) =>
      Dedup.dedupAttrition(Tables.documents(s, d), 3, 8, 4, 0.5, "source"),
      // governance ledger over the same closure: per-source in/kept
      s"""$dedupCorpusBaseSql,
         |losers AS (SELECT id AS doc_id FROM reach WHERE label < id)
         |SELECT d.source,
         |       count(*) AS docs_in,
         |       CAST(sum(CASE WHEN l.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
         |       CAST(sum(d.n_chars) AS BIGINT) AS chars_in,
         |       CAST(sum(CASE WHEN l.doc_id IS NULL THEN d.n_chars ELSE 0 END) AS BIGINT) AS chars_kept
         |FROM documents d LEFT JOIN losers l ON l.doc_id = d.doc_id
         |GROUP BY d.source""".stripMargin),
    // quality-aware survivor rule: per cluster keep the LONGEST copy
    // (ties -> lowest id) instead of the minimum id
    QueryDef("q_dedup_corpus_by", (s, d) => {
      import org.apache.spark.sql.functions.col
      Dedup.dedupCorpusBy(Tables.documents(s, d), 3, 8, 4, 0.5,
        col("n_chars")).select(col("doc_id"), col("n_chars"))
    },
      s"""$dedupCorpusBaseSql,
         |ranked AS (SELECT re.id AS doc_id,
         |                  row_number() OVER (PARTITION BY re.label
         |                    ORDER BY d.n_chars DESC, re.id ASC) AS rk
         |           FROM reach re JOIN documents d ON d.doc_id = re.id),
         |losers AS (SELECT doc_id FROM ranked WHERE rk > 1)
         |SELECT d.doc_id, d.n_chars FROM documents d
         |LEFT JOIN losers l ON l.doc_id = d.doc_id WHERE l.doc_id IS NULL""".stripMargin),
    // leakage-safe train/val/test split: buckets assigned per
    // duplicate CLUSTER (md5 of the CC label), so no exact/near-dup
    // pair straddles train and eval; shares the memoized CC fixpoint
    QueryDef("q_leakage_split", (s, d) => {
      import org.apache.spark.sql.functions._
      Dedup.withClusterSplit(Tables.documents(s, d), 3, 8, 4, 0.5, 10, 10)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
             countDistinct(col("cluster_label")).as("n_clusters"),
             sum(col("n_chars")).as("sum_chars"))
    },
      // same recursive-CTE closure as q_dedup_corpus supplies the
      // cluster labels; unclustered docs label as themselves
      s"""$dedupCorpusBaseSql,
         |lab AS (SELECT d.doc_id, d.n_chars,
         |               COALESCE(r.label, d.doc_id) AS lbl
         |        FROM documents d LEFT JOIN reach r ON r.id = d.doc_id),
         |sp AS (SELECT n_chars, lbl,
         |         CASE WHEN CAST('0x' || substring(md5(CAST(lbl AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 10 THEN 'val'
         |              WHEN CAST('0x' || substring(md5(CAST(lbl AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 20 THEN 'test'
         |              ELSE 'train' END AS split
         |       FROM lab)
         |SELECT split, count(*) AS n_docs,
         |       count(DISTINCT lbl) AS n_clusters,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM sp GROUP BY split""".stripMargin),
    // entity resolution: fuzzy vendor variants within edit distance 1
    // (length-band blocked, exact levenshtein verify)
    QueryDef("q_fuzzy_vendors", (s, d) =>
      Dedup.editDistancePairs(tx(s, d), "vendor", 1),
      s"""WITH v AS (SELECT DISTINCT vendor AS s FROM ($txSql))
         |SELECT a.s AS s_a, b.s AS s_b,
         |       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
         |FROM v a JOIN v b
         |  ON a.s < b.s AND abs(len(a.s) - len(b.s)) <= 1
         |WHERE levenshtein(a.s, b.s) <= 1""".stripMargin),
    // snapshot diff between the %3 "old" and %5 "new" corpus versions:
    // per-digest added/removed/kept with occurrence counts
    QueryDef("q_corpus_diff", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      Dedup.corpusDiff(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 5 === 0))
    },
      raw"""WITH oc AS (SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
           |                   count(*) AS n_old
           |            FROM documents WHERE doc_id % 3 = 0 GROUP BY 1),
           |nc AS (SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
           |              count(*) AS n_new
           |       FROM documents WHERE doc_id % 5 = 0 GROUP BY 1)
           |SELECT coalesce(oc.fp, nc.fp) AS fp,
           |       CASE WHEN oc.fp IS NULL THEN 'added'
           |            WHEN nc.fp IS NULL THEN 'removed'
           |            ELSE 'kept' END AS status,
           |       coalesce(n_old, 0) AS n_old,
           |       coalesce(n_new, 0) AS n_new
           |FROM oc FULL OUTER JOIN nc ON oc.fp = nc.fp""".stripMargin),
    QueryDef("q_simhash64", (s, d) => Dedup.simhash64(Tables.documents(s, d)),
      simhash64Sql),
    // banded simhash near-dup join: pigeonhole banding guarantees every
    // pair within the Hamming budget, so the result EQUALS the oracle's
    // brute-force all-pairs scan — the rare case where the scalable
    // plan is oracle-exact by construction.
    // Demo tier: the 16-bit demo bands into only 16 buckets/band, so
    // its self-join tends toward N²/16 candidates as the corpus grows —
    // the production sibling is q_simhash64_neardup.
    QueryDef("q_simhash_neardup", (s, d) => Dedup.simhash16NearDupPairs(Tables.documents(s, d)),
      s"""WITH v AS ($simhash16Sql)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.simhash16, b.simhash16)) AS BIGINT) AS hamming
         |FROM v a JOIN v b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash16, b.simhash16)) <= 3""".stripMargin, demo = true),
    // production-width 64-bit banded near-dup (4×16-bit bands, 65k
    // buckets/band — the shape that holds at scale, where 16-bit
    // banding's 16 buckets/band makes candidate lists fat by
    // construction). Rows-only: DuckDB lacks xxhash64; the band==brute
    // equivalence is spec-pinned on the corpus instead, and the
    // oracle-exact 16-bit sibling above gates the shared banding logic.
    QueryDef("q_simhash64_neardup", (s, d) => Dedup.simhash64NearDupPairs(Tables.documents(s, d)),
      s"""WITH v AS ($simhash64Sql)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.simhash64, b.simhash64)) AS BIGINT) AS hamming
         |FROM v a JOIN v b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash64, b.simhash64)) <= 3""".stripMargin),
    // the billion-doc simhash blocking (Manku 8-choose-5 combination
    // tables): same verified pairs, ~2^-40 collision floor
    QueryDef("q_simhash64_wide", (s, d) => Dedup.simhash64NearDupPairsWide(Tables.documents(s, d)),
      // the combi blocking is exact-verified, so its result is blocking-
      // independent: the oracle is the same brute-force pair SQL
      s"""WITH v AS ($simhash64Sql)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.simhash64, b.simhash64)) AS BIGINT) AS hamming
         |FROM v a JOIN v b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash64, b.simhash64)) <= 3""".stripMargin),
    // incremental simhash probe: batch signatures band-join the
    // persisted corpus index — per-ingest near-dup cost scales with
    // the batch, not the corpus (simhash sibling of q_minhash_probe).
    // Signatures are a per-doc function, so sig(filter(docs)) ==
    // filter(sig(docs)): signing the FULL corpus once and slicing the
    // signature store is bit-identical, memo-shares the one signature
    // build with the whole simhash64 family (r16 — the probe was the
    // only consumer signing filtered frames, hence two extra
    // tokenize+vote passes no other query could reuse), and is the
    // production shape anyway (the probe reads a persisted index).
    QueryDef("q_simhash_probe", (s, d) => {
      import org.apache.spark.sql.functions.col
      val sig = Dedup.simhash64(Tables.documents(s, d))
      Dedup.simhashProbeSigs(
        sig.filter(col("doc_id") % 10 =!= 0),
        sig.filter(col("doc_id") % 10 === 0))
    },
      // probe is band-blocked + exact-verified, so the result is
      // blocking-independent: brute-force batch × corpus pairs
      s"""WITH v AS ($simhash64Sql)
         |SELECT b.doc_id AS batch_doc, c.doc_id AS corpus_doc,
         |       CAST(bit_count(xor(b.simhash64, c.simhash64)) AS BIGINT) AS hamming
         |FROM v b JOIN v c
         |  ON b.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
         |WHERE bit_count(xor(b.simhash64, c.simhash64)) <= 3""".stripMargin),
    // candidate-generation growth diagnostics as a gated artifact:
    // pre-verify candidate-pair counts per blocking family under the
    // production auto caps — the numbers a 100 TB feasibility call
    // reads (hash-gated: DuckDB replays every blocking + cap)
    // Demo tier: runs all four blocking families under their caps on
    // purpose (the feasibility artifact) — cost IS its job.
    QueryDef("q_candidate_stats", (s, d) =>
      Dedup.candidateDiagnostics(Tables.documents(s, d), 3, 8, 4),
      candidateStatsSql, demo = true),
    // batch form of the streaming dedup: drop events whose identical
    // (user, type, value) predecessor is within 2 days
    QueryDef("q_event_dedup_window", (s, d) =>
      Dedup.windowedEventDedup(Tables.events(s, d), 2),
      """WITH l AS (SELECT event_id, ts, user_id, event_type, value,
        |                  lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type, value
        |                                          ORDER BY ts, event_id) AS prev
        |           FROM events)
        |SELECT event_id, ts, user_id, event_type, value
        |FROM l WHERE prev IS NULL OR epoch_us(ts) - prev > 172800000000""".stripMargin),
    // corpus-health: near-dup degree histogram over the banded simhash
    // pair graph (0-degree docs restored from the corpus)
    QueryDef("q_dup_degree_hist", (s, d) =>
      Dedup.nearDupDegreeHistogram(Tables.documents(s, d)),
      s"""WITH v AS ($simhash64Sql),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |      FROM v a JOIN v b ON a.doc_id < b.doc_id
         |      WHERE bit_count(xor(a.simhash64, b.simhash64)) <= 3),
         |deg0 AS (SELECT doc_a AS doc_id FROM p UNION ALL SELECT doc_b FROM p),
         |deg AS (SELECT doc_id, count(*) AS degree FROM deg0 GROUP BY doc_id)
         |SELECT CAST(COALESCE(deg.degree, 0) AS BIGINT) AS degree,
         |       count(*) AS n_docs
         |FROM documents d LEFT JOIN deg ON deg.doc_id = d.doc_id
         |GROUP BY 1""".stripMargin),
    // incremental near-dup: batch (doc_id%5==0) probed against the
    // corpus index (doc_id%3==0) — candidate cost scales with the
    // batch, not the corpus; %15 overlap guarantees exact hits
    QueryDef("q_minhash_probe", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      Dedup.minhashProbePairs(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 5 === 0), 3, 8, 4, 0.5)
    },
      minhashProbeSql),
    // the PERSISTED-index form of the probe: land the corpus's sig +
    // posting rows as `batch=<id>` parquet (the StreamingNearDupIngest
    // store layout), then probe reading the STORE — gates the on-disk
    // post/batch=* exact-verify path end-to-end. Exact verification
    // makes the result storage-independent, so it shares
    // q_minhash_probe's brute-force oracle.
    QueryDef("q_minhash_probe_store", (s, d) => {
      import org.apache.spark.sql.functions.col
      import graft.streaming.StreamingNearDupIngest
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 3 === 0)
      val batch = docs.filter(col("doc_id") % 5 === 0)
      val dir = probeStoreScratch
      Dedup.minhashSigTable(corpus, 3, 8)
        .write.mode("overwrite").parquet(s"$dir/sigs/batch=0")
      Dedup.shinglePostings(corpus, 3)
        .write.mode("overwrite").parquet(s"$dir/post/batch=0")
      Dedup.minhashProbeSigs(
        StreamingNearDupIngest.sigStore(s, dir, 8).drop("batch"),
        Dedup.minhashSigTable(batch, 3, 8),
        StreamingNearDupIngest.postStore(s, dir).drop("batch"),
        Dedup.shinglePostings(batch, 3), 8, 4, 0.5)
    },
      // store-backed probe is exact-verified, hence storage-independent:
      // same brute-force batch × corpus oracle
      minhashProbeSql),
    // graph analytics over the dup graph: triangles = tight template
    // clusters (all-pairwise near-dups), vs CC's chains
    QueryDef("q_dup_triangles", (s, d) =>
      Dedup.nearDupTriangles(Tables.documents(s, d)),
      s"""WITH v AS ($simhash64Sql),
         |e AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |      FROM v a JOIN v b ON a.doc_id < b.doc_id
         |      WHERE bit_count(xor(a.simhash64, b.simhash64)) <= 3)
         |SELECT ab.doc_a, ab.doc_b, bc.doc_b AS doc_c
         |FROM e ab JOIN e bc ON ab.doc_b = bc.doc_a
         |JOIN e ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b""".stripMargin),
    // centrality over the dup graph: scaled-integer PageRank (damping
    // 0.85, 3 fixed iterations, floor division) — the "which doc is
    // the template" signal; exact-integer so DuckDB replays the whole
    // rank table from 3 unrolled CTE iterations
    QueryDef("q_dup_pagerank", (s, d) =>
      Dedup.dupPageRank(Tables.documents(s, d), 3, 8, 4, 0.5),
      // PageRank unrolled: 3 exact-integer iterations over the
      // symmetrized edges (deg >= 1 and in-edges >= 1 for every node, so
      // the incoming sum is never NULL); HUGEINT intermediates wrap to
      // BIGINT only at the end
      s"""WITH $dedupEdgesCtes,
         |$dupPageRankCtes
         |SELECT p3.id AS doc_id, pdeg.deg, CAST(p3.pr AS BIGINT) AS pr_scaled
         |FROM p3 JOIN pdeg ON pdeg.id = p3.id""".stripMargin),
    // the centrality survivor rule: per cluster keep the highest-
    // PageRank copy (the template), ties -> lowest id
    QueryDef("q_dedup_by_rank", (s, d) => {
      import org.apache.spark.sql.functions.col
      Dedup.dedupCorpusByRank(Tables.documents(s, d), 3, 8, 4, 0.5)
        .select(col("doc_id"), col("n_chars"))
    },
      // centrality survivor rule: the same closure + rank table, one
      // cluster-partitioned window keeps the top-rank copy
      s"""$dedupCorpusBaseSql,
         |$dupPageRankCtes,
         |rranked AS (SELECT re.id AS doc_id,
         |                   row_number() OVER (PARTITION BY re.label
         |                     ORDER BY p3.pr DESC, re.id ASC) AS rk
         |            FROM reach re JOIN p3 ON p3.id = re.id),
         |losers AS (SELECT doc_id FROM rranked WHERE rk > 1)
         |SELECT d.doc_id, d.n_chars FROM documents d
         |LEFT JOIN losers l ON l.doc_id = d.doc_id WHERE l.doc_id IS NULL""".stripMargin),
    // MinHash estimator-quality diagnostic (k/bands tuning report)
    QueryDef("q_minhash_estimate", (s, d) =>
      Dedup.minhashEstimateQuality(Tables.documents(s, d), 3, 8, 4),
      minhashEstimateSql),
  )

  /** One fixed per-JVM scratch dir for q_minhash_probe_store's landed
    * sig/post parquet: every run overwrites the same `batch=0` dirs
    * (mode=overwrite), so repeated bench reps / verify / explain runs
    * cannot accumulate orphaned stores under the system temp dir
    * (ADVICE r12), and a shutdown hook removes it on JVM exit. */
  private lazy val probeStoreScratch: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_probe_store")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      try {
        val walk = Files.walk(p)
        try walk.sorted(Comparator.reverseOrder[Path]())
          .forEach(f => { Files.deleteIfExists(f); () })
        finally walk.close()
      } catch { case _: java.io.IOException => () } // best-effort cleanup
    }))
    p.toString
  }

  private val shinglesSql = shinglesSqlFrom("documents")

  private val sourceOverlapSql =
    raw"""WITH tok AS (SELECT source,
         |               string_split_regex(trim(lower(text)), '\s+') AS toks
         |             FROM documents),
         |sh0 AS (SELECT source,
         |          unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
         |            i -> array_to_string(toks[i:i+2], ' '))) AS sh
         |        FROM tok),
         |sh AS (SELECT DISTINCT source, sh FROM sh0),
         |sz AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY source)
         |SELECT a.source AS src_a, b.source AS src_b,
         |       CAST(count(*) AS BIGINT) AS n_shared,
         |       CAST(any_value(sa.n_sh) AS BIGINT) AS n_a,
         |       CAST(any_value(sb.n_sh) AS BIGINT) AS n_b,
         |       CAST(count(*) AS double)
         |         / CAST(any_value(sa.n_sh) + any_value(sb.n_sh) - count(*) AS double) AS jaccard
         |FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
         |JOIN sz sa ON sa.source = a.source
         |JOIN sz sb ON sb.source = b.source
         |GROUP BY a.source, b.source""".stripMargin

  private val ngramJaccardSql =
    s"""WITH s AS ($shinglesSql),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |             cast(len(list_intersect(a.sh, b.sh)) AS bigint) AS inter,
       |             cast(len(a.sh) + len(b.sh) AS bigint)
       |               - cast(len(list_intersect(a.sh, b.sh)) AS bigint) AS uni
       |      FROM s a JOIN s b
       |        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, inter, uni,
       |       cast(inter AS double) / uni AS jaccard
       |FROM p WHERE cast(inter AS double) / uni >= 0.5""".stripMargin

  /** Candidate-stats oracle: replay every blocking family's candidate
    * generation — minhash banding under the auto bucket cap, plain +
    * combi simhash band tables (shift/mask band keys are identical
    * under arithmetic or logical >>, the mask strips the
    * sign-extension region), and the capped inverted posting list —
    * and emit the same (method, n_docs, cap, n_candidates) rows
    * `Dedup.candidateDiagnostics` computes. The auto cap is
    * max(1000, ceil(4·√n)) in both engines. */
  private lazy val candidateStatsSql = {
    val mins = (0 until 8).map(i => s"min(h1 + $i * h2) AS s$i").mkString(",\n       ")
    val bandRows = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, md5(s${2 * b} || '|' || s${2 * b + 1}) AS bkey FROM sig")
      .mkString("\n      UNION ALL ")
    val sBandRows = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, (simhash64 >> ${b * 16}) & 65535 AS bkey FROM sv")
      .mkString("\n      UNION ALL ")
    val combiRows = (0 until 8).combinations(5).toSeq.zipWithIndex.map { case (combo, t) =>
      val key = combo.zipWithIndex.map { case (b, i) =>
        s"((simhash64 >> ${b * 8}) & 255) * ${1L << (i * 8)}"
      }.mkString(" + ")
      s"SELECT doc_id, $t AS tbl, $key AS bkey FROM sv"
    }.mkString("\n      UNION ALL ")
    s"""WITH s AS ($shinglesSql),
       |nn AS (SELECT count(*) AS n FROM documents),
       |cap AS (SELECT GREATEST(1000, CAST(ceil(4.0 * sqrt(n)) AS BIGINT)) AS c FROM nn),
       |e AS (SELECT doc_id,
       |             CAST('0x' || substring(md5(sh), 1, 8) AS BIGINT) AS h1,
       |             CAST('0x' || substring(md5(sh), 9, 8) AS BIGINT) AS h2
       |      FROM (SELECT doc_id, unnest(sh) AS sh FROM s)),
       |sig AS (SELECT doc_id, $mins FROM e GROUP BY doc_id),
       |bands AS ($bandRows),
       |bsz AS (SELECT band, bkey, count(*) AS cnt FROM bands GROUP BY 1, 2),
       |coldb AS (SELECT bands.* FROM bands JOIN bsz USING (band, bkey)
       |          WHERE bsz.cnt <= (SELECT c FROM cap)),
       |mcand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |          FROM coldb x JOIN coldb y
       |            ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |sv AS ($simhash64Sql),
       |sbands AS ($sBandRows),
       |scand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |          FROM sbands x JOIN sbands y
       |            ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |ctabs AS ($combiRows),
       |ccand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |          FROM ctabs x JOIN ctabs y
       |            ON x.tbl = y.tbl AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |ex AS (SELECT DISTINCT doc_id, lang, source, sh
       |       FROM (SELECT doc_id, lang, source, unnest(sh) AS sh FROM s)),
       |dfq AS (SELECT lang, source, sh, count(*) AS df FROM ex GROUP BY 1, 2, 3),
       |rare AS (SELECT ex.* FROM ex JOIN dfq USING (lang, source, sh)
       |         WHERE dfq.df <= (SELECT c FROM cap)),
       |icand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |          FROM rare x JOIN rare y
       |            ON x.lang = y.lang AND x.source = y.source AND x.sh = y.sh
       |               AND x.doc_id < y.doc_id)
       |SELECT 'minhash_lsh' AS method, (SELECT n FROM nn) AS n_docs,
       |       (SELECT c FROM cap) AS cap, (SELECT count(*) FROM mcand) AS n_candidates
       |UNION ALL
       |SELECT 'simhash64', (SELECT n FROM nn), 0, (SELECT count(*) FROM scand)
       |UNION ALL
       |SELECT 'simhash64_combi', (SELECT n FROM nn), 0, (SELECT count(*) FROM ccand)
       |UNION ALL
       |SELECT 'inverted_capped', (SELECT n FROM nn), (SELECT c FROM cap),
       |       (SELECT count(*) FROM icand)""".stripMargin
  }

  private val minhashLshSql = {
    val mins = (0 until 8).map(i => s"min(h1 + $i * h2) AS s$i").mkString(",\n       ")
    val bandRows = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, md5(s${2 * b} || '|' || s${2 * b + 1}) AS bkey FROM sig")
      .mkString("\n      UNION ALL ")
    s"""WITH s AS ($shinglesSql),
       |e AS (SELECT doc_id,
       |             CAST('0x' || substring(md5(sh), 1, 8) AS BIGINT) AS h1,
       |             CAST('0x' || substring(md5(sh), 9, 8) AS BIGINT) AS h2
       |      FROM (SELECT doc_id, unnest(sh) AS sh FROM s)),
       |sig AS (SELECT doc_id,
       |       $mins
       |        FROM e GROUP BY doc_id),
       |bands AS ($bandRows),
       |bcap AS (SELECT GREATEST(1000, CAST(ceil(4.0 * sqrt(count(*))) AS BIGINT)) AS c FROM sig),
       |bsz AS (SELECT band, bkey, count(*) AS cnt FROM bands GROUP BY 1, 2),
       |coldb AS (SELECT bands.* FROM bands JOIN bsz USING (band, bkey)
       |          WHERE bsz.cnt <= (SELECT c FROM bcap)),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM coldb x JOIN coldb y
       |           ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |v AS (SELECT c.doc_a, c.doc_b,
       |             cast(len(list_intersect(sa.sh, sb.sh)) AS bigint) AS inter,
       |             cast(len(sa.sh) + len(sb.sh) AS bigint)
       |               - cast(len(list_intersect(sa.sh, sb.sh)) AS bigint) AS uni
       |      FROM cand c
       |      JOIN s sa ON sa.doc_id = c.doc_a
       |      JOIN s sb ON sb.doc_id = c.doc_b)
       |SELECT doc_a, doc_b, cast(inter AS double) / uni AS jaccard
       |FROM v WHERE cast(inter AS double) / uni >= 0.5""".stripMargin
  }

  /** Estimator-quality oracle: the `minhashLshSql` signature + banding
    * pipeline, keeping BOTH signature rows per candidate to count
    * matching permutation mins (the MinHash estimate) next to the
    * exact Jaccard; est and err are one division / one subtraction
    * off exact operands, mirroring `Dedup.minhashEstimateQuality`. */
  private val minhashEstimateSql = {
    val mins = (0 until 8).map(i => s"min(h1 + $i * h2) AS s$i").mkString(",\n       ")
    val bandRows = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, md5(s${2 * b} || '|' || s${2 * b + 1}) AS bkey FROM sig")
      .mkString("\n      UNION ALL ")
    val nMatch = (0 until 8)
      .map(i => s"(CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH s AS ($shinglesSql),
       |e AS (SELECT doc_id,
       |             CAST('0x' || substring(md5(sh), 1, 8) AS BIGINT) AS h1,
       |             CAST('0x' || substring(md5(sh), 9, 8) AS BIGINT) AS h2
       |      FROM (SELECT doc_id, unnest(sh) AS sh FROM s)),
       |sig AS (SELECT doc_id,
       |       $mins
       |        FROM e GROUP BY doc_id),
       |bands AS ($bandRows),
       |bcap AS (SELECT GREATEST(1000, CAST(ceil(4.0 * sqrt(count(*))) AS BIGINT)) AS c FROM sig),
       |bsz AS (SELECT band, bkey, count(*) AS cnt FROM bands GROUP BY 1, 2),
       |coldb AS (SELECT bands.* FROM bands JOIN bsz USING (band, bkey)
       |          WHERE bsz.cnt <= (SELECT c FROM bcap)),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM coldb x JOIN coldb y
       |           ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |v AS (SELECT c.doc_a, c.doc_b,
       |             CAST($nMatch AS BIGINT) AS n_match,
       |             cast(len(list_intersect(ta.sh, tb.sh)) AS bigint) AS inter,
       |             cast(len(ta.sh) + len(tb.sh) AS bigint)
       |               - cast(len(list_intersect(ta.sh, tb.sh)) AS bigint) AS uni
       |      FROM cand c
       |      JOIN sig sa ON sa.doc_id = c.doc_a
       |      JOIN sig sb ON sb.doc_id = c.doc_b
       |      JOIN s ta ON ta.doc_id = c.doc_a
       |      JOIN s tb ON tb.doc_id = c.doc_b)
       |SELECT doc_a, doc_b, n_match,
       |       CAST(n_match AS DOUBLE) / 8 AS est_jaccard,
       |       cast(inter AS double) / uni AS jaccard,
       |       abs(CAST(n_match AS DOUBLE) / 8 - cast(inter AS double) / uni) AS abs_err
       |FROM v""".stripMargin
  }

  /** Incremental MinHash probe oracle: same signature pipeline as
    * `minhashLshSql` (per-doc signatures depend only on the doc's own
    * shingles, so computing them over the full table before splitting
    * is equivalent to the engine's per-side computation), with the
    * band self-join restricted to batch (doc_id%5=0) x corpus
    * (doc_id%3=0). */
  private val minhashProbeSql = {
    val mins = (0 until 8).map(i => s"min(h1 + $i * h2) AS s$i").mkString(",\n       ")
    val bandRows = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, md5(s${2 * b} || '|' || s${2 * b + 1}) AS bkey FROM sig")
      .mkString("\n      UNION ALL ")
    s"""WITH s AS ($shinglesSql),
       |e AS (SELECT doc_id,
       |             CAST('0x' || substring(md5(sh), 1, 8) AS BIGINT) AS h1,
       |             CAST('0x' || substring(md5(sh), 9, 8) AS BIGINT) AS h2
       |      FROM (SELECT doc_id, unnest(sh) AS sh FROM s)),
       |sig AS (SELECT doc_id,
       |       $mins
       |        FROM e GROUP BY doc_id),
       |bands AS ($bandRows),
       |cand AS (SELECT DISTINCT x.doc_id AS batch_doc, y.doc_id AS corpus_doc
       |         FROM bands x JOIN bands y
       |           ON x.band = y.band AND x.bkey = y.bkey
       |         WHERE x.doc_id % 5 = 0 AND y.doc_id % 3 = 0),
       |v AS (SELECT c.batch_doc, c.corpus_doc,
       |             cast(len(list_intersect(sa.sh, sb.sh)) AS bigint) AS inter,
       |             cast(len(sa.sh) + len(sb.sh) AS bigint)
       |               - cast(len(list_intersect(sa.sh, sb.sh)) AS bigint) AS uni
       |      FROM cand c
       |      JOIN s sa ON sa.doc_id = c.batch_doc
       |      JOIN s sb ON sb.doc_id = c.corpus_doc)
       |SELECT batch_doc, corpus_doc, cast(inter AS double) / uni AS jaccard
       |FROM v WHERE cast(inter AS double) / uni >= 0.5""".stripMargin
  }

  /** Shared CTE chain for the dedup-corpus oracles: exact-dup star
    * edges (per canonical digest, min id to each other id) + verified
    * MinHash-LSH near-dup edges (same signature/banding pipeline as
    * `minhashLshSql`), symmetrized, then connected components as a
    * RECURSIVE transitive closure — label(v) = min(u reachable from v).
    * The recursion's working set is closure-of-the-DUP-GRAPH-sized
    * (vanishing next to the corpus), which is exactly why the engine's
    * pointer-jumping CC is gateable this way: the oracle pays O(n²)
    * closure on a tiny graph to certify the scalable fixpoint. */
  private lazy val dedupCorpusBaseSql =
    s"""WITH $dedupEdgesCtes,
       |${reachCteFrom("")}""".stripMargin

  private val simhash16Sql = {
    val votes = (0 until 16).map(j =>
      s"sum(CASE WHEN substring(md5(tok), ${j + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v$j")
      .mkString(",\n       ")
    val bits = (0 until 16).map(j =>
      s"(CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    raw"""WITH e AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
       |           FROM documents),
       |v AS (SELECT doc_id,
       |       $votes
       |      FROM e GROUP BY doc_id)
       |SELECT doc_id, cast($bits AS bigint) AS simhash16 FROM v""".stripMargin
  }

  /** Production-width 64-bit SimHash oracle, mirroring
    * `Dedup.simhash64`'s md5-portable bit layout: vote bit j reads hex
    * nibble (j%32)+1 of md5(tok) — the nibble's TOP bit (value 8..f)
    * for j<32, its BIT 1 (value in {2,3,6,7,a,b,e,f}) for j>=32. The
    * signature is assembled in HUGEINT (bit 63 overflows BIGINT) and
    * wrapped to signed 64-bit to match Spark's LongType two's
    * complement exactly. */
  private val simhash64Sql = {
    val votes = (0 until 64).map { j =>
      val digits =
        if (j < 32) "('8','9','a','b','c','d','e','f')"
        else "('2','3','6','7','a','b','e','f')"
      s"sum(CASE WHEN substring(md5(tok), ${(j % 32) + 1}, 1) IN $digits THEN 1 ELSE -1 END) AS v$j"
    }.mkString(",\n       ")
    val bits = (0 until 64).map(j =>
      s"(CASE WHEN v$j > 0 THEN ${BigInt(1) << j}::HUGEINT ELSE 0::HUGEINT END)")
      .mkString(" + ")
    raw"""WITH e AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
       |           FROM documents),
       |v AS (SELECT doc_id,
       |       $votes
       |      FROM e GROUP BY doc_id),
       |u AS (SELECT doc_id, $bits AS s FROM v)
       |SELECT doc_id,
       |       CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
       |                 THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT) AS simhash64
       |FROM u""".stripMargin
  }

  /** The unrolled exact-integer PageRank iteration chain (pdeg, p0,
    * c1/p1 .. c3/p3) over a CTE named `edges` holding both edge
    * orientations — composes after `dedupEdgesCtes` (q_dup_pagerank)
    * or inside `dedupCorpusBaseSql`'s WITH (q_dedup_by_rank). */
  private lazy val dupPageRankCtes: String = {
    def iter(prev: String, next: String) =
      s"""c$next AS (SELECT e.doc_b AS id, sum(p.pr // d.deg) AS s
         |           FROM edges e
         |           JOIN p$prev p ON p.id = e.doc_a
         |           JOIN pdeg d ON d.id = e.doc_a
         |           GROUP BY 1),
         |p$next AS (SELECT c$next.id, 150000000 + (85 * c$next.s) // 100 AS pr
         |           FROM c$next)""".stripMargin
    s"""pdeg AS (SELECT doc_a AS id, count(*) AS deg FROM edges GROUP BY 1),
       |p0 AS (SELECT id, 1000000000 AS pr FROM pdeg),
       |${iter("0", "1")},
       |${iter("1", "2")},
       |${iter("2", "3")}""".stripMargin
  }
}
