package graft
package board

import graft.functions.Similarity

/** The similarity family over embeddings: exact and approximate
  * top-k, the ANN serving policy and its recall diagnostics, k-means
  * and SemDeDup (`Similarity`, `AnnPolicy`). */
object SimilarityQueries {

  lazy val defs: Seq[QueryDef] = Seq(
    // --- similarity search ---
    // memoized: shares the one brute-force corpus scan with
    // q_ann_recall's ground-truth side (whichever runs first trains it)
    QueryDef("q_ann_topk", (s, d) =>
      Similarity.bruteForceTopKMemo(Tables.embeddings(s, d),
        org.apache.spark.sql.functions.col("vec_id") % 100 === 0, 10),
      s"""WITH n AS ($quantizedSql),
         |p AS (SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
         |             CAST(list_sum(list_transform(list_zip(qq.q, cc.q), x -> x[1] * x[2])) AS BIGINT) AS dot,
         |             qq.nq AS qn, cc.nq AS cn
         |      FROM n qq, n cc WHERE qq.vec_id % 100 = 0 AND cc.vec_id <> qq.vec_id),
         |r AS (SELECT query_id, neighbor_id,
         |             CAST(dot AS DOUBLE) / sqrt(CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) AS cosine,
         |             row_number() OVER (PARTITION BY query_id
         |               ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) DESC,
         |                        neighbor_id ASC) AS rnk
         |      FROM p)
         |SELECT query_id, rnk, neighbor_id, cosine FROM r WHERE rnk <= 10""".stripMargin),
    // greedy λ=1/2 MMR over each query's brute-force top-20 pool
    QueryDef("q_mmr_rerank", (s, d) =>
      Similarity.mmrRerank(Tables.embeddings(s, d),
        org.apache.spark.sql.functions.col("vec_id") % 100 === 0, 20, 5),
      mmrOracleSql),
    QueryDef("q_embedding_neardup", (s, d) => Similarity.nearDupPairs(Tables.embeddings(s, d), 0.4),
      s"""WITH n AS ($quantizedSql),
         |p AS (SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
         |             CAST(list_sum(list_transform(list_zip(a.q, b.q), x -> x[1] * x[2])) AS BIGINT) AS dot,
         |             a.nq AS na, b.nq AS nb
         |      FROM n a, n b WHERE a.label = b.label AND a.vec_id < b.vec_id)
         |SELECT label, id_a, id_b,
         |       CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS cosine
         |FROM p
         |WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) >= 0.4""".stripMargin),
    // unlabeled near-dup via LSH blocking — oracle-gated since the
    // hyperplanes went md5-portable (DuckDB reproduces the buckets);
    // the precision-1.0 verify remains spec-proven
    // Demo tier: pins 4 hyperplane bits (16 buckets) for the oracle, so
    // bucket occupancy — and the per-bucket self-join — grows with the
    // corpus (measured n²/2^bits at 10×); the scale path is
    // q_embedding_neardup_lsh_auto (occupancy-constant `autoLshBits`),
    // which stays on the scale-up board.
    QueryDef("q_embedding_neardup_lsh", (s, d) =>
      Similarity.nearDupPairsLsh(Tables.embeddings(s, d), 0.4, 4, 4),
      s"""WITH n AS ($quantizedSql),
         |${lshBucketsSql(4, 4)},
         |tb AS (SELECT vec_id, unnest([0,1,2,3]) AS t, unnest([b_0,b_1,b_2,b_3]) AS b FROM bkt),
         |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |         FROM tb x JOIN tb y ON x.t = y.t AND x.b = y.b AND x.vec_id < y.vec_id),
         |pr AS (SELECT c.id_a, c.id_b,
         |             CAST(list_sum(list_transform(list_zip(a.q, b.q), x -> x[1] * x[2])) AS BIGINT) AS dot,
         |             a.nq AS na, b.nq AS nb
         |       FROM cand c JOIN n a ON a.vec_id = c.id_a JOIN n b ON b.vec_id = c.id_b)
         |SELECT id_a, id_b,
         |       CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS cosine
         |FROM pr
         |WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) >= 0.4""".stripMargin, demo = true),
    // the SCALE-PATH sibling: bits auto-sized from the measured corpus
    // (autoLshBits keeps bucket occupancy ~constant, so candidates
    // grow linearly where the pinned 4-bit demo's grow n²/16). The
    // oracle derives the same bits from COUNT(*) via the identical
    // integer threshold chain (r15) — cardinality-robust at every
    // scale factor and across driver testdata regens.
    QueryDef("q_embedding_neardup_lsh_auto", (s, d) =>
      Similarity.nearDupPairsLsh(Tables.embeddings(s, d), 0.4, 0, 4),
      // same pair machinery at the AUTO bit-width, CARDINALITY-ROBUST
      // (r15): bits is derived from COUNT(*) by the same integer
      // threshold chain as autoLshBits — no sf-pinned literal, so the
      // oracle stays green at every scale factor and survives a driver
      // testdata regen (see lshAutoNearDupSql)
      lshAutoNearDupSql),
    QueryDef("q_lsh_topk", (s, d) =>
      Similarity.lshTopK(Tables.embeddings(s, d),
        org.apache.spark.sql.functions.col("vec_id") % 100 === 0, 10, 4),
      lshTopkOracleSql),
    QueryDef("q_lsh_topk_multi", (s, d) =>
      Similarity.lshTopKMulti(Tables.embeddings(s, d),
        org.apache.spark.sql.functions.col("vec_id") % 100 === 0, 10, 4, 4),
      s"""WITH n AS ($quantizedSql),
         |${lshBucketsSql(4, 4)},
         |qb AS (SELECT vec_id AS query_id, t, b FROM (
         |         SELECT vec_id, unnest([0,1,2,3]) AS t, unnest([b_0,b_1,b_2,b_3]) AS b FROM bkt)
         |       WHERE vec_id % 100 = 0),
         |cb AS (SELECT vec_id AS neighbor_id, t, b FROM (
         |         SELECT vec_id, unnest([0,1,2,3]) AS t, unnest([b_0,b_1,b_2,b_3]) AS b FROM bkt)),
         |cand AS (SELECT DISTINCT q.query_id, c.neighbor_id
         |         FROM qb q JOIN cb c ON c.t = q.t AND c.b = q.b
         |         WHERE c.neighbor_id <> q.query_id),
         |$lshTopKTailSql""".stripMargin),
    QueryDef("q_ivf_topk", (s, d) =>
      Similarity.ivfTopK(Tables.embeddings(s, d),
        org.apache.spark.sql.functions.col("vec_id") % 100 === 0, 10, 16, 4),
      ivfTopkOracleSql),
    // hybrid retrieval: reciprocal-rank fusion of the LSH and IVF
    // top-10 lists (rank-based — no cross-method score calibration)
    QueryDef("q_rrf_fusion", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val probe = org.apache.spark.sql.functions.col("vec_id") % 100 === 0
      Similarity.rrfFuse(
        Similarity.lshTopK(emb, probe, 10, 4),
        Similarity.ivfTopK(emb, probe, 10, 16, 4), 10)
    },
      // rank-based fusion of the two method oracles; each fused score
      // has <= 2 addends, a single commutative-exact FP addition
      s"""WITH lsh AS (SELECT * FROM ($lshTopkOracleSql)),
         |ivf AS (SELECT * FROM ($ivfTopkOracleSql)),
         |u AS (SELECT query_id, neighbor_id, rnk FROM lsh
         |      UNION ALL SELECT query_id, neighbor_id, rnk FROM ivf),
         |f AS (SELECT query_id, neighbor_id,
         |             sum(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(rnk AS DOUBLE))) AS rrf,
         |             count(*) AS n_methods
         |      FROM u GROUP BY 1, 2),
         |r AS (SELECT query_id, neighbor_id, rrf, n_methods,
         |             row_number() OVER (PARTITION BY query_id
         |               ORDER BY rrf DESC, neighbor_id ASC) AS rnk
         |      FROM f)
         |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, rrf,
         |       CAST(n_methods AS BIGINT) AS n_methods
         |FROM r WHERE rnk <= 10""".stripMargin),
    // measured recall of every approximate ANN method against the
    // oracle-gated brute-force top-k, promoted from rows-only to a
    // BOUNDED-FLOOR gate (the q_approx_distinct sketch pattern): each
    // method row carries n_truth plus two 0/1 flags — recall_ok
    // (recall >= a cross-scale floor: min of the sf0.001 spec floor
    // and the measured sf0.01 value, with margin — certifies
    // non-collapse at whatever scale the driver gates) and rerank_ok
    // (a rerank method's recall is >= its base method's; monotone by
    // construction since reranking a superset pool exactly rescores
    // it). The oracle computes n_truth = |Q|*k from the embeddings
    // table and hashes literal-1 flags, so a retrieval regression now
    // fails the DRIVER gate, not just the tighter per-corpus floors
    // pinned in FunctionsSpec.
    // Demo tier: the brute-force query×corpus ground truth plus every
    // method pipeline is the POINT of the diagnostic — its cost grows
    // with every method added and linearly with the corpus; recall
    // regressions fail BOTH gates: cross-scale recall_ok/rerank_ok
    // flags are oracle-hashed by the driver, and the tighter per-corpus
    // floors stay pinned in FunctionsSpec.
    QueryDef("q_ann_recall", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      // Floors recalibrated r14 (advice): the served operating points
      // are fixed and md5-deterministic per corpus, so each driver SF
      // gets its OWN quantizer floors at HALF that scale's measured
      // recall (BUILD_NOTES "ANN recall trend (r13)") instead of one
      // collapse-only cross-scale min, so a real retrieval regression
      // fails the oracle gate, not only the exact FunctionsSpec pins.
      // Every other rung, and every rung at an unknown dir (generated
      // scale probes), is held to its certified cross-scale floor
      // `AnnPolicy.floorMilli` — still a non-collapse certificate.
      val perSf = perSfQuantFloors
        .getOrElse(new java.io.File(d).getName, Nil).toMap
      val floors = graft.functions.AnnPolicy.rungs
        .map(r => (r.method, perSf.getOrElse(r.method, r.floorMilli / 1000.0)))
        .toDF("method", "floor")
      val bases = Seq(("sq8_rerank", "sq8")).toDF("method", "base_method")
      // one row per rung; checkpoint so the base-recall self-join
      // doesn't re-run the method pipelines.
      val r = Similarity.annRecall(Tables.embeddings(s, d),
        col("vec_id") % 100 === 0, graft.functions.AnnPolicy.k,
        graft.functions.AnnPolicy.harnessLshBits, graft.functions.AnnPolicy.harnessLshTables,
        graft.functions.AnnPolicy.harnessIvfCells, graft.functions.AnnPolicy.harnessIvfProbe).localCheckpoint()
      val baseRec = r.select(col("method").as("base_method"),
        col("recall").as("base_recall"))
      r.join(broadcast(floors), Seq("method"))
        .join(broadcast(bases), Seq("method"), "left")
        .join(broadcast(baseRec), Seq("base_method"), "left")
        .select(col("method"), col("n_truth"),
          when(col("recall") >= col("floor"), 1L).otherwise(0L).as("recall_ok"),
          when(col("base_recall").isNull || col("recall") >= col("base_recall"), 1L)
            .otherwise(0L).as("rerank_ok"))
    },
      // Floor-flag gate: the Spark row computes recall_ok/rerank_ok from
      // the measured recalls (see the query's comment for the floors);
      // the oracle derives n_truth = |Q|*k structurally and hashes
      // literal-1 flags — the hash matches iff every method clears its
      // cross-scale floor AND every rerank stage is monotone.
      s"""WITH q AS (SELECT count(*) * 10 AS n_truth FROM embeddings WHERE vec_id % 100 = 0)
         |SELECT m.method, q.n_truth,
         |       CAST(1 AS BIGINT) AS recall_ok,
         |       CAST(1 AS BIGINT) AS rerank_ok
         |FROM (VALUES ${graft.functions.AnnPolicy.rungs.map(r => s"('${r.method}')").mkString(", ")}) AS m(method)
         |CROSS JOIN q""".stripMargin, demo = true),
    // serving-policy frontier over the ANN ladder (r17, VERDICT #8):
    // one row per method with an INTEGER work-unit cost model (serve-
    // time distance/LUT evaluations, closed-form from COUNT(*), |Q| and
    // the COUNT(*)-derived auto params — the oracle computes the same
    // numbers), the method's cross-scale CERTIFIED recall floor, a
    // recall_ok flag (measured recall from the recall harness >= the
    // certified floor — literal 1 in the oracle, so a retrieval
    // regression fails the gate), and on_frontier: pareto-optimality
    // over (cost_units ASC, certified floor DESC) — the policy read
    // "cheapest method whose certified recall >= R" comes straight off
    // the on_frontier rows. Demo-tier (reruns the harness aggregation;
    // trainings memo-share with q_ann_recall and the gated queries).
    QueryDef("q_ann_frontier", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val e = Tables.embeddings(s, d)
      // every rung's cost expression + certified floor come from the
      // shared AnnPolicy config — the oracle's CASE is generated from
      // the SAME expression trees (drift-proof by construction)
      val env = graft.functions.AnnPolicy.env(e.count(),
        e.filter(col("vec_id") % 100 === 0).count())
      val costs = graft.functions.AnnPolicy.rungs
        .map(r => (r.method, r.cost.eval(env), r.floorMilli))
        .toDF("method", "cost_units", "floor_milli")
        .localCheckpoint() // tiny; read three times below
      val dominated = costs.as("a").join(costs.as("b"),
        (col("b.cost_units") < col("a.cost_units") &&
          col("b.floor_milli") >= col("a.floor_milli")) ||
        (col("b.cost_units") <= col("a.cost_units") &&
          col("b.floor_milli") > col("a.floor_milli")), "left_semi")
        .select(col("a.method").as("method"), lit(0L).as("on_frontier"))
      val measured = Similarity.annRecall(e,
          col("vec_id") % 100 === 0, graft.functions.AnnPolicy.k,
          graft.functions.AnnPolicy.harnessLshBits, graft.functions.AnnPolicy.harnessLshTables,
          graft.functions.AnnPolicy.harnessIvfCells, graft.functions.AnnPolicy.harnessIvfProbe)
        .select(col("method"), col("recall"))
      costs.join(broadcast(measured), Seq("method"))
        .join(broadcast(dominated), Seq("method"), "left")
        .select(col("method"), col("cost_units"), col("floor_milli"),
          when(col("recall") * 1000.0 >= col("floor_milli").cast("double"), 1L)
            .otherwise(0L).as("recall_ok"),
          coalesce(col("on_frontier"), lit(1L)).as("on_frontier"))
    },
      annFrontierSql, demo = true),
    // the EXECUTABLE form of the frontier (r18, VERDICT #6): dispatch
    // to the cheapest rung whose CERTIFIED floor meets the requested
    // recall. Floors chosen so the winner is scale-INVARIANT and
    // provable from the cost trees (>=400: ivf beats sq8/sq8_rerank at
    // any n since q*16+4q*max(1,n/16) < 64qn; >=700: sq8 beats its own
    // rerank by the +50q term) — but the ORACLE does not hardcode the
    // choice: it recomputes every rung's cost from COUNT(*) (the frontier
    // CTE), derives the argmin under the same tie-break, and only
    // produces rows when that derived winner equals the engine's (the
    // join against the winner CTE) — a drifted policy yields zero rows
    // and a red gate, replaying the CHOICE itself at every SF.
    QueryDef("q_ann_serve", (s, d) => {
      import org.apache.spark.sql.functions.col
      Similarity.annServe(Tables.embeddings(s, d),
        col("vec_id") % 100 === 0, graft.functions.AnnPolicy.k, 400L)
    },
      annServeSql(400L, "ivf", ivfTopkOracleSql)),
    QueryDef("q_ann_serve_tight", (s, d) => {
      import org.apache.spark.sql.functions.col
      Similarity.annServe(Tables.embeddings(s, d),
        col("vec_id") % 100 === 0, graft.functions.AnnPolicy.k, 700L)
    },
      // r19 (ADVICE): the served depth interpolates AnnPolicy.k — the
      // engine serves AnnPolicy.k, so a k re-point can no longer desync
      // this oracle chain (the drift class AnnPolicy exists to kill)
      annServeSql(700L, "sq8",
      s"""$sq8BaseSql
         |SELECT query_id, rnk, neighbor_id FROM r WHERE rnk <= ${graft.functions.AnnPolicy.k}""".stripMargin)),
    // metadata-filtered vector search: top-k among even-label rows only
    QueryDef("q_ann_filtered", (s, d) => {
      import org.apache.spark.sql.functions.col
      Similarity.bruteForceTopK(Tables.embeddings(s, d),
        col("vec_id") % 100 === 0, 10, col("label") % 2 === 0)
    },
      s"""WITH n AS ($quantizedSql),
         |p AS (SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
         |             CAST(list_sum(list_transform(list_zip(qq.q, cc.q), x -> x[1] * x[2])) AS BIGINT) AS dot,
         |             qq.nq AS qn, cc.nq AS cn
         |      FROM n qq, n cc
         |      WHERE qq.vec_id % 100 = 0 AND cc.vec_id <> qq.vec_id AND cc.label % 2 = 0),
         |r AS (SELECT query_id, neighbor_id,
         |             CAST(dot AS DOUBLE) / sqrt(CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) AS cosine,
         |             row_number() OVER (PARTITION BY query_id
         |               ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) DESC,
         |                        neighbor_id ASC) AS rnk
         |      FROM p)
         |SELECT query_id, rnk, neighbor_id, cosine FROM r WHERE rnk <= 10""".stripMargin),
    // filtered search over the COMPRESSED indexes (r14): the same
    // metadata predicate restricts the code-index scan before any
    // ADC distance — the trained index is shared with the unfiltered
    // siblings (search-time argument, not a training one)
    QueryDef("q_ann_filtered_ivfpq", (s, d) => {
      import org.apache.spark.sql.functions.col
      Similarity.ivfpqTopK(Tables.embeddings(s, d),
        col("vec_id") % 100 === 0, 10, nCells = 4, nProbe = 2,
        m = 2, ksub = 4, iters = 1, candPred = Some(col("label") % 2 === 0))
    },
      // the same IVFADC chain with the candidate predicate restricting
      // the code side of the ADC join — filtered search, shared index
      s"""${ivfpqBaseSqlFor("label % 2 = 0")}
         |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, adist
         |FROM r WHERE rnk <= 10""".stripMargin),
    QueryDef("q_ann_filtered_sq8", (s, d) => {
      import org.apache.spark.sql.functions.col
      Similarity.sq8TopK(Tables.embeddings(s, d),
        col("vec_id") % 100 === 0, 10, candPred = Some(col("label") % 2 === 0))
    },
      s"""${sq8BaseSqlFor("label % 2 = 0")}
         |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, adist
         |FROM r WHERE rnk <= 10""".stripMargin),
    // the HIGH-FIDELITY PQ operating point (r15, closes r14 verdict
    // #3): m=16 subspaces × 64 centroids = 96 code bits (21× raw
    // compression) — raw ADC recall 0.54 at the sf0.01 gate
    // (0.50/0.445 at sf0.001/sf0.1; half-measured floors pinned in
    // q_ann_recall), so the compressed serving story
    // has a measured >= 0.5-recall rung. Same certified-iteration
    // training chain, replayed by the oracle at the wider shape.
    QueryDef("q_pq_hi", (s, d) => {
      import org.apache.spark.sql.functions.col
      Similarity.pqTopK(Tables.embeddings(s, d),
        col("vec_id") % 100 === 0, 10, m = 16, ksub = 64, iters = 1)
    },
      // the high-fidelity PQ point: the SAME certified chain at
      // subWidth=4 / ksub=64 (96 code bits — see q_pq_hi's comment)
      s"""${pqBaseSqlFor(4, 64)},
         |r AS (SELECT query_id, vec_id AS neighbor_id, adist,
         |             row_number() OVER (PARTITION BY query_id
         |               ORDER BY adist, vec_id) AS rnk
         |      FROM dist)
         |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, adist
         |FROM r WHERE rnk <= 10""".stripMargin),
    // the SCALE path of IVFADC (the autoLshBits pattern applied to the
    // coarse quantizer): nCells <= fixed is the LSH-bits scale trap —
    // cells grow linearly with the corpus and nProbe cells approach a
    // constant FRACTION of it. nCells auto-sizes to ~sqrt(n/64)
    // (FAISS's nlist ~ sqrt(n) rule, same +-1-corrected-sqrt integer
    // contract as q_semdedup_hier — the oracle derives the SAME count
    // from COUNT(*), cardinality-robust); probed work grows ~sqrt(n).
    QueryDef("q_ivfpq_auto", (s, d) => {
      import org.apache.spark.sql.functions._
      val e = Tables.embeddings(s, d)
      val c = Similarity.autoIvfCells(e.count())
      // r17: re-pointed from (m=2, ksub=4, nProbe=2) — recall
      // 0.04/0.06/0.01, the same fixed-probe + tiny-codebook disease
      // IVF-RQ had — to the high-fidelity residual point (m=16,
      // ksub=64, 96 code bits on coarse residuals) with sqrt(c)
      // probing: measured 0.48/0.54/0.355 across the SFs, ABOVE flat
      // pq_hi at sf0.1 (0.22) — the Jegou residual-quantization gain,
      // now visible at the gated operating point. The 4-bit point
      // lives on in q_ann_filtered_ivfpq.
      Similarity.ivfpqTopK(e, col("vec_id") % 100 === 0, graft.functions.AnnPolicy.k,
        nCells = c, nProbe = Similarity.autoIvfProbe(c),
        m = graft.functions.AnnPolicy.ivfpqAutoM, ksub = graft.functions.AnnPolicy.ivfpqAutoKsub, iters = 1)
        .withColumn("n_cells", lit(c.toLong))
    },
      // the auto-sized IVFADC chain: nCells derived from COUNT(*) via
      // the +-1-corrected-sqrt contract (q_semdedup_hier's pattern),
      // nProbe = LEAST(2, nCells) — cardinality-robust at any SF
      s"""$ivfpqAutoSql
         |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, adist,
         |       (SELECT CAST(k AS BIGINT) FROM ki) AS n_cells
         |FROM r WHERE rnk <= 10""".stripMargin),
    // SQ8 scalar quantization (FAISS QT_8bit shape): per-dim affine
    // 8-bit codes from ONE min/max training pass, symmetric code-space
    // squared distance — all integer, so the ranking replays exactly
    QueryDef("q_sq8_topk", (s, d) => {
      import org.apache.spark.sql.functions.col
      Similarity.sq8TopK(Tables.embeddings(s, d),
        col("vec_id") % 100 === 0, 10)
    },
      // SQ8 replay: affine 8-bit codes off per-dim min/max bounds, then
      // symmetric integer code-space distance — see sq8BaseSql
      s"""$sq8BaseSql
         |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, adist
         |FROM r WHERE rnk <= 10""".stripMargin),
    // SQ8 + exact re-rank: code-space 50-pool, exact quantized-cosine
    // final order (the FAISS refine step on the cheap rung)
    QueryDef("q_sq8_rerank", (s, d) => {
      import org.apache.spark.sql.functions.col
      Similarity.sq8TopKRerank(Tables.embeddings(s, d),
        col("vec_id") % 100 === 0, 10, pool = 50)
    },
      // SQ8 code-space proposes the 50-pool; exact quantized cosine
      // re-ranks it — the FAISS refine step
      s"""$sq8BaseSql,
         |pool AS (SELECT query_id, neighbor_id FROM r WHERE rnk <= 50),
         |x AS (SELECT p.query_id, p.neighbor_id,
         |             CAST(list_sum(list_transform(list_zip(qq.q, cc.q), z -> z[1] * z[2])) AS BIGINT) AS dot,
         |             qq.nq AS qn, cc.nq AS cn
         |      FROM pool p
         |      JOIN n qq ON qq.vec_id = p.query_id
         |      JOIN n cc ON cc.vec_id = p.neighbor_id),
         |f AS (SELECT query_id, neighbor_id,
         |             CAST(dot AS DOUBLE) / sqrt(CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) AS cosine,
         |             row_number() OVER (PARTITION BY query_id
         |               ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) DESC,
         |                        neighbor_id ASC) AS rnk
         |      FROM x)
         |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, cosine
         |FROM f WHERE rnk <= 10""".stripMargin),
    // IVF-SQ8 (FAISS's IVF,SQ8) at AUTO cell count: the probed scale
    // sibling of the flat q_sq8_topk scan (whose n·|Q| contract the
    // 100x table measured at exponent 1.82) — certified coarse
    // assignment, integer probe centroids derived from the final
    // membership, SQ8 code distance within probed cells only. The
    // oracle derives the same cell count from COUNT(*).
    QueryDef("q_ivf_sq8_auto", (s, d) => {
      import org.apache.spark.sql.functions._
      val e = Tables.embeddings(s, d)
      val c = Similarity.autoIvfCells(e.count())
      // r17: sqrt(c)-scaled probing like the other auto rungs —
      // recall 0.495 -> 0.660 at sf0.1 in the lab
      Similarity.ivfSq8TopK(e, col("vec_id") % 100 === 0, 10,
        nCells = c, nProbe = Similarity.autoIvfProbe(c), iters = 2)
        .withColumn("n_cells", lit(c.toLong))
    },
      // IVF-SQ8 at auto cell count: certified 2-iteration coarse chain,
      // integer probe centroids from the final membership, SQ8 code
      // distance within probed cells
      ivfSq8AutoSql),
    // IVF-RQ at AUTO cell count: the probed residual quantizer (the
    // flat RQ scan measured exponent 1.01 at 32x) — certified coarse chain,
    // EIGHT additive 16-code residual stages (r17 fixed the ADC to the
    // L-stage LUT expansion and gated 4x64 at 0.18/0.30/0.13; the r18
    // tri-scale lab shows 8x16 above it at every SF — 0.26/0.40/0.17 —
    // so the serving point moves, one edit in AnnPolicy.ivfrqAutoKs),
    // per-stage dot LUTs + stored reconstruction norms within
    // each query's probed cells. nProbe scales with the cell count
    // (max(2, ceil(sqrt(c))), capped at c) instead of the r16 fixed 2,
    // so the probed fraction no longer collapses as cells grow. The
    // oracle derives the same cell count AND probe count from
    // COUNT(*). Closes the quantizer symmetry: PQ/SQ8/RQ each carry a
    // sqrt(n)-celled probe.
    QueryDef("q_ivfrq_auto", (s, d) => {
      import org.apache.spark.sql.functions._
      val e = Tables.embeddings(s, d)
      val c = Similarity.autoIvfCells(e.count())
      Similarity.ivfRqTopKMulti(e, col("vec_id") % 100 === 0, graft.functions.AnnPolicy.k,
        nCells = c, nProbe = Similarity.autoIvfProbe(c),
        ks = graft.functions.AnnPolicy.ivfrqAutoKs, iters = 1)
        .withColumn("n_cells", lit(c.toLong))
    },
      // IVF-RQ at auto cell count: certified coarse chain, additive
      // residual codebooks (seeds md5(vec_id || 'r') / md5(vec_id ||
      // 'rr')), per-cell query residuals, combined-table ADC within
      // probed cells only
      s"""$ivfRqAutoBaseSql
         |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, adist,
         |       (SELECT CAST(k AS BIGINT) FROM ki) AS n_cells
         |FROM r WHERE rnk <= 10""".stripMargin),
    // IVF-RQ + exact re-rank: the probed additive-code pool (50)
    // refined by exact quantized cosine (the full IVF,RQ,R stack)
    QueryDef("q_ivfrq_rerank", (s, d) => {
      import org.apache.spark.sql.functions._
      val e = Tables.embeddings(s, d)
      val c = Similarity.autoIvfCells(e.count())
      Similarity.ivfRqTopKMultiRerank(e, col("vec_id") % 100 === 0, graft.functions.AnnPolicy.k,
        nCells = c, nProbe = Similarity.autoIvfProbe(c),
        ks = graft.functions.AnnPolicy.ivfrqAutoKs, iters = 1, pool = graft.functions.AnnPolicy.rerankPool)
    },
      // IVF-RQ + exact re-rank: the probed additive-code pool (50)
      // refined by exact quantized cosine
      s"""$ivfRqAutoBaseSql,
         |pool AS (SELECT query_id, neighbor_id FROM r WHERE rnk <= 50),
         |x AS (SELECT p.query_id, p.neighbor_id,
         |             CAST(list_sum(list_transform(list_zip(qq.q, cc.q), z -> z[1] * z[2])) AS BIGINT) AS dot,
         |             qq.nq AS qn, cc.nq AS cn
         |      FROM pool p
         |      JOIN n qq ON qq.vec_id = p.query_id
         |      JOIN n cc ON cc.vec_id = p.neighbor_id),
         |f AS (SELECT query_id, neighbor_id,
         |             CAST(dot AS DOUBLE) / sqrt(CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) AS cosine,
         |             row_number() OVER (PARTITION BY query_id
         |               ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) DESC,
         |                        neighbor_id ASC) AS rnk
         |      FROM x)
         |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, cosine
         |FROM f WHERE rnk <= 10""".stripMargin),
    // deterministic kNN-graph (NN-descent, WWW 2011): LSH-seeded
    // per-node top-k lists refined by 2 fixed neighbor-of-neighbor
    // rounds over the undirected graph — the graph-search serving
    // index rung (HNSW/NSG class), oracle-replayable because seeds,
    // distances, tie-breaks and the round count are all deterministic
    QueryDef("q_knn_graph", (s, d) =>
      Similarity.knnGraph(Tables.embeddings(s, d),
        graft.functions.AnnPolicy.kGraph, graft.functions.AnnPolicy.graphRounds),
      // deterministic NN-descent kNN-graph: LSH-seeded lists, 2 unrolled
      // neighbor-of-neighbor rounds, exact integer L2, id tie-breaks
      knnGraphSql),
    // the SERVING read of the graph index: greedy beam search (the
    // HNSW/NSG walk, single-layer form) — global md5 entry points.
    // r17: hops/beam/entry-count AUTO-derived from COUNT(*) via the
    // integer ceil-log2 chain (beam = max(10, 3p), hops = min(6,
    // max(3, ceil(p/2))) — the r16 fixed (3, 10) point decayed recall
    // 0.78 -> 0.32 across the landed decade; the walk's budget now
    // grows ~log n, per-query cost O(hops*beam*kGraph) stays free of
    // any corpus-linear term, and the oracle derives the SAME params
    // from COUNT(*) with guarded hop CTEs up to the unroll cap.
    QueryDef("q_knn_graph_search", (s, d) => {
      import org.apache.spark.sql.functions.col
      val e = Tables.embeddings(s, d)
      val n = e.count()
      Similarity.knnGraphSearch(e,
        col("vec_id") % 100 === 0, graft.functions.AnnPolicy.k,
        kGraph = graft.functions.AnnPolicy.kGraph, rounds = graft.functions.AnnPolicy.graphRounds,
        hops = Similarity.autoGraphHops(n), beam = Similarity.autoGraphBeam(n))
    },
      // beam search over the graph: global md5 entry points + 3 unrolled
      // hops (beam windows, not-visited anti-joins, integer L2 scoring)
      knnGraphSearchSql),
    // contrastive hard-negative mining: nearest different-label rows
    QueryDef("q_hard_negatives", (s, d) => {
      import org.apache.spark.sql.functions.col
      Similarity.hardNegatives(Tables.embeddings(s, d),
        col("vec_id") % 100 === 0, 10)
    },
      s"""WITH n AS ($quantizedSql),
         |p AS (SELECT qq.vec_id AS query_id, qq.label AS query_label,
         |             cc.vec_id AS neighbor_id, cc.label AS neighbor_label,
         |             CAST(list_sum(list_transform(list_zip(qq.q, cc.q), x -> x[1] * x[2])) AS BIGINT) AS dot,
         |             qq.nq AS qn, cc.nq AS cn
         |      FROM n qq, n cc
         |      WHERE qq.vec_id % 100 = 0 AND cc.vec_id <> qq.vec_id
         |        AND cc.label <> qq.label),
         |r AS (SELECT query_id, query_label, neighbor_id, neighbor_label,
         |             CAST(dot AS DOUBLE) / sqrt(CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) AS cosine,
         |             row_number() OVER (PARTITION BY query_id
         |               ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) DESC,
         |                        neighbor_id ASC) AS rnk
         |      FROM p)
         |SELECT query_id, query_label, rnk, neighbor_id, neighbor_label, cosine
         |FROM r WHERE rnk <= 10""".stripMargin),
    // per-label centroid cells (long form: exact integer sums, one
    // double division per cell)
    QueryDef("q_embedding_centroids", (s, d) =>
      Similarity.labelCentroids(Tables.embeddings(s, d)),
      s"""WITH n AS ($quantizedSql),
         |e AS (SELECT label, generate_subscripts(q, 1) - 1 AS d, unnest(q) AS x FROM n)
         |SELECT label, CAST(d AS BIGINT) AS d,
         |       CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS centroid,
         |       count(*) AS n
         |FROM e GROUP BY label, d""".stripMargin),
    // fixed-point Lloyd k-means: 2 certified iterations, every step
    // exact integer arithmetic (shift-nonneg dims, s div n centroids,
    // int64 squared distances, md5 seeds) — the oracle replays the
    // identical iterations in DuckDB
    QueryDef("q_kmeans", (s, d) =>
      Similarity.kmeansFixedPoint(Tables.embeddings(s, d), 8, 2),
      // identical fixed-point Lloyd iterations replayed in DuckDB: same
      // md5 seed order, same +2^20 shift (trunc==floor on non-negative),
      // same integer `//` centroids, same int64 distances and tie-break
      """WITH v AS (
        |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |           x -> CAST(floor(x*1000000.0) AS BIGINT)) AS q
        |  FROM embeddings),
        |vd AS (SELECT vec_id, generate_subscripts(q,1)-1 AS d,
        |              unnest(q) + 1048576 AS x FROM v),
        |seeds AS (SELECT vec_id,
        |            row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell_id
        |          FROM v QUALIFY cell_id < 8),
        |c0 AS (SELECT s.cell_id, vd.d, vd.x AS c FROM vd JOIN seeds s USING (vec_id)),
        |a1 AS (SELECT vec_id, cell_id FROM (
        |    SELECT vd.vec_id, c0.cell_id,
        |           row_number() OVER (PARTITION BY vd.vec_id
        |             ORDER BY sum((vd.x - c0.c)*(vd.x - c0.c)), c0.cell_id) AS rn
        |    FROM vd JOIN c0 USING (d)
        |    GROUP BY vd.vec_id, c0.cell_id QUALIFY rn = 1)),
        |c1 AS (SELECT a1.cell_id, vd.d,
        |              CAST(CAST(sum(vd.x) AS BIGINT) // count(*) AS BIGINT) AS c
        |       FROM vd JOIN a1 USING (vec_id) GROUP BY 1,2),
        |a2 AS (SELECT vec_id, cell_id FROM (
        |    SELECT vd.vec_id, c1.cell_id,
        |           row_number() OVER (PARTITION BY vd.vec_id
        |             ORDER BY sum((vd.x - c1.c)*(vd.x - c1.c)), c1.cell_id) AS rn
        |    FROM vd JOIN c1 USING (d)
        |    GROUP BY vd.vec_id, c1.cell_id QUALIFY rn = 1))
        |SELECT a2.cell_id, count(DISTINCT a2.vec_id) AS n,
        |       CAST(sum(vd.x - 1048576) AS BIGINT) AS s0
        |FROM a2 JOIN vd USING (vec_id) WHERE vd.d = 0
        |GROUP BY 1""".stripMargin),
    // SemDeDup (Abbas et al. 2023): embedding-space near-dup removal —
    // certified-integer k-means clusters bound the pair candidates,
    // within-cell quantized cosine >= ε drops the higher id. ε = 0.35
    // sits at this corpus's ~99.9th cosine percentile (its max pair is
    // 0.51 — the driver embeddings have no 0.95-grade semantic dups),
    // so the gate exercises real drops; per-cell summary output.
    // Demo tier: pins k=8 clusters for the DuckDB replay, so its
    // within-cell self-join is ~N²/8 at fixed k — the scalable form
    // grows k with the corpus (see `Similarity.semDedup` scaladoc),
    // exactly like `autoLshBits` vs the pinned demo bits.
    QueryDef("q_semdedup", (s, d) => {
      import org.apache.spark.sql.functions._
      Similarity.semDedup(Tables.embeddings(s, d), 8, 2, 0.35)
        .groupBy(col("cell_id"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
    },
      // SemDeDup replay: the q_kmeans fixed-point CTE chain (identical
      // k=8 / 2-iteration assignment a2) + within-cell quantized-cosine
      // pair join + the keep-lowest-id rule
      semDedupCellsSql, demo = true),
    // the SCALE path of SemDeDup (the autoLshBits pattern): k <= 0
    // auto-sizes the cluster count to constant cell occupancy. The
    // oracle derives the SAME k = ⌈n/64⌉ from COUNT(*) (r15,
    // cardinality-robust — no sf-pinned literal) and emits it as the
    // k_auto column this side carries. Unlike q_semdedup this stays
    // on the scale-up board: cells stay ~64 docs as the corpus grows,
    // so the within-cell join stays linear.
    QueryDef("q_semdedup_auto", (s, d) => {
      import org.apache.spark.sql.functions._
      val kAuto = Similarity.autoSemDedupK(Tables.embeddings(s, d).count())
      Similarity.semDedup(Tables.embeddings(s, d), 0, 2, 0.35)
        .groupBy(col("cell_id"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
        .withColumn("k_auto", lit(kAuto.toLong))
    },
      // auto-k sibling, CARDINALITY-ROBUST (r15): k = ⌈n/64⌉ derived
      // from COUNT(*) in the oracle itself (integer-exact (n+63)//64,
      // matching autoSemDedupK), so the replay is green at every scale
      // factor instead of pinning the sf0.01 k=8 as a literal
      semDedupAutoSql),
    // the HIERARCHICAL scale path of SemDeDup: two-level certified
    // k-means (k1 coarse cells, k2 sub-cells per coarse cell trained
    // JOINTLY — the coarse id rides every key) keeps the constant
    // ~64-doc cell occupancy of q_semdedup_auto while each assignment
    // pass scores only its level's √(n/64) centroids: n^1.5-ish
    // assignment work vs the flat auto form's n²/64 (the measured
    // 0.88 exponent on the r12 scale board). k1 = k2 =
    // autoSemDedupHierK(n); the oracle replays BOTH levels and derives
    // the same k from COUNT(*) (r15, cardinality-robust).
    QueryDef("q_semdedup_hier", (s, d) => {
      import org.apache.spark.sql.functions._
      val kAuto = Similarity.autoSemDedupHierK(Tables.embeddings(s, d).count())
      Similarity.semDedupHier(Tables.embeddings(s, d), 0, 0, 2, 0.35)
        .groupBy(col("cell_id"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
        .withColumn("k_hier", lit(kAuto.toLong))
    },
      // two-level replay, CARDINALITY-ROBUST (r15): the coarse certified
      // chain then per-coarse-cell sub-training ('h'-salted seeds, 2
      // iters) with the coarse id in every key — cell_id = g·k2 + code;
      // k1 = k2 derived from COUNT(*) (smallest k with 64k² >= n,
      // matching autoSemDedupHierK) instead of the pinned sf0.01 k=3
      semDedupHierDynSql),
  )

  /** Per-SF half-measured quantizer floors for `q_ann_recall` — each
    * driver scale gets its own floor at HALF that scale's measured
    * recall. `AnnPolicy.floorMilli` per rung is the MINIMUM of these
    * across the SFs (the cross-scale certified floor); AnnPolicySpec
    * re-derives that relationship so a re-point cannot update one
    * table and silently strand the other. */
  private[graft] val perSfQuantFloors: Map[String, Seq[(String, Double)]] = Map(
    "sf0.001" -> Seq(("pq_hi", 0.25), ("ivfpq_auto", 0.24),
    ("ivfrq_auto", 0.13), ("knn_graph", 0.12), ("knn_graph_search", 0.46)),
    "sf0.01" -> Seq(("pq_hi", 0.27), ("ivfpq_auto", 0.27),
    ("ivfrq_auto", 0.20), ("knn_graph", 0.11), ("knn_graph_search", 0.44)),
    "sf0.1" -> Seq(("pq_hi", 0.22), ("ivfpq_auto", 0.17),
    ("ivfrq_auto", 0.085), ("knn_graph", 0.057), ("knn_graph_search", 0.31)))

  /** Unrolled greedy-MMR oracle (mirror of `Similarity.mmrRerank`,
    * poolK=20, outK=5, λ=1/2): pick 1 is pure relevance; each later
    * round k materializes per-candidate `rel − max(sim to sel_{k−1})`
    * and takes the (score desc, id asc) head — the same
    * certified-iterative discipline as q_kmeans (iterations unrolled
    * as CTEs, every FP value a mirrored combination of exact-int
    * operands). */
  private lazy val mmrOracleSql: String = {
    def dotL(x: String, y: String) =
      s"CAST(list_sum(list_transform(list_zip($x, $y), z -> z[1] * z[2])) AS BIGINT)"
    val steps = (2 to 5).map { k =>
      s"""c$k AS (SELECT m.query_id, m.a, m.rel - max(m.sim) AS score
         |        FROM msim m JOIN sel${k - 1} s ON s.query_id = m.query_id AND s.neighbor_id = m.b
         |        LEFT JOIN sel${k - 1} x ON x.query_id = m.query_id AND x.neighbor_id = m.a
         |        WHERE x.neighbor_id IS NULL
         |        GROUP BY m.query_id, m.a, m.rel),
         |p$k AS (SELECT query_id, CAST($k AS BIGINT) AS pos, a AS neighbor_id, score AS mmr_score
         |        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |                ORDER BY score DESC, a ASC) AS rk FROM c$k) WHERE rk = 1),
         |sel$k AS (SELECT * FROM sel${k - 1} UNION ALL SELECT * FROM p$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH n AS ($quantizedSql),
       |qs AS (SELECT vec_id AS query_id, q AS qv, nq AS qn FROM n WHERE vec_id % 100 = 0),
       |pr AS (SELECT qs.query_id, c.vec_id AS neighbor_id,
       |              CAST(${dotL("qs.qv", "c.q")} AS DOUBLE)
       |                / sqrt(CAST(qs.qn AS DOUBLE) * CAST(c.nq AS DOUBLE)) AS rel
       |       FROM qs JOIN n c ON c.vec_id <> qs.query_id),
       |pool AS (SELECT query_id, neighbor_id, rel FROM (
       |           SELECT pr.*, row_number() OVER (PARTITION BY query_id
       |             ORDER BY rel DESC, neighbor_id ASC) AS rk FROM pr) WHERE rk <= 20),
       |sims AS (SELECT p1.query_id, p1.neighbor_id AS a, p2.neighbor_id AS b,
       |                CAST(${dotL("na.q", "nb.q")} AS DOUBLE)
       |                  / sqrt(CAST(na.nq AS DOUBLE) * CAST(nb.nq AS DOUBLE)) AS sim
       |         FROM pool p1 JOIN pool p2 ON p2.query_id = p1.query_id
       |                                  AND p2.neighbor_id <> p1.neighbor_id
       |           JOIN n na ON na.vec_id = p1.neighbor_id
       |           JOIN n nb ON nb.vec_id = p2.neighbor_id),
       |msim AS (SELECT s.query_id, s.a, s.b, s.sim, po.rel
       |         FROM sims s JOIN pool po ON po.query_id = s.query_id
       |                                 AND po.neighbor_id = s.a),
       |p1 AS (SELECT query_id, CAST(1 AS BIGINT) AS pos, neighbor_id, rel AS mmr_score
       |       FROM (SELECT pool.*, row_number() OVER (PARTITION BY query_id
       |               ORDER BY rel DESC, neighbor_id ASC) AS rk FROM pool) WHERE rk = 1),
       |sel1 AS (SELECT * FROM p1),
       |$steps
       |SELECT query_id, pos, neighbor_id, mmr_score FROM sel5""".stripMargin
  }

  /** The IVFADC chain with an optional candidate predicate: the filter
    * restricts the code-index side of the ADC join (search-time
    * filtered search), never the training CTEs — mirroring
    * `Similarity.ivfpqTopK(candPred)` exactly. `"TRUE"` reduces to the
    * unfiltered chain. */
  private def ivfpqBaseSqlFor(candWhere: String, extraCtes: String = "",
                              cells: String = "4", probe: String = "2",
                              subWidth: Int = 32, ksub: Int = 4) =
    s"""WITH $extraCtes n AS ($quantizedSql),
         |vd AS (SELECT vec_id, generate_subscripts(q,1)-1 AS d,
         |              unnest(q) + 1048576 AS x FROM n),
         |cs AS (SELECT vec_id,
         |         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell_id
         |       FROM n QUALIFY cell_id < $cells),
         |cc0 AS (SELECT cs.cell_id, vd.d, vd.x AS c
         |        FROM vd JOIN cs USING (vec_id)),
         |ca1 AS (SELECT vec_id, cell_id FROM (
         |    SELECT vd.vec_id, cc0.cell_id,
         |           row_number() OVER (PARTITION BY vd.vec_id
         |             ORDER BY sum((vd.x - cc0.c)*(vd.x - cc0.c)), cc0.cell_id) AS rn
         |    FROM vd JOIN cc0 ON vd.d = cc0.d
         |    GROUP BY vd.vec_id, cc0.cell_id QUALIFY rn = 1)),
         |cc1 AS (SELECT ca1.cell_id, vd.d,
         |              CAST(CAST(sum(vd.x) AS BIGINT) // count(*) AS BIGINT) AS c
         |       FROM vd JOIN ca1 USING (vec_id)
         |       GROUP BY 1, vd.d),
         |ca AS (SELECT vec_id, cell_id FROM (
         |    SELECT vd.vec_id, cc1.cell_id,
         |           row_number() OVER (PARTITION BY vd.vec_id
         |             ORDER BY sum((vd.x - cc1.c)*(vd.x - cc1.c)), cc1.cell_id) AS rn
         |    FROM vd JOIN cc1 ON vd.d = cc1.d
         |    GROUP BY vd.vec_id, cc1.cell_id QUALIFY rn = 1)),
         |rd AS (SELECT vd.vec_id, vd.d // $subWidth AS s, vd.d,
         |              vd.x - cc1.c + 2097152 AS rx
         |       FROM vd JOIN ca USING (vec_id)
         |       JOIN cc1 ON cc1.cell_id = ca.cell_id AND cc1.d = vd.d),
         |ps AS (SELECT vec_id,
         |         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR) || 'p'), vec_id) - 1 AS code
         |       FROM n QUALIFY code < $ksub),
         |pc0 AS (SELECT rd.s, ps.code, rd.d, rd.rx AS c
         |        FROM rd JOIN ps USING (vec_id)),
         |pa1 AS (SELECT vec_id, s, code FROM (
         |    SELECT rd.vec_id, rd.s, pc0.code,
         |           row_number() OVER (PARTITION BY rd.vec_id, rd.s
         |             ORDER BY sum((rd.rx - pc0.c)*(rd.rx - pc0.c)), pc0.code) AS rn
         |    FROM rd JOIN pc0 ON rd.s = pc0.s AND rd.d = pc0.d
         |    GROUP BY rd.vec_id, rd.s, pc0.code QUALIFY rn = 1)),
         |pc1 AS (SELECT pa1.s, pa1.code, rd.d,
         |              CAST(CAST(sum(rd.rx) AS BIGINT) // count(*) AS BIGINT) AS c
         |       FROM rd JOIN pa1 ON rd.vec_id = pa1.vec_id AND rd.s = pa1.s
         |       GROUP BY 1, 2, rd.d),
         |pa2 AS (SELECT vec_id, s, code FROM (
         |    SELECT rd.vec_id, rd.s, pc1.code,
         |           row_number() OVER (PARTITION BY rd.vec_id, rd.s
         |             ORDER BY sum((rd.rx - pc1.c)*(rd.rx - pc1.c)), pc1.code) AS rn
         |    FROM rd JOIN pc1 ON rd.s = pc1.s AND rd.d = pc1.d
         |    GROUP BY rd.vec_id, rd.s, pc1.code QUALIFY rn = 1)),
         |qd AS (SELECT vec_id AS query_id, d, x FROM vd WHERE vec_id % 100 = 0),
         |qc AS (SELECT qd.query_id, cc1.cell_id,
         |              sum((qd.x - cc1.c)*(qd.x - cc1.c)) AS cd
         |       FROM qd JOIN cc1 ON qd.d = cc1.d GROUP BY 1, 2),
         |probe AS (SELECT query_id, cell_id FROM (
         |    SELECT query_id, cell_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY cd, cell_id) AS rn FROM qc) WHERE rn <= $probe),
         |qrd AS (SELECT p.query_id, p.cell_id, qd.d // $subWidth AS s, qd.d,
         |               qd.x - cc1.c + 2097152 AS rqx
         |        FROM probe p
         |        JOIN qd ON qd.query_id = p.query_id
         |        JOIN cc1 ON cc1.cell_id = p.cell_id AND cc1.d = qd.d),
         |adc AS (SELECT qrd.query_id, qrd.cell_id, pc1.s, pc1.code,
         |               sum((qrd.rqx - pc1.c)*(qrd.rqx - pc1.c)) AS pd
         |        FROM qrd JOIN pc1 ON pc1.s = qrd.s AND pc1.d = qrd.d
         |        GROUP BY 1, 2, 3, 4),
         |codes AS (SELECT pa2.vec_id, ca.cell_id, pa2.s, pa2.code
         |          FROM pa2 JOIN ca USING (vec_id)),
         |dist AS (SELECT adc.query_id, codes.vec_id,
         |                CAST(sum(adc.pd) AS BIGINT) AS adist
         |         FROM codes JOIN adc ON codes.cell_id = adc.cell_id
         |           AND codes.s = adc.s AND codes.code = adc.code
         |         WHERE codes.vec_id <> adc.query_id
         |           AND codes.vec_id IN (SELECT vec_id FROM n WHERE $candWhere)
         |         GROUP BY 1, 2),
         |r AS (SELECT query_id, vec_id AS neighbor_id, adist,
         |             row_number() OVER (PARTITION BY query_id
         |               ORDER BY adist, vec_id) AS rnk
         |      FROM dist)""".stripMargin

  /** IVF-SQ8 replay (`q_ivf_sq8_auto`): auto cell count from COUNT(*),
    * the certified 2-iteration coarse k-means (seeds → assign vs seed
    * vectors → integer-mean update → final assign — exactly
    * `kmeansFixedPointAssign(iters = 2)`), probe centroids =
    * `sum div count` over the FINAL membership, then sq8 code distance
    * restricted to each query's probed cells. */
  private lazy val ivfSq8AutoSql: String = {
    val k = "(SELECT k FROM ki)"
    s"""WITH inn AS (SELECT count(*) AS n FROM embeddings),
       |ikr AS (SELECT GREATEST(1, CAST(ceil(sqrt(CAST(n AS DOUBLE) / 64.0)) AS BIGINT)) AS kr, n FROM inn),
       |ki AS (SELECT CASE WHEN kr > 1 AND 64*(kr-1)*(kr-1) >= n THEN kr - 1
       |                   WHEN 64*kr*kr < n THEN kr + 1
       |                   ELSE kr END AS k FROM ikr),
       |n AS ($quantizedSql),
       |vd AS (SELECT vec_id, generate_subscripts(q,1)-1 AS d,
       |              unnest(q) AS x FROM n),
       |vs AS (SELECT vec_id, d, x + 1048576 AS sx FROM vd),
       |seeds AS (SELECT vec_id,
       |            row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell_id
       |          FROM n QUALIFY cell_id < $k),
       |c0 AS (SELECT s.cell_id, vs.d, vs.sx AS c FROM vs JOIN seeds s USING (vec_id)),
       |a1 AS (SELECT vec_id, cell_id FROM (
       |    SELECT vs.vec_id, c0.cell_id,
       |           row_number() OVER (PARTITION BY vs.vec_id
       |             ORDER BY sum((vs.sx - c0.c)*(vs.sx - c0.c)), c0.cell_id) AS rn
       |    FROM vs JOIN c0 USING (d)
       |    GROUP BY vs.vec_id, c0.cell_id QUALIFY rn = 1)),
       |c1 AS (SELECT a1.cell_id, vs.d,
       |              CAST(CAST(sum(vs.sx) AS BIGINT) // count(*) AS BIGINT) AS c
       |       FROM vs JOIN a1 USING (vec_id) GROUP BY 1, 2),
       |a2 AS (SELECT vec_id, cell_id FROM (
       |    SELECT vs.vec_id, c1.cell_id,
       |           row_number() OVER (PARTITION BY vs.vec_id
       |             ORDER BY sum((vs.sx - c1.c)*(vs.sx - c1.c)), c1.cell_id) AS rn
       |    FROM vs JOIN c1 USING (d)
       |    GROUP BY vs.vec_id, c1.cell_id QUALIFY rn = 1)),
       |pc AS (SELECT a2.cell_id, vs.d,
       |              CAST(CAST(sum(vs.sx) AS BIGINT) // count(*) AS BIGINT) AS c
       |       FROM vs JOIN a2 USING (vec_id) GROUP BY 1, 2),
       |qp AS (SELECT vec_id AS query_id, d, sx FROM vs WHERE vec_id % 100 = 0),
       |qc0 AS (SELECT qp.query_id, pc.cell_id,
       |               sum((qp.sx - pc.c)*(qp.sx - pc.c)) AS cd
       |        FROM qp JOIN pc USING (d) GROUP BY 1, 2),
       |probe AS (SELECT query_id, cell_id FROM (
       |    SELECT query_id, cell_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY cd, cell_id) AS rn FROM qc0)
       |    WHERE rn <= LEAST(GREATEST(2, CAST(ceil(sqrt(CAST($k AS DOUBLE))) AS BIGINT)), $k)),
       |b AS (SELECT d, min(x) AS mn, max(x) AS mx FROM vd GROUP BY d),
       |cd AS (SELECT vd.vec_id, vd.d,
       |         CASE WHEN b.mx > b.mn
       |              THEN ((vd.x - b.mn) * 255) // (b.mx - b.mn)
       |              ELSE CAST(0 AS BIGINT) END AS c
       |       FROM vd JOIN b USING (d)),
       |cn AS (SELECT vec_id, CAST(sum(c*c) AS BIGINT) AS ncc
       |       FROM cd GROUP BY vec_id),
       |qd AS (SELECT vec_id AS query_id, d, c AS qc
       |       FROM cd WHERE vec_id % 100 = 0),
       |dt AS (SELECT qd.query_id, cd.vec_id,
       |              CAST(sum(qd.qc * cd.c) AS BIGINT) AS dp
       |       FROM qd JOIN cd ON qd.d = cd.d AND cd.vec_id <> qd.query_id
       |       JOIN a2 ON a2.vec_id = cd.vec_id
       |       JOIN probe p ON p.query_id = qd.query_id AND p.cell_id = a2.cell_id
       |       GROUP BY 1, 2),
       |dist AS (SELECT dt.query_id, dt.vec_id,
       |                CAST(qn.ncc + nn.ncc - 2 * dt.dp AS BIGINT) AS adist
       |         FROM dt
       |         JOIN cn qn ON qn.vec_id = dt.query_id
       |         JOIN cn nn ON nn.vec_id = dt.vec_id),
       |r AS (SELECT query_id, vec_id AS neighbor_id, adist,
       |             row_number() OVER (PARTITION BY query_id
       |               ORDER BY adist, vec_id) AS rnk
       |      FROM dist)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, adist,
       |       (SELECT CAST(k AS BIGINT) FROM ki) AS n_cells
       |FROM r WHERE rnk <= 10""".stripMargin
  }

  /** The IVFADC chain with nCells derived from COUNT(*) — the
    * `q_semdedup_hier` ±1-corrected-sqrt contract applied to the
    * coarse quantizer (`Similarity.autoIvfCells`): kr = the correctly-
    * rounded float estimate of √(n/64), ki the exact smallest c with
    * 64·c² ≥ n. nProbe = LEAST(2, c) keeps the tiny-corpus gate legal
    * (c = 1 at sf0.001). */
  private lazy val ivfpqAutoSql: String = {
    val k = "(SELECT k FROM ki)"
    ivfpqBaseSqlFor("TRUE",
      extraCtes =
        s"""inn AS (SELECT count(*) AS n FROM embeddings),
           |ikr AS (SELECT GREATEST(1, CAST(ceil(sqrt(CAST(n AS DOUBLE) / 64.0)) AS BIGINT)) AS kr, n FROM inn),
           |ki AS (SELECT CASE WHEN kr > 1 AND 64*(kr-1)*(kr-1) >= n THEN kr - 1
           |                   WHEN 64*kr*kr < n THEN kr + 1
           |                   ELSE kr END AS k FROM ikr),""".stripMargin,
      cells = k,
      probe = s"LEAST(GREATEST(2, CAST(ceil(sqrt(CAST($k AS DOUBLE))) AS BIGINT)), $k)",
      subWidth = graft.functions.AnnPolicy.dims / graft.functions.AnnPolicy.ivfpqAutoM,
      ksub = graft.functions.AnnPolicy.ivfpqAutoKsub)
  }

  /** IVF-RQ replay (`q_ivfrq_auto` / `q_ivfrq_rerank`): auto cell
    * count from COUNT(*) (the ±1-corrected-sqrt contract), the
    * certified 1-iteration coarse chain (seeds md5(vec_id)), then
    * ks.length additive residual stages (stage s: input residuals in
    * the +2^(20+s) frame, seeds md5(vec_id || 'r'·s)), generated as
    * one CTE block per stage by `ivfRqMultiBaseSql`. Probing and the
    * LUT-form ADC mirror `Similarity.ivfRqTopKMulti` bit-exactly:
    * nProbe = LEAST(GREATEST(2, ceil(√cells)), cells) nearest cells
    * by exact integer L2, per-(query, cell, stage, code) dot LUTs
    * against the shift-adjusted codebooks, and a candidate's distance
    * = ‖q_r‖² − 2·Σ_s dot + its stored reconstruction norm — through
    * the ranked candidate CTE `r`. Serving point r18: 8 stages × 16
    * codes (AnnPolicy.ivfrqAutoKs — the CTE loop generates one block
    * per stage), iters = 1. */
  private lazy val ivfRqAutoBaseSql: String =
    ivfRqMultiBaseSql(graft.functions.AnnPolicy.ivfrqAutoKs)

  private def ivfRqMultiBaseSql(ks: Seq[Int]): String = {
    val k = "(SELECT k FROM ki)"
    val probeExpr =
      s"LEAST(GREATEST(2, CAST(ceil(sqrt(CAST($k AS DOUBLE))) AS BIGINT)), $k)"
    // one certified fixed-point stage (seeds → assign-vs-seed-vectors
    // → integer-mean update → final assign), exactly fpStage(iters=1)
    val stageCtes = ks.zipWithIndex.map { case (kS, i) =>
      val s = i + 1
      val salt = "r" * s
      val rd = s"rd$s"
      val next =
        if (s == ks.length) ""
        else {
          val frameShift = 1048576L * (1L << (s + 1)) // 2^(21+s)
          s""",
             |rd${s + 1} AS MATERIALIZED (SELECT $rd.vec_id, $rd.d, $rd.rx - c$s.c + $frameShift AS rx
             |        FROM $rd JOIN a$s USING (vec_id)
             |        JOIN c$s ON c$s.code = a$s.code AND c$s.d = $rd.d)""".stripMargin
        }
      s"""s$s AS (SELECT vec_id,
         |         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR) || '$salt'), vec_id) - 1 AS code
         |       FROM n QUALIFY code < $kS),
         |c${s}0 AS MATERIALIZED (SELECT s$s.code, $rd.d, $rd.rx AS c FROM $rd JOIN s$s USING (vec_id)),
         |a${s}0 AS MATERIALIZED (SELECT vec_id, code FROM (
         |    SELECT $rd.vec_id, c${s}0.code,
         |           row_number() OVER (PARTITION BY $rd.vec_id
         |             ORDER BY sum(($rd.rx - c${s}0.c)*($rd.rx - c${s}0.c)), c${s}0.code) AS rn
         |    FROM $rd JOIN c${s}0 ON $rd.d = c${s}0.d
         |    GROUP BY $rd.vec_id, c${s}0.code QUALIFY rn = 1)),
         |c$s AS MATERIALIZED (SELECT a${s}0.code, $rd.d,
         |              CAST(CAST(sum($rd.rx) AS BIGINT) // count(*) AS BIGINT) AS c
         |       FROM $rd JOIN a${s}0 USING (vec_id) GROUP BY 1, $rd.d),
         |a$s AS MATERIALIZED (SELECT vec_id, code FROM (
         |    SELECT $rd.vec_id, c$s.code,
         |           row_number() OVER (PARTITION BY $rd.vec_id
         |             ORDER BY sum(($rd.rx - c$s.c)*($rd.rx - c$s.c)), c$s.code) AS rn
         |    FROM $rd JOIN c$s ON $rd.d = c$s.d
         |    GROUP BY $rd.vec_id, c$s.code QUALIFY rn = 1))""".stripMargin + next
    }.mkString(",\n")
    // shift-adjusted codebooks: stage 1 as trained (the +2^21 frame),
    // stage s >= 2 minus its 2^(20+s) frame shift
    val cadjSql = ks.indices.map { i =>
      val s = i + 1
      if (s == 1) s"SELECT 1 AS s, code, d, c FROM c1"
      else s"SELECT $s AS s, code, d, c - ${1048576L * (1L << s)} AS c FROM c$s"
    }.mkString("\n       |         UNION ALL ")
    val codesSql = ks.indices.map { i =>
      val s = i + 1
      s"SELECT vec_id, $s AS s, code FROM a$s"
    }.mkString("\n       |               UNION ALL ")
    s"""WITH inn AS (SELECT count(*) AS n FROM embeddings),
       |ikr AS (SELECT GREATEST(1, CAST(ceil(sqrt(CAST(n AS DOUBLE) / 64.0)) AS BIGINT)) AS kr, n FROM inn),
       |ki AS (SELECT CASE WHEN kr > 1 AND 64*(kr-1)*(kr-1) >= n THEN kr - 1
       |                   WHEN 64*kr*kr < n THEN kr + 1
       |                   ELSE kr END AS k FROM ikr),
       |n AS MATERIALIZED ($quantizedSql),
       |vd AS MATERIALIZED (SELECT vec_id, generate_subscripts(q,1)-1 AS d,
       |              unnest(q) + 1048576 AS x FROM n),
       |cs AS (SELECT vec_id,
       |         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell_id
       |       FROM n QUALIFY cell_id < $k),
       |cc0 AS (SELECT cs.cell_id, vd.d, vd.x AS c FROM vd JOIN cs USING (vec_id)),
       |ca1 AS (SELECT vec_id, cell_id FROM (
       |    SELECT vd.vec_id, cc0.cell_id,
       |           row_number() OVER (PARTITION BY vd.vec_id
       |             ORDER BY sum((vd.x - cc0.c)*(vd.x - cc0.c)), cc0.cell_id) AS rn
       |    FROM vd JOIN cc0 ON vd.d = cc0.d
       |    GROUP BY vd.vec_id, cc0.cell_id QUALIFY rn = 1)),
       |cc1 AS MATERIALIZED (SELECT ca1.cell_id, vd.d,
       |              CAST(CAST(sum(vd.x) AS BIGINT) // count(*) AS BIGINT) AS c
       |       FROM vd JOIN ca1 USING (vec_id) GROUP BY 1, vd.d),
       |ca AS MATERIALIZED (SELECT vec_id, cell_id FROM (
       |    SELECT vd.vec_id, cc1.cell_id,
       |           row_number() OVER (PARTITION BY vd.vec_id
       |             ORDER BY sum((vd.x - cc1.c)*(vd.x - cc1.c)), cc1.cell_id) AS rn
       |    FROM vd JOIN cc1 ON vd.d = cc1.d
       |    GROUP BY vd.vec_id, cc1.cell_id QUALIFY rn = 1)),
       |rd1 AS MATERIALIZED (SELECT vd.vec_id, vd.d, vd.x - cc1.c + 2097152 AS rx
       |       FROM vd JOIN ca USING (vec_id)
       |       JOIN cc1 ON cc1.cell_id = ca.cell_id AND cc1.d = vd.d),
       |$stageCtes,
       |cadj AS MATERIALIZED ($cadjSql),
       |codes AS MATERIALIZED (SELECT a.vec_id, ca.cell_id, a.s, a.code
       |          FROM ($codesSql) a
       |          JOIN ca USING (vec_id)),
       |rnd AS (SELECT codes.vec_id, cadj.d, sum(cadj.c) AS rc
       |        FROM codes JOIN cadj ON cadj.s = codes.s AND cadj.code = codes.code
       |        GROUP BY 1, 2),
       |rnorm AS (SELECT vec_id, CAST(sum(rc*rc) AS BIGINT) AS rnorm
       |          FROM rnd GROUP BY 1),
       |qd AS (SELECT vec_id AS query_id, d, x FROM vd WHERE vec_id % 100 = 0),
       |qc AS (SELECT qd.query_id, cc1.cell_id,
       |              sum((qd.x - cc1.c)*(qd.x - cc1.c)) AS cd
       |       FROM qd JOIN cc1 ON qd.d = cc1.d GROUP BY 1, 2),
       |probe AS (SELECT query_id, cell_id FROM (
       |    SELECT query_id, cell_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY cd, cell_id) AS rn FROM qc)
       |    WHERE rn <= $probeExpr),
       |qrd AS MATERIALIZED (SELECT p.query_id, p.cell_id, qd.d, qd.x - cc1.c + 2097152 AS rx
       |        FROM probe p
       |        JOIN qd ON qd.query_id = p.query_id
       |        JOIN cc1 ON cc1.cell_id = p.cell_id AND cc1.d = qd.d),
       |qn AS (SELECT query_id, cell_id, CAST(sum(rx*rx) AS BIGINT) AS qn
       |       FROM qrd GROUP BY 1, 2),
       |lut AS MATERIALIZED (SELECT qrd.query_id, qrd.cell_id, cadj.s, cadj.code,
       |               CAST(sum(qrd.rx * cadj.c) AS BIGINT) AS dot
       |        FROM qrd JOIN cadj ON qrd.d = cadj.d GROUP BY 1, 2, 3, 4),
       |sd AS (SELECT l.query_id, co.vec_id, co.cell_id,
       |              CAST(sum(l.dot) AS BIGINT) AS sdot
       |       FROM codes co
       |       JOIN lut l ON co.cell_id = l.cell_id AND co.s = l.s
       |         AND co.code = l.code
       |       WHERE co.vec_id <> l.query_id
       |       GROUP BY 1, 2, 3),
       |dist AS (SELECT sd.query_id, sd.vec_id,
       |                CAST(qn.qn - 2*sd.sdot + rnorm.rnorm AS BIGINT) AS adist
       |         FROM sd
       |         JOIN qn ON qn.query_id = sd.query_id AND qn.cell_id = sd.cell_id
       |         JOIN rnorm ON rnorm.vec_id = sd.vec_id),
       |r AS (SELECT query_id, vec_id AS neighbor_id, adist,
       |             row_number() OVER (PARTITION BY query_id
       |               ORDER BY adist, vec_id) AS rnk
       |      FROM dist)""".stripMargin
  }

  /** Shared CTE block deriving the policy parameters (prm) and every
    * rung's cost (costs) from COUNT(*) — the frontier's core, reused by
    * the `q_ann_serve*` choice replay (r18). Ends with the `costs` CTE;
    * callers append their own final SELECT (and may prepend CTEs). */
  private lazy val annPolicyCostsCteSql: String = {
    val pChain = (1 to 61)
      .map(p => s"WHEN prm0.n <= ${1L << p} THEN $p")
      .mkString("\n            ")
    s"""prm0 AS (SELECT count(*) AS n FROM embeddings),
       |qq AS (SELECT count(*) AS q FROM embeddings WHERE vec_id % 100 = 0),
       |ikr AS (SELECT GREATEST(1, CAST(ceil(sqrt(CAST(n AS DOUBLE) / 64.0)) AS BIGINT)) AS kr, n FROM prm0),
       |ki AS (SELECT CASE WHEN kr > 1 AND 64*(kr-1)*(kr-1) >= n THEN kr - 1
       |                   WHEN 64*kr*kr < n THEN kr + 1
       |                   ELSE kr END AS c FROM ikr),
       |gp AS (SELECT CASE $pChain
       |            ELSE 62 END AS p FROM prm0),
       |prm AS (SELECT prm0.n, qq.q, ki.c,
       |               LEAST(GREATEST(2, CAST(ceil(sqrt(CAST(ki.c AS DOUBLE))) AS BIGINT)), ki.c) AS p2,
       |               GREATEST(10, 3 * gp.p) AS bm,
       |               LEAST(6, GREATEST(3, (gp.p + 1) // 2)) AS h,
       |               GREATEST(1, prm0.n // ${graft.functions.AnnPolicy.harnessIvfCells}) AS b16
       |        FROM prm0, qq, ki, gp),
       |costs AS (SELECT m.method, m.floor_milli,
       |       ${graft.functions.AnnPolicy.costSqlCase} AS cost_units
       |       FROM (VALUES ${graft.functions.AnnPolicy.floorsSqlValues}) AS m(method, floor_milli), prm)""".stripMargin
  }

  /** `q_ann_frontier` replay: the cost CASE and floor table are
    * GENERATED from `functions.AnnPolicy`'s expression trees — the
    * very objects the engine evaluates — so the two sides cannot
    * drift (r18, VERDICT task 2); the same pareto rule over
    * (cost_units ASC, floor DESC); recall_ok is literal 1 (the
    * engine's measured-recall check, q_ann_recall's flag pattern). */
  private lazy val annFrontierSql: String = {
    s"""WITH $annPolicyCostsCteSql
       |SELECT a.method, a.cost_units,
       |       CAST(a.floor_milli AS BIGINT) AS floor_milli,
       |       CAST(1 AS BIGINT) AS recall_ok,
       |       CAST(CASE WHEN EXISTS (SELECT 1 FROM costs b
       |           WHERE (b.cost_units < a.cost_units AND b.floor_milli >= a.floor_milli)
       |              OR (b.cost_units <= a.cost_units AND b.floor_milli > a.floor_milli))
       |         THEN 0 ELSE 1 END AS BIGINT) AS on_frontier
       |FROM costs a""".stripMargin
  }

  /** `q_ann_serve*` replay: recompute every rung's cost from COUNT(*)
    * (the shared frontier CTE), derive the cheapest floor-meeting rung
    * under the engine's exact tie-break (cost ASC, floor DESC, method
    * ASC), and emit the winner's result chain ONLY if the derived
    * winner matches the chain the oracle carries — the policy choice
    * is replayed, not asserted. */
  private def annServeSql(floorMilli: Long, winner: String,
                          chainSql: String): String =
    s"""WITH res AS (SELECT * FROM ($chainSql)),
       |$annPolicyCostsCteSql,
       |winner AS (SELECT method, cost_units, floor_milli FROM costs
       |           WHERE floor_milli >= $floorMilli
       |           ORDER BY cost_units ASC, floor_milli DESC, method ASC LIMIT 1)
       |SELECT w.method, w.cost_units,
       |       CAST(w.floor_milli AS BIGINT) AS floor_milli,
       |       r.query_id, CAST(r.rnk AS BIGINT) AS rnk, r.neighbor_id
       |FROM res r JOIN winner w ON w.method = '$winner'""".stripMargin

  /** PQ certified-training + ADC replay through `dist` (query →
    * candidate ADC distance), parameterized by subspace width (dims per
    * subspace) and per-subspace centroid count — the gated point
    * q_pq_hi is (4, 64) (r15). */
  private def pqBaseSqlFor(subWidth: Int, ksub: Int): String =
    s"""WITH n AS ($quantizedSql),
       |vd AS (SELECT vec_id, generate_subscripts(q,1)-1 AS d,
       |              unnest(q) + 1048576 AS x FROM n),
       |vs AS (SELECT vec_id, d, d // $subWidth AS s, x FROM vd),
       |seeds AS (SELECT vec_id,
       |            row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
       |          FROM n QUALIFY code < $ksub),
       |c0 AS (SELECT vs.s, se.code, vs.d, vs.x AS c
       |       FROM vs JOIN seeds se USING (vec_id)),
       |a1 AS (SELECT vec_id, s, code FROM (
       |    SELECT vs.vec_id, vs.s, c0.code,
       |           row_number() OVER (PARTITION BY vs.vec_id, vs.s
       |             ORDER BY sum((vs.x - c0.c)*(vs.x - c0.c)), c0.code) AS rn
       |    FROM vs JOIN c0 ON vs.s = c0.s AND vs.d = c0.d
       |    GROUP BY vs.vec_id, vs.s, c0.code QUALIFY rn = 1)),
       |c1 AS (SELECT a1.s, a1.code, vs.d,
       |              CAST(CAST(sum(vs.x) AS BIGINT) // count(*) AS BIGINT) AS c
       |       FROM vs JOIN a1 ON vs.vec_id = a1.vec_id AND vs.s = a1.s
       |       GROUP BY 1, 2, vs.d),
       |a2 AS (SELECT vec_id, s, code FROM (
       |    SELECT vs.vec_id, vs.s, c1.code,
       |           row_number() OVER (PARTITION BY vs.vec_id, vs.s
       |             ORDER BY sum((vs.x - c1.c)*(vs.x - c1.c)), c1.code) AS rn
       |    FROM vs JOIN c1 ON vs.s = c1.s AND vs.d = c1.d
       |    GROUP BY vs.vec_id, vs.s, c1.code QUALIFY rn = 1)),
       |qd AS (SELECT vec_id AS query_id, d, d // $subWidth AS s, x
       |       FROM vd WHERE vec_id % 100 = 0),
       |adc AS (SELECT qd.query_id, c1.s, c1.code,
       |               sum((qd.x - c1.c)*(qd.x - c1.c)) AS pd
       |        FROM qd JOIN c1 ON qd.s = c1.s AND qd.d = c1.d
       |        GROUP BY 1, 2, 3),
       |dist AS (SELECT adc.query_id, a2.vec_id,
       |                CAST(sum(adc.pd) AS BIGINT) AS adist
       |         FROM a2 JOIN adc ON a2.s = adc.s AND a2.code = adc.code
       |         WHERE a2.vec_id <> adc.query_id
       |         GROUP BY 1, 2)""".stripMargin

  /** The SQ8 chain with an optional candidate predicate on the code
    * scan — mirroring `Similarity.sq8TopK(candPred)`. */
  private def sq8BaseSqlFor(candWhere: String) =
    s"""WITH n AS ($quantizedSql),
       |vd AS (SELECT vec_id, generate_subscripts(q,1)-1 AS d,
       |              unnest(q) AS x FROM n),
       |b AS (SELECT d, min(x) AS mn, max(x) AS mx FROM vd GROUP BY d),
       |cd AS (SELECT vd.vec_id, vd.d,
       |         CASE WHEN b.mx > b.mn
       |              THEN ((vd.x - b.mn) * 255) // (b.mx - b.mn)
       |              ELSE CAST(0 AS BIGINT) END AS c
       |       FROM vd JOIN b USING (d)),
       |cn AS (SELECT vec_id, CAST(sum(c*c) AS BIGINT) AS ncc
       |       FROM cd GROUP BY vec_id),
       |qd AS (SELECT vec_id AS query_id, d, c AS qc
       |       FROM cd WHERE vec_id % 100 = 0),
       |dt AS (SELECT qd.query_id, cd.vec_id,
       |              CAST(sum(qd.qc * cd.c) AS BIGINT) AS dp
       |       FROM qd JOIN cd ON qd.d = cd.d AND cd.vec_id <> qd.query_id
       |       WHERE cd.vec_id IN (SELECT vec_id FROM n WHERE $candWhere)
       |       GROUP BY 1, 2),
       |dist AS (SELECT dt.query_id, dt.vec_id,
       |                CAST(qn.ncc + nn.ncc - 2 * dt.dp AS BIGINT) AS adist
       |         FROM dt
       |         JOIN cn qn ON qn.vec_id = dt.query_id
       |         JOIN cn nn ON nn.vec_id = dt.vec_id),
       |r AS (SELECT query_id, vec_id AS neighbor_id, adist,
       |             row_number() OVER (PARTITION BY query_id
       |               ORDER BY adist, vec_id) AS rnk
       |      FROM dist)""".stripMargin

  /** DuckDB replay of the SQ8 code table + symmetric code-space scan
    * (Similarity.sq8CodeTable / sq8TopK): per-dim (mn, mx) bounds over
    * the quantized grid, affine 8-bit codes `((x - mn) * 255) // (mx -
    * mn)` — every operand non-negative, so DuckDB's flooring `//` and
    * Spark's truncating `div` coincide — then `|qc - cc|² = ncc_q +
    * ncc_c - 2·qc·cc` ranked (adist ASC, id ASC). */
  private lazy val sq8BaseSql = sq8BaseSqlFor("TRUE")

  /** Quantized embeddings CTE body (floor(x*1e6) exact-integer vectors
    * + exact squared norms — see Similarity.quantize). */
  private val quantizedSql =
    """SELECT vec_id, label,
      |       list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q,
      |       CAST(list_sum(list_transform(
      |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)),
      |         z -> z * z)) AS BIGINT) AS nq
      |FROM embeddings""".stripMargin

  /** md5-hyperplane LSH bucket CTEs (mirror of `Similarity.planeSign`
    * / `lshBucketsMulti`): plane j's ±1 for dimension d reads md5(d)'s
    * nibble (j%32)+1 — its top bit for j<32, its bit 1 for j>=32 —
    * identical to the engine's codegen'd integer-shift reads. The
    * projected components are the QUANTIZED bigint elements (mirror of
    * `Similarity.quantize`): ±int64 sums are exact in both engines
    * regardless of addition order, so the sign bits agree BY
    * CONSTRUCTION (a raw-double projection could flip near zero).
    * Emits `bkt(vec_id, b_0..b_{tables-1})`. */
  private def lshBucketsSql(bits: Int, tables: Int): String = {
    def signExpr(j: Int): String = {
      val n = j % 32
      val digits =
        if (j < 32) "('8','9','a','b','c','d','e','f')"
        else "('2','3','6','7','a','b','e','f')"
      s"substring(md5(CAST(d.d AS VARCHAR)), ${n + 1}, 1) IN $digits"
    }
    val projs = (for { t <- 0 until tables; h <- 0 until bits } yield
      s"sum(CASE WHEN ${signExpr(t * bits + h)} THEN d.x ELSE -d.x END) AS p_${t}_$h")
      .mkString(",\n       ")
    val bcols = (0 until tables).map { t =>
      "(" + (0 until bits).map(h =>
        s"(CASE WHEN p_${t}_$h > 0 THEN ${1L << h} ELSE 0 END)").mkString(" + ") +
        s") AS b_$t"
    }.mkString(",\n       ")
    s"""dims AS (SELECT e.vec_id,
       |                generate_subscripts(e.embedding, 1) - 1 AS d,
       |                CAST(floor(CAST(unnest(e.embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS x
       |         FROM embeddings e),
       |proj AS (SELECT d.vec_id,
       |       $projs
       |        FROM dims d GROUP BY d.vec_id),
       |bkt AS (SELECT vec_id,
       |       $bcols
       |        FROM proj)""".stripMargin
  }

  /** Cardinality-robust replay of `nearDupPairsLsh(…, bits = 0,
    * tables = 4)` (r15, closes the last tri-scale red cell): the
    * hyperplane count is derived from COUNT(*) by the SAME integer
    * threshold chain as `Similarity.autoLshBits` — smallest b >= 1
    * with 256·2^b >= n, saturating at 16 = 64/tables exactly where
    * the engine's auto cap saturates — so the oracle agrees at EVERY
    * corpus cardinality, not just the sf0.01 one. Because the plane
    * index t·bits+h itself depends on the derived bits, the fixed
    * per-column bucketing of `lshBucketsSql` can't express it; the
    * projection goes LONG FORM instead (planes × dims cross join,
    * one grouped sum per (vec, table, plane)), with the md5-nibble
    * sign read (`planeSign`) inlined as a j-dependent CASE. */
  private lazy val lshAutoNearDupSql: String = {
    val thresholds = (1 to 15)
      .map(b => s"WHEN nn.n <= ${256L * (1L << b)} THEN $b")
      .mkString("\n            ")
    s"""WITH nn AS (SELECT count(*) AS n FROM embeddings),
       |nb AS (SELECT CASE $thresholds
       |            ELSE 16 END AS bits FROM nn),
       |n AS ($quantizedSql),
       |dims AS (SELECT e.vec_id,
       |                generate_subscripts(e.embedding, 1) - 1 AS d,
       |                CAST(floor(CAST(unnest(e.embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS x
       |         FROM embeddings e),
       |planes AS (SELECT tt.t, hh.h, tt.t * (SELECT bits FROM nb) + hh.h AS j
       |           FROM (SELECT unnest(range(4)) AS t) tt,
       |                (SELECT unnest(range(CAST((SELECT bits FROM nb) AS BIGINT))) AS h) hh),
       |proj AS (SELECT dm.vec_id, p.t, p.h,
       |                sum(CASE WHEN (CASE WHEN p.j < 32
       |                      THEN substring(md5(CAST(dm.d AS VARCHAR)), CAST(p.j % 32 AS INTEGER) + 1, 1) IN ('8','9','a','b','c','d','e','f')
       |                      ELSE substring(md5(CAST(dm.d AS VARCHAR)), CAST(p.j % 32 AS INTEGER) + 1, 1) IN ('2','3','6','7','a','b','e','f') END)
       |                    THEN dm.x ELSE -dm.x END) AS pr
       |         FROM dims dm CROSS JOIN planes p
       |         GROUP BY dm.vec_id, p.t, p.h),
       |tb AS (SELECT vec_id, t,
       |              CAST(sum(CASE WHEN pr > 0 THEN (CAST(1 AS BIGINT) << CAST(h AS INTEGER)) ELSE 0 END) AS BIGINT) AS b
       |       FROM proj GROUP BY vec_id, t),
       |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |         FROM tb x JOIN tb y ON x.t = y.t AND x.b = y.b AND x.vec_id < y.vec_id),
       |pr AS (SELECT c.id_a, c.id_b,
       |             CAST(list_sum(list_transform(list_zip(a.q, b.q), x -> x[1] * x[2])) AS BIGINT) AS dot,
       |             a.nq AS na, b.nq AS nb
       |       FROM cand c JOIN n a ON a.vec_id = c.id_a JOIN n b ON b.vec_id = c.id_b)
       |SELECT id_a, id_b,
       |       CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS cosine
       |FROM pr
       |WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) >= 0.4""".stripMargin
  }

  /** kNN-graph replay (`q_knn_graph`): auto single-table LSH seed
    * (bits from COUNT(*) by `autoLshBits`'s threshold chain, saturating
    * at 62 where the engine's 64-plane cap leaves autoLshBits's own
    * 62-step bound binding), same-bucket init pairs, then each
    * NN-descent round unrolled as CTEs — undirected edge set (UNION
    * dedups), neighbor-of-neighbor candidates UNION direct edges,
    * exact integer squared L2 over the raw quantized arrays (shifts
    * cancel in differences), per-node top-k by (adist, neighbor_id).
    * Mirrors `Similarity.knnGraph(k = 10, rounds = 2)` bit-exactly. */
  private lazy val knnGraphSql: String =
    s"""$knnGraphChainSql
       |SELECT vec_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, adist
       |FROM g2""".stripMargin

  /** Beam-search replay (`q_knn_graph_search`): the graph chain above
    * plus the walk steps — global entry points by md5(vec_id || 'ep'),
    * per-query beam via rank windows, candidates = beam's graph
    * neighbors NOT yet visited (anti-join), scored by the same
    * raw-array integer L2, visited set grows by UNION ALL (candidates
    * are new by construction). r17: beam/hops/entry-count derive from
    * COUNT(*) exactly as `Similarity.autoGraphBeam`/`autoGraphHops` —
    * the integer ceil-log2 chain `gp`, beam = GREATEST(10, 3p) in the
    * rank windows, and SIX unrolled hop blocks each guarded by
    * `i <= (SELECT h FROM prm)` (a hop past the derived count
    * contributes zero candidate rows, so vis_i = vis_{i-1} — the
    * static unroll replays any derived hop count up to the engine's
    * matching cap). Mirrors `Similarity.knnGraphSearch(k=10,
    * kGraph=10, rounds=2, hops=autoGraphHops(n), beam=
    * autoGraphBeam(n))` bit-exactly. */
  private lazy val knnGraphSearchSql: String = {
    val k = 10
    val maxHops = 6 // = the autoGraphHops cap
    val beam = "(SELECT bm FROM prm)"
    // every vis/graph CTE is MATERIALIZED: vis_{i} is referenced three
    // times by hop i+1 (beam window, not-visited anti-join, union) and
    // g2 once per hop — inline expansion would recompute the whole
    // NN-descent chain per reference (exponential re-expansion; the
    // sf0.1 replay OOM'd DuckDB before this)
    def hop(i: Int): String =
      s"""bm$i AS MATERIALIZED (SELECT query_id, node FROM (
         |    SELECT query_id, node, row_number() OVER (PARTITION BY query_id
         |      ORDER BY adist, node) AS rn FROM vis${i - 1}) WHERE rn <= $beam),
         |cn$i AS MATERIALIZED (SELECT DISTINCT b.query_id, g.neighbor_id AS node
         |         FROM bm$i b JOIN gm g ON g.vec_id = b.node
         |         WHERE $i <= (SELECT h FROM prm)
         |           AND NOT EXISTS (SELECT 1 FROM vis${i - 1} v
         |           WHERE v.query_id = b.query_id AND v.node = g.neighbor_id)),
         |sc$i AS MATERIALIZED (SELECT c.query_id, c.node,
         |               CAST(list_sum(list_transform(list_zip(qv.q, nv.q),
         |                 z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS adist
         |        FROM cn$i c JOIN n nv ON nv.vec_id = c.node
         |        JOIN qs qv ON qv.query_id = c.query_id),
         |vis$i AS MATERIALIZED (SELECT * FROM vis${i - 1} UNION ALL SELECT * FROM sc$i)""".stripMargin
    val pChain = (1 to 61)
      .map(p => s"WHEN nn.n <= ${1L << p} THEN $p")
      .mkString("\n            ")
    s"""$knnGraphChainSql,
       |gp AS (SELECT CASE $pChain
       |            ELSE 62 END AS p FROM nn),
       |prm AS (SELECT GREATEST(10, 3 * p) AS bm,
       |               LEAST($maxHops, GREATEST(3, (p + 1) // 2)) AS h FROM gp),
       |gm AS MATERIALIZED (SELECT vec_id, neighbor_id FROM g2),
       |qs AS MATERIALIZED (SELECT vec_id AS query_id, q FROM n WHERE vec_id % 100 = 0),
       |ep AS (SELECT vec_id AS node FROM (
       |       SELECT vec_id, row_number() OVER (
       |         ORDER BY md5(CAST(vec_id AS VARCHAR) || 'ep'), vec_id) AS rn
       |       FROM n) WHERE rn <= $beam),
       |vis0 AS MATERIALIZED (SELECT qs.query_id, ep.node,
       |               CAST(list_sum(list_transform(list_zip(qs.q, nv.q),
       |                 z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS adist
       |        FROM qs CROSS JOIN ep JOIN n nv ON nv.vec_id = ep.node),
       |${(1 to maxHops).map(hop).mkString(",\n")},
       |fin AS (SELECT query_id, node AS neighbor_id, adist,
       |               row_number() OVER (PARTITION BY query_id
       |                 ORDER BY adist, node) AS rnk
       |        FROM vis$maxHops WHERE query_id <> node)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, adist
       |FROM fin WHERE rnk <= $k""".stripMargin
  }

  private lazy val knnGraphChainSql: String = {
    val k = 10
    val rounds = 2
    val ringJ = 2 * k // the bounded bucket-ring seed (see Similarity.knnGraph)
    val thresholds = (1 to 61)
      .map(b => s"WHEN nn.n <= ${256L * (1L << b)} THEN $b")
      .mkString("\n            ")
    def scoreTopK(i: Int, candCte: String): String =
      s"""s$i AS (SELECT c.vec_id, c.neighbor_id,
         |               CAST(list_sum(list_transform(list_zip(a.q, b.q),
         |                 z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS adist
         |        FROM $candCte c JOIN n a ON a.vec_id = c.vec_id
         |        JOIN n b ON b.vec_id = c.neighbor_id),
         |g$i AS (SELECT vec_id, neighbor_id, adist,
         |               row_number() OVER (PARTITION BY vec_id
         |                 ORDER BY adist, neighbor_id) AS rnk
         |        FROM s$i QUALIFY rnk <= $k)""".stripMargin
    def round(i: Int): String = {
      val p = i - 1
      s"""u$i AS (SELECT vec_id, neighbor_id FROM g$p
         |        UNION
         |        SELECT neighbor_id AS vec_id, vec_id AS neighbor_id FROM g$p),
         |c$i AS (SELECT x.vec_id, y.neighbor_id
         |        FROM u$i x JOIN u$i y ON x.neighbor_id = y.vec_id
         |        WHERE x.vec_id <> y.neighbor_id
         |        UNION
         |        SELECT vec_id, neighbor_id FROM u$i),
         |${scoreTopK(i, s"c$i")}""".stripMargin
    }
    s"""WITH nn AS (SELECT count(*) AS n FROM embeddings),
       |nb AS (SELECT CASE $thresholds
       |            ELSE 62 END AS bits FROM nn),
       |n AS ($quantizedSql),
       |dims AS (SELECT e.vec_id,
       |                generate_subscripts(e.embedding, 1) - 1 AS d,
       |                CAST(floor(CAST(unnest(e.embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS x
       |         FROM embeddings e),
       |planes AS (SELECT unnest(range(CAST((SELECT bits FROM nb) AS BIGINT))) AS h),
       |proj AS (SELECT dm.vec_id, p.h,
       |                sum(CASE WHEN (CASE WHEN p.h < 32
       |                      THEN substring(md5(CAST(dm.d AS VARCHAR)), CAST(p.h % 32 AS INTEGER) + 1, 1) IN ('8','9','a','b','c','d','e','f')
       |                      ELSE substring(md5(CAST(dm.d AS VARCHAR)), CAST(p.h % 32 AS INTEGER) + 1, 1) IN ('2','3','6','7','a','b','e','f') END)
       |                    THEN dm.x ELSE -dm.x END) AS pr
       |         FROM dims dm CROSS JOIN planes p
       |         GROUP BY dm.vec_id, p.h),
       |tb AS (SELECT vec_id,
       |              CAST(sum(CASE WHEN pr > 0 THEN (CAST(1 AS BIGINT) << CAST(h AS INTEGER)) ELSE 0 END) AS BIGINT) AS b
       |       FROM proj GROUP BY vec_id),
       |szs AS (SELECT b, count(*) AS sz FROM tb GROUP BY b),
       |rng AS (SELECT vec_id, b,
       |               row_number() OVER (PARTITION BY b
       |                 ORDER BY md5(CAST(vec_id AS VARCHAR) || 'ring'), vec_id) AS rn
       |        FROM tb),
       |i0r AS (SELECT x.vec_id, y.vec_id AS neighbor_id
       |        FROM rng x
       |        JOIN szs s ON s.b = x.b
       |        CROSS JOIN (SELECT unnest(range(1, $ringJ + 1)) AS j) js
       |        JOIN rng y ON y.b = x.b AND y.rn = ((x.rn - 1 + js.j) % s.sz) + 1
       |        WHERE js.j <= LEAST($ringJ, s.sz - 1)),
       |i0 AS (SELECT vec_id, neighbor_id FROM i0r
       |       UNION
       |       SELECT neighbor_id AS vec_id, vec_id AS neighbor_id FROM i0r),
       |${scoreTopK(0, "i0")},
       |${round(1)},
       |${round(2)}""".stripMargin
  }

  /** Exact-cosine scoring + per-query top-k tail shared by the LSH
    * top-k oracles (identical to the ann_topk ranking discipline). */
  private val lshTopKTailSql =
    """pr AS (SELECT c.query_id, c.neighbor_id,
      |             CAST(list_sum(list_transform(list_zip(qq.q, cc.q), x -> x[1] * x[2])) AS BIGINT) AS dot,
      |             qq.nq AS qn, cc.nq AS cn
      |       FROM cand c JOIN n qq ON qq.vec_id = c.query_id JOIN n cc ON cc.vec_id = c.neighbor_id),
      |r AS (SELECT query_id, neighbor_id,
      |             CAST(dot AS DOUBLE) / sqrt(CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) AS cosine,
      |             row_number() OVER (PARTITION BY query_id
      |               ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qn AS DOUBLE) * CAST(cn AS DOUBLE)) DESC,
      |                        neighbor_id ASC) AS rnk
      |      FROM pr)
      |SELECT query_id, rnk, neighbor_id, cosine FROM r WHERE rnk <= 10""".stripMargin

  // full single-table LSH top-k oracle; also embedded (as a derived
  // table) in the q_rrf_fusion fusion oracle
  private lazy val lshTopkOracleSql =
    s"""WITH n AS ($quantizedSql),
       |${lshBucketsSql(4, 1)},
       |probes AS (SELECT vec_id AS query_id,
       |                  unnest([b_0, ${(0 until 4).map(j => s"xor(b_0, ${1L << j})").mkString(", ")}]) AS b
       |           FROM bkt WHERE vec_id % 100 = 0),
       |cand AS (SELECT p.query_id, c.vec_id AS neighbor_id
       |         FROM probes p JOIN bkt c ON c.b_0 = p.b
       |         WHERE c.vec_id <> p.query_id),
       |$lshTopKTailSql""".stripMargin

  // full IVF top-k oracle; also embedded in q_rrf_fusion
  // r19 (ADVICE): cell/probe counts interpolate the AnnPolicy harness
  // constants the engine serves with, so a harness re-point cannot
  // desync this oracle (same drift class as the generated cost CASE).
  private lazy val ivfTopkOracleSql =
    s"""WITH n AS ($quantizedSql),
       |cent AS (SELECT vec_id AS cell_id, q AS cv, nq AS cn FROM n ORDER BY vec_id ASC LIMIT ${graft.functions.AnnPolicy.harnessIvfCells}),
       |scored AS (SELECT n.vec_id, c.cell_id,
       |             CAST(CAST(list_sum(list_transform(list_zip(n.q, c.cv), x -> x[1] * x[2])) AS BIGINT) AS DOUBLE)
       |               / sqrt(CAST(n.nq AS DOUBLE) * CAST(c.cn AS DOUBLE)) AS sim
       |           FROM n, cent c),
       |assign AS (SELECT vec_id, cell_id FROM (
       |             SELECT vec_id, cell_id,
       |                    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell_id ASC) AS rn
       |             FROM scored) WHERE rn = 1),
       |probe AS (SELECT vec_id AS query_id, cell_id FROM (
       |             SELECT vec_id, cell_id,
       |                    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell_id ASC) AS rn
       |             FROM scored WHERE vec_id % 100 = 0) WHERE rn <= ${graft.functions.AnnPolicy.harnessIvfProbe}),
       |cand AS (SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
       |         FROM probe p JOIN assign a ON a.cell_id = p.cell_id
       |         WHERE a.vec_id <> p.query_id),
       |$lshTopKTailSql""".stripMargin

  /** Shared SemDeDup per-cell replay (certified fixed-point chain +
    * within-cell cosine pair join + keep-lowest-id rule), generated
    * for a k given as a SQL EXPRESSION: the chain itself is long-form
    * and k-agnostic — k appears only in the seed bound (and optional
    * extra CTEs / tail columns), which is what lets `q_semdedup_auto`
    * derive k from COUNT(*) instead of pinning an sf-specific literal
    * (r15). `q_semdedup` keeps the pinned k=8 demo shape. */
  private def semDedupCellsSqlFor(extraCtes: String, kSql: String,
                                  tailCols: String): String =
    s"""WITH$extraCtes v AS (
         |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
         |           x -> CAST(floor(x*1000000.0) AS BIGINT)) AS q
         |  FROM embeddings),
         |vd AS (SELECT vec_id, generate_subscripts(q,1)-1 AS d,
         |              unnest(q) + 1048576 AS x FROM v),
         |seeds AS (SELECT vec_id,
         |            row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell_id
         |          FROM v QUALIFY cell_id < $kSql),
         |c0 AS (SELECT s.cell_id, vd.d, vd.x AS c FROM vd JOIN seeds s USING (vec_id)),
         |a1 AS (SELECT vec_id, cell_id FROM (
         |    SELECT vd.vec_id, c0.cell_id,
         |           row_number() OVER (PARTITION BY vd.vec_id
         |             ORDER BY sum((vd.x - c0.c)*(vd.x - c0.c)), c0.cell_id) AS rn
         |    FROM vd JOIN c0 USING (d)
         |    GROUP BY vd.vec_id, c0.cell_id QUALIFY rn = 1)),
         |c1 AS (SELECT a1.cell_id, vd.d,
         |              CAST(CAST(sum(vd.x) AS BIGINT) // count(*) AS BIGINT) AS c
         |       FROM vd JOIN a1 USING (vec_id) GROUP BY 1,2),
         |a2 AS (SELECT vec_id, cell_id FROM (
         |    SELECT vd.vec_id, c1.cell_id,
         |           row_number() OVER (PARTITION BY vd.vec_id
         |             ORDER BY sum((vd.x - c1.c)*(vd.x - c1.c)), c1.cell_id) AS rn
         |    FROM vd JOIN c1 USING (d)
         |    GROUP BY vd.vec_id, c1.cell_id QUALIFY rn = 1)),
         |qn AS ($quantizedSql),
         |m AS (SELECT a2.vec_id, a2.cell_id, qn.q, qn.nq
         |      FROM a2 JOIN qn USING (vec_id)),
         |dup AS (SELECT DISTINCT b.vec_id
         |        FROM m a JOIN m b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
         |        WHERE CAST(list_sum(list_transform(list_zip(a.q, b.q), x -> x[1]*x[2])) AS DOUBLE)
         |              / sqrt(CAST(a.nq AS DOUBLE) * CAST(b.nq AS DOUBLE)) >= 0.35)
         |SELECT m.cell_id, count(*) AS n,
         |       CAST(count(*) FILTER (WHERE dup.vec_id IS NOT NULL) AS BIGINT) AS n_dropped,
         |       CAST(count(*) FILTER (WHERE dup.vec_id IS NULL) AS BIGINT) AS n_kept$tailCols
         |FROM m LEFT JOIN dup ON m.vec_id = dup.vec_id
         |GROUP BY 1""".stripMargin

  /** The pinned k=8 demo replay (`q_semdedup`). */
  private lazy val semDedupCellsSql: String = semDedupCellsSqlFor("", "8", "")

  /** Cardinality-robust auto-k replay (`q_semdedup_auto`, r15):
    * k = ⌈n/64⌉ computed integer-exactly from COUNT(*) —
    * (n+63)//64 — matching `Similarity.autoSemDedupK` at every corpus
    * cardinality, with the derived k emitted as the k_auto column the
    * engine side carries. */
  private lazy val semDedupAutoSql: String = semDedupCellsSqlFor(
    "\n kk AS (SELECT GREATEST(1, (count(*) + 63) // 64) AS k FROM embeddings),",
    "(SELECT k FROM kk)",
    ",\n       CAST((SELECT k FROM kk) AS BIGINT) AS k_auto")

  /** DuckDB replay of `Similarity.kmeansHierAssign` + the within-cell
    * dedup (`q_semdedup_hier`): the coarse certified chain (seeds →
    * c0 → a1 → c1 → a2, 2 iterations — semDedupCellsSql's level with
    * `k1` cells), then the per-coarse-cell sub-chain with the coarse
    * id in every key: 'h'-salted per-cell seeds, hc0 → ha1 → hc1 →
    * ha2, cell_id = g·k2 + code. Same integer discipline throughout
    * (+2^20 shift, `//` == `div` on the non-negative grid, argmin
    * ties (dist, code)). CARDINALITY-ROBUST (r15): k1 = k2 is derived
    * from COUNT(*) as the smallest k >= 1 with 64k² >= n — a
    * correctly-rounded float √ estimate plus a ±1 integer correction,
    * provably equal to `Similarity.autoSemDedupHierK` at any n — so
    * the oracle no longer pins the sf0.01 k=3 literal. */
  private lazy val semDedupHierDynSql: String = {
    val k1 = "(SELECT k FROM kh)"
    val k2 = "(SELECT k FROM kh)"
    s"""WITH hnn AS (SELECT count(*) AS n FROM embeddings),
         |hkr AS (SELECT GREATEST(1, CAST(ceil(sqrt(CAST(n AS DOUBLE) / 64.0)) AS BIGINT)) AS kr, n FROM hnn),
         |kh AS (SELECT CASE WHEN kr > 1 AND 64*(kr-1)*(kr-1) >= n THEN kr - 1
         |                   WHEN 64*kr*kr < n THEN kr + 1
         |                   ELSE kr END AS k FROM hkr),
         |v AS (
         |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
         |           x -> CAST(floor(x*1000000.0) AS BIGINT)) AS q
         |  FROM embeddings),
         |vd AS (SELECT vec_id, generate_subscripts(q,1)-1 AS d,
         |              unnest(q) + 1048576 AS x FROM v),
         |seeds AS (SELECT vec_id,
         |            row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell_id
         |          FROM v QUALIFY cell_id < $k1),
         |c0 AS (SELECT s.cell_id, vd.d, vd.x AS c FROM vd JOIN seeds s USING (vec_id)),
         |a1 AS (SELECT vec_id, cell_id FROM (
         |    SELECT vd.vec_id, c0.cell_id,
         |           row_number() OVER (PARTITION BY vd.vec_id
         |             ORDER BY sum((vd.x - c0.c)*(vd.x - c0.c)), c0.cell_id) AS rn
         |    FROM vd JOIN c0 USING (d)
         |    GROUP BY vd.vec_id, c0.cell_id QUALIFY rn = 1)),
         |c1 AS (SELECT a1.cell_id, vd.d,
         |              CAST(CAST(sum(vd.x) AS BIGINT) // count(*) AS BIGINT) AS c
         |       FROM vd JOIN a1 USING (vec_id) GROUP BY 1,2),
         |a2 AS (SELECT vec_id, cell_id FROM (
         |    SELECT vd.vec_id, c1.cell_id,
         |           row_number() OVER (PARTITION BY vd.vec_id
         |             ORDER BY sum((vd.x - c1.c)*(vd.x - c1.c)), c1.cell_id) AS rn
         |    FROM vd JOIN c1 USING (d)
         |    GROUP BY vd.vec_id, c1.cell_id QUALIFY rn = 1)),
         |hseeds AS (SELECT vec_id, cell_id AS g,
         |             row_number() OVER (PARTITION BY cell_id
         |               ORDER BY md5(CAST(vec_id AS VARCHAR) || 'h'), vec_id) - 1 AS code
         |           FROM a2 QUALIFY code < $k2),
         |hc0 AS (SELECT hs.g, hs.code, vd.d, vd.x AS c
         |        FROM vd JOIN hseeds hs USING (vec_id)),
         |ha1 AS (SELECT vec_id, code FROM (
         |    SELECT vd.vec_id, hc0.code,
         |           row_number() OVER (PARTITION BY vd.vec_id
         |             ORDER BY sum((vd.x - hc0.c)*(vd.x - hc0.c)), hc0.code) AS rn
         |    FROM vd JOIN a2 USING (vec_id)
         |    JOIN hc0 ON hc0.g = a2.cell_id AND hc0.d = vd.d
         |    GROUP BY vd.vec_id, hc0.code QUALIFY rn = 1)),
         |hc1 AS (SELECT a2.cell_id AS g, ha1.code, vd.d,
         |              CAST(CAST(sum(vd.x) AS BIGINT) // count(*) AS BIGINT) AS c
         |        FROM vd JOIN ha1 USING (vec_id) JOIN a2 USING (vec_id)
         |        GROUP BY 1, 2, vd.d),
         |ha2 AS (SELECT vec_id, code FROM (
         |    SELECT vd.vec_id, hc1.code,
         |           row_number() OVER (PARTITION BY vd.vec_id
         |             ORDER BY sum((vd.x - hc1.c)*(vd.x - hc1.c)), hc1.code) AS rn
         |    FROM vd JOIN a2 USING (vec_id)
         |    JOIN hc1 ON hc1.g = a2.cell_id AND hc1.d = vd.d
         |    GROUP BY vd.vec_id, hc1.code QUALIFY rn = 1)),
         |hcells AS (SELECT a2.vec_id, a2.cell_id * $k2 + ha2.code AS cell_id
         |           FROM a2 JOIN ha2 USING (vec_id)),
         |qn AS ($quantizedSql),
         |m AS (SELECT hcells.vec_id, hcells.cell_id, qn.q, qn.nq
         |      FROM hcells JOIN qn USING (vec_id)),
         |dup AS (SELECT DISTINCT b.vec_id
         |        FROM m a JOIN m b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
         |        WHERE CAST(list_sum(list_transform(list_zip(a.q, b.q), x -> x[1]*x[2])) AS DOUBLE)
         |              / sqrt(CAST(a.nq AS DOUBLE) * CAST(b.nq AS DOUBLE)) >= 0.35)
         |SELECT m.cell_id, count(*) AS n,
         |       CAST(count(*) FILTER (WHERE dup.vec_id IS NOT NULL) AS BIGINT) AS n_dropped,
         |       CAST(count(*) FILTER (WHERE dup.vec_id IS NULL) AS BIGINT) AS n_kept,
         |       CAST($k2 AS BIGINT) AS k_hier
         |FROM m LEFT JOIN dup ON m.vec_id = dup.vec_id
         |GROUP BY 1""".stripMargin
  }
}
