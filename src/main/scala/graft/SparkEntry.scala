package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.functions.{DataQuality, Dedup, Similarity, TextAnalysis}
import graft.operators.{Relational, ReportUpsert, SpendingReport, Temporal}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` has a matching ANSI-SQL oracle in
  * `oracleSql` (runnable by DuckDB over the same parquet tables, named
  * bare: events/lineitem/...). Column names are aligned between the
  * Spark plan and the SQL because the driver's compare sorts columns by
  * name before hashing.
  *
  * The transactions view used by the spending-report queries (the
  * reference's upload-summary analog, SURVEY.md §7.1) is, in SQL:
  *   SELECT cast(ts AS date) txn_date, event_type category,
  *          'u' || user_id vendor, value amount FROM events
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full reference pipeline: fold → report → enrichment stub. */
  def entry(spark: SparkSession): DataFrame =
    SpendingReport.enriched(Tables.transactions(spark, "/root/testdata/sf0.001"))

  private def tx(s: SparkSession, dir: String): DataFrame = Tables.transactions(s, dir)

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

  /** DEMO/DIAGNOSTIC-TIER queries: kept on the board as
    * oracle-portability or measurement vehicles, but excluded from
    * scale-up runs and capacity planning because their cost is not a
    * serving cost:
    *  - `q_simhash_neardup`: the 16-bit demo bands into only 16
    *    buckets/band, so its self-join tends toward N²/16 candidates
    *    as the corpus grows — the production sibling is
    *    `q_simhash64_neardup`;
    *  - `q_ann_recall`: the brute-force query×corpus ground truth plus
    *    all 9 method pipelines is the POINT of the diagnostic — its
    *    cost grows with every method added and linearly with the
    *    corpus; recall regressions fail BOTH gates: cross-scale
    *    recall_ok/rerank_ok flags are oracle-hashed by the driver, and
    *    the tighter per-corpus floors stay pinned in FunctionsSpec;
    *  - `q_candidate_stats`: runs all four blocking families under
    *    their caps on purpose (the feasibility artifact) — cost IS its
    *    job;
    *  - `q_semdedup`: pins k=8 clusters for the DuckDB replay, so its
    *    within-cell self-join is ~N²/8 at fixed k — the scalable form
    *    grows k with the corpus (see `Similarity.semDedup` scaladoc),
    *    exactly like `autoLshBits` vs the pinned demo bits;
    *  - `q_embedding_neardup_lsh`: pins 4 hyperplane bits (16 buckets)
    *    for the oracle, so bucket occupancy — and the per-bucket
    *    self-join — grows with the corpus (measured n²/2^bits at 10×);
    *    the scale path is `q_embedding_neardup_lsh_auto`
    *    (occupancy-constant `autoLshBits`), which stays on the
    *    scale-up board.
    * Scale-up runs exclude this set mechanically; `Bench` honors
    * SPARK_GRAFT_SKIP_DEMO=1. */
  val demo: Set[String] =
    Set("q_simhash_neardup", "q_ann_recall", "q_ann_frontier",
      "q_candidate_stats", "q_semdedup", "q_embedding_neardup_lsh")

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

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- spending report core (SURVEY §2.4-§2.6) ---
    "q_global_summary" -> ((s, d) => SpendingReport.globalSummary(tx(s, d))),
    "q_category_totals" -> ((s, d) => SpendingReport.keyTotals(tx(s, d), "category")),
    "q_vendor_totals" -> ((s, d) => SpendingReport.keyTotals(tx(s, d), "vendor")),
    "q_distinct_categories" -> ((s, d) => SpendingReport.distinctKeys(tx(s, d), "category")),
    "q_unique_sets" -> ((s, d) => SpendingReport.uniqueKeySetsDigest(tx(s, d))),
    "q_mean_category" -> ((s, d) => SpendingReport.zeroImputedMean(tx(s, d), "category")),
    "q_mean_vendor" -> ((s, d) => SpendingReport.zeroImputedMean(tx(s, d), "vendor")),
    "q_pct_change_category" -> ((s, d) => SpendingReport.pctChangeLatest(tx(s, d), "category")),
    "q_pct_change_vendor" -> ((s, d) => SpendingReport.pctChangeLatest(tx(s, d), "vendor")),
    "q_top5_vendors_asc" -> ((s, d) => SpendingReport.top5Asc(tx(s, d), "vendor")),
    "q_dates_catalog" -> ((s, d) =>
      tx(s, d).select(org.apache.spark.sql.functions.col("txn_date").as("begin_date"),
                      org.apache.spark.sql.functions.col("txn_date").as("end_date")).distinct()),
    // --- relational coverage (SURVEY §2.1-§2.3, §2.6-§2.7) ---
    "q_revenue_by_order" -> ((s, d) =>
      Relational.revenueByOrder(Tables.lineitem(s, d), "1996-01-01", "1997-01-01")),
    "q_revenue_type_supplier" -> ((s, d) =>
      Relational.revenueByTypeAndSupplier(Tables.lineitem(s, d), Tables.part(s, d), Tables.supplier(s, d))),
    // deterministic salted fact-fact join (skew mechanism); result is
    // oracle-gated to EQUAL the plain join's
    "q_salted_join" -> ((s, d) =>
      Relational.revenueByPrioritySalted(Tables.lineitem(s, d), Tables.orders(s, d))),
    "q_customers_by_region" -> ((s, d) =>
      Relational.customersByRegion(Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d))),
    "q_semi_orders_big_items" -> ((s, d) =>
      Relational.ordersWithBigItems(Tables.orders(s, d), Tables.lineitem(s, d), 45.0)),
    "q_anti_orders_no_items" -> ((s, d) =>
      Relational.ordersWithoutItems(Tables.orders(s, d), Tables.lineitem(s, d))),
    "q_top10_orders" -> ((s, d) => Relational.topOrdersByPrice(Tables.orders(s, d), 10)),
    "q_top3_orders_per_customer" -> ((s, d) => Relational.topOrdersPerCustomer(Tables.orders(s, d), 3)),
    // ranking-window family beyond row_number: quartile + dense rank
    // per priority (deterministic tie-breaks; one shuffle on the
    // partition key)
    "q_order_quartiles" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      val wd = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_orderstatus").asc)
      Tables.orders(s, d)
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("status_rank", dense_rank().over(wd).cast("long"))
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          col("quartile"), col("status_rank"))
    }),
    "q_rollup_lineitem" -> ((s, d) => Relational.rollupQtyByFlagStatus(Tables.lineitem(s, d))),
    "q_union_nationkeys" -> ((s, d) =>
      Relational.activeNationKeys(Tables.supplier(s, d), Tables.customer(s, d))),
    "q_setops_nationkeys" -> ((s, d) =>
      Relational.nationKeySetOps(Tables.supplier(s, d), Tables.customer(s, d))),
    // exact-moment dispersion stats: decimal sums of x and x² are
    // order-independent, and the double arithmetic on them is a fixed
    // operand-order formula — so variance/stddev hash-match across
    // engines (naive FP aggregation would not)
    "q_spend_stats" -> ((s, d) => {
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
    }),
    "q_order_point_lookup" -> ((s, d) => Relational.orderPointLookup(Tables.orders(s, d))),
    // --- upsert / reports surface (SURVEY §2.1 S3-S6, §2.3 J1, §2.2 P5) ---
    "q_upsert_merge" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, dayofmonth}
      val t = tx(s, d)
      val v1 = ReportUpsert.dailyReports(
        t.filter(dayofmonth(col("txn_date")) <= 15 || col("category") =!= "error"), "v1")
      val v2 = ReportUpsert.dailyReports(t, "v2")
      ReportUpsert.merge(v1, v2)
    }),
    "q_report_by_range" -> ((s, d) =>
      ReportUpsert.dailyReports(tx(s, d), "v1")
        .orderBy(org.apache.spark.sql.functions.col("begin_date")).limit(1)),
    // --- text analysis (training-data pipeline ops) ---
    "q_token_stats" -> ((s, d) => TextAnalysis.tokenStats(Tables.documents(s, d))),
    "q_quality_score" -> ((s, d) => TextAnalysis.qualityScore(Tables.documents(s, d))),
    // per-source percentile calibration of the composite quality score
    "q_quality_calibrated" -> ((s, d) =>
      TextAnalysis.calibratedQuality(Tables.documents(s, d))),
    "q_language_id" -> ((s, d) => TextAnalysis.languageId(Tables.documents(s, d))),
    "q_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(Tables.documents(s, d))),
    "q_top_terms" -> ((s, d) => TextAnalysis.topTerms(Tables.documents(s, d), 3)),
    // keyword extraction: top-3 per doc by tf·idf (integer idf
    // surrogate scale div df — same discipline as q_doc_rarity)
    "q_tfidf_keywords" -> ((s, d) =>
      TextAnalysis.tfidfKeywords(Tables.documents(s, d), 3)),
    "q_doc_rarity" -> ((s, d) => TextAnalysis.docRarity(Tables.documents(s, d))),
    // --- dedup ---
    "q_exact_dedup_docs" -> ((s, d) => Dedup.exactDedupDocs(Tables.documents(s, d))),
    "q_exact_dup_events" -> ((s, d) => Dedup.exactDupEvents(Tables.events(s, d))),
    "q_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccardPairsInverted(Tables.documents(s, d), 3, 0.5)),
    "q_ngram_containment" -> ((s, d) => Dedup.ngramContainmentPairs(Tables.documents(s, d), 3, 0.6)),
    "q_source_overlap" -> ((s, d) => Dedup.sourceOverlap(Tables.documents(s, d))),
    "q_minhash_lsh" -> ((s, d) => Dedup.minhashLshPairs(Tables.documents(s, d), 3, 8, 4, 0.5)),
    "q_simhash16" -> ((s, d) => Dedup.simhash16(Tables.documents(s, d))),
    // benchmark decontamination: docs with doc_id % 50 == 0 stand in
    // for a held-out eval set; every other doc reports its shared
    // distinct-3-gram count against that set + the contamination flag
    "q_decontaminate" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), 3, 5L)
    }),
    // repetition/boilerplate quality filters (C4/Gopher-style
    // duplicate-n-gram + most-common-token heuristics)
    "q_repetition" -> ((s, d) => TextAnalysis.repetitionStats(Tables.documents(s, d))),
    // corpus-hygiene funnel: per-doc keep / first-failing-rule over
    // length, language allowlist, repetition, and quality thresholds
    "q_corpus_filter" -> ((s, d) => TextAnalysis.corpusFilter(Tables.documents(s, d))),
    // per-stage attrition of the same cascade: where does the data die
    "q_filter_attrition" -> ((s, d) => TextAnalysis.filterAttrition(Tables.documents(s, d))),
    // exact-substring dedup diagnostic: per-doc token positions covered
    // by 5-grams shared with other docs (merged spans, true union)
    "q_dup_spans" -> ((s, d) => Dedup.duplicatedSpans(Tables.documents(s, d), 5)),
    // the APPLY to the q_dup_spans diagnostic: removes the covered
    // spans and hash-certifies the rebuilt text; removed_tokens
    // reconciles with q_dup_spans.covered_tokens per doc (spec-pinned)
    "q_dup_spans_apply" -> ((s, d) =>
      Dedup.duplicatedSpansApply(Tables.documents(s, d), 5)),
    // per-source governance rollup of the span APPLY (one aggregation
    // over the same per-doc frame — no second corpus scan)
    "q_dup_spans_savings" -> ((s, d) =>
      Dedup.duplicatedSpansAttrition(Tables.documents(s, d), 5)),
    // temporal 5-gram novelty per doc (first occurrence by arrival order)
    "q_ngram_novelty" -> ((s, d) => Dedup.gramNovelty(Tables.documents(s, d), 5)),
    // sequence-length distribution for packing/max-seq-len tuning
    "q_token_histogram" -> ((s, d) =>
      TextAnalysis.tokenLengthHistogram(Tables.documents(s, d))),
    // bigram collocation mining: top-50 by lift (log-free PMI; one
    // fixed-order IEEE double expression, bit-identical both engines)
    "q_collocations" -> ((s, d) =>
      TextAnalysis.collocations(Tables.documents(s, d))),
    // incremental ingestion dedup: the doc_id % 5 "new batch" against
    // the doc_id % 3 "already-ingested corpus" (text overlap at
    // multiples of 15); bloom prefilter + exact broadcast verify, the
    // corpus never shuffles
    "q_incremental_dedup" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      Dedup.incrementalDedup(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 5 === 0))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),
    // pre-training segmentation: 64-token sliding windows, 16-token
    // overlap; chunk text emitted as md5 so the gate hashes content
    "q_chunking" -> ((s, d) => TextAnalysis.chunkDocs(Tables.documents(s, d), 64, 16)),
    // PII redaction hygiene pass (emails/IPs/phones -> placeholders;
    // identical regex subset in both engines)
    "q_redact_pii" -> ((s, d) => TextAnalysis.redactPii(Tables.documents(s, d))),
    // context-window packing audit: per-language greedy packing into
    // 512-token bins (one partitioned window + one grouped agg)
    "q_packing" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      graft.functions.Sampling.packSequences(
        Tables.documents(s, d),
        org.apache.spark.sql.functions.size(
          TextAnalysis.tokens(col("text"))).cast("long"),
        "lang", "doc_id", 512L)
    }),
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
    "q_curate_ledger" -> ((s, d) => {
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
    }),
    "q_split_counts" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      graft.functions.Sampling.withSplit(Tables.documents(s, d), "doc_id", 10, 10)
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
    }),
    // per-stratum sampling fractions (training-mix rebalancing):
    // deterministic per-key rule, per-language percentages
    "q_stratified_sample" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      graft.functions.Sampling.stratifiedSampleByFractions(
        Tables.documents(s, d), "doc_id", "lang",
        Map("en" -> 50, "es" -> 20, "fr" -> 10))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("bigint").as("sum_chars"))
    }),
    // exact-k deterministic sample: 50 lowest md5(doc_id) rows via
    // TakeOrderedAndProject (zero full shuffles at any scale)
    "q_bottomk_sample" -> ((s, d) =>
      graft.functions.Sampling.bottomK(Tables.documents(s, d), "doc_id", 50)
        .select("doc_id", "lang", "n_chars")),
    // balanced eval carve-out: exactly 20 docs per language by the
    // same per-key rule (one stratum-keyed rank window)
    "q_eval_sample" -> ((s, d) =>
      graft.functions.Sampling.bottomKPerStratum(
        Tables.documents(s, d), "doc_id", "lang", 20)
        .select("doc_id", "lang", "n_chars")),
    // INCREMENTAL connected components via the merge law (r14): the
    // dup-pair graph splits into a "first ingest" slice (both
    // endpoints even ids) and "the rest" (the later batch's internal +
    // cross edges); each slice gets its own fixpoint and
    // Dedup.mergeComponents contracts them — the output labeling must
    // hash-equal the ONE-SHOT closure over all edges (the oracle), so
    // the law that makes batch-incremental cluster maintenance legal
    // at 100 TB is driver-gated on real corpus data, not just
    // spec-planted graphs. Rides the suite-shared dupPairs memo.
    "q_cc_incremental" -> ((s, d) => {
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
    }),
    "q_dedup_corpus" -> ((s, d) =>
      Dedup.dedupCorpus(Tables.documents(s, d), 3, 8, 4, 0.5)
        .select(org.apache.spark.sql.functions.col("doc_id"),
                org.apache.spark.sql.functions.col("n_chars"))),
    // dup-graph BFS: hop distance from each clustered doc to its
    // component's surviving representative (rides the same memoized
    // pair graph + CC fixpoint)
    "q_dup_hops" -> ((s, d) =>
      Dedup.dupClusterHops(Tables.documents(s, d), 3, 8, 4, 0.5)),
    // dedup governance ledger: per-source docs/chars in vs kept after
    // the APPLY step — rides the same memoized pair graph + CC
    "q_dedup_savings" -> ((s, d) =>
      Dedup.dedupAttrition(Tables.documents(s, d), 3, 8, 4, 0.5, "source")),
    // cross-modal governance ledger: union-closure attrition decomposed
    // by channel (text-only / payload-only / cross-channel losers are a
    // disjoint partition — single-channel components nest in the union
    // component, so their min labels only decrease); rides the memoized
    // text-CC, payload-CC and xcc fixpoints
    "q_crossmodal_savings" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.multimodal.Multimodal.crossModalSavings(
        docs, graft.multimodal.Multimodal.fromDocuments(docs), 3, 8, 4, 0.5)
    }),
    // quality-aware survivor rule: per cluster keep the LONGEST copy
    // (ties -> lowest id) instead of the minimum id
    "q_dedup_corpus_by" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Dedup.dedupCorpusBy(Tables.documents(s, d), 3, 8, 4, 0.5,
        col("n_chars")).select(col("doc_id"), col("n_chars"))
    }),
    // leakage-safe train/val/test split: buckets assigned per
    // duplicate CLUSTER (md5 of the CC label), so no exact/near-dup
    // pair straddles train and eval; shares the memoized CC fixpoint
    "q_leakage_split" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Dedup.withClusterSplit(Tables.documents(s, d), 3, 8, 4, 0.5, 10, 10)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
             countDistinct(col("cluster_label")).as("n_clusters"),
             sum(col("n_chars")).as("sum_chars"))
    }),
    // entity resolution: fuzzy vendor variants within edit distance 1
    // (length-band blocked, exact levenshtein verify)
    "q_fuzzy_vendors" -> ((s, d) =>
      Dedup.editDistancePairs(tx(s, d), "vendor", 1)),
    // snapshot diff between the %3 "old" and %5 "new" corpus versions:
    // per-digest added/removed/kept with occurrence counts
    "q_corpus_diff" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      Dedup.corpusDiff(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 5 === 0))
    }),
    "q_simhash64" -> ((s, d) => Dedup.simhash64(Tables.documents(s, d))),
    // banded simhash near-dup join: pigeonhole banding guarantees every
    // pair within the Hamming budget, so the result EQUALS the oracle's
    // brute-force all-pairs scan — the rare case where the scalable
    // plan is oracle-exact by construction.
    "q_simhash_neardup" -> ((s, d) => Dedup.simhash16NearDupPairs(Tables.documents(s, d))),
    // production-width 64-bit banded near-dup (4×16-bit bands, 65k
    // buckets/band — the shape that holds at scale, where 16-bit
    // banding's 16 buckets/band makes candidate lists fat by
    // construction). Rows-only: DuckDB lacks xxhash64; the band==brute
    // equivalence is spec-pinned on the corpus instead, and the
    // oracle-exact 16-bit sibling above gates the shared banding logic.
    "q_simhash64_neardup" -> ((s, d) => Dedup.simhash64NearDupPairs(Tables.documents(s, d))),
    // the billion-doc simhash blocking (Manku 8-choose-5 combination
    // tables): same verified pairs, ~2^-40 collision floor
    "q_simhash64_wide" -> ((s, d) => Dedup.simhash64NearDupPairsWide(Tables.documents(s, d))),
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
    "q_simhash_probe" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val sig = Dedup.simhash64(Tables.documents(s, d))
      Dedup.simhashProbeSigs(
        sig.filter(col("doc_id") % 10 =!= 0),
        sig.filter(col("doc_id") % 10 === 0))
    }),
    // candidate-generation growth diagnostics as a gated artifact:
    // pre-verify candidate-pair counts per blocking family under the
    // production auto caps — the numbers a 100 TB feasibility call
    // reads (hash-gated: DuckDB replays every blocking + cap)
    "q_candidate_stats" -> ((s, d) =>
      Dedup.candidateDiagnostics(Tables.documents(s, d), 3, 8, 4)),
    // --- similarity search ---
    // memoized: shares the one brute-force corpus scan with
    // q_ann_recall's ground-truth side (whichever runs first trains it)
    "q_ann_topk" -> ((s, d) =>
      Similarity.bruteForceTopKMemo(Tables.embeddings(s, d),
        org.apache.spark.sql.functions.col("vec_id") % 100 === 0, 10)),
    // greedy λ=1/2 MMR over each query's brute-force top-20 pool
    "q_mmr_rerank" -> ((s, d) =>
      Similarity.mmrRerank(Tables.embeddings(s, d),
        org.apache.spark.sql.functions.col("vec_id") % 100 === 0, 20, 5)),
    "q_embedding_neardup" -> ((s, d) => Similarity.nearDupPairs(Tables.embeddings(s, d), 0.4)),
    // unlabeled near-dup via LSH blocking — oracle-gated since the
    // hyperplanes went md5-portable (DuckDB reproduces the buckets);
    // the precision-1.0 verify remains spec-proven
    "q_embedding_neardup_lsh" -> ((s, d) =>
      Similarity.nearDupPairsLsh(Tables.embeddings(s, d), 0.4, 4, 4)),
    // the SCALE-PATH sibling: bits auto-sized from the measured corpus
    // (autoLshBits keeps bucket occupancy ~constant, so candidates
    // grow linearly where the pinned 4-bit demo's grow n²/16). The
    // oracle derives the same bits from COUNT(*) via the identical
    // integer threshold chain (r15) — cardinality-robust at every
    // scale factor and across driver testdata regens.
    "q_embedding_neardup_lsh_auto" -> ((s, d) =>
      Similarity.nearDupPairsLsh(Tables.embeddings(s, d), 0.4, 0, 4)),
    "q_lsh_topk" -> ((s, d) =>
      Similarity.lshTopK(Tables.embeddings(s, d),
        org.apache.spark.sql.functions.col("vec_id") % 100 === 0, 10, 4)),
    "q_lsh_topk_multi" -> ((s, d) =>
      Similarity.lshTopKMulti(Tables.embeddings(s, d),
        org.apache.spark.sql.functions.col("vec_id") % 100 === 0, 10, 4, 4)),
    "q_ivf_topk" -> ((s, d) =>
      Similarity.ivfTopK(Tables.embeddings(s, d),
        org.apache.spark.sql.functions.col("vec_id") % 100 === 0, 10, 16, 4)),
    // hybrid retrieval: reciprocal-rank fusion of the LSH and IVF
    // top-10 lists (rank-based — no cross-method score calibration)
    "q_rrf_fusion" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val probe = org.apache.spark.sql.functions.col("vec_id") % 100 === 0
      Similarity.rrfFuse(
        Similarity.lshTopK(emb, probe, 10, 4),
        Similarity.ivfTopK(emb, probe, 10, 16, 4), 10)
    }),
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
    "q_ann_recall" -> ((s, d) => {
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
    }),
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
    "q_ann_frontier" -> ((s, d) => {
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
    }),
    // the EXECUTABLE form of the frontier (r18, VERDICT #6): dispatch
    // to the cheapest rung whose CERTIFIED floor meets the requested
    // recall. Floors chosen so the winner is scale-INVARIANT and
    // provable from the cost trees (>=400: ivf beats sq8/sq8_rerank at
    // any n since q*16+4q*max(1,n/16) < 64qn; >=700: sq8 beats its own
    // rerank by the +50q term) — but the ORACLE does not hardcode the
    // choice: it recomputes all 17 costs from COUNT(*) (the frontier
    // CTE), derives the argmin under the same tie-break, and only
    // produces rows when that derived winner equals the engine's (the
    // join against the winner CTE) — a drifted policy yields zero rows
    // and a red gate, replaying the CHOICE itself at every SF.
    "q_ann_serve" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Similarity.annServe(Tables.embeddings(s, d),
        col("vec_id") % 100 === 0, graft.functions.AnnPolicy.k, 400L)
    }),
    "q_ann_serve_tight" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Similarity.annServe(Tables.embeddings(s, d),
        col("vec_id") % 100 === 0, graft.functions.AnnPolicy.k, 700L)
    }),
    // --- multimodal plumbing ---
    "q_multimodal_meta" -> ((s, d) =>
      graft.multimodal.Multimodal.mediaMeta(
        graft.multimodal.Multimodal.fromDocuments(Tables.documents(s, d)))),
    // content-level dedup for binary payloads: 64-bit window-SimHash
    // fingerprint computed in the batched decoder, banded Hamming
    // join (recall 1.0 ⟹ blocking-independent), exact-bytes flag
    "q_multimodal_dedup" -> ((s, d) =>
      graft.multimodal.Multimodal.fingerprintDedup(
        graft.multimodal.Multimodal.fromDocuments(Tables.documents(s, d)))),
    // perceptual-hash media near-dup over STRUCTURED synthetic
    // payloads (Synthetic.mediaPayloads: concentrated md5-palette
    // byte profiles — the non-degenerate aHash input the text-derived
    // demo bytes cannot be): banded Hamming join over the 64-bit
    // histogram hash; the oracle replays the histogram ALGEBRAICALLY
    // from the palette counts, then brute-forces all pairs
    "q_media_phash" -> ((s, d) =>
      graft.multimodal.Multimodal.mediaNearDupPairs(
        graft.sources.Synthetic.mediaPayloads(Tables.documents(s, d)), 3)),
    // perceptual hash over REAL DECODED PIXELS: deterministic binary
    // PPM payloads genuinely parsed back by PpmDecoder (header,
    // comments, bounds — a real format parse, not the byte-histogram
    // stub), 8x8 block aHash on the integer lumas, banded Hamming
    // join. The oracle replays the pixels algebraically from the
    // generator's md5 definition, so a one-byte parse error fails the
    // gate.
    "q_media_phash_px" -> ((s, d) =>
      graft.multimodal.Multimodal.mediaNearDupPairsPixels(
        graft.sources.Synthetic.ppmPayloads(Tables.documents(s, d)), 3)),
    // per-frame video dedup: videos sharing >= 2 distinct sampled
    // frame contents, via a df-capped frame-digest inverted index.
    // The df cap (autoDocFreqCap(n), floor 1000) is ENGINE-side only:
    // it never binds at the gated scales, so the uncapped DuckDB
    // replay matches exactly; at scales where it starts binding the
    // engine deliberately drops hotter-than-√n frame digests (with a
    // runtime warn) and would diverge from this uncapped oracle.
    "q_multimodal_frame_dup" -> ((s, d) =>
      graft.multimodal.Multimodal.frameDedupPairs(
        graft.multimodal.Multimodal.fromDocuments(Tables.documents(s, d)))),
    // ONE duplicate graph across BOTH channels: text (exact + minhash)
    // edges unioned with payload-fingerprint edges, one CC, min-id
    // survivors — dup chains may cross channels
    "q_crossmodal_dedup" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      graft.multimodal.Multimodal.crossModalDedup(
          docs, graft.multimodal.Multimodal.fromDocuments(docs), 3, 8, 4, 0.5)
        .select(col("doc_id"), col("n_chars"))
    }),
    // --- JSON VARIANT roundtrip (F6/F7/P6: to_json -> get_json_object) ---
    "q_json_roundtrip" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      ReportUpsert.dailyReports(tx(s, d), "v")
        .withColumn("details", to_json(struct(col("total_spent"), col("total_transactions"))))
        .select(col("begin_date"),
          get_json_object(col("details"), "$.total_spent").cast("double").as("total_spent"),
          get_json_object(col("details"), "$.total_transactions").cast("long").as("total_transactions"))
    }),
    // --- true VARIANT path (Spark 4 VariantType — the literal analog
    // of the reference's Snowflake VARIANT details column,
    // README.md:44-52): build details JSON, parse_json -> VARIANT,
    // variant_get typed extraction. Output is scalar-only so the
    // DuckDB oracle gates it (same values as q_json_roundtrip). ---
    "q_variant_extract" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      ReportUpsert.dailyReports(tx(s, d), "v")
        .withColumn("details",
          parse_json(to_json(struct(col("total_spent"), col("total_transactions")))))
        .select(col("begin_date"),
          variant_get(col("details"), "$.total_spent", "double").as("total_spent"),
          variant_get(col("details"), "$.total_transactions", "bigint").as("total_transactions"))
    }),
    // --- A7 at scale: HLL approximate-distinct toggle ---
    // HLL++ sketch promoted from rows-only to a BOUNDED-ERROR gate:
    // the row carries the exact counts plus a within-bound flag
    // (|approx-exact| <= 10% of exact — 5× the sketch's 2% rsd; the
    // sketch is deterministic per dataset, so the flag is stable), and
    // the oracle computes the exact counts with literal-1 flags — the
    // hash matches iff the sketch honors its documented bound.
    "q_approx_distinct" -> ((s, d) => {
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
    }),
    // sketch ALGEBRA: per-day HLL sketches unioned into monthly
    // distinct-user counts — est_ok bounds the merged estimate,
    // merge_ok pins union-of-sketches ≡ sketch-of-union (the law that
    // licenses precomputing slice sketches at ingest)
    "q_hll_merge" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      graft.functions.Sketches.mergedDistinct(Tables.events(s, d),
        to_date(col("ts")), trunc(col("ts"), "month"), col("user_id"))
    }),
    // Count-Min frequency sketch: per-type exact counts + the two CMS
    // laws as flags (never undercounts; overcount within 2·eps·N).
    // The probe key set is the event-type DICTIONARY (5 values) — the
    // regime CMS serves; fixed seed makes the flags deterministic
    "q_cms_freq" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      graft.functions.Sketches.cmsFrequencies(Tables.events(s, d),
        col("event_type"))
    }),
    // KLL quantile-sketch merge: per-day sketches of l_extendedprice
    // merged per month; flags check the returned quantiles' EXACT
    // ranks against the probe probabilities (the published guarantee)
    "q_kll_merge" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      graft.functions.Sketches.mergedQuantiles(Tables.lineitem(s, d),
        to_date(col("l_shipdate")), trunc(col("l_shipdate"), "month"),
        col("l_extendedprice"), Seq(0.5, 0.9))
    }),
    // theta-sketch SET ops: audience overlap/union/difference between
    // the purchase and view audiences — intersection is what HLL
    // cannot merge; exact counts gate, estimate flags bound
    "q_theta_setops" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      graft.functions.Sketches.thetaSetOps(Tables.events(s, d),
        col("user_id"),
        col("event_type") === "purchase", col("event_type") === "view")
    }),
    // --- SQL entry surface (correlated subquery, CASE agg, LIKE) ---
    "q_above_nation_avg" -> ((s, d) =>
      Relational.sql(s, d, Relational.aboveNationAvgSql, Seq("customer"))),
    "q_case_agg" -> ((s, d) =>
      Relational.sql(s, d, Relational.caseAggSql, Seq("orders"))),
    "q_like_filter" -> ((s, d) =>
      Relational.sql(s, d, Relational.likeFilterSql, Seq("part"))),
    // --- temporal operators (as-of join, sessions, frames, cube) ---
    "q_asof_join" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, d)
      val left = ev.filter(col("event_id") % 10 === 0)
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("pvalue"))
      Temporal.asOfJoin(left, purchases, "user_id", "ts", "ts", "pvalue")
    }),
    "q_asof_join_forward" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, d)
      val left = ev.filter(col("event_id") % 10 === 0)
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("pvalue"))
      Temporal.asOfJoinForward(left, purchases, "user_id", "ts", "ts", "pvalue")
    }),
    "q_sessions" -> ((s, d) =>
      Temporal.sessionStats(Tables.events(s, d), "user_id", "ts", "value", 30)),
    // weekly cohort retention matrix over events (single user-keyed
    // shuffle; cohort sizes are the offset-0 cells broadcast back)
    "q_retention_cohorts" -> ((s, d) =>
      Temporal.retentionCohorts(Tables.events(s, d))),
    // strict-sequencing conversion funnel (chained running-min windows
    // over ONE user-keyed sort; steps add no exchange)
    "q_funnel" -> ((s, d) =>
      Temporal.funnel(Tables.events(s, d), Seq("view", "click", "purchase"))),
    "q_running_spend" -> ((s, d) => Temporal.runningDailySpend(tx(s, d))),
    "q_moving_spend" -> ((s, d) => Temporal.movingDailySpend(tx(s, d), 3)),
    "q_cube_spend" -> ((s, d) => Temporal.cubeSpend(tx(s, d))),
    "q_grouping_sets" -> ((s, d) => Temporal.groupingSetsSpend(tx(s, d))),
    "q_range_join" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, d)
      val intervals = ev.groupBy(col("user_id").as("ival_id"))
        .agg(min(col("ts")).as("ival_start"))
        .withColumn("ival_end", expr("ival_start + INTERVAL 1 DAY"))
      Temporal.countPointsInIntervals(ev, "ts", intervals, 2)
    }),
    "q_profile" -> ((s, d) =>
      graft.functions.Profiler.profile(Tables.lineitem(s, d),
        Seq("l_orderkey", "l_quantity", "l_shipdate", "l_returnflag"))),
    // --- exact percentiles (A-extension) + heavy-hitters sketch ---
    "q_percentiles" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      tx(s, d).groupBy(col("category"))
        .agg(expr("percentile(amount, 0.25)").as("q25"),
             expr("percentile(amount, 0.5)").as("q50"),
             expr("percentile(amount, 0.75)").as("q75"),
             count(lit(1)).as("n"))
    }),
    // outlier-robust per-category mean over the [p05,p95] band (exact
    // interpolated bounds broadcast back; decimal-space kept-range sum)
    "q_trimmed_mean" -> ((s, d) =>
      SpendingReport.trimmedMean(tx(s, d))),
    // robust spread: median absolute deviation per category
    "q_mad" -> ((s, d) => SpendingReport.madByKey(tx(s, d))),
    // SCD Type-2 dimension versioning: per-user daily-last value ->
    // validity episodes with change suppression
    "q_scd2_users" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Tables.events(s, d)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(max_by(col("value"), col("ts")).as("value"))
      Relational.scd2(daily, "user_id", "day", "value")
    }),
    // same exact percentiles through the engine's own
    // TypedImperativeAggregate (custom partial/merge/eval lifecycle,
    // Spark-interpolation-identical) — gated by the SAME DuckDB
    // quantile_cont oracle as the built-in form above, plus a
    // merge-under-repartition ScalaCheck property.
    "q_percentiles_custom" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      tx(s, d).groupBy(col("category"))
        .agg(graft.plans.ExactPercentiles.exact_percentiles(
               col("amount").cast("double"), Seq(0.25, 0.5, 0.75)).as("qs"),
             count(lit(1)).as("n"))
        .select(col("category"), col("qs").getItem(0).as("q25"),
          col("qs").getItem(1).as("q50"), col("qs").getItem(2).as("q75"), col("n"))
    }),
    // KLL-style approx_percentile promoted from rows-only to a
    // BOUNDED-ERROR gate: each returned quantile v must satisfy the
    // rank guarantee |rank(v) - p·n| <= δ·n (δ = 0.005, 5× the
    // sketch's 1/accuracy = 0.001) — verified as count(< v) <=
    // (p+δ)·n AND count(<= v) >= (p-δ)·n per category. The row
    // carries (category, n, ok-flags); the oracle computes n with
    // literal-1 flags, so the hash matches iff the sketch honors its
    // documented rank bound.
    "q_approx_percentiles" -> ((s, d) => {
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
    }),
    // SpaceSaving degenerates to exact counts while the vocabulary fits
    // the sketch capacity (this corpus: ~40 distinct tokens < 64 at
    // every sf, verified max_error=0) — which makes the top-k
    // oracle-expressible; the eviction regime is covered by specs.
    "q_heavy_hitters" -> ((s, d) =>
      graft.functions.HeavyHitters.topDocTerms(Tables.documents(s, d), 64, 20)),
    "q_pivot_wide" -> ((s, d) =>
      SpendingReport.pivotWide(tx(s, d), "category",
        Seq("click", "error", "purchase", "signup", "view"))),
    "q_unpivot_long" -> ((s, d) =>
      SpendingReport.unpivotWide(
        SpendingReport.pivotWide(tx(s, d), "category",
          Seq("click", "error", "purchase", "signup", "view")),
        "category", Seq("click", "error", "purchase", "signup", "view"))),
    // calendar-month rollup (F1/F2 date family over A5): date_trunc is
    // engine-portable and the decimal sum exact
    "q_monthly_spend" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      tx(s, d).groupBy(date_trunc("month", col("txn_date")).cast("date").as("month"),
          col("category"))
        .agg(sum(col("amount").cast("decimal(14,2)")).cast("double").as("total_spent"),
             count(lit(1)).as("n"))
    }),
    // exact-moment correlation over real fact columns (decimal
    // Σx, Σy, Σxy, Σx², Σy² -> fixed-operand-order double Pearson).
    // The squared sums exceed 2^53, where direct decimal->double
    // conversion rounds DIFFERENTLY across engines (observed 1-ulp
    // divergence at sf0.001); routing decimal -> string -> double
    // forces the correctly-rounded IEEE string parse in BOTH engines,
    // making the doubles bit-identical at any magnitude.
    "q_corr_lineitem" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val x = col("l_quantity").cast("decimal(14,2)")
      val y = col("l_extendedprice").cast("decimal(18,2)")
      def d2(c: org.apache.spark.sql.Column) = c.cast("string").cast("double")
      Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(x).as("_sx"), sum(y).as("_sy"),
             sum((x * y).cast("decimal(34,4)")).as("_sxy"),
             sum((x * x).cast("decimal(30,4)")).as("_sxx"),
             sum((y * y).cast("decimal(38,4)")).as("_syy"))
        .select(col("l_returnflag"), col("n"),
          ((col("n").cast("double") * d2(col("_sxy"))
             - d2(col("_sx")) * d2(col("_sy")))
           / (sqrt(col("n").cast("double") * d2(col("_sxx"))
                - d2(col("_sx")) * d2(col("_sx")))
              * sqrt(col("n").cast("double") * d2(col("_syy"))
                - d2(col("_sy")) * d2(col("_sy"))))).as("corr_qty_price"))
    }),
    // --- sliding event-time windows (batch form of the streaming
    // windowed agg; each event lands in 2 overlapping windows) ---
    "q_sliding_window" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 day", "12 hours"), col("event_type").as("category"))
        .agg(sum(col("value").cast("decimal(14,2)")).cast("double").as("total_spent"),
             count(lit(1)).as("n"))
        .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
                col("category"), col("total_spent"), col("n"))
    }),
    // --- semi-structured extraction over the real props JSON column
    // (P6/F7 on data, the VARIANT-analog path) ---
    "q_props_extract" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Tables.events(s, d)
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("user_id"))
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"),
             max(col("k")).as("max_k"))
    }),
    // --- migration-validation checksums (Checksum.scala) — the
    // engine's own oracle philosophy as a first-class operator ---
    "q_table_checksum" -> ((s, d) =>
      graft.functions.Checksum.tableChecksum(Tables.orders(s, d), ordersChecksumCols)),
    "q_checksum_groups" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      graft.functions.Checksum.groupedChecksum(Tables.orders(s, d),
        substring(col("o_orderdate").cast("date").cast("string"), 1, 4),
        "order_year", ordersChecksumCols)
    }),
    // grouped-checksum DIFF between the table and a deterministic
    // perturbation (drop the min-orderkey row, drop the last year):
    // exercises match / mismatch / only_left in one gated result
    "q_checksum_diff" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val o = Tables.orders(s, d)
        .withColumn("order_year",
          substring(col("o_orderdate").cast("date").cast("string"), 1, 4))
      val bounds = o.agg(min(col("o_orderkey")).as("min_k"),
                         max(col("order_year")).as("max_y"))
      val right = o.join(broadcast(bounds))
        .filter(col("o_orderkey") =!= col("min_k") &&
                col("order_year") < col("max_y"))
      def grouped(df: DataFrame) =
        graft.functions.Checksum.groupedChecksum(df, col("order_year"),
          "order_year", ordersChecksumCols)
      graft.functions.Checksum
        .compareChecksums(grouped(o), grouped(right), "order_year")
    }),
    // --- corpus-health diagnostics (DataQuality.scala) ---
    "q_outliers" -> ((s, d) => DataQuality.outliers(tx(s, d), "category", "amount", 2.0)),
    // robust sibling of q_outliers: exact median + MAD via the gated
    // ExactPercentiles aggregate; per-category outlier counts at 3·MAD
    "q_mad_outliers" -> ((s, d) =>
      DataQuality.madOutliers(tx(s, d), "category", "amount", 3.0)),
    "q_drift" -> ((s, d) => DataQuality.categoricalDrift(tx(s, d), "txn_date", "category")),
    "q_dup_rate" -> ((s, d) => DataQuality.dupRate(Tables.documents(s, d), Seq("lang", "source"), "text")),
    "q_date_gaps" -> ((s, d) => DataQuality.dateGaps(tx(s, d), "txn_date", "vendor")),
    // Benford first-digit audit over exact integer cents
    "q_benford" -> ((s, d) =>
      DataQuality.benfordDigits(Tables.lineitem(s, d), "l_extendedprice")),
    // day-of-week seasonal baselines; scale-free exact multiply flag
    "q_seasonal_anomalies" -> ((s, d) =>
      DataQuality.seasonalAnomalies(tx(s, d), "vendor", "txn_date", "amount")),
    "q_rate_spikes" -> ((s, d) =>
      DataQuality.rateSpikes(Tables.events(s, d), "event_type", "ts")),
    // --- round-4 additions ---
    // batch form of the streaming dedup: drop events whose identical
    // (user, type, value) predecessor is within 2 days
    "q_event_dedup_window" -> ((s, d) =>
      Dedup.windowedEventDedup(Tables.events(s, d), 2)),
    // corpus-health: near-dup degree histogram over the banded simhash
    // pair graph (0-degree docs restored from the corpus)
    "q_dup_degree_hist" -> ((s, d) =>
      Dedup.nearDupDegreeHistogram(Tables.documents(s, d))),
    // incremental near-dup: batch (doc_id%5==0) probed against the
    // corpus index (doc_id%3==0) — candidate cost scales with the
    // batch, not the corpus; %15 overlap guarantees exact hits
    "q_minhash_probe" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      Dedup.minhashProbePairs(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 5 === 0), 3, 8, 4, 0.5)
    }),
    // the PERSISTED-index form of the probe: land the corpus's sig +
    // posting rows as `batch=<id>` parquet (the StreamingNearDupIngest
    // store layout), then probe reading the STORE — gates the on-disk
    // post/batch=* exact-verify path end-to-end. Exact verification
    // makes the result storage-independent, so it shares
    // q_minhash_probe's brute-force oracle.
    "q_minhash_probe_store" -> ((s, d) => {
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
    }),
    // graph analytics over the dup graph: triangles = tight template
    // clusters (all-pairwise near-dups), vs CC's chains
    "q_dup_triangles" -> ((s, d) =>
      Dedup.nearDupTriangles(Tables.documents(s, d))),
    // centrality over the dup graph: scaled-integer PageRank (damping
    // 0.85, 3 fixed iterations, floor division) — the "which doc is
    // the template" signal; exact-integer so DuckDB replays the whole
    // rank table from 3 unrolled CTE iterations
    "q_dup_pagerank" -> ((s, d) =>
      Dedup.dupPageRank(Tables.documents(s, d), 3, 8, 4, 0.5)),
    // the centrality survivor rule: per cluster keep the highest-
    // PageRank copy (the template), ties -> lowest id
    "q_dedup_by_rank" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Dedup.dedupCorpusByRank(Tables.documents(s, d), 3, 8, 4, 0.5)
        .select(col("doc_id"), col("n_chars"))
    }),
    // LOCF gap-fill over the dense category x calendar grid
    "q_locf_spend" -> ((s, d) => Temporal.locfDailySpend(tx(s, d))),
    // ABC/Pareto cumulative contribution, distributed prefix sums
    "q_pareto_vendors" -> ((s, d) =>
      SpendingReport.paretoContribution(tx(s, d), "vendor")),
    // metadata-filtered vector search: top-k among even-label rows only
    "q_ann_filtered" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Similarity.bruteForceTopK(Tables.embeddings(s, d),
        col("vec_id") % 100 === 0, 10, col("label") % 2 === 0)
    }),
    // filtered search over the COMPRESSED indexes (r14): the same
    // metadata predicate restricts the code-index scan before any
    // ADC distance — the trained index is shared with the unfiltered
    // siblings (search-time argument, not a training one)
    "q_ann_filtered_ivfpq" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Similarity.ivfpqTopK(Tables.embeddings(s, d),
        col("vec_id") % 100 === 0, 10, nCells = 4, nProbe = 2,
        m = 2, ksub = 4, iters = 1, candPred = Some(col("label") % 2 === 0))
    }),
    "q_ann_filtered_sq8" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Similarity.sq8TopK(Tables.embeddings(s, d),
        col("vec_id") % 100 === 0, 10, candPred = Some(col("label") % 2 === 0))
    }),
    // the HIGH-FIDELITY PQ operating point (r15, closes r14 verdict
    // #3): m=16 subspaces × 64 centroids = 96 code bits (21× raw
    // compression) — raw ADC recall 0.54 at the sf0.01 gate
    // (0.50/0.445 at sf0.001/sf0.1; half-measured floors pinned in
    // q_ann_recall), so the compressed serving story
    // has a measured >= 0.5-recall rung. Same certified-iteration
    // training chain, replayed by the oracle at the wider shape.
    "q_pq_hi" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Similarity.pqTopK(Tables.embeddings(s, d),
        col("vec_id") % 100 === 0, 10, m = 16, ksub = 64, iters = 1)
    }),
    // the SCALE path of IVFADC (the autoLshBits pattern applied to the
    // coarse quantizer): nCells <= fixed is the LSH-bits scale trap —
    // cells grow linearly with the corpus and nProbe cells approach a
    // constant FRACTION of it. nCells auto-sizes to ~sqrt(n/64)
    // (FAISS's nlist ~ sqrt(n) rule, same +-1-corrected-sqrt integer
    // contract as q_semdedup_hier — the oracle derives the SAME count
    // from COUNT(*), cardinality-robust); probed work grows ~sqrt(n).
    "q_ivfpq_auto" -> ((s, d) => {
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
    }),
    // SQ8 scalar quantization (FAISS QT_8bit shape): per-dim affine
    // 8-bit codes from ONE min/max training pass, symmetric code-space
    // squared distance — all integer, so the ranking replays exactly
    "q_sq8_topk" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Similarity.sq8TopK(Tables.embeddings(s, d),
        col("vec_id") % 100 === 0, 10)
    }),
    // SQ8 + exact re-rank: code-space 50-pool, exact quantized-cosine
    // final order (the FAISS refine step on the cheap rung)
    "q_sq8_rerank" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Similarity.sq8TopKRerank(Tables.embeddings(s, d),
        col("vec_id") % 100 === 0, 10, pool = 50)
    }),
    // IVF-SQ8 (FAISS's IVF,SQ8) at AUTO cell count: the probed scale
    // sibling of the flat q_sq8_topk scan (whose n·|Q| contract the
    // 100x table measured at exponent 1.82) — certified coarse
    // assignment, integer probe centroids derived from the final
    // membership, SQ8 code distance within probed cells only. The
    // oracle derives the same cell count from COUNT(*).
    "q_ivf_sq8_auto" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val e = Tables.embeddings(s, d)
      val c = Similarity.autoIvfCells(e.count())
      // r17: sqrt(c)-scaled probing like the other auto rungs —
      // recall 0.495 -> 0.660 at sf0.1 in the lab
      Similarity.ivfSq8TopK(e, col("vec_id") % 100 === 0, 10,
        nCells = c, nProbe = Similarity.autoIvfProbe(c), iters = 2)
        .withColumn("n_cells", lit(c.toLong))
    }),
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
    "q_ivfrq_auto" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val e = Tables.embeddings(s, d)
      val c = Similarity.autoIvfCells(e.count())
      Similarity.ivfRqTopKMulti(e, col("vec_id") % 100 === 0, graft.functions.AnnPolicy.k,
        nCells = c, nProbe = Similarity.autoIvfProbe(c),
        ks = graft.functions.AnnPolicy.ivfrqAutoKs, iters = 1)
        .withColumn("n_cells", lit(c.toLong))
    }),
    // IVF-RQ + exact re-rank: the probed additive-code pool (50)
    // refined by exact quantized cosine (the full IVF,RQ,R stack)
    "q_ivfrq_rerank" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val e = Tables.embeddings(s, d)
      val c = Similarity.autoIvfCells(e.count())
      Similarity.ivfRqTopKMultiRerank(e, col("vec_id") % 100 === 0, graft.functions.AnnPolicy.k,
        nCells = c, nProbe = Similarity.autoIvfProbe(c),
        ks = graft.functions.AnnPolicy.ivfrqAutoKs, iters = 1, pool = graft.functions.AnnPolicy.rerankPool)
    }),
    // deterministic kNN-graph (NN-descent, WWW 2011): LSH-seeded
    // per-node top-k lists refined by 2 fixed neighbor-of-neighbor
    // rounds over the undirected graph — the graph-search serving
    // index rung (HNSW/NSG class), oracle-replayable because seeds,
    // distances, tie-breaks and the round count are all deterministic
    "q_knn_graph" -> ((s, d) =>
      Similarity.knnGraph(Tables.embeddings(s, d),
        graft.functions.AnnPolicy.kGraph, graft.functions.AnnPolicy.graphRounds)),
    // the SERVING read of the graph index: greedy beam search (the
    // HNSW/NSG walk, single-layer form) — global md5 entry points.
    // r17: hops/beam/entry-count AUTO-derived from COUNT(*) via the
    // integer ceil-log2 chain (beam = max(10, 3p), hops = min(6,
    // max(3, ceil(p/2))) — the r16 fixed (3, 10) point decayed recall
    // 0.78 -> 0.32 across the landed decade; the walk's budget now
    // grows ~log n, per-query cost O(hops*beam*kGraph) stays free of
    // any corpus-linear term, and the oracle derives the SAME params
    // from COUNT(*) with guarded hop CTEs up to the unroll cap.
    "q_knn_graph_search" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val e = Tables.embeddings(s, d)
      val n = e.count()
      Similarity.knnGraphSearch(e,
        col("vec_id") % 100 === 0, graft.functions.AnnPolicy.k,
        kGraph = graft.functions.AnnPolicy.kGraph, rounds = graft.functions.AnnPolicy.graphRounds,
        hops = Similarity.autoGraphHops(n), beam = Similarity.autoGraphBeam(n))
    }),
    // contrastive hard-negative mining: nearest different-label rows
    "q_hard_negatives" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Similarity.hardNegatives(Tables.embeddings(s, d),
        col("vec_id") % 100 === 0, 10)
    }),
    // BPE trainer inner loop: top adjacent within-word char pairs
    "q_bpe_pairs" -> ((s, d) =>
      TextAnalysis.bpePairCounts(Tables.documents(s, d), 50)),
    // the FULL greedy BPE merge loop (4 rounds) over the word-frequency
    // table: learned merge rules in rank order
    "q_bpe_train" -> ((s, d) =>
      TextAnalysis.bpeTrain(Tables.documents(s, d), 4)),
    // apply-side of the trained tokenizer: per-doc token budget under
    // the 4-merge vocab
    "q_bpe_apply" -> ((s, d) =>
      TextAnalysis.bpeApply(Tables.documents(s, d), 4)),
    // tokenizer fertility per language (bpe-tokens per word under the
    // corpus-trained vocab) — the tokenizer-fairness diagnostic; the
    // ratio is ONE double division of exact integer sums
    "q_bpe_fertility" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, sum}
      TextAnalysis.bpeApply(Tables.documents(s, d), 4, extraCols = Seq("lang"))
        .groupBy(col("lang"))
        .agg(sum(col("n_words")).as("n_words"),
          sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
        .withColumn("fertility",
          col("n_bpe_tokens").cast("double") / col("n_words").cast("double"))
    }),
    // corpus-trained bigram-LM typicality score (the portable form of
    // perplexity-bucket quality filtering): mean quantized P(w2|w1)
    "q_bigram_lm" -> ((s, d) =>
      TextAnalysis.bigramLmScore(Tables.documents(s, d))),
    // CCNet shape: LM trained on the 'en' reference slice scores the
    // whole corpus; reference-unseen bigrams count as OOV
    "q_bigram_lm_ref" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      TextAnalysis.bigramLmScoreAgainst(docs.filter(col("lang") === "en"), docs)
    }),
    // explicit bloom-filter semi-join pruning (the runtime-filter
    // operator form): lineitems of urgent orders, bloom-pruned scan
    // then exact semi join — result identical to the plain semi join
    "q_bloom_semi" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, count, lit, sum}
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      graft.plans.BloomPrune
        .bloomSemiJoin(Tables.lineitem(s, d), "l_orderkey", urgent, "o_orderkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"))
    }),
    // per-label centroid cells (long form: exact integer sums, one
    // double division per cell)
    "q_embedding_centroids" -> ((s, d) =>
      Similarity.labelCentroids(Tables.embeddings(s, d))),
    // unicode/control hygiene pass: md5-gated normalized text + counters
    "q_normalize_text" -> ((s, d) =>
      TextAnalysis.normalizeText(Tables.documents(s, d))),
    // TPC-H Q3/Q5/Q10 shapes: multi-dim broadcast joins, one fact-fact
    // shuffle each, decimal-exact revenue, TakeOrdered top-k
    "q_tpch_q1" -> ((s, d) =>
      Relational.pricingSummary(Tables.lineitem(s, d), "1998-09-02")),
    "q_tpch_q3" -> ((s, d) =>
      Relational.shippingPriority(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), "BUILDING", "1997-06-15", 10)),
    "q_tpch_q5" -> ((s, d) =>
      Relational.localSupplierVolume(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), Tables.supplier(s, d), Tables.nation(s, d),
        Tables.region(s, d), "ASIA", "1996-01-01", "1997-01-01")),
    "q_tpch_q10" -> ((s, d) =>
      Relational.returnedItemReport(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), Tables.nation(s, d),
        "1996-04-01", "1996-07-01", 20)),
    "q_tpch_q6" -> ((s, d) =>
      Relational.forecastRevenue(Tables.lineitem(s, d), "1996-01-01", "1997-01-01")),
    "q_tpch_q18" -> ((s, d) =>
      Relational.largeVolumeCustomers(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), 150.0, 10)),
    // accumulating snapshot: order date -> last shipment latency,
    // exact interpolation percentiles per priority
    "q_fulfillment_latency" -> ((s, d) =>
      Relational.fulfillmentLatency(Tables.orders(s, d), Tables.lineitem(s, d))),
    // TPC-H Q20 shape (partsupp-free): excess-share suppliers via the
    // decorrelated per-part window + exact multiply threshold
    "q_tpch_q20_lite" -> ((s, d) =>
      Relational.excessShareSuppliers(Tables.lineitem(s, d), Tables.part(s, d),
        Tables.supplier(s, d), Tables.nation(s, d),
        "red", "1995-01-01", "1996-01-01", "NATION_9")),
    "q_tpch_q14" -> ((s, d) =>
      Relational.promoRevenueShare(Tables.lineitem(s, d), Tables.part(s, d),
        "PROMO", "1996-03-01", "1996-04-01")),
    // TPC-H Q13: LEFT OUTER customer⟕orders + count-including-zeros
    // histogram — the outer-join count-distribution shape (the 0-orders
    // bucket is the subtlety the outer join exists for)
    "q_tpch_q13" -> ((s, d) =>
      Relational.customerOrderDistribution(Tables.customer(s, d),
        Tables.orders(s, d), "1-URGENT")),
    // TPC-H Q4: EXISTS with a date window — semi join with a residual
    // lateness inequality (l_shipdate > o_orderdate + 60 days)
    "q_tpch_q4" -> ((s, d) =>
      Relational.latePriorityOrders(Tables.orders(s, d), Tables.lineitem(s, d),
        "1996-01-01", "1996-07-01", 60)),
    // TPC-H Q2-lite: correlated min over a join, decorrelated by
    // Catalyst into an aggregate + equality join
    "q_min_price_supplier" -> ((s, d) =>
      Relational.sql(s, d, Relational.minPriceSupplierSql,
        Seq("part", "lineitem", "supplier"))),
    // FULL TPC-H Q2: 8-way join + correlated regional min over the
    // derived partsupp surrogate, deterministic top-100
    "q_tpch_q2" -> ((s, d) =>
      Relational.sql(s, d, Relational.tpchQ2Sql,
        Seq("part", "lineitem", "supplier", "nation", "region"))),
    // FULL TPC-H Q20: nested IN-chain with a doubly-correlated scalar
    // sum (official NULL semantics drop no-shipment pairs)
    "q_tpch_q20" -> ((s, d) =>
      Relational.sql(s, d, Relational.tpchQ20Sql,
        Seq("part", "lineitem", "supplier", "nation", "region"))),
    // TPC-H Q12: conditional (CASE) counters after a fact-fact join
    "q_tpch_q12" -> ((s, d) =>
      Relational.priorityLineCounts(Tables.orders(s, d), Tables.lineitem(s, d),
        "1996-01-01", "1997-01-01")),
    // TPC-H Q22-lite: scalar avg subquery (multiply-form) + NOT EXISTS
    // with a date window, per-nation rollup
    "q_tpch_q22" -> ((s, d) =>
      Relational.sql(s, d, Relational.inactiveHighBalanceSql,
        Seq("customer", "nation", "orders"))),
    // TPC-H Q16 shape (partsupp-free, s_name for s_comment): grouped
    // count(distinct suppkey) behind a NOT-IN/anti join over a LIKE
    // exclusion — the one distinct-agg + anti-on-subquery shape
    "q_tpch_q16" -> ((s, d) =>
      Relational.supplierCountByPart(Tables.lineitem(s, d),
        Tables.part(s, d), Tables.supplier(s, d),
        "Brand#45", "MEDIUM", Seq(49, 14, 23, 45, 19, 3, 36, 9), "%7%")),
    // Z-order layout manifest: Morton-interleave min-max-quantized
    // (l_partkey, l_suppkey), bucket by curve prefix, emit per-bucket
    // min/max stats + the 0/1 scanned flag for a 2-D predicate
    // rectangle — all integer bit algebra, bit-exact in DuckDB
    "q_zorder_skip" -> ((s, d) =>
      graft.sources.ZOrder.zOrderSkipStats(Tables.lineitem(s, d),
        "l_partkey", "l_suppkey", 8, 8, 100L, 300L, 10L, 40L)),
    // what interleaving buys: z-order vs single-key prefix layout at
    // the same bucket count, buckets/rows scanned for one rectangle
    "q_zorder_compare" -> ((s, d) =>
      graft.sources.ZOrder.zOrderCompare(Tables.lineitem(s, d),
        "l_partkey", "l_suppkey", 8, 8, 100L, 300L, 10L, 40L)),
    // training-mix sizing: per-language token budget -> epochs plan
    "q_token_budget_mix" -> ((s, d) =>
      graft.functions.Sampling.tokenBudgetMix(Tables.documents(s, d), "lang",
        Map("en" -> 0.5, "es" -> 0.2, "fr" -> 0.2, "de" -> 0.1), 1000000L)),
    // TPC-H Q7: cross-nation trade flows per direction and year
    "q_tpch_q7" -> ((s, d) =>
      Relational.crossNationTrade(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d),
        "NATION_1", "NATION_2", "1996-01-01", "1998-01-01")),
    // TPC-H Q11-lite: HAVING against global-sum scalar subqueries,
    // scale-free 1.5x-average threshold in exact multiply form
    "q_tpch_q11" -> ((s, d) =>
      Relational.sql(s, d, Relational.importantPartsSql, Seq("lineitem"))),
    // TPC-H Q8: national market share within a region per order year
    "q_tpch_q8" -> ((s, d) =>
      Relational.marketShare(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d),
        Tables.region(s, d), "ASIA", "NATION_1", "1996-01-01", "1998-01-01")),
    // TPC-H Q9-lite: product-line profit by supplier nation and year
    "q_tpch_q9" -> ((s, d) =>
      Relational.productProfit(Tables.lineitem(s, d), Tables.part(s, d),
        Tables.supplier(s, d), Tables.nation(s, d), "%widget%")),
    // TPC-H Q19: disjunctive brand/size/quantity revenue
    "q_tpch_q19" -> ((s, d) =>
      Relational.brandedRevenue(Tables.lineitem(s, d), Tables.part(s, d))),
    // MinHash estimator-quality diagnostic (k/bands tuning report)
    "q_minhash_estimate" -> ((s, d) =>
      Dedup.minhashEstimateQuality(Tables.documents(s, d), 3, 8, 4)),
    // TPC-H Q15: max-of-aggregate with exact-decimal tie detection
    "q_tpch_q15" -> ((s, d) =>
      Relational.sql(s, d, Relational.topSupplierSql,
        Seq("lineitem", "supplier"))),
    // TPC-H Q17: correlated per-part avg threshold in multiply form
    "q_tpch_q17" -> ((s, d) =>
      Relational.sql(s, d, Relational.smallLotRevenueSql,
        Seq("lineitem", "part"))),
    // lakehouse referential-integrity audit over the whole star schema
    "q_ref_integrity" -> ((s, d) =>
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
          Tables.region(s, d), "r_regionkey")))),
    // irregular-sampling mean: value held until the next event, exact
    // µs durations weight it
    "q_time_weighted_value" -> ((s, d) =>
      Temporal.timeWeightedValue(Tables.events(s, d), "user_id", "ts", "value")),
    // spend concentration across vendors (rank-form Gini off exact
    // decimal sums, distributed rank)
    "q_gini_vendors" -> ((s, d) =>
      SpendingReport.giniConcentration(tx(s, d), "vendor")),
    // multilingual training-mix rebalance (alpha=0.5 temperature
    // sampling): per-language keep fraction sqrt(n_min/n_l), md5
    // membership — the mix report is the gate shape
    "q_temperature_mix" -> ((s, d) =>
      graft.functions.Sampling.temperatureMixStats(
        Tables.documents(s, d), "doc_id", "lang")),
    // growth curve: running ever-seen distinct users per day via the
    // first-seen identity (no windowed COUNT DISTINCT exists; this is
    // the scalable form). Output is day-cardinality; the running-sum
    // window is over that tiny frame, documented single-partition.
    "q_cumulative_users" -> ((s, d) =>
      Temporal.cumulativeDistinct(Tables.events(s, d), "user_id", "ts")),
    // batch sibling of streaming/StreamingReport.sessionizedSpend: the
    // built-in session_window (merge at diff <= gap — spec-pinned edge;
    // end = last event + gap), gated against a DuckDB islands oracle
    "q_session_window" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(sum(col("value").cast("decimal(14,2)")).cast("double").as("total_value"),
             count(lit(1)).as("n_events"))
        .select(col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"),
          col("user_id"), col("total_value"), col("n_events"))
    }),
    // association mining: event-type pairs co-occurring in the same
    // (user, day) basket, with exact-integer lift
    "q_cooccurrence" -> ((s, d) =>
      Temporal.basketCooccurrence(Tables.events(s, d), "user_id", "ts",
        "event_type")),
    // weekly-seasonality detector: lag-7 autocorrelation of each
    // category's daily series (calendar-aligned pairs only)
    "q_autocorr" -> ((s, d) =>
      Temporal.lagAutocorr(tx(s, d), "category", "txn_date", "amount", 7)),
    // funnel timing: first-touch -> first conversion-at-or-after lag,
    // whole-day histogram with exact per-bucket mean
    "q_conversion_lag" -> ((s, d) =>
      Temporal.conversionLag(Tables.events(s, d), "user_id", "ts",
        "event_type", "view", "purchase")),
    // sequence mining: top-25 three-step consecutive event paths
    "q_path_trigrams" -> ((s, d) =>
      Temporal.pathTrigrams(Tables.events(s, d), "user_id", "ts",
        "event_type", 25)),
    // Markov transition matrix over per-user event streams: counts +
    // empirical probabilities per (prev_type -> next_type) step
    "q_event_transitions" -> ((s, d) =>
      Temporal.eventTransitions(Tables.events(s, d), "user_id", "ts",
        "event_type")),
    // sweep-line peak concurrency over the session_window intervals:
    // +1/-1 boundary deltas, distributed prefix sum (globalRank
    // pattern), per-day max level + session-start count
    "q_peak_concurrency" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val sw = Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("_n"))
        .select(col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"))
      Temporal.peakConcurrency(sw, "s_start", "s_end")
    }),
    // TPC-H Q21: double-correlated EXISTS / NOT EXISTS (sole late
    // shipper on a multi-supplier order), decorrelated into per-order
    // aggregates that reuse the single fact-fact orderkey shuffle
    "q_tpch_q21" -> ((s, d) =>
      Relational.soleLateSuppliers(Tables.orders(s, d), Tables.lineitem(s, d),
        Tables.supplier(s, d), 60, 100)),
    // C4-style boilerplate removal (common 3-grams across >= minDf
    // docs), reported as kept/removed tokens per source
    "q_boilerplate" -> ((s, d) =>
      TextAnalysis.boilerplateNgrams(Tables.documents(s, d), 5)),
    // Gopher-style multi-rule quality gate: per-source rule-failure
    // counts + all-rules pass rate, every rule an exact integer compare
    "q_gopher_filter" -> ((s, d) =>
      TextAnalysis.gopherFilter(Tables.documents(s, d))),
    // fixed-point Lloyd k-means: 2 certified iterations, every step
    // exact integer arithmetic (shift-nonneg dims, s div n centroids,
    // int64 squared distances, md5 seeds) — the oracle replays the
    // identical iterations in DuckDB
    "q_kmeans" -> ((s, d) =>
      Similarity.kmeansFixedPoint(Tables.embeddings(s, d), 8, 2)),
    // fastText/CCNet-style hashed linear quality classifier: unigram +
    // bigram hashing trick, md5-derived integer stub weights (the seam
    // a trained vector plugs into), whole score computed INSIDE the
    // row — 0 exchanges at any corpus size
    "q_quality_classifier" -> ((s, d) =>
      TextAnalysis.hashedQualityScore(Tables.documents(s, d))),
    // the TRAINED-weight seam exercised end-to-end: a nontrivial
    // (bucket, w) table (salt "w2" — a different weight vector than
    // the in-row stub) routed through the broadcast-lookup overload;
    // the oracle re-derives the same table and replays the join path
    "q_quality_weighted" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.hashedQualityScoreWith(docs,
        TextAnalysis.stubWeightTable(docs, "w2"))
    }),
    // SemDeDup (Abbas et al. 2023): embedding-space near-dup removal —
    // certified-integer k-means clusters bound the pair candidates,
    // within-cell quantized cosine >= ε drops the higher id. ε = 0.35
    // sits at this corpus's ~99.9th cosine percentile (its max pair is
    // 0.51 — the driver embeddings have no 0.95-grade semantic dups),
    // so the gate exercises real drops; per-cell summary output.
    "q_semdedup" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Similarity.semDedup(Tables.embeddings(s, d), 8, 2, 0.35)
        .groupBy(col("cell_id"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
    }),
    // the SCALE path of SemDeDup (the autoLshBits pattern): k <= 0
    // auto-sizes the cluster count to constant cell occupancy. The
    // oracle derives the SAME k = ⌈n/64⌉ from COUNT(*) (r15,
    // cardinality-robust — no sf-pinned literal) and emits it as the
    // k_auto column this side carries. Unlike q_semdedup this stays
    // on the scale-up board: cells stay ~64 docs as the corpus grows,
    // so the within-cell join stays linear.
    "q_semdedup_auto" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val kAuto = Similarity.autoSemDedupK(Tables.embeddings(s, d).count())
      Similarity.semDedup(Tables.embeddings(s, d), 0, 2, 0.35)
        .groupBy(col("cell_id"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
        .withColumn("k_auto", lit(kAuto.toLong))
    }),
    // the HIERARCHICAL scale path of SemDeDup: two-level certified
    // k-means (k1 coarse cells, k2 sub-cells per coarse cell trained
    // JOINTLY — the coarse id rides every key) keeps the constant
    // ~64-doc cell occupancy of q_semdedup_auto while each assignment
    // pass scores only its level's √(n/64) centroids: n^1.5-ish
    // assignment work vs the flat auto form's n²/64 (the measured
    // 0.88 exponent on the r12 scale board). k1 = k2 =
    // autoSemDedupHierK(n); the oracle replays BOTH levels and derives
    // the same k from COUNT(*) (r15, cardinality-robust).
    "q_semdedup_hier" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val kAuto = Similarity.autoSemDedupHierK(Tables.embeddings(s, d).count())
      Similarity.semDedupHier(Tables.embeddings(s, d), 0, 0, 2, 0.35)
        .groupBy(col("cell_id"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
        .withColumn("k_hier", lit(kAuto.toLong))
    }),
    // rank-family windows at scale: distributed global rank + the
    // explicit integer ntile formula (no single-partition window, no
    // engine-specific tile boundary convention)
    "q_customer_quartiles" -> ((s, d) =>
      Relational.customerSpendQuartiles(Tables.customer(s, d),
        Tables.orders(s, d), 4)),
    // the boilerplate TRANSFORM hash-certified: per-doc md5 of the
    // cleaned (common-3-gram-stripped) text rebuilt in position order
    "q_boilerplate_apply" -> ((s, d) =>
      TextAnalysis.boilerplateApply(Tables.documents(s, d), 5)),
    // graph centrality over the star schema: fixed-point PageRank on
    // nation->nation trade, iterations integer-exact and replayed by
    // the oracle (same certified-iterative discipline as q_kmeans)
    "q_trade_rank" -> ((s, d) =>
      Relational.nationTradeRank(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d), 2)),
    // time-series resample-to-bars (OHLC per user per day): one hash
    // agg, open/close via min_by/max_by over the total (ts, event_id)
    // order
    "q_ohlc_bars" -> ((s, d) =>
      Temporal.ohlcBars(Tables.events(s, d), "user_id", "ts", "value")),
    // deterministic weighted (PPS) sampling: ~16 docs proportional to
    // token count, selection marks in pure integer arithmetic
    "q_pps_sample" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      graft.functions.Sampling.ppsSystematic(Tables.documents(s, d), "doc_id",
        size(split(trim(lower(col("text"))), "\\s+")), 16)
    }),
    // regression family (regr_slope/intercept/r2) off the same exact
    // decimal moments as q_corr_lineitem: one grouped agg, the doubles
    // appear only in the final fixed-shape expression (identical IEEE
    // op tree in the oracle)
    "q_regression" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val x = col("l_quantity").cast("decimal(14,2)")
      val y = col("l_extendedprice").cast("decimal(18,2)")
      def d2(c: org.apache.spark.sql.Column) = c.cast("string").cast("double")
      Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(x).as("_sx"), sum(y).as("_sy"),
             sum((x * y).cast("decimal(34,4)")).as("_sxy"),
             sum((x * x).cast("decimal(30,4)")).as("_sxx"),
             sum((y * y).cast("decimal(38,4)")).as("_syy"))
        .select(col("l_returnflag"), col("n"),
          ((col("n").cast("double") * d2(col("_sxy")) - d2(col("_sx")) * d2(col("_sy")))
            / (col("n").cast("double") * d2(col("_sxx")) - d2(col("_sx")) * d2(col("_sx"))))
            .as("slope"),
          ((d2(col("_sy")) -
            ((col("n").cast("double") * d2(col("_sxy")) - d2(col("_sx")) * d2(col("_sy")))
              / (col("n").cast("double") * d2(col("_sxx")) - d2(col("_sx")) * d2(col("_sx"))))
            * d2(col("_sx"))) / col("n").cast("double")).as("intercept"),
          (((col("n").cast("double") * d2(col("_sxy")) - d2(col("_sx")) * d2(col("_sy")))
            * (col("n").cast("double") * d2(col("_sxy")) - d2(col("_sx")) * d2(col("_sy"))))
            / ((col("n").cast("double") * d2(col("_sxx")) - d2(col("_sx")) * d2(col("_sx")))
              * (col("n").cast("double") * d2(col("_syy")) - d2(col("_sy")) * d2(col("_sy")))))
            .as("r2"))
    }),
    // per-source categorical concentration (Gini impurity + HHI):
    // exact BIGINT squared-count sums; the one double division and the
    // truncating ppm div both run on exact integer operands
    "q_concentration" -> ((s, d) =>
      DataQuality.concentration(Tables.documents(s, d), "source", "lang")),
    // 2-D skyline (Pareto frontier) over parts — min price, max size;
    // the linear sorted/prefix-max rewrite is certified by the literal
    // quadratic NOT-EXISTS dominance oracle (q_tpch_q21 discipline)
    "q_skyline_parts" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Relational.skyline2d(Tables.part(s, d), "p_partkey",
        floor(col("p_retailprice") * 100), col("p_size"),
        "price_cents", "p_size")
    }),
  )

  /** Engine-portable canonical rendering of `orders` for the checksum
    * queries: ints/strings directly, the timestamp through DATE, money
    * exactly quantized to cents (double→string rendering differs
    * across engines; floor-quantized ints never do). */
  private def ordersChecksumCols: Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    Seq(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      floor(col("o_totalprice") * 100).cast("long"),
      col("o_orderdate").cast("date"), col("o_orderpriority"))
  }

  private val txSql =
    "SELECT cast(ts AS date) AS txn_date, event_type AS category, " +
      "'u' || user_id AS vendor, value AS amount FROM events"

  def oracleSql: Map[String, String] = Map(
    // Bounded-error sketch gates: the oracle computes the EXACT side
    // plus literal-1 within-bound flags; the Spark row computes the
    // flags from the sketch's documented bound — hash matches iff the
    // sketch honors it (see the queries' comments for the bounds).
    "q_approx_distinct" ->
      s"""SELECT count(DISTINCT vendor) AS exact_vendors,
         |       CAST(1 AS BIGINT) AS vendors_ok,
         |       count(DISTINCT category) AS exact_categories,
         |       CAST(1 AS BIGINT) AS categories_ok
         |FROM ($txSql)""".stripMargin,
    // exact per-type counts + literal-1 flags for both CMS laws; the
    // 5-value dictionary sits far under the probe cap, so truncated=0
    "q_cms_freq" ->
      """SELECT CAST(event_type AS VARCHAR) AS key,
        |       count(*) AS n_exact,
        |       CAST(1 AS BIGINT) AS over_ok,
        |       CAST(1 AS BIGINT) AS bound_ok,
        |       CAST(0 AS BIGINT) AS truncated
        |FROM events GROUP BY 1""".stripMargin,
    // exact monthly row counts + literal-1 rank flags
    "q_kll_merge" ->
      """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS range_key,
        |       count(*) AS n_rows,
        |       CAST(1 AS BIGINT) AS ok_q50,
        |       CAST(1 AS BIGINT) AS ok_q90
        |FROM lineitem GROUP BY 1""".stripMargin,
    // exact set arithmetic per distinct user sets; literal-1 flags
    // for the three theta estimates
    "q_theta_setops" ->
      """SELECT count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS n_a,
        |       count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS n_b,
        |       count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END)
        |         + count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END)
        |         - count(DISTINCT CASE WHEN event_type IN ('purchase', 'view') THEN user_id END) AS n_inter,
        |       count(DISTINCT CASE WHEN event_type IN ('purchase', 'view') THEN user_id END) AS n_union,
        |       CAST(1 AS BIGINT) AS inter_ok,
        |       CAST(1 AS BIGINT) AS union_ok,
        |       CAST(1 AS BIGINT) AS diff_ok
        |FROM events""".stripMargin,
    // the merge gate: exact monthly distincts + literal-1 flags — the
    // hash matches iff the merged estimate honors its bound AND the
    // union-of-sketches equals the direct sketch on every range
    "q_hll_merge" ->
      """SELECT CAST(date_trunc('month', ts) AS DATE) AS range_key,
        |       count(DISTINCT user_id) AS n_exact,
        |       CAST(1 AS BIGINT) AS est_ok,
        |       CAST(1 AS BIGINT) AS merge_ok
        |FROM events GROUP BY 1""".stripMargin,
    "q_approx_percentiles" ->
      s"""SELECT category, count(*) AS n,
         |       CAST(1 AS BIGINT) AS ok25,
         |       CAST(1 AS BIGINT) AS ok50,
         |       CAST(1 AS BIGINT) AS ok75
         |FROM ($txSql) GROUP BY category""".stripMargin,
    "q_global_summary" ->
      s"""SELECT cast(sum(cast(amount AS DECIMAL(14,2))) AS double) AS total_spent,
         |       count(*) AS total_transactions,
         |       min(txn_date) AS begin_date,
         |       max(txn_date) AS end_date
         |FROM ($txSql)""".stripMargin,
    "q_category_totals" ->
      s"""WITH t AS (SELECT category, cast(sum(cast(amount AS DECIMAL(14,2))) AS double) AS total
         |           FROM ($txSql) GROUP BY category)
         |SELECT category, total,
         |       row_number() OVER (ORDER BY total ASC, category ASC) AS rank_asc
         |FROM t""".stripMargin,
    "q_vendor_totals" ->
      s"""WITH t AS (SELECT vendor, cast(sum(cast(amount AS DECIMAL(14,2))) AS double) AS total
         |           FROM ($txSql) GROUP BY vendor)
         |SELECT vendor, total,
         |       row_number() OVER (ORDER BY total ASC, vendor ASC) AS rank_asc
         |FROM t""".stripMargin,
    "q_distinct_categories" ->
      s"SELECT DISTINCT category FROM ($txSql)",
    "q_unique_sets" ->
      s"""SELECT md5(array_to_string(list_sort(list(DISTINCT category)), '|')) AS categories_md5,
         |       count(DISTINCT category) AS n_categories,
         |       md5(array_to_string(list_sort(list(DISTINCT vendor)), '|')) AS vendors_md5,
         |       count(DISTINCT vendor) AS n_vendors
         |FROM ($txSql)""".stripMargin,
    "q_mean_category" ->
      s"""SELECT category,
         |       cast(sum(cast(amount AS DECIMAL(14,2))) AS double) /
         |             (SELECT cast(count(DISTINCT txn_date) AS double) FROM ($txSql))
         |         AS mean_amount
         |FROM ($txSql) GROUP BY category""".stripMargin,
    "q_mean_vendor" ->
      s"""SELECT vendor,
         |       cast(sum(cast(amount AS DECIMAL(14,2))) AS double) /
         |             (SELECT cast(count(DISTINCT txn_date) AS double) FROM ($txSql))
         |         AS mean_amount
         |FROM ($txSql) GROUP BY vendor""".stripMargin,
    "q_pct_change_category" -> pctChangeSql("category"),
    "q_pct_change_vendor" -> pctChangeSql("vendor"),
    "q_top5_vendors_asc" ->
      s"""WITH t AS (SELECT vendor, cast(sum(cast(amount AS DECIMAL(14,2))) AS double) AS total
         |           FROM ($txSql) GROUP BY vendor)
         |SELECT vendor, total FROM t ORDER BY total ASC, vendor ASC LIMIT 5""".stripMargin,
    "q_dates_catalog" ->
      s"SELECT DISTINCT txn_date AS begin_date, txn_date AS end_date FROM ($txSql)",
    "q_revenue_by_order" ->
      """SELECT l_orderkey,
        |       cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS double) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_orderkey""".stripMargin,
    "q_salted_join" ->
      """SELECT o_orderpriority,
        |       cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS double) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q_revenue_type_supplier" ->
      """SELECT p_type, s_name,
        |       cast(sum(cast(l_quantity AS DECIMAL(18,2))) AS double) AS sum_qty,
        |       cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS double) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY p_type, s_name""".stripMargin,
    "q_customers_by_region" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
        |       cast(sum(cast(c_acctbal AS DECIMAL(18,2))) AS double) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q_semi_orders_big_items" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45.0)
        |GROUP BY o_orderpriority""".stripMargin,
    "q_anti_orders_no_items" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)""".stripMargin,
    "q_top10_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q_top3_orders_per_customer" ->
      """WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |                  row_number() OVER (PARTITION BY o_custkey
        |                                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |           FROM orders)
        |SELECT o_custkey, o_orderkey, o_totalprice, rn FROM r WHERE rn <= 3""".stripMargin,
    "q_rollup_lineitem" ->
      """SELECT l_returnflag, l_linestatus,
        |       cast(sum(cast(l_quantity AS DECIMAL(18,2))) AS double) AS sum_qty, count(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "q_union_nationkeys" ->
      """SELECT cast(s_nationkey AS bigint) AS nationkey FROM supplier
        |UNION
        |SELECT cast(c_nationkey AS bigint) AS nationkey FROM customer""".stripMargin,
    "q_order_point_lookup" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)""".stripMargin,
    "q_setops_nationkeys" ->
      """WITH s AS (SELECT DISTINCT cast(s_nationkey AS bigint) AS nationkey FROM supplier),
        |     c AS (SELECT DISTINCT cast(c_nationkey AS bigint) AS nationkey FROM customer)
        |SELECT 'both' AS src, nationkey FROM (SELECT nationkey FROM s INTERSECT SELECT nationkey FROM c)
        |UNION ALL
        |SELECT 'supplier_only', nationkey FROM (SELECT nationkey FROM s EXCEPT SELECT nationkey FROM c)
        |UNION ALL
        |SELECT 'customer_only', nationkey FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)""".stripMargin,
    "q_spend_stats" ->
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
         |FROM t""".stripMargin,
    "q_upsert_merge" ->
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
         |  ON v1.begin_date = v2.begin_date AND v1.end_date = v2.end_date""".stripMargin,
    "q_report_by_range" ->
      s"""SELECT txn_date AS begin_date, txn_date AS end_date,
         |       cast(sum(cast(amount AS DECIMAL(14,2))) AS double) AS total_spent,
         |       'v1' AS version, count(*) AS total_transactions
         |FROM ($txSql) GROUP BY txn_date ORDER BY begin_date LIMIT 1""".stripMargin,
    "q_token_stats" ->
      """SELECT doc_id, n_chars, cast(length(text) AS bigint) AS len_chars,
        |       cast(len(string_split_regex(trim(lower(text)), '\s+')) AS bigint) AS n_tokens,
        |       cast(length(regexp_replace(text, '\s', '', 'g')) AS bigint) AS n_nonspace_chars
        |FROM documents""".stripMargin,
    "q_quality_score" ->
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
        |FROM t""".stripMargin,
    // the oracle's per-source window stands in for the engine's
    // range-partitioned global rank + broadcast offset correction
    "q_quality_calibrated" ->
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
        |FROM r""".stripMargin,
    "q_language_id" ->
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
        |FROM t""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents""".stripMargin,
    "q_top_terms" ->
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
           |FROM r JOIN df ON r.term = df.term WHERE r.rnk <= 3""".stripMargin,
    // same token/stopword pipeline as q_top_terms; score is the exact
    // integer tf·(scale div df), `div` ⟷ DuckDB `//`
    "q_tfidf_keywords" ->
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
           |FROM r WHERE rnk <= 3""".stripMargin,
    "q_doc_rarity" ->
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
           |GROUP BY tok.doc_id""".stripMargin,
    "q_exact_dedup_docs" ->
      """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
        |       min(doc_id) AS keeper_doc_id, count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,
    "q_exact_dup_events" ->
      """SELECT user_id, event_type, value, count(*) AS n_occurrences
        |FROM events GROUP BY 1, 2, 3 HAVING count(*) > 1""".stripMargin,
    "q_token_histogram" ->
      raw"""WITH t AS (SELECT lang,
           |             CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_toks
           |           FROM documents)
           |SELECT lang, n_toks // 16 * 16 AS bucket_lo, count(*) AS n_docs,
           |       CAST(sum(n_toks) AS BIGINT) AS sum_tokens,
           |       min(n_toks) AS min_tokens, max(n_toks) AS max_tokens
           |FROM t GROUP BY lang, n_toks // 16 * 16""".stripMargin,
    "q_collocations" ->
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
           |ORDER BY lift DESC, w1, w2 LIMIT 50""".stripMargin,
    "q_dup_spans" ->
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
           |FROM tot t LEFT JOIN cov c ON t.doc_id = c.doc_id""".stripMargin,
    // same hot-gram CTE as q_dup_spans + the boilerplate_apply rebuild:
    // the oracle reconstructs the identical cleaned string (1-based
    // positions, k=5 offsets) and hashes it; a fully-covered doc
    // coalesces to md5('') exactly as the Spark side does
    "q_dup_spans_apply" ->
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
           |GROUP BY t.doc_id""".stripMargin,
    // the per-source rollup of the SAME apply computation: per-doc
    // kept/removed counts re-derived, then one grouped ledger
    "q_dup_spans_savings" ->
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
           |GROUP BY d.source""".stripMargin,
    // same gram construction as q_dup_spans; ownership = min doc_id
    "q_ngram_novelty" ->
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
           |FROM g JOIN f USING (m) GROUP BY g.doc_id""".stripMargin,
    "q_corpus_filter" -> corpusFilterOracleSql,
    // attrition arithmetic over the SAME cascade oracle: stage i's
    // intake = total − Σ first-fail drops of earlier stages
    "q_filter_attrition" ->
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
         |FROM y""".stripMargin,
    "q_fuzzy_vendors" ->
      s"""WITH v AS (SELECT DISTINCT vendor AS s FROM ($txSql))
         |SELECT a.s AS s_a, b.s AS s_b,
         |       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
         |FROM v a JOIN v b
         |  ON a.s < b.s AND abs(len(a.s) - len(b.s)) <= 1
         |WHERE levenshtein(a.s, b.s) <= 1""".stripMargin,
    "q_corpus_diff" ->
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
           |FROM oc FULL OUTER JOIN nc ON oc.fp = nc.fp""".stripMargin,
    "q_incremental_dedup" ->
      raw"""WITH fp AS (SELECT doc_id, lang, source, n_chars,
           |              md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
           |            FROM documents)
           |SELECT b.doc_id, b.lang, b.source, b.n_chars
           |FROM fp b
           |WHERE b.doc_id % 5 = 0
           |  AND NOT EXISTS (SELECT 1 FROM fp c
           |                  WHERE c.doc_id % 3 = 0 AND c.fp = b.fp)""".stripMargin,
    // the composed curation pipeline, one row per stage (see
    // curateLedgerSql)
    "q_curate_ledger" -> curateLedgerSql,
    "q_ngram_jaccard" -> ngramJaccardSql,
    "q_source_overlap" -> sourceOverlapSql,
    "q_redact_pii" ->
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
           |SELECT doc_id, n_emails, n_ips, n_phones, md5(t3) AS redacted_md5 FROM s3""".stripMargin,
    "q_chunking" ->
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
           |FROM c""".stripMargin,
    "q_packing" ->
      raw"""WITH t AS (SELECT doc_id, lang,
           |                  CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_toks
           |           FROM documents),
           |c AS (SELECT lang, doc_id, n_toks,
           |             coalesce(sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
           |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
           |      FROM t)
           |SELECT lang, CAST(cb // 512 AS BIGINT) AS bin_id, count(*) AS n_docs,
           |       CAST(sum(n_toks) AS BIGINT) AS sum_tokens
           |FROM c GROUP BY lang, cb // 512""".stripMargin,
    "q_decontaminate" ->
      s"""WITH s AS ($shinglesSql),
         |tr AS (SELECT doc_id, unnest(sh) AS sh FROM s WHERE doc_id % 50 <> 0),
         |be AS (SELECT DISTINCT unnest(sh) AS sh FROM s WHERE doc_id % 50 = 0),
         |c AS (SELECT tr.doc_id, count(*) AS n_shared FROM tr
         |      JOIN be ON tr.sh = be.sh GROUP BY tr.doc_id)
         |SELECT d.doc_id,
         |       CAST(coalesce(c.n_shared, 0) AS BIGINT) AS n_shared_shingles,
         |       coalesce(c.n_shared, 0) >= 5 AS contaminated
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
         |LEFT JOIN c ON d.doc_id = c.doc_id""".stripMargin,
    "q_repetition" ->
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
           |FROM t LEFT JOIN g2 ON t.doc_id = g2.doc_id""".stripMargin,
    "q_ngram_containment" ->
      s"""WITH s AS ($shinglesSql),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |             cast(len(list_intersect(a.sh, b.sh)) AS bigint) AS inter,
         |             cast(least(len(a.sh), len(b.sh)) AS bigint) AS min_size
         |      FROM s a JOIN s b
         |        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, inter, min_size,
         |       cast(inter AS double) / min_size AS containment
         |FROM p WHERE cast(inter AS double) / min_size >= 0.6""".stripMargin,
    "q_order_quartiles" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |       CAST(ntile(4) OVER (PARTITION BY o_orderpriority
        |              ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS quartile,
        |       CAST(dense_rank() OVER (PARTITION BY o_orderpriority
        |              ORDER BY o_orderstatus ASC) AS BIGINT) AS status_rank
        |FROM orders""".stripMargin,
    "q_simhash_neardup" ->
      s"""WITH v AS ($simhash16Sql)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.simhash16, b.simhash16)) AS BIGINT) AS hamming
         |FROM v a JOIN v b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash16, b.simhash16)) <= 3""".stripMargin,
    "q_minhash_lsh" -> minhashLshSql,
    "q_simhash16" -> simhash16Sql,
    "q_simhash64" -> simhash64Sql,
    "q_simhash64_neardup" ->
      s"""WITH v AS ($simhash64Sql)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.simhash64, b.simhash64)) AS BIGINT) AS hamming
         |FROM v a JOIN v b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash64, b.simhash64)) <= 3""".stripMargin,
    // the combi blocking is exact-verified, so its result is blocking-
    // independent: the oracle is the same brute-force pair SQL
    "q_simhash64_wide" ->
      s"""WITH v AS ($simhash64Sql)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.simhash64, b.simhash64)) AS BIGINT) AS hamming
         |FROM v a JOIN v b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash64, b.simhash64)) <= 3""".stripMargin,
    "q_candidate_stats" -> candidateStatsSql,
    // probe is band-blocked + exact-verified, so the result is
    // blocking-independent: brute-force batch × corpus pairs
    "q_simhash_probe" ->
      s"""WITH v AS ($simhash64Sql)
         |SELECT b.doc_id AS batch_doc, c.doc_id AS corpus_doc,
         |       CAST(bit_count(xor(b.simhash64, c.simhash64)) AS BIGINT) AS hamming
         |FROM v b JOIN v c
         |  ON b.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
         |WHERE bit_count(xor(b.simhash64, c.simhash64)) <= 3""".stripMargin,
    "q_ann_topk" ->
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
         |SELECT query_id, rnk, neighbor_id, cosine FROM r WHERE rnk <= 10""".stripMargin,
    // Floor-flag gate: the Spark row computes recall_ok/rerank_ok from
    // the measured recalls (see the query's comment for the floors);
    // the oracle derives n_truth = |Q|*k structurally and hashes
    // literal-1 flags — the hash matches iff every method clears its
    // cross-scale floor AND every rerank stage is monotone.
    "q_ann_recall" ->
      s"""WITH q AS (SELECT count(*) * 10 AS n_truth FROM embeddings WHERE vec_id % 100 = 0)
         |SELECT m.method, q.n_truth,
         |       CAST(1 AS BIGINT) AS recall_ok,
         |       CAST(1 AS BIGINT) AS rerank_ok
         |FROM (VALUES ${graft.functions.AnnPolicy.rungs.map(r => s"('${r.method}')").mkString(", ")}) AS m(method)
         |CROSS JOIN q""".stripMargin,
    "q_ann_frontier" -> annFrontierSql,
    "q_ann_serve" -> annServeSql(400L, "ivf", ivfTopkOracleSql),
    // r19 (ADVICE): the served depth interpolates AnnPolicy.k — the
    // engine serves AnnPolicy.k, so a k re-point can no longer desync
    // this oracle chain (the drift class AnnPolicy exists to kill)
    "q_ann_serve_tight" -> annServeSql(700L, "sq8",
      s"""$sq8BaseSql
         |SELECT query_id, rnk, neighbor_id FROM r WHERE rnk <= ${graft.functions.AnnPolicy.k}""".stripMargin),
    "q_split_counts" ->
      """WITH s AS (SELECT lang, n_chars,
        |    CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 10 THEN 'val'
        |         WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 20 THEN 'test'
        |         ELSE 'train' END AS split
        |  FROM documents)
        |SELECT lang, split, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM s GROUP BY lang, split""".stripMargin,
    "q_stratified_sample" ->
      """WITH s AS (SELECT lang, n_chars,
        |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS b
        |  FROM documents)
        |SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM s
        |WHERE b < CASE lang WHEN 'en' THEN 50 WHEN 'es' THEN 20 WHEN 'fr' THEN 10 ELSE 0 END
        |GROUP BY lang""".stripMargin,
    "q_bottomk_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |ORDER BY md5(CAST(doc_id AS VARCHAR)) LIMIT 50""".stripMargin,
    "q_eval_sample" ->
      """WITH r AS (SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
        |  FROM documents)
        |SELECT doc_id, lang, n_chars FROM r WHERE rk <= 20""".stripMargin,
    "q_range_join" ->
      """WITH i AS (SELECT user_id AS ival_id, min(ts) AS ival_start,
        |                  min(ts) + INTERVAL 1 DAY AS ival_end
        |           FROM events GROUP BY user_id)
        |SELECT ival_id, ival_start, ival_end, count(*) AS n_points
        |FROM i JOIN events e ON e.ts >= i.ival_start AND e.ts < i.ival_end
        |GROUP BY ival_id, ival_start, ival_end""".stripMargin,
    "q_profile" -> {
      val cols = Seq("l_orderkey", "l_quantity", "l_shipdate", "l_returnflag")
      cols.map(c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |       CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |       count(DISTINCT $c) AS n_distinct,
           |       CAST(min($c) AS VARCHAR) AS min_value,
           |       CAST(max($c) AS VARCHAR) AS max_value
           |FROM lineitem""".stripMargin).mkString("\nUNION ALL\n")
    },
    "q_sliding_window" ->
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
        |GROUP BY w_start, category""".stripMargin,
    "q_props_extract" ->
      """SELECT user_id, CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |       count(*) AS n, max(CAST(props->>'k' AS BIGINT)) AS max_k
        |FROM events GROUP BY user_id""".stripMargin,
    "q_pivot_wide" -> {
      val cols = Seq("click", "error", "purchase", "signup", "view").map(c =>
        s"cast(coalesce(sum(cast(amount AS DECIMAL(14,2))) FILTER (WHERE category = '$c'), 0) AS double) AS $c")
        .mkString(",\n       ")
      s"""SELECT txn_date,
         |       $cols
         |FROM ($txSql) GROUP BY txn_date""".stripMargin
    },
    "q_unpivot_long" ->
      s"""WITH s AS (SELECT txn_date, category,
         |                  cast(sum(cast(amount AS DECIMAL(14,2))) AS double) AS amount
         |           FROM ($txSql) GROUP BY txn_date, category),
         |d AS (SELECT DISTINCT txn_date FROM ($txSql)),
         |k AS (SELECT unnest(['click','error','purchase','signup','view']) AS category)
         |SELECT d.txn_date, k.category, coalesce(s.amount, 0.0) AS amount
         |FROM d CROSS JOIN k
         |LEFT JOIN s ON s.txn_date = d.txn_date AND s.category = k.category""".stripMargin,
    "q_monthly_spend" ->
      s"""SELECT cast(date_trunc('month', txn_date) AS DATE) AS month, category,
         |       cast(sum(cast(amount AS DECIMAL(14,2))) AS double) AS total_spent,
         |       count(*) AS n
         |FROM ($txSql) GROUP BY 1, 2""".stripMargin,
    "q_corr_lineitem" ->
      """WITH t AS (SELECT l_returnflag, count(*) AS n,
        |                  sum(cast(l_quantity AS DECIMAL(14,2))) AS sx,
        |                  sum(cast(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |                  sum(cast(cast(l_quantity AS DECIMAL(14,2)) * cast(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(34,4))) AS sxy,
        |                  sum(cast(cast(l_quantity AS DECIMAL(14,2)) * cast(l_quantity AS DECIMAL(14,2)) AS DECIMAL(30,4))) AS sxx,
        |                  sum(cast(cast(l_extendedprice AS DECIMAL(18,2)) * cast(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS syy
        |           FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |       (cast(n AS double) * cast(cast(sxy AS VARCHAR) AS double) - cast(cast(sx AS VARCHAR) AS double) * cast(cast(sy AS VARCHAR) AS double))
        |         / (sqrt(cast(n AS double) * cast(cast(sxx AS VARCHAR) AS double) - cast(cast(sx AS VARCHAR) AS double) * cast(cast(sx AS VARCHAR) AS double))
        |            * sqrt(cast(n AS double) * cast(cast(syy AS VARCHAR) AS double) - cast(cast(sy AS VARCHAR) AS double) * cast(cast(sy AS VARCHAR) AS double))) AS corr_qty_price
        |FROM t""".stripMargin,
    "q_heavy_hitters" ->
      raw"""WITH t AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
           |           FROM documents)
           |SELECT term, count(*) AS count, CAST(0 AS BIGINT) AS max_error
           |FROM t GROUP BY term ORDER BY count DESC, term ASC LIMIT 20""".stripMargin,
    "q_percentiles" ->
      s"""SELECT category,
         |       quantile_cont(amount, 0.25) AS q25,
         |       quantile_cont(amount, 0.5) AS q50,
         |       quantile_cont(amount, 0.75) AS q75,
         |       count(*) AS n
         |FROM ($txSql) GROUP BY category""".stripMargin,
    "q_trimmed_mean" ->
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
         |FROM k JOIN b ON k.category = b.category""".stripMargin,
    "q_mad" ->
      s"""WITH m AS (SELECT category, quantile_cont(amount, 0.5) AS med
         |           FROM ($txSql) GROUP BY category)
         |SELECT t.category, m.med,
         |       quantile_cont(abs(amount - med), 0.5) AS mad,
         |       count(*) AS n
         |FROM ($txSql) t JOIN m ON t.category = m.category
         |GROUP BY t.category, m.med""".stripMargin,
    "q_scd2_users" ->
      """WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |                  arg_max(value, ts) AS value
        |           FROM events GROUP BY 1, 2),
        |s AS (SELECT user_id, day, value,
        |             lag(value) OVER (PARTITION BY user_id ORDER BY day) AS pv,
        |             row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
        |      FROM d),
        |f AS (SELECT user_id, day, value FROM s
        |      WHERE rn = 1 OR pv IS DISTINCT FROM value)
        |SELECT user_id, value, day AS valid_from,
        |       lead(day) OVER (PARTITION BY user_id ORDER BY day) AS valid_to,
        |       lead(day) OVER (PARTITION BY user_id ORDER BY day) IS NULL
        |         AS is_current
        |FROM f""".stripMargin,
    "q_percentiles_custom" ->
      s"""SELECT category,
         |       quantile_cont(amount, 0.25) AS q25,
         |       quantile_cont(amount, 0.5) AS q50,
         |       quantile_cont(amount, 0.75) AS q75,
         |       count(*) AS n
         |FROM ($txSql) GROUP BY category""".stripMargin,
    "q_above_nation_avg" -> Relational.aboveNationAvgSql,
    "q_case_agg" -> Relational.caseAggSql,
    "q_like_filter" -> Relational.likeFilterSql,
    "q_asof_join" ->
      """WITH ev AS (SELECT event_id, user_id, ts, event_type, value FROM events),
        |l AS (SELECT event_id, user_id, ts FROM ev WHERE event_id % 10 = 0),
        |p AS (SELECT user_id, ts, max(value) AS pvalue FROM ev
        |      WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT l.event_id, l.user_id, l.ts, p.ts AS asof_ts, p.pvalue AS asof_val
        |FROM l ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.ts >= p.ts""".stripMargin,
    "q_asof_join_forward" ->
      """WITH ev AS (SELECT event_id, user_id, ts, event_type, value FROM events),
        |l AS (SELECT event_id, user_id, ts FROM ev WHERE event_id % 10 = 0),
        |p AS (SELECT user_id, ts, max(value) AS pvalue FROM ev
        |      WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT l.event_id, l.user_id, l.ts, p.ts AS asof_ts, p.pvalue AS asof_val
        |FROM l ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.ts <= p.ts""".stripMargin,
    "q_sessions" ->
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
        |FROM t GROUP BY user_id, session_id""".stripMargin,
    "q_funnel" ->
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
        |       CAST(n2 AS DOUBLE) / n0, CAST(n2 AS DOUBLE) / n1 FROM c""".stripMargin,
    "q_retention_cohorts" ->
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
        |             FROM c WHERE week_offset = 0) s USING (cohort_week)""".stripMargin,
    "q_running_spend" ->
      s"""WITH d AS (SELECT category, txn_date,
         |                  sum(cast(amount AS DECIMAL(14,2))) AS day_total
         |           FROM ($txSql) GROUP BY category, txn_date)
         |SELECT category, txn_date, cast(day_total AS double) AS day_total,
         |       cast(sum(day_total) OVER (PARTITION BY category ORDER BY txn_date
         |                                 ROWS UNBOUNDED PRECEDING) AS double) AS running_total
         |FROM d""".stripMargin,
    "q_cube_spend" ->
      s"""SELECT category, txn_date,
         |       cast(sum(cast(amount AS DECIMAL(14,2))) AS double) AS total_spent,
         |       count(*) AS n
         |FROM ($txSql) GROUP BY CUBE(category, txn_date)""".stripMargin,
    "q_grouping_sets" ->
      s"""SELECT category, vendor,
         |       cast(sum(cast(amount AS DECIMAL(14,2))) AS double) AS total_spent,
         |       count(*) AS n
         |FROM ($txSql)
         |GROUP BY GROUPING SETS ((category), (vendor), (category, vendor), ())""".stripMargin,
    "q_moving_spend" ->
      s"""WITH d AS (SELECT category, txn_date,
         |                  sum(cast(amount AS DECIMAL(14,2))) AS day_total
         |           FROM ($txSql) GROUP BY category, txn_date)
         |SELECT category, txn_date, cast(day_total AS double) AS day_total,
         |       cast(sum(day_total) OVER (PARTITION BY category
         |              ORDER BY datediff('day', DATE '1970-01-01', txn_date)
         |              RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS double) AS moving_total
         |FROM d""".stripMargin,
    "q_json_roundtrip" ->
      s"""SELECT txn_date AS begin_date,
         |       cast(sum(cast(amount AS DECIMAL(14,2))) AS double) AS total_spent,
         |       count(*) AS total_transactions
         |FROM ($txSql) GROUP BY txn_date""".stripMargin,
    "q_variant_extract" ->
      s"""SELECT txn_date AS begin_date,
         |       cast(sum(cast(amount AS DECIMAL(14,2))) AS double) AS total_spent,
         |       count(*) AS total_transactions
         |FROM ($txSql) GROUP BY txn_date""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id AS id,
        |       CASE WHEN doc_id % 3 = 0 THEN 'image'
        |            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
        |       cast(octet_length(encode(text)) AS bigint) AS n_bytes,
        |       md5(text) AS content_md5
        |FROM documents""".stripMargin,
    // the z-order manifest replayed bit-exactly: integer quantization,
    // Morton interleave as disjoint-bit addition, prefix buckets
    "q_zorder_skip" ->
      s"""WITH $zOrderStatsCtes
         |SELECT z_bucket, n_rows, min_a, max_a, min_b, max_b, scanned
         |FROM zf""".stripMargin,
    "q_zorder_compare" ->
      s"""WITH $zOrderStatsCtes,
         |zrow AS (SELECT 'zorder' AS layout, count(*) AS n_buckets,
         |                CAST(sum(scanned) AS BIGINT) AS buckets_scanned,
         |                CAST(sum(scanned * n_rows) AS BIGINT) AS rows_scanned
         |         FROM zf),
         |ls AS (SELECT aq AS bucket, count(*) AS n_rows,
         |              min(a) AS min_a, max(a) AS max_a,
         |              min(b2) AS min_b, max(b2) AS max_b
         |       FROM zv GROUP BY 1),
         |lf AS (SELECT CASE WHEN max_a >= 100 AND min_a <= 300
         |                    AND max_b >= 10 AND min_b <= 40
         |                   THEN 1 ELSE 0 END AS scanned, n_rows
         |       FROM ls),
         |lrow AS (SELECT 'linear_a' AS layout, count(*) AS n_buckets,
         |                CAST(sum(scanned) AS BIGINT) AS buckets_scanned,
         |                CAST(sum(scanned * n_rows) AS BIGINT) AS rows_scanned
         |         FROM lf)
         |SELECT * FROM zrow UNION ALL SELECT * FROM lrow""".stripMargin,
    // the aHash replayed ALGEBRAICALLY: mediaPayloads' content is
    // repeated single-byte palette chunks, so the 64-bin byte
    // histogram is exactly the per-bin sum of palette counts — no
    // byte unnesting; bit j iff 64*cnt > 240 (integer-exact form of
    // the engine's cnt > len/64.0), then brute-force Hamming pairs
    "q_media_phash" -> mediaPhashOracleSql,
    "q_media_phash_px" -> mediaPhashPxOracleSql,
    // frame equality replays on the hex windows directly (hex is
    // injective, so joining fr strings == joining frame bytes; the
    // engine's md5 digesting is internal to its join key). This
    // oracle is UNCAPPED: it matches while the engine's df cap
    // (autoDocFreqCap(n), floor 1000) does not bind — true at every
    // gated SF; a corpus with a frame digest hotter than the cap
    // would make the engine (correctly, with a warn) drop that
    // digest and diverge from this brute-force replay.
    "q_multimodal_frame_dup" ->
      """WITH v AS (SELECT doc_id AS id, hex(encode(text)) AS hx
        |           FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT DISTINCT id, substring(hx, (i-1)*32+1, 32) AS fr
        |      FROM v, UNNEST(range(1, length(hx)//32 + 1, 2)) AS u(i)),
        |p AS (SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
        |      FROM f a JOIN f b ON a.fr = b.fr AND a.id < b.id
        |      GROUP BY 1, 2)
        |SELECT id_a, id_b, n_shared FROM p WHERE n_shared >= 2""".stripMargin,
    // brute-force replay of the window-SimHash fingerprint (recall-1.0
    // banding makes the engine result blocking-independent); is_exact
    // compares the payloads' full hex — byte equality, not a hash
    "q_multimodal_dedup" ->
      s"""$fingerprint64Sql
         |SELECT a.id AS id_a, b.id AS id_b,
         |       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming,
         |       CAST(CASE WHEN ma.hx = mb.hx THEN 1 ELSE 0 END AS BIGINT) AS is_exact
         |FROM ph a JOIN ph b ON a.id < b.id
         |JOIN fp_m ma ON ma.id = a.id
         |JOIN fp_m mb ON mb.id = b.id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin,
    "q_embedding_neardup" ->
      s"""WITH n AS ($quantizedSql),
         |p AS (SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
         |             CAST(list_sum(list_transform(list_zip(a.q, b.q), x -> x[1] * x[2])) AS BIGINT) AS dot,
         |             a.nq AS na, b.nq AS nb
         |      FROM n a, n b WHERE a.label = b.label AND a.vec_id < b.vec_id)
         |SELECT label, id_a, id_b,
         |       CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS cosine
         |FROM p
         |WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) >= 0.4""".stripMargin,
    "q_table_checksum" ->
      s"""WITH c AS (SELECT $ordersDigestSql AS h FROM orders)
         |SELECT count(*) AS n_rows,
         |       CAST(SUM(CAST('0x' || substring(h, 1, 15) AS BIGINT)) AS VARCHAR) AS checksum_a,
         |       CAST(SUM(CAST('0x' || substring(h, 17, 15) AS BIGINT)) AS VARCHAR) AS checksum_b
         |FROM c""".stripMargin,
    "q_checksum_groups" ->
      s"""WITH c AS (SELECT substring(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), 1, 4) AS order_year,
         |                  $ordersDigestSql AS h
         |           FROM orders)
         |SELECT order_year, count(*) AS n_rows,
         |       CAST(SUM(CAST('0x' || substring(h, 1, 15) AS BIGINT)) AS VARCHAR) AS checksum_a,
         |       CAST(SUM(CAST('0x' || substring(h, 17, 15) AS BIGINT)) AS VARCHAR) AS checksum_b
         |FROM c GROUP BY order_year""".stripMargin,
    "q_checksum_diff" ->
      s"""WITH o AS (SELECT *, substring(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), 1, 4) AS order_year
         |           FROM orders),
         |lc AS (SELECT order_year, count(*) AS l_rows,
         |              CAST(SUM(CAST('0x' || substring(h, 1, 15) AS BIGINT)) AS VARCHAR) AS l_a,
         |              CAST(SUM(CAST('0x' || substring(h, 17, 15) AS BIGINT)) AS VARCHAR) AS l_b
         |       FROM (SELECT order_year, $ordersDigestSql AS h FROM o) GROUP BY order_year),
         |o2 AS (SELECT * FROM o
         |       WHERE o_orderkey <> (SELECT min(o_orderkey) FROM o)
         |         AND order_year < (SELECT max(order_year) FROM o)),
         |rc AS (SELECT order_year, count(*) AS r_rows,
         |              CAST(SUM(CAST('0x' || substring(h, 1, 15) AS BIGINT)) AS VARCHAR) AS r_a,
         |              CAST(SUM(CAST('0x' || substring(h, 17, 15) AS BIGINT)) AS VARCHAR) AS r_b
         |       FROM (SELECT order_year, $ordersDigestSql AS h FROM o2) GROUP BY order_year)
         |SELECT COALESCE(lc.order_year, rc.order_year) AS order_year,
         |       l_rows, l_a, l_b, r_rows, r_a, r_b,
         |       CASE WHEN l_rows IS NULL THEN 'only_right'
         |            WHEN r_rows IS NULL THEN 'only_left'
         |            WHEN l_rows = r_rows AND l_a = r_a AND l_b = r_b THEN 'match'
         |            ELSE 'mismatch' END AS status
         |FROM lc FULL OUTER JOIN rc ON lc.order_year = rc.order_year""".stripMargin,
    "q_rate_spikes" ->
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
        |FROM w WHERE trailing_days >= 3 AND trailing_sum > 0""".stripMargin,
    "q_outliers" ->
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
         |WHERE st.stddev > 0.0 AND abs((x.amount - st.mean) / st.stddev) > 2.0""".stripMargin,
    // quantile_cont matches ExactPercentiles' interpolation; the 3·MAD
    // flag is the same fixed IEEE expression on both sides
    "q_mad_outliers" ->
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
         |GROUP BY d.category, st.med, st.mad, st.n""".stripMargin,
    "q_drift" ->
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
         |FROM c""".stripMargin,
    "q_dup_rate" ->
      """SELECT lang, source, count(*) AS n_rows,
        |       count(DISTINCT md5(text)) AS n_distinct,
        |       1.0 - cast(count(DISTINCT md5(text)) AS double) / cast(count(*) AS double) AS dup_rate
        |FROM documents GROUP BY lang, source""".stripMargin,
    "q_date_gaps" ->
      s"""WITH sp AS (SELECT min(txn_date) AS d0, max(txn_date) AS d1 FROM ($txSql)),
         |k AS (SELECT DISTINCT vendor FROM ($txSql)),
         |e AS (SELECT k.vendor, CAST(unnest(generate_series((SELECT d0 FROM sp), (SELECT d1 FROM sp), INTERVAL 1 DAY)) AS DATE) AS day
         |      FROM k),
         |o AS (SELECT DISTINCT vendor, txn_date AS day FROM ($txSql))
         |SELECT e.vendor, count(*) AS n_missing,
         |       min(e.day) AS first_missing, max(e.day) AS last_missing
         |FROM e LEFT JOIN o ON e.vendor = o.vendor AND e.day = o.day
         |WHERE o.vendor IS NULL
         |GROUP BY e.vendor""".stripMargin,
    // exact multiply predicate (cents·n_days > 2·cents_total); the
    // ratio is the single mirrored FP division
    "q_seasonal_anomalies" ->
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
         |WHERE d.c * b.n_days > 2 * b.ctot""".stripMargin,
    // first digit of exact integer cents; Benford expectation shipped
    // as identical integer-ppm literals on both sides (no log)
    "q_benford" ->
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
        |FROM d CROSS JOIN t""".stripMargin,
    // --- round-4 additions ---
    "q_event_dedup_window" ->
      """WITH l AS (SELECT event_id, ts, user_id, event_type, value,
        |                  lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type, value
        |                                          ORDER BY ts, event_id) AS prev
        |           FROM events)
        |SELECT event_id, ts, user_id, event_type, value
        |FROM l WHERE prev IS NULL OR epoch_us(ts) - prev > 172800000000""".stripMargin,
    "q_dup_degree_hist" ->
      s"""WITH v AS ($simhash64Sql),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |      FROM v a JOIN v b ON a.doc_id < b.doc_id
         |      WHERE bit_count(xor(a.simhash64, b.simhash64)) <= 3),
         |deg0 AS (SELECT doc_a AS doc_id FROM p UNION ALL SELECT doc_b FROM p),
         |deg AS (SELECT doc_id, count(*) AS degree FROM deg0 GROUP BY doc_id)
         |SELECT CAST(COALESCE(deg.degree, 0) AS BIGINT) AS degree,
         |       count(*) AS n_docs
         |FROM documents d LEFT JOIN deg ON deg.doc_id = d.doc_id
         |GROUP BY 1""".stripMargin,
    "q_minhash_probe" -> minhashProbeSql,
    // store-backed probe is exact-verified, hence storage-independent:
    // same brute-force batch × corpus oracle
    "q_minhash_probe_store" -> minhashProbeSql,
    "q_dup_triangles" ->
      s"""WITH v AS ($simhash64Sql),
         |e AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |      FROM v a JOIN v b ON a.doc_id < b.doc_id
         |      WHERE bit_count(xor(a.simhash64, b.simhash64)) <= 3)
         |SELECT ab.doc_a, ab.doc_b, bc.doc_b AS doc_c
         |FROM e ab JOIN e bc ON ab.doc_b = bc.doc_a
         |JOIN e ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b""".stripMargin,
    "q_locf_spend" ->
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
         |FROM g LEFT JOIN d ON d.category = g.category AND d.txn_date = g.txn_date""".stripMargin,
    "q_pareto_vendors" ->
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
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
    "q_ann_filtered" ->
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
         |SELECT query_id, rnk, neighbor_id, cosine FROM r WHERE rnk <= 10""".stripMargin,
    // the high-fidelity PQ point: the SAME certified chain at
    // subWidth=4 / ksub=64 (96 code bits — see q_pq_hi's comment)
    "q_pq_hi" ->
      s"""${pqBaseSqlFor(4, 64)},
         |r AS (SELECT query_id, vec_id AS neighbor_id, adist,
         |             row_number() OVER (PARTITION BY query_id
         |               ORDER BY adist, vec_id) AS rnk
         |      FROM dist)
         |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, adist
         |FROM r WHERE rnk <= 10""".stripMargin,
    // IVF-SQ8 at auto cell count: certified 2-iteration coarse chain,
    // integer probe centroids from the final membership, SQ8 code
    // distance within probed cells
    "q_ivf_sq8_auto" -> ivfSq8AutoSql,
    // IVF-RQ at auto cell count: certified coarse chain, additive
    // residual codebooks (seeds md5(vec_id || 'r') / md5(vec_id ||
    // 'rr')), per-cell query residuals, combined-table ADC within
    // probed cells only
    "q_ivfrq_auto" ->
      s"""$ivfRqAutoBaseSql
         |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, adist,
         |       (SELECT CAST(k AS BIGINT) FROM ki) AS n_cells
         |FROM r WHERE rnk <= 10""".stripMargin,
    // IVF-RQ + exact re-rank: the probed additive-code pool (50)
    // refined by exact quantized cosine
    "q_ivfrq_rerank" ->
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
         |FROM f WHERE rnk <= 10""".stripMargin,
    // the auto-sized IVFADC chain: nCells derived from COUNT(*) via
    // the +-1-corrected-sqrt contract (q_semdedup_hier's pattern),
    // nProbe = LEAST(2, nCells) — cardinality-robust at any SF
    "q_ivfpq_auto" ->
      s"""$ivfpqAutoSql
         |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, adist,
         |       (SELECT CAST(k AS BIGINT) FROM ki) AS n_cells
         |FROM r WHERE rnk <= 10""".stripMargin,
    // the same IVFADC chain with the candidate predicate restricting
    // the code side of the ADC join — filtered search, shared index
    "q_ann_filtered_ivfpq" ->
      s"""${ivfpqBaseSqlFor("label % 2 = 0")}
         |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, adist
         |FROM r WHERE rnk <= 10""".stripMargin,
    "q_ann_filtered_sq8" ->
      s"""${sq8BaseSqlFor("label % 2 = 0")}
         |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, adist
         |FROM r WHERE rnk <= 10""".stripMargin,
    // SQ8 replay: affine 8-bit codes off per-dim min/max bounds, then
    // symmetric integer code-space distance — see sq8BaseSql
    "q_sq8_topk" ->
      s"""$sq8BaseSql
         |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, adist
         |FROM r WHERE rnk <= 10""".stripMargin,
    // SQ8 code-space proposes the 50-pool; exact quantized cosine
    // re-ranks it — the FAISS refine step
    "q_sq8_rerank" ->
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
         |FROM f WHERE rnk <= 10""".stripMargin,
    "q_hard_negatives" ->
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
         |FROM r WHERE rnk <= 10""".stripMargin,
    "q_bpe_pairs" ->
      raw"""WITH t AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS toks
           |           FROM documents),
           |wd AS (SELECT unnest(toks) AS w FROM t),
           |p AS (SELECT unnest(list_transform(range(1, greatest(length(w), 1)),
           |                    i -> w[i : i + 1])) AS pair
           |      FROM wd)
           |SELECT pair, CAST(count(*) AS BIGINT) AS n
           |FROM p GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 50""".stripMargin,
    "q_bpe_train" -> bpeTrainSql(4),
    "q_bpe_apply" -> bpeApplySql(4),
    "q_bpe_fertility" -> bpeFertilitySql(4),
    // corpus-trained bigram LM: per-bigram P(w2|w1) from exact counts,
    // quantized to floor(1e9·p) BEFORE summation so the per-doc sum is
    // an order-free integer (ln-based perplexity would hash-diverge)
    "q_bigram_lm" ->
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
           |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin,
    // reference-trained LM: counts from the 'en' slice only; target
    // bigrams unseen in the reference contribute 0 and count as oov
    "q_bigram_lm_ref" ->
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
           |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin,
    // the bloom is an exactness-preserving prefilter, so the oracle is
    // the PLAIN semi join — any bloom false negative would hash-diverge
    "q_bloom_semi" ->
      """SELECT l_returnflag,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag""".stripMargin,
    "q_embedding_centroids" ->
      s"""WITH n AS ($quantizedSql),
         |e AS (SELECT label, generate_subscripts(q, 1) - 1 AS d, unnest(q) AS x FROM n)
         |SELECT label, CAST(d AS BIGINT) AS d,
         |       CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS centroid,
         |       count(*) AS n
         |FROM e GROUP BY label, d""".stripMargin,
    // the one-shot closure — the engine computes the SAME labeling
    // incrementally (two per-slice fixpoints + the merge contraction),
    // so a hash match certifies the merge law on the real dup graph
    "q_cc_incremental" ->
      s"""$dedupCorpusBaseSql
         |SELECT id, label FROM reach""".stripMargin,
    "q_dedup_corpus" ->
      s"""$dedupCorpusBaseSql,
         |losers AS (SELECT id AS doc_id FROM reach WHERE label < id)
         |SELECT d.doc_id, d.n_chars FROM documents d
         |LEFT JOIN losers l ON l.doc_id = d.doc_id WHERE l.doc_id IS NULL""".stripMargin,
    // governance ledger over the same closure: per-source in/kept
    "q_dedup_savings" ->
      s"""$dedupCorpusBaseSql,
         |losers AS (SELECT id AS doc_id FROM reach WHERE label < id)
         |SELECT d.source,
         |       count(*) AS docs_in,
         |       CAST(sum(CASE WHEN l.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
         |       CAST(sum(d.n_chars) AS BIGINT) AS chars_in,
         |       CAST(sum(CASE WHEN l.doc_id IS NULL THEN d.n_chars ELSE 0 END) AS BIGINT) AS chars_kept
         |FROM documents d LEFT JOIN losers l ON l.doc_id = d.doc_id
         |GROUP BY d.source""".stripMargin,
    // cross-modal closure: text edges ∪ fingerprint (hamming <= 3)
    // edges, one recursive reachability, min-id survivors
    "q_crossmodal_dedup" ->
      s"""WITH $dedupEdgesCtes,
         |$fingerprint64Ctes,
         |mp AS (SELECT a.id AS doc_a, b.id AS doc_b
         |       FROM ph a JOIN ph b ON a.id < b.id
         |       WHERE bit_count(xor(a.fp, b.fp)) <= 3),
         |alledges AS (SELECT doc_a, doc_b FROM edges
         |             UNION SELECT doc_a, doc_b FROM mp
         |             UNION SELECT doc_b AS doc_a, doc_a AS doc_b FROM mp),
         |xreach AS (
         |  WITH RECURSIVE r(id, m) AS (
         |    SELECT doc_a AS id, doc_a AS m FROM alledges
         |    UNION
         |    SELECT e.doc_a, r.m FROM alledges e JOIN r ON r.id = e.doc_b
         |  ) SELECT id, min(m) AS label FROM r GROUP BY id),
         |losers AS (SELECT id AS doc_id FROM xreach WHERE label < id)
         |SELECT d.doc_id, d.n_chars FROM documents d
         |LEFT JOIN losers l ON l.doc_id = d.doc_id WHERE l.doc_id IS NULL""".stripMargin,
    // channel-decomposed savings: three recursive closures (text-only,
    // payload-only, union) — single-channel losers nest in the union's,
    // so text/payload/cross classes partition the union losers
    "q_crossmodal_savings" ->
      s"""WITH $dedupEdgesCtes,
         |$fingerprint64Ctes,
         |mp AS (SELECT a.id AS doc_a, b.id AS doc_b
         |       FROM ph a JOIN ph b ON a.id < b.id
         |       WHERE bit_count(xor(a.fp, b.fp)) <= 3),
         |medges AS (SELECT doc_a, doc_b FROM mp
         |           UNION SELECT doc_b AS doc_a, doc_a AS doc_b FROM mp),
         |alledges AS (SELECT doc_a, doc_b FROM edges
         |             UNION SELECT doc_a, doc_b FROM medges),
         |treach AS (
         |  WITH RECURSIVE r(id, m) AS (
         |    SELECT doc_a AS id, doc_a AS m FROM edges
         |    UNION
         |    SELECT e.doc_a, r.m FROM edges e JOIN r ON r.id = e.doc_b
         |  ) SELECT id, min(m) AS label FROM r GROUP BY id),
         |mreach AS (
         |  WITH RECURSIVE r(id, m) AS (
         |    SELECT doc_a AS id, doc_a AS m FROM medges
         |    UNION
         |    SELECT e.doc_a, r.m FROM medges e JOIN r ON r.id = e.doc_b
         |  ) SELECT id, min(m) AS label FROM r GROUP BY id),
         |xreach AS (
         |  WITH RECURSIVE r(id, m) AS (
         |    SELECT doc_a AS id, doc_a AS m FROM alledges
         |    UNION
         |    SELECT e.doc_a, r.m FROM alledges e JOIN r ON r.id = e.doc_b
         |  ) SELECT id, min(m) AS label FROM r GROUP BY id),
         |lt AS (SELECT id FROM treach WHERE label < id),
         |lm AS (SELECT id FROM mreach WHERE label < id),
         |lu AS (SELECT id FROM xreach WHERE label < id)
         |SELECT d.source,
         |       count(*) AS docs_in,
         |       CAST(sum(CASE WHEN lu.id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
         |       CAST(sum(CASE WHEN lt.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS lost_text_docs,
         |       CAST(sum(CASE WHEN lt.id IS NULL AND lm.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS lost_payload_docs,
         |       CAST(sum(CASE WHEN lu.id IS NOT NULL AND lt.id IS NULL AND lm.id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS lost_cross_docs,
         |       CAST(sum(d.n_chars) AS BIGINT) AS chars_in,
         |       CAST(sum(CASE WHEN lu.id IS NULL THEN d.n_chars ELSE 0 END) AS BIGINT) AS chars_kept,
         |       CAST(sum(CASE WHEN lt.id IS NOT NULL THEN d.n_chars ELSE 0 END) AS BIGINT) AS lost_text_chars,
         |       CAST(sum(CASE WHEN lt.id IS NULL AND lm.id IS NOT NULL THEN d.n_chars ELSE 0 END) AS BIGINT) AS lost_payload_chars,
         |       CAST(sum(CASE WHEN lu.id IS NOT NULL AND lt.id IS NULL AND lm.id IS NULL THEN d.n_chars ELSE 0 END) AS BIGINT) AS lost_cross_chars
         |FROM documents d
         |LEFT JOIN lt ON lt.id = d.doc_id
         |LEFT JOIN lm ON lm.id = d.doc_id
         |LEFT JOIN lu ON lu.id = d.doc_id
         |GROUP BY d.source""".stripMargin,
    // PageRank unrolled: 3 exact-integer iterations over the
    // symmetrized edges (deg >= 1 and in-edges >= 1 for every node, so
    // the incoming sum is never NULL); HUGEINT intermediates wrap to
    // BIGINT only at the end
    "q_dup_pagerank" ->
      s"""WITH $dedupEdgesCtes,
         |$dupPageRankCtes
         |SELECT p3.id AS doc_id, pdeg.deg, CAST(p3.pr AS BIGINT) AS pr_scaled
         |FROM p3 JOIN pdeg ON pdeg.id = p3.id""".stripMargin,
    // centrality survivor rule: the same closure + rank table, one
    // cluster-partitioned window keeps the top-rank copy
    "q_dedup_by_rank" ->
      s"""$dedupCorpusBaseSql,
         |$dupPageRankCtes,
         |rranked AS (SELECT re.id AS doc_id,
         |                   row_number() OVER (PARTITION BY re.label
         |                     ORDER BY p3.pr DESC, re.id ASC) AS rk
         |            FROM reach re JOIN p3 ON p3.id = re.id),
         |losers AS (SELECT doc_id FROM rranked WHERE rk > 1)
         |SELECT d.doc_id, d.n_chars FROM documents d
         |LEFT JOIN losers l ON l.doc_id = d.doc_id WHERE l.doc_id IS NULL""".stripMargin,
    // bounded-walk recursive CTE + min(hops) certifies the BFS: edges
    // already holds both orientations, reps seed at hop 0
    "q_dup_hops" ->
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
         |SELECT doc_id, label, hops FROM sp""".stripMargin,
    "q_dedup_corpus_by" ->
      s"""$dedupCorpusBaseSql,
         |ranked AS (SELECT re.id AS doc_id,
         |                  row_number() OVER (PARTITION BY re.label
         |                    ORDER BY d.n_chars DESC, re.id ASC) AS rk
         |           FROM reach re JOIN documents d ON d.doc_id = re.id),
         |losers AS (SELECT doc_id FROM ranked WHERE rk > 1)
         |SELECT d.doc_id, d.n_chars FROM documents d
         |LEFT JOIN losers l ON l.doc_id = d.doc_id WHERE l.doc_id IS NULL""".stripMargin,
    // same recursive-CTE closure as q_dedup_corpus supplies the
    // cluster labels; unclustered docs label as themselves
    "q_leakage_split" ->
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
         |FROM sp GROUP BY split""".stripMargin,
    "q_lsh_topk" -> lshTopkOracleSql,
    // deterministic NN-descent kNN-graph: LSH-seeded lists, 2 unrolled
    // neighbor-of-neighbor rounds, exact integer L2, id tie-breaks
    "q_knn_graph" -> knnGraphSql,
    // beam search over the graph: global md5 entry points + 3 unrolled
    // hops (beam windows, not-visited anti-joins, integer L2 scoring)
    "q_knn_graph_search" -> knnGraphSearchSql,
    "q_mmr_rerank" -> mmrOracleSql,
    // rank-based fusion of the two method oracles; each fused score
    // has <= 2 addends, a single commutative-exact FP addition
    "q_rrf_fusion" ->
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
         |FROM r WHERE rnk <= 10""".stripMargin,
    "q_lsh_topk_multi" ->
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
         |$lshTopKTailSql""".stripMargin,
    "q_embedding_neardup_lsh" ->
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
         |WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) >= 0.4""".stripMargin,
    // same pair machinery at the AUTO bit-width, CARDINALITY-ROBUST
    // (r15): bits is derived from COUNT(*) by the same integer
    // threshold chain as autoLshBits — no sf-pinned literal, so the
    // oracle stays green at every scale factor and survives a driver
    // testdata regen (see lshAutoNearDupSql)
    "q_embedding_neardup_lsh_auto" -> lshAutoNearDupSql,
    "q_ivf_topk" -> ivfTopkOracleSql,
    "q_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |       cast(sum(cast(l_quantity AS DECIMAL(18,2))) AS double) AS sum_qty,
        |       cast(sum(cast(l_extendedprice AS DECIMAL(18,2))) AS double) AS sum_base_price,
        |       cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS double) AS sum_disc_price,
        |       cast(sum(cast(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(24,6))) AS double) AS sum_charge,
        |       cast(sum(cast(l_quantity AS DECIMAL(18,2))) AS double) / cast(count(*) AS double) AS avg_qty,
        |       cast(sum(cast(l_extendedprice AS DECIMAL(18,2))) AS double) / cast(count(*) AS double) AS avg_price,
        |       cast(sum(cast(l_discount AS DECIMAL(18,2))) AS double) / cast(count(*) AS double) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_tpch_q3" ->
      """SELECT l_orderkey,
        |       cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS double) AS revenue,
        |       o_orderdate
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1997-06-15'
        |  AND l_shipdate > TIMESTAMP '1997-06-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,
    "q_tpch_q5" ->
      """SELECT n_name,
        |       cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS double) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin,
    "q_tpch_q10" ->
      """SELECT c_custkey, c_name,
        |       cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS double) AS revenue,
        |       c_acctbal, n_name
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1996-04-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,
    "q_tpch_q6" ->
      """SELECT cast(sum(cast(l_extendedprice * l_discount AS DECIMAL(18,4))) AS double) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24.0""".stripMargin,
    "q_tpch_q18" ->
      """WITH big AS (SELECT l_orderkey,
        |                    cast(sum(cast(l_quantity AS DECIMAL(18,2))) AS double) AS total_qty
        |             FROM lineitem GROUP BY l_orderkey
        |             HAVING sum(cast(l_quantity AS DECIMAL(18,2))) > 150)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
        |FROM big JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    // quantile_cont == ExactPercentiles' linear interpolation over
    // exact integer day counts
    "q_fulfillment_latency" ->
      """WITH l AS (SELECT l_orderkey, max(l_shipdate) AS lastship
        |           FROM lineitem GROUP BY 1),
        |j AS (SELECT o_orderpriority,
        |             CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |                            CAST(lastship AS DATE)) AS DOUBLE) AS lat_days
        |      FROM orders JOIN l ON l_orderkey = o_orderkey)
        |SELECT o_orderpriority,
        |       quantile_cont(lat_days, 0.5) AS p50_days,
        |       quantile_cont(lat_days, 0.9) AS p90_days,
        |       max(lat_days) AS max_days,
        |       count(*) AS n_orders
        |FROM j GROUP BY 1""".stripMargin,
    // Q20 shape: the correlated per-part total decorrelates into one
    // part-keyed aggregate; 2·cents > cents_total is exact integers
    "q_tpch_q20_lite" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey,
        |                   CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) * 100 AS BIGINT) AS c
        |            FROM lineitem JOIN part ON p_partkey = l_partkey
        |            WHERE p_name LIKE 'red%'
        |              AND l_shipdate >= TIMESTAMP '1995-01-01'
        |              AND l_shipdate < TIMESTAMP '1996-01-01'
        |            GROUP BY 1, 2),
        |pt AS (SELECT l_partkey, CAST(sum(c) AS BIGINT) AS ctot FROM ps GROUP BY 1),
        |fl AS (SELECT DISTINCT ps.l_suppkey FROM ps JOIN pt USING (l_partkey)
        |       WHERE 2 * ps.c > pt.ctot)
        |SELECT s_suppkey, s_name
        |FROM supplier JOIN nation ON n_nationkey = s_nationkey
        |JOIN fl ON fl.l_suppkey = s_suppkey
        |WHERE n_name = 'NATION_9'""".stripMargin,
    "q_tpch_q13" ->
      """WITH c_orders AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM c_orders GROUP BY c_count""".stripMargin,
    "q_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin,
    "q_min_price_supplier" -> Relational.minPriceSupplierSql,
    // identical SQL text on both engines — the CTE-derived partsupp
    // surrogate, the correlated min/sum, and the NULL-comparison
    // semantics are all ANSI
    "q_tpch_q2" -> Relational.tpchQ2Sql,
    "q_tpch_q20" -> Relational.tpchQ20Sql,
    "q_tpch_q12" ->
      """SELECT l_returnflag,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM orders, lineitem
        |WHERE o_orderkey = l_orderkey
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag""".stripMargin,
    "q_tpch_q22" -> Relational.inactiveHighBalanceSql,
    // Q16 shape: the NOT IN is exact (s_suppkey non-null), lineitem
    // pairs stand in for partsupp, s_name for s_comment
    "q_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey
        |  AND p_brand <> 'Brand#45'
        |  AND p_type NOT LIKE 'MEDIUM%'
        |  AND p_size IN (49, 14, 23, 45, 19, 3, 36, 9)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7%')
        |GROUP BY 1, 2, 3""".stripMargin,
    "q_tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem, orders, customer, supplier, nation n1, nation n2
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey
        |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3""".stripMargin,
    "q_tpch_q11" -> Relational.importantPartsSql,
    "q_tpch_q8" ->
      """WITH base AS (
        |  SELECT year(o.o_orderdate) AS o_year,
        |         CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,4)) AS rev,
        |         ns.n_name AS supp_nation
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation nc ON c.c_nationkey = nc.n_nationkey
        |  JOIN region r ON nc.n_regionkey = r.r_regionkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation ns ON s.s_nationkey = ns.n_nationkey
        |  WHERE r.r_name = 'ASIA'
        |    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o.o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT CAST(o_year AS BIGINT) AS o_year,
        |       CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN rev
        |                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |         / CAST(sum(rev) AS DOUBLE) AS mkt_share,
        |       CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN rev
        |                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS nation_revenue,
        |       CAST(sum(rev) AS DOUBLE) AS total_revenue
        |FROM base GROUP BY o_year""".stripMargin,
    "q_tpch_q9" ->
      """SELECT n.n_name AS nation, CAST(year(l.l_shipdate) AS BIGINT) AS o_year,
        |       CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS profit
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE p.p_name LIKE '%widget%'
        |GROUP BY 1, 2""".stripMargin,
    "q_tpch_q19" ->
      """SELECT CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey AND (
        |   (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity >= 1 AND l_quantity <= 30)
        |OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 25
        |    AND l_quantity >= 10 AND l_quantity <= 40)
        |OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 35
        |    AND l_quantity >= 20 AND l_quantity <= 50))""".stripMargin,
    "q_minhash_estimate" -> minhashEstimateSql,
    "q_tpch_q15" -> Relational.topSupplierSql,
    "q_tpch_q17" -> Relational.smallLotRevenueSql,
    "q_ref_integrity" ->
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
        |          ON n.n_regionkey = r.r_regionkey WHERE r.r_regionkey IS NULL)""".stripMargin,
    "q_token_budget_mix" ->
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
        |FROM counts c JOIN w ON w.lang = c.lang""".stripMargin,
    "q_temperature_mix" ->
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
        |FROM p LEFT JOIN kept ON kept.lang = p.lang""".stripMargin,
    "q_cumulative_users" ->
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_day
        |           FROM events GROUP BY user_id),
        |d AS (SELECT first_day, count(*) AS n_new FROM f GROUP BY first_day)
        |SELECT first_day, n_new,
        |       CAST(sum(n_new) OVER (ORDER BY first_day ASC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_cumulative
        |FROM d""".stripMargin,
    "q_time_weighted_value" ->
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
        |HAVING sum(dur) > 0""".stripMargin,
    "q_gini_vendors" ->
      s"""WITH tot AS (SELECT vendor, sum(cast(amount AS DECIMAL(14,2))) AS total
         |             FROM ($txSql) GROUP BY vendor),
         |r AS (SELECT vendor, total,
         |             row_number() OVER (ORDER BY total ASC, vendor ASC) AS rk
         |      FROM tot)
         |SELECT count(*) AS n_keys,
         |       cast(2 * sum(total * rk) - (count(*) + 1) * sum(total) AS double)
         |         / cast(count(*) * sum(total) AS double) AS gini
         |FROM r""".stripMargin,
    "q_tpch_q14" ->
      """SELECT 100.0 * cast(sum(CASE WHEN p_type = 'PROMO'
        |                             THEN cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))
        |                             ELSE cast(0 AS DECIMAL(18,4)) END) AS double)
        |         / cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS double) AS promo_revenue_pct,
        |       cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS double) AS total_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin,
    "q_normalize_text" ->
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
           |FROM n""".stripMargin,
    // islands form of session_window: break only when diff > gap
    // (exact-gap events merge — spec-pinned against the Spark
    // operator); session end = last event + gap. Equal timestamps
    // cannot break a session, so the lag order is tie-stable.
    "q_session_window" ->
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
        |FROM g GROUP BY user_id, sid""".stripMargin,
    // lift = ONE division of two exact BIGINT products, mirroring the
    // Spark expression operand-for-operand
    "q_cooccurrence" ->
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
        |       CROSS JOIN n""".stripMargin,
    // the q_corr_lineitem discipline over lag-7 calendar-aligned
    // pairs: decimal moment sums, VARCHAR-bridged doubles, mirrored
    // variance guard
    "q_autocorr" ->
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
         |FROM a""".stripMargin,
    // first-touch min, conversion-at-or-after min, then pure integer
    // µs -> sec -> day floor divisions; the mean is the only FP op
    "q_conversion_lag" ->
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
        |FROM l GROUP BY 1""".stripMargin,
    // two leads over the same total (µs-truncated ts, event_id) order;
    // deterministic top-k tie-break (n desc, path asc)
    "q_path_trigrams" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |                  CAST(ts AS TIMESTAMP) AS tsu FROM events),
        |p AS (SELECT event_type AS t1,
        |             lead(event_type, 1) OVER w AS t2,
        |             lead(event_type, 2) OVER w AS t3
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
        |c AS (SELECT t1, t2, t3, count(*) AS n FROM p
        |      WHERE t3 IS NOT NULL GROUP BY 1, 2, 3)
        |SELECT t1, t2, t3, n FROM c
        |ORDER BY n DESC, t1 ASC, t2 ASC, t3 ASC LIMIT 25""".stripMargin,
    // lag over the same total (µs-truncated ts, event_id) order; the
    // share division mirrors the exact-count operands
    "q_event_transitions" ->
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
        |FROM c JOIN t ON c.prev_type = t.prev_type""".stripMargin,
    // same islands sessionization as q_session_window supplies the
    // intervals; the window cumsum in (t, delta) order stands in for
    // the engine's distributed prefix sum (-1 before +1 at shared
    // instants: level = intervals with start <= t < end)
    "q_peak_concurrency" ->
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
        |FROM c GROUP BY 1""".stripMargin,
    // literal double-correlated textbook form — certifies the
    // decorrelated per-order-aggregate plan against the EXISTS semantics
    "q_tpch_q21" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,
    "q_boilerplate" ->
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
        |FROM pd GROUP BY source""".stripMargin,
    "q_gopher_filter" ->
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
        |FROM flags GROUP BY source""".stripMargin,
    // identical fixed-point Lloyd iterations replayed in DuckDB: same
    // md5 seed order, same +2^20 shift (trunc==floor on non-negative),
    // same integer `//` centroids, same int64 distances and tie-break
    "q_kmeans" ->
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
        |GROUP BY 1""".stripMargin,
    // hashing-trick replay: same md5 bucket, same md5 centi-weight,
    // exact integer sum, one final double division
    "q_quality_classifier" ->
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
        |FROM wts GROUP BY doc_id, lang""".stripMargin,
    // trained-weight overload under the salt-"w2" table: same feature
    // CTE, weight = md5('w2' || bucket) centi-units — replaying the
    // broadcast-lookup path's arithmetic exactly (missing buckets
    // cannot occur here: the table covers every corpus bucket)
    "q_quality_weighted" ->
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
        |FROM wts GROUP BY doc_id, lang""".stripMargin,
    // SemDeDup replay: the q_kmeans fixed-point CTE chain (identical
    // k=8 / 2-iteration assignment a2) + within-cell quantized-cosine
    // pair join + the keep-lowest-id rule
    "q_semdedup" -> semDedupCellsSql,
    // auto-k sibling, CARDINALITY-ROBUST (r15): k = ⌈n/64⌉ derived
    // from COUNT(*) in the oracle itself (integer-exact (n+63)//64,
    // matching autoSemDedupK), so the replay is green at every scale
    // factor instead of pinning the sf0.01 k=8 as a literal
    "q_semdedup_auto" -> semDedupAutoSql,
    // two-level replay, CARDINALITY-ROBUST (r15): the coarse certified
    // chain then per-coarse-cell sub-training ('h'-salted seeds, 2
    // iters) with the coarse id in every key — cell_id = g·k2 + code;
    // k1 = k2 derived from COUNT(*) (smallest k with 64k² >= n,
    // matching autoSemDedupHierK) instead of the pinned sf0.01 k=3
    "q_semdedup_hier" -> semDedupHierDynSql,

    // same explicit integer tile formula — the oracle's row_number
    // window stands in for the engine's distributed rank
    "q_customer_quartiles" ->
      """WITH spend AS (
        |  SELECT c_custkey,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS total
        |  FROM customer JOIN orders ON o_custkey = c_custkey
        |  GROUP BY 1),
        |ranked AS (
        |  SELECT c_custkey, total,
        |         row_number() OVER (ORDER BY total, c_custkey) AS r,
        |         count(*) OVER () AS n
        |  FROM spend)
        |SELECT CAST(((r-1)*4) // n + 1 AS BIGINT) AS quartile,
        |       count(*) AS n_customers,
        |       CAST(sum(total) AS DOUBLE) AS total_spend,
        |       CAST(min(total) AS DOUBLE) AS lo,
        |       CAST(max(total) AS DOUBLE) AS hi
        |FROM ranked GROUP BY 1""".stripMargin,
    // rebuilds the identical cleaned string and hashes it — certifies
    // the transform, not just its stats; empty result coalesces to
    // md5('') exactly as the Spark side does
    "q_boilerplate_apply" ->
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
        |GROUP BY t.doc_id""".stripMargin,
    // the same two integer damping steps unrolled — non-negative
    // operands make // and div agree; ppm shares keep magnitudes
    // scale-free
    "q_trade_rank" ->
      """WITH edges AS (
        |  SELECT ns.n_name AS src, nc.n_name AS dst,
        |         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS w
        |  FROM lineitem
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ns ON s_nationkey = ns.n_nationkey
        |  JOIN nation nc ON c_nationkey = nc.n_nationkey
        |  WHERE ns.n_nationkey <> nc.n_nationkey
        |  GROUP BY 1, 2),
        |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS wtot FROM edges GROUP BY 1),
        |shares AS (SELECT e.src, e.dst,
        |                  CAST((e.w * 1000000) // o.wtot AS BIGINT) AS ppm
        |           FROM edges e JOIN outw o ON e.src = o.src),
        |nodes AS (SELECT DISTINCT src AS name FROM edges
        |          UNION SELECT DISTINCT dst FROM edges),
        |r0 AS (SELECT name, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |r1 AS (SELECT n.name,
        |              150000 + ((COALESCE(c.s, 0) // 1000000) * 85) // 100 AS r
        |       FROM nodes n LEFT JOIN (
        |         SELECT s.dst AS name, CAST(sum(r0.r * s.ppm) AS BIGINT) AS s
        |         FROM shares s JOIN r0 ON s.src = r0.name GROUP BY 1) c USING (name)),
        |r2 AS (SELECT n.name,
        |              150000 + ((COALESCE(c.s, 0) // 1000000) * 85) // 100 AS r
        |       FROM nodes n LEFT JOIN (
        |         SELECT s.dst AS name, CAST(sum(r1.r * s.ppm) AS BIGINT) AS s
        |         FROM shares s JOIN r1 ON s.src = r1.name GROUP BY 1) c USING (name))
        |SELECT name, r AS rank_fp FROM r2""".stripMargin,
    // same exact-moment CTE as corr; slope/intercept/r2 are the SAME
    // fixed IEEE expression trees as the Spark side
    "q_regression" ->
      """WITH t AS (SELECT l_returnflag, count(*) AS n,
        |                  sum(cast(l_quantity AS DECIMAL(14,2))) AS sx,
        |                  sum(cast(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |                  sum(cast(cast(l_quantity AS DECIMAL(14,2)) * cast(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(34,4))) AS sxy,
        |                  sum(cast(cast(l_quantity AS DECIMAL(14,2)) * cast(l_quantity AS DECIMAL(14,2)) AS DECIMAL(30,4))) AS sxx,
        |                  sum(cast(cast(l_extendedprice AS DECIMAL(18,2)) * cast(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS syy
        |           FROM lineitem GROUP BY l_returnflag),
        |d AS (SELECT l_returnflag, n,
        |             cast(n AS double) AS nd,
        |             cast(cast(sx AS VARCHAR) AS double) AS dsx,
        |             cast(cast(sy AS VARCHAR) AS double) AS dsy,
        |             cast(cast(sxy AS VARCHAR) AS double) AS dsxy,
        |             cast(cast(sxx AS VARCHAR) AS double) AS dsxx,
        |             cast(cast(syy AS VARCHAR) AS double) AS dsyy
        |      FROM t)
        |SELECT l_returnflag, n,
        |       (nd * dsxy - dsx * dsy) / (nd * dsxx - dsx * dsx) AS slope,
        |       (dsy - ((nd * dsxy - dsx * dsy) / (nd * dsxx - dsx * dsx)) * dsx) / nd AS intercept,
        |       ((nd * dsxy - dsx * dsy) * (nd * dsxy - dsx * dsy))
        |         / ((nd * dsxx - dsx * dsx) * (nd * dsyy - dsy * dsy)) AS r2
        |FROM d""".stripMargin,
    // dual row_numbers mirror min_by/max_by's (ts, event_id) tie-break
    "q_ohlc_bars" ->
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
        |FROM r GROUP BY 1,2""".stripMargin,
    // same mark-counting integer arithmetic over the same md5 order;
    // the window cumsum stands in for the engine's partitioned prefix
    // sums
    "q_pps_sample" ->
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
        |WHERE (ci + step - 1) // step > (ci - w + step - 1) // step""".stripMargin,
    // exact integer squared-count sums; DuckDB HUGEINT products cast
    // back to BIGINT/DOUBLE to match Spark's long arithmetic
    "q_concentration" ->
      """WITH c AS (SELECT source, lang, count(*) AS c
        |           FROM documents GROUP BY 1, 2)
        |SELECT source,
        |       CAST(sum(c) AS BIGINT) AS n_rows,
        |       count(*) AS n_distinct,
        |       CAST(sum(c)*sum(c) - sum(c*c) AS DOUBLE)
        |         / CAST(sum(c)*sum(c) AS DOUBLE) AS gini_impurity,
        |       CAST((sum(c*c) * 1000000) // (sum(c)*sum(c)) AS BIGINT) AS hhi_ppm
        |FROM c GROUP BY source""".stripMargin,
    // the literal quadratic dominance predicate certifies the
    // sorted-prefix-max rewrite
    "q_skyline_parts" ->
      """WITH pts AS (SELECT p_partkey,
        |                    CAST(floor(p_retailprice * 100) AS BIGINT) AS price_cents,
        |                    CAST(p_size AS BIGINT) AS p_size
        |             FROM part)
        |SELECT p.p_partkey, p.price_cents, p.p_size
        |FROM pts p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pts q
        |  WHERE q.price_cents <= p.price_cents AND q.p_size >= p.p_size
        |    AND (q.price_cents < p.price_cents OR q.p_size > p.p_size))""".stripMargin,
  )

  /** DuckDB rendering of the SAME canonical orders row the Spark side
    * hashes (ordersChecksumCols): chr(1) separator, chr(2) NULL mark,
    * money floor-quantized to cents before stringification. */
  private val ordersDigestSql =
    """md5(concat_ws(chr(1),
      |  COALESCE(CAST(o_orderkey AS VARCHAR), chr(2)),
      |  COALESCE(CAST(o_custkey AS VARCHAR), chr(2)),
      |  COALESCE(o_orderstatus, chr(2)),
      |  COALESCE(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR), chr(2)),
      |  COALESCE(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), chr(2)),
      |  COALESCE(o_orderpriority, chr(2))))""".stripMargin.replace("\n", " ")

  /** Quantized embeddings CTE body (floor(x*1e6) exact-integer vectors
    * + exact squared norms — see Similarity.quantize). */
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

  /** The IVFADC chain with nCells derived from COUNT(*) — the
    * `q_semdedup_hier` ±1-corrected-sqrt contract applied to the
    * coarse quantizer (`Similarity.autoIvfCells`): kr = the correctly-
    * rounded float estimate of √(n/64), ki the exact smallest c with
    * 64·c² ≥ n. nProbe = LEAST(2, c) keeps the tiny-corpus gate legal
    * (c = 1 at sf0.001). */
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

  /** `q_ann_frontier` replay: the cost CASE and floor table are
    * GENERATED from `functions.AnnPolicy`'s expression trees — the
    * very objects the engine evaluates — so the two sides cannot
    * drift (r18, VERDICT task 2); the same pareto rule over
    * (cost_units ASC, floor DESC); recall_ok is literal 1 (the
    * engine's measured-recall check, q_ann_recall's flag pattern). */
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

  /** DuckDB replay of the SQ8 code table + symmetric code-space scan
    * (Similarity.sq8CodeTable / sq8TopK): per-dim (mn, mx) bounds over
    * the quantized grid, affine 8-bit codes `((x - mn) * 255) // (mx -
    * mn)` — every operand non-negative, so DuckDB's flooring `//` and
    * Spark's truncating `div` coincide — then `|qc - cc|² = ncc_q +
    * ncc_c - 2·qc·cc` ranked (adist ASC, id ASC). */
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

  private lazy val sq8BaseSql = sq8BaseSqlFor("TRUE")

  private val quantizedSql =
    """SELECT vec_id, label,
      |       list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q,
      |       CAST(list_sum(list_transform(
      |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)),
      |         z -> z * z)) AS BIGINT) AS nq
      |FROM embeddings""".stripMargin

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

  /** Distinct word-3-gram shingle sets per document (mirror of
    * Dedup.shingles(n=3)), parameterized by the docs source so the
    * composed curation-ledger oracle can shingle intermediate stages
    * (r15). */
  private def shinglesSqlFrom(src: String): String =
    s"""SELECT doc_id, lang, source,
       |       list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
       |         i -> array_to_string(toks[i:i+2], ' '))) AS sh
       |FROM (SELECT doc_id, lang, source,
       |             string_split_regex(trim(lower(text)), '\\s+') AS toks
       |      FROM $src)""".stripMargin

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
  /** Text-channel duplicate EDGES only (exact + banded MinHash near-dup,
    * both orientations) — the reusable prefix `dedupCorpusBaseSql`
    * closes over with `reach`; `q_crossmodal_dedup` instead unions
    * these edges with the fingerprint channel's before ITS closure. */
  /** Exact + MinHash-LSH dup-edge CTE chain over an arbitrary docs
    * source, with every CTE name suffixed so TWO independent dedup
    * chains can coexist in one statement (the curation ledger runs one
    * over the filtered corpus and another over the decontaminated one,
    * r15). `dedupEdgesCtes` keeps the historical unsuffixed form over
    * `documents` for the existing oracles. */
  private def dedupEdgesCtesFrom(src: String, x: String): String = {
    val mins = (0 until 8).map(i => s"min(h1 + $i * h2) AS s$i").mkString(",\n       ")
    val bandRows = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, md5(s${2 * b} || '|' || s${2 * b + 1}) AS bkey FROM sig$x")
      .mkString("\n      UNION ALL ")
    raw"""s$x AS MATERIALIZED (${shinglesSqlFrom(src)}),
       |e$x AS (SELECT doc_id,
       |             CAST('0x' || substring(md5(sh), 1, 8) AS BIGINT) AS h1,
       |             CAST('0x' || substring(md5(sh), 9, 8) AS BIGINT) AS h2
       |      FROM (SELECT doc_id, unnest(sh) AS sh FROM s$x)),
       |sig$x AS MATERIALIZED (SELECT doc_id,
       |       $mins
       |        FROM e$x GROUP BY doc_id),
       |bands$x AS ($bandRows),
       |bcap$x AS (SELECT GREATEST(1000, CAST(ceil(4.0 * sqrt(count(*))) AS BIGINT)) AS c FROM sig$x),
       |bsz$x AS (SELECT band, bkey, count(*) AS cnt FROM bands$x GROUP BY 1, 2),
       |coldb$x AS (SELECT bands$x.* FROM bands$x JOIN bsz$x USING (band, bkey)
       |          WHERE bsz$x.cnt <= (SELECT c FROM bcap$x)),
       |candn$x AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |          FROM coldb$x x JOIN coldb$x y
       |            ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |nearp$x AS (SELECT c.doc_a, c.doc_b
       |          FROM candn$x c
       |          JOIN s$x sa ON sa.doc_id = c.doc_a
       |          JOIN s$x sb ON sb.doc_id = c.doc_b
       |          WHERE cast(len(list_intersect(sa.sh, sb.sh)) AS double)
       |                  / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.5),
       |exactp$x AS (SELECT mn AS doc_a, doc_id AS doc_b FROM (
       |             SELECT doc_id,
       |                    min(doc_id) OVER (PARTITION BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))) AS mn
       |             FROM $src) WHERE doc_id > mn),
       |edges$x AS MATERIALIZED (SELECT doc_a, doc_b FROM nearp$x UNION SELECT doc_a, doc_b FROM exactp$x
       |          UNION SELECT doc_b, doc_a FROM nearp$x UNION SELECT doc_b, doc_a FROM exactp$x)""".stripMargin
  }

  private lazy val dedupEdgesCtes = dedupEdgesCtesFrom("documents", "")

  /** Min-label reachability (connected components) over an `edges$x`
    * CTE emitted by `dedupEdgesCtesFrom`. */
  private def reachCteFrom(x: String): String =
    raw"""reach$x AS (
       |  WITH RECURSIVE r(id, m) AS (
       |    SELECT doc_a AS id, doc_a AS m FROM edges$x
       |    UNION
       |    SELECT e.doc_a, r.m FROM edges$x e JOIN r ON r.id = e.doc_b
       |  ) SELECT id, min(m) AS label FROM r GROUP BY id)""".stripMargin

  private lazy val dedupCorpusBaseSql =
    s"""WITH $dedupEdgesCtes,
       |${reachCteFrom("")}""".stripMargin

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

  /** Morton interleave of two quantized `bits`-bit ints as portable
    * SQL: target bits are disjoint, so `+` assembles the OR exactly. */
  private def zInterleaveSql(aq: String, bq: String, bits: Int): String =
    (0 until bits).map(i =>
      s"((($aq >> $i) & 1) << ${2 * i}) + ((($bq >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  /** Shared CTE prefix for the z-order oracles: min-max bounds, exact
    * integer quantization (DuckDB `//` floor == Spark `div` truncation
    * on the non-negative operands), interleave, and the per-bucket
    * stats + scanned flag for the gate rectangle [100,300]×[10,40]
    * (bits = 8, prefixBits = 8 ⟹ bucket = z >> 8). */
  private lazy val zOrderStatsCtes: String =
    s"""zb AS (SELECT min(l_partkey) AS amn, max(l_partkey) AS amx,
       |             min(l_suppkey) AS bmn, max(l_suppkey) AS bmx
       |      FROM lineitem),
       |zq AS (SELECT l.l_partkey AS a, l.l_suppkey AS b2,
       |              CASE WHEN zb.amx > zb.amn
       |                   THEN ((l.l_partkey - zb.amn) * 255) // (zb.amx - zb.amn)
       |                   ELSE 0 END AS aq,
       |              CASE WHEN zb.bmx > zb.bmn
       |                   THEN ((l.l_suppkey - zb.bmn) * 255) // (zb.bmx - zb.bmn)
       |                   ELSE 0 END AS bq
       |       FROM lineitem l CROSS JOIN zb),
       |zv AS (SELECT a, b2, aq, (${zInterleaveSql("aq", "bq", 8)}) AS z FROM zq),
       |zs AS (SELECT z >> 8 AS z_bucket, count(*) AS n_rows,
       |              min(a) AS min_a, max(a) AS max_a,
       |              min(b2) AS min_b, max(b2) AS max_b
       |       FROM zv GROUP BY 1),
       |zf AS (SELECT z_bucket, n_rows, min_a, max_a, min_b, max_b,
       |              CAST(CASE WHEN max_a >= 100 AND min_a <= 300
       |                         AND max_b >= 10 AND min_b <= 40
       |                        THEN 1 ELSE 0 END AS BIGINT) AS scanned
       |       FROM zs)""".stripMargin

  /** DuckDB replay of the perceptual-hash family over
    * `Synthetic.mediaPayloads`: the payload is repeated single-byte
    * palette chunks, so `Multimodal.perceptualHash`'s 64-bin byte
    * histogram equals the per-bin SUM OF PALETTE COUNTS (bin =
    * byte/4; same-bin palette collisions merge on both sides) — the
    * oracle never unnests bytes. Bit j is set iff 64·cnt > 240, the
    * integer-exact form of the engine's `cnt > len/64.0` (len = 240,
    * counts integral). The hash assembles in HUGEINT (bit 63) and
    * wraps to signed BIGINT — `simhash64Sql`'s convention — then all
    * pairs brute-force through bit_count(xor) ≤ 3, certifying the
    * engine's banded pigeonhole join (recall 1.0 for hamming < bands
    * by construction). */
  /** Decoded-pixel perceptual hash replay (`q_media_phash_px`): the
    * pixels are recomputed ALGEBRAICALLY from `Synthetic.ppmPayloads`'
    * md5 definition (luma = (r+g+b)//3 over the three payload bytes of
    * md5('px'||base||'_'||p); pixel 0 of id%20==1 reads the '_alt'
    * hash), the 8×8 aHash bit p is 64·luma_p > Σluma, the HUGEINT bit
    * sum wraps to signed int64 exactly like the simhash oracles, and
    * pairs brute-force at Hamming <= 3 (banding invisible by the
    * recall-1.0 pigeonhole). The ENGINE path instead decodes real P6
    * bytes through PpmDecoder — a parse error of even one byte
    * hash-diverges here. */
  private lazy val mediaPhashPxOracleSql: String = {
    val bitRows = (0 until 64).map(j => s"($j, ${BigInt(1) << j}::HUGEINT)").mkString(", ")
    s"""WITH pal AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 20 = 1 THEN doc_id - 1
       |              WHEN doc_id % 20 = 2 THEN doc_id - 2
       |              ELSE doc_id END AS base
       |  FROM documents),
       |px AS (
       |  SELECT doc_id, p,
       |         CASE WHEN p = 0 AND doc_id % 20 = 1
       |              THEN md5(concat('px', doc_id, '_alt'))
       |              ELSE md5(concat('px', base, '_', p)) END AS h
       |  FROM pal CROSS JOIN (SELECT unnest(range(64)) AS p) ps),
       |lum AS (
       |  SELECT doc_id, p,
       |         (CAST('0x' || substring(h, 1, 2) AS BIGINT)
       |        + CAST('0x' || substring(h, 3, 2) AS BIGINT)
       |        + CAST('0x' || substring(h, 5, 2) AS BIGINT)) // 3 AS luma
       |  FROM px),
       |tot AS (SELECT doc_id, sum(luma) AS t FROM lum GROUP BY doc_id),
       |bitv AS (SELECT * FROM (VALUES $bitRows) t(bin, v)),
       |phu AS (SELECT l.doc_id, sum(v) AS s
       |        FROM lum l JOIN tot USING (doc_id) JOIN bitv ON bitv.bin = l.p
       |        WHERE 64 * l.luma > tot.t GROUP BY l.doc_id),
       |phz AS (SELECT pal.doc_id, coalesce(phu.s, 0::HUGEINT) AS s
       |        FROM pal LEFT JOIN phu USING (doc_id)),
       |ph2 AS (SELECT doc_id,
       |               CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
       |                         THEN s - 18446744073709551616::HUGEINT
       |                         ELSE s END AS BIGINT) AS ph
       |        FROM phz)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
       |FROM ph2 a JOIN ph2 b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.ph, b.ph)) <= 3""".stripMargin
  }

  private lazy val mediaPhashOracleSql: String = {
    val bitRows = (0 until 64).map(j => s"($j, ${BigInt(1) << j}::HUGEINT)").mkString(", ")
    s"""WITH pal AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 20 = 1 THEN doc_id - 1
       |              WHEN doc_id % 20 = 2 THEN doc_id - 2
       |              ELSE doc_id END AS base
       |  FROM documents),
       |chunks AS (
       |  SELECT doc_id,
       |         CAST('0x' || substring(md5(concat('pal', base, '_', k)), 1, 2) AS BIGINT) AS b,
       |         CASE WHEN k = 0 AND doc_id % 20 = 1 THEN 112
       |              WHEN k = 0 THEN 120
       |              WHEN k = 1 THEN 60 WHEN k = 2 THEN 24 WHEN k = 3 THEN 16
       |              WHEN k = 4 THEN 12 ELSE 8 END AS cnt
       |  FROM pal CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5]) AS k) ks
       |  UNION ALL
       |  SELECT doc_id,
       |         CAST('0x' || substring(md5(concat('pal', doc_id, '_x')), 1, 2) AS BIGINT) AS b,
       |         8 AS cnt
       |  FROM pal WHERE doc_id % 20 = 1),
       |hbins AS (SELECT doc_id, b // 4 AS bin, sum(cnt) AS c
       |          FROM chunks GROUP BY 1, 2),
       |bitv AS (SELECT * FROM (VALUES $bitRows) t(bin, v)),
       |phu AS (SELECT doc_id, sum(v) AS s
       |        FROM hbins JOIN bitv USING (bin)
       |        WHERE 64 * c > 240 GROUP BY doc_id),
       |ph2 AS (SELECT doc_id,
       |               CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
       |                         THEN s - 18446744073709551616::HUGEINT
       |                         ELSE s END AS BIGINT) AS ph
       |        FROM phu)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
       |FROM ph2 a JOIN ph2 b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.ph, b.ph)) <= 3""".stripMargin
  }

  /** DuckDB replay of `Multimodal.contentFingerprint64`: each sliding
    * 4-byte window of the payload becomes the token
    * `substring(hex(content), (i-1)*2+1, 8)` (UPPERCASE hex — exactly
    * the string the engine's decoder hashes), then the simhash64Sql
    * vote/bit convention verbatim. Payloads under 4 bytes have no
    * windows and are excluded on both sides. */
  private val fingerprint64Ctes = {
    val votes = (0 until 64).map { j =>
      val digits =
        if (j < 32) "('8','9','a','b','c','d','e','f')"
        else "('2','3','6','7','a','b','e','f')"
      s"sum(CASE WHEN substring(md5(tok), ${(j % 32) + 1}, 1) IN $digits THEN 1 ELSE -1 END) AS v$j"
    }.mkString(",\n       ")
    val bits = (0 until 64).map(j =>
      s"(CASE WHEN v$j > 0 THEN ${BigInt(1) << j}::HUGEINT ELSE 0::HUGEINT END)")
      .mkString(" + ")
    // CTE names are fp_-prefixed so these compose collision-free with
    // the text dedup CTEs (q_crossmodal_dedup unions both families)
    raw"""fp_m AS (SELECT doc_id AS id, hex(encode(text)) AS hx
       |           FROM documents WHERE octet_length(encode(text)) >= 4),
       |fp_e AS (SELECT id, substring(hx, (i-1)*2+1, 8) AS tok
       |      FROM fp_m, UNNEST(range(1, length(hx)//2 - 2)) AS u(i)),
       |fp_v AS (SELECT id,
       |       $votes
       |      FROM fp_e GROUP BY id),
       |fp_u AS (SELECT id, $bits AS s FROM fp_v),
       |ph AS (SELECT id,
       |         CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
       |              THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT) AS fp
       |       FROM fp_u)""".stripMargin
  }

  private val fingerprint64Sql = "WITH " + fingerprint64Ctes

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
