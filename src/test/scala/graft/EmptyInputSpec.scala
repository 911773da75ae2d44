package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{DataQuality, Dedup, TextAnalysis}
import graft.operators.{Relational, ReportUpsert, SpendingReport, Temporal}

/** Degenerate-input behavior: every operator must handle an empty
  * input without throwing (the reference's own empty-upload-list case,
  * /root/reference/transformer.py:143-145 returns early; our plans just
  * produce empty/null results). */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private def emptyTx: DataFrame =
    Seq.empty[(String, String, String, Double)]
      .toDF("dt", "category", "vendor", "amount")
      .selectExpr("to_date(dt) AS txn_date", "category", "vendor", "amount")

  private def emptyDocs: DataFrame =
    Seq.empty[(Long, String)].toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))

  test("report pipeline on zero transactions") {
    val g = SpendingReport.globalSummary(emptyTx).head()
    assert(g.isNullAt(0) && g.getLong(1) == 0L && g.isNullAt(2))
    assert(SpendingReport.keyTotals(emptyTx, "category").count() == 0)
    assert(SpendingReport.pctChangeLatest(emptyTx, "category").count() == 0)
    assert(SpendingReport.top5Asc(emptyTx, "vendor").count() == 0)
  }

  test("enriched on zero transactions fails with a named error") {
    val e = intercept[IllegalArgumentException](SpendingReport.enriched(emptyTx))
    assert(e.getMessage.contains("no transactions to report"))
  }

  test("merge with an empty incoming batch keeps existing rows") {
    val existing = Seq(("2024-01-01", 10.0, "e", 5L))
      .toDF("dt", "total_spent", "version", "total_transactions")
      .selectExpr("to_date(dt) AS begin_date", "to_date(dt) AS end_date",
        "total_spent", "version", "total_transactions")
    val out = ReportUpsert.merge(existing, existing.limit(0))
    assert(out.count() == 1 && out.head().getAs[String]("version") == "e")
  }

  test("dedup and text operators on zero documents") {
    assert(Dedup.exactDedupDocs(emptyDocs).count() == 0)
    assert(Dedup.withClusterSplit(emptyDocs, 3, 8, 4, 0.5, 10, 10)
      .count() == 0)
    assert(TextAnalysis.tfidfKeywords(emptyDocs, 3).count() == 0)
    assert({
      val e = Seq.empty[(Long, Long, Long)]
        .toDF("query_id", "rnk", "neighbor_id")
      graft.functions.Similarity.rrfFuse(e, e, 10).count() == 0
    })
    assert(Dedup.ngramJaccardPairsInverted(emptyDocs, 3, 0.5).count() == 0)
    assert(Dedup.minhashLshPairs(emptyDocs, 3, 8, 4, 0.5).count() == 0)
    assert(TextAnalysis.bpeTrain(emptyDocs, 3).count() == 0)
    assert(TextAnalysis.bpeApply(emptyDocs, 3).count() == 0)
    assert(TextAnalysis.qualityScore(
      emptyDocs.withColumn("n_chars", lit(0L))).count() == 0)
  }

  test("dedupCorpus with no duplicate pairs returns all docs") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "zeta eta theta iota"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
    assert(Dedup.dedupCorpus(docs, 3, 8, 4, 0.5).count() == 2)
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).count() == 0)
  }

  test("round-2 operators on empty inputs") {
    assert(Dedup.ngramContainmentPairs(emptyDocs, 3, 0.6).count() == 0)
    assert(Dedup.simhash16NearDupPairs(emptyDocs).count() == 0)
    assert(TextAnalysis.topTerms(emptyDocs, 3).count() == 0)
    assert(TextAnalysis.docRarity(emptyDocs).count() == 0)
    assert(Dedup.sourceOverlap(emptyDocs).count() == 0)
    assert(Temporal.movingDailySpend(emptyTx, 3).count() == 0)
    assert(Temporal.groupingSetsSpend(emptyTx).count() == 0)
    val emptyEmb = Seq.empty[(Long, Seq[Float], Int)].toDF("vec_id", "embedding", "label")
    assert(graft.functions.Similarity.nearDupPairsLsh(emptyEmb, 0.4, 4, 2).count() == 0)
    assert(graft.functions.Similarity.lshTopKMulti(
      emptyEmb, col("vec_id") % 100 === 0, 5, 4, 2).count() == 0)
  }

  test("round-3 operators on empty inputs") {
    assert(TextAnalysis.repetitionStats(emptyDocs).count() == 0)
    assert(TextAnalysis.chunkDocs(emptyDocs, 64, 16).count() == 0)
    assert(TextAnalysis.redactPii(emptyDocs).count() == 0)
    assert(TextAnalysis.corpusFilter(emptyDocs).count() == 0)
    assert(TextAnalysis.tokenLengthHistogram(emptyDocs).count() == 0)
    assert(Dedup.decontaminate(emptyDocs, emptyDocs, 3, 5L).count() == 0)
    assert(Dedup.duplicatedSpans(emptyDocs, 5).count() == 0)
    // empty TRAINING side with a non-empty benchmark, and vice versa
    val bench = Seq((100L, "a b c d e")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
    assert(Dedup.decontaminate(emptyDocs, bench, 3, 5L).count() == 0)
    val viaEmptyBench = Dedup.decontaminate(bench, emptyDocs, 3, 2L).collect()
    assert(viaEmptyBench.length == 1 && viaEmptyBench.head.getLong(1) == 0L
      && !viaEmptyBench.head.getBoolean(2))
    // empty corpus -> the whole batch is new (NULL sketch fast-path);
    // empty batch -> nothing to ingest
    assert(Dedup.incrementalDedup(emptyDocs, bench).count() == 1)
    assert(Dedup.incrementalDedup(bench, emptyDocs).count() == 0)
    assert(graft.functions.Sampling.packSequences(
      emptyDocs.withColumn("n_toks", lit(1L)),
      col("n_toks"), "lang", "doc_id", 512L).count() == 0)
    val emptyEmb2 = Seq.empty[(Long, Seq[Float], Int)].toDF("vec_id", "embedding", "label")
    // hot-label guard path on empty input (no labels -> no hot labels)
    assert(graft.functions.Similarity.nearDupPairs(emptyEmb2, 0.4).count() == 0)
  }

  test("late round-3 operators on empty inputs") {
    // funnel over zero events still emits one row per step (counts 0;
    // fractions are 0/0 = NaN doubles, never a throw)
    val e = Seq.empty[(Long, java.sql.Timestamp, String)]
      .toDF("user_id", "ts", "event_type")
    val f = Temporal.funnel(e, Seq("view", "click", "purchase")).collect()
    assert(f.length == 3 && f.forall(_.getLong(2) == 0L))
    assert(f.forall(r => r.getDouble(3).isNaN))
    assert(Temporal.retentionCohorts(e).count() == 0)
    assert(TextAnalysis.collocations(emptyDocs).count() == 0)
    assert(SpendingReport.trimmedMean(emptyTx).count() == 0)
    assert(graft.functions.Sampling.bottomK(emptyDocs, "doc_id", 5).count() == 0)
    assert(graft.functions.Sampling.bottomKPerStratum(
      emptyDocs, "doc_id", "lang", 5).count() == 0)
    assert(Dedup.corpusDiff(emptyDocs, emptyDocs).count() == 0)
    // one-sided diffs classify everything added / removed
    val one = Seq((1L, "alpha beta")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
    assert(Dedup.corpusDiff(emptyDocs, one).head().getString(1) == "added")
    assert(Dedup.corpusDiff(one, emptyDocs).head().getString(1) == "removed")
    assert(Dedup.dedupCorpusBy(one, 3, 8, 4, 0.5, length(col("text"))).count() == 1)
  }

  test("round-4 operators on empty inputs") {
    val emptyEv = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(Dedup.windowedEventDedup(emptyEv, 2).count() == 0)
    // empty corpus: histogram over zero docs is empty (no degree-0 row
    // to hang a count on)
    assert(Dedup.nearDupDegreeHistogram(emptyDocs).count() == 0)
    assert(Dedup.minhashProbePairs(emptyDocs, emptyDocs, 3, 8, 4, 0.5).count() == 0)
    val one = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
    assert(Dedup.minhashProbePairs(one, emptyDocs, 3, 8, 4, 0.5).count() == 0)
    assert(Dedup.minhashProbePairs(emptyDocs, one, 3, 8, 4, 0.5).count() == 0)
    assert(Temporal.locfDailySpend(emptyTx).count() == 0)
    assert(SpendingReport.paretoContribution(emptyTx, "vendor").count() == 0)
    val emptyEmb = Seq.empty[(Long, Seq[Float], Int)].toDF("vec_id", "embedding", "label")
    assert(graft.functions.Similarity.labelCentroids(emptyEmb).count() == 0)
    assert(graft.functions.Similarity.bruteForceTopK(
      emptyEmb, col("vec_id") === 0, 3, col("label") % 2 === 0).count() == 0)
    assert(TextAnalysis.normalizeText(emptyDocs).count() == 0)
    assert(Dedup.nearDupTriangles(emptyDocs).count() == 0)
    val emptyEv2 = Seq.empty[(Long, java.sql.Timestamp, Long, Double)]
      .toDF("event_id", "ts", "user_id", "value")
    assert(Temporal.timeWeightedValue(emptyEv2, "user_id", "ts", "value").count() == 0)
    assert(Temporal.cumulativeDistinct(emptyEv2, "user_id", "ts").count() == 0)
    // global agg over zero keys: one row, n_keys 0, gini NULL (0/NULL)
    val g = SpendingReport.giniConcentration(emptyTx, "vendor").head()
    assert(g.getLong(0) == 0L && g.isNullAt(1))
    val emptyMedia = Seq.empty[(Long, Array[Byte])].toDF("id", "content")
    assert(graft.multimodal.Multimodal.mediaNearDupPairs(emptyMedia).count() == 0)
    // zero-byte payload: histogram all-zero, mean 0 -> phash 0, no throw
    val zeroByte = Seq((1L, Array.empty[Byte])).toDF("id", "content")
    assert(graft.multimodal.Multimodal.perceptualHash(zeroByte)
      .collect().head.getLong(1) == 0L)
  }

  test("round-5 operators on empty inputs") {
    // temperatureSample/temperatureMixStats read min(count) off the
    // driver — the ADVICE_r4 NPE site: an empty input has a NULL min
    // and must short-circuit to an empty result, not throw
    assert(graft.functions.Sampling.temperatureSample(
      emptyDocs, "doc_id", "lang").count() == 0)
    assert(graft.functions.Sampling.temperatureMixStats(
      emptyDocs, "doc_id", "lang").count() == 0)
    // a key whose events all share one timestamp has zero total holding
    // time: no tw_avg is defined (0/0) — the row is filtered, not NaN
    val sameTs = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 7L, 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 7L, 2.0),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 8L, 3.0),
      (4L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 8L, 4.0))
      .toDF("event_id", "ts", "user_id", "value")
    val twa = Temporal.timeWeightedValue(sameTs, "user_id", "ts", "value").collect()
    assert(twa.length == 1 && twa.head.getLong(0) == 8L,
      s"degenerate all-one-timestamp key must emit no row: ${twa.mkString(",")}")
    assert(!twa.head.getDouble(1).isNaN)
    // Q13 shape on empty orders: every customer lands in the 0 bucket
    val cust = Seq((1L, "a"), (2L, "b")).toDF("c_custkey", "c_name")
    val emptyOrd = Seq.empty[(Long, Long, String)]
      .toDF("o_orderkey", "o_custkey", "o_orderpriority")
    val dist = graft.operators.Relational.customerOrderDistribution(
      cust, emptyOrd, "1-URGENT").collect()
    assert(dist.length == 1 && dist.head.getLong(0) == 0L
      && dist.head.getLong(1) == 2L)
    val emptyEv3 = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("o_orderkey", "o_orderdate", "o_custkey", "o_orderpriority", "o_totalprice")
    assert(graft.operators.Relational.latePriorityOrders(
      emptyEv3.limit(0),
      Seq.empty[(Long, java.sql.Timestamp)].toDF("l_orderkey", "l_shipdate"),
      "1996-01-01", "1996-07-01", 60).count() == 0)
    assert(graft.operators.Relational.priorityLineCounts(
      emptyEv3,
      Seq.empty[(Long, java.sql.Timestamp, String)]
        .toDF("l_orderkey", "l_shipdate", "l_returnflag"),
      "1996-01-01", "1997-01-01").count() == 0)
    assert(graft.functions.Sampling.tokenBudgetMix(
      emptyDocs, "lang", Map("en" -> 1.0), 1000L).count() == 0)
    // Q21 shape on empty facts: no qualifying supplier rows
    assert(graft.operators.Relational.soleLateSuppliers(
      Seq.empty[(Long, java.sql.Timestamp, String)]
        .toDF("o_orderkey", "o_orderdate", "o_orderstatus"),
      Seq.empty[(Long, Long, java.sql.Timestamp)]
        .toDF("l_orderkey", "l_suppkey", "l_shipdate"),
      Seq.empty[(Long, String)].toDF("s_suppkey", "s_name"),
      60, 100).count() == 0)
    assert(TextAnalysis.boilerplateNgrams(emptyDocs, 5).count() == 0)
    assert(TextAnalysis.boilerplateApply(emptyDocs, 5).count() == 0)
    assert(TextAnalysis.gopherFilter(emptyDocs).count() == 0)
    assert(graft.functions.Similarity.kmeansFixedPoint(
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
      8, 2).count() == 0)
    assert(graft.operators.Relational.customerSpendQuartiles(
      Seq.empty[(Long, String)].toDF("c_custkey", "c_name"),
      Seq.empty[(Long, Long, Double)]
        .toDF("o_orderkey", "o_custkey", "o_totalprice"),
      4).count() == 0)
    assert(graft.functions.Sampling.ppsSystematic(
      emptyDocs, "doc_id", lit(1L), 4).count() == 0)
    assert(Temporal.basketCooccurrence(
      Seq.empty[(Long, java.sql.Timestamp, Long, String)]
        .toDF("event_id", "ts", "user_id", "event_type"),
      "user_id", "ts", "event_type").count() == 0)
    assert(Temporal.conversionLag(
      Seq.empty[(Long, java.sql.Timestamp, Long, String)]
        .toDF("event_id", "ts", "user_id", "event_type"),
      "user_id", "ts", "event_type", "view", "purchase").count() == 0)
    assert(Temporal.pathTrigrams(
      Seq.empty[(Long, java.sql.Timestamp, Long, String)]
        .toDF("event_id", "ts", "user_id", "event_type"),
      "user_id", "ts", "event_type", 25).count() == 0)
    assert(graft.functions.DataQuality.benfordDigits(
      Seq.empty[Double].toDF("amount"), "amount").count() == 0)
    assert(graft.functions.DataQuality.seasonalAnomalies(
      emptyTx, "vendor", "txn_date", "amount").count() == 0)
    assert(graft.functions.Similarity.mmrRerank(
      Seq.empty[(Long, Seq[Float], Int)].toDF("vec_id", "embedding", "label"),
      org.apache.spark.sql.functions.col("vec_id") === 0, 3, 3).count() == 0)
    assert(graft.functions.Dedup.dupClusterHops(
      emptyDocs, 3, 8, 4, 0.5).count() == 0)
    assert(Temporal.lagAutocorr(emptyTx, "category", "txn_date",
      "amount", 7).count() == 0)
    assert(operators.Relational.fulfillmentLatency(
      Seq.empty[(Long, java.sql.Timestamp, String)]
        .toDF("o_orderkey", "o_orderdate", "o_orderpriority"),
      Seq.empty[(Long, java.sql.Timestamp)]
        .toDF("l_orderkey", "l_shipdate")).count() == 0)
    assert(operators.Relational.excessShareSuppliers(
      Seq.empty[(Long, Long, Double, java.sql.Timestamp)]
        .toDF("l_partkey", "l_suppkey", "l_quantity", "l_shipdate"),
      Seq.empty[(Long, String)].toDF("p_partkey", "p_name"),
      Seq.empty[(Long, String, Long)].toDF("s_suppkey", "s_name", "s_nationkey"),
      Seq.empty[(Long, String)].toDF("n_nationkey", "n_name"),
      "red", "1995-01-01", "1996-01-01", "N0").count() == 0)
    // the stage dimension always emits its 4 rows; zero docs means
    // zero intake and a null (not NaN) drop share
    val att = graft.functions.TextAnalysis.filterAttrition(emptyDocs).collect()
    assert(att.length == 4 && att.forall(r => r.getLong(2) == 0L && r.isNullAt(5)))
    assert(Temporal.eventTransitions(
      Seq.empty[(Long, java.sql.Timestamp, Long, String)]
        .toDF("event_id", "ts", "user_id", "event_type"),
      "user_id", "ts", "event_type").count() == 0)
    assert(Temporal.peakConcurrency(
      Seq.empty[(java.sql.Timestamp, java.sql.Timestamp)]
        .toDF("s_start", "s_end"),
      "s_start", "s_end").count() == 0)
    assert(Temporal.ohlcBars(
      Seq.empty[(Long, java.sql.Timestamp, Long, Double)]
        .toDF("event_id", "ts", "user_id", "value"),
      "user_id", "ts", "value").count() == 0)
    assert(graft.operators.Relational.nationTradeRank(
      Seq.empty[(Long, Long, Double)]
        .toDF("l_orderkey", "l_suppkey", "l_extendedprice"),
      Seq.empty[(Long, Long)].toDF("o_orderkey", "o_custkey"),
      Seq.empty[(Long, Long)].toDF("c_custkey", "c_nationkey"),
      Seq.empty[(Long, Long)].toDF("s_suppkey", "s_nationkey"),
      Seq.empty[(Long, String)].toDF("n_nationkey", "n_name"),
      2).count() == 0)
    // referential integrity over an empty child still reports the
    // relation row (0 children, 0 orphans — absence of data is not
    // absence of the audit)
    val emptyChild = Seq.empty[(Long, Long)].toDF("fk", "extra")
    val parent = Seq((1L, "p")).toDF("pk", "name")
    val ri = graft.functions.DataQuality.referentialIntegrity(
      Seq(("child->parent", emptyChild, "fk", parent, "pk"))).collect()
    assert(ri.length == 1 && ri.head.getLong(1) == 0L && ri.head.getLong(2) == 0L)
    assert(Dedup.minhashEstimateQuality(emptyDocs, 3, 8, 4).count() == 0)
    // Q19's empty selection: NULL revenue (absence of matches is data,
    // not zero), 0 items — pinned because both engines must agree
    val q19 = graft.operators.Relational.brandedRevenue(
      Seq.empty[(Long, Long, Double, Double, Double)]
        .toDF("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_discount"),
      Seq.empty[(Long, String, Int)].toDF("p_partkey", "p_brand", "p_size")).head()
    assert(q19.isNullAt(0) && q19.getLong(1) == 0L)
  }

  test("round-12 operators on empty and degenerate inputs") {
    import graft.functions.Similarity
    import graft.multimodal.Multimodal
    val emptyEmb = Seq.empty[(Long, Long, Array[Float])]
      .toDF("vec_id", "label", "embedding")
    // sq8CodeTable collects per-dim bounds off the driver — an empty
    // corpus must yield empty codes/top-ks, not a head() failure
    assert(Similarity.sq8CodeTable(emptyEmb).count() == 0)
    assert(Similarity.sq8TopK(emptyEmb, col("vec_id") % 100 === 0, 10).count() == 0)
    assert(Similarity.sq8TopKRerank(emptyEmb, col("vec_id") % 100 === 0, 10, 50)
      .count() == 0)
    // a constant dimension (mx == mn) must code 0, not divide by zero
    import spark.implicits._
    val const = Seq((1L, 0L, Array(0.5f, 0.25f)), (2L, 0L, Array(0.5f, 0.75f)))
      .toDF("vec_id", "label", "embedding")
    val codes = Similarity.sq8CodeTable(const).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes(1L).head == 0L && codes(2L).head == 0L,
      s"constant dim must code 0 on every vector: $codes")
    // hierarchical semdedup on empty / smaller-than-k corpora
    assert(Similarity.semDedupHier(emptyEmb, 0, 0, 2, 0.5).count() == 0)
    val two = Seq((1L, 0L, Array(1f, 0f)), (2L, 1L, Array(0f, 1f)))
      .toDF("vec_id", "label", "embedding")
    val small = Similarity.semDedupHier(two, 3, 3, 2, 0.99).collect()
    assert(small.length == 2 && small.forall(_.getBoolean(2)),
      "fewer vectors than k1*k2: everyone its own cell, all kept")
    // multimodal dedup family on empty media
    val emptyMedia = Seq.empty[(Long, String, Array[Byte])]
      .toDF("id", "modality", "content")
    assert(Multimodal.contentFingerprint64(emptyMedia).count() == 0)
    assert(Multimodal.fingerprintDedup(emptyMedia).count() == 0)
    assert(Multimodal.frameDedupPairs(emptyMedia).count() == 0)
    // all-windowless media: fingerprint path empty, no pairs, no throw
    val tinyOnly = Seq((1L, "video", Array[Byte](1)), (2L, "video", Array[Byte](1)))
      .toDF("id", "modality", "content")
    assert(Multimodal.fingerprintDedup(tinyOnly).count() == 0)
    assert(Multimodal.frameDedupPairs(tinyOnly, frameBytes = 16).count() == 0)
    // cross-modal dedup: empty corpus -> empty; an edge-free corpus
    // survives intact (CC on zero edges must not drop anyone)
    val emptyDocs12 = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Multimodal.crossModalDedup(emptyDocs12, emptyMedia, 3, 8, 4, 0.5)
      .count() == 0)
    val loners = Seq((1L, "alpha beta gamma delta"), (2L, "wholly unrelated words"))
      .toDF("doc_id", "text")
    val lonerMedia = Seq((1L, "image", Array.tabulate(32)(_.toByte)),
        (2L, "image", Array.tabulate(32)(i => (200 - 3 * i).toByte)))
      .toDF("id", "modality", "content")
    assert(Multimodal.crossModalDedup(loners, lonerMedia, 3, 8, 4, 0.5)
      .count() == 2)
    // attrition ledger on empty input: no groups, no rows, no throw
    import graft.functions.Dedup
    val emptyDocsN = Seq.empty[(Long, String, Long, String)]
      .toDF("doc_id", "text", "n_chars", "source")
    assert(Dedup.dedupAttrition(emptyDocsN, 3, 8, 4, 0.5, "source").count() == 0)
  }

  test("round-14 operators on empty and degenerate inputs") {
    import graft.functions.{Dedup, Similarity}
    import spark.implicits._
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // span APPLY: empty corpus -> empty; a dup-free corpus keeps every
    // doc verbatim (md5 of its own normalized text, removed = 0)
    assert(Dedup.duplicatedSpansApply(emptyDocs, 5).count() == 0)
    val loners = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "wholly unrelated words appear exactly once here"))
      .toDF("doc_id", "text")
    val kept = Dedup.duplicatedSpansApply(loners, 5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(kept == Map(1L -> ((6L, 0L)), 2L -> ((7L, 0L))), s"$kept")
    val emptyDocsS = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "source")
    assert(Dedup.duplicatedSpansAttrition(emptyDocsS, 5).count() == 0)
    // mergeComponents: two empty labelings -> empty union
    val noEdges = emptyDocs.select(col("doc_id").as("doc_a"),
      col("doc_id").as("doc_b"))
    val emptyCC = Dedup.connectedComponents(noEdges)
    assert(Dedup.mergeComponents(emptyCC, emptyCC).count() == 0)
    // filtered compressed search: a predicate matching NOTHING must
    // return zero rows (never fall back to unfiltered), matching rows
    // flow through
    val emb = Seq((0L, 0L, Array(1f, 0f)), (1L, 1L, Array(0.9f, 0.1f)),
      (2L, 0L, Array(0f, 1f)), (3L, 1L, Array(0.5f, 0.5f)))
      .toDF("vec_id", "label", "embedding")
    assert(Similarity.sq8TopK(emb, col("vec_id") === 0, 3,
      Some(lit(false))).count() == 0)
    val onlyOdd = Similarity.sq8TopK(emb, col("vec_id") === 0, 3,
        Some(col("label") === 1))
      .select("neighbor_id").as[Long].collect().toSet
    assert(onlyOdd == Set(1L, 3L), s"$onlyOdd")
  }

  test("temporal operators on empty inputs") {
    assert(Temporal.runningDailySpend(emptyTx).count() == 0)
    // Spark emits NO rows for CUBE over empty input (the () grouping
    // set is not materialized) — engines differ here (DuckDB emits a
    // grand-total row); unreachable by the gate since events is never
    // empty, but pinned as documented behavior.
    assert(Temporal.cubeSpend(emptyTx).count() == 0)
    val e = Seq.empty[(Long, java.sql.Timestamp, Double)].toDF("user_id", "ts", "value")
    assert(Temporal.sessionStats(e, "user_id", "ts", "value", 30).count() == 0)
  }

  test("concentration and skyline on empty input") {
    import org.apache.spark.sql.functions.col
    assert(DataQuality.concentration(emptyDocs, "source", "lang").count() == 0)
    val pts = Seq.empty[(Long, Long, Long)].toDF("id", "p", "s")
    assert(Relational.skyline2d(pts, "id", col("p"), col("s"), "p", "s")
      .count() == 0)
  }
}
