package graft

import java.sql.Date
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, collect_list, current_date, expr, parse_json,
  sort_array, struct, substring_index, sum, to_json}
import graft.operators.SpendingReport

/** Per-operator semantics from SURVEY.md §2 over tiny literal frames,
  * including the reference's documented failure modes
  * (/root/reference/README.md:37-38,210-214): heterogeneous key sets
  * across files, zero-imputation in mean and pct-change, the ascending
  * "top-5" quirk, and the zero/missing-predecessor pct-change edges. */
class SpendingReportSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)

  /** Three "files" (days) with identical, overlapping, and disjoint
    * category sets; includes 0-amount and appearing/disappearing keys. */
  private def tx: DataFrame = Seq(
    ("2024-01-01", "food", "v1", 10.0),
    ("2024-01-01", "rent", "v1", 100.0),
    ("2024-01-02", "food", "v2", 20.0),   // rent absent on day 2
    ("2024-01-02", "toys", "v2", 5.0),    // toys appears
    ("2024-01-03", "food", "v1", 0.0),    // 0-amount day for food
    ("2024-01-03", "toys", "v3", 10.0)
  ).toDF("dt", "category", "vendor", "amount")
    .selectExpr("to_date(dt) AS txn_date", "category", "vendor", "amount")

  test("globalSummary: sums, count, date range (A1-A4)") {
    val r = SpendingReport.globalSummary(tx).head()
    assert(r.getDouble(0) == 145.0)
    assert(r.getLong(1) == 6L)
    assert(r.getDate(2) == d("2024-01-01"))
    assert(r.getDate(3) == d("2024-01-03"))
  }

  test("keyTotals: per-key sums with ascending rank (A5/O1)") {
    val m = SpendingReport.keyTotals(tx, "category").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(m("food") == (30.0, 2L))   // rank 2: toys(15) < food(30) < rent(100)
    assert(m("toys") == (15.0, 1L))
    assert(m("rent") == (100.0, 3L))
  }

  test("paretoContribution: desc order, exact cumulative sums, share hits 1.0") {
    // totals: rent 100, food 30, toys 15 (grand 145)
    val rows = SpendingReport.paretoContribution(tx, "category").collect()
      .map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(rows("rent") == ((100.0, 100.0, 100.0 / 145.0)))
    assert(rows("food") == ((30.0, 130.0, 130.0 / 145.0)))
    assert(rows("toys") == ((15.0, 145.0, 1.0)), "last key's share must be exactly 1.0")
    // distributed prefix sums equal a plain single-window reference
    val many = (1 to 200).map(i => ("2024-01-01", s"c$i", "v", i.toDouble))
      .toDF("dt", "category", "vendor", "amount")
      .selectExpr("to_date(dt) AS txn_date", "category", "vendor", "amount")
    val dist = SpendingReport.paretoContribution(many, "category").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("total").desc, col("category").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val ref = many.groupBy(col("category"))
      .agg(sum(col("amount").cast("decimal(14,2)")).as("total"))
      .withColumn("cum", sum(col("total")).over(w))
      .select(col("category"), col("total").cast("double"),
        col("cum").cast("double"),
        col("cum").cast("double") / org.apache.spark.sql.functions.lit(200 * 201 / 2.0))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(dist == ref, "range-partitioned prefix sums must equal the single-window reference")
  }

  test("giniConcentration: 0 for equal totals, 1-1/n when one key holds all") {
    def g(rows: (String, Double)*): (Long, Double) = {
      val t = rows.zipWithIndex.map { case ((k, a), i) => ("2024-01-01", k, s"v$i", a) }
        .toDF("dt", "category", "vendor", "amount")
        .selectExpr("to_date(dt) AS txn_date", "category", "vendor", "amount")
      val r = SpendingReport.giniConcentration(t, "category").head()
      (r.getLong(0), r.getDouble(1))
    }
    assert(g(("a", 10.0), ("b", 10.0), ("c", 10.0)) == ((3L, 0.0)),
      "perfect equality is exactly 0 (decimal numerator cancels, no FP residue)")
    assert(g(("a", 0.0), ("b", 0.0), ("c", 30.0)) == ((3L, 2.0 / 3.0)),
      "one holder reaches the n-key maximum 1 - 1/n")
  }

  test("zeroImputedMean divides by ALL file dates, not per-key count (A9)") {
    val m = SpendingReport.zeroImputedMean(tx, "category").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("rent") == 100.0 / 3)   // NOT 100.0 (avg over 1 occurrence)
    assert(m("food") == 10.0)
    assert(m("toys") == 5.0)
  }

  test("pctChangeLatest: imputed-0 predecessor and 0->x edges (W1/W2)") {
    val m = SpendingReport.pctChangeLatest(tx, "category").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // food: day2=20 -> day3=0 : (0-20)/20 = -1
    assert(m("food") == -1.0)
    // toys: day2=5 -> day3=10 : +1
    assert(m("toys") == 1.0)
    // rent: day2 imputed 0 -> day3 imputed 0: 0-predecessor -> 0.0
    assert(m("rent") == 0.0)
  }

  test("pctChangeLatest pandasInf mode pins all three 0-predecessor edges") {
    // gym appears only on the last day (0 -> 7: pandas +inf), refund is
    // negative on the last day (0 -> -3: pandas -inf); food is x -> 0
    // (-1.0 in both modes) and rent is 0 -> 0 (NaN, zeroed by fillna in
    // both modes).
    val tx2 = tx.union(Seq(
      ("2024-01-03", "gym", "v1", 7.0),
      ("2024-01-03", "refund", "v1", -3.0)
    ).toDF("dt", "category", "vendor", "amount")
      .selectExpr("to_date(dt) AS txn_date", "category", "vendor", "amount"))
    val pandas = SpendingReport.pctChangeLatest(tx2, "category", pandasInf = true)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pandas("gym") == Double.PositiveInfinity)    // 0 -> x
    assert(pandas("refund") == Double.NegativeInfinity) // 0 -> -x
    assert(pandas("food") == -1.0)                      // x -> 0
    assert(pandas("rent") == 0.0)                       // 0 -> 0 (NaN -> fillna)
    val dflt = SpendingReport.pctChangeLatest(tx2, "category")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(dflt("gym") == 0.0 && dflt("refund") == 0.0) // engine default: finite
    assert(dflt("food") == -1.0 && dflt("rent") == 0.0)
  }

  test("single-file input: all pct_change are 0 (leading-row fill)") {
    val one = tx.filter($"txn_date" === lit(d("2024-01-01")))
    val vals = SpendingReport.pctChangeLatest(one, "category")
      .collect().map(_.getDouble(1)).toSet
    assert(vals == Set(0.0))
  }

  test("exact-moment variance agrees with Spark's var_samp to FP tolerance") {
    val sf = "/root/testdata/sf0.001"
    val ours = SparkEntry.query("q_spend_stats").run(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getAs[Double]("mean_amount"), r.getAs[Double]("var_amount"))).toMap
    val builtin = Tables.transactions(spark, sf).groupBy($"category")
      .agg(org.apache.spark.sql.functions.avg($"amount").as("m"),
           org.apache.spark.sql.functions.var_samp($"amount").as("v"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(ours.keySet == builtin.keySet)
    ours.foreach { case (cat, (m, v)) =>
      val (bm, bv) = builtin(cat)
      assert(math.abs(m - bm) < 1e-9 * math.max(1.0, math.abs(bm)), s"$cat mean: $m vs $bm")
      assert(math.abs(v - bv) < 1e-6 * math.max(1.0, math.abs(bv)), s"$cat var: $v vs $bv")
    }
  }

  test("approx_percentile rank-bound flags all pass (gated against literal-1 oracle)") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.query("q_approx_percentiles").run(spark, sf).collect()
    assert(rows.nonEmpty)
    // the ok-flags encode the sketch's documented rank guarantee
    // (count(< v) <= (p+δ)n AND count(<= v) >= (p-δ)n, δ = 0.005);
    // the DuckDB oracle hashes them against literal 1s per category
    rows.foreach { r =>
      val cat = r.getAs[String]("category")
      assert(r.getAs[Long]("n") > 0, s"$cat: empty group")
      Seq("ok25", "ok50", "ok75").foreach(c =>
        assert(r.getAs[Long](c) == 1L, s"$cat: $c rank bound violated"))
    }
  }

  test("top5Asc returns the LOWEST-total keys (O3 as-implemented quirk)") {
    val vendors = SpendingReport.top5Asc(tx, "vendor").collect().map(_.getString(0))
    // v3(10) < v2(25) < v1(110): ascending, so v3 first
    assert(vendors.head == "v3")
    assert(vendors.toSeq == Seq("v3", "v2", "v1"))
  }

  test("report assembles one row; details drops begin/end/fi_summary (P2)") {
    val r = SpendingReport.report(tx)
    assert(r.count() == 1)
    val details = r.select("details").head().getString(0)
    assert(details.contains("\"total_spent\""))
    assert(!details.contains("begin_date"))
    // the VARIANT twin extracts typed values without re-parsing
    assert(r.schema("details_variant").dataType
      .isInstanceOf[org.apache.spark.sql.types.VariantType])
    val vSpent = r.selectExpr("variant_get(details_variant, '$.total_spent', 'double')")
      .head().getDouble(0)
    assert(vSpent == 145.0)
    val enriched = SpendingReport.enriched(tx)
    assert(enriched.select("fi_summary").head().getString(0).nonEmpty)
    // the local frame carries the collected row unchanged, variant included
    assert(enriched.schema.dropRight(1) == r.schema.fields.toSeq)
    assert(view(enriched.drop("fi_summary")) == view(r))
  }

  /** The report as nine single-row sub-reports cross-joined, each over
    * the raw input: the composition `SpendingReport.report` replaced,
    * kept here as the reference its one-aggregate fold must equal. */
  private def nineWay(tx: DataFrame): DataFrame = {
    val g = SpendingReport.globalSummary(tx)
    val catTotals = SpendingReport.keyTotals(tx, "category")
      .orderBy(col("rank_asc")).select(struct(col("category"), col("total")).as("kv"))
      .agg(collect_list(col("kv")).as("spending_per_category"))
    val venTotals = SpendingReport.keyTotals(tx, "vendor")
      .orderBy(col("rank_asc")).select(struct(col("vendor"), col("total")).as("kv"))
      .agg(collect_list(col("kv")).as("spending_per_vendor"))
    val catPct = SpendingReport.pctChangeLatest(tx, "category")
      .select(struct(col("category"), col("pct_change")).as("kv"))
      .agg(sort_array(collect_list(col("kv"))).as("pct_change_category"))
    val venPct = SpendingReport.pctChangeLatest(tx, "vendor")
      .select(struct(col("vendor"), col("pct_change")).as("kv"))
      .agg(sort_array(collect_list(col("kv"))).as("pct_change_vendor"))
    val catMean = SpendingReport.zeroImputedMean(tx, "category")
      .select(struct(col("category"), col("mean_amount")).as("kv"))
      .agg(sort_array(collect_list(col("kv"))).as("avg_category"))
    val venMean = SpendingReport.zeroImputedMean(tx, "vendor")
      .select(struct(col("vendor"), col("mean_amount")).as("kv"))
      .agg(sort_array(collect_list(col("kv"))).as("avg_vendor"))
    val top5 = SpendingReport.top5Asc(tx, "vendor")
      .select(struct(col("vendor"), col("total")).as("kv"))
      .agg(collect_list(col("kv")).as("top_5_vendors"))
    val uniq = SpendingReport.uniqueKeySets(tx)
    val row = g.crossJoin(uniq).crossJoin(catTotals).crossJoin(venTotals)
      .crossJoin(catPct).crossJoin(venPct).crossJoin(catMean).crossJoin(venMean)
      .crossJoin(top5)
    val detailCols = Seq("total_spent", "total_transactions",
      "unique_categories", "unique_vendors", "spending_per_category",
      "pct_change_category", "avg_category", "spending_per_vendor",
      "pct_change_vendor", "avg_vendor", "top_5_vendors")
    row.withColumn("details", to_json(struct(detailCols.map(col): _*)))
      .withColumn("details_variant", parse_json(to_json(struct(detailCols.map(col): _*))))
      .withColumn("id", expr("uuid()"))
      .withColumn("created_at", current_date())
  }

  /** `n` monthly upload summaries landed as JSON and extracted the way
    * the scheduled fold reads them: vendor keys `category/vNN`. */
  private def landedUploads(n: Int): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_uploads")
    val rnd = new scala.util.Random(n)
    val vendors = for (c <- Seq("dining", "groceries", "rent", "travel"); v <- 0 until 4)
      yield f"$c/v$v%02d"
    (0 until n).foreach { m =>
      val start = java.time.LocalDate.of(2021, 1, 1).plusMonths(m.toLong)
      val lines = rnd.shuffle(vendors).take(4 + rnd.nextInt(9)).sorted
        .map(v => v -> f"${100 + rnd.nextInt(50000)}%d.${rnd.nextInt(100)}%02d")
      val body = s"""{"upload_id": $m, "begin_date": "$start", """ +
        s""""end_date": "${start.plusMonths(1).minusDays(1)}", "total_spent": 1.0, """ +
        s""""total_transactions": ${lines.size}, "spending_per_vendor": """ +
        lines.map { case (v, a) => s""""$v": $a""" }.mkString("{", ", ", "}") + "}"
      java.nio.file.Files.writeString(dir.resolve(s"u$m.json"), body + "\n")
    }
    graft.sources.UploadSource.transactionsFromSummaries(
      graft.sources.UploadSource.uploadSummaries(spark, dir.toString), "spending_per_vendor")
      .select(col("txn_date"), substring_index(col("key"), "/", 1).as("category"),
        col("key").as("vendor"), col("amount"))
  }

  /** A report's rows without the per-run `id` and `created_at`, the
    * variant as its JSON, each with its whole-row JSON (exact doubles). */
  private def view(r: DataFrame): Seq[(org.apache.spark.sql.Row, String)] =
    r.drop("id", "created_at")
      .withColumn("variant_json", to_json(col("details_variant")))
      .drop("details_variant")
      .select(col("*"), to_json(struct(col("*"))).as("all_json"))
      .collect().map(row => (row, row.getAs[String]("all_json"))).toSeq

  private def txOf(rows: (Option[String], Option[String], Option[String], Option[Double])*) =
    rows.toDF("dt", "category", "vendor", "amount")
      .selectExpr("to_date(dt) AS txn_date", "category", "vendor", "amount")

  test("fused report equals the nine-way composition") {
    val testdata = "/root/testdata"
    val (a, b, c) = (Some("2024-01-01"), Some("2024-01-02"), Some("2024-01-03"))
    val inputs = Seq(
      "spec frame" -> tx,
      "one date" -> tx.filter($"txn_date" === lit(d("2024-01-01"))),
      // v1/v2 and food/rent tie on total; toys's only amount is null
      "ties and a null amount" -> txOf(
        (a, Some("food"), Some("v1"), Some(5.0)), (a, Some("rent"), Some("v2"), Some(5.0)),
        (b, Some("food"), Some("v2"), Some(2.5)), (b, Some("rent"), Some("v1"), Some(2.5)),
        (b, Some("toys"), Some("v3"), None), (c, Some("food"), Some("v1"), Some(0.1)),
        (c, Some("rent"), Some("v2"), Some(7.25))),
      "null dates" -> txOf(
        (None, Some("food"), Some("v1"), Some(3.0)), (a, Some("food"), Some("v1"), Some(4.0)),
        (None, Some("rent"), Some("v2"), Some(9.5)), (b, Some("rent"), Some("v2"), Some(1.5)),
        (b, Some("food"), Some("v2"), Some(6.0))),
      "only a null date" -> txOf(
        (None, Some("food"), Some("v1"), Some(3.0)), (None, Some("rent"), Some("v2"), Some(1.0))),
      "null keys" -> txOf(
        (a, None, Some("v1"), Some(3.0)), (b, None, None, Some(4.0)),
        (b, Some("food"), None, Some(2.0)), (c, Some("food"), Some("v1"), Some(8.0)),
        (c, None, None, Some(1.0))),
      "empty" -> txOf(),
      "26 landed uploads" -> landedUploads(26)) ++
      Seq("sf0.001", "sf0.01", "sf0.1").map(s => s -> Tables.transactions(spark, s"$testdata/$s"))
    inputs.foreach { case (name, in) =>
      val fused = SpendingReport.report(in)
      val ref = nineWay(in)
      def types(r: DataFrame) = r.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq
      assert(types(fused) == types(ref), s"$name: schema")
      val (got, want) = (view(fused), view(ref))
      assert(got.length == 1, s"$name: report must be one row, got ${got.length}")
      assert(got == want, s"$name: fused ${got.map(_._2)} vs nine-way ${want.map(_._2)}")
    }
  }

  test("unpivot round-trips the pivot (dense grid preserved)") {
    val cats = Seq("food", "rent", "toys")
    val wide = SpendingReport.pivotWide(tx, "category", cats)
    val long = SpendingReport.unpivotWide(wide, "category", cats)
      .collect().map(r => (r.getDate(0).toString, r.getString(1)) -> r.getDouble(2)).toMap
    // dense: every (date, category) cell exists, absent cells are 0
    assert(long.size == 9)  // 3 dates x 3 categories
    assert(long(("2024-01-01", "food")) == 10.0)
    assert(long(("2024-01-02", "rent")) == 0.0)  // zero-filled cell survives
    assert(long(("2024-01-03", "toys")) == 10.0)
  }

  test("aggregates are partition-count invariant (scale sanity)") {
    val many = tx.repartition(13)
    val a = SpendingReport.keyTotals(tx, "category").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).sortBy(_._1)
    val b = SpendingReport.keyTotals(many, "category").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("trimmedMean: per-key quantile band, inclusive bounds, degenerate key") {
    // "a": 1..20 -> p05 = 1 + 0.05*19 (the FP double, not exact 1.95),
    // p95 = 19.05, keeps 2..19 (mean 10.5)
    // "b": constant 5s -> lo = hi = 5, everything kept (inclusive bounds)
    val rows = (1 to 20).map(i => ("2024-01-01", "a", "v", i.toDouble)) ++
      Seq(("2024-01-01", "b", "v", 5.0), ("2024-01-02", "b", "v", 5.0))
    val df = rows.toDF("dt", "category", "vendor", "amount")
      .selectExpr("to_date(dt) AS txn_date", "category", "vendor", "amount")
    val out = SpendingReport.trimmedMean(df).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4)))).toMap
    assert(out("a") == ((1.0 + 0.05 * 19, 19.05, 18L, 10.5)))
    assert(out("b") == ((5.0, 5.0, 2L, 5.0)))
    intercept[IllegalArgumentException](
      SpendingReport.trimmedMean(df, loQ = 0.9, hiQ = 0.1))
  }

  test("madByKey: hand-computed median absolute deviation") {
    // "a": 1..5 -> med 3, |x-3| = {2,1,0,1,2} -> mad 1; "b": {7} -> mad 0
    val rows = (1 to 5).map(i => ("2024-01-01", "a", "v", i.toDouble)) :+
      (("2024-01-01", "b", "v", 7.0))
    val df = rows.toDF("dt", "category", "vendor", "amount")
      .selectExpr("to_date(dt) AS txn_date", "category", "vendor", "amount")
    val out = SpendingReport.madByKey(df).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3))))
      .toMap
    assert(out("a") == ((3.0, 1.0, 5L)))
    assert(out("b") == ((7.0, 0.0, 1L)))
  }

  private def lit(x: Date) = org.apache.spark.sql.functions.lit(x)
}
