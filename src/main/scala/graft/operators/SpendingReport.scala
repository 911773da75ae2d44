package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** The reference's whole compute surface — the period spending report —
  * re-expressed as composable Spark plans over a long-form transactions
  * DataFrame `(txn_date DATE, category STRING, vendor STRING, amount
  * DOUBLE)`.
  *
  * Reference semantics (file:line cites into /root/reference):
  *  - global sums / counts / min-max dates: transformer.py:146-147,172-187
  *  - per-key group sums with per-addend round(2): transformer.py:194-205
  *  - distinct sorted key sets: transformer.py:153-154,232-233
  *  - zero-imputed per-key mean (denominator = number of files, NOT number
  *    of files containing the key): transformer.py:217-226
  *  - pct_change of the latest file vs its predecessor per key, missing
  *    keys imputed 0, leading/0-predecessor rows -> 0: transformer.py:221-222
  *  - value-ascending sort of key totals and "top-5" = first 5 of that
  *    ASC sort (as-implemented quirk): transformer.py:212-213,240
  *
  * Everything here is stock Catalyst: hash aggregates with map-side
  * partial aggregation, one shuffle per groupBy on the grouping key,
  * window functions over a (key)-partitioned sort. At 100 TB the
  * category/vendor cardinalities are the shuffle keys — low-cardinality
  * (category) aggregations reduce almost entirely map-side; the dense
  * date×key grid stays small (days × keys, independent of row count).
  */
object SpendingReport {

  /** A5/A6 per-addend rounding: the reference rounds every amount to 2dp
    * before accumulating (transformer.py:196,203). The DECIMAL(14,2)
    * cast IS that round (half-up), and summing decimals keeps the
    * accumulation exact and order-independent — double sums would pick
    * up low-bit noise from Spark's partition-dependent add order and
    * hash-diverge from any oracle. Cast back to double at the end. */
  private def amt2: Column = col("amount").cast("decimal(14,2)")
  private def moneySum(c: Column): Column = sum(c).cast("double")

  /** Inputs whose estimated size is below this fold and merge on one
    * partition (see `small`). On a 4-core session the one-partition
    * report wins at 1.46 MB of estimated input (sf0.1), ties at 2.93 MB
    * and loses at 4.39 MB (unions of sf0.1; DESIGN.md), so the cap sits
    * below the crossover. */
  private[graft] val smallInputBytes: Long = 2L << 20

  /** Whether the optimizer's estimate of the frames' summed size (the
    * file listing or a LocalRelation's rows: it runs no job) is below
    * `smallInputBytes`. A small input is `coalesce(1)`ed: the
    * `CoalesceExec(1)` reports SinglePartition, which satisfies every
    * clustered and all-tuples distribution above it, so the aggregates
    * and sort-merge joins over it plan no Exchange: one stage, one job. */
  private[graft] def small(frames: DataFrame*): Boolean =
    frames.map(_.queryExecution.optimizedPlan.stats.sizeInBytes).sum < smallInputBytes

  /** A1-A4: global totals and the covered date range — one row.
    * Reference: transformer.py:146-147,172-187,229-231,241-242. */
  def globalSummary(tx: DataFrame): DataFrame =
    tx.agg(
      moneySum(amt2).as("total_spent"),
      count(lit(1)).as("total_transactions"),
      min(col("txn_date")).as("begin_date"),
      max(col("txn_date")).as("end_date"))

  /** A5/A6 + O1/O2: group-sum by key, reported with the value-ascending
    * rank the reference's sorted-dict output encodes
    * (transformer.py:212-213,234-237). Ties broken by key name so the
    * rank is deterministic.
    *
    * The rank is computed scale-safe: an unpartitioned
    * `Window.orderBy` would move ALL rows to a single partition — fine
    * at #distinct-vendors today, a one-task straggler at 100× the key
    * cardinality. `globalRank` range-partitions instead. */
  def keyTotals(tx: DataFrame, key: String): DataFrame =
    globalRank(
      tx.groupBy(col(key)).agg(moneySum(amt2).as("total")),
      Seq(col("total").asc, col(key).asc), "rank_asc")

  /** Distributed global row_number over a total order, with no
    * single-partition window anywhere in the plan:
    *  1. range-partition on the sort columns (partitions are ordered,
    *     non-overlapping ranges);
    *  2. row_number within each partition (parallel windows);
    *  3. add per-partition offsets = cumulative partition counts — a
    *     metadata-sized driver step (one long per partition, same class
    *     of driver state as AQE's per-partition stats).
    * The sort order must be total (no ties across all sortCols) for the
    * rank to be deterministic under repartitioning. The input is
    * localCheckpointed so the count pass and the output read one
    * materialization instead of recomputing the upstream aggregate. */
  def globalRank(df: DataFrame, sortCols: Seq[Column], outCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parted = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint()
    val counts = parted.groupBy(col("_pid")).agg(count(lit(1)).as("_cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (pid, cnt) => val o = acc; acc += cnt; (pid, o) }
    val offDf = offsets.toSeq.toDF("_pid", "_offset")
    val w = Window.partitionBy(col("_pid")).orderBy(sortCols: _*)
    parted
      .withColumn("_rn", row_number().over(w))
      .join(broadcast(offDf), Seq("_pid"))
      .withColumn(outCol, (col("_offset") + col("_rn")).cast("long"))
      .drop("_pid", "_rn", "_offset")
  }

  /** Pareto / cumulative-contribution over key totals — the ABC
    * "top vendors cover X% of spend" analysis: keys ordered by total
    * DESC with the running cumulative total and its share of the grand
    * total. Distributed like `globalRank`: range partition on the
    * (total DESC, key ASC) total order, per-partition prefix sums, and
    * per-partition DECIMAL offsets (a metadata-sized driver step — one
    * decimal per partition). All sums are exact decimal; the ONE
    * double division per row happens off exact operands, so the output
    * is engine-portable. */
  def paretoContribution(tx: DataFrame, key: String): DataFrame = {
    val spark = tx.sparkSession
    import spark.implicits._
    val sortCols = Seq(col("total").desc, col(key).asc)
    val parted = tx.groupBy(col(key)).agg(sum(amt2).as("total"))
      .repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint()
    val parts = parted.groupBy(col("_pid")).agg(sum(col("total")).as("_ptot"))
      .collect().map(r => (r.getInt(0), r.getDecimal(1))).sortBy(_._1)
    var acc = java.math.BigDecimal.ZERO
    val offsets = parts.map { case (pid, t) => val o = acc; acc = acc.add(t); (pid, o) }
    val grand = acc
    val offDf = offsets.toSeq.toDF("_pid", "_off")
      .select(col("_pid"), col("_off").cast("decimal(30,2)").as("_off"))
    val w = Window.partitionBy(col("_pid")).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parted.withColumn("_run", sum(col("total")).over(w))
      .join(broadcast(offDf), Seq("_pid"))
      .select(col(key),
        col("total").cast("double").as("total_spent"),
        (col("_off") + col("_run")).cast("double").as("cum_spent"),
        ((col("_off") + col("_run")).cast("double")
          / lit(grand.doubleValue)).as("cum_share"))
  }

  /** Gini concentration coefficient of per-key totals — "how
    * concentrated is spend across vendors": 0 = perfectly even,
    * →1 = one key holds everything. Uses the rank formulation
    * G = (2·Σ rᵢxᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) with x ranked ascending;
    * tied totals get consecutive ranks whose group contribution is
    * order-independent, so the result is deterministic under any
    * partitioning. Ranks come from the distributed `globalRank` (no
    * single-partition window); Σrx and Σx stay in exact decimal and
    * the ONE double division happens off exact operands. */
  def giniConcentration(tx: DataFrame, key: String): DataFrame = {
    val totals = tx.groupBy(col(key)).agg(sum(amt2).as("total"))
    val ranked = globalRank(totals, Seq(col("total").asc, col(key).asc), "_r")
    ranked.agg(
        count(lit(1)).as("n_keys"),
        sum(col("total")).as("_s"),
        sum(col("total") * col("_r")).as("_a"))
      .select(col("n_keys"),
        ((lit(2) * col("_a") - (col("n_keys") + 1) * col("_s")).cast("double")
          / (col("n_keys") * col("_s")).cast("double")).as("gini"))
  }

  /** A7/A8 + O4: distinct keys, one row per key (row-form of the sorted
    * distinct list; transformer.py:153-154,232-233). */
  def distinctKeys(tx: DataFrame, key: String): DataFrame =
    tx.select(col(key)).distinct()

  /** A7/A8 aggregate form: sorted distinct array + exact cardinality.
    * At 100 TB swap countDistinct for approx_count_distinct (HLL). */
  def uniqueKeySets(tx: DataFrame): DataFrame =
    tx.agg(
      sort_array(collect_set(col("category"))).as("unique_categories"),
      countDistinct(col("category")).as("n_categories"),
      sort_array(collect_set(col("vendor"))).as("unique_vendors"),
      countDistinct(col("vendor")).as("n_vendors"))

  /** Scalar (gate-hashable) form of the distinct sets: md5 of the
    * '|'-joined sorted set + exact cardinalities. Array columns crash
    * the driver's pandas-based compare harness (unhashable ndarray), so
    * the oracle-gated query emits only scalars; the array form above
    * remains the report-assembly surface. */
  def uniqueKeySetsDigest(tx: DataFrame): DataFrame =
    tx.agg(
      md5(array_join(sort_array(collect_set(col("category"))), "|")).as("categories_md5"),
      countDistinct(col("category")).as("n_categories"),
      md5(array_join(sort_array(collect_set(col("vendor"))), "|")).as("vendors_md5"),
      countDistinct(col("vendor")).as("n_vendors"))

  /** Per-(file,key) sums — the long form of the reference's pivot table
    * (transformer.py:217-218): rows = file dates, columns = keys, built
    * here as (txn_date, key, amount) without materializing the wide
    * shape. A10's within-file duplicate-key re-aggregation is inherent. */
  def bucketKeySums(tx: DataFrame, key: String): DataFrame =
    tx.groupBy(col("txn_date"), col(key))
      .agg(moneySum(amt2).as("amount"))

  /** The dense date×key grid with absent cells imputed 0.0 — pandas
    * `fillna(0)` over the pivot (transformer.py:217-218). The grid is
    * (#dates × #keys) rows regardless of input size, so the cross join
    * is tiny and broadcast. */
  def denseGrid(tx: DataFrame, key: String): DataFrame = {
    val dates = tx.select(col("txn_date")).distinct()
    val keys  = tx.select(col(key)).distinct()
    dates.crossJoin(broadcast(keys))
      .join(bucketKeySums(tx, key), Seq("txn_date", key), "left")
      .na.fill(0.0, Seq("amount"))
  }

  /** A9: zero-imputed per-key mean — sum over ALL file dates divided by
    * the number of file dates (transformer.py:225-226; NOT avg(), which
    * would divide by per-key row counts). The division runs in double on
    * an exact decimal sum, unrounded: deterministic bit-identical output
    * (rounding a post-division double would re-introduce engine-specific
    * round-boundary behavior). */
  def zeroImputedMean(tx: DataFrame, key: String): DataFrame = {
    val nDates = tx.select(col("txn_date")).distinct().count()
    tx.groupBy(col(key))
      .agg((moneySum(amt2) / lit(nDates.toDouble)).as("mean_amount"))
  }

  /** W1/W2: percent change of the latest file date vs its predecessor,
    * per key, over the zero-imputed dense grid (transformer.py:221-222).
    *
    * Two modes for the 0-predecessor edge (the one place engine and
    * reference-as-implemented can differ — see README "pct_change edge
    * semantics"):
    *  - default (`pandasInf = false`, what the oracle gates): a zero or
    *    missing predecessor yields 0.0 — the reference's own
    *    `.fillna(0)` already zeroes the leading row and 0→0; we extend
    *    the same rule to 0→x rather than emit infinities.
    *  - `pandasInf = true`: pandas-faithful — 0→x yields ±Infinity
    *    (pandas' (x-0)/0; `.fillna(0)` replaces only NaN, so the inf
    *    SURVIVES in the reference's report), while the leading row and
    *    0→0 produce NaN and ARE zeroed by fillna. */
  def pctChangeLatest(tx: DataFrame, key: String,
                      pandasInf: Boolean = false): DataFrame = {
    val w  = Window.partitionBy(col(key)).orderBy(col("txn_date").asc)
    val wl = Window.partitionBy(col(key)).orderBy(col("txn_date").desc)
    val pct =
      if (pandasInf)
        when(col("prev").isNull, lit(0.0))                                   // leading NaN -> fillna(0)
          .when(col("prev") === 0.0 && col("amount") === 0.0, lit(0.0))      // 0/0 NaN -> fillna(0)
          .when(col("prev") === 0.0 && col("amount") > 0.0, lit(Double.PositiveInfinity))
          .when(col("prev") === 0.0, lit(Double.NegativeInfinity))
          .otherwise((col("amount") - col("prev")) / col("prev"))
      else
        when(col("prev").isNull || col("prev") === 0.0, lit(0.0))
          .otherwise((col("amount") - col("prev")) / col("prev"))
    denseGrid(tx, key)
      .withColumn("prev", lag(col("amount"), 1).over(w))
      .withColumn("pct_change", pct)
      .withColumn("rn", row_number().over(wl))
      .filter(col("rn") === 1)
      .select(col(key), col("pct_change"))
  }

  /** The WIDE pivot shape itself (SURVEY §1.1 row 2, J2): rows = file
    * dates, one column per category, absent cells 0. Explicit pivot
    * values keep the plan single-pass (no extra distinct scan) and the
    * output schema static. Long form is preferred everywhere else. */
  def pivotWide(tx: DataFrame, key: String, values: Seq[String]): DataFrame =
    tx.groupBy(col("txn_date"))
      .pivot(key, values)
      .agg(sum(amt2).cast("double"))
      .na.fill(0.0, values)

  /** The inverse of `pivotWide` (J2): melt the wide date×category grid
    * back to long form with Spark's native unpivot — round-trips with
    * the pivot (spec-pinned), so wide intermediates are never a
    * one-way door. Zero-filled cells survive as explicit rows, which
    * is the pivot's information content. */
  def unpivotWide(wide: DataFrame, key: String, values: Seq[String]): DataFrame =
    wide.unpivot(
      ids = Array(col("txn_date")),
      values = values.map(col).toArray,
      variableColumnName = key,
      valueColumnName = "amount")

  /** O3: "top-5" vendors = first 5 of the value-ASCENDING sort — the
    * reference's as-implemented quirk (transformer.py:240 labels the 5
    * LOWEST-spend vendors `top_5_vendors`). Plans as
    * TakeOrderedAndProject (distributed top-k, no global sort). */
  def top5Asc(tx: DataFrame, key: String): DataFrame =
    keyTotals(tx, key)
      .orderBy(col("total").asc, col(key).asc)
      .limit(5)
      .select(col(key), col("total"))

  /** Full report assembly (transformer.py:229-243 + P2's details
    * projection at :283): one row; ordered map-likes persisted as
    * arrays of (key,total) structs so output hashing is deterministic.
    *
    * One scan of the input feeds one chain of three aggregates, with
    * every sum an exact decimal cast to double once, so each value is
    * the same double the building blocks above (`globalSummary`,
    * `keyTotals`, `zeroImputedMean`, `pctChangeLatest`, `top5Asc`,
    * `uniqueKeySets`) produce:
    *  - E1: each transaction becomes three `(kind, key)` rows, kind
    *    `category`, `vendor` and `all` (whose key is null), grouped by
    *    `(kind, key, txn_date)` into cells (decimal sum, row count);
    *  - E2: per `(kind, key)`, the total, the row count, the number of
    *    cells (for kind `all`: the distinct dates, a null date counting
    *    as one, as `distinct().count()` counts it), the first date and
    *    the two latest non-null dates with their sums;
    *  - E3: one global aggregate collects the per-key structs.
    * The final projection reads the latest date L and its predecessor
    * P (the pct-change window's order: asc, nulls first) from kind
    * `all`'s two latest dates. A key's dates are a subset of all dates,
    * so its cell at L, if any, is its latest date, and its cell at P,
    * if any, is its latest or second latest: its two latest dates
    * suffice for `pct_change`. The zero-imputed mean is total / #dates
    * (the same IEEE division); `spending_per_*` sorts (total, key)
    * structs inside the array and `top_5_vendors` is its first five.
    * Kept quirk: `denseGrid`'s equi-join never matches a null date or a
    * null key, so a cell with either counts as 0 in `pct_change` (a null
    * key's pct_change is 0) while it still counts in totals and means.
    *
    * A `small` input runs the chain on one partition with no Exchange:
    * the collect is the report's one Spark job. A larger one shuffles
    * between the aggregates: four jobs, three shuffles and the collect.
    * The exact sums and sorted lists make the row the same either way.
    */
  def report(tx: DataFrame): DataFrame = {
    val in = if (small(tx)) tx.coalesce(1) else tx
    val kinds = explode(array(
      struct(lit("category").as("kind"), col("category").as("key")),
      struct(lit("vendor").as("kind"), col("vendor").as("key")),
      struct(lit("all").as("kind"), lit(null).cast(StringType).as("key"))))
    val cells = in.select(col("txn_date"), amt2.as("amt"), kinds.as("k"))
      .groupBy(col("k.kind").as("kind"), col("k.key").as("key"), col("txn_date"))
      .agg(sum(col("amt")).as("cell"), count(lit(1)).as("n"))
    val keyed = cells.groupBy(col("kind"), col("key")).agg(
      moneySum(col("cell")).as("total"),
      sum(col("n")).as("n"),
      count(lit(1)).as("n_cells"),
      min(col("txn_date")).as("begin"),
      // a null per-date sum (only null amounts) reads as 0, as the dense
      // grid's fill does
      slice(sort_array(collect_list(when(col("txn_date").isNotNull, struct(
        col("txn_date").as("d"),
        coalesce(col("cell").cast("double"), lit(0.0)).as("s")))), asc = false), 1, 2)
        .as("top2"))
    // sorted by (total, key): the order of spending_per_*
    def keysOf(kind: String) = sort_array(collect_list(when(col("kind") === kind,
      struct(col("total"), col("key"), col("top2"))))).as(kind)
    val folded = keyed.agg(
      max(when(col("kind") === "all", struct(col("total"), col("n"), col("n_cells"),
        col("begin"), col("top2")))).as("all"),
      keysOf("category"), keysOf("vendor"),
      sort_array(collect_list(when(col("kind") === "category", col("key")))).as("unique_categories"),
      sort_array(collect_list(when(col("kind") === "vendor", col("key")))).as("unique_vendors"))

    def date(top2: Column, i: Int) = try_element_at(top2, lit(i)).getField("d")
    def sumAt(top2: Column, i: Int) = try_element_at(top2, lit(i)).getField("s")
    // the lag window sorts dates asc nulls first: the latest is the max
    // non-null date, the predecessor the second; a null or missing one
    // matches no cell, so it reads as 0
    val latest = date(col("all.top2"), 1)
    val pred = date(col("all.top2"), 2)
    val nDates = col("all.n_cells").cast("double")
    def fields(key: String): Seq[Column] = {
      def pct(k: Column) = {
        val t = k("top2")
        val cur = when(date(t, 1) === latest, sumAt(t, 1)).otherwise(lit(0.0))
        val prev = when(date(t, 1) === pred, sumAt(t, 1))
          .when(date(t, 2) === pred, sumAt(t, 2)).otherwise(lit(0.0))
        when(k("key").isNull || prev === 0.0, lit(0.0)).otherwise((cur - prev) / prev)
      }
      def perKey(name: String, value: Column => Column) =
        transform(col(key), k => struct(k("key").as(key), value(k).as(name)))
      Seq(
        perKey("total", _("total")).as(s"spending_per_$key"),
        sort_array(perKey("pct_change", pct)).as(s"pct_change_$key"),
        sort_array(perKey("mean_amount", _("total") / nDates)).as(s"avg_$key"))
    }
    val Seq(spendCat, pctCat, avgCat) = fields("category")
    val Seq(spendVen, pctVen, avgVen) = fields("vendor")
    val row = folded.select(
        col("all.total").as("total_spent"),
        coalesce(col("all.n"), lit(0L)).as("total_transactions"),
        col("all.begin").as("begin_date"),
        latest.as("end_date"),
        col("unique_categories"),
        size(col("unique_categories")).cast("long").as("n_categories"),
        col("unique_vendors"),
        size(col("unique_vendors")).cast("long").as("n_vendors"),
        spendCat, spendVen, pctCat, pctVen, avgCat, avgVen)
      .withColumn("top_5_vendors", slice(col("spending_per_vendor"), 1, 5))

    // P2: details = report minus (begin_date, end_date, fi_summary).
    val detailCols = Seq("total_spent", "total_transactions",
      "unique_categories", "unique_vendors", "spending_per_category",
      "pct_change_category", "avg_category", "spending_per_vendor",
      "pct_change_vendor", "avg_vendor", "top_5_vendors")
    // details ships BOTH ways: the JSON string (engine-portable, what
    // the oracle and fingerprints hash) and the true Spark 4 VARIANT
    // (the literal analog of the reference's Snowflake VARIANT column,
    // README.md:44-52 — typed extraction without re-parsing).
    row.withColumn("details", to_json(struct(detailCols.map(col): _*)))
      .withColumn("details_variant", parse_json(to_json(struct(detailCols.map(col): _*))))
      .withColumn("id", expr("uuid()"))
      .withColumn("created_at", current_date())
  }

  /** Report + fi_summary enrichment (driver-side single-row step,
    * §2.10): collects the one report row once, renders the executive
    * summary via the supplied function (deterministic stub by default),
    * and returns the final file_details-shaped row as a local one-row
    * frame, so nothing stays cached and later reads re-run no job. */
  def enriched(tx: DataFrame,
               summarize: ReportFields => String = Summarizer.stub): DataFrame = {
    val r = report(tx)
    val Array(row) = r.collect()
    val at = row.fieldIndex _
    require(!row.isNullAt(at("begin_date")), "no transactions to report")
    val fields = ReportFields(
      beginDate = row.getDate(at("begin_date")).toString,
      endDate = row.getDate(at("end_date")).toString,
      totalSpent = row.getDouble(at("total_spent")),
      totalTransactions = row.getLong(at("total_transactions")),
      topCategories = row.getSeq[String](at("unique_categories")))
    r.sparkSession.createDataFrame(
      java.util.List.of(Row.fromSeq(row.toSeq :+ summarize(fields))),
      r.schema.add("fi_summary", StringType))
  }

  /** Robust per-key stats: the mean of values inside the key's own
    * [loQ, hiQ] quantile band — the outlier-resistant aggregate a
    * spend/metrics surface reports next to the raw mean. Two grouped
    * passes over the input (quantile bounds, then the trimmed sum) with
    * the key-sized bounds broadcast between them — no sort of the full
    * data, no per-key collect. Quantiles use the exact interpolated
    * `percentile` (bit-matching DuckDB's quantile_cont, proven by
    * q_percentiles); the kept-range sum runs in DECIMAL space so the
    * mean is one IEEE double division of exact quantities. */
  def trimmedMean(tx: DataFrame, key: String = "category",
                  valCol: String = "amount",
                  loQ: Double = 0.05, hiQ: Double = 0.95): DataFrame = {
    require(0.0 <= loQ && loQ < hiQ && hiQ <= 1.0, s"need 0<=lo<hi<=1, got $loQ,$hiQ")
    val bounds = tx.groupBy(col(key))
      .agg(expr(s"percentile($valCol, $loQ)").as("lo"),
           expr(s"percentile($valCol, $hiQ)").as("hi"))
      .localCheckpoint()  // key-sized; joined below and projected out
    tx.join(broadcast(bounds), Seq(key))
      .filter(col(valCol) >= col("lo") && col(valCol) <= col("hi"))
      .groupBy(col(key))
      .agg(count(lit(1)).as("n_kept"),
           sum(col(valCol).cast("decimal(14,2)")).as("_sum"))
      .join(broadcast(bounds), Seq(key))
      .select(col(key), col("lo"), col("hi"), col("n_kept"),
        (col("_sum").cast("double") / col("n_kept")).as("trimmed_mean"))
  }

  /** Median absolute deviation per key — the robust spread companion to
    * `trimmedMean`'s robust center: mad = median(|x − median(x)|).
    * Same two-pass shape (key-sized medians broadcast back onto the
    * data); both medians are the exact interpolated `percentile`, and
    * |x − m| is a single IEEE subtraction of doubles, so the result is
    * bit-identical across engines. */
  def madByKey(tx: DataFrame, key: String = "category",
               valCol: String = "amount"): DataFrame = {
    val med = tx.groupBy(col(key))
      .agg(expr(s"percentile($valCol, 0.5)").as("med"))
      .localCheckpoint()  // key-sized; broadcast below, kept in output
    tx.join(broadcast(med), Seq(key))
      .groupBy(col(key), col("med"))
      .agg(expr(s"percentile(abs($valCol - med), 0.5)").as("mad"),
           count(lit(1)).as("n"))
      .select(col(key), col("med"), col("mad"), col("n"))
  }
}

/** The collected report fields handed to the enrichment step. */
final case class ReportFields(
    beginDate: String, endDate: String, totalSpent: Double,
    totalTransactions: Long, topCategories: Seq[String])

/** §2.10: the reference's Gemini executive-summary call
  * (transformer.py:245-278) is a driver-side, single-row,
  * post-aggregation step — NOT a per-row UDF. Behind a function value so
  * tests (and the zero-egress environment) use the deterministic stub,
  * mirroring the reference's own fallback-on-error behavior
  * (transformer.py:276-278). */
object Summarizer {
  val stub: ReportFields => String = r =>
    s"Between ${r.beginDate} and ${r.endDate} you spent ${r.totalSpent} " +
      s"across ${r.totalTransactions} transactions; top categories: " +
      r.topCategories.mkString(", ") + "."
}
