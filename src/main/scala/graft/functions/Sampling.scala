package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling and dataset splitting — reproducibility
  * primitives for training-data pipelines. Membership is a pure
  * function of a key column (md5-derived integer), NOT rand(): the
  * same row lands in the same sample/split on every run, every
  * engine, every cluster size, and under task retries. At 100 TB this
  * also means a sample can be recomputed from scratch instead of
  * stored.
  */
object Sampling {

  /** Uniform pseudo-random bucket in [0, buckets) from a key column —
    * the first 8 md5 hex chars as an integer (engine-portable: DuckDB
    * computes the identical value via CAST('0x'||substr(md5(..)..) AS
    * BIGINT)). */
  def hashBucket(key: Column, buckets: Int): Column =
    pmod(conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long"),
      lit(buckets.toLong))

  /** Keep ~pct percent of rows, deterministically by key. */
  def deterministicSample(df: DataFrame, keyCol: String, pct: Int): DataFrame =
    df.filter(hashBucket(col(keyCol), 100) < pct)

  /** Assign train/val/test splits by key: `valPct` and `testPct`
    * percent go to val/test, the rest to train. */
  def withSplit(df: DataFrame, keyCol: String, valPct: Int, testPct: Int): DataFrame =
    df.withColumn("split",
      when(hashBucket(col(keyCol), 100) < valPct, lit("val"))
        .when(hashBucket(col(keyCol), 100) < valPct + testPct, lit("test"))
        .otherwise(lit("train")))

  /** Temperature (α = 0.5) resampling across strata — the multilingual
    * training-mix rebalancer (the α-sampling used publicly for
    * mT5/XLM-R-class corpora): stratum l keeps fraction
    * √(n_min / n_l), so the kept counts are proportional to √n_l —
    * big languages are downsampled toward the small ones without
    * discarding the size signal entirely. Engine-portable BY
    * CONSTRUCTION: each fraction is ONE division of two exact counts
    * followed by ONE sqrt (both correctly rounded IEEE ops — unlike a
    * sum-normalized weight, which would hang cross-engine exactness
    * on double addition order), and membership is the deterministic
    * md5-bucket rule against frac·2³². Returns the kept rows; the
    * stats form below is the gate shape. Stratum counts are
    * dictionary-sized and broadcast back. */
  def temperatureSample(df: DataFrame, keyCol: String, strataCol: String): DataFrame = {
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("_n"))
    // empty input: min(_n) is NULL — there is no reference stratum, so
    // the resample of nothing is nothing (not an NPE)
    val nMinRow = counts.agg(min(col("_n"))).head()
    if (nMinRow.isNullAt(0)) return df.limit(0)
    val nMin = nMinRow.getLong(0)
    val frac = sqrt(lit(nMin.toDouble) / col("_n").cast("double"))
    val bucket = conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    df.join(broadcast(counts.withColumn("_frac", frac)), Seq(strataCol))
      .filter(bucket.cast("double") < col("_frac") * lit(4294967296.0))
      .drop("_n", "_frac")
  }

  /** Gate shape of `temperatureSample`: per stratum, the before/after
    * counts and the applied fraction — the mix report a data-builder
    * reviews before committing a resample. */
  def temperatureMixStats(df: DataFrame, keyCol: String,
                          strataCol: String): DataFrame = {
    val after = temperatureSample(df, keyCol, strataCol)
      .groupBy(col(strataCol)).agg(count(lit(1)).as("n_after"))
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("n_before"))
    // same NULL-min guard as temperatureSample: zero strata -> an empty
    // report with the right schema
    val nMinRow = counts.agg(min(col("n_before"))).head()
    if (nMinRow.isNullAt(0))
      return counts.select(col(strataCol), col("n_before"),
        col("n_before").as("n_after"), lit(0.0).as("frac")).limit(0)
    val nMin = nMinRow.getLong(0)
    counts
      .join(after, Seq(strataCol), "left")
      .select(col(strataCol),
        col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        sqrt(lit(nMin.toDouble) / col("n_before").cast("double")).as("frac"))
  }

  /** Per-stratum sampling fractions — the rebalancing primitive for
    * training mixes (e.g. downsample the dominant language, keep all
    * of a rare one). Same deterministic per-key rule; a stratum absent
    * from `fractions` is dropped entirely (fraction 0). Single
    * map-side filter, no shuffle, retry-stable, recomputable. */
  def stratifiedSampleByFractions(df: DataFrame, keyCol: String,
                                  strataCol: String,
                                  fractions: Map[String, Int]): DataFrame = {
    val pctCol = fractions.foldLeft(lit(0)) { case (acc, (stratum, pct)) =>
      when(col(strataCol) === stratum, lit(pct)).otherwise(acc)
    }
    df.filter(hashBucket(col(keyCol), 100) < pctCol)
  }

  /** Token-budget mixture planner — the data-mix sizing step a
    * training run does before sampling (the public DoReMi/llama-style
    * recipe: fix per-source WEIGHTS, then derive how much of each
    * source to take): for each stratum present in `weights`, its exact
    * corpus token count, the target token allocation
    * (weight · budget), and the implied `epochs` repeat factor
    * (target / available — >1 means the source must repeat, <1 means
    * downsample, feeding `stratifiedSampleByFractions` or
    * `temperatureSample`). Strata absent from `weights` are excluded
    * from the plan by construction. Engine-portable: token counts are
    * exact BIGINT sums of the shared `TextAnalysis.tokens` rule, and
    * target/epochs are ONE multiply and ONE divide off exact operands.
    * One stratum-keyed agg over map-side token counts; the weight
    * table is literal-sized and broadcast. */
  def tokenBudgetMix(docs: DataFrame, strataCol: String,
                     weights: Map[String, Double], budget: Long): DataFrame = {
    val ss = docs.sparkSession
    import ss.implicits._
    val counts = docs
      .select(col(strataCol),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("_nt"))
      .groupBy(col(strataCol)).agg(sum(col("_nt")).as("n_tokens"))
    val w = weights.toSeq.toDF(strataCol, "weight")
    counts.join(broadcast(w), Seq(strataCol))
      .select(col(strataCol), col("n_tokens"), col("weight"),
        (col("weight") * lit(budget.toDouble)).as("target_tokens"),
        ((col("weight") * lit(budget.toDouble)) / col("n_tokens").cast("double"))
          .as("epochs"))
  }

  /** Deterministic EXACT-k sample: the k rows whose md5(key) sorts
    * lowest — a "bottom-k sketch". Unlike the pct samplers above this
    * returns exactly k rows (eval sets, golden sets, benchmark
    * carve-outs are fixed-size), yet keeps every determinism property:
    * pure function of the key, engine-portable, retry-stable, and
    * STABLE UNDER GROWTH in a precise sense — a row leaves the sample
    * only when a new row hashes below the current k-th, so consecutive
    * corpus snapshots share most of their sample. Plan: global
    * TakeOrderedAndProject (per-partition top-k, k-sized merge on the
    * driver side of the exchange) — zero full shuffles at any scale. */
  def bottomK(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    df.withColumn("_rank_key", md5(col(keyCol).cast("string")))
      .orderBy(col("_rank_key"))
      .limit(k)
      .drop("_rank_key")
  }

  /** Per-stratum exact-k: the bottom-k rule applied inside every
    * stratum (balanced eval sets — the same k docs per language no
    * matter how skewed the corpus). One stratum-keyed shuffle feeding
    * a rank window; strata with fewer than k rows keep them all. */
  def bottomKPerStratum(df: DataFrame, keyCol: String, strataCol: String,
                        k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k must be positive, got $k")
    val w = Window.partitionBy(col(strataCol))
      .orderBy(md5(col(keyCol).cast("string")))
    df.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= k)
      .drop("_rk")
  }

  /** Greedy sequential sequence packing — assign documents to training
    * context windows of `seqLen` tokens: within each shard
    * (`shardCol`), documents in `orderCol` order accumulate a running
    * token count and a document lands in bin floor(tokens-before /
    * seqLen). Deterministic (pure function of the ordering), so the
    * packing is recomputable and retry-stable like the samplers above.
    *
    * Scale shape: ONE window partitioned by the shard — packing is
    * per-shard by design (a global pack would serialize 100 TB through
    * one ordering; per-language/per-source shards are how production
    * packing runs anyway). Emits one row per (shard, bin) with the doc
    * count and token total for batch-plan auditing; the per-doc bin
    * assignment is the pre-aggregation interior. */
  def packSequences(docs: DataFrame, tokenCount: Column, shardCol: String,
                    orderCol: String, seqLen: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val w = Window.partitionBy(col(shardCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("_n_toks", tokenCount.cast("long"))
      .withColumn("_before", coalesce(sum(col("_n_toks")).over(w), lit(0L)))
      .withColumn("bin_id", expr(s"_before DIV $seqLen"))
      .groupBy(col(shardCol), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_n_toks")).as("sum_tokens"))
  }

  /** Deterministic systematic PPS (probability-proportional-to-size)
    * sampling — "pick ~k docs with probability proportional to token
    * count", the weighted companion to `bottomK`: selection marks at
    * every multiple of `step = max(1, Wtot div k)` along the cumulative
    * weight axis, docs ordered by (md5(id), id). A doc is selected iff
    * its cumulative interval [C_prev, C_i) contains a mark — the count
    * of marks below C is the exact integer `(C + step - 1) div step`,
    * so membership is pure integer arithmetic: reproducible across
    * engines, runs, retries and cluster sizes, and heavy docs are
    * proportionally favored with at most one selection each.
    *
    * Scale shape: the cumulative sums use the globalRank/pareto
    * pattern — range partition on the md5 order, per-partition prefix
    * sums, metadata-sized per-partition offsets collected to the
    * driver — never a single-partition window. */
  def ppsSystematic(df: DataFrame, idCol: String, weight: Column,
                    k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k must be positive, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol), weight.cast("long").as("_w"))
      .filter(col("_w") > 0)
      .withColumn("_h", md5(col(idCol).cast("string")))
    val sortCols = Seq(col("_h").asc, col(idCol).asc)
    val parted = base.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint()
    val parts = parted.groupBy(col("_pid")).agg(sum(col("_w")).as("_pw"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = parts.map { case (pid, t) => val o = acc; acc += t; (pid, o) }
    if (acc == 0L) return parted.select(col(idCol), col("_w").as("n_tokens")).limit(0)
    val step = math.max(1L, acc / k)
    val offDf = offsets.toSeq.toDF("_pid", "_off")
    val w = Window.partitionBy(col("_pid")).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parted.withColumn("_run", sum(col("_w")).over(w))
      .join(broadcast(offDf), Seq("_pid"))
      .withColumn("_ci", col("_off") + col("_run"))
      .filter(expr(s"(_ci + $step - 1) div $step") >
              expr(s"(_ci - _w + $step - 1) div $step"))
      .select(col(idCol), col("_w").as("n_tokens"))
  }
}
