package graft

import graft.operators.{Relational, SpendingReport}

/** Physical-plan assertions — the 100 TB design contract. These pin the
  * plan shapes that matter at scale: filters/column pruning reaching the
  * parquet scan, dimension joins broadcasting (never shuffling the
  * fact), top-k planning as TakeOrderedAndProject (no global sort), and
  * whole-stage codegen covering the hot path. */
class PlanSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection are pushed into the parquet scan") {
    val p = plan(Relational.revenueByOrder(
      Tables.lineitem(spark, sf), "1996-01-01", "1997-01-01"))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"no pushed filters in:\n$p")
    // Scan must read only the 4 needed columns, not all 11.
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_shipdate")
      && !readSchema.contains("l_returnflag"), s"column pruning failed: $readSchema")
  }

  test("tpch q6 (the pushdown probe): all three predicates pushed, 4-column scan") {
    val p = plan(Relational.forecastRevenue(
      Tables.lineitem(spark, sf), "1996-01-01", "1997-01-01"))
    // the rendered PushedFilters list is TRUNCATED in plan strings;
    // the per-column IsNotNull triple (derived from the three
    // predicates) plus the shipdate range prefix is the visible proof
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), " +
      "IsNotNull(l_quantity), GreaterThanOrEqual(l_shipda"),
      s"q6 predicates not pushed:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_extendedprice") && readSchema.contains("l_discount")
      && !readSchema.contains("l_orderkey") && !readSchema.contains("l_returnflag"),
      s"q6 column pruning failed: $readSchema")
  }

  test("dimension joins broadcast; the fact side never shuffles for the join") {
    // No broadcast() HINT exists on part/supplier (they scale with SF);
    // this asserts SIZE-BASED planning broadcasts them while they fit.
    val p = plan(Relational.revenueByTypeAndSupplier(
      Tables.lineitem(spark, sf), Tables.part(spark, sf), Tables.supplier(spark, sf)))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact should not sort-merge:\n$p")
  }

  test("SF-scaled dim joins degrade to shuffle joins when the dim outgrows memory") {
    // The 100 TB safety contract behind removing hard broadcast() hints
    // from part/supplier/customer: when the dim no longer fits under
    // autoBroadcastJoinThreshold (simulated here by disabling it), the
    // SAME query plans a shuffle join — a slower plan, never an OOM —
    // and the result is unchanged.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = Relational.revenueByTypeAndSupplier(
        Tables.lineitem(spark, sf), Tables.part(spark, sf), Tables.supplier(spark, sf))
      val p = plan(df)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected shuffle join with broadcast disabled:\n$p")
      assert(!p.contains("BroadcastHashJoin"), s"no broadcast must remain:\n$p")
      assert(df.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.topOrdersByPrice(Tables.orders(spark, sf), 10))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("group-by aggregates use partial (map-side) aggregation") {
    // the pre-rank aggregate itself (keyTotals materializes the rank
    // behind a checkpoint, so assert on the aggregate sub-plan)
    val tx = Tables.transactions(spark, sf)
    val p = plan(tx.groupBy(org.apache.spark.sql.functions.col("category"))
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("amount").cast("decimal(14,2)")).as("total")))
    assert(p.contains("partial_"), s"expected partial aggregation:\n$p")
  }

  test("keyTotals rank has no single-partition window") {
    // the scale contract for the global rank: every Window in the plan
    // is partitioned (an empty partition spec would funnel all rows
    // into one task at high key cardinality)
    val df = SpendingReport.keyTotals(Tables.transactions(spark, sf), "category")
    val p = plan(df)
    val windowLines = p.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.forall(_.contains("_pid")),
      s"window must be partitioned by _pid:\n${windowLines.mkString("\n")}")
    // and the rank is still the dense ascending 1..n sequence
    val ranks = df.collect().sortBy(_.getAs[Long]("rank_asc"))
      .map(_.getAs[Long]("rank_asc")).toSeq
    assert(ranks == (1L to ranks.size).toSeq, s"ranks not dense: $ranks")
  }

  test("semi/anti joins plan as joins, not subquery re-scans") {
    val semi = plan(Relational.ordersWithBigItems(
      Tables.orders(spark, sf), Tables.lineitem(spark, sf), 45.0))
    assert(semi.contains("LeftSemi"), s"expected left-semi:\n$semi")
    val anti = plan(Relational.ordersWithoutItems(
      Tables.orders(spark, sf), Tables.lineitem(spark, sf)))
    assert(anti.contains("LeftAnti"), s"expected left-anti:\n$anti")
  }

  test("tpch q16's NOT IN plans as an anti join before the part join") {
    // the exclusion subquery must compile to ONE LeftAnti join (never a
    // per-row re-scan of supplier), the part predicates must reach the
    // part scan, and the distinct-agg must keep map-side partials
    val p = plan(Relational.supplierCountByPart(
      Tables.lineitem(spark, sf), Tables.part(spark, sf),
      Tables.supplier(spark, sf),
      "Brand#45", "MEDIUM", Seq(49, 14, 23, 45, 19, 3, 36, 9), "%7%"))
    assert(p.contains("LeftAnti"), s"expected left-anti NOT-IN plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"NOT IN must not plan as a nested loop:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(p_brand)") ||
           p.contains("Not(EqualTo(p_brand"),
      s"part predicates not pushed:\n$p")
    assert(p.contains("partial_"), s"distinct-agg lost partial aggregation:\n$p")
  }

  test("tpch q4's EXISTS plans as a semi join with the lateness residual") {
    // the date window must still push to the orders scan even with the
    // correlated inequality riding the join
    val p = plan(Relational.latePriorityOrders(
      Tables.orders(spark, sf), Tables.lineitem(spark, sf),
      "1996-01-01", "1996-07-01", 60))
    assert(p.contains("LeftSemi"), s"expected left-semi EXISTS plan:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      s"q4 date window not pushed:\n$p")
  }

  test("tpch q2-lite's correlated min decorrelates into an aggregate + join") {
    // no per-part re-execution: the plan must contain a partkey-grouped
    // min aggregate (the decorrelated subquery) and NO nested-loop
    // re-scan of lineitem per outer row
    val df = Relational.sql(spark, sf, Relational.minPriceSupplierSql,
      Seq("part", "lineitem", "supplier"))
    val p = plan(df)
    assert(p.contains("HashAggregate") && p.toLowerCase.contains("min("),
      s"expected decorrelated min aggregate:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"correlated subquery must not plan as a nested loop:\n$p")
  }

  test("full tpch q2: 8-way join + correlated regional min, no nested loops") {
    // the correlated min (itself a 4-table join) must decorrelate into
    // a partkey-grouped aggregate + equality join; every join is a
    // hash/broadcast join; the top-100 plans as TakeOrderedAndProject
    val df = Relational.sql(spark, sf, Relational.tpchQ2Sql,
      Seq("part", "lineitem", "supplier", "nation", "region"))
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q2's correlated min must not plan as a nested loop:\n$p")
    assert(p.contains("HashAggregate") && p.toLowerCase.contains("min("),
      s"expected decorrelated min aggregate:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 must plan bounded, not a global sort:\n$p")
    assert(df.count() > 0)
  }

  test("full tpch q20: nested IN-chain plans as semi joins, no nested loops") {
    // both IN memberships must compile to hash semi joins and the
    // doubly-correlated scalar sum must decorrelate into a grouped
    // aggregate — never a per-pair re-scan of lineitem
    val df = Relational.sql(spark, sf, Relational.tpchQ20Sql,
      Seq("part", "lineitem", "supplier", "nation", "region"))
    val p = plan(df)
    assert(p.contains("LeftSemi"), s"expected semi-join IN plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q20's IN-chain must not plan as a nested loop:\n$p")
    assert(p.contains("HashAggregate") && p.toLowerCase.contains("sum("),
      s"expected decorrelated volume aggregate:\n$p")
  }

  test("ref-integrity audit scans each child table ONCE for all its relations") {
    // the r13 fusion contract: lineitem is child to 3 dims, and the
    // audit must read it once (one fk projection through a left-join
    // chain + one aggregate), not once per relation side — at 100 TB
    // the fact scan IS the query's cost
    val p = plan(SparkEntry.query("q_ref_integrity").run(spark, sf))
    val liScans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem.parquet"))
    assert(liScans == 1, s"lineitem must scan once, got $liScans:\n$p")
    // and only the fk columns reach the scan
    val readSchema = p.linesIterator.find(l =>
      l.contains("lineitem.parquet") && l.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_partkey")
      && readSchema.contains("l_suppkey") && !readSchema.contains("l_quantity"),
      s"fk-only projection expected: $readSchema")
  }

  test("profiler reads the table ONCE for all columns") {
    // the staged projection is materialized at construction (one
    // parquet scan); the per-column aggregates must all read the
    // staging, never re-scan the table — so the final plan contains
    // ZERO parquet scans
    val p = plan(graft.functions.Profiler.profile(
      Tables.lineitem(spark, sf), Seq("l_orderkey", "l_quantity", "l_shipdate", "l_returnflag")))
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 0, s"profile must not re-scan the table per column, found $scans:\n$p")
  }

  test("join on a partition column triggers dynamic partition pruning") {
    // the 100 TB reports/fact layout is date-partitioned (DESIGN.md);
    // a selective dim join must prune fact partitions at RUNTIME via
    // DPP, not scan them all
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString + "/txp"
    Tables.transactions(spark, sf).write.partitionBy("txn_date").parquet(dir)
    val fact = spark.read.parquet(dir)
    val dim = Tables.transactions(spark, sf)
      .select(org.apache.spark.sql.functions.col("txn_date")).distinct()
      .filter(org.apache.spark.sql.functions.dayofmonth(
        org.apache.spark.sql.functions.col("txn_date")) === 1)
    val joined = fact.join(dim, Seq("txn_date"))
      .groupBy("category").count()
    val p = plan(joined)
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected dynamic partition pruning in:\n$p")
  }

  test("selective fact-fact join injects a runtime bloom filter") {
    // when neither side broadcasts, Spark can build a bloom filter
    // from the selective side and push might_contain into the fact
    // scan — row-level runtime pruning on a NON-partition column, the
    // complement of DPP. Pin the feature works with our corpus/joins.
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.lineitem(spark, "/root/testdata/sf0.01")
      val ord = Tables.orders(spark, "/root/testdata/sf0.01")
        .filter(col("o_totalprice") > 400000.0)
      val p = plan(li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(sum(col("l_quantity")).as("q")))
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        s"expected runtime bloom filter in:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("report hot path is whole-stage-codegen'd") {
    // codegen spans appear in the FINAL adaptive plan, post-execution
    val df = SpendingReport.globalSummary(Tables.transactions(spark, sf))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen'd operators print with a "*(n)" star prefix
    assert(p.contains("*(1)") && p.contains("HashAggregate"),
      s"expected codegen spans:\n$p")
  }

  test("ANN pair-dedup exchanges ship slim rows — no vector arrays cross them") {
    // The shuffle-width contract behind scoring candidates BEFORE the
    // (id_a,id_b)/(query_id,neighbor_id) dropDuplicates: the dedup
    // exchange carries ids + one double per candidate, never the two
    // full quantized vectors (~1 KB/row at dim 64, the shape that made
    // this family shuffle-bound). The bucketed self-join may still move
    // vectors ONCE to co-locate collision rows — only the pair-keyed
    // dedup exchanges are pinned slim here.
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    import graft.functions.Similarity
    // AQE off for the assertion window: the pre-adaptive executedPlan
    // then holds plain ShuffleExchangeExec nodes whose output schema is
    // inspectable (AQE wraps them in opaque query stages).
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val emb = Tables.embeddings(spark, sf)
      val probe = org.apache.spark.sql.functions.col("vec_id") % 100 === 0
      val frames = Seq(
        "nearDupPairsLsh" -> Similarity.nearDupPairsLsh(emb, 0.4, 4, 4),
        "lshTopKMulti" -> Similarity.lshTopKMulti(emb, probe, 10, 4, 4),
        "lshTopK" -> Similarity.lshTopK(emb, probe, 10, 4))
      val pairKeys = Seq(Set("id_a", "id_b"), Set("query_id", "neighbor_id"))
      frames.foreach { case (name, df) =>
        val dedupExchanges = df.queryExecution.executedPlan
          .collect { case e: ShuffleExchangeExec => e }
          .filter(_.outputPartitioning match {
            case h: HashPartitioning =>
              val names = h.expressions.flatMap(_.references.map(_.name)).toSet
              pairKeys.exists(_.subsetOf(names))
            case _ => false
          })
        assert(dedupExchanges.nonEmpty,
          s"$name: expected a pair-keyed dedup exchange in the plan")
        dedupExchanges.foreach { e =>
          val wide = e.output.filter(_.dataType.isInstanceOf[ArrayType])
          assert(wide.isEmpty,
            s"$name: vector arrays cross the dedup exchange: ${wide.map(_.name).mkString(", ")}")
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }
}
