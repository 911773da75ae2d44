package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions.col
import graft.functions.Similarity
import graft.operators.{ReportUpsert, SpendingReport}

/** Job-count contracts, the sibling of `ShuffleBudgetSpec`: the number
  * of Spark jobs an operation runs, counted by a listener. On small
  * inputs the cost of the report path is its chain of sequential small
  * jobs, and unlike wall time the count is deterministic, so a change
  * that adds a job shows here exactly. */
class JobBudgetSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val Tag = "graft.jobBudget"

  /** Jobs `body` submits from this thread (and the threads Spark runs
    * its stages and broadcasts on, which inherit the local property). */
  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Tag) == tag)) n.incrementAndGet()
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(l)
    sc.setLocalProperty(Tag, tag)
    try body finally sc.setLocalProperty(Tag, null)
    ListenerBus.drain(sc)
    sc.removeSparkListener(l)
    n.get
  }

  test("report(tx).collect() on sf0.001: job count") {
    val tx = Tables.transactions(spark, sf)
    // small: one partition, no Exchange, the collect is the job; unsized,
    // 4 = three shuffles (cells, per key, global) and the collect; the
    // three-consumer fold before ran 12, the nine-way composition 63
    assert(jobs(SpendingReport.report(tx).collect()) == 1)
    assert(jobs(SpendingReport.report(TestRefs.unsized(tx)).collect()) == 4)
  }

  test("report(tx).collect(): the job count grows with neither input size nor key count") {
    val sf01 = s"${new java.io.File(sf).getParent}/sf0.01"
    val inputs = Seq(Tables.transactions(spark, sf01), TestRefs.landedUploads(spark, 26))
    assert(inputs.map(tx => jobs(SpendingReport.report(tx).collect())) == Seq(1, 1))
    assert(inputs.map(tx => jobs(SpendingReport.report(TestRefs.unsized(tx)).collect())) == Seq(4, 4))
  }

  test("one enriched + mergeInto cycle: job count") {
    val tx = Tables.transactions(spark, sf)
    def cycle(sized: DataFrame => DataFrame) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_jobs").toString + "/reports"
      ReportUpsert.mergeInto(dir,
        sized(SpendingReport.enriched(sized(tx.filter("txn_date < DATE'2024-01-02'")))))
      jobs(ReportUpsert.mergeInto(dir, sized(SpendingReport.enriched(sized(tx)))))
    }
    // small, 2 = the report's collect + the upsert's write (its join
    // sorts one partition in place); unsized, 7 = the report's 4 + the
    // two merge shuffles and the write (the stored schema comes from a
    // footer, with no inference job); 16 before, and the nine-way
    // report with its cached row ran 68
    assert(cycle(identity) == 2)
    assert(cycle(TestRefs.unsized) == 7)
  }

  test("mergeIntoPartitioned finds its touched dates with one bounded collect") {
    val tx = Tables.transactions(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_jobs_part").toString + "/reports"
    def daily(cond: String, version: String) = {
      val d = ReportUpsert.dailyReports(tx.filter(cond), version)
      spark.createDataFrame(java.util.List.of(d.collect(): _*), d.schema)
    }
    ReportUpsert.mergeIntoPartitioned(dir, daily("txn_date < DATE'2024-01-03'", "v1"))
    val batch = daily("txn_date >= DATE'2024-01-02'", "v2")
    // 5: the touched dates' distinct and its limited collect (2), the
    // merge's two shuffles and the partitioned write (3); the stored
    // schema comes from a footer (schema inference made it 6), and a
    // count() before the collect made the touched dates 5 jobs, 9 in all
    assert(jobs(ReportUpsert.mergeIntoPartitioned(dir, batch)) == 5)
  }

  test("annServe on sf0.001: the cold call collects the corpus once; every other call runs no job") {
    val cold = col("vec_id") % 100 === 0
    // three memo-cold rounds (IndexMemo keys on the session), each
    // (cold 400 ‰, cold 700 ‰, warm 700 ‰, warm 400 ‰): only the first
    // cold call runs a job, the corpus collect, and every round alike
    val rounds = (1 to 3).map { r =>
      val e = Tables.embeddings(spark.newSession(), sf)
      def serve(pred: org.apache.spark.sql.Column, floor: Long) =
        jobs(Similarity.annServe(e, pred, 10, floor).collect())
      (serve(cold, 400L), serve(cold, 700L),
        serve(col("vec_id").isin((1L to 20L).map(_ + 20L * r): _*), 700L),
        serve(col("vec_id").isin((1L to 20L).map(_ + 100L + 20L * r): _*), 400L))
    }
    assert(rounds == Seq.fill(3)((1, 0, 0, 0)), s"per-round job counts: $rounds")
  }

  test("above the cap on sf0.001: the jobs of a cold and then a warm serve call") {
    // cap 0 forces the Spark plans, the path a corpus too large for the
    // driver takes; each serve function runs in its own fresh session
    val cold = col("vec_id") % 100 === 0
    val warm = col("vec_id").isin((1L to 20L).map(_ * 13): _*)
    type Serve = (org.apache.spark.sql.DataFrame, org.apache.spark.sql.Column) => Unit
    val serves = Seq[(String, Serve)](
      "sq8TopK" -> ((e, p) => Similarity.sq8TopK(e, p, 10, cap = 0L).collect()),
      "sq8TopKRerank" -> ((e, p) => Similarity.sq8TopKRerank(e, p, 10, 50, 0L).collect()),
      "ivfTopK(trainIters 0)" -> ((e, p) => Similarity.ivfTopK(e, p, 10, 16, 4, 0, 0L).collect()),
      "annServe(400)" -> ((e, p) => Similarity.annServe(e, p, 10, 400L, 0L).collect()),
      "annServe(700)" -> ((e, p) => Similarity.annServe(e, p, 10, 700L, 0L).collect()),
      "annServe(900)" -> ((e, p) => Similarity.annServe(e, p, 10, 900L, 0L).collect()))
    val got = serves.map { case (name, serve) =>
      val e = Tables.embeddings(spark.newSession(), sf)
      name -> (jobs(serve(e, cold)), jobs(serve(e, warm)))
    }
    assert(got == Seq("sq8TopK" -> (10, 4), "sq8TopKRerank" -> (18, 12), "ivfTopK(trainIters 0)" -> (12, 11),
      "annServe(400)" -> (16, 15), "annServe(700)" -> (14, 8), "annServe(900)" -> (22, 16)),
      s"(cold, warm) job counts: $got")
  }

  /** (jobs, executed queries) of `body` on `session`: each action or
    * write is one query, counted by a listener on that session. */
  private def jobsAndQueries(session: SparkSession)(body: => Unit): (Int, Int) = {
    val n = new AtomicInteger
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = n.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = n.incrementAndGet()
    }
    ListenerBus.drain(spark.sparkContext)
    session.listenerManager.register(l)
    try {
      val j = jobs(body)
      ListenerBus.drain(spark.sparkContext)
      (j, n.get)
    } finally session.listenerManager.unregister(l)
  }

  for (data <- Seq(sf, s"${new java.io.File(sf).getParent}/sf0.1"))
    test(s"a warm annServe call on ${new java.io.File(data).getName} is its caller's one query, with no job, at every driver rung") {
      val e = Tables.embeddings(spark.newSession(), data)
      def serve(ids: Seq[Long], floor: Long) = jobsAndQueries(e.sparkSession)(
        Similarity.annServe(e, col("vec_id").isin(ids: _*), 10, floor).collect())
      // cold: the corpus collect is one job in an SQL execution of its
      // own, which a listener sees, besides the caller's collect
      val cold = serve(Seq(0L, 100L), 700L)
      assert(cold == (1, 2), s"cold (jobs, queries): $cold")
      // the 700 ‰ call answers by sq8, 400 ‰ by ivf, 900 ‰ by sq8_rerank;
      // the predicate is evaluated on the driver, not by a query
      val warm = Seq(700L, 400L, 900L).zipWithIndex.map { case (floor, i) =>
        floor -> serve((1L to 20L).map(_ * 7 + i), floor)
      }
      assert(warm == Seq(700L -> (0, 1), 400L -> (0, 1), 900L -> (0, 1)),
        s"per-call (jobs, queries): $warm")
    }
}
