package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{col, lit}
import graft.functions.Similarity

/** The sq8 and ivf serve rungs answer from a driver-resident corpus
  * below `Similarity.localServeCap` and from Spark plans at or above
  * it: a pure plan choice, so both sides must return identical rows
  * (or fail with the same error). cap = 0 forces the Spark side. */
class LocalServeSpec extends SparkSpec {
  import spark.implicits._

  private val label: Column = col("label") % 2 === 0

  /** Every serve function whose path the cap picks, at cap `c`. */
  private def calls(e: DataFrame, pred: Column, k: Int): Seq[(String, Long => DataFrame)] = Seq(
    "sq8TopK" -> (c => Similarity.sq8TopK(e, pred, k, cap = c)),
    "sq8TopK(candPred)" -> (c => Similarity.sq8TopK(e, pred, k, Some(label), c)),
    "sq8TopKRerank" -> (c => Similarity.sq8TopKRerank(e, pred, k, 5 * k, c)),
    "ivfTopK(trainIters 0)" -> (c => Similarity.ivfTopK(e, pred, k, 16, 4, 0, c)),
    "ivfTopK(trainIters 2)" -> (c => Similarity.ivfTopK(e, pred, k, 16, 4, 2, c)),
    "annServe(400)" -> (c => Similarity.annServe(e, pred, k, 400L, c)),
    "annServe(700)" -> (c => Similarity.annServe(e, pred, k, 700L, c)))

  /** Sorted rows, or the root error conditions of the failure (AQE
    * wraps the same root error differently from run to run, and may
    * add a cancelled sibling stage's, so two failures agree when they
    * share a root condition). */
  private def outcome(df: => DataFrame): Either[Set[String], Seq[Seq[Any]]] =
    try Right(df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("\u0001")))
    catch { case t: Throwable => Left(rootConditions(t)) }

  private def rootConditions(t: Throwable): Set[String] = {
    val inner = (Option(t.getCause).toSeq ++ t.getSuppressed).flatMap(rootConditions).toSet
    if (inner.nonEmpty) inner else Set(t match {
      case s: org.apache.spark.SparkThrowable if s.getCondition != null => s.getCondition
      case _ => t.getClass.getName
    })
  }

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** Asserts both sides agree on every call; returns the outcomes. */
  private def sameBothSides(e: DataFrame, pred: Column, k: Int): Map[String, Either[Set[String], Seq[Seq[Any]]]] =
    calls(e, pred, k).map { case (name, f) =>
      val local = outcome(f(Similarity.localServeCap))
      val plan = outcome(f(0L))
      val agree = (local, plan) match {
        case (Left(a), Left(b)) => (a intersect b).nonEmpty
        case _ => local == plan
      }
      assert(agree, s"$name: the two sides of the cap differ: $local vs $plan")
      name -> local
    }.toMap

  for (sf <- Seq("sf0.001", "sf0.01")) {
    test(s"$sf: every sq8/ivf serve returns identical rows on both sides of localServeCap") {
      val e = Tables.embeddings(spark, s"/root/testdata/$sf")
      val pred = col("vec_id") % 100 === 0
      val q = Similarity.quantized(e)
      assert(Similarity.localCorpus(q).isDefined, "the corpus must be below the default cap")
      assert(Similarity.localCorpus(q, 0L).isEmpty)
      Seq[Long => DataFrame](c => Similarity.sq8TopK(e, pred, 10, cap = c),
          c => Similarity.ivfTopK(e, pred, 10, 16, 4, cap = c),
          c => Similarity.annServe(e, pred, 10, 700L, c)).foreach { f =>
        assert(isLocal(f(Similarity.localServeCap)) && !isLocal(f(0L)),
          "the default cap serves from the driver, cap 0 from a Spark plan")
      }
      val got = sameBothSides(e, pred, 10)
      got.foreach { case (name, rows) => assert(rows.exists(_.nonEmpty), s"$name: no rows") }
      // an empty query set, and k beyond every candidate count
      sameBothSides(e, col("vec_id") < 0, 10).foreach { case (name, rows) =>
        assert(rows == Right(Nil), s"$name: an empty query set answers nothing")
      }
      sameBothSides(e, col("vec_id") === 0, 600)
    }
  }

  test("edge corpora: empty, constant, zero-norm; k beyond the candidates") {
    val empty = Seq.empty[(Long, Int, Array[Float])].toDF("vec_id", "label", "embedding")
    sameBothSides(empty, col("vec_id") % 2 === 0, 10).foreach { case (name, rows) =>
      assert(rows == Right(Nil), s"$name: an empty corpus answers nothing")
    }
    // every vector equal: sq8's mx == mn codes 0 (adist 0 everywhere),
    // ivf's cosines all tie — both rank by neighbor_id alone
    val constant = (0L until 6L).map(i => (i, i.toInt, Array(0.5f, 0.25f, 0.75f)))
      .toDF("vec_id", "label", "embedding")
    val got = sameBothSides(constant, col("vec_id") < 2, 3)
    assert(got("sq8TopK").map(_.map(r => (r(0), r(2), r(3)))) == Right(Seq(
      (0L, 1L, 0L), (0L, 2L, 0L), (0L, 3L, 0L), (1L, 0L, 0L), (1L, 2L, 0L), (1L, 3L, 0L))))
    sameBothSides(constant, lit(true), 50)
    // zero vectors: a cosine over a zero norm divides by zero, which
    // ANSI Spark raises (no NaN cosine); both sides raise it, sq8 serves
    val zero = (0L until 4L).map(i => (i, i.toInt, Array(0f, 0f))).toDF("vec_id", "label", "embedding")
    val z = sameBothSides(zero, col("vec_id") === 0, 2)
    assert(z("ivfTopK(trainIters 0)").left.exists(_("DIVIDE_BY_ZERO")))
    assert(z("sq8TopK").map(_.length) == Right(2))
  }
}
