package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{col, expr, lit, when}
import org.apache.spark.sql.types.StructType
import graft.functions.Similarity

/** The sq8, sq8_rerank and ivf serve rungs answer from a
  * driver-resident corpus below `Similarity.localServeCap` and from
  * Spark plans at or above it: a pure plan choice, so both sides must
  * return identical rows with the same schema (or fail with the same
  * error). cap = 0 forces the Spark side. */
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
    "annServe(700)" -> (c => Similarity.annServe(e, pred, k, 700L, c)),
    "annServe(900)" -> (c => Similarity.annServe(e, pred, k, 900L, c)))

  /** The frame's schema, if it was built, and its sorted rows, or the
    * root error conditions of the failure (AQE wraps the same root
    * error differently from run to run, and may add a cancelled
    * sibling stage's, so two failures agree when they share a root
    * condition). */
  private def outcome(df: => DataFrame): (Option[StructType], Either[Set[String], Seq[Seq[Any]]]) =
    try {
      val d = df
      (Some(d.schema),
        try Right(d.collect().map(_.toSeq).toSeq.sortBy(_.mkString("\u0001")))
        catch { case t: Throwable => Left(rootConditions(t)) })
    } catch { case t: Throwable => (None, Left(rootConditions(t))) }

  private def rootConditions(t: Throwable): Set[String] = {
    val inner = (Option(t.getCause).toSeq ++ t.getSuppressed).flatMap(rootConditions).toSet
    if (inner.nonEmpty) inner else Set(t match {
      case s: org.apache.spark.SparkThrowable if s.getCondition != null => s.getCondition
      case _ => t.getClass.getName
    })
  }

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** Asserts both sides agree on every call, in rows and in schema
    * (names, types, nullability); returns the outcomes. */
  private def sameBothSides(e: DataFrame, pred: Column, k: Int): Map[String, Either[Set[String], Seq[Seq[Any]]]] =
    calls(e, pred, k).map { case (name, f) =>
      val (localSchema, local) = outcome(f(Similarity.localServeCap))
      val (planSchema, plan) = outcome(f(0L))
      val agree = (local, plan) match {
        case (Left(a), Left(b)) => (a intersect b).nonEmpty
        case _ => local == plan
      }
      assert(agree, s"$name: the two sides of the cap differ: $local vs $plan")
      assert(localSchema.isEmpty || planSchema.isEmpty || localSchema == planSchema,
        s"$name: the two sides' schemas differ: $localSchema vs $planSchema")
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
          c => Similarity.sq8TopKRerank(e, pred, 10, 50, c),
          c => Similarity.annServe(e, pred, 10, 400L, c),
          c => Similarity.annServe(e, pred, 10, 700L, c),
          c => Similarity.annServe(e, pred, 10, 900L, c)).foreach { f =>
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

  test("predicate shapes: an id set, a label, NULL on some rows, none, all, and ones only a query can evaluate") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val ids = (0 until 20).map(i => 23L * i + 7)
    val shapes = Seq(
      "20-id isin" -> col("vec_id").isin(ids: _*),
      "label" -> (col("label") === 3),
      "NULL on two rows in three" -> when(col("vec_id") % 3 === 0, col("vec_id") % 7 === 0),
      "no match" -> (col("label") > 100),
      "lit(true)" -> lit(true),
      // the optimizer must rewrite these before a row can be tested, so
      // the driver runs them as a query over the resident corpus
      "subquery" -> expr("vec_id IN (SELECT id * 31 FROM range(0, 12))"),
      "runtime-replaced nvl" -> expr("nvl(label, 0) * 0 + vec_id % 50 = 1"))
    shapes.foreach { case (shape, pred) =>
      val want: Set[Any] = e.filter(pred).select("vec_id").collect().map(_.getLong(0)).toSet
      val got = sameBothSides(e, pred, 10)
      // every query has a neighbor in sq8's full scan; an ivf query
      // may find none in its probed cells
      assert(got("sq8TopK").map(_.map(_.head).toSet) == Right(want), s"$shape: the wrong queries")
      got.foreach { case (name, rows) =>
        val queried = rows.map(_.map(r => r(if (name.startsWith("annServe")) 3 else 0)).toSet)
        assert(queried.exists(_.subsetOf(want)), s"$shape / $name: answers the wrong queries")
      }
    }
  }

  test("every spelling of the corpus frame serves the same rows; a repeat call hits its one entry") {
    val session = spark.newSession()
    val path = "/root/testdata/sf0.001"
    val raw = Tables.embeddings(session, path)
    val pred = col("vec_id") % 100 === 0
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    /** This session's `local_corpus` entries, read the way perfbench
      * counts memo entries (element 0 is the (tag, params) key). */
    def entries(): Int = {
      val f = graft.functions.IndexMemo.getClass.getDeclaredField("entries")
      f.setAccessible(true)
      f.get(graft.functions.IndexMemo).asInstanceOf[List[Product]].count(e =>
        e.productElement(0).asInstanceOf[(String, Any)]._1 == "local_corpus" &&
          (e.productElement(1).asInstanceOf[AnyRef] eq session))
    }
    val spellings = Seq("raw" -> raw, "a second read" -> Tables.embeddings(session, path),
      "quantized" -> Similarity.quantized(raw))
    val got = spellings.map { case (name, e) =>
      name -> (rows(Similarity.annServe(e, pred, 10, 700L)), rows(Similarity.sq8TopK(e, pred, 10)))
    }
    assert(got.head._2._1.nonEmpty && got.head._2._2.nonEmpty)
    got.tail.foreach { case (name, answer) => assert(answer == got.head._2, s"$name serves other rows") }
    // the two reads share one entry; the quantized spelling is another plan
    assert(entries() == 2)
    assert(Similarity.localCorpus(raw).isDefined)
    assert(Similarity.localCorpus(raw, 0L).isEmpty)
    val (hits, before) = (graft.functions.IndexMemo.hitsFor("local_corpus"), entries())
    rows(Similarity.annServe(raw, col("vec_id").isin(3L, 150L, 299L), 10, 700L))
    assert(graft.functions.IndexMemo.hitsFor("local_corpus") == hits + 1, "a repeat call looks the corpus up once")
    assert(entries() == before, "a repeat call adds no entry")
  }

  test("a repeated ivf call (its cells kept on the corpus) returns the same rows") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = col("vec_id") % 100 === 0
    val b = col("vec_id").isin(3L, 150L, 299L, 444L)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    Seq[Column => DataFrame](p => Similarity.ivfTopK(e, p, 10, 16, 4),
        p => Similarity.ivfTopK(e, p, 10, 16, 4, 2), p => Similarity.annServe(e, p, 10, 400L))
      .foreach { f =>
        val first = rows(f(a))
        assert(first.nonEmpty)
        assert(rows(f(b)).nonEmpty)
        assert(rows(f(a)) == first, "a repeat call answers differently")
      }
  }

  test("corpora the driver path declines: a null element, a null vector, a repeated or INT vec_id") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructField}
    def corpus(idType: org.apache.spark.sql.types.DataType, rows: Seq[(Long, Seq[java.lang.Float])]) =
      spark.createDataFrame(java.util.List.of(rows.map { case (id, v) =>
          Row(if (idType == IntegerType) id.toInt else id, (id % 3).toInt, v) }: _*),
        StructType(Seq(StructField("vec_id", idType), StructField("label", IntegerType),
          StructField("embedding", ArrayType(FloatType)))))
    val vecs = (0L until 8L).map(i => i -> Seq[java.lang.Float](0.5f + i, 0.25f * i, 0.75f - 0.1f * i))
    val declined = Seq(
      "a null element" -> corpus(LongType, vecs.updated(3, 3L -> Seq[java.lang.Float](0.1f, null, 0.3f))),
      "a null vector" -> corpus(LongType, vecs.updated(5, 5L -> null)),
      "a repeated vec_id" -> corpus(LongType, vecs :+ (2L -> Seq[java.lang.Float](0.9f, 0.8f, 0.7f))),
      "an INT vec_id" -> corpus(IntegerType, vecs))
    declined.foreach { case (name, e) =>
      assert(Similarity.localCorpus(e).isEmpty, s"$name: the driver path must decline it")
      sameBothSides(e, col("vec_id") % 2 === 0, 3)
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
