package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Tables
import graft.functions.{AnnPolicy, Similarity}

/** Policy-dispatched ANN serving on the sf0.1 embeddings (2,000 x 64),
  * in rounds, each in a new session over the same corpus (memo-cold;
  * untimed first rounds in `prepare` warm the JIT): one cold
  * `annServe` call at each of `q_ann_serve`'s recall floors (builds
  * those rungs' indexes), then a warm loop over seeded, distinct
  * query-id sets of ~1% of the corpus. */
final class AnnServe extends Workload {
  import AnnServe._

  private var emb: DataFrame = _
  private var coldIds: Seq[Long] = Nil
  private var sets: Seq[Seq[Long]] = Nil
  // (floor, query ids, answer rows) of every successful call
  private val answers = mutable.ArrayBuffer.empty[(Long, Seq[Long], Array[Row])]
  private var truth: Map[Long, Set[Long]] = _

  def warmup(spark: SparkSession, data: File, scratch: File): Unit =
    Similarity.quantized(Tables.embeddings(spark, dir(data)))
      .selectExpr("vec_id", "nq").write.format("noop").mode("overwrite").save()

  override def prepare(c: Ctx): Unit = {
    emb = Tables.embeddings(c.spark, dir(c.data))
    coldIds = emb.filter(ColdPred).select("vec_id").collect().map(_.getLong(0)).toSeq
    val ids = emb.select("vec_id").collect().map(_.getLong(0)).sorted.toIndexedSeq
    val rnd = new Random(c.seed)
    val seen = mutable.LinkedHashSet.empty[Seq[Long]]
    val n = (Rounds + WarmRounds) * warmCalls(c.seconds)
    while (seen.size < n) seen += rnd.shuffle(ids).take(SetSize).sorted
    val (first, rest) = seen.toSeq.splitAt(WarmRounds * warmCalls(c.seconds))
    sets = rest
    // Untimed: whole rounds, run as the timed ones are, so the JIT is
    // warm before timing starts, and a run's figures depend less on how
    // fast the JIT gets there. With only the cold calls warmed, the first
    // timed round ran ~40% slower than the later ones; after one whole
    // round the warm calls still sped up ~25% from the first timed round
    // to the last, after two the cold calls ~30%, after three ~15%.
    first.grouped(warmCalls(c.seconds)).foreach { warm =>
      val e = Tables.embeddings(c.newSession(), dir(c.data))
      Floors.foreach(f => Similarity.annServe(e, ColdPred, AnnPolicy.k, f).collect())
      warm.foreach(ids =>
        Similarity.annServe(e, col("vec_id").isin(ids: _*), AnnPolicy.k, WarmFloor).collect())
    }
  }

  def run(c: Ctx): Unit =
    sets.grouped(warmCalls(c.seconds)).zipWithIndex.foreach { case (warm, r) =>
      emb = Tables.embeddings(c.newSession(), dir(c.data))
      Floors.foreach(f => serve(c, "ann_cold", s"r$r.floor$f", ColdPred, coldIds, f))
      warm.zipWithIndex.foreach { case (ids, i) =>
        serve(c, "ann_warm", s"r$r.set$i", col("vec_id").isin(ids: _*), ids, WarmFloor)
      }
    }

  private def serve(c: Ctx, kind: String, name: String, pred: Column, ids: Seq[Long],
                    floor: Long): Unit =
    c.rec.op(kind, name)(c.rec.span("functions.ann_serve")(
      Similarity.annServe(emb, pred, AnnPolicy.k, floor).collect()))
      .foreach(rows => answers += ((floor, ids, rows)))

  override def layerExtras(c: Ctx): Map[String, Double] =
    Map("functions.ann_recall_milli" -> recall()._1)

  def checks(c: Ctx, fresh: () => SparkSession): Seq[Check] = {
    val (_, perFloor) = recall()
    Floors.map { f =>
      val calls = answers.filter(_._1 == f)
      val methods = calls.flatMap(_._3.map(_.getAs[String]("method"))).distinct
      val rungFloor = methods.headOption.flatMap(m => AnnPolicy.rungs.find(_.method == m))
        .map(_.floorMilli).getOrElse(Long.MaxValue)
      val got = perFloor.getOrElse(f, 0.0)
      Check(s"ann_serve.recall_floor$f", calls.nonEmpty && methods.size == 1 && got >= rungFloor,
        s"rung ${methods.mkString(",")} over ${calls.size} calls: recall $got milli " +
          s"vs certified floor $rungFloor")
    }
  }

  /** Recall of every answer against `Similarity.bruteForceTopK`: overall
    * and per requested floor, in milli. */
  private def recall(): (Double, Map[Long, Double]) = {
    if (truth == null) {
      val queried = (coldIds ++ sets.flatten).distinct
      truth = Similarity.bruteForceTopK(emb, col("vec_id").isin(queried: _*), AnnPolicy.k).collect()
        .groupMap(_.getAs[Long]("query_id"))(_.getAs[Long]("neighbor_id"))
        .map { case (q, ns) => q -> ns.toSet }
    }
    def hits(rows: Seq[(Seq[Long], Array[Row])]): (Long, Long) = {
      val found = rows.flatMap { case (ids, answer) =>
        val got = answer.groupMap(_.getAs[Long]("query_id"))(_.getAs[Long]("neighbor_id"))
        ids.map(q => got.getOrElse(q, Array.empty[Long]).count(truth(q)).toLong)
      }.sum
      (found, rows.map(_._1.map(q => truth(q).size.toLong).sum).sum)
    }
    def milli(h: (Long, Long)) = if (h._2 == 0) 0.0 else 1000.0 * h._1 / h._2
    val all = milli(hits(answers.map(a => (a._2, a._3)).toSeq))
    val byFloor = answers.groupBy(_._1).map { case (f, as) =>
      f -> milli(hits(as.map(a => (a._2, a._3)).toSeq))
    }
    (all, byFloor)
  }
}

object AnnServe {
  /** `q_ann_serve`'s two recall floors (milli) and its query set. */
  val Floors = Seq(400L, 700L)
  val ColdPred: Column = col("vec_id") % 100 === 0
  /** The warm loop serves at the tighter floor (`q_ann_serve_tight`),
    * whose rung (sq8) is the cheaper call, so a run holds more samples. */
  val WarmFloor = 700L
  /** ~1% of the 2,000-vector corpus per query set. */
  val SetSize = 20
  /** Timed rounds per run; `batch_s` is the median round's cold calls. */
  val Rounds = 4
  /** Untimed rounds before the timed ones (JIT warm-up). */
  val WarmRounds = 3
  /** Warm calls per round, from `--seconds`: 9 at 30 s. */
  def warmCalls(seconds: Int): Int = math.max(8, seconds * 3 / 10)

  def dir(data: File): String = new File(data, "sf0.1").getAbsolutePath
}
