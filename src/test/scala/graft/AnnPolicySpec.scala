package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.AnnPolicy

/** The shared serving-policy config (r18): one definition of each
  * rung's constants, floor and cost expression, evaluated by the
  * engine and RENDERED into the oracle's SQL. These pins prove the
  * expression trees compute the intended closed forms (the tri-scale
  * oracle gate proves the SQL rendering computes the same numbers). */
class AnnPolicySpec extends AnyFunSuite {

  // a representative sf0.1-shaped parameter env
  private val env = Map("n" -> 12800L, "q" -> 128L, "c" -> 14L,
    "p2" -> 4L, "h" -> 4L, "bm" -> 42L, "b16" -> 800L)

  test("cost trees compute the documented closed forms (hand-recomputed from the config constants)") {
    def c(m: String) = AnnPolicy.costUnits(m, env)
    val n = env("n"); val q = env("q"); val cc = env("c"); val p2 = env("p2")
    val h = env("h"); val bm = env("bm"); val b16 = env("b16")
    // each expectation re-derives the rung's cost from the RAW config
    // constants in plain Long arithmetic — a drifted tree fails here
    assert(c("lsh") == q * (AnnPolicy.harnessLshBits + 1) * b16)
    assert(c("lsh_multi") == q * AnnPolicy.harnessLshTables * b16)
    assert(c("ivf") ==
      q * AnnPolicy.harnessIvfCells + q * AnnPolicy.harnessIvfProbe * b16)
    assert(c("pq_hi") == AnnPolicy.pqHiM * q * n)
    assert(c("sq8") == AnnPolicy.dims.toLong * q * n)
    assert(c("ivfpq_auto") == q * cc + q * p2 * (n / cc) * AnnPolicy.ivfpqAutoM)
    assert(c("ivfrq_auto") == q * cc + q * p2 * (n / cc) * AnnPolicy.ivfrqAutoKs.length)
    assert(c("knn_graph") == q * AnnPolicy.kGraph)
    assert(c("knn_graph_search") == q * (h * bm * AnnPolicy.kGraph + bm))
  }

  test("costs clamp at 2^62 instead of wrapping (r17 ADVICE: sq8 at n≈3e9 overflows int64)") {
    val big = env ++ Map("n" -> 3_000_000_000L, "q" -> 30_000_000L)
    // 64 * 3e7 * 3e9 = 5.76e18 > 2^62 ≈ 4.61e18: Long arithmetic would
    // wrap negative; the clamped double eval saturates at the cap
    assert(AnnPolicy.costUnits("sq8", big) == (1L << 62))
    assert(AnnPolicy.costUnits("sq8", big) > 0)
    // and the SQL rendering carries the SAME clamp, so DuckDB computes
    // the identical saturated value instead of raising on overflow
    assert(AnnPolicy.rungs.find(_.method == "sq8").get.cost.sql
      .contains(s"LEAST(${1L << 62}.0"))
  }

  test("double evaluation is exact at gated scales (integers below 2^53)") {
    // the biggest gated cost term: exact in double, so the r18 move to
    // clamped-double arithmetic changed NO gated value
    val v = AnnPolicy.costUnits("sq8_rerank", env)
    assert(v == 64L * 128L * 12800L + 50L * 128L)
  }

  test("certified floors ARE the min of the per-SF half-measured floors (no hand-sync drift)") {
    // AnnPolicy.floorMilli is documented as the minimum of
    // SimilarityQueries.perSfQuantFloors across the gated SFs; a re-point
    // that updates one table and not the other mis-certifies the
    // policy surface with no oracle to catch it (both sides are
    // engine constants) — this pin closes that gap.
    val perSf = graft.board.SimilarityQueries.perSfQuantFloors.values.toSeq
    val quantMin: Map[String, Long] = perSf.flatten
      .groupBy(_._1)
      .map { case (m, fs) =>
        m -> math.round(fs.map(_._2).min * 1000)
      }
    // the five non-quantizer rungs carry scale-invariant floors
    // (q_ann_recall's fixed list) — pinned here at the same values
    val fixed = Map("lsh" -> 350L, "lsh_multi" -> 380L, "ivf" -> 420L,
      "sq8" -> 700L, "sq8_rerank" -> 900L)
    AnnPolicy.rungs.foreach { r =>
      val expected = quantMin.get(r.method).orElse(fixed.get(r.method))
      assert(expected.contains(r.floorMilli),
        s"${r.method}: certified floor ${r.floorMilli} != " +
          s"min-of-per-SF/fixed ${expected} — re-pin both tables together")
    }
    // and every per-SF table covers every quantizer rung (no orphans)
    perSf.foreach(t => assert(t.map(_._1).toSet == quantMin.keySet))
  }

  test("oracle SQL fragments are generated from the rung table (one row per rung, floors in sync)") {
    val sqlCase = AnnPolicy.costSqlCase
    // every non-terminal rung appears as a WHEN branch
    AnnPolicy.rungs.init.foreach { r =>
      assert(sqlCase.contains(s"WHEN '${r.method}' THEN"), r.method)
    }
    val floors = AnnPolicy.floorsSqlValues
    AnnPolicy.rungs.foreach { r =>
      assert(floors.contains(s"('${r.method}', ${r.floorMilli})"), r.method)
    }
    // 10 rungs on the board
    assert(AnnPolicy.rungs.size == 10)
    assert(AnnPolicy.rungs.map(_.method).distinct.size == 10)
  }

  test("choose: cheapest floor-meeting rung, ties to the higher floor; unsatisfiable floors fail") {
    assert(AnnPolicy.choose(env, 0L).method == "knn_graph")
    assert(AnnPolicy.choose(env, 400L).method == "ivf")
    assert(AnnPolicy.choose(env, 700L).method == "sq8")
    assert(AnnPolicy.choose(env, 900L).method == "sq8_rerank")
    // q = 0 zeroes every cost: the tie goes to the highest floor
    assert(AnnPolicy.choose(env ++ Map("q" -> 0L), 0L).method == "sq8_rerank")
    val ex = intercept[IllegalArgumentException](AnnPolicy.choose(env, 901L))
    assert(ex.getMessage.contains("no ANN rung certifies"))
  }

  test("the rungs choose can pick, over n = 2..1e12 and q in {1, n/100}, at every floor") {
    // every n up to 1,000, then a 1-2-5 grid up to 1e12
    val grid = (2L to 1000L) ++ (3 to 12).flatMap { e =>
      val p = math.pow(10, e).toLong
      Seq(p, 2 * p, 5 * p).filter(_ <= 1000000000000L)
    }
    val floors = AnnPolicy.rungs.map(_.floorMilli).distinct
    val chosen = (for {
      n <- grid
      q <- Seq(1L, math.max(1L, n / 100))
      f <- floors
    } yield AnnPolicy.choose(AnnPolicy.env(n, q), f).method).toSet
    assert(chosen == Set("ivf", "knn_graph", "knn_graph_search", "lsh_multi",
      "sq8", "sq8_rerank"), s"chosen set drifted: $chosen")
  }
}
