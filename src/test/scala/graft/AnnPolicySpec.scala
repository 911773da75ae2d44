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
  private val env = Map("n" -> 12800L, "q" -> 128L, "h" -> 4L,
    "bm" -> 42L, "b16" -> 800L)

  test("cost trees compute the documented closed forms (hand-recomputed from the config constants)") {
    def c(m: String) = AnnPolicy.costUnits(m, env)
    val n = env("n"); val q = env("q")
    val h = env("h"); val bm = env("bm"); val b16 = env("b16")
    // each expectation re-derives the rung's cost from the RAW config
    // constants in plain Long arithmetic — a drifted tree fails here
    assert(c("lsh_multi") == q * AnnPolicy.harnessLshTables * b16)
    assert(c("ivf") ==
      q * AnnPolicy.harnessIvfCells + q * AnnPolicy.harnessIvfProbe * b16)
    assert(c("sq8") == AnnPolicy.dims.toLong * q * n)
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
    // the four rungs without per-SF floors carry scale-invariant ones
    // (q_ann_recall's fixed list) — pinned here at the same values
    val fixed = Map("lsh_multi" -> 380L, "ivf" -> 420L,
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
    // 6 rungs on the board
    assert(AnnPolicy.rungs.size == 6)
    assert(AnnPolicy.rungs.map(_.method).distinct.size == 6)
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

  /** 1-2-5 values from 10^fromExp up to `max`. */
  private def oneTwoFive(fromExp: Int, max: Long): Seq[Long] =
    (fromExp to 12).flatMap { e =>
      val p = math.pow(10, e).toLong
      Seq(p, 2 * p, 5 * p)
    }.filter(_ <= max)

  // every n up to 1,000, then a 1-2-5 grid up to 1e12
  private val nGrid: Seq[Long] = (2L to 1000L) ++ oneTwoFive(3, 1000000000000L)

  /** q on a 1-2-5 grid from 1 up to n, plus n itself. */
  private def qGrid(n: Long): Seq[Long] = (oneTwoFive(0, n) :+ n).distinct

  test("the rungs choose can pick, over n = 2..1e12 and q on a 1-2-5 grid to n") {
    val floors = AnnPolicy.rungs.map(_.floorMilli).distinct
    val chosen = (for {
      n <- nGrid
      q <- qGrid(n)
      f <- floors
    } yield AnnPolicy.choose(AnnPolicy.env(n, q), f).method).toSet
    // every rung in the table is pickable somewhere: a dominated rung
    // cannot be added without failing here
    assert(chosen == AnnPolicy.rungs.map(_.method).toSet,
      s"chosen set drifted: $chosen")
  }

  /** The `Sym` names a cost tree reads. */
  private def syms(c: AnnPolicy.Cost): Set[String] = c match {
    case AnnPolicy.Cost.Sym(s) => Set(s)
    case AnnPolicy.Cost.Lit(_) => Set.empty
    case AnnPolicy.Cost.Add(a, b) => syms(a) ++ syms(b)
    case AnnPolicy.Cost.Mul(a, b) => syms(a) ++ syms(b)
    case AnnPolicy.Cost.Div(a, b) => syms(a) ++ syms(b)
  }

  test("env holds exactly the symbols the rung cost trees read") {
    val read = AnnPolicy.rungs.flatMap(r => syms(r.cost)).toSet
    Seq((2L, 1L), (12800L, 128L), (1000000000000L, 1L)).foreach { case (n, q) =>
      assert(AnnPolicy.env(n, q).keySet == read, s"n=$n q=$q")
    }
  }

  test("every cost is linear in q below 2^53, so q cannot move choose's winner") {
    // each cost tree is q times a q-free term: scaling every rung's
    // cost by the same q keeps choose's (cost, floor, method) order,
    // so only the n grid (and the clamp far above it) can change the
    // winner. Exact in double below 2^53, hence the bound.
    val points = for {
      n <- nGrid
      q <- qGrid(n)
      r <- AnnPolicy.rungs
    } yield (r.method, n, q, AnnPolicy.costUnits(r.method, AnnPolicy.env(n, q)))
    val exact = points.filter(_._4 < (1L << 53))
    exact.foreach { case (m, n, q, cq) =>
      assert(cq == q * AnnPolicy.costUnits(m, AnnPolicy.env(n, 1L)),
        s"$m at n=$n q=$q: cost $cq is not q x the q=1 cost")
    }
    // the bound excludes only the extreme corner of the grid
    assert(exact.size * 10 > points.size * 9,
      s"only ${exact.size} of ${points.size} points are below 2^53")
  }
}
