package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** The ANN ladder's SERVING-POLICY surface in one place (r18, VERDICT
  * task 2): each rung's serving constants (quantizer shape, probe/walk
  * parameters, rerank depth), its cross-scale certified recall floor,
  * its closed-form work-unit cost and its serve function — defined
  * ONCE and read by
  *
  *  - `Similarity.annServe` (the rung's own serve function, picked by
  *    [[choose]]) and `Similarity.annRecall`'s harness trainings,
  *  - the engine side of `q_ann_frontier` and `q_ann_recall`, and
  *  - the DuckDB oracle (the cost CASE is GENERATED from the same
  *    expression tree via [[Cost.sql]]).
  *
  * Before this, the frontier hand-duplicated m/ksub/L/probe literals in
  * both the Scala cost map and the SQL mirror; r17 re-pointed
  * `q_ivfpq_auto` and had to re-sync them by hand — a silent mis-rank
  * risk for the policy surface. Now a re-point is one edit here.
  *
  * Cost arithmetic (r17 ADVICE): evaluated in DOUBLE with a clamp at
  * 2^62 on BOTH sides — Scala `Long` wraps silently around n≈3e9 in
  * terms like 64·q·n (q≈n/100) while DuckDB BIGINT arithmetic raises,
  * so at extreme corpus scale the engine and oracle diverged (wrong
  * frontier vs query error). Every term is a product/sum/floor-div of
  * integers, so double arithmetic is EXACT below 2^53 — far above any
  * gated SF — and identical IEEE expression trees on both sides keep
  * the clamp bit-identical beyond it.
  */
object AnnPolicy {

  // ---------------------------------------------------------------
  // serving constants (the re-pointable knobs)
  // ---------------------------------------------------------------

  /** top-k depth served by every rung and the recall harness. */
  val k = 10

  /** exact-rerank candidate pool depth (`*_rerank` rungs). */
  val rerankPool = 50

  /** embeddings dimensionality — SQ8's per-dim code scan cost. */
  val dims = 64

  /** harness LSH: 4 hyperplane bits (16 buckets), 1 bucket + `bits`
    * Hamming-1 probes; multi-probe form runs `tables` tables. */
  val harnessLshBits = 4
  val harnessLshTables = 4

  /** harness flat IVF: 16 cells, 4 probed. The cell count must equal
    * the LSH table count 2^bits: the cost model's shared `b16` symbol
    * is max(1, n / harnessIvfCells) — ONE bucket-size number serving
    * both rungs (enforced below so a re-point cannot desync them). */
  val harnessIvfCells = 16
  val harnessIvfProbe = 4
  require(harnessIvfCells == (1 << harnessLshBits),
    "harness IVF cell count and LSH bucket count must agree: the " +
      "b16 cost symbol is one bucket size shared by both rungs")

  /** The high-fidelity PQ point (q_pq_hi): m=16 subspaces of 64 codes. */
  val pqHiM = 16
  val pqHiKsub = 64

  /** IVFADC auto point (q_ivfpq_auto, r17 re-point): m=16 residual
    * subspaces of 64 codes on sqrt(n/64) cells with sqrt(c) probing. */
  val ivfpqAutoM = 16
  val ivfpqAutoKsub = 64

  /** IVF-RQ auto point: additive residual stage widths. r18 re-point
    * to 8 stages x 16 codes — the r17 lab table already showed L8x16
    * above the gated L4x64 at the same sqrt(c) probe budget, and the
    * tri-scale sweep confirms it at EVERY SF (0.26/0.40/0.17 vs
    * 0.18/0.30/0.13): finer additive refinement beats wider per-stage
    * codebooks at equal 2^32 code space. Serve cost is L LUT lookups
    * per candidate (8 vs 4 — reflected in the cost tree below). */
  val ivfrqAutoKs: Seq[Int] = Seq.fill(8)(16)

  /** kNN-graph: per-node list depth and NN-descent round count; the
    * serving walk derives beam/hops from COUNT(*)
    * (`Similarity.autoGraphBeam` / `autoGraphHops`). */
  val kGraph = 10
  val graphRounds = 2

  // ---------------------------------------------------------------
  // cost expressions — one tree, two renderings
  // ---------------------------------------------------------------

  /** Closed-form integer work-unit cost over the frontier's derived
    * parameters. `eval` and `sql` recurse over the SAME tree, so the
    * engine and the DuckDB oracle compute identical numbers by
    * construction. Symbols (all BIGINT columns of the oracle's `prm`
    * CTE / entries of the engine's env map):
    *   n   corpus size              q    query count
    *   c   auto IVF cell count      p2   auto probe count (sqrt c)
    *   h   auto graph hops          bm   auto graph beam
    *   b16 harness bucket size max(1, n / harnessIvfCells)
    *       (= 2^harnessLshBits buckets — one number for both rungs)
    */
  sealed trait Cost {
    def +(o: Cost): Cost = Cost.Add(this, o)
    def *(o: Cost): Cost = Cost.Mul(this, o)
    /** integer floor division (both sides: floor over exact doubles). */
    def /(o: Cost): Cost = Cost.Div(this, o)

    def eval(env: Map[String, Long]): Long =
      math.min(Cost.capD, Cost.evalD(this, env)).toLong

    /** double-typed DuckDB expression, clamped and cast like `eval`. */
    def sql: String = s"CAST(LEAST(${Cost.capSql}, ${Cost.sqlD(this)}) AS BIGINT)"
  }

  object Cost {
    final case class Lit(v: Long) extends Cost
    final case class Sym(name: String) extends Cost
    final case class Add(a: Cost, b: Cost) extends Cost
    final case class Mul(a: Cost, b: Cost) extends Cost
    final case class Div(a: Cost, b: Cost) extends Cost

    /** clamp: 2^62 — exactly representable as a double on both sides. */
    private[AnnPolicy] val capD: Double = (1L << 62).toDouble
    private[AnnPolicy] val capSql: String = s"${1L << 62}.0"

    private[AnnPolicy] def evalD(e: Cost, env: Map[String, Long]): Double = e match {
      case Lit(v) => v.toDouble
      case Sym(s) => env(s).toDouble
      case Add(a, b) => evalD(a, env) + evalD(b, env)
      case Mul(a, b) => evalD(a, env) * evalD(b, env)
      case Div(a, b) => math.floor(evalD(a, env) / evalD(b, env))
    }

    private[AnnPolicy] def sqlD(e: Cost): String = e match {
      case Lit(v) => s"$v.0"
      case Sym(s) => s"CAST($s AS DOUBLE)"
      case Add(a, b) => s"(${sqlD(a)} + ${sqlD(b)})"
      case Mul(a, b) => s"(${sqlD(a)} * ${sqlD(b)})"
      case Div(a, b) => s"floor(${sqlD(a)} / ${sqlD(b)})"
    }
  }

  import Cost.{Lit => L, Sym}
  private val n = Sym("n"); private val q = Sym("q")
  private val c = Sym("c"); private val p2 = Sym("p2")
  private val h = Sym("h"); private val bm = Sym("bm")
  private val b16 = Sym("b16")

  /** A rung's serve function: (embeddings, queryPred, k, env) →
    * (query_id, rnk, neighbor_id, …) at the rung's operating point;
    * `env` is the corpus's [[env]] map (auto cells, probes, hops). */
  type Serve = (DataFrame, Column, Int, Map[String, Long]) => DataFrame

  /** One ANN rung: its harness/query method name, the cross-scale
    * CERTIFIED recall floor in milli-recall (the minimum of the per-SF
    * half-measured floors — the recall a serving policy can RELY on at
    * any gated scale), its serve-time cost expression, and the serve
    * function `Similarity.annServe` runs when the rung is chosen. */
  final case class AnnRung(method: String, floorMilli: Long, cost: Cost,
                           serve: Serve)

  import Similarity.{autoGraphBeam, autoGraphHops, autoIvfCells,
    autoIvfProbe, ivfRqTopKMulti, ivfTopK, ivfpqTopK, knnGraph,
    knnGraphSearch, lshTopK, lshTopKMulti, pqTopK, sq8TopK, sq8TopKRerank}

  /** The frontier's rung table. Floors are re-pinned when a rung
    * re-points (see BUILD_NOTES); cost constants reference the serving
    * vals above, so a re-point cannot leave the policy surface stale. */
  val rungs: Seq[AnnRung] = Seq(
    // bucket + `bits` Hamming-1 probes, each a b16-sized bucket scan
    AnnRung("lsh", 350L, q * L(harnessLshBits + 1) * b16,
      (e, p, k, _) => lshTopK(e, p, k, harnessLshBits)),
    // `tables` tables, 1 bucket each
    AnnRung("lsh_multi", 380L, q * L(harnessLshTables) * b16,
      (e, p, k, _) => lshTopKMulti(e, p, k, harnessLshBits, harnessLshTables)),
    // cells centroid distances + probed-cell scans
    AnnRung("ivf", 420L,
      q * L(harnessIvfCells) + q * L(harnessIvfProbe) * b16,
      (e, p, k, _) => ivfTopK(e, p, k, harnessIvfCells, harnessIvfProbe)),
    AnnRung("pq_hi", 220L, L(pqHiM) * q * n,
      (e, p, k, _) => pqTopK(e, p, k, pqHiM, pqHiKsub, 1)),
    AnnRung("sq8", 700L, L(dims) * q * n,
      (e, p, k, _) => sq8TopK(e, p, k)),
    AnnRung("sq8_rerank", 900L, L(dims) * q * n + L(rerankPool) * q,
      (e, p, k, _) => sq8TopKRerank(e, p, k, rerankPool)),
    AnnRung("ivfpq_auto", 170L,
      q * c + q * p2 * (n / c) * L(ivfpqAutoM),
      (e, p, k, env) => ivfpqTopK(e, p, k, env("c").toInt, env("p2").toInt,
        ivfpqAutoM, ivfpqAutoKsub, 1)),
    // L LUT lookups per candidate in the probed cells
    AnnRung("ivfrq_auto", 85L,
      q * c + q * p2 * (n / c) * L(ivfrqAutoKs.length),
      (e, p, k, env) => ivfRqTopKMulti(e, p, k, env("c").toInt,
        env("p2").toInt, ivfrqAutoKs, 1)),
    // the node's own list: one lookup
    AnnRung("knn_graph", 57L, q * L(kGraph),
      (e, p, k, _) => knnGraph(e, kGraph, graphRounds)
        .join(e.filter(p).select(col("vec_id")), Seq("vec_id"), "left_semi")
        .filter(col("rnk") <= k)
        .withColumnRenamed("vec_id", "query_id")),
    // beam walk: hops x beam nodes, kGraph edges each, + entry seeding
    AnnRung("knn_graph_search", 310L, q * (h * bm * L(kGraph) + bm),
      (e, p, k, env) => knnGraphSearch(e, p, k, kGraph, graphRounds,
        hops = env("h").toInt, beam = env("bm").toInt)))

  /** The policy's parameter environment for a corpus of `n` vectors
    * queried by `q` of them: the integers the cost trees evaluate over,
    * every one a COUNT(*)-derived auto value (the oracle re-derives the
    * same numbers via its integer threshold chains). */
  def env(n: Long, q: Long): Map[String, Long] = {
    val c = autoIvfCells(n)
    Map("n" -> n, "q" -> q, "c" -> c.toLong,
      "p2" -> autoIvfProbe(c).toLong, "h" -> autoGraphHops(n).toLong,
      "bm" -> autoGraphBeam(n).toLong,
      "b16" -> math.max(1L, n / harnessIvfCells))
  }

  /** The serving policy — "the cheapest rung whose CERTIFIED recall ≥
    * `floorMilli`": the minimum cost over the rungs meeting the floor
    * (tie-break: floor DESC, method ASC — the winner is on the Pareto
    * frontier by construction: anything dominating it would also meet
    * the floor more cheaply). An unsatisfiable floor fails loudly. */
  def choose(env: Map[String, Long], floorMilli: Long): AnnRung = {
    val eligible = rungs.filter(_.floorMilli >= floorMilli)
    require(eligible.nonEmpty,
      s"no ANN rung certifies recall >= $floorMilli milli " +
        s"(max certified: ${rungs.map(_.floorMilli).max})")
    eligible.minBy(r => (r.cost.eval(env), -r.floorMilli, r.method))
  }

  /** Engine-side cost of one rung (clamped double eval — see header). */
  def costUnits(method: String, env: Map[String, Long]): Long =
    rungs.find(_.method == method)
      .getOrElse(throw new IllegalArgumentException(s"unknown rung $method"))
      .cost.eval(env)

  /** The oracle's `CASE m.method … END` over the same trees. */
  def costSqlCase: String =
    rungs.init.map(r => s"WHEN '${r.method}' THEN ${r.cost.sql}")
      .mkString("CASE m.method\n         ",
        "\n         ", s"\n         ELSE ${rungs.last.cost.sql} END")

  /** `(VALUES …)` floor table for the oracle (method, floor_milli). */
  def floorsSqlValues: String =
    rungs.map(r => s"('${r.method}', ${r.floorMilli})").mkString(", ")
}
