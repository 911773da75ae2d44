package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col

/** The ANN ladder's SERVING-POLICY surface in one place (r18, VERDICT
  * task 2): each rung's serving constants (probe/walk parameters,
  * rerank depth), its cross-scale certified recall floor,
  * its closed-form work-unit cost and its serve function — defined
  * ONCE and read by
  *
  *  - `Similarity.annServe` (the rung's own serve function, picked by
  *    [[choose]]) and `Similarity.annRecall`'s harness trainings,
  *  - the engine side of `q_ann_frontier` and `q_ann_recall`, and
  *  - the DuckDB oracle (the cost CASE is GENERATED from the same
  *    expression tree via [[Cost.sql]]).
  *
  * A re-point is one edit here: no serving literal is duplicated in
  * the cost trees or the oracle SQL.
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

  /** harness LSH (`lsh_multi`): 4 hyperplane bits (16 buckets) per
    * table, `tables` tables, one bucket probed in each. */
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
  private val h = Sym("h"); private val bm = Sym("bm")
  private val b16 = Sym("b16")

  /** A rung's serve function: (embeddings, queryPred, k, env, cap) →
    * (query_id, rnk, neighbor_id, …) at the rung's operating point;
    * `env` is the corpus's [[env]] map (graph hops and beam) and
    * `cap` the driver-resident corpus cap the sq8 and ivf rungs take
    * (`Similarity.localServeCap`; the other rungs ignore it). */
  trait Serve {
    def apply(e: DataFrame, p: Column, k: Int, env: Map[String, Long],
              cap: Long = Similarity.localServeCap): DataFrame
  }

  /** A rung's driver kernel over the driver-resident corpus (below
    * `Similarity.localServeCap`): (corpus, positions of the rows the
    * query predicate matched, k) → the (query_id, rnk, neighbor_id, …)
    * rows its Spark plan returns, or None when that plan must answer. */
  trait LocalServe {
    def apply(lc: Similarity.LocalCorpus, hits: Array[Int], k: Int): Option[Seq[Row]]
  }

  /** One ANN rung: its harness/query method name, the cross-scale
    * CERTIFIED recall floor in milli-recall (the minimum of the per-SF
    * half-measured floors — the recall a serving policy can RELY on at
    * any gated scale), its serve-time cost expression, the serve
    * function `Similarity.annServe` runs when the rung is chosen, and
    * the driver kernel it runs instead below the cap, if the rung has
    * one. */
  final case class AnnRung(method: String, floorMilli: Long, cost: Cost,
                           serve: Serve, local: Option[LocalServe] = None)

  import Similarity.{autoGraphBeam, autoGraphHops, ivfLocal, ivfTopK,
    knnGraph, knnGraphSearch, lshTopKMulti, sq8Local, sq8RerankLocal,
    sq8TopK, sq8TopKRerank}

  /** The frontier's rung table. Floors are re-pinned when a rung
    * re-points (see BUILD_NOTES); cost constants reference the serving
    * vals above, so a re-point cannot leave the policy surface stale. */
  val rungs: Seq[AnnRung] = Seq(
    // `tables` tables, 1 bucket each
    AnnRung("lsh_multi", 380L, q * L(harnessLshTables) * b16,
      (e, p, k, _, _) => lshTopKMulti(e, p, k, harnessLshBits, harnessLshTables)),
    // cells centroid distances + probed-cell scans
    AnnRung("ivf", 420L,
      q * L(harnessIvfCells) + q * L(harnessIvfProbe) * b16,
      (e, p, k, _, cap) => ivfTopK(e, p, k, harnessIvfCells, harnessIvfProbe, cap = cap),
      Some((lc, hits, k) => ivfLocal(lc, hits, k, harnessIvfProbe, lc.firstById(harnessIvfCells)))),
    AnnRung("sq8", 700L, L(dims) * q * n,
      (e, p, k, _, cap) => sq8TopK(e, p, k, cap = cap),
      Some((lc, hits, k) => Some(sq8Local(lc, hits, k)))),
    AnnRung("sq8_rerank", 900L, L(dims) * q * n + L(rerankPool) * q,
      (e, p, k, _, cap) => sq8TopKRerank(e, p, k, rerankPool, cap),
      Some((lc, hits, k) => sq8RerankLocal(lc, hits, k, rerankPool))),
    // the node's own list: one lookup
    AnnRung("knn_graph", 57L, q * L(kGraph),
      (e, p, k, _, _) => knnGraph(e, kGraph, graphRounds)
        .join(e.filter(p).select(col("vec_id")), Seq("vec_id"), "left_semi")
        .filter(col("rnk") <= k)
        .withColumnRenamed("vec_id", "query_id")),
    // beam walk: hops x beam nodes, kGraph edges each, + entry seeding
    AnnRung("knn_graph_search", 310L, q * (h * bm * L(kGraph) + bm),
      (e, p, k, env, _) => knnGraphSearch(e, p, k, kGraph, graphRounds,
        hops = env("h").toInt, beam = env("bm").toInt)))

  /** The policy's parameter environment for a corpus of `n` vectors
    * queried by `q` of them: the integers the cost trees evaluate over,
    * every one a COUNT(*)-derived auto value (the oracle re-derives the
    * same numbers via its integer threshold chains). */
  def env(n: Long, q: Long): Map[String, Long] =
    Map("n" -> n, "q" -> q, "h" -> autoGraphHops(n).toLong,
      "bm" -> autoGraphBeam(n).toLong,
      "b16" -> math.max(1L, n / harnessIvfCells))

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
