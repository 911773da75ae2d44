package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`ARRAY<FLOAT>`).
  *
  * Cosine path: elements are floor-quantized to 1e-6 integers
  * (`quantize`); dot products and norms are then EXACT bigint
  * arithmetic, so the cosine double is bit-identical in any engine and
  * any partition order — this is what the DuckDB-oracle queries use.
  * floor() has no round-half ambiguity, unlike any float-sum + round
  * scheme.
  *
  * Scale design: brute-force top-k is a broadcast of the (tiny) query
  * set against the candidate scan — no shuffle of candidates — followed
  * by a per-query top-k window. The LSH variant (random-hyperplane sign
  * buckets) turns all-pairs search into per-bucket joins; recall is
  * tested against brute force.
  */
object Similarity {

  /** floor(x * 1e6) per element — exact integer embedding. */
  def quantize(embCol: String): Column =
    expr(s"transform(CAST($embCol AS ARRAY<DOUBLE>), x -> CAST(floor(x * 1000000.0) AS BIGINT))")

  /** Quantized dot products run through the native codegen'd DotI64
    * expression — the HOF fold this replaces evaluates interpreted and
    * is the per-pair inner loop of every similarity operator. */
  private def dotQ(a: String, b: String): Column =
    graft.plans.DotI64.dot_i64(col(a), col(b))

  private def normQ(a: String): Column =
    graft.plans.DotI64.dot_i64(col(a), col(a))

  /** Exact integer squared L2 via the native codegen'd SqDistI64 —
    * the assignment kernel of every fixed-point Lloyd loop below.
    * Integer sums are exact under reordering, so distances computed
    * per-VECTOR here are bit-identical to the per-dimension aggregate
    * spelling they replaced (r15): same argmins, same centroids, same
    * gated results — at dims× fewer assignment rows (n·k instead of
    * n·dims·k) and one fewer hash aggregate per pass. */
  private def sqDistQ(a: String, b: String): Column =
    graft.plans.SqDistI64.sqdist_i64(col(a), col(b))

  /** Collect a per-dim centroid frame (keys…, d, c) into d-ascending
    * ARRAY<BIGINT> rows (keys…, ca). Dictionary-sized input (k·dims
    * rows) — the array form the assignment joins broadcast. */
  private def centArrays(cents: DataFrame, keys: String*): DataFrame =
    cents.groupBy(keys.map(col): _*)
      .agg(expr("transform(array_sort(collect_list(struct(d, c))), p -> p.c)").as("ca"))

  /** Rebuild a DICTIONARY-sized frame (centroid / seed tables — k·dims
    * or |salts|·maxK rows by construction, NEVER corpus-scale) as a
    * LocalRelation with identical schema and values (r20, guide §1.2
    * step 1 + §5): the collect is the same one eager job the
    * localCheckpoint it replaces would have run, but every downstream
    * BroadcastExchange over the frame (or a projection of it) now
    * builds from a LocalTableScan with NO Spark job, and Catalyst
    * constant-folds/prunes over it instead of planning exchanges
    * inside broadcast-build subtrees. All values are exact
    * (BIGINT/INT/strings), so the rebuilt frame is bit-identical. */
  private def localFrame(df: DataFrame): DataFrame = {
    val rows = df.collect()
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** `centArrays` computed on the DRIVER: group the (keys…, d, c) rows
    * by the key tuple, order each group's values by d ascending, and
    * emit (keys…, ca) as a LocalRelation. d is unique within a group,
    * so the ordering is total and the rows are bit-identical to the
    * aggregate spelling — without an aggregation subtree for every
    * downstream broadcast build to re-run as its own Spark job (the
    * input is a dictionary-sized centroid table; when it is already a
    * LocalRelation the collect itself runs no job either). */
  private def centArraysLocal(cents: DataFrame, keys: String*): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
    val sel = cents.select((keys.map(col) :+ col("d") :+ col("c")): _*)
    val rows = sel.collect()
    val nk = keys.length
    val grouped = rows.groupBy(r => (0 until nk).map(r.get).toSeq).toSeq
      .sortBy(_._1.map(_.toString).mkString("\u0001"))
      .map { case (kv, grp) =>
        val ca = grp.map(r => (r.getInt(nk), r.getLong(nk + 1)))
          .sortBy(_._1).map(_._2).toSeq
        org.apache.spark.sql.Row.fromSeq(kv :+ ca)
      }
    val schema = StructType(
      keys.map(k => sel.schema(k)) :+
        StructField("ca", ArrayType(LongType, containsNull = false), nullable = false))
    cents.sparkSession.createDataFrame(
      java.util.Arrays.asList(grouped: _*), schema)
  }

  /** Driver-side (code, centroid-array) view of a per-dim centroid
    * frame — `centArraysLocal`'s grouping without the re-wrap into a
    * LocalRelation. The input is always a LocalRelation (fpStage's
    * literal path builds centroids driver-side), so the collect runs
    * NO Spark job; values are the exact Longs the cluster holds. */
  private[graft] def centsLocalOf(cents: DataFrame, codeName: String): Seq[(Int, Seq[Long])] =
    cents.select(col(codeName), col("d"), col("c")).collect()
      .groupBy(_.getInt(0)).toSeq
      .map { case (code, rs) =>
        (code, rs.map(r => (r.getInt(1), r.getLong(2)))
          .sortBy(_._1).map(_._2).toSeq) }
      .sortBy(_._1)

  /** Driver replica of the literal-path assignment argmin —
    * lexicographic (dist, code) minimum with SqDistI64's plain Long
    * algebra, bit-identical to `least(struct(sqdist_i64(xa, ca),
    * code))` (ties on dist break to the smaller code; codes are
    * distinct so the order is total). */
  private[graft] def argminLocal(cents: Seq[(Int, Seq[Long])], xa: Seq[Long]): Int = {
    var bestCode = Int.MaxValue
    var bestDist = Long.MaxValue
    cents.foreach { case (code, ca) =>
      var acc = 0L; var i = 0; val n = xa.length
      while (i < n) { val d = xa(i) - ca(i); acc += d * d; i += 1 }
      if (acc < bestDist || (acc == bestDist && code < bestCode)) {
        bestDist = acc; bestCode = code
      }
    }
    bestCode
  }

  /** Driver replica of one residual step: xa ← xa − cents[argmin] +
    * frameShift — the exact `zip_with(xa, ca, (x, c) -> x - c + F)`
    * the cluster applies after each stage's assignment. Used by the
    * residual-chain seed replay (multi-stage trainers keep the next
    * stage's ≤k seed vectors driver-side instead of re-collecting
    * them from the checkpointed residual frame — one less Spark
    * action per stage; bit-identical by the shared integer algebra,
    * spec-pinned against the collect path). */
  private[graft] def residualLocal(cents: Seq[(Int, Seq[Long])], xa: Seq[Long],
                            frameShift: Long): Seq[Long] = {
    val ca = cents(cents.indexWhere(_._1 == argminLocal(cents, xa)))._2
    xa.zip(ca).map { case (x, c) => x - c + frameShift }
  }

  /** Embeddings with quantized vector + its exact squared norm. */
  def quantized(embeddings: DataFrame): DataFrame =
    embeddings
      .withColumn("q", quantize("embedding"))
      .withColumn("nq", normQ("q"))

  /** Pass-through when the caller already quantized (and typically
    * checkpointed) the embeddings — lets annRecall feed ONE quantized
    * materialization to brute force + all three approximate methods
    * instead of each re-running the quantize+norm subtree. */
  private def ensureQuantized(embeddings: DataFrame): DataFrame =
    if (embeddings.columns.contains("q")) embeddings else quantized(embeddings)

  /** Per-query bounded top-k via the native `graft.plans.TopK`
    * aggregate, ascending by (`distCol`, neighbor_id) — the scale
    * shape shared by every ADC/distance search: partial aggregation
    * collapses each map task to <= k rows per query BEFORE the
    * exchange, so the shuffle carries |Q|·k answer rows where the
    * rank-window idiom ships and sorts every scored candidate. */
  private def topKAsc(scored: DataFrame, k: Int, distCol: String): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.plans.TopK.top_k(
        struct(col(distCol), col("neighbor_id")), k).as("_t"))
      .select(col("query_id"), posexplode(col("_t")).as(Seq("_p", "_s")))
      .select(col("query_id"), (col("_p") + 1).cast("long").as("rnk"),
        col("_s.neighbor_id").as("neighbor_id"), col(s"_s.$distCol").as(distCol))

  /** Same, descending by `simCol` (ties to lowest neighbor_id): the
    * cosine-similarity form — direction encoded by negating the sort
    * key inside the struct (exact for doubles). */
  private def topKDesc(scored: DataFrame, k: Int, simCol: String): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.plans.TopK.top_k(
        struct((-col(simCol)).as("_o"), col("neighbor_id"), col(simCol)), k).as("_t"))
      .select(col("query_id"), posexplode(col("_t")).as(Seq("_p", "_s")))
      .select(col("query_id"), (col("_p") + 1).cast("long").as("rnk"),
        col("_s.neighbor_id").as("neighbor_id"), col(s"_s.$simCol").as(simCol))

  /** Brute-force cosine top-k: for each query vector (`queryPred` picks
    * the query subset), the k nearest candidates by quantized cosine,
    * rank-deterministic via (cosine DESC, id ASC). `candPred` restricts
    * the SEARCHED side — metadata-filtered vector search ("top-k among
    * rows matching a predicate", the filtered-search mode every vector
    * store exposes): the filter applies to the candidate SCAN before
    * any scoring (pushed to parquet when it is a plain column
    * predicate), never post-filtering an unfiltered top-k. */
  def bruteForceTopK(embeddings: DataFrame, queryPred: Column, k: Int,
                     candPred: Column = lit(true)): DataFrame = {
    val e = ensureQuantized(embeddings)
    val q = e.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("q").as("qv"), col("nq").as("qn"))
    val c = e.filter(candPred)
      .select(col("vec_id").as("neighbor_id"), col("q").as("cv"), col("nq").as("cn"))
    // Broadcast the tiny query set against the candidate scan, then
    // collapse to the answer with the native bounded top-k AGGREGATE
    // (graft.plans.TopK) instead of a rank window: partial aggregation
    // reduces each map task's slice to <= k rows per query BEFORE the
    // exchange, so the one shuffle carries |Q|·k answer rows — a
    // window would ship and sort every scored (query, candidate) pair,
    // O(|Q|·N), to rank them. Ordering (cosine DESC, id ASC) is
    // encoded as the struct (-cosine, neighbor_id).
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", dotQ("qv", "cv"))
      .withColumn("cosine",
        col("dot").cast("double") / sqrt(col("qn").cast("double") * col("cn").cast("double")))
      .groupBy(col("query_id"))
      .agg(graft.plans.TopK.top_k(
        struct((-col("cosine")).as("_o"), col("neighbor_id"), col("cosine")), k).as("_top"))
      .select(col("query_id"), posexplode(col("_top")).as(Seq("_pos", "_t")))
      .select(col("query_id"), (col("_pos") + 1).cast("long").as("rnk"),
        col("_t.neighbor_id").as("neighbor_id"), col("_t.cosine").as("cosine"))
  }

  /** `bruteForceTopK`, memoized per (corpus plan, query predicate, k) —
    * the brute-force ground truth is the one genuinely O(|Q|·N) pass of
    * the ANN family, and at least two suite consumers need the SAME
    * answer set (the gated `q_ann_topk` and the recall harness's truth
    * side), so it is computed once per session and every method
    * addition to the harness reuses it instead of re-scanning the
    * corpus (r14 verdict #4). Keyed on the FILTERED embeddings plan
    * (the query set) + k, so each predicate gets its own entry. */
  def bruteForceTopKMemo(embeddings: DataFrame, queryPred: Column,
                         k: Int): DataFrame =
    graft.functions.IndexMemo("bf_truth", embeddings.filter(queryPred), k) {
      bruteForceTopK(embeddings, queryPred, k).localCheckpoint()
    }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the k most SIMILAR candidates with a DIFFERENT label —
    * the "hardest" negatives a contrastive loss can be shown, the
    * batch-construction primitive behind embedding-model training
    * sets. Same broadcast-query / candidate-scan shape as
    * `bruteForceTopK` (the label inequality rides the join condition,
    * evaluated per broadcast row), so candidates never shuffle and the
    * only exchange is the per-query top-k window — at 100 TB the k·|Q|
    * survivors are all that moves. */
  def hardNegatives(embeddings: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val e = ensureQuantized(embeddings)
    val q = e.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("label").as("query_label"),
        col("q").as("qv"), col("nq").as("qn"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("label").as("neighbor_label"),
      col("q").as("cv"), col("nq").as("cn"))
    c.join(broadcast(q),
        col("query_id") =!= col("neighbor_id") &&
        col("query_label") =!= col("neighbor_label"))
      .withColumn("dot", dotQ("qv", "cv"))
      .withColumn("cosine",
        col("dot").cast("double") / sqrt(col("qn").cast("double") * col("cn").cast("double")))
      // same bounded top-k aggregate as bruteForceTopK: the exchange
      // carries |Q|·k answer rows, not every scored pair
      .groupBy(col("query_id"), col("query_label"))
      .agg(graft.plans.TopK.top_k(
        struct((-col("cosine")).as("_o"), col("neighbor_id"),
          col("neighbor_label"), col("cosine")), k).as("_top"))
      .select(col("query_id"), col("query_label"),
        posexplode(col("_top")).as(Seq("_pos", "_t")))
      .select(col("query_id"), col("query_label"),
        (col("_pos") + 1).cast("long").as("rnk"),
        col("_t.neighbor_id").as("neighbor_id"),
        col("_t.neighbor_label").as("neighbor_label"), col("_t.cosine").as("cosine"))
  }

  /** Embedding-cosine near-duplicate pairs, blocked by `label` (the
    * corpus's natural partition), threshold on quantized cosine.
    *
    * Hot-label guard: the per-label self-join is quadratic in the
    * hottest label — fine for balanced corpora, a scale-killer if one
    * label holds 10% of 100 TB. Labels with more than `maxLabelRows`
    * rows are therefore routed through the LSH-blocked path
    * (`nearDupPairsLsh` restricted to within-label pairs): per-bucket
    * joins instead of a quadratic block, exact-cosine verification
    * (precision 1.0), LSH-union recall. The default cap is far above
    * the gated scale factors, so oracle-checked runs stay exact; at
    * scale the cap is the documented contract — lower it deliberately
    * and oversized labels degrade to probabilistic recall instead of
    * quadratic cost. */
  def nearDupPairs(embeddings: DataFrame, minCosine: Double,
                   maxLabelRows: Long = 1000000L,
                   lshBits: Int = 4, lshTables: Int = 4): DataFrame = {
    // Tiny by construction (labels over the cap); the eager checkpoint
    // doubles as the driver-side routing decision.
    val hotLabels = embeddings.groupBy(col("label"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") > maxLabelRows)
      .select(col("label"))
      .localCheckpoint()
    val hasHot = !hotLabels.isEmpty
    val cold =
      if (hasHot) embeddings.join(broadcast(hotLabels), Seq("label"), "left_anti")
      else embeddings
    val e = quantized(cold)
      .select(col("vec_id"), col("label"), col("q"), col("nq"))
    val a = e.select(col("label"), col("vec_id").as("id_a"),
      col("q").as("qa"), col("nq").as("na"))
    val b = e.select(col("label"), col("vec_id").as("id_b"),
      col("q").as("qb"), col("nq").as("nb"))
    val exact = a.join(b, Seq("label"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dot", dotQ("qa", "qb"))
      .withColumn("cosine",
        col("dot").cast("double") / sqrt(col("na").cast("double") * col("nb").cast("double")))
      .filter(col("cosine") >= minCosine)
      .select(col("label"), col("id_a"), col("id_b"), col("cosine"))
    if (!hasHot) exact
    else {
      val hotRows = embeddings.join(broadcast(hotLabels), Seq("label"), "left_semi")
      val lbl = hotRows.select(col("vec_id"), col("label"))
      // LSH buckets can pair rows from two different hot labels; keep
      // only within-label pairs to preserve the blocking semantics.
      val viaLsh = nearDupPairsLsh(hotRows, minCosine, lshBits, lshTables)
        .join(lbl.select(col("vec_id").as("id_a"), col("label").as("_la")), Seq("id_a"))
        .join(lbl.select(col("vec_id").as("id_b"), col("label").as("_lb")), Seq("id_b"))
        .filter(col("_la") === col("_lb"))
        .select(col("_la").as("label"), col("id_a"), col("id_b"), col("cosine"))
      exact.unionByName(viaLsh)
    }
  }

  /** Unlabeled embedding near-dup pairs at scale: multi-table
    * hyperplane LSH supplies the blocking (per-bucket self-joins,
    * never all-pairs), exact quantized cosine verifies every
    * candidate — so precision is 1.0 by construction and recall is
    * the LSH union's (monotone in `tables`; near-identical vectors
    * collide in every table with overwhelming probability, which is
    * exactly the near-DUP regime this targets, unlike the harder
    * nearest-NEIGHBOR regime). This is the 100 TB form of
    * `nearDupPairs`, which needs a label column to block on.
    * Oracle-gated (`q_embedding_neardup_lsh`): the md5-portable
    * hyperplanes let DuckDB reproduce the buckets, so the banded plan
    * is hash-checked against a cross-engine mirror, not just rows>0. */
  /** Hyperplane count sized to the corpus: expected bucket occupancy
    * n / 2^bits stays ~`targetBucket`, so the per-bucket self-join is
    * occupancy²·2^bits ∝ n·targetBucket — LINEAR in the corpus. A
    * FIXED bits is the classic LSH scale trap (the 10× scale probe
    * measured the 4-bit demo setting going quadratic: bucket occupancy
    * grows with n, candidates with n²/2^bits); recall per table drops
    * as bits grow (p^bits), which is what multi-table probing (the
    * `tables` knob, recall ≈ 1-(1-p^bits)^L) exists to buy back. */
  /** INTEGER-EXACT contract (r15): the smallest b >= 1 with
    * targetBucket·2^b >= nVecs — identical to ⌈log₂(n/target)⌉ in
    * exact arithmetic, but computed by pure integer comparisons so the
    * DuckDB oracle can replay it as a threshold CASE chain with zero
    * transcendental-boundary risk (a float log ratio one ulp above an
    * integer would ceil differently across engines). */
  def autoLshBits(nVecs: Long, targetBucket: Int = 256): Int = {
    var b = 1
    while (b < 62 && (targetBucket.toLong << b) < nVecs) b += 1
    b
  }

  /** `bits <= 0` auto-sizes the hyperplane count from the measured
    * corpus via `autoLshBits` (one count job) — the scale-safe default;
    * explicit bits pins the demo/oracle-gated shapes. */
  def nearDupPairsLsh(embeddings: DataFrame, minCosine: Double,
                      bits: Int, tables: Int): DataFrame = {
    // Auto bits cap at 64/tables: all tables share the 64 md5-derived
    // plane signs (see lshBucketsMulti's require), so the auto sizing
    // saturates there instead of failing — at tables=4 that is 16
    // bits, i.e. corpora beyond 256·2^16 ≈ 16.7M vectors keep the max
    // bucket width (the oracle's threshold chain saturates identically).
    val bitsEff =
      if (bits > 0) bits
      else math.min(autoLshBits(embeddings.count()), 64 / tables)
    // Checkpoint the quantized vectors: both self-join sides consume
    // them, and without the materialization barrier column pruning
    // specializes the quantize+norm subtree per side and runs it twice
    // (one full parquet scan + DotI64 norm pass each).
    val e = ensureQuantized(embeddings)
      .select(col("vec_id"), col("q"), col("nq"))
      .localCheckpoint()
    val buckets = lshBucketsMulti(embeddings, bitsEff, tables) // memoized + checkpointed
    val side = e.join(buckets, Seq("vec_id"))
    val a = side.select(col("tbl"), col("bucket"), col("vec_id").as("id_a"),
      col("q").as("qa"), col("nq").as("na"))
    val b = side.select(col("tbl"), col("bucket"), col("vec_id").as("id_b"),
      col("q").as("qb"), col("nq").as("nb"))
    // Verify BEFORE the dedup exchange: the exact cosine is computed
    // map-side on each (tbl, bucket) collision row and the minCosine
    // filter applied there, so the dropDuplicates shuffle carries only
    // slim (id_a, id_b, cosine) SURVIVORS — not every candidate row
    // with both full quantized vectors attached (candidate-count ×
    // ~1 KB/row, the shape that dominated this operator at scale). A
    // pair colliding in several tables recomputes its cosine per
    // collision (bounded ×tables, codegen'd integer dot), which is the
    // right trade: shuffle bytes, not map-side ALU, are the scarce
    // resource at 100 TB. Cosine is deterministic, so duplicate
    // collisions agree and the dedup result is unchanged.
    a.join(b, Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        dotQ("qa", "qb").cast("double") /
          sqrt(col("na").cast("double") * col("nb").cast("double")))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cosine"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Per-label centroid of the quantized embeddings, LONG FORM
    * (label, d, centroid, n) — the cluster-quality diagnostic for a
    * labeled embedding corpus. Exact integer dimension sums feed ONE
    * double division per cell, so every value is engine-portable and
    * the whole result oracle-gateable (array-valued centroids would
    * compare on list rendering instead). One posexplode + one
    * (label, d) hash aggregation — map-side partials do the heavy
    * lifting; output is |labels| × dims, dictionary-sized. */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    quantized(embeddings)
      .select(col("label"), posexplode(col("q")).as(Seq("d", "x")))
      .groupBy(col("label"), col("d"))
      .agg(sum(col("x")).as("_sx"), count(lit(1)).as("n"))
      .select(col("label"), col("d").cast("long").as("d"),
        (col("_sx").cast("double") / col("n").cast("double")).as("centroid"),
        col("n"))

  /** Hyperplane sign for plane index `j` (0..63) at an exploded
    * dimension row carrying md5(d) parsed into four 32-bit words
    * `w0..w3`: the simhash64 bit layout (nibble (j%32)+1, its top bit
    * for j<32, its bit 1 for j>=32) — 64 independent uniform ±1
    * components from ONE md5 per dimension row, reproducible in any
    * engine with md5 + substring (the engine's portable-hash playbook;
    * the xxhash64 parity this replaced kept the whole LSH family
    * rows-only). */
  private def planeSign(j: Int): Column = {
    require(j >= 0 && j < 64, s"plane index out of range: $j")
    val n = j % 32
    val word = col(s"_w${n / 8}")
    val nibbleBit = if (j < 32) 3 else 1
    val bit = (7 - (n % 8)) * 4 + nibbleBit
    shiftright(word, bit).bitwiseAND(lit(1L)) === 1L
  }

  private def withPlaneWords(dims: DataFrame): DataFrame =
    dims.withColumn("_h", md5(col("d").cast("string")))
      .withColumn("_w0", conv(substring(col("_h"), 1, 8), 16, 10).cast("long"))
      .withColumn("_w1", conv(substring(col("_h"), 9, 8), 16, 10).cast("long"))
      .withColumn("_w2", conv(substring(col("_h"), 17, 8), 16, 10).cast("long"))
      .withColumn("_w3", conv(substring(col("_h"), 25, 8), 16, 10).cast("long"))

  /** Random-hyperplane LSH bucketing: `bits` sign bits per vector,
    * where hyperplane h's component for dimension d is a deterministic
    * ±1 read from md5(d) (see `planeSign` — engine-portable, so the
    * LSH query family is oracle-gateable). Vectors sharing a bucket
    * are candidate neighbors — the scale path for ANN (per-bucket
    * joins instead of all-pairs). Recall vs brute force is covered by
    * tests. */
  def lshBuckets(embeddings: DataFrame, bits: Int): DataFrame =
    IndexMemo("lsh_buckets", embeddings, bits) {
      lshBucketsCompute(embeddings, bits).localCheckpoint()
    }

  private def lshBucketsCompute(embeddings: DataFrame, bits: Int): DataFrame = {
    // Long-form projection: posexplode dims once, then `bits` signed
    // sums in ONE grouped aggregation. All codegen'd — the equivalent
    // higher-order-function fold executes interpreted (lambda per
    // element) and measures ~4x slower. The projected
    // components are the QUANTIZED bigint elements, not the raw
    // doubles: a sum of ±int64 is exact and addition-order-free, so a
    // bucket bit can never flip between Spark's partial-aggregate
    // order and the oracle's scan order (double addition near zero
    // could — the bits are portable by construction, not empirically).
    val dims = withPlaneWords(embeddings.select(col("vec_id"), col("label"),
      posexplode(quantize("embedding")).as(Seq("d", "x"))))
    val projs = (0 until bits).map { h =>
      sum(when(planeSign(h), col("x")).otherwise(-col("x"))).as(s"p$h")
    }
    val projected = dims.groupBy(col("vec_id"), col("label")).agg(projs.head, projs.tail: _*)
    val bucketBits = (0 until bits).map(h =>
      when(col(s"p$h") > 0, lit(1L << h)).otherwise(lit(0L)))
    projected.withColumn("bucket", bucketBits.reduce(_ + _))
      .select(col("vec_id"), col("label"), col("bucket"))
  }

  /** Multi-table random-hyperplane LSH: `tables` independent
    * hyperplane sets of `bits` each, one (tbl, bucket) row per vector
    * per table. A candidate shares ANY table's bucket with the query —
    * recall ≈ 1-(1-p^bits)^L versus a single table's p^bits, at L× the
    * bucketing cost and still per-bucket joins (never all-pairs). All
    * L×bits signed projections compute in ONE grouped pass over the
    * posexploded dims (codegen'd; same long-form pathology note as
    * lshBuckets). Plane (t, h) reads bit t·bits+h of md5(d) via
    * `planeSign` — table 0's hyperplanes coincide with
    * `lshBuckets(bits)` (plane indices 0..bits-1), so L=1 degenerates
    * exactly. Projections sum the QUANTIZED bigint elements (exact,
    * order-free — see lshBuckets). CEILING: t·bits+h must stay < 64 —
    * all tables share the 64 plane signs one md5(d) supplies, so e.g.
    * 16 bits × 8 tables is out of range (production settings 4×16 /
    * 8×8 sit at the limit). If more planes are ever needed, extend
    * `planeSign` with a SECOND hash word family (md5(d || '#2') gives
    * 64 more independent signs, mirrored identically in the oracle
    * CTE) rather than lowering bits or tables. */
  def lshBucketsMulti(embeddings: DataFrame, bits: Int, tables: Int): DataFrame =
    IndexMemo("lsh_buckets_multi", embeddings, (bits, tables)) {
      lshBucketsMultiCompute(embeddings, bits, tables).localCheckpoint()
    }

  private def lshBucketsMultiCompute(embeddings: DataFrame, bits: Int,
                                     tables: Int): DataFrame = {
    require(tables * bits <= 64,
      s"tables*bits must be <= 64 md5-derived planes, got ${tables * bits}" +
        " (extend planeSign with a second md5 word family to go higher)")
    val dims = withPlaneWords(embeddings.select(col("vec_id"),
      posexplode(quantize("embedding")).as(Seq("d", "x"))))
    val projs = for { t <- 0 until tables; h <- 0 until bits } yield
      sum(when(planeSign(t * bits + h), col("x"))
        .otherwise(-col("x"))).as(s"p_${t}_$h")
    val projected = dims.groupBy(col("vec_id")).agg(projs.head, projs.tail: _*)
    val bucketCols = (0 until tables).map { t =>
      val bs = (0 until bits).map(h =>
        when(col(s"p_${t}_$h") > 0, lit(1L << h)).otherwise(lit(0L))).reduce(_ + _)
      struct(lit(t).as("tbl"), bs.as("bucket"))
    }
    projected.select(col("vec_id"), explode(array(bucketCols: _*)).as("tb"))
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
  }

  /** Multi-table LSH top-k: search the union of the query's buckets
    * across all tables, then exact cosine + per-query top-k. Recall is
    * tested against brute force alongside the single-table variant. */
  def lshTopKMulti(embeddings: DataFrame, queryPred: Column, k: Int,
                   bits: Int, tables: Int): DataFrame = {
    val e = ensureQuantized(embeddings)
    // (vec, tbl, bucket) is small (ids only); checkpoint so the probe
    // and candidate sides share one bucketing pass.
    val buckets = lshBucketsMulti(embeddings, bits, tables) // memoized + checkpointed
    val probes = e.filter(queryPred)
      .select(col("vec_id"), col("q").as("qv"), col("nq").as("qn"))
      .join(buckets, Seq("vec_id"))
      .select(col("tbl"), col("bucket"), col("vec_id").as("query_id"),
        col("qv"), col("qn"))
    val cands = e.select(col("vec_id"), col("q").as("cv"), col("nq").as("cn"))
      .join(buckets, Seq("vec_id"))
      .select(col("tbl"), col("bucket"), col("vec_id").as("neighbor_id"),
        col("cv"), col("cn"))
    // Score map-side on each collision row, then dedup SLIM
    // (query_id, neighbor_id, cosine) rows: cosine is deterministic so
    // multi-table duplicates agree, and the dedup exchange stops
    // carrying both full vectors per candidate (the nearDupPairsLsh
    // shuffle-shape fix).
    topKDesc(probes.join(cands, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        dotQ("qv", "cv").cast("double") /
          sqrt(col("qn").cast("double") * col("cn").cast("double")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .dropDuplicates("query_id", "neighbor_id"),
      k, "cosine")
  }

  /** Reciprocal-rank fusion — the hybrid-retrieval combiner: two ANN
    * result lists (schema `query_id, rnk, neighbor_id, ...`) fuse into
    * one ranking by RRF score Σ 1/(k0 + rank), the standard rank-based
    * fusion that needs no score calibration between methods (a bucket
    * cosine and an IVF cosine are not comparable; ranks are).
    * Engine-portable by construction: each contribution is one IEEE
    * division of exact operands, and a (query, neighbor) pair appears
    * in at most TWO lists, so the fused sum has ≤2 addends — a single
    * FP addition, which is commutative-exact under any aggregation
    * order (no order-dependence to hash-diverge on). Ties break on
    * neighbor_id ASC. Shape: union + one (query, neighbor) hash agg +
    * a per-query rank window — both inputs are top-k-sized (k rows per
    * query), orders of magnitude below the corpus. */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, k0: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val contrib = lit(1.0) / (lit(k0.toDouble) + col("rnk").cast("double"))
    val u = a.select(col("query_id"), col("neighbor_id"), col("rnk"))
      .unionByName(b.select(col("query_id"), col("neighbor_id"), col("rnk")))
    val f = u.groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(contrib).as("rrf"), count(lit(1)).as("n_methods"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("neighbor_id").asc)
    f.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("rrf"),
        col("n_methods"))
  }

  /** Lloyd's k-means over the embeddings (cosine assignment), for IVF
    * centroid training. Assignment dots and per-dimension means both
    * run long-form (posexplode + joins/groupBy — fully codegen);
    * each round localCheckpoints to truncate lineage. Returns
    * (cell_id, centroid ARRAY<DOUBLE>). Seeds = the k lowest vec_ids. */
  def kmeansCentroids(embeddings: DataFrame, k: Int, iters: Int): DataFrame =
    // Memoized per (input plan, k, iters): centroids are k×dims
    // corpus-derived state shared by every IVF consumer — see pqTrain.
    IndexMemo("kmeans_cents", embeddings, (k, iters))(
      kmeansCentroidsCompute(embeddings, k, iters))

  private def kmeansCentroidsCompute(embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
    val v = embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val vdims = v.select(col("vec_id"), posexplode(col("v")).as(Seq("d", "x")))
      .localCheckpoint()
    var cents = v.orderBy(col("vec_id").asc).limit(k)
      .withColumn("cell_id",
        row_number().over(Window.orderBy(col("vec_id").asc)) - 1)
      .select(col("cell_id"), col("v").as("c"))
      .localCheckpoint()
    (1 to iters).foreach { _ =>
      val cdims = cents.select(col("cell_id"), posexplode(col("c")).as(Seq("d", "cx")))
      // cosine assignment: argmax of dot / |c| (|v| constant per vec)
      val cnorm = cdims.groupBy(col("cell_id"))
        .agg(sqrt(sum(col("cx") * col("cx"))).as("cn"))
      val sims = vdims.join(broadcast(cdims), Seq("d"))
        .groupBy(col("vec_id"), col("cell_id"))
        .agg(sum(col("x") * col("cx")).as("dot"))
        .join(broadcast(cnorm), Seq("cell_id"))
        .withColumn("sim", col("dot") / col("cn"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("sim").desc, col("cell_id").asc)
      val assign = sims.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cell_id"))
      // new centroids: per-dimension mean over members
      cents = vdims.join(assign, Seq("vec_id"))
        .groupBy(col("cell_id"), col("d"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("cell_id"))
        .agg(expr("transform(array_sort(collect_list(struct(d, m))), s -> s.m)").as("c"))
        .localCheckpoint()
    }
    cents
  }

  /** Fixed-point Lloyd k-means whose EVERY step is exact integer
    * arithmetic — the oracle-gateable form of embedding clustering
    * (the double-arithmetic `kmeansCentroids` above trains IVF; this
    * one certifies the iteration itself cross-engine):
    *
    *  - dims are the 1e6-quantized int64s shifted by +2^20 so all
    *    values are NON-NEGATIVE (embeddings in [-1,1] quantize to
    *    |q| <= 1e6 < 2^20) — with non-negative operands truncating
    *    and flooring integer division coincide, so Spark's `div` and
    *    DuckDB's `//` agree by construction;
    *  - centroids are integer `sum div count` per dimension (error
    *    <= 1 on a 2^21 scale — deterministic, engine-identical);
    *  - assignment is argmin of the exact integer squared distance
    *    (diff^2 < 2^42, x 64 dims < 2^48 — int64-safe), ties to the
    *    lowest cell id via one lexicographic min(struct);
    *  - seeds are the k vectors with the smallest md5(vec_id) — a
    *    deterministic, engine-portable shuffle of the id space.
    *
    * Scale shape: the seed pick is a distributed top-k
    * (TakeOrderedAndProject), never a global sort; centroids stay
    * k x dims rows, localCheckpointed and BROADCAST into each
    * assignment join, so the vector table never shuffles for scoring —
    * per iteration only (vec, cell, dist) id-sized aggregation rows
    * move (map-side partial min over the k generated rows per vector).
    * Returns per final cell: member count and the exact sum of the
    * UNSHIFTED dim-0 quantized values — a membership checksum any
    * engine can reproduce. */
  def kmeansFixedPoint(embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
    require(iters >= 1, s"kmeansFixedPoint needs at least one iteration, got $iters")
    // Rides the memoized certified assignment (shared with semDedup);
    // the dim-0 checksum recomputes map-side off the scan — cheap, and
    // identical to joining the training's own vd.
    val assign = kmeansFixedPointAssign(embeddings, k, iters)
    val d0 = ensureQuantized(embeddings)
      .select(col("vec_id"), col("q").getItem(0).as("x0"))
    assign.join(d0, Seq("vec_id"))
      .groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n"), sum(col("x0")).as("s0"))
  }

  /** The certified fixed-point Lloyd ASSIGNMENT (vec_id, cell_id) —
    * `kmeansFixedPoint`'s loop exposed for consumers that need the
    * membership itself (SemDeDup's cluster blocking), same integer
    * discipline so DuckDB replays it. Memoized per (input plan, k,
    * iters) like every trained index. */
  def kmeansFixedPointAssign(embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
    require(iters >= 1, s"kmeansFixedPointAssign needs at least one iteration, got $iters")
    IndexMemo("kmeans_fp_assign", embeddings, (k, iters)) {
      val shift = 1048576L
      val v = ensureQuantized(embeddings).select(col("vec_id"), col("q"))
      // vectors as +2^20-shifted arrays — the ONE materialization;
      // the per-dim rows the centroid updates need explode off it
      // (narrow, no extra shuffle before the update's aggregate).
      // LAZY: the seed-vector collect (or the join spelling's first
      // assignment) materializes the blocks — no dedicated action.
      val va = v.select(col("vec_id"),
          expr(s"transform(q, x -> x + ${shift}L)").as("xa"))
        .localCheckpoint(eager = false)
      // the k smallest md5(vec_id) via the bounded-TopK seedTable pick
      // (bit-identical to the TakeOrdered + window form it replaces)
      val seeds = seedTable(v, Seq(""), k)
        .select(col("vec_id"), col("code").as("cell_id"))
      if (k <= litCentCap) {
        // r20 (guide §2.4, §1.2 step 1): centroids live driver-side
        // between iterations, the assignment is a MAP-ONLY argmin over
        // k literal centroid arrays — the per-iteration corpus
        // exchange (partial-min rows carrying xa through a
        // groupBy(vec_id) shuffle) is gone. least(struct(_dist,
        // cell_id)) is the same lexicographic min as min(struct(_dist,
        // cell_id, …)); see fpStage's literal path. One corpus-scan
        // collect fetches the seed vectors (the pass the
        // broadcast(cents) build ran before).
        def argmin(cents: Seq[(Int, Seq[Long])]): Column = {
          val cand = cents.map { case (cell, ca) =>
            struct(
              graft.plans.SqDistI64.sqdist_i64(col("xa"), typedLit(ca)).as("_dist"),
              lit(cell).as("cell_id"))
          }
          if (cand.size == 1) cand.head else least(cand: _*)
        }
        var centsLocal: Seq[(Int, Seq[Long])] = va
          .join(broadcast(seeds), Seq("vec_id"))
          .select(col("cell_id"), col("xa"))
          .collect()
          .map(r => (r.getInt(0), r.getSeq[Long](1)))
          .sortBy(_._1).toSeq
        // empty corpus: no seeds, no assignment — `least()` needs >= 1
        // candidate, so short-circuit the empty frame directly
        if (centsLocal.isEmpty)
          va.select(col("vec_id"), lit(0).as("cell_id"))
            .filter(lit(false)).localCheckpoint()
        else {
          (1 until iters).foreach { _ =>
            // interior iteration: map-only argmin, per-dim explode AFTER
            // the per-vector reduction, partial-aggregated sum/count —
            // ONE collect job per iteration, no corpus shuffle
            centsLocal = va.withColumn("_m", argmin(centsLocal))
              .select(col("_m.cell_id").as("cell_id"),
                posexplode(col("xa")).as(Seq("d", "x")))
              .groupBy(col("cell_id"), col("d"))
              .agg(expr("sum(x) div count(1)").as("c"))
              .collect()
              .groupBy(_.getInt(0)).toSeq
              .map { case (cell, rs) =>
                (cell, rs.map(r => (r.getInt(1), r.getLong(2)))
                  .sortBy(_._1).map(_._2).toSeq) }
              .sortBy(_._1)
          }
          va.withColumn("_m", argmin(centsLocal))
            .select(col("vec_id"), col("_m.cell_id").as("cell_id"))
            .localCheckpoint()
        }
      } else {
        // auto-scaled k past the literal cap: the r19 broadcast-join +
        // partial-min-aggregate spelling (bit-identical; see litCentCap)
        // seed centroids are the seed vectors themselves — array form;
        // (r18) they feed ONLY the first assignment when iters >= 1
        // (required above) — lazy, no eager checkpoint job
        var cents = va.join(broadcast(seeds), Seq("vec_id"))
          .select(col("cell_id"), col("xa").as("ca"))
        var assign: DataFrame = null
        (1 to iters).foreach { i =>
          // array-form assignment: n·k rows, one codegen'd sqdist each —
          // bit-identical to the per-dim aggregate (exact integer sums)
          val dist = va.crossJoin(broadcast(cents))
            .select(col("vec_id"), col("cell_id"),
              sqDistQ("xa", "ca").as("_dist"), col("xa"))
          if (i < iters) {
            // interior iteration: the centroid update rides the argmin
            // aggregate (xa carried through the struct — (_dist, cell)
            // is unique per vector) and explodes per-dim AFTER the
            // per-vector reduction; the vd ⋈ assignment join is gone
            cents = centArrays(
              dist.groupBy(col("vec_id"))
                .agg(min(struct(col("_dist"), col("cell_id"), col("xa"))).as("_m"))
                .select(col("_m.cell_id").as("cell_id"),
                  posexplode(col("_m.xa")).as(Seq("d", "x")))
                .groupBy(col("cell_id"), col("d"))
                .agg(expr("sum(x) div count(1)").as("c")),
              "cell_id").localCheckpoint()
          } else
            assign = dist.groupBy(col("vec_id"))
              .agg(min(struct(col("_dist"), col("cell_id"))).as("_m"))
              .select(col("vec_id"), col("_m.cell_id").as("cell_id"))
        }
        assign.localCheckpoint()
      }
    }
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * embedding-space near-duplicate REMOVAL — cluster the corpus, and
    * within each cluster drop every vector that has a same-cluster
    * neighbor above `minCosine` with a SMALLER vec_id (the canonical
    * keep-lowest rule; the paper keeps one member per ε-ball — this is
    * its deterministic, engine-portable variant). Returns every vector
    * as (vec_id, cell_id, kept).
    *
    * Oracle-portable end to end: the cluster assignment is the
    * certified integer fixed-point k-means
    * (`kmeansFixedPointAssign`), and similarity is exact quantized
    * cosine — DuckDB replays both.
    *
    * Scale shape: clustering bounds the candidate pairs — only
    * within-cell pairs are scored, so the all-pairs cost drops from
    * N² to Σ|cell|² ≈ N²/k. k must SCALE with the corpus (constant
    * expected cell size, like `autoLshBits` for LSH buckets): the
    * paper runs k ~ √N clusters at web scale; a fixed k at 100 TB
    * makes cells corpus-sized. The cell self-join broadcasts nothing
    * and shuffles only (cell, id, q) rows — raw embeddings move once. */
  /** Cluster count sized to the corpus (the SemDeDup analog of
    * `autoLshBits`): k = ceil(n / targetCell) keeps expected cell
    * occupancy ~`targetCell`, so the within-cell self-join cost
    * Σ|cell|² ≈ n·targetCell stays LINEAR in the corpus. A fixed k is
    * the same scale trap as fixed LSH bits — cells grow with n and
    * the pair join goes quadratic (the paper runs k ~ √N at web
    * scale; constant-occupancy is the stronger, self-tuning form). */
  def autoSemDedupK(nVecs: Long, targetCell: Int = 64): Int =
    math.max(1, math.ceil(nVecs.toDouble / targetCell).toInt)

  def semDedup(embeddings: DataFrame, k: Int, iters: Int,
               minCosine: Double): DataFrame = {
    // k <= 0 auto-sizes the cluster count from the measured corpus
    // (one count job) — the scale-safe default; explicit k pins the
    // demo/oracle-gated shape, mirroring nearDupPairsLsh's bits knob.
    val kEff = if (k > 0) k else autoSemDedupK(embeddings.count())
    semDedupWithAssign(embeddings, kmeansFixedPointAssign(embeddings, kEff, iters),
      minCosine)
  }

  /** The within-cell dedup stage shared by the flat and hierarchical
    * cluster blockings: score only same-cell pairs by exact quantized
    * cosine, drop the higher id of each pair above `minCosine`. */
  private def semDedupWithAssign(embeddings: DataFrame, assign: DataFrame,
                                 minCosine: Double): DataFrame = {
    val e = ensureQuantized(embeddings).select(col("vec_id"), col("q"), col("nq"))
    val m = e.join(assign, Seq("vec_id"))
    val a = m.select(col("cell_id"), col("vec_id").as("id_a"),
      col("q").as("qa"), col("nq").as("na"))
    val b = m.select(col("cell_id"), col("vec_id").as("id_b"),
      col("q").as("qb"), col("nq").as("nb"))
    val dupIds = a.join(b, Seq("cell_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(dotQ("qa", "qb").cast("double") /
        sqrt(col("na").cast("double") * col("nb").cast("double")) >= minCosine)
      .select(col("id_b").as("vec_id")).distinct()
    m.select(col("vec_id"), col("cell_id"))
      .join(dupIds.withColumn("_dup", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell_id"), col("_dup").isNull.as("kept"))
  }

  /** Per-level cluster count for the HIERARCHICAL cell assignment:
    * k1 = k2 = ⌈√(n/targetCell)⌉, so k1·k2 ≈ n/targetCell keeps the
    * constant cell occupancy of `autoSemDedupK` while each ASSIGNMENT
    * pass scores only its level's centroids. */
  /** INTEGER-EXACT contract (r15): the smallest k >= 1 with
    * targetCell·k² >= nVecs — identical to ⌈√(n/target)⌉ in exact
    * arithmetic; the DuckDB oracle replays it from a correctly-rounded
    * float √ estimate plus a ±1 integer correction, so both engines
    * derive the same k at ANY corpus cardinality. */
  def autoSemDedupHierK(nVecs: Long, targetCell: Int = 64): Int = {
    var k = 1L
    while (targetCell * k * k < nVecs) k += 1
    k.toInt
  }

  /** IVF coarse-cell count sized to the corpus — FAISS's nlist ~ √n
    * rule under the same integer-exact contract as
    * `autoSemDedupHierK` (smallest c ≥ 1 with targetCell·c² ≥ n): a
    * FIXED nCells is the LSH-bits scale trap — cells grow linearly
    * with the corpus, so probing nProbe of them approaches scanning a
    * constant fraction of all codes. With c ~ √(n/targetCell) the
    * probed code count grows as ~√n (`q_ivfpq_auto`). */
  def autoIvfCells(nVecs: Long, targetCell: Int = 64): Int =
    autoSemDedupHierK(nVecs, targetCell)

  /** Probe count scaled with the cell count — max(2, ⌈√c⌉), capped at
    * c (r17: a FIXED nProbe is the recall mirror of the fixed-nCells
    * scale trap — cells grow ~√n, so probing a constant 2 of them
    * shrinks the probed corpus fraction toward zero and recall decays
    * with scale; √c probing keeps probed work ~n^(3/4) while the
    * probed FRACTION decays only ~c^(-1/2)). Oracle-replayable: IEEE
    * double sqrt of an exact small integer, correctly rounded in both
    * engines, with the same GREATEST/LEAST clamps in SQL. */
  def autoIvfProbe(nCells: Int): Int =
    math.min(math.max(2, math.ceil(math.sqrt(nCells.toDouble)).toInt), nCells)

  /** Smallest p ≥ 1 with 2^p ≥ n (integer ⌈log₂ n⌉, saturating at 62)
    * — the engine-portable log the graph-serving auto-params derive
    * from: an integer threshold chain replays exactly in DuckDB (the
    * `autoLshBits` discipline), where a float log2 could round the
    * other way at power-of-two boundaries. */
  def log2Ceil(n: Long): Int = {
    var p = 1
    while ((1L << p) < n && p < 62) p += 1
    p
  }

  /** Beam width (and entry-point count) for the graph serving read,
    * derived from COUNT(*): max(10, 3·⌈log₂ n⌉). r17 (VERDICT task 2):
    * the r16 FIXED beam of 10 decayed recall 0.78 → 0.32 across the
    * landed decade — the walk's budget must grow with the corpus the
    * way HNSW's efSearch does, and ~log n keeps per-query cost
    * corpus-independent in the sense that matters (no term linear in
    * n; O(hops · beam · kGraph) id-rows ~ log² n). */
  def autoGraphBeam(nVecs: Long): Int = math.max(10, 3 * log2Ceil(nVecs))

  /** Hop count for the graph serving read: min(6, max(3, ⌈p/2⌉)) with
    * p = ⌈log₂ n⌉ — the walk needs ~diameter hops (log n for a
    * navigable kNN-graph); the 6 cap is the oracle-unroll bound (the
    * DuckDB replay materializes one guarded CTE block per hop), with
    * the beam's growth carrying recall past the cap. */
  def autoGraphHops(nVecs: Long): Int =
    math.min(6, math.max(3, (log2Ceil(nVecs) + 1) / 2))

  /** Two-level (hierarchical) certified cell assignment — the flat
    * k ∝ n assignment's scale fix. `kmeansFixedPointAssign` with
    * k = n/64 keeps WITHIN-CELL joins linear but pays n·k = n²/64
    * distance evaluations per assignment pass (the measured 0.88
    * exponent on the r12 scale board). Here level 1 trains k1 coarse
    * cells (n·k1), then level 2 trains k2 sub-cells PER coarse cell
    * JOINTLY — the coarse id `g` rides every key (seeds, assignment,
    * update), the pqTrain subspace trick, so all k1 sub-codebooks cost
    * ONE k-means' exchanges and each vector scores only its own
    * cell's k2 centroids (n·k2). With k1 = k2 = √(n/64) the total
    * assignment work is n^1.5/8 vs flat's n²/64 — the classic
    * two-level IVF fix, under the same integer fixed-point discipline
    * (+2^20 shift, `sum div count` centroids, exact int64 distances,
    * md5 seeds — level 2 salts with 'h', decorrelated from level 1
    * like IVF-RQ's 'r' — lexicographic argmin ties), so DuckDB
    * replays BOTH levels bit-exactly (`q_semdedup_hier`).
    *
    * Returns (vec_id, cell_id) with cell_id = g·k2 + sub. Memoized
    * per (input plan, k1, k2, iters); level 1 additionally rides the
    * `kmeans_fp_assign` memo, so a corpus that already trained the
    * flat k1 clustering reuses it. */
  def kmeansHierAssign(embeddings: DataFrame, k1: Int, k2: Int,
                       iters: Int): DataFrame = {
    require(iters >= 1, s"kmeansHierAssign needs at least one iteration, got $iters")
    IndexMemo("kmeans_hier_assign", embeddings, (k1, k2, iters)) {
      val shift = 1048576L
      val coarse = kmeansFixedPointAssign(embeddings, k1, iters)
        .select(col("vec_id"), col("cell_id").as("g"))
      val v = ensureQuantized(embeddings).select(col("vec_id"), col("q"))
      // shifted-array rows tagged with the coarse cell: the one join
      // that adds g to the stream; everything below is (g, …)-keyed.
      val vag = v.select(col("vec_id"),
          expr(s"transform(q, x -> x + ${shift}L)").as("xa"))
        .join(coarse, Seq("vec_id"))
        .localCheckpoint()
      // per-coarse-cell seeds: the k2 smallest md5(vec_id || 'h') of g
      // via the bounded per-group TopK (partial-aggregates map-side —
      // the row_number window over the whole corpus it replaces
      // shipped and sorted every row; picks are bit-identical)
      val seeds = v.select(col("vec_id"),
          md5(concat(col("vec_id").cast("string"), lit("h"))).as("_h"))
        .join(coarse, Seq("vec_id"))
        .groupBy(col("g"))
        .agg(graft.plans.TopK.top_k(struct(col("_h"), col("vec_id")), k2).as("_t"))
        .select(posexplode(col("_t")).as(Seq("code", "_s")))
        .select(col("_s.vec_id").as("vec_id"), col("code"))
      // (r18) seed centroids feed ONLY the first assignment when
      // iters >= 1 (required above) — lazy, no eager checkpoint job
      var cents = vag.join(broadcast(seeds), Seq("vec_id"))
        .select(col("g"), col("code"), col("xa").as("ca"))
      def assign(c: DataFrame): DataFrame =
        vag.join(broadcast(c), Seq("g"))
          .select(col("vec_id"), col("g"), col("code"),
            sqDistQ("xa", "ca").as("_dist"), col("xa"))
          .groupBy(col("vec_id"))
          .agg(min(struct(col("_dist"), col("code"), col("g"), col("xa"))).as("_m"))
          .select(col("vec_id"), col("_m.code").as("code"),
            col("_m.g").as("g"), col("_m.xa").as("xa"))
      var a: DataFrame = null
      (1 to iters).foreach { i =>
        // interior updates ride the argmin aggregate (g + xa carried
        // through the struct; (_dist, code) unique per vector) and
        // explode per-dim AFTER the per-vector reduction
        if (i < iters)
          cents = centArrays(
            assign(cents)
              .select(col("g"), col("code"),
                posexplode(col("xa")).as(Seq("d", "x")))
              .groupBy(col("g"), col("code"), col("d"))
              .agg(expr("sum(x) div count(1)").as("c")),
            "g", "code").localCheckpoint()
        else
          a = assign(cents).select(col("vec_id"), col("code"))
      }
      coarse.join(a, Seq("vec_id"))
        .select(col("vec_id"),
          (col("g") * lit(k2.toLong) + col("code")).as("cell_id"))
        .localCheckpoint()
    }
  }

  /** SemDeDup over the hierarchical assignment — the scale sibling of
    * `semDedup(k = 0, …)`: same within-cell exact-cosine dedup, but
    * the cluster blocking costs n^1.5-ish assignment work instead of
    * n²/64 (see `kmeansHierAssign`). k1/k2 <= 0 auto-size to
    * `autoSemDedupHierK` (constant expected occupancy, like the flat
    * auto form). */
  def semDedupHier(embeddings: DataFrame, k1: Int, k2: Int, iters: Int,
                   minCosine: Double): DataFrame = {
    val (k1e, k2e) =
      if (k1 > 0 && k2 > 0) (k1, k2)
      else { val k = autoSemDedupHierK(embeddings.count()); (k, k) }
    semDedupWithAssign(embeddings,
      kmeansHierAssign(embeddings, k1e, k2e, iters), minCosine)
  }

  /** Product quantization (PQ): split each vector into `m` contiguous
    * subvectors and train a `ksub`-centroid codebook PER subspace with
    * the `kmeansFixedPoint` integer discipline (+2^20-shifted 1e6-
    * quantized dims, integer `sum div count` centroids, exact int64
    * squared distances, md5-ordered seeds, lexicographic argmin ties)
    * — so DuckDB replays training bit-exactly. Every vector is then
    * ENCODED as m small codes: the 100 TB ANN compression (a 64-dim
    * float vector becomes m bytes of codes; the index shrinks ~100×).
    *
    * All m subspaces train JOINTLY — the subspace id `s` rides every
    * key (seeds, assignment, centroid update), so m codebooks cost the
    * same NUMBER of exchanges as one k-means, not m of them.
    *
    * Returns (codes, centroids): codes = (vec_id, s, code); centroids
    * = (s, code, d, c) on GLOBAL dim index d, from the FINAL update —
    * codes are the final assignment against those centroids (one
    * assignment after the last update, mirroring the oracle's replay).
    */
  def pqTrain(embeddings: DataFrame, m: Int, ksub: Int,
              iters: Int): (DataFrame, DataFrame) = {
    require(iters >= 1, s"pqTrain needs at least one iteration, got $iters")
    // Memoized per (quantized input plan, m, ksub, iters): the trained
    // index (checkpointed codes + centroids) is corpus-derived state,
    // and the topk / rerank siblings over the same corpus would
    // otherwise each re-run the full Lloyd loop.
    val e = ensureQuantized(embeddings)
    IndexMemo.of[(DataFrame, DataFrame)]("pq_train", e, (m, ksub, iters))(
      pqTrainCompute(e, m, ksub, iters))
  }

  private def pqTrainCompute(e: DataFrame, m: Int, ksub: Int,
                             iters: Int): (DataFrame, DataFrame) = {
    val shift = 1048576L // 2^20 (see kmeansFixedPoint)
    val v = e.select(col("vec_id"), col("q"))
    val dims = v.select(size(col("q"))).head().getInt(0)
    require(dims % m == 0, s"$dims dims not divisible into $m subspaces")
    val subDim = dims / m
    // subvector ARRAYS (vec, s, sa) — the one materialization;
    // everything downstream (seeds, assignments, updates) rides it.
    // LAZY: the seed-codebook collect below materializes the blocks.
    val vs = v.select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), s -> " +
          s"transform(slice(q, s * $subDim + 1, $subDim), x -> x + ${shift}L))"))
        .as(Seq("s", "sa")))
      .localCheckpoint(eager = false)
    // shared seed VECTORS across subspaces (each contributes its own
    // subvector per subspace): the ksub smallest md5(vec_id) — the
    // bounded-TopK seedTable pick (bit-identical to the r18
    // TakeOrdered + window form), and seed codebooks come straight
    // off the subvector ARRAY frame via a ksub-row broadcast join
    // (r19: no corpus-wide per-dim explode + array re-collect)
    val seeds = localFrame(seedTable(v, Seq(""), ksub)
      .select(col("vec_id"), col("code")))
    // seed codebooks collected once (ksub·m subvector rows, driver-side
    // r20): every assignment's broadcast(cArr) below builds from a
    // LocalRelation with no Spark job, and the per-iteration centroid
    // frame materializes through ONE collect instead of a checkpoint
    // action + per-consumer broadcast-build jobs
    val seedArr = localFrame(vs.join(broadcast(seeds), Seq("vec_id"))
      .select(col("s"), col("code"), col("sa").as("ca")))
    // assignment carries sa through the argmin ((_dist, code) is
    // unique per (vec, s) group, so the array never compares), and
    // the centroid update explodes per-dim AFTER the per-vector
    // reduction — the vd ⋈ assignment join per iteration is gone
    def assign(cArr: DataFrame): DataFrame =
      vs.join(broadcast(cArr), Seq("s"))
        .select(col("vec_id"), col("s"), col("code"),
          sqDistQ("sa", "ca").as("_dist"), col("sa"))
        .groupBy(col("vec_id"), col("s"))
        .agg(min(struct(col("_dist"), col("code"), col("sa"))).as("_m"))
        .select(col("vec_id"), col("s"), col("_m.code").as("code"),
          col("_m.sa").as("sa"))
    var cents: DataFrame = null
    var cArr = seedArr
    (1 to iters).foreach { _ =>
      cents = localFrame(assign(cArr)
        .select(col("s"), col("code"), posexplode(col("sa")).as(Seq("ds", "x")))
        .select(col("s"), col("code"),
          (col("s") * lit(subDim) + col("ds")).as("d"), col("x"))
        .groupBy(col("s"), col("code"), col("d"))
        .agg(expr("sum(x) div count(1)").as("c")))
      cArr = centArraysLocal(cents, "s", "code")
    }
    (assign(cArr).select(col("vec_id"), col("s"), col("code"))
      .localCheckpoint(), cents)
  }

  /** PQ top-k by asymmetric distance computation (ADC): the query
    * keeps its EXACT (shifted-integer) subvectors; each candidate is
    * represented only by its m codes. Per (query, subspace, code) the
    * exact partial squared distance to that code's centroid is
    * precomputed — a |Q|·m·ksub table, broadcast — and a candidate's
    * distance is the sum of its codes' m table entries. All integer
    * arithmetic, so the ranking is engine-exact and oracle-gateable
    * (approximate vs TRUE distance — that's PQ's contract — but
    * deterministically so).
    *
    * Scale shape: the codes table (n·m small ints — the compressed
    * index, the only thing that scans) joins the broadcast ADC table
    * map-side; partial sums collapse to one row per (query, candidate)
    * before the single exchange; top-k is a per-query window over
    * id-sized rows. The raw vectors are touched only to build the
    * |Q|-row query side. */
  def pqTopK(embeddings: DataFrame, queryPred: Column, k: Int,
             m: Int, ksub: Int, iters: Int,
             lutBudget: Long = defaultLutEntries): DataFrame = {
    val (codes, cents) = pqTrain(embeddings, m, ksub, iters)
    pqSearchIndex(ensureQuantized(embeddings).filter(queryPred), codes, cents,
      k, lutBudget)
  }

  /** Per-task LUT broadcast budget: the dense per-query ADC distance
    * table is |Q|·m·ksub int64s shipped to EVERY task, so an unbounded
    * |Q| makes the broadcast itself the driver-side ceiling (the
    * autoDocFreqCap class of trap). 4M entries = 32 MB per broadcast —
    * chunks of ceil(budget / (m·ksub)) queries keep each broadcast
    * bounded while the total scan work (|Q|·n gathers) is unchanged.
    * r17: a `val` default threaded as the `lutBudget` parameter
    * everywhere (was a `private[graft] var` test seam on a production
    * path — specs now pass the parameter). */
  val defaultLutEntries: Long = 4L << 20

  /** Deterministic chunk count with a HARD per-chunk cap: start at
    * ceil(n / cap) and DOUBLE until no chunk exceeds `cap` ids (each
    * check is one id-only aggregation; with xxhash64 spreading, the
    * loop converges immediately in practice). r17 ADVICE fix: the r16
    * split used pmod(id, nChunks) — this repo's query predicates are
    * arithmetic progressions (vec_id % 100 === 0), so whenever nChunks
    * shared a factor with the stride the queries COLLAPSED into one or
    * two chunks and the per-broadcast budget was exceeded unboundedly
    * (fully unchunked in the worst case — the exact driver-OOM the
    * budget exists to prevent). Chunking never affects results (chunks
    * partition queries), so the hash swap keeps every oracle gate. */
  private[graft] def hashChunkCount(ids: DataFrame, idCol: String, cap: Long,
                                    n: Long): Int = {
    var nChunks = math.max(1L, (n + cap - 1) / cap)
    while (nChunks > 1 && nChunks < (1L << 30) &&
           ids.groupBy(pmod(xxhash64(col(idCol)), lit(nChunks)).as("_c"))
             .count().agg(max(col("count"))).head().getLong(0) > cap)
      nChunks *= 2
    nChunks.toInt
  }

  /** Memoized LUT-chunk sizing per (query-id plan, cap) — r19 (the
    * annPolicyEnv discipline, VERDICT r18 #4 applied to the search
    * paths): every quantizer serve paid a fresh ids checkpoint + one
    * count + the hashChunkCount doubling probe PER CALL, for an
    * integer that changes only when the query set does. The ids
    * checkpoint is sizing-local (only the Int is retained), and a
    * repeat serve over the same (corpus, predicate) runs ZERO sizing
    * jobs. */
  private def memoChunkCount(ids: DataFrame, idCol: String, cap: Long): Int =
    IndexMemo.of[Int]("lut_chunks", ids, (idCol, cap)) {
      val ck = ids.localCheckpoint()
      hashChunkCount(ck, idCol, cap, ck.count())
    }

  /** ADC search of query VECTORS against an existing (codes, cents)
    * index — the decoupled form `pqTopK` composes and the streaming
    * path (`StreamingAnnIngest.searchStream`) reuses per micro-batch:
    * queries need not come from the indexed corpus. `lutBudget`
    * overrides the per-broadcast LUT entry budget (tests force tiny
    * chunks with it; serving uses the 32 MB default). Callers that
    * KNOW the query set is trigger-bounded far below the budget (the
    * per-tick streaming path) pass `boundedQueries = true` to skip the
    * sizing count — the per-tick search stays one job (r17 advice; a
    * tick genuinely above ~512k queries belongs on the batch API). */
  def pqSearchIndex(queries: DataFrame, codes: DataFrame, cents: DataFrame,
                    k: Int, lutBudget: Long = defaultLutEntries,
                    boundedQueries: Boolean = false): DataFrame = {
    val shift = 1048576L
    // geometry off the dictionary-sized codebook (one tiny job)
    val g = cents.agg(max(col("s")).cast("int"), max(col("code")).cast("int")).head()
    val m = g.getInt(0) + 1
    val ksub = g.getInt(1) + 1
    val q0 = ensureQuantized(queries)
    // chunk count from ONE query count (skipped when the caller
    // declares the batch bounded): |Q|·m·ksub entries over the budget,
    // split by a deterministic id hash with a hard per-chunk cap
    val chunkRows = math.max(1L, lutBudget / (m.toLong * ksub))
    val nChunks =
      if (boundedQueries) 1
      else memoChunkCount(q0.select(col("vec_id")), "vec_id", chunkRows)
    // the code index in array form (vec_id, carr) — memoized per
    // codes plan: the search-side shape of the stored index. A caller
    // that already holds the ARRAY form (the streaming ingest's
    // codeIndex reduces its store straight to it — no per-tick
    // re-conversion, no memo churn on ever-fresh batch plans) passes
    // through untouched. Chunks re-scan this checkpointed frame — the
    // compressed index, the cheapest thing on the path to re-read.
    val codesArr =
      if (codes.columns.contains("carr")) codes
      else IndexMemo("pq_codes_arr", codes, ()) {
        codes.groupBy(col("vec_id"))
          .agg(expr("transform(array_sort(collect_list(struct(s, code))), p -> p.code)")
            .as("carr"))
          .localCheckpoint()
      }
    def searchChunk(chunk: DataFrame): DataFrame = {
      val qd = chunk
        .select(col("vec_id").as("query_id"), posexplode(col("q")).as(Seq("d", "qx")))
        .select(col("query_id"), col("d"), (col("qx") + shift).as("x"))
      val adc = qd.join(broadcast(cents), Seq("d"))
        .groupBy(col("query_id"), col("s"), col("code"))
        .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("pd"))
      // DENSE per-query distance table (FAISS's LUT): lut[s·ksub+code]
      // = pd. The old spelling joined the code rows to adc on (s, code)
      // and hash-aggregated n·m·|Q| rows; the gather form streams
      // |Q|·n rows through one codegen'd lookup loop — bit-identical
      // sums (adc covers every (s, code) the training kept, so every
      // assigned code's slot is populated; the 0 fallback is dead).
      val lut = adc
        .groupBy(col("query_id"))
        .agg(expr(s"map_from_entries(collect_list(" +
          s"struct(s * $ksub + code AS k, pd AS v)))").as("mp"))
        .select(col("query_id"), expr(s"transform(sequence(0, ${m * ksub - 1}), " +
          "i -> coalesce(element_at(mp, i), CAST(0 AS BIGINT)))").as("lut"))
      // adc_gather_i64 NULLs on a corrupted/out-of-range code; topKAsc's
      // struct-min would rank a NULL dist FIRST, so drop corrupt
      // candidates here — the only NULL-capable producer on this path
      // (a healthy store never NULLs: the LUT is built dense over the
      // training's own ksub).
      topKAsc(codesArr.crossJoin(broadcast(lut))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          graft.plans.AdcGatherI64.adc_gather_i64(col("carr"), col("lut"), ksub)
            .as("adist"))
        .filter(col("adist").isNotNull),
        k, "adist")
    }
    if (nChunks <= 1) searchChunk(q0)
    else (0 until nChunks)
      .map(i => searchChunk(
        q0.filter(pmod(xxhash64(col("vec_id")), lit(nChunks.toLong)) === i)))
      .reduce(_.unionByName(_))
  }

  /** Encode vectors against FIXED PQ centroids — one assignment pass,
    * no retraining: the ingest form, where newly arrived embeddings
    * adopt the codebooks the index was built with (retraining would
    * silently re-code the whole landed corpus). `cents` is pqTrain's
    * centroid frame (s, code, d, c); broadcast, so the batch never
    * shuffles its vectors — only (vec, s, code) id-rows aggregate. */
  def pqEncode(embeddings: DataFrame, cents: DataFrame): DataFrame = {
    val shift = 1048576L
    // subspace geometry off the dictionary-sized codebook (one tiny
    // job over the checkpointed cents — metadata, not data)
    val g = cents.agg(max(col("s")).cast("int"), max(col("d")).cast("int")).head()
    val m = g.getInt(0) + 1
    val subDim = (g.getInt(1) + 1) / m
    val vs = ensureQuantized(embeddings)
      .select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), s -> " +
          s"transform(slice(q, s * $subDim + 1, $subDim), x -> x + ${shift}L))"))
        .as(Seq("s", "sa")))
    vs.join(broadcast(centArraysLocal(cents, "s", "code")), Seq("s"))
      .select(col("vec_id"), col("s"), col("code"),
        sqDistQ("sa", "ca").as("_dist"))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(struct(col("_dist"), col("code"))).as("_m"))
      .select(col("vec_id"), col("s"), col("_m.code").as("code"))
  }

  /** Scalar quantization (SQ8 — FAISS's ScalarQuantizer QT_8bit shape):
    * per-dimension affine 8-bit codes, `c = (x - mn_d) * 255 div
    * (mx_d - mn_d)` over the exact integer quantized grid, with the
    * per-dim (mn, mx) bounds learned from the corpus. Training is ONE
    * min/max aggregation (vs PQ/RQ's Lloyd loops) and the index is a
    * byte per dimension — the cheap rung of the compression ladder.
    * All operands are non-negative integers, so truncating (Spark
    * `div`) and flooring (DuckDB `//`) division coincide and the codes
    * — hence every downstream distance — replay bit-exactly
    * cross-engine (`q_sq8_topk`).
    *
    * Returns (vec_id, c, ncc): the code vector and its exact squared
    * norm. Memoized per corpus plan like the other trained indexes;
    * the bounds (dims-sized — metadata) collect to the driver and ride
    * the code construction as literals, so encoding is ONE map-side
    * pass over the vector scan: no shuffle at any corpus size. */
  def sq8CodeTable(embeddings: DataFrame): DataFrame = {
    val e = ensureQuantized(embeddings)
    IndexMemo.of[DataFrame]("sq8_codes", e, ()) {
      val bounds = e.select(posexplode(col("q")).as(Seq("d", "x")))
        .groupBy(col("d")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
        .orderBy(col("d")).collect()
      val mn = bounds.map(_.getLong(1)).toSeq
      val mx = bounds.map(_.getLong(2)).toSeq
      e.select(col("vec_id"), col("q"))
        .withColumn("_mn", typedLit(mn))
        .withColumn("_mx", typedLit(mx))
        .withColumn("c", expr(
          "transform(q, (x, i) -> CASE WHEN element_at(_mx, i+1) > element_at(_mn, i+1)" +
            " THEN ((x - element_at(_mn, i+1)) * 255) div (element_at(_mx, i+1) - element_at(_mn, i+1))" +
            " ELSE CAST(0 AS BIGINT) END)"))
        .withColumn("ncc", normQ("c"))
        .select(col("vec_id"), col("c"), col("ncc"))
        .localCheckpoint()
    }
  }

  /** SQ8 top-k by symmetric code-space squared distance: both sides
    * use their 8-bit codes, and `|qc - cc|² = ncc_q + ncc_c - 2·qc·cc`
    * rides the same native DotI64 inner loop as exact cosine — one
    * codegen'd pass per (query, candidate), integer-exact, so the
    * ranking is oracle-gateable. Scale shape = bruteForceTopK over the
    * COMPRESSED index: broadcast query codes against the code scan,
    * bounded TopK aggregate tail (|Q|·k rows through the exchange);
    * the raw vectors are touched only by the (memoized) encoder.
    * `candPred` = filtered search over the compressed index (the mode
    * every vector store exposes): the predicate restricts the CODE
    * SCAN via a semi join on the filtered corpus ids BEFORE any
    * distance is computed — never post-filtering an unfiltered top-k,
    * so the k survivors are the true top-k among matching rows. */
  def sq8TopK(embeddings: DataFrame, queryPred: Column, k: Int,
              candPred: Option[Column] = None): DataFrame = {
    val e = ensureQuantized(embeddings)
    val codes = sq8CodeTable(e)
    val qIds = e.filter(queryPred).select(col("vec_id"))
    val q = codes.join(broadcast(qIds), Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("query_id"), col("c").as("qc"), col("ncc").as("qn"))
    val candCodes = candPred.fold(codes)(p =>
      codes.join(e.filter(p).select(col("vec_id")), Seq("vec_id"), "left_semi"))
    val cands = candCodes.select(col("vec_id").as("neighbor_id"),
      col("c").as("cc"), col("ncc").as("cn"))
    topKAsc(cands.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", col("qn") + col("cn") - lit(2L) * dotQ("qc", "cc"))
      .select(col("query_id"), col("neighbor_id"), col("adist")),
      k, "adist")
  }

  /** SQ8 + exact re-rank: the code-space scan proposes a `pool`-sized
    * candidate set, exact quantized cosine orders the final top-k —
    * the same refine stage as the PQ/RQ/IVFPQ siblings. */
  def sq8TopKRerank(embeddings: DataFrame, queryPred: Column, k: Int,
                    pool: Int): DataFrame = {
    require(pool >= k, s"rerank pool $pool must be >= k=$k")
    val e = ensureQuantized(embeddings)
    exactRerank(e, queryPred, sq8TopK(e, queryPred, pool), k)
  }

  /** IVF-SQ8 (FAISS's IVF,SQ8): the coarse quantizer partitions the
    * corpus into inverted lists and search scans only the probed
    * cells' SQ8 codes with the symmetric code-space distance — the
    * probed scale sibling of the FLAT `sq8TopK` scan, whose n·|Q|
    * contract the 100× scale table measured at exponent 1.82. With
    * `autoIvfCells` sizing (nlist ~ √n) the probed code count grows
    * ~√n per query.
    *
    * Everything replays in DuckDB: the coarse assignment is the
    * certified `kmeansFixedPointAssign`; the PROBE centroids are the
    * exact integer per-(cell, dim) `sum div count` over the final
    * membership (derived state both engines reproduce from the
    * assignment); codes/norms are `sq8CodeTable`'s. The derived
    * (codes ⋈ cells) scan table memoizes per (corpus, nCells, iters)
    * like every trained index. */
  def ivfSq8TopK(embeddings: DataFrame, queryPred: Column, k: Int,
                 nCells: Int, nProbe: Int, iters: Int): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCells, s"bad nProbe=$nProbe of $nCells cells")
    val shift = 1048576L
    val e = ensureQuantized(embeddings)
    val assign = kmeansFixedPointAssign(e, nCells, iters)
    val va = e.select(col("vec_id"),
      expr(s"transform(q, x -> x + ${shift}L)").as("xa"))
    val (codes, pcents) = IndexMemo.of[(DataFrame, DataFrame)](
      "ivfsq8_index", e, (nCells, iters)) {
      // r20: probe centroids land driver-side (nCells·dims rows) — the
      // one collect job replaces the checkpoint action, and the probe
      // broadcast below builds from a LocalRelation with no job
      val pc = centArraysLocal(
        va.select(col("vec_id"), posexplode(col("xa")).as(Seq("d", "x")))
          .join(assign, Seq("vec_id"))
          .groupBy(col("cell_id"), col("d"))
          .agg(expr("sum(x) div count(1)").as("c")),
        "cell_id")
      (sq8CodeTable(e).join(assign, Seq("vec_id")).localCheckpoint(), pc)
    }
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cd").asc, col("cell_id").asc)
    val probed = va
      .join(broadcast(e.filter(queryPred).select(col("vec_id"))),
        Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("query_id"), col("xa"))
      .crossJoin(broadcast(pcents))
      .select(col("query_id"), col("cell_id"), sqDistQ("xa", "ca").as("cd"))
      .withColumn("_rn", row_number().over(wProbe))
      .filter(col("_rn") <= nProbe)
      .select(col("query_id"), col("cell_id"))
    val q = codes
      .join(broadcast(e.filter(queryPred).select(col("vec_id"))),
        Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("query_id"), col("c").as("qc"), col("ncc").as("qn"))
    topKAsc(codes.select(col("vec_id").as("neighbor_id"), col("c").as("cc"),
        col("ncc").as("cn"), col("cell_id"))
      .join(broadcast(probed), Seq("cell_id"))
      .join(broadcast(q), Seq("query_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", col("qn") + col("cn") - lit(2L) * dotQ("qc", "cc"))
      .select(col("query_id"), col("neighbor_id"), col("adist")),
      k, "adist")
  }

  /** Deterministic per-salt seed table shared by the multi-stage
    * fixed-point trainers: for each salt, the `maxK` ids with smallest
    * md5(vec_id || salt), coded 0..maxK-1 in (_h, vec_id) order —
    * exactly the per-stage TakeOrdered + row_number pick it replaces
    * (r19, guide §2.4): ONE bounded top-k aggregation computes EVERY
    * stage's seeds in one pass (the TopK aggregate partial-reduces
    * map-side, so the single exchange carries <= |salts|·maxK id
    * rows), instead of a corpus order-by + single-partition window
    * subtree on each training stage's critical path. */
  private[graft] def seedTable(ids: DataFrame, salts: Seq[String], maxK: Int): DataFrame =
    ids.select(col("vec_id"), explode(array(salts.map(s =>
        struct(lit(s).as("salt"),
          md5(concat(col("vec_id").cast("string"), lit(s))).as("_h"))): _*)).as("sh"))
      .select(col("sh.salt").as("salt"), col("sh._h").as("_h"), col("vec_id"))
      .groupBy(col("salt"))
      .agg(graft.plans.TopK.top_k(struct(col("_h"), col("vec_id")), maxK).as("_t"))
      .select(col("salt"), posexplode(col("_t")).as(Seq("_p", "_s")))
      .select(col("salt"), col("_s.vec_id").as("vec_id"), col("_p").as("code"))

  /** One certified-fixpoint k-means stage over `vecs` (vec_id, xa
    * ARRAY<BIGINT>, plus optional `passCols` carried through): returns
    * (final assignment — LAZY, carrying xa and passCols — and the
    * final PER-DIM centroids, checkpointed). `seeds` holds the stage's
    * (vec_id, codeName) seed picks — a salt-filtered `seedTable` slice.
    *
    * r19 reshape of the r18 form — bit-identical results (same seeds,
    * same integer argmin/centroid algebra), fewer exchanges and eager
    * jobs per stage (guide §2.3/§2.4):
    *  - seed centroids come from a k-row broadcast join against the
    *    ARRAY frame (the kmeansFixedPointAssign shape) instead of
    *    exploding the whole corpus per-dim and re-collecting arrays;
    *  - the centroid update rides the assignment aggregate itself —
    *    xa is carried through the argmin struct ((_dist, code) is
    *    unique per vector, so the array never participates in the
    *    comparison) and explodes per-dim AFTER the per-vector
    *    reduction: the n·dims-row dimRows ⋈ assignment join/shuffle
    *    per iteration is gone;
    *  - the FINAL assignment is returned lazy: callers fold its
    *    materialization into their next checkpoint (the residual
    *    frame / the code table) instead of paying an eager job per
    *    stage, and because it carries xa the residual computation
    *    needs no join back to the vector frame. */
  /** Max centroid count for the LITERAL (map-only) assignment spelling
    * below: k·dims literal longs ride the projection's plan, and each
    * centroid contributes one codegen'd SqDistI64 call — fine into the
    * hundreds, a codegen/plan-size hazard in the thousands (the
    * auto-scaled coarse quantizer at cluster corpus sizes). Above the
    * cap fpStage keeps the r19 broadcast-join + partial-min-aggregate
    * spelling; both spellings are bit-identical (FunctionsSpec "fpStage
    * literal-centroid path" pins it by driving both through `litCap`),
    * so the cap is a pure plan choice. */
  private[graft] val litCentCap = 256

  private[graft] def fpStage(seeds: DataFrame, vecs: DataFrame,
                      codeName: String, k: Int, iters: Int,
                      passCols: Seq[String] = Nil,
                      litCap: Int = litCentCap,
                      seedVecs: Option[Seq[(Int, Seq[Long])]] = None): (DataFrame, DataFrame) = {
    val spark = vecs.sparkSession
    // r20 (guide §2.4 "remove shuffles outright", §1.2 step 1 "cut
    // actions"): centroids live DRIVER-side between iterations —
    // they are k·dims exact longs, dictionary-sized by construction.
    // The assignment becomes a MAP-ONLY projection: argmin over k
    // literal centroid arrays via least(struct(sqdist, code)), which
    // removes the per-assignment corpus exchange the r19 spelling
    // paid (crossJoin + groupBy(vec_id) shipped every vector's xa
    // array through a shuffle so the partial min could merge — pure
    // overhead, since each vector's k candidate rows never leave
    // their map task). Ordering is bit-identical: least() on
    // struct(_dist, code) is the same lexicographic (_dist, code)
    // min as the r19 min(struct(_dist, code, …)) — the trailing
    // struct fields there were per-vector constants that never
    // broke a tie (codes are distinct per candidate).
    def assignLit(cents: Seq[(Int, Seq[Long])]): DataFrame = {
      val cand = cents.map { case (code, ca) =>
        struct(
          graft.plans.SqDistI64.sqdist_i64(col("xa"), typedLit(ca)).as("_dist"),
          lit(code).as(codeName))
      }
      vecs.withColumn("_m", if (cand.size == 1) cand.head else least(cand: _*))
        .select(col("vec_id") +: (col(s"_m.$codeName").as(codeName) +:
          (passCols.map(col) :+ col("xa"))): _*)
    }
    // per-dim LocalRelation (codeName, d, c) — the frame shape the
    // r19 checkpoint held, rebuilt from driver rows (bit-identical)
    def perDim(cents: Seq[(Int, Seq[Long])]): DataFrame = {
      import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
      val rows = cents.sortBy(_._1).flatMap { case (code, ca) =>
        ca.zipWithIndex.map { case (c, d) =>
          org.apache.spark.sql.Row(code, d, c) } }
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        StructType(Seq(StructField(codeName, IntegerType, nullable = false),
          StructField("d", IntegerType, nullable = false),
          StructField("c", LongType, nullable = false))))
    }
    // seed centroids are the seed vectors themselves: ONE corpus-scan
    // collect (the same single pass the r19 broadcast(seedArr) build
    // ran), <= k rows to the driver. The collect is GATED on the
    // caller's k (r20 fix): an auto-scaled cell count past the cap
    // must take the join spelling without first pulling k·dims rows
    // it won't use. An EMPTY seed set (empty corpus) also falls
    // through — `least()` needs >= 1 candidate; the join path is
    // empty-correct. Multi-stage trainers that already hold the seed
    // vectors driver-side (the residual-chain replay, see
    // `ivfRqTrainMulti`) pass them via `seedVecs` and skip the collect
    // job entirely — the values are bit-identical by construction
    // (same integer argmin/residual algebra, spec-pinned).
    val seedCents: Seq[(Int, Seq[Long])] =
      seedVecs.getOrElse {
        if (k > litCap) Nil
        else vecs
          .join(broadcast(seeds.select(col("vec_id"), col(codeName))), Seq("vec_id"))
          .select(col(codeName), col("xa"))
          .collect()
          .map(r => (r.getInt(0), r.getSeq[Long](1)))
          .sortBy(_._1).toSeq
      }
    if (seedCents.nonEmpty && seedCents.size <= litCap) {
      var centsLocal = seedCents
      var cents = if (iters == 0) perDim(centsLocal) else null: DataFrame
      (1 to iters).foreach { _ =>
        // the stage's one eager job: map-only argmin, per-dim explode
        // AFTER the per-vector reduction, partial-aggregated sum/count
        // — the exchange carries <= tasks·k·dims rows
        val updated = assignLit(centsLocal)
          .select(col(codeName), posexplode(col("xa")).as(Seq("d", "x")))
          .groupBy(col(codeName), col("d"))
          .agg(expr("sum(x) div count(1)").as("c"))
          .collect()
        val byCode = updated.groupBy(_.getInt(0)).toSeq
          .map { case (code, rs) =>
            (code, rs.map(r => (r.getInt(1), r.getLong(2)))
              .sortBy(_._1).map(_._2).toSeq) }
          .sortBy(_._1)
        centsLocal = byCode
        cents = perDim(byCode)
      }
      (assignLit(centsLocal), cents)
    } else {
      // auto-scaled centroid counts past the literal cap: the r19
      // broadcast-join + partial-min-aggregate spelling (bit-identical
      // results; see litCentCap)
      val seedArr = vecs
        .join(broadcast(seeds.select(col("vec_id"), col(codeName))), Seq("vec_id"))
        .select(col(codeName), col("xa").as("ca"))
      def assign(cArr: DataFrame): DataFrame =
        vecs.crossJoin(broadcast(cArr))
          .select(col("vec_id") +: (passCols.map(col) ++ Seq(
            col(codeName), sqDistQ("xa", "ca").as("_dist"), col("xa"))): _*)
          .groupBy(col("vec_id"))
          .agg(min(struct(
            col("_dist") +: col(codeName) +: (passCols.map(col) :+ col("xa")): _*)).as("_m"))
          .select(col("vec_id") +:
            ((codeName +: passCols) :+ "xa").map(f => col(s"_m.$f").as(f)): _*)
      var cents =
        if (iters == 0)
          seedArr.select(col(codeName), posexplode(col("ca")).as(Seq("d", "c")))
            .localCheckpoint()
        else null: DataFrame
      var cArr = seedArr
      (1 to iters).foreach { _ =>
        cents = assign(cArr)
          .select(col(codeName), posexplode(col("xa")).as(Seq("d", "x")))
          .groupBy(col(codeName), col("d"))
          .agg(expr("sum(x) div count(1)").as("c"))
          .localCheckpoint()
        cArr = centArrays(cents, codeName)
      }
      (assign(cArr), cents)
    }
  }

  /** IVF-RQ (FAISS's IVF,RQ shape): a coarse quantizer of `nCells`
    * centroids partitions the corpus into inverted lists, and L
    * ADDITIVE residual codebooks (stage widths `ks`) are trained on the
    * residuals to each vector's coarse centroid. A query probes its
    * `nProbe` nearest cells and scores ONLY those cells' codes — with
    * `autoIvfCells` sizing (nlist ~ √n) probed work grows ~√n per
    * query. Every training runs the certified fixed-point discipline
    * through the shared `fpStage` (md5-ordered seeds — coarse by
    * md5(vec_id), stage s by md5(vec_id || 'r'·s); lexicographic argmin
    * ties), so DuckDB replays build and search bit-exactly
    * (`q_ivfrq_auto`).
    *
    * LUT-form ADC: a COMBINED (code1, …, codeL) distance table is
    * exact but k1·…·kL rows, so dead beyond ~3 stages, and 2–3
    * additive stages measurably cap recall ~0.09 on this corpus (r17
    * lab). Real residual quantizers run 4–16 stages; the standard ADC
    * for that regime expands the distance instead of materializing
    * combinations:
    *
    *   ‖q_r − Σ_s c_s‖² = ‖q_r‖² − 2·Σ_s ⟨q_r, c_s⟩ + ‖Σ_s c_s‖²
    *
    * — a per-(query, probed-cell, stage) dot LUT of Σk_s entries
    * (NOT Πk_s), plus a per-VECTOR reconstruction norm `rnorm`
    * precomputed at train time (the "carry residual norms into the
    * ADC ordering" form: rnorm is exactly the candidate-side term the
    * combined table folded in implicitly). A candidate's distance is
    * L broadcast LUT lookups summed + its stored norm — all int64
    * exact (operands ≤ 2^22, dots ≤ 2^50), so for L = 2 this returns
    * BIT-IDENTICAL distances to the combined-table form; the DuckDB
    * unroll mirrors the same expansion. Stage-s codebooks train in the
    * +2^(20+s) shifted frame (non-negative operands keep the integer
    * `sum div count` centroid update floor-division-exact in both
    * engines); seeds md5(vec_id || 'r'·s). Residual magnitudes shrink
    * stage-over-stage, so deeper frames stay inside int64 bounds. */
  def ivfRqTopKMulti(embeddings: DataFrame, queryPred: Column, k: Int,
                     nCells: Int, nProbe: Int, ks: Seq[Int],
                     iters: Int): DataFrame = {
    require(iters >= 1, s"ivfRqTopKMulti needs at least one iteration, got $iters")
    require(nProbe >= 1 && nProbe <= nCells, s"bad nProbe=$nProbe of $nCells cells")
    require(ks.nonEmpty && ks.forall(_ >= 1), s"bad stage sizes $ks")
    val shift = 1048576L   // 2^20 (see kmeansFixedPoint)
    val shiftR = 2097152L  // 2^21: residuals in [-2^21, 2^21] re-shift non-negative
    val e = ensureQuantized(embeddings)
    val (codesLong, rnorm, cc, cadj) =
      IndexMemo.of[(DataFrame, DataFrame, DataFrame, DataFrame)](
        "ivfrq_train", e, (nCells, ks, iters))(
        ivfRqTrainMulti(e, nCells, ks, iters))
    // --- search ---
    val ccArr = broadcast(centArraysLocal(cc, "cell_id"))
    val qa = e.filter(queryPred)
      .select(col("vec_id").as("query_id"),
        expr(s"transform(q, x -> x + ${shift}L)").as("xa"))
      .localCheckpoint() // consumed twice: cell ranking + residuals
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cd").asc, col("cell_id").asc)
    val probed = qa.crossJoin(ccArr)
      .select(col("query_id"), col("cell_id"), sqDistQ("xa", "ca").as("cd"))
      .withColumn("_rn", row_number().over(wProbe))
      .filter(col("_rn") <= nProbe)
      .select(col("query_id"), col("cell_id"))
    // query residual per probed cell (the stored residuals' +2^21
    // frame), with its exact squared norm — the ‖q_r‖² term
    val qr = probed.join(qa, Seq("query_id"))
      .join(ccArr, Seq("cell_id"))
      .select(col("query_id"), col("cell_id"),
        expr(s"zip_with(xa, ca, (x, c) -> x - c + ${shiftR}L)").as("ra"))
      .withColumn("qn", normQ("ra"))
    // per-(query, cell, stage, code) dot LUT: Σ_s k_s rows per probed
    // cell — linear in stage count where the combined table was
    // multiplicative
    val lut = qr.crossJoin(broadcast(centArraysLocal(cadj, "s", "code")))
      .select(col("query_id"), col("cell_id"), col("s"), col("code"),
        col("qn"), dotQ("ra", "ca").as("dot"))
    // candidate scan: stage rows of probed cells join the broadcast
    // LUT, one SUM collapses each candidate to its exact distance
    val scored = codesLong.join(broadcast(lut), Seq("cell_id", "s", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg((min(col("qn")) - lit(2L) * sum(col("dot"))).as("_qd"))
      .join(rnorm, Seq("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (col("_qd") + col("rnorm")).as("adist"))
    topKAsc(scored, k, "adist")
  }

  /** The training block of `ivfRqTopKMulti`: coarse fixed-point
    * k-means, then ks.length additive stages chained on successive
    * residuals (stage s in the +2^(20+s) frame, seeds salted
    * 'r'·s). Returns:
    *  - codesLong (vec_id, cell_id, s, code) — the index, one row per
    *    vector per stage;
    *  - rnorm (vec_id, rnorm) — ‖Σ_s c_s_adj[code_s]‖², the exact
    *    squared norm of the vector's reconstructed residual in the
    *    stage-1 frame;
    *  - cc — coarse centroids (cell_id, d, c per-dim rows);
    *  - cadj — per-stage codebooks SHIFT-ADJUSTED into the stage-1
    *    +2^21 frame ((s, code, d, c): stage 1 as trained, stage s ≥ 2
    *    minus its 2^(20+s) frame shift), the form both the LUT dots
    *    and rnorm read. */
  private def ivfRqTrainMulti(e: DataFrame, nCells: Int, ks: Seq[Int],
                              iters: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val shift = 1048576L   // 2^20
    val v = e.select(col("vec_id"), col("q"))
    // LAZY: the first full-scan consumer (the seed-vector collect, or
    // fpStage's seed collect past the cap) materializes the blocks
    val va = v.select(col("vec_id"),
        expr(s"transform(q, x -> x + ${shift}L)").as("xa"))
      .localCheckpoint(eager = false)
    // every stage's seeds (coarse "", residual "r"·s) in ONE bounded
    // top-k pass, checkpointed once — the L+1 per-stage corpus
    // order-by subtrees this replaces sat on the sequential critical
    // path of the r18 cold training (VERDICT r18 task 2)
    val salts = "" +: ks.indices.map(i => "r" * (i + 1))
    // r20: the seed table is LOCAL (|salts|·maxK id rows) — every
    // stage's seed broadcast builds from a LocalRelation with no job
    val allSeeds = localFrame(seedTable(v, salts, math.max(nCells, ks.max)))
    def seedsFor(salt: String, k: Int, codeName: String): DataFrame =
      allSeeds.filter(col("salt") === salt && col("code") < k)
        .withColumnRenamed("code", codeName)
    def seedIdsFor(salt: String, k: Int): Seq[(Long, Int)] =
      allSeeds.filter(col("salt") === salt && col("code") < k)
        .select(col("vec_id"), col("code")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq
    // Residual-chain seed REPLAY (r20, second pass): every stage's
    // seed VECTORS are that stage's residuals at ≤k seed ids — values
    // the driver can carry through the chain itself, because in the
    // literal path it already holds each stage's centroids and the
    // assignment/residual algebra is exact Long arithmetic
    // (argminLocal/residualLocal == the codegen'd
    // least(struct(sqdist_i64))/zip_with, spec-pinned). ONE collect
    // fetches the shifted vectors at the union of all stages' seed
    // ids; each per-stage seed-collect job is gone. Past the literal
    // cap (auto-scaled cell counts at cluster corpus sizes) fpStage's
    // own collect/join spelling engages unchanged.
    val replay = nCells <= litCentCap && ks.max <= litCentCap
    val stageIds: Seq[Seq[(Long, Int)]] =
      if (replay) ks.zipWithIndex.map { case (kS, i) => seedIdsFor("r" * (i + 1), kS) }
      else Nil
    var tracked: Map[Long, Seq[Long]] =
      if (replay) {
        val coarseIds = seedIdsFor("", nCells).map(_._1)
        val allIds = (coarseIds ++ stageIds.flatten.map(_._1)).distinct
        if (allIds.isEmpty) Map.empty
        else va.filter(col("vec_id").isin(allIds: _*))
          .select(col("vec_id"), col("xa")).collect()
          .map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
      } else Map.empty
    def stageSeedVecs(ids: Seq[(Long, Int)]): Option[Seq[(Int, Seq[Long])]] =
      if (!replay) None
      else Some(ids.map { case (id, code) => (code, tracked(id)) }.sortBy(_._1))
    val coarseVecs =
      if (replay)
        Some(seedIdsFor("", nCells).map { case (id, code) => (code, tracked(id)) }
          .sortBy(_._1))
      else None
    val (caL, cc) = fpStage(seedsFor("", nCells, "cell_id"), va, "cell_id",
      nCells, iters, seedVecs = coarseVecs)
    if (replay && tracked.nonEmpty) {
      val cents0 = centsLocalOf(cc, "cell_id")
      tracked = tracked.map { case (id, xa) =>
        (id, residualLocal(cents0, xa, shift * 2)) }
    }
    // Residual chain: each stage's lazy assignment (carrying cell_id,
    // the stage's OWN code, xa) rides a LAZY localCheckpoint — the
    // next stage's update job materializes it (no per-stage eager
    // checkpoint job), and the code table below reads codes back off
    // these frames instead of re-running per-stage assignment jobs.
    var res = caL.join(broadcast(centArraysLocal(cc, "cell_id")), Seq("cell_id"))
      .select(col("vec_id"), col("cell_id"),
        expr(s"zip_with(xa, ca, (x, c) -> x - c + ${shift * 2}L)").as("xa"))
      .localCheckpoint(eager = false)
    val stages = ks.zipWithIndex.map { case (kS, i) =>
      val s = i + 1
      val (aS, cS) = fpStage(seedsFor("r" * s, kS, "code"),
        res.select(col("vec_id"), col("cell_id"), col("xa")), "code", kS,
        iters, passCols = Seq("cell_id"),
        seedVecs = if (replay) stageSeedVecs(stageIds(i)) else None)
      val codeRows =
        if (s < ks.length) {
          val frameShift = shift * (1L << (s + 1)) // next frame: +2^(21+s)
          if (replay && tracked.nonEmpty) {
            val centsS = centsLocalOf(cS, "code")
            tracked = tracked.map { case (id, xa) =>
              (id, residualLocal(centsS, xa, frameShift)) }
          }
          res = aS.join(broadcast(centArraysLocal(cS, "code")), Seq("code"))
            .select(col("vec_id"), col("cell_id"), col("code"),
              expr(s"zip_with(xa, ca, (x, c) -> x - c + ${frameShift}L)").as("xa"))
            .localCheckpoint(eager = false)
          res.select(col("vec_id"), col("cell_id"), lit(s).as("s"), col("code"))
        } else
          aS.select(col("vec_id"), col("cell_id"), lit(s).as("s"), col("code"))
      (s, codeRows, cS)
    }
    // r20: LOCAL (Σ k_s · dims rows) — the search LUT and rnorm
    // broadcasts of cadj (and its array form) stop running jobs
    val cadj = localFrame(stages.map { case (s, _, cS) =>
      val frameShift = if (s == 1) 0L else shift * (1L << s) // 2^(20+s)
      cS.select(lit(s).as("s"), col("code"), col("d"),
        (col("c") - frameShift).as("c"))
    }.reduce(_.unionByName(_)))
    val codesLong = stages.map(_._2).reduce(_.unionByName(_))
      .select(col("vec_id"), col("cell_id"), col("s"), col("code"))
      .localCheckpoint()
    // rnorm: reconstruct each vector's residual (sum the adjusted
    // per-dim codebook rows its codes select), then its exact norm
    val rnorm = codesLong.join(broadcast(cadj), Seq("s", "code"))
      .groupBy(col("vec_id"), col("d"))
      .agg(sum(col("c")).as("rc"))
      .groupBy(col("vec_id"))
      .agg(sum(col("rc") * col("rc")).as("rnorm"))
      .localCheckpoint()
    (codesLong, rnorm, cc, cadj)
  }

  /** L-stage IVF-RQ + exact re-rank: the probed LUT-ADC pool refined
    * by exact quantized cosine (rides `ivfRqTopKMulti`'s memoized
    * training). */
  def ivfRqTopKMultiRerank(embeddings: DataFrame, queryPred: Column,
                           k: Int, nCells: Int, nProbe: Int,
                           ks: Seq[Int], iters: Int, pool: Int): DataFrame = {
    require(pool >= k, s"rerank pool $pool must be >= k=$k")
    val e = ensureQuantized(embeddings)
    exactRerank(e, queryPred,
      ivfRqTopKMulti(e, queryPred, pool, nCells, nProbe, ks, iters), k)
  }

  /** IVFADC — the canonical billion-scale serving index (FAISS's
    * IVFPQ; Jégou/Douze/Schmid, "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011 §V): a COARSE quantizer of `nCells`
    * centroids partitions the corpus into inverted lists, and a PQ
    * codebook is trained on the RESIDUALS to each vector's coarse
    * centroid (residuals concentrate near zero, so the same ksub codes
    * quantize them far better than raw vectors — the reason IVFADC
    * beats flat PQ at equal bits). A query probes its `nProbe` nearest
    * cells and ADC-scores ONLY those cells' codes: search cost drops by
    * ~nCells/nProbe on top of PQ's ~100× compression.
    *
    * Both trainings run the certified fixed-point discipline
    * (+2^20-shifted dims; residuals re-shifted +2^21; integer
    * `sum div count` centroids; exact int64 squared L2; md5-ordered
    * seeds — coarse by md5(vec_id), PQ by md5(vec_id || 'p');
    * lexicographic argmin ties), so DuckDB replays the whole index
    * build and search bit-exactly (`q_ivfpq_auto`).
    *
    * Scale shape: centroids and codebooks stay dictionary-sized,
    * localCheckpointed and BROADCAST into every assignment join — the
    * corpus never shuffles for training; the search side scans only
    * the codes table (vec, cell, m small ints — the compressed index),
    * joins the broadcast per-(query, probed-cell) ADC table map-side,
    * and collapses to one row per (query, candidate) before the single
    * exchange; the per-query top-k window runs over id-sized rows. */
  def ivfpqTopK(embeddings: DataFrame, queryPred: Column, k: Int,
                nCells: Int, nProbe: Int, m: Int, ksub: Int,
                iters: Int, candPred: Option[Column] = None,
                lutBudget: Long = defaultLutEntries): DataFrame = {
    require(iters >= 1, s"ivfpqTopK needs at least one iteration, got $iters")
    require(nProbe >= 1 && nProbe <= nCells, s"bad nProbe=$nProbe of $nCells cells")
    val shift = 1048576L   // 2^20 (see kmeansFixedPoint)
    val shift2 = 2097152L  // 2^21: residuals in [-2^21, 2^21] re-shift non-negative
    val e = ensureQuantized(embeddings)
    // Memoized per (quantized input plan, nCells, m, ksub, iters) —
    // the trained IVFADC index (codes + coarse centroids + residual
    // codebooks) is shared by the topk / rerank siblings; see pqTrain.
    val (codes, cc, pc, subDim) =
      IndexMemo.of[(DataFrame, DataFrame, DataFrame, Int)](
        "ivfpq_train", e, (nCells, m, ksub, iters))(
        ivfpqTrainCompute(e, nCells, m, ksub, iters))
    // --- search ---
    // consumed per chunk (cell ranking + residuals); memoized per
    // query-set plan so repeat serves over the same query set skip the
    // materialization job (r19 — query-side, so bounded by |Q|·dims
    // rows)
    val qd = IndexMemo("ivfpq_qd", e.filter(queryPred), ()) {
      e.filter(queryPred)
        .select(col("vec_id").as("query_id"), posexplode(col("q")).as(Seq("d", "qx")))
        .select(col("query_id"), col("d"), (col("qx") + shift).as("x"))
        .localCheckpoint()
    }
    // the inverted code index in array form (vec, cell, carr) —
    // memoized per codes plan like the row form it derives from
    val codesArr = IndexMemo("ivfpq_codes_arr", codes, ()) {
      codes.groupBy(col("vec_id"), col("cell_id"))
        .agg(expr("transform(array_sort(collect_list(struct(s, code))), p -> p.code)")
          .as("carr"))
        .localCheckpoint()
    }
    // Filtered search: the predicate restricts the CODE INDEX SCAN
    // via a semi join on the filtered corpus ids BEFORE the ADC join —
    // the trained index is untouched (candPred is a search-time
    // argument, not a training one), and the k survivors are the true
    // ADC top-k among matching rows, never a post-filtered slice.
    val searchCodes = candPred.fold(codesArr)(p =>
      codesArr.join(e.filter(p).select(col("vec_id")), Seq("vec_id"), "left_semi"))
    // LUT broadcast budget (see pqSearchIndex / defaultLutEntries):
    // here the dense table is PER (query, probed cell) —
    // |Q|·nProbe·m·ksub entries — so large query sets chunk by a
    // deterministic id hash with a hard per-chunk cap (see
    // hashChunkCount) and each chunk re-reads the checkpointed qd +
    // code index (cheap) while every broadcast stays <= the budget.
    // Chunks partition the queries, so the union is the exact
    // unchunked result.
    val qChunkRows = math.max(1L,
      lutBudget / (m.toLong * ksub) / math.max(1, nProbe))
    // id frame built BEFORE the per-dim explode (vec_id is unique, so
    // no distinct over the exploded rows); sizing memoized per
    // (ids plan, cap) — zero sizing jobs on a repeat serve
    val nChunks = memoChunkCount(
      e.filter(queryPred).select(col("vec_id").as("query_id")),
      "query_id", qChunkRows)
    def searchChunk(qdc: DataFrame): DataFrame = {
      val wProbe = Window.partitionBy(col("query_id"))
        .orderBy(col("cd").asc, col("cell_id").asc)
      val probed = qdc.join(broadcast(cc), Seq("d"))
        .groupBy(col("query_id"), col("cell_id"))
        .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("cd"))
        .withColumn("_rn", row_number().over(wProbe))
        .filter(col("_rn") <= nProbe)
        .select(col("query_id"), col("cell_id"))
      val qrd = probed.join(qdc, Seq("query_id"))
        .join(broadcast(cc.withColumnRenamed("c", "_cc")), Seq("cell_id", "d"))
        .select(col("query_id"), col("cell_id"),
          expr(s"d div $subDim").cast("int").as("s"),
          col("d"), (col("x") - col("_cc") + shift2).as("rqx"))
      val adc = qrd.join(broadcast(pc), Seq("s", "d"))
        .groupBy(col("query_id"), col("cell_id"), col("s"), col("code"))
        .agg(sum((col("rqx") - col("c")) * (col("rqx") - col("c"))).as("pd"))
      // DENSE per-(query, probed-cell) distance table — the LUT-gather
      // ADC scan (see pqSearchIndex): joins the cell-restricted code
      // index on cell_id only, one codegen'd gather per (query, cand)
      // row instead of an m-entry hash aggregate per pair.
      val lut = adc
        .groupBy(col("query_id"), col("cell_id"))
        .agg(expr(s"map_from_entries(collect_list(" +
          s"struct(s * $ksub + code AS k, pd AS v)))").as("mp"))
        .select(col("query_id"), col("cell_id"),
          expr(s"transform(sequence(0, ${m * ksub - 1}), " +
            "i -> coalesce(element_at(mp, i), CAST(0 AS BIGINT)))").as("lut"))
      // corrupt-code NULLs drop instead of ranking first (see
      // pqSearchIndex)
      topKAsc(searchCodes.join(broadcast(lut), Seq("cell_id"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          graft.plans.AdcGatherI64.adc_gather_i64(col("carr"), col("lut"), ksub)
            .as("adist"))
        .filter(col("adist").isNotNull),
        k, "adist")
    }
    if (nChunks <= 1) searchChunk(qd)
    else (0 until nChunks)
      .map(i => searchChunk(
        qd.filter(pmod(xxhash64(col("query_id")), lit(nChunks.toLong)) === i)))
      .reduce(_.unionByName(_))
  }

  /** The training block of `ivfpqTopK`: coarse fixed-point k-means,
    * residuals, PQ codebooks on the residuals, and the final code
    * index. Returns (codes, coarse centroids, PQ codebooks, subDim),
    * every frame checkpointed. */
  private def ivfpqTrainCompute(e: DataFrame, nCells: Int, m: Int, ksub: Int,
                                iters: Int): (DataFrame, DataFrame, DataFrame, Int) = {
    val shift = 1048576L   // 2^20 (see kmeansFixedPoint)
    val shift2 = 2097152L  // 2^21: residuals in [-2^21, 2^21] re-shift non-negative
    val v = e.select(col("vec_id"), col("q"))
    val dims = v.select(size(col("q"))).head().getInt(0)
    require(dims % m == 0, s"$dims dims not divisible into $m subspaces")
    val subDim = dims / m
    // full vectors as +2^20-shifted arrays; per-dim rows for
    // seeds/updates explode off the one materialization. LAZY: the
    // first full-scan consumer (the seed-vector collect, or the join
    // spelling's own collect past the cap) materializes the blocks.
    val va = v.select(col("vec_id"),
        expr(s"transform(q, x -> x + ${shift}L)").as("xa"))
      .localCheckpoint(eager = false)
    // both seed sets (coarse md5(id), PQ md5(id || 'p')) in one
    // bounded top-k pass — bit-identical picks to the r18
    // TakeOrdered + window subtrees (see seedTable); LOCAL (r20), so
    // both seed fetches broadcast a LocalRelation slice with no job
    val seeds = localFrame(seedTable(v, Seq("", "p"), math.max(nCells, ksub)))
    // coarse quantizer: full-vector fixed-point k-means. r20: same
    // literal-centroid (map-only) spelling as fpStage below the
    // litCentCap — centroids live driver-side between iterations, the
    // assignment is a projection-only argmin, and the per-iteration
    // corpus exchange (groupBy(vec_id) carrying xa) is gone. Above
    // the cap (or on an empty corpus) the r19 broadcast-join spelling
    // stays; both are bit-identical (see fpStage / litCentCap).
    // collect gated on nCells (see fpStage): past the cap the join
    // spelling must engage without first pulling k·dims rows.
    // r20 second pass (the ivfRqTrainMulti replay): ONE collect
    // fetches BOTH seed sets' vectors — the PQ codebook seeds (salt
    // 'p') are residual subvectors the driver replays from these rows
    // and the final coarse centroids (exact Long algebra, see
    // argminLocal/residualLocal), so the rs-scan seed collect below
    // is gone.
    def seedIdsOf(salt: String, kMax: Int): Seq[(Long, Int)] =
      seeds.filter(col("salt") === salt && col("code") < kMax)
        .select(col("vec_id"), col("code")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq
    val (seedIdsC, seedIdsP) =
      if (nCells > litCentCap) (Nil, Nil)
      else (seedIdsOf("", nCells), seedIdsOf("p", ksub))
    val tracked: Map[Long, Seq[Long]] =
      if (nCells > litCentCap || (seedIdsC ++ seedIdsP).isEmpty) Map.empty
      else va.filter(col("vec_id")
          .isin((seedIdsC ++ seedIdsP).map(_._1).distinct: _*))
        .select(col("vec_id"), col("xa")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    val seedCentsC: Seq[(Int, Seq[Long])] =
      seedIdsC.map { case (id, code) => (code, tracked(id)) }.sortBy(_._1)
    val (cc, rs) = if (seedCentsC.nonEmpty && nCells <= litCentCap) {
      def argminC(cents: Seq[(Int, Seq[Long])]): Column = {
        val cand = cents.map { case (cell, ca) =>
          struct(
            graft.plans.SqDistI64.sqdist_i64(col("xa"), typedLit(ca)).as("_dist"),
            lit(cell).as("cell_id"))
        }
        if (cand.size == 1) cand.head else least(cand: _*)
      }
      var centsC = seedCentsC
      (1 to iters).foreach { _ =>
        centsC = va.withColumn("_m", argminC(centsC))
          .select(col("_m.cell_id").as("cell_id"),
            posexplode(col("xa")).as(Seq("d", "x")))
          .groupBy(col("cell_id"), col("d"))
          .agg(expr("sum(x) div count(1)").as("c"))
          .collect()
          .groupBy(_.getInt(0)).toSeq
          .map { case (cell, rws) =>
            (cell, rws.map(r => (r.getInt(1), r.getLong(2)))
              .sortBy(_._1).map(_._2).toSeq) }
          .sortBy(_._1)
      }
      // per-dim + array forms as LocalRelations (search broadcasts
      // build with no job); residual checkpoint materializes the ONE
      // corpus pass: map-only argmin + 0-job broadcast residual join
      val ccL = {
        import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
        val rows = centsC.flatMap { case (cell, ca) =>
          ca.zipWithIndex.map { case (c, d) =>
            org.apache.spark.sql.Row(cell, d, c) } }
        va.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
          StructType(Seq(StructField("cell_id", IntegerType, nullable = false),
            StructField("d", IntegerType, nullable = false),
            StructField("c", LongType, nullable = false))))
      }
      val rsL = va.withColumn("_m", argminC(centsC))
        .select(col("vec_id"), col("_m.cell_id").as("cell_id"), col("xa"))
        .join(broadcast(centArraysLocal(ccL, "cell_id")), Seq("cell_id"))
        .select(col("vec_id"), col("cell_id"),
          expr(s"zip_with(xa, ca, (x, c) -> x - c + ${shift2}L)").as("ra"))
        .select(col("vec_id"), col("cell_id"), posexplode(expr(
          s"transform(sequence(0, ${m - 1}), s -> slice(ra, s * $subDim + 1, $subDim))"))
          .as(Seq("s", "sa")))
        .localCheckpoint(eager = false) // first assignP update job materializes
      (ccL, rsL)
    } else {
      // r19 spelling: array-form assignment — n·nCells codegen'd
      // sqdists; seed centroids ride a nCells-row broadcast join, the
      // update rides the assignment aggregate (xa through the argmin)
      val seedArrC = va.join(broadcast(
          seeds.filter(col("salt") === "" && col("code") < nCells)
            .select(col("vec_id"), col("code").as("cell_id"))), Seq("vec_id"))
        .select(col("cell_id"), col("xa").as("ca"))
      def assignC(cArr: DataFrame): DataFrame =
        va.crossJoin(broadcast(cArr))
          .select(col("vec_id"), col("cell_id"),
            sqDistQ("xa", "ca").as("_dist"), col("xa"))
          .groupBy(col("vec_id"))
          .agg(min(struct(col("_dist"), col("cell_id"), col("xa"))).as("_m"))
          .select(col("vec_id"), col("_m.cell_id").as("cell_id"),
            col("_m.xa").as("xa"))
      var ccV: DataFrame = null
      var ccArr = seedArrC
      (1 to iters).foreach { _ =>
        ccV = assignC(ccArr)
          .select(col("cell_id"), posexplode(col("xa")).as(Seq("d", "x")))
          .groupBy(col("cell_id"), col("d"))
          .agg(expr("sum(x) div count(1)").as("c"))
          .localCheckpoint()
        ccArr = centArrays(ccV, "cell_id")
      }
      // residual SUBVECTOR arrays to the assigned coarse centroid —
      // the LAZY final coarse assignment (carrying xa) materializes
      // inside this checkpoint, and the frame keeps cell_id so the
      // code table below needs no assignment join
      val rsV = assignC(ccArr)
        .join(broadcast(ccArr), Seq("cell_id"))
        .select(col("vec_id"), col("cell_id"),
          expr(s"zip_with(xa, ca, (x, c) -> x - c + ${shift2}L)").as("ra"))
        .select(col("vec_id"), col("cell_id"), posexplode(expr(
          s"transform(sequence(0, ${m - 1}), s -> slice(ra, s * $subDim + 1, $subDim))"))
          .as(Seq("s", "sa")))
        .localCheckpoint()
      (ccV, rsV)
    }
    // PQ codebooks on the residuals (jointly across subspaces); same
    // fused-update shape as pqTrainCompute, cell_id carried through.
    // r20 (pqTrainCompute's treatment): seed codebooks and the
    // per-iteration centroid updates land driver-side (ksub·m rows),
    // so every assignP broadcast builds from a LocalRelation jobless.
    // r20 second pass: in the literal path the PQ seed SUBVECTORS are
    // replayed driver-side from the one up-front collect (residual =
    // xa − cc[argmin] + 2^21, sliced into m subspaces — the exact
    // cluster algebra), so the rs-scan collect job is gone; past the
    // cap the collect spelling engages unchanged.
    val seedArrP =
      if (tracked.nonEmpty && seedCentsC.nonEmpty && nCells <= litCentCap) {
        import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}
        val centsC = centsLocalOf(cc, "cell_id")
        val rows = seedIdsP.flatMap { case (id, code) =>
          val ra = residualLocal(centsC, tracked(id), shift2)
          (0 until m).map(sIdx => org.apache.spark.sql.Row(
            sIdx, code, ra.slice(sIdx * subDim, (sIdx + 1) * subDim)))
        }
        v.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*),
          StructType(Seq(
            StructField("s", IntegerType, nullable = false),
            StructField("code", IntegerType, nullable = false),
            StructField("ca", ArrayType(LongType, containsNull = false),
              nullable = false))))
      } else localFrame(rs.join(broadcast(
          seeds.filter(col("salt") === "p" && col("code") < ksub)
            .select(col("vec_id"), col("code"))), Seq("vec_id"))
        .select(col("s"), col("code"), col("sa").as("ca")))
    def assignP(cArr: DataFrame): DataFrame =
      rs.join(broadcast(cArr), Seq("s"))
        .select(col("vec_id"), col("s"), col("cell_id"), col("code"),
          sqDistQ("sa", "ca").as("_dist"), col("sa"))
        .groupBy(col("vec_id"), col("s"))
        .agg(min(struct(col("_dist"), col("code"), col("cell_id"), col("sa"))).as("_m"))
        .select(col("vec_id"), col("s"), col("_m.code").as("code"),
          col("_m.cell_id").as("cell_id"), col("_m.sa").as("sa"))
    var pc: DataFrame = null
    var pcArr = seedArrP
    (1 to iters).foreach { _ =>
      pc = localFrame(assignP(pcArr)
        .select(col("s"), col("code"), posexplode(col("sa")).as(Seq("ds", "rx")))
        .select(col("s"), col("code"),
          (col("s") * lit(subDim) + col("ds")).as("d"), col("rx"))
        .groupBy(col("s"), col("code"), col("d"))
        .agg(expr("sum(rx) div count(1)").as("c")))
      pcArr = centArraysLocal(pc, "s", "code")
    }
    // the inverted index: (vec, s, code, cell) — all the search scans;
    // the final PQ assignment (lazy, carrying cell_id) materializes here
    val codes = assignP(pcArr)
      .select(col("vec_id"), col("s"), col("code"), col("cell_id"))
      .localCheckpoint()
    (codes, cc, pc, subDim)
  }

  /** Shared refine stage: exact quantized cosine over an approximate
    * method's (query_id, neighbor_id) candidate pool. The pool ids are
    * checkpointed (one materialization of the proposer's plan), pool
    * VECTORS arrive by broadcast semi-join — the corpus never shuffles
    * for the re-rank — and the final top-k is a per-query window over
    * pool-sized groups. */
  private def exactRerank(e: DataFrame, queryPred: Column,
                          candidates: DataFrame, k: Int): DataFrame = {
    val cand = candidates
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint()
    val ids = cand.select(col("neighbor_id").as("vec_id")).distinct()
    val vecs = e.join(broadcast(ids), Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("neighbor_id"), col("q").as("cv"), col("nq").as("cn"))
    val q = e.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("q").as("qv"), col("nq").as("qn"))
    topKDesc(cand.join(broadcast(vecs), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine",
        dotQ("qv", "cv").cast("double") /
          sqrt(col("qn").cast("double") * col("cn").cast("double"))),
      k, "cosine")
  }

  /** IVF (inverted-file) ANN: a coarse quantizer of `nCells` centroid
    * vectors partitions the space; each vector is assigned to its
    * nearest centroid cell, queries probe the `nProbe` nearest cells
    * and run exact cosine inside them. At 100 TB the cell assignment is
    * one broadcast-join pass and search cost drops by ~nCells/nProbe.
    * `trainIters` = 0 uses raw corpus seeds as centroids; > 0 runs
    * Lloyd's k-means first. Returns (query_id, rnk, neighbor_id,
    * cosine). */
  def ivfTopK(embeddings: DataFrame, queryPred: Column, k: Int,
              nCells: Int, nProbe: Int, trainIters: Int = 0): DataFrame = {
    val e = ensureQuantized(embeddings)
    val centroids =
      if (trainIters == 0)
        e.orderBy(col("vec_id").asc).limit(nCells)
          .select(col("vec_id").as("cell_id"), col("q").as("cv"), col("nq").as("cn"))
      else
        kmeansCentroids(embeddings, nCells, trainIters)
          .withColumn("cv", quantize("c"))
          .withColumn("cn", expr(
            "aggregate(cv, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"))
          .select(col("cell_id"), col("cv"), col("cn"))
    def nearestCells(vecs: DataFrame, n: Int): DataFrame = {
      val sims = vecs.crossJoin(broadcast(centroids))
        .withColumn("_sim",
          dotQ("q", "cv").cast("double") /
            sqrt(col("nq").cast("double") * col("cn").cast("double")))
      if (n == 1)
        // Assignment (the full-corpus pass) is a groupBy-argmax: a
        // partial-aggregating hash agg over the ×nCells expansion — no
        // row_number window, so the nCells×corpus rows never shuffle
        // or sort. Tie-break = highest sim, then lowest cell_id
        // (maximize (_sim, -cell_id), matching the window ordering).
        sims.groupBy(col("vec_id"))
          .agg(max_by(col("cell_id"),
            struct(col("_sim"), (-col("cell_id")).as("_nc"))).as("cell_id"))
      else {
        // Probe side (queries only — tiny) keeps the top-n window.
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("_sim").desc, col("cell_id").asc)
        sims.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") <= n)
          .select(col("vec_id"), col("cell_id"))
      }
    }
    val assigned = e.join(nearestCells(e, 1), Seq("vec_id"))
      .select(col("cell_id"), col("vec_id").as("neighbor_id"),
        col("q").as("nv"), col("nq").as("nn"))
    val probes = e.filter(queryPred).join(nearestCells(e.filter(queryPred), nProbe), Seq("vec_id"))
      .select(col("cell_id"), col("vec_id").as("query_id"),
        col("q").as("qv"), col("nq").as("qn"))
    // Slim-row dedup (see lshTopKMulti): score on the collision row,
    // ship only (query_id, neighbor_id, cosine) through the exchange.
    topKDesc(probes.join(assigned, Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        dotQ("qv", "nv").cast("double") /
          sqrt(col("qn").cast("double") * col("nn").cast("double")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .dropDuplicates("query_id", "neighbor_id"),
      k, "cosine")
  }

  /** MMR-diversified re-ranking — the RAG retrieval tail: greedy
    * Maximal Marginal Relevance over each query's brute-force top-`poolK`
    * candidate pool, λ = 1/2, so the per-step objective is (up to the
    * positive ×2 scale) `rel(c) − max_{s∈S} sim(c, s)` — one IEEE
    * subtraction of two portable cosines (each cosine is int64-dot /
    * sqrt(int64·int64): identical operands → identical bits in both
    * engines; max over a set of doubles is order-free). Pick 1 is pure
    * relevance; ties break on the lowest neighbor id. The corpus is
    * scanned ONCE (pool construction, the same broadcast-query plan as
    * `bruteForceTopK`); the pairwise-sim frame and each of the `outK`
    * greedy rounds run over checkpointed query×poolK(²)-bounded frames
    * — iteration cost scales with the QUERY set, never the corpus. */
  def mmrRerank(embeddings: DataFrame, queryPred: Column, poolK: Int,
                outK: Int): DataFrame = {
    val e = ensureQuantized(embeddings)
    val q = e.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("q").as("qv"), col("nq").as("qn"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("q").as("cv"), col("nq").as("cn"))
    val wRel = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("neighbor_id").asc)
    val pool = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("rel",
        dotQ("qv", "cv").cast("double") /
          sqrt(col("qn").cast("double") * col("cn").cast("double")))
      .withColumn("_rk", row_number().over(wRel))
      .filter(col("_rk") <= poolK)
      .select(col("query_id"), col("neighbor_id"), col("rel"),
        col("cv"), col("cn"))
      .localCheckpoint()
    val sims = pool.as("x").join(pool.as("y"),
        col("x.query_id") === col("y.query_id") &&
          col("x.neighbor_id") =!= col("y.neighbor_id"))
      .select(col("x.query_id").as("query_id"),
        col("x.neighbor_id").as("a"), col("y.neighbor_id").as("b"),
        (graft.plans.DotI64.dot_i64(col("x.cv"), col("y.cv")).cast("double") /
          sqrt(col("x.cn").cast("double") * col("y.cn").cast("double"))).as("sim"))
      .localCheckpoint()
    val cand = pool.select(col("query_id"), col("neighbor_id"), col("rel"))
    val wPick = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    var sel = cand.withColumn("score", col("rel"))
      .withColumn("_rk", row_number().over(wPick))
      .filter(col("_rk") === 1)
      .select(col("query_id"), lit(1L).as("pos"), col("neighbor_id"),
        col("score").as("mmr_score"))
      .localCheckpoint()
    for (k <- 2 to outK) {
      val selB = sel.select(col("query_id"), col("neighbor_id").as("b"))
      val pick = sims.join(selB, Seq("query_id", "b"))
        .groupBy(col("query_id"), col("a"))
        .agg(max(col("sim")).as("maxsim"))
        .join(cand.select(col("query_id"), col("neighbor_id").as("a"),
          col("rel")), Seq("query_id", "a"))
        .join(selB.withColumnRenamed("b", "a"), Seq("query_id", "a"),
          "left_anti")
        .withColumn("score", col("rel") - col("maxsim"))
        .withColumn("neighbor_id", col("a"))
        .withColumn("_rk", row_number().over(wPick))
        .filter(col("_rk") === 1)
        .select(col("query_id"), lit(k.toLong).as("pos"),
          col("neighbor_id"), col("score").as("mmr_score"))
      sel = sel.union(pick).localCheckpoint()
    }
    sel
  }

  /** The frontier's derived-parameter environment for a corpus:
    * `AnnPolicy.env` over the corpus size and the query count. */
  def annPolicyEnv(embeddings: DataFrame, queryPred: Column): Map[String, Long] = {
    // Memoized per (corpus plan, predicate SQL) — r19, VERDICT r18
    // task 4: every annServe call paid TWO count() jobs before
    // dispatch for integers that change only on ingest; at a serving
    // cadence that is two cluster jobs per request. Rides IndexMemo
    // like the trained indexes (collected Longs, fully materialized).
    IndexMemo.of[Map[String, Long]]("ann_policy_env", embeddings,
      org.apache.spark.sql.GraftSqlBridge.expression(queryPred).sql) {
      AnnPolicy.env(embeddings.count(), embeddings.filter(queryPred).count())
    }
  }

  /** Policy-dispatching serve (r18, VERDICT #6): the executable form of
    * `q_ann_frontier`'s policy read — `AnnPolicy.choose` picks the
    * cheapest rung whose CERTIFIED recall ≥ `recallFloorMilli` over the
    * corpus's COUNT(*)-derived parameters, and the rung's own serve
    * function runs at its AnnPolicy operating point. Returns (method,
    * cost_units, floor_milli, query_id, rnk, neighbor_id) —
    * method-independent schema, so a re-point or a different winner at
    * a different corpus size is a VALUE change the oracle replays, not
    * a schema break. */
  def annServe(embeddings: DataFrame, queryPred: Column, k: Int,
               recallFloorMilli: Long): DataFrame = {
    val env = annPolicyEnv(embeddings, queryPred)
    val chosen = AnnPolicy.choose(env, recallFloorMilli)
    chosen.serve(embeddings, queryPred, k, env)
      .select(lit(chosen.method).as("method"),
        lit(chosen.cost.eval(env)).as("cost_units"),
        lit(chosen.floorMilli).as("floor_milli"),
        col("query_id"), col("rnk"), col("neighbor_id"))
  }

  /** Measured ANN recall: joins each approximate method's top-k against
    * the brute-force top-k (the oracle-gated ground truth) and emits one
    * (method, n_hits, n_truth, recall) row per method. This turns the
    * rows-only ANN gate into a measured one: the driver sees the recall
    * number itself, and specs pin per-method floors. Deterministic — all
    * hash seeds are fixed, ties break on ids — so the rows are stable
    * across runs and partitionings. */
  def annRecall(embeddings: DataFrame, queryPred: Column, k: Int,
                bits: Int, tables: Int, nCells: Int, nProbe: Int): DataFrame =
    // Memoized per (query-set plan, params): TWO gated queries read the
    // harness (q_ann_recall's flags and q_ann_frontier's recall_ok),
    // and the per-method scoring aggregation is identical for both —
    // one run per session (r17; the trainings inside were already
    // memo-shared, this collapses the scoring pass too). Keyed on the
    // FILTERED plan, so each predicate gets its own entry.
    IndexMemo("ann_recall", embeddings.filter(queryPred),
      (k, bits, tables, nCells, nProbe)) {
      annRecallCompute(embeddings, queryPred, k, bits, tables, nCells,
        nProbe).localCheckpoint()
    }

  private def annRecallCompute(embeddings: DataFrame, queryPred: Column,
                               k: Int, bits: Int, tables: Int,
                               nCells: Int, nProbe: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // One QUANTIZED materialization of the embeddings feeds everything.
    val emb = quantized(embeddings).localCheckpoint()
    // The ground truth is the MEMOIZED brute-force pass (shared with
    // the gated q_ann_topk — one O(|Q|·N) corpus scan per session, and
    // its bounded TopK aggregate ships |Q|·k rows, never the scored
    // cross product). r14: the harness no longer materializes a
    // |Q|·N cosine store at all — truth membership is a broadcast
    // |Q|·k lookup, and each method's candidate cosines are computed
    // INLINE in the final aggregation job from the checkpointed
    // quantized vectors (identical integer dot + IEEE ops ⟹ identical
    // bits), so the old 10M-row checkpoint write and the
    // 10M×10M hits join are gone.
    // The independent training pipelines (ground truth, LSH bucketing,
    // the quantizer and graph trainings) fan out CONCURRENTLY: each is a
    // deterministic memoized index build whose cost at harness scale is
    // job-scheduling gaps, not data (2k vectors), and IndexMemo's
    // per-key compute locks exist precisely so distinct index builds
    // proceed in parallel while racing builds of the SAME index
    // serialize. Results are awaited before any use, so the emitted
    // rows are bit-identical to the sequential order's.
    // Failure discipline (r15 advice — was six Duration.Inf awaits on
    // a non-cancelable pool): every training body runs under one Spark
    // job group with interrupt-on-cancel; the FIRST failure cancels the
    // group (stopping the other five trainings' Spark jobs instead of
    // letting them run to completion), shutdownNow()s the pool, and
    // propagates immediately via a failure promise raced against the
    // combined result. A hung job can no longer hang the query forever:
    // the single await is bounded, and a timeout takes the same
    // cancel+shutdown path.
    // 16 threads: at least one per independent training pipeline —
    // r19: with fewer threads than pipelines the last trainings queued
    // behind the first wave even though every chain is
    // driver-latency-bound (tiny jobs), so extra concurrency is free
    // on any executor width; no change in results (each build is
    // deterministic and memo-locked).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    implicit val ec: scala.concurrent.ExecutionContextExecutorService =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    import scala.concurrent.{Await, Future, Promise}
    import scala.concurrent.duration.Duration
    val jobGroup = "graft-ann-recall"
    def training[T](body: => T): Future[T] = Future {
      // job groups are thread-local: tag inside the pool thread
      spark.sparkContext.setJobGroup(jobGroup,
        "annRecall concurrent index training", interruptOnCancel = true)
      body
    }
    val (truth, nTruth, buckets, sq8All, pqHiAll, ivfAutoAll, ivfRqAutoAll,
         knnAll, knnSearchAll) = try {
      val fTruth = training {
        val t = bruteForceTopKMemo(embeddings, queryPred, k)
          .select(col("query_id"), col("neighbor_id"), lit(true).as("is_truth"))
          .localCheckpoint()
        (t, t.count())
      }
      val fBuckets = training { lshBucketsMulti(embeddings, bits, tables) }
      val fSq8 = training { sq8TopK(embeddings, queryPred, 5 * k).localCheckpoint() }
      val fPqHi = training {
        pqTopK(embeddings, queryPred, 5 * k,
            m = AnnPolicy.pqHiM, ksub = AnnPolicy.pqHiKsub, iters = 1)
          .localCheckpoint()
      }
      // ivfpq_auto (r15): the corpus-sized IVFADC at q_ivfpq_auto's
      // served shape — memo-shares its training with the gated query
      val fIvfAuto = training {
        val c = autoIvfCells(embeddings.count())
        ivfpqTopK(embeddings, queryPred, 5 * k, nCells = c,
            nProbe = autoIvfProbe(c),
            m = AnnPolicy.ivfpqAutoM, ksub = AnnPolicy.ivfpqAutoKsub, iters = 1)
          .localCheckpoint()
      }
      // ivfrq_auto (r16, re-pointed r17): the probed residual
      // quantizer at q_ivfrq_auto's served shape (4 stages of 64
      // codes, LUT-form ADC, √c probing) — memo-shares its training
      // with the gated query like the other auto indexes
      val fIvfRqAuto = training {
        val c = autoIvfCells(embeddings.count())
        ivfRqTopKMulti(embeddings, queryPred, 5 * k, nCells = c,
            nProbe = autoIvfProbe(c), ks = AnnPolicy.ivfrqAutoKs, iters = 1)
          .localCheckpoint()
      }
      // knn_graph (r16): the NN-descent graph index at q_knn_graph's
      // served shape (k lists, 2 rounds) — already memo-checkpointed
      val fKnn = training { knnGraph(embeddings, k, 2) }
      // knn_graph_search (r16, auto-params r17): the beam-search
      // SERVING read at q_knn_graph_search's shape (COUNT(*)-derived
      // hops/beam) — rides fKnn's memoized graph
      val fKnnSearch = training {
        val n = embeddings.count()
        knnGraphSearch(embeddings, queryPred, k, kGraph = k, rounds = 2,
            hops = autoGraphHops(n), beam = autoGraphBeam(n))
          .localCheckpoint()
      }
      val all = Seq[Future[Any]](fTruth, fBuckets, fSq8, fPqHi, fIvfAuto,
        fIvfRqAuto, fKnn, fKnnSearch)
      val firstFailure = Promise[Seq[Any]]()
      // Complete the race promise BEFORE shutting the pool down —
      // listeners registered on a drained executor would be rejected
      // and the await would ride to its timeout instead of failing
      // fast. The race itself runs on the parasitic EC for the same
      // reason.
      all.foreach(_.failed.foreach { e =>
        firstFailure.tryFailure(e)
        spark.sparkContext.cancelJobGroup(jobGroup)
        pool.shutdownNow()
      }(scala.concurrent.ExecutionContext.parasitic))
      val res = Await.result(
        Future.firstCompletedOf(Seq(Future.sequence(all), firstFailure.future))(
          scala.concurrent.ExecutionContext.parasitic),
        Duration(30, "minutes"))
      val Seq(tn, b, s, ph, ia, irq, kg, kgs) = res.asInstanceOf[Seq[Any]]
      val (t, n) = tn.asInstanceOf[(DataFrame, Long)]
      (t, n, b.asInstanceOf[DataFrame], s.asInstanceOf[DataFrame],
        ph.asInstanceOf[DataFrame], ia.asInstanceOf[DataFrame],
        irq.asInstanceOf[DataFrame], kg.asInstanceOf[DataFrame],
        kgs.asInstanceOf[DataFrame])
    } catch { case e: Throwable =>
      spark.sparkContext.cancelJobGroup(jobGroup)
      pool.shutdownNow()
      throw e
    } finally pool.shutdown()
    val qIds = emb.filter(queryPred).select(col("vec_id"))
    // EVERY method pipeline below takes the RAW `embeddings` frame,
    // not the harness's quantized checkpoint: the trained-index memos
    // (lsh_buckets_multi, pq_train, ivfpq_train, ivfrq_train,
    // sq8_codes) key on the `ensureQuantized(input)` PLAN, and only the
    // raw frame plans `sameResult` with what the gated
    // q_lsh_topk_multi / q_pq_hi / q_ivfpq_auto / q_ivfrq_auto /
    // q_sq8_* queries pass — so the
    // whole suite trains each index ONCE (this harness runs first
    // alphabetically and the serving queries ride it warm). Feeding
    // `emb` would fork a second, unshared training of every index
    // (the r12 shape: duplicate Lloyd loops at richer params that no
    // serving query ran). The quantize subtree this re-runs inside
    // each method is one map-side projection — noise next to a
    // shared training.
    // One multi-table bucketing pass serves BOTH LSH methods: table 0
    // of lshBucketsMulti reads planeSign plane indices 0..bits-1 —
    // exactly lshBuckets(bits)'s planes — so the single-table method
    // is a filter, not a second projection pass.
    val t0 = buckets.filter(col("tbl") === 0).select(col("vec_id"), col("bucket"))
    // lsh: query bucket plus every Hamming-1 flip (lshTopK's probing).
    // Probe buckets are pairwise distinct and a candidate has exactly
    // one table-0 bucket, so pairs need no dedup.
    val lshPairs = qIds.join(t0, Seq("vec_id"))
      .select(col("vec_id").as("query_id"),
        explode(array((-1 +: (0 until bits).toSeq).map {
          case -1 => col("bucket")
          case j  => col("bucket").bitwiseXOR(lit(1L << j))
        }: _*)).as("bucket"))
      .join(t0.select(col("bucket"), col("vec_id").as("neighbor_id")), Seq("bucket"))
      .select(col("query_id"), col("neighbor_id"))
    // lsh_multi: share ANY table's bucket (lshTopKMulti's union), so a
    // pair can surface through several tables — dedup is required.
    val multiPairs = qIds.join(buckets, Seq("vec_id"))
      .select(col("vec_id").as("query_id"), col("tbl"), col("bucket"))
      .join(buckets.select(col("tbl"), col("bucket"), col("vec_id").as("neighbor_id")),
        Seq("tbl", "bucket"))
      .select(col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    // ivf, trainIters = 0 form — centroid choice, assignment argmax and
    // probe-cell window replicate ivfTopK exactly (groupBy-argmax on the
    // corpus side, row_number only over the tiny query×cells side).
    val centroids = emb.orderBy(col("vec_id").asc).limit(nCells)
      .select(col("vec_id").as("cell_id"), col("q").as("cv"), col("nq").as("cn"))
    def cellSims(vecs: DataFrame): DataFrame =
      vecs.crossJoin(broadcast(centroids))
        .withColumn("_sim", dotQ("q", "cv").cast("double") /
          sqrt(col("nq").cast("double") * col("cn").cast("double")))
    val assigned = cellSims(emb)
      .groupBy(col("vec_id"))
      .agg(max_by(col("cell_id"),
        struct(col("_sim"), (-col("cell_id")).as("_nc"))).as("cell_id"))
      .select(col("cell_id"), col("vec_id").as("neighbor_id"))
    val wc = Window.partitionBy(col("vec_id")).orderBy(col("_sim").desc, col("cell_id").asc)
    val probeCells = cellSims(emb.filter(queryPred))
      .withColumn("_rn", row_number().over(wc))
      .filter(col("_rn") <= nProbe)
      .select(col("vec_id").as("query_id"), col("cell_id"))
    // A query probes nProbe DISTINCT cells and a candidate lives in
    // exactly one, so ivf pairs need no dedup either.
    val ivfPairs = probeCells.join(assigned, Seq("cell_id"))
      .select(col("query_id"), col("neighbor_id"))
    // sq8: scalar-quantized (8-bit affine per-dim) symmetric code-space
    // top-k — the cheap rung of the compression ladder (one min/max
    // training pass vs the Lloyd loops of the other quantizers). The
    // 5k code-space pool doubles as sq8_rerank's candidate set: the
    // harness's shared true-cosine scoring of the FULL pool IS the
    // exact re-rank, so its recall equals sq8TopKRerank(pool = 5k)'s
    // by construction.
    val sq8Pairs = sq8All.filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val sq8RerankPairs = sq8All.select(col("query_id"), col("neighbor_id"))
    // pq_hi: the HIGH-FIDELITY PQ operating point (m=16, ksub=64,
    // iters=1 — q_pq_hi's served config, 96 code bits): the ADC top-k
    // IS the candidate set; raw ADC recall >= 0.5 at the sf0.01 gate
    // (r15; the full bits/recall curve is in BUILD_NOTES).
    val pqHiPairs = pqHiAll.filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"))
    // ivfpq_auto: the corpus-sized coarse quantizer (q_ivfpq_auto's
    // served shape).
    val ivfAutoPairs = ivfAutoAll.filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"))
    // ivfrq_auto: the probed residual quantizer (q_ivfrq_auto's shape)
    val ivfRqAutoPairs = ivfRqAutoAll.filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"))
    // knn_graph: the query nodes' rows of the NN-descent graph — the
    // graph-serving answer is the node's own neighbor list
    val knnPairs = knnAll.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("neighbor_id"))
    // knn_graph_search: the beam walk from global entry points — the
    // out-of-corpus serving read (navigability, not list membership)
    val knnSearchPairs = knnSearchAll.filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val cand = lshPairs.withColumn("method", lit("lsh"))
      .unionByName(multiPairs.withColumn("method", lit("lsh_multi")))
      .unionByName(ivfPairs.withColumn("method", lit("ivf")))
      .unionByName(sq8Pairs.withColumn("method", lit("sq8")))
      .unionByName(sq8RerankPairs.withColumn("method", lit("sq8_rerank")))
      .unionByName(pqHiPairs.withColumn("method", lit("pq_hi")))
      .unionByName(ivfAutoPairs.withColumn("method", lit("ivfpq_auto")))
      .unionByName(ivfRqAutoPairs.withColumn("method", lit("ivfrq_auto")))
      .unionByName(knnPairs.withColumn("method", lit("knn_graph")))
      .unionByName(knnSearchPairs.withColumn("method", lit("knn_graph_search")))
      .filter(col("query_id") =!= col("neighbor_id"))
    // ONE aggregation job scores and ranks every method's candidates:
    // query vectors and the |Q|·k truth set broadcast, the corpus side
    // joins by id (AQE broadcasts it at harness scale; a distributed
    // hash join at corpus scale — never a cross product), cosines are
    // computed map-side per candidate row, and the bounded TopK
    // aggregate collapses each map task to <= k rows per
    // (method, query) BEFORE the exchange — the same tie order
    // (cosine DESC, id ASC) the rank window encoded, with is_truth
    // carried as a non-ordering trailing field (ids are unique per
    // method-query, so it never participates in comparisons).
    val qv = emb.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("q").as("qv"), col("nq").as("qn"))
    val cvs = emb
      .select(col("vec_id").as("neighbor_id"), col("q").as("cv"), col("nq").as("cn"))
    val hits = cand
      .join(broadcast(truth), Seq("query_id", "neighbor_id"), "left")
      .join(broadcast(qv), Seq("query_id"))
      .join(cvs, Seq("neighbor_id"))
      .withColumn("cosine",
        dotQ("qv", "cv").cast("double") /
          sqrt(col("qn").cast("double") * col("cn").cast("double")))
      .groupBy(col("method"), col("query_id"))
      .agg(graft.plans.TopK.top_k(
        struct((-col("cosine")).as("_o"), col("neighbor_id"),
          coalesce(col("is_truth"), lit(false)).as("is_truth")), k).as("_t"))
      .select(col("method"), explode(col("_t")).as("_s"))
      .groupBy(col("method"))
      .agg(sum(when(col("_s.is_truth"), lit(1L)).otherwise(lit(0L))).as("n_hits"))
    // Left-join from a literal method list so a method with an empty
    // candidate set still emits its (zero-recall) row, as the old
    // union-of-aggregates shape did.
    AnnPolicy.rungs.map(_.method).toDF("method")
      .join(hits, Seq("method"), "left")
      .select(col("method"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        lit(nTruth).as("n_truth"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / lit(nTruth.toDouble)).as("recall"))
  }

  /** Deterministic kNN-graph via bounded-iteration NN-descent (Dong,
    * Moses, Li, "Efficient K-Nearest Neighbor Graph Construction for
    * Generic Similarity Measures", WWW 2011 — the construction behind
    * graph-search serving indexes like HNSW/NSG): per-node top-k
    * neighbor lists seeded from a BOUNDED md5-ring inside each LSH
    * bucket (r17 — O(n·2k) seed pairs at any bucket-size
    * distribution), then `rounds` fixed
    * NN-descent refinements — each round proposes every
    * NEIGHBOR-OF-A-NEIGHBOR over the UNDIRECTED current graph, scores
    * candidates by exact integer squared L2 (raw quantized dims —
    * shifts cancel in differences), and keeps the k best per node
    * (ties to lowest neighbor_id).
    *
    * Everything is deterministic and engine-portable — md5-derived
    * hyperplane seeds (`lshBuckets`, auto-sized from COUNT(*) like the
    * nearDup family), exact integer distances, id tie-breaks, and a
    * FIXED round count rather than a convergence test — so DuckDB
    * replays the graph bit-exactly by unrolling the rounds
    * (`q_knn_graph`), the way the quantizer trainings replay their
    * Lloyd iterations.
    *
    * Scale shape: the undirected edge set is ≤ 2nk rows; a round's
    * candidate set is ≤ n·(2k)² pairs (the NN-descent bound — never
    * all-pairs), deduped BEFORE scoring so the exact-distance join
    * touches each pair once; per-node top-k runs through the bounded
    * TopK aggregate (≤ k rows per node leave each map task). The
    * result is the serving-index artifact: one row per (node, rank) —
    * graph search over it is a bounded walk, and the memo holds it
    * per (corpus, k, rounds) like every trained index. */
  def knnGraph(embeddings: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"knnGraph needs k >= 1, got $k")
    require(rounds >= 0, s"knnGraph needs rounds >= 0, got $rounds")
    val e = ensureQuantized(embeddings)
    IndexMemo("knn_graph", e, (k, rounds)) {
      val spark = e.sparkSession
      val n = e.count()
      val bits = math.min(autoLshBits(n), 64)
      // lazy: v's only consumers are the two eager vaRep/vbRep
      // replicate-checkpoints below (r20) — each streams the scan +
      // quantize once; a checkpoint here would just add an action
      val v = e.select(col("vec_id"), col("q"))
      val buckets = lshBuckets(e, bits).select(col("vec_id"), col("bucket"))
      // RING seeding (r17): the r16 init scored every same-bucket pair
      // — Σ|bucket|² pairs, and the profiled 100× bottleneck wasn't the
      // NN-descent rounds at all but this init clique blowup (planted
      // duplicate clusters share exact buckets, so bucket sizes have a
      // heavy tail the Σ|bucket|² shape squares). Seed instead with a
      // BOUNDED deterministic ring per bucket: members order by
      // md5(vec_id || 'ring') and each links to its 2k successors
      // (wrapping, capped at sz−1 so a small bucket still forms its
      // full clique) — O(n·2k) init pairs at ANY bucket-size
      // distribution, the classic NN-descent random-init bound made
      // md5-deterministic. The descent rounds recover list quality
      // from the seed (measured; recall floors re-pinned r17).
      val ringJ = 2 * k
      val wRing = Window.partitionBy(col("bucket"))
        .orderBy(md5(concat(col("vec_id").cast("string"), lit("ring"))),
          col("vec_id"))
      val ringed = buckets
        .withColumn("rn", row_number().over(wRing))
        .withColumn("sz", count(lit(1)).over(Window.partitionBy(col("bucket"))))
        .localCheckpoint() // both ring-join sides read it
      val init = ringed
        .select(col("bucket"), col("vec_id"), col("rn"), col("sz"),
          explode(when(col("sz") > 1,
            sequence(lit(1), least(lit(ringJ), col("sz") - 1)))
            .otherwise(array())).as("j"))
        .select(col("bucket"), col("vec_id"),
          (pmod(col("rn") - 1 + col("j"), col("sz")) + 1).as("rn2"))
        .join(ringed.select(col("bucket"), col("rn").as("rn2"),
          col("vec_id").as("neighbor_id")), Seq("bucket", "rn2"))
        .select(col("vec_id"), col("neighbor_id"))
      // BLOCKED (fragment-replicate) pair scoring — the build's r16
      // shape joined each pair row to both vectors, so the scoring
      // exchange shipped a 64-long array PER PAIR (~(2k)² per node):
      // the measured one-box shuffle spill behind the 100× build
      // exponent of 1.16. Here pairs ship IDS ONLY into (_ba, _bb)
      // block partitions, each vector side replicates `blocks` ways
      // (n·B array rows instead of n·(2k)² — B=16 ≪ 400), and both
      // probes are SHUFFLE_HASH joins co-partitioned on (_ba, _bb)
      // (subset-key co-partitioning: every side repartitions on the
      // block pair, so EnsureRequirements inserts no further
      // exchange and no sort — the array-carrying intermediate is
      // PIPELINED from probe to probe to the partial TopK, never
      // materialized, exchanged, or sorted). Same rows, same exact
      // integer distances — the plan changes, the graph doesn't
      // (hash-gate-proof). At cluster scale the per-partition hash
      // table holds n·B/P vectors — P grows with the cluster, B is a
      // constant knob.
      // r20 second pass (guide §2: derive partitioning from input
      // size, don't tune a constant to either local mode or the
      // cluster): the block count is SIZE-ADAPTIVE — one block per
      // ~100k vectors, capped at the constant the cluster shape used
      // (16), so per-block SHJ build sides stay ~100k·dims longs and
      // a dictionary-sized corpus stops paying B²=256 near-empty
      // tasks per score call (the measured cost of the constant at
      // bench scale: 6 jobs × 256 tasks of ~125 rows each). Block
      // assignment only ROUTES pairs — every pair scores in exactly
      // one (_ba,_bb) partition whatever B is — so the graph is
      // invariant to the choice (FunctionsSpec "partition-invariant"
      // pins it); at the cap the plan is byte-identical to the r20
      // first-pass shape.
      val blocks = math.min(16L, math.max(1L, (n + 99999L) / 100000L)).toInt
      // one partition per block pair: the SHJ build side holds n/B
      // vectors per task (not n·B/P at the session's default P — at
      // local parallelism that build was the whole corpus replicated
      // into a few hundred-MB hash maps, GC-bound)
      val parts = blocks * blocks
      def blk(c: Column): Column = pmod(xxhash64(c), lit(blocks.toLong))
      val bRange = spark.range(blocks.toLong)
      // r20 (guide §2.2 "shuffle the same bytes once", §1.2 step 1):
      // the two block-replicated vector sides are IDENTICAL across all
      // score calls (init + every descent round scored them afresh —
      // 3 replicate-exchanges of n·B array rows each per side at
      // rounds=2). Materialize each ONCE; localCheckpoint preserves
      // the HashPartitioning(_ba,_bb) the SHJ probes need, so every
      // later score call reads the co-partitioned blocks with no new
      // exchange. Net bytes: one 16n write + 3 reads per side vs
      // 3 shuffle writes + 3 reads — strictly fewer at any scale, and
      // the artifact's lifetime is the build (same class as `ringed`).
      val vaRep = v.select(col("vec_id"), col("q").as("qa"),
          blk(col("vec_id")).as("_ba"))
        .crossJoin(broadcast(bRange.select(col("id").as("_bb"))))
        .repartition(parts, col("_ba"), col("_bb"))
        .localCheckpoint()
      val vbRep = v.select(col("vec_id").as("neighbor_id"), col("q").as("qb"),
          blk(col("vec_id")).as("_bb"))
        .crossJoin(broadcast(bRange.select(col("id").as("_ba"))))
        .repartition(parts, col("_ba"), col("_bb"))
        .localCheckpoint()
      def score(pairs: DataFrame): DataFrame = {
        val pb = pairs.select(col("vec_id"), col("neighbor_id"),
            blk(col("vec_id")).as("_ba"), blk(col("neighbor_id")).as("_bb"))
          .repartition(parts, col("_ba"), col("_bb"))
        pb.join(vaRep.hint("shuffle_hash"), Seq("_ba", "_bb", "vec_id"))
          .join(vbRep.hint("shuffle_hash"), Seq("_ba", "_bb", "neighbor_id"))
          .select(col("vec_id"), col("neighbor_id"), sqDistQ("qa", "qb").as("adist"))
      }
      def topKNode(scored: DataFrame): DataFrame =
        scored.groupBy(col("vec_id"))
          .agg(graft.plans.TopK.top_k(
            struct(col("adist"), col("neighbor_id")), k).as("_t"))
          .select(col("vec_id"), posexplode(col("_t")).as(Seq("_p", "_s")))
          .select(col("vec_id"), (col("_p") + 1).cast("long").as("rnk"),
            col("_s.neighbor_id").as("neighbor_id"), col("_s.adist").as("adist"))
      // Squared L2 is SYMMETRIC, so every pair scores once in
      // canonical (low, high) orientation and mirrors back — the
      // scoring join (the build's dominant shuffle: each pair row
      // ships two 64-long arrays) halves. Bit-identical distances,
      // so the graph — and the DuckDB gate — are unchanged.
      def scoreBoth(pairs: DataFrame): DataFrame = {
        val scored = score(pairs
          .select(least(col("vec_id"), col("neighbor_id")).as("vec_id"),
            greatest(col("vec_id"), col("neighbor_id")).as("neighbor_id"))
          .distinct())
        scored.unionByName(scored.select(col("neighbor_id").as("vec_id"),
          col("vec_id").as("neighbor_id"), col("adist")))
      }
      // buckets give each unordered pair in both orientations; the
      // canonical form scores it once
      def described[T](d: String)(body: => T): T = {
        spark.sparkContext.setJobDescription(d)
        try body finally spark.sparkContext.setJobDescription(null)
      }
      var g = described("knnGraph init: bucket pairs score+topk") {
        topKNode(scoreBoth(init)).localCheckpoint()
      }
      (1 to rounds).foreach { r =>
        // the undirected edge set KEEPS its distances — a known edge
        // is never re-scored (g's adist is exact; reverse direction
        // is the same distance by symmetry)
        val undS = described(s"knnGraph round $r: undirected closure") {
          g.select(col("vec_id"), col("neighbor_id"), col("adist"))
            .unionByName(g.select(col("neighbor_id").as("vec_id"),
              col("vec_id").as("neighbor_id"), col("adist")))
            .distinct()
            .localCheckpoint() // consumed by both self-join sides + the union
        }
        val und = undS.select(col("vec_id"), col("neighbor_id"))
        // neighbor-of-neighbor candidates, minus already-known edges
        // (if (u,w) is known, so is (w,u) — the closure is symmetric,
        // so the anti-join cannot strand one orientation)
        val hop2 = und
          .join(und.select(col("vec_id").as("_mid"), col("neighbor_id").as("_nn")),
            col("neighbor_id") === col("_mid"))
          .select(col("vec_id"), col("_nn").as("neighbor_id"))
          .filter(col("vec_id") =!= col("neighbor_id"))
          .distinct() // dedup BEFORE scoring: a duplicate candidate
                      // would occupy two top-k slots
          .join(und, Seq("vec_id", "neighbor_id"), "left_anti")
        g = described(s"knnGraph round $r: hop2 score+topk") {
          topKNode(scoreBoth(hop2).unionByName(undS)).localCheckpoint()
        }
      }
      g
    }
  }

  /** Greedy BEAM SEARCH over the kNN-graph — the SERVING read the
    * graph index exists for (the search loop of HNSW/NSG, single-layer
    * form): from a GLOBAL md5-deterministic entry-point set, each hop
    * expands the current per-query beam's graph neighbors, scores the
    * NEW nodes by exact integer squared L2, and keeps the `beam` best
    * visited; after `hops` fixed hops the answer is the top-k of the
    * visited set. Deterministic end to end (global seeds by
    * md5(vec_id || 'ep'), fixed hop count, id tie-breaks), so DuckDB
    * replays the whole walk by unrolling hops over the unrolled graph
    * rounds (`q_knn_graph_search`).
    *
    * Scale shape: the graph is the persisted/memoized artifact; a
    * query's work is O(hops · beam · kGraph) id-rows + that many
    * vector fetches (join against the vector table by node id) — NOT
    * a function of corpus size. That is the property that makes
    * graph indexes the industry's high-recall serving rung: cost per
    * query is a bounded walk. Frontier dedup is per (query, node): a
    * node is scored once per query across all hops (the visited set
    * anti-joins candidates before scoring). */
  def knnGraphSearch(embeddings: DataFrame, queryPred: Column, k: Int,
                     kGraph: Int, rounds: Int, hops: Int,
                     beam: Int): DataFrame = {
    val e = ensureQuantized(embeddings)
    knnGraphSearchIndex(e.filter(queryPred), knnGraph(e, kGraph, rounds),
      e, k, hops, beam)
  }

  /** Search against an EXISTING (graph, nodes) index — the decoupled
    * form `knnGraphSearch` composes and the streaming graph ingest
    * (`StreamingGraphIngest`) reuses per micro-batch: queries need not
    * come from the indexed corpus, and the graph/node frames are
    * whatever the store landed. `graph` is (vec_id, neighbor_id[,…]);
    * `nodes` is the indexed vectors (vec_id, q[, nq]). */
  def knnGraphSearchIndex(queries: DataFrame, graph: DataFrame,
                          nodes: DataFrame, k: Int, hops: Int,
                          beam: Int): DataFrame = {
    require(hops >= 0 && beam >= 1 && k >= 1,
      s"bad search params: hops=$hops beam=$beam k=$k")
    val g = graph.select(col("vec_id").as("_gnode"), col("neighbor_id"))
    val v = ensureQuantized(nodes)
      .select(col("vec_id").as("node"), col("q").as("na"))
      .localCheckpoint()
    val qs = ensureQuantized(queries)
      .select(col("vec_id").as("query_id"), col("q").as("qa"))
      .localCheckpoint()
    val eps = v.select(col("node"),
        md5(concat(col("node").cast("string"), lit("ep"))).as("_h"))
      .orderBy(col("_h"), col("node")).limit(beam)
      .select(col("node"))
    def score(cand: DataFrame): DataFrame =
      cand.join(v, Seq("node"))
        .join(qs, Seq("query_id"))
        .select(col("query_id"), col("node"), sqDistQ("qa", "na").as("adist"))
    def beamOf(vis: DataFrame): DataFrame =
      vis.groupBy(col("query_id"))
        .agg(graft.plans.TopK.top_k(
          struct(col("adist"), col("node")), beam).as("_t"))
        .select(col("query_id"), explode(col("_t")).as("_s"))
        .select(col("query_id"), col("_s.node").as("node"))
    var visited = score(qs.select(col("query_id")).crossJoin(eps))
      .localCheckpoint()
    // examined r20: batching two hops per checkpoint (the
    // connectedComponents roundsPerCheck discipline) was measured at
    // 63 -> 56 jobs with NO wall change — the walk's cost is its AQE
    // stages (per-hop shuffles over |Q|-bounded frames), not the
    // checkpoint actions, so the simpler one-checkpoint-per-hop
    // spelling stays
    (1 to hops).foreach { _ =>
      val cand = beamOf(visited)
        .join(g, col("node") === col("_gnode"))
        .select(col("query_id"), col("neighbor_id").as("node"))
        .distinct()
        .join(visited.select(col("query_id"), col("node")),
          Seq("query_id", "node"), "left_anti")
      visited = visited.unionByName(score(cand)).localCheckpoint()
    }
    topKAsc(visited.filter(col("query_id") =!= col("node"))
      .select(col("query_id"), col("node").as("neighbor_id"), col("adist")),
      k, "adist")
  }

  /** LSH-accelerated top-k: search only within the query's bucket plus
    * buckets at Hamming distance 1 (probing), then exact cosine. */
  def lshTopK(embeddings: DataFrame, queryPred: Column, k: Int, bits: Int): DataFrame = {
    // (vec_id, bucket) is ids-only-small; checkpoint so the probe and
    // candidate sides share ONE bucketing pass (the posexplode + grouped
    // projection would otherwise run twice, once per join side — the
    // same double-compute nearDupPairsLsh and lshTopKMulti already
    // guard against).
    val buckets = lshBuckets(embeddings, bits)
      .select(col("vec_id"), col("bucket")).localCheckpoint()
    val bucketed = ensureQuantized(embeddings).join(buckets, Seq("vec_id"))
    val probes = bucketed.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("q").as("qv"), col("nq").as("qn"),
        explode(array((-1 +: (0 until bits).toSeq).map {
          case -1 => col("bucket")
          case j  => col("bucket").bitwiseXOR(lit(1L << j))
        }: _*)).as("bucket"))
    val cands = bucketed.select(col("bucket"), col("vec_id").as("neighbor_id"),
      col("q").as("cv"), col("nq").as("cn"))
    // Slim-row dedup (see lshTopKMulti): a pair surfacing through
    // several probed buckets recomputes its deterministic cosine per
    // collision, and only (query_id, neighbor_id, cosine) shuffles.
    topKDesc(probes.join(cands, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        dotQ("qv", "cv").cast("double") /
          sqrt(col("qn").cast("double") * col("cn").cast("double")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .dropDuplicates("query_id", "neighbor_id"),
      k, "cosine")
  }
}
