package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}

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

  /** floor(x * 1e6) per element — exact integer embedding — through
    * the native codegen'd `QuantizeI64`: one primitive loop per vector,
    * no interpreted lambda, and an `UnsafeArrayData` over a `long[]`
    * that `localCorpus` collects and keeps as its frame's rows. */
  def quantize(embCol: String): Column =
    graft.plans.QuantizeI64.quantize_i64(col(embCol))

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

  /** Embeddings with quantized vector + its exact squared norm. */
  def quantized(embeddings: DataFrame): DataFrame =
    embeddings
      .withColumn("q", quantize("embedding"))
      .withColumn("nq", normQ("q"))

  /** Pass-through when the caller already quantized (and typically
    * checkpointed) the embeddings — lets annRecall feed ONE quantized
    * materialization to brute force + all three approximate methods
    * instead of each re-running the quantize+norm subtree. The serve
    * rungs call it only on a `localCorpus` miss and on their Spark-plan
    * path: below the cap a warm call never builds `quantized(e)`. */
  private def ensureQuantized(embeddings: DataFrame): DataFrame =
    if (embeddings.columns.contains("q")) embeddings else quantized(embeddings)

  /** Per-query bounded top-k via the native `graft.plans.TopK`
    * aggregate, ascending by (`distCol`, neighbor_id) — the scale
    * shape shared by every code-distance search: partial aggregation
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
    // corpus-derived state shared by every IVF consumer.
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
  def kmeansFixedPointAssign(embeddings: DataFrame, k: Int, iters: Int): DataFrame =
    kmeansFixedPointAssign(embeddings, k, iters, litCentCap)

  /** `kmeansFixedPointAssign` with the literal-spelling cap as a test
    * seam: specs pass a `litCap` below k to drive the broadcast-join
    * spelling on a small corpus. The cap is in the memo key, so the two
    * spellings never share an entry. */
  private[graft] def kmeansFixedPointAssign(embeddings: DataFrame, k: Int, iters: Int,
                                            litCap: Int): DataFrame = {
    require(iters >= 1, s"kmeansFixedPointAssign needs at least one iteration, got $iters")
    IndexMemo("kmeans_fp_assign", embeddings, (k, iters, litCap)) {
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
      if (k <= litCap) {
        // r20 (guide §2.4, §1.2 step 1): centroids live driver-side
        // between iterations, the assignment is a MAP-ONLY argmin over
        // k literal centroid arrays — the per-iteration corpus
        // exchange (partial-min rows carrying xa through a
        // groupBy(vec_id) shuffle) is gone. least(struct(_dist,
        // cell_id)) is the same lexicographic min as min(struct(_dist,
        // cell_id, …)): the trailing struct fields there are
        // per-vector constants that never break a tie. One corpus-scan
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
    * probed code count grows as ~√n (`q_ivf_sq8_auto`). */
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
    * update), so all k1 sub-codebooks cost
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

  /** The quantized corpus (`quantized(e)`'s rows: every input column
    * plus `q` and `nq`) resident on the driver, for the sq8, sq8_rerank
    * and ivf serve rungs below `localServeCap`. `frame` is a
    * LocalRelation over the collected Catalyst rows themselves, the one
    * a predicate is analyzed against; `ids`, `q` and `nq` hold them as
    * arrays, the operands of the driver kernels. The ivf cell membership
    * of each centroid set is kept here too (`members`), so it is
    * assigned once per corpus. */
  private[graft] final class LocalCorpus(val frame: DataFrame, val ids: Array[Long],
                                         val q: Array[Array[Long]], val nq: Array[Long]) {
    /** Positions of the rows `pred` selects, in corpus order, with no
      * Spark job and no optimizer run: the analyzed condition is bound
      * to the frame's rows and evaluated by `InterpretedPredicate`
      * initialized at partition 0 — what ConvertToLocalRelation does to
      * a filter over a LocalRelation, so the rows are the ones
      * `frame.filter(pred)` returns. A condition that rule would not
      * fold as analyzed (an unevaluable or subquery expression, or one
      * the optimizer must first replace) runs `frame.filter(pred)` as a
      * query instead. */
    def matching(pred: Column): Array[Int] = {
      import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BindReferences,
        InterpretedPredicate, RuntimeReplaceable, SubqueryExpression, Unevaluable}
      import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
      val filtered = frame.filter(pred)
      filtered.queryExecution.analyzed match {
        case Filter(cond, rel: LocalRelation) if !cond.exists {
            case _: AttributeReference => false
            case _: Unevaluable | _: SubqueryExpression | _: RuntimeReplaceable => true
            case _ => false
          } =>
          val p = InterpretedPredicate(BindReferences.bindReference(cond, rel.output))
          p.initialize(0)
          rel.data.iterator.zipWithIndex.collect { case (r, i) if p.eval(r) => i }.toArray
        case _ =>
          val hit = filtered.select(col("vec_id")).collect().map(_.getLong(0)).toSet
          ids.indices.filter(i => hit(ids(i))).toArray
      }
    }

    /** Whether some vector has norm 0: its cosine divides by zero, which
      * the cosine rungs leave to their Spark plans to raise. */
    lazy val zeroNorm: Boolean = nq.contains(0L)

    /** The first `n` rows by id, as (id, q, nq): `ivfTopK`'s untrained
      * (trainIters = 0) centroids. */
    def firstById(n: Int): Array[(Long, Array[Long], Long)] =
      byId.take(n).map(i => (ids(i), q(i), nq(i)))
    private lazy val byId = ids.indices.sortBy(ids(_)).toArray

    private val memberMemo =
      scala.collection.mutable.LinkedHashMap.empty[Seq[(Long, Seq[Long])], Map[Long, Array[Int]]]

    /** Each cell's member positions under the centroids `cents`, kept
      * per centroid set (ids and vectors; the last 8 sets): `assign`
      * maps a position to its cell and runs once per set. */
    def members(cents: Array[(Long, Array[Long], Long)])(assign: Int => Long): Map[Long, Array[Int]] =
      memberMemo.synchronized {
        val key = cents.toSeq.sortBy(_._1).map(c => (c._1, c._2.toSeq))
        memberMemo.getOrElse(key, {
          val m = ids.indices.toArray.groupBy(assign)
          if (memberMemo.size >= 8) memberMemo.remove(memberMemo.head._1)
          memberMemo(key) = m
          m
        })
      }

    /** `sq8CodeTable`'s codes and their squared norms, row-aligned:
      * per-dim (mn, mx) over every row holding the dim, in one pass,
      * then `(x − mn)·255 div (mx − mn)`, 0 on a constant dim — the same
      * Long algebra, overflow-checked like ANSI Spark's. */
    lazy val sq8: (Array[Array[Long]], Array[Long]) = {
      val width = if (q.isEmpty) 0 else q.map(_.length).max
      val mn = Array.fill(width)(Long.MaxValue)
      val mx = Array.fill(width)(Long.MinValue)
      for (v <- q) {
        var d = 0
        while (d < v.length) {
          mn(d) = math.min(mn(d), v(d)); mx(d) = math.max(mx(d), v(d)); d += 1
        }
      }
      val c = q.map { v =>
        val out = new Array[Long](v.length)
        var d = 0
        while (d < v.length) {
          if (mx(d) > mn(d))
            out(d) = Math.multiplyExact(Math.subtractExact(v(d), mn(d)), 255L) / Math.subtractExact(mx(d), mn(d))
          d += 1
        }
        out
      }
      (c, c.map(v => dotLocal(v, v)))
    }
  }

  /** The corpus `embeddings` (raw or already quantized) as a
    * [[LocalCorpus]], or None when it is not below `cap` vectors × dims
    * — then the Spark plans serve it. Memoized on the plan of the frame
    * the caller passed, so a warm lookup is one `sameResult` scan of the
    * memo and derives nothing: every serve entry point passes its
    * caller's frame on unchanged, so one corpus has one entry per
    * (session, caller's frame plan, cap). A miss quantizes the frame
    * (`ensureQuantized`) and runs ONE bounded collect of at most
    * `cap / AnnPolicy.dims + 1` rows, so the driver never holds much
    * more than the cap. That collect returns Catalyst rows
    * (`GraftSqlBridge.collectInternal`): the kernels' arrays are read
    * straight out of them, and they are the frame's LocalRelation rows,
    * with no conversion either way. A corpus the kernels could not
    * replay exactly (a non-BIGINT, null or repeated `vec_id`, a null
    * vector or element) is served by the Spark plans too. */
  private[graft] def localCorpus(embeddings: DataFrame, cap: Long = localServeCap): Option[LocalCorpus] =
    IndexMemo.of[Option[LocalCorpus]]("local_corpus", embeddings, cap) {
      val e = ensureQuantized(embeddings)
      val schema = e.schema
      val rowCap = (math.max(0L, cap) / AnnPolicy.dims).min(Int.MaxValue - 1L).toInt
      val (iId, iQ, iN) = (schema.fieldIndex("vec_id"), schema.fieldIndex("q"), schema.fieldIndex("nq"))
      lazy val rows = GraftSqlBridge.collectInternal(e.limit(rowCap + 1))
      lazy val ids = rows.map(_.getLong(iId))
      lazy val q = rows.map(_.getArray(iQ).toLongArray())
      val fits = schema(iId).dataType == LongType && rows.length <= rowCap &&
        rows.forall(r => !r.isNullAt(iId) && !r.isNullAt(iQ) &&
          !(0 until r.getArray(iQ).numElements()).exists(r.getArray(iQ).isNullAt)) &&
        ids.distinct.length == ids.length && q.map(_.length.toLong).sum < cap
      if (!fits) None
      else Some(new LocalCorpus(GraftSqlBridge.localFrame(e.sparkSession, schema, rows.toSeq),
        ids, q, rows.map(_.getLong(iN))))
    }

  /** `DotI64` on the driver: the plain (wrapping) Long sum over the
    * shorter length. */
  private def dotLocal(a: Array[Long], b: Array[Long]): Long = {
    val n = math.min(a.length, b.length)
    var acc = 0L; var i = 0
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Positions of the `k` smallest of candidates `0 until n` under the
    * strict total order `lt`, ascending: `TopK`'s bounded heap on the
    * driver (the order is total, so the pick is the aggregate's). */
  private def smallestK(n: Int, k: Int)(lt: (Int, Int) => Boolean): Array[Int] = {
    val top = new Array[Int](math.max(0, math.min(k, n)))
    var size = 0; var i = 0
    while (i < n && top.nonEmpty) {
      if (size < top.length || lt(i, top(size - 1))) {
        var j = math.min(size, top.length - 1)
        while (j > 0 && lt(i, top(j - 1))) { top(j) = top(j - 1); j -= 1 }
        top(j) = i
        size = math.min(size + 1, top.length)
      }
      i += 1
    }
    top
  }

  /** The (query_id, rnk, neighbor_id) fields of a top-k answer over
    * `lc`, with the nullability its Spark plan has: the ids are the
    * corpus's `vec_id`s, and `rnk` is a `posexplode` position plus one. */
  private def rankFields(lc: LocalCorpus): Seq[StructField] = {
    val idNullable = lc.frame.schema("vec_id").nullable
    Seq(StructField("query_id", LongType, idNullable),
      StructField("rnk", LongType, nullable = false), StructField("neighbor_id", LongType, idNullable))
  }

  /** A driver kernel's (query_id, rnk, neighbor_id, score) rows over
    * `lc`, with the schema of the rung's Spark plan, as a LocalRelation
    * of InternalRows: the kernels' values are longs and doubles, already
    * Catalyst's, so nothing is converted. */
  private def localAnswer(lc: LocalCorpus, rows: Seq[Row],
                          score: String, scoreType: DataType): DataFrame =
    GraftSqlBridge.localFrame(lc.frame.sparkSession,
      StructType(rankFields(lc) :+ StructField(score, scoreType)), rows.map(r => InternalRow.fromSeq(r.toSeq)))

  /** Scalar quantization (SQ8 — FAISS's ScalarQuantizer QT_8bit shape):
    * per-dimension affine 8-bit codes, `c = (x - mn_d) * 255 div
    * (mx_d - mn_d)` over the exact integer quantized grid, with the
    * per-dim (mn, mx) bounds learned from the corpus. Training is ONE
    * min/max aggregation (no Lloyd loop) and the index is a
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
    * pass over the vector scan: no shuffle at any corpus size. Keyed,
    * like `localCorpus`, on the caller's frame. Below `cap` the codes
    * come from the driver-resident corpus (`LocalCorpus.sq8`) as a
    * LocalRelation of InternalRows: no job at all. */
  def sq8CodeTable(embeddings: DataFrame, cap: Long = localServeCap): DataFrame =
    IndexMemo.of[DataFrame]("sq8_codes", embeddings, cap)(localCorpus(embeddings, cap).fold {
      val e = ensureQuantized(embeddings)
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
    } { lc =>
      val (c, ncc) = lc.sq8
      GraftSqlBridge.localFrame(embeddings.sparkSession,
        StructType(Seq(StructField("vec_id", LongType),
          StructField("c", org.apache.spark.sql.types.ArrayType(LongType)), StructField("ncc", LongType))),
        lc.ids.indices.map(i => InternalRow(lc.ids(i), UnsafeArrayData.fromPrimitiveArray(c(i)), ncc(i))))
    })

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
    * so the k survivors are the true top-k among matching rows.
    * Below `cap` vectors × dims the corpus is driver-resident
    * (`localCorpus`) and `sq8Local` scores it with the same algebra
    * and tie-breaks: no Spark job, a LocalRelation answer. */
  def sq8TopK(embeddings: DataFrame, queryPred: Column, k: Int,
              candPred: Option[Column] = None,
              cap: Long = localServeCap): DataFrame =
    localCorpus(embeddings, cap).fold(sq8TopKPlan(embeddings, queryPred, k, candPred, cap)) { lc =>
      localAnswer(lc, sq8Local(lc, lc.matching(queryPred), k, candPred.map(lc.matching)),
        "adist", LongType)
    }

  private def sq8TopKPlan(embeddings: DataFrame, queryPred: Column, k: Int,
                          candPred: Option[Column], cap: Long): DataFrame = {
    val e = ensureQuantized(embeddings)
    val codes = sq8CodeTable(embeddings, cap)
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

  /** `sq8TopKPlan` over the driver-resident corpus, for the query rows
    * at positions `hits`, as (query_id, rnk, neighbor_id, adist) rows. */
  private[graft] def sq8Local(lc: LocalCorpus, hits: Array[Int], k: Int,
                              cands: Option[Array[Int]] = None): Seq[Row] = {
    require(k >= 1, s"top_k needs k >= 1, got $k")
    val all = cands.getOrElse(lc.ids.indices.toArray)
    hits.toSeq.flatMap { qi =>
      val (nb, d) = sq8Nearest(lc, qi, k, all)
      nb.indices.map(r => Row(lc.ids(qi), r + 1L, lc.ids(nb(r)), d(r)))
    }
  }

  /** Query position `qi`'s `qn + cn − 2·qc·cc` against every other
    * position of `cands`: the positions of the k smallest by (adist,
    * neighbor_id) — `topKAsc`'s order — ascending, and their adists. */
  private def sq8Nearest(lc: LocalCorpus, qi: Int, k: Int,
                         cands: Array[Int]): (Array[Int], Array[Long]) = {
    val (c, ncc) = lc.sq8
    val m = cands.filter(_ != qi)
    val d = m.map(j => Math.subtractExact(Math.addExact(ncc(qi), ncc(j)),
      Math.multiplyExact(2L, dotLocal(c(qi), c(j)))))
    val top = smallestK(m.length, k)((a, b) => d(a) < d(b) || (d(a) == d(b) && lc.ids(m(a)) < lc.ids(m(b))))
    (top.map(m), top.map(d))
  }

  /** SQ8 + exact re-rank: the code-space scan proposes a `pool`-sized
    * candidate set, exact quantized cosine orders the final top-k —
    * the FAISS refine step (`exactRerank`). Below `cap`
    * both stages run on the driver (`sq8RerankLocal`): no Spark job. */
  def sq8TopKRerank(embeddings: DataFrame, queryPred: Column, k: Int,
                    pool: Int, cap: Long = localServeCap): DataFrame = {
    require(pool >= k, s"rerank pool $pool must be >= k=$k")
    localCorpus(embeddings, cap).flatMap(lc =>
      sq8RerankLocal(lc, lc.matching(queryPred), k, pool).map(localAnswer(lc, _, "cosine", DoubleType)))
      .getOrElse(exactRerank(ensureQuantized(embeddings), queryPred,
        sq8TopK(embeddings, queryPred, pool, cap = cap), k))
  }

  /** `sq8TopKRerank` over the driver-resident corpus: each query's
    * `sq8Local` pool of `pool` rows, re-ranked by `cosineTopK`. None on
    * a zero norm, whose cosine `exactRerank`'s plan raises. */
  private[graft] def sq8RerankLocal(lc: LocalCorpus, hits: Array[Int], k: Int,
                                    pool: Int): Option[Seq[Row]] = {
    require(pool >= k && k >= 1, s"rerank needs pool $pool >= k=$k >= 1")
    if (lc.zeroNorm) None
    else {
      val all = lc.ids.indices.toArray
      Some(hits.toSeq.flatMap(qi => cosineTopK(lc, qi, sq8Nearest(lc, qi, pool, all)._1, k)))
    }
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
      (sq8CodeTable(embeddings).join(assign, Seq("vec_id")).localCheckpoint(), pc)
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

  /** Max centroid count for `kmeansFixedPointAssign`'s LITERAL
    * (map-only) assignment spelling: k·dims literal longs ride the
    * projection's plan, and each centroid contributes one codegen'd
    * SqDistI64 call — fine into the hundreds, a codegen/plan-size
    * hazard in the thousands (an auto-scaled k at cluster corpus
    * sizes). Above the cap the assignment keeps the broadcast-join +
    * partial-min-aggregate spelling; both spellings are bit-identical
    * (FunctionsSpec "kmeansFixedPointAssign literal-centroid path"
    * drives both through `litCap`), so the cap is a pure plan choice. */
  private[graft] val litCentCap = 256

  /** Max corpus size, in vectors × dims (quantized longs), that the
    * sq8 and ivf serve rungs hold resident on the driver
    * (`localCorpus`): a corpus below it is collected once per session
    * and served by driver kernels with no Spark job; at or above it
    * the Spark plans run. 2^20 is 16,383 vectors of `AnnPolicy.dims`
    * = 64 dims: 8 MB of quantized longs in the kernels' arrays, as much
    * again for the sq8 codes, plus the LocalRelation's rows (the input
    * columns). Like `litCentCap`, a pure plan choice: both sides return
    * identical rows (LocalServeSpec drives both through the `cap`
    * parameter of the serve functions). */
  private[graft] val localServeCap: Long = 1L << 20

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
    * cosine). Below `cap` vectors × dims the corpus is driver-resident
    * (`localCorpus`) and `ivfLocal` assigns, probes and scores it with
    * the same IEEE cosine and tie-breaks: no Spark job past the trained
    * centroids' collect. A zero norm (whose cosine divides by zero)
    * keeps the Spark plan, the reference for that error. */
  def ivfTopK(embeddings: DataFrame, queryPred: Column, k: Int,
              nCells: Int, nProbe: Int, trainIters: Int = 0,
              cap: Long = localServeCap): DataFrame = {
    lazy val e = ensureQuantized(embeddings)
    lazy val centroids =
      if (trainIters == 0)
        e.orderBy(col("vec_id").asc).limit(nCells)
          .select(col("vec_id").as("cell_id"), col("q").as("cv"), col("nq").as("cn"))
      else
        kmeansCentroids(embeddings, nCells, trainIters)
          .withColumn("cv", quantize("c"))
          .withColumn("cn", expr(
            "aggregate(cv, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"))
          .select(col("cell_id"), col("cv"), col("cn"))
    localCorpus(embeddings, cap).flatMap { lc =>
      val cents =
        if (trainIters == 0) lc.firstById(nCells)
        else centroids.collect().map(r =>
          (r.getAs[Number](0).longValue, r.getSeq[Long](1).toArray, r.getLong(2)))
      ivfLocal(lc, lc.matching(queryPred), k, nProbe, cents).map(localAnswer(lc, _, "cosine", DoubleType))
    }.getOrElse(ivfTopKPlan(e, queryPred, k, nProbe, centroids))
  }

  /** `ivfTopK`'s Spark plan over the given (cell_id, cv, cn) centroids. */
  private def ivfTopKPlan(e: DataFrame, queryPred: Column, k: Int, nProbe: Int,
                          centroids: DataFrame): DataFrame = {
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

  /** `ivfTopKPlan` over the driver-resident corpus and the given
    * (cell_id, cv, cn) centroids, for the query rows at positions
    * `hits`; None on a zero norm, whose cosine the plan raises. Cells
    * rank by (sim DESC, cell_id ASC) under Spark's double ordering: the
    * first is the assignment's `max_by`, kept per centroid set by
    * `LocalCorpus.members`; the first `nProbe` the probe window. Each
    * query's candidates (the probed cells' members but itself, each
    * once) rank by `cosineTopK`. */
  private[graft] def ivfLocal(lc: LocalCorpus, hits: Array[Int], k: Int, nProbe: Int,
                              cents: Array[(Long, Array[Long], Long)]): Option[Seq[Row]] =
    if (lc.zeroNorm || cents.exists(_._3 == 0L)) None
    else {
      require(k >= 1, s"top_k needs k >= 1, got $k")
      import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
      def cells(i: Int, n: Int): Array[Long] = {
        val sim = cents.map { case (_, cv, cn) => cosineLocal(dotLocal(lc.q(i), cv), lc.nq(i), cn) }
        smallestK(cents.length, n) { (a, b) =>
          val o = compareDoubles(sim(a), sim(b))
          o > 0 || (o == 0 && cents(a)._1 < cents(b)._1)
        }.map(cents(_)._1)
      }
      // no centroid: no cell to probe, so no candidate
      val members = if (cents.isEmpty) Map.empty[Long, Array[Int]] else lc.members(cents)(cells(_, 1).head)
      Some(hits.toSeq.flatMap { qi =>
        cosineTopK(lc, qi, cells(qi, nProbe).flatMap(members.getOrElse(_, Array.empty[Int])).filter(_ != qi), k)
      })
    }

  /** `dot / sqrt(a · b)` in doubles: the plans' cosine, bit for bit. */
  private def cosineLocal(dot: Long, a: Long, b: Long): Double =
    dot.toDouble / math.sqrt(a.toDouble * b.toDouble)

  /** Query position `qi`'s exact quantized cosine against candidate
    * positions `m` (each once, `qi` not among them), all norms
    * non-zero: `topKDesc`'s k smallest (−cosine, neighbor_id) under
    * Spark's double ordering (NaN greatest and equal to itself, −0.0 =
    * 0.0), as (query_id, rnk, neighbor_id, cosine) rows. */
  private def cosineTopK(lc: LocalCorpus, qi: Int, m: Array[Int], k: Int): Seq[Row] = {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    val cos = m.map(j => cosineLocal(dotLocal(lc.q(qi), lc.q(j)), lc.nq(qi), lc.nq(j)))
    smallestK(m.length, k) { (a, b) =>
      val o = compareDoubles(-cos(a), -cos(b))
      o < 0 || (o == 0 && lc.ids(m(a)) < lc.ids(m(b)))
    }.toSeq.zipWithIndex.map { case (a, r) => Row(lc.ids(qi), r + 1L, lc.ids(m(a)), cos(a)) }
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
    * `AnnPolicy.env` over the corpus size and the query count. Below
    * `cap` both counts read the driver-resident corpus: no job and no
    * memo entry (the predicate's evaluation is the whole cost). */
  def annPolicyEnv(embeddings: DataFrame, queryPred: Column,
                   cap: Long = localServeCap): Map[String, Long] =
    localCorpus(embeddings, cap).fold(annPolicyEnvPlan(embeddings, queryPred, cap))(
      lc => AnnPolicy.env(lc.ids.length, lc.matching(queryPred).length))

  /** `annPolicyEnv` at or above `cap`: two count() jobs, memoized per
    * query-set plan (the FILTERED corpus, like bf_truth and ann_recall:
    * an expression's `.sql` renders every functions-API predicate as
    * the same string under Spark 4.1, so it cannot key the memo). */
  private def annPolicyEnvPlan(embeddings: DataFrame, queryPred: Column, cap: Long): Map[String, Long] =
    IndexMemo.of[Map[String, Long]]("ann_policy_env", embeddings.filter(queryPred), cap)(
      AnnPolicy.env(embeddings.count(), embeddings.filter(queryPred).count()))

  /** Policy-dispatching serve (r18, VERDICT #6): the executable form of
    * `q_ann_frontier`'s policy read — `AnnPolicy.choose` picks the
    * cheapest rung whose CERTIFIED recall ≥ `recallFloorMilli` over the
    * corpus's COUNT(*)-derived parameters, and the rung's own serve
    * function runs at its AnnPolicy operating point. Returns (method,
    * cost_units, floor_milli, query_id, rnk, neighbor_id) —
    * method-independent schema, so a re-point or a different winner at
    * a different corpus size is a VALUE change the oracle replays, not
    * a schema break.
    *
    * `cap` is the driver-resident corpus cap (`localServeCap`). Below
    * it a call looks the corpus up once, on the plan of the frame it was
    * given (`localCorpus`: nothing is re-derived), evaluates `queryPred`
    * once (`LocalCorpus.matching`), and hands the matched positions to
    * both the policy's counts and the chosen rung's driver kernel
    * (`AnnRung.local`: sq8, sq8_rerank, ivf), whose rows are the answer
    * as one LocalRelation of InternalRows: no Spark job, and the
    * caller's collect is the call's only executed query. A rung with no driver kernel, or a
    * kernel that declines (a zero norm), runs its Spark plan. At or
    * above the cap the env is `annPolicyEnv`'s memoized counts and the
    * rung's Spark plan answers. */
  def annServe(embeddings: DataFrame, queryPred: Column, k: Int,
               recallFloorMilli: Long, cap: Long = localServeCap): DataFrame = {
    def served(chosen: AnnPolicy.AnnRung, env: Map[String, Long]): DataFrame =
      chosen.serve(embeddings, queryPred, k, env, cap)
        .select(lit(chosen.method).as("method"),
          lit(chosen.cost.eval(env)).as("cost_units"),
          lit(chosen.floorMilli).as("floor_milli"),
          col("query_id"), col("rnk"), col("neighbor_id"))
    localCorpus(embeddings, cap).fold {
      val env = annPolicyEnvPlan(embeddings, queryPred, cap)
      served(AnnPolicy.choose(env, recallFloorMilli), env)
    } { lc =>
      val hits = lc.matching(queryPred)
      val env = AnnPolicy.env(lc.ids.length, hits.length)
      val chosen = AnnPolicy.choose(env, recallFloorMilli)
      // the rung's (method, cost_units, floor_milli) literals, then the top-k
      val method = org.apache.spark.unsafe.types.UTF8String.fromString(chosen.method)
      val cost = chosen.cost.eval(env)
      val schema = StructType(Seq(StructField("method", StringType, nullable = false),
        StructField("cost_units", LongType, nullable = false),
        StructField("floor_milli", LongType, nullable = false)) ++ rankFields(lc))
      chosen.local.flatMap(_(lc, hits, k)).fold(served(chosen, env))(rows =>
        GraftSqlBridge.localFrame(lc.frame.sparkSession, schema,
          rows.map(r => InternalRow(method, cost, chosen.floorMilli, r(0), r(1), r(2)))))
    }
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
    // group (stopping the other trainings' Spark jobs instead of
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
    val (truth, nTruth, buckets, sq8All, knnAll, knnSearchAll) = try {
      val fTruth = training {
        val t = bruteForceTopKMemo(embeddings, queryPred, k)
          .select(col("query_id"), col("neighbor_id"), lit(true).as("is_truth"))
          .localCheckpoint()
        (t, t.count())
      }
      val fBuckets = training { lshBucketsMulti(embeddings, bits, tables) }
      val fSq8 = training { sq8TopK(embeddings, queryPred, 5 * k).localCheckpoint() }
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
      val all = Seq[Future[Any]](fTruth, fBuckets, fSq8, fKnn, fKnnSearch)
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
      val Seq(tn, b, s, kg, kgs) = res.asInstanceOf[Seq[Any]]
      val (t, n) = tn.asInstanceOf[(DataFrame, Long)]
      (t, n, b.asInstanceOf[DataFrame], s.asInstanceOf[DataFrame],
        kg.asInstanceOf[DataFrame], kgs.asInstanceOf[DataFrame])
    } catch { case e: Throwable =>
      spark.sparkContext.cancelJobGroup(jobGroup)
      pool.shutdownNow()
      throw e
    } finally pool.shutdown()
    val qIds = emb.filter(queryPred).select(col("vec_id"))
    // EVERY method pipeline below takes the RAW `embeddings` frame,
    // not the harness's quantized checkpoint: the trained-index memos
    // key on the input's plan (sq8_codes, local_corpus) or on its
    // `ensureQuantized(input)` PLAN (lsh_buckets_multi, knn_graph), and
    // only the raw frame plans `sameResult` with what the gated q_lsh_topk_multi / q_sq8_* /
    // q_knn_graph* queries pass — so the
    // whole suite trains each index ONCE (this harness runs first
    // alphabetically and the serving queries ride it warm). Feeding
    // `emb` would fork a second, unshared training of every index
    // (the r12 shape: duplicate Lloyd loops at richer params that no
    // serving query ran). The quantize subtree this re-runs inside
    // each method is one map-side projection — noise next to a
    // shared training.
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
    // top-k — one min/max training pass, no Lloyd loop. The
    // 5k code-space pool doubles as sq8_rerank's candidate set: the
    // harness's shared true-cosine scoring of the FULL pool IS the
    // exact re-rank, so its recall equals sq8TopKRerank(pool = 5k)'s
    // by construction.
    val sq8Pairs = sq8All.filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val sq8RerankPairs = sq8All.select(col("query_id"), col("neighbor_id"))
    // knn_graph: the query nodes' rows of the NN-descent graph — the
    // graph-serving answer is the node's own neighbor list
    val knnPairs = knnAll.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("neighbor_id"))
    // knn_graph_search: the beam walk from global entry points — the
    // out-of-corpus serving read (navigability, not list membership)
    val knnSearchPairs = knnSearchAll.filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val cand = multiPairs.withColumn("method", lit("lsh_multi"))
      .unionByName(ivfPairs.withColumn("method", lit("ivf")))
      .unionByName(sq8Pairs.withColumn("method", lit("sq8")))
      .unionByName(sq8RerankPairs.withColumn("method", lit("sq8_rerank")))
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
    require(hops >= 0 && beam >= 1 && k >= 1,
      s"bad search params: hops=$hops beam=$beam k=$k")
    val e = ensureQuantized(embeddings)
    val g = knnGraph(e, kGraph, rounds)
      .select(col("vec_id").as("_gnode"), col("neighbor_id"))
    val v = e.select(col("vec_id").as("node"), col("q").as("na"))
      .localCheckpoint()
    val qs = e.filter(queryPred)
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
