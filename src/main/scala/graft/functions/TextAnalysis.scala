package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table (doc_id, text, lang, source, n_chars). All
  * expressions are built from codegen'd `org.apache.spark.sql.functions`
  * (no UDFs), so they inline into whole-stage codegen and scale as pure
  * map-side work — no shuffle at any size.
  *
  * Every operator has an exactly-matching DuckDB oracle (TextQueries):
  * token boundaries, regex classes, and arithmetic are chosen to be
  * engine-portable (int-division-free, no post-FP rounding).
  */
object TextAnalysis {

  /** Whitespace tokenization of normalized text. */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Token/char statistics per document (token counting — the
    * whitespace path; see `bpeishTokens` for the regex path). */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("n_chars"),
      length(col("text")).cast("long").as("len_chars"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      length(regexp_replace(col("text"), "\\s", "")).cast("long").as("n_nonspace_chars"))

  /** BPE-ish regex token count: runs of letters, runs of digits, or a
    * single non-space symbol — the classic pre-tokenizer shape. */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))

  /** Distributed BPE pair statistics — the inner loop of BPE tokenizer
    * TRAINING: count adjacent character pairs WITHIN each word across
    * the corpus and report the top-k merge candidates (count DESC, pair
    * ASC). A trainer recomputes exactly this table every merge round.
    *
    * Scale shape: pairs are built map-side from the row's own token
    * array (nested `transform` over words, `Column.substr` windows per
    * word — the text never explodes to a token stream, let alone
    * shuffles one); the only exchange is the map-side-combined
    * 2-char-pair count aggregation, and the top-k is a TakeOrdered,
    * not a global sort. */
  def bpePairCounts(docs: DataFrame, k: Int): DataFrame = {
    val pairsOfWord = (w: Column) =>
      when(length(w) >= 2,
        transform(sequence(lit(1), length(w) - 1), i => w.substr(i, lit(2))))
        .otherwise(array().cast("array<string>"))
    docs
      .select(explode(flatten(transform(tokens(col("text")), pairsOfWord))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(k)
  }

  /** BPE tokenizer TRAINING (Sennrich et al., "Neural Machine
    * Translation of Rare Words with Subword Units", ACL 2016): the
    * full greedy merge loop, not just one round's pair table
    * (`bpePairCounts` is the inner statistic). Returns the learned
    * merge rules `(rank, left, right, n)` in merge order.
    *
    * Scale shape — the classic trainer's two-tier layout:
    *  - ONE corpus pass builds the word-frequency table (vocab-sized,
    *    orders of magnitude smaller than the corpus; localCheckpointed
    *    so merge rounds never re-touch the corpus);
    *  - each of the `nMerges` rounds is a map-side pair explode +
    *    map-side-combined count over that small table, ONE collected
    *    argmax row (metadata-sized driver state), and a codegen'd
    *    literal string replace. Cost per round is O(vocab), never
    *    O(corpus).
    *
    * Engine-portable by construction: counts are exact integer sums of
    * word frequencies; the argmax tie-breaks (count DESC, left ASC,
    * right ASC) on binary string order; and the merge itself is a
    * LITERAL left-to-right `replace` — identical semantics in Spark's
    * UTF8String.replace and DuckDB's replace(), which is exactly BPE's
    * left-to-right merge application. Words are kept as space-wrapped
    * symbol strings (" h  e  y ": every symbol wrapped in its own
    * spaces, so adjacent symbols are separated by TWO spaces) — the
    * pair (l, r) occurs iff " l  r " occurs, consecutive merges of the
    * same symbol behave like the reference implementation ("a a a a"
    * merges to "aa aa", not "aa a a"), and a replacement (" lr ")
    * restores the invariant. */
  def bpeTrain(docs: DataFrame, nMerges: Int): DataFrame =
    bpeMerges(docs, nMerges)._2

  /** The trained merge rules, as (collected (l, r, count) triples in
    * rank order, the same rules as a DataFrame). Shared by `bpeTrain`
    * (returns the frame) and `bpeApply` (folds the triples into a
    * replace chain); the post-merge word-frequency state itself is
    * training-internal and discarded.
    *
    * Training is memoized per (input plan, nMerges) via `IndexMemo`:
    * the eager per-round driver-collected argmax loop is the expensive
    * part, and `bpeTrain` / `bpeApply` / `bpeFertility` over the same
    * corpus would otherwise each re-run it. The cached artifact is the
    * rules frame — a LocalRelation of at most nMerges rows — so the
    * triples re-collect from it for free on a hit. */
  private def bpeMerges(docs: DataFrame, nMerges: Int): (Seq[(String, String, Long)], DataFrame) = {
    val rules = IndexMemo("bpeMerges", docs, nMerges)(trainMerges(docs, nMerges))
    val triples = rules.collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    (triples, rules)
  }

  private def trainMerges(docs: DataFrame, nMerges: Int): DataFrame = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val spark = docs.sparkSession
    var state = docs
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      // (?s): Java's "." skips Unicode line terminators (u0085, u2028,
      // u2029) that are NOT \s in Java and so can sit INSIDE a word —
      // unwrapped they'd glue onto the neighboring symbol here while
      // the apply-side \S wrap (and the oracle's RE2 ".") treats them
      // as ordinary chars. DOTALL makes every word char a symbol in
      // all three places.
      .select(regexp_replace(col("w"), "(?s)(.)", " $1 ").as("sym"), col("freq"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var round = 0
    var dry = false
    while (round < nMerges && !dry) {
      val syms = split(trim(col("sym")), "  ")
      val m1 = greatest(size(syms) - 1, lit(0))
      val best = state
        .select(col("freq"), explode(arrays_zip(
          slice(syms, lit(1), m1).as("l"), slice(syms, lit(2), m1).as("r"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) dry = true // every word fully merged to one symbol
      else {
        val (l, r, n) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((l, r, n))
        round += 1
        // Materialize the merged state only if another round will read
        // it — the final round's state has no consumer.
        if (round < nMerges)
          state = state
            .withColumn("sym", replace(col("sym"), lit(s" $l  $r "), lit(s" $l$r ")))
            .localCheckpoint()
      }
    }
    import spark.implicits._
    merges.toSeq.zipWithIndex
      .map { case ((l, r, n), i) => (i + 1, l, r, n) }
      .toDF("rank", "lhs", "rhs", "n")
  }

  /** `bpeApply` with PRE-TRAINED merge rules — the composition seam
    * for callers chaining several apply-side queries (fertility,
    * budgeting) over one training pass: train once with `bpeTrain` /
    * `bpeMerges`, fold the same rules many times. */
  def bpeApplyTrained(docs: DataFrame, merges: Seq[(String, String, Long)],
                      extraCols: Seq[String] = Nil): DataFrame = {
    val wrapped = regexp_replace(lower(col("text")), "(\\S)", " $1 ")
    val merged = merges.foldLeft(wrapped) { case (c, (l, r, _)) =>
      replace(c, lit(s" $l  $r "), lit(s" $l$r "))
    }
    docs.select(
      col("doc_id") +: extraCols.map(col) :+
        size(tokens(col("text"))).cast("long").as("n_words") :+
        size(split(trim(merged), "\\s+")).cast("long").as("n_bpe_tokens"): _*)
  }

  /** Apply-side of the trained tokenizer: per-doc token counts under
    * the `nMerges`-rule BPE vocab (the "how many tokens is this corpus
    * under MY tokenizer" budgeting pass). The whole text is wrapped in
    * one regexp pass (every non-space char becomes " c "), the learned
    * merges applied as a nested literal-replace chain IN RANK ORDER
    * (later merges may consume earlier merges' output), and the
    * surviving symbols counted. Word boundaries need no special
    * marker: between words the original whitespace survives wrapping,
    * so cross-word symbol gaps never equal the TWO-space intra-word
    * separator and no merge can span words. Map-side only — one scan,
    * zero exchanges. */
  def bpeApply(docs: DataFrame, nMerges: Int,
               extraCols: Seq[String] = Nil): DataFrame =
    bpeApplyTrained(docs, bpeMerges(docs, nMerges)._1, extraCols)

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on")

  /** The bounded composite quality score (one expression shared by
    * `qualityScore` and `calibratedQuality` so the two can never
    * drift). All ratios are double divisions of exact integers, so the
    * value is bit-identical across engines. */
  private def compositeQuality: Column = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val stopCnt = size(filter(toks, t => t.isInCollection(stopwords))).cast("double")
    val nonSpace = length(regexp_replace(col("text"), "\\s", "")).cast("double")
    ((stopCnt / nTok) * 0.4) +
      (least(nTok / 100.0, lit(1.0)) * 0.3) +
      (least((nonSpace / nTok) / 8.0, lit(1.0)) * 0.3)
  }

  /** Quality scoring: stopword ratio, average token length, and a
    * bounded composite score. */
  def qualityScore(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val stopCnt = size(filter(toks, t => t.isInCollection(stopwords))).cast("double")
    val nonSpace = length(regexp_replace(col("text"), "\\s", "")).cast("double")
    val punct = length(col("text")) -
      length(regexp_replace(col("text"), "[.,;:!?'\"()\\[\\]-]", ""))
    docs.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      (stopCnt / nTok).as("stopword_ratio"),
      (nonSpace / nTok).as("avg_token_len"),
      punct.cast("long").as("n_punct"),
      compositeQuality.as("quality_score"))
  }

  /** Hashed linear quality classifier — the fastText/CCNet-style
    * filter shape (Joulin et al. 2016; Wenzek et al., "CCNet", 2020):
    * features are unigrams + bigrams hashed into `dim` buckets
    * (hashing trick), the doc's score is the mean bucket weight, and
    * keep = score >= 0. Weights here are a DETERMINISTIC md5-derived
    * stub in [-1000, 1000] centi-units standing in for a trained
    * vector — the integer weight-table seam is exactly where a real
    * model's array plugs in (broadcast lookup or generated expression,
    * same plan either way).
    *
    * Scale shape: everything happens INSIDE the row — tokenize,
    * bigram zip, hash, weight lookup and the integer sum are one
    * whole-stage-codegen'd projection over the scan; 0 exchanges at
    * any corpus size. The emitted sum is an exact int64 (|w| <= 1000,
    * so overflow needs 9·10^15 features in one doc) and `score` is
    * ONE double division of exact integers — oracle-portable. */
  /** Unigram + bigram feature array of a doc's text (the hashing-trick
    * feature space shared by the stub and trained classifier paths). */
  private def qualityFeats: Column = {
    val toks = tokens(col("text"))
    val m1 = greatest(size(toks) - 1, lit(0))
    val bigrams = zip_with(slice(toks, lit(1), m1), slice(toks, lit(2), m1),
      (a, b) => concat(a, lit(" "), b))
    concat(toks, bigrams)
  }

  def hashedQualityScore(docs: DataFrame, dim: Long = 1L << 20): DataFrame = {
    val feats = qualityFeats
    // w(f) = md5-derived centi-weight of f's hash bucket
    def bucket(f: Column): Column =
      conv(substring(md5(f), 1, 8), 16, 10).cast("long") % dim
    def weight(f: Column): Column =
      conv(substring(md5(concat(lit("w"), bucket(f).cast("string"))), 1, 8), 16, 10)
        .cast("long") % 2001L - 1000L
    docs.select(
      col("doc_id"), col("lang"),
      size(feats).cast("long").as("n_feats"),
      aggregate(feats, lit(0L), (acc, f) => acc + weight(f)).as("w_sum"))
      .withColumn("score",
        col("w_sum").cast("double") / (col("n_feats").cast("double") * 1000.0))
      .withColumn("keep", when(col("w_sum") >= 0L, 1L).otherwise(0L))
  }

  /** TRAINED-weight form of `hashedQualityScore` — the seam a real
    * fastText/CCNet model plugs into: `weights` is a (bucket: long,
    * w: long) table of integer centi-weights (at most `dim` rows — a
    * 2^20-bucket model is ~16 MB, always broadcastable); buckets
    * absent from the table weigh 0, the sparse-model convention.
    * Same output contract as the stub (n_feats, exact int64 w_sum,
    * score = w_sum / (n_feats·1000), keep = w_sum >= 0).
    *
    * Scale shape: features explode map-side, the weight lookup is a
    * BROADCAST hash join (no shuffle of the feature stream), and the
    * per-doc re-aggregation partial-aggregates before its one
    * doc_id-keyed exchange — the unavoidable cost of table-driven
    * weights vs the stub's in-row arithmetic. Docs with zero features
    * keep their row (w_sum = 0) via the left join back to the base. */
  def hashedQualityScoreWith(docs: DataFrame, weights: DataFrame,
                             dim: Long = 1L << 20): DataFrame = {
    // ONE feature-extraction pass (r20, guide §4): the old spelling
    // tokenized + bigrammed the corpus on BOTH join sides (the base
    // projection for n_feats and the exploded stream for the lookup);
    // n_feats now rides the same per-doc aggregation as w_sum
    // (count of exploded rows == size of the array — explode emits
    // one row per element, null elements included), and the base side
    // shrinks to a column-pruned (doc_id, lang) scan. Docs with zero
    // features keep their row (n_feats = 0, w_sum = 0) via the left
    // join, exactly as before.
    val sums = docs.select(col("doc_id"), explode(qualityFeats).as("f"))
      .select(col("doc_id"),
        (conv(substring(md5(col("f")), 1, 8), 16, 10).cast("long") % dim).as("bucket"))
      .join(broadcast(weights.select(col("bucket"), col("w"))), Seq("bucket"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("_nf"), sum(coalesce(col("w"), lit(0L))).as("_ws"))
    docs.select(col("doc_id"), col("lang")).join(sums, Seq("doc_id"), "left")
      .withColumn("n_feats", coalesce(col("_nf"), lit(0L))).drop("_nf")
      .withColumn("w_sum", coalesce(col("_ws"), lit(0L))).drop("_ws")
      .withColumn("score",
        col("w_sum").cast("double") / (col("n_feats").cast("double") * 1000.0))
      .withColumn("keep", when(col("w_sum") >= 0L, 1L).otherwise(0L))
  }

  /** Stub-derived sparse weight table: one (bucket, w) row per
    * DISTINCT feature bucket present in the corpus, centi-weights
    * md5-derived under `salt` — the deterministic stand-in that lets
    * the trained-weight path be oracle-gated (DuckDB re-derives the
    * same table) and spec-checked for equivalence with the in-row
    * stub (salt "w" reproduces `hashedQualityScore` exactly). */
  def stubWeightTable(docs: DataFrame, salt: String,
                      dim: Long = 1L << 20): DataFrame =
    // Memoized per (docs plan, salt, dim): the weight table is
    // corpus-derived model state (vocab-bucket-sized, already assumed
    // broadcastable by the scoring join) and each scoring call was
    // re-running the full feature explode + distinct to re-derive it.
    IndexMemo("stub_weights", docs, (salt, dim)) {
      docs.select(explode(qualityFeats).as("f"))
        .select((conv(substring(md5(col("f")), 1, 8), 16, 10).cast("long") % dim)
          .as("bucket"))
        .distinct()
        .select(col("bucket"),
          (conv(substring(md5(concat(lit(salt), col("bucket").cast("string"))), 1, 8), 16, 10)
            .cast("long") % 2001L - 1000L).as("w"))
        .localCheckpoint()
    }

  /** Count-ratio trainer for the `hashedQualityScoreWith` seam: fit
    * integer centi-weights from a LABELED sample (doc_id, text,
    * label ∈ {0, 1}; 1 = keep-worthy). Per feature bucket b,
    * `w(b) = (1000 · (n_pos − n_neg)) div (n_pos + n_neg)` over the
    * bucket's occurrence counts in positive vs negative docs — the
    * bounded [-1000, 1000] discretized log-odds-sign a CCNet-style
    * filter learns, all-integer so the fitted table is deterministic
    * for a given sample. Zero-weight buckets are dropped (the sparse
    * convention `hashedQualityScoreWith` treats as w = 0).
    *
    * Scale shape: features explode map-side off the labeled SAMPLE
    * (training data, not the corpus), one bucket-keyed partial-
    * aggregating exchange, and the result is at most `dim` rows —
    * always broadcastable into the scoring join. */
  def trainQualityWeights(labeled: DataFrame, dim: Long = 1L << 20): DataFrame =
    labeled.select(col("label"), explode(qualityFeats).as("f"))
      .select(col("label"),
        (conv(substring(md5(col("f")), 1, 8), 16, 10).cast("long") % dim).as("bucket"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("label") === 1L, 1L).otherwise(0L)).as("np"),
           sum(when(col("label") === 1L, 0L).otherwise(1L)).as("nn"))
      .select(col("bucket"),
        expr("CAST((1000 * (np - nn)) div (np + nn) AS LONG)").as("w"))
      .filter(col("w") =!= 0L)

  /** Cross-source quality calibration: within each source, the doc's
    * percentile rank of `quality_score` in [0,1] — so ONE global
    * threshold on the calibrated value selects the same FRACTION from
    * every source, regardless of each source's raw-score distribution
    * (raw scales differ per crawl; their ranks are comparable).
    *
    * 100 TB shape: a single range-partitioned global rank over the
    * total order (source, score, doc_id) — `globalRank`'s
    * no-single-partition-window discipline, immune to the per-source
    * skew a `partitionBy(source)` window would concentrate on one
    * executor — then a broadcast sources-sized (offset, count)
    * correction turns global ranks into within-source ranks. */
  def calibratedQuality(docs: DataFrame): DataFrame = {
    val scored = docs.select(col("source"), col("doc_id"),
      compositeQuality.as("quality_score"))
    val ranked = graft.operators.SpendingReport.globalRank(
      scored, Seq(col("source").asc, col("quality_score").asc, col("doc_id").asc), "_gr")
    val bySource = ranked.groupBy(col("source"))
      .agg(min(col("_gr")).as("_off"), count(lit(1)).as("_n"))
    ranked.join(broadcast(bySource), Seq("source"))
      .withColumn("r_in_source", (col("_gr") - col("_off") + 1L).cast("long"))
      .withColumn("pctl",
        when(col("_n") === 1L, lit(0.0))
          .otherwise((col("r_in_source") - 1L).cast("double") /
            (col("_n") - 1L).cast("double")))
      .select(col("source"), col("doc_id"), col("quality_score"),
        col("r_in_source"), col("pctl"))
  }

  /** Language-ID by stopword-marker voting (n-gram-free heuristic that
    * is deterministic and engine-portable): count language-marker words
    * and take the argmax with a fixed preference order. The corpus
    * carries a ground-truth `lang` column; `agrees` reports whether the
    * heuristic matches it. */
  def languageId(docs: DataFrame): DataFrame = {
    def score(markers: Seq[String]): Column =
      markers.map(m => regexp_count(lower(col("text")), lit("\\b" + m + "\\b")))
        .reduce(_ + _).cast("long")
    val en = score(Seq("the", "and", "of", "is"))
    val es = score(Seq("el", "la", "de", "que"))
    val fr = score(Seq("le", "la", "et", "est"))
    docs.select(col("doc_id"), col("lang"),
        en.as("s_en"), es.as("s_es"), fr.as("s_fr"))
      .withColumn("lang_pred",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"), lit("en"))
          .when(col("s_es") >= col("s_fr"), lit("es"))
          .otherwise(lit("fr")))
      .withColumn("agrees", (col("lang_pred") === col("lang")).cast("boolean"))
  }

  /** Per-document keyword extraction: the top-k non-stopword terms by
    * in-document frequency, with the term's corpus document frequency
    * attached (the integer ingredients of tf-idf — ranking stays on
    * exact integers with deterministic tie-breaks, so the output is
    * engine-portable; multiplying in a float idf would not be).
    * Shape: one explode + two hash aggregations + a window per doc —
    * every shuffle keyed on doc_id or term, no all-pairs anything. */
  def topTerms(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col("doc_id"),
        explode(tokens(col("text"))).as("term"))
      .filter(!col("term").isInCollection(stopwords))
    val tf = tok.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("term").asc)
    tf.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .join(df, Seq("term"))
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"))
  }

  /** Per-document keyword extraction — top-k terms by tf·idf, with
    * `docRarity`'s log-free integer idf surrogate: score =
    * tf · (scale div df), an exact BIGINT (truncating division mirrors
    * DuckDB `//`), monotone in the same direction as tf·log(N/df) and
    * oracle-gateable where the transcendental is not. Unlike
    * `topTerms`' raw-tf rank, the df discount demotes corpus-ubiquitous
    * terms even when they dominate a document (spec pins an order the
    * two rank differently). Ties break on term ASC; (doc, term) is
    * unique, so the rank is total. Shape: term-keyed tf/df aggs + one
    * term-keyed join + a per-doc rank window — every stage keyed, the
    * token stream shuffles once into (doc, term) counts. */
  def tfidfKeywords(docs: DataFrame, k: Int,
                    scale: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col("doc_id"),
        explode(tokens(col("text"))).as("term"))
      .filter(!col("term").isInCollection(stopwords))
    val tf = tok.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfr, Seq("term"))
      .withColumn("score", col("tf") * expr(s"CAST($scale AS BIGINT) div df"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"),
        col("df"), col("score"))
  }

  /** Rarity-weighted document scoring — the corpus-level importance
    * weight a pipeline attaches to each document before quality-aware
    * sampling: documents dense in rare vocabulary score high, documents
    * made of ubiquitous terms score low. Classic idf would be
    * `log(N/df)`, but transcendentals are not oracle-gateable, so each
    * distinct term contributes the INTEGER weight `scale div df`
    * (truncating division — `//` in DuckDB) and the per-document score
    * is an exact BIGINT sum: order-independent, engine-portable, and
    * monotone in the same direction as idf. `rarity_per_term`
    * (score/n_terms, one IEEE division on exact operands) normalizes
    * away document length.
    *
    * Shape: distinct (doc,term) pairs, a term-partitioned window to
    * attach df (one term shuffle, no vocab join), one doc_id
    * aggregation — three keyed exchanges, nothing global, the text
    * column dropped before the first shuffle. */
  def docRarity(docs: DataFrame, scale: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = docs.select(col("doc_id"),
        explode(tokens(col("text"))).as("term"))
      .filter(!col("term").isInCollection(stopwords))
      .distinct()
    terms
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(expr(s"CAST($scale AS BIGINT) div df")).as("rarity_score"))
      .withColumn("rarity_per_term",
        col("rarity_score").cast("double") / col("n_terms").cast("double"))
  }

  /** Repetition/boilerplate quality filters — the classic
    * training-corpus heuristics (the duplicate-n-gram and
    * most-common-word families popularized by the C4 and Gopher corpus
    * papers, both public): per document,
    *  - `top_token_frac`: frequency of the most common token / total
    *    tokens (template/boilerplate pages score high);
    *  - `dup_token_ratio`: 1 − distinct/total tokens;
    *  - `dup_2gram_frac`: 1 − distinct/total 2-grams (repeated phrasing);
    *  - `passes_repetition`: both fractions under their thresholds
    *    (docs with no 2-grams pass that test vacuously).
    * Shape: one posexplode + doc-keyed hash aggregations — every
    * shuffle is on doc_id or (doc_id, token), nothing global, so the
    * operator scales as an ordinary grouped aggregation. All ratios
    * are double divisions of exact integers (engine-portable). */
  def repetitionStats(docs: DataFrame,
                      topTokenMax: Double = 0.2,
                      dup2gramMax: Double = 0.2): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(tokens(col("text"))).as("tok"))
    val tf = tok.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val t = tf.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
           count(lit(1)).as("n_distinct_tokens"),
           max(col("c")).as("max_tf"))
    val gf = Dedup.shingleRows(docs, 2)
      .groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("c"))
    val g = gf.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_2grams"),
           count(lit(1)).as("n_distinct_2grams"))
    t.join(g, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_distinct_tokens").cast("long").as("n_distinct_tokens"),
        (col("max_tf").cast("double") / col("n_tokens").cast("double"))
          .as("top_token_frac"),
        (lit(1.0) - col("n_distinct_tokens").cast("double")
          / col("n_tokens").cast("double")).as("dup_token_ratio"),
        coalesce(col("n_2grams"), lit(0L)).cast("long").as("n_2grams"),
        (lit(1.0) - col("n_distinct_2grams").cast("double")
          / col("n_2grams").cast("double")).as("dup_2gram_frac"))
      .withColumn("passes_repetition",
        (col("top_token_frac") <= topTokenMax &&
          coalesce(col("dup_2gram_frac") <= dup2gramMax, lit(true))).cast("boolean"))
  }

  /** Token-length histogram per language: the length-distribution
    * diagnostic that drives context-window packing and max-seq-len
    * choices. Integer bucket floor (n_toks DIV width × width), one
    * grouped aggregation — the output is #langs × #buckets rows no
    * matter the corpus size. */
  def tokenLengthHistogram(docs: DataFrame, bucketWidth: Int = 16): DataFrame =
    docs.select(col("lang"),
        size(tokens(col("text"))).cast("long").as("n_toks"))
      .withColumn("bucket_lo",
        expr(s"n_toks DIV $bucketWidth") * bucketWidth)
      .groupBy(col("lang"), col("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("sum_tokens"),
        min(col("n_toks")).as("min_tokens"),
        max(col("n_toks")).as("max_tokens"))

  /** Corpus-hygiene funnel: the composed keep/drop policy a training
    * pipeline runs before tokenization, as ONE operator — each doc gets
    * its FIRST failing rule (evaluation order: too_short, lang,
    * repetition, low_quality) or keep=true. Emitting per-doc decisions
    * rather than just counts keeps the whole funnel oracle-checkable
    * and lets downstream stages anti-join the drops.
    *
    * All rule inputs are exact-integer ratios/composites shared with
    * `qualityScore`/`repetitionStats` (bit-identical across engines);
    * the plan is those operators' doc_id-keyed aggregations plus
    * doc_id-keyed joins — nothing global, so the funnel scales exactly
    * as its inputs do. A NULL `dup_2gram_frac` (doc with < 2 tokens)
    * skips the repetition rule in both engines. */
  def corpusFilter(docs: DataFrame,
                   minTokens: Long = 20L,
                   allowedLangs: Seq[String] = Seq("en", "fr", "es", "de"),
                   maxDup2gram: Double = 0.05,
                   minQuality: Double = 0.30): DataFrame =
    // Memoized per (corpus plan, rule params) like the trained
    // indexes: the verdict frame is doc_id-keyed and NARROW (no
    // text), and three gates ride the same cascade (q_corpus_filter,
    // q_filter_attrition, q_curate_ledger) — each was re-running the
    // two tokenize passes. At 100 TB the filter verdict is
    // materialized once at ingest and every curation revision reads
    // it (the signature-store discipline).
    IndexMemo("corpus_filter", docs,
      (minTokens, allowedLangs, maxDup2gram, minQuality)) {
      val q = qualityScore(docs)
        .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      val r = repetitionStats(docs)
        .select(col("doc_id"), col("dup_2gram_frac"))
      docs.select(col("doc_id"), col("lang"))
        .join(q, Seq("doc_id"))
        .join(r, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          when(col("n_tokens") < minTokens, lit("too_short"))
            .when(!col("lang").isInCollection(allowedLangs), lit("lang"))
            .when(col("dup_2gram_frac") > maxDup2gram, lit("repetition"))
            .when(col("quality_score") < minQuality, lit("low_quality"))
            .as("drop_reason"))
        .withColumn("keep", col("drop_reason").isNull)
        .localCheckpoint()
    }

  /** Filter-cascade attrition — "where does my data die": per ordered
    * `corpusFilter` stage, how many docs ENTERED the stage (survived
    * every earlier rule), how many it dropped, how many flowed on, and
    * the stage's drop share. Derived entirely from `corpusFilter`'s
    * first-failing-reason column: because the reason IS the first
    * failed stage, stage i's intake = total − Σ drops of stages < i —
    * no need to re-run the cascade once per stage. The per-reason agg
    * is the only fact-sized step; the cumulative window runs on the
    * 4-row stage frame. */
  def filterAttrition(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stages = Seq("too_short", "lang", "repetition", "low_quality")
    val fc = corpusFilter(docs) // memo-checkpointed
    val total = fc.agg(count(lit(1)).as("n_total"))
    val drops = fc.filter(col("drop_reason").isNotNull)
      .groupBy(col("drop_reason")).agg(count(lit(1)).as("_n"))
    val stageDim = docs.sparkSession
      .createDataFrame(stages.zipWithIndex.map { case (s, i) => (s, (i + 1).toLong) })
      .toDF("stage", "stage_idx")
    val w = Window.orderBy(col("stage_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    stageDim
      .join(drops.withColumnRenamed("drop_reason", "stage"), Seq("stage"), "left")
      .withColumn("n_dropped", coalesce(col("_n"), lit(0L)))
      .crossJoin(broadcast(total))
      .withColumn("n_in",
        col("n_total") - coalesce(sum(col("n_dropped")).over(w), lit(0L)))
      .withColumn("n_out", col("n_in") - col("n_dropped"))
      .withColumn("drop_share",  // guard the 0-intake stage: no NaN rows
        when(col("n_in") > 0L,
          col("n_dropped").cast("double") / col("n_in").cast("double")))
      .select(col("stage"), col("stage_idx"), col("n_in"),
        col("n_dropped"), col("n_out"), col("drop_share"))
  }

  /** PII redaction — training-corpus hygiene: emails, IPv4 addresses,
    * and international-format phone numbers are replaced by typed
    * placeholders, in that fixed order (each count is taken on the text
    * the pattern actually saw, so counts equal replacements). The
    * patterns stay inside the common subset of Java regex and RE2 —
    * character classes, bounded repetition, \b — no backreferences or
    * lookaround, so the DuckDB oracle applies the IDENTICAL patterns.
    * Pure map-side (zero shuffle); emits the redacted text's md5 so
    * gate results stay small — production callers select `redacted`
    * via `redactPiiText`. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val phoneRe = "\\+[0-9][0-9 ()./-]{6,}[0-9]"

  /** The redaction pipeline as columns: (n_emails, n_ips, n_phones,
    * redacted). */
  /** Unicode/control hygiene normalization — the first map-side pass of
    * any text-ingest pipeline: strip zero-width code points
    * (ZWSP/ZWNJ/ZWJ/BOM), strip C0 control characters and DEL (the
    * whitespace controls \t \n \r etc. survive to the collapse step),
    * collapse every whitespace run to one space, trim. Pure codegen'd
    * regexp chain — 0 shuffles, no UDF — and every class is in the
    * Java-regex/RE2 common subset, so the normalized text is
    * oracle-gated byte-for-byte via md5. Emits the hygiene counters a
    * corpus report wants alongside the digest. */
  def normalizeText(docs: DataFrame): DataFrame = {
    val noZw = regexp_replace(col("text"), "[\\u200B\\u200C\\u200D\\uFEFF]", "")
    val noCtl = regexp_replace(noZw, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    val norm = trim(regexp_replace(noCtl, "\\s+", " "))
    docs.select(col("doc_id"),
      md5(norm).as("norm_md5"),
      length(norm).cast("long").as("n_chars_norm"),
      (length(col("text")) - length(norm)).cast("long").as("n_removed"))
  }

  /** Normalized full text (the production projection; `normalizeText`
    * is the gate shape — md5 + counters). */
  def normalizeTextFull(docs: DataFrame): DataFrame = {
    val noZw = regexp_replace(col("text"), "[\\u200B\\u200C\\u200D\\uFEFF]", "")
    val noCtl = regexp_replace(noZw, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    docs.withColumn("text", trim(regexp_replace(noCtl, "\\s+", " ")))
  }

  def redactPii(docs: DataFrame): DataFrame = {
    val t1 = regexp_replace(col("text"), emailRe, "<EMAIL>")
    val t2 = regexp_replace(t1, ipRe, "<IP>")
    val t3 = regexp_replace(t2, phoneRe, "<PHONE>")
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(emailRe)).cast("long").as("n_emails"),
      regexp_count(t1, lit(ipRe)).cast("long").as("n_ips"),
      regexp_count(t2, lit(phoneRe)).cast("long").as("n_phones"),
      md5(t3).as("redacted_md5"))
  }

  /** Redacted full text (the production projection; not the gate shape
    * because hashing keeps oracle outputs small). */
  def redactPiiText(docs: DataFrame): DataFrame = {
    val t1 = regexp_replace(col("text"), emailRe, "<EMAIL>")
    val t2 = regexp_replace(t1, ipRe, "<IP>")
    docs.withColumn("redacted", regexp_replace(t2, phoneRe, "<PHONE>"))
  }

  /** Fixed-token document chunking with overlap — the pre-training
    * segmentation step (long documents become sliding context windows;
    * short documents one chunk). Chunk i covers tokens
    * [i·stride, i·stride + chunkTokens) with stride =
    * chunkTokens − overlap; the count arithmetic is pure positive
    * integer division, so it is engine-portable (no float ceil).
    * Map-side: one tokenize + one explode per document, no shuffle —
    * 100 TB cost is a single pass. Emits the chunk's md5 rather than
    * its text so results stay small and oracle-hashable; production
    * callers select the sliced tokens instead. */
  def chunkDocs(docs: DataFrame, chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got overlap=$overlap chunkTokens=$chunkTokens")
    val stride = chunkTokens - overlap
    docs
      .withColumn("_toks", tokens(col("text")))
      .withColumn("_n", size(col("_toks")).cast("long"))
      // chunks-1 = ceil((n - chunk)/stride) via positive-only int div
      .withColumn("_last", expr(
        s"CASE WHEN _n <= $chunkTokens THEN CAST(0 AS BIGINT) " +
          s"ELSE (_n - $chunkTokens + ${stride - 1}) DIV $stride END"))
      .select(col("doc_id"), col("_toks"), col("_n"),
        explode(expr("sequence(CAST(0 AS BIGINT), _last)")).as("chunk_id"))
      .select(
        col("doc_id"),
        col("chunk_id"),
        least(lit(chunkTokens.toLong), col("_n") - col("chunk_id") * stride)
          .as("n_chunk_tokens"),
        md5(expr(s"array_join(slice(_toks, chunk_id * $stride + 1, $chunkTokens), ' ')"))
          .as("chunk_md5"))
  }

  /** Corpus-wide bigram collocation mining — the phrase/boilerplate
    * discovery pass a training pipeline runs to find terms that should
    * be treated as units ("new york") and template phrasing that should
    * be down-weighted. Scores each bigram by lift (pointwise mutual
    * information without the log):
    * p(xy) / (p(x)·p(y)) = n_xy·N_uni·N_uni / (n_x·n_y·N_big),
    * computed as one fixed left-to-right double expression so the value
    * is bit-identical across engines (IEEE mult/div are correctly
    * rounded; only transcendentals diverge — hence no log). Ranking is
    * total-ordered: (lift DESC, w1, w2) and (w1,w2) is the key.
    *
    * Shape: one tokenize pass feeding a unigram-count aggregation and a
    * bigram-count aggregation (both vocab-sized, localCheckpointed once
    * for their two consumers each), then word-keyed joins and a global
    * top-k via TakeOrderedAndProject — no all-pairs work, every shuffle
    * keyed on a token or bigram, so 100 TB cost is two counting passes
    * over vocab-sized intermediates. `minCount` prunes the candidate
    * set BEFORE the joins; totals are taken pre-prune so probabilities
    * stay unconditional. */
  def collocations(docs: DataFrame, minCount: Long = 5L, topK: Int = 50): DataFrame = {
    val uni = docs.select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val big = Dedup.shingleRows(docs, 2)
      .groupBy(col("sh")).agg(count(lit(1)).as("n_xy"))
      .localCheckpoint()
    val totals = uni.agg(sum(col("c")).as("n_uni"))
      .crossJoin(big.agg(sum(col("n_xy")).as("n_big")))
    val cand = big.filter(col("n_xy") >= minCount)
      .select(split(col("sh"), " ").getItem(0).as("w1"),
        split(col("sh"), " ").getItem(1).as("w2"), col("n_xy"))
    cand
      .join(uni.select(col("tok").as("w1"), col("c").as("n_x")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("c").as("n_y")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n_xy"), col("n_x"), col("n_y"),
        (col("n_xy").cast("double") * col("n_uni") / col("n_x")
          * col("n_uni") / col("n_y") / col("n_big")).as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Statistical bigram-LM typicality score per document — the
    * portable form of LM-based quality filtering (the CCNet-style
    * perplexity-bucket idea): a bigram model is trained on the CORPUS
    * ITSELF (just counts — c(w1,w2) and the context total c(w1·)) and
    * each document scores the MEAN conditional probability of its own
    * bigram occurrences. Templated / highly-typical docs score high,
    * novel or noisy docs low; a training-data pipeline keeps the
    * middle band.
    *
    * Engine-portable WITHOUT transcendentals: each per-bigram
    * probability is ONE correctly-rounded IEEE division of exact
    * integer counts, quantized to floor(1e9·p) BEFORE summation, so
    * the per-doc sum is an order-free integer and only the final mean
    * is a (portable) division. True log-perplexity needs ln(), whose
    * low bits IEEE leaves engine-dependent — the quantized-mean
    * formulation is what keeps the score oracle-gateable.
    *
    * Scale shape: bigram occurrence rows shuffle once to count
    * c(w1,w2) and once to count contexts c(w1·); the vocab-sized
    * probability table joins back onto the bigram stream on (w1, w2)
    * — unique-keyed on the build side, so no skew explosion — and the
    * per-doc reduce is a map-side-combined integer sum. Shuffles
    * carry tokens, counts and ids, never documents. */
  def bigramLmScore(docs: DataFrame): DataFrame = {
    // one bigram materialization feeds its three consumers (both
    // count tables + the scoring join)
    val bg = bigramRows(docs).localCheckpoint()
    val scored = bg.join(bigramProbTable(bg), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("pq")).as("sum_pq"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_pq"), lit(0L)).as("sum_pq"),
        when(col("n_bigrams").isNotNull,
          col("sum_pq").cast("double") /
            (col("n_bigrams").cast("double") * 1e9)).as("lm_score"))
  }

  /** (doc_id, w1, w2) bigram occurrence rows. */
  private def bigramRows(docs: DataFrame): DataFrame =
    Dedup.shingleRows(docs, 2)
      .select(col("doc_id"),
        split(col("sh"), " ").getItem(0).as("w1"),
        split(col("sh"), " ").getItem(1).as("w2"))

  /** (w1, w2, pq) quantized conditional-probability table off a bigram
    * occurrence stream: pq = floor(1e9 · c(w1,w2) / c(w1·)). */
  private def bigramProbTable(bg: DataFrame): DataFrame = {
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    c12.join(c1, Seq("w1"))
      .withColumn("pq", floor(lit(1e9) *
        (col("c12").cast("double") / col("c1").cast("double"))).cast("long"))
      .select(col("w1"), col("w2"), col("pq"))
  }

  /** Cross-corpus form of `bigramLmScore` — the actual CCNet shape:
    * the model trains on a REFERENCE corpus (in CCNet, Wikipedia; here
    * any trusted slice) and scores a TARGET corpus against it, so
    * "typical" means typical OF THE REFERENCE. Target bigrams the
    * reference never saw contribute probability 0 and are counted in
    * `n_oov` — the out-of-domain signal (a high-oov doc is not from
    * the reference's distribution at all, which a mean alone would
    * conflate with merely-unusual phrasing). Same quantized-integer
    * portability and shuffle shape as the self-trained form; the
    * probability join becomes a LEFT join. */
  def bigramLmScoreAgainst(ref: DataFrame, docs: DataFrame): DataFrame = {
    val p = bigramProbTable(bigramRows(ref).localCheckpoint())
    val scored = bigramRows(docs).join(p, Seq("w1", "w2"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("pq"), lit(0L))).as("sum_pq"),
        sum(when(col("pq").isNull, 1L).otherwise(0L)).as("n_oov"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(col("sum_pq"), lit(0L)).as("sum_pq"),
        when(col("n_bigrams").isNotNull,
          col("sum_pq").cast("double") /
            (col("n_bigrams").cast("double") * 1e9)).as("lm_score"))
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercased text
    * — the canonical-form hash used by exact dedup. (A rolling-hash
    * 64-bit variant lives in Dedup.simhash64's helpers; md5 is the
    * engine-portable gate.) */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(regexp_replace(trim(lower(col("text"))), "\\s+", " ")).as("fingerprint"))

  /** Boilerplate n-gram removal report (the C4-style "remove repeated
    * lines" pass adapted to single-line docs: the repeated unit is a
    * positional 3-gram instead of a line). A token is REMOVED when any
    * 3-gram covering it occurs in at least `minDf` distinct documents;
    * the report aggregates kept/removed token counts per source.
    *
    * Plan at scale: gram construction is map-side (element_at over the
    * row's own split array — a doc's tokens never leave the row, so the
    * token stream never shuffles); the common set is a digest-keyed agg
    * whose output is tiny by construction (boilerplate = high-df tail,
    * ~1% of distinct grams at minDf=5), so the back-join is
    * AQE-broadcast; coverage positions dedup on (doc_id, pos) —
    * shuffles carry md5 digests, ids and positions, never text.
    * keep_ratio is one double division of two exact integer sums. */
  /** Shared subplan of the boilerplate pair: docs with their token
    * array, and the distinct (doc_id, covpos) positions covered by any
    * common 3-gram. Gram construction is MAP-SIDE: every token of a doc
    * is already in the row's split array, so positional 3-grams come
    * from codegen'd element_at indexing — no window, no shuffle of the
    * token stream. Only md5 DIGESTS of grams shuffle (to the df count),
    * never text: the same digest-keyed discipline as exact dedup /
    * dup_spans. */
  private def boilerplateCovered(docs: DataFrame,
                                 minDf: Int): (DataFrame, DataFrame) = {
    val base = docs.select(col("doc_id"), col("source"),
      tokens(col("text")).as("_arr"))
    // The covered-position table is the family's shared interior —
    // the stats query (boilerplateNgrams) and the transform
    // (boilerplateApply) both derive from it, and each was re-paying
    // the gram explode + df count per call. Memoized per (docs plan,
    // minDf) like the posting tables: (doc_id, covpos) id-rows, no
    // text. At 100 TB the common-gram table is mined once at ingest.
    val covered = IndexMemo("boilerplate_covered", docs, minDf) {
      val grams = base
        .select(col("doc_id"), col("_arr"),
          posexplode(col("_arr")).as(Seq("pos", "tok")))
        .filter(col("pos") + lit(2) < size(col("_arr")))
        .select(col("doc_id"), col("pos"),
          md5(concat_ws(" ", col("tok"),
            element_at(col("_arr"), col("pos") + 2),
            element_at(col("_arr"), col("pos") + 3))).as("_g"))
      val common = grams.groupBy(col("_g"))
        .agg(countDistinct(col("doc_id")).as("_df"))
        .filter(col("_df") >= minDf)
        .select(col("_g"))
      grams.join(common, Seq("_g"))
        .select(col("doc_id"),
          explode(array(col("pos"), col("pos") + 1, col("pos") + 2)).as("covpos"))
        .distinct()
        .localCheckpoint()
    }
    (base, covered)
  }

  def boilerplateNgrams(docs: DataFrame, minDf: Int): DataFrame = {
    val (base, covered) = boilerplateCovered(docs, minDf)
    val removed = covered.groupBy(col("doc_id")).agg(count(lit(1)).as("_removed"))
    val perDoc = base
      .select(col("doc_id"), col("source"), size(col("_arr")).cast("long").as("_n_tok"))
      .join(removed, Seq("doc_id"), "left_outer")
      .withColumn("_removed", coalesce(col("_removed"), lit(0L)))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_n_tok")).as("total_tokens"),
        sum(col("_removed")).as("removed_tokens"),
        sum((col("_removed") > 0).cast("long")).as("docs_touched"),
        ((sum(col("_n_tok")) - sum(col("_removed"))).cast("double") /
          sum(col("_n_tok")).cast("double")).as("keep_ratio"))
  }

  /** The boilerplate TRANSFORM itself, gated: per doc the md5 of the
    * cleaned text (tokens not covered by a common 3-gram, rejoined in
    * position order) and the kept-token count — the oracle rebuilds the
    * identical string, so the cleaning operation is hash-certified, not
    * just its statistics. A fully-cleaned doc keeps the md5 of the
    * empty string (coalesced identically in the oracle). Shape: the
    * shared covered subplan + one anti join on (doc_id, pos) + a
    * per-doc ordered rebuild (collect_list(struct(pos,tok)) sorted —
    * doc-sized arrays, the one place text is genuinely reassembled). */
  def boilerplateApply(docs: DataFrame, minDf: Int): DataFrame = {
    val (base, covered) = boilerplateCovered(docs, minDf)
    val t = base
      .select(col("doc_id"), posexplode(col("_arr")).as(Seq("pos", "tok")))
    // using-join on renamed columns, not cross-Dataset attribute refs:
    // the memoized `covered` can arrive as a checkpointed instance
    // from an earlier query, where df("col") refs trip the ambiguous-
    // self-join detector
    val kept = t
      .join(covered.withColumnRenamed("covpos", "pos"),
        Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        md5(concat_ws(" ",
          expr("transform(array_sort(collect_list(struct(pos, tok))), s -> s.tok)")))
          .as("_md5"),
        count(lit(1)).as("_n_kept"))
    base.select(col("doc_id"))
      .join(kept, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("_md5"), md5(lit(""))).as("clean_md5"),
        coalesce(col("_n_kept"), lit(0L)).as("n_kept"))
  }

  /** Gopher-style rule filter: the multi-rule document quality gate of
    * a pretraining pipeline (Rae et al. 2021's heuristics adapted to
    * this corpus), reported as per-source rule-failure counts and the
    * all-rules pass rate. Every rule is an EXACT integer comparison —
    * average-token-length bounds are cross-multiplied (nonspace vs
    * 3·n_tok and 12·n_tok) instead of divided, the repetition cap is
    * 5·max_tok_count > n_tok (top token above 20%) — so the gate is
    * bit-identical across engines with no FP anywhere. Shape: one
    * map-side stats projection, one (doc_id, tok) agg for the top-token
    * count, one per-source rollup — every shuffle keyed on doc ids or
    * tokens, text never shuffles. */
  def gopherFilter(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val base = docs.select(col("doc_id"), col("source"),
      size(toks).cast("long").as("_n_tok"),
      length(regexp_replace(col("text"), "\\s", "")).cast("long").as("_nonspace"),
      size(array_distinct(filter(toks, t => t.isInCollection(stopwords))))
        .cast("long").as("_n_stop"))
    val topTok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("_c"))
      .groupBy(col("doc_id")).agg(max(col("_c")).as("_max_tok"))
    val flags = base.join(topTok, Seq("doc_id"))
      .withColumn("_f_short", (col("_n_tok") < 20).cast("long"))
      .withColumn("_f_avg_len",
        (col("_nonspace") < col("_n_tok") * 3 ||
         col("_nonspace") > col("_n_tok") * 12).cast("long"))
      .withColumn("_f_stop", (col("_n_stop") < 2).cast("long"))
      .withColumn("_f_repeat", (col("_max_tok") * 5 > col("_n_tok")).cast("long"))
    flags.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_f_short")).as("fail_short"),
        sum(col("_f_avg_len")).as("fail_avg_len"),
        sum(col("_f_stop")).as("fail_stop"),
        sum(col("_f_repeat")).as("fail_repeat"),
        sum(when(col("_f_short") + col("_f_avg_len") + col("_f_stop") +
                 col("_f_repeat") === 0, 1L).otherwise(0L)).as("n_pass"))
      .withColumn("pass_rate",
        col("n_pass").cast("double") / col("n_docs").cast("double"))
  }
}
