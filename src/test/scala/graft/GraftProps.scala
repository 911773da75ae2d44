package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll
import graft.operators.{ReportUpsert, SpendingReport}

/** ScalaCheck properties for the algebraic invariants (SURVEY §5):
  * partition-count invariance, dense-grid/long-form agreement,
  * pct-change degenerate cases, merge idempotence, jaccard bounds.
  * Trial counts are kept small — every trial runs real Spark jobs. */
object GraftProps extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8).withMaxDiscardRatio(10)

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val genRow: Gen[(String, String, String, Double)] = for {
    day <- Gen.choose(1, 5)
    cat <- Gen.oneOf("food", "rent", "toys", "fuel")
    ven <- Gen.oneOf("v1", "v2", "v3")
    amt <- Gen.choose(-500, 5000).map(_ / 100.0)
  } yield (f"2024-01-$day%02d", cat, ven, amt)

  private val genTx = Gen.nonEmptyListOf(genRow)

  private def toTx(rows: List[(String, String, String, Double)]) =
    rows.toDF("dt", "category", "vendor", "amount")
      .selectExpr("to_date(dt) AS txn_date", "category", "vendor", "amount")

  property("paretoContribution is partition-invariant and ends at share 1.0") = forAll(genTx) {
    rows =>
      val tx = toTx(rows)
      // render doubles to bits so a NaN share (grand total exactly 0 —
      // negative amounts make that reachable) still compares equal
      // across partitionings
      def run(df: org.apache.spark.sql.DataFrame) =
        SpendingReport.paretoContribution(df, "category")
          .collect().map(r => (r.getString(0),
            java.lang.Double.doubleToLongBits(r.getDouble(1)),
            java.lang.Double.doubleToLongBits(r.getDouble(2)),
            java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
      val a = run(tx.repartition(1))
      val b = run(tx.repartition(7))
      // driver-side reference: the key LAST in (total DESC, key ASC)
      // order carries cum == grand, so its share is EXACTLY 1.0
      // (decimal prefix sums; never 0.999...) whenever grand != 0 —
      // with negative totals that final key need NOT have the maximum
      // cumulative value, so it is identified by order, not by maxBy
      val totals = rows.groupBy(_._2).map { case (k, rs) =>
        k -> rs.map(r => Math.round(r._4 * 100)).sum
      }
      val grand = totals.values.sum
      val lastKey = totals.toSeq.sortBy { case (k, t) => (-t, k) }.last._1
      val one = java.lang.Double.doubleToLongBits(1.0)
      val shareOk = grand == 0L ||
        a.exists(r => r._1 == lastKey && r._4 == one)
      Prop(a == b && shareOk) :| s"a=$a b=$b lastKey=$lastKey grand=$grand"
  }

  property("windowedEventDedup equals a driver-side reference") = {
    val genEv = Gen.nonEmptyListOf(for {
      id <- Gen.choose(1L, 500L)
      dayUs <- Gen.choose(0L, 6L * 86400000000L)
      user <- Gen.choose(1L, 3L)
      typ <- Gen.oneOf("a", "b")
      v <- Gen.oneOf(1.0, 2.0)
    } yield (id, dayUs, user, typ, v))
    forAll(genEv) { rows0 =>
      // distinct ids; ts from epoch micros
      val rows = rows0.distinctBy(_._1)
      val ev = rows.map { case (id, us, u, t, v) =>
        (id, new java.sql.Timestamp(us / 1000), u, t, v)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
      val got = graft.functions.Dedup.windowedEventDedup(ev, 2)
        .collect().map(_.getLong(0)).toSet
      // reference: per identity key, keep rows whose predecessor (by
      // (ts, id) order) is > 2 days away
      val ref = rows.groupBy(r => (r._3, r._4, r._5)).values.flatMap { g =>
        val sorted = g.sortBy(r => (r._2 / 1000 * 1000, r._1)) // µs->ms truncation like Timestamp
        sorted.zip(None +: sorted.map(Some(_))).collect {
          case (cur, None) => cur._1
          case (cur, Some(prev))
            if (cur._2 / 1000 - prev._2 / 1000) * 1000 > 2L * 86400000000L => cur._1
        }
      }.toSet
      Prop(got == ref) :| s"got=$got ref=$ref"
    }
  }

  property("globalRank equals the single-partition window rank") = forAll(genTx) {
    rows =>
      import org.apache.spark.sql.functions.col
      val totals = toTx(rows).groupBy(col("category"))
        .agg(org.apache.spark.sql.functions
          .sum(col("amount").cast("decimal(14,2)")).cast("double").as("total"))
      val ranked = SpendingReport.globalRank(
        totals, Seq(col("total").asc, col("category").asc), "rank_asc")
        .collect().map(r => (r.getString(0), r.getLong(2))).toMap
      // reference: rank = position in the driver-side total sort
      val expect = totals.collect().map(r => (r.getString(0), r.getDouble(1)))
        .sortBy { case (k, t) => (t, k) }.zipWithIndex
        .map { case ((k, _), i) => (k, i + 1L) }.toMap
      Prop(ranked == expect) :| s"ranked=$ranked expect=$expect"
  }

  property("keyTotals invariant under repartition") = forAll(genTx, Gen.choose(1, 13)) {
    (rows, parts) =>
      val tx = toTx(rows)
      val a = SpendingReport.keyTotals(tx, "category").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).sortBy(_._1).toSeq
      val b = SpendingReport.keyTotals(tx.repartition(parts), "category").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).sortBy(_._1).toSeq
      Prop(a == b) :| s"parts=$parts a=$a b=$b"
  }

  property("denseGrid preserves present cells and zero-fills absent") = forAll(genTx) { rows =>
    val tx = toTx(rows)
    val grid = SpendingReport.denseGrid(tx, "category").collect()
      .map(r => (r.getDate(0).toString, r.getString(1)) -> r.getDouble(2)).toMap
    val long = SpendingReport.bucketKeySums(tx, "category").collect()
      .map(r => (r.getDate(0).toString, r.getString(1)) -> r.getDouble(2)).toMap
    val presentOk = long.forall { case (k, v) => grid(k) == v }
    val absentOk = grid.forall { case (k, v) => long.getOrElse(k, 0.0) == v }
    val sizeOk = {
      val dates = rows.map(_._1).distinct.size
      val cats = rows.map(_._2).distinct.size
      grid.size == dates * cats
    }
    Prop(presentOk && absentOk && sizeOk) :| s"grid=${grid.size}"
  }

  property("pct-change on single-date data is all zero") = forAll(genTx) { rows =>
    val oneDay = toTx(rows.map { case (_, c, v, a) => ("2024-01-01", c, v, a) })
    val vals = SpendingReport.pctChangeLatest(oneDay, "category")
      .collect().map(_.getDouble(1)).toSet
    Prop(vals.subsetOf(Set(0.0)))
  }

  private val genReports: Gen[List[(String, Double, Long)]] =
    Gen.nonEmptyListOf(for {
      day <- Gen.choose(1, 6)
      spent <- Gen.choose(0, 10000).map(_ / 100.0)
      n <- Gen.choose(1L, 50L)
    } yield (f"2024-01-$day%02d", spent, n))
      .map(_.groupBy(_._1).map { case (d, xs) => xs.head }.toList) // unique keys

  private def toReports(rows: List[(String, Double, Long)], tag: String) =
    rows.toDF("dt", "total_spent", "total_transactions")
      .selectExpr("to_date(dt) AS begin_date", "to_date(dt) AS end_date",
        "total_spent", s"'$tag' AS version", "total_transactions")

  private val genEdges: Gen[List[(Long, Long)]] =
    Gen.listOfN(12, for {
      a <- Gen.choose(1L, 15L)
      b <- Gen.choose(1L, 15L) if a != b
    } yield (math.min(a, b), math.max(a, b)))

  property("connectedComponents equals a union-find reference") =
    forAll(genEdges) { edges =>
      // driver-side union-find ground truth
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // canonical truth: node -> min node of its component
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val truth = nodes.groupBy(find).flatMap { case (_, members) =>
        val m = members.min; members.map(_ -> m)
      }.toMap
      // the AUTO path (small-graph driver union-find, r15) and the
      // FORCED-distributed pointer-jumping path (explicit partitions
      // bypasses the fast path) must BOTH equal the reference — this
      // is the pin that licenses the fast path's bit-identical claim
      val gotAuto =
        if (edges.isEmpty) Map.empty[Long, Long]
        else graft.functions.Dedup.connectedComponents(
          edges.toDF("doc_a", "doc_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gotDist =
        if (edges.isEmpty) Map.empty[Long, Long]
        else graft.functions.Dedup.connectedComponents(
          edges.toDF("doc_a", "doc_b"), partitions = 2)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (Prop(gotAuto == truth) :| s"auto=$gotAuto truth=$truth") &&
        (Prop(gotDist == truth) :| s"dist=$gotDist truth=$truth")
    }

  property("merge is idempotent: re-merging the same batch changes nothing") =
    forAll(genReports, genReports) { (e, i) =>
      val existing = toReports(e, "e")
      val incoming = toReports(i, "i")
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getDate(0).toString, r.getDouble(2), r.getString(3), r.getLong(4)))
        .sortBy(_._1).toSeq
      val once = ReportUpsert.merge(existing, incoming)
      val twice = ReportUpsert.merge(once, incoming)
      Prop(canon(once) == canon(twice)) :| s"once=${canon(once)}"
    }

  property("merge keeps exactly the union of keys") =
    forAll(genReports, genReports) { (e, i) =>
      val merged = ReportUpsert.merge(toReports(e, "e"), toReports(i, "i"))
      val keys = merged.collect().map(_.getDate(0).toString).toSet
      Prop(keys == (e.map(_._1).toSet ++ i.map(_._1).toSet))
    }

  property("exact_percentiles: merge-under-repartition invariant, equal to built-in") =
    forAll(Gen.nonEmptyListOf(Gen.choose(-100000, 100000).map(_ / 100.0)),
           Gen.choose(1, 13)) { (xs, parts) =>
      import org.apache.spark.sql.functions.{col, expr}
      val df = xs.toDF("x")
      val custom = df.repartition(parts)
        .agg(graft.plans.ExactPercentiles.exact_percentiles(
          col("x"), Seq(0.25, 0.5, 0.75)))
        .head().getSeq[Double](0)
      val builtin = df
        .agg(expr("percentile(x, array(0.25, 0.5, 0.75))"))
        .head().getSeq[Double](0)
      // bit-equality: arbitrary partial/merge splits may not perturb
      // a single ulp vs the single-partition built-in
      Prop(custom == builtin) :| s"parts=$parts custom=$custom builtin=$builtin"
    }

  private val genDocRows: Gen[List[(String, String)]] =
    Gen.nonEmptyListOf(for {
      src <- Gen.oneOf("sA", "sB", "sC")
      nw <- Gen.choose(1, 8)
      ws <- Gen.listOfN(nw, Gen.oneOf("w1", "w2", "w3", "w4", "w5", "the", "a"))
    } yield (src, ws.mkString(" ")))

  private def toDocs(rows: List[(String, String)]) = {
    import org.apache.spark.sql.functions.lit
    rows.zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) }
      .toDF("doc_id", "source", "text").withColumn("lang", lit("en"))
  }

  property("docRarity invariant under repartition (exact integer weights)") =
    forAll(genDocRows, Gen.choose(1, 13)) { (rows, parts) =>
      val d = toDocs(rows)
      def run(df: org.apache.spark.sql.DataFrame) =
        graft.functions.TextAnalysis.docRarity(df).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      Prop(run(d) == run(d.repartition(parts))) :| s"parts=$parts"
    }

  property("sourceOverlap invariant under repartition, jaccard in (0,1]") =
    forAll(genDocRows, Gen.choose(1, 13)) { (rows, parts) =>
      val d = toDocs(rows)
      def run(df: org.apache.spark.sql.DataFrame) =
        graft.functions.Dedup.sourceOverlap(df).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
      val a = run(d)
      Prop(a == run(d.repartition(parts)) &&
        a.forall(t => t._6 > 0.0 && t._6 <= 1.0)) :| s"parts=$parts"
    }

  property("tokenBudgetMix invariant under repartition; epochs = target/available") =
    forAll(genDocRows, Gen.choose(1, 13)) { (rows, parts) =>
      val d = toDocs(rows)
      val w = Map("en" -> 0.6, "fr" -> 0.4)
      def run(df: org.apache.spark.sql.DataFrame) =
        graft.functions.Sampling.tokenBudgetMix(df, "lang", w, 100000L)
          .collect().map(r => (r.getString(0), r.getLong(1),
            java.lang.Double.doubleToLongBits(r.getDouble(2)),
            java.lang.Double.doubleToLongBits(r.getDouble(3)),
            java.lang.Double.doubleToLongBits(r.getDouble(4)))).toSet
      val a = run(d)
      // epochs must be exactly target/n_tokens bit-for-bit (one IEEE
      // division of exact operands — the portability contract)
      val epochsOk = a.forall { case (_, n, wBits, tBits, eBits) =>
        val target = java.lang.Double.longBitsToDouble(wBits) * 100000.0
        java.lang.Double.doubleToLongBits(target) == tBits &&
          java.lang.Double.doubleToLongBits(target / n.toDouble) == eBits
      }
      Prop(a == run(d.repartition(parts)) && epochsOk) :| s"parts=$parts a=$a"
    }

  property("minhashEstimateQuality invariant under repartition; est within 1/k grid") =
    forAll(genDocRows, Gen.choose(1, 13)) { (rows, parts) =>
      val d = toDocs(rows)
      def run(df: org.apache.spark.sql.DataFrame) =
        graft.functions.Dedup.minhashEstimateQuality(df, 3, 8, 4)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            java.lang.Double.doubleToLongBits(r.getDouble(3)),
            java.lang.Double.doubleToLongBits(r.getDouble(4)),
            java.lang.Double.doubleToLongBits(r.getDouble(5)))).toSet
      val a = run(d)
      // n_match ∈ [1, 8] (banded candidates share ≥ one full band ⇒ ≥ 2
      // matching mins for 4 bands of 2 rows — but a single matching
      // band guarantees only its own rows) and est == n_match/8 exactly
      val gridOk = a.forall { case (_, _, m, eBits, _, _) =>
        m >= 1L && m <= 8L &&
          java.lang.Double.doubleToLongBits(m.toDouble / 8) == eBits
      }
      Prop(a == run(d.repartition(parts)) && gridOk) :| s"parts=$parts"
    }

  property("shingleRows slice/zip form equals the window-lead reference (multiset)") =
    forAll(genDocRows, Gen.choose(1, 4)) { (rows, n) =>
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val d = toDocs(rows)
      // the r1-r7 construction, inlined as the reference semantics:
      // posexplode + per-doc window lead, tail positions dropped
      val toks = d.select(col("doc_id"),
        posexplode(graft.functions.TextAnalysis.tokens(col("text"))).as(Seq("pos", "tok")))
      val reference =
        if (n == 1) toks.select(col("doc_id"), col("tok").as("sh"))
        else {
          val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
          val leads = (1 until n).map(i => lead(col("tok"), i).over(w))
          toks.withColumn("sh", concat_ws(" ", col("tok") +: leads: _*))
            .withColumn("_last", leads.last)
            .filter(col("_last").isNotNull)
            .select(col("doc_id"), col("sh"))
        }
      def multiset(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getString(1)))
          .groupBy(identity).view.mapValues(_.length).toMap
      val zip = multiset(graft.functions.Dedup.shingleRows(d, n))
      val ref = multiset(reference)
      Prop(zip == ref) :| s"n=$n zip=$zip ref=$ref"
    }

  property("posShingleRows positions: sh at pos p rebuilds from the token stream") =
    forAll(genDocRows, Gen.choose(1, 4)) { (rows, n) =>
      val d = toDocs(rows)
      // engine tokenizer semantics: space-only trim, locale-pinned
      // lowercase, keep-empty split (see referenceBpe's note)
      val byDoc = d.collect().map(r =>
        r.getAs[Long]("doc_id") ->
          r.getAs[String]("text").toLowerCase(java.util.Locale.ROOT)
            .replaceAll("^ +| +$", "").split("\\s+", -1).toSeq).toMap
      val out = graft.functions.Dedup.posShingleRows(d, n).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      val posOk = out.forall { case (id, pos, sh) =>
        val t = byDoc(id)
        pos >= 1 && pos + n - 1 <= t.length &&
          t.slice(pos.toInt - 1, pos.toInt - 1 + n).mkString(" ") == sh
      }
      // completeness: every valid start position emits exactly one row
      val countOk = byDoc.forall { case (id, t) =>
        out.count(_._1 == id) == math.max(0, t.length - n + 1)
      }
      Prop(posOk && countOk) :| s"n=$n out=${out.toSeq}"
    }

  /** Driver-side reference BPE trainer: word-frequency table, greedy
    * argmax (count DESC, pair ASC), LEFT-TO-RIGHT merge — the
    * textbook loop the distributed string-replace implementation must
    * reproduce exactly. */
  private def referenceBpe(texts: Seq[String], nMerges: Int): Seq[(String, String, Long)] = {
    // Tokenize with the ENGINE's semantics, which ScalaCheck shrinking
    // probes with arbitrary control characters: Spark's trim (and the
    // DuckDB oracle's) strips ASCII SPACES only — Java's String.trim
    // would also strip NUL/control chars <= U+0020 and spuriously
    // empty a NUL-only word the engine correctly pairs. Locale-
    // pinned lowercase for the same reason (Spark lower is
    // locale-independent).
    def spaceTrim(s: String) = s.replaceAll("^ +| +$", "")
    var vocab: Map[Vector[String], Long] = texts
      .flatMap(t => spaceTrim(t.toLowerCase(java.util.Locale.ROOT)).split("\\s+", -1).toSeq)
      .groupBy(identity).map { case (w, ws) => w.codePoints().toArray.toVector.map(cp => new String(Character.toChars(cp))) -> ws.length.toLong }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var dry = false
    while (out.length < nMerges && !dry) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        syms.sliding(2).filter(_.length == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + f
        }
      }
      if (counts.isEmpty) dry = true
      else {
        val max = counts.values.max
        // NOTE: collect-to-pairs on a Map would rebuild a MAP and
        // collapse candidates sharing a left symbol (second insert
        // wins, hash-order dependent) — go through a Seq for the argmin
        val (l, r) = counts.toSeq.collect { case (p, c) if c == max => p }.min(TestRefs.utf8PairOrd)
        out += ((l, r, max))
        vocab = vocab.groupBy { case (syms, _) =>
          val b = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length)
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              b += (l + r); i += 2
            } else { b += syms(i); i += 1 }
          b.result()
        }.map { case (merged, entries) => merged -> entries.values.sum }
      }
    }
    out.toSeq
  }

  private val genBpeRows: Gen[List[String]] =
    Gen.nonEmptyListOf(for {
      nw <- Gen.choose(1, 5)
      ws <- Gen.listOfN(nw, Gen.oneOf("ab", "aab", "abab", "ba", "a", "bb", "aba"))
    } yield ws.mkString(" "))

  property("bpeTrain equals the driver-side reference trainer; repartition-invariant") =
    forAll(genBpeRows, Gen.choose(1, 4), Gen.choose(1, 7)) { (texts, k, parts) =>
      val d = toDocs(texts.zipWithIndex.map { case (t, _) => ("sA", t) })
      def run(df: org.apache.spark.sql.DataFrame) =
        graft.functions.TextAnalysis.bpeTrain(df, k).collect()
          .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
      val got = run(d)
      val ref = referenceBpe(texts, k)
      def hex(s: String) = s.map(c => f"u${c.toInt}%04x").mkString(" ")
      def hexed(m: Seq[(String, String, Long)]) = m.map(t => (hex(t._1), hex(t._2), t._3))
      Prop(got == ref && got == run(d.repartition(parts))) :|
        s"k=$k texts=${texts.map(hex)} got=${hexed(got)} ref=${hexed(ref)}"
    }

  property("top_k aggregate equals the rank window, incl. ties; repartition-invariant") = {
    import org.apache.spark.sql.functions.{col, struct, posexplode, row_number}
    import org.apache.spark.sql.expressions.Window
    val genRows = Gen.nonEmptyListOf(for {
      g <- Gen.choose(0, 3)
      id <- Gen.choose(0L, 40L) // small id space forces duplicate ids too
      v <- Gen.oneOf(1.0, 2.0, 3.0, -1.5, 0.0) // few values -> many ties
    } yield (g, id, v)).map(_.distinctBy(r => (r._1, r._2)))
    forAll(genRows, Gen.choose(1, 5), Gen.choose(1, 7)) { (rows, k, parts) =>
      val df = rows.toDF("g", "id", "v").repartition(parts)
      val agg = df.groupBy(col("g"))
        .agg(graft.plans.TopK.top_k(
          struct((-col("v")).as("_o"), col("id"), col("v")), k).as("_t"))
        .select(col("g"), posexplode(col("_t")).as(Seq("_p", "_s")))
        .select(col("g"), (col("_p") + 1).cast("long").as("rnk"),
          col("_s.id").as("id"), col("_s.v").as("v"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val w = Window.partitionBy(col("g")).orderBy(col("v").desc, col("id").asc)
      val win = df.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= k).select(col("g"), col("rnk"), col("id"), col("v"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      Prop(agg == win) :| s"k=$k parts=$parts agg=$agg win=$win"
    }
  }

  /** Driver-side reference of `Multimodal.contentFingerprint64`'s
    * window-SimHash (independent re-derivation of the md5 nibble-vote
    * convention — a regression in the distributed loop fails here on
    * arbitrary payloads, not just the fixed oracle corpus). */
  private def refFingerprint(bytes: Array[Byte]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val votes = new Array[Int](64)
    val HEX = "0123456789ABCDEF"
    for (i <- 0 to bytes.length - 4) {
      val sb = new StringBuilder(8)
      (0 until 4).foreach { p =>
        val b = bytes(i + p) & 0xff
        sb.append(HEX.charAt(b >> 4)).append(HEX.charAt(b & 0xf))
      }
      md.reset()
      val h = md.digest(sb.toString.getBytes("US-ASCII"))
      (0 until 64).foreach { j =>
        val n = j % 32
        val nib = if (n % 2 == 0) (h(n / 2) >> 4) & 0xf else h(n / 2) & 0xf
        val bit = if (j < 32) (nib >> 3) & 1 else (nib >> 1) & 1
        votes(j) += (if (bit == 1) 1 else -1)
      }
    }
    (0 until 64).foldLeft(0L)((a, j) => if (votes(j) > 0) a | (1L << j) else a)
  }

  private val genPayloads: Gen[List[Array[Byte]]] =
    Gen.nonEmptyListOf(Gen.choose(0, 60).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, 255).map(_.toByte)).map(_.toArray)))

  property("contentFingerprint64 equals the driver reference; repartition-invariant") =
    forAll(genPayloads, Gen.choose(1, 7)) { (payloads, parts) =>
      val m = payloads.zipWithIndex.map { case (c, i) => (i.toLong, c) }
        .toDF("id", "content")
      def run(df: org.apache.spark.sql.DataFrame) =
        graft.multimodal.Multimodal.contentFingerprint64(df)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = run(m)
      val ref = payloads.zipWithIndex
        .map { case (c, i) => i.toLong -> refFingerprint(c) }.toMap
      Prop(got == ref && got == run(m.repartition(parts))) :| s"parts=$parts"
    }

  property("sq8 codes match the affine bounds formula, bounded in [0, 255]") = {
    val genVecs: Gen[List[Array[Float]]] = Gen.choose(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.listOfN(4,
        Gen.choose(-1000, 1000).map(_ / 1000.0f)).map(_.toArray)))
    forAll(genVecs, Gen.choose(1, 5)) { (vecs, parts) =>
      val e = vecs.zipWithIndex.map { case (v, i) => (i.toLong, 0L, v) }
        .toDF("vec_id", "label", "embedding").repartition(parts)
      val got = graft.functions.Similarity.sq8CodeTable(e)
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).toList
      val q = vecs.map(_.map(x => math.floor(x.toDouble * 1e6).toLong))
      val dims = 4
      val mn = (0 until dims).map(d => q.map(_(d)).min)
      val mx = (0 until dims).map(d => q.map(_(d)).max)
      def refCode(v: Array[Long]): Seq[Long] = (0 until dims).map { d =>
        if (mx(d) > mn(d)) (v(d) - mn(d)) * 255L / (mx(d) - mn(d)) else 0L
      }
      val ok = got.forall { case (id, c, ncc) =>
        c == refCode(q(id.toInt)) &&
          c.forall(x => x >= 0L && x <= 255L) &&
          ncc == c.map(x => x * x).sum
      }
      Prop(got.size == vecs.size && ok) :| s"got=$got"
    }
  }

  property("zValue is a bijection: de-interleaving recovers both inputs") = {
    val bits = 10
    val genKey = Gen.choose(0L, (1L << bits) - 1L)
    forAll(Gen.nonEmptyListOf(Gen.zip(genKey, genKey))) { pairs =>
      val df = pairs.toDF("a", "b")
        .select(org.apache.spark.sql.functions.col("a"),
          org.apache.spark.sql.functions.col("b"),
          graft.sources.ZOrder.zValue(
            org.apache.spark.sql.functions.col("a"),
            org.apache.spark.sql.functions.col("b"), bits).as("z"))
      def deinterleave(z: Long): (Long, Long) = {
        var a = 0L; var b = 0L
        (0 until bits).foreach { i =>
          a |= ((z >> (2 * i)) & 1L) << i
          b |= ((z >> (2 * i + 1)) & 1L) << i
        }
        (a, b)
      }
      val ok = df.collect().forall { r =>
        deinterleave(r.getLong(2)) == ((r.getLong(0), r.getLong(1)))
      }
      Prop(ok) :| "every z must round-trip to its (a, b)"
    }
  }

  property("CC merge law holds on random graphs: merge(CC(E1),CC(E2)) == CC(E1 ∪ E2)") = {
    // Small node universe forces chains that CROSS the two edge sets
    // (the regime the contraction must get right), plus nodes present
    // in only one labeling and isolated nodes absent from both.
    val genEdge = Gen.zip(Gen.choose(0L, 11L), Gen.choose(0L, 11L))
      .suchThat { case (a, b) => a != b }
    val genEdges = Gen.listOf(genEdge)
    forAll(genEdges, genEdges) { (e1, e2) =>
      import graft.functions.Dedup
      val d1 = e1.toDF("doc_a", "doc_b")
      val d2 = e2.toDF("doc_a", "doc_b")
      val merged = Dedup.mergeComponents(
          Dedup.connectedComponents(d1), Dedup.connectedComponents(d2))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val direct = Dedup.connectedComponents(d1.unionByName(d2))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      Prop(merged == direct) :|
        s"merge law broken: merged=$merged direct=$direct e1=$e1 e2=$e2"
    }
  }

  import org.apache.spark.sql.functions.col

  property("sqdist_i64 equals the per-element SQL fold") = {
    // the array-form Lloyd kernel must agree with the HOF spelling it
    // replaced, element order and magnitudes included (values span the
    // +2^20-shift and +2^21-residual ranges the trainers feed it)
    val genPair = for {
      n <- Gen.choose(1, 8)
      a <- Gen.listOfN(n, Gen.choose(0L, 1L << 22))
      b <- Gen.listOfN(n, Gen.choose(0L, 1L << 22))
    } yield (a, b)
    forAll(genPair) { case (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
      val native = df.select(
        graft.plans.SqDistI64.sqdist_i64(col("a"), col("b"))).head().getLong(0)
      val expected = a.indices.map(i => { val d = a(i) - b(i); d * d }).sum
      Prop(native == expected) :| s"sqdist mismatch: $native != $expected a=$a b=$b"
    }
  }

  property("quantize_i64 equals the transform lambda it replaced; no ArrayTransform is left") = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.ArrayTransform
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType, StructField, StructType}
    val genX: Gen[java.lang.Double] = Gen.frequency(
      1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0, 1e300, -1e300,
        Double.MinPositiveValue, 9.3e12, -9.3e12),
      4 -> Gen.choose(-1.0, 1.0),
      2 -> Gen.choose(-1e14, 1e14)).flatMap(x => Gen.frequency(5 -> Gen.const(java.lang.Double.valueOf(x)),
        1 -> Gen.const(null: java.lang.Double)))
    val genArr = Gen.frequency(1 -> Gen.const(null), 5 -> Gen.listOf(genX))
    forAll(Gen.listOf(genArr), Gen.oneOf(DoubleType, FloatType)) { (arrs, t) =>
      val rows = arrs.zipWithIndex.map { case (a, i) =>
        Row(i.toLong, Option(a).map(_.map(x =>
          if (x == null || t == DoubleType) x else java.lang.Float.valueOf(x.floatValue()))).orNull)
      }
      val df = spark.createDataFrame(java.util.List.of(rows: _*),
        StructType(Seq(StructField("id", LongType), StructField("v", ArrayType(t)))))
      // the spelling `Similarity.quantize` had before the native loop
      val lambda = org.apache.spark.sql.functions.expr(
        "transform(CAST(v AS ARRAY<DOUBLE>), x -> CAST(floor(x * 1000000.0) AS BIGINT))")
      // a LocalRelation folds the projection (interpreted eval); the
      // repartition keeps it in a whole-stage codegen'd Project
      val outs = Seq(df, df.repartition(2)).map(
        _.select(col("id"), graft.functions.Similarity.quantize("v").as("n"), lambda.as("l")))
      val typed = outs.forall(o => o.schema("n").dataType == o.schema("l").dataType)
      val bad = outs.flatMap(_.collect().filter(r => r.get(1) != r.get(2)))
      Prop(typed && bad.isEmpty) :| s"type ${outs.head.schema}, mismatched rows $bad"
    } && {
      val e = spark.range(4).selectExpr("id AS vec_id", "array(CAST(id / 4 AS FLOAT), 0.5F) AS embedding")
      val plan = graft.functions.Similarity.quantized(e).queryExecution.executedPlan
      val exprs = plan.flatMap(_.expressions)
      Prop(exprs.exists(_.exists(_.isInstanceOf[graft.plans.QuantizeI64])) &&
        !exprs.exists(_.exists(_.isInstanceOf[ArrayTransform]))) :|
        s"quantized(e) must run QuantizeI64 and no ArrayTransform: $plan"
    }
  }

  property("sqdist_i64 yields NULL, never a short sum, on ragged arrays") = {
    // equal-length inputs are the Lloyd invariant; a length mismatch
    // means a corrupted/truncated persisted codebook, and a silently
    // under-summed distance would misassign the vector — the kernel
    // NULLs instead
    val genRagged = for {
      n <- Gen.choose(1, 8)
      m <- Gen.choose(1, 8).suchThat(_ != n)
      a <- Gen.listOfN(n, Gen.choose(0L, 1L << 22))
      b <- Gen.listOfN(m, Gen.choose(0L, 1L << 22))
    } yield (a, b)
    forAll(genRagged) { case (a, b) =>
      val r = Seq((a, b)).toDF("a", "b").select(
        graft.plans.SqDistI64.sqdist_i64(col("a"), col("b"))).head()
      Prop(r.isNullAt(0)) :| s"ragged pair must sqdist to NULL, got ${r.get(0)}"
    }
  }
}
