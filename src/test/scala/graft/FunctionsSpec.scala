package graft

import org.apache.spark.graft.ListenerBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{Dedup, IndexMemo, Similarity, TextAnalysis}
import graft.multimodal.Multimodal

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  test("tokenStats counts whitespace tokens; multi-space collapses") {
    val out = TextAnalysis.tokenStats(docs((1L, "  a  bb   ccc "), (2L, "x")))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out(1L) == 3L && out(2L) == 1L)
  }

  test("bpeish tokens split letter/digit/symbol runs") {
    val toks = docs((1L, "abc123 def-9")).select(
      TextAnalysis.bpeishTokens(col("text")).as("t")).head().getSeq[String](0)
    assert(toks == Seq("abc", "123", "def", "-", "9"))
  }

  test("calibratedQuality: per-source percentile ranks, uniform fraction property") {
    val d = docs(
      (1L, "zz zz zz"), (2L, "the of and a to in is on more words here ok"),
      (3L, "qq qq"), (4L, "the the the the the the"))
      .withColumn("source",
        when(col("doc_id") <= 2L, lit("sA")).otherwise(lit("sB")))
    val out = TextAnalysis.calibratedQuality(d)
      .collect().map(r => r.getLong(1) -> ((r.getString(0), r.getLong(3), r.getDouble(4)))).toMap
    // two docs per source -> pctl is exactly {0.0, 1.0} within each
    assert(out.values.count(_._1 == "sA") == 2 && out.values.count(_._1 == "sB") == 2)
    Seq("sA", "sB").foreach { s =>
      val ps = out.values.filter(_._1 == s).map(_._3).toSeq.sorted
      assert(ps == Seq(0.0, 1.0), s"$s percentiles must span [0,1]: $ps")
    }
    // a global threshold pctl >= 1.0 selects exactly one doc per source
    assert(out.values.count(_._3 >= 1.0) == 2)
  }

  test("calibratedQuality: single-doc source gets pctl 0, not NaN") {
    val d = docs((1L, "alone here"), (2L, "the of and words"), (3L, "zz"))
      .withColumn("source",
        when(col("doc_id") === 1L, lit("solo")).otherwise(lit("pair")))
    val out = TextAnalysis.calibratedQuality(d)
      .collect().map(r => r.getString(0) -> r.getDouble(4))
    val solo = out.filter(_._1 == "solo").map(_._2)
    assert(solo.toSeq == Seq(0.0))
    assert(out.forall(p => !p._2.isNaN))
  }

  test("bpePairCounts counts adjacent within-word char pairs, hand-checked") {
    // "abab" -> ab, ba, ab ; "ab" -> ab ; "x" -> nothing ; pairs never
    // cross the word boundary ("b a" contributes no "ba")
    val out = TextAnalysis.bpePairCounts(docs((1L, "abab ab"), (2L, "x b a")), 10)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(out.toSeq == Seq("ab" -> 3L, "ba" -> 1L), s"got ${out.toSeq}")
  }

  test("bpePairCounts top-k ties break on pair string; case folds") {
    val out = TextAnalysis.bpePairCounts(docs((1L, "ZZ aa mm")), 2)
      .collect().map(_.getString(0))
    assert(out.toSeq == Seq("aa", "mm"), s"ties must order lexicographically: ${out.toSeq}")
  }

  test("bpeTrain: greedy merges hand-checked, left-to-right on odd runs") {
    // words: aaab x2, aab x1, ab x1
    // round 1: (a,a)=5 beats (a,b)=4; LEFT-TO-RIGHT merge turns the
    //   "a a a" run into [aa, a], never [a, aa]
    // round 2: (a,b)=3 (aaab->aa,a,b twice + ab) beats (aa,a)=2
    // round 3: (aa,ab)=2 (both aaab, now [aa,ab])
    val out = TextAnalysis.bpeTrain(docs((1L, "aaab aaab aab"), (2L, "ab")), 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq((1, "a", "a", 5L), (2, "a", "b", 3L), (3, "aa", "ab", 2L)),
      s"got ${out.toSeq}")
  }

  test("bpeTrain: equal-count merge candidates tie-break lexicographically") {
    val out = TextAnalysis.bpeTrain(docs((1L, "ab ba")), 1)
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(out.toSeq == Seq(("a", "b")), s"got ${out.toSeq}")
  }

  test("bpeTrain: stops early once every word is a single symbol") {
    val out = TextAnalysis.bpeTrain(docs((1L, "ab ab")), 5).collect()
    assert(out.length == 1 && out(0).getString(1) == "a" && out(0).getString(2) == "b")
  }

  test("bpeApply: per-doc token budget under the trained vocab") {
    // with 3 merges (see bpeTrain test) applied in rank order:
    // aaab -> aa,a,b -> aa,ab -> aaab (1 symbol); aab -> aa,b (merge 2
    // can't fire: aa is one symbol); ab -> ab (1)
    val out = TextAnalysis.bpeApply(docs((1L, "aaab aaab aab"), (2L, "ab")), 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((3L, 4L)), s"doc1 got ${out(1L)}")
    assert(out(2L) == ((1L, 1L)), s"doc2 got ${out(2L)}")
  }

  test("qualityScore bounded and stopword-sensitive") {
    val out = TextAnalysis.qualityScore(
      docs((1L, "the the the the"), (2L, "zq zq zq zq")))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(1L) == 1.0 && out(2L) == 0.0) // stopword_ratio
  }

  test("fingerprint is whitespace/case-insensitive") {
    val fps = TextAnalysis.fingerprint(
      docs((1L, "Hello   World"), (2L, "hello world "), (3L, "other")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) == fps(2L) && fps(1L) != fps(3L))
  }

  test("redactPii: emails, IPs, phones replaced in order with matching counts") {
    val d = docs(
      (1L, "mail bob@example.com from 10.0.0.1 or call +1 (555) 123-4567 now"),
      (2L, "no pii here at all"))
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = TextAnalysis.redactPii(d)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) == ((1L, 1L, 1L,
      m("mail <EMAIL> from <IP> or call <PHONE> now"))), s"got ${out(1L)}")
    assert(out(2L) == ((0L, 0L, 0L, m("no pii here at all"))))
    // production projection carries the full redacted text
    val red = TextAnalysis.redactPiiText(d).filter(col("doc_id") === 1L)
      .head().getAs[String]("redacted")
    assert(red == "mail <EMAIL> from <IP> or call <PHONE> now")
  }

  test("corpusFilter assigns the FIRST failing rule per doc") {
    import spark.implicits._
    // stopword-rich AND 2-gram-varied: interleave stopwords with unique words
    val keepText = Seq.tabulate(15)(i =>
      Seq("the", "of", "and", "is", "on")(i % 5) + s" word$i").mkString(" ")
    val docs = Seq(
      (1L, "tiny doc", "en"),                  // too_short (and would fail others)
      (2L, keepText, "zh"),                    // long enough, lang not allowed
      (3L, ("dup pair " * 20).trim, "en"),     // repeated 2-grams -> repetition
      (4L, Seq.tabulate(25)(i => s"w$i").mkString(" "), "en"), // varied, no stopwords -> low_quality
      (5L, keepText, "en"))                    // passes everything
      .toDF("doc_id", "text", "lang").withColumn("source", lit("s"))
    val got = TextAnalysis.corpusFilter(docs)
      .collect().map(r => r.getLong(0) -> (Option(r.getString(3)), r.getBoolean(4))).toMap
    assert(got(1L) == (Some("too_short"), false))
    assert(got(2L) == (Some("lang"), false))
    assert(got(3L) == (Some("repetition"), false))
    assert(got(4L) == (Some("low_quality"), false))
    assert(got(5L) == (None, true))
  }

  test("filterAttrition: telescoping intakes over the first-fail reasons") {
    import spark.implicits._
    val keepText = Seq.tabulate(15)(i =>
      Seq("the", "of", "and", "is", "on")(i % 5) + s" word$i").mkString(" ")
    val docs = Seq(
      (1L, "tiny doc", "en"),                  // too_short
      (2L, keepText, "zh"),                    // lang
      (3L, ("dup pair " * 20).trim, "en"),     // repetition
      (4L, Seq.tabulate(25)(i => s"w$i").mkString(" "), "en"), // low_quality
      (5L, keepText, "en"))                    // survivor
      .toDF("doc_id", "text", "lang").withColumn("source", lit("s"))
    val rows = TextAnalysis.filterAttrition(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    assert(rows == Map(
      "too_short" -> ((1L, 5L, 1L, 4L, 1.0 / 5.0)),
      "lang" -> ((2L, 4L, 1L, 3L, 1.0 / 4.0)),
      "repetition" -> ((3L, 3L, 1L, 2L, 1.0 / 3.0)),
      "low_quality" -> ((4L, 2L, 1L, 1L, 1.0 / 2.0))), s"got $rows")
  }

  test("chunkDocs: sliding windows cover all tokens with the stated overlap") {
    // 10 tokens, chunk=4, overlap=1 (stride 3): chunks start at token
    // 0, 3, 6 — [t0..t3], [t3..t6], [t6..t9]; a 3-token doc is 1 chunk
    val toks10 = (1 to 10).map(i => s"t$i").mkString(" ")
    val out = TextAnalysis.chunkDocs(docs((1L, toks10), (2L, "a b c")), 4, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out.keySet == Set((1L, 0L), (1L, 1L), (1L, 2L), (2L, 0L)))
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out((1L, 0L)) == ((4L, m("t1 t2 t3 t4"))))
    assert(out((1L, 1L)) == ((4L, m("t4 t5 t6 t7"))))
    assert(out((1L, 2L)) == ((4L, m("t7 t8 t9 t10"))))
    assert(out((2L, 0L)) == ((3L, m("a b c"))))
    intercept[IllegalArgumentException](TextAnalysis.chunkDocs(docs((1L, "x")), 4, 4))
  }

  test("collocations: hand-computed lift, minCount prune, lift-then-lex order") {
    // corpus: "a b a b" + "a c" -> unigrams a:3 b:2 c:1 (N=6),
    // bigrams ab:2 ba:1 ac:1 (N=4)
    val d = docs(1L -> "a b a b", 2L -> "a c")
    // minCount=2 keeps only ab: lift = p(ab)/(p(a)p(b)) = (2/4)/((3/6)(2/6)) = 3.0
    val only = TextAnalysis.collocations(d, minCount = 2L, topK = 10).collect()
    assert(only.length == 1)
    val r = only.head
    assert((r.getString(0), r.getString(1)) == ("a", "b"))
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ((2L, 3L, 2L)))
    assert(r.getDouble(5) == 3.0)
    // minCount=1: ac ties ab at lift 3.0 -> lex order breaks the tie; ba (1.5) last
    val all = TextAnalysis.collocations(d, minCount = 1L, topK = 10)
      .collect().map(x => (x.getString(0), x.getString(1), x.getDouble(5)))
    assert(all.toSeq == Seq(("a", "b", 3.0), ("a", "c", 3.0), ("b", "a", 1.5)))
  }

  test("boilerplateNgrams: common 3-grams mark covered tokens, overlaps dedup") {
    // "a b c d" appears in 3 docs -> its two 3-grams ("a b c", "b c d")
    // are common at minDf=3; their coverage overlaps on positions 1-2 so
    // a 4-token doc removes 4 tokens, not 6. Doc 4 shares no common gram.
    val d = Seq(
      (1L, "a b c d", "s1"), (2L, "a b c d", "s1"), (3L, "x a b c d", "s2"),
      (4L, "p q r s t", "s2"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = TextAnalysis.boilerplateNgrams(d, 3)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // s1: 2 docs, 8 tokens, all 8 removed (both docs fully covered)
    assert(out("s1") == ((2L, 8L, 8L, 2L)), s"got $out")
    // s2: doc3 has 5 tokens with 4 covered (positions 1-4), doc4 clean
    assert(out("s2") == ((2L, 10L, 4L, 1L)), s"got $out")
  }

  test("boilerplateApply: cleaned text rebuilt in order; fully-covered doc -> md5 of empty") {
    val d = Seq(
      (1L, "a b c d", "s1"), (2L, "a b c d", "s1"), (3L, "x a b c d", "s2"),
      (4L, "p q r s t", "s2"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = TextAnalysis.boilerplateApply(d, 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val md5Of = (s: String) => java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // docs 1-2 fully covered -> empty string hash, 0 kept
    assert(out(1L) == ((md5Of(""), 0L)), s"got $out")
    assert(out(2L) == ((md5Of(""), 0L)), s"got $out")
    // doc 3 keeps only its leading "x"; doc 4 untouched
    assert(out(3L) == ((md5Of("x"), 1L)), s"got $out")
    assert(out(4L) == ((md5Of("p q r s t"), 5L)), s"got $out")
  }

  test("gopherFilter: each rule fires independently; clean doc passes all") {
    val d = Seq(
      // passes every rule: >=20 tokens, sane avg len, 2 stopwords, varied
      (1L, ("the of " + (1 to 18).map(i => s"tok$i").mkString(" ")), "s"),
      // short (5 tokens) and only 1 distinct stopword
      (2L, "the b c d e", "s"),
      // repetition: top token 6/20 > 20%; has 2 stopwords, len ok
      (3L, ("the of " + Seq.fill(6)("dup").mkString(" ") + " " +
        (1 to 12).map(i => s"v$i").mkString(" ")), "s"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val r = TextAnalysis.gopherFilter(d).collect().head
    assert(r.getString(0) == "s" && r.getLong(1) == 3L, s"got $r")
    assert(r.getLong(2) == 1L, s"fail_short: $r")     // doc 2
    assert(r.getLong(4) == 1L, s"fail_stop: $r")      // doc 2
    assert(r.getLong(5) == 1L, s"fail_repeat: $r")    // doc 3
    assert(r.getLong(6) == 1L && r.getDouble(7) == 1.0 / 3.0, s"pass: $r")
  }
}

class NormalizeTextSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text")

  test("normalizeText: zero-width/control strip + whitespace collapse, digest-stable") {
    val dirty = "hello​ world   foo\t\nbar "
    val clean = "hello world foo bar"
    val out = TextAnalysis.normalizeText(docs((1L, dirty), (2L, clean))).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L)._1 == out(2L)._1, "dirty doc must normalize to the clean doc's digest")
    assert(out(1L)._2 == clean.length.toLong && out(2L)._2 == clean.length.toLong)
    assert(out(1L)._3 == (dirty.length - clean.length).toLong)
    assert(out(2L)._3 == 0L, "already-clean text removes nothing")
    // full-text projection agrees with the digest shape
    val full = TextAnalysis.normalizeTextFull(docs((1L, dirty)))
      .collect().head.getAs[String]("text")
    assert(full == clean)
  }
}

class ApproxDistinctSpec extends SparkSpec {
  test("HLL approx distinct within documented bound at sf0.01 (gated flags)") {
    val r = SparkEntry.query("q_approx_distinct").run(spark, "/root/testdata/sf0.01").head()
    // the within-bound flags ARE the gate (|approx-exact| <= 10% of
    // exact); the DuckDB oracle hashes them against literal 1s
    assert(r.getAs[Long]("vendors_ok") == 1L,
      s"vendors sketch out of bound: exact=${r.getAs[Long]("exact_vendors")}")
    assert(r.getAs[Long]("categories_ok") == 1L,
      s"categories sketch out of bound: exact=${r.getAs[Long]("exact_categories")}")
    assert(r.getAs[Long]("exact_vendors") > 0 && r.getAs[Long]("exact_categories") > 0)
  }
}

class SamplingSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.Sampling

  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.001")

  test("temperatureSample: smallest stratum fully kept, others downsampled by sqrt(nmin/n)") {
    val out = Sampling.temperatureSample(docs, "doc_id", "lang")
    val stats = Sampling.temperatureMixStats(docs, "doc_id", "lang").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val nMin = stats.values.map(_._1).min
    // exact driver-side reference of the md5 membership rule — no
    // statistical assumptions (a small stratum at frac near 1 can
    // legitimately keep every row)
    val langOf = docs.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def bucket(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }
    val expectedAfter = langOf.groupBy(_._2).map { case (l, ids) =>
      val frac = math.sqrt(nMin.toDouble / ids.length.toDouble)
      l -> ids.count { case (id, _) => bucket(id).toDouble < frac * 4294967296.0 }.toLong
    }
    stats.foreach { case (lang, (before, after, frac)) =>
      assert(frac == math.sqrt(nMin.toDouble / before.toDouble))
      assert(after == expectedAfter(lang), s"$lang: md5-rule reference mismatch")
      if (before == nMin) assert(after == before, s"$lang: smallest stratum keeps all")
    }
    assert(stats.values.map(_._2).sum < stats.values.map(_._1).sum,
      "the corpus as a whole must shrink")
    // stats agree with the actual sample; membership deterministic
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats.forall { case (l, (_, after, _)) => byLang.getOrElse(l, 0L) == after })
    val again = Sampling.temperatureSample(docs, "doc_id", "lang")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == out.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("deterministic sample: identical membership across runs, ~pct size") {
    val a = Sampling.deterministicSample(docs, "doc_id", 30)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.deterministicSample(docs, "doc_id", 30)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    assert(math.abs(a.size - 150) < 40, s"~30% of 500 expected, got ${a.size}")
  }

  test("splits partition every row exactly once and nest monotonically") {
    val s = Sampling.withSplit(docs, "doc_id", 10, 10)
    assert(s.count() == docs.count())
    val counts = s.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
    // growing the sample keeps prior members (nested samples)
    val p10 = Sampling.deterministicSample(docs, "doc_id", 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val p20 = Sampling.deterministicSample(docs, "doc_id", 20)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(p10.subsetOf(p20))
  }

  test("bottomK: exactly k, the md5-lowest keys, stable under growth") {
    def m(id: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    val expect = ids.sortBy(m).take(7).toSet
    val got = Sampling.bottomK(docs, "doc_id", 7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expect)
    // growth stability: the (k+1)-corpus sample differs from the
    // k-corpus sample only by rows that hash below the old k-th
    val half = docs.filter($"doc_id" < 250)
    val sHalf = Sampling.bottomK(half, "doc_id", 7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val sFull = got
    assert((sFull -- sHalf).forall(id => id >= 250 ||
      sHalf.exists(h => m(h) > m(id))))
    intercept[IllegalArgumentException](Sampling.bottomK(docs, "doc_id", 0))
  }

  test("bottomKPerStratum: exactly k per big stratum, all of small ones") {
    val out = Sampling.bottomKPerStratum(docs, "doc_id", "lang", 5)
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.foreach { case (lang, n) =>
      assert(byLang(lang) == math.min(5L, n), s"$lang: ${byLang(lang)} of $n")
    }
    // deterministic: same membership on a re-run
    val again = Sampling.bottomKPerStratum(docs, "doc_id", "lang", 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == out.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("per-stratum fractions: rates respected, unlisted strata dropped, nested") {
    val fr = Map("en" -> 50, "es" -> 20)
    val out = Sampling.stratifiedSampleByFractions(docs, "doc_id", "lang", fr)
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!byLang.contains("fr"), s"unlisted stratum must drop: $byLang")
    fr.foreach { case (lang, pct) =>
      val rate = byLang.getOrElse(lang, 0L).toDouble / totals(lang)
      assert(math.abs(rate - pct / 100.0) < 0.15, s"$lang rate $rate !~ ${pct / 100.0}")
    }
    // nested within strata: lowering a fraction keeps a subset
    val smaller = Sampling.stratifiedSampleByFractions(docs, "doc_id", "lang",
      Map("en" -> 20, "es" -> 20))
      .filter($"lang" === "en").select("doc_id").collect().map(_.getLong(0)).toSet
    val bigger = out.filter($"lang" === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(smaller.subsetOf(bigger))
  }

  test("packSequences: per-shard greedy bins by cumulative token count") {
    // shard a: 4 docs × 3 tokens into 5-token bins — tokens-before
    // 0,3,6,9 -> bins 0,0,1,1; shard b independent
    val docs = Seq(
      (1L, "a", 3L), (2L, "a", 3L), (3L, "a", 3L), (4L, "a", 3L),
      (10L, "b", 2L)
    ).toDF("doc_id", "lang", "n_toks")
    val out = Sampling.packSequences(docs, col("n_toks"), "lang", "doc_id", 5L)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out == Map(
      ("a", 0L) -> ((2L, 6L)), ("a", 1L) -> ((2L, 6L)),
      ("b", 0L) -> ((1L, 2L))), s"got $out")
  }

  test("ppsSystematic: heavy doc always in, zero weights out, layout-invariant") {
    // one giant doc (w=1000) among 10 tiny (w=1), k=2:
    // step = 1010 div 2 = 505 <= 1000, so the giant's cumulative
    // interval must contain a mark — selected regardless of md5 order.
    val rows = (1L to 10L).map(i => (i, 1L)) :+ (99L, 1000L) :+ (100L, 0L)
    val d = rows.toDF("doc_id", "w")
    val out = Sampling.ppsSystematic(d, "doc_id", col("w"), 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.contains(99L), s"heavy doc must be selected: $out")
    assert(!out.contains(100L), s"zero-weight doc must never be selected: $out")
    assert(out.nonEmpty && out.size <= 4, s"~k selections expected: $out")
    // physical layout invariance: 1 partition == 7 partitions
    val a = Sampling.ppsSystematic(d.repartition(1), "doc_id", col("w"), 2)
      .collect().map(_.getLong(0)).toSet
    val b = Sampling.ppsSystematic(d.repartition(7), "doc_id", col("w"), 2)
      .collect().map(_.getLong(0)).toSet
    assert(a == b, s"layout-dependent: $a vs $b")
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))

  private val near1 = "the quick brown fox jumps over the lazy dog again and again"
  private val near2 = "the quick brown fox jumps over the lazy dog again and once"
  private val other = "completely different content with no shared shingles at all here"

  test("topTerms: stopwords excluded, tf-desc term-asc tie-break, corpus df") {
    val d = docs(
      (1L, "the cat cat cat dog dog bird fish"),
      (2L, "the dog dog zebra"))
    val out = TextAnalysis.topTerms(d, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getLong(3), r.getLong(4))).toMap
    assert(out((1L, 1L)) == ("cat", 3L, 1L))  // 'the' excluded; cat tf=3
    assert(out((1L, 2L)) == ("dog", 2L, 2L))  // dog df=2 (both docs)
    assert(out((2L, 1L)) == ("dog", 2L, 2L))
    assert(out((2L, 2L)) == ("zebra", 1L, 1L))
  }

  test("tfidfKeywords: df discount demotes ubiquitous terms that raw tf ranks first") {
    val d = docs(
      (1L, "apple apple banana common"),
      (2L, "common cherry"),
      (3L, "common banana"),
      (4L, "common common rare"))
    // dfs: apple/cherry/rare=1 (weight 1000000), banana=2 (500000),
    // common=4 (250000)
    val out = TextAnalysis.tfidfKeywords(d, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // doc 4: raw tf ranks common (tf=2) first; tf·idf flips it
    assert(out((4L, 1L)) == (("rare", 1L, 1L, 1000000L)), s"got $out")
    assert(out((4L, 2L)) == (("common", 2L, 4L, 500000L)), s"got $out")
    val tfFirst = TextAnalysis.topTerms(d, 1).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(tfFirst(4L) == "common", "precondition: raw tf ranks common first")
    assert(out((1L, 1L)) == (("apple", 2L, 1L, 2000000L)), s"got $out")
    assert(out((1L, 2L)) == (("banana", 1L, 2L, 500000L)), s"got $out")
    assert(out((1L, 3L)) == (("common", 1L, 4L, 250000L)), s"got $out")
  }

  test("docRarity: integer rarity weights, distinct terms only, length-normalized") {
    val d = docs(
      (1L, "the cat cat cat dog dog bird fish"),
      (2L, "the dog dog zebra"))
    // dfs: cat/bird/fish/zebra=1 (weight 1000000), dog=2 (weight 500000)
    val out = TextAnalysis.docRarity(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == ((4L, 3500000L, 875000.0)))
    assert(out(2L) == ((2L, 1500000L, 750000.0)))
  }

  test("sourceOverlap: shared shingles counted once per source pair") {
    val d = Seq(
      (1L, "s1", "w1 w2 w3 w4"),   // shingles: {w1 w2 w3, w2 w3 w4}
      (2L, "s2", "w2 w3 w4 w5"),   // shingles: {w2 w3 w4, w3 w4 w5}
      (3L, "s3", "x y z"))         // shingles: {x y z} — no overlap
      .toDF("doc_id", "source", "text").withColumn("lang", lit("en"))
    val out = Dedup.sourceOverlap(d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(out.size == 1)
    assert(out(("s1", "s2")) == ((1L, 2L, 2L, 1.0 / 3.0)))
  }

  test("exactDedupDocs groups case/space variants") {
    val out = Dedup.exactDedupDocs(docs((1L, "A  b"), (2L, "a b"), (3L, "c")))
    val dups = out.filter(col("n_dups") > 1).collect()
    assert(dups.length == 1 && dups.head.getAs[Long]("keeper_doc_id") == 1L)
  }

  test("ngramJaccardPairs finds planted near-dup, not the unrelated doc") {
    val pairs = Dedup.ngramJaccardPairs(docs((1L, near1), (2L, near2), (3L, other)), 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("inverted-index jaccard agrees with the array form") {
    val d = docs((1L, near1), (2L, near2), (3L, other))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(canon(Dedup.ngramJaccardPairsInverted(d, 3, 0.1)) ==
      canon(Dedup.ngramJaccardPairs(d, 3, 0.1)))
  }

  test("containment catches subset duplication that jaccard misses") {
    // doc 2 is doc 1's opening sentence verbatim: containment 1.0 (all
    // of 2's shingles are in 1), jaccard well below 0.5 (1's union
    // dominates). An unrelated doc pairs with neither.
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val short = "alpha beta gamma delta epsilon zeta"
    val d = docs((1L, long), (2L, short), (3L, other))
    val cont = Dedup.ngramContainmentPairs(d, 3, 0.6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(4))).toMap
    assert(cont.keySet == Set((1L, 2L)), s"containment pairs: $cont")
    assert(cont((1L, 2L)) == 1.0)
    val jac = Dedup.ngramJaccardPairsInverted(d, 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(jac.isEmpty, s"jaccard should miss the subset pair: $jac")
  }

  test("the candidate memo keys on the threshold: a lower one after a higher one keeps its pairs") {
    // the candidate set is pruned at the metric's threshold before it
    // is memoized, so a call at a lower threshold must not read the
    // set pruned at a higher one
    val d = docs((11L, near1), (12L, near2), (13L, other))
    def pairs(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(Dedup.ngramJaccardPairsInverted(d, 3, 0.95)).isEmpty)
    assert(pairs(Dedup.ngramJaccardPairsInverted(d, 3, 0.1)) == Set((11L, 12L)))
    assert(pairs(Dedup.ngramContainmentPairs(d, 3, 0.95)).isEmpty)
    assert(pairs(Dedup.ngramContainmentPairs(d, 3, 0.1)) == Set((11L, 12L)))
  }

  test("hot-shingle cap bounds candidates; survivors keep exact uncapped jaccard") {
    // docs 3..8 are identical (every shared shingle has df=6); docs 1,2
    // share rare (df=2) shingles. With maxDocFreq=2 the identical
    // cluster's shingles are all hotter than the cap, so its pairs are
    // not candidates — only (1,2) survives, and its inter/uni must be
    // the EXACT full-set values (verification is uncapped).
    val template = "one two three four five six seven eight nine ten"
    val d = docs(Seq((1L, near1), (2L, near2)) ++ (3L to 8L).map(_ -> template): _*)
    val capped = Dedup.ngramJaccardPairsInverted(d, 3, 0.5, maxDocFreq = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val uncappedPair = Dedup.ngramJaccardPairsInverted(d, 3, 0.5, maxDocFreq = 1000)
      .filter(col("doc_a") === 1L && col("doc_b") === 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(capped.toSeq == uncappedPair.toSeq,
      s"cap must prune hot-only pairs but keep exact stats: ${capped.toSeq}")
    // with a non-binding cap, the identical cluster IS reported (15 pairs + (1,2))
    val all = Dedup.ngramJaccardPairsInverted(d, 3, 0.5, maxDocFreq = 1000).count()
    assert(all == 16L, s"expected 16 pairs uncapped, got $all")
  }

  test("minhash signature table is memoized across family consumers") {
    // A plan-canonicalization mismatch would silently recompute the
    // shingling pass per consumer instead of sharing the checkpointed
    // index — this pins the memo actually hitting on a re-request of
    // the SAME corpus/params and missing on different params.
    val d = docs((1L, near1), (2L, near2), (3L, other)).localCheckpoint()
    val first = Dedup.minhashSignatures(d, 3, 8)
    val hitsBefore = IndexMemo.hitsFor("minhash_sigs")
    val second = Dedup.minhashSignatures(d, 3, 8)
    assert(IndexMemo.hitsFor("minhash_sigs") == hitsBefore + 1,
      "second request of the same (corpus, n, k) must hit the memo")
    assert(second eq first, "memo hit must return the cached frame")
    Dedup.minhashSignatures(d, 3, 4)
    assert(IndexMemo.hitsFor("minhash_sigs") == hitsBefore + 1,
      "different k must be a distinct index, not a memo hit")
  }

  test("IndexMemo compute locks are per-corpus and bounded") {
    // The lock key includes the input plan's semantic hash: two builds
    // of the same index family over DIFFERENT corpora must not share a
    // lock entry (sharing would serialize unrelated training jobs),
    // and a memo hit on an already-built index must not grow the map.
    val a = docs((1L, near1), (3L, other)).localCheckpoint()
    val b = docs((5L, near2), (7L, other + " more")).localCheckpoint()
    Dedup.minhashSignatures(a, 3, 8)
    val n1 = IndexMemo.lockCount
    Dedup.minhashSignatures(b, 3, 8) // same (tag, params), other corpus
    val n2 = IndexMemo.lockCount
    // under the r13 cap, a saturated map inserts the new per-corpus
    // key by EVICTING the least-recently-used one (size stays at the
    // cap) — growth is only observable below saturation
    assert(n2 > n1 || n2 == IndexMemo.lockCap,
      s"a different corpus must get its own lock entry ($n1 -> $n2)")
    Dedup.minhashSignatures(a, 3, 8) // memo hit
    assert(IndexMemo.lockCount == n2,
      "a repeat request must not grow the lock map")
  }

  test("IndexMemo lock map is capped within one live session") {
    // A long-lived session feeding a fresh plan per micro-batch (each
    // localCheckpoint is a new semanticHash) must not accumulate one
    // lock entry per batch forever — the map is capped with
    // least-recently-requested eviction (ADVICE r12).
    for (i <- 0 until 80) {
      val d = docs((i.toLong, s"batch $i text $near1"),
                   (i.toLong + 1000, other)).localCheckpoint()
      Dedup.minhashSignatures(d, 3, 4)
    }
    assert(IndexMemo.lockCount <= 64,
      s"lock map must stay capped, got ${IndexMemo.lockCount}")
  }

  test("minhashLshPairs finds the same planted near-dup") {
    val pairs = Dedup.minhashLshPairs(docs((1L, near1), (2L, near2), (3L, other)), 3, 8, 4, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("connectedComponents resolves chains to the min label") {
    // chain 1-2, 2-3 plus separate pair 10-11: components {1,2,3}, {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("dedupCorpus keeps one representative per cluster + all singletons") {
    val d = docs(
      (1L, near1), (2L, near2),        // near-dup cluster -> keep 1
      (3L, other),                     // singleton -> keep
      (4L, "A  B"), (5L, "a b"))       // exact-dup cluster -> keep 4
    val survivors = Dedup.dedupCorpus(d, 3, 8, 4, 0.5)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(survivors == Seq(1L, 3L, 4L))
  }

  test("dupClusterHops: reps at 0, direct matches at 1, chain pull-ins at 2") {
    // sliding 12-token windows: 1~2 and 2~3 share 9 tokens (jaccard
    // ≈ 0.54 ≥ 0.5) but 1~3 share only 6 (0.25) — doc 3 joins the
    // cluster TRANSITIVELY, the case the hop count exists to flag
    val w = (1 to 18).map(i => s"w$i")
    val d = docs(
      (1L, w.slice(0, 12).mkString(" ")),
      (2L, w.slice(3, 15).mkString(" ")),
      (3L, w.slice(6, 18).mkString(" ")),
      (4L, "A  B"), (5L, "a b"),       // exact-dup pair -> hops 1
      (6L, other))                     // singleton -> no row
    val out = Dedup.dupClusterHops(d, 3, 8, 4, 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(
      1L -> ((1L, 0L)), 2L -> ((1L, 1L)), 3L -> ((1L, 2L)),
      4L -> ((4L, 0L)), 5L -> ((4L, 1L))), s"got $out")
  }

  test("mergedDistinct: sketch union never double-counts cross-slice repeats") {
    import spark.implicits._
    // user 1 appears in EVERY slice of range A: a naive sum of
    // per-slice distincts says 6, the truth is 4 — the union must
    // agree with the truth (and at this cardinality HLL is exact)
    val df = Seq(
      ("A", 1, 1L), ("A", 1, 2L), ("A", 2, 1L), ("A", 2, 3L),
      ("A", 3, 1L), ("A", 3, 4L),
      ("B", 1, 10L), ("B", 2, 10L))
      .toDF("range", "slice", "user")
    val out = graft.functions.Sketches.mergedDistinct(df,
        col("slice"), col("range"), col("user"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("A") == ((4L, 1L, 1L)), s"range A: ${out("A")}")
    assert(out("B") == ((1L, 1L, 1L)), s"range B: ${out("B")}")
  }

  test("cmsFrequencies: never undercounts, skewed keys within the overcount slack") {
    import spark.implicits._
    // heavy skew (one hot key + a long tail) is CMS's design regime:
    // collisions land tail mass ON the hot key's estimate, which the
    // over_ok law permits and bound_ok caps
    val df = (Seq.fill(500)("hot") ++ (1 to 100).map(i => s"tail$i"))
      .toDF("k")
    val out = graft.functions.Sketches.cmsFrequencies(df, col("k"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("hot")._1 == 500L)
    assert(out.size == 101)
    out.foreach { case (k, (_, over, bound)) =>
      assert(over == 1L, s"$k: CMS must never undercount")
      assert(bound == 1L, s"$k: overcount must stay within 2*eps*N")
    }
  }

  test("mergedQuantiles: the merged sketch answers the POOLED distribution") {
    import spark.implicits._
    // slice 1 holds 1..100, slice 2 holds 101..200: per-slice medians
    // are ~50 and ~150 — only a genuine merge lands the pooled median
    // (rank 0.5 of 1..200); at 200 retained values KLL is exact, so
    // the rank flags must hold at far tighter than the 0.10 gate
    val df = (1 to 200).map(v => (if (v <= 100) 1 else 2, "m", v.toDouble))
      .toDF("slice", "range", "v")
    val r = graft.functions.Sketches.mergedQuantiles(df,
      col("slice"), col("range"), col("v"), Seq(0.5, 0.9), rankTol = 0.02).head()
    assert(r.getString(0) == "m" && r.getLong(1) == 200L)
    assert((r.getLong(2), r.getLong(3)) == ((1L, 1L)),
      s"pooled ranks must sit within 2% of the probes: $r")
  }

  test("mergedQuantiles: mid-rank keeps the gate sound under heavy ties") {
    import spark.implicits._
    // 99% of the mass sits on ONE value: the sketch legitimately
    // returns 7.0 for every probe p in (0.005, 0.995], and the plain
    // <=-rank of 7.0 is ~0.995 — a correct answer the old gate flagged
    // RED for p = 0.5. The mid-rank (|v<q| + |v<=q|) / 2n ≈ 0.5 sits
    // exactly at the tie block's center, so the flag holds (r14 advice).
    val df = (Seq.fill(990)(7.0) ++ Seq.fill(10)(100.0))
      .map(v => (1, "m", v)).toDF("slice", "range", "v")
    val r = graft.functions.Sketches.mergedQuantiles(df,
      col("slice"), col("range"), col("v"), Seq(0.5), rankTol = 0.02).head()
    assert(r.getLong(1) == 1000L)
    assert(r.getLong(2) == 1L,
      s"mid-rank of the tied median must sit at the block center: $r")
  }

  test("mergedQuantiles: probes rounding to the same percent get distinct flag names") {
    import spark.implicits._
    val df = (1 to 100).map(v => (1, "m", v.toDouble)).toDF("slice", "range", "v")
    val out = graft.functions.Sketches.mergedQuantiles(df,
      col("slice"), col("range"), col("v"), Seq(0.501, 0.502, 0.9))
    assert(out.columns.toSeq == Seq("range_key", "n_rows", "ok_q50_0", "ok_q50_1", "ok_q90"),
      s"colliding ok_q names must disambiguate by probe index: ${out.columns.mkString(",")}")
    assert(out.columns.distinct.length == out.columns.length)
  }

  test("cmsFrequencies: high-cardinality probe key truncates to the deterministic heavy-hitter prefix") {
    import spark.implicits._
    // k1 appears 3x, k2 2x, everything else once: the capped dictionary
    // must be the top-by-count prefix with key-ASC tie-breaks, flagged
    // truncated=1 on every row (r15 contract — was a hard refusal)
    val df = (Seq.fill(3)("k1") ++ Seq.fill(2)("k2") ++ (3 to 50).map(i => s"k$i"))
      .toDF("k")
    val out = graft.functions.Sketches.cmsFrequencies(df, col("k"), maxKeys = 10)
      .collect()
    assert(out.length == 10)
    assert(out.forall(_.getLong(4) == 1L), "every truncated row must carry the flag")
    val keys = out.map(_.getString(0)).toSeq
    assert(keys.take(2) == Seq("k1", "k2"), s"heavy hitters first: $keys")
    assert(keys.drop(2) == keys.drop(2).sorted, s"ties break key-ASC: $keys")
    // at or below the cap the full dictionary comes back unflagged
    val full = graft.functions.Sketches.cmsFrequencies(df, col("k"), maxKeys = 50)
      .collect()
    assert(full.length == 50L)
    assert(full.forall(_.getLong(4) == 0L))
  }

  test("thetaSetOps: planted overlap arithmetic, estimates exact at small cardinality") {
    import spark.implicits._
    // A = {1..6}, B = {4..9}: |A| = |B| = 6, |A∩B| = 3, |A∪B| = 9;
    // below the nominal-entry budget the theta estimates are exact,
    // so every flag must be 1
    val df = ((1 to 6).map(u => (u.toLong, "p")) ++
              (4 to 9).map(u => (u.toLong, "v"))).toDF("user", "t")
    val r = graft.functions.Sketches.thetaSetOps(df,
      col("user"), col("t") === "p", col("t") === "v").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      == ((6L, 6L, 3L, 9L)), s"set arithmetic: $r")
    assert((r.getLong(4), r.getLong(5), r.getLong(6)) == ((1L, 1L, 1L)),
      s"theta estimates must be exact here: $r")
  }

  test("dupPageRank: the template hub outranks its variants, exact integer ranks") {
    // exact-dup STAR: docs 1,2,3 share one canonical text, so the
    // exact-pair generator emits min-id star edges 1-2, 1-3 — doc 1 is
    // the hub (deg 2, two incoming contributions per iteration), 2 and
    // 3 are symmetric leaves; doc 4 is isolated (no rank row — the
    // graph, not the corpus, defines the node set)
    val d = docs((1L, "A  B"), (2L, "a b"), (3L, "a  b "), (4L, other))
    val out = Dedup.dupPageRank(d, 3, 8, 4, 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L), s"isolated docs carry no rank: $out")
    // hand-unrolled 3 iterations of the scaled-integer recurrence
    // (pr0 = 1e9; hub contrib halves on its degree; floor division):
    // hub 1.85e9 -> 1.1275e9 -> 1741625000; leaf 5.75e8 -> 9.3625e8
    // -> 629187500
    assert(out(1L) == ((2L, 1741625000L)), s"hub: ${out(1L)}")
    assert(out(2L) == ((1L, 629187500L)) && out(3L) == out(2L), s"leaves: $out")
    assert(out(1L)._2 > out(2L)._2, "the template hub must outrank its variants")
  }

  test("dedupCorpusByRank keeps the TEMPLATE (chain center), not the min id") {
    // chain 1~2~3 (1 !~ 3, the dupClusterHops fixture): node 2 is the
    // star center with degree 2 — top PageRank — so the rank rule
    // keeps 2 where the min-id rule keeps 1
    val w = (1 to 18).map(i => s"w$i")
    val d = docs(
      (1L, w.slice(0, 12).mkString(" ")),
      (2L, w.slice(3, 15).mkString(" ")),
      (3L, w.slice(6, 18).mkString(" ")),
      (4L, other))
    val byRank = Dedup.dedupCorpusByRank(d, 3, 8, 4, 0.5)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(byRank == Seq(2L, 4L), s"rank rule must keep the center: $byRank")
    val byMinId = Dedup.dedupCorpus(d, 3, 8, 4, 0.5)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(byMinId == Seq(1L, 4L), s"min-id rule keeps 1: $byMinId")
  }

  test("dedupCorpusBy keeps the best-scoring copy; ties fall back to min id") {
    val d = docs(
      (1L, near1), (2L, near2),        // cluster {1,2}: 2 scores higher
      (3L, other),
      (4L, "A  B"), (5L, "a b"))       // cluster {4,5}: equal scores -> min id
      .withColumn("q", when(col("doc_id") === 2L, 9.0).otherwise(1.0))
    val survivors = Dedup.dedupCorpusBy(d, 3, 8, 4, 0.5, col("q"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(survivors == Seq(2L, 3L, 4L))
  }

  test("crossModalDedup: payload-only dups collapse and chains cross channels") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def payload() = Array.fill(64)(rnd.nextInt(256).toByte)
    val shared = payload()
    val d = docs(
      (1L, near1), (2L, near2),                       // text edge 1-2
      (3L, other),                                    // no text edge to anyone
      (4L, "completely different tokens here now"))   // unrelated both ways
    // payload channel: 2 and 3 byte-identical; 1 and 4 unrelated
    val media = Seq(
      (1L, payload()), (2L, shared), (3L, shared.clone()), (4L, payload()))
      .toDF("id", "content")
    val survivors = graft.multimodal.Multimodal
      .crossModalDedup(d, media, 3, 8, 4, 0.5)
      .collect().map(_.getLong(0)).sorted.toSeq
    // chain 1-2 (text) + 2-3 (payload) is ONE cluster -> survivor 1;
    // text-only dedup cannot see the 2-3 edge and keeps 3
    assert(survivors == Seq(1L, 4L), s"got $survivors")
    val textOnly = Dedup.dedupCorpus(d, 3, 8, 4, 0.5)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(textOnly == Seq(1L, 3L, 4L), s"got $textOnly")
  }

  test("crossModalDedup memo: fingerprint pairs and the union CC compute once per corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def payload() = Array.fill(64)(rnd.nextInt(256).toByte)
    val shared = payload()
    val d = docs((1L, near1), (2L, near2), (3L, other))
    val media = Seq((1L, payload()), (2L, shared), (3L, shared.clone()))
      .toDF("id", "content")
    val first = graft.multimodal.Multimodal
      .crossModalDedup(d, media, 3, 8, 4, 0.5)
      .collect().map(_.getLong(0)).sorted.toSeq
    val fpHits = graft.functions.IndexMemo.hitsFor("fp_pairs")
    val xccHits = graft.functions.IndexMemo.hitsFor("xcc")
    val second = graft.multimodal.Multimodal
      .crossModalDedup(d, media, 3, 8, 4, 0.5)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(second == first)
    assert(graft.functions.IndexMemo.hitsFor("fp_pairs") > fpHits,
      "second apply must reuse the memoized fingerprint pair table")
    assert(graft.functions.IndexMemo.hitsFor("xcc") > xccHits,
      "second apply must reuse the memoized union-CC label map")
    // the exactness report derives from the SAME memoized pair frame
    val fpHits2 = graft.functions.IndexMemo.hitsFor("fp_pairs")
    graft.multimodal.Multimodal.fingerprintDedup(media).collect()
    assert(graft.functions.IndexMemo.hitsFor("fp_pairs") > fpHits2,
      "fingerprintDedup must ride the memoized pair table")
  }

  test("crossModalSavings: channel classes partition the union losers and reconcile") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def payload() = Array.fill(64)(rnd.nextInt(256).toByte)
    val sharedA = payload()  // payload edge 1-3
    val sharedB = payload()  // payload edge 5-6
    // s1: text edge 2-3 (near-dup), payload edge 1-3 ⟹ doc 3 is a
    // TEXT loser (label 2 < 3), and doc 2 — the min of both its
    // single-channel components — falls only to the cross-channel
    // chain 1-(payload)-3-(text)-2: the one CROSS loser.
    // s2: docs 5,6 text-unrelated but payload-identical ⟹ doc 6 is a
    // PAYLOAD-only loser; doc 4 pairs in no channel.
    val d = docs(
      (1L, other),
      (2L, near1), (3L, near2),
      (4L, "completely different tokens here now"),
      (5L, "five unique words stand alone"),
      (6L, "yet another disjoint token set"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("source", when(col("doc_id") <= 3L, "s1").otherwise("s2"))
    val media = Seq(
      (1L, sharedA), (2L, payload()), (3L, sharedA.clone()),
      (4L, payload()), (5L, sharedB), (6L, sharedB.clone()))
      .toDF("id", "content")
    val led = graft.multimodal.Multimodal
      .crossModalSavings(d, media, 3, 8, 4, 0.5)
      .collect().map(r => r.getString(0) -> r).toMap
    val s1 = led("s1"); val s2 = led("s2")
    assert((s1.getLong(1), s1.getLong(2), s1.getLong(3), s1.getLong(4), s1.getLong(5))
        == ((3L, 1L, 1L, 0L, 1L)),
      s"s1 expected in=3 kept=1 text=1 payload=0 cross=1: ${s1}")
    assert((s2.getLong(1), s2.getLong(2), s2.getLong(3), s2.getLong(4), s2.getLong(5))
        == ((3L, 2L, 0L, 1L, 0L)),
      s"s2 expected in=3 kept=2 text=0 payload=1 cross=0: ${s2}")
    // the classes PARTITION the union losers: in − (t+p+c) == kept,
    // for docs and chars both
    led.values.foreach { r =>
      assert(r.getLong(1) - r.getLong(3) - r.getLong(4) - r.getLong(5) == r.getLong(2))
      assert(r.getLong(6) - r.getLong(8) - r.getLong(9) - r.getLong(10) == r.getLong(7))
    }
    // chars_kept reconciles exactly with the cross-modal APPLY step
    val survChars = graft.multimodal.Multimodal
      .crossModalDedup(d, media, 3, 8, 4, 0.5)
      .agg(sum(col("n_chars"))).head().getLong(0)
    assert(led.values.map(_.getLong(7)).sum == survChars)
  }

  test("dedupAttrition: per-group ledger matches the apply step") {
    val d = docs(
      (1L, near1), (2L, near2),        // cluster {1,2} -> loser 2
      (3L, other),
      (4L, "A  B"), (5L, "a b"))       // exact cluster {4,5} -> loser 5
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("source", when(col("doc_id") <= 2L, "s1").otherwise("s2"))
    val led = Dedup.dedupAttrition(d, 3, 8, 4, 0.5, "source").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(led("s1")._1 == 2L && led("s1")._2 == 1L, s"got $led")
    assert(led("s2")._1 == 3L && led("s2")._2 == 2L, s"got $led")
    assert(led.values.forall(v => v._2 <= v._1 && v._4 <= v._3))
    // the chars ledger reconciles exactly with the survivor set
    val survChars = Dedup.dedupCorpus(d, 3, 8, 4, 0.5)
      .agg(sum(col("n_chars"))).head().getLong(0)
    assert(led.values.map(_._4).sum == survChars)
  }

  test("withClusterSplit: every copy of a doc lands in ONE split, by CC label") {
    val d = docs(
      (1L, near1), (2L, near2),        // near-dup cluster -> label 1
      (3L, other),                     // singleton -> label 3
      (4L, "A  B"), (5L, "a b"))       // exact-dup cluster -> label 4
    val out = Dedup.withClusterSplit(d, 3, 8, 4, 0.5, 10, 10)
      .select(col("doc_id"), col("cluster_label"), col("split"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(out.view.mapValues(_._1).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 4L))
    // the leakage guarantee: cluster members share a split
    assert(out(1L)._2 == out(2L)._2 && out(4L)._2 == out(5L)._2)
    // bucket rule == the per-doc splitter applied to the labels
    val ref = graft.functions.Sampling.withSplit(
      Seq(1L, 3L, 4L).toDF("doc_id"), "doc_id", 10, 10)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L)._2 == ref(1L) && out(3L)._2 == ref(3L) &&
      out(5L)._2 == ref(4L))
  }

  test("dedupCorpus and dedupCorpusBy share one CC fixpoint per (input, params)") {
    val d = docs(
      (1L, near1), (2L, near2),
      (3L, other),
      (4L, "A  B"), (5L, "a b"))
      .withColumn("q", when(col("doc_id") === 2L, 9.0).otherwise(1.0))
    val hits0 = Dedup.ccMemoHits
    val minId = Dedup.dedupCorpus(d, 3, 8, 4, 0.5)
      .collect().map(_.getLong(0)).sorted.toSeq
    val best = Dedup.dedupCorpusBy(d, 3, 8, 4, 0.5, col("q"))
      .collect().map(_.getLong(0)).sorted.toSeq
    // both survivor rules correct AND the second call reused the memo
    assert(minId == Seq(1L, 3L, 4L) && best == Seq(2L, 3L, 4L))
    assert(Dedup.ccMemoHits > hits0,
      s"second dedup call must hit the CC memo (hits $hits0 -> ${Dedup.ccMemoHits})")
    // different params must NOT share the pair graph or CC fixpoint
    // (a 2-band run is a different graph) — but the band-INDEPENDENT
    // posting table legitimately hits (same docs, same n), so assert
    // per-tag, not on the global counter
    val pairHits1 = graft.functions.IndexMemo.hitsFor("minhash_pairs")
    val ccHits1 = graft.functions.IndexMemo.hitsFor("cc")
    Dedup.dedupCorpus(d, 3, 8, 2, 0.5).collect()
    assert(graft.functions.IndexMemo.hitsFor("minhash_pairs") == pairHits1,
      "different band params must miss the pair memo")
    assert(graft.functions.IndexMemo.hitsFor("cc") == ccHits1,
      "different band params must miss the CC memo")
    // the pair index itself is memoized too: a repeated identical
    // minhashLshPairs call (the LSH query next to a dedup apply over
    // one corpus) reuses the verified-pair checkpoint
    val hits2 = Dedup.ccMemoHits
    Dedup.minhashLshPairs(d, 3, 8, 4, 0.5).count()
    assert(Dedup.ccMemoHits > hits2,
      "identical pairs call after dedupCorpus must hit the pair memo")
  }

  test("editDistancePairs: length-band blocked join EQUALS the brute-force scan") {
    val names = Seq("kitten", "sitten", "sittin", "sitting", "cat",
      "cats", "dog", "dgo", "kitte", "mittens", "mitten")
    val df = names.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "name")
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val blocked = canon(Dedup.editDistancePairs(df, "name", 2).collect())
    val v = df.select(col("name")).distinct()
    val brute = canon(v.select(col("name").as("s_a"))
      .crossJoin(v.select(col("name").as("s_b")))
      .filter(col("s_a") < col("s_b"))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")).cast("long"))
      .filter(col("dist") <= 2).collect())
    assert(blocked == brute && blocked.nonEmpty)
    assert(blocked.contains(("kitten", "sitten", 1L)))
    assert(blocked.contains(("kitten", "mitten", 1L)))
    assert(!blocked.exists { case (a, b, _) => a == "kitten" && b == "sitting" })
  }

  test("corpusDiff: added/removed/kept by canonical digest with counts") {
    val old = docs((1L, "alpha beta"), (2L, "gamma delta"), (3L, "Gamma  DELTA"))
    val neu = docs((10L, "GAMMA delta"), (11L, "epsilon zeta"))
    val out = Dedup.corpusDiff(old, neu).collect()
      .map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out == Map(
      "removed" -> ((1L, 0L)),   // alpha beta: old only
      "kept" -> ((2L, 1L)),      // gamma delta: 2 old variants, 1 new
      "added" -> ((0L, 1L))))    // epsilon zeta: new only
  }

  test("simhash64: near-dups land within small hamming distance") {
    val h = Dedup.simhash64(docs((1L, near1), (2L, near2), (3L, other)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d12 = java.lang.Long.bitCount(h(1L) ^ h(2L))
    val d13 = java.lang.Long.bitCount(h(1L) ^ h(3L))
    assert(d12 < d13)
  }

  test("banded simhash pairs EQUAL the brute-force all-pairs scan (pigeonhole)") {
    // maxHamming=3 < bands=4 guarantees recall 1.0, so the banded join
    // must reproduce the O(n²) scan exactly — on real corpus data.
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val sh = Dedup.simhash16(d).localCheckpoint()
    val brute = sh.as("a").join(sh.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .withColumn("hamming",
        Dedup.hamming(col("a.simhash16"), col("b.simhash16")).cast("long"))
      .filter(col("hamming") <= 3)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), col("hamming"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val banded = Dedup.simhash16NearDupPairs(d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(banded == brute, s"banded ${banded.size} pairs vs brute ${brute.size}")
    assert(brute.nonEmpty, "fixture should produce at least one near-dup pair")
  }

  test("shingleRows n=1 degenerates to the token stream; n=0 rejected") {
    val d = docs((1L, "a b  c"))
    val sh = Dedup.shingleRows(d, 1).collect().map(_.getString(1)).sorted.toSeq
    assert(sh == Seq("a", "b", "c"))
    intercept[IllegalArgumentException](Dedup.shingleRows(d, 0))
  }

  test("simhashBandPairs rejects a hamming budget the bands cannot guarantee") {
    val sh = Dedup.simhash16(docs((1L, near1), (2L, near2)))
    intercept[IllegalArgumentException] {
      Dedup.simhashBandPairs(sh, "simhash16", 16, 4, 4)
    }
  }

  test("decontaminate: shared-shingle counts, 0-fill, threshold flag") {
    // benchmark doc = "a b c d e"; training doc 1 contains its full
    // 3-gram set (5 tokens -> 3 shingles), training doc 2 is disjoint
    val bench = docs((100L, "a b c d e"))
    val train = docs(
      (1L, "x a b c d e y"),   // shares all 3 benchmark shingles
      (2L, "p q r s t u v"))   // shares none
    val out = Dedup.decontaminate(train, bench, 3, 2L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out == Map(1L -> ((3L, true)), 2L -> ((0L, false))), s"got $out")
  }

  test("repetitionStats: boilerplate scores high and fails, varied text passes") {
    val d = docs(
      (1L, "spam spam spam spam spam"),               // 1 distinct token
      (2L, "the quick brown fox jumps over dogs"))    // all distinct
    val out = TextAnalysis.repetitionStats(d)
      .collect().map(r => r.getLong(0) -> r).toMap
    val rep = out(1L)
    assert(rep.getAs[Long]("n_tokens") == 5L && rep.getAs[Long]("n_distinct_tokens") == 1L)
    assert(rep.getAs[Double]("top_token_frac") == 1.0)
    assert(rep.getAs[Double]("dup_2gram_frac") == 0.75)   // 4 grams, 1 distinct
    assert(!rep.getAs[Boolean]("passes_repetition"))
    val ok = out(2L)
    assert(ok.getAs[Double]("dup_token_ratio") == 0.0)
    assert(ok.getAs[Double]("dup_2gram_frac") == 0.0)
    // 7 distinct tokens of 7 -> top_token_frac = 1/7 < 0.2 -> passes
    assert(ok.getAs[Boolean]("passes_repetition"))
  }

  test("64-bit banded simhash pairs EQUAL the brute-force all-pairs scan") {
    // production width: 4×16-bit bands, 65k buckets/band. Same
    // pigeonhole guarantee as the oracle-gated 16-bit sibling, asserted
    // against the O(n²) scan on corpus data (includes exact-dup docs,
    // whose hamming-0 pairs must all surface).
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val sh = Dedup.simhash64(d).localCheckpoint()
    val brute = sh.as("a").join(sh.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .withColumn("hamming",
        Dedup.hamming(col("a.simhash64"), col("b.simhash64")).cast("long"))
      .filter(col("hamming") <= 3)
      .select(col("a.doc_id"), col("b.doc_id"), col("hamming"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val banded = Dedup.simhash64NearDupPairs(d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(banded == brute, s"banded ${banded.size} pairs vs brute ${brute.size}")
  }

  test("gramNovelty: first occurrence owns the gram; repeats score zero novelty") {
    val d = docs(
      1L -> "a b c d e f",            // 2 grams, both first here -> 1.0
      2L -> "a b c d e f",            // exact repeat -> 0.0
      3L -> "a b c d e zz",           // 1 of 2 grams repeated -> 0.5
      4L -> "short")                  // < 5 tokens -> absent
    val got = Dedup.gramNovelty(d, 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == Set(1L, 2L, 3L), s"short docs have no grams: ${got.keySet}")
    assert(got(1L) == (2L, 2L, 1.0))
    assert(got(2L) == (2L, 0L, 0.0))
    assert(got(3L) == (2L, 1L, 0.5))
  }

  test("gramNovelty counts DISTINCT grams: in-doc repetition is not novelty") {
    // "a b c d e a b c d e" repeats its own 5-grams (and wrap grams);
    // distinct grams counted once each, all first-owned by doc 1
    val d = docs(1L -> "a b c d e a b c d e")
    val got = Dedup.gramNovelty(d, 5).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    // 6 positions, grams at pos1 and pos6 identical -> 5 distinct
    assert(got.toSeq == Seq((5L, 5L, 1.0)), s"got ${got.toSeq}")
  }

  test("duplicatedSpans merges overlapping shared k-grams into true coverage") {
    // doc 1 and doc 2 share tokens 1..6 ("a b c d e f"): doc 1 has two
    // overlapping shared 5-grams (pos 1, pos 2) whose union covers 6
    // tokens, not 10. doc 3 shares nothing.
    val d = docs(
      1L -> "a b c d e f x1 x2 x3 x4",
      2L -> "a b c d e f y1 y2 y3 y4",
      3L -> "p q r s t u v w z0 z1")
    val got = Dedup.duplicatedSpans(d, 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got(1L) == (10L, 2L, 6L, 0.6))
    assert(got(2L) == (10L, 2L, 6L, 0.6))
    assert(got(3L) == (10L, 0L, 0L, 0.0))
  }

  test("duplicatedSpans: disjoint shared spans in one doc sum, short docs emit zeros") {
    val d = docs(
      1L -> "a b c d e m1 m2 m3 m4 m5 m6 p q r s t",  // shares head AND tail spans
      2L -> "a b c d e k1 k2 k3 k4",                   // shares head span
      3L -> "n1 n2 n3 n4 n5 n6 p q r s t",             // shares tail span
      4L -> "too short")                               // < k tokens -> zeros
    val got = Dedup.duplicatedSpans(d, 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == (2L, 10L)) // two disjoint 5-token spans
    assert(got(2L) == (1L, 5L))
    assert(got(3L) == (1L, 5L))
    assert(got(4L) == (0L, 0L))
  }

  test("duplicatedSpansApply: removes exactly the covered spans, hash-certified rebuild") {
    def md5s(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val d = docs(
      1L -> "a b c d e f x1 x2 x3 x4",  // shares tokens 1..6 with doc 2
      2L -> "a b c d e f y1 y2 y3 y4",
      3L -> "p q r s t u v w z0 z1",    // shares nothing -> untouched
      4L -> "a b c d e f",              // FULLY covered -> md5('')
      5L -> "too short")                // < k tokens -> untouched
    val got = Dedup.duplicatedSpansApply(d, 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got(1L) == ((10L, 4L, 6L, md5s("x1 x2 x3 x4"))), s"doc1: ${got(1L)}")
    assert(got(2L) == ((10L, 4L, 6L, md5s("y1 y2 y3 y4"))), s"doc2: ${got(2L)}")
    assert(got(3L) == ((10L, 10L, 0L, md5s("p q r s t u v w z0 z1"))))
    assert(got(4L) == ((6L, 0L, 6L, md5s(""))), s"fully covered: ${got(4L)}")
    assert(got(5L) == ((2L, 2L, 0L, md5s("too short"))))
  }

  test("duplicatedSpansApply: attrition ledger reconciles with the duplicatedSpans diagnostic") {
    // Both compute the union length of covered spans — the APPLY as
    // dropped positions, the diagnostic as gaps-and-islands coverage —
    // so removed_tokens == covered_tokens must hold doc-for-doc on a
    // corpus with overlapping AND disjoint shared spans.
    val d = docs(
      1L -> "a b c d e m1 m2 m3 m4 m5 m6 p q r s t",
      2L -> "a b c d e k1 k2 k3 k4",
      3L -> "n1 n2 n3 n4 n5 n6 p q r s t",
      4L -> "a b c d e f x1 x2 x3 x4",
      5L -> "a b c d e f y1 y2 y3 y4",
      6L -> "too short")
    val diag = Dedup.duplicatedSpans(d, 5)
      .select(col("doc_id"), col("covered_tokens")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val apply = Dedup.duplicatedSpansApply(d, 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(apply.keySet == diag.keySet)
    apply.foreach { case (id, (nTok, nKept, removed)) =>
      assert(removed == diag(id),
        s"doc $id: removed_tokens $removed != diagnostic covered_tokens ${diag(id)}")
      assert(nKept + removed == nTok)
    }
  }

  test("mergeComponents: the CC merge law — merge(CC(E1), CC(E2)) == CC(E1 ∪ E2)") {
    // cross-channel chain {1,2}+{3,4} bridged by {2,3}; a channel-2-only
    // cluster {5,6}; a channel-1-only cluster {7,8}; singletons absent
    // from both labelings stay absent (the connectedComponents contract)
    val e1 = Seq((1L, 2L), (3L, 4L), (7L, 8L)).toDF("doc_a", "doc_b")
    val e2 = Seq((2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    def lab(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = lab(Dedup.connectedComponents(e1.union(e2)))
    val merged = lab(Dedup.mergeComponents(
      Dedup.connectedComponents(e1), Dedup.connectedComponents(e2)))
    assert(merged == direct, s"merge law broken: $merged vs $direct")
    assert(direct == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L))
    // merging with an empty labeling is the identity
    val empty = Dedup.connectedComponents(e1.filter(lit(false)))
    assert(lab(Dedup.mergeComponents(Dedup.connectedComponents(e1), empty))
      == lab(Dedup.connectedComponents(e1)))
  }

  test("incrementalDedup equals the plain digest anti-join, bloom FPs included") {
    val corpus = docs(1L -> "alpha beta gamma", 2L -> "delta epsilon zeta",
      3L -> "eta theta iota", 4L -> "kappa lambda mu")
    val batch = docs(10L -> "Alpha  beta GAMMA", // canonical dup of 1
      11L -> "nu xi omicron", 12L -> "delta epsilon zeta", // exact dup of 2
      13L -> "pi rho sigma", 14L -> "tau upsilon phi")
    // expectedItems=1 forces a tiny sketch -> many false positives; the
    // exact verify must still produce the plain anti-join's answer.
    Seq(1L << 20, 1L).foreach { items =>
      val got = Dedup.incrementalDedup(corpus, batch, items, 0.5)
        .select("doc_id").as[Long].collect().sorted
      assert(got.toSeq == Seq(11L, 13L, 14L))
    }
  }

  test("windowedEventDedup: in-window repeats drop, out-of-window and distinct keep") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, t("2024-01-01 10:00:00"), 1L, "a", 5.0),  // first -> keep
      (2L, t("2024-01-02 10:00:00"), 1L, "a", 5.0),  // +1d, within 2d -> drop
      (3L, t("2024-01-05 10:00:00"), 1L, "a", 5.0),  // +3d after PREVIOUS (lag) -> keep
      (4L, t("2024-01-01 11:00:00"), 1L, "a", 6.0),  // different value -> keep
      (5L, t("2024-01-01 12:00:00"), 2L, "a", 5.0),  // different user -> keep
      (6L, t("2024-01-03 10:00:00"), 1L, "b", 5.0)   // different type -> keep
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val kept = Dedup.windowedEventDedup(ev, 2).collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L, 5L, 6L))
  }

  test("nearDupDegreeHistogram: degrees from banded pairs, zero-degree docs counted") {
    // 1,2 differ only in case/spacing -> identical token stream ->
    // 64-bit hamming 0 (degree 1 each); 3 unrelated (degree 0)
    val d = docs((1L, near1), (2L, near1.toUpperCase + "  "), (3L, other))
    val out = Dedup.nearDupDegreeHistogram(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 2L, "docs 1 and 2 each have one near-dup")
    assert(out(0L) == 1L, "doc 3 has none and must still be counted")
  }

  test("nearDupTriangles: a 3-clique emits once oriented a<b<c; a bare pair emits none") {
    // 1,2,3 are token-identical (case/space variants) -> pairwise
    // hamming 0 -> one triangle; 4,5 are a pair only; 6 is unrelated
    val d = docs(
      (1L, near1), (2L, near1.toUpperCase), (3L, "  " + near1 + "  "),
      (4L, other), (5L, other.toUpperCase),
      (6L, "some text with entirely distinct vocabulary throughout here now"))
    val tri = Dedup.nearDupTriangles(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(tri == Seq((1L, 2L, 3L)), s"got $tri")
  }

  test("minhashProbePairs: batch finds corpus near-dups; corpus never pairs with itself") {
    val corpus = docs((3L, near1), (6L, other))
    val batch = docs((10L, near2), (20L, "nothing in common with either side at all"))
    val out = Dedup.minhashProbePairs(corpus, batch, 3, 8, 4, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((10L, 3L)), s"got $out")
    // identical doc in both sides -> jaccard 1.0 hit (the re-ingest case)
    val again = Dedup.minhashProbePairs(corpus, docs((30L, near1)), 3, 8, 4, 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(again(((30L, 3L))) == 1.0)
  }

  test("autoDocFreqCap: floored for fixture-scale corpora, √N contract above it") {
    // Below the floor the cap is the floor — and df <= nDocs <= floor
    // means it can NEVER bind there: every gated fixture stays exact
    // and the hot-cap warn stays silent.
    assert(Dedup.autoDocFreqCap(0) == 1000)
    assert(Dedup.autoDocFreqCap(500) == 1000)
    assert(Dedup.autoDocFreqCap(62500) == 1000)   // 4·√62500 = 1000 exactly
    // Above the floor the cap GROWS with the corpus (the fixed default
    // froze at 1000 forever) and tracks c·√N, so the hottest admitted
    // shingle's pair fan-out cap² ≈ c²·N stays linear in the corpus.
    assert(Dedup.autoDocFreqCap(1000000) == 4000)
    assert(Dedup.autoDocFreqCap(100000000) == 40000)
    val n1 = 1L << 30
    val c1 = Dedup.autoDocFreqCap(n1).toLong
    val c4 = Dedup.autoDocFreqCap(4 * n1).toLong
    assert(c4 == 2 * c1, "quadrupling the corpus doubles the cap (√N)")
    // Auto mode (default) equals an explicitly-uncapped run on a
    // fixture corpus: the cap did not bind.
    val d = docs((1L, near1), (2L, near2), (3L, other))
    def pairs(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(Dedup.ngramJaccardPairsInverted(d, 3, 0.5)) ==
      pairs(Dedup.ngramJaccardPairsInverted(d, 3, 0.5, maxDocFreq = Int.MaxValue)))
    assert(pairs(Dedup.ngramContainmentPairs(d, 3, 0.5)) ==
      pairs(Dedup.ngramContainmentPairs(d, 3, 0.5, maxDocFreq = Int.MaxValue)))
  }

  test("connectedComponents: batched convergence checks match per-round, fewer driver actions") {
    // chain 1..6 (diameter 5) + a separate pair; pointer jumping with
    // roundsPerCheck=2 must produce identical labels to per-round
    // checking while issuing fewer driver ACTIONS (the per-fixpoint
    // fixed cost: each convergence check is a blocking round-trip —
    // total shuffle work is round-count-bound either way, so actions,
    // not AQE stage-jobs, are what batching saves).
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (10L, 11L))
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 1L, 6L -> 1L, 10L -> 10L, 11L -> 10L)
    @volatile var actions = 0
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        actions += 1
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    def run(rpc: Int): (Map[Long, Long], Int) = {
      actions = 0
      spark.listenerManager.register(ql)
      try {
        // explicit partitions force the DISTRIBUTED pointer-jumping
        // path — the batching claim is about its per-round driver
        // actions (the default would take the r15 small-graph
        // union-find fast path, which has no rounds at all)
        val got = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"),
            partitions = 1, roundsPerCheck = rpc)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // listener events are delivered async, on the shared bus
        ListenerBus.drain(spark.sparkContext)
        (got, actions)
      } finally spark.listenerManager.unregister(ql)
    }
    val (perRound, actsPerRound) = run(1)
    val (batched, actsBatched) = run(2)
    val (tripled, _) = run(3)
    assert(perRound == expect && batched == expect && tripled == expect)
    assert(actsBatched < actsPerRound,
      s"batched=$actsBatched per-round=$actsPerRound: batching must cut driver actions")
  }

  test("connectedComponents: auto-sized and forced parallelism agree") {
    // default (partitions <= 0) sizes iteration parallelism from the
    // measured edge count — tiny graph -> 1 task per round; an explicit
    // partition count must produce identical labels.
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L)
    val auto = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val forced = Dedup.connectedComponents(pairs, partitions = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(auto == expect && forced == expect, s"auto=$auto forced=$forced")
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def emb(rows: (Long, Seq[Float], Int)*): DataFrame =
    rows.toSeq.toDF("vec_id", "embedding", "label")

  test("rrfFuse: both-list hits outrank either single-list top hit") {
    val a = Seq((1L, 1L, 10L), (1L, 2L, 11L))
      .toDF("query_id", "rnk", "neighbor_id")
      .select(col("query_id"), col("rnk"), col("neighbor_id"))
    val b = Seq((1L, 1L, 11L), (1L, 2L, 12L))
      .toDF("query_id", "rnk", "neighbor_id")
    // n11 in both lists: 1/62 + 1/61 beats n10's single 1/61
    val out = Similarity.rrfFuse(a, b, 10).collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getDouble(3), r.getLong(4))))
      .toMap
    assert(out(1L) == ((11L, 1.0 / 62 + 1.0 / 61, 2L)), s"got $out")
    assert(out(2L) == ((10L, 1.0 / 61, 1L)), s"got $out")
    assert(out(3L) == ((12L, 1.0 / 62, 1L)), s"got $out")
  }

  test("mmrRerank: the duplicate of pick 1 drops behind the diverse candidate") {
    // query equidistant from c1 and c3; c2 is an EXACT copy of c1.
    // rel: c1 = c2 = c3 = 0.7071. Pure relevance would rank c2 second
    // (id tie-break); MMR pick 2 must be the orthogonal c3 (penalty 0)
    // and the duplicate falls to pick 3 with score rel - 1.
    val e = emb(
      (0L, Seq(0.7f, 0.7f), 0),
      (1L, Seq(1f, 0f), 0),
      (2L, Seq(1f, 0f), 0),
      (3L, Seq(0f, 1f), 0))
    val out = Similarity.mmrRerank(e, col("vec_id") === 0, 3, 3)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 1L, 2L -> 3L, 3L -> 2L), s"got $out")
  }

  test("mmrRerank pick 1 equals the brute-force top-1 and picks are distinct") {
    val e = emb(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(0.9f, 0.1f), 0),
      (2L, Seq(0.8f, 0.3f), 0),
      (3L, Seq(0f, 1f), 0),
      (4L, Seq(0.5f, 0.5f), 0))
    val out = Similarity.mmrRerank(e, col("vec_id") === 0, 4, 4).collect()
    val byPos = out.map(r => r.getLong(1) -> r.getLong(2)).toMap
    val top1 = Similarity.bruteForceTopK(e, col("vec_id") === 0, 1)
      .collect().head.getLong(2)
    assert(byPos(1L) == top1)
    assert(out.map(_.getLong(2)).distinct.length == 4)
  }

  test("bruteForceTopK ranks by cosine with known geometry") {
    val e = emb(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(0.9f, 0.1f), 0),   // closest to 0
      (2L, Seq(0f, 1f), 0),       // orthogonal
      (3L, Seq(-1f, 0f), 0))      // opposite
    val out = Similarity.bruteForceTopK(e, col("vec_id") === 0, 3)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("filtered compressed search == full ADC ranking post-filtered to candidates") {
    // candPred restricts the sq8 CODE SCAN with the SAME code table, so
    // the filtered top-k must equal re-ranking the unfiltered code-space
    // ranking restricted to candidate ids — no candidate may be lost
    // by filtering inside the scan, none may leak in past it.
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pred = col("vec_id") % 100 === 0
    val cand = col("label") % 2 === 0
    val candIds = e.filter(cand).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val n = e.count().toInt
    def postFiltered(full: org.apache.spark.sql.DataFrame, k: Int) = full
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .filter(t => candIds.contains(t._2))
      .groupBy(_._1)
      .flatMap { case (_, rows) =>
        rows.sortBy(t => (t._3, t._2)).take(k).toSeq }
      .toSet
    val fSq8 = Similarity.sq8TopK(e, pred, 5, Some(cand))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(fSq8 == postFiltered(Similarity.sq8TopK(e, pred, n), 5),
      "sq8 filtered search diverges from the post-filtered full ranking")
    assert(fSq8.nonEmpty)
    assert(fSq8.forall(t => candIds.contains(t._2)))
  }

  test("bigramLmScore: hand-computed corpus-trained typicality") {
    // corpus bigrams: (a,b)×2, (b,a)×1, (a,c)×1; contexts: a×3, b×1
    // pq(a,b) = floor(1e9·2/3) = 666666666; pq(b,a) = 1e9;
    // pq(a,c) = floor(1e9/3) = 333333333
    val d = Seq(
      (0L, "a b a c"),
      (1L, "a b"),
      (2L, "c")).toDF("doc_id", "text")
    val out = graft.functions.TextAnalysis.bigramLmScore(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(out(0L) == ((3L, 666666666L + 1000000000L + 333333333L,
      Some(1999999999.0 / 3e9))))
    assert(out(1L) == ((1L, 666666666L, Some(666666666.0 / 1e9))))
    assert(out(2L) == ((0L, 0L, None)), "a 1-token doc has no bigrams, score null")
  }

  test("bigramLmScoreAgainst: reference-trained scores with OOV accounting") {
    // reference (d0 only): bigrams (a,b),(b,a),(a,c); contexts a×2, b×1
    // pq(a,b) = 5e8, pq(b,a) = 1e9, pq(a,c) = 5e8
    val ref = Seq((0L, "a b a c")).toDF("doc_id", "text")
    val tgt = Seq(
      (0L, "a b a c"),
      (1L, "a b x y")).toDF("doc_id", "text") // (a,b) seen; (b,x),(x,y) OOV
    val out = graft.functions.TextAnalysis.bigramLmScoreAgainst(ref, tgt)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(0L) == ((3L, 0L, 500000000L + 1000000000L + 500000000L)))
    assert(out(1L) == ((3L, 2L, 500000000L)),
      s"reference-unseen bigrams must count as OOV with 0 probability: $out")
  }

  test("knnGraph: sorted bounded lists, no self edges, partition-invariant") {
    val e = emb((0L to 29L).map(i =>
      (i, Seq(i.toFloat / 30f, 1f - i.toFloat / 30f, (i % 6).toFloat / 6f, 0.5f), 0)): _*)
    def run(df: org.apache.spark.sql.DataFrame) = Similarity.knnGraph(df, 5, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      .sortBy(t => (t._1, t._2))
    val out = run(e)
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (node, rows) =>
      assert(rows.length <= 5, s"node $node has ${rows.length} > k rows")
      assert(rows.forall(_._3 != node), s"self edge at node $node")
      val byRank = rows.sortBy(_._2)
      assert(byRank.map(_._4) == byRank.map(_._4).sorted,
        s"node $node list not distance-sorted: $byRank")
    }
    // integer-exact end to end: same graph under any partitioning
    assert(run(e.repartition(7)) == out)
  }

  test("knnGraph: NN-descent rounds are monotone — kth distance never increases") {
    // candidates of round r+1 include the node's CURRENT neighbors
    // (direct edges ride the candidate union), so per-node the new
    // top-k is over a superset: the worst kept distance is monotone
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def kth(rounds: Int): Map[Long, Long] =
      Similarity.knnGraph(e, 5, rounds).collect()
        .groupBy(_.getLong(0)).map { case (n, rs) => n -> rs.map(_.getLong(3)).max }
    val r0 = kth(0)
    val r2 = kth(2)
    assert(r2.keySet.size >= r0.keySet.size,
      "descent rounds can only add reachable nodes")
    r0.foreach { case (node, d0) =>
      assert(r2(node) <= d0,
        s"node $node worsened: round-2 kth dist ${r2(node)} > round-0 $d0")
    }
    // strict improvement is NOT asserted: LSH seeding can disconnect
    // the graph into per-bucket components (sf0.001 lands in 2
    // buckets of ~100, each already bucket-optimal at k=5), and
    // NN-descent provably cannot cross a component boundary — the
    // recall spec below is what certifies the descent earns its keep
  }

  test("knnGraph node-list recall holds its floor (the graph-index serving claim)") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pred = col("vec_id") % 100 === 0
    val truth = Similarity.bruteForceTopK(e, pred, 10).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val graph = Similarity.knnGraph(e, 10, 2).filter(pred).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val gRec = (graph & truth).size.toDouble / truth.size
    info(f"knn_graph=$gRec%.3f")
    // r17 ring seeding: node-list recall re-measured 0.24 (the bounded
    // O(n·2k) init trades list quality for the 100x build exponent
    // 1.16 -> 0.53; the SERVING walk holds 0.92 — see the search pin)
    assert(gRec >= 0.12, f"knn_graph recall collapsed: $gRec%.3f") // half measured 0.24
  }

  test("knnGraphSearch: bounded walk reaches the neighborhood — measured recall pinned") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pred = col("vec_id") % 100 === 0
    val truth = Similarity.bruteForceTopK(e, pred, 10).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val nV = e.count()
    val got = Similarity.knnGraphSearch(e, pred, 10, kGraph = 10,
        rounds = 2, hops = Similarity.autoGraphHops(nV),
        beam = Similarity.autoGraphBeam(nV))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val rec = (got & truth).size.toDouble / truth.size
    info(f"knn_graph_search sf0.001 recall: $rec%.3f")
    // the walk starts from GLOBAL entry points, so its recall is the
    // graph-navigability measure (not the node's own list); measured
    // 0.920 at the auto serving point over the r17 ring-seeded graph —
    // far ABOVE the node-list recall 0.24 (the walk's visited set is
    // ~beam·kG·hops wide); pinned at half-measured
    assert(rec >= 0.46, f"graph-search recall collapsed: $rec%.3f")
    // determinism + bounds: exactly <= k rows per query, never self
    val rows = Similarity.knnGraphSearch(e, pred, 10, 10, 2, 3, 10).collect()
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.length <= 10 && rs.forall(_.getLong(2) != q))
    }
  }

  test("knnGraphSearch: more hops never lose visited ground (monotone recall in hops)") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pred = col("vec_id") % 100 === 0
    val truth = Similarity.bruteForceTopK(e, pred, 10).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def rec(hops: Int): Double = {
      val got = Similarity.knnGraphSearch(e, pred, 10, 10, 2, hops, 10)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      (got & truth).size.toDouble / truth.size
    }
    // the visited set only grows with hops and the final top-k is over
    // visited, so L2-quality is monotone; cosine-truth recall follows
    // on this corpus (pinned as measured)
    val r0 = rec(0)
    val r3 = rec(3)
    info(f"graph-search recall hops0=$r0%.3f hops3=$r3%.3f")
    assert(r3 >= r0, f"walking the graph must not lose recall: $r3%.3f < $r0%.3f")
    assert(r3 > r0, "three hops must strictly improve on the raw entry points here")
  }

  test("hardNegatives returns nearest DIFFERENT-label rows only") {
    val e = emb(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(0.95f, 0.05f), 0),  // nearest overall but SAME label -> excluded
      (2L, Seq(0.9f, 0.1f), 1),    // hardest negative
      (3L, Seq(0.5f, 0.5f), 2),
      (4L, Seq(0f, 1f), 0))
    val out = Similarity.hardNegatives(e, col("vec_id") === 0, 10)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getInt(4)))
    assert(out.toSeq == Seq((1L, 2L, 1), (2L, 3L, 2)),
      s"same-label rows must never appear as negatives: ${out.toSeq}")
    // equals brute force over the different-label candidate set
    val ref = Similarity.bruteForceTopK(e, col("vec_id") === 0, 10,
        col("label") =!= 0)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(out.map(t => (t._1, t._2)).toSeq == ref.toSeq)
  }

  test("hardNegatives: every query mines against its OWN label") {
    // two queries with different labels: candidate sets differ per query
    val e = emb(
      (0L, Seq(1f, 0f), 0),
      (100L, Seq(0f, 1f), 1),
      (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0.1f, 0.9f), 1))
    val out = Similarity.hardNegatives(e, col("vec_id") % 100 === 0, 10)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    // query 0 (label 0) may see {100, 3}; query 100 (label 1) may see {0, 2}
    assert(out == Set((0L, 100L), (0L, 3L), (100L, 0L), (100L, 2L)), s"$out")
  }

  test("bruteForceTopK candPred: filtered search excludes non-matching candidates") {
    val e = emb(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(0.9f, 0.1f), 1),   // closest but ODD label -> excluded
      (2L, Seq(0.5f, 0.5f), 2),
      (3L, Seq(0f, 1f), 4))
    val out = Similarity.bruteForceTopK(e, col("vec_id") === 0, 3,
        col("label") % 2 === 0)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 2L), (2L, 3L)),
      "vec 1 (odd label) must not appear; ranks renumber over the filtered set")
    // filtered result == brute force over the pre-filtered corpus
    val ref = Similarity.bruteForceTopK(e.filter(col("label") % 2 === 0),
        col("vec_id") === 0, 3)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(out.toSeq == ref.toSeq)
  }

  test("labelCentroids: exact per-dimension means in long form") {
    val e = emb(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(3f, 2f), 0),
      (2L, Seq(10f, -4f), 1))
    val out = Similarity.labelCentroids(e).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> ((r.getDouble(2), r.getLong(3)))).toMap
    assert(out((0, 0L)) == ((2000000.0, 2L)))   // (1e6 + 3e6)/2
    assert(out((0, 1L)) == ((1000000.0, 2L)))   // (0 + 2e6)/2
    assert(out((1, 0L)) == ((10000000.0, 1L)))
    assert(out((1, 1L)) == ((-4000000.0, 1L)))
  }

  test("kmeans centroids: k cells, full dimensionality, usable by IVF") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Similarity.kmeansCentroids(emb, 8, 2).collect()
    assert(cents.length == 8)
    assert(cents.forall(_.getSeq[Double](1).length == 64))
    val out = Similarity.ivfTopK(emb, col("vec_id") % 100 === 0, 5, 8, 2, trainIters = 2)
    val perQuery = out.groupBy("query_id").count().collect().map(_.getLong(1)).toSet
    assert(perQuery == Set(5L))
  }

  test("kmeansFixedPoint: separated clusters resolve exactly; partition-invariant") {
    // Two tight clusters far apart on dim 0. Seeds are the 2 smallest
    // md5(vec_id): ids 4 and 1 for this fixture (verified) — one in
    // each cluster, so 2 integer iterations resolve the clustering
    // exactly. (Like any Lloyd's, bad seeds can stick in a local
    // optimum; the operator contract is determinism, not global opt.)
    val rows = (0L until 6L).map { i =>
      val base = if (i < 3) 0.9f else -0.9f
      (i, Array(base + 0.001f * i, 0.0f, 0.0f, 0.0f))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val out = Similarity.kmeansFixedPoint(emb, 2, 2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._2)
    // one cell of the three negative vectors, one of the three positive
    assert(out.length == 2 && out.forall(_._1 == 3L), s"got ${out.mkString(",")}")
    assert(out.head._2 < 0 && out.last._2 > 0, s"got ${out.mkString(",")}")
    // determinism under physical layout: 1 partition == 7 partitions
    val a = Similarity.kmeansFixedPoint(emb.repartition(1), 2, 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val b = Similarity.kmeansFixedPoint(emb.repartition(7), 2, 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(a.toSeq == b.toSeq, s"layout-dependent: $a vs $b")
  }

  test("multi-table LSH recall is monotone in table count") {
    // candidates(L=1) ⊆ candidates(L=4) (table 0's hyperplanes are
    // shared), so top-k from the larger candidate set cannot lose
    // recall vs brute force.
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pred = col("vec_id") % 100 === 0
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = pairs(Similarity.bruteForceTopK(e, pred, 10))
    val one = pairs(Similarity.lshTopKMulti(e, pred, 10, 4, 1))
    val four = pairs(Similarity.lshTopKMulti(e, pred, 10, 4, 4))
    def recall(a: Set[(Long, Long)]): Double =
      if (brute.isEmpty) 1.0 else (a & brute).size.toDouble / brute.size
    assert(recall(four) >= recall(one),
      s"recall dropped with more tables: ${recall(four)} < ${recall(one)}")
    assert(recall(four) > 0.0)
  }

  test("nearDupPairs hot-label guard: oversized labels route through LSH, not the quadratic block") {
    // label 0 exceeds the cap (8 rows > maxLabelRows=5) and holds an
    // identical-vector pair (ids 1,2) — identical vectors share every
    // LSH bucket deterministically, so the guard's LSH branch must find
    // them; label 1 is cold and stays on the exact path. With the cap
    // binding, the result must equal exact-on-cold ∪ LSH-on-hot
    // (within-label) — and on this fixture that equals the uncapped
    // exact result, so the guard loses nothing here either.
    val base = (0 until 64).map(i => (i % 7 + 1).toFloat)
    def perturb(seed: Int): Seq[Float] =
      base.zipWithIndex.map { case (v, i) => if ((i * 31 + seed) % 5 == 0) -v else v * (seed + 2) }
    val hotFill = (3L to 8L).map(i => (i, perturb(i.toInt), 0))
    val e = emb(Seq(
      (1L, base, 0), (2L, base, 0)) ++ hotFill ++ Seq(
      (11L, base.map(_ * 2f), 1), (12L, base.map(_ * 2f), 1)): _*)
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Int, Long, Long)] =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val guarded = pairSet(Similarity.nearDupPairs(e, 0.95, maxLabelRows = 5))
    val uncapped = pairSet(Similarity.nearDupPairs(e, 0.95))
    assert(guarded.contains((0, 1L, 2L)), "identical pair in the HOT label must surface via LSH")
    assert(guarded.contains((1, 11L, 12L)), "cold label must stay on the exact path")
    assert(guarded == uncapped, s"guarded=$guarded uncapped=$uncapped")
    // routing really happened: the construction the guard must equal
    val hotRows = e.filter(col("label") === 0)
    val lshHot = Similarity.nearDupPairsLsh(hotRows, 0.95, 4, 4)
      .collect().map(r => (0, r.getLong(0), r.getLong(1))).toSet
    val exactCold = pairSet(Similarity.nearDupPairs(e.filter(col("label") =!= 0), 0.95))
    assert(guarded == (lshHot ++ exactCold))
  }

  test("annRecall: measured per-method recall against brute force, with floors") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Similarity.annRecall(e, col("vec_id") % 100 === 0, 10, 4, 4, 16, 4)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == graft.functions.AnnPolicy.rungs.map(_.method).toSet)
    // re-ranking a 5k code-space pool can only help: recall is monotone
    assert(out("sq8_rerank")._3 >= out("sq8")._3)
    val nTruth = out("ivf")._2
    assert(nTruth > 0 && out.values.forall(_._2 == nTruth),
      "all methods score against the same ground truth")
    // Per-method floors pinned to the measured values on this corpus
    // (deterministic md5 hashing + fixed testdata → exact): a
    // retrieval regression fails RED here, it doesn't drift in prose.
    // Keep in sync with the BUILD_NOTES "ANN recall trend" table.
    // sq8's floor is the highest: 8 bits PER DIM (512 bits/vector) —
    // near-lossless by design, it buys memory locality (byte codes)
    // rather than deep compression, and its 5k-pool exact re-rank
    // recovers recall 1.0 on this corpus.
    // r13: the harness measures the SERVED operating points (the gated
    // queries' params, memo-shared trainings) instead of a richer
    // config nothing serves.
    val floors = Map("lsh_multi" -> 0.54, "ivf" -> 0.52,
      "knn_graph" -> 0.24, "knn_graph_search" -> 0.92, "sq8" -> 0.90,
      "sq8_rerank" -> 1.00)
    out.foreach { case (m, (hits, n, rec)) =>
      info(f"$m%-10s recall=$rec%.3f ($hits/$n)")
      assert(rec == hits.toDouble / n, s"$m recall must be hits/truth")
      assert(rec >= floors(m) && rec <= 1.0,
        s"$m recall $rec below its pinned floor ${floors(m)} — retrieval regression")
    }
  }

  test("annRecall: shared-scoring fold equals recall of the standalone method top-ks") {
    // Pins the r4 refactor (one scored cross product + ids-only
    // candidate joins) to the semantics it replaced: per-method recall
    // computed the slow way, from each standalone top-k's overlap with
    // bruteForceTopK.
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pred = col("vec_id") % 100 === 0
    val (k, bits, tables, nCells, nProbe) = (10, 4, 4, 16, 4)
    def ids(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = ids(Similarity.bruteForceTopK(e, pred, k))
    val slow = Map(
      "lsh_multi" -> ids(Similarity.lshTopKMulti(e, pred, k, bits, tables)),
      "ivf" -> ids(Similarity.ivfTopK(e, pred, k, nCells, nProbe)),
      "sq8" -> ids(Similarity.sq8TopK(e, pred, k)),
      "sq8_rerank" -> ids(Similarity.sq8TopKRerank(e, pred, k, 5 * k)))
    val fast = Similarity.annRecall(e, pred, k, bits, tables, nCells, nProbe)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    slow.foreach { case (m, topk) =>
      assert(fast(m) == ((topk.intersect(truth).size.toLong, truth.size.toLong)),
        s"$m: shared-scoring hits/truth must match the standalone top-k overlap")
    }
  }

  test("unlabeled LSH near-dup: perfect precision, recall monotone in tables") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val thresh = 0.4
    // exact all-pairs reference (fixture-sized only)
    val q = Similarity.quantized(e).select(col("vec_id"), col("q"), col("nq"))
    val exact = q.as("a").join(q.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine",
        graft.plans.DotI64.dot_i64(col("a.q"), col("b.q")).cast("double") /
          sqrt(col("a.nq").cast("double") * col("b.nq").cast("double")))
      .filter(col("cosine") >= thresh)
      .select(col("a.vec_id"), col("b.vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def found(tables: Int): Set[(Long, Long)] =
      Similarity.nearDupPairsLsh(e, thresh, 4, tables)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = found(1)
    val four = found(4)
    assert(one.subsetOf(exact) && four.subsetOf(exact),
      "verification must make precision 1.0")
    assert(one.subsetOf(four), "candidates must grow with tables")
    assert(exact.isEmpty || four.nonEmpty)
  }

  test("quantized cosine agrees with double cosine to 1e-5") {
    val e = Similarity.quantized(
      Tables.embeddings(spark, "/root/testdata/sf0.001").limit(50))
      .withColumn("v", col("embedding").cast("array<double>"))
    val rows = e.as("a").crossJoin(e.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(
        (col("a.nq").cast("double")).as("na"),
        expr("aggregate(zip_with(a.v, b.v, (x, y) -> x * y), 0D, (acc, v) -> acc + v)" +
          " / sqrt(aggregate(a.v, 0D, (acc, v) -> acc + v * v)" +
          " * aggregate(b.v, 0D, (acc, v) -> acc + v * v))").as("dc"),
        expr("aggregate(zip_with(a.q, b.q, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)")
          .cast("double").as("dot"),
        col("b.nq").cast("double").as("nb"))
      .withColumn("qc", col("dot") / sqrt(col("na") * col("nb")))
      .select("dc", "qc").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-5))
  }

  test("annServe dispatches the cheapest floor-meeting rung; floors select different winners") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pred = col("vec_id") % 100 === 0
    val env = Similarity.annPolicyEnv(e, pred)
    // floor 0: everything is eligible — the q*kGraph graph-list lookup
    // is the global cost minimum at any corpus size
    val lookAll = Similarity.annServe(e, pred, 10, 0L)
    assert(lookAll.select("method").head().getString(0) == "knn_graph")
    // its rows must BE the graph's own lists for the query nodes
    val graphRows = Similarity.knnGraph(e,
        graft.functions.AnnPolicy.kGraph, graft.functions.AnnPolicy.graphRounds)
      .join(e.filter(pred).select(col("vec_id")), Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("rnk"), col("neighbor_id"))
      .collect().map(_.toSeq).toSet
    assert(lookAll.select(col("query_id"), col("rnk"), col("neighbor_id"))
      .collect().map(_.toSeq).toSet == graphRows)
    // the served cost_units equals the rung's own tree over the env
    assert(lookAll.select("cost_units").head().getLong(0) ==
      graft.functions.AnnPolicy.costUnits("knn_graph", env))
    // tighter floors walk UP the frontier: 400 -> ivf, 700 -> sq8
    assert(Similarity.annServe(e, pred, 10, 400L)
      .select("method").head().getString(0) == "ivf")
    assert(Similarity.annServe(e, pred, 10, 700L)
      .select("method").head().getString(0) == "sq8")
    // an unsatisfiable floor fails loudly, not with a silent fallback
    val ex = intercept[IllegalArgumentException] {
      Similarity.annServe(e, pred, 10, 2000L)
    }
    assert(ex.getMessage.contains("no ANN rung certifies"))
  }

  private def sf0001 = Tables.embeddings(spark, "/root/testdata/sf0.001")

  test("every rung in AnnPolicy.rungs serves through its own serve function") {
    val e = sf0001
    val pred = col("vec_id") % 100 === 0
    val qIds = e.filter(pred).select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val env = graft.functions.AnnPolicy.env(e.count(), qIds.size.toLong)
    val k = graft.functions.AnnPolicy.k
    graft.functions.AnnPolicy.rungs.foreach { r =>
      val rows = r.serve(e, pred, k, env)
        .select(col("query_id"), col("rnk"), col("neighbor_id")).collect()
      val perQuery = rows.groupBy(_.getLong(0))
      assert(perQuery.keySet == qIds, s"${r.method}: rows for ${perQuery.keySet}, want $qIds")
      perQuery.foreach { case (q, rs) =>
        assert(rs.length <= k, s"${r.method}: query $q got ${rs.length} rows")
        assert(rs.forall(x => x.getLong(1) >= 1 && x.getLong(1) <= k), s"${r.method}: rnk")
      }
    }
  }

  // Memos over a query set key on the FILTERED plan: under Spark 4.1 a
  // functions-API predicate renders to the same SQL string whatever it
  // says, so a key on that string hands one predicate's rows to another.
  private val otherPred = col("vec_id") % 50 === 1

  test("bf_truth memo keys on the predicate: a second query set gets its own truth") {
    val e = sf0001
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    Similarity.bruteForceTopKMemo(e, col("vec_id") % 100 === 0, 10).count()
    assert(rows(Similarity.bruteForceTopKMemo(e, otherPred, 10)) ==
      rows(Similarity.bruteForceTopK(e, otherPred, 10)))
  }

  test("ann_policy_env memo keys on the predicate: q follows the query set") {
    val e = sf0001
    // the memo is kept at or above the driver-resident cap (cap 0); below
    // it (the default) the counts are read from the resident corpus
    for (cap <- Seq(0L, Similarity.localServeCap)) {
      val q100 = Similarity.annPolicyEnv(e, col("vec_id") % 100 === 0, cap)("q")
      val qOther = Similarity.annPolicyEnv(e, otherPred, cap)("q")
      assert(q100 == e.filter(col("vec_id") % 100 === 0).count())
      assert(qOther == e.filter(otherPred).count() && qOther != q100)
    }
  }

  test("ann_recall memo keys on the predicate: n_truth follows the query set") {
    val e = sf0001
    def nTruth(p: org.apache.spark.sql.Column) =
      Similarity.annRecall(e, p, 10, 4, 4, 16, 4).select(col("n_truth")).head().getLong(0)
    Seq(col("vec_id") % 100 === 0, otherPred).foreach { p =>
      assert(nTruth(p) == Similarity.bruteForceTopK(e, p, 10).count())
    }
  }

  test("seedTable picks == the per-stage TakeOrdered md5 ranking (r19 trainer reshape)") {
    // the bounded-TopK seed pick must be BIT-identical to the
    // TakeOrdered + row_number form every certified trainer used
    // through r18 — same ids, same code order, per salt
    val v = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"))
    val salts = Seq("", "r", "rr", "p", "h")
    val maxK = 17
    val got = Similarity.seedTable(v, salts, maxK)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val want = salts.flatMap { salt =>
      v.select(col("vec_id"),
          md5(concat(col("vec_id").cast("string"), lit(salt))).as("_h"))
        .orderBy(col("_h"), col("vec_id")).limit(maxK)
        .collect().map(_.getLong(0)).zipWithIndex
        .map { case (id, pos) => (salt, id, pos) }
    }.toSet
    assert(got == want, s"seedTable drifted from the TakeOrdered pick")
  }

  test("kmeansFixedPointAssign literal-centroid path == broadcast-join path") {
    // litCentCap is a pure plan choice: the map-only argmin over literal
    // centroids and the broadcast-join + partial-min aggregate must give
    // identical (vec_id, cell_id). litCap = 0 forces the join spelling,
    // which no board query takes (k <= 32 at sf0.1). The cap is in the
    // memo key, so each side trains on its own.
    def assign(e: DataFrame, litCap: Int) =
      Similarity.kmeansFixedPointAssign(e, 8, 2, litCap)
    def rows(df: DataFrame) =
      (df.schema.map(f => f.name -> f.dataType), df.collect().toSet)
    Seq("sf0.001", "sf0.01").foreach { sf =>
      val e = Tables.embeddings(spark, s"/root/testdata/$sf")
      val (literal, joined) = (assign(e, Similarity.litCentCap), assign(e, 0))
      assert(literal ne joined, s"$sf: the two spellings shared a memo entry")
      val (l, j) = (rows(literal), rows(joined))
      assert(l._2.size == e.count(), s"$sf: every vector gets a cell")
      assert(l._1 == j._1, s"$sf: the two spellings' schemas differ")
      val differ = (l._2 diff j._2) ++ (j._2 diff l._2)
      assert(differ.isEmpty, s"$sf: ${differ.size} rows differ between the spellings")
    }
    val empty = sf0001.limit(0)
    assert(rows(assign(empty, Similarity.litCentCap)) == rows(assign(empty, 0)))
    assert(assign(empty, 0).count() == 0)
  }

  test("annPolicyEnv memoizes per (corpus plan, predicate): second call recomputes nothing") {
    // The sizing jobs only exist inside the memo's compute path, so
    // "second call runs zero count() jobs" == "second call is a memo
    // HIT" — asserted via the per-tag hit counter, which is exact and
    // immune to suite-level concurrency (a raw SparkListener job count
    // reads other suites' concurrent jobs, and job-group tagging does
    // not survive the AQE stage-submission pool).
    // NOTE: hit COUNTERS are tag-global and other suites run
    // concurrently in `sbt test`, so the assertion is reference
    // equality instead: a memo hit returns the CACHED Map object
    // itself, which is exactly "zero sizing jobs recomputed". This is
    // local to this test and immune to any concurrent traffic.
    // The memo is kept where the counts are count() jobs: at or above
    // the driver-resident cap (cap 0 here). Below it the counts come
    // from the resident corpus and no entry is written.
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pred = col("vec_id") % 97 === 0 // distinct pred: cold memo key
    val env1 = Similarity.annPolicyEnv(e, pred, 0L)
    assert(env1("n") > 0 && env1("q") > 0)
    // same frame, fresh-but-equal predicate (the serve pattern:
    // annServe is called repeatedly over the session's corpus frame)
    val env2 = Similarity.annPolicyEnv(e, col("vec_id") % 97 === 0, 0L)
    assert(env2.asInstanceOf[AnyRef] eq env1.asInstanceOf[AnyRef],
      "second call must return the memoized env object — a hit computes nothing")
    val below = Similarity.annPolicyEnv(e, col("vec_id") % 97 === 0)
    assert(below == env1 && !(below.asInstanceOf[AnyRef] eq env1.asInstanceOf[AnyRef]),
      "below the cap the env equals the counted one and is not the memo's")
  }
}

class MultimodalSpec extends SparkSpec {

  private def media = Multimodal.fromDocuments(
    Tables.documents(spark, "/root/testdata/sf0.001").limit(30))

  test("PpmDecoder: genuine P6/P5 parse — header forms, comments, rejections") {
    import graft.multimodal.PpmDecoder
    def p6(header: String, px: Seq[Int]): Array[Byte] =
      header.getBytes("ISO-8859-1") ++ px.map(_.toByte).toArray
    // 2x1 RGB: white then black -> lumas (255, 0)
    val basic = PpmDecoder.decode(
      p6("P6\n2 1\n255\n", Seq(255, 255, 255, 0, 0, 0)))
    assert(basic.isDefined)
    assert((basic.get._1, basic.get._2) == ((2, 1)))
    assert(basic.get._3.toSeq == Seq(255, 0))
    // comment lines and mixed whitespace in the header are legal NetPBM
    val commented = PpmDecoder.decode(
      p6("P6 # a comment\n# another\n 2\t1 # dims\n255\n",
        Seq(30, 60, 90, 10, 20, 31)))
    assert(commented.get._3.toSeq == Seq(60, 20)) // integer (r+g+b)/3
    // P5 grayscale passes bytes through
    val gray = PpmDecoder.decode("P5\n3 1\n255\n".getBytes("ISO-8859-1")
      ++ Array[Byte](1, 2, 3))
    assert(gray.get._3.toSeq == Seq(1, 2, 3))
    // rejections: wrong magic, truncated payload, maxval > 255
    assert(PpmDecoder.decode("P4\n2 1\n255\n??".getBytes).isEmpty)
    assert(PpmDecoder.decode(p6("P6\n2 1\n255\n", Seq(1, 2, 3))).isEmpty)
    assert(PpmDecoder.decode(p6("P6\n1 1\n65535\n", Seq(1, 2, 3, 4, 5, 6))).isEmpty)
    assert(PpmDecoder.decode(Array[Byte]()).isEmpty)
  }

  test("perceptualHashPixels: decoded-pixel aHash — copies collide, corruption stays near") {
    import graft.sources.Synthetic
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val ppm = Synthetic.ppmPayloads(docs)
    val ph = Multimodal.perceptualHashPixels(ppm).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ph.nonEmpty)
    // id % 20 == 2 is a byte-identical copy of id-2 -> same hash
    val copies = ph.keys.filter(id => id % 20 == 2 && ph.contains(id - 2))
    assert(copies.nonEmpty)
    copies.foreach(id => assert(ph(id) == ph(id - 2),
      s"copy $id must hash identically to ${id - 2}"))
    // id % 20 == 1 differs in ONE pixel of 64 -> small Hamming distance
    val corrupt = ph.keys.filter(id => id % 20 == 1 && ph.contains(id - 1))
    assert(corrupt.nonEmpty)
    corrupt.foreach { id =>
      val d = java.lang.Long.bitCount(ph(id) ^ ph(id - 1))
      assert(d <= 8, s"one-pixel corruption moved $d of 64 bits for $id")
    }
    // a non-decodable payload row is dropped, not poisoned
    import spark.implicits._
    val mixed = ppm.unionByName(
      Seq((999999L, "not an image".getBytes)).toDF("id", "content"))
    assert(Multimodal.perceptualHashPixels(mixed).filter(col("id") === 999999L).count() == 0)
  }

  test("extractFeatures: histogram features normalized, checksum stable") {
    val f = Multimodal.extractFeatures(media).collect()
    assert(f.length == 30)
    f.foreach { m =>
      assert(m.features.length == 8)
      assert(math.abs(m.features.sum - 1f) < 1e-3)
      assert(m.checksum.length == 32)
    }
  }

  test("sampleFrames emits every-k byte windows for video rows") {
    val frames = Multimodal.sampleFrames(media, frameBytes = 16, everyK = 2)
    assert(frames.count() > 0)
    val widths = frames.selectExpr("length(frame) AS w").collect().map(_.getInt(0)).toSet
    assert(widths.forall(_ <= 16))
  }

  test("mediaNearDupPairs: re-encodes collide, small corruption stays close, unrelated apart") {
    import spark.implicits._
    // concentrated byte distributions (a handful of heavy bins, the
    // rest empty — the shape real media has); a uniform distribution
    // would park EVERY bin at the mean, the aHash degenerate case
    val base = Array.tabulate(4096)(i => ((i % 7) * 3 + 100).toByte)
    val corrupted = base.clone(); (0 until 8).foreach(i => corrupted(i * 500) = 0.toByte)
    val unrelated = Array.tabulate(4096)(i => ((i % 5) * 4 + 200).toByte)
    val m = Seq(
      (1L, base), (2L, base.clone()),      // identical payloads -> hamming 0
      (3L, corrupted),                      // 8 flipped bytes of 4096
      (4L, unrelated)
    ).toDF("id", "content")
    val pairs = Multimodal.mediaNearDupPairs(m, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs(((1L, 2L))) == 0L, "identical payloads hash identically")
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)),
      "mild corruption must stay within the hamming budget")
    assert(!pairs.keys.exists(p => p._1 == 4L || p._2 == 4L),
      "unrelated byte distribution must not pair")
    // phash semantic: exact per-bin histogram-vs-mean bits
    val h = Multimodal.perceptualHash(m.filter(col("id") === 1L))
      .collect().head.getLong(1)
    val bins = new Array[Long](64)
    base.foreach(b => bins((b & 0xff) >> 2) += 1L)
    val expected = (0 until 64).map(j =>
      if (bins(j) > base.length / 64.0) 1L << j else 0L).sum
    assert(h == expected)
  }

  test("fingerprintDedup: exact dup flagged, planted near-dup within budget, unrelated apart") {
    import spark.implicits._
    // window-SimHash keys on byte SEQUENCES, so varied content (where
    // the histogram phash above needs concentrated bins) is fine
    val rnd = new scala.util.Random(42)
    val base = Array.fill(2048)(rnd.nextInt(256).toByte)
    val corrupted = base.clone(); corrupted(1000) = (corrupted(1000) ^ 0x5a).toByte
    val unrelated = Array.fill(2048)(rnd.nextInt(256).toByte)
    val tiny = Array[Byte](1, 2) // < 4 bytes: no windows, must be excluded
    val m = Seq(
      (1L, base), (2L, base.clone()), // byte-identical -> hamming 0, is_exact 1
      (3L, corrupted),                // one flipped byte = 4 perturbed windows
      (4L, unrelated), (5L, tiny)
    ).toDF("id", "content")
    val pairs = Multimodal.fingerprintDedup(m).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(pairs(((1L, 2L))) == ((0L, 1L)), "byte-identical pair: hamming 0, exact flag set")
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L))._1 <= 3L && pairs((1L, 3L))._2 == 0L,
      s"planted near-dup must pair within the hamming budget, not exact: $pairs")
    assert(!pairs.keys.exists(p => p._1 == 4L || p._2 == 4L), "unrelated content must not pair")
    assert(!pairs.keys.exists(p => p._1 == 5L || p._2 == 5L), "windowless payloads are excluded")
    // deterministic: the fingerprint of identical content is identical
    val fps = Multimodal.contentFingerprint64(m.filter(col("id") <= 2))
      .collect().map(_.getLong(1)).toSet
    assert(fps.size == 1)
  }

  test("mediaPayloads plant phash dup triples: exact at 0, re-encode within budget") {
    // the structured-payload generator behind the q_media_phash gate:
    // each 20-block's {0,1,2} is a planted triple — id+2 byte-identical
    // to id (hamming 0), id+1 a palette-sharing perturbation (>0, ≤3)
    val docs = graft.sources.Synthetic.documents(spark, 40)
    val m = graft.sources.Synthetic.mediaPayloads(docs)
    assert(m.selectExpr("length(content) AS l").collect().forall(_.getInt(0) == 240),
      "every payload is exactly 240 bytes by construction")
    val got = Multimodal.mediaNearDupPairs(m, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    Seq(0L, 20L).foreach { b =>
      assert(got.get((b, b + 2L)).contains(0L), s"exact dup at block $b: $got")
      assert(got.get((b, b + 1L)).exists(h => h > 0L && h <= 3L),
        s"perturbed near-dup at block $b: $got")
      assert(got.get((b + 1L, b + 2L)).exists(h => h > 0L && h <= 3L),
        s"triple closes at block $b: $got")
    }
    assert(!got.contains((0L, 20L)), "independent palettes must not pair")
  }

  test("frameDedupPairs: shared scenes pair, distinct contents count once, hot frames capped") {
    import spark.implicits._
    def frame(seed: Int) = Array.tabulate(16)(i => (seed * 31 + i).toByte)
    def video(frames: Array[Byte]*) = frames.flatten.toArray
    // sampler takes every 2nd frame (indices 0, 2, 4): A and B share
    // sampled frames 0 and 4 (B's middle differs); C is disjoint; D
    // repeats ONE content at two sampled positions shared with A —
    // must count once, so (A, D) stays below minShared = 2
    val a = video(frame(1), frame(2), frame(3), frame(4), frame(5))
    val b = video(frame(1), frame(2), frame(9), frame(4), frame(5))
    val c = video(frame(20), frame(21), frame(22), frame(23), frame(24))
    val dD = video(frame(1), frame(2), frame(1), frame(4), frame(1))
    val m = Seq((1L, "video", a), (2L, "video", b), (3L, "video", c),
        (4L, "video", dD), (5L, "image", a)) // non-video never pairs
      .toDF("id", "modality", "content")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = pairs(Multimodal.frameDedupPairs(m))
    assert(got == Map((1L, 2L) -> 2L),
      s"A,B share sampled frames 0 and 4 only; D's repeats collapse: $got")
    // minShared = 1 surfaces the single-content overlaps too
    val loose = pairs(Multimodal.frameDedupPairs(m, minShared = 1))
    assert(loose((1L, 4L)) == 1L && loose((2L, 4L)) == 1L)
    // a frame every video shares is a hot posting: an explicit df cap
    // of 1 drops every pair (each shared digest exceeds the cap)
    val capped = pairs(Multimodal.frameDedupPairs(m, minShared = 1, maxFrameDf = 1))
    assert(capped.isEmpty, s"df-capped hot frames must not generate pairs: $capped")
  }
}
