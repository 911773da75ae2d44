package graft

import org.apache.spark.sql.SparkSession

/** Local t1-style smoke: run the flagship `SparkEntry.entry` and print
  * the row count plus a readable slice of the report. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.headOption.contains("upsert")) upsertProbe(spark)
    else if (args.headOption.contains("stream")) streamProbe(spark)
    else if (args.headOption.contains("time")) timeProbe(spark, args(1),
      args.lift(2).getOrElse("/root/testdata/sf0.1"), args.lift(3).map(_.toInt).getOrElse(3))
    else if (args.headOption.contains("uploads")) uploadsProbe(spark)
    else if (args.headOption.contains("formats")) formatsProbe(spark)
    else if (args.headOption.contains("curate")) curateProbe(spark,
      args.lift(1).getOrElse("/root/testdata/sf0.001"))
    else if (args.headOption.contains("explain")) {
      val df = SparkEntry.query(args(1)).run(spark, args.lift(2).getOrElse("/root/testdata/sf0.01"))
      df.write.format("noop").mode("overwrite").save()
      println(df.queryExecution.executedPlan.toString)
    }
    else if (args.headOption.contains("jobs")) {
      // Sequential-job profile of named queries (r19 optimization
      // evidence): counts Spark jobs and wall seconds per query — the
      // quantizer trainings are chains of small eager jobs
      // (localCheckpoint per stage), so the job count IS the critical
      // path being optimized. Queries run in order in ONE JVM (memo
      // sharing mirrors the suite); pass a single query for a cold read.
      val queries = SparkEntry.select(Some(args(1)))
      val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
      val verbose = sys.env.get("SMOKE_JOBS_VERBOSE").contains("1")
      val jobs = new java.util.concurrent.atomic.AtomicLong
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      val sites = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          starts.put(js.jobId, System.nanoTime())
          if (verbose) sites.put(js.jobId,
            js.stageInfos.map(si => si.name.takeWhile(_ != '$') +
              s"[${si.numTasks}]").mkString(" <- "))
        }
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          if (verbose) Option(starts.get(je.jobId)).foreach { t0 =>
            println(f"[job] ${je.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%7.3f s  ${sites.getOrDefault(je.jobId, "")}")
          }
      })
      queries.foreach { q =>
        val j0 = jobs.get(); val t0 = System.nanoTime()
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        // listener events are async — wait until the bus has delivered
        // every job start posted so far
        org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
        println(f"[jobs] ${q.name}%-28s $sec%8.3f s  ${jobs.get() - j0}%5d jobs")
      }
    }
    else if (args.headOption.contains("plans")) {
      // explain("formatted") of named queries written to <outDir>/<q>.txt
      // (the r19 optimization-evidence capture: plan shape — Exchange
      // count, join strategy, PushedFilters/ReadSchema — as files a
      // reviewer without Spark can diff). Queries: comma-separated names
      // in args(1); outDir args(2); sf dir args(3).
      val queries = SparkEntry.select(Some(args(1)))
      val outDir = java.nio.file.Paths.get(args.lift(2).getOrElse("plans/r19"))
      val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.1")
      java.nio.file.Files.createDirectories(outDir)
      queries.foreach { q =>
        val txt = q.run(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val out = outDir.resolve(s"${q.name}.txt")
        java.nio.file.Files.write(out, txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plans] wrote $out (${txt.length} chars)")
      }
    }
    else if (args.headOption.contains("audit")) auditProbe(spark,
      args.lift(1).getOrElse("/root/testdata/sf0.01"))
    else if (args.headOption.contains("scale")) scaleProbe(spark,
      args.lift(1).map(_.toLong).getOrElse(5000L),
      args.lift(2).map(_.toInt).getOrElse(10))
    else if (args.headOption.contains("annscale")) annScaleProbe(spark,
      args.lift(1).map(_.toLong).getOrElse(2000L))
    else if (args.headOption.contains("annrecall")) {
      // Per-method measured recall at a given sf dir (the harness the
      // gated q_ann_recall flags and the FunctionsSpec floors read).
      import org.apache.spark.sql.functions.col
      graft.functions.Similarity.annRecall(
          Tables.embeddings(spark, args.lift(1).getOrElse("/root/testdata/sf0.01")),
          col("vec_id") % 100 === 0, 10, 4, 4, 16, 4)
        .collect().foreach(r => println(
          f"ANNRECALL method=${r.getString(0)}%-14s hits=${r.getLong(1)}%-4d truth=${r.getLong(2)}%-4d recall=${r.getDouble(3)}%.3f"))
    }
    else if (args.headOption.contains("count")) {
      val n = SparkEntry.query(args(1)).run(spark,
        args.lift(2).getOrElse("/root/testdata/sf0.01")).count()
      println(s"COUNT[${args(1)}]=$n")
    }
    else if (args.headOption.contains("gendata")) genData(spark,
      args.lift(1).getOrElse("/tmp/scale/gen1x"),
      args.lift(2).map(_.toInt).getOrElse(1),
      args.lift(3).getOrElse("/root/testdata/sf0.1"))
    else if (args.headOption.contains("drift")) {
      val dir = args.lift(1).getOrElse("/root/testdata/sf0.01")
      val drift = Tables.schemaDrift(spark, dir)
      if (drift.isEmpty) println(s"DRIFT_CLEAN $dir")
      else { drift.foreach(d => println(s"DRIFT $d")); sys.exit(1) }
    }
    else {
      // typed Dataset[T] surface (graft.model)
      val ev = graft.model.Model.events(spark, "/root/testdata/sf0.001")
      val docs = graft.model.Model.documents(spark, "/root/testdata/sf0.001")
      println("TYPED_EVENTS=" + ev.filter(_.event_type == "purchase").count() +
        " TYPED_DOC_CHARS=" + docs.filter(_.n_chars > 100).count())
      val df = SparkEntry.entry(spark)
      println("ENTRY_ROWS=" + df.count())
      df.select("begin_date", "end_date", "total_spent", "total_transactions",
        "top_5_vendors", "fi_summary").show(false)
      println("DETAILS=" + df.select("details").head().getString(0).take(600))
    }
    spark.stop()
  }

  /** Empirical scale validation (VERDICT r7 #2): generate synthetic
    * documents at 1× and `factor`× (same schema and planted duplicate
    * structure as `sources.Synthetic` documents), then measure (a)
    * candidate-pair counts of every banded dedup family via
    * `Dedup.candidateDiagnostics` and (b) wall time of the three
    * headline dedup scale queries — so the "candidates stay ~linear, the
    * banded joins never go quadratic" claims in PLANS.md are measured,
    * not just argued from plan shape. Corpora land as parquet first
    * (the real scan shape) under a temp dir. */
  private def scaleProbe(spark: SparkSession, nBase: Long, factor: Int): Unit = {
    import graft.functions.Dedup
    import graft.sources.Synthetic
    val base = java.nio.file.Files.createTempDirectory("graft_scale").toString
    def timed(label: String, mult: Int)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"TIME mult=$mult%-3d query=$label%-22s sec=${(System.nanoTime() - t0) / 1e9}%8.2f out_rows=$n")
    }
    Seq(1, factor).foreach { mult =>
      val nDocs = nBase * mult
      Synthetic.documents(spark, nDocs).write.mode("overwrite")
        .parquet(s"$base/x$mult/documents.parquet")
      val docs = spark.read.parquet(s"$base/x$mult/documents.parquet")
      // auto caps (the production defaults: floor 1000 keeps oracle
      // fixtures exact) vs explicit 64 (the binding regime a 1000×
      // corpus reaches naturally — boilerplate buckets/postings there
      // dwarf any floor)
      Dedup.candidateDiagnostics(docs, 3, 8, 4).collect().foreach { r =>
        println(f"CAND mult=$mult%-3d caps=auto method=${r.getString(0)}%-16s n_docs=${r.getLong(1)}%-7d cap=${r.getLong(2)}%-5d n_candidates=${r.getLong(3)}")
      }
      Dedup.candidateDiagnostics(docs, 3, 8, 4, maxDocFreq = 64, maxBucket = 64)
        .collect().foreach { r =>
          println(f"CAND mult=$mult%-3d caps=64   method=${r.getString(0)}%-16s n_docs=${r.getLong(1)}%-7d cap=${r.getLong(2)}%-5d n_candidates=${r.getLong(3)}")
        }
      timed("minhash_lsh_pairs", mult)(
        Dedup.minhashLshPairs(docs, 3, 8, 4, 0.5).count())
      timed("simhash64_neardup", mult)(
        Dedup.simhash64NearDupPairs(docs).count())
      timed("dedup_corpus", mult)(
        Dedup.dedupCorpus(docs, 3, 8, 4, 0.5).count())
    }
  }

  /** Isolated 3-point ANN-family scaling fit (`Smoke annscale
    * [nBase]`): gen1x/4x/10x Synthetic embeddings with a FIXED query
    * set (vec_id < 20 — constant |Q| at every scale, unlike the gated
    * queries' %100 predicate whose query count grows with the corpus
    * and contaminates in-suite exponents). Each method family is timed
    * at each scale in one session; scales use DIFFERENT parquet dirs,
    * so IndexMemo cannot leak training across scales (keys include the
    * input plan) — within a scale, topk siblings deliberately ride the
    * family's one training run, same as production. Pinned-parameter
    * shapes (the gated configs) are measured next to their auto-sized
    * production siblings: pinned LSH/IVF are EXPECTED to trend linear
    * (fixed 2^bits buckets / fixed cells ⇒ occupancy grows with n);
    * the auto rows are the scale story. */
  private def annScaleProbe(spark: SparkSession, nBase: Long): Unit = {
    import org.apache.spark.sql.functions.col
    import graft.functions.Similarity
    import graft.sources.Synthetic
    val base = java.nio.file.Files.createTempDirectory("graft_annscale").toString
    val pred = col("vec_id") < 20 // FIXED |Q| = 20 at every scale
    Seq(1, 4, 10).foreach { mult =>
      val n = nBase * mult
      Synthetic.embeddings(spark, n, nLabels = (20 * mult))
        .write.mode("overwrite").parquet(s"$base/x$mult/embeddings.parquet")
      val emb = spark.read.parquet(s"$base/x$mult/embeddings.parquet")
      def timed(label: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        val rows = f
        println(f"ANNSCALE mult=$mult%-3d n=$n%-7d method=$label%-14s sec=${(System.nanoTime() - t0) / 1e9}%8.2f out_rows=$rows")
      }
      timed("brute_force")(Similarity.bruteForceTopK(emb, pred, 10).count())
      timed("lsh_pinned")(Similarity.lshTopK(emb, pred, 10, 4).count())
      timed("lsh_auto")(Similarity.lshTopK(emb, pred, 10,
        Similarity.autoLshBits(n)).count())
      timed("lsh_multi")(Similarity.lshTopKMulti(emb, pred, 10, 4, 4).count())
      timed("ivf_pinned")(Similarity.ivfTopK(emb, pred, 10, 16, 4).count())
      timed("ivf_auto")(Similarity.ivfTopK(emb, pred, 10,
        Similarity.autoSemDedupK(n), 4).count())
      timed("sq8_topk")(Similarity.sq8TopK(emb, pred, 10).count())
      // flat auto semDedup (k = n/64 cells: n²/64 assignment work) vs
      // the two-level assignment (k1 = k2 = √(n/64): n·2√(n/64)) —
      // the head-to-head the hierarchical fix exists for
      timed("semdedup_flat")(Similarity.semDedup(emb, 0, 2, 0.35).count())
      timed("semdedup_hier")(Similarity.semDedupHier(emb, 0, 0, 2, 0.35).count())
    }
  }

  /** The END-TO-END curation pipeline (`Smoke curate [sfDir]`) — the
    * composition a training-data user actually runs, chained from the
    * gated operators with a per-stage attrition ledger:
    * quality/lang/repetition filter (`corpusFilter`) → exact + MinHash
    * near-dup APPLY (`dedupCorpus`) → benchmark decontamination
    * (`decontaminate` vs a held-out slice) → leakage-safe cluster
    * split (`withClusterSplit` — no dup pair straddles train/eval) →
    * sequence packing (`packSequences`, 512-token bins per split).
    * Every stage is the library's own oracle-gated operator; this
    * probe certifies they COMPOSE (schemas line up, memos share, the
    * ledger reconciles end to end). */
  private def curateProbe(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.functions.{Dedup, Sampling, TextAnalysis}
    val docs = Tables.documents(spark, sfDir)
    val nIn = docs.count()
    // stage 1: rule filter
    val verdicts = TextAnalysis.corpusFilter(docs).localCheckpoint()
    val kept1 = docs.join(verdicts.filter(col("keep")).select("doc_id"),
      Seq("doc_id"), "left_semi").localCheckpoint()
    val n1 = kept1.count()
    val dropByReason = verdicts.filter(!col("keep"))
      .groupBy(col("drop_reason")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // stage 2: exact + near-dup APPLY
    val kept2 = Dedup.dedupCorpus(kept1, 3, 8, 4, 0.5).localCheckpoint()
    val n2 = kept2.count()
    // stage 3: decontamination vs a held-out "benchmark" slice
    val benchmark = docs.filter(col("doc_id") % 97 === 0)
    val decon = Dedup.decontaminate(kept2, benchmark, 5, 3)
    val kept3 = kept2.join(decon.filter(!col("contaminated")).select("doc_id"),
      Seq("doc_id"), "left_semi").localCheckpoint()
    val n3 = kept3.count()
    // stage 4: leakage-safe split (cluster-keyed buckets)
    val split = Dedup.withClusterSplit(kept3, 3, 8, 4, 0.5, 10, 10)
      .localCheckpoint()
    val splitCounts = split.groupBy(col("split")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // stage 5: 512-token sequence packing per split
    val packed = Sampling.packSequences(
      split.withColumn("_nt", size(TextAnalysis.tokens(col("text")))),
      col("_nt"), "split", "doc_id", 512L)
    val bins = packed.groupBy(col("split"))
      .agg(count(lit(1)).as("bins"), sum(col("sum_tokens")).as("toks"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    println(s"CURATE_IN=$nIn FILTERED=$n1 (drops=$dropByReason) " +
      s"DEDUPED=$n2 DECONTAMINATED=$n3 SPLITS=$splitCounts")
    bins.foreach { case (s, (b, t)) =>
      println(f"CURATE_PACK split=$s bins=$b tokens=$t fill=${t.toDouble / (b * 512)}%.3f") }
    require(n1 <= nIn && n2 <= n1 && n3 <= n2, "attrition must be monotone")
    require(splitCounts.values.sum == n3, "splits must partition the clean corpus")
    require(bins.nonEmpty && bins.values.forall(_._1 > 0), "packing must emit bins")
  }

  /** Drive the format breadth: CSV/ORC roundtrips of lineitem and a
    * bucketed co-located join, printing the join's exchange count. */
  private def formatsProbe(spark: SparkSession): Unit = {
    import graft.sources.Formats
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val base = java.nio.file.Files.createTempDirectory("graft_fmt").toString
    Formats.writeCsv(li, base + "/csv")
    val csvN = Formats.readCsv(spark, base + "/csv", li.schema).count()
    Formats.writeOrc(li, base + "/orc")
    val orcN = Formats.readOrc(spark, base + "/orc").count()
    println(s"CSV_ROWS=$csvN ORC_ROWS=$orcN PARQUET_ROWS=${li.count()}")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    Formats.writeBucketed(li.select("l_orderkey", "l_quantity"), "sb_li", "l_orderkey", 8)
    Formats.writeBucketed(Tables.orders(spark, "/root/testdata/sf0.001")
      .select("o_orderkey", "o_totalprice"), "sb_o", "o_orderkey", 8)
    val j = spark.table("sb_li").join(spark.table("sb_o"), col("l_orderkey") === col("o_orderkey"))
    j.collect()
    val plan = j.queryExecution.executedPlan.toString
    println("BUCKETED_JOIN_SHUFFLES=" +
      plan.linesIterator.count(_.contains("Exchange hashpartitioning")))
  }

  /** Drive the JSON upload-source surface (S1/S2/P4): land metadata +
    * summary docs (one malformed, one empty) and run the full
    * extract -> fold -> report pipeline from them. */
  private def uploadsProbe(spark: SparkSession): Unit = {
    import graft.sources.UploadSource
    val meta = java.nio.file.Files.createTempDirectory("graft_meta")
    val sums = java.nio.file.Files.createTempDirectory("graft_sums")
    java.nio.file.Files.writeString(meta.resolve("list.json"),
      """{"uploaded_files": [{"id": "1"}, {"id": "2"}, {"id": "3"}]}""")
    java.nio.file.Files.writeString(sums.resolve("s.json"), Seq(
      """{"upload_id": 1, "begin_date": "2024-01-01", "end_date": "2024-01-31", "total_spent": 99.5, "total_transactions": 4, "spending_per_category": {"food": 60.5, "rent": 39.0}, "spending_per_vendor": {"acme": 99.5}}""",
      """{"upload_id": 2, "begin_date": "2024-02-01", "end_date": "2024-02-29", "total_spent": 10.0, "total_transactions": 1, "spending_per_category": {"food": 10.0}, "spending_per_vendor": {"acme": 10.0}}""",
      """not json — a failed fetch""",
      """{"upload_id": 3}""").mkString("\n"))
    println("UPLOAD_IDS=" + UploadSource.uploadedFileIds(spark, meta.toString)
      .collect().map(_.getLong(0)).sorted.toSeq)
    val summaries = UploadSource.uploadSummaries(spark, sums.toString)
    println("SUMMARIES=" + summaries.count())
    val tx = UploadSource.transactionsFromSummaries(summaries, "spending_per_category")
      .withColumnRenamed("key", "category")
      .withColumn("vendor", org.apache.spark.sql.functions.lit("acme"))
      .select("txn_date", "category", "vendor", "amount")
    val report = graft.operators.SpendingReport.enriched(tx)
    report.select("begin_date", "end_date", "total_spent", "total_transactions",
      "fi_summary").show(false)
  }

  /** Scale-up corpus generator (`Smoke gendata <outDir> <factor>
    * [baseSfDir]`): writes a /root/testdata-shaped directory whose
    * FACT tables (orders, lineitem, events) are the base tables
    * replicated `factor`× with consistent key remaps (each replica k
    * offsets its join keys, so orders↔lineitem clusters stay intact
    * and no artificial hot keys appear), dims copied as-is (fact-side
    * scaling isolates the scan/shuffle growth the scaling exponents
    * measure), and documents/embeddings from `Synthetic` at
    * `factor`× their sf0.1 cardinality — the planted-dup generator is
    * prefix-consistent, so a gen1x vs gen10x pair measures REAL
    * corpus growth with the generator held constant (comparing
    * generated docs against driver docs would conflate distribution
    * differences with scale). Run Bench with SPARK_GRAFT_SKIP_DEMO=1
    * against the two dirs and regress per-family exponents. */
  private def genData(spark: SparkSession, outDir: String, factor: Int,
                      baseSf: String): Unit = {
    import org.apache.spark.sql.functions._
    val reps = spark.range(factor).select(col("id").as("_k"))
    def write(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      df.coalesce(8).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      println(s"GENDATA $name rows=${spark.read.parquet(s"$outDir/$name.parquet").count()}")
    }
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      write(spark.read.parquet(s"$baseSf/$t.parquet"), t)
    }
    val orders = spark.read.parquet(s"$baseSf/orders.parquet")
    write(orders.crossJoin(reps)
      .withColumn("o_orderkey", col("o_orderkey") * factor + col("_k"))
      .drop("_k"), "orders")
    val lineitem = spark.read.parquet(s"$baseSf/lineitem.parquet")
    write(lineitem.crossJoin(reps)
      .withColumn("l_orderkey", col("l_orderkey") * factor + col("_k"))
      .drop("_k"), "lineitem")
    val events = spark.read.parquet(s"$baseSf/events.parquet")
    write(events.crossJoin(reps)
      .withColumn("event_id", col("event_id") * factor + col("_k"))
      // remap users per replica (the same consistent-key scheme as
      // o_orderkey/l_orderkey): each replica is a fresh user
      // population with the base per-user timelines intact, so
      // (user, ts) can never collide ACROSS replicas — the previous
      // +k-seconds ts shift collided whenever a base user had two
      // events < factor seconds apart — and user-keyed operators
      // (sessions, funnels, dedup windows) scale in #users, which is
      // the real growth mode.
      .withColumn("user_id", col("user_id") * factor + col("_k"))
      .drop("_k"), "events")
    write(graft.sources.Synthetic.documents(spark, 5000L * factor), "documents")
    // cluster count scales with the corpus (constant cluster size) so
    // near-dup answers grow linearly — see Synthetic.embeddings
    write(graft.sources.Synthetic.embeddings(spark, 2000L * factor,
      nLabels = 20 * factor), "embeddings")
  }

  /** Plan audit over EVERY board query: shuffle exchanges, scans,
    * whole-stage-codegen spans, broadcast joins, and pushed filters —
    * the per-query evidence behind the 100 TB shuffle-budget story.
    * exch, bcast, scan and pushed come from the pre-execution physical
    * plan (stable, not AQE-rewritten), so they are comparable across
    * runs; wscg is read from the AQE final plan and can differ by a
    * span between runs of the same code (seen on q_dup_triangles and
    * q_minhash_probe_store at sf0.01), so a one-span wscg diff is not
    * a plan change. */
  private def auditProbe(spark: SparkSession, sfDir: String): Unit = {
    println(f"${"query"}%-28s ${"exch"}%5s ${"bcast"}%5s ${"scan"}%5s ${"wscg"}%5s ${"pushed"}%6s")
    SparkEntry.board.sortBy(_.name).foreach { q =>
      val name = q.name
      try {
        val df = q.run(spark, sfDir)
        // structural counts from the PRE-execution plan (stable, the
        // same numbers ShuffleBudgetSpec pins)
        val lines = df.queryExecution.executedPlan.toString.linesIterator.toSeq
        val exch = lines.count(l => l.contains("Exchange hashpartitioning")
          || l.contains("Exchange rangepartitioning") || l.contains("Exchange SinglePartition"))
        val bcast = lines.count(_.contains("BroadcastExchange"))
        val scan = lines.count(_.contains("Scan parquet"))
        val pushed = lines.count(l => l.contains("PushedFilters: [") && !l.contains("PushedFilters: []"))
        // codegen spans ("*(n)" prefixes) only annotate the FINAL
        // adaptive plan — execute THIS df's QueryExecution (collect;
        // a noop write would plan a separate one), then count spans
        df.collect()
        val wscg = df.queryExecution.executedPlan.toString.linesIterator
          .flatMap(l => "\\*\\((\\d+)\\)".r.findAllMatchIn(l).map(_.group(1)))
          .toSeq.distinct.size
        println(f"$name%-28s $exch%5d $bcast%5d $scan%5d $wscg%5d $pushed%6d")
      } catch { case e: Throwable =>
        println(f"$name%-28s FAILED ${e.toString.take(80)}")
      }
    }
  }

  /** Time one query in isolation, repeated (rep 1 is cold after a
    * Bench-style warmup; later reps may hit plan-level caches). */
  private def timeProbe(spark: SparkSession, name: String, sfDir: String, reps: Int): Unit = {
    Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()
    Tables.documents(spark, sfDir).selectExpr("md5(text) AS h")
      .write.format("noop").mode("overwrite").save()
    // comma-separated names time a FAMILY sequentially in one JVM —
    // the only way to observe cross-query IndexMemo sharing (each name
    // alone in a fresh JVM retrains the shared interior)
    val queries = SparkEntry.select(Some(name))
    (1 to reps).foreach { i =>
      var total = 0.0
      queries.foreach { q =>
        val t0 = System.nanoTime()
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        total += sec
        println(f"TIME[${q.name}][$i] $sec%.2f s")
      }
      if (queries.length > 1) println(f"TIME[family][$i] $total%.2f s")
    }
  }

  /** Drive the streaming pipeline end-to-end: stage a landing dir with
    * one batch of events, run the AvailableNow merge sink, then land a
    * SECOND copy (a replay) and run again — the P5 guard must keep the
    * table unchanged. */
  private def streamProbe(spark: SparkSession): Unit = {
    import graft.streaming.StreamingReport
    val landing = java.nio.file.Files.createTempDirectory("graft_landing")
    val reports = java.nio.file.Files.createTempDirectory("graft_reports").toString + "/reports"
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      landing.resolve("batch0.parquet"))
    // Per-batch latency: triggerExecution covers the whole micro-batch
    // (plan + state + sink) — printed per probe so a streaming perf
    // regression is a visible number in the smoke log, mirroring the
    // bound asserted in StreamingSpec's latency test.
    def printLatency(tag: String,
                     q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
      q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
        println(s"STREAM_BATCH_MS[$tag][batch=${p.batchId}] " +
          p.durationMs.get("triggerExecution"))
      }
    def runOnce(tag: String): Unit = {
      val q = StreamingReport.reportMergeSink(
        StreamingReport.transactionsStream(spark, landing.toString), reports).start()
      q.awaitTermination()
      printLatency(tag, q)
    }
    // stateful op over the same landing stream
    val stTmp = java.nio.file.Files.createTempDirectory("graft_state").toString
    val sq = graft.streaming.StatefulSpend.runningVendorSpend(
      StreamingReport.transactionsStream(spark, landing.toString))
      .writeStream.outputMode("update").format("memory").queryName("smoke_state")
      .option("checkpointLocation", stTmp).start()
    sq.processAllAvailable(); sq.stop()
    printLatency("stateful", sq)
    println("STATEFUL_VENDORS=" + spark.table("smoke_state")
      .select("vendor").distinct().count())
    runOnce("merge_initial")
    val t1 = spark.read.parquet(reports)
    println("STREAM_REPORT_ROWS=" + t1.count() +
      " TXN_TOTAL=" + t1.agg(org.apache.spark.sql.functions.sum("total_transactions")).head().getLong(0))
    // replay: same events landed again (new file name, same content)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      landing.resolve("batch1.parquet"))
    runOnce("merge_replay")
    val t2 = spark.read.parquet(reports)
    println("AFTER_REPLAY_ROWS=" + t2.count() +
      " TXN_TOTAL=" + t2.agg(org.apache.spark.sql.functions.sum("total_transactions")).head().getLong(0) +
      " VERSIONS=" + t2.select("version").distinct().collect().map(_.getString(0)).sorted.toSeq)
  }

  /** Drive the ReportUpsert.mergeInto sink: first merge populates the
    * table, a re-merge of identical data is a no-op (P5 guard), a merge
    * of grown data updates in place. */
  private def upsertProbe(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.ReportUpsert
    val dir = "/tmp/graft_reports"
    ReportUpsert.deleteDir(dir)
    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
    val half = ReportUpsert.dailyReports(
      tx.filter(dayofmonth(col("txn_date")) <= 15 || col("category") =!= "error"), "v1")
    val full = ReportUpsert.dailyReports(tx, "v2")
    ReportUpsert.mergeInto(dir, half)
    println("AFTER_V1=" + spark.read.parquet(dir).groupBy("version").count().collect().toSeq)
    ReportUpsert.mergeInto(dir, half.withColumn("version", lit("v1b")))
    println("AFTER_REMERGE=" + spark.read.parquet(dir).groupBy("version").count().collect().toSeq)
    ReportUpsert.mergeInto(dir, full)
    println("AFTER_V2=" + spark.read.parquet(dir).groupBy("version").count().collect().toSeq)
  }
}
