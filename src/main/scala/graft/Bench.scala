package graft

/** Driver-run benchmark: times every `SparkEntry.board` query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Two fairness details: a warmup pass absorbs JVM/codegen start-up so
  * the first timed query isn't charged ~10s of JIT; and results are
  * materialized through the `noop` sink — `count()` would let Catalyst
  * prune away the very computation being measured (a map-only query
  * benches as a bare scan otherwise). */
object Bench {

  /** Fixed CPU-bound calibration probe (r17, VERDICT #6): ~200M
    * SplitMix64 mixes on one thread — no IO, no Spark, no allocation —
    * timed at suite start and end and recorded in the artifact. The
    * r16 session burned a day proving a 1.4× artifact spread was
    * co-tenant CPU noise INVISIBLE to loadavg (four identical-code
    * runs read 213.7–301.6 s, worst at the LOWEST loadavg); this probe
    * makes a degraded box self-describe numerically: identical work,
    * so probe-ms varies only with the machine, and round-over-round
    * per-query comparisons divide by the probe ratio first
    * (BASELINE.md discipline). Run twice at start (the first rep
    * absorbs JIT; the second is the record). */
  private def calibrationProbe(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0L
    val n = 200000000L
    val t0 = System.nanoTime()
    while (i < n) {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      acc ^= z ^ (z >>> 31)
      i += 1
    }
    if (acc == 42L) System.err.print("") // blackhole: keep the loop live
    (System.nanoTime() - t0) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // Optional isolation filter (comma-separated query names): run a
    // subset back-to-back for regression triage without the full-suite
    // cache/contention profile. Unset = all queries (the driver's mode).
    // Checked before the session starts: an unknown name throws.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
    val selected = SparkEntry.select(only)
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Ambient machine state BEFORE the bench itself generates load —
    // recorded in the artifact so a reader can tell a contended run
    // from a quiesced one.
    val loadavg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // Record-only hygiene self-label (r14 verdict #8): a bench taken on
    // a hot machine announces itself IN the artifact — the reader never
    // has to cross-reference uptime logs to discount a noisy run. No
    // refusal: the driver's run must still complete. The threshold is
    // core-normalized (r15 advice — a fixed 2.0 mislabels both a
    // quiesced many-core box at 2.5 and a saturated 2-core box at 1.9):
    // max(1, cores/8) runnable procs of ambient load marks contention,
    // and the artifact records cores + threshold next to the loadavg so
    // the label is auditable.
    val cores = Runtime.getRuntime.availableProcessors
    val hotThreshold = math.max(1.0, cores / 8.0)
    val hotStart = loadavg > hotThreshold
    if (hotStart)
      System.err.println(f"[bench] WARNING: loadavg_start $loadavg%.2f > " +
        f"$hotThreshold%.1f ($cores cores) — machine not quiesced; timings " +
        "are upper bounds (see BASELINE.md bench-comparison discipline)")

    // Same footer-only drift guard as Verify: a regenerated input
    // announces itself as named stderr lines (and a count in the output
    // JSON), not as dozens of per-query runtime errors.
    val drift = try Tables.warnDrift(spark, sfDir, "bench")
                catch { case e: Throwable =>
                  System.err.println(s"[bench] SCHEMA DRIFT check failed: $e"); Seq(e.toString) }

    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // Calibration probe rep 1 absorbs its own JIT; rep 2 is the record.
    calibrationProbe()
    val probeStartMs = calibrationProbe()

    // Warmup: JVM/JIT, codegen, parquet footer caches. r19 measurement
    // fix (documented in OPTIMIZATION_r19.md, old numbers kept in the
    // committed baseline artifact): the r18 warmup covered lineitem +
    // documents only, so the FIRST embeddings query (alphabetically
    // q_ann_filtered, 2nd in the suite) was charged the embeddings
    // footer read + quantize/DotI64 codegen, and the first events query
    // the events footer-encoding dispatch — one-time session costs,
    // not those queries' own cost (the r18 close called this
    // "start-window turbulence on the first ANN queries"). Warm all
    // four fact tables' footers and the quantized-vector kernel.
    try {
      materialize(Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count())
      materialize(Tables.documents(spark, sfDir).selectExpr("md5(text) AS h"))
      materialize(graft.functions.Similarity.quantized(
        Tables.embeddings(spark, sfDir)).selectExpr("vec_id", "nq"))
      materialize(Tables.events(spark, sfDir).groupBy("event_type").count())
    } catch { case _: Throwable => () }

    // Scale-up mode: exclude the demo-tier queries (`QueryDef.demo` —
    // oracle-portability vehicles whose shapes deliberately don't
    // scale) so a larger-SF run isn't dominated by a known demo.
    val skipDemo = sys.env.get("SPARK_GRAFT_SKIP_DEMO").exists(v => v == "1" || v == "true")
    val demo = SparkEntry.board.filter(_.demo).map(_.name).toSet

    // Failures are recorded, never swallowed: a query that cannot plan
    // or execute shows up in the "errors" map (and on stderr) instead
    // of silently inflating apparent coverage with a near-zero timing.
    val results = selected.sortBy(_.name)
      .filterNot(q => skipDemo && q.demo)
      .map { q =>
      val name = q.name
      val t0 = System.nanoTime()
      val err = try { materialize(q.run(spark, sfDir)); None }
                catch { case e: Throwable => Some(e.toString.replaceAll("\\s+", " ").take(300)) }
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] $name%-28s $sec%9.3f s" + err.map("  FAILED: " + _).getOrElse(""))
      (name, sec, err)
    }
    // Self-describing machine state + a second rep: a one-off
    // scheduler/IO spike shows up as a large rep1/rep2 ratio IN THE
    // ARTIFACT, so a reader can separate machine noise from plan cost
    // without git archaeology (the r8 driver artifact carried five
    // 4-12× spikes only a quiesced re-run could explain). Default is
    // the top-10 slowest (bounded extra time, the driver's mode);
    // SPARK_GRAFT_BENCH_REP2=full re-runs the WHOLE serving set so the
    // committed close artifact carries min-of-2 per query — the r14
    // session measured ±8% full-suite variance between quiesced runs
    // of identical code, and min-of-reps is the round-over-round
    // comparison that survives it (BASELINE.md discipline).
    val rep2Full = sys.env.get("SPARK_GRAFT_BENCH_REP2")
      .exists(v => v == "full" || v == "1")
    val top10 =
      if (rep2Full)
        results.filter(_._3.isEmpty)
          .filterNot { case (n, _, _) => demo(n) }
          .sortBy(-_._2).map(_._1)
      else results.filter(_._3.isEmpty).sortBy(-_._2).take(10).map(_._1)
    val rep2Errs = scala.collection.mutable.Map.empty[String, String]
    val rep2 = top10.flatMap { name =>
      val h0 = graft.functions.IndexMemo.hits
      val t0 = System.nanoTime()
      try { materialize(SparkEntry.query(name).run(spark, sfDir))
            Some(name -> ((System.nanoTime() - t0) / 1e9,
              graft.functions.IndexMemo.hits > h0)) }
      catch { case e: Throwable =>
        // a rep1-green query failing its re-run is itself a signal —
        // record it so the artifact distinguishes "failed rep2" from
        // "not selected"
        rep2Errs(name) = e.toString.replaceAll("\\s+", " ").take(200)
        None }
    }.toMap
    // A warm rep (IndexMemo hit — signatures/codebooks reused) is
    // EXPECTED to be much faster than its cold rep1; only a >3× gap
    // with no memo involvement marks machine noise.
    val warm = rep2.collect { case (n, (_, true)) => n }.toSeq.sorted
    val spikes = rep2.collect {
      case (name, (s2, false)) if {
        val s1 = results.find(_._1 == name).map(_._2).getOrElse(s2)
        s1 / math.max(s2, 1e-9) > 3.0 || s2 / math.max(s1, 1e-9) > 3.0
      } => name
    }.toSeq.sorted
    spikes.foreach(n => System.err.println(
      f"[bench] SPIKE $n: rep1=${results.find(_._1 == n).map(_._2).getOrElse(0.0)}%.2f " +
      f"rep2=${rep2(n)._1}%.2f (>3x between reps — machine noise, not plan cost)"))
    def jstr(s: String): String = Json.str(s)
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val rep2Json = rep2.toSeq.sortBy(_._1)
      .map { case (k, (v, _)) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val warmJson = warm.map(jstr).mkString("[", ",", "]")
    val rep2ErrJson = rep2Errs.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val spikesJson = spikes.map(jstr).mkString("[", ",", "]")
    val errs = results.collect { case (k, _, Some(m)) => s"${jstr(k)}:${jstr(m)}" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Headline split: `value` (everything run, backward-comparable)
    // plus `value_serving` (scale-representative queries only) and
    // `value_demo` (the demo-tier oracle-portability vehicles,
    // whose shapes deliberately don't scale). The gate number for
    // round-over-round comparison is value_serving — see BASELINE.md —
    // and the artifact records the demo-set membership it excluded, so
    // a SKIP_DEMO total is self-describing without reading the source.
    val demoRun = results.filter { case (n, _, _) => demo(n) }
    val valueDemo = demoRun.map(_._2).sum
    val valueServing = total - valueDemo
    val demoJson = demoRun.map(_._1).sorted.map(jstr).mkString("[", ",", "]")
    // min-of-available-reps per query (rep1 alone when no rep2 ran):
    // the variance-robust number BASELINE.md's discipline reads for
    // round-over-round attribution when both rounds carry full reps.
    // A memo-WARM rep2 (IndexMemo hit — reused training from rep1) is
    // excluded from the min: it isn't the same work as the in-suite
    // rep1, and folding it in would under-state every memoized family.
    val min2 = results.map { case (k, v, _) =>
      k -> math.min(v,
        rep2.get(k).collect { case (s, false) => s }.getOrElse(v)) }
    val min2Json = min2.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val valueServingMin2 = min2
      .filterNot { case (n, _) => demo(n) }.map(_._2).sum
    // End-of-suite probe: the same fixed work re-timed after the bench
    // generated its own load has died down; probe_ratio far from 1
    // (or either probe far from the committed artifacts' band) marks a
    // degraded box numerically — the reader normalizes per-query
    // comparisons by the probe ratio before attributing a regression
    // to code (BASELINE.md discipline).
    val probeEndMs = calibrationProbe()
    val probeRatio = probeEndMs / math.max(probeStartMs, 1e-9)
    if (probeRatio > 1.5 || probeRatio < 0.67)
      System.err.println(f"[bench] WARNING: calibration probe drifted " +
        f"${probeStartMs}%.0f -> ${probeEndMs}%.0f ms across the suite — " +
        "machine state changed mid-run; prefer min2/probe-normalized reads")
    // Probe-normalized headline (r18, VERDICT #8): BASELINE.md's
    // discipline — divide both rounds' timings by their probe
    // milliseconds — previously had to be applied by hand by every
    // reader. The artifact now carries it: serving totals scaled by
    // (band / measured probe), where the band is this box's quiesced
    // probe reading (~220 ms). On a quiesced box the factor is ~1 and
    // the field equals value_serving; on a degraded box it estimates
    // what a quiesced run would have read, making round-over-round
    // comparison a single-field read. The probe mean absorbs a mid-run
    // machine-state shift symmetrically (probe_ratio still flags it).
    // r19 (ADVICE): the band is this box's quiesced probe reading, not a
    // universal constant — configurable so another host can pin its own
    // quiesced band; probe_band_ms is emitted, so readers keep context.
    val probeBandMs = sys.env.get("SPARK_GRAFT_PROBE_BAND_MS")
      .flatMap(_.toDoubleOption).getOrElse(220.0)
    val probeMeanMs = math.max((probeStartMs + probeEndMs) / 2.0, 1e-9)
    val valueServingNorm = valueServing * probeBandMs / probeMeanMs
    val valueServingMin2Norm = valueServingMin2 * probeBandMs / probeMeanMs
    // The driver captures a bounded tail of stdout; at 128 queries the
    // per-query map pushed the single JSON line past that window and the
    // leading "metric":"total" was cut off (BENCH_r02..r04 all parsed
    // null). stdout therefore carries ONE compact, guaranteed-short line
    // with the headline total; the full per-query map goes to stderr and
    // to a sidecar file (SPARK_GRAFT_BENCH_DETAIL, default
    // bench_detail.json) for anyone who wants the breakdown.
    // Per-index-family BUILD seconds (r19, VERDICT r18 #7): itemizes
    // the shared cold-training cost the first gated consumer's rep1
    // absorbs, so per-query round-over-round attribution can subtract
    // training from serve. Concurrent builds overlap in wall time.
    val buildSecs = graft.functions.IndexMemo.buildSecs
    val buildJson = buildSecs.toSeq.sortBy(-_._2)
      .map { case (t, s) => s"${jstr(t)}:$s" }.mkString("{", ",", "}")
    val buildTotal = buildSecs.values.sum
    val full = s"""{"metric":"total","value":$total,"value_serving":$valueServing,"value_serving_min2":$valueServingMin2,"value_serving_probe_normalized":$valueServingNorm,"value_serving_min2_probe_normalized":$valueServingMin2Norm,"probe_band_ms":$probeBandMs,"value_demo":$valueDemo,"demo_queries":$demoJson,"unit":"sec","queries":$qs,"queries_min2":$min2Json,"errors":$errs,"loadavg_start":$loadavg,"hot_cores":$cores,"hot_threshold":$hotThreshold,"hot_start":$hotStart,"reps":${if (rep2Full) 2 else 1},"rep2_mode":${jstr(if (rep2Full) "full_serving" else "top10")},"rep2_top10":$rep2Json,"rep2_warm":$warmJson,"rep2_errors":$rep2ErrJson,"spikes":$spikesJson,"memo_hits":${graft.functions.IndexMemo.hits},"memo_evictions":${graft.functions.IndexMemo.evictions},"memo_build_sec":$buildJson,"memo_build_sec_total":$buildTotal,"probe_start_ms":$probeStartMs,"probe_end_ms":$probeEndMs,"probe_ratio":$probeRatio,"sf":"$sfDir"}"""
    System.err.println("[bench] detail: " + full)
    // A BENCH_ONLY isolate answers "why", never "whether" (BASELINE.md's
    // bench-comparison discipline): route its sidecar to a different
    // default file so a targeted triage run can never overwrite
    // bench_detail.json, the committed full-suite artifact of record.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      if (only.isDefined) "bench_partial.json" else "bench_detail.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable => System.err.println("[bench] detail write failed: " + e) }
    val nErr = results.count(_._3.isDefined)
    println(s"""{"metric":"total","value":$total,"value_serving":$valueServing,"value_serving_min2":$valueServingMin2,"value_serving_probe_normalized":$valueServingNorm,"value_serving_min2_probe_normalized":$valueServingMin2Norm,"value_demo":$valueDemo,"n_demo":${demoRun.size},"unit":"sec","n_queries":${results.size},"n_errors":$nErr,"n_schema_drift":${drift.size},"loadavg_start":$loadavg,"hot_start":$hotStart,"n_spikes":${spikes.size},"train_sec":$buildTotal,"probe_start_ms":$probeStartMs,"probe_end_ms":$probeEndMs,"detail":${jstr(detailPath)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
