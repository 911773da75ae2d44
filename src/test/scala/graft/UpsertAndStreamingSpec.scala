package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{ReportUpsert, SpendingReport}
import graft.streaming.StreamingReport

class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private def reports(rows: (String, Double, String, Long)*): DataFrame =
    rows.toSeq.toDF("dt", "total_spent", "version", "total_transactions")
      .selectExpr("to_date(dt) AS begin_date", "to_date(dt) AS end_date",
        "total_spent", "version", "total_transactions")

  test("merge: miss inserts, greater-count updates, equal/smaller no-ops (J1/P5)") {
    val existing = reports(("2024-01-01", 10.0, "old", 5L), ("2024-01-02", 20.0, "old", 8L))
    val incoming = reports(
      ("2024-01-01", 11.0, "new", 5L),   // equal count -> no-op
      ("2024-01-02", 25.0, "new", 9L),   // grew -> update
      ("2024-01-03", 7.0, "new", 2L))    // miss -> insert
    val out = ReportUpsert.merge(existing, incoming).collect()
      .map(r => r.getDate(0).toString -> (r.getDouble(2), r.getString(3), r.getLong(4))).toMap
    assert(out("2024-01-01") == (10.0, "old", 5L))
    assert(out("2024-01-02") == (25.0, "new", 9L))
    assert(out("2024-01-03") == (7.0, "new", 2L))
  }

  test("mergeInto on disk is idempotent under replay") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ups").toString + "/reports"
    val v1 = reports(("2024-01-01", 10.0, "v1", 5L))
    ReportUpsert.mergeInto(dir, v1)
    ReportUpsert.mergeInto(dir, v1.withColumn("version", lit("replay")))
    val out = spark.read.parquet(dir).collect()
    assert(out.length == 1 && out.head.getAs[String]("version") == "v1")
  }

  test("mergeInto: a mismatched batch fails by name and leaves the table alone") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mismatch").toString + "/reports"
    ReportUpsert.mergeInto(dir, reports(("2024-01-01", 10.0, "v1", 5L)))
    def files = new java.io.File(dir).listFiles().map(f => f.getName -> f.lastModified()).toSet
    def rows = spark.read.parquet(dir).collect().map(_.toSeq).toSeq
    val (filesBefore, rowsBefore) = (files, rows)
    // the stored guard column grows, so a matching batch would update
    val batch = reports(("2024-01-01", 12.0, "v2", 9L))
    Seq("a dropped column" -> batch.drop("version"),
      "an extra column" -> batch.withColumn("extra", lit(1)),
      "a changed type" -> batch.withColumn("total_transactions",
        col("total_transactions").cast("string"))
    ).foreach { case (name, bad) =>
      for ((side, b) <- Seq("small" -> bad, "unsized" -> TestRefs.unsized(bad))) {
        val e = intercept[IllegalArgumentException](ReportUpsert.mergeInto(dir, b))
        assert(e.getMessage.contains("existing/incoming schemas must match"), s"$name, $side: $e")
        assert(files == filesBefore && rows == rowsBefore, s"$name, $side: the table changed")
      }
    }
  }

  test("mergeInto stores the same rows on both sides of the one-partition cap") {
    val batches = Seq(
      // the first write stores the batch as it is: a duplicate key and a null date
      reports(("2024-01-01", 10.0, "seed", 5L), ("2024-01-01", 11.0, "dup", 6L),
        (null, 1.0, "null date", 1L)),
      reports(("2024-01-02", 3.0, "insert", 2L)),
      reports(("2024-01-02", 4.0, "update", 3L)),
      reports(("2024-01-02", 5.0, "no-op", 3L)),
      reports(("2024-01-02", 4.0, "update", 3L)), // replay
      reports(("2024-01-01", 12.0, "over both duplicates", 7L)),
      reports(("2024-01-03", 1.0, "two for one key", 1L), ("2024-01-03", 2.0, "two for one key", 2L)),
      reports(("2024-01-02", 6.0, "two for a stored key", 9L), ("2024-01-02", 7.0, "loses", 1L)),
      reports((null, 2.0, "another null date", 5L)))
    def stored(sized: DataFrame => DataFrame) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_cap").toString + "/reports"
      batches.map { b =>
        ReportUpsert.mergeInto(dir, sized(b))
        spark.read.parquet(dir).collect().map(_.toSeq.mkString("|")).sorted.toSeq
      }
    }
    assert(batches.forall(b => SpendingReport.small(b) && !SpendingReport.small(TestRefs.unsized(b))))
    val (shuffled, onePartition) = (stored(TestRefs.unsized), stored(identity))
    assert(onePartition == shuffled)
    assert(shuffled.last.count(_.contains("null date")) == 2 && shuffled.last.length == 8,
      shuffled.last.mkString("\n"))
  }

  test("four mergeInto cycles below the cap leave exactly one part file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_onefile").toString + "/reports"
    val seed = (1 to 24).map(d => (f"2024-01-$d%02d", d.toDouble, "seed", d.toLong))
    val files = Seq(
      reports(seed: _*),
      reports(("2024-02-01", 1.0, "insert", 1L)),
      reports(("2024-01-05", 9.0, "update", 50L)),
      reports(("2024-01-05", 9.0, "no-op", 50L))
    ).map { b =>
      ReportUpsert.mergeInto(dir, b)
      new java.io.File(dir).listFiles().count(_.getName.startsWith("part-"))
    }
    assert(files == Seq(1, 1, 1, 1))
    assert(spark.read.parquet(dir).count() == 25)
  }

  test("mergeInto recovers from every crash point of the dir swap") {
    // r17: driven through a scheme-qualified file: URI so the whole
    // swap/recover sequence exercises the Hadoop FileSystem path (the
    // java.io.File form silently no-ops on any non-local default FS);
    // fixture manipulation below uses the raw local path.
    val base = java.nio.file.Files.createTempDirectory("graft_crash").toString
    val localDir = base + "/reports"
    val dir = "file:" + localDir
    val v1 = reports(("2024-01-01", 10.0, "v1", 5L))
    ReportUpsert.mergeInto(dir, v1)
    // crash between the two renames: live dir gone, backup stranded
    new java.io.File(localDir).renameTo(new java.io.File(localDir + "_old"))
    ReportUpsert.mergeInto(dir, reports(("2024-01-02", 3.0, "v2", 1L)))
    val afterA = spark.read.parquet(dir).collect()
      .map(_.getAs[String]("version")).sorted.toSeq
    assert(afterA == Seq("v1", "v2"), s"backup not promoted: $afterA")
    // crash mid staged write: stranded _staged must be discarded, not read
    val staged = new java.io.File(localDir + "_staged")
    staged.mkdirs()
    java.nio.file.Files.writeString(staged.toPath.resolve("garbage"), "not parquet")
    ReportUpsert.mergeInto(dir, reports(("2024-01-03", 4.0, "v3", 1L)))
    assert(!staged.exists())
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("mergeIntoPartitioned survives a degenerate wide-date batch (join prune path)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wide").toString + "/reports"
    // seed one partition the wide batch will UPDATE and one it must not touch
    ReportUpsert.mergeIntoPartitioned(dir,
      reports(("2020-01-01", 10.0, "seed", 5L), ("2019-12-31", 1.0, "keep", 9L)))
    // incoming frame with MORE distinct dates than the isin threshold:
    // the prune must switch to the semi-join path, not build a
    // thousands-long driver-side predicate
    val n = ReportUpsert.isinPruneMaxDates + 500
    val wide = spark.range(n.toLong)
      .selectExpr("date_add(to_date('2020-01-01'), CAST(id AS INT)) AS begin_date")
      .selectExpr("begin_date", "begin_date AS end_date",
        "2.0 AS total_spent", "'wide' AS version", "CAST(7 AS LONG) AS total_transactions")
    ReportUpsert.mergeIntoPartitioned(dir, wide)
    val out = spark.read.parquet(dir)
    assert(out.count() == n + 1, "all wide dates + the untouched seed partition")
    val d1 = out.filter(col("begin_date") === to_date(lit("2020-01-01"))).collect()
    assert(d1.length == 1 && d1.head.getAs[String]("version") == "wide",
      "7 > 5 transactions: the wide batch must win the seeded date")
    val kept = out.filter(col("begin_date") === to_date(lit("2019-12-31"))).collect()
    assert(kept.length == 1 && kept.head.getAs[String]("version") == "keep",
      "a partition outside the batch's dates must be untouched")
  }

  test("mergeIntoPartitioned leaves the session's overwrite mode alone") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "static")
    try {
      val base = java.nio.file.Files.createTempDirectory("graft_mode").toString
      ReportUpsert.mergeIntoPartitioned(base + "/reports",
        reports(("2024-01-01", 10.0, "v1", 5L)))
      assert(spark.conf.get(key) == "static", "the sink must not change the session conf")
      // a later static partitioned overwrite still replaces the whole table
      val table = base + "/table"
      reports(("2024-01-01", 1.0, "a", 1L), ("2024-01-02", 2.0, "a", 1L))
        .write.partitionBy("begin_date").mode("overwrite").parquet(table)
      reports(("2024-01-02", 3.0, "b", 1L))
        .write.partitionBy("begin_date").mode("overwrite").parquet(table)
      val out = spark.read.parquet(table).collect().map(_.getAs[String]("version")).toSeq
      assert(out == Seq("b"), s"static overwrite kept untouched partitions: $out")
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("MERGE sinks are single-writer: held lock fails fast, released after a batch") {
    val base = java.nio.file.Files.createTempDirectory("graft_lock").toString
    val localDir = base + "/reports"
    val dir = "file:" + localDir // hold the lock via the Hadoop FS path too
    val lock = new java.io.File(localDir + "_lock")
    val v1 = reports(("2024-01-01", 10.0, "v1", 5L))
    // a concurrent writer's lock blocks both sink forms, fast
    assert(lock.createNewFile())
    intercept[IllegalStateException](ReportUpsert.mergeInto(dir, v1))
    intercept[IllegalStateException](ReportUpsert.mergeIntoPartitioned(dir, v1))
    assert(lock.delete())
    // an uncontended batch takes and RELEASES the lock
    ReportUpsert.mergeInto(dir, v1)
    assert(!lock.exists(), "lock must be released after a successful batch")
    assert(spark.read.parquet(dir).count() == 1)
    // released even when the batch fails (mismatched schema aborts merge)
    intercept[Exception] {
      ReportUpsert.mergeInto(dir, v1.drop("version"))
    }
    assert(!lock.exists(), "lock must be released after a failed batch")
  }

  test("OCC merge: interleaved writers — the loser replays and BOTH increments land") {
    val dir = "file:" + java.nio.file.Files.createTempDirectory("graft_occ").toString + "/reports"
    ReportUpsert.mergeIntoOcc(dir, reports(("2024-01-01", 10.0, "seed", 5L)))
    assert(ReportUpsert.occVersion(dir) == 0)
    // Writer A stages against version 0; before A's claim, writer B
    // runs a FULL commit (claiming v1). A's claim must conflict, and A
    // must REPLAY against B's snapshot so both writers' rows land.
    var rivalRan = false
    val vA = ReportUpsert.mergeIntoOcc(dir,
      reports(("2024-01-02", 20.0, "writerA", 3L)),
      beforeCommit = attempt => if (attempt == 0 && !rivalRan) {
        rivalRan = true
        val vB = ReportUpsert.mergeIntoOcc(dir,
          reports(("2024-01-03", 30.0, "writerB", 4L)))
        assert(vB == 1, s"rival must claim v1, got $vB")
      })
    assert(rivalRan)
    assert(vA == 2, s"loser must replay and commit the NEXT version, got $vA")
    val out = ReportUpsert.readOcc(spark, dir).get.collect()
      .map(r => r.getDate(0).toString -> r.getAs[String]("version")).toMap
    assert(out == Map("2024-01-01" -> "seed", "2024-01-02" -> "writerA",
      "2024-01-03" -> "writerB"), s"both increments must land: $out")
  }

  test("OCC merge: the P5 monotone guard holds under replay") {
    val dir = "file:" + java.nio.file.Files.createTempDirectory("graft_occ2").toString + "/reports"
    ReportUpsert.mergeIntoOcc(dir, reports(("2024-01-01", 10.0, "seed", 5L)))
    // Writer A carries count 6 for the seed key; the rival commits
    // count 9 for the SAME key before A's claim. A's replay re-merges
    // against the count-9 snapshot, so the guard must keep the rival's
    // row (9 > 6) — a replayed batch degrades to a no-op, never a
    // lost-update or a rollback of the higher count.
    var rivalRan = false
    ReportUpsert.mergeIntoOcc(dir,
      reports(("2024-01-01", 11.0, "writerA", 6L)),
      beforeCommit = _ => if (!rivalRan) {
        rivalRan = true
        ReportUpsert.mergeIntoOcc(dir, reports(("2024-01-01", 99.0, "rival", 9L)))
      })
    val out = ReportUpsert.readOcc(spark, dir).get.collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("version") == "rival" &&
      out.head.getAs[Long]("total_transactions") == 9L,
      "the higher-count rival row must survive A's replay")
    // and the reverse: the replayed writer WINS when its count is higher
    var rival2 = false
    ReportUpsert.mergeIntoOcc(dir,
      reports(("2024-01-01", 12.0, "writerC", 20L)),
      beforeCommit = _ => if (!rival2) {
        rival2 = true
        ReportUpsert.mergeIntoOcc(dir, reports(("2024-01-01", 50.0, "rival2", 12L)))
      })
    val out2 = ReportUpsert.readOcc(spark, dir).get.collect()
    assert(out2.length == 1 && out2.head.getAs[String]("version") == "writerC",
      "the replayed writer's higher count must win the re-merge")
  }

  test("OCC merge: concurrent THREADS both land; vacuum drops only unreferenced dirs") {
    val localDir = java.nio.file.Files.createTempDirectory("graft_occ3").toString + "/reports"
    val dir = "file:" + localDir
    val dates = (1 to 6).map(i => f"2024-02-$i%02d")
    // 6 genuinely concurrent writers, one date each — every row must
    // land regardless of race order, in <= 6 + retries commits
    val threads = dates.map { d =>
      new Thread(() => {
        ReportUpsert.mergeIntoOcc(dir, reports((d, 1.0, s"w$d", 1L)), maxRetries = 50)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val out = ReportUpsert.readOcc(spark, dir).get.collect()
    assert(out.length == 6, s"all 6 concurrent increments must land, got ${out.length}")
    assert(ReportUpsert.occVersion(dir) == 5, "6 commits -> versions 0..5")
    // crash leftovers: a stranded staged dir and a manifest tmp
    val junk = new java.io.File(localDir + "/data/deadbeef-junk")
    junk.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(localDir + "/manifest/manifest_x.tmp").toPath, "junk")
    // writers are QUIESCED (threads joined), so the aggressive
    // minAgeMs = 0 form is legal here — fresh junk goes immediately
    ReportUpsert.vacuumOcc(dir, keepVersions = 2, minAgeMs = 0)
    assert(!junk.exists(), "unreferenced staged dir must be vacuumed")
    assert(!new java.io.File(localDir + "/manifest/manifest_x.tmp").exists())
    // the LIVE snapshot survives vacuum
    assert(ReportUpsert.readOcc(spark, dir).get.count() == 6)
    // only keepVersions manifests remain
    val vs = new java.io.File(localDir + "/manifest").listFiles()
      .map(_.getName).filter(_.endsWith(".json"))
    assert(vs.length == 2, s"history must be trimmed to keepVersions: ${vs.toSeq}")
  }

  test("OCC vacuum vs committing writer: safe at every interleaving; pinned readers fail cleanly") {
    val dir = "file:" + java.nio.file.Files.createTempDirectory("graft_occ4").toString + "/reports"
    ReportUpsert.mergeIntoOcc(dir, reports(("2024-03-01", 1.0, "seed", 1L)))
    // ordering 1 — vacuum BEFORE the writer stages: trivially safe
    ReportUpsert.vacuumOcc(dir, keepVersions = 10)
    // ordering 2 — vacuum BETWEEN stage and CAS: the dangerous window.
    // The staged dir is unreferenced by any manifest at vacuum time,
    // but it is seconds old, so the retention age keeps it — the
    // winning manifest must reference a LIVE dir afterwards.
    ReportUpsert.mergeIntoOcc(dir, reports(("2024-03-02", 2.0, "w2", 1L)),
      beforeCommit = _ => ReportUpsert.vacuumOcc(dir, keepVersions = 10))
    assert(ReportUpsert.readOcc(spark, dir).get.count() == 2,
      "vacuum in the stage->CAS window must not drop the winner's dir")
    // ordering 3 — vacuum inside the CONFLICT path: rival claims v+1,
    // vacuum runs, the loser replays and commits v+2 over fresh staging
    var rival = false
    ReportUpsert.mergeIntoOcc(dir, reports(("2024-03-03", 3.0, "w3", 1L)),
      beforeCommit = _ => if (!rival) {
        rival = true
        ReportUpsert.mergeIntoOcc(dir, reports(("2024-03-04", 4.0, "rival", 1L)))
        ReportUpsert.vacuumOcc(dir, keepVersions = 10)
      })
    assert(ReportUpsert.readOcc(spark, dir).get.count() == 4,
      "replayed loser + rival + vacuum must all land consistently")
    // ordering 4 — vacuum AFTER CAS with history trim (quiesced, so
    // minAgeMs = 0): every KEPT version stays readable because kept
    // manifests' dirs are referenced by definition
    val vHead = ReportUpsert.occVersion(dir)
    ReportUpsert.vacuumOcc(dir, keepVersions = 2, minAgeMs = 0)
    assert(ReportUpsert.readOccAt(spark, dir, vHead).get.count() == 4)
    assert(ReportUpsert.readOccAt(spark, dir, vHead - 1).isDefined)
    // a reader pinned at a DROPPED version fails LOUDLY with the
    // version named — never a silently-empty frame
    val ex = intercept[IllegalStateException](
      ReportUpsert.readOccAt(spark, dir, 0))
    assert(ex.getMessage.contains("version 0"), ex.getMessage)
    // and the WHY of the retention age, demonstrated: with minAgeMs=0
    // (the pre-r16 behavior) the stage->CAS vacuum corrupts the table —
    // and the corruption is now DETECTED at read, not silent
    val dir2 = "file:" + java.nio.file.Files.createTempDirectory("graft_occ5").toString + "/reports"
    ReportUpsert.mergeIntoOcc(dir2, reports(("2024-03-01", 1.0, "seed", 1L)))
    ReportUpsert.mergeIntoOcc(dir2, reports(("2024-03-02", 2.0, "w2", 1L)),
      beforeCommit = _ => ReportUpsert.vacuumOcc(dir2, keepVersions = 10, minAgeMs = 0))
    val ex2 = intercept[IllegalStateException](ReportUpsert.readOcc(spark, dir2))
    assert(ex2.getMessage.contains("missing data dir"), ex2.getMessage)
  }
}

class StreamingSpec extends SparkSpec {

  /** The streaming file source needs a DIRECTORY of files (that's the
    * production landing-zone shape); stage the single-file fixture. */
  private lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("part-0.parquet"))
    dir.toString
  }

  test("map-side corpus hygiene composes into a stream (redaction + chunking)") {
    // redactPiiText and chunkDocs are stateless map-side transforms, so
    // they run unchanged over readStream in append mode — the streaming
    // form of the corpus-hygiene pipeline.
    import org.apache.spark.sql.types._
    val landing = java.nio.file.Files.createTempDirectory("graft_docs")
    import spark.implicits._
    Seq((1L, "ping bob@example.com twice", "en", "s"),
        (2L, "clean text only here", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.parquet(landing.toString + "/batch0")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType)))
    val stream = spark.readStream.schema(schema)
      .parquet(landing.toString + "/batch0")
    val tmp = java.nio.file.Files.createTempDirectory("graft_hyg").toString
    val q = graft.functions.TextAnalysis.redactPiiText(stream)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("redacted"))
      .writeStream.outputMode("append")
      .format("memory").queryName("hygiene")
      .option("checkpointLocation", tmp + "/ckpt")
      .start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("hygiene").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "ping <EMAIL> twice" && out(2L) == "clean text only here")
  }

  test("streaming windowed agg over events matches batch totals") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val stx = StreamingReport.transactionsStream(spark, eventsDir)
    val q = StreamingReport.windowedCategorySpend(stx, "1 day", "1 hour")
      .writeStream.outputMode("complete")
      .format("memory").queryName("cat_spend")
      .option("checkpointLocation", tmp + "/ckpt")
      .start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("cat_spend")
      .groupBy("category")
      .agg(sum(col("total_spent").cast("decimal(14,2)")).cast("double").as("s"),
           sum("total_transactions").as("n"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val batch = Tables.transactions(spark, "/root/testdata/sf0.001")
      .groupBy(col("category"))
      .agg(sum(col("amount").cast("decimal(14,2)")).cast("double").as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(streamed == batch)
  }

  test("streaming session windows equal the batch session_window operator") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sess").toString
    val stx = StreamingReport.transactionsStream(spark, eventsDir)
    val q = StreamingReport.sessionizedSpend(stx, "30 minutes", "1 hour")
      .writeStream.outputMode("complete")
      .format("memory").queryName("sess_spend")
      .option("checkpointLocation", tmp + "/ckpt")
      .start()
    q.processAllAvailable(); q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getString(2),
        r.getDouble(3), r.getLong(4))).toSet
    val streamed = canon(spark.table("sess_spend"))
    // batch reference straight from events (the batch transactions
    // view drops ts; the stream keeps it)
    val batchTx = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("ts"),
        concat(lit("u"), col("user_id").cast("string")).as("vendor"),
        col("value").as("amount"))
    val batch = canon(batchTx
      .groupBy(session_window(col("ts"), "30 minutes"), col("vendor"))
      .agg(sum(col("amount").cast("decimal(14,2)")).cast("double").as("total_spent"),
           count(lit(1)).as("n_events"))
      .select(col("session_window.start"), col("session_window.end"),
        col("vendor"), col("total_spent"), col("n_events")))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("micro-batch latency is recorded and bounded for the windowed/session sinks") {
    // The round-5 streaming perf probe: per-batch triggerExecution
    // timings must be observable (so a streaming regression shows up
    // as a number, not a feeling) and each micro-batch of the sf0.001
    // fixture must close well under the loose 120s bound — an order
    // of magnitude above quiet-machine cost, tight enough to catch a
    // stuck or quadratic state store.
    def drive(name: String,
              sink: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_lat").toString
      val q = sink.writeStream.outputMode("complete")
        .format("memory").queryName(name)
        .option("checkpointLocation", tmp + "/ckpt")
        .start()
      q.processAllAvailable(); q.stop()
      q.recentProgress.toSeq
        .filter(_.numInputRows > 0)
        .map(p => p.batchId -> p.durationMs.get("triggerExecution").longValue())
    }
    val stx1 = StreamingReport.transactionsStream(spark, eventsDir)
    val win = drive("lat_windowed",
      StreamingReport.windowedCategorySpend(stx1, "1 day", "1 hour"))
    val stx2 = StreamingReport.transactionsStream(spark, eventsDir)
    val sess = drive("lat_session",
      StreamingReport.sessionizedSpend(stx2, "30 minutes", "1 hour"))
    (win.map("windowed" -> _) ++ sess.map("session" -> _)).foreach {
      case (probe, (batch, ms)) => info(f"STREAM_LATENCY[$probe][batch=$batch] $ms%d ms")
    }
    assert(win.nonEmpty && sess.nonEmpty, "no data-carrying batch recorded progress")
    assert((win ++ sess).forall(_._2 < 120000L),
      s"micro-batch exceeded the latency bound: windowed=$win session=$sess")
  }

  test("stateful running vendor spend accumulates across batches") {
    import graft.streaming.StatefulSpend
    val tmp = java.nio.file.Files.createTempDirectory("graft_state").toString
    val stx = StreamingReport.transactionsStream(spark, eventsDir)
    val q = StatefulSpend.runningVendorSpend(stx)
      .writeStream.outputMode("update")
      .format("memory").queryName("vendor_state")
      .option("checkpointLocation", tmp + "/ckpt")
      .start()
    q.processAllAvailable(); q.stop()
    // Latest state row per vendor must equal the batch aggregate.
    val latest = spark.table("vendor_state")
      .groupBy("vendor")
      .agg(max("n_txns").as("n"), max("total_spent").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val batch = Tables.transactions(spark, "/root/testdata/sf0.001")
      .groupBy(col("vendor"))
      .agg(count(lit(1)).as("n"),
           sum(col("amount").cast("decimal(14,2)")).cast("double").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(latest == batch)
  }

  test("watermark drops late data in append mode") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val landing = java.nio.file.Files.createTempDirectory("graft_late")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_late_ck").toString
    def nanos(s: String): Long =
      java.sql.Timestamp.valueOf(s).getTime * 1000000L
    def land(name: String, rows: Seq[(Long, String, Double)]): Unit = {
      val data = rows.map { case (id, t, v) =>
        Row(id, nanos(t), 1L, "purchase", v, "{}")
      }
      val stage = java.nio.file.Files.createTempDirectory("graft_stage").toString + "/d"
      spark.createDataFrame(spark.sparkContext.parallelize(data, 1),
        StructType(Seq(
          StructField("event_id", LongType), StructField("ts", LongType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("props", StringType))))
        .write.parquet(stage)
      // the file stream source lists only the landing ROOT — move the
      // part file there, not a nested directory
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, landing.resolve(s"$name.parquet"))
    }
    // batch 1: one event in the 10:00 window, one at 12:00 (advances
    // the watermark to 11:30 -> the 10:00-11:00 window finalizes)
    land("b1", Seq((1L, "2024-06-01 10:05:00", 10.0), (2L, "2024-06-01 12:00:00", 1.0)))
    val stx = graft.streaming.StreamingReport.transactionsStream(spark, landing.toString)
    val q = graft.streaming.StreamingReport
      .windowedCategorySpend(stx, "1 hour", "30 minutes")
      .selectExpr("window.start AS ws", "category", "total_spent")
      .writeStream.outputMode("append")
      .format("memory").queryName("late_test")
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    // batch 2: a LATE event for the already-finalized 10:00 window
    land("b2", Seq((3L, "2024-06-01 10:15:00", 99.0), (4L, "2024-06-01 13:30:00", 2.0)))
    q.processAllAvailable(); q.stop()
    val w10 = spark.table("late_test")
      .filter(col("ws") === java.sql.Timestamp.valueOf("2024-06-01 10:00:00"))
      .collect()
    assert(w10.length == 1, s"10:00 window emitted once: ${w10.toSeq}")
    assert(w10.head.getAs[Double]("total_spent") == 10.0,
      s"late 99.0 must be dropped, got ${w10.head}")
  }

  test("transactionsStream starts on an EMPTY landing zone and picks up the first file") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val landing = java.nio.file.Files.createTempDirectory("graft_empty_land")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_empty_ck").toString
    // the dir is empty: batch schema inference has nothing to read, so
    // the stream must fall back to the declared current-gen schema
    // instead of failing at start
    val stx = graft.streaming.StreamingReport.transactionsStream(spark, landing.toString)
    val q = stx.writeStream.outputMode("append")
      .format("memory").queryName("empty_start_test")
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    assert(spark.table("empty_start_test").isEmpty)
    // first file lands AFTER the stream started — current encoding
    // (timestamp[us] / NTZ), matching the fallback schema
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val data = Seq(Row(1L, java.time.LocalDateTime.parse("2024-06-01T10:05:00"),
      7L, "purchase", 12.5, "{}"))
    val stage = java.nio.file.Files.createTempDirectory("graft_empty_stage").toString + "/d"
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
      .write.parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, landing.resolve("b1.parquet"))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("empty_start_test")
      .select("category", "vendor", "amount").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows == Seq(("purchase", "u7", 12.5)),
      s"file landed after empty start must flow through: $rows")
  }

  test("streaming dedup drops cross-batch duplicates within the watermark") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val landing = java.nio.file.Files.createTempDirectory("graft_sdedup")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sdedup_ck").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", TimestampType),
      StructField("text", StringType)))
    def land(name: String, rows: Seq[(Long, String, String)]): Unit = {
      val data = rows.map { case (id, t, txt) =>
        Row(id, java.sql.Timestamp.valueOf(t), txt) }
      val stage = java.nio.file.Files.createTempDirectory("graft_sd_stage").toString + "/d"
      spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
        .write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, landing.resolve(s"$name.parquet"))
    }
    land("b1", Seq(
      (1L, "2024-06-01 10:00:00", "the quick brown fox"),
      (2L, "2024-06-01 10:01:00", "something else entirely")))
    val stream = spark.readStream.schema(schema).parquet(landing.toString)
    val q = graft.streaming.StreamingDedup
      .dedupStream(stream, "ts", "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("sdedup_test")
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    // batch 2: a case/whitespace variant of doc 1 (canonical duplicate,
    // different doc_id) within the watermark + one genuinely new doc
    land("b2", Seq(
      (3L, "2024-06-01 10:05:00", "  The  QUICK  brown fox "),
      (4L, "2024-06-01 10:06:00", "brand new content")))
    q.processAllAvailable(); q.stop()
    val out = spark.table("sdedup_test").collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(out == Seq(1L, 2L, 4L),
      s"duplicate doc 3 must be suppressed, survivors wrong: $out")
  }

  test("stream-stream attribution join matches only within the horizon") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val landing = java.nio.file.Files.createTempDirectory("graft_ss")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ss_ck").toString
    def nanos(s: String): Long =
      java.sql.Timestamp.valueOf(s).getTime * 1000000L
    val rows = Seq(
      Row(1L, nanos("2024-06-01 11:30:00"), 1L, "click", 1.0, "{}"),    // in horizon
      Row(2L, nanos("2024-06-01 10:30:00"), 1L, "click", 2.0, "{}"),    // too old
      Row(3L, nanos("2024-06-01 11:45:00"), 2L, "click", 3.0, "{}"),    // other user
      Row(4L, nanos("2024-06-01 12:00:00"), 1L, "purchase", 100.0, "{}"))
    val stage = java.nio.file.Files.createTempDirectory("graft_ss_stage").toString + "/d"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      graft.streaming.StreamingReport.eventsSchema).write.parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, landing.resolve("b1.parquet"))
    // legacy nanos-as-long input: the shared decoder's LongType branch
    val stream = graft.Tables.decodeTs(spark.readStream
      .schema(graft.streaming.StreamingReport.eventsSchema)
      .parquet(landing.toString))
    val q = graft.streaming.StreamingReport.attributionJoin(stream, 1, "30 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_test")
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("attr_test").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("click_value")))
    assert(out.toSeq == Seq((1L, 1.0)),
      s"only the in-horizon same-user click attributes: ${out.toSeq}")
  }

  test("foreachBatch merge sink builds the reports table incrementally") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString + "/reports"
    val stx = StreamingReport.transactionsStream(spark, eventsDir)
    val q = StreamingReport.reportMergeSink(stx, dir).start()
    q.processAllAvailable(); q.stop()
    val n = spark.read.parquet(dir).count()
    assert(n == 30)  // one report row per event day
  }

  test("checkpointed sink processes only newly landed files per run") {
    val landing = java.nio.file.Files.createTempDirectory("graft_ck_landing")
    val reports = java.nio.file.Files.createTempDirectory("graft_ck_rep").toString + "/reports"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ck").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      landing.resolve("f1.parquet"))
    def runOnce(): Unit = {
      val q = StreamingReport.reportMergeSink(
        StreamingReport.transactionsStream(spark, landing.toString),
        reports, Some(ckpt)).start()
      q.awaitTermination()
    }
    runOnce()
    val t1 = spark.read.parquet(reports)
      .agg(sum("total_transactions")).head().getLong(0)
    // land the SAME file again: with a checkpoint, the second run
    // processes only f2; its per-day counts EQUAL the stored ones, so
    // the P5 guard no-ops — true incremental semantics (contrast the
    // uncheckpointed recompute, where totals double)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      landing.resolve("f2.parquet"))
    runOnce()
    val t2 = spark.read.parquet(reports)
      .agg(sum("total_transactions")).head().getLong(0)
    assert(t1 == 1000L && t2 == 1000L)
  }

  test("OCC streaming sink: micro-batches commit via CAS; ad-hoc rival and replay both safe") {
    import graft.operators.ReportUpsert
    import spark.implicits._
    val occ = java.nio.file.Files.createTempDirectory("graft_occ_stream").toString + "/reports"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_occ_ck").toString
    def runOnce(): Unit = {
      val q = StreamingReport.reportMergeSinkOcc(
        StreamingReport.transactionsStream(spark, eventsDir), occ, Some(ckpt)).start()
      q.awaitTermination()
    }
    runOnce()
    val v1 = ReportUpsert.occVersion(occ)
    assert(v1 >= 0, "the stream must have committed at least one OCC version")
    val snap1 = ReportUpsert.readOcc(spark, occ).get
    assert(snap1.count() == 30)  // one report row per event day
    val total1 = snap1.agg(sum("total_transactions")).head().getLong(0)
    assert(total1 == 1000L)
    // an AD-HOC batch writer commits into the SAME table between
    // stream runs (the multi-writer case the OCC sink exists for):
    // a brand-new date inserts, a known date with a NOT-greater count
    // no-ops under the P5 guard
    val adhoc = Seq(("2999-12-31", 5.0, "backfill", 2L))
      .toDF("dt", "total_spent", "version", "total_transactions")
      .selectExpr("to_date(dt) AS begin_date", "to_date(dt) AS end_date",
        "total_spent", "version", "total_transactions")
    ReportUpsert.mergeIntoOcc(occ, adhoc)
    assert(ReportUpsert.occVersion(occ) == v1 + 1)
    // replay: a FRESH checkpoint re-processes the same landing files —
    // every replayed per-day count equals the stored one, so the guard
    // no-ops every row and only the version advances (an idempotent
    // re-commit, never doubled totals)
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_occ_ck2").toString
    val q2 = StreamingReport.reportMergeSinkOcc(
      StreamingReport.transactionsStream(spark, eventsDir), occ, Some(ckpt2)).start()
    q2.awaitTermination()
    val fin = ReportUpsert.readOcc(spark, occ).get
    assert(fin.count() == 31, "30 event days + the ad-hoc backfill date")
    assert(fin.agg(sum("total_transactions")).head().getLong(0) == 1002L,
      "replayed counts must no-op; only the backfill's 2 txns add")
    assert(ReportUpsert.occVersion(occ) > v1 + 1, "the replay still commits a version")
  }
}
