package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, substring_index}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites
  * run sequentially under sbt's default test execution). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
}

/** Shared test-reference helpers. */
object TestRefs {
  /** `df`'s rows behind a LogicalRDD, whose size estimate is
    * `spark.sql.defaultSizeInBytes` (Long.MaxValue): never
    * `SpendingReport.small`, so the report and the upsert over it take
    * their shuffling plans. */
  def unsized(df: DataFrame): DataFrame = df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** UTF-8 BYTE order (= code-point order) — matches the engine's
    * UTF8String and DuckDB's binary collation; Scala String/tuple
    * ordering would compare UTF-16 code units, which diverges for
    * supplementary-plane chars vs U+E000..U+FFFF. Shared by both
    * driver-side BPE reference trainers so their tie-breaks can never
    * drift apart. */
  def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0; val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  val utf8PairOrd: Ordering[(String, String)] =
    (p: (String, String), q: (String, String)) => {
      val c = utf8Cmp(p._1, q._1); if (c != 0) c else utf8Cmp(p._2, q._2)
    }

  /** `n` monthly upload summaries landed as JSON and extracted the way
    * the scheduled fold reads them: vendor keys `category/vNN`. */
  def landedUploads(spark: SparkSession, n: Int): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_uploads")
    val rnd = new scala.util.Random(n)
    val vendors = for (c <- Seq("dining", "groceries", "rent", "travel"); v <- 0 until 4)
      yield f"$c/v$v%02d"
    (0 until n).foreach { m =>
      val start = java.time.LocalDate.of(2021, 1, 1).plusMonths(m.toLong)
      val lines = rnd.shuffle(vendors).take(4 + rnd.nextInt(9)).sorted
        .map(v => v -> f"${100 + rnd.nextInt(50000)}%d.${rnd.nextInt(100)}%02d")
      val body = s"""{"upload_id": $m, "begin_date": "$start", """ +
        s""""end_date": "${start.plusMonths(1).minusDays(1)}", "total_spent": 1.0, """ +
        s""""total_transactions": ${lines.size}, "spending_per_vendor": """ +
        lines.map { case (v, a) => s""""$v": $a""" }.mkString("{", ", ", "}") + "}"
      java.nio.file.Files.writeString(dir.resolve(s"u$m.json"), body + "\n")
    }
    graft.sources.UploadSource.transactionsFromSummaries(
      graft.sources.UploadSource.uploadSummaries(spark, dir.toString), "spending_per_vendor")
      .select(col("txn_date"), substring_index(col("key"), "/", 1).as("category"),
        col("key").as("vendor"), col("amount"))
  }
}
