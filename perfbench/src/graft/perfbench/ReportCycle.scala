package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.time.LocalDate

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, substring_index}

import graft.operators.{ReportUpsert, SpendingReport}
import graft.sources.UploadSource

/** The reference's own product, as its scheduler runs it: each cycle
  * lands new upload-summary JSON, then extracts every landed summary,
  * folds them into one period report and upserts it into the reports
  * table; lookups (list the date ranges, fetch one report) follow each
  * cycle. The only workload that writes. */
final class ReportCycle extends Workload {
  import ReportCycle._

  private var landing: File = _
  private var reports: String = _
  private val docs = mutable.LinkedHashMap.empty[Long, Doc] // upload id -> current doc
  private var nextUpload = 1L
  private var nextFailed = 1
  private var plan: Seq[(Kind, Boolean)] = Nil // per cycle: kind, plus a failed fetch?
  private var rnd: Random = _

  // model of the reports table, and what the run observed
  private val model = mutable.LinkedHashMap.empty[(String, String), Long] // key -> total_transactions
  private val acked = mutable.ArrayBuffer.empty[((String, String), Long)]
  private val mismatches = mutable.ArrayBuffer.empty[String]
  private var branches = Map.empty[String, Int].withDefaultValue(0)
  private var rowsRewritten = 0L
  private val incomings = mutable.ArrayBuffer.empty[DataFrame] // traced runs: the upserted reports
  private var expectedSpent = Map.empty[(String, String), Long] // key -> cents of the stored row

  def warmup(spark: SparkSession, data: File, scratch: File): Unit = {
    // the JSON reader, the fold's aggregate codegen, the parquet writer
    // and the lookup read; a whole cycle would cost as much as a timed one
    val land = new File(scratch, "landing")
    land.mkdirs()
    write(land, "u0.json", doc(0L, 0, LinesPerDoc, new Random(0)).json)
    val dir = new File(scratch, "reports").getAbsolutePath
    SpendingReport.globalSummary(transactions(spark, land.getAbsolutePath))
      .write.mode("overwrite").parquet(dir)
    listRanges(spark, dir)
  }

  override def prepare(c: Ctx): Unit = {
    rnd = new Random(c.seed)
    landing = new File(c.work, "landing")
    landing.mkdirs()
    reports = new File(c.work, "reports").getAbsolutePath
    (0 until HistoryMonths).foreach(m => land(doc(newUpload(), m, LinesPerDoc, rnd)))
    (0 until HistoryFailed).foreach(_ => landFailed())
    seedHistory(c.spark)
    // Every cycle merges into the seeded table: most land a new period
    // (insert, so the table grows), one re-upload takes the update
    // branch and one the no-op branch; the order is seeded.
    val n = cycles(c.seconds)
    val kinds = Seq(MoreLines, SameLines) ++ Seq.fill(n - 2)(NewPeriod)
    val failed = Seq.fill(n / 2)(true) ++ Seq.fill(n - n / 2)(false)
    plan = rnd.shuffle(kinds).zip(rnd.shuffle(failed))
  }

  /** The table the scheduler would have built over the history, one
    * report per month: the key of every month-end prefix. One real fold
    * of the whole history, plus that fold's row under each earlier
    * prefix's key and `total_transactions`, is upserted into the empty
    * directory. Then one cycle with no new upload re-folds the history
    * and merges it (the no-op branch). Untimed; the two folds and the
    * merge warm the JIT and codegen, which with a single fold before
    * them still sped the timed cycles up one by one (8.0 to 5.5 s). */
  private def seedHistory(spark: SparkSession): Unit = {
    val full = fold(transactions(spark, landing.getAbsolutePath))
    val spent = docs.values.map(_.cents).sum
    val byMonth = docs.values.map(d => d.month -> d.lines.size.toLong).toMap
    val prefixes = (0 until HistoryMonths).map(k =>
      (k, (0 to k).map(byMonth).sum))
    import spark.implicits._
    val rows = prefixes.init.map { case (k, tt) =>
      (java.sql.Date.valueOf(monthEnd(k)), tt)
    }.toDF("end_date", "total_transactions")
    ReportUpsert.mergeInto(reports, full.unionByName(full
      .drop("end_date", "total_transactions", "id").crossJoin(rows)
      .withColumn("id", expr("uuid()")).select(Payload.map(col): _*)))
    ReportUpsert.mergeInto(reports, fold(transactions(spark, landing.getAbsolutePath)))
    prefixes.foreach { case (k, tt) =>
      val key = (monthEnd(0).toString, monthEnd(k).toString)
      model(key) = tt
      expectedSpent += key -> spent
      acked += key -> tt
    }
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val rec = c.rec
    plan.zipWithIndex.foreach { case ((kind, withFailed), i) =>
      landCycle(kind, withFailed)
      val key = expectedKey
      val tt = docs.values.map(_.lines.size.toLong).sum
      val done = rec.op("cycle", s"cycle$i") {
        val tx = rec.span("sources.extract")(transactions(spark, landing.getAbsolutePath))
        val incoming = rec.span("operators.report")(fold(tx))
        rec.span("operators.upsert")(ReportUpsert.mergeInto(reports, incoming))
        incoming
      }
      done.foreach { incoming =>
        val branch = model.get(key) match {
          case None => "insert"
          case Some(old) if tt > old => "update"
          case _ => "noop"
        }
        if (branch != "noop") {
          model(key) = tt
          expectedSpent += key -> docs.values.map(_.cents).sum
        }
        branches += branch -> (branches(branch) + 1)
        rowsRewritten += model.size
        acked += key -> tt
        if (rec.traced) incomings += incoming
      }
      (0 until LookupsPerCycle).foreach { j =>
        if (j == 0) {
          val got = rec.op("lookup", s"list$i")(rec.span("api.list_ranges")(
            listRanges(spark, reports)))
          got.foreach { g =>
            val want = model.keys.toSeq.sorted
            if (g != want) mismatches += s"list after cycle $i: got $g, want $want"
          }
        } else {
          val (b, e) = lookupKey()
          val got = rec.op("lookup", s"fetch$i.$j")(rec.span("api.fetch_report")(
            fetch(spark, reports, b, e)))
          got.foreach { rows =>
            val want = model.get((b, e)).toSeq
            val have = rows.map(_.getAs[Long]("total_transactions")).toSeq
            if (have != want) mismatches += s"fetch ($b, $e) after cycle $i: got $have, want $want"
          }
        }
      }
    }
  }

  override def layerExtras(c: Ctx): Map[String, Double] = {
    val read = landing.listFiles().length.toDouble // one document per file
    val kept = UploadSource.uploadSummaries(c.spark, landing.getAbsolutePath).count()
    val files = new File(reports).listFiles().count(_.getName.endsWith(".parquet"))
    // the incoming rows are cached by `enriched`, so this re-reads no input
    val incomingBytes = incomings.map(_.toJSON.collect().map(_.getBytes(UTF_8).length.toLong).sum).sum
    Map("sources.read_docs" -> read, "sources.kept_docs" -> kept.toDouble,
      "operators.incoming_bytes" -> incomingBytes.toDouble,
      "operators.useful_rows" -> (branches("insert") + branches("update")).toDouble,
      "operators.rows_rewritten" -> rowsRewritten.toDouble,
      "operators.reports_files" -> files.toDouble)
  }

  def checks(c: Ctx, fresh: () => SparkSession): Seq[Check] = {
    // Read back in a new session: nothing cached, nothing in memory.
    val spark = fresh()
    val stored = spark.read.parquet(reports)
      .selectExpr("CAST(begin_date AS STRING)", "CAST(end_date AS STRING)",
        "total_transactions", "CAST(get_json_object(details, '$.total_spent') AS DOUBLE)")
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
    val table = stored.toMap
    val want = model.map { case (k, tt) => k -> (tt, expectedSpent(k) / 100.0) }.toMap
    val lost = acked.filterNot { case (k, tt) => table.get(k).exists(_._1 >= tt) }
    val kinds = Seq("insert", "update", "noop")
    Seq(
      Check("report_cycle.recompute", stored.length == table.size && table == want,
        s"stored ${table.toSeq.sorted} vs recomputed ${want.toSeq.sorted}"),
      Check("report_cycle.durable", lost.isEmpty, s"acknowledged merges missing: $lost"),
      Check("report_cycle.lookups", mismatches.isEmpty, mismatches.take(5).mkString("; ")),
      Check("report_cycle.branches", kinds.forall(branches(_) > 0),
        s"merge branches taken: ${kinds.map(k => s"$k=${branches(k)}").mkString(" ")}"))
  }

  // --- the upload stream -------------------------------------------------

  private def newUpload(): Long = { nextUpload += 1; nextUpload - 1 }

  private def land(d: Doc): Unit = {
    docs(d.upload) = d
    write(landing, s"u${d.upload}.json", d.json)
  }

  private def landFailed(): Unit = {
    val body = if (nextFailed % 2 == 0) "<html>502 Bad Gateway</html>"
               else s"""{"upload_id": ${1000000 + nextFailed}}"""
    write(landing, s"f$nextFailed.json", body)
    nextFailed += 1
  }

  private def landCycle(kind: Kind, withFailed: Boolean): Unit = {
    kind match {
      case NewPeriod =>
        land(doc(newUpload(), docs.values.map(_.month).max + 1, LinesPerDoc, rnd))
      case MoreLines =>
        // a corrected re-upload with more lines: the fold counts more
        // transactions, so the MERGE takes the update branch
        val old = pick()
        land(doc(old.upload, old.month, math.min(old.lines.size + 1 + rnd.nextInt(3),
          Vendors.size), rnd))
      case SameLines =>
        // a re-upload with the same line count: equal total_transactions,
        // so the monotone guard keeps the stored report (no-op branch)
        val old = pick()
        land(doc(old.upload, old.month, old.lines.size, rnd))
    }
    if (withFailed) landFailed()
  }

  private def pick(): Doc = docs.values.toSeq(rnd.nextInt(docs.size))

  /** The report key the fold yields: the range of the files' end dates. */
  private def expectedKey: (String, String) = {
    val months = docs.values.map(_.month)
    (monthEnd(months.min).toString, monthEnd(months.max).toString)
  }

  /** Mostly existing keys; about one in four asks for a range that was
    * never reported. */
  private def lookupKey(): (String, String) =
    if (rnd.nextInt(4) == 0) {
      val m = rnd.nextInt(HistoryMonths)
      (monthStart(m).toString, monthEnd(m + 1).toString)
    } else model.keys.toSeq(rnd.nextInt(model.size))
}

object ReportCycle {
  sealed trait Kind
  case object NewPeriod extends Kind
  case object MoreLines extends Kind
  case object SameLines extends Kind

  val Categories = Seq("dining", "groceries", "health", "rent", "shopping", "transport",
    "travel", "utilities")
  val Vendors: Seq[String] = for (c <- Categories; v <- 0 until 6) yield f"$c/v$v%02d"
  val HistoryMonths = 24
  val HistoryFailed = 3
  val LinesPerDoc = 16
  val LookupsPerCycle = 8
  /** Cycles per run, from `--seconds`: 4 at 30 s; `batch_s` is the
    * median cycle. */
  def cycles(seconds: Int): Int = math.max(3, seconds * 2 / 15)
  val Epoch: LocalDate = LocalDate.of(2021, 1, 1)

  def monthStart(m: Int): LocalDate = Epoch.plusMonths(m.toLong)
  def monthEnd(m: Int): LocalDate = monthStart(m + 1).minusDays(1)

  /** One statement's summary; amounts in cents, so every sum is exact. */
  final case class Doc(upload: Long, month: Int, lines: Seq[(String, Long)]) {
    def cents: Long = lines.map(_._2).sum
    def json: String = {
      def money(c: Long) = f"${c / 100}%d.${c % 100}%02d"
      def obj(kv: Seq[(String, Long)]) =
        kv.map { case (k, c) => s""""$k": ${money(c)}""" }.mkString("{", ", ", "}")
      val byCat = lines.groupMapReduce(_._1.takeWhile(_ != '/'))(_._2)(_ + _).toSeq.sorted
      s"""{"upload_id": $upload, "begin_date": "${monthStart(month)}", """ +
        s""""end_date": "${monthEnd(month)}", "total_spent": ${money(cents)}, """ +
        s""""total_transactions": ${lines.size}, "spending_per_category": ${obj(byCat)}, """ +
        s""""spending_per_vendor": ${obj(lines)}}"""
    }
  }

  def doc(upload: Long, month: Int, n: Int, rnd: Random): Doc =
    Doc(upload, month, rnd.shuffle(Vendors).take(n).sorted
      .map(v => v -> (100L + rnd.nextInt(50000))))

  /** Land atomically: a reader never sees a half-written document. */
  def write(dir: File, name: String, body: String): Unit = {
    val tmp = new File(dir, s".$name.tmp")
    Files.write(tmp.toPath, (body + "\n").getBytes(UTF_8))
    Files.move(tmp.toPath, new File(dir, name).toPath, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Extract: the landed summaries as long-form transactions. Vendor
    * keys are `category/vendor`, so one exploded map carries both. */
  def transactions(spark: SparkSession, landing: String): DataFrame =
    UploadSource.transactionsFromSummaries(
      UploadSource.uploadSummaries(spark, landing), "spending_per_vendor")
      .select(col("txn_date"), substring_index(col("key"), "/", 1).as("category"),
        col("key").as("vendor"), col("amount"))

  /** The reports-table row (FIXTURES.md A2) plus the guard column. */
  val Payload = Seq("id", "begin_date", "end_date", "details", "fi_summary", "created_at",
    "total_transactions")

  def fold(tx: DataFrame): DataFrame = SpendingReport.enriched(tx).select(Payload.map(col): _*)

  /** Lookup API: every report's date range. */
  def listRanges(spark: SparkSession, dir: String): Seq[(String, String)] =
    spark.read.parquet(dir)
      .selectExpr("CAST(begin_date AS STRING)", "CAST(end_date AS STRING)")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted

  /** Lookup API: one report by its date range (empty when absent). */
  def fetch(spark: SparkSession, dir: String, begin: String,
            end: String): Array[org.apache.spark.sql.Row] =
    spark.read.parquet(dir)
      .filter(col("begin_date") === lit(java.sql.Date.valueOf(begin)) &&
        col("end_date") === lit(java.sql.Date.valueOf(end)))
      .collect()
}
