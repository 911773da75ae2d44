package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.SparkSession

/** What a workload gets for one run. `data` holds the committed input
  * tables; `work` is this run's scratch directory inside the checkout;
  * `newSession` opens another session on the same SparkContext, traced
  * like the first. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val seed: Long,
                val seconds: Int, val data: File, val work: File,
                val newSession: () => SparkSession)

final case class Check(name: String, ok: Boolean, detail: String)

trait Workload {
  /** Untimed warm-up, part of set-up: table footers, codegen. */
  def warmup(spark: SparkSession, data: File, scratch: File): Unit
  /** Generate this run's inputs from the seed (untimed). */
  def prepare(c: Ctx): Unit = ()
  /** The timed operations, one `c.rec.op` each. */
  def run(c: Ctx): Unit
  /** Per-layer inputs only the workload can measure (traced runs,
    * after the timed region). */
  def layerExtras(c: Ctx): Map[String, Double] = Map.empty
  /** Correctness checks, outside the timed region; `fresh` stops the
    * run's session and returns a new one. */
  def checks(c: Ctx, fresh: () => SparkSession): Seq[Check]
}

/** One benchmark run in one JVM: set-up (repeated), seeded inputs, the
  * timed closed loop of one client thread, then the correctness checks.
  * Writes the raw record (operations, set-up times, counters, spans) as
  * JSON to `--out`; `perfbench/run.py` turns it into metrics. */
object Main {
  /** Set-up runs this many times (session + warm-up); the median is
    * `setup_s`. The first counts from JVM start. */
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload: Workload = opts("workload") match {
      case "report_cycle" => new ReportCycle
      case "ann_serve" => new AnnServe
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val traced = opts("trace") == "1"
    val data = new File(opts("data"))
    val work = new File(opts("work"))
    val cpus = Runtime.getRuntime.availableProcessors
    val loadavg = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var storage: StorageListener = null
    for (i <- 0 until Setups) {
      if (spark != null) stop(spark)
      val t0 =
        if (i == 0) ManagementFactory.getRuntimeMXBean.getStartTime
        else System.currentTimeMillis()
      spark = session(cpus, work)
      storage = new StorageListener
      spark.sparkContext.addSparkListener(storage)
      workload.warmup(spark, data, new File(work, s"warmup$i"))
      setupS += (System.currentTimeMillis() - t0) / 1000.0
    }

    val sc = spark.sparkContext
    val layers = new LayerListener
    val catalyst = new CatalystListener
    if (traced) {
      sc.addSparkListener(layers)
      spark.listenerManager.register(catalyst)
    }
    val rec = new Recorder(sc, traced)
    val c = new Ctx(spark, rec, opts("seed").toLong, opts("seconds").toInt, data, work,
      () => {
        val s = spark.newSession()
        if (traced) s.listenerManager.register(catalyst)
        s
      })
    val prepare0 = rec.nowMs()
    workload.prepare(c)
    val prepareS = (rec.nowMs() - prepare0) / 1e3
    ListenerBus.drain(sc)
    storage.resetPeak()
    val probeStartMs = calibrationProbe()
    val memo0 = Memo.snapshot(spark)
    val t0 = rec.nowMs()
    workload.run(c)
    val t1 = rec.nowMs()
    ListenerBus.drain(sc)
    val memo1 = Memo.snapshot(spark)
    val storagePeak = storage.peak
    // snapshots: the extras and checks below submit more jobs
    val jobs = layers.jobs.toList
    val stages = layers.stages.toList
    val cat = Map("analysis_ms" -> catalyst.analysisMs, "optimizer_ms" -> catalyst.optimizerMs,
      "planning_ms" -> catalyst.planningMs, "queries" -> catalyst.queries)
    val extras = if (traced) workload.layerExtras(c) else Map.empty[String, Double]
    val probeEndMs = calibrationProbe()

    val checks0 = rec.nowMs()
    val checks =
      try workload.checks(c, () => { stop(spark); spark = session(cpus, work); spark })
      catch { case NonFatal(e) => Seq(Check("checks", ok = false, e.toString)) }
    checks.filterNot(_.ok).foreach(k =>
      System.err.println(s"[perfbench] CHECK FAILED ${k.name}: ${k.detail}"))
    val checksS = (rec.nowMs() - checks0) / 1e3
    stop(spark)

    val record = Map(
      "workload" -> opts("workload"), "seed" -> c.seed, "seconds" -> c.seconds,
      "traced" -> traced, "cpus" -> cpus,
      "diag" -> Map("loadavg_start" -> loadavg, "probe_start_ms" -> probeStartMs,
        "probe_end_ms" -> probeEndMs, "prepare_s" -> prepareS, "checks_s" -> checksS,
        "java" -> System.getProperty("java.version"),
        "spark" -> org.apache.spark.SPARK_VERSION),
      "setup_s" -> setupS.toList,
      "timed_ms" -> List(t0, t1),
      "storage_peak_bytes" -> storagePeak,
      "ops" -> rec.ops.toList,
      "checks" -> checks.toList,
      "memo" -> Map("before" -> memo0, "after" -> memo1),
      "trace" -> (if (!traced) None else Some(Map(
        "spans" -> rec.spans.toList,
        "jobs" -> jobs.map(j => Map("id" -> j.id, "span" -> j.span, "t0_ms" -> j.t0Ms,
          "t1_ms" -> j.t1Ms)),
        "stages" -> stages,
        "catalyst" -> cat,
        "extras" -> extras))))
    Files.write(new File(opts("out")).toPath, JsonOut(record).getBytes(UTF_8))
  }

  /** The session configuration `graft.Bench` runs the query board
    * with, plus scratch locations inside the run directory. */
  def session(cpus: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toURI.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Fixed single-thread CPU probe (~200M SplitMix64 mixes, no IO, no
    * allocation): identical work, so its time varies only with the
    * machine. The benchmark's own copy of `graft.Bench`'s probe, which
    * is private there. */
  def calibrationProbe(): Double = {
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
    if (acc == 42L) System.err.print("") // keep the loop live
    (System.nanoTime() - t0) / 1e6
  }
}

/** `IndexMemo` counters. Misses are not counted by the memo itself: a
  * miss inserts one entry, and an insert past the cap evicts one, so
  * misses = growth of the entries of this SparkContext's sessions +
  * evictions. */
object Memo {
  private val memo = graft.functions.IndexMemo
  private lazy val entries = {
    val f = memo.getClass.getDeclaredFields.find(_.getName.endsWith("entries"))
      .getOrElse(throw new IllegalStateException("IndexMemo has no entries field"))
    f.setAccessible(true)
    f
  }

  def snapshot(spark: SparkSession): Map[String, Any] = memo.synchronized {
    val live = entries.get(memo).asInstanceOf[List[Product]]
      .count(_.productElement(1).asInstanceOf[SparkSession].sparkContext eq spark.sparkContext)
    Map("hits" -> memo.hits, "evictions" -> memo.evictions, "entries" -> live,
      "build_s" -> memo.buildSecs)
  }
}
