package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation: `error` names the throw when it failed. */
final case class Op(id: Int, kind: String, name: String, t0Ms: Double, t1Ms: Double,
                    error: Option[String])

/** One span at a layer boundary the benchmark calls into. `op` is the
  * operation all spans of one request share; `parent` 0 = root. */
final case class Span(id: Int, parent: Int, op: Int, name: String, t0Ms: Double, t1Ms: Double)

/** Records every operation (always) and the spans inside them (traced
  * runs only). Times are epoch milliseconds with sub-millisecond
  * precision, so they line up with the job times Spark's listener
  * events carry. Single client thread: no synchronization needed. */
final class Recorder(sc: SparkContext, val traced: Boolean) {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  val ops = mutable.ArrayBuffer.empty[Op]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, Int)] = Nil // (span id, op id)

  /** Run one operation. A throw is recorded with its name and counted
    * as failed — never dropped from the sample — and the loop goes on. */
  def op[T](kind: String, name: String)(body: => T): Option[T] = {
    val id = ops.size + 1
    val t0 = nowMs()
    val res = try Right(span(s"op.$kind", id)(body))
              catch { case NonFatal(e) => Left(e) }
    val t1 = nowMs()
    val err = res.left.toOption.map(e =>
      s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}".replaceAll("\\s+", " ").take(300))
    err.foreach(m => System.err.println(s"[perfbench] FAILED $kind $name: $m"))
    ops += Op(id, kind, name, t0, t1, err)
    res.toOption
  }

  /** A span around one call into a layer. Jobs the call submits carry
    * the span id as a local property, which is how the listener
    * attributes stages, tasks and bytes to layers. */
  def span[T](name: String)(body: => T): T = span(name, stack.headOption.fold(0)(_._2))(body)

  private def span[T](name: String, opId: Int)(body: => T): T =
    if (!traced) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.fold(0)(_._1)
      stack = (id, opId) :: stack
      sc.setLocalProperty(Recorder.SpanProp, id.toString)
      val t0 = nowMs()
      try body finally {
        val t1 = nowMs()
        stack = stack.tail
        sc.setLocalProperty(Recorder.SpanProp, stack.headOption.fold(null: String)(_._1.toString))
        spans += Span(id, parent, opId, name, t0, t1)
      }
    }
  private var nextId = 0
}

object Recorder {
  val SpanProp = "perfbench.span"
}

/** Spark's own counters, attributed to the span whose call submitted
  * the job. Mutated only on the listener-bus thread; read after
  * `ListenerBus.drain`. */
final class LayerListener extends SparkListener {
  import LayerListener._
  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  private val jobById = mutable.Map.empty[Int, Job]
  private val stageSpan = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.SpanProp)))
      .map(_.toInt).getOrElse(0)
    val j = Job(e.jobId, span, e.time, -1L)
    jobs += j
    jobById(e.jobId) = j
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobById.get(e.jobId).foreach(_.t1Ms = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val span = stageSpan.getOrElse(i.stageId, 0)
    Option(i.taskMetrics) match {
      case Some(m) => stages += Stage(span, i.numTasks, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten)
      case None => stages += Stage(span, i.numTasks, 0, 0, 0, 0, 0, 0, 0, 0)
    }
  }
}

object LayerListener {
  final case class Job(id: Int, span: Int, t0Ms: Long, var t1Ms: Long)
  final case class Stage(span: Int, tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                         shuffleWrite: Long, shuffleRead: Long, spill: Long,
                         input: Long, output: Long)
}

/** Catalyst phase times of every executed query (actions and writes):
  * `QueryExecution.tracker` of each materialized Dataset. */
final class CatalystListener extends QueryExecutionListener {
  var analysisMs = 0L
  var optimizerMs = 0L
  var planningMs = 0L
  var queries = 0L
  private def add(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    analysisMs += p.get("analysis").fold(0L)(_.durationMs)
    optimizerMs += p.get("optimization").fold(0L)(_.durationMs)
    planningMs += p.get("planning").fold(0L)(_.durationMs)
    queries += 1
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

/** Bytes the block manager holds for RDD blocks — cached Datasets and
  * localCheckpointed memo frames, memory plus disk — and its peak. On
  * in every run: it is the `storage_mb.peak` end-to-end metric. */
final class StorageListener extends SparkListener {
  private val sizes = mutable.Map.empty[String, Long]
  private var current = 0L
  @volatile var peak = 0L
  /** Start a new peak from what is held now (the timed region's start). */
  def resetPeak(): Unit = synchronized { peak = current }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val key = s"${i.blockManagerId}/${i.blockId.name}"
      val now = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      current += now - sizes.getOrElse(key, 0L)
      if (now == 0L) sizes.remove(key) else sizes(key) = now
      if (current > peak) peak = current
    }
  }
}

/** Minimal JSON writer for the raw run record. */
object JsonOut {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => graft.Json.str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${apply(k.toString)}:${apply(x)}" }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productElementNames.zip(p.productIterator).toMap)
    case other => apply(other.toString)
  }
}
