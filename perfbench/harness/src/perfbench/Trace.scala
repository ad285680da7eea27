package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBridge, SparkContext}
import org.apache.spark.scheduler._

/** Spans around the program's public calls, with the stage and task
  * counters of the work each span ran.
  *
  * A stage belongs to the span whose wall-clock interval contains the
  * stage's submission time. Spans never overlap (one thread calls the
  * layers in turn), and the interval catches stages that Spark submits from
  * its own threads — a cached relation materialized by adaptive execution,
  * for one — which a thread-local tag would miss. Spans and counters stay in
  * memory until the run writes its result file.
  */
final class Tracer(sc: SparkContext, cores: Int) {
  import Tracer._

  private val submitted = new ConcurrentHashMap[Int, java.lang.Long]()
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var asideNs = 0L

  private val listener = new SparkListener {
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val t = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      submitted.putIfAbsent(e.stageInfo.stageId, t)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val c = counters.computeIfAbsent(e.stageId, _ => new Counters)
        c.synchronized {
          c.runMs += m.executorRunTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
          c.durations += e.taskInfo.duration
        }
      }
    }
  }
  sc.addSparkListener(listener)

  /** Run `body` as span `layer` of traced operation `op`. */
  def span[T](op: Int, layer: String)(body: => T): T = {
    val gc0 = gcMillis()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val ms = (System.nanoTime() - t0) / 1e6
      val s = Span(op, layer, startMs, System.currentTimeMillis(), ms,
        (gcMillis() - gc0).toDouble)
      spans.synchronized { spans += s }
    }
  }

  /** Run trace bookkeeping (counts for the per-layer metrics) whose time the
    * caller leaves out of the traced operation's time.
    */
  def aside[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally asideNs += System.nanoTime() - t0
  }

  def asideNanos: Long = asideNs

  /** Spans so far, each with the counters of the stages submitted in it. */
  def records(): Seq[Map[String, Any]] = {
    PerfbenchBridge.drainListeners(sc)
    val all = spans.synchronized(spans.toList)
    // each stage counts once, in the first span whose interval holds it
    val owner = submitted.asScala.toSeq.flatMap { case (id, t) =>
      all.indexWhere(s => t >= s.startMs && t <= s.endMs) match {
        case -1 => None
        case i => Option(counters.get(id.intValue)).map(i -> _)
      }
    }.groupMap(_._1)(_._2)
    all.zipWithIndex.map { case (s, i) =>
      val cs = owner.getOrElse(i, Nil)
      val skews = cs.map(c => c.synchronized(c.durations.sorted.toSeq)).filter(_.size >= 2)
        .map(d => d.last / d(d.size / 2).max(1L).toDouble)
      val runMs = cs.map(_.runMs).sum
      Map("op" -> s.op, "layer" -> s.layer, "ms" -> s.ms, "gc_ms" -> s.gcMs,
        "stages" -> cs.size, "task_run_ms" -> runMs,
        "input_bytes" -> cs.map(_.inputBytes).sum,
        "shuffle_bytes" -> cs.map(_.shuffleBytes).sum,
        "shuffle_records" -> cs.map(_.shuffleRecords).sum,
        "spill_bytes" -> cs.map(_.spillBytes).sum,
        "peak_exec_mem" -> (0L +: cs.map(_.peakExecMem)).max,
        "core_util" -> (if (s.ms > 0) runMs / (s.ms * cores) else 0.0),
        "task_skew" -> (1.0 +: skews).max)
    }
  }

  def close(): Unit = sc.removeSparkListener(listener)
}

object Tracer {

  final case class Span(op: Int, layer: String, startMs: Long, endMs: Long,
      ms: Double, gcMs: Double)

  final class Counters {
    var runMs = 0L
    var inputBytes = 0L
    var shuffleBytes = 0L
    var shuffleRecords = 0L
    var spillBytes = 0L
    var peakExecMem = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
}
