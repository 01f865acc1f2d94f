package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary, recorded from the benchmark's
  * side of the call. `op` groups the spans of one operation (a request, a
  * query execution, an ingest epoch); `parent` is the enclosing span or -1. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Outside `recordingIf(true)` a span costs one
  * branch. Spans are written out once, when the run ends. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val current = new ThreadLocal[Span]
  private val recording = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** Record spans opened by `body` on this thread only when `on`. */
  def recordingIf[T](on: Boolean)(body: => T): T = {
    recording.set(on)
    try body finally recording.set(false)
  }

  def span[T](name: String, op: Long)(body: => T): T =
    if (!recording.get) body
    else {
      val parent = Option(current.get)
      val s = Span(ids.incrementAndGet(), parent.map(_.id).getOrElse(-1L), op, name,
        System.nanoTime(), 0L)
      current.set(s)
      try body
      finally {
        spans.add(s.copy(endNs = System.nanoTime()))
        parent match { case Some(p) => current.set(p); case None => current.remove() }
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark-runtime counters of one operation, summed over its jobs. */
final class OpCounters {
  val jobs, stages, tasks, failedTasks = new LongAdder
  val runMs, cpuNs, gcMs = new LongAdder
  val shuffleRead, shuffleWrite, spill, output = new LongAdder
  /** (start, end) wall-clock millis of each finished job. */
  val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
  val analysisMs, optimizationMs, planningMs = new LongAdder
}

/** The benchmark's listener pair: a SparkListener that sums task metrics per
  * operation, and a QueryExecutionListener that reads each query's
  * QueryExecution.tracker phase times. Jobs map to operations through the
  * `perfbench.op` local property the benchmark sets on the calling thread. */
final class RuntimeListener extends SparkListener with QueryExecutionListener {
  val ops = new ConcurrentHashMap[Long, OpCounters]
  private val jobOp = new ConcurrentHashMap[Int, java.lang.Long]
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]
  private val stageOp = new ConcurrentHashMap[Int, java.lang.Long]
  private val execOp = new ConcurrentHashMap[Long, java.lang.Long]
  @volatile var soleOp: Long = -1L

  private def counters(op: Long): OpCounters = ops.computeIfAbsent(op, _ => new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(RuntimeListener.OpKey)))
      .map(_.toLong).getOrElse(-1L)
    jobOp.put(e.jobId, op)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageOp.put(s, op))
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => execOp.putIfAbsent(x.toLong, op))
    counters(op).jobs.increment()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val op: Long = Option(jobOp.remove(e.jobId)).map(_.longValue).getOrElse(-1L)
    val start: Long = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
    counters(op).jobSpans.add((start, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val op: Long = Option(stageOp.get(e.stageInfo.stageId)).map(_.longValue).getOrElse(-1L)
    counters(op).stages.increment()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op: Long = Option(stageOp.get(e.stageId)).map(_.longValue).getOrElse(-1L)
    val c = counters(op)
    c.tasks.increment()
    if (e.reason != Success) c.failedTasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      c.runMs.add(m.executorRunTime)
      c.cpuNs.add(m.executorCpuTime)
      c.gcMs.add(m.jvmGCTime)
      c.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      c.spill.add(m.diskBytesSpilled)
      c.output.add(m.outputMetrics.bytesWritten)
    }
  }

  private def record(qe: QueryExecution): Unit = {
    val op: Long = Option(execOp.get(qe.id)).map(_.longValue).getOrElse(soleOp)
    val c = counters(op)
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    c.analysisMs.add(ms("analysis"))
    c.optimizationMs.add(ms("optimization"))
    c.planningMs.add(ms("planning"))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    record(qe)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
    record(qe)
  }

  /** Wait (bounded) until Spark's listener bus has delivered every event
    * posted so far, so an operation's counters are complete before they are
    * read. That covers the jobs' task metrics and the SQL executions' end
    * events, which run the QueryExecutionListener callbacks carrying the
    * plan phase times; the bus delivers both asynchronously, often after
    * the action that posted them has returned. */
  def drain(sc: SparkContext, timeoutMs: Long = 3000): Unit =
    try org.apache.spark.ListenerBusDrain(sc, timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => }
}

object RuntimeListener {
  final val OpKey = "perfbench.op"

  /** Wall time of [startMs, endMs] that no job interval covers. */
  def uncovered(startMs: Long, endMs: Long, jobs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var cursor = startMs
    jobs.map { case (a, b) => (a max startMs, b min endMs) }.filter { case (a, b) => b > a }
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > cursor) { covered += b - (a max cursor); cursor = b }
      }
    (endMs - startMs - covered) max 0L
  }
}

/** Per-op metric rows, keyed by metric name, for the per-layer table.
  * A row reports the median over ops, or the mean for rows added with
  * `mean = true` (counters that are 0 on most ops, like GC time). */
final class LayerTable {
  private val rows = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val meanRows = mutable.Set.empty[String]
  def add(name: String, v: Double, mean: Boolean = false): Unit = synchronized {
    rows.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
    if (mean) meanRows += name
  }
  def summary: Seq[(String, Double, Int)] = synchronized {
    rows.toSeq.map { case (k, vs) =>
      (k, if (meanRows(k)) vs.sum / vs.size else Stats.median(vs.toSeq), vs.size)
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}
