package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval around a call into one layer. Spans of
  * one operation (a query, a store build, a micro-batch) share `op`.
  */
final case class Span(name: String, op: Long, parent: String,
                      startNs: Long, endNs: Long)

/** Counters taken from Spark's public listeners. Values are totals since
  * the listener was registered; callers diff two snapshots.
  */
final case class Counters(jobs: Long, tasks: Long, runMs: Long,
                          shuffleWriteBytes: Long, spillBytes: Long,
                          planMs: Long, listenerNs: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    runMs - o.runMs, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, planMs - o.planMs, listenerNs - o.listenerNs)
}

/** Per-micro-batch record from the streaming listener. */
final case class BatchRecord(query: String, batchId: Long, inputRows: Long,
                             durations: Map[String, Long], stateRows: Long,
                             stateMemBytes: Long, stateCommitMs: Long)

/** The benchmark's tracer. With `enabled = false` every hook is a no-op
  * and no listener is registered, so untraced runs pay nothing.
  *
  * Listener callbacks run on Spark's listener-bus thread; the time spent
  * inside them is summed into `listenerNs`, the tracer's own overhead.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val jobs, tasks, runMs, shuffleW, spill, planMs, listenerNs =
    new AtomicLong
  private val spans = ArrayBuffer.empty[Span]
  private val batches = ArrayBuffer.empty[BatchRecord]
  private val opIds = new AtomicLong

  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime()
    try body finally listenerNs.addAndGet(System.nanoTime() - t)
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        timed(jobs.incrementAndGet())
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          runMs.addAndGet(m.executorRunTime)
          shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        timed(record(qe))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        timed(record(qe))
      private def record(qe: QueryExecution): Unit = {
        val phases = qe.tracker.phases
        planMs.addAndGet(Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).map(_.durationMs).sum)
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = timed {
        val p = e.progress
        // the progress event is posted as the micro-batch ends
        Option(p.durationMs.get("triggerExecution")).foreach { ms =>
          val end = System.nanoTime()
          val s = Span(s"streaming.${p.name}", newOp(), String.valueOf(p.name),
            end - ms * 1000000L, end)
          spans.synchronized(spans += s)
        }
        val ops = p.stateOperators
        val rec = BatchRecord(String.valueOf(p.name), p.batchId,
          p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
          ops.map(_.commitTimeMs).sum)
        batches.synchronized(batches += rec)
      }
    })
  }

  def newOp(): Long = opIds.incrementAndGet()

  /** Runs `body` inside a span named `name`; records it when tracing. */
  def span[T](name: String, op: Long, parent: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally {
        val s = Span(name, op, parent, t0, System.nanoTime())
        spans.synchronized(spans += s)
      }
    }

  /** Snapshot of the listener counters, after the listener bus drained. */
  def counters(): Counters = {
    if (enabled) org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
    Counters(jobs.get, tasks.get, runMs.get, shuffleW.get, spill.get,
      planMs.get, listenerNs.get)
  }

  def batchRecords: Seq[BatchRecord] = {
    if (enabled) org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
    batches.synchronized(batches.toList)
  }

  /** Writes the spans as JSON lines (the trace sidecar). */
  def writeSpans(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = spans.synchronized(spans.toList).map { s =>
      Json.render(Map("name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
