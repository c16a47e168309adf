package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.metrics.source.CodegenMetrics

/** One timed interval around a call into a layer; times are epoch µs. */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long) {
  var end: Long = 0L
}

/** Spark work attributed to a span: one record per job. */
final class JobRec(val id: Int, val span: Int, val op: Int, val start: Long) {
  var end = 0L
  var stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, inBytes, inRows, outBytes, outRows = 0L
  var shuffleRead, shuffleWrite, spill = 0L
}

/** Per-op counters the listeners fill in. */
final class OpCounters {
  var analysisMs, optimizationMs, planningMs = 0.0
  var compileNs, compiles = 0L
  var batches, batchMs, queries = 0L
}

/** Records spans around layer calls and attributes Spark's jobs, stages,
  * tasks, Catalyst phases, codegen and streaming batches to them. Jobs find
  * their span through a local property the tracer sets on the calling
  * thread (never the job description). When `on` is false every method is
  * a pass-through, so untraced runs execute the same calls. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val sc = spark.sparkContext
  private val Prop = "perfbench.span"
  private val clockBase = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs: Long = clockBase + System.nanoTime() / 1000L

  val spans = ArrayBuffer[Span]()
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val ops = mutable.Map[Int, OpCounters]()
  private val stageJob = mutable.Map[Int, JobRec]()
  private var stack: List[Span] = Nil
  @volatile private var op = -1
  @volatile private var current = -1
  private var tracing = false

  private def counters(o: Int) = ops.getOrElseUpdate(o, new OpCounters)

  if (on) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        // jobs of threads the tracer does not run (a streaming query's
        // batches) belong to the span the client thread waits in
        val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt)
          .orElse(Option(current).filter(_ >= 0))
        span.foreach { sp =>
          val j = new JobRec(e.jobId, sp, spans(sp).op, e.time * 1000L)
          jobs(e.jobId) = j
          e.stageIds.foreach(stageJob(_) = j)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time * 1000L)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        stageJob.get(e.stageId).foreach { j =>
          j.tasks += 1
          if (!e.taskInfo.successful) j.failedTasks += 1
          val m = e.taskMetrics
          if (m != null) {
            j.runMs += m.executorRunTime
            j.cpuNs += m.executorCpuTime
            j.gcMs += m.jvmGCTime
            j.inBytes += m.inputMetrics.bytesRead
            j.inRows += m.inputMetrics.recordsRead
            j.outBytes += m.outputMetrics.bytesWritten
            j.outRows += m.outputMetrics.recordsWritten
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.diskBytesSpilled
          }
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        Tracer.this.synchronized { if (op >= 0) counters(op).queries += 1 }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Tracer.this.synchronized {
          if (op >= 0) {
            val c = counters(op)
            c.batches += 1
            c.batchMs += Option(e.progress.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
          }
        }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    })
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    if (op >= 0) {
      val c = counters(op)
      qe.tracker.phases.foreach { case (name, p) =>
        val ms = p.durationMs.toDouble
        name match {
          case "analysis" => c.analysisMs += ms
          case "optimization" => c.optimizationMs += ms
          case "planning" => c.planningMs += ms
          case _ =>
        }
      }
    }
  }

  /** Runs one op and returns its result with its wall time in ns. A traced
    * op gets a root span, codegen deltas and a drained listener bus, so its
    * Spark events are complete before the next op; the drain is not timed. */
  def op[T](id: Int, traced: Boolean)(body: => T): (T, Long) = {
    tracing = on && traced
    val t0 = System.nanoTime()
    if (!tracing) { val r = body; return (r, System.nanoTime() - t0) }
    op = id
    val ns0 = CodeGenerator.compileTime
    val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try { val r = span("op")(body); (r, System.nanoTime() - t0) } finally {
      org.apache.spark.sql.PerfbenchShim.drain(sc)
      synchronized {
        val c = counters(id)
        c.compileNs += CodeGenerator.compileTime - ns0
        c.compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0
      }
      op = -1
      tracing = false
    }
  }

  def span[T](name: String)(body: => T): T = if (!tracing) body else {
    val s = synchronized {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), op, name, nowUs)
      spans += s
      s
    }
    stack ::= s
    current = s.id
    sc.setLocalProperty(Prop, s.id.toString)
    try body finally {
      s.end = nowUs
      stack = stack.tail
      current = stack.headOption.fold(-1)(_.id)
      sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
    }
  }
}
