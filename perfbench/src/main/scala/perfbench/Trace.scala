package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A timed call at a layer boundary. `parent` is -1 at the top level. */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double,
                      thread: String) {
  def ms: Double = end - start
}

final case class JobRec(id: Int, submit: Double, end: Double, label: String,
                        stageIds: Seq[Int])

final case class TaskRec(stageId: Int, launch: Double, finish: Double, runMs: Double,
                         shuffleWrite: Long, spill: Long, outBytes: Long)

/** One micro-batch's progress, as reported by the engine. */
final case class BatchRec(batchId: Long, start: Double, durations: Map[String, Double],
                          inputRows: Long, stateRows: Long, stateBytes: Long,
                          stateCommitMs: Double) {
  def end: Double = start + durations.getOrElse("triggerExecution", 0.0)
}

/** Epoch milliseconds with sub-millisecond resolution. */
object Clock {
  private val epochAnchor = System.currentTimeMillis().toDouble
  private val nanoAnchor = System.nanoTime()
  def now(): Double = epochAnchor + (System.nanoTime() - nanoAnchor) / 1e6
}

/** Spans, jobs, stages, tasks and micro-batch progress of one run, all
  * kept in memory. With `enabled = false` spans still time their body
  * (the workloads' end-to-end timers) but nothing is recorded and no
  * listener is registered. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 0

  /** Run `body` as span `name`; returns its result and wall ms. */
  def span[T](name: String)(body: => T): (T, Double) = {
    val id = if (enabled) synchronized { nextId += 1; nextId } else 0
    val parent = stack.get.headOption.getOrElse(-1)
    if (enabled) stack.set(id :: stack.get)
    val t0 = Clock.now()
    try {
      val out = body
      (out, Clock.now() - t0)
    } finally {
      if (enabled) {
        val t1 = Clock.now()
        stack.set(stack.get.tail)
        synchronized {
          spans += Span(id, parent, name, t0, t1, Thread.currentThread().getName)
        }
      }
    }
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  // ---- engine listeners (tracing on only) -------------------------------

  private val jobs = ArrayBuffer.empty[JobRec]
  private val jobStart = scala.collection.mutable.Map.empty[Int, (Double, String, Seq[Int])]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val batches = ArrayBuffer.empty[BatchRec]

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val label = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobStart(e.jobId) = (e.time.toDouble, label, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (t, l, s) =>
        jobs += JobRec(e.jobId, t, e.time.toDouble, l, s)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null && i != null) Tracer.this.synchronized {
        tasks += TaskRec(e.stageId, i.launchTime.toDouble, i.finishTime.toDouble,
          m.executorRunTime.toDouble, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten)
      }
    }
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { batches += Tracer.batchRec(e.progress) }
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for queued listener events, then stop listening. */
  def detach(spark: SparkSession): Unit = if (enabled) {
    Tracer.flushListenerBus(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  def allJobs: Seq[JobRec] = synchronized(jobs.toList)
  def allTasks: Seq[TaskRec] = synchronized(tasks.toList)
  def allBatches: Seq[BatchRec] = synchronized(batches.toList)
}

object Tracer {
  def batchRec(p: org.apache.spark.sql.streaming.StreamingQueryProgress): BatchRec = {
    val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
      .map { case (k, v) => k -> v.doubleValue() }.toMap
    val st = p.stateOperators.headOption
    BatchRec(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, d,
      p.numInputRows, st.map(_.numRowsTotal).getOrElse(0L),
      st.map(_.memoryUsedBytes).getOrElse(0L), st.map(_.commitTimeMs.toDouble).getOrElse(0.0))
  }

  /** Block until the listener bus has delivered every queued event. */
  def flushListenerBus(spark: SparkSession): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
