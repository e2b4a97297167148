package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The one run harness: every entry point (Bench, Verify, Probe,
  * ProbeSoak) and the test session build their session, sweep state,
  * time declared queries and record jobs through here. */
object Harness {

  /** Local cores: SPARK_GRAFT_CPUS, else every available processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cores]` with one shuffle partition per core, UTC, no UI,
    * log level WARN. */
  def session(cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** State hygiene after every query execution (BENCH_r05 lesson):
    * several queries persist blocks they cannot release themselves —
    * localCheckpoint'ed edge lists in the dedup/CC family (unpersisting
    * a localCheckpoint invalidates the frame, so the query can't clean
    * up before returning) and memory-sink tables behind the streaming
    * twins. Left alone, they pile up in the executor store and later
    * queries pay for them — BENCH_r05 recorded 2.5-9.3x regressions on
    * byte-identical code. Unpersists every persisted RDD, clears the
    * DF cache and drops the `__graft_*` memory-sink temp views;
    * returns (RDDs unpersisted, views dropped). */
  def sweep(spark: SparkSession): (Int, Int) = {
    val rdds = spark.sparkContext.getPersistentRDDs
    rdds.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    val views = spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("__graft_"))
    views.foreach(v => spark.catalog.dropTempView(v.name))
    (rdds.size, views.length)
  }

  /** Seconds `body` takes; the sweep runs after it, outside the timer. */
  def timed(spark: SparkSession)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    val dt = (System.nanoTime() - t0) / 1e9
    sweep(spark)
    dt
  }

  /** Declared query `name` on `sfDir`: one warm execution (codegen,
    * state-store init), then `runs` timed ones. Returns the warm
    * seconds and the timed samples. */
  def warmThenTimed(spark: SparkSession, name: String, sfDir: String,
                    runs: Int): (Double, Seq[Double]) = {
    val fn = SparkEntry.queries(name)
    val warm = timed(spark)(fn(spark, sfDir).count())
    (warm, Seq.fill(runs)(timed(spark)(fn(spark, sfDir).count())))
  }

  /** Declared query names from a comma-separated list, trimmed, empty
    * entries ignored. An unknown name fails fast: a typo must not look
    * like a clean run. */
  def selectQueries(csv: String): Seq[String] = {
    val names = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    names
  }

  /** `s` as a quoted JSON string: backslash, quote and EVERY control
    * char escaped — one stray byte from an exception message or a tab
    * in declared SQL must not make an artifact unreadable. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Job and stream-progress log of one piece of driver code. */
  object JobLog {
    /** One Spark job: its `spark.job.description` label on one line
      * ("(none)" when unset, a `Phases` label inside a phase), short
      * callsite and start/end in epoch ms. */
    final case class Job(id: Int, label: String, callSite: String,
                         startMs: Long, endMs: Long)

    /** One micro-batch's `StreamingQueryProgress`. */
    final case class Batch(query: String, batchId: Long,
                           durationMs: Map[String, Long])

    final case class Run(startMs: Long, endMs: Long, jobs: Seq[Job],
                         batches: Seq[Batch]) {
      def wallMs: Long = endMs - startMs

      /** Wall time with no job running. Jobs overlap under
        * `Phases.inParallel`, so this subtracts the UNION of the job
        * intervals: their sum can exceed the wall time. */
      def gapMs: Long = wallMs - busyMs(jobs)

      /** (label, jobs, busy ms) per label, busiest first. */
      def byLabel: Seq[(String, Int, Long)] =
        jobs.groupBy(_.label).toSeq
          .map { case (label, js) => (label, js.size, busyMs(js)) }
          .sortBy(r => (-r._3, r._1))

      private def busyMs(js: Seq[Job]): Long = {
        var busy = 0L
        var reach = startMs
        js.sortBy(_.startMs).foreach { j =>
          val from = math.max(j.startMs, reach)
          val to = math.min(j.endMs, endMs)
          if (to > from) { busy += to - from; reach = to }
        }
        busy
      }
    }

    /** Runs `body` with a job and a stream-progress listener attached.
      * The listener bus is asynchronous, so it is flushed before the
      * listeners go on (earlier jobs stay out) and again before they
      * come off (trailing job-end and progress events get in). */
    def record(spark: SparkSession)(body: => Unit): Run = {
      val open = new ConcurrentHashMap[Int, (String, String, Long)]()
      val jobs = new ConcurrentLinkedQueue[Job]()
      val batches = new ConcurrentLinkedQueue[Batch]()
      val jobListener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          def prop(k: String) =
            Option(e.properties).flatMap(p => Option(p.getProperty(k)))
          val label = prop("spark.job.description").filter(_.nonEmpty)
            .map(_.replace('\n', ' '))
          // the result stage (highest id) is named by the job's callsite
          val site = prop("callSite.short")
            .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
          open.put(e.jobId, (label.getOrElse("(none)"), site.getOrElse(""),
            e.time)): Unit
        }
        override def onJobEnd(e: SparkListenerJobEnd): Unit =
          Option(open.remove(e.jobId)).foreach { case (label, site, t0) =>
            jobs.add(Job(e.jobId, label, site, t0, e.time))
          }
      }
      val progressListener = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          batches.add(Batch(String.valueOf(p.name), p.batchId,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)): Unit
        }
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      Bridge.waitForListenerBus(spark)
      spark.sparkContext.addSparkListener(jobListener)
      spark.streams.addListener(progressListener)
      val t0 = System.currentTimeMillis()
      val t1 =
        try { body; System.currentTimeMillis() }
        finally {
          Bridge.waitForListenerBus(spark)
          spark.sparkContext.removeSparkListener(jobListener)
          spark.streams.removeListener(progressListener)
        }
      Run(t0, t1, jobs.asScala.toSeq.sortBy(_.id),
        batches.asScala.toSeq.sortBy(b => (b.query, b.batchId)))
    }
  }
}
