package graft
import org.apache.spark.sql.SparkSession

/** Job labeling (optimization guide §1.5): wrap a driver-side phase so
  * every Spark job it fires carries the label in
  * `spark.job.description` — `Harness.JobLog` (and `Probe phases` on
  * top of it) aggregates per-phase cost from it. Thread-local, restores
  * the previous description on exit, no effect on results. */
object Phases {
  def phase[T](spark: SparkSession, label: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try f finally sc.setJobDescription(prev)
  }

  /** Run independent driver-side actions (state writes, checkpoints)
    * concurrently (guide §2.6 — Spark's scheduler runs several jobs at
    * once; actions are only sequential because driver code calls them
    * sequentially). Each thunk runs under `label` in its own thread so
    * one job's task tail back-fills the executor slots of the others.
    * Only for actions with NO data dependency between them. */
  def inParallel(spark: SparkSession, label: String)(thunks: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    // Await ALL thunks to settle before returning or rethrowing: a
    // fail-fast rethrow would leave sibling writers running detached,
    // and a replayed commit could then overwrite a v=N state dir
    // concurrently with the orphaned writer from the failed attempt —
    // corrupting the "rewritten idempotently" assumption of the
    // pointer protocol. First failure (in argument order) rethrows
    // once every thunk has finished.
    val settled = Await.result(
      Future.sequence(thunks.map(t =>
        Future(scala.util.Try(phase(spark, label)(t()))))),
      Duration.Inf)
    settled.foreach(_.get)
  }
}
