package perfbench

/** The per-layer metrics of a traced run. Each is named after the
  * repository module it measures and lists the end-to-end metric and
  * workload it should move. A layer the workload does not exercise
  * reports 0, which is itself the prediction "no change here". */
object Layers {

  final case class Def(name: String, unit: String, moves: String)

  private def d(name: String, unit: String, moves: String) = Def(name, unit, moves)
  private val fitMoves = "setup_s on score-stream (op_p50_ms on fit-score)"
  private val scoreMoves = "throughput_per_s on score-stream (and on fit-score)"
  private val fixedMoves = "op_p50_ms on score-stream, not throughput_per_s"
  private val corpusMoves = "throughput_per_s and op_p50_ms on corpus-maintain"
  private val engineMoves = "every metric of the workload it is measured on"

  val defs: Seq[Def] = Seq(
    d("gen.late_ms_p99", "ms", "run validity: the generator kept to its schedule"),
    d("gen.events_sent", "count", "run validity: input size"),
    d("gen.resent_frac", "ratio", "run validity: re-send share"),
    d("features.wall_ms", "ms", fitMoves),
    d("features.jobs", "count", fitMoves),
    d("features.idle_ms", "ms", fitMoves)) ++
    Seq("iforest", "lof", "pca").flatMap(m => Seq(
      d(s"$m.fit_ms", "ms", fitMoves), d(s"$m.jobs", "count", fitMoves),
      d(s"$m.idle_ms", "ms", fitMoves))) ++ Seq(
    d("fitmodels.wall_ms", "ms", fitMoves),
    d("fitmodels.jobs", "count", fitMoves),
    d("fitmodels.overlap", "ratio", fitMoves),
    d("score.wall_ms", "ms", scoreMoves),
    d("score.tasks", "count", scoreMoves),
    d("score.task_ms", "ms", scoreMoves),
    d("score.max_task_ms", "ms", scoreMoves),
    d("score.exchanges", "count", scoreMoves),
    d("score.codegen_fallbacks", "count", scoreMoves),
    d("stream.batches", "count", fixedMoves),
    d("stream.rows_per_batch_p50", "count", fixedMoves),
    d("stream.trigger_ms_p50", "ms", fixedMoves),
    d("stream.trigger_ms_p99", "ms", fixedMoves)) ++
    Seq("addBatch", "queryPlanning", "latestOffset", "walCommit", "commitOffsets").map(p =>
      d(s"stream.${p}_ms_p50", "ms", fixedMoves)) ++ Seq(
    d("stream.queue_wait_ms_p50", "ms", "op_p50_ms on score-stream before throughput_per_s"),
    d("stream.jobs_per_batch", "count", fixedMoves),
    d("stream.idle_ms_per_batch", "ms", fixedMoves),
    d("stream.nodata_batch_frac", "ratio", fixedMoves),
    d("dedup.state_rows", "count", "op_p50_ms and throughput_per_s on score-stream"),
    d("dedup.state_bytes", "bytes", "op_p50_ms and throughput_per_s on score-stream"),
    d("dedup.commit_ms_p50", "ms", "op_p50_ms and throughput_per_s on score-stream"),
    d("dedup.dropped_frac", "ratio", "quality on score-stream (must stay 1)"),
    d("sink.bytes_per_batch", "bytes", "throughput_per_s on score-stream"),
    d("sink.files_per_batch", "count", "throughput_per_s on score-stream"),
    d("lat.p50_ms.low", "ms", "op_p50_ms on score-stream"),
    d("lat.p99_ms.low", "ms", "op_p50_ms on score-stream"),
    d("lat.p50_ms.high", "ms", "throughput_per_s on score-stream"),
    d("lat.p99_ms.high", "ms", "throughput_per_s on score-stream"),
    d("corpus.advance_ms_p50", "ms", corpusMoves),
    d("corpus.jobs_per_advance", "count", corpusMoves),
    d("corpus.idle_ms_per_advance", "ms", corpusMoves),
    d("corpus.write_ms", "ms", corpusMoves),
    d("graph.write_ms", "ms", corpusMoves),
    d("corpus.compute_ms", "ms", corpusMoves),
    d("corpus.bytes_written_per_advance", "bytes", corpusMoves),
    d("spark.jobs", "count", engineMoves),
    d("spark.tasks", "count", engineMoves),
    d("spark.shuffle_bytes", "bytes", engineMoves),
    d("spark.spill_bytes", "bytes", engineMoves),
    d("spark.idle_frac", "ratio", engineMoves),
    d("jvm.gc_ms", "ms", engineMoves),
    d("jvm.heap_peak_mb", "MB", engineMoves)) ++
    Metrics.endToEnd.map(m => d(s"trace.overhead.${m.name}", m.unit,
      s"none: traced minus untraced ${m.name}"))

  /** A span's jobs: those submitted while it was open. */
  private def jobsIn(jobs: Seq[JobRec], s: Span): Seq[JobRec] =
    jobs.filter(j => j.submit >= s.start && j.submit <= s.end)

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def pct(xs: Seq[Double], pm: Int): Double =
    if (xs.isEmpty) 0.0 else Stats.percentile(xs, Stats.boundedPerMille(xs.size, pm))

  /** Every per-layer metric, from the trace plus the workload's facts. */
  def compute(tr: Tracer, o: Outcome, overhead: Map[String, Double]): Map[String, Double] = {
    val spans = tr.allSpans
    val jobs = tr.allJobs
    val tasks = tr.allTasks
    val batches = tr.allBatches.filter(b => o.window.contains(b.start))
    val stageToJob: Map[Int, Int] = jobs.flatMap(j => j.stageIds.map(_ -> j.id)).toMap
    val tasksOfJob: Map[Int, Seq[TaskRec]] =
      tasks.groupBy(t => stageToJob.getOrElse(t.stageId, -1))
    val busy: Seq[(Double, Double)] = tasks.map(t => (t.launch, t.finish))
    def named(n: String) = spans.filter(_.name == n)
    def idleOf(s: Span) = Stats.idle(s.start, s.end, busy)

    def oneSpan(prefix: String, span: String, wall: String): Map[String, Double] =
      named(span).headOption match {
        case Some(s) => Map(s"$prefix.$wall" -> s.ms, s"$prefix.jobs" -> jobsIn(jobs, s).size.toDouble,
                            s"$prefix.idle_ms" -> idleOf(s))
        case None => Map(s"$prefix.$wall" -> 0.0, s"$prefix.jobs" -> 0.0, s"$prefix.idle_ms" -> 0.0)
      }

    val models = oneSpan("features", "ml.Features", "wall_ms") ++
      oneSpan("iforest", "ml.IsolationForest.fit", "fit_ms") ++
      oneSpan("lof", "ml.Lof.fitNovelty", "fit_ms") ++
      oneSpan("pca", "ml.PcaRecon.fit", "fit_ms")
    val fm = named("ml.Ensemble.fitModels").headOption
    val fitmodels = Map(
      "fitmodels.wall_ms" -> fm.map(_.ms).getOrElse(0.0),
      "fitmodels.jobs" -> fm.map(jobsIn(jobs, _).size.toDouble).getOrElse(0.0),
      "fitmodels.overlap" -> fm.map(s =>
        (models("iforest.fit_ms") + models("lof.fit_ms") + models("pca.fit_ms")) / s.ms)
        .getOrElse(0.0))

    val scoreSpans = named("ml.Ensemble.scoreBatch")
    val scoreTasks = scoreSpans.map(s => jobsIn(jobs, s).flatMap(j => tasksOfJob.getOrElse(j.id, Nil)))
    val score = Map(
      "score.wall_ms" -> med(scoreSpans.map(_.ms)),
      "score.tasks" -> mean(scoreTasks.map(_.size.toDouble)),
      "score.task_ms" -> mean(scoreTasks.map(_.map(_.runMs).sum)),
      "score.max_task_ms" -> (0.0 +: scoreTasks.flatten.map(t => t.finish - t.launch)).max)

    val dataBatches = batches.filter(_.inputRows > 0)
    def dur(key: String, bs: Seq[BatchRec]) = bs.map(_.durations.getOrElse(key, 0.0))
    val stream = Map(
      "stream.batches" -> batches.size.toDouble,
      "stream.rows_per_batch_p50" -> med(dataBatches.map(_.inputRows.toDouble)),
      "stream.trigger_ms_p50" -> med(dur("triggerExecution", batches)),
      "stream.trigger_ms_p99" -> pct(dur("triggerExecution", batches), 990),
      "stream.jobs_per_batch" -> mean(batches.map(b =>
        jobs.count(j => j.submit >= b.start && j.submit <= b.end).toDouble)),
      "stream.idle_ms_per_batch" -> mean(batches.map(b => Stats.idle(b.start, b.end, busy))),
      "stream.nodata_batch_frac" ->
        (if (batches.isEmpty) 0.0 else (batches.size - dataBatches.size).toDouble / batches.size),
      "dedup.state_rows" -> batches.lastOption.map(_.stateRows.toDouble).getOrElse(0.0),
      "dedup.state_bytes" -> batches.lastOption.map(_.stateBytes.toDouble).getOrElse(0.0),
      "dedup.commit_ms_p50" -> med(batches.map(_.stateCommitMs))) ++
      Seq("addBatch", "queryPlanning", "latestOffset", "walCommit", "commitOffsets").map(p =>
        s"stream.${p}_ms_p50" -> med(dur(p, batches))).toMap

    val advances = named("CorpusPipeline.advance")
    def labelledMs(s: Span, p: JobRec => Boolean): Double =
      Stats.covered(jobsIn(jobs, s).filter(p).map(j => (j.submit, j.end)), s.start, s.end)
    val isCorpusWrite = (j: JobRec) => j.label.startsWith("corpus:") && j.label.endsWith("-write")
    val isGraphWrite = (j: JobRec) => j.label == "graph:commit-write"
    val corpus = Map(
      "corpus.advance_ms_p50" -> med(advances.map(_.ms)),
      "corpus.jobs_per_advance" -> mean(advances.map(jobsIn(jobs, _).size.toDouble)),
      "corpus.idle_ms_per_advance" -> mean(advances.map(idleOf)),
      "corpus.write_ms" -> mean(advances.map(labelledMs(_, isCorpusWrite))),
      "graph.write_ms" -> mean(advances.map(labelledMs(_, isGraphWrite))),
      "corpus.compute_ms" -> mean(advances.map(labelledMs(_, j => !isCorpusWrite(j) && !isGraphWrite(j)))),
      "corpus.bytes_written_per_advance" -> mean(advances.map(s =>
        jobsIn(jobs, s).flatMap(j => tasksOfJob.getOrElse(j.id, Nil)).map(_.outBytes).sum.toDouble)))

    val w = o.window
    val wJobs = jobs.filter(j => w.contains(j.submit))
    val wTasks = wJobs.flatMap(j => tasksOfJob.getOrElse(j.id, Nil))
    val engine = Map(
      "spark.jobs" -> wJobs.size.toDouble,
      "spark.tasks" -> wTasks.size.toDouble,
      "spark.shuffle_bytes" -> wTasks.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> wTasks.map(_.spill).sum.toDouble,
      "spark.idle_frac" -> w.intervals.map { case (s, e) => Stats.idle(s, e, busy) }.sum / w.wallMs,
      "jvm.gc_ms" -> w.gcMs,
      "jvm.heap_peak_mb" -> w.heapPeakMb)

    val all = models ++ fitmodels ++ score ++ stream ++ corpus ++ engine ++ o.facts ++
      overhead.map { case (k, v) => s"trace.overhead.$k" -> v }
    defs.map(df => df.name -> all.getOrElse(df.name, 0.0)).toMap
  }
}
