package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ml.Ensemble
import graft.streaming.ScoreStream

/** `score-stream`, an open loop: after set-up fits the ensemble, one
  * generator thread drops JSON files on a fixed schedule into the
  * directory `ScoreStream.source` watches, and the stream runs
  * `ScoreStream.scoredWithModels` into a parquet sink that overwrites one
  * `batch_id=N` directory per micro-batch (the idempotence recipe of the
  * `ScoreStream` runners). Phases: `low` (fixed per-batch cost
  * dominates), `high` (per-row scoring starts to count) and the drain
  * bursts (per-row scoring dominates). */
object StreamServe {

  val HistoryRows = 3000
  val SetupRepeats = 3
  val Warmup = 200
  val WarmupRounds = 3
  /** Fixed-rate phases; their lengths are these shares of the run's
    * measuring budget (`--seconds`). The high rate is about half the
    * lowest drain throughput measured on a 4-core host (4.1k-6.0k
    * ev/s). Even at 2000 ev/s the high phase's p99 latency reached 3.6 s
    * on a slow stretch of the host, and the phase must stay under the
    * 5 s limit. */
  val Phases: Seq[(String, Int, Double)] = Seq(("low", 200, 0.7), ("high", 2000, 0.3))
  val TickMs = 200L
  /** The service's per-event time limit: every fixed-rate phase must
    * commit its events within it, tail and last tick alike. */
  val LimitMs = 5000.0
  /** The drain is measured on several separate bursts, each one file
    * (so it lands in one micro-batch), and reported as their median. */
  val Bursts = 4
  val BurstSize = 6000
  /** Event-time seconds per wall second: four event-hours a second. */
  val EventSpeed = 14400L

  private def writeJson(staging: File, in: File, name: String, lines: Iterator[String]): Unit = {
    val tmp = new File(staging, name)
    val w = java.nio.file.Files.newBufferedWriter(tmp.toPath, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    // the source lists the directory: a file appears whole or not at all
    java.nio.file.Files.move(tmp.toPath, new File(in, name).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val hist = Gen.history(c.seed, HistoryRows, FitScore.Users)
    var fitted: Ensemble.Fitted = null
    val setupMs = (1 to SetupRepeats).map { i =>
      val ((f, _), ms) = c.tr.span("setup.fit") {
        val d = FitScore.stage(c, s"history-$i", hist)
        c.tr.span("ml.Ensemble.fit")(Ensemble.fit(spark, d))
      }
      fitted = f
      ms
    }

    if (c.tr.enabled) FitScore.standaloneFits(c, new File(c.work, s"history-$SetupRepeats").getPath)
    c.log("set-up done")
    val phases = Phases.map { case (n, rate, share) =>
      Gen.Phase(n, rate, (c.seconds * 1000 * share / TickMs).round * TickMs) }
    val plan = Gen.schedule(c.seed, FitScore.Users, Warmup * WarmupRounds, phases, TickMs,
      Bursts * BurstSize, EventSpeed)
    val bursts = plan.backlog.grouped(BurstSize).toSeq
    val in = new File(c.dir("stream-in"))
    val staging = new File(c.dir("stream-staging"))
    val out = c.dir("stream-out")
    val query = ScoreStream.scoredWithModels(
        ScoreStream.source(spark, ScoreStream.SourceConfig(jsonDir = in.getPath)), fitted)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/batch_id=$id"): Unit
      }
      .option("checkpointLocation", c.dir("stream-ckpt"))
      .start()

    // warm-up: the first batches compile the streaming plan
    plan.warmup.grouped(Warmup).zipWithIndex.foreach { case (evs, i) =>
      writeJson(staging, in, f"warm-$i%02d.json", evs.iterator.map(_.ev.json))
      query.processAllAvailable()
    }

    c.log("warm-up done")
    val window = Window.open()
    val lateMs = new Array[Double](plan.ticks.size)
    val t0 = Clock.now() + 100.0
    val generator = new Thread(() => {
      plan.ticks.zipWithIndex.foreach { case (t, i) =>
        val due = t0 + t.dueMs
        var wait = due - Clock.now()
        while (wait > 0) { Thread.sleep(math.max(1L, wait.toLong)); wait = due - Clock.now() }
        lateMs(i) = Clock.now() - due
        c.tr.span("gen.tick")(writeJson(staging, in, f"tick-$i%05d.json",
          t.sends.iterator.map(_.item.ev.json)))
      }
    }, "perfbench-generator")
    c.tr.span("ScoreStream.fixed-rate") {
      generator.start()
      generator.join()
      query.processAllAvailable()
    }
    c.log("fixed-rate phases done")
    val (burstAt, _) = c.tr.span("ScoreStream.drain") {
      bursts.zipWithIndex.map { case (evs, i) =>
        val t = Clock.now()
        writeJson(staging, in, s"drain-$i.json", evs.iterator.map(_.ev.json))
        query.processAllAvailable()
        t
      }
    }
    val progress = query.recentProgress.toSeq.map(Tracer.batchRec)
    query.stop()
    val w = window.close()
    c.log("drain done")

    // ---- outputs: exactly once, and equal to batch scoring ----------------
    val scored = spark.read.parquet(out)
    val rows = scored.select(col("transaction_id"), col("batch_id").cast("long"), col("aggregated_score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val perId = rows.groupBy(_._1)
    val unique = plan.unique
    val failed = unique.count(l => perId.get(l.ev.id).forall(_.length != 1))
    val known = unique.map(_.ev.id).toSet
    val reference = Ensemble.scoreBatch(
      spark.read.schema(ScoreStream.eventSchema).json(in.getPath).dropDuplicates("event_id")
        .repartition(Runtime.getRuntime.availableProcessors()),
      fitted)
    val sameAsBatch =
      c.tr.span("ml.Ensemble.scoreBatch")(Digest.of(reference))._1 == Digest.of(scored.drop("batch_id"))
    val planFacts = if (c.tr.enabled) Plans.scoreFacts(reference) else Map.empty[String, Double]
    c.log("output checks done")

    // ---- latency: scheduled send time to the end of the committing batch --
    def p(xs: Seq[Double], pm: Int) = Stats.percentile(xs, Stats.boundedPerMille(xs.size, pm))
    val batchEnd = progress.map(b => b.batchId -> b.end).toMap
    val batchStart = progress.map(b => b.batchId -> b.start).toMap
    val batchOf = rows.map(r => r._1 -> r._2).toMap
    def latencies(sends: Seq[Gen.Send]): Seq[Double] =
      Latency.perEvent(sends.map(s => (s.item.ev.id, t0 + s.dueMs)), batchOf, batchEnd)
    val byPhase = plan.firstSends.groupBy(_.phase)
    val low = latencies(byPhase.getOrElse(0, Nil))
    val high = latencies(byPhase.getOrElse(1, Nil))
    // a phase keeps up when its tail stays inside the limit and its last
    // tick is committed inside it too: a growing backlog peaks there
    val keepsUp = Phases.zipWithIndex.flatMap { case ((name, _, _), pi) =>
      val lat = latencies(byPhase.getOrElse(pi, Nil))
      val last = latencies(plan.ticks.filter(_.phase == pi).lastOption.toSeq
        .flatMap(_.sends.filterNot(_.resend)))
      Seq(s"$name phase: p99 latency under ${LimitMs.toInt} ms" ->
            (lat.nonEmpty && p(lat, 990) < LimitMs),
          s"$name phase: no backlog, its last tick committed under ${LimitMs.toInt} ms" ->
            (last.nonEmpty && last.max < LimitMs))
    }
    val drainEps = Stats.median(bursts.zip(burstAt).map { case (evs, t) =>
      val end = evs.flatMap(l => batchOf.get(l.ev.id).flatMap(batchEnd.get)).max
      evs.size / ((end - t) / 1000.0)
    })
    val queueWait = Latency.perEvent(plan.firstSends.map(s => (s.item.ev.id, t0 + s.dueMs)),
      batchOf, batchStart)
    val scores = rows.map(r => r._1 -> r._3).toMap
    val labelled = unique.filter(l => scores.contains(l.ev.id))
    val auc = Stats.auc(labelled.map(l => scores(l.ev.id)), labelled.map(_.anomalous))

    val checks = Seq(
      "every unique id committed exactly once" -> (failed == 0),
      "no ids beyond those sent" -> rows.forall(r => known.contains(r._1)),
      "every re-send dropped" -> (rows.length == perId.size),
      "rows equal Ensemble.scoreBatch on the unique events" -> sameAsBatch) ++ keepsUp

    val setupS = Stats.median(setupMs) / 1000.0
    val lowP50 = p(low, 500)
    val sinkDirs = new File(out).listFiles().filter(_.getName.startsWith("batch_id="))
    val sink = sinkDirs.map(Files.dataFiles).filter(_._2 > 0)
    val resent = plan.resends
    val dups = rows.length - perId.size
    Outcome(checks, unique.size.toLong, failed.toLong,
      e2e = Map("setup_s" -> setupS, "throughput_per_s" -> drainEps,
                "op_p50_ms" -> lowP50, "quality" -> auc),
      named = Seq(("setup_s", setupS, "s"),
                  ("lat_p50_ms.low", lowP50, "ms"), ("lat_p99_ms.low", p(low, 990), "ms"),
                  ("lat_p50_ms.high", p(high, 500), "ms"), ("lat_p99_ms.high", p(high, 990), "ms"),
                  ("drain_eps", drainEps, "1/s"), ("stream_auc", auc, "ratio")),
      facts = planFacts ++ Map(
        "gen.late_ms_p99" -> p(lateMs.toSeq, 990),
        "gen.events_sent" -> (plan.firstSends.size + resent).toDouble,
        "gen.resent_frac" -> resent.toDouble / plan.firstSends.size,
        "lat.p50_ms.low" -> lowP50, "lat.p99_ms.low" -> p(low, 990),
        "lat.p50_ms.high" -> p(high, 500), "lat.p99_ms.high" -> p(high, 990),
        "stream.queue_wait_ms_p50" -> p(queueWait, 500),
        "dedup.dropped_frac" -> (if (resent == 0) 1.0 else (resent - dups).toDouble / resent),
        "sink.bytes_per_batch" -> sink.map(_._1.toDouble).sum / math.max(1, sink.length),
        "sink.files_per_batch" -> sink.map(_._2.toDouble).sum / math.max(1, sink.length)),
      window = w)
  }
}

object Latency {
  /** Per-event latency: the end (or start) of the micro-batch that
    * committed the event, minus the time the event was DUE. Counting
    * from the due time rather than the actual write charges a stalled
    * generator's lateness to the events it delayed. Events never
    * committed are left out here; the exactly-once check fails them. */
  def perEvent(due: Seq[(Long, Double)], batchOf: Map[Long, Long],
               batchTime: Map[Long, Double]): Seq[Double] =
    due.flatMap { case (id, d) => batchOf.get(id).flatMap(batchTime.get).map(_ - d) }
}
