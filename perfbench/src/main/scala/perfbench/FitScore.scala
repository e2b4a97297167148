package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ml.{Ensemble, Features, IsolationForest, Lof, PcaRecon}

/** `fit-score`, a closed loop with one caller: each iteration fits the
  * ensemble on the staged events history, then batch-scores that history
  * into a parquet sink. Model fitting and bulk scoring do the work; the
  * streaming engine and maintained state are idle. */
object FitScore {

  val HistoryRows = 6000
  val Users = 300
  val SetupRepeats = 3
  val MinIterations = 4
  val MaxIterations = 10
  val ScoreCols: Seq[String] = Seq("anomaly_score_iforest", "anomaly_score_lof",
    "anomaly_score_ae", "deviation_score", "rule_score", "aggregated_score")

  /** The generated events as a frame of the program's events schema. */
  def eventsFrame(spark: SparkSession, rows: Seq[Gen.Labelled]): DataFrame =
    spark.createDataFrame(rows.map { l =>
      val e = l.ev
      (e.id, e.tsMicros, e.user, e.eventType, e.value, e.props)
    }).toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"), col("user_id"),
              col("event_type"), col("value"), col("props"))

  /** Stage `rows` as `<dir>/events.parquet`, one file; returns the dir. */
  def stage(c: Ctx, name: String, rows: Seq[Gen.Labelled]): String = {
    val d = c.dir(name)
    Files.writeSingleParquet(eventsFrame(c.spark, rows), s"$d/events.parquet")
    d
  }

  final case class Scored(rows: Long, distinct: Long, idSum: Long, nulls: Long,
                          badRisk: Long, digest: String, auc: Double)

  def inspect(spark: SparkSession, out: String, labels: Array[Boolean]): Scored = {
    val df = spark.read.parquet(out)
    val nullCount = ScoreCols.map(c => when(col(c).isNull, 1L).otherwise(0L)).reduce(_ + _)
    val r = df.agg(count(lit(1)), countDistinct(col("transaction_id")),
      sum(col("transaction_id")), sum(nullCount),
      sum(when(col("risk_level").isin("Low", "Medium", "High"), 0L).otherwise(1L))).head()
    val pairs = df.select(col("transaction_id"), col("aggregated_score")).collect()
      .filter(p => !p.isNullAt(0) && !p.isNullAt(1) && p.getLong(0) >= 0 &&
        p.getLong(0) < labels.length)
    val auc = Stats.auc(pairs.map(_.getDouble(1)).toIndexedSeq,
                        pairs.map(p => labels(p.getLong(0).toInt)).toIndexedSeq)
    Scored(r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4),
      Digest.of(df), auc)
  }

  /** Fit each model standalone on one shared features frame, each as its
    * own span, so each model's jobs and idle time show (traced runs). */
  def standaloneFits(c: Ctx, sfDir: String): Unit = {
    val cfg = Ensemble.Config()
    val (feats, _) = c.tr.span("ml.Features") {
      val (_, f) = Features.preprocessedEvents(c.spark, sfDir)
      f.localCheckpoint()
    }
    c.tr.span("ml.IsolationForest.fit")(IsolationForest.fit(feats, "features",
      cfg.nTrees, cfg.subsample, cfg.contamination, cfg.seed))
    c.tr.span("ml.Lof.fitNovelty")(Lof.fitNovelty(feats, "event_id", "features",
      cfg.lofK, cfg.lofRefPoints))
    c.tr.span("ml.PcaRecon.fit") {
      val Array(train, valid) = feats.randomSplit(Array(0.8, 0.2), cfg.seed)
      val pca = PcaRecon.fit(train, "features", cfg.pcaK)
      valid.select(pca.scoreCol(col("features")).as("m"))
        .agg(expr("percentile_approx(m, 0.975, 10000)")).head()
    }
    c.tr.span("ml.Ensemble.fitModels")(Ensemble.fitModels(feats, "event_id", cfg))
  }

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val hist = Gen.history(c.seed, HistoryRows, Users)
    val labels = hist.map(_.anomalous).toArray
    val setupMs = (1 to SetupRepeats).map { i =>
      c.tr.span("setup.stage-history")(stage(c, s"history-$i", hist))._2
    }
    val sfDir = new java.io.File(c.work, s"history-$SetupRepeats").getPath

    c.log("set-up done")
    // warm-up: class loading, JIT and codegen are a cost of the JVM's
    // first call, not of a long-lived service
    Ensemble.scoreBatch(Tables.events(spark, sfDir), Ensemble.fit(spark, sfDir))
      .write.mode("overwrite").parquet(c.dir("warmup-out"))

    c.log("warm-up done")
    if (c.tr.enabled) standaloneFits(c, sfDir)

    val window = Window.open()
    val fitMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val scoreMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val results = scala.collection.mutable.ArrayBuffer.empty[Scored]
    var facts = Map.empty[String, Double]
    var sinkBytes = 0L
    var sinkFiles = 0
    val t0 = Clock.now()
    while (fitMs.size < MinIterations ||
           (fitMs.size < MaxIterations && Clock.now() - t0 < c.seconds * 1000.0)) {
      val (fitted, fMs) = c.tr.span("ml.Ensemble.fit")(Ensemble.fit(spark, sfDir))
      val out = c.dir(s"scored-${fitMs.size}")
      val scored = Ensemble.scoreBatch(Tables.events(spark, sfDir), fitted)
      val (_, sMs) = c.tr.span("ml.Ensemble.scoreBatch")(
        scored.write.mode("overwrite").parquet(out))
      fitMs += fMs
      scoreMs += sMs

      if (c.tr.enabled && fitMs.size == 1) facts ++= Plans.scoreFacts(scored)
      c.log(f"iteration ${fitMs.size}: fit $fMs%.0f ms, score $sMs%.0f ms")
      window.pause()
      results += inspect(spark, out, labels)
      val (b, f) = Files.dataFiles(new java.io.File(out))
      sinkBytes += b; sinkFiles += f
      window.resume()
    }
    val w = window.close()

    val n = hist.size.toLong
    val idSum = n * (n - 1) / 2
    val iterChecks = results.map(s => s.rows == n && s.distinct == n && s.idSum == idSum &&
      s.nulls == 0 && s.badRisk == 0)
    val checks = Seq(
      "one scored row per input row" -> results.forall(s =>
        s.rows == n && s.distinct == n && s.idSum == idSum),
      "no null scores" -> results.forall(_.nulls == 0),
      "risk_level in {Low, Medium, High}" -> results.forall(_.badRisk == 0),
      "same score digest on every iteration" -> (results.map(_.digest).distinct.size == 1))
    val auc = results.head.auc
    val fitS = Stats.median(fitMs.toSeq) / 1000.0
    val rowsPerS = n * scoreMs.size / (scoreMs.sum / 1000.0)
    val setupS = Stats.median(setupMs) / 1000.0
    Outcome(checks, fitMs.size, iterChecks.count(ok => !ok),
      e2e = Map("setup_s" -> setupS, "throughput_per_s" -> rowsPerS,
                "op_p50_ms" -> fitS * 1000.0, "quality" -> auc),
      named = Seq(("setup_s", setupS, "s"), ("fit_s", fitS, "s"),
                  ("score_rows_per_s", rowsPerS, "1/s"), ("score_auc", auc, "ratio")),
      facts = facts ++ Map(
        "gen.events_sent" -> n.toDouble,
        "sink.bytes_per_batch" -> sinkBytes.toDouble / fitMs.size,
        "sink.files_per_batch" -> sinkFiles.toDouble / fitMs.size),
      window = w)
  }
}
