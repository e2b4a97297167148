package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Scoring

/** End-to-end ensemble scoring — the reference's full `/score` path
  * (`python_scoring/app.py:239-270` + gateway fusion `api/app.py:
  * 181-193`), split train/serve exactly like the reference:
  *
  *   fit:   preproc fit → 80/20 split (seed 42, `train.py:83`) →
  *          iForest + PCA-recon (AE substitute) + LOF-novelty fits →
  *          P97.5 AE threshold — all state constant-size.
  *   score: bind → enrich (profile lookups) → features → 3 native-
  *          expression model scores (`functions.ArrayMath` kernels) →
  *          worker normalization (`python_scoring/app.py:188-196`) →
  *          rules + deviation → gateway fusion → risk level.
  *
  * `scoreBatch` is a pure DataFrame transform — the SAME code scores
  * batch tables and Structured Streaming micro-batches
  * (`streaming.ScoreStream.scoredWithModels`). Scoring plans no join
  * and no exchange: the profiles are fitted state, collected once by
  * the fit's own enrichment and looked up per row, so a micro-batch
  * runs one job.
  */
object Ensemble {

  final case class Config(
      nTrees: Int = 200, subsample: Int = 256, contamination: Double = 0.01,
      pcaK: Int = 8, lofK: Int = 20, lofRefPoints: Int = 2000, seed: Long = 42L,
      largeAmount: Double = 100.0, bigAmount: Double = 250.0,
      suspiciousChannel: String = "purchase", propsKeyThreshold: Int = 80) {
    /** The rule thresholds as the events rule set reads them (the odd-
      * hour cutoff keeps its default). */
    def rules: graft.Pipelines.EventScoringConfig = graft.Pipelines.EventScoringConfig(
      largeAmount = largeAmount, bigAmount = bigAmount,
      suspiciousChannel = suspiciousChannel, propsKeyThreshold = propsKeyThreshold)
  }

  /** Everything scoring needs, all constant fitted state: the models
    * and the two profile tables, collected behind the
    * `Profiles.ProfileRows` cap. */
  final case class Fitted(
      preproc: PreprocModel, ifModel: IForestModel, pca: PcaReconModel,
      aeThreshold: Double, lofNovelty: LofNoveltyModel,
      profiles: Features.EventProfiles, cfg: Config)

  /** The three anomaly models + AE threshold, fit on an already-
    * preprocessed features frame (domain-agnostic — events binding and
    * the reference's transactions CSV share this). Reference fit order
    * (train.py:66-84): iForest and LOF fit on the FULL preprocessed X;
    * the 80/20 split exists only so the AE has a held-out validation
    * set. The AE-substitute PCA therefore fits on train and its P97.5
    * threshold is computed on valid; the other two models see
    * everything. */
  def fitModels(feats: DataFrame, idCol: String, cfg: Config = Config())
      : (IForestModel, PcaReconModel, Double, LofNoveltyModel) = {
    // r15: the three model fits are independent given the features
    // frame, so their actions overlap (guide §2.6) — each fit is a
    // short chain of small driver-blocking jobs (count/subsample
    // collect/percentile), and running them sequentially left the
    // cluster idle between jobs. The frame is materialized ONCE
    // before the fits (a lazy handle would let the concurrent
    // first-use duplicate the upstream compute) via an EAGER
    // localCheckpoint — one job, same as the old persist()+count(),
    // but the blocks are ContextCleaner-owned: nothing registers in
    // the session CacheManager, so repeated fits no longer leak a
    // cached DataFrame for the session lifetime (ADVICE r15). Seeded
    // fits on materialized blocks are order-independent, so results
    // are unchanged.
    val f = feats.localCheckpoint()
    var ifModel: IForestModel = null
    var lofNov: LofNoveltyModel = null
    var pca: PcaReconModel = null
    var aeThr: Double = 0.0
    graft.Phases.inParallel(f.sparkSession, "ml:fit")(
      () => ifModel = IsolationForest.fit(f, "features", cfg.nTrees,
        cfg.subsample, cfg.contamination, cfg.seed),
      () => lofNov = Lof.fitNovelty(f, idCol, "features",
        cfg.lofK, cfg.lofRefPoints),
      () => {
        val Array(train, valid) = f.randomSplit(Array(0.8, 0.2), cfg.seed)
        pca = PcaRecon.fit(train, "features", cfg.pcaK)
        aeThr = valid.select(pca.scoreCol(col("features")).as("m"))
          .agg(expr("percentile_approx(m, 0.975, 10000)")).head().getDouble(0)
      })
    (ifModel, pca, aeThr, lofNov)
  }

  /** Fit all models on the events binding (seeded, deterministic). */
  def fit(spark: SparkSession, sfDir: String, cfg: Config = Config()): Fitted = {
    val (preproc, feats, profiles) = Features.preprocessedEventsWithProfiles(spark, sfDir)
    val (ifModel, pca, aeThr, lofNov) = fitModels(feats, "event_id", cfg)
    Fitted(preproc, ifModel, pca, aeThr, lofNov, profiles, cfg)
  }

  /** Score a raw events frame (batch OR streaming): requires the
    * events schema (`event_id, ts, user_id, event_type, value,
    * props`). Pure transform — native expressions only (the profile
    * lookups and the model kernels, no UDFs), no join and no
    * aggregation over the scored frame itself. */
  def scoreBatch(events: DataFrame, m: Fitted): DataFrame = {
    val feats = m.preproc.transform(
      Features.enrichEvents(Features.bindEvents(events), m.profiles))
    val (r1, r2, r3) = graft.Pipelines.eventRules(m.cfg.rules,
      col("amount"), col("channel"), col("props"), col("hour"))

    feats
      .withColumn("__if_raw", m.ifModel.decisionCol(col("features")))
      .withColumn("__ae_raw", m.pca.scoreCol(col("features")))
      .withColumn("__lof_raw", m.lofNovelty.scoreCol(col("features")))
      // worker normalization (python_scoring/app.py:188-196): inverse
      // sigmoid for iForest/LOF decisions, threshold clip for AE
      .withColumn("__if", Scoring.invSigmoid(col("__if_raw")))
      .withColumn("__lof_n", Scoring.invSigmoid(col("__lof_raw") + lit(1.0)))
      .withColumn("__ae", Scoring.normAe(col("__ae_raw"), lit(m.aeThreshold)))
      .transform(Scoring.fuseGateway(Scoring.ruleScore(r1, r2, r3),
        Scoring.deviation(col("amount"), col("cust_avg_amount")),
        lit(0.4) * col("__if") + lit(0.3) * col("__lof_n") + lit(0.3) * col("__ae"),
        col("amount"), m.cfg.bigAmount))
      .select(
        col("event_id").as("transaction_id"),
        round(col("__if"), 6).as("anomaly_score_iforest"),
        round(col("__lof_n"), 6).as("anomaly_score_lof"),
        round(col("__ae"), 6).as("anomaly_score_ae"),
        round(col("__dev"), 6).as("deviation_score"),
        round(col("__rule"), 6).as("rule_score"),
        round(col("__agg"), 6).as("aggregated_score"),
        Scoring.riskLevel(col("__agg")).as("risk_level"),
        lit("graft-0.1").as("model_version"))
  }

  /** Fit + score the whole table (the `ml_ensemble_score` query). */
  def scoreEvents(spark: SparkSession, sfDir: String,
                  cfg: Config = Config()): DataFrame = {
    val fitted = fit(spark, sfDir, cfg)
    scoreBatch(graft.Tables.events(spark, sfDir), fitted)
      .orderBy("transaction_id")
  }
}
